package org.apache.spark

/** Test access to the listener bus drain, which is package-private:
  * a spec that counts listener events reads them only after every
  * event posted so far has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
