package graft

import org.apache.spark.sql.functions.col

/** Pins the [[Tables]] schema-memo invariants: the memo may never
  * serve a stale schema — its key is the table's data-file manifest
  * plus the session's schema-inference confs, so a corpus rewritten in
  * place re-infers and a session that reads parquet differently infers
  * for itself — and the memoized read must be plan-identical to plain
  * inference. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("load memo serves the inferred schema and re-infers after a rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val first = Tables.load(spark, dir, "t")
    first.schema.fieldNames.toSeq shouldBe Seq("id", "s")
    first.orderBy(col("id")).collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L)
    // memoized second read: same schema, same rows
    Tables.load(spark, dir, "t").schema shouldBe first.schema

    // rewrite IN PLACE with a different schema: the (mtime, size) key
    // must invalidate — a stale memo would drop the new column
    Thread.sleep(1100) // parquet dir mtime granularity can be 1s
    Seq((3L, "c", 9.5)).toDF("id", "s", "extra")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val second = Tables.load(spark, dir, "t")
    second.schema.fieldNames.toSeq shouldBe Seq("id", "s", "extra")
    second.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq shouldBe
      Seq((3L, 9.5))
  }

  test("a part file replaced in place with a widened schema re-infers, whatever the dir mtime says") {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec-part").toString
    val table = new java.io.File(s"$dir/t.parquet")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(table.getPath)
    Tables.load(spark, dir, "t").schema.fieldNames.toSeq shouldBe Seq("id", "s")
    val part = table.listFiles().find(_.getName.startsWith("part-")).get
    val dirMtime = table.lastModified
    // the widened file replaces the old one under the same name (its
    // stale checksum goes), and the directory's mtime is put back
    val widened = java.nio.file.Files.createTempDirectory("tables-spec-w").toString
    Seq((3L, "c", 9.5)).toDF("id", "s", "extra")
      .coalesce(1).write.mode("overwrite").parquet(widened)
    val src = new java.io.File(widened).listFiles().find(_.getName.startsWith("part-")).get
    new java.io.File(table, s".${part.getName}.crc").delete()
    java.nio.file.Files.copy(src.toPath, part.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    table.setLastModified(dirMtime) shouldBe true
    val got = Tables.load(spark, dir, "t")
    got.schema.fieldNames.toSeq shouldBe Seq("id", "s", "extra")
    got.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq shouldBe Seq((3L, 9.5))
  }

  test("a session with a different nanosAsLong infers for itself") {
    // a TIMESTAMP(NANOS) column: this session reads it as a long, a
    // session without nanosAsLong cannot read it at all, and must say
    // so instead of planning over the other session's schema
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("tables-spec-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/t.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally w.close()
    Tables.load(spark, dir, "t").schema("ts").dataType.typeName shouldBe "long"
    val other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    intercept[Exception] {
      Tables.load(other, dir, "t").schema
    }
    Tables.load(spark, dir, "t").collect().map(_.getLong(0)).toSeq shouldBe
      Seq(1700000000123456789L)
  }

  test("memoized events load keeps the ns->us ts conversion") {
    // the driver corpus's TIMESTAMP(NANOS) column reads as LongType
    // under nanosAsLong and normalizeEventTs converts — twice through
    // the memo must yield the identical schema and timestamps
    val a = Tables.events(spark, SparkSpec.TinySf)
    val b = Tables.events(spark, SparkSpec.TinySf)
    a.schema shouldBe b.schema
    a.schema("ts").dataType.typeName shouldBe "timestamp"
    a.select(col("ts")).limit(3).collect().toSeq shouldBe
      b.select(col("ts")).limit(3).collect().toSeq
  }
}
