package graft.plans

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.{CommandResultExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Physical-plan check for generator-input re-evaluation.
  *
  * A `Generate` evaluates its generator's input once per input row. When
  * that input is a computed expression (not a column) and an operator
  * above the `Generate` holds a semantically equal subexpression — the
  * usual case is `size(e)` selected next to `explode(e)` — that operator
  * evaluates `e` again for every GENERATED row: per-row cost times the
  * fan-out, tokens² for a tokenizer feeding an explode. The cure is to
  * materialize `e` as a column in a Project below the `Generate` (see
  * [[graft.operators.InvertedIndex.postings]]).
  *
  * The walk looks through AQE (`AdaptiveSparkPlanExec`, query stages),
  * whole-stage-codegen wrappers, command results and subqueries, so it
  * applies to any executed plan: `ExplainQ --audit` runs it over every
  * registered query, and the test session runs it on every plan a spec
  * executes. */
object GeneratorLint extends AdaptiveSparkPlanHelper {

  /** One line per (generator input, re-evaluating operator) pair; empty
    * for a clean plan. */
  def findings(plan: SparkPlan): Seq[String] = {
    val out = Seq.newBuilder[String]
    def walk(p: SparkPlan, above: List[SparkPlan]): Unit = {
      p match {
        case g: GenerateExec =>
          for {
            in <- g.generator.children
            if !in.isInstanceOf[Attribute] && !in.foldable
            a <- above.find(_.expressions.exists(_.exists(_.semanticEquals(in))))
          } out += s"${g.generator.prettyName}($in) is evaluated again " +
            s"per generated row by ${a.simpleString(25)}"
        case _ =>
      }
      p.subqueries.foreach(walk(_, Nil))
      inner(p).foreach(walk(_, p :: above))
    }
    walk(plan, Nil)
    out.result().distinct
  }

  private def inner(p: SparkPlan): Seq[SparkPlan] = p match {
    case c: CommandResultExec => Seq(c.commandPhysicalPlan)
    case _ => allChildren(p)
  }
}
