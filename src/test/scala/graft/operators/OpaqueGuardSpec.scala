package graft.operators

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import graft.SparkSpec

/** p21 wraps its HTML extraction in `Opaque` so that the h_bits/n_words
  * filter, computed from that extraction through `CharEntropy`, runs on
  * the keep-join's survivors only. Without `Opaque` Catalyst pushes the
  * filter, and with it the extraction, below the join onto every document.
  */
class OpaqueGuardSpec extends SparkSpec {

  /** Filters on h_bits or on a CharEntropy call. */
  private def entropyFilters(p: LogicalPlan): Seq[Filter] = p.collect {
    case f: Filter if f.condition.exists {
      case a: Attribute => a.name == "h_bits"
      case s: StaticInvoke => s.staticObject == graft.functions.CharEntropy.getClass
      case _ => false
    } => f
  }

  test("p21's h_bits/n_words filter stays above the keep-join") {
    val plan = graft.SparkEntry.benchQueries("p21_web_pipeline")(spark, sfDir)
      .queryExecution.optimizedPlan
    val filters = entropyFilters(plan)
    assert(filters.nonEmpty, plan.toString)
    assert(filters.forall(_.find(_.isInstanceOf[Join]).isDefined),
      s"entropy filter not above the join:\n$plan")
    val joins = plan.collect { case j: Join => j }
    assert(joins.nonEmpty && joins.forall(j => entropyFilters(j).isEmpty),
      s"entropy filter pushed below the join:\n$plan")
  }
}
