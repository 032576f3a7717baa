package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
import graft.plans.{AsOfJoinNode, NativeAsof}

/** Column pruning and predicate placement around the native as-of node:
  * `NativeAsof.asof` hands the node only the right columns the merge
  * reads, and Catalyst's own column pruning narrows the left child under
  * a Project; a predicate on the node's `asof_*` output depends on the
  * join and stays above it. */
class AsofRulesSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def left() = df("client STRING, ts TIMESTAMP, id INT, extra STRING", Seq(
    Row("c1", ts("2024-01-01 00:00:05"), 1, "x"),
    Row("c1", ts("2024-01-01 00:00:20"), 2, "y"),
    Row("c2", ts("2024-01-01 00:00:30"), 3, "z")))

  private def right() = df("client STRING, ts TIMESTAMP, v STRING, dead INT", Seq(
    Row("c1", ts("2024-01-01 00:00:03"), "a", 0),
    Row("c1", ts("2024-01-01 00:00:19"), "b", 0),
    Row("c2", ts("2024-01-01 00:00:09"), "late", 0)))

  private def asofNode(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    plan.collect { case j: AsOfJoinNode => j } match {
      case Seq(j) => j
      case other => fail(s"expected exactly one AsOfJoinNode, got ${other.size} in\n$plan")
    }

  test("join-dependent predicate on asof_* output stays above the node") {
    val q = NativeAsof.asof(left(), right(), "client", "ts", Seq("v"))
      .where("asof_v = 'b'")
    val opt = q.queryExecution.optimizedPlan
    val j = asofNode(opt)
    assert(j.left.collect { case f: LFilter => f }.isEmpty &&
      j.right.collect { case f: LFilter => f }.isEmpty,
      s"asof_* predicate must not be pushed:\n$opt")
    assert(q.select("id").collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("unused right columns are pruned below the node") {
    val q = NativeAsof.asof(left(), right(), "client", "ts", Seq("v"))
    val j = asofNode(q.queryExecution.optimizedPlan)
    assert(j.right.output.map(_.name).toSet == Set("client", "ts", "v"),
      s"right child not pruned to (key, ts, payload): ${j.right.output}")
  }

  test("a narrow select above the node prunes unused left columns") {
    val q = NativeAsof.asof(left(), right(), "client", "ts", Seq("v"))
      .select("id", "asof_v")
    val j = asofNode(q.queryExecution.optimizedPlan)
    // extra is dead; client/ts survive because the merge evaluates them
    assert(!j.left.output.map(_.name).contains("extra"),
      s"left child not narrowed: ${j.left.output}")
    assert(q.orderBy("id").collect().map(r => r.getInt(0) -> Option(r.getString(1)))
      .toSeq == Seq(1 -> Some("a"), 2 -> Some("b"), 3 -> Some("late")))
  }
}
