package graftbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.util.LongAccumulator

import graft.exec.{Cascade, Policied, Policy}
import graft.oracle.{DeterministicOracle, SemanticOracle}
import graft.plan.PlanJson

/** One-shot ad-hoc plans, run between the sessions of `session_reuse`:
  * plan JSON decoded by `PlanJson.decodePlan` and run under the MinCost
  * policy. No two plans share a predicate, so nothing is reused, and the
  * deterministic oracle compiles to Catalyst, so out-of-band oracle calls
  * are near zero (sem_reduce summaries only).
  */
final class AdhocPlans(ctx: Ctx) {
  private val sc = ctx.spark.sparkContext
  val busyNs: LongAccumulator = sc.longAccumulator("bench.adhoc.busy_ns")
  private val oracle: SemanticOracle =
    if (ctx.tracer.enabled) new TimedOracle(DeterministicOracle.default, busyNs)
    else DeterministicOracle.default

  private var base: DataFrame = _
  private var frame: Expect.Frame = _
  private var plans: Iterator[Gen.Adhoc] = Iterator.empty

  var queries = 0L; var oracleCalls = 0L; var judgedChars = 0L
  val strategy = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def reset(corpus: DataFrame, expected: Expect.Frame, words: Vector[String]): Unit = {
    base = corpus
    frame = expected
    plans = Gen.adhocPlans(ctx.seed, words)
  }

  def next(): Op = {
    val a = plans.next()
    Op(s"adhoc_${a.shape}", read = true, () => {
      queries += 1
      val (tree, plan) = ctx.tracer.span("plan.decode") {
        val t = if (a.treeOps.isEmpty) None
          else Some((PlanJson.decodePlan(a.treeOps), PlanJson.decodeLogic(a.treeLogic)))
        (t, PlanJson.decodePlan(a.plan))
      }
      val input = tree match {
        case None => base
        case Some((ops, logic)) => ctx.tracer.span("exec.cascade") {
          Cascade.filter(base, ops.zipWithIndex.map { case (o, i) => (i + 1, o) },
            Some(logic), oracle)
        }
      }
      val (out, report) = ctx.tracer.span("exec.policied_run") {
        Policied.run(input, plan, oracle, Policy.MinCost, tiebreak = Seq("doc_id"))
      }
      val rows = ctx.tracer.span("spark.action") { out.collect() }
      oracleCalls += report.oracleCalls
      judgedChars += report.judgedChars
      report.ops.foreach { o =>
        val k = if (o.strategy.endsWith("per_row")) "per_row"
          else if (o.strategy.endsWith("compiled")) "compiled" else o.strategy
        strategy(k) += 1
      }
      () => {
        val exp = a.expected(frame).rows.map(r => Expect.canon(r.toSeq))
        val got = Workloads.canonRows(rows)
        if (a.ordered) got == exp else got.sorted == exp.sorted
      }
    })
  }

  def stats(): Map[String, Double] =
    Map("plans" -> queries.toDouble, "oracle.calls" -> oracleCalls.toDouble,
      "oracle.judged_chars" -> judgedChars.toDouble, "oracle.busy_ns" -> busyNs.value.toDouble) ++
      strategy.map { case (k, v) => s"exec.strategy.$k" -> v.toDouble }
}
