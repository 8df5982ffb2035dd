package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

import graft.oracle.{DeterministicOracle, SemanticOracle, TagRule}

/** One closed-loop operation: its kind, whether it is a read, and the
  * engine call. The call returns a check that runs after the timed window
  * of the operation closes.
  */
final case class Op(kind: String, read: Boolean, run: () => (() => Boolean))

/** Shared run context of a workload. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val tracer: Tracer) {
  /** The directory set-up round `round` writes its data under. */
  def roundDir(round: Int): String = s"$work/round$round"
}

trait Workload {
  /** Generate and load every input from the seed, from scratch. */
  def setup(round: Int): Unit
  /** Operations in one cycle of the workload's fixed operation sequence;
    * the warm-up ends on a cycle boundary, so every timed window starts at
    * the same point of the sequence.
    */
  def cycle: Int
  /** The untimed warm-up runs at least this long, then to a cycle boundary. */
  def warmupSeconds: Double
  def next(): Op
  /** End-of-run checks (the final table against the model); counted as
    * one more attempted operation.
    */
  def finalCheck(): Boolean = true
  /** Workload-level counters for the report. */
  def stats(): Map[String, Double]
  /** Operation kinds and their weights (counts) in one cycle. */
  def mix: Map[String, Double]
}

/** A [[SemanticOracle]] wrapper that times every judgment into
  * accumulators, for the traced run's `oracle.busy_ms`. Compile hooks
  * forward, so the policy above it decides what runs out of band.
  */
final class TimedOracle(inner: SemanticOracle, busyNs: LongAccumulator)
    extends SemanticOracle {
  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally busyNs.add(System.nanoTime() - t0)
  }
  def judge(text: String, condition: String): Boolean = timed(inner.judge(text, condition))
  def extract(text: String, desc: String): Option[String] = timed(inner.extract(text, desc))
  override def extractAll(text: String, desc: String): Seq[String] = timed(inner.extractAll(text, desc))
  def classify(text: String, vocab: Seq[TagRule]): Option[String] = timed(inner.classify(text, vocab))
  def summarize(values: Seq[String], desc: String): String = timed(inner.summarize(values, desc))
  def score(text: String, query: String): Double = timed(inner.score(text, query))
  override def duel(a: String, b: String, query: String): Boolean = timed(inner.duel(a, b, query))
  override def compileJudge(c: String) = inner.compileJudge(c)
  override def compileExtract(d: String) = inner.compileExtract(d)
  override def compileExtractAll(d: String) = inner.compileExtractAll(d)
  override def compileClassify(v: Seq[TagRule]) = inner.compileClassify(v)
  override def compileScore(q: String) = inner.compileScore(q)
}

object Workloads {
  def sortedIds(rows: Array[Row]): Vector[Long] = rows.map(_.getLong(0)).sorted.toVector

  def canonRows(rows: Array[Row]): Vector[String] =
    rows.map(r => Expect.canon(r.toSeq)).toVector

  /** Writes the corpus as parquet and reads it back: the session and
    * ad-hoc workloads scan it from storage, as the engine's tables are.
    */
  def loadCorpus(ctx: Ctx, docs: Array[Gen.Doc], round: Int): DataFrame = {
    val spark = ctx.spark
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = docs.toSeq.map(d => Row(d.id, d.text, d.lang, d.source, d.nChars))
    val path = s"${ctx.roundDir(round)}/corpus"
    spark.createDataFrame(rows.asJava, schema).repartition(4).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}

// ====================================================================
// session_reuse: progressive four-query sessions through OlapAgent
// ====================================================================

final class SessionReuse(ctx: Ctx) extends Workload {
  import Workloads._
  private val spark = ctx.spark
  private val sc = spark.sparkContext
  val calls: LongAccumulator = sc.longAccumulator("bench.oracle.calls")
  val chars: LongAccumulator = sc.longAccumulator("bench.oracle.chars")
  val busyNs: LongAccumulator = sc.longAccumulator("bench.oracle.busy_ns")
  private val inner: SemanticOracle =
    if (ctx.tracer.enabled) new TimedOracle(DeterministicOracle.default, busyNs)
    else DeterministicOracle.default
  /** Compile hidden: every judgment is an out-of-band, billed call. */
  val oracle = new graft.exec.MeteredOracle(inner, calls, forwardCompile = false, chars = chars)

  private var base: DataFrame = _
  private var frame: Expect.Frame = _
  private var langs: Seq[String] = Nil
  private var sessions: Iterator[Vector[Gen.Query]] = Iterator.empty
  private var pending: List[Gen.Query] = Nil
  private var catalog: graft.cube.CubeCatalog = _
  private var sid = 0
  /** The one-shot plan that follows each session. */
  private val adhoc = new AdhocPlans(ctx)
  private var adhocDone = false
  private var qn = 0

  // workload counters (outside the timed calls)
  var queries = 0L; var completions = 0L
  var lookups = 0L; var equalHits = 0L; var subsetHits = 0L; var misses = 0L
  var deltaOps = 0L; var nodesTotal = 0L; var sessionsDone = 0L
  val strategy = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def setup(round: Int): Unit = {
    val words = Gen.vocab(ctx.seed)
    val docs = Gen.corpus(ctx.seed, words)
    base = loadCorpus(ctx, docs, round)
    frame = Expect.docsFrame(docs)
    langs = docs.map(_.lang).distinct.sorted.toSeq
    sessions = Gen.sessions(ctx.seed, words)
    pending = Nil
    catalog = null
    adhoc.reset(base, frame, words)
  }

  def warmupSeconds: Double = 15.0
  /** Five sessions of four queries, each followed by one ad-hoc plan. */
  def cycle: Int = 5 * Gen.Templates.length
  def mix: Map[String, Double] =
    (for (t <- Gen.Templates.indices; q <- 1 to 4) yield s"session_t${t}q$q" -> 1.0).toMap ++
      Gen.AdhocShapes.map(s => s"adhoc_$s" -> Gen.Templates.length.toDouble / Gen.AdhocShapes.length)

  private def closeSession(): Unit =
    if (catalog != null) {
      nodesTotal += catalog.all.length; sessionsDone += 1; expectedMemo.clear()
    }

  private def atoms(q: Gen.Query): Seq[graft.plan.LogicalOp] =
    q.steps.map(s => graft.plan.LogicalOp.SemFilter(s.field.toSeq, s.action))

  /** The scripted completion function: answers each agent prompt from the
    * generated query, in the JSON dialect the agent parses.
    */
  private def script(q: Gen.Query): String => String = {
    var react = 0
    prompt => {
      completions += 1
      if (prompt.startsWith("You are a query decomposition")) {
        val analysis = if (q.analysis) "average length per language" else ""
        s"""{"filter_query": "${q.steps.map(_.action).mkString(" and ")}", "analysis_query": "$analysis"}"""
      } else if (prompt.startsWith("You are a query planner. Break")) {
        val ops = q.steps.zipWithIndex.map { case (s, i) => s.json(i + 1) }.mkString("[", ", ", "]")
        val logic = ("\"AND\"" +: q.steps.indices.map(i => (i + 1).toString)).mkString("[", ", ", "]")
        s"""{"operations": $ops, "logic": $logic}"""
      } else if (prompt.startsWith("You refine a dimensional")) {
        react += 1
        if (react == 1)
          """{"thought": "group by language", "action": {"type": "roll_up", "params": {"dimension": "lang", "target_granularity": "lang_group", "analyze_dimension": [{"dimension": "n_chars", "reduce_target": "average length"}]}}}"""
        else """{"thought": "done", "action": null}"""
      } else if (prompt.startsWith("Does the query contain a top-k")) {
        q.topkQuery match {
          case Some(t) => s"""{"has_topk": true, "k": ${q.topk}, "kind": "sem", "column": "", "order": "desc", "query": "$t"}"""
          case None => """{"has_topk": false}"""
        }
      } else sys.error(s"unscripted prompt: ${prompt.take(60)}")
    }
  }

  /** The independent predicate of one step. A `lang` dice keeps the
    * values the condition names (the enumerable strategy's pick over the
    * column's distinct values), compared whole.
    */
  private def pred(s: Gen.Step): Expect.Pred = {
    import Expect._
    (s.agent, s.field) match {
      case ("slice", _) => Sem(Nil, s.action)
      case ("dice", Some("lang")) =>
        val toks = tokens(s.action).toSet
        Values("lang", langs.filter(v => toks.contains(v.toLowerCase) || judge(v, s.action)).toSet)
      case ("dice", Some(f)) if s.action.trim.matches("(>=|<=|>|<)\\s*\\d+") =>
        val m = "(>=|<=|>|<)\\s*(\\d+)".r.findFirstMatchIn(s.action).get
        DigitRun(f, m.group(1), m.group(2).toDouble)
      case ("dice", Some(f)) => Sem(Seq(f), s.action)
      case other => sys.error(s"bad step $other")
    }
  }

  /** Expected rows per step prefix of the current session: each query
    * filters its predecessor's answer by its one new step.
    */
  private val expectedMemo = mutable.Map.empty[Vector[Gen.Step], Vector[Array[Any]]]

  private def expectedRows(steps: Vector[Gen.Step]): Vector[Array[Any]] =
    if (steps.isEmpty) frame.rows
    else expectedMemo.getOrElseUpdate(steps,
      expectedRows(steps.init).filter(Expect.eval(frame, pred(steps.last))))

  private def check(q: Gen.Query, rows: Array[Row]): Boolean = {
    val exp = expectedRows(q.steps)
    if (!q.analysis) sortedIds(rows) == exp.map(_(0).asInstanceOf[Long]).sorted
    else {
      val f = Expect.Frame(frame.cols, exp)
      val li = f.idx("lang"); val ni = f.idx("n_chars")
      val summary = exp.groupBy(_(li)).toVector.map { case (l, rs) =>
        val xs = rs.map(_(ni).asInstanceOf[Long])
        Array[Any](l, xs.size.toLong, xs.sum.toDouble / xs.size)
      }
      val q4 = q.topkQuery.get
      val scored = summary.map(r => Expect.canon(r.toSeq) -> Expect.score(r.mkString(" "), q4)).toMap
      val want = scored.values.toSeq.sorted(Ordering[Double].reverse).take(q.topk)
      val got = rows.map(r => (Expect.canon(r.toSeq.take(3)), r.getDouble(3)))
      got.length == want.length &&
        got.forall { case (k, s) => scored.get(k).contains(s) } &&
        got.map(_._2).sorted(Ordering[Double].reverse).toSeq == want
    }
  }

  def next(): Op = {
    if (pending.isEmpty) {
      if (catalog != null && !adhocDone) { adhocDone = true; return adhoc.next() }
      adhocDone = false
      closeSession()
      catalog = new graft.cube.CubeCatalog(base, oracle)
      pending = sessions.next().toList
      sid += 1; qn = 0
    }
    val q = pending.head
    pending = pending.tail
    qn += 1
    val history = if (qn == 1) "" else s"s$sid q${qn - 1}"
    val text = s"s$sid q$qn"
    // catalog lookup as the agent will make it, classified from outside
    val ops = atoms(q)
    val key = graft.cube.PredicateAtoms.atoms(ops)
    lookups += 1
    if (catalog.all.exists(_.predicates == key)) equalHits += 1
    else {
      val cached = catalog.bestBaseImplied(ops)
      if (cached.id != 0) {
        subsetHits += 1
        deltaOps += ops.count(o => !cached.predicates.contains(graft.cube.PredicateAtoms.atom(o)))
      } else { misses += 1; deltaOps += ops.length }
    }
    val cat = catalog
    Op(s"session_${q.kind}", read = true, () => {
      queries += 1
      val agent = new graft.agent.OlapAgent(script(q), oracle)
      val df = ctx.tracer.span("agent.runSession") { agent.runSession(cat, text, history) }
      val rows = ctx.tracer.span("spark.action") {
        if (q.analysis) df.collect() else df.select("doc_id").collect()
      }
      () => {
        // after the operation, so its statistics memo hits are its own
        q.steps.foreach { s =>
          val name = s.field match {
            case Some(f) if s.agent == "dice" =>
              graft.exec.Dice.choose(base, f, s.action) match {
                case graft.exec.Dice.SemFallback => "per_row"
                case c => c.name
              }
            case _ => "per_row"
          }
          strategy(name) += 1
        }
        check(q, rows)
      }
    })
  }

  def stats(): Map[String, Double] = {
    val own = Map("queries" -> queries.toDouble, "completions" -> completions.toDouble,
      "cube.lookups" -> lookups.toDouble, "cube.equal_hits" -> equalHits.toDouble,
      "cube.subset_hits" -> subsetHits.toDouble, "cube.misses" -> misses.toDouble,
      "cube.delta_ops" -> deltaOps.toDouble,
      "cube.nodes_total" -> nodesTotal.toDouble, "sessions" -> sessionsDone.toDouble,
      "oracle.calls" -> calls.value.toDouble, "oracle.judged_chars" -> chars.value.toDouble,
      "oracle.busy_ns" -> busyNs.value.toDouble, "base_rows" -> frame.rows.length.toDouble) ++
      strategy.map { case (k, v) => s"exec.strategy.$k" -> v.toDouble }
    val plans = adhoc.stats()
    own ++ plans.map { case (k, v) => k -> (v + own.getOrElse(k, 0.0)) }
  }
}
