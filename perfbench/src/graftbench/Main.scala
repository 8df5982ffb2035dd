package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark process: one Spark driver, one closed-loop client.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --work DIR --cores C
  *
  * Prints `GRAFTBENCH_SPARK_READY` once the session is up, then one
  * `GRAFTBENCH_RAW {json}` line with the raw measurements; the Python
  * runner (perfbench/run.py) turns those into the reported metrics.
  */
object Main {
  /** Setup (generate + load) runs this many times; the report takes the median. */
  val SetupRounds = 3

  final case class Rec(kind: String, read: Boolean, t0Ns: Long, t1Ns: Long,
      t0Ms: Long, t1Ms: Long, ok: Boolean, fs: Array[Long])

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }

  def fsCounters(): Array[Long] = {
    val a = new Array[Long](4)
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.foreach { s =>
      a(0) += s.getReadOps + s.getLargeReadOps; a(1) += s.getWriteOps
      a(2) += s.getBytesRead; a(3) += s.getBytesWritten
    }
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = args("work")
    val cores = args("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val sc = spark.sparkContext
    println("GRAFTBENCH_SPARK_READY")
    System.out.flush()

    val ev = new SparkEvents
    sc.addSparkListener(ev)
    spark.listenerManager.register(ev)
    val tracer = new Tracer(trace)
    val ctx = new Ctx(spark, seed, work, tracer)
    val w: Workload = workload match {
      case "session_reuse" => new SessionReuse(ctx)
      case "table_rw" => new TableRw(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val loads = (1 to SetupRounds).map { i =>
      val t = System.nanoTime()
      w.setup(i)
      val s = (System.nanoTime() - t) / 1e9
      // the superseded round's files go before the kernel writes them back
      // to disk, which would otherwise land in the timed window
      if (i > 1) deleteTree(java.nio.file.Paths.get(ctx.roundDir(i - 1)))
      s
    }
    // warm-up: the JIT and Spark need tens of seconds of operations before
    // latencies stop falling; the first operation alone is the cold cost
    val tw = System.nanoTime()
    var warmFailed = 0
    var warmOps = 0
    var firstOp = 0.0
    while (warmOps < w.cycle || warmOps % w.cycle != 0 ||
        System.nanoTime() - tw < (w.warmupSeconds * 1e9).toLong) {
      val t = System.nanoTime()
      if (!scala.util.Try(w.next().run()()).getOrElse(false)) warmFailed += 1
      if (warmOps == 0) firstOp = (System.nanoTime() - t) / 1e9
      warmOps += 1
    }
    val warmup = (System.nanoTime() - tw) / 1e9
    val before = w.stats()
    org.apache.spark.GraftBenchBus.drain(sc)
    ev.clear()
    tracer.spans.clear()
    tracer.selfNs = 0L

    val recs = ArrayBuffer.empty[Rec]
    var busy = 0L
    var checkNs = 0L
    val budget = (seconds * 1e9).toLong
    val wallStart = System.nanoTime()
    while (busy < budget) {
      val op = w.next()
      tracer.beginOp(recs.length + 1)
      val f0 = fsCounters()
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = scala.util.Try(tracer.span("op")(op.run()))
      val t1 = System.nanoTime()
      val m1 = System.currentTimeMillis()
      val f1 = fsCounters()
      val c0 = System.nanoTime()
      val ok = res.flatMap(chk => scala.util.Try(chk())).getOrElse(false)
      checkNs += System.nanoTime() - c0
      res.failed.foreach(e => System.err.println(s"[graftbench] ${op.kind} failed: $e"))
      if (res.isSuccess && !ok) System.err.println(s"[graftbench] ${op.kind} returned a wrong answer")
      recs += Rec(op.kind, op.read, t0, t1, m0, m1, ok, Array.tabulate(4)(i => f1(i) - f0(i)))
      busy += t1 - t0
    }
    val wall = (System.nanoTime() - wallStart) / 1e9
    val finalOk = scala.util.Try(w.finalCheck()).getOrElse(false)
    org.apache.spark.GraftBenchBus.drain(sc)
    val after = w.stats()
    val st: Map[String, Double] = after.map { case (k, v) =>
      k -> (if (k == "base_rows" || k == "row_bytes") v else v - before.getOrElse(k, 0.0))
    }

    // base-table rows read by the scans of read operations
    val jobOp = Layers.jobToOp(ev, recs)
    val stageOp = Layers.stageToOp(ev, jobOp)
    val scanned = new Array[Long](recs.length)
    ev.tasks.asScala.foreach(t => stageOp.get(t.stage).foreach(i => scanned(i) += t.inRows))
    val pinnedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val spaceAmp = w match {
      case t: TableRw => t.spaceAmp()
      case _ => 0.0
    }
    val layers =
      if (trace) Layers.compute(recs.toSeq, ev, tracer, st, jobOp, stageOp, pinnedMb, spaceAmp)
      else Map.empty[String, Double]
    if (trace) tracer.dump(java.nio.file.Paths.get(s"$work/spans.jsonl"))

    def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
    def obj(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
    val ops = recs.zipWithIndex.map { case (r, i) =>
      s"""{"kind": "${r.kind}", "read": ${r.read}, "ms": ${num((r.t1Ns - r.t0Ns) / 1e6)}, "ok": ${r.ok}, "rows": ${scanned(i)}}""" }
      .mkString("[", ", ", "]")
    val diag = Map(
      "cores" -> cores.toDouble,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toDouble,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "warmup_failed" -> warmFailed.toDouble, "warmup_ops" -> warmOps.toDouble, "wall_s" -> wall, "check_s" -> checkNs / 1e9)
    println("GRAFTBENCH_RAW " +
      s"""{"workload": "$workload", "seed": $seed, "trace": $trace, "master": "local[$cores]", """ +
      s""""load_s": ${loads.map(num).mkString("[", ", ", "]")}, "warmup_s": ${num(warmup)}, "first_op_s": ${num(firstOp)}, """ +
      s""""busy_s": ${num(busy / 1e9)}, "final_ok": $finalOk, """ +
      s""""mix": ${obj(w.mix)}, """ +
      s""""pinned_mb": ${num(pinnedMb)}, "space_amp": ${num(spaceAmp)}, """ +
      s""""counters": ${obj(st)}, "layers": ${obj(layers)}, "diag": ${obj(diag)}, "ops": $ops}""")
    System.out.flush()
    spark.stop()
  }
}

/** Per-layer numbers of the traced run, from the spans, the Spark events
  * and the workload's counters.
  */
object Layers {
  import Main.Rec

  /** Each job belongs to the operation whose window holds its start. */
  def jobToOp(ev: SparkEvents, recs: ArrayBuffer[Rec]): Map[Int, Int] =
    ev.jobs.asScala.flatMap { j =>
      val i = recs.indexWhere(r => j.start >= r.t0Ms && j.start <= r.t1Ms)
      if (i >= 0) Some(j.id -> i) else None
    }.toMap

  def stageToOp(ev: SparkEvents, jobOp: Map[Int, Int]): Map[Int, Int] =
    ev.jobs.asScala.flatMap(j => jobOp.get(j.id).toSeq.flatMap(i => j.stages.map(_ -> i))).toMap

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def compute(recs: Seq[Rec], ev: SparkEvents, tracer: Tracer,
      st: Map[String, Double], jobOp: Map[Int, Int], stageOp: Map[Int, Int],
      pinnedMb: Double, spaceAmp: Double): Map[String, Double] = {
    val n = math.max(1, recs.length).toDouble
    val reads = recs.indices.filter(recs(_).read)
    val q = math.max(1, reads.length).toDouble
    val out = mutable.Map.empty[String, Double]
    def c(k: String) = st.getOrElse(k, 0.0)
    val spans = tracer.spans.toSeq
    def meanSpan(name: String): Double = {
      val xs = spans.filter(_.name == name)
      if (xs.isEmpty) 0.0 else xs.map(s => (s.endNs - s.startNs) / 1e6).sum / xs.length
    }

    // agent, plan, cube, exec, oracle
    out("agent.session_ms") = meanSpan("agent.runSession")
    val sq = math.max(1.0, c("queries"))
    out("agent.completions") = c("completions") / sq
    out("plan.decode_ms") = meanSpan("plan.decode")
    val lookups = c("cube.lookups")
    Seq("lookups", "equal_hits", "subset_hits", "misses").foreach(k => out(s"cube.$k") = c(s"cube.$k"))
    out("cube.reuse_ratio") = if (lookups == 0) 0.0 else (c("cube.equal_hits") + c("cube.subset_hits")) / lookups
    out("cube.delta_ops") = c("cube.delta_ops") / sq
    out("cube.nodes") = if (c("sessions") == 0) 0.0 else c("cube.nodes_total") / c("sessions")
    Seq("pattern_based", "enumerable", "direct_compare", "compiled", "per_row")
      .foreach(k => out(s"exec.strategy.$k") = c(s"exec.strategy.$k"))
    out("oracle.calls") = c("oracle.calls") / q
    out("oracle.judged_chars") = c("oracle.judged_chars") / q
    out("oracle.busy_ms") = c("oracle.busy_ns") / 1e6 / q
    out("oracle.calls_per_base_row") =
      if (c("base_rows") == 0) 0.0 else out("oracle.calls") / c("base_rows")

    // spark
    val jobs = ev.jobs.asScala.toSeq.filter(j => jobOp.contains(j.id))
    val tasks = ev.tasks.asScala.toSeq.filter(t => stageOp.contains(t.stage))
    out("exec.stats_jobs") = jobs.count(_.callSite.contains("ColumnStats")).toDouble
    out("spark.jobs") = jobs.length / n
    out("spark.stages") = tasks.map(_.stage).distinct.length / n
    out("spark.tasks") = tasks.length / n
    out("spark.executor_run_ms") = tasks.map(_.runMs).sum / n
    out("spark.executor_cpu_ms") = tasks.map(_.cpuNs).sum / 1e6 / n
    out("spark.gc_ms") = tasks.map(_.gcMs).sum / n
    out("spark.scheduler_delay_ms") = tasks.map(t => math.max(0L, (t.finish - t.launch) -
      t.runMs - t.deserMs - t.resultSerMs - t.gettingResultMs)).sum / n
    out("spark.shuffle_bytes") = tasks.map(_.shuffleWriteBytes).sum / n
    out("spark.input_rows") = tasks.map(_.inRows).sum / n
    out("spark.input_bytes") = tasks.map(_.inBytes).sum / n
    val acts = ev.actions.asScala.toSeq.filter(a => recs.exists(r => a.startMs >= r.t0Ms && a.startMs <= r.t1Ms))
    out("spark.plan_ms") = acts.map(_.planMs).sum / n
    out("spark.action_ms") = acts.map(_.durNs).sum / 1e6 / n
    out("spark.pinned_mb") = pinnedMb
    val byOp = jobs.groupBy(j => jobOp(j.id))
    var prepare = 0.0; var residual = 0.0
    recs.indices.foreach { i =>
      val r = recs(i)
      val js = byOp.getOrElse(i, Nil)
      val wallMs = (r.t1Ns - r.t0Ns) / 1e6
      val prep = if (js.isEmpty) wallMs else math.min(wallMs, (js.map(_.start).min - r.t0Ms).toDouble)
      val busyJobs = union(js.map(j => (j.start, if (j.end < 0) r.t1Ms else j.end)))
      if (r.read) prepare += prep
      residual += math.max(0.0, wallMs - busyJobs - prep)
    }
    out("exec.prepare_ms") = prepare / q
    out("spark.driver_residual_ms") = residual / n

    // sources and streaming
    Seq("upsert", "upsert_dv", "delete", "compact", "vacuum", "lookup", "read_where", "time_travel")
      .foreach(k => out(s"sources.${k}_ms") = meanSpan(s"sources.$k"))
    out("sources.retries") = c("sources.retries")
    out("sources.buckets_touched_frac") =
      if (c("sources.merges") == 0) 0.0 else c("sources.buckets_touched") / c("sources.merges")
    Seq("read_ops", "write_ops", "bytes_read", "bytes_written").zipWithIndex.foreach { case (k, i) =>
      out(s"sources.fs_$k") = recs.map(_.fs(i)).sum / n
    }
    val logical = (c("sources.rows_written") + c("streaming.rows_in")) * c("row_bytes")
    out("sources.write_amp") = if (logical == 0) 0.0
      else recs.filter(!_.read).map(_.fs(3)).sum / logical
    out("sources.skip_ratio") =
      if (c("sources.files_total") == 0) 0.0 else 1.0 - c("sources.files_planned") / c("sources.files_total")
    out("sources.space_amp") = spaceAmp
    val trig = c("streaming.triggers")
    out("streaming.trigger_ms") = meanSpan("streaming.trigger")
    Seq("latest_offset" -> "latestOffset", "query_planning" -> "queryPlanning",
      "add_batch" -> "addBatch", "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets")
      .foreach { case (k, p) => out(s"streaming.${k}_ms") = if (trig == 0) 0.0 else c(s"streaming.progress.$p") / trig }
    out("streaming.rows_per_batch") = if (trig == 0) 0.0 else c("streaming.rows_in") / trig
    val trigRecs = recs.filter(_.kind == "trigger")
    out("streaming.fs_write_ops") =
      if (trigRecs.isEmpty) 0.0 else trigRecs.map(_.fs(1)).sum.toDouble / trigRecs.length

    // self time by layer: each span's duration minus what its children
    // (benchmark spans and the Spark jobs that started inside it) cover
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val spansByOp = spans.groupBy(_.op)
    recs.indices.foreach { i =>
      val r = recs(i)
      val ss = spansByOp.getOrElse(i + 1, Nil)
      val toNs = (ms: Long) => r.t0Ns + (ms - r.t0Ms) * 1000000L
      val jobIv = byOp.getOrElse(i, Nil).map(j => (toNs(j.start), toNs(if (j.end < 0) r.t1Ms else j.end)))
      def inner(t: Long): Int = {
        val c = ss.filter(s => s.startNs <= t && t <= s.endNs)
        if (c.isEmpty) 0 else c.maxBy(_.startNs).id
      }
      val kids = mutable.Map.empty[Int, ArrayBuffer[(Long, Long)]]
      ss.foreach(s => kids.getOrElseUpdate(s.parent, ArrayBuffer.empty) += ((s.startNs, s.endNs)))
      jobIv.foreach { iv => kids.getOrElseUpdate(inner(iv._1), ArrayBuffer.empty) += iv }
      ss.foreach { s =>
        val cov = union(kids.getOrElse(s.id, ArrayBuffer.empty).toSeq.map { case (a, b) =>
          (math.max(a, s.startNs), math.min(b, s.endNs)) }.filter(x => x._2 > x._1))
        val layer = if (s.name == "op") "unattributed" else s.name.takeWhile(_ != '.')
        self(layer) += (s.endNs - s.startNs - cov) / 1e6
      }
      self("spark_jobs") += union(jobIv) / 1e6
    }
    Seq("agent", "plan", "exec", "sources", "streaming", "spark", "spark_jobs", "unattributed")
      .foreach(l => out(s"selftime.${l}_ms") = self(l) / n)
    out("trace.wall_ms") = recs.map(r => (r.t1Ns - r.t0Ns) / 1e6).sum / n
    out("trace.spans") = spans.length.toDouble
    out("trace.tracer_ms") = tracer.selfNs / 1e6 / n
    out.toMap
  }
}
