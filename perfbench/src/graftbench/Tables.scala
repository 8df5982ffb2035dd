package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{Merge, Skipping}

/** The in-memory key -> row model of a keyed table, with an
  * order-independent digest (row count, XOR and low-32-bit sum of each
  * row's xxhash64) kept incrementally, and one digest per committed
  * version for time-travel checks.
  */
final class TableModel {
  private var v = new Array[Long](1 << 18)
  private var ts = new Array[Long](1 << 18)
  private var alive = new Array[Boolean](1 << 18)
  var maxId = -1L
  var cnt = 0L; var xor = 0L; var sum32 = 0L
  val versions = mutable.HashMap.empty[Long, (Long, Long, Long)]

  private def ensure(id: Long): Unit = if (id >= v.length) {
    val n = math.max(v.length * 2, (id + 1).toInt)
    v = java.util.Arrays.copyOf(v, n); ts = java.util.Arrays.copyOf(ts, n)
    alive = java.util.Arrays.copyOf(alive, n)
  }

  def isAlive(id: Long): Boolean = id <= maxId && alive(id.toInt)
  def row(id: Long): Option[Gen.KRow] =
    if (isAlive(id)) Some(Gen.KRow(id, v(id.toInt), ts(id.toInt))) else None

  private def add(h: Long, sign: Int): Unit = {
    cnt += sign; xor ^= h; sum32 += sign * (h & 0xffffffffL)
  }

  def put(r: Gen.KRow): Unit = {
    ensure(r.id)
    row(r.id).foreach(o => add(TableModel.hash(o), -1))
    v(r.id.toInt) = r.v; ts(r.id.toInt) = r.ts; alive(r.id.toInt) = true
    maxId = math.max(maxId, r.id)
    add(TableModel.hash(r), 1)
  }

  def delete(id: Long): Unit = row(id).foreach { o =>
    add(TableModel.hash(o), -1); alive(id.toInt) = false
  }

  def digest: (Long, Long, Long) = (cnt, xor, sum32)
  def commit(version: Long): Unit = versions(version) = digest

  /** Digest of the live rows whose `ts` is at least `min`. */
  def digestTsAtLeast(min: Long): (Long, Long, Long) = {
    var c = 0L; var x = 0L; var s = 0L
    var i = 0
    while (i <= maxId) {
      if (alive(i) && ts(i) >= min) {
        val h = TableModel.hash(Gen.KRow(i, v(i), ts(i)))
        c += 1; x ^= h; s += h & 0xffffffffL
      }
      i += 1
    }
    (c, x, s)
  }
}

object TableModel {
  val schema: StructType = StructType(Seq(StructField("id", LongType),
    StructField("v", LongType), StructField("ts", LongType),
    StructField("cat", StringType), StructField("payload", StringType)))

  /** Spark's xxhash64(id, v, ts, cat, payload) with its seed 42. */
  def hash(r: Gen.KRow): Long = {
    var h = 42L
    h = XxHash64Function.hash(r.id, LongType, h)
    h = XxHash64Function.hash(r.v, LongType, h)
    h = XxHash64Function.hash(r.ts, LongType, h)
    h = XxHash64Function.hash(UTF8String.fromString(r.cat), StringType, h)
    XxHash64Function.hash(UTF8String.fromString(r.payload), StringType, h)
  }

  /** Initial value of key `id`: xxhash64(id, seed) masked to 24 bits, the
    * same on the driver (for the model) and in Spark (for the table).
    */
  def initialV(id: Long, seed: Long): Long =
    XxHash64Function.hash(seed, LongType, XxHash64Function.hash(id, LongType, 42L)) & 0xffffffL

  /** The initial table generated inside Spark, rows equal to
    * `KRow(id, initialV(id, seed), 0)` for id in [0, n).
    */
  def initialFrame(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val v = xxhash64(col("id"), lit(seed)).bitwiseAND(lit(0xffffffL))
    spark.range(n).select(col("id"), v.as("v"), lit(0L).as("ts"))
      .select(col("id"), col("v"), col("ts"),
        concat(lit("c"), (col("v") % 50).cast("string")).as("cat"),
        concat(lit("payload-"), col("id").cast("string"), lit("-"), col("v").cast("string"),
          lit("-"), ((col("id") * 31 + col("v")).bitwiseAND(lit(0xffffL))).cast("string"),
          lit("-graft-0123456789abcdef")).as("payload"))
  }

  def frame(spark: SparkSession, rows: Seq[Gen.KRow]): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r.id, r.v, r.ts, r.cat, r.payload)).asJava, schema)

  /** The engine-side digest of a frame: one aggregate over its rows. */
  def digestOf(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(col("id"), col("v"), col("ts"), col("cat"), col("payload"))
    val r = df.select(h.as("h")).agg(count(lit(1)), bit_xor(col("h")),
      sum(col("h").bitwiseAND(lit(0xffffffffL)))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def rowOf(r: Row): Gen.KRow = Gen.KRow(r.getLong(0), r.getLong(1), r.getLong(2))

  /** Collected rows equal the model's row (payload and cat included). */
  def sameRow(got: Array[Row], want: Option[Gen.KRow]): Boolean = want match {
    case None => got.isEmpty
    case Some(w) => got.length == 1 && rowOf(got(0)) == w &&
      got(0).getString(3) == w.cat && got(0).getString(4) == w.payload
  }

  def bytesUnder(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  /** Bytes under the table root over bytes of the data files the current
    * version references.
    */
  def spaceAmp(spark: SparkSession, path: String): Double = {
    val live = Merge.filesInfo(spark, path).agg(sum("bytes")).collect()(0).getLong(0)
    bytesUnder(path).toDouble / live
  }

  val rowBytes: Long = 3 * 8 + Gen.KRow(0, 0, 0).cat.length + Gen.KRow(0, 0, 0).payload.length
}

// ====================================================================
// table_rw: reads beside writes and stream ingest on one keyed table
// ====================================================================

/** Writes beside reads on a keyed, versioned table through `Merge.*`,
  * with CDC micro-batches streamed into the same table. Operations follow
  * a fixed cycle, so every seed gets the same mix; the seed draws the keys
  * and values.
  */
final class TableRw(ctx: Ctx) extends Workload {
  import TableModel._
  private val spark = ctx.spark
  val NRows = 200000
  val NBuckets = 16
  val StatsCols = Seq("ts", "v")
  /** Versions kept by each vacuum. */
  val KeepVersions = 8
  /** CDC batch files written at setup; ingest stops once they run out. */
  val NBatches = 100
  /** Stream inserts take fresh keys from here up, apart from batch inserts. */
  val StreamKeyBase = 1L << 20

  /** One cycle: six writes (upsert, upsert_dv, delete, a stream trigger,
    * compaction, vacuum) and eleven reads (point lookups, the freshness
    * read after the trigger, skipping range reads, time travel). The
    * merge-on-read range read follows upsert_dv, and compaction folds its
    * deletion vectors before the next lookup.
    */
  val Cycle: Vector[String] = Vector("upsert", "lookup", "trigger", "freshness_read",
    "lookup", "upsert_dv", "read_where", "compact", "lookup", "lookup", "delete",
    "time_travel", "lookup", "lookup", "vacuum", "lookup", "read_where")

  def mix: Map[String, Double] = Cycle.groupBy(identity).map { case (k, v) => k -> v.length.toDouble }

  private val jsonSchema = TableModel.schema.add("deleted", BooleanType)
  private var dir: String = _
  private var path: String = _
  private var model: TableModel = _
  private var r: java.util.SplittableRandom = _
  /** Batch sizes, delete widths and read windows: fixed across seeds. */
  private var sizes: java.util.SplittableRandom = _
  private var keys: Gen.RecentKeys = _
  /** Highest key of the batch-write key space (stream inserts excluded). */
  private var hi = 0L
  private var clock = 0L
  private var version = 0L
  private var oldest = 0L
  private var step = 0
  /** Per batch file: its rows (tombstone flag first) and its probe key. */
  private var batches: Vector[(Seq[(Boolean, Gen.KRow)], Long)] = Vector.empty
  private var nextBatch = 0

  var retries = 0L; var bucketsTouched = 0.0; var merges = 0L
  var rowsWritten = 0L; var filesPlanned = 0L; var filesTotal = 0L
  var triggers = 0L; var rowsIn = 0L
  val progress = mutable.Map.empty[String, Long].withDefaultValue(0L)

  /** The logical clock each trigger will stamp, walking [[Cycle]]. */
  private def triggerClocks(n: Int): Vector[Long] = {
    var c = 0L
    Iterator.from(0).map(i => Cycle(i % Cycle.length)).flatMap { k =>
      if (k == "upsert" || k == "upsert_dv" || k == "trigger") c += 1
      if (k == "trigger") Some(c) else None
    }.take(n).toVector
  }

  def setup(round: Int): Unit = {
    dir = ctx.roundDir(round)
    path = s"$dir/table"
    r = Gen.rng(ctx.seed, 5)
    sizes = Gen.shape(5)
    keys = new Gen.RecentKeys(r, NRows)
    model = new TableModel
    (0 until NRows).foreach(i => model.put(Gen.KRow(i, initialV(i, ctx.seed), 0L)))
    Merge.writeKeyed(initialFrame(spark, NRows, ctx.seed), path, "id", NBuckets,
      statsCols = StatsCols)
    model.commit(0L)
    hi = NRows - 1L; clock = 0L; version = 0L; oldest = 0L; step = 0; nextBatch = 0

    // CDC batch files, moved into the source directory one per trigger
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/staging"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/src"))
    batches = Gen.cdcBatches(ctx.seed, NRows, triggerClocks(NBatches), StreamKeyBase)
    batches.zipWithIndex.foreach { case ((rows, _), b) =>
      val w = java.nio.file.Files.newBufferedWriter(
        java.nio.file.Paths.get(f"$dir/staging/batch-$b%05d.json"))
      try rows.foreach { case (del, row) =>
        w.write(s"""{"id":${row.id},"v":${row.v},"ts":${row.ts},"cat":"${row.cat}","payload":"${row.payload}","deleted":$del}""")
        w.newLine()
      } finally w.close()
    }
  }

  def cycle: Int = Cycle.length
  /** The set-up's three table loads already warm the write path. */
  def warmupSeconds: Double = 10.0

  /** A batch of unique keys: 80% existing keys by recency-skewed Zipf,
    * 20% new keys past the current maximum.
    */
  private def batch(): Seq[Gen.KRow] = {
    val n = 1000 + sizes.nextInt(4001)
    clock += 1
    val ids = mutable.LinkedHashSet.empty[Long]
    while (ids.size < n) {
      if (r.nextDouble() < 0.2) { hi += 1; ids += hi } else ids += keys.pick(hi)
    }
    ids.toSeq.map(id => Gen.KRow(id, r.nextLong() & 0xffffffL, clock))
  }

  private def committed(v: Long, ms: Option[Merge.MergeStats]): Unit = {
    version = v
    model.commit(v)
    ms.foreach { s => retries += s.retries; bucketsTouched += s.bucketsTouched.toDouble / s.nBuckets; merges += 1 }
  }

  private def write(kind: String, dv: Boolean): Op = {
    val rows = batch()
    Op(kind, read = false, () => {
      val df = frame(spark, rows)
      val st = ctx.tracer.span(s"sources.$kind") {
        if (dv) Merge.upsertDV(spark, path, df, "id", NBuckets)
        else Merge.upsert(spark, path, df, "id", NBuckets)
      }
      () => {
        rows.foreach(model.put); rowsWritten += rows.length
        committed(st.version, Some(st)); true
      }
    })
  }

  private def trigger(): Op = {
    val b = nextBatch
    nextBatch += 1
    clock += 1
    val (rows, _) = batches(b)
    require(rows.head._2.ts == clock, "trigger clock out of step with the cycle")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(f"$dir/staging/batch-$b%05d.json"),
      java.nio.file.Paths.get(f"$dir/src/batch-$b%05d.json"))
    Op("trigger", read = false, () => {
      val q = ctx.tracer.span("streaming.trigger") {
        val src = spark.readStream.schema(jsonSchema).json(s"$dir/src")
        val q = Merge.streamingUpsert(src, path, "id", NBuckets, s"$dir/checkpoint",
          "graftbench", tombstoneCol = Some("deleted"))
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      }
      () => {
        triggers += 1
        q.recentProgress.foreach { p =>
          rowsIn += p.numInputRows
          p.durationMs.asScala.foreach { case (k, v) => progress(k) += v.longValue }
        }
        rows.foreach { case (del, row) => if (del) model.delete(row.id) else model.put(row) }
        committed(Merge.currentVersion(spark, path), None)
        q.exception.isEmpty
      }
    })
  }

  def next(): Op = {
    var kind = Cycle(step % Cycle.length)
    step += 1
    if ((kind == "trigger" || kind == "freshness_read") && nextBatch >= NBatches) {
      kind = Cycle(step % Cycle.length); step += 1
    }
    kind match {
      case "upsert" => write("upsert", dv = false)
      case "upsert_dv" => write("upsert_dv", dv = true)
      case "trigger" => trigger()
      case "freshness_read" =>
        val key = batches(nextBatch - 1)._2
        Op("freshness_read", read = true, () => {
          val got = ctx.tracer.span("sources.lookup") { Merge.lookupKey(spark, path, key).collect() }
          () => sameRow(got, model.row(key))
        })
      case "delete" =>
        val w = 200 + sizes.nextInt(801)
        val lo = math.max(0L, keys.pick(hi) - w)
        val top = lo + w - 1
        Op("delete", read = false, () => {
          val st = ctx.tracer.span("sources.delete") {
            Merge.deleteWhere(spark, path, col("id").between(lo, top),
              bounds = Seq(Skipping.Bound("id", Some(lo), Some(top))))
          }
          () => { (lo to top).foreach(model.delete); committed(st.version, Some(st)); true }
        })
      case "compact" =>
        Op("compact", read = false, () => {
          val st = ctx.tracer.span("sources.compact") { Merge.compactVersion(spark, path) }
          () => { committed(st.version, None); true }
        })
      case "vacuum" =>
        Op("vacuum", read = false, () => {
          ctx.tracer.span("sources.vacuum") { Merge.vacuum(spark, path, keepVersions = KeepVersions) }
          () => { oldest = math.max(oldest, version - KeepVersions + 1); true }
        })
      case "lookup" =>
        val key = keys.pick(hi)
        Op("lookup", read = true, () => {
          val got = ctx.tracer.span("sources.lookup") { Merge.lookupKey(spark, path, key).collect() }
          () => sameRow(got, model.row(key))
        })
      case "read_where" =>
        val min = math.max(0L, clock - 1 - sizes.nextInt(6))
        Op("read_where", read = true, () => {
          val got = ctx.tracer.span("sources.read_where") {
            digestOf(Merge.readKeyedWhere(spark, path, col("ts") >= min))
          }
          () => {
            if (ctx.tracer.enabled) {
              val b = Seq(Skipping.Bound("ts", Some(min), None))
              filesPlanned += Merge.planVersionFiles(spark, path, version, b)._1.size
              filesTotal += Merge.planVersionFiles(spark, path, version, Nil)._1.size
            }
            got == model.digestTsAtLeast(min)
          }
        })
      case "time_travel" =>
        val lo = math.max(oldest, version - KeepVersions + 1)
        val v = lo + sizes.nextInt((version - lo + 1).toInt)
        Op("time_travel", read = true, () => {
          val got = ctx.tracer.span("sources.time_travel") { digestOf(Merge.readVersion(spark, path, v)) }
          () => model.versions.get(v).contains(got)
        })
    }
  }

  override def finalCheck(): Boolean = digestOf(Merge.readKeyed(spark, path)) == model.digest

  def stats(): Map[String, Double] = Map(
    "sources.retries" -> retries.toDouble, "sources.merges" -> merges.toDouble,
    "sources.buckets_touched" -> bucketsTouched, "sources.rows_written" -> rowsWritten.toDouble,
    "sources.files_planned" -> filesPlanned.toDouble, "sources.files_total" -> filesTotal.toDouble,
    "streaming.triggers" -> triggers.toDouble, "streaming.rows_in" -> rowsIn.toDouble,
    "row_bytes" -> rowBytes.toDouble) ++
    progress.map { case (k, v) => s"streaming.progress.$k" -> v.toDouble }

  def spaceAmp(): Double = TableModel.spaceAmp(spark, path)
}
