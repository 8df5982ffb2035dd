package graftbench

import java.util.SplittableRandom

/** Seeded input generator. Every input of every workload derives from the
  * seed alone; the engine receives only what is generated here. The
  * distributions and the workload shapes are fixed (see [[Gen.shape]]), so a
  * new seed changes the data but not the amount of work.
  */
object Gen {
  final case class Doc(id: Long, text: String, lang: String, source: String,
      nChars: Long)

  /** Sizes recorded in BENCHMARK.json; keep the two in step. */
  val NDocs = 50000
  val VocabSize = 3000
  val Langs: Vector[String] = Vector("en", "zh", "es", "fr", "de")
  val NSources = 20

  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) > u) hi = mid else lo = mid + 1 }
      lo
    }
  }

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Draws that fix a workload's shape (step kinds, word ranks, thresholds,
    * batch sizes) come from a seed-independent stream: every seed then does
    * the same amount of work, and the seed changes the corpus, the word
    * spellings, the keys and the values.
    */
  def shape(stream: Long): SplittableRandom = rng(0L, 1000L + stream)

  /** Distinct lowercase words of 4-8 letters, none a stopword. */
  def vocab(seed: Long): Vector[String] = {
    val r = rng(seed, 1)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < VocabSize) {
      val len = 4 + r.nextInt(5)
      val w = new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
      if (!Expect.stopwords.contains(w)) out += w
    }
    out.toVector
  }

  /** The corpus: Zipf(1.0) word draws, 30-70 words a document, so a word's
    * document frequency falls from ~100% (rank 1) through ~45% (rank 10)
    * and ~3% (rank 200) to under 1% (rank 1000).
    */
  def corpus(seed: Long, words: Vector[String]): Array[Doc] = {
    val r = rng(seed, 2)
    val wz = new Zipf(words.length, 1.0)
    val lz = new Zipf(Langs.length, 1.0)
    val sz = new Zipf(NSources, 1.0)
    Array.tabulate(NDocs) { i =>
      val n = 30 + r.nextInt(41)
      val sb = new StringBuilder
      var k = 0
      while (k < n) { if (k > 0) sb.append(' '); sb.append(words(wz.sample(r))); k += 1 }
      val text = sb.toString
      Doc(i.toLong, text, Langs(lz.sample(r)), s"src${sz.sample(r)}",
        text.length.toLong)
    }
  }

  // ------------------------------------------------------------ sessions

  /** One progressive filter step: `dice` on a field or a cross-field
    * `slice`, carrying its natural-language action.
    */
  final case class Step(agent: String, field: Option[String], action: String) {
    def json(id: Int): String = {
      val f = field.map(x => "\"" + x + "\"").getOrElse("null")
      s"""{"id": $id, "agent": "$agent", "field": $f, "action": "$action"}"""
    }
  }

  /** A session query: the cumulative step list, and for the last query the
    * roll-up and the top-k relevance query.
    */
  final case class Query(steps: Vector[Step], analysis: Boolean,
      topkQuery: Option[String], topk: Int, kind: String)

  /** Step kinds of the five session templates, in step order. */
  val Templates: Vector[Vector[String]] = Vector(
    Vector("text", "lang", "n_chars", "slice"),
    Vector("text", "source", "text", "source_cmp"),
    Vector("text", "n_chars", "slice", "lang"),
    Vector("text", "source_cmp", "lang", "text"),
    Vector("text", "slice", "n_chars", "source"))

  /** Sessions of four queries, cycling through [[Templates]] so every seed
    * gets the same mix of step kinds. Each query adds the template's next
    * step to the previous query's conjunction; in templates 1 and 3, Q2 and
    * Q3 respectively repeat the previous query exactly (10% of queries).
    * Q4 adds a roll-up of `lang` with an average of `n_chars`, and a
    * sem_topk epilogue.
    */
  def sessions(seed: Long, words: Vector[String]): Iterator[Vector[Query]] = {
    val r = shape(3)
    def word(lo: Int, hi: Int): String = words(lo + r.nextInt(hi - lo))
    def step(kind: String): Step = kind match {
      case "text" => Step("dice", Some("text"), word(7, 60))
      case "lang" =>
        val picks = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
          .shuffle(Langs).take(2 + r.nextInt(2))
        Step("dice", Some("lang"), picks.mkString(" or "))
      case "source" => Step("dice", Some("source"), s"src${r.nextInt(NSources)}")
      case "source_cmp" => Step("dice", Some("source"), s"> ${2 + r.nextInt(8)}")
      case "n_chars" => Step("dice", Some("n_chars"),
        (if (r.nextBoolean()) ">= " else "< ") + (200 + r.nextInt(20) * 10))
      case "slice" => Step("slice", None, word(3, 60))
    }
    Iterator.from(0).map { k =>
      val kinds = Templates(k % Templates.length)
      val repeatAt = k % Templates.length match { case 1 => 2; case 3 => 3; case _ => -1 }
      val pending = kinds.iterator
      var steps = Vector(step(pending.next()))
      val qs = Vector.newBuilder[Query]
      val t = k % Templates.length
      qs += Query(steps, analysis = false, None, 0, s"t${t}q1")
      for (q <- 2 to 4) {
        if (q != repeatAt) steps = steps :+ step(pending.next())
        val last = q == 4
        qs += Query(steps, analysis = last,
          if (last) Some(Langs(r.nextInt(Langs.length)) + " " +
            Langs(r.nextInt(Langs.length))) else None,
          if (last) 2 else 0, s"t${t}q$q")
      }
      qs.result()
    }
  }

  // ------------------------------------------------------ ad-hoc plans

  /** An ad-hoc plan: optional filter leaves under a nested logic tree
    * (executed by the cascade), then a plan-JSON tail (run under the
    * MinCost policy), and the independent evaluator's version of both.
    */
  final case class Adhoc(shape: String, treeOps: String, treeLogic: String,
      plan: String, expected: Expect.Frame => Expect.Frame, ordered: Boolean)

  /** The ad-hoc plan shapes, in the order [[adhocPlans]] takes them. */
  val AdhocShapes: Vector[String] = Vector("kw_num_count", "sem_map_count",
    "group_reduce", "num_reduce", "num_topk", "sem_topk", "logic_tree")

  /** Seven plan shapes over all ten operators, taken in turn so every
    * seed gets the same mix; words are drawn without replacement so no two
    * plans share a predicate.
    */
  def adhocPlans(seed: Long, words: Vector[String]): Iterator[Adhoc] = {
    val r = shape(4)
    val pool = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(words.slice(3, 400))
    var next = 0
    def w(): String = { val x = pool(next % pool.length); next += 1; x }
    def q(s: String) = "\"" + s + "\""
    def arr(xs: Seq[String]) = xs.map(q).mkString("[", ", ", "]")
    import Expect._
    Iterator.from(0).map { shape =>
      shape % AdhocShapes.length match {
        case 0 =>
          val (a, b) = (w(), w()); val or = r.nextBoolean()
          val t = 150 + 10 * r.nextInt(20)
          Adhoc("kw_num_count", "", "",
            s"""[{"operator_name": "keyword_filter", "parameters": {"columns": ["text"], "keywords": ${arr(Seq(a, b))}, "logic": "${if (or) "or" else "and"}", "relation": "contains"}},
               | {"operator_name": "num_filter", "parameters": {"conditions": [{"column": "n_chars", "threshold": $t, "operator": ">="}], "logic": "and"}},
               | {"operator_name": "count", "parameters": {"group_by": "lang", "columns": []}}]""".stripMargin,
            f => count(filter(filter(f, Keyword(Seq("text"), Seq(a, b), or, irrelevant = false)),
              Num("n_chars", ">=", t)), "lang"), ordered = false)
        case 1 =>
          val (a, b, c) = (w(), w(), w())
          val rx = s"($b|$c)"
          Adhoc("sem_map_count", "", "",
            s"""[{"operator_name": "sem_filter", "parameters": {"columns": ["text"], "condition": "$a"}},
               | {"operator_name": "sem_map", "parameters": {"columns": ["text"], "map_description": "$rx", "keyword": "term"}},
               | {"operator_name": "count", "parameters": {"group_by": "term", "columns": []}}]""".stripMargin,
            f => count(semMap(filter(f, Sem(Seq("text"), a)), Seq("text"), rx, "term"), "term"),
            ordered = false)
        case 2 =>
          val a = w()
          Adhoc("group_reduce", "", "",
            s"""[{"operator_name": "keyword_filter", "parameters": {"columns": ["text"], "keywords": [${q(a)}], "logic": "and", "relation": "contains"}},
               | {"operator_name": "sem_group", "parameters": {"columns": ["text"], "group_description": "topic of the text", "keyword": "topic"}},
               | {"operator_name": "sem_reduce", "parameters": {"columns": ["source"], "group_by": "topic"}}]""".stripMargin,
            f => semReduce(semGroup(filter(f, Keyword(Seq("text"), Seq(a), or = false,
              irrelevant = false)), Seq("text"), "topic"), "source", "topic"), ordered = false)
        case 3 =>
          val a = w(); val t = 180 + 10 * r.nextInt(20)
          Adhoc("num_reduce", "", "",
            s"""[{"operator_name": "sem_filter", "parameters": {"columns": ["text"], "condition": "$a"}},
               | {"operator_name": "num_filter", "parameters": {"conditions": [{"column": "n_chars", "threshold": $t, "operator": "<"}], "logic": "and"}},
               | {"operator_name": "num_reduce", "parameters": {"columns": ["n_chars"], "agg": ["sum", "avg", "max", "min"], "group_by": "source"}}]""".stripMargin,
            f => numReduce(filter(filter(f, Sem(Seq("text"), a)), Num("n_chars", "<", t)),
              "n_chars", Seq("sum", "avg", "max", "min"), "source"), ordered = false)
        case 4 =>
          val a = w()
          Adhoc("num_topk", "", "",
            s"""[{"operator_name": "sem_filter", "parameters": {"columns": ["text", "lang"], "condition": "$a"}},
               | {"operator_name": "num_topk", "parameters": {"column": "n_chars", "k": 10, "order": "desc"}}]""".stripMargin,
            f => numTopK(filter(f, Sem(Seq("text", "lang"), a)), "n_chars", 10), ordered = true)
        case 5 =>
          val (a, b, c) = (w(), w(), w())
          Adhoc("sem_topk", "", "",
            s"""[{"operator_name": "keyword_filter", "parameters": {"columns": ["text"], "keywords": [${q(a)}], "logic": "or", "relation": "irrelevant"}},
               | {"operator_name": "sem_topk", "parameters": {"columns": ["text"], "query": "$b $c", "k": 10}}]""".stripMargin,
            f => semTopK(filter(f, Keyword(Seq("text"), Seq(a), or = true, irrelevant = true)),
              Seq("text"), s"$b $c", 10), ordered = true)
        case _ =>
          val (a, b, c, d) = (w(), w(), w(), w())
          val t = 250 + 10 * r.nextInt(15)
          val ops =
            s"""[{"operator_name": "keyword_filter", "parameters": {"columns": ["text"], "keywords": ${arr(Seq(a, b))}, "logic": "or", "relation": "contains"}},
               | {"operator_name": "sem_filter", "parameters": {"columns": ["text"], "condition": "$c"}},
               | {"operator_name": "num_filter", "parameters": {"conditions": [{"column": "n_chars", "threshold": $t, "operator": ">"}], "logic": "and"}},
               | {"operator_name": "keyword_filter", "parameters": {"columns": ["text"], "keywords": [${q(d)}], "logic": "and", "relation": "irrelevant"}}]""".stripMargin
          Adhoc("logic_tree", ops, """["OR", ["AND", 1, 2], ["AND", 3, ["OR", 4, 2]]]""",
            """[{"operator_name": "count", "parameters": {"group_by": "source", "columns": []}}]""",
            f => {
              val k1 = Keyword(Seq("text"), Seq(a, b), or = true, irrelevant = false)
              val s2 = Sem(Seq("text"), c)
              val n3 = Num("n_chars", ">", t)
              val k4 = Keyword(Seq("text"), Seq(d), or = false, irrelevant = true)
              count(filter(f, Tree(or = true, Seq(Tree(or = false, Seq(k1, s2)),
                Tree(or = false, Seq(n3, Tree(or = true, Seq(k4, s2))))))), "source")
            }, ordered = false)
      }
    }
  }

  // --------------------------------------------------- keyed table rows

  /** A row of the keyed tables: `id` key, `v` value, `ts` logical commit
    * clock (the skipping column), `cat` and a ~60-char `payload`.
    */
  final case class KRow(id: Long, v: Long, ts: Long) {
    def cat: String = s"c${v % 50}"
    def payload: String = s"payload-$id-$v-${(id * 31 + v) & 0xffff}-graft-0123456789abcdef"
  }

  /** CDC micro-batches for the stream into the keyed table: 200-600 unique
    * keys each, 20% fresh keys from `keyBase` up, the rest existing keys by
    * recency; 15% of existing keys arrive as tombstones (flag first). Batch
    * i carries `clocks(i)` as its `ts`. Each batch comes with a probe key for
    * the freshness read.
    */
  def cdcBatches(seed: Long, nRows: Int, clocks: Vector[Long],
      keyBase: Long): Vector[(Seq[(Boolean, KRow)], Long)] = {
    val r = rng(seed, 6)
    val sizes = shape(6)
    val keys = new RecentKeys(r, nRows)
    var fresh = keyBase
    clocks.map { ts =>
      val n = 200 + sizes.nextInt(401)
      val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (ids.size < n) {
        if (r.nextDouble() < 0.2) { ids += fresh; fresh += 1 } else ids += keys.pick(nRows - 1L)
      }
      val rows = ids.toSeq.map(id => (id < keyBase && r.nextDouble() < 0.15,
        KRow(id, r.nextLong() & 0xffffffL, ts)))
      (rows, ids.toSeq(r.nextInt(ids.size)))
    }
  }

  /** Key chooser for writes and reads: Zipf(1.1) over recency rank, so the
    * newest keys are hottest and old keys still get touched.
    */
  final class RecentKeys(r: SplittableRandom, span: Int) {
    private val z = new Zipf(span, 1.1)
    def pick(maxId: Long): Long = math.max(0L, maxId - z.sample(r))
  }
}
