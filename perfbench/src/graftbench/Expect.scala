package graftbench

/** The independent evaluator: the expected answers of the session and
  * ad-hoc workloads, computed over plain Scala arrays with no graft code.
  *
  * It mirrors the documented semantics of the engine's deterministic
  * oracle (SemanticOracle.scala, `DeterministicOracle`): a condition's
  * tokens are its lowercase `[a-z0-9]+` runs minus stopwords; `judge` holds
  * when every token is a substring of the lowercased text; `score` is the
  * fraction of tokens contained; `extract` is the first regex match (group
  * 1 if the pattern has one); `classify` is the first rule whose keyword
  * the lowercased text contains; `summarize` joins the five smallest
  * distinct values with ", ". Operator-level rules (row text = the chosen
  * columns joined by one space, open-set vocabularies of the 20 most
  * frequent tokens, nearest-match tie rules) follow the operators'
  * documented behaviour, restated here.
  */
object Expect {
  val stopwords: Set[String] = Set(
    "a", "an", "the", "of", "in", "on", "at", "to", "for", "with", "by",
    "and", "or", "is", "are", "was", "were", "be", "been", "that", "this",
    "it", "its", "about", "mentions", "mention", "contains", "contain",
    "related", "regarding", "concerning")

  def tokens(s: String): Seq[String] =
    s.toLowerCase.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty)
      .filterNot(stopwords.contains).distinct

  def judge(text: String, cond: String): Boolean = {
    val t = text.toLowerCase
    val ts = tokens(cond)
    ts.nonEmpty && ts.forall(t.contains)
  }

  def score(text: String, query: String): Double = {
    val ts = tokens(query)
    if (ts.isEmpty) 0.0
    else { val t = text.toLowerCase; ts.count(t.contains).toDouble / ts.length }
  }

  def extract(text: String, regex: String): Option[String] = {
    val m = java.util.regex.Pattern.compile(regex).matcher(text)
    if (!m.find()) None
    else Option(if (m.groupCount() >= 1) m.group(1) else m.group(0))
      .filter(_.nonEmpty)
  }

  def summarize(values: Iterable[String]): String =
    values.toSeq.distinct.sorted.take(5).mkString(", ")

  // ------------------------------------------------------------ row frames

  /** A frame of rows: named columns, each row an array of values (Long,
    * Double, String or null), the same shapes the engine returns.
    */
  final case class Frame(cols: Vector[String], rows: Vector[Array[Any]]) {
    def idx(c: String): Int = {
      val i = cols.indexOf(c)
      require(i >= 0, s"no column $c in ${cols.mkString(",")}")
      i
    }
    def text(r: Array[Any], cs: Seq[String]): String =
      if (cs.length == 1) Option(r(idx(cs.head))).map(str).getOrElse("")
      else (if (cs.isEmpty) cols.indices else cs.map(idx))
        .flatMap(i => Option(r(i)).map(str)).mkString(" ")
  }

  def str(v: Any): String = v match {
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  def docsFrame(docs: Array[Gen.Doc]): Frame =
    Frame(Vector("doc_id", "text", "lang", "source", "n_chars"),
      docs.iterator.map(d =>
        Array[Any](d.id, d.text, d.lang, d.source, d.nChars)).toVector)

  /** Canonical row form shared with the engine side's collected rows. */
  def canon(r: Seq[Any]): String =
    r.map(v => if (v == null) "∅" else str(v)).mkString("|")

  // ------------------------------------------------------------- filters

  def toDouble(v: Any): Option[Double] = v match {
    case null => None
    case l: Long => Some(l.toDouble)
    case d: Double => Some(d)
    case s => scala.util.Try(s.toString.trim.toDouble).toOption
  }

  def cmp(x: Double, op: String, t: Double): Boolean = op match {
    case "==" | "=" => x == t
    case "!=" => x != t
    case ">" => x > t
    case "<" => x < t
    case ">=" => x >= t
    case "<=" => x <= t
  }

  sealed trait Pred
  final case class Keyword(cols: Seq[String], kws: Seq[String], or: Boolean,
      irrelevant: Boolean) extends Pred
  final case class Num(col: String, op: String, t: Double) extends Pred
  final case class Sem(cols: Seq[String], cond: String) extends Pred
  final case class Tree(or: Boolean, kids: Seq[Pred]) extends Pred
  /** The column's value is one of `keep`. */
  final case class Values(col: String, keep: Set[String]) extends Pred
  /** The first digit run of the column's text, compared as a number. */
  final case class DigitRun(col: String, op: String, t: Double) extends Pred
  private val firstDigits = "^[^0-9]*([0-9]+)".r

  def eval(f: Frame, p: Pred)(r: Array[Any]): Boolean = p match {
    case Keyword(cs, kws, or, irr) =>
      val t = f.text(r, cs).toLowerCase
      val hits = kws.map(k => t.contains(k.toLowerCase))
      val folded = if (or) hits.exists(identity) else hits.forall(identity)
      if (irr) !folded else folded
    case Num(c, op, t) => toDouble(r(f.idx(c))).exists(cmp(_, op, t))
    case Sem(cs, cond) => judge(f.text(r, cs), cond)
    case Values(c, keep) => Option(r(f.idx(c))).exists(v => keep.contains(str(v)))
    case DigitRun(c, op, t) => Option(r(f.idx(c))).flatMap(v =>
      firstDigits.findFirstMatchIn(str(v))).exists(m => cmp(m.group(1).toDouble, op, t))
    case Tree(or, kids) =>
      if (or) kids.exists(k => eval(f, k)(r)) else kids.forall(k => eval(f, k)(r))
  }

  def filter(f: Frame, p: Pred): Frame = f.copy(rows = f.rows.filter(eval(f, p)))

  // ------------------------------------------------------ derivations

  def semMap(f: Frame, cs: Seq[String], regex: String, kw: String): Frame =
    Frame(f.cols :+ kw, f.rows.map(r =>
      r :+ extract(f.text(r, cs), regex).orNull))

  /** Open-set grouping: the 20 most frequent non-stopword tokens of the
    * row texts (count descending, token ascending) form the vocabulary;
    * each row takes the first vocabulary token its text contains.
    */
  def semGroup(f: Frame, cs: Seq[String], kw: String): Frame = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    f.rows.foreach { r =>
      f.text(r, cs).toLowerCase.split("[^a-z0-9]+")
        .filter(t => t.nonEmpty && !stopwords.contains(t))
        .foreach(t => counts(t) = counts.getOrElse(t, 0L) + 1)
    }
    val vocab = counts.toSeq.sortBy { case (t, n) => (-n, t) }.take(20).map(_._1)
    Frame(f.cols :+ kw, f.rows.map { r =>
      val t = f.text(r, cs).toLowerCase
      r :+ vocab.find(t.contains).orNull
    })
  }

  private def groups(f: Frame, by: String): Vector[(Any, Vector[Array[Any]])] = {
    val i = f.idx(by)
    f.rows.groupBy(r => r(i)).toVector
  }

  def count(f: Frame, by: String): Frame =
    Frame(Vector(by, s"count_of_$by"),
      groups(f, by).map { case (k, rs) => Array[Any](k, rs.size.toLong) })

  /** num_reduce over a LONG column: sum/max/min stay integral, avg is the
    * exact sum divided by the count.
    */
  def numReduce(f: Frame, c: String, aggs: Seq[String], by: String): Frame = {
    val ci = f.idx(c)
    Frame(by +: aggs.map(a => s"${a}_of_$c").toVector,
      groups(f, by).map { case (k, rs) =>
        val xs = rs.map(_(ci).asInstanceOf[Long])
        val vals: Seq[Any] = aggs.map {
          case "sum" => xs.sum
          case "avg" => xs.sum.toDouble / xs.size
          case "max" => xs.max
          case "min" => xs.min
        }
        (k +: vals).toArray
      })
  }

  def semReduce(f: Frame, c: String, by: String): Frame = {
    val ci = f.idx(c)
    Frame(Vector(by, s"summary_of_$c"), groups(f, by).map { case (k, rs) =>
      Array[Any](k, summarize(rs.flatMap(r => Option(r(ci)).map(str))))
    })
  }

  /** Top-k by a numeric column, descending, nulls last, ties by doc_id. */
  def numTopK(f: Frame, c: String, k: Int): Frame = {
    val ci = f.idx(c); val id = f.idx("doc_id")
    f.copy(rows = f.rows.sortBy(r =>
      (toDouble(r(ci)).map(-_).getOrElse(Double.MaxValue),
        r(id).asInstanceOf[Long])).take(k))
  }

  /** Top-k by relevance score (appended as `sem_score`), ties by doc_id. */
  def semTopK(f: Frame, cs: Seq[String], query: String, k: Int): Frame = {
    val s = f.cols.length
    val id = f.idx("doc_id")
    val scored = f.rows.map(r => r :+ score(f.text(r, cs), query))
    Frame(f.cols :+ "sem_score",
      scored.sortBy(r => (-r(s).asInstanceOf[Double], r(id).asInstanceOf[Long])).take(k))
  }
}
