package graftbench

/** Prints a SHA-256 over every input the generator derives from a seed
  * (corpus, sessions, ad-hoc plans, initial table values, CDC batches), so
  * a test can check that one seed always gives the same inputs.
  *
  *   graftbench.GenDigest <seed>
  */
object GenDigest {
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: Any): Unit = md.update((s.toString + "\n").getBytes("UTF-8"))
    val words = Gen.vocab(seed)
    words.foreach(add)
    Gen.corpus(seed, words).foreach(add)
    Gen.sessions(seed, words).take(10).foreach(add)
    Gen.adhocPlans(seed, words).take(14).foreach(p => add(p.plan + p.treeOps + p.treeLogic))
    (0 until 1000).foreach(i => add(TableModel.initialV(i, seed)))
    Gen.cdcBatches(seed, 200000, Vector.tabulate(20)(_.toLong), 1L << 20).foreach(add)
    println(md.digest().map(b => f"$b%02x").mkString)
  }
}
