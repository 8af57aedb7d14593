package graft

/** Plan inspector: run one named query from [[SparkEntry.queries]],
  * print its formatted physical plan and wall time.
  *
  * Usage: `sbt "runMain graft.Explain q_ngram_jaccard /root/testdata/sf0.1"`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.build("graft-explain")
    // comma-separated names: run sequentially in ONE session (to
    // reproduce cross-query interactions); plan printed for the last.
    val names = name.split(",").toSeq
    names.foreach { n0 =>
      // Time construction + action together, like Bench does: eager
      // work (localCheckpoint rounds) happens at CONSTRUCTION time and
      // would silently escape an action-only timer.
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n0)(spark, sfDir)
      val n = df.count()
      println(f"[explain] $n0 rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
      if (n0 == names.last) df.explain("formatted")
    }
    spark.stop()
  }
}
