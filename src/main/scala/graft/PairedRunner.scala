package graft

/** Stdin-driven single-query timer — one half of the PAIRED bench
  * (tools/paired_bench.py, round-14 VERDICT item 1). Co-tenant VM
  * noise has repeatedly made round-over-round bench totals
  * unattributable (r11→r13: three noisy runs, deltas suppressed); the
  * paired design measures BASELINE-code and CURRENT-code executions of
  * the same query seconds apart under the same machine weather, so the
  * per-query ratio cancels the weather term instead of hoping for a
  * calm day.
  *
  * The coordinator starts two of these JVMs — one with the snapshot
  * classes directory of the baseline commit on the classpath, one with
  * the current build — and feeds query names over stdin in interleaved
  * A/B/B/A order (the reversal cancels first-mover cache bias). Each
  * line of input is `<query_name> <sfDir>`; the reply is one line
  * `ok <name> <seconds>` or `err <name> <message>`; `quit` exits.
  * Both JVMs stay warm across the whole run, so JVM startup and
  * codegen compilation never enter a measurement (a warmup list can
  * simply be fed first and its replies discarded).
  */
object PairedRunner {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("graft-paired-runner")
    spark.sparkContext.setLogLevel("ERROR")
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      val parts = line.trim.split("\\s+")
      if (line.trim == "list") {
        // the coordinator intersects both sides' lists — the baseline
        // snapshot predates queries added since
        println("queries " + SparkEntry.queries.keys.toSeq.sorted.mkString(","))
        System.out.flush()
      } else if (parts.length == 2) {
        val (name, sfDir) = (parts(0), parts(1))
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir).count()
          println(f"ok $name ${(System.nanoTime() - t0) / 1e9}%.4f")
        } catch {
          case e: Throwable =>
            println(s"err $name ${e.getClass.getSimpleName}:" +
              String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(120))
        }
        System.out.flush()
      }
      line = in.readLine()
    }
    spark.stop()
  }
}
