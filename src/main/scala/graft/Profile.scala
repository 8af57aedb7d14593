package graft

/** Per-query profiler (round-15 optimization instrument, guide §1):
  * run named queries from [[SparkEntry.queries]] with the shared
  * [[graft.util.StageLog]] listener and print, per run, the wall time plus every completed
  * stage's task count, wall, shuffle read/write and spill bytes — the
  * Spark-UI stage table as one JSON line per query, since the UI is
  * disabled on this box. Also counts JOBS per query run: a query that
  * fires many actions at construction (eager localCheckpoint rounds)
  * shows its fixed per-action overhead here.
  *
  * Usage: `runMain graft.Profile q_a,q_b [sfDir] [runs]`
  * (default sfDir /root/testdata/sf0.1, runs 2: one warmup, one timed;
  * the LAST run's stages are printed, earlier runs print wall only).
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.build("graft-profile")
    val log = new graft.util.StageLog
    spark.sparkContext.addSparkListener(log)
    names.foreach { n =>
      (1 to runs).foreach { r =>
        log.drain()
        val t0 = System.nanoTime()
        val cnt = SparkEntry.queries(n)(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val (stages, jobs) = log.drain()
        if (r == runs) {
          val stageJson = stages.sortBy(_.id).filter(s => s.wallMs >= 100)
            .map { s =>
              f"""{"id":${s.id},"tasks":${s.tasks},"sec":${s.wallMs / 1000.0}%.2f,"in_mb":${s.input >> 20},"shR_mb":${s.shuffleRead >> 20},"shW_mb":${s.shuffleWrite >> 20},"spill_mb":${s.diskSpill >> 20},"spill_mem_mb":${s.memSpill >> 20}}"""
            }.mkString("[", ",", "]")
          println(f"""{"q":"$n","run":$r,"sec":$sec%.2f,"rows":$cnt,"jobs":$jobs,"n_stages":${stages.size},"stages_over_100ms":$stageJson}""")
        } else
          println(f"""{"q":"$n","run":$r,"sec":$sec%.2f,"rows":$cnt,"jobs":$jobs,"n_stages":${stages.size}}""")
      }
    }
    spark.stop()
  }
}
