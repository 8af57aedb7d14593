package graft

/** Same-JVM interleaved A/B of RUNTIME SQL confs over a query list
  * (round-16, VERDICT item 6): per pass, each query runs once under
  * every variant, variant order alternating per pass, so co-tenant
  * load hits both sides of every ratio equally. Each run also reports
  * its jobs, spill and shuffle bytes from the shared
  * [[graft.util.StageLog]], so a winning variant is attributed to the
  * work it removed, not just to a wall-clock delta.
  *
  * Usage:
  *   runMain graft.ConfProbe q_a,q_b [sfDir] [passes=3] [variants]
  * where variants is `name:k=v(,k=v)*(;name:…)*`, default
  * `base:;noaqe:spark.sql.adaptive.enabled=false`. Each variant's confs
  * are set on the [[GraftSession]] session with `spark.conf.set`, and
  * every key any variant touches is restored before the next run.
  * Prints one JSON line per (query, variant, pass) and a summary line
  * with medians and per-query ratios to the first variant.
  *
  * The q_pattern_counts spill crossover (docs/SPILL_PROBE_r15*.json:
  * per-pair throughput halves between 8 and 16 customer replicas) is
  * re-measured on the replica fixture with the variant string below —
  * sort-merge join vs the session's shuffled-hash posture, more
  * shuffle partitions (smaller per-task sort runs), and a 16m AQE
  * advisory partition size (smaller coalesced partitions):
  * {{{
  *   sbt "runMain graft.FixtureBuild pairs 16"
  *   sbt "runMain graft.ConfProbe q_pattern_counts /tmp/graft_scale_pairs_r16 3 \"base:;smj:spark.sql.join.preferSortMergeJoin=true;p128:spark.sql.shuffle.partitions=128;adv16m:spark.sql.adaptive.advisoryPartitionSizeInBytes=16m;p128adv16m:spark.sql.shuffle.partitions=128,spark.sql.adaptive.advisoryPartitionSizeInBytes=16m\""
  * }}}
  * The variant string is double-quoted inside the sbt command, which
  * sbt would otherwise split at each `;`.
  */
object ConfProbe {

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val passes = args.lift(2).map(_.toInt).getOrElse(3)
    val variants: Seq[(String, Map[String, String])] =
      args.lift(3).getOrElse("base:;noaqe:spark.sql.adaptive.enabled=false")
        .split(";").toSeq.map { v =>
          val Array(n, kvs @ _*) = v.split(":", 2)
          n -> kvs.headOption.filter(_.nonEmpty).map(_.split(",").map { kv =>
            val Array(k, vv) = kv.split("=", 2); k -> vv
          }.toMap).getOrElse(Map.empty[String, String])
        }
    // every key any variant touches, restored to the session default
    // before each run so variants don't leak into each other
    val touched = variants.flatMap(_._2.keys).distinct

    val spark = GraftSession.build("graft-conf-probe")
    val log = new graft.util.StageLog
    spark.sparkContext.addSparkListener(log)
    val defaults = touched.map(k => k -> spark.conf.getOption(k)).toMap

    val times = scala.collection.mutable.Map[(String, String), List[Double]]()
      .withDefaultValue(Nil)
    val jobs = scala.collection.mutable.Map[(String, String), Int]()
    // untimed warmup under base conf
    names.foreach(n => SparkEntry.queries(n)(spark, sfDir).count())
    (1 to passes).foreach { pass =>
      val order = if (pass % 2 == 1) variants else variants.reverse
      order.foreach { case (vn, conf) =>
        touched.foreach(k => defaults(k) match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        })
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        names.foreach { n =>
          log.drain()
          val t0 = System.nanoTime()
          val rows = SparkEntry.queries(n)(spark, sfDir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          val (stages, j) = log.drain()
          times((n, vn)) = sec :: times((n, vn))
          jobs((n, vn)) = j
          def mb(f: log.Stage => Long) = stages.map(f).sum >> 20
          println(f"""{"metric":"conf_probe_run","q":"$n","variant":"$vn","pass":$pass,"sec":$sec%.3f,"jobs":$j,"rows":$rows,"spill_disk_mb":${mb(_.diskSpill)},"spill_mem_mb":${mb(_.memSpill)},"shuffle_read_mb":${mb(_.shuffleRead)},"shuffle_write_mb":${mb(_.shuffleWrite)}}""")
        }
      }
    }
    def med(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val base = variants.head._1
    val summary = names.map { n =>
      val parts = variants.map { case (vn, _) =>
        f""""$vn":{"median_sec":${med(times((n, vn)))}%.3f,"jobs":${jobs((n, vn))}}"""
      } ++ variants.tail.map { case (vn, _) =>
        f""""ratio_$vn":${med(times((n, vn))) / med(times((n, base)))}%.3f"""
      }
      s""""$n":{${parts.mkString(",")}}"""
    }.mkString("{", ",", "}")
    val totals = variants.map { case (vn, _) =>
      f""""$vn":${names.map(n => med(times((n, vn)))).sum}%.2f"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"conf_probe","passes":$passes,"sf":"$sfDir","totals":$totals,"queries":$summary}""")
    spark.stop()
  }
}
