package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names — builder-side
    // fast iteration on a subset (the driver always passes two args).
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    // coalesce(1) keeps driver-side dumps tidy, but at the sf1 ladder a
    // 202M-row pair table through ONE write task is the bottleneck —
    // SPARK_GRAFT_VERIFY_COALESCE=0 keeps the parallel write (the
    // compare tools glob part files either way).
    val coalesce1 = sys.env.getOrElse("SPARK_GRAFT_VERIFY_COALESCE", "1") != "0"
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // Clear the previous run's output first: a query that now throws
      // before its write must show NO output, not be compared on stale
      // parquet left in a reused out dir.
      rm(new java.io.File(s"$outDir/$name"))
      try {
        val df = fn(spark, sfDir)
        (if (coalesce1) df.coalesce(1) else df).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
