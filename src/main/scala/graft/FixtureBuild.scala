package graft

/** Build the /tmp scale fixtures WITHOUT running the probe queries —
  * /tmp is wiped between sessions, and rebuilding the ×100 sweep
  * fixture used to require launching the full sweep (or the 2B-pair
  * probe) whose first measured query then ran on a cold, fresh build.
  * Splitting the build out lets measurement runs start from a warm,
  * already-built fixture.
  *
  * Usage: `runMain graft.FixtureBuild [probe|sweep|pairs <replicas>|all]`
  *   probe → [[Sf10Probe]]'s dedup ×100 docs + 2B-pair customer dirs
  *   sweep → [[Sf10Sweep]]'s full ×100 fixture
  *   pairs → the customer replica fixture alone
  *           ([[Sf10Probe.buildPairs]]); prints its dir
  */
object FixtureBuild {
  def main(args: Array[String]): Unit = {
    val what = args.lift(0).getOrElse("all")
    require(what != "pairs" || args.length > 1, "usage: FixtureBuild pairs <replicas>")
    val spark = GraftSession.build("graft-fixture-build")
    if (what == "probe" || what == "all") Sf10Probe.buildFixtures(spark)
    if (what == "sweep" || what == "all") Sf10Sweep.buildFixture(spark)
    if (what == "pairs") println(Sf10Probe.buildPairs(spark, args(1).toInt))
    spark.stop()
  }
}
