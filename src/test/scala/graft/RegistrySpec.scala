package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SparkEntry.registry]]'s shape, the probes' fixed query lists
  * against it (a stale name would otherwise fail only when the probe
  * reaches it), and the reachability scan that keeps `src/main` free of
  * code no query, main or benchmark reaches.
  */
class RegistrySpec extends AnyFunSuite {

  private val names = SparkEntry.registry.map(_.name)

  test("registry: 271 queries, unique names, every oracle SQL non-empty") {
    assert(names.size == 271)
    assert(names.distinct.size == names.size, names.diff(names.distinct))
    assert(SparkEntry.registry.filter(_.oracleSql.trim.isEmpty).map(_.name).isEmpty)
  }

  test("registry: the name views agree with the registry and are built once") {
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }

  test("Measure's scale and rung lists name registered queries") {
    val lists = Seq(Measure.ScaleQueries, Measure.RungDedupQueries, Measure.RungLinkageQueries)
    lists.foreach(l => assert(l.nonEmpty))
    assert(lists.flatten.filterNot(names.toSet).isEmpty)
  }

  test("src/main holds no unreached code beyond the documented keep-list") {
    // tools/unreached.sh's header gives the reason for each kept item
    val keep = Set("SparkEntry.entry", "JaroWinkler.jaro_winkler",
      "Scoring.Calibration.predict", "Scoring.calibrateFull")
    val (out, err) = (new StringBuilder, new StringBuilder)
    val exit = scala.sys.process.Process(Seq("bash", "tools/unreached.sh"))
      .!(scala.sys.process.ProcessLogger(l => out ++= l + "\n", l => err ++= l + "\n"))
    assert(exit == 0, s"tools/unreached.sh exited $exit:\n$err")
    val listed = out.toString.linesIterator.filter(_.nonEmpty)
      .map(_.split('\t').last).toSet
    assert(listed -- keep == Set.empty, "unreached code in src/main:\n" +
      out.toString.linesIterator.filter(l => !keep(l.split('\t').last)).mkString("\n"))
    assert(keep -- listed == Set.empty, "keep-list items now reached; drop them from the list")
  }
}
