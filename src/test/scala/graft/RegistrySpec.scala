package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SparkEntry.registry]]'s shape, and the probes' fixed query lists
  * against it: a stale name would otherwise fail only when the probe
  * reaches it.
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
}
