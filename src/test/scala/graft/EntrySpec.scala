package graft

import graft.catalog.Gate

/** Driver-contract smoke: entry() returns rows; every declared query
  * runs at sf0.001; gate names are unique and every gate has an oracle.
  */
class EntrySpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries run at sf0.001 and return rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf()).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("gate names are unique and every oracle is non-empty") {
    val gates = Gate.all
    assert(gates.map(_.name).distinct.size == gates.size)
    assert(SparkEntry.queries.size == gates.size)
    val blank = gates.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"gates without oracle SQL: $blank")
    val e = intercept[IllegalArgumentException](Gate.registry(gates :+ gates.head))
    assert(e.getMessage.contains(gates.head.name))
  }
}
