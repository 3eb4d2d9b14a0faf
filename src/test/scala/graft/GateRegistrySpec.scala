package graft

import graft.gates.Gate
import org.scalatest.funsuite.AnyFunSuite

/** The one query registry: both contract maps are views of it, and a gate
  * name defined twice cannot silently shadow another. */
class GateRegistrySpec extends AnyFunSuite {

  private lazy val spark = SparkSuite.spark

  test("gate names are unique and both contract maps carry the same 111") {
    val names = Gate.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.size == 111)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("every oracle is non-blank") {
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"blank oracles: $blank")
  }

  test("entry is the ext_kind_counts gate at sf0.001") {
    val e = SparkEntry.entry(spark)
    val g = SparkEntry.queries("ext_kind_counts")(spark, "/root/testdata/sf0.001")
    assert(e.schema == g.schema)
    assert(e.collect().toSet == g.collect().toSet)
  }

  test("a duplicate gate name raises IllegalStateException naming it") {
    val dup = Gate.all(7).copy(oracle = "SELECT 1")
    val e = intercept[IllegalStateException](Gate.byName(Gate.all :+ dup))
    assert(e.getMessage.contains(dup.name))
  }
}
