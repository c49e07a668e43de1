package graft

import graft.SparkEntry.Gate
import org.scalatest.funsuite.AnyFunSuite

/** The gate registry's contract: each gate is declared once, with a
  * full oracle, and `queries` / `oracleSql` are views over the one list.
  */
class GateRegistrySpec extends AnyFunSuite {
  private val gates = SparkEntry.gates
  private val names = gates.map(_.name)

  test("the registry holds 192 gates with distinct names") {
    assert(gates.size === 192)
    assert(names.distinct.size === names.size)
  }

  test("every gate name starts with a family letter r g d s t p m") {
    assert(names.filterNot(_.matches("[rgdstpm][0-9]+_\\w+")) === Nil)
  }

  test("every gate carries a non-blank oracle") {
    assert(gates.filter(_.oracleSql.trim.isEmpty).map(_.name) === Nil)
  }

  test("queries and oracleSql hold exactly the registry's names") {
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.oracleSql.keySet === names.toSet)
  }

  test("select with no names returns every gate; named gates come in registry order") {
    assert(SparkEntry.select(Nil) === gates)
    val picked = Seq("r02_filter_project", "r01_count")
    assert(SparkEntry.select(picked).map(_.name) === names.filter(picked.contains))
  }

  test("select rejects a name not in the registry and lists it") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Seq("r01_count", "r01_cuont", "zz_nope"))
    }
    assert(e.getMessage.contains("r01_cuont") && e.getMessage.contains("zz_nope"))
    assert(!e.getMessage.contains("r01_count"))
  }

  test("a registry that declares a name twice fails to build") {
    val run = SparkEntry.queries("r01_count")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.registry(Gate("x01_a", run, "SELECT 1"),
        Gate("x02_b", run, "SELECT 2"), Gate("x01_a", run, "SELECT 3"))
    }
    assert(e.getMessage.contains("x01_a") && !e.getMessage.contains("x02_b"))
  }
}
