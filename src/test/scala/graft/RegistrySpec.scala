package graft

import graft.SparkEntry._
import org.scalatest.funsuite.AnyFunSuite

/** The query registry is the one place a query is declared; these checks
  * pin the driver contract derived from it and the load-time validation
  * that keeps a malformed entry from loading at all. */
class RegistrySpec extends AnyFunSuite {

  /** Each rows-only query and the exact twin whose oracle pins its
    * semantics. */
  private val twins = Map(
    "x12b_distinct_approx"    -> "x12_distinct",
    "x25b_percentiles_approx" -> "x25_percentiles",
    "x28b_cosine_wide"        -> "x28_cosine_neardup",
    "x35b_simhash_wide"       -> "x35_simhash_pairs",
    "x56b_knn_ann"            -> "x56_knn_classify",
    "x59b_semdedup_wide"      -> "x59_semdedup")

  test("the 378 declared names are unique and are exactly the queries keys") {
    val names = registry.map(_.name)
    assert(names.size == 378)
    assert(names.distinct.size == names.size)
    assert(queries.keySet == names.toSet)
  }

  test("oracleSql keys are declared queries: every query but the rows-only six") {
    assert(oracleSql.keySet.subsetOf(queries.keySet))
    assert(oracleSql.size == 372)
    assert(queries.keySet -- oracleSql.keySet == twins.keySet)
  }

  test("the rows-only queries are exactly the six, each with an oracle-checked twin") {
    val rowsOnly = registry.collect { case Query(n, _, RowsOnly(why)) => n -> why }
    assert(rowsOnly.map(_._1).toSet == twins.keySet)
    for ((name, why) <- rowsOnly) {
      assert(why.trim.nonEmpty, name)
      assert(registry.exists(q => q.name == twins(name) && q.check.isInstanceOf[Oracle]),
        s"$name's twin ${twins(name)}")
    }
  }

  test("load-time validation rejects a duplicate name or a missing check, naming it") {
    assert(validated(registry) == registry)
    val dup = registry(3)
    val dupErr = intercept[IllegalStateException](validated(registry :+ dup))
    assert(dupErr.getMessage.contains(dup.name))
    val bare = registry(5)
    val noCheck = registry.updated(5, bare.copy(check = null))
    assert(intercept[IllegalStateException](validated(noCheck))
      .getMessage.contains(bare.name))
    val noReason = registry.map {
      case q @ Query("x12b_distinct_approx", _, _) => q.copy(check = RowsOnly(" "))
      case q => q
    }
    assert(intercept[IllegalStateException](validated(noReason))
      .getMessage.contains("x12b_distinct_approx"))
    intercept[IllegalStateException](validated(registry.tail))
  }
}
