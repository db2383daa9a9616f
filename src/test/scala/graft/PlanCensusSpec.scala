package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** PlanCensus's counters over a captured formatted explain. */
class PlanCensusSpec extends AnyFunSuite {

  // x136's count-min sketch is a scalar subquery hosted by two operators
  private lazy val x136 =
    Files.readString(Paths.get("plans/r15/x136_cms_heavyhitters_before.txt"))

  test("subqueries counts the formatted explain's Subquery:N headers") {
    assert(PlanCensus.subqueries(x136) == 2)
  }

  test("count matches only the anchored node kind") {
    assert(PlanCensus.count(x136, "Exchange") == 5)
    assert(PlanCensus.count(x136, "InMemoryTableScan") == 2)
  }
}
