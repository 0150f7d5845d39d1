package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Gate

/** The driver-contract invariants nothing else pins: every declared query
  * has an oracle (a missing entry silently degrades that gate to a
  * rows-only check) and no oracle is orphaned (a misspelled key would
  * silently never run). Map construction needs no SparkSession. */
class SparkEntrySpec extends AnyFunSuite {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty,
      s"queries without an oracle (driver degrades to rows-only): ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty,
      s"orphaned oracles (never run): ${(o -- q).toSeq.sorted}")
  }

  test("the gate count only moves deliberately") {
    // COVERAGE.md / README.md carry this number; failing here on an
    // accidental add/drop keeps the docs honest.
    assert(SparkEntry.queries.size == 181,
      s"gate count moved to ${SparkEntry.queries.size} — update COVERAGE.md/README.md and this pin")
  }

  test("a gate name declared twice is rejected and named") {
    val run: (SparkSession, String) => DataFrame = (_, _) => null
    val ok = Seq(Gate("a", run, "SELECT 1"), Gate("b", run, "SELECT 2"))
    assert(SparkEntry.unique(ok) == ok)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.unique(ok :+ Gate("a", run, "SELECT 3"))
    }
    assert(e.getMessage.contains("duplicate gate name(s): a"))
  }

  test("SPARK_GRAFT_ONLY selection trims, drops empties and names unknown gates") {
    val all = SparkEntry.gates.map(_.name)
    assert(SparkEntry.select("") == all)
    assert(SparkEntry.select(" , ") == all)
    assert(SparkEntry.select(" sky2d, ,txt_stats,sky2d") == Seq("sky2d", "txt_stats"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select("sky2d,sky2dd,txt_stat")
    }
    assert(e.getMessage.contains("unknown gate name(s): sky2dd, txt_stat"))
  }
}
