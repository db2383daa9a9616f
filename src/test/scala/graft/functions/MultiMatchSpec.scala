package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.AnalysisException
import scala.util.Random

/** MultiMatch's one-pass automaton must equal the naive per-pattern
  * contains/strpos semantics: distinct-presence count, min 1-based start
  * offset, lexicographic tie-break — including nested patterns, overlapping
  * self-matches, failure-link transitions, and the interpreted-vs-codegen
  * paths. Analysis-time validation of the pattern literal is pinned too.
  */
class MultiMatchSpec extends SparkSpec {
  import spark.implicits._

  private def mm(text: String, pats: Seq[String]): (Int, Int, String) = {
    val p = pats.map(t => s"'$t'").mkString(", ")
    val r = Seq(text).toDF("t")
      .selectExpr(s"multi_match(t, array($p)) AS m")
      .select("m.n_matched", "m.first_pos", "m.first_term")
      .head()
    (r.getInt(0), r.getInt(1), r.getString(2))
  }

  test("basic presence, first offset, and no-match sentinel") {
    assert(mm("the quick brown fox", Seq("quick", "fox", "cat")) == ((2, 5, "quick")))
    assert(mm("nothing here", Seq("zebra", "yak")) == ((0, 0, "")))
  }

  test("nested patterns starting together tie-break to the lexicographically smaller") {
    // both "fast" and "fast sort" start at offset 1 -> min(term) = "fast"
    assert(mm("fast sort wins", Seq("fast sort", "fast")) == ((2, 1, "fast")))
    // a pattern strictly inside another still counts as present, and the
    // outer one (earlier start) wins first_term
    assert(mm("xfast sorty", Seq("fast sort", "ast")) == ((2, 2, "fast sort")))
  }

  test("failure links: suffix restarts find overlapping occurrences across patterns") {
    // after failing "aab" at the third char, the automaton must still see "ab"
    assert(mm("aab", Seq("aab", "ab")) == ((2, 1, "aab")))
    // self-overlapping pattern present once is still n_matched = 1
    assert(mm("a a a a", Seq("a a")) == ((1, 1, "a a")))
  }

  test("null text yields a null struct; non-ASCII text bytes reset, ASCII matches survive") {
    val out = Seq[Option[String]](None, Some("héllo key café key"))
      .toDF("t").selectExpr("multi_match(t, array('key', 'llo')) AS m")
      .select("m").collect()
    assert(out(0).isNullAt(0))
    // "llo" sits after the 2-byte é: bytes reset to root then re-match
    val r = out(1).getStruct(0)
    assert(r.getInt(0) == 2, r.toString) // key + llo
  }

  test("pattern-literal validation fails at analysis time") {
    def bad(expr: String): String =
      intercept[AnalysisException] {
        Seq("x").toDF("t").selectExpr(s"multi_match(t, $expr)").collect()
      }.getMessage
    assert(bad("array('a', 'a')").contains("distinct"))
    assert(bad("array('')").contains("non-empty"))
    assert(bad("array('café')").contains("ASCII"))
    assert(bad("t").contains("foldable")) // non-foldable pattern argument
    val many = (1 to 65).map(i => s"'p$i'").mkString(", ")
    assert(bad(s"array($many)").contains("64"))
  }

  test("adversarial nested repeats: every chain pattern found, counts exact") {
    // "aa".."aaaaa" on "aaaaaa": all present; first_pos 1 for all; tie-break
    // to the shortest (lexicographically smallest) chain member
    val pats = Seq("aa", "aaa", "aaaa", "aaaaa")
    assert(mm("aaaaaa", pats) == ((4, 1, "aa")))
    assert(mm("a", pats) == ((0, 0, "")))
    // alternating text defeats the chain beyond length 2
    assert(mm("ababab", Seq("aa", "ab", "ba", "bab")) == ((3, 1, "ab")))
  }

  test("automaton equals per-pattern strpos on random word-bag text (codegen and interpreted)") {
    val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "a", "the")
    val pats = Seq("fast", "fast table", "a a", "the key", "scan slow", "row")
    val rnd = new Random(42)
    val texts = Seq.fill(300)(Seq.fill(rnd.nextInt(30) + 1)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try {
        val p = pats.map(t => s"'$t'").mkString(", ")
        val got = texts.toDF("t")
          .selectExpr(s"multi_match(t, array($p)) AS m", "t")
          .select(col("t"), col("m.n_matched"), col("m.first_pos"), col("m.first_term"))
          .collect()
        got.foreach { r =>
          val t = r.getString(0)
          val present = pats.filter(t.contains)
          assert(r.getInt(1) == present.size, s"n_matched for <$t>")
          if (present.isEmpty) assert(r.getInt(2) == 0 && r.getString(3) == "")
          else {
            val minPos = present.map(p => t.indexOf(p) + 1).min
            val expectTerm = present.filter(p => t.indexOf(p) + 1 == minPos).min
            assert(r.getInt(2) == minPos, s"first_pos for <$t>")
            assert(r.getString(3) == expectTerm, s"first_term for <$t>")
          }
        }
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
