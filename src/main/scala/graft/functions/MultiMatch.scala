package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic Aho–Corasick automaton over a fixed ASCII pattern set:
  * ONE left-to-right pass over the text finds every occurrence of every
  * pattern, independent of how many patterns there are. The alternative a
  * SQL user reaches for — one `contains`/`strpos` per pattern — rescans
  * the text P times; on a 100 TB corpus with a realistic blocklist
  * (hundreds of phrases) that is the difference between one scan and
  * hundreds. The automaton is built ONCE on the driver from the foldable
  * pattern literal and shipped to executors inside the plan (same
  * mechanism as a compiled regex reference), so per-row work is a tight
  * byte loop with zero allocation beyond the result row.
  *
  * Construction is the textbook trie + BFS failure links, folded into a
  * total transition function delta(state, byte) so the scan loop has no
  * failure-chasing inner loop; per-state output lists are pre-merged
  * through the failure chain (out(v) = own(v) ++ out(fail(v))).
  *
  * Positions are 1-based BYTE offsets; patterns are required to be pure
  * ASCII, and on ASCII text (the fixtures) byte offsets equal the
  * character offsets DuckDB's `strpos` reports. Non-ASCII input bytes
  * cannot appear inside a match and reset the automaton to the root.
  */
final class AhoCorasick private (
    next: Array[Array[Int]],     // total delta: [state][byte 0..127] -> state
    outs: Array[Array[Int]],     // pattern indices matching at each state
    patLen: Array[Int],
    patUtf: Array[UTF8String]) extends Serializable {

  /** Scan `s`, returning (n_matched, first_pos, first_term):
    *  - n_matched  — how many DISTINCT patterns occur at least once
    *  - first_pos  — the smallest 1-based start offset of any match
    *                 (0 when nothing matches)
    *  - first_term — the pattern starting there; ties (two patterns
    *                 starting at the same offset, i.e. one a prefix of
    *                 the other) break to the lexicographically smaller,
    *                 matching `min(term)` in SQL
    * Distinctness is a 64-bit seen-mask in a register (the build caps the
    * pattern count at 64), so the loop allocates nothing.
    */
  def scan(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    var st = 0
    var mask = 0L
    var n = 0
    var minStart = Int.MaxValue
    var minIdx = -1
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      st = if (b < 128) next(st)(b) else 0
      val o = outs(st)
      var j = 0
      while (j < o.length) {
        val p = o(j)
        val bit = 1L << p
        if ((mask & bit) == 0L) { mask |= bit; n += 1 }
        val start = i + 2 - patLen(p) // end byte is i (0-based) -> 1-based start
        if (start < minStart ||
            (start == minStart && patUtf(p).compareTo(patUtf(minIdx)) < 0)) {
          minStart = start
          minIdx = p
        }
        j += 1
      }
      i += 1
    }
    if (minIdx < 0) new GenericInternalRow(Array[Any](n, 0, UTF8String.EMPTY_UTF8))
    else new GenericInternalRow(Array[Any](n, minStart, patUtf(minIdx)))
  }
}

object AhoCorasick {
  val MaxPatterns = 64 // seen-set fits one long; raise to Long[] if ever needed

  /** Validate-and-build; returns Left(reason) for analysis-time errors. */
  def build(patterns: Array[String]): Either[String, AhoCorasick] = {
    if (patterns.isEmpty) return Left("pattern list must be non-empty")
    if (patterns.length > MaxPatterns)
      return Left(s"at most $MaxPatterns patterns supported, got ${patterns.length}")
    if (patterns.exists(p => p == null || p.isEmpty))
      return Left("patterns must be non-null and non-empty")
    if (patterns.exists(_.exists(_ >= 128)))
      return Left("patterns must be pure ASCII")
    if (patterns.distinct.length != patterns.length)
      return Left("patterns must be distinct")

    val cap = 1 + patterns.map(_.length).sum
    val trie = Array.fill(cap, 128)(-1)
    val own = Array.fill(cap)(List.empty[Int])
    var nNodes = 1
    patterns.zipWithIndex.foreach { case (p, idx) =>
      var st = 0
      p.foreach { c =>
        if (trie(st)(c) == -1) { trie(st)(c) = nNodes; nNodes += 1 }
        st = trie(st)(c)
      }
      own(st) ::= idx
    }
    // BFS: failure links, fold into a total delta, merge output lists
    val fail = new Array[Int](nNodes)
    val merged = new Array[Array[Int]](nNodes)
    merged(0) = own(0).sorted.toArray
    val queue = scala.collection.mutable.Queue.empty[Int]
    (0 until 128).foreach { c =>
      val v = trie(0)(c)
      if (v == -1) trie(0)(c) = 0
      else { fail(v) = 0; queue += v }
    }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      merged(u) = (own(u) ++ merged(fail(u)).toList).sorted.toArray
      (0 until 128).foreach { c =>
        val v = trie(u)(c)
        if (v == -1) trie(u)(c) = trie(fail(u))(c)
        else { fail(v) = trie(fail(u))(c); queue += v }
      }
    }
    Right(new AhoCorasick(
      trie.take(nNodes), merged.take(nNodes),
      patterns.map(_.length), patterns.map(UTF8String.fromString)))
  }
}

/** `multi_match(text, array('p1', 'p2', …))` — single-pass multi-pattern
  * scan returning `struct<n_matched int, first_pos int, first_term
  * string>` (see [[AhoCorasick]] for semantics and the scale argument).
  * The pattern argument must be a foldable pure-ASCII array literal of at
  * most 64 distinct non-empty strings — enforced at ANALYSIS time, so a
  * bad blocklist fails the query before any task launches. Null text →
  * null struct; a no-match scan returns (0, 0, '') rather than nulls so
  * downstream aggregation needs no null handling.
  */
case class MultiMatch(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StringType, _)) if right.foldable =>
        acOrError match {
          case Left(reason) => TypeCheckResult.TypeCheckFailure(s"$prettyName: $reason")
          case Right(_)     => TypeCheckResult.TypeCheckSuccess
        }
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, foldable array<string>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  private lazy val acOrError: Either[String, AhoCorasick] = {
    val arr = right.eval().asInstanceOf[ArrayData]
    if (arr == null) Left("pattern array must not be null")
    else if ((0 until arr.numElements()).exists(arr.isNullAt)) Left("patterns must be non-null and non-empty")
    else AhoCorasick.build(
      (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString).toArray)
  }

  private lazy val ac: AhoCorasick =
    acOrError.fold(reason => throw new IllegalStateException(reason), identity)

  override def dataType: DataType = StructType(Seq(
    StructField("n_matched", IntegerType, nullable = false),
    StructField("first_pos", IntegerType, nullable = false),
    StructField("first_term", StringType, nullable = false)))
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "multi_match"

  override def nullSafeEval(text: Any, pats: Any): Any =
    ac.scan(text.asInstanceOf[UTF8String])

  // Codegen references the prebuilt automaton (the compiled-regex pattern):
  // the row loop stays inside WholeStageCodegen, the scan is one virtual
  // call into the automaton's allocation-free byte loop.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acRef = ctx.addReferenceObj("multiMatchAc", ac, classOf[AhoCorasick].getName)
    nullSafeCodeGen(ctx, ev, (text, _) => s"${ev.value} = $acRef.scan($text);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MultiMatch =
    copy(left = newLeft, right = newRight)
}

object MultiMatch {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[MultiMatch].getName, "multi_match")
}
