package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** SQL-dialect extension — the PARSER face of `SparkSessionExtensions`
  * (`injectParser`), the same mechanism Delta Lake uses for `VACUUM` /
  * `OPTIMIZE`: a delegating `ParserInterface` that recognizes one extra
  * statement and hands everything else to Spark's own parser untouched.
  *
  * The statement is the SQL surface for the engine's keep-first dedup
  * (reference semantics `flows/pipeline.py:149-151` — pandas
  * `drop_duplicates` keeps the first row per key; §2 operator D1):
  *
  * {{{
  *   DEDUP <table> BY <keyExpr, ...> ORDER BY <sortExpr [ASC|DESC], ...>
  * }}}
  *
  * which rewrites to the standard window idiom
  *
  * {{{
  *   SELECT * EXCEPT (__graft_rn) FROM (
  *     SELECT *, row_number() OVER (
  *       PARTITION BY <keys> ORDER BY <order>) AS __graft_rn
  *     FROM <table>) WHERE __graft_rn = 1
  * }}}
  *
  * Design choices, spec-pinned in `GraftSqlParserSpec`:
  *  - the rewrite targets Spark's OWN grammar (`SELECT * EXCEPT` is in the
  *    Spark 4 parser), so Catalyst sees a plain analyzed window plan —
  *    every downstream optimization (column pruning through the window,
  *    filter pushdown below the partition keys, `TopKRewrite` when the
  *    conf is on) applies exactly as if the user had written the idiom;
  *  - `<table>` must be a (possibly multipart) identifier — validated via
  *    the delegate's `parseMultipartIdentifier`, so junk produces a real
  *    `ParseException`, not a mangled rewrite;
  *  - key/order fragments are spliced verbatim and validated by the
  *    delegated parse of the rewritten text — malformed expressions
  *    surface as the delegate's own `ParseException`;
  *  - NULL keys group together (both engines' window semantics), so
  *    all-null key rows dedup to one survivor like any other group.
  *
  * Scale shape: the rewrite IS the x10/r3 dedup plan — one hash exchange
  * on the keys, in-partition sort, rn=1 filter; with
  * `spark.graft.topk.rewrite=true` the optimizer face turns it into the
  * `TopKPerKey` operator (map-side bounded heaps) — the two extension
  * faces compose.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(standard(sqlText))

  // `spark.sql(text, args)` and `EXECUTE IMMEDIATE ... USING` parse through
  // here; the trait's default would drop the parameter context.
  override def parsePlanWithParameters(sqlText: String, ctx: ParameterContext): LogicalPlan =
    delegate.parsePlanWithParameters(standard(sqlText), ctx)

  private def standard(sqlText: String): String =
    GraftSqlParser.rewrite(sqlText, delegate).getOrElse(sqlText)

  // Everything below is Spark's dialect, untouched.
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier = delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier = delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] = delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
}

object GraftSqlParser {

  /** `DEDUP <table> BY <keys> ORDER BY <order>` — table lazily up to the
    * first ` BY `, keys lazily up to the first ` ORDER BY `; trailing
    * semicolon tolerated. Case-insensitive, DOTALL (expressions may span
    * lines).
    */
  private val Dedup =
    """(?is)\A\s*DEDUP\s+(.+?)\s+BY\s+(.+?)\s+ORDER\s+BY\s+(.+?)\s*;?\s*\z""".r

  /** The rewritten standard-SQL form of a `DEDUP` statement, or None if
    * `sqlText` is not one (→ the parser passes the text through unchanged).
    * The table part must parse as a multipart identifier under `delegate`.
    */
  def rewrite(sqlText: String, delegate: ParserInterface): Option[String] =
    sqlText match {
      case Dedup(table, keys, order) =>
        // Validates + canonically re-quotes the identifier; a non-identifier
        // table part (subquery, garbage) throws the delegate's own
        // ParseException with the offending text in the message.
        val parts = delegate.parseMultipartIdentifier(table.trim)
        val tbl = parts.map(p => s"`${p.replace("`", "``")}`").mkString(".")
        Some(
          s"""SELECT * EXCEPT (__graft_rn) FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY ${keys.trim} ORDER BY ${order.trim}) AS __graft_rn
             |  FROM $tbl) WHERE __graft_rn = 1""".stripMargin)
      case _ => None
    }
}
