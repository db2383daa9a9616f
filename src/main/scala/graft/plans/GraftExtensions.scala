package graft.plans

import graft.functions.{CharNgrams, CmsEstimate, FloatDot, MicroL2, MinhashAll, MinWindowMd5, MultiMatch, NfcNormalize, SpaceSavingTopK, StripAccents, UnicodeNorm}
import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Engine extension point: graft's native Catalyst expressions, the
  * `TopKRewrite` optimizer rule, the `TopKPerKey` planner strategy and the
  * `DEDUP` parser.
  *
  * One activation path: the session is built with them
  * (`graft.core.Tuning.session` calls `withExtensions`; the
  * `spark.sql.extensions=graft.plans.GraftExtensions` conf is the same
  * mechanism). A live session cannot gain them, and `newSession()` keeps
  * them.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => TopKRewrite)
    ext.injectPlannerStrategy(_ => TopKPerKey.Strategy)
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
  }
}

object GraftExtensions {
  private val functions: Seq[(FunctionIdentifier, ExpressionInfoLike, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("float_dot"), FloatDot.info,
      (children: Seq[Expression]) => FloatDot(children(0), children(1))),
    (FunctionIdentifier("micro_l2"), MicroL2.info,
      (children: Seq[Expression]) => MicroL2(children(0), children(1))),
    (FunctionIdentifier("min_window_md5"), MinWindowMd5.info,
      (children: Seq[Expression]) => MinWindowMd5(children(0), children(1))),
    (FunctionIdentifier("minhash_all"), MinhashAll.info,
      (children: Seq[Expression]) => MinhashAll(children(0), children(1))),
    (FunctionIdentifier("nfc_normalize"), UnicodeNorm.nfcInfo,
      (children: Seq[Expression]) => NfcNormalize(children(0))),
    (FunctionIdentifier("strip_accents"), UnicodeNorm.stripInfo,
      (children: Seq[Expression]) => StripAccents(children(0))),
    (FunctionIdentifier("cms_estimate"), CmsEstimate.info,
      (children: Seq[Expression]) => CmsEstimate(children(0), children(1))),
    (FunctionIdentifier("space_saving"), SpaceSavingTopK.info,
      (children: Seq[Expression]) => SpaceSavingTopK(children(0), children(1))),
    (FunctionIdentifier("char_ngrams"), CharNgrams.info,
      (children: Seq[Expression]) => CharNgrams(children(0), children(1))),
    (FunctionIdentifier("multi_match"), MultiMatch.info,
      (children: Seq[Expression]) => MultiMatch(children(0), children(1))),
    // Spark ships BloomFilterAggregate/BloomFilterMightContain as INTERNAL
    // expressions (the runtime-filter rule's machinery, not in the public
    // registry) — surfacing them as session functions gives queries the
    // build-once/probe-everywhere Bloom primitive (x123's contamination
    // prefilter) with zero custom code: the aggregate emits the filter's
    // serialized bytes, might_contain is a codegen'd probe.
    (FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfoLike(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(c)        => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
        case Seq(c, n)     => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
        case Seq(c, n, b)  => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
        case other => throw new IllegalArgumentException( // not MatchError
          s"bloom_filter_agg expects 1-3 arguments, got ${other.size}")
      }),
    (FunctionIdentifier("might_contain"),
      new ExpressionInfoLike(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(children(0), children(1))))

  private type ExpressionInfoLike = org.apache.spark.sql.catalyst.expressions.ExpressionInfo
}
