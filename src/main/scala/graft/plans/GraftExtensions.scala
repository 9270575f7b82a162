package graft.plans

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so `spark.sql("SELECT graft_cosine(a,b)")`
  * works next to the DataFrame API.
  *
  * Install with
  *   spark.sql.extensions=graft.plans.GraftExtensions
  * or programmatically via the session builder's `withExtensions(new
  * GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cosineDesc)
    ext.injectFunction(GraftExtensions.dotDesc)
    ext.injectFunction(GraftExtensions.md5LongDesc)
    ext.injectFunction(GraftExtensions.decodeDesc)
    ext.injectFunction(GraftExtensions.logBucketDesc)
    ext.injectFunction(GraftExtensions.logBucketEdgeDesc)
  }
}

object GraftExtensions {

  private[plans] val cosineDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(classOf[CosineSimilarityExpr].getName, "graft_cosine"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_cosine(arr, arr) takes 2 arguments")
      CosineSimilarityExpr(children.head, children(1))
    })

  private[plans] val dotDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_dot(arr, arr) takes 2 arguments")
      DotProductExpr(children.head, children(1))
    })

  private[plans] val md5LongDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_md5long"),
    new ExpressionInfo(classOf[Md5Long64Expr].getName, "graft_md5long"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "graft_md5long(str) takes 1 argument")
      Md5Long64Expr(children.head)
    })

  private[plans] val decodeDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_decode_frame"),
    new ExpressionInfo(classOf[DecodeTickFrameExpr].getName, "graft_decode_frame"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "graft_decode_frame(binary) takes 1 argument")
      DecodeTickFrameExpr(children.head)
    })

  private[plans] val logBucketDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_logbucket"),
    new ExpressionInfo(classOf[Log2BucketExpr].getName, "graft_logbucket"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "graft_logbucket(double) takes 1 argument")
      Log2BucketExpr(children.head)
    })

  private[plans] val logBucketEdgeDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_logbucket_edge"),
    new ExpressionInfo(classOf[Log2BucketEdgeExpr].getName, "graft_logbucket_edge"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "graft_logbucket_edge(long) takes 1 argument")
      Log2BucketEdgeExpr(children.head)
    })

  /** Register the SQL functions on an already-running session (the
    * builder-time extensions path doesn't apply to reused sessions). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    for ((ident, info, builder) <- Seq(cosineDesc, dotDesc, md5LongDesc,
        decodeDesc, logBucketDesc, logBucketEdgeDesc))
      Bridge.registerFunction(spark, ident, info, builder)
  }

  /** Column-API access without requiring session extensions. */
  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarityExpr(Bridge.expression(a), Bridge.expression(b)))

  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProductExpr(Bridge.expression(a), Bridge.expression(b)))

  def md5Long(s: Column): Column =
    Bridge.column(Md5Long64Expr(Bridge.expression(s)))

  def decodeFrame(payload: Column): Column =
    Bridge.column(DecodeTickFrameExpr(Bridge.expression(payload)))

  def logBucket(value: Column): Column =
    Bridge.column(Log2BucketExpr(Bridge.expression(value)))

  def logBucketEdge(key: Column): Column =
    Bridge.column(Log2BucketEdgeExpr(Bridge.expression(key)))

  /** Fused text statistics (TextStatsExpr) — the quality projection's
    * single-pass replacements for the regex/split formulations. */
  def textStat(text: Column, stat: Int): Column =
    Bridge.column(TextStatsExpr(Bridge.expression(text), stat))

  /** Fused CCNet-style normalization (NormTextExpr) — the single-pass
    * replacement for the two-regex normalizedText chain. */
  def normText(text: Column): Column =
    Bridge.column(NormTextExpr(Bridge.expression(text)))

  /** Packed single-pass quality stats (TextStatsAllExpr, round 18):
    * struct(n_words, stop_hits, stop_mask, alnum_space, non_space) from
    * ONE text scan. */
  def textStatsAll(text: Column): Column =
    Bridge.column(TextStatsAllExpr(Bridge.expression(text)))

  /** Fused per-doc bigram repetition stats (RepetitionStatsExpr, round
    * 18): struct(n_bigrams, top_c, n_distinct) — no explode, no
    * shuffle. */
  def repStats(text: Column): Column =
    Bridge.column(RepetitionStatsExpr(Bridge.expression(text)))
}
