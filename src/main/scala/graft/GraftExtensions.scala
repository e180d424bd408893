package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CdcChunkWalk, DotProduct, ExactPercentile, JaroWinkler, RangeL2, ScoreTopK, SpaceSavingTopK, SrpCodes}

/** SparkSessionExtensions entry point: injects graft's native functions so
  * `spark.sql("... graft_dot(a, b) ...")` works in any session built with
  * `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`).
  *
  * It also installs, once per JVM, the fork-free local file system
  * ([[graft.sources.NioLocalFs]]) for `file:` paths. Without libhadoop,
  * Hadoop's own local file system forks a `chmod` per created file or
  * directory and a `readlink` per link-status probe, and every streaming
  * epoch writes several such files (offset and commit logs, state-store
  * deltas, lake staging), so the forks dominated micro-batch latency. The
  * install is a Hadoop default resource: `withExtensions` runs `apply`
  * before the SparkContext and its cached `file:` FileSystem exist, and
  * explicit `spark.hadoop.fs.*` or `core-site.xml` values still win. With
  * `spark.sql.extensions`, `apply` runs after the SparkContext is built,
  * so a `file:` FileSystem cached before that keeps Hadoop's class.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    graft.sources.NioLocalFs.install()
    e.injectFunction(GraftFunctions.dotProductDescriptor)
    e.injectFunction(GraftFunctions.topKDescriptor)
    e.injectFunction(GraftFunctions.cdcChunksDescriptor)
    e.injectFunction(GraftFunctions.scoreTopKDescriptor)
    e.injectFunction(GraftFunctions.jaroWinklerDescriptor)
    e.injectFunction(GraftFunctions.exactPctDescriptor)
    e.injectFunction(GraftFunctions.srpCodesDescriptor)
    e.injectFunction(GraftFunctions.rangeL2Descriptor)
    // SQL UPDATE over lake tables → the merge-on-read DV update (r12);
    // non-lake / out-of-scope UPDATEs fall through to Spark's own error
    e.injectPostHocResolutionRule(session =>
      new graft.sources.LakeUpdateRule(session))
    // SQL OPTIMIZE / VACUUM for lake tables (r12) — the Delta pattern:
    // a parser that recognizes exactly these two statements and
    // delegates everything else untouched
    e.injectParser((session, delegate) =>
      new graft.sources.GraftSqlParser(session, delegate))
  }
}

object GraftFunctions {
  private[graft] val dotProductDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (children: Seq[Expression]) => DotProduct(children(0), children(1))
  )

  private def litInt(e: Expression, what: String): Int = {
    // foldable check first: eval() on a non-foldable argument (e.g. a
    // column reference) would die on an unbound reference deep inside
    // eval instead of surfacing this message
    if (!e.foldable) throw new IllegalArgumentException(
      s"graft_topk $what must be an integer literal, got non-literal $e")
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"graft_topk $what must be an integer literal, got $other")
    }
  }

  private[graft] val topKDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_topk"),
    new ExpressionInfo(classOf[SpaceSavingTopK].getName, "graft_topk"),
    (children: Seq[Expression]) => SpaceSavingTopK(
      children(0), litInt(children(1), "capacity"), litInt(children(2), "k"))
  )

  private def litBool(e: Expression, what: String): Boolean = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"graft_cdc_chunks $what must be a boolean literal, got non-literal $e")
    e.eval() match {
      case b: java.lang.Boolean => b.booleanValue()
      case other => throw new IllegalArgumentException(
        s"graft_cdc_chunks $what must be a boolean literal, got $other")
    }
  }

  private[graft] def cdcChunksFromExprs(children: Seq[Expression]): Expression =
    CdcChunkWalk(children(0),
                 litInt(children(1), "window"), litInt(children(2), "modulus"),
                 litInt(children(3), "minLen"), litInt(children(4), "maxLen"),
                 litBool(children(5), "fast"))

  private[graft] val cdcChunksDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cdc_chunks"),
    new ExpressionInfo(classOf[CdcChunkWalk].getName, "graft_cdc_chunks"),
    cdcChunksFromExprs _
  )

  private[graft] val jaroWinklerDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_jaro_winkler"),
    new ExpressionInfo(classOf[JaroWinkler].getName, "graft_jaro_winkler"),
    (children: Seq[Expression]) => JaroWinkler(children(0), children(1))
  )

  /** Percentage argument of graft_exact_pct: a foldable double literal
    * or a foldable array of doubles — returns (values, returnsArray). */
  private def litPcts(e: Expression): (Seq[Double], Boolean) = {
    if (!e.foldable) throw new IllegalArgumentException(
      "graft_exact_pct percentage must be a literal (or literal array), " +
      s"got non-literal $e")
    e.eval() match {
      case n: Number => (Seq(n.doubleValue()), false)
      case d: org.apache.spark.sql.types.Decimal => (Seq(d.toDouble), false)
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        (a.toDoubleArray().toSeq, true)
      case other => throw new IllegalArgumentException(
        s"graft_exact_pct percentage must be numeric, got $other")
    }
  }

  private[graft] def exactPctFromExprs(children: Seq[Expression]): Expression = {
    val (ps, isArr) = litPcts(children(1))
    ExactPercentile(children(0), ps, isArr)
  }

  private[graft] val exactPctDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_exact_pct"),
    new ExpressionInfo(classOf[ExactPercentile].getName, "graft_exact_pct"),
    exactPctFromExprs _
  )

  private[graft] def srpCodesFromExprs(children: Seq[Expression]): Expression =
    SrpCodes(children(0), litInt(children(1), "tables"),
             litInt(children(2), "bits"), litInt(children(3), "dims"))

  private[graft] val srpCodesDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_srp_codes"),
    new ExpressionInfo(classOf[SrpCodes].getName, "graft_srp_codes"),
    srpCodesFromExprs _
  )

  private[graft] val rangeL2Descriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_l2"),
    new ExpressionInfo(classOf[RangeL2].getName, "graft_l2"),
    (children: Seq[Expression]) => RangeL2(
      children(0), children(1), children(2), children(3))
  )

  private[graft] val scoreTopKDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_score_topk"),
    new ExpressionInfo(classOf[ScoreTopK].getName, "graft_score_topk"),
    (children: Seq[Expression]) => ScoreTopK(
      children(0), children(1), litInt(children(2), "k"))
  )

  /** Register on an existing session; ops then reference the function with
    * `expr("graft_dot(x, y)")` — routed through the registry so nothing
    * depends on Column's private Expression constructor (changed in the
    * Spark 4 Connect refactor). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => DotProduct(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_topk", exprs => SpaceSavingTopK(
        exprs(0), litInt(exprs(1), "capacity"), litInt(exprs(2), "k")),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_cdc_chunks", cdcChunksFromExprs, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_score_topk", exprs => ScoreTopK(
        exprs(0), exprs(1), litInt(exprs(2), "k")), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_jaro_winkler", exprs => JaroWinkler(exprs(0), exprs(1)),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_exact_pct", exactPctFromExprs, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_srp_codes", srpCodesFromExprs, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_l2", exprs => RangeL2(exprs(0), exprs(1), exprs(2), exprs(3)),
      "scala_udf")
  }
}
