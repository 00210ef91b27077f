package graft.plans

import graft.functions._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  Literal}

/** SparkSessionExtensions module: registers the graft expressions as
  * SQL functions, so the engine's surface is reachable from plain
  * `spark.sql(...)` text (and spark-sql / JDBC users), not only the
  * Column API:
  *
  *   SELECT graft_dot(a.embedding, b.embedding) FROM ...
  *
  * Activate via `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`; or call
  * [[GraftExtensions.register]] on an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.definitions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // ANN leaf pruning (SURVEY §4-3): resolution-time, so the whole
    // optimizer (pushdown, partition pruning) sees a plain In filter
    e.injectResolutionRule(_ => AnnLeafPruningRule)
  }
}

object GraftExtensions {

  private def d(c: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(c,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))

  private def cast(c: Expression,
      t: org.apache.spark.sql.types.DataType): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(c, t)

  /** k for graft_top_k must be a foldable integer — one k per query
    * text, not a per-row limit.
    */
  private def literalK(e: Expression): Int = e match {
    case l if l.foldable => l.eval() match {
      case i: Int  => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"graft_top_k: k must be an integer literal, got $other")
    }
    case _ => throw new IllegalArgumentException(
      "graft_top_k(score, id, k): k must be a literal")
  }

  private[plans] val definitions: Seq[(String, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(d(args(0)), d(args(1)))),
    ("graft_cosine",
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (args: Seq[Expression]) => CosineSimilarity(d(args(0)), d(args(1)))),
    ("graft_l2",
      new ExpressionInfo(classOf[L2Distance].getName, "graft_l2"),
      (args: Seq[Expression]) => L2Distance(d(args(0)), d(args(1)))),
    ("graft_norm",
      new ExpressionInfo(classOf[L2Norm].getName, "graft_norm"),
      (args: Seq[Expression]) => L2Norm(d(args(0)))),
    ("graft_polyhash",
      new ExpressionInfo(classOf[PolyHash].getName, "graft_polyhash"),
      (args: Seq[Expression]) => PolyHash(args(0))),
    ("graft_bpe_count",
      new ExpressionInfo(classOf[BpeTokenCount].getName, "graft_bpe_count"),
      (args: Seq[Expression]) => BpeTokenCount(args(0))),
    // bare AggregateFunction: the analyzer wraps it in an
    // AggregateExpression exactly as for built-in aggregates; no
    // crowding attribute, no cap — each id once, by its best copy
    ("graft_top_k",
      new ExpressionInfo(classOf[TopKCrowded].getName, "graft_top_k"),
      (args: Seq[Expression]) => TopKCrowded(
        cast(args(0), org.apache.spark.sql.types.DoubleType), args(1), None,
        Literal(literalK(args(2))), Literal(Int.MaxValue))),
    ("graft_ann_probe",
      new ExpressionInfo(classOf[AnnProbe].getName, "graft_ann_probe"),
      (args: Seq[Expression]) => AnnProbe(args(0), args(1), d(args(2)),
        args(3))),
    // the BQ shortlist rung, SQL-reachable: pack sign bits, score the
    // asymmetric sign-dot, measure code-to-code hamming
    ("graft_bq_pack",
      new ExpressionInfo(classOf[PackSign].getName, "graft_bq_pack"),
      (args: Seq[Expression]) => PackSign(d(args(0)))),
    ("graft_bq_dot",
      new ExpressionInfo(classOf[BqDot].getName, "graft_bq_dot"),
      (args: Seq[Expression]) => BqDot(args(0), d(args(1)))),
    ("graft_bq_hamming",
      new ExpressionInfo(classOf[BqHamming].getName, "graft_bq_hamming"),
      (args: Seq[Expression]) => BqHamming(args(0), args(1))))

  /** Idempotent registration on a live session (temp functions +
    * the leaf-pruning rewrite). Analyzer rules can't be added to a
    * live session, so the rewrite joins via
    * `experimental.extraOptimizations` (end of optimization) — by
    * then the probe predicate's Filter sits on the relation it was
    * written against, and FileSourceStrategy splits partition filters
    * at PLANNING, after the rewrite, so leaf pruning still holds.
    */
  def register(spark: SparkSession): Unit = {
    definitions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(AnnLeafPruningRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AnnLeafPruningRule
  }
}
