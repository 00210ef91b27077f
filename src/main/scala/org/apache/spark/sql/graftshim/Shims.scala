package org.apache.spark.sql
package graftshim

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BloomFilterMightContain, Expression, GenericInternalRow, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{BinaryType, IntegerType}

/** Bridge into `private[sql]` Column↔Expression converters — the same
  * pattern public Spark extension libraries use to expose custom
  * Catalyst expressions as Columns.
  */
object Shims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** EAGER Column → catalyst conversion (the converter the classic
    * session applies at analysis): unlike [[expression]]'s lazy
    * wrapper, the returned tree is pattern-matchable immediately —
    * needed for plan-time predicate inspection outside any query.
    */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Spark's own runtime-filter bloom aggregate (the expression
    * InjectRuntimeFilter builds), exposed as a Column: aggregates
    * xxhash64 of `c` into a serialized BloomFilter binary.
    */
  def bloomAgg(c: Column, estimatedItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(new XxHash64(Seq(expression(c))),
      Literal(estimatedItems), Literal(numBits), 0, 0)
      .toAggregateExpression())

  /** might_contain(serializedBloom, xxhash64(c)) — the probe side of
    * the runtime filter. No false negatives by construction.
    */
  def bloomMightContain(bloom: Array[Byte], c: Column): Column =
    column(BloomFilterMightContain(Literal(bloom, BinaryType),
      new XxHash64(Seq(expression(c)))))

  /** `df` on (a fresh instance of) the LocalRelation it optimizes to,
    * with its row count, or None when it reads anything else. Spark
    * folds a projection over local rows on the driver. */
  def localRows(df: DataFrame): Option[(DataFrame, Int)] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some((classic.Dataset.ofRows(
        df.sparkSession.asInstanceOf[classic.SparkSession], l.newInstance()),
        l.data.length))
      case _ => None
    }

  /** `df`, a projection over local rows, with its last column
    * (array<int>) exploded into a LocalRelation on the driver: no job. */
  def explodeLocal(df: DataFrame): DataFrame =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        val at = l.output.length - 1
        val rows = for (r <- l.data if !r.isNullAt(at); a = r.getArray(at);
            j <- 0 until a.numElements()) yield
          new GenericInternalRow((r.toSeq(l.schema).init :+ a.getInt(j)).toArray)
        classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
          LocalRelation(l.output.init.map(_.newInstance()) :+ AttributeReference(
            l.output(at).name, IntegerType, nullable = false)(), rows))
      case p => throw new IllegalArgumentException(
        s"explodeLocal: the frame does not fold to local rows:\n$p")
    }
}
