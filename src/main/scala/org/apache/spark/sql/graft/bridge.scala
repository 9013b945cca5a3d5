package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression and DataFrame ⇄ InternalRow-RDD bridges. Spark 4
  * made these conversions `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`,
  * `SparkSession.internalCreateDataFrame`); this in-package shim is the
  * standard way third-party extensions expose native Catalyst expressions
  * as user-facing `Column`s and run zero-copy per-partition passes without
  * encoder round-trips. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column → Catalyst conversion: [[expression]] returns a lazy
    * `ColumnNodeExpression` wrapper whose tree is opaque until analysis,
    * so plan INSPECTION (e.g. which columns does this filter reference?)
    * must run the converter itself. Unresolved attributes stay
    * unresolved — the result is for inspection, not evaluation. */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** The DataFrame's physical rows (UnsafeRow, REUSED per row — copy
    * anything retained across iterations). */
  def internalRdd(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.toRdd

  /** A child session with a copy of `spark`'s SQL conf, its own after. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()

  /** Wrap an InternalRow RDD back into a DataFrame. */
  def fromInternal(spark: SparkSession, rdd: RDD[InternalRow],
                   schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
