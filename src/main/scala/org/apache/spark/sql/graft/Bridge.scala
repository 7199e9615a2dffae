package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge. Spark 4 made the `Column(expr)` constructor
  * and `.expr` accessor `private[sql]` (Column is API-agnostic now); custom
  * Catalyst expressions still need both, so this lives in an
  * org.apache.spark.sql subpackage — the standard extension seam.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over rows that are already Catalyst values (no `Row`
    * conversion); the caller guarantees they match `schema`.
    */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Entries in the session's CacheManager: one per persisted plan. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries

  /** Unwrap a sort Column (`col.desc` / `col.asc`) into its child column,
    * whether it ascends, and whether the null ordering is the direction's
    * default — Spark 4 Columns carry `sql.internal.SortOrder` NODES (not
    * catalyst SortOrder expressions), so the inspection has to happen at
    * the node layer. Returns None for a non-sort column.
    */
  def sortOrder(c: Column): Option[(Column, Boolean, Boolean)] = c.node match {
    case so: org.apache.spark.sql.internal.SortOrder =>
      val asc = so.sortDirection == org.apache.spark.sql.internal.SortOrder.Ascending
      val defaultNulls =
        if (asc) so.nullOrdering == org.apache.spark.sql.internal.SortOrder.NullsFirst
        else so.nullOrdering == org.apache.spark.sql.internal.SortOrder.NullsLast
      Some((Column(so.child), asc, defaultNulls))
    case _ => None
  }
}
