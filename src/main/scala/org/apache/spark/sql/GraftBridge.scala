package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{AttributeMap, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{ColumnStat, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{ArrayType, BinaryType, StringType}

/** Column ↔ Expression bridge for custom Catalyst expressions, and the
  * statistics rebuild of a checkpointed Dataset.
  *
  * Spark 4 made `Column` API-agnostic (it wraps a ColumnNode, not an
  * Expression) and gated the classic converters and `Dataset.ofRows`
  * `private[sql]`; this one-file shim in the sql package re-exports
  * exactly what the library needs of them.
  */
object GraftBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** One aggregate per variable-width output column of `df`, keyed by its
    * position: the column's total length in bytes (strings and binaries),
    * or its element count × the element's default size (arrays). Other
    * columns have a fixed width, or keep Catalyst's default size.
    */
  def lengthSums(df: DataFrame): Seq[(Int, Column)] =
    df.queryExecution.analyzed.output.zipWithIndex.flatMap { case (a, i) =>
      val c = column(a)
      val bytes = a.dataType match {
        case _: StringType | BinaryType => Some(functions.octet_length(c).cast("long"))
        case ArrayType(et, _) => Some(functions.array_size(c).cast("long") * et.defaultSize)
        case _ => None
      }
      bytes.map(b => i -> functions.coalesce(functions.sum(b),
        functions.lit(0L)).as(s"graft_len_$i"))
    }

  /** `checkpointed` (a `localCheckpoint` result, whose plan is one
    * LogicalRDD) with its statistics set from its observed row count and
    * the [[lengthSums]] by position: size = rows × the row width
    * Catalyst's own estimates use (`EstimationUtils.getSizePerRow`), with
    * each measured column's average length in place of its default size.
    */
  def withStats(checkpointed: DataFrame, rows: Long,
                lengths: Seq[(Int, Long)]): DataFrame = {
    val ds = checkpointed.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.logicalPlan.asInstanceOf[LogicalRDD]
    val avgLen = AttributeMap(lengths.map { case (i, bytes) =>
      rdd.output(i) -> ColumnStat(avgLen = Some(if (rows == 0L) 0L else (bytes + rows - 1) / rows))
    })
    val stats = Statistics(rows * EstimationUtils.getSizePerRow(rdd.output, avgLen), Some(rows))
    classic.Dataset.ofRows(ds.sparkSession,
      rdd.copy()(ds.sparkSession, Some(stats), Some(rdd.constraints)))
  }
}
