package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Minimal bridge to `private[sql]` members — the one place this library
  * steps into Spark's namespace. The Column ↔ Expression converters
  * expose native codegen'd expressions (graft.functions.*) through the
  * public Column API without requiring spark.sql.extensions config on
  * every session; the leaf-scan helpers let a generator emit primitive
  * rows without an object (de)serializer on every row. */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The partition count `spark.range` takes by default
    * (`spark.sql.leafNodeDefaultParallelism`, else the default
    * parallelism). */
  def leafParallelism(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].leafNodeDefaultParallelism

  /** A DataFrame over `rows`, which hold `schema`'s fields, planned with
    * `sizeInBytes` as its size estimate. */
  def rowsToDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                      schema: StructType, sizeInBytes: BigInt): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s, LogicalRDD(DataTypeUtils.toAttributes(schema),
      rows)(s, Some(Statistics(sizeInBytes))))
  }
}
