package org.apache.spark.sql.graft

import org.apache.spark.rdd.InputFileBlockHolder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType

/** Plan-level helpers Spark keeps `private[sql]` or `protected[sql]`. */
object PlanBridge {

  /** A DataFrame over rows already on the driver, as a `LocalRelation`:
    * filters and projections over it fold into the relation at
    * optimization, and a collect reads it without a Spark job. */
  def localFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** [[localFrame]] over rows that concatenate one row of each part,
    * each part's columns qualified by its alias: `col("t.value")` and
    * `col("s.value")` resolve as they do over `a.alias("t").join(b.alias("s"))`,
    * and their filters and projections fold at optimization too. */
  def qualifiedLocalFrame(spark: SparkSession, parts: Seq[(String, StructType)],
      rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(parts.flatMap { case (q, schema) =>
        DataTypeUtils.toAttributes(schema).map(_.withQualifier(Seq(q))) }, rows))

  /** The rows of `df`, collected as one action. The plan is built
    * afresh, so a `df` persisted after its plan was first built still
    * reads its cache. */
  def collectRows(df: DataFrame): Seq[InternalRow] =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      df.queryExecution.logical).queryExecution.executedPlan.executeCollect()
      .map(_.copy()).toSeq

  /** `schema` with every field, nested ones too, nullable — the schema
    * Spark's own file sources read with. A table's DDL may declare a
    * column NOT NULL, but a file written before schema evolution added
    * that column does not hold it, and its rows read as null. */
  def nullable(schema: StructType): StructType = schema.asNullable

  /** A DataFrame reading `table` through its DSv2 scan — the relation
    * `spark.read.format(...)` would resolve, built from an object the
    * caller already holds. */
  def tableFrame(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DataSourceV2Relation.create(table, None, None))

  /** Names `f` as the file the current task reads, for
    * `input_file_name()`, as Spark's own file readers do; [[unsetInputFile]]
    * clears it when the reader closes. */
  def setInputFile(f: PartitionedFile): Unit =
    InputFileBlockHolder.set(f.urlEncodedPath, f.start, f.length)

  def unsetInputFile(): Unit = InputFileBlockHolder.unset()
}
