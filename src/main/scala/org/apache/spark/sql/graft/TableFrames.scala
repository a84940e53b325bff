/*
 * In-package accessor for Spark's `private[sql]` `Dataset.ofRows` — the
 * same technique as StateStoreHygiene, kept to ONE delegating method.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** A DataFrame over a DSv2 `Table` instance the caller already holds —
  * `DataFrameReader` can only name a table by options, and the provider
  * then builds (and resolves) a fresh one. */
object TableFrames {
  def of(spark: SparkSession, table: Table): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      DataSourceV2Relation.create(table, None, None))
}
