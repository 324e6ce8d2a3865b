package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * A7 — per-table DML metrics (the reference's table-level counters behind
 * its Grafana metric names, cdc/sink table sink metrics; DM's
 * syncer/metrics). Spark already exposes query-level progress
 * (StreamingQueryProgress); this adds the TABLE × op grain: a sink wrapper
 * appends one counter row per (batch, table, op) to a metrics table —
 * itself just parquet, queryable like any other table.
 */
object Metrics {

  /** Wrap a sink to record per-(table, op) row counts for every batch
    * before delivering it. Works on raw (op) and compacted (net_op)
    * batches. One small aggregation per batch; append-only parquet.
    * At-least-once foreachBatch may replay a batch and append its counter
    * rows twice — replayed rows are identical per (batch_id, table, op),
    * so [[totals]] dedups on that key instead of paying a per-batch
    * directory listing here. */
  def withDmlMetrics(spark: SparkSession, metricsDir: String)
                    (sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val opCol = if (batch.columns.contains("op")) "op" else "net_op"
      val counters = batch
        .groupBy(col("schema_name"), col("table_name"), col(opCol).as("op"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("batch_id", lit(batchId))
        .withColumn("recorded_at", current_timestamp())
      // a few rows per batch: one file, not one per shuffle partition
      counters.coalesce(1).write.mode(SaveMode.Append).parquet(metricsDir)
      sink(batch, batchId)
  }

  /** All recorded counters. */
  def read(spark: SparkSession, metricsDir: String): DataFrame =
    spark.read.parquet(metricsDir)

  /** Cumulative per-table/op totals (the dashboard series). One row per
    * (batch_id, table, op) is counted even if an at-least-once replay
    * appended the same counter row twice. */
  def totals(spark: SparkSession, metricsDir: String): DataFrame =
    read(spark, metricsDir)
      .dropDuplicates("batch_id", "schema_name", "table_name", "op")
      .groupBy("schema_name", "table_name", "op")
      .agg(sum(col("n_rows")).as("total_rows"),
        max(col("batch_id")).as("last_batch"))
}
