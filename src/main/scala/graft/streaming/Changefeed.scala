package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators._

/**
 * Changefeed runtime (SURVEY.md §2.14, §3.1): a changefeed = one Structured
 * Streaming query. tiflow's owner/processor/scheduler machinery
 * (cdc/owner/changefeed.go, cdc/processor/processor.go) maps onto Spark's
 * driver/executor scheduling; etcd state maps onto the streaming
 * checkpoint; pause/resume = stop/start from checkpoint.
 *
 * The transform pipeline is declared ONCE on the streaming DataFrame —
 * Catalyst optimizes the whole chain (filter pushdown through the router
 * projection etc.) and every microbatch executes the optimized plan.
 */
final case class ChangefeedSpec(
    id: String,
    tableRules: Seq[Filters.TableRule] = Seq(Filters.TableRule("*", "*", allow = true)),
    eventRules: Seq[Filters.EventRule] = Nil,
    exprRules: Seq[Filters.ExprRule] = Nil,
    ignoredStartTs: Seq[Long] = Nil,
    dropSourceIds: Seq[Int] = Nil,
    routes: Seq[Routing.RouteRule] = Nil,
    splitUpdates: Boolean = true,
    compact: Boolean = true,
    safeModeUntilTs: Option[Long] = None,
    checkpointDir: String,
    maxEventsPerTrigger: Option[Long] = None,
    // first-class runtime options mirroring the reference's ReplicaConfig
    // surface (pkg/config/replica_config.go:45-110): per-table DML metrics
    // and the textual-DDL control path, previously compose-only wrappers.
    metricsDir: Option[String] = None,
    textDdlRegistryDir: Option[String] = None,
    textDdlDefaultSchema: String = "",
    // the owner's barrier composition at the microbatch boundary
    // (ddl_manager.go:508-584): when barrierDir is set (requires the
    // textual-DDL path), every batch logs the barrier computed from its
    // not-yet-applied DDL control rows BEFORE they execute — the feed's
    // checkpoint/redo clamp record at the boundary.
    redoEnabled: Boolean = false,
    barrierDir: Option[String] = None)

object Changefeed {

  /** The owner's action-type vocabulary for a textual DDL — what
    * [[OwnerBarrier]]'s tables key on (ddl_manager.go:58-97), as far as
    * the text path can classify. Unparseable statements map to
    * "unknown", which is GLOBAL (not in NonGlobalDDLs) — the safe
    * over-blocking default. */
  def ddlAction(sql: String, defaultSchema: String = ""): Seq[String] = {
    import graft.core.DdlParser._
    import graft.core.SchemaRegistry
    try parse(sql, defaultSchema).map {
      case _: CreateTable => "create_table"
      case _: DropTable => "drop_table"
      case _: TruncateTable => "truncate_table"
      case _: RenameTable => "rename_table"
      case _: CreateDatabase => "create_schema"
      case _: DropDatabase => "drop_schema"
      case ai: AlterIndex => if (ai.addIndex) "add_index" else "drop_index"
      case at: AlterTable => at.action match {
        case _: SchemaRegistry.AddColumn => "add_column"
        case _: SchemaRegistry.DropColumn => "drop_column"
        case _: SchemaRegistry.ModifyColumn => "modify_column"
        case _ => "rename_column" // not in NonGlobalDDLs → global
      }
    } catch { case _: Exception => Seq("unknown") }
  }

  /** Stable physical-table id for the barrier's per-table map — the text
    * path has names, not TiDB table ids. Plain JVM hash: the id only has
    * to be stable and distinct per name within one feed. */
  def physicalId(schema: String, table: String): Long = {
    val s = s"$schema.$table"
    s.foldLeft(1125899906842597L)((h, c) => h * 31 + c)
  }

  /**
   * Compose the owner barrier at a microbatch boundary
   * (ddl_manager.go:508-584 wired into foreachBatch): resolved ts = the
   * batch's max commit ts (the DDL puller's resolved ts — the batch is
   * watermark-complete by construction); pending = the batch's DDL
   * control rows NOT yet in the applied log. Returns None when the batch
   * is empty or carries no envelope. The caller logs it BEFORE
   * [[DdlStream.applyDdlRows]] runs — the record shows where the feed's
   * checkpoint and redo resolved ts held at the boundary; executing the
   * DDLs inside the batch is what lifts it, exactly the reference's
   * execute-then-advance cycle.
   */
  def batchBarrier(batch: DataFrame, registryDir: String,
      redoEnabled: Boolean, defaultSchema: String = "")
      : Option[(Long, OwnerBarrier.Barrier)] = {
    if (!batch.columns.contains("op")) return None
    val head = batch.agg(max(col("commit_ts"))).collect()(0)
    if (head.isNullAt(0)) return None
    val resolved = head.getLong(0)
    val seen = DdlStream.loadApplied(registryDir).toSet
    Some((resolved, barrierFromRows(resolved, collectDdlRows(batch),
      seen, redoEnabled, defaultSchema)))
  }

  /** The batch's DDL control rows, collected ONCE per microbatch and
    * shared between the barrier computation and the registry apply
    * (each used to re-collect and re-read the applied log). */
  private def collectDdlRows(batch: DataFrame)
      : Seq[(String, Long, String, String)] =
    batch.filter(col("op") === DdlStream.DdlOp)
      .select(col("etype"), col("commit_ts"),
        col("schema_name"), col("table_name"))
      .collect().toSeq // control-plane: a handful of DDLs per batch
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3)))

  private def barrierFromRows(resolved: Long,
      rows: Seq[(String, Long, String, String)],
      seen: Set[(String, Long)], redoEnabled: Boolean,
      defaultSchema: String): OwnerBarrier.Barrier = {
    val pending = rows
      .filterNot(r => seen.contains((r._1, r._2)))
      .flatMap { case (etype, ts, sch, tbl) =>
        ddlAction(etype, defaultSchema).map(a =>
          OwnerBarrier.DdlAt(ts, a, Seq(physicalId(sch, tbl))))
      }
    OwnerBarrier.barrier(resolved, pending, redoEnabled)
  }

  // Highest batch id recorded per barrier dir — batch ids are monotone
  // and foreachBatch is serialized, so one scan per JVM seeds the cache
  // and every later idempotence check is O(1).
  private val barrierMaxBatch =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** One JSON line per batch: the boundary's clamp record.
    * Replay-idempotent like the DDL registry on the same path: a
    * foreachBatch retry re-runs the same batchId AFTER the first attempt
    * may already have applied the batch's DDLs, so the recomputed
    * barrier would differ — the original record stands, the re-run
    * writes nothing. */
  private[graft] def appendBarrier(dir: String, batchId: Long,
      resolved: Long,
      b: OwnerBarrier.Barrier): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val path = java.nio.file.Paths.get(s"$dir/barriers.jsonl")
    val recorded = barrierMaxBatch.getOrElseUpdate(path.toString, {
      if (!java.nio.file.Files.exists(path)) -1L
      else {
        val it = java.nio.file.Files.lines(path)
        try {
          it.mapToLong { l =>
            val i = l.indexOf(',')
            if (l.startsWith("""{"batch":""") && i > 9)
              l.substring(9, i).toLong
            else -1L
          }.max.orElse(-1L)
        } finally it.close()
      }
    })
    if (batchId <= recorded) return
    val line = s"""{"batch":$batchId,"resolved_ts":$resolved,""" +
      s""""global_ts":${b.globalBarrierTs},""" +
      s""""min_table_ts":${b.minTableBarrierTs},""" +
      s""""redo_ts":${b.redoBarrierTs},"n_tb":${b.tableBarriers.size}}""" + "\n"
    java.nio.file.Files.writeString(path, line,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    barrierMaxBatch(path.toString) = batchId
    ()
  }

  /** The filter→route→shape pipeline shared by batch and streaming — the
    * changefeed "plan" (tiflow's fixed topology, here a Catalyst plan). */
  def pipeline(df: DataFrame, spec: ChangefeedSpec): DataFrame = {
    var d = Filters.tableFilter(df, spec.tableRules)
    d = Filters.eventFilter(d, spec.eventRules)
    d = Filters.exprFilter(d, spec.exprRules)
    d = Filters.startTsFilter(d, spec.ignoredStartTs)
    d = Filters.bdrFilter(d, spec.dropSourceIds)
    d = Routing.route(d, spec.routes)
    spec.safeModeUntilTs.foreach(ts => d = Transforms.safeMode(d, ts))
    if (spec.splitUpdates) d = Transforms.updateSplit(d)
    d
  }

  /**
   * Start a changefeed over a streaming envelope source. Each microbatch is
   * watermark-complete by construction (the source emits whole commit-ts
   * ranges), so per-key compaction inside foreachBatch preserves upstream
   * ordering — the microbatch IS the txn barrier (SURVEY.md §2.11 W1/W2).
   */
  def start(spark: SparkSession, source: DataFrame, spec: ChangefeedSpec)
           (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val shaped = pipeline(source, spec)
    // sink wrapping, innermost-out: the user sink receives schema-bound
    // data rows (DDL applied first), and metrics record the batch as
    // produced by the pipeline — the reference's sink-level DML counters.
    var effectiveSink = sink
    spec.textDdlRegistryDir.foreach { d =>
      effectiveSink =
        DdlStream.withTextDdl(spark, d, spec.textDdlDefaultSchema)(effectiveSink)
    }
    spec.metricsDir.foreach { d =>
      effectiveSink = Metrics.withDmlMetrics(spark, d)(effectiveSink)
    }
    shaped.writeStream
      .queryName(spec.id)
      .option("checkpointLocation", spec.checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // DDL + OWNER BARRIER (W1/G5): control rows are collected ONCE;
        // the composed barrier is logged BEFORE the batch's DDLs apply —
        // the boundary's checkpoint/redo clamp — then the registry
        // advances and data rows bind against it in the same batch.
        val data = spec.textDdlRegistryDir match {
          case Some(d) if batch.columns.contains("op") =>
            val ddlRows = collectDdlRows(batch)
            var seenShared: Option[Set[(String, Long)]] = None
            for (bd <- spec.barrierDir) {
              val head = batch.agg(max(col("commit_ts"))).collect()(0)
              if (!head.isNullAt(0)) {
                val resolved = head.getLong(0)
                val seen = DdlStream.loadApplied(d).toSet
                seenShared = Some(seen)
                appendBarrier(bd, batchId, resolved,
                  barrierFromRows(resolved, ddlRows, seen,
                    spec.redoEnabled, spec.textDdlDefaultSchema))
              }
            }
            DdlStream.applyCollected(
              ddlRows.map(r => (r._1, r._2)), d, seenShared)
            batch.filter(col("op") =!= DdlStream.DdlOp)
          case _ => batch
        }
        // Compaction keys on the ROUTED identity: after shard-merge several
        // source tables share one target, and net effects must fold across
        // them (dm shard-merge semantics). Renamed back so sinks see the
        // canonical envelope names. The compacted batch is persisted for
        // the batch's duration: the DML counters and the state sink's
        // bucket, key and upsert sides all read it, and each would
        // otherwise re-run the source scan, update split and compaction
        // shuffle. The uncompacted path is not persisted: its append sinks
        // read the batch once or twice, and a cache build costs a job.
        if (spec.compact) {
          val b = Compaction.compact(data,
              keyCols = Seq("target_schema", "target_table", "pk"))
            .withColumnRenamed("target_schema", "schema_name")
            .withColumnRenamed("target_table", "table_name")
            .persist()
          try effectiveSink(b, batchId) finally b.unpersist()
        } else effectiveSink(data, batchId)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Changefeed status snapshot (REST /status analog): query progress from
    * Spark's own instrumentation. */
  def status(q: StreamingQuery): Map[String, Any] = Map(
    "id" -> q.name,
    "isActive" -> q.isActive,
    "lastBatch" -> Option(q.lastProgress).map(_.batchId).getOrElse(-1L),
    "inputRowsPerSecond" -> Option(q.lastProgress).map(_.inputRowsPerSecond).getOrElse(0d))
}
