package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.diff.{ChunkDiff, ShardMerge}
import graft.operators.{Compaction, Dedup, Routing}
import graft.streaming.{Changefeed, ChangefeedSpec, Sinks}

/** What one closed-loop operation did: input rows it fully processed and
  * the commit time of each unit of work it committed (a microbatch for the
  * feeds, the whole operation otherwise). */
final case class OpOut(rows: Long, batchSeconds: Seq[Double])

/** Everything an operation needs at run time. `layer` accumulates the
  * traced per-layer counters (summed over the traced operations). */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val batches: BatchListener, val layer: mutable.Map[String, Double]) {
  def add(k: String, v: Double): Unit =
    if (tracer.enabled) layer.synchronized { layer(k) = layer.getOrElse(k, 0.0) + v }
}

/** Inputs generated and written for one seed, ready to run operations. */
trait Prepared {
  def digest: String
  /** Untimed per-operation preparation (copying the resume point). */
  def before(ctx: Ctx, opDir: File): Unit = ()
  def run(ctx: Ctx, opDir: File): OpOut
  /** None when the operation's output matches the independent reference. */
  def check(ctx: Ctx, opDir: File): Option[String]
  /** Traced-only probes that time or count single layers outside the
    * loop; each value is for one pass over the operation's input. */
  def probes(ctx: Ctx): Map[String, Double] = Map.empty
}

trait Workload {
  def name: String
  /** Pure generation, no Spark: used for the input digest. */
  def digest(seed: Long): String
  def prepare(spark: SparkSession, dir: File, seed: Long): Prepared
}

object Io {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(); ()
  }

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    }

  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(size).sum
    else if (f.exists) f.length else 0L

  /** Write each (dir, rows) group as exactly one parquet file
    * `<dir>/part-<i>.parquet`, all through one Spark job (one partition per
    * group); `i` numbers the groups of a dir in order. */
  def writeGroups(spark: SparkSession, groups: Seq[(File, Seq[Row])],
      schema: StructType, tmp: File): Seq[File] = {
    spark.createDataFrame(spark.sparkContext.parallelize(groups.map(_._2), groups.size)
      .flatMap(identity), schema).write.parquet(tmp.getPath)
    val parts = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length == groups.size, s"expected ${groups.size} files, got ${parts.length}")
    val next = mutable.HashMap.empty[File, Int]
    val out = parts.zip(groups.map(_._1)).map { case (p, dir) =>
      val i = next.getOrElse(dir, 0)
      next(dir) = i + 1
      dir.mkdirs()
      val f = new File(dir, f"part-$i%05d.parquet")
      Files.move(p.toPath, f.toPath)
      f
    }
    rm(tmp)
    out.toSeq
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

// -------------------------------------------------------------------- feeds

/**
 * A resumed changefeed catching up on a backlog. Setup runs the feed once
 * over the snapshot file (the resume point: checkpoint plus sink state);
 * each operation copies that resume point, restarts `Changefeed.start`
 * from it and drains the backlog files, one microbatch per file, with
 * `Trigger.AvailableNow`.
 */
final class FeedWorkload(val name: String, kafka: Boolean) extends Workload {
  private val PartitionNum = 8
  // one microbatch per backlog file
  private val maxFilesPerTrigger = 1

  def config(seed: Long): Gen.FeedConfig =
    if (kafka) Gen.FeedConfig(seed, schemas = 4, tablesPerSchema = 8,
      keysPerTable = 1000, snapshotPct = 10, files = 3,
      rowsPerFile = 600, zipf = 0, insertPct = 85, deletePct = 30,
      churnPct = 10, maxTxnRows = 4)
    else Gen.FeedConfig(seed, schemas = 2, tablesPerSchema = 2,
      keysPerTable = 10000, snapshotPct = 60, files = 2,
      rowsPerFile = 1000, zipf = 1.1, insertPct = 0, deletePct = 10,
      churnPct = 3, maxTxnRows = 8)

  def digest(seed: Long): String = Gen.feed(config(seed)).digest

  val schema: StructType = StructType(Seq(
    StructField("seq", LongType), StructField("op", StringType),
    StructField("commit_ts", LongType), StructField("start_ts", LongType),
    StructField("source_id", IntegerType), StructField("schema_name", StringType),
    StructField("table_name", StringType), StructField("pk", LongType),
    StructField("pk_after", LongType), StructField("val_before", DoubleType),
    StructField("val_after", DoubleType), StructField("etype", StringType)))

  private def row(e: Gen.Event): Row = Row(e.seq, e.op, e.commitTs, e.startTs, 1,
    e.schema, e.table, e.pk, e.pkAfter, e.valBefore.orNull, e.valAfter.orNull, "dml")

  private def sinkUri(dir: File): String =
    if (kafka) s"kafka://127.0.0.1:9092/cdc?partition-num=$PartitionNum&dir=" +
      java.net.URLEncoder.encode(new File(dir, "mq").getPath, "UTF-8")
    else s"state://${new File(dir, "state").getPath}"

  private def spec(dir: File): ChangefeedSpec = ChangefeedSpec(
    id = name, checkpointDir = new File(dir, "ckpt").getPath, compact = !kafka,
    metricsDir = if (kafka) None else Some(new File(dir, "metrics").getPath))

  def prepare(spark: SparkSession, dir: File, seed: Long): Prepared = {
    val feed = Gen.feed(config(seed))
    val staging = new File(dir, "staging")
    val src = new File(dir, "source")
    src.mkdirs()
    val files = Io.writeGroups(spark, (feed.snapshot +: feed.backlog).map(g => staging -> g.map(row)),
      schema, new File(dir, "tmp"))
    // the file source orders by modification time: make it the file order
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    def publish(f: File, i: Int): Unit = {
      val t = new File(src, f.getName)
      Files.move(f.toPath, t.toPath)
      t.setLastModified(t0 + i * 1000L); ()
    }
    publish(files.head, 0)
    val resume = new File(dir, "resume")
    val p = new FeedRun(feed, src, resume, (files.size - 1 + maxFilesPerTrigger - 1) / maxFilesPerTrigger)
    p.drain(new Ctx(spark, new Tracer(false, spark.sparkContext), null, mutable.Map.empty), resume)
    files.zipWithIndex.tail.foreach { case (f, i) => publish(f, i) }
    Io.rm(staging)
    p
  }

  final class FeedRun(feed: Gen.Feed, src: File,
      resume: File, backlogBatches: Int) extends Prepared {
    val digest: String = feed.digest
    private val backlogRows = feed.backlog.map(_.size.toLong).sum

    private def source(spark: SparkSession): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toLong).parquet(src.getPath)

    override def before(ctx: Ctx, opDir: File): Unit = {
      Io.copyTree(resume.toPath, opDir.toPath)
      Io.rm(new File(opDir, "mq")) // the snapshot's records are not this run's
    }

    /** Start the feed from `dir`'s checkpoint and drain what is available. */
    def drain(ctx: Ctx, dir: File): Seq[Batch] = {
      val t = ctx.tracer
      val stateDir = new File(dir, "state").getPath
      val inner = Sinks.forUri(ctx.spark, sinkUri(dir))
      val sink: (DataFrame, Long) => Unit =
        if (!t.enabled) inner
        else (b, id) => t.span("streaming.sink", Map("batch" -> id.toDouble), charge = true) {
          if (kafka) inner(b, id)
          else {
            val before = Sinks.stateVersions(stateDir)
            inner(b, id)
            // bytes of the live bucket versions this batch replaced
            ctx.add("streaming.state_read_mb", Sinks.stateVersions(stateDir).collect {
              case (k, v) if before.get(k).exists(_ != v) =>
                Io.size(new File(s"$stateDir/b$k/v${before(k)}"))
            }.sum / 1048576.0)
          }
        }
      val q = t.span("streaming.start") { Changefeed.start(ctx.spark, source(ctx.spark), spec(dir))(sink) }
      t.span("streaming.drain") {
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        if (ctx.batches == null) Nil
        else {
          graft.BenchMetrics.drain(ctx.spark.sparkContext)
          val bs = ctx.batches.batches(q.runId.toString)
          if (t.enabled) traceBatches(ctx, bs)
          bs
        }
      }
    }

    private val Phases = Seq("latestOffset", "walCommit", "getBatch",
      "queryPlanning", "addBatch", "commitOffsets")

    /** Record each batch and its phases as spans under the drain span. The
      * listener reports phase durations, not offsets, so phase intervals
      * are laid out back to back in execution order; the sink spans of a
      * batch are moved under its addBatch phase. */
    private def traceBatches(ctx: Ctx, bs: Seq[Batch]): Unit = {
      val t = ctx.tracer
      val wall0 = System.currentTimeMillis()
      val nano0 = System.nanoTime()
      def ns(ms: Long) = nano0 + (ms - wall0) * 1000000L
      for (b <- bs) {
        val start = ns(b.startMs)
        val batchId = t.record("streaming.batch", start,
          start + b.durations.getOrElse("triggerExecution", 0L) * 1000000L,
          Map("batch" -> b.batchId.toDouble, "rows" -> b.rows.toDouble))
        var at = start
        for (ph <- Phases) {
          val d = b.durations.getOrElse(ph, 0L) * 1000000L
          val id = t.record(s"streaming.$ph", at, at + d, parent = Some(batchId))
          if (ph == "addBatch")
            t.adopt(id, s => s.name == "streaming.sink" &&
              s.attrs.get("batch").contains(b.batchId.toDouble))
          ctx.add(s"streaming.${ph}_s", d / 1e9)
          at += d
        }
        ctx.add("streaming.batches", 1)
        ctx.add("streaming.rows_in", b.rows.toDouble)
      }
    }

    def run(ctx: Ctx, opDir: File): OpOut = {
      val bs = drain(ctx, opDir)
      require(bs.size == backlogBatches, s"expected $backlogBatches batches, saw ${bs.size}")
      if (ctx.tracer.enabled && !kafka)
        ctx.add("streaming.state_mb", Io.size(new File(opDir, "state")) / 1048576.0)
      OpOut(backlogRows, bs.map(_.durations.getOrElse("triggerExecution", 0L) / 1000.0))
    }

    def check(ctx: Ctx, opDir: File): Option[String] =
      if (kafka) checkKafka(ctx, opDir) else checkState(ctx, opDir)

    /** Last writer wins per key after update-split, folded in seq order. */
    private def checkState(ctx: Ctx, opDir: File): Option[String] = {
      val expect = mutable.HashMap.empty[(String, String, Long), Double]
      feed.all.foreach { e =>
        val k = (e.schema, e.table, e.pk)
        e.op match {
          case "D" => expect.remove(k)
          case _ =>
            if (e.pkAfter != e.pk) expect.remove(k)
            expect((e.schema, e.table, e.pkAfter)) = e.valAfter.get
        }
      }
      val got = Sinks.readState(ctx.spark, new File(opDir, "state").getPath)
        .select("schema_name", "table_name", "pk", "final_val").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getDouble(3))
      val gotMap = got.toMap
      if (got.length != gotMap.size) Some(s"state holds duplicate keys (${got.length} rows)")
      else if (gotMap.size != expect.size)
        Some(s"state holds ${gotMap.size} keys, expected ${expect.size}")
      else expect.find { case (k, v) => !gotMap.get(k).contains(v) }
        .map { case (k, v) => s"key $k: state ${gotMap.get(k)}, expected $v" }
    }

    /** One record per event after update-split (a key-changing update is
      * a delete of the old key plus an insert of the new one), each in the
      * partition of its table: md5 of "schema\u0001table", first 15 hex
      * digits, modulo the partition count. */
    private def checkKafka(ctx: Ctx, opDir: File): Option[String] = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
      val partOf = mutable.HashMap.empty[(String, String), Int]
      def part(s: String, t: String) = partOf.getOrElseUpdate((s, t), {
        val hex = md5.digest(s"$s\u0001$t".getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
        (java.lang.Long.parseLong(hex.substring(0, 15), 16) % PartitionNum).toInt
      })
      val expect = feed.backlog.flatten.flatMap { e =>
        val p = part(e.schema, e.table)
        val keys = if (e.op == "U" && e.pkAfter != e.pk) Seq(e.pk, e.pkAfter) else Seq(e.pk)
        keys.map(k => (p, s"${e.schema}.${e.table}.$k"))
      }.sorted
      val got = ctx.spark.read.parquet(new File(opDir, "mq/cdc").getPath)
        .select("partition", "key").collect().map(r => (r.getInt(0), r.getString(1)))
        .toSeq.sorted
      if (got.size != expect.size) Some(s"${got.size} records, expected ${expect.size}")
      else expect.zip(got).find(x => x._1 != x._2)
        .map { case (e, g) => s"record $g, expected $e" }
    }

    /** Materialize the pipeline and (state feed only) the compaction of
      * each microbatch's files to the `noop` sink. */
    override def probes(ctx: Ctx): Map[String, Double] = {
      val t = ctx.tracer
      val files = src.listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.lastModified).tail.map(_.getPath)
      val sp = spec(new File(src.getParentFile, "probe"))
      var (pipeS, compactS, in, out) = (0.0, 0.0, 0L, 0L)
      def timed(name: String)(body: => Unit): Double = {
        val t0 = System.nanoTime(); t.span(name, charge = true)(body); (System.nanoTime() - t0) / 1e9
      }
      files.grouped(maxFilesPerTrigger).foreach { g =>
        val piped = Changefeed.pipeline(ctx.spark.read.schema(schema).parquet(g.toSeq: _*), sp)
        pipeS += timed("operators.pipeline") { piped.write.format("noop").mode("overwrite").save() }
        if (!kafka) {
          val compacted = Compaction.compact(piped,
            keyCols = Seq("target_schema", "target_table", "pk"))
          compactS += timed("operators.compact") { compacted.write.format("noop").mode("overwrite").save() }
          in += piped.count()
          out += compacted.count()
        }
      }
      Map("operators.pipeline_s" -> pipeS, "operators.compact_s" -> compactS,
        "operators.compact_ratio" -> (if (in > 0) out.toDouble / in else 0.0))
    }
  }
}

// --------------------------------------------------------------------- diff

/**
 * sync_diff's shard-merge mode: chunk bounds from the downstream, per-shard
 * checksums XOR-combined against the downstream's, a row diff of the
 * merged source restricted to mismatched chunks, then fix-SQL.
 */
object DiffShards extends Workload {
  val name = "diff_shards"
  private val Chunks = 64
  private val Table = "db.orders"

  def config(seed: Long): Gen.DiffConfig =
    Gen.DiffConfig(seed, rows = 150000, shards = 4, faultRanges = 3,
      rangeRows = 1000, faultsPerKind = 6)

  def digest(seed: Long): String = Gen.diff(config(seed)).digest

  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("c_int", IntegerType),
    StructField("c_long", LongType), StructField("c_short", ShortType),
    StructField("c_dec", DecimalType(14, 2)), StructField("c_dbl", DoubleType),
    StructField("c_str", StringType), StructField("c_cat", StringType),
    StructField("c_date", DateType), StructField("c_ts", TimestampType),
    StructField("c_bool", BooleanType)))

  private def row(x: Gen.WideRow): Row = Row(x.id, x.cInt, x.cLong, x.cShort, x.cDec,
    x.cDbl, x.cStr, x.cCat, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(x.cDate)),
    new java.sql.Timestamp(x.cTs * 1000L), x.cBool)

  /** Engine-portable rendering, shared by the digests and the fix-SQL
    * values: integers and decimals as plain text, the double at 4 places,
    * quoted strings, dates and UTC timestamps, booleans as 0/1. */
  def rendered(df: DataFrame): Seq[Column] = {
    def q(c: Column) = concat(lit("'"), c, lit("'"))
    Seq(col("id").cast("string"), col("c_int").cast("string"),
      col("c_long").cast("string"), col("c_short").cast("string"),
      col("c_dec").cast("string"), col("c_dbl").cast("decimal(20,4)").cast("string"),
      q(col("c_str")), q(col("c_cat")), q(col("c_date").cast("string")),
      q(col("c_ts").cast("string")), col("c_bool").cast("int").cast("string"))
  }

  /** The same rendering in plain Scala, for the reference fix-SQL. */
  def renderedRef(x: Gen.WideRow): String = {
    val ts = java.time.LocalDateTime.ofEpochSecond(x.cTs, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    Seq(x.id.toString, x.cInt.toString, x.cLong.toString, x.cShort.toString,
      x.cDec.toPlainString,
      new java.math.BigDecimal(x.cDbl).setScale(4, java.math.RoundingMode.HALF_UP).toPlainString,
      s"'${x.cStr}'", s"'${x.cCat}'", s"'${java.time.LocalDate.ofEpochDay(x.cDate)}'",
      s"'$ts'", if (x.cBool) "1" else "0").mkString(", ")
  }

  def prepare(spark: SparkSession, dir: File, seed: Long): Prepared = {
    val in = Gen.diff(config(seed))
    def files(d: File, rows: Seq[Gen.WideRow], n: Int) =
      rows.grouped((rows.size + n - 1) / n).toSeq.map(g => d -> g.map(row))
    Io.writeGroups(spark, in.shards.zipWithIndex.flatMap { case (s, i) =>
      files(new File(dir, s"shard$i"), s, 2) } ++ files(new File(dir, "target"), in.target, 4),
      schema, new File(dir, "tmp"))
    new DiffRun(in, dir)
  }

  final class DiffRun(in: Gen.DiffInput, dir: File) extends Prepared {
    val digest: String = in.digest
    private val rows = in.shards.map(_.size.toLong).sum + in.target.size
    private val rules = in.shards.indices.map(i => Routing.RouteRule(s"db_$i", s"t_$i", "db", "orders"))
    private var last: Seq[(Long, String, String)] = Nil

    def run(ctx: Ctx, opDir: File): OpOut = {
      val t = ctx.tracer
      val t0 = System.nanoTime()
      val (shards, target) = t.span("diff.read", charge = true) {
        (in.shards.indices.map(i => ctx.spark.read.parquet(new File(dir, s"shard$i").getPath)),
          ctx.spark.read.parquet(new File(dir, "target").getPath))
      }
      val (lo, hi) = t.span("diff.bounds", charge = true) { ChunkDiff.widthBounds(target, "id") }
      val (src, dst) = t.span("diff.checksum", charge = true) {
        val s = t.span("diff.checksum_src", charge = true) {
          ShardMerge.shardChunkChecksums(shards, "id", lo, hi, Chunks, rendered)
            .select("chunk_id", "cnt", "checksum").collect()
        }
        val d = t.span("diff.checksum_dst", charge = true) {
          ChunkDiff.chunkChecksums(target, Seq(col("id")), Chunks, rendered(target))
            .select("chunk_id", "cnt", "checksum").collect()
        }
        (s.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap,
          d.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap)
      }
      val bad = (src.keySet ++ dst.keySet).filter(c => src.get(c) != dst.get(c)).toSeq.sorted
      // chunk c holds keys in [lo + ceil(c*span/n), lo + ceil((c+1)*span/n) - 1]
      val span = hi - lo + 1
      def ceilDiv(a: Long, b: Long) = (a + b - 1) / b
      val inBad = bad.map { c =>
        val kLo = lo + ceilDiv(c.toLong * span, Chunks)
        val kHi = if (c == Chunks - 1) hi else lo + ceilDiv((c + 1).toLong * span, Chunks) - 1
        col("id") >= kLo && col("id") <= kHi
      }.foldLeft(lit(false))(_ || _)
      val merged = ShardMerge.mergeSources(
        shards.zipWithIndex.map { case (df, i) => (s"db_$i", s"t_$i", df) },
        rules, "db", "orders").filter(inBad)
      val diff = ChunkDiff.rowDiff(merged, target.filter(inBad), Seq("id"), rendered)
        .select("id", "diff_type").persist()
      val nDiff = t.span("diff.rowdiff", charge = true) { diff.count() }
      val fixes = t.span("diff.fixsql", charge = true) {
        ChunkDiff.fixSql(diff.join(merged, Seq("id"), "left"), Table, Seq("id"), rendered(merged))
          .select("id", "diff_type", "fix_sql").collect()
      }
      diff.unpersist()
      last = fixes.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      if (t.enabled) {
        ctx.add("diff.chunks", dst.size.toDouble)
        ctx.add("diff.chunks_mismatched", bad.size.toDouble)
        val rechecked = bad.map(c => src.get(c).map(_._1).getOrElse(0L) +
          dst.get(c).map(_._1).getOrElse(0L)).sum
        ctx.add("diff.recheck_ratio", rechecked.toDouble / rows)
        ctx.add("diff.diff_rows", nDiff.toDouble)
      }
      OpOut(rows, Seq((System.nanoTime() - t0) / 1e9))
    }

    def check(ctx: Ctx, opDir: File): Option[String] = {
      val src = in.shards.flatten.map(x => x.id -> x).toMap
      val expect = in.planted.toSeq.map { case (id, kind) =>
        val sql = if (kind == "extra") s"DELETE FROM $Table WHERE id = $id;"
          else s"REPLACE INTO $Table VALUES (${renderedRef(src(id))});"
        (id, kind, sql)
      }.sorted
      val got = last.sorted
      if (got.size != expect.size) Some(s"${got.size} diff rows, expected ${expect.size}")
      else expect.zip(got).find(x => x._1 != x._2)
        .map { case (e, g) => s"diff row $g, expected $e" }
    }
  }
}

// -------------------------------------------------------------------- dedup

/** Near-duplicate clustering with LSH cluster labels, then keep the
  * highest-priority member of each cluster. */
object DedupDocs extends Workload {
  val name = "dedup_docs"
  // the library defaults of Dedup.lshClusterLabels, restated for probes
  private val ShingleN = 3
  private val K = 12
  private val Bands = 4
  private val MaxBucket = 500
  private val MinJac = 0.5

  def config(seed: Long): Gen.DedupConfig =
    Gen.DedupConfig(seed, docs = 36000, clusteredPct = 25, megaCluster = 400,
      maxCluster = 40, zipf = 1.6, minWords = 120, maxWords = 240, vocab = 5000)

  def digest(seed: Long): String = Gen.dedup(config(seed)).digest

  // keepByPriority joins the labels' `id` to this column, so it must not
  // be called `id` as well
  val schema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("priority", IntegerType)))

  def prepare(spark: SparkSession, dir: File, seed: Long): Prepared = {
    val in = Gen.dedup(config(seed))
    Io.writeGroups(spark, in.docs.grouped((in.docs.size + 3) / 4).toSeq
      .map(g => new File(dir, "docs") -> g.map(d => Row(d.id, d.text, d.priority))),
      schema, new File(dir, "tmp"))
    new DedupRun(in, new File(dir, "docs"))
  }

  final class DedupRun(in: Gen.DedupInput, docsDir: File) extends Prepared {
    val digest: String = in.digest
    private var last: Seq[(Long, Long, Int)] = Nil

    def run(ctx: Ctx, opDir: File): OpOut = {
      val t = ctx.tracer
      val t0 = System.nanoTime()
      val docs = ctx.spark.read.parquet(docsDir.getPath)
      // the cluster loop runs inside lshClusterLabels, so the span covers it
      val labels = t.span("dedup.labels", charge = true) {
        val l = Dedup.lshClusterLabels(docs, "doc_id", "text").persist()
        l.count()
        l
      }
      val kept = t.span("dedup.keep", charge = true) {
        Dedup.keepByPriority(labels, docs, "doc_id", col("priority"))
          .select("id", "comp", "kept").collect()
      }
      labels.unpersist()
      last = kept.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      if (t.enabled)
        ctx.add("dedup.clusters", last.groupBy(_._2).count(_._2.size > 1).toDouble)
      OpOut(in.docs.size.toLong, Seq((System.nanoTime() - t0) / 1e9))
    }

    def check(ctx: Ctx, opDir: File): Option[String] = {
      val survivor = in.docs.groupBy(_.cluster).map { case (c, ms) =>
        c -> ms.maxBy(d => (d.priority, -d.id)).id
      }
      val expect = in.docs.map(d => (d.id, d.cluster,
        if (survivor(d.cluster) == d.id) 1 else 0)).sorted
      val got = last.sorted
      if (got.size != expect.size) Some(s"${got.size} labelled docs, expected ${expect.size}")
      else {
        val bad = expect.zip(got).filter(x => x._1 != x._2)
        bad.headOption.map { case (e, g) =>
          val members = in.docs.count(_.cluster == e._2)
          s"${bad.size} docs differ; first (id, label, kept) $g, expected $e " +
            s"(planted cluster of $members)"
        }
      }
    }

    /** Band rows, candidate pairs before verification, and verified star
      * edges: the work the labels path does per candidate. */
    override def probes(ctx: Ctx): Map[String, Double] = {
      val an = Dedup.minhashAnalyzed(ctx.spark.read.parquet(docsDir.getPath), "doc_id", "text", ShingleN, K)
      val banded = Dedup.bandedTable(an, K, Bands, MaxBucket).persist()
      val pairs = Dedup.bucketScoredPairs(banded, MaxBucket).persist()
      val candidates = pairs.count().toDouble
      val out = Map(
        "dedup.band_rows" -> banded.count().toDouble,
        "dedup.candidate_pairs" -> candidates,
        "dedup.star_edges" -> Dedup.bucketStars(banded, MinJac).count().toDouble,
        "dedup.verify_yield" ->
          (if (candidates > 0) pairs.filter(col("jac") >= MinJac).count() / candidates else 0.0))
      pairs.unpersist(); banded.unpersist()
      out
    }
  }
}
