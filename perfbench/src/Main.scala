package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/**
 * Runs one benchmark workload in one fresh JVM on `local[<all cores>]`.
 *
 * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
 *          --trace <0|1> --work <dir> --out <file>
 *        perfbench.Main --digest --workload <name> --seed <n>
 *
 * Set-up (JVM start, session start, input generation, a warm-up operation
 * on the generated inputs) runs once and is timed from the JVM's launch.
 * Then operations run in a closed loop, one after another, until their
 * timed parts add up to `--seconds`. Each operation's output is checked
 * against a plain-Scala reference after it is timed. With `--trace 1` the
 * untraced loop is followed by a traced loop, single-layer probes and a
 * loop on `local[1]`, and the per-layer metrics are written instead.
 */
object Main {
  val workloads: Map[String, Workload] = Seq(new FeedWorkload("feed_state", kafka = false),
    new FeedWorkload("feed_kafka", kafka = true), DiffShards, DedupDocs)
    .map(w => w.name -> w).toMap

  final case class Args(workload: String = "", seed: Long = 0, seconds: Double = 10,
      trace: Boolean = false, work: File = null, out: File = null, digest: Boolean = false)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = new File(v)))
    case "--out" :: v :: t => parse(t, a.copy(out = new File(v)))
    case "--digest" :: t => parse(t, a.copy(digest = true))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def session(cores: Int, work: File): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", new File(work, "spark-local").getPath)
    .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    .getOrCreate()

  final class Tally {
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    def fail(what: String): Unit = {
      failed += 1
      if (errors.size < 20) errors += what
      System.err.println(s"perfbench: FAILED $what")
    }
  }

  /** `rows` and `busy` cover the completed operations; `opRates` holds
    * each one's rows per second. */
  final case class Phase(ops: Int, rows: Long, busy: Double, opRates: Seq[Double],
      batches: Seq[Double]) {
    def rowsPerS: Double = if (busy > 0) rows / busy else 0.0
  }

  /** Closed loop: operations back to back until their timed parts reach
    * `budget` seconds (at least one operation). An operation that throws
    * is not timed; one whose output fails its check did its work and is
    * timed, and both count as failed. */
  def phase(ctx: Ctx, prep: Prepared, work: File, label: String, budget: Double,
      tally: Tally): Phase = {
    var (busy, doneBusy, n, rows) = (0.0, 0.0, 0, 0L)
    val batches = mutable.ArrayBuffer.empty[Double]
    val rates = mutable.ArrayBuffer.empty[Double]
    while (n == 0 || busy < budget) {
      n += 1
      val opDir = new File(work, s"op-$label-$n")
      Io.rm(opDir)
      prep.before(ctx, opDir)
      ctx.tracer.run = n
      val t0 = System.nanoTime()
      val res = Try(ctx.tracer.span("op") { prep.run(ctx, opDir) })
      val dt = (System.nanoTime() - t0) / 1e9
      busy += dt
      tally.attempted += 1
      res match {
        case Failure(e) => tally.fail(s"$label op $n: $e")
        case Success(o) =>
          doneBusy += dt; rows += o.rows; rates += o.rows / dt; batches ++= o.batchSeconds
          Try(prep.check(ctx, opDir)) match {
            case Failure(e) => tally.fail(s"$label op $n check: $e")
            case Success(Some(err)) => tally.fail(s"$label op $n: $err")
            case Success(None) =>
          }
      }
      Io.rm(opDir)
    }
    Phase(n, rows, doneBusy, rates.toSeq, batches.toSeq)
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val w = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}; " +
        s"known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    if (a.digest) { println(w.digest(a.seed)); return }
    require(a.work != null && a.out != null, "--work and --out are required")
    a.work.mkdirs()
    val tally = new Tally
    val cores = Runtime.getRuntime.availableProcessors

    // ---- set-up, timed from the JVM's launch through the warm-up
    val launchedMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val (mainMs, mainNs) = (System.currentTimeMillis(), System.nanoTime())
    var spark = session(cores, a.work)
    var listener = new BatchListener
    spark.streams.addListener(listener)
    val t1 = System.nanoTime()
    val prep = w.prepare(spark, new File(a.work, "in"), a.seed)
    val t2 = System.nanoTime()
    def offCtx = new Ctx(spark, new Tracer(false, spark.sparkContext), listener, mutable.Map.empty)
    phase(offCtx, prep, a.work, "warm", 0.0, tally)
    val t3 = System.nanoTime()
    val setupS = (mainMs - launchedMs) / 1000.0 + (t3 - mainNs) / 1e9
    System.err.println(f"perfbench: set-up ${setupS}%.2f s: JVM ${(mainMs - launchedMs) / 1000.0}%.2f s, " +
      f"session ${(t1 - mainNs) / 1e9}%.2f s, inputs ${(t2 - t1) / 1e9}%.2f s, " +
      f"warm-up ${(t3 - t2) / 1e9}%.2f s")

    // ---- timed closed loop, tracing off
    System.gc() // the loop starts from a collected heap, whatever set-up left
    val heap = new HeapWatch
    def gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
    val gc0 = gcS
    val main = phase(offCtx, prep, a.work, "timed", a.seconds, tally)
    val gcTimed = gcS - gc0
    val liveHeapMb = heap.peakMb
    heap.close()
    val outsideHeapMb = vmHwmMb - heap.committedMb
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val details = mutable.LinkedHashMap.empty[String, String]
    metrics("setup_s") = setupS
    metrics("rows_per_s") = main.rowsPerS
    metrics("batch_s_p50") = Io.median(main.batches)
    // the resident memory the run needs: its peak outside the heap (the
    // heap is fixed and pre-touched) plus the peak of the live heap
    metrics("peak_rss_mb") = outsideHeapMb + liveHeapMb
    details("ops") = main.ops.toString
    details("op_rows_per_s") = main.opRates.map(Json.num).mkString("[", ",", "]")
    details("batch_samples") = main.batches.size.toString
    // the highest percentile with at least ten samples above it, when that
    // is above the median
    if (main.batches.size >= 20) {
      val q = 1 - 10.0 / main.batches.size
      details("batch_tail_percentile") = Json.num(100 * q)
      details("batch_s_tail") = Json.num(Io.quantile(main.batches, q))
    }
    details("batch_s_max") = Json.num(if (main.batches.isEmpty) 0.0 else main.batches.max)
    details("gc_s") = Json.num(gcTimed)
    details("peak_live_heap_mb") = Json.num(liveHeapMb)
    details("outside_heap_mb") = Json.num(outsideHeapMb)
    details("input_digest") = Json.str(prep.digest)

    if (a.trace) {
      val attribution = new TaskAttribution
      spark.sparkContext.addSparkListener(attribution)
      val tracer = new Tracer(true, spark.sparkContext)
      val base = System.nanoTime()
      val ctx = new Ctx(spark, tracer, listener, mutable.Map.empty)
      val traced = phase(ctx, prep, a.work, "traced", a.seconds, tally)
      graft.BenchMetrics.drain(spark.sparkContext)
      val counters = attribution.snapshot
      // task time of the operations' jobs ("other" holds the output checks)
      val coreUtil = counters.collect { case (k, c) if k != "other" => c.runMs }.sum /
        1000.0 / (traced.busy * cores)
      tracer.run = -1
      val probes = Try(prep.probes(ctx)) match {
        case Success(m) => m
        case Failure(e) => tally.fail(s"probes: $e"); Map.empty[String, Double]
      }
      // single-core baseline: same inputs, half the budget
      spark.stop()
      spark = session(1, a.work)
      listener = new BatchListener
      spark.streams.addListener(listener)
      val single = phase(offCtx, prep, a.work, "single", a.seconds / 2, tally)

      val n = math.max(1, traced.ops).toDouble
      val spans = tracer.all.filter(_.run > 0)
      def spanS(name: String) = spans.filter(_.name == name).map(s => s.endNs - s.startNs).sum / 1e9 / n
      val layer = ctx.layer.map { case (k, v) => k -> v / n }
      val m = metrics
      m.clear()
      for ((k, v) <- layer) m(k) = v
      m ++= probes
      m("streaming.start_s") = spanS("streaming.start")
      m("streaming.sink_s") = spanS("streaming.sink")
      m("streaming.wrapper_s") = layer.getOrElse("streaming.addBatch_s", 0.0) - spanS("streaming.sink")
      def c(span: String) = counters.getOrElse(span, new SparkCounters)
      m("streaming.sink_jobs") = c("streaming.sink").jobs / n
      m("streaming.wrapper_jobs") = c("streaming.wrapper").jobs / n
      m("streaming.rows_out") = c("streaming.sink").recordsWritten / n
      m("streaming.sink_write_mb") = c("streaming.sink").bytesWritten / 1048576.0 / n
      for (s <- Seq("diff.bounds", "diff.checksum_src", "diff.checksum_dst", "diff.rowdiff",
          "diff.fixsql", "dedup.labels", "dedup.keep")) m(s + "_s") = spanS(s)
      for (s <- Seq("streaming.sink", "streaming.wrapper", "diff.checksum", "diff.rowdiff",
          "dedup.labels", "dedup.keep")) {
        // a span's jobs include those of its child spans
        val x = counters.filter { case (k, _) => k == s || k.startsWith(s + "_") }.values
        m(s"$s.run_s") = x.map(_.runMs).sum / 1000.0 / n
        m(s"$s.cpu_s") = x.map(_.cpuNs).sum / 1e9 / n
        m(s"$s.gc_s") = x.map(_.gcMs).sum / 1000.0 / n
        m(s"$s.shuffle_write_mb") = x.map(_.shuffleWrite).sum / 1048576.0 / n
        m(s"$s.shuffle_read_mb") = x.map(_.shuffleRead).sum / 1048576.0 / n
        m(s"$s.fetch_wait_s") = x.map(_.fetchWaitMs).sum / 1000.0 / n
        m(s"$s.spill_mb") = x.map(_.spill).sum / 1048576.0 / n
        m(s"$s.tasks") = x.map(_.tasks).sum / n
        m(s"$s.task_skew") = (x.map(_.maxSkew) ++ Seq(0.0)).max
        m(s"$s.tasks_failed") = x.map(_.tasksFailed).sum / n
      }
      m("spark.core_util") = coreUtil
      m("spark.speedup_1core") = if (single.rowsPerS > 0) main.rowsPerS / single.rowsPerS else 0.0
      m("trace.overhead") = if (traced.rowsPerS > 0) main.rowsPerS / traced.rowsPerS else 0.0
      val opSelf = spans.filter(_.name == "op")
      val opTotal = opSelf.map(s => s.endNs - s.startNs).sum / 1e9
      val selfOfOps = Tracer.selfTimes(spans)
      m("trace.unattributed_share") = if (opTotal > 0) selfOfOps.getOrElse("op", 0.0) / opTotal else 0.0
      details("traced_ops") = traced.ops.toString
      details("single_core_rows_per_s") = Json.num(single.rowsPerS)
      details("op_wall_s") = Json.num(opTotal)
      details("self_s") = selfOfOps.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
      val spansFile = new File(a.out.getPath.stripSuffix(".json") + "-spans.json")
      Files.writeString(spansFile.toPath,
        s"""{"workload":${Json.str(w.name)},"seed":${a.seed},"self_s":${details("self_s")},""" +
          s""""spans":${tracer.toJson(base)}}""")
      details("spans_file") = Json.str(spansFile.getPath)
      // self time per layer, for the reader of the log
      System.err.println(s"perfbench: self time per layer over ${traced.ops} ops " +
        s"(op wall ${"%.3f".format(opTotal)} s): " +
        selfOfOps.toSeq.sortBy(-_._2).map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
      if (selfOfOps.size < 2) tally.fail("traced run recorded no layer spans")
    }

    val disk = graft.BenchMetrics.diskMbps(64L << 20)
    spark.stop()
    val prov = Seq(
      "workload" -> Json.str(w.name), "seed" -> a.seed.toString,
      "seconds" -> Json.num(a.seconds), "trace" -> (if (a.trace) "1" else "0"),
      "cores" -> cores.toString,
      "master" -> Json.str(s"local[$cores]"),
      "shuffle_partitions" -> cores.toString,
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "java_vm" -> Json.str(System.getProperty("java.vm.name")),
      "disk_mbps" -> Json.num(disk))
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val json = obj(Seq(
      "correct" -> (tally.failed == 0).toString,
      "attempted" -> tally.attempted.toString,
      "failed" -> tally.failed.toString,
      "metrics" -> obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "details" -> obj(details ++ Seq("errors" -> tally.errors.map(Json.str).mkString("[", ",", "]"))),
      "provenance" -> obj(prov)))
    Files.writeString(a.out.toPath, json)
  }
}
