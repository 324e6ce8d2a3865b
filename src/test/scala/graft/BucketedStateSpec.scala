package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.Sinks

/** The scale property of the bucketed state sink: per-batch I/O is
  * proportional to the buckets a batch touches, not to total state size. */
class BucketedStateSpec extends SparkSpec {

  private def mkBatch(keys: Seq[Long], v: Double, op: String = "U"): DataFrame = {
    import spark.implicits._
    keys.map(k => ("db", "t", k, op, v, 1000L + k)).toDF(
      "schema_name", "table_name", "pk", "net_op", "final_val", "last_commit_ts")
  }

  test("a batch touching 1% of keys rewrites only its buckets") {
    val dir = Files.createTempDirectory("bucket_state").toString
    Sinks.parquetStateSink(spark, s"$dir/state")(mkBatch(0L until 1000L, 1.0), 0L)
    val v0 = Sinks.stateVersions(s"$dir/state")
    assert(v0.size >= 50, s"1000 keys should occupy most of 64 buckets, got ${v0.size}")

    Sinks.parquetStateSink(spark, s"$dir/state")(mkBatch(0L until 10L, 2.0), 1L)
    val v1 = Sinks.stateVersions(s"$dir/state")
    val changed = v1.count { case (b, v) => v0.get(b) != Some(v) }
    assert(changed <= 10, s"10 keys must touch <=10 buckets, rewrote $changed")
    assert(changed >= 1)

    val state = Sinks.readState(spark, s"$dir/state")
    assert(state.count() === 1000)
    assert(state.filter(col("final_val") === 2.0).count() === 10)
    assert(state.filter(col("pk") < 10 && col("final_val") === 1.0).count() === 0)
  }

  test("deletes clear keys (even a whole bucket) and replay is a no-op") {
    val dir = Files.createTempDirectory("bucket_state2").toString
    Sinks.parquetStateSink(spark, s"$dir/state")(mkBatch(0L until 100L, 1.0), 0L)
    Sinks.parquetStateSink(spark, s"$dir/state")(mkBatch(0L until 100L, 0.0, "D"), 1L)
    assert(Sinks.readState(spark, s"$dir/state").count() === 0)
    // replay the delete batch (same batchId): skipped, state unchanged
    Sinks.parquetStateSink(spark, s"$dir/state")(mkBatch(0L until 100L, 9.0), 1L)
    assert(Sinks.readState(spark, s"$dir/state").count() === 0)
    // next batch re-inserts
    Sinks.parquetStateSink(spark, s"$dir/state")(mkBatch(0L until 5L, 3.0), 2L)
    assert(Sinks.readState(spark, s"$dir/state").count() === 5)
  }

  test("each touched bucket version is one file at any shuffle-partition count") {
    val conf = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(conf)
    try for (parts <- Seq(1, 8)) {
      spark.conf.set(conf, parts.toLong)
      val dir = Files.createTempDirectory(s"bucket_state_files$parts").toString
      val stateDir = s"$dir/state"
      val rnd = new scala.util.Random(parts)
      val expect = scala.collection.mutable.Map.empty[Long, Double]
      for (batchId <- 0L until 4L) {
        // batch 0 inserts 400 keys; later batches update ~150 of them and
        // delete 3 (never a whole bucket's worth)
        val ups = if (batchId == 0) 0L until 400L
          else Seq.fill(150)(rnd.nextInt(400).toLong).distinct
            .filter(expect.contains)
        val dels = if (batchId == 0) Nil
          else expect.keys.toSeq.sorted.filterNot(ups.contains).take(3)
        val v = batchId + 1.0
        val before = Sinks.stateVersions(stateDir)
        Sinks.parquetStateSink(spark, stateDir)(
          mkBatch(ups, v).unionByName(mkBatch(dels, 0.0, "D")), batchId)
        ups.foreach(expect(_) = v)
        dels.foreach(expect.remove)
        val touched = Sinks.stateVersions(stateDir)
          .filter { case (b, ver) => !before.get(b).contains(ver) }
        assert(touched.nonEmpty)
        touched.foreach { case (b, ver) =>
          val files = new java.io.File(s"$stateDir/b$b/v$ver").listFiles()
            .count(_.getName.endsWith(".parquet"))
          assert(files === 1, s"partitions $parts batch $batchId bucket $b")
        }
        val got = Sinks.readState(spark, stateDir)
          .select("pk", "final_val").collect()
          .map(r => r.getLong(0) -> r.getDouble(1))
        assert(got.length === expect.size)
        assert(got.toMap === expect.toMap)
      }
    } finally spark.conf.set(conf, saved)
  }

  test("vacuum keeps each bucket's live version") {
    val dir = Files.createTempDirectory("bucket_state3").toString
    for (b <- 0L to 4L)
      Sinks.parquetStateSink(spark, s"$dir/state")(mkBatch(Seq(b), b * 1.0), b)
    Sinks.vacuumState(s"$dir/state", keep = 0)
    assert(Sinks.readState(spark, s"$dir/state").count() === 5)
  }
}
