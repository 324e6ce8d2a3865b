package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/**
 * Seeded input generators. Every generator is a pure function of its
 * config (which carries the seed): the same config yields the same rows in
 * the same order, so `digest` is stable across runs and machines. The
 * program under test only ever sees the rows these produce.
 */
object Gen {

  /** Zipf(s) sampler over ranks 0 until n (s = 0 is uniform). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update((s + "\n").getBytes("UTF-8"))
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Lower-case pseudo-words built from a seeded syllable table. */
  def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val cons = "bcdfghklmnprstvz"
    val vows = "aeiou"
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syl = 2 + r.nextInt(3)
      val sb = new StringBuilder
      for (_ <- 0 until syl) {
        sb += cons.charAt(r.nextInt(cons.length))
        sb += vows.charAt(r.nextInt(vows.length))
      }
      seen += sb.toString
    }
    seen.toArray
  }

  // ------------------------------------------------------------------ feed

  /** One CDC envelope row (the `graft.core.CdcStream` schema). */
  final case class Event(seq: Long, op: String, commitTs: Long, startTs: Long,
      schema: String, table: String, pk: Long, pkAfter: Long,
      valBefore: Option[Double], valAfter: Option[Double]) {
    def render: String =
      s"$seq|$op|$commitTs|$startTs|$schema|$table|$pk|$pkAfter|" +
        s"${valBefore.getOrElse("")}|${valAfter.getOrElse("")}"
  }

  /**
   * A change stream split into files at transaction boundaries. File 0 is
   * the initial snapshot (inserts only); files 1..n are the backlog.
   *
   * `zipf` > 0: each event picks a key by Zipf rank (hot keys are updated
   * over and over); present keys are updated or deleted, absent keys
   * inserted. `zipf` = 0: each event inserts a fresh key with probability
   * `insertPct`, else updates or deletes a uniformly chosen present key.
   */
  final case class FeedConfig(seed: Long, schemas: Int, tablesPerSchema: Int,
      keysPerTable: Int, snapshotPct: Int, files: Int, rowsPerFile: Int,
      zipf: Double, insertPct: Int, deletePct: Int, churnPct: Int,
      maxTxnRows: Int)

  final case class Feed(snapshot: Seq[Event], backlog: Seq[Seq[Event]]) {
    def all: Iterator[Event] = snapshot.iterator ++ backlog.iterator.flatten
    def digest: String = {
      val d = new Digest
      d.add(s"snapshot ${snapshot.size}")
      snapshot.foreach(e => d.add(e.render))
      backlog.zipWithIndex.foreach { case (f, i) =>
        d.add(s"file $i ${f.size}"); f.foreach(e => d.add(e.render))
      }
      d.hex
    }
  }

  /** Present keys of one table with O(1) random pick and removal. */
  private final class KeySet {
    private val keys = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.HashMap.empty[Long, Int]
    val value = mutable.HashMap.empty[Long, Double]
    def size: Int = keys.size
    def contains(k: Long): Boolean = pos.contains(k)
    def pick(r: SplittableRandom): Long = keys(r.nextInt(keys.size))
    def put(k: Long, v: Double): Unit = {
      if (!pos.contains(k)) { pos(k) = keys.size; keys += k }
      value(k) = v
    }
    def remove(k: Long): Unit = {
      val i = pos.remove(k).get
      val last = keys.remove(keys.size - 1)
      if (last != k) { keys(i) = last; pos(last) = i }
      value.remove(k); ()
    }
  }

  def feed(c: FeedConfig): Feed = {
    val r = new SplittableRandom(c.seed * 0x9E3779B97F4A7C15L + 1)
    val tables = for (s <- 0 until c.schemas; t <- 0 until c.tablesPerSchema)
      yield (s"db$s", s"t$t")
    val present = Array.fill(tables.size)(new KeySet)
    // rank -> key: a seeded stride permutation keeps hot keys scattered
    val stride = {
      var st = 7919L + 2 * r.nextInt(1000)
      while (BigInt(st).gcd(BigInt(c.keysPerTable)) != 1) st += 2
      st
    }
    def keyOfRank(rank: Int): Long = (rank * stride) % c.keysPerTable
    val zipf = if (c.zipf > 0) new Zipf(c.keysPerTable, c.zipf) else null
    val fresh = Array.fill(tables.size)(c.keysPerTable.toLong)
    var seq = 0L
    var ts = 400000000000L
    def value(): Double = r.nextInt(10000000) / 100.0

    val snapshot = mutable.ArrayBuffer.empty[Event]
    for (ti <- tables.indices; k <- 0 until c.keysPerTable
         if r.nextInt(100) < c.snapshotPct) {
      if (k % 64 == 0) ts += 1
      val v = value()
      present(ti).put(k.toLong, v)
      seq += 1
      snapshot += Event(seq, "I", ts, ts - 1, tables(ti)._1, tables(ti)._2,
        k, k, None, Some(v))
    }

    def absentKey(ti: Int): Long =
      if (zipf == null) { fresh(ti) += 1; fresh(ti) }
      else {
        var k = r.nextInt(c.keysPerTable).toLong
        while (present(ti).contains(k)) k = r.nextInt(c.keysPerTable).toLong
        k
      }

    def event(ti: Int, commitTs: Long, startTs: Long): Event = {
      val (sch, tbl) = tables(ti)
      val ks = present(ti)
      // Left = insert this absent key, Right = change this present key
      val target: Either[Long, Long] =
        if (zipf != null) {
          val k = keyOfRank(zipf.sample(r))
          if (ks.contains(k)) Right(k) else Left(k)
        } else if (ks.size == 0 || r.nextInt(100) < c.insertPct) Left(absentKey(ti))
        else Right(ks.pick(r))
      seq += 1
      target match {
        case Left(k) =>
          val v = value(); ks.put(k, v)
          Event(seq, "I", commitTs, startTs, sch, tbl, k, k, None, Some(v))
        case Right(k) =>
          val old = ks.value(k)
          val roll = r.nextInt(100)
          if (roll < c.deletePct) {
            ks.remove(k)
            Event(seq, "D", commitTs, startTs, sch, tbl, k, k, Some(old), None)
          } else {
            val v = value()
            val after = if (roll < c.deletePct + c.churnPct) absentKey(ti) else k
            if (after != k) ks.remove(k)
            ks.put(after, v)
            Event(seq, "U", commitTs, startTs, sch, tbl, k, after, Some(old), Some(v))
          }
      }
    }

    val backlog = (0 until c.files).map { _ =>
      val rows = mutable.ArrayBuffer.empty[Event]
      while (rows.size < c.rowsPerFile) {
        ts += 1 + r.nextInt(3)
        val start = ts - 1 - r.nextInt(3)
        val n = 1 + r.nextInt(c.maxTxnRows)
        val ti = r.nextInt(tables.size)
        for (_ <- 0 until n) rows += event(ti, ts, start)
      }
      rows.toSeq
    }
    Feed(snapshot.toSeq, backlog)
  }

  // ------------------------------------------------------------------ diff

  /** One wide mixed-type row; `ts` is epoch seconds, `date` epoch days. */
  final case class WideRow(id: Long, cInt: Int, cLong: Long, cShort: Short,
      cDec: java.math.BigDecimal, cDbl: Double, cStr: String, cCat: String,
      cDate: Int, cTs: Long, cBool: Boolean) {
    def render: String =
      s"$id|$cInt|$cLong|$cShort|${cDec.toPlainString}|$cDbl|$cStr|$cCat|" +
        s"$cDate|$cTs|$cBool"
  }

  final case class DiffConfig(seed: Long, rows: Int, shards: Int,
      faultRanges: Int, rangeRows: Int, faultsPerKind: Int)

  /** Shards (by row index), the downstream table, and the planted
    * differences keyed by id: "missing" | "extra" | "different". */
  final case class DiffInput(shards: Seq[Seq[WideRow]], target: Seq[WideRow],
      planted: Map[Long, String]) {
    def digest: String = {
      val d = new Digest
      shards.zipWithIndex.foreach { case (s, i) =>
        d.add(s"shard $i ${s.size}"); s.foreach(x => d.add(x.render))
      }
      d.add(s"target ${target.size}"); target.foreach(x => d.add(x.render))
      planted.toSeq.sorted.foreach { case (k, v) => d.add(s"$k $v") }
      d.hex
    }
  }

  def diff(c: DiffConfig): DiffInput = {
    val r = new SplittableRandom(c.seed * 0x9E3779B97F4A7C15L + 2)
    val cats = Array("web", "store", "catalog", "mobile", "partner", "kiosk")
    val alnum = "abcdefghijklmnopqrstuvwxyz0123456789"
    def str(n: Int) = {
      val sb = new StringBuilder
      for (_ <- 0 until n) sb += alnum.charAt(r.nextInt(alnum.length))
      sb.toString
    }
    // ids are 4i + {0,1,2}: 4i + 3 is never used, so extra rows can take it
    def row(id: Long) = WideRow(id, r.nextInt(), r.nextLong() >> 8,
      (r.nextInt(65536) - 32768).toShort,
      java.math.BigDecimal.valueOf(r.nextLong(100000000000L) - 50000000000L, 2),
      r.nextInt(2000000000) / 1024.0, str(8 + r.nextInt(17)),
      cats(r.nextInt(cats.length)), 16000 + r.nextInt(4000),
      1400000000L + r.nextInt(400000000), r.nextBoolean())
    val source = Array.tabulate(c.rows)(i => row(4L * i + r.nextInt(3)))
    val target = mutable.LinkedHashMap.empty[Long, WideRow]
    source.foreach(x => target(x.id) = x)
    val planted = mutable.LinkedHashMap.empty[Long, String]
    // a few interior key ranges carry every fault
    val starts = mutable.LinkedHashSet.empty[Int]
    while (starts.size < c.faultRanges) {
      val s = c.rangeRows + r.nextInt(c.rows - 3 * c.rangeRows)
      if (starts.forall(o => math.abs(o - s) > c.rangeRows)) starts += s
    }
    for (s <- starts; kind <- Seq("missing", "extra", "different");
         _ <- 0 until c.faultsPerKind) {
      var i = s + r.nextInt(c.rangeRows)
      while (planted.contains(source(i).id) || planted.contains(4L * i + 3))
        i = s + r.nextInt(c.rangeRows)
      kind match {
        case "missing" =>
          target.remove(source(i).id); planted(source(i).id) = kind
        case "extra" =>
          target(4L * i + 3) = row(4L * i + 3); planted(4L * i + 3) = kind
        case _ =>
          val x = source(i)
          target(x.id) = r.nextInt(4) match {
            case 0 => x.copy(cInt = x.cInt ^ (1 << r.nextInt(31)))
            case 1 => x.copy(cStr = x.cStr + "x")
            case 2 => x.copy(cDec = x.cDec.add(java.math.BigDecimal.valueOf(1, 2)))
            case _ => x.copy(cDate = x.cDate + 1)
          }
          planted(x.id) = kind
      }
    }
    val shards = (0 until c.shards).map(k =>
      source.indices.filter(_ % c.shards == k).map(source(_)).toSeq)
    DiffInput(shards, target.values.toSeq.sortBy(_.id), planted.toMap)
  }

  // ----------------------------------------------------------------- dedup

  final case class Doc(id: Long, text: String, priority: Int, cluster: Long) {
    def render: String = s"$id|$priority|$cluster|$text"
  }

  /** Unique documents plus planted near-duplicate clusters: Zipf-sized
    * clusters and one mega-cluster. A member is its cluster's base text
    * with one or two member-specific words appended (a boilerplate-tail
    * edit: shingle Jaccard to the base ≥ (n−2)/n). `cluster` is the
    * planted cluster's smallest id, or the doc's own id when unique. */
  final case class DedupConfig(seed: Long, docs: Int, clusteredPct: Int,
      megaCluster: Int, maxCluster: Int, zipf: Double, minWords: Int,
      maxWords: Int, vocab: Int)

  final case class DedupInput(docs: Seq[Doc]) {
    def digest: String = {
      val d = new Digest
      docs.foreach(x => d.add(x.render)); d.hex
    }
  }

  def dedup(c: DedupConfig): DedupInput = {
    val r = new SplittableRandom(c.seed * 0x9E3779B97F4A7C15L + 3)
    val vocab = vocabulary(r, c.vocab)
    def text(): Array[String] =
      Array.fill(c.minWords + r.nextInt(c.maxWords - c.minWords + 1))(
        vocab(r.nextInt(vocab.length)))
    val sizes = mutable.ArrayBuffer(c.megaCluster)
    val zipf = new Zipf(c.maxCluster - 1, c.zipf)
    val clustered = c.docs * c.clusteredPct / 100
    while (sizes.sum < clustered) sizes += 2 + zipf.sample(r)
    val groups: Seq[Seq[String]] = sizes.toSeq.map { n =>
      val base = text()
      (0 until n).map { j =>
        if (j == 0) base.mkString(" ")
        else {
          val tail = Seq.fill(1 + r.nextInt(2))(s"${vocab(r.nextInt(vocab.length))}$j")
          (base ++ tail).mkString(" ")
        }
      }
    }
    val uniques = math.max(0, c.docs - sizes.sum)
    val texts = groups.zipWithIndex.flatMap { case (g, gi) => g.map(t => (t, gi)) } ++
      (0 until uniques).map(_ => (text().mkString(" "), -1))
    // seeded shuffle so cluster members get scattered ids
    val ids = Array.tabulate(texts.size)(_.toLong)
    for (i <- ids.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val groupMin = mutable.HashMap.empty[Int, Long]
    texts.zip(ids).foreach { case ((_, gi), id) =>
      if (gi >= 0) groupMin(gi) = math.min(groupMin.getOrElse(gi, Long.MaxValue), id)
    }
    val docs = texts.zip(ids).map { case ((t, gi), id) =>
      Doc(id, t, r.nextInt(10), if (gi >= 0) groupMin(gi) else id)
    }.sortBy(_.id)
    DedupInput(docs)
  }
}
