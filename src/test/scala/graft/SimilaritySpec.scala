package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("cosine near-dup pairs: parallel vectors pair, orthogonal don't") {
    val df = vecs(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(2f, 0f, 0f, 0f)),   // cos(0,1) = 1
      (2L, Seq(0f, 1f, 0f, 0f)))   // cos(·,2) = 0
    val out = Similarity.cosineNearDupPairs(df, 0.9).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
  }

  test("brute-force top-k ranks by cosine with deterministic ties") {
    val df = vecs(
      (0L, Seq(1f, 0f)),           // query
      (1L, Seq(1f, 0.1f)),         // closest
      (2L, Seq(1f, 1f)),           // cos ≈ 0.707
      (3L, Seq(0f, 1f)))           // orthogonal
    val out = Similarity.bruteForceTopK(df, numQueries = 1, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("LSH top-k returns a rank-consistent subset of brute force") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(emb, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, 10, 5).collect()
    // every LSH hit must agree with brute force membership at same k is
    // not guaranteed (bucket pruning), but candidates must come from the
    // corpus and ranks must be 1..k without gaps per query
    val byQuery = lsh.groupBy(_.getLong(0))
    byQuery.foreach { case (_, rows) =>
      val ranks = rows.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks == (1L to ranks.length).toSeq)
    }
    // multi-probe recall floor: on 500 nearly-orthogonal vectors spread
    // over 64 buckets, ~20% top-5 recall is the expected regime (LSH
    // earns its keep at millions of vectors, not hundreds)
    val hits = lsh.map(r => (r.getLong(0), r.getLong(1))).count(brute.contains)
    assert(hits >= brute.size / 5,
      s"multi-probe LSH recall too low: $hits of ${brute.size}")
  }

  test("blocked pair grid equals a naive theta join on the real corpus") {
    import org.apache.spark.sql.functions._
    import graft.functions.ArrayOps
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pa = emb.select(col("vec_id").as("i"), col("embedding").cast("array<double>").as("vi"))
    val pb = emb.select(col("vec_id").as("j"), col("embedding").cast("array<double>").as("vj"))
    val naive = pa.join(pb, col("i") < col("j"))
      .filter(ArrayOps.dotNative(spark, col("vi"), col("vj")) /
        (sqrt(ArrayOps.dotNative(spark, col("vi"), col("vi"))) *
          sqrt(ArrayOps.dotNative(spark, col("vj"), col("vj")))) >= 0.4)
      .select(col("i"), col("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Similarity.cosineNearDupPairs(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == naive)
  }

  test("LSH pair search: subset of exact, full recall on high-sim pairs, pruned candidates") {
    import org.apache.spark.sql.functions._
    // deterministic synthetic corpus: 60 near-identical pairs (cos ≈ 0.999)
    // plus the spread the gaussian directions give — the regime where
    // hyperplane LSH is sound (near-dup thresholds), unlike the testdata's
    // deliberately threshold-hugging cos≈0.4 pairs
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(60) { g =>
      val v = Array.fill(16)(rnd.nextGaussian().toFloat)
      val dup = v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      Seq((2L * g, v.toSeq), (2L * g + 1, dup.toSeq))
    }.flatten
    val df = rows.toDF("vec_id", "embedding")
    val exact = Similarity.cosineNearDupPairs(df, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosineNearDupPairsLsh(df, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 60, s"expected the 60 planted pairs, got ${exact.size}")
    assert(lsh == exact, "hamming<=1 probing must enumerate cos>=0.95 pairs here")
    // candidate pruning: pairs sharing a bucket within hamming 1 must be
    // a small fraction of all n(n-1)/2 pairs — that's the entire point
    val buckets = df
      .select(col("vec_id"),
        Similarity.bucketOf(df, col("embedding").cast("array<double>")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val cand = (for {
      (i, bi) <- buckets; (j, bj) <- buckets
      if i < j && java.lang.Long.bitCount(bi ^ bj) <= 1
    } yield 1).size
    val all = buckets.length * (buckets.length - 1) / 2
    assert(cand * 3 < all, s"candidates $cand not << all pairs $all")
  }

  test("semantic dedup equals a driver-side union-find over the LSH pair graph") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pairs = Similarity.cosineNearDupPairsLsh(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty) // the fixture must exercise the non-trivial path
    // reference labeling: union-find on the collected pair set
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (i, j) =>
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) { val (lo, hi) = (math.min(ri, rj), math.max(ri, rj))
        parent(hi) = lo }
    }
    val got = Similarity.semanticDedup(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length == emb.count())
    got.foreach { case (id, cluster, kept) =>
      assert(cluster == find(id), s"vec $id labeled $cluster, want ${find(id)}")
      assert(kept == (cluster == id))
    }
  }

  test("incremental semantic dedup: bridge merge re-points a stored component") {
    import org.apache.spark.sql.functions._
    // 2D fixture in dims (0,1): the six hyperplanes' sign boundaries in
    // this subspace sit at 52.5/108.3/166.0/166.1/170.1/173.3 deg, so
    // B(157, id 0), A(110, id 5), M(135.5, id 10) share one bucket and
    // S(103, id 11) sits one flipped plane (108.3) away — hamming 1.
    // At threshold 0.9 (cos 25.8 deg) the verified edges are exactly
    // M-A (25.5 deg), M-B (21.5), S-A (7): S's ONLY edge is A, so its
    // admission label is 0 only if M's bridge merge of components {0} and
    // {5} re-points A's component — the strict cross-batch bridge case.
    def vec(deg: Double): Seq[Float] = {
      val a = Array.fill(64)(0f)
      a(0) = math.cos(math.toRadians(deg)).toFloat
      a(1) = math.sin(math.toRadians(deg)).toFloat
      a.toSeq
    }
    val emb = vecs((0L, vec(157.0)), (5L, vec(110.0)),
      (10L, vec(135.5)), (11L, vec(103.0)))
    // whole-corpus reference: one component, min id 0
    val whole = Similarity.semanticDedup(emb, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(whole == Seq((0L, 0L, true), (5L, 0L, false),
      (10L, 0L, false), (11L, 0L, false)))
    val index = emb.filter(col("vec_id") < 10)
    val (adm, lab) = Similarity.semanticDedupIncremental(
      index, Similarity.bucketTable(index),
      Similarity.semanticDedup(index, 0.9).filter(!col("kept"))
        .select(col("vec_id"), col("cluster_id")),
      emb.filter(col("vec_id") >= 10), 0.9)
    assert(adm.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getBoolean(2))).toSeq == Seq((10L, 0L, false), (11L, 0L, false)))
    // the updated sparse store carries the re-pointed component node 5
    assert(lab.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((5L, 0L), (10L, 0L), (11L, 0L)))
  }

  test("incremental semantic dedup equals whole-corpus dedup on the real corpus") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cut = emb.agg(expr("(max(vec_id) * 4) div 5").cast("long"))
      .head().getLong(0)
    val index = emb.filter(col("vec_id") < cut)
    val got = Similarity.semanticDedupIncremental(
      index, Similarity.bucketTable(index),
      Similarity.semanticDedup(index, 0.4).filter(!col("kept"))
        .select(col("vec_id"), col("cluster_id")),
      emb.filter(col("vec_id") >= cut), 0.4)._1
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val want = Similarity.semanticDedup(emb, 0.4)
      .filter(col("vec_id") >= cut)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("autoPlanes tracks the corpus-size candidate budget") {
    // n(p+1)/2^p <= 64 at the smallest p: 6 at the 500-vector oracle
    // corpus (the pinned NumPlanes default IS the auto answer there),
    // 10 at the 5k bench corpus, 18 at the 500k DevScale corpus
    assert(Similarity.autoPlanes(500) == 6)
    assert(Similarity.autoPlanes(5000) == 10)
    assert(Similarity.autoPlanes(500000) == 18)
    // monotone in corpus size, bounded for the Long bucket
    val ps = Seq(1L, 100L, 10000L, 1000000L, 100000000L)
      .map(Similarity.autoPlanes(_))
    assert(ps == ps.sorted && ps.last < 62)
    // huge corpora must not overflow the budget comparison: 2e17 rows
    // stop at p=58 (64·2^58 ≥ 2e17·59), not at the 62 cap
    assert(Similarity.autoPlanes(200000000000000000L) == 58)
  }

  test("autoM holds the refine candidate fraction as the corpus grows") {
    // every fixture corpus (500, 2000 rows) keeps the pinned 4k floor —
    // the refine oracle's literal m=40 stays the auto answer at each SF
    assert(Similarity.autoM(500, 10) == Similarity.RefineCandidates)
    assert(Similarity.autoM(2000, 10) == Similarity.RefineCandidates)
    assert(Similarity.autoM(1000000, 10) == Similarity.RefineCandidates)
    // the r12 10M audit's repair depth IS the auto answer at 10M
    assert(Similarity.autoM(10000000, 10) == 400)
    // cap: past maxM the policy says "switch codes", not "scan deeper"
    assert(Similarity.autoM(1000000000L, 10) == 4096)
    // monotone in corpusRows and in k
    val ms = Seq(0L, 500L, 1000000L, 10000000L, 100000000L, 10000000000L)
      .map(Similarity.autoM(_, 10))
    assert(ms == ms.sorted)
    assert(Similarity.autoM(500, 20) == 80) // 4k floor scales with k
  }

  test("autoCells holds cell occupancy as the corpus grows") {
    // every fixture corpus (500, 2000 rows) keeps the pinned IvfCells=16
    // floor — the oracles' literal cell count stays the auto answer
    assert(Similarity.autoCells(0) == Similarity.IvfCells)
    assert(Similarity.autoCells(500) == Similarity.IvfCells)
    assert(Similarity.autoCells(2000) == Similarity.IvfCells)
    assert(Similarity.autoCells(640000) == Similarity.IvfCells)
    // the r13 clustered audit's winning cell count IS the auto answer
    // at 10M (256 cells / 8 probes: 86.7% per-cell SQ8, 100% IVF+exact)
    assert(Similarity.autoCells(10000000) == 256)
    // power-of-two grid + cap
    assert(Similarity.autoCells(1000000) == 32)
    assert(Similarity.autoCells(1000000000L) == 4096)
    assert(Similarity.autoCells(Long.MaxValue / 2) == 4096)
    // monotone in corpusRows
    val cs = Seq(0L, 500L, 650000L, 1000000L, 10000000L, 100000000L,
      10000000000L).map(Similarity.autoCells(_))
    assert(cs == cs.sorted)
  }

  test("annRegimeProbe separates clustered from uniform corpora") {
    import org.apache.spark.sql.functions._
    // uniform fixture: fit to the nearest of 16 centroids sits far below
    // the 7000 bp line (measured 3297/3288 bp at sf0.001/0.01)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val u = Similarity.annRegimeProbe(emb).head()
    assert(u.getString(3) == "uniform", s"uniform fixture read $u")
    assert(u.getLong(1) == Similarity.IvfCells.toLong)
    // synthetic 4-cluster corpus (tight noise around orthogonal centers):
    // members fit their centroid near 10000 bp -> clustered
    val dim = 64
    val cl = vecs((0L until 200L).map { i =>
      val c = (i % 4).toInt
      (i, Seq.tabulate(dim)(d =>
        (if (d / 16 == c) 1.0 else 0.0) +
          ((i * 31 + d) % 7).toDouble / 100.0).map(_.toFloat))
    }: _*)
    val p = Similarity.annRegimeProbe(cl).head()
    assert(p.getString(3) == "clustered", s"clustered corpus read $p")
    // the router follows the probe: on the uniform fixture the routed
    // result IS the SQ8 full scan, row for row
    val routed = Similarity.adaptiveAnnTopK(emb, 10, 5).collect().map(_.toSeq)
    val sq = Similarity.sqTopK(emb, 10, 5).collect().map(_.toSeq)
    assert(routed.toSeq == sq.toSeq)
    // clustered branch: the routed result (probe centroids THREADED into
    // the operator) equals the self-training per-cell operator row for
    // row — the reuse is bit-identical, not just equivalent-ish
    val routedCl = Similarity.adaptiveAnnTopK(cl, 10, 5).collect().map(_.toSeq)
    val cellCl = Similarity.ivfSqCellTopK(cl, 10, 5).collect().map(_.toSeq)
    assert(routedCl.toSeq == cellCl.toSeq)
  }

  test("NearestCells matches the sort_array-of-rounded-structs spelling") {
    import org.apache.spark.sql.functions._
    import graft.functions.ArrayOps
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0).toInt, r.getAs[scala.collection.Seq[Double]](1).toSeq))
      .sortBy(_._1).toSeq
    val prep = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(ArrayOps.dotNative(spark, col("v"), col("v"))))
    val viaStructs = prep.select(col("vec_id"),
        slice(sort_array(array(cents.map { case (cid, cv) =>
          val cnorm = math.sqrt(cv.map(x => x * x).sum)
          struct(round(ArrayOps.dotNative(spark, col("v"), typedlit(cv)) /
            (col("nrm") * cnorm), 6).as("score"), lit(cid).as("cid"))
        }: _*), asc = false), 1, 2))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getInt(1)).toSeq).toMap
    val viaNative = prep.select(col("vec_id"),
        ArrayOps.nearestCells(spark, col("v"), col("nrm"), cents.map(_._2), 2))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(viaNative == viaStructs)
  }

  test("IVF top-k: rank-consistent, non-trivial recall vs brute force") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(emb, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, 10, 5).collect()
    ivf.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val ranks = rows.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks == (1L to ranks.length).toSeq)
    }
    val hits = ivf.map(r => (r.getLong(0), r.getLong(1))).count(brute.contains)
    assert(hits >= brute.size / 5,
      s"IVF recall too low: $hits of ${brute.size}")
  }

  test("k-means centroids are bit-identical across partitionings (fixed-point means)") {
    // double sums are aggregation-order-dependent; the trainer sums
    // round(x*2^20) longs instead, so centroids — and therefore IVF
    // assignments and recall — must not vary with the physical layout
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def prep(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(
        graft.functions.ArrayOps.dotNative(spark, col("v"), col("v"))))
    val a = graft.operators.Similarity.kmeansCentroids(prep(emb), 16, 3)
    val b = graft.operators.Similarity.kmeansCentroids(
      prep(emb.repartition(13)), 16, 3)
    assert(a == b, "centroids differ across partitionings")
  }

  test("clusterEmbeddings partitions the corpus exactly once, layout-invariant") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.clusterEmbeddings(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every vector lands in exactly one cell; cell ids are seed ranks
    assert(out.map(_._2).sum == emb.count())
    assert(out.map(_._1).distinct.length == out.length)
    assert(out.forall { case (c, n, _) => c >= 0 && c < 16 && n > 0 })
    // physical layout must not move a single vector (fixed-point means +
    // rounded assignment are order-free)
    val re = Similarity.clusterEmbeddings(emb.repartition(13)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == re.toSeq)
  }

  test("frozen-centroid assignment reproduces clusterEmbeddings when batch = corpus") {
    // same training corpus, same seed, same tie contract -> aggregating
    // the per-vector assignments must equal the trainer's cell histogram
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.clusterArtifacts(emb)
    val assigned = Similarity.assignWith(cents, emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val hist = assigned.groupBy(_._2).map { case (c, rows) =>
      (c, rows.length.toLong, rows.map(_._1).min) }.toSeq.sorted
    val whole = Similarity.clusterEmbeddings(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(hist == whole)
  }

  test("centroid artifacts survive a parquet round-trip and assign a new batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cents_")
    try {
      // two tight clusters around the axes; train on 6 vectors with
      // cells=2, then assign two UNSEEN vectors near each cluster
      val train = vecs(
        (0L, Seq(1f, 0.01f)), (1L, Seq(1f, -0.02f)), (2L, Seq(1f, 0.03f)),
        (3L, Seq(0.01f, 1f)), (4L, Seq(-0.02f, 1f)), (5L, Seq(0.03f, 1f)))
      val cents = Similarity.clusterArtifacts(train, cells = 2, iters = 2)
      cents.write.parquet(dir.resolve("cents").toString)
      val loaded = spark.read.parquet(dir.resolve("cents").toString)
      val batch = vecs((10L, Seq(1f, 0.05f)), (11L, Seq(0.05f, 1f)))
      val got = Similarity.assignWith(loaded, batch).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      // the two unseen vectors must land in DIFFERENT cells, and each
      // with the training vectors it is parallel to
      val trainCells = Similarity.assignWith(loaded, train).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got(10L) != got(11L))
      assert(got(10L) == trainCells(0L) && got(11L) == trainCells(3L))
    } finally
      graft.streaming.StreamingSessions.deleteRecursively(dir)
  }

  test("assignWith rejects a sparse (non-dense-cell) centroid artifact") {
    val emb = vecs((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
    val cents = Similarity.clusterArtifacts(emb, cells = 2, iters = 1)
    val sparse = cents.filter($"cell" =!= 0L)
    val e = intercept[IllegalArgumentException] {
      Similarity.assignWith(sparse, emb)
    }
    assert(e.getMessage.contains("dense"))
  }

  test("assignWith rejects a double-appended or truncated centroid artifact") {
    val emb = vecs((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
    val cents = Similarity.clusterArtifacts(emb, cells = 2, iters = 1)
    // a replayed append duplicates every (cell, pos) row: cells stay
    // dense, positions are no longer unique — must fail, not silently
    // truncate the dot product
    val doubled = cents.union(cents)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.assignWith(doubled, emb)
    }
    assert(e1.getMessage.contains("corrupted"))
    // a partial write drops one position row of one cell
    val truncated = cents.filter($"cell" =!= 1L || $"pos" =!= 1L)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.assignWith(truncated, emb)
    }
    assert(e2.getMessage.contains("corrupted"))
  }

  test("semanticDedupIncremental: interleaved ids violate the monotone invariant loudly") {
    // the public operator keeps its guard (the streaming loop calls the
    // guard-less core only after its frontier filter)
    val idx = vecs((0L, Seq(1f, 0f)), (7L, Seq(0f, 1f)))
    val batch = vecs((5L, Seq(1f, 0.01f))) // 5 < index max 7
    val labels = Similarity.semanticDedup(idx, 0.4)
      .filter(!$"kept").select($"vec_id", $"cluster_id")
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedupIncremental(idx, Similarity.bucketTable(idx),
        labels, batch, 0.4)._1.collect()
    }
    assert(e.getMessage.contains("monotone"), e.getMessage)
  }

  test("semanticDedupIncremental rejects a bucket table from more planes") {
    val idx = vecs((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
    val batch = vecs((10L, Seq(1f, 0.01f)))
    // index bucketed at 12 planes, probed at 6: stored bucket values can
    // exceed the 6-plane bit space — must fail, not silently miss pairs
    val wideBuckets = Similarity.bucketTable(idx, numPlanes = 12)
    val labels = Similarity.semanticDedup(idx, 0.4, numPlanes = 12)
      .filter(!$"kept").select($"vec_id", $"cluster_id")
    // guard triggers only when a stored bucket actually uses a high bit;
    // force one deterministically
    val forced = wideBuckets.withColumn("bucket",
      org.apache.spark.sql.functions.lit(1L << 10))
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedupIncremental(idx, forced, labels, batch, 0.4,
        numPlanes = 6)
    }
    assert(e.getMessage.contains("plane"))
  }

  test("zero-norm vectors are excluded from top-k on both sides") {
    // vec 0 is a zero vector: as a query it must emit no rows (not k
    // NULL-cosine rows); as a corpus row it must never appear as a
    // neighbor
    val emb = vecs((0L, Seq(0f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0f, 1f)))
    Seq(
      Similarity.bruteForceTopK(emb, numQueries = 2, k = 3),
      Similarity.lshTopK(emb, numQueries = 2, k = 3),
      Similarity.ivfTopK(emb, numQueries = 2, k = 3, probes = 2)).foreach { df =>
      val rows = df.collect()
      assert(!rows.exists(_.getLong(0) == 0L), "zero-norm query emitted rows")
      assert(!rows.exists(_.getLong(1) == 0L), "zero-norm neighbor emitted")
    }
  }

  test("PQ top-k: deterministic across runs, recall floor vs brute force") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = Similarity.pqTopK(emb, 10, 5).collect().map(_.toSeq).toSeq
    val b = Similarity.pqTopK(emb, 10, 5).collect().map(_.toSeq).toSeq
    assert(a == b, "md5 seeds + fixed-point Lloyd must make PQ bit-stable")
    val brute = Similarity.bruteForceTopK(emb, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = a.count(r =>
      brute.contains((r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])))
    println(s"[pq] recall: $hits of ${brute.size}")
    assert(hits * 5 >= brute.size,
      s"PQ recall collapsed: $hits of ${brute.size} (floor 20%)")
  }

  test("SQ8 top-k: deterministic, near-exact recall vs brute force") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = Similarity.sqTopK(emb, 10, 5).collect().map(_.toSeq).toSeq
    val b = Similarity.sqTopK(emb, 10, 5).collect().map(_.toSeq).toSeq
    assert(a == b, "min/max bounds are exact — SQ8 must be bit-stable")
    val brute = Similarity.bruteForceTopK(emb, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = a.count(r =>
      brute.contains((r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])))
    println(s"[sq8] recall: $hits of ${brute.size}")
    // 8 bits per DIMENSION: quantization noise ~step/2 per dim sits far
    // below ranking margins — the floor is 90%, not PQ's 20%
    assert(hits * 10 >= brute.size * 9,
      s"SQ8 recall below 90%: $hits of ${brute.size}")
  }

  test("IVF-SQ8: recall >= IVF-PQ under the identical cell pruning") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(emb, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(rows: Array[org.apache.spark.sql.Row]): Int = rows.count(r =>
      brute.contains((r.getLong(0), r.getLong(1))))
    val sq = recall(Similarity.ivfSqTopK(emb, 10, 5).collect())
    val pq = recall(Similarity.ivfPqTopK(emb, 10, 5).collect())
    println(s"[ivfsq] recall: $sq of ${brute.size} (ivfpq: $pq)")
    // same candidates (same coarse quantizer, same probes); 64 B/vec SQ8
    // codes cannot rank them worse than 2 B/vec PQ codes on this fixture
    assert(sq >= pq, s"IVF-SQ8 recall $sq below IVF-PQ's $pq")
  }

  test("per-cell IVF-SQ8: bit-stable, recall >= global-bounds IVF-SQ8") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = Similarity.ivfSqCellTopK(emb, 10, 5).collect().map(_.toSeq).toSeq
    val b = Similarity.ivfSqCellTopK(emb, 10, 5).collect().map(_.toSeq).toSeq
    assert(a == b, "per-cell min/max are exact — the scan must be bit-stable")
    val brute = Similarity.bruteForceTopK(emb, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(rows: Seq[Seq[Any]]): Int = rows.count(r =>
      brute.contains((r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])))
    val cell = recall(a)
    val global = recall(
      Similarity.ivfSqTopK(emb, 10, 5).collect().map(_.toSeq).toSeq)
    println(s"[ivfsq-cell] recall: $cell of ${brute.size} (global: $global)")
    // identical candidates (same quantizer, same probes); per-cell bounds
    // are never wider than the global bounds, so the code step per dim is
    // never coarser — but rounding can still flip a near-tie neighbor
    // ordering either way, so the guarantee is statistical, not per-pair:
    // allow one flipped hit of slack rather than pinning an inequality a
    // fixture tweak could falsify despite correct code
    assert(cell >= global - 1,
      s"per-cell IVF-SQ8 recall $cell below global-bounds $global - 1")
  }

  test("per-cell SQ8 codes: a cell-constant dim dequantizes exactly") {
    // two tight clusters far apart; dim 0 is CONSTANT within each cell
    // but spans [0, 10] globally — per-cell bounds make it degenerate
    // (st = 0), so the code carries zero error where global bounds would
    // quantize at step 10/255. The operator's top-1 within each cluster
    // must match exact cosine ranking.
    val dim = 64
    def v(base: Double, jit: Double) =
      Seq.tabulate(dim)(d => if (d == 0) base else jit + d / 100.0)
    val df = vecs(
      (0L, v(0.0, 0.30).map(_.toFloat)), (1L, v(0.0, 0.31).map(_.toFloat)),
      (2L, v(0.0, 0.35).map(_.toFloat)), (3L, v(10.0, 0.30).map(_.toFloat)),
      (4L, v(10.0, 0.31).map(_.toFloat)), (5L, v(10.0, 0.35).map(_.toFloat)))
    val brute = Similarity.bruteForceTopK(df, 2, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.ivfSqCellTopK(df, 2, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"per-cell top-1 $got must equal exact $brute")
  }

  test("SQ8 incremental encode: frozen bounds clamp out-of-range batch values") {
    // cut = (4*4) div 5 = 3 → train = {0,1,2}, batch = {3,4}; the batch
    // carries values outside the trained [min,max] on every dim
    val dim = 64
    val df = vecs(
      (0L, Seq.tabulate(dim)(d => (d % 5).toFloat / 10f)),
      (1L, Seq.tabulate(dim)(d => ((d + 1) % 5).toFloat / 10f)),
      (2L, Seq.tabulate(dim)(d => ((d + 2) % 5).toFloat / 10f)),
      (3L, Seq.tabulate(dim)(_ => 100f)),   // far above every max
      (4L, Seq.tabulate(dim)(_ => -100f)))  // far below every min
    val out = Similarity.sqEncodeIncremental(df).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(3L, 4L))
    val codes = out.map(r => (1 to dim).map(r.getLong))
    assert(codes.flatten.forall(c => c >= 0L && c <= 255L), "clamp violated")
    // vec 3 is the positive direction scaled up: normalized it still
    // exceeds the trained per-dim max on SOME dims → codes hit 255
    assert(codes(0).contains(255L) && codes(1).contains(0L),
      "out-of-range batch values must saturate the code range")
  }

  test("SQ8 bounds drift: planted range drift flips the alarm, control does not, with margin") {
    import org.apache.spark.sql.functions._
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val emb = Tables.embeddings(spark, s"/root/testdata/$sf")
      val cut = emb.agg(expr("(max(vec_id) * 4) div 5").cast("long"))
        .head().getLong(0)
      val idx = emb.filter(col("vec_id") < cut)
      val tail = emb.filter(col("vec_id") >= cut)
      // dimension collapse (keep 24 of 64): the surviving dims' normalized
      // mass concentrates past the trained bounds; a global shift/scale
      // would NOT trip the gate — it vanishes under normalization
      val drifted = tail.withColumn("embedding",
        concat(slice(col("embedding").cast("array<double>"), 1, 24),
          typedlit(Seq.fill(40)(0.0))))
      val none = Similarity.sqBoundsDrift(idx, tail).collect()(0)
      val planted = Similarity.sqBoundsDrift(idx, drifted).collect()(0)
      def pm(r: org.apache.spark.sql.Row) =
        (r.getLong(r.fieldIndex("sat_pm_batch")),
          r.getLong(r.fieldIndex("sat_pm_index")))
      val (nb, ni) = pm(none); val (pb, pi) = pm(planted)
      println(s"[sq-drift] $sf control batch=$nb idx=$ni diff=${nb - ni}; " +
        s"planted batch=$pb diff=${pb - pi} (alarm at >10)")
      assert(!none.getBoolean(none.fieldIndex("retrain_needed")),
        s"control tripped the alarm at $sf")
      assert(planted.getBoolean(planted.fieldIndex("retrain_needed")),
        s"planted drift missed at $sf")
      // calibration discipline (the annArtifactDrift rule): >= 2x margin
      // on BOTH sides of the 10-per-mille threshold
      assert(nb - ni <= 5, s"control margin thin at $sf: ${nb - ni}")
      assert(pb - pi >= 20, s"planted margin thin at $sf: ${pb - pi}")
    }
  }

  test("per-cell SQ8 artifacts: occupied cells x 64 dims, mn <= mx, bit-stable") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = Similarity.sqCellArtifacts(emb).orderBy(col("cell"), col("pos"))
      .collect().map(_.toSeq).toSeq
    val b = Similarity.sqCellArtifacts(emb).orderBy(col("cell"), col("pos"))
      .collect().map(_.toSeq).toSeq
    assert(a == b, "min/max artifacts are exact — must be bit-stable")
    val cells = a.map(_.head.asInstanceOf[Long]).distinct
    assert(a.size == cells.size * 64, "64 bound rows per occupied cell")
    assert(a.forall(r => r(2).asInstanceOf[Double] <= r(3).asInstanceOf[Double]),
      "mn must never exceed mx")
  }

  test("per-cell incremental encode: batch coverage, clamp, artifact parity") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cut = emb.agg(expr("(max(vec_id) * 4) div 5").cast("long"))
      .head().getLong(0)
    val out = Similarity.ivfSqCellEncodeIncremental(emb).collect()
    // every encoded row is a batch row; codes clamp to the 8-bit range
    assert(out.nonEmpty && out.forall(_.getLong(0) >= cut))
    assert(out.forall(r => (2 until 2 + 64).forall(i =>
      r.getLong(i) >= 0L && r.getLong(i) <= 255L)), "clamp violated")
    // a batch row re-encoded against the PREFIX-trained artifacts by hand
    // (nearest trained cell + that cell's bounds) must match — ties the
    // operator to the artifact tables it claims to be the daily-run of
    val again = Similarity.ivfSqCellEncodeIncremental(emb).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "bit-stable")
  }

  test("per-cell bounds drift: planted collapse flips the alarm, control does not") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cut = emb.agg(expr("(max(vec_id) * 4) div 5").cast("long"))
      .head().getLong(0)
    val idx = emb.filter(col("vec_id") < cut)
    val tail = emb.filter(col("vec_id") >= cut)
    val drifted = tail.withColumn("embedding",
      concat(slice(col("embedding").cast("array<double>"), 1, 24),
        typedlit(Seq.fill(40)(0.0))))
    val none = Similarity.sqCellBoundsDrift(idx, tail).collect()(0)
    val planted = Similarity.sqCellBoundsDrift(idx, drifted).collect()(0)
    def pm(r: org.apache.spark.sql.Row) =
      (r.getLong(r.fieldIndex("sat_pm_batch")),
        r.getLong(r.fieldIndex("sat_pm_index")))
    val (nb, ni) = pm(none); val (pb, pi) = pm(planted)
    println(s"[sqcell-drift] control batch=$nb idx=$ni diff=${nb - ni}; " +
      s"planted batch=$pb diff=${pb - pi} (alarm at >10)")
    assert(!none.getBoolean(none.fieldIndex("retrain_needed")),
      "control tripped the per-cell alarm")
    assert(planted.getBoolean(planted.fieldIndex("retrain_needed")),
      "planted collapse missed by the per-cell gate")
  }

  test("packed SQ8 ADC kernel matches the unpacked array spelling bit-for-bit") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // arbitrary 0..255 code vectors + an arbitrary weight vector: the
    // kernel contract is pure arithmetic, independent of the quantizer
    val codes = emb.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => pmod(abs((x * 1000).cast("long")), lit(256L))).as("codes"))
    val w = Seq.tabulate(64)(d => (d % 7 - 3) / 3.0 + d * 1e-3)
    val packed = graft.functions.ArrayOps.packCodes(spark, col("codes"))
    val viaBytes = graft.functions.ArrayOps.sqAdcDot(spark, packed, typedlit(w))
    val viaArray = graft.functions.ArrayOps.dotNative(spark, typedlit(w),
      col("codes").cast("array<double>"))
    val diff = codes.select((viaBytes =!= viaArray).as("d"))
      .filter(col("d")).count()
    assert(diff == 0L, s"$diff rows scored differently by the packed kernel")
  }

  test("NearestCodeL2 matches the array_max-of-structs spelling it replaced") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val prep = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("sv"))
      .filter(expr("aggregate(sv, 0d, (a, x) -> a + x * x)") > 0)
    // a deterministic toy codebook exercising negatives and ties
    val cents = Seq.tabulate(64)(j =>
      Seq.tabulate(64)(d => ((j * 31 + d * 7) % 13 - 6) / 10.0))
    val native = graft.functions.ArrayOps
      .nearestCodeL2(spark, col("sv"), cents)
    val structs = Similarity.pqNearestStructs(prep, col("sv"), cents)
    val diff = prep.select(col("vec_id"), native.as("a"), structs.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0L, s"$diff vectors coded differently by the two spellings")
  }

  test("ArraySub / ArrayDivScalar match the zip_with / transform spellings bit-for-bit") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val v = col("embedding").cast("array<double>")
    val base = emb.select(col("vec_id"), v.as("v"))
      .withColumn("nrm", sqrt(graft.functions.ArrayOps
        .dotNative(spark, col("v"), col("v"))))
      .filter(col("nrm") > 0)
    val offset = Seq.tabulate(64)(i => (i % 7 - 3) / 10.0)
    val d = base
      .withColumn("a1", graft.functions.ArrayOps
        .divScalarNative(spark, col("v"), col("nrm")))
      .withColumn("a2", transform(col("v"), x => x / col("nrm")))
      .withColumn("s1", graft.functions.ArrayOps
        .subNative(spark, col("a1"), typedlit(offset)))
      .withColumn("s2", zip_with(col("a2"), typedlit(offset), (x, c) => x - c))
    // exact bit equality, not tolerance: same IEEE op, same order
    val bad = d.filter(col("a1") =!= col("a2") || col("s1") =!= col("s2")).count()
    assert(bad == 0L, s"$bad rows diverge between native kernels and HOF spellings")
  }

  test("batched PQ training equals the per-subspace trainer book-for-book") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val v = col("embedding").cast("array<double>")
    val prep = emb.select(col("vec_id"), v.as("v"))
      .withColumn("nrm", sqrt(graft.functions.ArrayOps
        .dotNative(spark, col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .withColumn("vn", transform(col("v"), x => x / col("nrm")))
    val tr = Similarity.pqTrainCorpus(prep)
    val batched = Similarity.pqTrainAllSubspaces(tr)
    (0 until Similarity.PqSubspaces).foreach { s =>
      assert(batched(s) == Similarity.pqTrainSubspace(tr, s),
        s"subspace $s books diverge between the batched and per-subspace trainers")
    }
  }

  test("NearestCodeL2 parity with the struct spelling on NON-finite scores") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // ±Inf dots, NaN from Inf·0, and finite-overflow rows — the regime the
    // fixture never reaches; the kernel must still match Spark's
    // NaN-greatest, −0.0-below-0.0 argmax over (score, idx) structs
    val vecs = Seq(
      (1L, Seq(Double.PositiveInfinity, 1.0)),
      (2L, Seq(Double.NegativeInfinity, 1.0)),
      (3L, Seq(Double.NaN, 0.0)),
      (4L, Seq(1e308, 1e308)),
      (5L, Seq(-1e308, 0.5))).toDF("vec_id", "sv")
    val cents = Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0), Seq(0.0, 0.0))
    val native = graft.functions.ArrayOps.nearestCodeL2(spark, col("sv"), cents)
    val structs = Similarity.pqNearestStructs(vecs, col("sv"), cents)
    val rows = vecs.select(col("vec_id"), native.as("a"), structs.as("b"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"vec ${r.getLong(0)}: native ${r.getLong(1)} != structs ${r.getLong(2)}")
    }
  }

  test("IVF-PQ: deterministic, candidates respect the IVF pruning") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = Similarity.ivfPqTopK(emb, 10, 5).collect().map(_.toSeq).toSeq
    assert(a == Similarity.ivfPqTopK(emb, 10, 5).collect().map(_.toSeq).toSeq)
    // every reported neighbor must be an IVF candidate of its query —
    // the pruning is the whole point of the composition
    val ivf = Similarity.ivfTopK(emb, 10, Int.MaxValue - 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    a.foreach { r =>
      val pair = (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])
      assert(ivf.contains(pair), s"$pair scored outside the probed cells")
    }
  }

  test("residual IVF-PQ: deterministic, recall >= the raw-vector composition") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val res = Similarity.ivfPqResTopK(emb, 10, 5).collect().map(_.toSeq).toSeq
    assert(res == Similarity.ivfPqResTopK(emb, 10, 5).collect().map(_.toSeq).toSeq,
      "residual IVF-PQ must be bit-stable")
    val brute = Similarity.bruteForceTopK(emb, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(rows: Seq[Seq[Any]]): Int = rows.count(r =>
      brute.contains((r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])))
    val raw = Similarity.ivfPqTopK(emb, 10, 5).collect().map(_.toSeq).toSeq
    val (hitsRes, hitsRaw) = (recall(res), recall(raw))
    println(s"[ivfpq-res] recall: $hitsRes of ${brute.size} (raw: $hitsRaw)")
    // residual coding spends the codebooks on fine structure — it must
    // never do WORSE than coding the raw vectors with the same budget
    assert(hitsRes >= hitsRaw,
      s"residual recall $hitsRes below raw composition's $hitsRaw")
  }

  test("refine stage: deterministic, recall >= the ADC scan it re-ranks") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ref = Similarity.ivfPqResRefineTopK(emb, 10, 5, m = 20)
      .collect().map(_.toSeq).toSeq
    assert(ref == Similarity.ivfPqResRefineTopK(emb, 10, 5, m = 20)
      .collect().map(_.toSeq).toSeq, "refine must be bit-stable")
    val brute = Similarity.bruteForceTopK(emb, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(rows: Seq[Seq[Any]]): Int = rows.count(r =>
      brute.contains((r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])))
    val res = Similarity.ivfPqResTopK(emb, 10, 5).collect().map(_.toSeq).toSeq
    val (hitsRef, hitsRes) = (recall(ref), recall(res))
    println(s"[ivfpq-refine] recall: $hitsRef of ${brute.size} (adc: $hitsRes)")
    // every brute hit in the candidate set survives the exact re-rank, so
    // refine can never recall less than the ADC ranking it started from
    assert(hitsRef >= hitsRes,
      s"refine recall $hitsRef below the ADC scan's $hitsRes")
    // the re-rank only permutes/extends within the ADC candidate set
    val candSet = Similarity.ivfPqResTopK(emb, 10, 20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    ref.foreach { r =>
      val pair = (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])
      assert(candSet.contains(pair), s"$pair was never an ADC candidate")
    }
  }

  test("residual IVF-PQ incremental encode: deterministic, codes and cells in range") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = Similarity.ivfPqResEncodeIncremental(emb).collect().map(_.toSeq).toSeq
    val b = Similarity.ivfPqResEncodeIncremental(emb).collect().map(_.toSeq).toSeq
    assert(a == b, "frozen-artifact residual encode must be bit-stable")
    assert(a.nonEmpty)
    a.foreach { r =>
      val cell = r(1).asInstanceOf[Long]
      assert(cell >= 0L && cell < Similarity.IvfCells,
        s"cell $cell outside the coarse quantizer")
      r.drop(2).foreach { c =>
        val code = c.asInstanceOf[Long]
        assert(code >= 0L && code < Similarity.PqCodebook,
          s"code $code outside the codebook")
      }
    }
  }

  test("artifact drift gate: planted shift flips retrain_needed, control does not") {
    import org.apache.spark.sql.functions.{col, expr, lit, transform}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cut = emb.agg(expr("(max(vec_id) * 4) div 5").cast("long"))
      .head().getLong(0)
    val idx = emb.filter(col("vec_id") < cut)
    val tail = emb.filter(col("vec_id") >= cut)
    val cents = Similarity.clusterArtifacts(idx).localCheckpoint()
    val none = Similarity.annArtifactDrift(cents, idx, tail).head()
    assert(!none.getBoolean(5),
      s"undrifted held-out batch must not flip the gate: $none")
    // identical-distribution control: batch = the index corpus itself —
    // zero occupancy TV, zero fit drop by construction
    val self = Similarity.annArtifactDrift(cents, idx, idx).head()
    assert(self.getLong(2) == 0L && self.getLong(3) == self.getLong(4)
      && !self.getBoolean(5), s"self-batch must read zero drift: $self")
    val drifted = tail.withColumn("embedding",
      transform(col("embedding").cast("array<double>"), x => x + lit(0.25)))
    val planted = Similarity.annArtifactDrift(cents, idx, drifted).head()
    assert(planted.getBoolean(5),
      s"planted +0.25 component shift must flip the gate: $planted")
    assert(planted.getLong(2) > none.getLong(2),
      "planted occupancy TV must exceed the sampling-noise control")
  }

  test("semantic decontamination: equals the exact pair set restricted to train x eval") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.decontaminateSemantic(emb).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty, "fixture must contain cross-set hits")
    // independent derivation: the exact all-pairs screen at the same
    // threshold, restricted to pairs crossing the eval split
    val isEval = graft.operators.Curation.sampleBucket(col("id")) < 1000
    val flags = emb.select(col("vec_id").as("id")).withColumn("ev", isEval)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val expected = Similarity.cosineNearDupPairs(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (i, j) => (flags(i), flags(j)) match {
        case (false, true) => Some(i)
        case (true, false) => Some(j)
        case _ => None
      }}
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(out == expected, "must equal the exact screen's cross-set restriction")
    assert(out.keySet.forall(id => !flags(id)), "eval vectors never flagged")
  }

  test("LSH semantic decontamination: equals the LSH pair search's cross-set restriction") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.decontaminateSemanticLsh(emb).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val flags = emb.select(col("vec_id"),
        (graft.operators.Curation.sampleBucket(col("vec_id")) < 1000).as("ev"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // the candidate set IS cosineNearDupPairsLsh's (same probes, same
    // verify); the report must equal its cross-set restriction
    val expected = Similarity.cosineNearDupPairsLsh(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (i, j) => (flags(i), flags(j)) match {
        case (false, true) => Some(i)
        case (true, false) => Some(j)
        case _ => None
      }}
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(out == expected)
    // and it is a subset of the exact screen (same pairs minus LSH misses)
    val exact = Similarity.decontaminateSemantic(emb).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet.subsetOf(exact.keySet))
    assert(out.forall { case (id, n) => n <= exact(id) })
  }

  test("frozen-bucket semantic screen equals the LSH screen restricted to the batch") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val whole = Similarity.decontaminateSemanticLsh(emb).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val evalSide = emb.filter(
      graft.operators.Curation.sampleBucket(col("vec_id")) < 1000)
    val root = java.nio.file.Files.createTempDirectory("graft-sem-art")
    try {
      Similarity.bucketTable(evalSide)
        .write.parquet(root.resolve("buckets").toString)
      val batch = emb.filter(col("vec_id") % 2 === 1 &&
        graft.operators.Curation.sampleBucket(col("vec_id")) >= 1000)
      val got = Similarity.decontaminateSemanticWith(evalSide,
          spark.read.parquet(root.resolve("buckets").toString), batch)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == whole.filter { case (id, _) => id % 2 == 1 },
        "batch probing against the frozen bucket artifact must equal the " +
          "whole-corpus LSH screen's restriction")
    } finally graft.streaming.StreamingSessions.deleteRecursively(root)
  }

  test("cluster-balanced sample: per-cell cap, bucket-order pick, assignment-consistent") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.clusterBalancedSample(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    assert(out.groupBy(_._2).values.forall(_.length <= 8), "per-cell cap")
    // assignment consistency: the sampled cells equal the frozen-artifact
    // assignment of the same corpus (independent path through
    // clusterArtifacts + assignWith)
    val asg = Similarity.assignWith(Similarity.clusterArtifacts(emb), emb)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.forall { case (v, c, _) => asg(v) == c })
    // the pick is EXACTLY the naive per-cell (bucket, vec_id) top-8 —
    // the two-level rank must be invisible in the result
    val bkt = emb.select(col("vec_id"),
        graft.operators.Curation.sampleBucket(col("vec_id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = asg.toSeq.groupBy(_._2).flatMap { case (c, vs) =>
      vs.map(_._1).sortBy(v => (bkt(v), v)).take(8).zipWithIndex
        .map { case (v, i) => (v, c, (i + 1).toLong) }
    }.toSet
    assert(out.toSet == expected)
  }

  test("PQ incremental encode: deterministic batch codes in codebook range") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = Similarity.pqEncodeIncremental(emb).collect().map(_.toSeq).toSeq
    val b = Similarity.pqEncodeIncremental(emb).collect().map(_.toSeq).toSeq
    assert(a == b, "frozen-codebook encode must be bit-stable")
    assert(a.nonEmpty)
    a.foreach { r =>
      r.tail.foreach { c =>
        val code = c.asInstanceOf[Long]
        assert(code >= 0L && code < Similarity.PqCodebook,
          s"code $code outside the codebook")
      }
    }
  }
}
