package graft

import graft.operators.NearDup

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val nearDup = base.replace("today", "tomorrow") // one-word edit
  private val other = "completely different words about spark catalyst planning and shuffles here"

  private def docs = Seq(
    (0L, base), (1L, nearDup), (2L, other)
  ).toDF("doc_id", "text")

  test("minhash LSH finds the planted near-dup pair and nothing else") {
    val out = NearDup.minhashNearDups(docs).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
    val bp = out.head.getAs[Long]("jac_bp")
    assert(bp > 5000 && bp < 10000, s"one-word edit should be 0.5<jac<1, got $bp bp")
  }

  test("exact inverted-index Jaccard agrees with minhash on this corpus") {
    val lsh = NearDup.minhashNearDups(docs).collect().toSeq.map(_.toSeq)
    val exact = NearDup.jaccardNearDupsExact(docs).collect().toSeq.map(_.toSeq)
    assert(lsh == exact)
  }

  test("minhash matches exact Jaccard on the real sf0.001 corpus") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val lsh = NearDup.minhashNearDups(d).collect().toSeq.map(_.toSeq).sortBy(_.toString)
    val exact = NearDup.jaccardNearDupsExact(d).collect().toSeq.map(_.toSeq).sortBy(_.toString)
    assert(lsh.nonEmpty, "sf0.001 should contain planted near-dups")
    assert(lsh == exact)
  }

  test("simhash: identical docs at hamming 0; near-dups within 3; others absent") {
    val dupDocs = Seq((0L, base), (1L, base), (2L, other)).toDF("doc_id", "text")
    val out = NearDup.simhashNearDups(dupDocs).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == Set((0L, 1L, 0L)))
  }

  test("clusters: transitive chains collapse to the min doc id") {
    // A~B and B~C are near-dups; A~C are two edits apart (still >=0.5
    // here, but the invariant under test is the transitive labeling)
    val chain = Seq(
      (10L, base),
      (11L, base.replace("today", "tomorrow")),
      (12L, base.replace("today", "tomorrow").replace("dog", "cat")),
      (99L, other)).toDF("doc_id", "text")
    val out = NearDup.nearDupClusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(10L, 11L, 12L), "only docs in near-dup pairs are labeled")
    assert(out.values.toSet == Set(10L), "one component, canonical = min id")
  }

  test("keep-best: longest member wins regardless of id; ties fall to min id") {
    // cluster where the LONGEST member has the HIGHEST id — min-id and
    // keep-best must disagree (pins that quality drives the choice)
    val longer = base + " with extra trailing context words appended"
    val d = Seq(
      (10L, base),
      (11L, base.replace("today", "tomorrow")),
      (12L, longer),                     // most tokens, largest id
      (99L, other)).toDF("doc_id", "text")
    val out = NearDup.keepBestNearDups(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getBoolean(4)))
    assert(out.map(_._1).toSet == Set(10L, 11L, 12L))
    assert(out.forall(_._2 == 10L), "cluster label stays min id")
    assert(out.forall(_._3 == 12L), "representative is the longest member")
    assert(out.filter(_._4).map(_._1).toSeq == Seq(12L))
    // tie case: equal token counts → lowest id kept
    val tied = Seq((20L, base), (21L, base.replace("today", "tomorrow")))
      .toDF("doc_id", "text")
    val t = NearDup.keepBestNearDups(tied).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4)))
    assert(t.forall(_._2 == 20L) && t.filter(_._3).map(_._1).toSeq == Seq(20L))
  }

  test("keep-best on sf0.001: exactly one kept per cluster, and it's the argmax") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = NearDup.keepBestNearDups(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (_, members) =>
      val kept = members.filter(_._5)
      assert(kept.length == 1)
      val best = members.minBy(m => (-m._3, m._1))
      assert(kept.head._1 == best._1 && members.forall(_._4 == best._1))
    }
  }

  test("native shingles match the builtin array_distinct/transform formulation") {
    import org.apache.spark.sql.functions._
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val builtin = d.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(1), size(col("w")) - 2),
        i => concat_ws(" ", element_at(col("w"), i),
          element_at(col("w"), i + 1), element_at(col("w"), i + 2)))).as("shingles"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val native = NearDup.shingled(d)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(native == builtin)
  }

  test("native minhash equals the posting-aggregate formulation") {
    import org.apache.spark.sql.functions._
    import graft.functions.MinHashSignature.{CoefA, CoefB}
    val sh = NearDup.shingled(docs)
    val posting = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), pmod(xxhash64(col("s")), lit(NearDup.HashMod)).as("h"))
    val minAggs = (0 until NearDup.NumHashes).map(j =>
      min((col("h") * CoefA(j) + CoefB(j)) % NearDup.Prime).as(s"m$j"))
    val viaAgg = posting.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to NearDup.NumHashes).map(r.getLong)).toMap
    val native = NearDup.minhashSignatures(sh)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq).toMap
    assert(native == viaAgg)
  }

  test("native band keys equal the builtin multi-arg xxhash64") {
    import org.apache.spark.sql.functions._
    val sigs = NearDup.minhashSignatures(NearDup.shingled(docs))
    val viaBuiltin = sigs.select(col("doc_id") +: (0 until NearDup.Bands).map(b =>
        xxhash64((0 until NearDup.RowsPerBand).map(r =>
          element_at(col("sig"), b * NearDup.RowsPerBand + r + 1)): _*).as(s"b$b")): _*)
      .collect().map(r => r.getLong(0) -> (1 to NearDup.Bands).map(r.getLong)).toMap
    val native = sigs.select(col("doc_id"),
        graft.functions.TextHashOps.bandKeysNative(spark, col("sig")).as("bk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq).toMap
    assert(native == viaBuiltin)
  }

  test("native simhash equals the explode + 64-sum-aggregate formulation") {
    import org.apache.spark.sql.functions._
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val tokens = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val bitAggs = (0 until 64).map(b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, 1).otherwise(-1)).as(s"s$b"))
    val bitSums = tokens.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
    val simhash = (0 until 64)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    val viaAgg = bitSums.select(col("doc_id"), simhash.as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = d.select(col("doc_id"),
        graft.functions.TextHashOps.simhashNative(spark, col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == viaAgg)
  }

  test("incremental admission equals whole-corpus clustering (synthetic bridges)") {
    import spark.implicits._
    // index: 0~1 near-dups (stored cluster {0,1}), 2 unrelated singleton.
    // batch: 10 near-dups 1 (joins the {0,1} component through a stored
    // label), 11 copy of 10 (batch-batch edge), 12 brand-new singleton,
    // 13~2 (index singleton gains a batch member) — covers label-via-
    // index, batch-batch propagation, and singleton admission at once.
    val index = Seq(
      (0L, base), (1L, nearDup), (2L, other)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base.replace("dog", "cat")),
      (11L, base.replace("dog", "cat")),
      (12L, "entirely fresh content with no resemblance to anything indexed yet"),
      (13L, other.replace("here", "now"))).toDF("doc_id", "text")
    val got = graft.operators.NearDup.incrementalNearDups(index, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val wholeLabels = graft.operators.NearDup.nearDupClusters(index.union(batch))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Seq(10L, 11L, 12L, 13L).map { id =>
      val lab = wholeLabels.getOrElse(id, id)
      (id, lab, lab == id)
    }
    assert(got == expected)
    // and the planted chain really exercised the interesting paths
    assert(got.map(g => g._1 -> g._2).toMap == Map(
      10L -> 0L, 11L -> 0L, 12L -> 12L, 13L -> 2L))
  }

  test("incremental: a bridging batch doc merges two index components for ALL attached batch docs") {
    import spark.implicits._
    // Construction (word blocks of distinct tokens; ~300-word docs so the
    // 2-shingle seam noise is negligible against the Jaccard margins):
    //   index 0 = A ++ M, index 5 = B ++ M        J(0,5) ≈ 0.33 → separate components
    //   batch 10 = A[50:] ++ M ++ B[:100]         J ≈ 0.62 to BOTH 0 and 5 (the bridge)
    //   batch 11 = B ++ M[:75] ++ F               J ≈ 0.60 to 5 only; ≈ 0.36 to 10
    // Whole-corpus component is {0, 5, 10, 11} with min 0. A propagation
    // that only SEEDS stored index labels (instead of letting component
    // nodes participate) leaves 11 at label 5 — the merge induced by the
    // bridge never reaches it.
    def block(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val A = block("a", 150); val B = block("b", 150)
    val M = block("m", 150); val F = block("f", 75)
    val index = Seq(
      (0L, (A ++ M).mkString(" ")),
      (5L, (B ++ M).mkString(" "))).toDF("doc_id", "text")
    val batch = Seq(
      (10L, (A.drop(50) ++ M ++ B.take(100)).mkString(" ")),
      (11L, (B ++ M.take(75) ++ F).mkString(" "))).toDF("doc_id", "text")
    val got = graft.operators.NearDup.incrementalNearDups(index, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val wholeLabels = graft.operators.NearDup.nearDupClusters(index.union(batch))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the construction really is a bridge (all four in one component)
    assert(wholeLabels == Map(0L -> 0L, 5L -> 0L, 10L -> 0L, 11L -> 0L),
      s"construction drifted: $wholeLabels")
    assert(got == Seq((10L, 0L, false), (11L, 0L, false)))
  }

  test("incremental equals whole-corpus over random mutation chains (3 seeds × 2 cuts)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // chains: doc i+1 mutates doc i at a per-step random edit rate, so
    // adjacent Jaccard wanders across the 0.5 threshold — components of
    // varying diameter, some spanning the index/batch cut through long
    // index-batch-index alternations. Deterministic seeds.
    for (seed <- Seq(1, 2, 3)) {
      val r = new scala.util.Random(seed)
      var fresh = 0
      var words = Vector.tabulate(40)(i => s"w$i")
      val docs = (0 until 60).map { i =>
        val editRate = r.nextDouble() * 0.5
        words = words.map { w =>
          if (r.nextDouble() < editRate) { fresh += 1; s"n${seed}_$fresh" } else w
        }
        (i.toLong, words.mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val wholeLabels = graft.operators.NearDup.nearDupClusters(df)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      for (cut <- Seq(30L, 48L)) {
        val got = graft.operators.NearDup.incrementalNearDups(
            df.filter(col("doc_id") < cut), df.filter(col("doc_id") >= cut))
          .collect().map(x => (x.getLong(0), x.getLong(1), x.getBoolean(2))).toSeq
        val expected = (cut until 60L).map { id =>
          val lab = wholeLabels.getOrElse(id, id)
          (id, lab, lab == id)
        }
        assert(got == expected, s"seed=$seed cut=$cut")
      }
    }
  }

  test("incremental admission equals whole-corpus clustering on sf0.001") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val cut = docs.agg(expr("(max(doc_id) * 4) div 5").cast("long"))
      .head().getLong(0)
    val got = graft.operators.NearDup.incrementalNearDups(
        docs.filter(col("doc_id") < cut), docs.filter(col("doc_id") >= cut))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val wholeLabels = graft.operators.NearDup.nearDupClusters(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = docs.filter(col("doc_id") >= cut).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq.map { id =>
        val lab = wholeLabels.getOrElse(id, id)
        (id, lab, lab == id)
      }
    assert(got == expected)
  }

  test("incremental: interleaved ids violate the monotone invariant loudly") {
    import spark.implicits._
    val index = Seq((0L, base), (7L, other)).toDF("doc_id", "text")
    val batch = Seq((5L, nearDup)).toDF("doc_id", "text") // 5 < index max 7
    val ex = intercept[IllegalArgumentException] {
      NearDup.incrementalNearDups(index, batch).collect()
    }
    assert(ex.getMessage.contains("monotone"))
    // integer-typed ids reach the same invariant error, not a
    // ClassCastException from the long extraction inside the guard
    val intIndex = Seq((0, base), (7, other)).toDF("doc_id", "text")
    val intBatch = Seq((5, nearDup)).toDF("doc_id", "text")
    val ex2 = intercept[IllegalArgumentException] {
      graft.operators.Dedup.incrementalExact(intIndex, intBatch).collect()
    }
    assert(ex2.getMessage.contains("monotone"))
  }

  test("indexed: interleaved ids violate the monotone invariant loudly") {
    // the public artifact-table operator keeps its guard (the streaming
    // loop calls the guard-less core only after its frontier filter)
    val index = Seq((0L, base), (7L, other)).toDF("doc_id", "text")
    val batch = Seq((5L, nearDup)).toDF("doc_id", "text") // 5 < index max 7
    val idxSh = NearDup.shingled(index)
    val ex = intercept[IllegalArgumentException] {
      NearDup.incrementalNearDupsIndexed(idxSh, NearDup.minhashSignatures(idxSh),
        NearDup.nearDupClusters(index), batch)._1.collect()
    }
    assert(ex.getMessage.contains("monotone"), ex.getMessage)
  }

  test("incremental: a supplied index label table reproduces the rebuild path") {
    import spark.implicits._
    // reuse the bridge construction — the hardest labeling case — and feed
    // the operator yesterday's persisted labels instead of letting it
    // re-cluster the index; output must be identical
    def block(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val A = block("a", 150); val B = block("b", 150)
    val M = block("m", 150); val F = block("f", 75)
    val index = Seq(
      (0L, (A ++ M).mkString(" ")),
      (5L, (B ++ M).mkString(" "))).toDF("doc_id", "text")
    val batch = Seq(
      (10L, (A.drop(50) ++ M ++ B.take(100)).mkString(" ")),
      (11L, (B ++ M.take(75) ++ F).mkString(" "))).toDF("doc_id", "text")
    val rebuilt = NearDup.incrementalNearDups(index, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    // what the previous run would have persisted (paired docs only —
    // singletons are implicit, same as the internal rebuild)
    val persisted = NearDup.nearDupClusters(index)
    val supplied = NearDup.incrementalNearDups(index, batch,
        indexLabels = Some(persisted))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(supplied == rebuilt)
  }

  test("indexed artifacts reproduce the document-corpus incremental path") {
    import spark.implicits._
    // bridge construction again — artifact tables built exactly as a prior
    // run would persist them; admissions must be identical, and the updated
    // label table must carry the bridge merge for every attached doc
    def block(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val A = block("a", 150); val B = block("b", 150)
    val M = block("m", 150); val F = block("f", 75)
    val index = Seq(
      (0L, (A ++ M).mkString(" ")),
      (5L, (B ++ M).mkString(" "))).toDF("doc_id", "text")
    val batch = Seq(
      (10L, (A.drop(50) ++ M ++ B.take(100)).mkString(" ")),
      (11L, (B ++ M.take(75) ++ F).mkString(" "))).toDF("doc_id", "text")
    val want = NearDup.incrementalNearDups(index, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val idxSh = NearDup.shingled(index)
    val (got, updated) = NearDup.incrementalNearDupsIndexed(
      idxSh, NearDup.minhashSignatures(idxSh),
      NearDup.nearDupClusters(index), batch)
    assert(got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq == want)
    // index docs 0 and 5 start as separate singletons (no stored rows);
    // the bridge at 10 merges them, so the new store must re-point 5
    val store = updated.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(store == Set((5L, 0L), (10L, 0L), (11L, 0L)))
  }

  test("indexed: a non-sparse supplied label table doesn't leak self-rows into the store") {
    import spark.implicits._
    // index with an internal near-dup pair -> nearDupClusters emits the
    // canonical self-row (0,0); the updated store must stay sparse
    val index = Seq((0L, base), (1L, nearDup)).toDF("doc_id", "text")
    val batch = Seq((10L, base)).toDF("doc_id", "text")
    val idxSh = NearDup.shingled(index)
    val labels = NearDup.nearDupClusters(index)
    assert(labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((0L, 0L), (1L, 0L))) // the self-row is really in the input
    val (_, updated) = NearDup.incrementalNearDupsIndexed(
      idxSh, NearDup.minhashSignatures(idxSh), labels, batch)
    val store = updated.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(store == Set((1L, 0L), (10L, 0L)))
  }

  /** `admitFromEdges` against a plain-Scala BFS component minimum over
    * the same quotient graph: index ids `idx` (stored sparse labels
    * `lab`), batch ids `batch`, verified adjacency `edges` (batch-batch
    * pairs given once here, passed in both orientations). */
  private def assertQuotientLabels(idx: Seq[Long], lab: Map[Long, Long],
                                   batch: Seq[Long], edges: Seq[(Long, Long)]): Unit = {
    val batchSet = batch.toSet
    val qEdges = edges.map { case (b, o) =>
      (b, if (batchSet(o)) o else lab.getOrElse(o, o)) }
    val adj = qEdges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = batch ++ qEdges.map(_._2)
    val compMin = scala.collection.mutable.Map.empty[Long, Long]
    nodes.foreach { n =>
      if (!compMin.contains(n)) {
        val seen = scala.collection.mutable.Set(n)
        val queue = scala.collection.mutable.Queue(n)
        while (queue.nonEmpty)
          adj.getOrElse(queue.dequeue(), Nil).foreach { m =>
            if (seen.add(m)) queue.enqueue(m) }
        seen.foreach(m => compMin(m) = seen.min)
      }
    }
    val both = edges ++ edges.collect { case (b, o) if batchSet(o) => (o, b) }
    val (adm, labels) = NearDup.admitFromEdges(
      both.toDF("doc_b", "doc_o"), idx.toDF("doc_id"),
      lab.toSeq.toDF("doc_id", "cluster_id"), batch.toDF("doc_id"))
    assert(adm.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      == batch.sorted.map(b => (b, compMin(b), compMin(b) == b)))
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == nodes.map(n => n -> compMin(n)).toMap)
  }

  test("union-find quotient labels equal the BFS component minimum") {
    // bridge: batch 10 touches index components {0} and {5}, batch 11
    // touches 5 only — all of them label 0
    assertQuotientLabels(Seq(0L, 5L), Map.empty, Seq(10L, 11L),
      Seq(10L -> 0L, 10L -> 5L, 11L -> 5L))
    // a stored label collapses index doc 3 onto component 1
    assertQuotientLabels(Seq(1L, 3L, 4L), Map(3L -> 1L), Seq(10L, 11L, 12L),
      Seq(10L -> 3L, 11L -> 12L, 12L -> 4L))
    // a chain of 60 batch docs ending on an index component: a diameter
    // the old 50-round propagation budget rejected
    val chain = (100L until 160L)
    assertQuotientLabels(Seq(2L, 7L), Map(7L -> 2L), chain,
      chain.sliding(2).map(p => p(0) -> p(1)).toSeq :+ (159L -> 7L))
    // seeded random quotient graphs
    for (seed <- 1 to 5) {
      val r = new scala.util.Random(seed)
      val idx = (0L until 30L)
      val lab = idx.filter(_ => r.nextDouble() < 0.4)
        .map(i => i -> r.nextInt(i.toInt + 1).toLong).filter(p => p._1 != p._2).toMap
      val batch = (100L until 140L)
      val edges = (0 until 35).map { _ =>
        val b = batch(r.nextInt(batch.size))
        if (r.nextBoolean()) b -> idx(r.nextInt(idx.size))
        else b -> batch(r.nextInt(batch.size))
      }.filter(e => e._1 != e._2).distinct
      assertQuotientLabels(idx, lab, batch, edges)
    }
  }

  test("clustersFromPairs: maxIters=1 accepts an empty (trivially converged) graph") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_i", "doc_j")
    assert(NearDup.clustersFromPairs(empty, maxIters = 1).collect().isEmpty)
  }

  test("incremental exact: planted copies, supplied-key parity, union equivalence") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    // index: T1 at id 0, unrelated at 2; batch: copy of T1 (10), a new
    // text twice (11, 12) — covers indexed-key, new-key-first, new-key-dup
    val index = Seq((0L, base), (2L, other)).toDF("doc_id", "text")
    val batch = Seq((10L, base), (11L, "fresh text"), (12L, "fresh text"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalExact(index, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == Seq((10L, 0L, false), (11L, 11L, true), (12L, 11L, false)))
    // a supplied persisted key table reproduces the rebuild path
    val keys = Dedup.exactDedup(index).select(col("text_key"), col("canonical_id"))
    val supplied = Dedup.incrementalExact(index, batch, indexKeys = Some(keys))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(supplied == got)
    // interleaved ids fail loudly, same guard as the near-dup twin
    val ex = intercept[IllegalArgumentException] {
      Dedup.incrementalExact(index,
        Seq((1L, "x")).toDF("doc_id", "text")).collect()
    }
    assert(ex.getMessage.contains("monotone"))
    // the supplied-key path is genuinely O(batch): an EMPTY index corpus
    // with the persisted key table still yields the full answer, and the
    // guard bounds by the stored canonicals (batch min 1 < canonical 2)
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val viaKeysOnly = Dedup.incrementalExact(noDocs, batch, indexKeys = Some(keys))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(viaKeysOnly == got)
    val ex2 = intercept[IllegalArgumentException] {
      Dedup.incrementalExact(noDocs, Seq((1L, "x")).toDF("doc_id", "text"),
        indexKeys = Some(keys)).collect()
    }
    assert(ex2.getMessage.contains("monotone"))
    // union equivalence on the real corpus
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val cut = docs.agg(expr("(max(doc_id) * 4) div 5").cast("long"))
      .head().getLong(0)
    val inc = Dedup.incrementalExact(
        docs.filter(col("doc_id") < cut), docs.filter(col("doc_id") >= cut))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val whole = Dedup.exactDedup(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keyOf = docs.select(col("doc_id"), md5(col("text")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = keyOf.keys.filter(_ >= cut).toSeq.sorted.map { id =>
      val canon = whole(keyOf(id))
      (id, canon, canon == id)
    }
    assert(inc == expected)
  }

  test("maxDocFreq drops hot shingles from the exact pipeline") {
    // with df cap 1, every shared shingle is dropped → no pairs survive
    val out = NearDup.jaccardNearDupsExact(docs, maxDocFreq = 1L).collect()
    assert(out.isEmpty)
  }

  test("maxDocFreq Jaccard is over the PRUNED shingle space, not pre-prune sizes") {
    import spark.implicits._
    // docs 1,2 are exact duplicates: shingles {"p1 p2 p3", "p2 p3 x"}.
    // "p1 p2 p3" is hot (df 5 > cap 4) and prunes; with pre-prune set
    // sizes the pair's union was inflated (inter=1, uni=2+2-1=3 → 2 ≥ 3
    // fails) and the EXACT DUPLICATE silently dropped. Over the pruned
    // space: n=1 each, inter=1, uni=1 → kept.
    val fixture = (Seq((1L, "p1 p2 p3 x"), (2L, "p1 p2 p3 x")) ++
      (3L to 5L).map(i => (i, "p1 p2 p3"))).toDF("doc_id", "text")
    val out = NearDup.jaccardNearDupsExact(fixture, maxDocFreq = 4L)
      .select("doc_i", "doc_j").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("incrementalNearDups guards interleaved ids even with an empty label table") {
    import spark.implicits._
    // yesterday's corpus had no duplicates → the persisted sparse label
    // table is EMPTY; the monotone-id bound must still come from the
    // index docs, or an interleaved batch is silently double-admitted
    val index = Seq((1L, "a b c d e f"), (10L, "q r s t u v"))
      .toDF("doc_id", "text")
    val batch = Seq((5L, "a b c d e f")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    val e = intercept[IllegalArgumentException] {
      NearDup.incrementalNearDups(index, batch, indexLabels = Some(empty))
    }
    assert(e.getMessage.contains("incrementalNearDups"))
  }
}
