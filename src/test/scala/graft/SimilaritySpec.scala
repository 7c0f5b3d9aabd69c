package graft

import org.apache.spark.sql.functions._

import graft.operators.{Eval, SimilaritySearch}

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.embeddingVec(spark, sf0001).cache()
  private lazy val queries = emb.where(col("id") < 10)
    .select(col("id").as("query_id"), col("vec").as("qvec")).cache()

  test("brute-force cosine: self is always the top-1 result at dist 0") {
    val res = SimilaritySearch.bruteForce(queries, emb, 5)
      .where(col("rank") === 1).orderBy("query_id").collect()
    res.foreach { r =>
      assert(r.getLong(2) === r.getLong(0)) // id == query_id
      assert(r.getDouble(3) === 0.0)
    }
  }

  test("IVF recall@10 vs brute force at nprobe=4/20 centroids") {
    // the synthetic embeddings are near-uniform random (no cluster
    // structure), the worst case for IVF — 4/20 probes lands ~0.5 recall;
    // the monotonicity test below is the structural invariant
    val exact = SimilaritySearch.bruteForce(queries, emb, 10)
    val ivf = SimilaritySearch.ivfSearch(queries, emb, 10, 25, 4)
    val rec = Eval.recallSummary(Eval.recallAt(ivf, exact, 10)).head()
    assert(rec.getDouble(0) >= 0.45, s"avg recall ${rec.getDouble(0)}")
  }

  test("more probes → recall never decreases") {
    val exact = SimilaritySearch.bruteForce(queries, emb, 10)
    def rec(np: Int): Double =
      Eval.recallSummary(Eval.recallAt(
        SimilaritySearch.ivfSearch(queries, emb, 10, 25, np), exact, 10))
        .head().getDouble(0)
    assert(rec(8) >= rec(2) - 1e-9)
  }

  test("ivfRecallCurve: monotone in nprobe, exact at full probe") {
    val heads = emb.count().toInt / 25 + 1 // every 25th id is a centroid
    val curve = SimilaritySearch
      .ivfRecallCurve(queries, emb, 10, 25, Seq(1, 4, heads))
      .orderBy("nprobe").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(curve.map(_._4).sliding(2).forall(w => w(0) <= w(1) + 1e-9),
      s"recall not monotone: ${curve.toSeq}")
    // probing every centroid reaches every posting → exact search
    assert(curve.last._4 === 1.0, s"full probe recall ${curve.last._4}")
    assert(curve.forall { case (_, nt, nh, _) => nh <= nt && nt > 0 })
  }

  test("LSH codes: identical vectors share a code; planes produce spread") {
    val codes = SimilaritySearch.lshCodes(emb, dims = 64)
    val n = codes.count()
    val distinct = codes.select("code").distinct().count()
    assert(n === 500)
    assert(distinct > 10, s"only $distinct distinct codes") // non-degenerate
    // deterministic
    val again = SimilaritySearch.lshCodes(emb, dims = 64)
    assert(codes.exceptAll(again).count() === 0)
  }

  test("banded LSH near-dup: sound vs the brute oracle, and non-trivial recall") {
    import spark.implicits._
    import graft.operators.Dedup
    val brute = Dedup.embeddingPairs(emb, 0.6)
      .select("a", "b", "cos_dist").as[(Long, Long, Double)].collect()
      .map { case (a, b, cd) => (a, b) -> cd }.toMap
    val lsh = SimilaritySearch.lshNearDup(emb, dims = 64, maxCosDist = 0.6)
      .select("a", "b", "cos_dist").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty, "banded blocking surfaced no candidates")
    // 4 bands of 2 planes recover most of the exact pair set at this
    // threshold (86% on this fixture) — guard the recall floor so a banding
    // regression is caught here, not by a shrinking q36 row count
    assert(lsh.length >= (0.7 * brute.size).toInt,
      s"LSH recall collapsed: ${lsh.length} of ${brute.size} exact pairs")
    // soundness: every reported pair IS a brute pair with the same distance
    lsh.foreach { case (a, b, cd) =>
      assert(brute.contains((a, b)), s"($a,$b) not in the brute pair set")
      assert(math.abs(brute((a, b)) - cd) < 1e-9)
    }
    // no duplicates despite multi-band agreement
    assert(lsh.map(p => (p._1, p._2)).distinct.length === lsh.length)
  }

  test("LSH-blocked search: self is rank-1, distances exact, results ⊆ corpus") {
    import spark.implicits._
    val res = SimilaritySearch.lshSearch(queries, emb, dims = 64, k = 10)
    val byQ = res.select("query_id", "rank", "id", "dist")
      .as[(Long, Int, Long, Double)].collect().groupBy(_._1)
    assert(byQ.size === 10)
    // a query always shares every band with itself → candidate → dist 0, rank 1
    byQ.foreach { case (q, rows) =>
      val top = rows.find(_._2 == 1).get
      assert(top._3 === q && top._4 === 0.0, s"query $q top-1 is not itself")
    }
    // every reported distance equals the exact distance for that pair
    val exact = SimilaritySearch.bruteForce(queries, emb, 500)
      .select("query_id", "id", "dist").as[(Long, Long, Double)].collect()
      .map { case (q, i, d) => (q, i) -> d }.toMap
    byQ.values.flatten.foreach { case (q, _, i, d) =>
      assert(exact((q, i)) === d, s"pair ($q,$i) dist drifted from exact")
    }
    // banded blocking keeps useful recall (0.82 avg at sf0.01; floor is the
    // regression tripwire, not the target)
    val rec = Eval.recallSummary(Eval.recallAt(
      res, SimilaritySearch.bruteForce(queries, emb, 10), 10)).head().getDouble(0)
    assert(rec >= 0.5, s"LSH search avg recall collapsed: $rec")
  }

  test("hard negatives never share the anchor's label; exact over the complement") {
    import graft.operators.Knn
    val hn = SimilaritySearch.hardNegatives(emb, 5).cache()
    val labeled = hn
      .join(emb.select(col("id").as("query_id"), col("label").as("alabel")),
        Seq("query_id"))
      .join(emb.select(col("id"), col("label").as("nlabel")), Seq("id"))
    assert(labeled.where(col("alabel") === col("nlabel")).count() === 0,
      "a hard negative carried its anchor's own label")
    // every anchor surfaces (complement is far larger than k here)
    assert(hn.select("query_id").distinct().count() === emb.count())
    // spot-check anchor 1: identical to brute force over the complement
    val a = emb.where(col("id") === 1)
    val alabel = a.select("label").head().getInt(0)
    val want = Knn.searchViaWindow(
      a.select(col("id").as("query_id"), col("vec").as("qvec")),
      emb.where(col("label") =!= alabel).select(col("id"), col("vec")), 5, "cos")
    val got = hn.where(col("query_id") === 1)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0)
  }

  test("label-routed mining ≡ join form, bit-exact, self skipped inside interleaved blocks") {
    // every row is also a query: the pos slice of its label holds 7-8
    // queries (a four-query block, then more), so a row's own query — the
    // router's `skip` — falls inside an interleaved block for some rows and
    // in the one-at-a-time tail for others
    import graft.functions.{MultiTopK, TopKByDistance}
    val v = spark.range(23).select(col("id"), (col("id") % 3).as("label"),
      transform(sequence(lit(1), lit(8)),
        j => (hash(col("id"), j, lit(5)) % 1000 / 100.0).cast("float")).as("vec"))
      .cache()
    def nn(r: org.apache.spark.sql.Row, i: Int) =
      r.getSeq[org.apache.spark.sql.Row](i).map(x => (x.getLong(0), x.getDouble(1)))
    for (metric <- Seq("l2sq", "cos", "dot", "ip")) {
      val Seq((_, q)) = MultiTopK.collectBatches(v, "id", "vec", Some("label"))
      val got = MultiTopK.search(v, q.ids, MultiTopK.Exact(q.vecs, metric),
        MultiTopK.Labeled(3, 2, q.ids, q.labels), col("id"), col("vec"), col("label"))
        .collect().map(r => r.getLong(0) -> (nn(r, 1), nn(r, 2))).toMap
      val pairs = v.select(col("id").as("query_id"), col("vec").as("qvec"),
          col("label").as("qlabel"))
        .crossJoin(v)
        .withColumn("d", graft.functions.dist.byName(metric)(col("qvec"), col("vec")))
      def side(p: org.apache.spark.sql.Column, k: Int) =
        pairs.where(p).groupBy(col("query_id"))
          .agg(TopKByDistance.topk(col("id"), col("d"), k).as("nn"))
          .collect().map(r => r.getLong(0) -> nn(r, 1)).toMap
      val pos = side(col("label") === col("qlabel") && col("id") =!= col("query_id"), 3)
      val neg = side(col("label") =!= col("qlabel"), 2)
      assert(got.keySet === pos.keySet)
      got.foreach { case (qid, (p, n)) =>
        assert(p === pos(qid), s"metric $metric query $qid pos")
        assert(n === neg(qid), s"metric $metric query $qid neg")
      }
    }
    v.unpersist()
  }

  test("knnClassify: majority vote, ties to the smaller label") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(0f, 0f), 1), (2L, Seq(1f, 0f), 1), (3L, Seq(0f, 1f), 1),
      (4L, Seq(100f, 0f), 2), (5L, Seq(101f, 0f), 2), (6L, Seq(100f, 1f), 2)
    ).toDF("id", "vec", "label")
    val qs = Seq((10L, Seq(0.5f, 0.5f)), (11L, Seq(100.5f, 0.5f)))
      .toDF("query_id", "qvec")
    val out = SimilaritySearch.knnClassify(qs, corpus, 3, "l2sq")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(out(10L) === ((1, 3L)))
    assert(out(11L) === ((2, 3L)))
    // k=6 sees all votes 3-3 → the smaller label wins the tie
    val tie = SimilaritySearch.knnClassify(qs, corpus, 6, "l2sq")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(tie(10L) === 1 && tie(11L) === 1)
  }

  test("labelNoise: the planted mislabel is flagged with full outvote; " +
      "clean separated clusters flag nothing else") {
    import spark.implicits._
    // two tight clusters; vector 4 sits in cluster A but carries label 2
    val vecs = Seq(
      (1L, Seq(0f, 0f), 1), (2L, Seq(1f, 0f), 1), (3L, Seq(0f, 1f), 1),
      (4L, Seq(1f, 1f), 2),
      (5L, Seq(100f, 0f), 2), (6L, Seq(101f, 0f), 2), (7L, Seq(100f, 1f), 2)
    ).toDF("id", "vec", "label")
    val got = SimilaritySearch.labelNoise(vecs, 3, "l2sq").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    // only id 4: its 3 nearest are all label 1, own label gets 0 votes
    assert(got.toSeq === Seq((4L, 2, 1, 3L, 0L)))
  }

  test("planeWeight matches the Hash60 definition") {
    import graft.functions.Hash60
    import spark.implicits._
    val df = Seq("0_0", "3_17", "7_63").toDF("s")
      .select(Hash60(col("s")).as("h")).collect().map(_.getLong(0))
    assert(df(0) % 2001 - 1000 === SimilaritySearch.planeWeight(0, 0))
    assert(df(1) % 2001 - 1000 === SimilaritySearch.planeWeight(3, 17))
    assert(df(2) % 2001 - 1000 === SimilaritySearch.planeWeight(7, 63))
  }

  test("maxSim ranks the identical bag first and orthogonal bags last") {
    import spark.implicits._
    // bag 0 = the query bag itself; bag 1 = near-copy (one vector shared);
    // bag 2 = orthogonal to everything in the query
    val qb = Seq(
      (0, 100L, Seq(1f, 0f, 0f)), (0, 101L, Seq(0f, 1f, 0f)))
      .toDF("query_label", "qvid", "qvec")
    val db = Seq(
      (0, 100L, Seq(1f, 0f, 0f)), (0, 101L, Seq(0f, 1f, 0f)),
      (1, 200L, Seq(1f, 0f, 0f)), (1, 201L, Seq(0f, 0f, 1f)),
      (2, 300L, Seq(0f, 0f, 1f)), (2, 301L, Seq(0f, 0f, -1f)))
      .toDF("doc_label", "id", "vec")
    val r = SimilaritySearch.maxSim(qb, db, k = 3).collect()
      .map(x => (x.getInt(0), x.getInt(1)) -> (x.getInt(2), x.getDouble(3))).toMap
    // identical bag: both query tokens find an exact match -> score 2
    assert(r((0, 1)) === ((0, 2.0)))
    // near-copy: one exact match + one orthogonal best -> score 1
    assert(r((0, 2)) === ((1, 1.0)))
    // orthogonal bag: every max-sim is 0
    assert(r((0, 3)) === ((2, 0.0)))
  }

  test("binary codes: deterministic, one per vector, non-degenerate spread") {
    import graft.functions.BinaryQuantizer
    val stats = BinaryQuantizer.fit(emb)
    val codes = BinaryQuantizer.codes(emb, stats, 64)
    assert(codes.count() === 500)
    assert(codes.select("bcode").distinct().count() > 400,
      "mean-threshold sign codes should be nearly unique on random embeddings")
    val again = BinaryQuantizer.codes(emb, BinaryQuantizer.fit(emb), 64)
    assert(codes.exceptAll(again).count() === 0)
  }

  test("binary search with full rerank budget equals exact kNN") {
    val exact = SimilaritySearch.bruteForce(queries, emb.select("id", "vec"), 10, "l2sq")
    val full = SimilaritySearch.binarySearch(
      queries, emb.select("id", "vec"), 64, 10, rerankR = 500, "l2sq")
    assert(full.exceptAll(exact).count() === 0)
    assert(exact.exceptAll(full).count() === 0)
  }

  test("binary search recall@10 at the 10% coarse budget") {
    val exact = SimilaritySearch.bruteForce(queries, emb.select("id", "vec"), 10, "l2sq")
    val bin = SimilaritySearch.binarySearch(
      queries, emb.select("id", "vec"), 64, 10, rerankR = 50, "l2sq")
    val rec = Eval.recallSummary(Eval.recallAt(bin, exact, 10)).head().getDouble(0)
    // random 64-dim embeddings are the worst case for 1-bit codes (no margin
    // structure); the structural guarantee is the monotone budget below
    assert(rec >= 0.3, s"avg recall $rec")
  }

  test("embeddingHealth: exact moments, zero share, dead-dim flag") {
    import spark.implicits._
    // dim 0: (1, -1, 0) → mean 0, std sqrt(2/3); dim 1: constant 7 → dead;
    // dim 2: (0, 0, 3) → two zeros
    val vecs = Seq(Seq(1.0f, 7.0f, 0.0f), Seq(-1.0f, 7.0f, 0.0f),
      Seq(0.0f, 7.0f, 3.0f)).map(Tuple1(_)).toDF("vec")
    val got = SimilaritySearch.embeddingHealth(vecs).orderBy("dim").collect()
    val d0 = got(0)
    assert(d0.getLong(1) === 3L && d0.getDouble(2) === 0.0)
    assert(math.abs(d0.getDouble(3) - math.sqrt(2.0 / 3.0)) < 1e-6)
    assert(d0.getLong(4) === 1L && !d0.getBoolean(7))
    val d1 = got(1)
    assert(d1.getBoolean(7), s"constant dim not flagged dead: $d1")
    assert(d1.getDouble(2) === 7.0 && d1.getDouble(3) === 0.0)
    val d2 = got(2)
    assert(d2.getLong(4) === 2L && d2.getDouble(5) === 0.0 && d2.getDouble(6) === 3.0)
  }

  test("matryoshka search: full-prefix degenerates to exact; recall holds " +
      "and rerank budget is monotone") {
    val corpus = emb.select("id", "vec")
    val exact = SimilaritySearch.bruteForce(queries, corpus, 10)
    // dPrefix = d → stage 1 IS the exact ranking; rerank ⊇ k keeps it
    val full = SimilaritySearch.matryoshkaSearch(queries, corpus, 64, 10, 30)
    assert(full.exceptAll(exact).count() === 0 &&
      exact.exceptAll(full).count() === 0)
    def rec(dPrefix: Int, rerank: Int): Double =
      Eval.recallSummary(Eval.recallAt(
        SimilaritySearch.matryoshkaSearch(queries, corpus, dPrefix, 10, rerank),
        exact, 10)).head().getDouble(0)
    // random 64-dim embeddings are the WORST case for prefix ranking (no
    // MRL training concentrates meaning up front) — the structural
    // guarantees are the floor and the monotone budget
    assert(rec(16, 30) >= 0.3, s"prefix recall collapsed: ${rec(16, 30)}")
    assert(rec(16, 100) >= rec(16, 25) - 1e-9, "larger rerank lost recall")
    // every returned id must come from the stage-1 candidate set: the
    // top-1 is exact whenever the true top-1 survives the prefix cut —
    // spot-check that self (dist 0) always survives any prefix
    val self = SimilaritySearch.matryoshkaSearch(queries, corpus, 4, 1, 10)
      .where(col("rank") === 1).collect()
    self.foreach { r =>
      assert(r.getLong(2) === r.getLong(0) && r.getDouble(3) === 0.0,
        s"self not found through the 4-dim prefix: $r")
    }
  }

  test("binary search: larger rerank budget never loses recall") {
    val exact = SimilaritySearch.bruteForce(queries, emb.select("id", "vec"), 10, "l2sq")
    def rec(r: Int): Double =
      Eval.recallSummary(Eval.recallAt(
        SimilaritySearch.binarySearch(queries, emb.select("id", "vec"), 64, 10, r, "l2sq"),
        exact, 10)).head().getDouble(0)
    assert(rec(200) >= rec(25) - 1e-9)
  }

  test("triplets: positive shares the label, negative does not, and is never self") {
    import spark.implicits._
    val labeled = emb.select("id", "vec", "label")
    val t = SimilaritySearch.tripletMine(labeled)
    assert(t.count() === 500)
    val lbl = labeled.select("id", "label").as[(Long, Int)].collect().toMap
    t.collect().foreach { r =>
      val (a, p, n) = (r.getLong(0), r.getLong(1), r.getLong(3))
      assert(p != a, s"anchor $a chose itself as positive")
      assert(lbl(p) == lbl(a), s"positive $p label mismatch for $a")
      assert(lbl(n) != lbl(a), s"negative $n shares $a's label")
      // margin is exactly the rounded-dist difference
      assert(r.getDouble(5) === math.rint((r.getDouble(4) - r.getDouble(2)) * 1e4) / 1e4)
    }
  }

  test("centroid outliers: a planted far member is flagged, the tight cluster is not") {
    import spark.implicits._
    val bags = Seq(
      (1L, Seq(1f, 0f), 7), (2L, Seq(1.1f, 0f), 7), (3L, Seq(0.9f, 0f), 7),
      (4L, Seq(10f, 10f), 7), // planted mislabel, far from the class centroid
      (5L, Seq(0f, 1f), 8), (6L, Seq(0f, 1.1f), 8), (7L, Seq(0f, 0.9f), 8)
    ).toDF("id", "vec", "label")
    val r = SimilaritySearch.centroidOutliers(bags)
      .collect().map(x => x.getLong(0) -> x.getBoolean(3)).toMap
    assert(r(4L), "the planted far member must flag")
    assert(!r(1L) && !r(2L) && !r(3L) && !r(5L) && !r(6L) && !r(7L))
  }

  test("clusterReport: hand clusters — exact inertia, separation, mutual nearest") {
    import spark.implicits._
    // cluster 7 at x≈1 (spread ±0.1 on x), cluster 8 at y≈1, cluster 9 at (5,5)
    val bags = Seq(
      (1L, Seq(1f, 0f), 7), (2L, Seq(1.1f, 0f), 7), (3L, Seq(0.9f, 0f), 7),
      (5L, Seq(0f, 1f), 8), (6L, Seq(0f, 1.1f), 8), (7L, Seq(0f, 0.9f), 8),
      (9L, Seq(5f, 5f), 9)
    ).toDF("id", "vec", "label")
    val r = SimilaritySearch.clusterReport(bags)
      .collect().map(x => x.getInt(0) ->
        ((x.getLong(1), x.getDouble(2), x.getDouble(4), x.getInt(5), x.getDouble(6))))
      .toMap
    // cluster 7: centroid (1, 0); dists 0, 0.01, 0.01 → inertia 0.02, max 0.01
    val (n7, in7, mx7, nn7, nd7) = r(7)
    assert(n7 === 3L && in7 === 0.02 && mx7 === 0.01)
    // 7 and 8 are mutual nearest (dist (1,0)→(0,1) = 2.0 < dist to (5,5))
    assert(nn7 === 8 && nd7 === 2.0)
    assert(r(8)._4 === 7 && r(8)._5 === 2.0)
    // singleton cluster: inertia 0, its nearest is whichever of 7/8 ties first
    val (n9, in9, _, nn9, _) = r(9)
    assert(n9 === 1L && in9 === 0.0)
    assert(nn9 === 7) // (5,5)→(1,0) and →(0,1) tie at 41.0; smaller label wins
  }

  test("multi-probe lsh: result set contains the single-probe results, recall never lower") {
    val corpus = emb.select("id", "vec")
    val exact = SimilaritySearch.bruteForce(queries, corpus, 10)
    def rec(res: org.apache.spark.sql.DataFrame): Double =
      Eval.recallSummary(Eval.recallAt(res, exact, 10)).head().getDouble(0)
    val single = SimilaritySearch.lshSearch(queries, corpus, 64, 10)
    val multi = SimilaritySearch.lshSearchMultiProbe(queries, corpus, 64, 10)
    // the probe set is a strict superset of the exact band, so multi-probe
    // candidates contain single-probe candidates — recall cannot drop
    assert(rec(multi) >= rec(single) - 1e-9,
      s"multi ${rec(multi)} vs single ${rec(single)}")
    // and on these embeddings the perturbations genuinely add recall
    assert(rec(multi) > rec(single), "expected the extra probes to surface new hits")
  }

  test("bag centroids are exact per-dimension means") {
    import spark.implicits._
    val bags = Seq(
      (1L, Seq(1f, 2f), 7), (2L, Seq(3f, 4f), 7),
      (3L, Seq(10f, 0f), 8)
    ).toDF("id", "vec", "label")
    val r = SimilaritySearch.bagPool(bags)
      .collect().map(x => (x.getInt(0), x.getInt(1)) -> ((x.getLong(2), x.getDouble(3))))
      .toMap
    assert(r((7, 0)) === ((2L, 2.0)) && r((7, 1)) === ((2L, 3.0)))
    assert(r((8, 0)) === ((1L, 10.0)) && r((8, 1)) === ((1L, 0.0)))
  }

  test("rrf: self-fusion preserves order; agreement outranks single-ranker hits") {
    import spark.implicits._
    val corpus = emb.select("id", "vec")
    val base = SimilaritySearch.bruteForce(queries, corpus, 10, "l2sq")
    // fusing a ranking with itself keeps the ranking
    val selfFused = SimilaritySearch.rrfFuse(Seq(base, base), 10)
      .select("query_id", "rank", "id")
    assert(selfFused.exceptAll(base.select("query_id", "rank", "id")).count() === 0)
    // crafted: doc 1 is rank-1 in both rankers, docs 2/3 rank-1 in one each
    val r1 = Seq((0L, 1, 1L), (0L, 2, 2L)).toDF("query_id", "rank", "id")
    val r2 = Seq((0L, 1, 1L), (0L, 2, 3L)).toDF("query_id", "rank", "id")
    val fused = SimilaritySearch.rrfFuse(Seq(r1, r2), 3)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(fused(1) === 1L, "the doc both rankers agree on must win")
    assert(Set(fused(2), fused(3)) === Set(2L, 3L))
  }

  test("rp search with full rerank budget equals exact kNN") {
    val corpus = emb.select("id", "vec")
    val exact = SimilaritySearch.bruteForce(queries, corpus, 10, "l2sq")
    val full = SimilaritySearch.rpSearch(queries, corpus, 64, 10, rerankR = 500)
    assert(full.exceptAll(exact).count() === 0)
    assert(exact.exceptAll(full).count() === 0)
  }

  test("rp sketch recall grows with sketch width and rerank budget") {
    val corpus = emb.select("id", "vec")
    val exact = SimilaritySearch.bruteForce(queries, corpus, 10, "l2sq")
    def rec(outDims: Int, r: Int): Double =
      Eval.recallSummary(Eval.recallAt(
        SimilaritySearch.rpSearch(queries, corpus, 64, 10, r, outDims),
        exact, 10)).head().getDouble(0)
    // near-uniform random embeddings concentrate distances — the worst case
    // for a JL sketch (probed coverage at R=50: 8d 0.37, 16d 0.53, 24d
    // 0.59); the structural guarantees are the monotone knobs
    val r16 = rec(16, 50)
    assert(r16 >= 0.4, s"16-dim sketch recall $r16")
    assert(rec(24, 50) >= rec(8, 50) - 1e-9, "wider sketch must not lose recall")
    assert(rec(16, 200) >= r16 - 1e-9, "bigger rerank budget must not lose recall")
  }

  test("mmr with lambda 0 reproduces the exact top-k order") {
    // mmr scores on the UNROUNDED distances (rounding would feed the greedy
    // arithmetic — the boundary class), so the λ=0 identity holds against
    // the raw (dist, id) order from the bounded-top-k aggregate
    val corpus = emb.where(col("id") >= 10).select("id", "vec")
    val plain = graft.operators.Knn.searchAgg(queries, corpus, 20, "cos")
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "r")))
      .where(col("pos") < 5)
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("r.id").as("id"))
    val mmr0 = SimilaritySearch.mmr(queries, corpus, 5, lambda = 0.0, poolR = 20)
      .select(col("query_id"), col("pick").as("rank"), col("id"))
    assert(mmr0.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(mmr0).count() === 0)
  }

  test("mmr penalizes redundancy: a near-copy of pick 1 loses pick 2 to a distinct doc") {
    import spark.implicits._
    // corpus: two near-identical docs closest to the query, one slightly
    // farther but orthogonal doc; plain top-2 = the two copies, MMR picks
    // the orthogonal doc second
    val qs = Seq((0L, Seq(1f, 0f, 0f, 0f))).toDF("query_id", "qvec")
    val corpus = Seq(
      (1L, Seq(1f, 0.1f, 0f, 0f)),  // near the query
      (2L, Seq(1f, 0.11f, 0f, 0f)), // near-copy of doc 1
      (3L, Seq(0.8f, 0f, 0.6f, 0f)) // farther, but not redundant with doc 1
    ).toDF("id", "vec")
    val picks = SimilaritySearch.mmr(qs, corpus, 3, lambda = 0.5, poolR = 3)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(picks(1) === 1L)
    assert(picks(2) === 3L, "the redundant near-copy should lose pick 2")
    assert(picks(3) === 2L)
  }

  test("mmr emits exactly k distinct picks per query, deterministically") {
    val corpus = emb.where(col("id") >= 10).select("id", "vec")
    val a = SimilaritySearch.mmr(queries, corpus, 5, 0.5, 20)
    val perQ = a.groupBy("query_id").count().collect()
    assert(perQ.length === 10 && perQ.forall(_.getLong(1) === 5L))
    val dups = a.groupBy("query_id", "id").count().where(col("count") > 1).count()
    assert(dups === 0)
    val b = SimilaritySearch.mmr(queries, corpus, 5, 0.5, 20)
    assert(a.exceptAll(b).count() === 0)
  }

  test("mmr aggregate ≡ the k-round dataframe-loop formulation, bit-exact") {
    // r16: the greedy collapsed into MmrGreedy (one bounded aggregate pass);
    // this pins it against the former round-loop form — same picks AND the
    // same unrounded score doubles
    val corpus = emb.where(col("id") >= 10).select("id", "vec")
    val k = 5; val lambda = 0.5; val poolR = 20
    val pool = graft.operators.Knn.searchAgg(queries, corpus, poolR, "cos")
      .select(col("query_id"), explode(col("nn")).as("r"))
      .select(col("query_id"), col("r.id").as("id"),
        (lit(1.0) - col("r.dist")).as("rel"))
      .join(corpus.select(col("id"), col("vec")), Seq("id"))
      .localCheckpoint(true)
    val sims = pool.select(col("query_id"), col("id").as("sa"), col("vec").as("va"))
      .join(pool.select(col("query_id"), col("id").as("sb"), col("vec").as("vb")),
        Seq("query_id"))
      .where(col("sa") =!= col("sb"))
      .select(col("query_id"), col("sa"), col("sb"),
        (lit(1.0) - graft.functions.dist.cos(col("va"), col("vb"))).as("sim"))
      .localCheckpoint(true)
    var selected = pool.groupBy(col("query_id"))
      .agg(max_by(struct(col("id"), col("rel")),
        struct(col("rel"), (-col("id")).as("ni"))).as("b"))
      .select(col("query_id"), col("b.id").as("id"),
        lit(1).as("pick"), col("b.rel").as("score"))
    for (t <- 2 to k) {
      val cand = pool.join(
        selected.select(col("query_id"), col("id")), Seq("query_id", "id"), "left_anti")
      val ms = sims
        .join(selected.select(col("query_id"), col("id").as("sb")), Seq("query_id", "sb"))
        .groupBy(col("query_id"), col("sa").as("id"))
        .agg(max(col("sim")).as("ms"))
      val next = cand.join(ms, Seq("query_id", "id"))
        .withColumn("score",
          lit(1.0 - lambda) * col("rel") - lit(lambda) * col("ms"))
        .groupBy(col("query_id"))
        .agg(max_by(struct(col("id"), col("score")),
          struct(col("score"), (-col("id")).as("ni"))).as("b"))
        .select(col("query_id"), col("b.id").as("id"),
          lit(t).as("pick"), col("b.score").as("score"))
      selected = selected.unionByName(next)
    }
    val ref = selected.select(col("query_id"), col("pick"), col("id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val got = SimilaritySearch.mmr(queries, corpus, k, lambda, poolR)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got === ref)
  }

  test("farthestPoints equals the brute greedy; radius non-increasing; early stop past n") {
    import spark.implicits._
    val emb2 = emb.select("id", "vec").where(col("id") < 60)
    val got = SimilaritySearch.farthestPoints(emb2, 6)
      .select("sel_idx", "id").as[(Int, Long)].collect().toSeq.sortBy(_._1)
    // brute greedy on the driver
    val vecs = emb2.as[(Long, Array[Float])].collect().sortBy(_._1)
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      s
    }
    var sel = Vector(vecs.head)
    while (sel.size < 6) {
      val cand = vecs.filterNot(v => sel.exists(_._1 == v._1))
        .map(v => (v, sel.map(c => d2(v._2, c._2)).min))
      val best = cand.maxBy { case ((id, _), m) => (m, -id) }
      sel :+= best._1
    }
    assert(got.map(_._2) === sel.map(_._1))
    // radius non-increasing (coverage radius property)
    val radii = SimilaritySearch.farthestPoints(emb2, 6)
      .orderBy("sel_idx").select("radius").collect().drop(1).map(_.getDouble(0))
    radii.sliding(2).foreach { case Array(a, b) => assert(b <= a) }
    // more picks than points: stops at n, all distinct
    val tiny = emb2.where(col("id") < 3)
    val all = SimilaritySearch.farthestPoints(tiny, 10).collect()
    assert(all.length === 3)
    assert(all.map(_.getLong(1)).distinct.length === 3)
  }

  test("clusterDrift: planted shift measured, single-snapshot cluster NULL, shares exact") {
    import spark.implicits._
    // heads (id%25==0): 0 → [1,0], 50 → [0,1]. Cluster 0 drifts: snapshot
    // B's members sit at y=0.2 where A's center on y=0. Cluster 50 is
    // A-only → NULL shift.
    val rows = Seq(
      (0L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.04f)), (4L, Array(1.0f, -0.04f)),
      (1L, Array(1.0f, 0.2f)), (3L, Array(1.0f, 0.2f)),
      (50L, Array(0.0f, 1.0f)), (6L, Array(0.04f, 1.0f)))
    val emb2 = rows.toDF("id", "vec")
      .withColumn("snap", col("id") % 2 === 1)
    val got = SimilaritySearch.clusterDrift(emb2, 25)
      .orderBy("head_id").collect()
    assert(got.length === 2)
    val h0 = got(0); val h50 = got(1)
    assert(h0.getLong(0) === 0L && h0.getLong(1) === 3L && h0.getLong(2) === 2L)
    assert(h0.getDouble(3) === 0.6 && h0.getDouble(4) === 1.0)
    assert(h0.getDouble(5) === 0.4)
    assert(h0.getDouble(6) === 0.04) // (0.2)² on the drifted dim
    assert(h50.getLong(1) === 2L && h50.getLong(2) === 0L)
    assert(h50.getDouble(3) === 0.4 && h50.getDouble(4) === 0.0)
    assert(h50.getDouble(5) === -0.4)
    assert(h50.isNullAt(6)) // no B members — shift undefined
  }

  test("clusterSample keeps the closest-n per cluster, every cluster represented") {
    import spark.implicits._
    import graft.operators.Spann
    val emb2 = emb.select("id", "vec")
    val n = 5
    val got = SimilaritySearch.clusterSample(emb2, 25, n)
      .as[(Long, Long, Double)].collect()
    // per-cluster cap holds and membership matches the assignment pass
    val byHead = got.groupBy(_._1)
    byHead.values.foreach(g => assert(g.length <= n))
    val assigned = Spann.buildPostings(
      emb2, Spann.selectHeadsModulo(emb2, 25), 1, "cos")
      .select(col("head_id"), col("id"), col("dist"))
      .as[(Long, Long, Double)].collect()
    // every nonempty cluster appears, and the kept set IS the closest-n
    // (ranked on unrounded dist, ties to smaller id)
    assigned.groupBy(_._1).foreach { case (head, members) =>
      val want = members.sortBy { case (_, id, d) => (d, id) }.take(n)
        .map(_._2).toSet
      val have = byHead.getOrElse(head, Array.empty).map(_._2).toSet
      assert(have === want, s"cluster $head")
    }
  }

  test("semantic dedup pairs are sound vs the brute pair oracle and in-cluster complete") {
    import spark.implicits._
    import graft.operators.{Dedup, Spann}
    val pairs = SimilaritySearch.semanticDedup(emb.select("id", "vec"), 25, 0.6)
      .select("a", "b", "cos_dist").as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    val brute = Dedup.embeddingPairs(emb.select("id", "vec"), 0.6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // soundness: every reported pair is a genuine near-dup pair
    pairs.foreach { case (a, b, _) => assert(brute.contains((a, b))) }
    // in-cluster completeness: a brute pair assigned to the SAME centroid is
    // always reported (the blocking only loses cross-cluster pairs)
    val assign = Spann.buildPostings(
      emb.select("id", "vec"), Spann.selectHeadsModulo(emb, 25), 1, "cos")
      .select("id", "head_id").as[(Long, Long)].collect().toMap
    val got = pairs.map { case (a, b, _) => (a, b) }.toSet
    brute.filter { case (a, b) => assign(a) == assign(b) }
      .foreach(p => assert(got.contains(p), s"in-cluster pair $p missed"))
  }

  test("semantic dedup composes with canonical grouping to a dup-free keep set") {
    import spark.implicits._
    import graft.operators.Dedup
    val emb2 = emb.select("id", "vec")
    val pairs = SimilaritySearch.semanticDedup(emb2, 25, 0.6)
      .select(col("a"), col("b"))
    val docsIds = emb2.withColumnRenamed("id", "doc_id")
    val groups = Dedup.canonicalGroups(docsIds, pairs)
    val kept = Dedup.applyDedup(docsIds, groups)
    // every reported pair loses exactly its non-canonical member
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    val ps = pairs.as[(Long, Long)].collect()
    ps.foreach { case (a, b) =>
      assert(!(keptIds.contains(a) && keptIds.contains(b)), s"pair ($a,$b) survived")
    }
    assert(keptIds.nonEmpty)
  }
}
