package graft

import org.apache.spark.sql.functions._

import graft.operators.{Eval, Knn, Spann}
import graft.sources.IndexStore

/** End-to-end SPANN pipeline on real testdata (mirrors
  * `Test/src/SSDServingTest.cpp:411-777`: SelectHead → Build → Search with
  * truth-based recall).
  */
class SpannSpec extends SparkSpec {

  private lazy val corpus = Tables.lineitemVec(spark, sf0001).cache()
  private lazy val queries =
    Tables.ordersQuery(spark, sf0001).where(col("query_id") < 20).cache()

  test("two-stage search recall@10 >= 0.9 vs exact (SSDServingTest recall gate)") {
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val postings = Spann.buildPostings(corpus, heads, 4)
    val approx = Spann.searchTwoStage(queries, heads, postings, 10, 8)
    val exact = Knn.search(queries, corpus, 10)
    val rec = Eval.recallSummary(Eval.recallAt(approx, exact, 10)).head()
    assert(rec.getDouble(0) >= 0.9, s"avg recall ${rec.getDouble(0)}")
  }

  test("fused stage-2 probe ≡ join-formulated stage-2, bit-exact (r16 fusion)") {
    // r16: the unbucketed/unfiltered stage-2 runs as ONE MultiTopK (Probe
    // router) aggregate; this pins it against the former
    // join+ObjectHashAggregate form — same rows, ranks AND the same distance
    // doubles (4dp-rounded by the shared explodeRanked on both sides)
    import graft.functions.TopKByDistance
    // besides the 6-d testdata: a hashed 32-d corpus with 7 queries
    def hashed(n: Int, idCol: String, vecCol: String, salt: Int) =
      spark.range(n).select(col("id").as(idCol),
        transform(sequence(lit(1), lit(32)),
          j => (hash(col("id"), j, lit(salt)) % 1000 / 100.0).cast("float")).as(vecCol))
    val hc = hashed(600, "id", "vec", 2)
    val hq = hashed(7, "query_id", "qvec", 1)
    // one posting vector with a NaN component: every distance to it is NaN;
    // k above any query's candidate count keeps it (ranked last) on both sides
    val withNaN = hc.withColumn("vec", when(col("id") === 7,
      transform(col("vec"), (x, j) => when(j === 3, lit(Float.NaN)).otherwise(x)))
      .otherwise(col("vec")))
    // (corpus, queries, internalK, wideK, k): internalK 1/3/5 without widening
    // probes each of the hashed corpus's 12 heads from a few of the 7 queries,
    // so the interleaved stage-2 kernel sees routed slices of every length
    // mod 4 (four-query blocks plus a one-at-a-time tail)
    val widened = Seq((corpus, queries, 8, 24, 10), (hc, hq, 8, 24, 10))
    val plain = widened ++
      Seq(1, 3, 5).map(ik => (hc, hq, ik, 0, 10)) :+ ((withNaN, hq, 5, 0, 700))
    // the hashed corpus with a second, different vector under id 5: its rows
    // of both vectors sit side by side once clustered by id
    val twice = hc.union(hashed(1, "id", "vec", 9).select((col("id") + 5).as("id"), col("vec")))
    val clustered = Seq((twice, hq, 8, 24, 10), (twice, hq, 5, 0, 700))
    // + (headBuckets, filtered, byId): IndexStore-bucketed postings searched
    // with their bucket count, and an id filter, each alone and together;
    // and id-clustered postings (AnnIndex's layout) less tombstoned ids,
    // with and without an id filter
    val inputs = plain.map((_, Option.empty[Int], false, false)) ++
      widened.flatMap(i =>
        Seq((i, Some(8), false, false), (i, None, true, false), (i, Some(8), true, false))) ++
      clustered.flatMap(i => Seq((i, None, false, true), (i, None, true, true)))
    val dead = spark.range(0, 700, 11).toDF("id")
    val sliceLens = scala.collection.mutable.Set.empty[Long]
    for (((corpus, queries, internalK, wideK, k), headBuckets, filtered, byId) <- inputs;
         metric <- Seq("l2sq", "cos", "dot", "ip")) {
      val heads = Spann.selectHeadsModulo(corpus, 50)
      val built = Spann.buildPostings(corpus, heads, 4, metric = metric)
      val postings0 = headBuckets.fold(built)(IndexStore.withBucket(built, _))
      val postings = (if (byId) AnnIndex.byId(postings0).join(dead, Seq("id"), "left_anti")
        else postings0).cache()
      val pass =
        if (filtered) Some(corpus.where(col("id") % 3 =!= 0).select(col("id"))) else None
      // NaN ≠ NaN: compare a NaN distance as None
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getInt(1), r.getLong(2), Some(r.getDouble(3)).filterNot(_.isNaN))
      val fused = Spann.searchTwoStage(queries, heads, postings, k, internalK,
        metric = metric, headBuckets = headBuckets, wideK = wideK, closeRatio = 1.08,
        idFilter = pass)
        .collect().map(key).toSet
      // the former formulation, verbatim
      val cand0 = Spann.candidateHeads(queries, heads, internalK, metric = metric,
        wideK = wideK, closeRatio = 1.08)
      sliceLens ++= cand0.groupBy("head_id").count().collect().map(_.getLong(1))
      val cand = headBuckets match {
        case Some(b) => cand0.withColumn("head_bucket", (col("head_id") % b).cast("int"))
        case None => cand0
      }
      val joinKeys = if (headBuckets.isDefined) Seq("head_bucket", "head_id") else Seq("head_id")
      val probed = cand.join(postings, joinKeys)
      val kept = pass match {
        case Some(f) => probed.join(f.select(col("id")), Seq("id"), "left_semi")
        case None => probed
      }
      val hits = kept
        .join(org.apache.spark.sql.functions.broadcast(queries), Seq("query_id"))
        .withColumn("pdist",
          graft.functions.dist.byName(metric)(col("qvec"), col("vec")))
      val ref = Knn.explodeRanked(
        hits.groupBy(col("query_id"))
          .agg(TopKByDistance.topkDistinct(col("id"), col("pdist"), k).as("nn")))
        .collect().map(key).toSet
      assert(fused.nonEmpty && fused === ref, s"metric $metric internalK $internalK k $k " +
        s"buckets $headBuckets filtered $filtered byId $byId")
      if (corpus eq withNaN) assert(fused.exists(_._4.isEmpty), s"NaN row dropped, metric $metric")
      postings.unpersist()
    }
    assert(Seq(1L, 2L, 3L, 5L, 6L, 7L).forall(sliceLens), s"slice lengths $sliceLens")
  }

  test("fused ADC stage-2 ≡ join-formulated compressed stage-2, bit-exact (r16)") {
    import graft.functions.{PQ, TopKByDistance}
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val postings = Spann.buildPostings(corpus, heads, 4)
    val cb = PQ.train(corpus.select(col("id"), col("vec")), dim = 6, m = 3,
      k = 16, maxIter = 2)
    val ident = Array.tabulate(6, 6)((i, j) => if (i == j) 1.0 else 0.0)
    val rcb = PQ.RotatedCodebooks(ident, cb)
    val coded0 = postings.select(col("head_id"), col("id"))
      .join(PQ.quantize(corpus.select(col("id"), col("vec")), cb)
        .select(col("id"), col("codes")), Seq("id"))
    val pass = corpus.where(col("meta") =!= "AF").select(col("id"))
    // the former join formulation's query side, verbatim
    val bc = spark.sparkContext.broadcast(rcb)
    val lutUdf = udf((q: Seq[Double]) => bc.value.cb.adcLut(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(bc.value.rotate(q))))
    val withLut = queries
      .withColumn("_lut", lutUdf(col("qvec").cast("array<double>")))
      .select(col("query_id"), col("_lut"))
    val cand0 = Spann.candidateHeads(queries, heads, 8)
    val dead = corpus.where(col("id") % 11 === 0).select(col("id"))
    // plain, IndexStore-bucketed, id-filtered, and both; id-clustered (less
    // tombstoned ids), with and without the filter
    for ((headBuckets, byId) <- Seq((None, false), (Some(8), false), (None, true));
         idFilter <- Seq(None, Some(pass))) {
      val coded1 = headBuckets.fold(coded0)(IndexStore.withBucket(coded0, _))
      val coded =
        if (byId) AnnIndex.byId(coded1).join(dead, Seq("id"), "left_anti").cache() else coded1
      val fused = Spann.searchTwoStageAdc(queries, heads, coded, rcb, 10, 8,
        headBuckets = headBuckets, idFilter = idFilter)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      // the former join formulation, verbatim
      val cand = headBuckets match {
        case Some(b) => cand0.withColumn("head_bucket", (col("head_id") % b).cast("int"))
        case None => cand0
      }
      val joinKeys = if (headBuckets.isDefined) Seq("head_bucket", "head_id") else Seq("head_id")
      val probed = cand.join(coded, joinKeys)
      val kept = idFilter match {
        case Some(f) => probed.join(f.select(col("id")), Seq("id"), "left_semi")
        case None => probed
      }
      val hits = kept
        .join(org.apache.spark.sql.functions.broadcast(withLut), Seq("query_id"))
        .withColumn("pdist",
          graft.functions.LutCodesDistExpr(col("_lut"), col("codes")))
      val ref = Knn.explodeRanked(
        hits.groupBy(col("query_id"))
          .agg(TopKByDistance.topkDistinct(col("id"), col("pdist"), 10).as("nn")))
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(fused.nonEmpty && fused === ref,
        s"buckets $headBuckets filtered ${idFilter.isDefined} byId $byId")
    }
  }

  test("driver stage-1 ≡ candidateHeads: metrics, widening, ratio prune, ties, NaN, ragged") {
    import graft.functions.{MultiTopK, NearestHeadsExpr}
    def hashed(n: Long, d: Int, salt: Int) = spark.range(n).select(col("id"),
      transform(sequence(lit(1), lit(d)),
        j => (hash(col("id"), j, lit(salt)) % 1000 / 100.0).cast("float")).as("vec"))
    val vecs = hashed(400, 8, 5)
    // 20 heads, and head 1000 repeats head 0's vector: a tie on every query.
    // One collected row order feeds both sides (a NaN query keeps the first
    // heads the scan meets)
    val headRows = Spann.selectHeadsModulo(vecs, 20)
      .union(vecs.where(col("id") === 0).select(lit(1000L).as("head_id"), col("vec").as("head_vec")))
      .collect()
    val heads = spark.createDataFrame(java.util.Arrays.asList(headRows: _*), headRows.head.schema)
    val (ids, hvecs) = NearestHeadsExpr.widen(headRows)
    // queries: ten corpus rows, half of them ON a head (l2sq best 0), one
    // with a NaN component, and two of ragged dimension (5 and 10)
    val onGrid = vecs.where(col("id") % 10 === 0 && col("id") < 100)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    val nan = vecs.where(col("id") === 7).select(lit(1000L).as("query_id"),
      transform(col("vec"), (x, j) => when(j === 2, lit(Float.NaN)).otherwise(x)).as("qvec"))
    val ragged = Seq(hashed(1, 5, 6), hashed(1, 10, 7)).zipWithIndex.map { case (r, i) =>
      r.select(lit(1001L + i).as("query_id"), col("vec").as("qvec")) }
    val q = (nan +: ragged).foldLeft(onGrid)(_ union _)
    val Seq((_, batch)) = MultiTopK.collectBatches(q)
    // (internalK, maxDistRatio, wideK, closeRatio)
    val configs = Seq((4, Double.MaxValue, 0, 1.0), (4, 1.5, 0, 1.0), (3, 8.0, 12, 1.3),
      (25, 2.0, 0, 1.0), (2, Double.MaxValue, 21, 1.1))
    for (metric <- Seq("l2sq", "ip", "cos", "dot");
         (internalK, ratio, wideK, closeRatio) <- configs) {
      val want = Spann.candidateHeads(q, heads, internalK, ratio, metric, wideK, closeRatio)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("head_id"))).toSet
      val scan = NearestHeadsExpr.kernel(ids, hvecs, math.max(internalK, wideK), metric)
      val got = Spann.candidatePairs(batch, scan, internalK, ratio, wideK, closeRatio)
      assert(got.length === got.distinct.length && got.toSet === want,
        s"$metric internalK $internalK ratio $ratio wideK $wideK closeRatio $closeRatio")
      // every query keeps its nearest head whatever the prune
      assert(want.map(_._1).size === 13, s"$metric: a query lost every head")
    }
  }

  test("a stage-1 candidate naming a query outside the batch fails loudly") {
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val postings = Spann.buildPostings(corpus, heads, 4)
    val cand = Spann.candidateHeads(queries, heads, 8)
    val dropped = queries.select(min("query_id")).head().get(0).asInstanceOf[Number].longValue
    val err = intercept[IllegalArgumentException](Spann.searchFromCandidates(
      cand, queries.where(col("query_id") =!= dropped), postings, 10))
    assert(err.getMessage.contains(s"query_id $dropped is not in the query batch"),
      err.getMessage)
  }

  test("postingAudit histogram: exact lengths, mass adds up to posting rows") {
    import spark.implicits._
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val postings = Spann.buildPostings(corpus, heads, 4)
    val audit = Spann.postingAudit(postings).collect()
    // mass conservation: Σ n_vectors = |postings|, Σ n_heads = distinct heads
    assert(audit.map(_.getLong(2)).sum === postings.count())
    assert(audit.map(_.getLong(1)).sum ===
      postings.select("head_id").distinct().count())
    // exactness on a hand-built frame: lengths 2 and 1
    val tiny = Seq((10L, 1L), (10L, 2L), (20L, 3L)).toDF("head_id", "id")
    val t = Spann.postingAudit(tiny).orderBy("posting_len")
      .as[(Long, Long, Long)].collect().toSeq
    assert(t === Seq((1L, 1L, 1L), (2L, 1L, 2L)))
  }

  test("filtered two-stage search: only passing ids, identical to pre-filtered postings") {
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val postings = Spann.buildPostings(corpus, heads, 4)
    val pass = corpus.where(col("meta") =!= "AF").select(col("id"))
    val filtered = Spann.searchTwoStage(queries, heads, postings, 10, 8,
      idFilter = Some(pass))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(filtered.nonEmpty)
    // every hit passes the predicate
    val passSet = pass.collect().map(_.getLong(0)).toSet
    assert(filtered.forall { case (_, _, id) => passSet(id) })
    // semi-joining hits pre-top-k ≡ searching postings restricted to passing
    // ids (stage-1 is untouched by the filter)
    val restricted = Spann.searchTwoStage(queries, heads,
      postings.join(pass, Seq("id"), "left_semi"), 10, 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(filtered === restricted)
    // an all-pass filter is a no-op
    val allPass = Spann.searchTwoStage(queries, heads, postings, 10, 8,
      idFilter = Some(corpus.select(col("id"))))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val unfiltered = Spann.searchTwoStage(queries, heads, postings, 10, 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(allPass === unfiltered)
  }

  test("adaptive stage-1 widening lifts the per-query recall FLOOR (dynamic-pivot compensation)") {
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val postings = Spann.buildPostings(corpus, heads, 4)
    val exact = Knn.search(queries, corpus, 10)
    def minRecall(wideK: Int, closeRatio: Double): Double =
      Eval.recallSummary(Eval.recallAt(
        Spann.searchTwoStage(queries, heads, postings, 10, 8,
          wideK = wideK, closeRatio = closeRatio), exact, 10))
        .head().getDouble(1)
    val fixed = minRecall(0, 1.0)
    val widened = minRecall(24, 1.08)
    assert(widened >= fixed, s"widening must not lower the floor ($fixed -> $widened)")
    assert(widened >= 0.9, s"widened min per-query recall $widened")
    // widening is a pure superset of the fixed probe: per-query recall is
    // monotone, not just the floor
    val perFixed = Eval.recallAt(
      Spann.searchTwoStage(queries, heads, postings, 10, 8), exact, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val perWide = Eval.recallAt(
      Spann.searchTwoStage(queries, heads, postings, 10, 8,
        wideK = 24, closeRatio = 1.08), exact, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    perFixed.foreach { case (q, r) =>
      assert(perWide(q) >= r, s"query $q recall regressed $r -> ${perWide(q)}")
    }
  }

  test("compressed stage-2: full head coverage equals the full ADC scan (Q5+Q11)") {
    import graft.functions.PQ
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val nHeads = heads.count().toInt
    val postings = Spann.buildPostings(corpus, heads, 4)
    val cb = PQ.train(corpus, dim = 6, m = 3, k = 8, maxIter = 2)
    val ident = Array.tabulate(6, 6)((i, j) => if (i == j) 1.0 else 0.0)
    val rcb = PQ.RotatedCodebooks(ident, cb)
    val quant = PQ.quantize(corpus, cb).select(col("id"), col("codes"))
    val coded = postings.select(col("head_id"), col("id")).join(quant, Seq("id"))
    // internalK = ALL heads → every posting entry is probed → the pruned
    // two-stage ADC must reproduce the full compressed scan exactly
    val twoStage = Spann.searchTwoStageAdc(queries, heads, coded, rcb, 10, nHeads)
      .collect().toSet
    val fullScan = PQ.adcSearch(queries, quant, cb, 10).collect().toSet
    assert(twoStage === fullScan)
    // pruned probe (internalK = 8) keeps compressed-domain recall against
    // the full scan — the integration actually prunes AND still serves
    val pruned = Spann.searchTwoStageAdc(queries, heads, coded, rcb, 10, 8)
    val rec = Eval.recallSummary(
      Eval.recallAt(pruned, PQ.adcSearch(queries, quant, cb, 10), 10))
      .head().getDouble(0)
    assert(rec >= 0.8, s"pruned ADC recall $rec")
  }

  test("filtered ADC search: only passing ids, identical to pre-filtered coded postings") {
    import graft.functions.PQ
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val postings = Spann.buildPostings(corpus, heads, 4)
    val cb = PQ.train(corpus, dim = 6, m = 3, k = 8, maxIter = 2)
    val ident = Array.tabulate(6, 6)((i, j) => if (i == j) 1.0 else 0.0)
    val rcb = PQ.RotatedCodebooks(ident, cb)
    val quant = PQ.quantize(corpus, cb).select(col("id"), col("codes"))
    val coded = postings.select(col("head_id"), col("id")).join(quant, Seq("id"))
    val pass = corpus.where(col("meta") =!= "AF").select(col("id"))
    val filtered = Spann.searchTwoStageAdc(queries, heads, coded, rcb, 10, 8,
      idFilter = Some(pass)).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(filtered.nonEmpty)
    val passSet = pass.collect().map(_.getLong(0)).toSet
    assert(filtered.forall { case (_, _, id) => passSet(id) })
    val restricted = Spann.searchTwoStageAdc(queries, heads,
      coded.join(pass, Seq("id"), "left_semi"), rcb, 10, 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(filtered === restricted)
  }

  test("SPANN iterator: batch 1 ≡ two-stage top-k; union covers the wider search (Q6)") {
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val postings = Spann.buildPostings(corpus, heads, 4)
    val it = Spann.iterate(queries, heads, postings, headBatch = 8, maxInternalK = 16)
    try {
      val b1 = it.next(10)
      // first batch is within the posting budget: no relaxed flag, and it IS
      // the plain two-stage result over the first head batch
      assert(b1.collect().forall(!_.getBoolean(4)))
      val direct = Spann.searchTwoStage(queries, heads, postings, 10, 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(b1.drop("relaxed_mono")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
        === direct)
      assert(it.hasNext)
      val b2 = it.next(10)
      // continuation batch: relaxed-monotonicity flagged, disjoint ids,
      // full batch served per query
      assert(b2.collect().forall(_.getBoolean(4)))
      val union = b1.drop("relaxed_mono").unionByName(b2.drop("relaxed_mono"))
      assert(union.groupBy("query_id").count().collect().forall(_.getLong(1) == 20))
      assert(union.select("query_id", "id").distinct().count() === union.count())
      // the two batches together dominate the wider one-shot search: every id
      // the internalK=16 two-stage top-10 finds is in the union
      val wide = Spann.searchTwoStage(queries, heads, postings, 10, 16)
      assert(wide.select("query_id", "id")
        .except(union.select("query_id", "id")).isEmpty)
      assert(!it.hasNext)
    } finally it.close()
  }

  /** A hashed 16-d corpus plus a second, far vector under id 5; its heads,
    * `metric` postings less every 13th id, and 5 queries.
    */
  private def iterFixture(metric: String) = {
    def hashed(n: Int, idCol: String, vecCol: String, salt: Int) =
      spark.range(n).select(col("id").as(idCol),
        transform(sequence(lit(1), lit(16)),
          j => (hash(col("id"), j, lit(salt)) % 1000 / 100.0).cast("float")).as(vecCol))
    val c = hashed(500, "id", "vec", 2)
      .union(hashed(1, "id", "vec", 9).select((col("id") + 5).as("id"), col("vec")))
    val heads = Spann.selectHeadsModulo(c, 25)
    val postings = Spann.buildPostings(c, heads, 3, metric = metric)
      .join(spark.range(0, 500, 13).toDF("id"), Seq("id"), "left_anti").cache()
    (heads, postings, hashed(5, "query_id", "qvec", 1))
  }

  private type Iter = {
    def hasNext: Boolean
    def next(b: Int): org.apache.spark.sql.DataFrame
    def close(): Unit
  }

  private def drain(it: Iter, bs: Seq[Int]) = {
    import scala.language.reflectiveCalls
    try bs.map(b => (it.hasNext, it.next(b).collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).sorted.toSeq))
    finally it.close()
  }

  test("SPANN iterator on the one stage-2 ≡ its former posting-join form, row for row") {
    // (metric, headBatch, maxInternalK, b per call): every b sequence runs
    // one call past hasNext turning false
    val configs = Seq(("l2sq", 1, 3, Seq(4, 2, 5, 3)), ("ip", 3, 7, Seq(3, 6, 2, 4)),
      ("cos", 8, 12, Seq(5, 9, 4)), ("dot", 1, 3, Seq(2, 7, 1, 6)),
      ("l2sq", 3, 7, Seq(6, 1, 8, 5)), ("l2sq", 8, 12, Seq(10, 3, 6)))
    for ((metric, headBatch, maxK, bs) <- configs) {
      val (heads, postings, q) = iterFixture(metric)
      val got = drain(Spann.iterate(q, heads, postings, headBatch, maxK, metric), bs)
      val want = drain(new FormerSpannIterator(q, heads, postings, headBatch, maxK, metric), bs)
      val tag = s"$metric headBatch $headBatch maxInternalK $maxK"
      assert(got.map(_._2).forall(_.nonEmpty) && !got.last._1, tag)
      assert(got === want, tag)
      // id 5's two vectors both meet the probe: it is served once per query
      assert(got.flatMap(_._2).groupBy(r => (r._1, r._3)).forall(_._2.size == 1), tag)
      postings.unpersist()
    }
  }

  test("SPANN iterator over a query batch split by a tiny budget ≡ one batch") {
    val (heads, postings, q) = iterFixture("l2sq")
    val bs = Seq(4, 6, 3)
    val one = drain(Spann.iterate(q, heads, postings, 3, 7), bs)
    val split = drain(new graft.operators.SpannResultIterator(q, heads, postings, 3, 7, "l2sq",
      maxRows = 2, maxBytes = Long.MaxValue), bs)
    assert(one.map(_._2.size) === Seq(20, 30, 15) && split === one)
    postings.unpersist()
  }

  test("hierarchical routing with full fan equals flat candidate heads (Q5 hier)") {
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val supers = Spann.selectHeadsModulo(
        heads.select(col("head_id").as("id"), col("head_vec").as("vec")), 200)
      .select(col("head_id").as("super_id"), col("head_vec").as("super_vec"))
    val nSupers = supers.count().toInt
    // every head routed to every super + every super probed → no pruning,
    // so the two-level candidates must equal the flat broadcast ranking
    val routing = Spann.routeHeads(heads, supers, routeReplicas = nSupers)
    val hier = Spann.candidateHeadsHier(queries, supers, routing, 8, nSupers)
      .orderBy("query_id", "rank").collect().toSeq
    val flat = Spann.candidateHeads(queries, heads, 8)
      .select(col("query_id"), col("rank"), col("head_id"), col("hdist"))
      .orderBy("query_id", "rank").collect().toSeq
    assert(hier === flat)
  }

  test("hier posting build with full fan equals the flat build (B8 hier)") {
    import spark.implicits._
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val supers = Spann.selectHeadsModulo(
        heads.select(col("head_id").as("id"), col("head_vec").as("vec")), 200)
      .select(col("head_id").as("super_id"), col("head_vec").as("super_vec"))
    val nSupers = supers.count().toInt
    val routing = Spann.routeHeads(heads, supers, routeReplicas = nSupers)
    val hier = Spann.buildPostingsHier(corpus, supers, routing, 4, nSupers)
      .select("head_id", "id", "dist").as[(Long, Long, Double)]
      .collect().toSeq.sorted
    val flat = Spann.buildPostings(corpus, heads, 4)
      .select("head_id", "id", "dist").as[(Long, Long, Double)]
      .collect().toSeq.sorted
    assert(hier === flat)
    // partial fan: approximate assignment, but every vector still lands in
    // replicaCount postings and every chosen head is a real candidate
    val partial = Spann.buildPostingsHier(corpus, supers,
      Spann.routeHeads(heads, supers, routeReplicas = 2), 4, superK = 2)
    assert(partial.select("id").distinct().count() === corpus.count())
    assert(partial.groupBy("id").count().agg(max("count")).head().getLong(0) <= 4)
  }

  test("routed in-expression posting build ≡ hier join build (B8 routed)") {
    import spark.implicits._
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val supers = Spann.selectHeadsModulo(
        heads.select(col("head_id").as("id"), col("head_vec").as("vec")), 200)
      .select(col("head_id").as("super_id"), col("head_vec").as("super_vec"))
    // partial fan across metrics: the routed expression must reproduce the
    // join form bit-for-bit — same supers chosen, same distinct top-k over
    // the routed blocks, same tie rules
    Seq("l2sq", "cos", "ip").foreach { m =>
      val routing = Spann.routeHeads(heads, supers, routeReplicas = 2, m)
      val routed = Spann.buildPostingsRouted(corpus, supers, routing, 4,
          superK = 2, m)
        .select("head_id", "id", "dist").as[(Long, Long, Double)]
        .collect().toSeq.sorted
      val hier = Spann.buildPostingsHier(corpus, supers, routing, 4,
          superK = 2, m)
        .select("head_id", "id", "dist").as[(Long, Long, Double)]
        .collect().toSeq.sorted
      assert(routed === hier, s"metric $m")
    }
    // over-budget routing rows → automatic fall-back to the join form
    val routing = Spann.routeHeads(heads, supers, routeReplicas = 2)
    val fallback = Spann.buildPostingsRouted(corpus, supers, routing, 4,
        superK = 2, maxRoutingRows = 1)
      .select("head_id", "id", "dist").as[(Long, Long, Double)]
      .collect().toSeq.sorted
    val hier = Spann.buildPostingsHier(corpus, supers, routing, 4, superK = 2)
      .select("head_id", "id", "dist").as[(Long, Long, Double)]
      .collect().toSeq.sorted
    assert(fallback === hier)
  }

  test("routed stage-1 candidates ≡ join-formulated hier candidates (Q5 routed)") {
    import spark.implicits._
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val supers = Spann.selectHeadsModulo(
        heads.select(col("head_id").as("id"), col("head_vec").as("vec")), 200)
      .select(col("head_id").as("super_id"), col("head_vec").as("super_vec"))
    val routing = Spann.routeHeads(heads, supers, routeReplicas = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "head_id", "hdist")
        .as[(Long, Int, Long, Double)].collect().toSeq.sorted
    // expression path (routing fits the budget) vs the join form
    val expr = rows(Spann.candidateHeadsHier(queries, supers, routing, 8, 2))
    val join = rows(Spann.candidateHeadsHierJoin(queries, supers, routing, 8, 2))
    assert(expr === join)
    // over-budget → candidateHeadsHier itself falls back to the join form
    val fb = rows(Spann.candidateHeadsHier(queries, supers, routing, 8, 2,
      maxRoutingRows = 1))
    assert(fb === join)
  }

  test("hierarchical two-stage search keeps recall under partial fan (Q5 hier)") {
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val supers = Spann.selectHeadsModulo(
        heads.select(col("head_id").as("id"), col("head_vec").as("vec")), 200)
      .select(col("head_id").as("super_id"), col("head_vec").as("super_vec"))
    val postings = Spann.buildPostings(corpus, heads, 4)
    val routing = Spann.routeHeads(heads, supers, routeReplicas = 2)
    val hier = Spann.searchTwoStageHier(queries, supers, routing, postings, 10, 8, 3)
    val exact = Knn.search(queries, corpus, 10)
    val rec = Eval.recallSummary(Eval.recallAt(hier, exact, 10)).head()
    assert(rec.getDouble(0) >= 0.8, s"avg recall ${rec.getDouble(0)}")
  }

  test("expression-based posting build ≡ join-based build (all metrics)") {
    val heads = Spann.selectHeadsModulo(corpus, 50)
    Seq("l2sq", "cos", "ip").foreach { m =>
      val fast = Spann.buildPostings(corpus, heads, 3, m)
        .select("head_id", "id", "dist")
      val join = Spann.buildPostingsViaJoin(corpus, heads, 3, m)
        .select("head_id", "id", "dist")
      assert(fast.exceptAll(join).count() === 0, s"metric $m diverged")
      assert(join.exceptAll(fast).count() === 0, s"metric $m diverged")
    }
  }

  test("over-budget head set auto-routes: buildPostings → join form, " +
    "candidateHeads → batch aggregate, results unchanged") {
    val heads = Spann.selectHeadsModulo(corpus, 50)
    // budget of 1 head row forces the routed forms on this fixture
    val routedBuild = Spann.buildPostings(corpus, heads, 3, "l2sq", maxHeadRows = 1)
    val default = Spann.buildPostings(corpus, heads, 3)
    assert(routedBuild.select("head_id", "id", "dist")
      .exceptAll(default.select("head_id", "id", "dist")).count() === 0)
    assert(default.select("head_id", "id", "dist")
      .exceptAll(routedBuild.select("head_id", "id", "dist")).count() === 0)
    // the routed build must NOT carry the in-expression head scan
    val rp = routedBuild.queryExecution.executedPlan.toString
    assert(!rp.contains("nearest_heads"), s"expected join form, got:\n$rp")
    val dp = default.queryExecution.executedPlan.toString
    assert(dp.contains("nearest_heads"), s"expected expression form, got:\n$dp")
    // stage-1: routed form rides a batch_topk aggregate over the heads scan
    val routedCand = Spann.candidateHeads(queries, heads, 8, maxHeadRows = 1)
    val defaultCand = Spann.candidateHeads(queries, heads, 8)
    assert(routedCand.exceptAll(defaultCand).count() === 0)
    assert(defaultCand.exceptAll(routedCand).count() === 0)
    val cp = routedCand.queryExecution.executedPlan.toString
    assert(cp.contains("batch_topk") && !cp.contains("nearest_heads"),
      s"expected batch-aggregate stage-1, got:\n$cp")
  }

  test("BKT head tree conserves vectors: every id is exactly one center or one leaf") {
    val vecs = Tables.embeddingVec(spark, sf0001)
      .select(col("id"), col("vec"))
    val (internal, leaves) = Spann.buildHeadTree(vecs, k = 4, leafSize = 16,
      maxLevels = 3)
    val centers = internal.where(col("center_id").isNotNull)
      .select(col("center_id").as("id"))
    val all = centers.unionByName(leaves.select(col("id")))
    assert(all.count() === vecs.count())
    assert(all.distinct().count() === vecs.count())
    // n_leaf bookkeeping matches the leaf frame
    val fromCounts = internal.agg(sum(col("n_leaf"))).head.getLong(0)
    assert(fromCounts === leaves.count())
  }

  test("SelectHead walk semantics on a hand-built tree (threshold emit + split picks)") {
    import spark.implicits._
    // root with two internal children: A holds 3 leaves (ids 31,32,33),
    // B holds 1 leaf (id 41)
    val nodes = Seq(
      Spann.BktTreeNode("0", null, None, 0L),
      Spann.BktTreeNode("0.1", "0", Some(10L), 3L),
      Spann.BktTreeNode("0.2", "0", Some(20L), 1L))
    val leaves = Seq(("0.1", 31L), ("0.1", 32L), ("0.1", 33L), ("0.2", 41L))
      .toDF("node", "id")
    // selT=4: A (size 1+3=4) absorbs and emits its center; B (2) and the
    // root (1+2=3) stay under threshold
    val (e1, c1, p1) = Spann.walkHeadTree(nodes, 4, 25, 5)
    assert(e1 === Seq(10L) && c1 === 1L && p1.isEmpty)
    // selT=2, splT=2, splF=2: A absorbs AND splits — selectCnt=ceil(4/2)=2
    // of its 3 leaves (smallest ids); B absorbs without split (2 !> 2)
    val (e2, c2, p2) = Spann.walkHeadTree(nodes, 2, 2, 2)
    assert(e2.toSet === Set(10L, 20L) && c2 === 4L)
    val resolved = Spann.resolveBktSplits(leaves, p2)
    assert(resolved === Seq(31L, 32L))
  }

  test("collectTree refuses an over-budget internal tree before OOMing the driver") {
    // the B6 parity walk collects the internal tree (O(n/leafSize) when
    // maxLevels is raised on a huge corpus) — the guard must fail loudly
    // and point at the scalable path
    val big = spark.range(0, Spann.MaxTreeNodes + 1).select(
      col("id").cast("string").as("node"), lit("0").as("parent"),
      col("id").as("center_id"), lit(1L).as("n_leaf"))
    val e = intercept[IllegalStateException] { Spann.collectTree(big) }
    assert(e.getMessage.contains("selectHeadsKMeans"))
  }

  test("walkHeadTree split counts stay exact past Int range (billion-leaf nodes)") {
    // a root-level split on a >2³¹-leaf subtree: the old Int selectCnt
    // overflowed negative, corrupting the picks AND the count the dynamic
    // ratio binary search reads
    val big = 5_000_000_000L
    val nodes = Seq(
      Spann.BktTreeNode("0", null, None, 0L),
      Spann.BktTreeNode("0.1", "0", Some(10L), big))
    val (emits, total, pending) = Spann.walkHeadTree(nodes, 2, 2, 1)
    assert(emits === Seq(10L))
    assert(pending.size === 1)
    val p = pending.head
    assert(p.selectCnt === big + 1L, "ceil((1+big)/1) must not wrap")
    // total = emitted center + min(selectCnt, nLeaf picks available)
    assert(total === 1L + big)
  }

  test("Random SelectHead: deterministic hash draw lands near the ratio") {
    val vecs = Tables.embeddingVec(spark, sf0001).select(col("id"), col("vec"))
    val n = vecs.count()
    val h1 = Spann.selectHeadsRandom(vecs, 0.2)
    val cnt = h1.count()
    assert(math.abs(cnt.toDouble / n - 0.2) < 0.08, s"ratio ${cnt.toDouble / n}")
    // pure function of the id: re-run identical
    assert(h1.select("head_id").exceptAll(
      Spann.selectHeadsRandom(vecs, 0.2).select("head_id")).count() === 0)
  }

  test("BKT SelectHead end-to-end + dynamic ratio targeting (B6)") {
    val vecs = Tables.embeddingVec(spark, sf0001)
      .select(col("id"), col("vec"))
    val n = vecs.count()
    val heads = Spann.selectHeadsBkt(vecs, k = 4, leafSize = 16, maxLevels = 3,
      selectThreshold = 6, splitThreshold = 25, splitFactor = 5)
    val hn = heads.count()
    assert(hn > 0 && hn < n)
    // heads are real corpus vectors
    assert(heads.join(vecs.select(col("id").as("head_id")),
      Seq("head_id"), "left_anti").count() === 0)
    // dynamic: lands near the requested ratio (SelectHeadDynamically's
    // binary search); exact closeness depends on tree shape, so gate loosely
    val dyn = Spann.selectHeadsBktDynamic(vecs, 0.12, k = 4, leafSize = 16,
      maxLevels = 3)
    val ratio = dyn.count().toDouble / n
    assert(math.abs(ratio - 0.12) < 0.08, s"dynamic ratio $ratio vs 0.12")
    // ratio >= 1 short-circuits to all vectors
    assert(Spann.selectHeadsBktDynamic(vecs, 1.0).count() === n)
  }

  test("posting truncation keeps closest per head (PostingPageLimit)") {
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val postings = Spann.buildPostings(corpus, heads, 4)
    val capped = Spann.truncatePostings(postings, 20)
    val maxLen = capped.groupBy("head_id").count().agg(max("count")).head().getLong(0)
    assert(maxLen <= 20)
    // kept rows are each head's closest
    val viol = capped.groupBy("head_id").agg(max("dist").as("kept_max"))
      .join(postings.join(capped.select("head_id", "id").withColumn("_k", lit(1)),
        Seq("head_id", "id"), "left_anti")
        .groupBy("head_id").agg(min("dist").as("dropped_min")), Seq("head_id"))
      .where(col("dropped_min") < col("kept_max"))
    assert(viol.count() === 0)
  }

  test("RNG postings are a subset of plain top-(4x) postings, all vectors covered") {
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val rng = Spann.buildPostingsRng(corpus, heads, 4)
    val plain = Spann.buildPostings(corpus, heads, 16)
    assert(rng.select("head_id", "id")
      .exceptAll(plain.select("head_id", "id")).count() === 0)
    assert(rng.select("id").distinct().count() === corpus.count())
    // at most replicaCount postings per vector
    assert(rng.groupBy("id").count().agg(max("count")).head().getLong(0) <= 4)
  }

  test("head-recall diagnostic bounds end-to-end recall (Q14)") {
    val heads = Spann.selectHeadsModulo(corpus, 50)
    val postings = Spann.buildPostings(corpus, heads, 4)
    val cand = Spann.candidateHeads(queries, heads, 8)
    val exact = Knn.search(queries, corpus, 10)
    val hr = Eval.headRecall(cand, postings, exact, 10)
    val e2e = Eval.recallAt(
      Spann.searchTwoStage(queries, heads, postings, 10, 8), exact, 10)
    val joined = hr.join(e2e, Seq("query_id")).collect()
    // a neighbor can only be found if its head was probed: e2e ≤ head recall
    joined.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(1) + 1e-9,
        s"query ${r.getLong(0)}: e2e ${r.getDouble(2)} > head ${r.getDouble(1)}")
    }
  }

  test("kmeans-selected heads also give good recall") {
    val heads = Spann.selectHeadsKMeans(corpus, 40, maxIter = 3)
    val postings = Spann.buildPostings(corpus, heads, 4)
    val approx = Spann.searchTwoStage(queries, heads, postings, 10, 6)
    val exact = Knn.search(queries, corpus, 10)
    val rec = Eval.recallSummary(Eval.recallAt(approx, exact, 10)).head()
    assert(rec.getDouble(0) >= 0.8, s"avg recall ${rec.getDouble(0)}")
  }

  test("rebalancePostings splits oversized postings on pivots and merges tiny ones") {
    import spark.implicits._
    // head 1: 8 members in two sub-clusters around (-5,0) and (+5,0) — over
    // maxLen 5; head 2: healthy; head 3: single member — under minLen 2
    val headRows = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(100f, 100f)), (3L, Seq(200f, 200f)))
      .toDF("head_id", "head_vec")
    val members = Seq(
      (1L, 10L, Seq(6.5f, 0f)), (1L, 11L, Seq(5f, 0f)), (1L, 12L, Seq(5f, 1f)),
      (1L, 13L, Seq(4f, 0f)), (1L, 14L, Seq(-6f, 0f)), (1L, 15L, Seq(-5f, 0f)),
      (1L, 16L, Seq(-5f, 1f)), (1L, 17L, Seq(-4f, 0f)),
      (2L, 20L, Seq(101f, 100f)), (2L, 21L, Seq(100f, 101f)), (2L, 22L, Seq(99f, 100f)),
      (3L, 30L, Seq(201f, 200f))
    ).toDF("head_id", "id", "vec")
    val postings = members.join(headRows, "head_id")
      .select(col("head_id"), col("id"), col("vec"),
        graft.functions.dist.l2sq(col("vec"), col("head_vec")).as("dist"))
    val (heads2, post2) = Spann.rebalancePostings(headRows, postings, maxLen = 5, minLen = 2)

    // survivors: pivot-A side reuses id 1, B side gets 1 + (max+1) = 5; head 3 gone
    val hs = heads2.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(hs.keySet === Set(1L, 2L, 5L), s"heads: ${hs.keySet}")
    assert(hs(1L) === Seq(6.5f, 0f), "pivot A = farthest member from old head")
    assert(hs(5L) === Seq(-6f, 0f), "pivot B = farthest member from A")

    val byHead = post2.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // the split separates the two sub-clusters exactly
    assert(byHead(1L) === Set(10L, 11L, 12L, 13L), s"A side: ${byHead(1L)}")
    assert(byHead(5L) === Set(14L, 15L, 16L, 17L), s"B side: ${byHead(5L)}")
    // the orphan re-assigns to its nearest surviving head (head 2)
    assert(byHead(2L) === Set(20L, 21L, 22L, 30L), s"merged: ${byHead(2L)}")
    // coverage preserved: every original vector id still posted exactly once here
    assert(post2.select("id").distinct().count() === 12)
    // rebalanced index still searches: the probe's exact neighbor surfaces
    val probe = Seq((1L, Seq(5f, 0.5f))).toDF("query_id", "qvec")
    val got = Spann.searchTwoStage(probe, heads2, post2, k = 1, internalK = 1)
      .collect()
    assert(got.head.getLong(2) === 11L || got.head.getLong(2) === 12L)
  }

  test("rebalanceToFixpoint drives every posting under the cap in few rounds") {
    import spark.implicits._
    // one 16-member head spread along a line: needs >1 pivot-split round
    // for maxLen 5; plus a healthy head so merges have a target
    val headRows = Seq((1L, Seq(0f, 0f)), (2L, Seq(1000f, 1000f)))
      .toDF("head_id", "head_vec")
    val members = ((0 until 16).map(i => (1L, 100L + i, Seq(i * 10f, 0f))) ++
      Seq((2L, 200L, Seq(1000f, 1001f)), (2L, 201L, Seq(1001f, 1000f)),
        (2L, 202L, Seq(999f, 1000f))))
      .toDF("head_id", "id", "vec")
    val postings = members.join(headRows, "head_id")
      .select(col("head_id"), col("id"), col("vec"),
        graft.functions.dist.l2sq(col("vec"), col("head_vec")).as("dist"))
    val (h2, p2) = Spann.rebalanceToFixpoint(headRows, postings, maxLen = 5, minLen = 2)
    val lens = p2.groupBy("head_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lens.values.forall(_ <= 5), s"cap violated: $lens")
    // every vector still covered exactly once, heads consistent with postings
    assert(p2.select("id").distinct().count() === 19)
    val headIds = h2.select("head_id").collect().map(_.getLong(0)).toSet
    assert(lens.keySet.subsetOf(headIds), s"posting heads missing: $lens vs $headIds")
  }

  test("rebalance fails diagnosably when no head would survive") {
    import spark.implicits._
    val headRows = Seq((1L, Seq(0f, 0f))).toDF("head_id", "head_vec")
    val postings = Seq((1L, 10L, Seq(1f, 0f), 1.0)).toDF("head_id", "id", "vec", "dist")
    val e = intercept[IllegalArgumentException] {
      Spann.rebalancePostings(headRows, postings, maxLen = 5, minLen = 2)
    }
    assert(e.getMessage.contains("no surviving head"))
  }

  test("rebalance invariants hold on random posting sets (coverage, partition, cap)") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val nHeads = 4 + rng.nextInt(3)
      val headRows = (1 to nHeads)
        .map(h => (h.toLong, Seq(rng.nextFloat() * 100, rng.nextFloat() * 100)))
        .toDF("head_id", "head_vec")
      val members = (0 until 80).map { i =>
        (1L + rng.nextInt(nHeads), 1000L + i,
          Seq(rng.nextFloat() * 100, rng.nextFloat() * 100))
      }.toDF("head_id", "id", "vec")
      val postings = members.join(headRows, "head_id")
        .select(col("head_id"), col("id"), col("vec"),
          graft.functions.dist.l2sq(col("vec"), col("head_vec")).as("dist"))
      val ids0 = postings.select("id").distinct().count()
      val (h2, p2) = Spann.rebalanceToFixpoint(headRows, postings, maxLen = 15, minLen = 5)
      // every distinct vector still covered; every posting within the cap;
      // every posting's head exists in the returned head table
      assert(p2.select("id").distinct().count() === ids0, s"trial $trial coverage")
      val lens = p2.groupBy("head_id").count().collect()
      assert(lens.forall(_.getLong(1) <= 15), s"trial $trial cap: ${lens.mkString(",")}")
      val headIds = h2.select("head_id").collect().map(_.getLong(0)).toSet
      assert(lens.map(_.getLong(0)).forall(headIds), s"trial $trial dangling head")
    }
  }
}

/** `SpannResultIterator` as it stood with its own stage-2 (a posting join
  * into a growing cached pool, emitted ids anti-joined out), its `next` body
  * kept verbatim as the reference the one-stage-2 form is pinned against.
  */
private final class FormerSpannIterator(
    queries: org.apache.spark.sql.DataFrame,
    heads: org.apache.spark.sql.DataFrame,
    postings: org.apache.spark.sql.DataFrame,
    headBatch: Int,
    maxInternalK: Int,
    metric: String) {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import graft.functions.dist
  import graft.operators.{Knn, Spann}

  private val stage1 =
    Spann.candidateHeads(queries, heads, maxInternalK, metric = metric).cache()
  private var consumed = 0
  private var pool: Option[DataFrame] = None
  private var emitted: Option[DataFrame] = None
  private val retained = scala.collection.mutable.Buffer.empty[DataFrame]

  def hasNext: Boolean = consumed < maxInternalK

  def next(b: Int): DataFrame = {
    // the next head batch off the retained stage-1 frame (no recompute)
    val newCand = stage1
      .where(col("rank") > consumed && col("rank") <= consumed + headBatch)
    val relaxed = consumed >= headBatch // past the first posting budget
    consumed = math.min(consumed + headBatch, maxInternalK)
    // pull ONLY the new heads' postings, score, fold into the pool
    val newHits = newCand.select(col("query_id"), col("head_id"))
      .join(postings, Seq("head_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("pdist", dist.byName(metric)(col("qvec"), col("vec")))
      .select(col("query_id"), col("id"), col("pdist"))
    val merged = pool.map(_.unionByName(newHits)).getOrElse(newHits).cache()
    retained += merged
    pool = Some(merged)
    // serve the best b per query among ids not emitted by earlier batches
    // (replica duplicates collapse inside the bounded distinct-id top-k)
    val avail = emitted.map(e => merged.join(e, Seq("query_id", "id"), "left_anti"))
      .getOrElse(merged)
    val out = Knn.explodeRanked(
      avail.groupBy(col("query_id"))
        .agg(graft.functions.TopKByDistance.topkDistinct(col("id"), col("pdist"), b).as("nn")))
      .withColumn("relaxed_mono", lit(relaxed))
      .cache()
    retained += out
    emitted = Some(emitted match {
      case Some(e) => e.unionByName(out.select(col("query_id"), col("id")))
      case None => out.select(col("query_id"), col("id"))
    })
    out
  }

  def close(): Unit = {
    stage1.unpersist()
    retained.foreach(_.unpersist())
    retained.clear()
  }
}
