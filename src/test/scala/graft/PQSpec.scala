package graft

import org.apache.spark.sql.functions._

import graft.functions.PQ
import graft.operators.{Eval, Knn}

/** PQ train/quantize/ADC (B12/Q11; mirrors
  * `Test/src/ReconstructIndexSimilarityTest.cpp:291-299`).
  */
class PQSpec extends SparkSpec {

  private lazy val corpus = Tables.lineitemVec(spark, sf0001).cache()
  private lazy val queries =
    Tables.ordersQuery(spark, sf0001).where(col("query_id") < 10).cache()

  test("quantize emits m codes in [0, k)") {
    val cb = PQ.train(corpus, dim = 6, m = 3, k = 8, maxIter = 2)
    val codes = PQ.quantize(corpus, cb).select("codes").collect()
    codes.foreach { r =>
      val cs = r.getSeq[Int](0)
      assert(cs.length === 3)
      assert(cs.forall(c => c >= 0 && c < 8))
    }
  }

  test("RVQ: level 2 strictly shrinks reconstruction error; search == exact over " +
    "two-level reconstructions") {
    val rvq = PQ.trainRvq(corpus, dim = 6, m = 3, k = 16, maxIter = 2)
    val quant = PQ.quantizeRvq(corpus, rvq).cache()
    // (a) two-level reconstruction beats level-1-only in total squared error
    def sse(recon: org.apache.spark.sql.DataFrame): Double = recon
      .select(aggregate(
        zip_with(col("vec").cast("array<double>"), col("recon"),
          (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x).as("e"))
      .agg(sum(col("e"))).head.getDouble(0)
    val sse1 = sse(PQ.reconstruct(PQ.quantize(corpus, rvq.cb1), rvq.cb1))
    val sse2 = sse(PQ.reconstructRvq(
      quant.join(corpus.select(col("id"), col("vec")), Seq("id")), rvq))
    assert(sse2 < sse1 * 0.9, s"RVQ sse $sse2 not clearly below PQ sse $sse1")
    // (b) rvqSearch is definitionally exact kNN over the reconstructions
    val viaSearch = PQ.rvqSearch(queries, quant, rvq, 10)
      .select("query_id", "rank", "id").collect().toSet
    val recon = PQ.reconstructRvq(quant, rvq)
      .select(col("id"), col("recon").as("vec"))
    val viaExact = Knn.search(queries, recon, 10)
      .select("query_id", "rank", "id").collect().toSet
    assert(viaSearch === viaExact)
  }

  test("ADC distance is definitionally l2sq(query, reconstruction)") {
    val cb = PQ.train(corpus, dim = 6, m = 3, k = 16, maxIter = 2)
    val rows = PQ.reconstruct(PQ.quantize(corpus.limit(50), cb), cb)
      .select(col("vec").cast("array<double>"), col("codes"), col("recon"))
      .collect()
    val q = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)
    rows.foreach { r =>
      val codes = r.getSeq[Int](1)
      val recon = r.getSeq[Double](2)
      val adc = cb.adcDistance(q, codes)
      val viaRecon = q.zip(recon).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(adc - viaRecon) < 1e-9)
    }
  }

  test("SDC distance == l2sq of the two reconstructions; ADC cross-check (Q11)") {
    import spark.implicits._
    val cb = PQ.train(corpus, dim = 6, m = 3, k = 16, maxIter = 2)
    val quant = PQ.reconstruct(PQ.quantize(corpus.where(col("id") <= 40), cb), cb)
      .select(col("id"), col("codes"), col("recon")).cache()
    val pairs = quant.select(col("id").as("ia"), col("codes").as("ca"), col("recon").as("ra"))
      .crossJoin(quant.select(col("id").as("ib"), col("codes").as("cb"), col("recon").as("rb")))
      .where(col("ia") < col("ib"))
      .withColumn("sdc", PQ.sdcDistance(col("ca"), col("cb"), cb, spark))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val ra = r.getSeq[Double](2); val rb = r.getSeq[Double](5)
      val sdc = r.getDouble(6)
      // LUT definition: SDC(a,b) == l2sq(reconstruct(a), reconstruct(b))
      val viaRecon = ra.zip(rb).map { case (x, y) => (x - y) * (x - y) }.sum
      assert(math.abs(sdc - viaRecon) < 1e-9)
      // ADC cross-check: with the query AT a's reconstruction, ADC == SDC
      val adc = cb.adcDistance(ra, r.getSeq[Int](4))
      assert(math.abs(sdc - adc) < 1e-9)
    }
    // sdcSearch end-to-end: equals ADC search with reconstructed queries
    val qq = quant.where(col("id") <= 5).select(col("id").as("query_id"), col("codes"))
    val qr = quant.where(col("id") <= 5).select(col("id").as("query_id"), col("recon").as("qvec"))
    val viaSdc = PQ.sdcSearch(qq, quant.select(col("id"), col("codes")), cb, 5)
      .orderBy("query_id", "rank", "id").collect().toSeq
    val viaAdc = PQ.adcSearch(qr, quant.select(col("id"), col("codes")), cb, 5)
      .orderBy("query_id", "rank", "id").collect().toSeq
    assert(viaSdc === viaAdc)
  }

  test("LUT batch aggregate ≡ crossJoin+LUT-expression forms, bit-exact (r16)") {
    // r16: adc/sdc/rvq search run as ONE LutBatchTopK aggregate; this pins
    // each against the former crossJoin + per-pair-expression plan — same
    // rows, ranks AND distance doubles
    import graft.functions.{LutCodesDistExpr, RvqLutDistExpr, TopKByDistance}
    import org.apache.spark.sql.functions.{broadcast => bcast}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

    val cb = PQ.train(corpus, dim = 6, m = 3, k = 16, maxIter = 2)
    val quant = PQ.quantize(corpus, cb).select(col("id"), col("codes")).cache()
    // --- ADC ---
    val adcGot = rows(PQ.adcSearch(queries, quant, cb, 10))
    val bc = spark.sparkContext.broadcast(cb)
    val lutUdf = udf((q: Seq[Double]) => bc.value.adcLut(q))
    val withLut = queries
      .withColumn("_lut", lutUdf(col("qvec").cast("array<double>")))
      .select(col("query_id"), col("_lut"))
    val adcRef = rows(Knn.explodeRanked(
      quant.crossJoin(bcast(withLut))
        .withColumn("dist", LutCodesDistExpr(col("_lut"), col("codes")))
        .groupBy(col("query_id"))
        .agg(TopKByDistance.topk(col("id"), col("dist"), 10).as("nn"))))
    assert(adcGot === adcRef, "adc")
    // --- SDC ---
    val qq = PQ.quantize(
      queries.select(col("query_id").as("id"), col("qvec").as("vec")), cb)
      .select(col("id").as("query_id"), col("codes"))
    val sdcGot = rows(PQ.sdcSearch(qq, quant, cb, 10))
    val sdcRef = rows(Knn.explodeRanked(
      quant.crossJoin(bcast(qq.select(col("query_id"), col("codes").as("qcodes"))))
        .withColumn("dist", PQ.sdcDistance(col("qcodes"), col("codes"), cb, spark))
        .groupBy(col("query_id"))
        .agg(TopKByDistance.topk(col("id"), col("dist"), 10).as("nn"))))
    assert(sdcGot === sdcRef, "sdc")
    // --- RVQ ---
    val rvq = PQ.trainRvq(corpus, dim = 6, m = 3, k = 16, maxIter = 2)
    val rq = PQ.quantizeRvq(corpus, rvq).cache()
    val rvqGot = rows(PQ.rvqSearch(queries, rq, rvq, 10))
    val bcR = spark.sparkContext.broadcast(rvq)
    val rvqLutUdf = udf((q: Seq[Double]) => {
      val r = bcR.value; val c1 = r.cb1; val c2 = r.cb2
      Array.tabulate(c1.m) { s =>
        val n1 = c1.centers(s).length; val n2 = c2.centers(s).length
        Array.tabulate(n1 * n2) { idx =>
          val a = idx / n2; val b = idx % n2
          var d = 0.0; var i = 0
          while (i < c1.dsub) {
            val rec = c1.centers(s)(a)(i) + c2.centers(s)(b)(i) / r.residScale
            val x = q(s * c1.dsub + i) - rec
            d += x * x; i += 1
          }
          d
        }
      }
    })
    val n2 = Array.tabulate(rvq.cb2.m)(s => rvq.cb2.centers(s).length)
    val withLutR = queries
      .withColumn("_lut", rvqLutUdf(col("qvec").cast("array<double>")))
      .select(col("query_id"), col("_lut"))
    val rvqRef = rows(Knn.explodeRanked(
      rq.crossJoin(bcast(withLutR))
        .withColumn("dist",
          RvqLutDistExpr(col("_lut"), col("codes1"), col("codes2"), n2))
        .groupBy(col("query_id"))
        .agg(TopKByDistance.topk(col("id"), col("dist"), 10).as("nn"))))
    assert(rvqGot === rvqRef, "rvq")
  }

  test("LUT scoring rejects codes from a codebook with more subspaces") {
    val cb = PQ.train(corpus, dim = 6, m = 3, k = 16, maxIter = 2)
    val wide = PQ.train(corpus, dim = 6, m = 6, k = 16, maxIter = 2)
    val wideCodes = PQ.quantize(corpus, wide).select(col("id"), col("codes"))
    val err = intercept[Exception](PQ.adcSearch(queries, wideCodes, cb, 5).collect())
    val named = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .collectFirst { case e: IllegalArgumentException => e.getMessage }
    assert(named.exists(m => m.contains("carries 6 codes") && m.contains("have 3 subspaces")),
      s"not the named codes/LUT mismatch: $err")
  }

  test("ADC recall is high on clustered data (PQ's operating regime)") {
    import spark.implicits._
    // 10 tight 4-d blobs at c*100 ± small jitter; 16 centroids per 2-d
    // subspace easily isolate 10 blobs
    val blobs = spark.range(200).select(
      col("id"),
      array(
        ((col("id") % 10) * 100 + col("id") % 3).cast("float"),
        ((col("id") % 10) * 100 + (col("id") / 11) % 2).cast("float"),
        ((col("id") % 10) * 100 + col("id") % 2).cast("float"),
        ((col("id") % 10) * 100 + (col("id") / 13) % 3).cast("float")).as("vec"))
      .cache()
    val qs = blobs.where(col("id") < 5)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    val cb = PQ.train(blobs, dim = 4, m = 2, k = 16, maxIter = 4)
    val adc = PQ.adcSearch(qs, PQ.quantize(blobs, cb).select(col("id"), col("codes")), cb, 10)
    val exact = Knn.search(qs, blobs, 10)
    val rec = Eval.recallSummary(Eval.recallAt(adc, exact, 10)).head().getDouble(0)
    assert(rec >= 0.6, s"ADC recall on clustered data $rec")
  }

  test("OPQ rotation improves quantization on correlated data (B13)") {
    import spark.implicits._
    // dims 0,1 strongly correlated and 2,3 correlated — the worst case for
    // axis-aligned subspace splits (0,1 | 2,3 splits waste one code each);
    // PCA rotation decorrelates, so rotated PQ reconstructs better
    val rnd = new scala.util.Random(7)
    val data = (0 until 400).map { i =>
      val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 100
      (i.toLong, Seq((x + y).toFloat, (x - y).toFloat,
        (y * 2).toFloat, (y * 2 + x * 0.1).toFloat))
    }.toDF("id", "vec").cache()

    def mse(recon: org.apache.spark.sql.DataFrame): Double =
      recon.withColumn("err", graft.functions.dist.l2sq(col("orig"), col("recon")))
        .agg(avg("err")).head().getDouble(0)

    val plain = PQ.train(data, 4, 2, 8, 3)
    val plainMse = mse(PQ.reconstruct(PQ.quantize(data, plain), plain)
      .withColumnRenamed("vec", "orig"))

    val rcb = PQ.trainOpq(data, 4, 2, 8, 3)
    // reconstruct in rotated space vs rotated original
    val rotatedData = PQ.quantizeOpq(data, rcb)
    val opqMse = mse(PQ.reconstruct(rotatedData, rcb.cb)
      .withColumnRenamed("vec", "orig"))
    // rotation is orthogonal → MSE comparable across spaces
    assert(opqMse <= plainMse * 1.05, s"OPQ mse $opqMse vs plain $plainMse")

    // true alternation (Procrustes rotation updates) must not regress the
    // parametric init — the objective is non-increasing per half-step
    val alt = PQ.trainOpqAlternating(data, 4, 2, 8, 3, alternations = 2)
    val altMse = mse(PQ.reconstruct(PQ.quantizeOpq(data, alt), alt.cb)
      .withColumnRenamed("vec", "orig"))
    assert(altMse <= opqMse * 1.001, s"alternating mse $altMse vs parametric $opqMse")
    // rotation stays orthogonal: R·Rᵀ = I
    val r = alt.rotation
    for (i <- r.indices; j <- r.indices) {
      val dot = r.indices.map(t => r(i)(t) * r(j)(t)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"RRᵀ[$i][$j] = $dot")
    }
  }

  test("reconstructed vectors approximate originals") {
    val cb = PQ.train(corpus, dim = 6, m = 3, k = 32, maxIter = 3)
    val rec = PQ.reconstruct(PQ.quantize(corpus, cb), cb)
      .withColumn("err", graft.functions.dist.l2sq(col("vec"), col("recon")))
      .agg(avg("err"), avg(graft.functions.dist.l2sq(col("vec"),
        array((0 until 6).map(_ => lit(0.0)): _*))))
      .head()
    val mse = rec.getDouble(0)
    val base = rec.getDouble(1) // error of the zero vector = data energy
    assert(mse < base * 0.5, s"PQ mse $mse vs energy $base")
  }

  test("reconstructed-index similarity: search over reconstructions keeps recall " +
    "(ReconstructIndexSimilarityTest.cpp:266-287 end-to-end)") {
    // the reference flow: quantize the corpus, RECONSTRUCT it, build the
    // index over the reconstructions, search with REAL queries, score
    // against truth computed on the REAL vectors (k*2 result budget). Like
    // the reference's GenerateReconstructData, the corpus is clustered —
    // PQ's operating regime (lineitem's spread-out fixture quantizes too
    // coarsely at any small m for an end-to-end recall gate)
    import spark.implicits._
    val k = 10
    val blobs = spark.range(300).select(
      col("id"),
      array(
        ((col("id") % 10) * 100 + col("id") % 3).cast("float"),
        ((col("id") % 10) * 100 + (col("id") / 11) % 2).cast("float"),
        ((col("id") % 10) * 100 + col("id") % 2).cast("float"),
        ((col("id") % 10) * 100 + (col("id") / 13) % 3).cast("float")).as("vec"))
      .cache()
    val qs = blobs.where(col("id") < 8)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    val cb = PQ.train(blobs, dim = 4, m = 2, k = 16, maxIter = 4)
    val reconCorpus = PQ.reconstruct(PQ.quantize(blobs, cb), cb)
      .select(col("id"), col("recon").as("vec"))
    val results = Knn.search(qs, reconCorpus, k * 2)
    // truth IDS come from the real vectors; truth DISTANCES are recomputed
    // against the reconstructions — the reference's tie-credit recall does
    // exactly this (`ComputeDistance(res.GetQuantizedTarget, GetSample(nn))`,
    // ReconstructIndexSimilarityTest.cpp:279), so blob-mates that collapse
    // onto one reconstruction tie and count
    val truthIds = Knn.search(qs, blobs.select(col("id"), col("vec")), k)
    val truthRe = truthIds.drop("dist")
      .join(reconCorpus, Seq("id"))
      .join(qs, Seq("query_id"))
      .withColumn("dist",
        round(graft.functions.dist.l2sq(col("qvec"), col("vec")), 4))
      .select(col("query_id"), col("rank"), col("id"), col("dist"))
    // recallAt's denominator is its k param; truth carries k rows while the
    // result budget is 2k (the reference's shape), so rescale by 2
    val recall = 2 * Eval.recallSummary(Eval.recallAt(results, truthRe, k * 2))
      .head().getDouble(0)
    assert(recall >= 0.9, s"reconstructed-index recall@$k collapsed: $recall")
    // and the exact self-test: each reconstructed vector's nearest
    // reconstruction is itself (distance 0; blob-mates may tie)
    val selfQ = reconCorpus.limit(20)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    val self = Knn.search(selfQ, reconCorpus, 1)
    assert(self.where(col("dist") > 0).count() === 0,
      "self-search over reconstructions must find a zero-distance hit")
  }
}
