package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (B12 `Quantizer/Training.h:62-120`, Q11
  * `Common/PQQuantizer.h:110-128`): split the dimension into `m` subspaces,
  * k-means each subspace into ≤256 centroids (the codebooks), store each
  * vector as `m` small codes; ADC distance = Σ_sub d(q_sub, centroid[code]).
  *
  * Codebooks are tiny by construction (m·k·dsub floats) — they live on the
  * driver and broadcast into the quantize/distance closures; training
  * aggregates run distributed (one groupBy per Lloyd iteration over all
  * subspaces at once — no per-subspace job storm).
  */
object PQ {

  /** Codebooks: (subspace, code, centroid). */
  case class Codebooks(m: Int, k: Int, dsub: Int, centers: Array[Array[Array[Double]]]) {
    def quantizeOne(vec: Seq[Double]): Array[Int] =
      Array.tabulate(m) { s =>
        val sub = vec.slice(s * dsub, (s + 1) * dsub)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centers(s).length) {
          val d = l2(sub, scala.collection.immutable.ArraySeq.unsafeWrapArray(centers(s)(c)))
          if (d < bestD || (d == bestD && c < best)) { best = c; bestD = d }
          c += 1
        }
        best
      }

    def adcDistance(q: Seq[Double], codes: Seq[Int]): Double = {
      var s = 0; var total = 0.0
      while (s < m) {
        total += l2(q.slice(s * dsub, (s + 1) * dsub),
          scala.collection.immutable.ArraySeq.unsafeWrapArray(centers(s)(codes(s))))
        s += 1
      }
      total
    }

    /** Per-query ADC lookup table (`PQQuantizer.h:96-108` builds exactly
      * this per query): lut(s)(c) = l2sq(q_sub(s), centers(s)(c)). ADC for
      * any corpus code is then `m` array lookups instead of `m·dsub`
      * multiply-adds — the values are the same doubles [[adcDistance]]
      * computes, just hoisted out of the per-(query, vector) hot loop.
      */
    def adcLut(q: Seq[Double]): Array[Array[Double]] =
      Array.tabulate(m) { s =>
        val sub = q.slice(s * dsub, (s + 1) * dsub)
        Array.tabulate(centers(s).length) { c =>
          l2(sub, scala.collection.immutable.ArraySeq.unsafeWrapArray(centers(s)(c)))
        }
      }

    private def l2(a: Seq[Double], b: Seq[Double]): Double = {
      var i = 0; var acc = 0.0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
  }

  /** Train codebooks with Lloyd's over ALL subspaces in one DataFrame loop:
    * rows are (subspace, subvector); init = first k distinct vectors' slices.
    */
  def train(vectors: DataFrame, dim: Int, m: Int, k: Int, maxIter: Int = 5): Codebooks = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    val subRows = vectors.select(col("id"), col("vec").cast("array<double>").as("v"))
      .select(col("id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"), slice(col("v"), s * dsub + 1, dsub).as("sv"))): _*)).as("e"))
      .select(col("id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
      .cache()

    // deterministic init: slices of the k smallest-id vectors
    var centers: Array[Array[Array[Double]]] =
      subRows.where(col("id") < k).orderBy(col("sub"), col("id")).collect()
        .groupBy(_.getInt(1)).toArray.sortBy(_._1)
        .map(_._2.map(_.getSeq[Double](2).toArray))

    var iter = 0
    while (iter < maxIter) {
      // flat per-dimension sums (dsub is fixed): map-side partials, one
      // m·k-row exchange — the posexplode formulation shuffled n·m·dsub
      // rows per Lloyd round. sum/count division = exactly what avg computes.
      val sums = (0 until dsub).map(i => sum(col("sv").getItem(i)).as(s"_s$i"))
      val newCenters = subRows
        // codegen assignment ([[PqAssignExpr]]): same strict-< first-min scan
        // and left-to-right per-pair math as the former Scala UDF — codes are
        // bit-identical; the per-(row, iteration) boxed Seq is gone
        .withColumn("code", PqAssignExpr(col("sub"), col("sv"), centers))
        .groupBy(col("sub"), col("code"))
        .agg(sums.head, (sums.tail :+ count(lit(1)).as("_n")): _*)
        .collect()
      val updated = centers.map(_.map(identity)) // copy; empty clusters keep old center
      newCenters.foreach { r =>
        val n = r.getLong(2 + dsub).toDouble
        updated(r.getInt(0))(r.getInt(1)) =
          Array.tabulate(dsub)(i => r.getDouble(2 + i) / n)
      }
      centers = updated
      iter += 1
    }
    subRows.unpersist()
    Codebooks(m, k, dsub, centers)
  }

  /** Quantize a vector column into `m` codes. */
  def quantize(vectors: DataFrame, cb: Codebooks): DataFrame =
    // one-pass codegen expression (r15): the Scala-UDF form built a boxed
    // Seq slice per (row, subspace); codes are bit-identical
    // ([[PqCodesExpr]] replicates quantizeOne's first-min scan exactly)
    vectors.withColumn("codes",
      PqCodesExpr(col("vec").cast("array<double>"), cb.centers, cb.dsub))

  /** ADC top-k: queries (query_id, qvec) × quantized corpus (id, codes).
    *
    * The per-query LUT ([[Codebooks.adcLut]]) is computed ONCE per query row
    * on the (broadcast-tiny) query side; the per-(query, vector) work is then
    * `m` lookups + adds. Same doubles as the direct [[Codebooks.adcDistance]]
    * (each LUT entry is that very subspace distance), so results are
    * bit-identical — only the hot-loop cost changes (m·dsub → m per pair).
    */
  def adcSearch(queries: DataFrame, quantized: DataFrame, cb: Codebooks, k: Int): DataFrame = {
    // ONE-scan aggregate form (r16, [[MultiTopK]]): the crossJoin form
    // materialized a joined row per (query, vector) pair (30 M at the sf0.1
    // scan) and paid a per-row group-hash; the per-query LUTs are the SAME
    // doubles ([[Codebooks.adcLut]], the code the former per-query UDF ran),
    // scored with the same left-to-right sum — results bit-identical.
    MultiTopK.collectBatches(queries).map { case (_, q) =>
      val luts = q.vecs.map(v =>
        cb.adcLut(scala.collection.immutable.ArraySeq.unsafeWrapArray(v)))
      lutSearch(quantized, q.ids, MultiTopK.Lut(luts), k, col("codes"))
    }.reduce(_ unionByName _)
  }

  /** Every query's LUT through ONE [[MultiTopK]] scan of the quantized corpus. */
  private def lutSearch(quantized: DataFrame, qids: Array[Long], lut: MultiTopK.Lut,
      k: Int, codes: Column*): DataFrame =
    graft.operators.Knn.explodeRanked(MultiTopK.search(quantized, qids, lut,
      MultiTopK.AllQueries(k), col("id") +: codes: _*))

  /** SDC sub-tables (symmetric distance computation, the other half of Q11 —
    * `Common/PQQuantizer.h:110-128` precomputes 256×256 float tables per
    * subspace at quantizer load): `tables(sub)(a)(b)` = l2sq between
    * codewords `a` and `b` of subspace `sub`. Code-to-code distance is then
    * Σ_sub tables(sub)(codeA(sub))(codeB(sub)) — by construction EXACTLY
    * l2sq(reconstruct(codesA), reconstruct(codesB)), no vector math at
    * query time. Tables are m·k² doubles — driver-resident and broadcast,
    * like the codebooks themselves.
    */
  def sdcTables(cb: Codebooks): Array[Array[Array[Double]]] =
    Array.tabulate(cb.m) { s =>
      val cs = cb.centers(s)
      Array.tabulate(cs.length, cs.length) { (a, b) =>
        var d = 0.0; var i = 0
        while (i < cb.dsub) { val x = cs(a)(i) - cs(b)(i); d += x * x; i += 1 }
        d
      }
    }

  /** SDC distance column between two `codes` columns (both sides quantized).
    * `spark` broadcasts the m·k² tables once per executor (at the reference's
    * 256-codeword scale the tables are ~MBs — too big for a per-task
    * closure).
    */
  def sdcDistance(
      codesA: Column,
      codesB: Column,
      cb: Codebooks,
      spark: org.apache.spark.sql.SparkSession): Column = {
    val bc = spark.sparkContext.broadcast(sdcTables(cb))
    val f = udf((a: Seq[Int], b: Seq[Int]) => {
      val tables = bc.value
      var s = 0; var total = 0.0
      while (s < tables.length) { total += tables(s)(a(s))(b(s)); s += 1 }
      total
    })
    f(codesA, codesB)
  }

  /** SDC top-k: QUANTIZED queries (query_id, codes) × quantized corpus
    * (id, codes) — the symmetric analogue of [[adcSearch]] for when the
    * query side is itself stored quantized (code-to-code joins at scale pay
    * only m bytes per side plus the broadcast LUT).
    */
  def sdcSearch(
      quantizedQueries: DataFrame,
      quantized: DataFrame,
      cb: Codebooks,
      k: Int): DataFrame = {
    // ONE-scan aggregate form (r16): the per-query "LUT" is just the
    // query-code row of each subspace's SDC table — the scoring sum then
    // reads the very same table cells the per-pair UDF read, in the same
    // order; results bit-identical.
    val tables = sdcTables(cb)
    MultiTopK.collectBatches(quantizedQueries, vec = "codes").map { case (_, q) =>
      val luts = q.vecs.map(qc => Array.tabulate(cb.m)(s => tables(s)(qc(s).toInt)))
      lutSearch(quantized, q.ids, MultiTopK.Lut(luts), k, col("codes"))
    }.reduce(_ unionByName _)
  }

  /** OPQ-style rotated PQ (B13, `Common/OPQQuantizer.h:1-210`): the reference
    * learns an orthogonal rotation by alternating optimization; here the
    * rotation is the PCA basis (computed distributed via MLlib RowMatrix) —
    * decorrelating dimensions before subspace splitting, which is the first
    * iteration of OPQ's alternation and captures most of its benefit.
    */
  case class RotatedCodebooks(rotation: Array[Array[Double]], cb: Codebooks) {
    /** v' = Rᵀv (project onto the PCA basis). */
    def rotate(v: Seq[Double]): Array[Double] = {
      val d = rotation.length
      val out = new Array[Double](rotation(0).length)
      var j = 0
      while (j < out.length) {
        var s = 0.0; var i = 0
        while (i < d) { s += v(i) * rotation(i)(j); i += 1 }
        out(j) = s; j += 1
      }
      out
    }
  }

  def trainOpq(vectors: DataFrame, dim: Int, m: Int, k: Int, maxIter: Int = 5): RotatedCodebooks = {
    import org.apache.spark.mllib.linalg.{Vectors => MLVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = vectors.select(col("vec").cast("array<double>")).rdd
      .map(r => MLVectors.dense(r.getSeq[Double](0).toArray))
    val (pc, variance) =
      new RowMatrix(rows).computePrincipalComponentsAndExplainedVariance(dim)
    // Eigenvalue allocation (the balancing step of OPQ, parametric form):
    // raw PCA piles all variance into the first subspace; greedily deal the
    // principal directions (variance-descending) to the subspace with the
    // smallest variance product so each codebook carries comparable energy.
    val order = (0 until dim).sortBy(j => -variance(j))
    val buckets = Array.fill(m)(List.empty[Int])
    order.zipWithIndex.foreach { case (j, i) =>
      // snake deal (s0..sm-1, sm-1..s0, ...): round r's richest remaining
      // direction goes to the bucket that got the poorest pick last round
      val r = i / m; val pos = i % m
      val s = if (r % 2 == 0) pos else m - 1 - pos
      buckets(s) = buckets(s) :+ j
    }
    val perm = buckets.flatten.toIndexedSeq // column order of the rotation
    val rot = Array.tabulate(dim, dim)((i, j) => pc(i, perm(j)))
    val rotated = rotateDf(vectors, rot)
    RotatedCodebooks(rot, train(rotated, dim, m, k, maxIter))
  }

  private def rotateDf(vectors: DataFrame, rot: Array[Array[Double]]): DataFrame = {
    val bc = vectors.sparkSession.sparkContext.broadcast(rot)
    val rUdf = udf((v: Seq[Double]) => {
      val r = bc.value
      Array.tabulate(r(0).length) { j =>
        var s = 0.0; var i = 0
        while (i < r.length) { s += v(i) * r(i)(j); i += 1 }
        s
      }
    })
    vectors.withColumn("vec", rUdf(col("vec").cast("array<double>")))
  }

  /** Quantize in the rotated space (the `vec` column stays rotated; the
    * codes are what downstream ADC consumes).
    */
  def quantizeOpq(vectors: DataFrame, rcb: RotatedCodebooks): DataFrame =
    quantize(rotateDf(vectors, rcb.rotation), rcb.cb)

  /** ADC in the rotated space: rotate the query, then standard ADC. */
  def adcSearchOpq(queries: DataFrame, quantized: DataFrame, rcb: RotatedCodebooks, k: Int): DataFrame = {
    val bc = queries.sparkSession.sparkContext.broadcast(rcb)
    val rUdf = udf((q: Seq[Double]) => bc.value.rotate(q))
    adcSearch(
      queries.withColumn("qvec", rUdf(col("qvec").cast("array<double>"))),
      quantized, rcb.cb, k)
  }

  /** True alternating OPQ (the non-parametric optimization the reference's
    * OPQ trainer runs, `Common/OPQQuantizer.h:1-210`): block coordinate
    * descent on `||X·R − X̂||²` —
    *  - fix R: retrain codebooks on X·R (Lloyd, distributed);
    *  - fix codes: R ← argmin over orthogonal R = U·Vᵀ from SVD(Xᵀ·X̂)
    *    (orthogonal Procrustes; X̂ = reconstructions in the rotated space).
    * Initialized at the parametric PCA + eigenvalue-allocation solution
    * ([[trainOpq]]); each half-step is exact for its block, so the
    * objective is non-increasing. The d×d cross matrix accumulates via
    * `treeAggregate` (distributed; only the SVD of a d×d runs on the
    * driver).
    */
  def trainOpqAlternating(
      vectors: DataFrame,
      dim: Int,
      m: Int,
      k: Int,
      maxIter: Int = 5,
      alternations: Int = 3): RotatedCodebooks = {
    var rcb = trainOpq(vectors, dim, m, k, maxIter)
    var a = 0
    while (a < alternations) {
      // reconstructions under current (R, codebooks), alongside originals
      val base = vectors.select(col("vec").cast("array<double>").as("vorig"))
        .withColumn("vec", col("vorig"))
      val recon = reconstruct(
        quantize(rotateDf(base, rcb.rotation), rcb.cb), rcb.cb)
        .select(col("vorig"), col("recon"))
      val d = dim
      val crossM = recon.rdd.treeAggregate(new Array[Double](d * d))(
        (acc, r) => {
          val x = r.getSeq[Double](0); val y = r.getSeq[Double](1)
          var i = 0
          while (i < d) {
            val xi = x(i); var j = 0
            while (j < d) { acc(i * d + j) += xi * y(j); j += 1 }
            i += 1
          }
          acc
        },
        (a1, a2) => {
          var i = 0
          while (i < a1.length) { a1(i) += a2(i); i += 1 }
          a1
        })
      val bm = new breeze.linalg.DenseMatrix(d, d, crossM, 0, d, isTranspose = true)
      val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(bm)
      val rMat = u * vt
      val newRot = Array.tabulate(d, d)((i, j) => rMat(i, j))
      rcb = RotatedCodebooks(newRot, train(rotateDf(vectors, newRot), dim, m, k, maxIter))
      a += 1
    }
    rcb
  }

  /** Reconstruction: codes → approximate vector (for refine/debug parity,
    * `IQuantizer.h:20-68` ReconstructVector).
    */
  // ----------------------------------------------------------------------
  // Residual (two-level) quantization — RVQ
  // ----------------------------------------------------------------------

  /** Two-level residual product quantizer: level 1 is a plain PQ codebook;
    * level 2 quantizes what level 1 got WRONG (the residual `v − recon₁`),
    * so reconstruction error drops roughly another codebook's worth at the
    * cost of one more code per subspace — the standard accuracy dial
    * between PQ (fast, coarse) and SQ/exact (big). `residScale`: residuals
    * re-integerize by `round(r·scale)` before the level-2 Lloyd — the same
    * ×1000 trick the level-1 train rides (integer sums are order-exact), so
    * BOTH levels are bit-deterministic regardless of partitioning, and the
    * oracle can replay them. The scale costs sub-ulp accuracy (residuals
    * quantize to 1/scale grid) and buys cross-engine exactness.
    */
  case class Rvq(cb1: Codebooks, cb2: Codebooks, residScale: Double)

  /** Residual full vectors: `round((v − recon₁(v)) · residScale)` — exact
    * integer-valued doubles, ready for a second deterministic [[train]].
    */
  private def residualVectors(
      vectors: DataFrame, cb1: Codebooks, residScale: Double): DataFrame =
    reconstruct(quantize(vectors, cb1), cb1)
      .select(col("id"),
        zip_with(col("vec").cast("array<double>"), col("recon"),
          (a, b) => round((a - b) * residScale, 0)).as("vec"))

  def trainRvq(vectors: DataFrame, dim: Int, m: Int, k: Int,
      maxIter: Int = 3, residScale: Double = 1000.0): Rvq = {
    val cb1 = train(vectors, dim, m, k, maxIter)
    Rvq(cb1,
      train(residualVectors(vectors, cb1, residScale), dim, m, k, maxIter),
      residScale)
  }

  /** `(id, codes1, codes2)` — one level-1 and one level-2 code per subspace.
    *
    * ONE map pass (r16): codes1, the reconstruction, the re-integerized
    * residual and codes2 are all per-row functions of the same vector, so
    * chaining the expressions computes both code columns with no join — the
    * former `quantize(v) ⋈_id quantize(residualVectors(v))` self-join paid
    * two exchanges and a sort-merge of the full corpus for rows that were
    * already aligned (guide §2.4). Per-row math is unchanged expression for
    * expression (same pq_codes → pq_reconstruct → zip_with/round → pq_codes
    * chain `residualVectors` ran), so codes are bit-identical.
    */
  def quantizeRvq(vectors: DataFrame, rvq: Rvq): DataFrame =
    quantize(vectors, rvq.cb1)
      .withColumn("recon",
        PqReconstructExpr(col("codes"), rvq.cb1.centers, rvq.cb1.dsub))
      .withColumn("residv",
        zip_with(col("vec").cast("array<double>"), col("recon"),
          (a, b) => round((a - b) * rvq.residScale, 0)))
      .select(col("id"), col("codes").as("codes1"),
        PqCodesExpr(col("residv"), rvq.cb2.centers, rvq.cb2.dsub).as("codes2"))

  /** Two-level reconstruction: `recon₁ + recon₂ / residScale`. */
  def reconstructRvq(quantized: DataFrame, rvq: Rvq): DataFrame = {
    val bc = quantized.sparkSession.sparkContext.broadcast(rvq)
    val rUdf = udf((codes1: Seq[Int], codes2: Seq[Int]) => {
      val r = bc.value; val c1 = r.cb1; val c2 = r.cb2
      val out = new Array[Double](c1.m * c1.dsub)
      var s = 0
      while (s < c1.m) {
        var i = 0
        while (i < c1.dsub) {
          out(s * c1.dsub + i) =
            c1.centers(s)(codes1(s))(i) + c2.centers(s)(codes2(s))(i) / r.residScale
          i += 1
        }
        s += 1
      }
      out
    })
    quantized.withColumn("recon", rUdf(col("codes1"), col("codes2")))
  }

  /** ADC over the two-level codes: per-query LUT of `l2(q_s, c1 + c2/scale)`
    * for all (sub, code1, code2) combos — m·k² doubles per query (3·256 at
    * the defaults), broadcast with the query batch; scoring is m flat
    * lookups per pair, identical in shape to [[adcSearch]].
    */
  def rvqSearch(queries: DataFrame, quantized: DataFrame, rvq: Rvq,
      k: Int): DataFrame = {
    // ONE-scan aggregate form (r16, [[MultiTopK]]): same LUT doubles as
    // the former per-query UDF (identical tabulate body), same per-pair sum
    // as [[RvqLutDistExpr]] — results bit-identical, no (query, vector)
    // joined rows.
    // actual codebook sizes: the deterministic init seeds from ids < k, so
    // fewer than k centers can exist (id spaces starting at 1 yield k−1) —
    // and per-subspace Lloyd can drop clusters non-uniformly, so BOTH the
    // LUT layout and the scoring stride are sized per subspace off the
    // arrays themselves (a uniform driver-side stride would read the wrong
    // cell, or out of bounds, the moment one subspace diverges)
    val c1 = rvq.cb1; val c2 = rvq.cb2
    val n2 = Array.tabulate(c2.m)(s => c2.centers(s).length)
    MultiTopK.collectBatches(queries).map { case (_, qs) =>
      val luts = qs.vecs.map { q =>
        Array.tabulate(c1.m) { s =>
          val n1 = c1.centers(s).length; val n2 = c2.centers(s).length
          Array.tabulate(n1 * n2) { idx =>
            val a = idx / n2; val b = idx % n2
            var d = 0.0; var i = 0
            while (i < c1.dsub) {
              val rec = c1.centers(s)(a)(i) + c2.centers(s)(b)(i) / rvq.residScale
              val x = q(s * c1.dsub + i) - rec
              d += x * x; i += 1
            }
            d
          }
        }
      }
      lutSearch(quantized, qs.ids, MultiTopK.Lut(luts, n2), k, col("codes1"), col("codes2"))
    }.reduce(_ unionByName _)
  }

  def reconstruct(quantized: DataFrame, cb: Codebooks): DataFrame =
    // codegen reconstruction ([[PqReconstructExpr]]): identical doubles (the
    // same centroid arrays the UDF arraycopy'd), no boxed Seq per row
    quantized.withColumn("recon",
      PqReconstructExpr(col("codes"), cb.centers, cb.dsub))
}
