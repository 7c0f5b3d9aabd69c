package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DistKernel, TopKBuffer}

/** [[graft.functions.DistKernel]] flat-scan kernels vs a naive model — in
  * particular the L2 early-abandon branch (only taken at dim >=
  * [[DistKernel.AbandonMinDim]], wider than any fixture vector, so the query
  * suite never exercises it).
  */
class DistKernelSpec extends AnyFunSuite {

  private def rng(seed: Long) = new scala.util.Random(seed)

  private def mkVecs(n: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val r = rng(seed)
    Array.fill(n)(Array.fill(dim)(math.floor(r.nextDouble() * 100) / 10))
  }

  private def flatten(vs: Array[Array[Double]]): Array[Double] =
    vs.flatten

  private def sqNorm(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s
  }

  /** Naive model: full-precision distance per pair, sort by (dist, id), take k. */
  private def naiveTopK(q: Array[Double], vs: Array[Array[Double]],
      ids: Array[Long], metric: String, k: Int): Seq[(Long, Double)] = {
    val tag = DistKernel.tag(metric)
    val qn = sqNorm(q)
    vs.indices.map { i =>
      (ids(i), DistKernel.pair(q, vs(i), q.length, tag, qn, sqNorm(vs(i))))
    }.sortBy { case (id, d) => (d, id) }.take(k)
  }

  private val metrics = Seq("l2sq", "dot", "ip", "cos")

  for (dim <- Seq(4, DistKernel.AbandonMinDim, 40); metric <- metrics) {
    test(s"scanFlat dim=$dim $metric matches naive model") {
      val vs = mkVecs(50, dim, seed = dim * 31 + metric.hashCode)
      val ids = Array.tabulate(50)(i => (i * 7 % 50).toLong) // shuffled ids
      val q = mkVecs(1, dim, seed = 99)(0)
      val buf = new TopKBuffer(8)
      DistKernel.scanFlat(q, flatten(vs), ids, vs.map(sqNorm),
        dim, DistKernel.tag(metric), buf)
      assert(buf.sorted.toSeq === naiveTopK(q, vs, ids, metric, 8))
    }

    test(s"updateAll dim=$dim $metric matches naive model") {
      val vs = mkVecs(60, dim, seed = dim * 17 + metric.hashCode)
      val qs = mkVecs(5, dim, seed = 7)
      val flatQ = flatten(qs)
      val qNorms = qs.map(sqNorm)
      val bufs = Array.fill(5)(new TopKBuffer(6))
      vs.zipWithIndex.foreach { case (v, i) =>
        DistKernel.updateAll(v, flatQ, qNorms, dim, DistKernel.tag(metric),
          bufs, i.toLong, sqNorm(v))
      }
      qs.zipWithIndex.foreach { case (q, qi) =>
        val ids = Array.tabulate(60)(_.toLong)
        assert(bufs(qi).sorted.toSeq === naiveTopK(q, vs, ids, metric, 6),
          s"query $qi")
      }
    }
  }

  for (dim <- Seq(DistKernel.AbandonMinDim, 40, 64)) {
    test(s"updateAll dim=$dim L2 norm-reject ≡ unpruned (triangle-prune law)") {
      // r16: the wide-dim L2 path may skip a (row, query) pair when
      // (‖q‖−‖v‖)² strictly exceeds the buffer's worst — results must be
      // identical to the unpruned scan, ties and duplicate norms included
      val vs = mkVecs(80, dim, seed = dim * 13) ++
        Array(Array.fill(dim)(0.0), Array.fill(dim)(5.0), Array.fill(dim)(5.0))
      val qs = mkVecs(6, dim, seed = 11) ++ Array(Array.fill(dim)(5.0))
      val flatQ = flatten(qs)
      val qNorms = qs.map(sqNorm)
      val sqrtQ = qNorms.map(math.sqrt)
      val pruned = Array.fill(qs.length)(new TopKBuffer(7))
      val plain = Array.fill(qs.length)(new TopKBuffer(7))
      vs.zipWithIndex.foreach { case (v, i) =>
        DistKernel.updateAll(v, flatQ, qNorms, dim, DistKernel.L2,
          pruned, i.toLong, sqNorm(v), sqrtQ)
        DistKernel.updateAll(v, flatQ, qNorms, dim, DistKernel.L2,
          plain, i.toLong, sqNorm(v))
      }
      qs.indices.foreach { qi =>
        assert(pruned(qi).sorted.toSeq === plain(qi).sorted.toSeq, s"query $qi")
      }
    }
  }

  test("updateRouted ≡ the one-pair-at-a-time routed loop, bit-exact " +
    "(every slice length mod 4, skip lanes, NaN, ragged dims)") {
    // the model: the routed slice loop as it ran before the interleave —
    // one pair() per (row, routed query), offered through wouldAccept
    def model(v: Array[Double], vNorm: Double, rowId: Long,
        qs: Array[Array[Double]], qNorms: Array[Double], tag: Int,
        bufs: Array[TopKBuffer], idx: Array[Int], from: Int, to: Int, skip: Int): Unit =
      (from until to).map(idx).filter(_ != skip).foreach { qi =>
        val d = DistKernel.pair(qs(qi), v, math.min(v.length, qs(qi).length), tag,
          qNorms(qi), vNorm)
        if (bufs(qi).wouldAccept(d)) bufs(qi).insert(d, rowId)
      }
    def bits(b: TopKBuffer) =
      b.sorted.toSeq.map { case (id, d) => (id, java.lang.Double.doubleToRawLongBits(d)) }
    val dim = 24
    val uniform = mkVecs(9, dim, seed = 5)
    // queries 2 and 6 shorter: blocks holding them fall back to one at a time
    val ragged = uniform.zipWithIndex.map { case (q, i) =>
      if (i == 2 || i == 6) q.take(dim - 5) else q }
    // a NaN row first (it enters every buffer and is never evicted), a zero
    // row (cosine's zero denominator) and a short row (prefix distances)
    val vs = Array(mkVecs(1, dim, seed = 9)(0).updated(4, Double.NaN)) ++
      mkVecs(70, dim, seed = 8) ++
      Array(Array.fill(dim)(0.0), mkVecs(1, dim - 3, seed = 10)(0))
    val idx = Array(7, 1, 4, 0, 8, 2, 5, 3, 6)
    for (qs <- Seq(uniform, ragged); metric <- metrics; len <- 0 to 9;
         skip <- Seq(-1, idx(0), idx(math.max(len - 1, 0)))) {
      val tag = DistKernel.tag(metric)
      val qNorms = qs.map(sqNorm)
      val got = Array.fill(qs.length)(new TopKBuffer(5, distinct = true))
      val want = Array.fill(qs.length)(new TopKBuffer(5, distinct = true))
      vs.zipWithIndex.foreach { case (v, i) =>
        DistKernel.updateRouted(v, sqNorm(v), i.toLong, qs, qNorms, tag, got, 0,
          idx, 0, len, skip)
        model(v, sqNorm(v), i.toLong, qs, qNorms, tag, want, idx, 0, len, skip)
      }
      qs.indices.foreach { qi =>
        assert(bits(got(qi)) === bits(want(qi)),
          s"$metric len $len skip $skip query $qi ragged ${qs eq ragged}")
      }
    }
  }

  test("l2sq early-abandon keeps distance ties deterministic on id") {
    // many identical vectors -> every candidate hits dist == bound exactly;
    // abandon must NOT fire on equality or the smallest ids could be lost
    val dim = DistKernel.AbandonMinDim
    val v = Array.fill(dim)(2.5)
    val vs = Array.fill(30)(v.clone())
    val ids = Array.tabulate(30)(i => (29 - i).toLong) // descending arrival
    val q = Array.fill(dim)(1.0)
    val buf = new TopKBuffer(5)
    DistKernel.scanFlat(q, flatten(vs), ids, vs.map(sqNorm),
      dim, DistKernel.L2, buf)
    assert(buf.sorted.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("ragged fallback (pair) prefix semantics match the old inline loops") {
    // pair() over the first m components: l2sq of the 2-dim prefix only
    val q = Array(1.0, 2.0, 3.0)
    val v = Array(4.0, 6.0)
    assert(DistKernel.pair(q, v, 2, DistKernel.L2, 0, 0) === 25.0)
    assert(DistKernel.pair(q, v, 2, DistKernel.Dot, 0, 0) === 16.0)
    assert(DistKernel.pair(q, v, 2, DistKernel.Ip, 0, 0) === -16.0)
  }
}
