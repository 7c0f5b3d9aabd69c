package graft.functions

/** Shared tight-loop distance kernels for the batch-search aggregates and
  * expressions ([[MultiTopK]], [[NearestHeadsExpr]]).
  *
  * Numeric contract (oracle exactness): accumulate in double, strictly
  * left-to-right per pair — identical results to [[VectorDistance]] and the
  * DuckDB `list_sum(list_transform(...))` rendering in `Tables.distSql`.
  *
  * Performance contract: metric dispatch happens ONCE per scan (int tag,
  * never a string match inside the per-candidate loop) and the candidate
  * set is flattened into ONE contiguous array (stride = dim) so the scan is
  * sequential memory access instead of per-candidate pointer chasing. For
  * l2sq the running sum is monotone nondecreasing, so a candidate whose
  * partial sum already exceeds the buffer's current worst can be abandoned
  * mid-vector — exact (it could never be inserted) and profitable once
  * vectors are wide; gated on dim >= [[AbandonMinDim]].
  *
  * Multi-query kernels ([[updateAll]], [[updateRouted]]) and the narrow
  * [[scanFlat]] paths interleave four pairs per pass with four independent
  * accumulators: each pair's sum keeps its own left-to-right order, so the
  * result is bit-identical to the one-pair-at-a-time loop.
  */
object DistKernel {
  final val L2 = 0
  final val Dot = 1
  final val Ip = 2
  final val Cos = 3

  /** Early-abandon pays for its per-element compare only on wide vectors.
    * The abandon guard is written `!(s > bound)` rather than `s <= bound` so
    * a NaN partial sum (NaN input component) keeps scanning and reaches the
    * insert just like the non-abandon path — behavior must not differ by
    * vector width on NaN-containing input.
    */
  final val AbandonMinDim = 16

  def tag(metric: String): Int = metric match {
    case "l2sq"      => L2
    case "dot"       => Dot
    case "ip"        => Ip
    case "cos"       => Cos
    case other => throw new IllegalArgumentException(s"unknown metric: $other")
  }

  /** Single-pair distance over the first `m` components (ragged fallback).
    * `qNorm`/`vNorm` are the FULL-length squared norms (cosine only).
    */
  def pair(q: Array[Double], v: Array[Double], m: Int, tag: Int,
      qNorm: Double, vNorm: Double): Double = tag match {
    case L2 =>
      var s = 0.0; var i = 0
      while (i < m) { val x = q(i) - v(i); s += x * x; i += 1 }
      s
    case Dot =>
      var s = 0.0; var i = 0
      while (i < m) { s += q(i) * v(i); i += 1 }
      s
    case Ip =>
      var s = 0.0; var i = 0
      while (i < m) { s += q(i) * v(i); i += 1 }
      -s
    case Cos =>
      var s = 0.0; var i = 0
      while (i < m) { s += q(i) * v(i); i += 1 }
      val denom = math.sqrt(qNorm * vNorm)
      if (denom == 0.0) 1.0 else 1.0 - s / denom
  }

  /** ONE query row against the flattened candidate slice `[hFrom, hTo)` —
    * the routed-block scan ([[RoutedNearestHeadsExpr]]). Per-candidate math
    * is [[VectorDistance]]'s (strict left-to-right, `ip = -dot`, cosine over
    * the caller-supplied `qNorm`); blocks are small (tens of heads per
    * super), so the plain loop + wouldAccept guard is the right shape — no
    * interleave needed.
    */
  def scanFlatSlice(q: Array[Double], flat: Array[Double], ids: Array[Long],
      norms: Array[Double], dim: Int, tag: Int, buf: TopKBuffer,
      hFrom: Int, hTo: Int, qNorm: Double): Unit = tag match {
    case L2 =>
      var h = hFrom; var base = hFrom * dim
      while (h < hTo) {
        var s = 0.0; var i = 0
        while (i < dim) { val x = q(i) - flat(base + i); s += x * x; i += 1 }
        if (buf.wouldAccept(s)) buf.insert(s, ids(h))
        h += 1; base += dim
      }
    case Dot | Ip =>
      val sign = if (tag == Ip) -1.0 else 1.0
      var h = hFrom; var base = hFrom * dim
      while (h < hTo) {
        var s = 0.0; var i = 0
        while (i < dim) { s += q(i) * flat(base + i); i += 1 }
        val d = sign * s
        if (buf.wouldAccept(d)) buf.insert(d, ids(h))
        h += 1; base += dim
      }
    case Cos =>
      var h = hFrom; var base = hFrom * dim
      while (h < hTo) {
        var s = 0.0; var i = 0
        while (i < dim) { s += q(i) * flat(base + i); i += 1 }
        val denom = math.sqrt(qNorm * norms(h))
        val d = if (denom == 0.0) 1.0 else 1.0 - s / denom
        if (buf.wouldAccept(d)) buf.insert(d, ids(h))
        h += 1; base += dim
      }
  }

  /** ONE query row against ALL flattened candidates → bounded top-k into
    * `buf` ([[NearestHeadsExpr]] shape). `q.length >= dim` required.
    */
  def scanFlat(q: Array[Double], flat: Array[Double], ids: Array[Long],
      norms: Array[Double], dim: Int, tag: Int, buf: TopKBuffer): Unit = {
    val n = ids.length
    tag match {
      case L2 if dim >= AbandonMinDim =>
        var h = 0; var base = 0
        while (h < n) {
          val bound =
            if (buf.size == buf.k) buf.dists(0) else Double.PositiveInfinity
          var s = 0.0; var i = 0
          while (i < dim && !(s > bound)) {
            val x = q(i) - flat(base + i); s += x * x; i += 1
          }
          if (!(s > bound)) buf.insert(s, ids(h))
          h += 1; base += dim
        }
      // the narrow-vector paths process FOUR candidates per outer iteration
      // with four independent accumulators: each candidate's sum is still
      // strict left-to-right (bit-identical to the one-at-a-time loop, NaN
      // included), but the four serial FP dependency chains overlap — the
      // one-at-a-time loop is latency-bound at ~dim·4 cycles per candidate
      // (measured 8.9 ns/pair at dim 6; ~2.6 ns interleaved)
      case L2 =>
        val n4 = n & ~3
        var h = 0; var base = 0
        // local copy of the buffer's current worst: candidates strictly above
        // it can never insert (TopKBuffer's worse() requires d <= worst), so
        // the common case is ONE register compare instead of an insert call.
        // `!(s > bound)` not `s <= bound`: a NaN distance must still reach
        // insert, exactly as in the unguarded loop.
        var bound = if (buf.size == buf.k) buf.dists(0) else Double.PositiveInfinity
        @inline def guardedInsert(s: Double, id: Long): Unit =
          if (!(s > bound)) {
            buf.insert(s, id)
            bound = if (buf.size == buf.k) buf.dists(0) else Double.PositiveInfinity
          }
        while (h < n4) {
          val b1 = base + dim; val b2 = b1 + dim; val b3 = b2 + dim
          var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
          var i = 0
          while (i < dim) {
            val qi = q(i)
            val x0 = qi - flat(base + i); s0 += x0 * x0
            val x1 = qi - flat(b1 + i); s1 += x1 * x1
            val x2 = qi - flat(b2 + i); s2 += x2 * x2
            val x3 = qi - flat(b3 + i); s3 += x3 * x3
            i += 1
          }
          guardedInsert(s0, ids(h)); guardedInsert(s1, ids(h + 1))
          guardedInsert(s2, ids(h + 2)); guardedInsert(s3, ids(h + 3))
          h += 4; base = b3 + dim
        }
        while (h < n) {
          var s = 0.0; var i = 0
          while (i < dim) { val x = q(i) - flat(base + i); s += x * x; i += 1 }
          guardedInsert(s, ids(h))
          h += 1; base += dim
        }
      case Dot | Ip =>
        val sign = if (tag == Ip) -1.0 else 1.0
        val n4 = n & ~3
        var h = 0; var base = 0
        var bound = if (buf.size == buf.k) buf.dists(0) else Double.PositiveInfinity
        @inline def guardedInsert(s: Double, id: Long): Unit =
          if (!(s > bound)) {
            buf.insert(s, id)
            bound = if (buf.size == buf.k) buf.dists(0) else Double.PositiveInfinity
          }
        while (h < n4) {
          val b1 = base + dim; val b2 = b1 + dim; val b3 = b2 + dim
          var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
          var i = 0
          while (i < dim) {
            val qi = q(i)
            s0 += qi * flat(base + i)
            s1 += qi * flat(b1 + i)
            s2 += qi * flat(b2 + i)
            s3 += qi * flat(b3 + i)
            i += 1
          }
          guardedInsert(sign * s0, ids(h)); guardedInsert(sign * s1, ids(h + 1))
          guardedInsert(sign * s2, ids(h + 2)); guardedInsert(sign * s3, ids(h + 3))
          h += 4; base = b3 + dim
        }
        while (h < n) {
          var s = 0.0; var i = 0
          while (i < dim) { s += q(i) * flat(base + i); i += 1 }
          guardedInsert(sign * s, ids(h))
          h += 1; base += dim
        }
      case Cos =>
        var qNorm = 0.0
        var j = 0
        while (j < q.length) { qNorm += q(j) * q(j); j += 1 }
        var h = 0; var base = 0
        while (h < n) {
          var s = 0.0; var i = 0
          while (i < dim) { s += q(i) * flat(base + i); i += 1 }
          val denom = math.sqrt(qNorm * norms(h))
          buf.insert(if (denom == 0.0) 1.0 else 1.0 - s / denom, ids(h))
          h += 1; base += dim
        }
    }
  }

  /** ONE query row against NORM-SORTED flattened candidates, exact L2 top-k
    * with triangle-inequality pruning ([[NearestHeadsExpr]]'s L2 path).
    *
    * `sqrtNorms(h)` = ‖candidate h‖ ascending (ties in any order); the scan
    * starts at the query's own norm position and expands outward, so each
    * side's lower bound `(‖q‖ − ‖h‖)²` is nondecreasing — once the buffer is
    * full and a side's bound strictly exceeds the current worst, every
    * remaining candidate on that side is provably non-inserting
    * (`d ≥ (‖q‖−‖h‖)² > worst` is a strict-greater distance, which insert's
    * (dist, id) eviction rule never accepts) and the side stops. EXACT:
    * candidates are only skipped on a strict bound violation,
    * and the per-pair distance math is the same strict left-to-right loop as
    * [[scanFlat]], so the kept (dist, id) set — and therefore the sorted
    * output — is identical; only the (result-irrelevant) insertion order
    * changes. NaN-safe: a NaN query or candidate norm makes every bound
    * comparison false, so nothing is pruned and both sides scan to
    * exhaustion, reproducing the unpruned behavior.
    */
  def scanFlatNormPruned(q: Array[Double], flat: Array[Double],
      ids: Array[Long], sqrtNorms: Array[Double], dim: Int,
      buf: TopKBuffer): Unit = {
    val n = ids.length
    var qq = 0.0
    var i = 0
    while (i < dim) { qq += q(i) * q(i); i += 1 }
    val nv = math.sqrt(qq)
    // first index with sqrtNorms(idx) >= nv (any split is correct — the
    // bounds, not the split, carry the exactness proof)
    var lo = 0; var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sqrtNorms(mid) < nv) lo = mid + 1 else hi = mid
    }
    var left = lo - 1
    var right = lo
    var leftAlive = left >= 0
    var rightAlive = right < n
    var bound = if (buf.size == buf.k) buf.dists(0) else Double.PositiveInfinity
    while (leftAlive || rightAlive) {
      val dl = if (leftAlive) nv - sqrtNorms(left) else Double.NaN
      val dr = if (rightAlive) sqrtNorms(right) - nv else Double.NaN
      val goLeft =
        if (!rightAlive) true
        else if (!leftAlive) false
        else dl <= dr // NaN gap → false → the other side progresses
      if (goLeft) {
        if (dl * dl > bound) leftAlive = false // bound finite ⇒ buffer full
        else {
          var s = 0.0; val base = left * dim; var d = 0
          while (d < dim) { val x = q(d) - flat(base + d); s += x * x; d += 1 }
          if (!(s > bound)) {
            buf.insert(s, ids(left))
            bound = if (buf.size == buf.k) buf.dists(0) else Double.PositiveInfinity
          }
          left -= 1; leftAlive = left >= 0
        }
      } else {
        if (dr * dr > bound) rightAlive = false
        else {
          var s = 0.0; val base = right * dim; var d = 0
          while (d < dim) { val x = q(d) - flat(base + d); s += x * x; d += 1 }
          if (!(s > bound)) {
            buf.insert(s, ids(right))
            bound = if (buf.size == buf.k) buf.dists(0) else Double.PositiveInfinity
          }
          right += 1; rightAlive = right < n
        }
      }
    }
  }

  /** ONE corpus row against the routed queries `idx[from, to)`, except query
    * `skip` (-1: none), each into its own buffer `bufs(bOff + qi)` — the
    * [[MultiTopK]] routed slice (SPANN probe, label router, and the ragged
    * all-queries fallback). Each pair is [[pair]] over the first
    * `min(v.length, q.length)` components, offered through `wouldAccept`.
    *
    * FOUR routed queries per pass over `v`, with four independent
    * accumulators: each sum is still strict left-to-right, so every pair's
    * distance and every buffer's insert sequence (NaN included) are
    * bit-identical to the one-at-a-time loop — the four serial FP chains
    * just overlap, the [[updateAll]]/[[scanFlat]] interleave. A block whose
    * queries disagree on the prefix length, and the tail of the slice, go
    * one at a time; the `skip` lane of a block is scored and dropped.
    */
  def updateRouted(v: Array[Double], vNorm: Double, rowId: Long,
      qvecs: Array[Array[Double]], qNorms: Array[Double], tag: Int,
      bufs: Array[TopKBuffer], bOff: Int, idx: Array[Int], from: Int, to: Int,
      skip: Int): Unit = {
    val n = v.length
    @inline def accept(qi: Int, d: Double): Unit = {
      val buf = bufs(bOff + qi)
      if (buf.wouldAccept(d)) buf.insert(d, rowId)
    }
    // a block lane's raw sum, finished as pair() finishes it
    @inline def offer(qi: Int, s: Double): Unit = if (qi != skip) accept(qi, tag match {
      case L2 | Dot => s
      case Ip => -s
      case _ =>
        val denom = math.sqrt(qNorms(qi) * vNorm)
        if (denom == 0.0) 1.0 else 1.0 - s / denom
    })
    @inline def one(qi: Int): Unit = if (qi != skip) {
      val qv = qvecs(qi)
      accept(qi, pair(qv, v, math.min(n, qv.length), tag, qNorms(qi), vNorm))
    }
    var p = from
    while (p + 4 <= to) {
      val i0 = idx(p); val i1 = idx(p + 1); val i2 = idx(p + 2); val i3 = idx(p + 3)
      val q0 = qvecs(i0); val q1 = qvecs(i1); val q2 = qvecs(i2); val q3 = qvecs(i3)
      val m = math.min(n, q0.length)
      if (q1.length == q0.length && q2.length == q0.length && q3.length == q0.length) {
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
        var i = 0
        if (tag == L2) {
          while (i < m) {
            val vi = v(i)
            val x0 = q0(i) - vi; s0 += x0 * x0
            val x1 = q1(i) - vi; s1 += x1 * x1
            val x2 = q2(i) - vi; s2 += x2 * x2
            val x3 = q3(i) - vi; s3 += x3 * x3
            i += 1
          }
        } else {
          while (i < m) {
            val vi = v(i)
            s0 += q0(i) * vi; s1 += q1(i) * vi; s2 += q2(i) * vi; s3 += q3(i) * vi
            i += 1
          }
        }
        offer(i0, s0); offer(i1, s1); offer(i2, s2); offer(i3, s3)
      } else {
        one(i0); one(i1); one(i2); one(i3)
      }
      p += 4
    }
    while (p < to) { one(idx(p)); p += 1 }
  }

  /** ONE corpus row against ALL flattened queries, each with its own bounded
    * buffer ([[MultiTopK]] shape). `v.length >= dim` required; `vNorm` is
    * v's full-length squared norm (cosine only).
    */
  def updateAll(v: Array[Double], flatQ: Array[Double], qNorms: Array[Double],
      dim: Int, tag: Int, bufs: Array[TopKBuffer], rowId: Long,
      vNorm: Double, sqrtQNorms: Array[Double] = null): Unit = {
    val nq = bufs.length
    tag match {
      case L2 if dim >= AbandonMinDim =>
        // per-(row, query) triangle-inequality reject (r16, VERDICT item 7):
        // d ≥ (‖q‖−‖v‖)², so a gap² STRICTLY above the buffer's worst can
        // never insert (insert needs d <= worst) — skip the dim-loop
        // entirely. Only engaged when the caller precomputed ‖q‖ (sqrtQNorms
        // non-null); NaN norms make the comparison false and fall through to
        // the unpruned scan, exactly like the mid-loop abandon guard.
        val sv = if (sqrtQNorms != null) {
          var n2 = 0.0; var j = 0
          while (j < dim) { n2 += v(j) * v(j); j += 1 }
          math.sqrt(n2)
        } else 0.0
        var qi = 0; var base = 0
        while (qi < nq) {
          val buf = bufs(qi)
          val bound =
            if (buf.size == buf.k) buf.dists(0) else Double.PositiveInfinity
          val g = if (sqrtQNorms != null) sqrtQNorms(qi) - sv else 0.0
          if (!(g * g > bound)) {
            var s = 0.0; var i = 0
            while (i < dim && !(s > bound)) {
              val x = flatQ(base + i) - v(i); s += x * x; i += 1
            }
            if (!(s > bound)) buf.insert(s, rowId)
          }
          qi += 1; base += dim
        }
      // 4-way query interleave, same rationale (and same bit-exactness
      // argument) as the scanFlat narrow-vector paths above
      case L2 =>
        val n4 = nq & ~3
        var qi = 0; var base = 0
        while (qi < n4) {
          val b1 = base + dim; val b2 = b1 + dim; val b3 = b2 + dim
          var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
          var i = 0
          while (i < dim) {
            val vi = v(i)
            val x0 = flatQ(base + i) - vi; s0 += x0 * x0
            val x1 = flatQ(b1 + i) - vi; s1 += x1 * x1
            val x2 = flatQ(b2 + i) - vi; s2 += x2 * x2
            val x3 = flatQ(b3 + i) - vi; s3 += x3 * x3
            i += 1
          }
          val u0 = bufs(qi); if (u0.wouldAccept(s0)) u0.insert(s0, rowId)
          val u1 = bufs(qi + 1); if (u1.wouldAccept(s1)) u1.insert(s1, rowId)
          val u2 = bufs(qi + 2); if (u2.wouldAccept(s2)) u2.insert(s2, rowId)
          val u3 = bufs(qi + 3); if (u3.wouldAccept(s3)) u3.insert(s3, rowId)
          qi += 4; base = b3 + dim
        }
        while (qi < nq) {
          var s = 0.0; var i = 0
          while (i < dim) { val x = flatQ(base + i) - v(i); s += x * x; i += 1 }
          val u = bufs(qi); if (u.wouldAccept(s)) u.insert(s, rowId)
          qi += 1; base += dim
        }
      case Dot | Ip =>
        val sign = if (tag == Ip) -1.0 else 1.0
        val n4 = nq & ~3
        var qi = 0; var base = 0
        while (qi < n4) {
          val b1 = base + dim; val b2 = b1 + dim; val b3 = b2 + dim
          var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
          var i = 0
          while (i < dim) {
            val vi = v(i)
            s0 += flatQ(base + i) * vi
            s1 += flatQ(b1 + i) * vi
            s2 += flatQ(b2 + i) * vi
            s3 += flatQ(b3 + i) * vi
            i += 1
          }
          val d0 = sign * s0; val u0 = bufs(qi)
          if (u0.wouldAccept(d0)) u0.insert(d0, rowId)
          val d1 = sign * s1; val u1 = bufs(qi + 1)
          if (u1.wouldAccept(d1)) u1.insert(d1, rowId)
          val d2 = sign * s2; val u2 = bufs(qi + 2)
          if (u2.wouldAccept(d2)) u2.insert(d2, rowId)
          val d3 = sign * s3; val u3 = bufs(qi + 3)
          if (u3.wouldAccept(d3)) u3.insert(d3, rowId)
          qi += 4; base = b3 + dim
        }
        while (qi < nq) {
          var s = 0.0; var i = 0
          while (i < dim) { s += flatQ(base + i) * v(i); i += 1 }
          val d = sign * s; val u = bufs(qi)
          if (u.wouldAccept(d)) u.insert(d, rowId)
          qi += 1; base += dim
        }
      case Cos =>
        var qi = 0; var base = 0
        while (qi < nq) {
          var s = 0.0; var i = 0
          while (i < dim) { s += flatQ(base + i) * v(i); i += 1 }
          val denom = math.sqrt(qNorms(qi) * vNorm)
          bufs(qi).insert(if (denom == 0.0) 1.0 else 1.0 - s / denom, rowId)
          qi += 1; base += dim
        }
    }
  }
}
