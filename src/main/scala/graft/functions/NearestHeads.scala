package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** `nearest_heads(vec)` → the `r` nearest head vectors as
  * `array<struct<id bigint, dist double>>`, ascending (dist, id).
  *
  * The head table rides INSIDE the expression (it is ratio-bounded ≤ ~20% of
  * the corpus by SelectHead's contract, `SPANNIndex.cpp:707-815`, and tiny in
  * absolute terms — this is the same "heads live in memory" assumption the
  * reference's BuildHead makes). Compared to `crossJoin(broadcast(heads))`,
  * this skips materializing one joined row per (vector, head) pair — for a
  * posting build that is |N|·|H| row copies avoided; only the O(|N|·r)
  * result rows ever exist.
  *
  * Distance math is identical to [[VectorDistance]] (double accumulation,
  * left-to-right), so outputs stay oracle-exact.
  */
case class NearestHeadsExpr(
    child: Expression,
    headIds: Array[Long],
    headVecs: Array[Array[Double]],
    r: Int,
    metric: String)
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = TopKByDistance.resultType
  override def prettyName: String = "nearest_heads"

  private lazy val childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  // hoisted out of the per-(row × head) hot loop: metric dispatch as an int
  // tag, head vectors flattened to ONE contiguous array (stride = dim) for
  // sequential access instead of per-head pointer chasing
  private lazy val metricTag: Int = DistKernel.tag(metric)
  @transient private lazy val dim: Int =
    if (headVecs.isEmpty) 0 else headVecs(0).length
  @transient private lazy val uniformDim: Boolean = headVecs.forall(_.length == dim)
  @transient private lazy val flatHeads: Array[Double] = {
    val out = new Array[Double](headVecs.length * dim)
    var h = 0
    while (h < headVecs.length) {
      System.arraycopy(headVecs(h), 0, out, h * dim, dim)
      h += 1
    }
    out
  }

  // cosine needs per-head norms; precompute once per executor
  @transient private lazy val headNorms: Array[Double] =
    headVecs.map { hv =>
      var s = 0.0; var i = 0
      while (i < hv.length) { s += hv(i) * hv(i); i += 1 }
      s
    }

  // L2 norm-pruned scan layout: heads re-ordered ascending by ‖h‖ so the
  // triangle-inequality two-pointer scan ([[DistKernel.scanFlatNormPruned]])
  // can stop once the norm gap alone rules the rest out. Result-identical to
  // the full scan (pruning is strict-bound only); built once per executor.
  @transient private lazy val normOrder: Array[Int] =
    headNorms.zipWithIndex.sortBy(_._1)(Ordering.Double.TotalOrdering).map(_._2)
  @transient private lazy val sqrtNormsSorted: Array[Double] =
    normOrder.map(h => math.sqrt(headNorms(h)))
  @transient private lazy val idsSorted: Array[Long] = normOrder.map(headIds)
  @transient private lazy val flatHeadsSorted: Array[Double] = {
    val out = new Array[Double](headVecs.length * dim)
    var i = 0
    while (i < normOrder.length) {
      System.arraycopy(headVecs(normOrder(i)), 0, out, i * dim, dim)
      i += 1
    }
    out
  }

  override def nullSafeEval(v: Any): Any = evalArray(v.asInstanceOf[ArrayData])

  // per-instance scratch, reused across the task's rows (tasks deserialize
  // their own expression copy from the task binary, so one thread owns each
  // instance; the output below copies out of both before return). Avoids a
  // query-array + top-k-buffer allocation per corpus row in the hot loop.
  @transient private lazy val scratchBuf = new TopKBuffer(r)
  @transient private var scratchQ: Array[Double] = null

  /** Row kernel, also the whole-stage-codegen entry point ([[doGenCode]]
    * emits a direct call on the expression reference — keeps the surrounding
    * projection/Generate in codegen instead of CodegenFallback's
    * materialize-the-input-row detour).
    */
  def evalArray(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (scratchQ == null || scratchQ.length < n) scratchQ = new Array[Double](n)
    val q = scratchQ
    var i = 0
    while (i < n) {
      q(i) = if (childIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val buf = scratchBuf
    buf.reset()
    scan(q, n, buf)
    new GenericArrayData(buf.sorted.map { case (id, d) => InternalRow(id, d) })
  }

  /** The row kernel for a driver-side batch, safe to call from many threads
    * at once (evalArray's scratch belongs to one task): the same scans, into
    * a buffer of this call's own. Returns the `r` nearest heads of `q` as
    * (head id, dist), ascending (dist, id) — evalArray's output.
    */
  private[graft] def nearest(q: Array[Double]): Array[(Long, Double)] = {
    val buf = new TopKBuffer(r)
    scan(q, q.length, buf)
    buf.sorted
  }

  /** The first `n` components of `q` against every head, into `buf`. */
  private def scan(q: Array[Double], n: Int, buf: TopKBuffer): Unit =
    if (uniformDim && n >= dim) {
      if (metricTag == DistKernel.L2)
        DistKernel.scanFlatNormPruned(
          q, flatHeadsSorted, idsSorted, sqrtNormsSorted, dim, buf)
      else
        DistKernel.scanFlat(q, flatHeads, headIds, headNorms, dim, metricTag, buf)
    } else {
      scanRagged(q, n, buf)
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("nearestHeads", this,
        classOf[NearestHeadsExpr].getName)
      s"${ev.value} = $ref.evalArray($a);"
    })

  /** Fallback for mixed-dimension head sets (kept for exact back-compat). */
  private def scanRagged(q: Array[Double], n: Int, buf: TopKBuffer): Unit = {
    var qNorm = 0.0
    if (metricTag == DistKernel.Cos) {
      var j = 0
      while (j < n) { qNorm += q(j) * q(j); j += 1 }
    }
    var h = 0
    while (h < headVecs.length) {
      val hv = headVecs(h)
      val m = math.min(n, hv.length)
      buf.insert(
        DistKernel.pair(q, hv, m, metricTag, qNorm, headNorms(h)), headIds(h))
      h += 1
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `routed_nearest_heads(vec)` — the two-level posting assignment as ONE
  * map-pass expression: pick the `superK` nearest super-heads, then scan only
  * the heads ROUTED to those supers for the `r` nearest (distinct-id, a head
  * reachable via two supers counts once). Output and tie rules are exactly
  * [[graft.operators.Spann.buildPostingsHier]]'s (`topkDistinct` over the
  * routed candidate join) — SpannSpec pins the equality — but where the join
  * form materializes one row per (vector, routed head) pair (the 10× scale
  * probe measured ~1 GB shuffle and join-row copies dominating the wall),
  * this evaluates in place: the only rows that ever exist are the O(n·r)
  * results. Supers + routing ride inside the expression under the same
  * driver-collect budget discipline as [[NearestHeadsExpr]]; over-budget
  * routing tables fall back to the join form automatically.
  *
  * Reference: the two-level head routing is the `SPANNIndex.cpp:707-815`
  * SelectHead hierarchy applied at assignment time (`VectorIndex.cpp:884-986`
  * assigns against the head index rather than a flat scan).
  */
case class RoutedNearestHeadsExpr(
    child: Expression,
    superIds: Array[Long],
    superVecs: Array[Array[Double]],
    blockOffsets: Array[Int], // length nSupers+1, into headIds/headVecs
    headIds: Array[Long], // flattened per-super blocks (repeats allowed)
    headVecs: Array[Array[Double]],
    r: Int,
    superK: Int,
    metric: String)
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = TopKByDistance.resultType
  override def prettyName: String = "routed_nearest_heads"

  private lazy val childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  private lazy val metricTag: Int = DistKernel.tag(metric)
  @transient private lazy val dim: Int =
    if (superVecs.isEmpty) 0 else superVecs(0).length
  @transient private lazy val flatSupers: Array[Double] = {
    val out = new Array[Double](superVecs.length * dim)
    var i = 0
    while (i < superVecs.length) {
      System.arraycopy(superVecs(i), 0, out, i * dim, dim); i += 1
    }
    out
  }
  @transient private lazy val flatHeads: Array[Double] = {
    val out = new Array[Double](headVecs.length * dim)
    var i = 0
    while (i < headVecs.length) {
      System.arraycopy(headVecs(i), 0, out, i * dim, dim); i += 1
    }
    out
  }
  @transient private lazy val superNorms: Array[Double] =
    superVecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      s
    }
  @transient private lazy val headNorms: Array[Double] =
    headVecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      s
    }
  // chosen supers come back from the top-k buffer as ids (the (dist, id) tie
  // rule needs the REAL super_id); map back to block index for the slice scan
  @transient private lazy val idToBlock: java.util.HashMap[Long, Integer] = {
    val m = new java.util.HashMap[Long, Integer](superIds.length * 2)
    var i = 0
    while (i < superIds.length) { m.put(superIds(i), i); i += 1 }
    m
  }

  override def nullSafeEval(v: Any): Any = evalArray(v.asInstanceOf[ArrayData])

  @transient private lazy val superBuf = new TopKBuffer(superK)
  @transient private lazy val resultBuf = new TopKBuffer(r, distinct = true)
  @transient private var scratchQ: Array[Double] = null

  def evalArray(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (scratchQ == null || scratchQ.length < n) scratchQ = new Array[Double](n)
    val q = scratchQ
    var i = 0
    while (i < n) {
      q(i) = if (childIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    // stage 0: superK nearest supers — same kernel (and so the same tie and
    // qNorm conventions) the hier join form's NearestHeadsExpr stage uses
    superBuf.reset()
    DistKernel.scanFlat(q, flatSupers, superIds, superNorms, dim, metricTag,
      superBuf)
    // stage 1: distinct top-r over the chosen supers' routed blocks; cosine
    // qNorm over min(n, dim) components — VectorDistance's n = min rule,
    // matching the join form's per-pair dist expression
    resultBuf.reset()
    var qNorm = 0.0
    if (metricTag == DistKernel.Cos) {
      val m = math.min(n, dim); var j = 0
      while (j < m) { qNorm += q(j) * q(j); j += 1 }
    }
    val chosen = superBuf.sorted
    var c = 0
    while (c < chosen.length) {
      val b = idToBlock.get(chosen(c)._1)
      if (b != null) {
        DistKernel.scanFlatSlice(q, flatHeads, headIds, headNorms, dim,
          metricTag, resultBuf, blockOffsets(b), blockOffsets(b + 1), qNorm)
      }
      c += 1
    }
    new GenericArrayData(resultBuf.sorted.map { case (id, d) => InternalRow(id, d) })
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("routedNearestHeads", this,
        classOf[RoutedNearestHeadsExpr].getName)
      s"${ev.value} = $ref.evalArray($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RoutedNearestHeadsExpr {
  /** Collect supers + routing under the [[NearestHeadsExpr.SafeCollectBytes]]
    * discipline and build the routed-assignment column. Returns None (caller
    * falls back to the join form) when the routing table is over the row
    * budget, when any vector dimension is ragged, or when the estimate-heavy
    * frames refuse to collect — never a silent driver blow-up.
    */
  def fromFramesBounded(superHeads: DataFrame, routing: DataFrame, vec: Column,
      r: Int, superK: Int, metric: String, maxRows: Int): Option[Column] = {
    def boundedCollect(df: DataFrame): Option[Array[org.apache.spark.sql.Row]] =
      NearestHeadsExpr.collectBounded(df, maxRows)._2
    def vecOf(a: Any): Array[Double] = a match {
      case s: scala.collection.Seq[_] => s.map {
        case f: java.lang.Float  => f.toDouble
        case d: java.lang.Double => d.doubleValue
      }.toArray
    }
    for {
      sRows <- boundedCollect(superHeads.select("super_id", "super_vec"))
      rRows <- boundedCollect(routing.select("super_id", "head_id", "head_vec"))
      supers = sRows.map(r0 => (r0.getLong(0), vecOf(r0.get(1))))
      dims = (supers.map(_._2.length) ++
        rRows.map(r0 => vecOf(r0.get(2)).length)).distinct
      if dims.length <= 1 // ragged head/super dims → join form handles them
    } yield {
      val bySuper = rRows.groupBy(_.getLong(0))
      val superIds = supers.map(_._1)
      val offsets = new Array[Int](superIds.length + 1)
      val hIds = Array.newBuilder[Long]
      val hVecs = Array.newBuilder[Array[Double]]
      var i = 0
      while (i < superIds.length) {
        // deterministic block order (head_id asc) — irrelevant to the
        // (dist, id) result, kept for reproducible plans
        val block = bySuper
          .getOrElse(superIds(i), Array.empty[org.apache.spark.sql.Row])
          .sortBy(_.getLong(1))
        block.foreach { b => hIds += b.getLong(1); hVecs += vecOf(b.get(2)) }
        offsets(i + 1) = offsets(i) + block.length
        i += 1
      }
      ColumnShim.column(RoutedNearestHeadsExpr(ColumnShim.expression(vec),
        superIds, supers.map(_._2), offsets, hIds.result(), hVecs.result(),
        r, superK, metric))
    }
  }
}

object NearestHeadsExpr {
  /** Collect a (ratio-bounded) heads frame and build the column. */
  def fromHeads(heads: DataFrame, vec: Column, r: Int, metric: String): Column =
    fromRows(heads.select("head_id", "head_vec").collect(), vec, r, metric)

  /** Plans whose optimizer size estimate stays under this are collected
    * directly and row-checked post-hoc (one job, no extra scan); larger
    * estimates pay one parallel `count()` before deciding. 256 MB is far
    * under driver heap but far over any contract-bounded heads frame.
    */
  val SafeCollectBytes: Long = 256L << 20

  /** [[fromHeads]] with a driver-collect budget: over-budget head frames
    * return None and the caller routes to its join/hier form instead of
    * this in-expression scan — the automatic broadcast-vs-routed switch
    * (round-11 verdict: a size guard, not a caller decision). The budget is
    * [[collectBounded]]'s. RDD-born and checkpointed head frames (any filter
    * over a `localCheckpoint`ed corpus, e.g. the modulo head selection) have
    * no size estimate, so every call pays a count AND a collect, each a full
    * scan of the frame's source — which is why [[graft.AnnIndex]] collects
    * its heads once, where an index comes into being, and keeps them as a
    * driver-local relation (a size estimate, and a collect that runs no job).
    */
  def fromHeadsBounded(heads: DataFrame, vec: Column, r: Int, metric: String,
      maxRows: Int): Option[Column] =
    collectBounded(heads.select("head_id", "head_vec"), maxRows)._2
      .map(fromRows(_, vec, r, metric))

  /** `df`'s rows on the driver when there are at most `maxRows` of them
    * (None otherwise), with the row count either way. The driver never
    * materializes more than a [[SafeCollectBytes]]-estimated frame before
    * the decision: small-estimate frames are collected (a driver-safe amount
    * by construction, even when the ROW budget then fails post-hoc),
    * estimate-heavy frames never collect without a row count. Guard shape
    * matters: a `limit(n+1).collect()` probe executes CollectLimit's
    * sequential scale-up waves (tripled the posting-build heads scan), and
    * an unconditional `count()` adds a full extra scan per call (+20% on the
    * two-stage search benchmark) — so frames the optimizer's size estimate
    * already proves driver-safe are collected in ONE job and row-checked
    * post-hoc; only estimate-heavy frames pay the count (RDD-born and
    * checkpointed frames always do: they carry no size estimate).
    */
  def collectBounded(df: DataFrame, maxRows: Int)
      : (Long, Option[Array[org.apache.spark.sql.Row]]) = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= SafeCollectBytes) {
      val rows = df.collect()
      (rows.length.toLong, if (rows.length > maxRows) None else Some(rows))
    } else {
      val n = df.count()
      (n, if (n > maxRows) None else Some(df.collect()))
    }
  }

  private def fromRows(rows: Array[org.apache.spark.sql.Row], vec: Column,
      r: Int, metric: String): Column = {
    val (ids, vecs) = widen(rows)
    ColumnShim.column(
      NearestHeadsExpr(ColumnShim.expression(vec), ids, vecs, r, metric))
  }

  /** Collected `(head_id, head_vec)` rows as ids and vectors, float heads
    * widened to double (exact) so one internal representation serves both
    * float- and double-typed head tables.
    */
  private[graft] def widen(rows: Array[org.apache.spark.sql.Row])
      : (Array[Long], Array[Array[Double]]) =
    (rows.map(_.getLong(0)), rows.map(_.getSeq[Any](1).map {
      case f: java.lang.Float => f.toDouble
      case d: java.lang.Double => d.doubleValue
    }.toArray))

  /** The kernel over widened heads for [[NearestHeadsExpr.nearest]]: a
    * `qvec`-keyed expression, the one `fromHeads` builds for a stage-1 scan.
    */
  private[graft] def kernel(ids: Array[Long], vecs: Array[Array[Double]], r: Int,
      metric: String): NearestHeadsExpr =
    NearestHeadsExpr(ColumnShim.expression(org.apache.spark.sql.functions.col("qvec")),
      ids, vecs, r, metric)
}
