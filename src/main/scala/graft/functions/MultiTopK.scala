package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{col, count, explode, lit, pmod, size, sum, xxhash64}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods

import MultiTopK._

/** The multi-query bounded top-k aggregate: a whole query batch rides inside
  * ONE aggregate over one corpus scan. Each corpus row scores against the
  * queries its [[MultiTopK.Router]] selects and feeds their bounded
  * [[TopKBuffer]]s; partials merge map-side, so the exchange carries
  * O(|Q|·k·tasks) buffer rows and no (query, vector) joined row ever exists —
  * the reference's per-query result set (`SearchQuery.h`), filled by every
  * search thread and merged at the end. Queries reach the driver through one
  * bounded collect ([[MultiTopK.collectBatches]]): a batch over its row or
  * byte budget is searched in `query_id`-hash chunks.
  *
  * Two axes, each dispatched once per input row:
  *  - [[MultiTopK.Scorer]]: [[MultiTopK.Exact]] vectors through
  *    [[DistKernel]], or [[MultiTopK.Lut]] codes summed over per-query lookup
  *    tables (ADC/SDC, or RVQ dual codes);
  *  - [[MultiTopK.Router]]: [[MultiTopK.AllQueries]]; [[MultiTopK.Probe]]
  *    (SPANN stage-2: the posting's head selects the queries whose stage-1
  *    candidates name it); or [[MultiTopK.Labeled]] (same label without
  *    self → `pos`, other label → `neg`).
  *
  * Exact rows fed to every query go through [[DistKernel.updateAll]]; a
  * routed slice (and the ragged fallback) goes through
  * [[DistKernel.updateRouted]], which scores four of the slice's queries per
  * pass over the row.
  *
  * Exactness: per-pair scores are the same strict left-to-right double sums
  * as [[VectorDistance]] / [[LutCodesDistExpr]] / [[RvqLutDistExpr]], and a
  * buffer keeps the (dist, id)-ordered set whatever the insertion order, so
  * results are bit-identical to the join forms (KnnSpec, SpannSpec, PQSpec
  * and SimilaritySpec pin them).
  *
  * `children` = id, the scorer's inputs (vec | codes | codes1, codes2), then
  * the router's key (head_id | label) when it has one.
  */
case class MultiTopK(
    children: Seq[Expression],
    qids: Array[Long],
    scorer: Scorer,
    router: Router,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[TopKBuffer]] {

  require(children.size == 1 + scorer.arity + router.arity,
    s"$prettyName arity must match its scorer and router")

  override def nullable: Boolean = false
  override def dataType: DataType =
    if (router.isInstanceOf[Labeled]) LabeledResultType else ResultType
  override def prettyName: String = {
    val lut = if (scorer.isInstanceOf[Lut]) "lut_" else ""
    router match {
      case _: AllQueries => s"${lut}batch_topk"
      case _: Labeled    => s"labeled_${lut}batch_topk"
      case _: Probe      => s"spann_probe_${lut}topk"
    }
  }

  private lazy val vecIsFloat: Boolean = children(1).dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  @transient private lazy val allIdx: Array[Int] = Array.range(0, qids.length)
  // per-task scratch (tasks deserialize their own aggregate copy)
  @transient private lazy val probeRun = new ProbeRun(qids.length)

  override def createAggregationBuffer(): Array[TopKBuffer] =
    router.newBuffers(qids.length)

  override def update(bufs: Array[TopKBuffer], input: InternalRow): Array[TopKBuffer] = {
    val nq = qids.length
    val idV = children.head.eval(input)
    if (idV == null) return bufs
    val rowId = idV.asInstanceOf[Long]
    // router: the row feeds queries idx[from, to) (their pos buffers under
    // Labeled, which also feeds idx[negFrom, negTo) into the neg buffers
    // [nq, 2nq)); `skip` = the query whose pos buffer the row may not feed
    var all = false
    var idx = allIdx
    var from = 0; var to = nq; var negFrom = 0; var negTo = 0; var skip = -1
    router match {
      case _: AllQueries => all = true
      case r: Probe =>
        val s = r.slot(children.last.eval(input))
        if (s < 0) return bufs
        // only the head's queries this row's run has not offered yet; none
        // left → skip the row before its vector is widened
        val run = probeRun
        run.advance(bufs, rowId, if (scorer.arity == 1) children(1).eval(input) else null)
        to = run.fresh(r.idx, r.offsets(s), r.offsets(s + 1))
        if (to == 0) return bufs
        idx = run.rest; from = 0
      case r: Labeled =>
        val kV = children.last.eval(input)
        if (kV == null) return bufs
        val s = r.slot(kV)
        idx = r.idx
        if (s >= 0) { from = r.offsets(s); to = r.offsets(s + 1) } else to = 0
        negFrom = to; negTo = from + nq
        if (r.kPos == 0) to = from
        if (r.kNeg == 0) negTo = negFrom
        skip = java.util.Arrays.binarySearch(qids, rowId)
    }
    scorer match {
      case e: Exact =>
        val vV = children(1).eval(input)
        if (vV == null) return bufs
        val arr = vV.asInstanceOf[ArrayData]
        val n = arr.numElements()
        val v = new Array[Double](n)
        var i = 0
        while (i < n) {
          v(i) = if (vecIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          i += 1
        }
        var vNorm = 0.0
        if (e.tag == DistKernel.Cos) {
          var j = 0
          while (j < n) { vNorm += v(j) * v(j); j += 1 }
        }
        if (all && e.uniformDim && n >= e.dim) {
          DistKernel.updateAll(v, e.flatQ, e.qNorms, e.dim, e.tag, bufs, rowId,
            vNorm, e.sqrtQNorms)
        } else {
          // routed queries, or the ragged fallback (mixed query dims): four
          // routed queries per pass, one prefix distance per pair
          DistKernel.updateRouted(v, vNorm, rowId, e.qvecs, e.qNorms, e.tag, bufs, 0,
            idx, from, to, skip)
          DistKernel.updateRouted(v, vNorm, rowId, e.qvecs, e.qNorms, e.tag, bufs, nq,
            idx, negFrom, negTo, -1)
        }
      case l: Lut =>
        val c1V = children(1).eval(input)
        val c2V = if (l.n2 == null) null else children(2).eval(input)
        if (c1V == null || (l.n2 != null && c2V == null)) return bufs
        val c1 = c1V.asInstanceOf[ArrayData]
        val c2 = c2V.asInstanceOf[ArrayData]
        val m = c1.numElements()
        if (nq > 0 && (m != l.luts(0).length || (c2 != null && c2.numElements() != m)))
          throw new IllegalArgumentException(s"$prettyName: row $rowId carries $m " +
            (if (c2 == null) "" else s"and ${c2.numElements()} second-level ") +
            s"codes but the lookup tables have ${l.luts(0).length} subspaces " +
            "(codes from another codebook?)")
        lutSlice(l, c1, c2, m, rowId, bufs, 0, idx, from, to, skip)
        lutSlice(l, c1, c2, m, rowId, bufs, nq, idx, negFrom, negTo, -1)
    }
    bufs
  }

  private def lutSlice(l: Lut, c1: ArrayData, c2: ArrayData, m: Int, rowId: Long,
      bufs: Array[TopKBuffer], bOff: Int, idx: Array[Int], from: Int, to: Int,
      skip: Int): Unit = {
    val luts = l.luts; val n2 = l.n2
    var p = from
    while (p < to) {
      val qi = idx(p)
      if (qi != skip) {
        val lut = luts(qi)
        var total = 0.0
        var s = 0
        if (n2 == null) {
          while (s < m) { total += lut(s)(c1.getInt(s)); s += 1 }
        } else {
          while (s < m) { total += lut(s)(c1.getInt(s) * n2(s) + c2.getInt(s)); s += 1 }
        }
        val buf = bufs(bOff + qi)
        if (buf.wouldAccept(total)) buf.insert(total, rowId)
      }
      p += 1
    }
  }

  override def merge(bufs: Array[TopKBuffer], other: Array[TopKBuffer]): Array[TopKBuffer] = {
    var b = 0
    while (b < bufs.length) {
      val o = other(b)
      var i = 0
      while (i < o.size) { bufs(b).insert(o.dists(i), o.ids(i)); i += 1 }
      b += 1
    }
    bufs
  }

  override def eval(bufs: Array[TopKBuffer]): Any = {
    val nq = qids.length
    def nn(b: TopKBuffer) =
      new GenericArrayData(b.sorted.map { case (id, d) => InternalRow(id, d) })
    new GenericArrayData(Array.tabulate(nq) { qi =>
      if (bufs.length == nq) InternalRow(qids(qi), nn(bufs(qi)))
      else InternalRow(qids(qi), nn(bufs(qi)), nn(bufs(nq + qi)))
    })
  }

  override def serialize(bufs: Array[TopKBuffer]): Array[Byte] = {
    val bb = ByteBuffer.allocate(bufs.map(4 + _.size * 16).sum)
    bufs.foreach { b =>
      bb.putInt(b.size)
      var i = 0
      while (i < b.size) { bb.putDouble(b.dists(i)).putLong(b.ids(i)); i += 1 }
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[TopKBuffer] = {
    val bb = ByteBuffer.wrap(bytes)
    val bufs = createAggregationBuffer()
    bufs.foreach { b =>
      var n = bb.getInt()
      while (n > 0) { b.insert(bb.getDouble(), bb.getLong()); n -= 1 }
    }
    bufs
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MultiTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MultiTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object MultiTopK {
  val ResultType: DataType = ArrayType(
    StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("nn", TopKByDistance.resultType, nullable = false))),
    containsNull = false)

  val LabeledResultType: DataType = ArrayType(
    StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("pos", TopKByDistance.resultType, nullable = false),
      StructField("neg", TopKByDistance.resultType, nullable = false))),
    containsNull = false)

  sealed trait Scorer { def arity: Int }

  /** Full-precision vectors, scored by [[DistKernel]] (l2sq | dot | ip | cos). */
  final case class Exact(qvecs: Array[Array[Double]], metric: String) extends Scorer {
    def arity: Int = 1
    // hoisted out of the per-(row × query) loop: metric dispatch as an int
    // tag, query vectors flattened to ONE contiguous array (stride = dim)
    @transient lazy val tag: Int = DistKernel.tag(metric)
    @transient lazy val dim: Int = if (qvecs.isEmpty) 0 else qvecs(0).length
    @transient lazy val uniformDim: Boolean = qvecs.forall(_.length == dim)
    @transient lazy val flatQ: Array[Double] = {
      val out = new Array[Double](qvecs.length * dim)
      var qi = 0
      while (qi < qvecs.length) {
        System.arraycopy(qvecs(qi), 0, out, qi * dim, dim)
        qi += 1
      }
      out
    }
    @transient lazy val qNorms: Array[Double] =
      qvecs.map { qv =>
        var s = 0.0; var i = 0
        while (i < qv.length) { s += qv(i) * qv(i); i += 1 }
        s
      }
    // ‖q‖ per query for updateAll's wide-dim L2 triangle-inequality reject;
    // null elsewhere so narrow/non-L2 paths pay nothing
    @transient lazy val sqrtQNorms: Array[Double] =
      if (tag == DistKernel.L2 && dim >= DistKernel.AbandonMinDim)
        qNorms.map(math.sqrt)
      else null
  }

  /** Codes summed over each query's lookup table: `Σ_s lut[s][codes[s]]`
    * (ADC/SDC), or with `n2` (the RVQ inner stride per subspace) the dual
    * codes `Σ_s lut[s][codes1[s]·n2[s]+codes2[s]]`.
    */
  final case class Lut(luts: Array[Array[Array[Double]]], n2: Array[Int] = null)
      extends Scorer {
    def arity: Int = if (n2 == null) 1 else 2
  }

  sealed trait Router {
    def arity: Int
    def newBuffers(nq: Int): Array[TopKBuffer]
  }

  /** Every row feeds every query's buffer. */
  final case class AllQueries(k: Int) extends Router {
    require(k > 0, s"batch top-k requires k > 0, got $k")
    def arity: Int = 0
    def newBuffers(nq: Int): Array[TopKBuffer] = Array.fill(nq)(new TopKBuffer(k))
  }

  /** The row's key (its last child) selects a slot of a key → queries CSR
    * index: key `keys(s)` routes to queries `idx(offsets(s) until offsets(s + 1))`.
    */
  sealed trait Keyed extends Router {
    def keys: Array[Long]
    def offsets: Array[Int]
    def idx: Array[Int]
    def arity: Int = 1
    /** Slot of a key value, -1 when null or no query is routed by it. */
    def slot(key: Any): Int =
      if (key == null) -1
      else math.max(java.util.Arrays.binarySearch(keys, key.asInstanceOf[Number].longValue), -1)
  }

  /** SPANN stage-2: a posting row feeds the queries whose stage-1 candidates
    * name its head; distinct-id buffers dedup the posting replicas exactly as
    * the join form's `topkDistinct`.
    *
    * Each (query, id) pair is scored once per run of rows ([[ProbeRun]]): a
    * row is offered only to those of its head's queries that no earlier row
    * of the run was offered to. A skipped pair would have produced the same
    * double, which the distinct-id buffer drops (the id is in it already, or
    * the buffer's worst is better and only gets better), so results are
    * bit-identical in any row order; rows clustered by id (`AnnIndex`'s
    * posting layout) make the runs span a vector's replicas, where SPTAG's
    * search drops repeated ids before scoring them (`m_deduper`).
    */
  final case class Probe(k: Int, keys: Array[Long], offsets: Array[Int], idx: Array[Int])
      extends Keyed {
    require(k > 0, s"spann probe top-k requires k > 0, got $k")
    def newBuffers(nq: Int): Array[TopKBuffer] =
      Array.fill(nq)(new TopKBuffer(k, distinct = true))
  }

  object Probe {
    /** From the collected stage-1 candidate pairs `(query_id, head_id)`. */
    def apply(k: Int, pairs: Array[(Long, Long)], qids: Array[Long]): Probe = {
      val (keys, offsets, idx) = csr(pairs, qids)
      Probe(k, keys, offsets, idx)
    }
  }

  /** Contrastive mining: a row feeds the `pos` buffer (capped `kPos`) of every
    * same-label query except the row itself, and the `neg` buffer (capped
    * `kNeg`) of every other query; a side with a 0 cap is disabled. Queries
    * are grouped by label and `idx` holds that order twice over, so the
    * other-label queries of slot s are the ONE slice
    * `[offsets(s + 1), offsets(s) + |Q|)`.
    */
  final case class Labeled(kPos: Int, kNeg: Int, keys: Array[Long],
      offsets: Array[Int], idx: Array[Int]) extends Keyed {
    require(kPos >= 0 && kNeg >= 0 && kPos + kNeg > 0,
      s"labeled batch top-k needs at least one side: kPos=$kPos kNeg=$kNeg")
    def newBuffers(nq: Int): Array[TopKBuffer] =
      Array.tabulate(2 * nq)(b => new TopKBuffer(math.max(if (b < nq) kPos else kNeg, 1)))
  }

  object Labeled {
    def apply(kPos: Int, kNeg: Int, qids: Array[Long], qlabels: Array[Long]): Labeled = {
      val (keys, offsets, idx) = csr(qids.zip(qlabels), qids)
      Labeled(kPos, kNeg, keys, offsets, idx ++ idx)
    }
  }

  /** Key → queries CSR index from `(query_id, key)` pairs; duplicate pairs
    * dedupe (the widened SPANN probe can re-name a head — a no-op in the
    * distinct-id buffer anyway).
    */
  private def csr(pairs: Array[(Long, Long)], qids: Array[Long])
      : (Array[Long], Array[Int], Array[Int]) = {
    val qIdx = qids.zipWithIndex.toMap
    val byKey = pairs.distinct.groupBy(_._2)
    val keys = byKey.keys.toArray.sorted
    val idx = keys.map { key =>
      byKey(key).map { case (q, _) =>
        qIdx.getOrElse(q, throw new IllegalArgumentException(
          s"candidate query_id $q is not in the query batch"))
      }.sorted
    }
    (keys, idx.scanLeft(0)(_ + _.length), idx.flatten)
  }

  /** Per-task scratch of the [[Probe]] router. A run is a sequence of rows
    * of one id whose score column (`vec`, or `codes` under [[Lut]]) carries
    * the same bytes: the rows of a run score the same double against any one
    * query, so a query needs only one of them. Keying on the bytes, not the
    * id alone, matters: a plain-union `add` can give one id two vectors, and
    * the distinct-id buffer keeps the smaller of their distances. A run
    * belongs to one set of buffers; rows with no byte view (a null or
    * generic array, or a two-column scorer) never continue one.
    */
  private final class ProbeRun(nq: Int) {
    private var bufs: Array[TopKBuffer] = null
    private var id = 0L
    private var bytes = new Array[Byte](0)
    private var len = -1 // -1: nothing to continue
    // a query was offered in the current run iff offered(qi) == stamp
    private val offered = new Array[Int](nq)
    private var stamp = 0
    /** The row's not-yet-offered queries, filled by [[fresh]]. */
    val rest = new Array[Int](nq)

    /** Continue the current run when (b, rowId, score) match it, else start one. */
    def advance(b: Array[TopKBuffer], rowId: Long, score: Any): Unit = {
      val same = (b eq bufs) && rowId == id && len >= 0 && (score match {
        case u: UnsafeArrayData => u.getSizeInBytes == len && ByteArrayMethods.arrayEquals(
          u.getBaseObject, u.getBaseOffset, bytes, Platform.BYTE_ARRAY_OFFSET, len)
        case _ => false
      })
      if (!same) {
        bufs = b; id = rowId
        score match {
          case u: UnsafeArrayData =>
            len = u.getSizeInBytes
            if (bytes.length < len) bytes = new Array[Byte](len)
            Platform.copyMemory(u.getBaseObject, u.getBaseOffset, bytes,
              Platform.BYTE_ARRAY_OFFSET, len)
          case _ => len = -1
        }
        if (stamp == Int.MaxValue) { java.util.Arrays.fill(offered, 0); stamp = 0 }
        stamp += 1
      }
    }

    /** Copy the queries of `idx[from, to)` not offered in this run into
      * [[rest]], marking them offered; returns how many there are.
      */
    def fresh(idx: Array[Int], from: Int, to: Int): Int = {
      var n = 0
      var p = from
      while (p < to) {
        val qi = idx(p)
        if (offered(qi) != stamp) { offered(qi) = stamp; rest(n) = qi; n += 1 }
        p += 1
      }
      n
    }
  }

  /** A collected query batch sorted by id: vectors widened to double (exact),
    * labels null unless asked for.
    */
  final case class Queries(ids: Array[Long], vecs: Array[Array[Double]], labels: Array[Long]) {
    def contains(qid: Long): Boolean = java.util.Arrays.binarySearch(ids, qid) >= 0
  }

  /** The driver budget of one collected query batch ([[collectBatches]]):
    * rows, and bytes of ids, labels and widened vectors. A SPANN batch feeds
    * both stages, so it also bounds the stage-2 candidate pairs (at most
    * |Q|·max(internalK, wideK)) and the probe index every stage-2 task
    * carries.
    */
  private[graft] val MaxQueryRows: Int = 1 << 16
  private[graft] val MaxQueryBytes: Long = 128L << 20

  /** THE query collect of every search that carries its query batch inside
    * the aggregate: `queries`' `(id, vec[, label])` rows as collected batches,
    * each with the frame of its rows. A batch within `maxRows` rows and
    * `maxBytes` bytes ([[collectQueriesBounded]]) is collected once and
    * returned with `queries` itself; an over-budget one splits into
    * `id`-hash chunks, each collected the same way (and split again, under a
    * new hash salt, while still over). Callers run one search per batch and
    * union the results. A query id may appear once.
    */
  private[graft] def collectBatches(queries: DataFrame, id: String = "query_id",
      vec: String = "qvec", label: Option[String] = None, maxRows: Int = MaxQueryRows,
      maxBytes: Long = MaxQueryBytes, salt: Int = 0): Seq[(DataFrame, Queries)] =
    collectQueriesBounded(queries, maxRows, maxBytes, id, vec, label) match {
      case Right(q) => Seq((queries, q))
      case Left(n) =>
        (0 until n).flatMap { c =>
          collectBatches(queries.where(pmod(xxhash64(col(id), lit(salt)), lit(n)) === c),
            id, vec, label, maxRows, maxBytes, salt + 1)
        }
    }

  /** One `(id, vec[, label])` batch within `maxRows` rows and `maxBytes`
    * bytes, under the [[NearestHeadsExpr.collectBounded]] discipline: a
    * frame whose size estimate is driver-safe is collected and checked
    * after; an estimate-heavy one is measured first (one job for its rows
    * and bytes) and collected only within budget. `Right(batch)` when it
    * fits (a one-row batch always does: it cannot split), else `Left(n)`:
    * the number of chunks (≥ 2) that would each fit if the split were even.
    */
  private[graft] def collectQueriesBounded(queries: DataFrame, maxRows: Int, maxBytes: Long,
      id: String = "query_id", vec: String = "qvec", label: Option[String] = None)
      : Either[Int, Queries] = {
    val sel = queries.select((Seq(id, vec) ++ label).map(col): _*)
    val fixed = 8L * (1 + label.size) // id and label bytes per row
    lazy val rows = sel.collect()
    val (n, bytes) =
      if (sel.queryExecution.optimizedPlan.stats.sizeInBytes <= NearestHeadsExpr.SafeCollectBytes)
        (rows.length.toLong, rows.map(r => fixed + 8L * r.getSeq[Any](1).length).sum)
      else {
        val m = sel.agg(count(lit(1)), sum(lit(fixed) + lit(8L) * size(col(vec)))).head()
        (m.getLong(0), if (m.isNullAt(1)) 0L else m.getLong(1))
      }
    if (n <= 1 || (n <= maxRows && bytes <= maxBytes)) Right(toQueries(rows, id, label.isDefined))
    else Left(math.max(2L, math.max((n - 1) / maxRows, (bytes - 1) / maxBytes) + 1).toInt)
  }

  private def toQueries(collected: Array[org.apache.spark.sql.Row], id: String,
      labeled: Boolean): Queries = {
    val rows = collected.map { r =>
      val qid = r.get(0) match {
        case l: java.lang.Long    => l.longValue
        case i: java.lang.Integer => i.longValue
        case other                => other.toString.toLong
      }
      val v = r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue).toArray
      (qid, v, if (labeled) r.get(2).asInstanceOf[Number].longValue else 0L)
    }.sortBy(_._1)
    val ids = rows.map(_._1)
    ids.indices.drop(1).find(i => ids(i) == ids(i - 1)).foreach { i =>
      throw new IllegalArgumentException(
        s"duplicate $id ${ids(i)} in the query batch: query ids must be unique")
    }
    Queries(ids, rows.map(_._2), if (labeled) rows.map(_._3) else null)
  }

  /** ONE scan of `corpus` through the aggregate → one row per query:
    * `(query_id, nn)`, or `(query_id, pos, neg)` under [[Labeled]]. `cols` =
    * id, the scorer's inputs, then the router's key (see [[MultiTopK]]).
    */
  def search(corpus: DataFrame, qids: Array[Long], scorer: Scorer, router: Router,
      cols: Column*): DataFrame =
    corpus
      .agg(ColumnShim.column(MultiTopK(cols.map(ColumnShim.expression), qids,
        scorer, router).toAggregateExpression()).as("per_q"))
      .select(explode(col("per_q")).as("r"))
      .select("r.*")
}
