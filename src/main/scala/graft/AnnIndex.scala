package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{MultiTopK, NearestHeadsExpr}
import graft.operators.{Eval, Knn, Mutations, Spann}
import graft.sources.IndexStore

/** User-facing index facade — the Spark-native analogue of the reference's
  * `AnnIndex` wrapper (`Wrappers/inc/CoreInterface.h:14-87`): create with
  * (dimension, metric), set build params, `build`, `search` /
  * `searchWithMeta` / `batchSearch`, `add` / `deleteByIds` /
  * `deleteByVector`, `save` / `load`, `refineIndex`.
  *
  * Instances are immutable: every mutation returns a new `AnnIndex` view
  * over the updated logical tables (Spark frames are immutable; the
  * reference mutates under locks — same observable semantics, no locks).
  *
  * State: `vectors(id, vec[, meta])`, tombstones `deletes(id)`, and the
  * SPANN artifacts `heads`/`postings` (rebuilt on `build`, incrementally
  * extended on `add`). The head table is RESIDENT, as the reference keeps
  * its head index in memory: wherever an index comes into being (`build`,
  * [[AnnIndex.load]], `rebalance`, and `refineIndex` through `build`) it is
  * collected once into a driver-local relation and widened head rows, with
  * its row count as the head-count hint. Posting assignment, the hier
  * routing state and `add` read the relation with no Spark job and no
  * corpus scan. A flat search runs stage-1 on the driver over the widened
  * rows, on every core, and hands its candidates and the one collected
  * query batch straight to stage-2 — one Spark job per search, as the
  * reference searches its in-memory head index per query. A head set over
  * the [[graft.functions.NearestHeadsExpr.collectBounded]] budget
  * ([[Spann.MaxBroadcastHeads]] rows) stays the lazy frame, searched
  * through the join/hier routes.
  *
  * Postings built here (`build`, `rebalance`) are clustered by id
  * ([[AnnIndex.byId]]): a vector's replicas sit side by side, and the
  * stage-2 router scores each (query, id) pair once instead of once per
  * replica (the reference drops repeated ids before scoring, `m_deduper`).
  * A loaded index keeps IndexStore's bucket layout; the file format is
  * unchanged.
  */
class AnnIndex private (
    val spark: SparkSession,
    val conf: GraftConf,
    val vectors: DataFrame,
    val deleted: DataFrame,
    val heads: Option[DataFrame],
    val postings: Option[DataFrame],
    val quantizer: Option[graft.functions.PQ.RotatedCodebooks] = None,
    private val headCountHint: Option[Long] = None,
    private val storedCodes: Option[DataFrame] = None,
    private val headRows: Option[AnnIndex.HeadRows] = None) {

  private def copy(
      vectors: DataFrame = vectors,
      deleted: DataFrame = deleted,
      heads: Option[DataFrame] = heads,
      postings: Option[DataFrame] = postings,
      quantizer: Option[graft.functions.PQ.RotatedCodebooks] = quantizer,
      headCountHint: Option[Long] = headCountHint,
      storedCodes: Option[DataFrame] = storedCodes,
      headRows: Option[AnnIndex.HeadRows] = headRows): AnnIndex =
    new AnnIndex(spark, conf, vectors, deleted, heads, postings, quantizer,
      headCountHint, storedCodes, headRows)

  def setParameter(name: String, value: String): AnnIndex =
    new AnnIndex(spark, conf.set(name, value), vectors, deleted, heads, postings,
      quantizer, headCountHint, storedCodes, headRows)
  def getParameter(name: String): String = conf.get(name)

  def count: Long = Mutations.liveView(vectors, deleted).count()

  /** BuildIndex: select heads (ratio-sized) + assign postings. A head set
    * beyond `conf.hierThreshold` assigns through the routed two-level path
    * ([[Spann.buildPostingsHier]]) — the build never broadcasts a head set
    * the search side wouldn't.
    *
    * Head selection follows the ini: `SelectHeadType=Random` is the
    * reference's uniform sample ([[Spann.selectHeadsRandom]], deterministic
    * hash draw); an explicit `SelectHeadType=BKT`
    * engages the reference's tree-walk path (`SelectHeadInternal`,
    * `SPANNIndex.cpp:707-815`) — [[Spann.selectHeadsBktDynamic]] when
    * `SelectDynamically` (its default), binary-searching the walk
    * thresholds to hit `Ratio`, else [[Spann.selectHeadsBkt]] with the
    * configured `SelectThreshold`/`SplitThreshold`/`SplitFactor`. Without
    * an explicit selection type the deterministic modulo stand-in keeps the
    * historical build contract.
    */
  def build(): AnnIndex = {
    val live = Mutations.liveView(vectors, deleted)
    val everyNth = math.max((1.0 / conf.headRatio).round.toInt, 1)
    val h =
      if (conf.extra.get("selectheadtype").exists(_.equalsIgnoreCase("Random")))
        Spann.selectHeadsRandom(live, conf.headRatio)
      else if (conf.extra.get("selectheadtype").exists(_.equalsIgnoreCase("BKT"))) {
        val leafSize = conf.get("bktleafsize").toInt
        if (conf.get("selectdynamically").toBoolean)
          Spann.selectHeadsBktDynamic(live, conf.headRatio, conf.kmeansK,
            leafSize,
            selectThresholdMax = conf.get("selectthreshold").toInt,
            splitThresholdMax = conf.get("splitthreshold").toInt,
            splitFactor = conf.get("splitfactor").toInt,
            metric = conf.metric)
        else
          Spann.selectHeadsBkt(live, conf.kmeansK, leafSize,
            selectThreshold = conf.get("selectthreshold").toInt,
            splitThreshold = conf.get("splitthreshold").toInt,
            splitFactor = conf.get("splitfactor").toInt,
            metric = conf.metric)
      } else Spann.selectHeadsModulo(live, everyNth)
    // collect ONCE at build; the resident table and its count ride in the
    // instance (the count also into save's config), so neither this build's
    // routing decision and posting assignment nor any later search re-reads
    // the corpus for its heads
    val (heads, hn, rows) = AnnIndex.resident(spark, h)
    val raw = hierOver(heads, hn) match {
      case Some((sh, routing)) =>
        // routed expression form (falls back to the hier join automatically
        // when the routing table outgrows the expression's collect budget)
        Spann.buildPostingsRouted(live, sh, routing, conf.replicaCount,
          conf.superK, conf.metric)
      case None =>
        Spann.buildPostings(live, heads, conf.replicaCount, conf.metric)
    }
    val p = Spann.truncatePostings(raw, conf.postingLimit)
    // eager checkpoint: materialize under this plan's own execution (a lazy
    // one would compute inside a later search and log unregistered-accumulator
    // errors from DAGScheduler)
    copy(heads = Some(heads), postings = Some(AnnIndex.byId(p).localCheckpoint(true)),
      headCountHint = Some(hn), headRows = rows)
  }

  private def requireBuilt(): (DataFrame, DataFrame) =
    (heads, postings) match {
      case (Some(h), Some(p)) => (h, p)
      case _ => sys.error("index not built — call build() first")
    }

  /** Two-level routing state, engaged only when the head set outgrows a
    * comfortable broadcast (`conf.hierThreshold`): super-heads are a
    * deterministic hash-sample of the heads (SelectHead's Random option,
    * `SPANN/ParameterDefinitionList.h:38-67`), and heads route to their
    * `routeReplicas` nearest super-heads.
    */
  private lazy val hierState: Option[(DataFrame, DataFrame)] =
    for (h <- heads; n <- headCountHint; routed <- hierOver(h, n)) yield routed

  /** Routing state over an arbitrary head set — shared by [[build]] (posting
    * assignment) and the search path, so both switch levels at the SAME
    * threshold. `n` = the head count (passed in, never recomputed here).
    */
  private def hierOver(h: DataFrame, n: Long): Option[(DataFrame, DataFrame)] =
    if (n <= conf.hierThreshold) None
    else {
      val m = math.max((1.0 / conf.superRatio).round.toInt, 2)
      val sh = h.where(pmod(xxhash64(col("head_id")), lit(m)) === 0)
        .select(col("head_id").as("super_id"), col("head_vec").as("super_vec"))
      if (sh.isEmpty) None
      else Some((sh, Spann.routeHeads(h, sh, conf.routeReplicas, conf.metric)))
    }

  /** The stage-1 kernel over the resident head rows, r = the flat probe
    * width. Built at most once per instance (its conf fixes metric and r).
    */
  private lazy val headScan: Option[NearestHeadsExpr] = headRows.map { case (ids, vecs) =>
    NearestHeadsExpr.kernel(ids, vecs, math.max(conf.internalK, conf.wideK), conf.metric)
  }

  /** Stage-1 candidates `(query_id, head_id)` of a query batch (`q` is its
    * collected form): routed through super-heads past `conf.hierThreshold`
    * (never a full-head broadcast; `superK` is that route's recall knob),
    * else the flat scan of the heads with the MaxDistRatio prune and the
    * WideK/CloseRatio widening (dense-region queries probe extra
    * close-ranked heads) — on the driver over the resident head rows
    * ([[Spann.candidatePairs]]), through [[Spann.candidateHeads]] when the
    * head table stayed a lazy frame.
    */
  private def candidates(queries: DataFrame, q: MultiTopK.Queries): Array[(Long, Long)] =
    (hierState, headScan) match {
      case (Some((sh, routing)), _) => Spann.collectPairs(
        Spann.candidateHeadsHier(queries, sh, routing, conf.internalK, conf.superK, conf.metric))
      case (None, Some(scan)) =>
        Spann.candidatePairs(q, scan, conf.internalK, conf.maxDistRatio, conf.wideK,
          conf.closeRatio)
      case (None, None) => Spann.collectPairs(
        Spann.candidateHeads(queries, heads.get, conf.internalK, conf.maxDistRatio,
          conf.metric, conf.wideK, conf.closeRatio))
    }

  /** A two-stage search of `queries`: each collected batch
    * ([[MultiTopK.collectBatches]], within `maxRows` rows and `maxBytes`
    * bytes) and its stage-1 candidates go to `stage2`, and the results
    * union.
    */
  private def probe(queries: DataFrame, maxRows: Int = MultiTopK.MaxQueryRows,
      maxBytes: Long = MultiTopK.MaxQueryBytes)(
      stage2: (Array[(Long, Long)], MultiTopK.Queries) => DataFrame): DataFrame =
    MultiTopK.collectBatches(queries, maxRows = maxRows, maxBytes = maxBytes)
      .map { case (chunk, q) => stage2(candidates(chunk, q), q) }
      .reduce(_ unionByName _)

  /** A posting frame with the tombstoned ids removed. */
  private def live(p: DataFrame): DataFrame = p.join(deleted, Seq("id"), "left_anti")

  /** SearchIndex: two-stage SPANN search; deleted ids are filtered from the
    * result (search-time tombstone skip, `BKTIndex.cpp:875-899`). A loaded
    * index keeps IndexStore's `head_bucket` partition column, so stage-2
    * reads only the candidates' posting buckets.
    */
  def search(queries: DataFrame, k: Int): DataFrame =
    searchWithin(queries, k, MultiTopK.MaxQueryRows, MultiTopK.MaxQueryBytes)

  /** [[search]] under an explicit query-collect budget (see [[probe]]). */
  private[graft] def searchWithin(queries: DataFrame, k: Int, maxRows: Int,
      maxBytes: Long): DataFrame = {
    val p = live(requireBuilt()._2)
    probe(queries, maxRows, maxBytes)(
      Spann.searchPairs(_, _, p, k, conf.metric, Some(conf.headBuckets), None))
  }

  /** Filtered SPANN search — Q4 on the approximate path (the reference
    * evaluates a metadata filter before inserting candidates into the
    * result set; `CoreInterface.h:35-40` search-with-metadata surface):
    * `predicate` is any Column over the vector table's rows (id, vec,
    * meta, ...); stage-2 posting hits semi-join the passing id set before
    * the bounded top-k, so every returned row passes. The predicate reaches
    * the corpus scan as a pushed filter; deleted ids are excluded as in
    * [[search]]. Postings are built unfiltered (reference semantics), so
    * recall under highly selective predicates is bounded by what the probed
    * heads contain — widen `InternalK`/`WideK` for such workloads.
    */
  def searchFiltered(queries: DataFrame, k: Int, predicate: Column): DataFrame = {
    val p = live(requireBuilt()._2)
    val keep = Mutations.liveView(vectors, deleted).where(predicate).select(col("id"))
    probe(queries)(
      Spann.searchPairs(_, _, p, k, conf.metric, Some(conf.headBuckets), Some(keep)))
  }

  /** Exact search — the truth path (brute force, always available). */
  def searchExact(queries: DataFrame, k: Int): DataFrame =
    Knn.search(queries, Mutations.liveView(vectors, deleted), k, conf.metric)

  /** Attach a trained product quantizer (the reference's SetQuantizer /
    * `QuantizerFilePath` flow, `VectorIndex.h:137-153`): trains plain PQ on
    * the live vectors (identity rotation; attach codebooks from
    * `PQ.trainOpqAlternating` via [[withQuantizer]] for OPQ). Persisted by
    * [[save]], restored by [[AnnIndex.load]].
    */
  def trainQuantizer(m: Int, k: Int = 256, maxIter: Int = 5): AnnIndex = {
    import graft.functions.PQ
    val live = Mutations.liveView(vectors, deleted)
    val cb = PQ.train(live, dimension, m, k, maxIter)
    val ident = Array.tabulate(dimension, dimension)((i, j) => if (i == j) 1.0 else 0.0)
    withQuantizer(PQ.RotatedCodebooks(ident, cb))
  }

  /** Attach an externally trained (e.g. OPQ) quantizer. The corpus is
    * quantized ONCE, here (the reference quantizes at build,
    * `VectorIndex.h:137-153`) — searches read the stored codes; nothing
    * re-quantizes at query time. Codes persist through [[save]].
    */
  /** Give a frame fresh attribute ids (two fresh Aliases per column): the
    * codes table is joined against the postings — both descend from the same
    * `vectors` lineage and would otherwise share expression ids. Defense in
    * depth for the join's attribute hygiene; the double-save
    * INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND itself is fixed at the save site
    * (IndexStore.save disables constraint propagation — see there).
    */
  private def reId(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(s"${c}_r")).toIndexedSeq: _*)
      .select(df.columns.map(c => col(s"${c}_r").as(c)).toIndexedSeq: _*)

  def withQuantizer(q: graft.functions.PQ.RotatedCodebooks): AnnIndex = {
    import graft.functions.PQ
    val c = reId(PQ.quantizeOpq(vectors.select(col("id"), col("vec")), q)
      .select(col("id"), col("codes")))
      .localCheckpoint(true)
    // a loaded index may carry the PREVIOUS quantizer's codes embedded in
    // its posting rows — drop them, or the new LUT would score stale codes
    copy(quantizer = Some(q), storedCodes = Some(c),
      postings = postings.map(p =>
        if (p.columns.contains("codes")) p.drop("codes") else p))
  }

  /** The quantized corpus `(id, codes)` — the stored table when the quantizer
    * was attached/loaded with codes; computed at most once per instance as a
    * backfill for a legacy save that persisted codebooks only.
    */
  private lazy val codesTable: Option[DataFrame] = quantizer.map { q =>
    storedCodes.getOrElse {
      reId(graft.functions.PQ.quantizeOpq(vectors.select(col("id"), col("vec")), q)
        .select(col("id"), col("codes")))
        .localCheckpoint(true)
    }
  }

  /** Postings carrying their entries' PQ codes — the reference's quantized
    * posting layout (`SPANN/Index.h:46-59`). A loaded index already stores
    * codes INSIDE the bucketed posting rows (IndexStore writes them joined),
    * so the partition-pruned parquet scan IS the compressed store; an
    * in-memory built index materializes the corpus-keyed join once
    * (checkpointed) instead.
    */
  private lazy val codedPostings: Option[DataFrame] =
    postings match {
      case Some(p) if p.columns.contains("codes") => Some(p.drop("vec"))
      case Some(p) =>
        // the guard matters for sessions that keep constraint propagation on:
        // both join sides are checkpointed frames whose origin constraints
        // can mis-bind across the join (see IndexStore.save)
        codesTable.map(c => withoutConstraintProp(
          p.drop("vec").join(c, Seq("id")).localCheckpoint(true)))
      case None => None
    }

  /** Run `body` (a plan-building + EAGER-executing block) with constraint
    * propagation disabled, restoring the session's prior setting after.
    */
  private def withoutConstraintProp[T](body: => T): T = {
    val key = "spark.sql.constraintPropagation.enabled"
    val prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** ADC search over the quantized index (Q11 compressed-domain serving):
    * stage-1 head pruning exactly as [[search]], stage-2 scores the PRUNED
    * postings from their STORED codes via the per-query LUT — the
    * memory-constrained mode the reference runs when a quantizer is
    * attached. On an unbuilt index this degrades to a full compressed scan
    * of the stored codes (still no per-call re-quantization).
    */
  def searchAdc(queries: DataFrame, k: Int): DataFrame = {
    import graft.functions.PQ
    val q = quantizer.getOrElse(sys.error("no quantizer — call trainQuantizer() first"))
    (heads, codedPostings) match {
      case (Some(_), Some(cp)) =>
        probe(queries)(Spann.adcPairs(_, _, live(cp), q, k, Some(conf.headBuckets), None))
      case _ => PQ.adcSearchOpq(queries, live(codesTable.get), q, k)
    }
  }

  /** Resumable iterative search over the built index (Q6 on the facade —
    * the reference's `GetIterator`, `SPANNIndex.cpp:305-316`): each
    * `next(b)` adds the next `headBatch` stage-1 heads to the probe and
    * reruns the stage-2 of [[search]] over the heads consumed so far (a
    * loaded index reads only their buckets); deleted ids never surface.
    */
  def iterate(
      queries: DataFrame,
      headBatch: Int,
      maxBatches: Int = 4): graft.operators.SpannResultIterator = {
    val (h, p) = requireBuilt()
    new graft.operators.SpannResultIterator(queries, h, live(p), headBatch,
      headBatch * maxBatches, conf.metric, Some(conf.headBuckets))
  }

  /** Search with metadata hydration. */
  def searchWithMeta(queries: DataFrame, k: Int): DataFrame =
    search(queries, k)
      .join(vectors.select(col("id"), col("meta")), Seq("id"))
      .select(col("query_id"), col("rank"), col("id"), col("dist"), col("meta"))

  /** BatchSearch ≡ search (queries are already a DataFrame). */
  def batchSearch(queries: DataFrame, k: Int): DataFrame = search(queries, k)

  /** AddIndex: append a batch; new vectors get postings against the CURRENT
    * heads (delta-only cost — the reference's incremental insert path).
    */
  def add(batch: DataFrame): AnnIndex = {
    // delta-only quantization: the appended batch gets codes against the
    // FIXED codebooks (codebooks describe the space, not the row set)
    val batchCodes = quantizer.map { qz =>
      reId(graft.functions.PQ.quantizeOpq(batch.select(col("id"), col("vec")), qz)
        .select(col("id"), col("codes"))) // fresh ids: joined against the delta
    }
    val grownCodes = (storedCodes, batchCodes) match {
      case (Some(c), Some(bc)) => Some(c.unionByName(bc))
      case _ => storedCodes
    }
    val grown = copy(vectors = Mutations.add(vectors, AnnIndex.withMeta(batch)),
      storedCodes = grownCodes)
    postings match {
      case Some(p) =>
        val delta0 = Spann.buildPostings(
          batch.select(col("id"), col("vec")), heads.get,
          conf.replicaCount, conf.metric)
        // a loaded index carries the head_bucket partition column (and, with
        // a quantizer, per-entry codes) — shape the delta identically so the
        // union stays schema-aligned
        val delta1 =
          if (p.columns.contains("head_bucket"))
            IndexStore.withBucket(delta0, conf.headBuckets)
          else delta0
        val delta =
          if (p.columns.contains("codes")) {
            // coded postings without a restorable quantizer (codebooks
            // artifact missing) cannot code the delta — fail diagnosably
            require(batchCodes.isDefined,
              "postings carry PQ codes but no quantizer is attached/loadable; " +
                "cannot quantize the added batch")
            delta1.join(batchCodes.get, Seq("id"))
          } else delta1
        grown.copy(postings = Some(p.unionByName(delta)))
      case None => grown
    }
  }

  def deleteByIds(ids: DataFrame): AnnIndex =
    copy(deleted = Mutations.deleteIds(deleted, ids))

  def deleteByVector(targets: DataFrame): AnnIndex =
    deleteByIds(Mutations.deleteByVector(vectors, targets, metric = conf.metric))

  def deleteByMeta(metaValues: DataFrame): AnnIndex =
    deleteByIds(Mutations.deleteByMeta(vectors, metaValues))

  def needRefine: Boolean =
    Mutations.needRefine(vectors, deleted, conf.deleteRefineThreshold)

  /** RefineIndex: compact tombstones away and rebuild (the quantizer, when
    * attached, survives compaction — codebooks describe the space, not the
    * row set).
    */
  def refineIndex(): AnnIndex = {
    val live = Mutations.liveView(vectors, deleted)
    // stored codes survive compaction too — just drop the tombstoned rows
    val liveCodes = storedCodes.map(_.join(deleted, Seq("id"), "left_anti"))
    new AnnIndex(spark, conf, live, AnnIndex.emptyDeletes(spark), None, None,
      quantizer, None, liveCodes)
      .build()
  }

  /** Posting rebalance on the built index — the SPFresh-style split/merge
    * maintenance round ([[Spann.rebalancePostings]]; `toFixpoint` iterates
    * it until every posting fits `maxLen`). Heads and postings are replaced
    * in place on the facade; a loaded bucketed layout gets its
    * `head_bucket` partition column re-derived, and stored PQ codes are
    * re-joined onto the re-assigned rows (codes describe vectors, not
    * heads, so they survive re-assignment verbatim). The new head table is
    * held resident with its new count (split/merge changes it).
    */
  def rebalance(maxLen: Int, minLen: Int, toFixpoint: Boolean = false): AnnIndex = {
    val (h, p) = requireBuilt()
    val core = p.select(col("head_id"), col("id"), col("vec"), col("dist"))
    val (h2, p2core) =
      if (toFixpoint) Spann.rebalanceToFixpoint(h, core, maxLen, minLen, conf.metric)
      else Spann.rebalancePostings(h, core, maxLen, minLen, conf.metric)
    val p2bucketed =
      if (p.columns.contains("head_bucket"))
        graft.sources.IndexStore.withBucket(p2core, conf.headBuckets)
      else p2core
    val p2 =
      if (p.columns.contains("codes")) p2bucketed.join(storedCodes.get, Seq("id"))
      else p2bucketed
    val (heads, hn, rows) = AnnIndex.resident(spark, h2.localCheckpoint(true))
    copy(heads = Some(heads), postings = Some(AnnIndex.byId(p2).localCheckpoint(true)),
      headCountHint = Some(hn), headRows = rows)
  }

  /** Recall@k of the approximate path vs exact, on given queries. */
  def recall(queries: DataFrame, k: Int): Double =
    Eval.recallSummary(Eval.recallAt(search(queries, k), searchExact(queries, k), k))
      .head().getDouble(0)

  def save(dir: String): Unit = {
    val (h, p) = requireBuilt()
    IndexStore.save(dir, h, p, Some(deleted),
      IndexStore.IndexConfig(conf.metric, dimension, conf.replicaCount,
        conf.headBuckets, headCountHint.getOrElse(-1L)),
      quantizer = quantizer,
      codes = codesTable)
    vectors.write.mode("overwrite").parquet(s"$dir/vectors")
  }

  /** Single-file save (`VectorIndex.h:89` SaveIndexToFile): the folder save
    * zipped into one archive — handed around as one object-store key/file.
    * Stages through `<file>.staging` on the TARGET's filesystem (executors
    * write the parquet artifacts there — a driver-local temp dir would be
    * invisible to them on a multi-node cluster), then removed.
    */
  def saveToFile(file: String): Unit = {
    val staging = s"$file.staging"
    val p = new org.apache.hadoop.fs.Path(staging)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      save(staging)
      IndexStore.saveToFile(spark, staging, file)
    } finally {
      fs.delete(p, true)
      ()
    }
  }

  def dimension: Int =
    vectors.select(size(col("vec"))).head().getInt(0)
}

object AnnIndex {
  private def emptyDeletes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[Long].toDF("id")
  }

  /** A vector table `(id, vec[, meta])` shaped to the index's `(id, vec, meta)`. */
  private def withMeta(vectors: DataFrame): DataFrame =
    if (vectors.columns.contains("meta")) vectors
    else vectors.withColumn("meta", lit(null).cast("string"))

  /** Resident head rows: ids and vectors widened to double. */
  private[graft] type HeadRows = (Array[Long], Array[Array[Double]])

  /** The head table `(head_id, head_vec)` collected ONCE under the
    * [[NearestHeadsExpr.collectBounded]] budget into a driver-local relation
    * (whose stage-1 collect runs no job) and the widened rows the driver
    * stage-1 scans, or `heads` itself and no rows when over the `maxRows`
    * budget; with the head count either way.
    */
  private[graft] def resident(spark: SparkSession, heads: DataFrame,
      maxRows: Int = Spann.MaxBroadcastHeads): (DataFrame, Long, Option[HeadRows]) = {
    val sel = heads.select("head_id", "head_vec")
    NearestHeadsExpr.collectBounded(sel, maxRows) match {
      case (n, Some(rows)) =>
        (spark.createDataFrame(java.util.Arrays.asList(rows: _*), sel.schema), n,
          Some(NearestHeadsExpr.widen(rows)))
      case (n, None) => (heads, n, None)
    }
  }

  /** Posting rows clustered by id: hash-partitioned on `id` and sorted by it
    * within each partition, so a vector's replicas sit next to each other
    * and the stage-2 router scores each (query, id) pair once
    * ([[MultiTopK.Probe]]). Rows spread by id hash, not head hash.
    */
  private[graft] def byId(postings: DataFrame): DataFrame =
    postings.repartition(col("id")).sortWithinPartitions(col("id"))

  /** Create over a vector table `(id, vec[, meta])`. */
  def apply(spark: SparkSession, vectors: DataFrame, conf: GraftConf = GraftConf()): AnnIndex =
    new AnnIndex(spark, conf, withMeta(vectors), emptyDeletes(spark), None, None)

  /** LoadIndex: restore from an [[IndexStore]] directory. */
  def load(spark: SparkSession, dir: String): AnnIndex = {
    val l = IndexStore.load(spark, dir)
    val conf = GraftConf(
      metric = l.config.metric,
      replicaCount = l.config.replicaCount,
      headBuckets = l.config.headBuckets)
    val vectors = spark.read.parquet(s"$dir/vectors")
    val (heads, hn, rows) = resident(spark, l.heads)
    new AnnIndex(spark, conf, vectors,
      l.deletes.getOrElse(emptyDeletes(spark)),
      Some(heads), Some(l.postings), // head_bucket kept → pruned stage-2 scans
      l.quantizer,
      headCountHint = Some(hn),
      storedCodes = l.codes,
      headRows = rows)
  }

  /** Restore from a [[AnnIndex#saveToFile]] single-file archive. Extracts
    * into `<file>.extracted` NEXT TO the archive (same filesystem, so
    * executors can read the parquet artifacts on a multi-node cluster);
    * the directory persists — lazy frames read from it — and a re-load
    * overwrites it in place.
    */
  def loadFromFile(spark: SparkSession, file: String): AnnIndex =
    load(spark, IndexStore.extractFile(spark, file, s"$file.extracted"))

  /** Per-vector resident bytes — the reference's sizing unit
    * (`VectorIndex.cpp:786-832`): vector payload + metadata + meta index
    * (8 B) + graph neighbors (4 B each) + delete flag + BKT tree nodes
    * (12 B per tree).
    */
  private def memoryUnit(
      dimension: Int, valueBytes: Int, maxMetaLen: Int,
      treeNumber: Int, neighborhoodSize: Int): Long =
    valueBytes.toLong * dimension + maxMetaLen + 8L +
      4L * neighborhoodSize + 1L + 12L * treeNumber

  /** `VectorIndex.h:164` EstimatedMemoryUsage: resident bytes for `count`
    * vectors, count first rounded UP to the allocation block. Used to size
    * executor partitions the same way the reference sizes its in-memory
    * index.
    */
  def estimatedMemoryUsage(
      vectorCount: Long,
      dimension: Int,
      valueBytes: Int = 4,
      vectorsInBlock: Int = 1,
      maxMetaLen: Int = 0,
      treeNumber: Int = 1,
      neighborhoodSize: Int = 32): Long = {
    val blocked = ((vectorCount + vectorsInBlock - 1) / vectorsInBlock) * vectorsInBlock
    memoryUnit(dimension, valueBytes, maxMetaLen, treeNumber, neighborhoodSize) * blocked
  }

  /** `VectorIndex.h:163` EstimatedVectorCount: how many vectors fit in
    * `memoryBytes`, rounded DOWN to the allocation block — the exact inverse
    * of [[estimatedMemoryUsage]]'s unit arithmetic.
    */
  def estimatedVectorCount(
      memoryBytes: Long,
      dimension: Int,
      valueBytes: Int = 4,
      vectorsInBlock: Int = 1,
      maxMetaLen: Int = 0,
      treeNumber: Int = 1,
      neighborhoodSize: Int = 32): Long = {
    val unit = memoryUnit(dimension, valueBytes, maxMetaLen, treeNumber, neighborhoodSize)
    ((memoryBytes / unit) / vectorsInBlock) * vectorsInBlock
  }
}
