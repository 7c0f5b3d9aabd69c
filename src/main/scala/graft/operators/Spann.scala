package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{dist, MultiTopK, RngPrune, TopKByDistance}
import graft.sources.IndexStore

/** SPANN-shaped index build + two-stage search — the Spark-native flagship
  * (SURVEY.md §7). Heads (cluster centroids / selected vectors) stay small and
  * broadcastable; postings carry the full corpus partitioned by `head_id`, so
  * stage-2 reads only the partitions the stage-1 candidates name — the
  * dataflow equivalent of the reference's page-selective SSD reads
  * (`AnnService/inc/Core/SPANN/ExtraFullGraphSearcher.h:226-377`).
  */
object Spann {

  /** Driver-collect budget for the in-expression head scan: heads frames
    * above this many rows route automatically to the join/batch-aggregate
    * forms ([[buildPostings]]/[[candidateHeads]] guards) instead of
    * collecting — aligned with [[graft.GraftConf]]'s default
    * `hierThreshold`, the level at which [[graft.AnnIndex]] engages the
    * routed two-level path.
    */
  val MaxBroadcastHeads: Int = 2000000

  /** Deterministic head selection: every `everyNth` vector is a head
    * (`head_id` = vector id). Semantically a stand-in for SelectHead's
    * ratio-targeted tree walk (`SPANNIndex.cpp:707-815`) with
    * ratio = 1/everyNth; fully oracle-able. K-means-based selection lives in
    * [[selectHeadsKMeans]].
    */
  def selectHeadsModulo(vectors: DataFrame, everyNth: Int): DataFrame =
    vectors.where(col("id") % everyNth === 0)
      .select(col("id").as("head_id"), col("vec").as("head_vec"))

  /** SelectHead's `Random` option (`SPANNIndex.cpp:723-730`): a uniform
    * `ratio` sample of the vectors as heads. The reference shuffles ids
    * with an RNG and truncates; here the deterministic salted-hash draw
    * (the mixtureSample contract — pure function of the id) so re-runs,
    * partitionings, and both engines agree. Map-only scan, no shuffle.
    */
  def selectHeadsRandom(vectors: DataFrame, ratio: Double,
      salt: String = "heads"): DataFrame = {
    require(ratio > 0)
    // threshold in the hash's own 60-bit space — a coarser modulus would
    // quantize tiny ratios to zero (ratio 3e-5 on a 100M corpus must still
    // draw ~3000 heads, not none)
    val threshold = math.round(ratio * graft.functions.Sketches.KmvSpace)
      .min(1L << 60)
    vectors.where(graft.functions.Hash60(
      concat(col("id").cast("string"), lit(":" + salt))) < threshold)
      .select(col("id").as("head_id"), col("vec").as("head_vec"))
  }

  /** Head selection via balanced k-means (B1+B6): cluster, then emit the
    * centroids as head vectors with synthetic ids.
    */
  def selectHeadsKMeans(
      vectors: DataFrame,
      k: Int,
      maxIter: Int = 5,
      lambda: Double = 0.0): DataFrame =
    BalancedKMeans.fit(vectors, k, maxIter, lambda)
      .select(col("cluster_id").as("head_id"), col("center").as("head_vec"))

  /** One collected BKT internal node (the walk's working set — internal
    * nodes only, ≈ n/leafSize rows; leaf members stay distributed).
    */
  final case class BktTreeNode(
      node: String, parent: String, centerId: Option[Long], nLeaf: Long)

  /** A node the walk decided to SPLIT: emit the `selectCnt` largest-subtree
    * children; `internal` = (cs, center_id) of contributing internal
    * children, leaf children (cs = 1 each, ids still distributed) are
    * resolved in a second pass.
    */
  final case class BktSplit(
      node: String, selectCnt: Long, internal: Seq[(Long, Long)], nLeaf: Long)

  /** BKT head-selection tree (B6 stage 1, the structure
    * `SelectHeadInternal` builds via `BKTree::BuildTrees` —
    * `SPANNIndex.cpp:731-744`): recursively partition the corpus, each split
    * consuming `k` member vectors as child-node centers (the reference's
    * cluster centers become tree nodes and leave the recursion) until a
    * node's membership fits `leafSize` or `maxLevels` is hit. Centers are
    * the k LOWEST-id members per node assigned by nearest-center — a
    * deterministic, oracle-replayable stand-in for the reference's sampled
    * k-means seeding (same tree SHAPE contract: every vector occupies
    * exactly one slot, as a node center or a leaf).
    *
    * Returns `(internal, leaves)`:
    * `internal` = `(node, parent, level, center_id, n_leaf)` — one row per
    * tree node (root has NULL center_id), ≈ n/leafSize rows (collectable,
    * the heads-frame contract); `leaves` = `(node, id)` — every remaining
    * vector under its retired node, corpus-sized, NEVER collected (the walk
    * pulls bounded per-node bottom-m slices on demand).
    *
    * Scale: each level is one bounded bottom-k aggregate (seed selection,
    * map-side partial), one broadcast seed join + bounded top-1 aggregate
    * (assignment) — no per-node jobs, no driver recursion, no corpus
    * window; the per-level member frame is checkpointed so lineage stays
    * flat (the [[rebalanceToFixpoint]] convention).
    */
  def buildHeadTree(
      vectors: DataFrame,
      k: Int = 4,
      leafSize: Int = 8,
      maxLevels: Int = 8,
      metric: String = "l2sq"): (DataFrame, DataFrame) = {
    require(k > 1 && leafSize > 0 && maxLevels > 0)
    val spark = vectors.sparkSession
    var members = vectors.select(col("id"), col("vec"), lit("0").as("node"))
    val internals = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val leafParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var level = 0
    var remaining = true
    while (level < maxLevels && remaining) {
      val sizes = members.groupBy(col("node")).agg(count(lit(1)).as("_cnt"))
      val splitNodes = sizes.where(col("_cnt") > leafSize).select(col("node"))
      leafParts += members
        .join(broadcast(splitNodes), Seq("node"), "left_anti")
        .select(col("node"), col("id"))
      val splitting = members.join(broadcast(splitNodes), Seq("node"))
      if (splitting.isEmpty) {
        remaining = false
      } else {
        // seeds: the k smallest member ids per splitting node (bounded
        // bottom-k aggregate); they become the child-node centers and leave
        // the member stream
        val seedIds = splitting.groupBy(col("node"))
          .agg(graft.functions.BottomKLongs.bottomk(col("id"), k).as("_sids"))
          .select(col("node"), posexplode(col("_sids")).as(Seq("_pos", "seed_id")))
          .select(col("node"), (col("_pos") + 1).cast("long").as("rnk"),
            col("seed_id"))
        val seeds = seedIds
          .join(splitting.select(col("node"), col("id").as("seed_id"),
            col("vec").as("seed_vec")), Seq("node", "seed_id"))
        internals += seeds.select(
          concat(col("node"), lit("."), col("rnk")).as("node"),
          col("node").as("parent"), lit(level + 1).as("level"),
          col("seed_id").as("center_id"))
        val assigned = splitting
          .join(broadcast(seedIds.select(col("seed_id").as("id"))),
            Seq("id"), "left_anti")
          .join(broadcast(seeds), Seq("node"))
          .withColumn("_d", dist.byName(metric)(col("vec"), col("seed_vec")))
          .groupBy(col("id"))
          .agg(first(col("node")).as("_pnode"), first(col("vec")).as("vec"),
            TopKByDistance.topk(col("rnk"), col("_d"), 1).as("_top"))
          .select(col("id"), col("vec"),
            concat(col("_pnode"), lit("."),
              element_at(col("_top"), 1).getField("id")).as("node"))
        members = assigned.localCheckpoint(true)
        level += 1
      }
    }
    if (remaining) leafParts += members.select(col("node"), col("id"))
    val leaves = leafParts.reduce(_.unionByName(_))
    val root = spark.range(1).select(
      lit("0").as("node"), lit(null).cast("string").as("parent"),
      lit(0).as("level"), lit(null).cast("long").as("center_id"))
    val internal = internals.foldLeft(root)(_.unionByName(_))
      .join(leaves.groupBy(col("node")).agg(count(lit(1)).as("n_leaf")),
        Seq("node"), "left")
      .select(col("node"), col("parent"), col("level"),
        col("center_id"), coalesce(col("n_leaf"), lit(0L)).as("n_leaf"))
    (internal, leaves)
  }

  /** The SelectHead tree walk (`SelectHeadDynamicallyInternal`,
    * `SPANNIndex.cpp:579-628`), post-order over the COLLECTED internal tree:
    * a node whose accumulated subtree size (`1 + Σ contributing children`,
    * leaves contribute 1) reaches `selectThreshold` emits its own center and
    * absorbs (returns 0 upward); if the subtree additionally exceeds
    * `splitThreshold`, the `ceil(size / splitFactor)` largest-subtree
    * children are emitted too (ties broken by ascending center id — the
    * reference's unstable sort leaves ties implementation-defined, so this
    * library pins them deterministically).
    *
    * Returns `(selfEmits, totalCount, pendingSplits)` — leaf picks inside a
    * split stay symbolic (`BktSplit`) until [[resolveBktSplits]] fetches the
    * bounded per-node bottom-m leaf ids; `totalCount` is already exact
    * (every tree slot holds a distinct vector), which is what the
    * ratio-targeting binary search needs without touching leaf ids.
    */
  def walkHeadTree(
      nodes: Seq[BktTreeNode],
      selectThreshold: Int,
      splitThreshold: Int,
      splitFactor: Int): (Seq[Long], Long, Seq[BktSplit]) = {
    require(selectThreshold >= 2 && splitFactor >= 1)
    val byParent = nodes.filter(_.parent != null).groupBy(_.parent)
    val byName = nodes.map(n => n.node -> n).toMap
    val selfEmits = scala.collection.mutable.ArrayBuffer.empty[Long]
    val pending = scala.collection.mutable.ArrayBuffer.empty[BktSplit]
    var total = 0L
    def rec(n: BktTreeNode): Long = {
      val kidCs = byParent.getOrElse(n.node, Seq.empty).sortBy(_.node)
        .map(c => (c, rec(c))).filter(_._2 > 0)
      val childrenSize = 1L + n.nLeaf + kidCs.map(_._2).sum
      if (childrenSize >= selectThreshold) {
        n.centerId.foreach { cid => selfEmits += cid; total += 1 }
        if (childrenSize > splitThreshold) {
          // Long arithmetic throughout: a root-level split on a corpus
          // past ~splitFactor·2³¹ vectors would overflow an Int selectCnt
          // to negative, corrupting split picks AND the count the dynamic
          // ratio binary search reads
          val selectCnt = (childrenSize + splitFactor - 1) / splitFactor
          val internal = kidCs.flatMap { case (c, cs) =>
            c.centerId.map(cid => (cs, cid))
          }
          total += math.min(selectCnt, internal.size + n.nLeaf)
          pending += BktSplit(n.node, selectCnt, internal, n.nLeaf)
        }
        0L
      } else childrenSize
    }
    rec(byName("0"))
    (selfEmits.toSeq, total, pending.toSeq)
  }

  /** Resolve the leaf picks of [[walkHeadTree]]'s pending splits: ONE
    * distributed bounded bottom-m aggregate over the (still-distributed)
    * leaves of just the demanded nodes, then the final (subtree-size DESC,
    * id ASC) ranking per split on the driver. Never pulls more than
    * `selectCnt` leaf ids per node — leaf picks are always the smallest ids
    * of their node (all leaves tie at subtree size 1), so the bottom-m slice
    * is exactly the candidate set.
    */
  def resolveBktSplits(leaves: DataFrame, pending: Seq[BktSplit]): Seq[Long] = {
    val demands = pending
      .map(p => (p.node, math.min(p.selectCnt, p.nLeaf)))
      .filter(_._2 > 0)
    val fetched: Map[String, Array[Long]] =
      if (demands.isEmpty) Map.empty
      else {
        val spark = leaves.sparkSession
        import spark.implicits._
        val maxM = demands.map(_._2).max.toInt
        leaves
          .join(broadcast(demands.toDF("node", "_m")), Seq("node"))
          .groupBy(col("node"))
          .agg(graft.functions.BottomKLongs.bottomk(col("id"), maxM).as("ids"))
          .as[(String, Array[Long])].collect().toMap
      }
    pending.flatMap { p =>
      // take() is Int-bounded; a demanded count past 2³¹ can't be picked
      // driver-side anyway (the budget guard refuses such trees upstream)
      val want = math.min(p.selectCnt, Int.MaxValue.toLong).toInt
      val leafContribs = fetched.getOrElse(p.node, Array.empty[Long])
        .take(want).map(id => (1L, id)).toSeq
      (p.internal ++ leafContribs)
        .sortBy { case (cs, cid) => (-cs, cid) }
        .take(want).map(_._2)
    }
  }

  /** SPANN SelectHead with FIXED thresholds (B6,
    * `SelectHeadDynamicallyInternal` applied once): build the BKT over the
    * corpus, walk it, resolve split leaf picks, return the selected vectors
    * as `(head_id, head_vec)`. The dynamic ratio-targeting wrapper is
    * [[selectHeadsBktDynamic]].
    */
  def selectHeadsBkt(
      vectors: DataFrame,
      k: Int = 4,
      leafSize: Int = 8,
      maxLevels: Int = 8,
      selectThreshold: Int = 6,
      splitThreshold: Int = 25,
      splitFactor: Int = 5,
      metric: String = "l2sq"): DataFrame = {
    val (internal, leaves) = buildHeadTree(vectors, k, leafSize, maxLevels, metric)
    val nodes = collectTree(internal)
    val (selfEmits, _, pending) =
      walkHeadTree(nodes, selectThreshold, splitThreshold, splitFactor)
    val ids = (selfEmits ++ resolveBktSplits(leaves, pending)).distinct.sorted
    headsFromIds(vectors, ids)
  }

  /** Ratio-targeted SelectHead (`SelectHeadDynamically`,
    * `SPANNIndex.cpp:629-705`): sweep selectThreshold 2..max, binary-search
    * splitThreshold in (splitFactor, splitThresholdMax) minimizing
    * `|selected/n − ratio|`, then emit with the best pair. Each probe is a
    * COUNT-only walk over the collected internal tree (exact without leaf
    * ids), so the whole search costs zero extra Spark jobs; a ratio that
    * rounds to ≥ n short-circuits to "all vectors are heads"
    * (`SPANNIndex.cpp:633-643`).
    */
  def selectHeadsBktDynamic(
      vectors: DataFrame,
      ratio: Double,
      k: Int = 4,
      leafSize: Int = 8,
      maxLevels: Int = 8,
      selectThresholdMax: Int = 6,
      splitThresholdMax: Int = 25,
      splitFactor: Int = 5,
      metric: String = "l2sq"): DataFrame = {
    val n = vectors.count()
    if (math.round(ratio * n) >= n)
      return vectors.select(col("id").as("head_id"), col("vec").as("head_vec"))
    val (internal, leaves) = buildHeadTree(vectors, k, leafSize, maxLevels, metric)
    val nodes = collectTree(internal)
    var best = (selectThresholdMax, splitThresholdMax)
    var minDiff = 100.0
    for (select <- 2 to selectThresholdMax) {
      var l = splitFactor
      var r = splitThresholdMax
      while (l < r - 1) {
        val mid = (l + r) / 2
        val (_, cnt, _) = walkHeadTree(nodes, select, mid, splitFactor)
        val diff = cnt.toDouble / n - ratio
        if (math.abs(diff) < minDiff) { minDiff = math.abs(diff); best = (select, mid) }
        if (diff > 0) l = mid else r = mid
      }
    }
    val (selfEmits, _, pending) = walkHeadTree(nodes, best._1, best._2, splitFactor)
    val ids = (selfEmits ++ resolveBktSplits(leaves, pending)).distinct.sorted
    headsFromIds(vectors, ids)
  }

  /** Driver budget for the B6 parity walk's collected internal tree. The
    * frame is O(n/leafSize) when `maxLevels` is raised to keep `leafSize`
    * small on a huge corpus — bounded today by the defaults (≤ ~87k nodes
    * at k=4, maxLevels=8) but NOT structurally, so the collect is guarded:
    * fail loudly instead of OOMing the driver. The scalable SelectHead
    * path remains [[selectHeadsKMeans]] (the reference walk is
    * single-machine too — parity op, not the 100 TB path).
    */
  private[graft] val MaxTreeNodes: Long = 2L << 20

  private[graft] def collectTree(internal: DataFrame): Seq[BktTreeNode] = {
    val sel = internal.select("node", "parent", "center_id", "n_leaf")
    def refuse(n: Long): Nothing = throw new IllegalStateException(
      s"selectHeadsBkt: internal tree has $n nodes > $MaxTreeNodes driver " +
        "budget — raise leafSize / lower maxLevels, or use " +
        "selectHeadsKMeans (the scalable SelectHead path)")
    // the fromHeadsBounded guard shape (NearestHeads.scala:134): a frame
    // the optimizer's size estimate already proves driver-safe collects in
    // ONE job and is row-checked post-hoc; only an estimate-heavy frame
    // pays a count() probe, and it refuses BEFORE any collect
    val est = sel.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est > graft.functions.NearestHeadsExpr.SafeCollectBytes) {
      val n = sel.count()
      if (n > MaxTreeNodes) refuse(n)
    }
    val rows = sel.collect()
    if (rows.length > MaxTreeNodes) refuse(rows.length)
    rows.toSeq.map(r => BktTreeNode(r.getString(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
  }

  private def headsFromIds(vectors: DataFrame, ids: Seq[Long]): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors.join(broadcast(ids.toDF("id")), Seq("id"), "left_semi")
      .select(col("id").as("head_id"), col("vec").as("head_vec"))
  }

  /** Posting assignment (B8, `VectorIndex.cpp:884-986`): each vector joins
    * its `replicaCount` nearest heads. Heads are broadcast (ratio-bounded);
    * the corpus streams through map tasks and the bounded top-k aggregate
    * keeps the shuffle at O(n · replicaCount).
    *
    * Returns `(head_id, id, vec, dist)` — write this `partitionBy("head_id")`
    * (or bucketed) so stage-2 gets partition pruning.
    */
  def buildPostings(
      vectors: DataFrame,
      heads: DataFrame,
      replicaCount: Int,
      metric: String = "l2sq",
      maxHeadRows: Int = Spann.MaxBroadcastHeads): DataFrame =
    graft.functions.NearestHeadsExpr.fromHeadsBounded(
      heads, col("vec"), replicaCount, metric, maxHeadRows) match {
      case Some(nn) =>
        vectors
          .select(col("id"), col("vec"), explode(nn).as("r"))
          .select(col("r.id").as("head_id"), col("id"), col("vec"),
            col("r.dist").as("dist"))
      case None =>
        // over-budget head set: route automatically to the broadcast-join +
        // bounded-top-k form (Spark's executor-side broadcast, no driver
        // collect); past a broadcastable size entirely, use
        // [[buildPostingsHier]] via [[graft.AnnIndex]]'s hierThreshold switch
        buildPostingsViaJoin(vectors, heads, replicaCount, metric)
    }

  /** Join-formulated posting assignment — semantically identical to
    * [[buildPostings]] (tested equal); kept as the reference dataflow and
    * for heads too large to collect (then the broadcast join + partial
    * bounded top-k is the right shape).
    */
  def buildPostingsViaJoin(
      vectors: DataFrame,
      heads: DataFrame,
      replicaCount: Int,
      metric: String = "l2sq"): DataFrame = {
    val scored = vectors.crossJoin(broadcast(heads))
      .withColumn("hdist", dist.byName(metric)(col("vec"), col("head_vec")))
    scored
      .groupBy(col("id"))
      .agg(
        TopKByDistance.topk(col("head_id"), col("hdist"), replicaCount).as("nn"),
        first(col("vec")).as("vec"))
      .select(col("id"), col("vec"), explode(col("nn")).as("r"))
      .select(col("r.id").as("head_id"), col("id"), col("vec"),
        col("r.dist").as("dist"))
  }

  /** Posting assignment with the RNG rule between chosen heads (the
    * reference's ApproximateRNG: a head is skipped when an already-chosen
    * closer head makes it redundant, `VectorIndex.cpp:930-960`). Candidates =
    * `candidateFactor * replicaCount` nearest heads, pruned per-vector.
    */
  def buildPostingsRng(
      vectors: DataFrame,
      heads: DataFrame,
      replicaCount: Int,
      rngFactor: Double = 1.0,
      candidateFactor: Int = 4,
      metric: String = "l2sq"): DataFrame = {
    val candK = replicaCount * candidateFactor
    // bounded candidate set first (map-side top-k), THEN the per-vector prune
    val cands = buildPostings(vectors, heads, candK, metric)
      .join(broadcast(heads), Seq("head_id"))
    val withCands = cands
      .groupBy(col("id"))
      .agg(
        first(col("vec")).as("vec"),
        sort_array(collect_list(struct(
          col("dist"), col("head_id").as("cid"),
          col("head_vec").as("cvec")))).as("cands"))
    withCands
      .withColumn("accepted", RngPrune(col("cands"), rngFactor, replicaCount))
      .select(col("id"), col("vec"), explode(col("accepted")).as("head_id"))
      .select(col("head_id"), col("id"), col("vec"))
  }

  /** Posting assignment for head sets BEYOND a broadcast — the build-time
    * analogue of [[candidateHeadsHier]] (the reference descends its
    * in-memory head tree per vector, `SPANNIndex.cpp:848-887`; here the
    * descent is one routed level): each vector ranks the tiny super-head
    * set in-expression, fans ONLY to the heads routed to its `superK`
    * nearest super-heads via an equi-join on `super_id`, and keeps its
    * `replicaCount` nearest distinct heads. With full fan (superK = all
    * supers, routing = all (super, head) pairs) this equals
    * [[buildPostings]] exactly; partial fan trades assignment recall for a
    * per-vector candidate set bounded by superK · heads-per-super — no
    * full-head broadcast anywhere.
    */
  /** Routed posting assignment as ONE map pass: supers + routing ride inside
    * [[graft.functions.RoutedNearestHeadsExpr]] (driver-collect budget
    * guarded), so the only rows that ever exist are the O(n·replicaCount)
    * results — where [[buildPostingsHier]] materializes one joined row per
    * (vector, routed head) pair. Output and tie rules are identical
    * (SpannSpec pins routed ≡ hier); over-budget or ragged-dimension inputs
    * fall back to the join form automatically. The 10× scale probe measured
    * the join form at ~1 GB shuffle with row copies dominating its wall —
    * this is the assignment shape a 100 TB build wants until the head set
    * itself outgrows the expression budget.
    */
  def buildPostingsRouted(
      vectors: DataFrame,
      superHeads: DataFrame,
      routing: DataFrame,
      replicaCount: Int,
      superK: Int,
      metric: String = "l2sq",
      maxRoutingRows: Int = Spann.MaxBroadcastHeads): DataFrame =
    graft.functions.RoutedNearestHeadsExpr.fromFramesBounded(
      superHeads, routing, col("vec"), replicaCount, superK, metric,
      maxRoutingRows) match {
      case Some(nn) =>
        vectors
          .select(col("id"), col("vec"), explode(nn).as("r"))
          .select(col("r.id").as("head_id"), col("id"), col("vec"),
            col("r.dist").as("dist"))
      case None =>
        buildPostingsHier(vectors, superHeads, routing, replicaCount, superK,
          metric)
    }

  def buildPostingsHier(
      vectors: DataFrame,
      superHeads: DataFrame,
      routing: DataFrame,
      replicaCount: Int,
      superK: Int,
      metric: String = "l2sq"): DataFrame = {
    val sh = graft.functions.NearestHeadsExpr.fromHeads(
      superHeads.select(col("super_id").as("head_id"), col("super_vec").as("head_vec")),
      col("vec"), superK, metric)
    val fanned = vectors
      .select(col("id"), col("vec"), explode(sh).as("s"))
      .select(col("id"), col("vec"), col("s.id").as("super_id"))
      .join(routing.select(col("super_id"), col("head_id"), col("head_vec")), Seq("super_id"))
      .withColumn("hdist", dist.byName(metric)(col("vec"), col("head_vec")))
    fanned
      .groupBy(col("id"))
      .agg(
        TopKByDistance.topkDistinct(col("head_id"), col("hdist"), replicaCount).as("nn"),
        first(col("vec")).as("vec"))
      .select(col("id"), col("vec"), explode(col("nn")).as("r"))
      .select(col("r.id").as("head_id"), col("id"), col("vec"),
        col("r.dist").as("dist"))
  }

  /** Truncate postings per head (B9 `PostingPageLimit` semantics,
    * `ExtraFullGraphSearcher.h:723-760`): keep the `limit` closest vectors
    * per head, dropping the farthest replicas first.
    */
  def truncatePostings(postings: DataFrame, limit: Int): DataFrame = {
    val w = Window.partitionBy(col("head_id")).orderBy(col("dist"), col("id"))
    postings.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= limit).drop("_rn")
  }

  /** Posting-balance audit — the index-health report that tells an operator
    * whether a built SPANN layout is servable BEFORE queries hit it (the
    * reference prints per-posting page counts while laying out the SSD file,
    * `ExtraFullGraphSearcher.h:1206-1290`; at 100 TB the analogous check is
    * "is any head's posting so long that its bucket becomes a straggler, and
    * how much replica fan-out did we pay"). Output one row per observed
    * posting length: `(posting_len, n_heads, n_vectors)` — the same exact
    * integer-histogram shape as [[Dedup.dedupReport]], so the report is
    * engine-exact. Feed [[rebalancePostings]] with thresholds read off this
    * histogram. Scale: two hash aggregations (head-keyed then length-keyed),
    * state ∝ heads then ∝ distinct lengths; the vector column is never
    * touched.
    */
  def postingAudit(postings: DataFrame): DataFrame =
    postings.groupBy(col("head_id")).agg(count(lit(1)).as("posting_len"))
      .groupBy(col("posting_len")).agg(count(lit(1)).as("n_heads"))
      .withColumn("n_vectors", col("posting_len") * col("n_heads"))

  /** Posting rebalance — the SPANN maintenance op a continuously-ingesting
    * index needs between full rebuilds (the reference grows postings on add
    * and re-layouts on refine; SPFresh, cited in the reference `README.md:15`,
    * makes exactly this split/merge its core in-place update): one round of
    *
    *  - **split**: every head whose posting exceeds `maxLen` is replaced by
    *    TWO pivot heads — pivot A = the member farthest from the head
    *    (ties by id), pivot B = the member farthest from A (ties by id) —
    *    and its members re-assigned to the nearer pivot (ties → A). Pivot
    *    selection is collect-free in-plan `max_by` aggregation; the A-side
    *    keeps the old head id (stage-1 routing updates in place), the B-side
    *    gets `old_id + offset` where offset = max(head_id)+1 (computed
    *    in-plan, broadcast one-row);
    *  - **merge**: every head whose posting is under `minLen` is dropped and
    *    its members re-assigned (replica 1) to the nearest SURVIVING head —
    *    split pivots included — via the broadcast-bounded nearest-heads
    *    expression.
    *
    * Returns `(heads', postings')` in the standard shapes. One round halves
    * oversized postings (pivot splits are near-balanced on real clusters but
    * not guaranteed); run to fixpoint for a hard cap, exactly like the
    * reference's `SelectHead` `SplitFactor` iteration
    * (`SPANNIndex.cpp:538-577`). Duplicate replicas that collapse onto the
    * same (head, id) after re-assignment are deduped; all arithmetic is
    * deterministic ((dist, id) tie-breaks throughout), so the op is
    * oracle-replayable.
    *
    * Scale: lengths/pivots are per-head aggregations (posting-bounded
    * groups); the only corpus-wide ops are hash joins on `head_id` and the
    * final (head_id, id) dedup — no pair space, no windows over raw rows
    * beyond per-head groups.
    */
  def rebalancePostings(
      heads: DataFrame,
      postings: DataFrame,
      maxLen: Int,
      minLen: Int,
      metric: String = "l2sq"): (DataFrame, DataFrame) = {
    val lens = postings.groupBy(col("head_id")).agg(count(lit(1)).as("_len"))
    val over = lens.where(col("_len") > maxLen).select(col("head_id"))
    val under = lens.where(col("_len") < minLen).select(col("head_id"))
    val touched = over.union(under)

    // ---- split ----
    val members = postings.join(over, Seq("head_id"))
    val pivotA = members.groupBy(col("head_id"))
      .agg(max_by(struct(col("vec").as("vec"), col("id").as("id")),
        struct(col("dist"), col("id"))).as("a"))
    val pivots = members.join(pivotA, Seq("head_id"))
      .withColumn("_da", dist.byName(metric)(col("vec"), col("a.vec")))
      .groupBy(col("head_id"), col("a"))
      .agg(max_by(struct(col("vec").as("vec"), col("id").as("id")),
        struct(col("_da"), col("id"))).as("b"))
    val off = heads.agg((max(col("head_id")) + 1L).as("_off"))
    val sided = members.join(broadcast(pivots), Seq("head_id"))
      .crossJoin(broadcast(off))
      .withColumn("_dA", dist.byName(metric)(col("vec"), col("a.vec")))
      .withColumn("_dB", dist.byName(metric)(col("vec"), col("b.vec")))
    val splitPost = sided.select(
      when(col("_dA") <= col("_dB"), col("head_id"))
        .otherwise(col("head_id") + col("_off")).as("head_id"),
      col("id"), col("vec"),
      when(col("_dA") <= col("_dB"), col("_dA")).otherwise(col("_dB")).as("dist"))
    val splitHeads = pivots.crossJoin(broadcast(off))
      .select(col("head_id"), col("a.vec").as("head_vec"))
      .unionByName(pivots.crossJoin(broadcast(off))
        .select((col("head_id") + col("_off")).as("head_id"), col("b.vec").as("head_vec")))

    // ---- merge ----
    val survivors = heads.join(touched, Seq("head_id"), "left_anti")
      .unionByName(splitHeads)
    // every-head-undersized with nothing split would silently drop all
    // orphans (nothing to re-assign onto) — fail diagnosably instead; the
    // guard is one count over a heads-sized frame
    require(survivors.limit(1).count() > 0,
      s"rebalance leaves no surviving head (every posting under minLen=$minLen " +
        "and none over maxLen) — lower minLen or rebuild instead")
    val orphans = postings.join(under, Seq("head_id"))
      .select(col("id"), col("vec")).distinct()
    val nn = graft.functions.NearestHeadsExpr.fromHeads(
      survivors, col("vec"), 1, metric)
    val reassigned = orphans
      .select(col("id"), col("vec"), explode(nn).as("r"))
      .select(col("r.id").as("head_id"), col("id"), col("vec"),
        col("r.dist").as("dist"))

    val kept = postings.join(touched, Seq("head_id"), "left_anti")
    val newPostings = kept.unionByName(splitPost).unionByName(reassigned)
      .dropDuplicates("head_id", "id")
    (survivors, newPostings)
  }

  /** [[rebalancePostings]] iterated to a fixpoint — the hard-cap form: keep
    * splitting/merging until no posting exceeds `maxLen` (pivot splits
    * shrink strictly: each side loses at least the other side's pivot) or
    * `maxRounds` is hit. Mirrors the reference's threshold-adjustment loop
    * in `SelectHeadInternal` (`SPANNIndex.cpp:538-577`). Each round
    * checkpoints the posting frame so plan lineage stays bounded (the
    * [[graft.operators.BalancedKMeans]] loop convention); rounds are counted
    * by ONE aggregate job over posting lengths.
    */
  def rebalanceToFixpoint(
      heads: DataFrame,
      postings: DataFrame,
      maxLen: Int,
      minLen: Int,
      metric: String = "l2sq",
      maxRounds: Int = 8): (DataFrame, DataFrame) = {
    var h = heads
    var p = postings
    var rounds = 0
    var oversized = true
    while (oversized && rounds < maxRounds) {
      val worst = p.groupBy(col("head_id")).agg(count(lit(1)).as("_len"))
        .agg(coalesce(max(col("_len")), lit(0L))).head.getLong(0)
      oversized = worst > maxLen
      if (oversized) {
        val (h2, p2) = rebalancePostings(h, p, maxLen, minLen, metric)
        h = h2.localCheckpoint(true)
        p = p2.localCheckpoint(true)
        rounds += 1
      }
    }
    (h, p)
  }

  /** Two-stage SPANN search (Q5, `SPANNIndex.cpp:193-258`):
    * 1. stage-1: per query, `internalK` nearest heads (broadcast heads);
    *    prune candidates with `dist > maxDistRatio * bestDist`
    *    (`SPANNIndex.cpp:217-236`);
    * 2. stage-2 ([[searchFromCandidates]]): score the posting rows of the
    *    candidate heads only, dedup replicas (`m_deduper`), final top-k.
    */
  def searchTwoStage(
      queries: DataFrame,
      heads: DataFrame,
      postings: DataFrame,
      k: Int,
      internalK: Int,
      maxDistRatio: Double = Double.MaxValue,
      metric: String = "l2sq",
      headBuckets: Option[Int] = None,
      wideK: Int = 0,
      closeRatio: Double = 1.0,
      idFilter: Option[DataFrame] = None): DataFrame = {
    val cand = candidateHeads(
      queries, heads, internalK, maxDistRatio, metric, wideK, closeRatio)
    searchFromCandidates(cand, queries, postings, k, metric, headBuckets, idFilter)
  }

  /** Stage-2 from PRECOMPUTED stage-1 candidates `(query_id, head_id)` —
    * the entry for callers that time or cache the stages separately (the
    * serving path's head-vs-disk latency split, `SSDServing/SSDIndex.h:
    * 284-310`). Identical plan to the fused [[searchTwoStage]].
    *
    * `idFilter` (Q4 on the SPANN path — the reference evaluates a metadata
    * filter per candidate before result insertion): probed posting entries
    * semi-join the passing id set BEFORE distances are computed and BEFORE
    * the bounded top-k, so all k slots go to predicate-passing vectors.
    * Recall semantics mirror the reference: postings were built UNFILTERED,
    * so a highly selective predicate thins per-head candidates — widen
    * `internalK`/`wideK` to compensate, exactly like the reference's
    * `MaxCheck` advice for filtered search.
    */
  def searchFromCandidates(
      cand: DataFrame,
      queries: DataFrame,
      postings: DataFrame,
      k: Int,
      metric: String = "l2sq",
      headBuckets: Option[Int] = None,
      idFilter: Option[DataFrame] = None): DataFrame =
    perBatch(collectPairs(cand), queries)(
      searchPairs(_, _, postings, k, metric, headBuckets, idFilter))

  /** `run` over each collected batch of `queries`
    * ([[MultiTopK.collectBatches]]) with the stage-1 `pairs` of its queries,
    * the results unioned. One batch takes every pair; past one, a pair whose
    * query no batch holds goes with the first, whose [[MultiTopK.Probe]]
    * router names it.
    */
  private def perBatch(pairs: Array[(Long, Long)], queries: DataFrame)(
      run: (Array[(Long, Long)], MultiTopK.Queries) => DataFrame): DataFrame =
    MultiTopK.collectBatches(queries).map(_._2) match {
      case Seq(q) => run(pairs, q)
      case qs =>
        val of = pairs.groupBy(p => math.max(0, qs.indexWhere(_.contains(p._1))))
        qs.indices.map(i => run(of.getOrElse(i, Array.empty), qs(i))).reduce(_ unionByName _)
    }

  /** [[searchFromCandidates]] from collected candidates and queries. */
  private[graft] def searchPairs(
      pairs: Array[(Long, Long)],
      q: MultiTopK.Queries,
      postings: DataFrame,
      k: Int,
      metric: String,
      headBuckets: Option[Int],
      idFilter: Option[DataFrame]): DataFrame =
    stage2(pairs, q, postings, MultiTopK.Exact(q.vecs, metric), col("vec"), k,
      headBuckets, idFilter)

  /** [[searchPairs]] in the COMPRESSED domain: each probed posting entry
    * (`codedPostings` = `(head_id, id, codes[, head_bucket])`) is scored
    * from its stored `codes` through the query's ADC table, built by
    * [[graft.functions.PQ.Codebooks.adcLut]] over the rotated query.
    */
  private[graft] def adcPairs(
      pairs: Array[(Long, Long)],
      q: MultiTopK.Queries,
      codedPostings: DataFrame,
      rcb: graft.functions.PQ.RotatedCodebooks,
      k: Int,
      headBuckets: Option[Int],
      idFilter: Option[DataFrame]): DataFrame = {
    import scala.collection.immutable.ArraySeq.unsafeWrapArray
    val luts = q.vecs.map(v => rcb.cb.adcLut(unsafeWrapArray(rcb.rotate(unsafeWrapArray(v)))))
    stage2(pairs, q, codedPostings, MultiTopK.Lut(luts), col("codes"), k, headBuckets,
      idFilter)
  }

  /** Stage-1 candidates `(query_id, head_id)` collected to the driver. */
  private[graft] def collectPairs(cand: DataFrame): Array[(Long, Long)] =
    cand.select(col("query_id").cast("long"), col("head_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  /** THE stage-2, for every search form (flat or hier stage-1, exact or ADC
    * scoring, in-memory or disk-bucketed postings, with or without an id
    * filter): the collected stage-1 `(query_id, head_id)` candidates `pairs`
    * become the [[MultiTopK.Probe]] router over the collected batch `q`, so
    * ONE aggregate over the posting scan scores each row (`scorer` over
    * `scoreCol`) against only the queries that probe its head, and keeps the
    * replica-deduped bounded top-k — no joined (query, posting) row is ever
    * materialized. Candidates number at most |Q|·max(internalK, wideK) by
    * construction. The router scores a (query, id) pair once per run of
    * same-id, same-vector rows, so postings clustered by id (an in-memory
    * built index, [[graft.AnnIndex]]) score each replicated vector once per
    * query; any other row order gives the same result, with fewer skips.
    *
    * Before the aggregate the scan narrows where that buys something: a
    * bucketed posting frame (IndexStore's `head_bucket` partition column)
    * reads only the candidates' buckets through a static partition filter
    * ([[graft.sources.IndexStore.inBuckets]]) — the reference's selective
    * posting-page reads (`ExtraFullGraphSearcher.h:1206-1290`) — and an
    * `idFilter` semi-joins only the probed heads' rows
    * ([[graft.sources.IndexStore.pruneToHeads]]). The in-memory unfiltered
    * scan goes in as it is. No `head_id` filter is pushed into an
    * unfiltered scan: the router already skips unprobed rows.
    */
  private def stage2(
      pairs: Array[(Long, Long)],
      q: MultiTopK.Queries,
      postings: DataFrame,
      scorer: MultiTopK.Scorer,
      scoreCol: Column,
      k: Int,
      headBuckets: Option[Int],
      idFilter: Option[DataFrame]): DataFrame = {
    val heads = pairs.map(_._2).distinct
    val bucketed = headBuckets.filter(_ => postings.columns.contains("head_bucket"))
    val probed = idFilter match {
      case Some(f) =>
        IndexStore.pruneToHeads(postings, bucketed, heads)
          .join(f.select(col("id")), Seq("id"), "left_semi")
      case None => bucketed.fold(postings)(b => postings.where(IndexStore.inBuckets(b, heads)))
    }
    Knn.explodeRanked(MultiTopK.search(probed, q.ids, scorer,
      MultiTopK.Probe(k, pairs, q.ids), col("id"), scoreCol, col("head_id")))
  }

  /** Two-stage SPANN search in the COMPRESSED domain (Q5 + Q11 integrated —
    * the reference's quantized posting entries, `SPANN/Index.h:46-59`,
    * searched through the per-query ADC table,
    * `ExtraFullGraphSearcher.h:587-910`): stage-1 ranks heads on the
    * full-precision query exactly as [[searchTwoStage]]; stage-2 probes ONLY
    * the pruned postings, and scores each entry from its STORED `codes`
    * column — no full-precision corpus vector is read in stage 2 and nothing
    * re-quantizes at query time.
    *
    * `codedPostings` = `(head_id, id, codes[, head_bucket])`, i.e. the
    * posting table joined once (at build/load) with the persisted PQ codes.
    */
  def searchTwoStageAdc(
      queries: DataFrame,
      heads: DataFrame,
      codedPostings: DataFrame,
      rcb: graft.functions.PQ.RotatedCodebooks,
      k: Int,
      internalK: Int,
      maxDistRatio: Double = Double.MaxValue,
      metric: String = "l2sq",
      headBuckets: Option[Int] = None,
      idFilter: Option[DataFrame] = None): DataFrame =
    perBatch(collectPairs(candidateHeads(queries, heads, internalK, maxDistRatio, metric)),
      queries)(adcPairs(_, _, codedPostings, rcb, k, headBuckets, idFilter))

  /** Route each head to its `routeReplicas` nearest super-heads — the
    * broadcast-free routing table for [[searchTwoStageHier]]. Output
    * `(super_id, head_id, head_vec, rdist)`.
    */
  def routeHeads(
      heads: DataFrame,
      superHeads: DataFrame,
      routeReplicas: Int = 1,
      metric: String = "l2sq"): DataFrame =
    buildPostings(
      heads.select(col("head_id").as("id"), col("head_vec").as("vec")),
      superHeads.select(col("super_id").as("head_id"), col("super_vec").as("head_vec")),
      routeReplicas, metric)
      .select(col("head_id").as("super_id"), col("id").as("head_id"),
        col("vec").as("head_vec"), col("dist").as("rdist"))

  /** Stage-1 candidates via two-level head routing: queries hit the (tiny,
    * broadcastable) super-head set, then rank only the heads routed to those
    * super-heads. A head routed to several chosen super-heads is counted once
    * (distinct-id top-k; its query distance is deterministic). Evaluates as
    * ONE map pass over the query batch ([[graft.functions.RoutedNearestHeadsExpr]]
    * — for a large batch the join form materializes one row per
    * (query, routed head) pair, the cost the 10× probe measured on the
    * assignment side); over-budget routing tables fall back to the join
    * form ([[candidateHeadsHierJoin]], tested equal) automatically.
    */
  def candidateHeadsHier(
      queries: DataFrame,
      superHeads: DataFrame,
      routing: DataFrame,
      internalK: Int,
      superK: Int,
      metric: String = "l2sq",
      maxRoutingRows: Int = Spann.MaxBroadcastHeads): DataFrame =
    graft.functions.RoutedNearestHeadsExpr.fromFramesBounded(
      superHeads, routing, col("qvec"), internalK, superK, metric,
      maxRoutingRows) match {
      case Some(nn) =>
        queries
          .select(col("query_id"), posexplode(nn).as(Seq("pos", "r")))
          .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
            col("r.id").as("head_id"), col("r.dist").as("hdist"))
      case None =>
        candidateHeadsHierJoin(queries, superHeads, routing, internalK,
          superK, metric)
    }

  /** Join-formulated [[candidateHeadsHier]] — the fallback when the routing
    * table outgrows the expression's driver-collect budget (equi-join on
    * `super_id`, never a broadcast of the full head set); tested equal.
    */
  def candidateHeadsHierJoin(
      queries: DataFrame,
      superHeads: DataFrame,
      routing: DataFrame,
      internalK: Int,
      superK: Int,
      metric: String = "l2sq"): DataFrame = {
    val sh = graft.functions.NearestHeadsExpr.fromHeads(
      superHeads.select(col("super_id").as("head_id"), col("super_vec").as("head_vec")),
      col("qvec"), superK, metric)
    val fanned = queries
      .select(col("query_id"), col("qvec"), explode(sh).as("s"))
      .select(col("query_id"), col("qvec"), col("s.id").as("super_id"))
      .join(routing.select(col("super_id"), col("head_id"), col("head_vec")), Seq("super_id"))
      .withColumn("hdist", dist.byName(metric)(col("qvec"), col("head_vec")))
    fanned
      .groupBy(col("query_id"))
      .agg(TopKByDistance.topkDistinct(col("head_id"), col("hdist"), internalK).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "r")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("r.id").as("head_id"), col("r.dist").as("hdist"))
  }

  /** Two-stage SPANN search for corpora whose HEAD SET is itself beyond a
    * broadcast (the 100 TB growth path; the reference answers this with its
    * in-memory head tree, `SPANNIndex.cpp:848-887` — here the tree descent
    * becomes one more routed level): stage-0 ranks super-heads per query,
    * stage-1 ranks heads within the chosen super-head buckets via equi-join,
    * stage-2 probes postings as usual. Recall knobs: `superK` chosen
    * super-heads per query, `routeReplicas` super-heads per head.
    */
  def searchTwoStageHier(
      queries: DataFrame,
      superHeads: DataFrame,
      routing: DataFrame,
      postings: DataFrame,
      k: Int,
      internalK: Int,
      superK: Int,
      metric: String = "l2sq",
      idFilter: Option[DataFrame] = None): DataFrame = {
    val cand = candidateHeadsHier(queries, superHeads, routing, internalK, superK, metric)
    searchFromCandidates(cand, queries, postings, k, metric, idFilter = idFilter)
  }

  /** Resumable two-stage iterator (Q6 over SPANN —
    * `SPANNResultIterator.h:1-88`, `SPANNIndex.cpp:261-302`
    * SearchIndexIterative): the stage-1 head ranking is computed ONCE to the
    * full iteration budget (`maxInternalK`) and collected; each `next(b)`
    * widens the probe by the next `headBatch` heads and reruns the one
    * stage-2 over every head consumed so far (the reference's plain search
    * re-run with more heads), serving the best `b` not-yet-emitted ids per
    * query. Batches past the first head batch carry `relaxed_mono = true` —
    * the reference's continuation flag for results served beyond the
    * initial posting budget without the strict global-order guarantee.
    */
  def iterate(
      queries: DataFrame,
      heads: DataFrame,
      postings: DataFrame,
      headBatch: Int,
      maxInternalK: Int,
      metric: String = "l2sq"): SpannResultIterator =
    new SpannResultIterator(queries, heads, postings, headBatch, maxInternalK, metric)

  /** Stage-1 candidate heads per query: `(query_id, head_id)` (Q8
    * SearchTree semantics when used alone, `BKTIndex.cpp:713-736`).
    *
    * Adaptive widening (`wideK` > `internalK`): probe the top `internalK`
    * heads ALWAYS, plus heads ranked up to `wideK` whose distance stays
    * within `closeRatio` of the per-query best head. A query in a dense
    * region — where the 9th..24th heads are nearly as close as the 1st, the
    * geometry behind every sub-0.9 per-query recall in the q11 fixture —
    * automatically probes more postings; a query with a steep head-distance
    * profile pays nothing. This is the reference's dynamic-pivot
    * compensation as a per-row predicate (`BKTIndex.cpp:150,204`: when
    * unexplored tree pivots are still competitive with the current queue,
    * SearchTrees pulls more of them), with `wideK` bounding the blowup on
    * degenerate-flat geometry.
    */
  def candidateHeads(
      queries: DataFrame,
      heads: DataFrame,
      internalK: Int,
      maxDistRatio: Double = Double.MaxValue,
      metric: String = "l2sq",
      wideK: Int = 0,
      closeRatio: Double = 1.0,
      maxHeadRows: Int = Spann.MaxBroadcastHeads): DataFrame = {
    val probeK = math.max(internalK, wideK)
    // heads are ratio-bounded (broadcastable by contract) → tight-loop
    // expression per query row; nn arrives (dist, id)-sorted, so nn[0] is
    // the per-query best distance — no window needed for the ratio prune.
    // An over-budget head set routes automatically to the inverted shape:
    // the bounded query batch rides INSIDE a [[graft.functions.MultiTopK]]
    // aggregate over one scan of the heads frame — no head collect or
    // broadcast at any size (past THAT, the hier route in [[graft.AnnIndex]]
    // bounds the per-query candidate set too)
    val withNN = graft.functions.NearestHeadsExpr.fromHeadsBounded(
      heads, col("qvec"), probeK, metric, maxHeadRows) match {
      case Some(nn) => queries.select(col("query_id"), nn.as("nn"))
      case None =>
        Knn.searchAgg(queries,
          heads.select(col("head_id").as("id"), col("head_vec").as("vec")), probeK, metric)
    }
    val exploded = withNN
      .select(col("query_id"),
        element_at(col("nn"), 1).getField("dist").as("_best"),
        posexplode(col("nn")).as(Seq("pos", "r")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("r.id").as("head_id"), col("r.dist").as("hdist"), col("_best"))
    val widened =
      if (probeK > internalK)
        exploded.where(col("rank") <= internalK ||
          col("hdist") <= lit(closeRatio) * col("_best"))
      else exploded
    val pruned =
      if (maxDistRatio == Double.MaxValue) widened
      // the ratio means nothing against a best distance <= 0 (ip/dot are
      // negative; a query on a head has l2sq best 0): prune only past best > 0
      else widened.where(col("_best") <= 0 || col("hdist") <= lit(maxDistRatio) * col("_best"))
    pruned.drop("_best")
  }

  /** [[candidateHeads]] of a collected batch over a resident head table, on
    * the driver: `scan` is the [[graft.functions.NearestHeadsExpr]] that
    * candidateHeads evaluates per query row (built with r = max(internalK,
    * wideK)), run through its thread-safe entry point on every core (the
    * common ForkJoin pool, whose threads are daemons). The WideK/CloseRatio
    * widening and the `best > 0` MaxDistRatio prune are candidateHeads'
    * predicates under Spark SQL's double comparison (NaN equals NaN and
    * sorts above every number), so the pairs are the same set; a query with
    * no head gets none.
    */
  private[graft] def candidatePairs(
      q: MultiTopK.Queries,
      scan: graft.functions.NearestHeadsExpr,
      internalK: Int,
      maxDistRatio: Double,
      wideK: Int,
      closeRatio: Double): Array[(Long, Long)] = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    def le(a: Double, b: Double): Boolean = compareDoubles(a, b) <= 0
    val widen = scan.r > internalK
    val prune = maxDistRatio != Double.MaxValue
    val per = new Array[Array[(Long, Long)]](q.ids.length)
    java.util.stream.IntStream.range(0, q.ids.length).parallel().forEach { qi =>
      val nn = scan.nearest(q.vecs(qi))
      val best = if (nn.isEmpty) 0.0 else nn(0)._2
      per(qi) = nn.indices.iterator.filter { i =>
        val hdist = nn(i)._2
        (!widen || i < internalK || le(hdist, closeRatio * best)) &&
          (!prune || le(best, 0.0) || le(hdist, maxDistRatio * best))
      }.map(i => (q.ids(qi), nn(i)._1)).toArray
    }
    per.flatten
  }
}

/** Handle for [[Spann.iterate]] — the two-stage analogue of
  * [[graft.operators.ResultIterator]]. State: the collected query batches
  * ([[MultiTopK.collectBatches]]), the collected stage-1 ranking
  * `(query_id, head_id, rank)` to `maxInternalK`, the consumed head count,
  * and the ids already emitted per query. `next(b)` runs the one stage-2
  * ([[Spann.searchPairs]]) over the pairs ranked within the consumed heads
  * with `k = b + E`, E the most ids emitted for any query of the batch,
  * then drops the emitted ids and keeps the first `b`: an emitted id
  * outranks at most E of the best `b` unemitted ones, so those are all
  * inside the top `b + E`, each at its smallest distance over the probed
  * postings. Successive batches are disjoint per query; `headBuckets` (a
  * loaded index's bucket count) lets stage-2 read only the consumed heads'
  * buckets. Nothing is cached, so `close()` (`SPANNResultIterator::Close`)
  * has nothing to release.
  */
final class SpannResultIterator private[graft] (
    queries: DataFrame,
    heads: DataFrame,
    postings: DataFrame,
    headBatch: Int,
    maxInternalK: Int,
    metric: String,
    headBuckets: Option[Int] = None,
    maxRows: Int = MultiTopK.MaxQueryRows,
    maxBytes: Long = MultiTopK.MaxQueryBytes) {
  // each collected batch with its queries' stage-1 (query_id, head_id, rank)
  private val work = {
    val ranked = Spann.candidateHeads(queries, heads, maxInternalK, metric = metric)
      .select(col("query_id").cast("long"), col("head_id").cast("long"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    MultiTopK.collectBatches(queries, maxRows = maxRows, maxBytes = maxBytes)
      .map { case (_, q) => (q, ranked.filter(p => q.contains(p._1))) }
  }
  private var consumed = 0
  private val emitted = scala.collection.mutable.HashMap.empty[Long, Set[Long]]

  def hasNext: Boolean = consumed < maxInternalK

  def next(b: Int): DataFrame = {
    require(b > 0, s"next requires b > 0, got $b")
    val relaxed = consumed >= headBatch // past the first posting budget
    consumed = math.min(consumed + headBatch, maxInternalK)
    val rows = work.flatMap { case (q, ranked) =>
      val pairs = ranked.collect { case (qid, hid, rank) if rank <= consumed => (qid, hid) }
      val e = q.ids.iterator.map(emitted.get(_).fold(0)(_.size)).maxOption.getOrElse(0)
      Spann.searchPairs(pairs, q, postings, b + e, metric, headBuckets, None).collect()
    }.groupBy(_.getLong(0)).toSeq.sortBy(_._1).flatMap { case (qid, hits) =>
      val seen = emitted.getOrElse(qid, Set.empty[Long])
      val fresh = hits.sortBy(_.getInt(1)).map(h => (h.getLong(2), h.getDouble(3)))
        .filterNot(h => seen(h._1)).take(b)
      emitted(qid) = seen ++ fresh.map(_._1)
      fresh.zipWithIndex.map { case ((id, d), i) => (qid, i + 1, id, d, relaxed) }
    }
    import queries.sparkSession.implicits._
    rows.toDF("query_id", "rank", "id", "dist", "relaxed_mono")
  }

  /** Releases nothing: the iterator holds no cached frame. */
  def close(): Unit = ()
}
