package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hash60

/** Approximate-nearest-neighbor search over an embedding column
  * (`ARRAY<FLOAT>`). Three tiers:
  *  - [[bruteForce]]: exact top-k — the correctness baseline / truth source;
  *  - [[ivfSearch]]: IVF/SPANN-style clustered search — the 100 TB path
  *    (reuses [[Spann]]: broadcastable centroid table + postings
  *    partitioned by centroid → partition-pruned probes);
  *  - [[lshCodes]]: hyperplane-LSH bucket codes for near-dup blocking.
  */
object SimilaritySearch {

  /** Exact top-k (cosine by default) — queries (query_id, qvec) × corpus
    * (id, vec). Same scalable shape as [[Knn.search]].
    */
  def bruteForce(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      metric: String = "cos"): DataFrame =
    Knn.search(queries, corpus, k, metric)

  /** IVF: centroids = every-nth vectors (deterministic, oracle-able) or
    * k-means centers; each vector assigned to its nearest `replicas`
    * centroid(s); queries probe `nprobe` centroids.
    */
  def ivfSearch(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      centroidEveryNth: Int,
      nprobe: Int,
      replicas: Int = 1,
      metric: String = "cos"): DataFrame = {
    val cents = Spann.selectHeadsModulo(corpus, centroidEveryNth)
    val postings = Spann.buildPostings(corpus, cents, replicas, metric)
    Spann.searchTwoStage(queries, cents, postings, k, nprobe, metric = metric)
  }

  /** Recall-vs-nprobe curve for [[ivfSearch]] — the tuning table an IVF
    * deployment reads before picking its probe budget (the LSH analogue is
    * [[graft.operators.Dedup.bandingRecall]]): per candidate `nprobe`,
    * recall@k of the IVF result against the exact scan. One row per nprobe:
    * `(nprobe, n_true, n_hit, recall)`, recall a single integer divide —
    * engine-exact.
    *
    * Cost shape: the index (centroids + postings) is built ONCE and
    * checkpointed; the exact truth is ONE [[Knn.search]] corpus scan; each
    * probe level reuses both, so the sweep costs `|nprobes|` bounded
    * two-stage searches, not `|nprobes|` index builds.
    */
  def ivfRecallCurve(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      centroidEveryNth: Int,
      nprobes: Seq[Int],
      metric: String = "cos"): DataFrame = {
    require(nprobes.nonEmpty)
    val cents = Spann.selectHeadsModulo(corpus, centroidEveryNth)
      .localCheckpoint(true)
    val postings = Spann.buildPostings(corpus, cents, 1, metric)
      .localCheckpoint(true)
    val truth = Knn.search(queries, corpus, k, metric)
      .select(col("query_id"), col("id")).localCheckpoint(true)
    val nT = truth.agg(count(lit(1)).as("n_true"))
    nprobes.map { np =>
      val hit = Spann.searchTwoStage(queries, cents, postings, k, np,
        metric = metric)
        .select(col("query_id"), col("id"))
        .join(truth, Seq("query_id", "id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      nT.crossJoin(broadcast(hit)).select(
        lit(np).as("nprobe"), col("n_true"), col("n_hit"),
        when(col("n_true") > 0,
          col("n_hit").cast("double") / col("n_true").cast("double"))
          .as("recall"))
    }.reduce(_.unionByName(_))
  }

  /** Deterministic hyperplane-LSH codes: `planes` pseudo-random integer
    * hyperplanes derived from [[Hash60]] (plane p, dim d →
    * weight = hash60(p||'_'||d) % 2001 − 1000); embeddings are quantized to
    * integers (×1000, rounded) so the dot-product sign is integer-exact and
    * identical in any engine / any summation order. Output `(id, code)`.
    */
  def lshCodes(emb: DataFrame, dims: Int, planes: Int = 8): DataFrame = {
    val q = transform(col("vec"), v => round(v.cast("double") * 1000).cast("long"))
    val withQ = emb.select(col("id"), q.as("qv"))
    val code = (0 until planes).map { p =>
      val dot = (0 until dims).map { d =>
        col("qv").getItem(d) * lit(SimilaritySearch.planeWeight(p, d))
      }.reduce(_ + _)
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    withQ.select(col("id"), code.as("code"))
  }

  /** `(id, band, bv)` rows: the `planes`-bit hyperplane code split into
    * `rowsPerBand`-plane bands — the one banding definition [[lshNearDup]]
    * and [[lshSearch]] (and their mirrored oracles) share.
    */
  private def bandedCodes(
      emb: DataFrame,
      dims: Int,
      planes: Int,
      rowsPerBand: Int): DataFrame = {
    require(planes % rowsPerBand == 0, s"planes $planes not divisible by band width $rowsPerBand")
    val nb = planes / rowsPerBand
    lshCodes(emb, dims, planes).select(col("id"), posexplode(
      array((0 until nb).map(b =>
        shiftright(col("code"), b * rowsPerBand) % (1 << rowsPerBand)): _*))
      .as(Seq("band", "bv")))
  }

  /** Integer weight of LSH plane `p`, dimension `d` — host-side mirror of
    * hash60(s"${p}_${d}") % 2001 - 1000 (md5-based, engine-independent).
    */
  def planeWeight(p: Int, d: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${p}_$d".getBytes("UTF-8"))
    val hex = md.map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % 2001 - 1000
  }

  /** ANN search via banded-LSH blocking — the query-side complement of
    * [[lshNearDup]]: a query's candidates are the corpus vectors agreeing
    * with it on ANY `rowsPerBand`-plane band of the hyperplane code, exact
    * re-ranked to top-k. All equi-joins (shuffle ∝ corpus·bands); recall is
    * governed by (planes, rowsPerBand) exactly like LSH-bucketed dedup.
    * Queries yielding fewer than k candidates return what the blocking
    * surfaced — the approximate-search contract.
    *
    * Output `(query_id, rank, id, dist)` like [[bruteForce]]; deterministic
    * (integer-exact hyperplanes), so the oracle mirrors it band-for-band.
    */
  def lshSearch(
      queries: DataFrame,
      corpus: DataFrame,
      dims: Int,
      k: Int,
      planes: Int = 8,
      rowsPerBand: Int = 2,
      metric: String = "cos"): DataFrame = {
    val qbands = bandedCodes(
      queries.select(col("query_id").as("id"), col("qvec").as("vec")),
      dims, planes, rowsPerBand)
      .select(col("id").as("query_id"), col("band"), col("bv"))
    val cand = bandedCodes(corpus, dims, planes, rowsPerBand)
      .join(qbands, Seq("band", "bv"))
      .select(col("query_id"), col("id")).distinct()
    val scored = cand
      .join(corpus.select(col("id"), col("vec")), Seq("id"))
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), Seq("query_id"))
      .withColumn("dist", graft.functions.dist.byName(metric)(col("qvec"), col("vec")))
    graft.operators.Knn.explodeRanked(
      scored.groupBy(col("query_id"))
        .agg(graft.functions.TopKByDistance.topk(col("id"), col("dist"), k).as("nn")))
  }

  /** Multi-probe LSH search (Lv et al. 2007): [[lshSearch]] with the query
    * side ALSO probing the single-bit perturbations of each of its band
    * values — the candidates a borderline vector hashes to when it lands
    * just across one hyperplane. Recall rises toward brute force without
    * more hash tables or a bigger corpus index; the corpus side is
    * untouched (same banded codes, same equi-join — only the broadcast
    * query side fans out ×(1 + rowsPerBand) probe rows).
    */
  def lshSearchMultiProbe(
      queries: DataFrame,
      corpus: DataFrame,
      dims: Int,
      k: Int,
      planes: Int = 8,
      rowsPerBand: Int = 2,
      metric: String = "cos"): DataFrame = {
    val qb = bandedCodes(
      queries.select(col("query_id").as("id"), col("qvec").as("vec")),
      dims, planes, rowsPerBand)
      .select(col("id").as("query_id"), col("band"), col("bv"))
    // probe set = the exact band value + each single-bit flip of it
    val probes = qb.select(col("query_id"), col("band"),
      explode(array(col("bv") +:
        (0 until rowsPerBand).map(b => col("bv").bitwiseXOR(lit(1L << b))): _*))
        .as("bv"))
    val cand = bandedCodes(corpus, dims, planes, rowsPerBand)
      .join(probes, Seq("band", "bv"))
      .select(col("query_id"), col("id")).distinct()
    val scored = cand
      .join(corpus.select(col("id"), col("vec")), Seq("id"))
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), Seq("query_id"))
      .withColumn("dist", graft.functions.dist.byName(metric)(col("qvec"), col("vec")))
    graft.operators.Knn.explodeRanked(
      scored.groupBy(col("query_id"))
        .agg(graft.functions.TopKByDistance.topk(col("id"), col("dist"), k).as("nn")))
  }

  /** Near-dup blocking via banded LSH codes: split the `planes`-bit code into
    * bands of `rowsPerBand` planes; candidates = pairs agreeing on ANY band
    * (equi-join on `(band, band_value)` — shuffle ∝ corpus·bands, never an
    * all-pairs crossJoin), then verified by exact cosine distance. The scale
    * path for [[Dedup.embeddingPairs]]: the reference never brute-forces the
    * corpus at search time either (`ExtraFullGraphSearcher.h:226-377` reads
    * only the pruned posting pages). Banding over whole-code agreement: a
    * pair at the cosine threshold agrees on some 2-plane band with ~4x the
    * probability it agrees on all 8 planes.
    *
    * Output `(a, b, cos_dist)`, a < b — the candidates the blocking surfaces,
    * verified exactly; deterministic (integer-exact hyperplanes), so the
    * DuckDB oracle reproduces it band-for-band.
    */
  def lshNearDup(
      emb: DataFrame,
      dims: Int,
      maxCosDist: Double,
      planes: Int = 8,
      rowsPerBand: Int = 2): DataFrame = {
    val banded = bandedCodes(emb, dims, planes, rowsPerBand)
    val cand = banded.select(col("id").as("a"), col("band"), col("bv"))
      .join(banded.select(col("id").as("b"), col("band"), col("bv")), Seq("band", "bv"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    cand
      .join(emb.select(col("id").as("a"), col("vec").as("va")), Seq("a"))
      .join(emb.select(col("id").as("b"), col("vec").as("vb")), Seq("b"))
      .withColumn("cos_dist", graft.functions.dist.cos(col("va"), col("vb")))
      .where(col("cos_dist") < maxCosDist)
      .select(col("a"), col("b"), round(col("cos_dist"), 4).as("cos_dist"))
  }

  /** Hard-negative mining for contrastive training: for each anchor, the k
    * nearest corpus vectors with a DIFFERENT label. ONE label-aware bounded
    * top-k corpus scan ([[graft.functions.MultiTopK.Labeled]]): every anchor
    * rides inside the aggregate with its label, each corpus row updates the
    * anchors whose label differs, and no per-label pass or per-pair
    * label-predicate join ever forms — the scan count is 1 regardless of
    * how many classes exist (pre-r10 this looped one `batch_topk` scan per
    * label value; same result, |labels|× the corpus reads).
    */
  def hardNegatives(
      vectors: DataFrame, // (id, vec, label)
      k: Int,
      metric: String = "cos"): DataFrame = {
    Knn.explodeRanked(
      labeledSearch(vectors, 0, k, metric).select(col("query_id"), col("neg").as("nn")))
  }

  /** Every vector of `(id, vec, label)` as an anchor, through ONE
    * label-aware [[graft.functions.MultiTopK]] scan of the same vectors per
    * collected anchor batch → `(query_id, pos, neg)`.
    */
  private def labeledSearch(vectors: DataFrame, kPos: Int, kNeg: Int,
      metric: String): DataFrame = {
    import graft.functions.MultiTopK
    MultiTopK.collectBatches(vectors, "id", "vec", Some("label")).map { case (_, q) =>
      MultiTopK.search(vectors, q.ids, MultiTopK.Exact(q.vecs, metric),
        MultiTopK.Labeled(kPos, kNeg, q.ids, q.labels), col("id"), col("vec"), col("label"))
    }.reduce(_ unionByName _)
  }

  /** Triplet mining for contrastive training: for every anchor, its nearest
    * SAME-label member (the positive, self excluded) and its nearest
    * DIFFERENT-label member (the hard negative — [[hardNegatives]] at
    * k = 1), plus the margin `neg_dist − pos_dist` (negative margin = the
    * hard triplet a metric-learning loss actually moves). Both buffers fill
    * in the SAME single label-aware corpus scan
    * ([[graft.functions.MultiTopK.Labeled]] with kPos = kNeg = 1) — pre-r10
    * this was two per-label scan loops. Anchors whose class is a singleton
    * (no possible positive) drop out, as do anchors when only one class
    * exists — the inner-join semantics of the original formulation.
    *
    * Output `(anchor, pos_id, pos_dist, neg_id, neg_dist, margin)`; all
    * distances 4dp, margin computed over the rounded values.
    */
  def tripletMine(
      vectors: DataFrame, // (id, vec, label)
      metric: String = "cos"): DataFrame = {
    labeledSearch(vectors, 1, 1, metric)
      .where(size(col("pos")) > 0 && size(col("neg")) > 0)
      .select(col("query_id").as("anchor"),
        col("pos")(0).getField("id").as("pos_id"),
        round(col("pos")(0).getField("dist"), 4).as("pos_dist"),
        col("neg")(0).getField("id").as("neg_id"),
        round(col("neg")(0).getField("dist"), 4).as("neg_dist"))
      .withColumn("margin", round(col("neg_dist") - col("pos_dist"), 4))
  }

  /** k-NN label classification (auto-labeling / label-noise audit): predict
    * each query's label as the majority vote of its k nearest corpus
    * labels, ties to the smaller label. `(query_id, pred_label, votes)`.
    * One exact search + one k-row-per-query aggregation.
    */
  def knnClassify(
      queries: DataFrame,
      corpus: DataFrame, // (id, vec, label)
      k: Int,
      metric: String = "cos"): DataFrame =
    Knn.search(queries, corpus.select(col("id"), col("vec")), k, metric)
      .join(corpus.select(col("id"), col("label")), Seq("id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("query_id"))
      .agg(max_by(
        struct(col("label"), col("votes")),
        struct(col("votes"), (-col("label")).as("nl"))).as("best"))
      .select(col("query_id"), col("best.label").as("pred_label"),
        col("best.votes").as("votes"))

  /** kNN label-noise audit (confident-learning style): flag vectors whose
    * k nearest OTHER vectors majority-vote a different label — the standard
    * "find the mislabeled training examples" pass before a classifier fit
    * ([[knnClassify]] predicts; this audits the corpus against itself).
    * Integer labels by contract (the [[knnClassify]] tie rule: most votes,
    * then the smaller label). Output: the FLAGGED rows only, with evidence
    * `(id, label, pred_label, votes_pred, votes_own)`.
    *
    * Self-kNN here is the exact all-as-queries form (fixture-bounded, the
    * q95/knnDigraph pattern — one `batch_topk` corpus scan); at corpus
    * scale feed the audit from the B2/B3 TP-tree graph's edge list
    * instead. Top-(k+1) then drop self: removing one element only
    * promotes, so the k best remaining ranks are exactly the self-free
    * top-k. The per-query re-rank window runs on ≤k+1 rows per
    * high-cardinality key.
    */
  def labelNoise(
      vectors: DataFrame, // (id, vec, label: integer)
      k: Int,
      metric: String = "cos"): DataFrame = {
    val base = vectors.select(col("id"), col("vec"), col("label"))
    val qs = base.select(col("id").as("query_id"), col("vec").as("qvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rank"))
    val votes = Knn.search(qs, base.select(col("id"), col("vec")), k + 1, metric)
      .where(col("id") =!= col("query_id"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .join(base.select(col("id"), col("label").as("_nl")), Seq("id"))
      .groupBy(col("query_id"), col("_nl")).agg(count(lit(1)).as("_v"))
    val best = votes.groupBy(col("query_id"))
      .agg(max_by(struct(col("_nl"), col("_v")),
        struct(col("_v"), (-col("_nl")).as("nl"))).as("_b"))
      .select(col("query_id").as("id"), col("_b._nl").as("pred_label"),
        col("_b._v").as("votes_pred"))
    val lbl = base.select(col("id"), col("label"))
    val ownVotes = lbl.join(
      votes.select(col("query_id").as("id"), col("_nl").as("label"),
        col("_v").as("_vo")), Seq("id", "label"), "left")
    ownVotes.join(best, Seq("id"))
      .where(col("pred_label") =!= col("label"))
      .select(col("id"), col("label"), col("pred_label"), col("votes_pred"),
        coalesce(col("_vo"), lit(0L)).as("votes_own"))
  }

  /** Coarse-to-fine ANN over 1-bit codes ([[graft.functions.BinaryQuantizer]]):
    * Hamming candidate generation over packed sign codes (XOR + popcount —
    * 8 bytes per corpus row instead of a float vector), then exact `metric`
    * re-rank of the top-`rerankR` survivors to top-`k`. The standard
    * billion-scale two-stage: the coarse pass streams the code column at
    * memory bandwidth; the float vectors are touched for only `R` rows per
    * query.
    *
    * Plan shape: query codes are a broadcast ≤|Q|-row side (the batch-query
    * contract, same as [[Knn.search]]); the corpus code column streams once
    * through a partial-aggregating bounded top-R ([[graft.functions.TopKByDistance]]
    * — ties on id, fully deterministic), so the per-task fan-out is 16-byte
    * rows and the shuffle is ≤R rows per query. Re-rank joins the ≤|Q|·R
    * candidate set back to the corpus on `id` — at scale that semi-join
    * prunes the vector scan instead of re-reading it whole.
    *
    * Deterministic end-to-end (integer-exact codes, tie-broken Hamming
    * top-R, double-exact re-rank) — the DuckDB oracle mirrors it
    * stage-for-stage.
    */
  def binarySearch(
      queries: DataFrame,
      corpus: DataFrame,
      dims: Int,
      k: Int,
      rerankR: Int,
      metric: String = "l2sq"): DataFrame = {
    import graft.functions.BinaryQuantizer
    val stats = BinaryQuantizer.fit(corpus)
    val ccodes = BinaryQuantizer.codes(corpus, stats, dims)
    val qcodes = BinaryQuantizer.codes(
      queries.select(col("query_id").as("id"), col("qvec").as("vec")), stats, dims)
      .select(col("id").as("query_id"), col("bcode").as("qcode"))
    val cand = ccodes.crossJoin(broadcast(qcodes))
      .withColumn("_h",
        graft.functions.BinaryQuantizer.hamming(col("bcode"), col("qcode")).cast("double"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByDistance.topk(col("id"), col("_h"), rerankR).as("nn"))
      .select(col("query_id"), explode(col("nn")).as("r"))
      .select(col("query_id"), col("r.id").as("id"))
    val rer = cand
      .join(corpus.select(col("id"), col("vec")), Seq("id"))
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), Seq("query_id"))
      .withColumn("dist", graft.functions.dist.byName(metric)(col("qvec"), col("vec")))
    Knn.explodeRanked(
      rer.groupBy(col("query_id"))
        .agg(graft.functions.TopKByDistance.topk(col("id"), col("dist"), k).as("nn")))
  }

  /** Per-dimension embedding health report — the ML-ops audit run before
    * any index build: per coordinate, count / mean / std / zero-share /
    * min / max and a `dead` flag (constant dimension — a collapsed encoder
    * head, or a padded tail that wastes index bytes). Mean and std come
    * from ×1000-integer power sums in DECIMAL(38,0) (order-exact at any
    * partitioning, the q187 convention) with ONE terminal IEEE divide (and
    * one IEEE sqrt) each — and are emitted UNROUNDED: every op is mirrored
    * bit-for-bit in the oracle, so the doubles hash-match exactly, whereas
    * a 6dp round() at a half boundary is engine-dependent (Spark rounds
    * the shortest decimal repr, DuckDB the binary value — observed live on
    * this very query at sf0.1, dim 28). min/max/zero-count are exact as-is.
    *
    * Scale shape: one posexplode (in-row) + one hash aggregation keyed by
    * dimension — state ∝ d, never rows; the d-row result broadcasts
    * anywhere downstream. Output
    * `(dim, n, mean, std, n_zero, minv, maxv, dead)`, dim 0-based.
    */
  def embeddingHealth(emb: DataFrame, vecCol: String = "vec"): DataFrame = {
    val bigDec = "decimal(38,0)"
    emb
      .select(posexplode(col(vecCol)).as(Seq("dim", "xf")))
      .select(col("dim"), col("xf").cast("double").as("x"),
        round(col("xf").cast("double") * 1000).cast("long").as("xs"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).cast(bigDec).as("_n"),
        sum(col("xs")).cast(bigDec).as("_s"),
        sum((col("xs") * col("xs")).cast(bigDec)).as("_ss"),
        sum(when(col("x") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        min(col("x")).as("minv"),
        max(col("x")).as("maxv"))
      .select(col("dim"),
        col("_n").cast("long").as("n"),
        (col("_s").cast("double") / (col("_n") * 1000L).cast("double"))
          .as("mean"),
        (sqrt((col("_n") * col("_ss") - col("_s") * col("_s")).cast("double")) /
          (col("_n") * 1000L).cast("double")).as("std"),
        col("n_zero"),
        col("minv"),
        col("maxv"),
        (col("minv") === col("maxv")).as("dead"))
  }

  /** Matryoshka (prefix-dimension) two-stage search: MRL-trained embeddings
    * (Kusupati et al. 2022) nest coarse meaning in their leading
    * coordinates, so stage 1 ranks the corpus by distance over ONLY the
    * first `dPrefix` dims — `dPrefix/d` of the flops and scan bytes of a
    * full pass when the store lays the prefix out as its own column — and
    * keeps `rerank` candidates per query; stage 2 re-scores just those ≤
    * |Q|·rerank rows with the full vector. The dimension-sliced sibling of
    * [[binarySearch]]'s bit-sliced coarse pass.
    *
    * Plan shape: stage 1 is the [[Knn.searchAgg]] single-scan bounded
    * aggregate over SLICED vectors (slice is in-row; queries broadcast by
    * contract); stage 2's semi-join back on `id` prunes the full-vector
    * read to candidates. Deterministic (ties on id both stages), so the
    * oracle mirrors it stage-for-stage; with `dPrefix` = d it degenerates
    * to exact [[bruteForce]].
    */
  def matryoshkaSearch(
      queries: DataFrame,
      corpus: DataFrame,
      dPrefix: Int,
      k: Int,
      rerank: Int,
      metric: String = "cos"): DataFrame = {
    require(dPrefix >= 1 && rerank >= k,
      s"need dPrefix >= 1 and rerank ($rerank) >= k ($k)")
    val cand = Knn.searchAgg(
      queries.select(col("query_id"), slice(col("qvec"), 1, dPrefix).as("qvec")),
      corpus.select(col("id"), slice(col("vec"), 1, dPrefix).as("vec")),
      rerank, metric)
      .select(col("query_id"), explode(col("nn")).as("r"))
      .select(col("query_id"), col("r.id").as("id"))
    val rer = cand
      .join(corpus.select(col("id"), col("vec")), Seq("id"))
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), Seq("query_id"))
      .withColumn("dist", graft.functions.dist.byName(metric)(col("qvec"), col("vec")))
    Knn.explodeRanked(
      rer.groupBy(col("query_id"))
        .agg(graft.functions.TopKByDistance.topk(col("id"), col("dist"), k).as("nn")))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023: cluster the embedding
    * space, then near-dup only WITHIN clusters): centroids are the
    * deterministic every-nth sample ([[Spann.selectHeadsModulo]] — swap in
    * [[BalancedKMeans]] centers for a trained codebook, same dataflow), each
    * vector is assigned to its single nearest centroid
    * ([[Spann.buildPostings]] with replicas = 1), and candidate pairs form
    * ONLY inside a cluster — the pair space is Σ_c |c|² instead of n², and
    * per-cluster size is governed by the centroid count (`everyNth`), which
    * a real deployment scales with the corpus (SemDeDup runs k ∝ n), so the
    * per-cluster quadratic term stays bounded at 100 TB.
    *
    * Output `(head_id, a, b, cos_dist)`, a < b, cos_dist < `maxCosDist`
    * (4dp-rounded projection; the filter uses the unrounded double). Feed
    * the pairs to [[Dedup.canonicalGroups]] + [[Dedup.applyDedup]] to keep
    * one representative per semantic cluster — the spec exercises that
    * composition.
    */
  def semanticDedup(
      emb: DataFrame,
      centroidEveryNth: Int,
      maxCosDist: Double): DataFrame = {
    val cents = Spann.selectHeadsModulo(emb, centroidEveryNth)
    val assigned = Spann.buildPostings(
      emb.select(col("id"), col("vec")), cents, 1, "cos")
    val l = assigned.select(col("head_id"), col("id").as("a"), col("vec").as("va"))
    val r = assigned.select(col("head_id"), col("id").as("b"), col("vec").as("vb"))
    l.join(r, Seq("head_id"))
      .where(col("a") < col("b"))
      .withColumn("cos_dist", graft.functions.dist.cos(col("va"), col("vb")))
      .where(col("cos_dist") < maxCosDist)
      .select(col("head_id"), col("a"), col("b"),
        round(col("cos_dist"), 4).as("cos_dist"))
  }

  /** Farthest-point sampling (greedy k-center, Gonzalez 1985 — the
    * deterministic cousin of k-means++ seeding): start from the smallest
    * id, then repeatedly select the vector FARTHEST from the selected set
    * (max over min-distance-to-centers; ties to the smaller id). The
    * classic coreset / seed / "maximally diverse exemplars" selection —
    * its radius column is the k-center coverage radius, non-increasing by
    * construction. Output `(sel_idx, id, radius)`, sel_idx 1-based,
    * radius = the selected point's min distance to the PRIOR centers
    * (4dp; NULL for the first pick).
    *
    * Scale posture: k bounded rounds, each ONE corpus scan — min-distance
    * is an in-row `array_min` over the ≤k selected centers embedded as
    * broadcast literals (the Lloyd-round convention), and the argmax is a
    * per-partition top-1 + driver merge (TakeOrderedAndProject), never a
    * global sort. Driver state: one (id, vec) row collected per round —
    * the same bounded-collect contract as k-means centroids. O(k·n)
    * distance evaluations total, k scans; no pair space, no shuffle.
    */
  def farthestPoints(emb: DataFrame, k: Int,
      metric: String = "l2sq"): DataFrame = {
    require(k >= 1, s"farthestPoints needs k >= 1, got $k")
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col("id"), col("vec"))
    val first = base.orderBy(col("id")).limit(1).collect()
    require(first.nonEmpty, "farthestPoints on an empty input")
    var centers = Vector[(Long, Seq[Float])](
      (first(0).getLong(0), first(0).getSeq[Float](1)))
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Double])](
      (1, centers.head._1, None))
    var exhausted = false
    while (out.size < k && !exhausted) {
      val dists = centers.map { case (_, v) =>
        graft.functions.dist.byName(metric)(
          col("vec"), array(v.map(x => lit(x)): _*))
      }
      val mind = if (dists.size == 1) dists.head
      else array_min(array(dists: _*))
      val next = base
        .where(!col("id").isin(centers.map(_._1): _*))
        .select(col("id"), col("vec"), mind.as("mind"))
        .orderBy(col("mind").desc, col("id")).limit(1).collect()
      if (next.isEmpty) exhausted = true
      else {
        val r = next(0)
        centers :+= ((r.getLong(0), r.getSeq[Float](1)))
        out += ((out.size + 1, r.getLong(0), Some(r.getDouble(2))))
      }
    }
    out.toSeq.toDF("sel_idx", "id", "radius")
      .withColumn("radius", round(col("radius"), 4))
  }

  /** Embedding-distribution drift between two corpus snapshots (old crawl
    * vs new crawl, last month's corpus vs this month's) — the monitoring
    * report that catches topic shift before it reaches training. Both
    * snapshots are assigned to ONE shared set of centroids (the common
    * reference frame — per-snapshot clusterings would not be comparable);
    * per cluster the report gives each snapshot's member count and 6dp
    * population share, the share delta, and the L2 SHIFT between the two
    * snapshots' in-cluster mean vectors (4dp; NULL when either snapshot
    * has no members there). Output
    * `(head_id, n_a, n_b, share_a, share_b, share_delta, shift)`.
    *
    * Determinism: shares divide exact counts; means use the ×1000
    * integer-sum convention ([[bagPool]]) rounded 6dp before the zipped
    * squared-diff sum. Scale posture: one assignment pass (the q07
    * bounded-broadcast expression), one (head, snap) count aggregate, one
    * (head, snap, dim) mean aggregate — all map-side partial with state ∝
    * clusters·dims; the snapshot totals are a one-row broadcast.
    */
  def clusterDrift(emb: DataFrame, centroidEveryNth: Int,
      metric: String = "cos", snapCol: String = "snap"): DataFrame = {
    val cents = Spann.selectHeadsModulo(emb.select(col("id"), col("vec")), centroidEveryNth)
    val assigned = Spann.buildPostings(
      emb.select(col("id"), col("vec")), cents, 1, metric)
      .join(emb.select(col("id"), col(snapCol).as("_snap")), Seq("id"))
    val counts = assigned.groupBy(col("head_id")).agg(
      sum(when(col("_snap"), 0L).otherwise(1L)).as("n_a"),
      sum(when(col("_snap"), 1L).otherwise(0L)).as("n_b"))
    val totals = counts.agg(
      sum(col("n_a")).as("_ta"), sum(col("n_b")).as("_tb"))
    val scaled = assigned.select(col("head_id"), col("_snap"),
      posexplode(transform(col("vec"),
        v => round(v.cast("double") * 1000).cast("long"))).as(Seq("dim", "_v")))
    val means = scaled.groupBy(col("head_id"), col("_snap"), col("dim"))
      .agg(round(sum(col("_v")).cast("double") / lit(1000.0) / count(lit(1)), 6)
        .as("_m"))
    // 6dp means → exact ×10⁶ longs, so the per-dim squared-diff sum is
    // integer (partitioning-order-independent); one divide at the end
    val shift = means.where(!col("_snap"))
      .select(col("head_id"), col("dim"),
        round(col("_m") * 1000000).cast("long").as("_ma"))
      .join(means.where(col("_snap"))
        .select(col("head_id"), col("dim"),
          round(col("_m") * 1000000).cast("long").as("_mb")),
        Seq("head_id", "dim"))
      .groupBy(col("head_id"))
      .agg(round(sum((col("_ma") - col("_mb")) * (col("_ma") - col("_mb")))
        .cast("double") / lit(1e12), 4).as("shift"))
    counts.crossJoin(broadcast(totals))
      .join(shift, Seq("head_id"), "left")
      .select(col("head_id"), col("n_a"), col("n_b"),
        round(col("n_a").cast("double") / col("_ta"), 6).as("share_a"),
        round(col("n_b").cast("double") / col("_tb"), 6).as("share_b"),
        round(round(col("n_b").cast("double") / col("_tb"), 6) -
          round(col("n_a").cast("double") / col("_ta"), 6), 6).as("share_delta"),
        col("shift"))
  }

  /** Cluster-balanced sampling — the diversity-preserving selection step of
    * an embedding-curated corpus (SemDeDup/DoReMi-style pipelines cluster
    * first, then draw evenly) : assign every vector to its nearest
    * centroid, keep the `perCluster` members CLOSEST to each centroid
    * (ties on id). Compared to a global top-n, this guarantees every
    * region of embedding space keeps representation; compared to uniform
    * sampling, it drops the far tail of each cluster first. Output
    * `(head_id, id, dist)`, dist rounded 4dp.
    *
    * Scale posture: assignment is the q07 bounded-broadcast expression
    * pass (no join fan-out), and the per-cluster cut is a
    * [[graft.functions.TopKByDistance]] aggregate — map-side partials
    * bound every task's state at `perCluster` rows per touched cluster, so
    * a 100× corpus changes only scan width, not shuffle shape (the same
    * argument as posting truncation, `Spann.truncatePostings`).
    */
  def clusterSample(emb: DataFrame, centroidEveryNth: Int,
      perCluster: Int, metric: String = "cos"): DataFrame = {
    val cents = Spann.selectHeadsModulo(emb, centroidEveryNth)
    val assigned = Spann.buildPostings(
      emb.select(col("id"), col("vec")), cents, 1, metric)
    assigned
      .groupBy(col("head_id"))
      .agg(graft.functions.TopKByDistance.topk(
        col("id"), col("dist"), perCluster).as("nn"))
      .select(col("head_id"), explode(col("nn")).as("s"))
      .select(col("head_id"), col("s").getField("id").as("id"),
        round(col("s").getField("dist"), 4).as("dist"))
  }

  /** Mean-pooled bag centroids — the embedding-aggregation step that turns
    * multi-vector bags into one vector (doc embedding from token/chunk
    * embeddings, class prototype from labeled members, cluster summary
    * from assignments): per (label, dim), the mean of the integer-scaled
    * components. Integer sums are exact at any partitioning (the ×1000
    * convention), so the one division at the end makes the result
    * bit-identical in any engine. Output `(label, dim, n_vecs, c)` — long
    * form, scalar-hashable; reassemble with `collect_list` ordered by dim
    * when an array is wanted.
    *
    * Scale posture: one map-side-partial hash aggregation keyed by
    * (label, dim) — state ∝ labels·dims, never corpus.
    */
  def bagPool(vectors: DataFrame, labelCol: String = "label",
      vecCol: String = "vec"): DataFrame = {
    val scaled = transform(col(vecCol), v => round(v.cast("double") * 1000).cast("long"))
    vectors
      .select(col(labelCol), posexplode(scaled).as(Seq("dim", "_v")))
      .groupBy(col(labelCol), col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        // the one inexact step, mirrored operation-for-operation in the
        // oracle: exact Σ → /1000 → /n, each an IEEE-exact-rounded divide
        round(sum(col("_v")).cast("double") / lit(1000.0) / count(lit(1)), 6)
          .as("c"))
  }

  /** Embedding-space label audit: flag members lying unusually far from
    * their class centroid — the mislabel / outlier signal a labeled
    * embedding set is screened with before training ([[bagPool]]'s
    * centroids put to work). A member is an outlier when its L2 distance
    * to the 6dp-rounded class centroid exceeds `factor ×` the class's mean
    * distance. Distances are strict left-to-right double folds over the
    * zipped arrays (the [[Tables.distSql]] shape) and the class mean goes
    * through 4dp-rounded DECIMAL sums — fully engine-deterministic.
    *
    * Scale posture: one (label, dim) aggregation for centroids (broadcast
    * back), one scan for distances, one label-keyed mean aggregation
    * (broadcast back) — no window, no pair space.
    *
    * Output `(id, label, dist, is_outlier)`.
    */
  def centroidOutliers(
      vectors: DataFrame, // (id, vec, label)
      factor: Double = 1.5): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = bagPool(vectors)
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("_cc"))
      .select(col("label"), transform(col("_cc"), s => s.getField("c")).as("_cent"))
    val withD = vectors
      .join(broadcast(cents), Seq("label"))
      .select(col("id"), col("label"),
        round(aggregate(
          zip_with(col("vec").cast("array<double>"), col("_cent"),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x), 4).as("dist"))
    val means = withD.groupBy(col("label"))
      .agg((sum(col("dist").cast(DecimalType(28, 9))).cast("double") /
        count(lit(1))).as("_mean"))
    withD.join(broadcast(means), Seq("label"))
      .select(col("id"), col("label"), col("dist"),
        (col("dist") > lit(factor) * col("_mean")).as("is_outlier"))
  }

  /** Per-cluster quality report — the clustering-health numbers (inertia,
    * spread, nearest-neighbor separation) a labeled or clustered embedding
    * set is audited with before use: for each label, member count, total
    * inertia (Σ squared distance to the 6dp class centroid), mean and max
    * member distance, and the nearest OTHER centroid (id + distance) —
    * low separation relative to spread marks cluster pairs that should
    * merge. Output `(label, n_vecs, inertia, mean_dist, max_dist,
    * nn_label, nn_cent_dist)`.
    *
    * Determinism: member distances are [[centroidOutliers]]' 4dp zipped
    * L2; inertia sums them through DECIMAL(28,9); centroid-pair distances
    * use the ×10⁶-integer squared-diff sum (the [[clusterDrift]] trick).
    * Scale: one member-distance scan + label-keyed aggregates; the
    * centroid pair join is ≤ |labels|² over a broadcast-tiny frame.
    */
  def clusterReport(vectors: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = bagPool(vectors)
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("_cc"))
      .select(col("label"), transform(col("_cc"), s => s.getField("c")).as("_cent"))
    val withD = vectors
      .join(broadcast(cents), Seq("label"))
      .select(col("label"),
        round(aggregate(
          zip_with(col("vec").cast("array<double>"), col("_cent"),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x), 4).as("dist"))
    val perCluster = withD.groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        round(sum(col("dist").cast(DecimalType(28, 9))), 4).cast("double")
          .as("inertia"),
        round(sum(col("dist").cast(DecimalType(28, 9))).cast("double") /
          count(lit(1)), 6).as("mean_dist"),
        max(col("dist")).as("max_dist"))
    val ci = cents.select(col("label"),
      transform(col("_cent"), c => round(c * 1000000).cast("long")).as("_ic"))
    val nn = ci.select(col("label"), col("_ic"))
      .join(ci.select(col("label").as("_ol"), col("_ic").as("_oc")),
        col("label") =!= col("_ol"))
      .select(col("label"), col("_ol"),
        (aggregate(
          zip_with(col("_ic"), col("_oc"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).cast("double") / lit(1e12)).as("_d"))
      .groupBy(col("label"))
      .agg(min(struct(col("_d"), col("_ol"))).as("_m"))
      .select(col("label"), col("_m").getField("_ol").as("nn_label"),
        round(col("_m").getField("_d"), 4).as("nn_cent_dist"))
    perCluster.join(nn, Seq("label"), "left")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard hybrid-
    * retrieval merge: given several rankings `(query_id, rank, id, …)` of
    * the same query set (lexical BM25, dense kNN, different metrics…),
    * score every (query, id) as `Σ_rankings 1/(rrfK + rank)` and keep the
    * top `k`. Rank-based, so incomparable scores (BM25 vs cosine) fuse
    * without calibration.
    *
    * Determinism contract: each reciprocal term is rounded to 6dp and
    * summed as DECIMAL (exact, order-independent — the q91 convention);
    * final order is (score DESC, id). Output `(query_id, rank, id, score)`.
    *
    * Scale posture: inputs are already bounded per query (top-R each), so
    * the union, the (query, id) aggregation, and the per-query window all
    * run over ≤ |Q|·R·|rankings| rows — never corpus-sized.
    */
  def rrfFuse(
      rankings: Seq[DataFrame],
      k: Int,
      rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(rankings.nonEmpty, "need at least one ranking")
    val terms = rankings.map(_.select(col("query_id"), col("id"),
      round(lit(1.0) / (lit(rrfK) + col("rank")), 6)
        .cast(DecimalType(18, 9)).as("_t")))
      .reduce(_ unionByName _)
    val scored = terms.groupBy(col("query_id"), col("id"))
      .agg(round(sum(col("_t")).cast("double"), 6).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), col("score"))
  }

  /** Integer weight of random-projection row `j`, dimension `d` —
    * `hash60("rp{j}_{d}") % 201 − 100` (±100: sized so projected L2
    * distances stay inside double's 2⁵³ integer range — see
    * [[randomProject]]). Distinct salt from [[planeWeight]] so the LSH and
    * RP families draw independent hyperplanes.
    */
  def rpWeight(j: Int, d: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp${j}_$d".getBytes("UTF-8"))
    val hex = md.map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % 201 - 100
  }

  /** Johnson-Lindenstrauss random projection to `outDims` integer
    * coordinates: `p_j = Σ_d scaled(v_d) · w(j, d)` over the ×1000
    * integer-scaled vector — every coordinate is an exact BIGINT, so the
    * projection and any L2 distance over it are bit-identical in any
    * engine. The dimensionality-reduction preprocessing stage: an 8-dim
    * integer sketch of a 64-dim float vector is 1/32 the bytes, and JL
    * keeps relative L2 distances within (1±ε) whp — the coarse filter
    * [[rpSearch]] exploits. Magnitude budget: |scaled| ≤ ~10³ (unit-norm
    * embeddings), |w| ≤ 100, dims ≤ 64 → |p_j| ≤ ~10⁷, squared-diff sums
    * ≤ ~10¹⁵ < 2⁵³ — exact as doubles too.
    *
    * Scale posture: pure per-row projection, whole-stage codegen, nothing
    * shuffles. Output `(id, pvec ARRAY<BIGINT>)`.
    */
  def randomProject(emb: DataFrame, dims: Int, outDims: Int = 8): DataFrame = {
    val sv = transform(col("vec"), v => round(v.cast("double") * 1000).cast("long"))
    // matrix-vector product as ONE compact expression: the unrolled
    // getItem(d)*lit(w) sum chain generated ~13k Java lines at 8×64 and
    // blew Janino's 64 KB method limit, dropping the whole stage out of
    // whole-stage codegen (same exact LONG arithmetic either way)
    val w = Array.tabulate(outDims, dims)(rpWeight)
    val pvec = org.apache.spark.sql.graft.ColumnShim.column(
      graft.functions.IntProjectExpr(
        org.apache.spark.sql.graft.ColumnShim.expression(sv), w))
    emb.select(col("id"), pvec.as("pvec"))
  }

  /** Coarse-to-fine ANN over the JL sketch: exact integer L2 top-`rerankR`
    * in the projected space (8 BIGINTs per corpus row stream through a
    * bounded top-R aggregate — the [[binarySearch]] plan shape), then exact
    * `metric` re-rank of the survivors in the original space. The third
    * rung of the coarse-candidate family: binary codes (1 bit/dim), RP
    * sketch (JL-faithful L2), IVF postings (data-dependent).
    */
  def rpSearch(
      queries: DataFrame,
      corpus: DataFrame,
      dims: Int,
      k: Int,
      rerankR: Int,
      outDims: Int = 8,
      metric: String = "l2sq"): DataFrame = {
    val cproj = randomProject(corpus, dims, outDims)
    val qproj = randomProject(
      queries.select(col("query_id").as("id"), col("qvec").as("vec")), dims, outDims)
      .select(col("id").as("query_id"), col("pvec").as("qp"))
    val coarse = (0 until outDims).map { j =>
      val diff = col("pvec").getItem(j) - col("qp").getItem(j)
      (diff * diff).cast("double")
    }.reduce(_ + _)
    val cand = cproj.crossJoin(broadcast(qproj))
      .withColumn("_cd", coarse)
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByDistance.topk(col("id"), col("_cd"), rerankR).as("nn"))
      .select(col("query_id"), explode(col("nn")).as("r"))
      .select(col("query_id"), col("r.id").as("id"))
    val rer = cand
      .join(corpus.select(col("id"), col("vec")), Seq("id"))
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), Seq("query_id"))
      .withColumn("dist", graft.functions.dist.byName(metric)(col("qvec"), col("vec")))
    Knn.explodeRanked(
      rer.groupBy(col("query_id"))
        .agg(graft.functions.TopKByDistance.topk(col("id"), col("dist"), k).as("nn")))
  }

  /** Maximal-marginal-relevance (MMR) diversified top-k (Carbonell &
    * Goldstein 1998): greedily pick `k` results from an exact top-`poolR`
    * relevance pool, each round maximizing
    * `(1−λ)·rel − λ·max_{s∈selected} sim(cand, s)` — relevance traded
    * against redundancy with what is already picked. The retrieval-side
    * dedup: a near-dup-heavy corpus otherwise fills the whole top-k with
    * copies of one document. λ=0 degenerates to plain top-k order (the
    * spec's identity check).
    *
    * Determinism contract: `rel = 1 − dist` and `sim = 1 − cos` over the
    * UNROUNDED mirrored-op distances (a 4dp round here feeds the greedy
    * score arithmetic — the forbidden boundary-rounding class, observed
    * live at sf0.1); λ and 1−λ must be exactly representable (0.5 is);
    * products and the running max/argmax are then bit-identical in any
    * engine, ties on id ascending, and the emitted score is unrounded.
    * The oracle unrolls the k greedy rounds as CTEs.
    *
    * Scale posture: the pool is ≤|Q|·R rows (bounded by the batch-query
    * contract) and is localCheckpointed once; the pairwise sim frame is
    * ≤|Q|·R² rows — R is a rerank budget (tens), so this is the classic
    * cheap-rerank-over-bounded-pool stage, never a corpus-sized join. Each
    * greedy round is an aggregation over those bounded frames.
    */
  def mmr(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      lambda: Double,
      poolR: Int,
      metric: String = "cos"): DataFrame = {
    // ONE aggregation pass (r16, guide §1.2): the former formulation ran the
    // greedy recursion as k sequential driver-coordinated rounds — each a
    // left-anti join + a max(sim) agg over a |Q|·R² pairwise frame + an
    // argmax join — plus two localCheckpoints to hold the shared frames.
    // The pool is ≤ R rows per query by the rerank-budget contract, so the
    // whole greedy belongs INSIDE a bounded per-group aggregate
    // ([[graft.functions.MmrGreedy]]), which reproduces the exact pairwise
    // sim doubles, Spark max semantics, and (score, id) argmax ordering of
    // the round-loop (SimilaritySpec pins bit-exact equivalence; the q124
    // oracle replays the rounds as unrolled CTEs, unchanged).
    val pool = Knn.searchAgg(queries, corpus, poolR, metric)
      .select(col("query_id"), explode(col("nn")).as("r"))
      .select(col("query_id"), col("r.id").as("id"),
        (lit(1.0) - col("r.dist")).as("rel"))
      .join(corpus.select(col("id"), col("vec")), Seq("id"))
    pool.groupBy(col("query_id"))
      .agg(graft.functions.MmrGreedy.mmrGreedy(
        col("id"), col("rel"), col("vec"), k, lambda).as("picks"))
      .select(col("query_id"), explode(col("picks")).as("p"))
      .select(col("query_id"), col("p.pick").as("pick"), col("p.id").as("id"),
        col("p.score").as("score"))
  }

  /** Late-interaction (ColBERT-style) MaxSim retrieval over vector BAGS:
    * each query and each document is a bag of vectors (multi-vector
    * representations — token embeddings, image patches, chunk vectors);
    * `score(Q, D) = Σ_{q∈Q} max_{d∈D} sim(q, d)` with `sim = 1 − cos_dist`.
    * Top-`k` doc bags per query bag, rank on the 4dp-rounded score with
    * doc-bag tie-break; per-query-token maxima are exact doubles and the
    * per-bag sum goes through DECIMAL(38,12) (order-independent, the q91/
    * q105 convention). Input `queryBags(query_label, qvid, qvec)`,
    * `docBags(doc_label, id, vec)`; output
    * `(query_label, rank, doc_label, score)`.
    *
    * Scale shape: query bags are broadcast (bounded, the batch-query
    * contract); the corpus streams once through the similarity projection,
    * then two hash aggregations — per (query-token, doc-bag) max, per
    * (query-bag, doc-bag) sum — and a window partitioned by query bag
    * (high-cardinality in a real workload). No doc×doc pair space.
    */
  def maxSim(
      queryBags: DataFrame,
      docBags: DataFrame,
      k: Int,
      metric: String = "cos"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sims = docBags.crossJoin(broadcast(queryBags))
      .withColumn("_sim",
        lit(1.0) - graft.functions.dist.byName(metric)(col("qvec"), col("vec")))
    val perTok = sims.groupBy(col("query_label"), col("qvid"), col("doc_label"))
      .agg(max(col("_sim")).as("_m"))
    val scored = perTok.groupBy(col("query_label"), col("doc_label"))
      .agg(round(sum(col("_m").cast("decimal(38,12)")).cast("double"), 4).as("score"))
    val w = Window.partitionBy(col("query_label"))
      .orderBy(col("score").desc, col("doc_label"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_label"), col("rank"), col("doc_label"), col("score"))
  }

  /** Intra-list diversity (ILD) of a ranked retrieval: per query, the mean
    * pairwise cosine DISTANCE among its top-k items — the standard
    * diversity audit next to relevance metrics ([[mmr]] trades relevance
    * for exactly this number; ILD is how you check it worked). Pairs are
    * bounded at k²/2 per query (the ranked frame is top-k by contract), so
    * the self-join is a per-query constant, never corpus-shaped. Pairwise
    * distances round 6dp and DECIMAL-sum per query (the order-independence
    * convention); the mean is one divide. Output
    * `(query_id, n_pairs, ild)`.
    */
  def ild(results: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val r = results.where(col("rank") <= k)
      .join(corpus.select(col("id"), col("vec")), Seq("id"))
    val a = r.select(col("query_id"), col("id").as("_a"), col("vec").as("_va"))
    val b = r.select(col("query_id"), col("id").as("_b"), col("vec").as("_vb"))
    a.join(b, Seq("query_id"))
      .where(col("_a") < col("_b"))
      .select(col("query_id"),
        round(graft.functions.dist.cos(col("_va"), col("_vb")), 6)
          .cast("decimal(18,9)").as("_d"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("_d")).cast("double") / count(lit(1)), 6).as("ild"))
  }
}
