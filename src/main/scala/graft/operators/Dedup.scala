package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hash60
import graft.operators.TextAnalysis.tokens

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine. Signature/banding math is all
  * [[Hash60]]-based so every stage is reproducible in the DuckDB oracle.
  *
  * Scale notes (100 TB posture):
  *  - exact dedup = hash-groupBy: one shuffle on a 60-bit key, no skew
  *    (md5 is uniform);
  *  - MinHash/LSH avoids the O(n²) pair space: candidates come from
  *    equi-joins on (band, band_hash) buckets — shuffle ∝ corpus size, and
  *    only bucket-mates are compared;
  *  - SimHash reduces each doc to one 64-bit code; near-dup = small
  *    hamming ball, candidates from 16-bit-band equi-joins;
  *  - embedding near-dup: brute pairwise is the correctness baseline;
  *    the LSH-bucketed variant in [[SimilaritySearch]] is the scale path.
  */
object Dedup {

  /** Exact dedup: canonical id = min doc id among identical texts.
    * Output `(doc_id, canon_id)`, one row per doc.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hashed = docs.select(col(idCol), Hash60(col(textCol)).as("h"))
    val canon = hashed.groupBy(col("h")).agg(min(col(idCol)).as("canon_id"))
    hashed.join(canon, Seq("h")).select(col(idCol), col("canon_id"))
  }

  /** Chunk-level exact dedup — the RAG-index hygiene pass: chunk every
    * document ([[TextAnalysis.chunk]]'s token windows), then canonicalize
    * identical chunk TEXT across the whole corpus. A retrieval index built
    * on raw chunks otherwise stores one boilerplate paragraph thousands of
    * times and fills every top-k with copies of it (the problem [[
    * graft.operators.SimilaritySearch.mmr]] patches at query time — this
    * removes it at build time). Output: one row per chunk,
    * `(doc_id, chunk_idx, canon_doc, canon_idx, copies)` with the canonical
    * member the (doc_id, chunk_idx)-smallest; keep `doc_id = canon_doc AND
    * chunk_idx = canon_idx` for the deduped index.
    *
    * Scale posture: chunks are grouped on [[graft.functions.Hash60]] of the
    * chunk text (the [[exact]] convention — 8-byte shuffle keys, not
    * paragraph strings), one hash aggregation + one 1:N hydration join.
    */
  def chunkDedup(docs: DataFrame, window: Int, stride: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ch = graft.operators.TextAnalysis.chunk(docs, window, stride, idCol, textCol)
      .select(col(idCol), col("chunk_idx"), Hash60(col("chunk_text")).as("_h"))
    val groups = ch.groupBy(col("_h"))
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("_c"),
        count(lit(1)).as("copies"))
    ch.join(groups, Seq("_h"))
      .select(col(idCol), col("chunk_idx"),
        col("_c").getField(idCol).as("canon_doc"),
        col("_c").getField("chunk_idx").as("canon_idx"),
        col("copies"))
  }

  /** Distinct n-word shingles per doc: `(doc_id, sh)`. */
  def shingles(docs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), explode(
        array_distinct(transform(
          // greatest(..., 1): Spark's sequence(1,0) DESCENDS while DuckDB's
          // generate_series(1,0) is empty — clamp to 1 in both engines
          sequence(lit(1), greatest(size(col("toks")) - (n - 1), lit(1))),
          i => concat_ws(" ", slice(col("toks"), i, lit(n)))))).as("sh"))

  /** Mersenne-31 modulus and the per-hash affine coefficients: one md5 per
    * shingle, then `numHashes` cheap `(a_j·h + b_j) mod M31` permutations —
    * products stay under 2^62 so the math is int64-exact in any engine.
    */
  val M31 = 2147483647L
  def minhashA(j: Int): Long = (1103515245L * (j + 1) + 12345L) % M31 | 1L
  def minhashB(j: Int): Long = (69069L * (j + 1) + 362437L) % M31

  /** Array-form shingle frame: one row per doc with its DISTINCT shingle set
    * and the M31-reduced hashes — the same sets [[shingles]] explodes, kept
    * packed so the MinHash/Jaccard pipeline needs no per-shingle rows at all
    * (per-doc shingle sets are small by construction; the heavy lifting is
    * `array_min`/`array_intersect` inside the row).
    */
  def shingleArrays(docs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), array_distinct(transform(
        sequence(lit(1), greatest(size(col("toks")) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(col("toks"), i, lit(n))))).as("sharr"))
      .withColumn("h32arr", transform(col("sharr"), s => Hash60(s) % M31))

  /** MinHash signatures from the array form — in-row mins over the packed
    * hashes replace [[minhash]]'s groupBy (identical values, zero shuffles).
    * All `numHashes` mins come from ONE unboxed pass
    * ([[graft.functions.MinhashSigsExpr]]); the earlier
    * `array(array_min(transform(...)), ...)` projection evaluated 16
    * interpreted lambda transforms per row — boxing every hash once per
    * function — and profiled as the q33 signature stage's dominant CPU
    * (r15 q33 profile, OPTIMIZATION_r15.md). Values are bit-identical; the
    * oracle keeps its `list_min(list_transform(...))` rendering.
    */
  def minhashFromArrays(da: DataFrame, numHashes: Int = 16): DataFrame =
    da.select(col("doc_id"),
      graft.functions.MinhashSigsExpr.sigs(col("h32arr"),
        (0 until numHashes).map(minhashA).toArray,
        (0 until numHashes).map(minhashB).toArray).as("sig"))

  /** MinHash signatures: `(doc_id, sig ARRAY<BIGINT>[numHashes])`, where
    * sig[j] = min over shingles of (a_j · (hash60(sh) mod M31) + b_j) mod M31.
    */
  def minhash(sh: DataFrame, numHashes: Int = 16): DataFrame = {
    // one groupBy with numHashes parallel min aggregates — no per-hash row
    // explosion (a posexplode formulation multiplies the shingle frame by
    // numHashes and pays a second shuffle to reassemble the signature)
    val mins = (0 until numHashes).map(j =>
      min((lit(minhashA(j)) * col("h32") + lit(minhashB(j))) % M31).as(s"_m$j"))
    sh.select(col("doc_id"), (Hash60(col("sh")) % M31).as("h32"))
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(j => col(s"_m$j")): _*).as("sig"))
  }

  /** LSH banding: split the signature into bands of `rowsPerBand`, hash each
    * band → `(doc_id, band, band_hash)`.
    */
  def lshBands(sigs: DataFrame, numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val numBands = numHashes / rowsPerBand
    sigs.select(col("doc_id"), posexplode(
      array((0 until numBands).map(b =>
        Hash60(concat_ws("|",
          (0 until rowsPerBand).map(r =>
            col("sig").getItem(b * rowsPerBand + r).cast("string")): _*))): _*))
      .as(Seq("band", "band_hash")))
  }

  /** Per-bucket pair cap for [[lshCandidates]] (and the SimHash/incremental/
    * stored probe paths): buckets at or under the cap contribute all
    * `n·(n−1)/2` pairs; larger ones are DROPPED outright as stop-buckets
    * (non-discriminative boilerplate collisions — see the rationale on
    * [[lshCandidates]]). 1024 keeps the worst surviving bucket's pair count
    * ≤ ~524k while real near-dup clusters (copies of one document) stay far
    * below it.
    */
  val MaxBandBucket: Int = 1024

  /** Candidate pairs = docs sharing any LSH band bucket: `(a, b)`, a < b.
    *
    * Skew guard: the self-join is QUADRATIC within a bucket — on a real web
    * corpus a boilerplate-heavy band can put millions of docs in one
    * `(band, band_hash)` bucket and that join becomes the hot spot. Buckets
    * over `maxBucket` are therefore dropped outright (STOP-buckets, the
    * stop-words idea for banding): a bucket that hot is non-discriminative
    * boilerplate collision, not dedup signal, and a genuine near-dup pair
    * above the Jaccard threshold agrees on most of its `numBands` buckets —
    * it is lost only if EVERY bucket the pair shares is hot (spec-covered:
    * a dup pair inside a hot bucket still surfaces through its other,
    * normal-sized band). Emitting capped "representative" edges instead
    * would be worse, not safer: a pair routed through a representative the
    * exact verify rejects silently disconnects, which breaks the
    * [[canonicalGroups]] component without bounding anything real. Same
    * semantics as the stored-index probe's `cnt` filter
    * ([[graft.sources.DedupStore.probe]]) and the incremental corpus guard;
    * the corpus-side analogue of the reference's posting truncation
    * (`ExtraFullGraphSearcher.h:744-760`).
    *
    * Plan shape: ONE exchange on `(band, band_hash)` and NO sort — bucket
    * members collect through [[graft.functions.CappedCollectLongs]], whose
    * overflow latch IS the guard (a hot bucket costs `maxBucket + 1` buffer
    * slots then constant-time discards, and evaluates to NULL = dropped), so
    * the count-before-collect window pass the previous form needed — a full
    * sort of the band stream per the window contract — disappears. Map-side
    * partials reduce each task's slice before the shuffle. The `n·(n−1)/2`
    * in-bucket pairs then expand IN-ROW from the bounded member array
    * (≤ `maxBucket` ids, so the pair fan-out per row is capped by
    * construction); a bucket self-join would produce the identical pair set
    * but pays sort-merge machinery and a second read of the bucket stream
    * for rows the explode derives for free. Non-long id types (no current
    * caller) fall back to the window-guarded collect, same semantics.
    */
  def lshCandidates(bands: DataFrame, maxBucket: Int = MaxBandBucket): DataFrame = {
    import graft.functions.CappedCollectLongs.cappedLongs
    val idIsLong = bands.schema("doc_id").dataType == org.apache.spark.sql.types.LongType
    val members =
      if (idIsLong)
        bands.groupBy(col("band"), col("band_hash"))
          .agg(cappedLongs(col("doc_id"), maxBucket).as("_ids"))
          .where(col("_ids").isNotNull)
      else {
        val w = Window.partitionBy(col("band"), col("band_hash"))
        bands.withColumn("_cnt", count(lit(1)).over(w))
          .where(col("_cnt") <= maxBucket)
          .groupBy(col("band"), col("band_hash"))
          .agg(array_sort(collect_list(col("doc_id"))).as("_ids"))
      }
    members
      .select(explode(expr(
        """flatten(transform(_ids, (x, i) ->
          |  transform(slice(_ids, i + 2, size(_ids) - i - 1),
          |            y -> struct(x as a, y as b))))""".stripMargin)).as("_p"))
      .select(col("_p.a").as("a"), col("_p.b").as("b"))
      .distinct()
  }

  /** Exact n-gram Jaccard for given pairs (or all pairs if `pairs` empty):
    * `(a, b, jaccard)`.
    */
  def jaccard(sh: DataFrame, pairs: Option[DataFrame] = None): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val l = sh.select(col("doc_id").as("a"), col("sh"))
    val r = sh.select(col("doc_id").as("b"), col("sh"))
    // with a candidate-pair set, intersect ONLY those pairs' shingles
    // (pair-first join) instead of the full shingle self-join — the
    // all-pairs shingle join fans out on hot shingles at scale
    val inter = pairs match {
      case Some(p) =>
        p.join(l, Seq("a"))
          .join(r, Seq("b", "sh"), "left_semi")
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
      case None =>
        l.join(r, Seq("sh")).where(col("a") < col("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    }
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 4).as("jaccard"))
  }

  /** MinHash+LSH near-dup pipeline: LSH candidates verified by exact Jaccard
    * ≥ threshold. Output `(a, b, jaccard)`.
    */
  def minhashDedup(
      docs: DataFrame,
      threshold: Double,
      numHashes: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    // array form end-to-end: one row per doc (shingle sets are small), so the
    // signature is an in-row array_min (no groupBy), and the Jaccard verify
    // is an in-row array_intersect over the two candidates' shingle sets (no
    // per-shingle join + count). Only the LSH bucket self-join shuffles.
    // Checkpoint eagerly: both the band path and the verify read this frame,
    // and a lazy checkpoint would materialize under a LATER query's execution
    // (DAGScheduler "non-existent accumulator" noise).
    // fan the raw docs out to full parallelism BEFORE the tokenize+md5 map
    // when the source arrives under-partitioned (a single parquet file reads
    // as 1 partition and would serialize the heavy map); at scale the input
    // already has >= shuffle partitions and this is a no-op
    val target = docs.sparkSession.sessionState.conf.numShufflePartitions
    val spread =
      if (docs.rdd.getNumPartitions < target) docs.repartition(target) else docs
    val da = shingleArrays(spread).localCheckpoint(true)
    val cands = lshCandidates(
      lshBands(minhashFromArrays(da, numHashes), numHashes, rowsPerBand))
    verifiedPairsGated(cands, da, da, threshold)
  }

  /** Prefix-filtered EXACT set-similarity self-join (the PPJoin candidate
    * rule): all pairs with shingle-set Jaccard ≥ `threshold`, found without
    * sketches and without the all-pairs scan. Shingles order globally by
    * (document frequency asc, shingle asc); a doc of set size `n` exposes
    * only its first `p = n − ⌈τ·n⌉ + 1` shingles in that order as its
    * PREFIX, and two docs pair only if their prefixes share a shingle —
    * sound because two sets with Jaccard ≥ τ must overlap within any
    * (1−τ)-fraction prefix of each (pigeonhole), so recall is 100% by
    * construction, unlike MinHash banding's probabilistic recall. The
    * survivors verify with the same in-row intersect as [[minhashDedup]].
    *
    * Scale shape: the candidate join is an equi-join on the RAREST shingles
    * only (df-ascending prefixes), so hot boilerplate shingles — exactly the
    * ones that explode a naive shingle self-join — never generate pairs at
    * high τ. Shuffle ∝ prefix rows (a (1−τ)+ε fraction of the shingle
    * stream) + candidates. The per-doc rank window partitions by doc_id —
    * corpus-many keys, never a global or per-source sort. Higher τ → shorter
    * prefixes → cheaper; use MinHash-LSH below τ≈0.5 where prefixes stop
    * pruning.
    */
  def prefixJaccardPairs(
      docs: DataFrame,
      threshold: Double,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val jacT = math.round(threshold * 10000).toInt
    // checkpointed: read by the prefix join AND the verify (was recomputed
    // per use), and the gated verify's doc-count gate reads it for free
    val da = shingleArrays(docs, n, idCol, textCol).localCheckpoint(true)
    val sh = da.select(col("doc_id"), explode(col("sharr")).as("sh"))
    val dfc = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    val pref = sh.join(dfc, Seq("sh"))
      .withColumn("pos", row_number().over(w))
      .join(da.select(col("doc_id"), size(col("sharr")).as("nsh")), Seq("doc_id"))
      .where(col("pos") <=
        col("nsh") - floor((col("nsh") * jacT + 9999) / lit(10000)) + 1)
    val cand = pref.select(col("doc_id").as("a"), col("sh"))
      .join(pref.select(col("doc_id").as("b"), col("sh")), Seq("sh"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    verifiedPairsGated(cand, da, da, threshold)
  }

  /** Exact-Jaccard verify over candidate pairs: join each side's shingle
    * array in, intersect in-row, keep pairs at or above `threshold`. Shared
    * by the batch and incremental MinHash pipelines — two equi-joins keyed
    * by doc id, no pair-space blowup beyond the candidate set itself.
    */
  /** Candidate-pair count up to which the verify join's build side (pairs ×
    * one shingle array each) is force-broadcast. Beyond it the hint is
    * withheld and the planner/AQE picks the strategy from runtime stats —
    * an unconditional hint would ship an unbounded build side on a
    * near-dup-heavy corpus and die at the broadcast hard limit where the
    * unhinted plan would shuffle-join (r15 ADVICE item).
    */
  private[graft] val BroadcastPairCap = 100000L

  private[graft] def verifiedPairs(cands: DataFrame, aArr: DataFrame,
      bArr: DataFrame, threshold: Double): DataFrame =
    // build side declared explicitly: the candidate-pair side (bounded by the
    // band-bucket cap) is always ≤ the corpus shingle-array side, but from
    // bare stats the planner picked the CORPUS side as the second join's
    // broadcast — shipping every doc's shingle strings per execution
    // (plans/r15/q33_dedup_minhash_before.txt node 20) — so hint the
    // pairs-with-arrays subtree instead (~pairs·|doc| bytes, 20× less here).
    // The UNCONDITIONAL hint is reserved for callers whose candidate side is
    // bounded by construction (a probe/ingest batch — DedupStore.probe,
    // minhashDedupIncremental); corpus-self-join callers go through
    // [[verifiedPairsGated]] (r15 ADVICE: an unbounded forced broadcast
    // would die at the broadcast hard limit on a near-dup-heavy corpus)
    verifyJoin(broadcast(cands
      .join(aArr.select(col("doc_id").as("a"), col("sharr").as("_sa")), Seq("a"))),
      bArr, threshold)

  /** [[verifiedPairs]] for CORPUS-self-join candidate sets (no batch bound):
    * the pairs frame is checkpointed (bounded rows — ids only, no arrays)
    * and counted, and the broadcast hint applies only under
    * [[BroadcastPairCap]]; above it the strategy is left to the planner/AQE
    * so a pathological near-dup corpus shuffle-joins instead of failing the
    * broadcast (r15 ADVICE item).
    */
  /** Doc count below which the candidate side is broadcast WITHOUT the
    * count gate: the extra checkpoint+count jobs measured ~0.15-0.2 s fixed
    * (A/B on q33, r16) — material at benchmark scale, noise at corpus
    * scale, and under this many docs even a pathologically clustered corpus
    * (every doc in a cap-sized near-dup cluster) keeps the candidate build
    * side within broadcast reach.
    */
  private[graft] val GatedDocThreshold = 1000000L

  private[graft] def verifiedPairsGated(cands0: DataFrame, aArr: DataFrame,
      bArr: DataFrame, threshold: Double): DataFrame =
    if (aArr.count() <= GatedDocThreshold)
      verifiedPairs(cands0, aArr, bArr, threshold)
    else {
      val cands = cands0.localCheckpoint(true)
      val withA = cands
        .join(aArr.select(col("doc_id").as("a"), col("sharr").as("_sa")), Seq("a"))
      val build =
        if (cands.count() <= BroadcastPairCap) broadcast(withA) else withA
      verifyJoin(build, bArr, threshold)
    }

  private def verifyJoin(build: DataFrame, bArr: DataFrame,
      threshold: Double): DataFrame =
    build
      .join(bArr.select(col("doc_id").as("b"), col("sharr").as("_sb")), Seq("b"))
      .withColumn("_inter", size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .select(col("a"), col("b"),
        round(col("_inter").cast("double") /
          (size(col("_sa")) + size(col("_sb")) - col("_inter")).cast("double"), 4)
          .as("jaccard"))
      .where(col("jaccard") >= threshold)

  /** Asymmetric CONTAINMENT near-dup: for LSH-candidate pairs, the
    * fraction of each side's distinct shingles that the other side holds —
    * `cont_a = |A∩B|/|A|` ("how much of A is inside B") and the mirror
    * `cont_b`. The signal Jaccard dilutes away when sizes differ: a quote
    * or scraped subset has high containment in its superset but low
    * Jaccard. Output `(a, b, inter, cont_a, cont_b)` for pairs where
    * either direction reaches `threshold`.
    *
    * Blocking caveat, stated honestly: candidates come from the SAME
    * MinHash-LSH bands as [[minhashDedup]], whose collision probability
    * tracks JACCARD — a tiny doc buried in a huge one can score high
    * containment yet low Jaccard and be missed by these bands. That is
    * the standard trade until a containment-specific sketch (size-
    * stratified LSH / bottom-k with size partitioning) is wired; over the
    * candidate set the verify itself is exact. Same plan shape as
    * [[minhashDedup]]: in-row signatures, one band self-join, two id-keyed
    * verify joins.
    */
  def containmentDedup(docs: DataFrame, threshold: Double,
      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val target = docs.sparkSession.sessionState.conf.numShufflePartitions
    val spread =
      if (docs.rdd.getNumPartitions < target) docs.repartition(target) else docs
    val da = shingleArrays(spread).localCheckpoint(true)
    val cands = lshCandidates(
      lshBands(minhashFromArrays(da, numHashes), numHashes, rowsPerBand))
    cands
      .join(da.select(col("doc_id").as("a"), col("sharr").as("_sa")), Seq("a"))
      .join(da.select(col("doc_id").as("b"), col("sharr").as("_sb")), Seq("b"))
      .withColumn("_inter",
        size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .select(col("a"), col("b"), col("_inter").as("inter"),
        round(col("_inter").cast("double") / size(col("_sa")).cast("double"), 4)
          .as("cont_a"),
        round(col("_inter").cast("double") / size(col("_sb")).cast("double"), 4)
          .as("cont_b"))
      .where(col("cont_a") >= threshold || col("cont_b") >= threshold)
  }

  /** Incremental MinHash+LSH near-dup: match a NEW batch of documents
    * against an EXISTING corpus (and within itself) WITHOUT re-pairing the
    * corpus — the production shape at 100 TB, where the accumulated corpus
    * is never re-deduped; each ingest round checks only the delta. The
    * corpus side contributes its band buckets (at scale these are the
    * STORED dedup index: persist `lshBands(minhashFromArrays(...))` keyed by
    * `(band, band_hash)` at build time and the corpus-side recompute here
    * disappears), and candidates are (corpus→batch) bucket joins plus the
    * batch's internal pairs — corpus×corpus pairs are never formed, so the
    * shuffle is ∝ batch size + matched buckets, not corpus².
    *
    * Output `(a, b, jaccard)` where `b` is always a batch doc and `a` is
    * either a corpus doc or an earlier batch doc (`a < b` within the batch).
    * Corpus and batch ids must be disjoint. Oversized corpus buckets (over
    * `maxBucket`) are skipped as stop-buckets — the boilerplate analogue of
    * [[lshCandidates]]' star-edge guard for the one-sided join (a bucket
    * that hot carries no near-dup signal, only a quadratic join); the
    * batch's internal pairs go through [[lshCandidates]]' own guard.
    */
  def minhashDedupIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      threshold: Double,
      numHashes: Int = 16,
      rowsPerBand: Int = 4,
      maxBucket: Int = MaxBandBucket): DataFrame = {
    val target = corpus.sparkSession.sessionState.conf.numShufflePartitions
    def spread(df: DataFrame): DataFrame =
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    val daC = shingleArrays(spread(corpus)).localCheckpoint(true)
    val daB = shingleArrays(spread(batch)).localCheckpoint(true)
    val bandsC = lshBands(minhashFromArrays(daC, numHashes), numHashes, rowsPerBand)
    val bandsB = lshBands(minhashFromArrays(daB, numHashes), numHashes, rowsPerBand)
    val w = Window.partitionBy(col("band"), col("band_hash"))
    val bounded = bandsC
      .withColumn("_cnt", count(lit(1)).over(w))
      .where(col("_cnt") <= maxBucket)
    val cross = bounded
      .select(col("doc_id").as("a"), col("band"), col("band_hash"))
      .join(bandsB.select(col("doc_id").as("b"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select(col("a"), col("b"))
    val cands = cross.union(lshCandidates(bandsB, maxBucket)).distinct()
    verifiedPairs(cands,
      daC.select(col("doc_id"), col("sharr"))
        .union(daB.select(col("doc_id"), col("sharr"))),
      daB, threshold)
  }

  /** Canonical near-dup grouping: connected components over a verified pair
    * set, labels = smallest doc id per component. The terminal step of every
    * production dedup pipeline ("keep one canonical doc per group") — the
    * reference's analogue deletes all duplicate hits in place
    * (`AnnService/src/Core/BKT/BKTIndex.cpp:875-890`).
    *
    * Iterative min-label propagation: each round every node adopts the min
    * label among itself and its neighbors; converges in O(component diameter)
    * rounds. Near-dup components are small clusters of copies of one document,
    * so the diameter is tiny in practice; each round costs one equi-join plus
    * one groupBy-min (shuffle ∝ |edges|, min aggregates map-side), and the
    * frame is localCheckpoint'ed per round so the plan never grows.
    * Convergence is detected by sum(label): labels only ever decrease, so the
    * sum strictly decreases iff any label changed — one scalar agg per round,
    * no change-count join.
    *
    * Output: `(doc_id, canon_id)` for EVERY doc; singletons map to themselves.
    */
  def canonicalGroups(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val edges = pairs
      .select(col("a").as("u"), col("b").as("v"))
      .union(pairs.select(col("b").as("u"), col("a").as("v")))
      .distinct()
      .localCheckpoint(true)
    var labels = docs
      .select(col(idCol).cast("long").as("id"), col(idCol).cast("long").as("lbl"))
      .localCheckpoint(true)
    // coalesce: sum over ZERO rows is NULL — an empty docs frame must
    // converge immediately, not NPE
    def lblSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("lbl")), lit(0L))).head.getLong(0)
    var prevSum = lblSum(labels)
    var converged = false
    while (!converged) {
      val neighborMin = edges
        .join(labels.select(col("id").as("u"), col("lbl")), Seq("u"))
        .groupBy(col("v").as("id")).agg(min(col("lbl")).as("nlbl"))
      val next = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint(true)
      val nextSum = lblSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
    }
    labels.select(col("id").as(idCol), col("lbl").as("canon_id"))
  }

  /** Duplication report over [[canonicalGroups]]' output — the dataset-card
    * summary a curation run publishes: the distribution of near-dup cluster
    * sizes (`cluster_size = 1` is the unique tail; heavy sizes are template
    * storms worth inspecting before [[applyDedup]] deletes them). Output
    * `(cluster_size, n_clusters, n_docs)` — all exact integers, so the
    * report is engine-exact by construction. Scale: two hash aggregations
    * (id-keyed then size-keyed), state ∝ distinct sizes.
    */
  def dedupReport(groups: DataFrame): DataFrame =
    groups.groupBy(col("canon_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))

  /** Terminal dedup step: keep exactly ONE canonical document per near-dup
    * group (the doc whose id IS its group's canon_id — the min id, so the
    * kept set is deterministic). `groups` is [[canonicalGroups]]' output;
    * the semi-join streams the corpus once, groups are O(corpus) rows keyed
    * by id. The reference applies this in place by tombstoning duplicate
    * hits (`BKTIndex.cpp:875-890`); here it is a pure projection of the
    * corpus — the shape a 100 TB pipeline wants (no mutation, re-runnable).
    */
  def applyDedup(docs: DataFrame, groups: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    docs.join(
      groups.where(col(idCol) === col("canon_id")).select(col(idCol)),
      Seq(idCol), "left_semi")

  /** Duplication-burden report by source pair — WHERE near-duplication
    * comes from: within-source pairs are template storms a single feed
    * emits; cross-source pairs are syndication/mirroring between feeds
    * (the signal that two sources should share a mixture weight). Input is
    * a verified pair frame (`(a, b)`, e.g. [[minhashDedup]]); output one
    * row per unordered source pair `(src_a ≤ src_b, n_pairs)`. Scale: two
    * id-keyed hash joins against the (id → source) projection + one tiny
    * aggregate — the pair frame is the already-bounded dedup output.
    */
  def dupBySource(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", sourceCol: String = "source"): DataFrame = {
    val src = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(src.select(col(idCol).as("a"), col(sourceCol).as("_sa")), Seq("a"))
      .join(src.select(col(idCol).as("b"), col(sourceCol).as("_sb")), Seq("b"))
      .select(least(col("_sa"), col("_sb")).as("src_a"),
        greatest(col("_sa"), col("_sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** LSH banding quality harness — before trusting a (numHashes,
    * rowsPerBand) configuration at corpus scale, measure it: candidate
    * RECALL against the brute-force Jaccard-≥τ pair set and candidate
    * PRECISION (share of candidates that verify). One row:
    * `(n_true, n_candidates, n_hit, recall, precision)`, ratios as
    * unrounded single divides of exact counts. The tuning loop this feeds
    * is the reference recall-vs-budget methodology (`TruthSet.h:167-240`)
    * applied to the dedup index instead of the ANN index.
    *
    * Scale: this is the OFFLINE tuning harness — the brute pair set comes
    * from the shingle-join [[jaccard]] (∝ pairs sharing a shingle), so run
    * it on a sample at 100 TB; the banding side is the production shape.
    */
  def bandingRecall(docs: DataFrame, threshold: Double,
      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    // ONE shingle pass feeds both the truth and the banding path (shingling
    // is the dominant scan; recomputing it doubles the harness cost)
    val sh = shingles(docs).localCheckpoint(true)
    val truth = jaccard(sh)
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"))
      .localCheckpoint(true)
    val cand = lshCandidates(lshBands(
      minhash(sh, numHashes), numHashes, rowsPerBand))
      .localCheckpoint(true)
    val hit = truth.join(cand, Seq("a", "b"), "left_semi")
    val nT = truth.agg(count(lit(1)).as("n_true"))
    val nC = cand.agg(count(lit(1)).as("n_candidates"))
    val nH = hit.agg(count(lit(1)).as("n_hit"))
    nT.crossJoin(broadcast(nC)).crossJoin(broadcast(nH))
      .select(col("n_true"), col("n_candidates"), col("n_hit"),
        when(col("n_true") > 0,
          col("n_hit").cast("double") / col("n_true").cast("double"))
          .as("recall"),
        when(col("n_candidates") > 0,
          col("n_hit").cast("double") / col("n_candidates").cast("double"))
          .as("precision"))
  }

  /** [[applyDedup]] with a KEEP-BEST policy: per near-dup group keep the
    * document maximizing `score` (ties → lowest id) instead of the lowest
    * id unconditionally. This is the representative-selection rule real
    * curation pipelines use (CCNet/RefinedWeb keep the longest or
    * highest-quality member of a duplicate cluster, not an arbitrary one —
    * the reference's tombstone-duplicates analogue `BKTIndex.cpp:875-890`
    * has no notion of quality, so this is a beyond-reference policy knob).
    *
    * Winner selection is ONE hash aggregation over `(canon_id)` via a
    * lexicographic struct-max on `(score, -id)` — no window, no sort, state
    * ∝ groups — followed by a left-semi join that streams the corpus once.
    * Deterministic for any score expression (ties fall to the id).
    */
  def applyDedupKeepBest(docs: DataFrame, groups: DataFrame, score: Column,
      idCol: String = "doc_id"): DataFrame = {
    val winners = docs
      .withColumn("_s", score)
      .select(col(idCol), col("_s"))
      .join(groups.select(col(idCol), col("canon_id")), Seq(idCol))
      .groupBy(col("canon_id"))
      .agg(max(struct(col("_s").as("s"), (-col(idCol)).as("nid"))).as("w"))
      .select((-col("w.nid")).cast("long").as(idCol))
    docs.join(winners, Seq(idCol), "left_semi")
  }

  /** Eval-set decontamination check (pre-training hygiene: training docs
    * that overlap a benchmark/eval set leak the test): for each corpus doc,
    * the fraction of its DISTINCT n-gram shingles that appear anywhere in
    * the eval set. Output `(doc_id, n_shingles, n_contaminated,
    * contamination)`.
    *
    * Scale: the eval shingle set is distinct-deduped once; the check is ONE
    * left-semi equi-join on the shingle string — shuffle ∝ corpus shingles,
    * never a doc-pair space, and the (typically tiny) eval side broadcasts.
    */
  def contamination(
      docs: DataFrame, evalDocs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val docSh = shingles(docs, n, idCol, textCol)
    val evalSh = shingles(evalDocs, n, idCol, textCol).select(col("sh")).distinct()
    val hits = docSh.join(evalSh, Seq("sh"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contaminated"))
    docSh.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          col("n_shingles").cast("double"), 4).as("contamination"))
  }

  /** Terminal decontamination apply: the corpus minus docs whose eval
    * overlap reaches `maxOverlap` (anti-join on the flagged id set).
    */
  def decontaminate(
      docs: DataFrame, evalDocs: DataFrame, maxOverlap: Double, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.join(
      contamination(docs, evalDocs, n, idCol, textCol)
        .where(col("contamination") >= maxOverlap).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** 64-bit SimHash over the token multiset: bit b is set when
    * Σ_tokens (bit_b(h(token)) ? +1 : −1) > 0, where bits 0–31 come from
    * `hash60(token)` and bits 32–63 from `hash60(token || "#hi")` ([[Hash60]]
    * is 60-bit, so a second salted hash supplies the upper half with full
    * per-bit uniformity). Docs with zero tokens are dropped (no signal —
    * and the explode-form oracle SQL drops them too). Output
    * `(doc_id, simhash)` — the code is a signed BIGINT (bit 63 lands on the
    * sign; band extraction masks with `&`, so sign never matters).
    *
    * Widened from 16 bits in round 9: a 16-bit code has only 2¹⁶ distinct
    * values, so any corpus with n ≫ 65k collapses banding into a disguised
    * cartesian; 64 bits gives 16-bit bands (65k values each) and code
    * collisions only for genuinely near-identical token profiles.
    *
    * In-row form (also new): per-token hashes live in array columns and each
    * bit's majority vote is a `filter` count over them — no token explode,
    * no per-doc groupBy; pure scan-speed column math at any corpus size.
    */
  def simhash64(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hashed = docs
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .where(size(col("_toks")) > 0)
      .select(col(idCol),
        transform(col("_toks"), tk => Hash60(tk)).as("_hlo"),
        transform(col("_toks"), tk => Hash60(concat(tk, lit("#hi")))).as("_hhi"))
    // majority vote: sum(±1) > 0  ⟺  2·(set-bit count) > token count
    def bitSet(harr: Column, b: Int): Column =
      size(filter(harr, h => shiftright(h, b) % 2 === 1)) * 2 > size(harr)
    val code = (0 until 64).map { b =>
      val c = if (b < 32) bitSet(col("_hlo"), b) else bitSet(col("_hhi"), b - 32)
      when(c, lit(1L << b)).otherwise(lit(0L)) // 1L<<63 IS Long.MinValue: exact
    }.reduce(_ + _)
    hashed.select(col(idCol), code.as("simhash"))
  }

  /** SimHash near-dup pairs: hamming distance ≤ maxHamming, banded.
    *
    * Pigeonhole banding: split the 64-bit code into `maxHamming + 1` bit
    * bands — two codes within hamming ≤ maxHamming differ in at most
    * maxHamming bands, so they AGREE on at least one. Candidates therefore
    * come from an equi-join on `(band, band_value)` (shuffle ∝ corpus size,
    * like MinHash-LSH), never an all-pairs crossJoin; the exact hamming
    * filter then verifies in-row. Same output as the brute-force form
    * ([[simhashPairsBrute]], test-only) — `(a, b, hamming)`, a < b.
    *
    * Skew guard (round 9, closing the r8 verdict's quadratic-at-scale flag):
    * buckets over `maxBucket` are dropped as stop-buckets, exactly like
    * [[lshCandidates]] — a band value shared by that many docs is a
    * non-discriminative code collision (boilerplate token profiles), and the
    * window shuffles on the join's own `(band, bv)` key so the guard adds no
    * extra exchange. With default banding (maxHamming 3 → four 16-bit bands)
    * a genuine near-dup pair agrees on ≥1 band and is lost only if every
    * agreeing band is hot.
    *
    * Contract change (round 6, intended): `maxHamming >= bits` REJECTS
    * instead of silently capping the band count — at that threshold every
    * pair is within distance, so the caller almost certainly mis-sized the
    * parameter, and the capped banding could no longer guarantee recall.
    */
  def simhashPairs(sims: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = MaxBandBucket): DataFrame = {
    val bits = 64
    // the pigeonhole guarantee needs maxHamming + 1 <= bits bands;
    // at maxHamming >= bits every pair qualifies anyway — degenerate input
    require(maxHamming < bits,
      s"maxHamming $maxHamming >= $bits bits: banding cannot guarantee recall")
    val nb = math.min(maxHamming + 1, bits)
    val cuts = (0 to nb).map(i => i * bits / nb)
    val bandCols = (0 until nb).map { i =>
      val start = cuts(i); val len = cuts(i + 1) - start
      // mask with &, never mod: bit 63 makes the code negative and >> is
      // arithmetic — the AND keeps the banded bits exact regardless of sign
      val mask = if (len >= 64) -1L else (1L << len) - 1L
      shiftright(col("simhash"), start).bitwiseAND(lit(mask))
    }
    val banded = sims.select(col("doc_id"), col("simhash"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bv")))
    val w = Window.partitionBy(col("band"), col("bv"))
    val small = banded
      .withColumn("_cnt", count(lit(1)).over(w))
      .where(col("_cnt") <= maxBucket)
    val l = small.select(col("doc_id").as("a"), col("simhash").as("ha"), col("band"), col("bv"))
    val r = small.select(col("doc_id").as("b"), col("simhash").as("hb"), col("band"), col("bv"))
    l.join(r, Seq("band", "bv")).where(col("a") < col("b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .where(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming")).distinct()
  }

  /** Brute-force O(n²) form of [[simhashPairs]] — kept ONLY as the spec's
    * equality oracle; never call it on a real corpus.
    */
  def simhashPairsBrute(sims: DataFrame, maxHamming: Int = 3): DataFrame = {
    val l = sims.select(col("doc_id").as("a"), col("simhash").as("ha"))
    val r = sims.select(col("doc_id").as("b"), col("simhash").as("hb"))
    l.crossJoin(r).where(col("a") < col("b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .where(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Brute-force O(n²) embedding-cosine near-dup pairs — kept ONLY as the
    * spec's recall/equality oracle (like [[simhashPairsBrute]]); the query
    * path is [[SimilaritySearch.lshNearDup]]'s banded blocking. Never call
    * this on a real corpus. Input `(id, vec)`; output `(a, b, cos_dist)`.
    */
  def embeddingPairs(emb: DataFrame, maxCosDist: Double): DataFrame = {
    val l = emb.select(col("id").as("a"), col("vec").as("va"))
    val r = emb.select(col("id").as("b"), col("vec").as("vb"))
    l.crossJoin(r).where(col("a") < col("b"))
      .withColumn("cos_dist", graft.functions.dist.cos(col("va"), col("vb")))
      .where(col("cos_dist") < maxCosDist)
      .select(col("a"), col("b"), round(col("cos_dist"), 4).as("cos_dist"))
  }

  /** Winnowing-lite document fingerprint: min hash60 over all `n`-char
    * windows of the raw text. Output `(doc_id, fingerprint)`.
    */
  def fingerprint(docs: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      array_min(transform(
        sequence(lit(1), greatest(length(col(textCol)) - (n - 1), lit(1))),
        i => Hash60(col(textCol).substr(i, lit(n))))).as("fingerprint"))

  /** FULL winnowing fingerprints (the MOSS scheme — Schleimer/Wilkerson/
    * Aiken, SIGMOD'03): hash every `k`-char window of the text, slide a
    * `w`-hash window over that sequence, keep each window's MINIMUM hash,
    * dedupe per doc. Output `(doc_id, fp)`, one row per selected hash.
    *
    * The GUARANTEE [[fingerprint]] lacks: two documents sharing any
    * substring of length ≥ `w+k−1` share at least one fingerprint (every
    * such substring fully contains one selection window), at ~`2·len/w`
    * fingerprints per doc instead of one-per-doc (q39) or all-`len` (raw
    * k-grams) — the density/guarantee dial for substring-level overlap.
    *
    * Scale shape: hash, slide, min, and dedupe are all IN-ROW array math
    * over a materialized hash column (the k-gram hashes are computed ONCE —
    * an inlined expression would re-hash per window, O(len·w) md5 calls);
    * the only shuffle is whatever the caller does with the exploded rows.
    * Docs shorter than `k` chars hash their whole text once (the q39 clamp).
    */
  def winnow(docs: DataFrame, k: Int = 8, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      transform(
        sequence(lit(1), greatest(length(col(textCol)) - (k - 1), lit(1))),
        i => Hash60(col(textCol).substr(i, lit(k)))).as("_hs"))
      .select(col(idCol),
        explode(array_distinct(transform(
          sequence(lit(1), greatest(size(col("_hs")) - (w - 1), lit(1))),
          j => array_min(slice(col("_hs"), j, lit(w)))))).as("fp"))

  /** Cross-document overlap via shared winnowing fingerprints — the MOSS
    * match report: `(a, b, n_shared, overlap)` for pairs sharing at least
    * `minShared` selected fingerprints AND an overlap fraction ≥
    * `minOverlap`, where `overlap` = shared / the SMALLER side's fingerprint
    * count (containment-style, so a snippet pasted into a long doc still
    * scores high). `a < b`, each pair once. The fraction threshold is what
    * keeps the REPORT sub-quadratic on templated corpora: on a corpus where
    * every doc shares a few boilerplate grams with every other, an absolute
    * `n_shared` floor alone returns ~all pairs (measured: 87.9k of 124.8k
    * possible on the sf0.01 fixture at minShared=2; 4dp-overlap ≥ 0.25
    * keeps ~100).
    *
    * Stop-fingerprint guard: fingerprints in more than `maxDf` docs are
    * dropped BEFORE pairing (the [[MaxBandBucket]] rationale — a hash that
    * common is boilerplate, and the per-fp self-join is quadratic in its
    * doc list). Shuffle ∝ surviving (fp, doc) rows; no doc-pair space is
    * ever materialized beyond fps actually shared.
    */
  def winnowOverlap(docs: DataFrame, k: Int = 8, w: Int = 4,
      minShared: Long = 2L, maxDf: Long = 64L, minOverlap: Double = 0.25,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fps = winnow(docs, k, w, idCol, textCol)
    val sizes = fps.groupBy(col(idCol)).agg(count(lit(1)).as("n_fp"))
    val dfreq = fps.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
    val kept = fps.join(dfreq.where(col("_df") <= maxDf).select(col("fp")),
      Seq("fp"))
    kept.select(col("fp"), col(idCol).as("a"))
      .join(kept.select(col("fp"), col(idCol).as("b")), Seq("fp"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .join(sizes.select(col(idCol).as("a"), col("n_fp").as("_na")), Seq("a"))
      .join(sizes.select(col(idCol).as("b"), col("n_fp").as("_nb")), Seq("b"))
      .select(col("a"), col("b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("_na"), col("_nb")).cast("double"), 4).as("overlap"))
      .where(col("overlap") >= minOverlap)
  }

  /** Exact duplicated-SPAN detection across documents — the token-level
    * substring-dedup signal of the suffix-array method (find every maximal
    * run of ≥ `minTokens` tokens that two documents share VERBATIM — the
    * dedup class n-gram Jaccard and MinHash can't localize), re-expressed
    * as positional gram fingerprints: each doc emits a [[Hash60]] per
    * `gramLen`-token window with its position; two docs sharing `g`
    * CONSECUTIVE grams on one alignment diagonal (`pos_a − pos_b` constant)
    * share an exact run of `g + gramLen − 1` tokens, recovered with the
    * gaps-and-islands trick (`pos − row_number()` per diagonal). Output one
    * row per maximal shared run: `(a, b, pos_a, pos_b, run_tokens)`,
    * positions 1-based, `a < b`.
    *
    * Stop-gram guard ([[MaxBandBucket]] rationale): grams present in more
    * than `maxDf` documents are dropped BEFORE pairing — boilerplate that
    * common is non-discriminative and its pair space is quadratic. A
    * dropped stop-gram can split a covering run in two (same acceptance as
    * every banded operator here).
    *
    * Scale: gram fingerprints shuffle by hash (∝ corpus tokens, map-side
    * partial df); the pair join fans out only within ≤ `maxDf` doc lists;
    * the island windows partition by `(a, b, diagonal)` — fine-grained
    * keys, never a corpus-wide or source-wide sort.
    */
  def duplicatedSpans(docs: DataFrame, gramLen: Int = 8, minTokens: Int = 12,
      maxDf: Long = 64L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(gramLen > 0 && minTokens >= gramLen)
    val grams = gramFingerprints(docs, gramLen, idCol, textCol)
    val dfreq = grams.groupBy(col("gh"))
      .agg(countDistinct(col("_id")).as("_df"))
    val kept = grams
      .join(dfreq.where(col("_df") <= maxDf).select(col("gh")), Seq("gh"))
    val pairs = kept.select(col("gh"), col("_id").as("a"), col("pos").as("pa"))
      .join(kept.select(col("gh"), col("_id").as("b"), col("pos").as("pb")),
        Seq("gh"))
      .where(col("a") < col("b"))
    spanIslands(pairs, gramLen, minTokens)
  }

  /** Span-level decontamination report — [[duplicatedSpans]] ACROSS two
    * corpora: every maximal verbatim run of ≥ `minTokens` tokens a TRAIN
    * document shares with an EVAL document, with positions on both sides.
    * This is the audit behind [[contamination]]'s doc-level verdict: where
    * exactly the benchmark text sits inside the training document (span
    * scrubbing needs positions, not just a flag). Output
    * `(a, b, pos_a, pos_b, run_tokens)` with `a` = train id, `b` = eval id.
    *
    * The stop-gram guard's document frequency counts BOTH corpora (a gram
    * common across train is boilerplate even if rare in eval). Scale: same
    * shape as duplicatedSpans; the pair join fans out only train×eval
    * within ≤ `maxDf` doc lists.
    */
  def contaminationSpans(train: DataFrame, eval: DataFrame,
      gramLen: Int = 8, minTokens: Int = 12, maxDf: Long = 64L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(gramLen > 0 && minTokens >= gramLen)
    val tg = gramFingerprints(train, gramLen, idCol, textCol)
    val eg = gramFingerprints(eval, gramLen, idCol, textCol)
    val dfreq = tg.unionByName(eg).groupBy(col("gh"))
      .agg(countDistinct(col("_id")).as("_df"))
    val keepGh = dfreq.where(col("_df") <= maxDf).select(col("gh"))
    val pairs = tg.join(keepGh, Seq("gh"))
      .select(col("gh"), col("_id").as("a"), col("pos").as("pa"))
      .join(eg.select(col("gh"), col("_id").as("b"), col("pos").as("pb")),
        Seq("gh"))
    spanIslands(pairs, gramLen, minTokens)
  }

  /** Positional `gramLen`-token fingerprints: `(_id, pos, gh)`, pos 1-based
    * (shared by [[duplicatedSpans]] / [[contaminationSpans]]).
    */
  private def gramFingerprints(docs: DataFrame, gramLen: Int,
      idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("_id"), tokens(col(textCol)).as("_t"))
      .where(size(col("_t")) >= gramLen)
      .select(col("_id"), posexplode(transform(
        sequence(lit(1), size(col("_t")) - (gramLen - 1)),
        i => Hash60(concat_ws(" ", slice(col("_t"), i, lit(gramLen))))))
        .as(Seq("_p", "gh")))
      .select(col("_id"), (col("_p") + 1).cast("long").as("pos"), col("gh"))

  /** Merge matched gram positions `(a, b, pa, pb)` into maximal runs per
    * alignment diagonal (gaps-and-islands) and keep runs ≥ `minTokens`.
    */
  private def spanIslands(pairs: DataFrame, gramLen: Int,
      minTokens: Int): DataFrame = {
    val w = Window.partitionBy(col("a"), col("b"), col("_diag"))
      .orderBy(col("pa"))
    pairs
      .withColumn("_diag", col("pa") - col("pb"))
      .withColumn("_run", col("pa") - row_number().over(w))
      .groupBy(col("a"), col("b"), col("_diag"), col("_run"))
      .agg(min(col("pa")).as("pos_a"), min(col("pb")).as("pos_b"),
        (count(lit(1)) + (gramLen - 1)).as("run_tokens"))
      .where(col("run_tokens") >= minTokens)
      .select(col("a"), col("b"), col("pos_a"), col("pos_b"), col("run_tokens"))
  }

  /** Per-document n-gram novelty: the share of a doc's DISTINCT shingles
    * that appear in NO other document — the inverse signal of
    * [[graft.operators.TextAnalysis.boilerplate]] (novel ≈ fresh content,
    * low-novelty ≈ templated/duplicated), used to up-rank documents that add
    * information to a corpus. Output `(doc_id, n_shingles, n_novel,
    * novel_share)`; docs whose text yields no shingle window still emit one
    * clamped shingle (the [[shingles]] contract), so every doc scores.
    *
    * Scale: one shingle hash-groupBy for corpus df + one equi-join back —
    * shuffle ∝ corpus tokens, no pair space, the q76 boilerplate shape.
    */
  /** Corpus novelty over time: per ingest period, the share of the
    * period's DISTINCT shingles never seen in ANY earlier period — the
    * "is my crawl still finding new content or re-crawling itself" curve
    * a growing corpus is monitored by (a falling new-share means the
    * marginal crawl dollar buys duplicates; [[noveltyScore]] is the
    * per-doc signal, this is the longitudinal one). Input carries an
    * integer/date period column; output
    * `(period, n_shingles, n_new, new_share)` at 6dp.
    *
    * Scale shape: per-period distinct shingle sets via one (period, sh)
    * hash agg; first-seen period via a min agg keyed by shingle; the
    * period report is a count/conditional-count agg — no windows, no
    * self-joins, shuffle keyed on shingles exactly once.
    */
  def noveltyCurve(docs: DataFrame, periodCol: String, n: Int = 3,
      textCol: String = "text"): DataFrame = {
    // reuse the canonical shingle formation (one definition to keep in sync
    // with the DuckDB clamp); the per-doc distinct sets collapse to the
    // per-period distinct set at the groupBy
    val sh = shingles(docs.select(col(periodCol).as("_p"), col(textCol)),
        n, "_p", textCol)
      .groupBy(col("_p"), col("sh")).agg(count(lit(1)).as("_c"))
      .localCheckpoint(eager = false)
    val first = sh.groupBy(col("sh")).agg(min(col("_p")).as("_first"))
    sh.join(first, Seq("sh"))
      .groupBy(col("_p"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_first") === col("_p"), 1L).otherwise(0L)).as("n_new"))
      .select(col("_p").as(periodCol), col("n_shingles"), col("n_new"),
        round(col("n_new").cast("double") / col("n_shingles"), 6)
          .as("new_share"))
  }

  def noveltyScore(docs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = shingles(docs, n, idCol, textCol)
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("_df"))
    sh.join(dfreq, Seq("sh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col(idCol), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles").cast("double"), 4)
          .as("novel_share"))
  }

  /** Cross-source contamination matrix: for every pair of sources, how many
    * distinct `n`-word shingles they share, and the Jaccard similarity of
    * their shingle SETS — the corpus-audit view that surfaces mirror domains
    * and scraped-twice content before any doc-level dedup runs. Output
    * `(src_a, src_b, n_shared, jaccard)` with `src_a < src_b`.
    *
    * Scale shape: the corpus collapses to DISTINCT `(source, shingle)` rows
    * first (one hash agg); the pair join is per-shingle across sources —
    * sources are few, so a shingle contributes at most |S|² pairs and the
    * join output is bounded by |distinct shingles|·|S|², never by docs².
    * Per-source set sizes are another tiny aggregate, broadcast back.
    */
  def sourceOverlap(docs: DataFrame, n: Int = 3,
      textCol: String = "text", sourceCol: String = "source"): DataFrame = {
    val srcSh = docs
      .select(col(sourceCol).as("src"), tokens(col(textCol)).as("toks"))
      .select(col("src"), explode(
        array_distinct(transform(
          sequence(lit(1), greatest(size(col("toks")) - (n - 1), lit(1))),
          i => concat_ws(" ", slice(col("toks"), i, lit(n)))))).as("sh"))
      .distinct()
    val shared = srcSh.as("l").join(srcSh.as("r"), Seq("sh"))
      .where(col("l.src") < col("r.src"))
      .groupBy(col("l.src").as("src_a"), col("r.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    val sizes = srcSh.groupBy(col("src")).agg(count(lit(1)).as("n_sh"))
    shared
      .join(broadcast(sizes.select(col("src").as("src_a"), col("n_sh").as("_na"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("src").as("src_b"), col("n_sh").as("_nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("_na") + col("_nb") - col("n_shared")).cast("double"), 4).as("jaccard"))
  }

}
