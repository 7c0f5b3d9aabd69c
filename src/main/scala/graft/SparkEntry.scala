package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Association, BalancedKMeans, Dedup, Eval, Joins, KdTree, Knn, MultiIndex, Multimodal, Mutations, Pipeline, SimilaritySearch, Spann, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is an operator from SURVEY.md §2 re-expressed
  * Spark-first; [[oracleSql]] carries the DuckDB-equivalent SQL the driver
  * hash-compares against on /root/testdata/sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_knn_l2")(spark, "/root/testdata/sf0.001")

  // number of query vectors used by the kNN family (o_orderkey < QN)
  private val QN = 50
  private val K = 10
  // SPANN knobs (ratio ~= 1/HeadNth; reference defaults at BASELINE.md)
  private val HeadNth = 200
  private val Replicas = 4
  private val InternalK = 8
  // id-disjoint window chunks in the posting-assignment oracle (see
  // spannCtes): bounds the DuckDB replay's window spill to 1/8 of the
  // |corpus|×|heads| pair space at a time — the sf0.1 stress-sweep enabler
  private val PostingChunks = 8

  private def q(s: SparkSession, d: String): DataFrame =
    Tables.ordersQuery(s, d).where(col("query_id") < QN)

  // heads are an index artifact like the postings (build-once / search-many):
  // without the memo every head consumer (q07 build, q08/q09 stage-1, the
  // eval queries) re-derived them by scanning the 600k-row fixture cache to
  // keep 3 000 rows — ~0.25 s of IMR array decode per query (ProfileStages,
  // `collect at NearestHeads` stage). The checkpoint is 3 000 rows; the
  // derivation itself still runs (and is timed) in the first query that
  // touches it in a session — q07, the build query.
  private val headsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def heads(s: SparkSession, d: String): DataFrame =
    headsCache.getOrElseUpdate((s, d),
      Spann.selectHeadsModulo(Tables.lineitemVec(s, d), HeadNth)
        .localCheckpoint(true))

  // two-level routing knobs (q53): every 20th head is a super-head; each
  // head routes to its 2 nearest super-heads; queries probe 4 super-heads
  private val SuperNth = HeadNth * 20
  private val SuperK = 4
  private val RouteReplicas = 2

  private def superHeads(s: SparkSession, d: String): DataFrame =
    Spann.selectHeadsModulo(
      heads(s, d).select(col("head_id").as("id"), col("head_vec").as("vec")), SuperNth)
      .select(col("head_id").as("super_id"), col("head_vec").as("super_vec"))

  // the SPANN contract is build-once / search-many: q07 measures the build,
  // q08+ search against the built (cached) index rather than re-deriving it
  private val postingsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def postings(s: SparkSession, d: String): DataFrame =
    postingsCache.getOrElseUpdate((s, d),
      // localCheckpoint, not cache(): InMemoryRelation's columnar build is
      // ~3x the cost of the posting build itself for array columns. Eager,
      // so materialization happens in THIS plan's execution (lazy would run
      // under a later query and spam unregistered-accumulator errors)
      Spann.buildPostings(Tables.lineitemVec(s, d), heads(s, d), Replicas)
        .localCheckpoint(true))

  /** Drop a finished session's memoized per-session state (fixture frames,
    * posting checkpoint, fitted models) so the session and its pinned blocks
    * become collectable — see [[Tables.dropSessionCaches]] for the measured
    * retained-heap rationale. The bench calls this after each timed run's
    * child session is done.
    */
  def dropSessionCaches(s: SparkSession): Unit = {
    postingsCache.keys.filter(_._1 eq s).foreach(postingsCache.remove)
    headsCache.keys.filter(_._1 eq s).foreach(headsCache.remove)
    pcaModelCache.keys.filter(_._1 eq s).foreach(pcaModelCache.remove)
    isoModelCache.keys.filter(_._1 eq s).foreach(isoModelCache.remove)
    wvModelCache.keys.filter(_._1 eq s).foreach(wvModelCache.remove)
    Tables.dropSessionCaches(s)
  }

  // adaptive stage-1 widening (q08/q11/q19): always probe the top InternalK
  // heads, plus heads up to rank WideK within CloseRatio of the best — the
  // dense-region compensation that lifts q11's min per-query recall from
  // 0.8 to 1.0 (every sub-0.9 query's whole 24-head profile sits within
  // 1.07x of its best head, so the widened probe covers it; steep-profile
  // queries add ~3 heads on average)
  private val WideK = 24
  private val CloseRatio = 1.08

  private def spannResults(s: SparkSession, d: String): DataFrame =
    Spann.searchTwoStage(q(s, d), heads(s, d), postings(s, d), K, InternalK,
      wideK = WideK, closeRatio = CloseRatio)

  /** Per-JVM scratch root for queries that write/read disk artifacts
    * (q46/q52/q58). Fixed subdir per query + overwrite-mode writes, so
    * correctness/bench re-runs within one JVM reuse the same paths instead of
    * accumulating parquet copies; the whole tree is deleted at JVM exit.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(p.toFile)
    }))
    p
  }

  private def scratch(name: String): String = {
    val sub = scratchRoot.resolve(name)
    java.nio.file.Files.createDirectories(sub)
    sub.toString
  }

  private def ordered(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*)

  /** The 5-NN cosine digraph of the embedding set `(src, dst)` — shared by
    * the graph-analytics queries (q109 PageRank, q254 mutual-kNN, q256
    * label propagation). The exact self-kNN edge build here is the ORACLE
    * path (all vectors as batch queries — fixture-bounded, like q95); at
    * corpus scale the operators consume the B2/B3 TP-tree graph's edge
    * table instead. Top-(k+1) then drop self: removing one element can
    * only promote, so the k best remaining ranks are exactly the oracle's
    * self-free top-k.
    */
  private def knnDigraph(s: SparkSession, d: String): DataFrame =
    knnDigraphOver(Tables.embeddingVec(s, d).select(col("id"), col("vec")))

  /** [[knnDigraph]] over an explicit vector snapshot (q270 compares the
    * graph of two snapshots of the same corpus).
    */
  private def knnDigraphOver(vecs: DataFrame): DataFrame = {
    val qs = vecs.select(col("id").as("query_id"), col("vec").as("qvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rank"))
    Knn.search(qs, vecs, PrK + 1, "cos")
      .where(col("id") =!= col("query_id"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= PrK)
      .select(col("query_id").as("src"), col("id").as("dst"))
  }

  /** DuckDB mirror of [[knnDigraph]] (v/dd/e CTE prefix; `suffix` +
    * `where` emit an independently-named filtered snapshot).
    */
  private def knnDigraphCtesFor(suffix: String, where: String): String = {
    val cd = Tables.distSql("cos", s"a.vec", s"b.vec")
    val v = s"v$suffix"; val dd = s"dd$suffix"; val e = s"e$suffix"
    s"""$v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings$where),
       |$dd AS (SELECT a.id AS src, b.id AS dst, $cd AS dist
       |       FROM $v a CROSS JOIN $v b WHERE a.id <> b.id),
       |$e AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst,
       |        row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn FROM $dd)
       |      WHERE rn <= $PrK)""".stripMargin
  }

  private def knnDigraphCtes: String = knnDigraphCtesFor("", "")

  /** Shared oracle chain for the ranking-agreement metrics (q274 RBO,
    * q279 MAP): `re` = the q37 exact top-K ranking, `ri` = the q38 IVF
    * top-K ranking, both `(query_id, id, rank)` over the same query set
    * `q`.
    */
  private def exactVsIvfCtes: String = {
    val tDist = Tables.distSql("cos", "q.qvec", "v.vec")
    val pDist = Tables.distSql("cos", "v.vec", "h.head_vec")
    val hDist = Tables.distSql("cos", "q.qvec", "h.head_vec")
    val sDist = Tables.distSql("cos", "ch.qvec", "p.vec")
    s"""v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
       |      WHERE vec_id < 10),
       |d37 AS (SELECT q.query_id, v.id, $tDist AS dist FROM q CROSS JOIN v),
       |re AS (SELECT query_id, id, rank FROM (SELECT query_id, id,
       |        row_number() OVER (PARTITION BY query_id ORDER BY dist, id)
       |          AS rank FROM d37) WHERE rank <= $K),
       |h AS (SELECT id AS head_id, vec AS head_vec FROM v WHERE id % 25 = 0),
       |pd AS (SELECT v.id, v.vec, h.head_id, $pDist AS dist FROM v CROSS JOIN h),
       |p AS (SELECT * FROM (SELECT id, vec, head_id, dist,
       |        row_number() OVER (PARTITION BY id ORDER BY dist, head_id)
       |          AS rn FROM pd) WHERE rn <= 1),
       |chd AS (SELECT q.query_id, q.qvec, h.head_id, $hDist AS hdist
       |        FROM q CROSS JOIN h),
       |ch AS (SELECT * FROM (SELECT query_id, qvec, head_id, hdist,
       |        row_number() OVER (PARTITION BY query_id ORDER BY hdist, head_id)
       |          AS rn FROM chd) WHERE rn <= 4),
       |hits AS (SELECT ch.query_id, p.id, min($sDist) AS dist
       |         FROM ch JOIN p ON ch.head_id = p.head_id
       |         GROUP BY ch.query_id, p.id),
       |ri AS (SELECT query_id, id, rank FROM (SELECT query_id, id,
       |        row_number() OVER (PARTITION BY query_id ORDER BY dist, id)
       |          AS rank FROM hits) WHERE rank <= $K)""".stripMargin
  }

  // q217's PCA model is fitted ONCE per (session, dir) and shared between
  // the dumped query and the dynamic oracle ([[oracleSqlDynamic]]) so both
  // sides project through literally the same basis
  private val pcaModelCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), graft.functions.PCA.Model]

  private def pcaModel(s: SparkSession, d: String): graft.functions.PCA.Model =
    pcaModelCache.getOrElseUpdate((s, d),
      graft.functions.PCA.fit(Tables.embeddings(s, d), PcaK, "embedding"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_knn_l2" -> ((s, d) =>
      ordered(Knn.search(q(s, d), Tables.lineitemVec(s, d), K, "l2sq"))),
    "q02_knn_cos" -> ((s, d) =>
      ordered(Knn.search(q(s, d), Tables.lineitemVec(s, d), K, "cos"))),
    "q03_knn_ip" -> ((s, d) =>
      ordered(Knn.search(q(s, d), Tables.lineitemVec(s, d), K, "ip"))),
    "q04_knn_filtered" -> ((s, d) =>
      ordered(Knn.searchFiltered(
        q(s, d), Tables.lineitemVec(s, d), col("meta") =!= "AF", K))),
    "q05_knn_deletes" -> ((s, d) =>
      ordered(Knn.searchWithDeletes(
        q(s, d), Tables.lineitemVec(s, d), Tables.deletes(s, d), K))),
    "q06_knn_meta" -> ((s, d) =>
      ordered(Knn.searchWithMeta(q(s, d), Tables.lineitemVec(s, d), K))),
    "q07_spann_postings" -> ((s, d) =>
      ordered(postings(s, d)
        .select(col("head_id"), col("id"), round(col("dist"), 4).as("dist")))),
    "q08_spann_search" -> ((s, d) => ordered(spannResults(s, d))),
    "q09_search_tree" -> ((s, d) =>
      ordered(Spann.candidateHeads(q(s, d), heads(s, d), InternalK)
        .select(col("query_id"), col("rank"), col("head_id"),
          round(col("hdist"), 4).as("dist")))),
    "q10_multi_index" -> ((s, d) =>
      ordered(MultiIndex.weightedScan(
        Tables.customerVec(s, d), Seq("vec_a", "vec_b"),
        Seq(Array(5.0, 12.0, 18.0), Array(40.0, 8.0, 24.0)),
        Seq(0.7, 0.3), K))),
    "q11_truth_recall" -> ((s, d) =>
      ordered(Eval.recallSummary(Eval.recallAt(
        spannResults(s, d),
        Knn.search(q(s, d), Tables.lineitemVec(s, d), K), K)))),
    "q12_delete_by_vector" -> ((s, d) => {
      val corpus = Tables.lineitemVec(s, d)
      val targets = corpus.where(col("id") <= 5)
        .select(col("id").as("query_id"), col("vec").as("qvec"))
      ordered(Mutations.deleteByVector(corpus, targets))
    }),
    "q13_knn_window" -> ((s, d) =>
      ordered(Knn.searchViaWindow(q(s, d), Tables.lineitemVec(s, d), K))),
    // Q6: true resumable iteration — two successive next(10) batches off one
    // retained (cached) candidate frame; their union must equal the exact
    // top-20 with the relaxed-monotonicity flag past the exact budget of 15
    "q14_iter_relaxed" -> ((s, d) => {
      val it = Knn.iterate(q(s, d), Tables.lineitemVec(s, d),
        exactBudget = 15, maxK = 20)
      // materialize the union BEFORE releasing the retained workspace —
      // close() inside finally, so repeated runs in one JVM never accumulate
      // leaked InMemoryRelations (the iterator API's own contract)
      try ordered(it.next(10).unionByName(it.next(10))).localCheckpoint(true)
      finally it.close()
    }),
    "q15_spann_rng_postings" -> ((s, d) =>
      ordered(Spann.buildPostingsRng(
        Tables.lineitemVec(s, d), heads(s, d), Replicas)
        .select(col("head_id"), col("id")))),
    "q16_kmeans_assign" -> ((s, d) => {
      val pts = Tables.lineitemVec(s, d)
      val centers = pts.where(col("id") <= 8)
        .select((col("id") - 1).as("cluster_id"),
          col("vec").cast("array<double>").as("center"), lit(0L).as("count"))
      ordered(BalancedKMeans.assign(pts, centers)
        .select(col("id"), col("cluster_id"), round(col("dist"), 4).as("dist")))
    }),
    "q17_knn_graph" -> ((s, d) =>
      ordered(graft.operators.KnnGraph.build(
        Tables.lineitemVec(s, d).select(col("id"), col("vec")),
        dims = 6, neighborhoodSize = 8, trees = 2, planes = 8)
        .where(col("src") <= 2000))),
    "q18_rng_graph" -> ((s, d) => {
      val vecs = Tables.lineitemVec(s, d).select(col("id"), col("vec"))
      val g = graft.operators.KnnGraph.build(vecs, 6, 8, 2, 8)
        .where(col("src") <= 2000)
      ordered(graft.operators.KnnGraph.rngRefine(g, vecs))
    }),
    "q19_mrr" -> ((s, d) =>
      ordered(Eval.mrrAt(
        spannResults(s, d),
        Knn.search(q(s, d), Tables.lineitemVec(s, d), K), K))),
    "q20_tpch_q1" -> ((s, d) => tpchQ1(s, d)),
    // ---- training-data pipeline operators ----
    "q30_text_stats" -> ((s, d) =>
      ordered(TextAnalysis.stats(Tables.documents(s, d)))),
    "q31_lang_id" -> ((s, d) =>
      ordered(TextAnalysis.langId(Tables.documents(s, d)))),
    "q32_dedup_exact" -> ((s, d) =>
      ordered(Dedup.exact(Tables.documents(s, d)))),
    "q33_dedup_minhash" -> ((s, d) =>
      ordered(Dedup.minhashDedup(Tables.documents(s, d), 0.3))),
    // exact n-gram Jaccard through the PAIR-FIRST path: LSH candidates feed
    // jaccard's per-pair semi-join verify — the all-pairs shingle self-join
    // (pairs=None) fans out quadratically on hot shingles at scale and is
    // kept only as the spec oracle. Same verified output as q33 by
    // construction (same candidates, same measure); what this entry gates is
    // the candidate-first dataflow of `jaccard(sh, Some(pairs))`.
    "q34_dedup_jaccard" -> ((s, d) => {
      val sh = Dedup.shingles(Tables.documents(s, d))
      val cands = Dedup.lshCandidates(Dedup.lshBands(Dedup.minhash(sh)))
      ordered(Dedup.jaccard(sh, Some(cands)).where(col("jaccard") >= 0.3))
    }),
    "q35_dedup_simhash" -> ((s, d) =>
      ordered(Dedup.simhash64(Tables.documents(s, d)))),
    // embedding near-dup on the SCALE path: banded-LSH candidate blocking
    // (equi-join on (band, band_value)) + exact cosine verify — no all-pairs
    // crossJoin anywhere in the plan. The brute O(n²) form
    // (Dedup.embeddingPairs) is demoted to the spec oracle, exactly like
    // simhashPairsBrute; the DuckDB oracle mirrors the banding bit-for-bit.
    "q36_dedup_embedding" -> ((s, d) =>
      ordered(SimilaritySearch.lshNearDup(
        Tables.embeddingVec(s, d), dims = 64, maxCosDist = 0.6))),
    "q37_ann_bruteforce" -> ((s, d) =>
      ordered(SimilaritySearch.bruteForce(
        embQueries(s, d), Tables.embeddingVec(s, d), K))),
    "q38_ann_ivf" -> ((s, d) =>
      ordered(SimilaritySearch.ivfSearch(
        embQueries(s, d), Tables.embeddingVec(s, d), K,
        centroidEveryNth = 25, nprobe = 4))),
    "q39_fingerprint" -> ((s, d) =>
      ordered(Dedup.fingerprint(Tables.documents(s, d)))),
    "q40_ann_lsh" -> ((s, d) =>
      ordered(SimilaritySearch.lshCodes(Tables.embeddingVec(s, d), dims = 64))),
    "q41_multimodal" -> ((s, d) => ordered(Multimodal.byteStats(s, d))),
    "q42_pq_search" -> ((s, d) => {
      // trained on integer-scaled vectors (×1000, rounded): every Lloyd
      // centroid update is then a sum of exact integers (< 2^53) divided
      // once — bit-deterministic regardless of partitioning, so the whole
      // train→quantize→ADC pipeline is DuckDB-reproducible
      val corpus = Tables.lineitemVec(s, d)
        .select(col("id"), scaleVec(col("vec")).as("vec"))
      val queries = q(s, d)
        .select(col("query_id"), scaleVec(col("qvec")).as("qvec"))
      val cb = graft.functions.PQ.train(corpus, dim = 6, m = 3, k = 16, maxIter = 3)
      // dist is descaled by 1e6 (the ×1000 vector scale, squared) BEFORE
      // rounding: at the raw ~1e11 magnitude the 4dp boundary sits inside
      // double ulp spacing and Spark/DuckDB round() implementations diverge
      ordered(graft.functions.PQ.adcSearch(
        queries, graft.functions.PQ.quantize(corpus, cb).select(col("id"), col("codes")), cb, K)
        .select(col("query_id"), col("rank"), col("id"),
          round(col("dist") / 1e6, 4).as("dist")))
    }),
    "q43_events_window" -> ((s, d) =>
      ordered(graft.streaming.StreamingIngest.eventsWindowed(Tables.events(s, d)))),
    "q44_tpch_q3" -> ((s, d) => tpchQ3(s, d)),
    "q45_query_parse" -> ((s, d) => {
      val strs = Tables.orders(s, d).where(col("o_orderkey") < 100).select(
        col("o_orderkey").as("query_id"),
        concat(
          lit("$k:"), (col("o_orderkey") % 20 + 1).cast("string"),
          lit("$index:idx"), (col("o_orderkey") % 3).cast("string"),
          lit("|"), month(col("o_orderdate")).cast("string"),
          lit("|"), dayofmonth(col("o_orderdate")).cast("string"),
          lit("|"), (col("o_orderkey") % 97).cast("string")).as("query"))
      ordered(graft.sources.QueryParser.parse(strs)
        .select(col("query_id"), col("k"), col("index_name"),
          size(col("qvec")).as("dim"),
          col("qvec").getItem(0).cast("int").as("v0")))
    }),
    // S6: save → load roundtrip through the bucketed-parquet index layout,
    // INCLUDING the metadata table (`VectorIndex.h:85-101` persists vectors +
    // metadata + metaindex; a bare loaded index must still serve Q3): the
    // loaded postings hydrated with the loaded meta must equal the built
    // postings joined to the corpus meta (≡ q07's oracle + meta)
    "q46_index_roundtrip" -> ((s, d) => {
      val dir = scratch("q46_idx")
      graft.sources.IndexStore.save(dir, heads(s, d), postings(s, d), None,
        graft.sources.IndexStore.IndexConfig("l2sq", 6, Replicas, 16),
        meta = Some(Tables.lineitemVec(s, d).select(col("id"), col("meta"))))
      val loaded = graft.sources.IndexStore.load(s, dir)
      ordered(loaded.postings.join(loaded.meta.get, Seq("id"))
        .select(col("head_id"), col("id"), round(col("dist"), 4).as("dist"),
          col("meta")))
    }),
    // M1: base + appended batch searched together ≡ exact kNN over the union
    "q47_add_search" -> ((s, d) => {
      val all = Tables.lineitemVec(s, d)
      val base = all.where(col("id") % 3 =!= 0)
      val batch = all.where(col("id") % 3 === 0)
      ordered(Knn.search(q(s, d), Mutations.add(base, batch), K, "l2sq"))
    }),
    // M4: meta → ids via the meta mapping, then tombstone-aware search.
    // The meta set comes from a real (non-foldable) scan — a literal 1-row
    // frame would constant-fold the equi-key away and degrade the semi-join
    // to a nested loop, which is not the plan a real meta table produces
    "q48_delete_by_meta" -> ((s, d) => {
      val corpus = Tables.lineitemVec(s, d)
      val metaValues = corpus.select(col("meta"))
        .where(col("meta") === "RF").distinct()
      val delIds = Mutations.deleteByMeta(corpus, metaValues)
      ordered(Knn.searchWithDeletes(q(s, d), corpus, delIds, K))
    }),
    // B4: in-degree-balanced graph rebuild over the q17 TP-tree graph
    "q49_graph_rebuild" -> ((s, d) => {
      val vecs = Tables.lineitemVec(s, d).select(col("id"), col("vec"))
      val g = graft.operators.KnnGraph.build(vecs, 6, 8, 2, 8)
        .where(col("src") <= 2000)
      ordered(graft.operators.KnnGraph.rebuildBalanced(g, 8)
        .select(col("src"), col("dst"), round(col("dist"), 4).as("dist")))
    }),
    // V2: scatter-gather (per-"server" top-k + global re-merge) ≡ exact kNN
    "q50_scatter_gather" -> ((s, d) => {
      val corpus = Tables.lineitemVec(s, d)
      val shards = Seq(0, 1, 2).map(i => corpus.where(col("id") % 3 === i))
      ordered(graft.operators.Serving.scatterGather(q(s, d), shards, K))
    }),
    // degraded-mode aggregation (the reference's Timeout/FailedNetwork
    // slots): shard 2 of 4 is down; results = exact kNN of the surviving
    // three shards, annotated (n_shards_ok, n_shards)
    "q285_scatter_partial" -> ((s, d) => {
      val corpus = Tables.lineitemVec(s, d)
      val shards = (0 until 4).map(i => corpus.where(col("id") % 4 === i))
      ordered(graft.operators.Serving.scatterGatherPartial(
        q(s, d), shards, K, failedShards = Set(2)))
    }),
    // B11: merge with last-write-wins on id (the "other" index carries
    // shifted vectors for every 7th id), then exact kNN over the merged view
    "q51_merge_index" -> ((s, d) => {
      val a = Tables.lineitemVec(s, d)
      // shift via double-add + cast-to-float: bit-identical in DuckDB
      // (`CAST(x::DOUBLE + 1 AS FLOAT)`) regardless of either engine's
      // float-promotion rules
      val b = a.where(col("id") % 7 === 0)
        .withColumn("vec",
          transform(col("vec"), x => (x.cast("double") + lit(1.0)).cast("float")))
      ordered(Knn.search(q(s, d), Mutations.merge(a, b), K, "l2sq"))
    }),
    // S1/S2/S3: write the corpus prefix to the reference's three legacy
    // vector-file formats, read each back through the binaryFile/text scans,
    // and emit the decoded components — float bits must survive all three
    // roundtrips exactly
    "q52_legacy_roundtrip" -> ((s, d) => {
      import graft.sources.LegacyFormats
      val rows = Tables.lineitemVec(s, d).where(col("id") <= 2000)
        .orderBy(col("id")).select(col("meta"), col("vec")).collect()
        .map(r => (r.getString(0), r.getSeq[Float](1).toArray))
      val dir = scratch("q52_fmt")
      LegacyFormats.writeDefault(s"$dir/v.bin", rows.map(_._2).toSeq)
      LegacyFormats.writeXvec(s"$dir/v.xvec", rows.map(_._2).toSeq)
      LegacyFormats.writeTxt(s"$dir/v.txt", rows.toSeq)
      val all = Seq(
        LegacyFormats.readDefault(s, s"$dir/v.bin").withColumn("fmt", lit("default")),
        LegacyFormats.readXvec(s, s"$dir/v.xvec").withColumn("fmt", lit("xvec")),
        LegacyFormats.readTxt(s, s"$dir/v.txt").drop("meta").withColumn("fmt", lit("txt")))
        .reduce(_ unionByName _)
      ordered(all.select(
        col("fmt") +: col("id") +:
          (0 until 6).map(i => col("vec").getItem(i).as(s"v${i + 1}")): _*))
    }),
    // Q5 at the head-set-beyond-broadcast scale: two-level routing — queries
    // hit the tiny super-head set, heads rank via equi-join on super_id
    // (never a full-head broadcast), then stage-2 as usual
    "q53_spann_hier" -> ((s, d) => {
      val sh = superHeads(s, d)
      val routing = Spann.routeHeads(heads(s, d), sh, RouteReplicas)
      ordered(Spann.searchTwoStageHier(
        q(s, d), sh, routing, postings(s, d), K, InternalK, SuperK))
    }),
    // B9: posting truncation — keep the `limit` closest per head, dropping
    // farthest replicas first (PostingPageLimit semantics)
    "q54_posting_truncate" -> ((s, d) =>
      ordered(Spann.truncatePostings(postings(s, d), 600)
        .select(col("head_id"), col("id"), round(col("dist"), 4).as("dist")))),
    // Q14: stage-1 head coverage of the exact top-K — the upper bound on
    // two-stage recall (SSDIndex.h:355-490 head-recall analysis)
    "q55_head_recall" -> ((s, d) =>
      ordered(Eval.headRecall(
        Spann.candidateHeads(q(s, d), heads(s, d), InternalK),
        postings(s, d),
        Knn.search(q(s, d), Tables.lineitemVec(s, d), K), K))),
    // B13: OPQ applied end-to-end (rotate → train → quantize → ADC) with an
    // EXACT orthogonal rotation — a signed permutation (entries 0/±1), so the
    // rotation is float-exact in both engines and the whole pipeline hash-
    // matches. The LEARNED-rotation paths (PCA eigenvalue-allocation and
    // alternating Procrustes) are PQSpec-verified: their SVD isn't SQL.
    "q56_opq_adc" -> ((s, d) => {
      import graft.functions.PQ
      val corpus = Tables.lineitemVec(s, d)
        .select(col("id"), scaleVec(col("vec")).as("vec"))
      val queries = q(s, d)
        .select(col("query_id"), scaleVec(col("qvec")).as("qvec"))
      val cb = PQ.train(corpus.withColumn("vec", rotateVec(col("vec"))),
        dim = 6, m = 3, k = 16, maxIter = 3)
      val rcb = PQ.RotatedCodebooks(opqRotation, cb)
      val quant = PQ.quantizeOpq(corpus, rcb).select(col("id"), col("codes"))
      ordered(PQ.adcSearchOpq(queries, quant, rcb, K)
        .select(col("query_id"), col("rank"), col("id"),
          round(col("dist") / 1e6, 4).as("dist")))
    }),
    // B10: RefineIndex compaction — drop tombstoned vectors, re-select heads
    // from the survivors, rebuild postings (`BKTIndex.cpp:775-873`). The
    // tombstone set here is id%7=3 (NOT the q05 every-10th set: every 200th
    // id is also a 10th, so that set would tombstone every head).
    "q57_refine" -> ((s, d) => {
      val corpus = Tables.lineitemVec(s, d)
      val dels = corpus.select(col("id")).where(col("id") % 7 === 3)
      val (_, p) = Mutations.refine(corpus, dels, HeadNth, Replicas)
      ordered(p.select(col("head_id"), col("id"), round(col("dist"), 4).as("dist")))
    }),
    // B14: balanced distributed partition — assign to the fixed centers and
    // write one partition directory per cluster; reading back through the
    // partition-discovering scan must reproduce the assignment exactly
    "q58_balanced_partition" -> ((s, d) => {
      val pts = Tables.lineitemVec(s, d)
      val centers = pts.where(col("id") <= 8)
        .select((col("id") - 1).as("cluster_id"),
          col("vec").cast("array<double>").as("center"), lit(0L).as("count"))
      val dir = scratch("q58_part")
      BalancedKMeans.writePartitioned(pts, centers, dir)
      ordered(s.read.parquet(dir)
        .select(col("id"), col("cluster_id").cast("long").as("cluster_id")))
    }),
    // V1: server-side index routing (`SearchExecutor.cpp:94-120`) — queries
    // name a target index via $index (here precomputed into index_name);
    // null index_name fans out to ALL indices (SelectIndex's fallback)
    "q59_serving_route" -> ((s, d) => {
      val corpus = Tables.lineitemVec(s, d)
      val queries = q(s, d).withColumn("index_name",
        when(col("query_id") % 10 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("idx"), (col("query_id") % 3).cast("string"))))
      val indices = (0 until 3).map(i =>
        s"idx$i" -> corpus.where(col("id") % 3 === i)).toMap
      ordered(graft.operators.Serving.multiIndexSearch(queries, indices, K)
        .select(col("index_name"), col("query_id"), col("rank"), col("id"),
          col("dist")))
    }),
    // near-dup terminal step: connected components over the q33 verified
    // pair set — every doc labeled with the min doc id of its component
    // (singletons label themselves)
    "q60_dedup_groups" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ordered(Dedup.canonicalGroups(docs, Dedup.minhashDedup(docs, 0.3)))
    }),
    // Q5 + MaxDistRatio on an oracle path: stage-1 candidate heads farther
    // than ratio× the per-query best head are pruned before stage 2
    // (`SPANNIndex.cpp:217-236`; SearchSSDIndex defaults MaxDistRatio=8.0 on
    // SIFT1B, docs/GettingStart.md). Ratio 2.0 here: the fixture's top-8
    // heads all sit within 8× of best (max observed 4.4×), so 2.0 is the
    // setting at which the prune provably drops candidates (PlanSpec asserts
    // it) while the reference's code path is identical
    "q63_spann_ratio" -> ((s, d) =>
      ordered(Spann.searchTwoStage(q(s, d), heads(s, d), postings(s, d), K,
        InternalK, maxDistRatio = 2.0))),
    // B1+B6 on an oracle path: the FULL balanced-Lloyd head selection
    // (selectHeadsKMeans → BalancedKMeans.fit, 3 iterations) over the
    // integer-scaled corpus — scaling makes every centroid mean a sum of
    // exact integers divided once, so Lloyd is bit-deterministic in both
    // engines (the q42 trick) — then the SPANN posting build over the
    // learned heads. Oracle = 3 unrolled Lloyd rounds as CTEs.
    "q62_kmeans_heads" -> ((s, d) => {
      val corpus = Tables.lineitemVec(s, d)
        .select(col("id"), scaleVec(col("vec")).as("vec"))
      val kheads = Spann.selectHeadsKMeans(corpus, k = 8, maxIter = 3)
      ordered(Spann.buildPostings(corpus, kheads, 2)
        .select(col("head_id"), col("id"),
          round(col("dist") / 1e6, 4).as("dist")))
    }),
    // terminal dedup APPLY: detect (q33) → group (q60) → keep one canonical
    // doc per near-dup group — the full pipeline a training-data corpus runs
    "q66_dedup_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val groups = Dedup.canonicalGroups(docs, Dedup.minhashDedup(docs, 0.3))
      ordered(Dedup.applyDedup(docs, groups).select(col("doc_id")))
    }),
    // ANN search via banded-LSH blocking: candidates share a 2-plane code
    // band with the query, exact cosine rerank — the search-time form of
    // q36's blocking (equi-joins only; recall governed by the banding)
    "q65_ann_lsh_search" -> ((s, d) =>
      ordered(SimilaritySearch.lshSearch(
        embQueries(s, d), Tables.embeddingVec(s, d), dims = 64, k = K))),
    // Q11 SDC on the correctness gate: corpus AND query sides stored as
    // codes; distance = per-subspace code-to-code sub-table lookups
    // (`PQQuantizer.h:110-128`), trained by the q42 bit-exact Lloyd chain
    "q64_pq_sdc" -> ((s, d) => {
      import graft.functions.PQ
      val corpus = Tables.lineitemVec(s, d)
        .select(col("id"), scaleVec(col("vec")).as("vec"))
      val cb = PQ.train(corpus, dim = 6, m = 3, k = 16, maxIter = 3)
      val quant = PQ.quantize(corpus, cb).select(col("id"), col("codes"))
      val qq = quant.where(col("id") <= 20)
        .select(col("id").as("query_id"), col("codes"))
      ordered(PQ.sdcSearch(qq, quant, cb, K)
        .select(col("query_id"), col("rank"), col("id"),
          round(col("dist") / 1e6, 4).as("dist")))
    }),
    // Q5+Q11 INTEGRATED: two-stage SPANN with the compressed stage-2 —
    // posting entries carry their stored PQ codes (corpus quantized ONCE at
    // build, `SPANN/Index.h:46-59`), stage-1 prunes heads exactly as q08,
    // and stage-2 scores only the pruned postings via the per-query ADC LUT.
    // Trained by the q42 bit-exact integer-scaled Lloyd chain.
    "q67_spann_adc" -> ((s, d) => {
      import graft.functions.PQ
      val corpus = Tables.lineitemVec(s, d)
        .select(col("id"), scaleVec(col("vec")).as("vec"))
      val queries = q(s, d)
        .select(col("query_id"), scaleVec(col("qvec")).as("qvec"))
      val h = Spann.selectHeadsModulo(corpus, HeadNth)
      val p = Spann.buildPostings(corpus, h, Replicas)
      val cb = PQ.train(corpus, dim = 6, m = 3, k = 16, maxIter = 3)
      val ident = Array.tabulate(6, 6)((i, j) => if (i == j) 1.0 else 0.0)
      // codes computed IN-ROW on the posting frame (r16): posting entries
      // carry their member's vec, and pq_codes is a per-row function of it —
      // the former quantize(corpus) ⋈_id join shuffled the full posting +
      // code frames to attach values derivable in place (guide §2.4); same
      // expression, bit-identical codes
      val coded = p.select(col("head_id"), col("id"),
        graft.functions.PqCodesExpr(col("vec").cast("array<double>"),
          cb.centers, cb.dsub).as("codes"))
      ordered(Spann.searchTwoStageAdc(
        queries, h, coded, PQ.RotatedCodebooks(ident, cb), K, InternalK)
        .select(col("query_id"), col("rank"), col("id"),
          round(col("dist") / 1e6, 4).as("dist")))
    }),
    // Q6 over the TWO-STAGE index: resumable SPANN iterator — batch 1 serves
    // the top-K from the first InternalK heads' postings; batch 2 expands the
    // NEXT InternalK heads off the retained stage-1 frame, pulls only their
    // postings, and serves the next K (already-emitted ids excluded, relaxed-
    // monotonicity flagged past the first posting budget) — the dataflow form
    // of SearchIndexIterative's head-queue/posting interleave
    "q68_spann_iter" -> ((s, d) => {
      val it = Spann.iterate(q(s, d), heads(s, d), postings(s, d),
        headBatch = InternalK, maxInternalK = InternalK * 2)
      try ordered(it.next(K).unionByName(it.next(K))).localCheckpoint(true)
      finally it.close()
    }),
    // eval-set decontamination: every 10th doc plays the benchmark set; each
    // remaining corpus doc reports what fraction of its distinct 3-gram
    // shingles appears anywhere in that set — ONE semi-join on the shingle
    // string, never a doc-pair space (the pre-training leakage check)
    "q69_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ordered(Dedup.contamination(
        docs.where(col("doc_id") % 10 =!= 7),
        docs.where(col("doc_id") % 10 === 7)))
    }),
    // intra-document repetition (duplicate-n-gram quality signals): total /
    // distinct trigram occurrences, duplicate fraction, top-trigram share —
    // a two-level aggregation keyed (doc, ngram) then (doc)
    "q70_repetition" -> ((s, d) =>
      ordered(TextAnalysis.repetition(Tables.documents(s, d)))),
    // the FULL curation pipeline in one oracle-gated composition: quality
    // floor → exact dedup keep-canonical → MinHash near-dup keep-canonical →
    // eval decontamination — the end-to-end hygiene pass a pre-training
    // corpus runs; emits the surviving doc ids
    "q71_curate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ordered(Pipeline.curate(
        docs.where(col("doc_id") % 10 =!= 7),
        docs.where(col("doc_id") % 10 === 7),
        minQuality = 0.36, jaccardThreshold = 0.3, maxOverlap = 0.3)
        .select(col("doc_id")))
    }),
    // per-source reputation: doc count, DECIMAL-exact mean quality, and the
    // exact-duplicate rate — the domain-level keep/drop signals
    "q72_source_stats" -> ((s, d) =>
      ordered(Pipeline.sourceStats(Tables.documents(s, d)))),
    // PII / deny-list scrubbing: the default PII regexes (which this clean
    // synthetic corpus must count at ZERO — a real assertion, not a no-op)
    // plus a deny-list that does fire, so counts and the redacted text are
    // both non-trivially oracle-hashed
    "q73_pii_scrub" -> ((s, d) =>
      ordered(TextAnalysis.scrub(Tables.documents(s, d), ScrubPatterns))),
    // domain-mixture sampling: deterministic per-id hash draws against
    // per-source target weights — the corpus-assembly downweighting step
    "q74_mixture_sample" -> ((s, d) =>
      ordered(Pipeline.mixtureSample(
        Tables.documents(s, d), MixWeights, MixDefault, MixSalt)
        .select(col("doc_id"), col("source")))),
    // sequence packing (concat-and-chunk): per hash-bucket token streams cut
    // every 256 tokens; each doc reports its pack and offset
    "q75_pack_sequences" -> ((s, d) =>
      ordered(Pipeline.packSequences(Tables.documents(s, d), PackBudget, PackBuckets))),
    // corpus-level boilerplate detection: trigram document frequency over
    // distinct-per-doc shingles, shingles in >= 5 docs with corpus share
    "q76_boilerplate" -> ((s, d) =>
      ordered(TextAnalysis.boilerplate(Tables.documents(s, d), n = 3, minDf = 5L))),
    // B5 KD-tree build: level-synchronous variance splits over the
    // integer-scaled corpus (depth 3 → 8 leaves); emits each point's leaf.
    // Oracle = 3 unrolled levels of per-node stats CTEs (the q62 trick on
    // the variance proxy n·Σx²−(Σx)²)
    "q77_kdtree_build" -> ((s, d) => {
      val corpus = Tables.lineitemVec(s, d)
        .select(col("id"), scaleVec(col("vec")).as("vec"))
      val (_, assign) = KdTree.build(corpus, dim = 6, depth = KdDepth)
      ordered(assign.select(col("id"), col("leaf")))
    }),
    // KD-tree routed search (tree-only descent, no backtracking): queries
    // ride the same split table to their leaf; exact top-k inside the leaf
    "q78_kdtree_search" -> ((s, d) => {
      val corpus = Tables.lineitemVec(s, d)
        .select(col("id"), scaleVec(col("vec")).as("vec"))
      val (splits, assign) = KdTree.build(corpus, dim = 6, depth = KdDepth)
      val queries = q(s, d)
        .select(col("query_id"), scaleVec(col("qvec")).as("qvec"))
      // dist stays UNROUNDED: the scaled-integer l2sq is float-exact, so the
      // one /1e6 division is bit-identical in both engines — while round(,4)
      // can disagree on exact .5 boundaries (Spark rounds the shortest
      // decimal repr, DuckDB the binary double)
      ordered(KdTree.searchLeaf(queries, splits, assign, KdDepth, K)
        .select(col("query_id"), col("rank"), col("id"),
          (col("dist") / 1e6).as("dist")))
    }),
    // KD-tree BACKTRACKING search (KDTSearch's SPT-queue as a beam): the
    // per-query frontier forks at every level, the non-preferred child
    // carries the split-plane bound (q[dim]−split)², the 3 best nodes
    // survive per level; exact top-k over the union of the 3 leaves
    "q79_kdtree_beam" -> ((s, d) => {
      val corpus = Tables.lineitemVec(s, d)
        .select(col("id"), scaleVec(col("vec")).as("vec"))
      val (splits, assign) = KdTree.build(corpus, dim = 6, depth = KdDepth)
      val queries = q(s, d)
        .select(col("query_id"), scaleVec(col("qvec")).as("qvec"))
      ordered(KdTree.searchBeam(queries, splits, assign, KdDepth, K, KdBeam)
        .select(col("query_id"), col("rank"), col("id"),
          (col("dist") / 1e6).as("dist")))
    }),
    // KD-tree FOREST (m_iTreeNumber trees): tree t splits on the t-th best
    // variance dim — two diversified trees, each a narrow beam; candidates
    // union + dedup before the final top-k
    "q80_kdtree_forest" -> ((s, d) => {
      val corpus = Tables.lineitemVec(s, d)
        .select(col("id"), scaleVec(col("vec")).as("vec"))
      val trees = Seq(0, 1).map(r => KdTree.build(corpus, dim = 6, depth = KdDepth, dimRank = r))
      val queries = q(s, d)
        .select(col("query_id"), scaleVec(col("qvec")).as("qvec"))
      ordered(KdTree.searchForest(queries, trees, KdDepth, K, beam = 2)
        .select(col("query_id"), col("rank"), col("id"),
          (col("dist") / 1e6).as("dist")))
    }),
    // S1/S2 typed-element parity (`Core/DefinitionList.h:6-11` Int8/UInt8/
    // Int16; typed readers `Helper/VectorSetReaders/DefaultReader.cpp`):
    // derive integer values that fit each range, write int8/uint8/int16
    // legacy files, read back widened-to-float. The oracle recomputes the
    // same derivation from the fixture, so the on-disk roundtrip must be
    // value-exact. Bounded 1000-row collect — a format harness like q52,
    // not a query path.
    "q81_legacy_typed" -> ((s, d) => {
      import graft.sources.LegacyFormats
      val iv = transform(col("vec"), x => round(x.cast("double") * 1000).cast("long"))
      val rows = Tables.lineitemVec(s, d).where(col("id") <= 1000)
        .orderBy(col("id"))
        .select(
          transform(iv, v => (v % 127).cast("float")).as("i8"),
          transform(iv, v => (abs(v) % 255).cast("float")).as("u8"),
          transform(iv, v => (v % 32767).cast("float")).as("i16"))
        .collect()
      def arrs(i: Int) = rows.map(_.getSeq[Float](i).toArray).toSeq
      val dir = scratch("q81_fmt")
      LegacyFormats.writeDefault(s"$dir/v8.bin", arrs(0), "int8")
      LegacyFormats.writeDefault(s"$dir/vu8.bin", arrs(1), "uint8")
      LegacyFormats.writeDefault(s"$dir/v16.bin", arrs(2), "int16")
      LegacyFormats.writeXvec(s"$dir/vu8.xvec", arrs(1), "uint8")
      val all = Seq(
        LegacyFormats.readDefault(s, s"$dir/v8.bin", "int8")
          .withColumn("tag", lit("default_int8")),
        LegacyFormats.readDefault(s, s"$dir/vu8.bin", "uint8")
          .withColumn("tag", lit("default_uint8")),
        LegacyFormats.readDefault(s, s"$dir/v16.bin", "int16")
          .withColumn("tag", lit("default_int16")),
        LegacyFormats.readXvec(s, s"$dir/vu8.xvec", "uint8")
          .withColumn("tag", lit("xvec_uint8")))
        .reduce(_ unionByName _)
      ordered(all.select(
        col("tag") +: col("id") +:
          (0 until 6).map(i => col("vec").getItem(i).as(s"v${i + 1}")): _*))
    }),
    // incremental near-dup dedup: the NEW batch (ids >= IncrSplit) checked
    // against the accumulated corpus (ids < IncrSplit) and itself WITHOUT
    // re-pairing the corpus — the shape every recurring-ingest pipeline
    // runs. With the id-ordered split this equals q33's pair set restricted
    // to b >= IncrSplit, which is exactly what the oracle asserts.
    "q82_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ordered(Dedup.minhashDedupIncremental(
        docs.where(col("doc_id") < IncrSplit),
        docs.where(col("doc_id") >= IncrSplit), 0.3))
    }),
    // mixture UPSAMPLING: weights above 1 repeat docs (floor(w) copies plus
    // a fractional-draw extra), weights at or below 1 downsample — the
    // corpus-assembly step that over-represents high-quality sources
    "q83_mixture_upsample" -> ((s, d) =>
      ordered(Pipeline.mixtureUpsample(
        Tables.documents(s, d), UpWeights, UpDefault, MixSalt)
        .select(col("doc_id"), col("rep"), col("source")))),
    // q82 through the PERSISTED band index: save the corpus layout, load it
    // back, probe the batch against the stored buckets — gates the
    // build-once-probe-many storage surface end-to-end (same oracle as q82,
    // since the stored probe must reproduce the in-memory incremental form)
    "q84_dedup_index_probe" -> ((s, d) => {
      import graft.sources.DedupStore
      val docs = Tables.documents(s, d)
      val dir = scratch("q84_dedup_index")
      DedupStore.save(dir, docs.where(col("doc_id") < IncrSplit))
      ordered(DedupStore.probe(
        DedupStore.load(s, dir), docs.where(col("doc_id") >= IncrSplit), 0.3))
    }),
    // adaptive per-source quality floor: each domain keeps its own top 60%
    // by quality percentile — a shifted-distribution-proof filter, unlike
    // q71's fixed threshold
    "q85_quality_quantile" -> ((s, d) =>
      ordered(Pipeline.qualityQuantileFloor(Tables.documents(s, d), 0.4)
        .select(col("doc_id"), col("source")))),
    // token-budget selection: fill each source's token budget with its best
    // documents (quality-descending greedy, integer cumsum windows)
    "q86_token_budget" -> ((s, d) =>
      ordered(Pipeline.tokenBudgetSelect(Tables.documents(s, d), TokenBudget))),
    // deterministic corpus shuffle: reproducible pseudo-random shard + rank
    // layout, the terminal write-side step of a curation pipeline
    "q87_corpus_shard" -> ((s, d) =>
      ordered(Pipeline.shardAssign(Tables.documents(s, d), ShardCount))),
    // tokenizer-vocabulary induction: corpus token counts, bounded top-V
    // with a deterministic tie-break
    "q88_vocabulary" -> ((s, d) =>
      ordered(TextAnalysis.vocabulary(Tables.documents(s, d), VocabSize))),
    // filtered SPANN search (Q4 × Q5): q04's meta predicate applied on the
    // approximate path — stage-2 hits semi-join the passing ids pre-top-k
    "q89_spann_filtered" -> ((s, d) =>
      ordered(Spann.searchTwoStage(q(s, d), heads(s, d), postings(s, d), K,
        InternalK, wideK = WideK, closeRatio = CloseRatio,
        idFilter = Some(Tables.lineitemVec(s, d)
          .where(col("meta") =!= "AF").select(col("id")))))),
    // the reference's in-memory query loop (tree seeds + best-first graph
    // expansion under a MaxCheck budget) as level-synchronous beam rounds
    // over the q17 TP-tree graph; every cut is (dist, id)-deterministic so
    // the oracle replays the walk round-for-round
    "q90_graph_search" -> ((s, d) => {
      val vs = Tables.lineitemVec(s, d).where(col("id") <= SgCorpus)
        .select(col("id"), col("vec"))
      val g = graft.operators.KnnGraph.build(
        vs, dims = 6, neighborhoodSize = SgNbr, trees = 2, planes = 8)
        .select(col("src"), col("dst"))
      ordered(graft.operators.KnnGraph.searchGraph(q(s, d), vs, g, K,
        pivotNth = SgPivotNth, seeds = SgSeeds, beam = SgBeam,
        rounds = SgRounds))
    }),
    // corpus-trained bigram LM familiarity (the perplexity-filter signal):
    // mean Laplace-smoothed bigram log-prob per document
    "q91_ngram_lm" -> ((s, d) =>
      ordered(TextAnalysis.ngramLmScore(Tables.documents(s, d)))),
    // boilerplate-span removal: q76's flagged n-grams excised from every
    // document's token stream (the corpus-cleaning apply step)
    "q92_strip_boilerplate" -> ((s, d) =>
      ordered(TextAnalysis.stripBoilerplate(
        Tables.documents(s, d), n = 3, minDf = 5L))),
    // BPE tokenizer training: the ranked merge list after BpeRounds rounds
    // of highest-count adjacent-pair merging over the corpus vocabulary
    "q93_bpe_merges" -> ((s, d) => {
      import s.implicits._
      val (merges, _) = TextAnalysis.bpeTrain(Tables.documents(s, d), BpeRounds)
      ordered(merges.toDF("round", "lhs", "rhs", "cnt"))
    }),
    // ... and the final word segmentations those merges produce
    "q94_bpe_segments" -> ((s, d) => {
      val (_, segs) = TextAnalysis.bpeTrain(Tables.documents(s, d), BpeRounds)
      ordered(segs)
    }),
    // contrastive hard-negative mining: nearest different-label vectors
    "q95_hard_negatives" -> ((s, d) =>
      ordered(SimilaritySearch.hardNegatives(Tables.embeddingVec(s, d), K))),
    // kNN auto-labeling: majority label of the k nearest corpus vectors
    "q96_knn_classify" -> ((s, d) =>
      ordered(SimilaritySearch.knnClassify(
        embQueries(s, d), Tables.embeddingVec(s, d), K))),
    // Gopher/C4-style composite rule gate with per-rule audit flags
    "q97_rule_filter" -> ((s, d) =>
      ordered(TextAnalysis.ruleFilter(Tables.documents(s, d)))),
    // curation v2: rule gate + LM familiarity floor + the q71 dedup chain,
    // one composed plan over the corp/eval split
    "q98_curate_v2" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ordered(Pipeline.curateV2(
        docs.where(col("doc_id") % 10 =!= 7),
        docs.where(col("doc_id") % 10 === 7),
        minLmScore = CurateLmFloor, jaccardThreshold = 0.3, maxOverlap = 0.3)
        .select(col("doc_id")))
    }),
    // gap-based sessionization: lag-gap-cumsum over per-user windows
    // (high-cardinality key — the partitioning q85/q86 deliberately avoid
    // on `source`), then one hash agg per session
    "q99_sessionize" -> ((s, d) =>
      ordered(graft.operators.Events.sessionize(Tables.events(s, d), SessionGapMin))),
    // ordered conversion funnel view→click→purchase with a per-step
    // conversion window — stage-chained filtered min-aggregations
    "q100_funnel" -> ((s, d) =>
      ordered(graft.operators.Events.funnel(
        Tables.events(s, d), FunnelStages, Some(FunnelWithinMin)))),
    // signup-day cohort retention: cohort × day-offset distinct actives
    "q101_retention" -> ((s, d) =>
      ordered(graft.operators.Events.retention(Tables.events(s, d)))),
    // token-window chunking with overlap — the pretraining/RAG step that
    // cuts documents into model-sized pieces; pure in-row sequence explode
    "q102_chunks" -> ((s, d) =>
      ordered(TextAnalysis.chunk(Tables.documents(s, d), ChunkWindow, ChunkStride))),
    // SQ8 scalar quantization: per-dim [min,max] fit + code assignment,
    // long form (id, dim, code) so the oracle hashes scalars not arrays
    "q103_sq_codes" -> ((s, d) => {
      val vecs = Tables.embeddingVec(s, d)
      val stats = graft.functions.ScalarQuantizer.fit(vecs)
      ordered(graft.functions.ScalarQuantizer.quantize(vecs, stats)
        .select(col("id"), posexplode(col("codes")).as(Seq("dim", "code"))))
    }),
    // TF-IDF keyword extraction: top-3 terms per doc, ranked on the
    // 6dp-rounded weight with token tie-break (engine-independent order)
    "q104_tfidf" -> ((s, d) =>
      ordered(TextAnalysis.tfIdf(Tables.documents(s, d), TfIdfTopK))),
    // Okapi BM25 ranked retrieval for a fixed query-term bag; global top-k
    // as a bounded TakeOrdered (no rank column, no global window)
    "q105_bm25" -> ((s, d) =>
      ordered(TextAnalysis.bm25(Tables.documents(s, d), Bm25Terms, Bm25K))),
    // deterministic stratified train/val/test split (hash draw — stable
    // under corpus growth, proportions hold within every source)
    "q106_split" -> ((s, d) =>
      ordered(Pipeline.stratifiedSplit(Tables.documents(s, d)))),
    // temperature-scaled (alpha=0.5) domain mixture weights
    "q107_mixture_weights" -> ((s, d) =>
      ordered(Pipeline.mixtureWeights(Tables.documents(s, d)))),
    // cross-source shingle contamination matrix
    "q108_source_overlap" -> ((s, d) =>
      ordered(Dedup.sourceOverlap(Tables.documents(s, d)))),
    // integer-exact PageRank (3 rounds, d=0.85) over the 5-NN cosine digraph
    // of the embedding set — graph centrality as a data-selection signal.
    // The exact self-kNN edge build here is the ORACLE path (all vectors as
    // batch queries — fixture-bounded, like q95); at corpus scale the
    // operator consumes the B2/B3 TP-tree graph's edge table instead
    // (KnnGraphSpec runs pageRank over rngRefine output via k <= 0)
    "q109_pagerank" -> ((s, d) => {
      val vecs = Tables.embeddingVec(s, d).select(col("id"), col("vec"))
      ordered(graft.operators.KnnGraph.pageRank(
        knnDigraph(s, d), vecs.select(col("id")), PrK, PrIters))
    }),
    // RAG passage retrieval: token-window chunking (q102) composed with BM25
    // (q105) over the chunk text — the retrieval step of a RAG pipeline,
    // one plan. Passage key = doc_id·1000 + chunk_idx (chunk counts are
    // window/stride-bounded far below 1000)
    "q110_passage_retrieval" -> ((s, d) => {
      val passages = TextAnalysis.chunk(Tables.documents(s, d), ChunkWindow, ChunkStride)
        .select((col("doc_id") * 1000L + col("chunk_idx")).as("pid"),
          col("chunk_text"))
      ordered(TextAnalysis.bm25(passages, Bm25Terms, Bm25K,
        idCol = "pid", textCol = "chunk_text")
        .select(expr("pid div 1000").as("doc_id"),
          pmod(col("pid"), lit(1000L)).as("chunk_idx"), col("score")))
    }),
    // corpus-health histogram: near-dup cluster sizes (q33 pairs → q60
    // groups → size spectrum) — the "how duplicated is this corpus" report
    "q111_dup_histogram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val groups = Dedup.canonicalGroups(docs, Dedup.minhashDedup(docs, 0.3))
      ordered(groups.groupBy(col("canon_id")).agg(count(lit(1)).as("group_size"))
        .groupBy(col("group_size")).agg(count(lit(1)).as("n_groups")))
    }),
    // per-doc n-gram novelty: share of shingles appearing in no other doc
    "q112_novelty" -> ((s, d) =>
      ordered(Dedup.noveltyScore(Tables.documents(s, d)))),
    // SPFresh-style posting rebalance: one split(>1200)/merge(<300) round
    // over the standard posting set — the SPANN maintenance op between
    // rebuilds; output is the full rebalanced posting table
    "q113_rebalance" -> ((s, d) => {
      val (_, p2) = Spann.rebalancePostings(
        heads(s, d), postings(s, d), RebalMax, RebalMin)
      ordered(p2.select(col("head_id"), col("id"),
        round(col("dist"), 4).as("dist")))
    }),
    // late-interaction MaxSim retrieval: embedding labels as vector bags,
    // bags 0-1 as multi-vector queries against all 10 label bags
    "q114_maxsim" -> ((s, d) => {
      val e = Tables.embeddingVec(s, d)
      val qb = e.where(col("label") < MaxSimQBags)
        .select(col("label").as("query_label"), col("id").as("qvid"),
          col("vec").as("qvec"))
      val db = e.select(col("label").as("doc_label"), col("id"), col("vec"))
      ordered(SimilaritySearch.maxSim(qb, db, MaxSimK))
    }),
    // per-source corpus health report (docs, tokens, quality, dup rate,
    // dominant language) — one composed plan
    "q115_corpus_report" -> ((s, d) =>
      ordered(Pipeline.corpusReport(Tables.documents(s, d)))),
    // SQ8-compressed search: fit → quantize → reconstruct → exact top-k on
    // the reconstructed corpus (the SQ analogue of q42's PQ-ADC path)
    "q116_sq_search" -> ((s, d) => {
      val vecs = Tables.embeddingVec(s, d).select(col("id"), col("vec"))
      val stats = graft.functions.ScalarQuantizer.fit(vecs)
      val recon = graft.functions.ScalarQuantizer.reconstruct(
        graft.functions.ScalarQuantizer.quantize(vecs, stats), stats)
      ordered(Knn.search(embQueries(s, d), recon, K, "l2sq"))
    }),
    // the corpus-scale PageRank composition: q18's RNG-refined TP-tree
    // graph (variable out-degree after the prune) through the degree-aware
    // k<=0 path — no exact self-kNN anywhere in this plan
    "q117_graph_pagerank" -> ((s, d) => {
      val vecs = Tables.lineitemVec(s, d).select(col("id"), col("vec"))
      val g = graft.operators.KnnGraph.build(vecs, 6, 8, 2, 8)
        .where(col("src") <= 2000)
      // the edge frame feeds the degree agg + one join per iteration —
      // checkpoint it once so the TP-tree build + recursive RNG prune
      // lineage executes exactly once, not per reuse (the BalancedKMeans
      // loop convention)
      val edges = graft.operators.KnnGraph.rngRefine(g, vecs)
        .select(col("src"), col("dst")).localCheckpoint(true)
      val nodes = edges.select(col("src").as("id"))
        .union(edges.select(col("dst"))).distinct()
      ordered(graft.operators.KnnGraph.pageRank(edges, nodes, k = 0, PrIters))
    }),
    // 1-bit binary quantization (BinaryQuantizer): per-dimension
    // mean-threshold sign bits packed into one BIGINT — 32× compression,
    // the coarse rung under SQ8 (q103) and PQ (q42)
    "q118_binary_codes" -> ((s, d) => {
      val vecs = Tables.embeddingVec(s, d).select(col("id"), col("vec"))
      ordered(graft.functions.BinaryQuantizer.codes(
        vecs, graft.functions.BinaryQuantizer.fit(vecs), BinDims))
    }),
    // coarse-to-fine ANN: Hamming top-R over the packed codes (XOR +
    // popcount candidate scan), exact l2sq re-rank of the survivors
    "q119_binary_search" -> ((s, d) =>
      ordered(SimilaritySearch.binarySearch(
        embQueries(s, d),
        Tables.embeddingVec(s, d).select(col("id"), col("vec")),
        BinDims, K, BinRerank))),
    // SemDeDup: nearest-centroid clustering, exact cosine near-dup pairs
    // formed only WITHIN clusters (pair space Σ|c|², never n²)
    "q120_semantic_dedup" -> ((s, d) =>
      ordered(SimilaritySearch.semanticDedup(
        Tables.embeddingVec(s, d).select(col("id"), col("vec")),
        SemNth, SemMaxCos))),
    // DSIR importance weights: hashed-bigram log-likelihood ratio of the
    // English-doc target distribution vs the raw corpus distribution
    "q121_importance_weights" -> ((s, d) =>
      ordered(TextAnalysis.importanceWeights(
        Tables.documents(s, d), col("lang") === "en", ImpBuckets))),
    // perceptual-hash media near-dup: 64-bin content-histogram pHash,
    // banded Hamming pairs (the multimodal sibling of q35's SimHash)
    "q122_phash_neardup" -> ((s, d) =>
      ordered(Multimodal.phashPairs(
        Multimodal.perceptualHash(Tables.documents(s, d)), PhashMaxHamming))),
    // recall audit of the binary coarse-to-fine path vs exact kNN — the
    // q11 pattern applied to q119 (distance-tie credit, TruthSet.h:189-205)
    "q123_binary_recall" -> ((s, d) => {
      val corpus = Tables.embeddingVec(s, d).select(col("id"), col("vec"))
      ordered(Eval.recallSummary(Eval.recallAt(
        SimilaritySearch.binarySearch(
          embQueries(s, d), corpus, BinDims, K, BinRerank),
        Knn.search(embQueries(s, d), corpus, K, "l2sq"), K)))
    }),
    // the serving-side DSIR split: fit the per-bucket weight table once,
    // score documents as a zero-shuffle in-row fold over a collected
    // lookup array — gated by the SAME oracle as q121 (two independent
    // dataflows, one truth)
    "q125_importance_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ordered(TextAnalysis.importanceScore(
        docs,
        TextAnalysis.importanceWeightTable(docs, col("lang") === "en", ImpBuckets),
        ImpBuckets))
    }),
    // Johnson-Lindenstrauss projection: 8 exact-integer coordinates per
    // 64-dim embedding (exploded to scalar rows for the hash compare)
    "q126_rp_project" -> ((s, d) =>
      ordered(SimilaritySearch.randomProject(
        Tables.embeddingVec(s, d).select(col("id"), col("vec")), BinDims, RpOutDims)
        .select(col("id"), posexplode(col("pvec")).as(Seq("j", "p"))))),
    // coarse-to-fine over the JL sketch: integer-L2 top-R in projected
    // space, exact l2sq re-rank (q119's contract with a distance-faithful
    // sketch instead of sign bits)
    "q127_rp_search" -> ((s, d) =>
      ordered(SimilaritySearch.rpSearch(
        embQueries(s, d),
        Tables.embeddingVec(s, d).select(col("id"), col("vec")),
        BinDims, K, RpRerank, RpOutDims))),
    // chunk-level exact dedup (RAG-index hygiene): q102's token windows
    // canonicalized across the corpus on the chunk-text hash
    "q128_chunk_dedup" -> ((s, d) =>
      ordered(Dedup.chunkDedup(Tables.documents(s, d), ChunkWindow, ChunkStride))),
    // count-min sketch: build the 512×4 counter table over the token
    // stream, probe the top-200 vocabulary — est never under-counts
    "q129_cms_estimate" -> ((s, d) => {
      import graft.functions.Sketches
      val docs = Tables.documents(s, d)
      val toks = docs.select(
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      val sketch = Sketches.cmsSketch(toks, "token", CmsWidth, CmsDepth)
      val vocab = TextAnalysis.vocabulary(docs, VocabSize)
      ordered(vocab.withColumnRenamed("cnt", "true_cnt")
        .join(Sketches.cmsEstimate(vocab.select(col("token")), sketch,
          "token", CmsWidth, CmsDepth), Seq("token")))
    }),
    // HyperLogLog register table (p=8) over the token stream — the
    // mergeable distinct-count summary (engine-exact integer ranks)
    "q130_hll_registers" -> ((s, d) =>
      ordered(graft.functions.Sketches.hllRegisters(
        Tables.documents(s, d).select(
          explode(TextAnalysis.tokens(col("text"))).as("token")),
        "token", HllP)
        .select(col("bucket"), col("register").cast("int").as("register")))),
    // TPC-H Q5: the join-graph anchor — dim-side pruning broadcasts, the
    // co-nation predicate riding the supplier join, one fact shuffle
    "q158_tpch_q5" -> ((s, d) => ordered(tpchQ5(s, d))),
    // exact global quality quantiles (dataset-card table): integer rank
    // test 100·cum ≥ pct·n over the resolution-bounded value histogram
    "q159_quality_quantiles" -> ((s, d) =>
      ordered(Pipeline.qualityQuantiles(Tables.documents(s, d), QuantPcts))),
    // salted fact⋈dim join: deterministic hash salt on the fact side,
    // dim replicated salts× — result ≡ the plain join (the oracle IS the
    // plain join), hot keys spread over salts reducers
    "q160_salted_join" -> ((s, d) => {
      val dec = DecimalType(18, 4)
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_extendedprice"), col("l_linenumber"))
      val r = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      ordered(graft.operators.Joins
        .saltedJoin(l, r, "o_orderkey", "l_linenumber", JoinSalts)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows")))
    }),
    // inverted-index build: df + a BOUNDED ascending posting sample per
    // token (topk buffer keyed on the id) — hot tokens cost what rare
    // ones do, no corpus-sized array in any aggregation buffer
    "q156_inverted_index" -> ((s, d) =>
      ordered(TextAnalysis.invertedIndex(Tables.documents(s, d), InvPostings))),
    // per-minute event-rate anomaly: trailing-window z-score from
    // integer sums only — the ingest-monitoring primitive
    "q157_rate_anomaly" -> ((s, d) =>
      ordered(graft.operators.Events.rateAnomaly(
        Tables.events(s, d), RateTrailing, RateZ))),
    // ROLLUP anchor: one pass over lineitem produces all three aggregation
    // levels (flag×status, flag, grand total) — the multi-level report
    // shape that would otherwise be three scans
    "q155_rollup" -> ((s, d) => {
      val dec = DecimalType(18, 4)
      ordered(Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("sum_qty"), col("n_rows")))
    }),
    // asymmetric containment near-dup: |A∩B|/|A| per direction over the
    // q33 LSH candidates — the subset/quote signal Jaccard dilutes
    "q154_containment" -> ((s, d) =>
      ordered(Dedup.containmentDedup(Tables.documents(s, d), ContThreshold))),
    // kNN-graph triangle census: degree-oriented wedge join (out-degree
    // capped at O(√m)) + per-node local clustering coefficient — the
    // graph-health audit of a neighborhood build
    "q153_triangle_count" -> ((s, d) => {
      val sub = Tables.embeddingVec(s, d).select(col("id"), col("vec"))
        .where(col("id") < TriNodes)
      val nn = Knn.search(
        sub.select(col("id").as("query_id"), col("vec").as("qvec")),
        sub, TriK + 1)
      val edges = nn.where(col("id") =!= col("query_id"))
        .select(col("query_id").as("src"), col("id").as("dst"))
      ordered(graft.operators.KnnGraph.triangles(edges))
    }),
    // TPC-H Q18: aggregate-then-join — the HAVING slice runs before the
    // orders/customer joins ever see a row
    "q151_tpch_q18" -> ((s, d) => ordered(tpchQ18(s, d))),
    // token Shannon entropy (nats): the lexical-diversity quality signal,
    // 6dp −p·ln p terms DECIMAL-summed (the q91 float-log convention)
    "q152_token_entropy" -> ((s, d) =>
      ordered(TextAnalysis.tokenEntropy(Tables.documents(s, d)))),
    // farthest-point sampling (greedy k-center): maximally diverse
    // exemplar selection; the radius column is the coverage radius
    "q150_farthest_points" -> ((s, d) =>
      ordered(SimilaritySearch.farthestPoints(
        Tables.embeddingVec(s, d).select(col("id"), col("vec")), FpsK))),
    // snapshot drift report: both snapshots (id parity) assigned to ONE
    // shared centroid frame; per-cluster share deltas + mean-vector shift
    "q149_cluster_drift" -> ((s, d) =>
      ordered(SimilaritySearch.clusterDrift(
        Tables.embeddingVec(s, d).select(col("id"), col("vec"),
          (col("id") % 2 === 1).as("snap")),
        SemNth))),
    // cluster topic labels: per embedding cluster, the lift-ranked
    // distinctive tokens of its member documents (what IS this cluster?)
    "q164_cluster_topics" -> ((s, d) => {
      val linked = Tables.embeddingVec(s, d).select(col("id"), col("vec"))
        .join(Tables.documents(s, d)
          .select(col("doc_id").as("id"), col("text")), Seq("id"))
      ordered(TextAnalysis.clusterTopics(linked, TopicNth, TopicTopK))
    }),
    // media dedup apply: q122's phash pairs drive the q60 canonical
    // grouping and the q66 keep-set — the end-to-end media-hygiene pass
    "q163_media_dedup_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Multimodal.phashPairs(
        Multimodal.perceptualHash(docs), PhashMaxHamming)
        .select(col("a"), col("b"))
      val groups = Dedup.canonicalGroups(docs, pairs)
      ordered(Dedup.applyDedup(docs, groups).select(col("doc_id")))
    }),
    // clustering-quality report: per-label inertia/spread + nearest-other-
    // centroid separation (the merge-candidate signal)
    "q162_cluster_report" -> ((s, d) =>
      ordered(SimilaritySearch.clusterReport(Tables.embeddingVec(s, d)))),
    // exact tie-aware ROC-AUC of the same score/label pair — one number,
    // all-integer midrank arithmetic
    "q161_auc" -> ((s, d) =>
      ordered(Eval.auc(
        Tables.documents(s, d).select(
          (col("lang") === "en").as("gold"),
          TextAnalysis.stopwordConfidence(col("text")).as("score"))))),
    // operating-point sweep: P/R/F1 at every attained value of the
    // English stopword-confidence score vs the stored lang — how the
    // threshold of a corpus filter is actually chosen
    "q147_threshold_sweep" -> ((s, d) =>
      ordered(Eval.thresholdSweep(
        Tables.documents(s, d).select(
          (col("lang") === "en").as("gold"),
          TextAnalysis.stopwordConfidence(col("text")).as("score"))))),
    // label-agreement audit: Cohen's kappa between the stored `lang`
    // column and the q31 heuristic's prediction — the chance-corrected
    // score a labeling pipeline reports, all ratios from exact counts
    "q148_label_agreement" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val j = docs.select(col("doc_id"), col("lang").as("gold"))
        .join(TextAnalysis.langId(docs).withColumnRenamed("pred_lang", "pred"),
          Seq("doc_id"))
      ordered(Eval.labelAgreement(j))
    }),
    // cluster-balanced sampling: nearest-centroid assignment (q07's
    // expression pass), then the per-cluster closest-n via the bounded
    // top-k aggregate — even representation across embedding space
    "q144_cluster_sample" -> ((s, d) =>
      ordered(SimilaritySearch.clusterSample(
        Tables.embeddingVec(s, d).select(col("id"), col("vec")),
        SemNth, ClusterSampleN))),
    // exact heavy hitters via the bounded Misra-Gries candidate sketch +
    // exact re-count — the unbounded-key-space frequency path (no
    // vocabulary-sized aggregation state anywhere)
    "q143_heavy_hitters" -> ((s, d) =>
      ordered(TextAnalysis.heavyHitters(
        Tables.documents(s, d), HhPhi, HhCapacity))),
    // time-windowed burst dedup: first event of every (user, type) burst
    // survives; a gap > window starts a new burst (retry-storm suppression)
    "q145_event_burst_dedup" -> ((s, d) =>
      ordered(graft.operators.Events.dedupBursts(
        Tables.events(s, d), BurstWindowMinutes))),
    // TPC-H Q6: the pure scan-filter-agg relational anchor — every predicate
    // reaches the parquet scan as PushedFilters, no shuffle beyond the
    // single-row partial-agg merge
    "q146_tpch_q6" -> ((s, d) => tpchQ6(s, d)),
    // triplet mining: nearest same-label positive + nearest different-label
    // hard negative per anchor, with the metric-learning margin
    "q142_triplet_mine" -> ((s, d) =>
      ordered(SimilaritySearch.tripletMine(Tables.embeddingVec(s, d)))),
    // embedding-space label audit: distance-to-class-centroid outliers
    // (q133's centroids put to work as the mislabel screen). Factor 1.06:
    // the synthetic embeddings are near-uniform, so per-class distances
    // concentrate (max/mean 1.05–1.12) — real embedding sets spread far
    // wider and run the operator's 1.5 default
    "q141_centroid_outliers" -> ((s, d) =>
      ordered(SimilaritySearch.centroidOutliers(
        Tables.embeddingVec(s, d), factor = OutlierFactor))),
    // Naive Bayes lang classifier over hashed-bigram features: count-based
    // training + argmax inference, fully decimal-deterministic (the
    // trainable curation-model shape; self-classification eval columns)
    "q139_nb_classify" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = TextAnalysis.nbTrain(docs, "lang", ImpBuckets)
      ordered(TextAnalysis.nbClassify(docs, model, ImpBuckets)
        .join(docs.select(col("doc_id"), col("lang").as("true_lang")), Seq("doc_id"))
        .withColumn("hit", (col("pred_label") === col("true_lang")).cast("int")))
    }),
    // the q125 split applied to the classifier: in-row argmax over the
    // collected model arrays — zero shuffle, stream-safe — gated by the
    // SAME oracle as q139
    "q140_nb_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = TextAnalysis.nbTrain(docs, "lang", ImpBuckets)
      ordered(TextAnalysis.nbClassifyInRow(docs, model, ImpBuckets)
        .join(docs.select(col("doc_id"), col("lang").as("true_lang")), Seq("doc_id"))
        .withColumn("hit", (col("pred_label") === col("true_lang")).cast("int")))
    }),
    // the terminal training-set assembly: rule gate → DSIR floor (fit on
    // the gated corpus) → exact dedup → chunk → shard manifest, ONE plan
    "q138_assemble_training" -> ((s, d) =>
      ordered(Pipeline.assembleTrainingSet(
        Tables.documents(s, d), col("lang") === "en", AssembleImpFloor,
        ChunkWindow, ChunkStride, ShardCount))),
    // per-source percentile normalization of the quality score — the
    // calibration step before cross-source selection; histogram-shaped
    // percent_rank, no per-source window over the corpus
    "q136_quality_percentile" -> ((s, d) =>
      ordered(Pipeline.qualityPercentile(Tables.documents(s, d)))),
    // multi-probe LSH: q65's banded search with the query side also
    // probing single-bit band perturbations (recall without more tables)
    "q137_lsh_multiprobe" -> ((s, d) =>
      ordered(SimilaritySearch.lshSearchMultiProbe(
        embQueries(s, d),
        Tables.embeddingVec(s, d).select(col("id"), col("vec")),
        dims = 64, k = K))),
    // range join (price-band lookup): bucketed interval-containment
    // equi-join — never the BroadcastNestedLoop a raw lo<=x<=hi builds
    "q135_range_join" -> ((s, d) => {
      val pts = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("x"))
      val iv = s.range(RangeBands).select(col("id").as("band"),
        (col("id") * RangeStep).cast("double").as("lo"),
        (col("id") * RangeStep + RangeLen).cast("double").as("hi"))
      ordered(graft.operators.Joins.rangeJoin(pts, iv, RangeStep)
        .select(col("band"), col("o_orderkey"), col("x")))
    }),
    // as-of join (last-touch attribution): every purchase joined to the
    // LATEST prior view by the same user — the tagged-union + carry-forward
    // window form, never a per-key theta-join
    "q134_asof_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val l = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val r = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      // asof_ts goes out as epoch micros: a NULLABLE timestamp column
      // round-trips with engine-specific units (µs vs ns) and breaks the
      // byte-compare; integer micros are unit-exact in both engines
      ordered(graft.operators.Events.asOfJoin(l, r)
        .withColumn("asof_ts", unix_micros(col("asof_ts"))))
    }),
    // per-source doc cap: uniform hash-ordered N-doc sample of every
    // source via the two-level rank (dominant-domain balancing)
    "q132_source_cap" -> ((s, d) =>
      ordered(Pipeline.sourceCap(Tables.documents(s, d), SourceCapN))),
    // mean-pooled bag centroids: class prototypes from labeled embedding
    // bags (exact integer sums, one mirrored division chain)
    "q133_bag_centroids" -> ((s, d) =>
      ordered(SimilaritySearch.bagPool(Tables.embeddingVec(s, d)))),
    // reciprocal-rank fusion: the l2sq and cosine top-10 rankings of the
    // same queries fused rank-wise (the hybrid-retrieval merge — no score
    // calibration across incomparable rankers)
    "q131_rrf_hybrid" -> ((s, d) => {
      val corpus = Tables.embeddingVec(s, d).select(col("id"), col("vec"))
      ordered(SimilaritySearch.rrfFuse(Seq(
        Knn.search(embQueries(s, d), corpus, K, "l2sq"),
        Knn.search(embQueries(s, d), corpus, K, "cos")), K))
    }),
    // MMR diversified top-k: greedy relevance-vs-redundancy re-rank over
    // the exact top-20 pool (retrieval-side dedup). Query ids are excluded
    // from the corpus side: with self-matches in the pool, pick 1 is always
    // self and every round-2 score is identically 0.5·rel − 0.5·rel = 0 —
    // a degenerate all-ties instance
    "q124_mmr_rerank" -> ((s, d) =>
      ordered(SimilaritySearch.mmr(
        embQueries(s, d),
        Tables.embeddingVec(s, d).where(col("id") >= 10)
          .select(col("id"), col("vec")),
        MmrK, MmrLambda, MmrPool))),
    // Bloom-prefiltered semi-join: 16 KiB of filter evaluated inside the
    // fact scan kills non-matching rows BEFORE the semi-join exchange;
    // result ≡ the plain semi-join (no false negatives; exact join culls
    // the false positives) — the oracle IS the plain semi-join
    "q165_bloom_join" -> ((s, d) => {
      val dec = DecimalType(18, 4)
      val fact = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_quantity"), col("l_extendedprice"))
      val urgent = Tables.orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT")
      ordered(graft.operators.Joins
        .bloomSemiJoin(fact, urgent, "o_orderkey", BloomBits, BloomHashes)
        .agg(
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows")))
    }),
    // blocked fuzzy self-join (record linkage): edit-distance pairs
    // generated only inside (noun, size) blocks — O(n²) confined to blocks
    "q166_fuzzy_join" -> ((s, d) => {
      val parts = Tables.part(s, d)
        .select(col("p_partkey"), col("p_name"), col("p_size"),
          split(col("p_name"), " ").getItem(1).as("_noun"))
      ordered(graft.operators.Joins
        .fuzzyJoin(parts, "p_partkey", "p_name", Seq("p_size", "_noun"),
          FuzzyMaxDist)
        .select(col("id_a"), col("id_b"), col("p_name_a"), col("p_name_b"),
          col("dist")))
    }),
    // changelog merge (CDC current view): snapshot ∪ synthetic change
    // batch, latest-wins per key via ONE max_by aggregation (map-side
    // partial) — never a per-key window sort
    "q167_changelog" -> ((s, d) => {
      val (snap, changes) = changelogInputs(s, d)
      ordered(graft.operators.Joins
        .applyChangelog(snap, changes, "o_orderkey", "version", "del"))
    }),
    // weighted sampling without replacement (Efraimidis–Spirakis race):
    // 200 winners ∝ token count, picked by the bounded top-k aggregate —
    // one scan, no global sort
    "q168_weighted_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      ordered(Pipeline.weightedSample(docs, col("n_tokens"), WsK)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("race_key")))
    }),
    // calibration (reliability) table: decile bins of the stopword-
    // confidence score vs the stored language label — integer-exact bin
    // stats + per-bin Brier contribution
    "q169_calibration" -> ((s, d) =>
      ordered(Eval.calibration(
        Tables.documents(s, d).select(
          (col("lang") === "en").as("gold"),
          TextAnalysis.stopwordConfidence(col("text")).as("score")),
        CalBins))),
    // TPC-H Q10: returned-item revenue — both fact slices pushed before
    // the fact⋈fact shuffle, customer joins the small result
    "q170_tpch_q10" -> ((s, d) => ordered(tpchQ10(s, d))),
    // TPC-H Q17: correlated per-part average as aggregate-then-broadcast,
    // integer cross-multiplied boundary
    "q171_tpch_q17" -> ((s, d) => ordered(tpchQ17(s, d))),
    // TPC-H Q19: disjunctive residual over an equi-join — never nested-loop
    "q172_tpch_q19" -> ((s, d) => ordered(tpchQ19(s, d))),
    // prefix-filtered EXACT Jaccard join (PPJoin rule): 100%-recall
    // near-dup pairs with candidates only from rare-shingle prefixes
    "q173_ppjoin" -> ((s, d) =>
      ordered(Dedup.prefixJaccardPairs(Tables.documents(s, d), PpJacT))),
    // Z-order clustering key: quantized (price, customer) interleaved into
    // the write-time layout key — pure codegen column math
    "q174_zorder" -> ((s, d) => {
      val qx = least(floor(col("o_totalprice") / ZPriceStep), lit((1 << ZBits) - 1))
        .cast("long")
      val qy = (col("o_custkey") % (1 << ZBits)).cast("long")
      ordered(Tables.orders(s, d)
        .select(col("o_orderkey"), qx.as("qx"), qy.as("qy"))
        .withColumn("z", Pipeline.zorderKey(col("qx"), col("qy"), ZBits)))
    }),
    // TPC-H Q4: semi join with a residual inequality (EXISTS semantics)
    "q175_tpch_q4" -> ((s, d) => ordered(tpchQ4(s, d))),
    // TPC-H Q22: decimal cross-multiplied average + anti join
    "q176_tpch_q22" -> ((s, d) => ordered(tpchQ22(s, d))),
    // linear multi-touch attribution: purchase value split equally over
    // the preceding hour's views — per-user join, one divide per row
    "q177_linear_attribution" -> ((s, d) =>
      ordered(graft.operators.Events.linearAttribution(
        Tables.events(s, d), AttrWindowMin))),
    // binary nDCG@k of the SPANN results against exact-kNN truth — the
    // position-weighted retrieval metric next to q11 recall / q19 MRR
    "q178_ndcg" -> ((s, d) =>
      ordered(Eval.ndcgAt(
        spannResults(s, d),
        Knn.search(q(s, d), Tables.lineitemVec(s, d), K), K))),
    // k-core of the q153 kNN graph: parallel peel to fixpoint — the
    // densest-region health audit next to the triangle census
    "q179_kcore" -> ((s, d) => {
      val sub = Tables.embeddingVec(s, d).select(col("id"), col("vec"))
        .where(col("id") < TriNodes)
      val nn = Knn.search(
        sub.select(col("id").as("query_id"), col("vec").as("qvec")),
        sub, TriK + 1)
      val edges = nn.where(col("id") =!= col("query_id"))
        .select(col("query_id").as("src"), col("id").as("dst"))
      // fixed-round semantics: the DuckDB oracle unrolls exactly KcRounds
      // peel rounds, so both engines truncate identically by construction
      ordered(graft.operators.KnnGraph.kCore(edges, KcK, KcRounds,
        requireFixpoint = false))
    }),
    // PSI drift between doc-id-parity snapshots of the quality score —
    // integer-exact deciles, Laplace-smoothed shares, 6dp terms
    "q180_psi" -> ((s, d) =>
      ordered(Eval.psi(Tables.documents(s, d).select(
        (col("doc_id") % 2 === 1).as("snap"),
        TextAnalysis.qualityRaw(col("text")).as("score"))))),
    // end-to-end entity resolution: q166's fuzzy pairs drive the q60
    // min-label walk and the q66 keep-set — the canonical part catalog
    "q181_entity_resolution" -> ((s, d) => {
      val parts = Tables.part(s, d)
        .select(col("p_partkey"), col("p_name"), col("p_size"),
          split(col("p_name"), " ").getItem(1).as("_noun"))
      val pairs = graft.operators.Joins
        .fuzzyJoin(parts, "p_partkey", "p_name", Seq("p_size", "_noun"),
          FuzzyMaxDist)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val groups = Dedup.canonicalGroups(parts, pairs, "p_partkey")
      ordered(Dedup.applyDedup(Tables.part(s, d), groups, "p_partkey")
        .select(col("p_partkey"), col("p_name")))
    }),
    // TPC-H Q7: two broadcast dims on one fact row, symmetric pair filter
    "q182_tpch_q7" -> ((s, d) => ordered(tpchQ7(s, d))),
    // TPC-H Q8: market share as a conditional-aggregation ratio, one pass
    "q183_tpch_q8" -> ((s, d) => ordered(tpchQ8(s, d))),
    // per-customer order analytics: running total, previous order price,
    // 3-order moving average — per-key windows (corpus-many customers)
    "q184_running_window" -> ((s, d) => {
      val dec = DecimalType(18, 4)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w3 = w.rowsBetween(-2, Window.currentRow)
      ordered(Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          sum(col("o_totalprice").cast(dec)).over(wRun).cast("double")
            .as("running_total"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          round(sum(col("o_totalprice").cast(dec)).over(w3).cast("double") /
            count(lit(1)).over(w3), 6).as("avg3")))
    }),
    // pivot (conditional-aggregation spread): returnflag × linestatus
    // revenue matrix in one pass
    "q185_pivot" -> ((s, d) => {
      val dec = DecimalType(18, 4)
      ordered(Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_extendedprice").cast(dec)).cast("double")))
    }),
    // CUBE: all four aggregation levels (flag×status, flag, status, grand)
    // from ONE scan — q155's rollup plus the status-only slice
    "q186_cube" -> ((s, d) => {
      val dec = DecimalType(18, 4)
      ordered(Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("sum_qty"), col("n_rows")))
    }),
    // exact Pearson correlation + OLS slope of (quality, token count):
    // five integer power sums in one pass, two sqrts + one divide at the
    // end — never a mean-centered float accumulation
    "q187_correlation" -> ((s, d) => {
      val bigDec = "decimal(38,0)"
      val docs = Tables.documents(s, d).select(
        round(TextAnalysis.qualityRaw(col("text")) * 10000).cast("long").as("x"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("y"))
      ordered(docs.agg(
        count(lit(1)).cast(bigDec).as("_n"),
        sum(col("x")).cast(bigDec).as("_sx"),
        sum(col("y")).cast(bigDec).as("_sy"),
        sum((col("x") * col("y")).cast(bigDec)).as("_sxy"),
        sum((col("x") * col("x")).cast(bigDec)).as("_sxx"),
        sum((col("y") * col("y")).cast(bigDec)).as("_syy"))
        .select(
          col("_n").cast("long").as("n"),
          round((col("_n") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
            (sqrt((col("_n") * col("_sxx") - col("_sx") * col("_sx")).cast("double")) *
              sqrt((col("_n") * col("_syy") - col("_sy") * col("_sy")).cast("double"))),
            6).as("corr"),
          round((col("_n") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
            (col("_n") * col("_sxx") - col("_sx") * col("_sx")).cast("double"),
            6).as("beta")))
    }),
    // Z-order-clustered stored layout: save partitioned by z-prefix
    // quadrant, probe a price range through the static-pruned cover —
    // result ≡ the plain filter (the oracle IS the plain filter)
    "q189_zorder_probe" -> ((s, d) => {
      val dir = scratch("q189_zo")
      val dec = DecimalType(18, 4)
      graft.sources.ZOrderStore.save(dir,
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        "o_totalprice", "o_custkey", ZPriceStep.toDouble, ZBits, ZPrefixBits)
      val idx = graft.sources.ZOrderStore.load(s, dir)
      ordered(graft.sources.ZOrderStore
        .probeX(idx, "o_totalprice", ZProbeLo, ZProbeHi)
        .agg(sum(col("o_totalprice").cast(dec)).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows")))
    }),
    // per-source MAD outliers: integer lower-medians off resolution-
    // bounded histograms, cross-multiplied 3σ-equivalent flag
    "q190_mad_outliers" -> ((s, d) =>
      ordered(Pipeline.madOutliers(Tables.documents(s, d),
        TextAnalysis.qualityRaw(col("text"))))),
    // weekly load-shape profile: (type, dow, hour) cells + type share
    "q191_seasonality" -> ((s, d) =>
      ordered(graft.operators.Events.seasonality(Tables.events(s, d)))),
    // exact bucketed time-to-convert percentiles — the q159 histogram
    // rank test on minute-floored signup→purchase delays
    "q192_time_to_convert" -> ((s, d) =>
      ordered(graft.operators.Events.timeToConvert(
        Tables.events(s, d), ConvertPcts))),
    // first-order Markov transition matrix of per-user event streams
    "q193_transitions" -> ((s, d) =>
      ordered(graft.operators.Events.transitions(Tables.events(s, d)))),
    // per-source token-count percentiles: the generalized per-group exact
    // quantile operator over a resolution-bounded integer column
    "q194_source_token_quantiles" -> ((s, d) =>
      ordered(Pipeline.groupQuantiles(
        Tables.documents(s, d).select(col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens")),
        "source", "n_tokens", QuantPcts))),
    // per-user quota enforcement: first N per tumbling hour per user —
    // the ingest-edge rate limiter (streaming twin spec-pinned)
    "q195_quota" -> ((s, d) =>
      ordered(graft.operators.Events
        .quotaEnforce(Tables.events(s, d), QuotaMax, QuotaWinMin)
        .select(col("event_id"), col("user_id"), col("event_type")))),
    // intra-list diversity of the exact cosine top-k — the audit that MMR
    // actually diversified; k²-bounded pairs per query
    "q196_ild" -> ((s, d) =>
      ordered(SimilaritySearch.ild(
        SimilaritySearch.bruteForce(embQueries(s, d), Tables.embeddingVec(s, d), K),
        Tables.embeddingVec(s, d), K))),
    // two-level residual quantization (RVQ): level 2 trains on the ×1000
    // re-integerized residuals so BOTH Lloyd chains are bit-deterministic;
    // ADC against the summed reconstruction c1 + c2/1000
    "q197_rvq_search" -> ((s, d) => {
      val corpus = Tables.lineitemVec(s, d)
        .select(col("id"), scaleVec(col("vec")).as("vec"))
      val queries = q(s, d)
        .select(col("query_id"), scaleVec(col("qvec")).as("qvec"))
      val rvq = graft.functions.PQ.trainRvq(corpus, dim = 6, m = 3, k = 16,
        maxIter = 3)
      ordered(graft.functions.PQ.rvqSearch(queries,
        graft.functions.PQ.quantizeRvq(corpus, rvq), rvq, K)
        .select(col("query_id"), col("rank"), col("id"),
          round(col("dist") / 1e6, 4).as("dist")))
    }),
    // join-key skew profiler: the top-20 hottest fact keys + their share
    // of the scan, via the bounded top-k aggregate (cnt desc, key asc) —
    // what you run BEFORE deciding a join needs salting
    "q188_skew_profile" -> ((s, d) => {
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
      val top = counts
        .agg(graft.functions.TopKByDistance.topk(
          col("l_orderkey"), -col("cnt").cast("double"), SkewTopK).as("_top"))
        .select(posexplode(col("_top")).as(Seq("_pos", "_w")))
        .select((col("_pos") + 1).cast("int").as("rank"),
          col("_w.id").as("l_orderkey"),
          (-col("_w.dist")).cast("long").as("cnt"))
      val tot = Tables.lineitem(s, d).agg(count(lit(1)).as("_tot"))
      ordered(top.crossJoin(broadcast(tot))
        .select(col("rank"), col("l_orderkey"), col("cnt"),
          round(col("cnt").cast("double") / col("_tot"), 6).as("share")))
    }),
    // TPC-H Q12: one fact join, priority classes split by CASE inside the agg
    "q198_tpch_q12" -> ((s, d) => ordered(tpchQ12(s, d))),
    // TPC-H Q13: filtered LEFT OUTER join + two-level agg (zero-order
    // customers included)
    "q199_tpch_q13" -> ((s, d) => ordered(tpchQ13(s, d))),
    // TPC-H Q14: promo revenue share — conditional-sum ratio over one join
    "q200_tpch_q14" -> ((s, d) => ordered(tpchQ14(s, d))),
    // TPC-H Q15: per-supplier revenue vs broadcast scalar max, exact-decimal
    // tie semantics
    "q201_tpch_q15" -> ((s, d) => ordered(tpchQ15(s, d))),
    // TPC-H Q16: distinct suppliers per part attr, NOT-IN as left-anti
    "q202_tpch_q16" -> ((s, d) => ordered(tpchQ16(s, d))),
    // TPC-H Q9: profit by (nation, year) through a LIKE-pruned part join
    "q203_tpch_q9" -> ((s, d) => ordered(tpchQ9(s, d))),
    // TPC-H Q21: EXISTS/NOT-EXISTS double self-join on the fact table
    "q204_tpch_q21" -> ((s, d) => ordered(tpchQ21(s, d))),
    // PMI collocations: in-row bigrams, token-keyed count joins, one-row
    // totals broadcast
    "q205_collocations" -> ((s, d) =>
      ordered(TextAnalysis.collocations(Tables.documents(s, d), CollocMin))),
    // full winnowing fingerprints (MOSS): guaranteed detection of shared
    // substrings ≥ w+k−1 chars, ~2·len/w fps per doc, all in-row
    "q206_winnow" -> ((s, d) =>
      ordered(Dedup.winnow(Tables.documents(s, d), WinnowK, WinnowW))),
    // MOSS-style overlap report over shared winnowed fingerprints, with the
    // stop-fingerprint guard before the per-fp pairing
    "q207_winnow_overlap" -> ((s, d) =>
      ordered(Dedup.winnowOverlap(Tables.documents(s, d), WinnowK, WinnowW,
        WinnowMinShared, WinnowMaxDf, WinnowMinOverlap))),
    // TPC-H Q2: correlated regional-MIN subquery over observed supply cost
    "q208_tpch_q2" -> ((s, d) => ordered(tpchQ2(s, d))),
    // TPC-H Q11: HAVING vs a scalar-subquery fraction of the grand total
    "q209_tpch_q11" -> ((s, d) => ordered(tpchQ11(s, d))),
    // TPC-H Q21: nested IN + correlated half-of-total quantity threshold
    "q210_tpch_q20" -> ((s, d) => ordered(tpchQ20(s, d))),
    // 2-D Pareto frontier: bucketed local prune + broadcast-candidate
    // dominance anti-join (the candidate set, not the input, is the
    // nested-loop side)
    "q211_skyline" -> ((s, d) =>
      ordered(Joins.skyline(Tables.part(s, d)
        .select(col("p_partkey"), col("p_retailprice"), col("p_size")),
        "p_retailprice", "p_size"))),
    // market-basket lift over order lineitems, mega-basket stop guard
    "q212_basket_lift" -> ((s, d) =>
      ordered(Association.basketLift(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", BasketMinPair, BasketMax))),
    // JSON payload extraction (codegen get_json_object) + typed rollup
    "q213_json_props" -> ((s, d) =>
      ordered(graft.operators.Events.propsMetrics(Tables.events(s, d)))),
    // SCD2 validity intervals from the q167 changelog fixture
    "q214_scd2" -> ((s, d) => {
      val (snap, changes) = changelogInputs(s, d)
      ordered(Joins.scd2(snap, changes, "o_orderkey", "version", "del"))
    }),
    // corpus snapshot diff: texts reduce to digests at the scan
    "q215_corpus_diff" -> ((s, d) => {
      val prev = Tables.documents(s, d)
      val m = col("doc_id") % 10
      val cur = prev.where(m =!= 7)
        .withColumn("text",
          when(m === 3, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(prev.where(m === 1)
          .withColumn("doc_id", col("doc_id") + 1000000000L))
      ordered(Pipeline.corpusDiff(prev, cur))
    }),
    // PCA projection of the embedding corpus (fit = one Gram-partials
    // pass + driver-side Jacobi on the d×d covariance; project = codegen
    // dot products). The fit is cached ([[pcaModel]]) so the dynamic
    // oracle ([[oracleSqlDynamic]]) inlines the IDENTICAL model literals
    // and the projection arithmetic is fully oracle-checked; dumped as
    // scalars (vec_id, dim, value) — array columns are unsortable in the
    // driver's pandas canonicalization.
    "q217_pca_project" -> ((s, d) => {
      import graft.functions.PCA
      val emb = Tables.embeddings(s, d)
      ordered(PCA.project(emb, pcaModel(s, d), "embedding", "proj", 4)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "value"))))
    }),
    // funnel conversion-rate dashboard over the q100 stages
    "q225_funnel_summary" -> ((s, d) =>
      ordered(graft.operators.Events.funnelSummary(
        Tables.events(s, d), FunnelStages, Some(FunnelWithinMin)))),
    // dedup cluster-size histogram over the q60 canonical groups
    "q226_dedup_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ordered(Dedup.dedupReport(
        Dedup.canonicalGroups(docs, Dedup.minhashDedup(docs, 0.3))))
    }),
    // keep-BEST dedup policy: per q60 near-dup group keep the
    // highest-quality member (ties → lowest id), not the min-id canonical
    "q227_dedup_keep_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val groups = Dedup.canonicalGroups(docs, Dedup.minhashDedup(docs, 0.3))
      ordered(Dedup.applyDedupKeepBest(docs, groups,
        TextAnalysis.qualityRaw(col("text")))
        .select(col("doc_id"), col("source"), col("n_chars")))
    }),
    // SPANN index-health audit: exact posting-length histogram over the q07
    // build (read thresholds for rebalancePostings off this report)
    "q228_posting_audit" -> ((s, d) =>
      ordered(Spann.postingAudit(postings(s, d)))),
    // tokenizer-budget OOV curve: token-occurrence coverage of the top-V
    // vocabulary at four candidate sizes
    "q229_vocab_coverage" -> ((s, d) =>
      ordered(TextAnalysis.vocabCoverage(
        Tables.documents(s, d), VocabCutoffs))),
    // curriculum ordering: per-source quality ntile tiers + percent_rank
    "q230_curriculum" -> ((s, d) =>
      ordered(Pipeline.curriculum(Tables.documents(s, d), CurriculumTiers))),
    // CSV interchange round-trip over events (props carries embedded JSON
    // quotes — the RFC-4180 escaping path is the thing under test)
    "q231_csv_roundtrip" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        col("event_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      ordered(graft.sources.CsvStore.roundTrip(ev, scratch("q231_csv")))
    }),
    // per-class confusion report over a held-out kNN-classify split (test =
    // first 100 embeddings, train = rest; the model-card table behind q148's
    // single-number kappa)
    "q232_confusion" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val test = emb.where(col("vec_id") < ConfusionTestN)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val corpus = emb.where(col("vec_id") >= ConfusionTestN)
        .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
      val paired = SimilaritySearch.knnClassify(test, corpus, K)
        .join(emb.select(col("vec_id").as("query_id"), col("label").as("gold")),
          Seq("query_id"))
        .select(col("gold"), col("pred_label").as("pred"))
      ordered(Eval.confusion(paired))
    }),
    // column profiler: the first look at an unfamiliar corpus drop
    "q233_profile" -> ((s, d) =>
      ordered(Pipeline.profile(
        Tables.documents(s, d), Seq("lang", "source", "n_chars")))),
    // deterministic weighted interleave: the training-order schedule key
    "q234_interleave" -> ((s, d) => {
      import s.implicits._
      ordered(Pipeline.interleave(
        Tables.documents(s, d), InterleaveWeights.toDF("source", "weight")))
    }),
    // half-life step-decayed user value (recency-weighted feature)
    "q235_decay_score" -> ((s, d) =>
      ordered(graft.operators.Events.decayedValue(
        Tables.events(s, d), DecayHalfLifeDays))),
    // Flesch-style readability (vowel-group syllable proxy)
    "q236_readability" -> ((s, d) =>
      ordered(TextAnalysis.readability(Tables.documents(s, d)))),
    // duplication burden by source pair: template storms vs syndication
    "q247_dup_sources" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ordered(Dedup.dupBySource(docs, Dedup.minhashDedup(docs, 0.3)))
    }),
    // mixture-budgeted training set: alpha-tempered weights set per-source
    // token budgets; each source fills with its best docs — ONE plan
    "q246_mixture_budget" -> ((s, d) =>
      ordered(Pipeline.mixtureBudgetSelect(Tables.documents(s, d), MixBudget))),
    // SPANN SelectHead tree-walk parity (B6): BKT build over embeddings +
    // the subtree-size threshold walk with the reference's default knobs
    "q248_bkt_select_heads" -> ((s, d) =>
      ordered(Spann.selectHeadsBkt(
        Tables.embeddingVec(s, d).select(col("id"), col("vec")),
        BktK, BktLeaf, BktLevels, BktSelT, BktSplT, BktSplF)
        .select(col("head_id")))),
    // exact duplicated spans: suffix-array-style verbatim-run localization
    // (positional gram fingerprints + alignment-diagonal islands)
    "q249_dup_spans" -> ((s, d) =>
      ordered(Dedup.duplicatedSpans(
        Tables.documents(s, d), DupSpanGram, DupSpanMinTokens))),
    // token frequency spectrum: the Zipf/Heaps octave staircase per source
    "q250_freq_spectrum" -> ((s, d) =>
      ordered(TextAnalysis.freqSpectrum(Tables.documents(s, d)))),
    // REAL audio path end-to-end, driver-gated: synthesize a per-id
    // square-wave WAV (16-bit PCM via javax.sound.sampled), decode it back
    // with the REAL decoder, emit the 16-segment RMS profile. The signal
    // is analytic — segment s of id carries amplitude ((id+s)%32)·1000, so
    // every decoded RMS is EXACTLY amp/32768 (dyadic quantize/square/
    // average/sqrt are exact IEEE ops) and the oracle states the closed
    // form. Both stages are partition-local maps; payloads never shuffle.
    "q253_audio_rms" -> ((s, d) => {
      import s.implicits._
      val n = 256
      val dim = Multimodal.FeatureDim
      val feats = s.range(0, 64).as[Long].mapPartitions { ids =>
        ids.flatMap { id =>
          val wav = Multimodal.synthWavSquare(
            seg => (((id + seg) % 32) * 1000).toInt, n, dim, 8000f)
          Multimodal.decodeAudio(wav).toSeq.flatMap { case (_, samples) =>
            Multimodal.rmsProfile(samples, dim).zipWithIndex.map {
              case (r, sIdx) => (id, sIdx, r)
            }
          }
        }
      }.toDF("id", "seg", "rms")
      ordered(feats)
    }),
    // mutual (reciprocal) kNN pairs over the 5-NN cosine digraph — the
    // hub-robust near-dup / cluster-seed pair generator
    "q254_mutual_knn" -> ((s, d) =>
      ordered(graft.operators.KnnGraph.mutualKnn(knnDigraph(s, d)))),
    // centroid silhouette of the q149-convention clustering (heads = every
    // SemNth-th embedding): per-centroid cohesion-vs-separation score
    "q255_silhouette" -> ((s, d) => {
      val vecs = Tables.embeddingVec(s, d)
      ordered(graft.operators.Eval.silhouette(
        vecs.select(col("id"), col("vec")),
        vecs.where(col("id") % SemNth === 0)
          .select(col("id").as("head_id"), col("vec").as("head_vec"))))
    }),
    // semi-supervised label propagation: clamp every 5th embedding's gold
    // label, spread along the 5-NN digraph for PrIters synchronous rounds
    "q256_label_prop" -> ((s, d) => {
      val vecs = Tables.embeddingVec(s, d)
      ordered(graft.operators.KnnGraph.labelPropagate(
        knnDigraph(s, d),
        vecs.select(col("id")),
        vecs.where(col("id") % 5 === 0).select(col("id"), col("label")),
        PrIters))
    }),
    // declarative data-contract audit over the orders fact table: one
    // row per expectation (nulls / key uniqueness / range / enumerated
    // domain / referential integrity vs customer)
    "q257_constraint_audit" -> ((s, d) =>
      ordered(Pipeline.constraintAudit(Tables.orders(s, d),
        notNull = Seq("o_custkey"),
        unique = Seq("o_orderkey"),
        ranges = Seq(("o_totalprice", 0.0, 400000.0)),
        accepted = Seq(("o_orderstatus", Seq("O", "F"))),
        refs = Seq(("o_custkey", Tables.customer(s, d), "c_custkey"))))),
    // chi-square independence + Cramér's V between language and source —
    // the "is lang confounded with source" mixture-design audit
    "q258_chi2_assoc" -> ((s, d) =>
      ordered(graft.operators.Association.categoricalAssociation(
        Tables.documents(s, d), "lang", "source"))),
    // external clustering quality: per-cluster label purity of the
    // q149-convention clustering (heads = every SemNth-th embedding)
    "q259_cluster_purity" -> ((s, d) =>
      ordered(graft.operators.Eval.clusterPurity(
        clusterAssign(s, d), embLabels(s, d)))),
    // normalized mutual information of the same clustering vs labels
    "q260_cluster_nmi" -> ((s, d) =>
      ordered(graft.operators.Eval.clusterNmi(
        clusterAssign(s, d), embLabels(s, d)))),
    // greedy vocabulary set-cover selection: 4 rounds of max-marginal-
    // coverage picks over the document token sets
    "q261_coverage_select" -> ((s, d) =>
      Pipeline.coverageSelect(Tables.documents(s, d), CoverageRounds)
        .orderBy(col("round"))),
    // DPO-style preference pairs: per source, rank-i best-quality doc
    // paired with rank-i worst (i ≤ 3), positive-margin pairs only
    "q262_pref_pairs" -> ((s, d) =>
      ordered(Pipeline.preferencePairs(
        Tables.documents(s, d)
          .withColumn("quality", TextAnalysis.quality(col("text"))),
        "quality", PrefPairs))),
    // HITS hubs/authorities over the 5-NN digraph (integer fixed-point,
    // L1-renormalized per half-round) — the density-peak centrality
    "q263_hits" -> ((s, d) => {
      val vecs = Tables.embeddingVec(s, d)
      ordered(graft.operators.KnnGraph.hits(
        knnDigraph(s, d), vecs.select(col("id")), HitsIters))
    }),
    // leave-one-source-out sensitivity of the corpus mean quality
    "q264_jackknife" -> ((s, d) =>
      ordered(graft.operators.Eval.jackknifeMean(
        Tables.documents(s, d)
          .withColumn("quality", TextAnalysis.quality(col("text"))),
        "source", "quality"))),
    // Kaplan-Meier signup→purchase survival with administrative
    // right-censoring at the stream's last timestamp
    "q265_kaplan_meier" -> ((s, d) =>
      ordered(graft.operators.Events.kaplanMeier(Tables.events(s, d)))),
    // temporal train/test split with a 72h embargo gap + entity audit
    "q266_embargo_split" -> ((s, d) =>
      ordered(Pipeline.temporalSplitAudit(
        Pipeline.temporalEmbargoSplit(
          Tables.events(s, d), "ts", EmbargoCutoff, EmbargoHours),
        "user_id"))),
    // Gini concentration of per-doc token counts (corpus inequality)
    "q267_gini_tokens" -> ((s, d) =>
      ordered(Pipeline.gini(
        Tables.documents(s, d)
          .select(size(TextAnalysis.tokens(col("text"))).as("n_toks")),
        "n_toks"))),
    // Hill MLE tail exponent of the token frequency distribution
    "q268_hill_tail" -> ((s, d) =>
      ordered(TextAnalysis.hillTail(Tables.documents(s, d), HillXmin))),
    // capped waterfilling of a token budget across sources (weights =
    // sqrt of available tokens, integer-scaled; caps = availability)
    "q269_budget_allocate" -> ((s, d) => {
      val per = Tables.documents(s, d)
        .select(col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("_t"))
        .groupBy(col("source")).agg(sum(col("_t")).as("cap"))
        .select(col("source"),
          expr("CAST(round(sqrt(CAST(cap AS DOUBLE)) * 1000) AS BIGINT)")
            .as("weight1e6"),
          col("cap"))
      ordered(Pipeline.waterfillAllocate(per, WfBudget))
    }),
    // kNN neighborhood stability between the full embedding snapshot and
    // a refresh that dropped every 10th vector — overlap histogram
    "q270_knn_stability" -> ((s, d) => {
      val vecs = Tables.embeddingVec(s, d).select(col("id"), col("vec"))
      ordered(graft.operators.KnnGraph.knnStability(
        knnDigraphOver(vecs),
        knnDigraphOver(vecs.where(col("id") % 10 =!= 7))))
    }),
    // cross-lingual near-dups: q36's banded-LSH embedding pairs whose doc
    // language tags DIFFER — the translated-duplicate detector
    "q271_crosslang_neardup" -> ((s, d) => {
      val lang = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      ordered(SimilaritySearch.lshNearDup(
          Tables.embeddingVec(s, d), dims = 64, maxCosDist = 0.6)
        .join(lang.select(col("doc_id").as("a"), col("lang").as("lang_a")),
          Seq("a"))
        .join(lang.select(col("doc_id").as("b"), col("lang").as("lang_b")),
          Seq("b"))
        .where(col("lang_a") =!= col("lang_b"))
        .select(col("a"), col("b"), col("lang_a"), col("lang_b"),
          col("cos_dist")))
    }),
    // 1-Wasserstein drift between the two snapshot halves' quality
    // distributions — the metric-aware companion to q148's PSI
    "q272_wasserstein_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("q", TextAnalysis.quality(col("text")))
      ordered(graft.operators.Eval.wasserstein1(
        docs.where(col("doc_id") % 2 === 0).select(col("q")),
        docs.where(col("doc_id") % 2 === 1).select(col("q")), "q"))
    }),
    // sentence-granularity duplication rate per source
    "q273_sentence_dup" -> ((s, d) =>
      ordered(TextAnalysis.sentenceDupRate(Tables.documents(s, d)))),
    // rank-biased overlap between the exact kNN ranking and the IVF
    // ranking per query — the ordering-agreement ANN-quality metric
    "q274_rbo" -> ((s, d) =>
      ordered(graft.operators.Eval.rboAt(
        SimilaritySearch.bruteForce(
          embQueries(s, d), Tables.embeddingVec(s, d), K),
        SimilaritySearch.ivfSearch(
          embQueries(s, d), Tables.embeddingVec(s, d), K,
          centroidEveryNth = 25, nprobe = 4),
        K))),
    // Benford first-digit forensics on order totals
    "q275_benford" -> ((s, d) =>
      ordered(Pipeline.benfordAudit(Tables.orders(s, d), "o_totalprice"))),
    // tokenizer fertility per language: pieces-per-token of the trained
    // BPE segmentation — the tokenizer-quality table a vocab ships with
    "q276_bpe_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (_, segs) = TextAnalysis.bpeTrain(docs, BpeRounds)
      val tok = docs.select(col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      ordered(tok
        .join(segs.select(col("token"),
          size(split(col("seg"), " ")).cast("long").as("_p")), Seq("token"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("_p")).as("n_pieces"))
        .select(col("lang"), col("n_tokens"), col("n_pieces"),
          round(col("n_pieces").cast("double") / col("n_tokens"), 6)
            .as("fertility")))
    }),
    // CUSUM drift alarms over daily event volumes (closed-form
    // recurrence). The day dumps as a midnight TIMESTAMP: a Spark date32
    // parquet column reaches pandas as date objects while DuckDB's DATE
    // arrives as datetime64 — the q101 convention pairs them repr-equal
    "q277_cusum" -> ((s, d) =>
      ordered(graft.operators.Events.cusumDaily(
        Tables.events(s, d), CusumAlarmMeanDays)
        .withColumn("day", col("day").cast("timestamp")))),
    // average precision at K of the IVF ranking vs exact truth — the
    // order-sensitive companion to recall (q244) and RBO (q274)
    "q279_map" -> ((s, d) =>
      ordered(graft.operators.Eval.mapAt(
        SimilaritySearch.ivfSearch(
          embQueries(s, d), Tables.embeddingVec(s, d), K,
          centroidEveryNth = 25, nprobe = 4),
        SimilaritySearch.bruteForce(
          embQueries(s, d), Tables.embeddingVec(s, d), K),
        K))),
    // REAL video path end-to-end, driver-gated (the q253 pattern): per id,
    // synthesize an MJPEG-style AVI of solid-gray frames (JPEG-encoded at
    // quality 1.0 — DC-only blocks survive the lossy codec EXACTLY), parse
    // the RIFF container + decode every frame with the REAL decoder, emit
    // per-frame (dims, mean luminance). gray(id, f) is analytic, so the
    // oracle states the closed form. Both stages partition-local flatMaps;
    // payloads never shuffle.
    "q280_video_decode" -> ((s, d) => {
      import s.implicits._
      val media = s.range(0, VideoN).as[Long].map { id =>
        Multimodal.MediaRow(id, "video",
          Multimodal.synthAviGray(
            f => (((id * 7 + f * 13) % 16) * 16 + 8).toInt,
            (2 + id % 3).toInt, VideoW, VideoH),
          VideoW, VideoH, 0)
      }
      ordered(Multimodal.extractVideoFeatures(media)
        .select(col("id"), col("frameNo").as("frame_no"),
          col("width"), col("height"),
          round(col("meanLum").cast("double") * 255, 0).cast("int").as("gray")))
    }),
    // JSONL interchange round-trip over documents (embedded quotes /
    // newlines exercise JSON string escaping; explicit schema, no
    // inference) — the LLM-pipeline wire format next to q231's CSV
    "q283_jsonl_roundtrip" -> ((s, d) =>
      ordered(graft.sources.JsonlStore.roundTrip(
        Tables.documents(s, d), scratch("q283_jsonl")))),
    // dirty-dump ingest audit: the documents corpus as JSONL plus
    // JsonlCorruptN malformed lines, read PERMISSIVE with a corrupt-record
    // column → ("good", N) / ("corrupt", K) counts
    "q284_jsonl_audit" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val goodDir = scratch("q284_good")
      graft.sources.JsonlStore.save(docs, goodDir)
      val corrupt = s.range(0, JsonlCorruptN).select(
        concat(lit("{\"doc_id\": "), col("id"),
          lit(", \"text\": unterminated")).as("value"))
      val mixedDir = scratch("q284_mixed")
      s.read.text(goodDir).unionByName(corrupt)
        .write.mode("overwrite").text(mixedDir)
      ordered(graft.sources.JsonlStore.ingestAudit(s, mixedDir, docs.schema))
    }),
    // IVF knob auto-tune (the reference's nni-auto-tune analogue):
    // replicas × nprobe grid at the q252 centroid ratio; `best` marks the
    // cheapest config (probed posting entries) meeting the recall floor
    "q281_ivf_autotune" -> ((s, d) =>
      ordered(graft.operators.AutoTune.ivfSweep(
        embQueries(s, d),
        Tables.embeddingVec(s, d).select(col("id"), col("vec")), K,
        SemNth, TuneReplicas, TuneNprobes, TuneIvfFloorBp))),
    // LSH banding auto-tune: three bandings of the 16-hash signature
    // against the exact-Jaccard truth at the q33 threshold
    "q282_lsh_autotune" -> ((s, d) =>
      ordered(graft.operators.AutoTune.lshBandSweep(
        Tables.documents(s, d), 0.3, TuneBandCfgs, TuneLshFloorBp))),
    // personalized PageRank from every-50th seed embeddings — the
    // graph-expansion "closeness to exemplars" corpus selector
    "q278_ppr" -> ((s, d) => {
      val vecs = Tables.embeddingVec(s, d)
      ordered(graft.operators.KnnGraph.personalizedPageRank(
        knnDigraph(s, d), vecs.select(col("id")),
        vecs.where(col("id") % 50 === 0).select(col("id")), PrK, PrIters))
    }),
    // IVF recall-vs-nprobe tuning curve (the q244 harness for the IVF path)
    "q252_ivf_recall_curve" -> ((s, d) =>
      ordered(SimilaritySearch.ivfRecallCurve(
        embQueries(s, d), Tables.embeddingVec(s, d), K,
        centroidEveryNth = 25, nprobes = IvfNprobes))),
    // span-level decontamination: WHERE benchmark text sits in train docs
    // (same train/eval split convention as q69's doc-level verdict)
    "q251_contamination_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ordered(Dedup.contaminationSpans(
        docs.where(col("doc_id") % 10 =!= 7),
        docs.where(col("doc_id") % 10 === 7),
        DupSpanGram, DupSpanMinTokens))
    }),
    // cross-source token overlap from bottom-k sketches alone (no join)
    "q245_kmv_overlap" -> ((s, d) => {
      val toks = Tables.documents(s, d).select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      val sk = graft.functions.Sketches.kmv(toks, "source", "token", KmvK)
      ordered(graft.functions.Sketches.kmvOverlap(
        sk.where(col("source") === "src0"),
        sk.where(col("source") === "src1"), KmvK))
    }),
    // k-anonymity audit over the (lang, source) quasi-identifier envelope
    "q243_k_anonymity" -> ((s, d) =>
      ordered(Pipeline.kAnonymity(
        Tables.documents(s, d), Seq("lang", "source"), KAnonK))),
    // LSH banding quality: candidate recall/precision vs brute Jaccard
    "q244_lsh_recall" -> ((s, d) =>
      ordered(Dedup.bandingRecall(Tables.documents(s, d), 0.3))),
    // A/B readout: hash-bucketed variants, Welch t + Cohen's d over
    // per-user value totals (integer-exact power sums, unrounded doubles)
    "q242_ab_test" -> ((s, d) => {
      val perUser = Tables.events(s, d).groupBy(col("user_id"))
        .agg(sum(col("value").cast("decimal(18,4)")).as("_v"))
        .select(
          when(graft.functions.Hash60(
            concat(col("user_id").cast("string"), lit(":ab"))) % 2L === 0L,
            "control").otherwise("treatment").as("variant"),
          (col("_v") * 10000).cast("long").as("x"))
      ordered(Eval.abTest(perUser, 1e4))
    }),
    // leakage-free split: the q106 hash draw keyed on the near-dup GROUP id
    "q240_group_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val groups = Dedup.canonicalGroups(docs, Dedup.minhashDedup(docs, 0.3))
      ordered(Pipeline.groupAwareSplit(docs, groups))
    }),
    // leakage audit of the NAIVE per-doc split: near-dup pairs straddling
    // split boundaries (the contamination q240 eliminates by construction)
    "q241_leakage_audit" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ordered(Pipeline.leakageAudit(
        Pipeline.stratifiedSplit(docs).select(col("doc_id"), col("split")),
        Dedup.minhashDedup(docs, 0.3)))
    }),
    // per-source Spearman: does the quality score order docs like length?
    "q238_spearman" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(col("source"),
        TextAnalysis.qualityRaw(col("text")).as("q"), col("n_chars"))
      ordered(Eval.spearmanByGroup(scored, "source", "q", "n_chars"))
    }),
    // pairwise source vocabulary overlap (dataset-card similarity audit)
    "q239_source_similarity" -> ((s, d) =>
      ordered(TextAnalysis.sourceSimilarity(Tables.documents(s, d)))),
    // wide→long reshape anchor: native unpivot over per-source stats
    "q237_unpivot" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val per = docs.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      ordered(per.unpivot(Array(col("source")),
        Array(col("n_docs"), col("n_tokens"), col("sum_chars")),
        "metric", "value"))
    }),
    // the pure-SQL API path: registered dist_* extension functions + the
    // naive window-top-k SQL shape, which WindowTopKRewrite turns into the
    // bounded aggregate (PlanSpec asserts the rewrite fired on THIS query)
    "q224_sql_api" -> ((s, d) => {
      graft.GraftExtensions.register(s) // idempotent; covers bare sessions
      Tables.embeddingVec(s, d).createOrReplaceTempView("graft_emb")
      ordered(s.sql(
        s"""SELECT query_id, rank, id, round(dist, 4) AS dist
           |FROM (SELECT query_id, id, dist,
           |        row_number() OVER (PARTITION BY query_id
           |          ORDER BY dist, id) AS rank
           |      FROM (SELECT /*+ BROADCAST(q) */ q.id AS query_id,
           |              v.id AS id, dist_l2sq(q.vec, v.vec) AS dist
           |            FROM graft_emb q CROSS JOIN graft_emb v
           |            WHERE q.id < 10))
           |WHERE rank <= $K""".stripMargin))
    }),
    // position-based (U-shaped) attribution: 40/20/40 ends-weighted credits
    "q223_position_attribution" -> ((s, d) =>
      ordered(graft.operators.Events.positionAttribution(
        Tables.events(s, d), AttrWindowMin, AttrEndWeight))),
    // per-dimension embedding health audit (dead dims, zero share, moments)
    "q222_embedding_health" -> ((s, d) =>
      ordered(SimilaritySearch.embeddingHealth(
        Tables.embeddings(s, d).select(col("embedding").as("vec"))))),
    // per-group OLS: value drift per event type over time (integer-exact
    // power sums; the grouped q187)
    "q221_group_trend" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        floor(unix_micros(col("ts").cast("timestamp")) / 60000000L)
          .cast("long").as("x"),
        round(col("value") * 10000).cast("long").as("y"))
      ordered(graft.operators.Eval.groupOls(ev, "event_type", "x", "y"))
    }),
    // nearest-direction as-of join with tolerance (pandas merge_asof
    // 'nearest' parity; q134 is the backward special case)
    "q219_asof_nearest" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val l = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val r = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      ordered(graft.operators.Events.asOfJoinNearest(l, r, NearestTolSec)
        .withColumn("ts", unix_micros(col("ts").cast("timestamp"))))
    }),
    // interval coalescing (islands & gaps): 30-minute activity spans per
    // user merged into contiguous islands
    "q220_interval_islands" -> ((s, d) => {
      val iv = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("lo"),
        (unix_micros(col("ts").cast("timestamp")) + IslandSpanUs).as("hi"))
      ordered(graft.operators.Joins.coalesceIntervals(iv, "user_id", "lo", "hi"))
    }),
    // Matryoshka prefix-dim coarse pass (16 of 64 dims) + full-dim rerank
    "q218_matryoshka" -> ((s, d) =>
      ordered(SimilaritySearch.matryoshkaSearch(
        embQueries(s, d), Tables.embeddingVec(s, d).select(col("id"), col("vec")),
        MatPrefix, K, MatRerank))),
    // GROUPING SETS anchor: an arbitrary (non-rollup-chain) set list
    "q216_grouping_sets" -> ((s, d) => {
      val dec = DecimalType(18, 4)
      ordered(Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("sum_qty"), col("n_rows")))
    }),
    // Kolmogorov–Smirnov drift between the snapshot halves' quality
    // distributions — the worst-single-CDF-gap companion to q272's W1
    // (mass-weighted) and q148's PSI (binned): same frames, third lens
    "q286_ks_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("q", TextAnalysis.quality(col("text")))
      ordered(graft.operators.Eval.ksStat(
        docs.where(col("doc_id") % 2 === 0).select(col("q")),
        docs.where(col("doc_id") % 2 === 1).select(col("q")), "q"))
    }),
    // mutual information between lang and source — "does source already
    // encode lang" in nats, for the mixture designer (q258's chi² asks
    // whether the association is significant; this asks how BIG it is)
    "q287_mutual_info" -> ((s, d) =>
      ordered(Association.mutualInformation(
        Tables.documents(s, d), "lang", "source"))),
    // cross-source quantile normalization of the quality score: the
    // bounded (source, v) → pooled-quantile mapping table that calibrates
    // per-source scorers before any global floor. Scores key as exact
    // 1e-4-unit integers (the q190 convention: a round(double, 4) KEY
    // diverges between engines at half boundaries — observed live at
    // sf0.1 on this very query)
    "q288_quantile_norm" -> ((s, d) =>
      ordered(Pipeline.quantileNormalize(
        Tables.documents(s, d), "source",
        round(TextAnalysis.qualityRaw(col("text")) * 10000).cast("long")))),
    // interpolated Kneser–Ney bigram LM score per doc — q91's Laplace
    // smoothing upgraded with continuation-count backoff
    "q289_kneser_ney" -> ((s, d) =>
      ordered(TextAnalysis.knBigramScore(Tables.documents(s, d), KnDiscount))),
    // distinct-n lexical diversity per source (n = 1, 2) — the
    // corpus-level twin of q70's per-doc repetition signal
    "q290_distinct_n" -> ((s, d) =>
      ordered(TextAnalysis.distinctNgrams(Tables.documents(s, d)))),
    // per-source unigram KL from the pooled corpus — distribution-level
    // source distinctiveness where q239 reads only vocabulary overlap
    "q291_source_kl" -> ((s, d) =>
      ordered(TextAnalysis.sourceKl(Tables.documents(s, d), KlAlpha))),
    // context-length budget report: what a 64-token context costs each
    // source (overflow docs, truncation loss, perfect-packer bin floor)
    "q292_packing_report" -> ((s, d) =>
      ordered(Pipeline.packingReport(Tables.documents(s, d), PackMaxLen))),
    // novelty-over-time curve on synthetic ingest periods: share of each
    // period's distinct shingles never seen in an earlier period
    "q293_novelty_curve" -> ((s, d) =>
      ordered(Dedup.noveltyCurve(
        Tables.documents(s, d)
          .withColumn("period", col("doc_id") % NoveltyPeriods), "period"))),
    // Kendall τ-b between quality (1e-2 units) and clamped token count —
    // "does my quality score just measure length", tie-corrected
    "q294_kendall_tau" -> ((s, d) =>
      ordered(graft.operators.Eval.kendallTau(
        Tables.documents(s, d).select(
          round(TextAnalysis.qualityRaw(col("text")) * 100).cast("long")
            .as("q100"),
          least(size(TextAnalysis.tokens(col("text"))).cast("long"),
            lit(TauLenCap.toLong)).as("toks")),
        "q100", "toks"))),
    // winsorized per-source quality card (p05/p95 clamp, exact 1e-4 units)
    "q295_winsorized" -> ((s, d) =>
      ordered(Pipeline.winsorizedStats(Tables.documents(s, d),
        round(TextAnalysis.qualityRaw(col("text")) * 10000), 5, 95))),
    // kNN label-noise audit: vectors whose neighbors outvote their own
    // label (confident-learning pass before any classifier fit)
    "q296_label_noise" -> ((s, d) =>
      ordered(SimilaritySearch.labelNoise(Tables.embeddingVec(s, d), K))),
    // whitened PCA projection — q217's basis scaled to unit variance
    // (fitted factors inlined as literals; dynamic oracle)
    "q297_pca_whiten" -> ((s, d) => {
      import graft.functions.PCA
      val emb = Tables.embeddings(s, d)
      ordered(PCA.whiten(emb, pcaModel(s, d), PcaWhitenEps, "embedding",
        "white", 4)
        .select(col("vec_id"), posexplode(col("white")).as(Seq("dim", "value"))))
    }),
    // deterministic Poisson-bootstrap CI on per-source mean quality — the
    // sampling-noise error bars next to q264's leave-group-out jackknife
    "q298_bootstrap_ci" -> ((s, d) =>
      ordered(graft.operators.Eval.bootstrapCi(
        Tables.documents(s, d), "source", "doc_id",
        round(TextAnalysis.qualityRaw(col("text")) * 10000), 1e4,
        BootB, BootAlpha))),
    // CUPED variance-reduced A/B readout: pre-period spend is the
    // covariate, post-period spend the metric (q242's variant hash)
    "q299_cuped" -> ((s, d) => {
      val perUser = Tables.events(s, d).groupBy(col("user_id")).agg(
        sum(when(col("ts").cast("date") < lit(CupedSplitDay),
          col("value").cast("decimal(18,4)"))).as("_x"),
        sum(when(col("ts").cast("date") >= lit(CupedSplitDay),
          col("value").cast("decimal(18,4)"))).as("_y"))
        .select(
          when(graft.functions.Hash60(
            concat(col("user_id").cast("string"), lit(":ab"))) % 2L === 0L,
            "control").otherwise("treatment").as("variant"),
          coalesce((col("_x") * 10000).cast("long"), lit(0L)).as("x"),
          coalesce((col("_y") * 10000).cast("long"), lit(0L)).as("y"))
      ordered(graft.operators.Eval.cuped(perUser, 1e4))
    }),
    // EWMA control chart over daily event volumes — the recency-weighted
    // companion to q277's all-history CUSUM (q101 day-dump convention)
    "q300_ewma" -> ((s, d) =>
      ordered(graft.operators.Events.ewmaDaily(
        Tables.events(s, d), EwmaAlpha, EwmaBand)
        .withColumn("day", col("day").cast("timestamp")))),
    // count-based word vectors: symmetrized PPMI co-occurrence factorized
    // by the fitted eigenbasis (inlined literals; dynamic oracle)
    "q301_word_vectors" -> ((s, d) =>
      ordered(TextAnalysis.wordVectors(
        Tables.documents(s, d), wvModel(s, d)))),
    // Neyman-optimal eval-sample allocation across sources: shares ∝ N·σ
    // of the quality score (1e-4 units), largest-remainder rounding
    "q302_neyman_alloc" -> ((s, d) =>
      ordered(Pipeline.neymanAllocate(Tables.documents(s, d), "source",
        round(TextAnalysis.qualityRaw(col("text")) * 10000), NeymanBudget))),
    // isotonic (PAV) calibration of the quality score against the q97
    // rule-gate verdict — fitted blocks inlined (dynamic oracle)
    "q303_isotonic" -> ((s, d) =>
      ordered(graft.operators.Eval.isotonicCalibrate(
        isoScored(s, d), isoModel(s, d)))),
    // Nelson–Aalen cumulative hazard on q265's risk sets — the additive
    // companion whose slope reads conversion pressure
    "q304_nelson_aalen" -> ((s, d) =>
      ordered(graft.operators.Events.nelsonAalen(
        Tables.events(s, d), resolutionSec = KmResolutionSec))),
    // synonym mining over the q301 vectors: exact cosine self-kNN of the
    // bounded vocabulary table (shared dynamic-oracle chain)
    "q305_word_synonyms" -> ((s, d) =>
      ordered(TextAnalysis.wordSynonyms(
        Tables.documents(s, d), wvModel(s, d), WvSynK))),
    // ---- q306-q310: the deployed streaming monitors, oracle-gated (r14
    // verdict item 5). Each runs its streaming twin on a deterministic
    // two-micro-batch drop of the driver tables (global (ts, id) order, so
    // the per-key in-order delivery contract each twin states holds) and
    // dumps the final sink table; the oracle is the batch closed form the
    // twin is proven equal to in StreamingSpec — now checked by the driver
    // on real data, not only by the spec's fixtures.
    "q306_stream_quota" -> ((s, d) => {
      import s.implicits._
      val rows = Tables.events(s, d)
        .select(col("event_id").cast("long"), col("ts"),
          col("user_id").cast("long"))
        .as[(Long, java.sql.Timestamp, Long)].collect()
        .sortBy(r => (r._2.getTime, r._1)).toSeq
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val out = streamToTable(s, b1, b2, Seq("event_id", "ts", "user_id"),
        df => graft.streaming.StreamingIngest
          .quotaStream(df, QuotaMax, QuotaWinMin), "append")
      ordered(out.select(col("event_id"), col("user_id")))
    }),
    "q307_stream_drift_hist" -> ((s, d) => {
      import s.implicits._
      val vals = Tables.events(s, d).where(col("value").isNotNull)
        .select(floor(col("value")).cast("long").as("u"))
        .as[Long].collect().sorted.toSeq
      val (b1, b2) = vals.splitAt(vals.length / 2)
      ordered(streamToTable(s, b1, b2, Seq("u"),
        df => graft.streaming.StreamingIngest.driftHistogramStream(df, "u"),
        "complete"))
    }),
    // JSONL ingest audit on synthesized lines: to_json of (doc_id, source),
    // with every doc_id % 5 == 0 line truncated by two chars (always
    // malformed: the tail of a JSON object is `"}` or a digit+`}`), so the
    // good/corrupt split is derivable in SQL without a JSON parser
    "q308_stream_jsonl_audit" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      val lines = Tables.documents(s, d)
        .select(col("doc_id"),
          to_json(struct(col("doc_id"), col("source"))).as("line"))
        .select(when(col("doc_id") % 5 === 0,
            expr("substring(line, 1, length(line) - 2)"))
          .otherwise(col("line")).as("line"))
        .as[String].collect().sorted.toSeq
      val (b1, b2) = lines.splitAt(lines.length / 2)
      val schema = new StructType()
        .add("doc_id", LongType).add("source", StringType)
      ordered(streamToTable(s, b1, b2, Seq("value"),
        df => graft.streaming.StreamingIngest.jsonlAuditStream(df, schema),
        "complete"))
    }),
    "q309_stream_rate_anomaly" -> ((s, d) => {
      import s.implicits._
      val rows = Tables.events(s, d)
        .select(col("ts"), col("event_type"), col("event_id").cast("long"))
        .as[(java.sql.Timestamp, String, Long)].collect()
        .sortBy(r => (r._1.getTime, r._3)).toSeq
      val (b1, b2) = rows.splitAt(rows.length / 2)
      // the stream emits CLOSED minutes only (each type's final minute stays
      // open forever) — the oracle drops each type's max minute to match
      ordered(streamToTable(s, b1, b2, Seq("ts", "event_type", "event_id"),
        df => graft.streaming.StreamingIngest
          .rateAnomalyStream(df, RateTrailing, RateZ), "append"))
    }),
    // B8 at the beyond-broadcast-head-set scale: the routed two-level
    // posting assignment as ONE map-pass expression (supers + routing ride
    // inside RoutedNearestHeadsExpr) — the scale path the 10x probe
    // motivated; SpannSpec pins routed ≡ hier-join bit-for-bit
    "q311_spann_routed_postings" -> ((s, d) => {
      val routing = Spann.routeHeads(heads(s, d), superHeads(s, d), RouteReplicas)
      ordered(Spann.buildPostingsRouted(
        Tables.lineitemVec(s, d), superHeads(s, d), routing, Replicas, SuperK)
        .select(col("head_id"), col("id"), round(col("dist"), 4).as("dist")))
    }),
    // arrival in doc_id order makes the stream's (earlier, newcomer) pair
    // orientation equal the batch pipeline's a < b; bucket-cap semantics
    // coincide while no bucket exceeds MaxBandBucket (true by corpus size
    // at the driver's scale factors — 5000 docs max vs the 1024 cap needing
    // 1024 near-identical docs in one band bucket)
    "q310_stream_neardup" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val (b1, b2) = docs.splitAt(docs.length / 2)
      val out = streamToTable(s, b1, b2, Seq("doc_id", "text"),
        df => graft.streaming.StreamingIngest.nearDupStream(df, 0.3),
        "append")
      // a pair sharing several buckets is emitted once per shared bucket
      // (identical values) — distinct() is the documented sink-side dedup
      ordered(out.distinct())
    }),
    // Good–Turing coverage + Chao1 richness floor — "is more data still
    // buying new vocabulary" as one audited row
    "q312_unseen_vocab" -> ((s, d) =>
      ordered(TextAnalysis.unseenVocab(Tables.documents(s, d)))),
    // Heaps-law V(n) ≈ K·n^β growth fit over 32 ingest-order prefixes —
    // the scaling-law companion of q312's point estimate
    "q313_heaps_law" -> ((s, d) =>
      ordered(TextAnalysis.heapsFit(Tables.documents(s, d)))),
    // per-source early/late KS drift (q286's test at source granularity)
    // with Benjamini–Hochberg FDR control across the source dashboard
    "q314_fdr_drift" -> ((s, d) =>
      ordered(Eval.fdrDrift(
        Tables.documents(s, d).select(col("source"),
          round(TextAnalysis.qualityRaw(col("text")) * 10000)
            .cast("long").as("u"),
          (col("doc_id") % 2 === 1).as("late")),
        "source", "u", "late"))),
    // Mondrian split-conformal interval for the quality score per source
    // (90% target coverage; deterministic doc_id-digit calibration split)
    "q315_conformal_quality" -> ((s, d) =>
      ordered(Eval.conformalInterval(
        Tables.documents(s, d).select(col("source"),
          round(TextAnalysis.qualityRaw(col("text")) * 10000)
            .cast("long").as("u"),
          (col("doc_id") % 10 < 5).as("cal")),
        "source", "u", "cal")))
  )

  // q306-q310: monotonically-named memory-sink tables, so concurrent Verify
  // dumps (thread pool) and repeated bench/test runs in one JVM never collide
  private val streamSinkSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Run a streaming twin over exactly two micro-batches from a MemoryStream
    * and return its final memory-sink table, eagerly materialized (the sink
    * table is dropped before returning). `cols` names the stream frame's
    * columns; `mode` is the sink output mode the twin's contract states
    * (append for flatMapGroupsWithState emitters, complete for running
    * aggregates).
    */
  private def streamToTable[T](
      s: SparkSession,
      b1: Seq[T],
      b2: Seq[T],
      cols: Seq[String],
      build: DataFrame => DataFrame,
      mode: String)(
      implicit enc: org.apache.spark.sql.Encoder[T]): DataFrame = {
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T]
    val name = s"graft_stream_sink_${streamSinkSeq.incrementAndGet()}"
    val q = build(stream.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName(name).outputMode(mode).start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
      // eager checkpoint: the sink table dies with the query; the checkpoint
      // is bounded by the monitor's own state contract (counters/pairs)
      s.table(name).localCheckpoint(true)
    } finally {
      q.stop()
      s.catalog.dropTempView(name): Unit
    }
  }

  /** q167 inputs: orders as the version-0 snapshot; a deterministic change
    * batch derived from the key — upserts (keys ≡3 mod 10, two versions so
    * latest-wins is exercised), deletes (≡7 mod 10, including a same-version
    * delete-beats-upsert tie), and inserts (fresh keys ≡1 mod 10, offset
    * past the keyspace).
    */
  private def changelogInputs(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val o = Tables.orders(s, d)
    val snap = o.select(col("o_orderkey"), lit(0L).as("version"),
      lit(false).as("del"), col("o_orderstatus"), col("o_totalprice"))
    val m = col("o_orderkey") % 10
    val up1 = o.where(m === 3).select(col("o_orderkey"), lit(1L).as("version"),
      lit(false).as("del"), lit("U1").as("o_orderstatus"),
      (col("o_totalprice") + 1000.0).as("o_totalprice"))
    val up2 = o.where(m === 3 && col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), lit(2L).as("version"),
        lit(false).as("del"), lit("U2").as("o_orderstatus"),
        (col("o_totalprice") + 2000.0).as("o_totalprice"))
    val dels = o.where(m === 7).select(col("o_orderkey"), lit(1L).as("version"),
      lit(true).as("del"), col("o_orderstatus"), col("o_totalprice"))
    // same-version upsert for half the deleted keys: the delete must win
    val upDel = o.where(m === 7 && col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), lit(1L).as("version"),
        lit(false).as("del"), lit("UX").as("o_orderstatus"), col("o_totalprice"))
    val ins = o.where(m === 1)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        lit(1L).as("version"), lit(false).as("del"),
        lit("N").as("o_orderstatus"), col("o_totalprice"))
    (snap, up1.unionByName(up2).unionByName(dels).unionByName(upDel)
      .unionByName(ins))
  }

  private val KdDepth = 3
  private val KdBeam = 3

  // ---- q99-q101 event-analytics constants (mirrored in the oracles) ----
  // 480-min gap ≈ the synthetic stream's median inter-event gap (~440 min):
  // sf0.01 yields ~4.8k sessions over 10k events — multi-event sessions with
  // a real singleton tail
  private val SessionGapMin = 480
  // 12h conversion window gives genuine drop-off at sf0.01 (150→37→7 users);
  // unbounded, every user completes every stage
  private val FunnelStages = Seq("view", "click", "purchase")
  private val FunnelWithinMin = 720
  // q102: 32-token chunks, stride 24 (8-token overlap) — sf0.01 docs carry
  // ~40 tokens, so most docs emit 2 chunks and the tail boundary (short
  // final chunk) is exercised corpus-wide
  private val ChunkWindow = 32
  private val ChunkStride = 24

  // ---- q73/q74/q75 pipeline constants (mirrored verbatim in the oracles) ----
  private val ScrubPatterns: Seq[(String, String)] =
    TextAnalysis.PiiPatterns ++ Seq(
      "term_customer" -> "\\bcustomer\\b",
      "term_vector" -> "\\bvector\\b")
  private val MixWeights = Seq("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.75)
  private val MixDefault = 0.9
  private val MixSalt = "r7"
  // upsampling mixture (q83): src0 repeats 2-3× (2 whole copies + 50% draw),
  // src1 keeps 30%, everything else passes through exactly once (threshold
  // 10000 → one whole copy, zero fractional draw)
  private val UpWeights = Seq("src0" -> 2.5, "src1" -> 0.3)
  private val UpDefault = 1.0
  // incremental-dedup corpus/batch split (q82): ids below are "the corpus",
  // ids at/above are "today's batch"
  private val IncrSplit = 400
  // per-source token budget for q86 (sf0.01 sources carry ~25 docs ×
  // ~40 tokens each, so 500 keeps roughly the best third of every source)
  private val TokenBudget = 500L
  // q87: 16 shards keeps ~30 docs per shard at sf0.01 — enough to exercise
  // the per-shard rank while every shard stays visibly multi-doc
  private val ShardCount = 16
  // q88: top-200 tokens (sf0.01 has ~2.5k distinct) — the limit boundary
  // crosses count ties, exercising the deterministic (cnt DESC, token) order
  private val VocabSize = 200
  private val PackBudget = 256L
  private val PackBuckets = 8
  // q93/q94: BPE merge rounds — 4 crosses at least one count tie on the
  // sf0.01 vocabulary, exercising the (pc DESC, x, y) tie-break
  private val BpeRounds = 4
  // q98: LM familiarity floor ≈ the corp split's 20th percentile at sf0.01
  // (range -3.61..-3.27), so the gate genuinely drops a tail
  private val CurateLmFloor = -3.41
  // q90 graph-walk search: 2000-node subgraph (bounds the oracle's pair
  // join), 8-neighbor TP-tree graph, 20 seed pivots → best 4, beam 8 × 3
  // rounds ≈ a MaxCheck-192 budget
  private val SgCorpus = 2000
  private val SgNbr = 8
  private val SgPivotNth = 100
  private val SgSeeds = 4
  private val SgBeam = 8
  private val SgRounds = 3

  // ---- q104-q109 constants (mirrored verbatim in the oracles) ----
  private val TfIdfTopK = 3
  // terms present across the synthetic vocabulary so every source scores docs
  private val Bm25Terms = Seq("spark", "join", "window")
  private val Bm25K = 20
  // q109: 5-NN graph, 3 damped rounds — enough for rank mass to spread two
  // hops so central/peripheral nodes separate, while the oracle stays 3
  // unrolled join CTEs
  private val PrK = 5
  private val PrIters = 3
  // q113: posting lengths at HeadNth=200/r=4 run ~200-1850 at BOTH fixture
  // SFs (length ≈ 4·HeadNth regardless of corpus size), so 1200/300
  // exercises split AND merge everywhere
  private val RebalMax = 1200
  private val RebalMin = 300
  // q114: 2 query bags × 10 doc bags, top-5 — the self bag must rank 1 and
  // the cut crosses genuinely close scores
  private val MaxSimQBags = 2
  private val MaxSimK = 5

  // ---- q118-q120 constants (mirrored verbatim in the oracles) ----
  // q118/q119: the 64-dim embeddings pack into ONE 64-bit code word;
  // rerank R=50 ≈ a 10% coarse-candidate budget on the 500-row fixture —
  // the coarse/fine split a production binary-first pipeline runs
  private val BinDims = 64
  private val BinRerank = 50
  // q120: every-25th centroids → ~20 clusters of ~25 vectors; 0.6 matches
  // q36's near-dup bar so the LSH-blocked and cluster-blocked paths are
  // directly comparable
  private val SemNth = 25
  private val SemMaxCos = 0.6
  // q261: greedy coverage rounds (each round = one anti-join + argmax)
  private val CoverageRounds = 4
  // q262: preference pairs per source (bounded top/bottom-k aggregates)
  private val PrefPairs = 3
  // q263: HITS half-round pairs (each = two keyed aggs + two renorms)
  private val HitsIters = 2
  // q265: KM time buckets (1h over the 30-day fixture → ≤720 rows)
  private val KmResolutionSec = 3600L
  // q277: alarm when cusum > k·h, h in mean-days — passed to cusumDaily AND
  // interpolated into the oracle so the two sides cannot desynchronize
  private val CusumAlarmMeanDays = 2L
  // q289: the Kneser–Ney absolute discount — passed to knBigramScore AND
  // interpolated into the oracle (the CusumAlarmMeanDays rule)
  private val KnDiscount = 0.75
  // q291: Laplace smoothing for the per-source KL unigram LMs (same rule)
  private val KlAlpha = 0.5
  // q292: the context-length budget — small enough that the fixture's
  // longer docs genuinely overflow it
  private val PackMaxLen = 64
  // q293: synthetic ingest periods (doc_id mod) for the novelty curve
  private val NoveltyPeriods = 12
  // q294: token-count clamp bounding the Kendall grid's y-axis resolution
  private val TauLenCap = 512
  // q297: eigenvalue floor for the whitening factors (1/sqrt(lambda + eps))
  private val PcaWhitenEps = 1e-9
  // q298: Poisson-bootstrap replicates + order-statistic CI level
  private val BootB = 32
  private val BootAlpha = 0.1
  // q299: CUPED pre/post period boundary over the 30-day event fixture
  private val CupedSplitDay = "2024-01-16"
  // q300: EWMA smoothing + alarm band (both interpolated into the oracle)
  private val EwmaAlpha = 0.3
  private val EwmaBand = 3.0
  // q301: PPMI word-vector vocabulary and embedding dims
  private val WvVocab = 48
  private val WvK = 4
  // q305: synonym neighbors per token over the q301 vectors
  private val WvSynK = 3

  // q302: eval-set sampling budget for the Neyman allocation
  private val NeymanBudget = 500L

  /** q303: the (score, keep) frame the isotonic calibration fits and
    * applies on — quality in exact 1e-2 units vs the q97 rule-gate verdict.
    */
  private def isoScored(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id"),
        round(TextAnalysis.qualityRaw(col("text")) * 100).cast("long")
          .as("score"))
      .join(TextAnalysis.ruleFilter(docs).select(col("doc_id"), col("keep")),
        Seq("doc_id"))
      .select(col("score"), col("keep"))
  }

  private val isoModelCache =
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String), Seq[graft.operators.Eval.IsoBlock]]

  private def isoModel(s: SparkSession,
      d: String): Seq[graft.operators.Eval.IsoBlock] =
    isoModelCache.getOrElseUpdate((s, d),
      graft.operators.Eval.isotonicFit(isoScored(s, d)))

  private val wvModelCache =
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String), TextAnalysis.WvModel]

  private def wvModel(s: SparkSession, d: String): TextAnalysis.WvModel =
    wvModelCache.getOrElseUpdate((s, d),
      TextAnalysis.wordVectorsFit(Tables.documents(s, d), WvVocab, WvK))
  // q280: 48 synthetic AVIs of 2-4 solid-gray 32×24 frames; gray levels
  // 16·((7id+13f) mod 16)+8 span the 8-bit range off the quant midpoints
  private val VideoN = 48L
  private val VideoW = 32
  private val VideoH = 24
  // q281/q282 (AutoTune): IVF grid = replicas × nprobe at the q252
  // centroid ratio under a 0.80 recall floor; LSH grid = three bandings of
  // the 16-hash signature (8×2 / 4×4 / 2×8 bands×rows) under 0.70. Floors
  // are integer basis points so `n_hit·10000 ≥ bp·n_true` is engine-exact.
  private val TuneReplicas = Seq(1, 2)
  private val TuneNprobes = Seq(1, 2, 4)
  private val TuneIvfFloorBp = 8000
  private val TuneBandCfgs = Seq((16, 2), (16, 4), (16, 8))
  private val TuneLshFloorBp = 7000
  // q284: malformed JSONL lines appended to the good dump
  private val JsonlCorruptN = 7L
  // q266: cutoff 2/3 through the fixture month, 72h embargo
  private val EmbargoCutoff = "2024-01-20 00:00:00"
  private val EmbargoHours = 72
  // q268: Hill tail threshold — types seen ≥ 5 times
  private val HillXmin = 5L
  // q269: token budget — ~74% of the sf0.01 corpus, so sqrt-weighted
  // small sources saturate and surplus re-flows
  private val WfBudget = 20000L
  // q269 oracle: unrolled rounds ≥ sources + 2 (20 sources in testdata);
  // post-fixpoint rounds recompute the identical allocation (no-ops)
  private val WfOracleRounds = 22

  /** q259/q260's clustering: rank-1 cosine assignment of every embedding
    * to the q149-convention head set (every SemNth-th embedding) — ONE
    * bounded top-k pass ([[Knn.searchAgg]]), heads broadcast-tiny.
    */
  private def clusterAssign(s: SparkSession, d: String): DataFrame = {
    val vecs = Tables.embeddingVec(s, d)
    Knn.searchAgg(
      vecs.select(col("id").as("query_id"), col("vec").as("qvec")),
      vecs.where(col("id") % SemNth === 0).select(col("id"), col("vec")),
      1, "cos")
      .select(col("query_id").as("id"),
        element_at(col("nn"), 1).getField("id").as("cluster"))
  }

  private def embLabels(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id").as("id"), col("label"))

  /** DuckDB mirror of [[clusterAssign]] (v/h/pd/p CTE prefix; `p` =
    * `(id, cluster)`).
    */
  private def clusterAssignCtes: String = {
    val pDist = Tables.distSql("cos", "v.vec", "h.head_vec")
    s"""v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
       |h AS (SELECT id AS head_id, vec AS head_vec FROM v WHERE id % $SemNth = 0),
       |pd AS (SELECT v.id, h.head_id, $pDist AS dist FROM v CROSS JOIN h),
       |p AS (SELECT id, head_id AS cluster FROM (
       |        SELECT id, head_id,
       |          row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS rn
       |        FROM pd) WHERE rn = 1)""".stripMargin
  }
  // q121: 256 hashed-feature buckets — sf0.01 carries ~20k bigram
  // instances, so every bucket is populated and the smoothing term stays
  // a small correction; the target slice (lang='en') is ~43% of docs
  private val ImpBuckets = 256
  // q122: hamming ≤ 3 over the 64-bit content-histogram pHash — 88 pairs
  // at sf0.01, a clean near-dup tail (the spectrum rises steeply past 4)
  private val PhashMaxHamming = 3
  // q124: MMR over a 20-deep relevance pool, 5 picks, λ=0.5 — λ and 1−λ
  // must be exactly representable doubles (the oracle-parity contract)
  private val MmrK = 5
  private val MmrLambda = 0.5
  private val MmrPool = 20
  // q126/q127: 64→16-dim JL sketch (4× compression), 50-candidate coarse
  // budget (the q119 contract, with a distance-faithful sketch instead of
  // sign bits). Probed coverage at R=50: 8d 0.37 / 16d 0.53 / 24d 0.59 —
  // near-uniform random embeddings concentrate distances, so the sketch
  // needs ≥16 coordinates for usable ranking signal
  private val RpOutDims = 16
  private val RpRerank = 50
  // q129: 512×4 CMS over ~20k token instances (~2.5k distinct) — narrow
  // enough that collisions genuinely over-count some probes (the sketch
  // behavior under test); q130: p=8 → 256 HLL buckets on the same stream
  private val CmsWidth = 512
  private val CmsDepth = 4
  private val HllP = 8
  // q132: cap 15 docs/source — sf0.01 sources carry ~25, so the cap
  // genuinely cuts every source while keeping a multi-doc survivor set
  private val SourceCapN = 15L
  // q135: 100 price bands of width 7500 every 5000 — overlapping, so some
  // orders land in two bands; bucket width = the band step (each interval
  // explodes to 2 buckets)
  private val RangeBands = 100
  private val RangeStep = 5000L
  private val RangeLen = 7499L
  // q138: importance floor ≈ the corpus 25th percentile (-0.0206 at
  // sf0.01) — the DSIR gate genuinely drops a tail after the rule gate
  private val AssembleImpFloor = -0.02
  // q141: see the query comment — concentrated synthetic distances need a
  // tight factor for the flag to exercise both outcomes
  private val OutlierFactor = 1.06
  // q145: 10-minute burst window — wide enough that the synthetic event
  // stream (minutes-apart per-user events) actually collapses some bursts
  private val BurstWindowMinutes = 10
  // q143: share bar 1/30 sits just under the synthetic corpus's ~3.4%
  // near-uniform token shares → a nonempty, properly-selective hitter set
  // (14-16 tokens at sf0.001/0.01/0.1); capacity 64 ≥ phi keeps the MG
  // superset guarantee with 2× margin
  private val HhPhi = 30
  private val HhCapacity = 64
  // q144: avg cluster ≈ SemNth (25) members → keeping 10 genuinely cuts
  // most clusters while leaving every cluster represented
  private val ClusterSampleN = 10
  // q150: 8 greedy k-center picks — enough rounds that the coverage
  // radius visibly decreases, cheap enough for the recursive oracle
  private val FpsK = 8
  // q151: 150 ≈ the ~95th percentile of per-order quantity sums in the
  // synthetic lineitem — the HAVING slice is genuinely selective
  private val Q18MinQty = 150
  // q153: 1000-node exact-kNN graph at k=4 — 82 triangles at sf0.01, and
  // the all-pairs oracle stays ~1s
  private val TriNodes = 1000
  private val TriK = 4
  // q154: 0.5 containment — "half of this doc's shingles are in that one",
  // comfortably below the q33 near-dup Jaccard band so the asymmetric
  // signal adds pairs Jaccard filtering would drop
  private val ContThreshold = 0.5
  // q156: 20-id posting samples; q157: 8 trailing active minutes, |z|>2
  // (the synthetic stream is steady, a 3σ bar would flag nothing)
  private val InvPostings = 20
  private val RateTrailing = 8
  private val RateZ = 2.0
  // q158: ASIA keeps a multi-nation result on the synthetic keyspace
  private val Q5Region = "ASIA"
  // q159: the dataset-card percentiles
  private val QuantPcts = Seq(25, 50, 75, 90)
  // q160: 8 salts — enough to demonstrate spreading without 8× noise on
  // the small dim side
  private val JoinSalts = 8
  // q164: every-100th-id centroids over the doc-linked set (500 docs at
  // sf0.01 → 5 clusters of ~100) so per-cluster token stats are real
  private val TopicNth = 100
  private val TopicTopK = 5
  // q165: 2^17 bits / 4 hashes ≈ 1% false-positive at the ~3k urgent-order
  // key count — 16 KiB of filter killing ~80% of the fact scan pre-shuffle
  private val BloomBits = 1 << 17
  private val BloomHashes = 4
  // q166: block on (noun, size) — blocks of ~5 parts at sf0.01; dist ≤ 3
  // keeps same-noun adjective swaps like red/hot without crossing nouns
  private val FuzzyMaxDist = 3
  // q168: 200 winners from the ~6k-doc race at sf0.01 — selective enough
  // that the top-k boundary is a real cut, big enough to be a sample
  private val WsK = 200
  // q169: deciles — the standard reliability-diagram resolution
  private val CalBins = 10
  // q170: one quarter of returned items — the Q10 slice
  private val Q10Start = "1999-01-01"
  private val Q10End = "1999-04-01"
  // q173: τ=0.8 — the fixture near-dups sit at J≥0.9, and high τ is where
  // prefix filtering prunes hardest (prefix ≈ 0.2·n + 1 shingles)
  private val PpJacT = 0.8
  // q174: 8-bit quantization per dimension; $2000 price buckets span the
  // synthetic o_totalprice range in ~250 buckets
  private val ZBits = 8
  private val ZPriceStep = 2000
  // q177: views within the preceding hour share the purchase credit
  private val AttrWindowMin = 60
  // q223: first and last touch each take 0.4 of the value (U-shape)
  private val AttrEndWeight = 0.4
  // q179: 3-core of the q153 kNN graph; 12 peel rounds cap (the fixture
  // reaches fixpoint well inside it — KnnGraphSpec asserts so), mirrored
  // exactly by the unrolled oracle rounds
  private val KcK = 3
  private val KcRounds = 12
  // q182/q183: the synthetic nation keyspace is NATION_0..24
  private val Q7NationA = "NATION_1"
  private val Q7NationB = "NATION_2"
  private val Q8Nation = "NATION_3"
  // q188: 20 hottest keys — the salting-decision shortlist
  private val SkewTopK = 20
  // q189: 8-bit z-prefix partitions; the [10k, 30k) price probe covers one
  // x high-nibble → 16 of 256 quadrants
  private val ZPrefixBits = 8
  private val ZProbeLo = 10000.0
  private val ZProbeHi = 30000.0
  // q192: the conversion-latency dataset-card percentiles
  private val ConvertPcts = Seq(50, 90, 99)
  // q195: 3 events per user per hour — tight enough to genuinely drop rows
  private val QuotaMax = 3
  private val QuotaWinMin = 60
  // q198-q204: the remaining TPC-H anchor shapes. The synthetic schema has
  // no partsupp table and no shipmode/commitdate/receiptdate columns, so
  // Q9/Q12/Q16/Q21 keep the reference PLAN SHAPE with documented stand-ins
  // (see each tpchQ* method); the date windows reuse the Q10 quarter.
  private val Q12Hi = Seq("1-URGENT", "2-HIGH")
  private val Q16MaxSize = 25
  private val Q9Noun = "widget"
  private val Q9CostFactor = 0.5
  private val Q21LateDays = 90
  // q205: ≥5 occurrences — PMI below that is noise (the standard floor)
  private val CollocMin = 5L
  // q206/q207: k=8-char grams, w=4-hash windows → guarantee length 11;
  // stop-fp cutoff at 10% of the sf0.01 corpus (the MaxBandBucket idea)
  private val WinnowK = 8
  private val WinnowW = 4
  private val WinnowMinShared = 2L
  private val WinnowMaxDf = 50L
  // the report threshold that makes q207 selective on a templated corpus:
  // pairs sharing ≥25% of the smaller side's fps (the 99.9th pct is ~0.27)
  private val WinnowMinOverlap = 0.25
  // q208 (Q2): the part slice whose regional min-cost supplier is sought
  private val Q2Region = "EUROPE"
  private val Q2Type = "SMALL"
  private val Q2Size = 5
  // q209 (Q11): parts worth more than this fraction of the nation's total
  private val Q11Nation = "NATION_7"
  private val Q11Fraction = 0.001
  // q210 (Q20): dominant-supplier year window and part-name slice
  private val Q20Noun = "gear"
  private val Q20YearEnd = "2000-01-01"
  // q212: ≥2 shared baskets (sf0.01's sparse pair space — P[cnt≥2]≈1e-3);
  // baskets above 64 distinct items are dropped before pairing
  private val BasketMinPair = 2L
  private val BasketMax = 64
  // q217: 64-dim embeddings → 8 principal components
  private val PcaK = 8
  // q218: coarse pass over the first 16 of 64 dims, rerank 3k candidates
  private val MatPrefix = 16
  private val MatRerank = 30
  // q219: a view within ±30 minutes of the purchase counts as nearest
  private val NearestTolSec = 1800L
  // q220: each event opens a 30-minute activity span
  private val IslandSpanUs = 1800L * 1000000L
  // q229: candidate tokenizer vocabulary sizes for the OOV/coverage curve
  private val VocabCutoffs = Seq(16, 64, 256, 1024)
  // q230: quality quartiles per source
  private val CurriculumTiers = 4
  // q232: held-out split — first 100 embeddings are the test queries
  private val ConfusionTestN = 100
  // q243: release gate — quasi-classes under 10 rows are re-identifiable
  private val KAnonK = 10
  // q245: bottom-64 KMV sketches of two sources' token sets
  private val KmvK = 64
  // q246: total token budget split across sources at the 0.5-temperature mix
  private val MixBudget = 10000L
  // q248: BKT SelectHead — tree shape (K-way, leaf cap, unroll depth) plus
  // the reference's default walk thresholds (SelectThreshold/SplitThreshold/
  // SplitFactor, SPANN/ParameterDefinitionList.h:40-67)
  private val BktK = 4
  private val BktLeaf = 16
  private val BktLevels = 3
  private val BktSelT = 6
  private val BktSplT = 25
  private val BktSplF = 5
  // q249: 4-token grams, report verbatim shared runs of ≥ 8 tokens
  private val DupSpanGram = 4
  private val DupSpanMinTokens = 8
  // q252: probe budgets for the IVF recall curve
  private val IvfNprobes = Seq(1, 2, 4, 8)
  // q234: interleave mixture (sources outside the map are dropped)
  private val InterleaveWeights = Seq(("src0", 0.5), ("src1", 0.3), ("src2", 0.2))
  // q235: one-day half-life, 12-half-life tail clamp (Events.decayedValue)
  private val DecayHalfLifeDays = 1.0

  // ---- q56 rotation: a signed permutation (out(j) = sign(j)·v(perm(j))) —
  //      orthogonal, and exactly representable in FLOAT/DOUBLE ----
  private val OpqPerm = Array(3, 0, 5, 1, 4, 2)
  private val OpqSign = Array(1.0, -1.0, 1.0, -1.0, 1.0, -1.0)

  private def opqRotation: Array[Array[Double]] =
    Array.tabulate(6, 6)((i, j) => if (i == OpqPerm(j)) OpqSign(j) else 0.0)

  private def rotateVec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array((0 until 6).map(j => c.getItem(OpqPerm(j)) * lit(OpqSign(j))): _*)

  /** DuckDB expression for [[rotateVec]] over a (1-indexed) list column. */
  private def rotateSql(c: String): String =
    (0 until 6).map(j =>
      s"${if (OpqSign(j) < 0) "-" else ""}$c[${OpqPerm(j) + 1}]")
      .mkString("[", ", ", "]")

  /** ×1000-rounded integer-valued doubles (mirrors `KnnGraph.leafCode`'s
    * proven Spark↔DuckDB round parity; SQL: `round(x::DOUBLE*1000)::BIGINT::DOUBLE`).
    */
  private def scaleVec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(c, x => round(x.cast("double") * 1000).cast("long").cast("double"))

  private def embQueries(s: SparkSession, d: String): DataFrame =
    Tables.embeddingVec(s, d).where(col("id") < 10)
      .select(col("id").as("query_id"), col("vec").as("qvec"))

  /** Headline benchmark set (one per operator family): exact kNN, SPANN
    * build + search, relational agg + join, text stats, MinHash dedup,
    * embedding ANN, windowed events.
    */
  val benchQueryNames: Seq[String] = Seq(
    "q01_knn_l2", "q07_spann_postings", "q08_spann_search",
    "q20_tpch_q1", "q44_tpch_q3", "q30_text_stats",
    "q33_dedup_minhash", "q37_ann_bruteforce", "q43_events_window")

  /** TPC-H Q3-style shipping-priority join (relational anchor: broadcast dim
    * join + shuffle join + decimal-summed agg + top-k).
    */
  private def tpchQ3(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val cutoff = lit(java.sql.Timestamp.valueOf("1997-06-01 00:00:00"))
    // star-join order: shrink orders by BOTH dimensions (date pushdown +
    // broadcast customer semi) BEFORE the fact join, so the orderkey
    // shuffle join builds on ~1/5 of orders instead of filtering after —
    // inner joins commute, result identical, and at 100× the fact join is
    // the cost that matters
    val ordersF = Tables.orders(s, d).where(col("o_orderdate") < cutoff)
      .join(broadcast(Tables.customer(s, d)
        .where(col("c_mktsegment") === "FURNITURE")
        .select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_semi")
    val top = Tables.lineitem(s, d)
      .join(ordersF, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
    ordered(top.select(col("l_orderkey"), col("o_orderdate"), col("revenue")))
  }

  /** TPC-H Q1-style pricing summary (relational anchor; exercises partial
    * aggregation). Money sums go through DECIMAL(18,4) so the result is
    * order-independent and bit-identical to DuckDB, then back to DOUBLE.
    */
  /** TPC-H Q5 shape (local-supplier revenue): the join-graph anchor — two
    * broadcast-sized dims (region filters nation, nation names the output)
    * prune the supplier side BEFORE the fact joins, the customer/supplier
    * co-nation predicate rides the supplier equi-join, and the one
    * corpus-scale shuffle is lineitem⋈orders on the orderkey.
    * `broadcast()` on region/nation pins what AQE would usually infer.
    */
  private def tpchQ5(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val nations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)
        .where(col("r_name") === Q5Region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec))
        .cast("double").as("revenue"))
  }

  /** TPC-H Q6 shape: scan-filter-aggregate with zero joins. The point of
    * this anchor is the PLAN — every predicate (shipdate range, discount
    * band, quantity cap) is a parquet-pushable comparison, the projection
    * is 3 columns of 11, and the only exchange is the single-row partial
    * aggregate merge. `.explain` shows all four under PushedFilters; at
    * 100 TB this is the query whose cost is pure IO × selectivity.
    */
  private def tpchQ6(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.02 && col("l_discount") <= 0.06 &&
        col("l_quantity") < 24)
      .agg(
        sum((col("l_extendedprice") * col("l_discount")).cast(dec))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  /** TPC-H Q18 shape (large-volume customers): the aggregate-then-join
    * chain — lineitem pre-aggregated per order (map-side partial on the
    * natural key), the HAVING filter applied BEFORE any join so only
    * qualifying orders (a ~5% slice) reach the orders/customer equi-joins.
    * The anti-pattern this anchors against is join-first-filter-later,
    * which would shuffle the full lineitem fact through both joins.
    */
  private def tpchQ18(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))
      .where(col("sum_qty") > Q18MinQty)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
  }

  /** TPC-H Q10 shape (returned-item customers): the fact slices FIRST —
    * returnflag on lineitem and the quarter window on orders are both
    * parquet-pushed before the fact⋈fact shuffle, customer joins the
    * already-small result, nation broadcasts. Output is per-customer, no
    * top-N (a rank cut would hash-unstably tie at the boundary).
    */
  private def tpchQ10(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    Tables.lineitem(s, d)
      .where(col("l_returnflag") === "R")
      .join(Tables.orders(s, d)
        .where(col("o_orderdate") >= lit(Q10Start).cast("timestamp") &&
          col("o_orderdate") < lit(Q10End).cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec))
        .cast("double").as("revenue"))
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): the correlated scalar
    * subquery (`l_quantity < 0.2 · avg(quantity) per part`) planned as an
    * aggregate-then-broadcast-join — the per-part average is a map-side
    * partial agg over the SAME scan, and the correlation becomes one
    * broadcast hash join instead of a per-row subquery. The comparison is
    * cross-multiplied to integers (`5·qty·cnt < sum_qty`) so the boundary
    * is exact in both engines — never compare against a divided average.
    */
  private def tpchQ17(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val li = Tables.lineitem(s, d)
      .withColumn("_qty", col("l_quantity").cast("long"))
    val perPart = li.groupBy(col("l_partkey").as("_pk"))
      .agg(sum(col("_qty")).as("_sum_qty"), count(lit(1)).as("_cnt"))
    li.join(broadcast(perPart), col("l_partkey") === col("_pk"))
      .where(col("_qty") * 5 * col("_cnt") < col("_sum_qty"))
      .agg(
        round(sum(col("l_extendedprice").cast(dec)).cast("double") / 7.0, 4)
          .as("avg_yearly"),
        count(lit(1)).as("n_rows"))
  }

  /** TPC-H Q19 shape (disjunctive predicate join): an equi-join on partkey
    * whose residual filter is an OR of three (brand, size-band,
    * quantity-band) clauses. The anchor is predicate handling: the shared
    * `p_size BETWEEN 1 AND 30` hull and the quantity hull are pushable
    * conjuncts; the disjunction stays a residual — what must NOT happen is
    * the planner giving up on the equi-key and going nested-loop.
    */
  private def tpchQ19(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val clause =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .where(clause)
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  /** TPC-H Q4 shape (order-priority checking): a LEFT-SEMI join with a
    * RESIDUAL inequality — "orders having some lineitem shipped after the
    * order date". The semi form never duplicates an order however many
    * lineitems qualify (the EXISTS semantics a fan-out join + distinct
    * would pay a shuffle to repair), and the equi-key carries the join
    * while `l_shipdate > o_orderdate` rides along as a residual.
    */
  private def tpchQ4(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit(Q10Start).cast("timestamp") &&
        col("o_orderdate") < lit(Q10End).cast("timestamp"))
    o.join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q22 shape (global-customer-distribution): scalar-aggregate
    * correlation + anti join — customers above the positive-balance average
    * with NO orders. The average comparison cross-multiplies against the
    * exact decimal sum (`bal·cnt > Σbal`), never against a divided float;
    * the one-row aggregate broadcasts, and the no-orders predicate is a
    * left-anti join on the order keys.
    */
  private def tpchQ22(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val c = Tables.customer(s, d)
    val avgPos = c.where(col("c_acctbal") > 0.0)
      .agg(sum(col("c_acctbal").cast(dec)).as("_sum_bal"),
        count(lit(1)).as("_cnt"))
    c.crossJoin(broadcast(avgPos))
      .where(col("c_acctbal").cast(dec) * col("_cnt") > col("_sum_bal"))
      .join(Tables.orders(s, d).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast(dec)).cast("double").as("totacctbal"))
  }

  /** TPC-H Q7 shape (volume shipping): the two-dimension join graph —
    * supplier nation AND customer nation ride the same fact row through
    * two broadcast dim joins, with the symmetric nation-pair filter as a
    * residual. Anchors multi-dim star joins: both dims broadcast, one fact
    * shuffle (orders⋈lineitem), groups keyed on the two nation names +
    * ship year.
    */
  private def tpchQ7(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val n = Tables.nation(s, d)
    val sn = Tables.supplier(s, d)
      .join(broadcast(n.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cn = Tables.customer(s, d)
      .join(broadcast(n.select(col("n_nationkey").as("_cnk"),
        col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("_cnk"))
      .select(col("c_custkey"), col("cust_nation"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .join(cn, col("o_custkey") === col("c_custkey"))
      .where((col("supp_nation") === Q7NationA && col("cust_nation") === Q7NationB) ||
        (col("supp_nation") === Q7NationB && col("cust_nation") === Q7NationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec))
        .cast("double").as("revenue"))
  }

  /** TPC-H Q8 shape (national market share): conditional-aggregation ratio
    * — one pass computes both the per-year total and the focal nation's
    * slice (`sum(CASE WHEN …)`), share = one divide over the two exact
    * decimal sums. No second scan, no self-join — the
    * numerator-inside-the-aggregate pattern.
    */
  private def tpchQ8(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val asia = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).where(col("r_name") === Q5Region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val sn = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("_snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("_snk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec)
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(asia), col("c_nationkey") === col("n_nationkey"), "left_semi")
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(rev).cast("double").as("total_rev"),
        sum(when(col("supp_nation") === Q8Nation, rev)
          .otherwise(lit(0).cast(dec))).cast("double").as("nation_rev"),
        round(
          sum(when(col("supp_nation") === Q8Nation, rev)
            .otherwise(lit(0).cast(dec))).cast("double") /
            sum(rev).cast("double"), 6).as("mkt_share"))
  }

  /** TPC-H Q12 shape (shipping-class late analysis): ONE fact join feeding
    * conditional counts — the class split lives inside the aggregate as
    * CASE sums, never as two scans or a self-join. The synthetic lineitem
    * has no l_shipmode/commitdate, so the class column is `l_linestatus`
    * and the date slice is on `l_shipdate`; the priority split
    * (URGENT/HIGH vs rest) is the reference's.
    */
  private def tpchQ12(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit(Q10Start).cast("timestamp") &&
        col("l_shipdate") < lit(Q10End).cast("timestamp"))
      .select(col("l_orderkey"), col("l_linestatus"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin(Q12Hi: _*), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority").isin(Q12Hi: _*), 0L).otherwise(1L))
          .as("low_line_count"))

  /** TPC-H Q13 (customer order distribution): a FILTERED LEFT OUTER join +
    * two-level aggregation. The outer join keeps zero-order customers (the
    * point of Q13 — an inner join would silently drop the c_count=0 bucket)
    * and the order filter rides the join condition, not a post-join WHERE,
    * which would turn the outer join back into an inner one.
    */
  private def tpchQ13(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey"))
      .join(Tables.orders(s, d)
        .where(col("o_orderpriority") =!= "5-LOW")
        .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q14 (promo revenue share): the conditional-sum ratio over one
    * broadcast dim join — numerator and denominator from the SAME scan,
    * exact decimal sums divided once at the end.
    */
  private def tpchQ14(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec)
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit(Q10Start).cast("timestamp") &&
        col("l_shipdate") < lit(Q10End).cast("timestamp"))
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) *
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast(dec)))
          .cast("double") /
        sum(rev).cast("double"), 6).as("promo_revenue"))
  }

  /** TPC-H Q15 (top supplier "view"): per-supplier quarter revenue vs the
    * broadcast scalar MAX. The equality compares the exact decimal sums —
    * never divided or rounded doubles — so revenue ties all surface, the
    * reference view's semantics.
    */
  private def tpchQ15(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val rev0 = Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit(Q10Start).cast("timestamp") &&
        col("l_shipdate") < lit(Q10End).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec))
        .as("_rev"))
    rev0.crossJoin(broadcast(rev0.agg(max(col("_rev")).as("_mx"))))
      .where(col("_rev") === col("_mx"))
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("_rev").cast("double").as("total_revenue"))
  }

  /** TPC-H Q16 shape (part/supplier relationship): distinct-count + NOT IN.
    * No partsupp in the synthetic schema — the part↔supplier relation is
    * what lineitem OBSERVED (who actually shipped the part), and the
    * reference's complaint-supplier exclusion becomes the negative-balance
    * suppliers, as a left-anti join (the NOT IN without a null trap).
    */
  private def tpchQ16(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(Tables.supplier(s, d).where(col("s_acctbal") < 0)
        .select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(Tables.part(s, d)
        .where(col("p_size") <= Q16MaxSize)
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))

  /** TPC-H Q9 shape (product-type profit): a LIKE-pruned part dim driving a
    * multi-join profit aggregation by (nation, year). No partsupp, so unit
    * cost is the Q9CostFactor slice of p_retailprice — the amount keeps the
    * reference's `price·(1−disc) − cost·qty` form, summed as exact decimal.
    */
  private def tpchQ9(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val p = Tables.part(s, d).where(col("p_name").contains(Q9Noun))
      .select(col("p_partkey"), col("p_retailprice"))
    val sn = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    val amount = (col("l_extendedprice") * (lit(1) - col("l_discount")) -
      col("p_retailprice") * lit(Q9CostFactor) * col("l_quantity")).cast(dec)
    Tables.lineitem(s, d)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(amount).cast("double").as("sum_profit"))
  }

  /** TPC-H Q21 shape (suppliers who kept waiting): the EXISTS/NOT-EXISTS
    * DOUBLE self-join on the fact table — the hardest reference join shape.
    * "Late" is shipping more than Q21LateDays past the order date (no
    * commit/receipt dates in the synthetic schema). A late lineitem counts
    * when some OTHER supplier is on the order (left-semi) and NO other
    * supplier on it was late (left-anti) — both self-joins carry the
    * equi-key and keep the ≠-supplier test as a residual, so neither is a
    * cartesian.
    */
  private def tpchQ21(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val late = l
      .join(Tables.orders(s, d).where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .where(col("l_shipdate") >
        col("o_orderdate") + expr(s"INTERVAL $Q21LateDays DAYS"))
      .select(col("l_orderkey"), col("l_suppkey"))
    late
      .join(l.select(col("l_orderkey").as("_ok2"), col("l_suppkey").as("_sk2")),
        col("_ok2") === col("l_orderkey") && col("_sk2") =!= col("l_suppkey"),
        "left_semi")
      .join(late.select(col("l_orderkey").as("_ok3"), col("l_suppkey").as("_sk3")),
        col("_ok3") === col("l_orderkey") && col("_sk3") =!= col("l_suppkey"),
        "left_anti")
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }

  /** TPC-H Q2 shape (minimum-cost supplier): the correlated regional-MIN
    * subquery. No partsupp in the synthetic schema, so a supplier's cost
    * for a part is the MINIMUM discounted price it ever shipped the part
    * at (exact decimal — Q16's observed-relationship adaptation); the
    * winner per part is whoever matches the per-part regional minimum,
    * ties kept, the reference's semantics. Both sides of the correlated
    * equality are the same exact DECIMAL(18,4) min, so the match is
    * engine-stable. The per-part min table is part-dim-sized (not
    * fact-sized) — a keyed equi-join AQE can broadcast.
    */
  private def tpchQ2(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val sn = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .join(Tables.region(s, d).where(col("r_name") === Q2Region),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val p = Tables.part(s, d)
      .where(col("p_type") === Q2Type && col("p_size") === Q2Size)
      .select(col("p_partkey"))
    val cost = Tables.lineitem(s, d)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sn.select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"), col("l_suppkey"))
      .agg(min((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(dec)).as("_cost"))
    val minCost = cost.groupBy(col("p_partkey").as("_pk"))
      .agg(min(col("_cost")).as("_mn"))
    cost
      .join(minCost,
        col("p_partkey") === col("_pk") && col("_cost") === col("_mn"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("_cost").cast("double").as("supply_cost"))
  }

  /** TPC-H Q11 shape (important stock): HAVING against a scalar-subquery
    * fraction of the grand total. Value of a part for one nation's
    * suppliers = the exact decimal sum of discounted prices they shipped
    * (the observed-inventory adaptation); parts above `Q11Fraction` of the
    * nation total survive. The total is a one-row broadcast; the fraction
    * compare mirrors the oracle as `double > fraction · double` on the two
    * exact decimal sums.
    */
  private def tpchQ11(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val sup = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .where(col("n_name") === Q11Nation)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val value = Tables.lineitem(s, d)
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(dec)).as("_val"))
    value
      .crossJoin(broadcast(value.agg(sum(col("_val")).as("_tot"))))
      .where(col("_val").cast("double") >
        lit(Q11Fraction) * col("_tot").cast("double"))
      .select(col("l_partkey"), col("_val").cast("double").as("part_value"))
  }

  /** TPC-H Q20 shape (excess-stock suppliers): the nested-IN with a
    * correlated half-of-shipped-quantity threshold. Without availqty the
    * adapted predicate is DOMINANCE — a supplier qualifies when, for some
    * part in the name slice, its shipped quantity in the year window
    * exceeds half the part's total (`2·qty > total`, exact decimals — no
    * 0.5 multiply to disagree on). Output is the distinct qualifying
    * suppliers of the region, the reference's supplier-list shape.
    */
  private def tpchQ20(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val p = Tables.part(s, d).where(col("p_name").contains(Q20Noun))
      .select(col("p_partkey"))
    val qty = Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit(Q10Start).cast("timestamp") &&
        col("l_shipdate") < lit(Q20YearEnd).cast("timestamp"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast(dec)).as("_q"))
    val tot = qty.groupBy(col("p_partkey").as("_pk"))
      .agg(sum(col("_q")).as("_t"))
    val winners = qty
      .join(tot, col("p_partkey") === col("_pk") &&
        col("_q") * 2 > col("_t"))
      .select(col("l_suppkey")).distinct()
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .join(Tables.region(s, d).where(col("r_name") === Q2Region),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(winners, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
  }

  private def tpchQ1(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 4)
    ordered(Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order")))
  }

  // ---- oracle SQL ----

  private def knnOracle(
      metric: String,
      corpusFilter: String = "",
      withMeta: Boolean = false,
      antiDeletes: Boolean = false,
      k: Int = K,
      extraSel: String = "",
      extraOrder: String = ""): String = {
    val distE = Tables.distSql(metric, "q.qvec", "v.vec")
    val del =
      if (antiDeletes)
        s" AND id NOT IN (SELECT id FROM (${Tables.deletesSql}))"
      else ""
    val metaCol = if (withMeta) ", meta" else ""
    s"""WITH v0 AS (${Tables.lineitemVecSql}),
       |v AS (SELECT * FROM v0 WHERE TRUE $corpusFilter $del),
       |q AS (SELECT * FROM (${Tables.ordersQuerySql}) WHERE query_id < $QN),
       |dd AS (SELECT q.query_id, v.id, $distE AS dist $metaCol FROM q CROSS JOIN v),
       |r AS (SELECT query_id, id, dist $metaCol,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
       |      FROM dd)
       |SELECT query_id, rank, id, round(dist, 4) AS dist $metaCol $extraSel
       |FROM r WHERE rank <= $k
       |ORDER BY query_id, rank, id, dist $metaCol $extraOrder""".stripMargin
  }

  /** Shared CTE block for the SPANN pipeline oracles: corpus `v`, heads `h`,
    * queries `q`, postings `p` (top-Replicas heads per vector), candidate
    * heads `ch` (top-InternalK per query), two-stage results `sp`.
    *
    * `maxDistRatio`: mirror of `Spann.candidateHeads`' prune — candidates
    * with `hdist > ratio * best` (best = the per-query nearest head) are
    * dropped from `ch` before stage 2 (`SPANNIndex.cpp:217-236`), only for
    * a query whose best is > 0.
    */
  /** Shared DuckDB chain for q18/q117: the TP-tree kNN graph + recursive
    * RNG refine, ending at CTE `fin(src, acc_ids)` (each source's pruned
    * neighbor id list in rank order). Callers prepend `WITH RECURSIVE` and
    * append their own consuming CTEs/SELECT.
    */
  private def rngGraphCtes: String = {
      val dd = Tables.distSql("l2sq", "a.vec", "b.vec")
      s"""v AS MATERIALIZED (${Tables.lineitemVecSql}),
         |qv AS MATERIALIZED (SELECT id, list_transform(vec, x -> round(x::DOUBLE * 1000)::BIGINT) AS q FROM v),
         |w AS MATERIALIZED (SELECT t, p, d,
         |        ${graft.functions.Hash60.sql("t::VARCHAR || '_' || p::VARCHAR || '_' || d::VARCHAR")} % 2001 - 1000 AS wt
         |      FROM generate_series(0, 1) gt(t), generate_series(0, 7) gp(p), generate_series(0, 5) gd(d)),
         |dots AS MATERIALIZED (SELECT qv.id, w.t, w.p, sum(qv.q[w.d + 1] * w.wt) AS dot FROM qv, w GROUP BY 1, 2, 3),
         |leaves AS MATERIALIZED (SELECT id, t, CAST(sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS leaf
         |           FROM dots GROUP BY id, t),
         |lsrc AS MATERIALIZED (SELECT t, leaf, id AS src FROM leaves WHERE id <= 2000),
         |pairs AS MATERIALIZED (SELECT DISTINCT s.src, r.id AS dst, $dd AS d
         |          FROM lsrc s JOIN leaves r ON s.t = r.t AND s.leaf = r.leaf AND s.src <> r.id
         |          JOIN v a ON a.id = s.src JOIN v b ON b.id = r.id),
         |ranked AS MATERIALIZED (SELECT * FROM (
         |    SELECT src, dst, d,
         |           CAST(row_number() OVER (PARTITION BY src ORDER BY d, dst) AS INT) AS rn
         |    FROM pairs) WHERE rn <= 8),
         |cv AS MATERIALIZED (SELECT r.src, r.rn, r.dst, r.d, b.vec AS dvec
         |       FROM ranked r JOIN v b ON b.id = r.dst),
         |${rngPruneRecSql("src", "dst", "dvec", "d", 32)}""".stripMargin
    }

  private def spannCtes(
      maxDistRatio: Option[Double] = None,
      internalK: Int = InternalK,
      wideK: Int = 0,
      closeRatio: Double = 1.0,
      corpusFilter: Option[String] = None): String = {
    val pDist = Tables.distSql("l2sq", "v.vec", "h.head_vec")
    val hDist = Tables.distSql("l2sq", "q.qvec", "h.head_vec")
    val sDist = Tables.distSql("l2sq", "ch.qvec", "p.vec")
    val ratioPrune =
      maxDistRatio.map(r => s" AND (best <= 0 OR hdist <= $r * best)").getOrElse("")
    // mirror of candidateHeads' adaptive widening: top-internalK always,
    // ranks up to wideK when within closeRatio of the per-query best
    val rankCut =
      if (wideK > internalK)
        s"(rank <= $internalK OR (rank <= $wideK AND hdist <= $closeRatio * best))"
      else s"rank <= $internalK"
    // the posting-assignment top-k runs as PChunks id-disjoint windows
    // (each MATERIALIZED so they execute one at a time), with `vec`
    // DROPPED from the window input and joined back on the unique id
    // afterwards: one monolithic window over |corpus|×|heads| rows
    // carrying a 64-float list was a ~500 GB DuckDB spill at sf0.1 —
    // id-chunking leaves every id's partition whole, so row_number picks
    // are bit-identical and the replay becomes sf0.1-feasible
    val pChunks = (0 until PostingChunks).map { c =>
      s"""pc$c AS MATERIALIZED (
         |  SELECT id, head_id, dist FROM (
         |    SELECT id, head_id, dist,
         |           row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS rn
         |    FROM (SELECT v.id, h.head_id, $pDist AS dist
         |          FROM v CROSS JOIN h WHERE v.id % $PostingChunks = $c))
         |  WHERE rn <= $Replicas)""".stripMargin
    }.mkString(",\n")
    val pUnion = (0 until PostingChunks)
      .map(c => s"SELECT * FROM pc$c").mkString(" UNION ALL ")
    s"""v AS MATERIALIZED (${Tables.lineitemVecSql}),
       |h AS MATERIALIZED (SELECT id AS head_id, vec AS head_vec FROM v WHERE id % $HeadNth = 0),
       |q AS MATERIALIZED (SELECT * FROM (${Tables.ordersQuerySql}) WHERE query_id < $QN),
       |$pChunks,
       |p AS MATERIALIZED (SELECT pc.id, v.vec, pc.head_id, pc.dist
       |      FROM ($pUnion) pc JOIN v USING (id)),
       |chd AS (SELECT q.query_id, q.qvec, h.head_id, $hDist AS hdist FROM q CROSS JOIN h),
       |ch AS MATERIALIZED (SELECT * FROM (
       |    SELECT query_id, qvec, head_id, hdist,
       |           CAST(row_number() OVER (PARTITION BY query_id ORDER BY hdist, head_id) AS INT) AS rank,
       |           min(hdist) OVER (PARTITION BY query_id) AS best
       |    FROM chd) WHERE $rankCut$ratioPrune),
       |sphits AS (SELECT ch.query_id, p.id, min($sDist) AS dist
       |           FROM ch JOIN p ON ch.head_id = p.head_id
       |           ${corpusFilter.map(f => s"WHERE p.id IN (SELECT id FROM v WHERE $f)").getOrElse("")}
       |           GROUP BY ch.query_id, p.id),
       |sp AS MATERIALIZED (SELECT * FROM (
       |    SELECT query_id, id, dist,
       |           CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
       |    FROM sphits) WHERE rank <= $K)""".stripMargin
  }

  /** Shared CTE chain for the BPE oracles (q93/q94): vocabulary counts `v`,
    * initial per-char segmentations `s0`, then per round r: adjacent-pair
    * counts `pr{r}`, the deterministic top pair `t{r}` (pc DESC, x, y), and
    * the greedily re-merged segmentations `s{r}` — the left fold's
    * trailing-`x` merge is exactly `acc || y`, mirroring the Spark
    * `aggregate` expression in [[TextAnalysis.bpeTrain]].
    */
  private def bpeCtes(rounds: Int): String = {
    val toks = TextAnalysis.Sql.toks("text")
    val roundCtes = (1 to rounds).map { r =>
      s"""pr$r AS (SELECT sy[i] AS x, sy[i + 1] AS y, sum(cnt) AS pc
         |        FROM (SELECT cnt, sy, unnest(range(1, len(sy))) AS i
         |              FROM (SELECT cnt, string_split(seg, ' ') AS sy FROM s${r - 1}))
         |        GROUP BY 1, 2),
         |t$r AS (SELECT x, y, pc FROM pr$r ORDER BY pc DESC, x, y LIMIT 1),
         |s$r AS MATERIALIZED (SELECT token, cnt,
         |        list_reduce(string_split(seg, ' '), (acc, s) ->
         |          CASE WHEN (acc = t.x OR ends_with(acc, ' ' || t.x)) AND s = t.y
         |               THEN acc || t.y ELSE acc || ' ' || s END) AS seg
         |       FROM s${r - 1} CROSS JOIN t$r t)""".stripMargin
    }.mkString(",\n")
    s"""vtok AS (SELECT unnest($toks) AS token FROM documents),
       |v AS (SELECT token, count(*) AS cnt FROM vtok GROUP BY token),
       |s0 AS (SELECT token, cnt,
       |         array_to_string(regexp_extract_all(token, '[a-z0-9]'), ' ') AS seg
       |       FROM v),
       |$roundCtes""".stripMargin
  }

  /** Queries whose semantics are NOT ANSI-SQL-expressible (the driver
    * contract's documented carve-out: "Omit for non-SQL-expressible ops →
    * driver records a weaker rows-only check"). Every key here MUST exist
    * in [[queries]] and MUST NOT exist in [[oracleSql]]; VerifySpec pins
    * both directions, and `tools/compare_oracle.py` records an explicit
    * `rows_only` verdict (output present, rows > 0, schema dumped) instead
    * of a hash compare. Keep this set minimal — a query belongs here only
    * when the blocking step is genuinely outside SQL (eigendecomposition),
    * not merely awkward. Currently EMPTY: the one former member (q217)
    * graduated to a [[oracleSqlDynamic]] full oracle — its fitted basis is
    * data-dependent but, once fitted, a pure set of literals.
    */
  def rowsOnly: Set[String] = Set.empty

  /** Queries whose oracle can only be authored once a model is fitted on
    * the ACTUAL data — the fit step is outside SQL (eigendecomposition),
    * but the fitted model is driver-side literals, so Verify inlines them
    * and the downstream arithmetic is fully oracle-checked. Keys are
    * disjoint from [[oracleSql]] and [[rowsOnly]]; Verify merges
    * [[oracleSqlDynamic]] into oracle_sql.json so the driver's DuckDB
    * replay sees a complete map.
    */
  def dynamicOracleNames: Set[String] =
    Set("q217_pca_project", "q297_pca_whiten", "q301_word_vectors",
      "q303_isotonic", "q305_word_synonyms")

  /** Shortest round-trip double literal: DuckDB's (correctly-rounded)
    * strtod parse of `Double.toString`'s shortest repr recovers the EXACT
    * bit pattern Spark's `lit()` carries, so mirrored arithmetic is
    * bit-identical.
    */
  private def dlit(x: Double): String = {
    val str = java.lang.Double.toString(x)
    if (str.exists(c => c == 'E' || c == '.')) str else str + ".0"
  }

  /** See [[dynamicOracleNames]]. q217: fit the (cached — identical object
    * to the query side's) PCA model, inline mean/components as double
    * literals, and mirror [[graft.functions.PCA.project]]'s exact
    * arithmetic — left-to-right `(x_i − μ_i)·c_i` accumulation per
    * component, `round(·, 4)` terminal — as one UNION ALL branch per
    * output dimension.
    */
  /** The q301/q305 shared dynamic-oracle chain: the PPMI co-occurrence
    * replay in SQL joined to the fitted scaled basis as VALUES literals,
    * ending in the per-(token, dim) embedding CTE `emb`.
    */
  private def wvChainSql(m: TextAnalysis.WvModel): String = {
    val toks = TextAnalysis.Sql.toks("text")
    val basisVals = m.toks.zipWithIndex.flatMap { case (t, c) =>
      // fitted vocabulary tokens are [a-z0-9]+ by TextAnalysis.tokens'
      // construction; assert at emission so a future tokenizer change
      // admitting quotes/backslashes fails loudly here instead of silently
      // corrupting (or injecting into) the interpolated oracle SQL
      require(t.matches("[a-z0-9]+"),
        s"wvChainSql: vocabulary token '$t' not SQL-literal-safe")
      m.scaled.zipWithIndex.map { case (u, j) =>
        s"('$t', $j, CAST(${dlit(u(c))} AS DOUBLE))" }
    }.mkString(",\n  ")
    s"""t AS (SELECT doc_id, $toks AS toks FROM documents),
       |bg AS MATERIALIZED (SELECT toks[i] AS w1, toks[i + 1] AS w2
       |      FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t)),
       |vc AS MATERIALIZED (SELECT token FROM (
       |    SELECT unnest($toks) AS token FROM documents)
       |  GROUP BY token ORDER BY count(*) DESC, token LIMIT $WvVocab),
       |pr AS (SELECT w1, w2 FROM bg UNION ALL SELECT w2, w1 FROM bg),
       |cooc AS MATERIALIZED (
       |  SELECT w1, w2, count(*) AS c FROM pr
       |  WHERE w1 IN (SELECT token FROM vc) AND w2 IN (SELECT token FROM vc)
       |  GROUP BY 1, 2),
       |rm AS MATERIALIZED (SELECT w1, sum(c)::BIGINT AS nw FROM cooc
       |  GROUP BY 1),
       |nn AS (SELECT sum(c)::BIGINT AS nn FROM cooc),
       |pp AS (SELECT cooc.w1, cooc.w2,
       |        greatest(ln(cooc.c::DOUBLE * nn.nn / (a.nw::DOUBLE * b.nw)),
       |          0.0) AS p
       |      FROM cooc JOIN rm a ON a.w1 = cooc.w1
       |      JOIN rm b ON b.w1 = cooc.w2 CROSS JOIN nn),
       |basis(ct, dim, u) AS (VALUES $basisVals),
       |emb AS MATERIALIZED (
       |  SELECT pp.w1 AS token, basis.dim,
       |    round(sum(round(pp.p * basis.u, 8)::DECIMAL(38,8))::DOUBLE, 4)
       |      AS value
       |  FROM pp JOIN basis ON basis.ct = pp.w2
       |  GROUP BY 1, 2)""".stripMargin
  }

  def oracleSqlDynamic(s: SparkSession, d: String): Map[String, String] = Map(
    "q217_pca_project" -> {
      val m = pcaModel(s, d)
      val branches = m.components.zipWithIndex.map { case (c, j) =>
        val expr = c.indices.map { i =>
          s"(vec[${i + 1}]::DOUBLE - ${dlit(m.mean(i))}) * ${dlit(c(i))}"
        }.mkString(" + ")
        s"SELECT vec_id, CAST($j AS INT) AS dim, round($expr, 4) AS value FROM e"
      }.mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding AS vec FROM embeddings)
         |$branches
         |ORDER BY vec_id, dim, value""".stripMargin
    },
    // q297: q217's fitted chain with each branch scaled by the literal
    // whitening factor 1/sqrt(lambda_j + eps)
    "q297_pca_whiten" -> {
      val m = pcaModel(s, d)
      val branches = m.components.zipWithIndex.map { case (c, j) =>
        val expr = c.indices.map { i =>
          s"(vec[${i + 1}]::DOUBLE - ${dlit(m.mean(i))}) * ${dlit(c(i))}"
        }.mkString(" + ")
        val w = 1.0 / math.sqrt(m.varExplained(j) + PcaWhitenEps)
        s"SELECT vec_id, CAST($j AS INT) AS dim, " +
          s"round(($expr) * ${dlit(w)}, 4) AS value FROM e"
      }.mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding AS vec FROM embeddings)
         |$branches
         |ORDER BY vec_id, dim, value""".stripMargin
    },
    // q303: the (score, keep) histogram replayed in SQL (q97's rule-gate
    // columns + the 1e-2-unit score) against the PAV blocks as VALUES —
    // the fit is outside SQL, the block stats and the rate divide are
    // fully checked
    "q303_isotonic" -> {
      val blocks = isoModel(s, d)
      val vals = blocks
        .map(b => s"(${b.lo}, ${b.hi}, ${b.n}, ${b.pos})").mkString(", ")
      val qre = TextAnalysis.Sql.qualityRawExpr
      val toks = TextAnalysis.Sql.toks("text")
      val stop = TextAnalysis.Sql.hitCount("toks", TextAnalysis.Stopwords.head._2)
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents
         |      WHERE text IS NOT NULL),
         |m AS (SELECT doc_id,
         |        len(toks)::BIGINT AS n_tokens,
         |        round(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::DOUBLE
         |              / greatest(len(toks), 1)::DOUBLE, 4) AS mean_word_len,
         |        round(len(list_filter(toks, x -> regexp_full_match(x, '[a-z]+')))::DOUBLE
         |              / greatest(len(toks), 1)::DOUBLE, 4) AS alpha_ratio,
         |        $stop::BIGINT AS stop_hits,
         |        CAST(round(($qre) * 100) AS BIGINT) AS score
         |      FROM t),
         |sc AS (SELECT score,
         |        ((n_tokens >= 10 AND n_tokens <= 10000)
         |         AND (mean_word_len >= 2.0 AND mean_word_len <= 12.0)
         |         AND (alpha_ratio >= 0.7) AND (stop_hits >= 2)) AS keep
         |      FROM m),
         |hh AS (SELECT score, count(*) AS n,
         |        sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_pos
         |      FROM sc GROUP BY 1),
         |blocks(lo, hi, bn, bp) AS (VALUES $vals)
         |SELECT hh.score, hh.n, hh.n_pos,
         |  round(blocks.bp::DOUBLE / blocks.bn, 6) AS rate
         |FROM hh JOIN blocks ON hh.score >= blocks.lo AND hh.score <= blocks.hi
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    // q301: the PPMI chain replayed in SQL (co-occurrence, margins, the
    // greatest(ln ·, 0) expression) against the fitted scaled basis
    // u_j(c)/sqrt(lambda_j) inlined as VALUES literals (shared chain)
    "q301_word_vectors" ->
      s"""WITH ${wvChainSql(wvModel(s, d))}
         |SELECT token, dim, value FROM emb
         |ORDER BY 1, 2, 3""".stripMargin,
    // q305: the q301 chain assembled to per-token vectors, then the exact
    // cosine self-kNN over the bounded vocabulary (pair space ≤ v² rows
    // by construction)
    "q305_word_synonyms" -> {
      val cd = Tables.distSql("cos", "a.vec", "b.vec")
      s"""WITH ${wvChainSql(wvModel(s, d))},
         |wv AS (SELECT token, list(value ORDER BY dim) AS vec
         |       FROM emb GROUP BY token),
         |p AS (SELECT a.token, b.token AS neighbor, $cd AS dist
         |      FROM wv a JOIN wv b ON a.token <> b.token),
         |r AS (SELECT token, neighbor, dist,
         |        row_number() OVER (PARTITION BY token
         |          ORDER BY dist, neighbor) AS rank FROM p)
         |SELECT token, rank, neighbor, round(dist, 4) AS dist
         |FROM r WHERE rank <= $WvSynK
         |ORDER BY 1, 2, 3, 4""".stripMargin
    })

  /** The shared survival-staging CTE chain of the q265/q304 oracles —
    * bucketed durations, the (t, d, c) histogram, and at-risk counts `r`
    * (mirrors `Events.survivalRisk` stage for stage).
    */
  private lazy val kmRiskCtes: String =
    s"""hz AS (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) AS h FROM events),
       |su AS (SELECT user_id, min(ts) AS su FROM events
       |       WHERE event_type = 'signup' GROUP BY 1),
       |cv AS (SELECT e.user_id,
       |        min(CAST(floor(epoch(e.ts)) AS BIGINT)
       |            - CAST(floor(epoch(su)) AS BIGINT)) AS dobs
       |      FROM events e JOIN su USING (user_id)
       |      WHERE e.event_type = 'purchase' AND e.ts >= su GROUP BY 1),
       |dur AS (SELECT
       |        (coalesce(cv.dobs,
       |           hz.h - CAST(floor(epoch(su.su)) AS BIGINT))
       |         // $KmResolutionSec) * $KmResolutionSec AS t,
       |        cv.dobs IS NOT NULL AS obs
       |      FROM su LEFT JOIN cv USING (user_id) CROSS JOIN hz),
       |h AS (SELECT t, sum(CASE WHEN obs THEN 1 ELSE 0 END)::BIGINT AS d,
       |        sum(CASE WHEN obs THEN 0 ELSE 1 END)::BIGINT AS c
       |      FROM dur GROUP BY 1),
       |n0 AS (SELECT sum(d + c)::BIGINT AS n0 FROM h),
       |r AS (SELECT a.t, a.d, a.c,
       |        n0.n0 - coalesce(sum(b.d + b.c), 0)::BIGINT AS n_risk
       |      FROM h a LEFT JOIN h b ON b.t < a.t CROSS JOIN n0
       |      GROUP BY a.t, a.d, a.c, n0.n0)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_knn_l2" -> knnOracle("l2sq"),
    "q02_knn_cos" -> knnOracle("cos"),
    "q03_knn_ip" -> knnOracle("ip"),
    "q04_knn_filtered" -> knnOracle("l2sq", corpusFilter = "AND meta <> 'AF'"),
    "q05_knn_deletes" -> knnOracle("l2sq", antiDeletes = true),
    "q06_knn_meta" -> knnOracle("l2sq", withMeta = true),
    "q07_spann_postings" ->
      s"""WITH ${spannCtes()}
         |SELECT head_id, id, round(dist, 4) AS dist FROM p
         |ORDER BY head_id, id, dist""".stripMargin,
    "q08_spann_search" ->
      s"""WITH ${spannCtes(wideK = WideK, closeRatio = CloseRatio)}
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM sp
         |ORDER BY query_id, rank, id, dist""".stripMargin,
    "q09_search_tree" ->
      s"""WITH ${spannCtes()}
         |SELECT query_id, rank, head_id, round(hdist, 4) AS dist FROM ch
         |ORDER BY query_id, rank, head_id, dist""".stripMargin,
    "q10_multi_index" -> {
      val dA = Tables.distSql("l2sq", "vec_a", "[5.0, 12.0, 18.0]")
      val dB = Tables.distSql("l2sq", "vec_b", "[40.0, 8.0, 24.0]")
      s"""WITH cv AS (${Tables.customerVecSql}),
         |sc AS (SELECT id, 0.7::DOUBLE * ($dA) + 0.3::DOUBLE * ($dB) AS score FROM cv),
         |r AS (SELECT id, score, CAST(row_number() OVER (ORDER BY score, id) AS INT) AS rank FROM sc)
         |SELECT rank, id, round(score, 4) AS score FROM r WHERE rank <= $K
         |ORDER BY rank, id, score""".stripMargin
    },
    "q11_truth_recall" -> {
      val exDist = Tables.distSql("l2sq", "q.qvec", "v.vec")
      s"""WITH ${spannCtes(wideK = WideK, closeRatio = CloseRatio)},
         |exd AS (SELECT q.query_id, v.id, $exDist AS dist FROM q CROSS JOIN v),
         |ex AS (SELECT * FROM (
         |    SELECT query_id, id, dist,
         |           row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS rank
         |    FROM exd) WHERE rank <= $K),
         |t AS (SELECT query_id, id, round(dist, 4) AS dist FROM ex),
         |r AS (SELECT query_id, id, round(dist, 4) AS dist FROM sp),
         |hits AS (SELECT t.query_id, t.id,
         |           max(CASE WHEN r.id IS NOT NULL THEN 1 ELSE 0 END) AS hit
         |         FROM t LEFT JOIN r
         |           ON t.query_id = r.query_id
         |          AND (r.id = t.id OR abs(r.dist - t.dist) < 1e-6)
         |         GROUP BY t.query_id, t.id),
         |pq AS (SELECT query_id, CAST(sum(hit) AS DOUBLE) / $K AS recall FROM hits GROUP BY query_id)
         |SELECT round(avg(recall), 4) AS avg_recall, round(min(recall), 4) AS min_recall,
         |       round(max(recall), 4) AS max_recall, count(*) AS n_queries
         |FROM pq""".stripMargin
    },
    "q12_delete_by_vector" -> {
      val dd = Tables.distSql("l2sq", "t.qvec", "v.vec")
      s"""WITH v AS (${Tables.lineitemVecSql}),
         |t AS (SELECT id AS query_id, vec AS qvec FROM v WHERE id <= 5)
         |SELECT DISTINCT v.id FROM v CROSS JOIN t WHERE $dd < 1e-6
         |ORDER BY id""".stripMargin
    },
    "q13_knn_window" -> knnOracle("l2sq"),
    "q14_iter_relaxed" -> knnOracle("l2sq", k = 20,
      extraSel = ", rank > 15 AS relaxed_mono", extraOrder = ", relaxed_mono"),
    "q15_spann_rng_postings" -> {
      // ApproximateRNG posting assignment (`VectorIndex.cpp:930-960`):
      // top-16 candidate heads per vector, then the sequential RNG prune
      // rendered as a DuckDB recursive CTE (rank-by-rank scan, cap 4).
      val pDist = Tables.distSql("l2sq", "v.vec", "h.head_vec")
      s"""WITH RECURSIVE v AS (${Tables.lineitemVecSql}),
         |h AS (SELECT id AS head_id, vec AS head_vec FROM v WHERE id % $HeadNth = 0),
         |pd AS (SELECT v.id, h.head_id, h.head_vec, $pDist AS dist FROM v CROSS JOIN h),
         |cv AS MATERIALIZED (SELECT * FROM (
         |    SELECT id, head_id, head_vec, dist,
         |           CAST(row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS INT) AS rn
         |    FROM pd) WHERE rn <= ${Replicas * 4}),
         |${rngPruneRecSql("id", "head_id", "head_vec", "dist", Replicas)}
         |SELECT unnest(acc_ids) AS head_id, id
         |FROM fin
         |ORDER BY head_id, id""".stripMargin
    },
    "q16_kmeans_assign" -> {
      val dd = Tables.distSql("l2sq", "v.vec", "c.center")
      s"""WITH v AS (${Tables.lineitemVecSql}),
         |c AS (SELECT id - 1 AS cluster_id, vec AS center FROM v WHERE id <= 8),
         |d AS (SELECT v.id, c.cluster_id, $dd AS dist FROM v CROSS JOIN c),
         |a AS (SELECT id, cluster_id, dist,
         |        row_number() OVER (PARTITION BY id ORDER BY dist, cluster_id) AS rn FROM d)
         |SELECT id, cluster_id, round(dist, 4) AS dist FROM a WHERE rn = 1
         |ORDER BY id, cluster_id, dist""".stripMargin
    },
    "q17_knn_graph" -> {
      val dd = Tables.distSql("l2sq", "a.vec", "b.vec")
      s"""WITH v AS (${Tables.lineitemVecSql}),
         |qv AS (SELECT id, list_transform(vec, x -> round(x::DOUBLE * 1000)::BIGINT) AS q FROM v),
         |w AS (SELECT t, p, d,
         |        ${graft.functions.Hash60.sql("t::VARCHAR || '_' || p::VARCHAR || '_' || d::VARCHAR")} % 2001 - 1000 AS wt
         |      FROM generate_series(0, 1) gt(t), generate_series(0, 7) gp(p), generate_series(0, 5) gd(d)),
         |dots AS (SELECT qv.id, w.t, w.p, sum(qv.q[w.d + 1] * w.wt) AS dot FROM qv, w GROUP BY 1, 2, 3),
         |leaves AS (SELECT id, t, CAST(sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS leaf
         |           FROM dots GROUP BY id, t),
         |lsrc AS (SELECT t, leaf, id AS src FROM leaves WHERE id <= 2000),
         |pairs AS (SELECT DISTINCT s.src, r.id AS dst, $dd AS d
         |          FROM lsrc s JOIN leaves r ON s.t = r.t AND s.leaf = r.leaf AND s.src <> r.id
         |          JOIN v a ON a.id = s.src JOIN v b ON b.id = r.id),
         |ranked AS (SELECT src, dst, d,
         |             CAST(row_number() OVER (PARTITION BY src ORDER BY d, dst) AS INT) AS rank
         |           FROM pairs)
         |SELECT src, rank, dst, round(d, 4) AS dist FROM ranked WHERE rank <= 8
         |ORDER BY src, rank, dst, dist""".stripMargin
    },
    "q18_rng_graph" ->
      s"""WITH RECURSIVE $rngGraphCtes
         |SELECT src, CAST(unnest(range(1, len(acc_ids) + 1)) AS INT) AS rank,
         |       unnest(acc_ids) AS dst
         |FROM fin
         |ORDER BY src, rank, dst""".stripMargin,
    // q18's RNG-refined graph feeding the degree-aware integer PageRank
    // (k<=0 path: divisor = each source's actual out-degree) — the
    // corpus-scale composition oracle-gated end-to-end
    "q117_graph_pagerank" -> {
      val step = (i: Int) =>
        s"""i$i AS MATERIALIZED (SELECT eg.dst AS id, sum((p.pr * 85) // (100 * dg.deg)) AS m
           |      FROM eg JOIN deg dg ON dg.src = eg.src
           |      JOIN p${i - 1} p ON p.id = eg.src GROUP BY eg.dst),
           |p$i AS MATERIALIZED (SELECT nd.id, 15000000000000 // (100 * nn.n) + coalesce(i$i.m, 0) AS pr
           |      FROM nd CROSS JOIN nn LEFT JOIN i$i ON i$i.id = nd.id)""".stripMargin
      s"""WITH RECURSIVE $rngGraphCtes,
         |eg AS MATERIALIZED (SELECT src, unnest(acc_ids) AS dst FROM fin),
         |nd AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM eg UNION ALL SELECT dst FROM eg)),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM eg GROUP BY src),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM nd),
         |p0 AS MATERIALIZED (SELECT id, 1000000000000 // nn.n AS pr FROM nd CROSS JOIN nn),
         |${step(1)},
         |${step(2)},
         |${step(3)}
         |SELECT id, pr::BIGINT AS pr FROM p3 ORDER BY id, pr""".stripMargin
    },
    "q19_mrr" -> {
      val exDist = Tables.distSql("l2sq", "q.qvec", "v.vec")
      s"""WITH ${spannCtes(wideK = WideK, closeRatio = CloseRatio)},
         |exd AS (SELECT q.query_id, v.id, $exDist AS dist FROM q CROSS JOIN v),
         |ex AS (SELECT * FROM (
         |    SELECT query_id, id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS rank
         |    FROM exd) WHERE rank <= $K),
         |fh AS (SELECT r.query_id, min(r.rank) AS first_hit
         |       FROM sp r JOIN ex t ON r.query_id = t.query_id AND r.id = t.id
         |       GROUP BY r.query_id),
         |qq AS (SELECT DISTINCT query_id FROM sp)
         |SELECT qq.query_id, round(coalesce(1.0::DOUBLE / fh.first_hit, 0.0), 4) AS mrr
         |FROM qq LEFT JOIN fh ON qq.query_id = fh.query_id
         |ORDER BY 1, 2""".stripMargin
    },
    "q20_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q30_text_stats" ->
      s"""SELECT ${TextAnalysis.Sql.statsSelect}
         |FROM documents
         |ORDER BY doc_id, n_tokens, n_bpe_tokens, uniq_ratio, stop_ratio, punct_ratio, quality""".stripMargin,
    "q31_lang_id" ->
      s"""SELECT ${TextAnalysis.Sql.langIdSelect}
         |FROM documents
         |ORDER BY doc_id, pred_lang""".stripMargin,
    "q32_dedup_exact" ->
      s"""WITH h AS (SELECT doc_id, ${graft.functions.Hash60.sql("text")} AS h FROM documents),
         |c AS (SELECT h, min(doc_id) AS canon_id FROM h GROUP BY h)
         |SELECT h.doc_id, c.canon_id FROM h JOIN c ON h.h = c.h
         |ORDER BY doc_id, canon_id""".stripMargin,
    "q33_dedup_minhash" ->
      s"""WITH $minhashCtes
         |SELECT j.a, j.b, j.jaccard FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
         |WHERE j.jaccard >= 0.3
         |ORDER BY 1, 2, 3""".stripMargin,
    // candidate-first: exact Jaccard evaluated over the LSH candidate pairs
    "q34_dedup_jaccard" ->
      s"""WITH $minhashCtes
         |SELECT j.a, j.b, j.jaccard FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
         |WHERE j.jaccard >= 0.3
         |ORDER BY 1, 2, 3""".stripMargin,
    "q35_dedup_simhash" -> {
      // 64-bit mirror of Dedup.simhash64: bits 0-31 from hash60(token),
      // 32-63 from hash60(token || '#hi'); majority vote in-row per bit.
      // Bit 63's addend is Long.MinValue — spelled (-MAX-1) because the bare
      // literal would overflow DuckDB's BIGINT parser into HUGEINT
      def term(b: Int): String = {
        val (arr, bb) = if (b < 32) ("hlo", b) else ("hhi", b - 32)
        val v = if (b == 63) "(-9223372036854775807 - 1)" else (1L << b).toString
        s"CASE WHEN 2 * len(list_filter($arr, h -> (h >> $bb) & 1 = 1)) > len($arr) THEN $v ELSE 0 END"
      }
      val code = (0 until 64).map(term).mkString(" + ")
      s"""WITH t AS (SELECT doc_id, ${TextAnalysis.Sql.toks("text")} AS toks FROM documents),
         |h AS (SELECT doc_id,
         |        list_transform(toks, tk -> ${graft.functions.Hash60.sql("tk")}) AS hlo,
         |        list_transform(toks, tk -> ${graft.functions.Hash60.sql("tk || '#hi'")}) AS hhi
         |      FROM t WHERE len(toks) > 0)
         |SELECT doc_id, CAST($code AS BIGINT) AS simhash FROM h
         |ORDER BY doc_id, simhash""".stripMargin
    },
    // mirrors lshNearDup(dims=64, planes=8, rowsPerBand=2): the shared
    // banding chain, candidate pairs from the band equi-join, exact cosine
    "q36_dedup_embedding" -> {
      val cd = Tables.distSql("cos", "a.vec", "b.vec")
      s"""WITH $lshBandCtes,
         |cand AS (SELECT DISTINCT l.id AS a, r.id AS b FROM bands l
         |         JOIN bands r ON l.band = r.band AND l.bv = r.bv AND l.id < r.id)
         |SELECT c.a, c.b, round($cd, 4) AS cos_dist
         |FROM cand c JOIN e a ON a.id = c.a JOIN e b ON b.id = c.b
         |WHERE $cd < 0.6
         |ORDER BY a, b, cos_dist""".stripMargin
    },
    "q37_ann_bruteforce" -> {
      val cd = Tables.distSql("cos", "q.qvec", "v.vec")
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         |d AS (SELECT q.query_id, v.id, $cd AS dist FROM q CROSS JOIN v),
         |r AS (SELECT query_id, id, dist,
         |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank FROM d)
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM r WHERE rank <= $K
         |ORDER BY query_id, rank, id, dist""".stripMargin
    },
    "q225_funnel_summary" -> {
      val win = s"INTERVAL $FunnelWithinMin MINUTE"
      s"""WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
         |            WHERE event_type = '${FunnelStages(0)}' GROUP BY user_id),
         |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
         |       JOIN s1 ON e.user_id = s1.user_id
         |       WHERE e.event_type = '${FunnelStages(1)}' AND e.ts > s1.t
         |         AND e.ts <= s1.t + $win
         |       GROUP BY e.user_id),
         |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
         |       JOIN s2 ON e.user_id = s2.user_id
         |       WHERE e.event_type = '${FunnelStages(2)}' AND e.ts > s2.t
         |         AND e.ts <= s2.t + $win
         |       GROUP BY e.user_id),
         |f AS (SELECT user_id, 1 AS stage, '${FunnelStages(0)}' AS stage_name FROM s1
         |      UNION ALL SELECT user_id, 2, '${FunnelStages(1)}' FROM s2
         |      UNION ALL SELECT user_id, 3, '${FunnelStages(2)}' FROM s3),
         |c AS (SELECT stage, stage_name, count(*) AS n_users FROM f GROUP BY 1, 2),
         |p AS (SELECT stage + 1 AS stage, n_users AS prev FROM c),
         |o AS (SELECT n_users AS first FROM c WHERE stage = 1)
         |SELECT c.stage, c.stage_name, c.n_users,
         |  c.n_users::DOUBLE / p.prev::DOUBLE AS conv_prev,
         |  c.n_users::DOUBLE / o.first::DOUBLE AS conv_first
         |FROM c LEFT JOIN p ON c.stage = p.stage CROSS JOIN o
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin
    },
    "q226_dedup_report" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT j.a, j.b FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
         |          WHERE j.jaccard >= 0.3),
         |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |walk(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.id
         |),
         |canon AS (SELECT id, min(lbl) AS canon_id FROM walk GROUP BY id),
         |sz AS (SELECT canon_id, count(*) AS cluster_size FROM canon GROUP BY 1)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  cluster_size * count(*) AS n_docs
         |FROM sz GROUP BY 1
         |ORDER BY 1, 2, 3""".stripMargin,
    "q224_sql_api" -> {
      val ed = Tables.distSql("l2sq", "q.vec", "v.vec")
      s"""WITH e AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |d AS (SELECT q.id AS query_id, v.id AS id, $ed AS dist
         |      FROM e q CROSS JOIN e v WHERE q.id < 10),
         |r AS (SELECT query_id, id, dist,
         |        CAST(row_number() OVER (PARTITION BY query_id
         |          ORDER BY dist, id) AS INT) AS rank FROM d)
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM r
         |WHERE rank <= $K
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    // q60's group chain + per-doc quality; winner = row_number 1 under
    // (quality DESC, doc_id) per canon group — quality is the same
    // 4dp-rounded expression both engines hash-match on q30
    "q227_dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT j.a, j.b FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
         |          WHERE j.jaccard >= 0.3),
         |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |walk(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.id
         |),
         |grp AS (SELECT id AS doc_id, min(lbl) AS canon_id FROM walk GROUP BY id),
         |qual AS (SELECT doc_id, ${TextAnalysis.Sql.qualityRawExpr} AS q FROM documents),
         |win AS (SELECT grp.doc_id,
         |          row_number() OVER (PARTITION BY grp.canon_id
         |            ORDER BY qual.q DESC, grp.doc_id) AS rn
         |        FROM grp JOIN qual USING (doc_id))
         |SELECT d.doc_id, d.source, d.n_chars
         |FROM documents d JOIN win ON win.doc_id = d.doc_id AND win.rn = 1
         |ORDER BY 1, 2, 3""".stripMargin,
    "q228_posting_audit" ->
      s"""WITH ${spannCtes()},
         |lens AS (SELECT head_id, count(*) AS posting_len FROM p GROUP BY head_id)
         |SELECT posting_len, count(*) AS n_heads,
         |  posting_len * count(*) AS n_vectors
         |FROM lens GROUP BY posting_len
         |ORDER BY 1, 2, 3""".stripMargin,
    "q229_vocab_coverage" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val vals = VocabCutoffs.map(v => s"($v)").mkString(", ")
      s"""WITH tok AS (SELECT unnest($toks) AS token FROM documents),
         |tc AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
         |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rn FROM tc),
         |tot AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS total_tokens FROM tc)
         |SELECT v.vocab_size,
         |  CAST(coalesce(sum(r.cnt), 0) AS BIGINT) AS covered_tokens,
         |  max(tot.total_tokens) AS total_tokens,
         |  round(CAST(coalesce(sum(r.cnt), 0) AS DOUBLE)
         |        / greatest(max(tot.total_tokens), 1)::DOUBLE, 6) AS coverage
         |FROM (VALUES $vals) v(vocab_size) CROSS JOIN tot
         |LEFT JOIN r ON r.rn <= v.vocab_size
         |GROUP BY v.vocab_size
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    // (quality DESC, doc_id) is a total order per source, so rank ==
    // row_number in both engines and percent_rank/ntile agree exactly
    "q230_curriculum" ->
      s"""WITH q AS (SELECT doc_id, source,
         |             ${TextAnalysis.Sql.qualityRawExpr} AS quality
         |           FROM documents)
         |SELECT doc_id, source, quality,
         |  CAST(ntile($CurriculumTiers) OVER w AS INT) AS tier,
         |  round(percent_rank() OVER w, 6) AS pct
         |FROM q WINDOW w AS (PARTITION BY source ORDER BY quality DESC, doc_id)
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // the oracle reads the parquet original — equality IS the round-trip
    // fidelity claim (the Spark side went through CSV text and back)
    "q231_csv_roundtrip" ->
      s"""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
         |FROM events
         |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin,
    "q232_confusion" -> {
      val cd = Tables.distSql("cos", "q.qvec", "v.vec")
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec, label FROM embeddings
         |           WHERE vec_id >= $ConfusionTestN),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec, label AS gold
         |      FROM embeddings WHERE vec_id < $ConfusionTestN),
         |d AS (SELECT q.query_id, q.gold, v.id, $cd AS dist FROM q CROSS JOIN v),
         |r AS (SELECT query_id, gold, id FROM (
         |    SELECT query_id, gold, id, dist,
         |           row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS rank
         |    FROM d) WHERE rank <= $K),
         |c AS (SELECT r.query_id, r.gold, v.label, count(*) AS votes
         |      FROM r JOIN v USING (id) GROUP BY 1, 2, 3),
         |w AS (SELECT query_id, gold, label AS pred,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY votes DESC, label) AS rn
         |      FROM c),
         |cells AS (SELECT gold AS a, pred AS b, count(*) AS c
         |          FROM w WHERE rn = 1 GROUP BY 1, 2),
         |labels AS (SELECT a AS label FROM cells UNION SELECT b FROM cells),
         |ba AS (SELECT a AS label, CAST(sum(c) AS BIGINT) AS support,
         |         CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS tp
         |       FROM cells GROUP BY 1),
         |bp AS (SELECT b AS label, CAST(sum(c) AS BIGINT) AS n_pred
         |       FROM cells GROUP BY 1),
         |m AS (SELECT l.label,
         |        coalesce(ba.support, 0) AS support,
         |        coalesce(ba.tp, 0) AS tp,
         |        coalesce(bp.n_pred, 0) - coalesce(ba.tp, 0) AS fp,
         |        coalesce(ba.support, 0) - coalesce(ba.tp, 0) AS fn
         |      FROM labels l LEFT JOIN ba USING (label) LEFT JOIN bp USING (label))
         |SELECT label, support, tp, fp, fn,
         |  CASE WHEN tp + fp > 0
         |       THEN round(tp::DOUBLE / (tp + fp)::DOUBLE, 6) END AS "precision",
         |  CASE WHEN tp + fn > 0
         |       THEN round(tp::DOUBLE / (tp + fn)::DOUBLE, 6) END AS "recall",
         |  CASE WHEN tp + fp + fn > 0
         |       THEN round(2.0 * tp::DOUBLE / (2.0 * tp + fp + fn)::DOUBLE, 6)
         |  END AS f1
         |FROM m ORDER BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin
    },
    "q233_profile" -> {
      val cols = Seq("lang", "source", "n_chars")
      val ctes = cols.map { c =>
        s"""g_$c AS (SELECT CAST($c AS VARCHAR) AS v, count(*) AS n
           |         FROM documents GROUP BY 1),
           |t_$c AS (SELECT v, n, row_number() OVER (ORDER BY n DESC, v) AS rn
           |         FROM g_$c WHERE v IS NOT NULL),
           |a_$c AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_rows,
           |    CAST(coalesce(sum(CASE WHEN v IS NULL THEN n ELSE 0 END), 0)
           |         AS BIGINT) AS n_null,
           |    count(CASE WHEN v IS NOT NULL THEN 1 END) AS n_distinct,
           |    min(v) AS min_val, max(v) AS max_val FROM g_$c)""".stripMargin
      }.mkString(",\n")
      val sels = cols.map { c =>
        s"""SELECT '$c' AS "column", a.n_rows, a.n_null, a.n_distinct,
           |  a.min_val, a.max_val, t.v AS top_val, CAST(t.n AS BIGINT) AS top_n,
           |  round(t.n::DOUBLE / greatest(a.n_rows, 1)::DOUBLE, 6) AS top_share
           |FROM a_$c a LEFT JOIN t_$c t ON t.rn = 1""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH $ctes\n$sels\nORDER BY 1, 2, 3, 4, 5, 6, 7, 8, 9"
    },
    "q234_interleave" -> {
      val h = graft.functions.Hash60.sql("doc_id::VARCHAR || ':il'")
      val w = InterleaveWeights.map { case (src, wt) =>
        s"SELECT '$src' AS source, CAST($wt AS DOUBLE) AS weight" }
        .mkString("\n|          UNION ALL ")
      s"""WITH w AS ($w),
         |h AS (SELECT doc_id, source, $h AS hh FROM documents),
         |r AS (SELECT doc_id, h.source, weight,
         |        CAST(row_number() OVER (PARTITION BY h.source
         |          ORDER BY hh, doc_id) AS INT) AS src_rank
         |      FROM h JOIN w ON h.source = w.source)
         |SELECT doc_id, source, src_rank,
         |  (CAST(src_rank AS DOUBLE) - 0.5) / weight AS sched_key
         |FROM r
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    "q235_decay_score" -> {
      val cap = 12
      val hlUs = math.round(DecayHalfLifeDays * 86400.0 * 1e6)
      val wScaled = (0 to cap).map(k =>
        BigInt(5).pow(k).toLong * math.pow(10, cap - k).toLong)
        .mkString("[", ", ", "]")
      s"""WITH m AS (SELECT max(epoch_us(ts)) AS maxus FROM events),
         |e AS (SELECT user_id, epoch_us(ts) AS us,
         |        CAST(round(value * 10000) AS BIGINT) AS vs FROM events),
         |k AS (SELECT user_id, vs,
         |        CAST(least(floor((m.maxus - us) / $hlUs.0), $cap) AS INT) AS kk
         |      FROM e CROSS JOIN m),
         |w AS (SELECT user_id, vs, ($wScaled)[kk + 1] AS ww FROM k),
         |s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |        sum(CAST(vs AS DECIMAL(38,0)) * CAST(ww AS DECIMAL(38,0))) AS acc
         |      FROM w GROUP BY 1)
         |SELECT user_id, n_events,
         |  CAST(acc AS DOUBLE) / 1e16 AS decayed_value
         |FROM s ORDER BY 1, 2, 3""".stripMargin
    },
    "q236_readability" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len($toks) AS BIGINT) AS n_words,
         |    CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1)
         |         AS BIGINT) AS n_sentences,
         |    CAST(coalesce(list_sum(list_transform($toks,
         |        x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1))), 0)
         |         AS BIGINT) AS n_syllables
         |  FROM documents)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  CASE WHEN n_words > 0
         |       THEN round(206.835
         |         - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
         |         - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE), 4)
         |  END AS flesch
         |FROM t ORDER BY 1, 2, 3, 4, 5""".stripMargin
    },
    "q247_dup_sources" ->
      s"""WITH $minhashCtes,
         |pr AS (SELECT j.a, j.b FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
         |       WHERE j.jaccard >= 0.3),
         |lab AS (SELECT least(sa.source, sb.source) AS src_a,
         |          greatest(sa.source, sb.source) AS src_b
         |        FROM pr JOIN documents sa ON sa.doc_id = pr.a
         |        JOIN documents sb ON sb.doc_id = pr.b)
         |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM lab GROUP BY 1, 2
         |ORDER BY 1, 2, 3""".stripMargin,
    "q246_mixture_budget" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH mw AS (${Pipeline.mixtureWeightsSql(0.5)}),
         |bud AS (SELECT source,
         |          CAST(floor(weight * $MixBudget) AS BIGINT) AS src_budget
         |        FROM mw),
         |cum AS (SELECT doc_id, source,
         |          sum(len($toks))
         |            OVER (PARTITION BY source
         |                  ORDER BY ${TextAnalysis.Sql.qualityRawExpr} DESC, doc_id
         |                  ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |        FROM documents)
         |SELECT c.doc_id, c.source, c.cum_tokens::BIGINT AS cum_tokens, b.src_budget
         |FROM cum c JOIN bud b USING (source)
         |WHERE c.cum_tokens <= b.src_budget
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    "q248_bkt_select_heads" ->
      s"""WITH ${bktCtes(BktK, BktLeaf, BktLevels, BktSelT, BktSplT, BktSplF)}
         |SELECT DISTINCT cid AS head_id FROM sel
         |ORDER BY 1""".stripMargin,
    "q249_dup_spans" -> dupSpanSql("x.doc_id < y.doc_id"),
    // the closed form of the synthesized signal: RMS of segment s of id is
    // exactly ((id+s)%32)·1000/32768 — the Spark side must land on it
    // through the full WAV encode → javax.sound decode → RMS pipeline
    "q253_audio_rms" ->
      """SELECT g.id::BIGINT AS id, CAST(s.seg AS INT) AS seg,
        |  ((((g.id + s.seg) % 32) * 1000)::DOUBLE / 32768.0)::FLOAT AS rms
        |FROM generate_series(0, 63) g(id), generate_series(0, 15) s(seg)
        |ORDER BY 1, 2, 3""".stripMargin,
    // the oracle reads the parquet original — equality IS the round-trip
    // fidelity claim (the Spark side went through JSONL text and back)
    "q283_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // the closed form: every original row parses, every synthesized
    // malformed line lands in the corrupt bucket
    "q284_jsonl_audit" ->
      s"""SELECT 'corrupt' AS verdict, $JsonlCorruptN::BIGINT AS n
         |UNION ALL
         |SELECT 'good', (SELECT count(*) FROM documents)::BIGINT
         |ORDER BY 1, 2""".stripMargin,
    // the q252 chain extended along the replicas axis (pall keeps rn ≤ max
    // replicas; each config slices it), plus the integer n_cand cost and
    // the basis-point best-pick rule mirrored from AutoTune.markBest
    "q281_ivf_autotune" -> {
      val pDist = Tables.distSql("cos", "v.vec", "h.head_vec")
      val hDist = Tables.distSql("cos", "q.qvec", "h.head_vec")
      val sDist = Tables.distSql("cos", "ch.qvec", "p.vec")
      val tDist = Tables.distSql("cos", "q.qvec", "v.vec")
      val maxR = TuneReplicas.max
      val per = (for (r <- TuneReplicas; np <- TuneNprobes) yield
        s"""hits${r}_$np AS (SELECT ch.query_id, p.id, min($sDist) AS dist
           |  FROM (SELECT * FROM chr WHERE rn <= $np) ch
           |  JOIN (SELECT * FROM pall WHERE rn <= $r) p
           |    ON ch.head_id = p.head_id
           |  GROUP BY 1, 2),
           |r${r}_$np AS (SELECT query_id, id FROM (SELECT query_id, id,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY dist, id) AS rank
           |  FROM hits${r}_$np) WHERE rank <= $K)""".stripMargin)
        .mkString(",\n")
      val rows = (for (r <- TuneReplicas; np <- TuneNprobes) yield
        s"""SELECT $r AS replicas, $np AS nprobe,
           |  (SELECT count(*) FROM truth) AS n_true,
           |  (SELECT count(*) FROM r${r}_$np JOIN truth USING (query_id, id))
           |    AS n_hit,
           |  (SELECT coalesce(sum(pl.cnt), 0)
           |   FROM (SELECT head_id FROM chr WHERE rn <= $np) c
           |   JOIN (SELECT head_id, count(*) AS cnt FROM pall
           |         WHERE rn <= $r GROUP BY 1) pl USING (head_id)) AS n_cand"""
          .stripMargin).mkString(" UNION ALL ")
      s"""WITH v AS MATERIALIZED (
         |  SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |q AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qvec
         |  FROM embeddings WHERE vec_id < 10),
         |h AS MATERIALIZED (SELECT id AS head_id, vec AS head_vec FROM v
         |  WHERE id % $SemNth = 0),
         |pd AS (SELECT v.id, v.vec, h.head_id, $pDist AS dist
         |       FROM v CROSS JOIN h),
         |pall AS MATERIALIZED (SELECT * FROM (SELECT id, vec, head_id, dist,
         |    row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS rn
         |  FROM pd) WHERE rn <= $maxR),
         |chd AS (SELECT q.query_id, q.qvec, h.head_id, $hDist AS hdist
         |        FROM q CROSS JOIN h),
         |chr AS MATERIALIZED (SELECT query_id, qvec, head_id, hdist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY hdist, head_id) AS rn FROM chd),
         |td AS (SELECT q.query_id, v.id, $tDist AS dist FROM q CROSS JOIN v),
         |truth AS MATERIALIZED (SELECT query_id, id FROM (
         |    SELECT query_id, id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY dist, id) AS rank FROM td) WHERE rank <= $K),
         |$per,
         |allrows AS MATERIALIZED (SELECT * FROM ($rows)),
         |pick AS (SELECT replicas, nprobe FROM allrows
         |  ORDER BY CASE WHEN n_hit * 10000 >= $TuneIvfFloorBp * n_true
         |             THEN 0 ELSE 1 END,
         |    CASE WHEN n_hit * 10000 >= $TuneIvfFloorBp * n_true
         |      THEN n_cand ELSE -n_hit END,
         |    replicas, nprobe LIMIT 1)
         |SELECT a.replicas, a.nprobe, a.n_true::BIGINT AS n_true,
         |  a.n_hit::BIGINT AS n_hit,
         |  CASE WHEN a.n_true > 0
         |    THEN a.n_hit::DOUBLE / a.n_true::DOUBLE END AS recall,
         |  a.n_cand::BIGINT AS n_cand,
         |  (a.replicas = p.replicas AND a.nprobe = p.nprobe) AS best
         |FROM allrows a, pick p
         |ORDER BY 1, 2, 3, 4, 5, 6, 7""".stripMargin
    },
    // the q244 chain re-banded per config (shared sh/h32/mh/jac; per
    // config its own bands/bucket-guard/cand), same best-pick rule
    "q282_lsh_autotune" -> {
      val aArr = (0 until 16).map(Dedup.minhashA).mkString("[", ", ", "]")
      val bArr = (0 until 16).map(Dedup.minhashB).mkString("[", ", ", "]")
      val hBand = graft.functions.Hash60.sql(
        "string_agg(mh::VARCHAR, '|' ORDER BY j)")
      val per = TuneBandCfgs.map { case (_, rpb) =>
        s"""bands$rpb AS (SELECT doc_id, j // $rpb AS band, $hBand AS band_hash
           |  FROM mh GROUP BY doc_id, j // $rpb),
           |bsm$rpb AS MATERIALIZED (SELECT * FROM bands$rpb
           |  QUALIFY count(*) OVER (PARTITION BY band, band_hash)
           |          <= ${Dedup.MaxBandBucket}),
           |cand$rpb AS MATERIALIZED (
           |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM bsm$rpb l
           |  JOIN bsm$rpb r ON l.band = r.band
           |    AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id)"""
          .stripMargin
      }.mkString(",\n")
      val rows = TuneBandCfgs.map { case (nh, rpb) =>
        s"""SELECT $nh AS num_hashes, $rpb AS rows_per_band,
           |  (SELECT count(*) FROM truth) AS n_true,
           |  (SELECT count(*) FROM truth t JOIN cand$rpb c
           |     ON t.a = c.a AND t.b = c.b) AS n_hit,
           |  (SELECT count(*) FROM cand$rpb) AS n_cand""".stripMargin
      }.mkString(" UNION ALL ")
      s"""WITH ${shingleCtes},
         |h32 AS (SELECT doc_id, ${graft.functions.Hash60.sql("sh")} % ${Dedup.M31} AS h32 FROM sh),
         |mh AS MATERIALIZED (SELECT doc_id, j,
         |       min(($aArr[j + 1] * h32 + $bArr[j + 1]) % ${Dedup.M31}) AS mh
         |     FROM h32, generate_series(0, 15) g(j) GROUP BY doc_id, j),
         |$jaccardCtes,
         |truth AS MATERIALIZED (SELECT a, b FROM jac WHERE jaccard >= 0.3),
         |$per,
         |allrows AS MATERIALIZED (SELECT * FROM ($rows)),
         |pick AS (SELECT num_hashes, rows_per_band FROM allrows
         |  ORDER BY CASE WHEN n_hit * 10000 >= $TuneLshFloorBp * n_true
         |             THEN 0 ELSE 1 END,
         |    CASE WHEN n_hit * 10000 >= $TuneLshFloorBp * n_true
         |      THEN n_cand ELSE -n_hit END,
         |    num_hashes, rows_per_band LIMIT 1)
         |SELECT a.num_hashes, a.rows_per_band, a.n_true::BIGINT AS n_true,
         |  a.n_hit::BIGINT AS n_hit,
         |  CASE WHEN a.n_true > 0
         |    THEN a.n_hit::DOUBLE / a.n_true::DOUBLE END AS recall,
         |  a.n_cand::BIGINT AS n_cand,
         |  (a.num_hashes = p.num_hashes
         |    AND a.rows_per_band = p.rows_per_band) AS best
         |FROM allrows a, pick p
         |ORDER BY 1, 2, 3, 4, 5, 6, 7""".stripMargin
    },
    // the closed form of the synthesized video: id's frame f (f < 2+id%3)
    // is a solid 32×24 frame at gray 16·((7id+13f) mod 16)+8 — the Spark
    // side must land on it through the full AVI encode → RIFF parse →
    // javax.imageio frame decode → mean-luminance pipeline
    "q280_video_decode" ->
      s"""SELECT g.id::BIGINT AS id, CAST(f.f AS INT) AS frame_no,
         |  CAST($VideoW AS INT) AS width, CAST($VideoH AS INT) AS height,
         |  CAST(((g.id * 7 + f.f * 13) % 16) * 16 + 8 AS INT) AS gray
         |FROM generate_series(0, ${VideoN - 1}) g(id),
         |     generate_series(0, 3) f(f)
         |WHERE f.f < 2 + g.id % 3
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // both directed edges must exist; a < b canonicalizes the pair
    "q254_mutual_knn" ->
      s"""WITH $knnDigraphCtes
         |SELECT l.src AS a, l.dst AS b
         |FROM e l JOIN e r ON r.src = l.dst AND r.dst = l.src
         |WHERE l.src < l.dst
         |ORDER BY 1, 2""".stripMargin,
    // top-2 head distances per vector → s = (b−a)/max(a,b); exact DECIMAL
    // sum of 6dp-rounded scores so the mean is reduction-order-free;
    // terminal +0.0 normalizes a possible −0.0 (the q121 lesson)
    "q255_silhouette" -> {
      val pDist = Tables.distSql("cos", "v.vec", "h.head_vec")
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |h AS (SELECT id AS head_id, vec AS head_vec FROM v WHERE id % $SemNth = 0),
         |pd AS (SELECT v.id, h.head_id, $pDist AS dist FROM v CROSS JOIN h),
         |t2 AS (SELECT id, head_id, dist, rn FROM (
         |    SELECT id, head_id, dist,
         |           row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS rn
         |    FROM pd) WHERE rn <= 2),
         |pv AS (SELECT id,
         |         min(CASE WHEN rn = 1 THEN head_id END) AS head_id,
         |         min(CASE WHEN rn = 1 THEN dist END) AS a,
         |         min(CASE WHEN rn = 2 THEN dist END) AS b
         |       FROM t2 GROUP BY id),
         |sc AS (SELECT head_id,
         |         CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
         |              ELSE 0.0 END AS s
         |       FROM pv)
         |SELECT head_id, count(*) AS n,
         |  round(sum(CAST(round(s, 6) AS DECIMAL(18,6)))::DOUBLE / count(*), 6) + 0.0
         |    AS mean_silhouette
         |FROM sc GROUP BY 1 ORDER BY 1, 2, 3""".stripMargin
    },
    // clamped seeds + PrIters unrolled majority rounds (count DESC, label
    // ASC tiebreak), mirroring KnnGraph.labelPropagate round-for-round
    "q256_label_prop" -> {
      val rounds = (1 to PrIters).map { r =>
        s"""cnt$r AS (SELECT e.dst, l.label, count(*) AS c
           |        FROM e JOIN lp${r - 1} l ON l.id = e.src
           |        WHERE l.label IS NOT NULL GROUP BY 1, 2),
           |pk$r AS (SELECT dst AS id, label FROM (
           |    SELECT dst, label,
           |           row_number() OVER (PARTITION BY dst ORDER BY c DESC, label) AS rn
           |    FROM cnt$r) WHERE rn = 1),
           |lp$r AS MATERIALIZED (SELECT v.id, coalesce(sd.label, pk$r.label) AS label
           |      FROM v LEFT JOIN sd USING (id) LEFT JOIN pk$r USING (id))""".stripMargin
      }.mkString(",\n")
      s"""WITH $knnDigraphCtes,
         |sd AS (SELECT vec_id AS id, label FROM embeddings WHERE vec_id % 5 = 0),
         |lp0 AS (SELECT v.id, sd.label FROM v LEFT JOIN sd USING (id)),
         |$rounds
         |SELECT id, label FROM lp$PrIters WHERE label IS NOT NULL
         |ORDER BY 1, 2""".stripMargin
    },
    // one conditional-aggregate row per expectation over orders, plus the
    // anti-join referential check vs customer
    "q257_constraint_audit" ->
      s"""WITH nn AS (SELECT 'not_null' AS check_name, 'o_custkey' AS col_name,
         |        count(*)::BIGINT AS n_checked,
         |        sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
         |          AS n_violations FROM orders),
         |u AS (SELECT 'unique', 'o_orderkey', count(o_orderkey)::BIGINT,
         |        (count(o_orderkey) - count(DISTINCT o_orderkey))::BIGINT
         |      FROM orders),
         |r AS (SELECT 'in_range', 'o_totalprice', count(o_totalprice)::BIGINT,
         |        sum(CASE WHEN o_totalprice IS NOT NULL
         |              AND (o_totalprice < 0.0 OR o_totalprice > 400000.0)
         |            THEN 1 ELSE 0 END)::BIGINT FROM orders),
         |a AS (SELECT 'accepted_values', 'o_orderstatus',
         |        count(o_orderstatus)::BIGINT,
         |        sum(CASE WHEN o_orderstatus IS NOT NULL
         |              AND o_orderstatus NOT IN ('O', 'F')
         |            THEN 1 ELSE 0 END)::BIGINT FROM orders),
         |ri AS (SELECT 'ref_integrity', 'o_custkey',
         |        (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL)::BIGINT,
         |        (SELECT count(*) FROM orders o LEFT JOIN customer c
         |           ON o.o_custkey = c.c_custkey
         |         WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL)::BIGINT)
         |SELECT * FROM (
         |  SELECT * FROM nn UNION ALL SELECT * FROM u UNION ALL
         |  SELECT * FROM r UNION ALL SELECT * FROM a UNION ALL SELECT * FROM ri)
         |ORDER BY 1, 2, 3, 4""".stripMargin,
    // dense r×c grid; per-cell (o−e)²/e rounded 8dp → DECIMAL(38,8) sum
    "q258_chi2_assoc" ->
      s"""WITH o AS (SELECT lang AS a, source AS b, count(*) AS o FROM documents
         |           WHERE lang IS NOT NULL AND source IS NOT NULL
         |           GROUP BY 1, 2),
         |rm AS (SELECT a, sum(o)::BIGINT AS ra FROM o GROUP BY 1),
         |cm AS (SELECT b, sum(o)::BIGINT AS cb FROM o GROUP BY 1),
         |t AS (SELECT sum(o)::BIGINT AS n, count(DISTINCT a)::BIGINT AS r,
         |        count(DISTINCT b)::BIGINT AS c FROM o),
         |cells AS (SELECT t.n, t.r, t.c,
         |        round((coalesce(o.o, 0)::DOUBLE - (rm.ra::DOUBLE * cm.cb / t.n))
         |            * (coalesce(o.o, 0)::DOUBLE - (rm.ra::DOUBLE * cm.cb / t.n))
         |            / (rm.ra::DOUBLE * cm.cb / t.n), 8)::DECIMAL(38,8) AS term
         |      FROM rm CROSS JOIN cm
         |      LEFT JOIN o ON o.a = rm.a AND o.b = cm.b
         |      CROSS JOIN t),
         |s AS (SELECT n, r, c, sum(term)::DOUBLE AS chi2 FROM cells
         |      GROUP BY 1, 2, 3)
         |SELECT n, r, c, round(chi2, 4) AS chi2,
         |  round(CASE WHEN least(r, c) > 1
         |          THEN sqrt(chi2 / (n * (least(r, c) - 1)))
         |          ELSE 0.0 END, 6) AS cramers_v
         |FROM s ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // q149-convention assignment joined to gold labels; majority by
    // (count DESC, label ASC)
    "q259_cluster_purity" ->
      s"""WITH $clusterAssignCtes,
         |lab AS (SELECT vec_id AS id, label FROM embeddings),
         |j AS (SELECT p.cluster, lab.label, count(*) AS cl
         |      FROM p JOIN lab USING (id) GROUP BY 1, 2),
         |m AS (SELECT cluster, label, cl,
         |        row_number() OVER (PARTITION BY cluster
         |          ORDER BY cl DESC, label) AS rn FROM j),
         |tt AS (SELECT cluster, sum(cl)::BIGINT AS n FROM j GROUP BY 1)
         |SELECT m.cluster, tt.n, m.label AS top_label,
         |  round(m.cl::DOUBLE / tt.n, 6) AS purity
         |FROM m JOIN tt USING (cluster) WHERE rn = 1
         |ORDER BY 1, 2, 3, 4""".stripMargin,
    // per-cell log terms rounded 8dp → DECIMAL(38,8) sums (order-free)
    "q260_cluster_nmi" ->
      s"""WITH $clusterAssignCtes,
         |lab AS (SELECT vec_id AS id, label FROM embeddings),
         |j AS (SELECT p.cluster, lab.label, count(*) AS cl
         |      FROM p JOIN lab USING (id) GROUP BY 1, 2),
         |n AS (SELECT sum(cl)::BIGINT AS n FROM j),
         |cm AS (SELECT cluster, sum(cl)::BIGINT AS c FROM j GROUP BY 1),
         |lm AS (SELECT label, sum(cl)::BIGINT AS l FROM j GROUP BY 1),
         |hc AS (SELECT sum(round((c::DOUBLE / n.n) * -ln(c::DOUBLE / n.n),
         |          8)::DECIMAL(38,8))::DOUBLE AS hc FROM cm CROSS JOIN n),
         |hl AS (SELECT sum(round((l::DOUBLE / n.n) * -ln(l::DOUBLE / n.n),
         |          8)::DECIMAL(38,8))::DOUBLE AS hl FROM lm CROSS JOIN n),
         |mi AS (SELECT sum(round((cl::DOUBLE / n.n)
         |            * ln(cl::DOUBLE * n.n / (cm.c::DOUBLE * lm.l)),
         |          8)::DECIMAL(38,8))::DOUBLE AS mi
         |       FROM j JOIN cm USING (cluster) JOIN lm USING (label)
         |       CROSS JOIN n)
         |SELECT n.n, round(mi.mi, 6) AS mi, round(hc.hc, 6) AS h_cluster,
         |  round(hl.hl, 6) AS h_label,
         |  round(CASE WHEN hc.hc > 0 AND hl.hl > 0
         |          THEN mi.mi / sqrt(hc.hc * hl.hl) ELSE 0.0 END, 6) AS nmi
         |FROM mi CROSS JOIN hc CROSS JOIN hl CROSS JOIN n
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // greedy set cover unrolled round-for-round: anti-join gains, argmax
    // by (gain DESC, doc_id), covered set grows by the winner's tokens
    "q261_coverage_select" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val rounds = (2 to CoverageRounds).map { r =>
        s"""g$r AS (SELECT t.doc_id, count(*) AS g FROM tok t
           |      LEFT JOIN c${r - 1} c ON t.token = c.token
           |      WHERE c.token IS NULL GROUP BY 1),
           |p$r AS (SELECT $r AS round, doc_id, g FROM g$r
           |      ORDER BY g DESC, doc_id LIMIT 1),
           |c$r AS MATERIALIZED (SELECT token FROM c${r - 1}
           |      UNION SELECT token FROM tok JOIN p$r USING (doc_id))"""
          .stripMargin
      }.mkString(",\n")
      val all = (1 to CoverageRounds)
        .map(r => s"SELECT * FROM p$r").mkString(" UNION ALL ")
      s"""WITH tok AS MATERIALIZED (SELECT DISTINCT doc_id, token FROM (
         |  SELECT doc_id, unnest($toks) AS token FROM documents)),
         |g1 AS (SELECT doc_id, count(*) AS g FROM tok GROUP BY 1),
         |p1 AS (SELECT 1 AS round, doc_id, g FROM g1
         |      ORDER BY g DESC, doc_id LIMIT 1),
         |c1 AS MATERIALIZED (SELECT DISTINCT token FROM tok JOIN p1 USING (doc_id)),
         |$rounds
         |SELECT round, doc_id, g AS new_tokens FROM ($all)
         |ORDER BY round""".stripMargin
    },
    // per-source top/bottom ranks by the quantized quality score; the
    // margin compares the exact 1e-4 longs
    "q262_pref_pairs" -> {
      val qe = TextAnalysis.Sql.qualityExpr
      s"""WITH q AS (SELECT source, doc_id,
         |        CAST(round(($qe) * 10000) AS BIGINT) AS s FROM documents),
         |cs AS (SELECT source, doc_id, s,
         |        row_number() OVER (PARTITION BY source ORDER BY s DESC, doc_id)
         |          AS rn FROM q),
         |rs AS (SELECT source, doc_id, s,
         |        row_number() OVER (PARTITION BY source ORDER BY s, doc_id)
         |          AS rn FROM q)
         |SELECT cs.source, cs.rn AS pair_rank, cs.doc_id AS chosen_id,
         |  rs.doc_id AS rejected_id,
         |  round((cs.s - rs.s)::DOUBLE / 10000.0, 4) AS margin
         |FROM cs JOIN rs ON cs.source = rs.source AND cs.rn = rs.rn
         |WHERE cs.rn <= $PrefPairs AND cs.doc_id <> rs.doc_id AND cs.s > rs.s
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin
    },
    // HITS unrolled: per half-round a keyed sum over the 5-NN digraph
    // then an integer L1 renorm — every rank stays an exact BIGINT
    "q263_hits" -> {
      val Scale = 1000000000L
      val rounds = (1 to HitsIters).map { r =>
        s"""ap$r AS (SELECT e.dst AS id, sum(h.h)::BIGINT AS x
           |      FROM e JOIN h${r - 1} h ON h.id = e.src GROUP BY 1),
           |at$r AS (SELECT greatest(sum(coalesce(x, 0))::BIGINT, 1) AS t
           |      FROM v LEFT JOIN ap$r ON ap$r.id = v.id),
           |a$r AS MATERIALIZED (SELECT v.id,
           |        (coalesce(ap$r.x, 0) * ${Scale}) // at$r.t AS a
           |      FROM v LEFT JOIN ap$r ON ap$r.id = v.id CROSS JOIN at$r),
           |hp$r AS (SELECT e.src AS id, sum(a.a)::BIGINT AS x
           |      FROM e JOIN a$r a ON a.id = e.dst GROUP BY 1),
           |ht$r AS (SELECT greatest(sum(coalesce(x, 0))::BIGINT, 1) AS t
           |      FROM v LEFT JOIN hp$r ON hp$r.id = v.id),
           |h$r AS MATERIALIZED (SELECT v.id,
           |        (coalesce(hp$r.x, 0) * ${Scale}) // ht$r.t AS h
           |      FROM v LEFT JOIN hp$r ON hp$r.id = v.id CROSS JOIN ht$r)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $knnDigraphCtes,
         |nn AS (SELECT count(*) AS n FROM v),
         |h0 AS (SELECT id, ${Scale} // nn.n AS h FROM v CROSS JOIN nn),
         |$rounds
         |SELECT v.id, h$HitsIters.h::BIGINT AS hub, a$HitsIters.a::BIGINT AS auth
         |FROM v JOIN h$HitsIters ON h$HitsIters.id = v.id
         |JOIN a$HitsIters ON a$HitsIters.id = v.id
         |ORDER BY 1, 2, 3""".stripMargin
    },
    // closed-form leave-one-out means from one per-source DECIMAL agg
    "q264_jackknife" -> {
      val qe = TextAnalysis.Sql.qualityExpr
      s"""WITH s AS (SELECT source AS g,
         |        round($qe, 6)::DECIMAL(28,6) AS v FROM documents),
         |p AS (SELECT g, sum(v) AS sg, count(*) AS ng FROM s GROUP BY 1),
         |t AS (SELECT sum(sg) AS st, sum(ng)::BIGINT AS nt FROM p)
         |SELECT g AS left_out, (nt - ng)::BIGINT AS n_rest,
         |  round((st - sg)::DOUBLE / (nt - ng), 6) AS mean_rest,
         |  round((st - sg)::DOUBLE / (nt - ng) - st::DOUBLE / nt, 6) AS delta
         |FROM p CROSS JOIN t WHERE nt > ng
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    // product-limit survival unrolled on the bounded time-bucket frame;
    // log-space DECIMAL prefix sums, d = n_risk zeroes via the flag
    "q265_kaplan_meier" ->
      s"""WITH $kmRiskCtes,
         |terms AS (SELECT t, d, c, n_risk,
         |        CASE WHEN d = n_risk THEN NULL
         |             ELSE round(ln(1.0 - d::DOUBLE / n_risk),
         |               8)::DECIMAL(38,8) END AS lnf
         |      FROM r WHERE d > 0)
         |SELECT a.t AS t_sec, a.n_risk, a.d AS n_events, a.c AS n_censored,
         |  CASE WHEN bool_or(b.lnf IS NULL) THEN 0.0
         |       ELSE round(exp(sum(b.lnf)::DOUBLE), 6) END AS survival
         |FROM terms a JOIN terms b ON b.t <= a.t
         |GROUP BY a.t, a.n_risk, a.d, a.c
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // per-row split column math; the audit is entity-level aggregation
    "q266_embargo_split" ->
      s"""WITH f AS (SELECT user_id,
         |        CASE WHEN ts < TIMESTAMP '$EmbargoCutoff' THEN 'train'
         |             WHEN ts >= TIMESTAMP '$EmbargoCutoff'
         |                  + INTERVAL $EmbargoHours HOURS THEN 'test'
         |        END AS split FROM events),
         |per AS (SELECT user_id, split, count(*) AS n FROM f
         |        WHERE split IS NOT NULL GROUP BY 1, 2),
         |sh AS (SELECT count(*)::BIGINT AS shared FROM (
         |        SELECT user_id FROM per GROUP BY 1 HAVING count(*) = 2))
         |SELECT split, sum(n)::BIGINT AS n_rows,
         |  count(*)::BIGINT AS n_entities, sh.shared AS n_shared_entities
         |FROM per CROSS JOIN sh GROUP BY 1, sh.shared
         |ORDER BY 1, 2, 3, 4""".stripMargin,
    // closed-form Gini from the value histogram (exact integer rank sums)
    "q267_gini_tokens" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH s AS (SELECT CAST(len($toks) AS BIGINT) AS v FROM documents),
         |h AS (SELECT v, count(*) AS c FROM s GROUP BY 1),
         |p AS (SELECT a.v, a.c, coalesce(sum(b.c), 0)::BIGINT AS f
         |      FROM h a LEFT JOIN h b ON b.v < a.v GROUP BY 1, 2),
         |t AS (SELECT sum(c)::BIGINT AS n, sum(v * c)::BIGINT AS tot,
         |        sum(v * (c * f + (c * (c + 1)) // 2))::BIGINT AS ri FROM p)
         |SELECT n, tot AS total,
         |  round(CASE WHEN tot > 0 AND n > 0
         |          THEN 2.0 * ri / (n::DOUBLE * tot) - (n + 1)::DOUBLE / n
         |          ELSE 0.0 END, 6) AS gini
         |FROM t ORDER BY 1, 2, 3""".stripMargin
    },
    // per-type 8dp DECIMAL ln ratios; α from the exact sum
    "q268_hill_tail" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH c AS (SELECT token, count(*) AS cnt FROM (
         |        SELECT unnest($toks) AS token FROM documents) GROUP BY 1),
         |t AS (SELECT count(*)::BIGINT AS n_tail,
         |        sum(round(ln(cnt::DOUBLE / $HillXmin), 8)::DECIMAL(38,8)) AS s
         |      FROM c WHERE cnt >= $HillXmin)
         |SELECT $HillXmin::BIGINT AS xmin, n_tail,
         |  round(CASE WHEN s IS NOT NULL AND s > 0
         |          THEN 1.0 + n_tail::DOUBLE / s::DOUBLE
         |          ELSE NULL END, 6) AS alpha
         |FROM t ORDER BY 1, 2, 3""".stripMargin
    },
    // waterfilling unrolled: each round is a one-row pool CTE + a 20-row
    // reallocation; post-fixpoint rounds are provable no-ops
    "q269_budget_allocate" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val rounds = (1 to WfOracleRounds).map { r =>
        s"""p$r AS (SELECT $WfBudget - coalesce(sum(CASE WHEN sat THEN alloc END), 0)::BIGINT AS r,
           |        coalesce(sum(CASE WHEN NOT sat THEN w END), 0)::BIGINT AS wsum
           |      FROM st${r - 1}),
           |a$r AS (SELECT source, w, cap,
           |        CASE WHEN sat THEN alloc
           |             WHEN p.wsum > 0 THEN ((p.r::HUGEINT * w) // p.wsum)::BIGINT
           |             ELSE 0 END AS a, sat
           |      FROM st${r - 1} CROSS JOIN p$r p),
           |st$r AS MATERIALIZED (SELECT source, w, cap,
           |        CASE WHEN NOT sat AND a >= cap THEN cap ELSE a END AS alloc,
           |        (sat OR a >= cap) AS sat FROM a$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH per AS (SELECT source,
         |        CAST(round(sqrt(cap::DOUBLE) * 1000) AS BIGINT) AS w, cap
         |      FROM (SELECT source, sum(CAST(len($toks) AS BIGINT))::BIGINT AS cap
         |            FROM documents GROUP BY 1)),
         |st0 AS (SELECT source, w, cap, NULL::BIGINT AS alloc, false AS sat
         |        FROM per),
         |$rounds
         |SELECT source, w AS weight1e6, cap, alloc AS allocated,
         |  sat AS saturated
         |FROM st$WfOracleRounds ORDER BY 1, 2, 3, 4, 5""".stripMargin
    },
    // q36's banded candidate chain + the doc-language join
    "q271_crosslang_neardup" -> {
      val cd = Tables.distSql("cos", "a.vec", "b.vec")
      s"""WITH $lshBandCtes,
         |cand AS (SELECT DISTINCT l.id AS a, r.id AS b FROM bands l
         |         JOIN bands r ON l.band = r.band AND l.bv = r.bv AND l.id < r.id),
         |p AS (SELECT c.a, c.b, round($cd, 4) AS cos_dist
         |      FROM cand c JOIN e a ON a.id = c.a JOIN e b ON b.id = c.b
         |      WHERE $cd < 0.6),
         |la AS (SELECT doc_id, lang FROM documents)
         |SELECT p.a, p.b, x.lang AS lang_a, y.lang AS lang_b, p.cos_dist
         |FROM p JOIN la x ON x.doc_id = p.a JOIN la y ON y.doc_id = p.b
         |WHERE x.lang <> y.lang
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin
    },
    // merged-value CDF segments, 8dp DECIMAL fold — no sort, no windows
    "q272_wasserstein_drift" -> {
      val qe = TextAnalysis.Sql.qualityExpr
      s"""WITH qa AS (SELECT $qe AS v FROM documents WHERE doc_id % 2 = 0),
         |qb AS (SELECT $qe AS v FROM documents WHERE doc_id % 2 = 1),
         |ha AS (SELECT v, count(*) AS ca FROM qa WHERE v IS NOT NULL GROUP BY 1),
         |hb AS (SELECT v, count(*) AS cb FROM qb WHERE v IS NOT NULL GROUP BY 1),
         |vals AS (SELECT v FROM ha UNION SELECT v FROM hb),
         |na AS (SELECT sum(ca)::BIGINT AS na FROM ha),
         |nb AS (SELECT sum(cb)::BIGINT AS nb FROM hb),
         |fa AS (SELECT a.v, coalesce(sum(b.ca), 0)::BIGINT AS fa
         |       FROM vals a LEFT JOIN ha b ON b.v <= a.v GROUP BY 1),
         |fb AS (SELECT a.v, coalesce(sum(b.cb), 0)::BIGINT AS fb
         |       FROM vals a LEFT JOIN hb b ON b.v <= a.v GROUP BY 1),
         |nx AS (SELECT a.v, min(b.v) AS nxt FROM vals a
         |       JOIN vals b ON b.v > a.v GROUP BY 1),
         |terms AS (SELECT round(abs(fa.fa::DOUBLE / na.na
         |            - fb.fb::DOUBLE / nb.nb) * (nx.nxt - fa.v),
         |          8)::DECIMAL(38,8) AS t
         |       FROM fa JOIN fb ON fb.v = fa.v JOIN nx ON nx.v = fa.v
         |       CROSS JOIN na CROSS JOIN nb),
         |w AS (SELECT sum(t) AS s FROM terms)
         |SELECT na.na AS n_a, nb.nb AS n_b,
         |  round(coalesce(s::DOUBLE, 0.0), 6) AS w1
         |FROM w CROSS JOIN na CROSS JOIN nb
         |ORDER BY 1, 2, 3""".stripMargin
    },
    // q37's exact ranking + q38's IVF chain + the driver-baked 12dp
    // RBO depth weights — one weight lookup per matched id
    "q274_rbo" -> {
      val wVals = graft.operators.Eval.rboWeights(K, 0.9)
        .map { case (m, w) => s"($m, CAST($w AS DECIMAL(18,12)))" }
        .mkString(", ")
      s"""WITH $exactVsIvfCtes,
         |w(m, wt) AS (VALUES $wVals),
         |mm AS (SELECT re.query_id, greatest(re.rank, ri.rank) AS m
         |       FROM re JOIN ri ON ri.query_id = re.query_id AND ri.id = re.id),
         |s AS (SELECT query_id, sum(wt) AS s FROM mm JOIN w ON w.m = mm.m
         |      GROUP BY 1)
         |SELECT q.query_id, round(coalesce(s.s::DOUBLE, 0.0), 6) AS rbo
         |FROM q LEFT JOIN s USING (query_id)
         |ORDER BY 1, 2""".stripMargin
    },
    // the q94 merge-chain replay + a (lang, token)-keyed piece-count join
    "q276_bpe_fertility" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH ${bpeCtes(BpeRounds)},
         |tok AS (SELECT lang, unnest($toks) AS token FROM documents),
         |f AS (SELECT t.lang, count(*) AS n_tokens,
         |        sum(len(string_split(s.seg, ' ')))::BIGINT AS n_pieces
         |      FROM tok t JOIN s$BpeRounds s ON s.token = t.token GROUP BY 1)
         |SELECT lang, n_tokens::BIGINT AS n_tokens, n_pieces,
         |  round(n_pieces::DOUBLE / n_tokens, 6) AS fertility
         |FROM f ORDER BY 1, 2, 3, 4""".stripMargin
    },
    // closed-form CUSUM: prefix sums / prefix minima on the bounded
    // (type × day) histogram; all-integer
    "q277_cusum" ->
      s"""WITH obs AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |        count(*) AS x FROM events GROUP BY 1, 2),
         |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1
         |         FROM obs GROUP BY 1),
         |days AS (SELECT event_type,
         |        CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
         |          AS day FROM span),
         |daily AS (SELECT dd.event_type, dd.day, coalesce(o.x, 0)::BIGINT AS x
         |        FROM days dd LEFT JOIN obs o
         |          ON o.event_type = dd.event_type AND o.day = dd.day),
         |ref AS (SELECT event_type, (sum(x)::BIGINT) // count(*) AS k
         |        FROM daily GROUP BY 1),
         |w AS (SELECT d.event_type, d.day, d.x, r.k
         |      FROM daily d JOIN ref r USING (event_type)),
         |c AS (SELECT a.event_type, a.day, a.x, a.k,
         |        sum(b.x - b.k)::BIGINT AS c
         |      FROM w a JOIN w b ON b.event_type = a.event_type
         |        AND b.day <= a.day
         |      GROUP BY 1, 2, 3, 4),
         |m AS (SELECT a.event_type, a.day, a.x, a.k, a.c,
         |        min(b.c)::BIGINT AS mn
         |      FROM c a JOIN c b ON b.event_type = a.event_type
         |        AND b.day <= a.day
         |      GROUP BY 1, 2, 3, 4, 5)
         |SELECT event_type, day, x::BIGINT AS x, k,
         |  (c - least(mn, 0))::BIGINT AS cusum,
         |  (c - least(mn, 0)) > k * $CusumAlarmMeanDays AS alarm
         |FROM m ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin,
    // the shared exact-vs-IVF chain + per-hit integer precision terms
    "q279_map" ->
      s"""WITH $exactVsIvfCtes,
         |nr AS (SELECT query_id, count(*) AS nrel FROM re GROUP BY 1),
         |mh AS (SELECT ri.query_id, ri.rank,
         |        row_number() OVER (PARTITION BY ri.query_id
         |          ORDER BY ri.rank) AS h
         |      FROM ri JOIN re ON re.query_id = ri.query_id
         |        AND re.id = ri.id),
         |tm AS (SELECT mh.query_id,
         |        round(h::DOUBLE / rank / least($K, nr.nrel),
         |          8)::DECIMAL(38,8) AS t
         |      FROM mh JOIN nr ON nr.query_id = mh.query_id),
         |ap AS (SELECT query_id, sum(t) AS s FROM tm GROUP BY 1)
         |SELECT q.query_id, round(coalesce(ap.s::DOUBLE, 0.0), 6) AS ap
         |FROM q LEFT JOIN ap USING (query_id)
         |ORDER BY 1, 2""".stripMargin,
    // q109's unrolled integer rounds with seed-only teleport
    "q278_ppr" -> {
      val step = (i: Int) =>
        s"""i$i AS (SELECT e.dst AS id, sum((p.pr * 85) // ${100 * PrK})::BIGINT AS m
           |      FROM e JOIN p${i - 1} p ON p.id = e.src GROUP BY e.dst),
           |p$i AS (SELECT v.id,
           |      (CASE WHEN sd.id IS NOT NULL THEN 15000000000000 // (100 * ns.ns)
           |            ELSE 0 END + coalesce(i$i.m, 0))::BIGINT AS pr
           |      FROM v LEFT JOIN sd ON sd.id = v.id CROSS JOIN ns
           |      LEFT JOIN i$i ON i$i.id = v.id)""".stripMargin
      s"""WITH $knnDigraphCtes,
         |sd AS (SELECT id FROM v WHERE id % 50 = 0),
         |ns AS (SELECT count(*) AS ns FROM sd),
         |p0 AS (SELECT v.id,
         |      CASE WHEN sd.id IS NOT NULL THEN 1000000000000 // ns.ns
         |           ELSE 0 END AS pr
         |      FROM v LEFT JOIN sd ON sd.id = v.id CROSS JOIN ns),
         |${step(1)},
         |${step(2)},
         |${step(3)}
         |SELECT id, pr::BIGINT AS pr FROM p$PrIters ORDER BY 1, 2""".stripMargin
    },
    // integer-cents string head (never floor(log10)); baked 6dp shares
    "q275_benford" ->
      s"""WITH e(digit, expected) AS (VALUES ${Pipeline.benfordExpectedSql}),
         |c AS (SELECT CAST(round(o_totalprice * 100.0) AS BIGINT) AS c
         |      FROM orders),
         |d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
         |      FROM c WHERE c > 0),
         |h AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
         |t AS (SELECT greatest(sum(n)::BIGINT, 1) AS t FROM h)
         |SELECT e.digit, coalesce(h.n, 0)::BIGINT AS n,
         |  round(coalesce(h.n, 0)::DOUBLE / t.t, 6) AS share, e.expected,
         |  round(coalesce(h.n, 0)::DOUBLE / t.t - e.expected, 6) AS delta
         |FROM e LEFT JOIN h USING (digit) CROSS JOIN t
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // one explode + one per-source agg; the same split/trim/drop chain
    "q273_sentence_dup" ->
      """WITH s AS (SELECT source,
        |    unnest(list_filter(list_transform(
        |      string_split_regex(text, '[.!?]+'), x -> trim(x)),
        |      x -> x <> '')) AS sentence
        |  FROM documents)
        |SELECT source, count(*)::BIGINT AS n_sentences,
        |  count(DISTINCT sentence)::BIGINT AS n_distinct,
        |  round((count(*) - count(DISTINCT sentence))::DOUBLE / count(*), 6)
        |    AS dup_rate
        |FROM s GROUP BY 1 ORDER BY 1, 2, 3, 4""".stripMargin,
    // two digraph snapshots (full vs every-10th-dropped), edge-set
    // intersection per shared node, exact overlap histogram
    "q270_knn_stability" ->
      s"""WITH ${knnDigraphCtesFor("", "")},
         |${knnDigraphCtesFor("2", " WHERE vec_id % 10 <> 7")},
         |c AS (SELECT e2.src, count(*) AS c FROM e2
         |      JOIN e ON e.src = e2.src AND e.dst = e2.dst GROUP BY 1),
         |sh AS (SELECT src FROM (SELECT DISTINCT src FROM e)
         |       WHERE src IN (SELECT DISTINCT src FROM e2))
         |SELECT n_common, count(*)::BIGINT AS n_nodes FROM (
         |  SELECT coalesce(c.c, 0)::BIGINT AS n_common
         |  FROM sh LEFT JOIN c USING (src))
         |GROUP BY 1 ORDER BY 1, 2""".stripMargin,
    "q252_ivf_recall_curve" -> {
      val pDist = Tables.distSql("cos", "v.vec", "h.head_vec")
      val hDist = Tables.distSql("cos", "q.qvec", "h.head_vec")
      val sDist = Tables.distSql("cos", "ch.qvec", "p.vec")
      val tDist = Tables.distSql("cos", "q.qvec", "v.vec")
      val perNp = IvfNprobes.map { np =>
        s"""hits$np AS (SELECT ch.query_id, p.id, min($sDist) AS dist
           |  FROM (SELECT * FROM chr WHERE rn <= $np) ch
           |  JOIN p ON ch.head_id = p.head_id GROUP BY 1, 2),
           |r$np AS (SELECT query_id, id FROM (SELECT query_id, id,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY dist, id) AS rank FROM hits$np) WHERE rank <= $K)"""
          .stripMargin
      }.mkString(",\n")
      val rows = IvfNprobes.map { np =>
        s"""SELECT $np AS nprobe,
           |  (SELECT count(*) FROM truth) AS n_true,
           |  (SELECT count(*) FROM r$np JOIN truth USING (query_id, id))
           |    AS n_hit""".stripMargin
      }.mkString(" UNION ALL ")
      s"""WITH v AS MATERIALIZED (
         |  SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |q AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qvec
         |  FROM embeddings WHERE vec_id < 10),
         |h AS MATERIALIZED (SELECT id AS head_id, vec AS head_vec FROM v
         |  WHERE id % 25 = 0),
         |pd AS (SELECT v.id, v.vec, h.head_id, $pDist AS dist
         |       FROM v CROSS JOIN h),
         |p AS MATERIALIZED (SELECT * FROM (SELECT id, vec, head_id, dist,
         |    row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS rn
         |  FROM pd) WHERE rn <= 1),
         |chd AS (SELECT q.query_id, q.qvec, h.head_id, $hDist AS hdist
         |        FROM q CROSS JOIN h),
         |chr AS MATERIALIZED (SELECT query_id, qvec, head_id, hdist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY hdist, head_id) AS rn FROM chd),
         |td AS (SELECT q.query_id, v.id, $tDist AS dist FROM q CROSS JOIN v),
         |truth AS MATERIALIZED (SELECT query_id, id FROM (
         |    SELECT query_id, id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY dist, id) AS rank FROM td) WHERE rank <= $K),
         |$perNp
         |SELECT nprobe, n_true, n_hit,
         |  CASE WHEN n_true > 0
         |       THEN n_hit::DOUBLE / n_true::DOUBLE END AS recall
         |FROM ($rows)
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    "q251_contamination_spans" ->
      dupSpanSql("x.doc_id % 10 <> 7 AND y.doc_id % 10 = 7"),
    "q250_freq_spectrum" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH tok AS (SELECT source, unnest($toks) AS token FROM documents),
         |c AS (SELECT source, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |b AS (SELECT CAST(k AS INT) AS octave,
         |        (1::BIGINT << CAST(k AS INT)) AS lo,
         |        CASE WHEN k = 39 THEN 9223372036854775807::BIGINT
         |             ELSE (2::BIGINT << CAST(k AS INT)) END AS hi
         |      FROM (SELECT unnest(generate_series(0, 39)) AS k))
         |SELECT c.source, b.octave, b.lo,
         |  CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(sum(c.cnt) AS BIGINT) AS n_occurrences
         |FROM c JOIN b ON c.cnt >= b.lo AND c.cnt < b.hi
         |GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin
    },
    "q245_kmv_overlap" -> {
      val h = graft.functions.Hash60.sql("token")
      val M = "1152921504606846976.0" // 2^60, the Hash60 value space
      val k = KmvK
      s"""WITH tok AS (SELECT source, unnest(TOKS) AS token FROM documents
         |             WHERE source IN ('src0', 'src1')),
         |dh AS (SELECT DISTINCT source, $h AS hh FROM tok),
         |r AS (SELECT source, hh,
         |        row_number() OVER (PARTITION BY source ORDER BY hh) AS rn
         |      FROM dh),
         |sa AS (SELECT list_sort(coalesce(list(hh), [])) AS ka FROM r
         |       WHERE source = 'src0' AND rn <= $k),
         |sb AS (SELECT list_sort(coalesce(list(hh), [])) AS kb FROM r
         |       WHERE source = 'src1' AND rn <= $k),
         |m AS (SELECT ka, kb,
         |        list_sort(list_distinct(list_concat(ka, kb)))[1:$k] AS u
         |      FROM sa CROSS JOIN sb)
         |SELECT $k AS k,
         |  CASE WHEN len(ka) < $k THEN len(ka)::DOUBLE
         |       ELSE ${k - 1}.0 * $M / (ka[$k])::DOUBLE END AS est_a,
         |  CASE WHEN len(kb) < $k THEN len(kb)::DOUBLE
         |       ELSE ${k - 1}.0 * $M / (kb[$k])::DOUBLE END AS est_b,
         |  CASE WHEN len(u) < $k THEN len(u)::DOUBLE
         |       ELSE ${k - 1}.0 * $M / (u[$k])::DOUBLE END AS est_union,
         |  CASE WHEN len(u) > 0 THEN
         |    len(list_filter(u, x -> list_contains(ka, x) AND list_contains(kb, x)))::DOUBLE
         |      / len(u)::DOUBLE
         |      * (CASE WHEN len(u) < $k THEN len(u)::DOUBLE
         |              ELSE ${k - 1}.0 * $M / (u[$k])::DOUBLE END)
         |  ELSE 0.0 END AS est_intersect
         |FROM m ORDER BY 1, 2, 3, 4, 5""".stripMargin
        .replace("TOKS", TextAnalysis.Sql.toks("text"))
    },
    "q243_k_anonymity" ->
      s"""SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
         |  count(*) < $KAnonK AS at_risk
         |FROM documents GROUP BY 1, 2
         |ORDER BY 1, 2, 3, 4""".stripMargin,
    "q244_lsh_recall" ->
      s"""WITH $minhashCtes,
         |tr AS (SELECT a, b FROM jac WHERE jaccard >= 0.3),
         |ht AS (SELECT t.a, t.b FROM tr t JOIN cand c ON t.a = c.a AND t.b = c.b),
         |s AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_true,
         |        (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
         |        (SELECT CAST(count(*) AS BIGINT) FROM ht) AS n_hit)
         |SELECT n_true, n_candidates, n_hit,
         |  CASE WHEN n_true > 0
         |    THEN n_hit::DOUBLE / n_true::DOUBLE END AS recall,
         |  CASE WHEN n_candidates > 0
         |    THEN n_hit::DOUBLE / n_candidates::DOUBLE END AS "precision"
         |FROM s ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // every double below is the SAME fixed IEEE expression over exact
    // DECIMAL(38,0) sums in both engines — emitted unrounded (q222 class)
    "q242_ab_test" -> {
      val h = graft.functions.Hash60.sql("user_id::VARCHAR || ':ab'")
      s"""WITH pu AS (SELECT user_id,
         |        CAST(sum(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS x
         |      FROM events GROUP BY user_id),
         |u AS (SELECT CASE WHEN ($h % 2) = 0 THEN 'control'
         |               ELSE 'treatment' END AS variant, x FROM pu),
         |g AS (SELECT variant, CAST(count(*) AS DECIMAL(38,0)) AS n,
         |        sum(CAST(x AS DECIMAL(38,0))) AS sx,
         |        sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx
         |      FROM u GROUP BY 1),
         |p AS (SELECT a.variant AS variant_a, a.n AS na, a.sx AS sxa, a.sxx AS sxxa,
         |        b.variant AS variant_b, b.n AS nb, b.sx AS sxb, b.sxx AS sxxb
         |      FROM g a JOIN g b ON a.variant < b.variant),
         |m AS (SELECT variant_a, na, variant_b, nb,
         |        sxa::DOUBLE / na::DOUBLE / 10000.0 AS ma,
         |        sxb::DOUBLE / nb::DOUBLE / 10000.0 AS mb,
         |        CASE WHEN na >= 2 THEN (na * sxxa - sxa * sxa)::DOUBLE
         |          / (na * (na - 1))::DOUBLE / 100000000.0 END AS va,
         |        CASE WHEN nb >= 2 THEN (nb * sxxb - sxb * sxb)::DOUBLE
         |          / (nb * (nb - 1))::DOUBLE / 100000000.0 END AS vb
         |      FROM p)
         |SELECT variant_a, CAST(na AS BIGINT) AS n_a, ma AS mean_a,
         |  variant_b, CAST(nb AS BIGINT) AS n_b, mb AS mean_b,
         |  CASE WHEN na >= 2 AND nb >= 2
         |        AND (va / na::DOUBLE + vb / nb::DOUBLE) > 0
         |    THEN (ma - mb) / sqrt(va / na::DOUBLE + vb / nb::DOUBLE)
         |  END AS t_welch,
         |  CASE WHEN na >= 2 AND nb >= 2
         |        AND (((na - 1)::DOUBLE * va + (nb - 1)::DOUBLE * vb)
         |             / (na + nb - 2)::DOUBLE) > 0
         |    THEN (ma - mb) / sqrt(((na - 1)::DOUBLE * va + (nb - 1)::DOUBLE * vb)
         |                          / (na + nb - 2)::DOUBLE)
         |  END AS cohens_d
         |FROM m ORDER BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin
    },
    "q240_group_split" -> {
      val h = graft.functions.Hash60.sql("grp.canon_id::VARCHAR || ':gsplit'")
      s"""WITH RECURSIVE $minhashCtes,
         |pr AS (SELECT j.a, j.b FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
         |       WHERE j.jaccard >= 0.3),
         |edges AS (SELECT a AS u, b AS v FROM pr UNION SELECT b, a FROM pr),
         |walk(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.id
         |),
         |grp AS (SELECT id AS doc_id, min(lbl) AS canon_id FROM walk GROUP BY id)
         |SELECT d.doc_id, d.source, grp.canon_id,
         |  CASE WHEN ($h % 10000) < 8000 THEN 'train'
         |       WHEN ($h % 10000) < 9000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents d JOIN grp ON grp.doc_id = d.doc_id
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    "q241_leakage_audit" -> {
      val split = Pipeline.stratifiedSplitSql(80, 10, "split")
      s"""WITH $minhashCtes,
         |pr AS (SELECT j.a, j.b FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
         |       WHERE j.jaccard >= 0.3),
         |spn AS ($split),
         |lk AS (SELECT least(sa.split, sb.split) AS split_a,
         |         greatest(sa.split, sb.split) AS split_b
         |       FROM pr JOIN spn sa ON sa.doc_id = pr.a
         |       JOIN spn sb ON sb.doc_id = pr.b)
         |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM lk GROUP BY 1, 2
         |ORDER BY 1, 2, 3""".stripMargin
    },
    // doubled average ranks (2·rank + |ties| − 1, exact integers) feed the
    // q221 DECIMAL power-sum correlation — mirrored term for term
    "q238_spearman" ->
      s"""WITH sc AS (SELECT source, ${TextAnalysis.Sql.qualityRawExpr} AS q,
         |              n_chars FROM documents),
         |r AS (SELECT source,
         |        2 * rank() OVER (PARTITION BY source ORDER BY q)
         |          + count(*) OVER (PARTITION BY source, q) - 1 AS x,
         |        2 * rank() OVER (PARTITION BY source ORDER BY n_chars)
         |          + count(*) OVER (PARTITION BY source, n_chars) - 1 AS y
         |      FROM sc),
         |s AS (SELECT source, CAST(count(*) AS DECIMAL(38,0)) AS n,
         |        CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         |        CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         |        sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
         |        sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
         |        sum(CAST(y * y AS DECIMAL(38,0))) AS syy FROM r GROUP BY 1)
         |SELECT source, CAST(n AS BIGINT) AS n,
         |  CASE WHEN (n * sxx - sx * sx)::DOUBLE > 0
         |        AND (n * syy - sy * sy)::DOUBLE > 0
         |    THEN round((n * sxy - sx * sy)::DOUBLE /
         |      (sqrt((n * sxx - sx * sx)::DOUBLE)
         |       * sqrt((n * syy - sy * sy)::DOUBLE)), 6)
         |  END AS spearman
         |FROM s ORDER BY 1, 2, 3""".stripMargin,
    "q239_source_similarity" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH st AS (SELECT DISTINCT src, token FROM
         |      (SELECT source AS src, unnest($toks) AS token FROM documents)),
         |sz AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY 1),
         |p AS (SELECT a.src AS src_a, b.src AS src_b,
         |        CAST(count(*) AS BIGINT) AS n_common
         |      FROM st a JOIN st b ON a.token = b.token AND a.src < b.src
         |      GROUP BY 1, 2)
         |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
         |  round(n_common::DOUBLE / (sa.n + sb.n - n_common)::DOUBLE, 6)
         |    AS jaccard
         |FROM p JOIN sz sa ON sa.src = p.src_a JOIN sz sb ON sb.src = p.src_b
         |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin
    },
    "q237_unpivot" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH per AS (SELECT source,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(coalesce(sum(len($toks)), 0) AS BIGINT) AS n_tokens,
         |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |  FROM documents GROUP BY source)
         |SELECT source, 'n_docs' AS metric, n_docs AS value FROM per
         |UNION ALL SELECT source, 'n_tokens', n_tokens FROM per
         |UNION ALL SELECT source, 'sum_chars', sum_chars FROM per
         |ORDER BY 1, 2, 3""".stripMargin
    },
    "q223_position_attribution" ->
      // the middle share is written as the same IEEE expression Spark
      // computes ((1.0 − 2·w)/(n−2)), never a pre-folded literal; rank ties
      // at equal µs break on view_id in both engines
      s"""WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS pts, value
         |           FROM events WHERE event_type = 'purchase'),
         |v AS (SELECT user_id, event_id AS view_id, ts AS vts
         |      FROM events WHERE event_type = 'view'),
         |j AS (SELECT purchase_id, p.user_id, view_id, vts, value
         |      FROM p JOIN v USING (user_id)
         |      WHERE vts <= pts AND vts >= pts - INTERVAL $AttrWindowMin MINUTES),
         |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY purchase_id
         |         ORDER BY epoch_us(vts), view_id) AS INT) AS touch_rank FROM j),
         |n AS (SELECT purchase_id, count(*) AS n_touch FROM j GROUP BY 1)
         |SELECT rk.purchase_id, rk.user_id, rk.view_id, n.n_touch, rk.touch_rank,
         |  round(rk.value * (CASE
         |    WHEN n.n_touch = 1 THEN 1.0
         |    WHEN n.n_touch = 2 THEN 0.5
         |    WHEN rk.touch_rank = 1 OR rk.touch_rank = n.n_touch THEN $AttrEndWeight
         |    ELSE (1.0 - 2 * $AttrEndWeight) / (n.n_touch - 2) END), 6) AS credit
         |FROM rk JOIN n USING (purchase_id)
         |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin,
    "q222_embedding_health" ->
      s"""WITH e AS (SELECT dim - 1 AS dim, x::DOUBLE AS x,
         |      CAST(round(x::DOUBLE * 1000) AS BIGINT) AS xs
         |    FROM (SELECT unnest(embedding) AS x,
         |            generate_subscripts(embedding, 1) AS dim FROM embeddings)),
         |s AS (SELECT dim, CAST(count(*) AS DECIMAL(38,0)) AS n,
         |        CAST(sum(xs) AS DECIMAL(38,0)) AS s,
         |        sum(CAST(xs * xs AS DECIMAL(38,0))) AS ss,
         |        sum(CASE WHEN x = 0.0 THEN 1 ELSE 0 END) AS n_zero,
         |        min(x) AS minv, max(x) AS maxv
         |      FROM e GROUP BY 1)
         |SELECT dim, CAST(n AS BIGINT) AS n,
         |  s::DOUBLE / (n * 1000)::DOUBLE AS mean,
         |  sqrt((n * ss - s * s)::DOUBLE) / (n * 1000)::DOUBLE AS std,
         |  CAST(n_zero AS BIGINT) AS n_zero,
         |  minv, maxv,
         |  minv = maxv AS dead
         |FROM s ORDER BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin,
    "q221_group_trend" ->
      s"""WITH t AS (SELECT event_type,
         |    CAST(floor(epoch_us(ts) / 60000000) AS BIGINT) AS x,
         |    CAST(round(value * 10000) AS BIGINT) AS y FROM events),
         |s AS (SELECT event_type, CAST(count(*) AS DECIMAL(38,0)) AS n,
         |        CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         |        CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         |        sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
         |        sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
         |        sum(CAST(y * y AS DECIMAL(38,0))) AS syy FROM t GROUP BY 1)
         |SELECT event_type, CAST(n AS BIGINT) AS n,
         |  CASE WHEN (n * sxx - sx * sx)::DOUBLE > 0 AND (n * syy - sy * sy)::DOUBLE > 0
         |    THEN round((n * sxy - sx * sy)::DOUBLE /
         |      (sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE)), 6)
         |  END AS corr,
         |  CASE WHEN (n * sxx - sx * sx)::DOUBLE > 0
         |    THEN round((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE, 6)
         |  END AS beta
         |FROM s ORDER BY 1, 2, 3, 4""".stripMargin,
    "q219_asof_nearest" -> {
      // windows ORDER BY epoch_us(ts): Spark's TimestampType is µs while
      // DuckDB reads the parquet at ns — truncate ties identically
      val tolUs = NearestTolSec * 1000000L
      s"""WITH r AS (SELECT user_id, ts, event_id, value FROM events
         |           WHERE event_type = 'view'),
         |l AS (SELECT user_id, ts, event_id, value FROM events
         |      WHERE event_type = 'purchase'),
         |u AS (SELECT user_id, ts, 0 AS tagb, 1 AS tagf, event_id AS rid,
         |        event_id AS peid, NULL::BIGINT AS l_eid, NULL::DOUBLE AS l_val FROM r
         |      UNION ALL
         |      SELECT user_id, ts, 1, 0, 9223372036854775807, NULL, event_id, value FROM l),
         |m AS (SELECT user_id, ts, tagb, l_eid, l_val,
         |        last_value(peid IGNORE NULLS) OVER (PARTITION BY user_id
         |          ORDER BY epoch_us(ts), tagb, rid ROWS UNBOUNDED PRECEDING) AS beid,
         |        first_value(peid IGNORE NULLS) OVER (PARTITION BY user_id
         |          ORDER BY epoch_us(ts), tagf, rid
         |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS feid
         |      FROM u),
         |j AS (SELECT m.user_id, epoch_us(m.ts) AS us, m.l_eid, m.l_val,
         |        b.event_id AS b_eid, epoch_us(b.ts) AS bus, b.value AS bval,
         |        f.event_id AS f_eid, epoch_us(f.ts) AS fus, f.value AS fval
         |      FROM m LEFT JOIN r b ON b.event_id = m.beid
         |             LEFT JOIN r f ON f.event_id = m.feid
         |      WHERE m.tagb = 1),
         |p AS (SELECT *,
         |        (bus IS NOT NULL AND us - bus <= $tolUs AND
         |         (fus IS NULL OR fus - us > $tolUs OR us - bus <= fus - us)) AS useb
         |      FROM j),
         |p2 AS (SELECT *,
         |        (NOT useb AND fus IS NOT NULL AND fus - us <= $tolUs) AS usef
         |       FROM p)
         |SELECT user_id, us AS ts, l_eid AS event_id, l_val AS value,
         |  CASE WHEN useb THEN b_eid WHEN usef THEN f_eid END AS nearest_event_id,
         |  CASE WHEN useb THEN bus WHEN usef THEN fus END AS nearest_us,
         |  CASE WHEN useb THEN bval WHEN usef THEN fval END AS nearest_value,
         |  CASE WHEN useb THEN 'b' WHEN usef THEN 'f' END AS direction
         |FROM p2 ORDER BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin
    },
    "q220_interval_islands" -> {
      s"""WITH iv AS (SELECT user_id, epoch_us(ts) AS lo,
         |              epoch_us(ts) + $IslandSpanUs AS hi FROM events),
         |m AS (SELECT user_id, lo, hi,
         |        max(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |      FROM iv),
         |n AS (SELECT *, CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0 END AS nw FROM m),
         |s AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY lo, hi
         |        ROWS UNBOUNDED PRECEDING) AS island FROM n)
         |SELECT user_id, min(lo) AS island_start, max(hi) AS island_end,
         |  count(*) AS n_intervals
         |FROM s GROUP BY user_id, island
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    "q218_matryoshka" -> {
      // stage-for-stage mirror: 1-based inclusive list slices = Spark's
      // slice(vec, 1, P); ties on id in both ranking stages
      val pDist = Tables.distSql("cos", s"pq.qvec", s"pv.vec")
      val fDist = Tables.distSql("cos", "q.qvec", "v.vec")
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         |pv AS (SELECT id, vec[1:$MatPrefix] AS vec FROM v),
         |pq AS (SELECT query_id, qvec[1:$MatPrefix] AS qvec FROM q),
         |s1 AS (SELECT pq.query_id, pv.id, $pDist AS pdist FROM pq CROSS JOIN pv),
         |c AS (SELECT query_id, id FROM (SELECT query_id, id,
         |        row_number() OVER (PARTITION BY query_id ORDER BY pdist, id) AS rn FROM s1)
         |      WHERE rn <= $MatRerank),
         |d AS (SELECT c.query_id, c.id, $fDist AS dist
         |      FROM c JOIN q USING (query_id) JOIN v ON v.id = c.id),
         |r AS (SELECT query_id, id, dist,
         |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank FROM d)
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM r WHERE rank <= $K
         |ORDER BY query_id, rank, id, dist""".stripMargin
    },
    "q38_ann_ivf" -> {
      val pDist = Tables.distSql("cos", "v.vec", "h.head_vec")
      val hDist = Tables.distSql("cos", "q.qvec", "h.head_vec")
      val sDist = Tables.distSql("cos", "ch.qvec", "p.vec")
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         |h AS (SELECT id AS head_id, vec AS head_vec FROM v WHERE id % 25 = 0),
         |pd AS (SELECT v.id, v.vec, h.head_id, $pDist AS dist FROM v CROSS JOIN h),
         |p AS (SELECT * FROM (SELECT id, vec, head_id, dist,
         |        row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS rn FROM pd) WHERE rn <= 1),
         |chd AS (SELECT q.query_id, q.qvec, h.head_id, $hDist AS hdist FROM q CROSS JOIN h),
         |ch AS (SELECT * FROM (SELECT query_id, qvec, head_id, hdist,
         |        row_number() OVER (PARTITION BY query_id ORDER BY hdist, head_id) AS rn FROM chd) WHERE rn <= 4),
         |hits AS (SELECT ch.query_id, p.id, min($sDist) AS dist
         |         FROM ch JOIN p ON ch.head_id = p.head_id GROUP BY ch.query_id, p.id),
         |r AS (SELECT query_id, id, dist,
         |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank FROM hits)
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM r WHERE rank <= $K
         |ORDER BY query_id, rank, id, dist""".stripMargin
    },
    "q39_fingerprint" ->
      s"""SELECT doc_id,
         |  list_min(list_transform(generate_series(1, greatest(length(text) - 7, 1)),
         |    i -> ${graft.functions.Hash60.sql("substr(text, i, 8)")})) AS fingerprint
         |FROM documents
         |ORDER BY doc_id, fingerprint""".stripMargin,
    "q40_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id AS id,
         |       list_transform(embedding, v -> round(v::DOUBLE * 1000)::BIGINT) AS qv FROM embeddings),
         |w AS (SELECT p, d,
         |        ${graft.functions.Hash60.sql("p::VARCHAR || '_' || d::VARCHAR")} % 2001 - 1000 AS wt
         |      FROM generate_series(0, 7) gp(p), generate_series(0, 63) gd(d)),
         |dots AS (SELECT e.id, w.p, sum(e.qv[w.d + 1] * w.wt) AS dot FROM e, w GROUP BY e.id, w.p)
         |SELECT id, CAST(sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS code
         |FROM dots GROUP BY id
         |ORDER BY id, code""".stripMargin,
    "q41_multimodal" ->
      s"""SELECT doc_id,
         |  octet_length(encode(text)) AS n_bytes,
         |  ascii(substr(text, 1, 1)) AS first_byte,
         |  CAST(list_sum(list_transform(generate_series(1, length(text)),
         |    i -> ascii(substr(text, i, 1)))) AS BIGINT) AS checksum
         |FROM documents
         |ORDER BY doc_id, n_bytes, first_byte, checksum""".stripMargin,
    "q42_pq_search" -> pqAdcOracleSql(rotated = false),
    "q197_rvq_search" -> rvqOracleSql,
    "q43_events_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY window_start, event_type, n, sum_value""".stripMargin,
    "q44_tpch_q3" ->
      """WITH top AS (
        |  SELECT l_orderkey, o_orderdate,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'FURNITURE' AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
        |  GROUP BY l_orderkey, o_orderdate
        |  ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10)
        |SELECT l_orderkey, o_orderdate, revenue FROM top
        |ORDER BY l_orderkey, o_orderdate, revenue""".stripMargin,
    "q45_query_parse" ->
      """WITH strs AS (
        |  SELECT o_orderkey AS query_id,
        |    '$k:' || (o_orderkey % 20 + 1)::VARCHAR ||
        |    '$index:idx' || (o_orderkey % 3)::VARCHAR ||
        |    '|' || month(o_orderdate)::VARCHAR ||
        |    '|' || day(o_orderdate)::VARCHAR ||
        |    '|' || (o_orderkey % 97)::VARCHAR AS query
        |  FROM orders WHERE o_orderkey < 100),
        |parsed AS (
        |  SELECT query_id,
        |    coalesce(CAST(nullif(regexp_extract(query, '\$k:([^$|#]+)', 1), '') AS INT), 10) AS k,
        |    nullif(regexp_extract(query, '\$index:([^$|#]+)', 1), '') AS index_name,
        |    list_transform(
        |      list_filter(string_split(regexp_replace(query, '^(\$[^$|#]+)*', ''), '|'), t -> t <> ''),
        |      t -> CAST(t AS FLOAT)) AS qvec
        |  FROM strs)
        |SELECT query_id, k, index_name, len(qvec) AS dim, CAST(qvec[1] AS INT) AS v0
        |FROM parsed
        |ORDER BY query_id, k, index_name, dim, v0""".stripMargin,
    // the roundtripped index must be exactly the built postings + the
    // roundtripped metadata per posting row
    "q46_index_roundtrip" ->
      s"""WITH ${spannCtes()}
         |SELECT p.head_id, p.id, round(p.dist, 4) AS dist, v.meta
         |FROM p JOIN v ON v.id = p.id
         |ORDER BY p.head_id, p.id, dist, meta""".stripMargin,
    // add = union: searching base+batch is exact kNN over the whole corpus
    "q47_add_search" -> knnOracle("l2sq"),
    "q48_delete_by_meta" -> knnOracle("l2sq", corpusFilter = "AND meta <> 'RF'"),
    "q49_graph_rebuild" -> {
      val dd = Tables.distSql("l2sq", "a.vec", "b.vec")
      s"""WITH v AS MATERIALIZED (${Tables.lineitemVecSql}),
         |qv AS MATERIALIZED (SELECT id, list_transform(vec, x -> round(x::DOUBLE * 1000)::BIGINT) AS q FROM v),
         |w AS MATERIALIZED (SELECT t, p, d,
         |        ${graft.functions.Hash60.sql("t::VARCHAR || '_' || p::VARCHAR || '_' || d::VARCHAR")} % 2001 - 1000 AS wt
         |      FROM generate_series(0, 1) gt(t), generate_series(0, 7) gp(p), generate_series(0, 5) gd(d)),
         |dots AS MATERIALIZED (SELECT qv.id, w.t, w.p, sum(qv.q[w.d + 1] * w.wt) AS dot FROM qv, w GROUP BY 1, 2, 3),
         |leaves AS MATERIALIZED (SELECT id, t, CAST(sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS leaf
         |           FROM dots GROUP BY id, t),
         |lsrc AS MATERIALIZED (SELECT t, leaf, id AS src FROM leaves WHERE id <= 2000),
         |pairs AS MATERIALIZED (SELECT DISTINCT s.src, r.id AS dst, $dd AS d
         |          FROM lsrc s JOIN leaves r ON s.t = r.t AND s.leaf = r.leaf AND s.src <> r.id
         |          JOIN v a ON a.id = s.src JOIN v b ON b.id = r.id),
         |ranked AS MATERIALIZED (SELECT * FROM (
         |    SELECT src, dst, d,
         |           row_number() OVER (PARTITION BY src ORDER BY d, dst) AS rn
         |    FROM pairs) WHERE rn <= 8),
         |ind AS MATERIALIZED (SELECT dst, count(*) AS in_deg FROM ranked GROUP BY dst),
         |rr AS MATERIALIZED (SELECT r.src, r.dst, r.d,
         |         row_number() OVER (PARTITION BY r.src ORDER BY i.in_deg, r.d, r.dst) AS rn2
         |       FROM ranked r JOIN ind i ON i.dst = r.dst)
         |SELECT src, dst, round(d, 4) AS dist FROM rr WHERE rn2 <= 4
         |ORDER BY src, dst, dist""".stripMargin
    },
    // per-shard top-k + global re-merge is exactly global exact kNN
    "q50_scatter_gather" -> knnOracle("l2sq"),
    // partial aggregation ≡ exact kNN over the surviving shards (shard 2
    // of the id%4 split is down), plus the two literal status columns
    "q285_scatter_partial" -> knnOracle("l2sq",
      corpusFilter = "AND id % 4 <> 2",
      extraSel = ", 3 AS n_shards_ok, 4 AS n_shards",
      extraOrder = ", n_shards_ok, n_shards"),
    "q51_merge_index" -> {
      val dd = Tables.distSql("l2sq", "q.qvec", "v.vec")
      s"""WITH v0 AS (${Tables.lineitemVecSql}),
         |v AS (SELECT id,
         |        CASE WHEN id % 7 = 0
         |          THEN list_transform(vec, x -> CAST(x::DOUBLE + 1 AS FLOAT))
         |          ELSE vec END AS vec,
         |        meta FROM v0),
         |q AS (SELECT * FROM (${Tables.ordersQuerySql}) WHERE query_id < $QN),
         |dd AS (SELECT q.query_id, v.id, $dd AS dist FROM q CROSS JOIN v),
         |r AS (SELECT query_id, id, dist,
         |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
         |      FROM dd)
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM r WHERE rank <= $K
         |ORDER BY query_id, rank, id, dist""".stripMargin
    },
    // all three format roundtrips are float-exact, so each equals the fixture
    "q52_legacy_roundtrip" -> {
      val vcols = (1 to 6).map(i => s"vec[$i] AS v$i").mkString(", ")
      s"""WITH v AS (${Tables.lineitemVecSql}),
         |base AS (SELECT id - 1 AS id, vec FROM v WHERE id <= 2000)
         |SELECT f.fmt, base.id, $vcols
         |FROM base CROSS JOIN (VALUES ('default'), ('xvec'), ('txt')) f(fmt)
         |ORDER BY fmt, id, v1, v2, v3, v4, v5, v6""".stripMargin
    },
    // two-level routed SPANN: stage-0 super-heads (window top-SuperK per
    // query), routing table (top-RouteReplicas super per head), stage-1 heads
    // from the chosen buckets only (DISTINCT — a head may arrive via two
    // supers), stage-2 as q08
    "q53_spann_hier" -> {
      val qsDist = Tables.distSql("l2sq", "q.qvec", "s.super_vec")
      val hsDist = Tables.distSql("l2sq", "h.head_vec", "s.super_vec")
      val qhDist = Tables.distSql("l2sq", "q.qvec", "h.head_vec")
      val sDist = Tables.distSql("l2sq", "ch2.qvec", "p.vec")
      s"""WITH ${spannCtes()},
         |s AS (SELECT head_id AS super_id, head_vec AS super_vec FROM h
         |      WHERE head_id % $SuperNth = 0),
         |shd AS (SELECT q.query_id, s.super_id, $qsDist AS sdist FROM q CROSS JOIN s),
         |sch AS (SELECT * FROM (
         |    SELECT query_id, super_id, sdist,
         |           row_number() OVER (PARTITION BY query_id ORDER BY sdist, super_id) AS rn
         |    FROM shd) WHERE rn <= $SuperK),
         |rtd AS (SELECT h.head_id, s.super_id, $hsDist AS rdist FROM h CROSS JOIN s),
         |rt AS (SELECT * FROM (
         |    SELECT head_id, super_id, rdist,
         |           row_number() OVER (PARTITION BY head_id ORDER BY rdist, super_id) AS rn
         |    FROM rtd) WHERE rn <= $RouteReplicas),
         |cand2 AS (SELECT DISTINCT sch.query_id, rt.head_id
         |          FROM sch JOIN rt ON sch.super_id = rt.super_id),
         |c2d AS (SELECT c.query_id, q.qvec, c.head_id, $qhDist AS hdist
         |        FROM cand2 c JOIN q ON c.query_id = q.query_id
         |        JOIN h ON c.head_id = h.head_id),
         |ch2 AS (SELECT * FROM (
         |    SELECT query_id, qvec, head_id, hdist,
         |           CAST(row_number() OVER (PARTITION BY query_id ORDER BY hdist, head_id) AS INT) AS rank
         |    FROM c2d) WHERE rank <= $InternalK),
         |s2hits AS (SELECT ch2.query_id, p.id, min($sDist) AS dist
         |           FROM ch2 JOIN p ON ch2.head_id = p.head_id
         |           GROUP BY ch2.query_id, p.id),
         |sp2 AS (SELECT * FROM (
         |    SELECT query_id, id, dist,
         |           CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
         |    FROM s2hits) WHERE rank <= $K)
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM sp2
         |ORDER BY query_id, rank, id, dist""".stripMargin
    },
    "q54_posting_truncate" ->
      s"""WITH ${spannCtes()},
         |tp AS (SELECT head_id, id, dist,
         |         row_number() OVER (PARTITION BY head_id ORDER BY dist, id) AS trn
         |       FROM p)
         |SELECT head_id, id, round(dist, 4) AS dist FROM tp WHERE trn <= 600
         |ORDER BY head_id, id, dist""".stripMargin,
    "q56_opq_adc" -> pqAdcOracleSql(rotated = true),
    "q57_refine" -> {
      // q07's posting build over the post-compaction corpus: survivors only,
      // heads re-selected from survivors
      val pDist = Tables.distSql("l2sq", "v.vec", "h.head_vec")
      s"""WITH v0 AS (${Tables.lineitemVecSql}),
         |v AS (SELECT * FROM v0 WHERE id % 7 <> 3),
         |h AS (SELECT id AS head_id, vec AS head_vec FROM v WHERE id % $HeadNth = 0),
         |pd AS (SELECT v.id, h.head_id, $pDist AS dist FROM v CROSS JOIN h),
         |p AS (SELECT * FROM (
         |    SELECT id, head_id, dist,
         |           row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS rn
         |    FROM pd) WHERE rn <= $Replicas)
         |SELECT head_id, id, round(dist, 4) AS dist FROM p
         |ORDER BY head_id, id, dist""".stripMargin
    },
    // the partitioned write/read roundtrip must reproduce the plain
    // fixed-center assignment (q16 without the dist column)
    "q58_balanced_partition" -> {
      val dd = Tables.distSql("l2sq", "v.vec", "c.center")
      s"""WITH v AS (${Tables.lineitemVecSql}),
         |c AS (SELECT id - 1 AS cluster_id, vec AS center FROM v WHERE id <= 8),
         |d AS (SELECT v.id, c.cluster_id, $dd AS dist FROM v CROSS JOIN c),
         |a AS (SELECT id, cluster_id,
         |        row_number() OVER (PARTITION BY id ORDER BY dist, cluster_id) AS rn FROM d)
         |SELECT id, cluster_id FROM a WHERE rn = 1
         |ORDER BY id, cluster_id""".stripMargin
    },
    "q59_serving_route" -> {
      val dd = Tables.distSql("l2sq", "s.qvec", "v.vec")
      s"""WITH v AS (${Tables.lineitemVecSql}),
         |q AS (SELECT * FROM (${Tables.ordersQuerySql}) WHERE query_id < $QN),
         |ix AS (SELECT unnest([0, 1, 2]) AS i),
         |sel AS (SELECT q.query_id, q.qvec, ix.i FROM q CROSS JOIN ix
         |        WHERE q.query_id % 10 = 0 OR q.query_id % 3 = ix.i),
         |dd AS (SELECT s.query_id, s.i, v.id, $dd AS dist
         |       FROM sel s JOIN v ON v.id % 3 = s.i),
         |r AS (SELECT query_id, i, id, dist,
         |        CAST(row_number() OVER (PARTITION BY query_id, i ORDER BY dist, id) AS INT) AS rank
         |      FROM dd)
         |SELECT 'idx' || i::VARCHAR AS index_name, query_id, rank, id,
         |       round(dist, 4) AS dist
         |FROM r WHERE rank <= $K
         |ORDER BY index_name, query_id, rank, id, dist""".stripMargin
    },
    "q55_head_recall" -> {
      val exDist = Tables.distSql("l2sq", "q.qvec", "v.vec")
      s"""WITH ${spannCtes()},
         |exd AS (SELECT q.query_id, v.id, $exDist AS dist FROM q CROSS JOIN v),
         |ex AS (SELECT * FROM (
         |    SELECT query_id, id, dist,
         |           row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS rank
         |    FROM exd) WHERE rank <= $K),
         |cov AS (SELECT DISTINCT ex.query_id, ex.id
         |        FROM ex JOIN p ON ex.id = p.id
         |        JOIN ch ON ch.query_id = ex.query_id AND ch.head_id = p.head_id),
         |cvn AS (SELECT query_id, count(*) AS covered FROM cov GROUP BY query_id),
         |tot AS (SELECT query_id, count(*) AS total FROM ex GROUP BY query_id)
         |SELECT t.query_id,
         |       round(coalesce(cvn.covered, 0)::DOUBLE / t.total, 4) AS head_recall
         |FROM tot t LEFT JOIN cvn ON t.query_id = cvn.query_id
         |ORDER BY t.query_id, head_recall""".stripMargin
    },
    // connected components by recursive reachability: walk(id, lbl) = "lbl's
    // doc can reach id over near-dup edges"; edges are undirected, so the
    // min reachable lbl per id IS the component minimum
    "q62_kmeans_heads" -> kmeansHeadsOracleSql,
    "q64_pq_sdc" -> pqSdcOracleSql,
    "q67_spann_adc" -> spannAdcOracleSql,
    "q68_spann_iter" -> spannIterOracleSql,
    // mirrors lshSearch(dims=64, planes=8, rowsPerBand=2): the shared
    // banding chain, query side = the embQueries prefix (vec_id < 10),
    // exact rerank
    "q65_ann_lsh_search" -> {
      val cd = Tables.distSql("cos", "q.vec", "v.vec")
      s"""WITH $lshBandCtes,
         |cand AS (SELECT DISTINCT qb.id AS query_id, cb.id AS id
         |         FROM bands qb JOIN bands cb ON qb.band = cb.band AND qb.bv = cb.bv
         |         WHERE qb.id < 10),
         |dd AS (SELECT c.query_id, c.id, $cd AS dist
         |       FROM cand c JOIN e q ON q.id = c.query_id JOIN e v ON v.id = c.id),
         |r AS (SELECT query_id, id, dist,
         |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
         |      FROM dd)
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM r WHERE rank <= $K
         |ORDER BY query_id, rank, id, dist""".stripMargin
    },
    "q63_spann_ratio" ->
      s"""WITH ${spannCtes(Some(2.0))}
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM sp
         |ORDER BY query_id, rank, id, dist""".stripMargin,
    // the kept set = docs that are their own component minimum (same walk
    // CTE as q60, filtered to the canonical representative)
    "q66_dedup_apply" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT j.a, j.b FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
         |          WHERE j.jaccard >= 0.3),
         |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |walk(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.id
         |)
         |SELECT id AS doc_id FROM walk GROUP BY id HAVING min(lbl) = id
         |ORDER BY 1""".stripMargin,
    // corpus = doc_id%10<>7, eval = %10=7; same shingle chain as q33/q34;
    // contamination = |doc shingles ∩ eval shingle set| / |doc shingles|
    "q69_decontaminate" ->
      s"""WITH $shingleCtes,
         |csh AS (SELECT * FROM sh WHERE doc_id % 10 <> 7),
         |esh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 7),
         |hits AS (SELECT c.doc_id, count(*) AS n_cont
         |         FROM csh c JOIN esh e ON c.sh = e.sh GROUP BY c.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM csh GROUP BY doc_id)
         |SELECT s.doc_id, s.n_shingles,
         |       coalesce(h.n_cont, 0) AS n_contaminated,
         |       round(coalesce(h.n_cont, 0)::DOUBLE / s.n_shingles::DOUBLE, 4) AS contamination
         |FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
         |ORDER BY 1, 2, 3, 4""".stripMargin,
    // NON-distinct trigram occurrences (unlike the dedup shingle chain):
    // total, distinct, duplicate fraction, top single trigram's share
    "q70_repetition" ->
      s"""WITH t AS (SELECT doc_id, ${TextAnalysis.Sql.toks("text")} AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(
         |        generate_series(1, greatest(len(toks) - 2, 1)),
         |        i -> array_to_string(toks[i:i+2], ' '))) AS g FROM t),
         |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
         |r AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
         |        count(*) AS n_distinct, max(c) AS top_count
         |      FROM c GROUP BY doc_id)
         |SELECT doc_id, n_ngrams, n_distinct,
         |       round(1.0::DOUBLE - n_distinct::DOUBLE / n_ngrams::DOUBLE, 4) AS dup_ratio,
         |       round(top_count::DOUBLE / n_ngrams::DOUBLE, 4) AS top_ngram_ratio
         |FROM r
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    "q71_curate" -> curateOracleSql,
    "q98_curate_v2" -> curateV2OracleSql,
    "q72_source_stats" -> {
      val h60 = graft.functions.Hash60.sql("text")
      s"""WITH q AS (SELECT doc_id, source, ${TextAnalysis.Sql.qualityExpr} AS quality
         |           FROM documents),
         |h AS (SELECT doc_id, $h60 AS h FROM documents),
         |c AS (SELECT h, min(doc_id) AS canon FROM h GROUP BY h),
         |d AS (SELECT h.doc_id, CASE WHEN h.doc_id <> c.canon THEN 1 ELSE 0 END AS is_dup
         |      FROM h JOIN c ON h.h = c.h)
         |SELECT q.source, count(*) AS n_docs,
         |       round(CAST(SUM(CAST(q.quality AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS mean_quality,
         |       round(sum(d.is_dup)::DOUBLE / count(*), 4) AS dup_rate
         |FROM q JOIN d ON q.doc_id = d.doc_id
         |GROUP BY q.source
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    // same projection as TextAnalysis.scrub over the shared dual-dialect
    // regex list (counts on the original text; replacements in list order)
    "q73_pii_scrub" ->
      s"""SELECT ${TextAnalysis.Sql.scrubSelect(ScrubPatterns)}
         |FROM documents ORDER BY 1""".stripMargin,
    // the hash-draw keep predicate, verbatim
    "q74_mixture_sample" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE ${Pipeline.mixtureSampleSql(MixWeights, MixDefault, MixSalt)}
         |ORDER BY 1, 2""".stripMargin,
    // per-bucket running token totals; integer window sums are exact in
    // both engines, so pack boundaries hash-match
    "q75_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, doc_id % $PackBuckets AS bucket,
         |        len(${TextAnalysis.Sql.toks("text")})::BIGINT AS n_tokens
         |      FROM documents),
         |w AS (SELECT doc_id, bucket, n_tokens,
         |        (sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |         - n_tokens)::BIGINT AS start_off
         |      FROM t)
         |SELECT doc_id, bucket, n_tokens,
         |       CAST(floor(start_off::DOUBLE / $PackBudget.0) AS BIGINT) AS pack_id,
         |       (start_off % $PackBudget)::BIGINT AS pack_off
         |FROM w ORDER BY 1""".stripMargin,
    // distinct-per-doc shingle chain shared with q33/q69; df >= 5
    "q76_boilerplate" ->
      s"""WITH $shingleCtes,
         |freq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh
         |         HAVING count(*) >= 5),
         |tot AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT f.sh, f.df,
         |       round(f.df::DOUBLE / tot.n_docs::DOUBLE, 4) AS doc_share
         |FROM freq f CROSS JOIN tot ORDER BY 1, 2, 3""".stripMargin,
    "q77_kdtree_build" ->
      s"""WITH ${kdtreeCtes(KdDepth)}
         |SELECT id, node AS leaf FROM a$KdDepth ORDER BY 1, 2""".stripMargin,
    "q78_kdtree_search" -> kdtreeSearchOracleSql,
    "q79_kdtree_beam" -> kdtreeBeamOracleSql,
    "q80_kdtree_forest" -> kdtreeForestOracleSql,
    // same integer derivations as the Spark side (reader ids are 0-based per
    // file in collect order → id - 1, the q52 convention); DuckDB and Spark
    // share sign-of-dividend % semantics
    "q81_legacy_typed" -> {
      def vcols(expr: Int => String): String =
        (1 to 6).map(i => s"CAST(${expr(i)} AS FLOAT) AS v$i").mkString(", ")
      s"""WITH v AS (${Tables.lineitemVecSql}),
         |base AS (SELECT id - 1 AS id,
         |           list_transform(vec, x -> round(x::DOUBLE*1000)::BIGINT) AS iv
         |         FROM v WHERE id <= 1000)
         |SELECT 'default_int8' AS tag, id, ${vcols(i => s"iv[$i] % 127")} FROM base
         |UNION ALL
         |SELECT 'default_uint8' AS tag, id, ${vcols(i => s"abs(iv[$i]) % 255")} FROM base
         |UNION ALL
         |SELECT 'default_int16' AS tag, id, ${vcols(i => s"iv[$i] % 32767")} FROM base
         |UNION ALL
         |SELECT 'xvec_uint8' AS tag, id, ${vcols(i => s"abs(iv[$i]) % 255")} FROM base
         |ORDER BY tag, id, v1, v2, v3, v4, v5, v6""".stripMargin
    },
    // the full-corpus pair set restricted to pairs whose b is in the batch:
    // with the id-ordered split every (corpus→batch) and within-batch pair
    // has a < b, so the incremental pipeline must reproduce q33 exactly on
    // this slice — corpus-internal pairs (b < IncrSplit) never appear
    "q82_dedup_incremental" ->
      s"""WITH $minhashCtes
         |SELECT j.a, j.b, j.jaccard FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
         |WHERE j.jaccard >= 0.3 AND j.b >= $IncrSplit
         |ORDER BY 1, 2, 3""".stripMargin,
    "q83_mixture_upsample" ->
      s"""${Pipeline.mixtureUpsampleSql(UpWeights, UpDefault, MixSalt)}
         |ORDER BY 1, 2, 3""".stripMargin,
    // identical pair set to q82: persistence must not change the answer
    "q84_dedup_index_probe" ->
      s"""WITH $minhashCtes
         |SELECT j.a, j.b, j.jaccard FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
         |WHERE j.jaccard >= 0.3 AND j.b >= $IncrSplit
         |ORDER BY 1, 2, 3""".stripMargin,
    "q85_quality_quantile" ->
      s"""${Pipeline.qualityQuantileFloorSql(0.4)}
         |ORDER BY 1, 2""".stripMargin,
    "q86_token_budget" ->
      s"""${Pipeline.tokenBudgetSelectSql(TokenBudget)}
         |ORDER BY 1, 2, 3""".stripMargin,
    "q87_corpus_shard" ->
      s"""${Pipeline.shardAssignSql(ShardCount, "shuffle")}
         |ORDER BY 1, 2, 3""".stripMargin,
    "q88_vocabulary" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH t AS (SELECT $toks AS toks FROM documents),
         |tok AS (SELECT unnest(toks) AS token FROM t)
         |SELECT token, count(*) AS cnt FROM tok
         |GROUP BY token ORDER BY cnt DESC, token LIMIT $VocabSize""".stripMargin
    },
    // q08's two-stage chain with the q04 metadata predicate applied to
    // stage-2 hits before the per-query top-k
    "q89_spann_filtered" ->
      s"""WITH ${spannCtes(wideK = WideK, closeRatio = CloseRatio,
             corpusFilter = Some("meta <> 'AF'"))}
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM sp
         |ORDER BY query_id, rank, id, dist""".stripMargin,
    // the q17 TP-tree graph on the id≤SgCorpus subset, then the beam walk
    // replayed round-for-round: seeds (best SgSeeds of the pivot set) →
    // per-round frontier expansion / visited-set anti-join / top-SgBeam cut
    "q90_graph_search" -> {
      val gDist = Tables.distSql("l2sq", "a.vec", "b.vec")
      val sDist = Tables.distSql("l2sq", "q.qvec", "p.vec")
      val nDist = Tables.distSql("l2sq", "q.qvec", "v.vec")
      val rounds = (1 to SgRounds).map { r =>
        s"""cand$r AS (SELECT DISTINCT f.query_id, g.dst AS id
           |           FROM f${r - 1} f JOIN g ON g.src = f.id),
           |new$r AS MATERIALIZED (SELECT c.query_id, c.id, $nDist AS dist
           |     FROM cand$r c JOIN q ON q.query_id = c.query_id
           |     JOIN vs v ON v.id = c.id
           |     WHERE NOT EXISTS (SELECT 1 FROM vis${r - 1} w
           |                       WHERE w.query_id = c.query_id AND w.id = c.id)),
           |vis$r AS MATERIALIZED (SELECT * FROM vis${r - 1} UNION ALL SELECT * FROM new$r),
           |f$r AS (SELECT query_id, id, dist FROM (
           |    SELECT query_id, id, dist,
           |           row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS rn
           |    FROM new$r) WHERE rn <= $SgBeam)""".stripMargin
      }.mkString(",\n")
      s"""WITH v0 AS (${Tables.lineitemVecSql}),
         |vs AS (SELECT id, vec FROM v0 WHERE id <= $SgCorpus),
         |q AS (SELECT * FROM (${Tables.ordersQuerySql}) WHERE query_id < $QN),
         |qv AS (SELECT id, list_transform(vec, x -> round(x::DOUBLE * 1000)::BIGINT) AS q FROM vs),
         |w AS (SELECT t, p, d,
         |        ${graft.functions.Hash60.sql("t::VARCHAR || '_' || p::VARCHAR || '_' || d::VARCHAR")} % 2001 - 1000 AS wt
         |      FROM generate_series(0, 1) gt(t), generate_series(0, 7) gp(p), generate_series(0, 5) gd(d)),
         |dots AS (SELECT qv.id, w.t, w.p, sum(qv.q[w.d + 1] * w.wt) AS dot FROM qv, w GROUP BY 1, 2, 3),
         |leaves AS (SELECT id, t, CAST(sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS leaf
         |           FROM dots GROUP BY id, t),
         |gpairs AS (SELECT DISTINCT s.src, r.id AS dst, $gDist AS d
         |          FROM (SELECT t, leaf, id AS src FROM leaves) s
         |          JOIN leaves r ON s.t = r.t AND s.leaf = r.leaf AND s.src <> r.id
         |          JOIN vs a ON a.id = s.src JOIN vs b ON b.id = r.id),
         |g AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY d, dst) AS rn
         |    FROM gpairs) WHERE rn <= $SgNbr),
         |piv AS (SELECT id, vec FROM vs WHERE id % $SgPivotNth = 0),
         |sd AS (SELECT q.query_id, p.id, $sDist AS dist FROM q CROSS JOIN piv p),
         |f0 AS (SELECT query_id, id, dist FROM (
         |    SELECT query_id, id, dist,
         |           row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS rn
         |    FROM sd) WHERE rn <= $SgSeeds),
         |vis0 AS MATERIALIZED (SELECT * FROM f0),
         |$rounds
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM (
         |    SELECT query_id, id, dist,
         |           CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
         |    FROM vis$SgRounds)
         |WHERE rank <= $K
         |ORDER BY query_id, rank, id, dist""".stripMargin
    },
    // bigram counts trained on the corpus itself; per-term log-probs rounded
    // to 6dp and decimal-summed (order-independent), mean rounded to 4dp
    "q91_ngram_lm" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
         |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
         |vv AS (SELECT count(DISTINCT w) AS vocab
         |       FROM (SELECT unnest(toks) AS w FROM t)),
         |lp AS (SELECT bg.doc_id,
         |         round(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * vv.vocab)), 6)::DECIMAL(18,9) AS lp
         |       FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv)
         |SELECT doc_id, count(*) AS n_bigrams,
         |       round(sum(lp)::DOUBLE / count(*), 4) AS lm_score
         |FROM lp GROUP BY doc_id
         |ORDER BY 1, 2, 3""".stripMargin
    },
    // occurrence-level spans → df-flagged shingles (DISTINCT-per-doc df,
    // q76's rule) → non-equi covering anti-join → ordered re-join
    "q92_strip_boilerplate" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |sp AS (SELECT doc_id, i AS start, array_to_string(toks[i:i+2], ' ') AS sh
         |       FROM (SELECT doc_id, toks,
         |               unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i
         |             FROM t)),
         |freq AS (SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM sp)
         |         GROUP BY sh HAVING count(*) >= 5),
         |hs AS (SELECT doc_id, start FROM sp WHERE sh IN (SELECT sh FROM freq)),
         |tok AS (SELECT doc_id, p, toks[p] AS tok
         |        FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS p
         |              FROM t)),
         |keep AS (SELECT k.doc_id, k.p, k.tok FROM tok k
         |         WHERE NOT EXISTS (SELECT 1 FROM hs
         |                           WHERE hs.doc_id = k.doc_id
         |                             AND hs.start <= k.p AND k.p < hs.start + 3)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_clean,
         |               count(*) AS n_kept
         |        FROM keep GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(a.text_clean, '') AS text_clean,
         |       (len(t.toks) - coalesce(a.n_kept, 0))::BIGINT AS n_removed
         |FROM t LEFT JOIN agg a USING (doc_id)
         |ORDER BY 1, 2, 3""".stripMargin
    },
    "q93_bpe_merges" ->
      s"""WITH ${bpeCtes(BpeRounds)}
         |${(1 to BpeRounds).map(r =>
             s"SELECT CAST($r AS INT) AS round, x AS lhs, y AS rhs, pc::BIGINT AS cnt FROM t$r")
             .mkString("\n|UNION ALL ")}
         |ORDER BY 1, 2, 3, 4""".stripMargin,
    "q94_bpe_segments" ->
      s"""WITH ${bpeCtes(BpeRounds)}
         |SELECT token, cnt, seg FROM s$BpeRounds
         |ORDER BY 1, 2, 3""".stripMargin,
    "q95_hard_negatives" -> {
      val cd = Tables.distSql("cos", "q.qvec", "v.vec")
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec, label FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel FROM embeddings),
         |d AS (SELECT q.query_id, v.id, $cd AS dist
         |      FROM q JOIN v ON v.label <> q.qlabel),
         |r AS (SELECT query_id, id, dist,
         |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
         |      FROM d)
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM r WHERE rank <= $K
         |ORDER BY query_id, rank, id, dist""".stripMargin
    },
    "q96_knn_classify" -> {
      val cd = Tables.distSql("cos", "q.qvec", "v.vec")
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec, label FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         |d AS (SELECT q.query_id, v.id, $cd AS dist FROM q CROSS JOIN v),
         |r AS (SELECT query_id, id FROM (
         |    SELECT query_id, id, dist,
         |           row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS rank
         |    FROM d) WHERE rank <= $K),
         |c AS (SELECT r.query_id, v.label, count(*) AS votes
         |      FROM r JOIN v USING (id) GROUP BY 1, 2),
         |w AS (SELECT query_id, label AS pred_label, votes,
         |        row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
         |      FROM c)
         |SELECT query_id, pred_label, votes FROM w WHERE rn = 1
         |ORDER BY 1, 2, 3""".stripMargin
    },
    "q97_rule_filter" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val stop = TextAnalysis.Sql.hitCount("toks", TextAnalysis.Stopwords.head._2)
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |m AS (SELECT doc_id,
         |        len(toks)::BIGINT AS n_tokens,
         |        round(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::DOUBLE
         |              / greatest(len(toks), 1)::DOUBLE, 4) AS mean_word_len,
         |        round(len(list_filter(toks, x -> regexp_full_match(x, '[a-z]+')))::DOUBLE
         |              / greatest(len(toks), 1)::DOUBLE, 4) AS alpha_ratio,
         |        $stop::BIGINT AS stop_hits
         |      FROM t)
         |SELECT doc_id, n_tokens, mean_word_len, alpha_ratio, stop_hits,
         |       (n_tokens >= 10 AND n_tokens <= 10000) AS ok_length,
         |       (mean_word_len >= 2.0 AND mean_word_len <= 12.0) AS ok_word_len,
         |       (alpha_ratio >= 0.7) AS ok_alpha,
         |       (stop_hits >= 2) AS ok_stopwords,
         |       ((n_tokens >= 10 AND n_tokens <= 10000)
         |        AND (mean_word_len >= 2.0 AND mean_word_len <= 12.0)
         |        AND (alpha_ratio >= 0.7) AND (stop_hits >= 2)) AS keep
         |FROM m
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin
    },
    "q60_dedup_groups" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT j.a, j.b FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
         |          WHERE j.jaccard >= 0.3),
         |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |walk(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.id
         |)
         |SELECT id AS doc_id, min(lbl) AS canon_id FROM walk GROUP BY id
         |ORDER BY 1, 2""".stripMargin,
    // lag-gap-cumsum sessionization; gap math is NTZ-safe interval
    // arithmetic, sums through DECIMAL(18,4) (q43 convention)
    "q99_sessionize" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts > lag(ts) OVER w + INTERVAL $SessionGapMin MINUTE
         |         THEN 1 ELSE 0 END AS new_s
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (SELECT user_id, ts, value,
         |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |          AS session_idx
         |      FROM g)
         |SELECT user_id, session_idx::BIGINT AS session_idx, min(ts) AS session_start,
         |  max(ts) AS session_end, count(*) AS n_events,
         |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM s GROUP BY user_id, session_idx
         |ORDER BY user_id, session_idx""".stripMargin,
    // stage-chained filtered min-aggregations; each stage joins the users
    // who reached the previous one, bounded by the conversion window
    "q100_funnel" -> {
      val win = s"INTERVAL $FunnelWithinMin MINUTE"
      s"""WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
         |            WHERE event_type = '${FunnelStages(0)}' GROUP BY user_id),
         |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
         |       JOIN s1 ON e.user_id = s1.user_id
         |       WHERE e.event_type = '${FunnelStages(1)}' AND e.ts > s1.t
         |         AND e.ts <= s1.t + $win
         |       GROUP BY e.user_id),
         |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
         |       JOIN s2 ON e.user_id = s2.user_id
         |       WHERE e.event_type = '${FunnelStages(2)}' AND e.ts > s2.t
         |         AND e.ts <= s2.t + $win
         |       GROUP BY e.user_id)
         |SELECT user_id, 1 AS stage, '${FunnelStages(0)}' AS stage_name, t FROM s1
         |UNION ALL SELECT user_id, 2, '${FunnelStages(1)}', t FROM s2
         |UNION ALL SELECT user_id, 3, '${FunnelStages(2)}', t FROM s3
         |ORDER BY user_id, stage""".stripMargin
    },
    // signup-day cohorts × day-offset distinct actives
    "q101_retention" ->
      """WITH c AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
        |           FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, c.cohort_day,
        |        date_diff('day', c.cohort_day, date_trunc('day', e.ts)) AS day_offset
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE date_trunc('day', e.ts) >= c.cohort_day)
        |SELECT cohort_day, day_offset, count(*) AS n_users
        |FROM a GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin,
    // token-window chunking: range(0, n, stride) lateral unnest mirrors the
    // in-row sequence explode; list_slice clamps like Spark's slice
    "q102_chunks" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |x AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t
         |      WHERE len(toks) > 0),
         |c AS (SELECT doc_id, n, toks,
         |        unnest(range(0, n, $ChunkStride)) AS start FROM x)
         |SELECT doc_id, start // $ChunkStride AS chunk_idx, start AS start_tok,
         |  least($ChunkWindow, n - start) AS n_tokens,
         |  array_to_string(list_slice(toks, CAST(start + 1 AS INT),
         |    CAST(start + $ChunkWindow AS INT)), ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
    },
    // SQ8: per-dim [min,max] fit (min/max in FLOAT then one cast to DOUBLE,
    // matching Spark), floor(x+0.5) rounding — exact in both engines
    "q103_sq_codes" ->
      """WITH e AS (SELECT vec_id AS id, embedding FROM embeddings),
        |d AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        |        unnest(embedding) AS v FROM e),
        |s AS (SELECT dim, CAST(min(v) AS DOUBLE) AS mn,
        |        CAST(max(v) AS DOUBLE) AS mx FROM d GROUP BY dim),
        |a AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
        |      FROM s)
        |SELECT id, i - 1 AS dim,
        |  CASE WHEN mxs[i] = mns[i] THEN 0
        |       ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - mns[i])
        |                       / (mxs[i] - mns[i]) * 255 + 0.5) AS BIGINT)
        |  END AS code
        |FROM e, a, unnest(range(1, len(embedding) + 1)) AS u(i)
        |ORDER BY id, dim""".stripMargin,
    // TF-IDF: rank on the 6dp-rounded weight (token tie-break) so the
    // per-doc ordering is engine-independent; ln = Spark's log
    "q104_tfidf" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY doc_id, token),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |n AS (SELECT count(*) AS n FROM documents),
         |s AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
         |        round(tf.tf::DOUBLE * ln(n.n::DOUBLE / df.df::DOUBLE), 6) AS tfidf
         |      FROM tf JOIN df USING (token), n),
         |r AS (SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id
         |        ORDER BY tfidf DESC, token) AS INT) AS rank,
         |        token, tf, df, tfidf FROM s)
         |SELECT doc_id, rank, token, tf, df, tfidf FROM r WHERE rank <= $TfIdfTopK
         |ORDER BY doc_id, rank, token, tf, df, tfidf""".stripMargin
    },
    // BM25: per-term partials summed as DECIMAL(38,12) (exact,
    // order-independent), top-k cut on the 4dp round with doc_id tie-break
    "q105_bm25" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT doc_id, toks, len(toks)::BIGINT AS dl
         |           FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |c AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM d),
         |t AS (SELECT doc_id, dl, unnest(toks) AS token FROM d),
         |tf AS (SELECT doc_id, dl, token, count(*) AS tf FROM t
         |       WHERE token IN ($termList) GROUP BY doc_id, dl, token),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |s AS (SELECT tf.doc_id,
         |        (ln(1.0 + (c.n::DOUBLE - df.df::DOUBLE + 0.5) / (df.df::DOUBLE + 0.5))
         |          * tf.tf::DOUBLE * (1.2 + 1.0)
         |          / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl::DOUBLE / c.avgdl))
         |        )::DECIMAL(38,12) AS s
         |      FROM tf JOIN df USING (token), c)
         |SELECT * FROM (
         |  SELECT doc_id, round(sum(s)::DOUBLE, 4) AS score FROM s GROUP BY doc_id
         |  ORDER BY score DESC, doc_id LIMIT $Bm25K)
         |ORDER BY doc_id, score""".stripMargin
    },
    "q106_split" -> {
      val body = Pipeline.stratifiedSplitSql(80, 10, "split")
      s"SELECT * FROM ($body) ORDER BY doc_id, source, split"
    },
    "q107_mixture_weights" -> {
      val body = Pipeline.mixtureWeightsSql(0.5)
      s"SELECT * FROM ($body) ORDER BY source, n_docs, n_tokens, weight"
    },
    // cross-source shingle contamination: distinct (source, 3-shingle) rows,
    // per-shingle pair join (sources few — bounded fan-out), set Jaccard
    "q108_source_overlap" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH s AS (SELECT DISTINCT source AS src, sh FROM (
         |  SELECT source, unnest(list_distinct(list_transform(
         |    generate_series(1, greatest(len(toks) - 2, 1)),
         |    i -> array_to_string(toks[i:i+2], ' ')))) AS sh
         |  FROM (SELECT source, $toks AS toks FROM documents))),
         |p AS (SELECT l.src AS src_a, r.src AS src_b, count(*) AS n_shared
         |      FROM s l JOIN s r ON l.sh = r.sh AND l.src < r.src
         |      GROUP BY l.src, r.src),
         |z AS (SELECT src, count(*) AS n_sh FROM s GROUP BY src)
         |SELECT p.src_a, p.src_b, p.n_shared,
         |  round(p.n_shared::DOUBLE / (za.n_sh + zb.n_sh - p.n_shared)::DOUBLE, 4) AS jaccard
         |FROM p JOIN z za ON za.src = p.src_a JOIN z zb ON zb.src = p.src_b
         |ORDER BY src_a, src_b, n_shared, jaccard""".stripMargin
    },
    // integer-exact PageRank: ranks in 1e-12 units, damping 85/100, floor
    // division (// here, `div` in Spark — identical on non-negative BIGINTs),
    // BIGINT sums; 3 unrolled rounds over the 5-NN cosine digraph
    "q109_pagerank" -> {
      val cd = Tables.distSql("cos", "a.vec", "b.vec")
      val step = (i: Int) =>
        s"""i$i AS (SELECT e.dst AS id, sum((p.pr * 85) // ${100 * PrK}) AS m
           |      FROM e JOIN p${i - 1} p ON p.id = e.src GROUP BY e.dst),
           |p$i AS (SELECT v.id, 15000000000000 // (100 * n.n) + coalesce(i$i.m, 0) AS pr
           |      FROM v CROSS JOIN n LEFT JOIN i$i ON i$i.id = v.id)""".stripMargin
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |dd AS (SELECT a.id AS src, b.id AS dst, $cd AS dist
         |       FROM v a CROSS JOIN v b WHERE a.id <> b.id),
         |e AS (SELECT src, dst FROM (SELECT src, dst,
         |        row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn FROM dd)
         |      WHERE rn <= $PrK),
         |n AS (SELECT count(*) AS n FROM v),
         |p0 AS (SELECT id, 1000000000000 // n.n AS pr FROM v CROSS JOIN n),
         |${step(1)},
         |${step(2)},
         |${step(3)}
         |SELECT id, pr::BIGINT AS pr FROM p3 ORDER BY id, pr""".stripMargin
    },
    // q102's chunk CTEs feeding q105's BM25 CTEs over the chunk text —
    // passage key doc_id·1000 + chunk_idx
    "q110_passage_retrieval" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val ctoks = TextAnalysis.Sql.toks("chunk_text")
      val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH t0 AS (SELECT doc_id, $toks AS toks FROM documents),
         |x AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t0
         |      WHERE len(toks) > 0),
         |ch AS (SELECT doc_id, n, toks,
         |        unnest(range(0, n, $ChunkStride)) AS start FROM x),
         |p AS (SELECT doc_id * 1000 + start // $ChunkStride AS pid,
         |        array_to_string(list_slice(toks, CAST(start + 1 AS INT),
         |          CAST(start + $ChunkWindow AS INT)), ' ') AS chunk_text
         |      FROM ch),
         |d AS (SELECT pid, toks, len(toks)::BIGINT AS dl
         |      FROM (SELECT pid, $ctoks AS toks FROM p)),
         |c AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM d),
         |t AS (SELECT pid, dl, unnest(toks) AS token FROM d),
         |tf AS (SELECT pid, dl, token, count(*) AS tf FROM t
         |       WHERE token IN ($termList) GROUP BY pid, dl, token),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |s AS (SELECT tf.pid,
         |        (ln(1.0 + (c.n::DOUBLE - df.df::DOUBLE + 0.5) / (df.df::DOUBLE + 0.5))
         |          * tf.tf::DOUBLE * (1.2 + 1.0)
         |          / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl::DOUBLE / c.avgdl))
         |        )::DECIMAL(38,12) AS s
         |      FROM tf JOIN df USING (token), c)
         |SELECT pid // 1000 AS doc_id, pid % 1000 AS chunk_idx, score FROM (
         |  SELECT pid, round(sum(s)::DOUBLE, 4) AS score FROM s GROUP BY pid
         |  ORDER BY score DESC, pid LIMIT $Bm25K)
         |ORDER BY doc_id, chunk_idx, score""".stripMargin
    },
    // q60's group chain + the size spectrum
    "q111_dup_histogram" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT j.a, j.b FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
         |          WHERE j.jaccard >= 0.3),
         |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |walk(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.id
         |),
         |g AS (SELECT id AS doc_id, min(lbl) AS canon_id FROM walk GROUP BY id),
         |sz AS (SELECT canon_id, count(*) AS group_size FROM g GROUP BY canon_id)
         |SELECT group_size, count(*) AS n_groups FROM sz
         |GROUP BY group_size ORDER BY group_size, n_groups""".stripMargin,
    // SPFresh-style rebalance replay: p = the standard replica-4 posting
    // assignment; pivots = lexicographic-greatest (dist, id) / (dA, id)
    // members (mirrors Spark's max_by on the ordering struct); sides by
    // dA <= dB; orphans re-assigned rank-1 against survivors; the final
    // GROUP BY (head_id, id) min(dist) dedups replicas that collapse onto
    // one head (identical values, so min ≡ Spark's dropDuplicates)
    "q113_rebalance" -> {
      val pDist = Tables.distSql("l2sq", "v.vec", "h.head_vec")
      val aDist = Tables.distSql("l2sq", "m.vec", "pa.avec")
      val bDist = Tables.distSql("l2sq", "mb.vec", "pb.bvec")
      val oDist = Tables.distSql("l2sq", "o.vec", "s.head_vec")
      s"""WITH v AS MATERIALIZED (${Tables.lineitemVecSql}),
         |h AS MATERIALIZED (SELECT id AS head_id, vec AS head_vec FROM v WHERE id % $HeadNth = 0),
         |pd AS (SELECT v.id, v.vec, h.head_id, $pDist AS dist FROM v CROSS JOIN h),
         |p AS MATERIALIZED (SELECT id, vec, head_id, dist FROM (
         |    SELECT id, vec, head_id, dist,
         |           row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS rn
         |    FROM pd) WHERE rn <= $Replicas),
         |l AS MATERIALIZED (SELECT head_id, count(*) AS len FROM p GROUP BY head_id),
         |ov AS (SELECT head_id FROM l WHERE len > $RebalMax),
         |un AS (SELECT head_id FROM l WHERE len < $RebalMin),
         |m AS MATERIALIZED (SELECT p.* FROM p JOIN ov USING (head_id)),
         |pa AS MATERIALIZED (SELECT head_id, vec AS avec FROM (
         |    SELECT head_id, vec,
         |           row_number() OVER (PARTITION BY head_id ORDER BY dist DESC, id DESC) AS rn
         |    FROM m) WHERE rn = 1),
         |mb AS MATERIALIZED (SELECT m.head_id, m.id, m.vec, $aDist AS da
         |       FROM m JOIN pa USING (head_id)),
         |pb AS MATERIALIZED (SELECT head_id, vec AS bvec FROM (
         |    SELECT head_id, vec,
         |           row_number() OVER (PARTITION BY head_id ORDER BY da DESC, id DESC) AS rn
         |    FROM mb) WHERE rn = 1),
         |off AS (SELECT max(head_id) + 1 AS off FROM h),
         |sd AS MATERIALIZED (SELECT mb.head_id, mb.id, mb.da AS dist_a, $bDist AS dist_b
         |       FROM mb JOIN pb USING (head_id)),
         |sp AS MATERIALIZED (SELECT CASE WHEN dist_a <= dist_b THEN head_id
         |              ELSE head_id + off.off END AS head_id, id,
         |         CASE WHEN dist_a <= dist_b THEN dist_a ELSE dist_b END AS dist
         |       FROM sd, off),
         |sh AS MATERIALIZED (SELECT head_id, avec AS head_vec FROM pa
         |       UNION ALL
         |       SELECT pa.head_id + off.off, pb.bvec
         |       FROM pa JOIN pb USING (head_id), off),
         |surv AS MATERIALIZED (SELECT head_id, head_vec FROM h
         |         WHERE head_id NOT IN (SELECT head_id FROM ov
         |                               UNION SELECT head_id FROM un)
         |         UNION ALL SELECT head_id, head_vec FROM sh),
         |orp AS MATERIALIZED (SELECT DISTINCT p.id, p.vec FROM p JOIN un USING (head_id)),
         |rd AS MATERIALIZED (SELECT o.id, s.head_id, $oDist AS dist
         |       FROM orp o CROSS JOIN surv s),
         |ra AS MATERIALIZED (SELECT head_id, id, dist FROM (
         |    SELECT head_id, id, dist,
         |           row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS rn
         |    FROM rd) WHERE rn = 1),
         |keep AS MATERIALIZED (SELECT head_id, id, dist FROM p
         |         WHERE head_id NOT IN (SELECT head_id FROM ov
         |                               UNION SELECT head_id FROM un)),
         |allp AS (SELECT head_id, id, dist FROM keep
         |         UNION ALL SELECT head_id, id, dist FROM sp
         |         UNION ALL SELECT head_id, id, dist FROM ra)
         |SELECT head_id, id, round(min(dist), 4) AS dist FROM allp
         |GROUP BY head_id, id
         |ORDER BY head_id, id, dist""".stripMargin
    },
    // MaxSim late interaction: per-(query-token, doc-bag) max similarity,
    // per-(query-bag, doc-bag) decimal sum, rank on the 4dp round
    "q114_maxsim" -> {
      val cd = Tables.distSql("cos", "qb.qvec", "e.vec")
      s"""WITH e AS (SELECT vec_id AS id, embedding AS vec, label FROM embeddings),
         |qb AS (SELECT label AS query_label, id AS qvid, vec AS qvec
         |       FROM (SELECT vec_id AS id, embedding AS vec, label FROM embeddings)
         |       WHERE label < $MaxSimQBags),
         |sims AS (SELECT qb.query_label, qb.qvid, e.label AS doc_label,
         |           1.0 - $cd AS sim
         |         FROM qb CROSS JOIN e),
         |mx AS (SELECT query_label, qvid, doc_label, max(sim) AS m
         |       FROM sims GROUP BY query_label, qvid, doc_label),
         |sc AS (SELECT query_label, doc_label,
         |         round(sum(m::DECIMAL(38,12))::DOUBLE, 4) AS score
         |       FROM mx GROUP BY query_label, doc_label),
         |r AS (SELECT query_label,
         |        CAST(row_number() OVER (PARTITION BY query_label
         |          ORDER BY score DESC, doc_label) AS INT) AS rank,
         |        doc_label, score FROM sc)
         |SELECT query_label, rank, doc_label, score FROM r WHERE rank <= $MaxSimK
         |ORDER BY query_label, rank, doc_label, score""".stripMargin
    },
    // q72's source stats + token mass + the per-source langId mode
    // (cnt DESC, lang ASC — Spark's min_by over (−cnt, lang))
    "q115_corpus_report" -> {
      val h60 = graft.functions.Hash60.sql("text")
      s"""WITH q AS (SELECT doc_id, source, ${TextAnalysis.Sql.qualityExpr} AS quality
         |           FROM documents),
         |h AS (SELECT doc_id, $h60 AS h FROM documents),
         |c AS (SELECT h, min(doc_id) AS canon FROM h GROUP BY h),
         |d AS (SELECT h.doc_id, CASE WHEN h.doc_id <> c.canon THEN 1 ELSE 0 END AS is_dup
         |      FROM h JOIN c ON h.h = c.h),
         |st AS (SELECT q.source, count(*) AS n_docs,
         |         round(CAST(SUM(CAST(q.quality AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS mean_quality,
         |         round(sum(d.is_dup)::DOUBLE / count(*), 4) AS dup_rate
         |       FROM q JOIN d ON q.doc_id = d.doc_id GROUP BY q.source),
         |tk AS (SELECT source, sum(len(${TextAnalysis.Sql.toks("text")})) AS n_tokens
         |       FROM documents GROUP BY source),
         |lid AS (SELECT ${TextAnalysis.Sql.langIdSelect} FROM documents),
         |lc AS (SELECT d.source, l.pred_lang, count(*) AS cnt
         |       FROM lid l JOIN documents d ON d.doc_id = l.doc_id
         |       GROUP BY d.source, l.pred_lang),
         |tl AS (SELECT source, pred_lang AS top_lang FROM (
         |    SELECT source, pred_lang,
         |           row_number() OVER (PARTITION BY source
         |             ORDER BY cnt DESC, pred_lang) AS rn FROM lc) WHERE rn = 1)
         |SELECT st.source, st.n_docs, tk.n_tokens::BIGINT AS n_tokens, st.mean_quality, st.dup_rate, tl.top_lang
         |FROM st JOIN tk ON tk.source = st.source JOIN tl ON tl.source = st.source
         |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin
    },
    // SQ8 fit/quantize/reconstruct (q103's math) then the q37-style exact
    // top-k over the reconstructed corpus
    "q116_sq_search" -> {
      val sDist = Tables.distSql("l2sq", "q.qvec", "r.rvec")
      s"""WITH e AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |dx AS (SELECT generate_subscripts(vec, 1) AS i, unnest(vec) AS v FROM e),
         |s AS (SELECT i, CAST(min(v) AS DOUBLE) AS mn,
         |        CAST(max(v) AS DOUBLE) AS mx FROM dx GROUP BY i),
         |a AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM s),
         |rec AS (SELECT id,
         |          list(mns[i] +
         |            (CASE WHEN mxs[i] = mns[i] THEN 0
         |                  ELSE floor((CAST(vec[i] AS DOUBLE) - mns[i])
         |                             / (mxs[i] - mns[i]) * 255 + 0.5)
         |             END)::DOUBLE / 255 * (mxs[i] - mns[i])
         |            ORDER BY i) AS rvec
         |        FROM e, a, unnest(range(1, len(vec) + 1)) AS u(i)
         |        GROUP BY id),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         |dd AS (SELECT q.query_id, r.id, $sDist AS dist FROM q CROSS JOIN rec r),
         |rk AS (SELECT query_id, id, dist,
         |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
         |       FROM dd)
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM rk WHERE rank <= $K
         |ORDER BY query_id, rank, id, dist""".stripMargin
    },
    // 1-bit codes: integer-scaled embeddings, per-dim exact BIGINT sums,
    // cross-multiplied mean threshold (v·n > Σ — no division), bit 63 via
    // (-MAX-1) like q35
    "q118_binary_codes" ->
      s"""WITH $binOracleCtes
         |SELECT id, CAST($binOracleTerms AS BIGINT) AS bcode FROM sq CROSS JOIN st
         |ORDER BY id, bcode""".stripMargin,
    // Hamming top-R candidates (bit_count(xor), ties on id) → exact l2sq
    // re-rank of the survivors — binarySearch mirrored stage-for-stage
    "q119_binary_search" -> {
      val rDist = Tables.distSql("l2sq", "q.qvec", "e.vec")
      s"""WITH $binOracleCtes,
         |c AS (SELECT id, CAST($binOracleTerms AS BIGINT) AS bcode FROM sq CROSS JOIN st),
         |qc AS (SELECT id AS query_id, bcode AS qcode FROM c WHERE id < 10),
         |hr AS (SELECT qc.query_id, c.id,
         |         row_number() OVER (PARTITION BY qc.query_id
         |           ORDER BY bit_count(xor(c.bcode, qc.qcode)), c.id) AS hrank
         |       FROM c CROSS JOIN qc),
         |cand AS (SELECT query_id, id FROM hr WHERE hrank <= $BinRerank),
         |e AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         |dd AS (SELECT cand.query_id, cand.id, $rDist AS dist
         |       FROM cand JOIN e ON e.id = cand.id JOIN q ON q.query_id = cand.query_id),
         |rk AS (SELECT query_id, id, dist,
         |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
         |       FROM dd)
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM rk WHERE rank <= $K
         |ORDER BY query_id, rank, id, dist""".stripMargin
    },
    // SemDeDup: every-nth centroids, nearest-centroid assignment (ties on
    // head_id — the q38 replicas=1 mirror), exact cosine pairs within
    // clusters only
    "q120_semantic_dedup" -> {
      val pDist = Tables.distSql("cos", "v.vec", "h.head_vec")
      val cDist = Tables.distSql("cos", "l.vec", "r.vec")
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |h AS (SELECT id AS head_id, vec AS head_vec FROM v WHERE id % $SemNth = 0),
         |pd AS (SELECT v.id, v.vec, h.head_id, $pDist AS dist FROM v CROSS JOIN h),
         |p AS (SELECT id, vec, head_id FROM (
         |        SELECT id, vec, head_id,
         |          row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS rn
         |        FROM pd) WHERE rn = 1),
         |pr AS (SELECT l.head_id, l.id AS a, r.id AS b, $cDist AS cd
         |       FROM p l JOIN p r ON l.head_id = r.head_id AND l.id < r.id)
         |SELECT head_id, a, b, round(cd, 4) AS cos_dist FROM pr WHERE cd < $SemMaxCos
         |ORDER BY head_id, a, b, cos_dist""".stripMargin
    },
    // DSIR importance weights: hashed-bigram buckets, Laplace-smoothed
    // per-bucket log-ratio rounded 6dp + DECIMAL-summed (the q91 convention)
    "q121_importance_weights" -> importanceOracleSql,
    // same truth for the in-row scoring path: fit-corpus scoring is
    // value-identical to q121 by construction
    "q125_importance_score" -> importanceOracleSql,
    // pHash near-dup: codepoint-histogram shares vs corpus shares
    // (cross-multiplied integer test), then simhashPairs' pigeonhole
    // banding mirrored EXACTLY — 16-bit bands, per-bucket count, buckets
    // over MaxBandBucket dropped as stop-buckets — so the oracle matches at
    // ANY fixture scale (at sf0.1 the guard genuinely triggers: a brute
    // pair mirror reads 7040 pairs where the guarded path keeps 2574)
    "q122_phash_neardup" ->
      s"""WITH $phashPairCtes
         |SELECT a, b, hamming FROM phpairs
         |ORDER BY a, b, hamming""".stripMargin,
    // media dedup APPLY: the q122 pairs drive the q60/q66 min-label walk;
    // survivors are the canonical member of each phash near-dup group
    "q163_media_dedup_apply" ->
      s"""WITH RECURSIVE $phashPairCtes,
         |edges AS (SELECT a AS u, b AS v FROM phpairs
         |          UNION SELECT b, a FROM phpairs),
         |walk(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.id
         |)
         |SELECT id AS doc_id FROM walk GROUP BY id HAVING min(lbl) = id
         |ORDER BY 1""".stripMargin,
    // JL projection: literal host-derived weights, exploded to scalars
    "q126_rp_project" ->
      s"""WITH sq AS (SELECT vec_id AS id,
         |  list_transform(embedding, x -> CAST(round(x::DOUBLE*1000) AS BIGINT)) AS sv
         |  FROM embeddings),
         |pv AS (SELECT id, $rpProjList AS pvec FROM sq)
         |SELECT id, CAST(generate_subscripts(pvec, 1) - 1 AS INT) AS j,
         |  unnest(pvec) AS p
         |FROM pv ORDER BY id, j, p""".stripMargin,
    // RP coarse-to-fine: integer-L2 top-R in sketch space, exact re-rank
    "q127_rp_search" -> {
      val rDist = Tables.distSql("l2sq", "q.qvec", "e.vec")
      val coarse = (0 until RpOutDims).map(j =>
        s"((c.pvec[${j + 1}] - qp.pvec[${j + 1}]) * (c.pvec[${j + 1}] - qp.pvec[${j + 1}]))::DOUBLE")
        .mkString(" + ")
      s"""WITH sq AS (SELECT vec_id AS id,
         |  list_transform(embedding, x -> CAST(round(x::DOUBLE*1000) AS BIGINT)) AS sv
         |  FROM embeddings),
         |c AS (SELECT id, $rpProjList AS pvec FROM sq),
         |qp AS (SELECT id AS query_id, pvec FROM c WHERE id < 10),
         |hr AS (SELECT qp.query_id, c.id,
         |         row_number() OVER (PARTITION BY qp.query_id
         |           ORDER BY ($coarse), c.id) AS crank
         |       FROM c CROSS JOIN qp),
         |cand AS (SELECT query_id, id FROM hr WHERE crank <= $RpRerank),
         |e AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         |dd AS (SELECT cand.query_id, cand.id, $rDist AS dist
         |       FROM cand JOIN e ON e.id = cand.id JOIN q ON q.query_id = cand.query_id),
         |rk AS (SELECT query_id, id, dist,
         |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
         |       FROM dd)
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM rk WHERE rank <= $K
         |ORDER BY query_id, rank, id, dist""".stripMargin
    },
    // chunk dedup: q102's chunk CTEs + hash-canonicalization (window for
    // the per-hash canonical member + copies, hydration join back)
    "q128_chunk_dedup" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val h = graft.functions.Hash60.sql("chunk_text")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |x AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t
         |      WHERE len(toks) > 0),
         |c AS (SELECT doc_id, n, toks,
         |        unnest(range(0, n, $ChunkStride)) AS start FROM x),
         |ch AS (SELECT doc_id, start // $ChunkStride AS chunk_idx, $h AS h FROM (
         |    SELECT doc_id, start,
         |      array_to_string(list_slice(toks, CAST(start + 1 AS INT),
         |        CAST(start + $ChunkWindow AS INT)), ' ') AS chunk_text
         |    FROM c)),
         |g AS (SELECT h, doc_id AS canon_doc, chunk_idx AS canon_idx, cnt AS copies
         |      FROM (SELECT h, doc_id, chunk_idx,
         |              count(*) OVER (PARTITION BY h) AS cnt,
         |              row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
         |            FROM ch) WHERE rn = 1)
         |SELECT ch.doc_id, ch.chunk_idx, g.canon_doc, g.canon_idx, g.copies
         |FROM ch JOIN g USING (h)
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin
    },
    // salted join: the salt is pure dataflow mechanics — the oracle is
    // the PLAIN join it must be indistinguishable from
    "q160_salted_join" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1, 2, 3""".stripMargin,
    // quantile table: same integer rank test over the per-value histogram
    "q159_quality_quantiles" -> {
      val qe = TextAnalysis.Sql.qualityExpr
      val lst = QuantPcts.mkString("[", ", ", "]")
      s"""WITH qq AS (SELECT $qe AS v FROM documents),
         |per AS (SELECT v, count(*) AS c FROM qq GROUP BY 1),
         |tot AS (SELECT sum(c) AS n FROM per),
         |cum AS (SELECT a.v, sum(b.c) AS cum FROM per a
         |        JOIN per b ON b.v <= a.v GROUP BY a.v),
         |ps AS (SELECT unnest($lst) AS pct)
         |SELECT pct, min(v) AS value
         |FROM cum CROSS JOIN tot CROSS JOIN ps
         |WHERE cum * 100 >= pct * n
         |GROUP BY pct ORDER BY 1, 2""".stripMargin
    },
    "q158_tpch_q5" ->
      s"""SELECT n_name,
         |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
         |       AS DOUBLE) AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = '$Q5Region'
         |GROUP BY n_name
         |ORDER BY 1, 2""".stripMargin,
    // inverted index: distinct (token, doc) pairs; ordered list sliced to
    // the same bound, joined to a string (portable across array codecs)
    "q156_inverted_index" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |w AS (SELECT DISTINCT doc_id, unnest(toks) AS token FROM t)
         |SELECT token, count(*) AS df,
         |  array_to_string((list(doc_id ORDER BY doc_id))[1:$InvPostings], ',')
         |    AS postings
         |FROM w GROUP BY token
         |ORDER BY 1, 2, 3""".stripMargin
    },
    // rate anomaly: same integer window sums, z = (ck−S)/sqrt(kQ−S²)
    "q157_rate_anomaly" ->
      s"""WITH b AS (SELECT event_type, date_trunc('minute', ts) AS minute,
         |             count(*) AS cnt
         |           FROM events GROUP BY 1, 2),
         |wf AS (SELECT event_type, minute, cnt,
         |         count(cnt) OVER tw AS k,
         |         sum(cnt) OVER tw AS s,
         |         sum(cnt * cnt) OVER tw AS q
         |       FROM b
         |       WINDOW tw AS (PARTITION BY event_type ORDER BY minute
         |                     ROWS BETWEEN $RateTrailing PRECEDING AND 1 PRECEDING)),
         |z AS (SELECT event_type, minute, cnt,
         |        CASE WHEN k = $RateTrailing
         |              AND k::DECIMAL(38,0) * q::DECIMAL(38,0)
         |                  - s::DECIMAL(38,0) * s::DECIMAL(38,0) > 0
         |             THEN round((cnt * k - s)::DOUBLE /
         |                    sqrt((k::DECIMAL(38,0) * q::DECIMAL(38,0)
         |                          - s::DECIMAL(38,0) * s::DECIMAL(38,0))::DOUBLE), 4)
         |             ELSE NULL END AS z
         |      FROM wf)
         |SELECT event_type, minute, cnt, z,
         |  coalesce(abs(z) > $RateZ, false) AS is_anomaly
         |FROM z ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // rollup: the same three levels; NULL group keys relabeled 'ALL' on
    // both sides (lineitem's real columns are non-null, so no collision)
    "q155_rollup" ->
      """SELECT
        |  coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY 1, 2, 3, 4""".stripMargin,
    // containment: the q33 candidate CTEs; inter/sizes reused, per-side
    // ratios instead of the union-normalized Jaccard
    "q154_containment" ->
      s"""WITH $minhashCtes
         |SELECT c.a, c.b, i.inter,
         |  round(i.inter::DOUBLE / sa.n::DOUBLE, 4) AS cont_a,
         |  round(i.inter::DOUBLE / sb.n::DOUBLE, 4) AS cont_b
         |FROM cand c
         |JOIN inter i ON i.a = c.a AND i.b = c.b
         |JOIN sizes sa ON c.a = sa.doc_id
         |JOIN sizes sb ON c.b = sb.doc_id
         |WHERE round(i.inter::DOUBLE / sa.n::DOUBLE, 4) >= $ContThreshold
         |   OR round(i.inter::DOUBLE / sb.n::DOUBLE, 4) >= $ContThreshold
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // triangles: exact-kNN edge list (rank over (dist, id) incl self,
    // self dropped after — duplicate-proof), then the same oriented
    // wedge join + semi-join close the operator runs
    "q153_triangle_count" -> {
      val dd = Tables.distSql("l2sq", "a.vec", "b.vec")
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
         |           WHERE vec_id < $TriNodes),
         |pd AS (SELECT a.id AS src, b.id AS dst, $dd AS d FROM v a CROSS JOIN v b),
         |rk AS (SELECT src, dst,
         |         row_number() OVER (PARTITION BY src ORDER BY d, dst) AS rn
         |       FROM pd),
         |e AS (SELECT src, dst FROM rk WHERE rn <= ${TriK + 1} AND src <> dst),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
         |deg AS (SELECT id, count(*) AS deg FROM (
         |          SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
         |        GROUP BY 1),
         |wd AS (SELECT und.a, und.b, da.deg AS dda, db.deg AS ddb
         |       FROM und JOIN deg da ON da.id = und.a JOIN deg db ON db.id = und.b),
         |o AS (SELECT
         |        CASE WHEN (dda < ddb OR (dda = ddb AND a < b)) THEN a ELSE b END AS u,
         |        CASE WHEN (dda < ddb OR (dda = ddb AND a < b)) THEN b ELSE a END AS v,
         |        CASE WHEN (dda < ddb OR (dda = ddb AND a < b)) THEN ddb ELSE dda END AS dv
         |      FROM wd),
         |wg AS (SELECT o1.u, o1.v AS x, o2.v AS y FROM o o1 JOIN o o2 ON o1.u = o2.u
         |       WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)),
         |tri AS (SELECT wg.u, wg.x, wg.y FROM wg
         |        SEMI JOIN o ON o.u = wg.x AND o.v = wg.y),
         |pn AS (SELECT id, count(*) AS t FROM (
         |         SELECT u AS id FROM tri UNION ALL SELECT x AS id FROM tri
         |         UNION ALL SELECT y AS id FROM tri) GROUP BY 1)
         |SELECT deg.id, deg.deg, coalesce(pn.t, 0) AS n_triangles,
         |  CASE WHEN deg.deg > 1
         |       THEN round(2.0 * coalesce(pn.t, 0) / (deg.deg * (deg.deg - 1)), 6)
         |       ELSE 0.0 END AS clustering
         |FROM deg LEFT JOIN pn ON pn.id = deg.id
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    // entropy: per-(doc, token) counts, p = c/n (both engines' `/` on
    // BIGINTs is true division to DOUBLE), 6dp terms, DECIMAL sum
    "q152_token_entropy" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |w AS (SELECT doc_id, unnest(toks) AS w FROM t),
         |ct AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
         |n AS (SELECT doc_id, sum(c) AS n, count(*) AS n_uniq FROM ct GROUP BY 1),
         |tm AS (SELECT ct.doc_id, n.n, n.n_uniq,
         |         CAST(round((0 - (c / n.n)) * ln(c / n.n), 6)
         |              AS DECIMAL(18,9)) AS term
         |       FROM ct JOIN n USING (doc_id))
         |SELECT doc_id, n::BIGINT AS n_tokens, n_uniq,
         |  round(sum(term), 4)::DOUBLE AS entropy
         |FROM tm GROUP BY doc_id, n, n_uniq
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    "q151_tpch_q18" ->
      s"""WITH big AS (
         |  SELECT l_orderkey,
         |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         |  FROM lineitem GROUP BY l_orderkey
         |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > $Q18MinQty)
         |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
         |FROM orders
         |JOIN big ON o_orderkey = l_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin,
    // FPS: the greedy selection replayed as a recursive CTE carrying the
    // selected (ids, vecs) lists; min-dist-to-set is a list_min over the
    // same left-to-right l2sq both engines compute bit-identically
    "q150_farthest_points" -> {
      val d2 = Tables.distSql("l2sq", "w.vec", "sv")
      s"""WITH RECURSIVE v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |f AS (SELECT id, vec FROM v ORDER BY id LIMIT 1),
         |sel(iter, ids, vecs, last_id, radius) AS (
         |  SELECT 1, [id], [vec], id, NULL::DOUBLE FROM f
         |  UNION ALL
         |  SELECT iter + 1, list_append(ids, c.id), list_append(vecs, c.vec),
         |         c.id, c.mind
         |  FROM sel, LATERAL (
         |    SELECT id, vec, mind FROM (
         |      SELECT w.id, w.vec,
         |        list_min(list_transform(sel.vecs, sv -> $d2)) AS mind
         |      FROM v w WHERE NOT list_contains(sel.ids, w.id))
         |    ORDER BY mind DESC, id LIMIT 1) c
         |  WHERE iter < $FpsK)
         |SELECT CAST(iter AS INT) AS sel_idx, last_id AS id,
         |  round(radius, 4) AS radius
         |FROM sel ORDER BY 1, 2, 3""".stripMargin
    },
    // drift: q120's shared-centroid assignment; 6dp means → ×10⁶ integer
    // squared-diff sums (order-independent), one divide per cluster
    "q149_cluster_drift" -> {
      val pDist = Tables.distSql("cos", "v.vec", "h.head_vec")
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec,
         |             (vec_id % 2 = 1) AS snap FROM embeddings),
         |h AS (SELECT id AS head_id, vec AS head_vec FROM v WHERE id % $SemNth = 0),
         |pd AS (SELECT v.id, v.snap, v.vec, h.head_id, $pDist AS dist
         |       FROM v CROSS JOIN h),
         |p AS (SELECT id, snap, vec, head_id FROM (
         |        SELECT id, snap, vec, head_id,
         |          row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS rn
         |        FROM pd) WHERE rn = 1),
         |cnt AS (SELECT head_id,
         |          sum(CASE WHEN snap THEN 0 ELSE 1 END) AS n_a,
         |          sum(CASE WHEN snap THEN 1 ELSE 0 END) AS n_b
         |        FROM p GROUP BY 1),
         |tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM cnt),
         |dx AS (SELECT head_id, snap,
         |         CAST(generate_subscripts(s, 1) - 1 AS INT) AS dim, unnest(s) AS sv
         |       FROM (SELECT head_id, snap,
         |               list_transform(vec, x -> CAST(round(x::DOUBLE*1000) AS BIGINT)) AS s
         |             FROM p)),
         |mn AS (SELECT head_id, snap, dim,
         |         round(sum(sv)::DOUBLE / 1000.0 / count(*), 6) AS m
         |       FROM dx GROUP BY 1, 2, 3),
         |sh AS (SELECT a.head_id,
         |         round(sum((CAST(round(a.m*1000000) AS BIGINT) - CAST(round(b.m*1000000) AS BIGINT))
         |                 * (CAST(round(a.m*1000000) AS BIGINT) - CAST(round(b.m*1000000) AS BIGINT)))::DOUBLE
         |               / 1e12, 4) AS shift
         |       FROM mn a JOIN mn b
         |         ON a.head_id = b.head_id AND a.dim = b.dim
         |        AND NOT a.snap AND b.snap
         |       GROUP BY 1)
         |SELECT cnt.head_id, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
         |  round(n_a::DOUBLE / ta, 6) AS share_a,
         |  round(n_b::DOUBLE / tb, 6) AS share_b,
         |  round(round(n_b::DOUBLE / tb, 6) - round(n_a::DOUBLE / ta, 6), 6) AS share_delta,
         |  sh.shift
         |FROM cnt CROSS JOIN tot LEFT JOIN sh ON sh.head_id = cnt.head_id
         |ORDER BY 1, 2, 3, 4, 5, 6, 7""".stripMargin
    },
    // cluster topics: q120's assignment over the doc-linked embedding set;
    // lift = (df_in·N)/(df_all·n_c) on integer products, one divide
    "q164_cluster_topics" -> {
      val pDist = Tables.distSql("cos", "v.vec", "h.head_vec")
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH lk AS (SELECT e.vec_id AS id, e.embedding AS vec, d.text
         |            FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
         |h AS (SELECT id AS head_id, vec AS head_vec FROM lk WHERE id % $TopicNth = 0),
         |pd AS (SELECT v.id, h.head_id, $pDist AS dist FROM lk v CROSS JOIN h),
         |p AS (SELECT id, head_id FROM (
         |        SELECT id, head_id,
         |          row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS rn
         |        FROM pd) WHERE rn = 1),
         |dt AS (SELECT id, unnest(list_distinct($toks)) AS token FROM lk),
         |din AS (SELECT p.head_id, dt.token, count(*) AS df_in
         |        FROM dt JOIN p ON p.id = dt.id GROUP BY 1, 2),
         |dall AS (SELECT token, count(*) AS df_all FROM dt GROUP BY 1),
         |sz AS (SELECT head_id, count(*) AS nc FROM p GROUP BY 1),
         |nt AS (SELECT count(*) AS n FROM p),
         |sc AS (SELECT din.head_id, din.token, din.df_in,
         |         round((din.df_in * nt.n)::DOUBLE / (dall.df_all * sz.nc)::DOUBLE, 6) AS lift
         |       FROM din JOIN dall USING (token) JOIN sz USING (head_id)
         |       CROSS JOIN nt)
         |SELECT head_id, CAST(rank AS INT) AS rank, token, df_in, lift FROM (
         |  SELECT head_id, token, df_in, lift,
         |    row_number() OVER (PARTITION BY head_id
         |      ORDER BY lift DESC, df_in DESC, token) AS rank
         |  FROM sc) WHERE rank <= $TopicTopK
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin
    },
    // cluster report: q141's centroid/zipped-distance CTEs aggregated per
    // label; centroid pairs via the ×10⁶-integer squared-diff sum
    "q162_cluster_report" ->
      s"""WITH sv AS (SELECT vec_id AS id, label, embedding AS vec,
         |  list_transform(embedding, x -> CAST(round(x::DOUBLE*1000) AS BIGINT)) AS s
         |  FROM embeddings),
         |dx AS (SELECT label, CAST(generate_subscripts(s, 1) - 1 AS INT) AS dim,
         |         unnest(s) AS v FROM sv),
         |ct AS (SELECT label, dim,
         |         round(sum(v)::DOUBLE / 1000.0 / count(*), 6) AS c
         |       FROM dx GROUP BY label, dim),
         |cents AS (SELECT label, list(c ORDER BY dim) AS cent FROM ct GROUP BY label),
         |wd AS (SELECT sv.id, sv.label,
         |         round(list_sum(list_transform(
         |           list_zip(sv.vec, cents.cent),
         |           z -> (z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]))), 4) AS dist
         |       FROM sv JOIN cents ON cents.label = sv.label),
         |pc AS (SELECT label, count(*) AS n_vecs,
         |         round(sum(dist::DECIMAL(28,9)), 4)::DOUBLE AS inertia,
         |         round(sum(dist::DECIMAL(28,9))::DOUBLE / count(*), 6) AS mean_dist,
         |         max(dist) AS max_dist
         |       FROM wd GROUP BY 1),
         |ci AS (SELECT label,
         |         list_transform(cent, c -> CAST(round(c*1000000) AS BIGINT)) AS ic
         |       FROM cents),
         |pd AS (SELECT a.label, b.label AS ol,
         |         list_sum(list_transform(list_zip(a.ic, b.ic),
         |           z -> (z[1] - z[2]) * (z[1] - z[2])))::DOUBLE / 1e12 AS d
         |       FROM ci a JOIN ci b ON a.label <> b.label),
         |nn AS (SELECT label, ol AS nn_label, round(d, 4) AS nn_cent_dist FROM (
         |         SELECT label, ol, d,
         |           row_number() OVER (PARTITION BY label ORDER BY d, ol) AS rn
         |         FROM pd) WHERE rn = 1)
         |SELECT pc.label, n_vecs, inertia, mean_dist, max_dist,
         |  nn.nn_label, nn.nn_cent_dist
         |FROM pc LEFT JOIN nn USING (label)
         |ORDER BY 1, 2, 3, 4, 5, 6, 7""".stripMargin,
    // AUC: same per-score cells; midrank numerator Σ pos·(2·negBelow+neg)
    // over 2·P·N, all DECIMAL(38,0) integers, one divide
    "q161_auc" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val hits = TextAnalysis.Sql.hitCount("toks", TextAnalysis.Stopwords.head._2)
      s"""WITH t AS (SELECT (lang = 'en') AS gold, $toks AS toks FROM documents),
         |sc AS (SELECT gold,
         |         CASE WHEN len(toks) > 0
         |              THEN round(($hits)::DOUBLE / len(toks), 4)
         |              ELSE 0.0 END AS score FROM t),
         |per AS (SELECT score AS s,
         |          sum(CASE WHEN gold THEN 1 ELSE 0 END) AS pos,
         |          sum(CASE WHEN gold THEN 0 ELSE 1 END) AS neg
         |        FROM sc GROUP BY 1),
         |below AS (SELECT a.s, coalesce(sum(b.neg), 0) AS negBelow
         |          FROM per a LEFT JOIN per b ON b.s < a.s GROUP BY a.s),
         |agg AS (SELECT CAST(sum(pos) AS DECIMAL(38,0)) AS p,
         |          CAST(sum(neg) AS DECIMAL(38,0)) AS n,
         |          sum(CAST(pos AS DECIMAL(38,0))
         |              * CAST(2 * negBelow + neg AS DECIMAL(38,0))) AS num
         |        FROM per JOIN below USING (s))
         |SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
         |  CASE WHEN p = 0 OR n = 0 THEN NULL
         |       ELSE round(num::DOUBLE / (2::DECIMAL(38,0) * p * n)::DOUBLE, 6)
         |  END AS auc
         |FROM agg""".stripMargin
    },
    // threshold sweep: per-score confusion cells, cumulated by the
    // b.thr >= a.thr self-join of the resolution-bounded score frame;
    // F1 = 2tp/(2tp+fp+fn) in one integer-exact divide
    "q147_threshold_sweep" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val hits = TextAnalysis.Sql.hitCount("toks", TextAnalysis.Stopwords.head._2)
      s"""WITH t AS (SELECT (lang = 'en') AS gold, $toks AS toks FROM documents),
         |s AS (SELECT gold,
         |        CASE WHEN len(toks) > 0
         |             THEN round(($hits)::DOUBLE / len(toks), 4)
         |             ELSE 0.0 END AS score FROM t),
         |per AS (SELECT score AS thr,
         |          sum(CASE WHEN gold THEN 1 ELSE 0 END) AS pos,
         |          sum(CASE WHEN gold THEN 0 ELSE 1 END) AS neg
         |        FROM s GROUP BY 1),
         |tot AS (SELECT sum(pos) AS tpos FROM per),
         |cum AS (SELECT a.thr, sum(b.pos) AS tp, sum(b.neg) AS fp
         |        FROM per a JOIN per b ON b.thr >= a.thr GROUP BY 1)
         |SELECT thr, tp::BIGINT AS tp, fp::BIGINT AS fp, (tpos - tp)::BIGINT AS fn,
         |  round(tp::DOUBLE / (tp + fp), 6) AS precision,
         |  CASE WHEN tpos = 0 THEN NULL
         |       ELSE round(tp::DOUBLE / tpos, 6) END AS recall,
         |  CASE WHEN 2*tp + fp + (tpos - tp) = 0 THEN NULL
         |       ELSE round((2*tp)::DOUBLE / (2*tp + fp + (tpos - tp)), 6)
         |  END AS f1
         |FROM cum, tot
         |ORDER BY 1, 2, 3, 4, 5, 6, 7""".stripMargin
    },
    // kappa: contingency cells → exact-integer margins; kappa formed as
    // (A·n − P)/(n² − P) on DECIMAL(38,0) — no 1−x float subtraction
    "q148_label_agreement" ->
      s"""WITH p AS (SELECT ${TextAnalysis.Sql.langIdSelect} FROM documents),
         |j AS (SELECT d.lang AS gold, p.pred_lang AS pred
         |      FROM documents d JOIN p USING (doc_id)),
         |cells AS (SELECT gold, pred, count(*) AS c FROM j GROUP BY 1, 2),
         |st AS (SELECT CAST(sum(c) AS DECIMAL(38,0)) AS n,
         |         CAST(sum(CASE WHEN gold = pred THEN c ELSE 0 END)
         |              AS DECIMAL(38,0)) AS a FROM cells),
         |am AS (SELECT gold AS cls, CAST(sum(c) AS DECIMAL(38,0)) AS ca
         |       FROM cells GROUP BY 1),
         |bm AS (SELECT pred AS cls, CAST(sum(c) AS DECIMAL(38,0)) AS cb
         |       FROM cells GROUP BY 1),
         |pr AS (SELECT coalesce(sum(ca * cb), 0) AS p FROM am JOIN bm USING (cls))
         |SELECT CAST(st.n AS BIGINT) AS n, CAST(st.a AS BIGINT) AS n_agree,
         |  round(st.a::DOUBLE / st.n::DOUBLE, 6) AS po,
         |  round(pr.p::DOUBLE / (st.n * st.n)::DOUBLE, 6) AS pe,
         |  CASE WHEN st.n * st.n = pr.p THEN NULL
         |       ELSE round((st.a * st.n - pr.p)::DOUBLE /
         |                  (st.n * st.n - pr.p)::DOUBLE, 6) END AS kappa
         |FROM st, pr""".stripMargin,
    // cluster sample: q120's nearest-centroid CTE, then row_number per
    // head on (unrounded dist, id) — the same rank the topk agg applies
    "q144_cluster_sample" -> {
      val pDist = Tables.distSql("cos", "v.vec", "h.head_vec")
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |h AS (SELECT id AS head_id, vec AS head_vec FROM v WHERE id % $SemNth = 0),
         |pd AS (SELECT v.id, h.head_id, $pDist AS dist FROM v CROSS JOIN h),
         |p AS (SELECT id, head_id, dist FROM (
         |        SELECT id, head_id, dist,
         |          row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS rn
         |        FROM pd) WHERE rn = 1),
         |rk AS (SELECT head_id, id, dist,
         |         row_number() OVER (PARTITION BY head_id ORDER BY dist, id) AS rn
         |       FROM p)
         |SELECT head_id, id, round(dist, 4) AS dist
         |FROM rk WHERE rn <= $ClusterSampleN
         |ORDER BY 1, 2, 3""".stripMargin
    },
    // heavy hitters: the sketch is only a candidate filter — the final set
    // is exact, so the oracle is the plain exact form
    "q143_heavy_hitters" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH t AS (SELECT $toks AS toks FROM documents),
         |tok AS (SELECT unnest(toks) AS token FROM t),
         |n AS (SELECT count(*) AS n FROM tok)
         |SELECT token, count(*) AS cnt, n.n AS total_tokens
         |FROM tok, n GROUP BY token, n.n HAVING count(*) * $HhPhi > n.n
         |ORDER BY 1, 2, 3""".stripMargin
    },
    // burst dedup: the sessionize lag-gap window, strict `gap > W` boundary
    "q145_event_burst_dedup" ->
      s"""WITH w AS (SELECT event_id, ts, user_id, event_type, value, props,
         |  lag(ts) OVER (PARTITION BY user_id, event_type
         |                ORDER BY ts, event_id) AS prev
         |  FROM events)
         |SELECT event_id, ts, user_id, event_type, value, props
         |FROM w WHERE prev IS NULL
         |   OR ts > prev + INTERVAL $BurstWindowMinutes MINUTES
         |ORDER BY event_id""".stripMargin,
    "q146_tpch_q6" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.06
        |  AND l_quantity < 24""".stripMargin,
    // triplets: per-anchor min over same-label (self excluded) and
    // different-label sides, both ranked (dist, id); margin over 4dp dists
    "q142_triplet_mine" -> {
      val dd = Tables.distSql("cos", "a.vec", "b.vec")
      s"""WITH e AS (SELECT vec_id AS id, embedding AS vec, label FROM embeddings),
         |pd AS (SELECT a.id AS anchor, b.id, $dd AS dist
         |       FROM e a JOIN e b ON a.label = b.label AND a.id <> b.id),
         |p1 AS (SELECT anchor, id AS pos_id, round(dist, 4) AS pos_dist FROM (
         |    SELECT anchor, id, dist,
         |      row_number() OVER (PARTITION BY anchor ORDER BY dist, id) AS rn
         |    FROM pd) WHERE rn = 1),
         |nd AS (SELECT a.id AS anchor, b.id, $dd AS dist
         |       FROM e a JOIN e b ON a.label <> b.label),
         |n1 AS (SELECT anchor, id AS neg_id, round(dist, 4) AS neg_dist FROM (
         |    SELECT anchor, id, dist,
         |      row_number() OVER (PARTITION BY anchor ORDER BY dist, id) AS rn
         |    FROM nd) WHERE rn = 1)
         |SELECT p1.anchor, p1.pos_id, p1.pos_dist, n1.neg_id, n1.neg_dist,
         |  round(n1.neg_dist - p1.pos_dist, 4) AS margin
         |FROM p1 JOIN n1 ON n1.anchor = p1.anchor
         |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin
    },
    // centroid outliers: 6dp centroids (q133's mirror), left-to-right
    // zipped L2, 4dp-DECIMAL class means, factor-1.5 flag
    "q141_centroid_outliers" ->
      s"""WITH sv AS (SELECT vec_id AS id, label, embedding AS vec,
         |  list_transform(embedding, x -> CAST(round(x::DOUBLE*1000) AS BIGINT)) AS s
         |  FROM embeddings),
         |dx AS (SELECT label, CAST(generate_subscripts(s, 1) - 1 AS INT) AS dim,
         |         unnest(s) AS v FROM sv),
         |ct AS (SELECT label, dim,
         |         round(sum(v)::DOUBLE / 1000.0 / count(*), 6) AS c
         |       FROM dx GROUP BY label, dim),
         |cents AS (SELECT label, list(c ORDER BY dim) AS cent FROM ct GROUP BY label),
         |wd AS (SELECT sv.id, sv.label,
         |         round(list_sum(list_transform(
         |           list_zip(sv.vec, cents.cent),
         |           z -> (z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]))), 4) AS dist
         |       FROM sv JOIN cents ON cents.label = sv.label),
         |mn AS (SELECT label,
         |         sum(dist::DECIMAL(28,9))::DOUBLE / count(*) AS m
         |       FROM wd GROUP BY label)
         |SELECT wd.id, wd.label, wd.dist, wd.dist > $OutlierFactor * mn.m AS is_outlier
         |FROM wd JOIN mn ON mn.label = wd.label
         |ORDER BY 1, 2, 3, 4""".stripMargin,
    // NB: Laplace log-likelihood grid + log priors, per-(doc, class)
    // decimal sums, argmax (score DESC, label) — all exact counts
    "q139_nb_classify" -> nbOracleSql,
    // same truth for the in-row argmax path (value-identical on the fit
    // corpus by construction — the q121/q125 twin-gate pattern)
    "q140_nb_score" -> nbOracleSql,
    // full assembly: q97 gate + q121 importance (REFIT on the gated set) +
    // q32 exact-dedup keep + q102 chunks + q87 shard layout, chained CTEs
    "q138_assemble_training" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val stop = TextAnalysis.Sql.hitCount("toks", TextAnalysis.Stopwords.head._2)
      val h60 = graft.functions.Hash60.sql("text")
      val hb = graft.functions.Hash60.sql("toks[i] || ' ' || toks[i + 1]")
      val hs = graft.functions.Hash60.sql("pid::VARCHAR || ':assemble'")
      s"""WITH rft AS (SELECT doc_id, $toks AS toks FROM documents),
         |rfm AS (SELECT doc_id,
         |          len(toks)::BIGINT AS n_tokens,
         |          round(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::DOUBLE
         |                / greatest(len(toks), 1)::DOUBLE, 4) AS mean_word_len,
         |          round(len(list_filter(toks, x -> regexp_full_match(x, '[a-z]+')))::DOUBLE
         |                / greatest(len(toks), 1)::DOUBLE, 4) AS alpha_ratio,
         |          $stop::BIGINT AS stop_hits
         |        FROM rft),
         |rf AS (SELECT doc_id FROM rfm
         |       WHERE n_tokens >= 10 AND n_tokens <= 10000
         |         AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
         |         AND alpha_ratio >= 0.7 AND stop_hits >= 2),
         |gt AS (SELECT r.doc_id, d.lang = 'en' AS tgt, r.toks
         |       FROM rft r JOIN documents d USING (doc_id)
         |       WHERE r.doc_id IN (SELECT doc_id FROM rf)),
         |bg AS (SELECT doc_id, tgt, ($hb) % $ImpBuckets AS b
         |       FROM (SELECT doc_id, tgt, toks, unnest(range(1, len(toks))) AS i FROM gt)),
         |cr AS (SELECT b, count(*) AS cr FROM bg GROUP BY b),
         |ct AS (SELECT b, count(*) AS ct FROM bg WHERE tgt GROUP BY b),
         |tot AS (SELECT count(*) AS r_tot,
         |          sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS t_tot FROM bg),
         |w AS (SELECT cr.b,
         |        round(ln((coalesce(ct.ct, 0) + 1)::DOUBLE / (tot.t_tot + $ImpBuckets))
         |            - ln((cr.cr + 1)::DOUBLE / (tot.r_tot + $ImpBuckets)), 6)::DECIMAL(18,9) AS lw
         |      FROM cr LEFT JOIN ct ON ct.b = cr.b CROSS JOIN tot),
         |sc AS (SELECT doc_id, count(*) AS n_feats, sum(w.lw) AS slw
         |       FROM bg JOIN w ON w.b = bg.b GROUP BY doc_id),
         |impk AS (SELECT doc_id FROM sc
         |         WHERE round(slw::DOUBLE / n_feats, 4) >= $AssembleImpFloor),
         |d1 AS (SELECT d.doc_id, d.text FROM documents d
         |       WHERE doc_id IN (SELECT doc_id FROM rf)
         |         AND doc_id IN (SELECT doc_id FROM impk)),
         |exh AS (SELECT doc_id, $h60 AS h FROM d1),
         |exc AS (SELECT h, min(doc_id) AS canon FROM exh GROUP BY h),
         |d2 AS (SELECT d1.doc_id FROM d1 JOIN exh USING (doc_id)
         |       JOIN exc ON exh.h = exc.h AND d1.doc_id = exc.canon),
         |cx AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM rft
         |       WHERE doc_id IN (SELECT doc_id FROM d2) AND len(toks) > 0),
         |cc AS (SELECT doc_id, n, unnest(range(0, n, $ChunkStride)) AS start FROM cx),
         |ch AS (SELECT doc_id, start // $ChunkStride AS chunk_idx,
         |         least($ChunkWindow, n - start) AS n_tokens,
         |         doc_id * 1000 + start // $ChunkStride AS pid
         |       FROM cc),
         |sh AS (SELECT pid, ($hs) AS skey,
         |         ((($hs) % $ShardCount) + $ShardCount) % $ShardCount AS shard
         |       FROM ch)
         |SELECT ch.doc_id, ch.chunk_idx, sh.shard,
         |  row_number() OVER (PARTITION BY sh.shard ORDER BY sh.skey, sh.pid) AS pos,
         |  ch.n_tokens
         |FROM ch JOIN sh USING (pid)
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin
    },
    // percentile normalize: one per-source percent_rank window at fixture
    // scale; Spark reaches identical values via the histogram arithmetic
    "q136_quality_percentile" ->
      s"""SELECT doc_id, source,
         |  round(percent_rank() OVER (PARTITION BY source
         |    ORDER BY ${TextAnalysis.Sql.qualityExpr}), 6) AS pr
         |FROM documents ORDER BY 1, 2, 3""".stripMargin,
    // multi-probe LSH: the q65 banding CTEs + single-bit probe explosion
    "q137_lsh_multiprobe" -> {
      val cd = Tables.distSql("cos", "q.vec", "v.vec")
      s"""WITH $lshBandCtes,
         |qp AS (SELECT id AS query_id, band,
         |         unnest([bv, xor(bv, 1::BIGINT), xor(bv, 2::BIGINT)]) AS bv
         |       FROM bands WHERE id < 10),
         |cand AS (SELECT DISTINCT qp.query_id, cb.id
         |         FROM qp JOIN bands cb ON cb.band = qp.band AND cb.bv = qp.bv),
         |dd AS (SELECT c.query_id, c.id, $cd AS dist
         |       FROM cand c JOIN e q ON q.id = c.query_id JOIN e v ON v.id = c.id),
         |r AS (SELECT query_id, id, dist,
         |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
         |      FROM dd)
         |SELECT query_id, rank, id, round(dist, 4) AS dist FROM r WHERE rank <= $K
         |ORDER BY query_id, rank, id, dist""".stripMargin
    },
    // range join: the plain theta form IS the oracle (fixture-scale);
    // Spark reaches the identical set via the bucketed equi-join
    "q135_range_join" ->
      s"""WITH iv AS (SELECT i AS band, (i * $RangeStep)::DOUBLE AS lo,
         |              (i * $RangeStep + $RangeLen)::DOUBLE AS hi
         |            FROM (SELECT unnest(range(0, $RangeBands)) AS i)),
         |p AS (SELECT o_orderkey, o_totalprice::DOUBLE AS x FROM orders)
         |SELECT iv.band, p.o_orderkey, p.x
         |FROM p JOIN iv ON p.x >= iv.lo AND p.x <= iv.hi
         |ORDER BY 1, 2, 3""".stripMargin,
    // as-of: the same tagged-union carry-forward window (last_value IGNORE
    // NULLS over (ts, tag, rid)), right row hydrated by event_id join-back
    "q134_asof_attribution" ->
      s"""WITH r AS (SELECT user_id, ts, event_id, value FROM events
         |           WHERE event_type = 'view'),
         |l AS (SELECT user_id, ts, event_id, value FROM events
         |      WHERE event_type = 'purchase'),
         |u AS (SELECT user_id, ts, 0 AS tag, event_id AS rid, event_id AS p_eid,
         |        NULL::BIGINT AS l_eid, NULL::DOUBLE AS l_val FROM r
         |      UNION ALL
         |      SELECT user_id, ts, 1, 9223372036854775807, NULL, event_id, value FROM l),
         |m AS (SELECT user_id, ts, tag, l_eid, l_val,
         |        last_value(p_eid IGNORE NULLS) OVER (PARTITION BY user_id
         |          ORDER BY ts, tag, rid ROWS UNBOUNDED PRECEDING) AS a_eid
         |      FROM u)
         |SELECT m.user_id, m.ts, m.l_eid AS event_id, m.l_val AS value,
         |  rr.event_id AS asof_event_id, epoch_us(rr.ts) AS asof_ts, rr.value AS asof_value
         |FROM m LEFT JOIN r rr ON rr.event_id = m.a_eid
         |WHERE m.tag = 1
         |ORDER BY 1, 2, 3, 4, 5, 6, 7""".stripMargin,
    // per-source cap: one per-source window at fixture scale; Spark reaches
    // the identical set via the two-level hash-range rank
    "q132_source_cap" -> (Pipeline.sourceCapSql(SourceCapN) +
      "\nORDER BY 1, 2, 3"),
    // bag centroids: exact scaled-integer sums, mirrored division chain
    "q133_bag_centroids" ->
      s"""WITH sv AS (SELECT label,
         |  list_transform(embedding, x -> CAST(round(x::DOUBLE*1000) AS BIGINT)) AS s
         |  FROM embeddings),
         |dx AS (SELECT label, CAST(generate_subscripts(s, 1) - 1 AS INT) AS dim,
         |         unnest(s) AS v FROM sv)
         |SELECT label, dim, count(*) AS n_vecs,
         |  round(sum(v)::DOUBLE / 1000.0 / count(*), 6) AS c
         |FROM dx GROUP BY label, dim
         |ORDER BY 1, 2, 3, 4""".stripMargin,
    // RRF: both metric rankings rebuilt exactly, fused by 6dp reciprocal
    // terms DECIMAL-summed, re-ranked (score DESC, id)
    "q131_rrf_hybrid" -> {
      val l2 = Tables.distSql("l2sq", "q.qvec", "e.vec")
      val cs = Tables.distSql("cos", "q.qvec", "e.vec")
      def rkCte(n: String, d: String) =
        s"""$n AS (SELECT query_id, id, rank FROM (
           |    SELECT q.query_id, e.id,
           |      row_number() OVER (PARTITION BY q.query_id ORDER BY $d, e.id) AS rank
           |    FROM q CROSS JOIN e) WHERE rank <= $K)""".stripMargin
      s"""WITH e AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         |${rkCte("r1", l2)},
         |${rkCte("r2", cs)},
         |u AS (SELECT query_id, id, round(1.0 / (60 + rank), 6)::DECIMAL(18,9) AS t
         |      FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)),
         |sc AS (SELECT query_id, id, round(sum(t)::DOUBLE, 6) AS score
         |       FROM u GROUP BY query_id, id),
         |rk AS (SELECT query_id, id, score,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY score DESC, id) AS INT) AS rank FROM sc)
         |SELECT query_id, rank, id, score FROM rk WHERE rank <= $K
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    // CMS: 4 salted hash rows × 512 buckets, probe = min over rows
    "q129_cms_estimate" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val hs = graft.functions.Hash60.sql("u.j || '|' || token")
      val hp = graft.functions.Hash60.sql("u.j || '|' || v.token")
      s"""WITH t AS (SELECT $toks AS toks FROM documents),
         |tok AS (SELECT unnest(toks) AS token FROM t),
         |sk AS (SELECT row, bucket, count(*) AS cnt FROM (
         |    SELECT u.j AS row, ($hs) % $CmsWidth AS bucket
         |    FROM tok, (SELECT unnest(range(0, $CmsDepth)) AS j) u) GROUP BY 1, 2),
         |v AS (SELECT token, count(*) AS true_cnt FROM tok
         |      GROUP BY token ORDER BY true_cnt DESC, token LIMIT $VocabSize),
         |pe AS (SELECT v.token, u.j AS row, ($hp) % $CmsWidth AS bucket
         |       FROM v, (SELECT unnest(range(0, $CmsDepth)) AS j) u),
         |est AS (SELECT token, min(coalesce(sk.cnt, 0)) AS est_cnt
         |        FROM pe LEFT JOIN sk USING (row, bucket) GROUP BY token)
         |SELECT v.token, v.true_cnt, est.est_cnt FROM v JOIN est USING (token)
         |ORDER BY 1, 2, 3""".stripMargin
    },
    // HLL registers: bucket = low 8 hash bits, rank via binary-string
    // length of the value bits (exact integer math in both engines)
    "q130_hll_registers" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val h = graft.functions.Hash60.sql("token")
      val m = 1 << HllP
      val w = 60 - HllP
      s"""WITH t AS (SELECT $toks AS toks FROM documents),
         |tok AS (SELECT unnest(toks) AS token FROM t),
         |hh AS (SELECT ($h) AS h FROM tok)
         |SELECT h % $m AS bucket,
         |  CAST(max(CASE WHEN (h // $m) = 0 THEN ${w + 1}
         |               ELSE $w - (length(bin(h // $m)) - 1) END) AS INT) AS register
         |FROM hh GROUP BY 1 ORDER BY 1, 2""".stripMargin
    },
    // binary-path recall vs exact kNN: the q119 pipeline re-used as the
    // results side of the q11 recall block (rounded dists, 1e-6 tie credit)
    "q123_binary_recall" -> {
      val rDist = Tables.distSql("l2sq", "q.qvec", "e.vec")
      s"""WITH $binOracleCtes,
         |c AS (SELECT id, CAST($binOracleTerms AS BIGINT) AS bcode FROM sq CROSS JOIN st),
         |qc AS (SELECT id AS query_id, bcode AS qcode FROM c WHERE id < 10),
         |hr AS (SELECT qc.query_id, c.id,
         |         row_number() OVER (PARTITION BY qc.query_id
         |           ORDER BY bit_count(xor(c.bcode, qc.qcode)), c.id) AS hrank
         |       FROM c CROSS JOIN qc),
         |cand AS (SELECT query_id, id FROM hr WHERE hrank <= $BinRerank),
         |e AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         |dd AS (SELECT cand.query_id, cand.id, $rDist AS dist
         |       FROM cand JOIN e ON e.id = cand.id JOIN q ON q.query_id = cand.query_id),
         |r AS (SELECT query_id, id, round(dist, 4) AS dist FROM (
         |    SELECT query_id, id, dist,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS rank
         |    FROM dd) WHERE rank <= $K),
         |exd AS (SELECT q.query_id, e.id, $rDist AS dist FROM q CROSS JOIN e),
         |t AS (SELECT query_id, id, round(dist, 4) AS dist FROM (
         |    SELECT query_id, id, dist,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS rank
         |    FROM exd) WHERE rank <= $K),
         |hits AS (SELECT t.query_id, t.id,
         |           max(CASE WHEN r.id IS NOT NULL THEN 1 ELSE 0 END) AS hit
         |         FROM t LEFT JOIN r
         |           ON t.query_id = r.query_id
         |          AND (r.id = t.id OR abs(r.dist - t.dist) < 1e-6)
         |         GROUP BY t.query_id, t.id),
         |pq AS (SELECT query_id, CAST(sum(hit) AS DOUBLE) / $K AS recall FROM hits GROUP BY query_id)
         |SELECT round(avg(recall), 4) AS avg_recall, round(min(recall), 4) AS min_recall,
         |       round(max(recall), 4) AS max_recall, count(*) AS n_queries
         |FROM pq""".stripMargin
    },
    // MMR: the k greedy rounds unrolled as CTEs — round 1 picks max rel
    // (score = rel, matching the operator); each later round anti-joins the
    // cumulative picks, hydrates max-sim-to-selected, and scores
    // (1−λ)·rel − λ·ms with exact-double coefficients
    "q124_mmr_rerank" -> {
      val pDist = Tables.distSql("cos", "q.qvec", "e.vec")
      val sDist = Tables.distSql("cos", "l.vec", "r.vec")
      val w1 = (1.0 - MmrLambda).toString
      val wl = MmrLambda.toString
      val rounds = (2 to MmrK).map { t =>
        val p = t - 1
        s"""ct$t AS (SELECT p.* FROM pool p LEFT JOIN c$p s
           |        ON s.query_id = p.query_id AND s.id = p.id WHERE s.id IS NULL),
           |ms$t AS (SELECT si.query_id, si.sa AS id, max(si.sim) AS ms
           |        FROM sims si JOIN c$p s ON s.query_id = si.query_id AND s.id = si.sb
           |        GROUP BY si.query_id, si.sa),
           |s$t AS (SELECT query_id, id, $t AS pick, score FROM (
           |    SELECT c.query_id, c.id, $w1 * c.rel - $wl * m.ms AS score,
           |      row_number() OVER (PARTITION BY c.query_id
           |        ORDER BY ($w1 * c.rel - $wl * m.ms) DESC, c.id) AS rn
           |    FROM ct$t c JOIN ms$t m ON m.query_id = c.query_id AND m.id = c.id)
           |  WHERE rn = 1),
           |c$t AS (SELECT * FROM c$p UNION ALL SELECT * FROM s$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= 10),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         |pd AS (SELECT q.query_id, e.id, e.vec, $pDist AS dist FROM q CROSS JOIN e),
         |pool AS (SELECT query_id, id, vec, 1.0 - dist AS rel FROM (
         |    SELECT query_id, id, vec, dist,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS rank
         |    FROM pd) WHERE rank <= $MmrPool),
         |sims AS (SELECT l.query_id, l.id AS sa, r.id AS sb,
         |           1.0 - ($sDist) AS sim
         |         FROM pool l JOIN pool r
         |           ON l.query_id = r.query_id AND l.id <> r.id),
         |c1 AS (SELECT query_id, id, 1 AS pick, rel AS score FROM (
         |    SELECT query_id, id, rel,
         |      row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, id) AS rn
         |    FROM pool) WHERE rn = 1),
         |$rounds
         |SELECT query_id, CAST(pick AS INT) AS pick, id, score
         |FROM c$MmrK ORDER BY query_id, pick, id, score""".stripMargin
    },
    // per-doc novelty: corpus shingle df, share with df = 1
    "q112_novelty" ->
      s"""WITH $shingleCtes,
         |dfx AS (SELECT sh AS shv, count(*) AS df FROM sh GROUP BY sh),
         |agg AS (SELECT doc_id, count(*) AS n_shingles,
         |          CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |        FROM sh JOIN dfx d ON d.shv = sh.sh GROUP BY doc_id)
         |SELECT doc_id, n_shingles, n_novel,
         |  round(n_novel::DOUBLE / n_shingles::DOUBLE, 4) AS novel_share
         |FROM agg ORDER BY doc_id, n_shingles, n_novel, novel_share""".stripMargin,
    // Bloom pre-filter is performance-only: the oracle is the PLAIN
    // semi-join the operator must equal (no false negatives by contract)
    "q165_bloom_join" ->
      """SELECT
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')""".stripMargin,
    // blocked fuzzy join: same (size, noun) blocking, same unit-cost
    // Levenshtein — DuckDB's levenshtein is the same metric
    "q166_fuzzy_join" ->
      s"""WITH p AS (SELECT p_partkey, p_name, p_size,
         |             split_part(p_name, ' ', 2) AS noun FROM part)
         |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
         |  a.p_name AS p_name_a, b.p_name AS p_name_b,
         |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
         |FROM p a JOIN p b
         |  ON a.p_size = b.p_size AND a.noun = b.noun
         | AND a.p_partkey < b.p_partkey
         |WHERE levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDist
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // changelog merge: same synthetic batch, latest-wins via the window
    // form (the oracle may sort per key; the engine must not)
    "q167_changelog" ->
      """WITH chg AS (
        |  SELECT o_orderkey, CAST(0 AS BIGINT) AS version, FALSE AS del,
        |         o_orderstatus, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 1, FALSE, 'U1', o_totalprice + 1000.0
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 2, FALSE, 'U2', o_totalprice + 2000.0
        |  FROM orders WHERE o_orderkey % 10 = 3 AND o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 1, TRUE, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 7
        |  UNION ALL
        |  SELECT o_orderkey, 1, FALSE, 'UX', o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 7 AND o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 1, FALSE, 'N', o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 1),
        |w AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |        ORDER BY version DESC, del DESC) AS rn FROM chg)
        |SELECT o_orderkey, version, o_orderstatus, o_totalprice
        |FROM w WHERE rn = 1 AND NOT del
        |ORDER BY 1, 2, 3, 4""".stripMargin,
    // weighted sample: the race replayed as a global sort (the oracle may
    // sort; the engine must top-k) — same 9dp key, same id tie-break
    "q168_weighted_sample" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val key = Pipeline.weightedSampleKeySql("n_tokens", "ws")
      s"""WITH t AS (SELECT doc_id, source,
         |             CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |r AS (SELECT doc_id, source, n_tokens, $key AS race_key
         |      FROM t WHERE n_tokens > 0),
         |w AS (SELECT * FROM r ORDER BY race_key, doc_id LIMIT $WsK)
         |SELECT doc_id, source, n_tokens, race_key FROM w
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    // calibration: q161's score cells binned by exact integer deciles;
    // every ratio one divide over integer sums
    "q169_calibration" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val hits = TextAnalysis.Sql.hitCount("toks", TextAnalysis.Stopwords.head._2)
      s"""WITH t AS (SELECT (lang = 'en') AS gold, $toks AS toks FROM documents),
         |sc AS (SELECT gold,
         |         CASE WHEN len(toks) > 0
         |              THEN round(($hits)::DOUBLE / len(toks), 4)
         |              ELSE 0.0 END AS score FROM t),
         |i AS (SELECT CAST(round(score * 10000) AS BIGINT) AS s,
         |        CASE WHEN gold THEN 1 ELSE 0 END AS p FROM sc),
         |b AS (SELECT LEAST(CAST(floor(s / ${10000 / CalBins}) AS INT),
         |               ${CalBins - 1}) AS bin,
         |        s, p, (s - 10000 * p) * (s - 10000 * p) AS se FROM i)
         |SELECT bin, count(*) AS n, CAST(sum(p) AS BIGINT) AS n_pos,
         |  round(sum(s)::DOUBLE / count(*) / 10000.0, 6) AS mean_score,
         |  round(sum(p)::DOUBLE / count(*), 6) AS pos_rate,
         |  round(sum(CAST(se AS DECIMAL(38,0)))::DOUBLE / count(*) / 1e8, 6)
         |    AS bin_brier
         |FROM b GROUP BY bin
         |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin
    },
    "q170_tpch_q10" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
         |       AS DOUBLE) AS revenue
         |FROM lineitem, orders, customer, nation
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND c_nationkey = n_nationkey AND l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '$Q10Start'
         |  AND o_orderdate < TIMESTAMP '$Q10End'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // Q17: integer cross-multiplied boundary (5·qty·cnt < Σqty) — never a
    // comparison against a divided average
    "q171_tpch_q17" ->
      """WITH pp AS (SELECT l_partkey AS pk,
        |              SUM(CAST(l_quantity AS BIGINT)) AS sq,
        |              COUNT(*) AS cnt
        |            FROM lineitem GROUP BY 1)
        |SELECT
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |        / 7.0, 4) AS avg_yearly,
        |  COUNT(*) AS n_rows
        |FROM lineitem JOIN pp ON l_partkey = pk
        |WHERE CAST(l_quantity AS BIGINT) * 5 * cnt < sq""".stripMargin,
    "q172_tpch_q19" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |       AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    // PPJoin: same df-ascending prefix rule, same rounded-Jaccard verify
    // (the jac CTE) restricted to the prefix candidates
    "q173_ppjoin" -> {
      val jacT = math.round(PpJacT * 10000).toInt
      s"""WITH $shingleCtes,
         |dfc AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
         |sz AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
         |pos AS (SELECT s.doc_id, s.sh,
         |          row_number() OVER (PARTITION BY s.doc_id
         |            ORDER BY d.df, s.sh) AS pos
         |        FROM sh s JOIN dfc d USING (sh)),
         |pref AS (SELECT p.doc_id, p.sh FROM pos p JOIN sz USING (doc_id)
         |         WHERE p.pos <= nsh - floor((nsh * $jacT + 9999) / 10000) + 1),
         |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |         FROM pref l JOIN pref r
         |           ON l.sh = r.sh AND l.doc_id < r.doc_id),
         |$jaccardCtes
         |SELECT j.a, j.b, j.jaccard
         |FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
         |WHERE j.jaccard >= $PpJacT
         |ORDER BY 1, 2, 3""".stripMargin
    },
    // Z-order key: identical literal-shift interleave
    "q174_zorder" ->
      s"""WITH q AS (SELECT o_orderkey,
         |  CAST(least(floor(o_totalprice / $ZPriceStep), ${(1 << ZBits) - 1})
         |       AS BIGINT) AS qx,
         |  CAST(o_custkey % ${1 << ZBits} AS BIGINT) AS qy FROM orders)
         |SELECT o_orderkey, qx, qy,
         |  ${Pipeline.zorderKeySql("qx", "qy", ZBits)} AS z
         |FROM q ORDER BY 1, 2, 3, 4""".stripMargin,
    "q175_tpch_q4" ->
      s"""SELECT o_orderpriority, count(*) AS order_count
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '$Q10Start'
         |  AND o_orderdate < TIMESTAMP '$Q10End'
         |  AND EXISTS (SELECT 1 FROM lineitem
         |              WHERE l_orderkey = o_orderkey
         |                AND l_shipdate > o_orderdate)
         |GROUP BY 1 ORDER BY 1, 2""".stripMargin,
    "q176_tpch_q22" ->
      """WITH a AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS sb,
        |             COUNT(*) AS cnt
        |           FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        |FROM customer, a
        |WHERE CAST(c_acctbal AS DECIMAL(18,4)) * cnt > sb
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders)
        |GROUP BY 1 ORDER BY 1, 2, 3""".stripMargin,
    // linear attribution: same per-user join, same single divide
    "q177_linear_attribution" ->
      s"""WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS pts, value
         |           FROM events WHERE event_type = 'purchase'),
         |v AS (SELECT user_id, event_id AS view_id, ts AS vts
         |      FROM events WHERE event_type = 'view'),
         |j AS (SELECT purchase_id, p.user_id, view_id, value
         |      FROM p JOIN v USING (user_id)
         |      WHERE vts <= pts AND vts >= pts - INTERVAL $AttrWindowMin MINUTES),
         |n AS (SELECT purchase_id, count(*) AS n_touch FROM j GROUP BY 1)
         |SELECT j.purchase_id, j.user_id, j.view_id, n.n_touch,
         |  round(j.value / n.n_touch, 6) AS credit
         |FROM j JOIN n USING (purchase_id)
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // nDCG: discounts as ln-ratio doubles rounded 6dp then DECIMAL-summed
    // (only k distinct values exist) — mirrors Eval.ndcgAt exactly
    "q178_ndcg" -> {
      val exDist = Tables.distSql("l2sq", "q.qvec", "v.vec")
      def disc(pos: String) =
        s"CAST(round(1.0 / (ln(($pos) + 1) / ln(2)), 6) AS DECIMAL(18,9))"
      s"""WITH ${spannCtes(wideK = WideK, closeRatio = CloseRatio)},
         |exd AS (SELECT q.query_id, v.id, $exDist AS dist FROM q CROSS JOIN v),
         |ex AS (SELECT * FROM (
         |    SELECT query_id, id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS rank
         |    FROM exd) WHERE rank <= $K),
         |hits AS (SELECT r.query_id, r.rank
         |         FROM sp r JOIN ex t ON r.query_id = t.query_id AND r.id = t.id
         |         WHERE r.rank <= $K),
         |dcg AS (SELECT query_id, sum(${disc("rank")}) AS dcg,
         |          count(*) AS n_hits FROM hits GROUP BY 1),
         |nrel AS (SELECT query_id, count(*) AS nrel FROM ex GROUP BY 1),
         |ipos AS (SELECT query_id,
         |           unnest(generate_series(1, least(nrel, $K))) AS pos FROM nrel),
         |idcg AS (SELECT query_id, sum(${disc("pos")}) AS idcg FROM ipos GROUP BY 1),
         |qq AS (SELECT DISTINCT query_id FROM sp)
         |SELECT qq.query_id,
         |  CAST(coalesce(dcg.n_hits, 0) AS BIGINT) AS n_hits,
         |  round(coalesce(dcg.dcg, 0)::DOUBLE / idcg.idcg::DOUBLE, 6) AS ndcg
         |FROM qq LEFT JOIN dcg USING (query_id) LEFT JOIN idcg USING (query_id)
         |ORDER BY 1, 2, 3""".stripMargin
    },
    // k-core: q153's kNN edge chain + exactly KcRounds unrolled parallel
    // peels (extra rounds past the fixpoint are no-ops in both engines)
    "q179_kcore" -> {
      val dd = Tables.distSql("l2sq", "a.vec", "b.vec")
      def degSql(src: String) =
        s"""SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
           |  SELECT a AS id FROM $src UNION ALL SELECT b AS id FROM $src)
           |GROUP BY 1""".stripMargin
      // MATERIALIZED: each round references its predecessor three times —
      // inlined CTEs would re-expand the base scan 2^rounds times
      val rounds = (1 to KcRounds).map { i =>
        val prev = if (i == 1) "und" else s"und${i - 1}"
        s"""deg$i AS MATERIALIZED (${degSql(prev)}),
           |und$i AS MATERIALIZED (SELECT u.a, u.b FROM $prev u
           |  JOIN deg$i da ON da.id = u.a AND da.deg >= $KcK
           |  JOIN deg$i db ON db.id = u.b AND db.deg >= $KcK)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
         |           WHERE vec_id < $TriNodes),
         |pd AS (SELECT a.id AS src, b.id AS dst, $dd AS d FROM v a CROSS JOIN v b),
         |rk AS (SELECT src, dst,
         |         row_number() OVER (PARTITION BY src ORDER BY d, dst) AS rn
         |       FROM pd),
         |e AS (SELECT src, dst FROM rk WHERE rn <= ${TriK + 1} AND src <> dst),
         |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
         |$rounds
         |${degSql(s"und$KcRounds")}
         |ORDER BY 1, 2""".stripMargin
    },
    // PSI: calibration's integer deciles on both snapshots, smoothed
    // shares as single divides, ln-term 6dp
    "q180_psi" ->
      s"""WITH s AS (SELECT (doc_id % 2 = 1) AS snap,
         |             ${TextAnalysis.Sql.qualityRawExpr} AS score FROM documents),
         |i AS (SELECT CAST(round(score * 10000) AS BIGINT) AS sc,
         |        CASE WHEN snap THEN 1 ELSE 0 END AS a,
         |        CASE WHEN snap THEN 0 ELSE 1 END AS b FROM s),
         |bn AS (SELECT LEAST(CAST(floor(sc / 1000) AS INT), 9) AS bin,
         |         CAST(sum(a) AS BIGINT) AS n_a,
         |         CAST(sum(b) AS BIGINT) AS n_b FROM i GROUP BY 1),
         |t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM bn)
         |SELECT bin, n_a, n_b,
         |  round((n_a + 1)::DOUBLE / (ta + 10), 6) AS p_a,
         |  round((n_b + 1)::DOUBLE / (tb + 10), 6) AS p_b,
         |  round(((n_a + 1)::DOUBLE / (ta + 10) - (n_b + 1)::DOUBLE / (tb + 10))
         |        * ln(((n_a + 1)::DOUBLE / (ta + 10))
         |             / ((n_b + 1)::DOUBLE / (tb + 10))), 6) AS term
         |FROM bn, t ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin,
    // entity resolution: the q166 pair set walked to min labels (q163's
    // recursive pattern); survivors are each group's canonical part
    "q181_entity_resolution" ->
      s"""WITH RECURSIVE p AS (SELECT p_partkey, p_name, p_size,
         |             split_part(p_name, ' ', 2) AS noun FROM part),
         |fz AS (SELECT a.p_partkey AS a, b.p_partkey AS b
         |       FROM p a JOIN p b
         |         ON a.p_size = b.p_size AND a.noun = b.noun
         |        AND a.p_partkey < b.p_partkey
         |       WHERE levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDist),
         |edges AS (SELECT a AS u, b AS v FROM fz UNION SELECT b, a FROM fz),
         |walk(id, lbl) AS (
         |  SELECT p_partkey, p_partkey FROM part
         |  UNION
         |  SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.id
         |)
         |SELECT pt.p_partkey, pt.p_name FROM part pt
         |JOIN (SELECT id FROM walk GROUP BY id HAVING min(lbl) = id) k
         |  ON k.id = pt.p_partkey
         |ORDER BY 1, 2""".stripMargin,
    "q182_tpch_q7" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS INT) AS l_year,
         |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
         |       AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |WHERE (sn.n_name = '$Q7NationA' AND cn.n_name = '$Q7NationB')
         |   OR (sn.n_name = '$Q7NationB' AND cn.n_name = '$Q7NationA')
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3, 4""".stripMargin,
    // Q8: numerator as a conditional sum INSIDE the same aggregation
    "q183_tpch_q8" ->
      s"""WITH base AS (
         |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev,
         |    sn.n_name AS supp_nation
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation sn ON s_nationkey = sn.n_nationkey
         |  WHERE c_nationkey IN (
         |    SELECT n_nationkey FROM nation JOIN region
         |      ON n_regionkey = r_regionkey WHERE r_name = '$Q5Region'))
         |SELECT o_year,
         |  CAST(SUM(rev) AS DOUBLE) AS total_rev,
         |  CAST(SUM(CASE WHEN supp_nation = '$Q8Nation' THEN rev
         |                ELSE 0.0000 END) AS DOUBLE) AS nation_rev,
         |  round(CAST(SUM(CASE WHEN supp_nation = '$Q8Nation' THEN rev
         |                      ELSE 0.0000 END) AS DOUBLE)
         |        / CAST(SUM(rev) AS DOUBLE), 6) AS mkt_share
         |FROM base GROUP BY 1 ORDER BY 1, 2, 3, 4""".stripMargin,
    // Q12: the class split is CASE sums inside one aggregation
    "q198_tpch_q12" ->
      s"""SELECT l_linestatus,
         |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE l_shipdate >= TIMESTAMP '$Q10Start'
         |  AND l_shipdate < TIMESTAMP '$Q10End'
         |GROUP BY 1 ORDER BY 1, 2, 3""".stripMargin,
    // Q13: the order filter rides the OUTER join's ON clause
    "q199_tpch_q13" ->
      """WITH co AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM co GROUP BY 1 ORDER BY 1, 2""".stripMargin,
    // Q14: numerator and denominator from the same scan, one divide
    "q200_tpch_q14" ->
      s"""SELECT round(100.0 *
         |    CAST(SUM(CASE WHEN p_type = 'PROMO'
         |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
         |      ELSE 0.0000 END) AS DOUBLE)
         |  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
         |      AS DECIMAL(18,4))) AS DOUBLE), 6) AS promo_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '$Q10Start'
         |  AND l_shipdate < TIMESTAMP '$Q10End'
         |ORDER BY 1""".stripMargin,
    // Q15: the view is a CTE, the scalar max an uncorrelated subquery,
    // equality on the exact decimal sums
    "q201_tpch_q15" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
         |      AS _rev
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '$Q10Start'
         |    AND l_shipdate < TIMESTAMP '$Q10End'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, CAST(_rev AS DOUBLE) AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE _rev = (SELECT max(_rev) FROM rev)
         |ORDER BY 1, 2, 3""".stripMargin,
    // Q16: NOT IN over a negative-balance list that is never NULL
    "q202_tpch_q16" ->
      s"""SELECT p_brand, p_type, p_size,
         |  count(DISTINCT l_suppkey) AS supplier_cnt
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_size <= $Q16MaxSize
         |  AND l_suppkey NOT IN
         |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3, 4""".stripMargin,
    // Q9: amount mirrors the Spark double expression left-to-right, then
    // one cast to exact decimal before the sum
    "q203_tpch_q9" ->
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
         |      - p_retailprice * $Q9CostFactor * l_quantity
         |      AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '%$Q9Noun%'
         |GROUP BY 1, 2 ORDER BY 1, 2, 3""".stripMargin,
    // Q21: EXISTS/NOT-EXISTS self-joins, late = shipped > N days after the
    // order date on a finished order
    "q204_tpch_q21" ->
      s"""WITH late AS (
         |  SELECT l_orderkey, l_suppkey
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderstatus = 'F'
         |    AND l_shipdate > o_orderdate + INTERVAL $Q21LateDays DAY)
         |SELECT s_name, count(*) AS numwait
         |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
         |WHERE EXISTS (SELECT 1 FROM lineitem l2
         |              WHERE l2.l_orderkey = l1.l_orderkey
         |                AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM late l3
         |                  WHERE l3.l_orderkey = l1.l_orderkey
         |                    AND l3.l_suppkey <> l1.l_suppkey)
         |GROUP BY 1 ORDER BY 1, 2""".stripMargin,
    // q205: bigram/unigram counts + one double-expression PMI, mirroring
    // the Spark multiply order (cast-to-double on each product's head)
    "q205_collocations" ->
      s"""WITH t AS (SELECT ${TextAnalysis.Sql.toks("text")} AS toks
         |           FROM documents),
         |uni AS (SELECT w, count(*) AS cnt
         |        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
         |bi0 AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS pair_cnt FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
         |      i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p
         |    FROM t WHERE len(toks) >= 2)
         |  GROUP BY 1, 2),
         |tot AS (SELECT (SELECT sum(cnt) FROM uni) AS nu,
         |               (SELECT sum(pair_cnt) FROM bi0) AS nb)
         |SELECT w1, w2, pair_cnt, u1.cnt AS cnt1, u2.cnt AS cnt2,
         |  round(ln(CAST(pair_cnt AS DOUBLE) * nu * nu
         |    / (CAST(nb AS DOUBLE) * u1.cnt * u2.cnt)), 6) AS pmi
         |FROM bi0
         |JOIN uni u1 ON w1 = u1.w
         |JOIN uni u2 ON w2 = u2.w
         |CROSS JOIN tot
         |WHERE pair_cnt >= $CollocMin
         |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin,
    // q206/q207: the winnowing hash sequence is shared; selection is the
    // per-window list_min over 1-based inclusive slices
    "q206_winnow" ->
      s"""WITH h AS (SELECT doc_id,
         |    list_transform(
         |      generate_series(1, greatest(length(text) - ${WinnowK - 1}, 1)),
         |      i -> ${graft.functions.Hash60.sql(s"substr(text, i, $WinnowK)")})
         |      AS hs
         |  FROM documents)
         |SELECT doc_id,
         |  unnest(list_distinct(list_transform(
         |    generate_series(1, greatest(len(hs) - ${WinnowW - 1}, 1)),
         |    j -> list_min(hs[j:j + ${WinnowW - 1}])))) AS fp
         |FROM h
         |ORDER BY 1, 2""".stripMargin,
    "q207_winnow_overlap" ->
      s"""WITH h AS (SELECT doc_id,
         |    list_transform(
         |      generate_series(1, greatest(length(text) - ${WinnowK - 1}, 1)),
         |      i -> ${graft.functions.Hash60.sql(s"substr(text, i, $WinnowK)")})
         |      AS hs
         |  FROM documents),
         |fps AS (SELECT doc_id,
         |    unnest(list_distinct(list_transform(
         |      generate_series(1, greatest(len(hs) - ${WinnowW - 1}, 1)),
         |      j -> list_min(hs[j:j + ${WinnowW - 1}])))) AS fp
         |  FROM h),
         |sizes AS (SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY 1),
         |kept AS (SELECT fp, doc_id FROM fps
         |         WHERE fp IN (SELECT fp FROM fps GROUP BY fp
         |                      HAVING count(*) <= $WinnowMaxDf)),
         |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
         |          FROM kept x JOIN kept y
         |            ON x.fp = y.fp AND x.doc_id < y.doc_id
         |          GROUP BY 1, 2
         |          HAVING count(*) >= $WinnowMinShared)
         |SELECT * FROM (
         |  SELECT a, b, n_shared,
         |    round(CAST(n_shared AS DOUBLE)
         |      / least(sa.n_fp, sb.n_fp), 4) AS overlap
         |  FROM pairs
         |  JOIN sizes sa ON a = sa.doc_id
         |  JOIN sizes sb ON b = sb.doc_id)
         |WHERE overlap >= $WinnowMinOverlap
         |ORDER BY 1, 2, 3, 4""".stripMargin,
    // Q2: the correlated min is the same exact decimal on both sides
    "q208_tpch_q2" ->
      s"""WITH sn AS (
         |  SELECT s_suppkey, s_name, s_acctbal, n_name
         |  FROM supplier
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = '$Q2Region'),
         |cost AS (
         |  SELECT l_partkey AS p_partkey, l_suppkey,
         |    MIN(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
         |      AS _cost
         |  FROM lineitem
         |  JOIN part ON l_partkey = part.p_partkey
         |  JOIN sn ON l_suppkey = sn.s_suppkey
         |  WHERE p_type = '$Q2Type' AND p_size = $Q2Size
         |  GROUP BY 1, 2)
         |SELECT s_acctbal, s_name, n_name, c.p_partkey,
         |  CAST(_cost AS DOUBLE) AS supply_cost
         |FROM cost c JOIN sn ON c.l_suppkey = sn.s_suppkey
         |WHERE _cost = (SELECT min(_cost) FROM cost c2
         |               WHERE c2.p_partkey = c.p_partkey)
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // Q11: HAVING vs fraction-of-total scalar subquery, double compare
    // mirroring the Spark expression
    "q209_tpch_q11" ->
      s"""WITH v AS (
         |  SELECT l_partkey,
         |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
         |      AS _val
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_name = '$Q11Nation'
         |  GROUP BY 1)
         |SELECT l_partkey, CAST(_val AS DOUBLE) AS part_value
         |FROM v
         |WHERE CAST(_val AS DOUBLE) >
         |  $Q11Fraction * (SELECT CAST(sum(_val) AS DOUBLE) FROM v)
         |ORDER BY 1, 2""".stripMargin,
    // Q20: dominance via 2·qty > total — exact decimals, no 0.5 multiply
    "q210_tpch_q20" ->
      s"""WITH q AS (
         |  SELECT l_partkey, l_suppkey,
         |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS _q
         |  FROM lineitem
         |  JOIN part ON l_partkey = p_partkey
         |  WHERE p_name LIKE '%$Q20Noun%'
         |    AND l_shipdate >= TIMESTAMP '$Q10Start'
         |    AND l_shipdate < TIMESTAMP '$Q20YearEnd'
         |  GROUP BY 1, 2)
         |SELECT s_suppkey, s_name
         |FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = '$Q2Region'
         |  AND s_suppkey IN (
         |    SELECT l_suppkey FROM q
         |    WHERE _q * 2 > (SELECT sum(_q) FROM q q2
         |                    WHERE q2.l_partkey = q.l_partkey))
         |ORDER BY 1, 2""".stripMargin,
    // q211: the oracle is the definitional NOT EXISTS — the two-phase
    // Spark plan must reproduce it exactly
    "q211_skyline" ->
      """SELECT p_partkey, p_retailprice, p_size FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice
        |    AND q.p_size <= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice
        |         OR q.p_size < p.p_size))
        |ORDER BY 1, 2, 3""".stripMargin,
    // q212: lift mirrors the Spark double expression (cast on each
    // product's head)
    "q212_basket_lift" ->
      s"""WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
         |            FROM lineitem),
         |kept AS (SELECT b, i FROM bi
         |         WHERE b IN (SELECT b FROM bi GROUP BY b
         |                     HAVING count(*) <= $BasketMax)),
         |n AS (SELECT count(DISTINCT b) AS nb FROM kept),
         |sup AS (SELECT i, count(*) AS cnt FROM kept GROUP BY 1),
         |pairs AS (SELECT x.i AS item_a, y.i AS item_b, count(*) AS pair_cnt
         |          FROM kept x JOIN kept y ON x.b = y.b AND x.i < y.i
         |          GROUP BY 1, 2
         |          HAVING count(*) >= $BasketMinPair)
         |SELECT item_a, item_b, pair_cnt, sa.cnt AS cnt_a, sb.cnt AS cnt_b,
         |  round(CAST(pair_cnt AS DOUBLE) * nb
         |    / (CAST(sa.cnt AS DOUBLE) * sb.cnt), 6) AS lift
         |FROM pairs
         |JOIN sup sa ON item_a = sa.i
         |JOIN sup sb ON item_b = sb.i
         |CROSS JOIN n
         |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin,
    // q214: the q167 change CTE; delete-beats-upsert tie resolved by the
    // same (version, del) argmax, then one lead per key
    "q214_scd2" ->
      """WITH chg AS (
        |  SELECT o_orderkey, CAST(0 AS BIGINT) AS version, FALSE AS del,
        |         o_orderstatus, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 1, FALSE, 'U1', o_totalprice + 1000.0
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 2, FALSE, 'U2', o_totalprice + 2000.0
        |  FROM orders WHERE o_orderkey % 10 = 3 AND o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 1, TRUE, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 7
        |  UNION ALL
        |  SELECT o_orderkey, 1, FALSE, 'UX', o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 7 AND o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 1, FALSE, 'N', o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 1),
        |w AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey, version
        |        ORDER BY del DESC) AS rn FROM chg),
        |win AS (SELECT o_orderkey, version, del, o_orderstatus, o_totalprice
        |        FROM w WHERE rn = 1),
        |iv AS (SELECT *, lead(version) OVER (PARTITION BY o_orderkey
        |         ORDER BY version) AS valid_to FROM win)
        |SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  version AS valid_from, valid_to, (valid_to IS NULL) AS is_current
        |FROM iv WHERE NOT del
        |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin,
    // q215: the v2 corpus derived in SQL; digests compare, texts don't move
    "q215_corpus_diff" ->
      """SELECT * FROM (
        |  SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
        |    CASE WHEN p.h IS NULL THEN 'added'
        |         WHEN c.h IS NULL THEN 'removed'
        |         WHEN p.h <> c.h THEN 'changed'
        |         ELSE 'same' END AS status
        |  FROM (SELECT doc_id, md5(text) AS h FROM documents) p
        |  FULL OUTER JOIN (
        |    SELECT doc_id,
        |      md5(CASE WHEN doc_id % 10 = 3 THEN text || ' v2'
        |               ELSE text END) AS h
        |    FROM documents WHERE doc_id % 10 <> 7
        |    UNION ALL
        |    SELECT doc_id + 1000000000, md5(text)
        |    FROM documents WHERE doc_id % 10 = 1) c
        |  ON p.doc_id = c.doc_id)
        |WHERE status <> 'same'
        |ORDER BY 1, 2""".stripMargin,
    // q216: arbitrary grouping-set list (not a rollup chain)
    "q216_grouping_sets" ->
      """SELECT
        |  coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_linestatus), ())
        |ORDER BY 1, 2, 3, 4""".stripMargin,
    // q213: permissive JSON — TRY_CAST drops what Spark's cast nulls out
    "q213_json_props" ->
      """SELECT event_type, count(*) AS n_with, sum(v)::BIGINT AS sum_v,
        |  min(v) AS min_v, max(v) AS max_v,
        |  count(DISTINCT v) AS n_distinct
        |FROM (SELECT event_type,
        |        TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS v
        |      FROM events)
        |WHERE v IS NOT NULL
        |GROUP BY 1 ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin,
    // per-customer windows: explicit ROWS frames on both engines
    "q184_running_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS running_total,
        |  lag(o_totalprice, 1)
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |    AS prev_price,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / COUNT(*)
        |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS avg3
        |FROM orders
        |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin,
    // pivot = conditional aggregation spread over the pivot values
    "q185_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "F",
        |  CAST(SUM(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "O"
        |FROM lineitem GROUP BY 1 ORDER BY 1, 2, 3""".stripMargin,
    "q186_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY 1, 2, 3, 4""".stripMargin,
    // correlation/slope from the same five DECIMAL(38,0) power sums
    "q187_correlation" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH t AS (SELECT
         |  CAST(round(${TextAnalysis.Sql.qualityRawExpr} * 10000) AS BIGINT) AS x,
         |  CAST(len($toks) AS BIGINT) AS y FROM documents),
         |s AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         |        CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         |        CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         |        sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
         |        sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
         |        sum(CAST(y * y AS DECIMAL(38,0))) AS syy FROM t)
         |SELECT CAST(n AS BIGINT) AS n,
         |  round((n * sxy - sx * sy)::DOUBLE /
         |    (sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE)),
         |    6) AS corr,
         |  round((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE, 6)
         |    AS beta
         |FROM s""".stripMargin
    },
    // skew profile: the oracle may sort-and-limit; the engine must top-k
    "q188_skew_profile" ->
      s"""WITH c AS (SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1),
         |t AS (SELECT count(*) AS tot FROM lineitem),
         |r AS (SELECT l_orderkey, cnt,
         |        CAST(row_number() OVER (ORDER BY cnt DESC, l_orderkey) AS INT)
         |          AS rank
         |      FROM c)
         |SELECT rank, l_orderkey, cnt, round(cnt::DOUBLE / tot, 6) AS share
         |FROM r, t WHERE rank <= $SkewTopK
         |ORDER BY 1, 2, 3, 4""".stripMargin,
    // the layout is performance-only: the oracle is the plain filter the
    // pruned probe must equal
    "q189_zorder_probe" ->
      s"""SELECT
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
         |  COUNT(*) AS n_rows
         |FROM orders
         |WHERE o_totalprice >= $ZProbeLo AND o_totalprice < $ZProbeHi""".stripMargin,
    // MAD: the same two-level lower-median histograms, integer throughout
    "q190_mad_outliers" ->
      s"""WITH s AS (SELECT doc_id, source,
         |             CAST(round(${TextAnalysis.Sql.qualityRawExpr} * 10000) AS BIGINT) AS x
         |           FROM documents),
         |h1 AS (SELECT source, x AS v, count(*) AS c FROM s GROUP BY 1, 2),
         |n1 AS (SELECT source, sum(c) AS n FROM h1 GROUP BY 1),
         |c1 AS (SELECT h1.source, v,
         |         sum(c) OVER (PARTITION BY h1.source ORDER BY v) AS cum, n
         |       FROM h1 JOIN n1 USING (source)),
         |m1 AS (SELECT source, min(v) AS med FROM c1 WHERE cum * 2 >= n GROUP BY 1),
         |dv AS (SELECT doc_id, s.source, x, med, abs(x - med) AS d
         |       FROM s JOIN m1 USING (source)),
         |h2 AS (SELECT source, d AS v, count(*) AS c FROM dv GROUP BY 1, 2),
         |n2 AS (SELECT source, sum(c) AS n FROM h2 GROUP BY 1),
         |c2 AS (SELECT h2.source, v,
         |         sum(c) OVER (PARTITION BY h2.source ORDER BY v) AS cum, n
         |       FROM h2 JOIN n2 USING (source)),
         |m2 AS (SELECT source, min(v) AS mad FROM c2 WHERE cum * 2 >= n GROUP BY 1)
         |SELECT doc_id, source, x AS score1e4, med, mad
         |FROM dv JOIN m2 USING (source)
         |WHERE d * 10000 > 44478 * mad
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // dow: DuckDB is 0-based Sunday=0, Spark 1-based Sunday=1 → +1
    "q191_seasonality" ->
      """WITH cells AS (SELECT event_type,
        |    CAST(dayofweek(ts) + 1 AS INT) AS dow,
        |    CAST(hour(ts) AS INT) AS hod, count(*) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |t AS (SELECT event_type, sum(n) AS tot FROM cells GROUP BY 1)
        |SELECT c.event_type, dow, hod, n, round(n::DOUBLE / tot, 6) AS share
        |FROM cells c JOIN t USING (event_type)
        |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // floor(epoch()): the events carry sub-second timestamps and Spark's
    // unix_timestamp truncates to seconds — mirror the truncation
    "q192_time_to_convert" ->
      s"""WITH su AS (SELECT user_id, min(ts) AS su FROM events
         |           WHERE event_type = 'signup' GROUP BY 1),
         |d AS (SELECT e.user_id,
         |        min(CAST(floor(epoch(e.ts)) AS BIGINT)
         |            - CAST(floor(epoch(su)) AS BIGINT)) AS dd
         |      FROM events e JOIN su USING (user_id)
         |      WHERE e.event_type = 'purchase' AND e.ts >= su GROUP BY 1),
         |vv AS (SELECT (dd // 60) * 60 AS v FROM d),
         |h AS (SELECT v, count(*) AS c FROM vv GROUP BY 1),
         |t AS (SELECT sum(c) AS n FROM h),
         |cum AS (SELECT a.v, sum(b.c) AS cum FROM h a JOIN h b ON b.v <= a.v
         |        GROUP BY 1)
         |SELECT pct, min(v) AS delay_sec
         |FROM cum, t, (SELECT unnest([${ConvertPcts.mkString(", ")}]) AS pct)
         |WHERE cum * 100 >= pct * n GROUP BY pct ORDER BY 1, 2""".stripMargin,
    "q193_transitions" ->
      """WITH w AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |p AS (SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
        |      FROM w WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, sum(n) AS tot FROM p GROUP BY 1)
        |SELECT from_type, to_type, n, round(n::DOUBLE / tot, 6) AS prob
        |FROM p JOIN t USING (from_type)
        |ORDER BY 1, 2, 3, 4""".stripMargin,
    "q194_source_token_quantiles" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH s AS (SELECT source, CAST(len($toks) AS BIGINT) AS v FROM documents),
         |h AS (SELECT source, v, count(*) AS c FROM s GROUP BY 1, 2),
         |n AS (SELECT source, sum(c) AS n FROM h GROUP BY 1),
         |cum AS (SELECT h.source, v,
         |          sum(c) OVER (PARTITION BY h.source ORDER BY v) AS cum, n
         |        FROM h JOIN n USING (source))
         |SELECT source, pct, min(v) AS value
         |FROM cum, (SELECT unnest([${QuantPcts.mkString(", ")}]) AS pct)
         |WHERE cum * 100 >= pct * n
         |GROUP BY 1, 2 ORDER BY 1, 2, 3""".stripMargin
    },
    // quota: the same truncate-then-bucket window arithmetic
    "q195_quota" ->
      s"""WITH w AS (SELECT event_id, user_id, event_type,
         |    row_number() OVER (
         |      PARTITION BY user_id,
         |        CAST(floor(floor(epoch(ts)) / ${60 * QuotaWinMin}) AS BIGINT)
         |      ORDER BY ts, event_id) AS rn
         |  FROM events)
         |SELECT event_id, user_id, event_type FROM w WHERE rn <= $QuotaMax
         |ORDER BY 1, 2, 3""".stripMargin,
    // ILD: exact top-k pairs, 6dp cosine terms DECIMAL-summed, one divide
    "q196_ild" -> {
      val cd = Tables.distSql("cos", "q.qvec", "v.vec")
      val pd = Tables.distSql("cos", "x.vec", "y.vec")
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         |d AS (SELECT q.query_id, v.id, $cd AS dist FROM q CROSS JOIN v),
         |r AS (SELECT query_id, id FROM (
         |        SELECT query_id, id,
         |          row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS rank
         |        FROM d) WHERE rank <= $K),
         |p AS (SELECT a.query_id, a.id AS ia, b.id AS ib FROM r a
         |      JOIN r b ON a.query_id = b.query_id AND a.id < b.id),
         |t AS (SELECT p.query_id,
         |        CAST(round($pd, 6) AS DECIMAL(18,9)) AS dd
         |      FROM p JOIN v x ON x.id = p.ia JOIN v y ON y.id = p.ib)
         |SELECT query_id, count(*) AS n_pairs,
         |  round(sum(dd)::DOUBLE / count(*), 6) AS ild
         |FROM t GROUP BY 1 ORDER BY 1, 2, 3""".stripMargin
    },
    // q272's merged-value CDF staging minus the next-value step: the gap
    // per distinct value rounds 8dp, max is order-free, no DECIMAL fold
    "q286_ks_drift" -> {
      val qe = TextAnalysis.Sql.qualityExpr
      s"""WITH qa AS (SELECT $qe AS v FROM documents WHERE doc_id % 2 = 0),
         |qb AS (SELECT $qe AS v FROM documents WHERE doc_id % 2 = 1),
         |ha AS MATERIALIZED (SELECT v, count(*) AS ca FROM qa
         |     WHERE v IS NOT NULL GROUP BY 1),
         |hb AS MATERIALIZED (SELECT v, count(*) AS cb FROM qb
         |     WHERE v IS NOT NULL GROUP BY 1),
         |vals AS MATERIALIZED (SELECT v FROM ha UNION SELECT v FROM hb),
         |na AS (SELECT sum(ca)::BIGINT AS na FROM ha),
         |nb AS (SELECT sum(cb)::BIGINT AS nb FROM hb),
         |fa AS (SELECT a.v, coalesce(sum(b.ca), 0)::BIGINT AS fa
         |       FROM vals a LEFT JOIN ha b ON b.v <= a.v GROUP BY 1),
         |fb AS (SELECT a.v, coalesce(sum(b.cb), 0)::BIGINT AS fb
         |       FROM vals a LEFT JOIN hb b ON b.v <= a.v GROUP BY 1),
         |g AS (SELECT round(abs(fa.fa::DOUBLE / na.na
         |               - fb.fb::DOUBLE / nb.nb), 8) AS g
         |      FROM fa JOIN fb ON fb.v = fa.v CROSS JOIN na CROSS JOIN nb)
         |SELECT na.na AS n_a, nb.nb AS n_b, round(max(g.g), 6) AS ks
         |FROM g CROSS JOIN na CROSS JOIN nb
         |GROUP BY 1, 2 ORDER BY 1, 2, 3""".stripMargin
    },
    // observed-cells-only MI (zero cells contribute exactly 0 — no dense
    // grid, unlike q258's chi²); 8dp DECIMAL folds for every entropy sum
    "q287_mutual_info" ->
      s"""WITH obs AS MATERIALIZED (
         |  SELECT lang AS a, source AS b, count(*) AS o FROM documents
         |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
         |rm AS MATERIALIZED (SELECT a, sum(o)::BIGINT AS ra FROM obs GROUP BY 1),
         |cm AS MATERIALIZED (SELECT b, sum(o)::BIGINT AS cb FROM obs GROUP BY 1),
         |n AS (SELECT sum(o)::BIGINT AS n FROM obs),
         |ha AS (SELECT coalesce(sum(round(-(ra::DOUBLE / n.n) * ln(ra::DOUBLE / n.n),
         |         8)::DECIMAL(38,8))::DOUBLE, 0.0) AS ha FROM rm CROSS JOIN n),
         |hb AS (SELECT coalesce(sum(round(-(cb::DOUBLE / n.n) * ln(cb::DOUBLE / n.n),
         |         8)::DECIMAL(38,8))::DOUBLE, 0.0) AS hb FROM cm CROSS JOIN n),
         |mi AS (SELECT coalesce(sum(round((o::DOUBLE / n.n)
         |         * ln(o::DOUBLE * n.n / (ra::DOUBLE * cb)),
         |         8)::DECIMAL(38,8))::DOUBLE, 0.0) AS mi
         |       FROM obs JOIN rm USING (a) JOIN cm USING (b) CROSS JOIN n)
         |SELECT n.n AS n, round(ha.ha, 6) AS h_a, round(hb.hb, 6) AS h_b,
         |  round(mi.mi, 6) AS mi,
         |  round(CASE WHEN ha.ha > 0.0 AND hb.hb > 0.0
         |        THEN mi.mi / sqrt(ha.ha * hb.hb) ELSE 0.0 END, 6) AS nmi
         |FROM n CROSS JOIN ha CROSS JOIN hb CROSS JOIN mi
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // ECDF matching on the bounded (source, v) histogram; the quantile
    // match cross-multiplies exact counts in HUGEINT (Spark: DECIMAL(38))
    // so no double ever decides a rank and corpus-scale counts never
    // overflow the product. Scores key as 1e-4-unit integers (q190 rule)
    "q288_quantile_norm" -> {
      val qe = TextAnalysis.Sql.qualityRawExpr
      s"""WITH h AS MATERIALIZED (
         |  SELECT source AS g, CAST(round(($qe) * 10000) AS BIGINT) AS v,
         |         count(*) AS c FROM documents
         |  WHERE text IS NOT NULL GROUP BY 1, 2),
         |ns AS MATERIALIZED (SELECT g, sum(c)::BIGINT AS ng FROM h GROUP BY 1),
         |hp AS MATERIALIZED (SELECT v, sum(c)::BIGINT AS cp FROM h GROUP BY 1),
         |np AS (SELECT sum(cp)::BIGINT AS np FROM hp),
         |fs AS MATERIALIZED (SELECT a.g, a.v, sum(b.c)::BIGINT AS fs
         |      FROM h a JOIN h b ON b.g = a.g AND b.v <= a.v GROUP BY 1, 2),
         |fp AS MATERIALIZED (SELECT a.v AS w, sum(b.cp)::BIGINT AS fp
         |      FROM hp a JOIN hp b ON b.v <= a.v GROUP BY 1),
         |m AS (SELECT fs.g, fs.v, min(fp.w) AS v_norm
         |      FROM fs JOIN ns USING (g) CROSS JOIN np
         |      JOIN fp ON fp.fp::HUGEINT * ns.ng >= fs.fs::HUGEINT * np.np
         |      GROUP BY 1, 2)
         |SELECT m.g AS source, m.v AS v, m.v_norm, h.c::BIGINT AS n_docs
         |FROM m JOIN h ON h.g = m.g AND h.v = m.v
         |ORDER BY 1, 2, 3, 4""".stripMargin
    },
    // q91's bigram staging + continuation-count tables; per-bigram KN
    // log-prob rounds 6dp → DECIMAL(18,9) before the per-doc fold
    "q289_kneser_ney" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val dd = dlit(KnDiscount)
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |bg AS MATERIALIZED (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
         |c2 AS MATERIALIZED (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
         |c1 AS MATERIALIZED (SELECT w1, count(*) AS c1,
         |        count(DISTINCT w2) AS r1 FROM bg GROUP BY 1),
         |l2 AS MATERIALIZED (SELECT w2, count(*) AS l2 FROM c2 GROUP BY 1),
         |ty AS (SELECT count(*) AS types FROM c2),
         |lp AS (SELECT bg.doc_id,
         |         round(ln(greatest(c2.c2 - $dd, 0.0) / c1.c1
         |           + $dd * c1.r1 / c1.c1 * (l2.l2::DOUBLE / ty.types)),
         |           6)::DECIMAL(18,9) AS lp
         |       FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
         |       JOIN l2 USING (w2) CROSS JOIN ty)
         |SELECT doc_id, count(*) AS n_bigrams,
         |       round(sum(lp)::DOUBLE / count(*), 4) AS kn_score
         |FROM lp GROUP BY doc_id
         |ORDER BY 1, 2, 3""".stripMargin
    },
    // in-row n-gram formation mirrored with unnest(range); one agg per order
    "q290_distinct_n" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH t AS MATERIALIZED (SELECT source, $toks AS toks FROM documents),
         |u AS (SELECT source, unnest(toks) AS g FROM t),
         |b AS (SELECT source, array_to_string(toks[i:i+1], ' ') AS g
         |      FROM (SELECT source, toks, unnest(range(1, len(toks))) AS i FROM t)),
         |d1 AS (SELECT source, 1 AS n, count(*)::BIGINT AS total_ngrams,
         |         count(DISTINCT g)::BIGINT AS distinct_ngrams FROM u GROUP BY 1),
         |d2 AS (SELECT source, 2 AS n, count(*)::BIGINT AS total_ngrams,
         |         count(DISTINCT g)::BIGINT AS distinct_ngrams FROM b GROUP BY 1),
         |a AS (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
         |SELECT source, n, total_ngrams, distinct_ngrams,
         |  round(distinct_ngrams::DOUBLE / total_ngrams, 6) AS diversity
         |FROM a ORDER BY 1, 2, 3, 4, 5""".stripMargin
    },
    // smoothed-unigram KL over the dense source×V grid; per-(source, word)
    // 8dp DECIMAL terms
    "q291_source_kl" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val al = dlit(KlAlpha)
      val ps = s"(coalesce(sw.cs, 0)::DOUBLE + $al) / (g.ns + $al * tot.v)"
      val pc = s"(g.cw::DOUBLE + $al) / (tot.n + $al * tot.v)"
      s"""WITH tok AS MATERIALIZED (SELECT source AS s, unnest($toks) AS w
         |       FROM documents),
         |sw AS MATERIALIZED (SELECT s, w, count(*) AS cs FROM tok GROUP BY 1, 2),
         |cw AS MATERIALIZED (SELECT w, count(*) AS cw FROM tok GROUP BY 1),
         |ns AS MATERIALIZED (SELECT s, sum(cs)::BIGINT AS ns FROM sw GROUP BY 1),
         |tot AS (SELECT sum(cw)::BIGINT AS n, count(*)::BIGINT AS v FROM cw),
         |grid AS (SELECT cw.w, cw.cw, ns.s, ns.ns FROM cw CROSS JOIN ns),
         |t AS (SELECT g.s, g.ns,
         |        round(($ps) * ln(($ps) / ($pc)), 8)::DECIMAL(38,8) AS t
         |      FROM grid g LEFT JOIN sw ON sw.s = g.s AND sw.w = g.w
         |      CROSS JOIN tot)
         |SELECT s AS source, ns AS n_tokens, round(sum(t)::DOUBLE, 6) AS kl
         |FROM t GROUP BY 1, 2 ORDER BY 1, 2, 3""".stripMargin
    },
    // all-integer budget arithmetic; ceil as (kept + M−1) // M
    "q292_packing_report" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val m = PackMaxLen
      s"""WITH t AS (SELECT source,
         |        greatest(coalesce(len($toks), 0), 0)::BIGINT AS t
         |      FROM documents),
         |a AS (SELECT source, count(*) AS n_docs, sum(t)::BIGINT AS n_tokens,
         |        sum(CASE WHEN t > $m THEN 1 ELSE 0 END)::BIGINT AS n_overflow_docs,
         |        sum(greatest(t - $m, 0))::BIGINT AS n_truncated_tokens,
         |        sum(least(t, $m))::BIGINT AS n_kept_tokens
         |      FROM t GROUP BY 1),
         |b AS (SELECT *, CAST((n_kept_tokens + ${m - 1}) // $m AS BIGINT)
         |        AS n_bins_lb FROM a)
         |SELECT source, n_docs, n_tokens, n_overflow_docs, n_truncated_tokens,
         |  n_kept_tokens, n_bins_lb,
         |  round(n_kept_tokens::DOUBLE / (n_bins_lb * $m), 6) AS fill_ratio
         |FROM b ORDER BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin
    },
    // per-period distinct shingles + min-period first-seen (q92's shingle
    // formation, q293's synthetic doc_id mod periods)
    "q293_novelty_curve" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH d AS (SELECT doc_id % $NoveltyPeriods AS p, $toks AS toks
         |       FROM documents),
         |sh AS MATERIALIZED (
         |  SELECT p, array_to_string(toks[i:i+2], ' ') AS sh, count(*) AS c
         |  FROM (SELECT p, toks,
         |          unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i
         |        FROM d) GROUP BY 1, 2),
         |f AS (SELECT sh, min(p) AS fp FROM sh GROUP BY 1)
         |SELECT p AS period, count(*) AS n_shingles,
         |  sum(CASE WHEN fp = sh.p THEN 1 ELSE 0 END)::BIGINT AS n_new,
         |  round(sum(CASE WHEN fp = sh.p THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*), 6) AS new_share
         |FROM sh JOIN f USING (sh) GROUP BY 1 ORDER BY 1, 2, 3, 4""".stripMargin
    },
    // τ-b on the dense grid: two window passes (each partitioned by one
    // bounded axis), strictly-below-x margins via a histogram self-join,
    // HUGEINT C/D folds (Spark: DECIMAL(38))
    "q294_kendall_tau" -> {
      val qre = TextAnalysis.Sql.qualityRawExpr
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH src AS (SELECT CAST(round(($qre) * 100) AS BIGINT) AS x,
         |        least(len($toks)::BIGINT, $TauLenCap) AS y FROM documents
         |      WHERE text IS NOT NULL),
         |j AS MATERIALIZED (SELECT x, y, count(*) AS c FROM src GROUP BY 1, 2),
         |grid AS MATERIALIZED (
         |  SELECT xs.x, ys.y, coalesce(j.c, 0)::BIGINT AS c
         |  FROM (SELECT DISTINCT x FROM j) xs
         |  CROSS JOIN (SELECT DISTINCT y FROM j) ys
         |  LEFT JOIN j USING (x, y)),
         |s AS MATERIALIZED (SELECT x, y, c,
         |  coalesce(sum(ay) OVER (PARTITION BY y ORDER BY x
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS slt,
         |  coalesce(sum(ayle) OVER (PARTITION BY y ORDER BY x
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sle
         |  FROM (SELECT x, y, c,
         |    coalesce(sum(c) OVER (PARTITION BY x ORDER BY y
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ay,
         |    sum(c) OVER (PARTITION BY x ORDER BY y
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ayle
         |    FROM grid)),
         |tx AS MATERIALIZED (SELECT x, sum(c)::BIGINT AS tx FROM j GROUP BY 1),
         |ty AS (SELECT y, sum(c)::BIGINT AS ty FROM j GROUP BY 1),
         |txlt AS (SELECT a.x, coalesce(sum(b.tx), 0)::BIGINT AS txlt
         |         FROM tx a LEFT JOIN tx b ON b.x < a.x GROUP BY 1),
         |cd AS (SELECT coalesce(sum(s.c::HUGEINT * s.slt), 0) AS cc,
         |         coalesce(sum(s.c::HUGEINT * (txlt.txlt - s.sle)), 0) AS dd
         |       FROM s JOIN txlt USING (x) WHERE s.c > 0),
         |n AS (SELECT sum(c)::BIGINT AS n FROM j),
         |n1 AS (SELECT sum(tx::HUGEINT * (tx - 1)) AS n1 FROM tx),
         |n2 AS (SELECT sum(ty::HUGEINT * (ty - 1)) AS n2 FROM ty),
         |dn AS (SELECT n.n, n.n::HUGEINT * (n.n - 1) - n1.n1 AS da,
         |         n.n::HUGEINT * (n.n - 1) - n2.n2 AS db
         |       FROM n CROSS JOIN n1 CROSS JOIN n2)
         |SELECT dn.n AS n,
         |  round(CASE WHEN dn.da > 0 AND dn.db > 0
         |    THEN 2.0 * (cd.cc - cd.dd)::DOUBLE
         |      / sqrt(dn.da::DOUBLE * dn.db::DOUBLE)
         |    ELSE 0.0 END, 6) AS tau
         |FROM cd CROSS JOIN dn ORDER BY 1, 2""".stripMargin
    },
    // per-source p05/p95 clamp off the q159 histogram rank rule; exact
    // integer power sums (Σx² in HUGEINT / Spark DECIMAL(38))
    "q295_winsorized" -> {
      val qre = TextAnalysis.Sql.qualityRawExpr
      s"""WITH s AS (SELECT source,
         |        CAST(round(($qre) * 10000) AS BIGINT) AS x FROM documents
         |      WHERE text IS NOT NULL),
         |h AS MATERIALIZED (SELECT source, x AS v, count(*) AS c
         |     FROM s GROUP BY 1, 2),
         |n AS (SELECT source, sum(c) AS n FROM h GROUP BY 1),
         |cum AS (SELECT h.source, v,
         |          sum(c) OVER (PARTITION BY h.source ORDER BY v) AS cum, n
         |        FROM h JOIN n USING (source)),
         |qs AS (SELECT source, pct, min(v) AS value
         |       FROM cum, (SELECT unnest([5, 95]) AS pct)
         |       WHERE cum * 100 >= pct * n GROUP BY 1, 2),
         |b AS (SELECT source, min(CASE WHEN pct = 5 THEN value END) AS lo,
         |             min(CASE WHEN pct = 95 THEN value END) AS hi
         |      FROM qs GROUP BY 1),
         |w AS (SELECT s.source, b.lo, b.hi,
         |        greatest(least(s.x, b.hi), b.lo) AS w
         |      FROM s JOIN b USING (source)),
         |a AS (SELECT source, lo, hi, count(*) AS n, sum(w)::BIGINT AS sx,
         |        sum(w::HUGEINT * w) AS sxx FROM w GROUP BY 1, 2, 3)
         |SELECT source, lo, hi, n,
         |  round(sx::DOUBLE / n, 6) AS mean_w,
         |  round(sqrt(greatest(sxx::DOUBLE / n
         |    - (sx::DOUBLE / n) * (sx::DOUBLE / n), 0.0)), 6) AS std_w
         |FROM a ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin
    },
    // self-free exact kNN (top-(k+1)-drop-self ≡ ranking the self-free
    // pair set, the q278 equivalence) + the q96 vote/tie chain; flagged
    // rows only with own-vote evidence
    "q296_label_noise" -> {
      val cd = Tables.distSql("cos", "q.qvec", "v.vec")
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec, label FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings),
         |d AS (SELECT q.query_id, v.id, $cd AS dist FROM q CROSS JOIN v
         |      WHERE v.id <> q.query_id),
         |r AS (SELECT query_id, id FROM (
         |    SELECT query_id, id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS rank
         |    FROM d) WHERE rank <= $K),
         |c AS MATERIALIZED (SELECT r.query_id, v.label, count(*) AS votes
         |      FROM r JOIN v USING (id) GROUP BY 1, 2),
         |b AS (SELECT query_id, label AS pred_label, votes AS votes_pred FROM (
         |    SELECT query_id, label, votes,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY votes DESC, label) AS rn
         |    FROM c) WHERE rn = 1),
         |o AS (SELECT v.id, v.label, coalesce(c.votes, 0)::BIGINT AS votes_own
         |      FROM v LEFT JOIN c ON c.query_id = v.id AND c.label = v.label)
         |SELECT o.id, o.label, b.pred_label, b.votes_pred, o.votes_own
         |FROM o JOIN b ON b.query_id = o.id
         |WHERE b.pred_label <> o.label
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin
    },
    // the deterministic Poisson draw (hash60 mod 10000 vs fixed integer
    // pmf thresholds), per-(source, b) weighted means, order-statistic CI
    "q298_bootstrap_ci" -> {
      val qre = TextAnalysis.Sql.qualityRawExpr
      val h = graft.functions.Hash60.sql(
        "doc_id::VARCHAR || ':' || b::VARCHAR || ':boot'")
      val loIdx = math.ceil(BootAlpha * BootB).toInt.max(1)
      val hiIdx = BootB + 1 - loIdx
      s"""WITH s AS MATERIALIZED (SELECT source, doc_id,
         |        CAST(round(($qre) * 10000) AS BIGINT) AS x FROM documents
         |      WHERE text IS NOT NULL),
         |r AS (SELECT source, doc_id, x, unnest(range(0, $BootB)) AS b FROM s),
         |w AS (SELECT source, x, b,
         |        CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1
         |             WHEN u < 9197 THEN 2 WHEN u < 9810 THEN 3
         |             WHEN u < 9963 THEN 4 ELSE 5 END AS w
         |      FROM (SELECT source, x, b, ($h % 10000) AS u FROM r)),
         |reps AS (SELECT source, b,
         |        round(sum(w::HUGEINT * x)::DOUBLE / sum(w) / 10000.0, 6) AS m
         |      FROM w GROUP BY 1, 2 HAVING sum(w) > 0),
         |ms AS (SELECT source, list_sort(list(m)) AS ms FROM reps GROUP BY 1),
         |base AS (SELECT source, count(*) AS n, sum(x)::BIGINT AS sx
         |      FROM s GROUP BY 1)
         |SELECT base.source, base.n,
         |  round(base.sx::DOUBLE / base.n / 10000.0, 6) AS mean,
         |  ms.ms[least($loIdx, len(ms.ms))] AS ci_lo,
         |  ms.ms[least($hiIdx, len(ms.ms))] AS ci_hi
         |FROM base LEFT JOIN ms USING (source)
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin
    },
    // LEFT join above (not inner): a source whose every replicate drew
    // weight 0 has no `reps` rows, and Eval.bootstrapCi's LEFT join keeps
    // it with a NULL CI — the degenerate-group contract must match on both
    // sides (unreachable at fixture scale, but the contract is the point)
    // q242's per-user staging split pre/post; pooled DECIMAL(38) power
    // sums drive every closed form
    "q299_cuped" -> {
      val h = graft.functions.Hash60.sql("user_id::VARCHAR || ':ab'")
      val s2 = dlit(1e8); val s1 = dlit(1e4)
      s"""WITH pu AS (SELECT user_id,
         |    coalesce(CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '$CupedSplitDay'
         |      THEN CAST(value AS DECIMAL(18,4)) END) * 10000 AS BIGINT), 0) AS x,
         |    coalesce(CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '$CupedSplitDay'
         |      THEN CAST(value AS DECIMAL(18,4)) END) * 10000 AS BIGINT), 0) AS y
         |  FROM events GROUP BY user_id),
         |u AS (SELECT CASE WHEN ($h % 2) = 0 THEN 'control'
         |        ELSE 'treatment' END AS variant, x, y FROM pu),
         |g AS (SELECT variant, CAST(count(*) AS DECIMAL(38,0)) AS n,
         |        sum(CAST(x AS DECIMAL(38,0))) AS sx,
         |        sum(CAST(y AS DECIMAL(38,0))) AS sy
         |      FROM u GROUP BY 1),
         |t AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS tn,
         |        sum(CAST(x AS DECIMAL(38,0))) AS tsx,
         |        sum(CAST(y AS DECIMAL(38,0))) AS tsy,
         |        sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS tsxx,
         |        sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS tsyy,
         |        sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS tsxy
         |      FROM u),
         |m AS (SELECT g.variant, g.n, g.sx, g.sy, t.tn, t.tsx,
         |        (t.tn * t.tsxy - t.tsx * t.tsy)::DOUBLE
         |          / (t.tn * t.tn)::DOUBLE / $s2 AS covxy,
         |        (t.tn * t.tsxx - t.tsx * t.tsx)::DOUBLE
         |          / (t.tn * t.tn)::DOUBLE / $s2 AS varx,
         |        (t.tn * t.tsyy - t.tsy * t.tsy)::DOUBLE
         |          / (t.tn * t.tn)::DOUBLE / $s2 AS vary
         |      FROM g CROSS JOIN t),
         |f AS (SELECT variant, n,
         |        sy::DOUBLE / n::DOUBLE / $s1 AS meany,
         |        sx::DOUBLE / n::DOUBLE / $s1 AS meanx,
         |        tsx::DOUBLE / tn::DOUBLE / $s1 AS meanxall,
         |        CASE WHEN varx > 0.0 THEN covxy / varx ELSE 0.0 END AS theta,
         |        covxy, vary FROM m)
         |SELECT variant, CAST(n AS BIGINT) AS n,
         |  round(meany, 6) AS mean_y,
         |  round(meany - theta * (meanx - meanxall), 6) AS mean_adj,
         |  round(theta, 6) AS theta,
         |  round(vary, 6) AS var_y,
         |  round(vary - theta * covxy, 6) AS var_adj,
         |  round(CASE WHEN vary > 0.0 THEN theta * covxy / vary
         |        ELSE 0.0 END, 6) AS var_reduction
         |FROM f ORDER BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin
    },
    // q277's calendar densification + day-index ranks; closed-form EWMA
    // weight folds at both indices; population-σ band
    "q300_ewma" -> {
      val al = dlit(EwmaAlpha); val om = dlit(1.0 - EwmaAlpha)
      val band = dlit(EwmaBand)
      s"""WITH obs AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |        count(*) AS x FROM events GROUP BY 1, 2),
         |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1
         |         FROM obs GROUP BY 1),
         |days AS (SELECT event_type,
         |        CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
         |          AS day FROM span),
         |daily AS MATERIALIZED (
         |  SELECT dd.event_type, dd.day, coalesce(o.x, 0)::BIGINT AS x,
         |    row_number() OVER (PARTITION BY dd.event_type ORDER BY dd.day) - 1
         |      AS i
         |  FROM days dd LEFT JOIN obs o
         |    ON o.event_type = dd.event_type AND o.day = dd.day),
         |e0 AS (SELECT a.event_type, a.day,
         |        sum(round(CASE WHEN b.i = 0 THEN power($om, a.i)
         |              ELSE $al * power($om, a.i - b.i) END * b.x,
         |            8)::DECIMAL(38,8)) AS e
         |      FROM daily a JOIN daily b ON b.event_type = a.event_type
         |        AND b.i <= a.i
         |      GROUP BY 1, 2),
         |sig AS (SELECT event_type,
         |        sqrt(greatest(sum(x::HUGEINT * x)::DOUBLE / count(*)
         |          - (sum(x)::DOUBLE / count(*)) * (sum(x)::DOUBLE / count(*)),
         |          0.0)) AS sig
         |      FROM daily GROUP BY 1),
         |ew AS (SELECT d.event_type, d.day, d.x, e0.e::DOUBLE AS e,
         |        lag(e0.e::DOUBLE) OVER (
         |          PARTITION BY d.event_type ORDER BY d.day) AS ep
         |      FROM daily d
         |      JOIN e0 ON e0.event_type = d.event_type AND e0.day = d.day)
         |SELECT ew.event_type, ew.day, ew.x,
         |  round(ew.e, 6) AS ewma,
         |  round(ew.x - coalesce(ew.ep, ew.x::DOUBLE), 6) AS resid,
         |  abs(ew.x - coalesce(ew.ep, ew.x::DOUBLE)) > $band * sig.sig
         |    AS alarm
         |FROM ew JOIN sig ON sig.event_type = ew.event_type
         |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin
    },
    // Neyman shares ∝ N·σ over exact power sums; largest-remainder via
    // the bounded-frame rank self-join; single-pass population clamp
    "q302_neyman_alloc" -> {
      val qre = TextAnalysis.Sql.qualityRawExpr
      s"""WITH s AS (SELECT source AS g,
         |        CAST(round(($qre) * 10000) AS BIGINT) AS x FROM documents
         |      WHERE text IS NOT NULL),
         |per AS MATERIALIZED (SELECT g, count(*) AS n,
         |        sqrt(greatest(sum(x::HUGEINT * x)::DOUBLE / count(*)
         |          - (sum(x)::DOUBLE / count(*)) * (sum(x)::DOUBLE / count(*)),
         |          0.0)) AS sig
         |      FROM s GROUP BY 1),
         |pw AS MATERIALIZED (SELECT g, n, sig,
         |        round(n * sig, 8)::DECIMAL(38,8) AS w FROM per),
         |tw AS (SELECT sum(w) AS tw FROM pw),
         |q AS (SELECT g, n, sig,
         |        CASE WHEN tw.tw > 0
         |          THEN $NeymanBudget * w::DOUBLE / tw.tw::DOUBLE
         |          ELSE 0.0 END AS q
         |      FROM pw CROSS JOIN tw),
         |qb AS MATERIALIZED (SELECT g, n, sig, q,
         |        CAST(floor(q) AS BIGINT) AS base,
         |        q - CAST(floor(q) AS BIGINT) AS rem FROM q),
         |used AS (SELECT sum(base)::BIGINT AS used FROM qb),
         |rk AS (SELECT a.g, count(b.g) + 1 AS rank
         |      FROM qb a LEFT JOIN qb b
         |        ON b.rem > a.rem OR (b.rem = a.rem AND b.g < a.g)
         |      GROUP BY 1),
         |raw AS (SELECT qb.g, qb.n, qb.sig,
         |        qb.base + CASE WHEN rk.rank <= $NeymanBudget - used.used
         |              AND qb.rem > 0.0 THEN 1 ELSE 0 END AS raw
         |      FROM qb JOIN rk USING (g) CROSS JOIN used)
         |SELECT g AS source, n AS n_pop, round(sig, 6) AS sigma,
         |  least(raw, n) AS alloc, raw > n AS capped
         |FROM raw
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin
    },
    // the q265 risk sets + the additive hazard fold (every risk row
    // emits, censor-only times carry the running hazard forward)
    "q304_nelson_aalen" ->
      s"""WITH $kmRiskCtes,
         |terms AS (SELECT t, round(d::DOUBLE / n_risk, 8)::DECIMAL(38,8) AS hh
         |      FROM r WHERE d > 0)
         |SELECT a.t AS t_sec, a.n_risk, a.d AS n_events, a.c AS n_censored,
         |  round(coalesce(sum(b.hh)::DOUBLE, 0.0), 6) AS cum_hazard
         |FROM r a LEFT JOIN terms b ON b.t <= a.t
         |GROUP BY a.t, a.n_risk, a.d, a.c
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // ---- q306-q310: streaming-twin oracles = the batch closed forms the
    // twins are StreamingSpec-proven equal to (r14 verdict item 5)
    // q195's row_number admission rule, minus the event_type projection
    "q306_stream_quota" ->
      s"""WITH w AS (SELECT event_id, user_id,
         |    row_number() OVER (
         |      PARTITION BY user_id,
         |        CAST(floor(floor(epoch(ts)) / ${QuotaWinMin * 60}) AS BIGINT)
         |      ORDER BY ts, event_id) AS rn
         |  FROM events)
         |SELECT event_id, user_id FROM w WHERE rn <= $QuotaMax
         |ORDER BY 1, 2""".stripMargin,
    "q307_stream_drift_hist" ->
      """SELECT CAST(floor(value) AS BIGINT) AS v, count(*) AS n
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY 1, 2""".stripMargin,
    // good/corrupt is decidable without a JSON parser: the query truncates
    // exactly the doc_id % 5 == 0 lines (always malformed), the rest are
    // to_json output (always well-formed for the (doc_id, source) schema)
    "q308_stream_jsonl_audit" ->
      """SELECT 'corrupt' AS verdict, count(*) AS n
        |FROM documents WHERE doc_id % 5 = 0
        |UNION ALL
        |SELECT 'good' AS verdict, count(*) AS n
        |FROM documents WHERE doc_id % 5 <> 0
        |ORDER BY 1, 2""".stripMargin,
    // q157's closed form, minus each type's final (still-open) minute
    "q309_stream_rate_anomaly" ->
      s"""WITH b AS (SELECT event_type, date_trunc('minute', ts) AS minute,
         |             count(*) AS cnt
         |           FROM events GROUP BY 1, 2),
         |wf AS (SELECT event_type, minute, cnt,
         |         count(cnt) OVER tw AS k,
         |         sum(cnt) OVER tw AS s,
         |         sum(cnt * cnt) OVER tw AS q
         |       FROM b
         |       WINDOW tw AS (PARTITION BY event_type ORDER BY minute
         |                     ROWS BETWEEN $RateTrailing PRECEDING AND 1 PRECEDING)),
         |z AS (SELECT event_type, minute, cnt,
         |        CASE WHEN k = $RateTrailing
         |              AND k::DECIMAL(38,0) * q::DECIMAL(38,0)
         |                  - s::DECIMAL(38,0) * s::DECIMAL(38,0) > 0
         |             THEN round((cnt * k - s)::DOUBLE /
         |                    sqrt((k::DECIMAL(38,0) * q::DECIMAL(38,0)
         |                          - s::DECIMAL(38,0) * s::DECIMAL(38,0))::DOUBLE), 4)
         |             ELSE NULL END AS z
         |      FROM wf),
         |lastm AS (SELECT event_type, max(minute) AS m FROM b GROUP BY 1)
         |SELECT z.event_type, z.minute, z.cnt, z.z,
         |  coalesce(abs(z.z) > $RateZ, false) AS is_anomaly
         |FROM z JOIN lastm USING (event_type) WHERE z.minute < lastm.m
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // routed posting assignment: per-vector superK nearest supers
    // (row_number over v×s), candidate heads via the routing table
    // (DISTINCT — a head may arrive via two supers), top-Replicas by
    // (dist, head_id). id-chunked like the q07 posting windows so the
    // replay's window memory stays sf0.1-feasible.
    "q311_spann_routed_postings" -> {
      val hsDist = Tables.distSql("l2sq", "h.head_vec", "s.super_vec")
      val vsDist = Tables.distSql("l2sq", "v.vec", "s.super_vec")
      val vhDist = Tables.distSql("l2sq", "v.vec", "h.head_vec")
      val chunks = (0 until PostingChunks).map { c =>
        s"""rp$c AS MATERIALIZED (
           |  SELECT id, head_id, dist FROM (
           |    SELECT id, head_id, dist,
           |           row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS rn
           |    FROM (
           |      SELECT cnd.id, cnd.head_id, $vhDist AS dist
           |      FROM (
           |        SELECT DISTINCT vsc.id, rt.head_id
           |        FROM (SELECT id, super_id FROM (
           |                SELECT v.id, s.super_id,
           |                       row_number() OVER (PARTITION BY v.id
           |                         ORDER BY $vsDist, s.super_id) AS srn
           |                FROM v CROSS JOIN s
           |                WHERE v.id % $PostingChunks = $c)
           |              WHERE srn <= $SuperK) vsc
           |        JOIN rt ON vsc.super_id = rt.super_id) cnd
           |      JOIN v ON v.id = cnd.id
           |      JOIN h ON h.head_id = cnd.head_id))
           |  WHERE rn <= $Replicas)""".stripMargin
      }.mkString(",\n")
      val union = (0 until PostingChunks)
        .map(c => s"SELECT * FROM rp$c").mkString(" UNION ALL ")
      s"""WITH v AS MATERIALIZED (${Tables.lineitemVecSql}),
         |h AS MATERIALIZED (SELECT id AS head_id, vec AS head_vec FROM v WHERE id % $HeadNth = 0),
         |s AS MATERIALIZED (SELECT head_id AS super_id, head_vec AS super_vec FROM h
         |     WHERE head_id % $SuperNth = 0),
         |rt AS MATERIALIZED (SELECT head_id, super_id FROM (
         |    SELECT h.head_id, s.super_id,
         |           row_number() OVER (PARTITION BY h.head_id ORDER BY $hsDist, s.super_id) AS rn
         |    FROM h CROSS JOIN s)
         |  WHERE rn <= $RouteReplicas),
         |$chunks
         |SELECT head_id, id, round(dist, 4) AS dist FROM ($union)
         |ORDER BY 1, 2, 3""".stripMargin
    },
    // identical to q33's oracle: id-ordered arrival makes the stream's
    // (earlier, newcomer) orientation the batch pipeline's a < b
    "q310_stream_neardup" ->
      s"""WITH $minhashCtes
         |SELECT j.a, j.b, j.jaccard FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
         |WHERE j.jaccard >= 0.3
         |ORDER BY 1, 2, 3""".stripMargin,
    "q312_unseen_vocab" -> {
      val toks = TextAnalysis.Sql.toks("text")
      s"""WITH tok AS (SELECT unnest($toks) AS token FROM documents),
         |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
         |a AS (SELECT count(*)::BIGINT AS n_types, sum(cnt)::BIGINT AS n_tokens,
         |        sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
         |        sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
         |      FROM c)
         |SELECT n_types, n_tokens, f1, f2,
         |  round(n_types::DOUBLE +
         |    f1::DOUBLE * (f1 - 1)::DOUBLE / (2.0 * (f2 + 1)::DOUBLE), 4) AS chao1,
         |  round(1.0 - f1::DOUBLE / n_tokens::DOUBLE, 6) AS gt_coverage
         |FROM a ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin
    },
    // mirrors heapsFit step-for-step: bucket by doc_id range (integer ids,
    // `/` = double division + floor in BOTH engines), first-occurrence
    // buckets, bounded cumulative self-join, 8dp-rounded ln moments folded
    // as DECIMAL(38,8), and β/K as the identical double expressions
    "q313_heaps_law" -> {
      val toks = TextAnalysis.Sql.toks("text")
      val beta = """(sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / m::DOUBLE) /
                   |   (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / m::DOUBLE)""".stripMargin
      s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
         |tok AS (SELECT least(31, CAST(floor(doc_id * 32 / (mx.mx + 1)) AS INT)) AS b,
         |               unnest($toks) AS token
         |        FROM documents CROSS JOIN mx),
         |tp AS (SELECT b, count(*) AS nt FROM tok GROUP BY 1),
         |fo AS (SELECT token, min(b) AS b FROM tok GROUP BY 1),
         |np AS (SELECT b, count(*) AS nv FROM fo GROUP BY 1),
         |per AS (SELECT tp.b, tp.nt, coalesce(np.nv, 0) AS nv
         |        FROM tp LEFT JOIN np USING (b)),
         |cum AS (SELECT a.b, sum(c.nt)::BIGINT AS n, sum(c.nv)::BIGINT AS v
         |        FROM per a JOIN per c ON c.b <= a.b GROUP BY 1),
         |pts AS (SELECT round(ln(n::DOUBLE), 8) AS x, round(ln(v::DOUBLE), 8) AS y
         |        FROM cum WHERE n > 0 AND v > 0),
         |mom AS (SELECT count(*)::BIGINT AS m,
         |          sum(CAST(x AS DECIMAL(38,8))) AS sx,
         |          sum(CAST(y AS DECIMAL(38,8))) AS sy,
         |          sum(CAST(round(x * y, 8) AS DECIMAL(38,8))) AS sxy,
         |          sum(CAST(round(x * x, 8) AS DECIMAL(38,8))) AS sxx
         |        FROM pts)
         |SELECT m AS n_points,
         |  round(CASE WHEN m >= 2 THEN $beta END, 6) + 0.0 AS beta,
         |  round(CASE WHEN m >= 2 THEN exp(round(sy::DOUBLE / m::DOUBLE -
         |    ($beta) * (sx::DOUBLE / m::DOUBLE), 8)) END, 4) AS k_fit
         |FROM mom ORDER BY 1, 2, 3""".stripMargin
    },
    // mirrors fdrDrift: per-source early/late CDF gaps (8dp doubles over
    // exact longs), one-term asymptotic p with an 8dp-rounded exp argument,
    // BH rank and alarm via bounded self-joins on the per-source frame
    "q314_fdr_drift" -> {
      val qe = TextAnalysis.Sql.qualityRawExpr
      s"""WITH base AS MATERIALIZED (
         |  SELECT source AS g, CAST(round(($qe) * 10000) AS BIGINT) AS v,
         |         doc_id % 2 = 1 AS l
         |  FROM documents),
         |h AS MATERIALIZED (SELECT g, v,
         |      sum(CASE WHEN l THEN 0 ELSE 1 END)::BIGINT AS ca,
         |      sum(CASE WHEN l THEN 1 ELSE 0 END)::BIGINT AS cb
         |    FROM base WHERE v IS NOT NULL AND l IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT g, sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
         |      FROM h GROUP BY 1),
         |cdf AS (SELECT a.g, a.v, sum(c.ca)::BIGINT AS fa, sum(c.cb)::BIGINT AS fb
         |        FROM h a JOIN h c ON c.g = a.g AND c.v <= a.v GROUP BY 1, 2),
         |ks AS (SELECT cdf.g, t.na, t.nb,
         |         max(round(abs(fa::DOUBLE / na - fb::DOUBLE / nb), 8)) AS ks
         |       FROM cdf JOIN t USING (g)
         |       WHERE na > 0 AND nb > 0 GROUP BY 1, 2, 3),
         |p AS MATERIALIZED (SELECT g, na, nb, ks,
         |       round(least(1.0, 2.0 * exp(round(-2.0 * ks * ks *
         |         (na::DOUBLE * nb::DOUBLE) / (na + nb)::DOUBLE, 8))), 8) AS p
         |     FROM ks),
         |m AS (SELECT count(*)::BIGINT AS mm FROM p),
         |r0 AS (SELECT a.g, a.na, a.nb, a.ks, a.p, count(*)::BIGINT AS rank
         |       FROM p a JOIN p b ON b.p < a.p OR (b.p = a.p AND b.g <= a.g)
         |       GROUP BY a.g, a.na, a.nb, a.ks, a.p),
         |r AS MATERIALIZED (
         |  SELECT r0.*, r0.p <= 0.05 * r0.rank::DOUBLE / m.mm::DOUBLE AS ok
         |  FROM r0 CROSS JOIN m)
         |SELECT r.g AS "group", r.na AS n_a, r.nb AS n_b,
         |  round(r.ks, 6) AS ks, r.p AS p_value, r.rank AS bh_rank,
         |  max(CASE WHEN r2.ok THEN 1 ELSE 0 END) = 1 AS alarm
         |FROM r LEFT JOIN r r2 ON r2.rank >= r.rank
         |GROUP BY 1, 2, 3, 4, 5, 6
         |ORDER BY 1, 2, 3, 4, 5, 6, 7""".stripMargin
    },
    // mirrors conformalInterval: integer-exact order-statistic indices via
    // floor division, per-source histogram cumulatives, one 6dp divide
    "q315_conformal_quality" -> {
      val qe = TextAnalysis.Sql.qualityRawExpr
      s"""WITH base AS MATERIALIZED (
         |  SELECT source AS g, CAST(round(($qe) * 10000) AS BIGINT) AS v,
         |         doc_id % 10 < 5 AS cal
         |  FROM documents WHERE text IS NOT NULL),
         |calr AS MATERIALIZED (SELECT g, v FROM base WHERE cal),
         |ch AS MATERIALIZED (SELECT g, v, count(*)::BIGINT AS c
         |     FROM calr GROUP BY 1, 2),
         |cn AS (SELECT g, sum(c)::BIGINT AS n FROM ch GROUP BY 1),
         |ccum AS (SELECT a.g, a.v, sum(b.c)::BIGINT AS cum
         |         FROM ch a JOIN ch b ON b.g = a.g AND b.v <= a.v GROUP BY 1, 2),
         |med AS MATERIALIZED (
         |  SELECT ccum.g, cn.n AS n_cal, min(ccum.v) AS median_u
         |  FROM ccum JOIN cn USING (g)
         |  WHERE cum >= (n + 1) // 2 GROUP BY 1, 2),
         |res AS (SELECT calr.g, abs(calr.v - med.median_u) AS v
         |        FROM calr JOIN med USING (g)),
         |rh AS MATERIALIZED (SELECT g, v, count(*)::BIGINT AS c
         |     FROM res GROUP BY 1, 2),
         |rn AS (SELECT g, sum(c)::BIGINT AS n FROM rh GROUP BY 1),
         |rcum AS (SELECT a.g, a.v, sum(b.c)::BIGINT AS cum
         |         FROM rh a JOIN rh b ON b.g = a.g AND b.v <= a.v GROUP BY 1, 2),
         |qh AS MATERIALIZED (
         |  SELECT rcum.g, min(rcum.v) AS qhat_u
         |  FROM rcum JOIN rn USING (g)
         |  WHERE cum >= least(rn.n, ((rn.n + 1) * 9 + 9) // 10) GROUP BY 1),
         |ev AS (SELECT base.g, count(*)::BIGINT AS n_eval,
         |         sum(CASE WHEN abs(base.v - med.median_u) <= qh.qhat_u
         |             THEN 1 ELSE 0 END)::BIGINT AS cov
         |       FROM base JOIN med USING (g) JOIN qh USING (g)
         |       WHERE NOT cal GROUP BY 1)
         |SELECT ev.g AS "group", med.n_cal, ev.n_eval, med.median_u, qh.qhat_u,
         |  round(cov::DOUBLE / n_eval::DOUBLE, 6) AS coverage
         |FROM ev JOIN med USING (g) JOIN qh USING (g)
         |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin
    }
  )

  /** q121/q125 oracle: the DSIR hashed-bigram importance pipeline mirrored
    * end-to-end — shared by the join-formulated (q121) and in-row-scored
    * (q125) paths, which are value-identical on the fit corpus.
    */
  // terminal `+ 0.0` on the rounded column: DuckDB's C-style round keeps
  // the sign of a tiny negative (−1e-9 → −0.0) where Spark's BigDecimal
  // round yields +0.0 — repr-divergent at the driver ("−0.0" vs "0.0")
  // though value-equal. +0.0 normalizes −0.0 and is an exact identity for
  // every other double (and NULL).
  private def importanceOracleSql: String = {
    val toks = TextAnalysis.Sql.toks("text")
    val h = graft.functions.Hash60.sql("toks[i] || ' ' || toks[i + 1]")
    s"""WITH t AS (SELECT doc_id, lang = 'en' AS tgt, $toks AS toks FROM documents),
       |bg AS (SELECT doc_id, tgt, ($h) % $ImpBuckets AS b
       |       FROM (SELECT doc_id, tgt, toks, unnest(range(1, len(toks))) AS i FROM t)),
       |cr AS (SELECT b, count(*) AS cr FROM bg GROUP BY b),
       |ct AS (SELECT b, count(*) AS ct FROM bg WHERE tgt GROUP BY b),
       |tot AS (SELECT count(*) AS r_tot,
       |          sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS t_tot FROM bg),
       |w AS (SELECT cr.b,
       |        round(ln((coalesce(ct.ct, 0) + 1)::DOUBLE / (tot.t_tot + $ImpBuckets))
       |            - ln((cr.cr + 1)::DOUBLE / (tot.r_tot + $ImpBuckets)), 6)::DECIMAL(18,9) AS lw
       |      FROM cr LEFT JOIN ct ON ct.b = cr.b CROSS JOIN tot),
       |s AS (SELECT doc_id, count(*) AS n_feats, sum(w.lw) AS slw
       |      FROM bg JOIN w ON w.b = bg.b GROUP BY doc_id)
       |SELECT doc_id, n_feats,
       |  round(slw::DOUBLE / n_feats, 4) + 0.0 AS importance
       |FROM s ORDER BY 1, 2, 3""".stripMargin
  }

  /** q126/q127 oracle helpers: the JL projection with HOST-DERIVED literal
    * weights (both engines consume the same integers — parity by
    * construction, the planeWeight convention).
    */
  private def rpProjTerms(j: Int): String =
    (0 until BinDims).map { d =>
      s"sv[${d + 1}] * (${SimilaritySearch.rpWeight(j, d)})"
    }.mkString(" + ")

  private def rpProjList: String =
    (0 until RpOutDims).map(j => s"(${rpProjTerms(j)})").mkString("[", ", ", "]")

  /** q139/q140 oracle: the Naive Bayes train+classify pipeline mirrored
    * end-to-end — shared by the join-formulated (q139) and in-row (q140)
    * paths, value-identical on the fit corpus.
    */
  private def nbOracleSql: String = {
      val toks = TextAnalysis.Sql.toks("text")
      val hb = graft.functions.Hash60.sql("toks[i] || ' ' || toks[i + 1]")
      s"""WITH t AS (SELECT doc_id, lang, $toks AS toks FROM documents),
         |bg AS (SELECT doc_id, lang, ($hb) % $ImpBuckets AS b
         |       FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i FROM t)),
         |cb AS (SELECT lang, b, count(*) AS c FROM bg GROUP BY 1, 2),
         |ctot AS (SELECT lang, count(*) AS ct FROM bg GROUP BY 1),
         |pri AS (SELECT lang,
         |          round(ln(count(*)::DOUBLE / (SELECT count(*) FROM documents)), 6)::DECIMAL(18,9) AS prior
         |        FROM documents GROUP BY lang),
         |grid AS (SELECT c.lang, g.b FROM (SELECT DISTINCT lang FROM documents) c,
         |           (SELECT unnest(range(0, $ImpBuckets)) AS b) g),
         |lik AS (SELECT grid.lang, grid.b,
         |          round(ln((coalesce(cb.c, 0) + 1)::DOUBLE
         |                   / (coalesce(ctot.ct, 0) + $ImpBuckets)), 6)::DECIMAL(18,9) AS lcp
         |        FROM grid LEFT JOIN cb ON cb.lang = grid.lang AND cb.b = grid.b
         |        LEFT JOIN ctot ON ctot.lang = grid.lang),
         |sc AS (SELECT f.doc_id, l.lang, sum(l.lcp) AS sl
         |       FROM bg f JOIN lik l ON l.b = f.b GROUP BY 1, 2),
         |tot AS (SELECT sc.doc_id, sc.lang, p.prior + sc.sl AS score
         |        FROM sc JOIN pri p ON p.lang = sc.lang),
         |rk AS (SELECT doc_id, lang AS pred_label, score,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY score DESC, lang) AS rn FROM tot)
         |SELECT rk.doc_id, rk.pred_label, round(rk.score, 4)::DOUBLE AS score,
         |  d.lang AS true_lang,
         |  CAST(rk.pred_label = d.lang AS INT) AS hit
         |FROM rk JOIN documents d ON d.doc_id = rk.doc_id
         |WHERE rk.rn = 1
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin
    }

  /** Shared CTEs for the q118/q119 binary-code oracles: `sq` = integer-scaled
    * embeddings, `st` = one row of (corpus count, dim-ordered per-dim sums) —
    * the [[graft.functions.BinaryQuantizer.fit]] mirror.
    */
  private def binOracleCtes: String =
    """sq AS (SELECT vec_id AS id,
      |  list_transform(embedding, x -> CAST(round(x::DOUBLE*1000) AS BIGINT)) AS sv
      |  FROM embeddings),
      |st AS (SELECT max(n) AS n, list(s ORDER BY d) AS sums FROM (
      |  SELECT d, sum(v) AS s, count(*) AS n FROM (
      |    SELECT generate_subscripts(sv, 1) AS d, unnest(sv) AS v FROM sq) GROUP BY d))""".stripMargin

  /** The 64 per-bit CASE terms of the packed code (bit 63 = Long.MinValue,
    * spelled (-MAX-1) — the q35 convention).
    */
  private def binOracleTerms: String =
    (0 until 64).map { b =>
      val v = if (b == 63) "(-9223372036854775807 - 1)" else (1L << b).toString
      s"CASE WHEN sv[${b + 1}] * n > sums[${b + 1}] THEN $v ELSE 0 END"
    }.mkString(" + ")

  /** PQ-ADC oracle (q42/q56): train (3 unrolled Lloyd iterations over m=3
    * two-dim subspaces, init = slices of the lowest-id vectors) → quantize →
    * ADC top-k. Integer-scaled inputs make every centroid sum exact; with
    * `rotated`, the q56 signed-permutation rotation is applied after scaling
    * (still integer-exact) — the OPQ pipeline shape.
    */
  /** Shared train chunk for the PQ oracles: CTEs `v0 … codes`, where `codes`
    * is each corpus vector's per-subspace assigned code + centroid after 3
    * unrolled Lloyd rounds.
    */
  private def pqTrainCtes(rotated: Boolean): String = {
    val l2 = (a: String, b: String) => Tables.distSql("l2sq", a, b)
    val scaleSql = (c: String) =>
      s"list_transform($c, x -> round(x::DOUBLE * 1000)::BIGINT::DOUBLE)"
    val rot = (c: String) => if (rotated) rotateSql(c) else c
    val lloyd = (i: Int) =>
      s"""a${i + 1} AS MATERIALIZED (SELECT * FROM (
         |    SELECT s.id, s.sub, s.sv, c.code,
         |           row_number() OVER (PARTITION BY s.id, s.sub
         |             ORDER BY ${l2("s.sv", "c.center")}, c.code) AS rn
         |    FROM sub s JOIN c$i c ON c.sub = s.sub) WHERE rn = 1),
         |u${i + 1} AS MATERIALIZED (SELECT sub, code,
         |         [sum(sv[1]) / count(*), sum(sv[2]) / count(*)] AS center
         |       FROM a${i + 1} GROUP BY sub, code),
         |c${i + 1} AS MATERIALIZED (SELECT c.sub, c.code, coalesce(u.center, c.center) AS center
         |       FROM c$i c LEFT JOIN u${i + 1} u ON u.sub = c.sub AND u.code = c.code)""".stripMargin
    s"""v0 AS MATERIALIZED (${Tables.lineitemVecSql}),
       |vi AS MATERIALIZED (SELECT id, ${rot("sv")} AS vec
       |       FROM (SELECT id, ${scaleSql("vec")} AS sv FROM v0)),
       |sub AS MATERIALIZED (
       |  SELECT id, 0 AS sub, [vec[1], vec[2]] AS sv FROM vi
       |  UNION ALL SELECT id, 1, [vec[3], vec[4]] FROM vi
       |  UNION ALL SELECT id, 2, [vec[5], vec[6]] FROM vi),
       |c0 AS MATERIALIZED (SELECT sub, CAST(id - 1 AS INT) AS code, sv AS center FROM sub WHERE id < 16),
       |${lloyd(0)},
       |${lloyd(1)},
       |${lloyd(2)},
       |codes AS MATERIALIZED (SELECT * FROM (
       |    SELECT s.id, s.sub, c.code, c.center,
       |           row_number() OVER (PARTITION BY s.id, s.sub
       |             ORDER BY ${l2("s.sv", "c.center")}, c.code) AS rn
       |    FROM sub s JOIN c3 c ON c.sub = s.sub) WHERE rn = 1)""".stripMargin
  }

  /** q197 oracle: the q42 level-1 train chain, residuals re-integerized at
    * ×1000 (mirroring `PQ.residualVectors`' round), the SAME unrolled Lloyd
    * on them (prefix `r`), then ADC against the two-level reconstruction
    * `c1 + c2/1000`.
    */
  private def rvqOracleSql: String = {
    val l2 = (a: String, b: String) => Tables.distSql("l2sq", a, b)
    val scaleSql = (c: String) =>
      s"list_transform($c, x -> round(x::DOUBLE * 1000)::BIGINT::DOUBLE)"
    val rl = (i: Int) =>
      s"""ra${i + 1} AS MATERIALIZED (SELECT * FROM (
         |    SELECT s.id, s.sub, s.sv, c.code,
         |           row_number() OVER (PARTITION BY s.id, s.sub
         |             ORDER BY ${l2("s.sv", "c.center")}, c.code) AS rn
         |    FROM rsv s JOIN rc$i c ON c.sub = s.sub) WHERE rn = 1),
         |ru${i + 1} AS MATERIALIZED (SELECT sub, code,
         |         [sum(sv[1]) / count(*), sum(sv[2]) / count(*)] AS center
         |       FROM ra${i + 1} GROUP BY sub, code),
         |rc${i + 1} AS MATERIALIZED (SELECT c.sub, c.code, coalesce(u.center, c.center) AS center
         |       FROM rc$i c LEFT JOIN ru${i + 1} u ON u.sub = c.sub AND u.code = c.code)"""
        .stripMargin
    s"""WITH ${pqTrainCtes(rotated = false)},
       |codesm AS MATERIALIZED (SELECT * FROM codes),
       |rsv AS MATERIALIZED (SELECT c.id, c.sub,
       |          [round((s.sv[1] - c.center[1]) * 1000),
       |           round((s.sv[2] - c.center[2]) * 1000)] AS sv
       |        FROM codesm c JOIN sub s ON s.id = c.id AND s.sub = c.sub),
       |rc0 AS MATERIALIZED (SELECT sub, CAST(id - 1 AS INT) AS code, sv AS center FROM rsv WHERE id < 16),
       |${rl(0)},
       |${rl(1)},
       |${rl(2)},
       |rcodes AS MATERIALIZED (SELECT * FROM (
       |    SELECT s.id, s.sub, c.code, c.center,
       |           row_number() OVER (PARTITION BY s.id, s.sub
       |             ORDER BY ${l2("s.sv", "c.center")}, c.code) AS rn
       |    FROM rsv s JOIN rc3 c ON c.sub = s.sub) WHERE rn = 1),
       |rec AS MATERIALIZED (SELECT c1.id, c1.sub,
       |          [c1.center[1] + c2.center[1] / 1000.0,
       |           c1.center[2] + c2.center[2] / 1000.0] AS rv
       |        FROM codesm c1 JOIN rcodes c2 ON c2.id = c1.id AND c2.sub = c1.sub),
       |q0 AS (SELECT query_id, ${scaleSql("qvec")} AS qvec
       |       FROM (${Tables.ordersQuerySql}) WHERE query_id < $QN),
       |qsub AS (
       |  SELECT query_id, 0 AS sub, [qvec[1], qvec[2]] AS qv FROM q0
       |  UNION ALL SELECT query_id, 1, [qvec[3], qvec[4]] FROM q0
       |  UNION ALL SELECT query_id, 2, [qvec[5], qvec[6]] FROM q0),
       |pdist AS (SELECT q.query_id, r.id, r.sub, ${l2("q.qv", "r.rv")} AS pdsub
       |          FROM qsub q JOIN rec r ON r.sub = q.sub),
       |dd AS (SELECT query_id, id, list_sum(list(pdsub ORDER BY sub)) AS dist
       |       FROM pdist GROUP BY query_id, id),
       |r AS (SELECT query_id, id, dist,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
       |      FROM dd)
       |SELECT query_id, rank, id, round(dist / 1000000.0, 4) AS dist FROM r WHERE rank <= $K
       |ORDER BY query_id, rank, id, dist""".stripMargin
  }

  private def pqAdcOracleSql(rotated: Boolean): String = {
    val l2 = (a: String, b: String) => Tables.distSql("l2sq", a, b)
    val scaleSql = (c: String) =>
      s"list_transform($c, x -> round(x::DOUBLE * 1000)::BIGINT::DOUBLE)"
    val rot = (c: String) => if (rotated) rotateSql(c) else c
    s"""WITH ${pqTrainCtes(rotated)},
       |q0 AS (SELECT query_id, ${rot("sq")} AS qvec
       |       FROM (SELECT query_id, ${scaleSql("qvec")} AS sq
       |             FROM (${Tables.ordersQuerySql}) WHERE query_id < $QN)),
       |qsub AS (
       |  SELECT query_id, 0 AS sub, [qvec[1], qvec[2]] AS qv FROM q0
       |  UNION ALL SELECT query_id, 1, [qvec[3], qvec[4]] FROM q0
       |  UNION ALL SELECT query_id, 2, [qvec[5], qvec[6]] FROM q0),
       |pdist AS (SELECT q.query_id, cd.id, cd.sub, ${l2("q.qv", "cd.center")} AS pdsub
       |          FROM qsub q JOIN codes cd ON cd.sub = q.sub),
       |dd AS (SELECT query_id, id, list_sum(list(pdsub ORDER BY sub)) AS dist
       |       FROM pdist GROUP BY query_id, id),
       |r AS (SELECT query_id, id, dist,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
       |      FROM dd)
       |SELECT query_id, rank, id, round(dist / 1000000.0, 4) AS dist FROM r WHERE rank <= $K
       |ORDER BY query_id, rank, id, dist""".stripMargin
  }

  /** q64 oracle: SDC — both sides quantized by the q42 train chain; distance
    * = Σ_sub l2sq(center[codeQ], center[codeC]), exactly the LUT definition
    * (`PQQuantizer.h:110-128`).
    */
  private def pqSdcOracleSql: String = {
    val l2 = (a: String, b: String) => Tables.distSql("l2sq", a, b)
    s"""WITH ${pqTrainCtes(rotated = false)},
       |qc AS (SELECT id AS query_id, sub, center AS qcenter FROM codes WHERE id <= 20),
       |pdist AS (SELECT qc.query_id, cd.id, qc.sub, ${l2("qc.qcenter", "cd.center")} AS pdsub
       |          FROM qc JOIN codes cd ON cd.sub = qc.sub),
       |dd AS (SELECT query_id, id, list_sum(list(pdsub ORDER BY sub)) AS dist
       |       FROM pdist GROUP BY query_id, id),
       |r AS (SELECT query_id, id, dist,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
       |      FROM dd)
       |SELECT query_id, rank, id, round(dist / 1000000.0, 4) AS dist FROM r WHERE rank <= $K
       |ORDER BY query_id, rank, id, dist""".stripMargin
  }

  /** q62 oracle: 3 unrolled Lloyd rounds of full-dimension k-means (k=8,
    * init = the 8 lowest-id vectors, ties on cluster id) over the
    * integer-scaled corpus, then top-2 posting assignment against the final
    * centers. Mirrors `BalancedKMeans.fit` + `Spann.buildPostings` exactly:
    * integer-valued doubles make each `sum(x)/count(*)` centroid mean
    * bit-identical to Spark's avg, and empty clusters keep their previous
    * center via the same coalesce.
    */
  private def kmeansHeadsOracleSql: String = {
    val l2 = (a: String, b: String) => Tables.distSql("l2sq", a, b)
    val scaleSql = "list_transform(vec, x -> round(x::DOUBLE * 1000)::BIGINT::DOUBLE)"
    val mean = (1 to 6).map(i => s"sum(vec[$i]) / count(*)").mkString("[", ", ", "]")
    val lloyd = (i: Int) =>
      s"""a${i + 1} AS MATERIALIZED (SELECT * FROM (
         |    SELECT vi.id, vi.vec, c.cid,
         |           row_number() OVER (PARTITION BY vi.id
         |             ORDER BY ${l2("vi.vec", "c.center")}, c.cid) AS rn
         |    FROM vi CROSS JOIN c$i c) WHERE rn = 1),
         |u${i + 1} AS MATERIALIZED (SELECT cid, $mean AS center FROM a${i + 1} GROUP BY cid),
         |c${i + 1} AS MATERIALIZED (SELECT c.cid, coalesce(u.center, c.center) AS center
         |       FROM c$i c LEFT JOIN u${i + 1} u ON u.cid = c.cid)""".stripMargin
    s"""WITH v0 AS (${Tables.lineitemVecSql}),
       |vi AS MATERIALIZED (SELECT id, $scaleSql AS vec FROM v0),
       |c0 AS MATERIALIZED (SELECT id - 1 AS cid, vec AS center FROM vi WHERE id <= 8),
       |${lloyd(0)},
       |${lloyd(1)},
       |${lloyd(2)},
       |pd AS (SELECT vi.id, c.cid, ${l2("vi.vec", "c.center")} AS dist
       |       FROM vi CROSS JOIN c3 c),
       |p AS (SELECT * FROM (
       |    SELECT id, cid, dist,
       |           row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rn
       |    FROM pd) WHERE rn <= 2)
       |SELECT cid AS head_id, id, round(dist / 1000000.0, 4) AS dist FROM p
       |ORDER BY head_id, id, dist""".stripMargin
  }

  /** q67 oracle: the q42 train chain (integer-scaled Lloyd → per-vector
    * codes), the q07/q08 SPANN stages (modulo heads, top-Replicas postings,
    * top-InternalK candidate heads per query), then ADC distance — per-
    * subspace l2sq(query-sub, center-of-code) summed in subspace order —
    * evaluated ONLY over the (query, posting-entry) pairs the stage-1 heads
    * name. Mirrors `Spann.searchTwoStageAdc` stage for stage.
    */
  private def spannAdcOracleSql: String = {
    val l2 = (a: String, b: String) => Tables.distSql("l2sq", a, b)
    val scaleSql = (c: String) =>
      s"list_transform($c, x -> round(x::DOUBLE * 1000)::BIGINT::DOUBLE)"
    s"""WITH ${pqTrainCtes(rotated = false)},
       |h AS (SELECT id AS head_id, vec AS head_vec FROM vi WHERE id % $HeadNth = 0),
       |pd AS (SELECT vi.id, h.head_id, ${l2("vi.vec", "h.head_vec")} AS dist
       |       FROM vi CROSS JOIN h),
       |p AS (SELECT * FROM (
       |    SELECT id, head_id, dist,
       |           row_number() OVER (PARTITION BY id ORDER BY dist, head_id) AS rn
       |    FROM pd) WHERE rn <= $Replicas),
       |q0 AS (SELECT query_id, ${scaleSql("qvec")} AS qvec
       |       FROM (${Tables.ordersQuerySql}) WHERE query_id < $QN),
       |chd AS (SELECT q0.query_id, h.head_id, ${l2("q0.qvec", "h.head_vec")} AS hdist
       |        FROM q0 CROSS JOIN h),
       |ch AS (SELECT * FROM (
       |    SELECT query_id, head_id, hdist,
       |           row_number() OVER (PARTITION BY query_id ORDER BY hdist, head_id) AS rn
       |    FROM chd) WHERE rn <= $InternalK),
       |cp AS (SELECT DISTINCT ch.query_id, p.id FROM ch JOIN p ON ch.head_id = p.head_id),
       |qsub AS (
       |  SELECT query_id, 0 AS sub, [qvec[1], qvec[2]] AS qv FROM q0
       |  UNION ALL SELECT query_id, 1, [qvec[3], qvec[4]] FROM q0
       |  UNION ALL SELECT query_id, 2, [qvec[5], qvec[6]] FROM q0),
       |pdist AS (SELECT cp.query_id, cp.id, cd.sub, ${l2("qs.qv", "cd.center")} AS pdsub
       |          FROM cp JOIN codes cd ON cd.id = cp.id
       |          JOIN qsub qs ON qs.query_id = cp.query_id AND qs.sub = cd.sub),
       |dd AS (SELECT query_id, id, list_sum(list(pdsub ORDER BY sub)) AS dist
       |       FROM pdist GROUP BY query_id, id),
       |r AS (SELECT query_id, id, dist,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
       |      FROM dd)
       |SELECT query_id, rank, id, round(dist / 1000000.0, 4) AS dist FROM r WHERE rank <= $K
       |ORDER BY query_id, rank, id, dist""".stripMargin
  }

  /** q68 oracle: the SPANN iterator's two batches in SQL — `ch` ranked to the
    * full iteration budget (2·InternalK heads per query); batch 1 = top-K over
    * the first InternalK heads' postings; batch 2 = top-K over ALL pulled
    * postings minus batch-1's emitted ids, flagged relaxed_mono. Mirrors
    * `Spann.iterate` batch for batch.
    */
  private def spannIterOracleSql: String = {
    val sDist = Tables.distSql("l2sq", "ch.qvec", "p.vec")
    s"""WITH ${spannCtes(internalK = InternalK * 2)},
       |b1h AS (SELECT ch.query_id, p.id, min($sDist) AS dist
       |        FROM ch JOIN p ON ch.head_id = p.head_id
       |        WHERE ch.rank <= $InternalK
       |        GROUP BY ch.query_id, p.id),
       |b1 AS (SELECT * FROM (
       |    SELECT query_id, id, dist,
       |           CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
       |    FROM b1h) WHERE rank <= $K),
       |b2h AS (SELECT ch.query_id, p.id, min($sDist) AS dist
       |        FROM ch JOIN p ON ch.head_id = p.head_id
       |        GROUP BY ch.query_id, p.id),
       |b2f AS (SELECT * FROM b2h WHERE NOT EXISTS (
       |          SELECT 1 FROM b1 WHERE b1.query_id = b2h.query_id AND b1.id = b2h.id)),
       |b2 AS (SELECT * FROM (
       |    SELECT query_id, id, dist,
       |           CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
       |    FROM b2f) WHERE rank <= $K)
       |SELECT query_id, rank, id, round(dist, 4) AS dist, FALSE AS relaxed_mono FROM b1
       |UNION ALL
       |SELECT query_id, rank, id, round(dist, 4) AS dist, TRUE AS relaxed_mono FROM b2
       |ORDER BY query_id, rank, id, dist, relaxed_mono""".stripMargin
  }

  /** DuckDB recursive-CTE rendering of the order-sensitive RNG prune
    * ([[graft.functions.RngPrune]]): scan candidates in ascending (dist, id)
    * order, accept unless an already-accepted vector refutes
    * (`rngFactor·d(a,c) < d(node,c)`), stop at `cap` accepted. The recursion
    * steps rank-by-rank carrying the accepted (ids, vecs) lists.
    *
    * Expects a CTE named `cv` with columns
    * `($idCol, rn, $candIdCol, $candVecCol, $distCol)` where `rn` is the
    * 1-based (dist, id) rank, and emits CTEs `n`, `step`, `fin`
    * (`fin($idCol, acc_ids)`).
    */
  private def rngPruneRecSql(
      idCol: String,
      candIdCol: String,
      candVecCol: String,
      distCol: String,
      cap: Int,
      rngFactor: Double = 1.0): String = {
    val dAC = Tables.distSql("l2sq", "av", s"c.$candVecCol")
    s"""n AS MATERIALIZED (SELECT $idCol, max(rn) AS mx FROM cv GROUP BY $idCol),
       |step($idCol, rn, acc_ids, acc_vecs) AS (
       |  SELECT $idCol, 0, []::BIGINT[], []::FLOAT[][] FROM n
       |  UNION ALL
       |  SELECT x.$idCol, x.rn + 1,
       |    CASE WHEN x.ok THEN list_append(x.acc_ids, x.$candIdCol) ELSE x.acc_ids END,
       |    CASE WHEN x.ok THEN list_append(x.acc_vecs, x.$candVecCol) ELSE x.acc_vecs END
       |  FROM (
       |    SELECT s.$idCol, s.rn, s.acc_ids, s.acc_vecs, c.$candIdCol, c.$candVecCol,
       |      len(s.acc_ids) < $cap AND len(list_filter(s.acc_vecs,
       |        av -> $rngFactor * ($dAC) < c.$distCol)) = 0 AS ok
       |    FROM step s JOIN cv c ON c.$idCol = s.$idCol AND c.rn = s.rn + 1
       |  ) x
       |  WHERE x.rn < (SELECT max(mx) FROM n)
       |),
       |fin AS (SELECT s.$idCol, s.acc_ids FROM step s JOIN n USING ($idCol) WHERE s.rn = n.mx)""".stripMargin
  }

  /** Shared DuckDB CTEs for the 64-dim embedding LSH banding chain — the one
    * SQL rendering of `SimilaritySearch.bandedCodes(planes=8, rowsPerBand=2)`
    * that both q36 (pair blocking) and q65 (search blocking) build on:
    * `e` (id, vec, integer-quantized qv), hyperplane weights `w`, `dots`,
    * 8-bit `codes`, 4 two-plane `bands`.
    */
  private def lshBandCtes: String =
    s"""e AS (SELECT vec_id AS id, embedding AS vec,
       |       list_transform(embedding, v -> round(v::DOUBLE * 1000)::BIGINT) AS qv FROM embeddings),
       |w AS (SELECT p, d,
       |        ${graft.functions.Hash60.sql("p::VARCHAR || '_' || d::VARCHAR")} % 2001 - 1000 AS wt
       |      FROM generate_series(0, 7) gp(p), generate_series(0, 63) gd(d)),
       |dots AS (SELECT e.id, w.p, sum(e.qv[w.d + 1] * w.wt) AS dot FROM e, w GROUP BY e.id, w.p),
       |codes AS (SELECT id, CAST(sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS code
       |          FROM dots GROUP BY id),
       |bands AS (SELECT id, b AS band, (code >> (b * 2)) & 3 AS bv
       |          FROM codes, generate_series(0, 3) g(b))""".stripMargin

  /** q71 oracle — the curation pipeline stage for stage: quality floor
    * (q30's score expression), exact dedup keep-canonical (q32's chain),
    * the q33 MinHash chain + q60 reachability walk over the exact-deduped
    * survivors `d2`, then the q69 contamination check over the near-dup
    * survivors `d3` against the eval split. Thresholds mirror the Spark
    * entry (0.36 / 0.3 / 0.3).
    */
  private def curateOracleSql: String = {
    val h60 = graft.functions.Hash60.sql("text")
    s"""WITH RECURSIVE
       |corp AS (SELECT * FROM documents WHERE doc_id % 10 <> 7),
       |dq AS (SELECT * FROM corp WHERE ${TextAnalysis.Sql.qualityExpr} >= 0.36),
       |exh AS (SELECT doc_id, $h60 AS h FROM dq),
       |exc AS (SELECT h, min(doc_id) AS canon FROM exh GROUP BY h),
       |d2 AS (SELECT dq.* FROM dq JOIN exh ON dq.doc_id = exh.doc_id
       |       JOIN exc ON exh.h = exc.h AND dq.doc_id = exc.canon),
       |${minhashCtesFrom("d2")},
       |pairs AS (SELECT j.a, j.b FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
       |          WHERE j.jaccard >= 0.3),
       |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
       |walk(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM d2
       |  UNION
       |  SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.id
       |),
       |d3 AS (SELECT d2.* FROM d2 JOIN (
       |         SELECT id FROM walk GROUP BY id HAVING min(lbl) = id) kk
       |       ON d2.doc_id = kk.id),
       |et AS (SELECT doc_id, ${TextAnalysis.Sql.toks("text")} AS toks
       |       FROM documents WHERE doc_id % 10 = 7),
       |esh AS (SELECT DISTINCT unnest(list_distinct(list_transform(
       |          generate_series(1, greatest(len(toks) - 2, 1)),
       |          i -> array_to_string(toks[i:i+2], ' ')))) AS sh FROM et),
       |csh AS (SELECT s.doc_id, s.sh FROM sh s JOIN d3 ON s.doc_id = d3.doc_id),
       |hits AS (SELECT c.doc_id, count(*) AS n_cont FROM csh c
       |         WHERE c.sh IN (SELECT sh FROM esh) GROUP BY c.doc_id),
       |sizes2 AS (SELECT doc_id, count(*) AS n_shingles FROM csh GROUP BY doc_id)
       |SELECT s.doc_id FROM sizes2 s LEFT JOIN hits h ON s.doc_id = h.doc_id
       |WHERE round(coalesce(h.n_cont, 0)::DOUBLE / s.n_shingles::DOUBLE, 4) < 0.3
       |ORDER BY 1""".stripMargin
  }

  /** q98 oracle: q71's curation chain with the round-9 gates in front — the
    * rule filter (`rf`, q97's predicate) and the corpus-trained bigram-LM
    * floor (`lm`, q91's scoring over the corp split; docs without bigrams
    * are absent from `lm` and therefore fail the floor, matching the Spark
    * semi-join).
    */
  private def curateV2OracleSql: String = {
    val h60 = graft.functions.Hash60.sql("text")
    val toks = TextAnalysis.Sql.toks("text")
    val stop = TextAnalysis.Sql.hitCount("toks", TextAnalysis.Stopwords.head._2)
    s"""WITH RECURSIVE
       |corp AS (SELECT * FROM documents WHERE doc_id % 10 <> 7),
       |rft AS (SELECT doc_id, $toks AS toks FROM corp),
       |rfm AS (SELECT doc_id,
       |          len(toks)::BIGINT AS n_tokens,
       |          round(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::DOUBLE
       |                / greatest(len(toks), 1)::DOUBLE, 4) AS mean_word_len,
       |          round(len(list_filter(toks, x -> regexp_full_match(x, '[a-z]+')))::DOUBLE
       |                / greatest(len(toks), 1)::DOUBLE, 4) AS alpha_ratio,
       |          $stop::BIGINT AS stop_hits
       |        FROM rft),
       |rf AS (SELECT doc_id FROM rfm
       |       WHERE n_tokens >= 10 AND n_tokens <= 10000
       |         AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
       |         AND alpha_ratio >= 0.7 AND stop_hits >= 2),
       |lmbg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
       |         FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM rft)),
       |lmc2 AS (SELECT w1, w2, count(*) AS c2 FROM lmbg GROUP BY 1, 2),
       |lmc1 AS (SELECT w1, count(*) AS c1 FROM lmbg GROUP BY 1),
       |lmvv AS (SELECT count(DISTINCT w) AS vocab
       |         FROM (SELECT unnest(toks) AS w FROM rft)),
       |lmlp AS (SELECT bg.doc_id,
       |           round(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * vv.vocab)), 6)::DECIMAL(18,9) AS lp
       |         FROM lmbg bg JOIN lmc2 c2 USING (w1, w2)
       |         JOIN lmc1 c1 USING (w1) CROSS JOIN lmvv vv),
       |lm AS (SELECT doc_id FROM (
       |         SELECT doc_id, round(sum(lp)::DOUBLE / count(*), 4) AS lm_score
       |         FROM lmlp GROUP BY doc_id) WHERE lm_score >= $CurateLmFloor),
       |dq AS (SELECT corp.* FROM corp
       |       WHERE doc_id IN (SELECT doc_id FROM rf)
       |         AND doc_id IN (SELECT doc_id FROM lm)),
       |exh AS (SELECT doc_id, $h60 AS h FROM dq),
       |exc AS (SELECT h, min(doc_id) AS canon FROM exh GROUP BY h),
       |d2 AS (SELECT dq.* FROM dq JOIN exh ON dq.doc_id = exh.doc_id
       |       JOIN exc ON exh.h = exc.h AND dq.doc_id = exc.canon),
       |${minhashCtesFrom("d2")},
       |pairs AS (SELECT j.a, j.b FROM jac j JOIN cand c ON j.a = c.a AND j.b = c.b
       |          WHERE j.jaccard >= 0.3),
       |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
       |walk(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM d2
       |  UNION
       |  SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.id
       |),
       |d3 AS (SELECT d2.* FROM d2 JOIN (
       |         SELECT id FROM walk GROUP BY id HAVING min(lbl) = id) kk
       |       ON d2.doc_id = kk.id),
       |et AS (SELECT doc_id, $toks AS toks
       |       FROM documents WHERE doc_id % 10 = 7),
       |esh AS (SELECT DISTINCT unnest(list_distinct(list_transform(
       |          generate_series(1, greatest(len(toks) - 2, 1)),
       |          i -> array_to_string(toks[i:i+2], ' ')))) AS sh FROM et),
       |csh AS (SELECT s.doc_id, s.sh FROM sh s JOIN d3 ON s.doc_id = d3.doc_id),
       |hits AS (SELECT c.doc_id, count(*) AS n_cont FROM csh c
       |         WHERE c.sh IN (SELECT sh FROM esh) GROUP BY c.doc_id),
       |sizes2 AS (SELECT doc_id, count(*) AS n_shingles FROM csh GROUP BY doc_id)
       |SELECT s.doc_id FROM sizes2 s LEFT JOIN hits h ON s.doc_id = h.doc_id
       |WHERE round(coalesce(h.n_cont, 0)::DOUBLE / s.n_shingles::DOUBLE, 4) < 0.3
       |ORDER BY 1""".stripMargin
  }

  /** q77/q78 oracle chain: `depth` unrolled KD-tree levels over the
    * integer-scaled corpus. Per level l: `s{l}` = per-node count + per-dim
    * Σx/Σx² (exact — integer-valued doubles), `d{l}` = split dim via the
    * first-max cascade on the variance proxy `n·Σx²−(Σx)²` (ties → lowest
    * dim, exactly [[KdTree.build]]'s (−proxy, dim) sort) + split value
    * `Σx/n`, `a{l+1}` = child re-assignment. Mirrors `KdTree.build` rounding
    * for rounding.
    */
  private def kdtreeCtes(depth: Int): String = {
    val dims = 1 to 6
    def proxy(d: Int) = s"(n*q$d - s$d*s$d)"
    val levels = (0 until depth).map { l =>
      val statCols = dims.map(d =>
        s"sum(vec[$d]) AS s$d, sum(vec[$d]*vec[$d]) AS q$d").mkString(", ")
      val cascade = dims.init.map { d =>
        val conds = dims.filter(_ > d).map(o => s"${proxy(d)} >= ${proxy(o)}")
          .mkString(" AND ")
        s"WHEN $conds THEN $d"
      }.mkString(" ") + s" ELSE ${dims.last}"
      val svCase = dims.map(d => s"WHEN $d THEN s$d/n").mkString(" ")
      val proxyCase = dims.map(d => s"WHEN $d THEN ${proxy(d)}").mkString(" ")
      // leaf-stop mirror of KdTree.build: indivisible nodes (chosen-dim
      // proxy = 0) emit no split row; their points STAY via the anti-join arm
      s"""s$l AS (SELECT node, count(*)::DOUBLE AS n, $statCols
         |        FROM a$l GROUP BY node),
         |d$l AS (SELECT node, split_dim, CASE split_dim $svCase END AS split_val
         |        FROM (SELECT *, CASE $cascade END AS split_dim FROM s$l)
         |        WHERE CASE split_dim $proxyCase END > 0),
         |a${l + 1} AS (SELECT a.id, a.vec,
         |        a.node*2 + CASE WHEN list_extract(a.vec, d.split_dim) <= d.split_val
         |                        THEN 0 ELSE 1 END AS node
         |        FROM a$l a JOIN d$l d ON a.node = d.node
         |        UNION ALL
         |        SELECT a.id, a.vec, a.node
         |        FROM a$l a ANTI JOIN d$l d ON a.node = d.node)""".stripMargin
    }
    val scaleSql = "list_transform(vec, x -> round(x::DOUBLE * 1000)::BIGINT::DOUBLE)"
    s"""v0 AS (${Tables.lineitemVecSql}),
       |a0 AS (SELECT id, $scaleSql AS vec, 1::BIGINT AS node FROM v0),
       |${levels.mkString(",\n")}""".stripMargin
  }

  /** q78: route the scaled query vectors down the same `d{l}` split tables,
    * then exact leaf-local top-k (row_number over (dist, id), the q62 shape).
    */
  private def kdtreeSearchOracleSql: String = {
    val routes = (0 until KdDepth).map { l =>
      s"""k${l + 1} AS (SELECT k.query_id, k.qvec,
         |        k.node*2 + CASE WHEN list_extract(k.qvec, d.split_dim) <= d.split_val
         |                        THEN 0 ELSE 1 END AS node
         |        FROM k$l k JOIN d$l d ON k.node = d.node
         |        UNION ALL
         |        SELECT k.query_id, k.qvec, k.node
         |        FROM k$l k ANTI JOIN d$l d ON k.node = d.node)""".stripMargin
    }
    val scaleQ = "list_transform(qvec, x -> round(x::DOUBLE * 1000)::BIGINT::DOUBLE)"
    s"""WITH ${kdtreeCtes(KdDepth)},
       |qv AS (SELECT query_id, $scaleQ AS qvec
       |       FROM (${Tables.ordersQuerySql}) WHERE query_id < $QN),
       |k0 AS (SELECT query_id, qvec, 1::BIGINT AS node FROM qv),
       |${routes.mkString(",\n")},
       |cand AS (SELECT k.query_id, a.id,
       |           ${Tables.distSql("l2sq", "k.qvec", "a.vec")} AS dist
       |         FROM k$KdDepth k JOIN a$KdDepth a ON a.node = k.node),
       |r AS (SELECT query_id, id, dist,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
       |      FROM cand)
       |SELECT query_id, rank, id, dist / 1000000.0 AS dist FROM r WHERE rank <= $K
       |ORDER BY query_id, rank, id, dist""".stripMargin
  }

  /** q79: the beam descent — per level, fork both children (non-preferred
    * adds the split-plane diff², exactly [[KdTree.searchBeam]]'s terms, in
    * the same order), keep the `KdBeam` best `(bound, node)` per query.
    */
  private def kdtreeBeamOracleSql: String = {
    val levels = (0 until KdDepth).map { l =>
      val diff = "(list_extract(f.qvec, d.split_dim) - d.split_val)"
      s"""c$l AS (
         |  SELECT f.query_id, f.qvec, f.node*2 AS node,
         |         f.bound + CASE WHEN $diff > 0 THEN $diff*$diff ELSE 0.0 END AS bound
         |  FROM b$l f JOIN d$l d ON f.node = d.node
         |  UNION ALL
         |  SELECT f.query_id, f.qvec, f.node*2 + 1 AS node,
         |         f.bound + CASE WHEN $diff <= 0 THEN $diff*$diff ELSE 0.0 END AS bound
         |  FROM b$l f JOIN d$l d ON f.node = d.node
         |  UNION ALL
         |  SELECT f.query_id, f.qvec, f.node, f.bound
         |  FROM b$l f ANTI JOIN d$l d ON f.node = d.node),
         |b${l + 1} AS (SELECT query_id, qvec, node, bound FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY bound, node) AS rnk
         |  FROM c$l) WHERE rnk <= $KdBeam)""".stripMargin
    }
    val scaleQ = "list_transform(qvec, x -> round(x::DOUBLE * 1000)::BIGINT::DOUBLE)"
    s"""WITH ${kdtreeCtes(KdDepth)},
       |qv AS (SELECT query_id, $scaleQ AS qvec
       |       FROM (${Tables.ordersQuerySql}) WHERE query_id < $QN),
       |b0 AS (SELECT query_id, qvec, 1::BIGINT AS node, 0.0::DOUBLE AS bound FROM qv),
       |${levels.mkString(",\n")},
       |cand AS (SELECT f.query_id, a.id,
       |           ${Tables.distSql("l2sq", "f.qvec", "a.vec")} AS dist
       |         FROM b$KdDepth f JOIN a$KdDepth a ON a.node = f.node),
       |r AS (SELECT query_id, id, dist,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
       |      FROM cand)
       |SELECT query_id, rank, id, dist / 1000000.0 AS dist FROM r WHERE rank <= $K
       |ORDER BY query_id, rank, id, dist""".stripMargin
  }

  /** One whole tree's CTE chain with name prefix `p` and variance rank
    * `rank` — the dim pick is spelled as the SAME (−proxy, dim) struct sort
    * [[KdTree.build]] runs (`list_sort(...)[rank+1].d`), which DuckDB sorts
    * lexicographically exactly like Spark's `array_sort` of structs.
    */
  private def kdtreeTreeCtes(depth: Int, rank: Int, p: String): String = {
    val dims = 1 to 6
    val scaleSql = "list_transform(vec, x -> round(x::DOUBLE * 1000)::BIGINT::DOUBLE)"
    val levels = (0 until depth).map { l =>
      val statCols = dims.map(d =>
        s"sum(vec[$d]) AS s$d, sum(vec[$d]*vec[$d]) AS q$d").mkString(", ")
      val entries = dims.map(d =>
        s"{'np': -(n*q$d - s$d*s$d), 'd': $d}").mkString("[", ", ", "]")
      val svCase = dims.map(d => s"WHEN $d THEN s$d/n").mkString(" ")
      s"""${p}s$l AS (SELECT node, count(*)::DOUBLE AS n, $statCols
         |        FROM ${p}a$l GROUP BY node),
         |${p}d$l AS (SELECT node, sdim AS split_dim, CASE sdim $svCase END AS split_val
         |        FROM (SELECT *,
         |                CASE WHEN -(list_sort($entries)[${rank + 1}].np) > 0
         |                     THEN list_sort($entries)[${rank + 1}].d
         |                     ELSE list_sort($entries)[1].d END AS sdim,
         |                CASE WHEN -(list_sort($entries)[${rank + 1}].np) > 0
         |                     THEN list_sort($entries)[${rank + 1}].np
         |                     ELSE list_sort($entries)[1].np END AS snp FROM ${p}s$l)
         |        WHERE -snp > 0),
         |${p}a${l + 1} AS (SELECT a.id, a.vec,
         |        a.node*2 + CASE WHEN list_extract(a.vec, d.split_dim) <= d.split_val
         |                        THEN 0 ELSE 1 END AS node
         |        FROM ${p}a$l a JOIN ${p}d$l d ON a.node = d.node
         |        UNION ALL
         |        SELECT a.id, a.vec, a.node
         |        FROM ${p}a$l a ANTI JOIN ${p}d$l d ON a.node = d.node)""".stripMargin
    }
    s"""${p}a0 AS (SELECT id, $scaleSql AS vec, 1::BIGINT AS node FROM v0),
       |${levels.mkString(",\n")}""".stripMargin
  }

  /** q80: two trees (ranks 0 and 1), beam-2 descent each, candidates
    * unioned + deduped on (query, id) before the final top-k.
    */
  private def kdtreeForestOracleSql: String = {
    val beam = 2
    def routeCtes(p: String): String = (0 until KdDepth).map { l =>
      val diff = s"(list_extract(f.qvec, d.split_dim) - d.split_val)"
      s"""${p}c$l AS (
         |  SELECT f.query_id, f.qvec, f.node*2 AS node,
         |         f.bound + CASE WHEN $diff > 0 THEN $diff*$diff ELSE 0.0 END AS bound
         |  FROM ${p}b$l f JOIN ${p}d$l d ON f.node = d.node
         |  UNION ALL
         |  SELECT f.query_id, f.qvec, f.node*2 + 1 AS node,
         |         f.bound + CASE WHEN $diff <= 0 THEN $diff*$diff ELSE 0.0 END AS bound
         |  FROM ${p}b$l f JOIN ${p}d$l d ON f.node = d.node
         |  UNION ALL
         |  SELECT f.query_id, f.qvec, f.node, f.bound
         |  FROM ${p}b$l f ANTI JOIN ${p}d$l d ON f.node = d.node),
         |${p}b${l + 1} AS (SELECT query_id, qvec, node, bound FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY bound, node) AS rnk
         |  FROM ${p}c$l) WHERE rnk <= $beam)""".stripMargin
    }.mkString(",\n")
    val scaleQ = "list_transform(qvec, x -> round(x::DOUBLE * 1000)::BIGINT::DOUBLE)"
    def candCte(p: String): String =
      s"""${p}cand AS (SELECT f.query_id, a.id,
         |  ${Tables.distSql("l2sq", "f.qvec", "a.vec")} AS dist
         |  FROM ${p}b$KdDepth f JOIN ${p}a$KdDepth a ON a.node = f.node)""".stripMargin
    s"""WITH v0 AS (${Tables.lineitemVecSql}),
       |${kdtreeTreeCtes(KdDepth, 0, "ta")},
       |${kdtreeTreeCtes(KdDepth, 1, "tb")},
       |qv AS (SELECT query_id, $scaleQ AS qvec
       |       FROM (${Tables.ordersQuerySql}) WHERE query_id < $QN),
       |tab0 AS (SELECT query_id, qvec, 1::BIGINT AS node, 0.0::DOUBLE AS bound FROM qv),
       |tbb0 AS (SELECT query_id, qvec, 1::BIGINT AS node, 0.0::DOUBLE AS bound FROM qv),
       |${routeCtes("ta")},
       |${routeCtes("tb")},
       |${candCte("ta")},
       |${candCte("tb")},
       |dd AS (SELECT query_id, id, min(dist) AS dist FROM (
       |         SELECT * FROM tacand UNION ALL SELECT * FROM tbcand)
       |       GROUP BY query_id, id),
       |r AS (SELECT query_id, id, dist,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS INT) AS rank
       |      FROM dd)
       |SELECT query_id, rank, id, dist / 1000000.0 AS dist FROM r WHERE rank <= $K
       |ORDER BY query_id, rank, id, dist""".stripMargin
  }

  /** Shared DuckDB CTEs for the q122 perceptual-hash pipeline: codepoint
    * histograms → 64-bit pHash codes → pigeonhole bands with the
    * stop-bucket guard → verified pairs `phpairs(a, b, hamming)`.
    */
  private def phashPairCtes: String = {
    def term(b: Int): String = {
      val v = if (b == 63) "(-9223372036854775807 - 1)" else (1L << b).toString
      s"CASE WHEN sv[${b + 1}] * lc > ld * hs[${b + 1}] THEN $v ELSE 0 END"
    }
    val code = (0 until 64).map(term).mkString(" + ")
    val nb = PhashMaxHamming + 1
    val bandVals = (0 until nb).map { i =>
      val start = i * 64 / nb
      val len = (i + 1) * 64 / nb - start
      val mask = if (len >= 64) -1L else (1L << len) - 1L
      s"((ph >> $start) & $mask)"
    }
    s"""cp AS (SELECT doc_id,
       |        list_transform(generate_series(1, length(text)),
       |          i -> ascii(substr(text, i, 1))) AS cps
       |      FROM documents),
       |hist AS (SELECT doc_id, CAST(len(cps) AS BIGINT) AS ld,
       |          list_transform(range(0, 64),
       |            d -> CAST(len(list_filter(cps, c -> c % 64 = d)) AS BIGINT)) AS sv
       |        FROM cp WHERE len(cps) > 0),
       |tot AS (SELECT CAST(sum(ld) AS BIGINT) AS lc FROM hist),
       |st AS (SELECT list(s ORDER BY d) AS hs FROM (
       |  SELECT d, CAST(sum(v) AS BIGINT) AS s FROM (
       |    SELECT generate_subscripts(sv, 1) AS d, unnest(sv) AS v FROM hist) GROUP BY d)),
       |c AS (SELECT doc_id, CAST($code AS BIGINT) AS ph
       |      FROM hist CROSS JOIN st CROSS JOIN tot),
       |banded AS (SELECT doc_id, ph, band, bv FROM (
       |    SELECT doc_id, ph,
       |      generate_subscripts([${bandVals.mkString(", ")}], 1) - 1 AS band,
       |      unnest([${bandVals.mkString(", ")}]) AS bv
       |    FROM c)),
       |small AS (SELECT * FROM (
       |    SELECT doc_id, ph, band, bv,
       |      count(*) OVER (PARTITION BY band, bv) AS cnt FROM banded)
       |  WHERE cnt <= ${Dedup.MaxBandBucket}),
       |phpairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
       |    CAST(bit_count(xor(l.ph, r.ph)) AS INT) AS hamming
       |  FROM small l JOIN small r ON l.band = r.band AND l.bv = r.bv
       |    AND l.doc_id < r.doc_id
       |  WHERE bit_count(xor(l.ph, r.ph)) <= $PhashMaxHamming)""".stripMargin
  }

  /** Shared DuckDB CTEs: tokenized docs `t` and distinct 3-shingles `sh`,
    * over any document-shaped relation `src` (q71 runs the chain over the
    * pipeline's intermediate survivor sets).
    */
  private def shingleCtesFrom(src: String): String =
    s"""t AS (SELECT doc_id, ${TextAnalysis.Sql.toks("text")} AS toks FROM $src),
       |sh AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, greatest(len(toks) - 2, 1)),
       |    i -> array_to_string(toks[i:i+2], ' ')))) AS sh FROM t))""".stripMargin

  private def shingleCtes: String = shingleCtesFrom("documents")

  /** Full MinHash+LSH CTE chain (shared by q33/q60/q71): shingles, M31
    * hashes, 16 minhashes, 4-row bands, LSH candidates `cand(a,b)`, exact
    * Jaccard `jac(a,b,jaccard)` — over any document-shaped relation.
    */
  /** Shared DuckDB mirror of [[graft.operators.Dedup.duplicatedSpans]] /
    * [[graft.operators.Dedup.contaminationSpans]] (q249/q251): positional
    * gram fingerprints, the both-corpora df stop-gram guard, and the
    * gaps-and-islands maximal-run merge — only the pair predicate differs
    * (`a < b` within one corpus vs the train/eval split).
    */
  private def dupSpanSql(pairPredicate: String): String = {
    val toks = TextAnalysis.Sql.toks("text")
    val g = DupSpanGram
    val gh = graft.functions.Hash60.sql(
      s"array_to_string(t.tk[g.pos:g.pos+${g - 1}], ' ')")
    s"""WITH t AS MATERIALIZED (SELECT doc_id, $toks AS tk FROM documents),
       |g AS (SELECT doc_id, unnest(generate_series(1, len(tk) - ${g - 1}))
       |        AS pos FROM t WHERE len(tk) >= $g),
       |h AS MATERIALIZED (SELECT g.doc_id, g.pos, $gh AS gh
       |     FROM g JOIN t USING (doc_id)),
       |keepg AS (SELECT gh FROM (
       |    SELECT gh, count(DISTINCT doc_id) AS df FROM h GROUP BY 1)
       |  WHERE df <= 64),
       |k AS MATERIALIZED (SELECT h.* FROM h JOIN keepg USING (gh)),
       |p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa, y.pos AS pb
       |      FROM k x JOIN k y ON x.gh = y.gh
       |      WHERE $pairPredicate),
       |r AS (SELECT a, b, pa, pb, pa - pb AS diag,
       |        pa - row_number() OVER (PARTITION BY a, b, pa - pb
       |                                ORDER BY pa) AS run
       |      FROM p)
       |SELECT a, b, min(pa) AS pos_a, min(pb) AS pos_b,
       |       count(*) + ${g - 1} AS run_tokens
       |FROM r GROUP BY a, b, diag, run
       |HAVING count(*) + ${g - 1} >= $DupSpanMinTokens
       |ORDER BY 1, 2, 3, 4, 5""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Spann.buildHeadTree]] +
    * [[graft.operators.Spann.walkHeadTree]] (q248): per-level CTEs unroll
    * the nearest-seed tree build (the B5/q77 pattern), then a bottom-up
    * per-level walk accumulates subtree sizes, emits absorbing nodes'
    * centers, and ranks split picks by (subtree DESC, id ASC).
    */
  private def bktCtes(k: Int, leaf: Int, levels: Int,
      selT: Int, splT: Int, splF: Int): String = {
    val d = Tables.distSql("l2sq", "p.vec", "s.seed_vec")
    // every multi-referenced CTE is MATERIALIZED: DuckDB otherwise inlines
    // (re-evaluates) CTE bodies per reference, and the per-level chain makes
    // that re-evaluation exponential in depth (observed: minutes at 500 rows)
    val build = (0 until levels).map { l =>
      s"""sz$l AS (SELECT node, count(*) AS cnt FROM a$l GROUP BY 1),
         |sp$l AS MATERIALIZED (SELECT node FROM sz$l WHERE cnt > $leaf),
         |lf$l AS (SELECT node, id FROM a$l
         |         WHERE node NOT IN (SELECT node FROM sp$l)),
         |sd${l + 1} AS MATERIALIZED (
         |    SELECT node, id AS seed_id, vec AS seed_vec, rnk FROM (
         |    SELECT node, id, vec,
         |           row_number() OVER (PARTITION BY node ORDER BY id) AS rnk
         |    FROM a$l WHERE node IN (SELECT node FROM sp$l)) WHERE rnk <= $k),
         |n${l + 1} AS (SELECT node || '.' || rnk AS node, node AS parent,
         |              seed_id AS center_id FROM sd${l + 1}),
         |a${l + 1} AS MATERIALIZED (SELECT id, vec, node FROM (
         |    SELECT p.id, p.vec, s.node || '.' || s.rnk AS node,
         |           row_number() OVER (PARTITION BY p.id
         |             ORDER BY $d, s.rnk) AS pick
         |    FROM a$l p JOIN sd${l + 1} s ON p.node = s.node
         |    WHERE p.id NOT IN (SELECT seed_id FROM sd${l + 1})) WHERE pick = 1)"""
        .stripMargin
    }.mkString(",\n")
    val leafUnion =
      ((0 until levels).map(l => s"SELECT node, id FROM lf$l") :+
        s"SELECT node, id FROM a$levels").mkString(" UNION ALL ")
    val nodeUnion =
      (Seq("SELECT '0' AS node, NULL AS parent, NULL::BIGINT AS center_id") ++
        (1 to levels).map(l => s"SELECT node, parent, center_id FROM n$l"))
        .mkString(" UNION ALL ")
    val walk = (0 to levels).reverse.map { l =>
      val lvl = s"length(nl.node) - length(replace(nl.node, '.', '')) = $l"
      val (kidJoin, ks) =
        if (l == levels) ("", "1 + nl.n_leaf")
        else (
          s"""LEFT JOIN (SELECT parent, sum(cs) AS s FROM cs${l + 1}
             |             WHERE cs > 0 GROUP BY 1) kc ON kc.parent = nl.node"""
            .stripMargin,
          "1 + nl.n_leaf + coalesce(kc.s, 0)")
      val contribs =
        if (l == levels) "SELECT node AS pnode, id AS cid, 1 AS cs FROM leaves"
        else
          s"""SELECT parent AS pnode, center_id AS cid, cs FROM cs${l + 1}
             |      WHERE cs > 0
             |      UNION ALL
             |      SELECT node AS pnode, id AS cid, 1 AS cs FROM leaves"""
            .stripMargin
      s"""cs$l AS MATERIALIZED (
         |  SELECT nl.node, nl.parent, nl.center_id, $ks AS ks,
         |         CASE WHEN $ks >= $selT THEN 0 ELSE $ks END AS cs
         |  FROM nl $kidJoin
         |  WHERE $lvl),
         |em$l AS (
         |  SELECT cid FROM (
         |    SELECT c.cid,
         |           row_number() OVER (PARTITION BY kk.node
         |             ORDER BY c.cs DESC, c.cid) AS rn,
         |           (kk.ks + ${splF - 1}) // $splF AS sc
         |    FROM cs$l kk JOIN ($contribs) c ON c.pnode = kk.node
         |    WHERE kk.ks > $splT AND kk.ks >= $selT)
         |  WHERE rn <= sc)""".stripMargin
    }.mkString(",\n")
    val emits = (0 to levels).map { l =>
      s"""SELECT center_id AS cid FROM cs$l
         |  WHERE ks >= $selT AND center_id IS NOT NULL
         |  UNION ALL SELECT cid FROM em$l""".stripMargin
    }.mkString(" UNION ALL ")
    s"""a0 AS MATERIALIZED (SELECT vec_id AS id, embedding AS vec, '0' AS node
       |       FROM embeddings),
       |$build,
       |leaves AS MATERIALIZED ($leafUnion),
       |nl AS MATERIALIZED (SELECT n.node, n.parent, n.center_id,
       |         coalesce(lc.c, 0) AS n_leaf
       |       FROM ($nodeUnion) n
       |       LEFT JOIN (SELECT node, count(*) AS c FROM leaves GROUP BY 1) lc
       |         USING (node)),
       |$walk,
       |sel AS ($emits)""".stripMargin
  }

  private def minhashCtesFrom(src: String): String = {
    val aArr = (0 until 16).map(Dedup.minhashA).mkString("[", ", ", "]")
    val bArr = (0 until 16).map(Dedup.minhashB).mkString("[", ", ", "]")
    s"""${shingleCtesFrom(src)},
       |h32 AS MATERIALIZED (SELECT doc_id, ${graft.functions.Hash60.sql("sh")} % ${Dedup.M31} AS h32 FROM sh),
       |mh AS MATERIALIZED (SELECT doc_id, j,
       |         min(($aArr[j + 1] * h32 + $bArr[j + 1]) % ${Dedup.M31}) AS mh
       |       FROM h32, generate_series(0, 15) g(j) GROUP BY doc_id, j),
       |bands AS MATERIALIZED (SELECT doc_id, j // 4 AS band,
       |            ${graft.functions.Hash60.sql("string_agg(mh::VARCHAR, '|' ORDER BY j)")} AS band_hash
       |          FROM mh GROUP BY doc_id, j // 4),
       |bsm AS MATERIALIZED (SELECT * FROM bands
       |        QUALIFY count(*) OVER (PARTITION BY band, band_hash)
       |                <= ${Dedup.MaxBandBucket}),
       |cand AS MATERIALIZED (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM bsm l
       |         JOIN bsm r ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
       |$jaccardCtes""".stripMargin
  }

  private def minhashCtes: String = minhashCtesFrom("documents")

  /** Jaccard CTEs over `sh`: pair intersections, sizes, `jac(a,b,jaccard)`. */
  private def jaccardCtes: String =
    """inter AS MATERIALIZED (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
      |          FROM sh l JOIN sh r ON l.sh = r.sh AND l.doc_id < r.doc_id
      |          GROUP BY l.doc_id, r.doc_id),
      |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |jac AS MATERIALIZED (SELECT i.a, i.b,
      |          round(i.inter::DOUBLE / (sa.n + sb.n - i.inter)::DOUBLE, 4) AS jaccard
      |        FROM inter i JOIN sizes sa ON i.a = sa.doc_id
      |        JOIN sizes sb ON i.b = sb.doc_id)""".stripMargin
}
