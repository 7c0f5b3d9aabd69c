package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{dist, TopKByDistance}

/** Exact k-NN search (reference Q1/Q2/Q12 semantics: top-k by distance,
  * ascending, ties on id — `AnnService/inc/Core/SearchQuery.h:150-254`,
  * `Common/TruthSet.h:162-164`).
  *
  * Plan shape (the 100 TB posture): the QUERY side is broadcast (queries are
  * small — thousands), the CORPUS side streams through map tasks; a
  * partial-aggregating bounded top-k ([[TopKByDistance]]) reduces each task's
  * slice to ≤k rows per query before the shuffle. No |Q|×|N| exchange ever
  * materializes.
  */
object Knn {

  /** queries(query_id, qvec) × corpus(id, vec [, extra…]) → top-k rows
    * `(query_id, rank, id, dist)` with dist rounded to 4dp for oracle-stable
    * output (ranking uses the unrounded double).
    */
  def search(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      metric: String = "l2sq"): DataFrame =
    explodeRanked(searchAgg(queries, corpus, k, metric))

  /** The aggregate form of [[search]]: `(query_id, nn)` with UNROUNDED
    * distances — for callers that merge further (scatter-gather) before the
    * final rounded projection.
    *
    * Plan: ONE scan of the corpus through [[graft.functions.MultiTopK]] (all
    * queries ride inside the aggregate; per-query bounded buffers update
    * map-side). The broadcast-join formulation ([[searchAggViaJoin]])
    * materializes a joined row per (query, vector) pair first — same
    * result, |Q|× the row traffic.
    */
  private[graft] def searchAgg(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      metric: String = "l2sq"): DataFrame = {
    import graft.functions.MultiTopK
    val q = MultiTopK.collectQueries(queries)
    MultiTopK.search(corpus, q.ids, MultiTopK.Exact(q.vecs, metric),
      MultiTopK.AllQueries(k), col("id"), col("vec"))
  }

  /** Join-formulated [[searchAgg]] — kept as the reference dataflow (tested
    * equal) and for query sets too large to collect.
    */
  private[graft] def searchAggViaJoin(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      metric: String = "l2sq"): DataFrame =
    corpus.crossJoin(broadcast(queries))
      .withColumn("dist", dist.byName(metric)(col("qvec"), col("vec")))
      .groupBy(col("query_id"))
      .agg(TopKByDistance.topk(col("id"), col("dist"), k).as("nn"))

  /** Window-based exact kNN — the naive |Q|×|N|-shuffle formulation. Kept as
    * the semantic baseline the aggregate plan is tested against.
    */
  def searchViaWindow(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      metric: String = "l2sq"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("id"))
    corpus.crossJoin(broadcast(queries))
      .withColumn("dist", dist.byName(metric)(col("qvec"), col("vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"),
        round(col("dist"), 4).as("dist"))
  }

  /** Filtered search (Q4, `BKTIndex.cpp:622-647`): the metadata predicate is
    * applied BEFORE ranking — in Spark the filter pushes down to the scan,
    * which is strictly better than the reference's traverse-but-don't-emit.
    */
  def searchFiltered(
      queries: DataFrame,
      corpus: DataFrame,
      predicate: Column,
      k: Int,
      metric: String = "l2sq"): DataFrame =
    search(queries, corpus.where(predicate), k, metric)

  /** Search honoring a tombstone set (M2 Labelset semantics,
    * `Common/Labelset.h:15-60`): anti-join deletes out of the corpus.
    */
  def searchWithDeletes(
      queries: DataFrame,
      corpus: DataFrame,
      deletes: DataFrame,
      k: Int,
      metric: String = "l2sq"): DataFrame =
    search(queries, corpus.join(broadcast(deletes), Seq("id"), "left_anti"), k, metric)

  /** Search + metadata hydration (Q3, `BKTIndex.cpp:611-618`): join results
    * back to the corpus' meta column on id.
    */
  def searchWithMeta(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      metric: String = "l2sq"): DataFrame =
    search(queries, corpus, k, metric)
      .join(corpus.select(col("id"), col("meta")), Seq("id"))
      .select(col("query_id"), col("rank"), col("id"), col("dist"), col("meta"))

  /** Resumable iterative search (Q6, `AnnService/inc/Core/ResultIterator.h:16-43`,
    * `BKTIndex.cpp:354-427`): the ranked candidate stream is computed ONCE —
    * one corpus scan with budget `maxK` rows per query — and cached;
    * successive `next(batch)` calls slice rank ranges off the retained frame
    * with NO recomputation (the cache is the Spark analogue of the
    * reference's retained per-query workspace). Rows ranked past
    * `exactBudget` carry `relaxed_mono = true`: the reference serves
    * continuation results beyond the search budget without the strict
    * global-order guarantee (`IterativeScanTest.cpp:36-50`).
    */
  def iterate(
      queries: DataFrame,
      corpus: DataFrame,
      exactBudget: Int,
      maxK: Int,
      metric: String = "l2sq"): ResultIterator = {
    val ranked = search(queries, corpus, maxK, metric)
      .withColumn("relaxed_mono", col("rank") > exactBudget)
      .cache()
    new ResultIterator(ranked, maxK)
  }

  /** `(query_id, nn: array<struct<id,dist>>)` → `(query_id, rank, id, dist)`. */
  private[graft] def explodeRanked(agged: DataFrame): DataFrame =
    agged
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "r")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("r.id").as("id"),
        round(col("r.dist"), 4).as("dist"))
}

/** Handle for [[Knn.iterate]]: serves successive per-query batches in
  * (dist, id) order from the cached ranked frame. Batches are disjoint and
  * contiguous; `next` past the retained budget returns an empty frame.
  */
final class ResultIterator private[graft] (ranked: DataFrame, maxK: Int) {
  private var offset = 0

  def next(batch: Int): DataFrame = {
    val out = ranked.where(col("rank") > offset && col("rank") <= offset + batch)
    offset = math.min(offset + batch, maxK)
    out
  }

  def hasNext: Boolean = offset < maxK

  /** Release the retained workspace (reference `ResultIterator::Close`). */
  def close(): Unit = { ranked.unpersist(); () }
}
