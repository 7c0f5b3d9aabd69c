package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{KdTree, Mutations}

/** KDT-algo index facade — the sibling of [[AnnIndex]] for the reference's
  * KDT algorithm choice (`KDTIndex.cpp`, selected via `IndexAlgoType::KDT`;
  * the wrapper surface is the same `CoreInterface.h:14-87` sequence:
  * build / search / add / delete / needRefine / refine / save / load).
  *
  * Index state: the corpus `vectors(id, vec)`, tombstones, and `trees`
  * diversified KD-trees (tree t splits on the t-th best variance dim).
  * Mutation semantics mirror the reference's KDT behavior: `add` APPENDS —
  * new vectors route down the existing splits to their leaf, the tree
  * structure itself only changes on `refine`/`build` (the reference appends
  * into the dataset and rebuilds trees on refine); `delete` tombstones and
  * search filters them; `refine` drops tombstones and rebuilds.
  *
  * Scale posture: every search is equi-joins against broadcast split tables
  * plus per-query windows; every mutation is a union or anti-join — nothing
  * scales worse than one corpus scan.
  */
class KdtIndex private (
    val spark: SparkSession,
    val dim: Int,
    val depth: Int,
    val numTrees: Int,
    val beam: Int,
    val metric: String,
    val vectors: DataFrame,
    val deleted: DataFrame,
    val trees: Seq[(DataFrame, DataFrame)],
    /** Set on a loaded index: each stored tree's assign is partitioned by
      * `leaf_bucket = leaf % leafBuckets`, and search keys the probe join on
      * the partition column too — Catalyst then inserts a dynamic-pruning
      * subquery so the scan touches only the probed leaves' directories.
      */
    val leafBuckets: Option[Int] = None) {

  private def copy(
      vectors: DataFrame = vectors,
      deleted: DataFrame = deleted,
      trees: Seq[(DataFrame, DataFrame)] = trees,
      leafBuckets: Option[Int] = leafBuckets): KdtIndex =
    new KdtIndex(spark, dim, depth, numTrees, beam, metric, vectors, deleted,
      trees, leafBuckets)

  def count: Long = Mutations.liveView(vectors, deleted).count()

  /** BuildTrees (`KDTree.h:62-116`): one diversified tree per `numTrees`. */
  def build(): KdtIndex = {
    val live = Mutations.liveView(vectors, deleted)
    // freshly built assigns are in-memory frames without the stored layout
    copy(trees = (0 until numTrees).map(t =>
      KdTree.build(live, dim, depth, dimRank = t)), leafBuckets = None)
  }

  private def requireBuilt(): Seq[(DataFrame, DataFrame)] = {
    require(trees.nonEmpty, "index not built — call build() first")
    trees
  }

  /** SearchIndex: forest beam search over the live (non-tombstoned) corpus.
    * On a loaded index the probe join also keys on the stored `leaf_bucket`
    * partition column → dynamic-partition-pruned scans of only the probed
    * leaves (KdTreeSpec/KdtIndexSpec assert the pruning subquery).
    */
  def search(queries: DataFrame, k: Int): DataFrame = {
    val ts = requireBuilt().map { case (s, a) =>
      (s, Mutations.liveView(a, deleted)) }
    KdTree.searchForest(queries, ts, depth, k, beam, metric,
      leafBuckets = leafBuckets)
  }

  /** AddIndex: append vectors; route them down each EXISTING tree's splits
    * (structure unchanged until refine — the reference's append semantics).
    * On a loaded index the appended rows derive the same `leaf_bucket` so
    * the bucketed probe keys stay consistent across the union.
    */
  def add(batch: DataFrame): KdtIndex = {
    val b = batch.select(col("id"), col("vec"))
    copy(
      vectors = vectors.select(col("id"), col("vec")).unionByName(b),
      trees = requireBuilt().map { case (s, a) =>
        val routed = KdTree.assignTo(b, s, depth)
        val withBucket = leafBuckets match {
          case Some(lb) => routed.withColumn(
            "leaf_bucket", (col("leaf") % lb).cast("int"))
          case None => routed
        }
        (s, a.unionByName(withBucket)) })
  }

  def deleteByIds(ids: Seq[Long]): KdtIndex = {
    import spark.implicits._
    copy(deleted = deleted.unionByName(ids.toDF("id")).distinct())
  }

  /** NeedRefine (`BKT/Index.h:150` semantics): tombstone fraction. */
  def needRefine(threshold: Double = 0.4): Boolean = {
    val total = vectors.count()
    total > 0 && deleted.count().toDouble / total > threshold
  }

  /** RefineIndex: drop tombstones, rebuild every tree. */
  def refineIndex(): KdtIndex = {
    val live = Mutations.liveView(vectors, deleted)
    new KdtIndex(spark, dim, depth, numTrees, beam, metric,
      live, KdtIndex.emptyDeletes(spark), Seq.empty).build()
  }

  /** SaveIndex: vectors + tombstones + one stored tree per rank. */
  def save(dir: String, leafBuckets: Int = 64): Unit = {
    vectors.write.mode("overwrite").parquet(s"$dir/vectors")
    deleted.write.mode("overwrite").parquet(s"$dir/deletes")
    requireBuilt().zipWithIndex.foreach { case ((s, a), t) =>
      KdTree.save(s"$dir/tree$t", s, a, depth, leafBuckets) }
    val p = new org.apache.hadoop.fs.Path(s"$dir/kdt_config.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      s"""{"dim":$dim,"depth":$depth,"numTrees":$numTrees,"beam":$beam,"metric":"$metric"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}

object KdtIndex {

  private def emptyDeletes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[Long].toDF("id")
  }

  def apply(
      spark: SparkSession,
      vectors: DataFrame,
      dim: Int,
      depth: Int = 3,
      numTrees: Int = 2,
      beam: Int = 2,
      metric: String = "l2sq"): KdtIndex =
    new KdtIndex(spark, dim, depth, numTrees, beam, metric,
      vectors.select(col("id"), col("vec")), emptyDeletes(spark), Seq.empty)

  def load(spark: SparkSession, dir: String): KdtIndex = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/kdt_config.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    def field(key: String): String =
      s""""$key":\\s*"?([^,}"]+)"?""".r.findFirstMatchIn(json)
        .map(_.group(1)).getOrElse(
          throw new IllegalArgumentException(s"missing $key in $dir/kdt_config.json"))
    val (d, dep, nt, bm) =
      (field("dim").toInt, field("depth").toInt, field("numTrees").toInt, field("beam").toInt)
    // keep the stored partition column: search keys the probe join on
    // (leaf_bucket, leaf) so Catalyst dynamic-partition-prunes the scan to
    // the probed leaves' directories (save() laid the layout out for this)
    val stored = (0 until nt).map(t => KdTree.load(spark, s"$dir/tree$t"))
    val trees = stored.map(st =>
      (st.splits,
        st.assign.select(col("id"), col("vec"), col("leaf"), col("leaf_bucket"))))
    new KdtIndex(spark, d, dep, nt, bm, field("metric"),
      spark.read.parquet(s"$dir/vectors"),
      spark.read.parquet(s"$dir/deletes"), trees,
      leafBuckets = stored.headOption.map(_.leafBuckets))
  }
}
