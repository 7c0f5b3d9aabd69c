package graft.bench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types._

/** Builds graft's input frames from generated arrays, and reads results. */
object Frames {
  private val vecSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("meta", StringType)))
  private val querySchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("qvec", ArrayType(DoubleType, containsNull = false), nullable = false)))
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** `(id, vec, meta)` rows. The corpus carries `meta` as real corpora do
    * (and as `AnnIndex.add` requires of its batches; see the README).
    */
  private def vecRows(ids: Seq[Long], vecs: Seq[Array[Double]]): Seq[Row] =
    ids.zip(vecs).map { case (i, v) => Row(i, v.toSeq, s"m$i") }

  /** A corpus materialized in executor memory, split over `parts` tasks. */
  def corpus(spark: SparkSession, ids: Seq[Long], vecs: Seq[Array[Double]],
      parts: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(vecRows(ids, vecs), parts), vecSchema)
      .localCheckpoint(true)

  /** A small client-side batch of vectors (an `add` argument). */
  def batch(spark: SparkSession, ids: Seq[Long], vecs: Seq[Array[Double]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(vecRows(ids, vecs): _*), vecSchema)

  def queries(spark: SparkSession, qids: Seq[Long], vecs: Seq[Array[Double]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      qids.zip(vecs).map { case (q, v) => Row(q, v.toSeq) }: _*), querySchema)

  def ids(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("id")
  }

  def docs(spark: SparkSession, docs: Seq[(Long, String)], parts: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (i, t) => Row(i, t) }, parts),
      docSchema).localCheckpoint(true)

  /** Search output `(query_id, rank, id, dist)` grouped per query, in rank
    * order.
    */
  def ranked(rows: Array[Row]): Map[Long, Seq[(Int, Long, Double)]] =
    rows.toSeq.map(r => (r.getAs[Long]("query_id"),
        (r.getAs[Int]("rank"), r.getAs[Long]("id"), r.getAs[Double]("dist"))))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).sortBy(_._1) }

  /** The in-memory RDDs a frame's plan reads (checkpointed blocks). */
  def checkpointRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collect { case l: LogicalRDD => l.rdd }

  /** Storage memory held by a frame's checkpointed blocks, in MB. */
  def storageMb(spark: SparkSession, df: DataFrame): Double = {
    val ids = checkpointRdds(df).map(_.id).toSet
    spark.sparkContext.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(_.memSize).sum / 1e6
  }

  /** Drop a frame's checkpointed blocks (a finished index or input). */
  def release(df: DataFrame): Unit = checkpointRdds(df).foreach(_.unpersist(false))
}
