package graft.tools

import org.apache.spark.sql.functions._

/** Scratch: per-query SPANN recall attribution at the q11 configuration (not
  * driver contract). For every query: recall@10, whether each missed true
  * neighbor's replica heads were probed by stage-1 (head miss) or probed but
  * truncated/absent from postings (posting miss), and the effect of raising
  * internalK for just the affected queries.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.build() // $SPARK_GRAFT_CPUS cores, default 32
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{Eval, Knn, Spann}

    val K = 10
    val corpus = graft.Tables.lineitemVec(spark, sfDir)
    val queries = graft.Tables.ordersQuery(spark, sfDir).where(col("query_id") < 50)
    val heads = Spann.selectHeadsModulo(corpus, 200)
    val postings = Spann.buildPostings(corpus, heads, 4).localCheckpoint(true)
    val exact = Knn.search(queries, corpus, K).localCheckpoint(true)

    for (ik <- Seq(8, 12, 16, 24)) {
      val approx = Spann.searchTwoStage(queries, heads, postings, K, ik)
      val per = Eval.recallAt(approx, exact, K)
      val rows = per.orderBy("recall").limit(5).collect()
      val summary = Eval.recallSummary(per).head()
      println(s"[probe] internalK=$ik avg=${summary.getDouble(0)} " +
        s"worst5=${rows.map(r => s"${r.getLong(0)}:${r.getDouble(1)}").mkString(", ")}")
    }

    // attribute the internalK=8 misses: head miss vs posting miss
    val approx8 = Spann.searchTwoStage(queries, heads, postings, K, 8)
    val missed = exact.join(
      approx8.select(col("query_id"), col("id")), Seq("query_id", "id"),
      "left_anti")
    val cand8 = Spann.candidateHeads(queries, heads, 8, Double.MaxValue, "l2sq")
    val missHeads = missed.join(postings.select(col("id"), col("head_id")), Seq("id"))
      .join(cand8.withColumn("probed", lit(1)), Seq("query_id", "head_id"), "left")
      .groupBy(col("query_id"), col("id"))
      .agg(max(coalesce(col("probed"), lit(0))).as("any_probed"),
        count(lit(1)).as("replicas"))
    println("[probe] missed true neighbors (internalK=8):")
    missHeads.orderBy("query_id", "id").collect().foreach { r =>
      println(s"[probe]   q=${r.getLong(0)} id=${r.getLong(1)} " +
        s"probedReplicaHead=${r.getInt(2) == 1} replicas=${r.getLong(3)}")
    }
    spark.stop()
  }
}

/** Scratch: head-distance ratio geometry — how far out (ratio to best head)
  * do the stage-1 ranks sit per query, and how many heads a ratio-widened
  * probe would add per query.
  */
object HeadRatioProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.build() // $SPARK_GRAFT_CPUS cores, default 32
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.Spann

    val corpus = graft.Tables.lineitemVec(spark, sfDir)
    val queries = graft.Tables.ordersQuery(spark, sfDir).where(col("query_id") < 50)
    val heads = Spann.selectHeadsModulo(corpus, 200)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
    val cand = Spann.candidateHeads(queries, heads, 24)
      .withColumn("_best", min(col("hdist")).over(w))
      .localCheckpoint(true)
    // per query: ratio at ranks 8, 12, 16, 24
    val r = cand.groupBy("query_id").agg(
      max(when(col("rank") === 8, col("hdist") / col("_best"))).as("r8"),
      max(when(col("rank") === 12, col("hdist") / col("_best"))).as("r12"),
      max(when(col("rank") === 16, col("hdist") / col("_best"))).as("r16"),
      max(when(col("rank") === 24, col("hdist") / col("_best"))).as("r24"))
    println("[ratio] worst-recall queries 39, 34, 48, 37, 22:")
    r.where(col("query_id").isin(39L, 34L, 48L, 37L, 22L)).orderBy("query_id")
      .collect().foreach(x => println(s"[ratio]   $x"))
    println("[ratio] distribution of r8/r24 over all queries:")
    r.agg(min("r8"), avg("r8"), max("r8"), min("r24"), avg("r24"), max("r24"))
      .collect().foreach(x => println(s"[ratio]   $x"))
    // heads within ratio R of best, per query, for candidate Rs
    for (rr <- Seq(1.05, 1.08, 1.1, 1.15, 1.2, 1.3, 1.5)) {
      val cnt = cand.where(col("hdist") <= lit(rr) * col("_best"))
        .groupBy("query_id").count()
      val s = cnt.agg(avg("count"), max("count")).head()
      println(f"[ratio] R=$rr%.1f heads-within-ratio avg=${s.getDouble(0)}%.1f max=${s.getLong(1)}")
    }
    spark.stop()
  }
}
