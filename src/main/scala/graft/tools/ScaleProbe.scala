package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical 10× scale probe (round-14 verdict item 4): synthesize a
  * ~6M-vector / ~50k-doc fixture (10× sf0.1) under /tmp, run the headline
  * ANN/dedup family once at sf0.1 and once at 10×, and report wall + total
  * shuffle-write per query plus the 10×/sf0.1 ratio — the first measured
  * scaling exponent for the 100 TB design story. The fixture is generated
  * in-tree and never committed; each replica's documents get a
  * replica-suffixed token stream so cross-replica Jaccard is ~0 and the
  * near-dup pair count scales linearly (replicating text verbatim would
  * grow dup clusters 10× and the pair space quadratically — a measurement
  * artifact, not a scaling property).
  *
  * Also probes the two q07 posting-assignment forms: the flat broadcast
  * scan is O(N·H) = O(N²/nth) by construction (heads grow with the corpus),
  * so at 10× it should read ~100× — the measured motivation for the
  * two-level routed form ([[graft.operators.Spann.buildPostingsHier]]),
  * which fans each vector to superK routed sub-head groups instead.
  */
object ScaleProbe {
  private val Replicas = 10

  private def gen(spark: SparkSession, src: String, dst: String): Unit = {
    val r = explode(sequence(lit(0), lit(Replicas - 1))).as("r")
    def done(t: String) = new java.io.File(s"$dst/$t.parquet/_SUCCESS").exists()

    if (!done("lineitem")) {
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      li.select(col("*"), r)
        .withColumn("l_quantity", col("l_quantity") + col("r"))
        .withColumn("l_partkey", col("l_partkey") + col("r") * 131)
        .withColumn("l_suppkey", col("l_suppkey") + col("r") * 17)
        .drop("r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    }
    if (!done("orders")) {
      val o = spark.read.parquet(s"$src/orders.parquet")
      // replica 0 keeps the original keys so the probe's query vectors
      // (o_orderkey < QN) are the same 50 queries the bench uses
      o.select(col("*"), r)
        .withColumn("o_orderkey", col("o_orderkey") + col("r") * lit(100000000L))
        .withColumn("o_custkey", col("o_custkey") + col("r") * 13)
        .withColumn("o_totalprice", col("o_totalprice") + col("r"))
        .drop("r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    }
    if (!done("documents")) {
      val d = spark.read.parquet(s"$src/documents.parquet")
      d.select(col("*"), r)
        .withColumn("doc_id", col("doc_id") + col("r") * lit(10000000L))
        // suffix EVERY token with the replica digit: within-replica shingle
        // structure (and so the dup-cluster census) is preserved exactly,
        // cross-replica shingle overlap is zero
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            t => concat(t, col("r").cast("string"))), " "))
        .drop("r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    }
    if (!done("customer")) {
      // dims stay 1×: at a real 10× the fact tables grow, the customer
      // dimension doesn't — q44's broadcast-dim shape is what's probed
      spark.read.parquet(s"$src/customer.parquet")
        .write.mode("overwrite").parquet(s"$dst/customer.parquet")
    }
    if (!done("events")) {
      // 10× users over the SAME time span (event rate grows 10×, per-user
      // streams keep their within-replica structure for the window walks)
      val ev = spark.read.parquet(s"$src/events.parquet")
      ev.select(col("*"), r)
        .withColumn("event_id", col("event_id") + col("r") * lit(1000000000L))
        .withColumn("user_id", col("user_id") + col("r") * lit(10000000L))
        .drop("r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/events.parquet")
    }
    if (!done("embeddings")) {
      val e = spark.read.parquet(s"$src/embeddings.parquet")
      e.select(col("*"), r)
        .withColumn("vec_id", col("vec_id") + col("r") * lit(10000000L))
        .withColumn("embedding",
          transform(col("embedding"),
            x => (x + col("r") * lit(0.0001f)).cast("float")))
        .drop("r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_scale10")
    val spark = graft.GraftSession.build() // $SPARK_GRAFT_CPUS cores, default 32
    spark.sparkContext.setLogLevel("ERROR")

    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
        }
      }
    })

    val t0 = System.nanoTime()
    gen(spark, src, dst)
    println(f"[probe] fixture gen/check ${(System.nanoTime() - t0) / 1e9}%6.1f s -> $dst")

    val names = Seq("q01_knn_l2", "q07_spann_postings", "q08_spann_search",
      "q33_dedup_minhash", "q37_ann_bruteforce",
      "q20_tpch_q1", "q44_tpch_q3", "q30_text_stats", "q43_events_window")

    def hierInputs(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
      import graft.operators.Spann
      val vecs = graft.Tables.lineitemVec(s, d)
      val heads = Spann.selectHeadsModulo(vecs, 200)
      // every 20th HEAD: head ids are the corpus ids divisible by 200, so
      // the super rule is id % (200·20) — a bare %20 on head_id selects
      // EVERY head (all multiples of 200) and degenerates supers to the
      // full head set
      val sh = Spann.selectHeadsModulo(vecs, 200 * 20)
        .select(col("head_id").as("super_id"), col("head_vec").as("super_vec"))
      (vecs, sh, Spann.routeHeads(heads, sh, 2))
    }
    def hierPostings(s: SparkSession, d: String): DataFrame = {
      val (vecs, sh, routing) = hierInputs(s, d)
      graft.operators.Spann.buildPostingsHier(vecs, sh, routing, 4, superK = 4)
    }
    def routedPostings(s: SparkSession, d: String): DataFrame = {
      val (vecs, sh, routing) = hierInputs(s, d)
      graft.operators.Spann.buildPostingsRouted(vecs, sh, routing, 4, superK = 4)
    }

    def measure(tag: String, d: String): Map[String, (Double, Long)] = {
      val sess = spark.newSession()
      graft.Tables.lineitemVec(sess, d).count()
      val base = names.map { n =>
        shuffleWrite.set(0)
        val q0 = System.nanoTime()
        val rows = graft.SparkEntry.queries(n)(sess, d).count()
        val secs = (System.nanoTime() - q0) / 1e9
        val sw = shuffleWrite.get()
        println(f"[probe] $tag $n%-20s ${secs}%8.2f s  shuffleW ${sw / 1e6}%9.1f MB  rows=$rows")
        n -> ((secs, sw))
      }.toMap
      val extra = Seq(
        "q07_hier_join" -> (() => hierPostings(sess, d)),
        "q07_routed_expr" -> (() => routedPostings(sess, d))).map {
        case (n, f) =>
          shuffleWrite.set(0)
          val h0 = System.nanoTime()
          val hrows = f().count()
          val hsecs = (System.nanoTime() - h0) / 1e9
          val hsw = shuffleWrite.get()
          println(f"[probe] $tag $n%-20s ${hsecs}%8.2f s  shuffleW ${hsw / 1e6}%9.1f MB  rows=$hrows")
          n -> ((hsecs, hsw))
      }
      base ++ extra
    }

    // JIT warm on the tiny fixture first so both measured passes are steady
    val warm = spark.newSession()
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(warm, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }

    val at01 = measure("sf0.1 ", src)
    val at10 = measure("scale10", dst)
    println("[probe] ---- 10x / sf0.1 ratios ----")
    (names ++ Seq("q07_hier_join", "q07_routed_expr")).foreach { n =>
      val (s1, w1) = at01(n); val (s10, w10) = at10(n)
      println(f"[probe] ratio $n%-20s wall ${s10 / s1}%6.1fx  shuffleW ${
        if (w1 > 0) f"${w10.toDouble / w1}%6.1fx" else "   n/a"}")
    }
    spark.stop()
  }
}
