package graft

import org.apache.spark.sql.functions._

import graft.operators.Knn

/** Mirrors the reference's AlgoTest/FilterTest/IterativeScanTest invariants
  * (`Test/src/AlgoTest.cpp:230-242`, `FilterTest.cpp:27-58`,
  * `IterativeScanTest.cpp:36-50`) on the synthetic fixtures.
  */
class KnnSpec extends SparkSpec {

  test("exact kNN finds closed-form neighbors: q=2t nearest is id=2t") {
    val res = Knn.search(synthQueries(), synthVectors(), 3)
      .orderBy(col("query_id"), col("rank")).collect()
    // query t sits exactly on vector 2t; next are 2t±1 (tie broken by id asc)
    for (t <- 0 until 3) {
      val rows = res.filter(_.getLong(0) == t)
      assert(rows(0).getLong(2) === 2 * t)
      assert(rows(0).getDouble(3) === 0.0)
      if (t > 0) assert(rows(1).getLong(2) === 2 * t - 1) // id tie-break: smaller id first
    }
  }

  test("aggregate plan ≡ window plan (same rows)") {
    // besides the 10-d/3-query fixture: 7 hashed queries at 8-d and 32-d for
    // every metric, so the aggregate's 4-way query interleave (plus its tail)
    // and the dim >= 16 early-abandon / triangle-reject L2 branch run too
    def hashed(n: Int, d: Int, idCol: String, vecCol: String, salt: Int) =
      spark.range(n).select(col("id").as(idCol),
        transform(sequence(lit(1), lit(d)),
          j => (hash(col("id"), j, lit(salt)) % 1000 / 100.0).cast("float")).as(vecCol))
    val inputs = Seq((synthQueries(), synthVectors(), "l2sq")) ++ (for {
      d <- Seq(8, 32)
      metric <- Seq("l2sq", "dot", "ip", "cos")
    } yield (hashed(7, d, "query_id", "qvec", 1), hashed(400, d, "id", "vec", 2), metric))
    for ((queries, corpus, metric) <- inputs) {
      val a = Knn.search(queries, corpus, 5, metric)
      val b = Knn.searchViaWindow(queries, corpus, 5, metric)
      assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    }
  }

  test("duplicate query ids fail loudly, naming the id") {
    val dup = synthQueries(3).union(synthQueries(2)) // ids 0, 1, 2, 0, 1
    val err = intercept[IllegalArgumentException](Knn.search(dup, synthVectors(), 3))
    assert(err.getMessage.contains("duplicate query_id 0"), err.getMessage)
  }

  private def hashed(n: Int, d: Int, idCol: String, vecCol: String, salt: Int) =
    spark.range(n).select(col("id").as(idCol),
      transform(sequence(lit(1), lit(d)),
        j => (hash(col("id"), j, lit(salt)) % 1000 / 100.0).cast("float")).as(vecCol))

  test("collectBatches: over-budget batches split into query_id-hash chunks that " +
    "partition the ids, each within budget") {
    import graft.functions.MultiTopK
    val h = hashed(23, 8, "query_id", "qvec", 1)
    val q = spark.createDataFrame(java.util.Arrays.asList(h.collect(): _*), h.schema)
    val heavy = spark.createDataFrame(h.rdd, h.schema) // no size estimate: measured first
    val all = (0L until 23L).toSeq
    // one row costs 8 id bytes + 8 · 8 widened vector bytes
    val one = MultiTopK.collectBatches(q)
    assert(one.size === 1 && (one.head._1 eq q) && one.head._2.ids.toSeq === all)
    for ((f, rows, bytes) <- Seq((heavy, 5, Long.MaxValue), (q, 5, Long.MaxValue),
        (q, Int.MaxValue, 4 * 72L), (q, 3, 2 * 72L), (q, 1, Long.MaxValue))) {
      val chunks = MultiTopK.collectBatches(f, maxRows = rows, maxBytes = bytes)
      assert(chunks.size > 1, s"rows $rows bytes $bytes")
      assert(chunks.flatMap(_._2.ids).sorted === all, s"rows $rows bytes $bytes")
      for ((frame, b) <- chunks) {
        assert(b.ids.length <= rows && b.vecs.map(8L + 8L * _.length).sum <= bytes)
        assert(frame.select("query_id").collect().map(_.getLong(0)).sorted.toSeq ===
          b.ids.toSeq, "a chunk frame holds other queries than its batch")
      }
    }
    // labeled batches carry each id's label, 16 + 64 bytes a row
    val hv = hashed(23, 8, "id", "vec", 3).withColumn("label", col("id") % 3)
    val v = spark.createDataFrame(java.util.Arrays.asList(hv.collect(): _*), hv.schema)
    val labeled = MultiTopK.collectBatches(v, "id", "vec", Some("label"), 4, 3 * 80L)
    assert(labeled.size > 1 && labeled.flatMap(_._2.ids).sorted === all)
    for ((_, b) <- labeled) {
      assert(b.ids.length <= 3)
      assert(b.ids.indices.forall(i => b.labels(i) === b.ids(i) % 3))
    }
  }

  test("Knn.search over a query batch split by a tiny budget equals one batch") {
    val q = hashed(9, 16, "query_id", "qvec", 4)
    val corpus = hashed(300, 16, "id", "vec", 5)
    for (metric <- Seq("l2sq", "cos")) {
      val one = Knn.search(q, corpus, 5, metric).collect().toSet
      val split = Knn.explodeRanked(Knn.searchAgg(q, corpus, 5, metric, 2, Long.MaxValue))
        .collect().toSet
      assert(one.size === 45 && split === one, metric)
    }
  }

  test("filtered search never returns excluded meta (FilterTest.cpp:52-56)") {
    val res = Knn.searchFiltered(
      synthQueries(), synthVectors(), col("meta") =!= "2", 3)
    val metas = res.join(synthVectors(), Seq("id")).select("meta")
      .collect().map(_.getString(0))
    assert(!metas.contains("2"))
    assert(res.count() === 9)
  }

  test("deleted ids are excluded from search (AlgoTest delete phase)") {
    import spark.implicits._
    val dels = Seq(0L, 2L, 4L).toDF("id")
    val res = Knn.searchWithDeletes(synthQueries(), synthVectors(), dels, 3)
    val ids = res.select("id").collect().map(_.getLong(0)).toSet
    assert(ids.intersect(Set(0L, 2L, 4L)).isEmpty)
  }

  test("results are monotone in rank (iterative-scan invariant)") {
    val res = Knn.search(synthQueries(), synthVectors(), 20)
      .orderBy(col("query_id"), col("rank")).collect()
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val dists = rows.map(_.getDouble(3))
      assert(dists.zip(dists.tail).forall { case (a, b) => a <= b })
    }
  }

  test("ResultIterator: disjoint contiguous batches, one retained frame (Q6)") {
    val it = Knn.iterate(synthQueries(), synthVectors(), exactBudget = 6, maxK = 10)
    try {
      val b1 = it.next(4).collect()
      assert(it.hasNext)
      // second batch must be served from the cached candidate frame, not a
      // fresh corpus scan (the reference's retained-workspace contract)
      val b2df = it.next(4)
      assert(b2df.queryExecution.optimizedPlan.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
      }.nonEmpty)
      val b2 = b2df.collect()
      val b3 = it.next(4).collect() // clipped to maxK: ranks 9..10
      assert(!it.hasNext && it.next(4).collect().isEmpty)
      // ranks partition cleanly: 1..4 / 5..8 / 9..10
      assert(b1.map(_.getInt(1)).toSet === (1 to 4).toSet ||
        b1.map(_.getInt(1)).forall(r => r >= 1 && r <= 4))
      assert(b2.map(_.getInt(1)).forall(r => r >= 5 && r <= 8))
      assert(b3.map(_.getInt(1)).forall(r => r >= 9 && r <= 10))
      // union of batches ≡ one-shot exact top-10 with the relaxed flag
      val union = (b1 ++ b2 ++ b3)
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
        .toSet
      val oneShot = Knn.search(synthQueries(), synthVectors(), 10)
        .withColumn("relaxed_mono", col("rank") > 6).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
        .toSet
      assert(union === oneShot)
      // relaxed-monotonicity: flag set exactly past the exact budget
      union.foreach { case (_, rank, _, _, relaxed) => assert(relaxed === (rank > 6)) }
    } finally it.close()
  }

  test("searchK is resumable: top-k of bigger k extends smaller k (Q6)") {
    val k5 = Knn.search(synthQueries(), synthVectors(), 5)
    val k10 = Knn.search(synthQueries(), synthVectors(), 10)
    assert(k5.exceptAll(k10.where(col("rank") <= 5)).count() === 0)
  }
}
