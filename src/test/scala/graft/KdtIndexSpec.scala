package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** KDT-algo facade: the AlgoTest phase sequence (`Test/src/AlgoTest.cpp:
  * 230-242`) replayed against [[KdtIndex]] — build → search → add → search
  * → delete → search → refine → save → load → search.
  */
class KdtIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshIndex = KdtIndex(
    spark, synthVectors(1000), dim = 10, depth = 3, numTrees = 2, beam = 2)

  test("build → search finds each query's exact neighbor (AlgoTest search phase)") {
    val idx = freshIndex.build()
    val res = idx.search(synthQueries(3), 3).orderBy("query_id", "rank").collect()
    for (t <- 0 until 3) {
      val top = res.filter(_.getLong(0) == t).head
      assert(top.getLong(2) === 2L * t, s"query $t top hit ${top.getLong(2)}")
      assert(top.getDouble(3) === 0.0)
    }
  }

  test("add routes new vectors into existing leaves; delete tombstones them") {
    val idx = freshIndex.build()
    val batch = Seq((5000L, Seq.fill(10)(1500f))).toDF("id", "vec")
    val grown = idx.add(batch)
    assert(grown.count === 1001)
    val q = Seq((0L, Seq.fill(10)(1499f))).toDF("query_id", "qvec")
    assert(grown.search(q, 1).head().getLong(2) === 5000L,
      "appended vector must be findable without a rebuild")
    val shrunk = grown.deleteByIds(Seq(5000L))
    assert(shrunk.search(q, 1).head().getLong(2) !== 5000L,
      "tombstoned vector must not surface")
    assert(shrunk.count === 1000)
  }

  test("needRefine trips on the tombstone fraction; refine compacts and rebuilds") {
    val idx = freshIndex.build()
    val manyDeletes = idx.deleteByIds((0L until 500L).toSeq)
    assert(!idx.needRefine())
    assert(manyDeletes.needRefine())
    val refined = manyDeletes.refineIndex()
    assert(refined.count === 500)
    assert(!refined.needRefine())
    // survivors still searchable post-compaction
    val q = Seq((0L, Seq.fill(10)(750f))).toDF("query_id", "qvec")
    assert(refined.search(q, 1).head().getLong(2) === 750L)
  }

  test("save → load reproduces search results (AlgoTest save/load phase)") {
    val idx = freshIndex.build()
    val dir = Files.createTempDirectory("kdtidx").toString
    idx.save(dir, leafBuckets = 8)
    val loaded = KdtIndex.load(spark, dir)
    assert(loaded.dim === 10 && loaded.depth === 3 &&
      loaded.numTrees === 2 && loaded.beam === 2 && loaded.metric === "l2sq")
    val q = synthQueries(3)
    val a = idx.search(q, 3).select("query_id", "rank", "id").collect().toSet
    val b = loaded.search(q, 3).select("query_id", "rank", "id").collect().toSet
    assert(a === b, "loaded index must reproduce the live index's results")
    // the stored layout must actually be USED: the loaded-forest search keys
    // the probe join on the leaf_bucket partition column → dynamic-pruning
    // subquery
    assert(loaded.leafBuckets === Some(8))
    val plan = loaded.search(q, 3).queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"loaded KDT search must partition-prune on leaf_bucket; plan:\n${plan.take(3000)}")
  }

  test("add + delete on a LOADED index keep the bucketed layout consistent") {
    val dir = Files.createTempDirectory("kdtidx2").toString
    freshIndex.build().save(dir, leafBuckets = 8)
    val loaded = KdtIndex.load(spark, dir)
    val grown = loaded.add(Seq((5000L, Seq.fill(10)(1500f))).toDF("id", "vec"))
    assert(grown.count === 1001)
    val q = Seq((0L, Seq.fill(10)(1499f))).toDF("query_id", "qvec")
    assert(grown.search(q, 1).head().getLong(2) === 5000L,
      "vector appended to a loaded index must be findable")
    val shrunk = grown.deleteByIds(Seq(5000L))
    assert(shrunk.search(q, 1).head().getLong(2) !== 5000L)
  }
}
