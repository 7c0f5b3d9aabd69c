package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** End-to-end facade test mirroring the reference's AlgoTest phase sequence
  * (`Test/src/AlgoTest.cpp:230-242`): build → search → add → search →
  * delete → search → save → load → search.
  */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshIndex = AnnIndex(
    spark, synthVectors(1000),
    GraftConf(headRatio = 0.02, replicaCount = 4, internalK = 8))

  test("build → search finds exact neighbors on the synthetic grid") {
    val idx = freshIndex.build()
    val res = idx.search(synthQueries(3), 3)
      .orderBy("query_id", "rank").collect()
    for (t <- 0 until 3) {
      val top = res.filter(_.getLong(0) == t).head
      assert(top.getLong(2) === 2L * t)
      assert(top.getDouble(3) === 0.0)
    }
    assert(idx.recall(synthQueries(3), 5) >= 0.9)
  }

  test("add then search finds the new vector (AlgoTest add phase)") {
    val idx = freshIndex.build()
    val batch = Seq((5000L, Seq.fill(10)(1500f), "new")).toDF("id", "vec", "meta")
    val grown = idx.add(batch)
    val q = Seq((0L, Seq.fill(10)(1499f))).toDF("query_id", "qvec")
    assert(grown.search(q, 1).head().getLong(2) === 5000L)
    assert(grown.count === 1001)
  }

  test("an index built from (id, vec) adds an (id, vec) batch") {
    val idx = AnnIndex(spark, synthVectors(1000).select("id", "vec"),
      GraftConf(headRatio = 0.02, replicaCount = 4, internalK = 8)).build()
    val grown = idx.add(Seq((5000L, Seq.fill(10)(1500f))).toDF("id", "vec"))
    val top = grown.search(Seq((0L, Seq.fill(10)(1499f))).toDF("query_id", "qvec"), 1).head()
    assert(top.getInt(1) === 1 && top.getLong(2) === 5000L)
  }

  test("delete phases: by id, by vector, by meta; tombstones skip results") {
    val idx = freshIndex.build()
    val q = Seq((0L, Seq.fill(10)(7f))).toDF("query_id", "qvec")
    assert(idx.search(q, 1).head().getLong(2) === 7L)
    val afterDel = idx.deleteByIds(Seq(7L).toDF("id"))
    assert(afterDel.search(q, 1).head().getLong(2) !== 7L)
    val afterDelVec = afterDel.deleteByVector(
      Seq((0L, Seq.fill(10)(8f))).toDF("query_id", "qvec"))
    assert(afterDelVec.search(q, 2).collect().map(_.getLong(2)).toSet
      .intersect(Set(7L, 8L)).isEmpty)
    val afterDelMeta = idx.deleteByMeta(Seq("6").toDF("meta"))
    assert(!afterDelMeta.search(q, 3).collect().map(_.getLong(2)).contains(6L))
  }

  test("refine compacts tombstones; needRefine honors the threshold") {
    val idx = freshIndex.build()
      .deleteByIds(spark.range(0, 500).toDF("id"))
    assert(idx.needRefine)
    val refined = idx.refineIndex()
    assert(refined.count === 500)
    assert(!refined.needRefine)
  }

  test("save → load roundtrip preserves search results") {
    val dir = Files.createTempDirectory("graft_annidx").toString
    val idx = freshIndex.build()
    idx.save(s"$dir/idx")
    val loaded = AnnIndex.load(spark, s"$dir/idx")
    val q = synthQueries(3)
    val a = idx.search(q, 5).collect().toSeq
    val b = loaded.search(q, 5).collect().toSeq
    assert(a.toSet === b.toSet)
    assert(loaded.getParameter("metric") === "l2sq")
  }

  test("quantizer: train → ADC search → survives save/load (Q11/S6)") {
    val dir = Files.createTempDirectory("graft_annidx_pq").toString
    val idx = freshIndex.build().trainQuantizer(m = 2, k = 8, maxIter = 2)
    val q = synthQueries(3)
    val before = idx.searchAdc(q, 5).collect().toSeq
    assert(before.nonEmpty)
    // compressed-domain results carry every query, k rows each
    assert(before.groupBy(_.getLong(0)).forall(_._2.size == 5))
    idx.save(s"$dir/idx")
    val loaded = AnnIndex.load(spark, s"$dir/idx")
    assert(loaded.quantizer.isDefined, "quantizer lost in the roundtrip")
    // codes are PERSISTED at save (quantize-once contract): the loaded index
    // serves ADC from the stored table, never re-quantizing the corpus
    assert(new java.io.File(s"$dir/idx/codes").exists(), "codes table not saved")
    assert(spark.read.parquet(s"$dir/idx/codes").count() === idx.count)
    val after = loaded.searchAdc(q, 5).collect().toSeq
    assert(before.toSet === after.toSet)
    // re-attaching a NEW quantizer on the loaded index must invalidate the
    // old quantizer's posting-embedded codes (stale-codes regression): the
    // retrained loaded index must score exactly like the same retrain on the
    // in-memory index, not against the archived codes
    val retrained = loaded.setParameter("InternalK", "8")
      .trainQuantizer(m = 5, k = 8, maxIter = 2)
    val freshTrain = idx.trainQuantizer(m = 5, k = 8, maxIter = 2)
    assert(retrained.searchAdc(q, 5).collect().toSet ===
      freshTrain.searchAdc(q, 5).collect().toSet)
    // and refine keeps the quantizer attached
    assert(idx.deleteByIds(Seq(1L).toDF("id")).refineIndex().quantizer.isDefined)
  }

  test("a quantized index saves twice from one instance (constraint regression)") {
    // checkpointed postings/codes carry origin constraints from their
    // pre-checkpoint lineage; the SECOND save of one instance used to die in
    // task binding (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) when the optimizer
    // pushed a stale-attribute constraint across the posting⋈codes join —
    // IndexStore.save now disables constraint propagation for its writes
    val dir = Files.createTempDirectory("graft_annidx_resave").toString
    val idx = freshIndex.build().trainQuantizer(m = 2, k = 8, maxIter = 1)
    idx.save(s"$dir/a")
    idx.save(s"$dir/b")
    val q = synthQueries(3)
    assert(AnnIndex.load(spark, s"$dir/b").searchAdc(q, 5).collect().toSet ===
      idx.searchAdc(q, 5).collect().toSet)
  }

  test("single-file save/load roundtrip; memory estimator arithmetic (S6)") {
    val dir = Files.createTempDirectory("graft_annidx_file").toString
    val idx = freshIndex.build().trainQuantizer(m = 2, k = 8, maxIter = 2)
    idx.saveToFile(s"$dir/index.graft")
    // ONE file on disk, and it round-trips searches exactly — including the
    // quantized serving path (codes + codebooks ride inside the archive)
    assert(new java.io.File(s"$dir/index.graft").isFile)
    val loaded = AnnIndex.loadFromFile(spark, s"$dir/index.graft")
    val q = synthQueries(3)
    assert(idx.search(q, 5).collect().toSet === loaded.search(q, 5).collect().toSet)
    assert(idx.searchAdc(q, 5).collect().toSet === loaded.searchAdc(q, 5).collect().toSet)
    // a SECOND archive from the same instance (the parquet writer's part
    // UUIDs differ, so bytes aren't identical) loads and serves identically
    idx.saveToFile(s"$dir/index2.graft")
    assert(AnnIndex.loadFromFile(spark, s"$dir/index2.graft")
      .search(q, 5).collect().toSet === idx.search(q, 5).collect().toSet)
    // estimator: usage covers at least the raw vector payload, and
    // count(usage(n)) inverts exactly at block size 1
    val usage = AnnIndex.estimatedMemoryUsage(1000, 10)
    assert(usage >= 1000L * 10 * 4)
    assert(AnnIndex.estimatedVectorCount(usage, 10) === 1000L)
    // block rounding mirrors the reference: UP for usage, DOWN for capacity
    assert(AnnIndex.estimatedMemoryUsage(1001, 10, vectorsInBlock = 500) ===
      AnnIndex.estimatedMemoryUsage(1500, 10))
    assert(AnnIndex.estimatedVectorCount(usage - 1, 10, vectorsInBlock = 500) === 500L)
    // and the estimate is the right order for the fixture index: within 32x
    // of the single-file archive's bytes (archive = compressed parquet)
    val fileBytes = new java.io.File(s"$dir/index.graft").length()
    val est = AnnIndex.estimatedMemoryUsage(idx.count, 10)
    assert(est >= fileBytes / 32 && est <= fileBytes * 32,
      s"estimate $est vs archive $fileBytes")
  }

  test("oversized head sets auto-route through super-heads (hier path)") {
    val corpus = synthVectors(600).select("id", "vec")
    val flat = AnnIndex(spark, corpus,
      GraftConf(headRatio = 0.1, replicaCount = 3, internalK = 6)).build()
    // same build, but a threshold the 60-head set exceeds → hier routing
    val hier = AnnIndex(spark, corpus,
      GraftConf(headRatio = 0.1, replicaCount = 3, internalK = 6,
        hierThreshold = 10, superRatio = 0.25, superK = 4, routeReplicas = 2)).build()
    val q = synthQueries(5)
    val exact = hier.searchExact(q, 5)
    val res = hier.search(q, 5)
    assert(res.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
    // routed search keeps useful recall, and the flat path is unaffected
    val rec = graft.operators.Eval.recallSummary(
      graft.operators.Eval.recallAt(res, exact, 5)).head().getDouble(0)
    assert(rec >= 0.7, s"hier recall $rec")
    assert(flat.search(q, 5).count() === 25)
  }

  test("facade iterator: first batch equals search; deletes never surface (Q6)") {
    val idx = freshIndex.build()
    val q = synthQueries(3)
    val it = idx.iterate(q, headBatch = 8, maxBatches = 2)
    try {
      val b1 = it.next(5)
      assert(b1.drop("relaxed_mono").collect().toSet ===
        idx.search(q, 5).collect().toSet)
      assert(it.hasNext)
      // continuation batch is disjoint and flagged
      val b2 = it.next(5)
      assert(b2.collect().forall(_.getBoolean(4)))
      assert(b1.select("query_id", "id").intersect(b2.select("query_id", "id")).isEmpty)
    } finally it.close()
    // tombstoned ids never enter the pool
    val del = idx.deleteByIds(Seq(0L, 2L, 4L).toDF("id"))
    val it2 = del.iterate(synthQueries(3), headBatch = 8)
    try assert(!it2.next(5).collect().map(_.getLong(2)).toSet.exists(Set(0L, 2L, 4L)))
    finally it2.close()
  }

  test("iterator batches are snapshot-isolated from interleaved add/delete " +
    "(ConcurrentTest × SPANNResultIterator)") {
    // the reference interleaves GetIterator draws with concurrent inserts
    // (ConcurrentTest.cpp threads × SPANNResultIterator's retained
    // workspace); on the immutable facade the equivalent contract is: an
    // OPEN iterator keeps serving the snapshot it was created on while a
    // writer thread swaps the index underneath — no added id ever leaks
    // into its batches, no torn pool — and a NEW iterator on the mutated
    // index sees the post-mutation state.
    import java.util.concurrent.atomic.AtomicReference
    import java.util.concurrent.ConcurrentLinkedQueue
    val idx0 = freshIndex.build()
    val q = synthQueries(3)
    // reference sequence: the full two batches drawn with NO interleaving
    val refIt = idx0.iterate(q, headBatch = 8, maxBatches = 2)
    val (ref1, ref2) =
      try (refIt.next(5).collect().toSet, refIt.next(5).collect().toSet)
      finally refIt.close()

    val current = new AtomicReference[AnnIndex](idx0)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val it = idx0.iterate(q, headBatch = 8, maxBatches = 2)
    try {
      val b1 = it.next(5).collect().toSet
      // writer thread mutates WHILE the iterator is open and mid-sequence
      val writer = new Thread(() => try {
        for (j <- 0 until 3) {
          val batch = Seq((6000L + j, Seq.fill(10)(2000f + j), s"it$j"))
            .toDF("id", "vec", "meta")
          current.updateAndGet(_.add(batch))
          current.updateAndGet(_.deleteByIds(Seq(910L + j).toDF("id")))
        }
      } catch { case e: Throwable => errors.add(e); () })
      writer.start()
      val b2 = it.next(5).collect().toSet
      writer.join(120000)
      assert(errors.isEmpty, s"writer failed: ${errors.peek()}")
      // the open iterator's draws equal the uninterleaved reference draws
      assert(b1 === ref1, "batch 1 drifted under concurrent mutation")
      assert(b2 === ref2, "batch 2 drifted under concurrent mutation")
      assert(!b2.exists(_.getLong(2) >= 6000L), "added id leaked into an open iterator")
    } finally it.close()
    // a fresh iterator on the mutated index reflects the new state: the
    // added vectors surface for a query at their grid point, deletes don't
    val fin = current.get()
    val qNew = Seq((0L, Seq.fill(10)(2001f))).toDF("query_id", "qvec")
    val it3 = fin.iterate(qNew, headBatch = 8)
    try {
      val got = it3.next(3).collect().map(_.getLong(2)).toSet
      assert(got.contains(6001L), s"fresh iterator missed the added vector: $got")
      assert(!got.exists(id => id >= 910L && id <= 912L), s"tombstone surfaced: $got")
    } finally it3.close()
  }

  test("parameters flow through the facade (M6)") {
    val idx = freshIndex.setParameter("InternalK", "16")
    assert(idx.getParameter("SearchInternalResultNum") === "16")
  }

  test("every reference registry parameter name sets and round-trips (M6)") {
    // the full macro-registry surface (BKT/KDT/SPANN ParameterDefinitionList.h):
    // an ini written for the reference must be accepted verbatim — typed
    // knobs route, the rest store-and-return (tuning handles or documented
    // no-ops). RepresentStr casing as the reference spells it.
    val referenceSpelled = Seq(
      "TreeFilePath", "GraphFilePath", "VectorFilePath", "DeleteVectorFilePath",
      "EnableBfs", "BKTNumber", "KDTNumber", "TreeNumber", "BKTKmeansK",
      "BKTLeafSize", "Samples", "SamplesNumber", "BKTLambdaFactor",
      "NumTopDimensionKDTSplit", "IsOldVersion", "TPTNumber", "TPTLeafSize",
      "NumTopDimensionTpTreeSplit", "NumTopDimensionTPTSplit",
      "NeighborhoodSize", "GraphNeighborhoodScale", "GraphCEFScale",
      "RefineIterations", "EnableRebuild", "CEF", "AddCEF",
      "MaxCheckForRefineGraph", "RNGFactor", "TPTBalanceFactor",
      "NumberOfThreads", "DistCalcMethod", "DeletePercentageForRefine",
      "AddCountForRebuild", "MaxCheck",
      "ThresholdOfNumberOfContinuousNoBetterPropagation",
      "NumberOfInitialDynamicPivots", "NumberOfOtherDynamicPivots",
      "HashTableExponent", "DataBlockSize", "DataCapacity", "MetaRecordSize",
      "ValueType", "IndexAlgoType", "Dim", "VectorPath", "VectorType",
      "VectorSize", "VectorDelimiter", "QueryPath", "QueryType", "QuerySize",
      "QueryDelimiter", "WarmupPath", "WarmupType", "WarmupSize",
      "WarmupDelimiter", "TruthPath", "TruthType", "GenerateTruth",
      "IndexDirectory", "HeadVectorIDs", "DeletedIDs", "HeadVectors",
      "HeadIndexFolder", "SSDIndex", "DeleteHeadVectors", "SSDIndexFileNum",
      "QuantizerFilePath", "isExecute", "SaveBKT", "AnalyzeOnly", "CalcStd",
      "SelectDynamically", "NoOutput", "SelectThreshold", "SplitFactor",
      "SplitThreshold", "SplitMaxTry", "Ratio", "Count",
      "RecursiveCheckSmallCluster", "PrintSizeCount", "SelectHeadType",
      "BuildSsdIndex", "EnableDeltaEncoding", "EnablePostingListRearrange",
      "EnableDataCompression", "EnableDictTraining",
      "MinDictTrainingBufferSize", "DictBufferCapacity", "ZstdCompressLevel",
      "InternalResultNum", "PostingPageLimit", "ReplicaCount",
      "OutputEmptyReplicaID", "Batches", "TmpDir", "RecallTestSampleNumber",
      "ExcludeHead", "PostingVectorLimit", "SearchResult", "LogFile",
      "QpsLimit", "ResultNum", "TruthResultNum", "HashExponent",
      "QueryCountLimit", "MaxDistRatio", "IOThreadsPerHandler",
      "SearchInternalResultNum", "SearchPostingPageLimit", "Rerank",
      "EnableADC", "RecallAnalysis", "DebugBuildInternalResultNum",
      "IOTimeout", "IterativeSearchHeadBatch",
      "GPUGraphType", "GPURefineSteps", "GPURefineDepth", "GPULeafSize",
      "HeadNumGPUs", "GPUSSDNumTrees", "GPUSSDLeafSize", "NumGPUs")
    val idx = freshIndex
    referenceSpelled.foreach { name =>
      // a default must exist (get on the untouched conf never errors) ...
      val d = idx.getParameter(name)
      assert(d != null, s"$name has no default")
      // ... and setting echoes back (numeric knobs get a numeric value)
      val v = idx.getParameter(name) match {
        case s if s.matches("-?\\d+") => "7"
        case s if s.matches("-?\\d+\\.\\d+") => "7.0"
        case "true" | "false" => "true"
        case _ => idx.getParameter(name) // strings: round-trip the default
      }
      val upd = idx.setParameter(name, v)
      assert(upd.getParameter(name) === v, s"$name did not round-trip")
    }
  }

  test("searchFiltered returns only predicate-passing neighbors (Q4 on the SPANN path)") {
    val idx = freshIndex.build()
    // synthetic metas are the id string: filter to even-id vectors only
    val res = idx.searchFiltered(synthQueries(3), 3,
      col("meta").cast("long") % 2 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(res.nonEmpty)
    assert(res.forall(_._2 % 2 == 0), s"odd id leaked: ${res.mkString(",")}")
    // the exact even-grid match (2·t) must still surface as a hit
    for (t <- 0L until 3L)
      assert(res.filter(_._1 == t).map(_._2).contains(2 * t))
    // deleted ids stay excluded through the filtered path
    val del = idx.deleteByIds(Seq(0L).toDF("id"))
    val res2 = del.searchFiltered(synthQueries(1), 3,
      col("meta").cast("long") % 2 === 0)
      .collect().map(_.getLong(2))
    assert(!res2.contains(0L))
  }

  test("concurrent add/delete/search/save threads see consistent snapshots " +
    "(ConcurrentTest.cpp:14-83)") {
    // the reference hammers one mutable index from four threads; here the
    // facade is immutable, so concurrency = one writer swapping an
    // AtomicReference while reader threads search whatever snapshot they
    // grab. Invariants per search: (a) the exact grid match is always found
    // at distance 0 (its id is never touched by the writer), (b) every
    // returned id belongs to base ∪ added — a torn/blended snapshot would
    // surface as a missing exact hit or an alien id; a save thread mirrors
    // the reference's SaveIndex loop
    import java.util.concurrent.atomic.AtomicReference
    import java.util.concurrent.ConcurrentLinkedQueue
    val idx0 = freshIndex.build()
    val current = new AtomicReference[AnnIndex](idx0)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val validIds = (0L until 1000L).toSet ++ (0 until 5).map(j => 5000L + j)
    val saveDir = Files.createTempDirectory("graft-conc").toString
    def guarded(body: => Unit): Thread = {
      val t = new Thread(() => try body catch { case e: Throwable => errors.add(e); () })
      t.start(); t
    }
    val writer = guarded {
      for (j <- 0 until 5) {
        val batch = Seq((5000L + j, Seq.fill(10)(1500f + j), s"new$j"))
          .toDF("id", "vec", "meta")
        current.updateAndGet(_.add(batch))
        // delete from the 900s — far from the query grid's exact matches
        current.updateAndGet(_.deleteByIds(Seq(900L + j).toDF("id")))
      }
    }
    val readers = (0 until 2).map { _ =>
      guarded {
        for (_ <- 0 until 6) {
          val snap = current.get()
          val res = snap.search(synthQueries(3), 3)
            .select("query_id", "rank", "id", "dist").collect()
          for (t <- 0L until 3L) {
            val top = res.filter(r => r.getLong(0) == t).minBy(_.getInt(1))
            assert(top.getLong(2) == 2 * t && top.getDouble(3) == 0.0,
              s"exact match lost mid-mutation for query $t: $top")
          }
          res.foreach(r => assert(validIds(r.getLong(2)),
            s"alien id ${r.getLong(2)} in a snapshot search"))
        }
      }
    }
    val saver = guarded {
      for (i <- 0 until 2) current.get().save(s"$saveDir/s$i")
    }
    (Seq(writer, saver) ++ readers).foreach(_.join(120000))
    assert(errors.isEmpty, s"concurrent op failed: ${errors.peek()}")
    // terminal state: all five adds and five deletes landed
    val fin = current.get()
    assert(fin.count === 1000L + 5 - 5)
    val qNew = Seq((0L, Seq.fill(10)(1504f))).toDF("query_id", "qvec")
    assert(fin.search(qNew, 1).head().getLong(2) === 5004L)
    val finIds = fin.search(synthQueries(3), 3).select("id")
      .collect().map(_.getLong(0)).toSet
    assert((900L until 905L).forall(d => !finIds(d)))
    // a mid-run save is itself a consistent, loadable index
    val reloaded = AnnIndex.load(spark, s"$saveDir/s1")
    assert(reloaded.search(synthQueries(3), 1).count() === 3)
  }

  test("parseIni/fromIni replay the reference buildconfig.ini (M6)") {
    // verbatim shape of docs/GettingStart.md's SPANN buildconfig.ini
    val ini =
      """; sift1b SPANN build configuration
        |[Base]
        |ValueType=UInt8
        |DistCalcMethod=L2
        |IndexAlgoType=BKT
        |Dim=128
        |IndexDirectory=sift1b
        |
        |[SelectHead]
        |isExecute=true
        |TreeNumber=1
        |BKTKmeansK=32
        |Ratio=0.12
        |NumberOfThreads=45
        |
        |[BuildSSDIndex]
        |isExecute=true
        |InternalResultNum=64
        |ReplicaCount=8
        |PostingPageLimit=3
        |""".stripMargin
    val parsed = GraftConf.parseIni(ini)
    assert(parsed.keySet === Set("base", "selecthead", "buildssdindex"))
    assert(parsed("base")("distcalcmethod") === "L2")
    assert(parsed("selecthead")("ratio") === "0.12")
    val conf = GraftConf.fromIni(ini,
      Seq("Base", "SelectHead", "BuildSSDIndex"))
    // typed knobs routed
    assert(conf.metric === "l2sq")
    assert(conf.headRatio === 0.12)
    assert(conf.replicaCount === 8)
    assert(conf.internalK === 64)
    assert(conf.postingLimit === 3)
    assert(conf.kmeansK === 32)
    // registry names stored with their values; driver-side keys kept verbatim
    assert(conf.get("TreeNumber") === "1")
    assert(conf.extra("valuetype") === "UInt8")
    assert(conf.extra("isexecute") === "true")
    // reference error modes: duplicated section / param, junk line
    intercept[IllegalArgumentException](
      GraftConf.parseIni("[A]\nx=1\n[A]\ny=2"))
    intercept[IllegalArgumentException](
      GraftConf.parseIni("[A]\nx=1\nx=2"))
    intercept[IllegalArgumentException](GraftConf.parseIni("[A]\nnot a pair"))
    // a typed knob with a malformed value still fails loudly
    intercept[NumberFormatException](
      GraftConf.fromIni("[X]\nReplicaCount=eight", Seq("X")))
  }

  test("WideK widening flows through search: results are a recall superset") {
    val fixed = freshIndex.setParameter("InternalK", "2").build()
    val wide = fixed.setParameter("WideK", "8").setParameter("CloseRatio", "4.0")
    assert(wide.getParameter("WideK") === "8")
    val q = synthQueries(5)
    val rFixed = fixed.recall(q, 5)
    val rWide = wide.recall(q, 5)
    assert(rWide >= rFixed,
      s"widened probe must not lower recall ($rFixed -> $rWide)")
  }

  test("rebalance splits/merges postings in place; search stays correct") {
    val idx = freshIndex.build()
    // headRatio 0.02 over 1000 vectors x 4 replicas -> ~200/posting: 150/50
    // forces splits AND merges
    val reb = idx.rebalance(maxLen = 150, minLen = 50, toFixpoint = true)
    val worst = reb.postings.get.groupBy("head_id").count()
      .agg(max("count")).head().getLong(0)
    assert(worst <= 150, s"posting cap violated: $worst")
    val res = reb.search(synthQueries(3), 1).collect()
    for (t <- 0 until 3)
      assert(res.filter(_.getLong(0) == t).head.getLong(2) === 2L * t)
    assert(reb.recall(synthQueries(5), 5) >= 0.8)
  }

  test("full lifecycle: build, save, load, add, rebalance, delete, refine, search") {
    val dir = Files.createTempDirectory("annidx_lifecycle").toString
    val idx = freshIndex.build()
    idx.save(dir)
    var cur = AnnIndex.load(spark, dir)
    cur = cur.add(Seq((6000L, Seq.fill(10)(1600f), "n")).toDF("id", "vec", "meta"))
    cur = cur.rebalance(maxLen = 150, minLen = 50, toFixpoint = true)
    cur = cur.deleteByIds(Seq(0L).toDF("id"))
    if (cur.needRefine) cur = cur.refineIndex()
    // the added vector is findable after rebalance
    val qNew = Seq((0L, Seq.fill(10)(1601f))).toDF("query_id", "qvec")
    assert(cur.search(qNew, 1).head().getLong(2) === 6000L)
    // grid points still resolve to themselves
    val res = cur.search(synthQueries(3), 1).collect()
    for (t <- 1 until 3)
      assert(res.filter(_.getLong(0) == t).head.getLong(2) === 2L * t)
    // the tombstoned vector never surfaces
    val q0 = synthQueries(1)
    assert(!cur.search(q0, 5).collect().map(_.getLong(2)).contains(0L))
    assert(cur.recall(synthQueries(5), 5) >= 0.8)
  }
}
