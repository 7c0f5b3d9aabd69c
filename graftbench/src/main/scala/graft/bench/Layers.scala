package graft.bench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.functions.{DistKernel, TopKBuffer}
import graft.operators.{Dedup, Mutations, Spann}

/** The traced run's layer passes. Each calls one module's public functions
  * from outside — the stage and step splits the facades fuse — and reads
  * the counts and Spark work of those calls. Metric names are
  * `<layer>.<metric>`.
  */
object Layers {
  import Sizes.K

  /** `DistKernel.scanFlat` at 128-d over 1,000 candidates, k = 10: ns per
    * candidate scanned, after JIT warm-up, median of 15 timed rounds.
    */
  def kernel(seed: Long): Map[String, Double] = {
    val dim = 128
    val n = 1000
    val mix = new Gen.Mixture(seed, dim, 16, 0.6)
    val flat = mix.draw(n, 21).flatten
    val ids = Array.tabulate(n)(_.toLong)
    val qs = mix.draw(64, 22)
    val norms = new Array[Double](n)
    def round(): Double = {
      var sink = 0.0
      qs.foreach { q =>
        val buf = new TopKBuffer(K)
        DistKernel.scanFlat(q, flat, ids, norms, dim, DistKernel.L2, buf)
        sink += buf.dists(0)
      }
      sink
    }
    (0 until 200).foreach(_ => round())
    val perRound = (0 until 15).map { _ =>
      val t0 = System.nanoTime()
      (0 until 20).foreach(_ => round())
      (System.nanoTime() - t0).toDouble / (20L * qs.length * n)
    }
    Map("kernel.l2_ns_per_distance" -> Stat.median(perRound))
  }

  private val candSchema = StructType(Seq(
    StructField("query_id", LongType), StructField("rank", IntegerType),
    StructField("head_id", LongType), StructField("hdist", DoubleType)))

  /** SPANN build split into its three steps, the two-stage search split at
    * the candidates, and the exact search of the same batch, on the
    * ann_bulk corpus.
    */
  def spann(c: Ctx, bulk: AnnBulk): Map[String, Double] =
    c.calls.tracer.span("layer.spann")(spannPass(c, bulk))

  private def spannPass(c: Ctx, bulk: AnnBulk): Map[String, Double] = {
    val spark = c.spark
    val calls = c.calls
    c.calls.tracer.request = "layers/spann"
    val base = bulk.index()
    val conf = base.conf
    val live = Mutations.liveView(base.vectors, base.deleted)
    val n = c.sizes.annN.toDouble
    val everyNth = math.max((1.0 / conf.headRatio).round.toInt, 1)
    val ((h, nHeads), sSel) = calls("Spann.selectHeadsModulo") {
      val h = Spann.selectHeadsModulo(live, everyNth)
      (h, h.count())
    }
    val (raw, sAssign) = calls("Spann.buildPostings")(
      Spann.buildPostings(live, h, conf.replicaCount, conf.metric).localCheckpoint(true))
    val rawRows = raw.count()
    val (trunc, sTrunc) = calls("Spann.truncatePostings")(
      Spann.truncatePostings(raw, conf.postingLimit).localCheckpoint(true))
    val postingRows = trunc.count()
    Frames.release(raw)
    Frames.release(trunc)

    val (idx, sBuild) = calls("AnnIndex.build")(base.build())
    val postings = idx.postings.get
    val memMb = Frames.storageMb(spark, postings)
    val headSize = postings.groupBy(col("head_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val (qids, q) = bulk.batches.head
    val nq = qids.size.toDouble
    val (cand, s1) = calls("Spann.candidateHeads")(
      Spann.candidateHeads(q, idx.heads.get, conf.internalK, conf.maxDistRatio,
        conf.metric, conf.wideK, conf.closeRatio).collect())
    val candDf = spark.createDataFrame(java.util.Arrays.asList(cand.map(r =>
      Row(r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("head_id"),
        r.getAs[Double]("hdist"))).toIndexedSeq: _*), candSchema)
    // the same posting frame the facade searches: tombstones anti-joined
    val livePostings = postings.join(idx.deleted, Seq("id"), "left_anti")
    val (split, s2) = calls("Spann.searchFromCandidates")(
      Spann.searchFromCandidates(candDf, q, livePostings, K, conf.metric).collect())
    val facade = (0 until 3).map(_ => calls("AnnIndex.search")(idx.search(q, K).collect()))
    c.checks(Frames.ranked(split) == Frames.ranked(facade.head._1),
      "spann: candidateHeads + searchFromCandidates differs from AnnIndex.search")
    val facadeS = Stat.median(facade.map(_._2.wallS))
    val probedHeads = cand.map(_.getAs[Long]("head_id"))
    val distances = probedHeads.map(hd => headSize.getOrElse(hd, 0L)).sum.toDouble
    val usefulRows = probedHeads.distinct.map(hd => headSize.getOrElse(hd, 0L)).sum.toDouble

    val (_, sKnn) = calls("Knn.search")(idx.searchExact(q, K).collect())
    Frames.release(postings)

    Map(
      "spann.select_heads_s" -> sSel.wallS,
      "spann.assign_postings_s" -> sAssign.wallS,
      "spann.truncate_postings_s" -> sTrunc.wallS,
      "spann.posting_rows" -> postingRows.toDouble,
      "spann.truncate_kept_ratio" -> postingRows.toDouble / rawRows,
      "spann.assign_cpu_ns_per_distance" -> sAssign.cpuNs / (n * nHeads),
      "spann.stage1_s" -> s1.wallS,
      "spann.stage2_s" -> s2.wallS,
      "spann.facade_search_s" -> facadeS,
      "spann.stage_split_gap_s" -> (s1.wallS + s2.wallS - facadeS),
      "spann.heads_probed_per_query" -> probedHeads.size / nq,
      "spann.distances_per_query" -> distances / nq,
      "spann.stage1_rows_read" -> s1.inputRecords.toDouble,
      "spann.stage2_rows_read" -> s2.inputRecords.toDouble,
      "spann.stage2_useful_ratio" -> usefulRows / math.max(1L, s2.inputRecords),
      "spann.stage2_cpu_ns_per_distance" -> s2.cpuNs / math.max(1.0, distances),
      "knn.exact_call_s" -> sKnn.wallS,
      "knn.cpu_ns_per_distance" -> sKnn.cpuNs / (nq * n),
      "ann.build_s" -> sBuild.wallS,
      "ann.index_mem_mb" -> memMb)
  }

  /** One ann_serve cycle under tracing: store, mutation and refine costs. */
  def serve(c: Ctx, serve: AnnServe): Map[String, Double] = {
    serve.cycle(0)
    Map(
      "store.save_s" -> serve.saveS,
      "store.load_s" -> serve.loadS.head,
      "store.first_search_s" -> serve.searchS.head,
      "store.files_read_per_search" -> Stat.mean(serve.filesRead.toSeq),
      "mutations.add_call_s" -> Stat.median(serve.addCallS.toSeq),
      "mutations.delete_call_s" -> Stat.median(serve.deleteCallS.toSeq),
      "mutations.probe_s" -> Stat.median(serve.probeS.toSeq),
      "mutations.search_plan_nodes" -> Stat.mean(serve.planNodes.toSeq),
      "ann.write_visible_p50_s" -> Stat.median(serve.writeVisibleS.toSeq),
      "ann.refine_s" -> serve.refineS.head,
      "ann.index_disk_mb" -> serve.diskMb)
  }

  /** Bytes a loaded-index search reads, from its attributed task metrics. */
  def serveBytes(c: Ctx, serve: AnnServe): Map[String, Double] = {
    val s = serve.oneCall(c.calls)
    Map("store.bytes_read_per_search" -> s.inputBytes.toDouble)
  }

  /** MinHash dedup split into its steps, as `Dedup.minhashDedup` runs them. */
  def dedup(c: Ctx, dd: DedupNear): Map[String, Double] =
    c.calls.tracer.span("layer.dedup")(dedupPass(c, dd))

  private def dedupPass(c: Ctx, dd: DedupNear): Map[String, Double] = {
    val calls = c.calls
    c.calls.tracer.request = "layers/dedup"
    val th = Sizes.DedupThreshold
    val docs = dd.docs
    val (da, sSh) = calls("Dedup.shingleArrays")(
      Dedup.shingleArrays(docs).localCheckpoint(true))
    val (sigs, sSig) = calls("Dedup.minhashFromArrays")(
      Dedup.minhashFromArrays(da).localCheckpoint(true))
    val (cands, sCand) = calls("Dedup.lshCandidates") {
      val cd = Dedup.lshCandidates(Dedup.lshBands(sigs)).localCheckpoint(true)
      (cd, cd.count())
    }
    val (pairs, sVer) = calls("Dedup.verifiedPairs")(
      Dedup.verifiedPairsGated(cands._1, da, da, th).collect())
    dd.checkPairs(pairs.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSeq)
    Seq(da, sigs, cands._1).foreach(Frames.release)
    Map(
      "dedup.shingle_s" -> sSh.wallS,
      "dedup.signature_s" -> sSig.wallS,
      "dedup.candidates_s" -> sCand.wallS,
      "dedup.verify_s" -> sVer.wallS,
      "dedup.candidate_pairs" -> cands._2.toDouble,
      "dedup.verified_pairs" -> pairs.length.toDouble,
      "dedup.candidate_precision" -> pairs.length.toDouble / math.max(1L, cands._2))
  }

  /** Spark work of the workload's representative call, per call. */
  def spark(c: Ctx, stats: Seq[CallStats]): Map[String, Double] = {
    def per(f: CallStats => Double): Double = Stat.mean(stats.map(f))
    Map(
      "spark.jobs_per_call" -> per(_.jobs.toDouble),
      "spark.tasks_per_call" -> per(_.tasks.toDouble),
      "spark.executor_cpu_s" -> per(_.cpuNs / 1e9),
      "spark.executor_run_s" -> per(_.runMs / 1e3),
      "spark.gc_s" -> per(_.gcMs / 1e3),
      "spark.input_bytes" -> per(_.inputBytes.toDouble),
      "spark.shuffle_write_bytes" -> per(_.shuffleWriteBytes.toDouble),
      "spark.shuffle_read_bytes" -> per(_.shuffleReadBytes.toDouble),
      "spark.spill_bytes" -> per(_.spillBytes.toDouble),
      "spark.driver_s" -> per(_.driverS),
      "spark.core_busy_ratio" -> per(s => s.runMs / 1e3 / (s.wallS * c.cpus)))
  }
}
