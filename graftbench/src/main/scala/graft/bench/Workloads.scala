package graft.bench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.AnnIndex
import graft.operators.{Dedup, Knn}

/** One benchmark workload: a set-up step (repeated for the set-up median)
  * and a measured cycle of client calls, driven closed-loop by one thread.
  */
trait Workload {
  /** One set-up repetition; the last one's state is what cycles use. */
  def setup(): Unit
  /** JIT warm-up calls, once after the set-up repetitions. */
  def warmUp(): Unit
  /** One measured cycle; returns its summed call wall time in seconds. */
  def cycle(i: Int): Double
  /** The workload's representative read call, for the traced run. */
  def oneCall(calls: Calls): CallStats
  /** End-to-end metrics of the cycles run so far (all but setup_s). */
  def endToEnd(cycleS: Seq[Double]): Map[String, Double]
  /** Checks made once, after the measured cycles. */
  def finalChecks(): Unit = ()
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "ann_bulk" => new AnnBulk(c)
    case "ann_serve" => new AnnServe(c)
    case "dedup_near" => new DedupNear(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names: Seq[String] = Seq("ann_bulk", "ann_serve", "dedup_near")
}

/** Offline batch retrieval: build an in-memory SPANN index over the corpus,
  * then search the held-out queries in 500-query batches, `BulkPasses`
  * times over.
  */
final class AnnBulk(c: Ctx) extends Workload {
  import Sizes.{Dim, HeadRatio, K, Spread}
  private val z = c.sizes
  var corpus: DataFrame = _
  var batches: Seq[(Seq[Long], DataFrame)] = Nil
  private var truth = Map.empty[Long, Seq[(Int, Long, Double)]]
  val buildS = ArrayBuffer.empty[Double]
  val searchS = ArrayBuffer.empty[Double]
  private val recalls = ArrayBuffer.empty[Double]
  private var queriesSearched = 0L

  def index(): AnnIndex =
    AnnIndex(c.spark, corpus).setParameter("Ratio", HeadRatio)

  def setup(): Unit = {
    Option(corpus).foreach(Frames.release)
    val mix = new Gen.Mixture(c.seed, Dim, z.clusters, Spread)
    val vecs = mix.draw(z.annN, 2)
    val qs = mix.draw(z.annQueries, 3)
    corpus = Frames.corpus(c.spark, (0 until z.annN).map(_.toLong), vecs.toSeq, c.cpus)
    batches = qs.indices.grouped(z.annBatch).map { g =>
      val qids = g.map(_.toLong)
      (qids, Frames.queries(c.spark, qids, g.map(qs(_))))
    }.toSeq
    truth = batches.flatMap { case (_, q) =>
      Frames.ranked(Knn.search(q, corpus, K).collect())
    }.toMap
  }

  def warmUp(): Unit = {
    val idx = index().build()
    batches.foreach { case (_, q) => idx.search(q, K).collect() }
    Frames.release(idx.postings.get)
  }

  def cycle(i: Int): Double = {
    val (idx, tb) = c.calls.timed("AnnIndex.build")(index().build())
    buildS += tb
    var total = tb
    for (_ <- 0 until Sizes.BulkPasses; (qids, q) <- batches) {
      val (rows, ts) = c.calls.timed("AnnIndex.search")(idx.search(q, K).collect())
      searchS += ts
      total += ts
      queriesSearched += qids.size
      val res = Frames.ranked(rows)
      c.checks.ranked("ann_bulk search", res, qids, K)
      qids.foreach(qid => recalls += c.recall(
        res.getOrElse(qid, Nil).map(_._2), truth(qid).map(_._2)))
    }
    Frames.release(idx.postings.get)
    total
  }

  /** Built once, on the first representative call. */
  private lazy val callIndex = index().build()

  def oneCall(calls: Calls): CallStats =
    calls("AnnIndex.search")(callIndex.search(batches.head._2, K).collect())._2

  def endToEnd(cycleS: Seq[Double]): Map[String, Double] = Map(
    "cycle_s" -> Stat.median(cycleS),
    "call_p50_s" -> Stat.median(searchS.toSeq),
    "items_per_s" -> queriesSearched / searchS.sum,
    "result_recall" -> Stat.mean(recalls.toSeq))

  override def finalChecks(): Unit = {
    val idx = index()
    batches.foreach { case (qids, q) =>
      val exact = Frames.ranked(idx.searchExact(q, K).collect())
      c.checks(qids.forall(qid => exact.get(qid).contains(truth(qid))),
        "ann_bulk: searchExact differs from the set-up truth")
    }
    c.checks(Stat.mean(recalls.toSeq) >= Sizes.AnnRecallFloor,
      f"ann_bulk: recall@10 ${Stat.mean(recalls.toSeq)}%.4f below ${Sizes.AnnRecallFloor}")
  }
}

object AnnServe {
  private sealed trait Op
  private final case class Add(ids: Seq[Long], vecs: Seq[Array[Double]]) extends Op
  private final case class Del(ids: Seq[Long], vecs: Seq[Array[Double]]) extends Op
}

/** Disk-served search with writes: load a saved index, then a fixed op
  * sequence — three 16-query searches, an `add` and its read-your-write
  * probe, three searches, a `deleteByIds` and its probe, three searches —
  * and `refineIndex()` at the end.
  */
final class AnnServe(c: Ctx) extends Workload {
  import AnnServe._
  import Sizes.{Dim, HeadRatio, K, SearchesPerWrite, ServeBatch, Spread}
  private val z = c.sizes

  val dir: String = c.workDir.resolve("serve-index").toString
  private var ops: Seq[Op] = Nil
  /** Per state (0 = as loaded, s = after s writes): its search batches. */
  private var stateBatches: Seq[Seq[(Seq[Long], DataFrame)]] = Nil
  private var truth = Map.empty[Long, Seq[(Int, Long, Double)]]
  private var liveAtEnd = 0L

  var saveS = 0.0
  val loadS, searchS, writeVisibleS, addCallS, deleteCallS, probeS, refineS =
    ArrayBuffer.empty[Double]
  val planNodes, filesRead = ArrayBuffer.empty[Double]
  private val recalls = ArrayBuffer.empty[Double]
  private var queriesSearched = 0L

  def setup(): Unit = {
    val spark = c.spark
    val mix = new Gen.Mixture(c.seed, Dim, z.clusters, Spread)
    val base = mix.draw(z.serveN, 11)
    val added = mix.draw(z.addBatch, 12)
    val delIds = Gen.shuffle(c.seed, 15, z.serveN).take(z.deleteBatch).toSeq
    ops = Seq(
      Add(added.indices.map(i => (z.serveN + i).toLong), added.toSeq),
      Del(delIds.map(_.toLong), delIds.map(base(_))))
    val qs = mix.draw((ops.size + 1) * SearchesPerWrite * ServeBatch, 13)
    stateBatches = qs.indices.grouped(ServeBatch).map { g =>
      val qids = g.map(_.toLong)
      (qids, Frames.queries(spark, qids, g.map(qs(_))))
    }.toSeq.grouped(SearchesPerWrite).toSeq

    // build and save the served index
    val corpus = Frames.corpus(spark, (0 until z.serveN).map(_.toLong), base.toSeq, c.cpus)
    val built = AnnIndex(spark, corpus).setParameter("Ratio", HeadRatio).build()
    deleteDir(new java.io.File(dir))
    val t0 = System.nanoTime()
    built.save(dir)
    saveS = (System.nanoTime() - t0) / 1e9
    Frames.release(built.postings.get)

    // exact truth of every state's batches, replaying the op sequence over
    // plain frames: corpus + added batches, minus deleted ids
    var live = corpus
    var liveCount = z.serveN.toLong
    truth = stateBatches.zipWithIndex.flatMap { case (bs, s) =>
      if (s > 0) ops(s - 1) match {
        case Add(ids, vecs) =>
          live = live.unionByName(Frames.batch(spark, ids, vecs))
          liveCount += ids.size
        case Del(ids, _) =>
          live = live.join(Frames.ids(spark, ids), Seq("id"), "left_anti")
          liveCount -= ids.size
      }
      val q = bs.map(_._2).reduce(_ unionByName _)
      Frames.ranked(Knn.search(q, live, K).collect())
    }.toMap
    Frames.release(corpus)
    liveAtEnd = liveCount
  }

  def warmUp(): Unit = {
    val spark = c.spark
    val idx = AnnIndex.load(spark, dir)
    idx.search(stateBatches.head.head._2, K).collect()
    write(idx, ops.head, new Calls(spark.sparkContext, new Tracer(false), None))
    Seq(addCallS, deleteCallS, probeS, planNodes).foreach(_.clear())
  }

  private def deleteDir(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteDir)
    f.delete()
  }

  /** Disk footprint of the saved index, MB. */
  def diskMb: Double = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(size).sum else f.length()
    size(new java.io.File(dir)) / 1e6
  }

  /** Apply one write and its read-your-write probe; returns the new index
    * and the write-to-visible time.
    */
  private def write(idx: AnnIndex, op: Op, calls: Calls): (AnnIndex, Double) =
    calls.tracer.span("ann_serve.write")(writeAndProbe(idx, op, calls))

  private def writeAndProbe(idx: AnnIndex, op: Op, calls: Calls): (AnnIndex, Double) = {
    val spark = c.spark
    val (next, tw) = op match {
      case Add(ids, vecs) =>
        val b = Frames.batch(spark, ids, vecs)
        val r = calls.timed("AnnIndex.add")(idx.add(b))
        addCallS += r._2
        r
      case Del(ids, _) =>
        val r = calls.timed("AnnIndex.deleteByIds")(idx.deleteByIds(Frames.ids(spark, ids)))
        deleteCallS += r._2
        r
    }
    val (probeId, probeVec) = op match {
      case Add(ids, vecs) => (ids.head, vecs.head)
      case Del(ids, vecs) => (ids.head, vecs.head)
    }
    val ((probe, rows), tp) = calls.timed("AnnIndex.search(probe)") {
      val df = next.search(Frames.queries(spark, Seq(0L), Seq(probeVec)), K)
      (df, df.collect())
    }
    probeS += tp
    planNodes += probe.queryExecution.optimizedPlan.collectWithSubqueries { case p => p }.size
    val res = Frames.ranked(rows).getOrElse(0L, Nil)
    op match {
      case _: Add => c.checks(res.headOption.exists(_._2 == probeId),
        s"ann_serve: added id $probeId not at rank 1 of its probe")
      case _: Del => c.checks(!res.exists(_._2 == probeId),
        s"ann_serve: deleted id $probeId still returned by its probe")
    }
    (next, tw + tp)
  }

  def cycle(i: Int): Double = {
    c.calls.tracer.request = s"ann_serve/cycle$i"
    c.calls.tracer.span("ann_serve.cycle")(serveCycle())
  }

  private def serveCycle(): Double = {
    val (loaded, tl) = c.calls.timed("AnnIndex.load")(AnnIndex.load(c.spark, dir))
    loadS += tl
    var total = tl
    var idx = loaded
    val deleted = scala.collection.mutable.Set.empty[Long]
    stateBatches.zipWithIndex.foreach { case (bs, s) =>
      bs.foreach { case (qids, q) =>
        // the search call plans eagerly (it collects the heads), so the
        // frame is built inside the timed call
        val ((df, rows), ts) = c.calls.timed("AnnIndex.search") {
          val df = idx.search(q, K)
          (df, df.collect())
        }
        searchS += ts
        total += ts
        queriesSearched += qids.size
        filesRead += scanFiles(df)
        val res = Frames.ranked(rows)
        c.checks.ranked("ann_serve search", res, qids, K, deleted.contains)
        qids.foreach(qid => recalls += c.recall(
          res.getOrElse(qid, Nil).map(_._2), truth(qid).map(_._2)))
      }
      if (s < ops.size) {
        val (next, tv) = write(idx, ops(s), c.calls)
        ops(s) match {
          case Del(ids, _) => deleted ++= ids
          case _ =>
        }
        writeVisibleS += tv
        total += tv
        idx = next
      }
    }
    val (refined, tr) = c.calls.timed("AnnIndex.refineIndex")(idx.refineIndex())
    refineS += tr
    total += tr
    c.checks(refined.count == liveAtEnd,
      s"ann_serve: live count after refineIndex ${refined.count} != $liveAtEnd")
    Frames.release(refined.postings.get)
    total
  }

  /** Files the search's parquet scans opened (SQL scan metrics). */
  private def scanFiles(df: DataFrame): Double = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum.toDouble
  }

  def oneCall(calls: Calls): CallStats = {
    val idx = AnnIndex.load(c.spark, dir)
    calls("AnnIndex.search")(idx.search(stateBatches.head.head._2, K).collect())._2
  }

  def endToEnd(cycleS: Seq[Double]): Map[String, Double] = Map(
    "cycle_s" -> Stat.median(cycleS),
    "call_p50_s" -> Stat.median(searchS.toSeq),
    "items_per_s" -> queriesSearched / searchS.sum,
    "result_recall" -> Stat.mean(recalls.toSeq))

  override def finalChecks(): Unit =
    c.checks(Stat.mean(recalls.toSeq) >= Sizes.AnnRecallFloor,
      f"ann_serve: recall@10 ${Stat.mean(recalls.toSeq)}%.4f below ${Sizes.AnnRecallFloor}")
}

/** Training-data near-duplicate detection: `Dedup.minhashDedup` over a
  * generated corpus with planted near-duplicate clusters.
  */
final class DedupNear(c: Ctx) extends Workload {
  private val z = c.sizes
  var docs: DataFrame = _
  private var texts: Array[(Long, String)] = Array.empty
  private var exact = Set.empty[(Long, Long)]
  private val shingleCache = scala.collection.mutable.HashMap.empty[Long, Set[String]]
  val callS = ArrayBuffer.empty[Double]
  private val recalls = ArrayBuffer.empty[Double]

  def setup(): Unit = {
    Option(docs).foreach(Frames.release)
    texts = Gen.docs(c.seed, z.docs, Sizes.Vocab)
    shingleCache.clear()
    docs = Frames.docs(c.spark, texts.toSeq, c.cpus)
    exact = Dedup.prefixJaccardPairs(docs, Sizes.DedupThreshold)
      .select(col("a"), col("b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  /** Calls keep getting faster, by about a quarter, over the first several
    * in a JVM (JIT), so the measured ones start after five.
    */
  def warmUp(): Unit =
    (0 until 5).foreach(_ => Dedup.minhashDedup(docs, Sizes.DedupThreshold).collect())

  private def shingles(id: Long): Set[String] =
    shingleCache.getOrElseUpdate(id, Gen.shingles(texts(id.toInt)._2))

  /** Check a pair list against the exact pairs; returns its pair recall. */
  def checkPairs(pairs: Seq[(Long, Long)]): Double = {
    pairs.foreach { case (a, b) =>
      c.checks(exact.contains((a, b)), s"dedup_near: pair ($a, $b) is not an exact pair")
      c.checks(Gen.jaccard(shingles(a), shingles(b)) >= Sizes.DedupThreshold,
        s"dedup_near: pair ($a, $b) re-verifies below ${Sizes.DedupThreshold}")
    }
    if (exact.isEmpty) 1.0 else pairs.toSet.count(exact).toDouble / exact.size
  }

  def cycle(i: Int): Double = {
    val (rows, t) = c.calls.timed("Dedup.minhashDedup")(
      Dedup.minhashDedup(docs, Sizes.DedupThreshold).collect())
    callS += t
    recalls += checkPairs(rows.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSeq)
    t
  }

  def oneCall(calls: Calls): CallStats =
    calls("Dedup.minhashDedup")(Dedup.minhashDedup(docs, Sizes.DedupThreshold).collect())._2

  def endToEnd(cycleS: Seq[Double]): Map[String, Double] = Map(
    "cycle_s" -> Stat.median(cycleS),
    "call_p50_s" -> Stat.median(callS.toSeq),
    "items_per_s" -> z.docs * callS.size / callS.sum,
    "result_recall" -> Stat.mean(recalls.toSeq))

  override def finalChecks(): Unit =
    c.checks(Stat.mean(recalls.toSeq) >= Sizes.DedupRecallFloor,
      f"dedup_near: pair recall ${Stat.mean(recalls.toSeq)}%.4f below ${Sizes.DedupRecallFloor}")

  def exactPairs: Int = exact.size
}
