package graft.bench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The input sizes the self-test shrinks. `Sizes()` is the benchmark. */
final case class Sizes(
    // ann_bulk: corpus and held-out queries from one Gaussian mixture
    annN: Int = 20000,
    clusters: Int = 256,
    annQueries: Int = 2000,
    annBatch: Int = 500,
    // ann_serve: a smaller served corpus, one add batch and one delete batch
    serveN: Int = 5000,
    addBatch: Int = 500,
    deleteBatch: Int = 100,
    // dedup_near
    docs: Int = 6000,
    // set-up repetitions behind the reported setup_s median: the first is
    // cold (JIT, query compilation), the others warm
    setupReps: Int = 2)

object Sizes {
  val K = 10
  val Dim = 128
  /** Per-dimension standard deviation of mixture points around their centre. */
  val Spread = 1.5
  /** SPANN head ratio of both ANN workloads. */
  val HeadRatio = "0.05"
  /** Passes over the query batches per index build in one ann_bulk cycle. */
  val BulkPasses = 2
  /** ann_serve: queries per search, and searches before, between and after
    * the writes.
    */
  val ServeBatch = 16
  val SearchesPerWrite = 3
  val Vocab = 20000
  val DedupThreshold = 0.7
  /** Recall floors of the output check: far below what the default sizes
    * reach, so only a broken search trips them.
    */
  val AnnRecallFloor = 0.8
  val DedupRecallFloor = 0.7
}

/** Pass/fail tally behind `attempted` and `failed`. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def apply(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
    }
    ok
  }

  /** Shape check of one search result: every query has exactly k rows,
    * ranks 1..k, distances ascending, and no id from `banned`.
    */
  def ranked(name: String, res: Map[Long, Seq[(Int, Long, Double)]],
      qids: Seq[Long], k: Int, banned: Long => Boolean = _ => false): Unit =
    qids.foreach { q =>
      val rs = res.getOrElse(q, Nil)
      apply(rs.map(_._1) == (1 to k), s"$name: query $q ranks ${rs.map(_._1)}")
      apply(rs.map(_._3).sliding(2).forall(p => p.size < 2 || p(0) <= p(1)),
        s"$name: query $q distances not ascending")
      apply(!rs.exists(r => banned(r._2)), s"$name: query $q returned a deleted id")
    }
}

/** What one run shares across its workloads. */
final class Ctx(
    val spark: SparkSession,
    val cpus: Int,
    val seed: Long,
    val seconds: Double,
    val workDir: java.nio.file.Path,
    val sizes: Sizes,
    val calls: Calls,
    val checks: Checks) {
  def recall(got: Seq[Long], truth: Seq[Long]): Double =
    if (truth.isEmpty) 1.0 else got.count(truth.toSet).toDouble / truth.size

  /** Run whole cycles until `seconds` have passed (at least one). */
  def measure(cycle: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      cycle(n)
      n += 1
    }
    n
  }
}

object Stat {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = xs.sum / xs.size
}
