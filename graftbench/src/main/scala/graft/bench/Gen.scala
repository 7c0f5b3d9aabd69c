package graft.bench

import java.util.SplittableRandom

/** Seeded input generators. Every stream derives from the run's seed and a
  * fixed salt, so one seed always yields the same inputs.
  */
object Gen {
  private def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** A Gaussian mixture: `clusters` centres drawn N(0, 1) per dimension,
    * points = centre + N(0, spread²). Cluster overlap, and so the recall a
    * fixed probe budget reaches, is set by `spread`.
    */
  final class Mixture(seed: Long, val dim: Int, clusters: Int, spread: Double) {
    private val centres = {
      val r = rng(seed, 1)
      Array.fill(clusters, dim)(r.nextGaussian())
    }
    /** `n` points from an independent stream named by `salt`. */
    def draw(n: Int, salt: Long): Array[Array[Double]] = {
      val r = rng(seed, salt)
      Array.fill(n) {
        val c = centres(r.nextInt(clusters))
        Array.tabulate(dim)(i => c(i) + spread * r.nextGaussian())
      }
    }
  }

  /** Documents of 60–180 word tokens over a `vocab`-word vocabulary with a
    * skewed (squared-uniform) word frequency. Every 10th document seeds a
    * planted cluster: the next two documents are copies of it, each with 5%
    * of its tokens replaced. Returns `(doc_id, text)`.
    */
  def docs(seed: Long, n: Int, vocab: Int): Array[(Long, String)] = {
    val r = rng(seed, 7)
    def word(): String = {
      val u = r.nextDouble()
      "w" + (u * u * vocab).toInt
    }
    val toks = new Array[Array[String]](n)
    var i = 0
    while (i < n) {
      toks(i) = i % 10 match {
        case 1 | 2 =>
          val src = toks(i - i % 10).clone()
          val edits = math.max(1, (src.length * 0.05).round.toInt)
          (0 until edits).foreach(_ => src(r.nextInt(src.length)) = word())
          src
        case _ => Array.fill(60 + r.nextInt(121))(word())
      }
      i += 1
    }
    toks.indices.map(j => (j.toLong, toks(j).mkString(" "))).toArray
  }

  /** Distinct 3-word shingles of a generated text, as graft's tokenizer
    * sees it (its tokens are already lower-case alphanumeric).
    */
  def shingles(text: String): Set[String] = {
    val t = text.split(' ')
    if (t.length < 3) Set(t.mkString(" "))
    else t.sliding(3).map(_.mkString(" ")).toSet
  }

  /** Jaccard of two shingle sets, rounded to 4 places as graft reports it. */
  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    BigDecimal(inter.toDouble / (a.size + b.size - inter))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** A seeded permutation of `0 until n`. */
  def shuffle(seed: Long, salt: Long, n: Int): Array[Int] = {
    val r = rng(seed, salt)
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}
