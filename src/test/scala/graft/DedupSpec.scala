package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the quick brown fox leaps over the lazy dog"), // near dup
    (3L, "completely different text about spark engines and data")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts under min id") {
    val res = Dedup.exact(docs).orderBy("doc_id").collect()
    assert(res.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 3L)))
  }

  test("jaccard finds the near-dup pair, not the unrelated one") {
    val jac = Dedup.jaccard(Dedup.shingles(docs))
      .where(col("jaccard") >= 0.3).collect()
    val pairs = jac.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical → jaccard 1.0
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minhash LSH candidates ⊇ high-jaccard pairs; verified output correct") {
    val res = Dedup.minhashDedup(docs, 0.3).collect()
    val pairs = res.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    val exact = pairs.filter { case (a, b) => (a, b) == (0L, 1L) }
    assert(exact.nonEmpty)
  }

  test("dupBySource: unordered pair normalization, exact counts") {
    val corpus = Seq(
      (0L, "x", "s2"), (1L, "y", "s1"), (2L, "z", "s1"), (3L, "w", "s3")
    ).toDF("doc_id", "text", "source")
    val pairs = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("a", "b")
    val got = Dedup.dupBySource(corpus, pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // (0,1) and (0,2) are s2↔s1 → normalized to (s1, s2); (1,2) within s1
    assert(got === Map(("s1", "s2") -> 2L, ("s1", "s1") -> 1L))
  }

  test("bandingRecall: counts reconcile, ratios exact, identical docs always hit") {
    val r = Dedup.bandingRecall(docs, 0.3).head()
    val (nTrue, nCand, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nTrue >= 1, "fixture must have a >=0.3 pair")
    assert(nHit <= math.min(nTrue, nCand))
    assert(r.getDouble(3) === nHit.toDouble / nTrue)
    assert(r.getDouble(4) === nHit.toDouble / nCand)
    // the exact-dup pair (0,1) shares every shingle → every band agrees →
    // it is always a candidate AND always true, so recall can't be 0
    assert(nHit >= 1)
  }

  test("applyDedupKeepBest keeps the argmax-score member; ties fall to min id") {
    val corpus = Seq(
      (0L, "a"), (1L, "b"), (2L, "c"), // group 0: 1 wins on score
      (3L, "d"), (4L, "e"),            // group 3: score tie → min id 3
      (5L, "f")                        // singleton: kept
    ).toDF("doc_id", "text")
    val groups = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 3L), (5L, 5L))
      .toDF("doc_id", "canon_id")
    val score = when(col("doc_id") === 1L, 9.0)
      .when(col("doc_id") <= 2L, 1.0).otherwise(5.0)
    val kept = Dedup.applyDedupKeepBest(corpus, groups, score)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 5L))
  }

  test("applyDedupKeepBest with a constant score degenerates to applyDedup") {
    val groups = Dedup.canonicalGroups(docs, Dedup.minhashDedup(docs, 0.3))
    val best = Dedup.applyDedupKeepBest(docs, groups, lit(1.0))
      .select("doc_id").as[Long].collect().toSet
    val canon = Dedup.applyDedup(docs, groups)
      .select("doc_id").as[Long].collect().toSet
    assert(best === canon)
  }

  test("prefixJaccardPairs equals brute-force exact Jaccard at the threshold (100% recall)") {
    // real corpus slice: prefix filtering must reproduce the full τ-pair
    // set, not a probabilistic subset
    val corpus = Tables.documents(spark, sf0001)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (tau <- Seq(0.5, 0.8)) {
      val pp = pairSet(Dedup.prefixJaccardPairs(corpus, tau))
      val brute = pairSet(Dedup.jaccard(Dedup.shingles(corpus))
        .where(col("jaccard") >= tau))
      assert(pp === brute, s"tau=$tau: prefix-filtered != brute")
      assert(brute.nonEmpty, s"tau=$tau: fixture has no pairs — test is vacuous")
    }
    // and the filter genuinely prunes: prefix rows < total shingle rows
    val total = Dedup.shingles(corpus).count()
    val sizes = Dedup.shingleArrays(corpus)
      .select(size(col("sharr")).cast("long").as("n"))
      .agg(sum(ceil(col("n") * 0.2) + 1)).as[Long].collect().head
    assert(sizes < total / 2, "tau=0.8 prefixes are not a real reduction")
  }

  test("containment flags a planted subset asymmetrically; direction and exact ratios") {
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    // first 13 words: band 0 collides with the full doc (checked against
    // the md5/M31 chain), so the pair IS an LSH candidate
    val subset = long.split(" ").take(13).mkString(" ")
    val cd = Seq(
      (10L, long),
      (11L, subset),                  // fully contained in 10
      (12L, "unrelated words about completely different things entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentDedup(cd, 0.7)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) === Seq((10L, 11L)))
    val (_, _, inter, contA, contB) = got.head
    // 11 has 11 distinct 3-shingles, all inside 10's 18
    assert(inter === 11L)
    assert(contB === 1.0)            // all of the subset is in the superset
    assert(contA === math.floor(11.0 / 18 * 10000 + 0.5) / 10000) // 0.6111
    // the asymmetry is the point: the symmetric Jaccard of this pair is
    // cont_a (= 11/18), well under the 0.7 bar only containment clears
    assert(contA < 0.7 && contB >= 0.7)
  }

  test("array-form pipeline equals the row-form: shingles, signatures, verify") {
    // richer corpus: the sf0.001 documents table exercises real text
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(200)
    val sigRows = Dedup.minhash(Dedup.shingles(d))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sigArr = Dedup.minhashFromArrays(Dedup.shingleArrays(d))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigArr === sigRows)
    // end-to-end near-dup output identical to the row-form formulation
    val rowForm = Dedup.jaccard(Dedup.shingles(d), Some(Dedup.lshCandidates(
        Dedup.lshBands(Dedup.minhash(Dedup.shingles(d))))))
      .where(col("jaccard") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val arrForm = Dedup.minhashDedup(d, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(arrForm === rowForm)
  }

  test("minhash_sigs expression: edge cases match the array_min(transform) form") {
    // the one-pass expression (r15 perf: replaces 16 interpreted lambda
    // transforms) must mirror array_min's null contract exactly: null
    // elements skipped, empty/all-null input -> null signature slots
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("h32arr", ArrayType(LongType, containsNull = true))))
    val rows = Seq(
      Row(1L, Seq(5L, 99L, 0L, Dedup.M31 - 1L)),
      Row(2L, Seq.empty[Long]),
      Row(3L, Seq(null, 7L)),
      Row(4L, Seq[Any](null, null)),
      // NULL input ARRAY (null-text doc): the lambda form yields an array of
      // 16 NULL slots, not a NULL sig — r16 pins the expression to it
      Row(5L, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        Row(r.get(0), r.get(1))), 2), schema)
    val viaExpr = Dedup.minhashFromArrays(df)
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    val viaLambda = df.select(col("doc_id"),
      array((0 until 16).map(j =>
        array_min(transform(col("h32arr"),
          h => (lit(Dedup.minhashA(j)) * h + lit(Dedup.minhashB(j))) % Dedup.M31))): _*)
        .as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(viaExpr === viaLambda)
    assert(viaExpr(2L).forall(_ == null) && viaExpr(4L).forall(_ == null))
    assert(viaExpr(5L) != null && viaExpr(5L).size == 16 &&
      viaExpr(5L).forall(_ == null), "NULL input array -> 16 NULL slots")
  }

  test("band-bucket skew guard: fixture results unchanged, hot buckets bounded") {
    // at fixture scale no bucket nears the cap → guarded output IDENTICAL
    // to the uncapped form on the q33 corpus shape
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(200)
    val bands = Dedup.lshBands(Dedup.minhash(Dedup.shingles(d)))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Dedup.lshCandidates(bands)) ===
      pairs(Dedup.lshCandidates(bands, maxBucket = Int.MaxValue)),
      "default guard must not change candidates when no bucket is hot")
    // one synthetic hot bucket: 50 docs share (band 0, hash 7); cap at 10 —
    // the stop-bucket guard drops it outright (no quadratic pair space, no
    // representative edges the exact verify would disconnect), keeping only
    // the small bucket's pair
    val hot = (0L until 50L).map(i => (i, 0, 7L)) ++
      Seq((100L, 1, 9L), (101L, 1, 9L)) // plus one small 2-doc bucket
    val hotBands = hot.toDF("doc_id", "band", "band_hash")
    val guarded = pairs(Dedup.lshCandidates(hotBands, maxBucket = 10))
    assert(guarded === Set((100L, 101L)),
      s"hot bucket must drop, small bucket must keep its pair: $guarded")
    // the multi-band recovery the guard's contract relies on: a dup pair
    // whose band-0 bucket is hot still surfaces via its OTHER, normal-sized
    // band bucket
    val recovered = pairs(Dedup.lshCandidates(
      (hot ++ Seq((0L, 1, 11L), (1L, 1, 11L))).toDF("doc_id", "band", "band_hash"),
      maxBucket = 10))
    assert(recovered.contains((0L, 1L)),
      "a dup pair in a hot bucket must be recovered through its other bands")
  }

  test("capped_longs: exact-cap kept, cap+1 dropped, overflow survives merge") {
    import graft.functions.CappedCollectLongs.cappedLongs
    // many single-value rows per key force map-side partial buffers to merge
    val rows = (0L until 5L).map(v => ("at", v)) ++ // exactly cap → kept
      (0L until 6L).map(v => ("over", v)) ++ // cap+1 → NULL → dropped
      Seq(("one", 42L))
    val out = rows.toDF("k", "v").repartition(8)
      .groupBy(col("k")).agg(cappedLongs(col("v"), 5).as("ids"))
      .collect().map(r => r.getString(0) ->
        Option(r.getSeq[Long](1)).map(_.toList)).toMap
    assert(out("at") === Some(List(0L, 1L, 2L, 3L, 4L)), "sorted, complete at cap")
    assert(out("over") === None, "a group past the cap must evaluate to NULL")
    assert(out("one") === Some(List(42L)))
  }

  test("identical docs have identical minhash signature and simhash") {
    val sig = Dedup.minhash(Dedup.shingles(docs)).orderBy("doc_id").collect()
    assert(sig(0).getSeq[Long](1) === sig(1).getSeq[Long](1))
    val sim = Dedup.simhash64(docs).orderBy("doc_id").collect()
    assert(sim(0).getLong(1) === sim(1).getLong(1))
    // near-dup simhash within small hamming distance (one token of nine
    // differs → only boundary-majority bits can flip; 24/64 ≈ the old 6/16)
    val h0 = sim(0).getLong(1); val h2 = sim(2).getLong(1)
    assert(java.lang.Long.bitCount(h0 ^ h2) <= 24)
  }

  test("simhashPairs finds dup pair at hamming 0") {
    val pairs = Dedup.simhashPairs(Dedup.simhash64(docs), 0)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("banded simhashPairs equals the brute-force form on real docs") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(300)
    val sims = Dedup.simhash64(d).cache()
    for (h <- Seq(0, 3, 5)) {
      val banded = Dedup.simhashPairs(sims, h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val brute = Dedup.simhashPairsBrute(sims, h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded === brute, s"maxHamming=$h")
    }
  }

  test("simhashPairs stop-bucket guard bounds the pair count on a skewed corpus") {
    import spark.implicits._
    // 100 clones of one text: every band bucket they share holds 100 docs —
    // a quadratic hot spot. With maxBucket=10 the clone buckets are dropped
    // (no clone-clone pairs survive) while the unrelated near-dup pair
    // (200, 201) rides its own small buckets through untouched
    val clones = (0L until 100L).map(i => (i, "spark shuffles partition data across the cluster"))
    val others = Seq(
      (200L, "the quick brown fox jumps over the lazy dog"),
      (201L, "the quick brown fox jumps over the lazy dog"))
    val sims = Dedup.simhash64((clones ++ others).toDF("doc_id", "text")).cache()
    val guarded = Dedup.simhashPairs(sims, 3, maxBucket = 10)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(guarded.contains((200L, 201L)),
      "small-bucket dup pair must survive the guard")
    assert(!guarded.exists { case (a, b) => a < 100L && b < 100L },
      "hot-bucket clone pairs must be stop-bucketed")
    // unguarded form on the same input pays the quadratic bucket
    val unguarded = Dedup.simhashPairs(sims, 3).select("a", "b").count()
    assert(unguarded >= 100L * 99L / 2)
  }

  test("canonicalGroups labels every doc with its component min id") {
    // chain 0-1, 1-2 plus singleton 3: transitive closure must fold the
    // chain into one group labeled 0 even though (0,2) is not a pair
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("a", "b")
    val res = Dedup.canonicalGroups(docs, pairs).orderBy("doc_id").collect()
    assert(res.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L)))
  }

  test("dedupReport: exact cluster-size histogram; doc totals reconcile") {
    // groups: {0,1,2} (size 3), {3} — from the chain fixture above
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("a", "b")
    val rep = Dedup.dedupReport(Dedup.canonicalGroups(docs, pairs))
      .orderBy("cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rep.toSeq === Seq((1L, 1L, 1L), (3L, 1L, 3L)))
    // n_docs across the histogram always re-sums to the corpus
    assert(rep.map(_._3).sum === docs.count())
  }

  test("canonicalGroups over minhashDedup pairs on real docs") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(200)
    val pairs = Dedup.minhashDedup(d, 0.3).cache()
    val groups = Dedup.canonicalGroups(d, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every doc labeled, labels are component-closed: each pair shares one
    val pr = pairs.select("a", "b").as[(Long, Long)].collect()
    assert(groups.size === d.count())
    pr.foreach { case (a, b) => assert(groups(a) === groups(b), s"pair ($a,$b)") }
    // every label is the min of its member set
    groups.groupBy(_._2).foreach { case (lbl, m) => assert(lbl === m.keys.min) }
  }

  test("incremental dedup equals the full pair set restricted to batch-b pairs") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val split = 60L
    val full = Dedup.minhashDedup(d, 0.3)
      .where(col("b") >= split)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val incr = Dedup.minhashDedupIncremental(
      d.where(col("doc_id") < split), d.where(col("doc_id") >= split), 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr === full)
    assert(incr.nonEmpty, "fixture should contain cross-split near-dups")
    // no corpus-internal pairs: b is always a batch doc
    incr.foreach { case (_, b, _) => assert(b >= split) }
  }

  test("incremental dedup orients cross pairs corpus→batch regardless of id order") {
    // batch ids BELOW the corpus ids: orientation must still be (a=corpus,
    // b=batch), which breaks the a<b convention on purpose
    val corpus = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val batch = Seq(
      (5L, "alpha beta gamma delta epsilon zeta"), // dup of corpus 100
      (6L, "unrelated words entirely here now ok")).toDF("doc_id", "text")
    val got = Dedup.minhashDedupIncremental(corpus, batch, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((100L, 5L)))
  }

  test("stored dedup index probe equals the in-memory incremental form and partition-prunes") {
    import graft.sources.DedupStore
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val split = 60L
    val corpus = d.where(col("doc_id") < split)
    val batch = d.where(col("doc_id") >= split)
    val dir = java.nio.file.Files.createTempDirectory("dedupidx").toString
    DedupStore.save(dir, corpus, bandBuckets = 8)
    val idx = DedupStore.load(spark, dir)
    assert(idx.numHashes === 16 && idx.rowsPerBand === 4 &&
      idx.nGram === 3 && idx.bandBuckets === 8)
    val probe = DedupStore.probe(idx, batch, 0.3)
    val want = Dedup.minhashDedupIncremental(corpus, batch, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = probe
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
    assert(got.nonEmpty)
    // the stored layout must actually be USED: the probe keys the bucket
    // join on the band_bucket partition column → dynamic-pruning subquery
    // (the positive DPP assertion the loaded KDT path has)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"stored probe must partition-prune on band_bucket; plan:\n${plan.take(3000)}")
    // the stop-bucket guard is a scan-time filter on the stored cnt column
    val capped = DedupStore.probe(idx, batch, 0.3, maxBucket = 0)
    assert(capped.collect().forall(r => r.getLong(1) >= split),
      "maxBucket=0 must drop every corpus bucket, leaving only within-batch pairs")
  }

  test("applyDedup keeps exactly the canonical doc of every group") {
    val docs = Seq(0L, 1L, 2L, 3L).toDF("doc_id")
      .withColumn("text", concat(lit("t"), col("doc_id")))
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("a", "b")
    val groups = Dedup.canonicalGroups(docs, pairs)
    val kept = Dedup.applyDedup(docs, groups)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // {0,1,2} collapse to 0; 3 is a singleton
    assert(kept === Seq(0L, 3L))
  }

  test("contamination measures eval overlap; decontaminate drops leaked docs") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // = eval doc → 1.0
      (2L, "completely unrelated text about databases and spark engines"),
      (3L, "the quick brown fox runs through entirely different meadows today")
    ).toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val c = Dedup.contamination(corpus, evalSet)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(c(1L) === 1.0, s"verbatim eval copy must be fully contaminated: $c")
    assert(c(2L) === 0.0, s"unrelated doc must be clean: $c")
    assert(c(3L) > 0.0 && c(3L) < 1.0, s"partial overlap must be fractional: $c")
    // terminal apply: the verbatim copy goes, the clean + partial docs stay
    assert(Dedup.decontaminate(corpus, evalSet, maxOverlap = 0.8)
      .select("doc_id").as[Long].collect().toSet === Set(2L, 3L))
  }

  test("embedding near-dup pairs by cosine") {
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f)),
      (1L, Seq(0.999f, 0.01f, 0f)), // near-dup of 0
      (2L, Seq(0f, 1f, 0f))
    ).toDF("id", "vec")
    val pairs = Dedup.embeddingPairs(emb, 0.01)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("fingerprint is stable and equal for identical docs") {
    val fp = Dedup.fingerprint(docs).orderBy("doc_id").collect()
    assert(fp(0).getLong(1) === fp(1).getLong(1))
    assert(fp(0).getLong(1) !== fp(3).getLong(1))
  }

  test("winnow: the w+k-1 guarantee, density, short-doc clamp, determinism") {
    val k = 8; val w = 4
    // two docs sharing a substring of exactly w+k-1 = 11 chars, embedded in
    // otherwise unrelated text — the winnowing guarantee says they MUST
    // share a fingerprint
    val shared = "GUARANTEE11"
    assert(shared.length === w + k - 1)
    val pair = Seq(
      (1L, s"xxxxxxxxxxxxxxxx${shared}yyyyyyyyyyyyyyyy"),
      (2L, s"aaaaaaaaaaaaaaaa${shared}bbbbbbbbbbbbbbbb"),
      (3L, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnow(pair, k, w).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val f1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val f2 = fps.filter(_._1 == 2L).map(_._2).toSet
    val f3 = fps.filter(_._1 == 3L).map(_._2).toSet
    assert(f1.intersect(f2).nonEmpty, "guarantee: shared 11-char substring")
    assert(f1.intersect(f3).isEmpty && f2.intersect(f3).isEmpty)
    // density: far fewer fingerprints than k-grams, more than q39's one
    val len = 16 + shared.length + 16
    assert(f1.size > 1 && f1.size <= len - k + 1 - (w - 1))
    // short-doc clamp: a doc under k chars still fingerprints (whole text)
    val short = Dedup.winnow(Seq((9L, "tiny")).toDF("doc_id", "text"), k, w)
      .collect()
    assert(short.length === 1)
    // determinism: same text, same fingerprint set
    assert(f1.map(h => h) === Dedup.winnow(pair.where(col("doc_id") === 1), k, w)
      .collect().map(_.getLong(1)).toSet)
  }

  test("winnowOverlap reports the planted near-dup pair and nothing else") {
    val fixture = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (3L, "an entirely different sentence about distributed query processing"))
      .toDF("doc_id", "text")
    val got = Dedup.winnowOverlap(fixture, 8, 4,
      minShared = 2L, maxDf = 64L, minOverlap = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 2L)))
  }

  test("duplicatedSpans localizes the exact shared run (positions + length)") {
    val fixture = Seq(
      (1L, "aa bb cc dd ee ff gg hh ii jj xx yy zz"),
      (2L, "pp qq aa bb cc dd ee ff gg hh ii jj rr"),
      (3L, "totally unrelated words with no overlap at all here"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(fixture, gramLen = 4, minTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // docs 1 and 2 share the verbatim 10-token run "aa..jj": doc1 tokens
    // 1-10, doc2 tokens 3-12 — one maximal island on diagonal -2
    assert(got.toSeq === Seq((1L, 2L, 1L, 3L, 10L)))
    // below the length floor: nothing reported
    assert(Dedup.duplicatedSpans(fixture, gramLen = 4, minTokens = 11)
      .count() === 0)
  }

  test("contaminationSpans: cross-corpus runs only, train side first") {
    val train = Seq(
      (1L, "aa bb cc dd ee ff gg hh ii jj xx yy zz"),
      (4L, "aa bb cc dd ee ff gg hh ii jj xx yy zz"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (2L, "pp qq aa bb cc dd ee ff gg hh ii jj rr"))
      .toDF("doc_id", "text")
    val got = Dedup.contaminationSpans(train, eval, gramLen = 4, minTokens = 8)
      .orderBy("a").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // each TRAIN doc pairs with the eval doc; the identical train pair
    // (1, 4) is NOT reported — only cross-corpus spans
    assert(got.toSeq === Seq((1L, 2L, 1L, 3L, 10L), (4L, 2L, 1L, 3L, 10L)))
  }

  test("noveltyCurve: first period all-new; later periods count only " +
      "genuinely unseen shingles") {
    val d = Seq((0L, 0L, "a b c"), (1L, 1L, "a b c d"), (2L, 2L, "a b c"))
      .toDF("doc_id", "period", "text")
    val got = Dedup.noveltyCurve(d, "period").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // p0: {a b c} new; p1: {a b c, b c d} — one new; p2: nothing new
    assert(got(0L) === ((1L, 1L, 1.0)))
    assert(got(1L) === ((2L, 1L, 0.5)))
    assert(got(2L) === ((1L, 0L, 0.0)))
  }

  test("noveltyScore: unique shingles score 1, cloned docs score 0") {
    val fixture = Seq(
      (1L, "one two three four five"),  // all 3 shingles unique
      (2L, "alpha beta gamma delta"),   // cloned below -> df 2 everywhere
      (3L, "alpha beta gamma delta"),
      (4L, "alpha beta gamma epsilon")  // 1 shared of 2 shingles
    ).toDF("doc_id", "text")
    val r = Dedup.noveltyScore(fixture).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) === ((3L, 3L, 1.0)))
    assert(r(2L) === ((2L, 0L, 0.0)) && r(3L) === r(2L))
    assert(r(4L) === ((2L, 1L, 0.5)))
  }

  test("sourceOverlap counts shared distinct shingles and set Jaccard") {
    val docs = Seq(
      (1L, "one two three four", "a"),   // shingles: {one two three, two three four}
      (2L, "one two three", "b"),        // {one two three}
      (3L, "five six seven eight", "b"), // {five six seven, six seven eight}
      (4L, "nine ten eleven", "c")       // {nine ten eleven}
    ).toDF("doc_id", "text", "source")
    val r = Dedup.sourceOverlap(docs).collect()
      .map(x => (x.getString(0), x.getString(1)) -> (x.getLong(2), x.getDouble(3))).toMap
    // a={2 shingles}, b={3}, shared = {one two three} -> jaccard 1/(2+3-1)
    assert(r(("a", "b")) === ((1L, 0.25)))
    // c shares nothing -> no row at all
    assert(r.size === 1)
  }

  test("chunk dedup canonicalizes identical chunks across documents") {
    // window 4 / stride 4: doc 1 and doc 2 share an identical second chunk
    // ("e f g h"); doc 3 is unique
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y z w e f g h"),
      (3L, "p q r s")
    ).toDF("doc_id", "text")
    val r = Dedup.chunkDedup(docs, window = 4, stride = 4).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> ((x.getLong(2), x.getLong(3), x.getLong(4))))
      .toMap
    // one output row per chunk
    assert(r.size === 5)
    // the shared chunk groups cross-doc, canonical = (1, 1)
    assert(r((1L, 1L)) === ((1L, 1L, 2L)))
    assert(r((2L, 1L)) === ((1L, 1L, 2L)))
    // unique chunks are their own canonicals with copies = 1
    assert(r((1L, 0L)) === ((1L, 0L, 1L)))
    assert(r((2L, 0L)) === ((2L, 0L, 1L)))
    assert(r((3L, 0L)) === ((3L, 0L, 1L)))
  }
}
