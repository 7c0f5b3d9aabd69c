package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Spann
import graft.sources.{CsvStore, IndexStore, LegacyFormats, QueryParser}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_src").toString

  test("DEFAULT binary roundtrip (S1)") {
    val dir = tmp()
    val vecs = (0 until 20).map(i => Array.tabulate(4)(j => i * 10f + j))
    LegacyFormats.writeDefault(s"$dir/v.bin", vecs)
    val got = LegacyFormats.readDefault(spark, s"$dir/v.bin")
      .orderBy("id").collect()
    assert(got.length === 20)
    assert(got(3).getSeq[Float](1) === vecs(3).toSeq)
  }

  test("XVEC roundtrip (S2)") {
    val dir = tmp()
    val vecs = (0 until 7).map(i => Array.tabulate(3)(j => i + j * 0.5f))
    LegacyFormats.writeXvec(s"$dir/v.xvec", vecs)
    val got = LegacyFormats.readXvec(spark, s"$dir/v.xvec").orderBy("id").collect()
    assert(got.length === 7)
    assert(got(6).getSeq[Float](1) === vecs(6).toSeq)
  }

  test("typed DEFAULT/XVEC roundtrips: int8/uint8/int16 widen to float (S1/S2)") {
    val dir = tmp()
    // per-type extreme values (negative for signed, >127 for uint8) so a
    // sign/width bug cannot pass
    val cases = Seq(
      "int8" -> (-128 to 127 by 17).map(_.toFloat),
      "uint8" -> (0 to 255 by 19).map(_.toFloat),
      "int16" -> (-32768 to 32767 by 4099).map(_.toFloat))
    for ((vt, vals) <- cases) {
      val vecs = vals.grouped(4).filter(_.size == 4).map(_.toArray).toSeq
      LegacyFormats.writeDefault(s"$dir/$vt.bin", vecs, vt)
      LegacyFormats.writeXvec(s"$dir/$vt.xvec", vecs, vt)
      val gotD = LegacyFormats.readDefault(spark, s"$dir/$vt.bin", vt)
        .orderBy("id").collect()
      val gotX = LegacyFormats.readXvec(spark, s"$dir/$vt.xvec", vt)
        .orderBy("id").collect()
      assert(gotD.length === vecs.length, vt)
      assert(gotX.length === vecs.length, vt)
      for (i <- vecs.indices) {
        assert(gotD(i).getSeq[Float](1) === vecs(i).toSeq, s"$vt default row $i")
        assert(gotX(i).getSeq[Float](1) === vecs(i).toSeq, s"$vt xvec row $i")
      }
    }
    // float32 remains the default and is unchanged by the valueType plumbing
    val f = Seq(Array(1.5f, -2.25f), Array(3f, 4f))
    LegacyFormats.writeDefault(s"$dir/f.bin", f)
    assert(LegacyFormats.readDefault(spark, s"$dir/f.bin", "float32")
      .orderBy("id").collect()(0).getSeq[Float](1) === Seq(1.5f, -2.25f))
    intercept[RuntimeException] {
      LegacyFormats.readDefault(spark, s"$dir/f.bin", "int4")
    }
  }

  test("TXT roundtrip with metadata (S3)") {
    val dir = tmp()
    val rows = (0 until 5).map(i => (s"meta$i", Array(i.toFloat, i + 0.5f)))
    LegacyFormats.writeTxt(s"$dir/v.txt", rows)
    val got = LegacyFormats.readTxt(spark, s"$dir/v.txt").orderBy("id").collect()
    assert(got.length === 5)
    assert(got(2).getString(2) === "meta2")
    assert(got(2).getSeq[Float](1) === Seq(2f, 2.5f))
  }

  test("truth XVEC + TXT roundtrips (S5)") {
    val dir = tmp()
    val truth = Seq(Seq(3, 1, 4), Seq(1, 5, 9), Seq(2, 6, 5))
    LegacyFormats.writeTruthXvec(s"$dir/t.ivecs", truth)
    val xv = LegacyFormats.readTruthXvec(spark, s"$dir/t.ivecs")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    LegacyFormats.writeTruthTxt(s"$dir/t.txt", truth)
    val tx = LegacyFormats.readTruthTxt(spark, s"$dir/t.txt")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val expect = for {
      (t, qi) <- truth.zipWithIndex
      (id, r) <- t.zipWithIndex
    } yield (qi.toLong, r + 1, id.toLong)
    assert(xv.toSeq === expect)
    assert(tx.toSeq === expect)
  }

  test("truth XVEC numbers queries globally across sharded files (S5)") {
    val dir = tmp()
    LegacyFormats.writeTruthXvec(s"$dir/a.ivecs", Seq(Seq(1, 2), Seq(3, 4)))
    LegacyFormats.writeTruthXvec(s"$dir/b.ivecs", Seq(Seq(5, 6)))
    val got = LegacyFormats.readTruthXvec(spark, s"$dir/*.ivecs")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      (0L, 1, 1L), (0L, 2, 2L), (1L, 1, 3L), (1L, 2, 4L),
      (2L, 1, 5L), (2L, 2, 6L)))
  }

  test("index save/load roundtrip preserves search results (S6)") {
    val dir = tmp()
    val corpus = synthVectors(300).select("id", "vec")
    val heads = Spann.selectHeadsModulo(corpus, 30)
    val postings = Spann.buildPostings(corpus, heads, 2)
    val cfg = IndexStore.IndexConfig("l2sq", 10, 2, 16)
    IndexStore.save(dir, heads, postings, Some(Seq(5L).toDF("id")), cfg)

    val loaded = IndexStore.load(spark, dir)
    assert(loaded.config === cfg)
    assert(loaded.deletes.get.as[Long].collect().toSeq === Seq(5L))
    val q = Seq((0L, Seq.fill(10)(42f))).toDF("query_id", "qvec")
    val before = Spann.searchTwoStage(q, heads, postings, 5, 4).collect().toSeq
    val after = Spann.searchTwoStage(q, loaded.heads,
      loaded.postings.drop("head_bucket"), 5, 4).collect().toSeq
    assert(before === after)
  }

  test("re-save without deletes clears a prior save's tombstones (S6)") {
    val dir = tmp()
    val corpus = synthVectors(120).select("id", "vec")
    val heads = Spann.selectHeadsModulo(corpus, 30)
    val postings = Spann.buildPostings(corpus, heads, 2)
    val cfg = IndexStore.IndexConfig("l2sq", 10, 2, 8)
    IndexStore.save(dir, heads, postings, Some(Seq(5L, 7L).toDF("id")), cfg)
    assert(IndexStore.load(spark, dir).deletes.isDefined)
    // second save into the SAME directory, deletes dropped: the loaded index
    // must carry ZERO tombstones, not the first save's leftovers
    IndexStore.save(dir, heads, postings, None, cfg)
    assert(IndexStore.load(spark, dir).deletes.isEmpty)
  }

  test("meta + quantizer round-trip; loaded codebooks serve ADC (S6/Q11)") {
    import graft.functions.PQ
    val dir = tmp()
    val corpus = synthVectors(200).select("id", "vec")
    val meta = corpus.select(col("id"), concat(lit("m"), col("id")).as("meta"))
    val heads = Spann.selectHeadsModulo(corpus, 40)
    val postings = Spann.buildPostings(corpus, heads, 2)
    val cb = PQ.train(corpus, dim = 10, m = 2, k = 8, maxIter = 2)
    val ident = Array.tabulate(10, 10)((i, j) => if (i == j) 1.0 else 0.0)
    IndexStore.save(dir, heads, postings, None,
      IndexStore.IndexConfig("l2sq", 10, 2, 8),
      meta = Some(meta), quantizer = Some(PQ.RotatedCodebooks(ident, cb)))
    val loaded = IndexStore.load(spark, dir)
    // meta table survives
    assert(loaded.meta.get.orderBy("id").collect().toSeq ===
      meta.orderBy("id").collect().toSeq)
    // codebooks survive bit-for-bit and serve ADC identically
    val lcb = loaded.quantizer.get.cb
    assert(lcb.m === cb.m && lcb.k === cb.k && lcb.dsub === cb.dsub)
    assert(lcb.centers.map(_.map(_.toSeq).toSeq).toSeq ===
      cb.centers.map(_.map(_.toSeq).toSeq).toSeq)
    val q = Seq((0L, Seq.fill(10)(42.0))).toDF("query_id", "qvec")
    val quant = PQ.quantize(corpus, cb).select(col("id"), col("codes"))
    assert(PQ.adcSearch(q, quant, lcb, 5).collect().toSeq ===
      PQ.adcSearch(q, quant, cb, 5).collect().toSeq)
    // stored CODES round-trip: save again with the quantized corpus attached;
    // the loaded table must carry every (id, codes) row bit-identically
    IndexStore.save(dir, heads, postings, None,
      IndexStore.IndexConfig("l2sq", 10, 2, 8),
      meta = Some(meta), quantizer = Some(PQ.RotatedCodebooks(ident, cb)),
      codes = Some(quant))
    val withCodes = IndexStore.load(spark, dir)
    assert(withCodes.codes.isDefined, "codes artifact missing after save")
    assert(withCodes.codes.get.orderBy("id").collect().map(r =>
        (r.getLong(0), r.getSeq[Int](1))).toSeq ===
      quant.orderBy("id").collect().map(r =>
        (r.getLong(0), r.getSeq[Int](1))).toSeq)
    // identity rotation is not materialized; loaded quantizer rebuilds it
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/rotation")))
    assert(loaded.quantizer.get.rotation.map(_.toSeq).toSeq === ident.map(_.toSeq).toSeq)
    // an OPQ rotation IS materialized and survives
    val rot = Array.tabulate(10, 10)((i, j) => if ((i + 1) % 10 == j) 1.0 else 0.0)
    IndexStore.save(dir, heads, postings, None,
      IndexStore.IndexConfig("l2sq", 10, 2, 8),
      quantizer = Some(PQ.RotatedCodebooks(rot, cb)))
    val loaded2 = IndexStore.load(spark, dir)
    assert(loaded2.quantizer.get.rotation.map(_.toSeq).toSeq === rot.map(_.toSeq).toSeq)
    // and the meta artifact from the FIRST save was cleared by the second
    assert(loaded2.meta.isEmpty)
  }

  test("legacy quantizer blob roundtrip; IndexStore.load accepts it (S6/Q11)") {
    import graft.functions.PQ
    val dir = tmp()
    val corpus = synthVectors(200).select("id", "vec")
    val cb = PQ.train(corpus, dim = 10, m = 2, k = 8, maxIter = 2)
    val ident = Array.tabulate(10, 10)((i, j) => if (i == j) 1.0 else 0.0)
    // plain PQ: type byte 1, no rotation payload
    LegacyFormats.writeQuantizer(s"$dir/q_pq.bin", PQ.RotatedCodebooks(ident, cb))
    val rpq = LegacyFormats.readQuantizer(s"$dir/q_pq.bin")
    assert(rpq.cb.m === 2 && rpq.cb.k === 8 && rpq.cb.dsub === 5)
    // float32 on disk (the reference layout): the roundtrip reproduces the
    // float-rounded centers exactly
    assert(rpq.cb.centers.flatten.flatten.toSeq ===
      cb.centers.flatten.flatten.map(x => x.toFloat.toDouble).toSeq)
    assert(rpq.rotation.map(_.toSeq).toSeq === ident.map(_.toSeq).toSeq)
    // OPQ: the rotation rides in the blob after the codebooks
    val rot = Array.tabulate(10, 10)((i, j) => if ((i + 1) % 10 == j) 1.0 else 0.0)
    LegacyFormats.writeQuantizer(s"$dir/q_opq.bin", PQ.RotatedCodebooks(rot, cb))
    val ropq = LegacyFormats.readQuantizer(s"$dir/q_opq.bin")
    assert(ropq.rotation.map(_.toSeq).toSeq === rot.map(_.toSeq).toSeq)
    assert(ropq.cb.centers.flatten.flatten.toSeq === rpq.cb.centers.flatten.flatten.toSeq)
    // a reference-layout quantizer.bin dropped into a save WITHOUT parquet
    // codebooks is picked up by load — migrated indexes serve ADC directly
    val heads = Spann.selectHeadsModulo(corpus, 40)
    IndexStore.save(dir, heads, Spann.buildPostings(corpus, heads, 2), None,
      IndexStore.IndexConfig("l2sq", 10, 2, 8))
    LegacyFormats.writeQuantizer(s"$dir/quantizer.bin", PQ.RotatedCodebooks(rot, cb))
    val loaded = IndexStore.load(spark, dir)
    assert(loaded.quantizer.isDefined, "legacy quantizer.bin not picked up")
    assert(loaded.quantizer.get.rotation.map(_.toSeq).toSeq === rot.map(_.toSeq).toSeq)
  }

  test("posting store partition pruning kicks in on head_bucket (S6/B9)") {
    val dir = tmp()
    val corpus = synthVectors(300).select("id", "vec")
    val heads = Spann.selectHeadsModulo(corpus, 30)
    IndexStore.save(dir, heads, Spann.buildPostings(corpus, heads, 2), None,
      IndexStore.IndexConfig("l2sq", 10, 2, 4))
    val loaded = IndexStore.load(spark, dir)
    val pruned = IndexStore.pruneToHeads(
      loaded.postings, Some(loaded.config.headBuckets), Seq(30L, 60L))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || pruned.rdd.getNumPartitions <= loaded.postings.rdd.getNumPartitions)
    assert(pruned.select("head_id").distinct().as[Long].collect().toSet === Set(30L, 60L))
  }

  test("loaded-index search prunes posting partitions (S6/Q5)") {
    // selective posting reads: stage-2 collects the stage-1 candidates, so
    // the posting scan carries a STATIC head_bucket IN (…) partition filter
    // naming only the candidates' buckets
    def staticBucketFilter(plan: String): Boolean =
      "PartitionFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(plan).map(_.group(1))
        .exists(f => f.contains("head_bucket") && !f.toLowerCase.contains("dynamicpruning") &&
          (f.contains(" IN (") || f.contains(" INSET ")))
    val dir = tmp()
    val corpus = synthVectors(300).select("id", "vec")
    val idx = AnnIndex(spark, corpus,
      GraftConf(headRatio = 1.0 / 30, replicaCount = 2, internalK = 2, headBuckets = 8))
      .build().trainQuantizer(m = 2, k = 8, maxIter = 2)
    idx.save(dir)
    val loaded = AnnIndex.load(spark, dir)
    val q = Seq((0L, Seq.fill(10)(42f)), (1L, Seq.fill(10)(250f)))
      .toDF("query_id", "qvec").where(col("query_id") >= 0)
    val res = loaded.search(q, 3)
    val plan = res.queryExecution.executedPlan.toString
    assert(staticBucketFilter(plan),
      s"no static head_bucket partition filter in loaded-index search plan:\n$plan")
    // and pruning must not change results vs the in-memory index
    assert(res.orderBy("query_id", "rank").collect().toSeq ===
      idx.search(q, 3).orderBy("query_id", "rank").collect().toSeq)
    // the COMPRESSED serving path prunes the same way: codes ride inside the
    // bucketed posting rows, so stage-2 ADC scans only the candidate buckets
    // — and never re-quantizes (no codes-table join in the plan either)
    val adc = loaded.searchAdc(q, 3)
    val adcPlan = adc.queryExecution.executedPlan.toString
    assert(staticBucketFilter(adcPlan),
      s"no static head_bucket partition filter in loaded-index ADC plan:\n$adcPlan")
    assert(adc.orderBy("query_id", "rank").collect().toSeq ===
      idx.searchAdc(q, 3).orderBy("query_id", "rank").collect().toSeq)
    // bucketed AND filtered: the semi-join runs over the pruned scan
    val pass = col("id") % 3 =!= 0
    val filtered = loaded.searchFiltered(q, 3, pass)
    val filteredPlan = filtered.queryExecution.executedPlan.toString
    assert(staticBucketFilter(filteredPlan),
      s"no static head_bucket partition filter in loaded-index filtered plan:\n$filteredPlan")
    val filteredRows = filtered.orderBy("query_id", "rank").collect().toSeq
    assert(filteredRows.nonEmpty && filteredRows.forall(_.getLong(2) % 3 != 0))
    assert(filteredRows ===
      idx.searchFiltered(q, 3, pass).orderBy("query_id", "rank").collect().toSeq)
  }

  test("query parser extracts options, vector, base64 (S7)") {
    val df = Seq(
      (1L, "$k:5$index:main|1|2|3"),
      (2L, "|4|5|6"),
      (3L, "$k:7#aGVsbG8=")
    ).toDF("query_id", "query")
    val parsed = QueryParser.parse(df).orderBy("query_id").collect()
    assert(parsed(0).getInt(1) === 5)
    assert(parsed(0).getString(2) === "main")
    assert(parsed(0).getSeq[Float](3) === Seq(1f, 2f, 3f))
    assert(parsed(1).getInt(1) === 10) // default k
    assert(parsed(1).getString(2) === null)
    assert(parsed(1).getSeq[Float](3) === Seq(4f, 5f, 6f))
    val payload = df.where($"query_id" === 3)
      .select(QueryParser.base64Payload($"query")).head().getAs[Array[Byte]](0)
    assert(new String(payload, "UTF-8") === "hello")
  }

  test("GraftExtensions registers SQL distance functions") {
    // the shared test session was built withExtensions(new GraftExtensions)
    val r = spark.sql(
      "SELECT dist_l2sq(array(0.0D, 0.0D), array(3.0D, 4.0D)) AS d").head().getDouble(0)
    assert(r === 25.0)
    // late registration path for sessions created without extensions
    val s2 = spark.newSession()
    GraftExtensions.register(s2)
    assert(s2.sql("SELECT dist_cos(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS d")
      .head().getDouble(0) === 1.0)
  }

  test("GraftConf parameter registry set/get (M6)") {
    val c = GraftConf().set("DistCalcMethod", "Cosine").set("ReplicaCount", "6")
    assert(c.metric === "cos")
    assert(c.get("replicacount") === "6")
    assert(GraftConf.fromParams(Map("k" -> "20")).resultK === 20)
    intercept[RuntimeException](c.set("bogus", "1"))
  }

  test("versioned publish: atomic pointer flip, old version stays intact, vacuum keeps current") {
    val root = tmp()
    val corpus = synthVectors(120).select("id", "vec")
    val heads = Spann.selectHeadsModulo(corpus, 12)
    val cfg = IndexStore.IndexConfig("l2sq", 10, 2, 16)
    // v1: postings with 2 replicas; v2 (the "rebuild"): 1 replica
    IndexStore.save(IndexStore.versionDir(root, 1), heads,
      Spann.buildPostings(corpus, heads, 2), None, cfg)
    assert(IndexStore.currentVersion(root).isEmpty)
    intercept[IllegalArgumentException](IndexStore.publish(root, 9)) // unsaved
    IndexStore.publish(root, 1)
    assert(IndexStore.currentVersion(root) === Some(1L))
    val v1Rows = IndexStore.loadCurrent(spark, root).postings.count()

    IndexStore.save(IndexStore.versionDir(root, 2), heads,
      Spann.buildPostings(corpus, heads, 1), None, cfg)
    // not yet published: readers still resolve v1
    assert(IndexStore.loadCurrent(spark, root).postings.count() === v1Rows)
    IndexStore.publish(root, 2)
    val v2Rows = IndexStore.loadCurrent(spark, root).postings.count()
    assert(v2Rows < v1Rows, "v2 (1 replica) should be smaller than v1 (2)")
    // the old version's artifacts are untouched by the flip
    assert(IndexStore.load(spark, IndexStore.versionDir(root, 1))
      .postings.count() === v1Rows)

    assert(IndexStore.vacuumVersions(root, keep = 1) === Seq(1L))
    assert(!new java.io.File(IndexStore.versionDir(root, 1)).exists())
    assert(IndexStore.loadCurrent(spark, root).postings.count() === v2Rows)
    // vacuum never removes the published version
    assert(IndexStore.vacuumVersions(root, keep = 1) === Seq.empty)
  }

  test("ZOrderStore: probes on EITHER dimension equal plain filters and prune partitions") {
    import org.apache.spark.sql.functions._
    val dir = tmp()
    val orders = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    graft.sources.ZOrderStore.save(dir, orders,
      "o_totalprice", "o_custkey", 2000.0, bits = 8, prefixBits = 8)
    val idx = graft.sources.ZOrderStore.load(spark, dir)

    val px = graft.sources.ZOrderStore.probeX(idx, "o_totalprice", 10000.0, 30000.0)
    val expX = orders.where(col("o_totalprice") >= 10000.0 &&
      col("o_totalprice") < 30000.0)
    assert(px.exceptAll(expX).count() === 0 && expX.exceptAll(px).count() === 0)
    assert(expX.count() > 0)

    val py = graft.sources.ZOrderStore.probeY(idx, "o_custkey", 7L)
    val expY = orders.where(col("o_custkey") === 7L)
    assert(py.exceptAll(expY).count() === 0 && expY.exceptAll(py).count() === 0)

    // the pruning is real on BOTH probes: the zbucket IN-list reaches the
    // scan as a static PartitionFilter, and each cover is a strict subset
    // of the quadrant space (the y-probe is the case x-partitioning cannot
    // prune)
    assert(px.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [zbucket"), "x-probe: no partition filter")
    assert(py.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [zbucket"), "y-probe: no partition filter")
    val dirs = new java.io.File(s"$dir/rows").listFiles()
      .count(_.getName.startsWith("zbucket="))
    assert(graft.sources.ZOrderStore.coverX(idx, 10000.0, 30000.0).size < dirs,
      "x-cover is not a strict subset of the written quadrants")
    assert(graft.sources.ZOrderStore.coverY(idx, 7L).size < dirs,
      "y-cover is not a strict subset of the written quadrants")
  }

  test("ZOrderStore: negative x clamps into the grid — probes still see the rows") {
    import org.apache.spark.sql.functions._
    // r9 advice: save-time quantization clamped only the UPPER bound, so a
    // negative x Morton-shifted into a bucket outside every probe cover and
    // its rows silently vanished from exact-match probes
    val dir = tmp()
    import spark.implicits._
    val rows = Seq((-500.0, 3L), (-0.01, 4L), (100.0, 3L), (900.0, 5L))
      .toDF("x", "y")
    graft.sources.ZOrderStore.save(dir, rows, "x", "y", 4.0, bits = 8, prefixBits = 8)
    val idx = graft.sources.ZOrderStore.load(spark, dir)
    // x-range probe straddling 0 finds the negative row (exact predicate wins)
    val px = graft.sources.ZOrderStore.probeX(idx, "x", -600.0, 200.0)
    assert(px.count() === 3, px.collect().mkString(", "))
    // y probe finds BOTH y=3 rows, including the negative-x one
    val py = graft.sources.ZOrderStore.probeY(idx, "y", 3L)
    assert(py.count() === 2, py.collect().mkString(", "))
  }

  test("CsvStore round-trip: RFC-4180 escaping, nulls, and types survive") {
    val dir = tmp() + "/csv"
    val df = Seq(
      (1L, """he said "hi", twice""", Some(1.5)),
      (2L, "plain text", None),
      (3L, "", Some(-0.25)), // empty string, not null
      (4L, "comma, semicolon; quote\" mix", Some(1e-9)),
      (5L, "first line\nsecond line", Some(2.0)) // RFC-4180 quoted newline
    ).toDF("id", "s", "x")
    val back = CsvStore.roundTrip(df, dir).orderBy("id")
    val a = df.orderBy("id").collect().toSeq
    val b = back.collect().toSeq
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(b === a, s"round-trip drift:\n$a\nvs\n$b")
  }

  test("JsonlStore round-trip: JSON escaping, nulls, and types survive; " +
    "audited read routes malformed lines; ingestAudit counts both") {
    import graft.sources.JsonlStore
    val dir = tmp() + "/jsonl"
    val df = Seq(
      (1L, """he said "hi" {with: braces}""", Some(1.5)),
      (2L, "plain text", None),
      (3L, "", Some(-0.25)),
      (4L, "backslash \\ and tab\tand unicode ¤", Some(1e-9)),
      (5L, "first line\nsecond line", Some(2.0)) // JSON-escaped newline
    ).toDF("id", "s", "x")
    val back = JsonlStore.roundTrip(df, dir).orderBy("id")
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().toSeq === df.orderBy("id").collect().toSeq)
    // JSONL stays line-splittable: one record per physical line
    assert(spark.read.text(dir).count() === 5)

    // dirty dump: good lines + malformed ones
    val mixed = tmp() + "/jsonl_mixed"
    spark.read.text(dir)
      .unionByName(Seq("{\"id\": 6, \"s\": unterminated",
        "not json at all").toDF("value"))
      .write.mode("overwrite").text(mixed)
    // full-frame collect: Spark forbids file-scan queries whose referenced
    // columns prune down to ONLY the corrupt-record column (e.g.
    // `.where(_corrupt.isNull).count()`), which is exactly why ingestAudit
    // goes through from_json — asserted below
    val auditedRows = JsonlStore.loadAudited(spark, mixed, df.schema).collect()
    assert(auditedRows.count(_.getAs[String]("_corrupt") == null) === 5)
    assert(auditedRows.count(_.getAs[String]("_corrupt") != null) === 2)
    // good rows parse with their values intact through the audited path
    assert(auditedRows.filter(_.getAs[String]("_corrupt") == null)
      .find(_.getAs[Long]("id") == 1L).get
      .getAs[String]("s") === """he said "hi" {with: braces}""")
    val counts = JsonlStore.ingestAudit(spark, mixed, df.schema)
      .orderBy("verdict").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(counts === Seq(("corrupt", 2L), ("good", 5L)))
    // strict load refuses the dirty dump outright
    intercept[Exception] {
      JsonlStore.load(spark, mixed, df.schema).count()
    }
  }
}
