package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** graft's benchmark. One run = one workload, one seed:
  *
  * {{{
  * graft.bench.Main --workload <ann_bulk|ann_serve|dedup_near> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> [--record <file>]
  * }}}
  *
  * `--trace 0` sets the workload up `setupReps` times, warms it up once,
  * then runs measured cycles for `--seconds` and prints the end-to-end
  * metrics. `--trace 1` is
  * the separate traced run: it sets up every workload once, runs each
  * layer's pass with spans and Spark-listener attribution, and prints the
  * per-layer metrics. Either way the last stdout line is
  * `{"correct", "attempted", "failed", "metrics"}`; the full record with
  * provenance goes to `--record`. Exit code 1 on any failed output check.
  */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cycle_s" -> "s", "call_p50_s" -> "s",
    "items_per_s" -> "1/s", "result_recall" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "spann.select_heads_s" -> "s", "spann.assign_postings_s" -> "s",
    "spann.truncate_postings_s" -> "s", "spann.posting_rows" -> "count",
    "spann.truncate_kept_ratio" -> "ratio", "spann.stage1_s" -> "s",
    "spann.stage2_s" -> "s", "spann.facade_search_s" -> "s",
    "spann.stage_split_gap_s" -> "s", "spann.heads_probed_per_query" -> "count",
    "spann.distances_per_query" -> "count", "spann.stage1_rows_read" -> "count",
    "spann.stage2_rows_read" -> "count", "spann.stage2_useful_ratio" -> "ratio",
    "kernel.l2_ns_per_distance" -> "ns", "spann.stage2_cpu_ns_per_distance" -> "ns",
    "spann.assign_cpu_ns_per_distance" -> "ns", "knn.cpu_ns_per_distance" -> "ns",
    "knn.exact_call_s" -> "s",
    "store.save_s" -> "s", "store.load_s" -> "s", "store.first_search_s" -> "s",
    "store.files_read_per_search" -> "count", "store.bytes_read_per_search" -> "bytes",
    "mutations.add_call_s" -> "s", "mutations.delete_call_s" -> "s",
    "mutations.probe_s" -> "s", "mutations.search_plan_nodes" -> "count",
    "dedup.shingle_s" -> "s", "dedup.signature_s" -> "s", "dedup.candidates_s" -> "s",
    "dedup.verify_s" -> "s", "dedup.candidate_pairs" -> "count",
    "dedup.verified_pairs" -> "count", "dedup.candidate_precision" -> "ratio",
    "spark.jobs_per_call" -> "count", "spark.tasks_per_call" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.input_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.driver_s" -> "s", "spark.core_busy_ratio" -> "ratio",
    "ann.build_s" -> "s", "ann.refine_s" -> "s", "ann.write_visible_p50_s" -> "s",
    "ann.index_mem_mb" -> "MB", "ann.index_disk_mb" -> "MB",
    "trace.overhead_s" -> "s", "trace.spans" -> "count")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, record: Option[Path])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      Paths.get(need("work")).toAbsolutePath, m.get("record").map(Paths.get(_)))
    require(Workload.names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  /** (steal, total) jiffies over all CPUs, from the kernel's counters. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split(" ").take(3).mkString(" ")
    catch { case _: java.io.IOException => "" }

  def session(cpus: Int, work: Path): SparkSession = {
    val b = GraftSession.configure(SparkSession.builder(), cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .appName("graftbench")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val loadBefore = loadavg()
    val jiffiesBefore = cpuJiffies()
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(cpus, a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val checks = new Checks
    val listener = new CallListener
    val calls = new Calls(spark.sparkContext, new Tracer(a.trace),
      if (a.trace) Some(listener) else None)
    val ctx = new Ctx(spark, cpus, a.seed, a.seconds, a.work, Sizes(), calls, checks)
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val extra = ArrayBuffer.empty[(String, String)]
    var error: Option[Throwable] = None
    try {
      if (!a.trace) {
        val w = Workload(a.workload, ctx)
        val reps = (0 until ctx.sizes.setupReps).map { _ =>
          val s0 = System.nanoTime()
          w.setup()
          (System.nanoTime() - s0) / 1e9
        }
        val w0 = System.nanoTime()
        w.warmUp()
        val warmS = (System.nanoTime() - w0) / 1e9
        metrics("setup_s") = sessionS + Stat.median(reps) + warmS
        val cycles = ArrayBuffer.empty[Double]
        val n = ctx.measure(i => cycles += w.cycle(i))
        w.finalChecks()
        metrics ++= w.endToEnd(cycles.toSeq)
        extra += "cycles" -> n.toString
        extra += "setup_reps_s" -> reps.map(Json.num).mkString("[", ",", "]")
        extra += "session_s" -> Json.num(sessionS)
        extra += "warm_up_s" -> Json.num(warmS)
      } else {
        val ws = Workload.names.map(n => n -> Workload(n, ctx)).toMap
        Workload.names.foreach { n => ws(n).setup(); ws(n).warmUp() }
        val own = ws(a.workload)
        // the workload's call, untraced and traced in turn (listener attached
        // only for the traced ones), so warm-up order does not bias the
        // overhead estimate
        val plain = new Calls(spark.sparkContext, new Tracer(false), None)
        calls.tracer.request = s"${a.workload}/call"
        val (untraced, traced) = (0 until 3).map { _ =>
          val u = own.oneCall(plain).wallS
          spark.sparkContext.addSparkListener(listener)
          val t = own.oneCall(calls)
          spark.sparkContext.removeSparkListener(listener)
          (u, t)
        }.unzip
        spark.sparkContext.addSparkListener(listener)
        metrics ++= Layers.kernel(a.seed)
        metrics ++= Layers.spann(ctx, ws("ann_bulk").asInstanceOf[AnnBulk])
        val serve = ws("ann_serve").asInstanceOf[AnnServe]
        metrics ++= Layers.serve(ctx, serve)
        metrics ++= Layers.serveBytes(ctx, serve)
        metrics ++= Layers.dedup(ctx, ws("dedup_near").asInstanceOf[DedupNear])
        metrics ++= Layers.spark(ctx, traced)
        metrics("trace.overhead_s") = Stat.median(traced.map(_.wallS)) - Stat.median(untraced)
        metrics("trace.spans") = calls.tracer.spans.size.toDouble
        spark.sparkContext.removeSparkListener(listener)
        val spanFile = a.work.resolve(s"spans-${a.workload}-${a.seed}.jsonl")
        calls.tracer.writeJsonl(spanFile)
        extra += "spans_file" -> Json.str(spanFile.getFileName.toString)
        extra += "self_time_s" -> Json.obj(calls.tracer.selfTimesS.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) })
      }
    } catch {
      case e: Throwable =>
        error = Some(e)
        checks(ok = false, s"run aborted: $e")
        e.printStackTrace()
    }
    val wanted = if (a.trace) PerLayer else EndToEnd
    val missing = wanted.map(_._1).filterNot(metrics.contains)
    if (error.isEmpty) checks(missing.isEmpty, s"metrics not produced: ${missing.mkString(", ")}")
    val correct = checks.failed == 0
    val metricJson = Json.obj(wanted.filter(w => metrics.contains(w._1)).map { case (k, u) =>
      k -> Json.obj(Seq("value" -> Json.num(metrics(k)), "unit" -> Json.str(u)))
    })
    val provenance = Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> a.trace.toString, "seconds" -> Json.num(a.seconds),
      "nproc" -> cpus.toString, "master" -> Json.str(spark.sparkContext.master),
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1L << 20)).toString,
      "loadavg_before" -> Json.str(loadBefore), "loadavg_after" -> Json.str(loadavg()),
      "cpu_steal_share" -> {
        val after = cpuJiffies()
        val total = after._2 - jiffiesBefore._2
        Json.num(if (total > 0) (after._1 - jiffiesBefore._1).toDouble / total else 0.0)
      },
      "source" -> Json.str(sys.env.getOrElse("GRAFTBENCH_SOURCE", "unknown")),
      "host" -> Json.str(java.net.InetAddress.getLocalHost.getHostName),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version))
    val line = Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> checks.attempted.toString,
      "failed" -> checks.failed.toString, "metrics" -> metricJson))
    val record = Json.obj(provenance ++ extra ++ Seq(
      "failures" -> checks.failures.map(Json.str).mkString("[", ",", "]"),
      "all_metrics" -> Json.obj(metrics.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "result" -> line))
    a.record.foreach(p => Files.write(p, (record + "\n").getBytes("UTF-8")))
    checks.failures.foreach(f => System.err.println(s"[graftbench] FAILED: $f"))
    spark.stop()
    println(line)
    if (!correct) sys.exit(1)
  }
}
