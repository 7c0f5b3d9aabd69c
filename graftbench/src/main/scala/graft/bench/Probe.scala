package graft.bench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one benchmark call (one job group). */
final case class CallStats(
    wallNs: Long,
    jobs: Int,
    tasks: Int,
    cpuNs: Long,
    runMs: Long,
    gcMs: Long,
    inputBytes: Long,
    inputRecords: Long,
    shuffleWriteBytes: Long,
    shuffleReadBytes: Long,
    spillBytes: Long,
    jobUnionMs: Long) {
  def wallS: Double = wallNs / 1e9
  /** Call wall time not covered by any of its jobs: planning, driver-side
    * collects and result handling.
    */
  def driverS: Double = math.max(0.0, wallS - jobUnionMs / 1e3)
}

/** Collects task metrics and job intervals per job group. The benchmark sets
  * a fresh job group before each call it attributes, so every job (and every
  * task of its stages) lands on exactly one call.
  */
final class CallListener extends SparkListener {
  private final class Acc {
    var jobs, tasks = 0
    var cpuNs, runMs, gcMs, inB, inR, shW, shR, spill = 0L
    val intervals = ArrayBuffer.empty[(Long, Long)]
  }
  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        e.stageIds.foreach(s => stageGroup.put(s, g))
        jobGroup.put(e.jobId, (g, e.time))
        val a = acc(g)
        a.synchronized { a.jobs += 1 }
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { case (g, start) =>
      val a = acc(g)
      a.synchronized { a.intervals += ((start, e.time)) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val a = acc(g)
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.inB += m.inputMetrics.bytesRead
        a.inR += m.inputMetrics.recordsRead
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  /** Stats of a finished group; call only after the bus is drained. */
  def take(group: String, wallNs: Long): CallStats = {
    val a = Option(byGroup.remove(group)).getOrElse(new Acc)
    a.synchronized {
      CallStats(wallNs, a.jobs, a.tasks, a.cpuNs, a.runMs, a.gcMs, a.inB, a.inR,
        a.shW, a.shR, a.spill, unionMs(a.intervals.toSeq))
    }
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One recorded span: a call into a graft layer made by the benchmark. */
final case class Span(
    id: Int, parent: Int, name: String, request: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Span recorder. Disabled, it only runs the body: measured runs use the
  * same code with tracing off. Spans stay in memory until [[spans]] is read.
  */
final class Tracer(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var request: String = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        buf += Span(id, parent, name, request, t0, t1)
      }
    }

  def spans: Seq[Span] = buf.toSeq

  /** Per span name: total duration minus the part its child spans cover. */
  def selfTimesS: Map[String, Double] = {
    val children = buf.groupBy(_.parent)
    buf.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = children.getOrElse(s.id, ArrayBuffer.empty)
          .map(c => (c.startNs, c.endNs)).sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((tot, end), (cs, ce)) =>
            val from = math.max(cs, end)
            (if (ce > from) tot + (ce - from) else tot, math.max(end, ce))
          }._1
        (s.durNs - covered) / 1e9
      }.sum
    }.toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = buf.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""request":${Json.str(s.request)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Runs benchmark calls: each call gets its own job group (so Spark work is
  * attributable) and, when tracing, a span.
  */
final class Calls(sc: SparkContext, val tracer: Tracer, listener: Option[CallListener]) {
  private var n = 0

  /** Run `body` as one call; returns its result and its attributed stats
    * (job counts and task metrics are zero when no listener is attached).
    */
  def apply[T](name: String)(body: => T): (T, CallStats) = {
    n += 1
    val group = s"$name#$n"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val r =
      try tracer.span(name)(body)
      finally sc.clearJobGroup()
    val wall = System.nanoTime() - t0
    val stats = listener match {
      case Some(l) =>
        org.apache.spark.BenchBus.drain(sc)
        l.take(group, wall)
      case None => CallStats(wall, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    }
    (r, stats)
  }

  /** Wall seconds of one call, discarding its stats. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val (r, s) = apply(name)(body)
    (r, s.wallS)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
