package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.iql.{Ast, Parser, Session}
import graft.server.Json

/** Spark work seen by the benchmark's own listener: job intervals and,
  * per stage, shuffle bytes and spill. */
final class SparkWork extends SparkListener {
  final case class Job(id: Int, start: Long, stages: Seq[Int])
  val jobs = mutable.ArrayBuffer.empty[Job]
  val jobEnd = mutable.HashMap.empty[Int, Long]
  val shuffleBytes = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  val spillBytes = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = e.time
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes(e.stageId) += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      spillBytes(e.stageId) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Runs requests in-process, calling each layer's public entry point in
  * the order `Session.execute` reaches them, with a span around each
  * call. Spans stay in memory until [[writeSpans]]. */
final class Tracer(spark: SparkSession, session: Session, work: SparkWork) {
  final case class Span(name: String, op: Int, parent: Int, start: Long, end: Long)
  final case class OpWindow(id: Int, family: String, startMs: Long, endMs: Long, ms: Double)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val windows = mutable.ArrayBuffer.empty[OpWindow]
  private var opId = 0
  private var opStartMs = 0L

  def nextOp(): Int = {
    opId += 1
    opStartMs = System.currentTimeMillis()
    opId
  }

  def opDone(id: Int, d: Client.Done): Unit =
    windows += OpWindow(id, d.op.family, opStartMs, System.currentTimeMillis(), d.ms)

  private def span[T](name: String, op: Int, parent: Int)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally spans += Span(name, op, parent, t0, System.nanoTime())
  }

  /** One request; returns a reply shaped like the wire's. */
  def exec(op: Int, text: String): String = {
    val req = spans.length
    spans += Span("request", op, -1, 0L, 0L) // placeholder, filled below
    val t0 = System.nanoTime()
    val prog = span("parse", op, req)(Parser.parseProgram(text))
    var result: Option[(Seq[String], Array[Row])] = None
    prog.statements.foreach {
      case Ast.InsertFacts(rel, rows) =>
        span("write", op, req)(session.catalog.insert(rel, rows))
      case Ast.DeleteFacts(rel, rows) =>
        span("write", op, req)(session.catalog.delete(rel, rows))
      case q: Ast.Query =>
        val df = span("eval", op, req)(session.engine.evalQuery(q))
        val lim: DataFrame = span("catalyst", op, req) {
          val l = df.limit(100001)
          l.queryExecution.executedPlan
          l
        }
        result = Some((df.columns.toSeq, span("collect", op, req)(lim.collect())))
      case _ => span("eval", op, req)(session.execute(text))
    }
    spans(req) = Span("request", op, -1, t0, System.nanoTime())
    result match {
      case Some((cols, rows)) => Json.render(Map("type" -> "result", "columns" -> cols,
        "rows" -> rows.map(_.toSeq.map(cell)).toSeq))
      case None => Json.render(Map("type" -> "ack"))
    }
  }

  private def cell(v: Any): Any = v match {
    case r: Row if graft.iql.AnyValue.isAnyRow(r) => cell(graft.iql.AnyValue.decode(r))
    case s: Seq[_] => s
    case a: Array[_] => a.toSeq
    case o => o
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Per family: per-op medians of span self times and of the
    * scheduled/driver split, per-op means of Spark counts. */
  def summary(annProbes: Seq[String]): Map[String, Any] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val byOp = spans.groupBy(_.op)
    val fams = windows.groupBy(_.family).map { case (fam, ws) =>
      val perOp = ws.toSeq.map { w =>
        val own = byOp.getOrElse(w.id, Seq.empty)
        def ms(name: String) = own.filter(_.name == name).map(s => (s.end - s.start) / 1e6).sum
        val jobs = work.synchronized {
          work.jobs.filter(j => j.start >= w.startMs && j.start <= w.endMs).toSeq
        }
        val stages = jobs.flatMap(_.stages).distinct
        // wall time with at least one job of this op running
        val iv = work.synchronized {
          jobs.map(j => (math.max(j.start, w.startMs),
            math.min(work.jobEnd.getOrElse(j.id, w.endMs), w.endMs)))
        }.filter { case (a, b) => b > a }.sortBy(_._1)
        var sched = 0L; var curA = -1L; var curB = -1L
        iv.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) sched += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) sched += curB - curA
        val (shuffle, spill) = work.synchronized {
          (stages.map(work.shuffleBytes).sum, stages.map(work.spillBytes).sum)
        }
        Map(
          "parse_ms" -> ms("parse"), "write_ms" -> ms("write"), "eval_ms" -> ms("eval"),
          "catalyst_ms" -> ms("catalyst"), "collect_ms" -> ms("collect"),
          "wall_ms" -> w.ms, "sched_ms" -> sched.toDouble,
          "driver_ms" -> (w.ms - sched),
          "jobs" -> jobs.length.toDouble,
          "shuffle_kb" -> shuffle / 1024.0, "spill_kb" -> spill / 1024.0)
      }
      val counts = Set("jobs", "shuffle_kb", "spill_kb")
      fam -> perOp.head.keys.map { k =>
        val xs = perOp.map(_(k))
        k -> (if (counts(k)) xs.sum / xs.length else median(xs))
      }.toMap
    }
    val search = session.catalog.indexByName("vidx").map { case (idx, _, _, _) =>
      val qs = annProbes.map(p => Json.parse(p).asInstanceOf[Seq[Any]]
        .map(_.toString.toFloat).toArray)
      qs.foreach(q => idx.search(q, 10)) // warm
      median((1 to 5).flatMap(_ => qs.map { q =>
        val t0 = System.nanoTime(); idx.search(q, 10); (System.nanoTime() - t0) / 1e6
      }))
    }
    Map("families" -> fams, "hnsw_search_ms" -> search.getOrElse(0.0))
  }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach(s => w.println(Json.render(Map("name" -> s.name, "op" -> s.op,
      "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end))))
    finally w.close()
  }
}

/** Run-environment facts printed beside the metrics (never as one). */
object Sentinel {
  @volatile private var sink = 0L

  /** Fixed single-thread kernel, the one Bench.scala times: the minimum
    * of three runs, in seconds. */
  def calibration(): Double = {
    def once(): Double = {
      var h = 0x9E3779B97F4A7C15L
      var i = 0L
      val t0 = System.nanoTime()
      while (i < 150000000L) {
        h = (h ^ i) * 0xFF51AFD7ED558CCDL
        h ^= (h >>> 33)
        i += 1
      }
      sink = h
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq.fill(3)(once()).min
  }

  def jvm(): Map[String, Any] = Map(
    "cpus" -> Runtime.getRuntime.availableProcessors,
    "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-X")).toSeq,
    "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
    "calibration_s" -> calibration())
}
