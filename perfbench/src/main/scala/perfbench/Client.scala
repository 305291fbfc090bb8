package perfbench

import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.time.Duration
import java.util.concurrent.{CompletionStage, LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.iql.Session
import graft.server.{Json, WireServer}

/** The benchmark's JVM side: one closed-loop client.
  *
  * It starts the program's WebSocket server on loopback, sets the
  * knowledge graph up through it, runs an untimed warm-up, then whole
  * rounds of the plan's operations until `--seconds` have passed, each
  * sent as soon as the previous reply is in. Each round runs one
  * operation of every family (`reps` of some), in the plan's order. It
  * writes every reply it received (deduplicated) and every operation's
  * latency to `--out`; run.py checks the replies and computes the
  * metrics.
  *
  * With `--trace 1` it then runs the same operations in-process, in the
  * order `Session.execute` calls the layers (parse, write, evaluate,
  * plan, collect), recording a span around each call and counting Spark
  * work with its own SparkListener.
  *
  * Usage: Client --plan plan.json --out out.json --seconds N --trace 0|1
  *        --cpus N --work DIR
  */
object Client {
  final case class Args(plan: String, out: String, seconds: Double,
                        trace: Boolean, cpus: Int, work: String)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("plan"), m("out"), m("seconds").toDouble, m("trace") == "1",
      m("cpus").toInt, m("work"))
  }

  /** One operation of a family, with its index in the family's pool. */
  final case class Op(family: String, variant: Int, reqs: Seq[String])

  /** Deduplicated reply texts; operations refer to them by index. */
  final class Replies {
    val texts = mutable.ArrayBuffer.empty[String]
    private val ids = mutable.HashMap.empty[String, Int]
    def id(t: String): Int = ids.getOrElseUpdate(t, { texts += t; texts.length - 1 })
  }

  final case class Done(op: Op, round: Int, ms: Double, replies: Seq[Int]) {
    def json: Map[String, Any] = Map("family" -> op.family, "variant" -> op.variant,
      "round" -> round, "ms" -> ms, "replies" -> replies)
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val plan = Json.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(args.plan)), "UTF-8")).asInstanceOf[Map[String, Any]]
    def strs(k: String) = plan(k).asInstanceOf[Seq[Any]].map(_.toString)
    val families = strs("families")
    val pools: Map[String, IndexedSeq[Op]] = families.map { f =>
      f -> plan("pools").asInstanceOf[Map[String, Any]](f).asInstanceOf[Seq[Any]]
        .zipWithIndex.map { case (o, i) =>
          Op(f, i, o.asInstanceOf[Seq[Any]].map(_.toString))
        }.toIndexedSeq
    }.toMap
    val warmupRounds = plan("warmup_rounds").toString.toInt
    val traceRounds = plan("trace_rounds").toString.toInt
    // a family with `reps` n runs n consecutive pool entries per round
    val reps = plan("reps").asInstanceOf[Map[String, Any]].map { case (f, n) => f -> n.toString.toInt }
    def round(r: Int): Seq[Op] = families.flatMap { f =>
      val n = reps.getOrElse(f, 1)
      (0 until n).map(j => pools(f)((r * n + j) % pools(f).length))
    }

    val phases = mutable.LinkedHashMap.empty[String, Double]
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    }

    val spark = timed("spark_s") {
      val s = SparkSession.builder()
        .master(s"local[${args.cpus}]")
        .config("spark.sql.shuffle.partitions", args.cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"${args.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${args.work}/spark-warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
      s
    }
    val listener = if (args.trace) Some(new SparkWork) else None
    listener.foreach(spark.sparkContext.addSparkListener)

    val server = new WireServer(spark, port = 0)
    val ws = new WsClient(server.actualPort)
    val replies = new Replies
    val out = mutable.LinkedHashMap.empty[String, Any]
    try {
      // set-up through the wire: open the seeded snapshot, define the
      // persistent views, build the vector index
      val setupReplies = strs("setup").map { cmd =>
        val name =
          if (cmd.startsWith(".open")) "load_s"
          else if (cmd.startsWith(".index")) "index_build_s"
          else "rules_s"
        replies.id(timed(name)(ws.query(cmd)))
      } ++ strs("session").map(r => replies.id(timed("rules_s")(ws.query(r))))
      // warm-up: whole rounds over every family; the first one also
      // materializes the views
      val warm = mutable.ArrayBuffer.empty[Done]
      timed("warmup_s") {
        (0 until warmupRounds).foreach(r => round(r).foreach { op =>
          warm += runOp(op, r, q => replies.id(ws.query(q)))
        })
      }
      timed("jit_settle_s")(settleJit())
      val setupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
      // held heap at a point that does not depend on timing: after the
      // fixed warm-up rounds, before the timed loop
      out("heap_mb") = heldHeapMb()
      // a traced run splits its time between this loop and the traced one
      val wireSeconds = if (args.trace) args.seconds / 2 else args.seconds
      val gc0 = gcMs()
      val ops = loop(wireSeconds, warmupRounds, round, q => replies.id(ws.query(q)))
      out("gc_ms_per_op") = (gcMs() - gc0).toDouble / ops.length
      out("setup_s") = setupS
      out("setup_replies") = setupReplies
      out("warmup") = warm.map(_.json)
      out("ops") = ops.map(_.json)

      listener.foreach { sw =>
        // traced run: an in-process Session over the server's knowledge
        // graphs, as each WebSocket connection gets (WireServer.newSession)
        val f = classOf[WireServer].getDeclaredField("kgs")
        f.setAccessible(true)
        val session = new Session(spark,
          sharedKgs = f.get(server).asInstanceOf[mutable.LinkedHashMap[String, graft.iql.Catalog]])
        val tracer = new Tracer(spark, session, sw)
        strs("session").foreach(r => tracer.exec(-1, r))
        // the wire loop ended before an even round, so the graph is in its
        // base state and the traced phase can use fixed rounds: two to warm
        // the in-process engine, then the traced ones
        (0 until 2).foreach(r => round(r).foreach { op =>
          runOp(op, r, q => replies.id(tracer.exec(-1, q)))
        })
        val traced = (2 until 2 + traceRounds).flatMap(r => round(r).map { op =>
          val id = tracer.nextOp()
          val d = runOp(op, r, q => replies.id(tracer.exec(id, q)))
          tracer.opDone(id, d)
          d
        })
        out("traced") = traced.map(_.json)
        out("trace") = tracer.summary(strs("ann_probes"))
        tracer.writeSpans(s"${args.work}/spans.jsonl")
      }
      out("phases") = phases.toMap
      out("replies") = replies.texts.toSeq
      out("sentinel") = Sentinel.jvm()
    } finally {
      ws.close()
      server.stop()
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(args.out),
      Json.render(out.toMap).getBytes("UTF-8"))
    spark.stop()
  }

  def runOp(op: Op, round: Int, exec: String => Int): Done = {
    val t0 = System.nanoTime()
    val ids = op.reqs.map(exec)
    Done(op, round, (System.nanoTime() - t0) / 1e6, ids)
  }

  /** Whole rounds until `seconds` have passed, stopping only before an
    * even round, where every paired update has been undone. */
  def loop(seconds: Double, first: Int, round: Int => Seq[Op],
           exec: String => Int): Seq[Done] = {
    val done = mutable.ArrayBuffer.empty[Done]
    val t0 = System.nanoTime()
    var r = first
    while (done.isEmpty || r % 2 == 1 || (System.nanoTime() - t0) / 1e9 < seconds) {
      round(r).foreach(op => done += runOp(op, r, exec))
      r += 1
    }
    done.toSeq
  }

  /** Waits until the JIT has drained the compilations the warm-up queued
    * (under 20 ms of compile time in half a second), at most 20 s: compiler
    * threads running beside the timed loop compete with it for cores. */
  def settleJit(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 20000000000L
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      Thread.sleep(500)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 20
      last = now
    }
  }

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap still in use after full collections: the least of five
    * readings, each after System.gc() and a settle that lets Spark's
    * cleaner drop what the collection released. */
  def heldHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc(); Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}

/** A JDK WebSocket client with one request in flight at a time. Server
  * notifications (pushed on persistent writes) are skipped; a streamed
  * result comes back as its messages joined by newlines. */
final class WsClient(port: Int) {
  private val incoming = new LinkedBlockingQueue[String]()
  private val ws: WebSocket = HttpClient.newHttpClient().newWebSocketBuilder()
    .connectTimeout(Duration.ofSeconds(30))
    .buildAsync(URI.create(s"ws://127.0.0.1:$port/ws"), new WebSocket.Listener {
      private val buf = new StringBuilder
      override def onText(w: WebSocket, data: CharSequence, last: Boolean): CompletionStage[_] = {
        buf.append(data)
        if (last) { incoming.put(buf.toString); buf.clear() }
        w.request(1)
        null
      }
    }).join()

  private def next(): String = {
    var m = incoming.poll(600, TimeUnit.SECONDS)
    require(m != null, "no reply within 600 s")
    while (isNotification(m)) {
      m = incoming.poll(600, TimeUnit.SECONDS)
      require(m != null, "no reply within 600 s")
    }
    m
  }

  // key order in the server's messages is not fixed; the tags below
  // never occur inside the benchmark's data
  private def tagged(m: String, tag: String) = m.contains(s"\"type\":\"$tag\"")
  private def isNotification(m: String) = m.length < 4096 && tagged(m, "notification")

  def query(text: String): String = {
    ws.sendText(Json.render(Map("type" -> "query", "query" -> text,
      "timeout_ms" -> 600000L)), true).join()
    val first = next()
    if (!tagged(first, "result_start")) first
    else {
      val parts = mutable.ArrayBuffer(first)
      while (!tagged(parts.last, "result_end")) parts += next()
      parts.mkString("\n")
    }
  }

  def close(): Unit =
    try ws.sendClose(WebSocket.NORMAL_CLOSURE, "done").get(10, TimeUnit.SECONDS)
    catch { case _: Throwable => ws.abort() }
}
