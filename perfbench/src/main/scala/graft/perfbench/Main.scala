package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One generated request: `kind` names the operation type (the metric
  * group is the part before the first '_'), `body` is the
  * DynamicQueryRequest envelope sent verbatim.
  */
final case class Req(id: String, kind: String, body: String) {
  def group: String = kind.takeWhile(_ != '_')
}

/** The benchmark's JVM half. It receives the generated requests from a
  * file, drives the engine through its HTTP surface and public module
  * functions, and writes the measurements plus every distinct response
  * to an output directory; `run.py` checks the responses and prints the
  * result line.
  *
  * Usage: Main --workload <serve_read|serve_mixed|analytics>
  *   --seconds <n> --trace <0|1> --data <sf dir> --tiny <sf dir>
  *   --requests <jsonl> --writes <jsonl> --out <dir> --tmp <dir>
  *   --clients <n> --round <requests per round> --queries <q,...>
  */
object Main {
  private val mapper = new ObjectMapper()

  final case class Args(workload: String, seconds: Double, trace: Boolean,
      data: String, tiny: String, requests: String, writes: String,
      out: String, tmp: String, clients: Int, round: Int, queries: Seq[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("data"), m.getOrElse("tiny", ""), m.getOrElse("requests", ""),
      m.getOrElse("writes", ""), m("out"), m("tmp"),
      m.getOrElse("clients", Runtime.getRuntime.availableProcessors.toString).toInt,
      m.getOrElse("round", "1").toInt,
      m.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq)
  }

  def readJsonl(path: String): Seq[Req] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.trim.nonEmpty).map { l =>
      val n = mapper.readTree(l)
      Req(n.get("id").asText, n.get("kind").asText, n.get("body").asText)
    }.toSeq

  // ------------------------------------------------------------- output

  def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => js(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case xs: Array[_] => js(xs.toSeq)
    case other => js(other.toString)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def ms(nanos: Long): Double = nanos / 1e6

  // --------------------------------------------------------------- HTTP

  final case class Reply(status: Int, body: String, position: Option[Long])

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val uri = URI.create(s"http://127.0.0.1:$port/v1/query")
    def post(body: String, headers: (String, String)*): Reply = {
      val b = HttpRequest.newBuilder(uri).POST(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json")
      headers.foreach { case (k, v) => b.header(k, v) }
      val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
      val pos = r.headers.firstValue("x-graft-wal-position")
      Reply(r.statusCode, r.body, if (pos.isPresent) Some(pos.get.toLong) else None)
    }
  }

  def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  // ---------------------------------------------------------- recording

  /** Operations, latencies and responses of one workload run. */
  final class Recorder {
    private val opsQ = new ConcurrentLinkedQueue[(String, String, Double)]()
    val attempted = new AtomicLong
    val failed = new AtomicLong
    val responses = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val errors = new ConcurrentLinkedQueue[String]()
    /** Length of the timed window, first send to last reply. */
    @volatile var windowS = Double.NaN
    /** Epoch milliseconds of the first timed operation (0 before it). */
    val firstOpMs = new AtomicLong
    def markStart(): Unit = firstOpMs.compareAndSet(0L, System.currentTimeMillis())
    def fail(what: String): Unit = {
      failed.incrementAndGet()
      if (errors.size < 20) errors.add(what.take(400))
    }
    /** Completed timed operations as (group, kind, ms). */
    def ops: Seq[(String, String, Double)] = opsQ.asScala.toSeq
    def add(group: String, kind: String, msTaken: Double): Unit = opsQ.add((group, kind, msTaken))
  }

  /** Closed-loop clients over the pool in order: each client takes the
    * next request after its previous reply. The pool is a sequence of
    * rounds of `round` requests holding every kind. The first `ramp`
    * rounds run untimed through the same loop, so the window opens with
    * the loop's threads, the JIT and the plans warm; then `atStart` runs
    * and the window opens. The window runs whole rounds, stopping at the
    * first round boundary after `seconds`, so every run covers the mix
    * in the same proportions. `send` returns the metric group the
    * request counted in and its reply.
    */
  def readLoop(pool: Seq[Req], clients: Int, seconds: Double, round: Int, ramp: Int,
      rec: Recorder, atStart: () => Unit, send: (Int, Req) => (String, Reply)): Unit = {
    closedLoop(pool, clients, round, 0, ramp * round, Long.MaxValue, send, (_, _, _, _) => ())
    atStart()
    rec.markStart()
    val t0 = System.nanoTime()
    closedLoop(pool, clients, round, ramp * round, Int.MaxValue, t0 + (seconds * 1e9).toLong,
      send, { (r, group, reply, t) =>
        rec.attempted.incrementAndGet()
        if (reply.status != 200) rec.fail(s"${r.id}: ${reply.status} ${reply.body}")
        else {
          rec.add(group, r.kind, t)
          rec.responses.putIfAbsent(r.id, reply.body)
        }
      })
    rec.windowS = (System.nanoTime() - t0) / 1e9
  }

  /** Pool entries from `from` on, stopping at the first round boundary
    * at `until` or after `deadlineNs`; `done` sees each request, its
    * group, its reply and its latency in ms.
    */
  private def closedLoop(pool: Seq[Req], clients: Int, round: Int, from: Int, until: Int,
      deadlineNs: Long, send: (Int, Req) => (String, Reply),
      done: (Req, String, Reply, Double) => Unit): Unit = {
    val lock = new Object
    var next = from
    var stopped = false
    def draw(): Int = lock.synchronized {
      if (!stopped && next % round == 0 && (next >= until || System.nanoTime() >= deadlineNs))
        stopped = true
      if (stopped) -1 else { next += 1; next - 1 }
    }
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = draw()
        while (i >= 0) {
          val r = pool(i % pool.size)
          val s = System.nanoTime()
          val (group, reply) = try send(c, r) catch {
            case e: Exception => (r.group, Reply(-1, e.toString, None))
          }
          done(r, group, reply, ms(System.nanoTime() - s))
          i = draw()
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  // --------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val processStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val load0 = loadavg()
    val cpus = Runtime.getRuntime.availableProcessors
    // the serving entry point's session settings (QueryRunner.main)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.tmp)
      .config("spark.sql.warehouse.dir", s"${a.tmp}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    val phases = new CatalystPhases
    if (a.trace) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(phases)
    }
    Trace.on = a.trace
    val out = mutable.LinkedHashMap.empty[String, Any]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val checks = mutable.LinkedHashMap.empty[String, Any]
    val rec = new Recorder
    val ctx = Ctx(spark, a, rec, metrics, checks, counters, phases)
    var aborted = false
    try a.workload match {
      case "serve_read" => Serving.serveRead(ctx)
      case "serve_mixed" => Serving.serveMixed(ctx)
      case "analytics" => Analytics.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        aborted = true
        // the workload counts as one more operation, and a failed one
        rec.attempted.incrementAndGet()
        rec.fail(s"workload aborted: $e")
        e.printStackTrace()
    }
    // set-up: JVM start to the first timed operation, so the session,
    // the store and the warm-up all count
    metrics("setup_s") = rec.firstOpMs.get match {
      case 0L => Double.NaN
      case t => (t - processStart) / 1000.0
    }
    // every workload's operations: reads and writes, or query runs. The
    // typical latency is the mean over operation kinds of each kind's
    // median, so neither the mix of kinds in a short run nor a few slow
    // kinds dominating the middle of a mixed sample moves it
    val ops = rec.ops
    metrics("ops_per_s") = ops.size / rec.windowS
    metrics("op_p50_ms") = {
      val perKind = ops.groupBy(_._2).values.map(k => median(k.map(_._3)))
      if (perKind.isEmpty) Double.NaN else perKind.sum / perKind.size
    }
    // heap used after a full GC at the end of the run
    (0 until 3).foreach(_ => System.gc())
    val rt = Runtime.getRuntime
    metrics("heap_retained_mb") = (rt.totalMemory - rt.freeMemory) / 1048576.0
    out("aborted") = aborted
    out("attempted") = rec.attempted.get
    out("failed") = rec.failed.get
    out("errors") = rec.errors.asScala.toSeq
    out("metrics") = metrics
    out("checks") = checks
    out("samples") = ctx.samples
    out("env") = Map("nproc" -> cpus, "max_heap_mb" -> rt.maxMemory / 1048576,
      "spark_version" -> spark.version, "loadavg_start" -> load0.toSeq,
      "loadavg_end" -> loadavg().toSeq, "data" -> a.data)
    Files.writeString(Paths.get(a.out, "responses.json"),
      js(rec.responses.asScala.toMap))
    if (a.trace) writeSpans(Paths.get(a.out, "spans.jsonl"))
    Files.writeString(Paths.get(a.out, "result.json"), js(out))
    spark.stop()
  }

  final case class Ctx(spark: SparkSession, a: Args, rec: Recorder,
      metrics: mutable.Map[String, Double], checks: mutable.Map[String, Any],
      counters: SparkCounters, phases: CatalystPhases) {
    /** Per-layer values sampled in a traced run, by metric name. */
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def sample(name: String, v: Double): Unit = samples.synchronized {
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
    }

    /** Open the timed window: in a traced run, drop the Spark counts of
      * set-up, so the window totals cover the window only.
      */
    def windowStart(): Unit = if (a.trace) {
      drainListeners()
      counters.reset()
    }

    /** Wait until the listener buses have delivered every job end
      * (bounded); the traced numbers are read after this.
      */
    def drainListeners(): Unit = {
      val until = System.nanoTime() + 10000000000L
      var last = -1
      var stable = 0
      while (System.nanoTime() < until && stable < 5) {
        val n = phases.events.get
        if (counters.open.get == 0 && n == last) stable += 1 else stable = 0
        last = n
        Thread.sleep(20)
      }
    }
  }

  def writeJobStats(ctx: Ctx): Unit = {
    val m = ctx.counters.bySpan.asScala.toMap.map { case (span, s) =>
      span.toString -> Map("jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
        "task_ms" -> s.taskNanos / 1e6, "gc_ms" -> s.gcMs, "shuffle_read" -> s.shuffleRead,
        "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill,
        "sched_delay_ms" -> s.schedDelayMs)
    }
    Files.writeString(Paths.get(ctx.a.out, "jobstats.json"), js(m))
  }

  def writeSpans(p: Path): Unit = {
    val sb = new StringBuilder
    Trace.spans.foreach { s =>
      sb.append(js(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "req" -> s.req, "start" -> s.start, "end" -> s.end))).append('\n')
    }
    Files.writeString(p, sb.toString)
  }

  def loadavg(): Array[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+").take(3).map(_.toDouble)
    catch { case _: Exception => Array.empty[Double] }
}
