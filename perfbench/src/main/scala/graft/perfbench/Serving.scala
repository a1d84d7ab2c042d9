package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.col

import graft.ast.Json
import graft.exec.BatchExecutor
import graft.model.{GraphStore, GraphWal, TestGraph}
import graft.search.IndexCache
import graft.server.{Gateway, Router}

import Main._

/** The serving workloads: `serve_read` (a Gateway over the test graph,
  * reads only) and `serve_mixed` (a Router over a fresh WAL, one writer
  * client beside read clients).
  */
object Serving {
  private val mapper = new ObjectMapper()
  private val ReadGroups = Seq("lookup", "hop", "agg", "vector", "text")
  /** Untimed rounds before serve_read's window. Reads keep getting
    * faster over the first rounds after the warm-up: with one round the
    * window's op_p50_ms read 740–880 ms where three gave 550–600 ms (same
    * seeds), and runs split into fast ones that finished five rounds and
    * slow ones that finished three.
    */
  private val ReadRamp = 3
  /** Requests per kind replayed layer by layer in a traced run. */
  private val TracedPerKind = 1

  /** One representative request per kind, in pool order. */
  private def firstOfEachKind(pool: Seq[Req]): Seq[Req] =
    pool.groupBy(_.kind).values.map(_.head).toSeq.sortBy(_.id)

  /** One request of each kind, so the timed window starts JIT-warm with
    * every index artifact built; records what each first request cost.
    */
  private def warm(ctx: Ctx, client: Client, pool: Seq[Req]): Unit =
    ctx.checks("setup_first_request_ms") = firstOfEachKind(pool).map { r =>
      val t0 = System.nanoTime()
      val reply = client.post(r.body)
      if (reply.status != 200)
        throw new IllegalStateException(s"warm-up ${r.id} failed: ${reply.body}")
      r.kind -> ms(System.nanoTime() - t0)
    }.toMap

  /** The read figures of the serving workloads. A group's p50 is the
    * mean of its kinds' medians, so the share of each kind in a short
    * run does not move it.
    */
  private def readFigures(ctx: Ctx): Unit = {
    val reads = ctx.rec.ops.filter(o => ReadGroups.contains(o._1))
    val lat = reads.map(_._3)
    ctx.metrics("read_rps") = lat.size / ctx.rec.windowS
    ctx.metrics("read_p50_ms") = median(lat)
    ctx.metrics("read_p95_ms") = quantile(lat, 0.95)
    ReadGroups.foreach { g =>
      val byKind = reads.filter(_._1 == g).groupBy(_._2).values.map(k => median(k.map(_._3)))
      ctx.metrics(s"${g}_p50_ms") = if (byKind.isEmpty) Double.NaN else byKind.sum / byKind.size
    }
  }

  // ------------------------------------------------------------ serve_read

  def serveRead(ctx: Ctx): Unit = {
    val a = ctx.a
    val pool = readJsonl(a.requests)
    val port = freePort()
    val gw = new Gateway(TestGraph.build(ctx.spark, a.data), port, mcp = false)
    gw.start()
    try {
      warm(ctx, new Client(port), pool)
      val clients = Array.fill(a.clients)(new Client(port))
      readLoop(pool, a.clients, a.seconds, a.round, ReadRamp, ctx.rec, () => ctx.windowStart(),
        (c, r) => (r.group, Trace.span("loop.http", r.id)(clients(c).post(r.body))))
      readFigures(ctx)
      if (a.trace) {
        traceTotals(ctx)
        val sample = pool.groupBy(_.kind).values.flatMap(_.take(TracedPerKind)).toSeq.sortBy(_.id)
        sample.foreach(r => replay(ctx, gw, clients(0), r))
        writeProbe(ctx, gw, pool)
        ctx.drainListeners()
        writeJobStats(ctx)
      }
    } finally {
      gw.stop()
    }
  }

  /** Spark totals over the closed-loop window of a traced run. */
  private def traceTotals(ctx: Ctx): Unit = {
    ctx.drainListeners()
    val all = ctx.counters.bySpan.values.asScala
    ctx.checks("trace_window") = Map(
      "wall_s" -> ctx.rec.windowS,
      "task_s" -> all.map(_.taskNanos).sum / 1e9,
      "gc_ms" -> all.map(_.gcMs).sum)
    ctx.checks("storage_mb") = ctx.spark.sparkContext.getRDDStorageInfo
      .map(i => (i.memSize + i.diskSize) / 1048576.0).sum
  }

  /** Replay one read layer by layer: the HTTP round trip, the in-process
    * `Gateway.handle` of the same body, and the same request split into
    * parse, execute (up to the returned frames) and collect.
    */
  private def replay(ctx: Ctx, gw: Gateway, client: Client, r: Req): Unit = {
    val sc = ctx.spark.sparkContext
    // untimed first execution, so every timed execution below is a repeat
    gw.handle(r.body)
    Trace.span("request", r.id) {
      val reply = Trace.span("server.http", r.id)(client.post(r.body))
      ctx.sample("server.response_bytes", reply.body.getBytes("UTF-8").length)
      Trace.span("server.handle", r.id, sc)(gw.handle(r.body))
      Trace.span("server.replay", r.id) {
        val req = Trace.span("ast.parse", r.id, sc)(Json.parseRequest(r.body))
        val res = Trace.span("exec.compile", r.id, sc)(
          new BatchExecutor(gw.currentStore, req.parameters).execute(req.batch))
        Trace.span("server.collect", r.id, sc)(
          res.results.values.foreach(_.limit(10001).collect()))
      }
    }
  }

  /** serve_read's traced run also measures the write path, after its
    * read window: the served store is checkpointed into a fresh WAL and
    * a WAL-backed Gateway takes a few writes of each kind.
    */
  private def writeProbe(ctx: Ctx, gw: Gateway, pool: Seq[Req]): Unit = {
    val root = s"${ctx.a.tmp}/wal-probe"
    GraphWal.checkpoint(gw.currentStore, root)
    val port = freePort()
    val writer = new Gateway(gw.currentStore, port, mcp = false, walRoot = Some(root))
    writer.start()
    try {
      val client = new Client(port)
      traceWrites(ctx, (b, h) => client.post(b, h: _*), () => writer.currentStore, root,
        readWrites(ctx.a.writes), pool)
    } finally writer.stop()
  }

  // ----------------------------------------------------------- serve_mixed

  /** A generated write: `body` is the write envelope; `verify` is a read
    * whose scalar answer `expect` shows the write took effect.
    */
  final case class Write(id: String, kind: String, body: String, label: String,
      verify: String, expect: JsonNode)

  private def readWrites(path: String): Seq[Write] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.trim.nonEmpty).map { l =>
      val n = mapper.readTree(l)
      Write(n.get("id").asText, n.get("kind").asText, n.get("body").asText,
        n.get("label").asText, n.get("verify").asText, n.get("expect"))
    }.toSeq

  private def scalar(body: String): JsonNode =
    mapper.readTree(body).elements.asScala.toSeq.headOption.orNull

  private def sameValue(got: JsonNode, want: JsonNode): Boolean =
    got != null && (
      if (want.isNumber && got.isNumber)
        math.abs(got.asDouble - want.asDouble) <= 1e-9 * math.max(1.0, math.abs(want.asDouble))
      else got == want)

  private def walBytes(root: String): Long = {
    val d = Paths.get(root, "wal")
    if (!Files.isDirectory(d)) 0L
    else {
      val s = Files.list(d)
      try s.iterator.asScala.map(p => Files.size(p)).sum finally s.close()
    }
  }

  def serveMixed(ctx: Ctx): Unit = {
    val a = ctx.a
    val spark = ctx.spark
    val pool = readJsonl(a.requests)
    val writes = readWrites(a.writes)
    val root = s"${a.tmp}/wal"
    GraphWal.checkpoint(TestGraph.build(spark, a.data), root)
    val port = freePort()
    val router = new Router(spark, root, port, numReaders = 2)
    router.start()
    // the last acked write: (position, write)
    val lastAck = new AtomicReference[(Long, Write)](null)
    val acked = mutable.ArrayBuffer.empty[Write]
    try {
      warm(ctx, new Client(port), pool.filterNot(_.kind == "fresh"))
      // the window opens with the writer; the readers' ramp runs inside it
      ctx.windowStart()
      ctx.rec.markStart()
      val writerClient = new Client(port)
      val readers = math.max(1, a.clients - 1)
      val readerClients = Array.fill(readers)(new Client(port))
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      val writer = new Thread(() => {
        var i = 0
        while (System.nanoTime() < deadline && i < writes.size) {
          val w = writes(i)
          ctx.rec.attempted.incrementAndGet()
          val s = System.nanoTime()
          val reply = try Trace.span("loop.write", w.id)(writerClient.post(w.body))
            catch { case e: Exception => Reply(-1, e.toString, None) }
          val t = ms(System.nanoTime() - s)
          if (reply.status != 200 || reply.position.isEmpty)
            ctx.rec.fail(s"${w.id}: ${reply.status} ${reply.body}")
          else {
            ctx.rec.add("write", w.kind, t)
            acked.synchronized(acked += w)
            lastAck.set((reply.position.get, w))
          }
          i += 1
        }
      }, "perfbench-writer")
      writer.start()
      // a pinned ("fresh") read checks the last acked write at its position;
      // before the first ack it is an ordinary key lookup
      def send(c: Int, r: Req): (String, Reply) =
        Option(lastAck.get).filter(_ => r.kind == "fresh") match {
          case None => (r.group, Trace.span("loop.http", r.id)(readerClients(c).post(r.body)))
          case Some((pos, w)) =>
            val reply = Trace.span("loop.fresh", r.id)(readerClients(c).post(w.verify,
              "x-graft-min-position" -> pos.toString))
            ("fresh", if (reply.status == 200 && !sameValue(scalar(reply.body), w.expect))
              Reply(-2, s"write ${w.id} not visible at position $pos: ${reply.body}", None)
            else reply)
        }
      readLoop(pool, readers, a.seconds, a.round, 1, ctx.rec, () => (), send)
      writer.join()
      readFigures(ctx)
      val wl = ctx.rec.ops.filter(_._1 == "write").map(_._3)
      ctx.metrics("write_rps") = wl.size / ctx.rec.windowS
      ctx.metrics("write_p50_ms") = median(wl)
      ctx.metrics("fresh_read_p50_ms") = median(ctx.rec.ops.filter(_._1 == "fresh").map(_._3))
      // a pinned read's response depends on the write it checked
      pool.filter(_.kind == "fresh").foreach(r => ctx.rec.responses.remove(r.id))

      val traced = mutable.ArrayBuffer.empty[Write]
      if (a.trace) {
        traceTotals(ctx)
        val client = new Client(port)
        traced ++= traceWrites(ctx, (b, h) => client.post(b, h: _*),
          () => router.writer.currentStore, root, writes.drop(writes.size / 2), pool)
        ctx.drainListeners()
        writeJobStats(ctx)
      }
      mixedChecks(ctx, router, root, port, acked.toSeq ++ traced)
    } finally {
      router.stop()
    }
  }

  /** Writes one at a time, each followed by the model and search layers
    * it moves: segment bytes, a commit of the same batch to a scratch
    * log, a replica catch-up, the written label's scan partitions, the
    * cached index artifacts, and the first text search after a Document
    * write. Returns the acked writes.
    */
  private def traceWrites(ctx: Ctx, post: (String, Seq[(String, String)]) => Reply,
      store: () => GraphStore, root: String, ws: Seq[Write], pool: Seq[Req]): Seq[Write] = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val scratchRoot = s"${ctx.a.tmp}/wal-commit-probe"
    var st = GraphWal.openReplica(spark, root)
    val textReq = pool.find(_.kind == "text_bm25")
    val sample = ws.groupBy(_.kind).values.flatMap(_.take(TracedPerKind)).toSeq.sortBy(_.id)
    sample.filter { w =>
      Trace.span("request", w.id) {
        val before = walBytes(root)
        val t0 = System.nanoTime()
        val reply = Trace.span("server.http", w.id)(post(w.body, Nil))
        ctx.sample("write_ms", ms(System.nanoTime() - t0))
        if (reply.status != 200) ctx.rec.fail(s"traced ${w.id}: ${reply.body}")
        ctx.sample("wal.bytes_per_write", (walBytes(root) - before).toDouble)
        val req = Trace.span("ast.parse", w.id, sc)(Json.parseRequest(w.body))
        Trace.span("wal.commit", w.id, sc)(
          GraphWal.logWrite(scratchRoot, req.batch, req.parameters))
        val next = Trace.span("wal.catchup", w.id, sc)(GraphWal.advanceReplica(spark, root, st))
        ctx.sample("wal.segments_replayed", (next.position - st.position).toDouble)
        st = next
        ctx.sample("model.scan_partitions",
          store().nodesFor(w.label).rdd.getNumPartitions.toDouble)
        ctx.sample("search.index_artifacts", IndexCache.size.toDouble)
        if (w.label == "Document") textReq.foreach { t =>
          val pin = reply.position.map(p => Seq("x-graft-min-position" -> p.toString))
            .getOrElse(Nil)
          Trace.span("search.text_first_after_write", w.id)(post(t.body, pin))
        }
        reply.status == 200
      }
    }
  }

  /** Properties every serve_mixed run must have. */
  private def mixedChecks(ctx: Ctx, router: Router, root: String, port: Int,
      acked: Seq[Write]): Unit = {
    val client = new Client(port)
    val pos = GraphWal.commitPosition(root)
    // every acked write is visible to a read pinned to the final position
    // (no later write can change its answer: each write touches its own node)
    val invisible = acked.filterNot { w =>
      val reply = client.post(w.verify, "x-graft-min-position" -> pos.toString)
      reply.status == 200 && sameValue(scalar(reply.body), w.expect)
    }.map(_.id)
    val store = router.writer.currentStore
    val labels = Seq("Customer", "Document", "Order")
    val finalCounts = labels.map(l => l -> store.nodesFor(l).count()).toMap
    val dupNodes = store.allNodes.select("_id").groupBy("_id").count()
      .where(col("count") > 1).count()
    val dupEdges = store.allEdges.select("_id").groupBy("_id").count()
      .where(col("count") > 1).count()
    val recovered = GraphWal.recover(ctx.spark, root)
    val recoveredCounts = labels.map(l => l -> recovered.nodesFor(l).count()).toMap
    ctx.checks("mixed") = Map(
      "acked_add_customer" -> acked.count(_.kind == "add_customer"),
      "acked_add_document" -> acked.count(_.kind == "add_document"),
      "acked_set_property" -> acked.count(_.kind == "set_property"),
      "invisible_writes" -> invisible,
      "final_counts" -> finalCounts,
      "recovered_counts" -> recoveredCounts,
      "duplicate_node_ids" -> dupNodes,
      "duplicate_edge_ids" -> dupEdges,
      "wal_position" -> pos)
  }
}
