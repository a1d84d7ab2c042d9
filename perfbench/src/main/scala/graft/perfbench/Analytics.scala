package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.pipeline.Scratch

import Main._

/** The `analytics` workload: a fixed list of oracle-backed registry
  * queries, each timed once cold and once warm per round.
  *
  * Cold means the query's plan-keyed artifacts are not built yet. Every
  * engine cache keys on the scan path or the canonical plan, so each
  * round reads a fresh copy of the corpus under a new path: the cold
  * pass builds the artifacts, the warm pass reuses them.
  */
object Analytics {

  private def copyDir(src: String, dst: String): Unit = {
    Files.createDirectories(Paths.get(dst))
    val s = Files.list(Paths.get(src))
    try s.forEach { p: Path =>
      if (Files.isRegularFile(p))
        Files.copy(p, Paths.get(dst).resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def run(ctx: Ctx): Unit = {
    val a = ctx.a
    val spark = ctx.spark
    val sc = spark.sparkContext
    val names = a.queries
    require(names.nonEmpty, "analytics needs --queries")
    names.foreach(n => require(SparkEntry.queries.contains(n) && SparkEntry.oracleSql.contains(n),
      s"$n is not an oracle-backed registry query"))

    def runOnce(name: String, dir: String, pass: String): Double = {
      // reap dead checkpoint blocks outside the timed region (graft.Bench)
      System.gc()
      val t0 = System.nanoTime()
      Trace.span("pipeline.query", s"$name:$pass", sc) {
        if (Trace.on) sc.setJobDescription(s"$name:$pass")
        try SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
        finally if (Trace.on) sc.setJobDescription(null)
      }
      val t = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] $name%-22s $pass%-5s $t%8.3f s")
      t
    }

    // set-up: JIT/codegen warm-up of every plan shape on the tiny corpus
    val tinyDir = s"${a.tmp}/tiny"
    copyDir(a.tiny, tinyDir)
    names.foreach(n => runOnce(n, tinyDir, "setup"))
    Scratch.drainLedgerJson()
    ctx.windowStart()
    Trace.clear()
    ctx.rec.markStart()

    val cold = mutable.ArrayBuffer.empty[Double]
    val warm = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val ledgers = mutable.LinkedHashMap.empty[String, String]
    val start = System.nanoTime()
    val deadline = start + (a.seconds * 1e9).toLong
    var round = 0
    var lastDir = ""
    // at least three rounds: an operation kind's median over three runs
    // shrugs off one disturbed run
    while (round < 3 || System.nanoTime() < deadline) {
      val dir = s"${a.tmp}/data-$round"
      copyDir(a.data, dir)
      Seq("cold" -> cold, "warm" -> warm).foreach { case (pass, sums) =>
        var sum = 0.0
        names.foreach { n =>
          ctx.rec.attempted.incrementAndGet()
          try {
            val t = runOnce(n, dir, pass)
            sum += t
            ctx.rec.add(pass, s"$n:$pass", t * 1000)
            perQuery.getOrElseUpdate(s"$n:$pass", mutable.ArrayBuffer.empty) += t
          } catch {
            case e: Exception => ctx.rec.fail(s"$n:$pass: $e")
          }
        }
        sums += sum
        if (round == 0) ledgers(pass) = Scratch.drainLedgerJson()
      }
      lastDir = dir
      round += 1
    }
    ctx.rec.windowS = (System.nanoTime() - start) / 1e9
    ctx.metrics("analytics_cold_s") = median(cold.toSeq)
    ctx.metrics("analytics_warm_s") = median(warm.toSeq)
    ctx.checks("rounds") = round
    ctx.checks("per_query_s") = perQuery.map { case (k, v) => k -> median(v.toSeq) }
    ctx.checks("cache_ledger") = ledgers.map { case (k, v) => k -> v }
    if (a.trace) {
      ctx.drainListeners()
      ctx.checks("storage_mb") = sc.getRDDStorageInfo
        .map(i => (i.memSize + i.diskSize) / 1048576.0).sum
      val all = ctx.counters.bySpan.values.asScala
      ctx.checks("trace_window") = Map(
        "task_s" -> all.map(_.taskNanos).sum / 1e9,
        "gc_ms" -> all.map(_.gcMs).sum)
      Main.writeJobStats(ctx)
    }

    // outputs for the oracle check, written after every timed pass
    names.foreach { n =>
      SparkEntry.queries(n)(spark, lastDir).coalesce(1).write.mode("overwrite")
        .parquet(s"${a.out}/analytics/$n")
    }
    Files.writeString(Paths.get(a.out, "oracle_sql.json"),
      js(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
  }
}
