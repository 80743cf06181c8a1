package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One benchmark run in a fresh JVM: set up, run one cold pass over the
  * run's ops, then the timed ops, and print one JSON result line last.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --root <checkout> --work <scratch dir> [--queries q1,q2,...]
  *
  * `--queries` replaces a catalog workload's seeded sample with the named
  * queries, in that order; `calibrate.py` uses it to measure the list's
  * reference costs.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, root: Path, work: Path, queries: Option[IndexedSeq[String]])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--root")),
      Paths.get(need("--work")),
      m.get("--queries").map(_.split(',').toIndexedSeq))
  }

  val CatalogLazy = "catalog_lazy"
  val CatalogEager = "catalog_eager"
  val MedallionRefresh = "medallion_refresh"

  /** Catalog workloads: frozen list, queries per run, and the nominal op
    * rate that turns `--seconds` into a fixed number of timed passes. The
    * work of a run depends on `--seconds` and the seed only, never on how
    * fast the program is. */
  final case class CatalogSpec(list: String, sample: Int, opsPerSecond: Double)
  val Catalogs: Map[String, CatalogSpec] = Map(
    CatalogLazy -> CatalogSpec("lazy.txt", 8, 32 / 20.0),
    CatalogEager -> CatalogSpec("eager.txt", 5, 20 / 20.0))

  /** Medallion: the first `BackfillRounds` weekends of one season are
    * backfilled (HISTORICAL) in the cold pass; the next season's weekends
    * are INCREMENTAL refreshes, 16 ops each, the first one in the cold
    * pass too. */
  val BackfillYear = 2024
  val RefreshYear = 2025
  val BackfillRounds = 4
  val ColdRefreshes = 1
  val RefreshOpsPerSecond = 32 / 20.0

  def passes(seconds: Int, opsPerSecond: Double, opsPerPass: Int): Int =
    math.max(1, math.round(seconds * opsPerSecond / opsPerPass).toInt)

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch { case e: Exception =>
      System.err.println(s"[perfbench] ${e.getMessage}"); sys.exit(2)
    }
    if (!Catalogs.contains(a.workload) && a.workload != MedallionRefresh) {
      System.err.println(s"[perfbench] unknown workload ${a.workload}")
      sys.exit(2)
    }
    val run = new Run(a)
    val line = try run.execute() finally run.stop()
    println(line)
  }

  /** The memory the JVM holds, read exactly: a full collection, then the
    * heap and non-heap pools in use. The cold pass probes at the end of
    * every op, while the op still holds its output, GlobalRank pins and
    * caches. `meanMb` is the run's `op_live_mb`; `peakHeapMb` the largest
    * heap reading, which shows the heaviest op's pins. */
  object LiveMem {
    private var heap = 0L
    private var total = 0.0
    private var probes = 0
    private def mb(b: Long) = b / (1024.0 * 1024.0)
    def peakHeapMb: Double = mb(heap)
    def meanMb: Double = if (probes > 0) total / probes else Double.NaN
    def probe(): Unit = {
      System.gc()
      val m = ManagementFactory.getMemoryMXBean
      val used = m.getHeapMemoryUsage.getUsed
      heap = math.max(heap, used)
      total += mb(used + m.getNonHeapMemoryUsage.getUsed)
      probes += 1
    }
  }

  def rssPeakMb(): Double = {
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble)
    hwm.getOrElse(Double.NaN) / 1024.0
  }
}

/** The state of one run. */
final class Run(a: Main.Args) {
  import Main._

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val cores = Runtime.getRuntime.availableProcessors()
  private val layers = mutable.LinkedHashMap[String, Double]()
  private var spark: SparkSession = _
  private var runner: OpRunner = _
  private var tracer: Tracer = _

  def stop(): Unit = if (spark != null) spark.stop()

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The cold pass, with a memory probe at the end of every op; the
    * probes' time is left out of the pass's time and of `setup_s`. */
  private def probed(pass: => Seq[OpRecord]): (Seq[OpRecord], Double) = {
    runner.probe = Some(() => LiveMem.probe())
    val (ops, s) = try timed(pass) finally runner.probe = None
    (ops, s - runner.probeS)
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def execute(): String = {
    val (s, sessionS) = timed(GraftSession.local(cores.toString, "perfbench"))
    spark = s
    runner = new OpRunner(spark)
    tracer = new Tracer(spark)
    layers("core.session_s") = sessionS
    if (a.workload == MedallionRefresh) medallion() else catalog()
  }

  // ---- catalog workloads ----

  private def catalog(): String = {
    val spec = Catalogs(a.workload)
    val base = a.root.resolve("perfbench/catalog")
    val dir = base.resolve("fixture").toString
    val list = Catalog.readList(base.resolve(spec.list))
    val expected = Catalog.readExpected(base.resolve("expected.tsv"))
    val sampleSize = a.queries.fold(spec.sample)(_.size)
    val timedPasses = passes(a.seconds, spec.opsPerSecond, sampleSize)
    val sample = a.queries.getOrElse(
      Sampler.sample(list, spec.sample, timedPasses, a.seed))

    layers("core.table_touch_s") = timed(Catalog.touchTables(spark, dir))._2
    val c0 = compiles
    val (cold, coldS) = probed(sample.map(Catalog.op(runner, spark, dir, _, expected)))
    layers("warm.cold_pass_s") = coldS
    layers("codegen.cold_compiles") = (compiles - c0).toDouble
    val setupS = (runner.nowMs - jvmStartMs) / 1000.0 - runner.probeS
    coldFailures(cold)

    // a traced run alternates untraced and traced passes, so it runs
    // twice as many
    val units = if (a.trace) 2 * timedPasses else timedPasses
    finish(setupS, (1 to units).map(_ => () =>
      sample.map(Catalog.op(runner, spark, dir, _, expected))), None)
  }

  /** Failed cold-pass ops make the run incorrect; they are not timed ops,
    * so they do not count in `attempted` or `failed`. */
  private var coldFailed = 0

  private def coldFailures(cold: Seq[OpRecord]): Unit = {
    coldFailed = cold.count(_.failed)
    cold.filter(_.failed).foreach(r =>
      System.err.println(s"[perfbench] cold op ${r.name} failed: ${r.error.getOrElse("")}"))
  }

  // ---- medallion workload ----

  private def medallion(): String = {
    val refreshes = passes(a.seconds, RefreshOpsPerSecond, 16)
    // a traced run alternates untraced and traced refreshes, so it needs
    // twice the weekends; each refresh is the next weekend of the season
    val weeks = ColdRefreshes + (if (a.trace) 2 * refreshes else refreshes)
    require(weeks <= F1Gen.Rounds,
      s"--seconds ${a.seconds} needs more weekends than a season has")
    // from the untraced refresh count only, so a traced run of a seed
    // merges the same team change as its untraced run
    val changeRound = ColdRefreshes + 1 +
      java.lang.Math.floorMod(a.seed, refreshes.toLong).toInt
    val gen = new F1Gen(a.seed, Seq(BackfillYear, RefreshYear), changeRound)
    val m = new Medallion(spark, runner, gen, a.work.resolve("warehouse"))
    val history = (1 to BackfillRounds).map(gen.weekend(BackfillYear, _))
    val weekly = (1 to weeks).map(gen.weekend(RefreshYear, _))
    layers("core.table_touch_s") = timed(m.land(history ++ weekly))._2
    val c0 = compiles
    val (cold, coldS) = probed(m.backfill(Seq(BackfillYear)) ++
      weekly.take(ColdRefreshes).flatMap(m.refresh))
    layers("warm.cold_pass_s") = coldS
    layers("codegen.cold_compiles") = (compiles - c0).toDouble
    val setupS = (runner.nowMs - jvmStartMs) / 1000.0 - runner.probeS
    coldFailures(cold)
    finish(setupS, weekly.drop(ColdRefreshes).map(w => () => m.refresh(w)), Some(m))
  }

  // ---- timing, tracing, result ----

  /** Run the timed units in order. Traced: units alternate untraced and
    * traced, so both halves see the same JVM warmth and the tracing
    * overhead is the difference of the two. */
  private def finish(setupS: Double, units: Seq[() => Seq[OpRecord]],
      medallion: Option[Medallion]): String = {
    val untraced = mutable.ArrayBuffer[OpRecord]()
    val traced = mutable.ArrayBuffer[OpRecord]()
    var tracedCompiles = 0L
    if (!a.trace) units.foreach(u => untraced ++= u())
    else {
      units.zipWithIndex.foreach { case (u, k) =>
        if (k % 2 == 0) untraced ++= u()
        else {
          tracer.install()
          tracer.resetStorage()
          val c0 = compiles
          traced ++= u()
          tracedCompiles += compiles - c0
          tracer.fence()
          tracer.uninstall()
        }
      }
    }
    val checks = medallion.map { m =>
      val bad = m.silverMismatches()
      bad.foreach(t => System.err.println(
        s"[perfbench] silver.$t differs from a backfill-only build"))
      bad.isEmpty
    }.getOrElse(true)

    val measured = if (a.trace) traced.toSeq else untraced.toSeq
    // per-op times, in the run's log only
    measured.foreach(r => System.err.println(
      s"[op] ${r.name} ${r.seconds.map(s => "%.4f".format(s)).getOrElse("failed")}"))
    val times = measured.flatMap(_.seconds)
    val failed = measured.count(_.failed)
    val attempted = measured.size
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!a.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("wall_s") = (times.sum, "s")
      metrics("op_p50_s") = (Stats.quantile(times, 0.5), "s")
      metrics("op_p90_s") = (Stats.quantile(times, 0.9), "s")
      metrics("ok_frac") = (1.0 - failed.toDouble / attempted, "ratio")
      metrics("op_live_mb") = (LiveMem.meanMb, "MB")
    } else {
      perLayer(traced.toSeq, untraced.toSeq, tracedCompiles, medallion)
        .foreach { case (k, v) => metrics(k) = v }
      writeTrace(traced.toSeq)
    }
    System.err.println(s"[perfbench] ${a.workload} seed=${a.seed} timed ops=$attempted " +
      s"failed=$failed samples beyond p90=${if (times.nonEmpty) Stats.beyond(times, 0.9) else 0} " +
      s"setup_s=${"%.2f".format(setupS)} op_live_mb=${"%.1f".format(LiveMem.meanMb)} " +
      s"peak_rss_mb=${"%.1f".format(rssPeakMb())} probe_s=${"%.2f".format(runner.probeS)} " + layers.map { case (k, v) => s"$k=${"%.2f".format(v)}" }.mkString(" "))
    Json.obj(Seq(
      "correct" -> (failed == 0 && coldFailed == 0 && checks).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
  }

  private def perLayer(ops: Seq[OpRecord], untraced: Seq[OpRecord],
      tracedCompiles: Long, medallion: Option[Medallion])
      : Seq[(String, (Double, String))] = {
    def groups(r: OpRecord) = Seq(runner.constructGroup(r.index), runner.execGroup(r.index))
    def sum(f: Counts => Long) = ops.flatMap(groups).map(g => f(tracer.get(g))).sum.toDouble
    def sumOps(p: OpRecord => Boolean)(f: OpRecord => Double) = ops.filter(p).map(f).sum
    def named(prefix: String)(r: OpRecord) = r.name.startsWith(prefix)
    val opS = ops.flatMap(_.seconds).sum
    val constructS = ops.map(_.constructS).sum
    val execWall = ops.flatMap(r => r.seconds.map(_ - r.constructS)).sum
    val constructJobs = ops.map(r => tracer.get(runner.constructGroup(r.index)).jobs).sum
    val taskRunS = sum(_.taskRunMs) / 1e3
    val bytesWritten = sum(_.outputBytes)
    val stored = medallion.map(_.storedBytes.toDouble).getOrElse(0.0)
    val bronze = medallion.map(_.bronzeBytes.toDouble).getOrElse(0.0)
    val selfTimes = ops.map { r =>
      val gs = groups(r).flatMap(tracer.spansOf)
      val jobs = gs.filter(_.layer == "exec")
      val phases = gs.filter(_.layer == "catalyst")
      val op = Span(r.name, "op", r.startMs, r.endMs)
      val construct = Span("construct", "construct", r.startMs,
        r.startMs + r.constructS * 1000)
      (Tracer.selfMs(jobs, Nil), Tracer.selfMs(phases, jobs),
        Tracer.selfMs(Seq(construct), jobs ++ phases),
        Tracer.selfMs(Seq(op), Seq(construct) ++ jobs ++ phases))
    }
    // the driver-side part of a write (job commit, partition moves,
    // renames): its op's time outside construction, Catalyst and jobs
    val writeOtherMs = ops.zip(selfTimes).collect {
      case (o, t) if Seq("silver.", "gold.", "scd2.").exists(o.name.startsWith) => t._4
    }.sum
    def ratio(x: Double, y: Double) = if (y > 0) x / y else 0.0
    val s = "s"; val n = "count"; val b = "bytes"; val r = "ratio"
    layers.toSeq.map { case (k, v) => k -> (v, if (k.endsWith("_s")) s else n) } ++ Seq(
      "jvm.peak_live_heap_mb" -> (LiveMem.peakHeapMb, "MB"),
      "jvm.peak_rss_mb" -> (rssPeakMb(), "MB"),
      "construct.s" -> (constructS, s),
      "construct.jobs" -> (constructJobs.toDouble, n),
      "construct.share" -> (ratio(constructS, opS), r),
      "globalrank.layouts_freed" -> (ops.map(_.freed).sum.toDouble, n),
      "globalrank.close_s" -> (ops.map(_.closeS).sum, s),
      "storage.peak_bytes" -> (tracer.storagePeakBytes.toDouble, b),
      "catalyst.analysis_s" -> (sum(_.analysisMs) / 1e3, s),
      "catalyst.optimization_s" -> (sum(_.optimizationMs) / 1e3, s),
      "catalyst.planning_s" -> (sum(_.planningMs) / 1e3, s),
      "catalyst.query_executions" -> (sum(_.queryExecutions), n),
      "catalyst.exchanges" -> (sum(_.exchanges), n),
      "catalyst.reused_exchanges" -> (sum(_.reusedExchanges), n),
      "codegen.compiles" -> (tracedCompiles.toDouble, n),
      "exec.jobs" -> (sum(_.jobs), n),
      "exec.stages" -> (sum(_.stages), n),
      "exec.tasks" -> (sum(_.tasks), n),
      "exec.failed_tasks" -> (sum(_.failedTasks), n),
      "exec.task_run_s" -> (taskRunS, s),
      "exec.task_cpu_s" -> (sum(_.taskCpuNs) / 1e9, s),
      "exec.gc_s" -> (sum(_.gcMs) / 1e3, s),
      "exec.utilization" -> (ratio(taskRunS, execWall * cores), r),
      "exec.shuffle_read_bytes" -> (sum(_.shuffleRead), b),
      "exec.shuffle_write_bytes" -> (sum(_.shuffleWrite), b),
      "exec.spill_bytes" -> (sum(_.spill), b),
      "exec.peak_exec_mem_bytes" -> (ops.flatMap(groups)
        .map(g => tracer.get(g).peakExecMem).maxOption.getOrElse(0L).toDouble, b),
      "exec.input_bytes" -> (sum(_.inputBytes), b),
      "exec.input_rows" -> (sum(_.inputRows), n),
      "exec.output_rows" -> (ops.map(_.outputRows).sum.toDouble, n),
      "sources.read_s" -> (sumOps(named("sources."))(_.seconds.getOrElse(0.0)), s),
      "sources.files_read" -> (sum(_.filesRead), n),
      "sources.partitions_read" -> (sum(_.partitionsRead), n),
      "silver.s" -> (sumOps(named("silver."))(_.seconds.getOrElse(0.0)), s),
      "silver.rows_out" -> (sumOps(named("silver."))(_.outputRows.toDouble), n),
      "gold.s" -> (sumOps(named("gold."))(_.seconds.getOrElse(0.0)), s),
      "gold.rows_out" -> (sumOps(named("gold."))(_.outputRows.toDouble), n),
      "io.write_s" -> (writeOtherMs / 1e3, s),
      "io.bytes_written" -> (bytesWritten, b),
      "io.files_written" -> (sum(_.filesWritten), n),
      "io.rows_written" -> (sum(_.outputRows), n),
      "io.write_amp" -> (ratio(bytesWritten, stored), r),
      "io.scd2_s" -> (sumOps(named("scd2."))(_.seconds.getOrElse(0.0)), s),
      "io.stored_bytes" -> (stored, b),
      "io.stored_bytes_per_bronze_byte" -> (ratio(stored, bronze), r),
      "self.exec_s" -> (selfTimes.map(_._1).sum / 1e3, s),
      "self.catalyst_s" -> (selfTimes.map(_._2).sum / 1e3, s),
      "self.construct_s" -> (selfTimes.map(_._3).sum / 1e3, s),
      "self.other_s" -> (selfTimes.map(_._4).sum / 1e3, s),
      "ops.failed_frac" -> (ratio(ops.count(_.failed), ops.size), r),
      "trace.wall_traced_s" -> (opS, s),
      "trace.wall_untraced_s" -> (untraced.flatMap(_.seconds).sum, s),
      "trace.overhead_s" -> (opS - untraced.flatMap(_.seconds).sum, s),
      "trace.unattributed_events" -> (tracer.unattributedEvents.toDouble, n))
  }

  /** Spans and per-op counts as JSON lines under the work directory's
    * parent: `trace-<workload>-<seed>.jsonl`. */
  private def writeTrace(ops: Seq[OpRecord]): Unit = {
    val out = a.work.getParent.resolve(s"trace-${a.workload}-${a.seed}.jsonl")
    val lines = ops.flatMap { r =>
      val c = tracer.get(runner.constructGroup(r.index))
      val x = tracer.get(runner.execGroup(r.index))
      val op = Json.obj(Seq("kind" -> Json.str("op"), "op" -> r.index.toString,
        "name" -> Json.str(r.name), "ok" -> r.ok.toString,
        "seconds" -> r.seconds.map(Json.num).getOrElse("null"),
        "construct_s" -> Json.num(r.constructS),
        "construct_jobs" -> c.jobs.toString, "exec_jobs" -> x.jobs.toString,
        "stages" -> (c.stages + x.stages).toString,
        "tasks" -> (c.tasks + x.tasks).toString,
        "shuffle_bytes" -> (c.shuffleWrite + x.shuffleWrite).toString,
        "spill_bytes" -> (c.spill + x.spill).toString,
        "layouts_freed" -> r.freed.toString,
        "output_rows" -> r.outputRows.toString))
      val spans = (Span(r.name, "op", r.startMs, r.endMs) +:
        Span("construct", "construct", r.startMs, r.startMs + r.constructS * 1000) +:
        (tracer.spansOf(runner.constructGroup(r.index)) ++
          tracer.spansOf(runner.execGroup(r.index)))).map { sp =>
        Json.obj(Seq("kind" -> Json.str("span"), "op" -> r.index.toString,
          "name" -> Json.str(sp.name), "layer" -> Json.str(sp.layer),
          "parent" -> (if (sp.layer == "op") "null" else Json.str(s"op ${r.index}")),
          "start_ms" -> Json.num(sp.startMs), "end_ms" -> Json.num(sp.endMs)))
      }
      op +: spans
    }
    Files.write(out, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
