package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one JVM, one SparkSession, one workload.
  *
  * {{{
  *   Main --workload argo_batch|upload_serve|semantic_search --seed N
  *        --seconds S --trace 0|1 --work DIR --record FILE
  *        [--build-key KEY] [--git-sha SHA]
  * }}}
  *
  * Set-up (session, inputs, untimed warm-up) is followed by one untraced
  * pass over the workload's fixed operation sequence; `--trace 1` adds a
  * second, traced pass over the same sequence. The last stdout line is the
  * result object; the run record (seed, build, cores, heap, load, GC, every
  * metric) goes to `--record`.
  */
object Main {
  /** Per-layer metrics, in report order, with units. A workload reports 0
    * for a layer it does not exercise.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "sources.decode_ms" -> "ms", "sources.files" -> "count", "sources.bytes_in" -> "bytes",
    "sources.rows_out" -> "count", "sources.quarantined" -> "count",
    "ingest.clean_ms" -> "ms", "ingest.rows_in" -> "count", "ingest.rows_kept" -> "count",
    "agg.floats_ms" -> "ms", "agg.profiles_ms" -> "ms",
    "text.summaries_ms" -> "ms", "vector.embed_corpus_ms" -> "ms",
    "stream.table_commit_ms" -> "ms", "stream.bytes_written" -> "bytes",
    "stream.query_start_ms" -> "ms", "stream.drain_ms" -> "ms",
    "stream.batches_per_upload" -> "count", "stream.admit_ratio" -> "ratio",
    "stream.latest_offset_ms" -> "ms", "stream.get_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
    "stream.state_rows" -> "count", "stream.state_commit_ms" -> "ms",
    "manifest.versions" -> "count", "manifest.files" -> "count",
    "manifest.files_opened_ratio" -> "ratio", "manifest.lookup_ms" -> "ms",
    "spark.plan_ms" -> "ms", "vector.embed_docs_ms" -> "ms", "vector.knn_ms" -> "ms",
    "vector.docs_scored" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.driver_gap_ms" -> "ms", "jvm.gc_ms" -> "ms",
    "trace.overhead_ratio" -> "ratio", "trace.coverage_min" -> "ratio")

  /** The root span name of each workload's user operation. */
  val MainOp: Map[String, String] = Map(
    "argo_batch" -> "argo.iteration", "upload_serve" -> "upload.request",
    "semantic_search" -> "search.query")

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = o.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val record = Paths.get(need("record")).toAbsolutePath
    // One vCPU is left to the driver thread, the JIT and GC, so a task of a
    // stage does not wait behind them: on a shared 4-vCPU host local[3] ran
    // steadier than local[4] (op p50 within 3% over 3 seeds, against 16%).
    val cores = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors() - 1))
    if (!MainOp.contains(workload)) {
      System.err.println(s"unknown workload $workload"); sys.exit(2)
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadAvg()
    val stat0 = cpuTicks()
    Files.createDirectories(work)
    val spark = session(cores, work)
    val sessionMs = (System.currentTimeMillis() - jvmStart).toDouble

    val tr = new Tracer(spark)
    val ctx = new Ctx(spark, work, seed, seconds, tr)
    val wl: Workload = workload match {
      case "argo_batch" => new ArgoBatch(ctx)
      case "upload_serve" => new UploadServe(ctx)
      case "semantic_search" => new SemanticSearch(ctx)
    }
    val prepareMs = timeMs(wl.prepare())
    val warm = new Recorder(tr)
    val warmMs = timeMs(wl.warmUp(warm))
    def sinceStart = (System.currentTimeMillis() - jvmStart).toDouble
    // JVM start to the first timed operation
    val setupEndMs = sinceStart

    val gc0 = Tracer.gcMs
    val rec = new Recorder(tr)
    wl.pass(rec)
    val gcPassMs = Tracer.gcMs - gc0
    val passEndMs = sinceStart
    val traced = if (!trace) None else {
      tr.enable()
      val r = new Recorder(tr)
      wl.pass(r)
      tr.sparkCounters.drain(spark.sparkContext)
      Some(r)
    }
    val tracedEndMs = sinceStart
    try wl.verify()
    catch { case NonFatal(e) => ctx.check(false, s"verify failed: $e") }
    val verifyEndMs = sinceStart

    val probeMs = cpuProbeMs()
    val stat1 = cpuTicks()
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0

    val recs = Seq(warm, rec) ++ traced
    val attempted = recs.map(_.attempted).sum
    val failed = recs.map(_.failed).sum
    val e2e = Seq(
      "setup_s" -> (setupEndMs / 1000, "s"),
      "op_ms_p50" -> (Recorder.p50(rec.ops.toSeq), "ms"),
      "lookup_ms_p50" -> (Recorder.p50(rec.lookups.toSeq), "ms"),
      "heap_mb" -> (heapMb, "MB"))
    val layers = traced.map(t => layerMetrics(workload, wl, tr, t, rec)).getOrElse(Nil)
    val metrics = if (trace) layers else e2e

    val recordFields = Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (trace) "1" else "0"),
      "git_sha" -> str(o.getOrElse("git-sha", "unknown")),
      "build_key" -> str(o.getOrElse("build-key", "unknown")),
      "cores" -> cores.toString, "heap_max_mb" -> num(rt.maxMemory / 1048576.0),
      "loadavg_start" -> str(load0), "loadavg_end" -> str(loadAvg()),
      "cpu_probe_ms" -> num(probeMs),
      "cpu_ticks" -> obj(CpuFields.indices.map(i =>
        CpuFields(i) -> num((stat1.lift(i).getOrElse(0L) - stat0.lift(i).getOrElse(0L)).toDouble))),
      "gc_ms_timed_pass" -> num(gcPassMs), "gc_ms_total" -> num(Tracer.gcMs),
      "setup" -> obj(Seq("session_ms" -> num(sessionMs),
        "prepare_ms" -> num(prepareMs),
        "warmup_ms" -> num(warmMs),
        "warmup_op_ms" -> warm.ops.map(num).mkString("[", ",", "]"))),
      "timeline_ms" -> obj(Seq("setup_end" -> num(setupEndMs), "pass_end" -> num(passEndMs),
        "traced_end" -> num(tracedEndMs), "verify_end" -> num(verifyEndMs),
        "record" -> num(sinceStart))),
      "ops" -> num(rec.ops.size), "lookups" -> num(rec.lookups.size),
      "op_ms_p90" -> Recorder.p90(rec.ops.toSeq).map(num).getOrElse("null"),
      "lookup_ms_p90" -> Recorder.p90(rec.lookups.toSeq).map(num).getOrElse("null"),
      "op_ms" -> rec.ops.map(num).mkString("[", ",", "]"),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "errors" -> recs.flatMap(_.errors).map(str).mkString("[", ",", "]"),
      "problems" -> ctx.problems.map(str).mkString("[", ",", "]"),
      "end_to_end" -> metricsJson(e2e), "per_layer" -> metricsJson(layers))
    Files.createDirectories(record.getParent)
    Files.write(record, (obj(recordFields) + "\n").getBytes("UTF-8"))
    if (trace) tr.writeJsonl(Paths.get(record.toString.stripSuffix(".json") + "-spans.jsonl"))

    ctx.problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    recs.flatMap(_.errors).foreach(e => System.err.println(s"[perfbench] op failed: $e"))
    spark.stop()
    val correct = ctx.problems.isEmpty
    println(obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metricsJson(metrics))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def layerMetrics(workload: String, wl: Workload, tr: Tracer,
      traced: Recorder, untraced: Recorder): Seq[(String, (Double, String))] = {
    val main = tr.opSpans.filter(_.name == MainOp(workload)).map(_.id)
    val n = main.size.max(1).toDouble
    val sc = tr.sparkCounters
    def perOp(f: sc.Acc => Long): Double =
      main.flatMap(id => Option(sc.acc.get(id))).map(a => f(a).toDouble).sum / n
    val common = Map(
      "spark.jobs" -> perOp(_.jobs), "spark.stages" -> perOp(_.stages),
      "spark.tasks" -> perOp(_.tasks), "spark.executor_run_ms" -> perOp(_.runMs),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite),
      "spark.driver_gap_ms" -> main.map(sc.driverGapMs).sum / n,
      "jvm.gc_ms" -> main.map(id => tr.opGcMs.getOrElse(id, 0.0)).sum / n,
      "trace.overhead_ratio" -> traced.wallMs / untraced.wallMs.max(1e-9),
      "trace.coverage_min" -> tr.minCoverage)
    val all = common ++ wl.layers()
    LayerMetrics.map { case (k, unit) => k -> (all.getOrElse(k, 0.0), unit) }
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val tier = graft.BenchProfile.tier(0L, cores)
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", tier.shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", tier.aqe.toString)
      .config("spark.shuffle.compress", tier.compress.toString)
      .config("spark.shuffle.spill.compress", tier.compress.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new graft.expressions.GraftExtensions())
    graft.stream.LocalFsPerf.tune(b)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  /** Host-wide CPU ticks from /proc/stat (user .. steal), so a slow run
    * can be told apart from a busy or oversubscribed machine. */
  private val CpuFields = Seq("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
  private def cpuTicks(): Seq[Long] =
    try new String(Files.readAllBytes(Paths.get("/proc/stat")), "UTF-8")
      .linesIterator.next().split("\\s+").drop(1).take(CpuFields.size).map(_.toLong).toSeq
    catch { case NonFatal(_) => Nil }

  /** A fixed single-thread integer loop, timed after the passes: the same
    * work in every run, so its time tracks how fast this machine was. */
  private def cpuProbeMs(): Double = {
    val t0 = System.nanoTime()
    var h = 0x811c9dc5L; var i = 0
    while (i < 200000000) { h = (h ^ i) * 0x01000193L; i += 1 }
    if (h == 42) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  }

  private def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").trim
    catch { case NonFatal(_) => "unavailable" }

  // ------------------------------------------------------------------ JSON

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  /** A metric whose percentile falls on a failed operation (+inf) is
    * reported as null. */
  private def metricsJson(ms: Seq[(String, (Double, String))]): String =
    obj(ms.map { case (k, (v, u)) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
