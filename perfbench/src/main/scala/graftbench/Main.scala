package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.lake.LakeTable

/** Everything one workload run needs: the session, its inputs' seed, the
  * run length, and the tracing switches.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: Path, val traceDir: Path) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer
  val listener = new JobListener
  private var attached = false
  /** Codegen compile time and count of the traced ops. */
  var tracedCompileNs = 0L
  var tracedOps = 0

  /** Traced runs alternate traced and untraced operations so the run itself
    * measures what tracing costs. Switching drains the listener bus first.
    */
  def setTraced(on: Boolean): Unit = if (trace) {
    Bus.drain(spark.sparkContext)
    if (on && !attached) spark.sparkContext.addSparkListener(listener)
    if (!on && attached) spark.sparkContext.removeSparkListener(listener)
    attached = on
    tracer.enabled = on
  }

  def drain(): Unit = Bus.drain(spark.sparkContext)

  def fresh(name: String): Path = {
    val p = work.resolve(name)
    LakeTable.deleteRecursively(p)
    Files.createDirectories(p)
    p
  }
}

/** One measured operation. `traced` ops feed the per-layer metrics; the
  * untraced ones of a traced run, apart from its `warmup` block, give the
  * tracing overhead.
  */
final case class OpSample(ms: Double, ok: Boolean, traced: Boolean = false, warmup: Boolean = false)

/** What a workload reports back to [[Main]]. */
final case class Outcome(
    setupS: Double,
    ops: Vector[OpSample],
    storedBytesPerUserByte: Double,
    checksFailed: Int,
    layers: Map[String, Double],
    notes: Seq[String])

object Main {

  /** Per-layer metrics of a traced run: name -> unit. Layers a workload does
    * not call report 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.parse_ms" -> "ms", "ingest.parse_mb_per_s" -> "MB/s", "ingest.jobs_per_drop" -> "count",
    "merge.ms" -> "ms", "merge.turns_per_s" -> "1/s", "merge.driver_self_ms" -> "ms", "merge.jobs_per_drop" -> "count",
    "merge.stages_per_drop" -> "count", "merge.tasks_per_drop" -> "count",
    "merge.shuffle_bytes_per_drop" -> "bytes", "merge.rows_rewritten_per_staged_row" -> "ratio",
    "merge.manifests_opened_share" -> "share",
    "lake.bytes_written_per_user_byte" -> "ratio", "lake.data_files" -> "count",
    "lake.manifests" -> "count", "lake.snapshots" -> "count", "lake.metadata_bytes" -> "bytes",
    "lake.scan_plan_ms" -> "ms", "lake.manifests_opened_per_read" -> "count",
    "lake.files_selected_per_read" -> "count", "lake.prune_ratio" -> "share",
    "lake.rows_examined_per_row_returned" -> "ratio",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms", "plans.planning_ms" -> "ms",
    "plans.jobs_per_read" -> "count",
    "maintain.compact_ms" -> "ms", "maintain.dedupe_ms" -> "ms", "maintain.retention_ms" -> "ms",
    "maintain.cluster_ms" -> "ms", "maintain.expire_gc_ms" -> "ms", "maintain.conv_dedupe_ms" -> "ms",
    "maintain.jobs" -> "count", "maintain.stages" -> "count", "maintain.tasks" -> "count",
    "maintain.input_bytes_per_live_byte" -> "ratio", "maintain.shuffle_bytes_per_live_byte" -> "ratio",
    "maintain.output_bytes_per_live_byte" -> "ratio", "maintain.rows_rewritten_share" -> "share",
    "sketches.store_bytes_per_data_byte" -> "ratio", "sketches.output_bytes_per_tick" -> "bytes",
    "spark.executor_busy_share" -> "share", "spark.cpu_share" -> "share",
    "spark.gc_share" -> "share", "spark.codegen_compile_ms" -> "ms",
    "trace.overhead_share" -> "share")

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "drop_merge" -> DropMerge.run,
    "maintenance_tick" -> MaintenanceTick.run,
    "lake_read" -> LakeRead.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.plans.GraftSparkExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toInt,
        opts("trace") == "1", work, Paths.get(opts("trace-dir")).toAbsolutePath)
      val out = run(ctx)
      ctx.setTraced(false)
      val ok = out.ops.filter(_.ok)
      val attempted = out.ops.size
      val failed = attempted - ok.size
      out.notes.foreach(n => println(s"note: $n"))
      println(s"op latencies ms: ${out.ops.map { o =>
        val tag = Seq("failed" -> !o.ok, "warm-up" -> o.warmup, "traced" -> o.traced).collect { case (t, true) => t }
        f"${o.ms}%.0f" + (if (tag.isEmpty) "" else tag.mkString(" (", ", ", ")"))
      }.mkString(", ")}")
      val metrics: Seq[(String, Double, String)] =
        if (!ctx.trace) {
          require(ok.nonEmpty, "no operation succeeded")
          val lat = ok.map(_.ms)
          val tail = Stats.tail(lat)
          println(f"op_tail_ms is p${tail.percentile}%.1f of ${tail.samples} samples")
          Seq(
            ("setup_s", out.setupS, "s"),
            ("op_p50_ms", Stats.median(lat), "ms"),
            ("op_tail_ms", tail.value, "ms"),
            ("stored_bytes_per_user_byte", out.storedBytesPerUserByte, "ratio"),
            ("peak_rss_mb", peakRssMb(), "MB"))
        } else {
          val traced = out.ops.filter(o => o.traced && o.ok)
          val untraced = out.ops.filter(o => !o.traced && !o.warmup && o.ok)
          val overhead =
            if (traced.isEmpty || untraced.isEmpty) 0.0
            else Stats.median(traced.map(_.ms)) / Stats.median(untraced.map(_.ms)) - 1.0
          val all = out.layers ++ Map(
            "trace.overhead_share" -> overhead,
            "spark.codegen_compile_ms" -> ctx.tracedCompileNs / 1e6 / math.max(1, ctx.tracedOps))
          val written = writeTrace(ctx, workload, all)
          println(s"trace written to $written; tracing overhead ${f"${overhead * 100}%.1f"}% " +
            s"(${traced.size} traced vs ${untraced.size} untraced ops)")
          PerLayer.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
        }
      val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ")
      val correct = out.checksFailed == 0
      println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    } finally spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  /** Spans (benchmark calls plus listener jobs as child spans) as JSON lines,
    * and the per-layer JSON with self time by layer and jobs by module.
    */
  private def writeTrace(ctx: Ctx, workload: String, layers: Map[String, Double]): Path = {
    val dir = ctx.traceDir.resolve(s"$workload-seed${ctx.seed}")
    LakeTable.deleteRecursively(dir)
    Files.createDirectories(dir)
    ctx.drain()
    val tr = new Trace(ctx.tracer.spans, ctx.listener.jobs)
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = tr.spans.map { s =>
      f"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${esc(s.name)}", "layer": "${s.layer}", "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, "self_ms": ${tr.selfMs(s)}%.3f}"""
    } ++ tr.jobs.map { j =>
      val p = tr.parentOf.get(j.jobId)
      f"""{"id": "job-${j.jobId}", "parent": ${p.map(_.id).getOrElse(0)}, "op": ${p.map(_.op).getOrElse(0)}, "name": "job ${j.jobId}", "layer": "${CallSites.layer(j.module)}", "module": "${j.module}", "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "stages": ${j.stages}, "tasks": ${j.tasks}, "run_ms": ${j.runMs}, "cpu_ms": ${j.cpuNs / 1e6}%.3f, "shuffle_write_bytes": ${j.shuffleWriteBytes}, "input_bytes": ${j.inputBytes}, "output_bytes": ${j.outputBytes}, "call_site": "${esc(j.details.linesIterator.take(3).mkString(" | "))}"}"""
    }
    Files.write(dir.resolve("spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

    val ops = math.max(1, tr.spans.map(_.op).distinct.size)
    val selfByLayer = tr.spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(tr.selfMs).sum / ops }
    val jobsByModule = tr.jobs.filter(j => tr.parentOf.contains(j.jobId))
      .groupBy(_.module).map { case (m, js) => m -> js.size.toDouble / ops }
    def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
    val json =
      s"""{"workload": "$workload", "seed": ${ctx.seed}, "traced_ops": $ops,
         |"metrics": ${obj(PerLayer.map { case (n, _) => n -> layers.getOrElse(n, 0.0) }.toMap)},
         |"self_ms_per_op_by_layer": ${obj(selfByLayer)},
         |"jobs_per_op_by_module": ${obj(jobsByModule)}}
         |""".stripMargin
    Files.write(dir.resolve("layers.json"), json.getBytes(StandardCharsets.UTF_8))
    dir
  }

  /** The closed loop: one client, next op only after the previous one ends,
    * until `ctx.seconds` of wall time have passed and at least `minOps` ops
    * ran, stopping only after a whole `block` of ops (a workload whose mix
    * repeats every `block` ops keeps its proportions). A traced run runs at
    * least three blocks: an untraced warm-up block, then traced and untraced
    * blocks in turn, so that both hold the same mix at much the same warmth.
    */
  def closedLoop(ctx: Ctx, minOps: Int = 1, block: Int = 1)(op: Int => OpSample): Vector[OpSample] = {
    val out = mutable.ArrayBuffer.empty[OpSample]
    val t0 = System.nanoTime()
    val need = if (ctx.trace) math.max(minOps, 3 * block) else minOps
    var k = 0
    while (k < need || k % block != 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val traced = ctx.trace && tracedOp(k, block)
      ctx.setTraced(traced)
      ctx.tracer.newOp()
      val c0 = CodeGenerator.compileTime
      val t = System.nanoTime()
      val sample =
        try op(k)
        catch { case NonFatal(e) =>
          println(s"note: operation $k failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          OpSample((System.nanoTime() - t) / 1e6, ok = false)
        }
      out += sample.copy(traced = traced, warmup = ctx.trace && k < block)
      if (traced) { ctx.tracedCompileNs += CodeGenerator.compileTime - c0; ctx.tracedOps += 1 }
      k += 1
    }
    ctx.setTraced(false)
    out.toVector
  }

  /** Whether op `k` of a traced run is traced: the odd blocks are. */
  def tracedOp(k: Int, block: Int): Boolean = (k / block) % 2 == 1

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
