package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Maps a Spark call site to the engine module that issued the job. */
object CallSites {

  /** `graft.<package>.<Object>` of the first (innermost) engine frame in a
    * stage's long call site, e.g. `maintain.MergeInto`; "other" when the job
    * came from outside the engine. The short call site is no use here: jobs
    * run through `maintain.Parallel` all read `CompletableFuture.java`.
    */
  def module(details: String): String =
    engineModules(details).headOption.getOrElse("other")

  /** Engine modules of every `graft.` frame, innermost first. */
  def engineModules(details: String): Vector[String] =
    details.linesIterator.map(_.trim).filter(_.startsWith("graft.")).map { frame =>
      val qualified = frame.takeWhile(_ != '(')
      val cls = qualified.substring(0, math.max(0, qualified.lastIndexOf('.')))
      cls.stripPrefix("graft.").takeWhile(_ != '$')
    }.toVector

  /** The layer a module belongs to, as the benchmark's per-layer metrics
    * name them.
    */
  def layer(module: String): String = module match {
    case "maintain.MergeInto" => "merge"
    case "maintain.Sketches" => "sketches"
    case m if m.contains('.') => m.takeWhile(_ != '.')
    case m => m
  }

  /** Maintenance-cycle phase of a job: the innermost frame that belongs to
    * one of the cycle's phase objects (a sketch batch written by a cluster
    * rewrite counts as clustering), or "other".
    */
  def phase(details: String): String =
    engineModules(details).collectFirst(Function.unlift(PhaseOf.get)).getOrElse("other")

  private val PhaseOf: Map[String, String] = Map(
    "maintain.Compaction" -> "compact",
    "maintain.Dedupe" -> "dedupe",
    "maintain.DeleteFrom" -> "retention",
    "maintain.Clustering" -> "cluster",
    "maintain.Expire" -> "expire_gc",
    "maintain.OrphanGc" -> "expire_gc",
    "maintain.Ledger" -> "expire_gc")
}

/** One finished Spark job with the task metrics of its stages. */
final case class JobStat(
    jobId: Int, startMs: Long, endMs: Long, details: String,
    stages: Int, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long,
    inputBytes: Long, inputRecords: Long, outputBytes: Long, outputRecords: Long) {
  def module: String = CallSites.module(details)
  def phase: String = CallSites.phase(details)
}

/** Records every job of the session; registered only for traced runs. */
final class JobListener extends SparkListener {
  private final class Acc(val startMs: Long, val details: String) {
    var stages, tasks = 0
    var runMs, cpuNs, gcMs, shR, shW, inB, inR, outB, outR = 0L
  }
  private val open = mutable.Map.empty[Int, Acc]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val done = mutable.ArrayBuffer.empty[JobStat]
  private val sqlCallSite = mutable.Map.empty[Long, String]

  // Spark SQL submits most jobs from its own threads, whose stacks hold no
  // engine frame; the SQL execution's call site, taken on the calling
  // thread, does.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlCallSite(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val stageSite = e.stageInfos.map(_.details).find(_.nonEmpty).getOrElse("")
    val sqlSite = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlCallSite.get(id.toLong))
    val details =
      if (CallSites.engineModules(stageSite).nonEmpty) stageSite else sqlSite.getOrElse(stageSite)
    open(e.jobId) = new Acc(e.time, details)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(open.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); a <- open.get(j); m <- Option(e.taskMetrics)) {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shR += m.shuffleReadMetrics.totalBytesRead
      a.shW += m.shuffleWriteMetrics.bytesWritten
      a.inB += m.inputMetrics.bytesRead
      a.inR += m.inputMetrics.recordsRead
      a.outB += m.outputMetrics.bytesWritten
      a.outR += m.outputMetrics.recordsWritten
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { a =>
      done += JobStat(e.jobId, a.startMs, e.time, a.details, a.stages, a.tasks,
        a.runMs, a.cpuNs, a.gcMs, a.shR, a.shW, a.inB, a.inR, a.outB, a.outR)
    }
  }

  /** Jobs finished so far (drain the listener bus first). */
  def jobs: Vector[JobStat] = synchronized(done.toVector)
}

/** A span around one call the benchmark makes into a layer. `op` groups the
  * spans of one operation (a drop, a tick, a read).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder for the single client thread. Disabled, `span`
  * only evaluates its body.
  */
final class Tracer {
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** Wall clock in ms on the listener's time base, at nanosecond resolution. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  var enabled = false
  private var op = 0
  private var nextId = 1
  private var stack: List[Int] = Nil
  private val recorded = mutable.ArrayBuffer.empty[Span]
  def spans: Vector[Span] = recorded.toVector

  def newOp(): Int = { op += 1; op }
  def currentOp: Int = op

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val start = nowMs
      try body
      finally {
        stack = stack.tail
        recorded += Span(id, parent, op, name, layer, start, nowMs)
      }
    }
}

/** Joins spans with the listener's jobs: each job becomes a child span of the
  * innermost benchmark span open when it started.
  */
final class Trace(val spans: Vector[Span], val jobs: Vector[JobStat]) {

  /** Innermost span containing the job's start, if any. */
  val parentOf: Map[Int, Span] = jobs.flatMap { j =>
    spans.filter(s => s.startMs - 1 <= j.startMs && j.startMs <= s.endMs)
      .sortBy(s => s.ms).headOption.map(j.jobId -> _)
  }.toMap

  def jobsUnder(s: Span): Vector[JobStat] = {
    val ids = descendants(s).map(_.id).toSet + s.id
    jobs.filter(j => parentOf.get(j.jobId).exists(p => ids(p.id)))
  }

  def descendants(s: Span): Vector[Span] = {
    val kids = spans.filter(_.parent == s.id)
    kids ++ kids.flatMap(descendants)
  }

  /** Executor shares over the jobs issued under `opSpans`: task run time
    * per core-second of op wall time, CPU per run time, GC per run time.
    */
  def sparkShares(opSpans: Seq[Span], cores: Int): Map[String, Double] = {
    val js = opSpans.flatMap(jobsUnder)
    val run = js.map(_.runMs).sum.toDouble
    Map(
      "spark.executor_busy_share" -> run / (opSpans.map(_.ms).sum * cores),
      "spark.cpu_share" -> js.map(_.cpuNs).sum / 1e6 / run,
      "spark.gc_share" -> js.map(_.gcMs).sum / run)
  }

  /** Span time not covered by its child spans or by jobs it issued. */
  def selfMs(s: Span): Double = {
    val children = spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)) ++
      jobs.filter(j => parentOf.get(j.jobId).exists(_.id == s.id))
        .map(j => (j.startMs.toDouble, j.endMs.toDouble))
    s.ms - Trace.covered(children.map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.endMs)) }.filter { case (a, b) => b > a })
  }
}

object Trace {
  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
