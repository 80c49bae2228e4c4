package graftbench

import java.nio.file.Paths

import scala.collection.mutable

import graft.lake.LakeTable
import graft.maintain.{Dedupe, Maintenance}

/** `maintenance_tick`: every op restores one pristine post-burst lake
  * (untimed) and runs the tick on it: `Maintenance.runCycle` with minhash
  * dedupe and row retention, then a conversation-unit minhash dedupe pass.
  * Checked: the survivors are the pre-tick rows minus exactly the rows the
  * tick reports removing, and every data file the snapshot lists exists.
  */
object MaintenanceTick {

  /** Each tick's row retention removes conversations older than this. */
  val RetentionMinutes = 40

  private final case class Traced(op: Int, cycle: Maintenance.CycleReport, conv: Dedupe.Result,
                                  preSnapshot: Long, sketchBytesWritten: Long,
                                  sketchBytes: Long, dataBytes: Long)

  def run(ctx: Ctx): Outcome = {
    val ((pristine, _, _), setupMs) = Main.timed(Lakes.postBurst(ctx, ctx.work.resolve("pristine"), warmTick = true))
    val (preCols, pre) = Rows.collect(pristine.scan().df)
    val preSnapshot = pristine.currentSnapshotId.get
    val liveBytes = LakeFiles.liveDataBytes(pristine).toDouble
    val preSketch = LakeFiles.filesUnder(Paths.get(pristine.root, "sketches"))
    val root = ctx.work.resolve("lake")
    val notes = mutable.ArrayBuffer.empty[String]
    val traced = mutable.ArrayBuffer.empty[Traced]
    val stored = mutable.ArrayBuffer.empty[Double]
    var checksFailed = 0

    val ops = Main.closedLoop(ctx) { _ =>
      LakeTable.deleteRecursively(root)
      LakeFiles.copyTree(Paths.get(pristine.root), root)
      val t = LakeTable.load(ctx.spark, root.toString)
      val ((cycle, conv), ms) = Main.timed(ctx.tracer.span("tick", "op")(
        Lakes.tick(ctx, t, "tick", RetentionMinutes)))

      // Output check, outside the timed region.
      val (cols, post) = Rows.collect(t.scan().df)
      val removed = cycle.dedupe.map(_.duplicateRows).getOrElse(0L) +
        cycle.rowRetention.map(_.deletedRows).getOrElse(0L) + conv.duplicateRows
      val changed = post.count { case (k, v) => !pre.get(k).contains(v) }
      val missing = LakeFiles.missingFiles(t)
      val ok = cols == preCols && changed == 0 && pre.size - post.size == removed && missing.isEmpty
      if (!ok) {
        checksFailed += 1
        notes += s"tick: ${pre.size} rows before, ${post.size} after, $removed reported removed, " +
          s"$changed rows changed or new, ${missing.size} missing files"
      }
      stored += LakeFiles.storedBytes(t).toDouble / LakeFiles.textBytes(cols, post.values)
      if (ctx.tracer.enabled) {
        val sk = LakeFiles.filesUnder(Paths.get(t.root, "sketches"))
        traced += Traced(ctx.tracer.currentOp, cycle, conv, preSnapshot,
          sk.collect { case (f, b) if !preSketch.contains(f) => b }.sum,
          sk.values.sum, LakeFiles.liveDataBytes(t))
      }
      OpSample(ms, ok)
    }

    Outcome(setupMs / 1000.0, ops, Stats.median(stored.toSeq), checksFailed,
      if (ctx.trace) layers(ctx, traced.toVector, liveBytes, pre.size) else Map.empty, notes.toSeq)
  }

  private def layers(ctx: Ctx, per: Vector[Traced], liveBytes: Double, liveRows: Int): Map[String, Double] = {
    ctx.drain()
    val tr = new Trace(ctx.tracer.spans, ctx.listener.jobs)
    val n = math.max(1, per.size).toDouble
    val ticks = tr.spans.filter(s => s.name == "tick" && per.exists(_.op == s.op))
    val jobs = ticks.flatMap(tr.jobsUnder)

    // Phase times: each phase ends at its own commit (snapshot timestamp);
    // a phase that committed nothing ends with its last job, and expiry plus
    // GC take the rest of the cycle.
    val phases = per.map { p =>
      val cycleSpan = tr.spans.find(s => s.op == p.op && s.name == "Maintenance.runCycle").get
      val phaseJobs = tr.jobsUnder(cycleSpan).groupBy(_.phase)
      var prevId = p.preSnapshot
      var prevEnd = cycleSpan.startMs
      val commits = Seq(
        "compact" -> p.cycle.compact.snapshot,
        "dedupe" -> p.cycle.dedupe.map(_.snapshot),
        "retention" -> p.cycle.rowRetention.map(_.snapshot),
        "cluster" -> Some(p.cycle.cluster.snapshot))
      val timed = commits.map { case (phase, snap) =>
        val end = snap.filter(_.id > prevId) match {
          case Some(s) => prevId = s.id; s.timestampMs.toDouble
          case None => (phaseJobs.getOrElse(phase, Vector.empty).map(_.endMs.toDouble) :+ prevEnd).max
        }
        val ms = math.max(0.0, end - prevEnd)
        prevEnd = math.max(prevEnd, end)
        phase -> ms
      }
      (timed :+ ("expire_gc" -> math.max(0.0, cycleSpan.endMs - prevEnd))).toMap
    }
    def phaseMs(ph: String) = Stats.median(phases.map(_(ph)))
    val convSpans = tr.spans.filter(s => s.name == "Dedupe.runPass" && per.exists(_.op == s.op))
    val rowsWritten = jobs.filter(j => j.details.contains("graft.lake.LakeTable.writeDataFiles") &&
      j.module != "maintain.Sketches").map(_.outputRecords).sum

    Map(
      "maintain.compact_ms" -> phaseMs("compact"),
      "maintain.dedupe_ms" -> phaseMs("dedupe"),
      "maintain.retention_ms" -> phaseMs("retention"),
      "maintain.cluster_ms" -> phaseMs("cluster"),
      "maintain.expire_gc_ms" -> phaseMs("expire_gc"),
      "maintain.conv_dedupe_ms" -> Stats.median(convSpans.map(_.ms)),
      "maintain.jobs" -> jobs.size / n,
      "maintain.stages" -> jobs.map(_.stages).sum / n,
      "maintain.tasks" -> jobs.map(_.tasks).sum / n,
      "maintain.input_bytes_per_live_byte" -> jobs.map(_.inputBytes).sum / n / liveBytes,
      "maintain.shuffle_bytes_per_live_byte" -> jobs.map(_.shuffleWriteBytes).sum / n / liveBytes,
      "maintain.output_bytes_per_live_byte" -> jobs.map(_.outputBytes).sum / n / liveBytes,
      "maintain.rows_rewritten_share" -> rowsWritten / n / liveRows,
      "sketches.store_bytes_per_data_byte" -> per.map(p => p.sketchBytes.toDouble / p.dataBytes).sum / n,
      "sketches.output_bytes_per_tick" -> per.map(_.sketchBytesWritten).sum / n
    ) ++ tr.sparkShares(ticks, ctx.cores)
  }
}
