package graft.maintain

import java.nio.file.Files

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.lake.{DataFile, LakeTable, MetaJson, Snapshot}

import scala.jdk.CollectionConverters._

/** Per-partition checkpoint ledger (north rule): every maintenance job
  * records, per task, its input-file lineage, output files and rewrite
  * metrics BEFORE the final snapshot commit. A restarted job reads the
  * ledger, skips `done` tasks (reusing their outputs verbatim), and only
  * recomputes pending ones — the reference's idempotent backfill semantics
  * (file_service.py:113-137: cached artifact served, missing one rebuilt)
  * generalized to distributed maintenance.
  *
  * Each task row is its own atomically-moved JSON file, so a crash
  * mid-write can never corrupt previously checkpointed tasks.
  */
object Ledger {

  final case class TaskRow(
      jobId: String, taskId: Int, state: String,
      inFiles: Vector[String], outFiles: Vector[DataFile],
      rows: Long, bytes: Long, durationMs: Long,
      errorMessage: String = "")

  private def jobDir(table: LakeTable, jobId: String) =
    table.ledgerDir.resolve(jobId)

  // ---- plan -------------------------------------------------------------

  /** A job plan: task -> input files, plus the quantile cuts and curve a
    * clustering job lays its groups out by. [[rewrite]] stamps the base
    * snapshot and the kind when it persists a fresh plan.
    */
  final case class Plan(groups: Vector[Vector[String]],
                        convCuts: Array[Long] = Array.empty,
                        turnCuts: Array[Long] = Array.empty,
                        curve: String = "z", baseSnapshotId: Long = -1L,
                        kind: String = "")

  /** Persist the job plan (task -> input files, base snapshot, quantile
    * cuts) before any work starts; resume MUST reuse the stored plan — and
    * the stored CURVE — not recompute them.
    */
  def writePlan(table: LakeTable, jobId: String, baseSnapshotId: Long,
                groups: Vector[Vector[String]],
                convCuts: Array[Long] = Array.empty,
                turnCuts: Array[Long] = Array.empty,
                curve: String = "z", kind: String = ""): Unit = {
    val o = MetaJson.mapper.createObjectNode()
    o.put("job_id", jobId)
    o.put("base_snapshot_id", baseSnapshotId)
    o.put("curve", curve)
    o.put("kind", kind)
    val arr = o.putArray("groups")
    groups.foreach { g => val ga = arr.addArray(); g.foreach(ga.add) }
    val cc = o.putArray("conv_cuts"); convCuts.foreach(cc.add)
    val tc = o.putArray("turn_cuts"); turnCuts.foreach(tc.add)
    atomicWrite(table, jobId, "plan.json", MetaJson.write(o))
  }

  def readPlan(table: LakeTable, jobId: String): Option[Plan] = {
    val p = jobDir(table, jobId).resolve("plan.json")
    if (!Files.exists(p)) None
    else {
      val n = MetaJson.read(Files.readString(p))
      val groups = n.get("groups").elements().asScala.map { g =>
        g.elements().asScala.map(_.asText).toVector
      }.toVector
      def longs(k: String): Array[Long] = Option(n.get(k)).map(
        _.elements().asScala.map(_.asLong).toArray).getOrElse(Array.empty)
      Some(Plan(groups, longs("conv_cuts"), longs("turn_cuts"),
        Option(n.get("curve")).map(_.asText).getOrElse("z"),
        n.get("base_snapshot_id").asLong,
        Option(n.get("kind")).map(_.asText).getOrElse("")))
    }
  }

  // ---- job commit marker (O(1) idempotence) ------------------------------

  /** Record that `jobId`'s final snapshot committed — ONE file the
    * idempotence guard reads, instead of parsing the whole snapshot history
    * per maintenance call (the `last_cluster_id` pattern applied to job ids).
    * The marker is PER OPERATION (`commit-<operation>.json`): two operations
    * sharing one jobId (Maintenance suffixes guard against it, but the API
    * allows it) keep independent idempotence guards instead of clobbering
    * each other's single marker.
    */
  def markCommitted(table: LakeTable, jobId: String, operation: String,
                    snapshotId: Long): Unit = {
    val o = MetaJson.mapper.createObjectNode()
    o.put("job_id", jobId); o.put("operation", operation)
    o.put("snapshot_id", snapshotId)
    atomicWrite(table, jobId, s"commit-$operation.json", MetaJson.write(o))
  }

  /** The snapshot `jobId` (of this operation) already committed, if any.
    * O(1) via the marker; a crash BETWEEN commitDelta and the marker write
    * falls back to walking the parent chain from current down to the job
    * plan's base snapshot — O(commits since the job started), never
    * O(history) — and heals the marker. Only COMMITTED snapshots count: an
    * orphan snap file from a crashed commit (id beyond the pointer) is
    * unreachable from current, so it can never masquerade as the job result.
    */
  def committedJobSnapshot(table: LakeTable, jobId: String,
                           operation: String): Option[Snapshot] = {
    // per-operation marker first, then the legacy single marker (matching
    // operation only). A marker for a DIFFERENT operation proves nothing
    // about this one — fall through to the chain walk, never early-None.
    val dir = jobDir(table, jobId)
    val marker = Seq(dir.resolve(s"commit-$operation.json"), dir.resolve("commit.json"))
      .find(Files.exists(_))
      .map(p => MetaJson.read(Files.readString(p)))
      .filter(_.get("operation").asText == operation)
    marker.foreach { n =>
      val sid = n.get("snapshot_id").asLong
      return try Some(table.snapshot(sid))
      catch { // snapshot metadata already expired: the job is still DONE —
        // surface the current snapshot as the idempotent no-op result
        case _: Exception => table.currentSnapshot
      }
    }
    readPlan(table, jobId) match {
      case None => None
      case Some(p) =>
        var cur = table.currentSnapshot
        while (cur.exists(_.id > p.baseSnapshotId)) {
          val s = cur.get
          if (s.operation == operation && s.summary.get("job_id").contains(jobId)) {
            markCommitted(table, jobId, operation, s.id)
            return Some(s)
          }
          cur =
            if (s.parentId < 0) None
            else try Some(table.snapshot(s.parentId)) catch { case _: Exception => None }
        }
        None
    }
  }

  // ---- tasks ------------------------------------------------------------

  def writeTask(table: LakeTable, row: TaskRow): Unit = {
    val o = MetaJson.mapper.createObjectNode()
    o.put("job_id", row.jobId); o.put("task_id", row.taskId)
    o.put("state", row.state); o.put("rows", row.rows)
    o.put("bytes", row.bytes); o.put("duration_ms", row.durationMs)
    if (row.errorMessage.nonEmpty) o.put("error_message", row.errorMessage)
    val inA = o.putArray("in_files"); row.inFiles.foreach(inA.add)
    val outA = o.putArray("out_files")
    row.outFiles.foreach(f => outA.add(MetaJson.dataFileToJson(f)))
    atomicWrite(table, row.jobId, f"task-${row.taskId}%05d.json", MetaJson.write(o))
  }

  /** A COMPLETE task row file: atomicWrite's crash residue (`task-*.json.tmp`,
    * truncated) must never poison resume — only the atomically-moved final
    * name counts.
    */
  private def isTaskFile(p: java.nio.file.Path): Boolean = {
    val n = p.getFileName.toString
    n.startsWith("task-") && n.endsWith(".json")
  }

  def readTasks(table: LakeTable, jobId: String): Map[Int, TaskRow] = {
    val dir = jobDir(table, jobId)
    if (!Files.exists(dir)) Map.empty
    else LakeTable.listDir(dir)
      .filter(isTaskFile)
      .map { p => taskFromJson(MetaJson.read(Files.readString(p))) }
      .map(t => t.taskId -> t).toMap
  }

  /** Every task row across all jobs — OrphanGc consults this so checkpointed
    * outputs of in-flight/interrupted jobs are never swept as orphans.
    */
  def allTaskRows(table: LakeTable): Vector[TaskRow] =
    if (!Files.exists(table.ledgerDir)) Vector.empty
    else LakeTable.walkDir(table.ledgerDir)
      .filter(isTaskFile)
      .map(p => taskFromJson(MetaJson.read(Files.readString(p))))

  private def taskFromJson(n: JsonNode): TaskRow = TaskRow(
    n.get("job_id").asText, n.get("task_id").asInt, n.get("state").asText,
    n.get("in_files").elements().asScala.map(_.asText).toVector,
    n.get("out_files").elements().asScala.map(MetaJson.dataFileFromJson).toVector,
    n.get("rows").asLong, n.get("bytes").asLong, n.get("duration_ms").asLong,
    Option(n.get("error_message")).map(_.asText).getOrElse(""))

  /** Ledger as a DataFrame for metrics/reporting queries. */
  def asDataFrame(table: LakeTable, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = allTaskRows(table)
      .map(t => (t.jobId, t.taskId, t.state, t.inFiles.size, t.outFiles.size,
        t.rows, t.bytes, t.durationMs, t.errorMessage))
    rows.toDF("job_id", "task_id", "state", "n_in_files", "n_out_files",
      "rows", "bytes", "duration_ms", "error_message")
  }

  // ---- the rewrite runner ----------------------------------------------

  /** One planned group of input files; `index` is its task id. */
  final case class Group(index: Int, files: Vector[DataFile]) {
    def paths: Vector[String] = files.map(_.path)
    def rows: Long = files.map(_.rows).sum
  }

  /** What [[rewrite]] did. `snapshot` is the job's commit: the one an
    * earlier run made when `replayed`, the current snapshot when the plan
    * had nothing to rewrite. `tasks` holds every group's `done` row in plan
    * order (empty for a replay or an empty plan); `resumed` of them were
    * checkpointed by an earlier, interrupted run.
    */
  final case class Rewritten(snapshot: Snapshot, tasks: Vector[TaskRow],
                             resumed: Int, replayed: Boolean)

  /** The checkpoint protocol every file-rewriting maintenance job shares
    * (compaction, clustering, dedupe, DELETE) — the reference's
    * pending -> processed/error task states (file_repository.py:95-109)
    * applied to lake rewrites:
    *   1. a job whose `operation` commit marker exists returns that
    *      snapshot without work;
    *   2. a persisted plan is resumed — NEVER recomputed — when its kind
    *      matches and its base is still the current snapshot; otherwise
    *      `plan` runs and is persisted before any group starts;
    *   3. an empty plan marks the job committed at the current snapshot, so
    *      a replay is O(1) and [[expireJobs]] can sweep its directory;
    *   4. a group whose task row is `done` reuses its outputs verbatim;
    *      every other group runs `rewriteGroup(plan)` and checkpoints a
    *      `done` row, or an `error` row with the message before rethrowing;
    *   5. one commitDelta swaps every input for every output (the snapshot
    *      summary gets `job_id` plus `summary(tasks)`), then the marker.
    * Groups are submitted `parallelism` at a time. With `interruptAfter`
    * set they run in plan order, and the job aborts like a crash once that
    * many groups executed — the chaos hook the resume tests drive.
    */
  def rewrite(table: LakeTable, jobId: String, operation: String, kind: String,
              parallelism: Int, interruptAfter: Int = Int.MaxValue,
              summary: Vector[TaskRow] => Map[String, String])(
              plan: => Plan)(
              rewriteGroup: Plan => Group => Vector[DataFile]): Rewritten = {
    committedJobSnapshot(table, jobId, operation).foreach { s =>
      return Rewritten(s, Vector.empty, 0, replayed = true)
    }
    val p = readPlan(table, jobId) match {
      case Some(p) =>
        // plans written before kinds existed (compaction, clustering) carry none
        require(p.kind == kind || (p.kind.isEmpty && kind == operation),
          s"ledger plan for $jobId is '${p.kind}' but this invocation is " +
            s"'$kind' — job-id collision, changed parameters or changed " +
            "predicate; use a fresh jobId")
        require(table.currentSnapshotId.contains(p.baseSnapshotId),
          s"ledger plan for $jobId was computed on snapshot ${p.baseSnapshotId} " +
            s"but current is ${table.currentSnapshotId}; stale plan")
        p
      case None =>
        val base = table.currentSnapshotId.get
        val fresh = plan
        writePlan(table, jobId, base, fresh.groups, fresh.convCuts,
          fresh.turnCuts, fresh.curve, kind)
        readPlan(table, jobId).get
    }
    if (p.groups.forall(_.isEmpty)) {
      val cur = table.currentSnapshot.get
      markCommitted(table, jobId, operation, cur.id)
      return Rewritten(cur, Vector.empty, 0, replayed = false)
    }

    val entryByPath = table.currentEntries.map(e => e.file.path -> e).toMap
    val done = readTasks(table, jobId).filter(_._2.state == "done")
    val rewriteOne = rewriteGroup(p)
    val executed = new java.util.concurrent.atomic.AtomicInteger(0)
    def runGroup(g: Group): TaskRow = done.getOrElse(g.index, {
      val t0 = System.nanoTime()
      def row(state: String, out: Vector[DataFile], error: String = "") =
        TaskRow(jobId, g.index, state, g.paths, out, g.rows, g.files.map(_.bytes).sum,
          (System.nanoTime() - t0) / 1000000, error)
      try {
        if (executed.getAndIncrement() >= interruptAfter)
          throw new InterruptedException(s"chaos interrupt after $interruptAfter groups")
        val ok = row("done", rewriteOne(g))
        writeTask(table, ok)
        ok
      } catch { case e: Throwable =>
        // resume recomputes the group; writeTask's atomic replace flips
        // its row from error to done on success
        writeTask(table, row("error", Vector.empty, String.valueOf(e.getMessage)))
        throw e
      }
    })
    val groups = p.groups.zipWithIndex.map { case (paths, i) =>
      Group(i, paths.map(entryByPath(_).file))
    }
    val tasks =
      if (interruptAfter != Int.MaxValue) groups.map(runGroup)
      else Parallel.mapInParallel(groups, parallelism)(runGroup)

    val removed = p.groups.flatten.distinct.sorted.map(entryByPath)
    val snap = table.commitDelta(tasks.flatMap(_.outFiles), removed, operation,
      summary = Map("job_id" -> jobId) ++ summary(tasks))
    markCommitted(table, jobId, operation, snap.id)
    Rewritten(snap, tasks, tasks.count(t => done.contains(t.taskId)), replayed = false)
  }

  // ---- ledger expiry ------------------------------------------------------

  final case class ExpireResult(deletedJobs: Vector[String], failures: Vector[String])

  /** Sweep job directories whose every file is older than `olderThanMs` AND
    * whose commit marker exists (the job finished and published) — without
    * this, a maintenance cadence at lakehouse scale accumulates one dir per
    * cycle forever, and [[allTaskRows]] (consulted by OrphanGc on every
    * cycle) walks an unbounded tree. Unfinished jobs (no marker) are NEVER
    * swept regardless of age: their checkpointed outputs are what resume —
    * and OrphanGc's data-sweep protection — depend on. Losing an OLD
    * committed job's marker only costs the idempotence short-circuit; a
    * replayed ancient jobId re-plans against the current snapshot, which for
    * incremental clustering/compaction is a cheap no-op, not a correctness
    * hazard.
    */
  def expireJobs(table: LakeTable, olderThanMs: Long,
                 nowMs: Long = System.currentTimeMillis()): ExpireResult = {
    val deleted = Vector.newBuilder[String]
    val failures = Vector.newBuilder[String]
    if (Files.exists(table.ledgerDir)) {
      LakeTable.listDir(table.ledgerDir).filter(Files.isDirectory(_)).foreach { dir =>
        val jobId = dir.getFileName.toString
        try {
          val files = LakeTable.listDir(dir)
          val committed = files.exists { f =>
            val n = f.getFileName.toString
            n.startsWith("commit") && n.endsWith(".json")
          }
          val allOld = files.nonEmpty &&
            files.forall(f => Files.getLastModifiedTime(f).toMillis < nowMs - olderThanMs)
          if (committed && allOld) {
            LakeTable.deleteRecursively(dir)
            deleted += jobId
          }
        } catch { case e: Exception => failures += s"$jobId: ${e.getMessage}" }
      }
    }
    ExpireResult(deleted.result(), failures.result())
  }

  private def atomicWrite(table: LakeTable, jobId: String, name: String, body: String): Unit = {
    val dir = jobDir(table, jobId)
    Files.createDirectories(dir)
    val tmp = dir.resolve(name + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, dir.resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
