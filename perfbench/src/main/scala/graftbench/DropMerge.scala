package graftbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import graft.lake.LakeTable

/** `drop_merge`: one ingestion worker lands a seeded stream of messy drops
  * (validate, parse, MERGE) into the clustered base lake; each op is one drop.
  * The measured drops are a fixed pass: every pass restores the lake as it
  * stood after the warm-up (untimed) and lands the same drops on it, so every
  * run, however fast, measures the same drops on the same lake. Each pass is
  * checked against a driver-side model of the base plus every merged drop.
  */
object DropMerge {

  val WarmupDrops = 1
  /** Drops in one pass: drops 1 to 6 of the stream, which hold every kind of
    * drop (vertical, new column, large, invalid keys, planted copies).
    */
  val PassDrops = 6

  private final case class Traced(op: Int, bytes: Long, staged: Long, rowsRewritten: Long,
                                  opened: Int, manifests: Int, metaBytesWritten: Long)

  /** The drops a run lands: the warm-up drops, then the pass. */
  def stream(gen: DropGen): (Vector[Drop], Vector[Drop]) =
    Vector.fill(WarmupDrops + PassDrops)(gen.next()).splitAt(WarmupDrops)

  /** The lake as a pass finds it and what a pass lands on it. */
  private final class Setup(val pristine: Path, val baseCols: Vector[String],
                            val baseRows: Map[Rows.Key, Vector[String]],
                            val warmMerged: Seq[Drop], val drops: Vector[Drop], val dir: Path) {
    /** The model of the lake a pass starts from. */
    def model(): LakeModel = {
      val m = new LakeModel(baseCols, baseRows)
      warmMerged.foreach(m(_))
      m
    }
  }

  /** Base lake and warm-up drops: everything before the first measured drop. */
  private def setup(ctx: Ctx): Setup = {
    val root = ctx.work.resolve("drop-pristine")
    val t = Lakes.base(ctx, root)
    val (cols, rows) = Rows.collect(t.scan().df)
    val (warm, drops) = stream(Lakes.generator(ctx, cols, rows))
    val dir = ctx.fresh("drop-files")
    val merged = warm.filter(d => Lakes.land(ctx, t, d, dir, mergeMisread = false).merged.isDefined)
    new Setup(root, cols, rows, merged, drops, dir)
  }

  def run(ctx: Ctx): Outcome = {
    val (s, setupMs) = Main.timed(setup(ctx))
    val root = ctx.work.resolve("drop-lake")
    val notes = mutable.ArrayBuffer.empty[String]
    val traced = mutable.ArrayBuffer.empty[Traced]
    val badByPass = mutable.ArrayBuffer.empty[Set[Rows.Key]]
    val stored = mutable.ArrayBuffer.empty[Double]
    var t: LakeTable = null
    var model: LakeModel = null

    val ops = Main.closedLoop(ctx, minOps = PassDrops, block = PassDrops) { k =>
      val i = k % PassDrops
      if (i == 0) {
        LakeTable.deleteRecursively(root)
        LakeFiles.copyTree(s.pristine, root)
        t = LakeTable.load(ctx.spark, root.toString)
        model = s.model()
      }
      val d = s.drops(i)
      val on = ctx.tracer.enabled
      val before = if (on) t.currentFiles.map(_.path).toSet else Set.empty[String]
      val metaBefore = if (on) LakeFiles.bytesUnder(Paths.get(t.root, "metadata")) else 0L
      val (ing, ms) = Main.timed(ctx.tracer.span("drop", "op")(
        Lakes.land(ctx, t, d, s.dir, mergeMisread = false)))
      if (ing.merged.isDefined) model(d)
      if (!ing.agreed) notes += s"drop ${d.index}: engine read ${ing.parsed.dialect}/" +
        s"vertical=${ing.parsed.vertical}, generator wrote ${d.dialect}/vertical=${d.vertical}"
      val ok = ing.agreed && ing.merged.exists { r =>
        val counts = r.rejectedRows == d.rejectedRows && r.stagedRows == d.stagedKeys
        if (!counts) notes += s"drop ${d.index}: merge staged ${r.stagedRows}/rejected " +
          s"${r.rejectedRows}, expected ${d.stagedKeys}/${d.rejectedRows}"
        counts
      }
      if (on) ing.merged.foreach { r =>
        val added = t.dataFiles(r.snapshot).filterNot(f => before(f.path))
        traced += Traced(ctx.tracer.currentOp, d.bytes.length, r.stagedRows,
          added.map(_.rows).sum, r.openedManifests, r.totalManifests,
          LakeFiles.bytesUnder(Paths.get(t.root, "metadata")) - metaBefore)
      }
      // Output check at the end of a pass, outside the timed region: the
      // lake equals the model.
      if (i == PassDrops - 1) {
        val (cols, rows) = Rows.collect(t.scan().df)
        val bad = model.mismatches(cols, rows)
        if (bad.nonEmpty) notes += s"pass ${k / PassDrops}: ${bad.size} lake rows differ from the model, " +
          s"e.g. ${bad.take(3)}"
        badByPass += bad
        stored += LakeFiles.storedBytes(t).toDouble / LakeFiles.textBytes(cols, rows.values)
      }
      OpSample(ms, ok)
    }

    val keysOf = s.drops.map(_.rows.map(r => (r.conv, r.turn)).toSet)
    val checked = ops.zipWithIndex.map { case (o, k) =>
      if (keysOf(k % PassDrops).exists(badByPass(k / PassDrops))) o.copy(ok = false) else o }

    Outcome(setupMs / 1000.0, checked, Stats.median(stored.toSeq), badByPass.map(_.size).sum,
      if (ctx.trace) layers(ctx, t, traced.toVector) else Map.empty, notes.toSeq)
  }

  private def layers(ctx: Ctx, t: LakeTable, per: Vector[Traced]): Map[String, Double] = {
    ctx.drain()
    val tr = new Trace(ctx.tracer.spans, ctx.listener.jobs)
    val ops = per.map(_.op).toSet
    val byName = tr.spans.filter(s => ops(s.op)).groupBy(_.name)
    val opSpans = byName.getOrElse("drop", Vector.empty)
    val merges = byName.getOrElse("MergeInto.merge", Vector.empty)
    val parseMs = (byName.getOrElse("Ingest.validateDropFile", Vector.empty) ++
      byName.getOrElse("Ingest.parseDropFile", Vector.empty)).groupBy(_.op).values.map(_.map(_.ms).sum).toVector
    val n = math.max(1, per.size).toDouble
    val opJobs = opSpans.flatMap(tr.jobsUnder)
    val mergeJobs = merges.flatMap(tr.jobsUnder)
    val snap = t.currentSnapshot.get
    Map(
      "ingest.parse_ms" -> Stats.median(parseMs),
      "ingest.parse_mb_per_s" -> per.map(_.bytes).sum / 1e6 / (parseMs.sum / 1000.0),
      "ingest.jobs_per_drop" -> opJobs.count(j => CallSites.layer(j.module) == "ingest") / n,
      "merge.ms" -> Stats.median(merges.map(_.ms)),
      "merge.turns_per_s" -> per.map(_.staged).sum / (merges.map(_.ms).sum / 1000.0),
      "merge.driver_self_ms" -> Stats.median(merges.map(tr.selfMs)),
      "merge.jobs_per_drop" -> mergeJobs.size / n,
      "merge.stages_per_drop" -> mergeJobs.map(_.stages).sum / n,
      "merge.tasks_per_drop" -> mergeJobs.map(_.tasks).sum / n,
      "merge.shuffle_bytes_per_drop" -> mergeJobs.map(_.shuffleWriteBytes).sum / n,
      "merge.rows_rewritten_per_staged_row" -> per.map(_.rowsRewritten).sum.toDouble / per.map(_.staged).sum,
      "merge.manifests_opened_share" -> per.map(_.opened).sum.toDouble / per.map(_.manifests).sum,
      "lake.bytes_written_per_user_byte" ->
        (opJobs.map(_.outputBytes).sum + per.map(_.metaBytesWritten).sum).toDouble / per.map(_.bytes).sum,
      "lake.data_files" -> t.dataFiles(snap).size.toDouble,
      "lake.manifests" -> snap.manifests.size.toDouble,
      "lake.snapshots" -> t.allSnapshotIds.size.toDouble,
      "lake.metadata_bytes" -> LakeFiles.bytesUnder(Paths.get(t.root, "metadata")).toDouble
    ) ++ tr.sparkShares(opSpans, ctx.cores)
  }
}
