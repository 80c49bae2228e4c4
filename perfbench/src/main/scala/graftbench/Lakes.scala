package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.ingest.Ingest
import graft.lake.LakeTable
import graft.maintain.{Clustering, Dedupe, Maintenance, MergeInto}
import graft.synth.TranscriptSynth

/** The lake every workload starts from, and the drop path into it. */
object Lakes {

  /** Conversations in the base lake (about 12 turns each, plus one hot
    * conversation of 1000 turns): ~5.5k turns in clustered files.
    */
  val Convs = 400
  val TargetFileRows = 600L
  /** Fixed "now" for row retention: replayable, independent of the wall clock. */
  val NowMs: Long = TranscriptSynth.BaseTsMillis + 30L * 24 * 3600 * 1000
  private val MinuteMs = 60000L

  /** A clustered base lake from the seeded transcript synthesizer. */
  def base(ctx: Ctx, root: Path): LakeTable = {
    val t = LakeTable.create(ctx.spark, root.toString, StructType(TranscriptSynth.schema))
    t.append(TranscriptSynth.turns(ctx.spark, Convs, ctx.seed)
      .repartitionByRange(8, col("conv_id"), col("turn_idx")), "base")
    Clustering.cluster(t, "base-cluster", targetFileRows = TargetFileRows)
    t
  }

  /** A drop generator over the lake's current rows. */
  def generator(ctx: Ctx, columns: Vector[String], rows: Map[Rows.Key, Vector[String]]): DropGen = {
    val turns = rows.keys.groupMapReduce(_._1)(_ => 1)(_ + _).toVector.sortBy(_._1)
    val ti = columns.indexOf("text")
    new DropGen(ctx.seed, turns, (c, t) => rows((c, t))(ti))
  }

  final case class Ingested(parsed: Ingest.DropResult, merged: Option[MergeInto.Result],
                            agreed: Boolean)

  /** Land one drop the way an ingestion worker does: validate, parse (detect
    * → decide → parse → sanitize), then MERGE. When the engine's dialect or
    * layout decision disagrees with the generator's, `mergeMisread` decides
    * whether the misread drop is merged anyway.
    */
  def land(ctx: Ctx, table: LakeTable, d: Drop, dir: Path, mergeMisread: Boolean): Ingested = {
    val path = dir.resolve(d.fileName)
    Files.write(path, d.bytes)
    val tr = ctx.tracer
    val valid = tr.span("Ingest.validateDropFile", "ingest")(
      Ingest.validateDropFile(path.toString, Some("text/csv")))
    require(valid.isRight, s"drop ${d.fileName} refused: ${valid.left.getOrElse("")}")
    val parsed = tr.span("Ingest.parseDropFile", "ingest")(Ingest.parseDropFile(ctx.spark, path.toString))
    val agreed = parsed.dialect == d.dialect && parsed.vertical == d.vertical
    val merged =
      if (agreed || mergeMisread)
        Some(tr.span("MergeInto.merge", "merge")(
          MergeInto.merge(table, parsed.records, s"drop${d.index}", targetFileRows = TargetFileRows)))
      else None
    Files.delete(path)
    Ingested(parsed, merged, agreed)
  }

  /** Row retention cutoff as an age from [[NowMs]]: rows of conversations
    * that started before `minutes` past the synthesizer's base time.
    */
  def retentionAfter(minutes: Int): Long = NowMs - (TranscriptSynth.BaseTsMillis + minutes * MinuteMs)

  /** The maintenance tick: one cycle with minhash dedupe and row retention,
    * then a conversation-unit dedupe pass.
    */
  def tick(ctx: Ctx, t: LakeTable, id: String, retentionMinutes: Int): (Maintenance.CycleReport, Dedupe.Result) = {
    val tr = ctx.tracer
    val cycle = tr.span("Maintenance.runCycle", "maintain")(
      Maintenance.runCycle(t, id, targetFileRows = TargetFileRows,
        retentionMs = Some(0L), orphanGraceMs = 0L, dedupeMode = Some("minhash"),
        rowRetentionMs = Some(retentionAfter(retentionMinutes)), nowMs = NowMs))
    val conv = tr.span("Dedupe.runPass", "maintain")(
      Dedupe.runPass(t, s"$id-conv", mode = "minhash", unit = "conversation",
        targetFileRows = TargetFileRows))
    (cycle, conv)
  }

  /** Base lake, a warm-up tick when `warmTick` (which also makes the sketch
    * store active), then a burst of one drop: the lake `maintenance_tick` and
    * `lake_read` start from. Returns the table, the snapshot id from just
    * before the burst, and the conversations the burst wrote, most-written
    * first.
    */
  def postBurst(ctx: Ctx, root: Path, warmTick: Boolean): (LakeTable, Long, Vector[String]) = {
    val (t, baseMs) = Main.timed(base(ctx, root))
    val (_, tickMs) = Main.timed(if (warmTick) tick(ctx, t, "warmup", retentionMinutes = 20))
    val (cols, rows) = Rows.collect(t.scan().df)
    val d = generator(ctx, cols, rows).next()
    val dir = Files.createDirectories(root.resolveSibling(root.getFileName.toString + "-drops"))
    val before = t.currentSnapshotId.get
    val (_, burstMs) = Main.timed(land(ctx, t, d, dir, mergeMisread = true))
    Console.err.println(f"set-up: base lake ${baseMs / 1000}%.1f s, warm-up tick ${tickMs / 1000}%.1f s, " +
      f"burst drop ${burstMs / 1000}%.1f s")
    val touched = d.rows.groupMapReduce(_.conv)(_ => 1)(_ + _)
      .toVector.sortBy { case (c, n) => (-n, c) }.map(_._1)
    (t, before, touched)
  }
}
