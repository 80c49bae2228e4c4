package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.lake.LakeTable
import graft.plans.GraftPlans

/** `lake_read`: point and range reads against the post-burst lake. Every 20
  * reads, in a seeded order: 8 `LakeTable.scan` point reads and 4 ~1% range
  * reads collected on the driver, 5 SQL aggregates over a ~1% range through
  * the `GraftPlans.registerTable` view, and 3 time-travel reads through
  * `GraftPlans.registerAsOf` at the snapshot from before the burst. Keys
  * lean on the conversations the burst touched. Checked: the first distinct
  * reads equal the same filter over a plain Parquet read of their snapshot's
  * files.
  */
object LakeRead {

  val CheckedReads = 8
  /** The read mix, repeated in a seeded order every 20 reads. */
  val Mix: Vector[String] =
    Vector.fill(8)("point") ++ Vector.fill(4)("range") ++ Vector.fill(5)("aggregate") ++ Vector.fill(3)("as_of")
  /** Reads measured at least, however short the run: five rounds of the
    * mix, so the tail rule takes p90, which falls among the aggregates (a
    * quarter of the mix, the slowest kind). At 40 or 80 reads it would take
    * p75, right on the edge between the aggregates and the faster kinds, and
    * swing with the slowest of the fast reads.
    */
  val MinReads = 5 * Mix.size
  /** Rounds of the mix read before timing starts (part of set-up). */
  val WarmupRounds = 2

  private final case class Spec(kind: String, lo: String, hi: String, snapshot: Option[Long])
  private final case class Traced(op: Int, rows: Long, prune: Option[LakeTable#PruneStats],
                                  phases: Map[String, Double])

  def run(ctx: Ctx): Outcome = {
    val setupStart = System.nanoTime()
    val (t, preBurst, burstConvs) = Lakes.postBurst(ctx, ctx.work.resolve("lake"), warmTick = false)
    GraftPlans.registerTable(ctx.spark, t, "lake")
    val (cols, rows) = Rows.collect(t.scan().df)
    val convs = rows.keys.map(_._1).toVector.distinct.sorted
    val current = t.currentSnapshotId.get
    // conversations the burst wrote, most-written first
    val hot = burstConvs.filter(rows.keySet.map(_._1)) match { case h if h.nonEmpty => h; case _ => convs }
    val width = math.max(1, convs.size / 100)
    val rng = new SplittableRandom(ctx.seed ^ 0x5DEECE66DL)

    def pick(): Int = {
      val c = if (rng.nextDouble() < 0.7) hot(math.min(hot.size - 1, (hot.size * math.pow(rng.nextDouble(), 3)).toInt))
        else convs(rng.nextInt(convs.size))
      convs.indexOf(c)
    }
    var kinds = Vector.empty[String]
    def spec(): Spec = {
      if (kinds.isEmpty) kinds = Mix.map(k => (rng.nextLong(), k)).sortBy(_._1).map(_._2)
      val kind = kinds.head
      kinds = kinds.tail
      val i = pick()
      val hiOf = convs(math.min(convs.size - 1, i + width))
      kind match {
        case "point" => Spec(kind, convs(i), convs(i), None)
        case "as_of" => Spec(kind, convs(i), hiOf, Some(preBurst))
        case _ => Spec(kind, convs(i), hiOf, None)
      }
    }

    val results = mutable.LinkedHashMap.empty[Spec, Vector[String]]
    val notes = mutable.ArrayBuffer.empty[String]
    val traced = mutable.ArrayBuffer.empty[Traced]
    val byKind = mutable.ArrayBuffer.empty[(String, Double)]

    (1 to WarmupRounds * Mix.size).foreach(_ => read(ctx, t, spec()))
    val setupMs = (System.nanoTime() - setupStart) / 1e6

    val ops = Main.closedLoop(ctx, minOps = MinReads, block = Mix.size) { _ =>
      val s = spec()
      val ((df, out, prune), ms) = Main.timed(ctx.tracer.span("read", "op")(read(ctx, t, s)))
      val canon = out.map(_.toString).sorted.toVector
      val consistent = results.get(s).forall(_ == canon)
      if (!consistent) notes += s"read $s returned different rows on a repeat"
      results(s) = canon
      byKind += s.kind -> ms
      if (ctx.tracer.enabled) {
        val ph = df.queryExecution.tracker.phases
        traced += Traced(ctx.tracer.currentOp, out.length, prune,
          Seq("analysis", "optimization", "planning").map(p => p -> ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)).toMap)
      }
      OpSample(ms, consistent)
    }

    println("read p50 ms by kind: " + byKind.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, xs) => f"$k ${Stats.median(xs.map(_._2).toSeq)}%.0f" }.mkString(", "))
    // Output check, outside the timed region: the first CheckedReads
    // distinct reads against a plain Parquet read of their snapshot's files.
    val wrong = results.take(CheckedReads).count { case (s, got) =>
      val want = plain(ctx, t, s.snapshot.getOrElse(current), s).map(_.toString).sorted.toVector
      if (want != got) notes += s"read $s: ${got.size} rows, plain Parquet gives ${want.size}"
      want != got
    }
    val stored = LakeFiles.storedBytes(t).toDouble / LakeFiles.textBytes(cols, rows.values)
    Outcome(setupMs / 1000.0, ops, stored, wrong,
      if (ctx.trace) layers(ctx, traced.toVector) else Map.empty, notes.toSeq)
  }

  private def read(ctx: Ctx, t: LakeTable, s: Spec): (DataFrame, Array[Row], Option[LakeTable#PruneStats]) = {
    val spark = ctx.spark
    val tr = ctx.tracer
    s.kind match {
      case "point" | "range" =>
        val scan = tr.span("LakeTable.scan", "lake")(t.scan(convRange = Some((s.lo, s.hi))))
        val df = scan.df
        (df, tr.span("collect", "spark")(df.collect()), Some(scan.prune))
      case "aggregate" =>
        val df = spark.sql(
          s"""SELECT role, count(*) AS n, sum(length(text)) AS chars FROM lake
             |WHERE conv_id BETWEEN '${s.lo}' AND '${s.hi}' GROUP BY role""".stripMargin)
        (df, tr.span("collect", "plans")(df.collect()), None)
      case "as_of" =>
        tr.span("GraftPlans.registerAsOf", "plans")(
          GraftPlans.registerAsOf(spark, t, "lake_as_of", snapshotId = s.snapshot))
        val df = spark.sql(
          s"""SELECT conv_id, turn_idx, role, text FROM lake_as_of
             |WHERE conv_id BETWEEN '${s.lo}' AND '${s.hi}'""".stripMargin)
        (df, tr.span("collect", "plans")(df.collect()), None)
    }
  }

  /** The same read over `spark.read.parquet` of the snapshot's data files. */
  private def plain(ctx: Ctx, t: LakeTable, snapshotId: Long, s: Spec): Array[Row] = {
    val snap = t.snapshot(snapshotId)
    val files = t.dataFiles(snap).map(f => t.absData(f.path))
    val all = ctx.spark.read.schema(snap.schema.toStruct).parquet(files: _*)
    val in = all.where(col("conv_id").between(s.lo, s.hi))
    s.kind match {
      case "point" | "range" => in.collect()
      case "aggregate" =>
        in.groupBy("role").agg(count(lit(1)).as("n"), sum(length(col("text"))).as("chars")).collect()
      case "as_of" => in.select("conv_id", "turn_idx", "role", "text").collect()
    }
  }

  private def layers(ctx: Ctx, per: Vector[Traced]): Map[String, Double] = {
    ctx.drain()
    val tr = new Trace(ctx.tracer.spans, ctx.listener.jobs)
    val ops = per.map(_.op).toSet
    val reads = tr.spans.filter(s => s.name == "read" && ops(s.op))
    val scans = tr.spans.filter(s => s.name == "LakeTable.scan" && ops(s.op))
    val jobs = reads.flatMap(tr.jobsUnder)
    val pruned = per.flatMap(_.prune)
    val n = math.max(1, per.size).toDouble
    val m = math.max(1, pruned.size).toDouble
    Map(
      "lake.scan_plan_ms" -> (if (scans.isEmpty) 0.0 else Stats.median(scans.map(_.ms))),
      "lake.manifests_opened_per_read" -> pruned.map(_.openedManifests).sum / m,
      "lake.files_selected_per_read" -> pruned.map(_.selectedFiles).sum / m,
      "lake.prune_ratio" -> pruned.map(_.ratio).sum / m,
      "lake.rows_examined_per_row_returned" -> jobs.map(_.inputRecords).sum.toDouble / math.max(1L, per.map(_.rows).sum),
      "plans.analysis_ms" -> Stats.median(per.map(_.phases("analysis"))),
      "plans.optimization_ms" -> Stats.median(per.map(_.phases("optimization"))),
      "plans.planning_ms" -> Stats.median(per.map(_.phases("planning"))),
      "plans.jobs_per_read" -> jobs.size / n
    ) ++ tr.sparkShares(reads, ctx.cores)
  }
}
