package graftbench

import org.scalatest.funsuite.AnyFunSuite

class MeasureSpec extends AnyFunSuite {

  test("tail rule: the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(5) == 50.0) // too few: the median stands in
    assert(Stats.tailPercentile(20) == 50.0)
    assert(Stats.tailPercentile(39) == 50.0)
    assert(Stats.tailPercentile(40) == 75.0)
    assert(Stats.tailPercentile(99) == 75.0)
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(200) == 95.0)
    assert(Stats.tailPercentile(1000) == 99.0)
    assert(Stats.tailPercentile(10000) == 99.9)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Stats.Tail(90.0, 90.0, 100))
    assert(xs.count(_ > Stats.tail(xs).value) == 10)
    assert(Stats.tail(Seq(1.0, 2.0, 3.0, 4.0, 5.0, 9.0)) == Stats.Tail(50.0, 3.5, 6))
    // lake_read's floor of reads puts its tail inside the aggregates, not on their edge
    assert(Stats.tailPercentile(LakeRead.MinReads) == 90.0)
  }

  test("median and nearest-rank percentiles") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(Seq(5.0, 1.0, 4.0, 2.0, 3.0), 50) == 3.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 4.0, 2.0, 3.0), 100) == 5.0)
  }

  private val sqlThread =
    """org.apache.spark.sql.Dataset.head(Dataset.scala:2683)
      |graft.maintain.MergeInto$.merge(MergeInto.scala:77)
      |graftbench.Lakes$.$anonfun$land$5(Lakes.scala:61)
      |graftbench.Tracer.span(Tracing.scala:140)""".stripMargin

  test("call sites map to the innermost engine module, skipping the benchmark's own frames") {
    assert(CallSites.module(sqlThread) == "maintain.MergeInto")
    assert(CallSites.module("graftbench.Main$.main(Main.scala:1)\njava.base/java.lang.Thread.run(Thread.java:1)") == "other")
    assert(CallSites.module(
      "graft.maintain.Clustering$.$anonfun$cluster$5(Clustering.scala:140)\ngraft.maintain.Maintenance$.runCycle(Maintenance.scala:90)") ==
      "maintain.Clustering")
    assert(CallSites.module("graft.lake.LakeTable$PruneStats.ratio(LakeTable.scala:175)") == "lake.LakeTable")
    assert(CallSites.module("graft.lake.LakeTable.writeDataFiles(LakeTable.scala:300)") == "lake.LakeTable")
  }

  test("modules map to layers and maintenance jobs to cycle phases") {
    assert(CallSites.layer("maintain.MergeInto") == "merge")
    assert(CallSites.layer("maintain.Sketches") == "sketches")
    assert(CallSites.layer("maintain.Dedupe") == "maintain")
    assert(CallSites.layer("ingest.Transposer") == "ingest")
    assert(CallSites.layer("other") == "other")
    val sketchInCluster =
      """graft.maintain.Sketches$.sketchOnWrite(Sketches.scala:90)
        |graft.lake.LakeTable.writeDataFiles(LakeTable.scala:318)
        |graft.maintain.Clustering$.$anonfun$cluster$5(Clustering.scala:140)
        |graft.maintain.Maintenance$.runCycle(Maintenance.scala:90)""".stripMargin
    assert(CallSites.phase(sketchInCluster) == "cluster")
    assert(CallSites.phase("graft.maintain.Sketches$.ensure(Sketches.scala:103)\ngraft.maintain.Dedupe$.computeVictims(Dedupe.scala:333)") == "dedupe")
    assert(CallSites.phase(sqlThread) == "other")
  }

  test("self time is span time minus the union of its children") {
    assert(Trace.covered(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
    val spans = Vector(Span(1, 0, 1, "drop", "op", 0, 100), Span(2, 1, 1, "MergeInto.merge", "merge", 10, 90))
    val job = JobStat(7, 20, 50, "graft.maintain.MergeInto$.merge(MergeInto.scala:77)",
      1, 4, 30, 0, 0, 0, 0, 0, 0, 0, 0)
    val tr = new Trace(spans, Vector(job))
    assert(tr.parentOf(7).id == 2)
    assert(tr.selfMs(spans(0)) == 20.0)
    assert(tr.selfMs(spans(1)) == 50.0)
    assert(tr.jobsUnder(spans(0)) == Vector(job))
  }

  test("the lake model keeps the last non-empty value and evolves columns in first-seen order") {
    val base = Map(("c1", 0) -> Vector("c1", "0", "user", "hi"))
    val m = new LakeModel(Vector("conv_id", "turn_idx", "role", "text"), base)
    def drop(fields: Vector[String], rows: StagedRow*) =
      Drop(0, "d.csv", Array.emptyByteArray, graft.ingest.Dialect.Excel, vertical = false,
        large = false, Vector.empty, fields, rows.toVector, 0)
    m(drop(Vector("conv_id", "turn_idx", "text", "note", "lang"),
      StagedRow("c1", 0, Vector("text" -> "", "note" -> "n1", "lang" -> "")),
      StagedRow("c1", 0, Vector("text" -> "bye", "note" -> "", "lang" -> "")),
      StagedRow("c2", 3, Vector("text" -> "", "note" -> "x", "lang" -> ""))))
    assert(m.columns == Seq("conv_id", "turn_idx", "role", "text", "note", "lang"))
    val lake = Map(
      ("c1", 0) -> Vector("c1", "0", "user", "bye", "n1", null),
      ("c2", 3) -> Vector("c2", "3", null, null, "x", null))
    assert(m.mismatches(m.columns.toVector, lake).isEmpty)
    assert(m.mismatches(m.columns.toVector, lake.updated(("c2", 3), Vector("c2", "3", null, "", "x", null))) ==
      Set(("c2", 3)))
    assert(m.mismatches(Vector("conv_id"), lake).size == 2)
  }
}
