package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.TimestampType

import graft.lake.LakeTable

/** A lake row in canonical string form: timestamps as epoch micros, nulls as
  * null, keyed by (conv_id, turn_idx).
  */
object Rows {
  type Key = (String, Int)

  def collect(df: DataFrame): (Vector[String], Map[Key, Vector[String]]) = {
    val fields = df.schema.fields.toVector
    val names = fields.map(_.name)
    val ci = names.indexOf("conv_id")
    val ti = names.indexOf("turn_idx")
    val rows = df.collect().iterator.map { r =>
      (r.getString(ci), r.getInt(ti)) -> fields.indices.map(i => cell(r, i, fields(i).dataType == TimestampType)).toVector
    }.toMap
    (names, rows)
  }

  private def cell(r: Row, i: Int, ts: Boolean): String =
    if (r.isNullAt(i)) null
    else if (ts) {
      val t = r.getTimestamp(i)
      (t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000L).toString
    } else r.get(i).toString
}

/** Driver-side model of the lake under MERGE: the base rows plus each drop's
  * last non-empty values, with new columns appended in first-seen order.
  */
final class LakeModel(baseColumns: Vector[String], base: Map[Rows.Key, Vector[String]]) {
  val columns: mutable.ArrayBuffer[String] = mutable.ArrayBuffer(baseColumns: _*)
  private val rows = mutable.HashMap.empty[Rows.Key, mutable.HashMap[String, String]]
  base.foreach { case (k, v) => rows(k) = mutable.HashMap(baseColumns.zip(v).filter(_._2 != null): _*) }

  def size: Int = rows.size

  def apply(d: Drop): Unit = {
    d.fields.filterNot(columns.contains).foreach(columns += _)
    d.rows.foreach { r =>
      val row = rows.getOrElseUpdate((r.conv, r.turn),
        mutable.HashMap("conv_id" -> r.conv, "turn_idx" -> r.turn.toString))
      r.cells.foreach { case (c, v) => if (v.nonEmpty) row(c) = v }
    }
  }

  /** Keys whose lake row differs from the model (missing, extra or changed),
    * or every model key when the schema itself differs.
    */
  def mismatches(lakeColumns: Vector[String], lake: Map[Rows.Key, Vector[String]]): Set[Rows.Key] =
    if (lakeColumns != columns.toVector) rows.keySet.toSet
    else {
      val changed = rows.iterator.collect {
        case (k, row) if !lake.get(k).contains(columns.toVector.map(row.getOrElse(_, null))) => k
      }.toSet
      changed ++ (lake.keySet -- rows.keySet)
    }
}

/** File-level helpers over a lake directory. */
object LakeFiles {

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def filesUnder(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => p.relativize(f).toString -> Files.size(f)).toMap
      finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator.asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Data files the current snapshot references that are not on disk. */
  def missingFiles(t: LakeTable): Vector[String] =
    t.currentFiles.map(_.path).filterNot(p => Files.exists(Paths.get(t.absData(p))))

  /** Stored bytes: data, metadata and sketch store. */
  def storedBytes(t: LakeTable): Long =
    Seq("data", "metadata", "sketches").map(d => bytesUnder(Paths.get(t.root, d))).sum

  def liveDataBytes(t: LakeTable): Long = t.currentFiles.map(_.bytes).sum

  /** UTF-8 bytes of live turn text in canonical rows. */
  def textBytes(columns: Vector[String], rows: Iterable[Vector[String]]): Long = {
    val ti = columns.indexOf("text")
    rows.iterator.map(r => Option(r(ti)).map(_.getBytes("UTF-8").length.toLong).getOrElse(0L)).sum
  }
}
