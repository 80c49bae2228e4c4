package graft.maintain

import org.apache.spark.sql.functions._

import graft.lake.{DataFile, LakeTable, Snapshot}

/** Bin-packing small-file compaction: files below `smallFileBytes` are
  * packed first-fit-decreasing into ~targetBytes bins; each bin is read,
  * re-sorted on the cluster key and rewritten as ONE file — a pure
  * coalesce, NO shuffle (the expensive global ordering work belongs to
  * [[Clustering]], not here). Each bin checkpoints to the ledger, so a
  * restarted job skips finished bins.
  */
object Compaction {

  final case class Result(snapshot: Option[Snapshot], bins: Int, resumedBins: Int,
                          filesCompacted: Int)

  /** `excludePaths`: files never considered for packing even when small —
    * [[Maintenance.runCycle]] passes the last cluster commit's file set so
    * compaction only packs NEW drop debris, not freshly clustered slabs
    * (re-packing those would dirty every slab and force the next recluster
    * to be full instead of incremental).
    */
  def compact(table: LakeTable, jobId: String,
              smallFileBytes: Long = 32L << 20,
              targetBytes: Long = 128L << 20,
              excludePaths: Set[String] = Set.empty): Result = {
    // Bins are single-task coalesce jobs: submit them CONCURRENTLY so they
    // fill the executors instead of running one task at a time.
    val run = Ledger.rewrite(table, jobId, "compact", kind = "compact",
      parallelism = table.spark.sparkContext.defaultParallelism,
      summary = bins => Map("bins" -> bins.size.toString,
        "files_compacted" -> bins.map(_.inFiles.size).sum.toString)) {
      val small = table.currentFiles.filter(f =>
        f.bytes < smallFileBytes && !excludePaths(f.path))
      Ledger.Plan(firstFitDecreasing(small, targetBytes)
        .filter(_.size > 1) // a lone small file gains nothing from rewrite
        .map(_.map(_.path)))
    } { _ => bin =>
      val df = table.readData(bin.paths.map(table.absData))
        .coalesce(1) // merge partitions without shuffling
        .sortWithinPartitions(col("conv_id"), col("turn_idx"))
      table.writeDataFiles(df, s"$jobId-b${bin.index}")
    }
    // a first run with nothing to pack committed no snapshot
    val snapshot = Some(run.snapshot).filter(_ => run.replayed || run.tasks.nonEmpty)
    Result(snapshot, run.tasks.size, run.resumed, run.tasks.map(_.inFiles.size).sum)
  }

  /** Classic FFD: sort descending by size, place each file into the first
    * bin with room, open a new bin otherwise.
    */
  def firstFitDecreasing(files: Vector[DataFile], targetBytes: Long): Vector[Vector[DataFile]] = {
    val bins = scala.collection.mutable.ArrayBuffer.empty[(Long, scala.collection.mutable.ArrayBuffer[DataFile])]
    files.sortBy(-_.bytes).foreach { f =>
      bins.indexWhere(_._1 + f.bytes <= targetBytes) match {
        case -1 => bins += ((f.bytes, scala.collection.mutable.ArrayBuffer(f)))
        case i => val (sz, buf) = bins(i); buf += f; bins(i) = (sz + f.bytes, buf)
      }
    }
    bins.map(_._2.toVector).toVector
  }
}
