package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._

import graft.operators.TxTable

/** A Catalyst [[FileIndex]] over a TxTable snapshot — the Delta-style
  * integration point that makes the table's log stats a PLANNING-TIME
  * input instead of a manual API: `FileSourceScanExec` hands every
  * pushed data filter to [[listFiles]], and files whose logged
  * [min,max] range or key bloom PROVES the conjunction empty never
  * enter the scan. The scan itself stays a stock parquet
  * `HadoopFsRelation` — vectorized reader, parquet-level pushdown,
  * column pruning, and whole-stage codegen all native.
  *
  * [[sizeInBytes]] feeds Catalyst's join planning, so a small graft
  * table under the autoBroadcastJoinThreshold broadcasts WITHOUT an
  * explicit hint — at 100 TB the dimension side of a star join picks
  * the right strategy from the log, not from a user annotation.
  *
  * Skipping is strictly conservative: a file is dropped only when a
  * top-level conjunct provably matches no row. The decision is
  * [[TxTable.Snapshot.kept]] — the same [[graft.operators.GraftSkipping]]
  * evaluator [[TxTable.readWhere]] and [[TxTable.keptFiles]] use, which
  * optimize their predicate into the form these data filters have.
  *
  * File sizes come from one filesystem stat per live file at index
  * construction; a production deployment would record lengths in the
  * commit log at publish time and skip the round-trips (same idea as
  * [[TxTable.metaAggregate]]'s row counts).
  */
final class GraftFileIndex(
    val root: String,
    snap: TxTable.Snapshot,
    dataSchema: StructType) extends FileIndex {

  private val statuses: Seq[(String, FileStatus)] = snap.files.map { f =>
    val p = java.nio.file.Paths.get(root, f)
    f -> new FileStatus(java.nio.file.Files.size(p), false, 1, 128L << 20,
      java.nio.file.Files.getLastModifiedTime(p).toMillis,
      new HPath(p.toUri))
  }
  private val statusOf = statuses.toMap

  override def rootPaths: Seq[HPath] =
    Seq(new HPath(java.nio.file.Paths.get(root).toUri))

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = dataFilters.reduceOption(And).fold(snap.files)(snap.kept(_))
    GraftFileIndex.record(root, snap.files.size, kept.size)
    Seq(PartitionDirectory(InternalRow.empty, kept.map(statusOf).toArray))
  }

  override def inputFiles: Array[String] =
    snap.files.map(f => s"$root/$f").toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum
  override def partitionSchema: StructType = StructType(Nil)
  def schema: StructType = dataSchema

  /** The snapshot's total row count, from the log's per-file parquet-
    * footer counts — None unless EVERY live file has one recorded
    * (pre-row-count commits read -1). Zero data I/O. */
  def rowCountFromLog: Option[Long] = {
    val counts = snap.files.map(snap.live(_).rows)
    if (counts.isEmpty || counts.exists(_ < 0)) None else Some(counts.sum)
  }

  /** The folded [min,max] of a stats column across all live files —
    * None unless every file carries an entry for it. The long axis is
    * EXACT only for integral/date columns (the caller checks the type);
    * the empty fold (MaxValue, MinValue) means every row is NULL. */
  def statsRangeFromLog(col: String): Option[(Long, Long)] = {
    val perFile = snap.files.map(snap.statsOf(_, col))
    if (perFile.isEmpty || perFile.exists(_.isEmpty)) None
    else Some(perFile.flatten.reduce { (a, b) =>
      (math.min(a._1, b._1), math.max(a._2, b._2))
    })
  }
}

object GraftFileIndex {
  /** Last (total live files, files kept) per table root — the pruning
    * accounting specs and queries assert on (same role as
    * [[TxTable.keptFiles]], but for the planner path). */
  private val listings = new ConcurrentHashMap[String, (Int, Int)]()
  private def record(root: String, total: Int, kept: Int): Unit =
    listings.put(root, (total, kept))
  def lastListing(root: String): Option[(Int, Int)] =
    Option(listings.get(root))
  def resetListing(root: String): Unit = listings.remove(root)
}
