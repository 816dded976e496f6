package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A pinned snapshot's file list as Spark's own [[FileIndex]], so a
  * graft read plans as the native `FileSourceScanExec` (vectorized
  * parquet, codegen, row-group pushdown, scan SQLMetrics) with no
  * directory listing: `files` comes from the manifest, lengths from
  * its byte ledger. `select` picks the files a scan needs from the
  * data filters the scan pushes — the manifest's pruning for a table's
  * data files ([[GraftRelation.scanPlan]]), every file for its
  * deletion vectors. Unpartitioned by design: partition values live
  * in the data files themselves (see `Snapshots.PartShadowPrefix`).
  *
  * Equal by (root, files): two indexes over the same files serve the
  * same rows whatever `select` skips (pruning is conservative), and
  * that equality is what lets adaptive execution reuse a finished
  * stage over this index when it plans the relation again.
  */
private[sources] final class ManifestFileIndex(
    private val root: Path, private val files: Seq[FileStatus],
    select: Seq[Expression] => Seq[FileStatus]) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty,
      select(dataFilters).map(FileStatusWithMetadata(_))))

  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.iterator.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  override def equals(other: Any): Boolean = other match {
    case o: ManifestFileIndex => root == o.root && files == o.files
    case _ => false
  }

  override lazy val hashCode: Int = (root, files).##
}
