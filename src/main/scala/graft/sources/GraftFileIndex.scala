package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** The Delta-style planning bridge: a [[FileIndex]] over the LOG's
  * pinned file list, so Spark's NATIVE parquet relation — whole-stage
  * codegen, vectorized batches, row-group pushdown — plans with the
  * engine's pv/stats/bloom file skipping. `listFiles` translates the
  * plan's data filters to the v1 model and serves exactly the files
  * [[TxLog.pruneByFilters]] keeps; Catalyst never lists a directory,
  * and a pruned file is never opened. File lengths come from the log
  * (exact — the commit recorded `Files.size`), so split planning needs
  * zero filesystem metadata calls.
  *
  * This is the same inversion Delta's PreparedDeltaFileIndex performs:
  * the transaction log IS the file listing, and data skipping runs
  * inside the relation instead of in front of it. */
private[sources] final class GraftFileIndex(
    dir: String,
    survivorsOf: Seq[org.apache.spark.sql.sources.Filter] => Seq[TxLog.AddFile],
    totalBytes: Long) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(new Path(dir))
  override def partitionSchema: StructType = StructType(Nil)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // untranslatable predicates simply don't prune (conservative);
    // translated ones ride the same pv/stats/bloom path every other
    // consumer of the log uses
    val v1 = dataFilters.flatMap(
      org.apache.spark.sql.graft.GraftSqlShims.translateV1Filter)
    // modification time 0: the log records none, and the engine never
    // reads `_metadata.file_modification_time`
    val files = survivorsOf(v1).map(a =>
      new FileStatus(a.bytes, false, 1, 128L << 20, 0L, new Path(uriOf(a))))
    Seq(PartitionDirectory(InternalRow.empty, files.toArray))
  }

  private def uriOf(a: TxLog.AddFile): java.net.URI =
    java.nio.file.Paths.get(dir, a.path).toUri

  /** File URIs, as Spark's own file indexes report them. */
  override def inputFiles: Array[String] =
    survivorsOf(Nil).map(uriOf(_).toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = totalBytes
}
