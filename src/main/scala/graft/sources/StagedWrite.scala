package graft.sources

import java.util.{Locale, UUID}

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Cast,
  JoinedRow, MutableProjection, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker,
  FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StringType
import org.apache.spark.util.SerializableConfiguration

/** The parquet write behind TxLog staging, with each file's statistics
  * collected WHILE the file is written (Delta's
  * `DeltaJobStatisticsTracker` shape) instead of by a second scan of the
  * staged files. A [[WriteJobStatsTracker]] rides
  * `FileFormatWriter.write` next to Spark's own basic tracker: per task
  * it keeps one buffer per open file — row count, per-column null count,
  * and Spark's own `Min`/`Max` aggregate buffers — and ships the closed
  * files' results back in the task commit message. The driver renders
  * each bound with `CAST(_ AS STRING)` under the session time zone, the
  * same expressions the re-read path ([[TxLog]]'s `collectAdds`) runs,
  * so collations, NaN, −0.0, all-null columns and timestamps come out
  * bit-identical.
  *
  * The write runs as its own SQL execution over the frame's
  * `QueryExecution`, so `Dataset.observe` metrics on the frame complete
  * exactly as under `df.write`. */
private[sources] object StagedWrite {

  /** One written file: its row count and, per stats column (in request
    * order), the rendered min, the rendered max and the null count. */
  final case class FileStats(rows: Long, cols: Seq[(Option[String], Option[String], Long)])

  /** Write `df` as parquet under `path` — hive-partitioned by
    * `partitionCols` when non-empty — and return the stats of every
    * written file, keyed by its path relative to `path` (partition
    * directories included). `statCols` name the data columns whose
    * bounds are collected; every file gets a row count. */
  def write(df: DataFrame, path: String, partitionCols: Seq[String],
      statCols: Seq[String]): Map[String, FileStats] = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      val plan = qe.executedPlan
      // the frame's logical nullability, which df.write records: the
      // physical plan can narrow it (a NOT NULL filter), and a narrowed
      // column would be written as a REQUIRED parquet column
      val output = plan.output.zip(qe.optimizedPlan.output).map { case (a, l) =>
        a.withNullability(l.nullable)
      }
      // df.write's guard: a parquet file must not repeat a column name
      val names = output.map(a =>
        if (spark.sessionState.conf.caseSensitiveAnalysis) a.name else a.name.toLowerCase(Locale.ROOT))
      require(names.distinct.size == names.size,
        s"duplicate column names in the staged frame: ${output.map(_.name).mkString(", ")}")
      val partAttrs = partitionCols.map(c => output.find(_.name == c).getOrElse(
        sys.error(s"partition column $c not in the staged frame")))
      val dataAttrs = output.filterNot(partAttrs.contains)
      val statIdx = statCols.map(c => dataAttrs.indexWhere(_.name == c))
      require(statIdx.forall(_ >= 0), s"stats columns ${statCols.mkString(",")} not all in the data")
      val hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
      val out = new Path(path)
      val fs = out.getFileSystem(hadoopConf)
      val qualified = out.makeQualified(fs.getUri, fs.getWorkingDirectory).toString
      val committer = FileCommitProtocol.instantiate(
        spark.sessionState.conf.fileCommitProtocolClass, UUID.randomUUID().toString, qualified)
      val tracker = new StatsTracker(dataAttrs, statIdx, partitionCols.size + 1)
      FileFormatWriter.write(spark, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(qualified, Map.empty, output), hadoopConf, partAttrs,
        bucketSpec = None,
        statsTrackers = Seq(new BasicWriteJobStatsTracker(
          new SerializableConfiguration(hadoopConf), BasicWriteJobStatsTracker.metrics), tracker),
        options = Map.empty): Unit
      tracker.rendered(spark.sessionState.conf.sessionLocalTimeZone)
    }
  }

  /** A closed file's raw result: `bounds` holds (min, max) per stats
    * column, in Spark's internal representation. */
  private final case class FileResult(key: String, rows: Long, nulls: Array[Long],
      bounds: UnsafeRow)

  private final case class TaskFiles(files: Seq[FileResult]) extends WriteTaskStats

  /** Driver side: gathers the committed tasks' file results. `keyDepth`
    * is how many trailing path components name a file relative to the
    * output root — 1 plus one directory per partition column. */
  private final class StatsTracker(dataAttrs: Seq[Attribute], statIdx: Seq[Int],
      keyDepth: Int) extends WriteJobStatsTracker {
    @transient private var files: Seq[FileResult] = Nil

    override def newTaskInstance(): WriteTaskStatsTracker =
      new TaskStatsTracker(dataAttrs, statIdx, keyDepth)

    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      files = stats.flatMap(_.asInstanceOf[TaskFiles].files)

    def rendered(timeZone: String): Map[String, FileStats] = {
      val render = statIdx.indices.flatMap { k =>
        val dt = dataAttrs(statIdx(k)).dataType
        Seq(2 * k, 2 * k + 1).map(j => Cast(BoundReference(j, dt, nullable = true),
          StringType, Some(timeZone)))
      }
      def str(j: Int, row: InternalRow): Option[String] = Option(render(j).eval(row)).map(_.toString)
      files.map { f =>
        f.key -> FileStats(f.rows, statIdx.indices.map(k =>
          (str(2 * k, f.bounds), str(2 * k + 1, f.bounds), f.nulls(k))))
      }.toMap
    }
  }

  /** Task side: one buffer per open file, keyed by the path the writer
    * reports (the commit protocol later renames the task's files, so
    * results carry only the trailing path components). */
  private final class TaskStatsTracker(dataAttrs: Seq[Attribute], statIdx: Seq[Int],
      keyDepth: Int) extends WriteTaskStatsTracker {
    private val aggs = statIdx.flatMap(i => Seq(Min(dataAttrs(i)), Max(dataAttrs(i))))
    private val bufAttrs = aggs.flatMap(_.aggBufferAttributes)
    private val init = MutableProjection.create(aggs.flatMap(_.initialValues))
    private val update = MutableProjection.create(aggs.flatMap(_.updateExpressions),
      bufAttrs ++ dataAttrs)
    private val evaluate = UnsafeProjection.create(aggs.map(_.evaluateExpression), bufAttrs)
    private val joined = new JoinedRow

    private final class FileBuffer(val key: String) {
      var rows = 0L
      val nulls = new Array[Long](statIdx.length)
      // a mutable projection copies string values into its target, so a
      // bound never points into the writer's reused input row
      val buffer = new SpecificInternalRow(bufAttrs.map(_.dataType))
      init.target(buffer)(InternalRow.empty)
      def result: FileResult = FileResult(key, rows, nulls, evaluate(buffer).copy())
    }

    private val open = mutable.HashMap.empty[String, FileBuffer]
    private val closed = mutable.ArrayBuffer.empty[FileResult]
    private var currentPath: String = _
    private var current: FileBuffer = _

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit = {
      val key = filePath.split('/').takeRight(keyDepth).mkString("/")
      open(filePath) = new FileBuffer(key)
    }

    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (filePath ne currentPath) { current = open(filePath); currentPath = filePath }
      val f = current
      f.rows += 1
      var k = 0
      while (k < statIdx.length) {
        if (row.isNullAt(statIdx(k))) f.nulls(k) += 1
        k += 1
      }
      update.target(f.buffer)(joined(f.buffer, row))
    }

    override def closeFile(filePath: String): Unit = {
      open.remove(filePath).foreach(f => closed += f.result)
      if (filePath == currentPath) { currentPath = null; current = null }
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
      open.values.foreach(f => closed += f.result)
      open.clear()
      TaskFiles(closed.toSeq)
    }
  }
}
