package graft.pipeline

import java.io.IOException
import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

import graft.sources.{SmallTable, TxLog}

/** Incremental refresh of a transactional table node whose build is a
  * bare [[TxLog.read]] of another table (the source): the node's sink
  * gains only the source files added since the source version it last
  * mirrored, hard-linked rather than rewritten — the reference's
  * `diabetes_bronze` streaming table and its identity read
  * `diabetes_bronze_materialized` (diabetes_etl_pipeline.py:46-92) each
  * add only the newly landed rows per update.
  *
  * A mirror commit records the source version as its txn, under the
  * source's [[Source.app]], so a re-run over the same source version
  * commits nothing. Expectations are evaluated over the new rows only
  * (one aggregation job, none for a node without expectations) and
  * added to the cumulative counts the previous commit carried as table
  * properties ([[props]]); the node reports the new totals, as a full
  * refresh would. When a Drop expectation rejects a new row, the
  * filtered new rows are written instead of linked.
  *
  * The sink is extended only when its head commit is a mirror commit
  * of this very source: txns and table properties outlive later
  * commits, so after any other commit (a run whose build was not a bare
  * read, an OPTIMIZE, DML) they no longer describe the sink's content.
  *
  * [[refresh]] returns None — the caller then overwrites the sink in
  * full, recording the same txn and counts — when the sink's head is
  * not this source's mirror commit, its carried counts are of other
  * expectations, either table's layout rules out linking
  * ([[TxLog.linkable]]), the files cannot be linked (the tables are on
  * different filesystems, or the filesystem has no hard links), or the
  * source did more than append since the mirrored version (a removed
  * file: overwrite, compaction, OPTIMIZE, DML; or a schema change). */
private[pipeline] object Mirror {

  /** A bare read's table and version, and the txn app a mirror of that
    * table commits under: the absolute directory and the timestamp of
    * the table's commit 0, so a table deleted and re-created in the
    * same directory is another source, whose versions restart. */
  final case class Source(dir: String, version: Long, app: String)

  /** The source `df` reads when it is a bare [[TxLog.read]]; None for
    * any other frame, and for a table whose commit 0 log cleanup
    * removed (its identity is then unknown). */
  def source(df: DataFrame): Option[Source] =
    TxLog.readSource(df).flatMap { r =>
      TxLog.logCommit(r.dir, 0L).map { c0 =>
        Source(r.dir, r.version, s"mirror:${Paths.get(r.dir).toAbsolutePath.normalize}@${c0.ts}")
      }
    }

  private val Prefix = "graft.expectations"

  /** The cumulative counts as table properties: the expectation list
    * they are counts of, the rows seen and each expectation's
    * failures. */
  def props(es: Seq[Expectation], c: ExpectationCounts): Map[String, String] =
    if (es.isEmpty) Map.empty
    else Map(Prefix -> spec(es), s"$Prefix.rows" -> c.rows.toString) ++
      es.map(e => s"$Prefix.failed.${e.name}" -> c.failed(e.name).toString)

  private def spec(es: Seq[Expectation]): String =
    es.map(e => s"${e.name}\t${e.mode.label}\t${e.predicate}").mkString("\n")

  /** The counts [[props]] stored, if they are of exactly `es`. */
  private def carried(es: Seq[Expectation], p: Map[String, String]): Option[ExpectationCounts] =
    if (es.isEmpty) Some(ExpectationCounts.zero(es))
    else if (!p.get(Prefix).contains(spec(es))) None
    else for {
      rows <- p.get(s"$Prefix.rows").flatMap(_.toLongOption)
      failed <- es.foldLeft(Option(Map.empty[String, Long])) { (acc, e) =>
        for (m <- acc; n <- p.get(s"$Prefix.failed.${e.name}").flatMap(_.toLongOption))
          yield m + (e.name -> n)
      }
    } yield ExpectationCounts(rows, failed)

  /** Bring `t`'s sink at `sink` up to `src`; returns the sink's version
    * and the node's cumulative counts, or None to fall back to a full
    * overwrite. */
  def refresh(spark: SparkSession, t: TableDef, sink: String,
      src: Source): Option[(Long, ExpectationCounts)] = {
    val head = if (TxLog.latestVersion(sink) < 0) None else Some(TxLog.snapshot(sink))
    // the source version the sink holds: -1 for no sink, else the batch
    // of the head commit's txn when that commit is this source's mirror
    val mirrored = head.fold(Option(-1L)) { h =>
      TxLog.logCommit(sink, h.version).flatMap(_.txn).collect { case (src.app, b) => b }
    }
    val before = head.fold(Option(ExpectationCounts.zero(t.expectations)))(h => carried(t.expectations, h.props))
    (mirrored, before) match {
      case (Some(from), Some(c)) if from == src.version => head.map(h => (h.version, c))
      case (Some(from), Some(c)) if from < src.version =>
        val srcSnap = TxLog.snapshot(src.dir, Some(src.version))
        if (!TxLog.linkable(srcSnap, head)) None
        else TxLog.appendedFilesBetween(src.dir, from, src.version).flatMap { files =>
          lazy val rows = SmallTable.onePartition(TxLog.scanAdds(spark, src.dir, srcSnap, files))
          val added =
            if (t.expectations.isEmpty || files.isEmpty) ExpectationCounts.zero(t.expectations)
            else {
              val cols = ExpectationCounts.columns(t.expectations)
              val r = rows.agg(cols.head, cols.tail: _*).head()
              ExpectationCounts.of(t.expectations, r.getValuesMap[Any](r.schema.fieldNames.toSeq))
            }
          val total = c + added
          val dropped = t.expectations.filter(e => e.mode == Expectation.Drop && added.failed(e.name) > 0)
          val committed =
            if (dropped.nonEmpty)
              Some(TxLog.appendBatch(spark, sink, dropped.foldLeft(rows)((df, e) => df.filter(expr(e.predicate))),
                src.app, src.version, props(t.expectations, total)))
            else
              try Some(TxLog.appendLinked(src.dir, sink, srcSnap.schemaDdl, files, src.app, src.version,
                props(t.expectations, total)))
              catch { case _: IOException => None } // cannot link: overwrite instead
          // Some(None): the sink's txns already hold this source version.
          // A run that committed since `head` mirrored it: look again.
          // Else an older commit recorded it (a time-travel read): overwrite.
          val moved = TxLog.latestVersion(sink) != head.fold(-1L)(_.version)
          committed.flatMap(_.map(v => (v, total)).orElse(
            if (moved) refresh(spark, t, sink, src) else None))
        }
      case _ => None
    }
  }
}
