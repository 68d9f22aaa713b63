package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL surface for [[TxLog]] tables — a DataSource-V2 `TableCatalog`
  * that maps `<catalog>.<name>` to the transactional table at
  * `<root>/<name>` and serves each read from the LOG's snapshot.
  *
  * Registering
  * {{{
  *   spark.conf.set("spark.sql.catalog.tx", classOf[TxCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.tx.root", "/data/tables")
  * }}}
  * makes plain SQL work, INCLUDING Spark's native time-travel syntax —
  * the parser routes `VERSION AS OF` to [[loadTable(ident,version)]],
  * so no custom parsing exists here at all:
  * {{{
  *   SELECT * FROM tx.events VERSION AS OF 3
  * }}}
  *
  * Scan execution delegates to Spark's own v2 [[ParquetTable]] pinned to
  * the snapshot's exact live-file list and schema: predicate pushdown,
  * column pruning, and vectorized reading are inherited, and the file
  * list comes from one log replay — never a directory listing (the
  * object-store property the log format exists for).
  *
  * WRITES route through the V1 write fallback (`V1Write` →
  * `InsertableRelation`, the path Delta itself shipped on for years):
  * the arriving DataFrame — already cast and positionally resolved to
  * the table schema by Spark's own analysis — is handed to
  * [[TxLog.append]] / [[TxLog.overwrite]] on the driver, so the SQL
  * path shares EVERY protocol guarantee of the Scala API (staging,
  * schema fidelity, CHECK constraints, optimistic version races,
  * auto-compaction) instead of re-implementing a weaker distributed
  * commit. Supported statements:
  * {{{
  *   CREATE TABLE tx.t (id BIGINT, s STRING)
  *   CREATE TABLE tx.t (...) PARTITIONED BY (c) -- first-class partition columns
  *   CREATE TABLE tx.t AS SELECT ...           -- CTAS
  *   INSERT INTO tx.t SELECT ...               -- append commit
  *   INSERT OVERWRITE tx.t SELECT ...          -- overwrite commit
  *   INSERT OVERWRITE tx.t PARTITION (c='v') SELECT ... -- static partition replace
  *   ALTER TABLE tx.t SET TBLPROPERTIES (...)  -- property commit
  *   ALTER TABLE tx.t UNSET TBLPROPERTIES (...)
  *   ALTER TABLE tx.t ADD COLUMNS (x DOUBLE)   -- schema-only widen
  *   ALTER TABLE tx.t RENAME COLUMN a TO b     -- metadata-only (column mapping)
  *   ALTER TABLE tx.t DROP COLUMN a            -- metadata-only (column mapping)
  *   DROP TABLE tx.t
  *   ALTER TABLE tx.t RENAME TO tx.u
  *   TRUNCATE TABLE tx.t                -- metadata-only remove-all
  *   SHOW PARTITIONS tx.t [PARTITION (c='v')]  -- pv listing, zero file opens
  *   DELETE FROM tx.t WHERE …           -- SupportsDelete → TxLog.delete
  *   DELETE FROM tx.t WHERE k IN (SELECT …)    -- semi-join merge rewrite
  *   UPDATE tx.t SET c = e WHERE …      -- planner strategy → TxLog.update
  *   UPDATE tx.t SET … WHERE k IN (SELECT …)   -- semi-join merge rewrite
  *   MERGE INTO tx.t USING s ON …       -- strategy → merge / deleteKeys
  *   CREATE TABLE tx.t (c T DEFAULT expr, …)   -- analyzer-substituted defaults
  *   df.writeTo("tx.t").overwrite(cond) -- arbitrary-predicate replaceWhere
  * }}}
  * Time-travel relations stay read-only. `DELETE FROM` covers every
  * predicate expressible as v1 pushdown filters (=, <, >, IN, NULL
  * tests, AND/OR/NOT, string prefix/suffix/contains) — others are
  * refused with Spark's own untranslatable-filter error — plus the
  * uncorrelated `IN (subquery)` shape, rewritten onto the mergeClauses
  * semi-join. `UPDATE` and the upsert/erasure `MERGE` shapes route
  * through [[graft.plans.TxDmlStrategy]] (there is no V1 fallback
  * interface for them); other merge shapes are refused loudly.
  *
  * Scan-side planning: SQL reads file-skip through the log's pv/stats/
  * bloom metadata (including on DV-bearing snapshots), report
  * KeyGroupedPartitioning for storage-partitioned joins on
  * partition-aligned tables, and answer unfiltered `count(*)` from the
  * log alone (a LocalTableScan — zero file opens).
  */
/** Marker the planner-side DML strategy ([[graft.plans.TxDmlStrategy]])
  * uses to recognize a TxLog-backed relation and recover its directory:
  * SQL `UPDATE`/`MERGE` have no V1 fallback interface (unlike
  * `SupportsDelete`), so the strategy intercepts the analyzed command
  * plans and routes them through [[TxLog.update]]/[[TxLog.merge]]. */
trait TxTable {
  def txDir: String
  def txWritable: Boolean
  /** VECTORIZED merge-on-read ([[graft.plans.DvMaskRewrite]]): the
    * whole-stage-codegen read plan for a DV-bearing snapshot — native
    * parquet relations over a [[GraftFileIndex]] (file skipping kept)
    * with the dead positions applied as a codegen'd literal-map filter
    * on `_metadata.row_index`. None when the table carries no DVs, the
    * dead set exceeds [[TxLog.dvMaskMaxPositions]], or the table plans
    * distributed (sharded base) — those keep the V1 anti-join, which
    * is always sound. */
  def txMaskedScan(): Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = None
}

class TxCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catalogName: String = _
  private var root: String = _

  /** `CALL <cat>.optimize(…)` etc. — see [[TxProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    TxProcedures.load(root, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    TxProcedures.list

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null, s"catalog $name: set spark.sql.catalog.$name.root")
  }

  override def name(): String = catalogName

  private def dirOf(ident: Identifier): String =
    (ident.namespace.toSeq :+ ident.name).mkString(s"$root/", "/", "")

  private def toTable(ident: Identifier, versionAsOf: Option[Long]): Table = {
    val dir = dirOf(ident)
    // DISTRIBUTED PLANNING ([[TxLog.planningMeta]]): a table whose
    // replay base is a SHARDED checkpoint resolves only its METADATA
    // here (schema/props/partitioning — a manifest plus the few
    // commits since it) and leaves the live file list on disk; reads
    // then plan through [[TxLog.planScanMeta]] as a Spark job over the
    // shard lines, collecting only survivors. The materialized
    // snapshot below turns LAZY — touched only by the surfaces that
    // genuinely need the full listing (SHOW PARTITIONS, column-mapped
    // scans), never by a SELECT.
    val planMeta: Option[TxLog.SnapshotMeta] = TxLog.planningMeta(dir, versionAsOf)
    lazy val snap =
      try TxLog.snapshot(dir, versionAsOf)
      catch {
        case _: TxLog.VersionNotFoundException if versionAsOf.isEmpty =>
          throw new NoSuchTableException((ident.namespace :+ ident.name).toSeq)
      }
    // the metadata spine every surface below reads schema/props/version
    // from: meta when planning distributed, the snapshot otherwise
    // (evaluated eagerly there — missing tables must throw here)
    val head: TxLog.Snapshot = planMeta.map(_.metaSnap).getOrElse(snap)
    // the parquet scan is pinned to the PHYSICAL schema (what the files
    // store); for column-mapped tables a renaming shim translates the
    // plan's logical names at the scan boundary — row data is positional,
    // so only the planning-time names need translating
    val physSchema = TxLog.physicalSchema(head)
    val l2p = head.schema.fieldNames.zip(physSchema.fieldNames)
      .filter { case (l, p) => l != p }.toMap
    val p2l = l2p.map(_.swap)
    val tableName = s"$catalogName.${ident.name}@v${head.version}"
    lazy val scan = ParquetTable(tableName,
      SparkSession.active, CaseInsensitiveStringMap.empty(),
      snap.files.map(f => java.nio.file.Paths.get(dir, f.path).toString),
      Some(physSchema), classOf[ParquetFileFormat])
    val writable = versionAsOf.isEmpty // a time-travel relation is read-only
    // delegate scanning to the v2 parquet table but surface the LOG's
    // table properties (tombstoned keys dropped) — SHOW TBLPROPERTIES
    // then shows auto-optimize settings and CHECK constraints from SQL
    new Table with SupportsRead with SupportsWrite
        with org.apache.spark.sql.connector.catalog.SupportsDelete with TxTable
        with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {
      override def txDir: String = dir
      override def txWritable: Boolean = writable
      override def txMaskedScan()
          : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
        planMeta match {
          // sharded tables compose the mask with distributed planning:
          // dv descriptors arrive as a bounded distributed collect
          // (budget-checked first), pruning stays a Spark job
          case Some(meta) =>
            val stats = TxLog.planStatsMeta(SparkSession.active, dir, meta)
            TxCatalog.dvMaskedPlanDistributed(dir, meta, physSchema, stats)
          case None => TxCatalog.dvMaskedPlan(dir, snap, physSchema)
        }
      override def name(): String = tableName

      // ---- SHOW PARTITIONS (SupportsPartitionManagement, read side) ----
      // pv is DERIVED from data at write time, so partition existence is
      // a metadata FACT here, not managed state: the listing is served
      // from the log alone (zero file opens); the mutation verbs
      // (ADD/DROP PARTITION DDL) are refused — write data, don't declare
      // directories. REFUSED too while any live file lacks the full pv
      // tuple (mid-partition-evolution): an under-complete listing would
      // silently hide partitions that live only in legacy files; OPTIMIZE
      // migrates, then the listing is total.
      private def partFields: Array[StructField] =
        TxLog.partitionColsOf(head).toArray.map(c =>
          head.schema.fields.find(_.name == c).get)
      override def partitionSchema(): StructType = StructType(partFields)
      override def listPartitionIdentifiers(names: Array[String],
          ident: org.apache.spark.sql.catalyst.InternalRow)
          : Array[org.apache.spark.sql.catalyst.InternalRow] = {
        val fields = partFields
        // sharded tables list partitions as a distributed distinct over
        // the shard lines (bounded by partition count); driver tables
        // keep the snapshot scan — same alignment refusal either way
        val pvs: Seq[Map[String, String]] = planMeta match {
          case Some(meta) =>
            val session = SparkSession.active
            require(TxLog.planStatsMeta(session, dir, meta)._5 == 0L,
              s"$tableName: SHOW PARTITIONS on a mixed-generation table " +
                "(files predating the current partitioning) — OPTIMIZE to migrate")
            TxLog.planPartitionsMeta(session, dir, meta)
              .map(pv => fields.map(fd => fd.name -> pv(fd.name)).toMap)
              .distinct
          case None =>
            val live = snap.files.filter(_.rows > 0)
            require(live.forall(f => fields.forall(fd => f.pv.contains(fd.name))),
              s"$tableName: SHOW PARTITIONS on a mixed-generation table " +
                "(files predating the current partitioning) — OPTIMIZE to migrate")
            live.map(f => fields.map(fd => fd.name -> f.pv(fd.name)).toMap)
              .distinct
        }
        // the partial spec (SHOW PARTITIONS t PARTITION(c='v')) arrives
        // typed; compare in pv stats-canon space
        val want: Map[String, String] = names.zipWithIndex.flatMap { case (n, i) =>
          val fd = fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
            throw new IllegalArgumentException(s"$n is not a partition column"))
          TxCatalog.pvCanon(fd.dataType,
            ident.get(i, fd.dataType)).map(fd.name -> _)
        }.toMap
        pvs
          .filter(pv => want.forall { case (c, v) => pv(c) == v })
          .sortBy(pv => fields.map(fd => pv(fd.name)).mkString("\u0000"))
          .flatMap { pv =>
            val vals = fields.map(fd => TxCatalog.typedPv(fd.dataType, pv(fd.name)))
            if (vals.exists(_.isEmpty)) None
            else Some(new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(vals.map(_.get).toArray[Any])
              : org.apache.spark.sql.catalyst.InternalRow)
          }.toArray
      }
      override def loadPartitionMetadata(
          ident: org.apache.spark.sql.catalyst.InternalRow)
          : util.Map[String, String] = {
        val fields = partFields
        val want = fields.zipWithIndex.flatMap { case (fd, i) =>
          TxCatalog.pvCanon(fd.dataType, ident.get(i, fd.dataType))
            .map(fd.name -> _) }.toMap
        val (nf, nr, nb) = planMeta match {
          case Some(meta) =>
            TxLog.planPartitionStatsMeta(SparkSession.active, dir, meta, want)
          case None =>
            val fs = snap.files.filter(f => f.rows > 0 &&
              want.forall { case (c, v) => f.pv.get(c).contains(v) })
            (fs.size.toLong, fs.map(_.rows).sum, fs.map(_.bytes).sum)
        }
        Map("files" -> nf.toString, "rows" -> nr.toString,
          "bytes" -> nb.toString).asJava
      }
      override def createPartition(
          ident: org.apache.spark.sql.catalyst.InternalRow,
          props: util.Map[String, String]): Unit =
        throw new UnsupportedOperationException(
          s"$tableName: partitions are derived from written data, not DDL")
      override def dropPartition(
          ident: org.apache.spark.sql.catalyst.InternalRow): Boolean =
        throw new UnsupportedOperationException(
          s"$tableName: drop partitions by writing " +
            "(INSERT OVERWRITE … PARTITION / overwritePartitions), not DDL")
      override def replacePartitionMetadata(
          ident: org.apache.spark.sql.catalyst.InternalRow,
          props: util.Map[String, String]): Unit =
        throw new UnsupportedOperationException(
          s"$tableName: partition metadata is log-derived and immutable")
      // DEFAULTs surface as the column metadata Spark's analyzer reads
      // (CURRENT_DEFAULT / EXISTS_DEFAULT) — the substitution into SQL
      // INSERTs is then Spark's own, not a write-path re-implementation
      override def schema(): StructType = {
        val defs = TxLog.columnDefaultsOf(head.props)
        if (defs.isEmpty) head.schema
        else {
          import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns._
          StructType(head.schema.fields.map { f =>
            defs.get(f.name).fold(f) { sql =>
              f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putString(CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
                .putString(EXISTS_DEFAULT_COLUMN_METADATA_KEY, sql)
                .build())
            }
          })
        }
      }
      // advertise the log's first-class partition columns: Spark then
      // accepts `INSERT OVERWRITE … PARTITION (c = 'v')` and plans it
      // as an overwrite-by-filter this table handles
      override def partitioning(): Array[Transform] =
        TxLog.partitionColsOf(head).map(c =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray
      override def capabilities(): util.Set[TableCapability] = {
        // distributed tables skip the eager ParquetTable (it needs the
        // materialized path list) — a log table reads by batch either way
        val readCaps: Set[TableCapability] =
          if (planMeta.isDefined) Set(TableCapability.BATCH_READ)
          else scan.capabilities().asScala.toSet
        val caps = readCaps ++
          (if (writable) Set(TableCapability.V1_BATCH_WRITE,
            TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)
           else Set.empty[TableCapability])
        caps.asJava
      }
      // `DELETE FROM <cat>.<t> WHERE …` — Spark hands the predicate as
      // v1 filters; translated to SQL text and routed through
      // TxLog.delete, the same copy-on-write commit the Scala API runs
      // (untranslatable predicates are refused via canDeleteWhere, and
      // Spark reports them to the user instead of silently scanning)
      override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
        writable && filters.forall(f => TxCatalog.filterToSql(f).isDefined)
      // TRUNCATE TABLE: metadata-only (zero data IO) instead of the
      // SupportsDelete default, which would copy-on-write scan the
      // table to delete everything; CDF tables fall back inside
      override def truncateTable(): Boolean = {
        require(writable, s"$tableName: a time-travel relation is read-only")
        TxLog.truncate(SparkSession.active, dir)
        true
      }
      override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
        require(writable, s"$tableName: a time-travel relation is read-only")
        val cond =
          if (filters.isEmpty) "TRUE"
          else filters.map(f => TxCatalog.filterToSql(f).getOrElse(
            throw new UnsupportedOperationException(s"cannot push delete filter $f")))
            .mkString("(", ") AND (", ")")
        TxLog.delete(SparkSession.active, dir, cond): Unit
      }
      override def newScanBuilder(options: CaseInsensitiveStringMap) =
        // a DV-bearing snapshot cannot be served by the plain parquet
        // scan (it would resurrect deleted rows): fall back to the v1
        // relation over the merge-on-read anti-join plan. FILE SKIPPING
        // is kept — pushed filters prune the pinned list before the
        // scan, and translatable predicates replay into the frame for
        // row-group skipping; only vectorized whole-stage scanning is
        // traded. OPTIMIZE / purgeDeletes restores the full fast path.
        planMeta match {
          case Some(meta) =>
            // distributed planning: pruning, counting and the live-set
            // summary all run as Spark jobs over the checkpoint shard
            // lines; the driver holds only survivors (and the memoized
            // 5-number summary), never the table's file list
            val session = SparkSession.active
            val stats = TxLog.planStatsMeta(session, dir, meta)
            val survivorsOf = (fs: Seq[org.apache.spark.sql.sources.Filter]) =>
              TxLog.planScanMeta(session, dir, meta, fs)
            val countOf = (fs: Seq[org.apache.spark.sql.sources.Filter]) =>
              TxLog.planCountMeta(session, dir, meta, fs)
            if (stats._4 > 0) // live DVs → merge-on-read fallback
              new DvFallbackScanBuilder(dir, head,
                Some(survivorsOf), Some(countOf), Some(stats._3))
            else
              new PruningScanBuilder(tableName, dir, head, physSchema, options,
                Some(survivorsOf),
                Some(() => TxLog.partitionColsOf(head).nonEmpty && stats._5 == 0L),
                Some(countOf))
          case None =>
            if (snap.files.exists(_.dv.nonEmpty))
              new DvFallbackScanBuilder(dir, snap)
            else if (l2p.isEmpty)
              // identity-mapped fast path gains FILE SKIPPING: pushed
              // predicates prune the pinned file list via pv/stats before
              // the parquet scan is built (SQL partition pruning)
              new PruningScanBuilder(tableName, dir, snap, physSchema, options)
            else new RenamingScanBuilder(scan.newScanBuilder(options), l2p, p2l)
        }
      override def properties(): util.Map[String, String] =
        head.props.filter(_._2.nonEmpty).asJava
      override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
        require(writable, s"$tableName: a time-travel relation is read-only")
        new WriteBuilder with org.apache.spark.sql.connector.write.SupportsOverwrite {
          // Left(false)=append, Left(true)=full overwrite,
          // Right(eq)=static partition overwrite (INSERT OVERWRITE … PARTITION)
          private var mode: Either[Boolean, Map[String, String]] = Left(false)
          // Some(pred) = arbitrary-predicate replaceWhere (non-equality
          // overwrite filters); takes precedence over `mode`
          private var replacePred: Option[String] = None
          override def truncate(): WriteBuilder = { mode = Left(true); this }
          override def overwrite(
              filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
            import org.apache.spark.sql.sources._
            // values canonicalize through the same cast-to-string canon
            // the file stats use (TxLog.valueCanon) — String.valueOf on
            // a java.sql.Timestamp renders a trailing ".0" no stats
            // string ever carries, which made replaceWhereEq's
            // foreign-row check refuse every timestamp-partition
            // overwrite
            def eqOf(f: Filter): Option[Map[String, String]] = f match {
              case AlwaysTrue() => Some(Map.empty)
              case EqualTo(c, v) => TxLog.valueCanon(v).map(s => Map(c -> s))
              case EqualNullSafe(c, v) => TxLog.valueCanon(v).map(s => Map(c -> s))
              case And(l, r) => for (a <- eqOf(l); b <- eqOf(r)) yield a ++ b
              case _ => None
            }
            val eqs = filters.toSeq.map(eqOf)
            if (eqs.forall(_.isDefined)) {
              // equality filters keep the pv-metadata O(1) classification
              val eq = eqs.flatten.foldLeft(Map.empty[String, String])(_ ++ _)
              mode = if (eq.isEmpty) Left(true) else Right(eq)
            } else {
              // the general predicate (df.writeTo(t).overwrite(cond)) —
              // Delta's arbitrary replaceWhere: rendered to SQL text and
              // routed through the predicate-pruned copy-on-write replace
              val conds = filters.toSeq.map(TxCatalog.filterToSql)
              require(conds.forall(_.isDefined),
                s"$catalogName: overwrite filters must be equality or " +
                  s"SQL-translatable predicates, got ${filters.mkString(", ")}")
              replacePred = Some(conds.flatten.mkString("(", ") AND (", ")"))
            }
            this
          }
          override def build(): Write = new V1Write {
            override def toInsertableRelation: InsertableRelation =
              new InsertableRelation {
                override def insert(data: DataFrame, overwriteParam: Boolean): Unit = {
                  val s = data.sparkSession
                  // align names positionally: Spark has already cast and
                  // ordered the columns to the table schema; TxLog's
                  // fidelity check then compares like for like
                  val tableSchema = TxLog.snapshot(dir).schema
                  val aligned = data.toDF(tableSchema.fieldNames.toSeq: _*)
                  (replacePred, mode) match {
                    case (Some(pred), _) => TxLog.replaceWhere(s, dir, aligned, pred)
                    case (None, Right(eq)) => TxLog.replaceWhereEq(s, dir, aligned, eq)
                    case (None, Left(true)) => TxLog.overwrite(s, dir, aligned)
                    case (None, Left(false)) =>
                      if (overwriteParam) TxLog.overwrite(s, dir, aligned)
                      else TxLog.append(s, dir, aligned)
                  }
                  (): Unit
                }
              }
          }
        }
      }
    }
  }

  override def loadTable(ident: Identifier): Table = toTable(ident, None)

  /** `VERSION AS OF n` — Spark's parser hands the literal through here. */
  override def loadTable(ident: Identifier, version: String): Table =
    toTable(ident, Some(version.toLong))

  /** `TIMESTAMP AS OF t` — Spark hands epoch MICROS; Delta semantics:
    * the latest version committed at or before `t`, error when `t`
    * predates the table. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    toTable(ident, Some(TxLog.versionAtTime(dirOf(ident), timestamp / 1000L)))

  override def tableExists(ident: Identifier): Boolean =
    TxLog.latestVersion(dirOf(ident)) >= 0

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = java.nio.file.Paths.get((root +: namespace.toSeq).mkString("/"))
    if (!java.nio.file.Files.isDirectory(base)) Array.empty
    else {
      val ds = java.nio.file.Files.list(base)
      try ds.iterator.asScala
        .filter(p => java.nio.file.Files.isDirectory(p.resolve("_txlog")))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
      finally ds.close()
    }
  }

  /** Catalog-managed keys Spark threads through `properties` that are
    * not user table properties — never committed to the log. */
  private val reservedProps = Set(TableCatalog.PROP_PROVIDER,
    TableCatalog.PROP_LOCATION, TableCatalog.PROP_OWNER,
    TableCatalog.PROP_COMMENT, TableCatalog.PROP_EXTERNAL, "transient_lastDdlTime")

  /** DSv2 capability declarations: lets Spark's parser hand CREATE
    * TABLE column specs through instead of refusing them up front —
    * `GENERATED ALWAYS AS IDENTITY` ([[TxLog.addIdentityColumn]]) and
    * `GENERATED ALWAYS AS (expr)` ([[TxLog.addGeneratedColumn]], the
    * closed transform grammar). */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** The user wrote the expression; the grammar owns the spelling:
    * strip backticks, lowercase the function head. */
  private def normalizeGenExpr(e: String): String = {
    val s = e.replace("`", "").trim
    val i = s.indexOf('(')
    if (i <= 0) s
    else s.take(i).toLowerCase(java.util.Locale.ROOT).trim + s.drop(i)
  }

  /** CREATE TABLE with column specs — identity and generated columns
    * from SQL DDL:
    * {{{
    *   CREATE TABLE tx.t (
    *     id  BIGINT GENERATED ALWAYS AS IDENTITY,
    *     ts  TIMESTAMP,
    *     day DATE GENERATED ALWAYS AS (date(ts)),
    *     v   DOUBLE
    *   ) PARTITIONED BY (day)
    * }}}
    * `GENERATED BY DEFAULT AS IDENTITY` is refused loudly: this engine
    * implements ALWAYS semantics only (engine-owned allocation, explicit
    * values refused — accepting BY DEFAULT would silently break the
    * high-water uniqueness contract). Generation expressions must be in
    * the closed derivable grammar (`date|month|hour|year(b)`,
    * `bucket|truncate(N, b)`) — arbitrary expressions are refused with
    * the grammar, not approximated. The grammar's names carry the
    * ICEBERG transform semantics, not the SQL function of the same
    * name — `month(ts)` materializes the `'yyyy-MM'` ordinal (so
    * lexicographic pv/stats order IS time order), not SQL `month()`'s
    * month-of-year int; the companion CHECK pins whichever semantics
    * was installed, so the two can never drift silently. A refused
    * spec drops the half-created table (creation is atomic to the
    * user). */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val identity = columns.toSeq.filter(_.identityColumnSpec != null)
    identity.foreach { c =>
      require(!c.identityColumnSpec.isAllowExplicitInsert,
        s"$catalogName: ${c.name}: GENERATED BY DEFAULT AS IDENTITY is not " +
          "supported — identity columns are ALWAYS (engine-owned allocation; " +
          "explicit values are refused)")
    }
    val generated = columns.toSeq.filter(_.generationExpression != null)
      .map(c => c.name -> normalizeGenExpr(c.generationExpression))
    // column DEFAULTs: fixed at CREATE, stored as the SQL text Spark's
    // analyzer substitutes into INSERTs ([[TxLog.ColumnDefaults]])
    val defaults = columns.toSeq.filter(_.defaultValue != null).map { c =>
      require(c.defaultValue.getSql != null,
        s"$catalogName: ${c.name}: a DEFAULT needs its SQL form")
      require(c.identityColumnSpec == null && c.generationExpression == null,
        s"$catalogName: ${c.name}: DEFAULT cannot combine with " +
          "identity/generated")
      TxLog.ColumnDefaults.Prefix + c.name -> c.defaultValue.getSql
    }
    val schema = StructType(columns.map(c =>
      StructField(c.name, c.dataType, c.nullable)))
    createTable(ident, schema, partitions, properties): Unit
    val dir = dirOf(ident)
    try {
      generated.foreach { case (n, e) =>
        TxLog.addGeneratedColumn(SparkSession.active, dir, n, e): Unit
      }
      identity.foreach { c =>
        val sp = c.identityColumnSpec
        TxLog.addIdentityColumn(SparkSession.active, dir, c.name,
          sp.getStart, sp.getStep): Unit
      }
      if (defaults.nonEmpty) TxLog.setProperties(dir, defaults.toMap): Unit
    } catch { case e: Throwable => TxLog.dropTable(dir); throw e }
    loadTable(ident)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    // PARTITIONED BY: identity columns partition directly; time/bucket/
    // truncate transforms become HIDDEN GENERATED partition columns
    // (Iceberg's hidden partitioning): a materialized `<col>_<kind>`
    // column joins the schema, declared generated ([[TxLog
    // .GeneratedCols]]) and made the partition column — INSERTs compute
    // it automatically and filters on the BASE column prune by
    // partition via predicate derivation, with no query rewrite.
    import org.apache.spark.sql.connector.expressions.{Literal => CLit}
    def ref(t: Transform): String = {
      require(t.references.length == 1 && t.references.head.fieldNames.length == 1,
        s"$catalogName: unsupported partition transform $t")
      t.references.head.fieldNames.head
    }
    def intArg(t: Transform): Int = t.arguments.collectFirst {
      case l: CLit[_] if l.value.isInstanceOf[Number] =>
        l.value.asInstanceOf[Number].intValue
    }.getOrElse(throw new IllegalArgumentException(
      s"$catalogName: transform $t needs an integer argument"))
    // (partition column, optional (hidden generated column, transform))
    val resolved: Seq[(String, Option[(String, String)])] = partitions.toSeq.map { t =>
      def gen(suffix: String, spec: String => String) = {
        val b = ref(t); (s"${b}_$suffix", Some((s"${b}_$suffix", spec(b))))
      }
      t.name match {
        case "identity" => (ref(t), None)
        case "years" => gen("year", b => s"year($b)")
        case "months" => gen("month", b => s"month($b)")
        case "days" => gen("day", b => s"date($b)")
        case "hours" => gen("hour", b => s"hour($b)")
        case "bucket" => val n = intArg(t); gen("bucket", b => s"bucket($n, $b)")
        case "truncate" => val n = intArg(t); gen("trunc", b => s"truncate($n, $b)")
        case other => throw new IllegalArgumentException(
          s"$catalogName: unsupported partition transform $other " +
            "(supported: identity, years, months, days, hours, bucket, truncate)")
      }
    }
    val hidden = resolved.flatMap(_._2)
    hidden.foreach { case (n, _) =>
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(n)),
        s"$catalogName: hidden partition column $n collides with a declared column")
    }
    val fullSchema = StructType(schema.fields ++ hidden.map { case (n, sp) =>
      StructField(n, TxLog.generatedFieldType(schema, sp), nullable = true)
    })
    val dir = dirOf(ident)
    try TxLog.create(dir, fullSchema, resolved.map(_._1))
    catch { case _: TxLog.TableExistsException =>
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (ident.namespace :+ ident.name).toSeq)
    }
    hidden.foreach { case (n, sp) =>
      TxLog.addGeneratedColumn(SparkSession.active, dir, n, sp): Unit
    }
    val userProps = properties.asScala.view
      .filterKeys(k => !reservedProps.contains(k)).toMap
    if (userProps.nonEmpty) TxLog.setProperties(dir, userProps): Unit
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!tableExists(ident))
      throw new NoSuchTableException((ident.namespace :+ ident.name).toSeq)
    val props = changes.collect {
      case s: TableChange.SetProperty => s.property -> s.value
      case r: TableChange.RemoveProperty => r.property -> "" // tombstone
    }
    val addCols = changes.collect { case a: TableChange.AddColumn =>
      require(a.fieldNames.length == 1,
        s"$catalogName: nested column adds are not supported")
      // a later-added column's default would need EXISTS-default
      // semantics (old rows reading the default, new explicit NULLs
      // staying NULL) — per-file vintage the read path does not track;
      // refuse rather than approximate (Delta's conservative rule)
      require(a.defaultValue == null,
        s"$catalogName: ADD COLUMN with DEFAULT is not supported — " +
          "defaults are fixed at CREATE TABLE")
      StructField(a.fieldNames.head, a.dataType, a.isNullable)
    }
    // RENAME/DROP COLUMN route to the metadata-only column-mapping
    // primitives — no file rewrite; the commit stamps protocol 2
    val renames = changes.collect { case r: TableChange.RenameColumn =>
      require(r.fieldNames.length == 1,
        s"$catalogName: nested column renames are not supported")
      r.fieldNames.head -> r.newName
    }
    val drops = changes.collect { case d: TableChange.DeleteColumn =>
      require(d.fieldNames.length == 1,
        s"$catalogName: nested column drops are not supported")
      d.fieldNames.head
    }
    // ALTER COLUMN TYPE routes onto the metadata-only widening commit;
    // TxLog.alterColumnType refuses narrowing/lossy retypes loudly
    val retypes = changes.collect { case u: TableChange.UpdateColumnType =>
      require(u.fieldNames.length == 1,
        s"$catalogName: nested column retypes are not supported")
      u.fieldNames.head -> u.newDataType
    }
    val unsupported = changes.filterNot {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty |
           _: TableChange.AddColumn | _: TableChange.RenameColumn |
           _: TableChange.DeleteColumn | _: TableChange.UpdateColumnType => true
      case _ => false
    }
    require(unsupported.isEmpty,
      s"$catalogName: unsupported ALTER TABLE change(s): ${unsupported.mkString(", ")}")
    if (props.nonEmpty) TxLog.setProperties(dir, props.toMap): Unit
    if (addCols.nonEmpty) TxLog.addColumns(dir, addCols.toSeq): Unit
    renames.foreach { case (from, to) => TxLog.renameColumn(dir, from, to): Unit }
    drops.foreach(c => TxLog.dropColumn(dir, c): Unit)
    retypes.foreach { case (c, t) => TxLog.alterColumnType(dir, c, t): Unit }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    TxLog.dropTable(dirOf(ident))

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent))
      throw new NoSuchTableException((oldIdent.namespace :+ oldIdent.name).toSeq)
    TxLog.renameTable(dirOf(oldIdent), dirOf(newIdent))
  }
}

object TxCatalog {
  import org.apache.spark.sql.sources._

  /** The dead-position map a masked DV read inlines — (relative file
    * path → sorted dead row indexes), collected ONCE per (table,
    * version) from the snapshot's dv sidecars and memoized (bounded by
    * [[TxLog.dvMaskMaxPositions]], which the caller checks first). */
  private val deadMapCache =
    new java.util.LinkedHashMap[(String, Long), Map[String, Array[Long]]](
      32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), Map[String, Array[Long]]]) =
        size() > 32
    }
  private[sources] def invalidateDeadMaps(dir: String): Unit =
    deadMapCache.synchronized {
      val it = deadMapCache.keySet().iterator()
      while (it.hasNext) if (it.next()._1 == dir) it.remove()
    }

  private def deadMapOf(session: SparkSession, dir: String, snapV: Long,
      dvDirs: Seq[String]): Map[String, Array[Long]] = {
    deadMapCache.synchronized(
      Option(deadMapCache.get((dir, snapV)))) match {
      case Some(hit) => return hit
      case None =>
    }
    import org.apache.spark.sql.functions._
    val m = TxLog.dvFrame(session, dir, dvDirs)
      .groupBy("__dv_path")
      .agg(sort_array(collect_list("__dv_idx")).as("idx"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    deadMapCache.synchronized(deadMapCache.put((dir, snapV), m))
    m
  }

  /** VECTORIZED merge-on-read (see [[TxTable.txMaskedScan]]): native
    * parquet relations over [[GraftFileIndex]] — one for the clean
    * files, one for the DV-bearing files with dead `(file, row_index)`
    * positions dropped by a codegen'd literal-map filter — unioned and
    * renamed to the logical schema. File skipping runs INSIDE each
    * relation's listFiles, so selective predicates still prune by
    * pv/stats/bloom, and the whole plan stays in whole-stage codegen
    * with vectorized parquet batches (the V1 anti-join fallback traded
    * all of that away until OPTIMIZE/purge). */
  /** Driver-path entry: DV descriptors and pruning from the
    * materialized snapshot. */
  private[sources] def dvMaskedPlan(dir: String, snap: TxLog.Snapshot,
      physSchema: StructType)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = {
    val dvFiles = snap.files.filter(_.dv.nonEmpty)
    if (dvFiles.isEmpty) return None
    if (dvFiles.flatMap(_.dv).map(_.dead).sum > TxLog.dvMaskMaxPositions)
      return None
    dvMaskedPlanImpl(dir, snap.version, dvFiles,
      fs => TxLog.pruneByFilters(snap, fs, Some(dir)),
      snap.files.map(_.bytes).sum, snap.schema, physSchema)
  }

  /** Distributed-path entry: DV descriptors collected as a bounded
    * distributed fold, pruning through [[TxLog.planScanMeta]] — the
    * masked vectorized read COMPOSES with sharded planning (the file
    * list still never folds on the driver; only the DV-bearing subset,
    * bounded by the dead-position budget, does). */
  private[sources] def dvMaskedPlanDistributed(dir: String,
      meta: TxLog.SnapshotMeta, physSchema: StructType,
      stats: (Long, Long, Long, Long, Long, Long))
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = {
    if (stats._4 == 0L) return None // no DV files
    if (stats._6 > TxLog.dvMaskMaxPositions) return None
    val session = SparkSession.active
    val dvFiles = TxLog.planDvFilesMeta(session, dir, meta)
    if (dvFiles.isEmpty) return None
    dvMaskedPlanImpl(dir, meta.version, dvFiles,
      fs => TxLog.planScanMeta(session, dir, meta, fs),
      stats._3, meta.schema, physSchema)
  }

  private def dvMaskedPlanImpl(dir: String, snapV: Long,
      dvFiles: Seq[TxLog.AddFile],
      survivorsOf: Seq[Filter] => Seq[TxLog.AddFile],
      totalBytes: Long, schema: StructType, physSchema: StructType)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = {
    import org.apache.spark.sql.functions._
    val session = SparkSession.active
    val deadMap = deadMapOf(session, dir, snapV,
      dvFiles.flatMap(_.dv.map(_.path)).distinct)
    def rel(withDv: Boolean): org.apache.spark.sql.DataFrame =
      TxLog.fileScan(session, dir, physSchema, totalBytes,
        fs => survivorsOf(fs).filter(_.dv.nonEmpty == withDv))
    def renamed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      if (physSchema == schema) df
      else df.toDF(schema.fieldNames.toSeq: _*)
    val clean = renamed(rel(withDv = false))
    val masked = {
      val base = rel(withDv = true)
        .withColumn("__gfi", col("_metadata.row_index"))
        .withColumn("__gfp", TxLog.relPathCol)
      val keep = !coalesce(
        array_contains(element_at(typedLit(deadMap), col("__gfp")), col("__gfi")),
        lit(false))
      renamed(base.where(keep).drop("__gfi", "__gfp"))
    }
    Some(clean.unionAll(masked).queryExecution.analyzed)
  }

  /** Stats-canon pv string → typed value (what an InternalRow carries
    * for that column). None = the string does not render under the
    * type. */
  private[sources] def typedPv(dt: org.apache.spark.sql.types.DataType,
      s: String): Option[Any] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.unsafe.types.UTF8String
    if (dt == StringType) Some(UTF8String.fromString(s))
    else try Option(ce.Cast(
      ce.Literal(UTF8String.fromString(s), StringType), dt,
      Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)).eval())
    catch { case _: Exception => None }
  }

  /** Typed partition value → its stats-canon string (the pv form). */
  private[sources] def pvCanon(dt: org.apache.spark.sql.types.DataType,
      v: Any): Option[String] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    if (v == null) None
    else try Option(ce.Cast(ce.Literal.create(v, dt), StringType,
      Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
      .eval()).map(_.toString)
    catch { case _: Exception => None }
  }

  /** v1 Filter → SQL text for [[TxLog.delete]]. None = not translatable
    * (the caller refuses the delete rather than approximating it). */
  private[sources] def filterToSql(f: Filter): Option[String] = {
    def col(a: String): String =
      a.split('.').map(p => s"`${p.replace("`", "``")}`").mkString(".")
    def lit(v: Any): Option[String] = v match {
      case null => None // NULL comparisons arrive as IsNull/IsNotNull
      case s: String => Some("'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'")
      case _: java.lang.Number => Some(v.toString)
      case b: java.lang.Boolean => Some(b.toString)
      case d: java.sql.Date => Some(s"DATE '$d'")
      case t: java.sql.Timestamp => Some(s"TIMESTAMP '$t'")
      case d: java.time.LocalDate => Some(s"DATE '$d'")
      case i: java.time.Instant => Some(s"TIMESTAMP '${java.sql.Timestamp.from(i)}'")
      case _ => None
    }
    def bin(a: String, op: String, v: Any): Option[String] =
      lit(v).map(l => s"${col(a)} $op $l")
    f match {
      case EqualTo(a, v) => bin(a, "=", v)
      case EqualNullSafe(a, v) =>
        lit(v).map(l => s"${col(a)} <=> $l").orElse(Some(s"${col(a)} IS NULL"))
      case GreaterThan(a, v) => bin(a, ">", v)
      case GreaterThanOrEqual(a, v) => bin(a, ">=", v)
      case LessThan(a, v) => bin(a, "<", v)
      case LessThanOrEqual(a, v) => bin(a, "<=", v)
      case In(a, vs) =>
        val ls = vs.toSeq.map(lit)
        if (ls.exists(_.isEmpty)) None
        else Some(s"${col(a)} IN (${ls.flatten.mkString(", ")})")
      case IsNull(a) => Some(s"${col(a)} IS NULL")
      case IsNotNull(a) => Some(s"${col(a)} IS NOT NULL")
      case And(l, r) =>
        for (a <- filterToSql(l); b <- filterToSql(r)) yield s"($a) AND ($b)"
      case Or(l, r) =>
        for (a <- filterToSql(l); b <- filterToSql(r)) yield s"($a) OR ($b)"
      case Not(c) => filterToSql(c).map(x => s"NOT ($x)")
      case StringStartsWith(a, v) =>
        lit(v).map(l => s"startswith(${col(a)}, $l)")
      case StringEndsWith(a, v) =>
        lit(v).map(l => s"endswith(${col(a)}, $l)")
      case StringContains(a, v) =>
        lit(v).map(l => s"contains(${col(a)}, $l)")
      case AlwaysTrue() => Some("TRUE")
      case AlwaysFalse() => Some("FALSE")
      case _ => None
    }
  }
}

/** Scan for snapshots carrying DELETION VECTORS: delegates to
  * [[TxLog.read]]'s merge-on-read plan (DV-free files vectorized, DV
  * files anti-joined against their position lists) through the v1 scan
  * bridge — the one read shape the pinned-file parquet table cannot
  * express. Pinned to the snapshot's version, so concurrent commits
  * and time travel behave identically to the fast path. */
private class DvFallbackScanBuilder(dir: String, snap: TxLog.Snapshot,
    survivorsOf: Option[Seq[org.apache.spark.sql.sources.Filter] => Seq[TxLog.AddFile]] = None,
    countOf: Option[Seq[org.apache.spark.sql.sources.Filter] => Long] = None,
    sizeOf: Option[Long] = None)
  extends org.apache.spark.sql.connector.read.ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  import org.apache.spark.sql.sources.Filter

  private var filters: Array[Filter] = Array.empty
  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs // all filters stay post-scan residuals (pruning is conservative)
  }
  override def pushedFilters(): Array[Filter] = filters

  // unfiltered count(*) is a log fact EVEN UNDER DVs — AddFile.rows is
  // the live count, DV-adjusted at delete time (same rule as the clean
  // scan's metadata count)
  private def countStarOnly(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    filters.isEmpty && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.head
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
  private var metadataCount = false
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    metadataCount ||= countStarOnly(agg)
    metadataCount
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    countStarOnly(agg)

  override def build(): org.apache.spark.sql.connector.read.Scan =
    if (metadataCount) {
      // distributed tables fold the live rows as a Spark job instead of
      // summing a driver-materialized list (countStarOnly => no filters)
      val n = countOf.fold(snap.files.map(_.rows).sum)(f => f(Nil))
      new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = StructType(Seq(
          StructField("count(*)", org.apache.spark.sql.types.LongType, nullable = false)))
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          Array(new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](n)))
        override def description(): String = s"$dir metadata count(*)=$n"
      }
    } else buildV1Scan()

  private def buildV1Scan(): org.apache.spark.sql.connector.read.Scan =
    new org.apache.spark.sql.connector.read.V1Scan {
      override def readSchema(): StructType = snap.schema
      override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan](
          context: org.apache.spark.sql.SQLContext): T =
        (new org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan {
          override def sqlContext: org.apache.spark.sql.SQLContext = context
          override def schema: StructType = snap.schema
          // log-derived size: without this the V1 relation reports the
          // conf default (huge), and a small DV-bearing dimension table
          // never plans as the broadcast side of a join
          override def sizeInBytes: Long =
            sizeOf.getOrElse(snap.files.map(_.bytes).sum)
          override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
            val spark = context.sparkSession
            // file skipping survives the DV fallback: pushed filters
            // prune the pinned list exactly like the clean scan (stats
            // are PHYSICAL-file bounds, so pruning a DV file stays
            // conservative — live rows are a subset of physical);
            // distributed tables prune the shard lines as a Spark job
            val survivors = survivorsOf
              .fold(TxLog.pruneByFilters(snap, filters.toSeq, Some(dir)))(
                f => f(filters.toSeq))
            if (survivors.isEmpty)
              return spark.sparkContext.emptyRDD[org.apache.spark.sql.Row]
            val base = TxLog.scanAdds(spark, dir, snap, survivors)
            // replay translatable predicates INTO the frame — catalyst
            // pushes them through the anti-join into the parquet scan
            // (row-group skipping inside the survivors); the engine-side
            // Filter node re-evaluates everything regardless
            filters.toSeq.flatMap(TxCatalog.filterToSql)
              .foldLeft(base)((d, c) => d.where(c)).rdd
          }
        }).asInstanceOf[T]
    }
}

/** File-skipping scan for the SQL path: pushed v1 filters prune the
  * LOG's pinned file list through [[TxLog.pruneByFilters]] (pv metadata
  * for partition equality, per-file stats for ranges) BEFORE the
  * parquet scan is built — `SELECT … WHERE day = X` through plain SQL
  * then opens one partition's files, and a range predicate after a
  * clustered OPTIMIZE opens O(selectivity) files, exactly like the
  * Scala readPartition/readRange surfaces. Every filter stays a
  * post-scan residual (pruning is metadata-only and conservative), and
  * the filters are REPLAYED into the inner parquet builder so row-group
  * skipping inside the surviving files is kept. */
private class PruningScanBuilder(tableName: String, dir: String,
    snap: TxLog.Snapshot, physSchema: StructType,
    options: CaseInsensitiveStringMap,
    survivorsOf: Option[Seq[org.apache.spark.sql.sources.Filter] => Seq[TxLog.AddFile]] = None,
    alignedOverride: Option[() => Boolean] = None,
    countOf: Option[Seq[org.apache.spark.sql.sources.Filter] => Long] = None)
  extends org.apache.spark.sql.connector.read.ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  import org.apache.spark.sql.sources.Filter

  private var filters: Array[Filter] = Array.empty
  private var required: Option[StructType] = None
  private var aggPushed = false

  private lazy val survivors: Seq[TxLog.AddFile] =
    survivorsOf.fold(TxLog.pruneByFilters(snap, filters.toSeq, Some(dir)))(
      f => f(filters.toSeq))

  /** The surviving-files parquet builder, materialized on FIRST demand —
    * the engine pushes filters before aggregates and column pruning
    * (V2ScanRelationPushDown order), so by the time anything needs the
    * inner builder the file list is final. Predicates are replayed into
    * it through the catalyst pushdown interface so row-group/page
    * skipping INSIDE the surviving files is kept (Spark 4's file scan
    * builders take catalyst expressions, not v1 filters). */
  private lazy val inner: org.apache.spark.sql.connector.read.ScanBuilder = {
    val paths = survivors.map(f =>
      java.nio.file.Paths.get(dir, f.path).toString)
    val b = ParquetTable(tableName, SparkSession.active, options, paths,
      Some(physSchema), classOf[ParquetFileFormat]).newScanBuilder(options)
    // replay only the RESIDUAL filters for row-group skipping: a
    // consumed pv filter is exact at file level — every surviving row
    // satisfies it, so it can skip nothing — and replaying it is
    // actively wrong once Spark prunes its column from the read schema
    // (the reader would evaluate it against NULL and drop every row)
    b match {
      case c: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        c.pushFilters(residual.toSeq.flatMap(toCatalyst)): Unit
      case f: org.apache.spark.sql.connector.read.SupportsPushDownFilters =>
        f.pushFilters(residual): Unit
      case _ => ()
    }
    b
  }

  /** Filters the scan fully CONSUMES (no post-scan re-evaluation):
    * pv-equality on a partition column of a FULLY ALIGNED table. Sound
    * because pv is exact per file — every row of a kept file satisfies
    * the equality, every pruned file has no satisfying row — and the
    * pushed v1 literal is column-typed by construction (a cast around
    * the column blocks v1 translation upstream). Everything else stays
    * a residual: file skipping remains a metadata optimization there,
    * never an evaluation guarantee. Consuming matters because Spark
    * only attempts AGGREGATE pushdown when no residual Filter remains —
    * this is what turns `count(*) WHERE day = X` into a log fact. */
  private var residual: Array[Filter] = Array.empty

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    val parts = TxLog.partitionColsOf(snap)
    val aligned = alignedOverride.map(_()).getOrElse {
      val live = snap.files.filter(_.rows > 0)
      parts.nonEmpty && live.forall(f => parts.forall(f.pv.contains))
    }
    def consumable(f: Filter): Boolean = aligned && (f match {
      case org.apache.spark.sql.sources.EqualTo(c, v) =>
        parts.contains(c) && v != null && TxLog.valueCanon(v).isDefined
      case org.apache.spark.sql.sources.In(c, vs) =>
        parts.contains(c) && vs.nonEmpty &&
          vs.forall(v => v != null && TxLog.valueCanon(v).isDefined)
      // NULL partition values are rejected at write time, so every row
      // of every aligned file satisfies this (Spark pushes it as the
      // companion of each equality)
      case org.apache.spark.sql.sources.IsNotNull(c) => parts.contains(c)
      case _ => false
    })
    residual = fs.filterNot(consumable)
    residual
  }
  override def pushedFilters(): Array[Filter] = filters

  override def pruneColumns(r: StructType): Unit = {
    required = Some(r)
    inner match {
      case c: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
        c.pruneColumns(r)
      case _ => ()
    }
  }

  /** `SELECT count(*)` with no filters is a LOG FACT — AddFile.rows is
    * the LIVE count (DV-adjusted at delete time), so the answer needs
    * ZERO file opens at any table size. Delta serves the same query
    * from its stats; the parquet-footer pushdown (the fallback) still
    * opens every footer. */
  private var metadataCount = false

  // aggregate pushdown (count/min/max answered from parquet footers)
  // delegates to the pruned scan — it composes with file skipping
  // because the footer aggregation runs over exactly the survivors
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // residual-free = every filter was CONSUMED pv-exactly (or there
    // were none), so the pruned survivors' live row counts ARE the
    // filtered count
    val countStarOnly = residual.isEmpty &&
      agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.head
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (countStarOnly) {
      metadataCount = true
      aggPushed = true
      true
    } else inner match {
      case a: org.apache.spark.sql.connector.read.SupportsPushDownAggregates =>
        val ok = a.pushAggregation(agg)
        aggPushed ||= ok
        ok
      case _ => false
    }
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    if (residual.isEmpty && agg.groupByExpressions.isEmpty &&
        agg.aggregateExpressions.length == 1 &&
        agg.aggregateExpressions.head
          .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar])
      true
    else inner match {
      case a: org.apache.spark.sql.connector.read.SupportsPushDownAggregates =>
        a.supportCompletePushDown(agg)
      case _ => false
    }

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    if (metadataCount) {
      // distributed tables fold the filtered live rows as a Spark job —
      // sound exactly because metadataCount requires residual-free
      // (consumed) filters, which are pv-exact at file level
      val n = countOf.fold(survivors.map(_.rows).sum)(f => f(filters.toSeq))
      return new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = StructType(Seq(
          StructField("count(*)", org.apache.spark.sql.types.LongType, nullable = false)))
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          Array(new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](n)))
        override def description(): String = s"$tableName metadata count(*)=$n"
      }
    }
    val built = inner.build()
    keyGrouped(built).getOrElse(built)
  }

  /** STORAGE-PARTITIONED JOIN (SPARK-37375): when the table is
    * partition-aligned, report `KeyGroupedPartitioning` over the
    * partition columns and tag every input split with its partition
    * key — Spark then plans a co-partitioned join of two such tables
    * with ZERO exchange (each task joins one partition value's splits
    * from both sides). Split parallelism INSIDE a partition is kept:
    * splits are re-packed per key with Spark's own bin-packing, and
    * Spark merges same-key splits only when it actually groups for an
    * SPJ. Eligibility is strict, falling back to the plain scan on any
    * miss: v2 bucketing enabled, no aggregate pushdown (output is no
    * longer rows), partition columns present in the pruned output
    * (catalyst must resolve the reported keys), and EVERY surviving
    * live file carrying the full pv tuple — a mixed-generation table
    * (partition evolution) or a pv-less legacy file disqualifies
    * itself rather than mis-keying rows. */
  private def keyGrouped(built: org.apache.spark.sql.connector.read.Scan)
      : Option[org.apache.spark.sql.connector.read.Scan] = {
    val session = SparkSession.active
    if (!session.sessionState.conf
        .getConfString("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean)
      return None
    if (aggPushed) return None
    val parts = TxLog.partitionColsOf(snap)
    if (parts.isEmpty) return None
    if (!required.forall(r =>
        parts.forall(p => r.fieldNames.exists(_.equalsIgnoreCase(p)))))
      return None
    val live = survivors.filter(_.rows > 0)
    if (live.isEmpty) return None
    if (!live.forall(f => parts.forall(f.pv.contains))) return None
    val fields = parts.map(c => snap.schema.fields.find(_.name == c).get)
    // absolute path -> pv tuple (string form; one typed key built per group)
    val keyByPath = live.map(f =>
      java.nio.file.Paths.get(dir, f.path).normalize().toString ->
        parts.map(f.pv)).toMap
    val innerBatch = built.toBatch
    val chunks = innerBatch.planInputPartitions().toSeq.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.toSeq
      case _ => return None // not a file scan shape we understand
    }
    val byKey = chunks.groupBy { pf =>
      keyByPath.get(java.nio.file.Paths.get(pf.pathUri.getPath).normalize().toString)
    }
    if (byKey.contains(None)) return None // a chunk we cannot key
    def typed(dt: org.apache.spark.sql.types.DataType, s: String): Option[Any] = {
      import org.apache.spark.sql.catalyst.{expressions => ce}
      import org.apache.spark.unsafe.types.UTF8String
      if (dt == StringType) Some(UTF8String.fromString(s))
      else try Option(ce.Cast(
        ce.Literal(UTF8String.fromString(s), StringType), dt,
        Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)).eval())
      catch { case _: Exception => None }
    }
    val maxSplit = session.sessionState.conf.filesMaxPartitionBytes
    val groups = byKey.toSeq
      .map { case (k, fs) => (k.get, fs) }
      .sortBy(_._1.mkString("\u0000")) // deterministic split order
    val splits = Array.newBuilder[org.apache.spark.sql.connector.read.InputPartition]
    var idx = 0
    groups.foreach { case (pvTuple, fs) =>
      val vals = fields.zip(pvTuple).map { case (f, s) => typed(f.dataType, s) }
      if (vals.exists(_.isEmpty)) return None // un-renderable pv under the type
      val key = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        vals.map(_.get).toArray)
      org.apache.spark.sql.execution.datasources.FilePartition
        .getFilePartitions(session, fs, maxSplit).foreach { fp =>
          splits += new KeyedFilePartition(idx, fp.files, key)
          idx += 1
        }
    }
    val keyExprs: Array[org.apache.spark.sql.connector.expressions.Expression] =
      parts.map(c =>
        org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray
    Some(new KeyGroupedTxScan(built, innerBatch, splits.result(), keyExprs))
  }

  /** v1 Filter → resolved catalyst Expression over the physical schema
    * (the comparison/null/boolean family parquet skipping understands;
    * anything else is simply not replayed — the engine-side Filter node
    * evaluates everything regardless). */
  private def toCatalyst(f: Filter): Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.sources
    def attr(n: String): Option[ce.AttributeReference] =
      physSchema.fields.find(_.name.equalsIgnoreCase(n))
        .map(fd => ce.AttributeReference(fd.name, fd.dataType, fd.nullable)())
    def lit(n: String, v: Any): Option[(ce.AttributeReference, ce.Literal)] =
      for (a <- attr(n); l <- scala.util.Try(ce.Literal.create(v, a.dataType)).toOption)
        yield (a, l)
    f match {
      case sources.EqualTo(c, v) => lit(c, v).map { case (a, l) => ce.EqualTo(a, l) }
      case sources.GreaterThan(c, v) => lit(c, v).map { case (a, l) => ce.GreaterThan(a, l) }
      case sources.GreaterThanOrEqual(c, v) => lit(c, v).map { case (a, l) => ce.GreaterThanOrEqual(a, l) }
      case sources.LessThan(c, v) => lit(c, v).map { case (a, l) => ce.LessThan(a, l) }
      case sources.LessThanOrEqual(c, v) => lit(c, v).map { case (a, l) => ce.LessThanOrEqual(a, l) }
      case sources.In(c, vs) => attr(c).flatMap { a =>
        val ls = vs.toSeq.map(v => scala.util.Try(ce.Literal.create(v, a.dataType)).toOption)
        if (ls.exists(_.isEmpty)) None else Some(ce.In(a, ls.flatten))
      }
      case sources.IsNull(c) => attr(c).map(ce.IsNull)
      case sources.IsNotNull(c) => attr(c).map(ce.IsNotNull)
      case sources.And(l, r) =>
        for (a <- toCatalyst(l); b <- toCatalyst(r)) yield ce.And(a, b)
      case sources.Or(l, r) =>
        for (a <- toCatalyst(l); b <- toCatalyst(r)) yield ce.Or(a, b)
      case _ => None
    }
  }
}

/** A parquet input split that knows its partition key — the
  * [[org.apache.spark.sql.connector.read.HasPartitionKey]] contract
  * Spark's storage-partitioned join machinery groups by. Extends
  * Spark's own FilePartition so the untouched parquet reader factory
  * keeps serving it (row data never changes; only grouping metadata
  * rides along). */
private class KeyedFilePartition(index: Int,
    files: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: org.apache.spark.sql.catalyst.InternalRow)
  extends org.apache.spark.sql.execution.datasources.FilePartition(index, files)
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

/** The SPJ-reporting wrapper around the pruned parquet scan: same
  * reader factory, same read schema — the only additions are
  * per-key-tagged input splits and a [[KeyGroupedPartitioning]]
  * report, which lets Spark co-locate equal partition keys of two
  * such scans without an exchange. */
private class KeyGroupedTxScan(
    inner: org.apache.spark.sql.connector.read.Scan,
    innerBatch: org.apache.spark.sql.connector.read.Batch,
    splits: Array[org.apache.spark.sql.connector.read.InputPartition],
    keyExprs: Array[org.apache.spark.sql.connector.expressions.Expression])
  extends org.apache.spark.sql.connector.read.Scan
  with org.apache.spark.sql.connector.read.Batch
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = inner.description()
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
    splits
  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
    innerBatch.createReaderFactory()
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      keyExprs, splits.length)
}

/** Scan shim for COLUMN-MAPPED tables: the plan speaks LOGICAL names,
  * the files store PHYSICAL ones. Column pruning is translated on the
  * way in; the built scan's read schema is translated back on the way
  * out. Row data is positional, so names never touch the data path.
  * Filter pushdown is intentionally NOT forwarded — Spark then keeps
  * every predicate as a post-scan filter, trading pushdown for
  * guaranteed correctness on the (rare) mapped-table scan. */
private class RenamingScanBuilder(
    inner: org.apache.spark.sql.connector.read.ScanBuilder,
    l2p: Map[String, String], p2l: Map[String, String])
  extends org.apache.spark.sql.connector.read.ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  override def pruneColumns(required: StructType): Unit = inner match {
    case s: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
      s.pruneColumns(StructType(required.fields.map(f =>
        f.copy(name = l2p.getOrElse(f.name, f.name)))))
    case _ => ()
  }

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    val ds = inner.build()
    new org.apache.spark.sql.connector.read.Scan {
      override def readSchema(): StructType =
        StructType(ds.readSchema().fields.map(f =>
          f.copy(name = p2l.getOrElse(f.name, f.name))))
      override def toBatch: org.apache.spark.sql.connector.read.Batch = ds.toBatch
      override def description(): String = ds.description()
    }
  }
}
