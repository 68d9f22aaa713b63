package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxLog

/** First-class partition columns: partition-aligned staging records one
  * value combination per file in AddFile.pv; equality reads prune by
  * METADATA ONLY (zero stats reads, zero foreign files opened); dynamic
  * partition overwrite replaces whole partitions by metadata; DML and
  * merges keep the table partition-aligned; partitioning changes only
  * through the dedicated evolution path ([[TxPartitionEvolutionSpec]]). */
class TxPartitionSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(): String =
    graft.Scratch.dir("graft-txpart").toString + "/t"

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"v$i", s"g${i % 3}")).toDF("id", "s", "grp")
  }

  private def idSet(d: org.apache.spark.sql.DataFrame): Set[Long] =
    d.select("id").collect().map(_.getLong(0)).toSet

  test("appendPartitioned: one value combination per file, recorded as pv") {
    val dir = tmp()
    TxLog.appendPartitioned(spark, dir, df(0 until 30), Seq("grp"))
    val snap = TxLog.snapshot(dir)
    assert(TxLog.partitionColsOf(snap) === Seq("grp"))
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(_.pv.keySet === Set("grp")))
    assert(snap.files.map(_.pv("grp")).toSet === Set("g0", "g1", "g2"))
    // one file per combination (the aligned-write economics)
    assert(snap.files.size === 3)
    // partition columns stay physically present: a plain read needs no pv
    assert(idSet(TxLog.read(spark, dir)) === (0L until 30L).toSet)
    // a later PLAIN append partitions automatically from the property
    TxLog.append(spark, dir, df(30 until 40))
    val snap2 = TxLog.snapshot(dir)
    assert(snap2.files.forall(_.pv.contains("grp")))
  }

  test("a non-ASCII partition value stages and reads back under any filename encoding") {
    import spark.implicits._
    val dir = tmp()
    val rows = Seq((1L, "été"), (2L, "été"), (3L, "ete"), (4L, "a/b c%"))
    TxLog.appendPartitioned(spark, dir, rows.toDF("id", "grp"), Seq("grp"))
    val snap = TxLog.snapshot(dir)
    assert(snap.files.map(_.pv("grp")).toSet === Set("été", "ete", "a/b c%"))
    assert(TxLog.readPartition(spark, dir, Map("grp" -> "été")).select("id").as[Long]
      .collect().toSet === Set(1L, 2L))
    assert(TxLog.read(spark, dir).as[(Long, String)].collect().toSet === rows.toSet)
  }

  test("readPartition opens zero foreign files, without reading stats") {
    val dir = tmp()
    TxLog.appendPartitioned(spark, dir, df(0 until 30), Seq("grp"))
    val snap = TxLog.snapshot(dir)
    // metadata-only pruning: even with ALL stats stripped, pv alone
    // selects exactly the partition's files
    val statless = snap.copy(files = snap.files.map(_.copy(stats = Map.empty)))
    val (surv, pruned) = TxLog.prunedFilesEq(statless, Map("grp" -> "g1"))
    assert(surv.map(_.pv("grp")).toSet === Set("g1") && pruned.size === 2)
    // and the actual scan opens only that partition's file
    val scan = TxLog.readPartition(spark, dir, Map("grp" -> "g1"))
    val opened = scan.inputFiles.toSet
    val g1files = snap.files.filter(_.pv("grp") == "g1")
      .map(f => "file://" + java.nio.file.Paths.get(dir, f.path)).toSet
    assert(opened.forall(o => g1files.exists(o.endsWith)))
    assert(opened.size === 1)
    assert(idSet(scan) === (0L until 30L).filter(_ % 3 == 1).toSet)
  }

  test("NULL partition values are rejected; nothing stages") {
    import spark.implicits._
    val dir = tmp()
    val withNull = Seq((1L, "a", "g0"), (2L, "b", null))
      .toDF("id", "s", "grp")
    intercept[IllegalArgumentException] {
      TxLog.appendPartitioned(spark, dir, withNull, Seq("grp"))
    }
    assert(TxLog.latestVersion(dir) === -1L)
    // no orphaned staging
    val ds = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val leftovers = try {
      import scala.jdk.CollectionConverters._
      ds.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("d-")).toList
    } finally ds.close()
    assert(leftovers.isEmpty)
  }

  test("overwritePartitions replaces exactly the incoming partitions") {
    import spark.implicits._
    val dir = tmp()
    TxLog.appendPartitioned(spark, dir, df(0 until 30), Seq("grp"))
    val untouched = TxLog.snapshot(dir).files.filter(_.pv("grp") == "g2")
    // replace g0 and g1 with fresh content; g2 must ride through
    val repl = Seq((100L, "r0", "g0"), (101L, "r1", "g1"))
      .toDF("id", "s", "grp")
    val v = TxLog.overwritePartitions(spark, dir, repl)
    assert(v === 1L)
    val got = TxLog.read(spark, dir)
    val want = (0L until 30L).filter(_ % 3 == 2).toSet ++ Set(100L, 101L)
    assert(idSet(got) === want)
    // g2's file was never touched (same path, metadata-only decision)
    val after = TxLog.snapshot(dir).files.map(_.path).toSet
    assert(untouched.forall(f => after.contains(f.path)))
    // empty replacement frame is a no-op
    assert(TxLog.overwritePartitions(spark, dir,
      df(0 until 0)) === 1L)
  }

  test("legacy pv-less files (clustered-OPTIMIZE outputs) classify conservatively") {
    import spark.implicits._
    val dir = tmp()
    TxLog.appendPartitioned(spark, dir, df(0 until 30), Seq("grp"))
    // an explicit clustering overrides partition alignment: outputs
    // carry no pv by design (pruning falls back to the stats the sort
    // makes sharp)
    TxLog.optimize(spark, dir, targetBytes = 1L << 30, sortBy = Seq("id"))
    assert(TxLog.snapshot(dir).files.forall(_.pv.isEmpty))
    // equality read falls back to stats + row filter — still correct
    assert(idSet(TxLog.readPartition(spark, dir, Map("grp" -> "g1"))) ===
      (0L until 30L).filter(_ % 3 == 1).toSet)
    // dynamic overwrite rewrites the straddling legacy file without its
    // replaced rows, and the rewrite is partition-aligned again
    val repl = Seq((200L, "r", "g0")).toDF("id", "s", "grp")
    TxLog.overwritePartitions(spark, dir, repl)
    val got = TxLog.read(spark, dir)
    assert(idSet(got) ===
      (0L until 30L).filterNot(_ % 3 == 0).toSet + 200L)
    assert(TxLog.snapshot(dir).files.forall(_.pv.contains("grp")),
      "the remainder rewrite restores partition alignment")
  }

  test("DELETE, UPDATE, and MERGE keep a partitioned table aligned") {
    import spark.implicits._
    val dir = tmp()
    TxLog.appendPartitioned(spark, dir, df(0 until 30), Seq("grp"))
    TxLog.delete(spark, dir, "id % 10 = 0")
    TxLog.update(spark, dir, "id = 7", Map("s" -> "'u7'"))
    TxLog.merge(spark, dir,
      Seq((3L, "m3", "g0"), (99L, "m99", "g0")).toDF("id", "s", "grp"), "id")
    val snap = TxLog.snapshot(dir)
    assert(snap.files.forall(_.pv.contains("grp")),
      s"every post-DML file must carry pv, got ${snap.files.map(f => (f.path, f.pv))}")
    val want = (0L until 30L).filterNot(_ % 10 == 0).toSet + 99L
    assert(idSet(TxLog.read(spark, dir)) === want)
    assert(TxLog.read(spark, dir).where("id = 3").head().getString(1) === "m3")
  }

  test("partition columns are immutable: no rename, drop, or property edit") {
    val dir = tmp()
    TxLog.appendPartitioned(spark, dir, df(0 until 10), Seq("grp"))
    intercept[IllegalArgumentException](TxLog.renameColumn(dir, "grp", "bucket"))
    intercept[IllegalArgumentException](TxLog.dropColumn(dir, "grp"))
    intercept[IllegalArgumentException](
      TxLog.setProperties(dir, Map(TxLog.Partitioning.Columns -> "s")))
    // mismatched partitioning on a later append is refused
    intercept[IllegalArgumentException](
      TxLog.appendPartitioned(spark, dir, df(10 until 20), Seq("s")))
  }

  test("SQL: CREATE TABLE PARTITIONED BY + INSERT stages pv-bearing files") {
    val root = graft.Scratch.dir("graft-txpartsql").toString
    val cat = "prt" + java.lang.Integer.toHexString(root.hashCode).takeRight(8)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.TxCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, s STRING, grp STRING) PARTITIONED BY (grp)")
    df(0 until 12).createOrReplaceTempView("txpart_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM txpart_src")
    val snap = TxLog.snapshot(s"$root/t")
    assert(TxLog.partitionColsOf(snap) === Seq("grp"))
    assert(snap.files.nonEmpty && snap.files.forall(_.pv.contains("grp")))
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t WHERE grp = 'g1'")
      .head().getLong(0) === 4L)
  }

  test("streaming appendBatch stages partition-aligned on a partitioned table") {
    val dir = tmp()
    TxLog.appendPartitioned(spark, dir, df(0 until 6), Seq("grp"))
    assert(TxLog.appendBatch(spark, dir, df(6 until 12), "app", 0L).nonEmpty)
    assert(TxLog.snapshot(dir).files.forall(_.pv.contains("grp")))
    // replay skipped, exactly-once intact
    assert(TxLog.appendBatch(spark, dir, df(6 until 12), "app", 0L).isEmpty)
  }

  test("plain OPTIMIZE compacts WITHIN partitions, keeping pv") {
    val dir = tmp()
    // three appends → 3 files per partition value
    (0 until 3).foreach(i =>
      TxLog.appendPartitioned(spark, dir, df(i * 30 until i * 30 + 30), Seq("grp")))
    assert(TxLog.snapshot(dir).files.size === 9)
    val (before, after) = TxLog.optimize(spark, dir, targetBytes = 1L << 30)
    assert(before === 9 && after === 3, "one compacted file per partition")
    val snap = TxLog.snapshot(dir)
    assert(snap.files.forall(_.pv.contains("grp")),
      "compaction within partitions preserves pv")
    assert(snap.files.map(_.pv("grp")).toSet === Set("g0", "g1", "g2"))
    assert(idSet(TxLog.read(spark, dir)) === (0L until 90L).toSet)
  }

  test("DML touch discovery prunes by partition: foreign partitions never open") {
    val dir = tmp()
    TxLog.appendPartitioned(spark, dir, df(0 until 30), Seq("grp"))
    val snap = TxLog.snapshot(dir)
    // CORRUPT the g2 partition's data file in place: any scan touching
    // it now fails loudly, so a passing DML proves it was never opened
    val g2 = snap.files.find(_.pv("grp") == "g2").get
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, g2.path),
      "not parquet".getBytes)
    // prunable predicates: only the named partitions' files are scanned
    TxLog.delete(spark, dir, "grp = 'g0' AND id < 6")
    TxLog.update(spark, dir, "grp = 'g1'", Map("s" -> "'u'"))
    TxLog.delete(spark, dir, "grp IN ('g0', 'g1') AND id > 25") // IN prunes too
    // a RANGE conjunct prunes by stats: g0/g1 files hold ids <= 28, the
    // corrupt g2 file holds id 29 — stats exclude the range below
    TxLog.delete(spark, dir, "id < 2")
    val got = TxLog.snapshot(dir)
    assert(got.files.find(_.pv("grp") == "g2").map(_.path) === Some(g2.path),
      "the corrupt foreign partition rode through untouched")
    // an UNPRUNABLE predicate must scan everything — and hit the corruption
    intercept[Exception](TxLog.delete(spark, dir, "id = 29 OR id = 1"))
  }

  test("appendEvolve on a partitioned table stays partition-aligned") {
    import spark.implicits._
    val dir = tmp()
    TxLog.appendPartitioned(spark, dir, df(0 until 12), Seq("grp"))
    TxLog.appendEvolve(spark, dir,
      Seq((100L, "w", "g1", 3.5)).toDF("id", "s", "grp", "score"))
    val snap = TxLog.snapshot(dir)
    assert(snap.schema.fieldNames.contains("score"))
    assert(snap.files.forall(_.pv.contains("grp")),
      "evolved appends must carry pv like any other write")
    // an evolve-append OMITTING the partition column null-fills it —
    // rejected loudly, never silently mis-binned
    intercept[IllegalArgumentException](TxLog.appendEvolve(spark, dir,
      Seq((101L, "x", 1.0)).toDF("id", "s", "score")))
  }

  test("optimizePartition compacts ONE partition, inherits pv, leaves the rest") {
    val dir = tmp()
    (0 until 3).foreach(i =>
      TxLog.appendPartitioned(spark, dir, df(i * 30 until i * 30 + 30), Seq("grp")))
    val others = TxLog.snapshot(dir).files.filterNot(_.pv("grp") == "g1")
      .map(_.path).toSet
    val (b, a) = TxLog.optimizePartition(spark, dir, Map("grp" -> "g1"),
      sortBy = Seq("id"))
    assert(b === 3 && a === 1)
    val snap = TxLog.snapshot(dir)
    // other partitions' files are byte-identical (never opened/rewritten)
    assert(others.subsetOf(snap.files.map(_.path).toSet))
    val g1 = snap.files.filter(_.pv.get("grp").contains("g1"))
    assert(g1.size === 1, "the clustered output must INHERIT the partition's pv")
    assert(idSet(TxLog.read(spark, dir)) === (0L until 90L).toSet)
    // scoped no-op when <2 files match; unknown value selects nothing
    assert(TxLog.optimizePartition(spark, dir, Map("grp" -> "g1")) === (1, 1))
    assert(TxLog.optimizePartition(spark, dir, Map("grp" -> "zz")) === (0, 0))
  }

  test("CALL optimize_partition scopes maintenance from SQL") {
    val root = graft.Scratch.dir("graft-txpart-call").toString
    val cat = "opp" + java.lang.Integer.toHexString(root.hashCode).takeRight(8)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.TxCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (0 until 2).foreach(i =>
      TxLog.appendPartitioned(spark, s"$root/t", df(i * 30 until i * 30 + 30), Seq("grp")))
    val r = spark.sql(
      s"CALL $cat.optimize_partition(`table` => 't', partition => 'grp=g2', sort_by => 'id')")
      .head()
    assert(r.getInt(0) === 2 && r.getInt(1) === 1)
    assert(TxLog.snapshot(s"$root/t").files.count(_.pv("grp") == "g2") === 1)
  }

  test("SQL INSERT OVERWRITE ... PARTITION replaces exactly the named partition") {
    val root = graft.Scratch.dir("graft-txpart-iow").toString
    val cat = "iow" + java.lang.Integer.toHexString(root.hashCode).takeRight(8)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.TxCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    TxLog.appendPartitioned(spark, s"$root/t", df(0 until 30), Seq("grp"))
    val untouched = TxLog.snapshot(s"$root/t").files
      .filterNot(_.pv("grp") == "g1").map(_.path).toSet
    // static partition clause: replace g1 wholesale
    spark.sql(s"""INSERT OVERWRITE $cat.t PARTITION (grp = 'g1')
                  VALUES (500, 'r0'), (501, 'r1')""")
    val got = spark.sql(s"SELECT id FROM $cat.t").collect().map(_.getLong(0)).toSet
    assert(got === (0L until 30L).filterNot(_ % 3 == 1).toSet ++ Set(500L, 501L))
    // the other partitions' files were never touched
    val after = TxLog.snapshot(s"$root/t").files.map(_.path).toSet
    assert(untouched.subsetOf(after))
    // plain INSERT OVERWRITE (no clause) still replaces the whole table
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES (9L, 'x', 'g0')")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").head().getLong(0) === 1L)
  }

  test("replaceWhereEq refuses rows outside the named partition; empties on no rows") {
    import spark.implicits._
    val dir = tmp()
    TxLog.appendPartitioned(spark, dir, df(0 until 30), Seq("grp"))
    // a foreign row silently landing in a named-partition overwrite is
    // the hive-semantics bug — refused before anything commits
    val v0 = TxLog.latestVersion(dir)
    intercept[IllegalArgumentException] {
      TxLog.replaceWhereEq(spark, dir,
        Seq((7L, "x", "g2")).toDF("id", "s", "grp"), Map("grp" -> "g1"))
    }
    assert(TxLog.latestVersion(dir) === v0)
    // an EMPTY frame empties the partition (the static clause names it)
    TxLog.replaceWhereEq(spark, dir, df(0 until 0), Map("grp" -> "g1"))
    assert(idSet(TxLog.read(spark, dir)) ===
      (0L until 30L).filterNot(_ % 3 == 1).toSet)
  }

  test("partition overwrites rebase over disjoint concurrent appends") {
    import spark.implicits._
    val dir = tmp()
    TxLog.appendPartitioned(spark, dir, df(0 until 30), Seq("grp"))          // v0
    TxLog.append(spark, dir, df(200 until 206))                              // v1 wins
    val repl = Seq((500L, "r", "g1")).toDF("id", "s", "grp")
    // pinned at v0, the racing append is absorbed (serial order:
    // replace first, append after — the appended g1 row SURVIVES)
    val v = TxLog.overwritePartitions(spark, dir, repl, readVersionOpt = Some(0L))
    assert(v === 2L)
    val appendedG1 = (200L until 206L).filter(_ % 3 == 1).toSet
    assert(idSet(TxLog.read(spark, dir)) ===
      (0L until 30L).filterNot(_ % 3 == 1).toSet ++ (200L until 206L) + 500L)
    assert(appendedG1.subsetOf(idSet(TxLog.read(spark, dir))))
    // a winner that REWROTE a replaced file still conflicts
    TxLog.delete(spark, dir, "id = 2") // rewrites a g2 file at head
    intercept[TxLog.ConcurrentWriteException] {
      TxLog.replaceWhereEq(spark, dir,
        Seq((600L, "x", "g2")).toDF("id", "s", "grp"),
        Map("grp" -> "g2"), readVersionOpt = Some(2L))
    }
  }

  test("pv survives the checkpoint round-trip") {
    val dir = tmp()
    // 11 commits cross the checkpoint interval (10): the snapshot then
    // replays FROM THE CHECKPOINT, so pv must round-trip through it
    (0 until 11).foreach(i =>
      TxLog.appendPartitioned(spark, dir, df(i * 3 until i * 3 + 3), Seq("grp")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_txlog", f"${10L}%020d.ckpt.json")))
    val snap = TxLog.snapshot(dir)
    assert(snap.files.nonEmpty && snap.files.forall(_.pv.contains("grp")))
    val (surv, _) = TxLog.prunedFilesEq(snap, Map("grp" -> "g1"))
    assert(surv.nonEmpty && surv.forall(_.pv("grp") == "g1"))
  }

  test("multi-column partitioning prunes on each column independently") {
    import spark.implicits._
    val dir = tmp()
    val d = (0 until 40).map(i => (i.toLong, s"g${i % 2}", s"d${i % 4 / 2}"))
      .toDF("id", "g", "d")
    TxLog.appendPartitioned(spark, dir, d, Seq("g", "d"))
    val snap = TxLog.snapshot(dir)
    assert(snap.files.size === 4) // 2 × 2 combinations
    val (surv, _) = TxLog.prunedFilesEq(snap, Map("g" -> "g1", "d" -> "d0"))
    assert(surv.size === 1)
    assert(idSet(TxLog.readPartition(spark, dir, Map("g" -> "g1", "d" -> "d0"))) ===
      (0L until 40L).filter(i => i % 2 == 1 && i % 4 / 2 == 0).toSet)
  }
}
