package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxLog

/** Row-level DML contract (DELETE / UPDATE / MERGE-delete by keys):
  * copy-on-write touches only files holding matches, time travel sees
  * the pre-DML rows, streaming/change-feed sees exactly the right
  * dataChange rows, NULL predicates keep rows, constraints gate
  * updates, and non-deterministic expressions are rejected. */
class TxDmlSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(): String =
    graft.Scratch.dir("graft-txdml").toString + "/t"

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "s", "grp")
  }

  private def idSet(d: org.apache.spark.sql.DataFrame): Set[Long] =
    d.select("id").collect().map(_.getLong(0)).toSet

  test("delete removes exactly the matching rows; time travel keeps them") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 10))
    val v = TxLog.delete(spark, dir, "grp = 1")
    assert(v === 1L)
    assert(idSet(TxLog.read(spark, dir)) === (0L until 10L).toSet.filterNot(_ % 3 == 1))
    assert(idSet(TxLog.read(spark, dir, Some(0L))) === (0L until 10L).toSet)
  }

  test("delete touches only files holding matches (copy-on-write scope)") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 100).repartition(1))   // file A: all ids
    TxLog.append(spark, dir, df(100 until 200).repartition(1)) // file B
    val before = TxLog.snapshot(dir).files.map(_.path).toSet
    TxLog.delete(spark, dir, "id = 150") // only file B holds a match
    val after = TxLog.snapshot(dir)
    // file A must survive UNREWRITTEN; file B replaced by its remainder
    val fileA = TxLog.snapshot(dir, Some(0L)).files.head.path
    assert(after.files.map(_.path).contains(fileA))
    assert(!after.files.map(_.path).exists(p =>
      (before - fileA).contains(p)))
    assert(after.rows === 199L)
  }

  test("delete with NULL-valued predicate keeps the NULL rows (IS TRUE semantics)") {
    val dir = tmp()
    import spark.implicits._
    val d = Seq((1L, Some(5)), (2L, None), (3L, Some(50))).toDF("id", "x")
    TxLog.append(spark, dir, d)
    TxLog.delete(spark, dir, "x > 10") // NULL > 10 is NULL, not TRUE
    assert(idSet(TxLog.read(spark, dir)) === Set(1L, 2L))
  }

  test("delete matching nothing is a no-op without a commit") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 5))
    assert(TxLog.delete(spark, dir, "id = 999") === 0L)
    assert(TxLog.latestVersion(dir) === 0L)
  }

  test("delete rejects a non-deterministic predicate") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 5))
    intercept[IllegalArgumentException](TxLog.delete(spark, dir, "rand() < 0.5"))
  }

  test("deleteKeys erases every key in the frame, distributed end to end") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 50))
    import spark.implicits._
    val keys = Seq(3L, 7L, 11L, 999L).toDF("id") // 999 matches nothing
    val v = TxLog.deleteKeys(spark, dir, keys, "id")
    assert(v === 1L)
    assert(idSet(TxLog.read(spark, dir)) === (0L until 50L).toSet -- Set(3L, 7L, 11L))
    // the staged key list must not linger as a data dir
    assert(TxLog.snapshot(dir).files.forall(f => Files.exists(
      java.nio.file.Paths.get(dir, f.path))))
  }

  test("deleteKeys rejects NULL keys") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 5))
    import spark.implicits._
    val keys = Seq(Some(1L), None).toDF("id")
    intercept[IllegalArgumentException](TxLog.deleteKeys(spark, dir, keys, "id"))
  }

  test("update rewrites matching rows, keeps schema, preserves others") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 10))
    val v = TxLog.update(spark, dir, "grp = 0", Map("s" -> "concat(s, '!')"))
    assert(v === 1L)
    val out = TxLog.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) === "v0!" && out(3L) === "v3!" && out(9L) === "v9!")
    assert(out(1L) === "v1" && out(2L) === "v2")
    assert(TxLog.snapshot(dir).schema === TxLog.snapshot(dir, Some(0L)).schema)
    assert(TxLog.read(spark, dir).count() === 10L)
  }

  test("update SET may reference pre-update values of other columns") {
    val dir = tmp()
    import spark.implicits._
    TxLog.append(spark, dir, Seq((1L, 10L, 0L)).toDF("id", "a", "b"))
    TxLog.update(spark, dir, "id = 1", Map("b" -> "a + 5", "a" -> "a * 2"))
    val r = TxLog.read(spark, dir).head()
    // both SETs see the OLD a (SQL UPDATE semantics)
    assert(r.getLong(1) === 20L && r.getLong(2) === 15L)
  }

  test("update casts SET expressions to the column's type (schema invariant)") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 4))
    TxLog.update(spark, dir, "id = 2", Map("id" -> "id + 0.0")) // double → cast back
    assert(TxLog.snapshot(dir).schema.fields.head.dataType ===
      org.apache.spark.sql.types.LongType)
  }

  test("update validates CHECK constraints on the updated rows") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 5))
    TxLog.addConstraint(spark, dir, "id_nonneg", "id >= 0")
    intercept[TxLog.ConstraintViolationException](
      TxLog.update(spark, dir, "id = 2", Map("id" -> "-7")))
    // failed update leaves the table untouched
    assert(idSet(TxLog.read(spark, dir)) === (0L until 5L).toSet)
  }

  test("change feed: update delivers exactly the updated rows; delete delivers nothing") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 10)) // v0
    TxLog.update(spark, dir, "id = 4", Map("s" -> "'upd'")) // v1
    TxLog.delete(spark, dir, "id = 5") // v2
    val changes = TxLog.readChanges(spark, dir, 0L)
    val rows = changes.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSet === Set((4L, "upd")), s"change feed was ${rows.toSeq}")
  }

  test("streaming source skips delete rewrites, delivers update rows") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 10).repartition(1)) // v0
    TxLog.delete(spark, dir, "id = 3") // v1: rewrite only
    TxLog.update(spark, dir, "id = 7", Map("s" -> "'u7'")) // v2
    assert(TxLog.changedFilesBetween(dir, 0L, 2L).size === 1)
    val upd = spark.read.parquet(
      TxLog.changedFilesBetween(dir, 0L, 2L)
        .map(f => java.nio.file.Paths.get(dir, f.path).toString): _*)
    assert(upd.count() === 1L && upd.head().getString(1) === "u7")
  }

  test("vacuum reclaims pre-DML files; current snapshot unaffected") {
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 20).repartition(1))
    TxLog.delete(spark, dir, "grp = 2")
    val reclaimed = TxLog.vacuum(dir, retainVersions = 1, staleStagingMillis = 0L)
    assert(reclaimed.nonEmpty)
    assert(idSet(TxLog.read(spark, dir)) === (0L until 20L).toSet.filterNot(_ % 3 == 2))
    intercept[Exception](TxLog.read(spark, dir, Some(0L)).collect())
  }

  test("DML commits record operation metrics; history surfaces them") {
    import spark.implicits._
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 30))
    TxLog.delete(spark, dir, "grp = 1")                       // 10 rows
    TxLog.update(spark, dir, "id < 6 AND grp = 0", Map("s" -> "'u'")) // ids 0,3
    TxLog.merge(spark, dir,
      Seq((2L, "m", 2), (99L, "m", 0)).toDF("id", "s", "grp"), "id")
    def metricsOf(v: Long): Map[String, Long] =
      TxLog.history(spark, dir).where(s"version = $v")
        .select("metrics").head().getMap[String, Long](0).toMap
    // delete/update carry the same pruning observables as merge
    assert(metricsOf(1L) === Map("rows_deleted" -> 10L,
      "files_scanned" -> metricsOf(1L)("files_scanned"),
      "files_live" -> metricsOf(1L)("files_live")))
    assert(metricsOf(1L)("files_scanned") <= metricsOf(1L)("files_live"))
    assert(metricsOf(2L)("rows_updated") === 2L)
    assert(metricsOf(2L).keySet ===
      Set("rows_updated", "files_scanned", "files_live"))
    val m = metricsOf(3L)
    assert(m("rows_matched") === 1L && m("rows_inserted") === 1L)
    // merge also records its pruning observables: candidates actually
    // opened by touch discovery never exceed the live total
    assert(m("files_touched") <= m("files_scanned") &&
      m("files_scanned") <= m("files_live"))
    assert(m.keySet === Set("rows_matched", "rows_inserted",
      "files_live", "files_scanned", "files_touched"))
    // merge-on-read delete records the position-list count
    val dv = tmp()
    TxLog.append(spark, dv, df(0 until 20))
    TxLog.setProperties(dv, Map(TxLog.DeletionVectors.Enabled -> "true"))
    TxLog.delete(spark, dv, "grp = 2")
    val dvM = TxLog.history(spark, dv).where("version = 2")
      .select("metrics").head().getMap[String, Long](0).toMap
    assert(dvM("rows_deleted") === (0 until 20).count(_ % 3 == 2).toLong)
    assert(dvM.keySet === Set("rows_deleted", "files_scanned", "files_live"))
    // non-DML commits carry no metrics
    assert(metricsOf(0L) === Map.empty)
  }

  test("DML finds a CONVERTed file whose name needs URI escaping") {
    import spark.implicits._
    // `_metadata.file_path` spells this name `my%20data%251+x.parquet`
    def converted(dv: Boolean): String = {
      val dir = tmp()
      val raw = graft.Scratch.dir("graft-txdml-raw").toString + "/p"
      df(1 until 4).coalesce(1).write.parquet(raw)
      val f = new java.io.File(raw).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.createDirectories(java.nio.file.Paths.get(dir))
      Files.copy(f.toPath, java.nio.file.Paths.get(dir, "my data%1+x.parquet"))
      TxLog.convertFromParquet(spark, dir)
      if (dv) TxLog.setProperties(dir, Map(TxLog.DeletionVectors.Enabled -> "true"))
      dir
    }
    def rows(dir: String): Set[(Long, String)] =
      TxLog.read(spark, dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val base = Set((1L, "v1"), (2L, "v2"), (3L, "v3"))

    val conv = converted(dv = false)
    assert(TxLog.snapshot(conv).files.map(_.rows) === Seq(3L), "CONVERT reads the file's stats")
    TxLog.merge(spark, conv, Seq((1L, "U1", 1), (9L, "N9", 0)).toDF("id", "s", "grp"), "id")
    assert(rows(conv) === base - ((1L, "v1")) + ((1L, "U1")) + ((9L, "N9")))

    val upd = converted(dv = false)
    TxLog.update(spark, upd, "id = 3", Map("s" -> "'u3'"))
    assert(rows(upd) === base - ((3L, "v3")) + ((3L, "u3")))

    val del = converted(dv = false)
    TxLog.delete(spark, del, "id = 2")
    assert(rows(del) === base - ((2L, "v2")))

    val dvDel = converted(dv = true)
    TxLog.delete(spark, dvDel, "id = 2")
    assert(rows(dvDel) === base - ((2L, "v2")))
    assert(TxLog.snapshot(dvDel).files.flatMap(_.dv).nonEmpty, "the delete wrote a vector")
    TxLog.merge(spark, dvDel, Seq((3L, "U3", 0)).toDF("id", "s", "grp"), "id")
    assert(rows(dvDel) === Set((1L, "v1"), (3L, "U3")))
  }

  // ---- merge schema evolution ---------------------------------------------

  test("mergeEvolve adopts a new source column; history null-backfills") {
    import spark.implicits._
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 10))
    val src = Seq((3L, "up3", 0, 1.5), (42L, "new42", 0, 2.5))
      .toDF("id", "s", "grp", "score")
    TxLog.mergeEvolve(spark, dir, src, "id")
    val got = TxLog.read(spark, dir)
    assert(got.schema.fieldNames.toSeq === Seq("id", "s", "grp", "score"))
    assert(got.count() === 11L)
    assert(got.where("id = 3").head().getDouble(3) === 1.5)
    assert(got.where("id = 42").head().getString(1) === "new42")
    // untouched history reads the new column as NULL
    assert(got.where("score IS NULL").count() === 9L)
    // and the widened schema is the table's from now on
    assert(TxLog.snapshot(dir).schema.fieldNames.length === 4)
  }

  test("mergeEvolve rejects a retyped column (never narrows)") {
    import spark.implicits._
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 5))
    val bad = Seq((1L, 7, 0)).toDF("id", "s", "grp") // s: int, table has string
    intercept[TxLog.SchemaMismatchException] {
      TxLog.mergeEvolve(spark, dir, bad, "id")
    }
    assert(TxLog.latestVersion(dir) === 0L)
  }

  test("graft.autoMerge=true makes plain merge (and mergeBatch) evolve") {
    import spark.implicits._
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 6))
    // without the property, plain merge rejects the wide source
    val wide = Seq((2L, "u2", 0, "x")).toDF("id", "s", "grp", "tag")
    intercept[TxLog.SchemaMismatchException](TxLog.merge(spark, dir, wide, "id"))
    TxLog.setProperties(dir, Map(TxLog.AutoMerge.Enabled -> "true"))
    TxLog.merge(spark, dir, wide, "id")
    assert(TxLog.read(spark, dir).schema.fieldNames.contains("tag"))
    // mergeBatch keeps exactly-once through the evolving path
    val wider = Seq((3L, "u3", 0, "y", 9L)).toDF("id", "s", "grp", "tag", "extra")
    assert(TxLog.mergeBatch(spark, dir, wider, "id", "app", 1L).nonEmpty)
    assert(TxLog.mergeBatch(spark, dir, wider, "id", "app", 1L).isEmpty)
    val got = TxLog.read(spark, dir)
    assert(got.where("id = 3").head().getAs[Long]("extra") === 9L)
    assert(got.count() === 6L)
  }

  test("evolving merge with a source OMITTING a table column null-fills its rows") {
    import spark.implicits._
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 5))
    val narrow = Seq((1L, "one")).toDF("id", "s") // grp omitted
    TxLog.mergeEvolve(spark, dir, narrow, "id")
    val got = TxLog.read(spark, dir)
    assert(got.schema.fieldNames.toSeq === Seq("id", "s", "grp"))
    assert(got.where("id = 1").head().isNullAt(2), "the merged row's grp is NULL")
    assert(got.where("grp IS NOT NULL").count() === 4L)
  }

  test("mergeEvolve re-adding a DROPPED column name never resurrects old bytes") {
    import spark.implicits._
    val dir = tmp()
    TxLog.append(spark, dir, df(0 until 5))
    TxLog.dropColumn(dir, "grp")
    val src = Seq((2L, "u2", 777)).toDF("id", "s", "grp") // re-add 'grp'
    TxLog.mergeEvolve(spark, dir, src, "id")
    val got = TxLog.read(spark, dir)
    assert(got.where("id = 2").head().getInt(2) === 777)
    assert(got.where("id <> 2 AND grp IS NOT NULL").count() === 0L,
      "old rows must read NULL, not the dropped column's bytes")
  }
}
