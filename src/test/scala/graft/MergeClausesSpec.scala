package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxLog
import graft.sources.TxLog.{WhenMatchedDelete, WhenMatchedUpdate, WhenNotMatchedBySourceDelete, WhenNotMatchedBySourceUpdate, WhenNotMatchedInsert}

/** Conditional multi-clause MERGE ([[TxLog.mergeClauses]]): the full
  * `WHEN MATCHED [AND c] THEN UPDATE SET …/DELETE, WHEN NOT MATCHED
  * [AND c] THEN INSERT, WHEN NOT MATCHED BY SOURCE [AND c] THEN
  * UPDATE/DELETE` surface — first-firing-clause-in-order semantics,
  * partial SET lists, extra source columns that drive conditions but
  * never land, change-feed completeness, bounded touch discovery,
  * composite `ON` keys (tuple matching), the by-source full-scan and
  * strict-conflict rules, and the SQL `MERGE INTO` routing. */
class MergeClausesSpec extends AnyFunSuite with SparkTestBase {

  private def fresh(name: String): String =
    graft.Scratch.dir(s"graft-$name").toString + "/t"

  /** (id, v, amount) × 10: id 0..9, v = "v<id>", amount = id * 10. */
  private def seed(dir: String): Unit = {
    import spark.implicits._
    TxLog.append(spark, dir,
      (0 until 10).map(i => (i.toLong, s"v$i", i * 10.0)).toDF("id", "v", "amount"))
  }

  private def state(dir: String): Map[Long, (String, Double)] =
    TxLog.read(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap

  test("debezium-style CDC feed: delete + update + guarded insert in one commit") {
    import spark.implicits._
    val dir = fresh("cdc")
    seed(dir)
    // op feed: delete 2, update 3 -> U3/999, insert 20 -> NEW/1, and a
    // tombstone for a key that never existed (21,'d') which must no-op
    val feed = Seq(
      (2L, "x", 0.0, "d"), (3L, "U3", 999.0, "u"),
      (20L, "NEW", 1.0, "c"), (21L, "gone", 0.0, "d"))
      .toDF("id", "v", "amount", "op")
    TxLog.mergeClauses(spark, dir, feed, "id", Seq(
      WhenMatchedDelete(Some("s.op = 'd'")),
      WhenMatchedUpdate(None, Map("v" -> "s.v", "amount" -> "s.amount")),
      WhenNotMatchedInsert(Some("s.op <> 'd'"),
        Map("id" -> "s.id", "v" -> "s.v", "amount" -> "s.amount"))))
    val got = state(dir)
    assert(!got.contains(2L) && !got.contains(21L))
    assert(got(3L) === (("U3", 999.0)))
    assert(got(20L) === (("NEW", 1.0)))
    assert(got.size === 10) // 10 - 1 deleted + 1 inserted
    (0L until 10L).filter(i => i != 2 && i != 3)
      .foreach(i => assert(got(i) === ((s"v$i", i * 10.0))))
  }

  test("clause order: the FIRST firing clause wins") {
    import spark.implicits._
    val dir = fresh("order")
    seed(dir)
    val src = Seq((1L, 5.0), (2L, 500.0)).toDF("id", "thresh")
    // both rows match both clauses' key; the update fires first for
    // amount < thresh, else the delete
    TxLog.mergeClauses(spark, dir, src, "id", Seq(
      WhenMatchedUpdate(Some("t.amount < s.thresh"), Map("v" -> "'small'")),
      WhenMatchedDelete(None)))
    val got = state(dir)
    assert(!got.contains(1L)) // amount 10 >= 5 -> update skipped, delete fired
    assert(got(2L) === (("small", 20.0))) // amount 20 < 500 -> update fired first
    assert(got.size === 9)
  }

  test("matched row firing no clause keeps; unmatched source firing no insert drops") {
    import spark.implicits._
    val dir = fresh("nofire")
    seed(dir)
    val src = Seq((4L, 1.0), (30L, 2.0)).toDF("id", "x")
    TxLog.mergeClauses(spark, dir, src, "id", Seq(
      WhenMatchedUpdate(Some("t.amount > 1000"), Map("v" -> "'big'")),
      WhenNotMatchedInsert(Some("s.x > 100"),
        Map("id" -> "s.id", "v" -> "'ins'", "amount" -> "s.x"))))
    val got = state(dir)
    assert(got(4L) === (("v4", 40.0))) // matched, condition false -> untouched
    assert(!got.contains(30L)) // unmatched, insert guard false -> dropped
    assert(got.size === 10)
  }

  test("partial SET keeps unmentioned columns; expressions read both sides") {
    import spark.implicits._
    val dir = fresh("partial")
    seed(dir)
    val src = Seq((5L, 7.0)).toDF("id", "delta")
    TxLog.mergeClauses(spark, dir, src, "id", Seq(
      WhenMatchedUpdate(None, Map("amount" -> "t.amount + s.delta"))))
    val got = state(dir)
    assert(got(5L) === (("v5", 57.0))) // v untouched, amount = 50 + 7
    assert(got.size === 10)
  }

  test("star clauses: UPDATE SET * / INSERT * from like-named source columns") {
    import spark.implicits._
    val dir = fresh("star")
    seed(dir)
    val src = Seq((6L, "SIX", 600.0, "u"), (40L, "FORTY", 4.0, "c"))
      .toDF("id", "v", "amount", "op")
    TxLog.mergeClauses(spark, dir, src, "id", Seq(
      WhenMatchedUpdate(None), WhenNotMatchedInsert(None)))
    val got = state(dir)
    assert(got(6L) === (("SIX", 600.0)))
    assert(got(40L) === (("FORTY", 4.0)))
    assert(got.size === 11)
    // the extra op column drove nothing into the table
    assert(TxLog.read(spark, dir).columns.toSeq === Seq("id", "v", "amount"))
  }

  test("star clause with a missing source column refused; bad SET target refused") {
    import spark.implicits._
    val dir = fresh("refuse")
    seed(dir)
    val narrow = Seq((1L, "x")).toDF("id", "v") // no amount
    val e1 = intercept[IllegalArgumentException] {
      TxLog.mergeClauses(spark, dir, narrow, "id", Seq(WhenMatchedUpdate(None)))
    }
    assert(e1.getMessage.contains("amount"))
    val src = Seq((1L, "x", 1.0)).toDF("id", "v", "amount")
    val e2 = intercept[IllegalArgumentException] {
      TxLog.mergeClauses(spark, dir, src, "id", Seq(
        WhenMatchedUpdate(None, Map("nope" -> "s.v"))))
    }
    assert(e2.getMessage.contains("nope"))
  }

  test("duplicate and NULL source keys refused") {
    import spark.implicits._
    val dir = fresh("dupes")
    seed(dir)
    val dup = Seq((1L, "a", 1.0), (1L, "b", 2.0)).toDF("id", "v", "amount")
    intercept[IllegalArgumentException] {
      TxLog.mergeClauses(spark, dir, dup, "id", Seq(WhenMatchedUpdate(None)))
    }
    val withNull = Seq((Some(1L), "a", 1.0), (None, "b", 2.0))
      .toDF("id", "v", "amount")
    intercept[IllegalArgumentException] {
      TxLog.mergeClauses(spark, dir, withNull, "id", Seq(WhenMatchedUpdate(None)))
    }
  }

  test("CDF on: clause merge writes a complete change set") {
    import spark.implicits._
    val dir = fresh("cdf")
    seed(dir)
    TxLog.setProperties(dir, Map(TxLog.Cdf.Enabled -> "true"))
    val from = TxLog.latestVersion(dir)
    val feed = Seq((2L, "x", 0.0, "d"), (3L, "U3", 999.0, "u"),
      (20L, "NEW", 1.0, "c")).toDF("id", "v", "amount", "op")
    TxLog.mergeClauses(spark, dir, feed, "id", Seq(
      WhenMatchedDelete(Some("s.op = 'd'")),
      WhenMatchedUpdate(None),
      WhenNotMatchedInsert(Some("s.op <> 'd'"))))
    val changes = TxLog.readChangeFeed(spark, dir, from)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(changes === Set(
      (2L, "v2", "delete"),
      (3L, "v3", "update_preimage"), (3L, "U3", "update_postimage"),
      (20L, "NEW", "insert")))
  }

  test("CDF off: a delete-bearing clause merge refuses to serve the feed") {
    import spark.implicits._
    val dir = fresh("nocdf")
    seed(dir)
    val from = TxLog.latestVersion(dir)
    val feed = Seq((2L, "x", 0.0, "d")).toDF("id", "v", "amount", "op")
    TxLog.mergeClauses(spark, dir, feed, "id", Seq(
      WhenMatchedDelete(Some("s.op = 'd'"))))
    val e = intercept[IllegalStateException] {
      TxLog.readChangeFeed(spark, dir, from).collect()
    }
    assert(e.getMessage.contains("deleted rows"))
    // a delete-free clause merge still serves (insert-class rule)
    val dir2 = fresh("nocdf2")
    seed(dir2)
    val from2 = TxLog.latestVersion(dir2)
    val feed2 = Seq((3L, "U3", 9.0, "u")).toDF("id", "v", "amount", "op")
    TxLog.mergeClauses(spark, dir2, feed2, "id", Seq(WhenMatchedUpdate(None)))
    assert(TxLog.readChangeFeed(spark, dir2, from2)
      .where("id = 3").count() >= 1L)
  }

  test("operation metrics: updated/deleted/inserted counts and bounded discovery") {
    import spark.implicits._
    val dir = fresh("metrics")
    // 4 one-file bands of 100 keys each
    val rows = (0 until 400).map(i => (i.toLong, s"v$i", i * 1.0))
      .toDF("id", "v", "amount")
    (0 until 4).foreach(b => TxLog.append(spark, dir,
      rows.where(col("id") >= b * 100 && col("id") < (b + 1) * 100).coalesce(1)))
    // all keys in band 0: 2 updates, 1 delete, 1 insert
    val feed = Seq((10L, "U", 1.0, "u"), (11L, "U", 2.0, "u"),
      (12L, "x", 0.0, "d"), (1000L, "N", 3.0, "c")).toDF("id", "v", "amount", "op")
    TxLog.mergeClauses(spark, dir, feed, "id", Seq(
      WhenMatchedDelete(Some("s.op = 'd'")),
      WhenMatchedUpdate(None),
      WhenNotMatchedInsert(Some("s.op <> 'd'"))))
    val m = TxLog.history(spark, dir).where("op = 'merge'")
      .select(explode(col("metrics"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("rows_updated") === 2L)
    assert(m("rows_deleted") === 1L)
    assert(m("rows_inserted") === 1L)
    assert(m("rows_matched") === 3L)
    assert(m("files_live") === 4L)
    assert(m("files_scanned") === 1L) // key-banded batch opens 1 of 4
    assert(m("files_touched") === 1L)
    assert(TxLog.read(spark, dir).count() === 400L) // 400 - 1 + 1
  }

  test("SQL MERGE INTO with conditional clauses routes through mergeClauses") {
    import spark.implicits._
    val root = graft.Scratch.dir("graft-sqlclauses").toString
    val cat = "mc" + java.lang.Integer.toHexString(root.hashCode).takeRight(7)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.TxCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val dir = s"$root/t"
    seed(dir)
    Seq((2L, "x", 0.0, "d"), (3L, "U3", 999.0, "u"), (20L, "NEW", 1.0, "c"))
      .toDF("id", "v", "amount", "op").createOrReplaceTempView("cdc_feed")
    spark.sql(
      s"""MERGE INTO $cat.t t USING cdc_feed s ON t.id = s.id
         |WHEN MATCHED AND s.op = 'd' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v, amount = s.amount
         |WHEN NOT MATCHED AND s.op <> 'd' THEN
         |  INSERT (id, v, amount) VALUES (s.id, s.v, s.amount)
         |""".stripMargin)
    val got = state(dir)
    assert(!got.contains(2L))
    assert(got(3L) === (("U3", 999.0)))
    assert(got(20L) === (("NEW", 1.0)))
    assert(got.size === 10)
  }

  test("SQL conditional UPDATE with partial SET and both-side expressions") {
    import spark.implicits._
    val root = graft.Scratch.dir("graft-sqlpartial").toString
    val cat = "mp" + java.lang.Integer.toHexString(root.hashCode).takeRight(7)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.TxCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val dir = s"$root/t"
    seed(dir)
    Seq((5L, 7.0), (6L, 1000.0)).toDF("id", "delta")
      .createOrReplaceTempView("deltas")
    spark.sql(
      s"""MERGE INTO $cat.t t USING deltas s ON t.id = s.id
         |WHEN MATCHED AND s.delta < 100 THEN UPDATE SET amount = t.amount + s.delta
         |""".stripMargin)
    val got = state(dir)
    assert(got(5L) === (("v5", 57.0)))
    assert(got(6L) === (("v6", 60.0))) // guard false -> untouched
    assert(got.size === 10)
  }

  // ---- WHEN NOT MATCHED BY SOURCE -----------------------------------------

  test("by-source DELETE mirrors the source snapshot in one merge") {
    import spark.implicits._
    val dir = fresh("mirror")
    seed(dir)
    // the table must become exactly this snapshot
    val snap = Seq((3L, "THREE", 1.0), (7L, "SEVEN", 2.0), (20L, "NEW", 3.0))
      .toDF("id", "v", "amount")
    TxLog.mergeClauses(spark, dir, snap, "id", Seq(
      WhenMatchedUpdate(None), WhenNotMatchedInsert(None),
      WhenNotMatchedBySourceDelete(None)))
    val got = state(dir)
    assert(got === Map(3L -> (("THREE", 1.0)), 7L -> (("SEVEN", 2.0)),
      20L -> (("NEW", 3.0))))
  }

  test("by-source UPDATE fires only on unmatched rows, under its condition") {
    import spark.implicits._
    val dir = fresh("bysrcupd")
    seed(dir)
    val src = Seq((1L, "ONE", 100.0)).toDF("id", "v", "amount")
    TxLog.mergeClauses(spark, dir, src, "id", Seq(
      WhenMatchedUpdate(None),
      WhenNotMatchedBySourceUpdate(Some("t.amount < 30"),
        Map("v" -> "'stale'"))))
    val got = state(dir)
    assert(got(1L) === (("ONE", 100.0))) // matched -> updated, never by-source
    assert(got(0L) === (("stale", 0.0))) // unmatched, amount 0 < 30
    assert(got(2L) === (("stale", 20.0)))
    assert(got(3L) === (("v3", 30.0))) // unmatched, condition false -> kept
    assert(got(9L) === (("v9", 90.0)))
    assert(got.size === 10)
  }

  test("by-source clause order: first firing wins within the group") {
    import spark.implicits._
    val dir = fresh("bysrcorder")
    seed(dir)
    val src = Seq((9L, "x", 0.0)).toDF("id", "v", "amount")
    TxLog.mergeClauses(spark, dir, src, "id", Seq(
      WhenNotMatchedBySourceUpdate(Some("t.amount < 30"), Map("v" -> "'low'")),
      WhenNotMatchedBySourceDelete(Some("t.amount < 50"))))
    val got = state(dir)
    assert(got(0L)._1 === "low" && got(2L)._1 === "low") // update fired first
    assert(!got.contains(3L) && !got.contains(4L)) // 30,40 -> delete fired
    assert(got(5L) === (("v5", 50.0))) // neither fired -> kept
    assert(got(9L) === (("v9", 90.0))) // matched -> by-source never fires
    assert(got.size === 8)
  }

  test("by-source refusals: s. references and empty SET") {
    import spark.implicits._
    val dir = fresh("bysrcrefuse")
    seed(dir)
    val src = Seq((1L, "x", 0.0)).toDF("id", "v", "amount")
    val e1 = intercept[IllegalArgumentException] {
      TxLog.mergeClauses(spark, dir, src, "id", Seq(
        WhenNotMatchedBySourceUpdate(Some("s.amount > 0"), Map("v" -> "'x'"))))
    }
    assert(e1.getMessage.contains("see only the target row"))
    val e2 = intercept[IllegalArgumentException] {
      TxLog.mergeClauses(spark, dir, src, "id", Seq(
        WhenNotMatchedBySourceUpdate(None, Map("v" -> "concat(s.v, 'x')"))))
    }
    assert(e2.getMessage.contains("see only the target row"))
    val e3 = intercept[IllegalArgumentException] {
      TxLog.mergeClauses(spark, dir, src, "id", Seq(
        WhenNotMatchedBySourceUpdate(None, Map.empty)))
    }
    assert(e3.getMessage.contains("explicit SET"))
  }

  test("by-source CDF: deletes and updates land in the change feed") {
    import spark.implicits._
    val dir = fresh("bysrccdf")
    seed(dir)
    TxLog.setProperties(dir, Map(TxLog.Cdf.Enabled -> "true"))
    val from = TxLog.latestVersion(dir)
    val src = Seq((0L, "Z", 0.5)).toDF("id", "v", "amount")
    TxLog.mergeClauses(spark, dir, src, "id", Seq(
      WhenMatchedUpdate(None),
      WhenNotMatchedBySourceDelete(Some("t.id >= 8"))))
    val changes = TxLog.readChangeFeed(spark, dir, from)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(changes === Set(
      (0L, "update_preimage"), (0L, "update_postimage"),
      (8L, "delete"), (9L, "delete")))
  }

  test("by-source discovery is honest: files_scanned = files_live") {
    import spark.implicits._
    val dir = fresh("bysrcscan")
    val rows = (0 until 400).map(i => (i.toLong, s"v$i", i * 1.0))
      .toDF("id", "v", "amount")
    (0 until 4).foreach(b => TxLog.append(spark, dir,
      rows.where(col("id") >= b * 100 && col("id") < (b + 1) * 100).coalesce(1)))
    // a key-narrow batch would scan 1 of 4 — the by-source clause
    // forces all 4 (it may fire anywhere) and the metric says so
    val src = Seq((10L, "U", 1.0)).toDF("id", "v", "amount")
    TxLog.mergeClauses(spark, dir, src, "id", Seq(
      WhenMatchedUpdate(None),
      WhenNotMatchedBySourceDelete(Some("t.id >= 399"))))
    val m = TxLog.history(spark, dir).where("op = 'merge'")
      .select(explode(col("metrics"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("files_live") === 4L)
    assert(m("files_scanned") === 4L)
    assert(m("rows_deleted") === 1L)
    assert(TxLog.read(spark, dir).count() === 399L)
  }

  test("by-source merge aborts the rebase on ANY concurrent data change") {
    import spark.implicits._
    val dir = fresh("bysrcrace")
    seed(dir)
    val read = TxLog.latestVersion(dir)
    // a plain append lands between the read and the publish: a keyed
    // merge would rebase over it (disjoint keys), but a by-source merge
    // must abort — its clauses never evaluated the new rows
    TxLog.append(spark, dir,
      Seq((50L, "fifty", 5.0)).toDF("id", "v", "amount"))
    val src = Seq((1L, "ONE", 1.0)).toDF("id", "v", "amount")
    val e = intercept[TxLog.ConcurrentWriteException] {
      TxLog.mergeClausesAt(spark, dir, src, Seq("id"), Seq(
        WhenMatchedUpdate(None),
        WhenNotMatchedBySourceDelete(Some("t.id >= 9"))), read)
    }
    assert(e.getMessage.contains("NOT MATCHED BY SOURCE"))
    // the same in-flight shape WITHOUT by-source clauses rebases fine
    TxLog.mergeClausesAt(spark, dir, src,
      Seq("id"), Seq(WhenMatchedUpdate(None)), read)
    assert(state(dir)(1L) === (("ONE", 1.0)))
    assert(state(dir)(50L) === (("fifty", 5.0)))
  }

  test("SQL MERGE with NOT MATCHED BY SOURCE routes and mirrors") {
    import spark.implicits._
    val root = graft.Scratch.dir("graft-sqlbysrc").toString
    val cat = "mb" + java.lang.Integer.toHexString(root.hashCode).takeRight(7)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.TxCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val dir = s"$root/t"
    seed(dir)
    Seq((3L, "THREE", 1.0), (20L, "NEW", 3.0)).toDF("id", "v", "amount")
      .createOrReplaceTempView("mirror_src")
    spark.sql(
      s"""MERGE INTO $cat.t t USING mirror_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND t.amount >= 80 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'stale'
         |""".stripMargin)
    val got = state(dir)
    assert(got(3L) === (("THREE", 1.0)))
    assert(got(20L) === (("NEW", 3.0)))
    assert(!got.contains(8L) && !got.contains(9L)) // amount 80,90 deleted
    assert(got(0L)._1 === "stale" && got(7L)._1 === "stale")
    assert(got.size === 9) // 10 - 2 deleted + 1 inserted
  }

  test("mergeClausesBatch: a replayed (appId, batchId) skips — exactly-once CDC") {
    import spark.implicits._
    val dir = fresh("cdcbatch")
    seed(dir)
    val clauses = Seq(
      WhenMatchedDelete(Some("s.op = 'd'")),
      WhenMatchedUpdate(None, Map("v" -> "s.v", "amount" -> "s.amount")),
      WhenNotMatchedInsert(Some("s.op = 'c'")))
    val b0 = Seq((2L, "x", 0.0, "d"), (3L, "U3", 999.0, "u"))
      .toDF("id", "v", "amount", "op")
    assert(TxLog.mergeClausesBatch(spark, dir, b0, Seq("id"), clauses,
      "app186", 0L).nonEmpty)
    val after0 = state(dir)
    assert(!after0.contains(2L) && after0(3L) === (("U3", 999.0)))
    // the zombie twin replays the SAME batch: skipped, state unchanged
    assert(TxLog.mergeClausesBatch(spark, dir, b0, Seq("id"), clauses,
      "app186", 0L).isEmpty)
    assert(state(dir) === after0)
    // the next batch applies normally
    val b1 = Seq((20L, "NEW", 1.0, "c")).toDF("id", "v", "amount", "op")
    assert(TxLog.mergeClausesBatch(spark, dir, b1, Seq("id"), clauses,
      "app186", 1L).nonEmpty)
    assert(state(dir)(20L) === (("NEW", 1.0)))
  }

  // ---- composite keys ------------------------------------------------------

  /** (k1, k2, v) with k1 in 0..1, k2 in 0..4. */
  private def seedComposite(dir: String): Unit = {
    import spark.implicits._
    TxLog.append(spark, dir,
      (for { a <- 0 to 1; b <- 0 to 4 } yield (a.toLong, b.toLong, s"v$a$b"))
        .toDF("k1", "k2", "v"))
  }

  private def stateC(dir: String): Map[(Long, Long), String] =
    TxLog.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap

  test("composite-key upsert: tuple matching, not per-column") {
    import spark.implicits._
    val dir = fresh("composite")
    seedComposite(dir)
    // (0,3) exists -> update; (9,3) has k2 present but not the tuple -> insert
    val src = Seq((0L, 3L, "UPD"), (9L, 3L, "INS")).toDF("k1", "k2", "v")
    TxLog.merge(spark, dir, src, Seq("k1", "k2"))
    val got = stateC(dir)
    assert(got((0L, 3L)) === "UPD")
    assert(got((9L, 3L)) === "INS")
    assert(got((1L, 3L)) === "v13") // untouched: k2 alone never matches
    assert(got.size === 11)
  }

  test("single-key and composite-key upserts agree, duplicate target keys included") {
    import spark.implicits._
    // (id, k2 = 0, v): the tuple (id, k2) matches exactly where id does;
    // id 1 is held by TWO live rows, each gets its own post-image
    def run(name: String, upsert: (String, org.apache.spark.sql.DataFrame) => Long) = {
      val dir = fresh(name)
      TxLog.append(spark, dir, Seq((1L, 0L, "a"), (1L, 0L, "b"), (2L, 0L, "c"))
        .toDF("id", "k2", "v").coalesce(1))
      TxLog.append(spark, dir, Seq((3L, 0L, "d")).toDF("id", "k2", "v"))
      TxLog.setProperties(dir, Map(TxLog.Cdf.Enabled -> "true"))
      val from = TxLog.latestVersion(dir)
      val v = upsert(dir, Seq((1L, 0L, "U"), (3L, 0L, "W"), (7L, 0L, "N"))
        .toDF("id", "k2", "v"))
      val state = TxLog.read(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(2))).toSeq.sorted
      val metrics = TxLog.history(spark, dir).where(s"version = $v")
        .select(explode(col("metrics"))).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val feed = TxLog.readChangeFeed(spark, dir, from)
        .select("id", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
      (state, metrics, feed)
    }
    val single = run("upsert1", (d, src) => TxLog.merge(spark, d, src, "id"))
    val composite = run("upsert2", (d, src) => TxLog.merge(spark, d, src, Seq("id", "k2")))
    assert(single._1 === Seq((1L, "U"), (1L, "U"), (2L, "c"), (3L, "W"), (7L, "N")))
    assert(composite._1 === single._1)
    assert(single._2.keySet === Set("rows_matched", "rows_inserted",
      "files_live", "files_scanned", "files_touched"))
    assert(composite._2.keySet === single._2.keySet)
    assert(single._2("rows_matched") === 3L && single._2("rows_inserted") === 1L)
    assert(composite._2 === single._2)
    // the star upsert writes no change files: its new rows are inserts
    assert(single._3 === Seq((1L, "U", "insert"), (1L, "U", "insert"),
      (3L, "W", "insert"), (7L, "N", "insert")))
    assert(composite._3 === single._3)
  }

  test("composite keys: tuple duplicates refused, per-column repeats fine") {
    import spark.implicits._
    val dir = fresh("compdup")
    seedComposite(dir)
    // same k1 twice with different k2 is VALID (distinct tuples)
    val ok = Seq((0L, 0L, "a"), (0L, 1L, "b")).toDF("k1", "k2", "v")
    TxLog.merge(spark, dir, ok, Seq("k1", "k2"))
    assert(stateC(dir)((0L, 0L)) === "a")
    val dup = Seq((0L, 0L, "x"), (0L, 0L, "y")).toDF("k1", "k2", "v")
    intercept[IllegalArgumentException] {
      TxLog.merge(spark, dir, dup, Seq("k1", "k2"))
    }
    val withNull = Seq((Some(0L), 0L, "x"), (None, 1L, "y"))
      .toDF("k1", "k2", "v")
    intercept[IllegalArgumentException] {
      TxLog.merge(spark, dir, withNull, Seq("k1", "k2"))
    }
  }

  test("composite-key discovery conjoins per-column bounds") {
    import spark.implicits._
    val dir = fresh("compscan")
    // 4 files banded by k1 (0..3), each with k2 0..99
    (0 until 4).foreach(b => TxLog.append(spark, dir,
      (0 until 100).map(i => (b.toLong, i.toLong, s"v$b$i"))
        .toDF("k1", "k2", "v").coalesce(1)))
    val src = Seq((2L, 5L, "U")).toDF("k1", "k2", "v")
    TxLog.merge(spark, dir, src, Seq("k1", "k2"))
    val m = TxLog.history(spark, dir).where("op = 'merge'")
      .select(explode(col("metrics"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("files_live") === 4L)
    assert(m("files_scanned") === 1L) // k1 bound prunes 3 of 4
    assert(stateC(dir)((2L, 5L)) === "U")
  }

  test("SQL MERGE with a composite ON routes through mergeClauses") {
    import spark.implicits._
    val root = graft.Scratch.dir("graft-sqlcomposite").toString
    val cat = "ck" + java.lang.Integer.toHexString(root.hashCode).takeRight(7)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.TxCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val dir = s"$root/t"
    seedComposite(dir)
    Seq((1L, 2L, "UPD"), (5L, 5L, "INS")).toDF("k1", "k2", "v")
      .createOrReplaceTempView("comp_src")
    spark.sql(
      s"""MERGE INTO $cat.t t USING comp_src s
         |ON t.k1 = s.k1 AND t.k2 = s.k2
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |""".stripMargin)
    val got = stateC(dir)
    assert(got((1L, 2L)) === "UPD")
    assert(got((5L, 5L)) === "INS")
    assert(got.size === 11)
    // a non-equality ON is refused loudly
    val e = intercept[UnsupportedOperationException] {
      spark.sql(s"MERGE INTO $cat.t t USING comp_src s ON t.k1 > s.k1 " +
        "WHEN MATCHED THEN DELETE")
    }
    assert(e.getMessage.contains("conjunction of equalities"))
  }

  test("propsTransform rider: accumulator delta lands IN the merge commit") {
    import spark.implicits._
    val dir = fresh("rider")
    seed(dir)
    def counterRider(n: Long): Map[String, String] => Map[String, String] =
      props => Map("graft.test.counter" ->
        (props.get("graft.test.counter").map(_.toLong).getOrElse(0L) + n).toString)
    val v0 = TxLog.latestVersion(dir)
    TxLog.mergeClauses(spark, dir,
      Seq((3L, "A", 1.0)).toDF("id", "v", "amount"), Seq("id"),
      Seq(WhenMatchedUpdate(None, Map("v" -> "s.v", "amount" -> "s.amount"))),
      Some(counterRider(5L)))
    // ONE commit carries the data and the property delta — no separate
    // setProperties version, no crash window between them
    assert(TxLog.latestVersion(dir) === v0 + 1)
    assert(TxLog.snapshot(dir).props("graft.test.counter") === "5")
    assert(state(dir)(3L) === (("A", 1.0)))
    // a second window COMPOSES: the rider re-derives from the read
    // snapshot's props (CAS-style — a concurrent property change would
    // abort the rebase rather than be overwritten)
    TxLog.mergeClauses(spark, dir,
      Seq((4L, "B", 2.0)).toDF("id", "v", "amount"), Seq("id"),
      Seq(WhenMatchedUpdate(None, Map("v" -> "s.v", "amount" -> "s.amount"))),
      Some(counterRider(7L)))
    assert(TxLog.snapshot(dir).props("graft.test.counter") === "12")
  }

  test("propsTransform rider refuses a delta that would imply a writer feature") {
    import spark.implicits._
    val dir = fresh("riderfeat")
    seed(dir)
    val e = intercept[IllegalArgumentException] {
      TxLog.mergeClauses(spark, dir,
        Seq((3L, "A", 1.0)).toDF("id", "v", "amount"), Seq("id"),
        Seq(WhenMatchedUpdate(None, Map("v" -> "s.v", "amount" -> "s.amount"))),
        Some(_ => Map(TxLog.DeletionVectors.Enabled -> "true")))
    }
    assert(e.getMessage.contains("setProperties"))
    // the refused merge left nothing behind: no data change, no props
    assert(state(dir)(3L) === (("v3", 30.0)))
    assert(!TxLog.snapshot(dir).props.contains(TxLog.DeletionVectors.Enabled))
  }

  test("key columns named like the key census' internal columns merge correctly") {
    import spark.implicits._
    // single key literally named `__c`, then a composite key whose
    // second column is `__canon___c`: both were once census column names
    val dir = fresh("census-names")
    TxLog.append(spark, dir, (0 until 10).map(i => (i.toLong, s"v$i")).toDF("__c", "v"))
    TxLog.merge(spark, dir, Seq((3L, "U3"), (42L, "N42")).toDF("__c", "v"), "__c")
    val byKey = TxLog.read(spark, dir).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byKey.size === 11 && byKey(3L) === "U3" && byKey(42L) === "N42" && byKey(4L) === "v4")

    val dir2 = fresh("census-names2")
    TxLog.append(spark, dir2,
      (0 until 6).map(i => (i.toLong, i % 2, s"v$i")).toDF("__c", "__canon___c", "v"))
    TxLog.merge(spark, dir2, Seq((1L, 1, "U1"), (7L, 0, "N7")).toDF("__c", "__canon___c", "v"),
      Seq("__c", "__canon___c"))
    val rows = TxLog.read(spark, dir2).collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(rows.size === 7 && rows((1L, 1)) === "U1" && rows((7L, 0)) === "N7")
  }
}
