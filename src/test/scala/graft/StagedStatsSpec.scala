package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxLog
import graft.sources.TxLog.AddFile

/** Staging writes collect each file's [[AddFile]] stats INSIDE the write.
  * The oracle is the re-read path, `collectAdds` — the pass the staging
  * write no longer makes: for every staged write here the in-write list
  * must equal, file by file, what re-reading the same files yields
  * (path, rows, bytes and every column's stats string). */
class StagedStatsSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(): String = graft.Scratch.dir("graft-staged-stats").toString + "/t"

  private def frame(schema: StructType, rows: Seq[Row], parts: Int = 3): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  /** The in-write AddFiles of the staging directory `sub` equal the
    * re-read oracle over the same files. */
  private def assertOracle(dir: String, sub: String, got: Seq[AddFile],
      schema: StructType): Unit = {
    val want = TxLog.collectAdds(spark, dir, sub, schema)
    assert(got.map(_.path).sorted === want.map(_.path).sorted)
    val byPath = want.map(a => a.path -> a).toMap
    got.foreach { a =>
      val w = byPath(a.path)
      assert((a.rows, a.bytes) === ((w.rows, w.bytes)), a.path)
      assert(a.stats === w.stats, a.path)
    }
  }

  private def stageAndCheck(dir: String, df: DataFrame): Seq[AddFile] = {
    val (sub, adds) = TxLog.stage(spark, dir, df)
    assertOracle(dir, sub, adds, df.schema)
    adds
  }

  private val allTypes = StructType(Seq(
    StructField("b", ByteType), StructField("sh", ShortType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("dec", DecimalType(10, 2)), StructField("wide", DecimalType(38, 18)),
    StructField("s", StringType), StructField("dt", DateType),
    StructField("ts", TimestampType),
    // no stats for these: the tracker must skip them
    StructField("flag", BooleanType), StructField("bin", BinaryType),
    StructField("arr", ArrayType(IntegerType))))

  private def typedRow(k: Int): Row = if (k % 7 == 0)
    Row(Seq.fill(allTypes.length)(null): _*)
  else Row((k % 100 - 50).toByte, (k * 37 % 3000 - 1500).toShort, k * 7919 % 100003 - 50000,
    k.toLong * 1000003L - 99999999L, (k % 13 - 6) / 3.0f, (k % 29 - 14) * 1.25e-3,
    new java.math.BigDecimal(s"${k % 997 - 400}.${k % 100}"),
    new java.math.BigDecimal(s"${k * 31}.${"%018d".format(k.toLong * 7)}"),
    s"v${(k * 7919) % 1000}-${"x" * (k % 5)}", Date.valueOf(s"20${10 + k % 15}-0${1 + k % 9}-1${k % 9}"),
    new Timestamp(1500000000000L + k * 3600123L), k % 2 == 0, Array[Byte](k.toByte), Seq(k))

  test("every stats type, nulls and unsupported columns: in-write stats equal the re-read") {
    val adds = stageAndCheck(tmp(), frame(allTypes, (1 to 400).map(typedRow)))
    assert(adds.size === 3 && adds.map(_.rows).sum === 400L)
    assert(adds.head.stats.keySet === Set("b", "sh", "i", "l", "f", "d", "dec", "wide", "s", "dt", "ts"))
  }

  test("string bounds set early survive thousands of later rows in one file") {
    // min and max land in the first rows; every later row is written
    // through the same reused row buffer
    val df = spark.range(0, 5000, 1, 1).select(col("id"),
      when(col("id") === 0, lit("!first")).when(col("id") === 1, lit("~last"))
        .otherwise(concat(lit("m"), sha2(col("id").cast("string"), 256).substr(lit(1), (col("id") % 40 + 1).cast("int"))))
        .as("s"))
    val adds = stageAndCheck(tmp(), df)
    assert(adds.map(a => (a.stats("s").min, a.stats("s").max)) === Seq((Some("!first"), Some("~last"))))
  }

  test("NaN, -0.0/0.0 and all-null float columns") {
    val schema = StructType(Seq(StructField("d", DoubleType), StructField("f", FloatType),
      StructField("z", DoubleType), StructField("nul", DoubleType), StructField("k", IntegerType)))
    val rows = Seq(
      Row(0.0, -0.0f, -0.0, null, 1), Row(-0.0, 0.0f, 0.0, null, 2),
      Row(Double.NaN, Float.NaN, -0.0, null, 3), Row(1.5, -1.5f, 0.0, null, 4),
      Row(Double.NegativeInfinity, Float.PositiveInfinity, -0.0, null, 5),
      // a file of only NaN / only signed zeros
      Row(Double.NaN, Float.NaN, 0.0, null, 6), Row(Double.NaN, -0.0f, -0.0, null, 7))
    stageAndCheck(tmp(), frame(schema, rows.take(5), 1).unionAll(frame(schema, rows.drop(5), 1)))
  }

  test("supplementary-plane strings under the string truncation policy") {
    val dir = tmp()
    val schema = StructType(Seq(StructField("s", StringType), StructField("t", StringType)))
    TxLog.create(dir, schema)
    TxLog.setProperties(dir, Map(TxLog.Stats.MaxStringLen -> "3"))
    val words = Seq("😀😀abc", "𝔘zz", "ab😀",
      "abc", "abd", "￿￿q", "😀", "zzzz", "")
    val rows = words.flatMap(w => Seq(Row(w, w.reverse), Row(w + "tail", null)))
    val adds = stageAndCheck(dir, frame(schema, rows, 2))
    assert(adds.exists(_.stats("s").max.exists(_.length <= 4)))
  }

  test("collated string column: no stats, other columns unaffected") {
    val df = spark.range(0, 50).select(col("id"),
      concat(lit("Tag"), (col("id") % 5).cast("string")).cast("string collate UNICODE_CI").as("tag"),
      concat(lit("p"), col("id").cast("string")).as("plain"))
    val adds = stageAndCheck(tmp(), df.repartition(2))
    assert(adds.forall(a => !a.stats.contains("tag") && a.stats.contains("plain")))
  }

  test("timestamps and dates under a non-UTC session time zone") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      Seq("America/Los_Angeles", "Asia/Kolkata").foreach { tz =>
        spark.conf.set("spark.sql.session.timeZone", tz)
        val schema = StructType(Seq(StructField("ts", TimestampType),
          StructField("ntz", TimestampNTZType), StructField("dt", DateType)))
        val rows = (0 until 40).map(k => Row(new Timestamp(1700000000123L + k * 7777777L),
          java.time.LocalDateTime.of(2024, 3, 10, k % 24, 30), Date.valueOf(s"2024-03-${10 + k % 9}")))
        val adds = stageAndCheck(tmp(), frame(schema, rows, 2))
        assert(adds.head.stats.keySet === Set("ts", "dt"))
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("decimals: precision, scale and negative values render as the re-read does") {
    val df = spark.range(-60, 60).select(col("id"),
      (col("id") / 7).cast(DecimalType(9, 4)).as("d94"),
      (col("id") * 1000003).cast(DecimalType(20, 0)).as("d200"),
      (col("id") / 31).cast(DecimalType(38, 37)).as("d3837"))
    stageAndCheck(tmp(), df.repartition(3))
  }

  test("empty DataFrame: one zero-row file with empty bounds") {
    val adds = stageAndCheck(tmp(), frame(allTypes, Nil, 1))
    assert(adds.map(_.rows) === Seq(0L))
    assert(adds.head.stats.values.forall(cs => cs.min.isEmpty && cs.max.isEmpty && cs.nulls == 0L))
  }

  test("empty tasks beside full ones: their zero-row files match too") {
    val df = spark.range(0, 5).repartition(4, col("id")).filter(col("id") > 2).toDF()
    stageAndCheck(tmp(), df)
  }

  test("a frame repeating a column name is refused, as df.write refuses it") {
    intercept[IllegalArgumentException](
      TxLog.stage(spark, tmp(), spark.range(3).select(col("id"), col("id").as("ID"))))
  }

  test("columns keep the frame's logical nullability, as df.write writes them") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.Type.Repetition
    val dir = tmp()
    val df = spark.range(0, 20).select(col("id"), when(col("id") > 3, col("id")).as("x"))
      .filter("x IS NOT NULL")
    val (_, adds) = TxLog.stage(spark, dir, df)
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(s"$dir/${adds.head.path}"),
      spark.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(in)
    val schema = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    assert(schema.getType(schema.getFieldIndex("id")).getRepetition === Repetition.REQUIRED)
    assert(schema.getType(schema.getFieldIndex("x")).getRepetition === Repetition.OPTIONAL)
  }

  test("partitioned staging: per-file stats match and pv derives from them") {
    val dir = tmp()
    val vals = Seq("a/b", "x y", "50%", "k:v", "a=b", "plain")
    val df = spark.range(0, 120).select(col("id"),
      element_at(array(vals.map(lit): _*), (col("id") % vals.size + 1).cast("int")).as("p"),
      ((col("id") / 6).cast("long") % 3).as("q"))
    val (sub, adds) = TxLog.stagePartitioned(spark, dir, df, Seq("p", "q"))
    assertOracle(dir, sub, adds, df.schema)
    assert(adds.size === vals.size * 3)
    adds.foreach { a =>
      assert(a.pv === Map("p" -> a.stats("p").min.get, "q" -> a.stats("q").min.get))
    }
    assert(adds.map(_.pv("p")).toSet === vals.toSet)
  }

  test("partitioned table append: committed stats and pv equal the re-read") {
    val dir = tmp()
    import spark.implicits._
    val df = (0 until 90).map(i => (i.toLong, s"r${i % 4}", i * 1.5)).toDF("id", "region", "x")
    TxLog.create(dir, df.schema, partitionBy = Seq("region"))
    TxLog.append(spark, dir, df)
    val files = TxLog.snapshot(dir).files
    val subs = files.map(_.path.takeWhile(_ != '/')).distinct
    assert(subs.size === 1)
    assertOracle(dir, subs.head, files, df.schema)
    assert(files.map(_.pv("region")).toSet === Set("r0", "r1", "r2", "r3"))
  }

  test("column-mapped table: stats keyed by physical names match the re-read") {
    val dir = tmp()
    import spark.implicits._
    TxLog.append(spark, dir, (0 until 10).map(i => (i.toLong, s"v$i", i * 10)).toDF("id", "s", "score"))
    TxLog.renameColumn(dir, "score", "points")
    TxLog.setProperties(dir, Map(TxLog.Stats.Columns -> "id,points"))
    val before = TxLog.snapshot(dir).files.map(_.path).toSet
    TxLog.append(spark, dir, (20 until 45).map(i => (i.toLong, s"w$i", -i)).toDF("id", "s", "points"))
    val added = TxLog.snapshot(dir).files.filterNot(f => before.contains(f.path))
    val physical = StructType(Seq(StructField("id", LongType), StructField("s", StringType),
      StructField("score", IntegerType)))
    val subs = added.map(_.path.takeWhile(_ != '/')).distinct
    assert(subs.size === 1)
    assertOracle(dir, subs.head, added, physical)
    assert(added.forall(_.stats.keySet === Set("id", "score")))
    assert(added.map(_.stats("score").min.get.toInt).min === -44)
  }

  test("MERGE and UPDATE stage through the in-write path too") {
    val dir = tmp()
    import spark.implicits._
    TxLog.append(spark, dir, (0 until 60).map(i => (i.toLong, s"v$i")).toDF("id", "s").repartition(3))
    TxLog.merge(spark, dir, (50 until 70).map(i => (i.toLong, s"m$i")).toDF("id", "s"), "id")
    TxLog.update(spark, dir, "id < 5", Map("s" -> "'u'"))
    val snap = TxLog.snapshot(dir)
    assert(snap.files.map(_.rows).sum === 70L)
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    snap.files.groupBy(_.path.takeWhile(_ != '/')).foreach { case (sub, live) =>
      val want = TxLog.collectAdds(spark, dir, sub, schema).map(a => a.path -> a).toMap
      live.filter(_.dv.isEmpty).foreach { a =>
        assert((a.rows, a.stats) === ((want(a.path).rows, want(a.path).stats)), a.path)
      }
    }
  }
}
