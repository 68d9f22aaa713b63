package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{DiabetesPipeline, PimaCorpus, RunContext}

/** Deterministic Pima inputs for DAG-level specs: bronze-schema rows read
  * back from parquet as the streaming ingest's sink is (zero rates fire
  * every silver imputation; the bad rows are known by construction), and
  * a CSV corpus in the reference's shard layout. */
object PimaFixture {

  /** Shards and data rows per shard of the reference corpus (FIXTURES.md §A). */
  private val Shards = 6
  private val RowsPerShard = 128

  /** A directory of `diabetes_part_{1..6}.csv`, 128 data rows each: the
    * reference's own corpus (`DiabetesPipeline.defaultDataDir`) where it
    * exists, else [[PimaCorpus]] shards at seed 7 written once per JVM
    * under [[Scratch]]. For specs whose assertions hold on any corpus of
    * that shape; golden literals of the real file stay with the
    * reference path. Checked once: every shard has 128 rows, each of the
    * five zero-coded measures has a zero (so silver imputes) and both
    * Outcome classes occur. */
  lazy val csvDir: String = {
    val ref = Paths.get(DiabetesPipeline.defaultDataDir)
    val dir =
      if (Files.isDirectory(ref)) ref
      else {
        val d = Scratch.dir("graft-pima-csv")
        PimaCorpus.write(d, seed = 7L, Shards, RowsPerShard)
        d
      }
    val rows = (1 to Shards).flatMap { n =>
      val body = Files.readAllLines(dir.resolve(s"diabetes_part_$n.csv")).asScala
        .drop(1).filter(_.trim.nonEmpty)
      require(body.size == RowsPerShard, s"$dir/diabetes_part_$n.csv: ${body.size} rows, want $RowsPerShard")
      body.map(_.split(",").map(_.trim))
    }
    Seq("Glucose" -> 1, "BloodPressure" -> 2, "SkinThickness" -> 3, "Insulin" -> 4, "BMI" -> 5)
      .foreach { case (c, i) => require(rows.exists(_(i).toDoubleOption.contains(0.0)), s"$dir: no zero $c") }
    require(rows.map(_(8)).toSet == Set("0", "1"), s"$dir: Outcome lacks a class")
    dir.toString
  }

  /** Rows whose Age is 0: silver's `valid_age` warn fails on them. */
  def badAge(id: Long): Boolean = id % 9 == 0

  /** Rows with a NULL `file_name`: bronze's `valid_file` drop fails. */
  def badFile(id: Long): Boolean = id % 13 == 5

  /** `n` rows in `files` parquet files (one by default). */
  def bronze(spark: SparkSession, n: Int, files: Int = 1): DataFrame = {
    val rc = RunContext.golden
    val id = col("id")
    val dir = Scratch.dir("graft-pima").toString + "/bronze"
    spark.range(0, n, 1, files).select(
      (id % 11).cast("int").as("Pregnancies"),
      when(id % 13 === 0, 0).otherwise(id * 37 % 140 + 60).cast("int").as("Glucose"),
      when(id % 17 === 0, 0).otherwise(id * 11 % 70 + 40).cast("int").as("BloodPressure"),
      when(id % 4 === 0, 0).otherwise(id * 5 % 50 + 7).cast("int").as("SkinThickness"),
      when(id % 3 === 0, 0).otherwise(id * 29 % 500 + 14).cast("int").as("Insulin"),
      when(id % 29 === 0, 0.0).otherwise(id * 53 % 300 / 10.0 + 16.0).as("BMI"),
      (id * 7 % 200 / 100.0 + 0.078).as("DiabetesPedigreeFunction"),
      when(id % 9 === 0, 0).otherwise(id * 3 % 60 + 21).cast("int").as("Age"),
      when(id * 7 % 5 < 2, 1).otherwise(0).as("Outcome"),
      rc.now.as("ingestion_timestamp"),
      lit("file:/landing/pima_0.csv").as("source_file"),
      rc.today.as("ingestion_date"),
      when(id % 13 === 5, lit(null).cast("string")).otherwise(lit("pima_0")).as("file_name"))
      .write.parquet(dir)
    spark.read.parquet(dir)
  }
}
