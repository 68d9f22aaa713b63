package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.RunContext

/** Deterministic bronze-schema Pima rows for DAG-level specs, read back
  * from parquet as the streaming ingest's sink is. Zero rates fire every
  * silver imputation; the bad rows are known by construction. */
object PimaFixture {

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
