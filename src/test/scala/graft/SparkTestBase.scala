package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Spark session startup
  * dominates test wall-clock otherwise). */
trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Jobs submitted while `body` runs (listener-bus drained before the
    * count is read, so late async submissions are included). The bus is
    * ALSO drained before the listener attaches: an event posted by an
    * earlier suite but still queued is dispatched to whatever listeners
    * are registered at delivery time, so without the pre-drain a
    * neighboring suite's stray job start bleeds +1 into this count —
    * seen once as a full-suite-only 82-vs-81 flake. */
  protected def countJobs(body: => Unit): Int = {
    org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        graft.Scratch.dir("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
