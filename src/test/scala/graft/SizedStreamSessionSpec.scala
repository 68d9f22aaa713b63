package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** The per-run stream session's size probe: recursive over nested input
  * directories, the parent's partition count when the probe finds no
  * bytes, and the parent's runtime settings carried into the child. */
class SizedStreamSessionSpec extends AnyFunSuite with SparkTestBase {

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("nested input directories are sized recursively; empty input keeps the parent") {
    val root = graft.Scratch.dir("graft-sized-stream")
    val nested = Files.createDirectories(root.resolve("in/day=1/hour=2"))
    Files.write(root.resolve("in/top.bin"), new Array[Byte](1000))
    Files.write(nested.resolve("a.bin"), new Array[Byte](1500))
    Files.write(root.resolve("in/day=1/b.bin"), new Array[Byte](600))
    val empty = Files.createDirectories(root.resolve("empty/sub"))
    // a directory holding only a symlink, as the events stream reads
    Files.write(root.resolve("target.bin"), new Array[Byte](2100))
    Files.createSymbolicLink(Files.createDirectories(root.resolve("linked")).resolve("t.bin"),
      root.resolve("target.bin"))
    withConf("spark.sql.shuffle.partitions" -> "8",
        "spark.sql.files.maxPartitionBytes" -> "1024",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val ss = StreamingOps.sizedStreamSession(spark, Seq(root.resolve("in").toString))
      // 3100 bytes over 1 KiB partitions: 4, under the parent's 8
      assert(ss.conf.get("spark.sql.shuffle.partitions") === "4")
      assert(ss.conf.get("spark.sql.files.maxPartitionBytes") === "1024")
      assert(ss.conf.get("spark.sql.adaptive.coalescePartitions.enabled") === "false")
      val none = StreamingOps.sizedStreamSession(spark,
        Seq(empty.toString, root.resolve("missing").toString))
      assert(none.conf.get("spark.sql.shuffle.partitions") === "8")
      val linked = StreamingOps.sizedStreamSession(spark, Seq(root.resolve("linked").toString))
      assert(linked.conf.get("spark.sql.shuffle.partitions") === "3")
    }
  }
}
