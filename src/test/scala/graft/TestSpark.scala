package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run: the engine's own
  * session recipe ([[Sessions.builder]], so specs run with the engine's
  * codegen cache size), pinned to 4 cores and 4 shuffle partitions. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("graft-test", 4)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `f` with the shared session at `n` shuffle partitions. The
    * merge splits a bucket only when it holds more than one reduce task's
    * share of an epoch, so a fixture that needs several files per bucket
    * (work for a compaction) builds its table at more partitions than it
    * has buckets. */
  def withShufflePartitions[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, before)
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
