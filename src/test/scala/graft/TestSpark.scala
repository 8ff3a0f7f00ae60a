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

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
