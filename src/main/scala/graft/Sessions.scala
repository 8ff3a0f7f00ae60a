package graft

import org.apache.spark.sql.SparkSession

/** The ONE master-detection + base-session builder for the driver-contract
  * mains (Verify / Bench / BenchCdc), the repository benchmark and the
  * test session. The cluster-passthrough contract —
  * honor an externally-provided master (spark-submit --master sets the
  * spark.master system property; some launchers export MASTER) so the
  * same mains run unchanged on a real cluster, defaulting to local[cpus]
  * in the sandbox — lived as three hand-copied snippets that had already
  * drifted (Verify used the raw env STRING as the core count and half the
  * shuffle partitions).
  *
  * Codegen cache: Spark keeps compiled whole-stage/expression classes in
  * one LRU cache per JVM, 100 entries by default. One pass over the 54
  * operator queries at sf0.01 generates ~800 distinct classes (the lake,
  * merge and DSv2 paths add a few dozen), so at the default every class
  * was evicted before the next run could reuse it and each query was
  * recompiled every time (~300 Janino compiles per 12-query pass).
  * [[CodegenCacheEntries]] holds that working set: a repeated pass
  * compiles ~8 classes instead of ~800. Each cached class costs about
  * 120–170 KB of resident memory, so a full cache is ~150 MB. The conf is
  * STATIC and the cache is JVM-global: whichever session generates code
  * first in a JVM fixes the size for every later session in it. */
object Sessions {
  /** `spark.sql.codegen.cache.maxEntries` for every engine session. */
  val CodegenCacheEntries = 1024

  def builder(appName: String, cpus: Int): SparkSession.Builder = {
    val b0 = SparkSession.builder()
    val b1 = if (sys.props.contains("spark.master") || sys.env.contains("MASTER")) b0
             else b0.master(s"local[$cpus]")
    b1.appName(appName)
      .config("spark.sql.shuffle.partitions", (2 * cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
  }
}
