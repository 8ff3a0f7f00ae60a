package graft.tools

import graft.lake.{CommitSummary, FileEntry, InlineFiles, LakeTable, Maintenance, Snapshot}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Driver-footprint probe for full-table maintenance metadata at HIGH file
  * counts (VERDICT r3 §missing-2): synthesizes a 65k-bucket split-manifest
  * table — fabricated entries, no data files; reachability never opens
  * data — runs `expireSnapshots` + `vacuum`, and reports wall time, heap
  * before/after (post-GC), and the distinct-manifest load count. Numbers
  * land in BASELINE.md.
  */
object MaintenanceProbe {
  private def usedHeap(): Long = {
    System.gc(); Thread.sleep(200); System.gc()
    Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
  }

  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("graft-maint-probe")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val buckets = sys.env.getOrElse("PROBE_BUCKETS", "65536").toInt
    val commits = sys.env.getOrElse("PROBE_COMMITS", "20").toInt
    val stride = sys.env.getOrElse("PROBE_STRIDE", "509").toInt // 509: coprime with 64 groups -> every commit rewrites all groups (worst case); 512: narrow touch, one group per commit (steady-state shape)
    val work = "/dev/shm/graft-maint-probe"
    graft.BenchCdc.rm(work)
    val table = new LakeTable(spark, s"$work/table")
    val schema = StructType(Seq(StructField("lsn", LongType),
      StructField("repo", StringType), StructField("path", StringType)))

    def entry(b: Int, v: Long, i: Int): FileEntry = FileEntry(
      bucket = b,
      relPath = f"data/v$v-deadbeef/b=$b/part-$i%05d-01234567-89ab-cdef-0123-456789abcdef.c000.zstd.parquet",
      minLsn = v * 1000000, maxLsn = v * 1000000 + 999999,
      nKeys = 100000, nBytes = 128L << 20, nLive = 99000,
      minRepo = f"org-$b%05d/repo-aaa", maxRepo = f"org-$b%05d/repo-zzz",
      minPath = "a/a.txt", maxPath = "z/z.txt")

    // v0: one 128 MB file per bucket (the compacted steady state)
    val t0 = System.nanoTime()
    table.commitSnapshot(Snapshot(0L, 0, schema, buckets, Set(0L),
      InlineFiles((0 until buckets).map(b => entry(b, 0, 0)))), CommitSummary("merge", Some(0L)))
    // then `commits` incremental epochs, each touching 64 buckets with 2
    // salt files — the streaming-merge shape
    (1 to commits).foreach { c =>
      val snap = table.currentSnapshot().get
      val touched = (0 until 64).map(i => (c * 131 + i * stride) % buckets).toSet
      val newFiles = touched.toSeq.flatMap(b =>
        Seq(entry(b, c.toLong, 0), entry(b, c.toLong, 1)))
      table.commitSnapshot(Snapshot(c.toLong, 0, schema, buckets,
        snap.epochs + c.toLong,
        table.successorFiles(snap, touched, newFiles)), CommitSummary("merge", Some(c.toLong)))
    }
    val buildSecs = (System.nanoTime() - t0) / 1e9
    val nFiles = table.currentSnapshot().get.allFiles.size
    println(f"PROBE build buckets=$buckets versions=${commits + 1} files=$nFiles secs=$buildSecs%.1f")

    def timed(tag: String)(f: => Seq[String]): Unit = {
      val h0 = usedHeap()
      table.manifestLoads.set(0L)
      val s0 = System.nanoTime()
      val removed = f
      val secs = (System.nanoTime() - s0) / 1e9
      val h1 = usedHeap()
      println(f"PROBE $tag removed=${removed.size} secs=$secs%.2f " +
        f"manifestLoads=${table.manifestLoads.get} heapBeforeMB=${h0 / 1048576} heapAfterMB=${h1 / 1048576}")
    }
    timed("expireSnapshots")(Maintenance.expireSnapshots(table, keepLast = 2, olderThanMs = 0L))
    timed("vacuum")(Maintenance.vacuum(table, retentionMs = 0L))
    spark.stop()
  }
}
