package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def writeFile(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, text.getBytes(UTF_8))
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; 0 for an empty sample. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}

object Host {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** CPU time of the whole process (all threads: tasks, GC, JIT), seconds. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Wait (at most 5 s) until the JIT compiler has been idle for `idleMs`,
    * so compilation queued by earlier work does not compete with the next
    * timed operation for the cores. Without it, run-to-run spread of the
    * timed operations was 15-25%; with it, 2-5%. */
  def awaitJitIdle(idleMs: Long = 300L): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + 5000000000L
    var last = jitS()
    var idleSince = t0
    while (System.nanoTime() - idleSince < idleMs * 1000000L && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = jitS()
      if (now != last) { last = now; idleSince = System.nanoTime() }
    }
    (System.nanoTime() - t0) / 1e9
  }

  def gcS(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteRecursively(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  def session(cores: Int, workDir: String): SparkSession = {
    // the engine's own session; Spark's scratch files stay in the work directory
    val s = graft.Sessions.builder("perfbench", cores)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** The independent fold of a change log: dedup by lsn, last-writer-wins
  * by lsn per (repo, path), deletes remove the key. It reads the same JSON
  * files the engine reads and shares no code with the engine's merge.
  *
  * The final state is summarised by an order-independent digest: the live
  * key count and the wrapping sum of one 64-bit hash per live row over
  * (repo, path, sha256(content)). */
final class Fold {
  /** (repo, path) -> (lsn, content; null for a delete). Content is hashed
    * only when a digest or a lookup needs it. */
  val state = mutable.HashMap.empty[(String, String), (Long, String)]
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parse every JSON-lines part file under `dir`: (lsn, op, repo, path, content). */
  private def readLog(dir: String): Seq[(Long, String, String, String, String)] = {
    val s = Files.walk(Paths.get(dir))
    val files = try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.startsWith("part-") && n.endsWith(".json")
    }.toSeq finally s.close()
    files.flatMap { f =>
      Files.readAllLines(f, UTF_8).asScala.filter(_.nonEmpty).map { line =>
        val n = mapper.readTree(line)
        val content = Option(n.get("content")).filter(!_.isNull).map(_.asText).orNull
        (n.get("lsn").asLong, n.get("op").asText, n.get("repo").asText, n.get("path").asText, content)
      }
    }
  }

  /** Apply the events of `dir`; returns them. */
  def applyLog(dir: String): Seq[(Long, String, String, String, String)] = {
    val events = readLog(dir)
    val seen = mutable.HashSet.empty[Long]
    events.sortBy(_._1).foreach { case (lsn, op, repo, path, content) =>
      if (seen.add(lsn)) {
        val k = (repo, path)
        if (state.get(k).forall(_._1 < lsn))
          state(k) = (lsn, if (op == "D") null else content)
      }
    }
    events
  }

  def live: Iterator[((String, String), (Long, String))] = state.iterator.filter(_._2._2 != null)
  def liveCount: Long = state.valuesIterator.count(_._2 != null).toLong
  def digest: String =
    Fold.digestOf(live.map { case ((r, p), (_, content)) => (r, p, Fold.sha256Hex(content)) })
}

object Fold {
  def sha256(bytes: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)

  def sha256Hex(s: String): String =
    sha256(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString

  def rowHash(repo: String, path: String, sha: String): Long =
    java.nio.ByteBuffer.wrap(sha256(s"$repo\u0000$path\u0000$sha".getBytes(UTF_8))).getLong

  def digestOf(rows: Iterator[(String, String, String)]): String = {
    var n = 0L
    var sum = 0L
    rows.foreach { case (r, p, s) => n += 1; sum += rowHash(r, p, s) }
    f"$n:$sum%016x"
  }

  /** Digest of a lake table's visible state, with sha256(content)
    * computed by Spark over the rows the engine returns. */
  def digestOfTable(table: graft.lake.LakeTable): String = {
    import org.apache.spark.sql.functions.{col, sha2}
    val rows = table.read().select(col("repo"), col("path"), sha2(col("content"), 256)).collect()
    digestOf(rows.iterator.map(r => (r.getString(0), r.getString(1), r.getString(2))))
  }

  /** Shift a digest's sum by one: the self-check's perturbed expectation. */
  def perturb(d: String): String = {
    val Array(n, s) = d.split(":")
    f"$n:${java.lang.Long.parseUnsignedLong(s, 16) + 1}%016x"
  }
}

/** Wall-time budget of a measured window: another iteration starts while
  * fewer than `min` have run, or while one more as long as the last still
  * ends inside the budget. */
final class Window(seconds: Double, min: Int) {
  private val t0 = System.nanoTime()
  private var n = 0
  private var lastEnd = t0
  private var lastS = 0.0

  def more: Boolean = n < min || (System.nanoTime() - t0) / 1e9 + lastS <= seconds

  /** Run one iteration. */
  def apply[T](body: => T): T = {
    val r = body
    val now = System.nanoTime()
    lastS = (now - lastEnd) / 1e9
    lastEnd = now
    n += 1
    r
  }
}

object Timed {
  def apply[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Snapshot bookkeeping shared by the CDC workloads. */
object Snap {
  import graft.lake.{FileEntry, Snapshot}
  def files(s: Option[Snapshot]): Map[String, FileEntry] =
    s.map(_.allFiles.map(f => f.relPath -> f).toMap).getOrElse(Map.empty)
  def mb(fs: Iterable[FileEntry]): Double = fs.map(f => math.max(0L, f.nBytes)).sum / 1048576.0
  def liveRows(s: Option[Snapshot]): Long = s.map(_.allFiles.map(f => math.max(0L, f.nLive)).sum).getOrElse(0L)
  def tombstoneShare(s: Option[Snapshot]): Double = {
    val fs = s.map(_.allFiles).getOrElse(Nil)
    val keys = fs.map(f => math.max(0L, f.nKeys)).sum
    if (keys == 0L) 0.0 else fs.map(f => math.max(0L, f.nKeys - f.nLive)).sum.toDouble / keys
  }
}
