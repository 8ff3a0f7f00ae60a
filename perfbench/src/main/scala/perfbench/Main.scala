package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one benchmark run measured and checked. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  Layers.all.foreach(m => layer(m.name) = 0.0)

  /** Count one checked operation; a false `ok` counts as failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (errors.size < 20) errors += what
    }
  }

  def toJson(selfS: Map[String, Double]): String = Json.obj(Seq(
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
    "e2e" -> Json.obj(e2e.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
    "layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
    "self_s" -> Json.obj(selfS.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
    "info" -> Json.obj(info)))
}

/** Everything a workload needs: the session, the tracer, its own work
  * directory under the checkout, and the run's parameters. */
final class Ctx(var spark: SparkSession, val tracer: Tracer, val work: String,
                val seed: Long, val seconds: Double, val toy: Boolean,
                val cores: Int, val perturb: Boolean, val r: Result) {
  private var t0 = 0L
  private var gc0 = 0.0
  private var jit0 = 0.0
  private var compiles0 = 0L
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Start of the measured window: per-layer counters start here. */
  def beginWindow(): Unit = {
    jit0 = Host.jitS()
    compiles0 = compiles
    tracer.drain()
    tracer.listener.foreach(_.reset())
    gc0 = Host.gcS()
    t0 = System.nanoTime()
  }

  /** End of the measured window: turn the counters into the `spark.*` and
    * `jvm.*` layer metrics, per iteration of the workload's loop. */
  def endWindow(iterations: Int): Unit = {
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcS = Host.gcS() - gc0
    tracer.drain()
    val n = math.max(1, iterations).toDouble
    r.layer("spark.gc_s") = gcS / n
    r.layer("spark.codegen_compiles") = (compiles - compiles0) / n
    r.layer("jvm.jit_s") = (Host.jitS() - jit0) / n
    tracer.listener.foreach { l =>
      l.synchronized {
        val stages = l.stages.values.toSeq
        r.layer("spark.jobs") = l.jobs.size / n
        r.layer("spark.stages") = l.stagesCompleted / n
        r.layer("spark.tasks") = stages.map(_.tasks).sum / n
        r.layer("spark.shuffle_write_mb") = stages.map(_.shuffleWrite).sum / 1048576.0 / n
        r.layer("spark.shuffle_read_mb") = stages.map(_.shuffleRead).sum / 1048576.0 / n
        r.layer("spark.spill_mb") = stages.map(_.spill).sum / 1048576.0 / n
        r.layer("spark.cpu_busy") = stages.map(_.cpuNs).sum / 1e9 / (wallS * cores)
        // widest stages: those with the most tasks; skew = max / median task time
        val widest = if (stages.isEmpty) 0 else stages.map(_.tasks).max
        val skews = stages.filter(s => s.tasks == widest && s.tasks > 1).map { s =>
          val d = s.durationsMs.map(_.toDouble)
          val med = Stats.median(d)
          if (med <= 0) 1.0 else d.max / med
        }
        r.layer("spark.task_skew") = if (skews.isEmpty) 1.0 else Stats.median(skews)
      }
    }
  }
}

/** The JVM side of one benchmark run.
  *
  * {{{
  * perfbench.Main --workload backfill|incremental|query_suite --seed N
  *   --seconds S --trace 0|1 --work DIR --out FILE [--cores N]
  *   [--pin-cpu CPU (backfill)] [--data DIR (query_suite)] [--toy 1] [--perturb 1]
  * perfbench.Main --list-layer-metrics
  * }}}
  *
  * Writes one JSON object to `--out`; `run.py` assembles the run's result
  * from it. */
object Main {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    if (args.contains("--list-layer-metrics")) {
      Layers.all.foreach(m => println(s"${m.name}\t${m.unit}\t${m.better}"))
      return
    }
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val work = a("work")
    val r = new Result
    val ((spark, tracer), sessionS) = Timed {
      val s = Host.session(cores, work)
      (s, new Tracer(a.getOrElse("trace", "0") == "1", s.sparkContext))
    }
    val c = new Ctx(spark, tracer, work, a("seed").toLong, a("seconds").toDouble,
      a.getOrElse("toy", "0") == "1", cores, a.getOrElse("perturb", "0") == "1", r)
    r.info("session_s") = Json.num(sessionS)
    r.info("spark_version") = Json.str(spark.version)
    r.info("jdk") = Json.str(System.getProperty("java.version"))
    r.info("cores") = cores.toString
    try {
      val setupS = workload match {
        case "backfill" => Workloads.backfill(c, a("pin-cpu").toInt)
        case "incremental" => Workloads.incremental(c)
        case "query_suite" => Workloads.querySuite(c, a("data"))
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      r.e2e("setup_s") = (sessionS + setupS, "s")
    } catch {
      case e: Throwable =>
        r.check(ok = false, s"$workload aborted: $e")
        e.printStackTrace()
    }
    r.e2e("peak_rss_mb") = (Host.peakRssMb(), "MB")
    tracer.drain()
    if (tracer.enabled) tracer.writeJson(a("out").stripSuffix(".json") + ".spans.json")
    val selfS = if (tracer.enabled) tracer.selfByName() else Map.empty[String, Double]
    Json.writeFile(a("out"), r.toJson(selfS))
    c.spark.stop()
  }
}
