package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: a call the benchmark makes into the engine, or a
  * Spark job that ran on behalf of such a call. Times are `System.nanoTime`
  * values; `parent` is 0 for a root span. */
final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Per-stage task aggregates, summed in the listener as tasks end. */
final class StageAgg {
  var tasks = 0
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val durationsMs = mutable.ArrayBuffer.empty[Long]
}

/** Collects jobs, stages and tasks. A job is attributed to the span whose
  * id the benchmark put in the job group (`SparkContext.setJobGroup`)
  * before making the call that ran the job. */
final class LayerListener extends SparkListener {
  final case class Job(id: Int, group: Long, startMs: Long, stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  var stagesCompleted = 0

  def reset(): Unit = synchronized { jobs.clear(); stages.clear(); stagesCompleted = 0 }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).getOrElse(0L)
    jobs(e.jobId) = Job(e.jobId, group, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesCompleted += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val agg = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
    agg.tasks += 1
    agg.durationsMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      agg.cpuNs += m.executorCpuTime
      agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Spans kept in memory and written out at the end of a traced run. With
  * tracing off, `span` only runs its body: the untraced and traced runs
  * make exactly the same calls into the engine. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Long, String)]
  private var nextId = 1L
  // job times arrive as wall-clock millis; spans use nanoTime
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  val listener: Option[LayerListener] =
    if (!enabled) None
    else { val l = new LayerListener; sc.addSparkListener(l); Some(l) }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      stack = (id, name) :: stack
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some((pid, pname)) => sc.setJobGroup(pid.toString, pname, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, name, parent, t0, t1)
      }
    }

  /** Deliver every pending listener event. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.ListenerBus.drain(sc)

  /** Benchmark spans plus one `spark.job` child span per attributed job. */
  def allSpans: Seq[Span] = {
    val jobSpans = listener.toSeq.flatMap { l =>
      l.synchronized {
        l.jobs.values.filter(j => j.group > 0 && j.endMs >= 0).map { j =>
          Span(-j.id.toLong - 1, "spark.job", j.group,
            j.startMs * 1000000L + wallToNano, j.endMs * 1000000L + wallToNano)
        }.toSeq
      }
    }
    spans.toSeq ++ jobSpans
  }

  /** Duration minus the part covered by the span's children. */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def writeJson(path: String): Unit = {
    val all = allSpans.sortBy(_.startNs)
    val self = selfTimes(all)
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
        f""""self_ms":${self(s.id) / 1e6}%.3f}"""
    }
    Json.writeFile(path, lines.mkString("[\n", ",\n", "\n]\n"))
  }

  /** Σ self time per span name, in seconds. */
  def selfByName(): Map[String, Double] = {
    val all = allSpans
    val self = selfTimes(all)
    all.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
  }
}
