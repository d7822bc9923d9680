package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-stage-call Spark counters, read by a [[SparkListener]] scoped by
  * the job group the benchmark sets around each stage call. Also keeps
  * the span tree run → stage call → Spark job → Spark stage. */
final class Tracer extends SparkListener {
  import Tracer._

  final class Counters {
    var jobs = 0
    var tasks = 0
    var cpuNs = 0L
    var maxTaskMs = 0L
    var schedDelayMs = 0L
    var shuffleBytes = 0L
    var fetchWaitMs = 0L
    var spillBytes = 0L
    var gcMs = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val counters = mutable.LinkedHashMap.empty[String, Counters]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, (String, Int)]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val groupSpan = mutable.Map.empty[String, Int]

  /** Registers a bench-side span (a pass or a stage call); returns its id. */
  def open(name: String, kind: String, parent: Int, startMs: Long,
      group: Option[String] = None): Int = synchronized {
    spanBuf += Span(spanBuf.length, parent, kind, name, startMs, -1L)
    group.foreach { g =>
      groupSpan(g) = spanBuf.length - 1
      counters(g) = new Counters
    }
    spanBuf.length - 1
  }

  def close(id: Int, endMs: Long): Unit = synchronized {
    spanBuf(id) = spanBuf(id).copy(endMs = endMs)
  }

  def counter(group: String): Counters = synchronized(counters(group))
  def spans: Seq[Span] = synchronized(spanBuf.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobGroupKey)))
      .filter(counters.contains(_)).foreach { g =>
        jobGroup(e.jobId) = g
        jobStart(e.jobId) = e.time
        counters(g).jobs += 1
        val jobSpan = spanBuf.length
        spanBuf += Span(jobSpan, groupSpan(g), "job", s"job ${e.jobId}",
          e.time, -1L)
        e.stageIds.foreach(s =>
          if (!stageGroup.contains(s)) stageGroup(s) = (g, jobSpan))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      val t0 = jobStart.remove(e.jobId).get
      counters(g).jobIntervals += ((t0, e.time))
      val i = spanBuf.lastIndexWhere(s =>
        s.kind == "job" && s.name == s"job ${e.jobId}")
      spanBuf(i) = spanBuf(i).copy(endMs = e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      stageGroup.get(info.stageId).foreach { case (_, jobSpan) =>
        for (t0 <- info.submissionTime; t1 <- info.completionTime)
          spanBuf += Span(spanBuf.length, jobSpan, "stage",
            s"stage ${info.stageId} ${info.name}", t0, t1)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { case (g, _) =>
      val c = counters(g)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        // the scheduler delay of the Spark UI: task wall not spent
        // deserializing, running or shipping the result
        c.schedDelayMs += math.max(0L, e.taskInfo.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - e.taskInfo.gettingResultTime)
      }
      c.maxTaskMs = math.max(c.maxTaskMs, e.taskInfo.duration)
    }
  }
}

object Tracer {
  /** `SparkContext.SPARK_JOB_GROUP_ID`, which is private to Spark. */
  val JobGroupKey = "spark.jobGroup.id"

  final case class Span(id: Int, parent: Int, kind: String, name: String,
      startMs: Long, endMs: Long) {
    def durMs: Long = math.max(0L, endMs - startMs)
  }

  /** Length of the union of `intervals` clipped to [from, to]. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var sum = 0L
    var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { sum += b - math.max(a, reach); reach = b }
      }
    sum
  }

  /** Self time of each span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (s.durMs - covered(cs, s.startMs, s.endMs))
    }.toMap
  }

  def toJson(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    spans.map { s =>
      val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        s""""name":"$name","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""self_ms":${self(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }

  /** Bytes read/written through Hadoop FileSystem clients so far. */
  def fsBytes(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    @annotation.nowarn("cat=deprecation")
    val stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (stats.map(_.getBytesRead).sum, stats.map(_.getBytesWritten).sum)
  }
}
