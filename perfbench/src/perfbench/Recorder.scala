package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.json4s._

/** What a traced run keeps in memory and writes out when it ends.
  *
  * Spans are taken by the benchmark around its calls into the engine's
  * public entry points (name, start, end, parent, request id); nothing
  * inside the engine is instrumented. Spark work is counted through the
  * public listener API — jobs with their job group and interval, tasks
  * folded per stage — so the analysis can attribute it to a span by job
  * group (`graft-query-<id>` for served queries, the benchmark's own
  * groups elsewhere) or by time. With tracing off, `span` only runs its
  * body and no listener is installed.
  */
final class Recorder(spark: SparkSession, val on: Boolean) {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val ids = new AtomicLong(0L)

  /** ms since the recorder started, at nanosecond resolution */
  def nowMs: Double = (System.nanoTime() - originNs) / 1e6

  private final case class Span(id: Long, parent: Long, name: String,
      req: String, start: Double, end: Double)
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** time `body` as span `name`; the body receives the span id so its
    * own calls can nest under it */
  def span[T](name: String, req: String, parent: Long = 0L)(
      body: Long => T): T = {
    if (!on) return body(0L)
    val id = ids.incrementAndGet()
    val t0 = nowMs
    try body(id)
    finally spans.add(Span(id, parent, name, req, t0, nowMs)): Unit
  }

  // ── Spark listener ───────────────────────────────────────────────

  private final class Job(val id: Int, val group: String, val start: Double,
                          val stages: Seq[Int]) {
    @volatile var end: Double = -1.0
  }
  private final class Stage {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var schedDelayMs = 0L; var inputBytes = 0L; var inputRecords = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val lastEventNs = new AtomicLong(System.nanoTime())

  private def epochToMs(t: Long): Double = (t - originEpochMs).toDouble

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs.put(e.jobId, new Job(e.jobId, g, epochToMs(e.time), e.stageIds))
      lastEventNs.set(System.nanoTime())
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = epochToMs(e.time))
      lastEventNs.set(System.nanoTime())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      val s = stages.computeIfAbsent(e.stageId, _ => new Stage)
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRecords += m.inputMetrics.recordsRead
          val gettingResult =
            if (info.gettingResultTime > 0)
              info.finishTime - info.gettingResultTime
            else 0L
          s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            gettingResult)
        }
      }
      lastEventNs.set(System.nanoTime())
    }
  }
  if (on) spark.sparkContext.addSparkListener(listener)

  /** wait until the listener bus has delivered every job end (events
    * arrive asynchronously after the action returns) */
  def drain(): Unit = if (on) {
    val deadline = System.nanoTime() + 10000000000L
    def quiet = System.nanoTime() - lastEventNs.get() > 300000000L
    def open = jobs.values.asScala.exists(_.end < 0)
    while (System.nanoTime() < deadline && (open || !quiet))
      Thread.sleep(50)
  }

  def toJson: JValue = {
    if (!on) return JNull
    val owner = scala.collection.mutable.HashMap.empty[Int, Int]
    jobs.values.asScala.toSeq.sortBy(_.id).foreach(j =>
      j.stages.foreach(s => if (!owner.contains(s)) owner(s) = j.id))
    val jobJson = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val mine = j.stages.filter(s => owner.get(s).contains(j.id))
        .flatMap(s => Option(stages.get(s)))
      def sum(f: Stage => Long): JValue = JLong(mine.map(f).sum)
      JObject(
        "id" -> JLong(j.id), "group" -> JString(j.group),
        "start" -> JDouble(j.start), "end" -> JDouble(j.end),
        "stages" -> JLong(j.stages.size),
        "tasks" -> sum(_.tasks), "cpu_ns" -> sum(_.cpuNs),
        "run_ms" -> sum(_.runMs), "gc_ms" -> sum(_.gcMs),
        "shuffle_write" -> sum(_.shuffleWrite),
        "shuffle_read" -> sum(_.shuffleRead), "spill" -> sum(_.spill),
        "sched_delay_ms" -> sum(_.schedDelayMs),
        "input_bytes" -> sum(_.inputBytes),
        "input_records" -> sum(_.inputRecords))
    }
    val spanJson = spans.asScala.toSeq.sortBy(_.id).map { s =>
      JObject(
        "id" -> JLong(s.id), "parent" -> JLong(s.parent),
        "name" -> JString(s.name), "req" -> JString(s.req),
        "start" -> JDouble(s.start), "end" -> JDouble(s.end))
    }
    JObject("spans" -> JArray(spanJson.toList),
      "jobs" -> JArray(jobJson.toList))
  }
}
