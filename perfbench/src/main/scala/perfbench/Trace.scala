package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What Spark did for one job group: jobs, task time, bytes and the
 * wall-clock intervals during which its tasks ran. */
final class GroupStats {
  var jobs = 0
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var writeBytes = 0L
  val intervals = ArrayBuffer.empty[(Long, Long)]
}

/** One traced call into the engine. `unit` is the job, batch or pass it
 * belongs to; `parent` is the enclosing span's id (0 for none). */
final case class Span(id: Int, parent: Int, unit: Int, name: String,
                      startMs: Long, endMs: Long, wallNs: Long)

/**
 * The benchmark's tracer. Each [[span]] runs its body under a job group
 * of its own, so the [[SparkListener]] half attributes every job and task
 * to the innermost public call that caused it; streaming jobs are
 * attributed by query id, and the [[StreamingQueryListener]] half keeps
 * each micro-batch's progress durations. Spans stay in memory until
 * [[writeJson]].
 */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack.empty[Int]
  private var nextId = 1
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val openJobs = new java.util.concurrent.atomic.AtomicInteger
  /** (query id, rows, addBatch ms, latestOffset ms) per data batch. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, Long)]()

  /** Which job, batch or pass the next spans belong to. */
  var unit = 0

  private def groupOf(id: Int): String = s"perfbench-span-$id"
  def streamGroup(queryId: String): String = s"perfbench-stream-$queryId"
  def stats(group: String): GroupStats = groups.computeIfAbsent(group, _ => new GroupStats)

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    sc.setJobGroup(groupOf(id), name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - t0
      spans += Span(id, parent, unit, name, startMs, System.currentTimeMillis(), wall)
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(groupOf(p), "")
        case None => sc.clearJobGroup()
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      .map(streamGroup)
      .orElse(props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      .getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, group))
    openJobs.incrementAndGet()
    val g = stats(group)
    g.synchronized { g.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = openJobs.decrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stats(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    g.synchronized {
      g.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      if (m != null) {
        g.taskMs += m.executorRunTime
        g.cpuNs += m.executorCpuTime
        g.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        g.writeBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        progress.add((p.id.toString, p.numInputRows, ms("addBatch"), ms("latestOffset")))
      }
    }
  }

  def install(): Unit = {
    sc.addSparkListener(this)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    sc.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
  }

  /** Listener events arrive asynchronously: wait until every started job
   * has ended, so the counters are complete. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (openJobs.get > 0 && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50)
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Span metrics: wall_ms, jobs, task_ms, cpu_ms, idle_ms (wall time
   * with none of the span's own tasks running), shuffle_mb, write_mb. */
  def fields(s: Span): Map[String, Double] = {
    val g = stats(groupOf(s.id))
    g.synchronized {
      val wallMs = s.wallNs / 1e6
      val busy = Tracer.coveredMs(g.intervals.toSeq, s.startMs, s.endMs)
      Map("wall_ms" -> wallMs, "jobs" -> g.jobs.toDouble,
        "task_ms" -> g.taskMs.toDouble, "cpu_ms" -> g.cpuNs / 1e6,
        "idle_ms" -> math.max(0.0, wallMs - busy),
        "shuffle_mb" -> g.shuffleBytes / 1e6, "write_mb" -> g.writeBytes / 1e6)
    }
  }

  /** Self time: wall time not covered by child spans. */
  def selfMs(s: Span): Double =
    s.wallNs / 1e6 - spans.filter(_.parent == s.id).map(_.wallNs / 1e6).sum

  def writeJson(path: java.nio.file.Path): Unit = {
    val rows = spans.map { s =>
      val f = fields(s) + ("self_ms" -> selfMs(s))
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "unit" -> s.unit,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ f
    }
    java.nio.file.Files.createDirectories(path.getParent)
    Json.mapper.writerWithDefaultPrettyPrinter()
      .writeValue(path.toFile, rows.map(_.asJava).asJava)
  }
}

object Tracer {
  /** Length of the part of [from, to] covered by the union of intervals. */
  def coveredMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    (total + curB - curA).toDouble
  }
}
