package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Totals of one Spark job, folded from its task-end events. */
final class JobStats(val id: Int, val startMs: Long, val tags: Set[String]) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
  var outBytes = 0L
  var outRows = 0L
}

/** One closed span: a timed call into one layer. `attrs` carries extras
  * such as a query's plan fingerprint or files read. */
final case class Span(id: Int, name: String, parent: Option[Int], tag: String,
    startMs: Long, endMs: Long, jobs: Seq[JobStats],
    attrs: Map[String, Any]) {
  def wallS: Double = (endMs - startMs) / 1e3
  def taskCpuS: Double = jobs.map(_.cpuNs).sum / 1e9
  def shuffleWriteMb: Double = jobs.map(_.shuffleWrite).sum / 1e6
  def spillMb: Double = jobs.map(_.spill).sum / 1e6
  def gcS: Double = jobs.map(_.gcMs).sum / 1e3
  def outputMb: Double = jobs.map(_.outBytes).sum / 1e6
  def outputRows: Long = jobs.map(_.outRows).sum
  def stages: Int = jobs.map(_.stages).sum
  def tasks: Long = jobs.map(_.tasks).sum

  /** Wall time not covered by any of the span's jobs: driver-side
    * planning, listing and scheduling. */
  def driverOnlyS: Double = {
    val iv = jobs.map(j => (math.max(j.startMs, startMs),
      math.min(if (j.endMs < 0) endMs else j.endMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, wallS - covered / 1e3)
  }

  def toJson(t0: Long): String = Json(scala.collection.immutable.ListMap(
    "id" -> id, "name" -> name, "parent" -> parent, "job_tag" -> tag,
    "start_ms" -> (startMs - t0), "end_ms" -> (endMs - t0),
    "wall_s" -> wallS, "jobs" -> jobs.size, "stages" -> stages, "tasks" -> tasks,
    "task_cpu_s" -> taskCpuS, "shuffle_write_mb" -> shuffleWriteMb,
    "spill_mb" -> spillMb, "gc_s" -> gcS, "output_mb" -> outputMb,
    "output_rows" -> outputRows, "driver_only_s" -> driverOnlyS,
    "attrs" -> attrs))
}

/** Outside-in tracer. Each `span` tags the Spark jobs its body submits with
  * `SparkContext.addJobTag`, and a listener folds task metrics per job.
  * Jobs submitted from threads that did not inherit the tag (pools created
  * before the span opened) are attributed by time: the benchmark drives one
  * client thread, so any untagged job that starts inside a span belongs to
  * it. Spans are kept in memory and written as JSON lines at the end. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val t0 = System.currentTimeMillis()
  private val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, mutable.LinkedHashMap[String, Any])]
  private var nextId = 0
  /** Off for the untraced half of an overhead comparison: spans run their
    * bodies without recording or draining. */
  @volatile var active: Boolean = enabled

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
      val j = new JobStats(e.jobId, e.time, tags)
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageToJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach(j => j.synchronized { j.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { j =>
          j.synchronized {
            j.tasks += 1
            if (m != null) {
              j.cpuNs += m.executorCpuTime
              j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
              j.gcMs += m.jvmGCTime
              j.outBytes += m.outputMetrics.bytesWritten
              j.outRows += m.outputMetrics.recordsWritten
            }
          }
        }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private val Prefix = "pb-span-"

  /** Attach `key -> value` to the innermost open span. */
  def note(key: String, value: Any): Unit = open.headOption.foreach(_._2(key) = value)

  /** Run `body` as span `name`. */
  def span[T](name: String)(body: => T): T = {
    if (!active) return body
    nextId += 1
    val id = nextId
    val tag = s"$Prefix$id"
    val parent = open.headOption.map(_._1)
    val attrs = mutable.LinkedHashMap.empty[String, Any]
    open.push(id -> attrs)
    sc.addJobTag(tag)
    val start = System.currentTimeMillis()
    val out = try body finally {
      sc.removeJobTag(tag)
      open.pop()
    }
    PerfbenchBus.drain(sc)
    val end = System.currentTimeMillis()
    val mine = jobs.values().asScala.filter { j =>
      j.tags.contains(tag) ||
        (!j.tags.exists(_.startsWith(Prefix)) && j.startMs >= start && j.startMs <= end)
    }.toSeq.sortBy(_.id)
    closed += Span(id, name, parent, tag, start, end, mine, attrs.toMap)
    out
  }

  /** The closed spans called `name`. None means a misnamed or skipped
    * span, which fails the run rather than let a metric read 0. */
  def named(name: String): Seq[Span] = {
    val ss = closed.filter(_.name == name).toSeq
    require(ss.nonEmpty, s"no span named '$name' was recorded")
    ss
  }

  def writeJsonLines(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try closed.foreach(s => w.println(s.toJson(t0))) finally w.close()
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Plans extends AdaptiveSparkPlanHelper {
  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  /** Hash of the executed physical plan with expression ids, plan ids and
    * paths removed, so a changed plan shows while reruns hash the same. */
  def fingerprint(df: DataFrame): String = {
    val text = finalPlan(df).treeString
      .replaceAll("#\\d+L?", "")
      .replaceAll("plan_id=\\d+", "")
      .replaceAll("\\[file:[^\\]]*\\]", "")
      .replaceAll("Location: [^,\\]]*", "")
      .replaceAll("isFinalPlan=\\w+", "")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(text.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }

  /** Files the executed plan's file scans read (sum of `numFiles`). */
  def filesRead(df: DataFrame): Long =
    collectWithSubqueries(finalPlan(df)) { case p: SparkPlan => p }
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
}
