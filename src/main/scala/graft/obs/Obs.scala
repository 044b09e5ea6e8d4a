package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graft.ListenerBusBridge

/** The one meter: spans over the Spark jobs a block of code runs (the
  * reference reports an import through one statistics surface,
  * stats/stats.go).
  *
  * `Obs.span(name){…}` adds a job tag of its own to the calling thread for
  * the body, so every job the body submits carries it, also from threads
  * the body starts (they inherit the thread's job tags). It removes only
  * that tag, so an outer tagger still sees every job. One listener,
  * registered on first use, folds each tagged job's tasks into the
  * innermost span open when the job started. [[measure]] returns a
  * span's record once the listener bus has delivered its events. When the
  * outermost span closes, every job record under it is dropped, so a loop
  * of spans holds nothing between them.
  */
object Obs {

  /** One Spark job's totals, folded from its task-end events. `name` is
    * the call site of its last stage. */
  final case class Job(id: Int, name: String, wallS: Double, tasks: Long,
      cpuNs: Long, shuffleWriteBytes: Long, memSpillBytes: Long, diskSpillBytes: Long,
      peakTaskMemBytes: Long, outputRows: Long)

  /** A closed span: its own jobs and its child spans, in the order they
    * opened. Totals cover the subtree; the peak is its largest task's. */
  final case class Span(name: String, wallS: Double, jobs: Seq[Job], children: Seq[Span]) {
    def allJobs: Seq[Job] = jobs ++ children.flatMap(_.allJobs)
    private def total(f: Job => Long): Long = allJobs.iterator.map(f).sum
    def tasks: Long = total(_.tasks)
    def taskCpuS: Double = total(_.cpuNs) / 1e9
    def shuffleWriteBytes: Long = total(_.shuffleWriteBytes)
    def memSpillBytes: Long = total(_.memSpillBytes)
    def diskSpillBytes: Long = total(_.diskSpillBytes)
    def peakTaskMemBytes: Long = allJobs.iterator.map(_.peakTaskMemBytes).maxOption.getOrElse(0L)
    def outputRows: Long = total(_.outputRows)

    /** The first span called `name` in this subtree, depth first. */
    def find(name: String): Option[Span] =
      if (this.name == name) Some(this) else children.iterator.flatMap(_.find(name)).nextOption()

    /** One JSON object, child spans under `phases`. */
    def json: String = {
      def mb(b: Long) = fmt(b / 1e6)
      (Seq("name" -> ("\"" + name + "\""),
        "wall_s" -> fmt(wallS), "jobs" -> allJobs.size.toString, "tasks" -> tasks.toString,
        "task_cpu_s" -> fmt(taskCpuS), "shuffle_write_mb" -> mb(shuffleWriteBytes),
        "spill_mb" -> mb(memSpillBytes + diskSpillBytes), "peak_task_mem_mb" -> mb(peakTaskMemBytes),
        "output_rows" -> outputRows.toString) ++
        (if (children.isEmpty) Nil else Seq("phases" -> children.map(_.json).mkString("[", ",", "]"))))
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }
  }

  private def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Run `body` as span `name`. */
  def span[T](name: String)(body: => T): T = enclose(name, report = false)(body)._1

  /** Run `body` as span `name` and return its record with the result. */
  def measure[T](name: String)(body: => T): (T, Span) = {
    val (out, span) = enclose(name, report = true)(body)
    (out, span.get)
  }

  private val TagPrefix = "graft-obs-"
  private val ids = new AtomicLong
  private val open = new ConcurrentHashMap[String, Node]()
  private val byJob = new ConcurrentHashMap[Int, Acc]()
  private val byStage = new ConcurrentHashMap[Int, Acc]()
  private var registeredOn: SparkContext = _

  /** A job's running totals. Only the listener thread writes them. */
  private final class Acc(val id: Int, val name: String, val startMs: Long, val stageIds: Seq[Int]) {
    var endMs = -1L
    var tasks, cpuNs, shuffleWrite, memSpill, diskSpill, peak, outRows = 0L
    def job: Job = synchronized(Job(id, name, if (endMs < 0) 0.0 else (endMs - startMs) / 1e3,
      tasks, cpuNs, shuffleWrite, memSpill, diskSpill, peak, outRows))
  }

  private final class Node(val name: String, val parent: Option[Node]) {
    val tag: String = TagPrefix + ids.incrementAndGet()
    val depth: Int = parent.fold(0)(_.depth + 1)
    /** Close time: a job that started later is not this span's. */
    @volatile var endMs: Long = Long.MaxValue
    @volatile var wallS = 0.0
    val jobs = new ConcurrentLinkedQueue[Acc]()
    val children = new ConcurrentLinkedQueue[Node]()
    def subtree: Iterator[Node] = Iterator.single(this) ++ children.asScala.iterator.flatMap(_.subtree)
    def record: Span = Span(name, wallS, jobs.asScala.toSeq.sortBy(_.id).map(_.job),
      children.asScala.toSeq.map(_.record))
  }

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .fold(Array.empty[String])(_.split(","))
      tags.iterator.filter(_.startsWith(TagPrefix)).flatMap(t => Option(open.get(t)))
        .filter(e.time <= _.endMs).maxByOption(_.depth).foreach { n =>
          val a = new Acc(e.jobId, e.stageInfos.maxByOption(_.stageId).fold("")(_.name),
            e.time, e.stageIds)
          byJob.put(e.jobId, a)
          e.stageIds.foreach(byStage.putIfAbsent(_, a))
          n.jobs.add(a)
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(byJob.get(e.jobId)).foreach(a => a.synchronized(a.endMs = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (a <- Option(byStage.get(e.stageId)); m <- Option(e.taskMetrics)) a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.memSpill += m.memoryBytesSpilled
        a.diskSpill += m.diskBytesSpilled
        a.peak = math.max(a.peak, m.peakExecutionMemory)
        a.outRows += m.outputMetrics.recordsWritten
      }
  }

  private def register(sc: SparkContext): Unit = synchronized {
    if (registeredOn ne sc) { sc.addSparkListener(Listener); registeredOn = sc }
  }

  private def enclose[T](name: String, report: Boolean)(body: => T): (T, Option[Span]) = {
    val sc = ListenerBusBridge.activeContext
    sc.foreach(register)
    // the innermost span still open among this thread's tags (a thread
    // started inside a span inherits the tags of its starter)
    val parent = sc.iterator.flatMap(_.getJobTags()).flatMap(t => Option(open.get(t)))
      .filter(_.endMs == Long.MaxValue).maxByOption(_.depth)
    val node = new Node(name, parent)
    open.put(node.tag, node)
    parent.foreach(_.children.add(node))
    sc.foreach(_.addJobTag(node.tag))
    val t0 = System.nanoTime()
    try {
      val out = try body finally {
        sc.foreach(_.removeJobTag(node.tag))
        node.wallS = (System.nanoTime() - t0) / 1e9
        node.endMs = System.currentTimeMillis()
        if (report || parent.isEmpty) sc.foreach(ListenerBusBridge.drain)
      }
      (out, if (report) Some(node.record) else None)
    } finally if (parent.isEmpty) node.subtree.foreach { n =>
      open.remove(n.tag)
      n.jobs.forEach { a => byJob.remove(a.id); a.stageIds.foreach(byStage.remove(_, a)) }
    }
  }
}
