package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Measurement tool (optimization rounds): run ONE declared query with the
  * bench session config and print per-stage executor metrics, so "where do
  * the seconds go" is answerable without the UI (guide §1.1/§7.1).
  *
  * Usage: runMain graft.QueryProfile <sfDir> <name> [reps]
  * Prints one line per completed stage attempt (`id.attempt`): wall,
  * executor run/CPU time, input bytes, shuffle read/write bytes, task
  * count — sorted by run time.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session.build("graft-queryprofile")
    Session.sizeToInput(spark, Seq(sfDir))
    final case class St(id: Int, attempt: Int, wallMs: Long, runMs: Long,
      cpuMs: Long, inMb: Double, srMb: Double, swMb: Double, tasks: Int,
      nm: String)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages.add(St(i.stageId, i.attemptNumber(),
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          i.numTasks, i.name.takeWhile(_ != '\n').take(60)))
      }
    })
    for (rep <- 1 to reps) {
      stages.clear()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // stage-completed events arrive on the listener thread after the
      // action returns: wait until the count holds for 300 ms (5 s cap)
      var seen = -1
      var steady = 0
      val deadline = System.nanoTime() + 5000000000L
      while (steady < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val n = stages.size
        steady = if (n == seen) steady + 1 else 0
        seen = n
      }
      System.err.println(f"== $name rep $rep: $dt%.2f s, " +
        s"${stages.size} stages ==")
      import scala.jdk.CollectionConverters._
      val sorted = stages.asScala.toSeq.sortBy(-_.runMs)
      for (s <- sorted.take(25))
        System.err.println(
          f"  stage ${s.id}%4d.${s.attempt} wall=${s.wallMs / 1e3}%6.2fs " +
            f"run=${s.runMs / 1e3}%7.2fs cpu=${s.cpuMs / 1e3}%7.2fs " +
            f"in=${s.inMb}%7.1fMB sr=${s.srMb}%7.1fMB sw=${s.swMb}%7.1fMB " +
            f"tasks=${s.tasks}%3d ${s.nm}")
      val totRun = sorted.map(_.runMs).sum / 1e3
      val totCpu = sorted.map(_.cpuMs).sum / 1e3
      System.err.println(f"  total executor run=$totRun%.1fs cpu=$totCpu%.1fs")
    }
    spark.stop()
  }
}
