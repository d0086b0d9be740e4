package graft.dev

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart, SparkListenerJobEnd}

/** r17 optimization-round instrumentation: per-query wall decomposition.
  *
  * For each named battery query, times (a) DataFrame CONSTRUCTION (plan
  * building + any dial-deriving actions like docs.count()) and (b) the
  * bench materialization, while a listener accumulates job/stage/task
  * counts and summed task time. The gap between wall and taskTime/cores
  * is scheduling + driver overhead — the signal that separates "optimize
  * the plan" from "optimize per-task compute" (guide §1.1, §7).
  *
  *   sbt "runMain graft.dev.OptProbe <sfDir> <reps> <query...>"
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    graft.SparkEntry.checkCli("graft.dev.OptProbe <sfDir> <reps> <query...>",
      args.length > 2 && args(1).toIntOption.exists(_ > 0), args.toSeq.drop(2))
    val sfDir = args(0)
    val reps = args(1).toInt
    val spark = graft.core.Session.builder(graft.core.Session.cpus).getOrCreate()

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var taskTimeMs = 0L
    val detail = sys.env.get("OPT_PROBE_DETAIL").isDefined
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onJobEnd(j: SparkListenerJobEnd): Unit = ()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += sc.stageInfo.numTasks
        taskTimeMs += sc.stageInfo.taskMetrics.executorRunTime
        if (detail) {
          val si = sc.stageInfo
          val wall = (for {a <- si.completionTime; b <- si.submissionTime}
            yield (a - b) / 1e3).getOrElse(-1.0)
          if (wall > 0.15 || si.taskMetrics.executorRunTime > 300)
            stageRows.add(
              f"    stage=${si.stageId}%4d tasks=${si.numTasks}%4d " +
              f"wall=$wall%6.2f taskSec=${si.taskMetrics.executorRunTime / 1e3}%7.2f " +
              f"shufRead=${si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
              f"shufWrite=${si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
              si.name.take(90))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // warmup: JVM/codegen startup on the flagship entry
    try graft.Bench.materialize(graft.SparkEntry.entry(spark))
    catch { case _: Throwable => () }

    for (q <- args.drop(2)) {
      val rows = (1 to reps).map { _ =>
        jobs = 0; stages = 0; tasks = 0L; taskTimeMs = 0L; stageRows.clear()
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(q)(spark, sfDir)
        val t1 = System.nanoTime()
        graft.Bench.materialize(df)
        val t2 = System.nanoTime()
        Thread.sleep(300) // let the listener bus drain
        f"build=${(t1 - t0) / 1e9}%.2f exec=${(t2 - t1) / 1e9}%.2f " +
          f"jobs=$jobs stages=$stages tasks=$tasks taskSec=${taskTimeMs / 1e3}%.1f"
      }
      println(s"PROBE $q\n  " + rows.mkString("\n  "))
      if (detail) {
        import scala.jdk.CollectionConverters._
        stageRows.asScala.toSeq.sorted.foreach(println)
      }
    }
    spark.stop()
  }
}
