package graft.tools

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import graft.SparkEntry

/** Per-stage decomposition of one named query's cost — the optimization
  * round's "which operator inside the query burns the time" probe
  * (spark_optimization_guide §1/§7: the UI is disabled here, so this is
  * the stage page in text form). Usage:
  *
  *   scripts/run_main.sh graft.tools.StageProfile <sfDir> <q1,q2,...>
  *
  * For each query: noop-exhaust it (same timed action as Bench), then
  * print one row per stage — task wall (executorRunTime), task CPU
  * (executorCpuTime), GC, shuffle bytes, n_tasks — plus the first
  * repo-local frame of the stage's callsite so the cost maps back to a
  * line of graft code. Stages are attributed to the query run between
  * the two flushes (Bench's snapshot discipline). */
object StageProfile {
  private final class Rec {
    var runMs = 0L; var cpuMs = 0L; var gcMs = 0L
    var shufR = 0L; var shufW = 0L; var n = 0
  }
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val spark = graft.Sessions.local()
    val byStage = new ConcurrentHashMap[Int, Rec]()
    val stageName = new ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val r = byStage.computeIfAbsent(e.stageId, _ => new Rec)
          r.synchronized {
            r.runMs += m.executorRunTime
            r.cpuMs += m.executorCpuTime / 1000000L
            r.gcMs += m.jvmGCTime
            r.shufR += m.shuffleReadMetrics.totalBytesRead
            r.shufW += m.shuffleWriteMetrics.bytesWritten
            r.n += 1
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        // first graft-frame of the callsite long form = the repo line
        // that created the RDD/exchange this stage executes
        val site = info.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("StageProfile"))
          .getOrElse(info.name).trim
        stageName.put(info.stageId, s"${info.name} @ $site")
        ()
      }
    })
    def exhaust(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warmup: tables + flagship (Bench's discipline)
    try exhaust(SparkEntry.flagship(spark, dir)) catch { case _: Throwable => () }
    names.foreach { q =>
      byStage.clear(); stageName.clear()
      val t0 = System.nanoTime()
      exhaust(SparkEntry.queries(q)(spark, dir))
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftSpark.flushListenerBus(spark.sparkContext)
      println(f"%n===== $q  wall=$wall%.2fs =====")
      println(f"${"stage"}%6s ${"run_s"}%8s ${"cpu_s"}%8s ${"gc_s"}%6s " +
        f"${"shufR_MB"}%9s ${"shufW_MB"}%9s ${"n"}%5s  site")
      import scala.jdk.CollectionConverters._
      val rows = byStage.asScala.toSeq.sortBy(-_._2.runMs)
      rows.take(40).foreach { case (sid, r) =>
        println(f"$sid%6d ${r.runMs / 1e3}%8.2f ${r.cpuMs / 1e3}%8.2f " +
          f"${r.gcMs / 1e3}%6.2f ${r.shufR / 1e6}%9.2f ${r.shufW / 1e6}%9.2f " +
          f"${r.n}%5d  ${stageName.getOrDefault(sid, "?")}")
      }
      val totRun = rows.map(_._2.runMs).sum / 1e3
      val totCpu = rows.map(_._2.cpuMs).sum / 1e3
      println(f"TOTAL run=${totRun}%.2fs cpu=${totCpu}%.2fs " +
        f"stages=${rows.size} tasks=${rows.map(_._2.n).sum}")
    }
    spark.stop()
  }
}
