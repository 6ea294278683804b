package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-stage attribution for ONE registry entry: runs the entry
  * (noop sink, N runs) with a listener recording every stage's task
  * count, total/max task runtime, and I/O record counts — the tool
  * that answers "which stage is the entry's time, and is it
  * parallel?". Usage:
  * `sbt "runMain graft.tools.StageProbe <entry> [sfDir] [runs]"`.
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q17_range_join")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = graft.ExecMode.session()
    spark.sparkContext.setLogLevel("WARN")
    case class St(var tasks: Int = 0, var runMs: Long = 0L, var maxMs: Long = 0L,
      var inRec: Long = 0L, var outRec: Long = 0L, var shRead: Long = 0L,
      var shWrite: Long = 0L, var wallMs: Long = 0L, var site: String = "")
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val st = stages.computeIfAbsent(t.stageId, _ => St())
        val m = t.taskMetrics
        if (m != null) st.synchronized {
          st.tasks += 1
          st.runMs += m.executorRunTime
          st.maxMs = math.max(st.maxMs, m.executorRunTime)
          st.inRec += m.inputMetrics.recordsRead
          st.outRec += m.outputMetrics.recordsWritten
          st.shRead += m.shuffleReadMetrics.recordsRead
          st.shWrite += m.shuffleWriteMetrics.recordsWritten
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val st = stages.computeIfAbsent(s.stageInfo.stageId, _ => St())
        st.synchronized {
          st.site = s.stageInfo.name.take(60)
          st.wallMs = (for {
            a <- s.stageInfo.completionTime; b <- s.stageInfo.submissionTime
          } yield a - b).getOrElse(-1L)
        }
      }
    })
    (1 to runs).foreach { i =>
      stages.clear()
      val df = graft.p6.Queries.all(name)(spark, sfDir)
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      Thread.sleep(300) // let listener events drain
      println(f"== run $i: $sec%.2f s — stages by total task runtime:")
      import scala.jdk.CollectionConverters._
      val rows = stages.asScala.toSeq.sortBy(-_._2.runMs)
      println(f"${"stage"}%6s ${"tasks"}%5s ${"runMs"}%8s ${"maxMs"}%7s " +
        f"${"wallMs"}%7s ${"inRec"}%10s ${"shRead"}%10s ${"shWrite"}%10s  site")
      rows.take(25).foreach { case (id, s) =>
        println(f"$id%6d ${s.tasks}%5d ${s.runMs}%8d ${s.maxMs}%7d " +
          f"${s.wallMs}%7d ${s.inRec}%10d ${s.shRead}%10d ${s.shWrite}%10d  ${s.site}")
      }
      val totRun = rows.map(_._2.runMs).sum
      val totWall = rows.map(_._2.wallMs).filter(_ > 0).sum
      println(f"total task-runtime ${totRun / 1000.0}%.2f s over ${rows.size} stages; " +
        f"summed stage wall ${totWall / 1000.0}%.2f s")
    }
    spark.stop()
  }
}
