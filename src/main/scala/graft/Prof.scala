package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-level attribution for ONE registry query: run it via the noop
  * sink (the Bench action) and print, per completed stage, the summed
  * task time, input/shuffle bytes and record counts, plus the formatted
  * plan. This is the "open the Stages tab" step of the optimization
  * guide (§1.1/§7.1) for a UI-less sandbox — measurement only, never on
  * a query path.
  *
  * Usage: runMain graft.Prof <sfDir> <query> [cpus] [rounds]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val cpus = args.lift(2).getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val rounds = args.lift(3).map(_.toInt).getOrElse(1)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class St(name: String, tasks: Int, taskMs: Long, inMb: Double,
        shReadMb: Double, shWriteMb: Double, recsIn: Long, recsOut: Long)
    // appended from the listener-bus thread, cleared/read on main:
    // guard every access, and flush the bus before clearing so fixture
    // stragglers can't book against run1 (ADVICE r16)
    val stages = scala.collection.mutable.ArrayBuffer[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages.synchronized { stages += St(
          i.name.take(120), i.numTasks, m.executorRunTime,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.shuffleReadMetrics.recordsRead + m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.recordsWritten + m.outputMetrics.recordsWritten) }
      }
    })

    val q = SparkEntry.registry.find(_.name == name).getOrElse(
      sys.error(s"unknown query $name"))
    q.stage.foreach(st => st(spark, sfDir)) // fixtures outside the timing
    def once(label: String): Unit = {
      spark.catalog.clearCache()
      TempDirs.sweep()
      System.gc()
      org.apache.spark.graft.BusFlush.flush(spark.sparkContext)
      stages.synchronized { stages.clear() }
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.BusFlush.flush(spark.sparkContext)
      val snap = stages.synchronized { stages.toVector }
      println(f"%n== $name $label wall ${wall}%.2fs task ${snap.map(_.taskMs).sum / 1000.0}%.1fs stages ${snap.size}%d ==")
      snap.sortBy(-_.taskMs).take(18).foreach { s =>
        println(f"  ${s.taskMs / 1000.0}%7.2fs  n=${s.tasks}%-4d in=${s.inMb}%8.1fMB shR=${s.shReadMb}%8.1fMB shW=${s.shWriteMb}%8.1fMB recsIn=${s.recsIn}%-10d recsOut=${s.recsOut}%-10d ${s.name}%s")
      }
    }
    (1 to rounds).foreach(i => once(s"run$i"))
    println(s"\n===== plan $name =====")
    println(q.fn(spark, sfDir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    spark.stop()
  }
}
