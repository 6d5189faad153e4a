package graft.tools

import graft.{GraftSession, SparkEntry}

/** Generic cold-query profiler (dev only): runs named SparkEntry
  * queries at bench conditions with a job/stage listener, so the slow
  * stage of any memo derivation names itself.
  *
  * Usage: runMain graft.tools.ProfileQuery <sfDir> <query> [query...]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // warmup pass (JIT + parquet footers), then invalidate and re-time
    names.foreach(n => SparkEntry.queries(n)(spark, dir).count())
    graft.operators.Memo.invalidate()
    graft.operators.Memo.drainBuildSeconds()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = s.stageInfo
          val m = i.taskMetrics
          if (m.executorRunTime > 200)
            println(f"[stage] ${i.stageId}%3d tasks=${i.numTasks}%3d " +
              f"exec=${m.executorRunTime / 1e3}%7.2f s " +
              f"in=${m.inputMetrics.recordsRead}%9d " +
              f"sh_r=${m.shuffleReadMetrics.recordsRead}%9d " +
              f"sh_w=${m.shuffleWriteMetrics.recordsWritten}%9d  " +
              i.name.takeWhile(_ != '\n'))
        }
      })
    // SPARK_GRAFT_PROFILE_COLD=1: drop ALL cached data (catalog cache
    // and every Memo pin) before each timed query — the mode that exposes racing-scan
    // recomputes of lazily-persisted frames, which a warm cache hides
    val cold = sys.env.get("SPARK_GRAFT_PROFILE_COLD").contains("1")
    names.foreach { n =>
      if (cold) { spark.catalog.clearCache(); graft.operators.Memo.invalidate() }
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).count()
      val memo = graft.operators.Memo.drainBuildSeconds()
      println(f"[profile] $n%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
        s"  memo=${memo.map { case (k, v) => f"$k=$v%.2f" }.mkString(",")}")
    }
    spark.stop()
  }
}
