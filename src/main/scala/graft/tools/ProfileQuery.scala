package graft.tools

/** One-query stage-level profiler (optimization-round measurement
  * harness): runs a named SparkEntry query through the bench's noop
  * materialization with a stage listener and prints the slowest
  * stages (wall, tasks, executor run time, shuffle write) with their
  * call sites. Usage:
  * `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.ProfileQuery q_x [q_y ...]"`.
  * A `conf:k=v` argument sets a session conf for every query after
  * it, and a repeated name is a repetition, so an interleaved A/B of a
  * conf arm is `q_x conf:k=a q_x conf:k=b q_x`.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.bench("graft-profile")
    spark.sparkContext.setLogLevel("WARN")
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Int, Long, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val wall = (for { a <- si.completionTime; b <- si.submissionTime }
            yield a - b).getOrElse(0L)
          val (run, sw) =
            if (si.taskMetrics != null)
              (si.taskMetrics.executorRunTime,
                si.taskMetrics.shuffleWriteMetrics.bytesWritten)
            else (0L, 0L)
          stages.put(si.stageId, (si.name.take(120), wall, si.numTasks, run, sw))
          ()
        }
      })
    // warm-up
    graft.SparkEntry.queries("q_count_total")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    for (n <- args) {
      if (n.startsWith("conf:")) {
        val Array(k, v) = n.stripPrefix("conf:").split("=", 2)
        spark.conf.set(k, v)
        System.err.println(s"[pq] conf $k=$v")
      } else {
      stages.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      System.err.println(f"[pq] $n total ${(System.nanoTime() - t0) / 1e9}%.2f s")
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_._2._2).take(15).foreach {
        case (id, (name, wall, nt, run, sw)) =>
          System.err.println(f"[pq]   stage $id%5d wall=${wall / 1000.0}%7.2fs " +
            f"tasks=$nt%4d run=${run / 1000.0}%8.2fs swMB=${sw / 1e6}%9.1f  $name")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
      }
    }
    spark.stop()
  }
}
