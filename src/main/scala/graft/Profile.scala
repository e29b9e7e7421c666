package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Job-count profiler for the optimization rounds: runs each named
  * query twice (first touch builds any index guards, the second run is
  * the measured one) and prints every Spark job the second run
  * launched — id, wall ms, stage count, description. The per-query job
  * tower (count gates, persist materializations, manifest brackets) is
  * invisible in explain() output; this is the measurement the probe
  * fusion work keys on. Usage: runMain graft.Profile <sfDir> <query...>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toIndexedSeq
    require(names.nonEmpty, "usage: Profile <sfDir> <query...>")
    val spark = Tables.session()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Int, String)]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Int, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (System.nanoTime(),
          js.stageInfos.lastOption.map(_.name).getOrElse(""),
          js.stageIds.size))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (s != null)
          jobs.add((je.jobId, (System.nanoTime() - s._1) / 1000000L, s._3, s._2))
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for (a <- si.submissionTime; b <- si.completionTime)
          yield b - a).getOrElse(-1L)
        stages.add((si.stageId, ms, si.numTasks, si.name))
      }
    })
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      def once(): Unit =
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      once() // first touch: index build guards, JIT
      spark.catalog.clearCache()
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
      jobs.clear()
      val t0 = System.nanoTime()
      once()
      val wall = (System.nanoTime() - t0) / 1000000L
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
      println(s"== $name: ${wall} ms, ${jobs.size} jobs")
      jobs.forEach { case (id, ms, nStages, desc) =>
        println(f"   job $id%3d  $ms%6d ms  $nStages%2d stages  $desc")
      }
      stages.forEach { case (id, ms, nTasks, nm) =>
        if (ms >= 100)
          println(f"   stage $id%3d  $ms%6d ms  $nTasks%3d tasks  $nm")
      }
      stages.clear()
    }
    spark.stop()
  }
}
