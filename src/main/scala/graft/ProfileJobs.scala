package graft
import org.apache.spark.scheduler._

/** Dev tool (round-17 optimization): run one query with a listener
  * that prints every Spark job's wall-clock, stage count, and task
  * count — localizes where a multi-action operator (streaming
  * foreachBatch gates, iterative graph loops) spends its time
  * without the UI. Untimed warm pass first, then the profiled pass.
  *
  * Usage: runMain graft.ProfileJobs <sfDir> <queryName> [reps]
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    Bench.cleanStaleTmp() // same pre-run hygiene as the bench (r12 lesson)
    val dir = args(0); val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = Bench.localSession()
    @volatile var t00 = 0L
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(j.jobId, (j.time, desc, j.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, desc, nTasks) = jobs.getOrDefault(j.jobId, (j.time, "?", 0))
        lines.add(f"job ${j.jobId}%4d  +${(t0 - t00) / 1e3}%8.2fs  ${(j.time - t0) / 1e3}%7.3fs  tasks=$nTasks%4d  $desc")
      }
    })
    def run(): Unit = SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    run() // warm
    org.apache.spark.sql.graft.StateStoreHooks.unloadAll()
    lines.clear()
    (1 to reps).foreach { r =>
      System.gc()
      t00 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      run()
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graft.StateStoreHooks.unloadAll()
      println(f"== $name rep $r: $dt%.3f s ==")
    }
    Thread.sleep(500)
    lines.forEach(println)
    spark.stop()
  }
}
