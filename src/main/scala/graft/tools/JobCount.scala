package graft.tools

import graft.Profile

/** Scratch profiler: count Spark jobs/stages each named query bills —
  * the wd-family queries are fixed-overhead bound (sequential
  * micro-jobs of scheduler latency), so the job count IS the cost
  * model locally and the thing to minimize — and the broadcast hash
  * relations its plans build ([[HashedBroadcasts]], `hashed=`).
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = graft.SparkEntry.select(args.toSeq)
    val spark = graft.cli.CliArgs.session("jobcount")
    val prof = Profile.attach(spark,
      keepStages = sys.env.contains("SPARK_GRAFT_STAGES"))
    graft.Caches.ensureAll(spark, sfDir)
    val hashed = new HashedBroadcasts.Recorder(spark)
    queries.foreach { case (n, fn) =>
      // warm
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      prof.lap()
      hashed.lap()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      df.queryExecution.executedPlan // force analysis + optimization
      val tPlan = (System.nanoTime() - t0) / 1e9 - tBuild
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val l = prof.lap()
      val h = hashed.lap().size
      println(f"[jobcount] $n%-20s jobs=${l.jobs}%3d stages=${l.stages}%3d hashed=$h%2d sec=$sec%.2f build=$tBuild%.2f plan=$tPlan%.2f")
      l.stageInfos.foreach { i =>
        val ms = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(-1L)
        val m = i.taskMetrics
        println(f"[jobcount]    stage ${i.stageId}%3d ${ms}%6d ms tasks=${i.numTasks}%3d " +
          f"cpu=${m.executorRunTime}%6d ms in=${m.inputMetrics.recordsRead}%8d " +
          f"sh=${m.shuffleReadMetrics.recordsRead}%8d/${m.shuffleWriteMetrics.recordsWritten}%8d " +
          i.name.take(60))
      }
    }
    spark.stop()
  }
}
