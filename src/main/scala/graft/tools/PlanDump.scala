package graft.tools

/** Scratch: print the formatted physical plan of named queries. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = graft.SparkEntry.select(args.toSeq)
    val spark = graft.cli.CliArgs.session("plandump")
    spark.conf.set("spark.sql.maxPlanStringLength", "1000000")
    graft.Caches.ensureAll(spark, sfDir)
    queries.foreach { case (n, fn) =>
      println(s"==== $n ====")
      println(fn(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
