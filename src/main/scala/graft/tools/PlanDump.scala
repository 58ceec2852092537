package graft.tools

/** Scratch: print the formatted physical plan of named queries. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.cli.CliArgs.session("plandump")
    spark.conf.set("spark.sql.maxPlanStringLength", "1000000")
    graft.Caches.ensureAll(spark, sfDir)
    args.foreach { n =>
      println(s"==== $n ====")
      println(graft.SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
