package graft.tools

/** Scratch: run every gated query at sf0.001 with codegen fallback
  * DISABLED, so any expression whose generated code fails to compile
  * fails loudly instead of silently degrading to interpreted eval.
  */
object CodegenCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.cli.CliArgs.session("codegen-check")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet)
    var bad = 0
    for ((name, q) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)
        if only.forall(_.contains(name))) {
      try {
        q(spark, d).write.format("noop").mode("overwrite").save()
        println(s"[cgen] OK   $name")
      } catch {
        case e: Throwable =>
          bad += 1
          println(s"[cgen] FAIL $name: ${e.getMessage.linesIterator.next()}")
      }
    }
    println(s"[cgen] done, $bad failures")
    spark.stop()
  }
}
