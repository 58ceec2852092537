package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceFiles, SparkSpec}

/** The bucketed statement lake must actually remove the shuffles the
  * runbook says it removes: assembling from the bucketed table needs
  * zero Exchanges where the flat-parquet plan shuffles for both
  * aggregate chains and the meta join.
  */
class StatementLakeSpec extends AnyFunSuite {
  import SparkSpec.spark

  // shuffle exchanges only — a BroadcastExchange moves the tiny side
  // of a broadcast join, not the lake
  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).size

  test("bucketed lake assembles without exchanges") {
    val stmts = EntityStore.statements(EntityStore.readIjson(spark,
      ReferenceFiles("tests/fixtures/donations.ijson")), "donations")
    val dir = Files.createTempDirectory("lake").toString

    // flat parquet: the layout is lost, assembly shuffles
    stmts.write.mode("overwrite").parquet(s"$dir/flat")
    val flat = EntityStore.assemble(spark.read.parquet(s"$dir/flat"))
    assert(exchanges(flat) >= 2, "flat plan should shuffle")

    StatementLake.writeBucketed(stmts, "lake_spec", s"$dir/bucketed")
    try {
      val viaTable =
        EntityStore.assemble(StatementLake.read(spark, "lake_spec"))
      assert(exchanges(viaTable) === 0,
        "bucketed plan should need no Exchange:\n" +
          viaTable.queryExecution.executedPlan.toString.take(4000))
      // same result, not just the same shape
      assert(viaTable.count() === flat.count())
      assert(viaTable.filter(col("caption") === "Johanna Quandt")
        .count() === 1)
    } finally spark.sql("DROP TABLE IF EXISTS lake_spec")
  }
}
