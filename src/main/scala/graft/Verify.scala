package graft
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

/** Correctness dump: each selected SparkEntry.queries result →
  * parquet, plus oracle_sql.json, for the DuckDB compare
  * (`tools/check_oracle.py`). `SPARK_GRAFT_ONLY=q_a,q_b` runs a subset
  * ([[SparkEntry.only]]); unset, every query is dumped.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val names = SparkEntry.only()
    val spark = cli.CliArgs.session("verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.select(names).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** The oracle SQL by query name, in name order. */
  private[graft] def oracleJson(sql: Map[String, String]): String =
    Record.json(ListMap.from(sql.toSeq.sortBy(_._1)))
}
