package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.blocker.{Blocker, EntityTokenizer}
import graft.xref.Xref

/** `nk watch-match` end-to-end: a corpus statement table on disk, a
  * watch directory with one JSON-lines batch, one available-now drain —
  * the Parquet output must equal the batch matchTopK ranking.
  */
class WatchMatchSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  test("available-now drain writes the batch ranking as parquet") {
    val tmp = SparkSpec.tempDir("watchmatch")
    val corpus = Seq(
      ("c1", "Person", "name", "name", "Johanna Quandt"),
      ("c2", "Person", "name", "name", "Stefan Quandt"),
      ("c3", "Person", "name", "name", "Johanna Berger"))
      .toDF("canonical_id", "schema", "prop", "prop_type", "value")
    corpus.write.parquet(s"$tmp/corpus.parquet")
    Files.createDirectories(Paths.get(s"$tmp/watch"))
    Files.write(Paths.get(s"$tmp/watch/batch0.json"),
      ("""{"entity_id":"q1","schema":"Person","prop":"name",""" +
        """"prop_type":"name","value":"Johanna Quandt"}""" + "\n")
        .getBytes("UTF-8"))

    Nk.run(spark, Array("watch-match",
      s"$tmp/corpus.parquet", s"$tmp/watch", s"$tmp/out"))

    val got = spark.read.parquet(s"$tmp/out").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getInt(3))).toSet

    val cfg = Blocker.Config()
    val tfIndex = Blocker.termFrequencies(
      EntityTokenizer.entries(corpus), Xref.compatDf(spark),
      Xref.boostsDf(spark), cfg, dampFields = EntityTokenizer.DampFields)
    val tfQuery = EntityTokenizer.entries(
      Seq(("q1", "Person", "name", "name", "Johanna Quandt"))
        .toDF("entity_id", "schema", "prop", "prop_type", "value")
        .withColumn("canonical_id", col("entity_id")))
      .withColumn("weight", lit(0.0))
    val want = Blocker.matchTopK(tfQuery, tfIndex, Xref.compatDf(spark), cfg)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got === want)
    assert(got.exists { case (qid, cid, _, rn) =>
      qid == "q1" && cid == "c1" && rn == 1 })
  }
}
