package graft.resolver

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Connected-components and edit-op semantics on constructed graphs
  * (mirrors the reference's resolver scenarios,
  * `tests/test_resolver.py:35-455`).
  */
class ResolverSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  def cc(edges: Seq[(String, String)], driverLimit: Long = 2000000L) =
    Resolver.connectedComponents(edges.toDF("src", "dst"),
      driverLimit = driverLimit)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("chain and star graphs collapse to min-id clusters") {
    val chain = Seq("a" -> "b", "b" -> "c", "c" -> "d", "x" -> "y")
    val got = cc(chain)
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "x", "y" -> "x"))
    val star = Seq("m" -> "a", "m" -> "b", "m" -> "c")
    assert(cc(star) === Map("m" -> "a", "a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("driver union-find and distributed propagation agree") {
    val edges = Seq("a" -> "b", "c" -> "b", "d" -> "e", "f" -> "e",
      "e" -> "a", "p" -> "q")
    assert(cc(edges) === cc(edges, driverLimit = 0L))
  }

  test("driver and distributed paths agree at the driverLimit boundary") {
    // duplicate, reversed and self-loop edges; 10 rows
    val base = Seq("a" -> "b", "b" -> "a", "a" -> "b", "c" -> "c",
      "c" -> "d", "e" -> "f", "f" -> "g", "g" -> "e", "h" -> "h", "d" -> "b")
    def comps(edges: Seq[(String, String)], limit: Long) = {
      val out = Resolver.connectedComponents(edges.toDF("src", "dst"),
        driverLimit = limit)
      // the driver path's labels are a local relation, the distributed
      // path's a checkpointed RDD
      val driver = out.queryExecution.logical.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation])
      (driver, out.collect().map(r => r.getString(0) -> r.getString(1)).toMap)
    }
    val want = Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "e" -> "e", "f" -> "e", "g" -> "e", "h" -> "h")
    val limit = base.size.toLong
    // edge count == driverLimit: the driver path; driverLimit 0 forces
    // the distributed one
    assert(comps(base, limit) === ((true, want)))
    assert(comps(base, 0L) === ((false, want)))
    // edge count == driverLimit + 1: the distributed path
    val more = base :+ ("h" -> "i")
    val wantMore = want + ("i" -> "h")
    assert(comps(more, limit) === ((false, wantMore)))
    assert(comps(more, limit + 1) === ((true, wantMore)))
  }

  test("the driver path runs its edge input's shuffle stages once") {
    import org.apache.spark.SchedulerProbe
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerStageCompleted}
    val sc = spark.sparkContext
    // one exchange in the input plan: the distinct aggregate
    val edges = spark.range(0, 40).select(
      (col("id") % 7).cast("string").as("src"),
      ((col("id") + 1) % 7).cast("string").as("dst")).distinct()
    val shuffleStages = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (SchedulerProbe.isShuffleMap(e.stageInfo))
          shuffleStages.incrementAndGet()
    }
    SchedulerProbe.drain(sc)
    sc.addSparkListener(listener)
    try {
      val got = Resolver.connectedComponents(edges)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      SchedulerProbe.drain(sc)
      assert(got === (0 until 7).map(i => i.toString -> "0").toMap)
      assert(shuffleStages.get === 1)
    } finally sc.removeSparkListener(listener)
  }

  test("pointer doubling converges a deep chain within the round budget") {
    // a 60-deep chain needs ~59 rounds of plain min-propagation; with
    // label doubling it must finish well inside maxIter=20
    val ids = (0 until 60).map(i => f"n$i%03d")
    val chain = ids.zip(ids.tail)
    val got = cc(chain, driverLimit = 0L)
    assert(got.values.toSet === Set("n000"))
    assert(got.size === 60)
  }

  test("canonical selection follows the weight precedence") {
    val comps = Seq(("c:9", "a"), ("s:2", "a"), ("raw", "a"))
      .toDF("id", "cluster")
    val weightOf = (id: org.apache.spark.sql.Column) =>
      when(id.startsWith("c:"), 3).when(id.startsWith("s:"), 2).otherwise(1)
    val m = Resolver.canonicalMap(comps, weightOf)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m === Map("c:9" -> "c:9", "s:2" -> "c:9", "raw" -> "c:9"))
  }

  test("canonical map equals the join-back form on random components") {
    val weightOf = graft.cli.CliArgs.idWeight _
    val rnd = new scala.util.Random(18)
    def id(): String = rnd.nextInt(3) match {
      case 0 => s"Q${rnd.nextInt(500)}"
      case 1 => s"NK-${rnd.nextInt(500)}"
      case _ => s"e${rnd.nextInt(500)}"
    }
    for (_ <- 1 to 5) {
      // duplicate rows and singleton clusters included
      val comps = Seq.fill(300)((id(), s"k${rnd.nextInt(60)}"))
        .toDF("id", "cluster")
      val joinBack = comps
        .withColumn("wkey",
          concat(weightOf(col("id")).cast("string"), lit("|"), col("id")))
        .groupBy(col("cluster"))
        .agg(element_at(split(max(col("wkey")), "\\|"), 2).as("canonical"))
        .join(comps, Seq("cluster"))
        .select(col("id").as("member"), col("canonical"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      assert(rows(Resolver.canonicalMap(comps, weightOf)) === rows(joinBack))
    }
  }

  test("explode soft-deletes every edge touching the cluster") {
    val log = Seq(
      ("a", "b", "positive"), ("b", "c", "positive"),
      ("x", "y", "positive"))
      .toDF("target", "source", "judgement")
      .withColumn("score", lit(1.0)).withColumn("user", lit("t"))
      .withColumn("created_at", lit("t0"))
      .withColumn("deleted_at", lit(null).cast("string"))
    val members = Seq("a", "b", "c").toDF("member")
    val after = ResolverOps.explode(log, members, "t1")
    assert(after.filter(col("deleted_at").isNull).count() === 1L)
    assert(after.filter(col("deleted_at") === "t1").count() === 2L)
  }

  test("rename rewrites endpoints and drops self-edges") {
    val log = Seq(("old", "b", "positive"), ("c", "old", "positive"),
      ("old", "nk", "positive"))
      .toDF("target", "source", "judgement")
      .withColumn("score", lit(1.0)).withColumn("user", lit("t"))
      .withColumn("created_at", lit("t0"))
      .withColumn("deleted_at", lit(null).cast("string"))
    val out = ResolverOps.renameNode(log, "old", "nk")
      .select("target", "source").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(out === Set(("nk", "b"), ("c", "nk")))
  }

  test("edge dump/load round-trips") {
    val log = Seq(("a", "b", "positive", 0.9, "u", "2024-01-01T00:00:00"))
      .toDF("target", "source", "judgement", "score", "user", "created_at")
      .withColumn("deleted_at", lit(null).cast("string"))
    val back = ResolverOps.load(ResolverOps.dump(log))
    val r = back.head()
    assert(r.getString(0) === "a" && r.getString(1) === "b" &&
      r.getString(2) === "positive" && r.getDouble(3) === 0.9)
  }

  test("suggest skips decided pairs and decide retires old edges") {
    val edges = Seq(("a", "b", "negative", 1.0, "u", "t0"))
      .toDF("target", "source", "judgement", "score", "user", "created_at")
      .withColumn("deleted_at", lit(null).cast("string"))
    val scored = Seq(("b", "a", 0.8), ("c", "d", 0.7)).toDF("src", "dst",
      "score")
    val after = ResolverOps.suggest(edges, scored, "u2", "t1")
    val sugg = after.filter(col("judgement") === "no_judgement").collect()
    assert(sugg.length === 1 && sugg.head.getString(0) === "c")

    val decisions = Seq(("a", "b", "positive", 1.0)).toDF(
      "src", "dst", "judgement", "score")
    val decided = ResolverOps.decide(edges, decisions, "u3", "t2")
    assert(decided.filter(col("deleted_at").isNotNull).count() === 1L)
    assert(decided.filter(col("judgement") === "positive" &&
      col("deleted_at").isNull).count() === 1L)
  }
}
