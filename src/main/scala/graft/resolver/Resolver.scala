package graft.resolver

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cluster resolution: positive same-as edges → connected components →
  * canonical-ID selection → canonicalization of statements.
  *
  * The reference folds judgement edges into an in-memory union-find
  * (`resolver/linker.py:20-36`) and rewrites ids through it
  * (`resolver/linker.py:91-133`). At 100 TB the edge list is itself a
  * distributed table, so components are computed as an iterative
  * DataFrame fixpoint (min-label propagation, the DataFrame form of
  * hash-to-min): per iteration one shuffle on `id`, converging in
  * O(component diameter) rounds — duplicate clusters are shallow (pairs /
  * small stars), so 3-5 rounds in practice. `localCheckpoint` truncates
  * the growing lineage each round, which is what keeps the plan compact
  * at scale.
  */
object Resolver {

  /** Connected components over an undirected edge list `(src, dst)`.
    * Returns `(id, cluster)` where cluster = min member id, for every
    * vertex that appears in an edge.
    *
    * Two physical strategies, same semantics:
    *  - the driver path collects the edge rows ONCE — at most
    *    `driverLimit + 1` of them, as given (duplicates, either
    *    direction and self-loops included; ids as strings), so the
    *    edge input's plan runs a single time — and, when they number at
    *    most `driverLimit`, runs a path-compressed union-find over them
    *    on the driver: the reference's own in-memory resolver
    *    (`resolver/linker.py:20-36`) at the scale it actually runs at,
    *    without paying ~2 Spark jobs per label-propagation round.
    *    `driverLimit` bounds the edge rows the driver holds;
    *  - more edges than that fall back to distributed min-label
    *    propagation (one shuffle per round, convergence folded into the
    *    same agg) over the symmetrized, distinct edge set.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      driverLimit: Long = 2000000L): DataFrame = {
    val cap = math.min(driverLimit, Int.MaxValue - 1L).toInt
    val rows = edges.select(col("src").cast("string"),
      col("dst").cast("string")).limit(cap + 1).collect()
    if (rows.length <= driverLimit)
      return driverUnionFind(edges.sparkSession,
        rows.iterator.map(r => (r.getString(0), r.getString(1))))
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // One shuffle per round: neighbor labels + own label (tagged) feed a
      // single groupBy that yields both the new min-label AND the previous
      // label, so convergence is a cheap filter over the materialized
      // result — not a second join against the previous iteration.
      val nbr = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("cluster"), lit(0).as("own"))
      val stepped = nbr.unionAll(labels.withColumn("own", lit(1)))
        .groupBy(col("id"))
        .agg(min(col("cluster")).as("cluster"),
          min(when(col("own") === 1, col("cluster"))).as("prev_cluster"))
      // pointer doubling (cluster ← label(cluster)): pointer depth halves
      // every round, so deep chains converge in O(log diameter) rounds
      // instead of O(diameter) — the label-doubling ADVICE'd in place of
      // large-star/small-star, same complexity bound
      val ptr = stepped.select(col("id").as("pid"),
        col("cluster").as("pcluster"))
      val next = stepped.join(ptr, stepped("cluster") === ptr("pid"),
          "left_outer")
        .select(stepped("id"),
          coalesce(col("pcluster"), stepped("cluster")).as("cluster"),
          col("prev_cluster"))
        .localCheckpoint(true)
      // scan of the just-materialized partitions with limit-1 early abort
      val changed = next.filter(col("cluster") < col("prev_cluster"))
        .limit(1).count()
      labels = next.select(col("id"), col("cluster"))
      converged = changed == 0
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component diameter exceeds maxIter; raise maxIter")
    labels
  }

  /** Driver-side path-compressed union-find over a (small) edge list in
    * any direction; cluster label = min member id, matching the
    * distributed path bit-for-bit.
    */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
      pairs: Iterator[(String, String)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      var root = x
      while (parent.getOrElse(root, root) != root)
        root = parent.getOrElse(root, root)
      var cur = x
      while (parent.getOrElse(cur, cur) != root) {
        val next = parent.getOrElse(cur, cur)
        parent(cur) = root
        cur = next
      }
      root
    }
    for ((a, b) <- pairs) {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        // union by min so the final relabel pass is a pure find()
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "cluster")
  }

  /** Incremental cluster update — the reference's `_decide` recursion
    * (`resolver/resolver.py:353-401`) in batch form: fold a NEW batch
    * of positive edges into STORED components without re-clustering the
    * corpus. O(|Δ|) beyond one map-side pass over the stored table:
    *
    *  1. endpoints resolve to their stored cluster labels via a
    *     broadcast semi-join (only Δ-touched rows leave the scan);
    *  2. the Δ-sized reduced graph over cluster labels re-clusters
    *     (labels are min member ids, so the reduced components' labels
    *     equal a full recompute's labels exactly);
    *  3. stored members relabel through the broadcast merge map —
    *     clusters the batch didn't touch pass through unchanged — and
    *     brand-new vertices join with their reduced label.
    *
    * Returns the same `(id, cluster)` shape as [[connectedComponents]]
    * over the union edge set, bit-for-bit.
    */
  def addEdges(cc: DataFrame, delta: DataFrame): DataFrame = {
    val (merges, newNodes) = addEdgesParts(cc, delta)
    val relabeled = cc.join(merges, Seq("cluster"), "left")
      .select(col("id"), coalesce(col("nlbl"), col("cluster")).as("cluster"))
    relabeled.unionAll(newNodes)
  }

  /** The CHANGED rows only — members whose cluster label the batch
    * merged plus brand-new vertices. This is the O(affected) write set
    * a persisted resolver state upserts per batch ([[graft.streaming
    * .ResolveStream]]); [[addEdges]]' full output is `stored state with
    * these rows upserted on id`.
    */
  def addEdgesChanged(cc: DataFrame, delta: DataFrame): DataFrame = {
    val (merges, newNodes) = addEdgesParts(cc, delta)
    cc.join(merges, Seq("cluster"))
      .select(col("id"), col("nlbl").as("cluster"))
      .unionAll(newNodes)
  }

  private def addEdgesParts(cc: DataFrame,
      delta: DataFrame): (DataFrame, DataFrame) = {
    val ids = delta.select(col("src").as("id"))
      .unionAll(delta.select(col("dst").as("id"))).distinct()
    // Δ-touched slice of the stored state: broadcast semi-join, so the
    // artifact scan is one map-side pass and nothing corpus-sized
    // shuffles
    val touched = cc.join(broadcast(ids), Seq("id"), "left_semi")
    val sc = touched.select(col("id").as("src"), col("cluster").as("slbl"))
    val dc = touched.select(col("id").as("dst"), col("cluster").as("dlbl"))
    // endpoints → stored labels; unseen endpoints label themselves
    val mapped = delta.join(sc, Seq("src"), "left")
      .join(dc, Seq("dst"), "left")
      .select(coalesce(col("slbl"), col("src")).as("src"),
        coalesce(col("dlbl"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    // reduced graph over labels: Δ-sized by construction
    val rcc = connectedComponents(mapped)
    val merges = broadcast(rcc.filter(col("id") =!= col("cluster"))
      .select(col("id").as("cluster"), col("cluster").as("nlbl")))
    // vertices the batch introduced (not in the stored state): their
    // own id was their reduced-graph label
    val newNodes = ids.join(touched.select(col("id")), Seq("id"), "left_anti")
      .join(rcc.withColumnRenamed("cluster", "nlbl"), Seq("id"), "left")
      .select(col("id"), coalesce(col("nlbl"), col("id")).as("cluster"))
    (merges, newNodes)
  }

  /** Canonical-ID selection per cluster: max by (weight, id) — the
    * reference's precedence rule QID > NK- > raw
    * (`resolver/identifier.py:11-27`). `weightOf` must map an id to a
    * single-digit precedence so the (weight, id) argmax can be computed
    * as a plain string max — one agg, no window, and no join back to
    * the components: the same agg collects the cluster's member ids,
    * which one explode turns into the (member, canonical) rows. Rows
    * with a null cluster or a null id (which no component has) map
    * nothing.
    */
  def canonicalMap(components: DataFrame, weightOf: Column => Column): DataFrame =
    components
      .filter(col("cluster").isNotNull)
      .groupBy(col("cluster"))
      .agg(element_at(split(max(concat(weightOf(col("id")).cast("string"),
          lit("|"), col("id"))), "\\|"), 2).as("canonical"),
        collect_list(col("id")).as("members"))
      .select(explode(col("members")).as("member"), col("canonical"))

  /** Canonicalize a statement table: rewrite `id` to its cluster
    * canonical (identity when unresolved). The cluster map is tiny
    * relative to statements → broadcast join, statements never shuffle
    * (the reference's single most important throughput operator,
    * `resolver/linker.py:91-133`).
    */
  def applyCanonical(statements: DataFrame, canonical: DataFrame): DataFrame =
    statements.join(broadcast(canonical),
        statements("id") === canonical("member"), "left_outer")
      .select(statements("id"),
        coalesce(col("canonical"), statements("id")).as("canonical_id"),
        col("schema"), col("field"), col("value"))
}
