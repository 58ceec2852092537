package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing store operators over the synthetic star statements:
  * entity assembly (groupwise merge, `store/base.py:74-89`), point
  * lookup (`store/sql.py:197-205`), and adjacency expansion
  * (`store/base.py:165-176`), each with a DuckDB oracle.
  *
  * Scale notes: assembly is one shuffle on the entity id (at 100 TB the
  * statement lake is partitioned/bucketed by this key, making it
  * shuffle-free); the props map is emitted as a deterministic sorted
  * string so the oracle hash-compare is stable. Point lookup filters
  * BEFORE the groupBy, so only matching ids shuffle. Adjacency joins a
  * broadcast subject set against a reference-statement view pre-filtered
  * to entity-typed rows.
  */
object StoreQueries {

  /** Entity-reference statements of the star schema: orders→customer and
    * lineitem→order edges in statement shape (id, prop, value,
    * prop_type='entity').
    */
  def refStatements(s: SparkSession, d: String): DataFrame = {
    val o = graft.Tables.orders(s, d).select(
      concat(lit("o:"), col("o_orderkey").cast("string")).as("entity_id"),
      lit("customer").as("prop"),
      concat(lit("c:"), col("o_custkey").cast("string")).as("value"),
      lit("entity").as("prop_type"))
    val l = graft.Tables.lineitem(s, d).select(
      concat(lit("l:"), col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string")).as("entity_id"),
      lit("order").as("prop"),
      concat(lit("o:"), col("l_orderkey").cast("string")).as("value"),
      lit("entity").as("prop_type"))
    o.unionAll(l)
  }

  val refSql: String = """
    refs AS (
      SELECT 'o:' || CAST(o_orderkey AS VARCHAR) AS entity_id,
             'customer' AS prop,
             'c:' || CAST(o_custkey AS VARCHAR) AS value
      FROM orders
      UNION ALL
      SELECT 'l:' || CAST(l_orderkey AS VARCHAR) || '-'
               || CAST(l_linenumber AS VARCHAR),
             'order',
             'o:' || CAST(l_orderkey AS VARCHAR)
      FROM lineitem
    )"""

  /** Assembly: statements → one row per entity with a deterministic
    * sorted properties string.
    */
  def assembleQ(s: SparkSession, d: String): DataFrame =
    // ONE groupBy(id) instead of groupBy(id, field) → groupBy(id): the
    // per-field grouping happens inside the row with array HOFs over
    // the collected (field, value) pairs (fields per entity is a small
    // constant), which removes the second Exchange outright — and at
    // lake scale, where statements are bucketed by id, the remaining
    // groupBy(id) is the one that can go shuffle-free (guide §2.4).
    // The entry strings and both sorts mirror the two-level original
    // exactly: per-field values sorted then joined '|', then the
    // 'field=vals' entries sorted as strings, so the output is
    // bit-identical. min(schema) over all rows ≡ min over per-field
    // minima; count(*) ≡ sum of per-field counts.
    StarStatements(s, d)
      .groupBy(col("id"))
      .agg(min(col("schema")).as("schema"),
        collect_list(struct(col("field"), col("value"))).as("fv"),
        count(lit(1)).as("n_stmts"))
      .select(col("id"), col("schema"),
        array_join(array_sort(transform(
          array_distinct(transform(col("fv"), x => x("field"))),
          f => concat(f, lit("="), array_join(array_sort(transform(
            filter(col("fv"), x => x("field") === f),
            x => x("value"))), "|")))), ";").as("props"),
        col("n_stmts"))

  val assembleSql: String = s"""
    WITH ${StarStatements.sql.trim},
    by_field AS (
      SELECT id, field, min(schema) AS schema,
             array_to_string(list_sort(list(value)), '|') AS vals,
             count(*) AS n
      FROM stmts GROUP BY id, field
    )
    SELECT id, min(schema) AS schema,
           array_to_string(list_sort(list(field || '=' || vals)), ';')
             AS props,
           CAST(sum(n) AS BIGINT) AS n_stmts
    FROM by_field GROUP BY id"""

  /** Entity-by-id lookup: the same assembly, filtered to a key set
    * BEFORE the groupBy (predicate reaches the scan; only matching ids
    * shuffle).
    */
  def entityByIdQ(s: SparkSession, d: String): DataFrame =
    StarStatements(s, d)
      .filter(col("id").endsWith("00"))
      .groupBy(col("id"))
      .agg(min(col("schema")).as("schema"),
        concat_ws(";", array_sort(collect_list(
          concat(col("field"), lit("="), col("value"))))).as("props"))

  val entityByIdSql: String = s"""
    WITH ${StarStatements.sql.trim}
    SELECT id, min(schema) AS schema,
           array_to_string(list_sort(list(field || '=' || value)), ';')
             AS props
    FROM stmts WHERE id LIKE '%00' GROUP BY id"""

  /** Adjacency for subject orders (o_orderkey % 500 = 0): out-edges to
    * customers, in-edges from lineitems.
    */
  def adjacencyQ(s: SparkSession, d: String): DataFrame = {
    val subjects = graft.Tables.orders(s, d)
      .filter(col("o_orderkey") % 500 === 0)
      .select(concat(lit("o:"), col("o_orderkey").cast("string")).as("sid"))
    EntityStore.adjacency(refStatements(s, d), subjects)
  }

  val adjacencySql: String = s"""
    WITH $refSql,
    subjects AS (
      SELECT 'o:' || CAST(o_orderkey AS VARCHAR) AS sid FROM orders
      WHERE o_orderkey % 500 = 0
    )
    SELECT sid AS id, 'out' AS dir, prop, value AS other
    FROM refs JOIN subjects ON refs.entity_id = subjects.sid
    UNION ALL
    SELECT sid AS id, 'in' AS dir, prop, entity_id AS other
    FROM refs JOIN subjects ON refs.value = subjects.sid"""

  /** The versioned store's ADD/MOD/DEL digest compare
    * (`delta.py:1-4`) in the snapshot-diff shape where BOTH
    * versions derive from one statement frame — "from" is the rows
    * satisfying `fromCond`, "to" is every row. Both digests then ride
    * a single groupBy(id) over a single scan (a conditional
    * collect_list drops the null entries the condition masks, exactly
    * like filtering first), instead of two scans + two aggregations +
    * a full-outer join: 4 Exchanges → 1, and the join disappears.
    * DEL is unreachable by construction (from ⊆ to in id space), and
    * each digest is the md5 of the version's sorted `field=value`
    * entries joined by `|`, so the output is bit-identical to the
    * two-sided form over those digests — PROVIDED `id` is
    * non-null: the two-sided full-outer join never matches null keys
    * (emitting separate ADD+DEL rows for a null-id group) while this
    * groupBy folds them into one row. Every current caller feeds
    * non-null ids by construction.
    */
  private def deltaOpsOnePass(stmts: DataFrame,
      fromCond: org.apache.spark.sql.Column): DataFrame = {
    val entry = concat(col("field"), lit("="), col("value"))
    stmts.groupBy(col("id"))
      .agg(
        md5(concat_ws("|", array_sort(collect_list(entry)))).as("d_to"),
        md5(concat_ws("|", array_sort(collect_list(
          when(fromCond, entry))))).as("d_from"),
        max(when(fromCond, 1).otherwise(0)).as("in_from"))
      .select(col("id"),
        when(col("in_from") === 0, "ADD")
          .when(col("d_from") =!= col("d_to"), "MOD")
          .otherwise("SAME").as("op"))
      .filter(col("op") =!= "SAME")
  }

  /** Versioned-store ADD/MOD/DEL delta (`store/versioned.py:62-153`,
    * `delta.py:1-4`) over two simulated snapshots of the statement
    * corpus: the "from" version is missing every 7th entity (→ ADD in
    * "to") and lacks the Part `type` field for every 5th part (→ MOD).
    * Only per-entity digests join — content never ships.
    */
  def deltaQ(s: SparkSession, d: String): DataFrame = {
    val all = StarStatements(s, d)
      .withColumn("num", split(col("id"), ":").getItem(1).cast("long"))
    // both snapshot digests from ONE pass (deltaOpsOnePass): the
    // "from" version is a row-level filter of the same frame, so the
    // two per-version digest scans + full-outer join collapse into a
    // single groupBy(id)
    deltaOpsOnePass(all,
      col("num") % 7 =!= 0 &&
        !(col("field") === "type" && col("num") % 5 === 0))
  }

  val deltaSql: String = s"""
    WITH ${StarStatements.sql.trim},
    numbered AS (
      SELECT id, field, value,
             CAST(split_part(id, ':', 2) AS BIGINT) AS num
      FROM stmts
    ),
    d_to AS (
      SELECT id, md5(array_to_string(list_sort(list(field || '=' || value)),
               '|')) AS d_to
      FROM numbered GROUP BY id
    ),
    d_from AS (
      SELECT id, md5(array_to_string(list_sort(list(field || '=' || value)),
               '|')) AS d_from
      FROM numbered
      WHERE num % 7 <> 0 AND NOT (field = 'type' AND num % 5 = 0)
      GROUP BY id
    )
    SELECT COALESCE(f.id, t.id) AS id,
           CASE WHEN f.id IS NULL THEN 'ADD'
                WHEN t.id IS NULL THEN 'DEL'
                ELSE 'MOD' END AS op
    FROM d_from f FULL OUTER JOIN d_to t ON f.id = t.id
    WHERE f.id IS NULL OR t.id IS NULL OR f.d_from <> t.d_to"""

  /** Pack/unpack round-trip (`store/util.py:7-47` wire form, applied to
    * the star statement projection): statements → compact JSON tuple →
    * parsed back, emitted alongside the packed string so the oracle
    * hash-compare proves both directions byte-for-byte.
    */
  def packQ(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val packed = StarStatements(s, d)
      .select(col("id"),
        to_json(array(col("schema"), col("field"), col("value")))
          .as("packed"))
    packed
      .select(col("id"), col("packed"),
        from_json(col("packed"), ArrayType(StringType)).as("a"))
      .select(col("id"), col("packed"),
        col("a")(0).as("r_schema"), col("a")(1).as("r_field"),
        col("a")(2).as("r_value"))
  }

  val packSql: String = s"""
    WITH ${StarStatements.sql.trim},
    packed AS (
      SELECT id, CAST(to_json([schema, field, value]) AS VARCHAR) AS packed
      FROM stmts
    )
    SELECT id, packed,
           json_extract_string(packed, '$$[0]') AS r_schema,
           json_extract_string(packed, '$$[1]') AS r_field,
           json_extract_string(packed, '$$[2]') AS r_value
    FROM packed"""

  /** Incremental MERGE end to end (`store/sql.py:90-177` upsert-on-id
    * semantics over the [[MergeLake]] delta-append layout): a stale v1
    * base (every 7th entity missing, every 3rd name stale), two
    * incremental batches (the missing entities, then the name
    * corrections plus re-asserted type rows), one compaction — and the
    * resolved lake read back. The oracle computes the expected FINAL
    * state arithmetically, so a hash match proves that N incremental
    * applies ≡ one batch write of the final corpus (and that compaction
    * preserved the resolve).
    *
    * The init/append/append/compact sequence runs inside the query on
    * purpose: the MERGE writer is the operator under test (and under
    * the bench clock), exactly like the reference's writer benchmark.
    */
  def mergeQ(s: SparkSession, d: String): DataFrame = {
    val num = split(col("id"), ":").getItem(1).cast("long")
    val all = StarStatements(s, d)
      .withColumn("stmt_id", concat(col("id"), lit("#"), col("field")))
      .withColumn("num", num)
    val base = all.filter(col("num") % 7 =!= 0)
      .withColumn("value",
        when(col("field") === "name" && col("num") % 3 === 0,
          concat(lit("OLD "), col("value"))).otherwise(col("value")))
      .withColumn("last_seen", lit("v1"))
    val delta1 = all.filter(col("num") % 7 === 0)
      .withColumn("last_seen", lit("v2"))
    val delta2 = all
      .filter((col("field") === "name" && col("num") % 3 === 0) ||
        (col("field") === "type" && col("num") % 5 === 0))
      .withColumn("last_seen", lit("v3"))
    val cols = Seq("stmt_id", "id", "schema", "field", "value", "last_seen")
      .map(col)
    // read-or-build like every stored artifact (IndexLake.stored) — the
    // apply sequence is deterministic per data dir, so a raced rebuild
    // is byte-equivalent
    val path = graft.IndexLake.stored(d, "q_store_merge") { p =>
      val tmp = p.toString
      MergeLake.init(base.select(cols: _*), tmp)
      MergeLake.append(delta1.select(cols: _*), tmp)
      MergeLake.append(delta2.select(cols: _*), tmp)
      MergeLake.compact(s, tmp): Unit
    }
    MergeLake.snapshot(s, path.toString).select(cols: _*)
  }

  val mergeSql: String = s"""
    WITH ${StarStatements.sql.trim},
    numbered AS (
      SELECT id || '#' || field AS stmt_id, id, schema, field, value,
             CAST(split_part(id, ':', 2) AS BIGINT) AS num
      FROM stmts
    )
    SELECT stmt_id, id, schema, field, value,
           CASE WHEN field = 'name' AND num % 3 = 0 THEN 'v3'
                WHEN field = 'type' AND num % 5 = 0 THEN 'v3'
                WHEN num % 7 = 0 THEN 'v2'
                ELSE 'v1' END AS last_seen
    FROM numbered"""

  /** Incremental inverted-reference maintenance end to end
    * ([[RefIndex]] — the stored `get_inverted` of reference
    * `store/sql.py:219-237`): orders are entities whose `customer`
    * property REFERENCES a customer entity. The v1 base misses every
    * 7th order and points every 3rd at a STALE (nonexistent) customer;
    * increment 1 adds the missing orders, increment 2 corrects the
    * stale references — so the fold must both ADD postings and RETRACT
    * the stale ones (tombstones), then a production compaction folds
    * the posting lake. The read-back aggregates live postings per
    * referenced customer; the oracle computes the same from the CLEAN
    * orders table, so a hash match proves N incremental ref folds ≡
    * one full-corpus inverted scan — the same proof shape as
    * q_blk_index_add. A non-entity statement per order (the order
    * date) rides along to prove the prop_type gate.
    */
  def refIndexAddQ(s: SparkSession, d: String): DataFrame = {
    val o = graft.Tables.orders(s, d)
    val num = col("o_orderkey").cast("long")
    val oid = concat(lit("o:"), col("o_orderkey").cast("string"))
    val cref = concat(lit("c:"), col("o_custkey").cast("string"))
    val all = o.select(
        concat(oid, lit("#c")).as("stmt_id"), oid.as("canonical_id"),
        lit("entity").as("prop_type"), cref.as("value"), num.as("num"))
      .unionByName(o.select(
        concat(oid, lit("#d")).as("stmt_id"), oid.as("canonical_id"),
        lit("date").as("prop_type"),
        col("o_orderdate").cast("string").as("value"), num.as("num")))
    val cols = Seq("stmt_id", "canonical_id", "prop_type", "value",
      "last_seen").map(col)
    val base = all.filter(col("num") % 7 =!= 0)
      .withColumn("value",
        when(col("prop_type") === "entity" && col("num") % 3 === 0,
          concat(lit("c:stale-"), col("value"))).otherwise(col("value")))
      .withColumn("last_seen", lit("v1"))
    val d1 = all.filter(col("num") % 7 === 0)
      .withColumn("last_seen", lit("v2"))
    val d2 = all.filter(col("num") % 3 === 0)
      .withColumn("last_seen", lit("v3"))
    val path = graft.IndexLake.stored(d, "q_ref_index_add") { tmp =>
      val lakeP = s"$tmp/lake"
      val idxP = s"$tmp/refidx"
      MergeLake.init(base.select(cols: _*), lakeP,
        bucketBy = "canonical_id")
      RefIndex.init(s, idxP, lakeP)
      def fold(delta: DataFrame, gen: String): Unit = {
        val ids = delta.select(col("canonical_id")).distinct()
          .collect().map(_.getString(0)).toSeq
        MergeLake.append(delta.select(cols: _*), lakeP)
        RefIndex.refresh(s, idxP, lakeP, ids, gen)
      }
      fold(d1, "v2")
      fold(d2, "v3")
      // production maintenance after the increment burst: fold the
      // posting deltas (and their tombstones) into the base
      RefIndex.maintain(s, idxP, compactEvery = 1)
    }
    RefIndex.postings(s, s"$path/refidx")
      .groupBy(col("ref"))
      .agg(count(lit(1)).as("n_referrers"),
        min(col("referrer")).as("min_referrer"),
        max(col("referrer")).as("max_referrer"))
  }

  val refIndexAddSql: String = """
    SELECT 'c:' || CAST(o_custkey AS VARCHAR) AS ref,
           count(*) AS n_referrers,
           min('o:' || CAST(o_orderkey AS VARCHAR)) AS min_referrer,
           max('o:' || CAST(o_orderkey AS VARCHAR)) AS max_referrer
    FROM orders
    GROUP BY 1"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_store_assemble" -> (assembleQ _),
    "q_store_entity_by_id" -> (entityByIdQ _),
    "q_store_adjacency" -> (adjacencyQ _),
    "q_store_delta" -> (deltaQ _),
    "q_store_merge" -> (mergeQ _),
    "q_ref_index_add" -> (refIndexAddQ _),
    "q_store_pack" -> (packQ _))

  val oracles: Map[String, String] = Map(
    "q_store_assemble" -> assembleSql,
    "q_store_entity_by_id" -> entityByIdSql,
    "q_store_adjacency" -> adjacencySql,
    "q_store_delta" -> deltaSql,
    "q_store_merge" -> mergeSql,
    "q_ref_index_add" -> refIndexAddSql,
    "q_store_pack" -> packSql)
}
