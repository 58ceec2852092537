package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Ftm

/** FtM entity ingestion and assembly — the real data path of the
  * reference engine: line-delimited JSON entities → statement rows →
  * (after canonicalization) assembled entities.
  *
  * Reference: ijson loader `store/__init__.py:26-45`, statement schema
  * `db.py:193-214`, assembly `store/base.py:74-89` (statements grouped by
  * canonical id, multi-valued props merged), entity writer
  * `cli.py:221-229`, adjacency `store/base.py:165-176`.
  *
  * Scale design: ingestion is `spark.read.json` with an explicit schema
  * (no sampling pass) followed by two narrow explodes — a pure map-side
  * pipeline that parallelizes by input split. Assembly is one
  * aggregation, so one shuffle, on `canonical_id` (the statement
  * table's natural partitioning key at 100 TB, so in a bucketed lake
  * this becomes shuffle-free) and no join. Property
  * typing uses a literal map baked into the plan (broadcast by closure),
  * never a join.
  */
object EntityStore {

  /** Explicit entity schema — no JSON schema inference at scale. */
  val entitySchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("schema", StringType),
    StructField("properties", MapType(StringType, ArrayType(StringType)))))

  /** Statement columns (FIXTURES.md §2 / reference `db.py:193-214`). */
  val statementCols: Seq[String] = Seq(
    "id", "entity_id", "canonical_id", "prop", "prop_type", "schema",
    "value", "original_value", "dataset", "origin", "lang", "external",
    "first_seen", "last_seen")

  def readIjson(s: SparkSession, path: String): DataFrame =
    s.read.schema(entitySchema).json(path)

  /** Store view: excludes enrichment-candidate (`external`) statements
    * unless requested (`store/memory.py:72-87`,
    * `store/versioned.py:288-296`).
    */
  def view(stmts: DataFrame, withExternal: Boolean = false): DataFrame =
    if (withExternal) stmts else stmts.filter(!col("external"))

  /** (schema:prop) → prop_type literal lookup map over the ontology. */
  private val propTypeMap: Map[String, String] = (for {
    sch <- Ftm.schemata.keys
    (p, prop) <- Ftm.propsOf(sch)
  } yield s"$sch:$p" -> prop.tpe).toMap

  /** Entities → statement rows. Properties unknown to the ontology are
    * dropped (the `cleaned=True` path of the reference loader). Each
    * entity also emits one `id` statement so property-less entities
    * survive round-trips (reference checksum statement semantics).
    */
  def statements(entities: DataFrame, dataset: String): DataFrame = {
    val tm = typedLit(propTypeMap)
    val prop = entities.select(
      col("id").as("entity_id"), col("schema"),
      explode(col("properties")).as(Seq("prop", "values")))
      .select(col("entity_id"), col("schema"), col("prop"),
        explode(col("values")).as("value"))
      .withColumn("prop_type",
        element_at(tm, concat(col("schema"), lit(":"), col("prop"))))
      .filter(col("prop_type").isNotNull)
    val idStmt = entities.select(
      col("id").as("entity_id"), col("schema"),
      lit("id").as("prop"), col("id").as("value"), lit("id").as("prop_type"))
    prop.unionByName(idStmt)
      .select(
        md5(concat_ws("|", lit(dataset), col("entity_id"), col("prop"),
          col("value"))).as("id"),
        col("entity_id"),
        col("entity_id").as("canonical_id"),
        col("prop"), col("prop_type"), col("schema"), col("value"),
        lit(null).cast("string").as("original_value"),
        lit(dataset).as("dataset"),
        lit(null).cast("string").as("origin"),
        lit(null).cast("string").as("lang"),
        lit(false).as("external"),
        lit(null).cast("timestamp").as("first_seen"),
        lit(null).cast("timestamp").as("last_seen"))
  }

  private val commonSchemaUdf =
    udf((names: Seq[String]) => Ftm.commonSchema(names))

  private val captionUdf = udf(
    (schema: String, props: Map[String, Seq[String]], id: String) =>
      Ftm.captionProps(schema).iterator
        .flatMap(p => props.getOrElse(p, Nil).headOption)
        .nextOption().getOrElse(id))

  /** Statements → assembled entities, grouped by `canonical_id`: one
    * aggregation, so one shuffle; properties become a map, in prop
    * order, of sorted distinct non-null values (a prop whose values are
    * all null maps to an empty array; an entity with only its `id`
    * statement gets an empty map), built in-row from the collected
    * (prop, value) pairs — props per entity are few, as in
    * [[StoreQueries.assembleQ]]; `referents` = source entity ids beyond
    * the canonical; caption and merged schema follow FtM rules
    * (`store/base.py:74-89`).
    */
  def assemble(stmts: DataFrame): DataFrame = {
    val grouped = stmts.groupBy(col("canonical_id")).agg(
      commonSchemaUdf(collect_set(col("schema"))).as("schema"),
      array_sort(collect_set(col("dataset"))).as("datasets"),
      collect_set(col("entity_id")).as("members"),
      collect_list(when(col("prop") =!= "id",
        struct(col("prop"), col("value")))).as("pv"))
    val props = array_sort(array_distinct(transform(col("pv"), _("prop"))))
    grouped
      .select(col("canonical_id").as("id"), col("schema"),
        map_from_entries(transform(props, p => struct(p,
          array_sort(array_distinct(filter(
            transform(filter(col("pv"), _("prop") === p), _("value")),
            _.isNotNull)))))).as("properties"),
        col("datasets"),
        array_sort(filter(col("members"), e => e =!= col("canonical_id")))
          .as("referents"))
      .withColumn("caption",
        captionUdf(col("schema"), col("properties"), col("id")))
  }

  /** Assembled entities → ijson lines (`cli.py:221-229`). */
  def toIjson(assembled: DataFrame): DataFrame =
    assembled.select(to_json(struct(col("id"), col("schema"),
      col("properties"))).as("line"))

  /** Adjacency expansion (`store/base.py:165-176`): for a set of subject
    * ids, both directions of entity-reference statements —
    * out: subject's own `entity`-type props; in: statements elsewhere
    * pointing at the subject. ONE scan of the statement table
    * (pre-filtered to `prop_type = 'entity'`): each ref row emits its
    * two (direction, probe-key) pairs through a Generate and a single
    * broadcast-hash join serves both directions — the r12 two-join
    * shape evaluated the (union-of-base-tables) statement side twice,
    * which at lake scale is twice the scan bytes for the same rows
    * (the q_enrich_permid one-scan restructure, applied here).
    */
  def adjacency(refStmts: DataFrame, subjects: DataFrame): DataFrame = {
    val refs = refStmts.filter(col("prop_type") === "entity")
      .select(col("entity_id"), col("prop"), col("value"))
    val subj = broadcast(subjects.select(col("sid")))
    refs.select(col("entity_id"), col("prop"), col("value"),
        explode(array(
          struct(lit("out").as("dir"), col("entity_id").as("key")),
          struct(lit("in").as("dir"), col("value").as("key")))).as("k"))
      .join(subj, col("k.key") === col("sid"))
      .select(col("sid").as("id"), col("k.dir").as("dir"), col("prop"),
        when(col("k.dir") === "out", col("value"))
          .otherwise(col("entity_id")).as("other"))
  }
}
