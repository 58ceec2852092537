package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded workload inputs. The base rows are the star tables and the
  * documents of the synthetic test data at scale factor 0.1 (only the
  * columns used here are kept, under `data/`); a scale factor `sf`
  * takes the key prefix the generator gives at that scale (150 000·sf
  * customers, 10 000·sf suppliers, 200 000·sf parts, 50 000·sf
  * documents). The seed decides which base rows get planted copies and
  * how each copy is perturbed, so one seed always gives the same inputs.
  */
object Inputs {

  /** One star entity: id, FtM schema, name. */
  final case class Ent(id: String, schema: String, name: String)

  /** What was planted, for the output checks. `exact` and `near` map a
    * planted copy's id to the base id it copies; `fresh` are entities
    * that match nothing.
    */
  final case class Plant(exact: Map[String, String],
      near: Map[String, (String, String)], fresh: Seq[String]) {
    def nearKinds: Map[String, Int] =
      near.values.groupBy(_._2).map { case (k, v) => k -> v.size }
  }

  val NearKinds: Seq[String] = Seq("drop", "reorder", "punct", "case")

  /** The star corpus: customer → Person, supplier → Company,
    * part → Organization, one name statement each.
    */
  def starBase(spark: SparkSession, data: String, sf: Double): Seq[Ent] = {
    def take(t: String, key: String, name: String, n: Long, prefix: String,
        schema: String): Seq[Ent] =
      spark.read.parquet(s"$data/$t.parquet").filter(col(key) < n)
        .orderBy(col(key)).collect().toSeq
        .map(r => Ent(s"$prefix:${r.getLong(0)}", schema, r.getString(1)))
    take("customer", "c_custkey", "c_name", math.round(150000 * sf), "c",
      "Person") ++
      take("supplier", "s_suppkey", "s_name", math.max(1L,
        math.round(10000 * sf)), "s", "Company") ++
      take("part", "p_partkey", "p_name", math.round(200000 * sf), "p",
        "Organization")
  }

  /** A near copy of a name: drop its first token, reverse its tokens,
    * re-punctuate, or change its case.
    */
  def perturb(name: String, kind: String): String = {
    val toks = name.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq
    kind match {
      case "drop" if toks.size > 1 => toks.tail.mkString(" ")
      case "reorder" => toks.reverse.mkString(" ")
      case "punct" => toks.mkString(", ") + "."
      case _ => name.toUpperCase(java.util.Locale.ROOT)
    }
  }

  /** Plant copies of a share of `base` entities that carry a unique name
    * (customers and suppliers; part names repeat across the corpus) and
    * add fresh entities matching nothing. Copy ids get `tag` appended,
    * so every planting call yields new ids.
    */
  def plant(base: Seq[Ent], rnd: java.util.Random, exactShare: Double,
      nearShare: Double, freshShare: Double, tag: String): (Seq[Ent], Plant) = {
    val out = Seq.newBuilder[Ent]
    var exact = Map.empty[String, String]
    var near = Map.empty[String, (String, String)]
    base.filter(e => !e.id.startsWith("p:")).foreach { e =>
      val u = rnd.nextDouble()
      if (u < exactShare) {
        val id = s"${e.id}$tag"
        out += e.copy(id = id)
        exact += id -> e.id
      } else if (u < exactShare + nearShare) {
        val id = s"${e.id}$tag"
        val kind = NearKinds(rnd.nextInt(NearKinds.size))
        out += e.copy(id = id, name = perturb(e.name, kind))
        near += id -> (e.id, kind)
      }
    }
    val nFresh = math.max(1, math.round(base.size * freshShare).toInt)
    val fresh = (0 until nFresh).map { i =>
      val key = 900000000L + rnd.nextInt(90000000)
      Ent(s"n:$i$tag", "Person", f"Customer#$key%09d")
    }
    out ++= fresh
    (out.result(), Plant(exact, near, fresh.map(_.id)))
  }

  /** Entities of one dataset as rows of the engine's statement table,
    * with the merge-lake key (`stmt_id`) and a generation stamp.
    */
  def statements(spark: SparkSession, ents: Seq[Ent], dataset: String,
      gen: String): DataFrame = {
    import spark.implicits._
    ents.map(e => (e.id, e.schema, e.name)).toDF("canonical_id", "schema",
        "value")
      .select(
        md5(concat_ws("|", col("canonical_id"), lit("name"), col("value")))
          .as("id"),
        col("canonical_id").as("entity_id"), col("canonical_id"),
        lit("name").as("prop"), lit("name").as("prop_type"), col("schema"),
        col("value"), lit(null).cast("string").as("original_value"),
        lit(dataset).as("dataset"), lit(null).cast("string").as("origin"),
        lit(null).cast("string").as("lang"), lit(false).as("external"),
        lit(null).cast("timestamp").as("first_seen"),
        lit(gen).as("last_seen"))
      .withColumn("stmt_id", col("id"))
  }

  /** Documents with planted exact copies (same text, new id) and near
    * copies (one word dropped or one word added). Returns the frame and
    * the planted counts.
    */
  def documents(spark: SparkSession, data: String, nDocs: Int,
      rnd: java.util.Random, exactShare: Double, nearShare: Double)
      : (Seq[(Long, String, String, String)], Int, Int) = {
    val base = spark.read.parquet(s"$data/documents.parquet")
      .filter(col("doc_id") < nDocs).orderBy(col("doc_id")).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))
    var next = 10000000L
    var nExact = 0
    var nNear = 0
    val extra = base.flatMap { case (_, text, lang, src) =>
      val u = rnd.nextDouble()
      if (u < exactShare) {
        nExact += 1; next += 1
        Some((next, text, lang, src))
      } else if (u < exactShare + nearShare) {
        val w = text.split(" ")
        val i = rnd.nextInt(w.length)
        val t2 =
          if (rnd.nextBoolean() && w.length > 8) w.patch(i, Nil, 1)
          else w.patch(i, Seq(w(rnd.nextInt(w.length))), 0)
        nNear += 1; next += 1
        Some((next, t2.mkString(" "), lang, src))
      } else None
    }
    (base ++ extra, nExact, nNear)
  }
}
