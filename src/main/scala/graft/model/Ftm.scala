package graft.model

/** The Follow-the-Money ontology: schema hierarchy, property types,
  * matchability flags and caption rules the engine's operators need
  * (reference: the `followthemoney` model consumed all over
  * nomenklatura — e.g. schema compatibility `blocker/index.py:220-225`,
  * matchable filter `blocker/index.py:227-228`, property types driving
  * the tokenizer `blocker/tokenizer.py:40-58`).
  *
  * Definitions load from the bundled `ftm-model.json` resource — a
  * transcription of the published (MIT) followthemoney schema model:
  * ~65 schemata with their `extends` graph, abstract/matchable flags,
  * captions, featured lists and match-relevant core properties (the
  * full upstream model also carries labels/descriptions per property,
  * which nothing here consumes). Swapping in a regenerated dump of the
  * upstream model keeps working as long as the same keys exist. Parsed
  * once at class-load into plain Scala maps: tiny, immutable, shipped
  * to executors by closure capture — never a join against a "model
  * table".
  */
object Ftm {

  /** FtM property types (the registry). Statement values are always
    * strings; the type drives operator behaviour.
    */
  object T {
    val Name = "name"
    val Entity = "entity"
    val Country = "country"
    val Date = "date"
    val Number = "number"
    val Address = "address"
    val Identifier = "identifier"
    val StringT = "string"
    val Text = "text"
    val Email = "email"
    val Phone = "phone"
    val Url = "url"
    val Gender = "gender"
    val Topic = "topic"
    val Checksum = "checksum"
  }

  final case class Prop(name: String, tpe: String, matchable: Boolean = true)

  final case class Schema(
      name: String,
      isA: Seq[String],
      matchable: Boolean,
      caption: Seq[String],
      props: Seq[Prop],
      isAbstract: Boolean = false,
      featuredProps: Seq[String] = Nil)

  /** Schema definitions, loaded from the bundled model resource. */
  val schemata: Map[String, Schema] = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import scala.jdk.CollectionConverters._
    val in = getClass.getResourceAsStream("/graft/model/ftm-model.json")
    require(in != null, "ftm-model.json resource missing")
    val root =
      try new ObjectMapper().readTree(in)
      finally in.close()
    def strings(n: JsonNode): Seq[String] =
      if (n == null) Nil else n.elements().asScala.map(_.asText()).toSeq
    root.properties().asScala.map { e =>
      val name = e.getKey
      val s = e.getValue
      val props = Option(s.get("properties")).toSeq
        .flatMap(_.properties().asScala).map { p =>
          Prop(p.getKey, p.getValue.get("type").asText(),
            matchable = Option(p.getValue.get("matchable"))
              .forall(_.asBoolean()))
        }
      name -> Schema(name,
        isA = strings(s.get("extends")),
        // absent flag = not matchable (the upstream model's default)
        matchable = Option(s.get("matchable")).exists(_.asBoolean()),
        caption = strings(s.get("caption")),
        props = props,
        isAbstract = Option(s.get("abstract")).exists(_.asBoolean()),
        featuredProps = strings(s.get("featured")))
    }.toMap
  }

  /** Name-type tag for the logic-v2 name matcher (the followthemoney
    * `schema_type_tag` classification): PER for people, ORG for legal
    * entities, OBJ for named things (vessels, planes, wallets), UNK
    * otherwise — UNK schemata don't get name matching at all.
    */
  sealed trait NameTag
  case object PER extends NameTag
  case object ORG extends NameTag
  case object OBJ extends NameTag
  case object UNK extends NameTag

  def nameTypeTag(schema: String): NameTag = {
    val anc = ancestors(schema)
    if (anc.contains("Person")) PER
    else if (anc.contains("LegalEntity")) ORG
    else if (anc.contains("Vehicle") || anc.contains("CryptoWallet")) OBJ
    else UNK
  }

  /** Featured properties per schema — the public FtM `featured:` lists
    * (own declaration, not inherited, like `followthemoney`'s
    * `Schema.featured`). Consumed by the review-comparison ordering
    * (`tui/util.py:40-49`: featured props sort first).
    */
  val featured: Map[String, Seq[String]] =
    schemata.collect {
      case (n, s) if s.featuredProps.nonEmpty => n -> s.featuredProps
    }

  /** Display ordering weight per property type — `tui/util.py:9-17`
    * TYPE_ORDER: names first, then identifiers, dates, countries;
    * free text and URLs last.
    */
  val typeOrder: Map[String, Int] = Map(
    T.Name -> -6, T.Identifier -> -5, T.Date -> -4, T.Country -> -3,
    T.StringT -> -1, T.Text -> 3, T.Url -> 5)

  /** Property types whose values are match candidates (the FtM registry
    * `matchable` flag on types — distinct from per-prop matchability).
    * Drives the review filter `prop.type.matchable and not
    * prop.matchable` (`tui/util.py:56-58`).
    */
  val matchableTypes: Set[String] = Set(
    T.Name, T.Identifier, T.Date, T.Country, T.Address, T.Email,
    T.Phone, T.Url, T.Entity, T.Checksum)

  /** Transitive ancestors of a schema, including itself. */
  def ancestors(name: String): Set[String] = {
    def go(n: String): Set[String] =
      schemata.get(n).map(s => s.isA.flatMap(go).toSet + n).getOrElse(Set(n))
    go(name)
  }

  /** All properties visible on a schema (own + inherited). */
  def propsOf(name: String): Map[String, Prop] =
    ancestors(name).toSeq.flatMap(a =>
      schemata.get(a).toSeq.flatMap(_.props)).map(p => p.name -> p).toMap

  def isMatchable(name: String): Boolean =
    schemata.get(name).exists(_.matchable)

  /** Type of (schema, prop), resolving through the hierarchy. */
  def propType(schema: String, prop: String): Option[String] =
    propsOf(schema).get(prop).map(_.tpe)

  /** can_match: both matchable and related by descent (the FtM
    * `matchable_schemata` rule — Person matches LegalEntity but not
    * Company).
    */
  def canMatch(a: String, b: String): Boolean =
    isMatchable(a) && isMatchable(b) &&
      (ancestors(a).contains(b) || ancestors(b).contains(a))

  /** Compatibility pairs, normalized ls <= rs, each listed once — the
    * `schemata` table (`blocker/index.py:220-225`) that
    * [[graft.blocker.Blocker]] turns into a literal predicate.
    */
  val compatPairs: Seq[(String, String)] = {
    val ms = schemata.keys.filter(isMatchable).toSeq.sorted
    for { a <- ms; b <- ms if a <= b && canMatch(a, b) } yield (a, b)
  }

  /** Caption of an assembled entity: first value of the first caption
    * property that has one (`followthemoney` caption semantics, asserted
    * by the reference store tests — `tests/store/test_stores.py`).
    */
  def captionProps(schema: String): Seq[String] =
    schemata.get(schema).map(_.caption).getOrElse(Seq("name"))

  /** Most specific schema of a set (cluster merge): the one all others
    * are ancestors of; falls back to lexicographic min of the deepest.
    */
  def commonSchema(names: Seq[String]): String = {
    val distinct = names.distinct
    distinct.find(n => distinct.forall(o => ancestors(n).contains(o)))
      .getOrElse(distinct.minBy(n => (-ancestors(n).size, n)))
  }
}
