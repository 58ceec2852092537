package graft.enrich

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Config-file-driven enricher instantiation — the reference's
  * `enrichers/<name>.yml` shape (`enrichers/offshoreleaks.yml:1-8`) and
  * `make_enricher` loader (`enrich/__init__.py:26-43`,
  * `enrich/common.py:34-67`): a flat YAML document naming an enricher
  * `type` import path plus its knobs (`api`, `dataset`, `api_key`,
  * `strip_namespace`, `cache_days`, ...). The mirror engine keeps the
  * exact file format and option semantics — `${VAR}` environment
  * expansion on `api_key` (`yente.py:45`), `cache_days` defaulting to
  * 90 (`common.py:38`), boolean coercion on `strip_namespace` — and
  * resolves the type path onto the corresponding MIRROR enricher class
  * instead of an HTTP client.
  *
  * The parser is deliberately minimal, like
  * [[graft.matching.EntityBench.parseChecks]]: the enricher configs are
  * machine-regular flat `key: value` documents (no nesting, no
  * anchors), so a line reader covers the format without a YAML
  * dependency.
  */
object EnricherConfigs {

  /** A parsed enricher config: ordered raw keys plus the reference's
    * typed accessors.
    */
  final case class EnricherConfig(raw: Map[String, String],
      env: String => Option[String] = sys.env.get) {
    def name: String = raw.getOrElse("name", "")
    def title: String = raw.getOrElse("title", name)
    /** The `module:Class` import path (`make_enricher` pops it and
      * rejects paths without a colon).
      */
    def tpe: String = {
      val t = raw.getOrElse("type",
        sys.error("enricher config: missing 'type'"))
      require(t.contains(":"), s"Invalid import path: '$t'")
      t
    }
    def clazz: String = tpe.split(":", 2)(1)
    def api: Option[String] = raw.get("api")
    /** Yente dataset scope (`yente.py:36`, default "default"). */
    def dataset: String = raw.getOrElse("dataset", "default")
    /** `${VAR}`-expanded api key; empty after expansion → the
      * `YENTE_API_KEY` environment fallback (`yente.py:45-48`).
      */
    def apiKey: Option[String] = {
      val v = raw.get("api_key").map(expandVars(_, env)).map(_.trim)
        .filter(_.nonEmpty)
      v.orElse(env("YENTE_API_KEY"))
    }
    /** `common.py:38`: int, default 90. */
    def cacheDays: Int = raw.get("cache_days").map(_.toInt).getOrElse(90)
    /** `common.py as_bool` coercion. */
    def stripNamespace: Boolean =
      raw.get("strip_namespace").exists(asBool)
    def depth: Int = raw.get("depth").map(_.toInt).getOrElse(1)
  }

  private def asBool(v: String): Boolean =
    Set("true", "yes", "on", "1").contains(v.trim.toLowerCase)

  /** `os.path.expandvars` semantics: `${VAR}` and `$VAR` substitute
    * when set; an UNSET variable is left verbatim (so a missing
    * `${GRAPH_API_KEY}` stays visibly unexpanded rather than silently
    * vanishing — exactly what the reference's loader does).
    */
  def expandVars(v: String, env: String => Option[String]): String = {
    val pat = "\\$\\{([A-Za-z_][A-Za-z0-9_]*)\\}|\\$([A-Za-z_][A-Za-z0-9_]*)".r
    pat.replaceAllIn(v, m => {
      val key = Option(m.group(1)).getOrElse(m.group(2))
      java.util.regex.Matcher.quoteReplacement(
        env(key).getOrElse(m.matched))
    })
  }

  /** Parse a flat enricher YAML document: `key: value` lines, comments
    * and blanks dropped, values taken as plain scalars.
    */
  def parse(text: String,
      env: String => Option[String] = sys.env.get): EnricherConfig = {
    val Key = "^([A-Za-z_][\\w.]*):(.*)$".r
    val kvs = text.linesIterator
      // YAML comment rule: '#' starts a comment only at line start or
      // after whitespace — a '#' inside a value (api key, URL fragment)
      // is data.
      .map(_.replaceAll("(^|\\s)#.*$", ""))
      .filter(_.trim.nonEmpty)
      .map {
        case Key(k, v) => k -> v.trim
        case other =>
          sys.error(s"enricher config: unexpected line '$other'")
      }.toSeq
    EnricherConfig(kvs.toMap, env)
  }

  def load(path: String,
      env: String => Option[String] = sys.env.get): EnricherConfig =
    parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8), env)

  /** The loader's dispatch (`make_enricher`): resolve the configured
    * class onto its mirror implementation over the given mirror
    * statement table. Yente configs scope the mirror to their
    * `dataset` (the reference scopes the remote index the same way;
    * "default" means the whole index).
    */
  def makeYente(cfg: EnricherConfig, mirror: DataFrame,
      algorithm: String = graft.matching.Algorithms.default.name,
      cutoff: Option[Double] = None): YenteEnricher = {
    require(cfg.clazz == "YenteEnricher",
      s"Invalid enricher: '${cfg.tpe}' is not a yente config")
    val scoped =
      if (cfg.dataset == "default") mirror
      else mirror.filter(col("dataset") === cfg.dataset)
    new YenteEnricher(scoped,
      api = cfg.api.getOrElse("http://yente.local/"),
      algorithm = algorithm, cutoff = cutoff,
      stripNamespace = cfg.stripNamespace)
  }
}
