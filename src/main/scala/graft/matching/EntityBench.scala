package graft.matching

/** The entity-bench accuracy harness (reference
  * `contrib/entity_bench/benchmark.py:1-160` + `checks.yml`): a
  * hand-curated corpus of match/no-match entity pairs — the only
  * accuracy signal that is independent of the 826-case frozen
  * name-bench CSV the NameMatchV2 constants were fit against. Every
  * registered algorithm is scored over every check at a decision
  * threshold; the result is a per-schema confusion matrix plus mean
  * absolute loss (`benchmark.py Result.loss`).
  *
  * Driver-side and single-threaded like [[NameBench]]: this measures
  * per-pair comparator accuracy, not a cluster job. The YAML reader is
  * deliberately minimal — `checks.yml` is machine-regular (fixed
  * two-space indentation, plain scalars, no anchors), so a line parser
  * with plain-scalar folding covers it without a YAML dependency.
  */
object EntityBench {

  /** One benchmark pair (`benchmark.py Check`). `props` are the raw
    * YAML property maps for each side.
    */
  final case class Check(schema: String, isMatch: Boolean, label: String,
      query: Map[String, String], candidate: Map[String, String])

  /** Parse the `checks.yml` document. Recognized shape:
    * {{{
    * checks:
    *   - match: true
    *     schema: Person
    *     label: optional annotation
    *     query:
    *       name: Olaf Scholze
    *     candidate:
    *       name: Olaf Scholz
    * }}}
    * Comment lines are dropped; a non-key line indented deeper than its
    * key is YAML plain-scalar folding and appends to the previous value
    * with a single space (the multi-line Russian org names at
    * `checks.yml:1223`).
    */
  def parseChecks(text: String): Seq[Check] = {
    final case class Acc(var isMatch: Boolean = false,
        var schema: String = "", var label: String = "",
        var query: Map[String, String] = Map.empty,
        var candidate: Map[String, String] = Map.empty)
    val out = scala.collection.mutable.ArrayBuffer.empty[Check]
    var cur: Acc = null
    var nested: String = null // "query" | "candidate" | null
    var lastKey: (String, String) = null // (scope, key) for folding
    def flush(): Unit = if (cur != null) {
      out += Check(cur.schema, cur.isMatch, cur.label, cur.query,
        cur.candidate)
      cur = null
    }
    val Key = "^(\\s*)(- )?([A-Za-z_]\\w*):(.*)$".r
    for (raw <- text.linesIterator if raw.trim.nonEmpty
        if !raw.trim.startsWith("#")) {
      raw match {
        case Key(indent, dash, key, rest) =>
          val v = rest.trim
          (indent.length, dash != null, key) match {
            case (_, _, "checks") => // document root
            case (2, true, "match") =>
              flush()
              cur = new Acc(); nested = null
              cur.isMatch = v == "true"; lastKey = null
            case (4, false, "schema") => cur.schema = v; lastKey = null
            case (4, false, "label") =>
              cur.label = v; lastKey = ("label", "label")
            case (4, false, s @ ("query" | "candidate")) =>
              nested = s; lastKey = null
            case (6, false, k) if nested != null =>
              if (nested == "query") cur.query += (k -> v)
              else cur.candidate += (k -> v)
              lastKey = (nested, k)
            case _ =>
              sys.error(s"entity_bench yaml: unexpected line '$raw'")
          }
        case other =>
          // plain-scalar fold: continuation of the previous value
          require(lastKey != null, s"entity_bench yaml: stray line '$other'")
          val add = other.trim
          lastKey match {
            case ("label", _) => cur.label = cur.label + " " + add
            case ("query", k) => cur.query += (k -> (cur.query(k) + " " + add))
            case ("candidate", k) =>
              cur.candidate += (k -> (cur.candidate(k) + " " + add))
          }
      }
    }
    flush()
    out.toSeq
  }

  def loadChecks(path: String): Seq[Check] = {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))
    parseChecks(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Part-name composition order (`benchmark.py make_entity:40-49`). */
  private val PartOrder = Seq("firstName", "secondName", "middleName",
    "fatherName", "motherName", "lastName")

  /** Build the comparator view for one side of a check: `name` feeds
    * `names` directly; when absent, the full name is composed from the
    * part properties in the reference's order (`make_entity`). Part
    * properties also populate the typed fields so qualifier features
    * (first/last-name, dob, country, gender) see them.
    */
  def viewOf(schema: String, props: Map[String, String]): EntityView = {
    val names = props.get("name").toSeq ++ {
      if (props.contains("name")) Nil
      else {
        val composed = PartOrder.flatMap(props.get).mkString(" ").trim
        if (composed.nonEmpty) Seq(composed) else Nil
      }
    }
    EntityView(
      id = java.util.UUID.randomUUID().toString,
      schema = schema,
      names = names,
      weakAliases = props.get("weakAlias").toSeq,
      lastNames = props.get("lastName").toSeq,
      birthDates = props.get("birthDate").toSeq,
      genders = props.get("gender").toSeq,
      countries = (props.get("country").toSeq ++
        props.get("nationality").toSeq ++ props.get("jurisdiction").toSeq),
      identifiers = props.get("registrationNumber").toSeq,
      addresses = props.get("address").toSeq,
      addressEntityIds = Nil,
      firstNames = props.get("firstName").toSeq,
      birthPlaces = props.get("birthPlace").toSeq)
  }

  /** One scored check (`benchmark.py Result`). */
  final case class Result(check: Check, score: Double, threshold: Double) {
    val predicted: Boolean = score >= threshold
    val isCorrect: Boolean = predicted == check.isMatch
    val loss: Double = math.abs((if (check.isMatch) 1.0 else 0.0) - score)
  }

  /** Per-schema confusion row (`benchmark.py` "Confusion Matrix by
    * Schema" table).
    */
  final case class SchemaRow(schema: String, checks: Int, correct: Int,
      falsePositives: Int, falseNegatives: Int, avgLoss: Double) {
    def pctCorrect: Double = 100.0 * correct / math.max(1, checks)
  }

  final case class Report(algorithm: String, threshold: Double,
      rows: Seq[SchemaRow], total: SchemaRow,
      failures: Seq[Result])

  def run(checks: Seq[Check], algo: Algorithms.Algo,
      threshold: Double): Report = {
    val results = checks.map { c =>
      Result(c, algo.score(viewOf(c.schema, c.query),
        viewOf(c.schema, c.candidate)), threshold)
    }
    def row(schema: String, rs: Seq[Result]): SchemaRow = SchemaRow(
      schema, rs.size,
      correct = rs.count(_.isCorrect),
      falsePositives = rs.count(r => r.predicted && !r.isCorrect),
      falseNegatives = rs.count(r => !r.predicted && !r.isCorrect),
      avgLoss = if (rs.isEmpty) 0.0 else rs.map(_.loss).sum / rs.size)
    val rows = results.groupBy(_.check.schema).toSeq.sortBy(_._1)
      .map { case (s, rs) => row(s, rs) }
    Report(algo.name, threshold, rows, row("TOTAL", results),
      results.filterNot(_.isCorrect))
  }

  /** Format one report as the reference's console table, markdown-ish. */
  def format(r: Report): String = {
    val sb = new StringBuilder
    sb ++= graft.Record.fmt("## %s @ %.1f%n", r.algorithm, r.threshold)
    sb ++= "| schema | checks | correct | % | FP | FN | avg loss |\n"
    sb ++= "|---|---|---|---|---|---|---|\n"
    for (row <- r.rows :+ r.total)
      sb ++= graft.Record.fmt("| %s | %d | %d | %.1f | %d | %d | %.3f |%n",
        row.schema, row.checks, row.correct, row.pctCorrect,
        row.falsePositives, row.falseNegatives, row.avgLoss)
    sb.toString
  }

  val DefaultChecksPath =
    "/root/reference/contrib/entity_bench/checks.yml"

  /** Run every registered algorithm at the given thresholds. */
  def runAll(checks: Seq[Check],
      thresholds: Seq[Double] = Seq(0.5, 0.7, 0.9)): Seq[Report] =
    for {
      name <- Algorithms.registry.keys.toSeq.sorted
      t <- thresholds
    } yield run(checks, Algorithms.registry(name), t)
}
