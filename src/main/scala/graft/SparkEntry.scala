package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each module contributes a (queries, oracles) pair; this object is just
  * the concatenation the driver harness consumes.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    store.RelationalOps.aggPricing(spark, "/root/testdata/sf0.001")

  type Query = (SparkSession, String) => DataFrame

  /** The query names `SPARK_GRAFT_ONLY` lists (comma-separated, each
    * name trimmed), or every query's when it is unset, in name order:
    * the one subset rule of Bench, Verify and the tools. An unknown name
    * throws, naming it, before any Spark job.
    */
  def only(list: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Seq[String] =
    select(list.fold(queries.keys.toSeq)(
      _.split(",").map(_.trim).filter(_.nonEmpty).toSeq)).map(_._1)

  /** `names`' queries in name order; an unknown name throws. */
  def select(names: Seq[String]): Seq[(String, Query)] = {
    val all = queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")}")
    names.distinct.sorted.map(n => n -> all(n))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Query] =
    store.RelationalOps.queries ++ store.StoreQueries.queries ++
      blocker.BlockerQueries.queries ++
      resolver.ResolverQueries.queries ++ matching.MatchingQueries.queries ++
      dedup.DedupQueries.queries ++ similarity.SimilarityQueries.queries ++
      similarity.KMeans.queries ++ similarity.Pq.queries ++
      similarity.SemDedup.queries ++
      search.Search.queries ++
      textanalysis.TextAnalysis.queries ++
      textanalysis.Sketches.queries ++
      textanalysis.Curation.queries ++ textanalysis.Pii.queries ++
      textanalysis.Bpe.queries ++ textanalysis.LangModel.queries ++
      textanalysis.Classifier.queries ++
      streaming.EventOps.queries ++
      multimodal.Multimodal.queries ++ enrich.EnricherQueries.queries ++
      enrich.WikidataQueries.queries ++ enrich.NominatimQueries.queries ++
      enrich.OpenCorporatesQueries.queries ++
      enrich.OpenFigiQueries.queries ++ enrich.YenteQueries.queries ++
      enrich.PermIdQueries.queries ++ enrich.BrightQueryQueries.queries ++
      enrich.ProposeQueries.queries ++ enrich.ReconcileQueries.queries ++
      enrich.WikipediaQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    store.RelationalOps.oracles ++ store.StoreQueries.oracles ++
      blocker.BlockerQueries.oracles ++
      resolver.ResolverQueries.oracles ++ matching.MatchingQueries.oracles ++
      dedup.DedupQueries.oracles ++ similarity.SimilarityQueries.oracles ++
      similarity.KMeans.oracles ++ similarity.SemDedup.oracles ++
      search.Search.oracles ++
      textanalysis.TextAnalysis.oracles ++
      textanalysis.Sketches.oracles ++
      textanalysis.Curation.oracles ++ textanalysis.Pii.oracles ++
      textanalysis.Bpe.oracles ++ textanalysis.LangModel.oracles ++
      textanalysis.Classifier.oracles ++
      streaming.EventOps.oracles ++
      multimodal.Multimodal.oracles ++ enrich.EnricherQueries.oracles ++
      enrich.WikidataQueries.oracles ++ enrich.NominatimQueries.oracles ++
      enrich.OpenCorporatesQueries.oracles ++
      enrich.OpenFigiQueries.oracles ++ enrich.YenteQueries.oracles ++
      enrich.PermIdQueries.oracles ++ enrich.BrightQueryQueries.oracles ++
      enrich.ProposeQueries.oracles ++ enrich.ReconcileQueries.oracles ++
      enrich.WikipediaQueries.oracles
}
