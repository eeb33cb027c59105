package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** The engine's entry points — see SURVEY.md §7.
  *
  * `registry` holds one [[Query]] record per implemented operator
  * (SURVEY.md §2 inventory + §7.5 extensions), assembled from the
  * per-domain modules under `graft.queries`; `queries` and `oracleSql`
  * are its name-keyed views.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full §7.3 medallion chain: clean → hash keys → dedup →
    * deterministic surrogate ids. */
  def entry(spark: SparkSession): DataFrame =
    RefQueries.medallion(spark, "/root/testdata/sf0.001")

  /** Every query record, in module order. */
  lazy val registry: Seq[Query] = registryOf(
    RefQueries.queries ++ RelationalQueries.queries ++ EventQueries.queries ++
      TextQueries.queries ++ SimilarityQueries.queries ++
      AdvancedQueries.queries ++ CurationQueries.queries)

  /** `qs` unchanged, or an error naming every name it holds twice. */
  private[graft] def registryOf(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap
}
