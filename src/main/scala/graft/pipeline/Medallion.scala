package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.etl._
import graft.io.{Sinks, Sources}
import graft.tools.Par

/** The full medallion pipeline (SURVEY.md §3): bronze (format
  * unification) → silver (standardize/clean) → gold (config-driven
  * star-schema normalization). One Spark application, one lazy plan per
  * sink — versus the reference's three Airflow subprocesses with full
  * materialization and XCom hand-offs between each (§3.1).
  *
  * The gold stage reproduces the reference's semantics exactly
  * (dags/dag_etl_minio_to_postgres.py:365-597) with engine-side
  * mechanics: sha256-prefix hash keys instead of row-wise Python
  * hashing, `dropDuplicates` dims, `row_number` surrogate ids instead
  * of SERIAL+RETURNING read-backs, and broadcast FK joins instead of
  * the global `id_mapping` dict.
  */
object Medallion {

  /** How the main table's surrogate id is assigned (§2 #20 scale
    * switch). Dimensions always take the ordered dense id — they are
    * small by construction (dedup output). The MAIN table is input-
    * sized, so its id strategy must scale with it:
    *
    *  - [[IdStrategy.Ordered]]: `row_number` over a global sort —
    *    dense 1..N ids ordered by key, reference parity, but funnels
    *    every row through ONE task. Right answer ≤ a few 100 MB.
    *  - [[IdStrategy.Distributed]]: partition-local ids interleaved by
    *    partition ([[Dims.withDistributedId]]) — unique 64-bit ids, no
    *    global sort, any scale; not order-correlated.
    *  - [[IdStrategy.Auto]] (default): pick by Catalyst's plan-size
    *    estimate for the main frame — the SAME signal Spark's
    *    broadcast-join threshold uses, and the single-task global sort
    *    is exactly a broadcast-class operation. Estimates at or under
    *    `maxBytes` stay Ordered with NO extra job (the decision reads
    *    `optimizedPlan.stats`, so the pipeline stays lazy). An
    *    over-threshold estimate is CONFIRMED by a bounded row probe
    *    (`limit(probeRows+1).count()`) before flipping: RDD-backed
    *    inputs (`spark.createDataFrame(rdd, schema)`) have no real
    *    stats — Catalyst reports `defaultSizeInBytes` ≈ Long.MaxValue,
    *    and column pruning scales that to arbitrary huge numbers — so
    *    the estimate alone would misread any driver-constructed frame
    *    as fact-sized. The probe is scale-safe: LocalLimit
    *    short-circuits, so its cost is bounded by `probeRows`
    *    regardless of input size, and it only runs when the estimate
    *    already exceeded the threshold. File-backed inputs (the
    *    production path) carry real file-size stats, so at
    *    test/reference scales Auto resolves to Ordered without any
    *    job, keeping the ref_* oracles (which replay the ordered dense
    *    ids in SQL) byte-stable.
    */
  sealed trait IdStrategy
  object IdStrategy {
    case object Ordered extends IdStrategy
    case object Distributed extends IdStrategy
    /** `maxBytes` mirrors the spirit of
      * `spark.sql.autoBroadcastJoinThreshold`: up to this estimated
      * plan size the one-task sort is cheap; beyond it the global
      * window would be the pipeline's bottleneck at 100 TB.
      * `probeRows` bounds the confirming count when the estimate is
      * over threshold (or unknown): up to this many rows the one-task
      * `row_number` sort is still comfortably cheap. */
    final case class Auto(
        maxBytes: Long = 256L << 20,
        probeRows: Long = 1L << 20) extends IdStrategy
  }

  /** Gold-stage shape parameters (the reference hard-codes these for
    * its real-estate dataset; the engine takes them as config). */
  case class GoldSpec(
      mainTable: String,
      naturalKeyCols: Seq[String],
      mainHashKeyCols: Seq[String],
      dimKeyCols: Map[String, Seq[String]],
      surrogateIdCol: String = "id",
      mainIdStrategy: IdStrategy = IdStrategy.Auto())

  /** bronze: any supported format → one CSV object (SURVEY.md §3.2).
    * Returns the object's path with the schema of the raw frame it was
    * written from, so silver can read it back without inferring again. */
  def bronze(spark: SparkSession, rawPath: String,
             bronzeDir: String): (String, StructType) = {
    val df = Sources.read(spark, rawPath)
    val name = rawPath.substring(rawPath.lastIndexOf('/') + 1).takeWhile(_ != '.')
    Sinks.csvSingleFile(df, bronzeDir, name) -> df.schema
  }

  /** silver: standardize headers, trim/lower strings, typed null fill
    * (SURVEY.md §3.3). One collapsed projection. */
  def silver(df: DataFrame): DataFrame = Clean.clean(df)

  /** silver for the field-config frame: headers AND the column_name
    * VALUES are standardized (reference :291-293). Order matters and
    * mirrors the reference: standardize the values BEFORE trim_strings —
    * trim lowercases everything, which would destroy the camelCase
    * word boundaries snake_casing needs (`BasementYesNo` would become
    * `basementyesno`, not `basement_yes_no`). */
  def silverConfig(df: DataFrame): DataFrame =
    Clean.trimStrings(
      Standardize.standardizeHeaders(df)
        .withColumn("column_name", Standardize.snakeCaseCol(col("column_name"))))

  /** gold: the star-schema normalization (SURVEY.md §3.4). Returns one
    * DataFrame per target table, surrogate-keyed and FK-resolved.
    *
    * Scale notes: the wide frame is cached once and re-read by N narrow
    * projections (§2 #13); dims are small by definition (dedup output)
    * so their row_number windows and the FK joins broadcast; the main
    * table's surrogate-id window is the one global sort — swap
    * [[Dims.withDistributedId]] in when the main table is
    * fact-sized. */
  def gold(wide0: DataFrame, config: DataFrame, spec: GoldSpec): Map[String, DataFrame] =
    gold(wide0, routing(config, spec), spec)._2

  /** The gold column routing: the config's per-target column lists with
    * the spec's key columns injected (reference :393-401). One
    * driver-side collect of the config ([[Split.columnLists]]). */
  private def routing(config: DataFrame, spec: GoldSpec): Map[String, Seq[String]] = {
    val mainKey = s"${spec.mainTable}_key"
    Split.columnLists(
      config,
      mainTable = spec.mainTable,
      mainKeys = Seq("natural_key", mainKey) ++ spec.dimKeyCols.keys.toSeq.sorted.map(d => s"${d}_key"),
      dimKeys = spec.dimKeyCols.keys.map(d => d -> Seq(s"${d}_key")).toMap,
      factKey = Seq(mainKey))
  }

  /** The cached keyed wide frame and the gold tables that project it. */
  private def gold(wide0: DataFrame, lists: Map[String, Seq[String]],
                   spec: GoldSpec): (DataFrame, Map[String, DataFrame]) = {
    // 1. key synthesis on the wide frame (reference :386-391)
    val dimKeyed = spec.dimKeyCols.foldLeft(wide0) { case (df, (dim, cols)) =>
      df.withColumn(s"${dim}_key", Keys.hashKey(cols.map(col)))
    }
    val wide = dimKeyed
      .withColumn("natural_key", Keys.naturalKey(spec.naturalKeyCols.map(col)))
      .withColumn(s"${spec.mainTable}_key", Keys.hashKey(spec.mainHashKeyCols.map(col)))
      .cache()

    // 2. vertical split along the config-driven routing
    val mainKey = s"${spec.mainTable}_key"
    val frames = Split.split(wide, lists)

    // 3. dims: dedup + deterministic surrogate ids (:410-411, :481-485)
    val dims = spec.dimKeyCols.keys.map { d =>
      d -> Dims.withSurrogateId(
        Dims.dedup(frames(d)), spec.surrogateIdCol, Seq(col(s"${d}_key")))
    }.toMap

    // 4. main table: surrogate id ordered by its hash key (:478) up to
    //    the Auto size threshold; beyond it, distributed ids — the
    //    main table is the only input-sized gold output, so it alone
    //    carries the scale switch (dims stay Ordered: small by
    //    construction)
    val mainFrame = frames(spec.mainTable)
    val useOrdered = spec.mainIdStrategy match {
      case IdStrategy.Ordered => true
      case IdStrategy.Distributed => false
      case IdStrategy.Auto(maxBytes, probeRows) =>
        mainFrame.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes ||
          // estimate over threshold (or unknown — RDD-backed frames
          // report ~Long.MaxValue): confirm with a bounded probe
          mainFrame.limit(
            (probeRows + 1).min(Int.MaxValue.toLong).toInt).count() <= probeRows
    }
    val main =
      if (useOrdered)
        Dims.withSurrogateId(mainFrame, spec.surrogateIdCol,
          Seq(col(mainKey), col("natural_key")))
      else Dims.withDistributedId(mainFrame, spec.surrogateIdCol)

    // 5. facts: property_key → property_id broadcast join + id-first
    //    reorder (:490-496)
    val mainIds = main.select(col(mainKey), col(spec.surrogateIdCol))
    val facts = (lists.keySet -- dims.keySet - spec.mainTable).map { f =>
      f -> Reorder.lastToFirst(
        Dims.resolveFk(frames(f), mainIds, mainKey,
          spec.surrogateIdCol, s"${spec.mainTable}_id"))
    }.toMap

    wide -> (dims ++ facts + (spec.mainTable -> Reorder.keyFirst(main, spec.surrogateIdCol)))
  }

  /** CREATE TABLE DDLs for the gold outputs, reproducing the
    * reference's constraint surface (SURVEY.md §2 #21) for the JDBC
    * sink: UNIQUE on dim keys, facts FK→main, main FK→dims. Ids are
    * engine-assigned (no SERIAL — the read-back pattern is gone). */
  def goldDdls(
      gold: Map[String, DataFrame], spec: GoldSpec,
      schemaName: String = "gold"): Map[String, String] =
    gold.map { case (t, df) =>
      val isDim = spec.dimKeyCols.contains(t)
      // a referenced column must itself be UNIQUE/PK for the facts'
      // FOREIGN KEY to be valid DDL, so the main table's surrogate id
      // is declared unique (surfaced by the live-Derby gold round-trip
      // in GoldJdbcSpec — Postgres enforces the same rule)
      val unique =
        if (isDim) Seq(s"${t}_key")
        else if (t == spec.mainTable) Seq(spec.surrogateIdCol)
        else Nil
      val fks: Map[String, String] =
        if (t == spec.mainTable)
          spec.dimKeyCols.keys.map(d =>
            s"${d}_key" -> s"$schemaName.$d(${d}_key)").toMap
        else if (!isDim)
          Map(s"${spec.mainTable}_id" ->
            s"$schemaName.${spec.mainTable}(${spec.surrogateIdCol})")
        else Map.empty
      t -> Sinks.createTableDdl(df.schema, schemaName, t, None, unique, fks)
    }

  /** The reference's own gold spec (SURVEY.md §1.3). */
  val referenceSpec: GoldSpec = GoldSpec(
    mainTable = "property",
    naturalKeyCols = Seq("property_title", "zip"),
    mainHashKeyCols = Seq("property_title", "zip"),
    dimKeyCols = Map(
      "hoa" -> Seq("hoa", "hoa_flag"),
      "taxes" -> Seq("taxes")))

  /** End-to-end: raw files → bronze CSVs → silver frames → gold star
    * schema. Silver reads each bronze CSV with the schema bronze already
    * has for it (the raw frame's), not with a second header scan and
    * inference scan: the CSV is that frame's own text, and inference
    * over it yields the same schema (pinned on the fixture by
    * MedallionSpec). The data leg (raw → bronze → silver) and the config
    * leg (workbook → bronze → silver → column routing) share nothing
    * until gold, so they run concurrently ([[graft.tools.Par]]); the
    * gold frames themselves stay lazy. */
  def run(
      spark: SparkSession,
      dataPath: String, configPath: String,
      bronzeDir: String, spec: GoldSpec): Map[String, DataFrame] =
    runCached(spark, dataPath, configPath, bronzeDir, spec)._2

  /** [[run]], also returning the cached keyed wide frame every gold
    * table projects, for a caller that unpersists it after its writes. */
  private[pipeline] def runCached(
      spark: SparkSession,
      dataPath: String, configPath: String,
      bronzeDir: String, spec: GoldSpec): (DataFrame, Map[String, DataFrame]) = {
    def bronzeRead(rawPath: String): DataFrame = {
      val (path, schema) = bronze(spark, rawPath, bronzeDir)
      Sources.read(spark, path, Some(schema))
    }
    val Seq(Left(silverData), Right(lists)) = Par.run(2)(Seq(
      () => Left(silver(bronzeRead(dataPath))),
      () => Right(routing(silverConfig(bronzeRead(configPath)), spec))))
    gold(silverData, lists, spec)
  }
}
