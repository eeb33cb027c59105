package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Config-driven star-schema decomposition (SURVEY.md §2 #11-#13).
  *
  * The reference's only "query language" is a two-column routing table
  * (`Field Config.xlsx` → silver.field): `column_name → target_table`.
  * Gold reads it, derives the distinct set of target tables
  * (`get_unique_targets`, dags/dag_etl_minio_to_postgres.py:152-155),
  * builds per-target column lists with key columns injected
  * (`get_dict_of_columns`, :159-189), and vertically partitions the wide
  * frame into one DataFrame per target
  * (`get_individual_dfs_in_dict`, :193-199).
  *
  * Engine shape: the config is *metadata* — it is collected to the driver
  * once, in one job (it is tiny by construction: one row per column of
  * the wide table), and used to synthesize plain `select` projections.
  * The wide frame itself is never collected; each split is a narrow
  * projection of the same (cached) scan, so at 100 TB this is N
  * column-pruned reads of one dataset with zero shuffles.
  */
object Split {

  /** Per-target column lists with key columns prepended (mirrors
    * `get_dict_of_columns(include_keys=True)`): the main table gets
    * `mainKeys`, each dimension in `dimKeys` gets its own key, every
    * other target gets `factKey`. Targets are the distinct normalized
    * (lower/trim) `target_table` values, sorted for determinism (the
    * reference iterates a Python set — order nondeterministic; SURVEY.md
    * §2 #11); each target's columns keep config row order (mirrors the
    * pandas filter at :165/:173/:181/:187). One driver-side metadata
    * collect of the whole routing table. */
  def columnLists(
      config: DataFrame,
      mainTable: String,
      mainKeys: Seq[String],
      dimKeys: Map[String, Seq[String]],
      factKey: Seq[String]): Map[String, Seq[String]] =
    config.select(lower(trim(col("target_table"))), col("column_name"))
      .collect().toSeq
      .groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .map { case (t, rows) =>
        val keys =
          if (t == mainTable) mainKeys
          else dimKeys.getOrElse(t, factKey)
        t -> (keys ++ rows.map(_.getString(1)))
      }.toMap

  /** Vertical partition: one narrow projection per target. The caller
    * should `.cache()` (or rely on parquet re-scan + column pruning for)
    * the wide frame — this replaces the reference's per-split
    * `df[cols].copy()` materialization. */
  def split(wide: DataFrame, lists: Map[String, Seq[String]]): Map[String, DataFrame] =
    lists.map { case (t, cols) => t -> wide.select(cols.map(col): _*) }
}
