package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query: its Spark runner over an sf directory, the DuckDB SQL
  * its result must hash-equal on the same parquet tables, and whether
  * Bench counts it as a gate.
  *
  * A gate is an end-to-end parity harness (streaming, persisted index or
  * artifact, multi-epoch) whose elapsed time goes to checkpoint dirs,
  * file-stream micro-batches, partial writes and index build + re-read,
  * not to the plan under test; each has a batch or serve-path twin that
  * benches as an engine query. Bench keeps gate time in its own subtotal
  * so harness noise does not drown engine regressions. */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String,
    gate: Boolean = false)
