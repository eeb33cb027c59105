package graft

import org.apache.spark.sql.SparkSession

/** Physical-plan inspection for the plan-shape assertions the engine is
  * designed around (run: `sbt "runMain graft.Explain [sfDir] [query…]"`).
  * Prints `explain("formatted")` so PushedFilters / ReadSchema /
  * broadcast choices / WholeStageCodegen spans are visible; a per-query
  * evidence file (plans/<round>/) is this output for that one query,
  * redirected. Harness queries with multiple internal actions print the
  * plan of the RETURNED frame (the oracle surface); their internal job
  * structure is measured by [[graft.tools.Profile]] instead. */
object Explain {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.col
  import graft.ops.Dedup

  /** Pre-checkpoint plans for operators whose public query surface
    * eagerly materializes (`localCheckpoint(true)` — the cache-hygiene
    * pattern) and therefore explains as a bare ExistingRDD scan. These
    * pseudo-queries rebuild the same logical frame WITHOUT the
    * checkpoint so the join/aggregate shape stays inspectable. */
  private[graft] val innerPlans: Map[String, (SparkSession, String) => DataFrame] = Map(
    "inner_minhash_pairs" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val shingled = Dedup.docShingles(docs, "text", "doc_id")
      Dedup.verifyJaccard(
          Dedup.lshCandidatePairs(Dedup.minhashSignatures(shingled)), shingled)
        .filter(col("jaccard") >= 0.8)
    }),
    "inner_ngram_join" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // 0.5 = the threshold q_dedup_ngram_jaccard actually runs
      Dedup.ngramJaccardFrame(Dedup.docShingles(docs, "text", "doc_id"), 0.5)
    }),
    "inner_pack_docs" -> ((s, dir) => {
      // the bodies-carried packing frame q_pack_shards writes: the
      // bucket repartition must be the plan's ONLY exchange
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .withColumn("tok",
          org.apache.spark.sql.functions.size(
            graft.ops.Text.tokens(col("text"))).cast("long"))
      graft.ops.Packing.packDocs(docs, "doc_id", "tok", 256L, 32)
    }))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val which = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = Session.local()
    (SparkEntry.queries ++ innerPlans)
      .filter { case (name, _) => which.isEmpty || which.contains(name) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
        spark.catalog.clearCache()
      }
    spark.stop()
  }
}
