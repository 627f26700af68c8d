package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-size deterministic per-group sampling: the k documents per
  * group with the smallest (Lehmer(doc_id), doc_id) — the fixed-size
  * eval-split / per-domain-subset draw ([[TextFeatures.sampleStratified]]
  * realizes a RATE, not a count; this realizes a COUNT). Same Lehmer
  * hash as every graft sampler, so the draw is uniform, engine- and
  * partitioning-independent, and reproducible bit-for-bit.
  *
  * Scale shape — the [[graft.operators.Quality.histogramSummary]] idea
  * generalized to rank k: a naive `row_number() OVER (PARTITION BY
  * grp ORDER BY key)` sorts every group in full (billions of rows per
  * domain at 100 TB). Here the uniform key space is cut into 4096
  * buckets; ONE map-side-combined aggregate counts (grp, bucket), the
  * bucket cumsum (a window over ≤4096·|groups| rows) locates each
  * group's k-th key: every earlier bucket is taken WHOLE by a
  * broadcast-joined map-side filter, and only each group's single
  * BOUNDARY bucket — expected n/4096 of the group — is ranked for its
  * remaining `k − prev` rows. The full data is never sorted; the only
  * full-data shuffle is the counting aggregate.
  */
object SampleK {

  private val M = 2147483647L
  private val Buckets = 4096L
  private val W = M / Buckets + 1

  /** (doc_id, grp): exactly min(k, |group|) rows per group. */
  def sampleExactK(df: DataFrame, id: Column, group: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val base = df.select(id.as("doc_id"), group.as("grp"),
      ((id % M) * 48271L % M).as("_key"))
      .withColumn("_b", (col("_key") / W).cast("long"))
    // bucket histogram: the one full-data pass; map-side combined
    val marks = base.groupBy(col("grp"), col("_b"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_cum",
        sum(col("_c")).over(Window.partitionBy("grp").orderBy("_b")))
      .withColumn("_prev", col("_cum") - col("_c"))
      .filter(col("_prev") < k)
      .withColumn("_take", least(col("_c"), lit(k.toLong) - col("_prev")))
    val joined = base.join(broadcast(marks), Seq("grp", "_b"))
    val whole = joined.filter(col("_take") === col("_c"))
      .select(col("doc_id"), col("grp"))
    val edge = joined.filter(col("_take") < col("_c"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("grp"), col("_b"))
          .orderBy(col("_key"), col("doc_id"))))
      .filter(col("_rn") <= col("_take"))
      .select(col("doc_id"), col("grp"))
    whole.union(edge)
  }
}
