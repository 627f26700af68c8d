package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Numeric._

/** QC operators from the reference's filtering + report stages. */
object Quality {

  /** `filter_size_and_observations` (reference: main.nf:165-190):
    * keep rows with measure >= minSize, then keep only tracks that still
    * have >= minObs observations. The R original is filter + group_by +
    * filter(n()); here the group count is a window aggregate over the
    * already-filtered rows — no self-join, one shuffle on the track key.
    */
  def filterSizeAndObservations(df: DataFrame, entity: String, measure: Column,
                                minSize: Double, minObs: Long): DataFrame = {
    val kept = df.filter(measure >= minSize)
    kept.withColumn("_n", count(lit(1)).over(Window.partitionBy(col(entity))))
      .filter(col("_n") >= minObs)
      .drop("_n")
  }

  /** Track summary stats (reference: bin/tracking_qc.qmd — per-track
    * n/min/median/max tables). */
  def trackSummary(df: DataFrame, entity: String, ts: Column, v: Column): DataFrame =
    df.groupBy(col(entity))
      .agg(
        count(lit(1)).as("n_obs"),
        min(unix_timestamp(ts)).as("first_s"),
        max(unix_timestamp(ts)).as("last_s"),
        (max(unix_timestamp(ts)) - min(unix_timestamp(ts))).as("span_s"),
        cround(min(v), 4).as("v_min"),
        cround(max(v), 4).as("v_max"),
        davg(v, 4, 4).as("v_avg"))

  /** Duplicate detection (reference: bin/tracking_qc.qmd — multiple
    * cells sharing (FRAME, TRACK_ID) make a track ambiguous). */
  def duplicates(df: DataFrame, entity: String, frame: Column): DataFrame =
    df.groupBy(col(entity), frame.as("frame"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** Per-group `n`, `min`, exact `median` and `max` of a value HISTOGRAM
    * (`grp` columns, `v` long, `cnt` long) — the scale-safe replacement
    * for `percentile(v, 0.5)`, whose ObjectHashAggregate buffers every
    * ROW of a group in one task (the r2 perf-weak QC finding). The
    * group arrives collapsed to one row per distinct VALUE, so the
    * per-group window sees only distinct values — bounded, for QC
    * quantities (track lengths, per-frame counts), by the value domain,
    * not the row count. One window pass (`PARTITION BY grp ORDER BY v`)
    * yields the running count and the group total; one aggregate on
    * the window's own `grp` partitioning (no new exchange, no join)
    * takes n/min/max and the value(s) whose cumulative count covers the
    * middle rank(s). Median = mean of the lower/upper middle ranks,
    * exactly as `percentile`/DuckDB `median` define it. */
  def histogramSummary(hist: DataFrame, grp: Seq[String]): DataFrame = {
    val gcols = grp.map(col)
    val w = Window.partitionBy(gcols: _*).orderBy(col("v"))
    val ranked = hist
      .withColumn("_cum", sum(col("cnt")).over(w))
      // same partitioning and order as `_cum`, so Spark plans one Window
      .withColumn("_n", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val prev = col("_cum") - col("cnt")
    def covers(r: Column) = prev < r && r <= col("_cum")
    // Spark's `/` on longs yields double — floor back to integer ranks
    val r1 = floor((col("_n") + 1) / 2).cast("long") // lower middle (1-based)
    val r2 = floor(col("_n") / 2).cast("long") + 1   // upper middle
    ranked.groupBy(gcols: _*)
      .agg(max(col("_n")).as("n"), min(col("v")).as("min"),
        ((max(when(covers(r1), col("v"))) +
          max(when(covers(r2), col("v")))).cast("double") / 2.0).as("median"),
        max(col("v")).as("max"))
  }

  /** Cells-per-frame distribution (reference: segmentation_qc.qmd —
    * "cell counts per frame" table: n frames, min/median/max of the
    * per-frame count). Per-frame counts → their histogram →
    * [[histogramSummary]]. Median over INTEGER counts is cross-engine
    * exact ((a+b)/2 of integers has no rounding ambiguity). */
  def cellsPerFrame(df: DataFrame, group: Column, frame: Column): DataFrame = {
    val hist = df.groupBy(group.as("grp"), frame.as("frame"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("grp"), col("n").as("v"))
      .agg(count(lit(1)).as("cnt"))
    histogramSummary(hist, Seq("grp"))
      .toDF("grp", "n_frames", "min_n", "median_n", "max_n")
  }

  /** Grouped descriptive stats (reference: segmentation_qc.qmd area
    * stats + CellPhe static intensity summaries). */
  def frameStats(df: DataFrame, keys: Seq[Column], v: Column): DataFrame =
    frameStatsMulti(df, keys, Seq("v" -> v))

  /** Descriptive stats for MANY value columns in ONE shuffle
    * (reference: frame_features_image.py emits ~20 static features per
    * cell x frame — aggregating them per-column would be N full passes
    * over a 100 TB table; one aggregate with a flat list of algebraic
    * partials is one pass, map-side combined). Output columns are
    * `<name>_{sum,avg,std,min,max}` per value plus a single shared
    * `n`. */
  def frameStatsMulti(df: DataFrame, keys: Seq[Column],
                      values: Seq[(String, Column)]): DataFrame = {
    val aggs = count(lit(1)).as("n") +: values.flatMap { case (name, v) =>
      Seq(
        dsum(v, 4).as(s"${name}_sum"),
        davg(v, 4, 4).as(s"${name}_avg"),
        dstddev(v, 4, 4).as(s"${name}_std"),
        cround(min(v), 4).as(s"${name}_min"),
        cround(max(v), 4).as(s"${name}_max"))
    }
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Track-length distribution before vs after QC filtering
    * (reference: tracking_qc.qmd:43-65 — the raw/filtered histogram's
    * summary table: per filter state, number of tracks and
    * min/median/max track length). Per-track lengths of both states in
    * one union → their histogram → [[histogramSummary]]; median over
    * INTEGER lengths is cross-engine exact. */
  def trackLengthHistogram(raw: DataFrame, filtered: DataFrame,
                           entity: String): DataFrame = {
    def lengths(df: DataFrame, state: String) =
      df.groupBy(col(entity)).agg(count(lit(1)).as("len"))
        .select(lit(state).as("filter_state"), col("len"))
    val hist = lengths(raw, "raw").union(lengths(filtered, "filtered"))
      .groupBy(col("filter_state"), col("len").as("v"))
      .agg(count(lit(1)).as("cnt"))
    histogramSummary(hist, Seq("filter_state"))
      .toDF("filter_state", "n_tracks", "min_len", "median_len", "max_len")
  }

  /** Frame-to-frame step-distance distribution (reference:
    * tracking_qc.qmd:98-122): rows in frames where the track is
    * unambiguous (exactly one cell per (frame, track)), per-track
    * consecutive-frame euclidean steps, then the global
    * min/median/max. The step is the same quantity Movement computes
    * internally; this exposes its QC distribution. */
  def frameDistanceStats(df: DataFrame, entity: String, frame: Column,
                         x: Column, y: Column): DataFrame = {
    val base = df.select(col(entity).as("_e"), frame.as("_f"),
      x.as("_x"), y.as("_y"))
    val uniq = base
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("_e"), col("_f"))))
      .filter(col("_n") === 1)
    val w = Window.partitionBy(col("_e")).orderBy(col("_f"))
    // step distances, computed once (persisted): they feed the algebraic
    // min/max/count aggregate AND the median selection below
    val steps = uniq
      .withColumn("_dx", col("_x") - lag(col("_x"), 1).over(w))
      .withColumn("_dy", (col("_y") - lag(col("_y"), 1).over(w)).cast("double"))
      .filter(col("_dx").isNotNull)
      .withColumn("_d", sqrt(col("_dx") * col("_dx") + col("_dy") * col("_dy")))
      .select(col("_d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // EXACT global median without a single-task full-data buffer (the
    // r2 perf-weak finding: percentile(_d, 0.5) in a one-group
    // aggregate holds every step distance in one ObjectHashAggregate
    // buffer). Distances are continuous doubles, so no bounded value
    // histogram exists; instead select the middle order statistic(s)
    // from a range-partitioned distributed sort — each task sorts (and
    // spills) only its value range, and only the two middle ranks come
    // back to the driver. Same multi-job driver-orchestrated shape as
    // ConnectedComponents' rounds; the remaining single-group aggregate
    // carries algebraic (constant-memory) partials only.
    val n = steps.count()
    val medianCol =
      if (n == 0) lit(null).cast("double")
      else {
        val targets = Set((n + 1) / 2 - 1, n / 2) // 0-based lower/upper middle
        val mids = steps.orderBy(col("_d")).rdd
          .map(_.getDouble(0)).zipWithIndex()
          .filter { case (_, i) => targets(i) }
          .map(_._1).collect()
        cround(lit(mids.sum / mids.length), 4)
      }
    // the returned aggregate is steps' last reader (the count and the
    // median selection above already materialized the cache)
    graft.functions.CacheRelease.afterNextExecution(steps)
    steps.agg(count(lit(1)).as("n_steps"),
      cround(min(col("_d")), 4).as("min_dist"),
      medianCol.as("median_dist"),
      cround(max(col("_d")), 4).as("max_dist"))
  }
}
