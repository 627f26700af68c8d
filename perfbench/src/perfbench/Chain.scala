package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.functions._

import graft.operators.{LapLink, Movement, Quality, RoiShape, TimeSeries, TrackAssignment}
import graft.sources.XmlIngest

/** One layer call: its span on the calling thread, the rows it read and wrote,
  * and the whole-stage-codegen compilations made during it. */
final case class Span(layer: String, startNs: Long, endNs: Long,
                      rowsIn: Long, rowsOut: Long, compiles: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** A finished chain: every stage output, still persisted, plus the
  * collected QC report tables. [[release]] unpersists the outputs. */
final class ChainRun(val kept: Seq[(String, DataFrame)],
                     val report: Seq[(String, Array[Row])],
                     val spans: Seq[Span], val startNs: Long, val endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
  def output(name: String): DataFrame = kept.find(_._1 == name).get._2
  def release(): Unit = kept.foreach(_._2.unpersist(blocking = true))
}

/** The CellPhe batch chain (the reference's main.nf process sequence),
  * composed from graft's public layer functions. Each stage output is
  * persisted and materialised once, at the reference's process
  * boundaries, so later stages read it instead of re-running its
  * lineage. The chain sees only the `(video, xml)` documents and the
  * two QC settings.
  *
  * Ids and frames are made video-unique with the `SparkEntry`
  * layout — id = video·1e7 + spot id, frame = video·1e6 + frame — so
  * frame pairs never mix videos and a spot's video is its id / 1e7. */
object Chain {
  val LinkDistance = 15.0
  val IdStride = 10000000L
  val FrameStride = 1000000L

  val Layers: Seq[String] = Seq("XmlIngest", "LapLink", "TrackAssignment",
    "RoiShape", "Quality.filter", "Movement", "TimeSeries", "Quality.report")
  /** Tag of the benchmark's own work between layers (joins). */
  val Self = "chain.self"

  private val shapeVars = Seq("area", "perimeter", "circularity", "solidity",
    "shape_index")
  private val movementVars = Seq("dis", "trac", "d2t", "vel")

  /** Run the whole chain; each layer's jobs carry the layer's name. */
  def run(docs: DataFrame, videos: Long, minCellSize: Double, minObs: Long,
          meter: Meter): ChainRun = {
    val kept = scala.collection.mutable.ArrayBuffer[(String, DataFrame)]()
    val spans = scala.collection.mutable.ArrayBuffer[Span]()

    def layer[T](name: String, rowsIn: Long)(body: => (T, Long)): T = {
      val t0 = System.nanoTime()
      val c0 = compiles()
      val (out, rowsOut) = meter.tagged(name)(body)
      spans += Span(name, t0, System.nanoTime(), rowsIn, rowsOut, compiles() - c0)
      out
    }
    def keep(name: String, df: DataFrame): (DataFrame, Long) = {
      val p = df.persist()
      kept += name -> p
      (p, p.count())
    }

    val start = System.nanoTime()
    try {
      // 1. parse once; spots and ROIs come off the one parsed model
      val (spots, rois, nSpots) = layer("XmlIngest", videos) {
        val model = XmlIngest.parse(docs, col("video"), col("xml")).persist()
        val (sp, n) = keep("spots", XmlIngest.spots(model).select(col("video"),
          (col("video") * IdStride + col("id")).as("id"),
          (col("video") * FrameStride + col("frame")).as("frame"),
          col("x"), col("y")))
        val (ro, _) = keep("rois", XmlIngest.rois(model).select(
          (col("video") * IdStride + col("id")).as("id"), col("roi")))
        model.unpersist(blocking = true)
        ((sp, ro, n), n)
      }
      // 2. frame-to-frame LAP linking
      val (links, nLinks) = layer("LapLink", nSpots) {
        val r = keep("links", LapLink.frameToFrame(spots, col("id"), col("frame"),
          col("x"), col("y"), LinkDistance))
        (r, r._2)
      }
      // 3. division-aware track ids, one group per video
      val (tracks, _) = layer("TrackAssignment", nSpots + nLinks) {
        val r = keep("tracks", TrackAssignment.divisionAwareByVideo(
          spots.select("id", "frame"), links.select("src", "dst"), _ / IdStride))
        (r, r._2)
      }
      // 4. TrackMate shape descriptors from the ROI polygons
      val shapes = layer("RoiShape", nSpots) {
        val (s, n) = keep("shapes",
          RoiShape.trackmateDescriptors(rois, col("roi")).drop("roi"))
        (s, n)
      }
      // the benchmark's own join: the per-spot table the QC stages read
      val (tracked, nTracked) = meter.tagged(Self) {
        keep("tracked", tracks.join(spots, "id").join(shapes, "id"))
      }
      // 5. QC filter on ROI area and track length
      val (filtered, nFiltered) = layer("Quality.filter", nTracked) {
        val r = keep("filtered", Quality.filterSizeAndObservations(tracked,
          "track_id", col("area"), minCellSize, minObs))
        (r, r._2)
      }
      // 6. movement features along each track
      val (movement, nMovement) = layer("Movement", nFiltered) {
        val m = Movement.features(filtered, "track_id", col("frame"),
          col("frame"), col("x"), col("y"))
        val r = keep("movement", m.select(m.columns.filterNot(_.startsWith("_")).map(col): _*))
        (r, r._2)
      }
      // 7. per-track time-series summaries
      layer("TimeSeries", nMovement) {
        val (_, nElev) = keep("elevation", TimeSeries.elevationMulti(movement,
          "track_id", col("frame"), (shapeVars ++ movementVars).map(v => v -> col(v))))
        keep("haar", TimeSeries.haarEnergies(movement, "track_id", col("frame"),
          col("area")))
        ((), nElev)
      }
      // 8. the QC report tables, collected as the report reads them
      val report = layer("Quality.report", nTracked) {
        val r = Seq(
          "cells_per_frame" -> Quality.cellsPerFrame(spots, col("video"), col("frame")),
          "track_lengths" -> Quality.trackLengthHistogram(tracked, filtered, "track_id"),
          "duplicates" -> Quality.duplicates(tracked, "track_id", col("frame")),
          "area_per_frame" -> Quality.frameStatsMulti(tracked,
            Seq(col("video"), col("frame")), Seq("area" -> col("area"))))
          .map { case (n, df) => n -> df.collect() }
        (r, r.map(_._2.length.toLong).sum)
      }
      new ChainRun(kept.toSeq, report, spans.toSeq, start, System.nanoTime())
    } catch {
      case e: Throwable =>
        kept.foreach(_._2.unpersist(blocking = true))
        throw e
    }
  }

  /** Code-generator compilations so far in this JVM (the calling thread and, in
    * local mode, executor threads alike). */
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Order-independent digest of every output: row count plus the sum
    * (mod 2^64) of each row's 64-bit hash over its binary row encoding —
    * persisted outputs in one narrow Spark job — or an MD5 over the
    * sorted rows of the collected report tables. */
  def digests(run: ChainRun): Map[String, String] = {
    val sc = run.kept.head._2.sparkSession.sparkContext
    val perPartition = sc.union(run.kept.zipWithIndex.map { case ((_, df), i) =>
      val schema = df.schema
      df.queryExecution.toRdd.mapPartitions { rows =>
        lazy val toUnsafe = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        rows.foreach { r =>
          val u = r match {
            case u: UnsafeRow => u
            case other => toUnsafe(other)
          }
          n += 1
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        Iterator((i, n, h))
      }
    }).collect()
    val perOutput = run.kept.zipWithIndex.map { case ((name, _), i) =>
      val parts = perPartition.filter(_._1 == i)
      name -> s"${parts.map(_._2).sum}:${java.lang.Long.toHexString(parts.map(_._3).sum)}"
    }
    val perReport = run.report.map { case (name, rows) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map(_.toString).sorted.foreach(s =>
        md.update((s + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      name -> s"${rows.length}:${md.digest().map("%02x".format(_)).mkString}"
    }
    (perOutput ++ perReport).toMap
  }

  /** Problems found checking the chain's output against what the
    * generator knows: spots ingested per (video, frame), and ROI area
    * (count / min / max exactly, sum to 1e-9) per video. */
  def invariantErrors(run: ChainRun, truth: Truth): Seq[String] = {
    val perFrame = run.output("spots")
      .groupBy(col("video"), (col("frame") - col("video") * FrameStride).as("f"))
      .count().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val frameErr =
      if (perFrame == truth.spotsPerFrame) Nil
      else Seq(s"spots per frame differ on ${
        (perFrame.keySet ++ truth.spotsPerFrame.keySet)
          .count(k => perFrame.get(k) != truth.spotsPerFrame.get(k))} (video, frame) keys")
    val area = run.output("shapes")
      .groupBy(expr(s"id div $IdStride").as("video"))
      .agg(count(lit(1)), min("area"), max("area"), sum("area")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val areaErr = (area.keySet ++ truth.areas.keySet).toSeq.sorted.flatMap { v =>
      val ok = (area.get(v), truth.areas.get(v)) match {
        case (Some((n, lo, hi, sum)), Some(t)) =>
          n == t.n && lo == t.min && hi == t.max && math.abs(sum - t.sum) <= 1e-9 * t.sum
        case _ => false
      }
      if (ok) None else Some(s"ROI areas of video $v differ from the generator's shoelace areas")
    }
    frameErr ++ areaErr
  }
}
