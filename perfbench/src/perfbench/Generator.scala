package perfbench

/** One benchmark workload: the shape of the timelapses the generator
  * draws, plus the two QC settings the chain's filter stage takes
  * (the reference's `min_cell_size` / `min_observations` parameters).
  * Everything else about a workload is in the generated documents. */
final case class Workload(
    name: String,
    videos: Int,
    frames: Int,
    cells: Int,          // target population per frame
    field: Double,       // square field side, px
    step: Double,        // random-walk sd per axis per frame, px
    pDivide: Double,     // per cell per frame
    pDie: Double,        // per cell per frame
    vertices: Int,       // ROI polygon vertices per spot
    minCellSize: Double, // QC: minimum ROI area, px²
    minObservations: Long,
    colonyGrid: Int = 0) // g > 0: cells start in g×g colonies, else uniform

object Workload {
  // Why each workload exists is recorded in perfbench/README.md.
  val all: Seq[Workload] = Seq(
    // linking-bound: few videos, many cells per frame, grown in 16
    // colonies of ~47 cells that stay 40 px apart. Linking work is then
    // a sum of 16 similar components per frame pair; uniform placement
    // makes it hinge on the largest chance cluster, which varied 3x
    // between seeds
    Workload("dense_frames", videos = 2, frames = 16, cells = 750,
      field = 400.0, step = 1.5, pDivide = 0.01, pDie = 0.01,
      vertices = 8, minCellSize = 30.0, minObservations = 10, colonyGrid = 3),
    // track-keyed work: many videos, few cells, long tracks
    Workload("long_tracks", videos = 16, frames = 64, cells = 20,
      field = 150.0, step = 1.5, pDivide = 0.002, pDie = 0.002,
      vertices = 12, minCellSize = 30.0, minObservations = 40),
    // one interactive timelapse: bound by per-job cost
    Workload("small_video", videos = 1, frames = 100, cells = 50,
      field = 200.0, step = 1.5, pDivide = 0.01, pDie = 0.01,
      vertices = 8, minCellSize = 30.0, minObservations = 10))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}

/** Count, min, max and sum of one video's ROI areas. */
final case class AreaStats(n: Long, min: Double, max: Double, sum: Double) {
  def +(a: Double): AreaStats =
    AreaStats(n + 1, math.min(min, a), math.max(max, a), sum + a)
}

/** What the generator knows about its own output, for the output
  * check: spots per (video, frame) and per-video ROI area stats
  * computed with the same shoelace formula, on the same parsed
  * coordinates, as `functions.PolygonShape`. */
final case class Truth(
    spotsPerFrame: Map[(Long, Long), Long],
    areas: Map[Long, AreaStats],
    xmlBytes: Long)

/** Seeded generator of TrackMate-XML timelapses — the reference's wire
  * format (`Model/AllSpots/SpotsInFrame/Spot`, ROI polygon as the
  * Spot's element text, position-relative). Cells random-walk inside a
  * reflecting square field, divide (two smaller daughters that grow
  * back), die, and are born at random positions so the population
  * hovers around the workload's target. Single-threaded over one
  * `java.util.Random`, and every number is written with three fixed
  * decimals, so a (workload, seed) pair always yields byte-identical
  * documents. Tracks are not written: linking is the chain's job. */
object Generator {

  private final class Cell(var x: Double, var y: Double, var r: Double,
                           val r0: Double)

  def generate(w: Workload, seed: Long): (Seq[(Long, String)], Truth) = {
    val rng = new java.util.Random(seed)
    val spotsPerFrame = scala.collection.mutable.Map[(Long, Long), Long]()
    val areas = scala.collection.mutable.Map[Long, AreaStats]()
    var xmlBytes = 0L
    val docs = (1 to w.videos).map { v =>
      val video = v.toLong
      val colonies = w.colonyGrid * w.colonyGrid
      // uniform in the field, or uniform in the disk of one colony: a
      // colony's radius is 0.3 of the grid spacing
      def newCell(colony: Int): Cell = {
        val r0 = 4.0 + 2.0 * rng.nextDouble()
        if (colonies == 0)
          new Cell(rng.nextDouble() * w.field, rng.nextDouble() * w.field, r0, r0)
        else {
          val spacing = w.field / w.colonyGrid
          val a = rng.nextDouble() * 2.0 * math.Pi
          val d = 0.3 * spacing * math.sqrt(rng.nextDouble())
          new Cell((colony % w.colonyGrid + 0.5) * spacing + d * math.cos(a),
            (colony / w.colonyGrid + 0.5) * spacing + d * math.sin(a), r0, r0)
        }
      }
      var cells = Vector.tabulate(w.cells)(i => newCell(if (colonies == 0) 0 else i % colonies))
      var nextId = 0L
      val xs = new Array[Double](w.vertices)
      val ys = new Array[Double](w.vertices)
      val body = new java.lang.StringBuilder(w.frames * w.cells * 150)
      var nSpots = 0L
      for (f <- 0 until w.frames) {
        if (f > 0) cells = advance(w, rng, cells,
          () => newCell(if (colonies == 0) 0 else rng.nextInt(colonies)))
        body.append("<SpotsInFrame frame=\"").append(f).append("\">")
        cells.foreach { c =>
          val id = nextId
          nextId += 1
          val px = milli(c.x)
          val py = milli(c.y)
          body.append("<Spot ID=\"").append(id).append("\" name=\"ID").append(id)
            .append("\" STD_INTENSITY_CH1=\"0.0\" QUALITY=\"1.0\" POSITION_T=\"")
            .append(f).append(".0\" FRAME=\"").append(f)
            .append("\" POSITION_X=\""); fixed(body, px)
          body.append("\" POSITION_Y=\""); fixed(body, py)
          body.append("\" POSITION_Z=\"0.0\" RADIUS=\""); fixed(body, milli(c.r))
          body.append("\" VISIBILITY=\"1\" ROI_N_POINTS=\"").append(w.vertices)
            .append("\">")
          var j = 0
          while (j < w.vertices) {
            val theta = 2.0 * math.Pi * j / w.vertices
            val rj = c.r * (0.85 + 0.3 * rng.nextDouble())
            val dx = milli(rj * math.cos(theta))
            val dy = milli(rj * math.sin(theta))
            if (j > 0) body.append(' ')
            fixed(body, dx); body.append(' '); fixed(body, dy)
            // the parsed absolute vertex, exactly as XmlIngest.rois
            // builds it: relative value + position, both parsed doubles
            xs(j) = dx / 1000.0 + px / 1000.0
            ys(j) = dy / 1000.0 + py / 1000.0
            j += 1
          }
          body.append("</Spot>")
          areas(video) = areas.getOrElse(video,
            AreaStats(0, Double.MaxValue, Double.MinValue, 0.0)) + shoelace(xs, ys)
        }
        body.append("</SpotsInFrame>")
        spotsPerFrame((video, f.toLong)) = cells.size.toLong
        nSpots += cells.size
      }
      val xml = "<Model spatialunits=\"pixel\" timeunits=\"frame\">" +
        s"<AllSpots nspots=\"$nSpots\">$body</AllSpots><AllTracks/><FilteredTracks/></Model>"
      xmlBytes += xml.length // ASCII: one byte per char
      (video, xml)
    }
    (docs, Truth(spotsPerFrame.toMap, areas.toMap, xmlBytes))
  }

  /** One frame step: deaths, divisions, moves, births. */
  private def advance(w: Workload, rng: java.util.Random, cells: Vector[Cell],
                      born: () => Cell): Vector[Cell] = {
    val out = Vector.newBuilder[Cell]
    cells.foreach { c =>
      val u = rng.nextDouble()
      if (u < w.pDie) ()
      else if (u < w.pDie + w.pDivide) {
        val a = rng.nextDouble() * 2.0 * math.Pi
        val d = c.r * 0.6
        val rd = c.r * 0.72
        out += move(w, rng, new Cell(c.x + d * math.cos(a), c.y + d * math.sin(a), rd, c.r0))
        out += move(w, rng, new Cell(c.x - d * math.cos(a), c.y - d * math.sin(a), rd, c.r0))
      } else out += move(w, rng, c)
    }
    val next = out.result()
    // births pull the population back toward the target
    val deficit = math.max(0, w.cells - next.size)
    val births = (0 until deficit).count(_ => rng.nextDouble() < 0.1)
    next ++ Vector.fill(births)(born())
  }

  private def move(w: Workload, rng: java.util.Random, c: Cell): Cell = {
    c.x = reflect(c.x + rng.nextGaussian() * w.step, w.field)
    c.y = reflect(c.y + rng.nextGaussian() * w.step, w.field)
    c.r += 0.05 * (c.r0 - c.r)
    c
  }

  private def reflect(v: Double, side: Double): Double =
    if (v < 0.0) -v else if (v > side) 2.0 * side - v else v

  /** Round to thousandths, as an exact integer count of them. */
  private def milli(v: Double): Long = math.round(v * 1000.0)

  /** Write `m` thousandths with exactly three decimals. */
  private def fixed(sb: java.lang.StringBuilder, m: Long): Unit = {
    if (m < 0) sb.append('-')
    val a = math.abs(m)
    sb.append(a / 1000).append('.')
    val frac = a % 1000
    if (frac < 100) sb.append('0')
    if (frac < 10) sb.append('0')
    sb.append(frac)
  }

  /** Shoelace area, summed left to right as `PolygonShape` does. */
  private def shoelace(xs: Array[Double], ys: Array[Double]): Double = {
    val m = xs.length
    var s = 0.0
    var i = 0
    while (i < m) {
      val j = if (i + 1 == m) 0 else i + 1
      s += xs(i) * ys(j) - xs(j) * ys(i)
      i += 1
    }
    math.abs(s) / 2.0
  }
}
