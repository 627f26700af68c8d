package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark process: generate one workload's timelapses, set up a
  * session, warm up, then run the chain closed-loop (one at a time)
  * for the given number of seconds and print the metrics: end-to-end
  * ones with `--trace 0`, per-layer ones with `--trace 1`. Every chain
  * attributes its Spark work to each layer.
  *
  * Arguments (all required; `run.py` supplies them):
  * `--workload --seed --seconds --trace --cores --work-dir --pinned`.
  * The last line of stdout is the result JSON. */
object Main {
  /** Untimed chains before timing: codegen, JIT and file-listing
    * caches settle within these. The second chain of a process still
    * runs 10-20 % slower than the third, but over five seeds a second
    * warm-up chain did not narrow the spread of `chain_s`: runs on a
    * shared machine vary more than that. */
  val WarmupChains = 1
  /** Fewest timed chains, however long they take. */
  val MinChains = 2

  private val Mb = 1024.0 * 1024.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workload.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val workDir = new java.io.File(opt("work-dir")).getAbsoluteFile
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // inputs: generated here, excluded from set-up time
    val g0 = System.nanoTime()
    val (docs, truth) = Generator.generate(w, seed)
    val genS = (System.nanoTime() - g0) / 1e9

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", new java.io.File(workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(workDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new Meter(spark.sparkContext)
    spark.sparkContext.addSparkListener(meter)

    // one TrackMate model document per video, as the reference's
    // per-timelapse XML files; the chain reads them as (video, xml)
    val w0 = System.nanoTime()
    val docsDir = new java.io.File(workDir, s"inputs/${w.name}-$seed")
    Inputs.write(docsDir, docs)
    val writeS = (System.nanoTime() - w0) / 1e9
    val input = Inputs.read(spark, docsDir)

    val pinned = Pinned.load(new java.io.File(opt("pinned")), w.name, seed)
    val runner = new Runner(input, w, truth, meter, pinned)
    if (seed == Pinned.Seed && pinned.isEmpty)
      runner.problems += s"no pinned digests for ${w.name} at seed $seed"

    // set-up: JVM start to a ready session, then the warm-up chains
    // without the benchmark's own checks
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - genS - writeS
    val setupS = sessionS + (1 to WarmupChains).map { _ =>
      runner.attempt()
      runner.lastChainS
    }.sum

    val timed = runner.measure(seconds, MinChains)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("chain_s", median(timed.map(_.wallS)), "s"),
        ("cpu_s", median(timed.map(_.work.cpuNs / 1e9)), "s"),
        ("jobs", median(timed.map(_.work.jobs.toDouble)), "count"),
        ("tasks", median(timed.map(_.work.tasks.toDouble)), "count"),
        ("shuffle_mb", median(timed.map(_.work.shuffleBytes / Mb)), "MB"),
        ("peak_task_mem_mb", median(timed.map(_.work.peakTaskMem / Mb)), "MB"),
        ("cached_mb", median(timed.map(_.cachedBytes / Mb)), "MB"))
      else perLayer(timed, cores, truth, runner.tracks) :+
        ("chain.spill_mb", median(timed.map(_.work.spillBytes / Mb)), "MB")

    TraceFile.write(new java.io.File(workDir, s"trace-${w.name}-$seed.jsonl"),
      runner.records.toSeq)
    spark.stop()

    def of(name: String) = name match {
      case "setup_s" => "once per process"
      case "XmlIngest.xml_mb" | "TrackAssignment.tracks" => "per chain"
      case _ => s"median of ${timed.size} chains"
    }
    metrics.foreach { case (n, v, u) => println(f"$n%-32s $v%14.6f $u%-6s (${of(n)})") }
    println(f"inputs: ${w.name} seed $seed, ${truth.spotsPerFrame.values.sum} spots, " +
      f"${truth.xmlBytes / Mb}%.1f MB XML, generated in $genS%.2f s")
    runner.problems.distinct.foreach(p => println(s"CHECK FAILED: $p"))
    val correct = runner.failed == 0 && runner.problems.isEmpty
    println(Json.result(correct, runner.attempted, runner.failed, metrics))
    sys.exit(0)
  }

  /** Per-layer metrics: medians over the timed chains. */
  private def perLayer(runs: Seq[Measured], cores: Int, truth: Truth, tracks: Long)
      : Seq[(String, Double, String)] = {
    def med(f: Measured => Double) = median(runs.map(f))
    val layers = Chain.Layers.flatMap { l =>
      def span(m: Measured) = m.spans.find(_.layer == l).get
      def work(m: Measured) = m.perTag.getOrElse(l, Work())
      Seq(
        (s"$l.wall_s", med(span(_).wallS), "s"),
        (s"$l.cpu_s", med(work(_).cpuNs / 1e9), "s"),
        (s"$l.busy_frac", med(m => work(m).cpuNs / 1e9 / (span(m).wallS * cores)), "frac"),
        (s"$l.jobs", med(work(_).jobs.toDouble), "count"),
        (s"$l.tasks", med(work(_).tasks.toDouble), "count"),
        (s"$l.shuffle_mb", med(work(_).shuffleBytes / Mb), "MB"),
        (s"$l.spill_mb", med(work(_).spillBytes / Mb), "MB"),
        (s"$l.max_task_s", med(work(_).maxTaskMs / 1000.0), "s"),
        (s"$l.rows_in", med(span(_).rowsIn.toDouble), "count"),
        (s"$l.rows_out", med(span(_).rowsOut.toDouble), "count"),
        (s"$l.compiles", med(span(_).compiles.toDouble), "count"))
    }
    def rows(m: Measured, l: String) = m.spans.find(_.layer == l).get
    layers ++ Seq(
      ("LapLink.links_per_spot",
        med(m => rows(m, "LapLink").rowsOut.toDouble / rows(m, "LapLink").rowsIn), "ratio"),
      ("TrackAssignment.tracks", tracks.toDouble, "count"),
      ("Quality.filter.keep_frac",
        med(m => rows(m, "Quality.filter").rowsOut.toDouble / rows(m, "Quality.filter").rowsIn),
        "frac"),
      ("XmlIngest.xml_mb", truth.xmlBytes / Mb, "MB"),
      ("chain.self_s", med(m => m.wallS - m.spans.map(_.wallS).sum), "s"))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}

/** One measured chain. `work` sums every tag the chain used; `perTag`
  * splits it by layer. */
final case class Measured(wallS: Double, spans: Seq[Span], work: Work,
                          perTag: Map[String, Work], cachedBytes: Long)

/** Runs chains, checks each one's outputs and keeps the records. */
final class Runner(input: org.apache.spark.sql.DataFrame, w: Workload, truth: Truth,
                   meter: Meter, pinned: Map[String, String]) {
  var attempted = 0
  var failed = 0
  val problems = scala.collection.mutable.ArrayBuffer[String]()
  val records = scala.collection.mutable.ArrayBuffer[TraceFile.Record]()
  /** Wall time of the last chain, up to its return or throw. */
  var lastChainS = 0.0
  /** Distinct track ids of the first chain's output. */
  var tracks = 0L
  private var reference: Option[Map[String, String]] = None

  /** Run one chain; None if it threw or failed the output check. */
  def attempt(): Option[Measured] = {
    attempted += 1
    val chainNo = attempted
    System.gc() // each chain starts from the same clean heap
    meter.take()
    val t0 = System.nanoTime()
    try {
      val run = Chain.run(input, w.videos, w.minCellSize, w.minObservations, meter)
      lastChainS = run.wallS
      val perTag = meter.take()
      val work = perTag.values.foldLeft(Work())(_ + _)
      val cached = input.sparkSession.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum
      val c0 = System.nanoTime()
      val (digests, errors) = meter.tagged("check") {
        val d = Chain.digests(run)
        val errs = reference match {
          case None =>
            reference = Some(d)
            tracks = run.output("tracks").select("track_id").distinct().count()
            Chain.invariantErrors(run, truth) ++ mismatches(d, pinned, "pinned digest")
          case Some(ref) => mismatches(d, ref, "first chain's digest")
        }
        (d, errs)
      }
      run.release()
      meter.take()
      System.err.println(f"perfbench: chain $chainNo " +
        f"${run.wallS}%.3f s, check ${(System.nanoTime() - c0) / 1e9}%.3f s, " +
        s"${run.spans.map(_.compiles).sum} compiles")
      records += TraceFile.Record(chainNo, run.spans, run.startNs, run.endNs, perTag, digests)
      if (errors.nonEmpty) {
        failed += 1
        problems ++= errors
        None
      } else Some(Measured(run.wallS, run.spans, work, perTag, cached))
    } catch {
      case e: Exception =>
        lastChainS = (System.nanoTime() - t0) / 1e9
        failed += 1
        problems += s"chain $chainNo threw ${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
        input.sparkSession.catalog.clearCache()
        None
    }
  }

  /** Run chains until `seconds` have passed and at least `minChains`
    * have been tried; the ones that passed. */
  def measure(seconds: Double, minChains: Int): Seq[Measured] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer[Measured]()
    var tried = 0
    while (tried < minChains || (System.nanoTime() - t0) / 1e9 < seconds) {
      out ++= attempt()
      tried += 1
    }
    out.toSeq
  }

  private def mismatches(got: Map[String, String], want: Map[String, String],
                         what: String): Seq[String] =
    want.toSeq.sorted.collect {
      case (k, v) if !got.get(k).contains(v) =>
        s"output '$k' digest ${got.getOrElse(k, "missing")} != $what $v"
    }
}

/** Pinned digests of the default seed: `perfbench/digests.tsv`, lines of
  * `workload<TAB>seed<TAB>output<TAB>digest`. */
object Pinned {
  /** Every workload must have digests pinned for this seed. */
  val Seed = 1L

  def load(f: java.io.File, workload: String, seed: Long): Map[String, String] =
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.split("\t")).collect {
        case Array(`workload`, s, name, d) if s == seed.toString => name -> d
      }.toMap
      finally src.close()
    }
}

/** Writes every chain's spans, per-tag Spark work and output digests,
  * one JSON object per chain, when the benchmark ends. */
object TraceFile {
  final case class Record(chain: Int, spans: Seq[Span],
                          startNs: Long, endNs: Long, perTag: Map[String, Work],
                          digests: Map[String, String])

  def write(f: java.io.File, records: Seq[Record]): Unit = {
    f.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(f, "UTF-8")
    try records.foreach { r =>
      val spans = r.spans.map(s =>
        s"""{"layer":"${s.layer}","parent":"chain","start_s":${(s.startNs - r.startNs) / 1e9},""" +
          s""""end_s":${(s.endNs - r.startNs) / 1e9},"rows_in":${s.rowsIn},"rows_out":${s.rowsOut},""" +
          s""""compiles":${s.compiles}}""")
      val work = r.perTag.toSeq.sortBy(_._1).map { case (t, w) =>
        s""""$t":{"jobs":${w.jobs},"tasks":${w.tasks},"cpu_ns":${w.cpuNs},""" +
          s""""shuffle_bytes":${w.shuffleBytes},"spill_bytes":${w.spillBytes},""" +
          s""""peak_task_mem":${w.peakTaskMem},"max_task_ms":${w.maxTaskMs}}"""
      }
      val digests = r.digests.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }
      out.println(s"""{"chain":${r.chain},""" +
        s""""wall_s":${(r.endNs - r.startNs) / 1e9},"spans":[${spans.mkString(",")}],""" +
        s""""work":{${work.mkString(",")}},"digests":{${digests.mkString(",")}}}""")
    } finally out.close()
  }
}

/** The generated documents on disk: `video_<n>.xml`, one per video. */
object Inputs {
  def write(dir: java.io.File, docs: Seq[(Long, String)]): Unit = {
    if (dir.isDirectory) dir.listFiles().foreach(_.delete())
    dir.mkdirs()
    docs.foreach { case (v, xml) =>
      java.nio.file.Files.writeString(new java.io.File(dir, f"video_$v%04d.xml").toPath, xml)
    }
  }

  def read(spark: SparkSession, dir: java.io.File): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.option("wholetext", "true").text(dir.getPath)
      .select(regexp_extract(col("_metadata.file_name"), "video_(\\d+)\\.xml", 1)
        .cast("long").as("video"), col("value").as("xml"))
  }
}

object Json {
  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val value = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $value, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
