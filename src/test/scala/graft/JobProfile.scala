package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Ad-hoc job-launch profiler (default: the q_icorpus increment path):
  * runs a registry query against a scale dir at local[$SPARK_GRAFT_CPUS]
  * (default 4, as Verify) and prints every Spark job with its
  * wall-clock span, so sequential-launch overhead is measurable (the
  * r16 splice-fusion work). Test-scope tool, not product surface.
  * Run: `sbt "Test/runMain graft.JobProfile <sf dir> <query>"`. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val q = if (args.length > 1) args(1) else "q_icorpus"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Tables.NanosConf._1, Tables.NanosConf._2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        val desc = Option(s.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(s.jobId, (s.time, desc)); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = jobs.get(e.jobId)
        if (st != null) { done.add((e.jobId, st._1, e.time, st._2)); () }
      }
    })
    val t0 = System.nanoTime()
    val n = SparkEntry.queries(q)(spark, sfDir).count()
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    import scala.jdk.CollectionConverters._
    val rows = done.asScala.toSeq.sortBy(_._1)
    println(f"== $q rows=$n wall=$sec%.1f s jobs=${rows.size} ==")
    val base = rows.headOption.map(_._2).getOrElse(0L)
    rows.foreach { case (id, s, e, d) =>
      println(f"job $id%4d  +${(s - base) / 1000.0}%8.2fs  ${(e - s) / 1000.0}%7.2fs  ${d.take(90)}")
    }
    spark.stop()
  }
}
