package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Extra (non-driver-contract) benchmark harness for optimization work —
  * guide §1: isolate the computation with a per-job breakdown so the fix
  * targets where the time actually goes.
  *
  * Usage:
  *   SPARK_GRAFT_ONLY=g5_pagerank_update sbt "runMain graft.BenchExtra"
  *
  * Env (same contract as Bench): SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  * SPARK_GRAFT_ONLY selects queries (comma-separated; default: a small
  * heavy set). Each query runs twice (cold, warm); per-job wall times and
  * call sites are printed for the WARM run, which is what Bench's
  * min-of-2 measures.
  */
object BenchExtra {

  /** Records (jobId, submitted, completed, callSite, description). */
  private final class JobLog extends SparkListener {
    final case class J(id: Int, var t0: Long = 0L, var t1: Long = 0L,
        var site: String = "", var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = J(e.jobId, t0 = e.time)
      j.site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
      j.desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs.put(e.jobId, j)
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-benchextra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.driver.maxResultSize", "0")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("g5_pagerank_update", "e3_dedup_maintenance", "d15_cc_forget",
        "k7_quantile_update", "d13_cc_update"))

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // cold pass (codegen/JIT warm-up — matches Bench's untimed warm-up)
      val tCold = timeIt(fn(spark, sfDir).count())
      // warm pass with the job log attached
      val log = new JobLog
      spark.sparkContext.addSparkListener(log)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val tWarm = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(log)
      Thread.sleep(300) // let the listener bus drain
      println(f"%n=== $name cold=$tCold%.3f warm=$tWarm%.3f s, jobs=${log.jobs.size} ===")
      val js = log.jobs.values.toArray(Array.empty[log.J]).sortBy(_.id)
      var gap0 = 0L
      js.foreach { j =>
        val dur = (j.t1 - j.t0) / 1e3
        val gap = if (gap0 == 0) 0.0 else (j.t0 - gap0) / 1e3
        gap0 = j.t1
        println(f"  job ${j.id}%4d ${dur}%8.3fs gapBefore=${gap}%7.3fs ${j.site.take(70)}")
      }
    }
    spark.stop()
  }

  private def timeIt(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
}
