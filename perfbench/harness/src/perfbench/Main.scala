package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (written by `perfbench/run.py`). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    root: String, out: String, cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("root"), get("out"), get("cores").toInt)
  }
}

/** One measured operation: its wall and JVM CPU seconds, the items it
  * processed and whether it failed (threw, or its output check did not
  * hold). */
final class Op(val index: Int, val items: Long, val seconds: Double, val cpu: Double,
    var ok: Boolean, var note: String = "") {
  def this(index: Int, items: Long, sp: Span, ok: Boolean) =
    this(index, items, sp.seconds, sp.cpuSeconds, ok)
}

/** State shared by a run: the session, the recorders, the outcome. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val spans = new Spans
  val jobs: Option[JobLog] = if (args.trace) Some(new JobLog) else None
  val sampler: Option[StackSampler] = if (args.trace) Some(new StackSampler) else None
  val checks = ArrayBuffer[(String, Boolean, String)]()
  /** Workload numbers that are not timings of an op (sizes, counters). */
  val extras = ArrayBuffer[(String, Double)]()

  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    checks += ((name, ok, if (ok) "" else detail))
    ok
  }
  def extra(name: String, v: Double): Unit = extras += (name -> v)
  def dir(parts: String*): String = (args.root +: parts).mkString("/")
  def cores: Int = args.cores
}

/** A workload: inputs built from the seed, a warm-up, and a measured op. */
trait Workload {
  /** Builds the inputs under `ctx.dir(...)`; called several times per run,
    * the last build is the one measured. */
  def fixtures(rep: Int): Unit
  /** Computes the expected outputs of the last fixture build, outside the
    * set-up timing: it is check work, not set-up the program needs. */
  def expect(): Unit = ()
  def warmUp(): Unit
  /** Checks made once the fixtures exist. */
  def setupChecks(): Unit = ()
  /** Runs op `i`; the returned op's `seconds` covers only the measured work. */
  def op(i: Int): Op
  def minOps: Int
  def maxOps: Int
  /** Checks and sizes that need the whole measured sequence. */
  def finish(ops: Seq[Op]): Unit = ()
}

object Main {
  val FixtureReps = 3

  val Workloads: Map[String, Ctx => Workload] = Map(
    "frontier_bulk" -> (new Frontier(_)),
    "crawl_campaign" -> (new Campaign(_)),
    "maintenance_queries" -> (new Maintenance(_)))

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val t0 = Clock.nowMs
    val ctx = new Ctx(Session.start(args.root, args.cores), args)
    val spark = ctx.spark
    // a traced run starts its job log and sampler with the session
    ctx.jobs.foreach(spark.sparkContext.addSparkListener)
    ctx.sampler.foreach(_.start())
    val sessionS = (Clock.nowMs - t0) / 1e3
    val w = Workloads.getOrElse(args.workload, sys.error(s"unknown workload '${args.workload}'"))(ctx)
    // set-up is repeated and its median reported, so that one slow build
    // does not decide setup_s
    val fixtureS = (0 until FixtureReps).map { rep =>
      val t = Clock.nowMs; w.fixtures(rep); (Clock.nowMs - t) / 1e3
    }
    w.expect()
    val tw = Clock.nowMs
    ctx.spans.span("warmup")(w.warmUp())
    val warmupS = (Clock.nowMs - tw) / 1e3
    w.setupChecks()

    val ops = ArrayBuffer[Op]()
    val start = Clock.nowMs
    val deadline = start + args.seconds * 1000.0
    var i = 0
    while (i < w.maxOps && (i < w.minOps || Clock.nowMs < deadline)) {
      ops += (try w.op(i) catch {
        case e: Throwable =>
          new Op(i, 0L, Double.NaN, Double.NaN, ok = false,
            note = s"${e.getClass.getName}: ${e.getMessage}")
      })
      i += 1
    }
    val measureS = (Clock.nowMs - start) / 1e3
    // what the program still holds once the ops are done: the heap in use
    // after a full collection. The second collection reclaims what Spark's
    // context cleaner released in reaction to the first.
    System.gc()
    Thread.sleep(500)
    System.gc()
    val retainedMb = {
      val h = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      h.getUsed / 1048576.0
    }
    w.finish(ops.toSeq)
    if (args.trace) org.apache.spark.perfbenchbridge.Bus.drain(spark)
    ctx.sampler.foreach(_.finish())

    // setup and whole-sequence checks count as attempted ops of their own;
    // per-op checks are folded into each op's `ok`
    val attempted = ops.size + ctx.checks.size
    val failed = ops.count(!_.ok) + ctx.checks.count(!_._2)
    val out = Json.obj(Seq(
      "workload" -> Json.str(args.workload),
      "seed" -> args.seed.toString,
      "trace" -> args.trace.toString,
      "config" -> Json.obj(Session.effectiveConfig(spark).map { case (k, v) => k -> Json.str(v) }),
      "session_s" -> Json.num(sessionS),
      "fixture_s" -> fixtureS.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warmupS),
      "measure_s" -> Json.num(measureS),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "ops" -> ops.map(o => Json.obj(Seq("i" -> o.index.toString, "s" -> Json.num(o.seconds),
        "cpu" -> Json.num(o.cpu), "items" -> o.items.toString, "ok" -> o.ok.toString, "note" -> Json.str(o.note))))
        .mkString("[", ",", "]"),
      "checks" -> ctx.checks.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)))
      }.mkString("[", ",", "]"),
      "extras" -> Json.obj(ctx.extras.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "rss_peak_kb" -> peakRssKb.toString,
      "retained_heap_mb" -> Json.num(retainedMb),
      "spans" -> ctx.spans.json,
      "jobs" -> ctx.jobs.map(_.json).getOrElse("[]"),
      "samples" -> ctx.sampler.map(_.json).getOrElse("[]")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out), out)
    spark.stop()
  }

  /** High-water resident set of this JVM (VmHWM), in KiB. */
  private def peakRssKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }
}
