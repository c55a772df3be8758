package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.canon.UrlCanon
import graft.fetch.Fetch
import graft.functions.graftfns
import graft.imagecodec.ImageCodec
import graft.model.{SeedRow, Synth}
import graft.pipeline.CrawlPipeline
import graft.sched.Scheduler
import graft.seen.BloomSeen

/** `frontier_bulk`: `CrawlPipeline.runAll` over generated seed urls against a
  * payload store covering 98 % of them and a seen snapshot of the first
  * quarter, forced by a digest of each fetched row's url, payload length,
  * md5 and phash. */
final class Frontier(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  val Urls = 120000L
  val Budget = 8
  /** Traced runs sweep the stage prefixes after each of the first `Sweeps` ops. */
  val Sweeps = 2
  private val parts = ctx.cores
  private val base = Inputs.base(ctx.args.seed)
  private val cfg = CrawlPipeline.Config(nUrls = Urls, budget = Budget,
    numPartitions = parts, bloomBuckets = parts,
    // the banded rank is what the pipeline auto-selects at the >= 1M-url
    // sizes this workload stands for
    bandedSchedule = true)

  /** Order-independent summary of a fetch log: rows, rows with a payload,
    * and the xor and the sum of the low 32 bits of a hash of each row's
    * canonical url, payload length, md5 and phash, which ties each payload
    * and its digests to its url. */
  private final case class Agg(rows: Long, ok: Long, xor: Long, low: Long)
  private var dir = ""
  private var store = ""
  private var expected: Agg = null
  private var lastGot: Agg = null

  private def seeds: DataFrame = spark.read.parquet(s"$dir/seeds")
  private def seen: DataFrame = spark.read.parquet(s"$dir/seen")

  def fixtures(rep: Int): Unit = {
    if (rep > 0) { spark.sql(s"DROP TABLE $store"); Inputs.rm(dir) }
    dir = ctx.dir("frontier", s"r$rep")
    store = s"store_r$rep"
    spark.range(base, base + Urls, 1, parts)
      .map(i => SeedRow(Synth.seedUrlOf(i), i, Synth.priorityOf(i)))
      .write.parquet(s"$dir/seeds")
    // bucketed on image_id like a payload table laid out for the fetch join
    spark.range(base, base + Urls * 98 / 100, 1, parts)
      .map(i => Synth.makeImageDoc(i))
      .write.bucketBy(parts, "image_id").sortBy("image_id")
      .option("path", s"$dir/store").saveAsTable(store)
    seeds.filter(col("seed_rank") < base + Urls / 4)
      .select(UrlCanon.canonicalUrl(col("url")).as("canonical_url")).distinct()
      .write.parquet(s"$dir/seen")
  }

  /** The expected fetch log summary from plain joins: robots-allowed distinct
    * canonical urls, exact anti-join against the seen snapshot, left join to
    * the store. No Bloom gate, no ranking; md5 and phash are computed from
    * the stored payloads, phash by a direct codec call per row rather than
    * the `graftfns.phash` expression the measured op uses. */
  override def expect(): Unit = {
    val unseen = Inputs.allowedCanonical(seeds).join(seen, Seq("canonical_url"), "left_anti")
      .withColumn("image_id", regexp_extract(col("canonical_url"), "/img/([^/.]+)\\.", 1))
    val payload = spark.table(store).select(col("image_id"), col("bytes"))
    val rows = unseen.join(payload, Seq("image_id"), "left")
      .select(col("canonical_url"), col("bytes")).as[(String, Array[Byte])]
      .map { case (u, b) => (u, b, Option(b).map(ImageCodec.phashOfEncoded)) }
      .toDF("canonical_url", "bytes", "phash")
      .withColumn("md5", md5(col("bytes")))
    expected = agg(digest(rows).head())
  }

  private def digest(log: DataFrame): DataFrame = {
    val h = xxhash64(col("canonical_url"), octet_length(col("bytes")), col("md5"), col("phash"))
    log.agg(count(lit(1)), count(col("md5")), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)))
  }

  /** The measured op's result: the fetch log through the extract stage,
    * summarized. */
  private def summarize(fetched: DataFrame): DataFrame =
    digest(fetched.withColumn("phash", graftfns.phash(col("bytes"))))

  private def agg(r: Row) = Agg(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))

  /** Three unmeasured passes: after two, the measured passes still sped up
    * by about a fifth from first to last. */
  def warmUp(): Unit = (0 until 3).foreach(_ => op(-1))

  def op(i: Int): Op = {
    val (got, sp) = ctx.spans.timed("frontier.pass") {
      val plan = ctx.spans.span("pipeline.plan") {
        val log = CrawlPipeline.runAll(spark, cfg, spark.table(store),
          seeds = Some(seeds), seenSnapshot = Some(seen))
        val a = summarize(log)
        a.queryExecution.executedPlan
        a
      }
      ctx.spans.span("pipeline.exec")(agg(plan.head()))
    }
    lastGot = got
    val o = new Op(i, Urls, sp, got == expected)
    if (!o.ok) o.note = s"fetch log $got != exact anti-join $expected"
    if (ctx.args.trace && i >= 0 && i < Sweeps) stageSweep()
    o
  }

  def minOps: Int = 4
  def maxOps: Int = 4

  /** The pipeline's plan rebuilt one stage at a time, from the same public
    * functions `CrawlPipeline.planAll` composes, each prefix forced through
    * the noop sink. Stage k's self time is prefix k minus prefix k-1. */
  private def prefixes: Seq[(String, () => DataFrame)] = {
    lazy val raw = seeds
    lazy val canon = raw.select(
      UrlCanon.canonicalUrl(col("url")).as("canonical_url"),
      UrlCanon.hostOf(col("url")).as("host"),
      col("priority"), col("seed_rank"), lit(0).as("depth"))
    lazy val robots = Scheduler.robotsFilter(canon, Synth.robotsRules(spark).toDF())
    lazy val deduped = Scheduler.dedupFrontier(robots)
    def gated = BloomSeen.notSeenExactWithBloomFastPath(
      deduped.repartition(cfg.numPartitions,
        UrlCanon.saltedKey(col("canonical_url"), BloomSeen.DefaultSalt)),
      seen, cfg.bloomBuckets,
      expectedPerShard = math.max(cfg.nUrls / cfg.bloomBuckets, 1024L))
    def ranked = Scheduler.scheduleBanded(gated, None, cfg.budget)
    def fetched = Fetch.fetchBatch(ranked, spark.table(store), cfg.numPartitions)
    Seq(
      "source" -> (() => raw),
      "canon" -> (() => canon),
      "sched.robots" -> (() => robots),
      "sched.dedup" -> (() => deduped),
      "seen.gate" -> (() => gated),
      "sched.rank" -> (() => ranked),
      "fetch.join" -> (() => fetched),
      "extract" -> (() => fetched.withColumn("phash", graftfns.phash(col("bytes")))))
  }

  private def stageSweep(): Unit = ctx.spans.span("frontier.sweep") {
    prefixes.foreach { case (name, df) =>
      ctx.spans.span(s"prefix.$name") {
        df().write.format("noop").mode("overwrite").save()
      }
    }
  }

  override def setupChecks(): Unit = if (ctx.args.trace) {
    val ps = prefixes.toMap
    // the full prefix must be the program's plan, or the stage times
    // would describe a fork of it
    val full = agg(summarize(ps("fetch.join")()).head())
    val piped = agg(summarize(CrawlPipeline.runAll(spark, cfg, spark.table(store),
      seeds = Some(seeds), seenSnapshot = Some(seen))).head())
    ctx.check("frontier.prefix_guard", full == piped, s"stage prefixes $full != runAll $piped")
    // the gate is exact, so its pass ratio is a property of the input: the
    // share of deduped candidates the later stages work on
    val dedupRows = ps("sched.dedup")().count()
    val gateRows = ps("seen.gate")().count()
    ctx.extra("seen.gate_pass_ratio", gateRows.toDouble / dedupRows)
  }

  override def finish(ops: Seq[Op]): Unit =
    if (lastGot != null) ctx.extra("fetch.hit_ratio", lastGot.ok.toDouble / lastGot.rows)
}
