package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.Synth
import graft.seen.ShardStore
import graft.streaming.Streaming
import graft.tableio.SnapshotTable

/** `crawl_campaign`: `Streaming.runCrawlStream` with a maintained
  * `ShardStore`, fed one seed file per call, so each call drains one
  * micro-batch against seen state that grows every batch. In file k, three
  * quarters of the urls are fresh and one quarter re-emits urls of file k-1. */
final class Campaign(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  val UrlsPerFile = 2000L
  val MaxFiles = 6
  private val base = Inputs.base(ctx.args.seed)
  private var dir = ""
  private var schema: StructType = null

  /** Synth ids of seed file k of `urls` urls: three quarters new ids, then
    * every third id of the previous file's new ids. */
  private def fileIds(first: Long, urls: Long, k: Int): DataFrame = {
    val fresh = urls * 3 / 4
    val lo = first + k * fresh
    val newIds = spark.range(lo, lo + fresh).toDF()
    if (k == 0) newIds
    else newIds.unionByName(spark.range(lo - fresh, lo, 3).limit((urls - fresh).toInt).toDF())
  }

  /** Writes seed file k as the single parquet file of `files/f=k`, and a
    * payload store for every id. */
  private def writeFiles(root: String, first: Long, n: Int, urls: Long = UrlsPerFile): Unit = {
    (0 until n).map(k => fileIds(first, urls, k).withColumn("f", lit(k))).reduce(_ unionByName _)
      .as[(Long, Int)]
      .map { case (i, k) => (Synth.seedUrlOf(i), i, Synth.priorityOf(i), k) }
      .toDF("url", "seed_rank", "priority", "f")
      .repartition(col("f")).write.partitionBy("f").parquet(s"$root/files")
    spark.range(first, first + n * urls * 3 / 4, 1, ctx.cores).map(i => Synth.makeImageDoc(i))
      .write.parquet(s"$root/store")
  }

  def fixtures(rep: Int): Unit = {
    if (rep > 0) Inputs.rm(dir)
    dir = ctx.dir("campaign", s"r$rep")
    writeFiles(dir, base, MaxFiles)
    schema = spark.read.parquet(s"$dir/files/f=0").schema
  }

  /** One campaign over the seed files and store under `inputs`: its source
    * directory, tables, checkpoint and maintained filter live under `root`. */
  private final class Run(root: String, inputs: String) {
    val source = s"$root/source"
    Files.createDirectories(Paths.get(source))
    val shards = new ShardStore(s"$root/shards", numBuckets = ctx.cores,
      expectedPerShard = MaxFiles * UrlsPerFile / ctx.cores + 1024)
    val store = spark.read.parquet(s"$inputs/store")

    /** Moves seed file k into the source directory and drains it. */
    def batch(k: Int): Unit = {
      val part = Files.list(Paths.get(s"$inputs/files/f=$k")).toArray
        .map(_.toString).find(_.endsWith(".parquet")).get
      Files.move(Paths.get(part), Paths.get(f"$source/f$k%03d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      Streaming.runCrawlStream(spark, source, schema, store, s"$root/tables",
        s"$root/checkpoint", budget = 2, numPartitions = ctx.cores,
        maintainedShards = Some(shards))
    }
    def fetched: SnapshotTable = new SnapshotTable(s"$root/tables/fetched")
    def seenT: SnapshotTable = new SnapshotTable(s"$root/tables/seen")
  }

  private var run: Run = null

  /** Batches of the warm-up campaign: the measured batches still sped up
    * by about a quarter from first to last after two. */
  val WarmFiles = 4

  /** A campaign of small files over its own id block and tables: the first
    * batch has no seen table yet, the later ones take the maintained
    * filter's path. */
  def warmUp(): Unit = {
    val w = ctx.dir("campaign", "warmup")
    writeFiles(w, base + Inputs.Block / 2, WarmFiles, urls = UrlsPerFile / 4)
    val warm = new Run(w, w)
    (0 until WarmFiles).foreach(warm.batch)
    // the measured campaign's first batch finds no seen table; the ops are
    // the batches after it
    run = new Run(ctx.dir("campaign", "measured"), dir)
    run.batch(0)
  }

  def op(i: Int): Op = {
    val (_, sp) = ctx.spans.timed("campaign.batch")(run.batch(i + 1))
    new Op(i, UrlsPerFile, sp, ok = true)
  }

  def minOps: Int = MaxFiles - 1
  def maxOps: Int = MaxFiles - 1

  override def finish(ops: Seq[Op]): Unit = {
    val n = ops.size + 1
    val log = run.fetched.read(spark).get.select("canonical_url")
    val fetched = log.count()
    val distinct = log.distinct().count()
    ctx.check("campaign.fetched_once", fetched == distinct,
      s"$fetched urls fetched but only $distinct distinct")
    val seedsIn = (0 until n).map(k => spark.read.parquet(f"${run.source}/f$k%03d.parquet"))
      .reduce(_ unionByName _)
    val expected = Inputs.allowedCanonical(seedsIn).count()
    ctx.check("campaign.fetched_all", distinct == expected,
      s"$distinct distinct urls fetched, $expected distinct robots-allowed urls seeded")
    ctx.extra("seen.shard_bytes_last", dirBytes(Paths.get(run.shards.root)).toDouble)
    val seenT = run.seenT
    ctx.extra("tableio.chain_len_last", seenT.headId.map(h => seenT.chain(h).size).getOrElse(0).toDouble)
  }

  private def dirBytes(p: java.nio.file.Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}
