package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.sched.Scheduler

/** Direct unit tests for the scheduler gates (robots precedence and the
  * no-row-inflation invariant; the full pipeline behavior is covered by
  * CrawlOrderSpec vs ReferenceSim). */
class SchedulerSpec extends SparkSpec {

  private def frontier = {
    import spark.implicits._
    Seq(
      ("https://multi.example.com/img/a", "multi.example.com", 0L, 0L, 0),
      ("https://multi.example.com/img/public/b", "multi.example.com", 0L, 1L, 0),
      ("https://multi.example.com/txt/c", "multi.example.com", 0L, 2L, 0),
      ("https://norules.example.com/x", "norules.example.com", 0L, 3L, 0)
    ).toDF("canonical_url", "host", "priority", "seed_rank", "depth")
  }

  test("robotsFilter: a host with MANY rules never duplicates frontier rows") {
    import spark.implicits._
    val robots = Seq(
      ("multi.example.com", "/img/", false),
      ("multi.example.com", "/video/", false),
      ("multi.example.com", "/audio/", false)
    ).toDF("host", "path_prefix", "allowed")
    val out = Scheduler.robotsFilter(frontier, robots)
    val urls = out.select("canonical_url").collect().map(_.getString(0)).toSeq
    assert(urls.size == urls.distinct.size, s"duplicated rows: $urls")
    assert(urls.toSet == Set(
      "https://multi.example.com/txt/c", "https://norules.example.com/x"))
  }

  test("robotsFilter: longest matching prefix wins (allow overrides broader disallow)") {
    import spark.implicits._
    val robots = Seq(
      ("multi.example.com", "/img/", false),
      ("multi.example.com", "/img/public/", true)
    ).toDF("host", "path_prefix", "allowed")
    val urls = Scheduler.robotsFilter(frontier, robots)
      .select("canonical_url").collect().map(_.getString(0)).toSet
    assert(urls == Set(
      "https://multi.example.com/img/public/b", // re-allowed by deeper rule
      "https://multi.example.com/txt/c",
      "https://norules.example.com/x"))
  }

  test("robotsFilter: path extraction is anchored exactly like the oracle regexp (non-canonical urls keep the whole string as path)") {
    import spark.implicits._
    // regexp ^[a-z][a-z0-9+.-]*://[^/]* does NOT match an uppercase scheme
    // → path = whole url → '/img/' prefix cannot match → url passes. The
    // kernel must mirror that no-match branch, not strip at the first ://
    val odd = Seq(
      ("HTTP://multi.example.com/img/upper", "multi.example.com", 0L, 0L, 0), // uppercase scheme
      ("no-scheme-at-all/img/x", "multi.example.com", 0L, 1L, 0), // no ://
      ("https://multi.example.com/img/a", "multi.example.com", 0L, 2L, 0) // canonical → dropped
    ).toDF("canonical_url", "host", "priority", "seed_rank", "depth")
    val robots = Seq(("multi.example.com", "/img/", false)).toDF("host", "path_prefix", "allowed")
    val urls = Scheduler.robotsFilter(odd, robots)
      .select("canonical_url").collect().map(_.getString(0)).toSet
    assert(urls == Set("HTTP://multi.example.com/img/upper", "no-scheme-at-all/img/x"),
      s"got $urls")
  }

  test("globalRank is bit-identical to the single-partition window rank") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // nulls + heavy ties in the leading key; id makes the key total
    val df = (0 until 5000).map { i =>
      (i.toLong, if (i % 10 == 0) null else s"g${i % 7}", i % 3)
    }.toDF("id", "grp", "band").repartition(8)
    val keys = Seq(col("grp").isNotNull, col("grp"), col("band"), col("id"))
    val single = df.withColumn("rk", row_number().over(Window.orderBy(keys: _*)))
      .select("id", "rk").collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val dist = Scheduler.globalRank(df, keys, "rk", parts = 8)
      .select("id", "rk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == single)
    // boolean- and string-led keys take the same sampled-bounds path as
    // numeric ones: the corpus crosses the wire exactly once (measured on
    // a checkpointed copy, so the input's own repartition is not counted)
    val strKeys = Seq(col("grp"), col("band"), col("id"))
    val strSingle = df.withColumn("rk", row_number().over(Window.orderBy(strKeys: _*)))
      .select("id", "rk").collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val flat = df.localCheckpoint()
    Seq(keys, strKeys).foreach { k =>
      val recs = shuffleRecords(Scheduler.globalRank(flat, k, "rk", parts = 8))
      assert(recs.count(_ >= 5000) == 1, s"expected 1 corpus-sized shuffle, got $recs")
    }
    assert(Scheduler.globalRank(df, strKeys, "rk", parts = 8)
      .select("id", "rk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == strSingle)
    // a SortOrder key (desc) orders the sampled bounds too
    val descKeys = Seq(col("id").desc, col("band"))
    val descSingle = df.withColumn("rk", row_number().over(Window.orderBy(descKeys: _*)))
      .select("id", "rk").collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val descDist = Scheduler.globalRank(df, descKeys, "rk", parts = 8)
      .select("id", "rk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(descDist == descSingle)
  }

  // records each materialized shuffle actually wrote at runtime (reused
  // stages dedupe by node identity), so the "one corpus shuffle" claim is
  // measured, not inferred from the plan string
  private def shuffleRecords(df: DataFrame): Seq[Long] = {
    df.collect()
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // query stages are leaves — recurse through their wrapped plans
    def walk(p: SparkPlan): Seq[ShuffleExchangeLike] = {
      val here = p match {
        case s: ShuffleQueryStageExec => Seq(s.shuffle)
        case _ => Nil
      }
      val below = p match {
        case q: QueryStageExec => walk(q.plan)
        case other => other.children.flatMap(walk)
      }
      here ++ below
    }
    walk(root).distinct.map(e =>
      e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L))
  }

  test("globalRank with a numeric leading key shuffles the corpus exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (0 until 5000).map(i => ((i * 7919L) % 5000, i % 3)).toDF("id", "band")
    val keys = Seq(col("id"), col("band"))
    val single = df.withColumn("rk", row_number().over(Window.orderBy(keys: _*)))
      .select("id", "rk").collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val q = Scheduler.globalRank(df, keys, "rk", parts = 8)
    val dist = q.select("id", "rk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == single)
    // no range exchange; the corpus crosses the wire exactly once (the
    // in-bucket window's hash exchange) — the offsets branch aggregates
    // map-side, so its exchange carries only partials
    val q2 = Scheduler.globalRank(df, keys, "rk", parts = 8)
    val recs = shuffleRecords(q2)
    assert(!q2.queryExecution.executedPlan.toString.contains("rangepartitioning"))
    assert(recs.count(_ >= 5000) == 1, s"expected 1 corpus-sized shuffle, got $recs")
    assert(recs.count(_ > 1000) == 1, s"other shuffles must carry partials only: $recs")
  }

  test("globalRank and globalPrefixSum match the single window over a persisted string-led frame") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // a cached input gives the rank and count branches separate exchanges
    // (no exchange reuse), so each branch must bucket every row alike
    val base = (0 until 5000).map(i => (s"k${(i * 7919) % 5000}", i.toLong, (i % 13).toLong))
      .toDF("s", "id", "v").repartition(4)
    val df = base.unionByName(base.filter(col("id") % 97 === 0)
        .withColumn("id", col("id") + 5000))
      .persist()
    try {
      val keys = Seq(col("s"), col("id"))
      val before = Window.orderBy(keys: _*).rowsBetween(Window.unboundedPreceding, -1)
      val single = df
        .withColumn("rk", row_number().over(Window.orderBy(keys: _*)).cast("long"))
        .withColumn("off", coalesce(sum(col("v")).over(before), lit(0L)))
        .select("id", "rk", "off").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(single.size == 5052)
      val rk = Scheduler.globalRank(df, keys, "rk", parts = 8)
        .select("id", "rk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val off = Scheduler.globalPrefixSum(df, keys, col("v"), "off", parts = 8)
        .select("id", "off").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rk == single.map { case (id, (r, _)) => id -> r })
      assert(off == single.map { case (id, (_, o)) => id -> o })
    } finally { df.unpersist(); () }
  }

  test("globalPrefixSum is bit-identical to the single-partition window cumsum") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // values include zeros and repeats; id makes the order total
    val df = (0 until 5000).map(i => (i.toLong, (i * 31 % 97).toLong)).toDF("id", "v")
    val single = df.withColumn("off",
        coalesce(sum(col("v")).over(Window.orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("id", "off").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Scheduler.globalPrefixSum(df, Seq(col("id")), col("v"), "off", parts = 8)
      .select("id", "off").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == single)
    // one corpus shuffle, no range pass
    val q = Scheduler.globalPrefixSum(df, Seq(col("id")), col("v"), "off", parts = 8)
    val recs = shuffleRecords(q)
    assert(!q.queryExecution.executedPlan.toString.contains("rangepartitioning"))
    assert(recs.count(_ >= 5000) == 1, s"expected 1 corpus-sized shuffle, got $recs")
    assert(recs.count(_ > 1000) == 1, s"other shuffles must carry partials only: $recs")
  }

  test("groupedPrefixSum is bit-identical to the per-group window cumsum, incl. a hot group") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // one group holds ~70% of the rows (the hot-source shape the grouped
    // two-pass exists for); values include zeros and repeats
    val df = (0 until 6000).map { i =>
      val g = if (i % 10 < 7) "hot" else if (i % 10 < 9) "warm" else "cold"
      (g, i.toLong, (i * 31 % 97).toLong)
    }.toDF("g", "id", "v")
    val single = df.withColumn("off",
        coalesce(sum(col("v")).over(Window.partitionBy(col("g")).orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("g", "id", "off").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dist = Scheduler.groupedPrefixSum(df, "g", Seq(col("id")), col("v"), "off", parts = 8)
      .select("g", "id", "off").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(dist == single)
    // the corpus moves through exactly one corpus-sized shuffle; the group
    // totals and bucket offsets ride partial-agg exchanges only
    val q = Scheduler.groupedPrefixSum(df, "g", Seq(col("id")), col("v"), "off", parts = 8)
    val recs = shuffleRecords(q)
    assert(recs.count(_ >= 6000) == 1, s"expected 1 corpus-sized shuffle, got $recs")
  }

  test("per-host budget dim overrides the default; banded variant agrees") {
    import spark.implicits._
    val f = (0 until 18).map { i =>
      val host = s"h${i % 3}.example.com"
      (s"https://$host/p$i", host, (i % 2).toLong, i.toLong, 0)
    }.toDF("canonical_url", "host", "priority", "seed_rank", "depth")
    val budgets = Seq(("h0.example.com", 1), ("h1.example.com", 3)).toDF("host", "budget")
    def chk(out: org.apache.spark.sql.DataFrame): Map[(String, Long), Int] = {
      val rows = out.select("host", "batch_id", "rank_in_batch", "rk")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      val perBudget = Map("h0.example.com" -> 1, "h1.example.com" -> 3, "h2.example.com" -> 2)
      rows.foreach { case (h, b, rib, rk) =>
        assert(rib < perBudget(h), s"$h rank_in_batch $rib exceeds budget")
        assert(b == (rk - 1) / perBudget(h), s"$h batch formula broken")
      }
      rows.groupBy(t => (t._1, t._2)).view.mapValues(_.length).toMap
    }
    val plain = Scheduler.schedule(f, Some(budgets), defaultBudget = 2)
    val sizes = chk(plain)
    // h0 (budget 1): 6 urls → 6 batches of 1; h1 (3): 2 batches of 3;
    // h2 (default 2): 3 batches of 2
    assert(sizes.count(_._1._1 == "h0.example.com") == 6)
    assert(sizes.count(_._1._1 == "h1.example.com") == 2)
    assert(sizes.count(_._1._1 == "h2.example.com") == 3)
    // banded variant: identical assignment
    val banded = Scheduler.scheduleBanded(f, Some(budgets), defaultBudget = 2)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("canonical_url", "batch_id", "rank_in_batch")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(key(banded) == key(plain))
  }

  test("dedupFrontierGeneral (struct-min fallback) equals the packed-key dedupFrontier") {
    import spark.implicits._
    val f = (0 until 2000).map { i =>
      val url = s"https://h${i % 7}.example.com/p${i % 300}" // 300 distinct urls
      (url, (i % 50).toLong, i.toLong, s"h${i % 7}.example.com", i % 4)
    }.toDF("canonical_url", "priority", "seed_rank", "host", "depth")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("canonical_url", "priority", "seed_rank", "depth")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(norm(Scheduler.dedupFrontierGeneral(f)) == norm(Scheduler.dedupFrontier(f)))
  }

  test("robotsFilter: empty prefix means no restriction; unlisted hosts pass") {
    import spark.implicits._
    val robots = Seq(("multi.example.com", "", true))
      .toDF("host", "path_prefix", "allowed")
    assert(Scheduler.robotsFilter(frontier, robots).count() == 4)
  }
}
