package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.LinkGraph

/** Semantic tests for the link-graph operators: redirect resolution must
  * agree with a driver-side sequential walker (incl. cycles, merges,
  * self-loops, over-cap chains), PageRank with an exact integer
  * reference, and each incremental update with its one-shot twin. */
class LinkGraphSpec extends SparkSpec {

  private def edgesDf(e: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    e.toDF("src", "dst")
  }

  /** Driver-side reference walk with the same maxChain contract as
    * [[LinkGraph.resolveRedirects]]: resolved iff a terminal is reached
    * within maxChain hops. */
  private def walkRef(edges: Map[Long, Long], maxChain: Int)
      : Map[Long, (Option[Long], Option[Long], Boolean)] =
    edges.keysIterator.map { s =>
      var cur = s
      var hops = 0L
      while (edges.contains(cur) && hops <= maxChain) { cur = edges(cur); hops += 1 }
      val ok = !edges.contains(cur) && hops <= maxChain
      s -> (if (ok) (Some(cur), Some(hops), false) else (None, None, true))
    }.toMap

  private def collectResolved(df: DataFrame)
      : Map[Long, (Option[Long], Option[Long], Boolean)] =
    df.collect().map { r =>
      r.getLong(0) -> (
        (if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getBoolean(3)))
    }.toMap

  private val handGraph = Seq(
    1L -> 2L, 2L -> 3L, 3L -> 4L, // chain to terminal 4
    5L -> 3L,                     // merges into the chain
    10L -> 10L,                   // self-loop (1-cycle)
    20L -> 21L, 21L -> 22L, 22L -> 20L, // 3-cycle
    30L -> 20L,                   // leads INTO the cycle — must not settle
    40L -> 41L)                   // 1-hop chain

  test("resolveRedirects: chains, merges, cycles, lead-ins, self-loops") {
    val got = collectResolved(LinkGraph.resolveRedirects(edgesDf(handGraph)))
    val expected = Map(
      1L -> (Some(4L), Some(3L), false),
      2L -> (Some(4L), Some(2L), false),
      3L -> (Some(4L), Some(1L), false),
      5L -> (Some(4L), Some(2L), false),
      40L -> (Some(41L), Some(1L), false),
      10L -> (None, None, true),
      20L -> (None, None, true),
      21L -> (None, None, true),
      22L -> (None, None, true),
      30L -> (None, None, true))
    assert(got === expected)
  }

  test("resolveRedirects: chains beyond maxChain come back unresolved") {
    // 0→1→…→10: src i resolves to 10 in 10−i hops
    val chain = (0L until 10L).map(i => i -> (i + 1))
    val got = collectResolved(LinkGraph.resolveRedirects(edgesDf(chain), maxChain = 4))
    val expected = walkRef(chain.toMap, 4)
    assert(got === expected)
    assert(got(6L) === ((Some(10L), Some(4L), false)), "hops == maxChain must resolve")
    assert(got(5L) === ((None, None, true)), "hops > maxChain must be unresolved")
  }

  test("resolveRedirects: random functional graphs match the sequential walker") {
    for (seed <- Seq(7L, 23L, 91L)) {
      val n = 120
      val edges = (0 until n).flatMap { i =>
        val h = graft.imagecodec.ImageCodec.mix64(seed * 1000003L + i)
        // ~1/6 of nodes are terminals (no out-edge); successors mix short
        // chains and back-references so cycles of assorted lengths form
        if (math.floorMod(h, 6) == 0) None
        else Some(i.toLong -> math.floorMod(h >> 8, n.toLong))
      }
      val fnMap = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).min }
      val expected = walkRef(fnMap, 16)
      val got = collectResolved(LinkGraph.resolveRedirects(edgesDf(edges), maxChain = 16))
      assert(got === expected, s"diverged from walker at seed $seed")
    }
  }

  test("resolveRedirects: empty edge set yields empty output with the right schema") {
    val out = LinkGraph.resolveRedirects(edgesDf(Seq.empty))
    assert(out.columns.toSeq === Seq("src", "final_dst", "hops", "unresolved"))
    assert(out.count() === 0)
  }

  test("updateRedirects: extensions, new chains, new cycles equal full re-resolution") {
    // stored: chains 0→1→2→3 (terminal 3), 10→11 (terminal 11), and a
    // pre-existing cycle 50↔51
    val oldEdges = Seq(0L -> 1L, 1L -> 2L, 2L -> 3L, 10L -> 11L, 50L -> 51L, 51L -> 50L)
    // batch: 3 starts redirecting (extends every chain ending at 3), a
    // brand-new chain 30→31, 11 redirecting BACK closes a cycle, and 52
    // lands on a stored cycle member (must inherit unresolved)
    val batch = Seq(3L -> 20L, 20L -> 21L, 30L -> 31L, 11L -> 10L, 52L -> 50L)
    val got = collectResolved(LinkGraph.updateRedirects(
      LinkGraph.resolveRedirects(edgesDf(oldEdges)), edgesDf(batch)))
    val full = collectResolved(LinkGraph.resolveRedirects(edgesDf(oldEdges ++ batch)))
    assert(got === full)
    assert(got(0L) === ((Some(21L), Some(5L), false)), "stored chain must extend through the new edges")
    assert(got(10L) === ((None, None, true)), "a closed-back terminal must become a cycle")
    assert(got(52L) === ((None, None, true)), "landing on a stored cycle member must inherit unresolved")
    assert(got(30L) === ((Some(31L), Some(1L), false)))
  }

  test("updateRedirects: walks crossing maxChain become unresolved, like the full walk") {
    val oldEdges = (0L until 6L).map(i => i -> (i + 1)) // 0→…→6, longest walk 6
    val batch = (6L until 11L).map(i => i -> (i + 1))   // extends to 11 hops
    val got = collectResolved(LinkGraph.updateRedirects(
      LinkGraph.resolveRedirects(edgesDf(oldEdges), maxChain = 8),
      edgesDf(batch), maxChain = 8))
    val full = collectResolved(
      LinkGraph.resolveRedirects(edgesDf(oldEdges ++ batch), maxChain = 8))
    assert(got === full)
    assert(got(0L) === ((None, None, true)), "0's walk is now 11 > 8 hops")
    assert(got(3L) === ((Some(11L), Some(8L), false)), "hops == maxChain still resolves")
  }

  test("updateRedirects: a changed (non-append) redirect is refused") {
    val stored = LinkGraph.resolveRedirects(edgesDf(Seq(0L -> 1L, 1L -> 2L)))
    val ex = intercept[IllegalArgumentException] {
      LinkGraph.updateRedirects(stored, edgesDf(Seq(1L -> 5L))).count()
    }
    assert(ex.getMessage.contains("append-only"))
  }

  test("updateRedirects: random edge splits equal one-shot resolution") {
    for (seed <- Seq(11L, 47L)) {
      val n = 150
      val edges = (0 until n).flatMap { i =>
        val h = graft.imagecodec.ImageCodec.mix64(seed * 7919L + i)
        if (math.floorMod(h, 5) == 0) None
        else Some(i.toLong -> math.floorMod(h >> 8, n.toLong))
      }
      // a functional edge set has ONE out-edge per src, so ANY split is
      // append-only (batch srcs cannot already have an edge in batch 1)
      val (b1, b2) = edges.partition { case (s, d) =>
        graft.imagecodec.ImageCodec.mix64(s * 31L + d) % 2 == 0
      }
      val got = collectResolved(LinkGraph.updateRedirects(
        LinkGraph.resolveRedirects(edgesDf(b1), maxChain = 16),
        edgesDf(b2), maxChain = 16))
      val full = collectResolved(
        LinkGraph.resolveRedirects(edgesDf(edges), maxChain = 16))
      // the one-shot side is itself pinned to the sequential walker
      assert(full === walkRef(edges.toMap, 16), s"one-shot diverged from walker at seed $seed")
      assert(got === full, s"update diverged at seed $seed")
    }
  }

  /** Exact integer reference of [[LinkGraph.pagerank]]. */
  private def pagerankRef(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000L, num: Long = 85, den: Long = 100): Map[Long, Long] = {
    val e = edges.distinct
    val deg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val base = (den - num) * scale / den
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val contrib = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (u, _) => r(u) / deg(u) }.sum
      }
      r = nodes.map(n => n -> (base + num * contrib.getOrElse(n, 0L) / den)).toMap
    }
    r
  }

  test("pagerank: exact integer agreement with the reference") {
    // hub-and-chain with a dangling sink (2 has no out-edges) and a
    // multi-in-degree hub (0)
    val edges = Seq(0L -> 1L, 0L -> 2L, 1L -> 0L, 1L -> 2L, 3L -> 0L, 4L -> 0L, 4L -> 3L)
    val expected = pagerankRef(edges, iters = 4)
    val got = LinkGraph.pagerank(edgesDf(edges), iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    // ranks moved off the uniform start and the hub outranks the leaves
    assert(expected(0L) > expected(4L))
  }

  test("pagerank: sf0.001 fixture link graph matches the reference") {
    val edges = graft.queries.Fixture.linkEdges(spark, "/root/testdata/sf0.001")
    val local = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val got = ranksOf(LinkGraph.pagerank(edges, iterations = 3))
    assert(got.nonEmpty)
    assert(got === pagerankRef(local, iters = 3))
  }

  private def ranksOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pagerankHistory: the last level IS pagerank; levels are per-iteration exact") {
    val edges = Seq(0L -> 1L, 0L -> 2L, 1L -> 0L, 1L -> 2L, 3L -> 0L, 4L -> 0L, 4L -> 3L)
    val st = LinkGraph.pagerankHistory(edgesDf(edges), iterations = 4)
    assert(st.history.length === 5)
    assert(ranksOf(st.history.last) === pagerankRef(edges, iters = 4))
    assert(ranksOf(st.history(2)) === pagerankRef(edges, iters = 2))
    // r0 is the uniform start over every incident node
    assert(ranksOf(st.history.head).values.toSet === Set(1000000L))
    assert(ranksOf(st.history.head).keySet === edges.flatMap(e => Seq(e._1, e._2)).toSet)
  }

  test("updatePagerank: dirty-frontier update equals one-shot pagerank on random splits") {
    val rnd = new scala.util.Random(20260819L)
    for (trial <- 0 until 4) {
      val n = 40 + rnd.nextInt(40)
      val all = (0 until (2 * n)).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val (b1, b2) = all.partition(_ => rnd.nextBoolean())
      val expected = pagerankRef(all, iters = 3)
      val st = LinkGraph.pagerankHistory(edgesDf(b1), iterations = 3)
      val got = ranksOf(LinkGraph.updatePagerank(st, edgesDf(b2)))
      assert(got === expected, s"trial $trial: n=$n b1=${b1.size} b2=${b2.size}")
    }
  }

  test("updatePagerank: brand-new nodes, re-discovered edges, empty batch") {
    val stored = Seq(0L -> 1L, 1L -> 2L, 2L -> 0L)
    val st = LinkGraph.pagerankHistory(edgesDf(stored), iterations = 3)
    // batch re-discovers a stored edge (no-op), extends a stored node's
    // out-degree, and attaches a brand-new 2-node tail
    val batch = Seq(0L -> 1L, 1L -> 3L, 3L -> 4L)
    val got = ranksOf(LinkGraph.updatePagerank(st, edgesDf(batch)))
    assert(got === pagerankRef((stored ++ batch).distinct, iters = 3))
    // an all-duplicates batch returns the stored top level as-is
    val noop = ranksOf(LinkGraph.updatePagerank(st, edgesDf(stored)))
    assert(noop === pagerankRef(stored, iters = 3))
  }

  test("updatePagerank: empty stored graph equals pagerank of the batch alone") {
    val st = LinkGraph.pagerankHistory(edgesDf(Seq.empty), iterations = 3)
    val batch = Seq(0L -> 1L, 1L -> 2L, 2L -> 0L, 3L -> 0L)
    val got = ranksOf(LinkGraph.updatePagerank(st, edgesDf(batch)))
    assert(got === pagerankRef(batch, iters = 3))
  }
}
