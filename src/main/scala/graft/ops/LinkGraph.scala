package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph operators over crawl edge sets — the graph half of a web
  * crawler that [[Dedup.connectedComponents]]' closure machinery doesn't
  * cover: DIRECTED single-successor resolution (HTTP redirect chains) and
  * fixed-iteration link-importance scoring (frontier prioritization).
  *
  * Each operator has one iteration loop, written as DataFrame rounds with
  * per-round lineage truncation ([[IterSupport]]) — the same shape as the
  * CC closure, kept for the same reason: it is the shape that holds at
  * 10^10 edges. Every round is joins and aggregates behind hash
  * exchanges, so per-task memory stays bounded by the partition rather
  * than by a node's degree, Tungsten moves the edges as unsafe rows, and
  * AQE re-plans each round's shuffle width as the working set shrinks.
  * At query scale a round costs mostly driver-side planning of a plan
  * whose shape never changes.
  */
object LinkGraph {

  // -------------------------------------------------------------------
  // Redirect-chain resolution
  // -------------------------------------------------------------------

  /** Resolve every redirect source to its FINAL destination by pointer
    * doubling — the batch shape of "follow HTTP redirects before
    * enqueueing": each round every unresolved chain jumps through the
    * current table (`f ← f∘f`), so a chain of length L settles in
    * ⌈log₂ L⌉ + 1 rounds, each ONE shuffle of the still-unsettled rows
    * (never the corpus): O(log maxChain) rounds total, not O(chain).
    *
    * Input: (src, dst) long edges, one out-edge per node (extra edges are
    * functionalized deterministically by min(dst); nulls dropped).
    * Output: one row per source — (src, final_dst, hops, unresolved).
    * `unresolved = true` (with null final/hops) marks sources whose walk
    * has not terminated within `maxChain` hops: redirect CYCLES and
    * over-long chains alike. The cap mirrors what every HTTP client does
    * (browsers stop at ~20 redirects; curl at 50) — a crawler treats both
    * cases as fetch failures, and the cap is also what bounds the round
    * count at 10^10 edges, where an unbounded cycle hunt would otherwise
    * run ⌈log₂ E⌉ ≈ 34 rounds to prove non-termination.
    *
    * Scale shape: rounds touch only unsettled rows (settled rows pass
    * through as the join's right side, one partitioned table reused);
    * everything is keyed by node id — no driver-side walking, nothing
    * collected. Lineage is truncated every round like the CC loop.
    */
  def resolveRedirects(edges: DataFrame, maxChain: Int = 64): DataFrame = {
    // functionalize: one deterministic successor per source
    val fn = functionalized(edges)
    resolveWeighted(fn.select(col("src"), col("dst"), lit(1L).as("w")), maxChain)
  }

  private def functionalized(edges: DataFrame): DataFrame = edges
    .filter(col("src").isNotNull && col("dst").isNotNull)
    .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    .groupBy("src").agg(min(col("dst")).as("dst"))

  /** The shared walk engine under [[resolveRedirects]] (unit weights) and
    * [[updateRedirects]] (hop-weighted COMPRESSED edges): pointer doubling
    * over a FUNCTIONAL (src, dst, w) edge set, where `w` is the number of
    * original hops the edge stands for. Settling still needs only
    * ⌈log₂ maxChain⌉+1 rounds (a compressed path within the cap has at
    * most maxChain edges), total hops compose exactly (h + h'), and the
    * unresolved classification is unchanged: an unsettled row after the
    * round bound carries hops ≥ 2·maxChain (each round at least doubles
    * an unsettled row's hops, weights ≥ 1), so `hops > maxChain` holds
    * for precisely the walks the full (uncompressed) resolution would
    * also refuse. */
  private def resolveWeighted(fnw: DataFrame, maxChain: Int): DataFrame = {
    require(maxChain >= 1, s"maxChain must be >= 1, got $maxChain")
    val reliable = fnw.sparkSession.sparkContext.getCheckpointDir.isDefined
    val fn = IterSupport.truncateDf(fnw, reliable) // materializes in round 1's count
    val resolved = redirectRounds(fn, ceilLog2(maxChain) + 1, reliable)

    resolved.select(
      col("src"),
      when(col("__settled") && col("__hops") <= maxChain, col("__cur")).as("final_dst"),
      when(col("__settled") && col("__hops") <= maxChain, col("__hops")).as("hops"),
      (!col("__settled") || col("__hops") > maxChain).as("unresolved"))
  }

  /** Fold a crawl batch's NEWLY DISCOVERED redirects into a stored
    * resolution table — the redirect leg of the engine's incremental-
    * maintenance set (seen: CuckooSeen.insert; ANN: Ivf.appendToIndex;
    * band index: BandStore.append; labels: Dedup.updateComponents; THIS).
    * Re-resolving the full edge history per batch is O(all redirects
    * ever); here the walk re-runs ONLY over the rows the batch can touch.
    *
    * Append-only contract (asserted — violations THROW): a batch edge's
    * src must have had no out-edge, i.e. redirects are DISCOVERED at
    * previously-terminal urls (the natural crawl case: a url that used to
    * serve content starts redirecting is a re-crawl event that
    * invalidates compressed rows walking THROUGH it, which this table
    * cannot see — rebuild via [[resolveRedirects]] for that).
    *
    * Correctness by compression: a stored row (src → final, hops) is a
    * hop-weighted edge standing for its whole chain. The re-walk runs
    * over exactly (a) AFFECTED stored rows — final_dst ∈ batch srcs: the
    * only stored walks the new edges can extend; (b) the batch edges
    * (weight 1); (c) stored rows whose src ∈ batch dsts — the compressed
    * continuations a new edge can land on (an UNRESOLVED landing target —
    * cycle member or over-cap walk — enters as a self-loop instead, so
    * the lander inherits unresolved rather than stopping there as if it
    * were a terminal). Any walk from an affected or
    * batch src only ever reaches batch srcs (edges present), batch dsts
    * (continuation rows present), or terminals — intermediate nodes of
    * other chains are unreachable BECAUSE the rows are compressed — so
    * this O(affected + batch) set is closed and the result is row-equal
    * to full re-resolution (g3 oracle + LinkGraphSpec random splits).
    * Unresolved rows pass through: cycle members all have out-edges (no
    * append can change them) and an over-cap walk only lengthens.
    *
    * Like [[Dedup.updateComponents]], `newEdges` is consumed entirely
    * during the call (checkpointed); `resolved` is re-scanned lazily by
    * the pass-through at every downstream action and must stay cheap to
    * re-read (store- or checkpoint-backed, as this engine's outputs are). */
  def updateRedirects(resolved: DataFrame, newEdges: DataFrame,
      maxChain: Int = 64): DataFrame = {
    val spark = resolved.sparkSession
    val neLazy = functionalized(newEdges)
    // non-eager: the conflicts probe right below is the first action over
    // ne and materializes the checkpoint — the eager form paid a separate
    // materialization job before it
    val ne =
      if (spark.sparkContext.getCheckpointDir.isDefined) neLazy.checkpoint(eager = false)
      else neLazy.localCheckpoint(eager = false)
    val conflicts = ne.join(resolved.select(col("src")), Seq("src"), "left_semi")
    if (conflicts.limit(1).count() > 0)
      throw new IllegalArgumentException(
        "updateRedirects is append-only: a batch edge's src already has an " +
          "out-edge (src " + conflicts.head().getLong(0) + ") — a CHANGED " +
          "redirect invalidates compressed rows that walk through it; " +
          "rebuild with resolveRedirects")

    val newSrcs = ne.select(col("src").as("final_dst"))
    // O(batch)-row right sides: AQE broadcasts both the semi and the anti
    val affected = resolved.filter(!col("unresolved"))
      .join(newSrcs, Seq("final_dst"), "left_semi")
    val untouched = resolved.join(newSrcs, Seq("final_dst"), "left_anti")
    val batchDsts = ne.select(col("dst").as("src")).distinct()
    val continuations = resolved.filter(!col("unresolved"))
      .join(batchDsts, Seq("src"), "left_semi")
    // a batch edge can also land on an UNRESOLVED stored src (a cycle
    // member or over-cap walk) — the lander must inherit unresolved, so
    // those targets enter the walk as self-loops, which never settle
    // (caught by the random-split spec: without this the walk SETTLES at
    // the poisoned node as if it were a terminal)
    val poisoned = resolved.filter(col("unresolved"))
      .join(batchDsts, Seq("src"), "left_semi")
      .select(col("src"), col("src").as("dst"), lit(1L).as("w"))

    val walkEdges = affected
      .select(col("src"), col("final_dst").as("dst"), col("hops").as("w"))
      .unionByName(continuations
        .select(col("src"), col("final_dst").as("dst"), col("hops").as("w")))
      .unionByName(poisoned)
      .unionByName(ne.select(col("src"), col("dst"), lit(1L).as("w")))
      .distinct() // affected ∩ continuations rows are identical duplicates
    val rewalked = resolveWeighted(walkEdges, maxChain)

    // rewalked wins for its srcs (continuation rows re-emit unchanged;
    // affected and batch rows re-emit re-resolved)
    rewalked.unionByName(
      untouched.join(rewalked.select(col("src")), Seq("src"), "left_anti")
        .select(col("src"), col("final_dst"), col("hops"), col("unresolved")))
  }

  private def ceilLog2(n: Int): Int =
    64 - java.lang.Long.numberOfLeadingZeros(math.max(1, n.toLong - 1))

  /** The pointer-doubling rounds: state (src → cur, hops, settled). Per
    * round the unsettled rows left-join the full state on cur (one
    * shuffle of the still-unsettled rows): a miss means cur has no
    * out-edge — the chain terminal; a hit composes the jump, doubling the
    * covered distance. Settled rows rejoin by union. */
  private def redirectRounds(fn: DataFrame, rounds: Int,
      reliable: Boolean): DataFrame = {
    var state = fn.select(col("src"), col("dst").as("__cur"),
      col("w").as("__hops"), lit(false).as("__settled"))
    var unsettled = Long.MaxValue
    var r = 0
    while (unsettled > 0 && r < rounds) {
      val jump = state.select(col("src").as("__bsrc"), col("__cur").as("__bcur"),
        col("__hops").as("__bhops"), col("__settled").as("__bsettled"))
      val u = state.filter(!col("__settled"))
      val stepped = u.join(jump, u("__cur") === jump("__bsrc"), "left")
        .select(u("src"),
          coalesce(col("__bcur"), u("__cur")).as("__cur"),
          when(col("__bsrc").isNull, u("__hops"))
            .otherwise(u("__hops") + col("__bhops")).as("__hops"),
          when(col("__bsrc").isNull, lit(true))
            .otherwise(col("__bsettled")).as("__settled"))
      state = IterSupport.truncateDf(
        state.filter(col("__settled")).unionByName(stepped), reliable)
      unsettled = state.filter(!col("__settled")).count() // materializes
      r += 1
    }
    state
  }

  // -------------------------------------------------------------------
  // Fixed-point PageRank (frontier prioritization)
  // -------------------------------------------------------------------

  /** Fixed-iteration PageRank in 64-bit FIXED-POINT integer arithmetic —
    * the frontier-prioritization score (crawl the highest-rank hosts
    * first). All arithmetic is integral (`rank DIV outdeg`, damping as a
    * cross-multiplied fraction), so the result is EXACT and engine-
    * independent: the same formula in ANSI SQL produces hash-identical
    * values — no float summation-order drift, which is what makes a
    * cross-engine oracle possible for an iterative numeric operator.
    *
    *   rank₀(v)   = scale                      (1.0 in fixed-point)
    *   rankᵢ₊₁(v) = ((den−num)·scale) DIV den
    *              + (num · Σ_{u→v} rankᵢ(u) DIV outdeg(u)) DIV den
    *
    * Dangling mass is dropped (nodes with no out-edges contribute
    * nothing), the standard simplification when ranks are used as
    * RELATIVE priorities. Iterations are a fixed small constant — a
    * frontier scorer needs rank separation, not convergence — so total
    * work is `iterations` passes over the edge set: per iteration ONE
    * shuffle (the contribution groupBy); the rank-side joins are planned
    * by AQE. Overflow headroom: ranks are bounded by total mass ≤
    * nodes·scale; num·Σ stays under 2⁶³ through 10^10 nodes at the
    * default scale 10⁶.
    *
    * Input: (src, dst) long edges (dups/nulls dropped). Output:
    * (node, rank_fp) — every node incident to an edge, rank in units of
    * 1/scale. */
  def pagerank(edges: DataFrame, iterations: Int = 3, scale: Long = 1000000L,
      dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iterations >= 1 && dampDen > 0 && dampNum >= 0 && dampNum <= dampDen)
    val reliable = edges.sparkSession.sparkContext.getCheckpointDir.isDefined
    val base = (dampDen - dampNum) * scale / dampDen
    val e = IterSupport.truncateDf(prepEdges(edges), reliable)
    val deg = e.groupBy("src").agg(count(lit(1)).as("__outdeg"))
    val adj = IterSupport.truncateDf(e.join(deg, "src"), reliable)
    val nodes = IterSupport.truncateDf(
      e.select(col("src").as("node")).unionByName(e.select(col("dst").as("node")))
        .distinct(), reliable)
    var ranks = nodes.select(col("node"), lit(scale).as("rank_fp"))
    var i = 0
    while (i < iterations) {
      // NOTE: stays the groupBy + left-join form, NOT pagerankHistory's
      // union+agg — here `ranks` is only truncated every 5 rounds, so a
      // union with `nodes` would put the same relation in live lineage
      // twice and break attribute binding at execution (measured at the
      // 2M-edge bench: "key not found: node#…"); the history loop can use
      // union+agg precisely because it checkpoints every level.
      val contribs = adj.join(ranks, adj("src") === ranks("node"))
        // integral division: `DIV`, not `/` (float) — exactness is the contract
        .select(adj("dst").as("node"), expr("rank_fp div __outdeg").as("__c"))
        .groupBy("node").agg(sum(col("__c")).as("__c"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(s"($dampNum * coalesce(__c, 0L)) div $dampDen"))
            .as("rank_fp"))
      if ((i + 1) % 5 == 0) {
        ranks = IterSupport.truncateDf(ranks, reliable)
        ranks.count() // materialize the truncation point
      }
      i += 1
    }
    ranks
  }

  /** Normalized long (src, dst) edges, nulls dropped, deduped — the shared
    * prep of [[pagerank]], [[pagerankHistory]] and [[updatePagerank]]. */
  private def prepEdges(edges: DataFrame): DataFrame = edges
    .filter(col("src").isNotNull && col("dst").isNotNull)
    .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    .distinct()

  /** The stored PageRank maintenance artifact: the normalized edge set,
    * its out-degree table, the incident node set, and EVERY iteration's
    * rank table r₀..r_k — all lineage-truncated. In a deployment each
    * member is a store-backed table (dst-partitioned edges, node-keyed
    * deg/nodes/ranks); here they are checkpointed frames with the same
    * read cost shape. `history.last` is exactly what [[pagerank]] returns
    * for the same edges. */
  final case class PagerankState(edges: DataFrame, deg: DataFrame,
      nodes: DataFrame, history: Seq[DataFrame])

  /** [[pagerank]] keeping the full [[PagerankState]] — the stored shape
    * that makes incremental maintenance possible: [[updatePagerank]]
    * merges the batch against the stored deg/nodes in O(batch + stored
    * scans) and re-walks only the dirty frontier against the stored rank
    * levels. Everything is LAZY (non-eager checkpoints): the caller's
    * first action materializes the whole chain once; each level's blocks
    * are then served from the checkpoint on every later read. */
  def pagerankHistory(edges: DataFrame, iterations: Int = 3,
      scale: Long = 1000000L, dampNum: Long = 85,
      dampDen: Long = 100): PagerankState = {
    require(iterations >= 1 && dampDen > 0 && dampNum >= 0 && dampNum <= dampDen)
    val spark = edges.sparkSession
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    val base = (dampDen - dampNum) * scale / dampDen
    val e = IterSupport.truncateDf(prepEdges(edges), reliable)
    // deg and nodes both derive from the e checkpoint and are INDEPENDENT
    // of each other, yet each truncation executes its shuffle stages at
    // call time (AQE materializes a plan's exchanges inside toRdd), so
    // run the two from two driver threads (guide §2.6: overlap
    // independent jobs) instead of paying the two stage chains back to
    // back. Spark job submission is thread-safe; both read only the
    // materialized e leaf.
    val (deg, nodes) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fDeg = Future(IterSupport.truncateDf(
        e.groupBy("src").agg(count(lit(1)).as("__outdeg")), reliable))
      val fNodes = Future(IterSupport.truncateDf(
        e.select(col("src").as("node")).unionByName(e.select(col("dst").as("node")))
          .distinct(), reliable))
      (Await.result(fDeg, Duration.Inf), Await.result(fNodes, Duration.Inf))
    }
    // NOT truncated: each level re-runs this join of two checkpointed
    // frames (cheap, co-read), while truncating it would MATERIALIZE a
    // corpus-sized (src, dst, outdeg) table to block storage per fold —
    // more bytes written than the 3 re-joins cost (measured at the
    // 2M-edge bench; at 10^10 edges the write is strictly worse)
    val adj = e.join(deg, "src")
    // r0 is a literal projection over the checkpointed node set — cheap to
    // re-read by construction, so no truncation (saves a plan compile)
    var ranks = nodes.select(col("node"), lit(scale).as("rank_fp"))
    val hist = scala.collection.mutable.ArrayBuffer(ranks)
    var i = 0
    while (i < iterations) {
      // ONE exchange per level: contribution rows union a zero row per
      // node and aggregate — same values as the former groupBy + left
      // join back to `nodes` (a contrib-less node sums to 0), one less
      // exchange and no join stage, at every scale
      val contribs = adj.join(ranks, adj("src") === ranks("node"))
        .select(adj("dst").as("node"), expr("rank_fp div __outdeg").as("__c"))
      ranks = IterSupport.truncateDf(contribs
        .unionByName(nodes.select(col("node"), lit(0L).as("__c")))
        .groupBy("node").agg(sum(col("__c")).as("__c"))
        .select(col("node"),
          (lit(base) + expr(s"($dampNum * __c) div $dampDen")).as("rank_fp")),
        reliable)
      hist += ranks
      i += 1
    }
    PagerankState(e, deg, nodes, hist.toSeq)
  }

  /** Fold a crawl batch's NEWLY DISCOVERED link edges into a stored
    * PageRank — the link-importance leg of the engine's incremental-
    * maintenance set (seen: CuckooSeen.insert; ANN: Ivf.appendToIndex;
    * band index: BandStore.append; labels: Dedup.updateComponents;
    * redirects: updateRedirects; quantiles: k7; THIS). A full re-rank per
    * batch is `iterations` passes over ALL edges ever crawled; here every
    * iteration recomputes ONLY the dirty frontier — the nodes whose rank
    * the batch can actually change — and serves everything else from the
    * stored per-iteration history ([[PagerankState]]).
    *
    * Dirty-frontier induction (exactness, not approximation): at level i
    * a node's rank differs from stored iff some in-edge contribution
    * differs, i.e. some in-neighbor u has a changed rank at i−1 (dirty),
    * a changed out-degree (u ∈ batch srcs — deg'(u) > deg(u) even when
    * its rank is unchanged), or the edge itself is new (its src is a
    * batch src, so that case folds in). So
    *   srcDirty_i = dirty_{i−1} ∪ batchSrcs
    *   dirty_i    = dst(fullEdges ⋉ srcDirty_i) ∪ newNodes
    * and the recompute joins the stored level i−1 (patched with the
    * previous round's recomputed rows) against ONLY the in-edges of
    * dirty_i. Nodes outside every dirty set pass through from stored —
    * identical by induction, asserted row-equal vs a full re-rank in
    * LinkGraphSpec and the g5 oracle. On a web graph a batch's frontier
    * grows with its out-neighborhoods but is capped by the graph itself;
    * with dst-partitioned edge storage the in-edge semi joins are
    * partition-pruned index probes, never corpus scans.
    *
    * `state` must be [[pagerankHistory]] of the stored edges with the
    * same (scale, dampNum, dampDen); iterations = history.length − 1.
    * Batch edges already present in the stored set are ignored
    * (re-discovered links are a no-op, matching CuckooSeen.insert's
    * semantics). The stored deg/nodes tables are MERGED with the batch
    * (broadcast joins — the batch side is small), never re-derived from
    * the edge corpus: per batch the only stored-corpus work is scans
    * (partition-pruned probes against a dst-partitioned edge store),
    * no corpus-sized shuffle anywhere. */
  def updatePagerank(state: PagerankState, newEdges: DataFrame,
      scale: Long = 1000000L, dampNum: Long = 85,
      dampDen: Long = 100): DataFrame = {
    val history = state.history
    require(history.nonEmpty, "state must hold at least r0 — run pagerankHistory first")
    val spark = newEdges.sparkSession
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    val base = (dampDen - dampNum) * scale / dampDen
    val oldE = state.edges
    // batch dedup vs stored WITHOUT shuffling the corpus: intersect via a
    // broadcast-semi SCAN of the stored edges, then a broadcast anti
    // against that (small) intersection — checkpointed frames carry no
    // stats, so without the hints these anti joins sort-merge the corpus
    // ONE truncation for the whole batch prep (ne): prepNe executes twice
    // inside it (the storedDup broadcast build and the anti's left side) —
    // batch-sized work both times — while a second checkpoint would add a
    // full driver-side plan compile (~0.3 s, the measured dominant cost of
    // this operator at query scale; see the expansion-loop note below)
    val prepNe = prepEdges(newEdges)
    val storedDup = oldE.join(broadcast(prepNe), Seq("src", "dst"), "left_semi")
    val ne = IterSupport.truncateDf(prepNe
      .join(broadcast(storedDup), Seq("src", "dst"), "left_anti"), reliable)
    if (ne.limit(1).count() == 0L) return history.last

    val full = oldE.unionByName(ne) // disjoint by the anti join
    // deg' = stored deg + per-src batch deltas (broadcast merge + the
    // brand-new srcs via the same scan-intersect trick), NEVER a
    // re-aggregation of the stored edge corpus
    // batch-sized frames below (batchDeg, newNodes) are deliberately NOT
    // truncated: their ≤4 re-executions are small shuffles over the ne
    // checkpoint, cheaper than a plan compile each
    val batchDeg = ne.groupBy("src").agg(count(lit(1)).as("__bd"))
    val degDup = state.deg.join(broadcast(batchDeg), Seq("src"), "left_semi")
      .select(col("src"))
    // not truncated: with the hoisted degT below, deg' is read once per
    // fold — a truncation would only add a plan compile
    val deg = state.deg.join(broadcast(batchDeg), Seq("src"), "left")
      .select(col("src"),
        (col("__outdeg") + coalesce(col("__bd"), lit(0L))).as("__outdeg"))
      .unionByName(batchDeg.join(broadcast(degDup), Seq("src"), "left_anti")
        .select(col("src"), col("__bd").as("__outdeg")))
    val neNodes = ne.select(col("src").as("node"))
      .unionByName(ne.select(col("dst").as("node"))).distinct()
    val nodeDup = state.nodes.join(broadcast(neNodes), Seq("node"), "left_semi")
    val newNodes = neNodes.join(broadcast(nodeDup), Seq("node"), "left_anti")
    val batchSrcs = ne.select(col("src")).distinct()

    // Broadcast-small assumption (documented contract, like
    // updateRedirects' append-only rule): the batch and its ≤ |batch| ×
    // out-degree^k dirty frontier fit the broadcast budget — true for
    // crawl-batch folds with the small fixed iteration count; a batch
    // whose frontier outgrows that is a re-rank, not a fold.
    //
    // The per-level dirty sets are MONOTONE (D₀ = newNodes; Dᵢ =
    // dst(full ⋉ (Dᵢ₋₁ ∪ batchSrcs)) ∪ newNodes, so Dᵢ₋₁ ⊆ Dᵢ by
    // induction), which makes the FINAL frontier D = D_k a sound
    // recompute set for EVERY level: a node v ∈ D \ Dᵢ has, at level i,
    // only in-neighbors whose rank and out-degree are unchanged, so
    // recomputing it reproduces its stored rank exactly (level-0 base:
    // every rank is `scale`). Expanding D first and recomputing all of D
    // per level is therefore row-equal to the per-level-Dᵢ walk
    // (LinkGraphSpec's random-split equality + the g5 oracle pin it) —
    // and it moves the in-edge probe, the touched-src set and the
    // deg'/history pruning scans OUT of the round loop: one corpus probe
    // each per FOLD instead of per ITERATION (at 10^10 edges the
    // partition-pruned in-edge probe is the expensive step; at bench
    // scale this also halves the job count). The recompute work per
    // level grows from |Dᵢ| to |D| rows — both are O(dirty frontier),
    // the same bound.
    // Intermediate expansion frames are single-reference chains (D_i is
    // read only by D_{i+1}), so only the FINAL frontier is truncated —
    // each dropped truncation saves a full driver-side plan compile
    // (localCheckpoint/checkpoint force toRdd at call time; measured
    // ~0.3 s/frame, the dominant cost of this operator at query scale)
    // while execution cost is unchanged: every subtree still runs once.
    var dirty = newNodes                                       // D₀
    var i = 1
    while (i < history.length) {
      // intermediate rounds carry NO distinct anywhere — a semi-join
      // probe is duplicate-tolerant, so only the FINAL frontier (which
      // feeds the row-emitting unions) must be an exact set. Each
      // dropped distinct is one two-stage aggregate fewer PER LEVEL in
      // the expansion tree, whose one-time physical compile is this
      // operator's measured dominant cost at query scale (the broadcast
      // carries duplicate probe keys instead — bounded by the same
      // dirty-frontier contract).
      val srcDirty = dirty.select(col("node").as("src"))
        .unionByName(batchSrcs)
      val next = full.join(broadcast(srcDirty), Seq("src"), "left_semi")
        .select(col("dst").as("node"))
        .unionByName(newNodes)
      dirty = if (i == history.length - 1) IterSupport.truncateDf(next.distinct(), reliable)
        else next
      i += 1
    }
    // in-edges of the final dirty set — ONE probe a dst-partitioned edge
    // store answers with partition pruning; touched srcs, pruned deg' and
    // the per-level pruned history follow from it, all outside the loop
    // (the identical broadcast subtrees below then build once per
    // execution via exchange reuse instead of once per round)
    val inE = IterSupport.truncateDf(
      full.join(broadcast(dirty.select(col("node").as("dst"))),
        Seq("dst"), "left_semi"), reliable)
    val touched = IterSupport.truncateDf(inE.select(col("src")).distinct(), reliable)
    val degT = deg.join(broadcast(touched), Seq("src"), "left_semi")
    var recomputed = dirty.select(col("node"), lit(scale).as("rank_fp"))
    i = 1
    while (i < history.length) {
      // r'_{i−1} over the touched srcs = stored level patched with the
      // previous level's recomputes (all of D, so the anti is vs D)
      val mergedT = history(i - 1).join(broadcast(touched.withColumnRenamed("src", "node")),
          Seq("node"), "left_semi")
        .join(broadcast(dirty), Seq("node"), "left_anti")
        .unionByName(recomputed.join(broadcast(touched.withColumnRenamed("src", "node")),
          Seq("node"), "left_semi"))
      val contribs = inE.join(broadcast(degT), "src")
        .join(broadcast(mergedT.withColumnRenamed("node", "src")), Seq("src"))
        .select(col("dst").as("node"), expr("rank_fp div __outdeg").as("__c"))
        .groupBy("node").agg(sum(col("__c")).as("__c"))
      // single-reference chain (level i is read only inside level i+1's
      // mergedT broadcast, or the final union) over checkpointed leaves
      // (dirty/inE/touched) — no truncation, no per-round plan compile.
      // Kept as broadcast-join form (NOT the union+agg of the full
      // loops): this chain re-executes inside the next round's broadcast
      // build, so it must stay shuffle-free — a shuffle here re-submits
      // its stages per re-execution (measured +2 s at query scale).
      recomputed = dirty.join(broadcast(contribs), Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(s"($dampNum * coalesce(__c, 0L)) div $dampDen"))
            .as("rank_fp"))
      i += 1
    }
    history.last.join(broadcast(dirty), Seq("node"), "left_anti")
      .unionByName(recomputed)
  }
}
