package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.{Contamination, Dedup, Sessionize, Similarity, TextAnalysis}

/** Training-data pipeline operators over the `documents` and `embeddings`
  * tables (builder prompt: dedup family, similarity search, text
  * analysis, multimodal plumbing) plus join/window headliners. Hash-based
  * signatures (minhash/simhash/LSH) have no cross-engine oracle — those
  * queries are rows-only; everything value-portable gets a DuckDB twin.
  */
object DataOpsQueries {

  private def decSum(c: org.apache.spark.sql.Column, as: String) =
    sum(c.cast(DecimalType(18, 6))).cast("double").as(as)

  /** embedding quantized to exact integers (×1000) so dot products are
    * integer-exact and the derived cosine is the SAME double in Spark and
    * DuckDB (float-sum order would otherwise diverge). */
  private def quantized(vec: org.apache.spark.sql.Column) =
    transform(vec, e => round(e.cast("double") * 1000).cast("long"))

  /** Multi-signal near-dup edge set over a docs frame: MinHash-LSH
    * candidates verified by exact integer jaccard (j ≥ 0.8) UNION simhash
    * pairs within hamming 6 of the cross-engine 60-bit token hash — the
    * two text-near-dup detectors voting into ONE pair graph, which is what
    * [[graft.ops.Dedup.connectedComponents]] then collapses (d9/e1). */
  // (the per-token cross-engine hash now rides the md5TokenHashes array
  // kernel inside simhashSigs; scalar call sites use CrossHash.md5Hash60)

  /** (doc_id, sig): the d3-identical 60-bit simhash of a docs frame —
    * the signature the d11 band store persists and probes. */
  private def simhashSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      Dedup.simhashFromHashes(
        graft.functions.graftfns.md5TokenHashes(
          split(lower(trim(col("text"))), "\\s+")), 60).as("sig"))

  /** Band-store location, scoped per (session, sf dir) under the bench
    * store root. Session-scoped paths never collide across runs — which
    * also means nothing overwrites them, so the owning JVM's pid rides in
    * the DIRECTORY NAME (a pidfile inside would not survive the store's
    * own mode=overwrite write) and Bench.sweepStaleStores reclaims the
    * entry the moment that pid dies; the age threshold alone would let a
    * burst of runs accumulate unreclaimed inside its window. */
  private def bandStorePath(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val sess = org.apache.spark.sql.graftbridge.Bridge.sessionUUID(s)
    s"/tmp/graft-store/bandstore_pid${ProcessHandle.current().pid()}_${tag}_$sess"
  }

  private def nearDupPairs(docs: DataFrame): DataFrame = {
    val lsh = Dedup.minhashLshCandidates(docs, "text", "doc_id")
    val mh = Dedup.jaccardVerify(docs, lsh.select("id_a", "id_b"), "text", "doc_id")
      .filter(col("jaccard_den") > 0 && col("jaccard_num") * 5 >= col("jaccard_den") * 4)
      .select("id_a", "id_b")
    // banded hamming over simhashSigs — same derivation as
    // simhashCandidates(tokenHash = md5TokenHash) but through the
    // one-call-per-row md5TokenHashes kernel instead of the interpreted
    // per-token transform (d3 gets the same rewrite)
    val sh = Dedup.hammingCandidates(simhashSigs(docs), "doc_id", "sig",
        maxHamming = 6, numBands = 8, bits = 60)
      .select("id_a", "id_b")
    mh.unionByName(sh)
  }

  /** Shared derivation for d19/d20: the embeddings corpus ("stored") and
    * its planted near-copies at ids +100000 ("batch" — strictly larger
    * ids, the crawl-batch posture), each with the integer-exact cluster
    * assignment (quantized vectors against the quantized vectors of the
    * 16 smallest ids as fixed centroids — the i1 derivation, bit-exact in
    * DuckDB). */
  /** The train-once centroid table the semantic-dedup queries share
    * (d19/d20/e8): first 16 corpus vectors, quantized — deterministic
    * seeding, exactly what the IVF trainer does. ONE definition so a
    * quantization or tie-break change cannot silently diverge the
    * queries from their SQL twins. */
  private def centroids16(emb: DataFrame): Seq[(Int, Seq[Double])] =
    emb.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int"), quantized(col("embedding")))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).map(_.toDouble): Seq[Double]))
      .sortBy(_._1).toSeq

  /** Row-local nearest-centroid assignment via the codegen'd kernel
    * (broadcast literals, no shuffle) — shared by d19/d20/e8. */
  private def assignClusters(df: DataFrame,
      cents: Seq[(Int, Seq[Double])]): DataFrame =
    df.withColumn("cluster",
      graft.functions.graftfns.nearestCluster(quantized(col("embedding")),
        cents.map(_._2.toArray).toArray, cents.map(_._1).toArray))

  /** m6/e8's deterministic caption-embedding derivation (fixture
    * synthesis — vec_id%4==0 decorrelates, else a ×1.001f scale; the
    * DuckDB twins rebuild it verbatim). */
  private def captionVec =
    when(col("vec_id") % 4 === 0, reverse(col("embedding")))
      .otherwise(transform(col("embedding"), e => e * lit(1.001f)))

  private def semanticAssigned(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Fixture.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), e => e * lit(1.001f)).as("embedding"))
    val cents = centroids16(emb)
    (assignClusters(emb, cents), assignClusters(planted, cents))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------------------------------------------- dedup family --
    // d1 exact dedup lives in SparkEntry batch 1.

    // MinHash+LSH near-dup pairs, verified by EXACT integer jaccard
    // (num*5 >= den*4 ⇔ j ≥ 0.8, no float boundary). The DuckDB oracle is
    // the brute-force all-pairs jaccard — equality means the LSH path has
    // recall 1.0 at this scale (margins verified: nearest pair below the
    // threshold sits at j=0.067).
    "d2_minhash_lsh" -> ((s, dir) => {
      val docs = Fixture.documents(s, dir)
      val cands = Dedup.minhashLshCandidates(docs, "text", "doc_id")
      Dedup.jaccardVerify(docs, cands.select("id_a", "id_b"), "text", "doc_id")
        .filter(col("jaccard_den") > 0 &&
          col("jaccard_num") * 5 >= col("jaccard_den") * 4)
        .select(col("id_a"), col("id_b"), col("jaccard_num"), col("jaccard_den"))
    }),

    // SimHash near-dup pairs over a cross-engine-reproducible 60-bit
    // md5-prefix token hash. With maxHamming(6) < numBands(8) the banded
    // candidate set PROVABLY contains every pair in the hamming ball
    // (pigeonhole), so the output is exactly the brute-force all-pairs
    // hamming ≤ 6 — which is what the DuckDB oracle computes.
    "d3_simhash" -> ((s, dir) =>
      Dedup.hammingCandidates(simhashSigs(Fixture.documents(s, dir)),
        "doc_id", "sig", maxHamming = 6, numBands = 8, bits = 60)),

    // Exact n-gram (token) Jaccard on deterministic consecutive pairs —
    // integer numerator/denominator so the oracle hashes identically.
    "d4_ngram_jaccard" -> ((s, dir) => {
      val d = Fixture.documents(s, dir)
      val toks = array_remove(split(trim(lower(col("text"))), " "), "")
      val t = d.select(col("doc_id"), array_distinct(toks).as("tok"))
      val a = t.select(col("doc_id").as("id_a"), col("tok").as("tok_a"))
      val b = t.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"), col("tok").as("tok_b"))
      a.join(b, "id_a")
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("tok_a"), col("tok_b"))).cast("long").as("jaccard_num"),
          size(array_union(col("tok_a"), col("tok_b"))).cast("long").as("jaccard_den"))
    }),

    // Embedding cosine near-dup via hyperplane LSH buckets. Random vectors
    // have no real near-dups, so plant them: union the corpus with
    // positively-scaled copies of vec_id<50 (cosine ≈1, same LSH bucket).
    // The DuckDB oracle is the brute-force all-pairs cos ≥ 0.95 over the
    // same union (float scaling is IEEE-identical in both engines);
    // equality means the LSH path recovered every true near-dup pair.
    "d5_embed_neardup" -> ((s, dir) => {
      val emb = Fixture.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), e => e * lit(1.001f)).as("embedding"))
      graft.ops.Dedup.embeddingNearDup(emb.union(planted), "vec_id", "embedding", 0.95)
        .select(col("id_a"), col("id_b"))
    }),

    // SemDeDup-style semantic dedup: k-means-partition the embedding
    // space, then keep only vectors with NO τ-similar smaller-id neighbor
    // in their cluster — the paraphrase-level prune that shingle dedup
    // (d2/d3) cannot see. The quadratic pass is bounded by the semantic
    // clusters (Σ|cluster|², never |corpus|²) and the cluster id is the
    // IVF index's write-time partition key, so at scale the self-join is
    // partition-local. For the oracle the assignment must be bit-exact in
    // both engines, so centroids are the QUANTIZED (×1000 integer)
    // vectors of the 16 smallest ids (the i1 derivation — integer dist²
    // is exact in doubles) and assignment runs on quantized vectors via
    // the same argmin/(dist,cid)-tie kernel; the cosine prune then runs
    // on the raw float vectors exactly as d5 proved IEEE-identical.
    "d19_semantic_dedup" -> ((s, dir) => {
      val (stored, batch) = semanticAssigned(s, dir)
      graft.ops.Dedup.semanticDedupWithin(
        stored.unionByName(batch), "vec_id", "embedding", "cluster", 0.95)
    }),

    // Incremental semantic-dedup maintenance (the tenth maintenance leg):
    // the SAME union arrives as two crawl batches — originals first, the
    // planted near-copies (strictly larger ids, as crawl ids are) second —
    // and the second batch FOLDS into the stored labelling via
    // semanticDedupUpdate: only batch rows are re-judged, probed against
    // the cluster-partitioned stored corpus (partition-pruned at scale).
    // The oracle is d19's one-shot SQL over the whole union: green =
    // fold ≡ batch, including batch rows suppressed by stored DROPPED
    // rows (a dropped row still owns every later τ-similar id).
    "d20_semantic_update" -> ((s, dir) => {
      val (stored, batch) = semanticAssigned(s, dir)
      val storedSurvivors = graft.ops.Dedup.semanticDedupWithin(
        stored, "vec_id", "embedding", "cluster", 0.95)
      // storedMaxId = the store's tracked id bound (batch ids are planted
      // at +100000, stored ids sit below it by construction) — the fold
      // fails fast if the monotone-id precondition ever breaks
      graft.ops.Dedup.semanticDedupUpdate(
        stored, storedSurvivors, batch, "vec_id", "embedding", 0.95,
        storedMaxId = Some(99999L))
    }),

    // Transitive closure over the multi-signal near-dup pair graph — the
    // stage every production dedup pipeline runs after pair verification
    // (A~B, B~C must collapse even when A,C never share a bucket). The
    // DuckDB oracle is a recursive-CTE reachability closure over the SAME
    // pair set; equality proves the distributed large-star/small-star
    // iteration labels every node with its true component minimum.
    "d9_dedup_components" -> ((s, dir) =>
      Dedup.connectedComponents(nearDupPairs(Fixture.documents(s, dir)))),

    // Incremental component maintenance: split the SAME verified pair
    // graph into two edge batches (by pair hash — the shape of pairs
    // arriving across two crawl batches via BandStore.ingest), close the
    // first, then FOLD the second into the stored labelling with
    // updateComponents — O(labelled nodes + new pairs), not O(all pairs
    // ever). The oracle is d9's full-closure CTE over the whole pair set:
    // green = incremental ≡ batch, including batches that merge clusters.
    "d13_cc_update" -> ((s, dir) => {
      // LSH + verify + simhash (the expensive pair derivation) feeds BOTH
      // eager closures (CC of batch 1, then the update) — persist across
      // them; the returned labelling reads only checkpointed closure state,
      // so releasing before return is safe
      val pairs = nearDupPairs(Fixture.documents(s, dir))
        .select(col("id_a"), col("id_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val batch1 = pairs.filter(xxhash64(col("id_a"), col("id_b")) % 2 === 0)
        val batch2 = pairs.filter(xxhash64(col("id_a"), col("id_b")) % 2 =!= 0)
        Dedup.updateComponents(Dedup.connectedComponents(batch1), batch2)
      } finally { pairs.unpersist(); () }
    }),

    // Cross-corpus line dedup — the C4/RefinedWeb boilerplate-removal
    // pass: over a multi-line page corpus (per-doc content chunks +
    // planted boilerplate footers + a corpus-wide cookie banner —
    // Fixture.docLines), keep exactly the globally-first occurrence of
    // every distinct line and reassemble each document's surviving text.
    // The md5 of the reassembled text cross-checks line ORDER as well as
    // content (DuckDB rebuilds it with string_agg ORDER BY line_no); docs
    // that lose every line (all-boilerplate pages — they exist at every
    // sf) must hash the empty string identically in both engines.
    "d14_line_dedup" -> ((s, dir) => {
      val v = Dedup.lineVerdicts(Fixture.docLines(s, dir), "doc_id", "line_no", "line")
      v.groupBy(col("doc_id")).agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
        // order-aware reassembly: collect_list skips the nulled dropped
        // lines, array_sort orders by the struct's leading line_no; the
        // transform HOF is interpreted but runs on a ≤5-element array
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("keep"), struct(col("line_no"), col("line"))))),
            x => x.getField("line")),
          "\n").cast("binary")).as("new_md5"))
    }),

    // Right-to-be-forgotten over the duplicate labelling: delete every
    // doc_id ≡ 3 (mod 17) from the stored component labels and re-close
    // ONLY the touched components from their surviving verified pairs —
    // a deletion can SPLIT a component (the deleted doc may be its only
    // bridge), which merge-only d13 maintenance cannot express. The
    // oracle recomputes components from scratch over the pair graph with
    // deleted endpoints removed, seeded from every surviving labelled
    // node (so bridge-loss splits and edge-less singletons both count).
    "d15_cc_forget" -> ((s, dir) => {
      val docs = Fixture.documents(s, dir)
      val pairs = nearDupPairs(docs)
        .select(col("id_a"), col("id_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val labels = Dedup.connectedComponents(pairs)
        val deleted = docs.filter(col("doc_id") % 17 === 3).select("doc_id")
        Dedup.forgetComponents(labels, pairs, deleted)
      } finally { pairs.unpersist(); () }
    }),

    // Asymmetric containment — the quote/boilerplate leg the symmetric
    // d2/d4 resemblance pass misses: every 20th doc gets a planted
    // "quote" twin holding its first half (prefix tokens → the quote's
    // shingles are a strict subset of the source's, so containment is
    // 1.0 while Jaccard is only ~0.5 and LSH never fires). Oracle is the
    // brute-force shingle intersection with the SAME df cap and the SAME
    // cross-multiplied integer thresholds.
    "d16_containment" -> ((s, dir) => {
      val d = Fixture.documents(s, dir).select(col("doc_id"), col("text"))
      val withN = d.crossJoin(broadcast(d.agg((max("doc_id") + 1).as("__n"))))
      val toks = split(trim(lower(col("text"))), "\\s+")
      val quotes = withN.filter(col("doc_id") % 20 === 11)
        .select((col("doc_id") + col("__n")).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1), (size(toks) / 2).cast("int"))).as("text"))
      Dedup.containmentPairs(d.unionByName(quotes), "text", "doc_id",
        k = 3, maxDf = 100, thresholdNum = 4, thresholdDen = 5)
    }),

    // Cross-corpus duplicated-SPAN scrub — the exact substring-dedup pass
    // (Gopher/RefinedWeb "drop any k-gram seen in two documents") that
    // document-level d1/d2/d3 cannot express: a 5-gram occurring in ≥ 2
    // distinct docs has every covered token removed from every carrier.
    // The scrubbed_md5 re-joins the SURVIVING tokens in order, so the
    // oracle (which rebuilds the scrub over the n-gram STRINGS) checks
    // position bookkeeping, not just counts — and, like t6, equality
    // proves the engine's 60-bit hashed dup-key loses nothing.
    "d17_span_scrub" -> ((s, dir) =>
      Dedup.spanScrub(Fixture.documents(s, dir), "text", "doc_id", k = 5)),

    // End-to-end corpus-build composition — the query a training-data user
    // actually runs, all within ONE lazy plan chain (no driver round-trip
    // between stages): exact dedup survivors → near-dup collapse (connected
    // components over the multi-signal pair graph, min-id survivor) →
    // quality + Gopher-repetition filter (integer cross-multiplied
    // threshold: top word ≤ 20% of the doc) → deterministic stratified
    // sample of 5 docs per source.
    "e1_corpus_pipeline" -> ((s, dir) => {
      val docs = Fixture.documents(s, dir)
      val keepIds = Dedup.exact(docs, "text", "doc_id")
        .select(col("keep_id").as("doc_id"))
      // deliberately NOT persisted: the five reads of this frame during
      // the closure are each a cheap parquet scan + hash agg + semi join,
      // and a persist (measured, with and without eager release) costs
      // more in cache-fill than the recomputes it saves at every probed
      // shape — the d13 pairs persist pays only because its LSH+verify
      // derivation is far heavier than this semi join
      val exactSurvivors = docs.join(keepIds, Seq("doc_id"), "left_semi")
      val collapsed = Dedup.collapseNearDups(
        exactSurvivors, "doc_id", nearDupPairs(exactSurvivors))
      val filtered = collapsed
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("__r", graft.functions.graftfns.repetitionStats(col("text")))
        .filter(col("quality") >= 0.7 &&
          col("__r").getItem(2) * 5 <= col("__r").getItem(0))
      graft.ops.Sampling.stratifiedSample(filtered, "source", "doc_id", k = 5)
    }),

    // Image phash near-dup over the synthesized image corpus (the graft
    // cell's primary payload): decode → 64-bit average-hash → the SAME
    // banded hamming engine as d3, signature-generic by construction.
    // The fixture plants cross-format duplicates arithmetically (every
    // 50th image re-encodes the pixels of the image 25 before it in a
    // DIFFERENT format — Synth.dupSourceOf), so the ground-truth pair set
    // is known in closed form: the oracle states it directly, like d5's
    // planted embedding clones. Margins measured over the deterministic
    // corpus: lossy xjpg re-encodes move phash ≤ 3 bits; the nearest
    // NON-dup pair sits at hamming 14 — maxHamming 6 recovers exactly
    // the planted set (pigeonhole-complete at 8 bands).
    "d10_image_phash" -> ((s, dir) => {
      val n = Fixture.documents(s, dir).count()
      val imgs = graft.model.Synth.imageDocs(s, n, 32).toDF()
        .select(substring(col("image_id"), 4, 8).cast("long").as("id"),
          graft.functions.graftfns.phash(col("bytes")).as("sig"))
      Dedup.hammingCandidates(imgs, "id", "sig", maxHamming = 6, numBands = 8)
        .select(col("id_a"), col("id_b"))
    }),

    // C4-style corpus cleaning, composed end to end in ONE lazy plan:
    // scrub cross-doc duplicated 5-gram spans (d17's operator, keeping
    // the surviving TEXT), quality-gate the SCRUBBED text (a doc whose
    // body was mostly boilerplate spans drops below the length floor and
    // exits here — the scrub must run first for the gate to see the
    // cleaned doc), then temperature-sample the survivors per language
    // (s2's integer quotas over the SURVIVOR counts, not the raw corpus).
    // Proves d17 → t2 → s2 compose without a driver round-trip; every
    // stage is SQL-expressible so the whole chain is hash-checked.
    "e5_clean_corpus" -> ((s, dir) => {
      val docs = Fixture.documents(s, dir)
      val scrubbed = Dedup.scrubbedText(docs, "text", "doc_id", k = 5)
      val survivors = scrubbed
        .filter(TextAnalysis.qualityScore(col("text")) >= 0.7)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      graft.ops.Sampling.temperatureSample(survivors, "lang", "doc_id", kTotal = 50)
    }),

    // The image-side corpus-build composition (e5's twin for the image
    // payload): an as-crawled corpus — every image letterboxed by a
    // re-encoder (pad_image, planted per-id borders) plus rotated/mirrored
    // re-posts carrying their source's caption (the d18 orbit plant;
    // fixture cross-format dups excluded as in d18 so ground truth is
    // closed-form) — runs caption-presence gate → letterbox detect + crop
    // (m4's kernels; crop is pad's exact inverse) → rotation-invariant
    // dedup (phash_d4 at hamming 0 over the CROPPED bytes — green proves
    // the crop restored the original pixels, else orbit equality breaks)
    // → survivors with component size and recovered clean dims. One lazy
    // plan, no driver round-trip; bytes never shuffle — every image kernel
    // is row-local and only (id, sig, dims) reach the exchanges.
    "e6_image_corpus" -> ((s, dir) => {
      import s.implicits._
      val n = Fixture.documents(s, dir).count()
      val g = graft.functions.graftfns
      val base = graft.model.Synth.imageDocs(s, n, 32).toDF()
        .select(substring(col("image_id"), 4, 8).cast("long").as("id"),
          col("bytes"), col("caption"), col("fmt"))
        .filter(col("id") % 50 =!= 49)
      val reposts = base.filter(col("id") % 40 === 5)
        .select("id", "bytes", "caption")
        .as[(Long, Array[Byte], String)]
        .map { case (i, b, cap) =>
          val c = graft.imagecodec.ImageCodec
          val (px, w, h) = c.decode(b)
          val out =
            if (i % 80 == 5) c.encode(c.rotate90(px, w, h), h, w, "png")
            else c.encode(c.flipHoriz(px, w, h), w, h, "png")
          (i + n, out, cap, "png")
        }.toDF("id", "bytes", "caption", "fmt")
      val packed = ((col("id") % 4 + 1) * 16777216L +
        ((col("id") + 1) % 4) * 65536L +
        ((col("id") + 2) % 4) * 256L +
        (col("id") + 3) % 4).cast("int")
      val crawled = base.unionByName(reposts)
        .filter(trim(col("caption")) =!= "") // caption gate BEFORE any decode
        .withColumn("bytes", g.padImage(col("bytes"), packed)) // as-crawled
      val cropped = crawled.withColumn("bytes",
        g.cropImage(col("bytes"), g.letterbox(col("bytes"))))
      // the sig projection is ~30 B/row (no bytes) but its lineage is the
      // whole decode→pad→detect→crop→phash kernel chain, and three
      // consumers need it (banding, the label join, the size agg) —
      // persist so the per-image kernel work runs ONCE; the CC closure
      // below is eager, so the cache is hot before the lazy joins run
      val sigs = cropped.select(col("id"),
        g.phashD4(col("bytes")).as("sig"),
        g.decodeWidth(col("bytes")).cast("long").as("crop_w"),
        g.decodeHeight(col("bytes")).cast("long").as("crop_h"),
        col("fmt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = Dedup.hammingCandidates(sigs.select("id", "sig"), "id", "sig",
          maxHamming = 0, numBands = 8)
        .select(col("id_a"), col("id_b"))
      val comp = Dedup.connectedComponents(pairs)
      val labeled = sigs.join(comp, sigs("id") === comp("doc_id"), "left")
        .select(sigs("id"), coalesce(col("component_rep"), sigs("id")).as("rep"),
          col("crop_w"), col("crop_h"), col("fmt"))
      val sizes = labeled.groupBy("rep").agg(count(lit(1)).as("n_members"))
      labeled.filter(col("id") === col("rep"))
        .join(sizes, "rep")
        .select(col("id"), col("n_members"), col("crop_w"), col("crop_h"), col("fmt"))
    }),

    // Rotation/mirror-invariant image near-dup — the re-post leg plain
    // phash (d10) misses: a rotated or flipped copy has a permuted pixel
    // grid, so its average-hash differs, but its DIHEDRAL ORBIT is the
    // same 8-element set, and phash_d4 (unsigned-min over the orbit)
    // collapses the pair to hamming 0. Base corpus excludes the
    // generator's own cross-format dup plants (doc_id%50==49) so the
    // ground truth is exactly the rotations/mirrors planted here (PNG
    // re-encodes of the source's decoded pixels — lossless, so orbit
    // equality is exact for every source format, xjpg included). Same
    // banded hamming engine as d3/d10.
    "d18_rotation_dedup" -> ((s, dir) => {
      import s.implicits._
      val n = Fixture.documents(s, dir).count()
      val base = graft.model.Synth.imageDocs(s, n, 32).toDF()
        .select(substring(col("image_id"), 4, 8).cast("long").as("id"), col("bytes"))
        .filter(col("id") % 50 =!= 49)
      val planted = base.filter(col("id") % 40 === 5)
        .as[(Long, Array[Byte])]
        .map { case (i, b) =>
          val c = graft.imagecodec.ImageCodec
          val (px, w, h) = c.decode(b)
          val out =
            if (i % 80 == 5) c.encode(c.rotate90(px, w, h), h, w, "png")
            else c.encode(c.flipHoriz(px, w, h), w, h, "png")
          (i + n, out)
        }.toDF("id", "bytes")
      val sigs = base.unionByName(planted)
        .select(col("id"), graft.functions.graftfns.phashD4(col("bytes")).as("sig"))
      Dedup.hammingCandidates(sigs, "id", "sig", maxHamming = 0, numBands = 8)
        .select(col("id_a"), col("id_b"))
    }),

    // The full per-crawl-batch dedup-maintenance loop, end to end: the
    // corpus arrives in TWO batches; each batch is folded into the
    // persistent band store with BandStore.ingest (emitting exactly the
    // pairs the batch introduces — cross vs store ∪ intra) and its pairs
    // are folded into the running cluster labelling with
    // Dedup.updateComponents. Nothing ever re-bands the corpus or
    // re-closes pair history — both maintenance steps are O(batch). The
    // oracle is the ONE-SHOT closure of the whole-corpus simhash ball:
    // green = the streaming maintenance composition leaves no trace of
    // the batch split. (The genuine foreachBatch drive of the same
    // composition is BandStoreSpec's streaming test; this row is its
    // deterministic batch twin, like l1 for the host limiter.)
    "e3_dedup_maintenance" -> ((s, dir) => {
      import s.implicits._
      val path = bandStorePath(s, dir) + "_e3"
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val sigsAll = simhashSigs(Fixture.documents(s, dir)).persist(lvl)
      try {
        graft.ops.BandStore.write(sigsAll.limit(0), "doc_id", "sig", path,
          numBands = 8, bits = 60, prefixBits = 2)
        var labels = Seq.empty[(Long, Long)].toDF("doc_id", "component_rep")
        for (k <- 0 until 2) {
          val pairs = graft.ops.BandStore.ingest(sigsAll.filter(col("doc_id") % 2 === k),
            "doc_id", "sig", path, maxHamming = 6)
          labels = Dedup.updateComponents(labels, pairs)
          pairs.unpersist() // updateComponents checkpointed its closure
        }
        labels
      } finally { sigsAll.unpersist(); () }
    }),

    // Incremental band-store maintenance end-to-end: build the persistent
    // banding index from half the corpus, APPEND the other half (O(batch),
    // fixed banding params — the per-crawl-batch maintenance path), then
    // probe a disjoint "new batch" against it. Oracle = brute-force cross
    // pairs over the FULL corpus: green means append ≡ rebuild AND the
    // partition-pruned probe is pigeonhole-exact.
    "d11_band_store" -> ((s, dir) => {
      val docs = Fixture.documents(s, dir)
      val path = bandStorePath(s, dir)
      // the md5-token simhash is the expensive part of these frames, and
      // the store write scans its input twice (range-clustering sample +
      // the write itself) — persist for the EAGER write/append, release
      // before returning the lazy probe (which derives its own sigs)
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val half = simhashSigs(docs.filter(col("doc_id") % 10 >= 1 && col("doc_id") % 10 <= 5))
        .persist(lvl)
      val rest = simhashSigs(docs.filter(col("doc_id") % 10 >= 6)).persist(lvl)
      try {
        // prefixBits scales with corpus size: each partition dir costs
        // ~16 ms of commit/rename floor per write REGARDLESS of data
        // (measured), so a 5k-doc corpus gets 2^2 dirs/band and a 2M-row
        // store (bench band_maintenance) gets 2^4 — same pruning
        // machinery, dir count proportional to what the data can fill
        graft.ops.BandStore.write(half, "doc_id", "sig", path,
          numBands = 8, bits = 60, prefixBits = 2)
        graft.ops.BandStore.append(rest, "doc_id", "sig", path)
      } finally { half.unpersist(); rest.unpersist() }
      graft.ops.BandStore.probe(
        simhashSigs(docs.filter(col("doc_id") % 10 === 0)), "doc_id", "sig", path,
        maxHamming = 6)
    }),

    // The image twin of e1: decode → phash → banded hamming near-dup →
    // connected components → min-id survivor per duplicate cluster, ONE
    // lazy plan chain. Oracle is the planted structure in closed form
    // (d10's pair set (i−25, i) forms disjoint 2-components whose min-id
    // survivor is the source i−25 — the re-encode i is the loser).
    "e2_image_dedup" -> ((s, dir) => {
      val n = Fixture.documents(s, dir).count()
      val sigs = graft.model.Synth.imageDocs(s, n, 32).toDF()
        .select(substring(col("image_id"), 4, 8).cast("long").as("id"),
          graft.functions.graftfns.phash(col("bytes")).as("sig"))
      val pairs = Dedup.hammingCandidates(sigs, "id", "sig", maxHamming = 6, numBands = 8)
      Dedup.collapseNearDups(sigs.select("id"), "id", pairs)
    }),

    // Cross-modal dedup over image+caption pairs — the LAION-style collapse
    // a multimodal corpus runs: an item is a duplicate if its PIXELS are
    // near-identical (decode → phash → banded hamming ball, the d10 leg) OR
    // its CAPTION is an exact duplicate. Caption assignment plants dups
    // arithmetically (the d5-embedding-clone pattern, so the signal fires
    // at EVERY scale factor): image i carries documents.text of doc i−4
    // when i % 25 == 24, else of doc i — so caption pairs (i−4, i) CHAIN
    // with the planted pixel pairs (i−25, i at i % 50 == 49) into genuine
    // cross-modal components, e.g. {20,24,45,49}: 20~24 caption, 24~49
    // pixels, 45~49 caption ⇒ one survivor 20. The caption leg enters as
    // STAR pairs to each caption group's min id — O(dup rows) edges even
    // for mass-duplicated captions, never a quadratic within-group join
    // (same posture as Dedup.exact); any organic text dups in the corpus
    // ride the same md5 grouping in both engines.
    "d12_multimodal_dedup" -> ((s, dir) => {
      val docs = Fixture.documents(s, dir)
      val n = docs.count()
      val sigs = graft.model.Synth.imageDocs(s, n, 32).toDF()
        .select(substring(col("image_id"), 4, 8).cast("long").as("id"),
          graft.functions.graftfns.phash(col("bytes")).as("sig"))
      val phashPairs = Dedup.hammingCandidates(sigs, "id", "sig",
          maxHamming = 6, numBands = 8)
        .select(col("id_a"), col("id_b"))
      val caps = sigs.select(col("id"))
        .withColumn("cap_key",
          when(col("id") % 25 === 24, col("id") - 4).otherwise(col("id")))
        .join(docs.select(col("doc_id").as("cap_key"), col("text")), "cap_key")
      val fp = caps.select(md5(col("text").cast("binary")).as("fp"), col("id"))
      val keep = fp.groupBy("fp").agg(min("id").as("id_a"))
      val capPairs = fp.join(keep, "fp")
        .filter(col("id") =!= col("id_a"))
        .select(col("id_a"), col("id").as("id_b"))
      Dedup.collapseNearDups(sigs.select("id"), "id",
        phashPairs.unionByName(capPairs))
    }),

    // -------------------------------------------------- link-graph family --
    // Redirect-chain resolution by pointer doubling over the planted
    // redirect graph (Fixture.redirects: in-block chains + every-10th-block
    // 8-cycles). The oracle is the planted ground truth in closed form —
    // the engine must RECOVER it by actually walking: chains resolve to
    // their block head with exact hop counts; cycle members come back
    // unresolved (the maxChain cap every HTTP client applies).
    "g1_redirect_resolve" -> ((s, dir) =>
      graft.ops.LinkGraph.resolveRedirects(Fixture.redirects(s, dir))),

    // Fixed-point integer PageRank (3 iterations) over the deterministic
    // link graph — frontier prioritization. All-integral arithmetic
    // (rank DIV outdeg, cross-multiplied damping) makes an ITERATIVE
    // numeric operator hash-exact cross-engine; the oracle unrolls the
    // same three iterations as chained CTEs.
    "g2_pagerank" -> ((s, dir) =>
      graft.ops.LinkGraph.pagerank(Fixture.linkEdges(s, dir), iterations = 3)),

    // Incremental redirect-table maintenance: the SAME planted redirect
    // graph arrives in two batches (by edge hash — redirects DISCOVERED
    // across two crawl batches); batch 1 is resolved, batch 2 folded in
    // with updateRedirects, whose re-walk touches only affected stored
    // rows + the batch (the stored rows are hop-weighted COMPRESSED
    // edges). Oracle = g1's one-shot closed form: green = incremental ≡
    // full re-resolution, including batches that extend stored chains
    // and close stored terminals into cycles. Completes the incremental-
    // maintenance set (seen / ANN / band / labels / redirects).
    "g3_redirect_update" -> ((s, dir) => {
      val edges = Fixture.redirects(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val b1 = edges.filter(xxhash64(col("src"), col("dst")) % 2 === 0)
        val b2 = edges.filter(xxhash64(col("src"), col("dst")) % 2 =!= 0)
        graft.ops.LinkGraph.updateRedirects(
          graft.ops.LinkGraph.resolveRedirects(b1), b2)
      } finally { edges.unpersist(); () }
    }),

    // ------------------------------------------------ similarity search --
    // Brute-force top-k cosine (exact ANN baseline) on quantized vectors —
    // integer-exact dot/norms ⇒ bit-identical doubles ⇒ DuckDB oracle.
    "d6_embed_topk" -> ((s, dir) => {
      val emb = Fixture.embeddings(s, dir)
        .select(col("vec_id"), quantized(col("embedding")).as("q"))
      val queriesDf = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("q").as("qv"))
      val scored = emb.join(broadcast(queriesDf), col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (Similarity.dot(col("qv"), col("q")) /
            (sqrt(Similarity.dot(col("qv"), col("qv"))) * sqrt(Similarity.dot(col("q"), col("q")))))
            .as("cos"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 6).as("cos6"), col("rk"))
    }),

    // LSH-bucketed ANN (the 100TB scale path) on quantized vectors so the
    // cosines are bit-identical doubles. probeHamming == planes probes the
    // FULL Hamming ball, so equality with the brute-force DuckDB oracle is
    // STRUCTURAL at every scale factor (probeHamming=3 left the antipodal
    // bucket unprobed and a true top-10 neighbor landed there at sf0.1);
    // this row proves the bucketing machinery loses nothing. Genuine
    // sub-linear-probe ANN quality (recall ≥ 0.9 at 11% of buckets) is
    // asserted in OpsSpec and ScaleAnnSpec, where it belongs.
    "d7_embed_ann" -> ((s, dir) => {
      val emb = Fixture.embeddings(s, dir)
        .select(col("vec_id"), quantized(col("embedding")).as("embedding"))
      Similarity.annTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
          planes = 4, probeHamming = 4)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cos6"), col("rk"))
    }),

    // IVF ANN (inverted-file variant) on quantized vectors; nprobe ==
    // nlist probes every inverted list, so brute-force-oracle equality is
    // STRUCTURAL at every scale factor (the machinery row, like d7).
    // Pruned-probe recall (4/16 lists, ≥0.9) asserted in ScaleAnnSpec.
    // Train-ONCE: centroids are a corpus property, cached per (dir, nlist)
    // — repeated invocations (bench reps, multiple query batches) reuse the
    // index instead of re-running the two training jobs.
    "d8_embed_ivf" -> ((s, dir) => {
      val emb = Fixture.embeddings(s, dir)
        .select(col("vec_id"), quantized(col("embedding")).as("embedding"))
      val cents = graft.ops.Ivf.trainCached(s"$dir/embeddings:q1000", emb, nlist = 8)
      graft.ops.Ivf.topK(emb, emb.filter(col("vec_id") < 5), k = 10, nlist = 8, nprobe = 8,
          centroids = Some(cents))
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cos6"), col("rk"))
    }),

    // ------------------------------------------------------ text analysis --
    "t1_langid" -> ((s, dir) =>
      Fixture.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.langScore(col("text"), "en").as("score_en"),
        TextAnalysis.langScore(col("text"), "de").as("score_de"),
        TextAnalysis.langScore(col("text"), "es").as("score_es"),
        TextAnalysis.langScore(col("text"), "fr").as("score_fr"),
        TextAnalysis.langId(col("text")).as("pred_lang"))),

    "t2_quality" -> ((s, dir) =>
      Fixture.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),

    "t3_token_count" -> ((s, dir) =>
      Fixture.documents(s, dir)
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.subwordEstimate(col("text")).as("n_subwords"))
        .groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_subwords")).as("total_subwords"),
          count(lit(1)).as("n_docs"))),

    "t4_fingerprint" -> ((s, dir) =>
      Fixture.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))),

    // Gopher-style repetition metrics, one kernel pass per document
    // (row-local → shuffle-free at any scale). Integer numerators/
    // denominators, so the dup-word and top-bigram ratios derived from
    // them are float-free and the oracle hash-matches exactly.
    "t5_repetition" -> ((s, dir) =>
      Fixture.documents(s, dir)
        .select(col("doc_id"), graft.functions.graftfns.repetitionStats(col("text")).as("r"))
        .select(col("doc_id"),
          col("r").getItem(0).as("n_words"),
          col("r").getItem(1).as("n_distinct_words"),
          col("r").getItem(2).as("max_word_count"),
          col("r").getItem(3).as("n_bigrams"),
          col("r").getItem(4).as("n_distinct_bigrams"),
          col("r").getItem(5).as("max_bigram_count"))),

    // Deterministic stratified sample: k docs per source by cross-engine
    // id hash — bounded top-k Aggregator (map-side combine, O(k) state per
    // group, no full per-group sort), row-equal to the oracle's window
    // rank. See graft.ops.Sampling for the scale argument.
    "s1_stratified_sample" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedSample(
        Fixture.documents(s, dir), "source", "doc_id", k = 5)),

    // Temperature-flattened multilingual mix (α = 0.5): per-language
    // quota ∝ floor(sqrt(n_lang)) of a 100-doc budget, capped at the
    // language's own size — en's ~41% corpus share flattens to ~30% of
    // the sample while tail languages rise. All-integer quota math (plus
    // one correctly-rounded IEEE sqrt) makes the quotas bit-reproducible
    // in DuckDB; selection is the same bounded top-k-by-hash as s1, so
    // green proves heap-vs-window equality under per-group VARIABLE k.
    "s2_temperature_sample" -> ((s, dir) =>
      graft.ops.Sampling.temperatureSample(
        Fixture.documents(s, dir), "lang", "doc_id", kTotal = 100)),

    // Benchmark decontamination — distinct-5-gram overlap of every corpus
    // doc against a broadcast benchmark set (the GPT-3/PaLM eval-leakage
    // gate). Benchmark = the doc_id%20==7 docs plus a planted probe
    // phrase; corpus docs at doc_id%16==11 quote a probe phrase whose
    // index matches a benchmark phrase only when doc_id%5 ∈ {0,2} — so
    // the contaminated flag fires STRUCTURALLY at every scale factor
    // (the organic hits are near-dups of benchmark docs, which the
    // corpus also plants). The oracle recomputes the same overlap with
    // its own n-gram construction over the ngram STRINGS; the engine
    // joins on the 60-bit hash — equality proves the hashed broadcast
    // probe loses nothing.
    "t6_decontaminate" -> ((s, dir) => {
      val d = Fixture.documents(s, dir)
      val probe = array_join(array_repeat(
        concat(lit("q"), (col("doc_id") % 5).cast("string")), 5), " ")
      val docs = d.filter(col("doc_id") % 20 =!= 7)
        .select(col("doc_id"),
          when(col("doc_id") % 16 === 11, concat(col("text"), lit(" "), probe))
            .otherwise(col("text")).as("text"))
      val benchProbe = array_join(array_repeat(
        when(col("doc_id") % 40 === 7, lit("q0")).otherwise(lit("q2")), 5), " ")
      val bench = d.filter(col("doc_id") % 20 === 7)
        .select(concat(col("text"), lit(" "), benchProbe).as("text"))
      Contamination.overlap(docs, bench, "text", "doc_id", k = 5, threshold = 1)
    }),

    // PII scrub — detect + redact emails/phones/IPv4 before text enters a
    // training corpus. PII is planted deterministically (the corpus text
    // itself carries no digits or '@', so the patterns' work is exact and
    // the oracle can re-derive it with DuckDB's RE2 engine — the patterns
    // live in the Java-regex ∩ RE2 dialect). The whole scrub is row-local
    // codegen'd builtins: shuffle-free at any scale.
    "t7_pii_scrub" -> ((s, dir) => {
      val d = Fixture.documents(s, dir)
      val body = concat(
        col("text"),
        when(col("doc_id") % 2 === 0, concat(
          lit(" mail user"), (col("doc_id") % 97).cast("string"),
          lit("@m"), (col("doc_id") % 7).cast("string"), lit(".example.org")))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0, concat(
          lit(" tel 555-"), (col("doc_id") % 900 + 100).cast("string"),
          lit("-"), (col("doc_id") % 9000 + 1000).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, concat(
          lit(" ip 10."), (col("doc_id") % 256).cast("string"),
          lit("."), (col("doc_id") % 200).cast("string"),
          lit("."), (col("doc_id") % 250).cast("string"), lit(" up")))
          .otherwise(lit("")))
      d.select(col("doc_id"), body.as("body"))
        .select(col("doc_id"),
          TextAnalysis.piiCount(col("body"), TextAnalysis.emailPattern).as("n_emails"),
          TextAnalysis.piiCount(col("body"), TextAnalysis.phonePattern).as("n_phones"),
          TextAnalysis.piiCount(col("body"), TextAnalysis.ipv4Pattern).as("n_ips"),
          md5(TextAnalysis.redactPii(col("body")).cast("binary")).as("redacted_md5"))
    }),

    // Gap-based sessionization over the events table (30-min gap): ONE
    // shuffle on user_id, in-task time-ordered pass, session boundaries
    // from exact integer microsecond gaps — the canonical event-stream
    // operator (crawl twin: per-host fetch-burst sessions). The rollup
    // reuses the window's own exchange.
    "st2_sessionize" -> ((s, dir) =>
      Sessionize.sessions(Fixture.events(s, dir), "user_id", "ts", "event_id",
          gapSeconds = 1800,
          extraAggs = Seq(decSum(col("value"), "sum_value")))
        .select(col("user_id"), col("session_no"), col("session_start"),
          col("session_end"), col("n_events"), col("sum_value"))),

    // Anchor-text aggregation per link target — the relevance signal web
    // search/crawl pipelines attach to pages (anchors pointing AT a page
    // describe it better than its own content). Each fetched body emits
    // two (target, anchor) links with deterministic phrase variation;
    // per-target top-3 anchors by reference count run through the bounded
    // weighted top-k aggregator — map-side partials, O(k) state, no
    // per-target window sort (a hub page with 10^8 distinct anchors would
    // otherwise sort in one task — the same trap s1 avoids).
    "a1_anchor_topk" -> ((s, dir) => {
      val d = Fixture.documents(s, dir)
      val links = d.select((col("doc_id") % 40).as("target"),
          concat(lit("anchor phrase "), (col("doc_id") % 5).cast("string")).as("anchor"))
        .unionByName(d.select(((col("doc_id") * 3) % 40).as("target"),
          concat(lit("read more "), (col("doc_id") % 3).cast("string")).as("anchor")))
      val counts = links.groupBy(col("target"), col("anchor"))
        .agg(count(lit(1)).as("n_refs"))
      graft.ops.Sampling.topKWeighted(counts, "target", "anchor", "n_refs", k = 3)
    }),

    // Corpus vocabulary build — the tokenizer-training prelude (count
    // every word, keep the global top-k): ONE group through the bounded
    // weighted top-k aggregator, which is exactly its worst case and
    // exactly why it scales — each map task keeps O(k) state and emits k
    // partial rows, so the single reducer merges partitions×k rows, never
    // the 10^10-row word stream (a window/orderBy global top-k would sort
    // the corpus in one task). Weight ties break payload-ASC, matching
    // the oracle's (count DESC, word ASC) rank exactly.
    "v1_vocab_topk" -> ((s, dir) => {
      val counts = Fixture.documents(s, dir)
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .withColumn("corpus", lit("all"))
      graft.ops.Sampling.topKWeighted(counts, "corpus", "word", "n", k = 20)
    }),

    // ---------------------------------------------------- multimodal stub --
    // Binary-column plumbing: payload as opaque binary + typed metadata;
    // the real decode is graft.imagecodec (tested in ExtractSpec); here the
    // oracle-checkable part is the byte-level schema plumbing.
    "m1_multimodal_meta" -> ((s, dir) =>
      Fixture.documents(s, dir).select(
        col("doc_id"),
        octet_length(col("text").cast("binary")).as("payload_bytes"),
        md5(col("text").cast("binary")).as("payload_md5"),
        (octet_length(col("text").cast("binary")) % 4).as("stub_channel"))),

    // Image quality scoring — the multimodal twin of t2's text quality:
    // per-image integer score from resolution tier, aspect sanity, format
    // prior and caption presence. The Spark side does the REAL work —
    // header decode of actual encoded bytes via the codegen'd kernels
    // (decode_width/height, sniff_format), row-local and shuffle-free;
    // the oracle rebuilds the planted metadata in closed form from the
    // synthesis rules (Synth.wOf/hOf/fmtOf/captionOf), so a green row
    // proves the decode path recovers exactly what was encoded.
    "m2_image_quality" -> ((s, dir) => {
      val n = Fixture.documents(s, dir).count()
      val g = graft.functions.graftfns
      graft.model.Synth.imageDocs(s, n, 32).toDF()
        .select(substring(col("image_id"), 4, 8).cast("long").as("id"),
          g.decodeWidth(col("bytes")).as("w"),
          g.decodeHeight(col("bytes")).as("h"),
          g.sniffFormat(col("bytes")).as("fmt"),
          (length(trim(col("caption"))) > 0).as("caption_ok"))
        .withColumn("quality_fp",
          (when(col("w") * col("h") >= 2048, 3)
            .when(col("w") * col("h") >= 512, 2)
            .otherwise(1) * 1000 +
          when(greatest(col("w"), col("h")) <= least(col("w"), col("h")) * 4, 500)
            .otherwise(0) +
          when(col("fmt") === "png", 2).when(col("fmt") === "xjpg", 1)
            .otherwise(0) * 100 +
          when(col("caption_ok"), 50).otherwise(0)).cast("long"))
    }),

    // ------------------------------------------------- join/agg headliners --
    // Broadcast-dim join + aggregation (TPC-H Q3-ish shape): the dim side
    // must broadcast (verified in PlanSpec), the fact side never shuffles
    // before the agg's own exchange.
    "q2_join_agg" -> ((s, dir) => {
      val li = Fixture.lineitem(s, dir)
      val o = Fixture.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), "revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Multi-way star join through broadcastable dims.
    "q3_star_join" -> ((s, dir) => {
      val c = Fixture.customer(s, dir)
      val n = Fixture.nation(s, dir)
      val r = Fixture.region(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          decSum(col("c_acctbal"), "sum_acctbal"))
    }),

    // Native session windows (Catalyst's merging-sessions operator — the
    // idiomatic Spark sessionizer, batch AND streaming from one
    // expression): session end = last event + gap, an event at EXACTLY
    // end starts a new session (contrast st2's explicit-numbering op,
    // which keeps a gap-equal event — both split rules exist in the
    // wild; the engine offers both). Streaming twin with watermark:
    // Streaming.sessionizedEventSums, stream ≡ batch in StreamingSpec.
    "st3_session_window" -> ((s, dir) =>
      Fixture.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value"), "sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"), col("sum_value"))),

    // Thumbnail derivation — the multimodal resize step (store a small
    // preview next to the original): nearest-neighbor resize to half
    // resolution via the codegen'd resize_nn kernel, re-encoded in the
    // SOURCE format, then header-decoded back. Row-local, shuffle-free;
    // bytes never leave the task. The oracle states the planted
    // metadata's closed form — green proves decode → resize → re-encode
    // → decode round-trips exactly.
    "m3_thumbnail" -> ((s, dir) => {
      val n = Fixture.documents(s, dir).count()
      val g = graft.functions.graftfns
      graft.model.Synth.imageDocs(s, n, 32).toDF()
        .select(substring(col("image_id"), 4, 8).cast("long").as("id"),
          g.resizeNN(col("bytes"),
            (g.decodeWidth(col("bytes")) / 2).cast("int"),
            (g.decodeHeight(col("bytes")) / 2).cast("int")).as("thumb"))
        .select(col("id"),
          g.decodeWidth(col("thumb")).as("thumb_w"),
          g.decodeHeight(col("thumb")).as("thumb_h"),
          g.sniffFormat(col("thumb")).as("thumb_fmt"))
    }),

    // Video frame sampling — the frame axis of the multimodal plumbing
    // (VideoOps.sampleFrames): uniform temporal sampling of ≤4 frames per
    // GVID clip via header read + seek-index slice, then the REAL decode
    // kernels on each extracted frame. Entirely row-local (scan → generate
    // → project, no exchange — VideoSpec locks the plan); the oracle
    // re-derives the sampling policy and the fixture's planted per-frame
    // metadata in closed form, so a wrong index choice, a mis-sliced
    // frame, or a broken per-frame decode all hash-mismatch.
    "m7_frame_sample" -> ((s, dir) => {
      val n = Fixture.documents(s, dir).count()
      val g = graft.functions.graftfns
      val vids = graft.model.Synth.videoDocs(s, n, 32).toDF()
        .select(substring(col("video_id"), 4, 8).cast("long").as("id"), col("bytes"))
      graft.ops.VideoOps.sampleFrames(vids, "bytes", 4)
        .select(col("id"), col("t"), col("frame_idx"),
          g.decodeWidth(col("frame")).as("frame_w"),
          g.decodeHeight(col("frame")).as("frame_h"),
          g.sniffFormat(col("frame")).as("frame_fmt"))
    }),

    // Video near-dup by sampled-frame phash fingerprint — the video leg
    // of the dedup family (VideoOps.fingerprintDups): catches the planted
    // same-content re-posts whose container BYTES differ (re-muxed at a
    // different fps), which byte-level exact dedup misses by design. Only
    // (fingerprint, id) rows reach the one groupBy exchange — clip bytes
    // stay in the scan tasks; star pairs O(dup rows) per group.
    "d21_video_dedup" -> ((s, dir) => {
      val n = Fixture.documents(s, dir).count()
      val vids = graft.model.Synth.videoDocs(s, n, 32).toDF()
        .select(substring(col("video_id"), 4, 8).cast("long").as("id"), col("bytes"))
      graft.ops.VideoOps.fingerprintDups(vids, "id", "bytes", 4)
    }),

    // Audio feature extraction — the audio leg of the multimodal trio:
    // one integer-exact audio_stats fold over the REAL PCM stream per row
    // (codegen'd kernel, row-local, shuffle-free). The fixture's square
    // waveform gives peak and energy closed forms (±amp everywhere →
    // peak = amp, sum_sq = n·amp²), so a byte-order, header-offset, or
    // slicing bug in the decode changes the values and hash-mismatches.
    "m8_audio_features" -> ((s, dir) => {
      val n = Fixture.documents(s, dir).count()
      val g = graft.functions.graftfns
      graft.model.Synth.audioDocs(s, n, 32).toDF()
        .select(substring(col("audio_id"), 4, 8).cast("long").as("id"),
          g.audioStats(col("bytes")).as("st"))
        .select(col("id"),
          col("st")(0).as("sample_rate"), col("st")(1).as("n_samples"),
          col("st")(2).as("duration_ms"), col("st")(3).as("peak_abs"),
          col("st")(4).as("sum_sq"))
    }),

    // Image–caption alignment filter — the CLIP-score gate every
    // image+caption corpus runs before training (keep pairs whose image
    // and caption embeddings agree; LAION's cut is cos ≥ 0.28): a
    // row-LOCAL cosine between two embedding columns, shuffle-free — the
    // plan is a bare scan+filter no matter the corpus size, and in the
    // production posture (both embeddings STORED columns) the gate is one
    // codegen'd vec_dot kernel per row. The caption embedding here is
    // fixture synthesis — derived deterministically (vec_id%4==0 →
    // reversed vector: decorrelated, fails the gate; else the ×1.001f
    // scaled vector: cos≈1, passes) so DuckDB rebuilds it exactly; the
    // derivation's HOF transform evaluates interpreted and is re-inlined
    // by CollapseProject, a bounded fixture-only cost the stored-column
    // posture never pays. Cosine arithmetic is the d5-proven
    // IEEE-identical left-fold.
    "m6_caption_alignment" -> ((s, dir) => {
      Fixture.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          graft.ops.Similarity.cosine(col("embedding"), captionVec).as("alignment"))
        .filter(col("alignment") >= 0.28)
    }),

    // Interval join — click-through attribution (clicks joined to the
    // same user's views from the preceding 4 h), the batch twin of the
    // STREAM-STREAM watermarked join (Streaming.clickAttribution, where
    // the time-range condition is what lets the state store evict old
    // rows; stream ≡ batch in StreamingSpec). Gap arithmetic in exact
    // integer microseconds, both bounds inclusive.
    "st4_interval_join" -> ((s, dir) => {
      val e = Fixture.events(s, dir)
      val v = e.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").cast("timestamp").as("view_ts"))
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").cast("timestamp").as("click_ts"))
      v.join(c, Seq("user_id"))
        .withColumn("gap_us", unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
        .filter(col("gap_us") >= 0L && col("gap_us") <= 240L * 60000000L)
        .select(col("user_id"), col("view_id"), col("click_id"), col("gap_us"))
    }),

    // Event-time hourly windowed aggregation — the BATCH twin of the
    // Structured Streaming query (StreamingSpec proves stream==batch);
    // window() start aligns to the epoch hour = date_trunc.
    "st1_window_agg" -> ((s, dir) =>
      Fixture.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value"), "sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))),

    // Redelivery-safe metrics — st1's aggregation behind an event-id
    // dedup gate: the events table is unioned with an exact re-delivery
    // of every event_id ≡ 5 (mod 13) row (the at-least-once retry shape)
    // and dropDuplicates must make the inflation invisible. Streaming
    // twin: Streaming.dedupedEventCounts (dropDuplicatesWithinWatermark —
    // dedup state EVICTED at the watermark, the 10^10-events posture);
    // stream ≡ batch in StreamingSpec.
    "st6_stream_dedup" -> ((s, dir) => {
      val e = Fixture.events(s, dir)
      e.unionByName(e.filter(col("event_id") % 13 === 5))
        .dropDuplicates("event_id")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value"), "sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value"))
    }),

    // As-of join — every click matched to the SAME user's latest view
    // at-or-before it ("what was on screen when they clicked"), clicks
    // with no preceding view kept with null payload. st4 keeps EVERY view
    // in a window (interval join); as-of keeps exactly the newest one —
    // the "latest state visible at time t" lookup (the crawler's
    // latest-cached-release-before-each-step read, main.py:61-74, as a
    // bulk operator). Union + fill-down window: ONE shuffle, NO join node
    // (AsOfRangeSpec locks that); the oracle is DuckDB's native ASOF LEFT
    // JOIN — two independent engines, two unrelated algorithms.
    "st5_asof_join" -> ((s, dir) => {
      val e = Fixture.events(s, dir)
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").cast("timestamp").as("view_ts"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").cast("timestamp").as("click_ts"))
      graft.ops.AsOfJoin
        .backward(c, v, "user_id", "click_ts", "view_ts", Seq("view_id", "view_ts"))
        .withColumn("gap_us",
          unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
        .select(col("user_id"), col("click_id"), col("view_id"), col("gap_us"))
    }),

    // Range join — point-in-interval lookup with NO equi key (the IP-to-
    // range / offset-to-segment shape): ranges planted on part (stride
    // 100, width p_partkey % 97 → non-overlapping, ~half the domain
    // covered), points pseudo-randomly scattered from lineitem in pure
    // integer arithmetic. RangeJoin.binned replicates each range to the
    // 64-wide bins it overlaps and hash-joins on the bin — the plan has
    // NO nested loop (AsOfRangeSpec locks it); the oracle runs the naive
    // BETWEEN join the operator exists to avoid.
    "c29_range_lookup" -> ((s, dir) => {
      val part = Fixture.part(s, dir)
      val nPart = part.count()
      val ranges = part.select(col("p_partkey").as("range_id"),
        (col("p_partkey") * 100L).as("lo"),
        (col("p_partkey") * 100L + col("p_partkey") % 97L).as("hi"))
      val points = Fixture.lineitem(s, dir).select(
        (col("l_orderkey") * 7L + col("l_linenumber")).as("point_id"),
        ((col("l_orderkey") * 1000003L + col("l_linenumber") * 7919L)
          % lit(nPart * 100L)).as("v"))
      graft.ops.RangeJoin.binned(points, "v", ranges, "lo", "hi", 64L)
        .select(col("point_id"), col("v"), col("range_id"))
    }),

    // Tokenizer training step 2 (after v1's vocabulary): one BPE merge
    // iteration — adjacent symbol-pair counts over the word-frequency
    // table, global top-30 by the same bounded aggregator (no full-corpus
    // sort). Two map-side-combined shuffles, both vocab-bounded: corpus
    // tokens collapse to (word, freq) first, so pair extraction runs once
    // per DISTINCT word, not once per corpus occurrence — at 100 TB the
    // word table is millions of rows while the corpus is trillions.
    "v2_bpe_pairs" -> ((s, dir) => {
      val words = Fixture.documents(s, dir)
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      val pairs = words
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"),
          col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .withColumn("corpus", lit("all"))
      graft.ops.Sampling.topKWeighted(pairs, "corpus", "pair", "cnt", k = 30)
    }),

    // Full iterative BPE merge-table training (v2 is its first round):
    // 20 merges learned over the corpus's word-frequency table, ties
    // broken lexicographically so the table is deterministic at every
    // scale. No ANSI-SQL oracle exists for the round-r-depends-on-round-
    // r-1 recursion (the driver records rows-only); the semantic check is
    // OpsSpec's row-for-row equality against a single-node reference
    // trainer on a corpus where merges chain into multi-char subwords.
    "v3_bpe_train" -> ((s, dir) =>
      graft.ops.Bpe.train(Fixture.documents(s, dir), "text", numMerges = 20)),

    // Train-then-encode round trip: the corpus tokenized with its OWN
    // 20-merge table — the composition a tokenizer user runs, proving the
    // learned table is usable, not just well-formed. The encode is one
    // row-local map under a broadcast merge table (no shuffle at any
    // corpus size); the md5 hashes each doc's full subword sequence so a
    // single out-of-order merge anywhere is a value diff. Rows-only at
    // the driver (same recursion as v3); semantics pinned by OpsSpec
    // equality against the single-node reference encoder.
    "v4_bpe_encode" -> ((s, dir) => {
      val docs = Fixture.documents(s, dir)
      graft.ops.Bpe.encode(docs, "text", "doc_id",
        graft.ops.Bpe.train(docs, "text", numMerges = 20))
    }),

    // K-means assignment — the Lloyd step inside Similarity.train (the
    // IVF trainer), exposed in exact integer arithmetic so both engines
    // compute THE SAME argmin: centroids are the first 16 quantized
    // vectors (deterministic seeding, as the trainer does), squared-L2
    // distances are integer sums over the ×1000-quantized components,
    // ties break to the smaller cluster id. The 16-row centroid table
    // collects to the driver and rides into the plan as literals (the
    // kernel shape Similarity.assign uses) — the corpus makes ONE pass +
    // one map-side-combined groupBy; no join, no shuffle of vectors.
    "i1_kmeans_assign" -> ((s, dir) => {
      val emb = Fixture.embeddings(s, dir)
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cid"), quantized(col("embedding")).as("cv"))
        .collect().map(r => (r.getInt(0), r.getSeq[Long](1))).sortBy(_._1)
      // assignment via the codegen'd argmin/(dist,cid)-tie kernel — the
      // same values as the former per-centroid least(struct(aggregate(
      // zip_with(...)))) chain (both are integer dist², exact in doubles;
      // the kernel's tie rule is the d19/d20/e8 oracle-proven one) but
      // ONE kernel call per row instead of 16 interpreted HOF folds
      // (zip_with/aggregate are CodegenFallback).
      emb.select(col("vec_id"),
          graft.functions.graftfns.nearestCluster(quantized(col("embedding")),
            cents.map(_._2.map(_.toDouble).toArray).toArray,
            cents.map(_._1).toArray).as("cluster"),
          round(element_at(col("embedding"), 1).cast("double") * 1000)
            .cast("long").as("q0"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), sum(col("q0")).as("sum_q0"))
    }),

    // Linear model scoring — the fastText-style quality-classifier pass
    // every production corpus runs after the heuristic filters (t2):
    // tokens hash into a fixed feature space (the 60-bit cross-engine
    // md5 hash mod 1024 buckets), a weight TABLE joins in — explicitly
    // broadcast, the model-distribution shape: weights are MBs even for
    // 10^6-bucket models while the token stream is the corpus — and the
    // per-doc score is one map-side-combined sum. The planted weights are
    // a deterministic integer function of the bucket so the oracle can
    // rebuild them; a real model swaps the derivation for a learned
    // parquet, the plan is identical.
    "t8_model_score" -> ((s, dir) => {
      val nBuckets = 1024
      val weights = s.range(0, nBuckets).select(col("id").as("bucket"),
        (pmod(col("id") * 2654435761L, lit(13)) - 6).as("wt"))
      Fixture.documents(s, dir)
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .select(col("doc_id"),
          pmod(graft.ops.CrossHash.md5Hash60(col("tok")), lit(nBuckets.toLong)).as("bucket"))
        .join(broadcast(weights), Seq("bucket"))
        .groupBy(col("doc_id")).agg(sum(col("wt")).as("score"))
        .withColumn("label", (col("score") > 0).cast("int"))
    }),

    // ORC sink + source round-trip (the third columnar format next to
    // parquet and the jsonl/csv exports): write a lineitem projection as
    // ORC, read it back, aggregate — green proves values and types
    // survive the format. Column pruning reaches the ORC scan the same
    // way it does parquet (vectorized reader).
    "c30_orc_roundtrip" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft-orc-${math.abs(dir.hashCode)}"
      Fixture.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("l_returnflag"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), decSum(col("l_quantity"), "sum_qty"),
          sum(col("l_partkey")).as("sum_partkey"))
    }),

    // Long-document chunking with overlap — the training-prep step that
    // turns documents into fixed-size token windows (32 tokens, stride
    // 16): row-local explode, shuffle-free, integer-exact. Chunk i covers
    // tokens [i·16, min(i·16+32, n)); the count formula
    // ceil(max(n−32,0)/16)+1 makes the last chunk end exactly at n (no
    // empty trailing windows, full coverage). chunk_md5 pins the CONTENT,
    // not just the arithmetic.
    "t9_chunk" -> ((s, dir) => {
      val (w, st) = (32L, 16L)
      Fixture.documents(s, dir)
        .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("chunk_no",
          explode(sequence(lit(0L), expr(s"(greatest(n - $w, 0L) + ${st - 1}) DIV $st"))))
        .withColumn("start", col("chunk_no") * st)
        .withColumn("len", least(lit(w), col("n") - col("start")))
        .select(col("doc_id"), col("chunk_no"), col("len").as("n_chunk_tokens"),
          md5(concat_ws(" ",
            slice(col("toks"), (col("start") + 1).cast("int"), col("len").cast("int"))
          ).cast("binary")).as("chunk_md5"))
    }),

    // Corpus rollup over (language × size tier) with grouping sets — the
    // analytic face §2.4 notes the reference lacks entirely: ROLLUP
    // computes the per-(lang,tier), per-lang and grand-total rows in ONE
    // pass over ONE shuffle (Catalyst expands the grouping sets map-side;
    // at 10^10 docs that beats three separate aggregations by 3× the
    // scan). grouping() flags disambiguate a rolled-up NULL from a data
    // NULL, exactly as DuckDB's GROUPING().
    "c31_corpus_rollup" -> ((s, dir) => {
      val enriched = Fixture.documents(s, dir).select(
        TextAnalysis.langId(col("text")).as("pred_lang"),
        when(length(col("text")) < 150, "short")
          .when(length(col("text")) < 400, "medium")
          .otherwise("long").as("size_tier"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      enriched.rollup(col("pred_lang"), col("size_tier"))
        .agg(grouping(col("pred_lang")).cast("long").as("g_lang"),
          grouping(col("size_tier")).cast("long").as("g_tier"),
          count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
        .select(col("pred_lang"), col("size_tier"), col("g_lang"),
          col("g_tier"), col("n_docs"), col("total_tokens"))
    }),

    // Token-budget shard packing — the corpus-delivery step (fixed
    // ~2000-token output shards, docs never split): shard = exclusive
    // prefix sum of token counts in doc_id order DIV budget, computed by
    // the DISTRIBUTED two-pass prefix sum (Scheduler.globalPrefixSum —
    // sampled range buckets, in-bucket running sums, #buckets-row offset
    // table broadcast back). The naive `sum over (order by doc_id)`
    // window moves the entire corpus through ONE task; this shape is the
    // same answer bit-identically with the corpus staying spread
    // (SchedulerSpec pins the equality).
    "k5_shard_pack" -> ((s, dir) => {
      val d = Fixture.documents(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.sched.Scheduler
        .globalPrefixSum(d, Seq(col("doc_id")), col("n_tokens"), "start_offset")
        .withColumn("shard_id", expr("start_offset DIV 2000"))
        .select(col("doc_id"), col("n_tokens"), col("start_offset"), col("shard_id"))
    }),

    // Exact per-language token-count quantiles (p25/p50/p75/p90) — the
    // calibration step behind corpus quality thresholds, computed WITHOUT
    // either scale trap: `percentile()` buffers every value of a group in
    // one aggregation buffer (OOM at 10^10 rows/group), and a
    // `Window.partitionBy(lang)` sort puts each whole language in ONE
    // task (5 langs → 5 tasks, the hot-group trap Sampling kills). Here
    // the quantile is SELECTED by rank: one globalRank over (lang,
    // n_tokens, doc_id) — lang spans are contiguous because lang leads
    // the key — then per-lang (base, n) from a tiny agg, and the value at
    // in-group rank ceil(pct·n/100) comes back via a broadcast join on
    // the globally-unique rank. All integer arithmetic: (pct·n+99) DIV
    // 100 == percentile_disc's ceil(q·n) rank with no float drift (a
    // double 0.9·n rounds UP past the true rank for n a multiple of 10).
    "c32_length_quantiles" -> ((s, dir) => {
      // persist the scored projection: the rank machinery forks its
      // lineage (window pass + counts pass + targets), and without the
      // cache each fork re-runs the langId marker scans over the corpus
      // (measured 4× at sf0.1); the final relation is ≤ langs×4 rows, so
      // materialize it eagerly and release the cache before returning.
      // (A repartition fan-out of the one-row-group fixture scan was
      // probed here and REVERTED: the exchange re-ran inside every
      // concurrent first reader of the persist and cost more than the
      // serial kernel fill it parallelized.)
      val d = Fixture.documents(s, dir).select(
          TextAnalysis.langId(col("text")).as("pred_lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          col("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try tinyResult(s, quantilesByRank(d))
      finally { d.unpersist(); () }
    }),

    // Incremental quantile maintenance — the seventh incremental-
    // maintenance leg (seen / ANN / band / labels / redirects / shards /
    // quantile stats): a crawl batch arrives (here: the English pages past
    // the 60% doc_id cut); only the languages the batch TOUCHES recompute
    // their quantiles — over a semi-join-pruned scan of stored+batch rows
    // of those languages — while untouched languages are served from the
    // stored stats artifact (emulated by the stored-side computation,
    // which it row-equals since no batch row changes them). Per batch the
    // recompute cost is O(touched-language rows), never the corpus. Same
    // oracle as c32 proves update ≡ full recompute exactly.
    "k7_quantile_update" -> ((s, dir) => {
      // persisted for the same reason as c32 — the two maintenance legs
      // (touched recompute, stored-side untouched) would otherwise each
      // re-run the langId scans per lineage fork (measured 8× at sf0.1)
      val d = Fixture.documents(s, dir).select(
          TextAnalysis.langId(col("text")).as("pred_lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          col("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cut = d.agg((max("doc_id") * 6 / 10).cast("long").as("__cut"))
        val dd = d.crossJoin(broadcast(cut))
        val isBatch = col("doc_id") > col("__cut") && col("pred_lang") === "en"
        val stored = dd.filter(!isBatch).drop("__cut")
        val batch = dd.filter(isBatch).drop("__cut")
        val touched = broadcast(
          batch.select(col("pred_lang").as("__touched")).distinct())
        val recomputed = quantilesByRank(stored.unionByName(batch)
          .join(touched, col("pred_lang") === col("__touched"), "left_semi"))
        val untouched = quantilesByRank(stored
          .join(touched, col("pred_lang") === col("__touched"), "left_anti"))
        // the two maintenance legs are INDEPENDENT jobs over the shared
        // persisted projection — collect them from two driver threads
        // (guide §2.6: overlap independent jobs; the slow leg's stages
        // back-fill the fast leg's idle cores) instead of planning one
        // union mega-plan whose driver-side optimization alone measured
        // ~1.5 s. Row set ≡ the former union (the driver compare sorts).
        tinyResult2(s, recomputed, untouched)
      } finally { d.unpersist(); () }
    }),

    // Incremental shard packing — the append leg of k5 (per crawl batch:
    // new docs pack AFTER the stored corpus, stored rows untouched): the
    // batch's prefix sums shift by ONE scalar (the stored token total, a
    // map-side-partial count off the stored table), so the append costs
    // O(batch), never a corpus repack. Packing first 60% then appending
    // the rest must equal k5's one-shot pack EXACTLY — same oracle SQL,
    // the sixth incremental-maintenance leg (seen / ANN / band / labels /
    // redirects / shards).
    "k6_shard_append" -> ((s, dir) => {
      val d = Fixture.documents(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val cut = d.agg((max("doc_id") * 6 / 10).cast("long").as("__cut"))
      val stored = graft.sched.Scheduler.globalPrefixSum(
          d.crossJoin(broadcast(cut)).filter(col("doc_id") <= col("__cut")).drop("__cut"),
          Seq(col("doc_id")), col("n_tokens"), "start_offset")
      val storedTotal = stored.agg(coalesce(sum("n_tokens"), lit(0L)).as("__base"))
      val appended = graft.sched.Scheduler.globalPrefixSum(
          d.crossJoin(broadcast(cut)).filter(col("doc_id") > col("__cut")).drop("__cut"),
          Seq(col("doc_id")), col("n_tokens"), "start_offset")
        .crossJoin(broadcast(storedTotal))
        .withColumn("start_offset", col("start_offset") + col("__base"))
        .drop("__base")
      stored.unionByName(appended)
        .withColumn("shard_id", expr("start_offset DIV 2000"))
        .select(col("doc_id"), col("n_tokens"), col("start_offset"), col("shard_id"))
    }),

    // Incremental PageRank maintenance — the eighth incremental-
    // maintenance leg (seen / ANN / band / labels / redirects / shards /
    // quantiles / THIS): a crawl batch's newly discovered links fold into
    // a STORED per-iteration rank history; every iteration recomputes
    // only the dirty frontier (nodes the batch can actually change — see
    // LinkGraph.updatePagerank's induction), untouched nodes pass through
    // from the stored level. Oracle = the one-shot fixed-point PageRank
    // over the FULL edge set (g2's oracle): green proves update ≡ full
    // re-rank exactly, including new nodes the batch introduces and
    // out-degree changes at stored nodes.
    "g5_pagerank_update" -> ((s, dir) => {
      val edges = Fixture.linkEdges(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val b1 = edges.filter(xxhash64(col("src"), col("dst")) % 3 =!= 0)
        val b2 = edges.filter(xxhash64(col("src"), col("dst")) % 3 === 0)
        val state = graft.ops.LinkGraph.pagerankHistory(b1, iterations = 3)
        graft.ops.LinkGraph.updatePagerank(state, b2)
      } finally { edges.unpersist(); () }
    }),

    // CCNet-style n-gram LM quality scoring — train a bigram model with
    // add-one smoothing on the 80% doc_id split, score the held-out 20%
    // by smoothed bigram probability mass. The probability is the
    // FIXED-POINT integer surrogate ((c12+1)·10⁶) DIV (c1+V) — the t10
    // idf-surrogate trick: no log/float, so the doc scores are
    // hash-identical cross-engine while ordering docs exactly like the
    // float add-one model would (per-bigram monotone). Scale shape: the
    // model is ONE (w1,w2) count agg (map-side partials; persisted —
    // both the w1-history counts and the vocab scalar derive from it,
    // not from a corpus re-scan), scoring is two shuffle joins keyed on
    // the bigram/history (the model table is corpus-sized aggregate,
    // NOT broadcast-able at 10^10 — the joins co-partition), and the
    // per-doc fold is one map-side-partial agg.
    "t11_perplexity" -> ((s, dir) => {
      val bg = Fixture.documents(s, dir)
        .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS w1, toks[i+1] AS w2))"))
          .as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val train = bg.filter(col("doc_id") % 5 =!= 0)
      val test = bg.filter(col("doc_id") % 5 === 0)
      // PERSISTED like t10's tf: the history counts and the vocab scalar
      // both derive from the model agg — without the cache each fork
      // re-tokenizes and re-aggregates the train split. CacheManager
      // dedupes the persist by plan across invocations.
      val model = train.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val hist = model.groupBy("w1").agg(sum(col("c12")).as("c1"))
      val vocab = model.select(col("w1").as("w"))
        .unionByName(model.select(col("w2").as("w")))
        .agg(countDistinct(col("w")).as("v"))
      test
        .join(model, Seq("w1", "w2"), "left")
        .join(hist, Seq("w1"), "left")
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"), expr(
          "((coalesce(c12, 0L) + 1) * 1000000) DIV (coalesce(c1, 0L) + v)").as("p_fp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("p_fp")).as("mass_fp"))
        .withColumn("avg_fp", expr("mass_fp DIV n_bigrams"))
    }),

    // Token-budget corpus mixture — the multi-source sampling step that
    // fills a training mix to per-source TOKEN quotas (weights × budget),
    // taking each source's docs in deterministic id-hash order until its
    // quota is reached. The per-source running token count is the
    // GROUPED distributed prefix sum (Scheduler.groupedPrefixSum): one
    // corpus shuffle over the (source, hash) total order — a
    // `sum over (partition by source order by hash)` window would put
    // each whole source in ONE task, the hot-source trap s1 exists to
    // kill. Weights/quotas are a #sources-row broadcast dim.
    "s4_mixture_sample" -> ((s, dir) => {
      val d = Fixture.documents(s, dir).select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val w = d.select(col("source")).distinct()
        .withColumn("__w", graft.ops.CrossHash.md5Hash60(col("source")) % 5 + 1)
      val sw = w.agg(sum(col("__w")).as("__sw"))
      val quotas = w.crossJoin(broadcast(sw))
        .withColumn("quota_tokens", expr("(20000 * __w) DIV __sw"))
        .select(col("source"), col("quota_tokens"))
      graft.sched.Scheduler.groupedPrefixSum(
          d.withColumn("__h", graft.ops.Sampling.idHash(col("doc_id"))),
          "source", Seq(col("__h"), col("doc_id")), col("n_tokens"), "cum_before")
        .join(broadcast(quotas), Seq("source"))
        .filter(col("cum_before") < col("quota_tokens"))
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("cum_before"), col("quota_tokens"))
    }),

    // Aspect-ratio bucketing + pixel-budget batch packing — the image-
    // trainer delivery step (SDXL-style resolution buckets; batches must
    // hold same-resolution images within a pixel budget): dimensions come
    // from DECODING the real payload header (decode_width/height — the
    // oracle reconstructs them arithmetically from the planted fixture),
    // packing is the grouped prefix sum per resolution bucket DIV the
    // batch pixel budget — k5's shard packing, per bucket, without the
    // per-bucket window sort.
    "m5_ar_bucket_pack" -> ((s, dir) => {
      val n = Fixture.documents(s, dir).count()
      val imgs = graft.model.Synth.imageDocs(s, n, 32).toDF()
        .select(substring(col("image_id"), 4, 8).cast("long").as("id"),
          graft.functions.graftfns.decodeWidth(col("bytes")).as("w"),
          graft.functions.graftfns.decodeHeight(col("bytes")).as("h"))
        .withColumn("bucket",
          concat(col("w").cast("string"), lit("x"), col("h").cast("string")))
        .withColumn("pixels", expr("CAST(w AS BIGINT) * h"))
        .select(col("id"), col("bucket"), col("pixels"))
      graft.sched.Scheduler.groupedPrefixSum(
          imgs, "bucket", Seq(col("id")), col("pixels"), "px_before")
        .withColumn("batch_no", expr("px_before DIV 16384"))
        .select(col("id"), col("bucket"), col("pixels"),
          col("px_before"), col("batch_no"))
    }),

    // The training-run delivery composition (e1/e5/e6's sibling for the
    // DELIVERY half): token-budget mixture selection (s4) → deterministic
    // epoch shuffle of the SELECTED docs (k11's permutation) → token-
    // budget shard packing in shuffle order (k5's prefix sum) — all in
    // ONE lazy plan chain, no driver round-trip between stages. Proves
    // the three order/prefix primitives (groupedPrefixSum, globalRank,
    // globalPrefixSum) compose: three corpus-sized shuffles total, one
    // per primitive, nothing extra from the composition itself.
    "e7_training_mix" -> ((s, dir) => {
      val d = Fixture.documents(s, dir).select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val w = d.select(col("source")).distinct()
        .withColumn("__w", graft.ops.CrossHash.md5Hash60(col("source")) % 5 + 1)
      val sw = w.agg(sum(col("__w")).as("__sw"))
      val quotas = w.crossJoin(broadcast(sw))
        .withColumn("quota_tokens", expr("(20000 * __w) DIV __sw"))
        .select(col("source"), col("quota_tokens"))
      // Each two-pass primitive executes its input several times (the
      // numeric-leading-key quantile probe at plan-build time, then the
      // in-bucket window AND the offsets aggregate at action time), and
      // here the inputs are the whole upstream chain — so the mixture
      // selection and the epoch permutation are persisted (the t10
      // cached-tf rationale; without these the grouped prefix sum over
      // the corpus executes ~6x per invocation). The selection is
      // token-quota-bounded (a few hundred rows at any sf), so the
      // result is materialized eagerly and both caches released in the
      // finally — every invocation recomputes from the parquet inputs
      // (the k7/c32 tinyResult pattern).
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val selected = graft.sched.Scheduler.groupedPrefixSum(
          d.withColumn("__h", graft.ops.Sampling.idHash(col("doc_id"))),
          "source", Seq(col("__h"), col("doc_id")), col("n_tokens"), "__cum")
        .join(broadcast(quotas), Seq("source"))
        .filter(col("__cum") < col("quota_tokens"))
        .select(col("source"), col("doc_id"), col("n_tokens"))
        .withColumn("__h2", graft.ops.CrossHash.md5Hash60(
          concat(col("doc_id").cast("string"), lit(":7"))))
        .persist(lvl)
      val shuffled = graft.sched.Scheduler.globalRank(
        selected, Seq(col("__h2"), col("doc_id")), "rk").persist(lvl)
      try tinyResult(s,
        graft.sched.Scheduler.globalPrefixSum(
            shuffled, Seq(col("rk")), col("n_tokens"), "__start")
          .withColumn("shard_id", expr("__start DIV 2000"))
          .select(col("source"), col("doc_id"), col("n_tokens"),
            col("rk"), col("shard_id")))
      finally { shuffled.unpersist(); selected.unpersist(); () }
    }),

    // The multimodal-corpus delivery chain over the round's new operators,
    // composed in ONE lazy plan (the e-family contract — no driver
    // round-trips between stages): CLIP-score alignment gate (m6's
    // row-local cosine ≥ 0.28) → SemDeDup within the aligned survivors
    // (d19's cluster-bounded τ-prune; centroids from the RAW corpus — the
    // index is corpus state, not gate output) → token-count quality cut on
    // the joined caption documents. Alignment and assignment are row-local
    // (no shuffle); the chain's only exchanges are the semantic self-join
    // on cluster and the survivor↔documents equi-join.
    "e8_aligned_corpus" -> ((s, dir) => {
      val emb = Fixture.embeddings(s, dir)
      val aligned = emb
        .filter(graft.ops.Similarity.cosine(col("embedding"), captionVec) >= 0.28)
        .select(col("vec_id"), col("embedding"))
      val assigned = assignClusters(aligned, centroids16(emb))
      val survivors = graft.ops.Dedup.semanticDedupWithin(
        assigned, "vec_id", "embedding", "cluster", 0.95)
      val docs = Fixture.documents(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      survivors.join(docs, survivors("vec_id") === docs("doc_id"))
        .filter(col("n_tokens") >= 40)
        .select(col("doc_id"), col("cluster"), col("n_tokens"))
    }),

    // Deterministic epoch shuffle — the training-order step: a seeded
    // cross-engine hash of (doc_id, epoch) defines a full permutation of
    // the corpus, ranked WITHOUT the single-task global window
    // (Scheduler.globalRank: sampled range buckets + prefix-sum offsets,
    // one corpus shuffle), then dealt round-robin into 16 balanced
    // shards. Re-running the same epoch is bit-stable
    // (resume-safe); the next epoch is a fresh permutation by
    // construction. The rank hash is the repo-standard md5-prefix, so
    // the oracle reproduces the exact order.
    "k11_epoch_shuffle" -> ((s, dir) => {
      val d = Fixture.documents(s, dir).select(col("doc_id"))
        .withColumn("__h", graft.ops.CrossHash.md5Hash60(
          concat(col("doc_id").cast("string"), lit(":7"))))
      graft.sched.Scheduler.globalRank(d, Seq(col("__h"), col("doc_id")), "rk")
        .withColumn("shard", expr("(rk - 1) % 16"))
        .select(col("doc_id"), col("rk"), col("shard"))
    })
  )

  /** One-shot SemDeDup closure over the d19/d20 union — shared by d19
    * (which computes it one-shot in Spark) and d20 (whose incremental fold
    * must land on it exactly). Assignment via the i1 integer-dist² dot
    * identity (exact — integer-valued doubles throughout); survivor = no
    * τ-similar smaller id within the cluster. */
  private val semanticDedupSql: String =
    """WITH u AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id,
      |    list_transform(embedding, e -> CAST(e * CAST(1.001 AS FLOAT) AS FLOAT)) AS embedding
      |  FROM embeddings WHERE vec_id < 50),
      |q AS (SELECT vec_id, embedding,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM u),
      |c AS (SELECT CAST(vec_id AS INT) AS cid, qv AS cv FROM q WHERE vec_id < 16),
      |d AS (
      |  SELECT q.vec_id, c.cid,
      |    list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
      |      - 2 * list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
      |      + list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(c.cv AS DOUBLE[])) AS dist
      |  FROM q CROSS JOIN c),
      |a AS (
      |  SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
      |  FROM d),
      |asg AS (
      |  SELECT q.vec_id, CAST(q.embedding AS DOUBLE[]) AS v, a.cid AS cluster
      |  FROM q JOIN a ON a.vec_id = q.vec_id AND a.rk = 1),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
      |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |  WHERE list_dot_product(a.v, b.v) /
      |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95)
      |SELECT s.vec_id, s.cluster FROM asg s
      |WHERE s.vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin

  /** Brute-force quantized top-10 cosine — shared by d6 (which computes it
    * brute-force in Spark) and d7/d8 (whose ANN probe budgets cover the
    * true top-10 at test scale, so their output must equal it exactly). */
  private val bruteForceTopKSql: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id,
      |    list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings WHERE vec_id < 5),
      |c AS (
      |  SELECT vec_id AS neighbor_id,
      |    list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS cv
      |  FROM embeddings),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    CAST(list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[])) AS DOUBLE) /
      |    (sqrt(CAST(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])) AS DOUBLE)) *
      |     sqrt(CAST(list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])) AS DOUBLE))) AS cos
      |  FROM q JOIN c ON query_id <> neighbor_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cos,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      |  FROM scored)
      |SELECT query_id, neighbor_id, round(cos, 6) AS cos6, rk FROM ranked WHERE rk <= 10""".stripMargin

  /** Brute-force all-pairs 3-shingle jaccard with the exact integer
    * threshold, over any source table — equality proves the Spark LSH
    * path has recall 1.0 here. Shared by d2 (directly) and d9/e1 (as the
    * MinHash half of their edge CTE). */
  private def mhPairsSqlFor(table: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(toks)-2, 0)),
       |    i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS sh
       |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |        FROM $table)),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS jaccard_num,
       |    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS jaccard_den
       |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, jaccard_num, jaccard_den FROM p
       |WHERE jaccard_den > 0 AND jaccard_num * 5 >= jaccard_den * 4""".stripMargin

  /** The g1/g3 twin: Fixture.redirects' planted ground truth in closed
    * form (chains to the block head in i%8 hops; complete every-10th
    * blocks are 8-cycles → unresolved). */
  private val redirectOracleSql: String =
    """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
      |srcs AS (
      |  SELECT doc_id,
      |    (doc_id % 80 < 8 AND doc_id - (doc_id % 80) + 7 <= (SELECT mx FROM m)) AS cyc
      |  FROM documents
      |  WHERE doc_id % 8 <> 0
      |     OR (doc_id % 80 = 0 AND doc_id + 7 <= (SELECT mx FROM m)))
      |SELECT doc_id AS src,
      |  CASE WHEN cyc THEN NULL ELSE doc_id - (doc_id % 8) END AS final_dst,
      |  CASE WHEN cyc THEN NULL ELSE doc_id % 8 END AS hops,
      |  cyc AS unresolved
      |FROM srcs""".stripMargin

  /** The g2 twin: the SAME fixed-point integer PageRank unrolled as
    * chained CTEs — exact BIGINT arithmetic end to end (`//` is DuckDB's
    * integral division, the twin of Spark's `DIV`; sums are CAST back
    * from DuckDB's HUGEINT). base = (100−85)·10⁶ DIV 100 = 150000. */
  private def pagerankOracleSql(iterations: Int): String = {
    val iterCtes = (1 to iterations).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, CAST(sum(r.r // d.outdeg) AS BIGINT) AS c
         |  FROM edges e JOIN deg d ON e.src = d.src JOIN r${i - 1} r ON e.src = r.node
         |  GROUP BY 1),
         |r$i AS (
         |  SELECT n2.node, CAST(150000 + (85 * COALESCE(c.c, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n2 LEFT JOIN c$i c ON n2.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
       |edges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM nn) AS dst FROM documents
       |    UNION ALL
       |    SELECT doc_id, (doc_id * 2 + 1) % (SELECT n FROM nn) FROM documents
       |    UNION ALL
       |    SELECT doc_id, (doc_id * 7 + 13) % (SELECT n FROM nn) FROM documents) t
       |  WHERE src <> dst),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$iterCtes
       |SELECT node, r AS rank_fp FROM r$iterations""".stripMargin
  }

  /** Recursive-CTE connected components over the multi-signal pair graph
    * (MinHash-verified ∪ simhash-hamming≤6) of `table` — the closure the
    * d9 query and e1's collapse stage must reproduce. Emits
    * (doc_id, component_rep). */
  private def componentsSqlFor(table: String): String =
    s"""mh AS (${mhPairsSqlFor(table)}),
       |sh AS (${SimhashOracle.sqlFor(table)}),
       |edges0 AS (SELECT id_a, id_b FROM mh UNION SELECT id_a, id_b FROM sh),
       |e AS (SELECT id_a AS u, id_b AS v FROM edges0
       |      UNION SELECT id_b AS u, id_a AS v FROM edges0),
       |reach(u, v) AS (
       |  SELECT u, u AS v FROM (SELECT DISTINCT u FROM e) nodes
       |  UNION
       |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
       |comp AS (SELECT u AS doc_id, min(v) AS component_rep FROM reach GROUP BY u)""".stripMargin

  val oracle: Map[String, String] = Map(
    "d2_minhash_lsh" -> mhPairsSqlFor("documents"),

    "d9_dedup_components" ->
      s"""WITH RECURSIVE
         |${componentsSqlFor("documents")}
         |SELECT doc_id, component_rep FROM comp""".stripMargin,

    // incremental ≡ batch: the d13 query closes the pair graph in two
    // edge batches; the truth is the ONE-SHOT closure over the whole set
    "d13_cc_update" ->
      s"""WITH RECURSIVE
         |${componentsSqlFor("documents")}
         |SELECT doc_id, component_rep FROM comp""".stripMargin,

    // deletion ≡ from-scratch: components over the pair graph with every
    // deleted endpoint removed, seeded from ALL surviving labelled nodes —
    // a node whose last pair died must come back as its own singleton rep,
    // and a component whose bridge was deleted must split
    "d15_cc_forget" ->
      s"""WITH RECURSIVE
         |mh AS (${mhPairsSqlFor("documents")}),
         |sh AS (${SimhashOracle.sqlFor("documents")}),
         |edges0 AS (SELECT id_a, id_b FROM mh UNION SELECT id_a, id_b FROM sh),
         |delset AS (SELECT doc_id FROM documents WHERE doc_id % 17 = 3),
         |nodes AS (
         |  SELECT DISTINCT u FROM (
         |    SELECT id_a AS u FROM edges0 UNION SELECT id_b AS u FROM edges0) n
         |  WHERE u NOT IN (SELECT doc_id FROM delset)),
         |e0 AS (SELECT id_a, id_b FROM edges0
         |       WHERE id_a NOT IN (SELECT doc_id FROM delset)
         |         AND id_b NOT IN (SELECT doc_id FROM delset)),
         |e AS (SELECT id_a AS u, id_b AS v FROM e0
         |      UNION SELECT id_b AS u, id_a AS v FROM e0),
         |reach(u, v) AS (
         |  SELECT u, u AS v FROM nodes
         |  UNION
         |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
         |comp AS (SELECT u AS doc_id, min(v) AS component_rep FROM reach GROUP BY u)
         |SELECT doc_id, component_rep FROM comp""".stripMargin,

    // brute-force shingle intersection over the doc+quote corpus with the
    // SAME df cap and cross-multiplied 4/5 thresholds; quotes keep the
    // sliced token list directly (rejoin+resplit on the Spark side is
    // token-identical — vocab tokens contain no whitespace)
    // the oracle scrubs over the n-gram STRINGS (the engine keys the dup
    // set on the 60-bit hash — equality proves the hashed key lossless,
    // the t6 pattern) and rebuilds each doc's surviving text to the same
    // md5, so token-position bookkeeping is value-checked end to end
    "d17_span_scrub" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    unnest(range(0, greatest(len(toks)-4, 0))) AS p,
        |    unnest(list_transform(range(0, greatest(len(toks)-4, 0)),
        |      i -> array_to_string(toks[i+1:i+5], ' '))) AS ng
        |  FROM toks),
        |dup AS (SELECT ng FROM ng GROUP BY ng HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT doc_id, list(pos) AS cov FROM (
        |    SELECT DISTINCT n.doc_id, n.p + u.j AS pos
        |    FROM ng n JOIN dup USING (ng), (SELECT unnest(range(0, 5)) AS j) u)
        |  GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(len(c.cov), 0) AS BIGINT) AS n_scrubbed,
        |  -- array_to_string([]) is NULL in DuckDB (not '') — an
        |  -- all-scrubbed doc must hash the empty string like the engine
        |  md5(coalesce(array_to_string(list_filter(list_transform(range(0, len(t.toks)),
        |      i -> CASE WHEN c.cov IS NULL OR NOT list_contains(c.cov, i)
        |        THEN t.toks[i+1] END),
        |    x -> x IS NOT NULL), ' '), '')) AS scrubbed_md5
        |FROM toks t LEFT JOIN cov c USING (doc_id)""".stripMargin,

    // the full cleaning chain recomputed stage by stage: d17's scrub CTE
    // (gram STRINGS, md5-free — it keeps the text), t2's quality formula
    // over the SCRUBBED text, then s2's integer quota + hash-rank
    // selection over the survivor counts
    // closed-form ground truth of the whole image chain: survivors = base
    // ids (fixture dups excluded by construction) with non-empty caption
    // (id%97<>0); a repost (id%40=5) shares its source's caption so the
    // pair is present-or-absent together and the smaller source id always
    // wins → n_members=2 exactly there; crop dims = the PRE-PAD planted
    // dims (green proves detect+crop recovered them from bytes alone)
    "e6_image_corpus" ->
      """SELECT doc_id AS id,
        |  CAST(CASE WHEN doc_id % 40 = 5 THEN 2 ELSE 1 END AS BIGINT) AS n_members,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 16 WHEN 2 THEN 32
        |       ELSE 64 END AS BIGINT) AS crop_w,
        |  CAST(CASE (doc_id + 1) % 4 WHEN 0 THEN 8 WHEN 1 THEN 16 WHEN 2 THEN 32
        |       ELSE 64 END AS BIGINT) AS crop_h,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'xjpg' END AS fmt
        |FROM documents
        |WHERE doc_id % 50 <> 49 AND doc_id % 97 <> 0""".stripMargin,

    "e5_clean_corpus" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM documents),
         |ng AS (
         |  SELECT doc_id,
         |    unnest(range(0, greatest(len(toks)-4, 0))) AS p,
         |    unnest(list_transform(range(0, greatest(len(toks)-4, 0)),
         |      i -> array_to_string(toks[i+1:i+5], ' '))) AS ng
         |  FROM toks),
         |dup AS (SELECT ng FROM ng GROUP BY ng HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (
         |  SELECT doc_id, list(pos) AS cov FROM (
         |    SELECT DISTINCT n.doc_id, n.p + u.j AS pos
         |    FROM ng n JOIN dup USING (ng), (SELECT unnest(range(0, 5)) AS j) u)
         |  GROUP BY 1),
         |scrub AS (
         |  SELECT t.doc_id,
         |    coalesce(array_to_string(list_filter(list_transform(range(0, len(t.toks)),
         |        i -> CASE WHEN c.cov IS NULL OR NOT list_contains(c.cov, i)
         |          THEN t.toks[i+1] END),
         |      x -> x IS NOT NULL), ' '), '') AS text
         |  FROM toks t LEFT JOIN cov c USING (doc_id)),
         |q AS (${TextOracle.qualitySqlFor("scrub")}),
         |surv AS (
         |  SELECT d.lang, q.doc_id
         |  FROM q JOIN documents d USING (doc_id)
         |  WHERE q.quality >= CAST(0.7 AS DOUBLE)),
         |n AS (SELECT lang, count(*) AS n_g FROM surv GROUP BY 1),
         |w AS (SELECT lang, n_g, CAST(floor(sqrt(n_g)) AS BIGINT) AS w FROM n),
         |qt AS (SELECT lang, least(n_g,
         |    CAST((50 * w) // (SELECT CAST(sum(w) AS BIGINT) FROM w) AS BIGINT)) AS quota
         |  FROM w),
         |h AS (SELECT lang, doc_id,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh
         |  FROM surv),
         |r AS (SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rk FROM h)
         |SELECT r.lang, r.doc_id, r.rk, qt.quota
         |FROM r JOIN qt USING (lang) WHERE r.rk <= qt.quota""".stripMargin,

    "d16_containment" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |quotes AS (
        |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
        |    toks[1 : len(toks) // 2] AS toks
        |  FROM base WHERE doc_id % 20 = 11),
        |corpus AS (
        |  SELECT doc_id, toks FROM base
        |  UNION ALL SELECT doc_id, toks FROM quotes),
        |t AS (
        |  SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(toks)-2, 0)),
        |    i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS sh
        |  FROM corpus),
        |ex AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh, unnest(sh) AS s FROM t),
        |hot AS (SELECT s FROM ex GROUP BY s HAVING count(*) > 100),
        |kept AS (SELECT * FROM ex WHERE s NOT IN (SELECT s FROM hot)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS shared,
        |    any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
        |  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, shared, n_a, n_b,
        |  shared * 5 >= 4 * n_a AS a_in_b,
        |  shared * 5 >= 4 * n_b AS b_in_a
        |FROM p WHERE shared * 5 >= 4 * n_a OR shared * 5 >= 4 * n_b""".stripMargin,

    // the lines CTE is Fixture.docLines verbatim; keeper = the globally
    // smallest packed (doc_id, line_no) per distinct line, exactly
    // Dedup.lineVerdicts' argmin; string_agg ORDER BY reassembles in line
    // order (coalesce: a doc that loses every line hashes '')
    "d14_line_dedup" ->
      """WITH lines AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS line_no,
        |    array_to_string((string_split(text, ' '))[1:3], ' ') AS line FROM documents
        |  UNION ALL SELECT doc_id, 1, array_to_string((string_split(text, ' '))[4:6], ' ') FROM documents
        |  UNION ALL SELECT doc_id, 2, array_to_string((string_split(text, ' '))[7:9], ' ') FROM documents
        |  UNION ALL SELECT doc_id, 3, 'footer boilerplate ' || CAST(doc_id % 7 AS VARCHAR) FROM documents
        |  UNION ALL SELECT doc_id, 4, 'accept cookies to continue' FROM documents WHERE doc_id % 3 = 0),
        |first AS (SELECT md5(line) AS h, min(doc_id * 1048576 + line_no) AS f FROM lines GROUP BY 1),
        |v AS (SELECT l.doc_id, l.line_no, l.line, (l.doc_id * 1048576 + l.line_no = f.f) AS keep
        |      FROM lines l JOIN first f ON md5(l.line) = f.h)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY line_no), '')) AS new_md5
        |FROM v GROUP BY doc_id""".stripMargin,

    // composed corpus-build pipeline: every stage is the SQL twin of the
    // corresponding Spark operator, chained over the same intermediate
    // sets (exact survivors → component collapse → quality/repetition
    // filter → hash-ranked stratified sample)
    "e1_corpus_pipeline" ->
      s"""WITH RECURSIVE
         |surv AS (
         |  SELECT d.* FROM documents d
         |  JOIN (SELECT min(doc_id) AS kid FROM documents GROUP BY md5(text)) k
         |    ON d.doc_id = k.kid),
         |${componentsSqlFor("surv")},
         |collapsed AS (
         |  SELECT s.* FROM surv s LEFT JOIN comp c ON s.doc_id = c.doc_id
         |  WHERE c.doc_id IS NULL OR c.component_rep = s.doc_id),
         |q AS (${TextOracle.qualitySqlFor("collapsed")}),
         |wstats AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, max(c) AS max_word_count
         |  FROM (SELECT doc_id, word, count(*) AS c
         |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM collapsed)
         |        GROUP BY 1, 2)
         |  GROUP BY 1),
         |filtered AS (
         |  SELECT c.source, c.doc_id,
         |    CAST('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh
         |  FROM collapsed c
         |  JOIN q ON q.doc_id = c.doc_id
         |  JOIN wstats w ON w.doc_id = c.doc_id
         |  WHERE q.quality >= 0.7 AND w.max_word_count * 5 <= w.n_words),
         |ranked AS (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rk
         |  FROM filtered)
         |SELECT source, doc_id, rk FROM ranked WHERE rk <= 5""".stripMargin,

    // closed-form planted ground truth (see Fixture.redirects): the engine
    // recovers it by pointer-doubling the edge walk. `cyc` marks members
    // of blocks whose 8-cycle edge exists (block complete); the WHERE is
    // exactly the source set (chain sources ∪ closed-block heads).
    "g1_redirect_resolve" -> redirectOracleSql,

    "g2_pagerank" -> pagerankOracleSql(iterations = 3),

    // incremental ≡ full: the g3 query resolves batch 1 then folds batch 2
    // into the stored table; the truth is the one-shot closed form
    "g3_redirect_update" -> redirectOracleSql,

    "d3_simhash" -> SimhashOracle.sql,

    // the links CTE mirrors the a1 query's deterministic anchor synthesis;
    // the window rank is the oracle twin of the bounded top-k aggregator
    // (weight DESC, payload ASC — same total order, so row-equal)
    "a1_anchor_topk" ->
      """WITH links AS (
        |  SELECT doc_id % 40 AS target,
        |    'anchor phrase ' || CAST(doc_id % 5 AS VARCHAR) AS anchor FROM documents
        |  UNION ALL
        |  SELECT (doc_id * 3) % 40, 'read more ' || CAST(doc_id % 3 AS VARCHAR) FROM documents),
        |counts AS (SELECT target, anchor, count(*) AS n_refs FROM links GROUP BY 1, 2),
        |ranked AS (
        |  SELECT CAST(target AS VARCHAR) AS target, anchor,
        |    CAST(n_refs AS BIGINT) AS n_refs,
        |    row_number() OVER (PARTITION BY target ORDER BY n_refs DESC, anchor) AS rk
        |  FROM counts)
        |SELECT target, anchor, n_refs, rk FROM ranked WHERE rk <= 3""".stripMargin,

    // ground truth of the planted cross-format image dups, in closed form
    // (Synth.dupSourceOf: every 50th image re-encodes the pixels of i-25);
    // the engine must RECOVER this set via decode → phash → banded
    // hamming join — no more (nearest random pair: hamming 14), no fewer
    // (dup re-encodes stay ≤ 3 bits; maxHamming 6, pigeonhole-complete)
    // documents.doc_id is dense 0..n-1, so it doubles as the image-id
    // domain (the engine synthesizes n images; DuckDB's range() cannot
    // take a subquery bound)
    "d10_image_phash" ->
      """SELECT doc_id - 25 AS id_a, doc_id AS id_b
        |FROM documents
        |WHERE doc_id % 50 = 49 AND doc_id >= 25""".stripMargin,

    // planted ground truth in closed form (the d10 pattern): the pairs
    // are exactly the rotated/mirrored twins planted at id+n — orbit
    // equality is exact (lossless PNG re-encode of the decoded pixels),
    // and the measured nearest NON-pair orbit distance stays well above
    // the hamming-0 gate at every sf
    "d18_rotation_dedup" ->
      """SELECT doc_id AS id_a, doc_id + (SELECT count(*) FROM documents) AS id_b
        |FROM documents
        |WHERE doc_id % 50 <> 49 AND doc_id % 40 = 5""".stripMargin,

    "d11_band_store" -> SimhashOracle.crossSqlFor("documents",
      "a.doc_id % 10 <> 0", "b.doc_id % 10 = 0", maxHamming = 6),

    // one-shot closure of the whole-corpus simhash hamming ball — what the
    // e3 two-batch ingest+update maintenance loop must land on exactly
    "e3_dedup_maintenance" ->
      s"""WITH RECURSIVE
         |${SimhashOracle.sigCteFor("documents")},
         |sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |       FROM s a JOIN s b ON a.doc_id < b.doc_id
         |       WHERE bit_count(xor(a.sig, b.sig)) <= 6),
         |e AS (SELECT id_a AS u, id_b AS v FROM sh
         |      UNION SELECT id_b AS u, id_a AS v FROM sh),
         |reach(u, v) AS (
         |  SELECT u, u AS v FROM (SELECT DISTINCT u FROM e) nodes
         |  UNION
         |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
         |comp AS (SELECT u AS doc_id, min(v) AS component_rep FROM reach GROUP BY u)
         |SELECT doc_id, component_rep FROM comp""".stripMargin,

    // survivors of the planted image dup clusters, in closed form: every
    // id except the re-encodes (i % 50 = 49, whose pixels copy i−25)
    "e2_image_dedup" ->
      """SELECT doc_id AS id FROM documents
        |WHERE NOT (doc_id % 50 = 49 AND doc_id >= 25)""".stripMargin,

    // cross-modal survivors: connected components over (closed-form
    // planted phash pairs ∪ exact-caption dup star pairs), min-id
    // survivor — DuckDB rebuilds the caption assignment (image i carries
    // the text of doc i−4 at i % 25 = 24) and recomputes the caption leg
    // with its OWN md5 over the assigned text
    "d12_multimodal_dedup" ->
      """WITH RECURSIVE
        |pp AS (SELECT doc_id - 25 AS id_a, doc_id AS id_b FROM documents
        |       WHERE doc_id % 50 = 49 AND doc_id >= 25),
        |caps AS (
        |  SELECT n.doc_id AS id, d.text
        |  FROM documents n JOIN documents d
        |    ON d.doc_id = CASE WHEN n.doc_id % 25 = 24
        |                       THEN n.doc_id - 4 ELSE n.doc_id END),
        |cp AS (SELECT k.id_a, c.id AS id_b
        |       FROM caps c
        |       JOIN (SELECT md5(text) AS fp, min(id) AS id_a
        |             FROM caps GROUP BY 1) k
        |         ON md5(c.text) = k.fp
        |       WHERE c.id <> k.id_a),
        |edges0 AS (SELECT id_a, id_b FROM pp UNION SELECT id_a, id_b FROM cp),
        |e AS (SELECT id_a AS u, id_b AS v FROM edges0
        |      UNION SELECT id_b AS u, id_a AS v FROM edges0),
        |reach(u, v) AS (
        |  SELECT u, u AS v FROM (SELECT DISTINCT u FROM e) nodes
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
        |comp AS (SELECT u AS doc_id, min(v) AS component_rep FROM reach GROUP BY u)
        |SELECT d.doc_id AS id FROM documents d
        |LEFT JOIN comp c ON d.doc_id = c.doc_id
        |WHERE c.doc_id IS NULL OR c.component_rep = d.doc_id""".stripMargin,

    // Brute-force all-pairs cosine ≥ 0.95 over the corpus ∪ planted-clone
    // union (FLOAT scaling is IEEE-identical across engines; margins are
    // planted ≈1.0 vs random ≲0.6 — no boundary sensitivity).
    "d5_embed_neardup" ->
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |    list_transform(embedding, e -> CAST(e * CAST(1.001 AS FLOAT) AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id < 50),
        |d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM u)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM d a JOIN d b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95""".stripMargin,

    "d19_semantic_dedup" -> semanticDedupSql,

    // the fold must land exactly on the one-shot closure over the union
    "d20_semantic_update" -> semanticDedupSql,

    // the new-operator delivery chain: m6's gate, d19's closure (over the
    // RAW corpus, no planted union), the t3 token count — each stage the
    // proven twin, chained
    "e8_aligned_corpus" ->
      s"""WITH p AS (
        |  SELECT vec_id, embedding,
        |    CAST(embedding AS DOUBLE[]) AS v,
        |    CAST(CASE WHEN vec_id % 4 = 0 THEN list_reverse(embedding)
        |         ELSE list_transform(embedding,
        |                e -> CAST(e * CAST(1.001 AS FLOAT) AS FLOAT)) END
        |      AS DOUBLE[]) AS cv
        |  FROM embeddings),
        |aligned AS (
        |  SELECT vec_id, embedding FROM p
        |  WHERE list_dot_product(v, cv) /
        |    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) >= 0.28),
        |q AS (SELECT vec_id, embedding,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM aligned),
        |c AS (SELECT CAST(vec_id AS INT) AS cid,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS cv
        |  FROM embeddings WHERE vec_id < 16),
        |d AS (
        |  SELECT q.vec_id, c.cid,
        |    list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
        |      - 2 * list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
        |      + list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(c.cv AS DOUBLE[])) AS dist
        |  FROM q CROSS JOIN c),
        |a AS (
        |  SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
        |  FROM d),
        |asg AS (
        |  SELECT q.vec_id, CAST(q.embedding AS DOUBLE[]) AS v, a.cid AS cluster
        |  FROM q JOIN a ON a.vec_id = q.vec_id AND a.rk = 1),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
        |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v) /
        |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95),
        |surv AS (
        |  SELECT s.vec_id, s.cluster FROM asg s
        |  WHERE s.vec_id NOT IN (SELECT vec_id FROM dropped)),
        |toks AS (SELECT doc_id, ${TextOracle.nTokensSql} AS n_tokens FROM documents)
        |SELECT t.doc_id, s.cluster, t.n_tokens
        |FROM surv s JOIN toks t ON t.doc_id = s.vec_id
        |WHERE t.n_tokens >= 40""".stripMargin,

    "d7_embed_ann" -> bruteForceTopKSql,
    "d8_embed_ivf" -> bruteForceTopKSql,

    "d4_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(list_filter(string_split(trim(lower(text)), ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.tok AS tok_a, b.tok AS tok_b
        |  FROM t a JOIN t b ON b.doc_id = a.doc_id + 1)
        |SELECT id_a, id_b,
        |  len(list_intersect(tok_a, tok_b)) AS jaccard_num,
        |  len(tok_a) + len(tok_b) - len(list_intersect(tok_a, tok_b)) AS jaccard_den
        |FROM p""".stripMargin,

    "d6_embed_topk" -> bruteForceTopKSql,

    "t1_langid" -> TextOracle.langidSql,
    "t2_quality" -> TextOracle.qualitySql,
    "t3_token_count" -> TextOracle.tokenCountSql,
    "t4_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,

    // string_split(text, ' ') matches the kernel's split-keeping-empties
    // contract exactly (verified: 'a  b' → [a,'',b], '' → ['']); DuckDB
    // sum() is HUGEINT → CAST to BIGINT for the type-sensitive compare
    "t5_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wc AS (SELECT doc_id, word, count(*) AS c
        |       FROM (SELECT doc_id, unnest(w) AS word FROM t) GROUP BY 1, 2),
        |ws AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |              count(*) AS n_distinct_words, max(c) AS max_word_count
        |       FROM wc GROUP BY 1),
        |bp AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
        |       FROM t WHERE len(w) > 1),
        |bc AS (SELECT doc_id, w1 || ' ' || w2 AS bg, count(*) AS c FROM bp GROUP BY 1, 2),
        |bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |              count(*) AS n_distinct_bigrams, max(c) AS max_bigram_count
        |       FROM bc GROUP BY 1)
        |SELECT t.doc_id, ws.n_words, ws.n_distinct_words, ws.max_word_count,
        |  CAST(coalesce(bs.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(bs.n_distinct_bigrams, 0) AS BIGINT) AS n_distinct_bigrams,
        |  CAST(coalesce(bs.max_bigram_count, 0) AS BIGINT) AS max_bigram_count
        |FROM t LEFT JOIN ws ON t.doc_id = ws.doc_id LEFT JOIN bs ON t.doc_id = bs.doc_id""".stripMargin,

    // the oracle ranks by the SAME 60-bit md5-prefix hash (cross-engine
    // parity trick shared with the repo's other hash oracles); equality
    // proves the bounded-heap aggregation == a full window sort
    // quota math is all-integer (one correctly-rounded IEEE sqrt), so
    // both engines compute the IDENTICAL per-language quota; the rank is
    // the shared 60-bit hash — green proves bounded-heap == window sort
    // under per-group variable k
    "s2_temperature_sample" ->
      """WITH n AS (SELECT lang, count(*) AS n_g FROM documents GROUP BY 1),
        |w AS (SELECT lang, n_g, CAST(floor(sqrt(n_g)) AS BIGINT) AS w FROM n),
        |q AS (SELECT lang, least(n_g,
        |    CAST((100 * w) // (SELECT CAST(sum(w) AS BIGINT) FROM w) AS BIGINT)) AS quota
        |  FROM w),
        |h AS (SELECT lang, doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh
        |  FROM documents),
        |r AS (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rk FROM h)
        |SELECT r.lang, r.doc_id, r.rk, q.quota
        |FROM r JOIN q USING (lang) WHERE r.rk <= q.quota""".stripMargin,

    "s1_stratified_sample" ->
      """WITH h AS (SELECT source, doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh
        |  FROM documents),
        |r AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rk FROM h)
        |SELECT source, doc_id, rk FROM r WHERE rk <= 5""".stripMargin,

    // same planted bodies, DuckDB's own n-gram construction (string join,
    // not the 60-bit hash) — equality proves the hashed broadcast probe
    // is lossless
    "t6_decontaminate" ->
      """WITH dbod AS (
        |  SELECT doc_id, CASE WHEN doc_id % 16 = 11
        |    THEN text || ' ' || trim(repeat('q' || CAST(doc_id % 5 AS VARCHAR) || ' ', 5))
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 20 <> 7),
        |bbod AS (
        |  SELECT text || ' ' || trim(repeat(CASE WHEN doc_id % 40 = 7 THEN 'q0 ' ELSE 'q2 ' END, 5)) AS text
        |  FROM documents WHERE doc_id % 20 = 7),
        |dsh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(0, greatest(len(toks)-4, 0)),
        |    i -> array_to_string(toks[i+1:i+5], ' ')))) AS ng
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM dbod)),
        |bsh AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(0, greatest(len(toks)-4, 0)),
        |    i -> array_to_string(toks[i+1:i+5], ' ')))) AS ng
        |  FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks FROM bbod)),
        |hits AS (SELECT doc_id, count(*) AS n FROM dsh JOIN bsh USING (ng) GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
        |  coalesce(h.n, 0) >= 1 AS contaminated
        |FROM dbod d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin,

    // DuckDB's RE2 runs the same dialect-intersection patterns and the
    // same email → ipv4 → phone redaction order
    "t7_pii_scrub" ->
      """WITH b AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 2 = 0 THEN ' mail user' || CAST(doc_id % 97 AS VARCHAR) ||
        |      '@m' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' tel 555-' || CAST(doc_id % 900 + 100 AS VARCHAR) ||
        |      '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) ||
        |      '.' || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR) ||
        |      ' up' ELSE '' END AS body
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(body, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(body, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(body, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(body,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g')) AS redacted_md5
        |FROM b""".stripMargin,

    // identical window arithmetic in exact integer microseconds; the sum
    // over the int flag comes back HUGEINT → CAST for the type-sensitive
    // compare
    "st2_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sdf AS (
        |  SELECT user_id, ts, value,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                  ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM o)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM sdf GROUP BY 1, 2""".stripMargin,

    "v1_vocab_topk" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |  FROM documents),
        |c AS (SELECT word, count(*) AS n FROM w WHERE word <> '' GROUP BY 1),
        |r AS (
        |  SELECT 'all' AS corpus, word, CAST(n AS BIGINT) AS n,
        |    row_number() OVER (ORDER BY n DESC, word) AS rk
        |  FROM c)
        |SELECT corpus, word, n, rk FROM r WHERE rk <= 20""".stripMargin,

    "m1_multimodal_meta" ->
      """SELECT doc_id,
        |  octet_length(CAST(text AS BLOB)) AS payload_bytes,
        |  md5(text) AS payload_md5,
        |  octet_length(CAST(text AS BLOB)) % 4 AS stub_channel
        |FROM documents""".stripMargin,

    // the planted image metadata in closed form (Synth.wOf/hOf/fmtOf/
    // captionOf incl. the every-50th dup-source redirect) + the same
    // integer score arithmetic — green proves the engine's header-decode
    // kernels recover exactly what the codecs encoded
    "m2_image_quality" ->
      """WITH meta AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id % 50 = 49 AND doc_id >= 25 THEN doc_id - 25
        |         ELSE doc_id END AS src,
        |    doc_id % 3 AS f, doc_id % 97 <> 0 AS caption_ok
        |  FROM documents),
        |m AS (
        |  SELECT id,
        |    CAST(CASE src % 4 WHEN 0 THEN 8 WHEN 1 THEN 16 WHEN 2 THEN 32
        |         ELSE 64 END AS INTEGER) AS w,
        |    CAST(CASE (src + 1) % 4 WHEN 0 THEN 8 WHEN 1 THEN 16 WHEN 2 THEN 32
        |         ELSE 64 END AS INTEGER) AS h,
        |    CASE f WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'xjpg' END AS fmt,
        |    caption_ok
        |  FROM meta)
        |SELECT id, w, h, fmt, caption_ok,
        |  CAST((CASE WHEN w*h >= 2048 THEN 3 WHEN w*h >= 512 THEN 2 ELSE 1 END) * 1000
        |    + (CASE WHEN greatest(w, h) <= least(w, h) * 4 THEN 500 ELSE 0 END)
        |    + (CASE WHEN fmt = 'png' THEN 2 WHEN fmt = 'xjpg' THEN 1 ELSE 0 END) * 100
        |    + (CASE WHEN caption_ok THEN 50 ELSE 0 END) AS BIGINT) AS quality_fp
        |FROM m""".stripMargin,

    "q2_join_agg" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q3_star_join" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "st1_window_agg" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the redelivered rows are EXACT copies, so DISTINCT * is the dedup;
    // green = the planted double-delivery left no trace in the metrics
    "st6_stream_dedup" ->
      """WITH redelivered AS (
        |  SELECT * FROM events
        |  UNION ALL SELECT * FROM events WHERE event_id % 13 = 5),
        |deduped AS (SELECT DISTINCT * FROM redelivered)
        |SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM deduped GROUP BY 1, 2""".stripMargin,

    // identical inclusive bounds in exact integer microseconds
    "st4_interval_join" ->
      """WITH v AS (
        |  SELECT event_id AS view_id, user_id, ts FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT v.user_id, v.view_id, c.click_id,
        |  epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND epoch_us(c.ts) - epoch_us(v.ts) >= 0
        |  AND epoch_us(c.ts) - epoch_us(v.ts) <= 14400000000""".stripMargin,

    // the native session window's STRICT split rule (>= gap starts a new
    // session; end = last event + gap) as window arithmetic; ts-ties land
    // in one session whatever their order, so ORDER BY ts alone is
    // deterministic for the grouping
    "st3_session_window" ->
      """WITH o AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sdf AS (
        |  SELECT user_id, ts, value,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |                  ROWS UNBOUNDED PRECEDING) AS sn
        |  FROM o)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM sdf GROUP BY user_id, sn""".stripMargin,

    // the planted image metadata's closed form, halved — the thumbnail's
    // decoded header must land exactly there in the SOURCE format
    "m3_thumbnail" ->
      """WITH meta AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id % 50 = 49 AND doc_id >= 25 THEN doc_id - 25
        |         ELSE doc_id END AS src,
        |    doc_id % 3 AS f
        |  FROM documents)
        |SELECT id,
        |  CAST((CASE src % 4 WHEN 0 THEN 8 WHEN 1 THEN 16 WHEN 2 THEN 32
        |        ELSE 64 END) // 2 AS INTEGER) AS thumb_w,
        |  CAST((CASE (src + 1) % 4 WHEN 0 THEN 8 WHEN 1 THEN 16 WHEN 2 THEN 32
        |        ELSE 64 END) // 2 AS INTEGER) AS thumb_h,
        |  CASE f WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'xjpg' END AS thumb_fmt
        |FROM meta""".stripMargin,

    // the uniform-sampling policy (m = min(4, n), idx = t*n // m) and the
    // video fixture's planted per-frame dims/format, both in closed form
    // (through the re-post dup-source indirection — a re-post carries its
    // source's frames, Synth.videoDupSourceOf)
    "m7_frame_sample" ->
      """WITH v AS (SELECT doc_id AS id,
        |  CASE WHEN doc_id % 40 = 39 AND doc_id >= 20 THEN doc_id - 20
        |       ELSE doc_id END AS src FROM documents),
        |v2 AS (SELECT id, src, 3 + src % 6 AS n FROM v),
        |s AS (SELECT id, src, n, CASE WHEN n < 4 THEN n ELSE 4 END AS m FROM v2),
        |f AS (SELECT id, src, n, m, t FROM s, LATERAL (SELECT unnest(range(m)) AS t) g)
        |SELECT id, t, (t * n) // m AS frame_idx,
        |  CAST(CASE (src + 2 * ((t * n) // m)) % 4 WHEN 0 THEN 8 WHEN 1 THEN 16
        |       WHEN 2 THEN 32 ELSE 64 END AS INTEGER) AS frame_w,
        |  CAST(CASE (src + ((t * n) // m) + 1) % 4 WHEN 0 THEN 8 WHEN 1 THEN 16
        |       WHEN 2 THEN 32 ELSE 64 END AS INTEGER) AS frame_h,
        |  CASE (src + ((t * n) // m)) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
        |       ELSE 'xjpg' END AS frame_fmt
        |FROM f""".stripMargin,

    // ground truth of the planted same-content re-posts in closed form
    // (the d10 pattern, video edition): every 40th video re-muxes the
    // frames of the video 20 before it at a different fps — byte-level
    // dedup misses the pair (the container differs), the sampled-frame
    // phash fingerprint must recover it exactly: no more (distinct
    // pixel-seeded clips collide on all 4 sampled 64-bit phashes with
    // probability ~0), no fewer (re-posted frames are bit-identical)
    "d21_video_dedup" ->
      """SELECT doc_id - 20 AS id_a, doc_id AS id_b
        |FROM documents
        |WHERE doc_id % 40 = 39 AND doc_id >= 20""".stripMargin,

    // the audio fixture's planted header fields and square-wave energy
    // closed forms (peak = amp, sum_sq = n·amp²); duration is the same
    // floor division the kernel computes
    "m8_audio_features" ->
      """WITH a AS (
        |  SELECT doc_id AS id,
        |    CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |         WHEN 2 THEN 44100 ELSE 48000 END AS BIGINT) AS sr,
        |    CAST(256 + (doc_id % 7) * 64 AS BIGINT) AS n,
        |    CAST(100 + (doc_id % 50) * 10 AS BIGINT) AS amp
        |  FROM documents)
        |SELECT id, sr AS sample_rate, n AS n_samples,
        |  (n * 1000) // sr AS duration_ms, amp AS peak_abs,
        |  n * amp * amp AS sum_sq
        |FROM a""".stripMargin,

    // same deterministic caption-embedding derivation; the cosine is the
    // d5-proven IEEE-identical left-fold in doubles
    "m6_caption_alignment" ->
      """WITH p AS (
        |  SELECT vec_id, label,
        |    CAST(embedding AS DOUBLE[]) AS v,
        |    CAST(CASE WHEN vec_id % 4 = 0 THEN list_reverse(embedding)
        |         ELSE list_transform(embedding,
        |                e -> CAST(e * CAST(1.001 AS FLOAT) AS FLOAT)) END
        |      AS DOUBLE[]) AS cv
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, label,
        |    list_dot_product(v, cv) /
        |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS alignment
        |  FROM p)
        |SELECT vec_id, label, alignment FROM s WHERE alignment >= 0.28""".stripMargin,

    // DuckDB's NATIVE ASOF LEFT JOIN vs the Spark union+fill-down window —
    // independent algorithms, same inclusive-bound backward semantics
    "st5_asof_join" ->
      """WITH v AS (
        |  SELECT user_id, event_id AS view_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT c.user_id, c.click_id, v.view_id,
        |  CAST(epoch_us(c.click_ts) - epoch_us(v.view_ts) AS BIGINT) AS gap_us
        |FROM c ASOF LEFT JOIN v
        |  ON c.user_id = v.user_id AND c.click_ts >= v.view_ts""".stripMargin,

    // the naive BETWEEN join the binned operator replaces
    "c29_range_lookup" ->
      """WITH r AS (
        |  SELECT p_partkey AS range_id,
        |    p_partkey * 100 AS lo,
        |    p_partkey * 100 + p_partkey % 97 AS hi
        |  FROM part),
        |p AS (
        |  SELECT l_orderkey * 7 + l_linenumber AS point_id,
        |    (l_orderkey * 1000003 + l_linenumber * 7919)
        |      % ((SELECT count(*) FROM part) * 100) AS v
        |  FROM lineitem)
        |SELECT CAST(point_id AS BIGINT) AS point_id, CAST(v AS BIGINT) AS v,
        |  CAST(range_id AS BIGINT) AS range_id
        |FROM p JOIN r ON v BETWEEN lo AND hi""".stripMargin,

    // adjacent-pair counts over the word-frequency table; range(1, len)
    // enumerates pair start offsets 1..len-1 exactly like Spark's
    // sequence(1, length-1)
    "v2_bpe_pairs" ->
      """WITH w0 AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |wc AS (SELECT w, count(*) AS freq FROM w0 WHERE len(w) >= 2 GROUP BY 1),
        |p AS (
        |  SELECT substr(w, CAST(i AS INT), 2) AS pair, sum(freq) AS cnt
        |  FROM wc, unnest(range(1, len(w))) AS t(i)
        |  GROUP BY 1),
        |r AS (
        |  SELECT 'all' AS corpus, pair, CAST(cnt AS BIGINT) AS cnt,
        |    row_number() OVER (ORDER BY cnt DESC, pair) AS rk
        |  FROM p)
        |SELECT corpus, pair, cnt, rk FROM r WHERE rk <= 30""".stripMargin,

    // brute-force argmin over the same quantized integers: d² expands to
    // dot(x,x) − 2·dot(x,c) + dot(c,c) (exact in doubles — quantized
    // components ≤ ~2·10³, dots ≤ ~10⁹ ≪ 2⁵³); tie order (dist, cid)
    // mirrors the struct-least
    "i1_kmeans_assign" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |c AS (SELECT CAST(vec_id AS INT) AS cid, qv AS cv FROM e WHERE vec_id < 16),
        |d AS (
        |  SELECT e.vec_id, c.cid, e.qv[1] AS q0,
        |    list_dot_product(CAST(e.qv AS DOUBLE[]), CAST(e.qv AS DOUBLE[]))
        |      - 2 * list_dot_product(CAST(e.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
        |      + list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(c.cv AS DOUBLE[])) AS dist
        |  FROM e CROSS JOIN c),
        |a AS (
        |  SELECT vec_id, cid, q0,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
        |  FROM d)
        |SELECT cid AS cluster, count(*) AS n, CAST(sum(q0) AS BIGINT) AS sum_q0
        |FROM a WHERE rk = 1 GROUP BY cid""".stripMargin,

    // same hashed-feature model rebuilt from the bucket derivation
    "t8_model_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024 AS bucket
        |  FROM t WHERE tok <> ''),
        |w AS (
        |  SELECT i AS bucket, (i * 2654435761) % 13 - 6 AS wt
        |  FROM range(0, 1024) r(i))
        |SELECT doc_id, CAST(sum(wt) AS BIGINT) AS score,
        |  CASE WHEN sum(wt) > 0 THEN 1 ELSE 0 END AS label
        |FROM h JOIN w USING (bucket) GROUP BY doc_id""".stripMargin,

    // same aggregate straight off parquet — green means the ORC round
    // trip changed nothing
    "c30_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(l_partkey) AS BIGINT) AS sum_partkey
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // same window/stride arithmetic (chunk i = tokens [i·16, i·16+len)),
    // same token list, md5 over the space-rejoined chunk content
    "t9_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    unnest(range(0, (greatest(len(toks) - 32, 0) + 15) // 16 + 1)) AS chunk_no
        |  FROM t)
        |SELECT doc_id, chunk_no,
        |  least(32, n - chunk_no * 16) AS n_chunk_tokens,
        |  md5(array_to_string(
        |    toks[chunk_no * 16 + 1 : chunk_no * 16 + least(32, n - chunk_no * 16)],
        |    ' ')) AS chunk_md5
        |FROM x""".stripMargin,

    "c31_corpus_rollup" -> TextOracle.corpusRollupSql,

    // same integer rank selection ((pct·n+99)//100 == percentile_disc's
    // ceil(q·n) with no float drift), same langid and token count
    "c32_length_quantiles" -> TextOracle.lengthQuantilesSql,

    // update ≡ full recompute: the SAME full-corpus quantile SQL — green
    // proves the touched-language-pruned maintenance path loses nothing
    "k7_quantile_update" -> TextOracle.lengthQuantilesSql,

    // the single-window form the distributed two-pass prefix sum must
    // reproduce bit-identically
    "k5_shard_pack" ->
      s"""WITH t AS (
        |  SELECT doc_id, ${TextOracle.nTokensSql} AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        |  start_offset // 2000 AS shard_id
        |FROM c""".stripMargin,

    // append ≡ one-shot repack: the SAME single-window pack — green
    // proves the stored-total shift reproduces the full prefix sum
    "k6_shard_append" ->
      s"""WITH t AS (
        |  SELECT doc_id, ${TextOracle.nTokensSql} AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        |  start_offset // 2000 AS shard_id
        |FROM c""".stripMargin,

    // update ≡ full re-rank: the SAME one-shot fixed-point PageRank SQL
    // as g2 — green proves the dirty-frontier maintenance loses nothing
    "g5_pagerank_update" -> pagerankOracleSql(iterations = 3),

    // the float-free add-one bigram model, re-derived end to end by the
    // oracle: same tokenization (d17's), same 80/20 doc_id split, same
    // fixed-point surrogate ((c12+1)·10⁶ DIV (c1+V))
    "t11_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(t[1:len(t)-1]) AS w1,
        |    unnest(t[2:len(t)]) AS w2
        |  FROM toks WHERE len(t) >= 2),
        |tr AS (
        |  SELECT w1, w2, count(*) AS c12 FROM bg
        |  WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
        |hist AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM tr GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM
        |        (SELECT w1 AS w FROM tr UNION ALL SELECT w2 FROM tr)),
        |te AS (
        |  SELECT b.doc_id,
        |    ((COALESCE(tr.c12, 0) + 1) * 1000000)
        |      // (COALESCE(hist.c1, 0) + (SELECT v FROM v)) AS p_fp
        |  FROM bg b
        |  LEFT JOIN tr ON b.w1 = tr.w1 AND b.w2 = tr.w2
        |  LEFT JOIN hist ON b.w1 = hist.w1
        |  WHERE b.doc_id % 5 = 0)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(p_fp) AS BIGINT) AS mass_fp,
        |  CAST(CAST(sum(p_fp) AS BIGINT) // count(*) AS BIGINT) AS avg_fp
        |FROM te GROUP BY doc_id""".stripMargin,

    // per-source single-window cumsum in id-hash order — the form the
    // grouped two-pass prefix sum must reproduce bit-identically; same
    // md5-prefix hash for the order and the source weights
    "s4_mixture_sample" ->
      s"""WITH d AS (
        |  SELECT source, doc_id, CAST(${TextOracle.nTokensSql} AS BIGINT) AS n_tokens,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM documents),
        |ww AS (
        |  SELECT source,
        |    CAST('0x' || substr(md5(source), 1, 15) AS BIGINT) % 5 + 1 AS w
        |  FROM (SELECT DISTINCT source FROM documents)),
        |sw AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM ww),
        |q AS (SELECT source,
        |        CAST((20000 * w) // (SELECT sw FROM sw) AS BIGINT) AS quota_tokens
        |      FROM ww),
        |c AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM d)
        |SELECT c.source, c.doc_id, c.n_tokens, c.cum_before, q.quota_tokens
        |FROM c JOIN q ON c.source = q.source
        |WHERE c.cum_before < q.quota_tokens""".stripMargin,

    // planted closed form (the d10 pattern): w/h re-derived from the
    // fixture arithmetic (dims[ds%4] × dims[(ds+1)%4] over the dup-source
    // id), so a green row proves the Spark side DECODED the real payload
    // header to the same dimensions; packing is the per-bucket
    // single-window cumsum the grouped prefix sum must match exactly
    "m5_ar_bucket_pack" ->
      """WITH img AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id % 50 = 49 AND doc_id >= 25
        |         THEN doc_id - 25 ELSE doc_id END AS ds
        |  FROM documents),
        |wh AS (
        |  SELECT id,
        |    ([8,16,32,64])[CAST(ds % 4 AS INT) + 1] AS w,
        |    ([8,16,32,64])[CAST((ds + 1) % 4 AS INT) + 1] AS h
        |  FROM img),
        |b AS (
        |  SELECT id,
        |    CAST(w AS VARCHAR) || 'x' || CAST(h AS VARCHAR) AS bucket,
        |    CAST(w AS BIGINT) * h AS pixels
        |  FROM wh),
        |c AS (
        |  SELECT id, bucket, pixels,
        |    CAST(COALESCE(sum(pixels) OVER (PARTITION BY bucket ORDER BY id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS px_before
        |  FROM b)
        |SELECT id, bucket, pixels, px_before,
        |  px_before // 16384 AS batch_no
        |FROM c""".stripMargin,

    // the whole delivery chain, re-derived by the oracle as nested
    // single-window forms: quota selection → hash permutation → pack
    "e7_training_mix" ->
      s"""WITH d AS (
        |  SELECT source, doc_id, CAST(${TextOracle.nTokensSql} AS BIGINT) AS n_tokens,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM documents),
        |ww AS (
        |  SELECT source,
        |    CAST('0x' || substr(md5(source), 1, 15) AS BIGINT) % 5 + 1 AS w
        |  FROM (SELECT DISTINCT source FROM documents)),
        |sw AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM ww),
        |q AS (SELECT source,
        |        CAST((20000 * w) // (SELECT sw FROM sw) AS BIGINT) AS quota_tokens
        |      FROM ww),
        |c AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
        |  FROM d),
        |sel AS (
        |  SELECT c.source, c.doc_id, c.n_tokens,
        |    CAST('0x' || substr(md5(CAST(c.doc_id AS VARCHAR) || ':7'), 1, 15) AS BIGINT) AS h2
        |  FROM c JOIN q ON c.source = q.source
        |  WHERE c.cum < q.quota_tokens),
        |rk AS (
        |  SELECT source, doc_id, n_tokens,
        |    row_number() OVER (ORDER BY h2, doc_id) AS rk
        |  FROM sel)
        |SELECT source, doc_id, n_tokens, rk,
        |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY rk
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // 2000 AS shard_id
        |FROM rk""".stripMargin,

    // the single-window global permutation the two-pass rank must match
    "k11_epoch_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 15) AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id,
        |  row_number() OVER (ORDER BY h, doc_id) AS rk,
        |  (row_number() OVER (ORDER BY h, doc_id) - 1) % 16 AS shard
        |FROM h""".stripMargin
  )

  /** Rank-selection quantiles (the c32 core, reused by k7's maintenance
    * path): exact per-group p25/50/75/90 of `n_tokens` over
    * (pred_lang, n_tokens, doc_id) rows — one globalRank (language spans
    * are contiguous because pred_lang leads the key), a tiny per-language
    * (base, n) aggregate expanded to integer target ranks, and the value
    * at each target back via a broadcast join on the globally-unique
    * rank. See the c32 entry for why neither `percentile()` nor a
    * per-language window survives 10^10 rows. */
  /** Eagerly materialize a BOUNDED result (quantile tables: ≤ langs×4
    * rows) into a local relation, so the caller's try/finally can release
    * the persisted input the plan depends on before returning. */
  private def tinyResult(s: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** [[tinyResult]] over the bag-union of two independent bounded legs,
    * collected CONCURRENTLY from two driver threads (guide §2.6): each
    * leg plans and runs as its own (much smaller) query, and the slow
    * leg's stages back-fill cores the fast leg frees. Spark actions are
    * thread-safe per session; `b` is read by `a`'s column names, so the
    * combined row multiset is exactly `a.unionByName(b)`'s. */
  private[graft] def tinyResult2(s: SparkSession, a: DataFrame, b: DataFrame): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(a.collect())
    val fb = Future(b.select(a.columns.map(b(_)): _*).collect())
    val rows = Await.result(fa, Duration.Inf) ++ Await.result(fb, Duration.Inf)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), a.schema)
  }

  /** Plan-dump hook: the c32/k7 entries eagerly materialize their bounded
    * result (so their returned relation is a LocalTableScan); this exposes
    * the underlying distributed rank-selection plan for PLANS.md. */
  def lengthQuantilesPlan(s: SparkSession, dir: String): DataFrame =
    quantilesByRank(Fixture.documents(s, dir).select(
      TextAnalysis.langId(col("text")).as("pred_lang"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      col("doc_id")))

  private def quantilesByRank(d: DataFrame): DataFrame = {
    val ranked = graft.sched.Scheduler.globalRank(d,
      Seq(col("pred_lang"), col("n_tokens"), col("doc_id")), "grk")
    // Rank targets WITHOUT a second execution of the ranked frame: grk is
    // a bijection onto 1..N following (pred_lang, …) order, so each
    // language's min(grk) = 1 + Σ counts of preceding languages — a
    // map-side-partial count per language + a prefix sum over the tiny
    // language table replaces re-running the whole two-pass rank (the
    // ranked frame previously had two consumers and no cache, so the
    // corpus shuffle + window ran twice per call — guide §2.4).
    val wOff = Window.orderBy(col("__tlang"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val targets = d.groupBy(col("pred_lang").as("__tlang"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__base", lit(1L) + coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("__tlang"), col("__base"), col("__n"),
        explode(typedlit(Seq(25L, 50L, 75L, 90L))).as("pct"))
      .withColumn("__tgt", col("__base") + expr("(pct * __n + 99) DIV 100") - 1)
    ranked.join(broadcast(targets), col("grk") === col("__tgt"))
      .select(col("pred_lang"), col("pct"), col("n_tokens").as("v"))
  }
}

/** DuckDB twin of the d3 simhash: the SAME 60-bit md5-prefix token hash,
  * per-bit ±1 majority, packed signature, brute-force all-pairs hamming —
  * generated mechanically (one CASE per bit) like [[TextOracle]]. */
object SimhashOracle {
  /** `h AS …, s AS …` CTE text deriving (doc_id, sig) — the 60-bit
    * signature shared by the self-join oracle (d3), the component edges
    * (d9/e1), and the band-store cross probe (d11). */
  def sigCteFor(table: String): String = {
    val bits = 60
    val sigTerms = (0 until bits).map { b =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n    + ")
    s"""h AS (
       |  SELECT doc_id, list_transform(string_split_regex(trim(lower(text)), '\\s+'),
       |    t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs
       |  FROM $table),
       |s AS (SELECT doc_id,
       |    $sigTerms
       |  AS sig FROM h)""".stripMargin
  }

  def sqlFor(table: String): String =
    s"""WITH ${sigCteFor(table)}
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 6""".stripMargin

  /** Brute-force CROSS pairs (store rows × batch rows, disjoint by the
    * given predicates) within `maxHamming` — the d11 band-store oracle. */
  def crossSqlFor(table: String, storePred: String, batchPred: String,
      maxHamming: Int): String =
    s"""WITH ${sigCteFor(table)}
       |SELECT a.doc_id AS store_id, b.doc_id AS batch_id,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |FROM s a JOIN s b ON ($storePred) AND ($batchPred)
       |WHERE bit_count(xor(a.sig, b.sig)) <= $maxHamming""".stripMargin

  val sql: String = sqlFor("documents")
}

/** DuckDB twins of the TextAnalysis Column expressions — kept mechanical:
  * same length-difference occurrence counts, same constants. */
object TextOracle {
  private def occ(expr: String, pat: String): String =
    s"CAST((length($expr) - length(replace($expr, '$pat', ''))) / ${pat.length} AS BIGINT)"

  private def scoreSql(lang: String): String = {
    val markers = graft.ops.TextAnalysis.langMarkers(lang)
    markers.map(m => occ("concat(' ', lower(text), ' ')", m)).mkString("(", " + ", ")")
  }

  private val langs = graft.ops.TextAnalysis.langMarkers.keys.toSeq.sorted
  private val scoreCols = langs.map(l => s"${scoreSql(l)} AS score_$l").mkString(",\n  ")
  // argmax with alphabetical-first tie-break == the Scala reduce order
  private val predLangExpr = langs.tail.foldLeft(
      s"struct_pack(s := score_${langs.head}, l := '${langs.head}')") {
    (acc, l) => s"(CASE WHEN score_$l > ($acc).s THEN struct_pack(s := score_$l, l := '$l') ELSE $acc END)"
  }

  val langidSql: String =
    s"""WITH scored AS (SELECT doc_id,
       |  $scoreCols
       |FROM documents)
       |SELECT doc_id, score_en, score_de, score_es, score_fr,
       |  ($predLangExpr).l AS pred_lang
       |FROM scored""".stripMargin

  private val normTextSql = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
  private val tokenCountSql0 =
    s"CASE WHEN length($normTextSql) = 0 THEN 0 ELSE ${occ(normTextSql, " ")} + 1 END"

  /** TextAnalysis.tokenCount's DuckDB twin, for oracles that embed a
    * per-doc token count (k5). */
  val nTokensSql: String = tokenCountSql0

  def qualitySqlFor(table: String): String = {
    val toks = tokenCountSql0
    val punct = s"(${occ("text", ".")} + ${occ("text", ",")} + ${occ("text", "!")})"
    // literals cast to DOUBLE: a bare 0.4 is DECIMAL in DuckDB but DOUBLE
    // in Spark, and the decimal sum would round differently
    s"""SELECT doc_id, $toks AS n_tokens,
       |  round(
       |    (CASE WHEN length(text) >= 32 AND length(text) <= 100000 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) +
       |    (CASE WHEN $toks >= 5 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) +
       |    (CASE WHEN CAST($punct AS DOUBLE) / greatest(CAST($toks AS DOUBLE), CAST(1.0 AS DOUBLE)) <= CAST(0.3 AS DOUBLE) THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
       |  , 1) AS quality
       |FROM $table""".stripMargin
  }

  val qualitySql: String = qualitySqlFor("documents")

  val tokenCountSql: String = {
    val chars = "length(regexp_replace(text, '\\s+', '', 'g'))"
    val sub = s"greatest($tokenCountSql0, CAST(ceil(CAST($chars AS DOUBLE) / 4.0) AS BIGINT))"
    // CAST the sums: DuckDB sum(BIGINT) yields HUGEINT (int128) while Spark
    // yields LONG — a type-sensitive comparison fails on equal values.
    s"""WITH pertoks AS (SELECT source, $tokenCountSql0 AS n_tokens, $sub AS n_subwords FROM documents)
       |SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(sum(n_subwords) AS BIGINT) AS total_subwords,
       |  count(*) AS n_docs
       |FROM pertoks GROUP BY source""".stripMargin
  }

  /** The c31 twin: ROLLUP over (pred_lang, size_tier) with GROUPING()
    * flags — same langid argmax, same tier cut points, same token count. */
  val corpusRollupSql: String =
    s"""WITH scored AS (SELECT doc_id, text,
       |  $scoreCols
       |FROM documents),
       |enriched AS (SELECT
       |  ($predLangExpr).l AS pred_lang,
       |  CASE WHEN length(text) < 150 THEN 'short'
       |       WHEN length(text) < 400 THEN 'medium'
       |       ELSE 'long' END AS size_tier,
       |  $tokenCountSql0 AS n_tokens
       |FROM scored)
       |SELECT pred_lang, size_tier,
       |  CAST(GROUPING(pred_lang) AS BIGINT) AS g_lang,
       |  CAST(GROUPING(size_tier) AS BIGINT) AS g_tier,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM enriched GROUP BY ROLLUP(pred_lang, size_tier)""".stripMargin

  /** The c32 twin: per-language exact quantiles by integer rank selection —
    * the single-window form of the engine's distributed rank; the rank
    * formula (pct·n+99)//100 equals percentile_disc's ceil(q·n). */
  val lengthQuantilesSql: String =
    s"""WITH scored AS (SELECT doc_id, text,
       |  $scoreCols
       |FROM documents),
       |t AS (SELECT doc_id,
       |  ($predLangExpr).l AS pred_lang,
       |  $tokenCountSql0 AS n_tokens
       |FROM scored),
       |r AS (SELECT pred_lang, n_tokens,
       |  row_number() OVER (PARTITION BY pred_lang ORDER BY n_tokens, doc_id) AS rk,
       |  count(*) OVER (PARTITION BY pred_lang) AS n
       |FROM t)
       |SELECT pred_lang, pct, n_tokens AS v
       |FROM r JOIN (SELECT unnest([25,50,75,90]) AS pct) q
       |  ON rk = (pct * n + 99) // 100""".stripMargin
}
