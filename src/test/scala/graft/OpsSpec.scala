package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Semantic tests for the training-data operators: planted duplicates
  * must be found, ANN must approximate brute force, heuristics must move
  * in the right direction. */
class OpsSpec extends SparkSpec {

  private def docsWithDups = {
    import spark.implicits._
    val base = (0 until 200).map { i =>
      val words = (0 until 20).map(w => s"w${graft.imagecodec.ImageCodec.mix64(i * 31L + w) % 500}")
      (i.toLong, words.mkString(" "))
    }
    // plant near-dups: docs 1000+i = doc i with ONE word changed
    val nearDups = (0 until 20).map { i =>
      val words = (0 until 20).map(w => if (w == 7) "CHANGED" else s"w${graft.imagecodec.ImageCodec.mix64(i * 31L + w) % 500}")
      (1000L + i, words.mkString(" "))
    }
    (base ++ nearDups).toDF("doc_id", "text")
  }

  test("minhash LSH + jaccard verify recovers planted near-duplicates") {
    val d = docsWithDups
    val cands = Dedup.minhashLshCandidates(d, "text", "doc_id", k = 3, numBands = 8, rowsPerBand = 2)
    val verified = Dedup.jaccardVerify(d, cands.select("id_a", "id_b"), "text", "doc_id", k = 3)
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 20).map(i => (i.toLong, 1000L + i)).toSet
    val found = expected.intersect(verified)
    assert(found.size >= 16, s"LSH recall too low: ${found.size}/20 (got ${verified.size} pairs)")
    // precision: no pair of unrelated base docs should pass jaccard 0.5
    assert(verified.forall { case (a, b) => b - a == 1000 || a - b == 1000 },
      s"false positives: ${verified.filterNot { case (a, b) => (b - a).abs == 1000 }}")
  }

  test("simhash candidates recover planted near-duplicates at small hamming") {
    val d = docsWithDups
    val got = Dedup.simhashCandidates(d, "text", "doc_id", maxHamming = 12, numBands = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 20).map(i => (i.toLong, 1000L + i)).toSet
    assert(expected.intersect(got).size >= 16, s"simhash recall: ${expected.intersect(got).size}/20")
  }

  test("short and empty documents survive the shingle path (no ANSI slice crash)") {
    import spark.implicits._
    // docs with fewer than k tokens used to make sequence(0, n-1) emit the
    // DESCENDING range [0,-1] and slice(_, 0, _) throw in ANSI mode
    val d = Seq((1L, ""), (2L, "one"), (3L, "one two"),
      (4L, "alpha beta gamma delta"), (5L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val cands = Dedup.minhashLshCandidates(d, "text", "doc_id", k = 3)
    val verified = Dedup.jaccardVerify(d, cands.select("id_a", "id_b"), "text", "doc_id", k = 3)
      .filter(col("jaccard") >= 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified == Set((4L, 5L))) // short docs pass through, dup still found
  }

  test("exact dedup groups identical texts only") {
    import spark.implicits._
    val d = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val groups = Dedup.exact(d, "text", "doc_id").collect()
    assert(groups.length == 2)
    val dup = groups.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("ANN topK approximates brute-force topK (recall@10 over planted queries)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(emb, queries, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // multi-probe budget (hamming ≤ 3 of 4 planes = 15/16 buckets): a
    // working index must recover ≥90% of the true top-10. Uniform-random
    // vectors are the adversarial case for LSH (true neighbors are not
    // close), so the budget needed for 0.9 here is near-exhaustive; real
    // near-dup workloads (planted-clone tests below and in d5) reach
    // recall 1.0 at hamming-0 budgets.
    val ann = Similarity.annTopK(emb, queries, 10, planes = 4, probeHamming = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = bf.intersect(ann).size.toDouble / bf.size
    assert(recall >= 0.9, s"ANN recall@10 = $recall (planes=4, probeHamming=3)")
    // tighter budget (own bucket + hamming-1 = 5/16) still finds a useful
    // fraction — the budget/recall gradient is monotone
    val annTight = Similarity.annTopK(emb, queries, 10, planes = 4, probeHamming = 1).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recallTight = bf.intersect(annTight).size.toDouble / bf.size
    assert(recallTight >= 0.3 && recallTight <= recall,
      s"tight-budget recall@10 = $recallTight (planes=4, probeHamming=1)")
    // exact-match sanity: a scaled copy of the query must rank #1 by cosine
    import spark.implicits._
    val q0 = emb.filter(col("vec_id") === 0)
    val clone = q0.select(lit(99999L).as("vec_id"),
      transform(col("embedding"), e => e * lit(2.0f)).as("embedding"), lit(0).as("label"))
    val top1 = Similarity.bruteForceTopK(emb.select("vec_id", "embedding").union(clone.select("vec_id", "embedding")), q0, 1)
      .collect().head
    assert(top1.getAs[Long]("neighbor_id") == 99999L)
    assert(math.abs(top1.getAs[Double]("cos") - 1.0) < 1e-9)
  }

  test("IVF ANN: planted clone found at rank 1; recall vs brute force reasonable") {
    import graft.ops.Ivf
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    // plant: a positively-scaled clone of vec 0 (same direction, same IVF
    // cell after refinement stays nearest) must be its top cosine neighbor
    val clone = emb.filter(col("vec_id") === 0)
      .select(lit(77777L).as("vec_id"),
        transform(col("embedding"), e => e * lit(1.5f)).as("embedding"))
    val corpus = emb.union(clone)
    val q0 = emb.filter(col("vec_id") === 0)
    val ivf = Ivf.topK(corpus, q0, k = 10, nlist = 8, nprobe = 3)
    val top = ivf.orderBy("rk").collect()
    assert(top.head.getAs[Long]("neighbor_id") == 77777L)
    assert(math.abs(top.head.getAs[Double]("cos") - 1.0) < 1e-9)
    // recall@10 vs brute force over 5 queries
    val queries = emb.filter(col("vec_id") < 5)
    val bf = graft.ops.Similarity.bruteForceTopK(emb, queries, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // a working index: probing 5 of 8 lists must recover ≥90% of the true
    // top-10; the tighter 3-list budget stays useful and monotone below it
    val got5 = Ivf.topK(emb, queries, 10, nlist = 8, nprobe = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall5 = bf.intersect(got5).size.toDouble / bf.size
    assert(recall5 >= 0.9, s"IVF recall@10 = $recall5 (nprobe 5 of 8 lists)")
    val got3 = Ivf.topK(emb, queries, 10, nlist = 8, nprobe = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall3 = bf.intersect(got3).size.toDouble / bf.size
    assert(recall3 >= 0.3 && recall3 <= recall5, s"IVF recall@10 = $recall3 (nprobe 3 of 8 lists)")
  }

  test("ANN scale path: cluster id as write-time partition column → probes are partition-pruned I/O") {
    import graft.ops.Ivf
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val cents = Ivf.train(emb, nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivfstore").toString + "/t"
    Ivf.assign(emb, cents).write.partitionBy("cluster").parquet(dir)
    val probed = spark.read.parquet(dir).filter(col("cluster").isin(1, 3, 5))
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    // the probe reads ONLY the probed clusters' files — a partition filter
    // at the scan, not a post-scan filter over the whole corpus
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"no partition pruning in:\n${plan.take(1500)}")
    val scanned = probed.select(countDistinct(col("cluster"))).head().getLong(0)
    assert(scanned == 3)
  }

  test("vec_dot raises on ragged arrays instead of silently truncating") {
    import spark.implicits._
    val d = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val e = intercept[Exception] {
      d.select(graft.functions.graftfns.vecDot(col("a"), col("b"))).collect()
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ causes(t.getCause)
    assert(causes(e).exists(_.contains("length mismatch")), s"unexpected error: $e")
  }

  test("language-ID picks the language whose markers dominate") {
    import spark.implicits._
    val d = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der Hund und die Katze und der Vogel"),
      (3L, "el gato y los perros y el raton")).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "es")
  }

  test("quality score: empty/short text scores lower than real text") {
    import spark.implicits._
    val d = Seq((1L, ""), (2L, "word"), (3L, "a reasonable sentence with several words and a period."))
      .toDF("doc_id", "text")
    val q = d.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(3L) > q(2L) && q(2L) >= q(1L))
  }

  test("token counts: whitespace runs collapse, empty is zero") {
    import spark.implicits._
    val d = Seq((1L, "a  b\t c"), (2L, ""), (3L, "  ")).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 0L, 3L -> 0L))
  }

  test("repetition_stats: exact metrics incl. split-keeping-empties parity edges") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a a"),  // 3 words, 1 distinct, max 3; bigrams "a a"×2
      (2L, "x"),      // single word, no bigrams
      (3L, ""),       // DuckDB string_split('') = [''] → ONE (empty) word
      (4L, "a  b"),   // adjacent spaces keep the empty middle token
      (5L, "p q p q p")) // bigrams: "p q"×2, "q p"×2 → max 2, distinct 2
      .toDF("doc_id", "text")
    val got = d.select(col("doc_id"), graft.functions.graftfns.repetitionStats(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(got(1L) == Seq(3L, 1L, 3L, 2L, 1L, 2L))
    assert(got(2L) == Seq(1L, 1L, 1L, 0L, 0L, 0L))
    assert(got(3L) == Seq(1L, 1L, 1L, 0L, 0L, 0L))
    assert(got(4L) == Seq(3L, 3L, 1L, 2L, 2L, 1L))
    assert(got(5L) == Seq(5L, 2L, 3L, 4L, 2L, 2L))
  }

  test("stratified sample: bounded-heap aggregator == window rank; no Window in its plan") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 3 groups with sizes 1, 4, 120 (one far above k — the hot group a
    // window rank would sort in one task)
    val rows = Seq((0L, "tiny")) ++ (1L to 4L).map((_, "mid")) ++ (5L to 124L).map((_, "hot"))
    val df = rows.toDF("doc_id", "source")
    val k = 5
    val got = graft.ops.Sampling.stratifiedSample(df, "source", "doc_id", k)
    // row-equal to the window-rank formulation over the same hash
    val w = Window.partitionBy(col("source"))
      .orderBy(graft.ops.Sampling.idHash(col("doc_id")), col("doc_id"))
    val expect = df.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
      .select(col("source"), col("doc_id"), col("rk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val gotSet = got.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotSet == expect,
      s"sample diverged: ${(gotSet diff expect).take(3)} / ${(expect diff gotSet).take(3)}")
    // per-group sizes: min(k, |group|)
    val sizes = got.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("tiny" -> 1L, "mid" -> 4L, "hot" -> 5L))
    // scale contract: the aggregation plan has no Window (no per-group full sort)
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "stratified sample must not plan a window sort")
  }

  test("temperature sample: sqrt-flattened integer quotas, capped at group size") {
    import spark.implicits._
    // skewed corpus: 100 "en", 16 "de", 4 "fr" → w = 10, 4, 2 (Σ 16);
    // kTotal 32 → quotas 20, 8, 4 — en falls from 83% of the corpus to
    // 62.5% of the mix; fr's quota (4) hits its own size cap exactly
    val rows = (0L until 100L).map((_, "en")) ++
      (100L until 116L).map((_, "de")) ++ (116L until 120L).map((_, "fr"))
    val got = graft.ops.Sampling.temperatureSample(
      rows.toDF("doc_id", "lang"), "lang", "doc_id", kTotal = 32)
    val sizes = got.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("en" -> 20L, "de" -> 8L, "fr" -> 4L), s"quotas: $sizes")
    // selection within a group = the k lowest id-hashes (same order as s1)
    val gotEn = got.filter(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val expectEn = rows.toDF("doc_id", "lang").filter(col("lang") === "en")
      .select(col("doc_id"), graft.ops.Sampling.idHash(col("doc_id")).as("h"))
      .orderBy(col("h"), col("doc_id")).limit(20)
      .collect().map(_.getLong(0)).toSet
    assert(gotEn == expectEn)
    // scale contract: still no window sort anywhere in the plan
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "temperature sample must not plan a window sort")
  }

  test("span scrub removes exactly the tokens covered by cross-doc duplicated k-grams") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e x"),     // 5-gram "a b c d e" also in doc 2 → scrub pos 0-4
      (2L, "z a b c d e"),     // → scrub pos 1-5, survivor "z"
      (3L, "p q r s t u"),     // unique 5-grams → untouched
      (4L, "a b c d e"),       // all tokens covered → empty survivor
      (5L, "short doc")        // < k tokens → no grams, untouched
    ).toDF("doc_id", "text")
    val got = Dedup.spanScrub(df, "text", "doc_id", k = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) == ((6L, 5L, m("x"))))
    assert(got(2L) == ((6L, 5L, m("z"))))
    assert(got(3L) == ((6L, 0L, m("p q r s t u"))))
    assert(got(4L) == ((5L, 5L, m(""))))
    assert(got(5L) == ((2L, 0L, m("short doc"))))
    // a WITHIN-doc repeat alone is not a duplicated span (distinct-doc ≥ 2)
    val solo = Dedup.spanScrub(
      Seq((7L, "r r r r r r r r r r")).toDF("doc_id", "text"), "text", "doc_id", k = 5)
      .collect()(0)
    assert(solo.getLong(2) == 0L && solo.getString(3) == m("r r r r r r r r r r"))
  }

  test("scrubbedText is exactly the text spanScrub fingerprints (shared cover)") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e x"), (2L, "z a b c d e"), (3L, "p q r s t u"),
      (4L, "a b c d e"), (5L, "short doc")
    ).toDF("doc_id", "text")
    val texts = Dedup.scrubbedText(df, "text", "doc_id", k = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts == Map(1L -> "x", 2L -> "z", 3L -> "p q r s t u", 4L -> "", 5L -> "short doc"))
    val md5s = Dedup.spanScrub(df, "text", "doc_id", k = 5)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    texts.foreach { case (id, t) => assert(md5s(id) == m(t), s"doc $id diverged") }
  }

  /** Single-node reference BPE trainer (Sennrich-style, same tie-break:
    * freq DESC then pair lexicographic ASC) — the oracle for the
    * distributed loop, since the round-on-round recursion has no SQL. */
  private def refBpe(corpus: Seq[String], n: Int): Seq[(Long, String, String, Long)] = {
    val words = corpus.flatMap(_.trim.toLowerCase.split("\\s+"))
      .filter(_.length >= 2)
      .groupBy(identity).map { case (w, ws) => (w.map(_.toString).toArray, ws.size.toLong) }
    var vocab = words.toVector
    val out = Vector.newBuilder[(Long, String, String, Long)]
    var rank = 1L
    var done = false
    while (rank <= n && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.minBy { case ((a, b), cc) => (-cc, a, b) }
        out += ((rank, l, r, c))
        vocab = vocab.map { case (syms, f) => (graft.ops.Bpe.applyMerge(syms, l, r), f) }
        rank += 1
      }
    }
    out.result()
  }

  test("BPE training: distributed merge table == single-node reference, merges chain") {
    import spark.implicits._
    // deterministic corpus with enough repetition that merges CHAIN
    // (later merges consume earlier merged symbols → multi-char subwords)
    val corpus = (0 until 120).map { i =>
      val w = Seq("lower", "lowest", "newer", "newest", "wider", "low", "new")
      (0 until 6).map(j => w((i * 7 + j * 3) % w.length)).mkString(" ")
    }
    val got = graft.ops.Bpe.train(corpus.toDF("text"), "text", numMerges = 12)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    val expect = refBpe(corpus, 12)
    assert(got == expect, s"merge tables diverged:\n got=$got\n exp=$expect")
    // the learned table must contain at least one chained merge — a lhs or
    // rhs that is itself a multi-char product of an earlier merge
    assert(got.exists { case (_, l, r, _) => l.length > 1 || r.length > 1 },
      s"no chained merges learned: $got")
    // left-to-right non-overlapping application: "aaa" under (a,a) → [aa, a]
    assert(graft.ops.Bpe.applyMerge(Array("a", "a", "a"), "a", "a").toSeq == Seq("aa", "a"))
  }

  test("BPE encode: distributed == reference replay; subwords losslessly rebuild each word") {
    import spark.implicits._
    val corpus = (0 until 80).map { i =>
      val w = Seq("lower", "lowest", "newer", "newest", "wider", "low", "new")
      (0 until 5).map(j => w((i * 5 + j * 2) % w.length)).mkString(" ")
    }
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = graft.ops.Bpe.train(docs, "text", numMerges = 10)
    val got = graft.ops.Bpe.encode(docs, "text", "doc_id", merges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // reference: the same rank-order replay, single-node
    val table = refBpe(corpus, 10).map { case (_, l, r, _) => (l, r) }
    def encWord(w: String): Seq[String] = {
      var syms = w.map(_.toString).toArray
      table.foreach { case (l, r) => if (syms.length > 1) syms = graft.ops.Bpe.applyMerge(syms, l, r) }
      syms.toSeq
    }
    corpus.zipWithIndex.foreach { case (t, i) =>
      val subs = t.trim.toLowerCase.split("\\s+").toSeq.flatMap(encWord)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(subs.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(got(i.toLong) == ((subs.length.toLong, md)), s"doc $i diverged")
      // lossless: concatenating a word's subwords rebuilds the word
      t.trim.toLowerCase.split("\\s+").foreach { w =>
        assert(encWord(w).mkString == w, s"lossy encode of '$w': ${encWord(w)}")
      }
    }
    // the trained table actually compresses: fewer subwords than chars
    val totalSubs = got.values.map(_._1).sum
    val totalChars = corpus.map(_.count(_ != ' ')).sum
    assert(totalSubs < totalChars, s"no compression: $totalSubs subwords vs $totalChars chars")
  }

  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Min-rooted union-find reference for [[Dedup.connectedComponents]]:
    * every endpoint of a non-self pair, labelled with its component's min
    * (parent(max root) = min root keeps every root its component's min). */
  private def unionFindRef(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val real = pairs.filter { case (a, b) => a != b }
    real.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    real.flatMap { case (a, b) => Seq(a, b) }.distinct.map(n => n -> find(n)).toMap
  }

  test("connected components: A~B, B~C collapse transitively even though A≁C") {
    // the pair set a banded LSH emits when A,C never share a bucket
    val got = components(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: star-merging, duplicate/reversed/self pairs, empty input") {
    // two stars joined by one bridge edge; noisy input: reversed duplicates
    // and a self-pair must not perturb anything
    val pairs = Seq((5L, 1L), (5L, 2L), (9L, 7L), (9L, 8L), (2L, 7L),
      (1L, 5L), (5L, 5L), (5L, 1L))
    val got = components(pairs)
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 1L, 8L -> 1L, 9L -> 1L))
    assert(components(Seq.empty).isEmpty)
  }

  test("connected components: long path converges within the O(log² n) round bound") {
    // a 200-node path is the diameter worst case — plain min-label
    // propagation would need ~200 rounds; large-star/small-star must land
    // well inside a tight budget (maxIter=12 ≫ log²(200)/const but ≪ 200)
    val path = (0L until 199L).map(i => (i, i + 1))
    import spark.implicits._
    val got = Dedup.connectedComponents(path.toDF("id_a", "id_b"), maxIter = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  test("connected components: mixed graph matches hand labels and union-find") {
    // two bridged stars, a 3-chain and a lone pair in one pair set
    val pairs = Seq((5L, 1L), (5L, 2L), (9L, 7L), (9L, 8L), (2L, 7L),
      (30L, 31L), (31L, 32L), (40L, 41L))
    val got = components(pairs)
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 1L, 8L -> 1L, 9L -> 1L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 40L -> 40L, 41L -> 40L))
    assert(got == unionFindRef(pairs))
  }

  test("connected components: 5k-neighbour hub plus a long chain matches union-find") {
    // the hub's star is one window group of 5000 rows in every round; the
    // chain (diameter 300) joins the hub's component through a leaf, and
    // a second chain stays a separate component
    val hub = 3000L
    val spokes = ((0L until hub) ++ ((hub + 1) to 5000L)).map(n => (hub, n))
    val joined = (6000L until 6300L).map(i => (i, i + 1)) :+ ((6300L, 4999L))
    val apart = (7000L until 7100L).map(i => (i + 1, i))
    val pairs = spokes ++ joined ++ apart
    val got = components(pairs)
    assert(got == unionFindRef(pairs))
    assert(got.size == 5001 + 301 + 101)
    assert(got.values.toSet == Set(0L, 7000L))
  }

  test("collapseNearDups keeps one survivor per cluster and every untouched row") {
    import spark.implicits._
    val docs = (1L to 8L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (6L, 7L)).toDF("id_a", "id_b")
    val kept = Dedup.collapseNearDups(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // clusters {1,2,3}→1 and {6,7}→6; 4,5,8 never paired → all kept
    assert(kept == Set(1L, 4L, 5L, 6L, 8L))
  }

  test("semantic dedup: within-cluster τ-similar collapse keeps per-neighborhood minima") {
    import spark.implicits._
    def axis(dir: Int, scale: Float, jitter: Float): Seq[Float] =
      (0 until 8).map(i => if (i == dir) scale else if (i == (dir + 1) % 8) jitter else 0f)
    val rows = Seq(
      (0L, axis(0, 1f, 0f)),
      (1L, axis(0, 2f, 0f)),    // same direction as id 0 (cos = 1) → dropped
      (2L, axis(0, 1f, 1f)),    // same cluster, cos = 1/√2 < 0.95 → survives
      (10L, axis(3, 1f, 0f)),
      (11L, axis(3, 3f, 0.01f)), // cos ≈ 1 with id 10 → dropped
      (20L, axis(6, 1f, 0f)))    // lone cluster member → survives
    val df = rows.toDF("vec_id", "embedding")
    val cents = Seq(
      (0, Seq.fill(8)(0.0).updated(0, 1.0)),
      (1, Seq.fill(8)(0.0).updated(3, 1.0)),
      (2, Seq.fill(8)(0.0).updated(6, 1.0)))
    val out = Dedup.semanticDedup(df, "vec_id", "embedding", cents, 0.95)
    val got = out.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got.keySet == Set(0L, 2L, 10L, 20L), s"survivors: $got")
    assert(got(0L) == 0 && got(2L) == 0 && got(10L) == 1 && got(20L) == 2)
    // the pairwise pass is an equi-join on the cluster key — never a
    // cross product, so cost is Σ|cluster|², not |corpus|²
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("semantic dedup greedy chain: a~b, b~c with a≁c leaves only the minimum") {
    import spark.implicits._
    // three unit vectors in the (0,1)-plane at 0°, 17°, 34°: adjacent
    // cosines ≈ 0.956 ≥ τ, end-to-end ≈ 0.829 < τ. The policy drops any
    // row with a τ-similar SMALLER id in its cluster: b drops via a,
    // c drops via b (even though a≁c) — the greedy SemDeDup prune, not
    // a transitive-closure collapse (that is d9's job on pair graphs).
    def at(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat) ++ Seq.fill(6)(0f)
    }
    val df = Seq((1L, at(0)), (2L, at(17)), (3L, at(34))).toDF("vec_id", "embedding")
    val cents = Seq((0, Seq.fill(8)(0.0).updated(0, 1.0)))
    val got = Dedup.semanticDedup(df, "vec_id", "embedding", cents, 0.95)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L), s"survivors: $got")
  }

  test("semantic dedup incremental fold ≡ one-shot, incl. suppression by stored DROPPED rows") {
    import spark.implicits._
    // pseudo-random unit-ish vectors in a 2-plane per cluster so τ-similar
    // pairs occur both within the stored half and across the split; ids
    // are monotone across the split (the crawl-batch posture the fold
    // requires). Includes the adversarial case: a stored row that was
    // DROPPED must still suppress a later τ-similar batch row.
    def vec(i: Long): Seq[Float] = {
      val h = graft.imagecodec.ImageCodec.mix64(i * 37L + 5L)
      val angle = math.toRadians((h % 12L).toDouble * 8.0) // 12 directions, 8° apart
      val plane = 2 * ((i % 3L).toInt) // clusters live on planes (0,1),(2,3),(4,5)
      Seq.tabulate(8)(d =>
        if (d == plane) math.cos(angle).toFloat
        else if (d == plane + 1) math.sin(angle).toFloat else 0f)
    }
    val all = (0L until 120L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val cents = Seq(
      (0, Seq.fill(8)(0.0).updated(0, 1.0)),
      (1, Seq.fill(8)(0.0).updated(2, 1.0)),
      (2, Seq.fill(8)(0.0).updated(4, 1.0)))
    def assigned(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Ivf.assign(df, cents, "embedding")
    val oneShot = Dedup.semanticDedupWithin(assigned(all), "vec_id", "embedding", "cluster", 0.95)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val stored = assigned(all.filter(col("vec_id") < 60))
    val batch = assigned(all.filter(col("vec_id") >= 60))
    val storedSurv = Dedup.semanticDedupWithin(stored, "vec_id", "embedding", "cluster", 0.95)
    val folded = Dedup.semanticDedupUpdate(stored, storedSurv, batch, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(folded == oneShot, s"fold ${folded.size} vs one-shot ${oneShot.size}: " +
      s"extra=${folded -- oneShot} missing=${oneShot -- folded}")
    // the construction actually exercises the adversarial case
    val storedSurvIds = storedSurv.collect().map(_.getLong(0)).toSet
    val storedDroppedExists = (0L until 60L).exists(i => !storedSurvIds.contains(i))
    assert(storedDroppedExists, "fixture degenerate: no stored row was dropped")
    // the guarded form: a caller-tracked stored-max bound passes when the
    // monotone-id precondition holds and FAILS FAST when it does not
    // (silent corruption otherwise — the fold never re-judges stored rows)
    val guarded = Dedup.semanticDedupUpdate(stored, storedSurv, batch,
        "vec_id", "embedding", 0.95, storedMaxId = Some(59L))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(guarded == oneShot)
    val violation = intercept[IllegalArgumentException] {
      Dedup.semanticDedupUpdate(batch, storedSurv, stored,
        "vec_id", "embedding", 0.95, storedMaxId = Some(119L))
    }
    assert(violation.getMessage.contains("monotone-id"))
  }

  test("updateComponents folds new pairs into stored labels ≡ one-shot closure") {
    import spark.implicits._
    // both dispatch shapes: threshold 0 forces the touched-component
    // split, MaxValue forces the full-star path (default would pick
    // full-star at this size)
    for (thr <- Seq("0", String.valueOf(Long.MaxValue))) {
      spark.conf.set("graft.cc.touchedSplitThreshold", thr)
      try {
        // P1 builds clusters {1,2,3} and {10,11}; P2 bridges them (3~10),
        // extends one (11~12), and starts a fresh cluster {20,21}
        val p1 = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
        val p2 = Seq((3L, 10L), (11L, 12L), (20L, 21L)).toDF("id_a", "id_b")
        val incr = Dedup.updateComponents(Dedup.connectedComponents(p1), p2)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val full = Dedup.connectedComponents(p1.unionByName(p2))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(incr == full, s"threshold=$thr")
        assert(incr == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
          12L -> 1L, 20L -> 20L, 21L -> 20L), s"threshold=$thr")
        // empty prior labelling: update degenerates to plain closure
        val cold = Dedup.updateComponents(
            Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("id_a", "id_b")), p2)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(cold == Map(3L -> 3L, 10L -> 3L, 11L -> 11L, 12L -> 11L,
          20L -> 20L, 21L -> 20L), s"threshold=$thr")
      } finally spark.conf.unset("graft.cc.touchedSplitThreshold")
    }
  }

  test("updateComponents chains many prior clusters through one batch (star merge)") {
    import spark.implicits._
    // 10 disjoint 2-clusters, then a batch that daisy-chains them all:
    // the depth-1 star edges must still converge to a single min root —
    // under both dispatch shapes (every stored cluster is touched, the
    // split's hardest case)
    for (thr <- Seq("0", String.valueOf(Long.MaxValue))) {
      spark.conf.set("graft.cc.touchedSplitThreshold", thr)
      try {
        val p1 = (0L until 10L).map(k => (100 * k, 100 * k + 1)).toDF("id_a", "id_b")
        val p2 = (0L until 9L).map(k => (100 * k + 1, 100 * (k + 1))).toDF("id_a", "id_b")
        val incr = Dedup.updateComponents(Dedup.connectedComponents(p1), p2)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(incr.size == 20 && incr.values.forall(_ == 0L), s"threshold=$thr")
      } finally spark.conf.unset("graft.cc.touchedSplitThreshold")
    }
  }

  test("scalacheck: random graphs + random edge splits — CC and updateComponents match union-find") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // dense id range forces collisions: multi-edge, self-edges, chains,
    // star merges — every graph shape the star iteration must survive
    val genEdges = Gen.listOfN(25, Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)))
    val genCut = Gen.choose(0, 25)
    val prop = Prop.forAll(genEdges, genCut) { (edges: List[(Long, Long)], cut: Int) =>
      val want = unionFindRef(edges)
      val full = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val (p1, p2) = edges.splitAt(math.min(cut, edges.length))
      // force the touched-split shape: at this size the default dispatch
      // would always take full-star, leaving the split's semi/anti/star
      // composition property-untested
      spark.conf.set("graft.cc.touchedSplitThreshold", "0")
      val incr = try {
        Dedup.updateComponents(
            Dedup.connectedComponents(p1.toDF("id_a", "id_b")),
            p2.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } finally spark.conf.unset("graft.cc.touchedSplitThreshold")
      full == want && incr == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("forgetComponents: deleting a bridge splits; leaves collapse; untouched pass through") {
    import spark.implicits._
    // chain 1-2-3-4 (rep 1) plus {10,11} (rep 10)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
    def forget(del: Seq[Long]) =
      Dedup.forgetComponents(labels, pairs, del.toDF("doc_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // delete the bridge 2: 1 loses every pair (singleton), {3,4} re-roots at 3
    assert(forget(Seq(2L)) ==
      Map(1L -> 1L, 3L -> 3L, 4L -> 3L, 10L -> 10L, 11L -> 10L))
    // delete the old rep 1 and the leaf 4: {2,3} re-roots at 2
    assert(forget(Seq(1L, 4L)) ==
      Map(2L -> 2L, 3L -> 2L, 10L -> 10L, 11L -> 10L))
    // deleting an id the labelling never held is a no-op
    assert(forget(Seq(99L)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // deleting everything empties the labelling
    assert(forget(Seq(1L, 2L, 3L, 4L, 10L, 11L)).isEmpty)
  }

  test("scalacheck: random deletions — forgetComponents ≡ from-scratch closure over survivors") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val genEdges = Gen.listOfN(25, Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)))
    val genDel = Gen.listOfN(6, Gen.choose(0L, 30L))
    val prop = Prop.forAll(genEdges, genDel) { (edges: List[(Long, Long)], delL: List[Long]) =>
      val real = edges.filter { case (a, b) => a != b }
      val del = delL.toSet
      // min-rooted union-find over the SURVIVING edge subset
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      real.filterNot { case (a, b) => del(a) || del(b) }.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // survivors = every ORIGINALLY LABELLED node (any edge endpoint)
      // minus the deleted set — edge-less leftovers become singletons
      val want = real.flatMap { case (a, b) => Seq(a, b) }.distinct
        .filterNot(del).map(n => n -> find(n)).toMap
      val pairsDf = real.toDF("id_a", "id_b")
      val got = Dedup.forgetComponents(
          Dedup.connectedComponents(pairsDf), pairsDf, del.toSeq.toDF("doc_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("containmentPairs: a prefix quote is contained (asymmetric) while Jaccard misses it") {
    import spark.implicits._
    val big = (1 to 40).map(i => s"w$i").mkString(" ") // 38 shingles
    val quote = (1 to 20).map(i => s"w$i").mkString(" ") // 18 shingles, all ⊂ big's
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val got = Dedup.containmentPairs(
        Seq((1L, big), (2L, quote), (3L, other)).toDF("doc_id", "text"),
        "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6))).toSeq
    // shared 18 of quote's 18 → b_in_a; 18/38 Jaccard ≈ 0.47 would never
    // pass the symmetric 0.8 pass, and big is NOT contained in quote
    assert(got == Seq((1L, 2L, 18L, 38L, 18L, false, true)))
  }

  test("containmentPairs: the df cap silences boilerplate shingles") {
    import spark.implicits._
    // 150 docs share a 6-token banner + one unique token: 4 of each doc's
    // 5 shingles are corpus-wide boilerplate (df 150)
    val docs = (1 to 150)
      .map(i => (i.toLong, s"cookie banner accept all manage preferences u$i"))
      .toDF("doc_id", "text")
    // capped (df 150 > 100): the banner shingles never reach the join
    assert(Dedup.containmentPairs(docs, "text", "doc_id").count() == 0)
    // raising the cap past the banner df brings the quadratic pairing
    // back (shared 4 of 5 = exactly the 4/5 threshold, both directions)
    assert(Dedup.containmentPairs(docs, "text", "doc_id", maxDf = 200).count()
      == 150L * 149 / 2)
  }

  test("cross-modal dedup: a pixel pair and a caption pair chain into ONE cluster") {
    // the d12 semantics in miniature: A~B near-identical pixels (phash),
    // B~C identical captions — {A,B,C} must collapse to min-id survivor A
    // even though A,C share neither signal; D is untouched
    import spark.implicits._
    val items = Seq(1L, 2L, 3L, 4L).toDF("id")
    val phashPairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val captionPairs = Seq((2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.collapseNearDups(items, "id",
        phashPairs.unionByName(captionPairs))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
  }

  test("line dedup: globally-first occurrence survives, every later copy drops") {
    import spark.implicits._
    // doc 0: [x, y]; doc 1: [y, z]; doc 2: [z, x, u] — y and z recur
    // across docs, x recurs later WITHIN the corpus at a higher (doc,line)
    val lines = Seq(
      (0L, 0L, "x"), (0L, 1L, "y"),
      (1L, 0L, "y"), (1L, 1L, "z"),
      (2L, 0L, "z"), (2L, 1L, "x"), (2L, 2L, "u")
    ).toDF("doc_id", "line_no", "line")
    val v = Dedup.lineVerdicts(lines, "doc_id", "line_no", "line")
    val kept = v.filter(col("keep")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("line_no"))).toSet
    assert(kept == Set((0L, 0L), (0L, 1L), (1L, 1L), (2L, 2L)),
      s"wrong survivors: $kept")
    assert(v.count() == 7, "verdicts must preserve every input row")
    // scale contract: the argmin is a hash aggregate over the packed
    // BIGINT, never a SortAggregate over a struct buffer
    val plan = v.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), "line argmin must hash-aggregate")
  }

  test("line dedup: null lines keep (never a duplicate of anything) and are never dropped") {
    import spark.implicits._
    // md5(NULL) = NULL and SQL's null ≠ null — an inner hash join would
    // silently drop these rows; the contract is input rows + a verdict
    val lines = Seq(
      (1L, 0L, "a"), (1L, 1L, null.asInstanceOf[String]),
      (2L, 0L, "a"), (2L, 1L, null.asInstanceOf[String])
    ).toDF("doc_id", "line_no", "line")
    val v = Dedup.lineVerdicts(lines, "doc_id", "line_no", "line")
    assert(v.count() == 4, "a null line made its row vanish")
    val byRow = v.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("line_no")) -> r.getAs[Boolean]("keep")).toMap
    assert(byRow((1L, 1L)) && byRow((2L, 1L)), "null lines must keep")
    assert(byRow((1L, 0L)) && !byRow((2L, 0L)), "'a' dedup must still fire")
  }

  test("line dedup: tie order is line_no within the same doc") {
    import spark.implicits._
    // same line twice in ONE doc: the smaller line_no wins
    val lines = Seq((5L, 3L, "dup"), (5L, 1L, "dup")).toDF("doc_id", "line_no", "line")
    val kept = Dedup.lineVerdicts(lines, "doc_id", "line_no", "line")
      .filter(col("keep")).collect().map(_.getAs[Long]("line_no")).toSet
    assert(kept == Set(1L))
  }

  test("weighted top-k aggregator == window rank (weight DESC, payload ASC); no Window planned") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // deterministic pseudo-random weights incl. ties; group sizes 1, 3, 60
    val rows = Seq((0L, "solo", 7L)) ++
      (0 until 3).map(i => (1L, s"p$i", 5L)) ++ // all-tie group: payload ASC decides
      (0 until 60).map(i => (2L, f"q$i%02d", graft.imagecodec.ImageCodec.mix64(i * 17L) % 10))
    val df = rows.toDF("target", "anchor", "n")
    val k = 4
    val got = graft.ops.Sampling.topKWeighted(df, "target", "anchor", "n", k)
    val w = Window.partitionBy(col("target")).orderBy(col("n").desc, col("anchor"))
    val expect = df.select(col("target").cast("string").as("target"), col("anchor"), col("n"))
      .withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val gotSet = got.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotSet == expect,
      s"top-k diverged: ${(gotSet diff expect).take(3)} / ${(expect diff gotSet).take(3)}")
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "weighted top-k must not plan a window sort")
  }

  test("tinyResult2 unions its legs by column name, not by position") {
    import spark.implicits._
    val a = Seq(("en", 25L, 7L)).toDF("pred_lang", "pct", "v")
    val b = Seq((9L, 50L, "de")).toDF("v", "pct", "pred_lang")
    val got = graft.queries.DataOpsQueries.tinyResult2(spark, a, b)
    assert(got.columns.toSeq == a.columns.toSeq)
    assert(got.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
      a.unionByName(b).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("e6 image-corpus chain recovers the planted ground truth end to end") {
    val dir = "/root/testdata/sf0.001"
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    val got = graft.queries.DataOpsQueries.queries("e6_image_corpus")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_members"),
        r.getAs[Long]("crop_w"), r.getAs[Long]("crop_h"), r.getAs[String]("fmt")))
      .toSet
    val expect = (0L until n)
      .filter(i => i % 50 != 49 && i % 97 != 0) // fixture dups out; caption gate
      .map { i =>
        val s = graft.model.Synth
        (i, if (i % 40 == 5) 2L else 1L, s.wOf(i).toLong, s.hOf(i).toLong, s.fmtOf(i))
      }.toSet
    assert(got == expect,
      s"e6 diverged: extra=${(got diff expect).take(3)} missing=${(expect diff got).take(3)}")
  }
}
