package graft.refpipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's metadata-processing pipeline (E3:
  * `SemanticScholarDataProcessor.process_data`,
  * csinsights/data/s2processor.py:46-77) on its NATIVE record shapes —
  * papers / per-dataset record sets / authors — re-expressed as Spark
  * relational operators with the reference's exact semantics:
  *
  *  - F6 `openaccessinfo.externalids` promotion (s2processor.py:158-164);
  *  - F4 external-id OR-filter over enabled sources (s2processor.py:135-150);
  *  - A1 seen-set build from filtered papers (s2processor.py:55-61);
  *  - F5 corpusid gate on every non-papers dataset (s2processor.py:169-174),
  *    with the reference's escape hatch: an EMPTY seen-set admits everything;
  *  - J1 full-outer merge per dataset, papers fields win on conflict, rows
  *    present only in the dataset survive (s2processor.py:96-118);
  *  - O1 null-first ordering with forced stability (s2processor.py:103-106);
  *  - F7 author semi-filter over exploded papers[].authors[].authorId vs the
  *    authors table's lowercase `authorid` (s2processor.py:79-94);
  *  - F8 `url` → `s2url` rename (s2processor.py:188-196).
  *
  * Expected schemas (explicit, SURVEY §1.2 — never inferred):
  *   papers(corpusid LONG, externalids MAP<STRING,STRING>,
  *          openaccessinfo STRUCT<externalids: MAP<STRING,STRING>>,
  *          authors ARRAY<STRUCT<authorId: STRING>>, title STRING)
  *   dataset D(corpusid LONG, ...payload cols)
  *   authors(authorid STRING, url STRING, name STRING)
  */
object RefPipe {

  /** The reference's source-name → externalids-key map
    * (s2processor.py:17-23). */
  val FilterKeys: Map[String, String] = Map(
    "acl" -> "ACL", "dblp" -> "DBLP", "arxiv" -> "ArXiv",
    "pubmed" -> "PubMed", "pubmedcentral" -> "PubMedCentral")

  /** F6: promote openaccessinfo.externalids, matching the reference's
    * EXACT overwrite semantics (s2processor.py:158-164): when an
    * openaccessinfo record is present, its externalids REPLACE the
    * top-level ones even when the nested value is null — such papers then
    * fail the external-id filter and drop out. A coalesce would instead
    * keep the old ids and admit them, diverging from the reference's
    * filtered paper set. Struct-null = record-absent (fixed Spark schema
    * has no key-missing notion; documented in RefPipeSpec). */
  def promoteOpenAccess(papers: DataFrame): DataFrame =
    papers
      .withColumn("externalids",
        when(col("openaccessinfo").isNotNull, col("openaccessinfo.externalids"))
          .otherwise(col("externalids")))
      .drop("openaccessinfo")

  /** F4: keep papers where ANY enabled source key is present and non-null
    * (null-safe at all levels — a missing map or key is simply false). */
  def externalIdFilter(papers: DataFrame, enabledSources: Seq[String]): DataFrame = {
    val keys = enabledSources.map(s => FilterKeys.getOrElse(s.toLowerCase, s))
    if (keys.isEmpty) papers
    else papers.filter(
      keys.map(k => col("externalids").getItem(k).isNotNull).reduce(_ || _))
  }

  /** A1: the seen-set of admitted corpusids. */
  def seenSet(filteredPapers: DataFrame): DataFrame =
    filteredPapers.select(col("corpusid")).distinct()

  /** F5: gate a non-papers dataset by the seen-set — with the reference's
    * escape hatch that an EMPTY seen-set admits every row
    * (s2processor.py:169-174: `len(filtered_corpusids) == 0` bypass). */
  def corpusGate(dataset: DataFrame, seen: DataFrame): DataFrame = {
    val seenIsEmpty = seen.limit(1).count() == 0 // cheap: stops at 1 row
    if (seenIsEmpty) dataset
    else dataset.join(seen, Seq("corpusid"), "left_semi")
  }

  /** J1: outer merge of one dataset with papers, papers-wins semantics:
    * shared non-key columns resolve to the papers value when the paper row
    * exists; rows only in the dataset survive with their own values. */
  def mergeLww(dataset: DataFrame, papers: DataFrame): DataFrame = {
    val d = dataset.alias("d")
    val p = papers.alias("p")
    val shared = (dataset.columns.toSet intersect papers.columns.toSet) - "corpusid"
    val dOnly = dataset.columns.filterNot(c => shared(c) || c == "corpusid")
    val pOnly = papers.columns.filterNot(c => shared(c) || c == "corpusid")
    val cols: Seq[Column] =
      Seq(coalesce(col("p.corpusid"), col("d.corpusid")).as("corpusid")) ++
      shared.toSeq.sorted.map(c => coalesce(col(s"p.$c"), col(s"d.$c")).as(c)) ++
      dOnly.map(c => col(s"d.$c").as(c)) ++
      pOnly.map(c => col(s"p.$c").as(c))
    d.join(p, col("d.corpusid") === col("p.corpusid"), "full_outer").select(cols: _*)
  }

  /** O1: the reference's output ordering — rows without corpusid first,
    * then ascending corpusid; stability forced with explicit tiebreaker
    * columns (Spark sort is not stable). Returns a rank column rather than
    * relying on physical row order. Computed distributed via
    * [[graft.sched.Scheduler.globalRank]] (sampled range buckets +
    * prefix-sum offsets); a bare `Window.orderBy` would move the whole
    * table to one task. */
  def o1Rank(df: DataFrame, tiebreakers: Seq[String]): DataFrame =
    graft.sched.Scheduler.globalRank(df,
      col("corpusid").isNotNull +: col("corpusid") +: tiebreakers.map(col), "o1_rank")

  /** F7 + F8: keep authors referenced by any admitted paper (note the
    * case quirk: papers carry `authorId`, the authors table `authorid`),
    * then rename url → s2url. */
  def filterAuthors(authors: DataFrame, papers: DataFrame): DataFrame = {
    val ids = papers
      .select(explode(col("authors.authorId")).as("authorId"))
      .filter(col("authorId").isNotNull)
      .distinct()
    authors
      .join(ids, authors("authorid") === ids("authorId"), "left_semi")
      .withColumnRenamed("url", "s2url")
  }

  /** The full E3 pipeline: returns (mergedPapers, filteredAuthors). */
  def processData(
      papers: DataFrame,
      datasets: Seq[DataFrame],
      authors: DataFrame,
      enabledSources: Seq[String]): (DataFrame, DataFrame) = {
    val promoted = promoteOpenAccess(papers)
    val filtered = externalIdFilter(promoted, enabledSources)
    val seen = seenSet(filtered)
    // two-pass routing (s2processor.py:57,63-64): papers first, then each
    // non-papers dataset gated + merged, papers overwriting on conflict
    val merged = datasets.foldLeft(filtered) { (acc, d) =>
      mergeLww(corpusGate(d, seen), acc)
    }
    (merged, filterAuthors(authors, filtered))
  }
}
