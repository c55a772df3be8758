package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Queries covering the reference's operator inventory (SURVEY.md §2)
  * that batch 1 didn't: release-catalog scans/sorts, filters F1-F11, the
  * J1 last-writer-wins merge, O1-O3 orderings, md5 integrity, manifest
  * indexing. Each has a DuckDB oracle twin in [[RefOpsQueries.oracle]].
  */
object RefOpsQueries {

  private def fileUrl = concat(lit("https://dblp.example.org/release/part_"),
    col("p_partkey").cast("string"), lit("_f"), (col("p_partkey") % 4).cast("string"),
    when(col("p_partkey") % 3 === 0, lit(".gz"))
      .when(col("p_partkey") % 3 === 1, lit(".md5"))
      .otherwise(lit(".dtd")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/F10/O2: release-page scan — suffix filter, desc sort, top-1 per
    // extension (reference dblpclient.py:384-409).
    "c6_release_scan" -> ((s, dir) => {
      val urls = Fixture.part(s, dir).select(fileUrl.as("url"))
        .filter(col("url").endsWith(".gz") || col("url").endsWith(".md5"))
      val ext = regexp_extract(col("url"), "\\.([a-z0-9]+)$", 1)
      val w = Window.partitionBy(col("ext")).orderBy(col("url").desc)
      urls.withColumn("ext", ext)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("ext"), col("url").as("latest_url"))
    }),

    // S2/O3: second-latest-month release resolution (s2client.py:159-173):
    // sort desc, drop every release in the newest month, take head.
    "c7_second_latest" -> ((s, dir) => {
      val rel = Fixture.orders(s, dir).select(
        concat(lit("r-"), year(col("o_orderdate")).cast("string"), lit("-"),
          lpad(month(col("o_orderdate")).cast("string"), 2, "0")).as("release"))
        .distinct()
      val latest = rel.agg(max(col("release")).as("latest"))
      rel.join(broadcast(latest), rel("release") < latest("latest"))
        .groupBy()
        .agg(max(col("release")).as("second_latest"))
    }),

    // S3: file-manifest scan with per-dataset fetch index (s2client.py:146-157).
    "c8_manifest_index" -> ((s, dir) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      Fixture.documents(s, dir)
        .withColumn("file_index", row_number().over(w) - 1)
        .select(col("source"), col("doc_id"),
          concat(col("source"), lit("_"), col("file_index").cast("string"), lit(".jsonl.gz"))
            .as("filename"),
          col("file_index"))
    }),

    // F1: strict > timestamp filter (dblpclient.py:104-123) — note strictly
    // greater, boundary rows excluded.
    "c9_mdate_filter" -> ((s, dir) => {
      Fixture.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1996-06-15 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), min(col("l_shipdate")).as("first_ship"))
    }),

    // F2: access-type filter with missing→CLOSED default
    // (dblpclient.py:126-145): coalesce(access,'closed') ∈ allowed.
    "c10_access_filter" -> ((s, dir) => {
      val access = when(col("event_id") % 5 === 0, lit(null).cast("string"))
        .when(col("event_id") % 5 === 1, lit("oa"))
        .when(col("event_id") % 5 === 2, lit("closed"))
        .when(col("event_id") % 5 === 3, lit("oa"))
        .otherwise(lit("all"))
      Fixture.events(s, dir)
        .withColumn("access", access)
        .filter(coalesce(col("access"), lit("closed")).isin("oa", "all"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_open"))
    }),

    // F4/S7: JSON field probe + predicate on parsed value
    // (s2processor.py:135-150 external-id presence, fused into the line
    // scan like the reference's parse+filter).
    "c11_extid_filter" -> ((s, dir) => {
      Fixture.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .filter(col("k").isNotNull && col("k") % 7 === 0)
        .select(col("event_id"), col("event_type"), col("k"))
    }),

    // F6: nested-field promotion — prefer the nested value when present,
    // drop the wrapper (s2processor.py:158-164).
    "c12_promote" -> ((s, dir) => {
      val nested = when(col("event_type") === "error",
        get_json_object(col("props"), "$.k").cast("double"))
      Fixture.events(s, dir)
        .withColumn("promoted_value", coalesce(nested, col("value")))
        .select(col("event_id"), col("promoted_value"))
    }),

    // F7/J3/A2: semi join via distinct foreign keys (s2processor.py:79-94
    // author filter).
    "c13_author_semijoin" -> ((s, dir) => {
      val c = Fixture.customer(s, dir)
      val keys = Fixture.orders(s, dir).select(col("o_custkey")).distinct()
      c.join(keys, c("c_custkey") === keys("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),

    // F8/F9/F11: rename + filename-from-url + dataset-name projections
    // (s2processor.py:188-196, dblpclient.py:308-317, s2processor.py:61).
    "c14_projections" -> ((s, dir) => {
      val f = Fixture.part(s, dir).select(fileUrl.as("url"), col("p_retailprice"))
      f.withColumn("filename", regexp_extract(col("url"), "([^/]*)$", 1))
        .withColumn("dataset", regexp_extract(col("filename"), "^([^_]*)", 1))
        .withColumnRenamed("p_retailprice", "s2price")
        .select(col("url"), col("filename"), col("dataset"), col("s2price"))
    }),

    // J1/A3: full-outer merge by key, last-writer-wins for the "papers"
    // side (s2processor.py:96-118): rows only in the update table survive,
    // conflicts resolve to papers.
    "c15_merge_lww" -> ((s, dir) => {
      val papers = Fixture.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val updates = Fixture.orders(s, dir)
        .filter(col("o_orderkey") % 2 === 1)
        .select((col("o_orderkey") + 1).as("u_orderkey"), // half overlap, half new keys
          (col("o_totalprice") * 2).as("u_totalprice"),
          lit("U").as("u_orderstatus"))
        .groupBy(col("u_orderkey"))
        .agg(max(col("u_totalprice")).as("u_totalprice"), max(col("u_orderstatus")).as("u_orderstatus"))
      papers.join(updates, papers("o_orderkey") === updates("u_orderkey"), "full_outer")
        .select(coalesce(col("o_orderkey"), col("u_orderkey")).as("o_orderkey"),
          coalesce(col("o_totalprice"), col("u_totalprice")).as("totalprice"),
          coalesce(col("o_orderstatus"), col("u_orderstatus")).as("status"),
          col("o_orderkey").isNotNull.as("in_papers"),
          col("u_orderkey").isNotNull.as("in_updates"))
    }),

    // J4/A4: md5 integrity check with quarantine statuses
    // (dblpclient.py:437-451): recomputed digest vs expected; corrupted
    // rows (every 10th doc) flagged, not fatal.
    "c16_md5_check" -> ((s, dir) => {
      val d = Fixture.documents(s, dir)
      val expected = when(col("doc_id") % 10 === 0, md5(reverse(col("text")).cast("binary")))
        .otherwise(md5(col("text").cast("binary")))
      d.withColumn("expected_md5", expected)
        .withColumn("actual_md5", md5(col("text").cast("binary")))
        .withColumn("ok", col("actual_md5") === col("expected_md5"))
        .select(col("doc_id"), col("ok"))
    }),

    // O1: null-first keyed sort with deterministic tiebreak
    // (s2processor.py:103-106) — rows with NULL key sort first, stability
    // forced by explicit id tiebreak (Spark sort is not stable). The rank
    // is computed DISTRIBUTED (sampled range buckets + prefix-sum
    // offsets, Scheduler.globalRank) — a bare Window.orderBy would
    // serialize the whole table into one task.
    "c17_nullfirst_sort" -> ((s, dir) => {
      val c = Fixture.customer(s, dir)
        .withColumn("k", when(col("c_custkey") % 10 === 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal")))
      graft.sched.Scheduler.globalRank(c,
          Seq(col("k").isNotNull, col("k"), col("c_custkey")), "o1_rank")
        .select(col("c_custkey"), col("k"), col("o1_rank"))
    }),

    // S5/S6: schema-enforced ingest — from_json with an EXPLICIT schema in
    // FAILFAST mode (the reference's DTD-validated parse path,
    // dblpclient.py:472-479, and the "never infer in the hot path" rule of
    // SURVEY §1.2). A malformed props row would fail the job, not corrupt.
    "c19_json_ingest" -> ((s, dir) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType, nullable = true)))
      Fixture.events(s, dir)
        .withColumn("parsed", from_json(col("props"), schema,
          Map("mode" -> "FAILFAST")))
        .select(col("event_id"), col("parsed.k").as("k"))
    }),

    // S5/E2 REAL XML path: build DBLP-shaped XML record strings from the
    // events table, parse them with the StAX mapPartitions reader
    // (sources.XmlIngest — the actual `<dblp>` dump path, not from_json),
    // then apply the reference's E2 filter chain on the native xmltodict
    // shape (refpipe.DblpPipe: strict-> mdate, ee→CLOSED default,
    // present-ee-without-type dropped). The oracle recomputes the admitted
    // set from the raw columns — XML build → parse → filter must
    // round-trip exactly.
    "c20_dblp_xml_e2" -> ((s, dir) => {
      import s.implicits._
      val ev = Fixture.events(s, dir)
      val a2 = when(col("event_id") % 3 >= 1,
        concat(lit("<author>a"), col("event_id").cast("string"), lit("_2</author>"))).otherwise(lit(""))
      val a3 = when(col("event_id") % 3 === 2,
        concat(lit("<author>a"), col("event_id").cast("string"), lit("_3</author>"))).otherwise(lit(""))
      val ee = when(col("event_id") % 5 === 0, lit("")) // no ee at all → CLOSED default
        .when(col("event_id") % 5 === 1, // ee WITHOUT type → dropped for every set
          concat(lit("<ee>http://e/"), col("event_id").cast("string"), lit("</ee>")))
        .when(col("event_id") % 5 === 3,
          concat(lit("<ee type=\"closed\">http://e/"), col("event_id").cast("string"), lit("</ee>")))
        .otherwise(
          concat(lit("<ee type=\"oa\">http://e/"), col("event_id").cast("string"), lit("</ee>")))
      val xml = ev.select(concat(
        lit("<article mdate=\""), date_format(col("ts"), "yyyy-MM-dd"),
        lit("\" key=\"k"), col("event_id").cast("string"), lit("\">"),
        lit("<title>t"), col("event_id").cast("string"), lit("</title>"),
        concat(lit("<author>a"), col("event_id").cast("string"), lit("_1</author>")), a2, a3,
        lit("<year>"), year(col("ts")).cast("string"), lit("</year>"),
        ee, lit("</article>")).as("value")).as[String]
      val parsed = graft.sources.XmlIngest.parseRecords(xml, "article").toDF()
      graft.refpipe.DblpPipe
        .downloadAndFilterRelease(parsed, useFilters = true, Seq("oa"), fromDate = "2024-01-10")
        .select(col("key"), col("mdate"), col("title"),
          size(col("authors")).as("n_authors"), col("year"),
          col("eeType").as("access"), col("eeText").as("ee_url"))
    }),

    // S4: chunked-download iterator semantics (dblpclient.py:53-88 — the
    // reference streams a payload in fixed-size chunks, folding a digest
    // and byte count as it goes). Declarative twin: slice the payload into
    // 256-char chunks, fold them back, and prove the reassembly is
    // digest-identical to the whole buffer — the integrity invariant a
    // chunked fetch must preserve. Constant memory per row, no UDF.
    "c21_chunked_fetch" -> ((s, dir) => {
      val chunkSize = 256
      val n = ceil(length(col("text")).cast("double") / chunkSize).cast("int")
      val idx = when(n > 0, sequence(lit(0), n - 1)).otherwise(array().cast("array<int>"))
      val chunks = transform(idx, i => col("text").substr(i * chunkSize + 1, lit(chunkSize)))
      Fixture.documents(s, dir)
        .withColumn("n_chunks", n.cast("long"))
        .withColumn("reassembled", array_join(chunks, ""))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("payload_chars"),
          col("n_chunks"),
          (md5(col("reassembled").cast("binary")) === md5(col("text").cast("binary"))).as("intact"),
          md5(col("reassembled").cast("binary")).as("payload_md5"))
    }),

    // A1 incremental distinct: per-source running distinct-doc count in
    // file order (seen-set growth across files, s2processor.py:55-61).
    "c18_seen_growth" -> ((s, dir) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Fixture.documents(s, dir)
        .select(col("source"), col("doc_id"),
          count(lit(1)).over(w).as("seen_so_far"))
    })
  )

  val oracle: Map[String, String] = Map(
    "c6_release_scan" ->
      """WITH urls AS (
        |  SELECT concat('https://dblp.example.org/release/part_',
        |           CAST(p_partkey AS STRING), '_f', CAST(p_partkey % 4 AS STRING),
        |           CASE WHEN p_partkey % 3 = 0 THEN '.gz'
        |                WHEN p_partkey % 3 = 1 THEN '.md5' ELSE '.dtd' END) AS url
        |  FROM part),
        |fu AS (SELECT url, regexp_extract(url, '\.([a-z0-9]+)$', 1) AS ext FROM urls
        |       WHERE url LIKE '%.gz' OR url LIKE '%.md5')
        |SELECT ext, max(url) AS latest_url FROM fu GROUP BY ext""".stripMargin,

    "c7_second_latest" ->
      """WITH rel AS (SELECT DISTINCT concat('r-', CAST(year(o_orderdate) AS STRING), '-',
        |  lpad(CAST(month(o_orderdate) AS STRING), 2, '0')) AS release FROM orders)
        |SELECT max(release) AS second_latest FROM rel
        |WHERE release < (SELECT max(release) FROM rel)""".stripMargin,

    "c8_manifest_index" ->
      """WITH idx AS (SELECT source, doc_id,
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS file_index
        |  FROM documents)
        |SELECT source, doc_id,
        |  concat(source, '_', CAST(file_index AS STRING), '.jsonl.gz') AS filename,
        |  file_index FROM idx""".stripMargin,

    "c9_mdate_filter" ->
      """SELECT l_returnflag, count(*) AS n, min(l_shipdate) AS first_ship
        |FROM lineitem WHERE l_shipdate > TIMESTAMP '1996-06-15 00:00:00'
        |GROUP BY l_returnflag""".stripMargin,

    "c10_access_filter" ->
      """WITH e AS (SELECT event_type,
        |  CASE WHEN event_id % 5 = 0 THEN NULL
        |       WHEN event_id % 5 = 1 THEN 'oa'
        |       WHEN event_id % 5 = 2 THEN 'closed'
        |       WHEN event_id % 5 = 3 THEN 'oa' ELSE 'all' END AS access
        |  FROM events)
        |SELECT event_type, count(*) AS n_open FROM e
        |WHERE coalesce(access, 'closed') IN ('oa', 'all')
        |GROUP BY event_type""".stripMargin,

    "c11_extid_filter" ->
      """SELECT event_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
        |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 = 0""".stripMargin,

    "c12_promote" ->
      """SELECT event_id,
        |  coalesce(CASE WHEN event_type = 'error'
        |                THEN CAST(json_extract_string(props, '$.k') AS DOUBLE) END,
        |           value) AS promoted_value
        |FROM events""".stripMargin,

    "c13_author_semijoin" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    "c14_projections" ->
      """WITH f AS (
        |  SELECT concat('https://dblp.example.org/release/part_',
        |           CAST(p_partkey AS STRING), '_f', CAST(p_partkey % 4 AS STRING),
        |           CASE WHEN p_partkey % 3 = 0 THEN '.gz'
        |                WHEN p_partkey % 3 = 1 THEN '.md5' ELSE '.dtd' END) AS url,
        |         p_retailprice AS s2price
        |  FROM part)
        |SELECT url, regexp_extract(url, '([^/]*)$', 1) AS filename,
        |  regexp_extract(regexp_extract(url, '([^/]*)$', 1), '^([^_]*)', 1) AS dataset,
        |  s2price
        |FROM f""".stripMargin,

    "c15_merge_lww" ->
      """WITH papers AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |updates AS (
        |  SELECT o_orderkey + 1 AS o_orderkey,
        |         max(o_totalprice * 2) AS o_totalprice, max('U') AS o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY o_orderkey + 1)
        |SELECT coalesce(p.o_orderkey, d.o_orderkey) AS o_orderkey,
        |  coalesce(p.o_totalprice, d.o_totalprice) AS totalprice,
        |  coalesce(p.o_orderstatus, d.o_orderstatus) AS status,
        |  p.o_orderkey IS NOT NULL AS in_papers,
        |  d.o_orderkey IS NOT NULL AS in_updates
        |FROM papers p FULL OUTER JOIN updates d ON p.o_orderkey = d.o_orderkey""".stripMargin,

    "c16_md5_check" ->
      """SELECT doc_id,
        |  md5(text) = CASE WHEN doc_id % 10 = 0 THEN md5(reverse(text)) ELSE md5(text) END AS ok
        |FROM documents""".stripMargin,

    "c17_nullfirst_sort" ->
      """WITH c AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_acctbal END AS k
        |  FROM customer)
        |SELECT c_custkey, k,
        |  row_number() OVER (ORDER BY (k IS NOT NULL), k, c_custkey) AS o1_rank
        |FROM c""".stripMargin,

    "c19_json_ingest" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,

    "c21_chunked_fetch" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    CAST(ceil(length(text) / 256.0) AS INTEGER) AS n
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, text, n,
        |    coalesce(list_aggregate(list_transform(range(0, n),
        |      i -> substr(text, i*256 + 1, 256)), 'string_agg', ''), '') AS reassembled
        |  FROM c)
        |SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS payload_chars,
        |  CAST(n AS BIGINT) AS n_chunks,
        |  md5(reassembled) = md5(text) AS intact,
        |  md5(reassembled) AS payload_md5
        |FROM r""".stripMargin,

    "c20_dblp_xml_e2" ->
      """SELECT 'k' || CAST(event_id AS STRING) AS key,
        |  strftime(ts, '%Y-%m-%d') AS mdate,
        |  't' || CAST(event_id AS STRING) AS title,
        |  CAST(event_id % 3 + 1 AS INTEGER) AS n_authors,
        |  CAST(year(ts) AS INTEGER) AS year,
        |  'oa' AS access,
        |  'http://e/' || CAST(event_id AS STRING) AS ee_url
        |FROM events
        |WHERE CAST(ts AS DATE) > DATE '2024-01-10'
        |  AND event_id % 5 IN (2, 4)""".stripMargin,

    "c18_seen_growth" ->
      """SELECT source, doc_id,
        |  count(*) OVER (PARTITION BY source ORDER BY doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen_so_far
        |FROM documents""".stripMargin
  )
}
