package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** A fixed, generated `documents` table in the shape of the repository's
  * TPC-H-ish test data (TESTDATA.md): word-soup texts with per-language marker words,
  * planted near duplicates (one token edited) and exact copies. */
object Docs {
  val Count = 500
  private val words = ("key agg row scan slow fast table value part hash merge batch " +
    "spark order data column join small line customer query big stream group sort " +
    "filter window vector crawl page link text index node edge shard seed host").split(" ")
  private val langs = Array("en", "en", "en", "de", "es", "fr")
  private val markers = Map("en" -> Array("the", "and", "of"), "de" -> Array("der", "und", "die"),
    "es" -> Array("el", "los", "y"), "fr" -> Array("le", "et", "les"))

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) >>> 1
  }

  private def langOf(i: Long): String = langs((mix(i ^ 7L) % langs.length).toInt)

  private def tokens(i: Long): Array[String] = {
    val n = 10 + (mix(i) % 90).toInt
    val m = markers(langOf(i))
    Array.tabulate(n) { k =>
      val h = mix(i * 131 + k)
      if (h % 7 == 0) m((h / 7 % m.length).toInt) else words((h % words.length).toInt)
    }
  }

  /** Every 500th doc copies the doc 250 before it; every 20th doc repeats the
    * doc 7 before it with one token replaced. */
  def textOf(i: Long): String =
    if (i % 500 == 499) textOf(i - 250)
    else if (i % 20 == 19) {
      val t = tokens(i - 7)
      val at = (mix(i) % t.length).toInt
      t(at) = words((mix(i + 1) % words.length).toInt)
      t.mkString(" ")
    } else tokens(i).mkString(" ")

  def write(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import spark.implicits._
    (0L until Count).map { i =>
      val t = textOf(i)
      (i, t, langOf(i), s"src${i % 10}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
  }
}

/** `maintenance_queries`: composed maintenance chains from
  * `SparkEntry.queries` on the fixed documents table; the seed is not used.
  * One op is one pass over all of them. Left out (see WORKLOADS.md):
  * e3 and d11, which write band stores under a fixed /tmp path outside the
  * run's root; k7, whose rows vary from run to run on 5000 documents; d13
  * and e1, for the run-time budget. */
final class Maintenance(ctx: Ctx) extends Workload {
  import ctx.spark

  /** Query -> (rows, xor of row hashes, sum of low 32 bits of row hashes),
    * recorded for the [[Docs]] table from outputs that match the queries'
    * DuckDB oracles. */
  val Expected: Map[String, (Long, Long, Long)] = Map(
    "d15_cc_forget" -> ((73L, 692777731038399543L, 159443821795L)),
    "g3_redirect_update" -> ((444L, 5694637821565707275L, 931675647925L)),
    "g5_pagerank_update" -> ((500L, 2029250749831496846L, 1030024397760L)))

  /** A fixed order: what the heap retains after a pass depends on the query
    * that ran last (about 25 MB more after g5 than after d15 or g3). */
  val order: Seq[String] = Expected.keys.toSeq.sorted
  private var dir = ""

  def fixtures(rep: Int): Unit = {
    if (rep > 0) Inputs.rm(dir)
    dir = ctx.dir("maintenance", s"r$rep")
    Docs.write(spark, dir)
  }

  private def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** One pass over all queries on the documents under `docs`. */
  private def pass(docs: String): (Seq[(String, (Long, Long, Long))], Span) =
    ctx.spans.timed("maintenance.pass") {
      order.map(q => q -> ctx.spans.span(s"queries.$q")(digest(SparkEntry.queries(q)(spark, docs))))
    }

  def warmUp(): Unit = { pass(dir); () }

  def op(i: Int): Op = {
    val (got, sp) = pass(dir)
    val bad = got.filter { case (q, d) => d != Expected(q) }
    val o = new Op(i, order.size, sp, bad.isEmpty)
    o.note = bad.map { case (q, d) => s"$q=$d" }.mkString(" ")
    o
  }

  def minOps: Int = 1
  def maxOps: Int = 1
}
