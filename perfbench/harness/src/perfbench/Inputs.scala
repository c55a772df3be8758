package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.canon.UrlCanon
import graft.model.Synth

object Inputs {
  /** The seed picks a disjoint block of Synth ids, so the same seed gives the
    * same urls and payloads. Blocks stay below 2^44, the bound
    * `Scheduler.dedupFrontier` packs `seed_rank` into. */
  val Block = 10000000L
  def base(seed: Long): Long = Math.floorMod(seed, 100000L) * Block

  /** Distinct robots-allowed canonical urls of a seed frame, from plain
    * joins against the Synth robots rules (longest-prefix precedence is not
    * needed: every synthetic rule set holds at most one prefix per host). */
  def allowedCanonical(seeds: DataFrame): DataFrame = {
    val disallow = Synth.robotsRules(seeds.sparkSession).toDF()
      .filter(!col("allowed") && col("path_prefix") =!= "")
      .select(col("host").as("d_host"), col("path_prefix"))
    val path = regexp_extract(col("canonical_url"), "^[a-z]+://[^/]+(/.*)$", 1)
    seeds.select(UrlCanon.canonicalUrl(col("url")).as("canonical_url"),
        UrlCanon.hostOf(col("url")).as("host"))
      .join(disallow, col("host") === col("d_host") && path.startsWith(col("path_prefix")),
        "left_anti")
      .select("canonical_url").distinct()
  }

  def rm(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(go)); f.delete(); ()
    }
    go(new java.io.File(path))
  }
}
