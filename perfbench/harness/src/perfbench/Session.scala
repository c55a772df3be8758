package perfbench

import org.apache.spark.sql.SparkSession

/** The one session a run uses. Every setting that moves the numbers is set
  * here explicitly and recorded in the result, and all state goes under the
  * run's temp root. */
object Session {
  val BroadcastLimit: Long = 64L << 20

  def start(root: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", BroadcastLimit.toString)
      .config("spark.driver.maxResultSize", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$root/hadoop-tmp")
      .config("spark.sql.streaming.checkpointLocation", s"$root/stream-checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Graft settings whose program default a run leaves alone unless a
    * workload says otherwise; recorded as "default" when unset. */
  val GraftConfs = Seq("graft.cc.datasetThreshold", "graft.graph.datasetThreshold",
    "graft.cc.touchedSplitThreshold")

  def effectiveConfig(spark: SparkSession): Seq[(String, String)] = {
    val c = spark.conf
    Seq(
      "master" -> spark.sparkContext.master,
      "spark.sql.shuffle.partitions" -> c.get("spark.sql.shuffle.partitions"),
      "spark.sql.adaptive.enabled" -> c.get("spark.sql.adaptive.enabled"),
      "spark.sql.autoBroadcastJoinThreshold" -> c.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.version" -> spark.version) ++
      GraftConfs.map(k => k -> c.getOption(k).getOrElse("default"))
  }
}
