package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning. Local runs use
  * local[N]; the same configs are what we would ship on a real cluster
  * (AQE on, footer-stat aggregate pushdown, shuffle partitions sized to
  * cores rather than the 200 default).
  */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // multi-term probes (bm25IndexTopK pushes `term isin(...)`) stay
      // a parquet-level in() predicate up to 64 values instead of
      // degrading to a [min,max] range (the default threshold is 10):
      // in() is evaluated against dictionary pages AND the postings
      // bloom filters, which prunes row groups whose term range merely
      // SPANS a probed term — a range filter cannot. Scale-justified,
      // not a local[32] constant: the cost is a 64-literal predicate,
      // the win is row-group skipping on any sorted-but-wide bucket.
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "64")
      .config("spark.sql.session.timeZone", "UTC")
      // nanosecond parquet timestamps (events.ts) read as long nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // native kernels as SQL functions (see GraftExtensions)
      .config("spark.sql.extensions", "graft.core.GraftExtensions")
    // A/B seam for the bench tools: SPARK_GRAFT_CONF="k=v,k=v" lands
    // extra confs on every tool's session (e.g.
    // graft.widen.maxInputBytes=0 to bench without widening)
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .foldLeft(b) { (bb, kv) =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_CONF entry needs k=v form: $kv")
        bb.config(kv.take(i), kv.drop(i + 1))
      }
  }

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
