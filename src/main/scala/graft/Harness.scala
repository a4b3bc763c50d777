package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The setup every harness main shares: session, query selection, untimed
  * warm-ups and the inter-query cache sweep. Env vars it reads:
  *   - `SPARK_GRAFT_SF_DIR`: corpus directory (each main has its own default);
  *   - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions (default 4);
  *   - `SPARK_GRAFT_CONF`: `k=v;k=v` extra session confs;
  *   - `SPARK_GRAFT_ONLY`: comma-separated query-name prefixes.
  */
object Harness {
  def sfDir(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)

  def session(sfDir: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    graft.util.Sizing.configureAdaptiveWidths(builder, sfDir, cpus.toInt)
    // extra conf pass-through for special-stage legs (e.g. bench_skew.sh
    // sizes the AQE skew-split thresholds to the local Zipf stage; tier-
    // forcing confs such as graft.lpa.broadcastNodes=0 let PlanDump show
    // the fallback plans); absent in the driver's official runs, so those
    // are untouched
    sys.env.get("SPARK_GRAFT_CONF").foreach(conf =>
      confPairs(conf).foreach { case (k, v) => builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `k=v;k=v` → trimmed pairs. A blank key is skipped (it would throw at
    * session build); the value keeps any `=` after the first. */
  def confPairs(conf: String): Seq[(String, String)] =
    conf.split(";").toSeq.flatMap(_.split("=", 2) match {
      case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
      case _                              => None
    })

  /** Registered query names to run: `default` when `SPARK_GRAFT_ONLY` is
    * unset, otherwise every registered name starting with one of its
    * comma-separated entries (blank entries ignored), in registry order. */
  def selected(default: Seq[String],
               only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[String] =
    only.map(_.split(",").map(_.trim).filter(_.nonEmpty)).fold(default) { ps =>
      SparkEntry.registry.map(_.name).filter(n => ps.exists(n.startsWith))
    }

  /** [[selected]] with every registered query as the default, as a
    * filtered `SparkEntry.queries` (whose iteration order it keeps). */
  def selectedQueries(): Map[String, (SparkSession, String) => DataFrame] = {
    val all = SparkEntry.queries
    val chosen = selected(all.keys.toSeq).toSet
    all.filter { case (name, _) => chosen(name) }
  }

  /** Cache hygiene between queries: clearCache drops the CacheManager
    * entries too (a bare RDD-unpersist leaves stale InMemoryRelations that
    * later matching plans silently recompute through); the RDD sweep after
    * it catches any persist that bypassed the CacheManager. */
  def sweep(spark: SparkSession): Unit = {
    graft.util.CacheOnce.sweepAll() // orphaned one-action listeners first
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Untimed warm-up: initialize codegen/JIT, the Hadoop FS layer and the
    * vectorized parquet reader once, so the first timed query measures the
    * query rather than JVM startup (standard benchmark methodology).
    * `names` are the queries about to run. */
  def warmup(spark: SparkSession, sfDir: String, names: Iterable[String]): Unit =
    try {
      spark.range(1 << 20).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
      // spin up the Structured Streaming machinery once (state store,
      // checkpoint plumbing, micro-batch planner) so the first timed
      // streaming query measures the query
      val q = spark.readStream.format("rate").option("numPartitions", "1").load()
        .groupBy().count()
        .writeStream.format("memory").queryName("bench_warmup")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // stop() in finally: an awaitTermination timeout must not leave the
      // warmup stream running under the first timed queries
      try q.awaitTermination(15000) finally q.stop()
      // second streaming warmup, production-shaped: file source + watermark +
      // session_window + RocksDB state store. r10's residual bench spread
      // concentrated in 5 streaming queries — first-touch provider/JNI and
      // state-store init, not plan noise — so pay those costs here, untimed.
      val wdir = graft.util.Scratch.dir("graft-bench-warmup").toString
      spark.range(200).selectExpr("id AS user_id",
        "timestamp_micros(1700000000000000 + id * 1000000) AS ts")
        .write.mode("overwrite").parquet(wdir)
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val savedProvider = spark.conf.getOption(providerKey)
      try {
        spark.conf.set(providerKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val wq = spark.readStream
          .schema(spark.read.parquet(wdir).schema).parquet(wdir)
          .withWatermark("ts", "1 hour")
          .groupBy(org.apache.spark.sql.functions.session_window(
            org.apache.spark.sql.functions.col("ts"), "10 minutes"),
            org.apache.spark.sql.functions.col("user_id"))
          .count()
          .writeStream.format("memory").queryName("bench_warmup_stream")
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try wq.awaitTermination(20000) finally wq.stop()
      } finally savedProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
      // pre-stage the streaming band's three-file corpus (one-time ~30s at
      // sf10) OUTSIDE the timed window: the first selected file-stream
      // query would otherwise pay fixture IO inside its measured reps
      // (r17 verdict item 5)
      if (names.exists(graft.streaming.StreamingOps.FileStreamQueries.contains))
        graft.streaming.StreamingOps.preStageEvents(spark, sfDir)
    } catch { case _: Throwable => () }
}
