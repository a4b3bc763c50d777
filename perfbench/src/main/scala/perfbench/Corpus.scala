package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's inputs, made from nothing but a fixed corpus seed.
  *
  * `base` writes an sf0.1-shaped star schema with the same table names,
  * column types, row counts and value domains as the project's test tables
  * (TESTDATA.md): uniform keys, TPC-H-like enumerations, an `events` stream
  * with monotone timestamps, a `documents` table whose texts carry exact
  * and near duplicates, and 64-wide label-clustered `embeddings`. Every
  * value is a pure function of (corpus seed, row id), so two machines
  * produce the same rows.
  *
  * `census` is the input guard's evidence: per table, the row count and an
  * order-independent content hash (the sum of one 64-bit hash per row).
  */
object Corpus {
  val CorpusSeed = 42L

  /** Uniform [0, 1) from (row id, salt): the generator's only randomness. */
  private def u(id: Column, salt: Int): Column =
    (pmod(xxhash64(lit(CorpusSeed), lit(salt), id), lit(1L << 40)).cast("double") /
      (1L << 40).toDouble)
  private def pick(id: Column, salt: Int, n: Int): Column =
    floor(u(id, salt) * n).cast("int")
  private def oneOf(id: Column, salt: Int, vals: Seq[String]): Column =
    element_at(array(vals.map(lit): _*), pick(id, salt, vals.size) + 1)
  private def money(id: Column, salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(id, salt) * (hi - lo), 2)
  private def day(id: Column, salt: Int, start: String, days: Int): Column =
    to_timestamp(date_add(to_date(lit(start)), pick(id, salt, days)))

  private val Words = Seq(
    "a", "the", "batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "join", "customer")

  def base(spark: SparkSession, out: String): Unit = {
    def ids(n: Long) = spark.range(n).withColumnRenamed("id", "k")
    val k = col("k")
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name.parquet")

    save(spark.createDataFrame(Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST"))).toDF("r_regionkey", "r_name"), "region")
    save(ids(25).select(k.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), k).as("n_name"),
      (k % 5).cast("int").as("n_regionkey")), "nation")
    save(ids(15000).select(k.as("c_custkey"),
      format_string("Customer#%09d", k).as("c_name"),
      pick(k, 1, 25).as("c_nationkey"),
      money(k, 2, -999.99, 9999.99).as("c_acctbal"),
      oneOf(k, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")), "customer")
    save(ids(1000).select(k.as("s_suppkey"),
      format_string("Supplier#%09d", k).as("s_name"),
      pick(k, 4, 25).as("s_nationkey"),
      money(k, 5, -999.99, 9999.99).as("s_acctbal")), "supplier")
    save(ids(20000).select(k.as("p_partkey"),
      concat_ws(" ",
        oneOf(k, 6, Seq("blue", "hot", "large", "small", "red", "cold",
          "green", "bright")),
        oneOf(k, 7, Seq("ring", "bolt", "anvil", "widget", "gear", "nut",
          "spring", "valve"))).as("p_name"),
      concat(lit("Brand#"), pick(k, 8, 25) + 1).as("p_brand"),
      oneOf(k, 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (pick(k, 10, 50) + 1).as("p_size"),
      (lit(900.0) + (k % 1000) / 10.0).as("p_retailprice")), "part")
    save(ids(150000).select(k.as("o_orderkey"),
      pick(k, 11, 15000).cast("long").as("o_custkey"),
      oneOf(k, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(k, 13, 1000.0, 500000.0).as("o_totalprice"),
      day(k, 14, "1995-01-01", 2405).as("o_orderdate"),
      oneOf(k, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")), "orders")
    save(ids(600000).select(
      pick(k, 16, 150000).cast("long").as("l_orderkey"),
      pick(k, 17, 20000).cast("long").as("l_partkey"),
      pick(k, 18, 1000).cast("long").as("l_suppkey"),
      (pick(k, 19, 7) + 1).as("l_linenumber"),
      (pick(k, 20, 50) + 1).cast("double").as("l_quantity"),
      money(k, 21, 900.0, 105000.0).as("l_extendedprice"),
      round(u(k, 22) * 0.1, 2).as("l_discount"),
      round(u(k, 23) * 0.08, 2).as("l_tax"),
      oneOf(k, 24, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(k, 25, Seq("F", "O")).as("l_linestatus"),
      day(k, 26, "1995-01-02", 2499).as("l_shipdate")), "lineitem")
    // monotone arrival times: one ~26 s slot per event, jittered inside it
    val slotMicros = 30L * 86400L * 1000000L / 100000L
    save(ids(100000).select(k.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + k * slotMicros +
        floor(u(k, 27) * slotMicros).cast("long")).as("ts"),
      pick(k, 28, 1500).cast("long").as("user_id"),
      oneOf(k, 29, Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      round(-log(lit(1.0) - u(k, 30) * 0.99999) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", pick(k, 31, 100)).as("props")), "events")
    // documents: 2% exact copies and 8% near copies (one word in ten
    // redrawn) of an earlier document, the rest original
    val kind = u(k, 32)
    val srcDoc = when(kind < 0.10 && k > 0, pick(k, 33, 1 << 30) % k)
      .otherwise(k)
    val words = array(Words.map(lit): _*)
    val docs = ids(5000).select(k, srcDoc.as("s"), kind.as("kind"))
      .select(col("k"), col("kind"),
        transform(sequence(lit(1), pick(col("s"), 34, 91) + 10), i =>
          when(col("kind") >= 0.02 && col("kind") < 0.10 &&
              u(col("k") * 1000 + i, 35) < 0.1,
            element_at(words, pick(col("k") * 1000 + i, 36, Words.size) + 1))
            .otherwise(element_at(words,
              pick(col("s") * 1000 + i, 37, Words.size) + 1))).as("w"))
      .select(col("k").as("doc_id"), array_join(col("w"), " ").as("text"),
        oneOf(col("k"), 38, Seq("en", "en", "en", "de", "es", "fr", "zh"))
          .as("lang"),
        concat(lit("src"), col("k") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    save(docs, "documents")
    // embeddings: label centre plus noise, unit-normalised
    val dims = 64
    val label = pick(k, 39, 10)
    val raw = transform(sequence(lit(0), lit(dims - 1)), d =>
      (u(label * 1000 + d, 40) - 0.5) * 1.5 + (u(k * 1000 + d, 41) - 0.5))
    save(ids(2000).select(k.as("vec_id"), raw.as("e"), label.as("label"))
      .select(col("vec_id"),
        transform(col("e"), x => (x / sqrt(aggregate(col("e"), lit(0.0),
          (acc, y) => acc + y * y)))).cast("array<float>").as("embedding"),
        col("label")), "embeddings")
  }

  /** (rows, order-independent content hash) per table of a corpus dir. */
  def census(spark: SparkSession, dir: String): Seq[(String, Long, String)] =
    graft.Tables.all.map { t =>
      val df = spark.read.parquet(s"$dir/$t.parquet")
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
        .head()
      (t, r.getLong(0), String.valueOf(r.get(1)))
    }

  /** Bytes of every regular file under `dir`, for the staging stamp. */
  def fileSizes(dir: Path): Seq[(String, Long)] = {
    val s = Files.walk(dir)
    try {
      val it = s.iterator()
      val b = Seq.newBuilder[(String, Long)]
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
          b += dir.relativize(p).toString -> Files.size(p)
      }
      b.result().sortBy(_._1)
    } finally s.close()
  }
}
