package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes the benchmark's input tables: the ten fixture tables of the
  * graft corpus (region … embeddings) with the fixture schemas and value
  * domains, at `scale` times the sf0.1 row counts. Every value is hash
  * arithmetic on the row id, so a corpus is a pure function of
  * (scale, layout) and two checkouts generate identical bytes.
  *
  * Each table is a parquet DIRECTORY `<out>/<name>.parquet/` of `files`
  * part files: `Tables.t` reads it like a single fixture file, DuckDB
  * reads the part files under it, and with many files the scan splits
  * into at least one task per core (the multi-file layout the scaling
  * probe uses). The fact tables follow the GenScale generator's domains
  * (31-word text vocabulary, 5-doc exact-duplicate blocks, five event
  * types, dense order keys, four lines per order). */
object Corpus {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def write(spark: SparkSession, out: String, scale: Double,
      files: Int): Unit = {
    def n(base: Long): Long = math.max(1L, math.round(base * scale))
    def h(c: Column, salt: Long): Column =
      pmod(xxhash64(c + lit(salt)), lit(1000000007L))
    def pick(c: Column, salt: Long, vals: Seq[String]): Column =
      element_at(array(vals.map(lit): _*),
        (h(c, salt) % vals.size).cast("int") + 1)
    def save(name: String, df: DataFrame, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
    val id = col("id")

    save("region", spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), id.cast("int") + 1).as("r_name")), 1)
    save("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), 1)

    val nCust = n(15000L)
    save("customer", spark.range(nCust).select(id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      (h(id, 101) % 25).cast("int").as("c_nationkey"),
      round((h(id, 102) % 1100000).cast("double") / 100.0 - 1000.0, 2)
        .as("c_acctbal"),
      pick(id, 103, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")), 1)
    save("supplier", spark.range(1000).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), lpad(id.cast("string"), 9, "0")).as("s_name"),
      (h(id, 104) % 25).cast("int").as("s_nationkey"),
      round((h(id, 105) % 1100000).cast("double") / 100.0 - 1000.0, 2)
        .as("s_acctbal")), 1)
    save("part", spark.range(20000).select(id.as("p_partkey"),
      concat_ws(" ", pick(id, 106, Seq("blue", "cold", "hot", "large", "new",
        "old", "red", "small")), pick(id, 107, Seq("anvil", "bolt", "gear",
        "gizmo", "plate", "ring", "rod", "widget"))).as("p_name"),
      concat(lit("Brand#"), h(id, 108) % 25 + 1).as("p_brand"),
      pick(id, 109, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (h(id, 110) % 50 + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000).cast("double") / 10.0, 1)
        .as("p_retailprice")), 1)

    // documents: 10–100 tokens from the fixture vocabulary; dup
    // membership is decided per 5-doc block so ~20% of documents sit in
    // genuine 5-doc exact-duplicate groups
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
      "data", "dup", "fast", "filter", "group", "hash", "join", "key",
      "line", "merge", "order", "part", "query", "row", "scan", "slow",
      "small", "sort", "spark", "stream", "table", "the", "value",
      "vector", "window")
    val nDocs = n(5000L)
    val block = (id / 5).cast("long") * 5
    save("documents", spark.range(nDocs).select(id.as("doc_id"),
      when(h(block, 1) % 10 < 2, block + lit(nDocs)).otherwise(id).as("seed"))
      .select(col("doc_id"),
        concat_ws(" ", transform(
          sequence(lit(1), (h(col("seed"), 2) % 91).cast("int") + 10),
          j => element_at(array(vocab.map(lit): _*),
            pmod(xxhash64(col("seed") * 128 + j), lit(vocab.size.toLong))
              .cast("int") + 1))).as("text"))
      .select(col("doc_id"), col("text"),
        when(h(col("doc_id"), 3) % 100 < 41, "en")
          .when(h(col("doc_id"), 3) % 100 < 56, "zh")
          .when(h(col("doc_id"), 3) % 100 < 71, "es")
          .when(h(col("doc_id"), 3) % 100 < 86, "fr")
          .otherwise("de").as("lang"),
        concat(lit("src"), h(col("doc_id"), 4) % 20).as("source"),
        length(col("text")).cast("long").as("n_chars")), files)

    // embeddings: 64-d floats, 10 labels with a component-0 class bias
    save("embeddings", spark.range(n(2000L)).select(id.as("vec_id"),
      (h(id, 7) % 10).cast("int").as("label"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          ((pmod(xxhash64(col("vec_id") * 64 + i), lit(1000L)).cast("double")
            / 500.0 - 1.0) + when(i === 0, col("label").cast("double") / 5.0)
            .otherwise(lit(0.0))).cast("float")).as("embedding"),
        col("label")), files)

    // events: a 30-day January-2024 span with per-event jitter, five
    // types, exponential-ish values (mean ≈ 50), {"k": n} props
    val nEvents = n(100000L)
    val janUs = 1704067200000000L
    val stepUs = 30L * 24 * 3600 * 1000000L / nEvents
    save("events", spark.range(nEvents).select(id.as("event_id"),
      timestamp_micros(lit(janUs) + id * lit(stepUs) + h(id, 8) % lit(stepUs))
        .as("ts"),
      (h(id, 9) % nCust).as("user_id"),
      pick(id, 10, Seq("click", "view", "purchase", "signup", "error"))
        .as("event_type"),
      round(-lit(50.0) * log((h(id, 11) % 100000 + 1).cast("double") /
        100000.0), 2).as("value"),
      concat(lit("{\"k\": "), h(id, 12) % 100, lit("}")).as("props")), files)

    val nOrders = n(150000L)
    save("orders", spark.range(nOrders).select(id.as("o_orderkey"),
      (h(id, 13) % nCust).as("o_custkey"),
      pick(id, 14, Seq("O", "P", "F")).as("o_orderstatus"),
      round((h(id, 15) % 45000000).cast("double") / 100.0, 2)
        .as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + (h(id, 16) % 2400) * lit(86400L))
        .as("o_orderdate"),
      pick(id, 17, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT", "5-LOW"))
        .as("o_orderpriority")), files)

    save("lineitem", spark.range(nOrders * 4).select(
      (id / 4).cast("long").as("l_orderkey"),
      (h(id, 18) % 20000).as("l_partkey"),
      (h(id, 19) % 1000).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      (h(id, 20) % 50 + 1).cast("double").as("l_quantity"),
      round((h(id, 21) % 9000000).cast("double") / 100.0 + 900.0, 2)
        .as("l_extendedprice"),
      ((h(id, 22) % 11).cast("double") / 100.0).as("l_discount"),
      ((h(id, 23) % 9).cast("double") / 100.0).as("l_tax"),
      pick(id, 24, Seq("R", "A", "N")).as("l_returnflag"),
      pick(id, 25, Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(lit(788918400L) + (h(id, 26) % 2500) * lit(86400L))
        .as("l_shipdate")), files)
  }
}
