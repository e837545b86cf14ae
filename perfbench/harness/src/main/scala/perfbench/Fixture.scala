package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the benchmark's source catalog: the
  * TPC-H-like star schema plus the `events`, `documents` and `embeddings`
  * tables, with the column names, Parquet types and value distributions of
  * the repository's sf fixtures (FIXTURES.md). Every value is a pure
  * function of (fixture seed, table, row id, column), so the same scale
  * always yields byte-identical tables, independent of the workload seed.
  *
  * Row counts scale linearly from the sf0.001 shape: at sf0.1 that is
  * 600k lineitem, 150k orders, 100k events, 5k documents, 2k embeddings.
  */
object Fixture {

  val FixtureSeed = 42L

  // marker written last: a directory without it is an interrupted write
  private val DoneMarker = "_FIXTURE_DONE"

  def isComplete(dir: String): Boolean = Files.exists(Paths.get(dir, DoneMarker))

  def markComplete(dir: String): Unit =
    Files.writeString(Paths.get(dir, DoneMarker), "ok\n")

  /** Uniform double in [0, 1) from (seed, salt, id). */
  private def unif(salt: Int, id: Column): Column =
    (xxhash64(lit(FixtureSeed), lit(salt), id).bitwiseAND(lit((1L << 53) - 1))
      .cast("double") / lit((1L << 53).toDouble))

  /** Uniform integer in [0, n). */
  private def pick(salt: Int, id: Column, n: Long): Column =
    floor(unif(salt, id) * n).cast("long")

  private def oneOf(salt: Int, id: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(salt, id, xs.size) + 1).cast("int"))

  private val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "shuffle", "slow", "small",
    "sort", "spark", "stage", "stream", "table", "task", "value", "vector",
    "window")

  def generate(spark: SparkSession, sf: Double, out: String): Unit = {
    def n(base: Long): Long = math.max(1L, math.round(base * sf * 1000))
    def rows(count: Long): DataFrame = spark.range(0L, count, 1L, 1).toDF()
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name.parquet")
    val id = col("id")

    write("region", rows(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (id + 1).cast("int")).as("r_name")))
    write("nation", rows(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    val nCust = n(150)
    write("customer", rows(nCust).select(id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      pick(1, id, 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + unif(2, id) * 10999.98, 2).as("c_acctbal"),
      oneOf(3, id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")))
    val nSupp = n(10)
    write("supplier", rows(nSupp).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), lpad(id.cast("string"), 9, "0")).as("s_name"),
      pick(4, id, 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + unif(5, id) * 10999.98, 2).as("s_acctbal")))
    val nPart = n(200)
    write("part", rows(nPart).select(id.as("p_partkey"),
      concat_ws(" ",
        oneOf(6, id, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
        oneOf(7, id, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
          "widget"))).as("p_name"),
      concat(lit("Brand#"), (pick(8, id, 25) + 1).cast("string")).as("p_brand"),
      oneOf(9, id, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (pick(10, id, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice")))
    val nOrd = n(1500)
    val ordEpoch = lit("1995-01-01").cast("date")
    write("orders", rows(nOrd).select(id.as("o_orderkey"),
      pick(11, id, nCust).as("o_custkey"),
      oneOf(12, id, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + unif(13, id) * 499000.0, 2).as("o_totalprice"),
      date_add(ordEpoch, pick(14, id, 2404).cast("int"))
        .cast("timestamp_ntz").as("o_orderdate"),
      oneOf(15, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    write("lineitem", rows(n(6000)).select(
      pick(16, id, nOrd).as("l_orderkey"),
      pick(17, id, nPart).as("l_partkey"),
      pick(18, id, nSupp).as("l_suppkey"),
      (pick(19, id, 7) + 1).cast("int").as("l_linenumber"),
      (pick(20, id, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + unif(21, id) * 104099.0, 2).as("l_extendedprice"),
      (pick(22, id, 11).cast("double") / 100).as("l_discount"),
      (pick(23, id, 9).cast("double") / 100).as("l_tax"),
      oneOf(24, id, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(25, id, Seq("F", "O")).as("l_linestatus"),
      date_add(lit("1995-01-02").cast("date"), pick(26, id, 2499).cast("int"))
        .cast("timestamp_ntz").as("l_shipdate")))
    // events: increasing timestamps over 30 days, one step per event id
    val nEv = n(1000)
    val stepUs = 30L * 86400L * 1000000L / nEv
    write("events", rows(nEv).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * stepUs + pick(27, id, stepUs))
        .cast("timestamp_ntz").as("ts"),
      pick(28, id, 1500).as("user_id"),
      oneOf(29, id, Seq("click", "error", "purchase", "signup", "view", "view",
        "click", "view")).as("event_type"),
      round(-log1p(-unif(30, id)) * 80.0, 2).as("value"),
      concat(lit("{\"k\": "), pick(31, id, 100).cast("string"), lit("}")).as("props")))
    // documents: a small shared vocabulary; ~1% exact copies and ~3% near
    // copies (every 7th token redrawn) of a recent document, so the dedup
    // and similarity kernels find real pairs
    val nDoc = n(50)
    val roll = unif(32, id)
    val tmpl = when(roll < 0.04 && id > 0,
      id - 1 - pick(33, id, 40) % greatest(id, lit(1L))).otherwise(id)
    val nWords = (pick(34, col("tmpl"), 96) + 5).cast("int")
    val vocab = array(Vocab.map(lit): _*)
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(vocab, (pmod(xxhash64(lit(FixtureSeed), lit(35), col("tmpl"), i,
        when(col("near") && pmod(i, lit(7)) === 0, col("id")).otherwise(lit(-1L))),
        lit(Vocab.size.toLong)) + 1).cast("int")))
    write("documents", rows(nDoc)
      .select(id, tmpl.as("tmpl"), (roll >= 0.01 && roll < 0.04).as("near"))
      .select(id.as("doc_id"), array_join(words, " ").as("text"),
        oneOf(36, id, Seq("en", "en", "en", "en", "en", "de", "es", "fr", "zh"))
          .as("lang"),
        concat(lit("src"), pick(37, id, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars"))
    // embeddings: 64-dim vectors around one of 10 label centroids
    val label = pick(38, id, 10)
    write("embeddings", rows(n(20)).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        (((unif(39, label * 64 + j) - 0.5) * 0.5) +
          ((unif(40, id * 64 + j) - 0.5) * 0.3)).cast("float")).as("embedding"),
      label.cast("int").as("label")))
    markComplete(out)
  }
}
