package graft.queries

import graft.config._
import graft.engine.{Catalog, Parallel, Subsetter}
import graft.graph.Fk
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PlanBuilder

/** End-to-end verification of the middle-out subsetter: one canonical config
  * (FIXTURES.md "representative subset-config fixture", made deterministic
  * with a key-mod `where` instead of `percent`) is run once per scale factor
  * and each output table is exposed as a t2 query whose oracle is the
  * hand-written closure SQL. This is the strongest correctness check in the
  * suite — it validates phase ordering, semi/anti-join composition and
  * passthrough handling in one shot.
  */
object SubsetQueries {

  /** The 7 fixture FK records (FIXTURES.md §FK graph). */
  val fixtureFks: Seq[Fk] = Seq(
    Fk("nation", Seq("n_regionkey"), "region", Seq("r_regionkey")),
    Fk("customer", Seq("c_nationkey"), "nation", Seq("n_nationkey")),
    Fk("supplier", Seq("s_nationkey"), "nation", Seq("n_nationkey")),
    Fk("orders", Seq("o_custkey"), "customer", Seq("c_custkey")),
    Fk("lineitem", Seq("l_orderkey"), "orders", Seq("o_orderkey")),
    Fk("lineitem", Seq("l_partkey"), "part", Seq("p_partkey")),
    Fk("lineitem", Seq("l_suppkey"), "supplier", Seq("s_suppkey")))

  val starTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  val fixtureConfig: SubsetConfig = SubsetConfig(
    initialTargets = Seq(InitialTarget("orders", where = Some("o_orderkey % 10 = 0"))),
    passthroughTables = Seq("region"),
    fkAugmentation = fixtureFks,
    upstreamFilters = Seq(UpstreamFilter("l_quantity > 5", column = Some("l_quantity"))))

  /** A second scenario with TWO overlapping targets: customer is both a
    * direct target and downstream of sampled orders — exercising the
    * direct∪downstream overlap semantics (the downstream NOT-IN only fetches
    * ids missing from the already-imported table, so no duplicates).
    */
  val multiTargetConfig: SubsetConfig = SubsetConfig(
    initialTargets = Seq(
      InitialTarget("orders", where = Some("o_orderkey % 10 = 0")),
      InitialTarget("customer", where = Some("c_custkey % 7 = 0"))),
    passthroughTables = Seq("region"),
    fkAugmentation = fixtureFks)

  // One subsetter run per (session, sfDir, config): the Verify harness asks
  // for each output table as a separate query; recomputing the whole closure
  // per table would be wasted work (big outputs are checkpointed by the
  // Subsetter).
  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, DataFrame]]

  private def sourceFor(s: SparkSession, dir: String): Map[String, DataFrame] =
    Catalog.load(s, dir, starTables)

  /** The composite-key source catalog: the star tables plus a partsupp-like
    * parent keyed by (part, supplier), derived DETERMINISTICALLY from
    * lineitem (so the DuckDB oracle can derive the identical relation in
    * SQL). This is the multi-column-PK fixture the reference's composite-FK
    * path exercises against real schemas — the driver fixture has no
    * physical composite-key table, so the closure derives one.
    */
  def compositeSourceFor(
      s: SparkSession, dir: String): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.{col, count, min}
    val base = sourceFor(s, dir)
    val ps = base("lineitem")
      .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("ps_linecount"),
        min(col("l_orderkey")).as("ps_first_order"))
    Map("partsupp" -> ps, "lineitem" -> base("lineitem"),
      "orders" -> base("orders"), "part" -> base("part"),
      "supplier" -> base("supplier"))
  }

  /** Composite-FK scenario: target the derived partsupp, pull lineitem
    * upstream through the TWO-COLUMN key, then orders/part/supplier
    * downstream — the end-to-end middle-out closure over a composite key
    * edge (unit specs cover the helpers; this runs the whole orchestration
    * against the t2 oracle).
    */
  val compositeConfig: SubsetConfig = SubsetConfig(
    initialTargets = Seq(InitialTarget("partsupp",
      where = Some("(ps_partkey * 31 + ps_suppkey) % 7 = 0"))),
    fkAugmentation = Seq(
      Fk("lineitem", Seq("l_partkey", "l_suppkey"),
        "partsupp", Seq("ps_partkey", "ps_suppkey")),
      Fk("lineitem", Seq("l_orderkey"), "orders", Seq("o_orderkey")),
      Fk("partsupp", Seq("ps_partkey"), "part", Seq("p_partkey")),
      Fk("partsupp", Seq("ps_suppkey"), "supplier", Seq("s_suppkey"))))

  private def subsetOutput(
      s: SparkSession, dir: String, key: String, cfg: SubsetConfig,
      src: (SparkSession, String) => Map[String, DataFrame] = sourceFor)
      : Map[String, DataFrame] =
    cache.getOrElseUpdate(s"$dir#$key#${PlanBuilder.sessionUUID(s)}", {
      // every output table is consumed several times by this surface (its
      // own key + the report + downstream closures of sibling keys), so pin
      // each one once regardless of the Subsetter's size-aware policy, and
      // materialize all pinned caches as CONCURRENT jobs: the run costs the
      // wall-clock of the slowest table, not the serial sum.
      val out = new Subsetter(cfg, src(s, dir)).run()
        .map { case (t, df) => t -> df.persist() }
      Parallel.run(s, out.values.toSeq.map(df => () => df.count()))
      out
    })

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    starTables.map { table =>
      s"subset_out_$table" ->
        ((s: SparkSession, dir: String) =>
          subsetOutput(s, dir, "fixture", fixtureConfig)(table))
    }.toMap ++ Map(
      "subset2_out_customer" -> ((s: SparkSession, dir: String) =>
        subsetOutput(s, dir, "multi", multiTargetConfig)("customer")),
      "subset2_out_nation" -> ((s: SparkSession, dir: String) =>
        subsetOutput(s, dir, "multi", multiTargetConfig)("nation")),
      // G8 — the end-of-run result tabulation as a relation: the rows
      // SubsetRunner prints
      "subset_report" -> ((s: SparkSession, dir: String) =>
        s.createDataFrame(graft.engine.Report.tabulate(
            sourceFor(s, dir), subsetOutput(s, dir, "fixture", fixtureConfig))
          .map(r => (r.table, r.sourceRows, r.destRows, r.ratio)))
          .toDF("table_name", "source_rows", "dest_rows", "ratio"))) ++
      Seq("partsupp", "lineitem", "orders", "part", "supplier").map { table =>
        s"subset3_out_$table" ->
          ((s: SparkSession, dir: String) => subsetOutput(
            s, dir, "composite", compositeConfig, compositeSourceFor)(table))
      }.toMap

  // Hand-derived closure SQL: orders = direct sample; lineitem = semi-join +
  // upstream filter; customer/part/supplier = downstream needs of those;
  // nation = needs of customer+supplier; region = passthrough.
  private val cte: String =
    "WITH ord AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0), " +
      "li AS (SELECT * FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM ord) AND l_quantity > 5), " +
      "cust AS (SELECT * FROM customer WHERE c_custkey IN (SELECT o_custkey FROM ord)), " +
      "supp AS (SELECT * FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM li)), " +
      "prt AS (SELECT * FROM part WHERE p_partkey IN (SELECT l_partkey FROM li)), " +
      "nat AS (SELECT * FROM nation WHERE n_nationkey IN " +
      "(SELECT c_nationkey FROM cust UNION SELECT s_nationkey FROM supp)) "

  private val cte2: String =
    "WITH ord AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0), " +
      "cust AS (SELECT * FROM customer WHERE c_custkey % 7 = 0 " +
      "OR c_custkey IN (SELECT o_custkey FROM ord)), " +
      "li AS (SELECT * FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM ord)), " +
      "supp AS (SELECT * FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM li)), " +
      "nat AS (SELECT * FROM nation WHERE n_nationkey IN " +
      "(SELECT c_nationkey FROM cust UNION SELECT s_nationkey FROM supp)) "

  private def reportRow(table: String, destRel: String): String =
    s"SELECT '$table' AS table_name, (SELECT count(*) FROM $table) AS source_rows, " +
      s"(SELECT count(*) FROM $destRel) AS dest_rows, " +
      s"CAST((SELECT count(*) FROM $destRel) AS DOUBLE) / " +
      s"(SELECT count(*) FROM $table) AS ratio"

  // Composite-key closure, derived partsupp included. MATERIALIZED: DuckDB
  // inlines multiply-referenced CTEs (pssel feeds three closures, li two).
  private val cte3: String =
    "WITH ps AS MATERIALIZED (SELECT l_partkey AS ps_partkey, " +
      "l_suppkey AS ps_suppkey, count(*) AS ps_linecount, " +
      "min(l_orderkey) AS ps_first_order FROM lineitem GROUP BY 1, 2), " +
      "pssel AS MATERIALIZED (SELECT * FROM ps " +
      "WHERE (ps_partkey * 31 + ps_suppkey) % 7 = 0), " +
      "li AS MATERIALIZED (SELECT * FROM lineitem l WHERE EXISTS " +
      "(SELECT 1 FROM pssel p WHERE p.ps_partkey = l.l_partkey " +
      "AND p.ps_suppkey = l.l_suppkey)), " +
      "ord AS (SELECT * FROM orders WHERE o_orderkey IN " +
      "(SELECT l_orderkey FROM li)), " +
      "prt AS (SELECT * FROM part WHERE p_partkey IN " +
      "(SELECT ps_partkey FROM pssel)), " +
      "supp AS (SELECT * FROM supplier WHERE s_suppkey IN " +
      "(SELECT ps_suppkey FROM pssel)) "

  val oracles: Map[String, String] = Map(
    "subset3_out_partsupp" -> (cte3 + "SELECT * FROM pssel"),
    "subset3_out_lineitem" -> (cte3 + "SELECT * FROM li"),
    "subset3_out_orders" -> (cte3 + "SELECT * FROM ord"),
    "subset3_out_part" -> (cte3 + "SELECT * FROM prt"),
    "subset3_out_supplier" -> (cte3 + "SELECT * FROM supp"),
    "subset_report" -> (cte +
      Seq(
        reportRow("customer", "cust"), reportRow("lineitem", "li"),
        reportRow("nation", "nat"), reportRow("orders", "ord"),
        reportRow("part", "prt"), reportRow("region", "region"),
        reportRow("supplier", "supp")).mkString(" UNION ALL ")),
    "subset2_out_customer" -> (cte2 + "SELECT * FROM cust"),
    "subset2_out_nation" -> (cte2 + "SELECT * FROM nat"),
    "subset_out_region" -> "SELECT * FROM region",
    "subset_out_orders" -> (cte + "SELECT * FROM ord"),
    "subset_out_lineitem" -> (cte + "SELECT * FROM li"),
    "subset_out_customer" -> (cte + "SELECT * FROM cust"),
    "subset_out_supplier" -> (cte + "SELECT * FROM supp"),
    "subset_out_part" -> (cte + "SELECT * FROM prt"),
    "subset_out_nation" -> (cte + "SELECT * FROM nat"))
}
