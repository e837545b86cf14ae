package perfbench

import graft.graph.Fk
import graft.queries.SubsetQueries
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Seeded inputs of the workloads. The seed reaches the program only
  * through these generated inputs: the subset config (as JSON, parsed by
  * `SubsetConfig.fromJson`) and the order of the operator keys.
  */
object Workloads {

  val Names: Seq[String] = Seq("subset_closure", "ops_mix")

  /** Scale of the generated source catalog the workloads read. */
  val BaseScale = 0.1
  /** Ops per `subset_closure` run; traced runs make twice as many. */
  val SubsetOps = 3
  /** Untimed subset jobs before the first timed op. The first timed op
    * after a single warm-up job still ran ~20 % slower than the next two.
    */
  val SubsetWarmOps = 2

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def arr(xs: Seq[String]): String = xs.map(q).mkString("[", ", ", "]")

  private def fkJson(fk: Fk): String =
    s"""{"fk_table": ${q(fk.fkTable)}, "fk_columns": ${arr(fk.fkCols)}, """ +
      s""""target_table": ${q(fk.targetTable)}, "target_columns": ${arr(fk.targetCols)}}"""

  /** `SubsetQueries.fixtureConfig` with the target remainder taken from the
    * seed: `o_orderkey % 10 = seed mod 10`. Only the `where` differs
    * between seeds.
    */
  def closureConfigJson(seed: Long): String = {
    val base = SubsetQueries.fixtureConfig
    val filters = base.upstreamFilters.map(f =>
      s"""{"condition": ${q(f.condition)}""" +
        f.column.map(c => s""", "column": ${q(c)}""").getOrElse("") + "}")
    s"""{
       |  "initial_targets": [{"table": "orders", "where": ${q(closureWhere(seed))}}],
       |  "passthrough_tables": ${arr(base.passthroughTables)},
       |  "excluded_tables": [],
       |  "dependency_breaks": [],
       |  "fk_augmentation": [${base.fkAugmentation.map(fkJson).mkString(", ")}],
       |  "upstream_filters": [${filters.mkString(", ")}],
       |  "max_rows_per_table": null,
       |  "keep_disconnected_tables": ${base.keepDisconnectedTables}
       |}""".stripMargin
  }

  def closureWhere(seed: Long): String = s"o_orderkey % 10 = ${Math.floorMod(seed, 10L)}"

  /** Operator keys of `ops_mix`: sub-second keys spread over the core,
    * events, data-quality, sketch and privacy families, plus the keys that
    * consume the codegen kernels. Excluded: `subset*` keys (memoized per
    * session), keys reading a pinned relation, keys reading an on-disk
    * index.
    */
  val SubSecondKeys: Seq[String] = Seq(
    "q1_pricing_summary", "q13_customer_distribution", "events_dau_mau",
    "events_retention_cohorts", "orders_column_profile", "table_stats_orders",
    "hll_union_sources", "value_quantile_sketch", "privacy_kanon_customer",
    "privacy_dp_geometric_counts")

  val KernelKeys: Seq[String] = Seq(
    "basket_pairs_topk", "er_blocking_eval",
    "embedding_top_component", "text_repetition_score")

  val OpsMixKeys: Seq[String] = SubSecondKeys ++ KernelKeys

  /** One pass over the keys in a seeded order; pass `p` of a run reshuffles. */
  def keyOrder(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(OpsMixKeys.sorted)

  /** Order-independent fingerprint aggregate of a result: its row count and
    * the sum of a per-row hash. Floating-point columns are hashed after a
    * cast to FLOAT, so summation-order noise in the last bits of a DOUBLE
    * does not change the fingerprint.
    */
  def fingerprintColumns(df: DataFrame): Seq[Column] = {
    import org.apache.spark.sql.types._
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => c.cast("float")
      case _: DecimalType => c.cast("double").cast("float")
      case ArrayType(et, _) => transform(c, x => norm(x, et))
      case st: StructType => struct(st.fields.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
      case _ => c
    }
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    Seq(count(lit(1)).as("fp_rows"),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")).cast("string").as("fp_hash"))
  }
}
