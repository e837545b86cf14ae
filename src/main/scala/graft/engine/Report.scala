package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-of-run tabulation: per-table (source rows, dest rows, ratio) —
  * the reference's `result_tabulator.py:6-22`. Counts go through
  * [[Catalog.rowCount]]: stored source tables are counted from their Parquet
  * footers with no Spark job; derived destination tables run a count job.
  */
object Report {

  final case class TableReport(table: String, sourceRows: Long, destRows: Long) {
    def ratio: Double = if (sourceRows == 0) 0.0 else destRows.toDouble / sourceRows
  }

  def tabulate(
      source: Map[String, DataFrame],
      dest: Map[String, DataFrame]): Seq[TableReport] =
    source.keys.toSeq.sorted.map { t =>
      TableReport(t, Catalog.rowCount(source(t)),
        dest.get(t).map(Catalog.rowCount).getOrElse(0L))
    }

  /** The same report as a single lazy DataFrame: one Spark job computing all
    * per-table count aggregates in parallel, instead of 2N serial driver-side
    * `count()` actions. Each side collapses to a 1-row aggregate (a scan:
    * Spark's V1 parquet source answers no aggregate from footers), so the
    * cross join is a trivial 1×1 nested loop.
    */
  def tabulateDf(
      spark: SparkSession,
      source: Map[String, DataFrame],
      dest: Map[String, DataFrame]): DataFrame =
    source.keys.toSeq.sorted.map { t =>
      val s = source(t).groupBy().agg(count(lit(1)).as("source_rows"))
      val d = dest.get(t)
        .map(_.groupBy().agg(count(lit(1)).as("dest_rows")))
        .getOrElse(spark.range(1).select(lit(0L).as("dest_rows")))
      s.crossJoin(d).select(
        lit(t).as("table_name"),
        col("source_rows"),
        col("dest_rows"),
        when(col("source_rows") === 0, lit(0.0))
          .otherwise(col("dest_rows").cast("double") / col("source_rows"))
          .as("ratio"))
    }.reduceOption(_ unionByName _)
      // empty catalog → empty report with the same schema, not a throw
      .getOrElse(spark.emptyDataFrame
        .select(lit("").as("table_name"), lit(0L).as("source_rows"),
          lit(0L).as("dest_rows"), lit(0.0).as("ratio")))

  def render(reports: Seq[TableReport]): String = {
    val header = f"${"table"}%-30s ${"source"}%12s ${"dest"}%12s ${"ratio"}%8s"
    val lines = reports.map(r =>
      f"${r.table}%-30s ${r.sourceRows}%12d ${r.destRows}%12d ${r.ratio}%8.4f")
    (header +: lines).mkString("\n")
  }
}
