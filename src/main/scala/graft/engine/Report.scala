package graft.engine

import org.apache.spark.sql.DataFrame

/** End-of-run tabulation: per-table (source rows, dest rows, ratio) —
  * the reference's `result_tabulator.py:6-22`. Counts go through
  * [[Catalog.rowCount]]: stored source tables are counted from their Parquet
  * footers with no Spark job; derived destination tables run a count job.
  * The tables are counted together through [[Parallel.run]], so their count
  * jobs overlap instead of paying each one's fixed cost in turn.
  */
object Report {

  final case class TableReport(table: String, sourceRows: Long, destRows: Long) {
    def ratio: Double = if (sourceRows == 0) 0.0 else destRows.toDouble / sourceRows
  }

  def tabulate(
      source: Map[String, DataFrame],
      dest: Map[String, DataFrame]): Seq[TableReport] =
    source.headOption.fold(Seq.empty[TableReport]) { case (_, any) =>
      Parallel.run(any.sparkSession, source.keys.toSeq.sorted.map { t => () =>
        TableReport(t, Catalog.rowCount(source(t)),
          dest.get(t).map(Catalog.rowCount).getOrElse(0L))
      })
    }

  def render(reports: Seq[TableReport]): String = {
    val header = f"${"table"}%-30s ${"source"}%12s ${"dest"}%12s ${"ratio"}%8s"
    val lines = reports.map(r =>
      f"${r.table}%-30s ${r.sourceRows}%12d ${r.destRows}%12d ${r.ratio}%8.4f")
    (header +: lines).mkString("\n")
  }
}
