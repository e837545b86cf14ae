package perfbench

import graft.config.SubsetConfig
import graft.engine.Report.TableReport
import graft.graph.{Fk, FkGraph}
import graft.queries.SubsetQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Output checks. They run after an op's timed window and never inside it. */
object Checks {

  /** Rows of each FK edge's child table whose (non-null) key has no parent
    * row in the same catalog. A referentially closed subset has 0 on every
    * edge.
    */
  def danglingRefs(cfg: SubsetConfig, tables: Map[String, DataFrame]): Seq[(Fk, Long)] =
    cfg.fkAugmentation.flatMap { fk =>
      for (child <- tables.get(fk.fkTable); parent <- tables.get(fk.targetTable)) yield {
        val c = child.alias("c")
        val p = parent.alias("p")
        val keys = fk.fkCols.zip(fk.targetCols)
          .map { case (a, b) => c(a) === p(b) }.reduce(_ && _)
        val nonNull = fk.fkCols.map(a => c(a).isNotNull).reduce(_ && _)
        fk -> c.filter(nonNull).join(p, keys, "left_anti").count()
      }
    }

  /** Problems found in one subset op's written output; empty when it passes.
    *
    *   - no dangling reference on any FK edge;
    *   - passthrough tables, and disconnected tables when kept, equal
    *     their source row counts;
    *   - the op's report agrees with the written and source row counts.
    *
    * Also returns the written row counts.
    */
  def subsetProblems(
      spark: SparkSession,
      cfg: SubsetConfig,
      sourceCounts: Map[String, Long],
      outDir: String,
      report: Seq[TableReport]): (Map[String, Long], Seq[String]) = {
    val written = graft.engine.Catalog.loadDir(spark, outDir)
    val counts = written.map { case (t, df) => t -> df.count() }
    val problems = Seq.newBuilder[String]
    danglingRefs(cfg, written).foreach { case (fk, n) =>
      if (n != 0) problems += s"$n dangling ${fk.fkTable}(${fk.fkCols.mkString(",")}) -> ${fk.targetTable}"
    }
    val whole = cfg.passthroughTables ++ (if (cfg.keepDisconnectedTables)
      FkGraph.disconnectedTables(cfg.targetTables, cfg.passthroughTables,
        sourceCounts.keys.toSeq.sorted, cfg.fkAugmentation) else Nil)
    whole.distinct.foreach { t =>
      if (!counts.get(t).contains(sourceCounts(t)))
        problems += s"$t has ${counts.get(t)} rows, source has ${sourceCounts(t)}"
    }
    report.foreach { r =>
      if (!counts.get(r.table).contains(r.destRows) || !sourceCounts.get(r.table).contains(r.sourceRows))
        problems += s"report row ${r.table} (${r.sourceRows}, ${r.destRows}) disagrees with the catalogs"
    }
    if (report.map(_.table).toSet != sourceCounts.keySet)
      problems += s"report covers ${report.map(_.table).sorted}"
    (counts, problems.result())
  }

  /** Row counts of the hand-derived closure SQL in `SubsetQueries.oracles`,
    * with the target remainder of this seed, for every source table (0 for
    * tables the fixture config does not keep).
    */
  def closureCounts(spark: SparkSession, source: Map[String, DataFrame], seed: Long): Map[String, Long] = {
    source.foreach { case (t, df) => df.createOrReplaceTempView(t) }
    val where = Workloads.closureWhere(seed)
    source.keys.map { t =>
      val n = SubsetQueries.oracles.get(s"subset_out_$t") match {
        case Some(sql) =>
          spark.sql(s"SELECT count(*) FROM (${sql.replace("o_orderkey % 10 = 0", where)})")
            .head().getLong(0)
        case None => 0L
      }
      t -> n
    }.toMap
  }
}
