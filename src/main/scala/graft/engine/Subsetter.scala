package graft.engine

import graft.config.{InitialTarget, SubsetConfig}
import graft.graph.{Fk, FkGraph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The middle-out subsetting planner/executor — a faithful re-expression of
  * the reference's phase structure (/root/reference/subset.py:40-97) on lazy
  * DataFrames:
  *
  *   direct targets → greedy upstream → passthrough → downstream closure →
  *   (optionally) disconnected tables.
  *
  * Differences forced by the execution model, per SURVEY.md §3.2/§4.4:
  *   - the reference's stage-whole-table-then-filter workaround
  *     (/root/reference/subset.py:130-148) is unnecessary: semi-joins stay
  *     lazy and Catalyst pushes work down;
  *   - the downstream 100k-id IN-list chunking
  *     (/root/reference/subset.py:189-201) becomes a distributed anti-join +
  *     semi-join — no data ever crosses the driver;
  *   - each phase mutation is cut with `localCheckpoint` to stop the
  *     iterative union loop from building exponential lineage — the moral
  *     equivalent of the reference materializing into real destination
  *     tables at every step (/root/reference/subset.py:117,147,202). On a
  *     real cluster, swap `materialize` for a reliable checkpoint or an
  *     intermediate Parquet write.
  */
final class Subsetter(
    config: SubsetConfig,
    source: Map[String, DataFrame],
    materialize: DataFrame => DataFrame = Subsetter.defaultMaterialize,
    materializeThreshold: Long = 50000L) {

  // Checkpoint only tables whose *source* is large (stored tables are
  // counted from their Parquet footers, with no Spark job): cutting lineage
  // matters where re-computation is expensive; for small dimension tables
  // an eager checkpoint job costs more than the lazy recompute it would save.
  private lazy val sourceCounts: Map[String, Long] =
    source.map { case (t, df) => t -> Catalog.rowCount(df) }

  private def cut(table: String, df: DataFrame): DataFrame =
    if (sourceCounts.getOrElse(table, Long.MaxValue) >= materializeThreshold)
      materialize(df)
    else df

  private val allTables: Seq[String] =
    source.keys.toSeq.sorted.filterNot(config.excludedTables.toSet)

  // FK metadata is config-declared (Parquet has no constraints); dedup exact
  // duplicates like the reference's augmentation union
  // (/root/reference/psql_database_helper.py:148-156).
  private val relationships: Seq[Fk] = config.fkAugmentation.distinct
  private val redacted: Seq[Fk] = FkGraph.redact(relationships, config.breaks)

  /** Per-phase progress/timing instrumentation, mirroring the reference's
    * prints (/root/reference/subset.py:49-97); off by default for library
    * use, enabled by the CLI runner.
    */
  var verbose: Boolean = false

  private def phase[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (verbose)
      println(f"$label completed in ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }

  /** Run every phase; returns the complete destination catalog (unprocessed
    * tables present but empty, like freshly created destination tables).
    */
  def run(): Map[String, DataFrame] = {
    val passthrough = config.passthroughTables.distinct
    val disconnected = FkGraph.disconnectedTables(
      config.targetTables, passthrough, allTables, relationships)
    val connected = allTables.filterNot(disconnected.toSet)
    val strata = FkGraph.topoStrata(relationships, connected.toSet, config.breaks)

    var imported = Map.empty[String, DataFrame]
    var processed = Set.empty[String]
    def importedOrEmpty(t: String): DataFrame =
      imported.getOrElse(t, source(t).limit(0))

    // Phase 1 — direct targets (/root/reference/subset.py:49-56)
    phase("Direct target tables") {
      for (target <- config.initialTargets) {
        imported += target.table -> cut(target.table, subsetDirect(target))
        processed += target.table
      }
    }

    // Phase 2 — greedy upstream (/root/reference/subset.py:59-67)
    phase("Greedy subsettings") {
    for (t <- FkGraph.upstreamTables(config.targetTables, strata)) {
      val relevant = redacted.filter(r => processed(r.targetTable) && r.fkTable == t)
      // empty if nothing processed references it, or it was a direct target
      // (/root/reference/subset.py:123-128)
      if (relevant.nonEmpty && !processed(t)) {
        var df = columnsToCopy(t)
        for (kc <- relevant)
          df = Ops.semiJoin(df, kc.fkCols, imported(kc.targetTable), kc.targetCols)
        for (cond <- upstreamFilterMatch(t))
          df = df.filter(expr(cond))
        df = Ops.limitCap(df, config.maxRowsPerTable)
        imported += t -> cut(t, df)
        processed += t
      }
    }
    }

    // Phase 3 — passthrough, before downstream so passthrough rows' FK needs
    // are satisfied too (/root/reference/subset.py:69-78). The reference
    // *appends* (INSERT) even if earlier phases populated the table; mirror.
    phase("Pass-through") {
      for (t <- passthrough) {
        val full = Ops.limitCap(source(t), config.maxRowsPerTable)
        imported += t -> imported.get(t).map(_.unionByName(full)).getOrElse(full)
      }
    }

    // Phase 4 — downstream closure, most-upstream first so needs cascade in
    // one pass (/root/reference/subset.py:81-87,166-204)
    phase("Downstream subsetting") {
    for (t <- FkGraph.downstreamTables(passthrough, disconnected, strata)) {
      val refs = redacted.filter(r => r.targetTable == t && allTables.contains(r.fkTable))
      if (refs.nonEmpty) {
        val pkCols = refs.head.targetCols
        val existing = importedOrEmpty(t)
        val needed = refs
          .map(r => importedOrEmpty(r.fkTable).select(r.fkCols.map(col): _*).toDF(pkCols: _*))
          .reduce(_ unionByName _)
        val missing = Ops.missingIds(needed, pkCols, existing, pkCols)
        val fetched = Ops.semiJoin(columnsToCopy(t), pkCols, missing, pkCols)
        imported += t -> cut(t, existing.unionByName(fetched))
      }
    }
    }

    // Phase 5 — disconnected tables (/root/reference/subset.py:89-97)
    if (config.keepDisconnectedTables)
      for (t <- disconnected) imported += t -> source(t)

    allTables.map(t => t -> importedOrEmpty(t)).toMap
  }

  /** Phase-1 direct target query (/root/reference/subset.py:105-117). */
  private def subsetDirect(target: InitialTarget): DataFrame = {
    val base = columnsToCopy(target.table)
    (target.where, target.percent) match {
      case (Some(w), _) => base.filter(expr(w))
      case (None, Some(p)) => Ops.percentSample(base, p, config.sampleSeed)
      case _ =>
        throw new IllegalArgumentException(
          s"target table ${target.table} had no 'where' or 'percent' term " +
            "defined, check your configuration.")
    }
  }

  /** The NULL-redacting projection: if `table` breaks a cycle (and the break
    * is not marked preserve-opportunistically), its FK columns to the broken
    * target become typed NULLs (/root/reference/subset_utils.py:8-21).
    */
  private def columnsToCopy(table: String): DataFrame = {
    val targetBreaks = config.breaks
      .diff(config.opportunisticBreaks)
      .filter(_.fkTable == table)
      .map(_.targetTable)
    val colsToNull = relationships
      .filter(r => r.fkTable == table && targetBreaks.contains(r.targetTable))
      .flatMap(_.fkCols)
      .toSet
    Ops.nullOutColumns(source(table), colsToNull)
  }

  /** Upstream filters that match by table name or column presence
    * (/root/reference/subset_utils.py:23-31).
    */
  private def upstreamFilterMatch(table: String): Seq[String] = {
    val columns = source(table).columns.toSet
    // a filter matching both by table and by column is appended twice in the
    // reference; the duplicate AND is harmless — mirror it
    config.upstreamFilters.flatMap { f =>
      (if (f.table.contains(table)) Seq(f.condition) else Nil) ++
        (if (f.column.exists(columns.contains)) Seq(f.condition) else Nil)
    }
  }
}

object Subsetter {
  /** Cut lineage + materialize once per phase mutation (SURVEY.md §4.4).
    * Single-JVM default; pass [[Materialize.parquet]] on a real cluster.
    */
  def defaultMaterialize(df: DataFrame): DataFrame = Materialize.local(df)
}
