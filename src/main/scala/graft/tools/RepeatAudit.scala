package graft.tools

import scala.collection.mutable
import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Repeated-subtree detector — the plan pathology PlanAudit's static
  * cartesian/wide-scan checks cannot see: a DataFrame holding a
  * join/aggregate chain that feeds N consumers WITHOUT a lineage cut can
  * re-execute its whole chain once per consumer (bit `link_prediction_topk`
  * in r14 — 4 consumers of `adj`, 1741 tasks at sf1).
  *
  * Static plan inspection cannot decide this: AQE's stage cache DOES reuse
  * identical exchange subtrees at runtime (measured on `er_blocking_eval`:
  * the thrice-consumed truth relation runs once, and cutting it is a net
  * LOSS — 165 vs 69 tasks), so a logical-plan duplicate count flags 63 of
  * 364 keys of which almost all are fine. Reuse fails only when consumers
  * see the relation under different prunings/orderings — exactly
  * linkPrediction's shape. So this tool measures what actually ran:
  * EXECUTE each key (collect at sf0.001), walk the final adaptive plan,
  * collect every QueryStageExec that did real work (a stage whose plan is
  * a bare ReusedExchange did none), and flag groups of >= 2 DISTINCT
  * executed stages whose canonicalized plans are EQUAL — same work
  * computed twice, by construction. Groups whose plan carries a
  * join/aggregate are hard failures (exit 1); scan-only duplicate groups
  * (e.g. the same dimension scanned for two branches) are reported but
  * tolerated — map-only re-scans are the cheap, pushdown-friendly case.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 runMain graft.tools.RepeatAudit [--selftest] [--strict] [--verbose] [key…]
  */
object RepeatAudit {

  /** Executed stages (id, plan) of a COLLECTED DataFrame, deduped by stage
    * id; ReusedExchange-stub stages and reuse markers are skipped.
    */
  def executedStages(df: DataFrame): Seq[(Int, SparkPlan)] = {
    val out = mutable.ListBuffer.empty[(Int, SparkPlan)]
    val seen = mutable.Set.empty[Int]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec =>
        q.plan match {
          case _: ReusedExchangeExec => () // stub stage: no new work
          case real => if (seen.add(q.id)) { out += ((q.id, real)); walk(real) }
        }
      case _: ReusedExchangeExec => ()
      case other => other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    out.toSeq
  }

  /** A plan with every stage boundary expanded to the full plan it
    * computes: QueryStageExec leaves inline their fragment, ReusedExchange
    * markers inline the ORIGINAL exchange they point at. Two occurrences
    * of the same work chain then canonicalize equal even when one reads
    * original inputs and the other reads reused ones.
    */
  private def expand(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
    case q: QueryStageExec => expand(q.plan)
    case r: ReusedExchangeExec => expand(r.child)
    case other if other.children.isEmpty => other
    case other => other.withNewChildren(other.children.map(expand))
  }

  /** Identity of the WORK a subtree performs. Tree-node equality on the
    * expanded tree is NOT usable directly: splicing a ReusedExchange's
    * original plan under its consumer leaves the consumer referencing the
    * reuse node's remapped expression ids, which canonicalization then
    * cannot normalize (observed: two byte-identical chains differing only
    * as `none#95L` vs `none#165L`). So the key is the canonicalized tree
    * string with expression ids, plan ids, and codegen stage ids erased —
    * full structure, operators, join keys, filters, and scan locations
    * all still participate.
    */
  private def workSig(p: SparkPlan): String =
    expand(p).canonicalized.treeString
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("\\*\\(\\d+\\)", "*")

  /** join/aggregate within THIS fragment's own work — the walk stops at
    * stage boundaries (nested QueryStageExec leaves are other stages'
    * work, shared or reported as their own group).
    */
  private def fragmentHeavy(p: SparkPlan): Boolean = p match {
    case _: QueryStageExec | _: ReusedExchangeExec => false
    case _: BaseJoinExec | _: BaseAggregateExec => true
    case other => other.children.exists(fragmentHeavy)
  }

  /** Does the fragment portion of this subtree perform any real work —
    * source scans, joins, aggregates, sorts, generates, windows? A bare
    * InputAdapter/Project over a shared stage leaf, or a re-read of a
    * checkpointed RDD (`Scan ExistingRDD` — the lineage cut doing its
    * job), costs nothing worth reporting.
    */
  private def fragmentDoesWork(p: SparkPlan): Boolean = p match {
    case _: QueryStageExec | _: ReusedExchangeExec => false
    case _: org.apache.spark.sql.execution.FileSourceScanExec => true
    case _: BaseJoinExec | _: BaseAggregateExec => true
    case _: org.apache.spark.sql.execution.SortExec => true
    case _: org.apache.spark.sql.execution.GenerateExec => true
    case _: org.apache.spark.sql.execution.window.WindowExec => true
    case other => other.children.exists(fragmentDoesWork)
  }

  /** Duplicate-work groups of an EXECUTED DataFrame: (representative
    * subtree, occurrence count, heavy?) for every MAXIMAL plan subtree
    * that was executed >= 2 times.
    *
    * Occurrences are counted across executed stage FRAGMENTS (the walk
    * never descends through a nested QueryStageExec or ReusedExchange —
    * that work belongs to another stage and ran there exactly once), and
    * subtrees are keyed by their stage-boundary-EXPANDED canonical form,
    * so the same chain reached via an original input in one stage and a
    * reused input in another still matches. A duplicated exchange at two
    * stage roots that differ only in partitioning/broadcast mode is
    * caught through its repeated CHILD subtree. heavy = the duplicated
    * subtree does join/aggregate work within its own fragments.
    */
  def duplicateStageGroups(df: DataFrame): Seq[(SparkPlan, Int, Boolean)] = {
    val fragments = executedStages(df)
    val occ = mutable.LinkedHashMap.empty[String, (Int, SparkPlan)]
    def record(p: SparkPlan): Unit = p match {
      case _: QueryStageExec | _: ReusedExchangeExec => ()
      case n =>
        if (fragmentDoesWork(n)) {
          val key = workSig(n)
          occ.get(key) match {
            case Some((c, rep)) => occ.update(key, (c + 1, rep))
            case None           => occ.update(key, (1, n))
          }
        }
        n.children.foreach(record)
    }
    fragments.foreach { case (_, frag) => record(frag) }
    val dupKeys = occ.collect { case (k, (c, _)) if c >= 2 => k }.toSet
    // keep only MAXIMAL duplicates: report a node iff its parent position
    // is not itself a duplicate (the parent's group already covers it)
    val out = mutable.ListBuffer.empty[(SparkPlan, Int, Boolean)]
    val emitted = mutable.Set.empty[String]
    def walk(p: SparkPlan, parentDup: Boolean): Unit = p match {
      case _: QueryStageExec | _: ReusedExchangeExec => ()
      case n =>
        val isDup = fragmentDoesWork(n) && dupKeys.contains(workSig(n))
        if (isDup && !parentDup && emitted.add(workSig(n))) {
          val (c, rep) = occ(workSig(n))
          out += ((rep, c, fragmentHeavy(rep)))
        }
        n.children.foreach(walk(_, isDup))
    }
    fragments.foreach { case (_, frag) => walk(frag, parentDup = false) }
    out.toSeq
  }

  /** The r14 `link_prediction_topk` bug shape with no lineage cut: the
    * scan → distinct → union → semi-join chain `adj` feeds four consumers
    * under different prunings (the degree aggregate, both wedge legs and
    * the anti-join), so AQE's stage cache cannot share it and each
    * consumer re-runs the chain.
    */
  private def uncutWedges(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val e0 = edges.filter(col("id_a") =!= col("id_b")).distinct()
    val sym = e0.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(e0.select(col("id_b").as("u"), col("id_a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .filter(col("d") <= 64)
    val adj = sym.join(deg.select(col("u")), Seq("u"), "left_semi")
      .join(deg.select(col("u").as("v")), Seq("v"), "left_semi")
    val cdeg = adj.groupBy(col("u")).agg(count(lit(1)).as("d"))
    adj.select(col("u"), col("v").as("b"))
      .join(adj.select(col("u"), col("v").as("c")), Seq("u"))
      .filter(col("b") < col("c"))
      .groupBy(col("b"), col("c")).agg(count(lit(1)).as("cn"))
      .join(adj.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"),
        "left_anti")
      .join(cdeg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
  }

  /** Self-test: the uncut r14 shape ([[uncutWedges]]) MUST produce heavy
    * duplicate stages; the shipped (cut) `linkPredictionTopK` MUST NOT.
    */
  def selfTest(spark: SparkSession, dir: String): Unit = {
    val edges = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id % 97 AS id_a", "(doc_id * 7) % 97 AS id_b")
    val uncut = uncutWedges(edges)
    uncut.collect()
    val uncutHeavy = duplicateStageGroups(uncut).filter(_._3)
    require(uncutHeavy.nonEmpty,
      "RepeatAudit self-test FAILED: uncut wedge plan not flagged")
    val cut = graft.analytics.Dedup.linkPredictionTopK(edges)
    cut.collect()
    val cutHeavy = duplicateStageGroups(cut).filter(_._3)
    require(cutHeavy.isEmpty,
      s"RepeatAudit self-test FAILED: cut linkPredictionTopK flagged: " +
        cutHeavy.map(g => s"${g._1.nodeName} x${g._2}").mkString(", "))
    println(s"REPEAT-SELFTEST ok: uncut heavy-dup groups=${uncutHeavy.size} " +
      s"(worst x${uncutHeavy.map(_._2).max}), cut heavy-dup groups=0")
  }

  /** Committed adjudication allowlist (VERDICT r16 #3): each entry is a
    * REVIEWED x3+ heavy duplicate group — (key, fragment root nodeName,
    * max tolerated occurrence count), with the decision and the A/B
    * measurement recorded as documentation fields in the JSON. Under
    * `--strict`, a heavy group with count >= 3 fails the run unless an
    * entry covers it; x2 groups are tolerated BY MEASURED POLICY (the
    * er_blocking_eval A/B: cutting the reduce-side x2 class was
    * net-negative or neutral — see the file's `policy_x2` field).
    */
  private def readAllowlist(path: String): Map[(String, String), Int] = {
    try {
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
      val entries = root.get("entries")
      if (entries == null) Map.empty
      else (0 until entries.size()).map { i =>
        val e = entries.get(i)
        (e.get("key").asText(), e.get("fragment").asText()) ->
          e.get("max_count").asInt()
      }.toMap
    } catch {
      case e: Throwable =>
        // fail-closed (--strict then fails every tolerated group), but SAY
        // WHY: a silently-empty allowlist makes the gate failure look like
        // 15 fresh recompute regressions instead of a missing/broken file
        System.err.println(s"[repeat-audit] WARNING: allowlist '$path' " +
          s"unreadable (${e.getClass.getSimpleName}: ${e.getMessage}) — " +
          "proceeding with 0 entries; --strict will fail all tolerated groups")
        Map.empty
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.Session()
    if (args.contains("--selftest")) selfTest(spark, dir)
    val verbose = args.contains("--verbose")
    val names = {
      val sel = args.filterNot(_.startsWith("--")).toSeq
      if (sel.nonEmpty) sel else SparkEntry.queries.keys.toSeq.sorted
    }
    val allow = readAllowlist(sys.env.getOrElse(
      "SPARK_GRAFT_REPEAT_ALLOWLIST", "REPEAT_ALLOWLIST.json"))
    var heavyKeys = List.empty[String]
    var strictFails = List.empty[String]
    var lightKeys = 0
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        df.collect()
        val groups = duplicateStageGroups(df)
        if (groups.exists(_._3)) heavyKeys ::= name
        if (groups.nonEmpty && !groups.exists(_._3)) lightKeys += 1
        groups.foreach { case (rep, n, heavy) =>
          val sev = if (heavy) "HEAVY" else "light"
          println(s"REPEAT $sev $name: stage '${rep.nodeName}' " +
            s"(${rep.collect { case x => x }.size} nodes) ran x$n")
          // strict gate: an x3+ heavy group must carry a reviewed
          // allowlist entry; x2 is the measured policy-tolerated class
          if (heavy && n >= 3 &&
              allow.getOrElse((name, rep.nodeName), 2) < n) {
            strictFails ::= s"$name '${rep.nodeName}' x$n"
            println(s"REPEAT STRICT-FAIL $name: '${rep.nodeName}' x$n " +
              s"not covered by REPEAT_ALLOWLIST.json")
          }
          if (heavy && verbose)
            println(rep.treeString.linesIterator.take(20).mkString("\n"))
        }
      } catch {
        case e: Throwable =>
          println(s"REPEAT ERROR $name: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(100))
          heavyKeys ::= s"$name(error)"
          strictFails ::= s"$name(error)"
      }
    }
    println(s"REPEAT-AUDIT ${names.size} keys: " +
      s"heavy_dup_keys=${heavyKeys.size} light_dup_keys=$lightKeys " +
      s"strict_fails=${strictFails.size} allowlist_entries=${allow.size}")
    heavyKeys.foreach(n => println(s"HEAVY-DUP $n"))
    spark.stop()
    // Exit-fail only under --strict, and only for x3+ heavy groups outside
    // the committed REPEAT_ALLOWLIST.json (each entry a reviewed
    // adjudication with its A/B number). The x2 class is tolerated by
    // measured policy: a final reduce-side aggregate re-run per consumer
    // over an exchange-reused map side, where cutting was MEASURED
    // net-negative or neutral (er_blocking_eval: lazy 69 tasks / 2.6s warm
    // vs truth-cut 101 tasks / 2.2s with higher taskCpu; full-cut 165
    // tasks / 2.3s; knn_hubness_histogram r17: uncut 2.11-2.23s warm vs
    // occ-cut 2.37-2.59s). The x3+ whole-chain class (triangles/
    // assortativity/modularity, fixed r16) is the one to hunt — a NEW x3+
    // group fails this gate until it is fixed or reviewed onto the list.
    if (args.contains("--strict") && strictFails.nonEmpty) sys.exit(1)
  }
}
