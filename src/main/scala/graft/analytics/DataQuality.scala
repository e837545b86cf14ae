package graft.analytics

import graft.engine.Materialize
import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-observability operators for the training-data pipeline: column
  * profiling, rule-based validation, and corpus drift monitoring — the
  * checks a production ingest runs before (and after) every curation
  * stage. All outputs are exact integer counts in long format, so the
  * DuckDB oracle hash-checks them and results are partitioning-
  * independent. Reference has no observability tier (its `-v` prints row
  * counts only, `subset.py:40-97`); SURVEY §7.5 extension contract.
  */
object DataQuality {

  /** Per-column table profile in long format: one row per profiled column
    * with the table's row count, the column's null count and its exact
    * distinct count. One aggregation pass over the table; the distinct
    * counts expand per column inside the single shuffle (Spark's
    * multi-countDistinct expand), which at 100 TB is the honest cost of
    * EXACT profiling — a monitoring deployment swaps in
    * approx_count_distinct on the same plan shape for a sketch-cheap
    * profile.
    */
  def tableProfile(df: DataFrame, columns: Seq[String]): DataFrame = {
    val aggs = columns.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"),
      countDistinct(col(c)).as(s"nd_$c")))
    val totals = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    totals.select(explode(array(columns.map(c =>
      struct(lit(c).as("col_name"), col("n_rows"),
        (col("n_rows") - col(s"nn_$c")).as("n_nulls"),
        col(s"nd_$c").as("n_distinct"))): _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.n_rows").as("n_rows"),
        col("p.n_nulls").as("n_nulls"), col("p.n_distinct").as("n_distinct"))
  }

  /** Sketch-profile adequacy eval — the approx variant [[tableProfile]]'s
    * scaladoc promises, declared as its own key (VERDICT r16 #7): the same
    * single-shuffle expand plan shape, but each column additionally
    * carries `approx_count_distinct` (HLL++ at `rsd`) and the band flag
    * `approx_ok` = |approx − exact| ≤ 10% · exact. The sketch VALUE is
    * engine-specific (Spark HLL++ vs DuckDB HLL differ by construction),
    * so — exactly like `cms_error_eval` — the oracle-checked contract is
    * the ERROR BAND each engine's own sketch must satisfy, not the
    * estimate itself: at rsd 0.02 the 10% band is a 5σ margin. The exact
    * distinct rides along both as the band reference and as the
    * regression anchor; a monitoring deployment drops it and keeps the
    * sketch-only profile (one pass, no countDistinct expand).
    */
  def profileApproxEval(df: DataFrame, columns: Seq[String],
      rsd: Double = 0.02): DataFrame = {
    // the split plan below builds `approxAggs.head`, which would NPE-class
    // (NoSuchElementException) on an empty column list the one-aggregate
    // formulation tolerated; fail fast with a real message instead. Note
    // the split also scans df twice (exact and approx jobs) — fine for a
    // deterministic input frame, which is this operator's contract.
    require(columns.nonEmpty, "profileApproxEval: need at least one column")
    // The HLL sketches live in their OWN single-group aggregate, NOT inside
    // the countDistinct expand: a non-distinct ImperativeAggregate riding
    // the multi-countDistinct rewrite is allocated per (gid, value) GROUP
    // of the partial aggregate below the expand's exchange — measured at
    // sf0.1 as 5 sketches x ~410 longs = 2056 aggregate attributes per
    // group over ~n_rows·(k+1) groups (~500 MB of zeroed registers through
    // the first exchange, ~15 s task CPU for a 5000-row table, and a plan
    // wide enough to knock the aggregate out of whole-stage codegen).
    // Split out, the sketch aggregate keeps one buffer set per partition
    // and the expand carries only count buffers; the results are identical
    // (same rows into the same sketch algorithm; HLL merge is a register
    // max, insensitive to partial-merge order).
    val exactAggs = columns.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"),
      countDistinct(col(c)).as(s"nd_$c")))
    val exact = df.agg(count(lit(1)).as("n_rows"), exactAggs: _*)
    val approxAggs = columns.map(c =>
      approx_count_distinct(col(c), rsd).as(s"na_$c"))
    val totals = exact.crossJoin(broadcast(
      df.agg(approxAggs.head, approxAggs.tail: _*)))
    totals.select(explode(array(columns.map(c =>
      struct(lit(c).as("col_name"), col("n_rows"),
        (col("n_rows") - col(s"nn_$c")).as("n_nulls"),
        col(s"nd_$c").as("n_distinct"),
        (abs(col(s"na_$c") - col(s"nd_$c")) * 10 <= col(s"nd_$c"))
          .cast("int").as("approx_ok"))): _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.n_rows").as("n_rows"),
        col("p.n_nulls").as("n_nulls"),
        col("p.n_distinct").as("n_distinct"),
        col("p.approx_ok").as("approx_ok"))
  }

  /** Rule-based validation over the documents table (the
    * expectations-suite shape): each rule emits its violation count, so a
    * pipeline gate is `max(n_violations) == 0`. One map-only pass feeds a
    * single global aggregate; rules that need corpus-wide context
    * (uniqueness) ride the same aggregate via count - distinct.
    */
  def qualityAssertions(docs: DataFrame): DataFrame = {
    def violations(cond: org.apache.spark.sql.Column) =
      sum(when(cond, 1L).otherwise(0L))
    // uniqueness counts NON-NULL duplicates (count(col) ignores nulls);
    // null ids are their own rule, and a null-text row is an empty-text
    // violation, not an n_chars mismatch (null comparisons don't count)
    val agg = docs.agg(
      (count(col("doc_id")) - countDistinct(col("doc_id"))).as("v_dup_id"),
      violations(col("doc_id").isNull).as("v_null_id"),
      violations(col("text").isNull || length(col("text")) === 0)
        .as("v_empty_text"),
      violations(col("n_chars") =!= length(col("text"))).as("v_chars"),
      violations(col("lang").isNull || col("lang") === "").as("v_lang"))
    agg.select(explode(array(
      struct(lit("doc_id_unique").as("rule"), col("v_dup_id").as("n_violations")),
      struct(lit("doc_id_not_null").as("rule"), col("v_null_id").as("n_violations")),
      struct(lit("text_nonempty").as("rule"), col("v_empty_text").as("n_violations")),
      struct(lit("n_chars_matches_text").as("rule"), col("v_chars").as("n_violations")),
      struct(lit("lang_present").as("rule"), col("v_lang").as("n_violations"))))
      .as("p"))
      .select(col("p.rule").as("rule"), col("p.n_violations").as("n_violations"))
  }

  /** Token-share drift between two corpus slices (here: even vs odd
    * doc_id — in production, yesterday's snapshot vs today's batch): per
    * token, the occurrence counts in each slice plus integer-exact
    * drift flags at the `num/den` share-ratio threshold
    * (share_a/share_b >= num/den, evaluated as the cross-multiplication
    * `den * c_a * t_b >= num * c_b * t_a` — no division, no float). The
    * distribution-shift monitor that catches a source change or a broken
    * upstream filter before training does. ONE token-keyed aggregate
    * carries both slices (conditional sums — no per-slice scan, no join),
    * and the two corpus totals broadcast as a single row.
    */
  def vocabDrift(docs: DataFrame, num: Int = 6, den: Int = 5): DataFrame = {
    // cross-products reach corpus-token-count squared (~1e26 at 100 TB) —
    // DECIMAL(38,0) keeps them exact where BIGINT would overflow
    val d = org.apache.spark.sql.types.DecimalType(38, 0)
    val toks = docs.select((col("doc_id") % 2 === 0).as("even"),
      explode(tokens(col("text"))).as("token"))
    val counts = toks.groupBy(col("token"))
      .agg(sum(when(col("even"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("even"), 0L).otherwise(1L)).as("n_b"))
    val tot = counts.agg(sum(col("n_a")).as("t_a"), sum(col("n_b")).as("t_b"))
    counts.crossJoin(broadcast(tot))
      .select(col("token"), col("n_a"), col("n_b"),
        (lit(den) * col("n_a").cast(d) * col("t_b").cast(d) >=
          lit(num) * col("n_b").cast(d) * col("t_a").cast(d))
          .cast("int").as("drift_up"),
        (lit(den) * col("n_b").cast(d) * col("t_a").cast(d) >=
          lit(num) * col("n_a").cast(d) * col("t_b").cast(d))
          .cast("int").as("drift_down"))
  }

  /** Numeric-distribution drift between two corpus versions (the PSI /
    * KS-monitor shape, kept integer-exact): event values bin at 0.1 width
    * (the same bins as the quantile sketch), the even/odd event-id halves
    * stand in for old/new versions, and each bin reports both counts plus
    * its share of each version in exact basis points and the absolute
    * share delta — the table a drift monitor thresholds (classic PSI then
    * multiplies by a log-ratio; the bp deltas carry the same signal
    * without a float transcendental in the hash). One bin-keyed aggregate
    * + a one-row broadcast total; same shape as [[vocabDrift]].
    */
  def valueDriftBins(events: DataFrame): DataFrame = {
    val b = events.select((col("event_id") % 2 === 0).as("even"),
      expr("CAST(floor(value * 10) AS BIGINT)").as("bin"))
    val counts = b.groupBy(col("bin"))
      .agg(sum(when(col("even"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("even"), 0L).otherwise(1L)).as("n_b"))
    val tot = counts.agg(sum(col("n_a")).as("t_a"), sum(col("n_b")).as("t_b"))
    counts.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_a"), col("n_b"),
        expr("(n_a * 10000) div t_a").as("share_a_bp"),
        expr("(n_b * 10000) div t_b").as("share_b_bp"))
      .withColumn("delta_bp", abs(col("share_a_bp") - col("share_b_bp")))
  }

  /** Robust per-source length statistics: exact median and MAD (median
    * absolute deviation) of `n_chars`, plus the count of robust outliers
    * (`|x - median| > k * MAD`) — the outlier monitor that, unlike
    * mean/stddev, one corrupt ingest batch cannot drag. Medians of
    * integers land on exact binary fractions (.5 steps, then .25 after
    * the second median), so the doubles hash identically across engines.
    *
    * Three passes, all shuffling ONLY on the source key: median build,
    * deviation median, outlier count — the per-source stats tables are
    * |sources| rows and broadcast back, so no corpus-sized join side
    * exists. `percentile` is Spark's exact sort-based aggregate — the
    * honest cost of exact medians; a monitoring deployment swaps
    * `approx_percentile` into the same plan shape. One source dominating
    * the corpus serializes its sort; salt the source key or pre-aggregate
    * to (source, n_chars) counts at that scale.
    */
  def robustLengthStats(docs: DataFrame, k: Int = 5): DataFrame = {
    val med = docs.groupBy(col("source"))
      .agg(expr("percentile(n_chars, 0.5)").as("med"),
        count(lit(1)).as("n"))
    val dev = docs.join(broadcast(med), Seq("source"))
      .select(col("source"), col("n"), col("med"),
        abs(col("n_chars") - col("med")).as("dev"))
    val stats = dev.groupBy(col("source"))
      .agg(first(col("n")).as("n"), first(col("med")).as("med"),
        expr("percentile(dev, 0.5)").as("mad"))
    val outliers = dev
      .join(broadcast(stats.select(col("source"), col("mad"))), Seq("source"))
      .filter(col("dev") > lit(k) * col("mad"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_outliers"))
    stats.join(outliers, Seq("source"), "left")
      .select(col("source"), col("n"), col("med"), col("mad"),
        coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
  }

  /** Token-WEIGHTED median document length per source — the size statistic
    * that matters for a token-budgeted corpus: the unweighted median says
    * what a typical DOCUMENT looks like, the token-weighted median says
    * what a typical TOKEN's document looks like (one 100k-token scraped
    * book outweighs a thousand tweets). Classic distributed weighted
    * median: per-group running weight sum over the value-ordered rows
    * (ties share a value, so the picked value is order-stable), then the
    * smallest value whose cumulative weight reaches half the total. One
    * group-keyed window + one aggregate — no global sort; the window
    * partitions by source, so a hot source bounds its own task.
    */
  def weightedMedianLength(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("source"), col("n_chars").as("v"),
      size(graft.functions.TextFunctions.tokens(col("text")))
        .cast("long").as("wt"))
    val cum = base.withColumn("cw",
      sum(col("wt")).over(Window.partitionBy(col("source")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = base.groupBy(col("source"))
      .agg(sum(col("wt")).as("total_weight"), count(lit(1)).as("n_docs"))
    cum.join(broadcast(tot), Seq("source"))
      .filter(col("cw") * 2 >= col("total_weight"))
      .groupBy(col("source"))
      .agg(min(col("v")).as("weighted_median_chars"),
        first(col("total_weight")).as("total_weight"),
        first(col("n_docs")).as("n_docs"))
  }

  /** Referential-integrity profile over a config-declared FK graph (the
    * reference product's record shape `{fk_table, fk_columns,
    * target_table, target_columns}` — /root/reference/config_reader.py):
    * one row per FK edge with the child row count and the orphan count
    * (non-null FK values with no parent). The subsetter PROVES closure on
    * its own output; this is the monitoring twin run against the SOURCE —
    * the drift alarm for upstream deliveries that silently break joins.
    *
    * All edges compose into ONE lazy plan (a union of per-edge
    * left-join aggregates), so a single action profiles the whole graph;
    * each edge shuffles only on its own key, parent sides are
    * distinct-projected first (dimension-sized → broadcast at plan time).
    */
  def fkIntegrityReport(
      table: String => DataFrame,
      fks: Seq[(String, String, String, String)]): DataFrame =
    fks.map { case (ft, fc, tt, tc) =>
      val parent = table(tt).select(col(tc).as("__pk")).distinct()
      table(ft).select(col(fc).as("__fk")).na.drop()
        .join(parent, col("__fk") === col("__pk"), "left")
        .agg(count(lit(1)).as("n_child_rows"),
          coalesce(sum(when(col("__pk").isNull, 1L).otherwise(0L)), lit(0L))
            .as("n_orphans"))
        .select(lit(ft).as("fk_table"), lit(fc).as("fk_column"),
          lit(tt).as("target_table"), lit(tc).as("target_column"),
          col("n_child_rows"), col("n_orphans"))
    }.reduce(_ unionByName _)

  /** Join-key skew report: for a planned equi-join, the top-k keys by
    * ESTIMATED join output contribution (`n_left × n_right`), with each
    * key's share of the total estimated output in basis points. This is
    * the diagnostic a 100 TB pipeline runs BEFORE the join — the keys
    * this table surfaces are the ones that need salting
    * (`Ops.saltedJoin`) or an AQE skew split; one hot key producing 40%
    * of the output rows is invisible in row counts but fatal in a
    * shuffle join.
    *
    * Cost: one partial-aggregating groupBy per side (map-side combine,
    * output bounded by key cardinality), a key-keyed outer join of the
    * two count tables (keys present on one side still report, with the
    * other count 0 and est 0), a one-row total broadcast, and a
    * TakeOrdered top-k — never a sort or shuffle of the data itself.
    * All integer arithmetic (share in basis points via integer div), so
    * the report hash-checks across engines.
    */
  def joinSkewReport(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      k: Int = 25): DataFrame = {
    val l = left.groupBy(col(leftKey).as("join_key"))
      .agg(count(lit(1)).as("n_left"))
    val r = right.groupBy(col(rightKey).as("join_key"))
      .agg(count(lit(1)).as("n_right"))
    val perKey = l.join(r, Seq("join_key"), "full_outer")
      .select(col("join_key"),
        coalesce(col("n_left"), lit(0L)).as("n_left"),
        coalesce(col("n_right"), lit(0L)).as("n_right"))
      .withColumn("est_rows", col("n_left") * col("n_right"))
    val total = perKey.agg(sum(col("est_rows")).as("total_est"))
    perKey.crossJoin(broadcast(total))
      .withColumn("share_bp",
        coalesce(expr("(est_rows * 10000L) div total_est"), lit(0L)))
      .orderBy(col("est_rows").desc, col("join_key"))
      .limit(k)
      .select(col("join_key"), col("n_left"), col("n_right"),
        col("est_rows"), col("share_bp"))
  }

  /** Kendall tau-b rank correlation between two per-document quality
    * signals, per source, in exact integer fixed point — the
    * signal-agreement screen run before trusting a cheap proxy signal
    * (doc length) as a stand-in for an expensive one (token count, LM
    * score): a high tau says the proxy ranks documents the same way, a
    * near-zero tau says the signals disagree and filtering on the proxy
    * is not filtering on the target.
    *
    * Exact tau over raw values is an all-pairs statistic (O(n²) per
    * source); the distributed form QUANTIZES both signals onto a bounded
    * grid (16×16 value bands) and computes tau-b from the contingency
    * table: concordant/discordant pair counts are cell-pair sums over the
    * ≤256-row grid — one corpus-sized groupBy, then a bounded self-join
    * per source. Tau-b's denominator needs a square root, so the SIGNED
    * SQUARE is emitted (`tau2 = sign(C−D)·10^6·(C−D)² div
    * ((n0−n1)(n0−n2))`, ties handled per the tau-b definition) keeping
    * every step integer-exact across engines. Banding makes within-band
    * pairs ties — this is tau-b OF THE BANDED signals, the documented
    * contract (the same banding both engines replay).
    */
  def kendallGridCorr(docs: DataFrame): DataFrame = {
    val sig = docs.select(col("source"),
      least(expr("n_chars div 128"), lit(15L)).as("bx"),
      least(expr("CAST(size(split(text, ' ')) AS BIGINT) div 32"), lit(15L))
        .as("by"))
    // ONE corpus-sized pass; every marginal below reads the ≤256-row grid
    val grid = sig.groupBy(col("source"), col("bx"), col("by"))
      .agg(count(lit(1)).as("m"))
    val a = grid.toDF("source", "bx_a", "by_a", "m_a")
    val b = grid.toDF("source", "bx_b", "by_b", "m_b")
    // every unordered cell pair once: strictly increasing x between sides
    val cells = a.join(b,
      a("source") === b("source") && col("bx_a") < col("bx_b"))
      .select(a("source").as("source"),
        (col("m_a") * col("m_b")).as("w"),
        when(col("by_a") < col("by_b"), lit(1))
          .when(col("by_a") > col("by_b"), lit(-1)).otherwise(lit(0))
          .as("dir"))
    val cd = cells.groupBy(col("source")).agg(
      sum(when(col("dir") === 1, col("w")).otherwise(0L)).as("n_c"),
      sum(when(col("dir") === -1, col("w")).otherwise(0L)).as("n_d"))
    // tie terms from the grid marginals: n1 = Σ_x C(t_x, 2), n2 = Σ_y C(t_y, 2)
    val n0 = grid.groupBy(col("source")).agg(sum(col("m")).as("n"))
      .withColumn("n0", expr("n * (n - 1) div 2"))
    val n1 = grid.groupBy(col("source"), col("bx"))
      .agg(sum(col("m")).as("t"))
      .groupBy(col("source")).agg(sum(expr("t * (t - 1) div 2")).as("n1"))
    val n2 = grid.groupBy(col("source"), col("by"))
      .agg(sum(col("m")).as("t"))
      .groupBy(col("source")).agg(sum(expr("t * (t - 1) div 2")).as("n2"))
    n0.join(n1, Seq("source")).join(n2, Seq("source"))
      .join(cd, Seq("source"), "left")
      .na.fill(0L, Seq("n_c", "n_d"))
      .withColumn("num", (col("n_c") - col("n_d")).cast("decimal(38,0)"))
      .withColumn("den",
        ((col("n0") - col("n1")).cast("decimal(38,0)") *
          (col("n0") - col("n2")).cast("decimal(38,0)")))
      .withColumn("mag", expr(
        // divisor guarded inline: ANSI mode evaluates this column even on
        // rows the den=0 `when` below discards
        "(CAST(1000000 AS DECIMAL(38,0)) * num * num) div " +
          "(CASE WHEN den = 0 THEN 1 ELSE den END)"))
      .select(col("source"), col("n"), col("n_c"), col("n_d"),
        when(col("den") === 0, lit(0L))
          .when(col("num") < 0, -col("mag")).otherwise(col("mag"))
          .cast("long").as("tau2_signed_ppm"))
  }

  /** Calibration (reliability) table of a probability-like quality score
    * against a binary label, in exact basis points — the diagram every
    * learned quality filter is judged by before its threshold is trusted
    * at corpus scale: within each confidence bin, does the empirical
    * positive rate track the stated confidence? The fixture's
    * probability-like score is the stopword share of the token stream (a
    * crude but monotone English-ness signal) and the label is
    * `lang = 'en'`; the contract is the binning arithmetic, which both
    * engines replay exactly: bin = min(score_bp div 1000, 9), per bin
    * n / mean stated confidence (floor bp) / empirical positive rate
    * (floor bp), plus the |gap| the ECE sums. One corpus-sized pass, a
    * 10-row output.
    */
  def calibrationBins(
      docs: DataFrame,
      stopwords: Seq[String] = Seq("the", "a", "of", "and")): DataFrame = {
    val scored = docs.select(
      col("lang"),
      tokens(col("text")).as("w"))
      .select(col("lang"), size(col("w")).cast("long").as("n_tok"),
        size(filter(col("w"), t => t.isin(stopwords: _*))).cast("long")
          .as("n_stop"))
      .withColumn("score_bp", expr("(n_stop * 10000L) div n_tok"))
      .withColumn("bin", least(expr("score_bp div 1000"), lit(9L)))
      .withColumn("pos", when(col("lang") === "en", 1L).otherwise(0L))
    scored.groupBy(col("bin")).agg(
      count(lit(1)).as("n"),
      expr("sum(score_bp) div count(1)").as("mean_conf_bp"),
      expr("(sum(pos) * 10000L) div count(1)").as("pos_rate_bp"))
      .withColumn("gap_bp", abs(col("mean_conf_bp") - col("pos_rate_bp")))
  }

  /** N-gram novelty rate per document: the share of a document's DISTINCT
    * n-grams whose corpus-wide FIRST occurrence (min doc_id) is this
    * document — the marginal-new-content curve behind "is crawling more of
    * this source still worth it" and the dedup-ROI estimate (a corpus
    * whose late documents contribute no novel n-grams is template-
    * saturated). One gram-keyed aggregate attributes first occurrence;
    * one doc-keyed aggregate scores. Documents shorter than n tokens have
    * no grams and emit no row (same rule in the oracle).
    */
  def ngramNoveltyRate(docs: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 1, "ngramNoveltyRate: n >= 1")
    val grams = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - ${n - 1}), i -> " +
          s"concat_ws(' ', slice(w, i, $n)))")).as("g"))
      .distinct()
    val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_bp", expr("(n_novel * 10000L) div n_grams"))
  }

  /** Composition drift as TOTAL-VARIATION distance in exact bp: per
    * group (e.g. nation), TV(group mix, global mix) over a categorical
    * column = ½·Σ|share_in_group − share_global| — the distribution-
    * level "does this cohort look like the population" screen (TV is
    * the metric behind most mix-shift alerts because it bounds every
    * event-probability difference). The absolute differences
    * cross-multiply onto the common denominator T_group·T_global in
    * DECIMAL(38,0), so tv_bp = Σ|c_gs·T − C_s·T_g|·10⁴ div (2·T_g·T) is
    * exact at any scale. One (group, category) aggregate; category and
    * group totals broadcast.
    */
  def mixShiftTV(df: DataFrame, groupCol: String, catCol: String)
      : DataFrame = {
    val d = "DECIMAL(38,0)"
    val cell = df.groupBy(col(groupCol).as("grp"), col(catCol).as("cat"))
      .agg(count(lit(1)).cast(d).as("c"))
    val gTot = cell.groupBy(col("grp"))
      .agg(sum(col("c")).as("tg"))
    val cTot = cell.groupBy(col("cat"))
      .agg(sum(col("c")).as("cs"))
    val tot = cell.agg(sum(col("c")).as("t"))
    // dense (grp × cat) grid: a category absent from a group still
    // contributes |0·T − C_s·T_g|
    gTot.crossJoin(cTot)
      .join(cell, Seq("grp", "cat"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(tot))
      .groupBy(col("grp"))
      .agg(max(col("tg")).as("tg"), max(col("t")).as("t"),
        sum(abs(expr("CAST(c AS DECIMAL(38,0)) * t - cs * tg"))).as("sad"))
      .select(col("grp"), col("tg").cast("long").as("n_rows"),
        expr("CAST((sad * 10000) div (2 * tg * t) AS BIGINT)").as("tv_bp"))
  }

  /** Exact two-sample Kolmogorov–Smirnov test between two cohorts'
    * value distributions, dollar-quantized so the CDF support is
    * bounded by the PRICE DOMAIN rather than the row count (the
    * quality_auc_eval convention — the one ordered window runs over
    * distinct quantized values only). D = max|F₁−F₂| carried as the
    * integer M = max|cum₁·n₂ − cum₂·n₁| over the common denominator
    * n₁·n₂; d_ppm = M·10⁶ div (n₁n₂) and the α = 0.05 verdict is the
    * squared cross-multiplication M²·10⁶ ≥ 1844164·(n₁+n₂)·n₁·n₂
    * (c(0.05) = 1.358, c² frozen at 1.844164 — no square root in the
    * decision). DECIMAL(38,0) keeps M² exact at a 10⁹-row cohort.
    */
  def ksTwoSample(df: DataFrame, cohortCol: String, a: String, b: String,
      valueDollars: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = "DECIMAL(38,0)"
    val vals = df.filter(col(cohortCol).isin(a, b))
      .select(col(cohortCol).as("cohort"), valueDollars.as("x"))
    val cnt = vals.groupBy(col("x"))
      .agg(sum(when(col("cohort") === a, 1L).otherwise(0L)).as("c1"),
        sum(when(col("cohort") === b, 1L).otherwise(0L)).as("c2"))
    val tot = cnt.agg(sum(col("c1")).cast(d).as("n1"),
      sum(col("c2")).cast(d).as("n2"))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cnt
      .withColumn("f1", sum(col("c1")).over(w).cast(d))
      .withColumn("f2", sum(col("c2")).over(w).cast(d))
      .crossJoin(broadcast(tot))
      .agg(max(abs(expr("f1 * n2 - f2 * n1"))).as("m"),
        max(col("n1")).as("n1"), max(col("n2")).as("n2"))
      .select(col("n1").cast("long").as("n1"),
        col("n2").cast("long").as("n2"),
        expr("CAST((m * 1000000) div (n1 * n2) AS BIGINT)").as("d_ppm"),
        // squared verdict with the FLOORED right-hand side (documented:
        // both engines floor the same way, so the boundary is shared)
        expr("CAST(m * m >= (1844164 * (n1 + n2) * n1 * n2) div 1000000 " +
          "AS INT)").as("reject_95"))
  }

  /** Exact two-sample Mann–Whitney U (Wilcoxon rank-sum) test between two
    * cohorts' value distributions — the nonparametric twin of the KS key:
    * KS asks "same distribution anywhere?", MW asks "does one cohort
    * stochastically dominate?". Values are dollar-quantized like
    * [[ksTwoSample]], so the one ordered window runs over the PRICE
    * DOMAIN, not the row count. Tie-averaged ranks ship DOUBLED to stay
    * integral (2·avgrank = 2·C(<x) + t + 1); U₂ = 2·U throughout.
    * Normal-approximation z² ships as z2_milli =
    * 3000·n(n−1)·d² div var12 with d = u2_a − n_a·n_b and
    * var12 = n_a·n_b·((n+1)n(n−1) − Σt(t²−1)) (the tie-corrected
    * Var(U)·12·n(n−1) image); the α=0.05 verdict is decided on the
    * milli-truncated statistic, z2_milli ≥ 3842 (z²crit = 1.959964²
    * = 3.841459 — a z² inside [3.841459, 3.842) reads non-reject; the
    * sub-milli boundary band is the documented quantization, shared
    * bit-for-bit by both engines since `div`/`//` truncate alike, and
    * chosen over the KS-style cross-multiplication because 3841459·var12
    * overflows Spark's LONG-typed `div` at sf ≥ 0.1). DECIMAL(38,0)
    * keeps every term exact through sf1 (3000·n(n−1)·d² ≤ 1.4·10³⁵);
    * rank-biserial effect size in exact ppm.
    */
  def mannWhitneyU(df: DataFrame, cohortCol: String, a: String, b: String,
      valueDollars: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = "DECIMAL(38,0)"
    val vals = df.filter(col(cohortCol).isin(a, b))
      .select(col(cohortCol).as("cohort"), valueDollars.as("x"))
    val cnt = vals.groupBy(col("x"))
      .agg(sum(when(col("cohort") === a, 1L).otherwise(0L)).as("c1"),
        sum(when(col("cohort") === b, 1L).otherwise(0L)).as("c2"))
      .withColumn("t", col("c1") + col("c2"))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cnt
      .withColumn("cumt", sum(col("t")).over(w))
      // doubled tie-averaged rank of every row holding value x
      .withColumn("r2", expr(s"CAST(2 * (cumt - t) + t + 1 AS $d)"))
      .agg(
        sum(col("c1")).cast(d).as("n1"),
        sum(col("c2")).cast(d).as("n2"),
        sum(expr(s"CAST(c1 AS $d) * r2")).as("r2a"),
        sum(expr(s"CAST(t AS $d) * t * t - t")).as("tie_cubic"))
      .withColumn("u2a", expr("r2a - n1 * (n1 + 1)"))
      .withColumn("dd", expr("u2a - n1 * n2"))
      .withColumn("var12", expr(
        "n1 * n2 * ((n1 + n2 + 1) * (n1 + n2) * (n1 + n2 - 1) - tie_cubic)"))
      // divisor guards: an all-tied sample zeroes var12 and an empty
      // cohort zeroes n1·n2 — dd is 0 in both degenerate cases, so the
      // guarded statistics read 0 instead of ANSI DIVIDE_BY_ZERO
      .withColumn("z2_milli", expr(
        "(3000 * (n1 + n2) * (n1 + n2 - 1) * dd * dd) div " +
          "(CASE WHEN var12 = 0 THEN 1 ELSE var12 END)"))
      .select(
        col("n1").cast("long").as("n_a"),
        col("n2").cast("long").as("n_b"),
        col("u2a").cast("long").as("u2_a"),
        expr("CAST(2 * n1 * n2 - u2a AS BIGINT)").as("u2_b"),
        col("tie_cubic").cast("long").as("tie_cubic"),
        expr("CAST((dd * 1000000) div " +
          "(CASE WHEN n1 * n2 = 0 THEN 1 ELSE n1 * n2 END) AS BIGINT)")
          .as("rb_ppm"),
        col("z2_milli"),
        expr("CAST(z2_milli >= 3842 AS INT)").as("reject_95"))
  }

  /** Kruskal–Wallis H test across ALL cohorts present — the k-sample
    * generalisation of [[mannWhitneyU]] (is at least one cohort's value
    * distribution shifted?). Same doubled tie-averaged ranks over the
    * quantized VALUE DOMAIN (2·avgrank = 2·C(<x) + t + 1, always
    * integral); with R2ᵢ the doubled rank sum of cohort i,
    * H = (3·Σ R2ᵢ²/nᵢ)/(n(n+1)) − 3(n+1) (the 12/4 cancellation), and
    * the tie correction divides by 1 − Σ(t³−t)/(n³−n). Ships as
    * h_milli = ((3000·Σ(R2ᵢ² div nᵢ)) div (n(n+1)) − 3000(n+1)) ·
    * (n³−n) div ((n³−n) − Σ(t³−t)) — per-group and outer `div`
    * truncations are the documented sub-milli quantization, identical
    * in both engines since `div`/`//` truncate alike. DECIMAL(38,0)
    * holds every term at sf1 (R2ᵢ² ≤ 8·10²³; the correction product
    * ≤ ~10²⁸). The α=0.05 verdict compares h_milli against the frozen
    * χ²(k−1) criticals for k−1 = 1..10, milli-ceiled so a statistic
    * inside the sub-milli boundary band reads non-reject (the
    * [[mannWhitneyU]] convention). Degenerate guards: an all-tied
    * sample zeroes both H and the correction divisor (guarded to 1);
    * a single cohort yields H = 0.
    */
  def kruskalWallisH(df: DataFrame, cohortCol: String,
      valueDollars: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = "DECIMAL(38,0)"
    val vals = df.select(col(cohortCol).as("cohort"), valueDollars.as("x"))
    // ONE corpus pass: the (cohort, value) counts are the only
    // corpus-sized aggregate; per-value totals (for ranks) reduce from
    // them, so the orders⋈customer join is never re-scanned
    val cv = vals.groupBy(col("cohort"), col("x"))
      .agg(count(lit(1)).as("c"))
    val cnt = cv.groupBy(col("x")).agg(sum(col("c")).as("t"))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r2 = cnt.withColumn("cumt", sum(col("t")).over(w))
      .select(col("x"), expr("2 * (cumt - t) + t + 1").as("r2"),
        expr(s"CAST(t AS $d) * t * t - t").as("tie"))
    val ties = r2.agg(sum(col("tie")).as("tie_cubic"))
    val grp = cv
      .join(r2.select(col("x"), col("r2")), Seq("x"))
      .groupBy(col("cohort"))
      .agg(sum(col("c")).cast(d).as("ni"),
        sum(expr(s"CAST(c AS $d) * r2")).as("r2i"))
    grp
      .agg(count(lit(1)).as("k"), sum(col("ni")).as("n"),
        // each quotient ~ ni*(n+1)^2 fits a LONG, but their SUM exceeds
        // LONG range near sf10 (n ~ 1.5e7) while the DuckDB oracle sums
        // HUGEINT — re-enter DECIMAL per term so both ceilings match
        sum(expr(s"CAST((r2i * r2i) div ni AS $d)")).as("sq"))
      .crossJoin(broadcast(ties))
      // `div` returns BIGINT whatever its inputs, so sq (a sum of
      // per-group BIGINT quotients, ~1.4e16 at sf0.1) must re-enter
      // DECIMAL before the *3000 — the long product overflows at sf0.1
      .withColumn("h_raw_milli", expr(
        s"(3000 * CAST(sq AS $d)) div (n * (n + 1)) - 3000 * (n + 1)"))
      .withColumn("cube", expr("n * n * n - n"))
      .withColumn("h_milli", expr(
        "(h_raw_milli * cube) div (CASE WHEN cube - tie_cubic = 0 THEN 1 " +
          "ELSE cube - tie_cubic END)"))
      // frozen chi-square(df) 0.95 criticals, milli-ceiled, df = k-1 in
      // 1..10 (beyond 10 cohorts the verdict ships NULL rather than a
      // wrong threshold)
      .withColumn("crit_milli", expr(
        "CASE k - 1 WHEN 1 THEN 3842 WHEN 2 THEN 5992 WHEN 3 THEN 7815 " +
          "WHEN 4 THEN 9488 WHEN 5 THEN 11071 WHEN 6 THEN 12592 " +
          "WHEN 7 THEN 14068 WHEN 8 THEN 15508 WHEN 9 THEN 16919 " +
          "WHEN 10 THEN 18308 ELSE NULL END"))
      .select(col("k").cast("long").as("k_cohorts"),
        col("n").cast("long").as("n"),
        col("tie_cubic").cast("long").as("tie_cubic"),
        col("h_milli").cast("long").as("h_milli"),
        expr("CAST(k - 1 AS BIGINT)").as("df"),
        expr("CAST(h_milli >= crit_milli AS INT)").as("reject_95"))
  }

  /** Split-conformal prediction interval per cohort — distribution-free
    * uncertainty for a point predictor (Vovk et al.; Lei et al. 2018):
    * train rows (odd ids, deterministic split) fit the cohort-mean
    * predictor in exact cents; calibration rows (even ids) score
    * absolute residuals; and the 90% conformal radius is the
    * ⌈0.9·(n_cal+1)⌉-th smallest calibration residual — an order
    * statistic read from one cumulative window over the per-cohort
    * RESIDUAL VALUE DOMAIN (never a per-row rank). Coverage ≥ 90% on
    * exchangeable data holds by construction. A cohort whose
    * calibration set is too small for the rank (p > n_cal) ships a
    * NULL radius — the honest "cannot certify" answer.
    */
  def conformalInterval(df: DataFrame, cohortCol: String, idCol: String,
      valueCents: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = df.select(col(cohortCol).as("cohort"), col(idCol).as("id"),
      valueCents.as("v"))
    val pred = rows.filter(expr("id % 2 = 1"))
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_train"),
        expr("sum(v) div count(1)").as("pred_cents"))
    val cal = rows.filter(expr("id % 2 = 0"))
      .join(broadcast(pred), Seq("cohort"))
      .withColumn("r", expr("abs(v - pred_cents)"))
      .groupBy(col("cohort"), col("n_train"), col("pred_cents"), col("r"))
      .agg(count(lit(1)).as("t"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal
      .withColumn("cum", sum(col("t")).over(w))
      .withColumn("n_cal", sum(col("t")).over(
        Window.partitionBy(col("cohort"))))
      .groupBy(col("cohort"), col("n_train"), col("pred_cents"),
        col("n_cal"))
      .agg(min(when(expr("cum >= (9 * (n_cal + 1) + 9) div 10"), col("r")))
        .as("q90_radius_cents"))
      .select(col("cohort"), col("n_train"), col("n_cal"),
        col("pred_cents"), col("q90_radius_cents"))
  }

  /** Per-part inventory policy — the two OR classics every demand
    * planner runs, both exact: the economic order quantity
    * EOQ = √(2·D·S/H) (Harris 1913) via DECIMAL square + float-sqrt
    * with the integer ±1 repair (the [[Curation]] isqrt discipline,
    * S and H frozen cost literals), and the newsvendor stocking level
    * at the critical fractile Cu/(Cu+Co) = 3/4 — the ⌈0.75·n⌉-th order
    * statistic of the part's per-line demand, read from one cumulative
    * window over the (part, quantity) VALUE DOMAIN (quantities are
    * small integers, so the window relation is parts × ~50). One
    * lineitem scan, part-keyed shuffles only.
    */
  def inventoryPolicy(lineitem: DataFrame, setupCents: Long = 2500L,
      holdCents: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = lineitem.select(col("l_partkey").as("partkey"),
      expr("CAST(l_quantity AS BIGINT)").as("qty"))
      .groupBy(col("partkey"), col("qty")).agg(count(lit(1)).as("t"))
    val w = Window.partitionBy(col("partkey")).orderBy(col("qty"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q
      .withColumn("cum", sum(col("t")).over(w))
      .withColumn("n", sum(col("t")).over(
        Window.partitionBy(col("partkey"))))
      .withColumn("dsum", sum(col("qty") * col("t")).over(
        Window.partitionBy(col("partkey"))))
      .groupBy(col("partkey"), col("n"), col("dsum"))
      .agg(min(when(expr("cum >= (3 * n + 3) div 4"), col("qty")))
        .as("q75_qty"))
      .withColumn("x", expr(
        s"CAST(2 AS DECIMAL(38,0)) * dsum * $setupCents div $holdCents"))
      .withColumn("s0", expr(
        "CAST(floor(sqrt(CAST(x AS DOUBLE))) AS DECIMAL(38,0))"))
      .select(col("partkey"), col("n").as("n_lines"),
        col("dsum").as("demand_units"),
        expr("CAST(CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN s0 + 1 " +
          "WHEN s0 * s0 > x THEN s0 - 1 ELSE s0 END AS BIGINT)")
          .as("eoq_units"),
        col("q75_qty"))
  }

  /** Dispersion of lines-per-order — is order size Poisson-like or
    * over-dispersed? The full histogram (lines k → order count) plus the
    * variance-to-mean ratio in exact milli (VMR = 1000 means Poisson;
    * the [[Curation.tokenBurstiness]] moment form on relational data).
    * The histogram relation is bounded by the max line count (~7 in
    * TPC-H); the VMR replicates onto each row so one key carries both.
    */
  def linecountDispersion(lineitem: DataFrame): DataFrame = {
    val d = "DECIMAL(38,0)"
    val perOrder = lineitem.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("k"))
    val hist = perOrder.groupBy(col("k")).agg(count(lit(1)).as("n_orders"))
    val m = hist.agg(sum(col("n_orders")).cast(d).as("no"),
      sum(expr(s"CAST(n_orders AS $d) * k")).as("s"),
      sum(expr(s"CAST(n_orders AS $d) * k * k")).as("q"))
      .withColumn("vmr_milli", expr(
        "CAST((1000 * (no * q - s * s)) div " +
          "(CASE WHEN (no - 1) * s = 0 THEN 1 ELSE (no - 1) * s END) " +
          "AS BIGINT)"))
    hist.crossJoin(broadcast(m.select(col("vmr_milli"))))
      .select(col("k").as("n_lines"), col("n_orders"), col("vmr_milli"))
  }

  /** Pareto concentration check — "do the top 20% of parts carry 80% of
    * the revenue?": the exact revenue share of the top ⌊n/5⌋ units,
    * read from the value-domain cumulative relation with the lorenzGini
    * partial-group treatment (every unit in a straddling tie group
    * holds the same value, so the boundary prefix is exact). One row:
    * unit and revenue totals, the top-20% count, and its share in ppm.
    */
  def paretoTopShare(units: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = "DECIMAL(38,0)"
    val byV = units.groupBy(col(valueCol).as("v"))
      .agg(count(lit(1)).as("t"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byV
      .withColumn("cumt", sum(col("t")).over(w))
      .withColumn("cumv", sum(expr(s"CAST(t AS $d) * v")).over(w))
    val glob = cum.agg(max(col("cumt")).as("n"), max(col("cumv")).as("s"))
      .withColumn("pos", expr("n - n div 5"))
    cum.crossJoin(broadcast(glob))
      .filter(col("cumt") - col("t") < col("pos") &&
        col("pos") <= col("cumt"))
      .select(col("n").as("n_units"),
        expr("n div 5").as("top_n"),
        col("s").cast("long").as("total_value"),
        expr(s"CAST(1000000 - (1000000 * (cumv - CAST(t AS $d) * v + " +
          "(pos - (cumt - t)) * CAST(v AS DECIMAL(38,0)))) div " +
          "(CASE WHEN s = 0 THEN 1 ELSE s END) AS BIGINT)")
          .as("top_share_ppm"))
  }

  /** 10%-trimmed mean per cohort — the robust location estimate that
    * survives the fat tails a raw mean drowns in: drop the lowest and
    * highest ⌊n/10⌋ units and average the rest, all from the per-cohort
    * VALUE-DOMAIN cumulative window (a straddling tie group contributes
    * its exact partial count on both edges — no per-row rank). Ships
    * trimmed_mean_milli = (1000·kept_sum) div kept_n next to the raw
    * mean for the tail-weight contrast.
    */
  def trimmedMean(df: DataFrame, cohortCol: String,
      valueDollars: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = "DECIMAL(38,0)"
    val byV = df.select(col(cohortCol).as("cohort"), valueDollars.as("v"))
      .groupBy(col("cohort"), col("v")).agg(count(lit(1)).as("t"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byV
      .withColumn("cum", sum(col("t")).over(w))
      .withColumn("n", sum(col("t")).over(
        Window.partitionBy(col("cohort"))))
      .withColumn("lo", expr("n div 10"))
      .withColumn("hi", expr("n - n div 10"))
      // units of this value group inside the kept band (lo, hi]
      .withColumn("kept", expr(
        "greatest(0L, least(cum, hi) - greatest(cum - t, lo))"))
      .groupBy(col("cohort"))
      .agg(max(col("n")).as("n"),
        sum(col("kept")).as("kept_n"),
        sum(expr(s"CAST(kept AS $d) * v")).as("kept_sum"),
        sum(expr(s"CAST(t AS $d) * v")).as("full_sum"))
      .select(col("cohort"), col("n"), col("kept_n"),
        expr("CAST((1000 * kept_sum) div (CASE WHEN kept_n = 0 THEN 1 " +
          "ELSE kept_n END) AS BIGINT)").as("trimmed_mean_milli"),
        expr("CAST((1000 * full_sum) div n AS BIGINT)").as("raw_mean_milli"))
  }

  /** Q–Q shift profile between two cohorts — WHERE do the distributions
    * differ, not just whether ([[ksTwoSample]] answers that): at each
    * decile d = 1..9, both cohorts' type-1 quantiles (position ⌈d·n/10⌉
    * from the per-cohort VALUE-DOMAIN cumulative window) side by side,
    * with the absolute shift and its relative size in basis points.
    * The decile probe is a 9-row broadcast against the value-domain
    * relation (the lorenzGini pattern); nothing is ranked per row.
    */
  def qqShiftProfile(df: DataFrame, cohortCol: String, a: String, b: String,
      valueDollars: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byV = df.filter(col(cohortCol).isin(a, b))
      .select(col(cohortCol).as("cohort"), valueDollars.as("v"))
      .groupBy(col("cohort"), col("v")).agg(count(lit(1)).as("t"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byV
      .withColumn("cum", sum(col("t")).over(w))
      .withColumn("n", sum(col("t")).over(
        Window.partitionBy(col("cohort"))))
    val dec = cum.select(col("cohort"), col("n")).distinct()
      .select(col("cohort"), col("n"),
        explode(sequence(lit(1), lit(9))).as("decile"))
      .withColumn("pos", expr("(decile * n + 9) div 10"))
    val qs = cum.join(broadcast(dec.select(col("cohort"), col("decile"),
      col("pos"))), Seq("cohort"))
      .filter(col("cum") - col("t") < col("pos") &&
        col("pos") <= col("cum"))
      .select(col("cohort"), col("decile"), col("v"))
    qs.filter(col("cohort") === a)
      .select(col("decile"), col("v").as("q_a"))
      .join(qs.filter(col("cohort") === b)
        .select(col("decile"), col("v").as("q_b")), Seq("decile"))
      .select(col("decile"), col("q_a"), col("q_b"),
        (col("q_b") - col("q_a")).as("shift"),
        expr("(10000 * (q_b - q_a)) div " +
          "(CASE WHEN q_a = 0 THEN 1 ELSE q_a END)").as("shift_bp"))
  }

  /** Bowley (quartile) skewness of the document-length distribution per
    * source — the robust shape diagnostic that survives the outliers a
    * crawl always carries: quartiles are type-1 order statistics
    * (position ⌈p·n⌉) read from one cumulative window over the
    * per-source LENGTH VALUE DOMAIN, and the coefficient ships exact as
    * bowley_milli = 1000·(q3 + q1 − 2·q2) div (q3 − q1) (0 when the IQR
    * collapses). Positive = right tail (a few huge docs), the usual
    * crawl signature.
    */
  def lengthSkewness(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byV = docs.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("t"))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byV
      .withColumn("cum", sum(col("t")).over(w))
      .withColumn("n", sum(col("t")).over(
        Window.partitionBy(col("source"))))
      .groupBy(col("source"), col("n"))
      .agg(
        min(when(expr("cum >= (n + 3) div 4"), col("v"))).as("q1"),
        min(when(expr("cum >= (n + 1) div 2"), col("v"))).as("q2"),
        min(when(expr("cum >= (3 * n + 3) div 4"), col("v"))).as("q3"))
      .select(col("source"), col("n").as("n_docs"),
        col("q1"), col("q2"), col("q3"),
        expr("CAST((1000 * (q3 + q1 - 2 * q2)) div " +
          "(CASE WHEN q3 = q1 THEN 1 ELSE q3 - q1 END) AS BIGINT)")
          .as("bowley_milli"))
  }

  /** Lorenz concentration curve + exact Gini of a per-key value
    * distribution — "what share of total revenue do the bottom d/10 of
    * customers hold?" plus the single-number Gini summary. All exact on
    * the VALUE DOMAIN (no per-row ranking window): for a value group
    * (v, t) with C units strictly below, the rank sum telescopes to
    * t·C + t(t+1)/2, so 2Σrankᵢ·xᵢ − (n+1)·Σx — the Gini numerator —
    * reduces over distinct values, and each decile boundary
    * p_d = (d·n) div 10 lands inside exactly one group, where the
    * partial prefix (p_d − C)·v is exact because every unit in the
    * group holds the same v. Emits 10 rows (decile, boundary position,
    * cumulative value, share in ppm) with the constant gini_ppm
    * replicated. The decile probe is a 10-row broadcast against the
    * value-domain relation; nothing data-sized is windowed.
    */
  def lorenzGini(units: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = "DECIMAL(38,0)"
    val byV = units.groupBy(col(valueCol).as("v"))
      .agg(count(lit(1)).as("t"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byV
      .withColumn("cumt", sum(col("t")).over(w))
      .withColumn("cumv", sum(expr(s"CAST(t AS $d) * v")).over(w))
      .withColumn("c_before", col("cumt") - col("t"))
      .withColumn("v_before", expr(s"cumv - CAST(t AS $d) * v"))
    val glob = cum.agg(
      max(col("cumt")).as("n"), max(col("cumv")).as("s"),
      sum(expr(s"CAST(v AS $d) * (2 * (CAST(t AS $d) * c_before + " +
        s"(CAST(t AS $d) * (t + 1)) div 2))")).as("rank2x"))
      .withColumn("gini_ppm", expr(
        "CAST((1000000 * (rank2x - (n + 1) * s)) div " +
          "(CASE WHEN CAST(n AS DECIMAL(38,0)) * s = 0 THEN 1 " +
          "ELSE CAST(n AS DECIMAL(38,0)) * s END) AS BIGINT)"))
    val deciles = glob.select(col("n"), col("s"), col("gini_ppm"),
      explode(sequence(lit(1), lit(10))).as("decile"))
      .withColumn("pos", expr("(decile * n) div 10"))
    cum.join(broadcast(deciles),
      col("c_before") < col("pos") && col("pos") <= col("cumt"))
      .select(col("decile"), col("pos").as("boundary_pos"),
        expr(s"CAST(v_before + (pos - c_before) * CAST(v AS $d) AS BIGINT)")
          .as("cum_value"),
        expr(s"CAST((1000000 * (v_before + (pos - c_before) * " +
          "CAST(v AS DECIMAL(38,0)))) div (CASE WHEN s = 0 THEN 1 " +
          "ELSE s END) AS BIGINT)").as("share_ppm"),
        col("gini_ppm"))
  }

  /** Welch t² and Cohen's d between two cohorts' value distributions —
    * the parametric twin of [[mannWhitneyU]] (MW asks about ranks;
    * Welch asks about MEANS under unequal variances, and d standardises
    * the gap). Everything reduces to the five moment sums (nᵢ, Sᵢ, Qᵢ)
    * in DECIMAL(38,0); the only quantizations are the documented fixed
    * points — mean difference to MILLI-units
    * (dd_milli = 1000·(S₁n₂ − S₂n₁) div n₁n₂), per-cohort variance to
    * MICRO-units² (vᵢ = 10⁶·(Qᵢ − Sᵢ² div nᵢ) div (nᵢ−1)) — after
    * which t² = dd_milli²·1000 div (v₁ div n₁ + v₂ div n₂) and
    * d² = dd_milli²·10⁶ div v_pooled are exact integer arithmetic,
    * identical under Spark `div` and DuckDB `//`. The α=0.05 verdict
    * uses the frozen z² critical 3842 (Welch df is ≫ 100 at every
    * fixture scale, where t² and z² criticals agree past the third
    * decimal). Degenerate divisors (empty/singleton cohort, zero
    * variance) are guarded to 1; dollar-quantized inputs keep
    * Sᵢ² div nᵢ inside BIGINT through sf10 (~10¹⁸).
    */
  def welchEffect(df: DataFrame, cohortCol: String, a: String, b: String,
      valueDollars: org.apache.spark.sql.Column): DataFrame = {
    val d = "DECIMAL(38,0)"
    df.filter(col(cohortCol).isin(a, b))
      .select(when(col(cohortCol) === a, 1L).otherwise(2L).as("g"),
        valueDollars.as("v"))
      .agg(
        sum(expr("CAST(g = 1 AS BIGINT)")).cast(d).as("n1"),
        sum(expr("CAST(g = 2 AS BIGINT)")).cast(d).as("n2"),
        sum(expr(s"CASE WHEN g = 1 THEN CAST(v AS $d) ELSE 0 END")).as("s1"),
        sum(expr(s"CASE WHEN g = 2 THEN CAST(v AS $d) ELSE 0 END")).as("s2"),
        sum(expr(s"CASE WHEN g = 1 THEN CAST(v AS $d) * v ELSE 0 END"))
          .as("q1"),
        sum(expr(s"CASE WHEN g = 2 THEN CAST(v AS $d) * v ELSE 0 END"))
          .as("q2"))
      .withColumn("dd_milli", expr(
        "(1000 * (s1 * n2 - s2 * n1)) div " +
          "(CASE WHEN n1 * n2 = 0 THEN 1 ELSE n1 * n2 END)"))
      .withColumn("w1", expr(
        "q1 - (s1 * s1) div (CASE WHEN n1 = 0 THEN 1 ELSE n1 END)"))
      .withColumn("w2", expr(
        "q2 - (s2 * s2) div (CASE WHEN n2 = 0 THEN 1 ELSE n2 END)"))
      .withColumn("v1", expr(
        "(1000000 * w1) div (CASE WHEN n1 <= 1 THEN 1 ELSE n1 - 1 END)"))
      .withColumn("v2", expr(
        "(1000000 * w2) div (CASE WHEN n2 <= 1 THEN 1 ELSE n2 - 1 END)"))
      .withColumn("ve", expr(
        "v1 div (CASE WHEN n1 = 0 THEN 1 ELSE n1 END) + " +
          "v2 div (CASE WHEN n2 = 0 THEN 1 ELSE n2 END)"))
      .withColumn("vp", expr(
        "(1000000 * (w1 + w2)) div " +
          "(CASE WHEN n1 + n2 <= 2 THEN 1 ELSE n1 + n2 - 2 END)"))
      // dd_milli is BIGINT (div result); it must re-enter DECIMAL
      // before squaring — 10⁶·dd² overflows LONG for mean gaps ≥ ~3000
      .withColumn("t2_milli", expr(
        "(1000 * CAST(dd_milli AS DECIMAL(38,0)) * dd_milli) div " +
          "(CASE WHEN ve = 0 THEN 1 ELSE ve END)"))
      .select(col("n1").cast("long").as("n_a"),
        col("n2").cast("long").as("n_b"),
        col("dd_milli").cast("long").as("mean_diff_milli"),
        expr("CAST((1000000 * CAST(dd_milli AS DECIMAL(38,0)) * dd_milli) " +
          "div (CASE WHEN vp = 0 THEN 1 ELSE vp END) AS BIGINT)")
          .as("d2_ppm"),
        col("t2_milli").cast("long").as("t2_milli"),
        expr("CAST(t2_milli >= 3842 AS INT)").as("reject_95"))
  }

  /** Dunn's post-hoc pairwise comparisons after [[kruskalWallisH]] —
    * which cohort PAIRS differ, read from the SAME doubled tie-averaged
    * ranks (Dunn 1964): per pair z² = (r̄ᵢ − r̄ⱼ)² / (σ²(1/nᵢ + 1/nⱼ))
    * with σ² = (n(n²−1) − Σ(t³−t)) / (12(n−1)). Mean ranks quantize to
    * CENTI-doubled ranks (rcᵢ = 100·R2ᵢ div nᵢ, the one documented
    * fixed point, ±0.005 rank), after which
    * z2_milli = (3·(n−1)·diffc²·nᵢnⱼ) div (10·(nᵢ+nⱼ)·(n(n²−1) − T))
    * is exact integer algebra inside DECIMAL(38,0) (≤ ~4·10³⁴ at sf1).
    * Verdicts are Bonferroni-held at family α = 0.05: the frozen
    * χ²₁(0.05/m) milli-ceiled criticals for m = k(k−1)/2 pairs,
    * k = 2..6 (beyond 6 cohorts the verdict ships NULL). The pair
    * relation is k²-bounded — cohort-count-sized, never data-sized.
    *
    * EAGER at construction: the value-domain rank relation and the
    * k-row per-cohort rank-sum relation each feed multiple consumers
    * (the tie aggregate; both sides of the pair self-join plus the
    * global aggregate), so both are cut via `Materialize.local` — measured
    * 2.2× warm at sf1 (6.52 → 2.91 s, tasks 385 → 234) vs lazy, the
    * linkPredictionTopK class (small relations after a heavy chain,
    * where AQE exchange reuse does not cover the post-aggregate
    * window). Cutting the corpus-sized cv as well was measured 2×
    * SLOWER (see inline note).
    */
  def dunnPosthoc(df: DataFrame, cohortCol: String,
      valueDollars: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = "DECIMAL(38,0)"
    // cv stays LAZY although two eager jobs below consume it: cutting
    // it was measured 2× SLOWER at sf1 (2.91 → 5.99 s warm — the
    // ~1.3M-row checkpoint write costs more than the rescan it saves)
    val cv = df.select(col(cohortCol).as("cohort"), valueDollars.as("x"))
      .groupBy(col("cohort"), col("x")).agg(count(lit(1)).as("c"))
    val cnt = cv.groupBy(col("x")).agg(sum(col("c")).as("t"))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // r2 (value-domain-bounded) is the shared root of the tie aggregate
    // and the per-cohort rank sums — one cut runs the rank window once
    val r2 = Materialize.local(cnt.withColumn("cumt", sum(col("t")).over(w))
      .select(col("x"), expr("2 * (cumt - t) + t + 1").as("r2"),
        expr(s"CAST(t AS $d) * t * t - t").as("tie")))
    val ties = r2.agg(sum(col("tie")).as("tie_cubic"))
    val grp = Materialize.local(
      cv.join(r2.select(col("x"), col("r2")), Seq("x"))
        .groupBy(col("cohort"))
        .agg(sum(col("c")).as("ni"),
          sum(expr(s"CAST(c AS $d) * r2")).as("r2i"))
        .withColumn("rc", expr("(100 * r2i) div ni")))
    val glob = grp.agg(count(lit(1)).as("k"),
      sum(col("ni")).cast(d).as("n"))
    grp.select(col("cohort").as("cohort_a"), col("ni").as("na"),
      col("rc").as("rca"))
      .join(broadcast(grp.select(col("cohort").as("cohort_b"),
        col("ni").as("nb"), col("rc").as("rcb"))),
        col("cohort_a") < col("cohort_b"))
      .crossJoin(broadcast(glob)).crossJoin(broadcast(ties))
      .withColumn("diffc", expr(s"CAST(rca AS $d) - rcb"))
      .withColumn("den", expr(
        "10 * (CAST(na AS DECIMAL(38,0)) + nb) * " +
          "(n * (n * n - 1) - tie_cubic)"))
      .withColumn("z2_milli", expr(
        "(3 * (n - 1) * diffc * diffc * na * nb) div " +
          "(CASE WHEN den = 0 THEN 1 ELSE den END)"))
      .withColumn("crit_milli", expr(
        "CASE k WHEN 2 THEN 3842 WHEN 3 THEN 5732 WHEN 4 THEN 6961 " +
          "WHEN 5 THEN 7880 WHEN 6 THEN 8616 ELSE NULL END"))
      .select(col("cohort_a"), col("cohort_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        expr("CAST(rca - rcb AS BIGINT)").as("rank_diff_centi2"),
        col("z2_milli").cast("long").as("z2_milli"),
        expr("CAST(z2_milli >= crit_milli AS INT)").as("reject_bonf_95"))
  }

  /** Brown–Forsythe variance-homogeneity test across all cohorts — "do
    * the groups differ in SPREAD?" (the robust Levene variant: one-way
    * ANOVA on absolute deviations from the GROUP MEDIAN, Brown &
    * Forsythe 1974). Everything stays integral: group medians ship
    * doubled (m2 = the ⌈n/2⌉-th + (⌊n/2⌋+1)-th order statistics, read
    * from one cumulative window over the per-cohort VALUE DOMAIN), so
    * z = |2v − m2| is an exact integer per value, and the F statistic
    * reduces to moment algebra — SSB = Σ(Sᵢ² div nᵢ) − S² div N,
    * SSW = ΣQᵢ − Σ(Sᵢ² div nᵢ) with Sᵢ = Σz, Qᵢ = Σz² — shipped as
    * f_milli = (1000·(N−k)·SSB) div ((k−1)·SSW) (per-group `div`
    * truncation is the shared sub-milli quantization; the zero-SSW
    * degenerate divisor is guarded to 1, so equal within-group spreads
    * read the unscaled numerator). The α=0.05 verdict uses the frozen
    * F(k−1, ∞) milli-ceiled criticals (= χ²(k−1)/(k−1) asymptote —
    * conservative-leaning at the fixture's N ≫ k; exact finite-df2
    * criticals would differ past the third decimal). Sᵢ² div nᵢ stays
    * under BIGINT through sf10 for dollar-quantized TPC-H totals
    * (~3·10¹⁸); DECIMAL(38,0) everywhere else.
    */
  def brownForsytheF(df: DataFrame, cohortCol: String,
      valueDollars: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = "DECIMAL(38,0)"
    val cv = df.select(col(cohortCol).as("cohort"), valueDollars.as("v"))
      .groupBy(col("cohort"), col("v")).agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy(col("cohort")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = cv.withColumn("cum", sum(col("c")).over(wc))
      .withColumn("ni", sum(col("c")).over(
        Window.partitionBy(col("cohort"))))
      .groupBy(col("cohort"))
      .agg(min(when(expr("cum >= (ni + 1) div 2"), col("v"))).as("v_lo"),
        min(when(expr("cum >= ni div 2 + 1"), col("v"))).as("v_hi"))
      .select(col("cohort"), (col("v_lo") + col("v_hi")).as("m2"))
    val grp = cv.join(broadcast(med), Seq("cohort"))
      .withColumn("z", expr("abs(2 * v - m2)"))
      .groupBy(col("cohort"))
      .agg(sum(col("c")).cast(d).as("ni"),
        sum(expr(s"CAST(c AS $d) * z")).as("si"),
        sum(expr(s"CAST(c AS $d) * z * z")).as("qi"))
    grp
      .agg(count(lit(1)).as("k"), sum(col("ni")).as("n"),
        sum(expr("(si * si) div ni")).as("sqb"),
        sum(col("si")).as("s"), sum(col("qi")).as("q"))
      .withColumn("ssb", expr(s"CAST(sqb AS $d) - (s * s) div n"))
      .withColumn("ssw", expr(s"q - CAST(sqb AS $d)"))
      .withColumn("f_milli", expr(
        "(1000 * (n - k) * ssb) div (CASE WHEN (k - 1) * ssw = 0 THEN 1 " +
          "ELSE (k - 1) * ssw END)"))
      .withColumn("crit_milli", expr(
        "CASE k - 1 WHEN 1 THEN 3842 WHEN 2 THEN 2996 WHEN 3 THEN 2605 " +
          "WHEN 4 THEN 2372 WHEN 5 THEN 2215 WHEN 6 THEN 2099 " +
          "WHEN 7 THEN 2010 WHEN 8 THEN 1939 WHEN 9 THEN 1880 " +
          "WHEN 10 THEN 1831 ELSE NULL END"))
      .select(col("k").cast("long").as("k_cohorts"),
        col("n").cast("long").as("n"),
        col("ssb").cast("long").as("ssb"),
        col("ssw").cast("long").as("ssw"),
        col("f_milli").cast("long").as("f_milli"),
        expr("CAST(k - 1 AS BIGINT)").as("df1"),
        expr("CAST(f_milli >= crit_milli AS INT)").as("reject_95"))
  }

  /** Order-header vs line-item totals reconciliation — the financial
    * consistency audit run before trusting any revenue rollup: recompute
    * each order's total from its lines as
    * Σ floor(ext_cents · (100 + tax_c) · (100 − disc_c) / 10⁴) (the
    * TPC-H pricing identity, with the per-line flooring documented as
    * the audit's quantization), diff against the header total in exact
    * cents, and report the relative-error histogram on power-of-two
    * basis-point bands (band −1 = exact match; `length(bin(bp)) − 1`
    * floors identically on both engines). One orderkey-co-partitioned
    * join + one bands-sized rollup; never a header- or line-sized
    * output.
    */
  def orderTotalReconciliation(
      orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val comp = lineitem
      .groupBy(col("l_orderkey"))
      .agg(expr(
        "sum((CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) * " +
          "(100 + CAST(CAST(l_tax AS DECIMAL(4,2)) * 100 AS BIGINT)) * " +
          "(100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT))) " +
          "div 10000)").as("comp_cents"))
    orders
      .select(col("o_orderkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("hdr_cents"))
      .join(comp, col("o_orderkey") === col("l_orderkey"))
      .withColumn("bp", expr(
        "(abs(comp_cents - hdr_cents) * 10000L) div greatest(1L, hdr_cents)"))
      .withColumn("band", expr(
        "CASE WHEN comp_cents = hdr_cents THEN -1L " +
          "ELSE CAST(length(bin(bp)) - 1 AS BIGINT) END"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("bp")).as("min_bp"), max(col("bp")).as("max_bp"),
        max(expr("abs(comp_cents - hdr_cents)")).as("max_abs_cents"))
  }

  /** Column completeness/cardinality profile — the first pass any data
    * catalog or ingestion monitor runs over a new table: per column, row
    * count, NULL count, and EXACT distinct count (count(DISTINCT c),
    * NULLs excluded, matching SQL semantics on both engines). One
    * column-pruned aggregate per column, unioned — each branch scans
    * only its own column (parquet ReadSchema stays single-column), so
    * the whole profile reads each byte of the table once.
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile: need columns")
    cols.map { c =>
      df.agg(count(lit(1)).as("n_rows"),
          sum(col(c).isNull.cast("long")).as("n_null"),
          countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"))
    }.reduce(_.unionAll(_))
  }

  /** Demand-intermittency classification (Syntetos, Boylan & Croston —
    * the SBC quadrant: smooth / intermittent / erratic / lumpy by mean
    * inter-demand interval and size variability) per part over the
    * lineitem stream — the classifier that decides which forecasting
    * model a part gets (Croston vs simple smoothing) and, in a data
    * pipeline, which parts have enough signal to model at all. ADI is
    * the global ship-date span over the part's distinct demand days
    * (milli, floor-divided); CV² = var/mean² of quantities from exact
    * DECIMAL moments. The canonical cutoffs 1.32 / 0.49 are applied as
    * integer cross-multiplications (no float enters the verdict). One
    * part-keyed aggregate + one broadcast global span row.
    */
  def demandIntermittency(lineitem: DataFrame): DataFrame = {
    val base = lineitem.select(col("l_partkey").as("part_id"),
      expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1992-01-01') " +
        "AS BIGINT)").as("d"),
      expr("CAST(l_quantity AS BIGINT)").as("q"))
    val span = base.agg(
      (max(col("d")) - min(col("d")) + 1L).as("span_days"))
    base
      .groupBy(col("part_id"))
      .agg(count(lit(1)).as("n_demands"),
        countDistinct(col("d")).as("n_days"),
        sum(col("q").cast("decimal(38,0)")).as("sq"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("sqq"))
      .crossJoin(broadcast(span))
      .withColumn("adi_milli", expr("(span_days * 1000L) div n_days"))
      .withColumn("cv2_milli", expr(
        "CAST(CASE WHEN sq = 0 THEN 0 ELSE " +
          "(1000 * (n_demands * sqq - sq * sq)) div (sq * sq) END AS BIGINT)"))
      .select(col("part_id"), col("n_demands"), col("n_days"),
        col("adi_milli"), col("cv2_milli"),
        when(col("adi_milli") > 1320L && col("cv2_milli") > 490L, "lumpy")
          .when(col("adi_milli") > 1320L, "intermittent")
          .when(col("cv2_milli") > 490L, "erratic")
          .otherwise("smooth").as("demand_class"))
  }

  /** Neyman-optimal stratified sample allocation (Neyman, JRSS 1934):
    * per stratum h, allocation ∝ N_h·σ_h — the variance-minimizing split
    * of a fixed labeling/eval budget across sources. The weight is the
    * EXACT integer isqrt of the variance numerator, w_h =
    * isqrt(N_h·Σx² − (Σx)²) = N_h·σ_h (float sqrt + integer ±1 repair),
    * x = document length in chars; quotas are floor-divided against the
    * broadcast weight total. One source-keyed aggregate.
    */
  def neymanAllocation(docs: DataFrame, budget: Long = 10000L): DataFrame = {
    val s = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("decimal(38,0)")).as("sx"),
        sum(expr("CAST(n_chars AS DECIMAL(38,0)) * n_chars")).as("sxx"))
      .withColumn("v", expr("n_docs * sxx - sx * sx"))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(v AS DOUBLE))) AS DECIMAL(38,0))"))
      .withColumn("w", expr(
        "CAST(CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1 " +
          "WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END AS BIGINT)"))
    val tot = s.agg(sum(col("w")).as("wt"))
    s.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("w"),
        expr(s"CASE WHEN wt = 0 THEN 0L ELSE ($budget * w) div wt END")
          .as("alloc"))
  }

  /** Herfindahl–Hirschman revenue-concentration index per nation — the
    * standard market-concentration statistic (HHI = Σ share²; monopoly =
    * 10⁶ ppm, atomized = 10⁶/n): how concentrated each nation's order
    * revenue is across its customers. Exact ppm from DECIMAL(38,0)
    * moments — HHI·10⁶ = 10⁶·Σcᵢ² div (Σcᵢ)², cᵢ = customer revenue in
    * cents. One custkey aggregate, broadcast dim joins, nations-sized
    * output.
    */
  def revenueHhi(orders: DataFrame, customer: DataFrame,
      nation: DataFrame): DataFrame = {
    val perCust = orders
      .groupBy(col("o_custkey"))
      .agg(expr("CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 " +
        "AS BIGINT)) AS DECIMAL(38,0))").as("c"))
    // customer is NOT broadcast: it scales with the corpus — the join
    // shuffles on custkey, co-partitioned with the revenue aggregate
    perCust
      .join(customer.select(col("c_custkey").as("o_custkey"),
        col("c_nationkey")), Seq("o_custkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("c_nationkey"),
        col("n_name"))), Seq("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c")).as("s"), sum(expr("c * c")).as("s2"))
      .select(col("n_name"), col("n_customers"),
        expr("CAST(s AS BIGINT)").as("rev_cents"),
        expr("CAST(CASE WHEN s = 0 THEN 0 ELSE (1000000 * s2) div (s * s) " +
          "END AS BIGINT)").as("hhi_ppm"))
  }

  /** Ship-lag SLA readout per order priority — the fulfillment metric an
    * ops dashboard tracks: days from order to line shipment, the doubled
    * exact median (2·p50 is integral at .5 interpolation — the
    * cross-engine percentile idiom), and the share shipped within 30
    * days in exact basis points. One orderkey-co-partitioned join + one
    * priorities-sized aggregate; the percentile runs per priority over
    * the lag-day domain.
    */
  def shipLagSla(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("CAST(o_orderdate AS DATE)").as("od"))
      .join(lineitem.select(col("l_orderkey").as("o_orderkey"),
        expr("CAST(l_shipdate AS DATE)").as("sd")), Seq("o_orderkey"))
      .select(col("o_orderpriority"),
        expr("CAST(datediff(sd, od) AS BIGINT)").as("lag"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        expr("CAST(round(percentile(lag, 0.5) * 2) AS BIGINT)")
          .as("p50_lag_x2"),
        sum((col("lag") <= 30L).cast("long")).as("n_within"))
      .select(col("o_orderpriority"), col("n_lines"), col("p50_lag_x2"),
        expr("(n_within * 10000L) div n_lines").as("within_30d_bp"))

  /** Signed r² (ppm) between a customer's account balance and their
    * order revenue — the "does balance predict spend" screen, the
    * exact-DECIMAL Pearson moments of the assortativity/elasticity
    * operators with one extra step: cent-scale covariance numerators
    * SQUARED blow past DECIMAL(38)/HUGEINT at sf0.1 (measured 2e43), so
    * num/dx/dy are floor-scaled by the FIXED literal 10¹² before the
    * quadratic form — the documented divide-first quantization (both
    * engines truncate identically, including num's sign toward zero).
    * Customers with no orders count with revenue 0 via the left join.
    */
  def balanceRevenueR2(customer: DataFrame, orders: DataFrame): DataFrame = {
    val rev = orders.groupBy(col("o_custkey"))
      .agg(expr("sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 " +
        "AS BIGINT))").as("r"))
    customer
      .select(col("c_custkey").as("o_custkey"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("b"))
      .join(rev, Seq("o_custkey"), "left")
      .na.fill(0L, Seq("r"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("b").cast("decimal(38,0)")).as("sx"),
        sum(col("r").cast("decimal(38,0)")).as("sy"),
        sum(expr("CAST(b AS DECIMAL(38,0)) * r")).as("sxy"),
        sum(expr("CAST(b AS DECIMAL(38,0)) * b")).as("sxx"),
        sum(expr("CAST(r AS DECIMAL(38,0)) * r")).as("syy"))
      .select(expr("CAST(n AS BIGINT)").as("n_customers"),
        expr("CAST((n * sxy - sx * sy) div 1000000000000 " +
          "AS DECIMAL(38,0))").as("num"),
        expr("CAST((n * sxx - sx * sx) div 1000000000000 " +
          "AS DECIMAL(38,0))").as("dx"),
        expr("CAST((n * syy - sy * sy) div 1000000000000 " +
          "AS DECIMAL(38,0))").as("dy"))
      .select(col("n_customers"),
        when(expr("dx = 0 OR dy = 0"), lit(0L))
          .when(col("num") < 0,
            -expr("CAST((1000000 * num * num) div (dx * dy) AS BIGINT)"))
          .otherwise(
            expr("CAST((1000000 * num * num) div (dx * dy) AS BIGINT)"))
          .as("r2_signed_ppm"))
  }

  /** Per-source language diversity — Gini–Simpson index and effective
    * language count, the concentration twin of [[sourceLangChi2]]'s
    * independence view (a crawl seed gone monolingual reads as
    * gini_simpson → 0 / eff_langs → 1). Both ship log-free and exact:
    * gini_simpson_ppm = 10⁶ − (10⁶·Σnₗ²) div n² and the inverse-Simpson
    * effective count eff_langs_milli = (1000·n²) div Σnₗ² (Hill number
    * of order 2 — the diversity family that needs no transcendental,
    * unlike Shannon). One (source, lang) count pass, one source-keyed
    * reduction; Σnₗ² in DECIMAL(38,0) (n ≤ 10¹⁴ docs per source safe).
    */
  def sourceSimpsonDiversity(docs: DataFrame): DataFrame = {
    val d = "DECIMAL(38,0)"
    docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"),
        sum(col("c")).cast(d).as("n"),
        sum(expr(s"CAST(c AS $d) * c")).as("sq"))
      .select(col("source"),
        col("n").cast("long").as("n_docs"), col("n_langs"),
        expr("CAST(1000000 - (1000000 * sq) div (n * n) AS BIGINT)")
          .as("gini_simpson_ppm"),
        expr("CAST((1000 * n * n) div sq AS BIGINT)").as("eff_langs_milli"))
  }

  /** Source × language χ² independence profile — the contingency
    * diagnostic a corpus curator reads to see which sources are
    * language-skewed (a crawl seed gone monolingual shows up as a hot
    * cell): per (source, lang) cell the observed count, the expected
    * count under independence in exact milli (rowSum·colSum·1000 div n),
    * and the cell's χ² contribution in exact milli computed as
    * (o·n − rs·cs)²·1000 div (n·rs·cs) — the cross-multiplied form with
    * no float; Σ contrib_milli IS the χ² statistic ×1000 for whatever
    * df the table has. DECIMAL(38,0) products — (o·n)² bounds the form
    * to tables of ~10¹⁷ documents (the [[degreeAssortativity]] bound
    * class); beyond that, pre-aggregate to sampled or coarser cells.
    */
  def sourceLangChi2(docs: DataFrame): DataFrame = {
    val cells = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("o"))
    val rows = cells.groupBy(col("source")).agg(sum(col("o")).as("rs"))
    val colsM = cells.groupBy(col("lang")).agg(sum(col("o")).as("cs"))
    val n = cells.agg(sum(col("o")).as("n"))
    cells
      .join(rows, Seq("source"))
      .join(colsM, Seq("lang"))
      .crossJoin(broadcast(n))
      .select(col("source"), col("lang"), col("o"),
        expr("CAST((CAST(rs AS DECIMAL(38,0)) * cs * 1000) div n AS BIGINT)")
          .as("expected_milli"),
        expr("CAST(((CAST(o AS DECIMAL(38,0)) * n - CAST(rs AS DECIMAL(38,0)) * cs) * " +
          "(CAST(o AS DECIMAL(38,0)) * n - CAST(rs AS DECIMAL(38,0)) * cs) * 1000) div " +
          "(CAST(n AS DECIMAL(38,0)) * rs * cs) AS BIGINT)")
          .as("contrib_milli"))
  }
}
