package graft.analytics

import graft.engine.Materialize
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora, from exact to
  * near-duplicate. Everything is expressed as shuffle-on-key DataFrame
  * transforms: at 100 TB the only data movement is the groupBy/join shuffles
  * on hash keys, never a driver round-trip, and every hash is md5-based so
  * results are engine- and partitioning-independent.
  */
object Dedup {

  /** Exact dedup via hash-groupBy on the raw text: one representative
    * (min id) per group plus the duplicate count.
    */
  def exactGroups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup on the normalized-content fingerprint — catches
    * case/whitespace variants that raw-text grouping misses.
    */
  def fingerprintGroups(docs: DataFrame): DataFrame =
    fingerprintGroupsFromFps(
      docs.select(col("doc_id"), fingerprint(col("text")).as("fp")))

  /** Same grouping over a PRE-COMPUTED `(doc_id, fp)` relation — the entry
    * point for callers that already materialized the fingerprint scan and
    * must not pay a second md5 pass over the corpus (`curationAudit`).
    */
  def fingerprintGroupsFromFps(fps: DataFrame): DataFrame =
    fps.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Apply the fingerprint dedup: keep exactly one representative document
    * (min id) per normalized-content group — the materialization step a
    * pipeline runs after detection. Served by the grouped top-k operator
    * with k=1 on the fingerprint: ONE scan and ONE shuffle (an
    * aggregate-then-semi-join formulation scans the corpus twice).
    */
  def dedupApply(docs: DataFrame): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(
      docs.withColumn("__fp", fingerprint(col("text"))),
      Seq("__fp"), Seq("doc_id"), 1)
      .drop("__fp")

  /** Incremental (cross-snapshot) dedup — the nightly-ingest shape: which
    * rows of `newBatch` are worth admitting into a corpus that already
    * contains `corpus`. A new document survives iff (a) it is the min-id
    * representative of its normalized fingerprint WITHIN the batch and
    * (b) its fingerprint is absent from the corpus. Both sides reduce to
    * one md5 per distinct document before the anti-join, so at 100 TB the
    * shuffle carries fingerprints, never text — and on a real deployment
    * the corpus side is a pre-computed fingerprint table, making the
    * nightly cost O(batch), not O(corpus).
    */
  def incrementalNew(corpus: DataFrame, newBatch: DataFrame): DataFrame = {
    val reps = newBatch
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val seen = corpus.select(fingerprint(col("text")).as("fp")).distinct()
    reps.join(seen, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
  }

  /** Paragraph-level exact dedup (the Dolma/C4 sub-document pass): the text
    * is split into fixed `chunkTokens`-token paragraphs (fixture docs carry
    * no newlines, so the block boundary stands in for the paragraph
    * boundary; a real corpus would split on '\n\n' with the same plan), a
    * paragraph survives only at its FIRST corpus occurrence (ordered by
    * (doc_id, position)), and every document reports its paragraph counts
    * plus the md5 of its cleaned (kept-paragraphs-only) text.
    *
    * Two shuffles total at any scale: the first-occurrence groupBy on the
    * paragraph string and the rebuild groupBy on doc_id. The first-
    * occurrence relation carries one row per DISTINCT paragraph — the
    * corpus-sized text never moves twice. Ordering uses the scalar key
    * `doc_id * 2^20 + idx` (docs are far below 2^20 paragraphs; DECIMAL
    * would lift the cap) so the groupBy needs no struct ordering, which
    * keeps the oracle formulation identical.
    */
  def paragraphDedup(docs: DataFrame, chunkTokens: Int = 20): DataFrame = {
    val nChunks = ceil(size(col("w")) / lit(chunkTokens.toDouble)).cast("int")
    val paras = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(col("w"), i * chunkTokens + 1, lit(chunkTokens)), " ")))
          .as(Seq("idx", "para")))
      .withColumn("ord", col("doc_id") * lit(1L << 20) + col("idx"))
    val firstOcc = paras.groupBy(col("para"))
      .agg(min(col("ord")).as("first_ord"))
    paras.join(firstOcc, Seq("para"))
      .withColumn("keep", col("ord") === col("first_ord"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        md5Hex(array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("idx"), col("para"))))),
            x => x.getField("para")),
          " ")).as("clean_md5"))
  }

  /** B-CUBED clustering quality (Bagga & Baldwin 1998; the metric Amigó
    * et al. 2009 show uniquely satisfies all four clustering-eval
    * constraints): per ELEMENT, precision = |C(d)∩G(d)|/|C(d)| and
    * recall = |C(d)∩G(d)|/|G(d)| against gold classes, averaged — the
    * standard scorecard for a dedup/ER clustering against labeled
    * truth, and unlike pair-F1 it neither ignores singletons nor lets
    * one mega-cluster dominate. Per-element ratios are exact ppm floor
    * divisions; the corpus averages are their integer means and F1 is
    * the harmonic mean of the two (computed from the already-floored
    * ppm values — the documented quantization). Three
    * partial-aggregating groupBys (cluster, gold, intersection) + one
    * join back; every shuffle keys on cluster/gold ids.
    */
  def bcubedEval(assign: DataFrame, gold: DataFrame): DataFrame = {
    val a = assign.select(col("doc_id"), col("c"))
      .join(gold.select(col("doc_id"), col("g")), Seq("doc_id"))
    val cs = a.groupBy(col("c")).agg(count(lit(1)).as("csz"))
    val gs = a.groupBy(col("g")).agg(count(lit(1)).as("gsz"))
    val ig = a.groupBy(col("c"), col("g")).agg(count(lit(1)).as("isz"))
    a.join(cs, Seq("c")).join(gs, Seq("g")).join(ig, Seq("c", "g"))
      .select(
        expr("(isz * 1000000L) div csz").as("p_ppm"),
        expr("(isz * 1000000L) div gsz").as("r_ppm"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("p_ppm")).as("sp"), sum(col("r_ppm")).as("sr"))
      .select(col("n_docs"),
        expr("sp div n_docs").as("bcubed_p_ppm"),
        expr("sr div n_docs").as("bcubed_r_ppm"))
      .withColumn("bcubed_f_ppm", expr(
        "CASE WHEN bcubed_p_ppm + bcubed_r_ppm = 0 THEN 0L " +
          "ELSE (2 * bcubed_p_ppm * bcubed_r_ppm) div " +
          "(bcubed_p_ppm + bcubed_r_ppm) END"))
  }

  /** Fragment stitching: DIRECTED candidate pairs (a → b) where document
    * a's last `k` tokens equal document b's first `k` tokens verbatim —
    * the signal that one source document was split across two rows (a
    * crawler page boundary, a chunked ingest), the complement of the
    * symmetric near-dup detectors. Each side contributes ONE fingerprint
    * row per document (the md5 of the boundary k-gram; the shuffle key
    * is the 32-char hash, never the text) and the join is equality on
    * that hash — doc-sized relations, no window, no pair explosion
    * beyond true boundary collisions. Documents shorter than 2k tokens
    * are skipped (their head and tail overlap, which is self-similarity,
    * not a split). Production stitchers use k ≈ 50; the fixture default
    * k = 3 keeps the 31-token-vocabulary corpus producing collisions to
    * exercise the join at every scale.
    */
  def fragmentStitchPairs(docs: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, s"fragmentStitchPairs: k >= 1, got $k")
    val base = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2 * k)
    val heads = base.select(col("doc_id").as("id_b"),
      md5Hex(array_join(slice(col("w"), 1, k), " ")).as("fp"))
    val tails = base.select(col("doc_id").as("id_a"),
      md5Hex(array_join(slice(col("w"), -k, k), " ")).as("fp"))
    tails.join(heads, Seq("fp"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("fp"))
  }

  /** Connected components over a near-duplicate pair relation — the
    * clustering step a dedup pipeline runs after pair detection, so each
    * component keeps exactly one representative. Min-label propagation as
    * iterated DataFrame ops: every vertex starts as its own label and each
    * round takes the min label over itself and its neighbors, UNTIL A
    * FIXPOINT — convergence is checked every `checkEvery` rounds with one
    * cheap count over the (vertex-sized) label relation, so deep chains
    * cannot be silently truncated the way a fixed round budget would.
    * `maxRounds` is a runaway bound only; hitting it raises instead of
    * returning a wrong answer. Near-dup components are shallow
    * (stars/short chains around a template), so the fixture converges in
    * a handful of rounds; at adversarial diameters the same loop runs
    * longer (or swap in [[connectedComponentsStar]], which converges in
    * O(log n) rounds) without changing any shuffle shape. Each round is
    * one groupBy on the vertex id over the edge relation joined with the
    * label relation — at 100 TB both sides shuffle on the same key every
    * round, so AQE reuses the partitioning.
    *
    * Returns (doc_id, component) with component = min doc_id in the
    * vertex's connected component (exact, matching a transitive-closure
    * oracle).
    */
  def connectedComponents(
      edges: DataFrame, maxRounds: Int = 100, checkEvery: Int = 4)
      : DataFrame = {
    // undirected adjacency, self-loops so isolated endpoints keep a row
    val adj = Materialize.localLazy(
      edges.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
        .union(edges.select(col("id_a").as("src"), col("id_a").as("dst")))
        .union(edges.select(col("id_b").as("src"), col("id_b").as("dst")))
        .distinct())
    var labels = Materialize.localLazy(adj.select(col("src").as("id"))
      .distinct().select(col("id"), col("id").as("component")))
    // fixpoint probe scalar: labels are monotone non-increasing per vertex
    // (the self-loop keeps each vertex's own label in its min), and the
    // vertex set is constant — so the EXACT label sum strictly decreases
    // until convergence. Comparing two scalars replaces the former
    // node-relation self-join + isEmpty probe per block: one cheap scan of
    // the just-checkpointed labels instead of an extra shuffle stage.
    // With the LAZY cut the probe is also the materializing action — the
    // checkpoint data persists inside the labelSum job, one job per block
    // instead of checkpoint + probe
    // (measured: the per-key fixed cost of the ~100-job iterative keys is
    // driver job latency, not task work).
    // DECIMAL(38,0) keeps the sum exact for any realistic id space
    // (~1e20 × 1e18 before overflow), where a BIGINT sum could wrap.
    // coalesce to zero so an EMPTY edge set (a batch that merged nothing
    // new, via connectedComponentsIncremental) converges immediately
    // instead of NPE-ing on a null sum
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(expr(
        "coalesce(sum(CAST(component AS DECIMAL(38,0))), CAST(0 AS DECIMAL(38,0)))"))
        .head.getDecimal(0)
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged) {
      var next = labels
      // a few lazy rounds per cut: cutting lineage every round
      // would pay an eager job per hop, while never cutting doubles the
      // analyzed-plan depth per round
      for (_ <- 1 to checkEvery) {
        next = adj.join(next, adj("dst") === next("id"))
          .groupBy(col("src")).agg(min(col("component")).as("component"))
          .select(col("src").as("id"), col("component"))
      }
      labels = Materialize.localLazy(next)
      round += checkEvery
      val curSum = labelSum(labels)
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      if (!converged && round >= maxRounds)
        throw new IllegalStateException(
          s"connectedComponents: no fixpoint after $round rounds — " +
            "component diameter exceeds maxRounds; raise maxRounds")
    }
    labels.select(col("id").as("doc_id"), col("component"))
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the O(log n)-round variant of [[connectedComponents]] for
    * adversarial component diameters, behind the same output contract
    * (doc_id, component = min id in the component).
    *
    *   - large-star: every vertex links its LARGER neighbors to the minimum
    *     of its closed neighborhood — long chains fold toward their minimum
    *     from every interior vertex at once;
    *   - small-star: every vertex links its smaller-or-equal neighbors (and
    *     itself) to that minimum — the step that turns folded chains into
    *     stars.
    *
    * A fixpoint of the alternation is exactly a disjoint union of stars
    * centered at component minima (the paper's invariant), so convergence
    * is checked as edge-set stability — two edge-sized anti-joins, the same
    * cost class as one contraction step. Rounds are O(log n) vs the label
    * propagation's O(diameter); each round is two groupBy/join passes over
    * the (shrinking) edge relation, every shuffle keyed on a vertex id.
    * `maxRounds` is a runaway bound only — hitting it raises, never
    * truncates.
    */
  /** Distributed triangle counting over a candidate-pair graph — the
    * node-iterator algorithm with degree orientation (Suri &
    * Vassilvitskii's MapReduce formulation): every undirected edge is
    * oriented from its lower-(degree, id) endpoint to the higher, which
    * caps each vertex's out-list at O(sqrt E) — so the wedge join's
    * fan-out stays bounded on ANY graph, including the star skew a hot
    * boilerplate document creates (where naive node-iterator explodes
    * quadratically at the hub). Wedges (two out-edges of one vertex,
    * canonically ordered) close into triangles through one equi-join
    * against the oriented edge set, so each triangle is found exactly
    * once at its lowest-order vertex; there is no OR-condition join and
    * no cartesian anywhere. Output is the per-document triangle
    * participation count — the local-density signal that separates tight
    * near-dup cliques from chains glued together by one hub, the QA
    * metric applied to a dedup clustering before trusting its
    * representatives. Nodes in no triangle are absent.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // EAGER: `e0` feeds the degree aggregate and the orientation join,
    // and `oriented` feeds THREE consumers (both wedge legs + the closing
    // edge) under different projections, so AQE's stage cache cannot
    // reuse them — RepeatAudit measured the distinct/degree chains
    // executing x6 uncut. Both are cut through `Materialize.local`.
    val e0 =
      Materialize.local(edges.select(col("id_a"), col("id_b")).distinct())
    val deg = e0.select(explode(array(col("id_a"), col("id_b"))).as("vtx"))
      .groupBy("vtx").agg(count(lit(1)).as("d"))
    def ord(d: Column, id: Column): Column =
      struct(d.as("d"), id.as("id"))
    val oriented = Materialize.local(e0
      .join(deg.select(col("vtx").as("id_a"), col("d").as("da")), "id_a")
      .join(deg.select(col("vtx").as("id_b"), col("d").as("db")), "id_b")
      .select(
        when(ord(col("da"), col("id_a")) < ord(col("db"), col("id_b")),
          struct(ord(col("da"), col("id_a")).as("u"),
            ord(col("db"), col("id_b")).as("v")))
          .otherwise(struct(ord(col("db"), col("id_b")).as("u"),
            ord(col("da"), col("id_a")).as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")))
    // two out-edges of u, ordered so the closing edge is oriented b -> c
    val wedges = oriented.select(col("u"), col("v").as("b"))
      .join(oriented.select(col("u"), col("v").as("c")), "u")
      .filter(col("b") < col("c"))
    val tri = wedges.join(
      oriented.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
    tri.select(explode(array(col("u.id"), col("b.id"), col("c.id"))).as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Rich-club coefficients (Zhou & Mondragón, IEEE Comm. Lett. 2004):
    * for each degree threshold k, the fraction of POSSIBLE edges that
    * actually exist among the nodes of degree > k — φ(k) near 1 means
    * the hubs form a tight club (boilerplate/stop-token cores in a
    * token graph; glue documents in a near-dup graph), near 0 means
    * hubs are mutually independent stars. Exact ppm: φ = e_k·10⁶ div
    * C(n_k, 2). One degree aggregate + one min-endpoint-degree tag of
    * the edge relation, then ALL thresholds come from two one-row
    * conditional aggregates (no per-threshold pass, no theta join) and
    * unpivot to thresholds-sized output.
    *
    * EAGER: the edge and degree relations each feed two consumers under
    * different prunings (RepeatAudit class) — cut through
    * `Materialize.local`.
    */
  def richClubCoefficients(
      edges: DataFrame, thresholds: Seq[Int] = Seq(4, 8, 16, 32))
      : DataFrame = {
    require(thresholds.nonEmpty, "richClubCoefficients: need thresholds")
    val e = Materialize.local(edges.select(col("id_a"), col("id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct())
    val deg = Materialize.local(
      e.select(explode(array(col("id_a"), col("id_b"))).as("u"))
        .groupBy(col("u")).agg(count(lit(1)).as("d")))
    val tagged = e
      .join(deg.select(col("u").as("id_a"), col("d").as("da")), Seq("id_a"))
      .join(deg.select(col("u").as("id_b"), col("d").as("db")), Seq("id_b"))
      .select(least(col("da"), col("db")).as("md"))
    val eAgg = tagged.agg(
      thresholds.map(k =>
        sum((col("md") > k.toLong).cast("long")).as(s"e$k")).head,
      thresholds.tail.map(k =>
        sum((col("md") > k.toLong).cast("long")).as(s"e$k")): _*)
    val nAgg = deg.agg(
      thresholds.map(k =>
        sum((col("d") > k.toLong).cast("long")).as(s"n$k")).head,
      thresholds.tail.map(k =>
        sum((col("d") > k.toLong).cast("long")).as(s"n$k")): _*)
    val stacked = thresholds
      .map(k => s"${k}L, n$k, e$k").mkString(", ")
    eAgg.crossJoin(broadcast(nAgg))
      .select(expr(s"stack(${thresholds.size}, $stacked) " +
        "AS (k, n_nodes, n_edges)"))
      .select(col("k"), col("n_nodes"), col("n_edges"),
        expr("CASE WHEN n_nodes < 2 THEN 0L " +
          "ELSE (n_edges * 1000000L) div ((n_nodes * (n_nodes - 1)) div 2) " +
          "END").as("phi_ppm"))
  }

  /** Link prediction over a co-occurrence graph: top-k NON-adjacent node
    * pairs by common-neighbor count, with the neighborhood-Jaccard score
    * in exact basis points (Liben-Nowell & Kleinberg's two classic
    * unsupervised predictors) — on the token graph this surfaces word
    * pairs that share contexts but never co-occur, the distributional
    * "synonym candidate" signal; on a near-dup candidate graph it
    * predicts which un-compared pairs an extra LSH band would surface.
    *
    * Scale shape: common-neighbor counting needs UNORIENTED wedges
    * (Σ_u C(deg u, 2)), which a hub vertex makes quadratic, so
    * high-degree vertices are dropped first — the same hub-token
    * argument as the shingle dfCap: a stop-token's neighborhood carries
    * no pairwise signal. The cap ADAPTS to the graph: greatest(`degCap`,
    * 8 × average degree), in exact integers, because a fixed cut that
    * prunes hubs at one corpus size empties the graph at 10× (at sf0.1
    * every fixture token outdegrees a fixed 64 and a constant cap
    * predicts nothing) while the Zipfian hubs stay far above any
    * constant multiple of the mean. The cap itself is one driver scalar
    * from a one-row aggregate (parameter-sized, like PageRank's node
    * count). All joins are vertex-keyed on the capped subgraph; the
    * k-row result comes from TakeOrdered with a full deterministic
    * tie-break.
    *
    * EAGER: construction runs Spark jobs (same lineage rule as
    * [[bfsDepthFromHubs]]) — `sym`/`adj` are cut through `Materialize.local`
    * and the adaptive cap is a driver `collect()` scalar, so merely
    * building the returned DataFrame executes the edge scan and degree
    * aggregate; failures surface at call time even if the result is
    * never consumed.
    */
  def linkPredictionTopK(
      edges: DataFrame, degCap: Int = 64, k: Int = 20)
      : DataFrame = {
    val e0 = edges.select(col("id_a"), col("id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct()
    // sym feeds the degree aggregate AND the capped-subgraph joins; adj
    // below feeds FOUR consumers (cdeg, both wedge legs, the anti-join)
    // — materialize each once or Spark re-runs the scan→distinct→join
    // chain per consumer (measured 1741 tasks at sf1 without the cuts)
    val sym = Materialize.local(
      e0.select(col("id_a").as("u"), col("id_b").as("v"))
        .union(e0.select(col("id_b").as("u"), col("id_a").as("v"))))
    val deg0 = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
    // driver scalar (the pageRankFixedPoint n pattern): sum(d) = 2|E|,
    // count = |V| — cap from the mean. A broadcast-crossJoin form was
    // measured 2x slower here: it adds an exchange + BNLJ stage to a
    // query whose cost is stage overhead, not data.
    val capRow = deg0.agg(greatest(lit(degCap.toLong),
      expr("(8 * sum(d)) div greatest(1L, count(1))")).as("cap")).collect()(0)
    val cap = if (capRow.isNullAt(0)) degCap.toLong else capRow.getLong(0)
    val deg = deg0.filter(col("d") <= cap)
    // capped subgraph: BOTH endpoints under the cap; degrees re-derived
    // within it so the Jaccard denominator matches the graph being scored
    val adj = Materialize.local(
      sym.join(deg.select(col("u")), Seq("u"), "left_semi")
        .join(deg.select(col("u").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v")))
    val cdeg = adj.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val wedges = adj.select(col("u"), col("v").as("b"))
      .join(adj.select(col("u"), col("v").as("c")), Seq("u"))
      .filter(col("b") < col("c"))
      .groupBy(col("b"), col("c")).agg(count(lit(1)).as("cn"))
    val nonAdj = wedges.join(
      adj.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"),
      "left_anti")
    nonAdj
      .join(cdeg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
      .join(cdeg.select(col("u").as("c"), col("d").as("dc")), Seq("c"))
      .select(col("b").as("id_a"), col("c").as("id_b"), col("cn"),
        expr("(cn * 10000L) div (db + dc - cn)").as("jaccard_bp"))
      .orderBy(col("cn").desc, col("jaccard_bp").desc, col("id_a"),
        col("id_b"))
      .limit(k)
  }

  /** Damped PageRank in EXACT integer fixed point — graph centrality over
    * candidate/co-occurrence graphs (hub tokens; glue documents that chain
    * near-dup clusters together). Ranks are BIGINTs scaled by 1e12, the
    * damping 0.85 is the rational 17/20, and every division is a
    * positive-integer floor division — `(pr*17) div (20*deg)` per edge,
    * teleport `(3*S) div (20*N)` — identical in Spark's `div` and DuckDB's
    * `//`, so an `iters`-step run hash-matches a staged-CTE replay exactly
    * on any partitioning. Undirected edges are symmetrized, so every node
    * has degree ≥ 1 both ways: no dangling-mass correction needed.
    *
    * Per iteration: one src-keyed join (node-sized rank relation against
    * the edge relation) and one dst aggregate — the standard two-shuffle
    * distributed PageRank; a lazy cut separates iterations. The
    * node count is the one driver scalar (a count, like the index
    * staleness signature — not data).
    */
  def pageRankFixedPoint(edges: DataFrame, iters: Int = 3): DataFrame = {
    // LAZY checkpoints: each cut materializes inside its first consumer
    // (dir in the node-count job, each iteration inside the next one's
    // stages) — the consumption chain is strictly sequential, so nothing
    // double-computes and the loop sheds one dedicated job per cut
    val S = 1000000000000L
    val e0 = edges.select(col("id_a"), col("id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct()
    val dir = Materialize.localLazy(
      e0.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(e0.select(col("id_b").as("src"), col("id_a").as("dst"))))
    val deg = dir.groupBy("src").agg(count(lit(1)).as("deg"))
    val withDeg = Materialize.localLazy(dir.join(deg, "src"))
    val n = deg.count()
    val base = (3L * S) / (20L * n)
    var ranks = deg.select(col("src").as("node"), lit(S / n).as("pr"))
    for (_ <- 1 to iters) {
      ranks = Materialize.localLazy(
        withDeg.join(ranks, withDeg("src") === ranks("node"))
          .select(col("dst"), expr("(pr * 17) div (20 * deg)").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("in_mass"))
          .select(col("dst").as("node"), (lit(base) + col("in_mass")).as("pr")))
    }
    ranks.select(col("node"), col("pr").cast("long").as("rank_scaled"))
  }

  /** HITS hubs and authorities (Kleinberg, "Authoritative sources in a
    * hyperlinked environment", JACM 46(5), 1999) in exact integer fixed
    * point over a DIRECTED graph — here the word-order graph (token a
    * precedes token b), where an authority is a token important words lead
    * INTO and a hub is one that leads into important tokens; on a link
    * graph the same operator ranks pages. Scores are BIGINTs scaled by
    * `scale`, and the usual L2 normalization is replaced by L1 in floor
    * fixed point (`(scale * raw) div total`) — no sqrt, no float, so an
    * `iters`-step run hash-matches a staged-CTE replay on any
    * partitioning. (L1 vs L2 rescales every score by the same factor per
    * step, so rankings — the thing HITS is for — are unchanged.)
    *
    * Per iteration: two node-keyed equi-joins (rank relation against the
    * edge relation, on dst then src) and two aggregates — the same
    * two-shuffle-per-sweep shape as [[pageRankFixedPoint]]; the one-row
    * normalization totals broadcast. Magnitudes are bounded by
    * `scale * E`, BIGINT-safe past 10^12 edges at the default scale; a
    * larger graph raises `scale` into DECIMAL territory — lower it first.
    */
  def hitsFixedPoint(edges: DataFrame, iters: Int = 2, scale: Long = 1000000L)
      : DataFrame = {
    val e = Materialize.local(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    val nodes = Materialize.local(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    var hub = nodes.select(col("node"), lit(scale).as("h"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      val rawA = e.join(hub.select(col("node").as("src"), col("h")), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("ra"))
      val totA = rawA.agg(sum(col("ra")).as("t"))
      auth = Materialize.local(rawA.crossJoin(broadcast(totA))
        .select(col("node"), expr(s"($scale * ra) div t").as("a")))
      val rawH = e.join(auth.select(col("node").as("dst"), col("a")), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("rh"))
      val totH = rawH.agg(sum(col("rh")).as("t"))
      hub = Materialize.local(rawH.crossJoin(broadcast(totH))
        .select(col("node"), expr(s"($scale * rh) div t").as("h")))
    }
    nodes.join(hub, Seq("node"), "left").join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("hub_scaled"),
        coalesce(col("a"), lit(0L)).as("auth_scaled"))
  }

  def connectedComponentsStar(
      edges: DataFrame, maxRounds: Int = 60): DataFrame = {
    val verts = Materialize.localLazy(
      edges.select(col("id_a").as("id"))
        .union(edges.select(col("id_b").as("id"))).distinct())
    var e = Materialize.localLazy(
      edges.select(least(col("id_a"), col("id_b")).as("a"),
          greatest(col("id_a"), col("id_b")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    var round = 0
    // the count doubles as the lazy checkpoint's materializing action (one
    // job), and carrying it across rounds halves the probe: set equality of
    // two DISTINCT edge sets needs equal cardinality (prev count, free)
    // plus one-direction emptiness — and the exceptAll only runs at all
    // when the counts match, i.e. at or near the fixpoint
    var eCount = e.count()
    var converged = eCount == 0L
    while (!converged) {
      // large-star: m(u) = min over u's closed neighborhood; (v, m) per v > u
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(mins, Seq("u")).filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .filter(col("a") =!= col("b")).distinct()
      // small-star on the (min, larger) orientation: each larger endpoint b
      // links itself and all its smaller neighbors to their minimum
      val sm = ls.groupBy(col("b")).agg(min(col("a")).as("m"))
      val withM = ls.join(sm, Seq("b"))
      val next = Materialize.localLazy(
        withM.select(col("m").as("a"), col("b"))
          .union(withM.select(col("m").as("a"), col("a").as("b")))
          .filter(col("a") =!= col("b")).distinct())
      round += 1
      val nextCount = next.count() // materializes the lazy checkpoint
      converged = nextCount == eCount && next.exceptAll(e).isEmpty
      if (!converged && round >= maxRounds)
        throw new IllegalStateException(
          s"connectedComponentsStar: no fixpoint after $round rounds — " +
            "raise maxRounds")
      e = next
      eCount = nextCount
    }
    // at the fixpoint e is a star set (component-min, member); vertices
    // absent from it (isolated, incl. self-loop-only inputs) are their own
    // component
    verts.join(e.select(col("b").as("id"), col("a").as("component")),
        Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("component"), col("id")).as("component"))
  }

  /** INCREMENTAL connected components — fold a batch of new edges into an
    * existing labeling without recomputing over the historical graph (the
    * dedup-clustering maintenance step behind [[minhashIndexAppend]]-style
    * ingest: the nightly batch brings new candidate pairs; the previous
    * corpus's components are already labeled). Standard contraction
    * argument: map every new-edge endpoint to its old component label
    * (itself if unseen), run CC on that CONTRACTED edge set — sized by the
    * batch, not the corpus — then relabel the old assignment through the
    * supernode result. Labels stay canonical (min member id): an old
    * label IS the min of its old component, so the contracted minimum is
    * the true merged minimum; a fresh node id can never collide with an
    * old label because labels are old member ids, which are all mapped.
    * Output is bit-identical to a full recompute over old ∪ new edges
    * (the oracle and the property spec both state it that way).
    *
    * Cost: two batch-edge-sized equi-joins against the label relation
    * (co-partitioned on the id), CC over the contracted batch graph, and
    * one label-relation join for the relabel — the historical EDGE set is
    * never touched.
    */
  def connectedComponentsIncremental(oldLabels: DataFrame, newEdges: DataFrame)
      : DataFrame = {
    val la = oldLabels.select(col("doc_id").as("id_a"), col("component").as("ca"))
    val lb = oldLabels.select(col("doc_id").as("id_b"), col("component").as("cb"))
    val contracted = newEdges
      .join(la, Seq("id_a"), "left")
      .join(lb, Seq("id_b"), "left")
      .select(coalesce(col("ca"), col("id_a")).as("id_a"),
        coalesce(col("cb"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    // no extra cut: connectedComponents returns its final label relation
    // already materialized (the last convergence probe persisted it), so a
    // wrapper checkpoint here would only add a dedicated job
    val superCC = connectedComponents(contracted)
    val relabel = superCC
      .select(col("doc_id").as("component"), col("component").as("newc"))
    val oldExpanded = oldLabels.join(relabel, Seq("component"), "left")
      .select(col("doc_id"),
        coalesce(col("newc"), col("component")).as("component"))
    val oldCompIds = oldLabels.select(col("component").as("doc_id")).distinct()
    val freshNodes = superCC.join(oldCompIds, Seq("doc_id"), "left_anti")
    oldExpanded.union(freshNodes.select(col("doc_id"), col("component")))
  }

  /** k-core membership after a FIXED number of distributed peel rounds —
    * the graph-density filter (Seidman, "Network structure and minimum
    * degree", Social Networks 5, 1983) that separates tightly-knit regions
    * (boilerplate cliques, mutual near-dup clusters, spam link farms) from
    * peripheral chains glued on by a single hot node. One peel round drops
    * every vertex of degree < k and the edges it carried; the k-core is the
    * fixpoint. Rounds are FIXED (not run to convergence) so the operator is
    * deterministic work regardless of data — both the engine and a SQL
    * replay execute exactly `rounds` peels and agree bit-for-bit; at the
    * fixture sizes 3 rounds converge, and at 100 TB a capped peel is the
    * standard approximation (each round is one degree aggregate + two
    * semi-joins over the shrinking edge relation, all keyed on a vertex —
    * the same two-shuffle-per-round class as [[pageRankFixedPoint]]).
    *
    * Output: every vertex still alive after `rounds` peels with its degree
    * in the surviving subgraph (vertices whose edges all died are absent).
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    // canonicalize orientation BEFORE distinct: an input carrying both
    // (a,b) and (b,a) would otherwise survive dedup twice and double
    // every degree, inflating k-core membership (no precondition on
    // callers — least/greatest is the identity on already-canonical edges)
    val e0 = edges.select(
      least(col("id_a"), col("id_b")).as("id_a"),
      greatest(col("id_a"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct()
    var dir = Materialize.local(
      e0.select(col("id_a").as("node"), col("id_b").as("nb"))
        .union(e0.select(col("id_b").as("node"), col("id_a").as("nb"))))
    for (_ <- 1 to rounds) {
      val keep = dir.groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("node"))
      dir = Materialize.local(
        dir.join(keep, Seq("node"), "left_semi")
          .join(keep.select(col("node").as("nb")), Seq("nb"), "left_semi"))
    }
    dir.groupBy(col("node")).agg(count(lit(1)).as("deg"))
  }

  /** Synchronous label propagation (Raghavan, Albert, Kumara, "Near linear
    * time algorithm to detect community structures in large-scale
    * networks", Phys. Rev. E 76, 2007) made DETERMINISTIC: every node
    * starts labeled with itself, and each round simultaneously adopts the
    * plurality label among its neighbors AND itself, ties broken by the
    * smallest label. The two classic nondeterminism sources — random visit
    * order and random tie-break — are replaced by the synchronous sweep and
    * the min-label rule, and the self-vote kills the classic synchronous
    * failure mode (a 2-clique swapping labels forever), so a `rounds`-step
    * run is a pure function of the edge set and hash-matches a staged-CTE
    * replay on any partitioning. Unlike min-label connected components a
    * label only spreads while it keeps winning local pluralities, so on
    * sparse mixed graphs dense regions keep their own labels instead of
    * flooding the component; on small dense clusters (near-dup groups) it
    * converges to the per-cluster min label — there it coincides with CC
    * by design, reached through votes rather than closure.
    *
    * Per round: one nb-keyed join (node-sized label relation against the
    * symmetrized edge relation), one (node, label) count aggregate, and a
    * node-keyed argmax (max-count reduce + filter-join + min-label reduce,
    * all on the node key — one exchange, no window), so the round is the
    * same two-shuffle class as [[pageRankFixedPoint]] with no
    * single-partition stage anywhere; a lazy cut separates rounds.
    *
    * Output: (node, label) after `rounds` sweeps — nodes sharing a label
    * form one community.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    // LAZY checkpoints — same sequential-consumer fusion as
    // [[pageRankFixedPoint]]: round 1's join materializes dir, each
    // round's label relation materializes inside the next round
    val e0 = edges.select(
      least(col("id_a"), col("id_b")).as("id_a"),
      greatest(col("id_a"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct()
    val sym = e0.select(col("id_a").as("node"), col("id_b").as("nb"))
      .union(e0.select(col("id_b").as("node"), col("id_a").as("nb")))
    val nodes = sym.select(col("node")).distinct()
    // self-loop per node = the self-vote (one ballot for the node's own
    // current label alongside its neighbors')
    val dir = Materialize.localLazy(
      sym.union(nodes.select(col("node"), col("node").as("nb"))))
    var lab = nodes.select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      val cnt = dir
        .join(lab.select(col("node").as("nb"), col("label")), Seq("nb"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      // argmax by (count DESC, label ASC) without a window: the count
      // aggregate, the max-count reduce, the filter-join, and the min-label
      // reduce are all keyed on the node, so Catalyst plans one exchange
      // for the whole round tail (no single-partition stage anywhere)
      val cmax = cnt.groupBy(col("node")).agg(max(col("c")).as("cmax"))
      lab = Materialize.localLazy(
        cnt.join(cmax, Seq("node"))
          .filter(col("c") === col("cmax"))
          .groupBy(col("node")).agg(min(col("label")).as("label")))
    }
    lab
  }

  /** Distinct word-`n`-gram shingles per document: (doc_id, s). The base
    * relation for Jaccard and MinHash.
    *
    * The token array is bound to a column first: inlining `split()` into the
    * shingle generator would re-split the text for every `element_at`
    * reference (~3x tokens per shingle) — measured 4x slower.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      // fixture tables are single-row-group files (one scan task); spread
      // rows before the explode so shingle generation parallelizes
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(wordShingles(col("w"), n)).as("s"))
      .distinct()

  /** The df-capped shingle relation `(doc_id, s, df)` in ONE materialized
    * pass: document frequency via a window count over `s` (one shuffle;
    * the groupBy-then-join-back form costs a second shuffle AND — when the
    * base relation is checkpointed to keep the explode from running twice —
    * a second unevictable checkpoint, which measurably squeezed the
    * execution pool at 100× sf: localCheckpoint blocks cannot be evicted,
    * so every extra one is permanent storage pressure for the session).
    * Callers checkpoint exactly this one relation and derive sizes/prefix/
    * join sides from it.
    */
  private def dfCappedShingles(
      docs: DataFrame,
      n: Int,
      dfCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Materialize.local(shingles(docs, n)
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("df") <= dfCap))
  }

  /** N-gram Jaccard near-duplicate pairs, exact over the df-capped shingle
    * sets: |A∩B| via shingle self-join, |A∪B| = |A|+|B|−|A∩B|, thresholded
    * with integer cross-multiplication (`thresholdDen * inter >= union` ⇔
    * Jaccard ≥ 1/thresholdDen) so no floating point is involved.
    *
    * The self-join shuffles on the shingle string — the standard
    * candidate-generation shuffle. `dfCap` is the scale guard: a
    * stop-shingle ("of the and") present in ~every document would put O(n²)
    * pairs on ONE join key, so shingles with document frequency > dfCap are
    * dropped before the join (standard practice — such shingles carry no
    * near-dup signal). Sizes and intersections are both computed over the
    * surviving shingles, so the Jaccard is exact on that universe.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      n: Int = 3,
      thresholdDen: Int = 5,
      dfCap: Int = 100): DataFrame = {
    // the shingle relation feeds the df filter, the size aggregate and both
    // join sides — materialize once instead of recomputing explode+distinct
    allPairsScored(docs, n, dfCap)
      .filter(lit(thresholdDen) * col("n_common") >= col("n_union"))
  }

  /** Co-occurrence pair counts `(id_a < id_b, n_common)` over a
    * duplicate-free `(doc_id, s)` shingle relation — the shared verify
    * kernel of the exact-Jaccard/containment family. Replaces the shingle
    * self-join `a.join(b, s && id_a < id_b).groupBy(id_a, id_b).count()`
    * with `groupBy(s) → collect_list → sorted_pairs generator`: the same
    * single exchange on `s` (the join shuffled the identical relation on
    * the identical key), but the C(df, 2) pair rows are emitted by one
    * compiled loop per shingle group instead of the sort-merge join's
    * sort + merge + row-build per pair, and the pair aggregate consumes
    * them map-side inside the same stage. Identical output: inputs are
    * distinct per (doc_id, s) in every caller, so the generator's
    * distinct-ascending pairs are exactly the join's `id_a < id_b` rows
    * (spec-checked against the join formulation).
    */
  private def coocPairCounts(sh: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.PlanBuilder
    val pairs = PlanBuilder.columnOf(graft.functions.NativeExpressions
      .SortedPairs(PlanBuilder.expressionOf(col("ids"))))
    sh.groupBy(col("s")).agg(collect_list(col("doc_id")).as("ids"))
      .select(explode(pairs).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_common"))
  }

  /** The all-pairs intersection relation both [[ngramJaccardPairs]] and
    * [[jaccardThresholdCurve]] score: every sharing pair over the
    * df-capped universe with its exact `(n_common, n_union)`.
    */
  private def allPairsScored(
      docs: DataFrame,
      n: Int,
      dfCap: Int): DataFrame = {
    val shAll = Materialize.local(shingles(docs, n))
    // df filter shuffles on the same key as the self-join below, so the
    // capped relation arrives pre-clustered for it
    val rare = shAll.groupBy(col("s"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= dfCap)
      .select(col("s"))
    // the USING-join puts the key column first — restore (doc_id, s) order
    // for the positional renames below
    val sh = shAll.join(rare, Seq("s"), "left_semi")
      .select(col("doc_id"), col("s"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = coocPairCounts(sh)
    inter
      .join(sizes.toDF("id_a", "sz_a"), "id_a")
      .join(sizes.toDF("id_b", "sz_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("n_common"),
        (col("sz_a") + col("sz_b") - col("n_common")).as("n_union"))
  }

  /** Jaccard THRESHOLD curve — qualifying-pair counts at several
    * thresholds from ONE all-pairs intersection pass over the df-capped
    * reference universe: the measurement that tells you where to SET the
    * dedup threshold before a full-corpus sweep (too low floods the
    * cluster step with weak pairs; too high misses rewrites). One
    * conditional aggregate per threshold over the same scored relation —
    * the intersection join is paid once however many curve points are
    * asked for. Output rows (tau_num, tau_den, n_pairs), all BIGINT.
    */
  def jaccardThresholdCurve(
      docs: DataFrame,
      n: Int = 3,
      dfCap: Int = 20,
      thresholds: Seq[(Int, Int)] = Seq((1, 5), (1, 2), (4, 5))): DataFrame = {
    require(thresholds.nonEmpty, "jaccardThresholdCurve: need thresholds")
    val scored = allPairsScored(docs, n, dfCap)
    val aggs = thresholds.zipWithIndex.map { case ((num, den), i) =>
      sum(when(lit(den) * col("n_common") >= lit(num) * col("n_union"), 1L)
        .otherwise(0L)).as(s"c$i")
    }
    val stackArgs = thresholds.zipWithIndex
      .map { case ((num, den), i) => s"CAST($num AS BIGINT), CAST($den AS BIGINT), c$i" }
      .mkString(", ")
    scored.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${thresholds.size}, $stackArgs) AS (tau_num, tau_den, n_pairs)")
  }

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING (Bayardo, Ma &
    * Srikant, "Scaling Up All Pairs Similarity Search", WWW 2007; the
    * AllPairs/PPJoin candidate condition) — the same output as
    * [[ngramJaccardPairs]] from a candidate join that touches only prefix
    * tokens instead of every token.
    *
    * Order every shingle by global rarity `(df, s)` ascending. For a doc
    * with `sz` surviving shingles and threshold `t = num/den`, the prefix
    * is its first `sz - ceil(t·sz) + 1` shingles under that order.
    * Completeness: let `w` be the rarest common shingle of a qualifying
    * pair (A, B). Every common shingle sorts ≥ w, so at most `|A| - c` of
    * A's shingles precede w, putting w at position ≤ `|A| - c + 1 ≤
    * |A| - ceil(t·|A|) + 1` (Jaccard ≥ t forces `c ≥ t·u ≥ t·|A|`, and c
    * is an integer) — inside A's prefix, and symmetrically inside B's. So
    * every qualifying pair collides on ≥ 1 prefix token and the exact
    * verify reproduces the all-pairs answer bit-for-bit.
    *
    * Scale shape vs [[ngramJaccardPairs]]: the candidate self-join carries
    * only ~(1−t)·sz + 1 shingles per doc, and those are each doc's RAREST
    * shingles — exactly the low-df join keys — so at the realistic t = 4/5
    * near-dup threshold candidate-pair volume collapses ~25× (the hot
    * stop-shingle keys sit at the END of the order and rarely enter a
    * prefix). Per-doc prefix selection is a doc_id-partitioned window
    * (rank by (df, s)), a bounded sort per doc — no global rank structure
    * is ever built. Prefix filtering is a HIGH-threshold algorithm: as
    * t → 0 the prefix approaches the whole set and the all-pairs
    * formulation is the honest plan.
    */
  def prefixFilterJaccardPairs(
      docs: DataFrame,
      n: Int = 3,
      thresholdNum: Int = 4,
      thresholdDen: Int = 5,
      dfCap: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(thresholdNum >= 1 && thresholdDen >= thresholdNum,
      s"prefixFilterJaccardPairs: need 0 < num/den <= 1, " +
        s"got $thresholdNum/$thresholdDen")
    // ONE materialized relation serves the adaptive verify's three actions
    // (sizes count, candidate-doc count, main job) — see dfCappedShingles
    val sh = dfCappedShingles(docs, n, dfCap)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    prefixFilterJaccardFromShingles(sh, sizes, thresholdNum, thresholdDen)
  }

  /** [[prefixFilterJaccardPairs]]' core over a PRE-COMPUTED df-capped
    * shingle relation `sh(doc_id, s, df)` + `sizes(doc_id, sz)` — the
    * entry point for callers that already paid the shingle scan
    * ([[lshRecallEval]] shares ONE relation across truth and verify).
    */
  private def prefixFilterJaccardFromShingles(
      sh: DataFrame,
      sizes: DataFrame,
      thresholdNum: Int,
      thresholdDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // rank each doc's shingles rarest-first; prefix length is
    // sz - ceil(sz·num/den) + 1 ≈ (1 - t)·sz + 1 (ceil in exact integer
    // arithmetic). The prefix prunes the DOC universe, not a pair list:
    // a qualifying pair shares a shingle inside BOTH prefixes (the
    // completeness argument above), so that shingle has prefix-df ≥ 2 —
    // any doc none of whose prefix shingles recurs in another prefix
    // cannot be in a qualifying pair and leaves the verify entirely.
    //
    // Why doc pruning instead of a materialized candidate-PAIR relation:
    // measured at 100× sf (target/sf10, 500k docs, avg 52 shingles/doc),
    // the pair form generated 14.07M distinct candidates and its
    // verify — each candidate exploded by one side's shingles — carried
    // 907M rows into a composite join (65 GB of sort spill), while the
    // df-capped co-occurrence verify below is only Σ_s C(df,2) = 152M
    // map-side-combinable rows, zero spill. Candidate pairs only pay off
    // when the verify consumes them without exploding (the LSH path in
    // [[exactJaccardOnPairs]], where |cand| is sketch-bounded); for the
    // exact-threshold join the honest scale plan is doc-pruned
    // co-occurrence: on a real sparse corpus the prefix filter removes
    // most docs before the quadratic term, and on a dup-dense corpus it
    // degrades gracefully to the all-pairs volume instead of 6× past it.
    //
    // Adaptive gate: restriction costs two doc_id-keyed shuffles and
    // forfeits the s-clustering the df filter left behind, and the
    // co-occurrence MASS lives in shared shingles — which pruning never
    // removes (it only drops the shareless docs, the cheap part). So it
    // pays only when it removes MOST docs. Measured at 100× sf on the
    // dup-dense fixture: restricted-at-~half 92 s vs unrestricted 33 s.
    // The gate itself must be cheap in the dense case: stage 1 counts
    // docs holding any df ≥ 2 shingle (no window needed) — only when
    // that set is < nAll/10 does the prefix machinery run, over the
    // already-restricted relation, to prune further.
    val nAll = sizes.count()
    val touchDocs = sh.filter(col("df") >= 2)
      .select(col("doc_id")).distinct()
    val nTouch = touchDocs.count()
    val shP = sh.select(col("doc_id"), col("s"))
    val shC = if (nTouch * 10 <= nAll) {
      // sparse regime: prefix refinement over the touchable docs only.
      // A qualifying pair shares a shingle in BOTH prefixes (see the
      // completeness argument above), so that shingle has prefix-df ≥ 2;
      // docs with no such prefix shingle leave the verify.
      val shT = sh.join(touchDocs, Seq("doc_id"), "left_semi")
      val prefix = shT
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
        .join(sizes, Seq("doc_id"))
        .filter(col("rn") <= col("sz") -
          expr(s"(sz * $thresholdNum + ${thresholdDen - 1}) div $thresholdDen") + 1)
        .select(col("doc_id"), col("s"))
      val sharedPrefix = prefix.groupBy(col("s"))
        .agg(count(lit(1)).as("pdf")).filter(col("pdf") >= 2)
        .select(col("s"))
      val candDocs = prefix.join(sharedPrefix, Seq("s"), "left_semi")
        .select(col("doc_id")).distinct()
      shP.join(candDocs, Seq("doc_id"), "left_semi")
    } else shP
    val inter = coocPairCounts(shC)
    // every J ≥ t pair survives the doc pruning (both endpoints are
    // candidate docs), so thresholding the pruned co-occurrence counts
    // reproduces the all-pairs answer bit-for-bit
    inter
      .join(sizes.toDF("id_a", "sz_a"), "id_a")
      .join(sizes.toDF("id_b", "sz_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("n_common"),
        (col("sz_a") + col("sz_b") - col("n_common")).as("n_union"))
      .filter(lit(thresholdDen) * col("n_common") >=
        lit(thresholdNum) * col("n_union"))
  }

  /** Exact Jaccard verify restricted to candidate pairs: intersections from
    * a shingle equi-join meeting each candidate side on doc_id, union by
    * inclusion-exclusion, integer cross-multiplied threshold. Shared by the
    * MinHash and prefix-filter candidate generators — both produce a
    * candidate superset of the qualifying pairs, so this pass alone decides
    * membership and the result matches the all-pairs reference.
    */
  private def exactJaccardOnPairs(
      cand: DataFrame,
      sh: DataFrame,
      sizes: DataFrame,
      thresholdNum: Int,
      thresholdDen: Int): DataFrame = {
    val inter = cand
      .join(sh.toDF("id_a", "s"), "id_a")
      .join(sh.toDF("id_b", "s2"), Seq("id_b"))
      .filter(col("s") === col("s2"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.toDF("id_a", "sz_a"), "id_a")
      .join(sizes.toDF("id_b", "sz_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("n_common"),
        (col("sz_a") + col("sz_b") - col("n_common")).as("n_union"))
      .filter(lit(thresholdDen) * col("n_common") >=
        lit(thresholdNum) * col("n_union"))
  }

  /** Near-CONTAINMENT pairs — Broder's containment coefficient
    * `C(A,B) = |A∩B| / min(|A|,|B|)` over the df-capped shingle universe
    * (Broder, "On the Resemblance and Containment of Documents", SEQUENCES
    * 1997). Jaccard misses the quote/boilerplate-envelope case: a short
    * document fully embedded in a much longer one has tiny |A∩B|/|A∪B| but
    * containment ≈ 1. A curation pipeline runs this to drop near-subset
    * documents (article + syndicated copy with added chrome, chat excerpt
    * inside a full log) that whole-document resemblance keeps.
    *
    * Scale shape: candidates from a ONE-SIDED prefix filter (each doc's
    * rarest ~(1−t)·sz+1 shingles joined against full shingle sets — see
    * the completeness argument inline; prefix × prefix, the Jaccard form,
    * is NOT complete for containment because the larger side admits no
    * prefix bound), then exact verify of only the candidates — identical
    * output to the all-pairs join the oracle runs, at ~(1−t) of its
    * candidate volume. One guard this metric uniquely needs: a tiny
    * document (few shingles) is "contained" in everything, so pairs where
    * the smaller side has < `minShingles` surviving shingles are dropped
    * before the threshold test. Integer cross-multiplication
    * (`den·|A∩B| ≥ num·min`) keeps the hash exact.
    */
  def containmentPairs(
      docs: DataFrame,
      n: Int = 3,
      thresholdNum: Int = 9,
      thresholdDen: Int = 10,
      dfCap: Int = 100,
      minShingles: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one materialization serves the prefix build, both candidate-doc
    // scans, the sizes aggregate and the verify self-join (the adaptive
    // counts below are extra actions over this relation)
    val shDf = dfCappedShingles(docs, n, dfCap)
    val sh = shDf.select(col("doc_id"), col("s"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // ONE-SIDED prefix filter, complete for containment: for a qualifying
    // pair the smaller set S shares c ≥ ceil(t·|S|) shingles, so its
    // rarest common shingle sits within S's first |S| − ceil(t·|S|) + 1
    // shingles under the global (df, s) rarity order — inside S's prefix.
    // The LARGER side admits no such bound (its prefix vs a minimal
    // partner is nearly the whole set), so candidates come from each
    // doc's prefix joined against FULL shingle sets (~(1−t) of the
    // all-pairs volume at t = 9/10), not prefix × prefix as in the
    // Jaccard join. Exact verify on the candidates reproduces the
    // all-pairs answer bit-for-bit (the oracle stays all-pairs).
    // Doc-universe pruning instead of a materialized candidate-pair
    // relation (same measured rationale as the Jaccard form: at 100× sf
    // the pair explode carried ~1e9 rows / 44 GB spill while the pruned
    // co-occurrence verify is the Σ C(df,2) volume, zero spill). For a
    // qualifying pair the SMALLER side's rarest common shingle w sits in
    // its prefix AND in the larger side's full set, so: the smaller doc
    // has a prefix shingle with full-df ≥ 2, and the larger doc has a
    // full shingle that is in SOMEONE's prefix. Docs failing both tests
    // leave the verify; the union is a superset of all qualifying
    // endpoints, so thresholding the pruned co-occurrence counts equals
    // the all-pairs answer bit-for-bit.
    // Same adaptive gate as the Jaccard form (see
    // prefixFilterJaccardFromShingles): stage 1 restricts to docs holding
    // any df ≥ 2 shingle — a superset of every qualifying endpoint, no
    // window needed — and the prefix refinement runs only in the sparse
    // regime where the restriction pays for the clustering loss.
    val nAll = sizes.count()
    val touchDocs = shDf.filter(col("df") >= 2)
      .select(col("doc_id")).distinct()
    val nTouch = touchDocs.count()
    val shC = if (nTouch * 10 <= nAll) {
      val shT = shDf.join(touchDocs, Seq("doc_id"), "left_semi")
      val prefix = shT
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
        .join(sizes, Seq("doc_id"))
        .filter(col("rn") <= col("sz") -
          expr(s"(sz * $thresholdNum + ${thresholdDen - 1}) div $thresholdDen") + 1)
        .select(col("doc_id"), col("s"))
      // smaller side of a qualifying pair: prefix shingle shared with
      // SOMEONE's full set; larger side: full shingle inside someone's
      // prefix — the union is a superset of all qualifying endpoints
      val sharedFull = shT.filter(col("df") >= 2).select(col("s")).distinct()
      val prefixDocs = prefix.join(sharedFull, Seq("s"), "left_semi")
        .select(col("doc_id")).distinct()
      val inPrefix = prefix.select(col("s")).distinct()
      val fullDocs = shT.join(inPrefix, Seq("s"), "left_semi")
        .select(col("doc_id")).distinct()
      val candDocs = prefixDocs.union(fullDocs).distinct()
      sh.join(candDocs, Seq("doc_id"), "left_semi")
    } else sh
    val inter = coocPairCounts(shC)
    inter
      .join(sizes.toDF("id_a", "sz_a"), "id_a")
      .join(sizes.toDF("id_b", "sz_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("n_common"),
        least(col("sz_a"), col("sz_b")).as("sz_min"))
      .filter(col("sz_min") >= minShingles &&
        lit(thresholdDen) * col("n_common") >= lit(thresholdNum) * col("sz_min"))
  }

  /** Per-document duplicated n-gram coverage — the exact-substring dedup
    * signal (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): how much of each document's content also occurs verbatim
    * elsewhere in the corpus. A suffix array finds arbitrary-length repeats;
    * the distributed equivalent fixes the span length at `n` tokens and
    * counts, per document, how many of its distinct n-grams have corpus
    * document-frequency ≥ 2 — a high `n_dup_grams / n_grams` ratio marks a
    * document as mostly-boilerplate even when no single other document is a
    * near-duplicate of it (the case MinHash/SimHash whole-document
    * signatures miss).
    *
    * Shape at scale: one explode shuffling on the n-gram string for the df
    * build, then the df table joins back on the SAME key (co-partitioned),
    * then one groupBy on doc_id. The gram relation carries distinct grams
    * per doc, so a pathological document repeating one phrase contributes
    * one row per distinct gram, not per occurrence.
    */
  def dupNgramCoverage(docs: DataFrame, n: Int = 5): DataFrame = {
    val grams = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(wordShingles(col("w"), n)).as("g"))
      .distinct()
    val df = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    grams.join(df, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
  }

  /** Maximal duplicated-SPAN runs per document — the positional
    * sharpening of [[dupNgramCoverage]]. Coverage says how MUCH of a doc
    * is duplicated; this says how CONTIGUOUS it is: the longest run of
    * consecutive token positions whose `n`-grams each occur in ≥ 2
    * documents. A 50-position run is a verbatim copied paragraph (the
    * span Lee et al.'s suffix-array dedup would cut); the same mass
    * scattered as isolated grams is just common phrasing. Pipelines use
    * the run length as the cut threshold precisely because of that
    * distinction.
    *
    * Shape at scale: positional grams explode once and shuffle on the
    * gram string for the document-frequency build (same key as
    * [[dupNgramCoverage]]); flagged positions come back via a left-semi
    * join on that key; run detection is the gaps-and-islands window
    * (`pos − row_number`) partitioned by doc_id — per-doc bounded work,
    * no global sort. Docs with zero duplicated positions report 0.
    */
  def dupSpanRuns(docs: DataFrame, n: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        posexplode(wordShingles(col("w"), n)).as(Seq("pos", "g")))
    // document frequency over DISTINCT (doc, gram): a gram repeated inside
    // one doc is self-repetition, not cross-corpus duplication
    val df = pos.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("g"))
    val dup = pos.join(df, Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val isl = dup.withColumn("grp",
      col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val runs = isl.groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run"))
    val mx = runs.groupBy(col("doc_id")).agg(max(col("run")).as("max_dup_run"))
    val nd = dup.groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_pos"))
    pos.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(nd, Seq("doc_id"), "left")
      .join(mx, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_pos"),
        coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"))
  }

  /** APPLY side of [[dupSpanRuns]] — cut the copied spans, keep the rest
    * (the rewrite step of Lee et al.'s exact-substring dedup: a training
    * pipeline doesn't drop a whole document because one paragraph is
    * boilerplate; it removes the paragraph). A span is cut when ≥ `minRun`
    * consecutive positions each start an `n`-gram with corpus document
    * frequency ≥ 2; the cut covers every token those grams touch
    * (`run + n − 1` tokens from the run start). Output is the audit row a
    * rewrite job would log — token counts before/after, spans cut, and the
    * md5 of the surviving token stream (the rewritten text itself, hashed
    * so the full rewrite is oracle-checked without emitting text).
    *
    * Scale shape: identical to [[dupSpanRuns]] up to the runs relation
    * (gram-keyed df build + semi-join back, per-doc gaps-and-islands
    * window); the cut intervals then collect per document — bounded by the
    * doc's own length, never corpus-sized — and the rewrite is one
    * map-side lambda pass over the token array.
    */
  def dedupSpanApply(docs: DataFrame, n: Int = 5, minRun: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
    val pos = toks.select(col("doc_id"),
      posexplode(wordShingles(col("w"), n)).as(Seq("pos", "g")))
    val dfv = pos.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("g"))
    val dup = pos.join(dfv, Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val isl = dup.withColumn("grp",
      col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val cut = isl.groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), count(lit(1)).as("run"))
      .filter(col("run") >= minRun)
      .select(col("doc_id"),
        struct(col("s").cast("long").as("s"),
          (col("s") + col("run") + lit(n - 2)).cast("long").as("e")).as("iv"))
    val spans = cut.groupBy(col("doc_id"))
      .agg(collect_list(col("iv")).as("spans"))
    toks.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"),
        coalesce(col("spans"),
          expr("CAST(array() AS ARRAY<STRUCT<s: BIGINT, e: BIGINT>>)"))
          .as("spans"))
      // 0-based token index i is cut iff some interval [s, e] covers it
      .withColumn("kept", expr(
        "filter(w, (t, i) -> NOT exists(spans, sp -> i >= sp.s AND i <= sp.e))"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_tokens_after"),
        size(col("spans")).cast("long").as("n_spans_cut"),
        md5Hex(array_join(col("kept"), " ")).as("kept_md5"))
  }

  /** b-bit minwise hashing evaluation (Li & König, "b-bit minwise
    * hashing", WWW'10): storing only the LOWEST bit of each minhash cuts
    * signature storage 40× at a quantified accuracy cost — the estimator
    * corrects for random 1-bit collisions via Ĵ = (A − 1/2)/(1 − 1/2)
    * = 2A − 1 (clamped at 0), A = the 1-bit agreement fraction. This key
    * puts the full-signature estimate, the corrected 1-bit estimate and
    * the EXACT shingle Jaccard side by side for every LSH candidate pair
    * — the storage-vs-accuracy table that decides whether an index ships
    * 64-bit or 1-bit rows. All three columns are integer basis points.
    *
    * Shape: signatures and candidates come from the existing MinHash
    * pipeline; the exact side joins shingles only for candidate pairs
    * (semi-join restriction, never all-pairs).
    */
  def bbitMinhashEval(docs: DataFrame, numHashes: Int = 8, n: Int = 3)
      : DataFrame = {
    val sig = minHashSignatures(docs, numHashes, n)
    val pairs = lshCandidatePairs(docs, numHashes, 4, n)
      .select(col("id_a"), col("id_b"))
    val sa = sig.select(col("doc_id").as("id_a") +:
      (0 until numHashes).map(j => col(s"m$j").as(s"a$j")): _*)
    val sb = sig.select(col("doc_id").as("id_b") +:
      (0 until numHashes).map(j => col(s"m$j").as(s"b$j")): _*)
    val agf = (0 until numHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    val agb = (0 until numHashes)
      .map(j => when(col(s"a$j") % 2 === col(s"b$j") % 2, 1).otherwise(0))
      .reduce(_ + _)
    val sh = shingles(docs, n)
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsz"))
    val inter = sh.toDF("id_a", "s").join(sh.toDF("id_b", "s"), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .join(pairs, Seq("id_a", "id_b"), "left_semi")
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    pairs.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .select(col("id_a"), col("id_b"), agf.as("agf"), agb.as("agb"))
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sz.toDF("id_a", "n_a"), Seq("id_a"))
      .join(sz.toDF("id_b", "n_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        expr(s"CAST((10000 * agf) div $numHashes AS BIGINT)").as("est_full_bp"),
        expr(s"CAST(CASE WHEN 2 * agb - $numHashes <= 0 THEN 0 ELSE " +
          s"(10000 * (2 * agb - $numHashes)) div $numHashes END AS BIGINT)")
          .as("est_b1_bp"),
        expr("CAST((10000 * coalesce(inter, CAST(0 AS BIGINT))) div " +
          "(n_a + n_b - coalesce(inter, CAST(0 AS BIGINT))) AS BIGINT)")
          .as("exact_bp"))
  }

  /** The composed MinHash production pipeline: LSH candidate generation
    * followed by EXACT n-gram Jaccard verification of only the candidates —
    * the standard two-phase shape (cheap recall-oriented candidates, exact
    * precision-oriented verify) a real dedup deployment runs, where the
    * all-pairs [[ngramJaccardPairs]] is the oracle-grade reference but the
    * candidate-restricted verify is what scales: the exact Jaccard join
    * touches |candidates| pairs, not O(n²).
    *
    * Verification applies the SAME `dfCap` stop-shingle filter as
    * [[ngramJaccardPairs]] — sizes and intersections are computed over the
    * identical df-capped shingle universe, so on any corpus a verified
    * pair's (n_common, n_union) equals the all-pairs reference's row for
    * that pair (a candidate sharing no capped shingle drops out here
    * exactly as it would fail the threshold there).
    *
    * The shingle relation shuffles on doc_id to meet each candidate side;
    * intersections come from a shingle equi-join restricted to candidate
    * pairs by a semi-join-shaped inner join on (id_a, id_b).
    */
  def minhashVerifiedPairs(
      docs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      n: Int = 3,
      thresholdDen: Int = 5,
      dfCap: Int = 100,
      thresholdNum: Int = 1): DataFrame = {
    val cand = lshCandidatePairs(docs, numHashes, rowsPerBand, n)
      .select(col("id_a"), col("id_b"))
    val shD = dfCappedShingles(docs, n, dfCap)
    val sh = shD.select(col("doc_id"), col("s"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    exactJaccardOnPairs(cand, sh, sizes, thresholdNum, thresholdDen)
  }

  /** MinHash-LSH RECALL evaluation — the tuning measurement a pipeline
    * runs BEFORE committing an LSH configuration to a full-corpus sweep
    * (the dedup-side analogue of the `ann_recall_ivf` key): of the pairs
    * at Jaccard ≥ num/den that an EXACT join finds, what fraction did the
    * banded LSH surface? Expected from LSH theory with b bands of r rows:
    * `1 − (1 − s^r)^b` at similarity s — e.g. ~0.65 at s = 0.8 under the
    * default 2×4 banding, so a sub-one recall here is the CONFIG talking,
    * not a bug, and exactly the insight this eval exists to surface.
    *
    * Truth is the prefix-filter exact join (complete at the threshold —
    * the in-repo scale path for exact truth at high thresholds, no
    * sampling needed); found is the LSH candidates verified at the SAME
    * threshold over the SAME df-capped shingle universe, hence found ⊆
    * truth by construction and recall = n_found / n_truth exactly. One
    * row: (n_candidates, n_truth, n_found, recall_ppm) — the candidate
    * count is the verify-COST side of the banding tradeoff (more bands =
    * higher recall AND more candidates to verify); ppm as integer
    * division so the result hashes engine-independently.
    */
  def lshRecallEval(
      docs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      n: Int = 3,
      thresholdNum: Int = 4,
      thresholdDen: Int = 5,
      dfCap: Int = 100): DataFrame = {
    // ONE shingle scan serves truth, candidate verify, and sizes — at
    // corpus scale you never tokenize three times for one evaluation
    val sh = dfCappedShingles(docs, n, dfCap)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val truth = prefixFilterJaccardFromShingles(
      sh, sizes, thresholdNum, thresholdDen)
    val cand = lshCandidatePairs(docs, numHashes, rowsPerBand, n)
      .select(col("id_a"), col("id_b")).distinct()
    val found = exactJaccardOnPairs(cand,
      sh.select(col("doc_id"), col("s")), sizes, thresholdNum, thresholdDen)
    // one-row aggregates: the crossJoins are broadcast scalars, not data
    cand.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .select(col("n_candidates"), col("n_truth"), col("n_found"),
        when(col("n_truth") === 0, lit(1000000L))
          .otherwise(expr("1000000 * n_found div n_truth"))
          .cast("long").as("recall_ppm"))
  }

  /** Modulus for the affine MinHash family: 2^40 keeps every intermediate
    * (h1 + 7·h2 < 2^43) inside BIGINT range in any engine.
    */
  val MinHashMod: Long = 1L << 40

  /** MinHash signatures via the standard affine (Carter-Wegman) family:
    * one md5 per shingle yields two 40-bit base hashes h1/h2, and hash
    * function j is `g_j = (h1 + j*h2) mod 2^40`. One wide groupBy computes
    * all `numHashes` minima at once — no per-seed row explosion, and md5
    * keeps the result bit-identical across engines and partitionings.
    * Output: (doc_id, m0..m{numHashes-1}).
    */
  def minHashSignatures(docs: DataFrame, numHashes: Int = 8, n: Int = 3): DataFrame = {
    // Exploded + hash-groupBy formulation on purpose: the md5-per-shingle
    // inner loop stays inside whole-stage codegen this way. (A map-only
    // higher-order-function variant was measured 4x slower — HOF lambdas
    // evaluate interpreted, which dominates for hash-heavy inner loops.)
    // No DISTINCT before hashing: min over duplicate shingles equals min
    // over the distinct set, so the dedup shuffle is pure waste here.
    // The input repartition trades a shuffle of the COMPACT doc relation
    // for not shuffling the ~3x-larger exploded shingle+hash relation:
    // hash(doc_id) distribution established here satisfies the final
    // groupBy(doc_id) below, so the post-explode rows never move.
    // h1/h2 via the fused md5_h1h2 kernel: one cached-digest pass per
    // shingle straight to the two 40-bit longs — bit-identical to the
    // former conv(substring(md5Hex(s), 1|11, 10), 16, 10) pair, which paid
    // a MessageDigest.getInstance, a 32-char hex string and two base-16
    // string parses per shingle (see NativeExpressions.Md5H1H2)
    val withH = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(wordShingles(col("w"), n)).as("s"))
      .withColumn("hh", expr("md5_h1h2(s)"))
      .select(col("doc_id"),
        col("hh.h1").as("h1"),
        col("hh.h2").as("h2"))
    val mins = (0 until numHashes).map(j =>
      min((col("h1") + lit(j.toLong) * col("h2")) % MinHashMod).as(s"m$j"))
    withH.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH banding over MinHash signatures: hash each band of `rowsPerBand`
    * consecutive minhashes to a bucket key. Output: (doc_id, band, bkey).
    */
  def lshBands(docs: DataFrame, numHashes: Int = 8, rowsPerBand: Int = 4, n: Int = 3): DataFrame = {
    val sig = minHashSignatures(docs, numHashes, n)
    val nBands = numHashes / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        md5Hex(concat_ws(",",
          (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)).as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** LSH index commissioning diagnostic: the bucket-occupancy histogram
    * per band, with the candidate-pair volume each occupancy class will
    * generate (Σ C(sz, 2) per bucket). This is the measurement that
    * predicts whether a banding scheme explodes BEFORE the pair join
    * runs — a bucket of size s costs s·(s−1)/2 candidates, so one hot
    * bucket (a template/boilerplate cluster) dominates the join; the
    * histogram surfaces it as a high size-band row. Size bands are
    * integer bit lengths (the ulp-safe floor(log2) of
    * `token_graph_degrees`). Two partial-aggregating groupBys over the
    * band relation; output bounded by bands × 64 size classes.
    */
  def lshBandOccupancy(docs: DataFrame, numHashes: Int = 8,
      rowsPerBand: Int = 4, n: Int = 3): DataFrame =
    lshBands(docs, numHashes, rowsPerBand, n)
      .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("sz"))
      .groupBy(col("band"),
        expr("CAST(length(bin(sz)) - 1 AS INT)").as("size_band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("sz")).as("n_docs"),
        sum(expr("(sz * (sz - 1)) div 2")).as("n_cand_pairs"))

  /** MinHash+LSH candidate pairs: documents sharing at least one band
    * bucket, with the number of shared bands. The bucket join shuffles on
    * (band, bkey) — the LSH scale path: candidates ≪ all-pairs.
    */
  def lshCandidatePairs(
      docs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      n: Int = 3): DataFrame = {
    // both sides of the bucket self-join share this pipeline — materialize once
    val bands = Materialize.local(lshBands(docs, numHashes, rowsPerBand, n))
    val a = bands.toDF("id_a", "band", "bkey")
    val b = bands.toDF("id_b", "band", "bkey")
    a.join(b, Seq("band", "bkey")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("band")).distinct()
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Capture–recapture estimate of the duplicate-pair population — the
    * dedup-QA question "how many duplicate pairs do our detectors
    * MISS?": treating the exact-fingerprint pairs and the MinHash-LSH
    * candidate pairs as two independent captures of the same underlying
    * population, the Chapman bias-corrected Lincoln–Petersen estimator
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 (Chapman 1951) sizes that population
    * from the overlap m, and missed = N̂ − |union| is the residual-dup
    * estimate. Ships exact as chapman_milli / missed_milli (floor
    * division; independence is an assumption, stated, not checked).
    * Both pair relations meet in ONE full-outer join on the pair key,
    * so each detector's relation is scanned once; the exact pairs come
    * from a fingerprint-keyed self-join (dup-family-sized groups — a
    * pathological giant family would need the usual key-cap salting,
    * irrelevant on real corpora where exact families are small).
    *
    * Pass a pre-built candidate relation via `lshPairs0` (the session
    * pin, so the banded pipeline runs once per session, not per key);
    * None rebuilds via [[lshCandidatePairs]] (EAGER, its documented
    * behavior).
    */
  def captureRecapture(docs: DataFrame,
      lshPairs0: Option[DataFrame] = None): DataFrame = {
    val fp = docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val exactPairs = fp.toDF("id_a", "fpa")
      .join(fp.toDF("id_b", "fpb"),
        col("fpa") === col("fpb") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val lshPairs = lshPairs0.getOrElse(lshCandidatePairs(docs))
      .select(col("id_a"), col("id_b"))
    exactPairs.withColumn("in1", lit(1L))
      .join(lshPairs.withColumn("in2", lit(1L)), Seq("id_a", "id_b"), "full")
      .na.fill(0L, Seq("in1", "in2"))
      .agg(sum(col("in1")).as("n_exact"), sum(col("in2")).as("n_lsh"),
        sum(col("in1") * col("in2")).as("n_overlap"),
        count(lit(1)).as("n_union"))
      .withColumn("chapman_milli", expr(
        "(1000 * (n_exact + 1) * (n_lsh + 1)) div (n_overlap + 1) - 1000"))
      .withColumn("missed_milli", expr("chapman_milli - 1000 * n_union"))
  }

  /** Incremental near-dup screening of an arriving batch against a stored
    * LSH index — the no-recompute ingest path (the text-side analogue of
    * [[graft.analytics.Similarity]]'s `ivf_index_append`): the corpus's
    * band buckets are the materialized index; each new document computes
    * its OWN signature and bands (O(batch), map-side — a MinHash
    * signature depends only on the document), and candidates are the
    * bucket equi-join of delta bands against index bands. Nothing over
    * the existing corpus is recomputed, re-shingled or re-shuffled — at
    * 100 TB the delta join reads only the bucket partitions the batch's
    * band keys hash into. Output: (old_id, new_id, n_shared_bands), the
    * same candidate contract as [[lshCandidatePairs]] restricted to
    * cross-generation pairs; the exact-verify stage
    * ([[minhashVerifiedPairs]]'s tail) applies unchanged downstream.
    */
  def minhashIndexAppend(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 4,
      n: Int = 3)
      : DataFrame = {
    val index = Materialize.local(lshBands(oldDocs, numHashes, rowsPerBand, n))
    val delta = lshBands(newDocs, numHashes, rowsPerBand, n)
    delta.toDF("new_id", "band", "bkey")
      .join(index.toDF("old_id", "band", "bkey"), Seq("band", "bkey"))
      .groupBy(col("old_id"), col("new_id"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Winnowing document fingerprints (the MOSS rolling-hash scheme): hash
    * every character `k`-gram with a polynomial hash mod 2^40, then keep the
    * minimum of each sliding window of `window` consecutive hashes. The
    * distinct minima are the document's fingerprint set — two documents
    * sharing text runs ≥ window+k-1 chars are guaranteed to share a
    * fingerprint. Integer-only math, identical in any engine.
    */
  def winnowFingerprints(
      docs: DataFrame, k: Int = 8, window: Int = 16, base: Long = 131L): DataFrame = {
    // One compiled pass per row (native `winnow_minima` Expression:
    // polynomial k-gram hashes + monotonic-deque trailing-window minima +
    // first-occurrence distinct) — no window-function shuffle, and no
    // interpreted per-character HOF lambdas. The previous all-HOF
    // formulation was already shuffle-free but evaluated ~4 lambda calls
    // per character; the fused expression is ~5x faster at sf0.1 with
    // bit-identical output (same hash, same trailing window, same
    // distinct order).
    docs.repartition(col("doc_id"))
      .filter(length(col("text")) >= k)
      .select(col("doc_id"),
        explode(expr(s"winnow_minima(text, $k, $window, $base)")).as("fp"))
  }

  /** SimHash near-duplicate pairs, COMPLETE for the advertised radius, with
    * two candidate-generation schemes selected by radius:
    *
    *   - `maxDist ≤ 7` — single-chunk pigeonhole: split the 64-bit signature
    *     into `maxDist + 1` near-equal chunks; a pair within the radius
    *     leaves ≥ 1 chunk untouched and meets in the chunk equi-join. Chunk
    *     width stays ≥ 8 bits in this range.
    *   - `maxDist ≥ 8` — generalized pigeonhole with 1-flip probe expansion
    *     (the HmSearch shape, Zhang et al. SSDBM'13): split into
    *     m = maxDist/2 + 1 chunks, so if EVERY chunk differed by ≥ 2 the
    *     total would be ≥ 2m > maxDist — some chunk has Hamming distance
    *     ≤ 1. The index side keys on the exact chunk; the probe side emits
    *     the chunk plus its 1→0 flips of each SET bit — a dist-1 chunk pair
    *     has exactly one side holding a '1' at the differing position, so
    *     that side's flip meets the other's exact key (dist-0 meets
    *     exact-exact), and restricting to set bits makes the match
    *     one-directional, halving both probe fan-out and duplicate
    *     candidates. Probe fan-out is ~m·(chunkLen/2+1) ≈ 40 keys/doc at
    *     maxDist = 12 — ~45× fewer than the C(16,4) = 1820 Manku
    *     block-combination keys this replaced, and a close pair collides in
    *     ≤ ~m indexes instead of up to C(16,4), which is what made the
    *     combination scheme quadratic-in-practice on a duplicate-heavy
    *     corpus.
    *
    * Both schemes emit every qualifying pair EXACTLY ONCE, so there is no
    * candidate `distinct` (and no shuffle at all downstream of the
    * signature scan): the join condition only accepts a match at the FIRST
    * chunk index whose chunk distance is within the per-chunk threshold
    * (earlier chunks all differ by more), exact-key matches are tie-broken
    * by `pid < iid`, and flip matches are already one-directional. Recall
    * is 100% by construction — the scheme only changes cost shape.
    *
    * The whole pipeline runs on the signature packed into 64-bit WORDS
    * (parsed once per doc from the oracle-parity bit string): chunk keys
    * are shift/mask extractions, probe flips are xor with a static mask
    * array, and both the per-chunk tests and the final radius test are
    * `bit_count(xor)` on longs — every per-candidate operation is a
    * built-in codegen'd integer op (measured ~2× over the previous
    * bit-string comparisons, which walked 64–128 bytes per candidate).
    *
    * At 100 TB the per-index key space (2^9 at maxDist = 12) is the dial
    * to watch: a radius-12 ball of a 64-bit simhash is inherently coarse
    * (37% of ALL doc pairs qualify on the correlated test corpus), and the
    * scale answer is a wider signature — pass `sigBits = 128` (md5 width;
    * chunks double to ~18 bits at the same radius and the chunk scheme
    * adapts automatically), not more index replication.
    */
  def simhashNearDupPairs(
      docs: DataFrame,
      maxDist: Int = 3,
      sigBits: Int = 64): DataFrame = {
    require(maxDist >= 0 && maxDist < sigBits,
      s"simhashNearDupPairs: maxDist must be in [0, $sigBits), got $maxDist")
    require(sigBits <= 128,
      s"simhashNearDupPairs: sigBits must be <= 128, got $sigBits")
    val sigs = Materialize.local(simhashSignatures(docs, sigBits))

    // ---- pack the bit string into right-aligned 64-bit words, once per
    // doc: word w covers global bits [wordStart(w), wordStart(w)+wb) ----
    val wordBits: Seq[Int] =
      if (sigBits <= 64) Seq(sigBits) else Seq(64, sigBits - 64)
    val wordStarts = wordBits.scanLeft(0)(_ + _)
    def parseWord(s: Int, wb: Int): Column = {
      // conv() caps at 64 bits of precision on STRING input only via
      // BIGINT range; parse in <=32-bit halves so every value fits
      val len1 = math.min(32, wb)
      val len2 = wb - len1
      val hi = conv(substring(col("simhash"), s + 1, len1), 2, 10).cast("long")
      if (len2 == 0) hi
      else shiftleft(hi, len2).bitwiseOR(
        conv(substring(col("simhash"), s + 1 + len1, len2), 2, 10).cast("long"))
    }
    val packed = sigs.select(
      col("doc_id") +: wordBits.indices.map(w =>
        parseWord(wordStarts(w), wordBits(w)).as(s"w$w")): _*)

    // bits [p, p+len) across `ws` as ONE right-aligned long (shift/mask
    // composition over the overlapping words; len <= 64 always)
    def chunkOf(ws: Seq[Column], p: Int, len: Int): Column = {
      val parts = wordBits.indices.flatMap { w =>
        val s = wordStarts(w); val wb = wordBits(w)
        val a = math.max(p, s); val b = math.min(p + len, s + wb)
        if (a >= b) None
        else {
          val seg0 = shiftrightunsigned(ws(w), s + wb - b)
          val seg = if (b - a == 64) seg0
            else seg0.bitwiseAND(lit((1L << (b - a)) - 1))
          Some(if (p + len == b) seg else shiftleft(seg, p + len - b))
        }
      }
      parts.reduce(_ bitwiseOR _)
    }

    // per-chunk match threshold and chunk count: wide radii pair a 1-flip
    // probe expansion with threshold 1; narrow radii match chunks exactly
    val t = if (maxDist >= 8) 1 else 0
    // chunk extraction composes 64-bit word ops, so every chunk must fit a
    // word: raise the chunk count above the pigeonhole minimum when the
    // signature is wider than 64·(minimum m) — extra chunks only STRENGTHEN
    // the prefilter (with ≤ maxDist differing bits over m > maxDist chunks,
    // at least one chunk still matches within the per-chunk threshold)
    val mMin = if (maxDist >= 8) maxDist / 2 + 1 else maxDist + 1
    val m = math.max(mMin, (sigBits + 63) / 64)
    val lens = (0 until m).map(i => sigBits / m + (if (i < sigBits % m) 1 else 0))
    assert(lens.forall(_ <= 64), s"chunk wider than a word: $lens")
    val bs = lens.scanLeft(0)(_ + _).zip(lens) // (startBit, len), 0-based

    val srcWords = wordBits.indices.map(w => col(s"w$w"))

    // index side: (iid, ic, ichunk, iw*) on exact chunk keys
    val exactStructs = bs.zipWithIndex.map { case ((p, ln), i) =>
      struct(lit(i).as("c"), chunkOf(srcWords, p, ln).as("chunk"))
    }
    val index = packed
      .withColumn("cc", explode(array(exactStructs: _*)))
      .select(Seq(col("doc_id").as("iid"), col("cc.c").as("ic"),
        col("cc.chunk").as("ichunk")) ++
        wordBits.indices.map(w => col(s"w$w").as(s"iw$w")): _*)

    // probe side: (pid, pc, pchunk, ex, pw*). ex marks the unmodified
    // chunk; for t = 1, each SET bit is flipped to 0 (canonical direction,
    // so a dist-1 chunk pair meets exactly once: the side holding the '1'
    // probes the other's exact key) — xor with a static per-position mask
    // array, all inside one narrow stage
    val probe =
      if (t == 0)
        index.toDF(Seq("pid", "pc", "pchunk") ++
          wordBits.indices.map(w => s"pw$w"): _*)
          .withColumn("ex", lit(true))
      else {
        val variantArrays = bs.zipWithIndex.map { case ((p, ln), i) =>
          val base = chunkOf(srcWords, p, ln)
          val masks = array((1 to ln).map(j => lit(1L << (ln - j))): _*)
          val exact = array(struct(lit(i).as("c"), lit(true).as("ex"),
            base.as("chunk")))
          val flips = transform(
            filter(sequence(lit(1), lit(ln)),
              j => base.bitwiseAND(element_at(masks, j)) =!= 0),
            j => struct(lit(i).as("c"), lit(false).as("ex"),
              base.bitwiseXOR(element_at(masks, j)).as("chunk")))
          concat(exact, flips)
        }
        packed
          .withColumn("cc", explode(flatten(array(variantArrays: _*))))
          .select(Seq(col("doc_id").as("pid"), col("cc.c").as("pc"),
            col("cc.chunk").as("pchunk"), col("cc.ex").as("ex")) ++
            wordBits.indices.map(w => col(s"w$w").as(s"pw$w")): _*)
      }

    // single-emission + radius test INSIDE the join condition, so failing
    // candidates are never written as join output rows: the pair passes
    // only at its first chunk index with chunk distance ≤ t (xor the word
    // columns once, then per-chunk bit_count extractions — the AND chain
    // short-circuits in codegen) and within the exact radius — each pair
    // is emitted exactly once, so NO downstream distinct (no shuffle) is
    // needed.
    def bitCount(c: Column): Column = call_function("bit_count", c)
    val xw = wordBits.indices.map(w => col(s"pw$w").bitwiseXOR(col(s"iw$w")))
    val totalDist = xw.map(bitCount).reduce(_ + _)
    val noEarlierChunk = bs.zipWithIndex.init.map { case ((p, ln), c) =>
      lit(c) >= col("pc") || bitCount(chunkOf(xw, p, ln)) > t
    }.foldLeft(lit(true))(_ && _) // last chunk's term is vacuously true
    val once = col("pid") =!= col("iid") &&
      (!col("ex") || col("pid") < col("iid")) &&
      noEarlierChunk && totalDist <= maxDist
    probe.join(index,
        col("pc") === col("ic") && col("pchunk") === col("ichunk") && once)
      .select(least(col("pid"), col("iid")).as("id_a"),
        greatest(col("pid"), col("iid")).as("id_b"),
        totalDist.cast("int").as("dist"))
  }

  /** String-signature formulation of the simhash near-dup join: pigeonhole
    * on exact substring chunks of the 64-char bit-string signature, with the
    * native `hamming` (radius test) and `first_chunk_within`
    * (single-emission test) expressions evaluated INSIDE the join condition.
    * Same output as [[simhashNearDupPairs]] at the same radius (one row per
    * pair, id_a < id_b, exact bit distance).
    *
    * This is the readable reference path the word-packed fast formulation
    * was derived from — kept live because it is the production shape for
    * signatures that are NOT word-packable (variable-width sigs, >128 bits)
    * and it exercises the fused-chunk native expressions end-to-end. Scale
    * shape matches the fast path: one shuffle on (chunk index, chunk
    * substring), never all-pairs.
    */
  def simhashNearDupPairsStrSig(
      docs: DataFrame,
      maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist < 64,
      s"simhashNearDupPairsStrSig: maxDist must be in [0, 64), got $maxDist")
    val sigs = Materialize.local(simhashSignatures(docs))
    val m = maxDist + 1 // pigeonhole: ≤ maxDist flips leave one chunk exact
    val bits = 64
    // chunk split mirrors NativeExpressions.firstChunkJava: near-equal
    // chunks, earlier chunks take the remainder
    val lens = (0 until m).map(i => bits / m + (if (i < bits % m) 1 else 0))
    val starts = lens.scanLeft(0)(_ + _)
    val chunkStructs = (0 until m).map(c =>
      struct(lit(c).as("c"),
        substring(col("simhash"), starts(c) + 1, lens(c)).as("chunk")))
    val index = sigs.withColumn("cc", explode(array(chunkStructs: _*)))
      .select(col("doc_id").as("iid"), col("cc.c").as("ic"),
        col("cc.chunk").as("ichunk"), col("simhash").as("isig"))
    val probe = sigs.withColumn("cc", explode(array(chunkStructs: _*)))
      .select(col("doc_id").as("pid"), col("cc.c").as("pc"),
        col("cc.chunk").as("pchunk"), col("simhash").as("psig"))
    // emitted once per pair: only at the FIRST exactly-matching chunk
    // (first_chunk_within with t = 0), only within the radius (hamming on
    // the bit-chars IS the bit distance), only in the pid < iid direction
    val once = col("pid") < col("iid") &&
      expr(s"first_chunk_within(psig, isig, $m, 0)") === col("pc") &&
      expr("hamming(psig, isig)") <= maxDist
    probe.join(index,
        col("pc") === col("ic") && col("pchunk") === col("ichunk") && once)
      .select(col("pid").as("id_a"), col("iid").as("id_b"),
        expr("hamming(psig, isig)").as("dist"))
  }

  /** 64-bit SimHash per document from distinct-token md5 hashes: per bit
    * position, majority vote of the token-hash bits. Output the signature as
    * a 64-char bit-string (exact in any engine; integer math only).
    */
  def simhashSignatures(docs: DataFrame, bits: Int = 64): DataFrame = {
    // Map-only, one compiled pass per row (native `simhash64` Expression).
    // History: the first formulation exploded tokens×64 rows through two
    // shuffles; the second was a narrow HOF stage but evaluated the
    // per-token majority vote through interpreted lambdas (~2s hidden in
    // every near-dup key at sf0.1); this one keeps the map-only shape with
    // the token/md5/vote loop compiled. Output is bit-identical (same
    // split-on-space tokens incl. empties, same md5-nibble bit
    // extraction, same strict-majority vote) — the DuckDB oracle is
    // unchanged.
    docs.repartition(col("doc_id"))
      .select(col("doc_id"), expr(s"simhash64(text, $bits)").as("simhash"))
  }

  /** Bounded-depth multi-source BFS over an undirected edge relation: the
    * minimum hop distance (0..maxDepth) from the `nHubs` highest-degree
    * vertices (ties by vertex id) to every vertex reachable within
    * `maxDepth` hops — the "how far is the graph from its hubs" traversal
    * none of the fixpoint kernels (CC, PageRank, k-core) expose. Each hop
    * is one vertex-keyed join of the current frontier against the
    * adjacency relation plus an anti-join against the visited set — the
    * standard distributed BFS round; depth is bounded so the plan is
    * `maxDepth` joins, not an unbounded loop. The hub seed is TakeOrdered
    * (parameter-sized) and broadcasts into the first hop.
    */
  def bfsDepthFromHubs(
      edges: DataFrame, nHubs: Int = 4, maxDepth: Int = 3): DataFrame = {
    val adj = edges
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .union(edges.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct()
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val hubs = deg.orderBy(col("deg").desc, col("u")).limit(nHubs)
      .select(col("u").as("node"))
    var frontier = hubs
    var visited = hubs.withColumn("depth", lit(0))
    val out = Seq.newBuilder[DataFrame]
    out += visited
    for (d <- 1 to maxDepth) {
      val next = adj.join(
          (if (d == 1) broadcast(frontier) else frontier)
            .withColumnRenamed("node", "u"), Seq("u"))
        .select(col("v").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
      // materialize each layer: the next hop and the visited anti-join
      // both read it, and lineage would otherwise double per depth
      frontier = graft.engine.Materialize.local(next)
      val layer = frontier.withColumn("depth", lit(d))
      out += layer
      visited = visited.union(layer)
    }
    out.result().reduce(_.unionAll(_))
  }

  /** Bounded-horizon closeness centrality of the hub vertices: for each
    * of the `nHubs` highest-degree seeds, a PER-SEED BFS to `maxDepth`
    * (the multi-source frontier carries the seed, so layers stay one
    * relation) and closeness = (reached−1)·10⁶ div Σdistance — the
    * bounded-neighborhood form large-graph practice uses because exact
    * all-pairs closeness is quadratic and disconnected components make
    * the unbounded sum undefined. Frontiers materialize per hop (the
    * [[bfsDepthFromHubs]] lineage rule); every join keys on the vertex.
    */
  def closenessFromHubs(
      edges: DataFrame, nHubs: Int = 4, maxDepth: Int = 3): DataFrame = {
    val adj = graft.engine.Materialize.local(edges
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .union(edges.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct())
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val hubs = deg.orderBy(col("deg").desc, col("u")).limit(nHubs)
      .select(col("u").as("seed"))
    var frontier = hubs.select(col("seed"), col("seed").as("node"))
    var visited = frontier.withColumn("depth", lit(0))
    val out = Seq.newBuilder[DataFrame]
    out += visited
    for (d <- 1 to maxDepth) {
      val next = adj.join(
          (if (d == 1) broadcast(frontier) else frontier)
            .withColumnRenamed("node", "u"), Seq("u"))
        .select(col("seed"), col("v").as("node")).distinct()
        .join(visited.select(col("seed"), col("node")),
          Seq("seed", "node"), "left_anti")
      frontier = graft.engine.Materialize.local(next)
      val layer = frontier.withColumn("depth", lit(d))
      out += layer
      visited = visited.union(layer)
    }
    out.result().reduce(_.unionAll(_))
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(col("depth")).cast("long").as("sum_dist"))
      .withColumn("closeness_ppm", expr(
        "CASE WHEN sum_dist = 0 THEN 0L " +
          "ELSE ((n_reached - 1) * 1000000L) div sum_dist END"))
  }

  /** Newman modularity of a vertex partition over an undirected graph, per
    * community (Newman & Girvan 2004): community c contributes
    * e_c/m − (d_c/2m)², emitted signed in exact ppm via the integer
    * identity 10^6·(4m·e_c − d_c²) / (4m²) in DECIMAL(38,0) (both engines
    * truncate integral division toward zero). With communities = document
    * SOURCE over the near-dup candidate graph this measures duplication
    * assortativity — whether near-dup candidates concentrate within
    * sources (template reuse inside a crawl) or cross them (syndication) —
    * the signal that decides if dedup can shard by source. Plan: two
    * doc-keyed joins tag each edge's endpoint communities, then
    * community-keyed aggregates; m and the grand totals ride a one-row
    * broadcast.
    */
  def communityModularity(
      edges: DataFrame, membership: DataFrame)
      : DataFrame = {
    // membership: (node, community). Tag both endpoints. EAGER: `e`
    // feeds the tag join and the node census, `tagged` feeds the edge
    // count, the degree-mass explode, and the within-community filter —
    // all under different prunings (RepeatAudit: x3 uncut) — cut each.
    val e = Materialize.local(edges.select(col("id_a"), col("id_b")).distinct())
    val tagged = Materialize.local(e
      .join(membership.select(col("node").as("id_a"), col("community").as("ca")),
        Seq("id_a"))
      .join(membership.select(col("node").as("id_b"), col("community").as("cb")),
        Seq("id_b")))
    val m = tagged.agg(count(lit(1)).as("m"))
    // degree mass per community: each edge endpoint adds 1 to its side
    val degMass = tagged
      .select(explode(array(col("ca"), col("cb"))).as("community"))
      .groupBy(col("community")).agg(count(lit(1)).as("deg_sum"))
    val within = tagged.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("e_in"))
    val nodes = membership
      .join(e.select(explode(array(col("id_a"), col("id_b"))).as("node")).distinct(),
        Seq("node"))
      .groupBy(col("community")).agg(count(lit(1)).as("n_nodes"))
    nodes
      .join(degMass, Seq("community"))
      .join(within, Seq("community"), "left")
      .na.fill(0L, Seq("e_in"))
      .crossJoin(broadcast(m))
      .withColumn("num", expr(
        "CAST(4 AS DECIMAL(38,0)) * m * e_in - " +
          "CAST(deg_sum AS DECIMAL(38,0)) * deg_sum"))
      .withColumn("mag", expr(
        "(CAST(1000000 AS DECIMAL(38,0)) * abs(num)) div " +
          "(CAST(4 AS DECIMAL(38,0)) * m * m)"))
      .select(col("community"), col("n_nodes"), col("e_in"), col("deg_sum"),
        when(col("num") < 0, -col("mag")).otherwise(col("mag"))
          .cast("long").as("q_ppm"))
  }

  /** Dedup-savings executive rollup: for each tier of the dedup cascade —
    * exact raw text, normalized fingerprint, MinHash-LSH near-dup
    * components — the groups-with-duplicates count, documents affected /
    * removable (keep = min doc_id survives), and the exact characters a
    * min-keep apply at that tier alone would delete. The report a pipeline
    * owner reads to decide which tier pays for its compute. Each tier is
    * one key-grouped aggregate (no window); the near-dup tier reuses the
    * caller's candidate-pair relation (pinned LSH pairs) through the same
    * min-label components as the apply keys.
    */
  def dedupSavingsReport(docs: DataFrame, candidatePairs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.fingerprint
    val base = docs.select(col("doc_id"), col("n_chars"))
    def rollup(tier: String, keyed: DataFrame): DataFrame =
      keyed // (doc_id, n_chars, k)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars"),
          min(struct(col("doc_id"), col("n_chars"))).getField("n_chars")
            .as("keep_chars"))
        .agg(
          sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_dup_groups"),
          sum(when(col("n") >= 2, col("n")).otherwise(0L)).as("n_docs_affected"),
          sum(col("n") - 1).as("n_docs_removed"),
          sum(col("chars") - col("keep_chars")).as("chars_removed"))
        .select(lit(tier).as("tier"), col("n_dup_groups"),
          col("n_docs_affected"), col("n_docs_removed"), col("chars_removed"))
    val exact = rollup("exact",
      docs.select(col("doc_id"), col("n_chars"), col("text").as("k")))
    val fp = rollup("fingerprint",
      docs.select(col("doc_id"), col("n_chars"), fingerprint(col("text")).as("k")))
    val labels = connectedComponents(
      candidatePairs.select(col("id_a"), col("id_b")).distinct())
    val near = rollup("neardup",
      base.join(labels.select(col("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("component"), col("doc_id")).as("k")))
    exact.unionAll(fp).unionAll(near)
  }

  /** Degree assortativity (Newman, PRL 2002) of an undirected graph as
    * signed r² in exact ppm: the Pearson correlation of endpoint degrees
    * over the DIRECTED double cover (each edge contributes (deg u, deg v)
    * and (deg v, deg u) — the standard undirected convention, which makes
    * Σx = Σy and the denominator a perfect square). Disassortative graphs
    * (hubs attach to leaves — star-like crawl boilerplate) come out
    * negative, assortative cores positive. Two vertex-keyed joins tag the
    * degrees, one global aggregate; exact DECIMAL(38,0) moments like the
    * other r² operators. The num²/den² step needs num under ~10^19 (38
    * digits after squaring): at extreme edge counts × web-scale hub
    * degrees, pass the degree-capped subgraph (the
    * [[linkPredictionTopK]] degCap argument exists for the same hub
    * reason).
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    // EAGER: the double cover feeds the degree aggregate and both tag
    // joins under different prunings (RepeatAudit: x4 uncut) — cut once
    val dc = Materialize.local {
      val e = edges.select(col("id_a"), col("id_b")).distinct()
      e.select(col("id_a").as("u"), col("id_b").as("v"))
        .union(e.select(col("id_b").as("u"), col("id_a").as("v")))
    }
    val deg = dc.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val xy = dc
      .join(deg.select(col("u"), col("d").as("x")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("d").as("y")), Seq("v"))
    // moments in DECIMAL(38,0) from the start: Σxy over 100 TB-scale edge
    // counts with web-scale hub degrees exceeds BIGINT well before the
    // cross products do
    xy.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
      .select(col("n"),
        (col("n") * col("sxy") - col("sx") * col("sx"))
          .cast("decimal(38,0)").as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx"))
          .cast("decimal(38,0)").as("den"))
      .withColumn("mag", expr(
        "(CAST(1000000 AS DECIMAL(38,0)) * num * num) div " +
          "(CASE WHEN den = 0 THEN 1 ELSE den * den END)"))
      .select(expr("CAST(n div 2 AS BIGINT)").as("n_edges"),
        when(col("den") === 0, lit(0L))
          .when(col("num") < 0, -col("mag")).otherwise(col("mag"))
          .cast("long").as("r2_signed_ppm"))
  }
}
