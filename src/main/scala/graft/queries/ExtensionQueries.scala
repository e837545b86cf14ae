package graft.queries

import graft.analytics._
import graft.engine.Catalog
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The training-data-pipeline extension surface (SURVEY.md §7.5): dedup,
  * similarity search, text analysis, time-series, multimodal plumbing. Every
  * key is DuckDB-oracle-verified except where noted (the library offers more
  * — e.g. seeded Bernoulli sampling — but only deterministic ops are
  * declared here).
  */
object ExtensionQueries {

  /** The ±2-window token co-occurrence graph (word2vec-style skip-gram
    * pairs as undirected edges, self-loops dropped) — shared by the
    * triangle-counting and PageRank keys. Non-distinct pair stream; the
    * graph operators dedup internally.
    */
  private def tokenGraphEdges(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .repartition(col("doc_id"))
      .select(tokens(col("text")).as("w"))
      .select(explode(expr(
        "flatten(transform(sequence(1, size(w)), i -> " +
          "filter(transform(sequence(1, 2), d -> " +
          "IF(i + d <= size(w), struct(least(w[i-1], w[i+d-1]) AS id_a, " +
          "greatest(w[i-1], w[i+d-1]) AS id_b), NULL)), " +
          "x -> x IS NOT NULL)))")).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))

  // Events' `ts` is normalized to canonical epoch-ns longs at load, so the
  // bucket/interval arithmetic in the keys below is written once regardless
  // of whether the fixture ships int64-ns or timestamp[us] (schema drift
  // fails fast with one clear message, see EventTime).
  // Pinned-relation cache plumbing: keys are (sessionUUID, dir) — the
  // session UUID is unique for the process lifetime (identityHashCode
  // could collide after GC and hand a new session DataFrames bound to a
  // stopped one) — and every access first evicts entries whose session
  // has stopped, unpersisting so the cached RDD blocks are not pinned for
  // process lifetime.
  private def sessionKey(s: SparkSession, dir: String): String =
    s"${org.apache.spark.sql.graft.PlanBuilder.sessionUUID(s)}#$dir"

  /** Bump when the SEMANTICS of any disk-materialized pin changes
    * (tokenEdges / lshPairs / entityMatches / entityClusters): the on-disk
    * snapshot under target/pins is keyed by (source-dir signature, this
    * version) only — it cannot see code changes on its own, and a stale
    * pin silently feeds every consumer key wrong input.
    */
  private val PinFormatVersion = 1

  /** Load a session-invariant pinned relation from its parquet snapshot
    * under target/pins, rebuilding (and re-snapshotting) when the source
    * dir's signature says the snapshot is stale. In a deployment these are
    * build-once artifacts like the on-disk ANN index; locally this turns
    * the per-process SETUP phase from a rebuild (entityClusters alone was
    * 6.7 s at sf0.1 on a quiet host) into a parquet read. The sig file is
    * written only AFTER a complete snapshot write, so a crash mid-write
    * leaves a stale/absent sig → rebuild (single bench/verify process at a
    * time; concurrent writers would need the ANN index's tmp+rename swap).
    */
  private def diskPinned(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    val sig = s"v$PinFormatVersion-${Catalog.fileSignature(dir)}"
    val path = "target/pins/" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").stripPrefix("_") + s"/$name"
    val sigPath = java.nio.file.Paths.get(s"$path.sig")
    val fresh =
      try java.nio.file.Files.readString(sigPath).trim == sig
      catch { case _: Exception => false }
    if (!fresh) {
      java.nio.file.Files.deleteIfExists(sigPath)
      build.write.mode("overwrite").parquet(path)
      java.nio.file.Files.createDirectories(sigPath.getParent)
      java.nio.file.Files.writeString(sigPath, sig)
    }
    Catalog.read(s, path)
  }

  private def pinned(
      cache: scala.collection.concurrent.TrieMap[String, (SparkSession, DataFrame)],
      s: SparkSession, dir: String)(build: => DataFrame): DataFrame = {
    cache.filterInPlace { case (_, (sess, df)) =>
      val alive = !sess.sparkContext.isStopped
      if (!alive) scala.util.Try(df.unpersist(blocking = false))
      alive
    }
    val key = sessionKey(s, dir)
    cache.get(key) match {
      case Some((_, df)) => df
      case None =>
        // build OUTSIDE the map, then publish with putIfAbsent: a by-name
        // getOrElseUpdate could run two concurrent builds and silently
        // drop the loser's persist()'d blocks for the session lifetime
        val df = build.persist()
        df.count()
        cache.putIfAbsent(key, (s, df)) match {
          case Some((_, winner)) => // lost the race: release our copy
            scala.util.Try(df.unpersist(blocking = false))
            winner
          case None => df
        }
    }
  }

  // the distinct token co-occurrence edge relation feeds five graph keys
  // (triangles, pagerank, k-core, label propagation, degree bands); pin
  // it once per
  // (dir, session) — consumers re-distinct, a no-op on the pinned set
  private val tokenEdgeCache =
    scala.collection.concurrent.TrieMap.empty[String, (SparkSession, DataFrame)]

  private def tokenEdges(s: SparkSession, dir: String): DataFrame =
    pinned(tokenEdgeCache, s, dir)(diskPinned(s, dir, "tokenEdges")(
      tokenGraphEdges(s, dir).distinct()))

  private def t(s: SparkSession, dir: String, n: String): DataFrame = {
    val df = Catalog.read(s, s"$dir/$n.parquet")
    if (n == "events") {
      EventTime.requireEventTime(n, df, "ts")
      EventTime.toNanos(df)
    } else df
  }

  // the exact-Levenshtein match relation feeds BOTH entity keys (pairs +
  // transitive clusters); compute and pin it once per (dir, session) like
  // the subset surface does for its outputs — the clusters key then costs
  // only the connected-components rounds
  private val entityMatchCache =
    scala.collection.concurrent.TrieMap.empty[String, (SparkSession, DataFrame)]

  private def entityMatches(s: SparkSession, dir: String): DataFrame =
    pinned(entityMatchCache, s, dir)(diskPinned(s, dir, "entityMatches")(
      EntityResolution.editMatches(
        t(s, dir, "customer"), "c_custkey", "c_name", "c_nationkey")))

  // the MinHash LSH candidate-pair relation feeds six keys (lsh_pairs,
  // CC ×3, triangles, b-bit eval); pin it once per (dir, session) so the
  // shingle→signature→band pipeline runs once, not per key
  private val lshPairsCache =
    scala.collection.concurrent.TrieMap.empty[String, (SparkSession, DataFrame)]

  private def lshPairs(s: SparkSession, dir: String): DataFrame =
    pinned(lshPairsCache, s, dir)(diskPinned(s, dir, "lshPairs")(
      Dedup.lshCandidatePairs(t(s, dir, "documents"))))

  // the CC clustering over the match graph likewise feeds two keys
  // (clusters + golden record); pin it once per (dir, session) so the
  // iterative component rounds run once, not per key
  private val entityClusterCache =
    scala.collection.concurrent.TrieMap.empty[String, (SparkSession, DataFrame)]

  private def entityClusters(s: SparkSession, dir: String): DataFrame =
    pinned(entityClusterCache, s, dir)(diskPinned(s, dir, "entityClusters")(
      EntityResolution.entityClustersFromMatches(
        entityMatches(s, dir), "c_custkey")))

  /** Pre-build every shared pinned relation for (session, dir), returning
    * (pin name, build seconds). A bench calls this as an accounted SETUP
    * phase so the one-time pin builds stop being attributed to whichever
    * consumer key happens to run first (r11: `containment_pairs` read
    * 13.1 s cold vs 3.2 s warm purely from absorbed pin builds). In a real
    * deployment these are amortized build-once artifacts, like the
    * on-disk ANN index.
    */
  /** Which query keys consume each pinned relation — kept next to the pin
    * definitions so a rename shows up here; `PinConsumersSpec` asserts
    * every listed key exists in [[queries]]. Drives selective prebuild:
    * a tool sweeping a key subset must not pay (or OOM in) the build of a
    * pin none of its keys read — observed at sf10, where the
    * suffix-replicated fixture names make the entity match graph
    * pathologically dense and `entityClusters` ran out of execution
    * memory inside a sweep of 37 keys that never touch it.
    */
  val pinConsumers: Map[String, Set[String]] = Map(
    "tokenEdges" -> Set("token_graph_triangles", "token_graph_pagerank",
      "token_graph_kcore", "token_graph_degrees", "link_prediction_topk",
      "token_graph_bfs_depth", "token_graph_assortativity",
      "token_graph_rich_club"),
    "lshPairs" -> Set("minhash_lsh_pairs", "neardup_components",
      "neardup_components_incremental", "neardup_components_star",
      "neardup_triangles", "neardup_labelprop", "neardup_component_sizes",
      "rouge_overlap_pairs", "neardup_source_modularity",
      "corpus_dedup_savings", "dedup_capture_recapture"),
    "entityMatches" -> Set("entity_match_customers",
      // the entityClusters pin is BUILT from the entityMatches pin
      "entity_match_clusters", "entity_golden_record"),
    "entityClusters" -> Set("entity_match_clusters", "entity_golden_record"))

  /** Build the session-pinned relations up front so their cost lands in an
    * accounted setup phase instead of the first consumer key's timing.
    * `forKeys = Some(requested)` skips pins none of the requested keys
    * consume; `None` (Bench/Verify, which run everything) builds all.
    */
  def prebuildPinned(s: SparkSession, dir: String,
      forKeys: Option[Set[String]] = None): Seq[(String, Double)] = {
    def timed(name: String)(f: => Any): (String, Double) = {
      val t0 = System.nanoTime()
      f
      (name, (System.nanoTime() - t0) / 1e9)
    }
    def wanted(pin: String): Boolean =
      forKeys.forall(ks => (pinConsumers(pin) & ks).nonEmpty)
    Seq(
      ("tokenEdges", () => tokenEdges(s, dir)),
      ("lshPairs", () => lshPairs(s, dir)),
      ("entityMatches", () => entityMatches(s, dir)),
      ("entityClusters", () => entityClusters(s, dir)))
      .collect { case (n, f) if wanted(n) => timed(n)(f()) }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup ----
    "dedup_exact" -> ((s, dir) => Dedup.exactGroups(t(s, dir, "documents"))),
    "dedup_count_distinct" -> ((s, dir) =>
      t(s, dir, "documents").agg(
        countDistinct(col("text")).as("n_unique"),
        count(lit(1)).as("n_total"))),
    "doc_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), fingerprint(col("text")).as("fp"))),
    "dedup_fingerprint" -> ((s, dir) => Dedup.fingerprintGroups(t(s, dir, "documents"))),
    "dedup_apply" -> ((s, dir) => Dedup.dedupApply(t(s, dir, "documents"))),
    // survivorship dedup: within each normalized-fingerprint group keep
    // the BEST copy (longest text, ties to smallest id) instead of the
    // min-id — what production curation actually keeps when near-identical
    // scrapes differ in completeness
    "dedup_survivor_best" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          fingerprint(col("text")).as("fp"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("fp"))
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .withColumn("is_kept", (col("rn") === 1).cast("int"))
        .select(col("doc_id"), col("fp"), col("is_kept"))
    }),
    // incremental ingest dedup: docs with doc_id % 10 = 0 play the "new
    // batch", the rest the existing corpus — batch-internal dedup plus a
    // fingerprint anti-join against the corpus
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalNew(
        corpus = docs.filter(col("doc_id") % 10 =!= 0),
        newBatch = docs.filter(col("doc_id") % 10 === 0))
    }),
    // sub-document exact dedup (Dolma/C4 paragraph pass): fixed 20-token
    // blocks stand in for paragraphs (fixture text has no newlines); a block
    // survives only at its first corpus occurrence and each doc reports its
    // cleaned-text md5
    // directed split-document candidates: a's last-3-token gram equals
    // b's first-3 — one boundary fingerprint per doc, hash-keyed join
    "doc_fragment_stitch" -> ((s, dir) =>
      Dedup.fragmentStitchPairs(t(s, dir, "documents"))),
    // LSH bucket-occupancy histogram + per-class candidate-pair volume:
    // the pre-join explosion forecast for the banding scheme
    "lsh_band_occupancy" -> ((s, dir) =>
      Dedup.lshBandOccupancy(t(s, dir, "documents"))),
    // top-2^j vocabulary coverage of the corpus token volume in exact
    // bp — tokenizer/embedding vocab sizing; ranks cut on TopKPerKey
    "vocab_coverage_curve" -> ((s, dir) =>
      Curation.vocabCoverageCurve(t(s, dir, "documents"))),
    // Mondrian k-anonymity: three unrolled median cuts on (acctbal
    // cents, nationkey), leaf regions with population + ranges + verdict
    "privacy_mondrian_kanon" -> ((s, dir) =>
      Privacy.mondrianPartitions(t(s, dir, "customer"),
        expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)"),
        col("c_nationkey"))),
    "dedup_paragraph" -> ((s, dir) =>
      Dedup.paragraphDedup(t(s, dir, "documents"))),
    // full corpus (no input cap): the df-cap inside the operator bounds the
    // hot-shingle join skew instead. df ≤ 20 keeps the ALL-PAIRS reference
    // formulation a reference: candidate fan-out per shingle is ≤ df², so
    // the cap is the key's only cost knob (the scale path is
    // minhash_verified_pairs / jaccard_prefix_pairs, which prune candidates
    // structurally instead)
    "ngram_jaccard_pairs" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), dfCap = 20)),
    // where to SET the dedup threshold: qualifying-pair counts at
    // tau in {1/5, 1/2, 4/5} from one intersection pass over the same
    // df<=20 reference universe as ngram_jaccard_pairs
    "jaccard_threshold_curve" -> ((s, dir) =>
      Dedup.jaccardThresholdCurve(t(s, dir, "documents"))),
    // AllPairs/PPJoin prefix-filter exact Jaccard at the realistic 4/5
    // near-dup threshold: only each doc's rarest ~(1-t)·sz+1 shingles
    // enter the candidate self-join, so pair volume collapses ~25× and
    // the hot stop-shingle keys never become join keys
    "jaccard_prefix_pairs" -> ((s, dir) =>
      Dedup.prefixFilterJaccardPairs(t(s, dir, "documents"))),
    // Broder containment C = |A∩B|/min(|A|,|B|) at 9/10: the
    // quote/boilerplate-envelope near-subset pairs Jaccard misses
    "containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"))),
    // full corpus: the positional-window oracle is O(len·docs) in DuckDB,
    // fine at the sf0.01 correctness gate (500 docs)
    "doc_winnow_fingerprints" -> ((s, dir) =>
      Dedup.winnowFingerprints(t(s, dir, "documents"))),
    "minhash_lsh_pairs" -> ((s, dir) => lshPairs(s, dir)),
    // incremental LSH ingest: an arriving batch (doc_id ≡9 mod 10) probes
    // the stored band index of the existing corpus — O(batch), the old
    // corpus is never re-shingled
    "minhash_index_append" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.minhashIndexAppend(
        docs.filter(col("doc_id") % 10 =!= 9),
        docs.filter(col("doc_id") % 10 === 9))
    }),
    // dedup clustering: connected components over the MinHash candidate
    // pairs (min-label propagation; each cluster keeps min doc_id as its
    // representative label)
    "neardup_components" -> ((s, dir) =>
      Dedup.connectedComponents(
        lshPairs(s, dir).select(col("id_a"), col("id_b")))),
    // B-cubed scorecard of the LSH near-dup clustering against the
    // exact-duplicate gold classes (md5 of text); singletons count
    "dedup_bcubed_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val comp = Dedup.connectedComponents(
        lshPairs(s, dir).select(col("id_a"), col("id_b")))
      val assign = docs.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("c"))
      val gold = docs.select(col("doc_id"), md5Hex(col("text")).as("g"))
      Dedup.bcubedEval(assign, gold)
    }),
    // b-bit minwise storage/accuracy table: full-signature vs corrected
    // 1-bit Jaccard estimates vs exact, per LSH candidate pair
    "bbit_minhash_eval" -> ((s, dir) =>
      Dedup.bbitMinhashEval(t(s, dir, "documents"))),
    // INCREMENTAL maintenance of the same clustering: the %10==9 docs play
    // the arriving batch — their candidate pairs fold into the existing
    // corpus labels via supernode contraction; output is bit-identical to
    // the full recompute (the oracle IS the full-closure oracle)
    "neardup_components_incremental" -> ((s, dir) => {
      val pairs = lshPairs(s, dir).select(col("id_a"), col("id_b"))
      val oldPairs = pairs.filter(
        col("id_a") % 10 =!= 9 && col("id_b") % 10 =!= 9)
      val newPairs = pairs.filter(
        col("id_a") % 10 === 9 || col("id_b") % 10 === 9)
      Dedup.connectedComponentsIncremental(
        Dedup.connectedComponents(oldPairs), newPairs)
    }),
    // the same clustering via O(log n) large-star/small-star contraction —
    // identical output contract, verified against the same closure oracle
    "neardup_components_star" -> ((s, dir) =>
      Dedup.connectedComponentsStar(
        lshPairs(s, dir).select(col("id_a"), col("id_b")))),
    // apply the clustering: the deduplicated corpus = every document that
    // is not a non-representative member of some near-dup component
    "dedup_cluster_apply" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val drop = Dedup.connectedComponents(
          Dedup.lshCandidatePairs(docs).select(col("id_a"), col("id_b")))
        .filter(col("component") =!= col("doc_id"))
        .select(col("doc_id"))
      docs.join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"))
    }),
    // semantic dedup: the same clustering over embedding-cosine near-dup
    // pairs — components in embedding space rather than token space
    "semantic_dedup_components" -> ((s, dir) =>
      Dedup.connectedComponents(
        Similarity.cosineNearDupPairs(t(s, dir, "embeddings"),
          minSim = 0.30).select(col("id_a"), col("id_b")))
        .withColumnRenamed("doc_id", "vec_id")),
    // the composed MinHash production pipeline: LSH candidates + exact
    // df-capped Jaccard verify of ONLY the candidates — the scale-path
    // companion to the all-pairs ngram_jaccard_pairs reference
    "minhash_verified_pairs" -> ((s, dir) =>
      Dedup.minhashVerifiedPairs(t(s, dir, "documents"))),
    // LSH-config recall evaluation at the realistic 4/5 near-dup
    // threshold: exact prefix-filter truth vs the banded-LSH pipeline
    // verified at the same threshold — the dedup analogue of
    // ann_recall_ivf (run it BEFORE committing a band config to 100 TB)
    "minhash_recall_eval" -> ((s, dir) =>
      Dedup.lshRecallEval(t(s, dir, "documents"))),
    // per-document duplicated-5-gram coverage: the exact-substring
    // boilerplate signal whole-document signatures miss
    "dup_ngram_coverage" -> ((s, dir) =>
      Dedup.dupNgramCoverage(t(s, dir, "documents"))),
    // positional sharpening of the coverage signal: longest CONTIGUOUS
    // run of duplicated-5-gram positions (the copied-paragraph span a
    // suffix-array dedup would cut) via gaps-and-islands per doc
    "dup_span_runs" -> ((s, dir) =>
      Dedup.dupSpanRuns(t(s, dir, "documents"))),
    // the APPLY of the span signal: cut every >=3-position duplicated run
    // (plus the tokens its grams cover), keep the rest; the md5 of the
    // surviving token stream oracle-checks the full rewrite
    "dedup_span_apply" -> ((s, dir) =>
      Dedup.dedupSpanApply(t(s, dir, "documents"))),
    // triangle participation per document over the MinHash candidate
    // graph — the local-density QA signal on a dedup clustering (tight
    // cliques vs hub-glued chains); degree-oriented node-iterator, one
    // equi-join closes wedges
    "neardup_triangles" -> ((s, dir) =>
      Dedup.triangleCounts(
        lshPairs(s, dir).select(col("id_a"), col("id_b")))),
    // the same operator driven hard: the ±2-window token co-occurrence
    // graph (the cooccurrence_topk relation as an undirected graph) is
    // dense, so every vertex participates in many triangles
    "token_graph_triangles" -> ((s, dir) =>
      Dedup.triangleCounts(tokenEdges(s, dir))),
    // rich-club coefficients: edge density among degree->k hubs in exact
    // ppm, all thresholds from two one-row conditional aggregates
    "token_graph_rich_club" -> ((s, dir) =>
      Dedup.richClubCoefficients(tokenEdges(s, dir))),
    // integer-fixed-point damped PageRank over the same token graph:
    // 3 iterations, rank mass scaled by 1e12, floor divisions only
    "token_graph_pagerank" -> ((s, dir) =>
      Dedup.pageRankFixedPoint(tokenEdges(s, dir))),
    // HITS hubs/authorities over the DIRECTED word-order graph (token a
    // precedes token b): 2 sweeps, L1-normalized integer fixed point
    "token_graph_hits" -> ((s, dir) =>
      Dedup.hitsFixedPoint(t(s, dir, "documents")
        .select(tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("src"),
            element_at(col("w"), i + 1).as("dst")))).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst")))),
    // k-core density filter over the same token graph: 3 fixed peel rounds
    // at k=3 (degree aggregate + two vertex-keyed semi-joins per round over
    // the shrinking edge relation) — the subgraph that survives is the
    // tightly-knit boilerplate/clique region, shorn of chain periphery
    "token_graph_kcore" -> ((s, dir) =>
      Dedup.kCorePeel(tokenEdges(s, dir), k = 3, rounds = 3)),
    // deterministic synchronous label propagation (plurality vote with
    // self-ballot, min-label tie-break) over the pinned near-dup candidate
    // graph: the cluster-labeling sweep entity/dedup pipelines use; on the
    // fixture's small dense clusters 3 sweeps converge to the per-cluster
    // min label — the CC answer, reached through votes, and the oracle
    // replays the votes (staged plurality CTEs), not the closure
    "neardup_labelprop" -> ((s, dir) =>
      Dedup.labelPropagation(
        lshPairs(s, dir).select(col("id_a"), col("id_b")), rounds = 3)),
    // link prediction over the token co-occurrence graph: top-20
    // NON-adjacent pairs by common neighbors + neighborhood Jaccard on
    // the degree-capped subgraph — the distributional "synonym candidate"
    // signal / the pairs one more LSH band would surface
    "link_prediction_topk" -> ((s, dir) =>
      Dedup.linkPredictionTopK(tokenEdges(s, dir))),
    // bounded-depth multi-source BFS from the 4 highest-degree tokens:
    // min hop distance 0..3 per reached vertex — the hub-eccentricity
    // traversal the fixpoint kernels don't expose; one frontier join +
    // visited anti-join per hop
    "token_graph_bfs_depth" -> ((s, dir) =>
      Dedup.bfsDepthFromHubs(tokenEdges(s, dir), nHubs = 4, maxDepth = 3)),
    // bounded-horizon closeness of the 4 hub tokens: per-seed BFS to
    // depth 3, closeness = (reached-1)*1e6 div sum(distance)
    "token_graph_closeness" -> ((s, dir) =>
      Dedup.closenessFromHubs(tokenEdges(s, dir), nHubs = 4, maxDepth = 3)),
    // degree assortativity of the token graph, signed r^2 in exact ppm:
    // negative = hubs attach to leaves (star-like boilerplate), positive
    // = a degree-stratified core; one tagged-edge aggregate
    "token_graph_assortativity" -> ((s, dir) =>
      Dedup.degreeAssortativity(tokenEdges(s, dir))),
    // Newman modularity of the SOURCE partition over the near-dup
    // candidate graph, per source in signed exact ppm: measures whether
    // near-dup candidates concentrate within sources (template reuse —
    // dedup can shard by source) or cross them (syndication — it can't)
    "neardup_source_modularity" -> ((s, dir) =>
      Dedup.communityModularity(
        lshPairs(s, dir).select(col("id_a"), col("id_b")),
        t(s, dir, "documents")
          .select(col("doc_id").as("node"), col("source").as("community")))),
    // dedup-savings executive rollup: per cascade tier (exact /
    // fingerprint / LSH near-dup CC), dup groups, affected / removable
    // docs and exact chars a min-keep apply would delete
    "corpus_dedup_savings" -> ((s, dir) =>
      Dedup.dedupSavingsReport(t(s, dir, "documents"),
        lshPairs(s, dir).select(col("id_a"), col("id_b")))),
    // ROUGE-1/2 P/R/F over the pinned LSH candidate pairs in exact bp:
    // grades HOW close each near-dup candidate is (verbatim copy vs
    // shared vocabulary) — clipped-count overlap, F1 = 2o/(|a|+|b|)
    "rouge_overlap_pairs" -> ((s, dir) =>
      Curation.rougeOverlapPairs(t(s, dir, "documents"),
        lshPairs(s, dir).select(col("id_a"), col("id_b")).distinct())),
    "simhash_signatures" -> ((s, dir) =>
      Dedup.simhashSignatures(t(s, dir, "documents"))),
    // full corpus, complete recall at radius 3 (4 chunks of 16 bits); the
    // oracle is a BRUTE-FORCE all-pairs Hamming scan (quadratic in DuckDB —
    // 125k pairs at the sf0.01 gate), so the hash-match proves recall, not
    // just chunk-set self-consistency
    "simhash_neardup_pairs" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(t(s, dir, "documents"), maxDist = 3)),
    // full corpus, wide radius: generalized pigeonhole (m = maxDist/2 + 1
    // chunks, 1-flip probe expansion), complete by construction;
    // brute-force oracle again
    "simhash_neardup_pairs_wide" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(t(s, dir, "documents"), maxDist = 12)),
    // the documented scale dial for wide radii, exercised end-to-end: the
    // SAME radius over a 128-bit signature — chunks widen to ~18 bits (the
    // per-index key space the 100 TB shape needs) and a radius-12 ball of
    // a 128-bit simhash is selective again instead of covering 37% of all
    // pairs; brute-force 128-bit oracle
    "simhash_neardup_pairs_128" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(t(s, dir, "documents"), maxDist = 12,
        sigBits = 128)),
    // string-signature formulation (exact substring chunks + the native
    // hamming / first_chunk_within expressions in the join condition) —
    // must reproduce the word-packed fast path's pairs against the same
    // brute-force oracle
    "simhash_neardup_pairs_strsig" -> ((s, dir) =>
      Dedup.simhashNearDupPairsStrSig(t(s, dir, "documents"), maxDist = 3)),

    // ---- entity resolution (fuzzy record linkage) ----
    // deletion-neighborhood candidate blocking (FastSS/SymSpell) + exact
    // Levenshtein verify; customers in the same nation whose names sit
    // within edit distance 1
    "entity_match_customers" -> ((s, dir) => entityMatches(s, dir)),
    // blocking-strategy evaluation (Christen's reduction ratio + pairs
    // completeness, exact bp) against the blocking-FREE deletion-variant
    // truth: the report that picks a block key BEFORE a corpus-scale run.
    // name-prefix-12 is deliberately terrible (every fixture name shares
    // it) — the metric exists to expose exactly that
    // Fellegi-Sunter m/u agreement probabilities over a linear
    // nation-blocked candidate window, labels from bounded edit distance:
    // the counting half of probabilistic record linkage, exact bp
    "er_fellegi_sunter" -> ((s, dir) =>
      EntityResolution.fellegiSunterWeights(
        t(s, dir, "customer"), "c_custkey", "c_name", "c_nationkey",
        Seq(
          ("segment", col("a_c_mktsegment") === col("b_c_mktsegment")),
          ("bal_band",
            expr("CAST(CAST(a_c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) div 100000") ===
              expr("CAST(CAST(b_c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) div 100000")),
          ("name_prefix",
            substring(col("a_c_name"), 1, 12) === substring(col("b_c_name"), 1, 12))))),
    "er_blocking_eval" -> ((s, dir) =>
      EntityResolution.blockingEval(t(s, dir, "customer"),
        "c_custkey", "c_name", Seq(
          ("nation", col("c_nationkey").cast("string")),
          ("segment", col("c_mktsegment")),
          ("name12", substring(col("c_name"), 1, 12))))),
    // transitive closure of the match graph: one entity id per linked group
    // (reads the pinned match relation — only the CC rounds are new work)
    "entity_match_clusters" -> ((s, dir) => entityClusters(s, dir)),
    // golden-record survivorship (the MDM step after block→match→
    // cluster): one canonical row per resolved entity — singleton
    // customers are their own entity; survivor = lowest id, attributes
    // merged with exact aggregates (max/first, no float accumulation)
    "entity_golden_record" -> ((s, dir) => {
      val clusters = entityClusters(s, dir)
      t(s, dir, "customer")
        .join(clusters, Seq("c_custkey"), "left")
        .withColumn("entity_id", coalesce(col("entity_id"), col("c_custkey")))
        .groupBy(col("entity_id"))
        .agg(count(lit(1)).as("n_members"),
          min(col("c_custkey")).as("survivor_id"),
          max(col("c_acctbal")).as("best_acctbal"),
          countDistinct(col("c_nationkey")).as("n_nations"))
    }),

    // ---- similarity search ----
    "cosine_topk_bruteforce" -> ((s, dir) =>
      Similarity.bruteForceTopK(t(s, dir, "embeddings"), queryId = 0L, k = 10)),
    // MMR diverse rerank of the exact top-20 pool: greedy λ=0.7 balance
    // of relevance vs redundancy, driver loop over the bounded pool only
    "cosine_topk_mmr" -> ((s, dir) =>
      Similarity.mmrDiverseTopK(t(s, dir, "embeddings"))),
    // greedy k-center / farthest-point coreset (Gonzalez): corpus-global
    // diverse seed selection — one linear aggregate per step against the
    // broadcast selected set, exact integer quantized distances
    "diversity_kcenter_sample" -> ((s, dir) =>
      Similarity.kCenterSample(t(s, dir, "embeddings"), k = 8)),
    // Matryoshka truncation eval: recall@10 of prefix-16-dim cosine vs the
    // full-dim truth per query — how many dims the index can drop; both
    // rankings on the bounded-heap TopKPerKey
    "embedding_matryoshka_eval" -> ((s, dir) =>
      Similarity.matryoshkaRecallEval(t(s, dir, "embeddings"))),
    // data-adaptive thin index: keep the 16 highest-variance dims
    // (exact integer ranking in DECIMAL) and measure recall@10 vs the
    // full-dimension truth
    "embedding_dim_select_eval" -> ((s, dir) =>
      Similarity.dimSelectRecallEval(t(s, dir, "embeddings"))),
    // the full accuracy-vs-width trade table: recall@10 per prefix
    // width {4,8,16,32}, all cuts over ONE materialized pair relation
    "embedding_matryoshka_curve" -> ((s, dir) =>
      Similarity.matryoshkaRecallCurve(t(s, dir, "embeddings"))),
    "cosine_topk_lsh_bucket" -> ((s, dir) =>
      Similarity.lshBucketTopK(t(s, dir, "embeddings"), queryId = 0L, k = 5, nBits = 8)),
    "cosine_topk_native" -> ((s, dir) =>
      Similarity.fastCosineTopK(t(s, dir, "embeddings"), queryId = 0L, k = 10)),
    // embedding-space near-dup detection: all pairs above a cosine
    // threshold, candidate-cut by sign-LSH buckets
    "dedup_embedding_cosine" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), minSim = 0.30)),
    // margin-based bitext mining (Artetxe & Schwenk ratio margin + the
    // mutual-best filter) between the en and es sides of the corpus —
    // the LASER/CCMatrix parallel-pair mining shape, LSH-candidate-cut,
    // integer fixed-point margins
    "bitext_margin_pairs" -> ((s, dir) =>
      Similarity.bitextMarginPairs(
        t(s, dir, "documents"), t(s, dir, "embeddings"))),
    // IVF ANN: fixed-seed k-means coarse quantizer (3 Lloyd iterations,
    // trained on the deterministic 1-in-4 sample — the corpus-scale
    // practice), probe the 4 cells nearest the query
    "cosine_topk_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(t(s, dir, "embeddings"), queryId = 0L, k = 10,
        trainMod = 4)),
    // multi-probe LSH: query bucket + all Hamming-1 neighbor buckets
    "cosine_topk_lsh_multiprobe" -> ((s, dir) =>
      Similarity.lshMultiProbeTopK(t(s, dir, "embeddings"), queryId = 0L, k = 10)),
    // product quantization (asymmetric distance): 4 per-subspace k-means
    // codebooks, ADC shortlist from broadcast distance tables, exact rerank
    "cosine_topk_pq" -> ((s, dir) =>
      Similarity.pqTopK(t(s, dir, "embeddings"), queryId = 0L, k = 10,
        trainMod = 2)),
    // PQ codebook quality: per-subspace reconstruction SSE/MSE of the
    // same codebooks the PQ index serves — the ksub/subDim adequacy
    // check run before deploying (and the retrain trigger after appends)
    "pq_reconstruction_error" -> ((s, dir) =>
      Similarity.pqReconstructionError(t(s, dir, "embeddings"),
        trainMod = 2)),
    // the production composition: IVF coarse cells restrict candidates,
    // PQ/ADC tables score only the probed cells, exact rerank on top (the
    // coarse quantizer + 4 codebooks train in ONE grouped Lloyd chain)
    "cosine_topk_ivfpq" -> ((s, dir) =>
      Similarity.ivfPqTopK(t(s, dir, "embeddings"), queryId = 0L, k = 10,
        trainMod = 4)),
    // the deployed build/probe split of the same index: ivfPqIndexBuild
    // materializes codebooks + cell-partitioned PQ codes once (skipped when
    // the on-disk index already matches this corpus), and the query itself
    // is probe-only — broadcast codebooks, partition-pruned candidate read,
    // ADC lookups, shortlist rerank. Same params ⇒ same answer ⇒ same
    // oracle as cosine_topk_ivfpq.
    "cosine_topk_ivfpq_probe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.defaultIndexDir(dir) + "/ivfpq"
      Similarity.ivfPqIndexBuildIfStale(emb, idx, trainMod = 4)
      Similarity.ivfPqProbeTopK(emb, idx, queryId = 0L, k = 10)
    }),
    // k-occurrence hubness histogram over the batch k-NN join: N_k(x)
    // distribution incl. the orphan row — the ANN pathology diagnostic
    "knn_hubness_histogram" -> ((s, dir) =>
      Similarity.knnHubnessHistogram(t(s, dir, "embeddings"))),
    // batch k-NN JOIN: top-3 neighbors for EVERY vector via the IVF cell
    // cut, per-query top-k on the custom bounded-heap TopKPerKey operator
    "knn_join_ivf" -> ((s, dir) =>
      Similarity.knnJoinIvf(t(s, dir, "embeddings"), k = 3)),
    // cluster-balanced curation (SemDeDup/DCLM quota shape): k-means cells
    // + a deterministic per-cell quota on the bounded-heap TopKPerKey
    "cluster_balanced_sample" -> ((s, dir) =>
      Similarity.clusterBalancedSample(t(s, dir, "embeddings"))),
    // the same quota answered from the materialized index's inverted
    // lists: column-pruned (cell_id, vec_id) scan, no training on the
    // query path — same coarse chain ⇒ same answer ⇒ same oracle
    "cluster_balanced_sample_probe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.defaultIndexDir(dir) + "/ivfpq"
      Similarity.ivfPqIndexBuildIfStale(emb, idx, trainMod = 4)
      Similarity.clusterBalancedSampleFromIndex(s, idx)
    }),
    // the batch path from the MATERIALIZED index: map-only probe
    // assignment + pre-partitioned inverted lists, no training on the
    // query path — same coarse params ⇒ same answer ⇒ same oracle
    "knn_join_ivf_probe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.defaultIndexDir(dir) + "/ivfpq"
      Similarity.ivfPqIndexBuildIfStale(emb, idx, trainMod = 4)
      Similarity.knnJoinIvfProbe(emb, idx, k = 3)
    }),
    // the textbook residual-encoding IVFADC: codebooks trained on
    // x − centroid(x), per-probed-cell query distance tables
    "cosine_topk_ivfpq_residual" -> ((s, dir) =>
      Similarity.ivfPqResidualTopK(t(s, dir, "embeddings"), queryId = 0L,
        k = 10)),
    // SemDeDup applied end-to-end: k-means cells → within-cell cosine pairs
    // → connected components → keep only component representatives
    "semantic_dedup_apply" -> ((s, dir) =>
      Similarity.semDedupKeep(t(s, dir, "embeddings"))),
    // the past-the-cap branch: two-level coarse quantizer — oversized cells
    // train per-cell sub-quantizers and the pair join runs on (cell,
    // sub-cell) leaves. Gate dials forced tiny (4/64/4) so the grouped
    // Lloyd, split decision, and leaf join are hash-checked at every
    // fixture scale; production defaults are adaptive (see scaladoc).
    "semantic_dedup_hier" -> ((s, dir) =>
      Similarity.semDedupKeepHier(t(s, dir, "embeddings"),
        topCells = 4, maxCellPop = 64L, subCells = 4)),
    // SemDeDup from the MATERIALIZED index: the pair join reads the
    // cell-partitioned inverted lists directly — no training, no corpus
    // assignment on the nightly run; same coarse params ⇒ same oracle
    "semantic_dedup_apply_probe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.defaultIndexDir(dir) + "/ivfpq"
      Similarity.ivfPqIndexBuildIfStale(emb, idx, trainMod = 4)
      Similarity.semDedupKeepFromIndex(emb, idx)
    }),
    // hard-negative mining: most-similar vectors of a DIFFERENT label
    "hard_negatives_topk" -> ((s, dir) =>
      Similarity.hardNegativesTopK(t(s, dir, "embeddings"), queryId = 0L, k = 10)),
    // ANN recall evaluation: per sampled query, how many of the exact
    // top-10 the IVF probe recovered — the index-quality measurement,
    // integer-exact so the whole build+eval hash-checks
    "ann_recall_ivf" -> ((s, dir) =>
      Similarity.annRecallIvf(t(s, dir, "embeddings"))),
    // the recall-vs-cost CURVE: truth/quantizer/assignment computed once,
    // one extra map-only probe pass per point — tunes nProbe from data
    "ann_recall_curve_ivf" -> ((s, dir) =>
      Similarity.annRecallCurveIvf(t(s, dir, "embeddings"))),
    // incremental IVF maintenance: quantizer trained on the existing
    // corpus (vec_id % 10 != 0), the new batch (% 10 = 0) map-only
    // assigned to the frozen centroids — the no-retrain ingest path
    "ivf_index_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfIndexAppend(
        existing = emb.filter(col("vec_id") % 10 =!= 0),
        batch = emb.filter(col("vec_id") % 10 === 0))
    }),
    // SQ8 scalar quantization: per-dimension [min,max] -> int8 grid codes
    // (the 4x no-training index compression; long format)
    "embedding_sq8" -> ((s, dir) =>
      Similarity.scalarQuantize8(t(s, dir, "embeddings"))),
    // dominant principal direction (all-but-the-top / whitening input):
    // integer-exact power iteration on the BIGINT-quantized Gram — the
    // corpus sweep is the only data-sized work
    "embedding_top_component" -> ((s, dir) =>
      Similarity.topComponentPower(t(s, dir, "embeddings"))),
    // L2 normalization — the standard preprocessing before any
    // cosine-metric index (unit vectors make dot = cosine). Map-only: one
    // codegen'd float_dot per row, no shuffle; long-format output
    "embedding_l2_normalize" -> ((s, dir) => {
      t(s, dir, "embeddings").repartition(col("vec_id"))
        .withColumn("nrm", sqrt(expr("float_dot(embedding, embedding)")))
        .select(col("vec_id"), col("nrm"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("pos"),
          when(col("nrm") === 0, lit(0.0))
            .otherwise(round(col("x").cast("double") / col("nrm"), 6)).as("v"))
    }),
    // per-class mean embeddings (nearest-centroid prototypes), long format:
    // one row per (label, dimension) — the hash-friendly relational shape
    "label_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(t(s, dir, "embeddings"))),
    // class-confusability map: integer-exact centroid cosine per label
    // pair (the 1/n scalars cancel, so cos(S_a, S_b) IS the centroid cos)
    "label_centroid_similarity" -> ((s, dir) =>
      Similarity.labelCentroidSimilarity(t(s, dir, "embeddings"))),
    // ColBERT-style MaxSim late interaction: the label-0 vector bag as the
    // multi-vector query, every other label scored Σ_q max_v dot(q, v)
    "maxsim_label_scores" -> ((s, dir) =>
      Similarity.maxSimLabelScores(t(s, dir, "embeddings"))),
    // embedding-norm health bands: quantized |v|² in power-of-two bands —
    // an unnormalized ingest batch shows up as a new band instantly
    "embedding_norm_bands" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), expr(
          "aggregate(embedding, CAST(0 AS BIGINT), (acc, x) -> " +
            "acc + CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) * " +
            "CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("n2"))
        .groupBy(expr("CAST(length(bin(greatest(n2, CAST(1 AS BIGINT)))) - 1 AS INT)")
          .as("band"))
        .agg(count(lit(1)).as("n_vectors"),
          min(col("n2")).as("min_n2"), max(col("n2")).as("max_n2"))),
    // size histogram of the near-dup families: how many components of
    // each member count the MinHash clustering produced (2-doc pairs vs
    // 40-crop meme families) — reuses the pinned candidate pairs
    "neardup_component_sizes" -> ((s, dir) =>
      Dedup.connectedComponents(
        lshPairs(s, dir).select(col("id_a"), col("id_b")))
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_components"))),
    // k-NN label-prediction eval: 3-NN majority vote (ties to the
    // smallest label) over the IVF k-NN join, accuracy per true label —
    // the embedding-quality probe a labeling pipeline runs
    "knn_label_accuracy" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val lbl = emb.select(col("vec_id"), col("label"))
      val votes = Similarity.knnJoinIvf(emb, k = 3)
        .join(lbl.toDF("nbr_id", "nbr_label"), Seq("nbr_id"))
        .groupBy(col("vec_id"), col("nbr_label")).agg(count(lit(1)).as("v"))
      val pred = votes.withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("v").desc, col("nbr_label"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("nbr_label").as("pred"))
      pred.join(lbl, Seq("vec_id"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("pred") === col("label"), 1L).otherwise(0L))
            .as("n_correct"))
    }),
    // hybrid retrieval: BM25 and cosine rankings fused by integer RRF
    // (doc_id and vec_id share the key space in the fixtures)
    "hybrid_search_rrf" -> ((s, dir) =>
      Similarity.hybridRrfTopK(
        t(s, dir, "documents"), t(s, dir, "embeddings"),
        terms = Seq("spark", "quantile", "vector"))),
    // per-label embedding outliers: 5 vectors farthest from their own
    // label centroid (integer-exact n²·distance², TopKPerKey heaps)
    "embedding_outliers" -> ((s, dir) =>
      Similarity.embeddingOutliers(t(s, dir, "embeddings"))),
    // per-label/per-dimension centroid drift between two corpus versions
    // (deterministic splits: old drops vec_id ≡3 mod 4, new drops ≡1) —
    // the embedding-space companion of vocab_drift / corpus_snapshot_diff
    "embedding_label_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.labelCentroidDrift(
        oldEmb = emb.filter(col("vec_id") % 4 =!= 3),
        newEmb = emb.filter(col("vec_id") % 4 =!= 1))
    }),
    // Rademacher random projection 64->16 (JL dimension reduction),
    // hash-derived sign matrix, map-only
    "embedding_rproj" -> ((s, dir) =>
      Similarity.randomProjection(t(s, dir, "embeddings"))),

    // ---- text analysis ----
    "text_token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        distinctTokenCount(col("text")).as("n_distinct"),
        // BPE-ish subword segmentation: letter runs / digit runs / symbols
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("n_bpe_tokens"))),
    // the pluggable-tokenizer path under a NON-whitespace separator class
    // (split on non-alphanumeric runs, empties dropped) — what a
    // multilingual/punctuated corpus would configure; same counts shape as
    // text_token_count
    "text_token_count_regex" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        size(tokensNonEmpty(col("text"), "[^a-z0-9]+")).cast("long")
          .as("n_tokens_re"),
        size(array_distinct(tokensNonEmpty(col("text"), "[^a-z0-9]+")))
          .cast("long").as("n_distinct_re"))),
    "text_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("n_letters"),
        qualityFlag(col("text")).as("quality_flag"))),
    "text_lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        langIdHeuristic(col("text")).as("lang_pred"))),
    // classifier eval against the labeled lang column: the confusion
    // matrix (|langs|×2 rows) a lang-id deployment reports — one
    // two-column groupBy over the map-side prediction
    "langid_confusion" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang").as("lang_actual"),
          langIdHeuristic(col("text")).as("lang_pred"))
        .groupBy(col("lang_actual"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))),
    // Gopher/C4-style repetition signals, as exact integer counts (the
    // ratios a filter would threshold are count/count — emitting counts
    // keeps the oracle hash integer-stable): top-token multiplicity and
    // duplicate word-bigram volume per document. Two explode→groupBy
    // corpus sweeps joined on doc_id — both shuffles are on (doc_id, gram)
    // then doc_id, the partition-friendly shape at corpus scale.
    "text_repetition" -> ((s, dir) => {
      val tok = t(s, dir, "documents").repartition(col("doc_id"))
        .select(col("doc_id"), tokens(col("text")).as("w"))
      val uni = tok.select(col("doc_id"), explode(col("w")).as("tk"))
        .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id")).agg(
          sum(col("n")).as("n_tokens"), max(col("n")).as("top_token_n"))
      val bi = tok
        .select(col("doc_id"), explode(wordShingles(col("w"), 2)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id")).agg(
          sum(col("n")).as("n_2grams"),
          (sum(col("n")) - count(lit(1))).as("n_dup_2grams"))
      uni.join(bi, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("top_token_n"),
          coalesce(col("n_2grams"), lit(0L)).as("n_2grams"),
          coalesce(col("n_dup_2grams"), lit(0L)).as("n_dup_2grams"))
    }),
    // PII detection + redaction: the fixture corpus is synthetic word salad,
    // so deterministic PII (an email / phone / IP derived from doc_id) is
    // appended first, then the library scrubbers run — counts plus the md5
    // of the redacted text prove detection AND replacement, all map-only
    // C4-style normalization: the canonical form dedup should key on —
    // cleaned fingerprint + before/after lengths, map-only
    "text_clean_normalize" -> ((s, dir) =>
      Curation.cleanNormalize(t(s, dir, "documents"))),
    "text_pii_scrub" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      val enriched = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or call +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".0.1"))
      t(s, dir, "documents")
        .select(col("doc_id"), enriched.as("etext"))
        .select(col("doc_id"),
          piiCount(col("etext"), EmailRe).as("n_emails"),
          piiCount(col("etext"), PhoneRe).as("n_phones"),
          piiCount(col("etext"), Ipv4Re).as("n_ips"),
          md5Hex(piiScrub(col("etext"))).as("scrub_md5"))
    }),
    // corpus-frequency document scoring: integer-exact unigram-likelihood
    // proxy (sum / min / rare-count of corpus term frequencies per doc)
    "text_unigram_score" -> ((s, dir) =>
      Curation.unigramScore(t(s, dir, "documents"))),
    // RAG-style overlapping token-window chunking (64-token windows,
    // stride 32): per-chunk token count + content md5
    "doc_chunk_windows" -> ((s, dir) =>
      Curation.chunkWindows(t(s, dir, "documents"))),
    // tf-idf keyword search: fixed-point integer idf, DECIMAL(38,0) scores
    "keyword_search_topk" -> ((s, dir) =>
      Curation.keywordSearch(t(s, dir, "documents"),
        terms = Seq("spark", "quantile", "vector"), k = 20)),
    // exact phrase query via positional-index joins (consecutive-position
    // equi-joins over the term-filtered posting slice)
    "phrase_search_topk" -> ((s, dir) =>
      Curation.phraseSearchTopK(t(s, dir, "documents"),
        terms = Seq("data", "spark"), k = 20)),
    // the deployed-search-index twin: postings built once (hash-bucketed
    // by token), the query reads only the terms' bucket dirs — zero
    // corpus cost at query time; same oracle as the direct key
    "phrase_search_probe" -> ((s, dir) => {
      val idx = Similarity.defaultIndexDir(dir) + "/textidx"
      Curation.textIndexBuildIfStale(t(s, dir, "documents"), idx)
      Curation.phraseSearchProbe(s, idx, terms = Seq("data", "spark"), k = 20)
    }),
    // BM25 ranking (rational-idf variant — no transcendental, hash-exact):
    // tf saturation + length normalization over the same query terms
    "bm25_topk" -> ((s, dir) =>
      Curation.bm25TopK(t(s, dir, "documents"),
        terms = Seq("spark", "quantile", "vector"), k = 20)),
    // retrieval commissioning eval: per-query precision@k / recall@k / MRR
    // in integer fixed point, truth derived from the corpus (tf >= 2),
    // ranked cut on the bounded-heap TopKPerKey operator; 'quantile' is
    // absent from the fixture vocabulary on purpose — the empty-truth /
    // empty-retrieval edge is part of the contract
    "retrieval_eval_pr" -> ((s, dir) =>
      Curation.retrievalEvalPR(t(s, dir, "documents"),
        terms = Seq("spark", "vector", "quantile"), k = 10)),
    // nDCG@10 of the cheap shortest-doc-first ranker vs tf-graded truth
    // (grade = min(tf,4)); log2 discounts frozen as the ten shared ppm
    // literals, both cuts on TopKPerKey
    "retrieval_ndcg_eval" -> ((s, dir) =>
      Curation.retrievalNdcgEval(t(s, dir, "documents"),
        terms = Seq("spark", "vector", "quantile"), k = 10)),
    // the canonical Gopher document-shape filter (word count, mean word
    // length, alpha-word share, stopword presence) as per-rule integer
    // flags + the conjunction — one map-side pass, no float ratios
    "quality_gopher_rules" -> ((s, dir) =>
      Curation.gopherQualityRules(t(s, dir, "documents"))),
    // per-source verbatim-chunk boilerplate scrub (C4 template screen):
    // chunk df per source, drop everywhere when df clears both cuts
    "boilerplate_chunk_scrub" -> ((s, dir) =>
      Curation.boilerplateChunkScrub(t(s, dir, "documents"))),
    // Flesch reading ease + FK grade in exact milli-points; syllables =
    // vowel-group runs floored at 1, sentences = ceil-div 15-token
    // segments (no terminator punctuation in the fixture corpus)
    "text_readability" -> ((s, dir) =>
      Curation.readabilityScores(t(s, dir, "documents"))),
    // per-source lexical diversity: types/tokens/hapax, TTR + hapax ppm
    "text_lexical_diversity" -> ((s, dir) =>
      Curation.lexicalDiversity(t(s, dir, "documents"))),
    // Brier decomposition bins: 9-level stopword-count predictor of
    // lang='en', reliability/resolution terms in exact milli^2
    "quality_brier_decomposition" -> ((s, dir) =>
      Curation.brierDecomposition(t(s, dir, "documents"))),
    // Cohen's kappa between the stopword rater and the mean-token-length
    // rater: po/pe/kappa in exact ppm
    "quality_rater_kappa" -> ((s, dir) =>
      Curation.raterKappa(t(s, dir, "documents"))),
    // code-switching runs: per-chunk stopword langid, then maximal
    // same-prediction segments via gaps-and-islands (doc-keyed windows)
    "text_lang_segments" -> ((s, dir) =>
      Curation.langSegments(t(s, dir, "documents"))),
    // RefinedWeb/C4-style per-source document cap: longest-first priority,
    // rank cut on the bounded-heap TopKPerKey + parameter-sized running
    // token budget — one row per SURVIVING doc so every keep/drop decision
    // is hash-checked
    "source_domain_cap" -> ((s, dir) =>
      Curation.sourceDomainCap(t(s, dir, "documents"))),
    // BM25 answered from the deployed text index (postings + doclens +
    // meta stats) — zero corpus reads at query time; same oracle
    "bm25_probe" -> ((s, dir) => {
      val idx = Similarity.defaultIndexDir(dir) + "/textidx"
      Curation.textIndexBuildIfStale(t(s, dir, "documents"), idx)
      Curation.bm25Probe(s, idx,
        terms = Seq("spark", "quantile", "vector"), k = 20)
    }),
    // DSIR-style importance ranking of raw docs against the English slice
    // as the target distribution (fixed-point ratio of smoothed tf sums)
    "dsir_importance_topk" -> ((s, dir) =>
      Curation.importanceRatioTopK(t(s, dir, "documents"),
        targetPred = col("lang") === "en", k = 100)),
    // the actual DSIR selection step: keep raw docs with probability
    // ∝ importance ratio via a deterministic md5 coin — reproducible
    // across engines/partitionings, every accept/reject SQL-replayable
    "dsir_importance_resample" -> ((s, dir) =>
      Curation.importanceResample(t(s, dir, "documents"),
        targetPred = col("lang") === "en")),
    // stupid-backoff bigram LM fluency score (the CCNet perplexity-filter
    // shape), trained on the English slice, integer fixed-point
    "text_bigram_lm_score" -> ((s, dir) =>
      Curation.bigramLmScore(t(s, dir, "documents"),
        trainPred = col("lang") === "en")),
    // CCNet head/middle/tail partition by LM-score tertiles: the
    // keep/review/drop decision a perplexity-filtered corpus build makes
    "quality_perplexity_buckets" -> ((s, dir) =>
      Curation.perplexityBuckets(t(s, dir, "documents"),
        trainPred = col("lang") === "en")),
    // rule-stack quality voting (length band + LM fluency + repetition):
    // keep / review / drop per document
    "quality_ensemble_verdict" -> ((s, dir) =>
      Curation.qualityEnsemble(t(s, dir, "documents"),
        trainPred = col("lang") === "en")),
    // explicit TeraSort/range-partitioner audit: 7 exact quantile
    // boundaries over the event values, per-range row counts
    "range_partition_balance" -> ((s, dir) =>
      graft.engine.Layout.rangePartitionBalance(
        t(s, dir, "events"), "value", k = 8)),
    // temperature-based source mixing (quota ∝ sqrt(source size), filled by
    // smallest doc_id — the multi-corpus rebalancing sampler)
    "source_mix_sample" -> ((s, dir) =>
      Curation.sourceMixSample(t(s, dir, "documents"), targetTotal = 200)),
    // weight-proportional sampling without replacement (priority sampling,
    // weight = n_chars): md5-coin priorities, bounded global top-k
    "weighted_sample_priority" -> ((s, dir) =>
      Curation.prioritySample(t(s, dir, "documents"))),
    // cross-source duplicate-overlap matrix: shared distinct fingerprints
    // per source pair — the mirror-site / re-crawl detector
    "source_overlap_matrix" -> ((s, dir) =>
      Curation.sourceOverlapMatrix(t(s, dir, "documents"))),
    // quantile-band quality filter: trim both length tails at corpus p25/p75
    "quality_filter_docs" -> ((s, dir) =>
      Curation.lengthBandFilter(t(s, dir, "documents"))),
    // fastText-shape model-based quality filter: hashed bag-of-n-gram
    // linear scorer, map-only (zero shuffles) — deterministic hash-derived
    // weights stand in for the trained vector
    "quality_lr_score" -> ((s, dir) =>
      Curation.linearQualityScore(t(s, dir, "documents"))),
    // deterministic training-order shuffle: hash-sharded with per-shard
    // positions (no global window — the distributed shuffle-shard shape)
    // deterministic hash-stable train/val/test split (80/10/10): the
    // assignment depends only on the id's md5, so it is stable across
    // corpus versions, partitionings and engines — the property a
    // reproducible-training pipeline needs. Map-only.
    "corpus_split" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10) AS BIGINT) % 100")
          .cast("int").as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))),
    // GROUP-aware split (GroupKFold shape): every doc of a source lands in
    // the same split, because near-duplicates concentrate within a source
    // and a doc-level split leaks them across train/test. Hash on the
    // GROUP key only — map-only, stable across corpus versions like
    // corpus_split.
    "corpus_split_by_group" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("source"),
        expr("CAST(conv(substring(md5(concat('grp-', source)), 1, 6), 16, 10) AS BIGINT) % 10")
          .as("gb"))
        .withColumn("split",
          when(col("gb") < 8, "train")
            .when(col("gb") < 9, "val").otherwise("test"))
        .select(col("doc_id"), col("source"), col("split"))),
    // ranking-quality eval of a document score against binary labels:
    // tie-aware AUC in exact integer ppm (the commissioning check before
    // a quality filter is trusted to rank a corpus)
    "quality_auc_eval" -> ((s, dir) =>
      Curation.aucEval(t(s, dir, "documents"),
        col("n_chars"), col("lang") === "en")),
    // DPO/contrastive preference-pair mining: per source, the k best docs
    // paired rank-for-rank with the k worst (both cuts on the bounded-heap
    // TopKPerKey), strict positive score gap required
    "preference_pairs_topk" -> ((s, dir) =>
      Curation.preferencePairs(t(s, dir, "documents"), col("n_chars"), k = 5)),
    // EXACT-proportional stratified split: within every (lang, source)
    // stratum, docs rank by an md5 key and the first 80%/next 10% go to
    // train/val — small strata keep their proportions exactly, which the
    // plain hash split only holds in expectation. Per-stratum window,
    // bounded by the stratum, plus a broadcast of stratum sizes.
    "corpus_split_exact_strata" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          md5(concat(lit("strat-"), col("doc_id").cast("string"))
            .cast("binary")).as("skey"))
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("skey"), col("doc_id"))
      val sz = d.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_stratum"))
      d.withColumn("rk", row_number().over(w))
        .join(broadcast(sz), Seq("lang", "source"))
        .select(col("doc_id"), col("lang"), col("source"),
          when(col("rk") * 10 <= col("n_stratum") * 8, "train")
            .when(col("rk") * 10 <= col("n_stratum") * 9, "val")
            .otherwise("test").as("split"))
    }),
    "corpus_shuffle" -> ((s, dir) =>
      Curation.shuffleShards(t(s, dir, "documents"), seed = "seed42")),
    // curriculum data ordering: global easy→hard train_order (length
    // octile bands, md5-shuffled within band) via the distributed
    // two-phase rank — no single-partition global window
    "curriculum_train_order" -> ((s, dir) =>
      Curation.curriculumOrder(t(s, dir, "documents"))),
    // snapshot change report between two corpus versions, synthesized
    // deterministically from the fixture: old drops ids ≡9 (mod 10)
    // ("added" in new), new drops ≡4 ("removed") and rewrites ≡2
    // ("changed"); the diff joins 32-char fingerprints, never texts
    "corpus_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.snapshotDiff(
        oldDocs = docs.filter(col("doc_id") % 10 =!= 9),
        newDocs = docs.filter(col("doc_id") % 10 =!= 4)
          .withColumn("text",
            when(col("doc_id") % 10 === 2, concat(col("text"), lit(" v2")))
              .otherwise(col("text"))))
    }),
    // Gopher repetition filter signals: per-doc top-bigram occurrences and
    // duplicated-trigram mass as exact integer numerators/denominators
    "text_repetition_stats" -> ((s, dir) =>
      Curation.repetitionStats(t(s, dir, "documents"))),
    // BPE tokenizer training (first 4 merges): vocabulary-sized
    // iterations, corpus contributes one counting pass; the merge table
    // is the trained artifact
    "bpe_merges" -> ((s, dir) =>
      Curation.bpeMerges(t(s, dir, "documents"))),
    // BPE apply: train the 4-step merge table (parameter-sized driver
    // collect — the trained artifact), then encode the corpus map-only
    "bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Curation.bpeMerges(docs).orderBy("step")
        .collect().map(_.getString(1)).toSeq
      Curation.bpeEncode(docs, pairs)
    }),
    // tokenizer quality eval: per-source fertility (BPE symbols per
    // whitespace word) and compression (chars per symbol) of the trained
    // merges — the numbers that tell you whether the tokenizer fits the
    // corpus mix before an LM run is budgeted (integer basis points)
    "bpe_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Curation.bpeMerges(docs).orderBy("step")
        .collect().map(_.getString(1)).toSeq
      Curation.bpeEncode(docs, pairs)
        .join(docs.select(col("doc_id"), col("source"), col("n_chars")), "doc_id")
        .groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_bpe_symbols")).as("n_symbols"),
          sum(col("n_chars")).as("n_chars"))
        .select(col("source"), col("n_tokens"), col("n_symbols"),
          expr("(n_symbols * 10000L) div n_tokens").as("fertility_bp"),
          expr("(n_chars * 10000L) div n_symbols").as("chars_per_symbol_bp"))
    }),
    // ---- data observability ----
    // per-column profile (rows / nulls / exact distinct), long format
    "table_profile_docs" -> ((s, dir) =>
      DataQuality.tableProfile(t(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
    // the sketch-cheap profile variant as its own oracle-checked key:
    // same expand plan shape with approx_count_distinct riding along;
    // the checked contract is the 10% error band each engine's OWN HLL
    // must satisfy (the cms_error_eval pattern — sketch values differ
    // across engines by construction)
    "table_profile_approx_eval" -> ((s, dir) =>
      DataQuality.profileApproxEval(t(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
    // expectations-suite validation: per-rule violation counts
    "quality_assertions_docs" -> ((s, dir) =>
      DataQuality.qualityAssertions(t(s, dir, "documents"))),
    // token-share drift between corpus slices (even vs odd doc_id) with
    // DECIMAL-exact cross-multiplied ratio flags at 6/5
    "vocab_drift" -> ((s, dir) =>
      DataQuality.vocabDrift(t(s, dir, "documents"))),
    // per-document n-gram novelty: share of a doc's distinct trigrams
    // whose corpus-wide first occurrence is this doc — the marginal-new-
    // content / dedup-ROI curve; one gram-keyed + one doc-keyed aggregate
    "ngram_novelty_rate" -> ((s, dir) =>
      DataQuality.ngramNoveltyRate(t(s, dir, "documents"))),
    // robust per-source length stats: exact median + MAD + outlier count
    // (|x - med| > 5*MAD) — the mean/stddev monitor's corruption-proof twin
    "source_robust_stats" -> ((s, dir) =>
      DataQuality.robustLengthStats(t(s, dir, "documents"))),
    // token-weighted median doc length per source (what a typical TOKEN's
    // document looks like): group-windowed cumulative weights, no global sort
    "source_weighted_median" -> ((s, dir) =>
      DataQuality.weightedMedianLength(t(s, dir, "documents"))),
    // PSI-shaped numeric drift: per 0.1-wide value bin, old/new counts and
    // exact basis-point shares + delta (even/odd event ids as versions)
    "value_drift_bins" -> ((s, dir) =>
      DataQuality.valueDriftBins(t(s, dir, "events"))),
    // Kendall tau-b agreement between two banded quality signals per
    // source (16x16 contingency grid, signed tau^2 in exact ppm): the
    // proxy-signal screen run before filtering on the cheap signal
    "rank_corr_kendall" -> ((s, dir) =>
      DataQuality.kendallGridCorr(t(s, dir, "documents"))),
    // calibration/reliability table of a probability-like score (stopword
    // share) vs the lang='en' label: per-bin stated confidence vs
    // empirical positive rate, all exact bp
    "quality_calibration_bins" -> ((s, dir) =>
      DataQuality.calibrationBins(t(s, dir, "documents"))),
    // GDPR delete cascade: rows per table that must go when customers
    // c_custkey % 10 = 7 are erased (child-ward FK closure counts)
    "delete_cascade_counts" -> ((s, dir) =>
      graft.engine.Compliance.deleteCascadeCounts(
        n => t(s, dir, n), "customer", col("c_custkey") % 10 === 7,
        Map("orders" -> Seq("o_orderkey"),
          "lineitem" -> Seq("l_orderkey", "l_linenumber")),
        Seq(("orders", "o_custkey", "customer", "c_custkey"),
          ("lineitem", "l_orderkey", "orders", "o_orderkey")))),
    // corpus-level vocabulary-shape monitor: token total, vocab size,
    // hapax count (df=1), top-term share — the Zipf-fit health numbers a
    // broken tokenizer or a template-flooded crawl shifts immediately.
    // One token-keyed aggregate; the summary is a single row.
    "corpus_zipf_stats" -> ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("tk"))
        .groupBy(col("tk")).agg(count(lit(1)).as("n"))
      tf.agg(
        sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"),
        max(col("n")).as("top_tf"))
    }),
    // hour-of-day x day-of-week activity heatmap over events: pure
    // integer epoch arithmetic (epoch day 0 = Thursday → dow offset 4),
    // one calendar-sized aggregate
    "events_time_heatmap" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(
          expr("((ts div 86400000000000) + 4) % 7").as("dow"),
          expr("(ts div 3600000000000) % 24").as("hod"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("total"))),
    // mergeable histogram-sketch quantiles over event values: one-pass
    // bounded-state p50/p90/p99 at 0.1 resolution, integer-exact ranks
    "value_quantile_sketch" -> ((s, dir) =>
      Sketches.histogramQuantiles(t(s, dir, "events"))),
    // the per-document curation decision table: exact-dup / near-dup /
    // length-outlier / contamination flags from the composed operators
    "curation_audit" -> ((s, dir) =>
      Curation.curationAudit(t(s, dir, "documents"))),
    // sequential pipeline funnel: decontaminate → quality-band the
    // SURVIVORS (band recomputed on the decontaminated distribution) →
    // exact-dedup the survivors of that; per-stage doc/char counts
    "curation_funnel" -> ((s, dir) =>
      Curation.curationFunnel(t(s, dir, "documents"), Seq("scan", "quantile"))),
    // provider-level verdict rollup of the audit: per-source dup /
    // outlier / contamination counts
    "source_curation_report" -> ((s, dir) =>
      Curation.sourceCurationReport(t(s, dir, "documents"))),
    // the full five-stage corpus build run as ONE chained job — exact
    // dedup → IQR quality gate → decontaminate → tempered source mix →
    // next-fit pack — emitting the packed training manifest; the single
    // oracle replays every stage, so this key verifies the INTERACTION
    // of the stages (each already green alone), not just each in isolation
    "corpus_build_e2e" -> ((s, dir) =>
      Curation.corpusBuildE2E(t(s, dir, "documents"),
        Seq("scan", "quantile"))),
    // skip-gram co-occurrence counts (word2vec data prep): (center,
    // context) pairs within a ±2 window, top-25 — one explode pass
    // shuffling on the pair, no self-join
    // Gini-Simpson lexical diversity per document in integer basis points:
    // 10000·(T² − Σc²)/T² — the probability two random tokens differ; a
    // spam page repeating one phrase scores near 0. No float, no log.
    "text_diversity_simpson" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tk"))
        .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("t_tokens"),
          sum(expr("c * c")).as("sum_sq"))
        .select(col("doc_id"), col("t_tokens"),
          expr("(10000 * (t_tokens * t_tokens - sum_sq)) div " +
            "(t_tokens * t_tokens)").as("simpson_bp"))),
    // per-user activity distribution in power-of-two bands (the
    // whale/lurker shape of the user base; bit-length banding like
    // token_graph_degrees)
    "events_user_activity_bands" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .groupBy(expr("CAST(length(bin(n)) - 1 AS INT)").as("band"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n")).as("n_events"))),
    // Gini concentration of token mass across sources — the
    // data-mixture inequality number (0 bp = perfectly even, 10000 =
    // one source owns everything): mean absolute difference over the
    // |sources|-row mass relation, integer cross-multiplied
    "source_token_gini" -> ((s, dir) => {
      val m = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(size(tokens(col("text"))).cast("long")).as("x"))
      val pairs = m.toDF("sa", "xa").crossJoin(broadcast(m.toDF("sb", "xb")))
        .agg(sum(abs(col("xa") - col("xb"))).as("sad"))
      m.agg(count(lit(1)).as("k"), sum(col("x")).as("tot"))
        .crossJoin(broadcast(pairs))
        .select(col("k"), col("tot"),
          expr("(10000 * sad) div (2 * k * tot)").as("gini_bp"))
    }),
    // week-over-week growth per event type in SIGNED basis points
    // (Spark div and DuckDB // both truncate toward zero — measured —
    // so the signed division is cross-engine safe); weeks are epoch-ns
    // seven-day buckets, the lag window is per-type and week-bounded
    "events_wow_growth" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wk = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("ts div 604800000000000").as("week"))
        .agg(count(lit(1)).as("c"))
      wk.withColumn("prev", lag(col("c"), 1).over(
          Window.partitionBy(col("event_type")).orderBy(col("week"))))
        .filter(col("prev").isNotNull)
        .select(col("event_type"), col("week"), col("c"), col("prev"),
          expr("(10000 * (c - prev)) div prev").as("growth_bp"))
    }),
    // SRE error-budget monitor: the 10 worst hours by error share
    // (integer bp), ties to the earliest hour — one hour-bucketed
    // aggregate, a k-bounded TakeOrdered
    "events_error_rate_hours" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(expr("ts div 3600000000000").as("hour_bucket"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_errors"))
        .select(col("hour_bucket"), col("n_total"), col("n_errors"),
          expr("(10000 * n_errors) div n_total").as("error_bp"))
        .orderBy(col("error_bp").desc, col("hour_bucket"))
        .limit(10)),
    // day-of-week seasonality per event type: the chi-square statistic
    // against a uniform week, integer cross-multiplied — score =
    // (10000 · Σ(7·O_d − T)²) div (7 · T · 7) stays exact (uniform E =
    // T/7 never materializes as a float); large = strongly weekly
    "events_dow_seasonality" -> ((s, dir) => {
      val o = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("(ts div 86400000000000) % 7").as("dow"))
        .agg(count(lit(1)).as("o"))
      val tot = o.groupBy(col("event_type")).agg(sum(col("o")).as("total"))
      o.join(broadcast(tot), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(first(col("total")).as("total"),
          count(lit(1)).as("nb"),
          sum(expr("(7 * o - total) * (7 * o - total)")).as("xp"))
        // day bins with zero events still contribute (0·7 − T)² = T²
        .select(col("event_type"), col("total"),
          expr("(10000 * (xp + (7 - nb) * total * total)) div (49 * total)")
            .as("chi2_fp"))
    }),
    // burstiness of the event stream per type: Fano factor (variance /
    // mean of HOURLY counts) in integer basis points from exact moments —
    // >10000 bp = bursty, <10000 = regular. Hour buckets from epoch-ns.
    "events_burstiness" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("ts div 3600000000000").as("hr"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"), sum(col("c")).as("n_events"),
          sum(expr("c * c")).as("sum_sq"))
        // fano_bp = 10000 * (n*Σc² − (Σc)²) / (n · Σc): exact integers,
        // cross-multiplied so no mean ever materializes as a float
        .select(col("event_type"), col("n_hours"), col("n_events"),
          expr("(10000 * (n_hours * sum_sq - n_events * n_events)) div " +
            "(n_hours * n_events)").as("fano_bp"))),
    // degree distribution of the token co-occurrence graph: how many
    // vertices hold each power-of-two degree band — the scale-free-shape
    // health check before trusting graph-based curation
    "token_graph_degrees" -> ((s, dir) => {
      val e = tokenEdges(s, dir)
      e.select(explode(array(col("id_a"), col("id_b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        // power-of-two band as an INTEGER bit length (floor(log2) via a
        // float log is ulp-fragile at exact powers in cross-engine hashes)
        .groupBy(expr("CAST(length(bin(deg)) - 1 AS INT)").as("band"))
        .agg(count(lit(1)).as("n_vertices"),
          min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
    }),
    // RAKE keyphrase extraction: stopword-free token runs scored by
    // summed word deg/freq in integer fixed point, corpus top-20
    "keyphrases_rake_topk" -> ((s, dir) =>
      Curation.rakeKeyphrases(t(s, dir, "documents"))),
    // word2vec-style negative sampling: per (doc, slot) one token drawn
    // ∝ count^(3/4) via a deterministic md5 coin and a distributed
    // inverse-CDF interval join — the noise-contrastive data prep step
    "negative_samples_unigram" -> ((s, dir) =>
      Curation.negativeSamples(t(s, dir, "documents"))),
    // intra-doc repetition screens (Gopher Table A1): duplicate-token
    // share + top-bigram token coverage in exact ppm
    "text_repetition_score" -> ((s, dir) =>
      Curation.repetitionScore(t(s, dir, "documents"))),
    // collocation mining: exact lift_ppm = n_ab*N*1e6/(n_a*n_b) — the
    // integer image of PMI (log-free, hash-stable), support floor 5
    "token_collocation_lift" -> ((s, dir) =>
      Curation.collocationLift(t(s, dir, "documents"))),
    "cooccurrence_topk" -> ((s, dir) =>
      t(s, dir, "documents")
        .repartition(col("doc_id"))
        .select(tokens(col("text")).as("w"))
        .select(explode(expr(
          "flatten(transform(sequence(1, size(w)), i -> " +
            "filter(transform(sequence(1, 2), d -> " +
            "IF(i + d <= size(w), struct(w[i-1] AS center, w[i+d-1] AS context), NULL)), " +
            "x -> x IS NOT NULL)))")).as("p"))
        .groupBy(col("p.center").as("center"), col("p.context").as("context"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("center").asc, col("context").asc)
        .limit(25)),
    // corpus-level vocabulary: the LM-data "what's in this corpus" sweep —
    // explode shuffles on token, partial map-side counts keep it narrow
    "text_vocab_topk" -> ((s, dir) =>
      t(s, dir, "documents")
        .repartition(col("doc_id"))
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(25)),
    // corpus-level word-trigram frequencies (n-gram LM statistics)
    "text_trigram_topk" -> ((s, dir) =>
      t(s, dir, "documents")
        .repartition(col("doc_id"))
        // bind the token array before the shingle lambda — inlining split()
        // into every element_at reference re-splits the text ~3x per shingle
        .select(tokens(col("text")).as("w"))
        .select(explode(wordShingles(col("w"), 3)).as("trigram"))
        .groupBy(col("trigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("trigram").asc)
        .limit(25)),
    // training-sequence packing: greedy running-token-count pack assignment,
    // sharded by source so the window parallelizes (each shard packs
    // independently — the distributed form of sequence packing)
    "doc_pack_by_source" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          tokenCount(col("text")).as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("source")).orderBy(col("doc_id"))
            .rowsBetween(Long.MinValue, 0)))
        .select(col("doc_id"), col("source"),
          floor(col("cum") / 2048.0).cast("long").as("pack_id"))),
    // the no-spanning complement: greedy next-fit packing where documents
    // never cross bins (whole-docs-plus-padding examples) — a sequential
    // per-source fold via mapPartitions, the one honest use of it
    "doc_pack_nextfit" -> ((s, dir) =>
      Curation.docPackNextFit(t(s, dir, "documents"))),
    // feature hashing / the hashing trick: vocabulary-free signed token
    // features per (source, bucket) with the collision diagnostic —
    // one explode + one groupBy, output sources x 32 regardless of scale
    "text_feature_hashing" -> ((s, dir) =>
      Curation.featureHashing(t(s, dir, "documents"))),
    // T5 span-corruption mask layout: deterministic (doc, span, start)
    // positions at noise_density 0.15 / mean span 3, one md5-offset span
    // per equal token segment — map-only, the layout a pretraining
    // pipeline ships to tokenizer workers
    "span_corruption_masks" -> ((s, dir) =>
      Curation.spanCorruptionMasks(t(s, dir, "documents"))),
    // decontamination scan: which benchmark strings occur in the corpus,
    // via a broadcast pattern list + substring containment join
    "contamination_scan" -> ((s, dir) => {
      import s.implicits._
      val pats = Seq("scan", "window", "quantile", "zzz_never_present")
        .toDF("pattern")
      t(s, dir, "documents")
        .crossJoin(broadcast(pats))
        .filter(instr(col("text"), col("pattern")) > 0)
        .groupBy(col("pattern"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
    }),
    // n-gram-overlap decontamination at eval-suite scale: docs with
    // doc_id % 50 = 0 play the benchmark; a distributed BloomFilterAggregate
    // over the benchmark word-4-grams prefilters the exploded corpus grams
    // map-side (codegen'd might_contain), then an exact semi-join confirms —
    // bloom-accelerated but exact, so the oracle is a plain equality join
    "contamination_bloom_ngram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.bloomNgramScan(
        corpus = docs.filter(col("doc_id") % 50 =!= 0),
        benchmark = docs.filter(col("doc_id") % 50 === 0),
        n = 4)
    }),
    // deterministic stratified sampling: keep 1-in-2 English docs, 1-in-5
    // of every other language — the class-rebalancing sampler
    "stratified_sample_docs" -> ((s, dir) =>
      graft.engine.Ops.stratifiedSample(
        t(s, dir, "documents"), stratumCol = "lang", keyCol = "doc_id",
        dens = Map("en" -> 2), defaultDen = 5)),
    // document-length histogram in 100-char buckets
    "text_length_histogram" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy((floor(col("n_chars") / 100) * 100).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))),

    // exact distinct via the custom TypedImperativeAggregate bitmap: one
    // pass, fixed-size OR-mergeable buffers — no distinct-value shuffle
    "exact_distinct_bitmap" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        expr("bitmap_distinct(l_partkey, CAST(2097151 AS BIGINT))").as("n_parts"),
        count(lit(1)).as("n_rows"))
    }),

    // tokenizer ENCODE: id-encode the first 30 tokens of every document
    // against a deterministic top-1000 vocab (rank by count desc, token
    // asc; 0 = OOV) — the LM-pipeline step between raw text and token-id
    // sequences, in long (doc_id, pos, token_id) form. The vocab build is
    // TakeOrdered (scalable top-k, no global sort); the rank window runs
    // over the already-limited 1000 rows, and the encode join broadcasts
    // the vocab — the corpus side stays map-only after its one explode.
    "text_vocab_encode" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .repartition(col("doc_id"))
        .select(col("doc_id"),
          posexplode(tokens(col("text"))).as(Seq("pos", "tk")))
        .filter(col("pos") < 30)
      val top = toks.groupBy(col("tk")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tk").asc).limit(1000)
      val vocab = top.withColumn("token_id",
          row_number().over(Window.orderBy(col("n").desc, col("tk").asc)))
        .select(col("tk"), col("token_id"))
      toks.join(broadcast(vocab), Seq("tk"), "left")
        .select(col("doc_id"), col("pos"),
          coalesce(col("token_id"), lit(0)).as("token_id"))
    }),

    // ---- privacy QA / de-identification (the reference product's
    // domain: measure re-identification risk, then mask without breaking
    // referential integrity) ----
    "privacy_kanon_customer" -> ((s, dir) =>
      Privacy.kAnonymityReport(t(s, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band")))),
    "privacy_generalization_ladder" -> ((s, dir) =>
      Privacy.generalizationLadder(t(s, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment")),
        floor(col("c_acctbal") / 1000).cast("long"),
        floor(col("c_acctbal") / 5000).cast("long"))),
    "privacy_ldiversity_orders" -> ((s, dir) =>
      Privacy.lDiversityReport(t(s, dir, "orders"),
        Seq(col("o_orderpriority"), year(col("o_orderdate")).as("yr")),
        col("o_orderstatus"))),
    "privacy_pseudonymize_customer" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        Privacy.pseudonym(col("c_custkey"), "pepper1", "Customer#")
          .as("pseud_name"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))),
    // t-closeness per market segment over the account-balance bands:
    // ordered-EMD between each segment's balance distribution and the
    // global one, exact basis points — the attribute-disclosure gap
    // l-diversity misses; bands from exact cents arithmetic (no float
    // boundary), every window 10 rows per segment
    "privacy_tcloseness_customer" -> ((s, dir) =>
      Privacy.tClosenessReport(
        t(s, dir, "customer"), col("c_mktsegment"),
        expr("CAST(least(greatest((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) " +
          "+ 100000) div 110000, 0L), 9L) AS INT)"),
        nBins = 10)),

    // ---- incremental maintenance / pre-join diagnostics ----
    // Bloom runtime prefilter + exact semi-join: lineitems of urgent
    // orders — the selective-dim fact-join pattern; result == plain
    // semi-join (Bloom false positives die in the join), the filter
    // kills ~4/5 of the fact scan map-side before any shuffle
    "bloom_semi_join" -> ((s, dir) =>
      graft.engine.Ops.bloomPrefilterSemiJoin(
        t(s, dir, "lineitem"),
        t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        "l_orderkey", "o_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),
    // sqrt-tempered token-budget mixture plan (the Pile/DoReMi table):
    // natural vs target shares and epoch factors per source
    "source_mixture_plan" -> ((s, dir) =>
      Curation.sourceMixturePlan(t(s, dir, "documents"))),
    // near-dup leakage ACROSS train/val/test splits: simhash radius-3
    // pairs whose endpoints land in different hash-assigned splits — the
    // eval-integrity check exact dedup-within-split cannot see
    "split_leakage_simhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.simhashNearDupPairs(docs, 3)
      val splits = docs.select(col("doc_id"),
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10) AS BIGINT) % 100")
          .as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))
        .select(col("doc_id"), col("split"))
      pairs
        .join(splits.select(col("doc_id").as("id_a"), col("split").as("sa")), Seq("id_a"))
        .join(splits.select(col("doc_id").as("id_b"), col("split").as("sb")), Seq("id_b"))
        .filter(col("sa") =!= col("sb"))
        .select(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_leaked_pairs"))
    }),
    // CDC MERGE: apply an I/U/D change batch (full-row images, last-wins
    // by seq) to a keyed snapshot — upserts exercise replacement (status
    // image 'X'), a later delete batch supersedes same-key upserts
    "cdc_merge_apply" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val snapshot = orders.filter(col("o_orderkey") % 4 =!= 0)
      val upserts = orders.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("X"))
        .withColumn("seq", lit(1L))
        .withColumn("op",
          when(col("o_orderkey") % 4 === 0, lit("I")).otherwise(lit("U")))
      val deletes = orders.filter(col("o_orderkey") % 20 === 0)
        .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
      graft.engine.Cdc.mergeApply(
        snapshot, upserts.unionByName(deletes), "o_orderkey")
    }),
    // SCD Type-2 history BUILD from the same change-stream shape the
    // merge key applies: every I/U opens a version, the next change on
    // the key (incl. the closing delete) ends it; one key-partitioned
    // lead window, no join
    "cdc_scd2_history" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val v1 = orders.withColumn("seq", lit(1L)).withColumn("op", lit("I"))
      val v2 = orders.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("X"))
        .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
      val v3 = orders.filter(col("o_orderkey") % 20 === 0)
        .withColumn("seq", lit(3L)).withColumn("op", lit("D"))
      graft.engine.Cdc.scd2Build(
        v1.unionByName(v2).unionByName(v3), "o_orderkey")
    }),
    // token-bucket rate limiting replayed over the real event log (the
    // quota simulation): per-user sequential fold via mapPartitions (the
    // docPackNextFit class), capacity 3, one token per hour
    "events_rate_limited" -> ((s, dir) =>
      EventsAnalytics.rateLimitAdmission(t(s, dir, "events"))),
    // join-key skew diagnostics: top keys by estimated join output
    // contribution (n_left × n_right) for the events⋈orders customer join
    // — what a pipeline consults before choosing salting/broadcast
    "join_skew_report" -> ((s, dir) =>
      DataQuality.joinSkewReport(
        t(s, dir, "events"), t(s, dir, "orders"), "user_id", "o_custkey")),
    // market-basket pair mining: parts bought together in one order, top
    // 25 by support with integer-basis-point lift (the co-purchase signal
    // behind "frequently bought together"). One shuffle builds each order's
    // part list, and the sorted_pairs generator pairs it (fan-out bounded
    // by basket size squared; it skips repeated and null parts, so its
    // rows are the oracle's basket self-join's). Part frequency counts the
    // distinct (order, part) lines in one codegen aggregate: exploding the
    // lists instead would merge them a second time for that consumer,
    // which costs no less (A/B in STATUS) and is a repeated heavy fragment.
    // Pair counts shuffle on the pair; the part-frequency side broadcasts.
    "basket_pairs_topk" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val baskets = li.groupBy(col("l_orderkey"))
        .agg(collect_list(col("l_partkey")).as("ids"))
      val pairs = baskets
        .select(explode(expr("sorted_pairs(ids)")).as("p"))
        .select(col("p.id_a").as("part_a"), col("p.id_b").as("part_b"))
        .groupBy(col("part_a"), col("part_b")).agg(count(lit(1)).as("n_ab"))
      val freq = li.select(col("l_orderkey"), col("l_partkey").as("pk")).distinct()
        .groupBy(col("pk")).agg(count(lit(1)).as("n_one"))
      // planned as a distinct over l_orderkey alone
      val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
      pairs
        .join(broadcast(freq.toDF("part_a", "n_a")), "part_a")
        .join(broadcast(freq.toDF("part_b", "n_b")), "part_b")
        .crossJoin(broadcast(nOrders))
        .select(col("part_a"), col("part_b"), col("n_ab"),
          expr("(n_ab * n_orders * 10000) div (n_a * n_b)").as("lift_bp"))
        .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
        .limit(25)
    }),
    // A/B experiment readout: users hash-split into arms by md5 (the
    // deterministic assignment every experiment platform uses), per-type
    // counts/value sums per arm and the signed relative lift of arm A
    // over arm B in basis points — integer cross-multiplied, no float
    // means
    "events_abtest_readout" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("arm", expr(
          "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) " +
            "AS BIGINT) % 2"))
        .withColumn("v", expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === 0, col("v")).otherwise(0L)).as("sum_cents_a"),
          sum(when(col("arm") === 1, col("v")).otherwise(0L)).as("sum_cents_b"))
        .withColumn("lift_bp", expr(
          // DECIMAL(38,0) products: cents-sum × count × 10^4 overflows
          // BIGINT at full corpus scale (oracle side is HUGEINT)
          "((CAST(sum_cents_a AS DECIMAL(38,0)) * n_b - " +
            "CAST(sum_cents_b AS DECIMAL(38,0)) * n_a) * 10000) div " +
            "(CAST(sum_cents_b AS DECIMAL(38,0)) * n_a)"))),
    // data-driven FK discovery: inclusion-dependency scan over candidate
    // edges (the 7 fixture FKs, which must report full containment, plus
    // two deliberate negatives) — the audit that validates a subset
    // config's fk_augmentation before a run
    "fk_discovery_scan" -> ((s, dir) => {
      def d(n: String) = t(s, dir, n)
      graft.engine.FkDiscovery.inclusionReport(Seq(
        ("orders", d("orders"), "o_custkey",
          "customer", d("customer"), "c_custkey"),
        ("lineitem", d("lineitem"), "l_orderkey",
          "orders", d("orders"), "o_orderkey"),
        ("lineitem", d("lineitem"), "l_partkey",
          "part", d("part"), "p_partkey"),
        ("lineitem", d("lineitem"), "l_suppkey",
          "supplier", d("supplier"), "s_suppkey"),
        ("customer", d("customer"), "c_nationkey",
          "nation", d("nation"), "n_nationkey"),
        ("supplier", d("supplier"), "s_nationkey",
          "nation", d("nation"), "n_nationkey"),
        ("nation", d("nation"), "n_regionkey",
          "region", d("region"), "r_regionkey"),
        ("orders", d("orders"), "o_orderkey",
          "part", d("part"), "p_partkey"),
        ("events", d("events"), "event_id",
          "orders", d("orders"), "o_orderkey")))
    }),
    // open-backlog time series via the interval-endpoint sweep: each line
    // contributes +1 at its order date and −1 at its ship date; the daily
    // prefix sum IS the as-of open count. The corpus-sized work is the
    // co-partitioned join + the per-day delta aggregate (map-side
    // combined); the prefix scan runs on the |days|-row relation — the
    // inventory/backlog-as-of operator every ops dashboard needs
    "orders_open_backlog_daily" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      val iv = l.join(o, col("l_orderkey") === col("o_orderkey"))
      val deltas = iv
        .select(col("o_orderdate").cast("date").as("day"), lit(1L).as("dd"))
        .unionByName(iv.select(col("l_shipdate").cast("date").as("day"),
          lit(-1L).as("dd")))
        .groupBy(col("day")).agg(sum(col("dd")).as("delta"))
      deltas
        .withColumn("open_lines", sum(col("delta")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("day"))
            .rowsBetween(Long.MinValue, 0)))
        .select(col("day").cast("string").as("day"), col("delta"),
          col("open_lines"))
    }),
    // fulfillment-latency profile per supplier: ship date minus order
    // date in integer days, exact median/p75/max — lineitem and orders
    // co-partition on the order key, stats group on the supplier
    "supplier_lead_time" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_shipdate"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("d"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          expr("percentile(d, 0.5)").as("med_days"),
          expr("percentile(d, 0.75)").as("p75_days"),
          max(col("d")).as("max_days"))
    }),
    // cohort lifetime value: first-order-month cohorts x months-since,
    // exact-cent revenue and its running total — the LTV curve next to
    // the repeat-rate rollup; windows are cohort-keyed over a
    // months-bounded series, never customer- or order-sized
    "orders_cohort_ltv" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders").select(col("o_custkey"),
        expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
      val first = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort_m"))
      val sizes = first.groupBy(col("cohort_m"))
        .agg(count(lit(1)).as("n_customers"))
      val rev = o.join(first, Seq("o_custkey"))
        .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("months_since"))
        .agg(expr("CAST(sum(CAST(cents AS DECIMAL(38,0))) AS BIGINT)")
          .as("rev_cents"))
      val w = Window.partitionBy(col("cohort_m")).orderBy(col("months_since"))
        .rowsBetween(Window.unboundedPreceding, 0)
      rev.join(sizes, Seq("cohort_m"))
        .withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
        .select(col("cohort_m").cast("long").as("cohort_m"),
          col("months_since").cast("long").as("months_since"),
          col("n_customers"), col("rev_cents"), col("cum_rev_cents"))
    }),
    // repeat-purchase rate by first-order-year cohort (integer bp) — the
    // orders-side loyalty rollup next to the events retention cohorts
    "orders_repeat_rate_cohort" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(year(col("o_orderdate"))).as("cohort_year"),
          count(lit(1)).as("n_orders"))
        .groupBy(col("cohort_year"))
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("n_repeat"))
        .select(col("cohort_year"), col("n_customers"), col("n_repeat"),
          expr("(10000 * n_repeat) div n_customers").as("repeat_bp"))),
    // supplier revenue concentration: Herfindahl index in basis points,
    // (10000 · Σx²) div T² over exact cent revenues — the antitrust-style
    // concentration number next to the Gini and the ABC classes
    // SRE multiwindow burn-rate alerts over the dense hour grid: exact
    // milli burn rates, 14.4x/1h page + 6x/6h ticket verdicts
    "events_error_budget_burn" -> ((s, dir) =>
      EventsAnalytics.errorBudgetBurn(t(s, dir, "events"))),
    // SRM gate per event type: distinct-user arm counts, exact chi²
    // milli, frozen 95/99 critical-value verdicts
    "events_ab_srm_check" -> ((s, dir) =>
      EventsAnalytics.srmCheck(t(s, dir, "events"))),
    // CUPED variance reduction: pre/post purchase cents around the
    // exact midpoint, theta = cov/var as an exact rational, per-arm
    // adjusted mean as ONE common-denominator floor division
    "events_cuped_adjustment" -> ((s, dir) =>
      EventsAnalytics.cupedAdjustment(t(s, dir, "events"))),
    // composition drift: per-nation total-variation distance of the
    // segment mix from the global mix, exact bp on a dense grid
    "customer_mix_shift_tv" -> ((s, dir) =>
      DataQuality.mixShiftTV(t(s, dir, "customer"),
        "c_nationkey", "c_mktsegment")),
    // exact two-sample KS between two segments' dollar-quantized order
    // values; frozen c(0.05)^2 verdict without a square root
    "orders_ks_segments" -> ((s, dir) =>
      DataQuality.ksTwoSample(
        t(s, dir, "orders").join(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "BUILDING", "MACHINERY",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100"))),
    // demand elasticity proxy: per-brand OLS slope of quantity on the
    // discount percent, exact DECIMAL normal equations (the
    // trendSlopes sign + abs-pico form), zero-variance brands flagged
    "lineitem_discount_elasticity" -> ((s, dir) => {
      val d = "DECIMAL(38,0)"
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          expr("CAST(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) " +
            s"AS $d)").as("x"),
          expr(s"CAST(CAST(l_quantity AS BIGINT) AS $d)").as("y"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).cast(d).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
        .select(col("p_brand"), col("n").cast("long").as("n"),
          expr("CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0 " +
            "WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END AS INT)")
            .as("slope_sign"),
          expr("CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0 " +
            "ELSE (abs(n * sxy - sx * sy) * 1000000000000) div " +
            "(n * sxx - sx * sx) END AS BIGINT)").as("slope_abs_pico"))
    }),
    "supplier_revenue_hhi" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(expr(
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("x"))
      rev.agg(count(lit(1)).as("n_suppliers"),
          sum(expr("CAST(x AS DECIMAL(38,0))")).as("t"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sq"))
        .select(col("n_suppliers"),
          expr("CAST((10000 * sq) div (t * t) AS BIGINT)").as("hhi_bp"))
    }),
    // SQL NTILE(8) over the global order-value order WITHOUT a global
    // single-partition window (distributed two-phase rank over exact
    // binary-fraction quantile ranges), aggregated per bucket; oracle is
    // DuckDB's native ntile() — the remainder rule must match exactly
    "orders_ntile_buckets" -> ((s, dir) =>
      graft.engine.Ops.ntileBuckets(
        t(s, dir, "orders").select(col("o_orderkey"), expr(
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents")),
        sortKey = "cents", tieKey = "o_orderkey", k = 8, boundsPow2 = 32)
        .groupBy(col("ntile_bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"),
          expr("CAST(sum(CAST(cents AS DECIMAL(38,0))) AS BIGINT)")
            .as("sum_cents"))),
    // Pareto/ABC inventory classification: parts ranked by exact cent
    // revenue, cumulative share classes A (<=80%), B (<=95%), C. The
    // running sum is the distributed prefix scan (revenue-range buckets
    // via exact binary-fraction percentiles, |buckets|-row cross-bucket
    // offsets, per-bucket windows) — no dimension-sized single partition;
    // the oracle states the equivalent single-window cumsum
    "orders_pareto_abc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k = 8
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(expr(
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("revenue_cents"))
      val qs = (1 until k).map(i => i.toDouble / k).mkString(", ")
      val bounds = rev.agg(
        expr(s"percentile(revenue_cents, array($qs))").as("bs"))
      val b = rev.crossJoin(broadcast(bounds))
        .withColumn("bucket", (1 until k)
          .map(i => when(element_at(col("bs"), i) > col("revenue_cents"), 1)
            .otherwise(0))
          .reduce(_ + _))
        .drop("bs")
      // bucket 0 holds the TOP revenues (count of boundaries above), so
      // ascending bucket order IS descending revenue order
      val wB = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val prefix = b.groupBy(col("bucket"))
        .agg(sum(col("revenue_cents")).as("bsum"))
        .withColumn("poff", coalesce(sum(col("bsum")).over(wB), lit(0L)))
        .select(col("bucket"), col("poff"))
      val wIn = Window.partitionBy(col("bucket"))
        .orderBy(col("revenue_cents").desc, col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = rev.agg(sum(col("revenue_cents")).as("total"))
      b.join(broadcast(prefix), Seq("bucket"))
        .withColumn("cum_cents",
          col("poff") + sum(col("revenue_cents")).over(wIn))
        .crossJoin(broadcast(tot))
        .select(col("l_partkey"), col("revenue_cents"), col("cum_cents"),
          when(col("cum_cents") * 100 <= col("total") * 80, "A")
            .when(col("cum_cents") * 100 <= col("total") * 95, "B")
            .otherwise("C").as("abc_class"))
    }),
    // classic RFM segmentation: per customer recency/frequency/monetary
    // with quartile scores (1-4; recency inverted — recent is better) and
    // the concatenated segment label. Monetary quantizes to exact cents
    // and all three thresholds are integer percentiles at binary-exact
    // fractions, so every score hashes across engines. One orders
    // aggregate + two one-row broadcasts.
    // monetary-quartile migration matrix between the two date halves:
    // per-half customer spend classes (per-half thresholds), absent
    // halves class 0, full-outer matrix counts
    "orders_rfm_migration" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val bounds = o.agg(min(col("o_orderdate")).as("mind"),
        max(col("o_orderdate")).as("maxd"))
      val tagged = o.crossJoin(broadcast(bounds))
        .withColumn("h", when(
          datediff(col("o_orderdate"), col("mind")) * 2 <=
            datediff(col("maxd"), col("mind")), 1).otherwise(2))
      def halfClass(h: Int): DataFrame = {
        val m = tagged.filter(col("h") === h)
          .groupBy(col("o_custkey").as("custkey"))
          .agg(expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 " +
            "AS BIGINT)").as("mc"))
        val th = m.agg(
          expr("percentile(mc, array(0.25, 0.5, 0.75))").as("t"))
        m.crossJoin(broadcast(th)).select(col("custkey"),
          (lit(1) +
            (col("mc") >= element_at(col("t"), 1)).cast("int") +
            (col("mc") >= element_at(col("t"), 2)).cast("int") +
            (col("mc") >= element_at(col("t"), 3)).cast("int"))
            .as(s"class_h$h"))
      }
      halfClass(1).join(halfClass(2), Seq("custkey"), "full_outer")
        .na.fill(0, Seq("class_h1", "class_h2"))
        .groupBy(col("class_h1"), col("class_h2"))
        .agg(count(lit(1)).as("n_customers"))
    }),
    "customer_rfm_segments" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val m = o.groupBy(col("o_custkey").as("custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("f"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)")
            .as("m_cents"))
      val maxd = o.agg(max(col("o_orderdate")).as("maxd"))
      val base = m.crossJoin(broadcast(maxd))
        .withColumn("r_days",
          datediff(col("maxd"), col("last_order")).cast("long"))
        .drop("last_order", "maxd")
      val th = base.agg(
        expr("percentile(r_days, array(0.25, 0.5, 0.75))").as("tr"),
        expr("percentile(f, array(0.25, 0.5, 0.75))").as("tf"),
        expr("percentile(m_cents, array(0.25, 0.5, 0.75))").as("tm"))
      def score(v: String, thCol: String, invert: Boolean) = {
        def cmp(i: Int) =
          (if (invert) col(v) <= element_at(col(thCol), i)
           else col(v) >= element_at(col(thCol), i)).cast("int")
        (lit(1) + cmp(1) + cmp(2) + cmp(3)).cast("int")
      }
      base.crossJoin(broadcast(th))
        .select(col("custkey"), col("r_days"), col("f"), col("m_cents"),
          score("r_days", "tr", invert = true).as("score_r"),
          score("f", "tf", invert = false).as("score_f"),
          score("m_cents", "tm", invert = false).as("score_m"))
        .withColumn("segment", concat(col("score_r").cast("string"),
          col("score_f").cast("string"), col("score_m").cast("string")))
    }),
    // the mitigation joinSkewReport recommends, as an operator: fact side
    // salted by a deterministic full-row hash, dim side replicated saltN
    // ways, so one hot join key spreads over saltN reducer partitions; the
    // result is EXACTLY the plain join — the oracle states it as one
    "join_skew_salted" -> ((s, dir) =>
      graft.engine.Ops.saltedJoin(
        t(s, dir, "lineitem")
          .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount")),
        Seq("l_suppkey"),
        t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
        Seq("s_suppkey"),
        saltN = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)")
            .as("revenue"))),
    // referential-integrity profile of the whole config-declared FK graph
    // source x lang chi2 independence profile: per-cell observed,
    // expected milli, and exact cross-multiplied chi2 contribution
    "source_lang_chi2" -> ((s, dir) =>
      DataQuality.sourceLangChi2(t(s, dir, "documents"))),
    // fulfillment SLA per priority: doubled exact median lag + within-30d
    // bp over the orderkey-co-partitioned join
    "orders_ship_lag_sla" -> ((s, dir) =>
      DataQuality.shipLagSla(t(s, dir, "orders"), t(s, dir, "lineitem"))),
    // signed r2 ppm between account balance and revenue, exact DECIMAL
    // moments, zero-revenue customers included via left join
    "customer_balance_revenue_r2" -> ((s, dir) =>
      DataQuality.balanceRevenueR2(
        t(s, dir, "customer"), t(s, dir, "orders"))),
    // Mann-Whitney rank-sum test between two market segments' order
    // totals: dollar-quantized ranks (price-domain-bounded window),
    // doubled tie-averaged ranks, tie-corrected z2 in exact milli
    "orders_mann_whitney" -> ((s, dir) =>
      DataQuality.mannWhitneyU(
        t(s, dir, "orders").join(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "BUILDING", "MACHINERY",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100"))),
    // Mann-Kendall monotone-trend test per event type over the dense
    // daily grid: S statistic, tie-corrected var18, continuity z2 milli
    "events_mann_kendall" -> ((s, dir) =>
      EventsAnalytics.mannKendallDailyTrend(t(s, dir, "events"))),
    // Kruskal-Wallis H across all five market segments' order totals:
    // doubled tie-averaged ranks, per-group R2i^2 div ni, frozen chi2
    // criticals by df
    "orders_kruskal_wallis" -> ((s, dir) =>
      DataQuality.kruskalWallisH(
        t(s, dir, "orders").join(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100"))),
    // Pettitt changepoint per event type: K = max |U_t| from one
    // rank-derived running sum over the dense day grid, earliest argmax,
    // log-free exponent image of the approximate p-value
    "events_pettitt_changepoint" -> ((s, dir) =>
      EventsAnalytics.pettittChangepoint(t(s, dir, "events"))),
    // McNemar paired conversion test: per-user early/late purchase
    // pair around the broadcast midpoint, continuity-corrected chi2
    // from the discordant cells in exact milli
    "events_mcnemar_conversion" -> ((s, dir) =>
      EventsAnalytics.mcnemarConversion(t(s, dir, "events"))),
    // Chao1 richness + Good-Turing unseen mass from the token
    // frequency-of-frequencies: exact milli-types / ppm
    "vocab_chao1_richness" -> ((s, dir) =>
      Curation.vocabChao1Richness(t(s, dir, "documents"))),
    // Gini-Simpson language diversity + inverse-Simpson effective
    // language count per source, log-free exact ppm/milli
    "source_simpson_diversity" -> ((s, dir) =>
      DataQuality.sourceSimpsonDiversity(t(s, dir, "documents"))),
    // Brown-Forsythe spread-homogeneity F across order priorities:
    // doubled group medians from one value-domain window, moment-form
    // SSB/SSW, frozen F(df1, inf) criticals
    "orders_brown_forsythe" -> ((s, dir) =>
      DataQuality.brownForsytheF(t(s, dir, "orders"), "o_orderpriority",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100"))),
    // paired sign-flip permutation test on daily click-vs-view revenue:
    // deterministic md5 coins, add-one p in exact milli
    "events_permutation_test" -> ((s, dir) =>
      EventsAnalytics.permutationTestDailyDiff(t(s, dir, "events"))),
    // Welch t^2 + Cohen's d between BUILDING and MACHINERY order
    // totals: moment sums in DECIMAL, milli/micro fixed points
    "orders_welch_effect" -> ((s, dir) =>
      DataQuality.welchEffect(
        t(s, dir, "orders").join(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "BUILDING", "MACHINERY",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100"))),
    // Dunn post-hoc pairwise rank tests after Kruskal-Wallis across
    // the five market segments, Bonferroni-frozen criticals
    "orders_dunn_posthoc" -> ((s, dir) =>
      DataQuality.dunnPosthoc(
        t(s, dir, "orders").join(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100"))),
    // Cochran's Q across event types' user reach: marginals from one
    // distinct (user, type) reduction, frozen chi2(k-1) criticals
    "events_cochran_q" -> ((s, dir) =>
      EventsAnalytics.cochranQ(t(s, dir, "events"))),
    // difference-in-differences on per-user purchase revenue: md5 arm
    // buckets x midpoint periods, cell means + DiD in exact milli-cents
    "events_diff_in_diff" -> ((s, dir) =>
      EventsAnalytics.diffInDiff(t(s, dir, "events"))),
    // Lorenz deciles + exact Gini of per-customer revenue: rank sums
    // telescoped over the dollar value domain, decile boundaries via
    // a 10-row broadcast probe
    "customer_revenue_lorenz" -> ((s, dir) =>
      DataQuality.lorenzGini(
        t(s, dir, "orders").groupBy(col("o_custkey"))
          .agg(expr("sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 " +
            "AS BIGINT)) div 100").as("rev_dollars")),
        "rev_dollars")),
    // next-event diversity per antecedent: Gini-Simpson + effective
    // successor count over the markov bigram relation
    "events_transition_diversity" -> ((s, dir) =>
      EventsAnalytics.transitionDiversity(t(s, dir, "events"))),
    // Wald-Wolfowitz runs test on daily revenue around the doubled
    // median (ties excluded), exact cross-multiplied z2 milli
    "events_runs_test" -> ((s, dir) =>
      EventsAnalytics.runsTest(t(s, dir, "events"))),
    // Durbin-Watson serial-correlation statistic over the dense daily
    // grid via exact scaled residuals (n*c - S)
    "events_durbin_watson" -> ((s, dir) =>
      EventsAnalytics.durbinWatson(t(s, dir, "events"))),
    // Theil's U / relative-MAE of the lag-7 seasonal-naive forecast vs
    // naive-1 persistence, exact milli cross-ratios
    "events_forecast_theil_u" -> ((s, dir) =>
      EventsAnalytics.forecastTheilU(t(s, dir, "events"))),
    // Qini uplift curve at activity-score deciles: value-grouped decile
    // assignment over the score domain, 10-row cumulative window
    "events_qini_deciles" -> ((s, dir) =>
      EventsAnalytics.qiniDeciles(t(s, dir, "events"))),
    // DP geometric-mechanism count release per nation: frozen discrete-
    // Laplace CDF ladder at eps=ln2, md5 draws the oracle replays
    "privacy_dp_geometric_counts" -> ((s, dir) =>
      Privacy.dpGeometricCounts(t(s, dir, "customer"), "c_nationkey")),
    // stratified k-fold audit: md5 fold buckets per doc, per-cell
    // deviation from uniform in exact bp
    "corpus_kfold_assignment" -> ((s, dir) =>
      Curation.kfoldAssignment(t(s, dir, "documents"))),
    // split-conformal 90% interval per market segment: odd-key train
    // mean, even-key calibration residual order statistic
    "orders_conformal_interval" -> ((s, dir) =>
      DataQuality.conformalInterval(
        t(s, dir, "orders").join(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "o_orderkey",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))),
    // per-part EOQ (exact isqrt) + newsvendor 3/4-fractile stocking
    // level from the (part, qty) value domain
    "part_inventory_policy" -> ((s, dir) =>
      DataQuality.inventoryPolicy(t(s, dir, "lineitem"))),
    // cumulative tracking signal of the lag-7 forecast: exact
    // n*sum(e)/sum|e| milli with the frozen +-4 alarm
    "events_tracking_signal" -> ((s, dir) =>
      EventsAnalytics.trackingSignal(t(s, dir, "events"))),
    // Benjamini-Hochberg FDR over the per-type Mann-Kendall tests:
    // frozen chi2 criticals keyed by (60r) div m, types-sized walk
    "events_mk_fdr" -> ((s, dir) =>
      EventsAnalytics.mannKendallFdrBH(t(s, dir, "events"))),
    // Church-Gale burstiness: variance-to-mean of per-doc counts with
    // zeros in the moment algebra, top-50 via bounded heap
    "token_burstiness_topk" -> ((s, dir) =>
      Curation.tokenBurstiness(t(s, dir, "documents"))),
    // Bowley quartile skewness of doc length per source from the
    // value-domain window, exact milli
    "source_length_skewness" -> ((s, dir) =>
      DataQuality.lengthSkewness(t(s, dir, "documents"))),
    // watermark-lateness audit: three-level distributed prefix max over
    // arrival order (the oracle states the same thing as ONE window)
    "events_watermark_lateness" -> ((s, dir) =>
      EventsAnalytics.watermarkLateness(t(s, dir, "events"))),
    // concurrent-session sweep-line over the dense minute grid: per-day
    // peak + time-average concurrency in exact milli
    "events_session_concurrency" -> ((s, dir) =>
      EventsAnalytics.sessionConcurrency(t(s, dir, "events"))),
    // Q-Q decile shift profile between two segments' order totals:
    // where the distributions differ, in dollars and bp
    "orders_qq_shift_profile" -> ((s, dir) =>
      DataQuality.qqShiftProfile(
        t(s, dir, "orders").join(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "BUILDING", "MACHINERY",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100"))),
    // 10%-trimmed vs raw mean per segment: tail-weight contrast from
    // the value-domain window, straddling tie groups kept partially
    "orders_trimmed_mean" -> ((s, dir) =>
      DataQuality.trimmedMean(
        t(s, dir, "orders").join(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100"))),
    // Hodges-Lehmann robust daily-revenue location per type: median of
    // Walsh averages over the calendar^2-bounded pair relation
    "events_hodges_lehmann" -> ((s, dir) =>
      EventsAnalytics.hodgesLehmannDaily(t(s, dir, "events"))),
    // first-touch-to-first-purchase lag quartiles + conversion share,
    // lags quantized to calendar-bounded minutes
    "events_time_to_convert" -> ((s, dir) =>
      EventsAnalytics.timeToConvert(t(s, dir, "events"))),
    // activity concentration: Lorenz deciles + exact Gini of per-user
    // event counts (straight reuse of the telescoped-rank machinery)
    "events_activity_lorenz" -> ((s, dir) =>
      DataQuality.lorenzGini(
        t(s, dir, "events").groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events")),
        "n_events")),
    // SPC p-chart: daily error share vs the 3-sigma binomial band,
    // square-root-free cross-multiplied verdict
    "events_error_pchart" -> ((s, dir) =>
      EventsAnalytics.errorPChart(t(s, dir, "events"))),
    // lines-per-order histogram + variance-to-mean dispersion milli
    "orders_linecount_dispersion" -> ((s, dir) =>
      DataQuality.linecountDispersion(t(s, dir, "lineitem"))),
    // Pareto 80/20 check: exact revenue share of the top 20% of parts
    "part_pareto_share" -> ((s, dir) =>
      DataQuality.paretoTopShare(
        t(s, dir, "lineitem").groupBy(col("l_partkey"))
          .agg(expr("sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 " +
            "AS BIGINT)) div 100").as("rev_dollars")),
        "rev_dollars")),
    // classical month-of-year seasonal index of order revenue in bp
    // (10000 = an average month), exact cents throughout
    "orders_seasonal_index" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(month(col("o_orderdate")).as("m"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents"))
      val tot = o.agg(sum(expr("CAST(cents AS DECIMAL(38,0))")).as("total"))
      o.groupBy(col("m"))
        .agg(sum(expr("CAST(cents AS DECIMAL(38,0))")).as("rev"))
        .crossJoin(broadcast(tot))
        .select(col("m").as("month"), col("rev").cast("long").as("rev_cents"),
          expr("CAST((10000 * 12 * rev) div total AS BIGINT)")
            .as("index_bp"))
    }),
    // per-customer consecutive-order priority transitions: bigram
    // counts + row-share bp over the deterministic order sequence
    "orders_priority_markov" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      ord.select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderpriority"))
        .withColumn("prev_priority", lag(col("o_orderpriority"), 1).over(w))
        .filter(col("prev_priority").isNotNull)
        .groupBy(col("prev_priority"),
          col("o_orderpriority").as("next_priority"))
        .agg(count(lit(1)).as("n"))
        .withColumn("row_total", sum(col("n")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("prev_priority"))))
        .select(col("prev_priority"), col("next_priority"), col("n"),
          expr("(10000 * n) div row_total").as("share_bp"))
    }),
    // Heaps vocabulary growth: cumulative vocab at power-of-two doc
    // prefixes from first-occurrence log2 buckets
    "vocab_heaps_curve" -> ((s, dir) =>
      Curation.vocabHeapsCurve(t(s, dir, "documents"))),
    // Chapman capture-recapture estimate of the duplicate-pair
    // population from the exact-fingerprint and LSH detectors' overlap
    // (candidates from the session lshPairs pin — no re-banding)
    "dedup_capture_recapture" -> ((s, dir) =>
      Dedup.captureRecapture(t(s, dir, "documents"),
        Some(lshPairs(s, dir)))),
    // Spearman rank correlation of daily click vs purchase volumes:
    // Pearson over doubled tie-averaged ranks, signed rho2 in exact ppm
    "rank_corr_spearman" -> ((s, dir) =>
      EventsAnalytics.spearmanDailyCorr(t(s, dir, "events"))),
    // HHI revenue concentration per nation: exact ppm from DECIMAL
    // moments, shuffle join on custkey (customer scales, only nation
    // broadcasts)
    "nation_revenue_hhi" -> ((s, dir) =>
      DataQuality.revenueHhi(t(s, dir, "orders"), t(s, dir, "customer"),
        t(s, dir, "nation"))),
    // SBC demand-intermittency quadrant per part: ADI x CV2 with frozen
    // 1.32/0.49 cutoffs as integer cross-multiplications
    "part_demand_intermittency" -> ((s, dir) =>
      DataQuality.demandIntermittency(t(s, dir, "lineitem"))),
    // Neyman-optimal stratified allocation across sources: w = N*sigma
    // via exact isqrt of the variance numerator
    "source_neyman_allocation" -> ((s, dir) =>
      DataQuality.neymanAllocation(t(s, dir, "documents"))),
    // column completeness/cardinality profile of orders: per column row/
    // NULL/exact-distinct counts, one column-pruned aggregate per column
    "orders_column_profile" -> ((s, dir) =>
      DataQuality.columnProfile(t(s, dir, "orders"), Seq(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))),
    // empirical Bloom FPR audit: md5-positional filter over distinct
    // custkeys probed with a guaranteed-disjoint shifted key set
    "bloom_fpr_audit" -> ((s, dir) =>
      graft.analytics.Sketches.bloomFprAudit(
        t(s, dir, "customer"), "c_custkey")),
    // financial reconciliation: recompute each order total from its
    // lines (per-line floored pricing identity), histogram the relative
    // error on power-of-two bp bands
    "orders_total_reconciliation" -> ((s, dir) =>
      DataQuality.orderTotalReconciliation(
        t(s, dir, "orders"), t(s, dir, "lineitem"))),
    // on the SOURCE tables (the drift alarm; the subsetter proves closure
    // on its output) — one lazy plan, one row per FK edge
    "fk_integrity_report" -> ((s, dir) =>
      DataQuality.fkIntegrityReport(n => t(s, dir, n), Seq(
        ("nation", "n_regionkey", "region", "r_regionkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey")))),

    // ---- events time-series ----
    "events_tumbling" -> ((s, dir) => EventsAnalytics.tumbling(t(s, dir, "events"))),
    "events_sliding" -> ((s, dir) => EventsAnalytics.sliding(t(s, dir, "events"))),
    "events_session" -> ((s, dir) => EventsAnalytics.sessions(t(s, dir, "events"))),
    // production sessionizer: 30-min inactivity gap AND a 2-h duration cap
    // (fixed-offset slicing within each gap island — closed form, two
    // user-keyed windows, no sequential fold)
    "events_session_capped" -> ((s, dir) =>
      EventsAnalytics.sessionsCapped(t(s, dir, "events"))),
    "events_rank_lag" -> ((s, dir) => EventsAnalytics.rankLag(t(s, dir, "events"))),
    // dyadic-weight EWMA over the last 16 observations per user: pure
    // BIGINT weighted sum + one IEEE divide — hash-exact smoothing
    "events_ewma" -> ((s, dir) => EventsAnalytics.ewma(t(s, dir, "events"))),
    // multiplicative burst/drop alarm vs the previous running EWMA
    // (integer cross-multiplied ratio test — no division, no float)
    "events_anomaly_ewma" -> ((s, dir) =>
      EventsAnalytics.ewmaAnomaly(t(s, dir, "events"))),
    // first-order Markov transition matrix over per-user event streams
    "events_transitions" -> ((s, dir) =>
      EventsAnalytics.transitions(t(s, dir, "events"))),
    // top 3-step behavioral paths (funnel discovery): most common
    // (step1,step2,step3) sequences by occurrence + distinct-user support
    "events_funnel_paths" -> ((s, dir) =>
      EventsAnalytics.funnelPaths(t(s, dir, "events"))),
    // integer-exact (value, hour-of-day) second moments + covariance/
    // variance numerators per event type — the correlation screen
    "events_covariance" -> ((s, dir) =>
      EventsAnalytics.covarianceStats(t(s, dir, "events"))),
    // incremental view maintenance: merge a batch's aggregate state into
    // the materialized snapshot; postcondition (the oracle) is the direct
    // aggregate over the full table — refresh cost is batch-sized, not
    // corpus-sized
    "ivm_agg_merge" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      // cent-quantized BIGINT sum: exact, additive, hashable (the house
      // no-float-accumulation rule — double sums are order-dependent)
      def state(df: DataFrame) = df
        .groupBy(col("o_orderpriority"), year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("total_cents"))
      graft.engine.Ivm.mergeAggState(
        state(orders.filter(col("o_orderkey") % 4 =!= 3)),
        state(orders.filter(col("o_orderkey") % 4 === 3)),
        Seq("o_orderpriority", "yr"))
    }),
    // incremental JOIN-view maintenance: the delta of orders⋈lineitem
    // given independent insert batches on each side — ΔA⋈B ∪ A'⋈ΔB,
    // |Δ|-proportional (never re-joins base×base)
    "ivm_join_delta" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      graft.engine.Ivm.joinDelta(
          o.filter(col("o_orderkey") % 10 =!= 7),
          o.filter(col("o_orderkey") % 10 === 7),
          l.filter(col("l_linenumber") < 5),
          l.filter(col("l_linenumber") >= 5),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
          col("l_quantity"), col("o_totalprice"))
    }),
    // incremental DISTINCT-count maintenance: distinct users per type,
    // base = first 8 of each 10 days, batch = the rest; the refresh is
    // a batch dedup + pair anti-join, never a corpus re-sweep
    "ivm_distinct_delta" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          expr("ts div 86400000000000").as("day"))
      graft.engine.Ivm.distinctDelta(
        e.filter(col("day") % 10 < 8), e.filter(col("day") % 10 >= 8),
        Seq("event_type"), "user_id")
    }),
    // Theil–Sen robust daily trend per type: doubled median of all
    // pairwise integer milli-slopes over the dense day grid
    "events_theil_sen" -> ((s, dir) =>
      EventsAnalytics.theilSenDailyTrend(t(s, dir, "events"))),
    // seasonal-naive backtest on each type's last 14 days: exact MAE
    // cents + mean APE bp vs the same-weekday-last-week forecast
    "events_forecast_eval" -> ((s, dir) =>
      EventsAnalytics.seasonalNaiveBacktest(t(s, dir, "events"))),
    // Nelson–Aalen churn hazard: per-day risk set from running
    // start/end count differences, exact ppm hazard + cumulative sum;
    // last-day users are right-censored
    "events_survival_hazard" -> ((s, dir) =>
      EventsAnalytics.survivalHazard(t(s, dir, "events"))),
    // JSON schema discovery: per-key coverage, cardinality and
    // inferred-type histogram over the enriched heterogeneous payload
    "events_props_schema" -> ((s, dir) =>
      EventsAnalytics.propsSchemaProfile(t(s, dir, "events"))),
    // offline bandit policy eval by replay: md5 logging/target arms,
    // exact integer match rates + matched-mean purchase reward
    "events_bandit_replay" -> ((s, dir) =>
      EventsAnalytics.banditReplayEval(t(s, dir, "events"))),
    // MDE/power planning per event type: frozen z-sum micro literal,
    // exact ppm radicand, isqrt with integer +-1 repair
    "events_mde_power" -> ((s, dir) =>
      EventsAnalytics.mdePower(t(s, dir, "events"))),
    // Wald SPRT sequential monitor: daily cumulative LLR with frozen
    // micro-log increments, always-valid accept/continue/reject state
    "events_sprt_monitor" -> ((s, dir) =>
      EventsAnalytics.sprtMonitor(t(s, dir, "events"))),
    // heavy-tail-guarded revenue mean: per-user totals winsorized at the
    // exact 20x image of the p95 cap
    "events_winsorized_metric" -> ((s, dir) =>
      EventsAnalytics.winsorizedMetric(t(s, dir, "events"))),
    // leave-one-bucket-out jackknife for the average-order-value ratio:
    // md5 buckets, exact integer leave-one-out ratios
    "events_ratio_jackknife" -> ((s, dir) =>
      EventsAnalytics.ratioJackknife(t(s, dir, "events"))),
    // interval-interval overlap join via week-bucket fragmentation:
    // user activity spans x the 14-day-every-7 campaign ladder
    "events_interval_overlap_join" -> ((s, dir) =>
      EventsAnalytics.intervalOverlapJoin(t(s, dir, "events"))),
    // CUSUM/KS mean-shift change point per event series: max deviation of
    // the value prefix sum from its uniform-rate line, integer
    // cross-multiplied — the drift monitor a feed pipeline runs per type
    "events_cusum_shift" -> ((s, dir) =>
      EventsAnalytics.cusumShift(t(s, dir, "events"))),
    // next-event prediction eval: temporal 80/20 split per user, argmax
    // Markov transition model fit on train, held-out accuracy per
    // antecedent in basis points — the sequence-model baseline loop
    "events_markov_eval" -> ((s, dir) =>
      EventsAnalytics.markovNextEval(t(s, dir, "events"))),
    // telemetry dedup: first event per (user, type) gap-window burst, with
    // per-burst duplicate counts — batch dropDuplicatesWithinWatermark
    "events_window_dedup" -> ((s, dir) =>
      EventsAnalytics.windowDedup(t(s, dir, "events"))),
    // lag-1/2/3 autocorrelation of the DENSE hourly count series per
    // event type (missing hours are real zeros), signed r^2 in exact ppm
    // via DECIMAL moments — the seasonality screen before any forecaster
    "events_autocorr" -> ((s, dir) =>
      EventsAnalytics.autocorrHourly(t(s, dir, "events"))),
    // Benford first-significant-digit audit of event values: per digit,
    // observed share vs the log10(1+1/d) expectation, exact ppm — the
    // fraud / synthetic-data screen; map-only scan + 9-row aggregate
    "events_benford" -> ((s, dir) =>
      EventsAnalytics.benfordFirstDigit(t(s, dir, "events"))),
    // local maxima of the dense hourly count series per event type
    // (missing hours are real zeros): the alerting primitive behind
    // "traffic spiked at hour H"; time-span-bounded windows only
    "events_peak_hours" -> ((s, dir) =>
      EventsAnalytics.peakHours(t(s, dir, "events"))),
    // robust (median/MAD) daily-volume outliers per type over the dense
    // day grid — the 50%-breakdown screen a single corrupted day can't
    // drag, unlike the sequential EWMA/CUSUM detectors
    "events_daily_anomaly_robust" -> ((s, dir) =>
      EventsAnalytics.dailyVolumeAnomalies(t(s, dir, "events"), k = 3)),
    // DAU/MAU stickiness per 30-day epoch bucket in exact bp: mean daily
    // actives over monthly actives — two distinct-count aggregates, the
    // classic engagement ratio; stickiness = Σdau·10^4 div (n_days·mau)
    "events_dau_mau" -> ((s, dir) => {
      val e = t(s, dir, "events").select(
        expr("ts div 86400000000000").as("day"), col("user_id"))
        .withColumn("mo", expr("day div 30"))
      val dau = e.groupBy(col("mo"), col("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
        .groupBy(col("mo"))
        .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
      val mau = e.groupBy(col("mo"))
        .agg(countDistinct(col("user_id")).as("mau"))
      dau.join(mau, Seq("mo"))
        .select(col("mo"), col("n_days"), col("mau"), col("sum_dau"),
          expr("(sum_dau * 10000L) div (n_days * mau)").as("stickiness_bp"))
    }),
    // inter-arrival-time spectrum: per-user consecutive-event gaps in
    // power-of-two second bands per type — the burstiness fingerprint
    // behind rate-limit tuning; user-keyed windows only
    "events_interarrival_bands" -> ((s, dir) =>
      EventsAnalytics.interArrivalBands(t(s, dir, "events"))),
    // heavy changers: top-25 (user, type) pairs by |second-half −
    // first-half| count delta around the exact range midpoint — the
    // exact form of sketch-delta heavy-change detection
    "events_heavy_changers" -> ((s, dir) =>
      EventsAnalytics.heavyChangers(t(s, dir, "events"))),
    // Poisson-bootstrap band for mean daily purchase revenue: 32
    // deterministic md5 inverse-CDF replicas over the day relation,
    // one row per replica (weight total + weighted mean in cents)
    "events_bootstrap_ci" -> ((s, dir) =>
      EventsAnalytics.bootstrapDailyMeanCI(t(s, dir, "events"))),
    // rolling 7-day revenue per type via a RANGE frame (value-based, so
    // calendar GAPS shorten the window — the semantics a ROWS frame gets
    // wrong); windows are type-keyed over a days-bounded series
    "events_rolling_7day" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
        .agg(expr("CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)")
          .as("day_cents"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-6, 0)
      daily.withColumn("rolling7_cents", sum(col("day_cents")).over(w))
    }),
    // audience overlap: per event-type pair, the distinct-user
    // intersection and Jaccard in exact bp — one user-keyed self-join of
    // the (type, user) distinct relation, output bounded by type pairs
    // heterogeneous treatment effect readout: md5 arm assignment x
    // customer segment (events.user_id joins c_custkey), per segment the
    // distinct-user purchase rate per arm and the SIGNED uplift in bp —
    // the subgroup analysis an A/B readout runs after the topline
    "events_uplift_by_segment" -> ((s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      val u = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
        .withColumn("arm", expr(
          "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) " +
            "AS BIGINT) % 2"))
        .join(seg, Seq("user_id"))
      u.groupBy(col("segment"))
        .agg(
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
          sum(when(col("arm") === 1, col("converted")).otherwise(0L)).as("conv_t"),
          sum(when(col("arm") === 0, col("converted")).otherwise(0L)).as("conv_c"))
        .withColumn("rate_t_bp", expr(
          "(conv_t * 10000L) div (CASE WHEN n_t = 0 THEN 1 ELSE n_t END)"))
        .withColumn("rate_c_bp", expr(
          "(conv_c * 10000L) div (CASE WHEN n_c = 0 THEN 1 ELSE n_c END)"))
        .withColumn("uplift_bp", col("rate_t_bp") - col("rate_c_bp"))
    }),
    "events_audience_overlap" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
      val sizes = u.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val inter = u.select(col("event_type").as("type_a"), col("user_id"))
        .join(u.select(col("event_type").as("type_b"), col("user_id")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
      inter
        .join(broadcast(sizes.toDF("type_a", "n_a")), Seq("type_a"))
        .join(broadcast(sizes.toDF("type_b", "n_b")), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_both"),
          expr("(n_both * 10000L) div (n_a + n_b - n_both)").as("jaccard_bp"))
    }),
    // incremental top-k view maintenance: merge an insert batch (event_id
    // % 4 = 3) into the materialized top-5-value-per-type state — both
    // cuts on the bounded-heap TopKPerKey, refresh cost is state+batch,
    // never the corpus; the oracle is the full recompute the merge must equal
    "ivm_topk_maintain" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"), col("event_id"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
        .withColumn("neg_cents", -col("cents"))
      val state = graft.plans.TopKPerKey.topKPerKey(
        e.filter(col("event_id") % 4 =!= 3),
        Seq("event_type"), Seq("neg_cents", "event_id"), 5)
      graft.engine.Ivm.topKMaintain(
        state, e.filter(col("event_id") % 4 === 3),
        Seq("event_type"), Seq("neg_cents", "event_id"), 5)
        .select(col("event_type"), col("event_id"), col("cents"))
    }),
    // PIVOT: hour-of-day x event-type count matrix with the type list
    // pinned (no extra distinct-discovery job, fixed-width output) —
    // the relational pivot operator over the events stream
    "events_pivot_hourly" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(expr("(ts div 3600000000000) % 24").as("hod"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))),
    "events_json" -> ((s, dir) => EventsAnalytics.jsonProps(t(s, dir, "events"))),
    "events_value_quantiles" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type")).agg(
        expr("percentile(value, 0.5)").as("med"),
        expr("percentile(value, 0.9)").as("p90"),
        count(lit(1)).as("n"))),
    // OHLC rollup per (hour, event_type): open/close are the values at the
    // first/last (ts, event_id) in the bucket via struct-ordering min/max
    // (event_id unique, so value never participates in the order) — one
    // partial-aggregating groupBy, no window
    "events_ohlc" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(expr("ts div 3600000000000").as("hour_bucket"), col("event_type"))
        .agg(
          min(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("open"),
          max(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("close"),
          min(col("value")).as("low"),
          max(col("value")).as("high"),
          count(lit(1)).as("n"))),
    // as-of join: for each purchase, the user's latest prior click
    "events_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.engine.Ops.asofJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("event_id"), tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"),
          col("asof_event_id").as("prev_click"))
    }),

    // forward as-of: each click's NEXT purchase (pandas merge_asof
    // direction="forward") — the same one-shuffle carry plan, reversed
    // strict ordered funnel view -> click -> purchase with a 1h max gap
    // per step: two forward as-of joins (first qualifying next event per
    // step), single-row completion summary — the product-funnel report
    "events_funnel_strict" -> ((s, dir) => {
      val gap = 3600000000000L
      val ev = t(s, dir, "events")
      def slice(tp: String) = ev.filter(col("event_type") === tp)
        .select(col("user_id"), col("event_id"), col("ts"))
      val views = slice("view")
      val vc = graft.engine.Ops.asofJoin(
        views, slice("click"), keys = Seq("user_id"),
        leftTs = "ts", rightTs = "ts", payload = Seq("event_id", "ts"),
        tieBreak = Seq("event_id"), direction = "forward")
      val vcOk = vc.filter(col("asof_ts").isNotNull &&
          col("asof_ts") - col("ts") <= gap)
        .select(col("user_id"), col("asof_ts").as("cts"))
      val vcp = graft.engine.Ops.asofJoin(
        vcOk, slice("purchase"), keys = Seq("user_id"),
        leftTs = "cts", rightTs = "ts", payload = Seq("event_id", "ts"),
        tieBreak = Seq("event_id"), direction = "forward")
      val pOk = vcp.filter(col("asof_ts").isNotNull &&
        col("asof_ts") - col("cts") <= gap)
      views.agg(count(lit(1)).as("n_views"))
        .crossJoin(broadcast(vcOk.agg(count(lit(1)).as("n_clicked"))))
        .crossJoin(broadcast(pOk.agg(count(lit(1)).as("n_purchased"),
          countDistinct(col("user_id")).as("n_users_converted"))))
    }),
    "events_asof_join_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.engine.Ops.asofJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("event_id"), tieBreak = Seq("event_id"),
        direction = "forward")
        .select(col("event_id"), col("user_id"),
          col("asof_event_id").as("next_purchase"))
    }),
    // watermark advisor: arrival-order lateness histogram via a
    // distributed prefix-max (bucket maxes → tiny cross-bucket window →
    // per-bucket parallel running max) — never a one-partition window
    "events_lateness_profile" -> ((s, dir) =>
      EventsAnalytics.latenessProfile(t(s, dir, "events"))),

    // funnel conversion: users whose FIRST click precedes a later
    // purchase — two tiny per-user aggregates joined on user_id, no window
    // multi-touch attribution: first/last/linear credit models over the
    // 24 h pre-conversion window, integer basis points (each attributed
    // conversion sums to exactly 10000 per model; remainder to the first
    // touch), rolled up per model x channel
    "events_attribution" -> ((s, dir) =>
      EventsAnalytics.attribution(t(s, dir, "events"))),
    "events_conversion" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val firstClick = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_click"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      firstClick.join(purchases, Seq("user_id"), "left")
        .groupBy(col("user_id"), col("first_click"))
        .agg(sum(when(col("ts") >= col("first_click"), 1L).otherwise(0L))
          .as("n_purchases_after"))
        .select(col("user_id"),
          expr("first_click div 1000").as("first_click_us"),
          col("n_purchases_after"))
    }),
    // time-to-convert distribution: per converting user the latency from
    // first click to first subsequent purchase, summarized as exact
    // second-quantized percentiles (seconds keep the interpolation
    // midpoints exactly representable — ns-scale longs would not be)
    "events_conversion_latency" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val firstClick = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ts")).as("fc"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      firstClick.join(purchases, Seq("user_id"))
        .filter(col("ts") >= col("fc"))
        .groupBy(col("user_id")).agg(min(col("ts") - col("fc")).as("lat_ns"))
        .select(expr("lat_ns div 1000000000").as("lat_s"))
        .agg(count(lit(1)).as("n_converted"),
          expr("percentile(lat_s, 0.5)").as("med_latency_s"),
          expr("percentile(lat_s, 0.9)").as("p90_latency_s"))
    }),
    // bigram continuation top-3 per token (the autocomplete / n-gram LM
    // statistic), per-prefix top-k on the custom bounded-heap operator
    "bigram_next_topk" -> ((s, dir) => {
      val bi = t(s, dir, "documents")
        .repartition(col("doc_id"))
        .select(tokens(col("text")).as("w"))
        .select(explode(wordShingles(col("w"), 2)).as("g"))
        .select(split(col("g"), " ").getItem(0).as("tk"),
          split(col("g"), " ").getItem(1).as("next_tk"))
        .groupBy(col("tk"), col("next_tk")).agg(count(lit(1)).as("n"))
        .withColumn("neg_n", -col("n"))
      graft.plans.TopKPerKey.topKPerKey(
          bi, Seq("tk"), Seq("neg_n", "next_tk"), 3)
        .drop("neg_n")
    }),
    // exact φ-heavy-hitters over the bigram stream, pruned by a count-min
    // sketch: the d×w counter matrix rides back as a literal array and the
    // exact groupBy only ever sees occurrences the sketch says can qualify
    "heavy_hitters_cms" -> ((s, dir) =>
      Sketches.heavyHittersCms(t(s, dir, "documents"))),
    // sketch-adequacy audit: per exact top-20 bigram, the CMS estimate
    // (md5-hashed eval variant, SQL-replayable) vs the exact count and
    // the overcount — CMS never undercounts, so overcount >= 0 always
    "cms_error_eval" -> ((s, dir) =>
      Sketches.cmsErrorEval(t(s, dir, "documents"))),
    // KMV distinct sketches with SET operations: per source pair the
    // k-min-values Jaccard estimate next to the exact answer (integer bp)
    // HLL sketch mergeability audit: per-source native Datasketches HLL
    // sketches union into the corpus distinct estimate — exact counts +
    // integer error-band flags, the KB-per-source state story at 100 TB
    "hll_union_sources" -> ((s, dir) =>
      Sketches.hllUnionSources(t(s, dir, "documents"))),
    "kmv_overlap_eval" -> ((s, dir) =>
      Sketches.kmvOverlapEval(t(s, dir, "documents"))),
    // retention cohorts: users bucketed by first-seen week, distinct-user
    // counts per (cohort, active) week pair — two aggregates and one
    // co-partitioned join on user_id, the classic warehouse rollup
    // range (interval) join on the bin-bucketed rewrite: high-value events
    // anchor a 10-minute lookback window; count events / distinct users
    // inside each window. A bare BETWEEN join would plan as
    // BroadcastNestedLoopJoin — Ops.rangeJoinBinned turns it into an
    // equi-join on the time bucket (exactly-once pairs, no dedup)
    "events_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val tenMinNs = 600000000000L
      val anchors = ev.filter(col("value") > 300)
        .select(col("event_id").as("window_id"),
          (col("ts") - lit(tenMinNs)).as("t0"), col("ts").as("t1"))
      graft.engine.Ops.rangeJoinBinned(
          ev.select(col("event_id"), col("user_id"), col("ts")), "ts",
          anchors, "t0", "t1", binWidth = tenMinNs)
        .groupBy(col("window_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // SCD-2 validity rows from the event stream (the CDC dimension-merge
    // shape): per-user event_type runs collapse to [valid_from, valid_to)
    // with the open run flagged current; µs image of the ns longs for the
    // cross-engine compare, as in topk_per_user_events
    "events_scd2_current" -> ((s, dir) =>
      EventsAnalytics.scd2Snapshot(t(s, dir, "events"))
        .select(col("user_id"), col("state"),
          expr("valid_from div 1000").as("valid_from_us"),
          expr("valid_to div 1000").as("valid_to_us"),
          col("is_current"))),
    // time travel against the type-2 dimension: each user's state one day
    // into the corpus (validity row covering min(ts) + 24h)
    "events_scd2_asof" -> ((s, dir) =>
      EventsAnalytics.scd2AsOf(t(s, dir, "events"))),
    // per-series least-squares trend from exact integer moments — the
    // one emitted double is a fixed IEEE op sequence over exact ints
    "events_trend_slope" -> ((s, dir) =>
      EventsAnalytics.trendSlopes(t(s, dir, "events"))),
    // hourly LOCF gap-fill: per-user grid spanning the observed range,
    // last value in hour, empty hours carried forward
    "events_gap_fill" -> ((s, dir) =>
      EventsAnalytics.gapFill(t(s, dir, "events"))),
    // Pareto skyline on (value max, ts min): two-phase local-skyline +
    // merge, no global window
    "events_skyline" -> ((s, dir) =>
      EventsAnalytics.skyline(t(s, dir, "events"))),
    // rank-based winsorization: caps are actual data values at
    // ceil(p·n/100) ranks, clip is least/greatest passthrough
    "events_winsorize" -> ((s, dir) =>
      EventsAnalytics.winsorize(t(s, dir, "events"))),
    // division/sqrt-free z-score outlier flags (integer cross-multiplied)
    "events_value_outliers" -> ((s, dir) =>
      EventsAnalytics.valueOutliers(t(s, dir, "events"))),
    "events_retention_cohorts" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 604800000000000").as("week"))
      val firstWeek = ev.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      ev.join(firstWeek, Seq("user_id"))
        .groupBy(col("cohort_week"), col("week"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),
    // grouped top-k via the custom whole-operator tier (LogicalPlan +
    // Strategy + SparkPlan with bounded per-key heaps): first 3 events per
    // user under the total order (ts, event_id)
    "topk_per_user_events" -> ((s, dir) =>
      graft.plans.TopKPerKey.topKPerKey(
        t(s, dir, "events"), Seq("user_id"), Seq("ts", "event_id"), 3)
        // ts is Long ns; DuckDB reads the same parquet at µs precision, so
        // the comparable output is the µs value
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("ts_us"))),

    // ---- multimodal plumbing (binary columns) ----
    "multimodal_meta" -> ((s, dir) =>
      Multimodal.binaryMeta(
        Multimodal.assetsFromText(t(s, dir, "documents"), "doc_id", "text"))),
    // the mapPartitions stub decoder itself: deterministic fake header
    // parse, so even the per-partition iterator path is oracle-checked
    "multimodal_decode_stub" -> ((s, dir) =>
      Multimodal.fakeDecodeMeta(
        Multimodal.assetsFromText(t(s, dir, "documents"), "doc_id", "text"))),
    // REAL decode (no stub): per-row deterministic image → real PNG bytes
    // via the JDK's javax.imageio codec → decoded back; dimensions and the
    // (0,0) pixel read are predicted by the oracle from the source table
    "multimodal_decode_real" -> ((s, dir) =>
      Multimodal.pngRoundTripMeta(t(s, dir, "documents"))),
    // REAL audio decode: deterministic PCM16 buffer → real RIFF/WAVE bytes
    // via AudioSystem.write → parsed back by the JDK audio stack; sample
    // rate + integer amplitude stats recomputed from the DECODED frames
    // VAD energy gate: per-window integer energy over REAL decoded PCM
    // (long format, one row per window; last window ragged)
    "multimodal_wav_energy_windows" -> ((s, dir) =>
      Multimodal.wavEnergyWindows(t(s, dir, "documents"))),
    // RIFF chunk-table walk over real JDK-written WAV bytes; oracle
    // states the spec-canonical sizes (riff = 36 + 2n)
    "multimodal_riff_chunks" -> ((s, dir) =>
      Multimodal.wavRiffChunks(t(s, dir, "documents"))),
    "multimodal_decode_wav" -> ((s, dir) =>
      Multimodal.wavRoundTripMeta(t(s, dir, "documents"))),
    // REAL audio downsampling: decode-by-2 pair averaging (floor division)
    // over actually decoded RIFF/WAVE frames
    "multimodal_audio_decimate" -> ((s, dir) =>
      Multimodal.wavDecimateMeta(t(s, dir, "documents"))),
    // JPEG sibling of the real-decode key: lossy codec, so dims are
    // exact-oracled and the pixel read is a tolerance flag
    "multimodal_decode_jpeg" -> ((s, dir) =>
      Multimodal.jpegRoundTripMeta(t(s, dir, "documents"))),
    // the remaining JDK-shipped lossless codecs, same oracle as PNG
    "multimodal_decode_gif" -> ((s, dir) =>
      Multimodal.losslessRoundTripMeta(t(s, dir, "documents"), "gif")),
    "multimodal_decode_bmp" -> ((s, dir) =>
      Multimodal.losslessRoundTripMeta(t(s, dir, "documents"), "bmp")),
    // image near-dup: perceptual aHash over REAL decoded gradient PNGs
    // (8x8 grid, integer above-mean bits), then the exact-dedup group
    // shape on the signature — one shuffle on phash
    "image_phash_dedup" -> ((s, dir) =>
      Multimodal.imagePhashDedup(t(s, dir, "documents"))),
    // per-asset frame fan-out (the video frame-sampling shape)
    "multimodal_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrameOffsets(
        Multimodal.assetsFromText(t(s, dir, "documents"), "doc_id", "text"),
        nFrames = 4)),
    // aspect-preserving resize planning over the stub-decoded dims
    "multimodal_resize_stub" -> ((s, dir) =>
      Multimodal.resizeDims(Multimodal.fakeDecodeMeta(
        Multimodal.assetsFromText(t(s, dir, "documents"), "doc_id", "text")))),
    // REAL resize: gradient PNG round-trips the actual codec, then an
    // explicit nearest-neighbor kernel over the DECODED raster produces
    // the max-side-8 thumbnail; dims + exact resized-gray sum are oracled
    "multimodal_resize_real" -> ((s, dir) =>
      Multimodal.resizeRealMeta(t(s, dir, "documents"))),
    // Sobel gradient energy over REAL decoded PNG pixels: explicit 3x3
    // convolution on the linear-ramp image — the flat-frame/texture
    // screen; oracle is the closed-form ramp response (8*sx, 8*sy)
    "image_sobel_energy" -> ((s, dir) =>
      Multimodal.sobelEnergyMeta(t(s, dir, "documents"))),
    // two-level integer Haar band energies over REAL decoded PCM: the
    // cheapest time-frequency split (truncating div, matches //)
    // zero-crossing rate over REAL decoded PCM: sign alternations per
    // sample pair in exact ppm (the cheap voiced/unvoiced feature)
    "audio_zero_crossing_rate" -> ((s, dir) =>
      Multimodal.audioZeroCrossingRate(t(s, dir, "documents"))),
    "audio_haar_bands" -> ((s, dir) =>
      Multimodal.wavHaarBands(t(s, dir, "documents"))),
    // multi-frame (animated) GIF: k solid-gray frames written into ONE
    // real GIF89a payload via writeToSequence, decoded back frame by
    // frame — the video-shaped frame-extraction plumbing on the one
    // multi-image container the JDK ships
    "multimodal_gif_frames" -> ((s, dir) =>
      Multimodal.gifFramesMeta(t(s, dir, "documents"))),
    // shot-boundary detection over the decoded GIF frame stream: per-frame
    // gray deltas under a per-asset lag window (frames-per-asset bounded),
    // cut when |delta| >= 128 — the temporal-segmentation pass of a video
    // ingest, run on real container decode output
    "multimodal_gif_shot_cuts" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("asset_id")).orderBy(col("frame_idx"))
      Multimodal.gifFrameGrays(t(s, dir, "documents"))
        .withColumn("prev_gray", lag(col("gray"), 1).over(w))
        .filter(col("prev_gray").isNotNull)
        .withColumn("delta", abs(col("gray") - col("prev_gray")))
        .filter(col("delta") >= 128)
        .select(col("asset_id"), col("frame_idx"), col("gray"),
          col("prev_gray"), col("delta"))
    }),
    // decode-free metadata probe: real PNG payloads parsed by pure
    // substring/hex/conv expressions (signature + IHDR fields)
    "multimodal_png_header" -> ((s, dir) =>
      Multimodal.pngHeaderMeta(t(s, dir, "documents"))),
    // byte-level feature extraction (16-bucket histogram, long form)
    "multimodal_byte_histogram" -> ((s, dir) =>
      Multimodal.byteHistogram(
        Multimodal.assetsFromText(t(s, dir, "documents"), "doc_id", "text"))),

    // Z-order (Morton) clustering key over the two hottest event filter
    // dims — the multi-dimensional layout lever for file pruning at scale
    // (the write-side repartitionByRange(z) + sortWithinPartitions layout
    // itself is proven by LayoutSpec; this key verifies the curve math)
    "zorder_events" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        graft.engine.Layout.zValue(
          col("user_id").bitwiseAND(lit(65535L)),
          floor(col("value")).cast("long").bitwiseAND(lit(65535L)))
          .as("z"))),
    // the no-long-jump alternative: Hilbert curve index over the same two
    // dims (6 bits each — file-level clustering resolution) — consecutive
    // curve cells are always neighbors, so file envelopes are tighter
    // than Z-order's for the same sort
    "hilbert_events" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        graft.engine.Layout.hilbertValue(
          col("user_id").bitwiseAND(lit(63L)),
          floor(col("value")).cast("long").bitwiseAND(lit(63L)))
          .as("h"))),
    // data-skipping MEASUREMENT over the same two dims: files-read counts
    // for a 2-D box under natural vs Z-order vs Hilbert clustering — the
    // number the curve keys exist to improve, hash-checked
    "layout_prune_eval" -> ((s, dir) =>
      graft.engine.Layout.clusterPruneEval(
        t(s, dir, "events"),
        col("user_id").bitwiseAND(lit(63L)),
        floor(col("value")).cast("long").bitwiseAND(lit(63L)),
        col("event_id"))),

    // range (theta) join: events classified into value bands via a
    // broadcast non-equi join
    "events_value_band_join" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("low", 0.0, 50.0), ("mid", 50.0, 100.0),
        ("high", 100.0, 200.0), ("extreme", 200.0, 1e9))
        .toDF("band", "lo", "hi")
      t(s, dir, "events")
        .join(broadcast(bands),
          col("value") >= col("lo") && col("value") < col("hi"), "inner")
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("total"))
    })
  )

  /** SQL mirror of [[tokenGraphEdges]]: distinct undirected ±2-window token
    * pairs as CTE `e` — shared by the triangle and PageRank oracles.
    */
  /** Shared stupid-backoff bigram LM CTE chain (mirror of
    * Curation.bigramLmScore): `lm` is the per-doc (n_bigrams, lm_score)
    * relation. Used by the scoring oracle and the CCNet bucket oracle.
    */
  private val lmScoreCtes: String =
    "WITH toks AS (SELECT doc_id, coalesce(lang = 'en', false) AS is_train, " +
      "string_split(text, ' ') AS w FROM documents), " +
      "pr AS (SELECT doc_id, is_train, u.a AS a, u.b AS b FROM " +
      "(SELECT doc_id, is_train, unnest([struct_pack(a := w[i], b := w[i+1]) " +
      "FOR i IN generate_series(1, len(w) - 1)]) AS u FROM toks WHERE len(w) >= 2) x), " +
      "dp AS (SELECT doc_id, a, b, count(*) AS m FROM pr GROUP BY 1, 2, 3), " +
      "uni AS (SELECT tk, count(*) AS c1 FROM " +
      "(SELECT unnest(w) AS tk FROM toks WHERE is_train) GROUP BY 1), " +
      "bi AS (SELECT a, b, count(*) AS c2 FROM pr WHERE is_train GROUP BY 1, 2), " +
      "tot AS (SELECT count(*) AS n_train FROM " +
      "(SELECT unnest(w) FROM toks WHERE is_train)), " +
      "sc AS (SELECT dp.doc_id, dp.m, " +
      "CASE WHEN bi.c2 IS NOT NULL THEN (1000000 * bi.c2) // ua.c1 " +
      "ELSE (400000 * coalesce(ub.c1, 0)) // tot.n_train END AS s " +
      "FROM dp LEFT JOIN bi USING (a, b) " +
      "LEFT JOIN uni ua ON dp.a = ua.tk " +
      "LEFT JOIN uni ub ON dp.b = ub.tk CROSS JOIN tot), " +
      "lm AS (SELECT doc_id, sum(m) AS n_bigrams, " +
      "sum(m * s) AS lm_score FROM sc GROUP BY doc_id)"

  private val tokenEdgeCte: String =
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "p1 AS (SELECT unnest([{'id_a': least(w[i], w[i+1]), 'id_b': greatest(w[i], w[i+1])} " +
      "FOR i IN generate_series(1, len(w) - 1)], recursive := true) FROM toks), " +
      "p2 AS (SELECT unnest([{'id_a': least(w[i], w[i+2]), 'id_b': greatest(w[i], w[i+2])} " +
      "FOR i IN generate_series(1, len(w) - 2)], recursive := true) FROM toks), " +
      "e AS (SELECT DISTINCT id_a, id_b FROM " +
      "(SELECT * FROM p1 UNION ALL SELECT * FROM p2) u WHERE id_a != id_b)"

  /** Shared BPE training CTE chain (mirror of Curation.bpeMerges): v0 is
    * the space-padded symbol vocabulary with counts; one (pair-count →
    * argmax m$i → replace v$i) stage per merge, same non-overlapping
    * left-to-right replace as Spark's UTF8String.replace. Used by both the
    * training oracle (reads m1..mN) and the encode oracle (reads vN).
    */
  private def bpeTrainCtes(n: Int): String = {
    val v0 = "v0 AS (SELECT tk, cnt, ' ' || " +
      "array_to_string([tk[i] FOR i IN generate_series(1, length(tk))], ' ') " +
      "|| ' ' AS repr FROM (SELECT tk, count(*) AS cnt FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS tk FROM documents) u " +
      "GROUP BY tk) g)"
    val stages = (1 to n).map { i =>
      s"p$i AS (SELECT p AS pair, sum(cnt) AS n FROM (SELECT cnt, " +
        "unnest([syms[j] || ' ' || syms[j+1] " +
        "FOR j IN generate_series(1, len(syms) - 1)]) AS p FROM " +
        s"(SELECT cnt, string_split(trim(repr), ' ') AS syms FROM v${i - 1}) t) s " +
        "GROUP BY p), " +
        s"m$i AS (SELECT pair, n FROM p$i ORDER BY n DESC, pair LIMIT 1), " +
        s"v$i AS (SELECT tk, cnt, replace(repr, " +
        s"' ' || (SELECT pair FROM m$i) || ' ', " +
        s"' ' || replace((SELECT pair FROM m$i), ' ', '') || ' ') AS repr " +
        s"FROM v${i - 1})"
    }.mkString(", ")
    v0 + ", " + stages
  }

  /** Brute-force ALL-pairs Hamming oracle (no chunk logic): hash-matching
    * against this proves the engine's pigeonhole candidate generation loses
    * no pair within the radius.
    */
  private def simhashBruteForceOracle(maxDist: Int, bits: Int = 64): String =
    "WITH toks AS (SELECT DISTINCT doc_id, t FROM (SELECT doc_id, " +
      "unnest(string_split(text, ' ')) AS t FROM documents) u), " +
      s"hb AS (SELECT doc_id, md5(t) AS h, unnest(generate_series(0, ${bits - 1})) AS b FROM toks), " +
      "bits AS (SELECT doc_id, b, " +
      "((('0x' || substr(h, 1 + CAST(b // 4 AS INT), 1))::BIGINT >> CAST(3 - b % 4 AS INT)) & 1) AS bit FROM hb), " +
      "votes AS (SELECT doc_id, b, sum(bit * 2 - 1) AS vote FROM bits GROUP BY doc_id, b), " +
      "sigs AS (SELECT doc_id, string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash " +
      "FROM votes GROUP BY doc_id), " +
      "d AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      s"CAST(len(list_filter(generate_series(1, $bits), " +
      "i -> substr(a.simhash, i, 1) != substr(b.simhash, i, 1))) AS INTEGER) AS dist " +
      "FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id) " +
      s"SELECT id_a, id_b, dist FROM d WHERE dist <= $maxDist"

  /** Mirror of [[Similarity.kMeansCentroids]] + [[Similarity.ivfTopK]]: the
    * same fixed seed (the training sample's first `nCells` vectors), the
    * same deterministic 1-in-`trainMod` training sample, the same Lloyd
    * iterations (squared-L2 assignment on `round(list_sum(...), 9)`
    * sequential double sums, per-dimension DECIMAL-sum/double-divide
    * centroid update), the same probe and final cosine scoring —
    * hash-matching this proves the engine's quantizer is real
    * data-dependent k-means, not a placeholder.
    */
  // Shared k-means oracle SQL builders (the Lloyd-iteration contract BOTH
  // the IVF and PQ oracles must express identically — one definition, so a
  // precision tweak cannot desynchronize them): squared-L2 distances as
  // round(...,9) sequential sums, argmin with cell_id tie-break, DECIMAL
  // per-dimension means divided once in double.
  private def kmDist(eRel: String, cRel: String, out: String) =
    s"$out AS (SELECT e.vec_id, c.cell_id, e.embedding, round(list_sum([" +
      "(CAST(e.embedding[i] AS DOUBLE) - c.c[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.c[i]) " +
      s"FOR i IN generate_series(1, len(e.embedding))]), 9) AS d2 FROM $eRel e, $cRel c)"
  private def kmArgmin(dRel: String, out: String) =
    s"$out AS (SELECT vec_id, cell_id, embedding FROM (SELECT vec_id, cell_id, embedding, " +
      s"row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell_id) AS rn FROM $dRel) t WHERE rn = 1)"
  private def kmUpdate(aRel: String, uOut: String, cOut: String) =
    s"$uOut AS (SELECT cell_id, unnest([{'pos': i, 'v': CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,16))} " +
      s"FOR i IN generate_series(1, len(embedding))], recursive := true) FROM $aRel), " +
      s"$cOut AS (SELECT cell_id, list(v ORDER BY pos) AS c FROM (SELECT cell_id, pos, " +
      s"CAST(sum(v) AS DOUBLE) / count(*) AS v FROM $uOut GROUP BY cell_id, pos) g GROUP BY cell_id)"

  /** Triangle enumeration + per-node participation over an `e(id_a,
    * id_b)` edge CTE (canonical id_a < id_b): the a<b<c three-way join
    * finds each triangle once — orientation-independent, so it verifies
    * the engine's degree-oriented algorithm exactly.
    */
  private def triangleSql(edgeCte: String): String =
    edgeCte + ", " +
      "t AS (SELECT ab.id_a AS a, ab.id_b AS b, bc.id_b AS c FROM e ab " +
      "JOIN e bc ON bc.id_a = ab.id_b " +
      "JOIN e ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b), " +
      "n AS (SELECT unnest([a, b, c]) AS node_id FROM t) " +
      "SELECT node_id, CAST(count(*) AS BIGINT) AS n_triangles " +
      "FROM n GROUP BY node_id"

  /** Mirror of [[Similarity.clusterBalancedSample]] (and its index-probe
    * twin): the shared Lloyd chain (nCells=16, iters=2, trainMod=4),
    * full-corpus argmin assignment, then the lowest-10-vec_id quota per
    * cell.
    */
  private lazy val clusterBalancedOracle: String = {
    val iters = 2
    val iterCtes = (1 to iters).map { i =>
      kmDist("train", s"c${i - 1}", s"a${i}d") + ", " +
        kmArgmin(s"a${i}d", s"a$i") + ", " + kmUpdate(s"a$i", s"u$i", s"c$i")
    }.mkString(", ")
    "WITH train AS (SELECT * FROM embeddings WHERE vec_id % 4 = 0), " +
      "c0 AS (SELECT vec_id AS cell_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS c " +
      "FROM train WHERE vec_id < 64), " + iterCtes + ", " +
      kmDist("embeddings", s"c$iters", "afd") + ", " + kmArgmin("afd", "af") + " " +
      "SELECT cell_id, vec_id FROM (SELECT cell_id, vec_id, " +
      "row_number() OVER (PARTITION BY cell_id ORDER BY vec_id) AS rn FROM af) t " +
      "WHERE rn <= 10"
  }

  /** Coarse-quantizer CTE chain shared by the IVF and IVF-PQ oracles: the
    * fixed-seed Lloyd iterations over the `1-in-trainMod` training sample,
    * the full-corpus assignment `af(vec_id, cell_id, embedding)` and the
    * query's `probe(cell_id)` set — one definition, so the two keys cannot
    * desynchronize.
    */
  private def coarseCtes(
      nCells: Int, nProbe: Int, iters: Int, queryId: Long, trainMod: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      kmDist("train", s"c${i - 1}", s"a${i}d") + ", " +
        kmArgmin(s"a${i}d", s"a$i") + ", " + kmUpdate(s"a$i", s"u$i", s"c$i")
    }.mkString(", ")
    s"train AS (SELECT * FROM embeddings WHERE vec_id % $trainMod = 0), " +
      s"c0 AS (SELECT vec_id AS cell_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS c " +
      s"FROM train WHERE vec_id < ${nCells.toLong * trainMod}), " + iterCtes + ", " +
      kmDist("embeddings", s"c$iters", "afd") + ", " + kmArgmin("afd", "af") + ", " +
      "probe AS (SELECT cell_id FROM (SELECT cell_id, row_number() OVER (ORDER BY d2, cell_id) AS rn " +
      s"FROM afd WHERE vec_id = $queryId) p WHERE rn <= $nProbe)"
  }

  /** Adaptive-parameter CTE shared by the oracles of the adaptive-nlist
    * engine functions ([[Similarity.knnJoinIvf]], [[Similarity.annRecallIvf]],
    * [[Similarity.semDedupKeep]], the index build): derives the SAME dials
    * from the oracle's own `count(*)` that the Spark side derives from its
    * live corpus count — `qm = max(100, n/500)` (the ~500-query recall
    * sample) and the FAISS-nlist cell count `2^min(12, max(4,
    * bitlength(n/4096)))`, exposed pre-multiplied by `trainMod` as the c0
    * seed cut `cseed`. Keeping the rule in the SQL (the cosinePairCtes
    * `length(bin(...))` pattern) means a regenerated or larger fixture can
    * never strand the oracle on a stale (100, 16) while the engine adapts.
    */
  private def adaptivePrmCte(trainMod: Int): String =
    "prm AS (SELECT greatest(100, count(*) // 500) AS qm, " +
      "(1 << least(12, greatest(4, length(bin(greatest(count(*) // 4096, 1)))))) " +
      s"* $trainMod AS cseed FROM embeddings)"

  /** `vec_id < <seed cut>` — literal when `nCells` is explicit, the prm
    * scalar subquery when adaptive (nCells <= 0). */
  private def seedCut(nCells: Int, trainMod: Int): String =
    if (nCells > 0) s"vec_id < ${nCells.toLong * trainMod}"
    else "vec_id < (SELECT cseed FROM prm)"

  /** `vec_id % <query modulus> = 0` — literal or adaptive, as above. */
  private def queryCut(queryMod: Int): String =
    if (queryMod > 0) s"vec_id % $queryMod = 0"
    else "vec_id % (SELECT qm FROM prm) = 0"

  /** Mirror of [[Similarity.knnJoinIvf]]: the shared Lloyd chain, per-vector
    * nProbe probe cells, within-cell cosine pairs, per-query top-k.
    * `nCells <= 0` mirrors the engine's adaptive-nlist default.
    */
  private def knnJoinOracle(
      nCells: Int, nProbe: Int, iters: Int, trainMod: Int, k: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      kmDist("train", s"c${i - 1}", s"a${i}d") + ", " +
        kmArgmin(s"a${i}d", s"a$i") + ", " + kmUpdate(s"a$i", s"u$i", s"c$i")
    }.mkString(", ")
    s"WITH ${adaptivePrmCte(trainMod)}, " +
      s"train AS (SELECT * FROM embeddings WHERE vec_id % $trainMod = 0), " +
      s"c0 AS (SELECT vec_id AS cell_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS c " +
      s"FROM train WHERE ${seedCut(nCells, trainMod)}), " + iterCtes + ", " +
      kmDist("embeddings", s"c$iters", "afd") + ", " + kmArgmin("afd", "af") + ", " +
      "probes AS (SELECT vec_id, cell_id, embedding FROM (SELECT vec_id, cell_id, embedding, " +
      s"row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell_id) AS rn FROM afd) t WHERE rn <= $nProbe), " +
      "pairs AS (SELECT p.vec_id, i.vec_id AS nbr_id, " +
      "round(list_sum([CAST(p.embedding[j] AS DOUBLE) * CAST(i.embedding[j] AS DOUBLE) FOR j IN generate_series(1, len(p.embedding))]) / " +
      "(sqrt(list_sum([CAST(p.embedding[j] AS DOUBLE) * CAST(p.embedding[j] AS DOUBLE) FOR j IN generate_series(1, len(p.embedding))])) * " +
      "sqrt(list_sum([CAST(i.embedding[j] AS DOUBLE) * CAST(i.embedding[j] AS DOUBLE) FOR j IN generate_series(1, len(i.embedding))]))), 6) AS sim " +
      "FROM probes p JOIN af i ON p.cell_id = i.cell_id AND p.vec_id != i.vec_id) " +
      "SELECT vec_id, nbr_id, sim FROM (SELECT vec_id, nbr_id, sim, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS rn " +
      s"FROM pairs) t WHERE rn <= $k"
  }

  /** Mirror of [[Similarity.ivfPqResidualTopK]]: the coarse chain, FLOAT
    * residuals, per-subspace Lloyd over residual slices, per-probed-cell
    * query tables, candidate-restricted ADC, exact rerank.
    */
  private def ivfpqResidualOracle(
      nCells: Int, nProbe: Int, coarseIters: Int, coarseTrainMod: Int,
      m: Int, subDim: Int, ksub: Int, pqIters: Int, pqTrainMod: Int,
      k: Int, shortK: Int, queryId: Long): String = {
    val subCtes = (0 until m).map { s =>
      val lo = s * subDim + 1; val hi = (s + 1) * subDim
      val kmeans = (1 to pqIters).map { i =>
        kmDist(s"train_$s", s"c${i - 1}_$s", s"a${i}d_$s") + ", " +
          kmArgmin(s"a${i}d_$s", s"a${i}_$s") + ", " +
          kmUpdate(s"a${i}_$s", s"u${i}_$s", s"c${i}_$s")
      }.mkString(", ")
      s"es_$s AS (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM rs), " +
        s"train_$s AS (SELECT * FROM es_$s WHERE vec_id % $pqTrainMod = 0), " +
        s"c0_$s AS (SELECT vec_id AS cell_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS c " +
        s"FROM train_$s WHERE vec_id < ${ksub.toLong * pqTrainMod}), " + kmeans + ", " +
        kmDist(s"es_$s", s"c${pqIters}_$s", s"cd_$s") + ", " +
        kmArgmin(s"cd_$s", s"codes_$s") + ", " +
        s"qs_$s AS (SELECT pcell, embedding[$lo:$hi] AS embedding FROM qr), " +
        s"dtab_$s AS (SELECT q.pcell, c.cell_id, round(list_sum([" +
        "(CAST(q.embedding[i] AS DOUBLE) - c.c[i]) * (CAST(q.embedding[i] AS DOUBLE) - c.c[i]) " +
        s"FOR i IN generate_series(1, len(q.embedding))]), 9) AS d2q " +
        s"FROM c${pqIters}_$s c, qs_$s q)"
    }.mkString(", ")
    val codesU = (0 until m)
      .map(s => s"SELECT vec_id, $s AS sub, cell_id FROM codes_$s").mkString(" UNION ALL ")
    val dtabU = (0 until m)
      .map(s => s"SELECT pcell, $s AS sub, cell_id, d2q FROM dtab_$s").mkString(" UNION ALL ")
    "WITH " + coarseCtes(nCells, nProbe, coarseIters, queryId, coarseTrainMod) + ", " +
      s"rs AS (SELECT a.vec_id, a.cell_id, [CAST(CAST(a.embedding[i] AS DOUBLE) - c.c[i] AS FLOAT) " +
      s"FOR i IN generate_series(1, len(a.embedding))] AS embedding " +
      s"FROM af a JOIN c$coarseIters c ON a.cell_id = c.cell_id), " +
      s"qr AS (SELECT p.cell_id AS pcell, [CAST(CAST(q.embedding[i] AS DOUBLE) - c.c[i] AS FLOAT) " +
      s"FOR i IN generate_series(1, len(q.embedding))] AS embedding " +
      s"FROM probe p JOIN c$coarseIters c ON p.cell_id = c.cell_id, " +
      s"(SELECT embedding FROM embeddings WHERE vec_id = $queryId) q), " +
      subCtes + ", " +
      s"codes AS ($codesU), dtab AS ($dtabU), " +
      s"cand AS (SELECT r.vec_id, r.cell_id AS pcell FROM rs r " +
      s"JOIN probe p ON r.cell_id = p.cell_id WHERE r.vec_id != $queryId), " +
      "adc AS (SELECT c2.vec_id, sum(CAST(d2q AS DECIMAL(38,9))) AS adc " +
      "FROM codes c2 JOIN cand USING (vec_id) " +
      "JOIN dtab ON dtab.pcell = cand.pcell AND dtab.sub = c2.sub " +
      "AND dtab.cell_id = c2.cell_id GROUP BY c2.vec_id), " +
      "short AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER " +
      s"(ORDER BY adc, vec_id) AS rn FROM adc) t WHERE rn <= $shortK), " +
      rerankTail(k, queryId)
  }

  /** Mirror of [[Similarity.annRecallIvf]]: exact top-k vs IVF-probed
    * top-k over the same Lloyd chain, per-query hit counts.
    */
  private def annRecallOracle(
      k: Int, queryMod: Int, nCells: Int, nProbe: Int, iters: Int,
      trainMod: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      kmDist("train", s"c${i - 1}", s"a${i}d") + ", " +
        kmArgmin(s"a${i}d", s"a$i") + ", " + kmUpdate(s"a$i", s"u$i", s"c$i")
    }.mkString(", ")
    def cos(a: String, b: String) =
      s"round(list_sum([CAST($a.embedding[j] AS DOUBLE) * CAST($b.embedding[j] AS DOUBLE) " +
        s"FOR j IN generate_series(1, len($a.embedding))]) / " +
        s"(sqrt(list_sum([CAST($a.embedding[j] AS DOUBLE) * CAST($a.embedding[j] AS DOUBLE) " +
        s"FOR j IN generate_series(1, len($a.embedding))])) * " +
        s"sqrt(list_sum([CAST($b.embedding[j] AS DOUBLE) * CAST($b.embedding[j] AS DOUBLE) " +
        s"FOR j IN generate_series(1, len($b.embedding))]))), 6)"
    s"WITH ${adaptivePrmCte(trainMod)}, " +
      s"train AS (SELECT * FROM embeddings WHERE vec_id % $trainMod = 0), " +
      s"c0 AS (SELECT vec_id AS cell_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS c " +
      s"FROM train WHERE ${seedCut(nCells, trainMod)}), " + iterCtes + ", " +
      kmDist("embeddings", s"c$iters", "afd") + ", " + kmArgmin("afd", "af") + ", " +
      s"qs AS (SELECT vec_id, embedding FROM embeddings WHERE ${queryCut(queryMod)}), " +
      "ep AS (SELECT q.vec_id AS qid, e.vec_id AS nbr, " + cos("q", "e") + " AS sim " +
      "FROM qs q JOIN embeddings e ON e.vec_id != q.vec_id), " +
      "et AS (SELECT qid, nbr FROM (SELECT qid, nbr, row_number() OVER " +
      s"(PARTITION BY qid ORDER BY sim DESC, nbr) AS rn FROM ep) t WHERE rn <= $k), " +
      "qp AS (SELECT vec_id AS qid, cell_id FROM (SELECT vec_id, cell_id, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell_id) AS rn " +
      s"FROM afd WHERE ${queryCut(queryMod)}) t WHERE rn <= $nProbe), " +
      "ap AS (SELECT p.qid, i.vec_id AS nbr, " + cos("q", "i") + " AS sim " +
      "FROM qp p JOIN af i ON i.cell_id = p.cell_id AND i.vec_id != p.qid " +
      "JOIN qs q ON q.vec_id = p.qid), " +
      "at2 AS (SELECT qid, nbr FROM (SELECT qid, nbr, row_number() OVER " +
      s"(PARTITION BY qid ORDER BY sim DESC, nbr) AS rn FROM ap) t WHERE rn <= $k), " +
      "h AS (SELECT qid, count(*) AS n FROM et JOIN at2 USING (qid, nbr) GROUP BY qid) " +
      "SELECT q.vec_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits " +
      "FROM qs q LEFT JOIN h ON h.qid = q.vec_id"
  }

  /** [[annRecallOracle]]'s probe-dependent tail replicated per curve point
    * over one shared training/truth prefix, UNION ALL'd. */
  private def annRecallCurveOracle(
      k: Int, queryMod: Int, nCells: Int, probes: Seq[Int], iters: Int,
      trainMod: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      kmDist("train", s"c${i - 1}", s"a${i}d") + ", " +
        kmArgmin(s"a${i}d", s"a$i") + ", " + kmUpdate(s"a$i", s"u$i", s"c$i")
    }.mkString(", ")
    def cos(a: String, b: String) =
      s"round(list_sum([CAST($a.embedding[j] AS DOUBLE) * CAST($b.embedding[j] AS DOUBLE) " +
        s"FOR j IN generate_series(1, len($a.embedding))]) / " +
        s"(sqrt(list_sum([CAST($a.embedding[j] AS DOUBLE) * CAST($a.embedding[j] AS DOUBLE) " +
        s"FOR j IN generate_series(1, len($a.embedding))])) * " +
        s"sqrt(list_sum([CAST($b.embedding[j] AS DOUBLE) * CAST($b.embedding[j] AS DOUBLE) " +
        s"FOR j IN generate_series(1, len($b.embedding))]))), 6)"
    val perProbe = probes.map { p =>
      s"qp$p AS (SELECT vec_id AS qid, cell_id FROM (SELECT vec_id, cell_id, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell_id) AS rn " +
        s"FROM afd WHERE ${queryCut(queryMod)}) t WHERE rn <= $p), " +
        s"ap$p AS (SELECT p.qid, i.vec_id AS nbr, " + cos("q", "i") + " AS sim " +
        s"FROM qp$p p JOIN af i ON i.cell_id = p.cell_id AND i.vec_id != p.qid " +
        "JOIN qs q ON q.vec_id = p.qid), " +
        s"atk$p AS (SELECT qid, nbr FROM (SELECT qid, nbr, row_number() OVER " +
        s"(PARTITION BY qid ORDER BY sim DESC, nbr) AS rn FROM ap$p) t WHERE rn <= $k), " +
        s"h$p AS (SELECT qid, count(*) AS n FROM et JOIN atk$p USING (qid, nbr) GROUP BY qid)"
    }.mkString(", ")
    val points = probes.map { p =>
      s"SELECT CAST($p AS BIGINT) AS nprobe, q.vec_id, " +
        s"CAST(coalesce(h$p.n, 0) AS BIGINT) AS n_hits " +
        s"FROM qs q LEFT JOIN h$p ON h$p.qid = q.vec_id"
    }.mkString(" UNION ALL ")
    s"WITH ${adaptivePrmCte(trainMod)}, " +
      s"train AS (SELECT * FROM embeddings WHERE vec_id % $trainMod = 0), " +
      s"c0 AS (SELECT vec_id AS cell_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS c " +
      s"FROM train WHERE ${seedCut(nCells, trainMod)}), " + iterCtes + ", " +
      kmDist("embeddings", s"c$iters", "afd") + ", " + kmArgmin("afd", "af") + ", " +
      s"qs AS (SELECT vec_id, embedding FROM embeddings WHERE ${queryCut(queryMod)}), " +
      "ep AS (SELECT q.vec_id AS qid, e.vec_id AS nbr, " + cos("q", "e") + " AS sim " +
      "FROM qs q JOIN embeddings e ON e.vec_id != q.vec_id), " +
      "et AS (SELECT qid, nbr FROM (SELECT qid, nbr, row_number() OVER " +
      s"(PARTITION BY qid ORDER BY sim DESC, nbr) AS rn FROM ep) t WHERE rn <= $k), " +
      perProbe + " " + points
  }

  private def ivfKmeansOracle(
      nCells: Int, nProbe: Int, iters: Int, k: Int, queryId: Long,
      trainMod: Int = 1): String =
    "WITH " + coarseCtes(nCells, nProbe, iters, queryId, trainMod) + ", " +
      s"q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $queryId) " +
      "SELECT e.vec_id, round(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) FOR i IN generate_series(1, len(e.embedding))]) / " +
      "(sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) FOR i IN generate_series(1, len(e.embedding))])) * " +
      "sqrt(list_sum([CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) FOR i IN generate_series(1, len(q.qe))]))), 6) AS sim " +
      "FROM embeddings e JOIN af a ON e.vec_id = a.vec_id JOIN probe p ON a.cell_id = p.cell_id, q " +
      s"WHERE e.vec_id != $queryId ORDER BY sim DESC, e.vec_id LIMIT $k"

  /** Mirror of [[Similarity.pqTopK]]: per-subspace sliced embeddings run the
    * same fixed-seed Lloyd chain as the IVF oracle, codes are the final
    * argmin assignment, the query's per-subspace distance tables use the
    * same rounded sequential sums, and the ADC is an order-independent
    * DECIMAL(38,9) sum of table lookups — so the hash-match proves codebook
    * training, encoding, ADC scoring and the rerank all agree.
    */
  /** Per-subspace PQ CTE chain shared by the PQ and IVF-PQ oracles: each
    * subspace slice runs the fixed-seed Lloyd chain, `codes(vec_id, sub,
    * cell_id)` is the final argmin encoding and `dtab(sub, cell_id, d2q)`
    * the query's distance tables — one definition for both keys.
    */
  private def pqSubspaceCtes(
      m: Int, subDim: Int, ksub: Int, iters: Int, queryId: Long,
      trainMod: Int): String = {
    val (dist, argmin, update) = (kmDist _, kmArgmin _, kmUpdate _)
    val subCtes = (0 until m).map { s =>
      val lo = s * subDim + 1; val hi = (s + 1) * subDim
      val kmeans = (1 to iters).map { i =>
        dist(s"train_$s", s"c${i - 1}_$s", s"a${i}d_$s") + ", " +
          argmin(s"a${i}d_$s", s"a${i}_$s") + ", " +
          update(s"a${i}_$s", s"u${i}_$s", s"c${i}_$s")
      }.mkString(", ")
      s"es_$s AS (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM embeddings), " +
        s"train_$s AS (SELECT * FROM es_$s WHERE vec_id % $trainMod = 0), " +
        s"c0_$s AS (SELECT vec_id AS cell_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS c " +
        s"FROM train_$s WHERE vec_id < ${ksub.toLong * trainMod}), " + kmeans + ", " +
        dist(s"es_$s", s"c${iters}_$s", s"cd_$s") + ", " + argmin(s"cd_$s", s"codes_$s") + ", " +
        s"dtab_$s AS (SELECT c.cell_id, round(list_sum([" +
        "(CAST(q.embedding[i] AS DOUBLE) - c.c[i]) * (CAST(q.embedding[i] AS DOUBLE) - c.c[i]) " +
        s"FOR i IN generate_series(1, len(q.embedding))]), 9) AS d2q FROM c${iters}_$s c, " +
        s"(SELECT embedding[$lo:$hi] AS embedding FROM embeddings WHERE vec_id = $queryId) q)"
    }.mkString(", ")
    val codesU = (0 until m)
      .map(s => s"SELECT vec_id, $s AS sub, cell_id FROM codes_$s").mkString(" UNION ALL ")
    val dtabU = (0 until m)
      .map(s => s"SELECT $s AS sub, cell_id, d2q FROM dtab_$s").mkString(" UNION ALL ")
    s"$subCtes, codes AS ($codesU), dtab AS ($dtabU)"
  }

  /** Exact-cosine rerank tail over a shortlist relation `short(vec_id)`. */
  private def rerankTail(k: Int, queryId: Long): String =
    s"qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $queryId) " +
      "SELECT e.vec_id, round(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) FOR i IN generate_series(1, len(e.embedding))]) / " +
      "(sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) FOR i IN generate_series(1, len(e.embedding))])) * " +
      "sqrt(list_sum([CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) FOR i IN generate_series(1, len(q.qe))]))), 6) AS sim " +
      "FROM embeddings e JOIN short USING (vec_id), qv q " +
      s"ORDER BY sim DESC, e.vec_id LIMIT $k"

  private def pqOracle(
      m: Int, subDim: Int, ksub: Int, iters: Int, k: Int, shortK: Int,
      queryId: Long, trainMod: Int): String =
    "WITH " + pqSubspaceCtes(m, subDim, ksub, iters, queryId, trainMod) + ", " +
      "adc AS (SELECT vec_id, sum(CAST(d2q AS DECIMAL(38,9))) AS adc " +
      s"FROM codes JOIN dtab USING (sub, cell_id) WHERE vec_id != $queryId GROUP BY vec_id), " +
      "short AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER " +
      s"(ORDER BY adc, vec_id) AS rn FROM adc) t WHERE rn <= $shortK), " +
      rerankTail(k, queryId)

  /** Mirror of [[Similarity.ivfPqTopK]]: the [[coarseCtes]] chain restricts
    * candidates to the probed cells, the [[pqSubspaceCtes]] codes/tables
    * score ONLY those candidates, and the ADC shortlist is re-ranked by
    * exact cosine — proving the composed index end-to-end.
    */
  private def ivfpqOracle(
      nCells: Int, nProbe: Int, coarseIters: Int, coarseTrainMod: Int,
      m: Int, subDim: Int, ksub: Int, pqIters: Int, pqTrainMod: Int,
      k: Int, shortK: Int, queryId: Long): String =
    "WITH " + coarseCtes(nCells, nProbe, coarseIters, queryId, coarseTrainMod) + ", " +
      pqSubspaceCtes(m, subDim, ksub, pqIters, queryId, pqTrainMod) + ", " +
      "cand AS (SELECT a.vec_id FROM af a JOIN probe p ON a.cell_id = p.cell_id " +
      s"WHERE a.vec_id != $queryId), " +
      "adc AS (SELECT vec_id, sum(CAST(d2q AS DECIMAL(38,9))) AS adc " +
      "FROM codes JOIN dtab USING (sub, cell_id) JOIN cand USING (vec_id) GROUP BY vec_id), " +
      "short AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER " +
      s"(ORDER BY adc, vec_id) AS rn FROM adc) t WHERE rn <= $shortK), " +
      rerankTail(k, queryId)

  /** Mirror of [[Similarity.semDedupKeep]]: the same fixed-seed Lloyd chain
    * as the IVF/PQ oracles (one definition, [[kmDist]]/[[kmArgmin]]/
    * [[kmUpdate]]), within-cell cosine pairs as sequential double sums,
    * exact transitive closure, keep = not a non-representative member.
    */
  private def semDedupOracle(
      nCells: Int, iters: Int, trainMod: Int, minSim: Double): String = {
    val iterCtes = (1 to iters).map { i =>
      kmDist("train", s"c${i - 1}", s"a${i}d") + ", " +
        kmArgmin(s"a${i}d", s"a$i") + ", " + kmUpdate(s"a$i", s"u$i", s"c$i")
    }.mkString(", ")
    s"WITH RECURSIVE ${adaptivePrmCte(trainMod)}, " +
      s"train AS (SELECT * FROM embeddings WHERE vec_id % $trainMod = 0), " +
      s"c0 AS (SELECT vec_id AS cell_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS c " +
      s"FROM train WHERE ${seedCut(nCells, trainMod)}), " + iterCtes + ", " +
      kmDist("embeddings", s"c$iters", "afd") + ", " + kmArgmin("afd", "af") + ", " +
      "nn AS (SELECT vec_id, cell_id, embedding, " +
      "sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) " +
      "FOR i IN generate_series(1, len(embedding))])) AS nrm FROM af), " +
      "p0 AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
      "round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) " +
      "FOR i IN generate_series(1, len(a.embedding))]) / (a.nrm * b.nrm), 6) AS sim " +
      "FROM nn a JOIN nn b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id), " +
      s"cpairs AS (SELECT id_a, id_b FROM p0 WHERE sim >= $minSim), " +
      closureCtes("cpairs") + ", " +
      "comp AS (SELECT src, min(dst) AS component FROM reach GROUP BY src) " +
      "SELECT vec_id, label FROM embeddings WHERE vec_id NOT IN " +
      "(SELECT src FROM comp WHERE component != src)"
  }

  /** Mirror of [[Similarity.semDedupKeepHier]]: the flat chain's top level,
    * then a GROUPED Lloyd per oversized cell — per-parent row_number seeds,
    * distances/argmin/update carrying the parent key `g` — members of split
    * cells re-assigned to (cell, sub-cell) leaves (-1 for unsplit), pairs
    * joined on the leaf key, exact closure, keep = representatives. The
    * grouped CTE builders are hier-local on purpose: extending the shared
    * kmDist/kmArgmin/kmUpdate with a group column would touch every
    * committed quantizer oracle.
    */
  private def semDedupHierOracle(
      topCells: Int, maxPop: Long, subCells: Int, iters: Int, trainMod: Int,
      minSim: Double): String = {
    val topIter = (1 to iters).map { i =>
      kmDist("train", s"c${i - 1}", s"a${i}d") + ", " +
        kmArgmin(s"a${i}d", s"a$i") + ", " + kmUpdate(s"a$i", s"u$i", s"c$i")
    }.mkString(", ")
    def gDist(eRel: String, cRel: String, out: String) =
      s"$out AS (SELECT e.g, e.vec_id, c.cell_id, e.embedding, round(list_sum([" +
        "(CAST(e.embedding[i] AS DOUBLE) - c.c[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.c[i]) " +
        s"FOR i IN generate_series(1, len(e.embedding))]), 9) AS d2 " +
        s"FROM $eRel e JOIN $cRel c ON e.g = c.g)"
    def gArgmin(dRel: String, out: String) =
      s"$out AS (SELECT g, vec_id, cell_id, embedding FROM (SELECT g, vec_id, cell_id, embedding, " +
        s"row_number() OVER (PARTITION BY g, vec_id ORDER BY d2, cell_id) AS rn FROM $dRel) t WHERE rn = 1)"
    def gUpdate(aRel: String, uOut: String, cOut: String) =
      s"$uOut AS (SELECT g, cell_id, unnest([{'pos': i, 'v': CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,16))} " +
        s"FOR i IN generate_series(1, len(embedding))], recursive := true) FROM $aRel), " +
        s"$cOut AS (SELECT g, cell_id, list(v ORDER BY pos) AS c FROM (SELECT g, cell_id, pos, " +
        s"CAST(sum(v) AS DOUBLE) / count(*) AS v FROM $uOut GROUP BY g, cell_id, pos) x GROUP BY g, cell_id)"
    val subIter = (1 to iters).map { i =>
      gDist("st", s"s${i - 1}", s"g${i}d") + ", " +
        gArgmin(s"g${i}d", s"g$i") + ", " + gUpdate(s"g$i", s"gu$i", s"s$i")
    }.mkString(", ")
    s"WITH RECURSIVE train AS (SELECT * FROM embeddings WHERE vec_id % $trainMod = 0), " +
      s"c0 AS (SELECT vec_id AS cell_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS c " +
      s"FROM train WHERE vec_id < ${topCells.toLong * trainMod}), " + topIter + ", " +
      kmDist("embeddings", s"c$iters", "afd") + ", " + kmArgmin("afd", "af") + ", " +
      s"big AS (SELECT cell_id AS g FROM af GROUP BY 1 HAVING count(*) > $maxPop), " +
      "bm AS (SELECT b.g, a.vec_id, a.embedding FROM af a JOIN big b ON a.cell_id = b.g), " +
      s"st AS (SELECT * FROM bm WHERE vec_id % $trainMod = 0), " +
      "s0 AS (SELECT g, vec_id AS cell_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS c " +
      "FROM (SELECT g, vec_id, embedding, row_number() OVER " +
      s"(PARTITION BY g ORDER BY vec_id) AS rn FROM st) t WHERE rn <= $subCells), " +
      subIter + ", " +
      gDist("bm", s"s$iters", "bmd") + ", " + gArgmin("bmd", "bma") + ", " +
      "leaf AS (SELECT a.vec_id, a.cell_id, coalesce(s.cell_id, -1) AS sub_id, a.embedding " +
      "FROM af a LEFT JOIN bma s ON s.vec_id = a.vec_id), " +
      "nn AS (SELECT vec_id, cell_id, sub_id, embedding, " +
      "sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) " +
      "FOR i IN generate_series(1, len(embedding))])) AS nrm FROM leaf), " +
      "p0 AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
      "round(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) " +
      "FOR i IN generate_series(1, len(a.embedding))]) / (a.nrm * b.nrm), 6) AS sim " +
      "FROM nn a JOIN nn b ON a.cell_id = b.cell_id AND a.sub_id = b.sub_id " +
      "AND a.vec_id < b.vec_id), " +
      s"cpairs AS (SELECT id_a, id_b FROM p0 WHERE sim >= $minSim), " +
      closureCtes("cpairs") + ", " +
      "comp AS (SELECT src, min(dst) AS component FROM reach GROUP BY src) " +
      "SELECT vec_id, label FROM embeddings WHERE vec_id NOT IN " +
      "(SELECT src FROM comp WHERE component != src)"
  }

  /** Shared CTE chain for the Mann-Kendall per-type trend statistics
    * (mirrors [[EventsAnalytics.mannKendallDailyTrend]]): ends in
    * `zz(event_type, n_days, s_stat, tie_term, var18, z2_milli)`.
    */
  private val mannKendallCtes: String =
    "e AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day " +
      "FROM events), " +
      "cnt AS (SELECT event_type, day, count(*) AS c FROM e GROUP BY 1, 2), " +
      "rng AS (SELECT event_type, min(day) AS mn, max(day) AS mx " +
      "FROM cnt GROUP BY 1), " +
      "ds AS (SELECT event_type, unnest(generate_series(mn, mx)) AS day " +
      "FROM rng), " +
      "dense AS (SELECT d.event_type, d.day, coalesce(c.c, 0) AS c " +
      "FROM ds d LEFT JOIN cnt c ON c.event_type = d.event_type " +
      "AND c.day = d.day), " +
      "s AS (SELECT a.event_type, sum(CASE WHEN b.c > a.c THEN 1 " +
      "WHEN b.c < a.c THEN -1 ELSE 0 END) AS s_stat, " +
      "max(b.day) - min(a.day) + 1 AS n_days FROM dense a JOIN dense b " +
      "ON a.event_type = b.event_type AND a.day < b.day GROUP BY 1), " +
      "tg AS (SELECT event_type, c, count(*) AS t FROM dense GROUP BY 1, 2), " +
      "ties AS (SELECT event_type, sum(t * (t - 1) * (2 * t + 5)) " +
      "AS tie_term FROM tg GROUP BY 1), " +
      "v AS (SELECT s.event_type, n_days, s_stat, tie_term, " +
      "n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var18 " +
      "FROM s JOIN ties USING (event_type)), " +
      "zz AS (SELECT event_type, n_days, s_stat, tie_term, var18, " +
      "CASE WHEN s_stat = 0 THEN 0 ELSE (18000 * (abs(s_stat) - 1) * " +
      "(abs(s_stat) - 1)) // var18 END AS z2_milli FROM v)"

  /** Shared CTE chain for the MinHash LSH candidate pairs (mirrors
    * [[Dedup.lshCandidatePairs]]): ends in `pairs(id_a, id_b, band)`.
    */
  private val minhashPairCtes: String =
    "toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, " +
      "unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN generate_series(1, len(w)-2)]) AS s FROM toks) u), " +
      "hs AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 10))::BIGINT AS h1, " +
      "('0x' || substr(md5(s), 11, 10))::BIGINT AS h2 FROM sh), " +
      "sig AS (SELECT doc_id, " +
      "min((h1 + 0 * h2) % 1099511627776) AS m0, min((h1 + 1 * h2) % 1099511627776) AS m1, " +
      "min((h1 + 2 * h2) % 1099511627776) AS m2, min((h1 + 3 * h2) % 1099511627776) AS m3, " +
      "min((h1 + 4 * h2) % 1099511627776) AS m4, min((h1 + 5 * h2) % 1099511627776) AS m5, " +
      "min((h1 + 6 * h2) % 1099511627776) AS m6, min((h1 + 7 * h2) % 1099511627776) AS m7 " +
      "FROM hs GROUP BY doc_id), " +
      "bands AS (SELECT doc_id, 0 AS band, md5(m0 || ',' || m1 || ',' || m2 || ',' || m3) AS bkey FROM sig " +
      "UNION ALL SELECT doc_id, 1, md5(m4 || ',' || m5 || ',' || m6 || ',' || m7) FROM sig), " +
      "pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.band " +
      "FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey " +
      "AND a.doc_id < b.doc_id)"

  /** Shared CTE chain + join tail of the curation-audit oracle (per-doc
    * exact-dup / near-dup / length-band / contamination verdicts); the
    * per-doc key and the per-source rollup plug different SELECT heads
    * between them.
    */
  private lazy val curationAuditCtes: String =
    "WITH RECURSIVE " + minhashPairCtes + ", " + closureCtes("pairs") + ", " +
      "comp AS (SELECT src, min(dst) AS component FROM reach GROUP BY src), " +
      "fpr AS (SELECT doc_id, md5(lower(trim(text))) AS f FROM documents), " +
      "keep AS (SELECT f, min(doc_id) AS k FROM fpr GROUP BY f), " +
      "b AS (SELECT quantile_cont(n_chars, 0.25) AS p_lo, " +
      "quantile_cont(n_chars, 0.75) AS p_hi FROM documents), " +
      "grams AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, " +
      "unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] " +
      "FOR i IN generate_series(1, len(w) - 3)]) AS s FROM toks) u), " +
      "bg AS (SELECT DISTINCT s FROM grams WHERE doc_id % 50 = 0), " +
      "cont AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bg USING (s) " +
      "WHERE g.doc_id % 50 != 0) "

  private val curationAuditJoins: String =
    "FROM documents d JOIN fpr ON fpr.doc_id = d.doc_id " +
      "JOIN keep ON fpr.f = keep.f CROSS JOIN b " +
      "LEFT JOIN comp ON comp.src = d.doc_id " +
      "LEFT JOIN cont ON cont.doc_id = d.doc_id"

  /** Shared CTE chain for the sign-LSH embedding-cosine near-dup pairs
    * (mirrors [[Similarity.cosineNearDupPairs]]): ends in
    * `cpairs(id_a, id_b, sim)`.
    */
  /** The k=5 MMR greedy unrolled as CTE steps: step i picks, from the pool
    * minus the selected set, the row maximizing `7·rel − 3·max(sim to
    * selected)` (ties to smallest vec_id) — integer coefficients so no
    * engine represents 1−0.7; the emitted score is the /10 image rounded
    * half-up at 6, matching the driver loop in `Similarity.mmrDiverseTopK`.
    */
  private val mmrOracle: String = {
    def dot(x: String, y: String): String =
      s"CAST(list_sum([CAST(CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE) " +
        s"AS DECIMAL(18,16)) FOR i IN generate_series(1, len($x))]) AS DOUBLE)"
    val head =
      "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
        "pool AS (SELECT e.vec_id, round(" + dot("e.embedding", "q.qe") +
        " / (sqrt(" + dot("e.embedding", "e.embedding") + ") * sqrt(" +
        dot("q.qe", "q.qe") + ")), 6) AS rel " +
        "FROM embeddings e, q WHERE e.vec_id != 0 " +
        "ORDER BY rel DESC, e.vec_id LIMIT 20), " +
        "pe AS (SELECT e.vec_id, e.embedding FROM embeddings e " +
        "JOIN pool p ON e.vec_id = p.vec_id), " +
        "ps AS (SELECT a.vec_id AS ia, b.vec_id AS ib, round(" +
        dot("a.embedding", "b.embedding") + " / (sqrt(" +
        dot("a.embedding", "a.embedding") + ") * sqrt(" +
        dot("b.embedding", "b.embedding") + ")), 6) AS s " +
        "FROM pe a JOIN pe b ON a.vec_id != b.vec_id), " +
        "s1 AS (SELECT vec_id, CAST(1 AS BIGINT) AS rank, " +
        "round((7*rel)/10, 6) AS score FROM pool " +
        "ORDER BY (7*rel) DESC, vec_id LIMIT 1), " +
        "sel1 AS (SELECT vec_id FROM s1)"
    val steps = (2 to 5).map { i =>
      s"c$i AS (SELECT p.vec_id, p.rel, (SELECT max(s) FROM ps " +
        s"WHERE ia = p.vec_id AND ib IN (SELECT vec_id FROM sel${i - 1})) AS ms " +
        s"FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})), " +
        s"s$i AS (SELECT vec_id, CAST($i AS BIGINT) AS rank, " +
        s"round((7*rel - 3*ms)/10, 6) AS score FROM c$i " +
        s"ORDER BY (7*rel - 3*ms) DESC, vec_id LIMIT 1), " +
        s"sel$i AS (SELECT vec_id FROM sel${i - 1} UNION ALL SELECT vec_id FROM s$i)"
    }.mkString(", ", ", ", " ")
    head + steps +
      (1 to 5).map(i => s"SELECT rank, vec_id, score FROM s$i")
        .mkString(" UNION ALL ")
  }

  private val cosinePairCtes: String =
    // adaptive cut width, same integer rule as the Spark side:
    // bitlength(n/4096) clamped to [8,16] via length(bin(x))
    "nbv AS (SELECT least(greatest(length(bin(greatest(" +
      "count(*) // 4096, 1))), 8), 16) AS nb FROM embeddings), " +
      "b AS (SELECT vec_id, embedding, " +
      "array_to_string([CASE WHEN x > 0 THEN '1' ELSE '0' END FOR x IN embedding[1:nb]], '') AS bucket FROM embeddings, nbv), " +
      "cp0 AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b, " +
      "a.embedding AS ea, b2.embedding AS eb FROM b a " +
      "JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id), " +
      "cs AS (SELECT id_a, id_b, round(" +
      "CAST(list_sum([CAST(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(ea))]) AS DOUBLE) / " +
      "(sqrt(CAST(list_sum([CAST(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(ea))]) AS DOUBLE)) * " +
      "sqrt(CAST(list_sum([CAST(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(eb))]) AS DOUBLE))), 6) AS sim " +
      "FROM cp0), " +
      "cpairs AS (SELECT id_a, id_b, sim FROM cs WHERE sim >= 0.30)"

  /** Exact transitive closure over a pair relation, for the connected-
    * components oracles: `reach(src, dst)` reaches every vertex in the same
    * component (self-loops included).
    */
  /** Blocked fuzzy-match pairs for the entity-resolution oracles: the
    * quadratic within-block compare IS the oracle (the engine's deletion-
    * neighborhood candidates must reproduce it exactly).
    */
  private val custPairCtes: String =
    "cust_pairs AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b " +
      "FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey " +
      "AND a.c_custkey < b.c_custkey AND levenshtein(a.c_name, b.c_name) <= 1)"

  private def closureCtes(pairsRel: String): String =
    s"e AS (SELECT DISTINCT id_a, id_b FROM $pairsRel), " +
      "und AS (SELECT id_a AS src, id_b AS dst FROM e " +
      "UNION SELECT id_b, id_a FROM e " +
      "UNION SELECT id_a, id_a FROM e UNION SELECT id_b, id_b FROM e), " +
      "reach AS (SELECT src, dst FROM und UNION " +
      "SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src)"

  val oracles: Map[String, String] = Map(
    "cosine_topk_pq" ->
      pqOracle(m = 4, subDim = 16, ksub = 16, iters = 2, k = 10, shortK = 50,
        queryId = 0L, trainMod = 2),
    "pq_reconstruction_error" -> {
      // replay of the SAME stacked Lloyd chain, then the assigned-cell d2
      // per (vector, subspace) aggregated in DECIMAL — mirrors
      // Similarity.pqReconstructionError
      val seU = (0 until 4).map(s =>
        s"SELECT $s AS sub, d.d2 FROM cd_$s d JOIN codes_$s c " +
          "ON d.vec_id = c.vec_id AND d.cell_id = c.cell_id")
        .mkString(" UNION ALL ")
      "WITH " + pqSubspaceCtes(4, 16, 16, 2, 0L, 2) + ", " +
        s"se AS ($seU) " +
        "SELECT sub, count(*) AS n_vectors, " +
        "CAST(sum(CAST(d2 AS DECIMAL(38,9))) AS DOUBLE) AS sse, " +
        "CAST(sum(CAST(d2 AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS mse " +
        "FROM se GROUP BY sub"
    },
    "cosine_topk_ivfpq_probe" ->
      ivfpqOracle(nCells = 16, nProbe = 4, coarseIters = 2, coarseTrainMod = 4,
        m = 4, subDim = 16, ksub = 16, pqIters = 2, pqTrainMod = 4,
        k = 10, shortK = 50, queryId = 0L),
    "cosine_topk_ivfpq" ->
      ivfpqOracle(nCells = 16, nProbe = 4, coarseIters = 2, coarseTrainMod = 4,
        m = 4, subDim = 16, ksub = 16, pqIters = 2, pqTrainMod = 4,
        k = 10, shortK = 50, queryId = 0L),
    "dedup_exact" ->
      ("SELECT text, min(doc_id) AS keep_id, count(*) AS n_dups " +
        "FROM documents GROUP BY text"),
    "dedup_count_distinct" ->
      ("SELECT CAST(count(DISTINCT text) AS BIGINT) AS n_unique, " +
        "count(*) AS n_total FROM documents"),
    "doc_fingerprint" ->
      "SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents",
    "dedup_fingerprint" ->
      ("SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keep_id, " +
        "count(*) AS n_dups FROM documents GROUP BY 1"),
    "dedup_apply" ->
      ("SELECT d.* FROM documents d JOIN (SELECT min(doc_id) AS keep_id " +
        "FROM documents GROUP BY md5(lower(trim(text)))) k " +
        "ON d.doc_id = k.keep_id"),
    "dedup_survivor_best" ->
      ("SELECT doc_id, fp, CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS is_kept " +
        "FROM (SELECT doc_id, md5(lower(trim(text))) AS fp, " +
        "row_number() OVER (PARTITION BY md5(lower(trim(text))) " +
        "ORDER BY n_chars DESC, doc_id) AS rn FROM documents) t"),
    "contamination_bloom_ngram" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "grams AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, " +
        "unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] " +
        "FOR i IN generate_series(1, len(w) - 3)]) AS s FROM toks) u), " +
        "bg AS (SELECT DISTINCT s FROM grams WHERE doc_id % 50 = 0) " +
        "SELECT g.doc_id, count(*) AS n_contaminated_grams FROM grams g " +
        "JOIN bg USING (s) WHERE g.doc_id % 50 != 0 GROUP BY g.doc_id"),
    "dedup_incremental" ->
      ("WITH fp AS (SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents), " +
        "reps AS (SELECT fp, min(doc_id) AS doc_id FROM fp WHERE doc_id % 10 = 0 GROUP BY fp) " +
        "SELECT doc_id, fp FROM reps WHERE fp NOT IN " +
        "(SELECT fp FROM fp WHERE doc_id % 10 != 0)"),
    "lsh_band_occupancy" ->
      ("WITH " + minhashPairCtes +
        ", bs AS (SELECT band, bkey, count(*) AS sz FROM bands GROUP BY 1, 2) " +
        "SELECT CAST(band AS INT) AS band, " +
        "CAST(length(bin(sz)) - 1 AS INT) AS size_band, " +
        "count(*) AS n_buckets, CAST(sum(sz) AS BIGINT) AS n_docs, " +
        "CAST(sum((sz * (sz - 1)) // 2) AS BIGINT) AS n_cand_pairs " +
        "FROM bs GROUP BY 1, 2"),
    "vocab_coverage_curve" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "c AS (SELECT tk AS token, count(*) AS n FROM " +
        "(SELECT unnest(w) AS tk FROM toks) u WHERE tk != '' GROUP BY 1), " +
        "tot AS (SELECT sum(n) AS total FROM c), " +
        "r AS (SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank, " +
        "sum(n) OVER (ORDER BY n DESC, token ROWS UNBOUNDED PRECEDING) AS cum " +
        "FROM c) " +
        "SELECT CAST(length(bin(rank)) - 1 AS INT) AS log_rank, " +
        "CAST(rank AS BIGINT) AS rank, CAST(cum AS BIGINT) AS cum_tokens, " +
        "CAST((cum * 10000) // total AS BIGINT) AS coverage_bp " +
        "FROM r, tot WHERE rank <= 16384 AND (rank & (rank - 1)) = 0"),
    "privacy_mondrian_kanon" ->
      ("WITH b AS (SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT) AS x, " +
        "CAST(c_nationkey AS BIGINT) AS y FROM customer), " +
        "m1 AS (SELECT CAST(round(2 * quantile_cont(x, 0.5), 0) AS BIGINT) AS mx2 " +
        "FROM b), " +
        "r1 AS (SELECT x, y, CASE WHEN x * 2 > mx2 THEN 1 ELSE 0 END AS r1 " +
        "FROM b, m1), " +
        "m2 AS (SELECT r1, CAST(round(2 * quantile_cont(y, 0.5), 0) AS BIGINT) " +
        "AS my2 FROM r1 GROUP BY 1), " +
        "r2 AS (SELECT x, y, r1.r1, CASE WHEN y * 2 > my2 THEN 1 ELSE 0 END AS r2 " +
        "FROM r1 JOIN m2 USING (r1)), " +
        "m3 AS (SELECT r1, r2, CAST(round(2 * quantile_cont(x, 0.5), 0) AS BIGINT) " +
        "AS mx2b FROM r2 GROUP BY 1, 2), " +
        "r3 AS (SELECT x, y, r2.r1, r2.r2, " +
        "CASE WHEN x * 2 > mx2b THEN 1 ELSE 0 END AS r3 " +
        "FROM r2 JOIN m3 USING (r1, r2)) " +
        "SELECT CAST(r1 AS INT) AS r1, CAST(r2 AS INT) AS r2, " +
        "CAST(r3 AS INT) AS r3, count(*) AS n, " +
        "CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x, " +
        "CAST(count(DISTINCT y) AS BIGINT) AS n_cat, " +
        "CAST(CASE WHEN count(*) >= 25 THEN 1 ELSE 0 END AS INT) AS kanon " +
        "FROM r3 GROUP BY 1, 2, 3"),
    "doc_fragment_stitch" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "b AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) >= 6), " +
        "h AS (SELECT doc_id AS id_b, md5(array_to_string(w[1:3], ' ')) AS fp " +
        "FROM b), " +
        "t AS (SELECT doc_id AS id_a, md5(array_to_string(w[n-2:n], ' ')) AS fp " +
        "FROM b) " +
        "SELECT id_a, id_b, fp FROM t JOIN h USING (fp) WHERE id_a != id_b"),
    "dedup_paragraph" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "paras AS (SELECT doc_id, unnest(generate_series(0, " +
        "CAST(ceil(len(w) / 20.0) AS INT) - 1)) AS idx, w FROM toks), " +
        "p AS (SELECT doc_id, idx, array_to_string(w[idx * 20 + 1 : idx * 20 + 20], ' ') AS para, " +
        "doc_id * 1048576 + idx AS ord FROM paras), " +
        "firsts AS (SELECT para, min(ord) AS first_ord FROM p GROUP BY para) " +
        "SELECT doc_id, count(*) AS n_paras, " +
        "CAST(sum(CASE WHEN ord = first_ord THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "md5(coalesce(string_agg(para, ' ' ORDER BY idx) FILTER (WHERE ord = first_ord), '')) AS clean_md5 " +
        "FROM p JOIN firsts USING (para) GROUP BY doc_id"),
    "text_clean_normalize" ->
      ("WITH c AS (SELECT doc_id, text, trim(regexp_replace(" +
        "regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) " +
        "AS clean FROM documents) " +
        "SELECT doc_id, md5(clean) AS clean_md5, " +
        "CAST(length(text) AS BIGINT) AS n_chars_raw, " +
        "CAST(length(clean) AS BIGINT) AS n_chars_clean, " +
        "CAST(clean <> text AS INT) AS changed FROM c"),
    "text_pii_scrub" ->
      ("WITH e AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@mail.example.com or call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
        "' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS etext FROM documents) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(etext, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails, " +
        "CAST(len(regexp_extract_all(etext, '\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones, " +
        "CAST(len(regexp_extract_all(etext, '([0-9]{1,3}\\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips, " +
        "md5(regexp_replace(regexp_replace(regexp_replace(etext, " +
        "'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'), " +
        "'\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'), " +
        "'([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g')) AS scrub_md5 FROM e"),
    "text_unigram_score" ->
      ("WITH occ AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents), " +
        "tf AS (SELECT tk, count(*) AS tf FROM occ GROUP BY tk) " +
        "SELECT doc_id, count(*) AS n_tokens, CAST(sum(tf) AS BIGINT) AS sum_tf, " +
        "min(tf) AS min_tf, CAST(sum(CASE WHEN tf <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare " +
        "FROM occ JOIN tf USING (tk) GROUP BY doc_id"),
    "source_mix_sample" ->
      // integer-exact temper weight (isqrt(n·10^12), float sqrt + ±1
      // repair) and integer ceil-div quota — same bit-stable pattern as
      // source_mixture_plan; no float ceil boundary
      ("WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source), " +
        "x AS (SELECT source, CAST(n AS HUGEINT) * 1000000000000 AS x FROM c), " +
        "r0 AS (SELECT source, x, " +
        "CAST(floor(sqrt(CAST(x AS DOUBLE))) AS HUGEINT) AS s0 FROM x), " +
        "wts AS (SELECT source, " +
        "CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN s0 + 1 " +
        "WHEN s0 * s0 > x THEN s0 - 1 ELSE s0 END AS w FROM r0), " +
        "tot AS (SELECT sum(w) AS sw FROM wts), " +
        "q AS (SELECT source, (200 * w + sw - 1) // sw AS quota " +
        "FROM wts, tot), " +
        "r AS (SELECT doc_id, source, row_number() OVER " +
        "(PARTITION BY source ORDER BY doc_id) AS rk FROM documents) " +
        "SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM r JOIN q USING (source) " +
        "WHERE rk <= quota"),
    "quality_filter_docs" ->
      ("WITH b AS (SELECT quantile_cont(n_chars, 0.25) AS p_lo, " +
        "quantile_cont(n_chars, 0.75) AS p_hi FROM documents) " +
        "SELECT doc_id, n_chars FROM documents, b " +
        "WHERE n_chars >= p_lo AND n_chars <= p_hi"),
    "quality_lr_score" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "f AS (SELECT doc_id, list_distinct(w) AS uni, " +
        "list_distinct([w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]) AS big FROM toks), " +
        "sc AS (SELECT doc_id, " +
        "CAST(coalesce(list_sum([('0x' || substr(md5(t), 1, 8))::BIGINT % 1001 - 500 FOR t IN uni]), 0) AS BIGINT) AS uni_score, " +
        "CAST(coalesce(list_sum([('0x' || substr(md5(t), 1, 8))::BIGINT % 1001 - 500 FOR t IN big]), 0) AS BIGINT) AS bi_score, " +
        "CAST(len(uni) + len(big) AS BIGINT) AS n_features FROM f) " +
        "SELECT doc_id, uni_score, bi_score, n_features, " +
        "CAST(uni_score + bi_score AS BIGINT) AS score, " +
        "CAST(CASE WHEN uni_score + bi_score > 0 THEN 1 ELSE 0 END AS INT) AS kept FROM sc"),
    // stages replayed sequentially: the quality band is computed over the
    // DECONTAMINATED slice and the dedup representative over the quality
    // survivors — parity with the staged (not full-corpus-flag) semantics
    "curation_funnel" ->
      ("WITH s1 AS (SELECT doc_id, n_chars, text FROM documents " +
        "WHERE NOT (position('scan' IN text) > 0 OR position('quantile' IN text) > 0)), " +
        "b AS (SELECT quantile_cont(n_chars, 0.25) AS p_lo, " +
        "quantile_cont(n_chars, 0.75) AS p_hi FROM s1), " +
        "s2 AS (SELECT doc_id, n_chars, text FROM s1, b " +
        "WHERE n_chars >= p_lo AND n_chars <= p_hi), " +
        "s3 AS (SELECT doc_id, n_chars FROM s2 " +
        "WHERE doc_id IN (SELECT min(doc_id) FROM s2 GROUP BY text)) " +
        "SELECT '1_input' AS stage, count(*) AS n_docs, " +
        "CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS n_chars_total FROM documents " +
        "UNION ALL SELECT '2_decontaminated', count(*), " +
        "CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s1 " +
        "UNION ALL SELECT '3_quality_band', count(*), " +
        "CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s2 " +
        "UNION ALL SELECT '4_exact_dedup', count(*), " +
        "CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s3"),
    // the whole five-stage chain replayed sequentially: fingerprint dedup,
    // IQR band ON THE DEDUPED distribution, pattern decontamination of the
    // band survivors, the isqrt-tempered quota over SURVIVING per-source
    // counts, then the next-fit fold as a recursive CTE (the
    // doc_pack_nextfit state machine) over the mixed sample
    "corpus_build_e2e" ->
      ("WITH RECURSIVE s1 AS (SELECT doc_id, source, n_chars, text " +
        "FROM documents WHERE doc_id IN (SELECT min(doc_id) " +
        "FROM documents GROUP BY md5(lower(trim(text))))), " +
        "b AS (SELECT quantile_cont(n_chars, 0.25) AS p_lo, " +
        "quantile_cont(n_chars, 0.75) AS p_hi FROM s1), " +
        "s2 AS (SELECT doc_id, source, text FROM s1, b " +
        "WHERE n_chars >= p_lo AND n_chars <= p_hi), " +
        "s3 AS (SELECT doc_id, source, text FROM s2 " +
        "WHERE NOT (position('scan' IN text) > 0 " +
        "OR position('quantile' IN text) > 0)), " +
        "c AS (SELECT source, count(*) AS n FROM s3 GROUP BY source), " +
        "x AS (SELECT source, CAST(n AS HUGEINT) * 1000000000000 AS x FROM c), " +
        "r0 AS (SELECT source, x, " +
        "CAST(floor(sqrt(CAST(x AS DOUBLE))) AS HUGEINT) AS s0 FROM x), " +
        "wts AS (SELECT source, " +
        "CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN s0 + 1 " +
        "WHEN s0 * s0 > x THEN s0 - 1 ELSE s0 END AS w FROM r0), " +
        "tot AS (SELECT sum(w) AS sw FROM wts), " +
        "q AS (SELECT source, (200 * w + sw - 1) // sw AS quota " +
        "FROM wts, tot), " +
        "rk AS (SELECT doc_id, source, text, row_number() OVER " +
        "(PARTITION BY source ORDER BY doc_id) AS rk FROM s3), " +
        "s4 AS (SELECT doc_id, source, text FROM rk JOIN q USING (source) " +
        "WHERE rk <= quota), " +
        "t AS (SELECT doc_id, source, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n, " +
        "row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn " +
        "FROM s4), " +
        "p AS (SELECT doc_id, source, n, rn, CAST(0 AS BIGINT) AS bin, " +
        "CAST(0 AS BIGINT) AS boff, n AS used FROM t WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT t.doc_id, t.source, t.n, t.rn, " +
        "CASE WHEN p.used > 0 AND p.used + t.n > 2048 THEN p.bin + 1 ELSE p.bin END, " +
        "CASE WHEN p.used > 0 AND p.used + t.n > 2048 THEN 0 ELSE p.used END, " +
        "CASE WHEN p.used > 0 AND p.used + t.n > 2048 THEN t.n ELSE p.used + t.n END " +
        "FROM p JOIN t ON t.source = p.source AND t.rn = p.rn + 1) " +
        "SELECT doc_id, source, bin, boff AS off_tokens FROM p"),
    "curation_audit" ->
      (curationAuditCtes +
        "SELECT d.doc_id, " +
        "CASE WHEN d.doc_id != keep.k THEN 1 ELSE 0 END AS dup_exact, " +
        "CASE WHEN comp.component IS NOT NULL AND comp.component != d.doc_id THEN 1 ELSE 0 END AS dup_neardup, " +
        "CASE WHEN d.n_chars < b.p_lo OR d.n_chars > b.p_hi THEN 1 ELSE 0 END AS len_outlier, " +
        "CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END AS contaminated " +
        curationAuditJoins),
    // the same audit CTE chain rolled up per source — one verdict table
    // per corpus provider
    "source_curation_report" ->
      (curationAuditCtes +
        "SELECT d.source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN d.doc_id != keep.k THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups, " +
        "CAST(sum(CASE WHEN comp.component IS NOT NULL AND comp.component != d.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_neardups, " +
        "CAST(sum(CASE WHEN d.n_chars < b.p_lo OR d.n_chars > b.p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_len_outliers, " +
        "CAST(sum(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated " +
        curationAuditJoins + " GROUP BY d.source"),
    "corpus_snapshot_diff" ->
      ("WITH o AS (SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents " +
        "WHERE doc_id % 10 != 9), " +
        "n AS (SELECT doc_id, md5(lower(trim(" +
        "CASE WHEN doc_id % 10 = 2 THEN text || ' v2' ELSE text END))) AS fp " +
        "FROM documents WHERE doc_id % 10 != 4) " +
        "SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, " +
        "CASE WHEN o.doc_id IS NULL THEN 'added' " +
        "WHEN n.doc_id IS NULL THEN 'removed' " +
        "WHEN o.fp != n.fp THEN 'changed' ELSE 'unchanged' END AS change " +
        "FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id " +
        "WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.fp != n.fp"),
    "corpus_split" ->
      ("SELECT doc_id, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 AS INTEGER) AS bucket, " +
        "CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 < 80 THEN 'train' " +
        "WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 < 90 THEN 'val' " +
        "ELSE 'test' END AS split FROM documents"),
    "corpus_split_by_group" ->
      ("SELECT doc_id, source, " +
        "CASE WHEN ('0x' || substr(md5('grp-' || source), 1, 6))::BIGINT % 10 < 8 THEN 'train' " +
        "WHEN ('0x' || substr(md5('grp-' || source), 1, 6))::BIGINT % 10 < 9 THEN 'val' " +
        "ELSE 'test' END AS split FROM documents"),
    "preference_pairs_topk" ->
      ("WITH b AS (SELECT source, doc_id, n_chars, row_number() OVER " +
        "(PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk FROM documents), " +
        "w AS (SELECT source, doc_id, n_chars, row_number() OVER " +
        "(PARTITION BY source ORDER BY n_chars ASC, doc_id) AS rk FROM documents) " +
        "SELECT b.source, CAST(b.rk AS BIGINT) AS rk, " +
        "b.doc_id AS chosen, w.doc_id AS rejected, " +
        "CAST(b.n_chars - w.n_chars AS BIGINT) AS gap " +
        "FROM b JOIN w ON b.source = w.source AND b.rk = w.rk " +
        "WHERE b.rk <= 5 AND w.rk <= 5 AND b.doc_id != w.doc_id " +
        "AND b.n_chars > w.n_chars"),
    "quality_auc_eval" ->
      ("WITH g AS (SELECT n_chars AS s, " +
        "sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np, " +
        "sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn " +
        "FROM documents GROUP BY 1), " +
        "p AS (SELECT np, nn, coalesce(sum(nn) OVER (ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb FROM g), " +
        "t AS (SELECT sum(np) AS n_pos, sum(nn) AS n_neg, " +
        "sum(np * (2 * nb + nn)) AS auc2 FROM p) " +
        "SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg, " +
        "CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0 " +
        "ELSE (auc2 * 500000) // (n_pos * n_neg) END AS BIGINT) AS auc_ppm FROM t"),
    // fences at rk·10 <= n·8 / n·9 — exact integer proportions per stratum
    "corpus_split_exact_strata" ->
      ("WITH d AS (SELECT doc_id, lang, source, " +
        "md5('strat-' || CAST(doc_id AS VARCHAR)) AS skey FROM documents), " +
        "r AS (SELECT doc_id, lang, source, row_number() OVER " +
        "(PARTITION BY lang, source ORDER BY skey, doc_id) AS rk FROM d), " +
        "sz AS (SELECT lang, source, count(*) AS n_stratum FROM d GROUP BY 1, 2) " +
        "SELECT r.doc_id, r.lang, r.source, " +
        "CASE WHEN rk * 10 <= n_stratum * 8 THEN 'train' " +
        "WHEN rk * 10 <= n_stratum * 9 THEN 'val' ELSE 'test' END AS split " +
        "FROM r JOIN sz ON r.lang = sz.lang AND r.source = sz.source"),
    "corpus_shuffle" ->
      ("WITH s AS (SELECT doc_id, md5('seed42-' || CAST(doc_id AS VARCHAR)) AS skey " +
        "FROM documents), " +
        "sh AS (SELECT doc_id, skey, CAST(('0x' || substr(skey, 1, 4))::BIGINT % 64 AS INT) AS shard FROM s) " +
        "SELECT doc_id, shard, CAST(row_number() OVER " +
        "(PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) AS pos FROM sh"),
    // the engine's two-phase rank concatenates per-(band, md5-prefix-
    // bucket) orders; the bucket is a PREFIX of the sort key, so the
    // oracle states the equivalent single global order directly
    "curriculum_train_order" ->
      ("WITH b AS (SELECT quantile_cont(n_chars, " +
        "[0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs FROM documents), " +
        "d AS (SELECT doc_id, n_chars, " +
        "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h FROM documents), " +
        "bd AS (SELECT doc_id, h, CAST(" +
        (1 to 7).map(i => s"(CASE WHEN n_chars >= bs[$i] THEN 1 ELSE 0 END)")
          .mkString(" + ") +
        " AS INT) AS band FROM d, b) " +
        "SELECT doc_id, band, row_number() OVER " +
        "(ORDER BY band, h, doc_id) AS train_order FROM bd"),
    "bpe_merges" -> ("WITH " + bpeTrainCtes(4) + " " +
      (1 to 4).map(i =>
        s"SELECT $i AS step, pair, CAST(n AS BIGINT) AS n FROM m$i")
        .mkString(" UNION ALL ")),
    // training CTEs replayed, then the vocabulary's final repr encodes
    // every document: per-token symbol count joined to doc token counts
    "bpe_encode" -> ("WITH " + bpeTrainCtes(4) + ", " +
      "enc AS (SELECT tk, len(string_split(trim(repr), ' ')) AS n_syms FROM v4), " +
      "dc AS (SELECT doc_id, tk, count(*) AS c FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents) u " +
      "GROUP BY 1, 2) " +
      "SELECT dc.doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, " +
      "CAST(sum(c * n_syms) AS BIGINT) AS n_bpe_symbols " +
      "FROM dc JOIN enc USING (tk) GROUP BY dc.doc_id"),
    "bpe_fertility" -> ("WITH " + bpeTrainCtes(4) + ", " +
      "enc AS (SELECT tk, len(string_split(trim(repr), ' ')) AS n_syms FROM v4), " +
      "dc AS (SELECT doc_id, tk, count(*) AS c FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents) u " +
      "GROUP BY 1, 2), " +
      "pd AS (SELECT dc.doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, " +
      "CAST(sum(c * n_syms) AS BIGINT) AS n_symbols " +
      "FROM dc JOIN enc USING (tk) GROUP BY dc.doc_id), " +
      "ps AS (SELECT d.source, sum(p.n_tokens) AS n_tokens, " +
      "sum(p.n_symbols) AS n_symbols, sum(d.n_chars) AS n_chars " +
      "FROM pd p JOIN documents d USING (doc_id) GROUP BY d.source) " +
      "SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, " +
      "CAST(n_symbols AS BIGINT) AS n_symbols, " +
      "CAST((n_symbols * 10000) // n_tokens AS BIGINT) AS fertility_bp, " +
      "CAST((n_chars * 10000) // n_symbols AS BIGINT) AS chars_per_symbol_bp " +
      "FROM ps"),
    "source_lang_chi2" ->
      ("WITH cells AS (SELECT source, lang, count(*) AS o FROM documents " +
        "GROUP BY 1, 2), " +
        "r AS (SELECT source, sum(o) AS rs FROM cells GROUP BY 1), " +
        "c AS (SELECT lang, sum(o) AS cs FROM cells GROUP BY 1), " +
        "t AS (SELECT sum(o) AS n FROM cells) " +
        "SELECT source, lang, CAST(o AS BIGINT) AS o, " +
        "CAST((CAST(rs AS HUGEINT) * cs * 1000) // n AS BIGINT) " +
        "AS expected_milli, " +
        "CAST(((CAST(o AS HUGEINT) * n - CAST(rs AS HUGEINT) * cs) * " +
        "(CAST(o AS HUGEINT) * n - CAST(rs AS HUGEINT) * cs) * 1000) // " +
        "(CAST(n AS HUGEINT) * rs * cs) AS BIGINT) AS contrib_milli " +
        "FROM cells JOIN r USING (source) JOIN c USING (lang), t"),
    "orders_mann_whitney" ->
      ("WITH j AS (SELECT c_mktsegment AS cohort, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS x " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')), " +
        "cnt AS (SELECT x, " +
        "sum(CASE WHEN cohort = 'BUILDING' THEN 1 ELSE 0 END) AS c1, " +
        "sum(CASE WHEN cohort = 'MACHINERY' THEN 1 ELSE 0 END) AS c2, " +
        "count(*) AS t FROM j GROUP BY 1), " +
        "r AS (SELECT c1, c2, t, sum(t) OVER (ORDER BY x " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumt FROM cnt), " +
        "m AS (SELECT CAST(sum(c1) AS HUGEINT) AS n1, " +
        "CAST(sum(c2) AS HUGEINT) AS n2, " +
        "sum(CAST(c1 AS HUGEINT) * (2 * (cumt - t) + t + 1)) AS r2a, " +
        "sum(CAST(t AS HUGEINT) * t * t - t) AS tie_cubic FROM r), " +
        "k AS (SELECT n1, n2, tie_cubic, r2a - n1 * (n1 + 1) AS u2a, " +
        "r2a - n1 * (n1 + 1) - n1 * n2 AS dd, " +
        "n1 * n2 * ((n1 + n2 + 1) * (n1 + n2) * (n1 + n2 - 1) - tie_cubic) " +
        "AS var12 FROM m) " +
        "SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b, " +
        "CAST(u2a AS BIGINT) AS u2_a, " +
        "CAST(2 * n1 * n2 - u2a AS BIGINT) AS u2_b, " +
        "CAST(tie_cubic AS BIGINT) AS tie_cubic, " +
        "CAST((dd * 1000000) // " +
        "(CASE WHEN n1 * n2 = 0 THEN 1 ELSE n1 * n2 END) AS BIGINT) " +
        "AS rb_ppm, " +
        "CAST((3000 * (n1 + n2) * (n1 + n2 - 1) * dd * dd) // " +
        "(CASE WHEN var12 = 0 THEN 1 ELSE var12 END) AS BIGINT) " +
        "AS z2_milli, " +
        "CAST((3000 * (n1 + n2) * (n1 + n2 - 1) * dd * dd) // " +
        "(CASE WHEN var12 = 0 THEN 1 ELSE var12 END) >= 3842 " +
        "AS INT) AS reject_95 FROM k"),
    "events_mann_kendall" ->
      ("WITH " + mannKendallCtes +
        " SELECT event_type, CAST(n_days AS BIGINT) AS n_days, " +
        "CAST(s_stat AS BIGINT) AS s_stat, " +
        "CAST(tie_term AS BIGINT) AS tie_term, " +
        "CAST(var18 AS BIGINT) AS var18, " +
        "CAST(z2_milli AS BIGINT) AS z2_milli FROM zz"),
    "events_mk_fdr" ->
      ("WITH " + mannKendallCtes + ", " +
        "r AS (SELECT event_type, z2_milli, row_number() OVER " +
        "(ORDER BY z2_milli DESC, event_type) AS r, " +
        "count(*) OVER () AS m FROM zz), " +
        "p AS (SELECT event_type, z2_milli, r, m, " +
        "CASE (60 * r) // m WHEN 10 THEN 6961 WHEN 12 THEN 6635 " +
        "WHEN 15 THEN 6239 WHEN 20 THEN 5732 WHEN 24 THEN 5412 " +
        "WHEN 30 THEN 5024 WHEN 36 THEN 4710 WHEN 40 THEN 4529 " +
        "WHEN 45 THEN 4328 WHEN 48 THEN 4218 WHEN 50 THEN 4149 " +
        "WHEN 60 THEN 3842 ELSE NULL END AS crit FROM r), " +
        "i AS (SELECT max(CASE WHEN z2_milli >= crit THEN r END) " +
        "AS istar FROM p) " +
        "SELECT event_type, CAST(r AS BIGINT) AS p_rank, " +
        "CAST(m AS BIGINT) AS m_tests, " +
        "CAST(z2_milli AS BIGINT) AS z2_milli, " +
        "CAST(crit AS BIGINT) AS crit_milli, " +
        "CAST(r <= coalesce(istar, 0) AS INT) AS reject_fdr_05 " +
        "FROM p, i"),
    "orders_kruskal_wallis" ->
      ("WITH j AS (SELECT c_mktsegment AS cohort, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS x " +
        "FROM orders JOIN customer ON o_custkey = c_custkey), " +
        "cv AS (SELECT cohort, x, count(*) AS c FROM j GROUP BY 1, 2), " +
        "cnt AS (SELECT x, sum(c) AS t FROM cv GROUP BY 1), " +
        "r AS (SELECT x, 2 * (sum(t) OVER (ORDER BY x ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) - t) + t + 1 AS r2, " +
        "CAST(t AS HUGEINT) * t * t - t AS tie FROM cnt), " +
        "ties AS (SELECT sum(tie) AS tie_cubic FROM r), " +
        "g AS (SELECT cohort, CAST(sum(c) AS HUGEINT) AS ni, " +
        "sum(CAST(c AS HUGEINT) * r2) AS r2i FROM cv JOIN r USING (x) " +
        "GROUP BY 1), " +
        "m AS (SELECT CAST(count(*) AS HUGEINT) AS k, sum(ni) AS n, " +
        "sum((r2i * r2i) // ni) AS sq FROM g), " +
        "h AS (SELECT k, n, tie_cubic, " +
        "(3000 * sq) // (n * (n + 1)) - 3000 * (n + 1) AS h_raw, " +
        "n * n * n - n AS cube FROM m, ties), " +
        "z AS (SELECT k, n, tie_cubic, " +
        "(h_raw * cube) // (CASE WHEN cube - tie_cubic = 0 THEN 1 " +
        "ELSE cube - tie_cubic END) AS h_milli FROM h) " +
        "SELECT CAST(k AS BIGINT) AS k_cohorts, CAST(n AS BIGINT) AS n, " +
        "CAST(tie_cubic AS BIGINT) AS tie_cubic, " +
        "CAST(h_milli AS BIGINT) AS h_milli, " +
        "CAST(k - 1 AS BIGINT) AS df, " +
        "CAST(h_milli >= (CASE k - 1 WHEN 1 THEN 3842 WHEN 2 THEN 5992 " +
        "WHEN 3 THEN 7815 WHEN 4 THEN 9488 WHEN 5 THEN 11071 " +
        "WHEN 6 THEN 12592 WHEN 7 THEN 14068 WHEN 8 THEN 15508 " +
        "WHEN 9 THEN 16919 WHEN 10 THEN 18308 ELSE NULL END) AS INT) " +
        "AS reject_95 FROM z"),
    "events_pettitt_changepoint" ->
      ("WITH e AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day " +
        "FROM events), " +
        "cnt AS (SELECT event_type, day, count(*) AS c FROM e GROUP BY 1, 2), " +
        "rng AS (SELECT event_type, min(day) AS mn, max(day) AS mx " +
        "FROM cnt GROUP BY 1), " +
        "ds AS (SELECT event_type, mx, unnest(generate_series(mn, mx)) AS day " +
        "FROM rng), " +
        "dense AS (SELECT d.event_type, d.mx, d.day, coalesce(c.c, 0) AS c " +
        "FROM ds d LEFT JOIN cnt c ON c.event_type = d.event_type " +
        "AND c.day = d.day), " +
        "byc AS (SELECT event_type, c, count(*) AS t FROM dense GROUP BY 1, 2), " +
        "r AS (SELECT event_type, c, 2 * (sum(t) OVER (PARTITION BY event_type " +
        "ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t) " +
        "+ t + 1 AS r2 FROM byc), " +
        "uv AS (SELECT d.event_type, d.day, d.mx, r.r2, " +
        "count(*) OVER (PARTITION BY d.event_type) AS n " +
        "FROM dense d JOIN r ON r.event_type = d.event_type AND r.c = d.c), " +
        "u AS (SELECT event_type, day, mx, n, " +
        "sum(r2 - 1 - n) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u_t FROM uv), " +
        "f AS (SELECT * FROM u WHERE day < mx), " +
        "k AS (SELECT event_type, max(abs(u_t)) AS k_stat, max(n) AS n_days " +
        "FROM f GROUP BY 1), " +
        "th AS (SELECT k.event_type, n_days, k_stat, min(f.day) AS t_hat_day " +
        "FROM k JOIN f ON f.event_type = k.event_type " +
        "AND abs(f.u_t) = k.k_stat GROUP BY 1, 2, 3) " +
        "SELECT event_type, CAST(n_days AS BIGINT) AS n_days, " +
        "CAST(k_stat AS BIGINT) AS k_stat, " +
        "CAST(t_hat_day AS BIGINT) AS t_hat_day, " +
        "CAST((6000 * k_stat * k_stat) // " +
        "(n_days * n_days * n_days + n_days * n_days) AS BIGINT) " +
        "AS exp6k2_milli, " +
        "CAST((6000 * k_stat * k_stat) // " +
        "(n_days * n_days * n_days + n_days * n_days) >= 3689 AS INT) " +
        "AS reject_95 FROM th"),
    "events_mcnemar_conversion" ->
      ("WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts " +
        "FROM events), " +
        "m AS (SELECT (min(ts) + max(ts)) // 2 AS mid_ns FROM e), " +
        "p AS (SELECT user_id, " +
        "max(CASE WHEN event_type = 'purchase' AND ts < mid_ns THEN 1 " +
        "ELSE 0 END) AS early, " +
        "max(CASE WHEN event_type = 'purchase' AND ts >= mid_ns THEN 1 " +
        "ELSE 0 END) AS late FROM e, m GROUP BY 1), " +
        "t AS (SELECT count(*) AS n_users, " +
        "sum(CASE WHEN early = 1 AND late = 1 THEN 1 ELSE 0 END) AS a_both, " +
        "sum(CASE WHEN early = 1 AND late = 0 THEN 1 ELSE 0 END) " +
        "AS b_early_only, " +
        "sum(CASE WHEN early = 0 AND late = 1 THEN 1 ELSE 0 END) " +
        "AS c_late_only, " +
        "sum(CASE WHEN early = 0 AND late = 0 THEN 1 ELSE 0 END) " +
        "AS d_neither FROM p), " +
        "z AS (SELECT n_users, a_both, b_early_only, c_late_only, d_neither, " +
        "CASE WHEN b_early_only = c_late_only THEN 0 ELSE " +
        "(1000 * (abs(b_early_only - c_late_only) - 1) * " +
        "(abs(b_early_only - c_late_only) - 1)) // " +
        "(b_early_only + c_late_only) END AS chi2_cc_milli FROM t) " +
        "SELECT CAST(n_users AS BIGINT) AS n_users, " +
        "CAST(a_both AS BIGINT) AS a_both, " +
        "CAST(b_early_only AS BIGINT) AS b_early_only, " +
        "CAST(c_late_only AS BIGINT) AS c_late_only, " +
        "CAST(d_neither AS BIGINT) AS d_neither, " +
        "CAST(chi2_cc_milli AS BIGINT) AS chi2_cc_milli, " +
        "CAST(chi2_cc_milli >= 3842 AS INT) AS reject_95 FROM z"),
    "vocab_chao1_richness" ->
      ("WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tk " +
        "FROM documents), " +
        "c AS (SELECT tk, count(*) AS n FROM toks WHERE tk != '' GROUP BY 1), " +
        "m AS (SELECT count(*) AS v_obs, sum(n) AS n_tokens, " +
        "sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS f1, " +
        "sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS f2 FROM c) " +
        "SELECT CAST(v_obs AS BIGINT) AS v_obs, " +
        "CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2, " +
        "CAST(v_obs * 1000 + (1000 * f1 * (f1 - 1)) // (2 * (f2 + 1)) " +
        "AS BIGINT) AS chao1_milli, " +
        "CAST((1000000 * f1) // (CASE WHEN n_tokens = 0 THEN 1 " +
        "ELSE n_tokens END) AS BIGINT) AS unseen_mass_ppm FROM m"),
    "source_simpson_diversity" ->
      ("WITH c AS (SELECT source, lang, count(*) AS c FROM documents " +
        "GROUP BY 1, 2), " +
        "g AS (SELECT source, count(*) AS n_langs, " +
        "CAST(sum(c) AS HUGEINT) AS n, " +
        "sum(CAST(c AS HUGEINT) * c) AS sq FROM c GROUP BY 1) " +
        "SELECT source, CAST(n AS BIGINT) AS n_docs, " +
        "CAST(n_langs AS BIGINT) AS n_langs, " +
        "CAST(1000000 - (1000000 * sq) // (n * n) AS BIGINT) " +
        "AS gini_simpson_ppm, " +
        "CAST((1000 * n * n) // sq AS BIGINT) AS eff_langs_milli FROM g"),
    "orders_brown_forsythe" ->
      ("WITH j AS (SELECT o_orderpriority AS cohort, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS v " +
        "FROM orders), " +
        "cv AS (SELECT cohort, v, count(*) AS c FROM j GROUP BY 1, 2), " +
        "w AS (SELECT cohort, v, c, sum(c) OVER (PARTITION BY cohort " +
        "ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "sum(c) OVER (PARTITION BY cohort) AS ni FROM cv), " +
        "med AS (SELECT cohort, " +
        "min(CASE WHEN cum >= (ni + 1) // 2 THEN v END) + " +
        "min(CASE WHEN cum >= ni // 2 + 1 THEN v END) AS m2 " +
        "FROM w GROUP BY 1), " +
        "z AS (SELECT cv.cohort, abs(2 * v - m2) AS z, c " +
        "FROM cv JOIN med ON cv.cohort = med.cohort), " +
        "g AS (SELECT cohort, CAST(sum(c) AS HUGEINT) AS ni, " +
        "sum(CAST(c AS HUGEINT) * z) AS si, " +
        "sum(CAST(c AS HUGEINT) * z * z) AS qi FROM z GROUP BY 1), " +
        "m AS (SELECT CAST(count(*) AS HUGEINT) AS k, sum(ni) AS n, " +
        "sum((si * si) // ni) AS sqb, sum(si) AS s, sum(qi) AS q FROM g), " +
        "f AS (SELECT k, n, sqb - (s * s) // n AS ssb, q - sqb AS ssw " +
        "FROM m), " +
        "r AS (SELECT k, n, ssb, ssw, " +
        "(1000 * (n - k) * ssb) // (CASE WHEN (k - 1) * ssw = 0 THEN 1 " +
        "ELSE (k - 1) * ssw END) AS f_milli FROM f) " +
        "SELECT CAST(k AS BIGINT) AS k_cohorts, CAST(n AS BIGINT) AS n, " +
        "CAST(ssb AS BIGINT) AS ssb, CAST(ssw AS BIGINT) AS ssw, " +
        "CAST(f_milli AS BIGINT) AS f_milli, " +
        "CAST(k - 1 AS BIGINT) AS df1, " +
        "CAST(f_milli >= (CASE k - 1 WHEN 1 THEN 3842 WHEN 2 THEN 2996 " +
        "WHEN 3 THEN 2605 WHEN 4 THEN 2372 WHEN 5 THEN 2215 " +
        "WHEN 6 THEN 2099 WHEN 7 THEN 2010 WHEN 8 THEN 1939 " +
        "WHEN 9 THEN 1880 WHEN 10 THEN 1831 ELSE NULL END) AS INT) " +
        "AS reject_95 FROM r"),
    "events_permutation_test" ->
      ("WITH daily AS (SELECT epoch_ns(ts) // 86400000000000 AS day, " +
        "sum(CASE WHEN event_type = 'click' THEN " +
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) - " +
        "sum(CASE WHEN event_type = 'view' THEN " +
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) " +
        "AS diff FROM events WHERE event_type IN ('click', 'view') " +
        "GROUP BY 1), " +
        "obs AS (SELECT count(*) AS n_days, abs(sum(diff)) AS s_obs " +
        "FROM daily), " +
        "r AS (SELECT day, diff, unnest(generate_series(0, 63)) AS rep " +
        "FROM daily), " +
        "u AS (SELECT rep, CASE WHEN ('0x' || substr(md5('perm-' || " +
        "CAST(rep AS VARCHAR) || ':' || CAST(day AS VARCHAR)), 1, 6))" +
        "::BIGINT < 8388608 THEN diff ELSE -diff END AS s FROM r), " +
        "sr AS (SELECT rep, abs(sum(s)) AS s_rep FROM u GROUP BY 1), " +
        "t AS (SELECT max(n_days) AS n_days, max(s_obs) AS s_obs_cents, " +
        "count(*) AS b_reps, " +
        "sum(CASE WHEN s_rep >= s_obs THEN 1 ELSE 0 END) AS n_ge " +
        "FROM sr, obs) " +
        "SELECT CAST(n_days AS BIGINT) AS n_days, " +
        "CAST(s_obs_cents AS BIGINT) AS s_obs_cents, " +
        "CAST(b_reps AS BIGINT) AS b_reps, CAST(n_ge AS BIGINT) AS n_ge, " +
        "CAST((1000 * (1 + n_ge)) // (b_reps + 1) AS BIGINT) AS p_milli " +
        "FROM t"),
    "orders_welch_effect" ->
      ("WITH j AS (SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 " +
        "ELSE 2 END AS g, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS v " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')), " +
        "m AS (SELECT " +
        "CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n1, " +
        "CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS HUGEINT) AS n2, " +
        "sum(CASE WHEN g = 1 THEN CAST(v AS HUGEINT) ELSE 0 END) AS s1, " +
        "sum(CASE WHEN g = 2 THEN CAST(v AS HUGEINT) ELSE 0 END) AS s2, " +
        "sum(CASE WHEN g = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS q1, " +
        "sum(CASE WHEN g = 2 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS q2 " +
        "FROM j), " +
        "k AS (SELECT n1, n2, " +
        "(1000 * (s1 * n2 - s2 * n1)) // " +
        "(CASE WHEN n1 * n2 = 0 THEN 1 ELSE n1 * n2 END) AS dd_milli, " +
        "q1 - (s1 * s1) // (CASE WHEN n1 = 0 THEN 1 ELSE n1 END) AS w1, " +
        "q2 - (s2 * s2) // (CASE WHEN n2 = 0 THEN 1 ELSE n2 END) AS w2 " +
        "FROM m), " +
        "vv AS (SELECT n1, n2, dd_milli, w1, w2, " +
        "(1000000 * w1) // (CASE WHEN n1 <= 1 THEN 1 ELSE n1 - 1 END) AS v1, " +
        "(1000000 * w2) // (CASE WHEN n2 <= 1 THEN 1 ELSE n2 - 1 END) AS v2 " +
        "FROM k), " +
        "e AS (SELECT n1, n2, dd_milli, " +
        "v1 // (CASE WHEN n1 = 0 THEN 1 ELSE n1 END) + " +
        "v2 // (CASE WHEN n2 = 0 THEN 1 ELSE n2 END) AS ve, " +
        "(1000000 * (w1 + w2)) // " +
        "(CASE WHEN n1 + n2 <= 2 THEN 1 ELSE n1 + n2 - 2 END) AS vp " +
        "FROM vv), " +
        "z AS (SELECT n1, n2, dd_milli, " +
        "(1000 * dd_milli * dd_milli) // " +
        "(CASE WHEN ve = 0 THEN 1 ELSE ve END) AS t2_milli, " +
        "(1000000 * dd_milli * dd_milli) // " +
        "(CASE WHEN vp = 0 THEN 1 ELSE vp END) AS d2_ppm FROM e) " +
        "SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b, " +
        "CAST(dd_milli AS BIGINT) AS mean_diff_milli, " +
        "CAST(d2_ppm AS BIGINT) AS d2_ppm, " +
        "CAST(t2_milli AS BIGINT) AS t2_milli, " +
        "CAST(t2_milli >= 3842 AS INT) AS reject_95 FROM z"),
    "orders_dunn_posthoc" ->
      ("WITH j AS (SELECT c_mktsegment AS cohort, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS x " +
        "FROM orders JOIN customer ON o_custkey = c_custkey), " +
        "cv AS (SELECT cohort, x, count(*) AS c FROM j GROUP BY 1, 2), " +
        "cnt AS (SELECT x, sum(c) AS t FROM cv GROUP BY 1), " +
        "r AS (SELECT x, 2 * (sum(t) OVER (ORDER BY x ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) - t) + t + 1 AS r2, " +
        "CAST(t AS HUGEINT) * t * t - t AS tie FROM cnt), " +
        "ties AS (SELECT sum(tie) AS tie_cubic FROM r), " +
        "g AS (SELECT cohort, sum(c) AS ni, " +
        "sum(CAST(c AS HUGEINT) * r2) AS r2i FROM cv JOIN r USING (x) " +
        "GROUP BY 1), " +
        "gc AS (SELECT cohort, ni, (100 * r2i) // ni AS rc FROM g), " +
        "gg AS (SELECT count(*) AS k, CAST(sum(ni) AS HUGEINT) AS n " +
        "FROM g), " +
        "p AS (SELECT a.cohort AS cohort_a, b.cohort AS cohort_b, " +
        "a.ni AS na, b.ni AS nb, " +
        "CAST(a.rc AS HUGEINT) - b.rc AS diffc, a.rc - b.rc AS rdiff " +
        "FROM gc a JOIN gc b ON a.cohort < b.cohort), " +
        "z AS (SELECT cohort_a, cohort_b, na, nb, rdiff, k, " +
        "(3 * (n - 1) * diffc * diffc * na * nb) // " +
        "(CASE WHEN 10 * (CAST(na AS HUGEINT) + nb) * " +
        "(n * (n * n - 1) - tie_cubic) = 0 THEN 1 " +
        "ELSE 10 * (CAST(na AS HUGEINT) + nb) * " +
        "(n * (n * n - 1) - tie_cubic) END) AS z2_milli " +
        "FROM p, gg, ties) " +
        "SELECT cohort_a, cohort_b, CAST(na AS BIGINT) AS n_a, " +
        "CAST(nb AS BIGINT) AS n_b, " +
        "CAST(rdiff AS BIGINT) AS rank_diff_centi2, " +
        "CAST(z2_milli AS BIGINT) AS z2_milli, " +
        "CAST(z2_milli >= (CASE k WHEN 2 THEN 3842 WHEN 3 THEN 5732 " +
        "WHEN 4 THEN 6961 WHEN 5 THEN 7880 WHEN 6 THEN 8616 " +
        "ELSE NULL END) AS INT) AS reject_bonf_95 FROM z"),
    "events_cochran_q" ->
      ("WITH p AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "rr AS (SELECT user_id, count(*) AS r FROM p GROUP BY 1), " +
        "rm AS (SELECT count(*) AS n_users, CAST(sum(r) AS HUGEINT) AS s, " +
        "sum(CAST(r AS HUGEINT) * r) AS sr2 FROM rr), " +
        "cc AS (SELECT event_type, count(*) AS c FROM p GROUP BY 1), " +
        "cm AS (SELECT CAST(count(*) AS HUGEINT) AS k, " +
        "sum(CAST(c AS HUGEINT) * c) AS sc2 FROM cc), " +
        "q AS (SELECT n_users, s, k, " +
        "(1000 * (k - 1) * (k * sc2 - s * s)) // " +
        "(CASE WHEN k * s - sr2 = 0 THEN 1 ELSE k * s - sr2 END) " +
        "AS q_milli FROM rm, cm) " +
        "SELECT CAST(k AS BIGINT) AS k_types, " +
        "CAST(n_users AS BIGINT) AS n_users, CAST(s AS BIGINT) AS s_total, " +
        "CAST(q_milli AS BIGINT) AS q_milli, CAST(k - 1 AS BIGINT) AS df, " +
        "CAST(q_milli >= (CASE k - 1 WHEN 1 THEN 3842 WHEN 2 THEN 5992 " +
        "WHEN 3 THEN 7815 WHEN 4 THEN 9488 WHEN 5 THEN 11071 " +
        "WHEN 6 THEN 12592 WHEN 7 THEN 14068 WHEN 8 THEN 15508 " +
        "WHEN 9 THEN 16919 WHEN 10 THEN 18308 ELSE NULL END) AS INT) " +
        "AS reject_95 FROM q"),
    "events_diff_in_diff" ->
      ("WITH m AS (SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 " +
        "AS mid FROM events), " +
        "u AS (SELECT user_id, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' AND epoch_ns(ts) < mid " +
        "THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "ELSE 0 END) AS HUGEINT) AS pre, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' AND epoch_ns(ts) >= mid " +
        "THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "ELSE 0 END) AS HUGEINT) AS post, " +
        "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 " +
        "AS arm FROM events, m GROUP BY user_id), " +
        "t AS (SELECT " +
        "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n0, " +
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n1, " +
        "sum(CASE WHEN arm = 0 THEN pre ELSE 0 END) AS pre0, " +
        "sum(CASE WHEN arm = 0 THEN post ELSE 0 END) AS post0, " +
        "sum(CASE WHEN arm = 1 THEN pre ELSE 0 END) AS pre1, " +
        "sum(CASE WHEN arm = 1 THEN post ELSE 0 END) AS post1 FROM u) " +
        "SELECT CAST(n0 AS BIGINT) AS n_control, " +
        "CAST(n1 AS BIGINT) AS n_treat, " +
        "CAST((1000 * pre0) // (CASE WHEN n0 = 0 THEN 1 ELSE n0 END) " +
        "AS BIGINT) AS pre_control_milli, " +
        "CAST((1000 * post0) // (CASE WHEN n0 = 0 THEN 1 ELSE n0 END) " +
        "AS BIGINT) AS post_control_milli, " +
        "CAST((1000 * pre1) // (CASE WHEN n1 = 0 THEN 1 ELSE n1 END) " +
        "AS BIGINT) AS pre_treat_milli, " +
        "CAST((1000 * post1) // (CASE WHEN n1 = 0 THEN 1 ELSE n1 END) " +
        "AS BIGINT) AS post_treat_milli, " +
        "CAST((1000 * ((post1 - pre1) * n0 - (post0 - pre0) * n1)) // " +
        "(CASE WHEN n1 * n0 = 0 THEN 1 ELSE n1 * n0 END) AS BIGINT) " +
        "AS did_milli FROM t"),
    "customer_revenue_lorenz" ->
      ("WITH rev AS (SELECT o_custkey, " +
        "sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) " +
        "// 100 AS v FROM orders GROUP BY 1), " +
        "byv AS (SELECT v, count(*) AS t FROM rev GROUP BY 1), " +
        "cum AS (SELECT v, t, sum(t) OVER (ORDER BY v ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cumt, " +
        "sum(CAST(t AS HUGEINT) * v) OVER (ORDER BY v ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cumv FROM byv), " +
        "cb AS (SELECT v, t, cumt, cumv, cumt - t AS c_before, " +
        "cumv - CAST(t AS HUGEINT) * v AS v_before FROM cum), " +
        "g AS (SELECT max(cumt) AS n, max(cumv) AS s, " +
        "sum(CAST(v AS HUGEINT) * (2 * (CAST(t AS HUGEINT) * c_before + " +
        "(CAST(t AS HUGEINT) * (t + 1)) // 2))) AS rank2x FROM cb), " +
        "gg AS (SELECT n, s, " +
        "CAST((1000000 * (rank2x - (n + 1) * s)) // " +
        "(CASE WHEN CAST(n AS HUGEINT) * s = 0 THEN 1 " +
        "ELSE CAST(n AS HUGEINT) * s END) AS BIGINT) AS gini_ppm FROM g), " +
        "dec AS (SELECT n, s, gini_ppm, " +
        "unnest(generate_series(1, 10)) AS decile FROM gg), " +
        "dp AS (SELECT n, s, gini_ppm, decile, (decile * n) // 10 AS pos " +
        "FROM dec) " +
        "SELECT decile, CAST(pos AS BIGINT) AS boundary_pos, " +
        "CAST(v_before + (pos - c_before) * CAST(v AS HUGEINT) AS BIGINT) " +
        "AS cum_value, " +
        "CAST((1000000 * (v_before + (pos - c_before) * " +
        "CAST(v AS HUGEINT))) // (CASE WHEN s = 0 THEN 1 ELSE s END) " +
        "AS BIGINT) AS share_ppm, gini_ppm " +
        "FROM cb JOIN dp ON c_before < pos AND pos <= cumt"),
    "events_transition_diversity" ->
      ("WITH s AS (SELECT user_id, event_id, event_type, epoch_ns(ts) " +
        "AS tsn FROM events), " +
        "p AS (SELECT event_type AS prev_type, lead(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY tsn, event_id) AS next_type FROM s), " +
        "c AS (SELECT prev_type, next_type, count(*) AS c FROM p " +
        "WHERE next_type IS NOT NULL GROUP BY 1, 2), " +
        "g AS (SELECT prev_type, count(*) AS n_next_types, " +
        "CAST(sum(c) AS HUGEINT) AS n, sum(CAST(c AS HUGEINT) * c) AS sq " +
        "FROM c GROUP BY 1) " +
        "SELECT prev_type, CAST(n AS BIGINT) AS n_transitions, " +
        "CAST(n_next_types AS BIGINT) AS n_next_types, " +
        "CAST(1000000 - (1000000 * sq) // (n * n) AS BIGINT) " +
        "AS gini_simpson_ppm, " +
        "CAST((1000 * n * n) // sq AS BIGINT) AS eff_next_milli FROM g"),
    "events_runs_test" ->
      ("WITH daily AS (SELECT event_type, epoch_ns(ts) // 86400000000000 " +
        "AS day, CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 " +
        "AS BIGINT)) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
        "rng AS (SELECT event_type, min(day) AS mn, max(day) AS mx " +
        "FROM daily GROUP BY 1), " +
        "ds AS (SELECT event_type, unnest(generate_series(mn, mx)) AS day " +
        "FROM rng), " +
        "dense AS (SELECT d.event_type, d.day, coalesce(dl.c, 0) AS c " +
        "FROM ds d LEFT JOIN daily dl ON dl.event_type = d.event_type " +
        "AND dl.day = d.day), " +
        "vt AS (SELECT event_type, c, count(*) AS t FROM dense GROUP BY 1, 2), " +
        "vw AS (SELECT event_type, c, t, sum(t) OVER (PARTITION BY " +
        "event_type ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS cum, sum(t) OVER (PARTITION BY event_type) AS ni " +
        "FROM vt), " +
        "med AS (SELECT event_type, " +
        "min(CASE WHEN cum >= (ni + 1) // 2 THEN c END) + " +
        "min(CASE WHEN cum >= ni // 2 + 1 THEN c END) AS m2 " +
        "FROM vw GROUP BY 1), " +
        "sg AS (SELECT d.event_type, d.day, " +
        "CASE WHEN 2 * d.c > m.m2 THEN 1 ELSE -1 END AS s " +
        "FROM dense d JOIN med m ON d.event_type = m.event_type " +
        "WHERE 2 * d.c != m.m2), " +
        "br AS (SELECT event_type, s, CASE WHEN lag(s) OVER (PARTITION BY " +
        "event_type ORDER BY day) IS NULL OR lag(s) OVER (PARTITION BY " +
        "event_type ORDER BY day) != s THEN 1 ELSE 0 END AS brk FROM sg), " +
        "agg AS (SELECT event_type, count(*) AS n, " +
        "sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n_above, " +
        "sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS n_below, " +
        "sum(brk) AS r_runs FROM br GROUP BY 1), " +
        "z AS (SELECT event_type, n, n_above, n_below, r_runs, " +
        "CAST(r_runs * n - 2 * n_above * n_below - n AS HUGEINT) AS num, " +
        "2 * CAST(n_above AS HUGEINT) * n_below * " +
        "(2 * CAST(n_above AS HUGEINT) * n_below - n) AS den FROM agg) " +
        "SELECT event_type, CAST(n AS BIGINT) AS n_scored, " +
        "CAST(n_above AS BIGINT) AS n_above, " +
        "CAST(n_below AS BIGINT) AS n_below, " +
        "CAST(r_runs AS BIGINT) AS r_runs, " +
        "CAST((1000 * num * num * (n - 1)) // " +
        "(CASE WHEN den <= 0 THEN 1 ELSE den END) AS BIGINT) AS z2_milli, " +
        "CAST((1000 * num * num * (n - 1)) // " +
        "(CASE WHEN den <= 0 THEN 1 ELSE den END) >= 3842 AS INT) " +
        "AS reject_95 FROM z"),
    "events_durbin_watson" ->
      ("WITH daily AS (SELECT event_type, epoch_ns(ts) // 86400000000000 " +
        "AS day, CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 " +
        "AS BIGINT)) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
        "rng AS (SELECT event_type, min(day) AS mn, max(day) AS mx " +
        "FROM daily GROUP BY 1), " +
        "ds AS (SELECT event_type, unnest(generate_series(mn, mx)) AS day " +
        "FROM rng), " +
        "dense AS (SELECT d.event_type, d.day, coalesce(dl.c, 0) AS c " +
        "FROM ds d LEFT JOIN daily dl ON dl.event_type = d.event_type " +
        "AND dl.day = d.day), " +
        "dd AS (SELECT event_type, c, c - lag(c) OVER (PARTITION BY " +
        "event_type ORDER BY day) AS dc FROM dense), " +
        "m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n, " +
        "CAST(sum(c) AS HUGEINT) AS s, sum(CAST(c AS HUGEINT) * c) AS q, " +
        "sum(CAST(dc AS HUGEINT) * dc) AS sq_diff FROM dd GROUP BY 1) " +
        "SELECT event_type, CAST(n AS BIGINT) AS n_days, " +
        "CAST((1000 * n * n * sq_diff) // (CASE WHEN n * (n * q - s * s) " +
        "= 0 THEN 1 ELSE n * (n * q - s * s) END) AS BIGINT) AS dw_milli " +
        "FROM m"),
    "events_forecast_theil_u" ->
      ("WITH daily AS (SELECT event_type, epoch_ns(ts) // 86400000000000 " +
        "AS day, CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 " +
        "AS BIGINT)) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
        "rng AS (SELECT event_type, min(day) AS mn, max(day) AS mx " +
        "FROM daily GROUP BY 1), " +
        "ds AS (SELECT event_type, unnest(generate_series(mn, mx)) AS day " +
        "FROM rng), " +
        "dense AS (SELECT d.event_type, d.day, coalesce(dl.c, 0) AS c " +
        "FROM ds d LEFT JOIN daily dl ON dl.event_type = d.event_type " +
        "AND dl.day = d.day), " +
        "lg AS (SELECT event_type, c, lag(c, 7) OVER (PARTITION BY " +
        "event_type ORDER BY day) AS f, lag(c, 1) OVER (PARTITION BY " +
        "event_type ORDER BY day) AS p FROM dense), " +
        "m AS (SELECT event_type, count(*) AS n_eval, " +
        "CAST(sum(abs(c - f)) AS HUGEINT) AS ae_f, " +
        "CAST(sum(abs(c - p)) AS HUGEINT) AS ae_1, " +
        "sum(CAST(c - f AS HUGEINT) * (c - f)) AS sq_f, " +
        "sum(CAST(c - p AS HUGEINT) * (c - p)) AS sq_1 " +
        "FROM lg WHERE f IS NOT NULL GROUP BY 1) " +
        "SELECT event_type, CAST(n_eval AS BIGINT) AS n_eval, " +
        "CAST(ae_f AS BIGINT) AS ae_seasonal_cents, " +
        "CAST(ae_1 AS BIGINT) AS ae_naive1_cents, " +
        "CAST((1000 * ae_f) // (CASE WHEN ae_1 = 0 THEN 1 ELSE ae_1 END) " +
        "AS BIGINT) AS rel_mae_milli, " +
        "CAST((1000 * sq_f) // (CASE WHEN sq_1 = 0 THEN 1 ELSE sq_1 END) " +
        "AS BIGINT) AS u2_milli FROM m"),
    "events_qini_deciles" ->
      ("WITH m AS (SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 " +
        "AS mid FROM events), " +
        "u AS (SELECT user_id, " +
        "sum(CASE WHEN epoch_ns(ts) < mid THEN 1 ELSE 0 END) AS score, " +
        "max(CASE WHEN event_type = 'purchase' AND epoch_ns(ts) >= mid " +
        "THEN 1 ELSE 0 END) AS conv, " +
        "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 " +
        "AS arm FROM events, m GROUP BY user_id), " +
        "bs AS (SELECT score, count(*) AS t, " +
        "sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nt, " +
        "sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS ct, " +
        "sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS nc, " +
        "sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS cc " +
        "FROM u GROUP BY 1), " +
        "g AS (SELECT sum(t) AS n FROM bs), " +
        "cb AS (SELECT score, nt, ct, nc, cc, sum(t) OVER (ORDER BY score " +
        "DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t " +
        "AS cum_before FROM bs), " +
        "bk AS (SELECT (10 * cum_before) // n + 1 AS bucket, " +
        "sum(nt) AS bnt, sum(ct) AS bct, sum(nc) AS bnc, sum(cc) AS bcc " +
        "FROM cb, g GROUP BY 1), " +
        "cw AS (SELECT bucket, " +
        "sum(bnt) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS cum_n_treat, " +
        "sum(bnc) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS cum_n_ctrl, " +
        "sum(bct) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS cum_conv_treat, " +
        "sum(bcc) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS cum_conv_ctrl FROM bk) " +
        "SELECT CAST(bucket AS BIGINT) AS bucket, " +
        "CAST(cum_n_treat AS BIGINT) AS cum_n_treat, " +
        "CAST(cum_n_ctrl AS BIGINT) AS cum_n_ctrl, " +
        "CAST(cum_conv_treat AS BIGINT) AS cum_conv_treat, " +
        "CAST(cum_conv_ctrl AS BIGINT) AS cum_conv_ctrl, " +
        "CAST(1000 * cum_conv_treat - (1000 * CAST(cum_conv_ctrl " +
        "AS HUGEINT) * cum_n_treat) // (CASE WHEN cum_n_ctrl = 0 THEN 1 " +
        "ELSE cum_n_ctrl END) AS BIGINT) AS qini_milli FROM cw"),
    "privacy_dp_geometric_counts" ->
      ("WITH c AS (SELECT c_nationkey AS group_key, count(*) AS n_true " +
        "FROM customer GROUP BY 1), " +
        "d AS (SELECT group_key, n_true, ('0x' || substr(md5('dp-r16:' || " +
        "CAST(group_key AS VARCHAR)), 1, 6))::BIGINT AS u FROM c), " +
        "k AS (SELECT group_key, n_true, u, " +
        "CASE WHEN u < 5592405 THEN 0 WHEN u < 8388608 THEN 1 " +
        "WHEN u < 11184810 THEN -1 WHEN u < 12582912 THEN 2 " +
        "WHEN u < 13981013 THEN -2 WHEN u < 14680064 THEN 3 " +
        "WHEN u < 15379114 THEN -3 WHEN u < 15728640 THEN 4 " +
        "WHEN u < 16078165 THEN -4 ELSE 5 END AS k_noise FROM d) " +
        "SELECT group_key, CAST(n_true AS BIGINT) AS n_true, " +
        "CAST(u AS BIGINT) AS u, CAST(k_noise AS BIGINT) AS k_noise, " +
        "CAST(greatest(0, n_true + k_noise) AS BIGINT) AS n_released " +
        "FROM k"),
    "corpus_kfold_assignment" ->
      ("WITH f AS (SELECT source, ('0x' || substr(md5('fold:' || " +
        "CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 5 AS fold " +
        "FROM documents), " +
        "c AS (SELECT source, fold, count(*) AS n_docs FROM f GROUP BY 1, 2), " +
        "t AS (SELECT source, sum(n_docs) AS ns FROM c GROUP BY 1) " +
        "SELECT c.source, CAST(fold AS BIGINT) AS fold, " +
        "CAST(n_docs AS BIGINT) AS n_docs, " +
        "CAST((10000 * (5 * n_docs - ns)) // ns AS BIGINT) AS dev_bp " +
        "FROM c JOIN t ON c.source = t.source"),
    "orders_conformal_interval" ->
      ("WITH j AS (SELECT c_mktsegment AS cohort, o_orderkey AS id, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v " +
        "FROM orders JOIN customer ON o_custkey = c_custkey), " +
        "pr AS (SELECT cohort, count(*) AS n_train, sum(v) // count(*) " +
        "AS pred_cents FROM j WHERE id % 2 = 1 GROUP BY 1), " +
        "cal AS (SELECT j.cohort, n_train, pred_cents, " +
        "abs(v - pred_cents) AS r, count(*) AS t FROM j JOIN pr " +
        "ON j.cohort = pr.cohort WHERE id % 2 = 0 GROUP BY 1, 2, 3, 4), " +
        "cw AS (SELECT cohort, n_train, pred_cents, r, " +
        "sum(t) OVER (PARTITION BY cohort ORDER BY r ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "sum(t) OVER (PARTITION BY cohort) AS n_cal FROM cal) " +
        "SELECT cohort, CAST(n_train AS BIGINT) AS n_train, " +
        "CAST(n_cal AS BIGINT) AS n_cal, " +
        "CAST(pred_cents AS BIGINT) AS pred_cents, " +
        "CAST(min(CASE WHEN cum >= (9 * (n_cal + 1) + 9) // 10 THEN r " +
        "END) AS BIGINT) AS q90_radius_cents " +
        "FROM cw GROUP BY 1, 2, 3, 4"),
    "part_inventory_policy" ->
      ("WITH q AS (SELECT l_partkey AS partkey, " +
        "CAST(l_quantity AS BIGINT) AS qty, count(*) AS t FROM lineitem " +
        "GROUP BY 1, 2), " +
        "cw AS (SELECT partkey, qty, t, sum(t) OVER (PARTITION BY partkey " +
        "ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS cum, sum(t) OVER (PARTITION BY partkey) AS n, " +
        "sum(qty * t) OVER (PARTITION BY partkey) AS dsum FROM q), " +
        "g AS (SELECT partkey, n, dsum, min(CASE WHEN cum >= " +
        "(3 * n + 3) // 4 THEN qty END) AS q75_qty FROM cw " +
        "GROUP BY 1, 2, 3), " +
        "e AS (SELECT partkey, n, dsum, q75_qty, " +
        "CAST(2 AS HUGEINT) * dsum * 2500 // 100 AS x FROM g), " +
        "s AS (SELECT partkey, n, dsum, q75_qty, x, " +
        "CAST(floor(sqrt(CAST(x AS DOUBLE))) AS HUGEINT) AS s0 FROM e) " +
        "SELECT partkey, CAST(n AS BIGINT) AS n_lines, " +
        "CAST(dsum AS BIGINT) AS demand_units, " +
        "CAST(CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN s0 + 1 " +
        "WHEN s0 * s0 > x THEN s0 - 1 ELSE s0 END AS BIGINT) " +
        "AS eoq_units, CAST(q75_qty AS BIGINT) AS q75_qty FROM s"),
    "events_tracking_signal" ->
      ("WITH daily AS (SELECT event_type, epoch_ns(ts) // 86400000000000 " +
        "AS day, CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 " +
        "AS BIGINT)) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
        "rng AS (SELECT event_type, min(day) AS mn, max(day) AS mx " +
        "FROM daily GROUP BY 1), " +
        "ds AS (SELECT event_type, unnest(generate_series(mn, mx)) AS day " +
        "FROM rng), " +
        "dense AS (SELECT d.event_type, d.day, coalesce(dl.c, 0) AS c " +
        "FROM ds d LEFT JOIN daily dl ON dl.event_type = d.event_type " +
        "AND dl.day = d.day), " +
        "lg AS (SELECT event_type, c, lag(c, 7) OVER (PARTITION BY " +
        "event_type ORDER BY day) AS f FROM dense), " +
        "m AS (SELECT event_type, count(*) AS n_eval, " +
        "CAST(sum(c - f) AS HUGEINT) AS se, " +
        "CAST(sum(abs(c - f)) AS HUGEINT) AS sae FROM lg " +
        "WHERE f IS NOT NULL GROUP BY 1), " +
        "z AS (SELECT event_type, n_eval, se, sae, " +
        "(1000 * CAST(n_eval AS HUGEINT) * se) // " +
        "(CASE WHEN sae = 0 THEN 1 ELSE sae END) AS ts_milli FROM m) " +
        "SELECT event_type, CAST(n_eval AS BIGINT) AS n_eval, " +
        "CAST(se AS BIGINT) AS sum_err_cents, " +
        "CAST(sae AS BIGINT) AS sum_abs_err_cents, " +
        "CAST(ts_milli AS BIGINT) AS ts_milli, " +
        "CAST(abs(ts_milli) >= 4000 AS INT) AS bias_alarm FROM z"),
    "token_burstiness_topk" ->
      ("WITH pd AS (SELECT doc_id, tk, count(*) AS c FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS tk " +
        "FROM documents) u WHERE tk != '' GROUP BY 1, 2), " +
        "nd AS (SELECT count(*) AS n_corpus FROM documents), " +
        "st AS (SELECT tk AS token, count(*) AS df, " +
        "CAST(sum(c) AS HUGEINT) AS tf, " +
        "sum(CAST(c AS HUGEINT) * c) AS q FROM pd GROUP BY 1), " +
        "v AS (SELECT token, df, tf, " +
        "(1000 * (CAST(n_corpus AS HUGEINT) * q - tf * tf)) // " +
        "((n_corpus - 1) * tf) AS vmr_milli FROM st, nd WHERE df >= 5) " +
        "SELECT token, CAST(df AS BIGINT) AS df, CAST(tf AS BIGINT) AS tf, " +
        "CAST(vmr_milli AS BIGINT) AS vmr_milli FROM v " +
        "ORDER BY vmr_milli DESC, token LIMIT 50"),
    "source_length_skewness" ->
      ("WITH bv AS (SELECT source, n_chars AS v, count(*) AS t " +
        "FROM documents GROUP BY 1, 2), " +
        "cw AS (SELECT source, v, t, sum(t) OVER (PARTITION BY source " +
        "ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS cum, sum(t) OVER (PARTITION BY source) AS n FROM bv), " +
        "g AS (SELECT source, n, " +
        "min(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS q1, " +
        "min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS q2, " +
        "min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS q3 " +
        "FROM cw GROUP BY 1, 2) " +
        "SELECT source, CAST(n AS BIGINT) AS n_docs, " +
        "CAST(q1 AS BIGINT) AS q1, CAST(q2 AS BIGINT) AS q2, " +
        "CAST(q3 AS BIGINT) AS q3, " +
        "CAST((1000 * (q3 + q1 - 2 * q2)) // " +
        "(CASE WHEN q3 = q1 THEN 1 ELSE q3 - q1 END) AS BIGINT) " +
        "AS bowley_milli FROM g"),
    "events_watermark_lateness" ->
      ("WITH e AS (SELECT event_id, epoch_ns(ts) AS ts FROM events), " +
        "p AS (SELECT ts, max(ts) OVER (ORDER BY event_id ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm FROM e), " +
        "m AS (SELECT count(*) AS n_events, " +
        "sum(CASE WHEN wm - ts > 3600000000000 THEN 1 ELSE 0 END) " +
        "AS late_1h, " +
        "sum(CASE WHEN wm - ts > 21600000000000 THEN 1 ELSE 0 END) " +
        "AS late_6h, " +
        "sum(CASE WHEN wm - ts > 86400000000000 THEN 1 ELSE 0 END) " +
        "AS late_24h FROM p) " +
        "SELECT CAST(n_events AS BIGINT) AS n_events, " +
        "CAST(late_1h AS BIGINT) AS late_1h, " +
        "CAST(late_6h AS BIGINT) AS late_6h, " +
        "CAST(late_24h AS BIGINT) AS late_24h, " +
        "CAST((10000 * late_1h) // n_events AS BIGINT) AS late_1h_bp, " +
        "CAST((10000 * late_24h) // n_events AS BIGINT) AS late_24h_bp " +
        "FROM m"),
    "events_session_concurrency" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts " +
        "FROM events), " +
        "s AS (SELECT user_id, event_id, ts, CASE WHEN lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL OR " +
        "ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
        "> 1800000000000 THEN 1 ELSE 0 END AS brk FROM e), " +
        "sid AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS sid FROM s), " +
        "sess AS (SELECT user_id, sid, min(ts) // 60000000000 AS sm, " +
        "max(ts) // 60000000000 + 1 AS em FROM sid GROUP BY 1, 2), " +
        "dl AS (SELECT minute, sum(d) AS delta FROM (" +
        "SELECT sm AS minute, 1 AS d FROM sess " +
        "UNION ALL SELECT em, -1 FROM sess) u GROUP BY 1), " +
        "rng AS (SELECT min(minute) AS mn, max(minute) AS mx FROM dl), " +
        "g AS (SELECT unnest(generate_series(mn, mx)) AS minute FROM rng), " +
        "c AS (SELECT g.minute, sum(coalesce(dl.delta, 0)) OVER " +
        "(ORDER BY g.minute ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS conc FROM g LEFT JOIN dl ON g.minute = dl.minute) " +
        "SELECT minute // 1440 AS day, " +
        "CAST(max(conc) AS BIGINT) AS peak_concurrent, " +
        "CAST((1000 * sum(conc)) // count(*) AS BIGINT) " +
        "AS avg_concurrent_milli FROM c GROUP BY 1"),
    "orders_qq_shift_profile" ->
      ("WITH j AS (SELECT c_mktsegment AS cohort, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 " +
        "AS v FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')), " +
        "bv AS (SELECT cohort, v, count(*) AS t FROM j GROUP BY 1, 2), " +
        "cw AS (SELECT cohort, v, t, sum(t) OVER (PARTITION BY cohort " +
        "ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS cum, sum(t) OVER (PARTITION BY cohort) AS n FROM bv), " +
        "dec AS (SELECT cohort, n, unnest(generate_series(1, 9)) " +
        "AS decile FROM (SELECT DISTINCT cohort, n FROM cw) dn), " +
        "dp AS (SELECT cohort, decile, (decile * n + 9) // 10 AS pos " +
        "FROM dec), " +
        "qs AS (SELECT cw.cohort, decile, v FROM cw JOIN dp " +
        "ON cw.cohort = dp.cohort AND cum - t < pos AND pos <= cum) " +
        "SELECT a.decile, a.v AS q_a, b.v AS q_b, b.v - a.v AS shift, " +
        "CAST((10000 * (b.v - a.v)) // (CASE WHEN a.v = 0 THEN 1 " +
        "ELSE a.v END) AS BIGINT) AS shift_bp " +
        "FROM (SELECT decile, v FROM qs WHERE cohort = 'BUILDING') a " +
        "JOIN (SELECT decile, v FROM qs WHERE cohort = 'MACHINERY') b " +
        "USING (decile)"),
    "orders_trimmed_mean" ->
      ("WITH j AS (SELECT c_mktsegment AS cohort, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 " +
        "AS v FROM orders JOIN customer ON o_custkey = c_custkey), " +
        "bv AS (SELECT cohort, v, count(*) AS t FROM j GROUP BY 1, 2), " +
        "cw AS (SELECT cohort, v, t, sum(t) OVER (PARTITION BY cohort " +
        "ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS cum, sum(t) OVER (PARTITION BY cohort) AS n FROM bv), " +
        "k AS (SELECT cohort, v, t, n, " +
        "greatest(0, least(cum, n - n // 10) - " +
        "greatest(cum - t, n // 10)) AS kept FROM cw), " +
        "g AS (SELECT cohort, max(n) AS n, sum(kept) AS kept_n, " +
        "sum(CAST(kept AS HUGEINT) * v) AS kept_sum, " +
        "sum(CAST(t AS HUGEINT) * v) AS full_sum FROM k GROUP BY 1) " +
        "SELECT cohort, CAST(n AS BIGINT) AS n, " +
        "CAST(kept_n AS BIGINT) AS kept_n, " +
        "CAST((1000 * kept_sum) // (CASE WHEN kept_n = 0 THEN 1 " +
        "ELSE kept_n END) AS BIGINT) AS trimmed_mean_milli, " +
        "CAST((1000 * full_sum) // n AS BIGINT) AS raw_mean_milli FROM g"),
    "events_hodges_lehmann" ->
      ("WITH daily AS (SELECT event_type, epoch_ns(ts) // 86400000000000 " +
        "AS day, CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 " +
        "AS BIGINT)) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
        "rng AS (SELECT event_type, min(day) AS mn, max(day) AS mx " +
        "FROM daily GROUP BY 1), " +
        "ds AS (SELECT event_type, unnest(generate_series(mn, mx)) AS day " +
        "FROM rng), " +
        "dense AS (SELECT d.event_type, d.day, coalesce(dl.c, 0) AS c " +
        "FROM ds d LEFT JOIN daily dl ON dl.event_type = d.event_type " +
        "AND dl.day = d.day), " +
        "pr AS (SELECT a.event_type, a.c + b.c AS ws, count(*) AS t " +
        "FROM dense a JOIN dense b ON a.event_type = b.event_type " +
        "AND a.day <= b.day GROUP BY 1, 2), " +
        "cw AS (SELECT event_type, ws, t, sum(t) OVER (PARTITION BY " +
        "event_type ORDER BY ws ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS cum, sum(t) OVER (PARTITION BY event_type) " +
        "AS np FROM pr) " +
        "SELECT event_type, CAST(np AS BIGINT) AS n_pairs, " +
        "CAST(250 * (min(CASE WHEN cum >= (np + 1) // 2 THEN ws END) + " +
        "min(CASE WHEN cum >= np // 2 + 1 THEN ws END)) AS BIGINT) " +
        "AS hl_milli_cents FROM cw GROUP BY 1, 2"),
    "orders_priority_markov" ->
      ("WITH s AS (SELECT o_custkey, o_orderpriority, " +
        "lag(o_orderpriority) OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate, o_orderkey) AS prev_priority FROM orders), " +
        "c AS (SELECT prev_priority, o_orderpriority AS next_priority, " +
        "count(*) AS n FROM s WHERE prev_priority IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "r AS (SELECT prev_priority, sum(n) AS row_total FROM c GROUP BY 1) " +
        "SELECT c.prev_priority, next_priority, CAST(n AS BIGINT) AS n, " +
        "CAST((10000 * n) // row_total AS BIGINT) AS share_bp " +
        "FROM c JOIN r ON c.prev_priority = r.prev_priority"),
    "events_time_to_convert" ->
      ("WITH u AS (SELECT user_id, min(epoch_ns(ts)) AS t0, " +
        "min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) " +
        "AS tc FROM events GROUP BY 1), " +
        "lg AS (SELECT (tc - t0) // 60000000000 AS lag_min, count(*) AS t " +
        "FROM u WHERE tc IS NOT NULL GROUP BY 1), " +
        "cw AS (SELECT lag_min, t, sum(t) OVER (ORDER BY lag_min " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "sum(t) OVER () AS nc FROM lg), " +
        "q AS (SELECT max(nc) AS n_converted, " +
        "min(CASE WHEN cum >= (nc + 3) // 4 THEN lag_min END) AS q1_min, " +
        "min(CASE WHEN cum >= (nc + 1) // 2 THEN lag_min END) AS med_min, " +
        "min(CASE WHEN cum >= (3 * nc + 3) // 4 THEN lag_min END) " +
        "AS q3_min FROM cw), " +
        "nu AS (SELECT count(*) AS n_users FROM u) " +
        "SELECT CAST(n_users AS BIGINT) AS n_users, " +
        "CAST(n_converted AS BIGINT) AS n_converted, " +
        "CAST((10000 * n_converted) // n_users AS BIGINT) AS conv_bp, " +
        "CAST(q1_min AS BIGINT) AS q1_min, " +
        "CAST(med_min AS BIGINT) AS med_min, " +
        "CAST(q3_min AS BIGINT) AS q3_min FROM nu, q"),
    "events_activity_lorenz" ->
      ("WITH rev AS (SELECT user_id, count(*) AS v FROM events GROUP BY 1), " +
        "byv AS (SELECT v, count(*) AS t FROM rev GROUP BY 1), " +
        "cum AS (SELECT v, t, sum(t) OVER (ORDER BY v ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cumt, " +
        "sum(CAST(t AS HUGEINT) * v) OVER (ORDER BY v ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cumv FROM byv), " +
        "cb AS (SELECT v, t, cumt, cumv, cumt - t AS c_before, " +
        "cumv - CAST(t AS HUGEINT) * v AS v_before FROM cum), " +
        "g AS (SELECT max(cumt) AS n, max(cumv) AS s, " +
        "sum(CAST(v AS HUGEINT) * (2 * (CAST(t AS HUGEINT) * c_before + " +
        "(CAST(t AS HUGEINT) * (t + 1)) // 2))) AS rank2x FROM cb), " +
        "gg AS (SELECT n, s, " +
        "CAST((1000000 * (rank2x - (n + 1) * s)) // " +
        "(CASE WHEN CAST(n AS HUGEINT) * s = 0 THEN 1 " +
        "ELSE CAST(n AS HUGEINT) * s END) AS BIGINT) AS gini_ppm FROM g), " +
        "dec AS (SELECT n, s, gini_ppm, " +
        "unnest(generate_series(1, 10)) AS decile FROM gg), " +
        "dp AS (SELECT n, s, gini_ppm, decile, (decile * n) // 10 AS pos " +
        "FROM dec) " +
        "SELECT decile, CAST(pos AS BIGINT) AS boundary_pos, " +
        "CAST(v_before + (pos - c_before) * CAST(v AS HUGEINT) AS BIGINT) " +
        "AS cum_value, " +
        "CAST((1000000 * (v_before + (pos - c_before) * " +
        "CAST(v AS HUGEINT))) // (CASE WHEN s = 0 THEN 1 ELSE s END) " +
        "AS BIGINT) AS share_ppm, gini_ppm " +
        "FROM cb JOIN dp ON c_before < pos AND pos <= cumt"),
    "orders_seasonal_index" ->
      ("WITH o AS (SELECT month(CAST(o_orderdate AS DATE)) AS m, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "AS cents FROM orders), " +
        "t AS (SELECT CAST(sum(cents) AS HUGEINT) AS total FROM o), " +
        "g AS (SELECT m, CAST(sum(cents) AS HUGEINT) AS rev FROM o " +
        "GROUP BY 1) " +
        "SELECT CAST(m AS INT) AS month, CAST(rev AS BIGINT) AS rev_cents, " +
        "CAST((10000 * 12 * rev) // total AS BIGINT) AS index_bp " +
        "FROM g, t"),
    "events_error_pchart" ->
      ("WITH daily AS (SELECT epoch_ns(ts) // 86400000000000 AS day, " +
        "count(*) AS n, sum(CASE WHEN event_type = 'error' THEN 1 " +
        "ELSE 0 END) AS e FROM events GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n) AS HUGEINT) AS nn, " +
        "CAST(sum(e) AS HUGEINT) AS ee FROM daily) " +
        "SELECT day, CAST(n AS BIGINT) AS n_events, " +
        "CAST(e AS BIGINT) AS n_errors, " +
        "CAST((10000 * e) // n AS BIGINT) AS share_bp, " +
        "CAST((CAST(e AS HUGEINT) * nn - ee * n) * " +
        "(CAST(e AS HUGEINT) * nn - ee * n) > 9 * ee * (nn - ee) * n " +
        "AS INT) AS oob_3sigma FROM daily, t"),
    "orders_linecount_dispersion" ->
      ("WITH po AS (SELECT l_orderkey, count(*) AS k FROM lineitem " +
        "GROUP BY 1), " +
        "h AS (SELECT k, count(*) AS n_orders FROM po GROUP BY 1), " +
        "m AS (SELECT CAST(sum(n_orders) AS HUGEINT) AS no, " +
        "sum(CAST(n_orders AS HUGEINT) * k) AS s, " +
        "sum(CAST(n_orders AS HUGEINT) * k * k) AS q FROM h), " +
        "v AS (SELECT (1000 * (no * q - s * s)) // " +
        "(CASE WHEN (no - 1) * s = 0 THEN 1 ELSE (no - 1) * s END) " +
        "AS vmr_milli FROM m) " +
        "SELECT CAST(k AS BIGINT) AS n_lines, " +
        "CAST(n_orders AS BIGINT) AS n_orders, " +
        "CAST(vmr_milli AS BIGINT) AS vmr_milli FROM h, v"),
    "part_pareto_share" ->
      ("WITH rev AS (SELECT l_partkey, " +
        "sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) " +
        "// 100 AS v FROM lineitem GROUP BY 1), " +
        "byv AS (SELECT v, count(*) AS t FROM rev GROUP BY 1), " +
        "cum AS (SELECT v, t, sum(t) OVER (ORDER BY v ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cumt, " +
        "sum(CAST(t AS HUGEINT) * v) OVER (ORDER BY v ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cumv FROM byv), " +
        "g AS (SELECT max(cumt) AS n, max(cumv) AS s FROM cum), " +
        "gp AS (SELECT n, s, n - n // 5 AS pos FROM g) " +
        "SELECT CAST(n AS BIGINT) AS n_units, " +
        "CAST(n // 5 AS BIGINT) AS top_n, CAST(s AS BIGINT) AS total_value, " +
        "CAST(1000000 - (1000000 * (cumv - CAST(t AS HUGEINT) * v + " +
        "(pos - (cumt - t)) * CAST(v AS HUGEINT))) // " +
        "(CASE WHEN s = 0 THEN 1 ELSE s END) AS BIGINT) AS top_share_ppm " +
        "FROM cum, gp WHERE cumt - t < pos AND pos <= cumt"),
    "vocab_heaps_curve" ->
      ("WITH db AS (SELECT length(bin(greatest(1, doc_id))) - 1 AS b, " +
        "count(*) AS nd FROM documents GROUP BY 1), " +
        "tk AS (SELECT tk, min(greatest(1, doc_id)) AS fd FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS tk " +
        "FROM documents) u WHERE tk != '' GROUP BY 1), " +
        "tb AS (SELECT length(bin(fd)) - 1 AS b, count(*) AS nv " +
        "FROM tk GROUP BY 1), " +
        "j AS (SELECT db.b, nd, coalesce(nv, 0) AS nv FROM db " +
        "LEFT JOIN tb ON db.b = tb.b) " +
        "SELECT CAST(b AS INT) AS bucket, " +
        "CAST((CAST(1 AS BIGINT) << (b + 1)) - 1 AS BIGINT) AS doc_hi, " +
        "CAST(sum(nd) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS BIGINT) AS n_docs_cum, " +
        "CAST(sum(nv) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS BIGINT) AS vocab_cum FROM j"),
    "dedup_capture_recapture" ->
      ("WITH " + minhashPairCtes + ", " +
        "lsh AS (SELECT DISTINCT id_a, id_b FROM pairs), " +
        "fpr AS (SELECT doc_id, md5(lower(trim(text))) AS f " +
        "FROM documents), " +
        "ep AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM fpr a " +
        "JOIN fpr b ON a.f = b.f AND a.doc_id < b.doc_id), " +
        "t AS (SELECT CASE WHEN e.id_a IS NOT NULL THEN 1 ELSE 0 END " +
        "AS in1, CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END AS in2 " +
        "FROM ep e FULL OUTER JOIN lsh l ON e.id_a = l.id_a " +
        "AND e.id_b = l.id_b), " +
        "m AS (SELECT sum(in1) AS n_exact, sum(in2) AS n_lsh, " +
        "sum(in1 * in2) AS n_overlap, count(*) AS n_union FROM t), " +
        "z AS (SELECT n_exact, n_lsh, n_overlap, n_union, " +
        "(1000 * (n_exact + 1) * (n_lsh + 1)) // (n_overlap + 1) - 1000 " +
        "AS chapman_milli FROM m) " +
        "SELECT CAST(n_exact AS BIGINT) AS n_exact, " +
        "CAST(n_lsh AS BIGINT) AS n_lsh, " +
        "CAST(n_overlap AS BIGINT) AS n_overlap, " +
        "CAST(n_union AS BIGINT) AS n_union, " +
        "CAST(chapman_milli AS BIGINT) AS chapman_milli, " +
        "CAST(chapman_milli - 1000 * n_union AS BIGINT) AS missed_milli " +
        "FROM z"),
    "rank_corr_spearman" ->
      ("WITH e AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day " +
        "FROM events WHERE event_type IN ('click', 'purchase')), " +
        "g AS (SELECT unnest(generate_series((SELECT min(day) FROM e), " +
        "(SELECT max(day) FROM e))) AS day), " +
        "cnt AS (SELECT day, " +
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x, " +
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y " +
        "FROM e GROUP BY 1), " +
        "days AS (SELECT g.day, coalesce(cnt.x, 0) AS x, " +
        "coalesce(cnt.y, 0) AS y FROM g LEFT JOIN cnt USING (day)), " +
        "bx AS (SELECT x, count(*) AS t FROM days GROUP BY 1), " +
        "rx AS (SELECT x, 2 * (sum(t) OVER (ORDER BY x ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) - t) + t + 1 AS r2x FROM bx), " +
        "tx AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tie_x FROM bx), " +
        "by2 AS (SELECT y, count(*) AS t FROM days GROUP BY 1), " +
        "ry AS (SELECT y, 2 * (sum(t) OVER (ORDER BY y ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) - t) + t + 1 AS r2y FROM by2), " +
        "ty AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tie_y FROM by2), " +
        "m AS (SELECT CAST(count(*) AS HUGEINT) AS n, " +
        "sum(CAST(r2x AS HUGEINT)) AS sx, sum(CAST(r2y AS HUGEINT)) AS sy, " +
        "sum(CAST(r2x AS HUGEINT) * r2y) AS sxy, " +
        "sum(CAST(r2x AS HUGEINT) * r2x) AS sxx, " +
        "sum(CAST(r2y AS HUGEINT) * r2y) AS syy " +
        "FROM days JOIN rx USING (x) JOIN ry USING (y)), " +
        "k AS (SELECT n, n * sxy - sx * sy AS num, " +
        "CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN 1 " +
        "ELSE (n * sxx - sx * sx) * (n * syy - sy * sy) END AS den FROM m) " +
        "SELECT CAST(n AS BIGINT) AS n_days, CAST(tie_x AS BIGINT) AS tie_x, " +
        "CAST(tie_y AS BIGINT) AS tie_y, " +
        "CAST(CASE WHEN num < 0 THEN -((num * num * 1000000) // den) " +
        "ELSE (num * num * 1000000) // den END AS BIGINT) " +
        "AS rho2_signed_ppm FROM k, tx, ty"),
    "orders_ship_lag_sla" ->
      ("WITH l AS (SELECT o_orderpriority, " +
        "date_diff('day', CAST(o_orderdate AS DATE), " +
        "CAST(l_shipdate AS DATE)) AS lag FROM orders " +
        "JOIN lineitem ON o_orderkey = l_orderkey) " +
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines, " +
        "CAST(round(quantile_cont(lag, 0.5) * 2) AS BIGINT) AS p50_lag_x2, " +
        "CAST((sum(CASE WHEN lag <= 30 THEN 1 ELSE 0 END) * 10000) // " +
        "count(*) AS BIGINT) AS within_30d_bp FROM l GROUP BY 1"),
    "customer_balance_revenue_r2" ->
      ("WITH rev AS (SELECT o_custkey, sum(CAST(CAST(o_totalprice " +
        "AS DECIMAL(18,2)) * 100 AS BIGINT)) AS r FROM orders GROUP BY 1), " +
        "j AS (SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "AS b, coalesce(r, 0) AS r FROM customer " +
        "LEFT JOIN rev ON c_custkey = o_custkey), " +
        "m AS (SELECT CAST(count(*) AS HUGEINT) AS n, " +
        "sum(CAST(b AS HUGEINT)) AS sx, sum(CAST(r AS HUGEINT)) AS sy, " +
        "sum(CAST(b AS HUGEINT) * r) AS sxy, " +
        "sum(CAST(b AS HUGEINT) * b) AS sxx, " +
        "sum(CAST(r AS HUGEINT) * r) AS syy FROM j), " +
        "d AS (SELECT CAST(n AS BIGINT) AS n_customers, " +
        "(n * sxy - sx * sy) // 1000000000000 AS num, " +
        "(n * sxx - sx * sx) // 1000000000000 AS dx, " +
        "(n * syy - sy * sy) // 1000000000000 AS dy FROM m) " +
        "SELECT n_customers, CAST(CASE WHEN dx = 0 OR dy = 0 THEN 0 " +
        "WHEN num < 0 THEN 0 - (1000000 * num * num) // (dx * dy) " +
        "ELSE (1000000 * num * num) // (dx * dy) END AS BIGINT) " +
        "AS r2_signed_ppm FROM d"),
    "nation_revenue_hhi" ->
      ("WITH pc AS (SELECT o_custkey, CAST(sum(CAST(CAST(o_totalprice " +
        "AS DECIMAL(18,2)) * 100 AS BIGINT)) AS HUGEINT) AS c FROM orders " +
        "GROUP BY 1), " +
        "n AS (SELECT n_name, count(*) AS n_customers, sum(c) AS s, " +
        "sum(c * c) AS s2 FROM pc " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY 1) " +
        "SELECT n_name, CAST(n_customers AS BIGINT) AS n_customers, " +
        "CAST(s AS BIGINT) AS rev_cents, " +
        "CAST(CASE WHEN s = 0 THEN 0 ELSE (1000000 * s2) // (s * s) END " +
        "AS BIGINT) AS hhi_ppm FROM n"),
    "part_demand_intermittency" ->
      ("WITH b AS (SELECT l_partkey AS part_id, " +
        "date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS d, " +
        "CAST(l_quantity AS BIGINT) AS q FROM lineitem), " +
        "sp AS (SELECT max(d) - min(d) + 1 AS span_days FROM b), " +
        "p AS (SELECT part_id, count(*) AS n_demands, " +
        "count(DISTINCT d) AS n_days, sum(CAST(q AS HUGEINT)) AS sq, " +
        "sum(CAST(q AS HUGEINT) * q) AS sqq FROM b GROUP BY 1), " +
        "m AS (SELECT part_id, n_demands, n_days, " +
        "(span_days * 1000) // n_days AS adi_milli, " +
        "CAST(CASE WHEN sq = 0 THEN 0 ELSE " +
        "(1000 * (n_demands * sqq - sq * sq)) // (sq * sq) END AS BIGINT) " +
        "AS cv2_milli FROM p, sp) " +
        "SELECT part_id, CAST(n_demands AS BIGINT) AS n_demands, " +
        "CAST(n_days AS BIGINT) AS n_days, " +
        "CAST(adi_milli AS BIGINT) AS adi_milli, cv2_milli, " +
        "CASE WHEN adi_milli > 1320 AND cv2_milli > 490 THEN 'lumpy' " +
        "WHEN adi_milli > 1320 THEN 'intermittent' " +
        "WHEN cv2_milli > 490 THEN 'erratic' " +
        "ELSE 'smooth' END AS demand_class FROM m"),
    "source_neyman_allocation" ->
      ("WITH s AS (SELECT source, count(*) AS n_docs, " +
        "sum(CAST(n_chars AS HUGEINT)) AS sx, " +
        "sum(CAST(n_chars AS HUGEINT) * n_chars) AS sxx FROM documents " +
        "GROUP BY 1), " +
        "v AS (SELECT source, n_docs, n_docs * sxx - sx * sx AS v FROM s), " +
        "r AS (SELECT source, n_docs, v, " +
        "CAST(floor(sqrt(CAST(v AS DOUBLE))) AS HUGEINT) AS s0 FROM v), " +
        "w AS (SELECT source, n_docs, " +
        "CAST(CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1 " +
        "WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END AS BIGINT) AS w FROM r), " +
        "t AS (SELECT sum(w) AS wt FROM w) " +
        "SELECT source, CAST(n_docs AS BIGINT) AS n_docs, w, " +
        "CAST(CASE WHEN wt = 0 THEN 0 ELSE (10000 * w) // wt END AS BIGINT) " +
        "AS alloc FROM w, t"),
    "orders_column_profile" ->
      ("SELECT 'o_orderkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM orders UNION ALL " +
        "SELECT 'o_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct FROM orders UNION ALL " +
        "SELECT 'o_orderstatus' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct FROM orders UNION ALL " +
        "SELECT 'o_totalprice' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, CAST(count(DISTINCT o_totalprice) AS BIGINT) AS n_distinct FROM orders UNION ALL " +
        "SELECT 'o_orderdate' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, CAST(count(DISTINCT o_orderdate) AS BIGINT) AS n_distinct FROM orders UNION ALL " +
        "SELECT 'o_orderpriority' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct FROM orders"),
    "bloom_fpr_audit" ->
      ("WITH a AS (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS k FROM customer), " +
        "pos AS (SELECT DISTINCT ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || " +
        "CAST(k AS VARCHAR)), 1, 12))::BIGINT % 16384 AS p " +
        "FROM a, unnest(generate_series(0, 2)) AS t(i)), " +
        "mx AS (SELECT max(k) AS mk FROM a), " +
        "b AS (SELECT k + (mk + 1) * 10 AS q FROM a, mx), " +
        "f AS (SELECT q FROM b WHERE " +
        "('0x' || substr(md5('0:' || CAST(q AS VARCHAR)), 1, 12))::BIGINT % 16384 " +
        "IN (SELECT p FROM pos) AND " +
        "('0x' || substr(md5('1:' || CAST(q AS VARCHAR)), 1, 12))::BIGINT % 16384 " +
        "IN (SELECT p FROM pos) AND " +
        "('0x' || substr(md5('2:' || CAST(q AS VARCHAR)), 1, 12))::BIGINT % 16384 " +
        "IN (SELECT p FROM pos)), " +
        "z AS (SELECT (SELECT count(*) FROM b) AS n_probe, " +
        "(SELECT count(*) FROM f) AS n_fp) " +
        "SELECT CAST(16384 AS BIGINT) AS m_bits, CAST(3 AS BIGINT) AS k_hashes, " +
        "CAST(n_probe AS BIGINT) AS n_build, CAST(n_probe AS BIGINT) AS n_probe, " +
        "CAST(n_fp AS BIGINT) AS n_fp, " +
        "CAST(CASE WHEN n_probe = 0 THEN 0 ELSE (n_fp * 1000000) // n_probe END " +
        "AS BIGINT) AS fpr_ppm FROM z"),
    "token_graph_rich_club" ->
      (tokenEdgeCte + ", " +
        "dc AS (SELECT id_a AS u FROM e UNION ALL SELECT id_b FROM e), " +
        "deg AS (SELECT u, count(*) AS d FROM dc GROUP BY 1), " +
        "tagged AS (SELECT least(da.d, db.d) AS md FROM e " +
        "JOIN deg da ON e.id_a = da.u JOIN deg db ON e.id_b = db.u), " +
        "na AS (SELECT sum(CASE WHEN d > 4 THEN 1 ELSE 0 END) AS n4, sum(CASE WHEN d > 8 THEN 1 ELSE 0 END) AS n8, sum(CASE WHEN d > 16 THEN 1 ELSE 0 END) AS n16, sum(CASE WHEN d > 32 THEN 1 ELSE 0 END) AS n32 FROM deg), " +
        "ea AS (SELECT sum(CASE WHEN md > 4 THEN 1 ELSE 0 END) AS e4, sum(CASE WHEN md > 8 THEN 1 ELSE 0 END) AS e8, sum(CASE WHEN md > 16 THEN 1 ELSE 0 END) AS e16, sum(CASE WHEN md > 32 THEN 1 ELSE 0 END) AS e32 FROM tagged) " +
        "SELECT CAST(4 AS BIGINT) AS k, CAST(n4 AS BIGINT) AS n_nodes, CAST(e4 AS BIGINT) AS n_edges, CAST(CASE WHEN n4 < 2 THEN 0 ELSE (e4 * 1000000) // ((n4 * (n4 - 1)) // 2) END AS BIGINT) AS phi_ppm FROM na, ea UNION ALL " +
        "SELECT CAST(8 AS BIGINT) AS k, CAST(n8 AS BIGINT) AS n_nodes, CAST(e8 AS BIGINT) AS n_edges, CAST(CASE WHEN n8 < 2 THEN 0 ELSE (e8 * 1000000) // ((n8 * (n8 - 1)) // 2) END AS BIGINT) AS phi_ppm FROM na, ea UNION ALL " +
        "SELECT CAST(16 AS BIGINT) AS k, CAST(n16 AS BIGINT) AS n_nodes, CAST(e16 AS BIGINT) AS n_edges, CAST(CASE WHEN n16 < 2 THEN 0 ELSE (e16 * 1000000) // ((n16 * (n16 - 1)) // 2) END AS BIGINT) AS phi_ppm FROM na, ea UNION ALL " +
        "SELECT CAST(32 AS BIGINT) AS k, CAST(n32 AS BIGINT) AS n_nodes, CAST(e32 AS BIGINT) AS n_edges, CAST(CASE WHEN n32 < 2 THEN 0 ELSE (e32 * 1000000) // ((n32 * (n32 - 1)) // 2) END AS BIGINT) AS phi_ppm FROM na, ea"),
    "orders_total_reconciliation" ->
      ("WITH comp AS (SELECT l_orderkey, sum((" +
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) * " +
        "(100 + CAST(CAST(l_tax AS DECIMAL(4,2)) * 100 AS BIGINT)) * " +
        "(100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT))) " +
        "// 10000) AS comp_cents FROM lineitem GROUP BY 1), " +
        "j AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 " +
        "AS BIGINT) AS hdr_cents, comp_cents FROM orders " +
        "JOIN comp ON o_orderkey = l_orderkey), " +
        "b AS (SELECT comp_cents, hdr_cents, " +
        "(abs(comp_cents - hdr_cents) * 10000) // greatest(1, hdr_cents) " +
        "AS bp FROM j) " +
        "SELECT CAST(CASE WHEN comp_cents = hdr_cents THEN -1 " +
        "ELSE length(bin(bp)) - 1 END AS BIGINT) AS band, " +
        "CAST(count(*) AS BIGINT) AS n_orders, " +
        "CAST(min(bp) AS BIGINT) AS min_bp, " +
        "CAST(max(bp) AS BIGINT) AS max_bp, " +
        "CAST(max(abs(comp_cents - hdr_cents)) AS BIGINT) AS max_abs_cents " +
        "FROM b GROUP BY 1"),
    "token_collocation_lift" ->
      ("WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents), " +
        "uni AS (SELECT tk, count(*) AS c FROM " +
        "(SELECT unnest(w) AS tk FROM toks) WHERE tk <> '' GROUP BY 1), " +
        "tot AS (SELECT sum(c) AS n FROM uni), " +
        "bi AS (SELECT a, b, count(*) AS n_ab FROM " +
        "(SELECT unnest([{'a': w[i], 'b': w[i + 1]} " +
        "FOR i IN generate_series(1, len(w) - 1)], recursive := true) " +
        "FROM toks) WHERE a <> '' AND b <> '' GROUP BY 1, 2 " +
        "HAVING count(*) >= 5) " +
        "SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab, " +
        "CAST(ua.c AS BIGINT) AS n_a, CAST(ub.c AS BIGINT) AS n_b, " +
        "CAST((CAST(n_ab AS HUGEINT) * n * 1000000) // " +
        "(CAST(ua.c AS HUGEINT) * ub.c) AS BIGINT) AS lift_ppm " +
        "FROM bi JOIN uni ua ON bi.a = ua.tk " +
        "JOIN uni ub ON bi.b = ub.tk, tot " +
        "ORDER BY lift_ppm DESC, n_ab DESC, a, b LIMIT 50"),
    "fk_integrity_report" ->
      Seq(("nation", "n_regionkey", "region", "r_regionkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"))
        .map { case (ft, fc, tt, tc) =>
          s"SELECT '$ft' AS fk_table, '$fc' AS fk_column, " +
            s"'$tt' AS target_table, '$tc' AS target_column, " +
            s"count(*) AS n_child_rows, " +
            s"CAST(coalesce(sum(CASE WHEN p.$tc IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) " +
            s"AS n_orphans FROM $ft c LEFT JOIN (SELECT DISTINCT $tc FROM $tt) p " +
            s"ON c.$fc = p.$tc WHERE c.$fc IS NOT NULL"
        }.mkString(" UNION ALL "),
    "table_profile_docs" ->
      Seq("doc_id", "text", "lang", "source", "n_chars").map(c =>
        s"SELECT '$c' AS col_name, count(*) AS n_rows, " +
          s"count(*) - count($c) AS n_nulls, " +
          s"count(DISTINCT $c) AS n_distinct FROM documents")
        .mkString(" UNION ALL "),
    // error-band contract: DuckDB's own HLL must land within 10% of exact,
    // mirroring the Spark side's flag on ITS HLL++ (values differ across
    // engines by construction; the band is what both must satisfy)
    "table_profile_approx_eval" ->
      Seq("doc_id", "text", "lang", "source", "n_chars").map(c =>
        s"SELECT '$c' AS col_name, count(*) AS n_rows, " +
          s"count(*) - count($c) AS n_nulls, " +
          s"count(DISTINCT $c) AS n_distinct, " +
          s"CAST(abs(approx_count_distinct($c) - count(DISTINCT $c)) * 10 " +
          s"<= count(DISTINCT $c) AS INT) AS approx_ok FROM documents")
        .mkString(" UNION ALL "),
    "quality_assertions_docs" ->
      ("WITH a AS (SELECT count(doc_id) - count(DISTINCT doc_id) AS v_dup, " +
        "sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS v_null, " +
        "sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS v_empty, " +
        "sum(CASE WHEN n_chars != length(text) THEN 1 ELSE 0 END) AS v_chars, " +
        "sum(CASE WHEN lang IS NULL OR lang = '' THEN 1 ELSE 0 END) AS v_lang " +
        "FROM documents) " +
        "SELECT 'doc_id_unique' AS rule, CAST(v_dup AS BIGINT) AS n_violations FROM a " +
        "UNION ALL SELECT 'doc_id_not_null', CAST(v_null AS BIGINT) FROM a " +
        "UNION ALL SELECT 'text_nonempty', CAST(v_empty AS BIGINT) FROM a " +
        "UNION ALL SELECT 'n_chars_matches_text', CAST(v_chars AS BIGINT) FROM a " +
        "UNION ALL SELECT 'lang_present', CAST(v_lang AS BIGINT) FROM a"),
    "vocab_drift" ->
      ("WITH toks AS (SELECT doc_id % 2 = 0 AS even, " +
        "unnest(string_split(text, ' ')) AS token FROM documents), " +
        "c AS (SELECT token, sum(CASE WHEN even THEN 1 ELSE 0 END) AS n_a, " +
        "sum(CASE WHEN even THEN 0 ELSE 1 END) AS n_b FROM toks GROUP BY token), " +
        "t AS (SELECT sum(n_a) AS t_a, sum(n_b) AS t_b FROM c) " +
        "SELECT token, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, " +
        "CAST(5 * n_a * t_b >= 6 * n_b * t_a AS INTEGER) AS drift_up, " +
        "CAST(5 * n_b * t_a >= 6 * n_a * t_b AS INTEGER) AS drift_down " +
        "FROM c, t"),
    "corpus_zipf_stats" ->
      ("WITH tf AS (SELECT tk, count(*) AS n FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS tk FROM documents) u GROUP BY tk) " +
        "SELECT CAST(sum(n) AS BIGINT) AS n_tokens, count(*) AS n_vocab, " +
        "CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax, " +
        "max(n) AS top_tf FROM tf"),
    "events_time_heatmap" ->
      ("SELECT ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS dow, " +
        "(epoch_ns(ts) // 3600000000000) % 24 AS hod, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM events GROUP BY 1, 2"),
    "source_robust_stats" ->
      ("WITH med AS (SELECT source, quantile_cont(n_chars, 0.5) AS med, " +
        "count(*) AS n FROM documents GROUP BY source), " +
        "dev AS (SELECT d.source, abs(d.n_chars - m.med) AS dev " +
        "FROM documents d JOIN med m USING (source)), " +
        "st AS (SELECT source, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY source), " +
        "o AS (SELECT dev.source, count(*) AS n_outliers FROM dev " +
        "JOIN st USING (source) WHERE dev.dev > 5 * st.mad GROUP BY dev.source) " +
        "SELECT med.source, CAST(med.n AS BIGINT) AS n, med.med, st.mad, " +
        "CAST(coalesce(o.n_outliers, 0) AS BIGINT) AS n_outliers " +
        "FROM med JOIN st USING (source) LEFT JOIN o USING (source)"),
    // smallest value whose running token weight reaches half the source
    // total; ties share a value so the window's intra-tie order can't
    // change the answer
    "source_weighted_median" ->
      ("WITH base AS (SELECT source, n_chars AS v, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS wt FROM documents), " +
        "cum AS (SELECT source, v, sum(wt) OVER (PARTITION BY source " +
        "ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw FROM base), " +
        "tot AS (SELECT source, sum(wt) AS total_weight, count(*) AS n_docs " +
        "FROM base GROUP BY 1) " +
        "SELECT c.source, CAST(min(c.v) AS BIGINT) AS weighted_median_chars, " +
        "CAST(any_value(t.total_weight) AS BIGINT) AS total_weight, " +
        "CAST(any_value(t.n_docs) AS BIGINT) AS n_docs " +
        "FROM cum c JOIN tot t ON c.source = t.source " +
        "WHERE c.cw * 2 >= t.total_weight GROUP BY c.source"),
    "ngram_novelty_rate" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w " +
        "FROM documents), " +
        "tri AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id, " +
        "unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
        "FOR i IN generate_series(1, len(w) - 2)]) AS g FROM toks " +
        "WHERE len(w) >= 3) t), " +
        "fst AS (SELECT g, min(doc_id) AS first_doc FROM tri GROUP BY 1) " +
        "SELECT doc_id, count(*) AS n_grams, " +
        "CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_novel, " +
        "CAST((sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 10000) " +
        "// count(*) AS BIGINT) AS novelty_bp " +
        "FROM tri JOIN fst USING (g) GROUP BY 1"),
    "value_drift_bins" ->
      ("WITH b AS (SELECT event_id % 2 = 0 AS even, " +
        "CAST(floor(value * 10) AS BIGINT) AS bin FROM events), " +
        "c AS (SELECT bin, sum(CASE WHEN even THEN 1 ELSE 0 END) AS n_a, " +
        "sum(CASE WHEN even THEN 0 ELSE 1 END) AS n_b FROM b GROUP BY 1), " +
        "t AS (SELECT sum(n_a) AS t_a, sum(n_b) AS t_b FROM c) " +
        "SELECT bin, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, " +
        "CAST((n_a * 10000) // t_a AS BIGINT) AS share_a_bp, " +
        "CAST((n_b * 10000) // t_b AS BIGINT) AS share_b_bp, " +
        "CAST(abs((n_a * 10000) // t_a - (n_b * 10000) // t_b) AS BIGINT) " +
        "AS delta_bp FROM c, t"),
    "rank_corr_kendall" ->
      ("WITH sig AS (SELECT source, least(n_chars // 128, 15) AS bx, " +
        "least(CAST(len(string_split(text, ' ')) AS BIGINT) // 32, 15) AS by " +
        "FROM documents), " +
        "grid AS MATERIALIZED (SELECT source, bx, by, count(*) AS m " +
        "FROM sig GROUP BY 1, 2, 3), " +
        "cells AS (SELECT a.source, a.m * b.m AS w, " +
        "CASE WHEN a.by < b.by THEN 1 WHEN a.by > b.by THEN -1 ELSE 0 END AS dir " +
        "FROM grid a JOIN grid b ON a.source = b.source AND a.bx < b.bx), " +
        "cd AS (SELECT source, sum(CASE WHEN dir = 1 THEN w ELSE 0 END) AS n_c, " +
        "sum(CASE WHEN dir = -1 THEN w ELSE 0 END) AS n_d FROM cells GROUP BY 1), " +
        "m0 AS (SELECT source, sum(m) AS n, sum(m) * (sum(m) - 1) // 2 AS n0 " +
        "FROM grid GROUP BY 1), " +
        "m1 AS (SELECT source, sum(t * (t - 1) // 2) AS n1 FROM " +
        "(SELECT source, bx, sum(m) AS t FROM grid GROUP BY 1, 2) GROUP BY 1), " +
        "m2 AS (SELECT source, sum(t * (t - 1) // 2) AS n2 FROM " +
        "(SELECT source, by, sum(m) AS t FROM grid GROUP BY 1, 2) GROUP BY 1), " +
        "j AS (SELECT m0.source, m0.n, coalesce(cd.n_c, 0) AS n_c, " +
        "coalesce(cd.n_d, 0) AS n_d, " +
        "CAST(coalesce(cd.n_c, 0) - coalesce(cd.n_d, 0) AS HUGEINT) AS num, " +
        "CAST(m0.n0 - m1.n1 AS HUGEINT) * CAST(m0.n0 - m2.n2 AS HUGEINT) AS den " +
        "FROM m0 JOIN m1 USING (source) JOIN m2 USING (source) " +
        "LEFT JOIN cd USING (source)) " +
        "SELECT source, CAST(n AS BIGINT) AS n, CAST(n_c AS BIGINT) AS n_c, " +
        "CAST(n_d AS BIGINT) AS n_d, " +
        "CAST(CASE WHEN den = 0 THEN 0 WHEN num < 0 THEN " +
        "-((1000000::HUGEINT * num * num) // den) " +
        "ELSE (1000000::HUGEINT * num * num) // den END AS BIGINT) " +
        "AS tau2_signed_ppm FROM j"),
    "quality_calibration_bins" ->
      ("WITH s AS (SELECT lang, string_split(text, ' ') AS w FROM documents), " +
        "t2 AS (SELECT lang, CAST(len(w) AS BIGINT) AS n_tok, " +
        "CAST(len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and'))) AS BIGINT) " +
        "AS n_stop FROM s), " +
        "b AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos, " +
        "(n_stop * 10000) // n_tok AS score_bp FROM t2), " +
        "c AS (SELECT least(score_bp // 1000, 9) AS bin, count(*) AS n, " +
        "sum(score_bp) AS ss, sum(pos) AS np FROM b GROUP BY 1) " +
        "SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n, " +
        "CAST(ss // n AS BIGINT) AS mean_conf_bp, " +
        "CAST((np * 10000) // n AS BIGINT) AS pos_rate_bp, " +
        "CAST(abs(ss // n - (np * 10000) // n) AS BIGINT) AS gap_bp FROM c"),
    // child-ward closure stated directly: orders of deleted customers,
    // line items of deleted orders
    "delete_cascade_counts" ->
      ("WITH dc AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 7), " +
        "do_ AS (SELECT o_orderkey FROM orders " +
        "WHERE o_custkey IN (SELECT c_custkey FROM dc)), " +
        "dl AS (SELECT count(*) AS n FROM lineitem " +
        "WHERE l_orderkey IN (SELECT o_orderkey FROM do_)) " +
        "SELECT 'customer' AS table_name, " +
        "(SELECT count(*) FROM dc) AS n_rows_deleted " +
        "UNION ALL SELECT 'orders', (SELECT count(*) FROM do_) " +
        "UNION ALL SELECT 'lineitem', (SELECT n FROM dl)"),
    "value_quantile_sketch" ->
      ("WITH b AS (SELECT CAST(floor(value * 10) AS BIGINT) AS bin, " +
        "count(*) AS c FROM events GROUP BY 1), " +
        "cum AS (SELECT bin, sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum FROM b), " +
        "tot AS (SELECT sum(c) AS n FROM b), " +
        "q AS (SELECT unnest([50, 90, 99]) AS q_pct), " +
        "r AS (SELECT q_pct, CAST((q_pct * n + 99) // 100 AS BIGINT) AS rk FROM q, tot), " +
        "sel AS (SELECT r.q_pct, r.rk, min(cum.bin) AS bin FROM r " +
        "JOIN cum ON cum.cum >= r.rk GROUP BY 1, 2) " +
        "SELECT q_pct, rk, bin, CAST(bin AS DOUBLE) / 10.0 AS est FROM sel"),
    "text_repetition_stats" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bi AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] " +
        "FOR i IN generate_series(1, len(w) - 1)]) AS g FROM toks), " +
        "bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2), " +
        "bs AS (SELECT doc_id, max(c) AS top_bigram_n, " +
        "sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_bigram_n, " +
        "sum(c) AS n_bigrams FROM bc GROUP BY 1), " +
        "tri AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
        "FOR i IN generate_series(1, len(w) - 2)]) AS g FROM toks), " +
        "tc AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2), " +
        "trs AS (SELECT doc_id, max(c) AS top_trigram_n, " +
        "sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_trigram_n, " +
        "sum(c) AS n_trigrams FROM tc GROUP BY 1), " +
        "nt AS (SELECT doc_id, len(w) AS n_tokens FROM toks) " +
        "SELECT nt.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(coalesce(top_bigram_n, 0) AS BIGINT) AS top_bigram_n, " +
        "CAST(coalesce(dup_bigram_n, 0) AS BIGINT) AS dup_bigram_n, " +
        "CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams, " +
        "CAST(coalesce(top_trigram_n, 0) AS BIGINT) AS top_trigram_n, " +
        "CAST(coalesce(dup_trigram_n, 0) AS BIGINT) AS dup_trigram_n, " +
        "CAST(coalesce(n_trigrams, 0) AS BIGINT) AS n_trigrams " +
        "FROM nt LEFT JOIN bs ON nt.doc_id = bs.doc_id " +
        "LEFT JOIN trs ON nt.doc_id = trs.doc_id"),
    "ngram_jaccard_pairs" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sh0 AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, " +
        "unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN generate_series(1, len(w)-2)]) AS s FROM toks) u), " +
        "rare AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh0 GROUP BY s) d WHERE df <= 20), " +
        "sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN rare USING (s)), " +
        "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, n_common, (sa.n + sb.n - n_common) AS n_union " +
        "FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b " +
        "WHERE 5 * n_common >= (sa.n + sb.n - n_common)"),
    "jaccard_threshold_curve" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sh0 AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, " +
        "unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN generate_series(1, len(w)-2)]) AS s FROM toks) u), " +
        "rare AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh0 GROUP BY s) d WHERE df <= 20), " +
        "sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN rare USING (s)), " +
        "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "scored AS (SELECT n_common, (sa.n + sb.n - n_common) AS n_union " +
        "FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b), " +
        "cs AS (SELECT " +
        "sum(CASE WHEN 5 * n_common >= 1 * n_union THEN 1 ELSE 0 END) AS c0, " +
        "sum(CASE WHEN 2 * n_common >= 1 * n_union THEN 1 ELSE 0 END) AS c1, " +
        "sum(CASE WHEN 5 * n_common >= 4 * n_union THEN 1 ELSE 0 END) AS c2 FROM scored) " +
        "SELECT CAST(1 AS BIGINT) AS tau_num, CAST(5 AS BIGINT) AS tau_den, CAST(c0 AS BIGINT) AS n_pairs FROM cs " +
        "UNION ALL SELECT CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(c1 AS BIGINT) FROM cs " +
        "UNION ALL SELECT CAST(4 AS BIGINT), CAST(5 AS BIGINT), CAST(c2 AS BIGINT) FROM cs"),
    // prefix filtering is complete, so the exact all-pairs SQL (at the
    // same 4/5 threshold) is the oracle for the pruned plan too
    "jaccard_prefix_pairs" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sh0 AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, " +
        "unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN generate_series(1, len(w)-2)]) AS s FROM toks) u), " +
        "rare AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh0 GROUP BY s) d WHERE df <= 100), " +
        "sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN rare USING (s)), " +
        "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, n_common, (sa.n + sb.n - n_common) AS n_union " +
        "FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b " +
        "WHERE 5 * n_common >= 4 * (sa.n + sb.n - n_common)"),
    "containment_pairs" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sh0 AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, " +
        "unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN generate_series(1, len(w)-2)]) AS s FROM toks) u), " +
        "rare AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh0 GROUP BY s) d WHERE df <= 100), " +
        "sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN rare USING (s)), " +
        "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, n_common, least(sa.n, sb.n) AS sz_min " +
        "FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b " +
        "WHERE least(sa.n, sb.n) >= 8 AND 10 * n_common >= 9 * least(sa.n, sb.n)"),
    "doc_winnow_fingerprints" ->
      ("WITH pos AS (SELECT doc_id, text, " +
        "unnest([i FOR i IN generate_series(1, length(text) - 7)]) AS i " +
        "FROM documents WHERE length(text) >= 8), " +
        "hashed AS (SELECT doc_id, i, " +
        "CAST(list_sum([ascii(substr(text, i + j, 1)) * CAST(power(131, j) AS BIGINT) " +
        "FOR j IN generate_series(0, 7)]) % 1099511627776 AS BIGINT) AS h FROM pos), " +
        "winnowed AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY i " +
        "ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS fp FROM hashed) " +
        "SELECT DISTINCT doc_id, fp FROM winnowed"),
    "minhash_lsh_pairs" ->
      ("WITH " + minhashPairCtes +
        " SELECT id_a, id_b, count(*) AS n_shared_bands FROM pairs GROUP BY 1, 2"),
    "rouge_overlap_pairs" ->
      ("WITH " + minhashPairCtes +
        ", pr AS MATERIALIZED (SELECT DISTINCT id_a, id_b FROM pairs), " +
        "g1 AS MATERIALIZED (SELECT doc_id, g, count(*) AS c FROM " +
        "(SELECT doc_id, unnest(w) AS g FROM toks) GROUP BY 1, 2), " +
        "g2 AS MATERIALIZED (SELECT doc_id, g, count(*) AS c FROM " +
        "(SELECT doc_id, unnest([w[i] || ' ' || w[i+1] " +
        "FOR i IN generate_series(1, len(w) - 1)]) AS g FROM toks) GROUP BY 1, 2), " +
        "t1 AS (SELECT doc_id, sum(c) AS n FROM g1 GROUP BY 1), " +
        "t2 AS (SELECT doc_id, sum(c) AS n FROM g2 GROUP BY 1), " +
        "ov1 AS (SELECT p.id_a, p.id_b, sum(least(a.c, b.c)) AS o FROM pr p " +
        "JOIN g1 a ON a.doc_id = p.id_a " +
        "JOIN g1 b ON b.doc_id = p.id_b AND b.g = a.g GROUP BY 1, 2), " +
        "ov2 AS (SELECT p.id_a, p.id_b, sum(least(a.c, b.c)) AS o FROM pr p " +
        "JOIN g2 a ON a.doc_id = p.id_a " +
        "JOIN g2 b ON b.doc_id = p.id_b AND b.g = a.g GROUP BY 1, 2), " +
        "f AS (SELECT p.id_a, p.id_b, " +
        "coalesce(ov1.o, 0) AS o1, coalesce(ta1.n, 0) AS na1, coalesce(tb1.n, 0) AS nb1, " +
        "coalesce(ov2.o, 0) AS o2, coalesce(ta2.n, 0) AS na2, coalesce(tb2.n, 0) AS nb2 " +
        "FROM pr p " +
        "LEFT JOIN ov1 ON ov1.id_a = p.id_a AND ov1.id_b = p.id_b " +
        "LEFT JOIN ov2 ON ov2.id_a = p.id_a AND ov2.id_b = p.id_b " +
        "LEFT JOIN t1 ta1 ON ta1.doc_id = p.id_a " +
        "LEFT JOIN t1 tb1 ON tb1.doc_id = p.id_b " +
        "LEFT JOIN t2 ta2 ON ta2.doc_id = p.id_a " +
        "LEFT JOIN t2 tb2 ON tb2.doc_id = p.id_b) " +
        "SELECT id_a, id_b, CAST(o1 AS BIGINT) AS o1, " +
        "CAST(CASE WHEN na1 = 0 THEN 0 ELSE (o1 * 10000) // na1 END AS BIGINT) AS r1_bp, " +
        "CAST(CASE WHEN nb1 = 0 THEN 0 ELSE (o1 * 10000) // nb1 END AS BIGINT) AS p1_bp, " +
        "CAST(CASE WHEN na1 + nb1 = 0 THEN 0 ELSE (o1 * 20000) // (na1 + nb1) END AS BIGINT) AS f1_bp, " +
        "CAST(o2 AS BIGINT) AS o2, " +
        "CAST(CASE WHEN na2 = 0 THEN 0 ELSE (o2 * 10000) // na2 END AS BIGINT) AS r2_bp, " +
        "CAST(CASE WHEN nb2 = 0 THEN 0 ELSE (o2 * 10000) // nb2 END AS BIGINT) AS p2_bp, " +
        "CAST(CASE WHEN na2 + nb2 = 0 THEN 0 ELSE (o2 * 20000) // (na2 + nb2) END AS BIGINT) AS f2_bp " +
        "FROM f"),
    "link_prediction_topk" ->
      (tokenEdgeCte +
        ", sym AS (SELECT id_a AS u, id_b AS v FROM e " +
        "UNION ALL SELECT id_b, id_a FROM e), " +
        "dg0 AS (SELECT u, count(*) AS d FROM sym GROUP BY 1), " +
        "cap AS (SELECT greatest(64, (8 * sum(d)) // count(*)) AS cap " +
        "FROM dg0), " +
        "dg AS (SELECT u, d FROM dg0, cap WHERE d <= cap.cap), " +
        "adj AS MATERIALIZED (SELECT s.u, s.v FROM sym s " +
        "JOIN dg a ON s.u = a.u JOIN dg b ON s.v = b.u), " +
        "cdeg AS MATERIALIZED (SELECT u, count(*) AS d FROM adj GROUP BY 1), " +
        "wdg AS MATERIALIZED (SELECT x.v AS b, y.v AS c, count(*) AS cn " +
        "FROM adj x JOIN adj y ON x.u = y.u AND x.v < y.v GROUP BY 1, 2), " +
        "na AS (SELECT w.* FROM wdg w WHERE NOT EXISTS " +
        "(SELECT 1 FROM adj WHERE adj.u = w.b AND adj.v = w.c)) " +
        "SELECT na.b AS id_a, na.c AS id_b, CAST(na.cn AS BIGINT) AS cn, " +
        "CAST((na.cn * 10000) // (db.d + dc.d - na.cn) AS BIGINT) AS jaccard_bp " +
        "FROM na JOIN cdeg db ON na.b = db.u JOIN cdeg dc ON na.c = dc.u " +
        "ORDER BY cn DESC, jaccard_bp DESC, id_a, id_b LIMIT 20"),
    // banding is per-document, so bands computed over the full corpus CTE
    // equal bands computed per generation — filter at the join
    "minhash_index_append" ->
      ("WITH " + minhashPairCtes +
        " SELECT o.doc_id AS old_id, n.doc_id AS new_id, " +
        "count(*) AS n_shared_bands FROM bands o " +
        "JOIN bands n ON o.band = n.band AND o.bkey = n.bkey " +
        "WHERE o.doc_id % 10 != 9 AND n.doc_id % 10 = 9 GROUP BY 1, 2"),
    "neardup_triangles" ->
      triangleSql("WITH " + minhashPairCtes +
        ", e AS (SELECT DISTINCT id_a, id_b FROM pairs)"),
    "token_graph_triangles" -> triangleSql(tokenEdgeCte),
    // 3 unrolled peel rounds at k=3: per round, degrees over the surviving
    // symmetrized edge relation, then both endpoints must survive
    "token_graph_kcore" ->
      (tokenEdgeCte + ", " +
        "d0 AS (SELECT id_a AS node, id_b AS nb FROM e " +
        "UNION ALL SELECT id_b, id_a FROM e), " +
        (1 to 3).map(i =>
          s"k$i AS (SELECT node FROM d${i - 1} GROUP BY node " +
            "HAVING count(*) >= 3), " +
            s"d$i AS (SELECT d.node, d.nb FROM d${i - 1} d " +
            s"JOIN k$i a ON d.node = a.node " +
            s"JOIN k$i b ON d.nb = b.node)").mkString(", ") +
        " SELECT node, count(*) AS deg FROM d3 GROUP BY node"),
    // staged replay of the plurality votes themselves (count → max → argmin
    // per round), NOT the transitive closure the CC keys check against
    "neardup_labelprop" ->
      ("WITH " + minhashPairCtes + ", " +
        "p0 AS (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b " +
        "FROM pairs WHERE id_a != id_b), " +
        "lpnodes AS (SELECT DISTINCT node FROM " +
        "(SELECT a AS node FROM p0 UNION ALL SELECT b FROM p0) u), " +
        "dlp AS MATERIALIZED (SELECT a AS node, b AS nb FROM p0 " +
        "UNION ALL SELECT b, a FROM p0 " +
        "UNION ALL SELECT node, node FROM lpnodes), " +
        "l0 AS MATERIALIZED (SELECT node, node AS label FROM lpnodes), " +
        (1 to 3).map(i =>
          s"c$i AS MATERIALIZED (SELECT d.node, l.label, count(*) AS c " +
            s"FROM dlp d JOIN l${i - 1} l ON d.nb = l.node " +
            "GROUP BY d.node, l.label), " +
            s"m$i AS MATERIALIZED (SELECT node, max(c) AS cmax FROM c$i GROUP BY node), " +
            s"l$i AS MATERIALIZED (SELECT c.node, min(c.label) AS label FROM c$i c " +
            s"JOIN m$i m ON c.node = m.node AND c.c = m.cmax GROUP BY c.node)")
          .mkString(", ") +
        " SELECT node, label FROM l3"),
    "token_graph_pagerank" ->
      (tokenEdgeCte + ", " +
        "dir AS (SELECT id_a AS src, id_b AS dst FROM e " +
        "UNION ALL SELECT id_b, id_a FROM e), " +
        "deg AS (SELECT src, count(*) AS deg FROM dir GROUP BY 1), " +
        "nn AS (SELECT count(*) AS n FROM deg), " +
        "r0 AS (SELECT src AS node, 1000000000000 // (SELECT n FROM nn) AS pr FROM deg), " +
        (1 to 3).map(i =>
          s"r$i AS (SELECT dst AS node, " +
            "(3000000000000 // (20 * (SELECT n FROM nn))) + " +
            s"sum((pr * 17) // (20 * deg)) AS pr " +
            s"FROM dir JOIN r${i - 1} ON dir.src = r${i - 1}.node " +
            "JOIN deg ON dir.src = deg.src GROUP BY dst)").mkString(", ") +
        " SELECT node, CAST(pr AS BIGINT) AS rank_scaled FROM r3"),
    "token_graph_hits" ->
      ("WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents), " +
        "e AS (SELECT DISTINCT u.a AS src, u.b AS dst FROM " +
        "(SELECT unnest([struct_pack(a := w[i], b := w[i+1]) " +
        "FOR i IN generate_series(1, len(w) - 1)]) AS u FROM toks " +
        "WHERE len(w) >= 2) x WHERE u.a != u.b), " +
        "nodes AS (SELECT DISTINCT node FROM " +
        "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u), " +
        "h0 AS (SELECT node, 1000000 AS h FROM nodes), " +
        (1 to 2).map(i =>
          s"ra$i AS (SELECT dst AS node, sum(h) AS ra FROM e " +
            s"JOIN h${i - 1} ON e.src = h${i - 1}.node GROUP BY dst), " +
            s"a$i AS (SELECT node, (1000000 * ra) // " +
            s"(SELECT sum(ra) FROM ra$i) AS a FROM ra$i), " +
            s"rh$i AS (SELECT src AS node, sum(a) AS rh FROM e " +
            s"JOIN a$i ON e.dst = a$i.node GROUP BY src), " +
            s"h$i AS (SELECT node, (1000000 * rh) // " +
            s"(SELECT sum(rh) FROM rh$i) AS h FROM rh$i)").mkString(", ") +
        " SELECT nodes.node, CAST(coalesce(h2.h, 0) AS BIGINT) AS hub_scaled, " +
        "CAST(coalesce(a2.a, 0) AS BIGINT) AS auth_scaled FROM nodes " +
        "LEFT JOIN h2 USING (node) LEFT JOIN a2 USING (node)"),
    // candidate-restricted verify over the SAME df-capped shingle universe
    // as ngram_jaccard_pairs: candidates from the LSH bands, exact Jaccard
    // from the capped shingle relation the band CTE already built
    "minhash_verified_pairs" ->
      ("WITH " + minhashPairCtes + ", " +
        "cand AS (SELECT DISTINCT id_a, id_b FROM pairs), " +
        "rare AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s) d WHERE df <= 100), " +
        "shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)), " +
        "sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id), " +
        "inter AS (SELECT c.id_a, c.id_b, count(*) AS n_common FROM cand c " +
        "JOIN shc a ON a.doc_id = c.id_a JOIN shc b ON b.doc_id = c.id_b AND b.s = a.s " +
        "GROUP BY 1, 2) " +
        "SELECT id_a, id_b, n_common, (sa.n + sb.n - n_common) AS n_union " +
        "FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b " +
        "WHERE 5 * n_common >= (sa.n + sb.n - n_common)"),
    // truth = exact all-pairs at 4/5 over the df<=100 universe (complete,
    // so it also oracles the engine's prefix-filter truth side); found =
    // the LSH band candidates verified at the same threshold/universe
    "minhash_recall_eval" ->
      ("WITH " + minhashPairCtes + ", " +
        "rare AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s) d WHERE df <= 100), " +
        "shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)), " +
        "sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id), " +
        "tinter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common " +
        "FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "truth AS (SELECT id_a, id_b FROM tinter " +
        "JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b " +
        "WHERE 5 * n_common >= 4 * (sa.n + sb.n - n_common)), " +
        "cand AS (SELECT DISTINCT id_a, id_b FROM pairs), " +
        "vinter AS (SELECT c.id_a, c.id_b, count(*) AS n_common FROM cand c " +
        "JOIN shc a ON a.doc_id = c.id_a JOIN shc b ON b.doc_id = c.id_b AND b.s = a.s " +
        "GROUP BY 1, 2), " +
        "found AS (SELECT v.id_a, v.id_b FROM vinter v " +
        "JOIN sz sa ON sa.doc_id = v.id_a JOIN sz sb ON sb.doc_id = v.id_b " +
        "WHERE 5 * n_common >= 4 * (sa.n + sb.n - n_common)) " +
        "SELECT CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates, " +
        "CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth, " +
        "CAST((SELECT count(*) FROM found) AS BIGINT) AS n_found, " +
        "CAST(CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 1000000 " +
        "ELSE 1000000 * (SELECT count(*) FROM found) // (SELECT count(*) FROM truth) " +
        "END AS BIGINT) AS recall_ppm"),
    "dup_ngram_coverage" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "grams AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id, " +
        "unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] " +
        "FOR i IN generate_series(1, len(w) - 4)]) AS g FROM toks) u), " +
        "dfv AS (SELECT g, count(*) AS df FROM grams GROUP BY g) " +
        "SELECT doc_id, count(*) AS n_grams, " +
        "CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams " +
        "FROM grams JOIN dfv USING (g) GROUP BY doc_id"),
    "dup_span_runs" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "pw AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS p " +
        "FROM toks WHERE len(w) >= 5), " +
        "pg AS (SELECT doc_id, p, " +
        "w[p] || ' ' || w[p+1] || ' ' || w[p+2] || ' ' || w[p+3] || ' ' || w[p+4] AS g FROM pw), " +
        "dfv AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM pg GROUP BY g) d " +
        "WHERE df >= 2), " +
        "dup AS (SELECT doc_id, p FROM pg JOIN dfv USING (g)), " +
        "isl AS (SELECT doc_id, p, p - row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY p) AS grp FROM dup), " +
        "runs AS (SELECT doc_id, count(*) AS run FROM isl GROUP BY doc_id, grp), " +
        "mx AS (SELECT doc_id, max(run) AS max_dup_run FROM runs GROUP BY doc_id), " +
        "nd AS (SELECT doc_id, count(*) AS n_dup_pos FROM dup GROUP BY doc_id), " +
        "tot AS (SELECT doc_id, count(*) AS n_grams FROM pg GROUP BY doc_id) " +
        "SELECT tot.doc_id, n_grams, " +
        "coalesce(n_dup_pos, 0) AS n_dup_pos, " +
        "coalesce(max_dup_run, 0) AS max_dup_run " +
        "FROM tot LEFT JOIN nd ON tot.doc_id = nd.doc_id " +
        "LEFT JOIN mx ON tot.doc_id = mx.doc_id"),
    // same positional pipeline as dup_span_runs up to the runs, then the
    // REWRITE: 1-based token i is cut iff a >=3-run's cover [s, s+run+3]
    // contains it; the kept-token md5 checks the whole rewritten stream
    // (array_to_string of an empty list is NULL in DuckDB, hence coalesce)
    "text_diversity_simpson" ->
      ("SELECT doc_id, CAST(t_tokens AS BIGINT) AS t_tokens, " +
        "CAST((10000 * (t_tokens * t_tokens - sum_sq)) // " +
        "(t_tokens * t_tokens) AS BIGINT) AS simpson_bp FROM " +
        "(SELECT doc_id, sum(c) AS t_tokens, sum(c * c) AS sum_sq FROM " +
        "(SELECT doc_id, tk, count(*) AS c FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents) u " +
        "GROUP BY 1, 2) g GROUP BY doc_id) s"),
    "events_user_activity_bands" ->
      ("SELECT CAST(length(bin(n)) - 1 AS INT) AS band, " +
        "count(*) AS n_users, CAST(sum(n) AS BIGINT) AS n_events FROM " +
        "(SELECT user_id, count(*) AS n FROM events GROUP BY 1) u GROUP BY 1"),
    "source_token_gini" ->
      ("WITH m AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS x " +
        "FROM documents GROUP BY 1), " +
        "p AS (SELECT sum(abs(a.x - b.x)) AS sad FROM m a, m b), " +
        "t AS (SELECT count(*) AS k, sum(x) AS tot FROM m) " +
        "SELECT CAST(k AS BIGINT) AS k, CAST(tot AS BIGINT) AS tot, " +
        "CAST((10000 * sad) // (2 * k * tot) AS BIGINT) AS gini_bp FROM t, p"),
    "events_wow_growth" ->
      ("WITH wk AS (SELECT event_type, epoch_ns(ts) // 604800000000000 AS week, " +
        "count(*) AS c FROM events GROUP BY 1, 2), " +
        "l AS (SELECT event_type, week, c, lag(c) OVER " +
        "(PARTITION BY event_type ORDER BY week) AS prev FROM wk) " +
        "SELECT event_type, CAST(week AS BIGINT) AS week, " +
        "CAST(c AS BIGINT) AS c, CAST(prev AS BIGINT) AS prev, " +
        "CAST((10000 * (c - prev)) // prev AS BIGINT) AS growth_bp " +
        "FROM l WHERE prev IS NOT NULL"),
    "events_error_rate_hours" ->
      ("SELECT hour_bucket, n_total, n_errors, " +
        "CAST((10000 * n_errors) // n_total AS BIGINT) AS error_bp FROM " +
        "(SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, " +
        "count(*) AS n_total, " +
        "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_errors FROM events GROUP BY 1) h " +
        "ORDER BY error_bp DESC, hour_bucket LIMIT 10"),
    "events_dow_seasonality" ->
      ("WITH o AS (SELECT event_type, (epoch_ns(ts) // 86400000000000) % 7 AS dow, " +
        "count(*) AS o FROM events GROUP BY 1, 2), " +
        "t AS (SELECT event_type, sum(o) AS total FROM o GROUP BY 1), " +
        "m AS (SELECT o.event_type, any_value(total) AS total, count(*) AS nb, " +
        "sum((7 * o - total) * (7 * o - total)) AS xp " +
        "FROM o JOIN t ON o.event_type = t.event_type GROUP BY 1) " +
        "SELECT event_type, CAST(total AS BIGINT) AS total, " +
        "CAST((10000 * (xp + (7 - nb) * total * total)) // (49 * total) " +
        "AS BIGINT) AS chi2_fp FROM m"),
    "events_burstiness" ->
      ("SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours, " +
        "CAST(n_events AS BIGINT) AS n_events, " +
        "CAST((10000 * (n_hours * sum_sq - n_events * n_events)) // " +
        "(n_hours * n_events) AS BIGINT) AS fano_bp FROM " +
        "(SELECT event_type, count(*) AS n_hours, sum(c) AS n_events, " +
        "sum(c * c) AS sum_sq FROM " +
        "(SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr, count(*) AS c " +
        "FROM events GROUP BY 1, 2) h GROUP BY event_type) m"),
    "token_graph_degrees" ->
      (tokenEdgeCte + ", " +
        "deg AS (SELECT v, count(*) AS deg FROM " +
        "(SELECT id_a AS v FROM e UNION ALL SELECT id_b FROM e) u GROUP BY v) " +
        "SELECT CAST(length(bin(deg)) - 1 AS INT) AS band, " +
        "count(*) AS n_vertices, CAST(min(deg) AS BIGINT) AS min_deg, " +
        "CAST(max(deg) AS BIGINT) AS max_deg FROM deg GROUP BY 1"),
    // per-seed BFS unrolled; frontier f_k excludes every earlier layer
    // OF THE SAME SEED; hub seeds = top-4 degree, same tie-break
    "token_graph_closeness" ->
      (tokenEdgeCte + ", " +
        "adj AS (SELECT id_a AS u, id_b AS v FROM e " +
        "UNION SELECT id_b, id_a FROM e), " +
        "deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1), " +
        "d0 AS (SELECT u AS seed FROM deg ORDER BY deg DESC, u LIMIT 4), " +
        "v0 AS (SELECT seed, seed AS node FROM d0), " +
        "f1 AS (SELECT DISTINCT v.seed, a.v AS node FROM v0 v " +
        "JOIN adj a ON a.u = v.node WHERE NOT EXISTS " +
        "(SELECT 1 FROM v0 x WHERE x.seed = v.seed AND x.node = a.v)), " +
        "f2 AS (SELECT DISTINCT f.seed, a.v AS node FROM f1 f " +
        "JOIN adj a ON a.u = f.node WHERE NOT EXISTS " +
        "(SELECT 1 FROM v0 x WHERE x.seed = f.seed AND x.node = a.v) " +
        "AND NOT EXISTS " +
        "(SELECT 1 FROM f1 x WHERE x.seed = f.seed AND x.node = a.v)), " +
        "f3 AS (SELECT DISTINCT f.seed, a.v AS node FROM f2 f " +
        "JOIN adj a ON a.u = f.node WHERE NOT EXISTS " +
        "(SELECT 1 FROM v0 x WHERE x.seed = f.seed AND x.node = a.v) " +
        "AND NOT EXISTS " +
        "(SELECT 1 FROM f1 x WHERE x.seed = f.seed AND x.node = a.v) " +
        "AND NOT EXISTS " +
        "(SELECT 1 FROM f2 x WHERE x.seed = f.seed AND x.node = a.v)), " +
        "alld AS (SELECT seed, node, 0 AS depth FROM v0 " +
        "UNION ALL SELECT seed, node, 1 FROM f1 " +
        "UNION ALL SELECT seed, node, 2 FROM f2 " +
        "UNION ALL SELECT seed, node, 3 FROM f3) " +
        "SELECT seed, count(*) AS n_reached, " +
        "CAST(sum(depth) AS BIGINT) AS sum_dist, " +
        "CAST(CASE WHEN sum(depth) = 0 THEN 0 ELSE " +
        "((count(*) - 1) * 1000000) // sum(depth) END AS BIGINT) " +
        "AS closeness_ppm FROM alld GROUP BY 1"),
    // the 3 BFS hops unrolled as frontier CTEs, each excluding everything
    // already visited; hub seed = top-4 degree with the same tie-break
    "token_graph_bfs_depth" ->
      (tokenEdgeCte + ", " +
        "adj AS (SELECT id_a AS u, id_b AS v FROM e " +
        "UNION ALL SELECT id_b, id_a FROM e), " +
        "deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1), " +
        "d0 AS (SELECT u AS node FROM deg ORDER BY deg DESC, u LIMIT 4), " +
        "f1 AS (SELECT DISTINCT adj.v AS node FROM adj " +
        "JOIN d0 ON adj.u = d0.node " +
        "WHERE adj.v NOT IN (SELECT node FROM d0)), " +
        "f2 AS (SELECT DISTINCT adj.v AS node FROM adj " +
        "JOIN f1 ON adj.u = f1.node " +
        "WHERE adj.v NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM f1)), " +
        "f3 AS (SELECT DISTINCT adj.v AS node FROM adj " +
        "JOIN f2 ON adj.u = f2.node " +
        "WHERE adj.v NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM f1 " +
        "UNION ALL SELECT node FROM f2)) " +
        "SELECT node, CAST(depth AS INT) AS depth FROM (" +
        "SELECT node, 0 AS depth FROM d0 " +
        "UNION ALL SELECT node, 1 FROM f1 " +
        "UNION ALL SELECT node, 2 FROM f2 " +
        "UNION ALL SELECT node, 3 FROM f3) x"),
    // Pearson moments over the directed double cover; Σy/Σyy collapse to
    // Σx/Σxx by symmetry, so den is a perfect square like the engine's
    "token_graph_assortativity" ->
      (tokenEdgeCte + ", " +
        "dc AS (SELECT id_a AS u, id_b AS v FROM e " +
        "UNION ALL SELECT id_b, id_a FROM e), " +
        "deg AS (SELECT u, count(*) AS d FROM dc GROUP BY 1), " +
        "xy AS (SELECT dx.d AS x, dy.d AS y FROM dc " +
        "JOIN deg dx ON dc.u = dx.u JOIN deg dy ON dc.v = dy.u), " +
        "m AS (SELECT CAST(count(*) AS HUGEINT) AS n, " +
        "CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(x * x) AS HUGEINT) AS sxx, " +
        "CAST(sum(x * y) AS HUGEINT) AS sxy FROM xy), " +
        "f AS (SELECT n, n * sxy - sx * sx AS num, " +
        "n * sxx - sx * sx AS den FROM m) " +
        "SELECT CAST(n // 2 AS BIGINT) AS n_edges, " +
        "CAST(CASE WHEN den = 0 THEN 0 WHEN num < 0 THEN " +
        "-((1000000::HUGEINT * num * num) // (den * den)) " +
        "ELSE (1000000::HUGEINT * num * num) // (den * den) END AS BIGINT) " +
        "AS r2_signed_ppm FROM f"),
    // same islands/degree/frequency pipeline in SQL; positions are
    // 1-based here vs 0-based in Spark — islands only use differences
    "keyphrases_rake_topk" ->
      ("WITH toks AS (SELECT doc_id, p, tk FROM " +
        "(SELECT doc_id, unnest([{'p': i, 'tk': w[i]} " +
        "FOR i IN generate_series(1, len(w))], recursive := true) FROM " +
        "(SELECT doc_id, string_split(text, ' ') AS w FROM documents) t0) t1 " +
        "WHERE tk NOT IN ('the', 'a', 'of', 'and') AND tk != ''), " +
        "isl AS (SELECT doc_id, p, tk, p - row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY p) AS grp FROM toks), " +
        "ph AS (SELECT doc_id, grp, " +
        "array_to_string(list(tk ORDER BY p), ' ') AS phrase, " +
        "list(tk ORDER BY p) AS words, count(*) AS len FROM isl GROUP BY 1, 2), " +
        "occ AS (SELECT phrase, len, unnest(words) AS w FROM ph), " +
        "ws AS (SELECT w, (sum(len) * 10000) // count(*) AS s_w FROM occ GROUP BY 1), " +
        "psc AS (SELECT phrase, sum(s_w) AS score_sum FROM occ JOIN ws USING (w) GROUP BY 1), " +
        "pocc AS (SELECT phrase, count(*) AS n_occurrences FROM ph GROUP BY 1) " +
        "SELECT p.phrase, CAST(n_occurrences AS BIGINT) AS n_occurrences, " +
        "CAST(score_sum // n_occurrences AS BIGINT) AS score_fp " +
        "FROM pocc p JOIN psc USING (phrase) " +
        "ORDER BY score_fp DESC, phrase LIMIT 20"),
    // mass = isqrt(isqrt(count³)) exactly (float sqrt + integer ±1 repair,
    // stated verbatim from the engine); the cumulative layout orders by
    // (md5 bucket, token) — the same total order the distributed prefix
    // scan produces; the coin is md5(doc_id:slot) mod total mass
    "negative_samples_unigram" ->
      ("WITH c AS (SELECT tk, count(*) AS c FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS tk FROM documents) u GROUP BY 1), " +
        "m0 AS (SELECT tk, CAST(c AS HUGEINT) * c * c AS c3 FROM c), " +
        "r0 AS (SELECT tk, c3, CAST(floor(sqrt(CAST(c3 AS DOUBLE))) AS HUGEINT) AS s0 FROM m0), " +
        "r1 AS (SELECT tk, CASE WHEN (s0 + 1) * (s0 + 1) <= c3 THEN s0 + 1 " +
        "WHEN s0 * s0 > c3 THEN s0 - 1 ELSE s0 END AS r FROM r0), " +
        "t0 AS (SELECT tk, r, CAST(floor(sqrt(CAST(r AS DOUBLE))) AS BIGINT) AS t0 FROM r1), " +
        "m AS (SELECT tk, CAST(CASE WHEN (t0 + 1) * (t0 + 1) <= r THEN t0 + 1 " +
        "WHEN t0 * t0 > r THEN t0 - 1 ELSE t0 END AS BIGINT) AS mm, " +
        "('0x' || substr(md5(tk), 1, 8))::BIGINT % 64 AS bkt FROM t0), " +
        "iv AS (SELECT tk, " +
        "sum(mm) OVER (ORDER BY bkt, tk ROWS UNBOUNDED PRECEDING) - mm AS lo, " +
        "sum(mm) OVER (ORDER BY bkt, tk ROWS UNBOUNDED PRECEDING) AS hi FROM m), " +
        "tot AS (SELECT sum(mm) AS mt FROM m), " +
        "d AS (SELECT doc_id, unnest(generate_series(0, 2)) AS j FROM documents), " +
        "u AS (SELECT doc_id, j, " +
        "('0x' || substr(md5(doc_id || ':' || j), 1, 8))::BIGINT % mt AS u FROM d, tot) " +
        "SELECT u.doc_id, CAST(u.j AS INT) AS j, iv.tk AS neg_token " +
        "FROM u JOIN iv ON u.u >= iv.lo AND u.u < iv.hi"),
    "dedup_span_apply" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "pw AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS p " +
        "FROM toks WHERE len(w) >= 5), " +
        "pg AS (SELECT doc_id, p, " +
        "w[p] || ' ' || w[p+1] || ' ' || w[p+2] || ' ' || w[p+3] || ' ' || w[p+4] AS g FROM pw), " +
        "dfv AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM pg GROUP BY g) d " +
        "WHERE df >= 2), " +
        "dup AS (SELECT doc_id, p FROM pg JOIN dfv USING (g)), " +
        "isl AS (SELECT doc_id, p, p - row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY p) AS grp FROM dup), " +
        "runs AS (SELECT doc_id, min(p) AS s, count(*) AS run FROM isl GROUP BY doc_id, grp), " +
        "cut AS (SELECT doc_id, s, s + run + 3 AS e FROM runs WHERE run >= 3), " +
        "cl AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans FROM cut GROUP BY doc_id), " +
        "k AS (SELECT t.doc_id, t.w, coalesce(c.spans, []) AS spans " +
        "FROM toks t LEFT JOIN cl c ON t.doc_id = c.doc_id), " +
        "res AS (SELECT doc_id, len(w) AS n_tokens, " +
        "[w[i] FOR i IN generate_series(1, len(w)) " +
        "IF len(list_filter(spans, sp -> i >= sp.s AND i <= sp.e)) = 0] AS kept, " +
        "len(spans) AS n_cut FROM k) " +
        "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(len(kept) AS BIGINT) AS n_tokens_after, " +
        "CAST(n_cut AS BIGINT) AS n_spans_cut, " +
        "md5(coalesce(array_to_string(kept, ' '), '')) AS kept_md5 FROM res"),
    "doc_chunk_windows" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "ch AS (SELECT doc_id, w, unnest(generate_series(0, " +
        "CAST(ceil(greatest(len(w) - 64, 0) / 32.0) AS INT))) AS chunk_idx FROM toks) " +
        "SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, " +
        "CAST(least(64, len(w) - chunk_idx * 32) AS BIGINT) AS n_tokens, " +
        "md5(array_to_string(w[chunk_idx * 32 + 1 : chunk_idx * 32 + 64], ' ')) AS chunk_md5 " +
        "FROM ch"),
    "keyword_search_topk" ->
      ("WITH occ AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents), " +
        "tf AS (SELECT doc_id, tk, count(*) AS tf FROM occ " +
        "WHERE tk IN ('spark', 'quantile', 'vector') GROUP BY doc_id, tk), " +
        "dft AS (SELECT tk, count(*) AS df FROM tf GROUP BY tk), " +
        "nd AS (SELECT count(*) AS n_docs FROM documents) " +
        "SELECT doc_id, n_terms, CAST(score_dec AS DOUBLE) AS score FROM " +
        "(SELECT doc_id, count(*) AS n_terms, " +
        "CAST(sum(tf * ((1000000 * n_docs) // df)) AS DECIMAL(38,0)) AS score_dec " +
        "FROM tf JOIN dft USING (tk), nd GROUP BY doc_id " +
        "ORDER BY score_dec DESC, doc_id LIMIT 20) t"),
    "phrase_search_topk" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "occ AS (SELECT doc_id, list_sum([CASE WHEN w[i] = 'data' AND w[i+1] = 'spark' " +
        "THEN 1 ELSE 0 END FOR i IN generate_series(1, len(w) - 1)]) AS n FROM toks) " +
        "SELECT doc_id, CAST(n AS BIGINT) AS n_occurrences FROM occ " +
        "WHERE n > 0 ORDER BY n DESC, doc_id LIMIT 20"),
    "phrase_search_probe" ->
      // probe answers from the materialized postings; same contract, same
      // oracle as the direct scan
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "occ AS (SELECT doc_id, list_sum([CASE WHEN w[i] = 'data' AND w[i+1] = 'spark' " +
        "THEN 1 ELSE 0 END FOR i IN generate_series(1, len(w) - 1)]) AS n FROM toks) " +
        "SELECT doc_id, CAST(n AS BIGINT) AS n_occurrences FROM occ " +
        "WHERE n > 0 ORDER BY n DESC, doc_id LIMIT 20"),
    "bm25_topk" ->
      ("WITH stats AS (SELECT count(*) AS n_docs, " +
        "sum(len(string_split(text, ' '))) AS sum_dl FROM documents), " +
        "occ AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, " +
        "unnest(string_split(text, ' ')) AS tk FROM documents), " +
        "tf AS (SELECT doc_id, dl, tk, count(*) AS tf FROM occ " +
        "WHERE tk IN ('spark', 'quantile', 'vector') GROUP BY 1, 2, 3), " +
        "dft AS (SELECT tk, count(*) AS df FROM tf GROUP BY tk), " +
        "w AS (SELECT doc_id, CAST(round(CAST((1000000 * n_docs) // df AS DOUBLE) * " +
        "((tf * 2.2) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * " +
        "(dl / (CAST(sum_dl AS DOUBLE) / n_docs))))), 6) AS DECIMAL(18,6)) AS w " +
        "FROM tf JOIN dft USING (tk), stats) " +
        "SELECT doc_id, n_terms, CAST(score_dec AS DOUBLE) AS score FROM " +
        "(SELECT doc_id, count(*) AS n_terms, CAST(sum(w) AS DECIMAL(38,6)) AS score_dec " +
        "FROM w GROUP BY doc_id ORDER BY score_dec DESC, doc_id LIMIT 20) t"),
    "retrieval_eval_pr" ->
      ("WITH q AS (SELECT unnest(['spark', 'vector', 'quantile']) AS tk), " +
        "occ AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, " +
        "unnest(string_split(text, ' ')) AS tk FROM documents), " +
        "tfq AS MATERIALIZED (SELECT tk, doc_id, max(dl) AS dl, count(*) AS tf " +
        "FROM occ JOIN q USING (tk) GROUP BY tk, doc_id), " +
        "tr AS (SELECT tk, sum(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS n_rel " +
        "FROM tfq GROUP BY tk), " +
        "r AS (SELECT tk, tf, row_number() OVER " +
        "(PARTITION BY tk ORDER BY tf DESC, dl, doc_id) AS rank FROM tfq), " +
        "ret AS (SELECT tk, count(*) AS n_ret, " +
        "sum(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS n_rel_ret, " +
        "min(CASE WHEN tf >= 2 THEN rank END) AS frr " +
        "FROM r WHERE rank <= 10 GROUP BY tk) " +
        "SELECT q.tk AS term, CAST(coalesce(n_rel, 0) AS BIGINT) AS n_rel, " +
        "CAST(coalesce(n_ret, 0) AS BIGINT) AS n_ret, " +
        "CAST(coalesce(n_rel_ret, 0) AS BIGINT) AS n_rel_ret, " +
        "CAST(CASE WHEN coalesce(n_ret, 0) = 0 THEN 0 " +
        "ELSE (n_rel_ret * 10000) // n_ret END AS BIGINT) AS prec_bp, " +
        "CAST(CASE WHEN coalesce(n_rel, 0) = 0 THEN 10000 " +
        "ELSE (coalesce(n_rel_ret, 0) * 10000) // n_rel END AS BIGINT) AS recall_bp, " +
        "CAST(CASE WHEN coalesce(frr, 0) = 0 THEN 0 " +
        "ELSE 1000000 // frr END AS BIGINT) AS mrr_ppm " +
        "FROM q LEFT JOIN tr USING (tk) LEFT JOIN ret USING (tk)"),
    "quality_gopher_rules" ->
      ("WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "m AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, " +
        "CAST(list_sum([length(x) FOR x IN w]) AS BIGINT) AS sum_word_chars, " +
        "CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) " +
        "AS n_alpha_words, " +
        "CAST(len(list_intersect(list_distinct(w), " +
        "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) " +
        "AS BIGINT) AS n_stop_distinct FROM s) " +
        "SELECT doc_id, n_words, sum_word_chars, n_alpha_words, n_stop_distinct, " +
        "CAST(CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END " +
        "AS INT) AS f_word_count, " +
        "CAST(CASE WHEN sum_word_chars >= n_words * 3 " +
        "AND sum_word_chars <= n_words * 10 THEN 1 ELSE 0 END AS INT) " +
        "AS f_mean_word_len, " +
        "CAST(CASE WHEN n_alpha_words * 10 >= n_words * 8 THEN 1 ELSE 0 END " +
        "AS INT) AS f_alpha_ratio, " +
        "CAST(CASE WHEN n_stop_distinct >= 2 THEN 1 ELSE 0 END AS INT) " +
        "AS f_stopwords, " +
        "CAST(CASE WHEN n_words >= 50 AND n_words <= 100000 " +
        "AND sum_word_chars >= n_words * 3 AND sum_word_chars <= n_words * 10 " +
        "AND n_alpha_words * 10 >= n_words * 8 AND n_stop_distinct >= 2 " +
        "THEN 1 ELSE 0 END AS INT) AS keep FROM m"),
    // same 20-token chunking as dedup_paragraph; df over DISTINCT
    // (source, chunk, doc) then both integer cuts
    "boilerplate_chunk_scrub" ->
      ("WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w " +
        "FROM documents), " +
        "paras AS (SELECT doc_id, source, unnest(generate_series(0, " +
        "CAST(ceil(len(w) / 20.0) AS INT) - 1)) AS idx, w FROM toks), " +
        "p AS (SELECT doc_id, source, idx, " +
        "array_to_string(w[idx * 20 + 1 : idx * 20 + 20], ' ') AS chunk " +
        "FROM paras), " +
        "st AS (SELECT source, count(DISTINCT doc_id) AS n_docs_src " +
        "FROM documents GROUP BY 1), " +
        "df AS (SELECT source, chunk, count(DISTINCT doc_id) AS df_docs " +
        "FROM p GROUP BY 1, 2), " +
        "b AS (SELECT df.source, df.chunk, (df_docs >= 3 AND " +
        "df_docs * 10000 >= 2000 * n_docs_src) AS boiler " +
        "FROM df JOIN st USING (source)) " +
        "SELECT doc_id, count(*) AS n_chunks, " +
        "CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler, " +
        "CAST(sum(CASE WHEN boiler THEN 0 ELSE length(chunk) END) AS BIGINT) " +
        "AS kept_chars, " +
        "CAST((sum(CASE WHEN boiler THEN 1 ELSE 0 END) * 10000) // count(*) " +
        "AS BIGINT) AS boiler_share_bp " +
        "FROM p JOIN b USING (source, chunk) GROUP BY doc_id"),
    // same chunking as dedup_paragraph; stopword langid per chunk; runs
    // via idx - row_number within (doc, prediction)
    "text_lang_segments" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "paras AS (SELECT doc_id, unnest(generate_series(0, " +
        "CAST(ceil(len(w) / 20.0) AS INT) - 1)) AS idx, w FROM toks), " +
        "p AS (SELECT doc_id, idx, w[idx * 20 + 1 : idx * 20 + 20] AS cw " +
        "FROM paras), " +
        "pr AS (SELECT doc_id, idx, CASE WHEN " +
        "len(list_filter(cw, x -> x IN ('the', 'a', 'of', 'and'))) * 10 " +
        ">= len(cw) THEN 'en' ELSE 'unk' END AS pred FROM p), " +
        "g AS (SELECT doc_id, idx, pred, idx - row_number() OVER " +
        "(PARTITION BY doc_id, pred ORDER BY idx) AS grp FROM pr) " +
        "SELECT doc_id, CAST(min(idx) AS INT) AS seg_start, " +
        "count(*) AS seg_len, pred AS lang_pred " +
        "FROM g GROUP BY doc_id, pred, grp"),
    "text_repetition_score" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w " +
        "FROM documents), " +
        "m AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, " +
        "CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct, w FROM toks " +
        "WHERE len(w) >= 2), " +
        "bg AS (SELECT doc_id, unnest([w[i] || ' ' || w[i + 1] " +
        "FOR i IN generate_series(1, len(w) - 1)]) AS bg FROM m), " +
        "bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2), " +
        "tb AS (SELECT doc_id, max(c) AS top_bigram_n FROM bc GROUP BY 1) " +
        "SELECT m.doc_id, n_tokens, n_distinct, " +
        "CAST(((n_tokens - n_distinct) * 1000000) // n_tokens AS BIGINT) " +
        "AS dup_token_ppm, CAST(top_bigram_n AS BIGINT) AS top_bigram_n, " +
        "CAST((2 * top_bigram_n * 1000000) // n_tokens AS BIGINT) " +
        "AS top_bigram_ppm FROM m JOIN tb ON m.doc_id = tb.doc_id"),
    "text_lexical_diversity" ->
      ("WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tk " +
        "FROM documents), " +
        "tf AS (SELECT source, tk, count(*) AS c FROM tk WHERE tk <> '' " +
        "GROUP BY 1, 2), " +
        "ps AS (SELECT source, count(*) AS n_types, sum(c) AS n_tokens, " +
        "sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax FROM tf " +
        "GROUP BY 1), " +
        "nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1) " +
        "SELECT nd.source, CAST(n_docs AS BIGINT) AS n_docs, " +
        "CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(n_types AS BIGINT) AS n_types, " +
        "CAST(n_hapax AS BIGINT) AS n_hapax, " +
        "CAST((n_types * 1000000) // n_tokens AS BIGINT) AS ttr_ppm, " +
        "CAST((n_hapax * 1000000) // n_types AS BIGINT) AS hapax_ppm " +
        "FROM nd JOIN ps ON nd.source = ps.source"),
    "quality_brier_decomposition" ->
      ("WITH d AS (SELECT " +
        "(CASE WHEN list_contains(string_split(text, ' '), 'the') THEN 1 ELSE 0 END + " +
        "CASE WHEN list_contains(string_split(text, ' '), 'be') THEN 1 ELSE 0 END + " +
        "CASE WHEN list_contains(string_split(text, ' '), 'to') THEN 1 ELSE 0 END + " +
        "CASE WHEN list_contains(string_split(text, ' '), 'of') THEN 1 ELSE 0 END + " +
        "CASE WHEN list_contains(string_split(text, ' '), 'and') THEN 1 ELSE 0 END + " +
        "CASE WHEN list_contains(string_split(text, ' '), 'that') THEN 1 ELSE 0 END + " +
        "CASE WHEN list_contains(string_split(text, ' '), 'have') THEN 1 ELSE 0 END + " +
        "CASE WHEN list_contains(string_split(text, ' '), 'with') THEN 1 ELSE 0 END) " +
        "AS bin, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents), " +
        "b AS (SELECT bin, count(*) AS n, sum(y) AS n_pos FROM d GROUP BY 1), " +
        "g AS (SELECT (sum(n_pos) * 1000000) // sum(n) AS ybar_ppm FROM b) " +
        "SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n, " +
        "CAST(n_pos AS BIGINT) AS n_pos, " +
        "CAST(bin * 125000 AS BIGINT) AS p_ppm, " +
        "CAST((n_pos * 1000000) // n AS BIGINT) AS obs_ppm, " +
        "CAST(ybar_ppm AS BIGINT) AS ybar_ppm, " +
        "CAST((CAST(n AS HUGEINT) * (bin * 125000 - (n_pos * 1000000) // n) " +
        "* (bin * 125000 - (n_pos * 1000000) // n)) // 1000000 AS BIGINT) " +
        "AS rel_term_milli2, " +
        "CAST((CAST(n AS HUGEINT) * ((n_pos * 1000000) // n - ybar_ppm) " +
        "* ((n_pos * 1000000) // n - ybar_ppm)) // 1000000 AS BIGINT) " +
        "AS res_term_milli2 FROM b, g"),
    "quality_rater_kappa" ->
      ("WITH d AS (SELECT " +
        "CASE WHEN (" +
        "CASE WHEN list_contains(string_split(text, ' '), 'the') THEN 1 ELSE 0 END + " +
        "CASE WHEN list_contains(string_split(text, ' '), 'be') THEN 1 ELSE 0 END + " +
        "CASE WHEN list_contains(string_split(text, ' '), 'to') THEN 1 ELSE 0 END + " +
        "CASE WHEN list_contains(string_split(text, ' '), 'of') THEN 1 ELSE 0 END + " +
        "CASE WHEN list_contains(string_split(text, ' '), 'and') THEN 1 ELSE 0 END + " +
        "CASE WHEN list_contains(string_split(text, ' '), 'that') THEN 1 ELSE 0 END + " +
        "CASE WHEN list_contains(string_split(text, ' '), 'have') THEN 1 ELSE 0 END + " +
        "CASE WHEN list_contains(string_split(text, ' '), 'with') THEN 1 ELSE 0 END" +
        ") >= 2 THEN 1 ELSE 0 END AS a, " +
        "CASE WHEN length(text) // greatest(1, len(string_split(text, ' '))) " +
        "<= 5 THEN 1 ELSE 0 END AS b FROM documents), " +
        "agg AS (SELECT count(*) AS n, " +
        "sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS n_agree, " +
        "sum(a) AS a1, sum(b) AS b1 FROM d), " +
        "r AS (SELECT CAST(n AS BIGINT) AS n, " +
        "CAST(n_agree AS BIGINT) AS n_agree, " +
        "CAST((n_agree * 1000000) // n AS BIGINT) AS po_ppm, " +
        "CAST(((CAST(a1 AS HUGEINT) * b1 + CAST(n - a1 AS HUGEINT) * (n - b1)) " +
        "* 1000000) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm FROM agg) " +
        "SELECT n, n_agree, po_ppm, pe_ppm, " +
        "CAST(CASE WHEN pe_ppm = 1000000 THEN 0 " +
        "ELSE ((po_ppm - pe_ppm) * 1000000) // (1000000 - pe_ppm) END " +
        "AS BIGINT) AS kappa_ppm FROM r"),
    // vowel-group syllables floored at 1; 15-token segment sentences;
    // milli-point Flesch formulas in positive-integer floor division
    "text_readability" ->
      ("WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "m AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, " +
        "CAST(list_sum([greatest(1, len(regexp_extract_all(x, '[aeiouy]+'))) " +
        "FOR x IN w]) AS BIGINT) AS n_syllables FROM s) " +
        "SELECT doc_id, n_words, n_syllables, " +
        "CAST((n_words + 14) // 15 AS BIGINT) AS n_sents, " +
        "CAST(206835 - (1015 * n_words) // ((n_words + 14) // 15) " +
        "- (84600 * n_syllables) // n_words AS BIGINT) AS fre_milli, " +
        "CAST((390 * n_words) // ((n_words + 14) // 15) " +
        "+ (11800 * n_syllables) // n_words - 15590 AS BIGINT) AS fkg_milli " +
        "FROM m WHERE n_words >= 1"),
    // same frozen log2-discount ppm literals; ranking = (dl, doc_id),
    // ideal = (grade DESC, dl, doc_id) over the same per-term relation
    "retrieval_ndcg_eval" ->
      ("WITH q AS (SELECT unnest(['spark', 'vector', 'quantile']) AS tk), " +
        "dd AS (SELECT [1000000, 630930, 500000, 430677, 386853, " +
        "356207, 333333, 315465, 301030, 289065] AS ds), " +
        "occ AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, " +
        "unnest(string_split(text, ' ')) AS tk FROM documents), " +
        "tfq AS MATERIALIZED (SELECT tk, doc_id, max(dl) AS dl, " +
        "least(count(*), 4) AS grade FROM occ JOIN q USING (tk) " +
        "GROUP BY tk, doc_id), " +
        "ret AS (SELECT tk, grade, row_number() OVER " +
        "(PARTITION BY tk ORDER BY dl, doc_id) AS rn FROM tfq), " +
        "idl AS (SELECT tk, grade, row_number() OVER " +
        "(PARTITION BY tk ORDER BY grade DESC, dl, doc_id) AS rn FROM tfq), " +
        "dc AS (SELECT tk, sum(grade * ds[rn]) AS dcg FROM ret, dd " +
        "WHERE rn <= 10 GROUP BY tk), " +
        "ic AS (SELECT tk, sum(grade * ds[rn]) AS idcg FROM idl, dd " +
        "WHERE rn <= 10 GROUP BY tk) " +
        "SELECT q.tk AS term, CAST(coalesce(dcg, 0) AS BIGINT) AS dcg_fp, " +
        "CAST(coalesce(idcg, 0) AS BIGINT) AS idcg_fp, " +
        "CAST(CASE WHEN coalesce(idcg, 0) = 0 THEN 0 " +
        "ELSE (1000000 * dcg) // idcg END AS BIGINT) AS ndcg_ppm " +
        "FROM q LEFT JOIN dc USING (tk) LEFT JOIN ic USING (tk)"),
    "source_domain_cap" ->
      ("WITH r AS (SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok, " +
        "row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk " +
        "FROM documents), " +
        "c AS (SELECT source, doc_id, rk, sum(n_tok) OVER " +
        "(PARTITION BY source ORDER BY rk) AS tok_cum FROM r WHERE rk <= 15) " +
        "SELECT source, doc_id, CAST(rk AS BIGINT) AS rk, " +
        "CAST(tok_cum AS BIGINT) AS tok_cum FROM c " +
        "WHERE tok_cum <= 700 OR rk = 1"),
    "bm25_probe" ->
      // probe shares the direct key's scoring contract and oracle
      ("WITH stats AS (SELECT count(*) AS n_docs, " +
        "sum(len(string_split(text, ' '))) AS sum_dl FROM documents), " +
        "occ AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, " +
        "unnest(string_split(text, ' ')) AS tk FROM documents), " +
        "tf AS (SELECT doc_id, dl, tk, count(*) AS tf FROM occ " +
        "WHERE tk IN ('spark', 'quantile', 'vector') GROUP BY 1, 2, 3), " +
        "dft AS (SELECT tk, count(*) AS df FROM tf GROUP BY tk), " +
        "w AS (SELECT doc_id, CAST(round(CAST((1000000 * n_docs) // df AS DOUBLE) * " +
        "((tf * 2.2) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * " +
        "(dl / (CAST(sum_dl AS DOUBLE) / n_docs))))), 6) AS DECIMAL(18,6)) AS w " +
        "FROM tf JOIN dft USING (tk), stats) " +
        "SELECT doc_id, n_terms, CAST(score_dec AS DOUBLE) AS score FROM " +
        "(SELECT doc_id, count(*) AS n_terms, CAST(sum(w) AS DECIMAL(38,6)) AS score_dec " +
        "FROM w GROUP BY doc_id ORDER BY score_dec DESC, doc_id LIMIT 20) t"),
    "dsir_importance_topk" ->
      ("WITH occ AS (SELECT doc_id, coalesce(lang = 'en', false) AS is_target, " +
        "unnest(string_split(text, ' ')) AS tk FROM documents), " +
        "pd AS (SELECT doc_id, is_target, tk, count(*) AS c FROM occ GROUP BY 1, 2, 3), " +
        "tft AS (SELECT tk, sum(c) AS tf_t FROM pd WHERE is_target GROUP BY tk), " +
        "tfr AS (SELECT tk, sum(c) AS tf_r FROM pd WHERE NOT is_target GROUP BY tk), " +
        "s AS (SELECT doc_id, sum(c * (coalesce(tf_t, 0) + 1)) AS numh, " +
        "sum(c * (tf_r + 1)) AS denh FROM pd JOIN tfr USING (tk) " +
        "LEFT JOIN tft USING (tk) WHERE NOT is_target GROUP BY doc_id) " +
        "SELECT doc_id, CAST(numh AS DOUBLE) AS num, " +
        "CAST(denh AS DOUBLE) AS den, " +
        "CAST((1000000000 * numh) // denh AS BIGINT) AS ratio_scaled " +
        "FROM s ORDER BY ratio_scaled DESC, doc_id LIMIT 100"),
    "dsir_importance_resample" ->
      ("WITH occ AS (SELECT doc_id, coalesce(lang = 'en', false) AS is_target, " +
        "unnest(string_split(text, ' ')) AS tk FROM documents), " +
        "pd AS (SELECT doc_id, is_target, tk, count(*) AS c FROM occ GROUP BY 1, 2, 3), " +
        "tft AS (SELECT tk, sum(c) AS tf_t FROM pd WHERE is_target GROUP BY tk), " +
        "tfr AS (SELECT tk, sum(c) AS tf_r FROM pd WHERE NOT is_target GROUP BY tk), " +
        "s AS (SELECT doc_id, sum(c * (coalesce(tf_t, 0) + 1)) AS numh, " +
        "sum(c * (tf_r + 1)) AS denh FROM pd JOIN tfr USING (tk) " +
        "LEFT JOIN tft USING (tk) WHERE NOT is_target GROUP BY doc_id), " +
        "sc AS (SELECT doc_id, (1000000000 * numh) // denh AS ratio_scaled, " +
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 1000000000 AS u " +
        "FROM s), " +
        "mx AS (SELECT max(ratio_scaled) AS rmax FROM sc) " +
        "SELECT doc_id, CAST(ratio_scaled AS BIGINT) AS ratio_scaled, " +
        "CAST(u AS BIGINT) AS u FROM sc, mx " +
        "WHERE CAST(u AS HUGEINT) * rmax < CAST(1000000000 AS HUGEINT) * ratio_scaled"),
    "weighted_sample_priority" ->
      ("WITH p AS (SELECT doc_id, source, greatest(n_chars, 1) AS w, " +
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 1000000000 + 1 AS u " +
        "FROM documents) " +
        "SELECT doc_id, source, w, u, CAST((u * 1000000) // w AS BIGINT) AS priority " +
        "FROM p ORDER BY priority, doc_id LIMIT 100"),
    "source_overlap_matrix" ->
      ("WITH toks AS (SELECT source, string_split(text, ' ') AS w FROM documents), " +
        "fps AS (SELECT DISTINCT source, " +
        "unnest([md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) " +
        "FOR i IN generate_series(1, len(w) - 3)]) AS fp FROM toks) " +
        "SELECT a.source AS source_a, b.source AS source_b, " +
        "count(*) AS n_shared_fps FROM fps a JOIN fps b ON a.fp = b.fp " +
        "AND a.source < b.source GROUP BY 1, 2"),
    "text_bigram_lm_score" ->
      (lmScoreCtes +
        " SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, " +
        "CAST(lm_score AS BIGINT) AS lm_score FROM lm"),
    // tertile thresholds are quantile_cont over the floor-mean scores —
    // the same interpolation as Spark's percentile
    "quality_perplexity_buckets" ->
      (lmScoreCtes +
        ", scm AS (SELECT doc_id, lm_score // n_bigrams AS score_mean FROM lm), " +
        "th AS (SELECT quantile_cont(score_mean, 1.0/3) AS t1, " +
        "quantile_cont(score_mean, 2.0/3) AS t2 FROM scm) " +
        "SELECT doc_id, CAST(score_mean AS BIGINT) AS score_mean, " +
        "CASE WHEN score_mean >= t2 THEN 'head' " +
        "WHEN score_mean >= t1 THEN 'middle' ELSE 'tail' END AS bucket " +
        "FROM scm, th"),
    // votes: corpus length band, LM not-tail (unscored docs vote 0), and
    // duplicated-bigram mass <= 20% (gram-free docs vote 1, like Spark's
    // na.fill(0) repetition row)
    "quality_ensemble_verdict" ->
      (lmScoreCtes +
        ", scm AS (SELECT doc_id, lm_score // n_bigrams AS score_mean FROM lm), " +
        "th AS (SELECT quantile_cont(score_mean, 1.0/3) AS t1 FROM scm), " +
        "band AS (SELECT quantile_cont(n_chars, 0.25) AS p_lo, " +
        "quantile_cont(n_chars, 0.75) AS p_hi FROM documents), " +
        "bc AS (SELECT doc_id, g, count(*) AS c FROM " +
        "(SELECT doc_id, unnest([w[i] || ' ' || w[i+1] " +
        "FOR i IN generate_series(1, len(w) - 1)]) AS g FROM toks) u GROUP BY 1, 2), " +
        "rep AS (SELECT doc_id, CASE WHEN " +
        "sum(CASE WHEN c >= 2 THEN c ELSE 0 END) * 5 <= sum(c) " +
        "THEN 1 ELSE 0 END AS v_rep FROM bc GROUP BY doc_id), " +
        "v AS (SELECT d.doc_id, " +
        "CASE WHEN d.n_chars >= band.p_lo AND d.n_chars <= band.p_hi " +
        "THEN 1 ELSE 0 END + " +
        "CASE WHEN scm.score_mean IS NOT NULL AND scm.score_mean >= th.t1 " +
        "THEN 1 ELSE 0 END + coalesce(rep.v_rep, 1) AS votes " +
        "FROM documents d CROSS JOIN band CROSS JOIN th " +
        "LEFT JOIN scm ON d.doc_id = scm.doc_id " +
        "LEFT JOIN rep ON d.doc_id = rep.doc_id) " +
        "SELECT doc_id, CAST(votes AS BIGINT) AS votes, " +
        "CASE WHEN votes = 3 THEN 'keep' WHEN votes = 2 THEN 'review' " +
        "ELSE 'drop' END AS verdict FROM v"),
    // boundaries are the 7 exact eighth-quantiles (exact binary-fraction
    // probabilities, so the interpolated doubles agree across engines);
    // the range id is the count of boundaries at or below the value
    "range_partition_balance" ->
      ("WITH b AS (SELECT quantile_cont(value, " +
        "[0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs FROM events) " +
        "SELECT range_id, count(*) AS n_rows FROM " +
        "(SELECT CAST(list_sum([CASE WHEN value >= x THEN 1 ELSE 0 END " +
        "FOR x IN bs]) AS BIGINT) AS range_id FROM events, b) t " +
        "GROUP BY range_id"),
    "semantic_dedup_apply" ->
      semDedupOracle(nCells = -1, iters = 2, trainMod = 4, minSim = 0.30),
    "semantic_dedup_hier" ->
      semDedupHierOracle(topCells = 4, maxPop = 64L, subCells = 4,
        iters = 2, trainMod = 4, minSim = 0.30),
    "semantic_dedup_apply_probe" ->
      semDedupOracle(nCells = -1, iters = 2, trainMod = 4, minSim = 0.30),
    "knn_hubness_histogram" ->
      ("WITH occ AS (SELECT nbr_id, count(*) AS n_k FROM (" +
        knnJoinOracle(nCells = -1, nProbe = 2, iters = 2, trainMod = 4,
          k = 3) + ") knn GROUP BY 1), " +
        "hist AS (SELECT n_k, count(*) AS n_vectors FROM occ GROUP BY 1), " +
        "tot AS (SELECT count(*) AS n_total FROM embeddings), " +
        "sn AS (SELECT count(*) AS n_seen FROM occ) " +
        "SELECT CAST(n_k AS BIGINT) AS n_k, " +
        "CAST(n_vectors AS BIGINT) AS n_vectors FROM hist " +
        "UNION ALL SELECT CAST(0 AS BIGINT), " +
        "CAST(n_total - n_seen AS BIGINT) FROM tot, sn " +
        "WHERE n_total > n_seen"),
    "knn_join_ivf" ->
      knnJoinOracle(nCells = -1, nProbe = 2, iters = 2, trainMod = 4, k = 3),
    "embedding_norm_bands" ->
      ("SELECT CAST(length(bin(greatest(n2, 1))) - 1 AS INT) AS band, " +
        "count(*) AS n_vectors, CAST(min(n2) AS BIGINT) AS min_n2, " +
        "CAST(max(n2) AS BIGINT) AS max_n2 FROM " +
        "(SELECT vec_id, list_sum([CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) * " +
        "CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) FOR x IN embedding]) AS n2 " +
        "FROM embeddings) t GROUP BY 1"),
    "neardup_component_sizes" ->
      ("WITH RECURSIVE " + minhashPairCtes + ", " + closureCtes("pairs") +
        ", comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src) " +
        "SELECT sz, count(*) AS n_components FROM " +
        "(SELECT component, count(*) AS sz FROM comp GROUP BY 1) c GROUP BY sz"),
    // per-tier rollups are independent aggregates; arg_min mirrors the
    // engine's min(struct(doc_id, n_chars)) keep-row selection
    "corpus_dedup_savings" ->
      ("WITH RECURSIVE " + minhashPairCtes + ", " + closureCtes("pairs") + ", " +
        "comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach " +
        "GROUP BY src), " +
        "t1 AS (SELECT text AS k, count(*) AS n, sum(n_chars) AS chars, " +
        "arg_min(n_chars, doc_id) AS kc FROM documents GROUP BY 1), " +
        "t2 AS (SELECT md5(lower(trim(text))) AS k, count(*) AS n, " +
        "sum(n_chars) AS chars, arg_min(n_chars, doc_id) AS kc " +
        "FROM documents GROUP BY 1), " +
        "t3 AS (SELECT coalesce(comp.component, d.doc_id) AS k, " +
        "count(*) AS n, sum(n_chars) AS chars, arg_min(n_chars, d.doc_id) AS kc " +
        "FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id " +
        "GROUP BY 1), " +
        "r1 AS (SELECT 'exact' AS tier, * FROM (SELECT " +
        "sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS g, " +
        "sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS a, " +
        "sum(n - 1) AS r, sum(chars - kc) AS ch FROM t1) x), " +
        "r2 AS (SELECT 'fingerprint' AS tier, * FROM (SELECT " +
        "sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS g, " +
        "sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS a, " +
        "sum(n - 1) AS r, sum(chars - kc) AS ch FROM t2) x), " +
        "r3 AS (SELECT 'neardup' AS tier, * FROM (SELECT " +
        "sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS g, " +
        "sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS a, " +
        "sum(n - 1) AS r, sum(chars - kc) AS ch FROM t3) x) " +
        "SELECT tier, CAST(g AS BIGINT) AS n_dup_groups, " +
        "CAST(a AS BIGINT) AS n_docs_affected, " +
        "CAST(r AS BIGINT) AS n_docs_removed, " +
        "CAST(ch AS BIGINT) AS chars_removed FROM " +
        "(SELECT * FROM r1 UNION ALL SELECT * FROM r2 " +
        "UNION ALL SELECT * FROM r3) u"),
    // Newman per-community term 10^6*(4m*e_c - d_c^2)/(4m^2), communities
    // = doc source tagged onto the distinct candidate pairs; signed
    // integral division truncates toward zero in both engines
    "neardup_source_modularity" ->
      ("WITH " + minhashPairCtes + ", " +
        "p AS (SELECT DISTINCT id_a, id_b FROM pairs), " +
        "tg AS (SELECT p.id_a, p.id_b, da.source AS ca, db.source AS cb " +
        "FROM p JOIN documents da ON p.id_a = da.doc_id " +
        "JOIN documents db ON p.id_b = db.doc_id), " +
        "mm AS (SELECT count(*) AS m FROM tg), " +
        "dm AS (SELECT community, count(*) AS deg_sum FROM " +
        "(SELECT ca AS community FROM tg UNION ALL SELECT cb FROM tg) u " +
        "GROUP BY 1), " +
        "wi AS (SELECT ca AS community, count(*) AS e_in FROM tg " +
        "WHERE ca = cb GROUP BY 1), " +
        "nd AS (SELECT d.source AS community, count(DISTINCT d.doc_id) AS n_nodes " +
        "FROM documents d JOIN " +
        "(SELECT id_a AS x FROM p UNION ALL SELECT id_b FROM p) q " +
        "ON d.doc_id = q.x GROUP BY 1), " +
        "j AS (SELECT nd.community, nd.n_nodes, coalesce(wi.e_in, 0) AS e_in, " +
        "dm.deg_sum, " +
        "4::HUGEINT * mm.m * coalesce(wi.e_in, 0) - " +
        "CAST(dm.deg_sum AS HUGEINT) * dm.deg_sum AS num, " +
        "4::HUGEINT * mm.m * mm.m AS den " +
        "FROM nd JOIN dm USING (community) LEFT JOIN wi USING (community), mm) " +
        "SELECT community, CAST(n_nodes AS BIGINT) AS n_nodes, " +
        "CAST(e_in AS BIGINT) AS e_in, CAST(deg_sum AS BIGINT) AS deg_sum, " +
        "CAST(CASE WHEN num < 0 THEN -((1000000::HUGEINT * abs(num)) // den) " +
        "ELSE (1000000::HUGEINT * num) // den END AS BIGINT) AS q_ppm FROM j"),
    // the same k-NN chain as a subquery, then majority vote + accuracy
    "knn_label_accuracy" ->
      ("WITH nn AS (SELECT * FROM (" +
        knnJoinOracle(nCells = -1, nProbe = 2, iters = 2, trainMod = 4, k = 3) +
        ") q), " +
        "lbl AS (SELECT vec_id, label FROM embeddings), " +
        "v AS (SELECT nn.vec_id, l.label AS nbr_label, count(*) AS v " +
        "FROM nn JOIN lbl l ON nn.nbr_id = l.vec_id GROUP BY 1, 2), " +
        "pred AS (SELECT vec_id, nbr_label AS pred FROM " +
        "(SELECT vec_id, nbr_label, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY v DESC, nbr_label) AS rn FROM v) t " +
        "WHERE rn = 1) " +
        "SELECT l.label, count(*) AS n_total, " +
        "CAST(sum(CASE WHEN p.pred = l.label THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_correct FROM pred p JOIN lbl l ON p.vec_id = l.vec_id " +
        "GROUP BY l.label"),
    "knn_join_ivf_probe" ->
      knnJoinOracle(nCells = -1, nProbe = 2, iters = 2, trainMod = 4, k = 3),
    // exact transitive closure (recursive CTE) vs the engine's bounded
    // min-label propagation: equal because near-dup components on the
    // fixture corpus have diameter << 10 rounds
    "neardup_components" ->
      ("WITH RECURSIVE " + minhashPairCtes + ", " + closureCtes("pairs") +
        " SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src"),
    // same closure as neardup_components; gold = md5(text); F1 from the
    // already-floored ppm averages (the documented quantization)
    "dedup_bcubed_eval" ->
      ("WITH RECURSIVE " + minhashPairCtes + ", " + closureCtes("pairs") +
        ", comp AS (SELECT src AS doc_id, min(dst) AS component " +
        "FROM reach GROUP BY src), " +
        "a AS (SELECT d.doc_id, coalesce(component, d.doc_id) AS c, " +
        "md5(d.text) AS g FROM documents d LEFT JOIN comp USING (doc_id)), " +
        "cs AS (SELECT c, count(*) AS csz FROM a GROUP BY 1), " +
        "gs AS (SELECT g, count(*) AS gsz FROM a GROUP BY 1), " +
        "ig AS (SELECT c, g, count(*) AS isz FROM a GROUP BY 1, 2), " +
        "per AS (SELECT (isz * 1000000) // csz AS p_ppm, " +
        "(isz * 1000000) // gsz AS r_ppm " +
        "FROM a JOIN cs USING (c) JOIN gs USING (g) JOIN ig USING (c, g)), " +
        "t AS (SELECT count(*) AS n_docs, " +
        "CAST(sum(p_ppm) // count(*) AS BIGINT) AS p, " +
        "CAST(sum(r_ppm) // count(*) AS BIGINT) AS r FROM per) " +
        "SELECT n_docs, p AS bcubed_p_ppm, r AS bcubed_r_ppm, " +
        "CAST(CASE WHEN p + r = 0 THEN 0 ELSE (2 * p * r) // (p + r) END " +
        "AS BIGINT) AS bcubed_f_ppm FROM t"),
    "neardup_components_star" ->
      ("WITH RECURSIVE " + minhashPairCtes + ", " + closureCtes("pairs") +
        " SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src"),
    // sig/pairs CTEs shared with the LSH oracles; exact side from the
    // distinct shingle sets of the candidate pairs
    "bbit_minhash_eval" ->
      ("WITH " + minhashPairCtes + ", " +
        "p AS (SELECT DISTINCT id_a, id_b FROM pairs), " +
        "ag AS (SELECT p.id_a, p.id_b, " +
        (0 until 8).map(j =>
          s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ") +
        " AS agf, " +
        (0 until 8).map(j =>
          s"CASE WHEN a.m$j % 2 = b.m$j % 2 THEN 1 ELSE 0 END").mkString(" + ") +
        " AS agb FROM p JOIN sig a ON p.id_a = a.doc_id " +
        "JOIN sig b ON p.id_b = b.doc_id), " +
        "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), " +
        "iv AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2) " +
        "SELECT ag.id_a, ag.id_b, " +
        "CAST((10000 * agf) // 8 AS BIGINT) AS est_full_bp, " +
        "CAST(CASE WHEN 2 * agb - 8 <= 0 THEN 0 ELSE " +
        "(10000 * (2 * agb - 8)) // 8 END AS BIGINT) AS est_b1_bp, " +
        "CAST((10000 * coalesce(iv.inter, 0)) // " +
        "(na.n + nb.n - coalesce(iv.inter, 0)) AS BIGINT) AS exact_bp " +
        "FROM ag LEFT JOIN iv ON ag.id_a = iv.id_a AND ag.id_b = iv.id_b " +
        "JOIN sz na ON ag.id_a = na.doc_id JOIN sz nb ON ag.id_b = nb.doc_id"),
    // incremental == full recompute, so the oracle is the full closure
    "neardup_components_incremental" ->
      ("WITH RECURSIVE " + minhashPairCtes + ", " + closureCtes("pairs") +
        " SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src"),
    "dedup_cluster_apply" ->
      ("WITH RECURSIVE " + minhashPairCtes + ", " + closureCtes("pairs") + ", " +
        "comp AS (SELECT src, min(dst) AS component FROM reach GROUP BY src) " +
        "SELECT doc_id, source FROM documents WHERE doc_id NOT IN " +
        "(SELECT src FROM comp WHERE component != src)"),
    "semantic_dedup_components" ->
      ("WITH RECURSIVE " + cosinePairCtes + ", " + closureCtes("cpairs") +
        " SELECT src AS vec_id, min(dst) AS component FROM reach GROUP BY src"),
    "simhash_signatures" ->
      ("WITH toks AS (SELECT DISTINCT doc_id, t FROM (SELECT doc_id, " +
        "unnest(string_split(text, ' ')) AS t FROM documents) u), " +
        "hb AS (SELECT doc_id, md5(t) AS h, unnest(generate_series(0, 63)) AS b FROM toks), " +
        "bits AS (SELECT doc_id, b, " +
        "((('0x' || substr(h, 1 + CAST(b // 4 AS INT), 1))::BIGINT >> CAST(3 - b % 4 AS INT)) & 1) AS bit FROM hb), " +
        "votes AS (SELECT doc_id, b, sum(bit * 2 - 1) AS vote FROM bits GROUP BY doc_id, b) " +
        "SELECT doc_id, string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash " +
        "FROM votes GROUP BY doc_id"),
    "simhash_neardup_pairs" -> simhashBruteForceOracle(3),
    "simhash_neardup_pairs_wide" -> simhashBruteForceOracle(12),
    "simhash_neardup_pairs_128" -> simhashBruteForceOracle(12, bits = 128),
    "simhash_neardup_pairs_strsig" -> simhashBruteForceOracle(3),
    "entity_match_customers" ->
      ("SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, " +
        "CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist " +
        "FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey " +
        "AND a.c_custkey < b.c_custkey " +
        "AND levenshtein(a.c_name, b.c_name) <= 1"),
    "er_blocking_eval" ->
      ("WITH truth AS MATERIALIZED (SELECT a.c_custkey AS id_a, " +
        "b.c_custkey AS id_b FROM customer a JOIN customer b " +
        "ON a.c_custkey < b.c_custkey " +
        "AND levenshtein(a.c_name, b.c_name) <= 1), " +
        "all_k AS MATERIALIZED (" +
        "SELECT 'nation' AS strategy, CAST(c_nationkey AS VARCHAR) AS bk, " +
        "c_custkey AS rid FROM customer " +
        "UNION ALL SELECT 'segment', c_mktsegment, c_custkey FROM customer " +
        "UNION ALL SELECT 'name12', substr(c_name, 1, 12), c_custkey FROM customer), " +
        "blocks AS (SELECT strategy, bk, count(*) AS sz FROM all_k GROUP BY 1, 2), " +
        "st AS (SELECT strategy, count(*) AS n_blocks, " +
        "sum(sz * (sz - 1) // 2) AS cand_pairs, sum(sz) AS n_rec " +
        "FROM blocks GROUP BY 1), " +
        "fnd AS (SELECT ka.strategy, count(*) AS n_truth, " +
        "sum(CASE WHEN ka.bk = kb.bk THEN 1 ELSE 0 END) AS n_found " +
        "FROM truth t JOIN all_k ka ON ka.rid = t.id_a " +
        "JOIN all_k kb ON kb.rid = t.id_b AND kb.strategy = ka.strategy " +
        "GROUP BY 1) " +
        "SELECT st.strategy, CAST(n_blocks AS BIGINT) AS n_blocks, " +
        "CAST(cand_pairs AS BIGINT) AS cand_pairs, " +
        "CAST(coalesce(n_truth, 0) AS BIGINT) AS n_truth, " +
        "CAST(coalesce(n_found, 0) AS BIGINT) AS n_found, " +
        "CAST(10000 - (cand_pairs * 10000) // (n_rec * (n_rec - 1) // 2) " +
        "AS BIGINT) AS reduction_bp, " +
        "CAST(CASE WHEN coalesce(n_truth, 0) = 0 THEN 10000 " +
        "ELSE (n_found * 10000) // n_truth END AS BIGINT) AS completeness_bp " +
        "FROM st LEFT JOIN fnd ON st.strategy = fnd.strategy"),
    // the same nation-blocked id-window candidates, labels from plain
    // levenshtein <= 1; one grand aggregate feeds all three feature rows
    "er_fellegi_sunter" ->
      ("WITH c AS (SELECT c_custkey AS id, c_name AS nm, c_nationkey AS nat, " +
        "c_mktsegment AS seg, " +
        "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) // 100000 AS bb " +
        "FROM customer), " +
        "p AS (SELECT a.nm AS nm_a, b.nm AS nm_b, a.seg AS seg_a, " +
        "b.seg AS seg_b, a.bb AS bb_a, b.bb AS bb_b FROM c a JOIN c b " +
        "ON a.nat = b.nat AND b.id BETWEEN a.id + 1 AND a.id + 5), " +
        "l AS (SELECT CASE WHEN levenshtein(nm_a, nm_b) <= 1 THEN 1 ELSE 0 END AS m, " +
        "CASE WHEN seg_a = seg_b THEN 1 ELSE 0 END AS f0, " +
        "CASE WHEN bb_a = bb_b THEN 1 ELSE 0 END AS f1, " +
        "CASE WHEN substr(nm_a, 1, 12) = substr(nm_b, 1, 12) THEN 1 ELSE 0 END AS f2 " +
        "FROM p), " +
        "g AS (SELECT sum(m) AS n_match, count(*) - sum(m) AS n_nonmatch, " +
        "sum(CASE WHEN m = 1 THEN f0 ELSE 0 END) AS am0, " +
        "sum(CASE WHEN m = 0 THEN f0 ELSE 0 END) AS au0, " +
        "sum(CASE WHEN m = 1 THEN f1 ELSE 0 END) AS am1, " +
        "sum(CASE WHEN m = 0 THEN f1 ELSE 0 END) AS au1, " +
        "sum(CASE WHEN m = 1 THEN f2 ELSE 0 END) AS am2, " +
        "sum(CASE WHEN m = 0 THEN f2 ELSE 0 END) AS au2 FROM l), " +
        "fr AS (SELECT 'segment' AS feature, am0 AS am, au0 AS au FROM g " +
        "UNION ALL SELECT 'bal_band', am1, au1 FROM g " +
        "UNION ALL SELECT 'name_prefix', am2, au2 FROM g) " +
        "SELECT feature, CAST(n_match AS BIGINT) AS n_match, " +
        "CAST(n_nonmatch AS BIGINT) AS n_nonmatch, " +
        "CAST((am * 10000) // (CASE WHEN n_match = 0 THEN 1 ELSE n_match END) " +
        "AS BIGINT) AS m_bp, " +
        "CAST((au * 10000) // (CASE WHEN n_nonmatch = 0 THEN 1 ELSE n_nonmatch END) " +
        "AS BIGINT) AS u_bp, " +
        "CAST(((am * 10000) // (CASE WHEN n_match = 0 THEN 1 ELSE n_match END) * 10000) " +
        "// (CASE WHEN (au * 10000) // (CASE WHEN n_nonmatch = 0 THEN 1 ELSE n_nonmatch END) = 0 " +
        "THEN 1 ELSE (au * 10000) // (CASE WHEN n_nonmatch = 0 THEN 1 ELSE n_nonmatch END) END) " +
        "AS BIGINT) AS weight_fp FROM fr, g"),
    "entity_match_clusters" ->
      ("WITH RECURSIVE " + custPairCtes + ", " + closureCtes("cust_pairs") +
        " SELECT src AS c_custkey, min(dst) AS entity_id FROM reach GROUP BY src"),
    "entity_golden_record" ->
      ("WITH RECURSIVE " + custPairCtes + ", " + closureCtes("cust_pairs") +
        ", cl AS (SELECT src AS c_custkey, min(dst) AS entity_id " +
        "FROM reach GROUP BY src) " +
        "SELECT coalesce(cl.entity_id, c.c_custkey) AS entity_id, " +
        "count(*) AS n_members, min(c.c_custkey) AS survivor_id, " +
        "max(c.c_acctbal) AS best_acctbal, " +
        "CAST(count(DISTINCT c.c_nationkey) AS BIGINT) AS n_nations " +
        "FROM customer c LEFT JOIN cl USING (c_custkey) GROUP BY 1"),
    "cosine_topk_native" ->
      ("WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
        "prod AS (SELECT e.vec_id, " +
        "list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) FOR i IN generate_series(1, len(e.embedding))]) AS dot, " +
        "list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) FOR i IN generate_series(1, len(e.embedding))]) AS na, " +
        "list_sum([CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) FOR i IN generate_series(1, len(q.qe))]) AS nq " +
        "FROM embeddings e, q WHERE e.vec_id != 0) " +
        "SELECT vec_id, round(dot / (sqrt(na) * sqrt(nq)), 6) AS sim " +
        "FROM prod ORDER BY sim DESC, vec_id LIMIT 10"),
    "cosine_topk_mmr" -> mmrOracle,
    // the Gonzalez greedy unrolled: step i maximizes the running min
    // quantized L2^2 to the selected set (ties to smallest vec_id)
    "diversity_kcenter_sample" -> {
      def dist(aq: String, bq: String): String =
        s"list_sum([($aq[i] - $bq[i]) * ($aq[i] - $bq[i]) " +
          s"FOR i IN generate_series(1, len($aq))])"
      val head =
        "WITH q AS MATERIALIZED (SELECT vec_id, " +
          "[CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT) FOR x IN embedding] " +
          "AS qv FROM embeddings), " +
          "s1 AS (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1), " +
          "d1 AS MATERIALIZED (SELECT q.vec_id, q.qv, " + dist("q.qv", "s.qv") +
          " AS mind FROM q, s1 s WHERE q.vec_id != s.vec_id)"
      val steps = (2 to 8).map { i =>
        val sel = s"s$i AS (SELECT vec_id, qv, mind FROM d${i - 1} " +
          "ORDER BY mind DESC, vec_id LIMIT 1)"
        val nxt = if (i < 8)
          s", d$i AS MATERIALIZED (SELECT d.vec_id, d.qv, least(d.mind, " +
            dist("d.qv", "s.qv") + s") AS mind FROM d${i - 1} d, s$i s " +
            "WHERE d.vec_id != s.vec_id)"
        else ""
        ", " + sel + nxt
      }.mkString
      val tail = " SELECT CAST(1 AS INT) AS step, vec_id, " +
        "CAST(0 AS BIGINT) AS d2_min FROM s1 " +
        (2 to 8).map(i =>
          s"UNION ALL SELECT $i, vec_id, CAST(mind AS BIGINT) FROM s$i ")
          .mkString
      head + steps + tail
    },
    // full-dim vs prefix-16 rankings via the same decimal-exact cosine;
    // recall joined on the (query, vec) pairs
    "embedding_matryoshka_eval" -> {
      def cosOf(e: String, q: String): String = {
        def d(x: String, y: String, ln: String): String =
          s"list_sum([CAST(CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE) " +
            s"AS DECIMAL(18,16)) FOR i IN generate_series(1, len($ln))])"
        s"round(CAST(${d(e, q, e)} AS DOUBLE) / " +
          s"(sqrt(CAST(${d(e, e, e)} AS DOUBLE)) * " +
          s"sqrt(CAST(${d(q, q, q)} AS DOUBLE))), 6)"
      }
      "WITH qs AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings " +
        "WHERE vec_id IN (0, 50, 100, 150, 200)), " +
        "p AS MATERIALIZED (SELECT q.q_id, e.vec_id, " +
        cosOf("e.embedding", "q.qe") + " AS s_full, " +
        cosOf("(e.embedding[1:16])", "(q.qe[1:16])") + " AS s_pre " +
        "FROM embeddings e, qs q WHERE e.vec_id != q.q_id), " +
        "tf AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY s_full DESC, vec_id) " +
        "AS rn FROM p) t WHERE rn <= 10), " +
        "tp AS (SELECT q_id, vec_id, 1 AS hit FROM (SELECT q_id, vec_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY s_pre DESC, vec_id) " +
        "AS rn FROM p) t WHERE rn <= 10) " +
        "SELECT tf.q_id, count(*) AS n_truth, " +
        "CAST(sum(coalesce(tp.hit, 0)) AS BIGINT) AS n_overlap, " +
        "CAST((sum(coalesce(tp.hit, 0)) * 10000) // count(*) AS BIGINT) " +
        "AS recall_bp FROM tf LEFT JOIN tp USING (q_id, vec_id) GROUP BY 1"
    },
    // per-width rankings over one materialized pair relation carrying
    // every prefix cosine; unioned recall rows per width
    "embedding_matryoshka_curve" -> {
      def cosOf(e: String, q: String, w: String): String = {
        def d(x: String, y: String): String =
          s"list_sum([CAST(CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE) " +
            s"AS DECIMAL(18,16)) FOR i IN generate_series(1, $w)])"
        s"round(CAST(${d(e, q)} AS DOUBLE) / " +
          s"(sqrt(CAST(${d(e, e)} AS DOUBLE)) * " +
          s"sqrt(CAST(${d(q, q)} AS DOUBLE))), 6)"
      }
      val widths = Seq(4, 8, 16, 32)
      val simCols = (widths.map(w =>
        cosOf("e.embedding", "q.qe", w.toString) + s" AS s$w") :+
        (cosOf("e.embedding", "q.qe", "len(e.embedding)") + " AS sf"))
        .mkString(", ")
      val perWidth = widths.map { w =>
        s"t$w AS (SELECT q_id, vec_id, 1 AS hit FROM (SELECT q_id, vec_id, " +
          s"row_number() OVER (PARTITION BY q_id ORDER BY s$w DESC, vec_id) " +
          s"AS rn FROM p) t WHERE rn <= 10)"
      }.mkString(", ")
      val unions = widths.map { w =>
        s"SELECT $w AS width, tf.q_id, count(*) AS n_truth, " +
          s"CAST(sum(coalesce(t$w.hit, 0)) AS BIGINT) AS n_overlap, " +
          s"CAST((sum(coalesce(t$w.hit, 0)) * 10000) // count(*) AS BIGINT) " +
          s"AS recall_bp FROM tf LEFT JOIN t$w USING (q_id, vec_id) GROUP BY 2"
      }.mkString(" UNION ALL ")
      "WITH qs AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings " +
        "WHERE vec_id IN (0, 50, 100, 150, 200)), " +
        s"p AS MATERIALIZED (SELECT q.q_id, e.vec_id, $simCols " +
        "FROM embeddings e, qs q WHERE e.vec_id != q.q_id), " +
        "tf AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY sf DESC, vec_id) " +
        s"AS rn FROM p) t WHERE rn <= 10), $perWidth " +
        s"SELECT CAST(width AS INT) AS width, q_id, n_truth, n_overlap, " +
        s"recall_bp FROM ($unions) u"
    },
    // variance ranking replayed exactly (HUGEINT n·Σq² − (Σq)²), then
    // the matryoshka eval shape over the selected-dim comprehension
    "embedding_dim_select_eval" -> {
      def dSel(x: String, y: String): String =
        s"list_sum([CAST(CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE) " +
          "AS DECIMAL(18,16)) FOR i IN l])"
      def dFull(x: String, y: String, ln: String): String =
        s"list_sum([CAST(CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE) " +
          s"AS DECIMAL(18,16)) FOR i IN generate_series(1, len($ln))])"
      def cosFull(e: String, q: String): String =
        s"round(CAST(${dFull(e, q, e)} AS DOUBLE) / " +
          s"(sqrt(CAST(${dFull(e, e, e)} AS DOUBLE)) * " +
          s"sqrt(CAST(${dFull(q, q, q)} AS DOUBLE))), 6)"
      def cosSel(e: String, q: String): String =
        s"round(CAST(${dSel(e, q)} AS DOUBLE) / " +
          s"(sqrt(CAST(${dSel(e, e)} AS DOUBLE)) * " +
          s"sqrt(CAST(${dSel(q, q)} AS DOUBLE))), 6)"
      "WITH dims AS (SELECT unnest([{'dim': i - 1, " +
        "'q': CAST(round(CAST(embedding[i] AS DOUBLE) * 10000, 0) AS BIGINT)} " +
        "FOR i IN generate_series(1, len(embedding))], recursive := true) " +
        "FROM embeddings), " +
        "sc AS (SELECT dim, CAST(count(*) AS HUGEINT) AS n, " +
        "CAST(sum(q) AS HUGEINT) AS sq, " +
        "sum(CAST(q * q AS HUGEINT)) AS sqq FROM dims GROUP BY 1), " +
        "topd AS (SELECT dim FROM sc ORDER BY n * sqq - sq * sq DESC, dim " +
        "LIMIT 16), " +
        "sel AS (SELECT list_sort(list(dim + 1)) AS l FROM topd), " +
        "qs AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings " +
        "WHERE vec_id IN (0, 50, 100, 150, 200)), " +
        "p AS MATERIALIZED (SELECT q.q_id, e.vec_id, " +
        cosFull("e.embedding", "q.qe") + " AS s_full, " +
        cosSel("(e.embedding)", "(q.qe)") + " AS s_sel " +
        "FROM embeddings e, qs q, sel WHERE e.vec_id != q.q_id), " +
        "tf AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY s_full DESC, vec_id) " +
        "AS rn FROM p) t WHERE rn <= 10), " +
        "tp AS (SELECT q_id, vec_id, 1 AS hit FROM (SELECT q_id, vec_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY s_sel DESC, vec_id) " +
        "AS rn FROM p) t WHERE rn <= 10) " +
        "SELECT tf.q_id, count(*) AS n_truth, " +
        "CAST(sum(coalesce(tp.hit, 0)) AS BIGINT) AS n_overlap, " +
        "CAST((sum(coalesce(tp.hit, 0)) * 10000) // count(*) AS BIGINT) " +
        "AS recall_bp FROM tf LEFT JOIN tp USING (q_id, vec_id) GROUP BY 1"
    },
    "cosine_topk_bruteforce" ->
      ("WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
        "prod AS (SELECT e.vec_id, " +
        "list_sum([CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(e.embedding))]) AS dot, " +
        "list_sum([CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(e.embedding))]) AS na, " +
        "list_sum([CAST(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(q.qe))]) AS nq " +
        "FROM embeddings e, q WHERE e.vec_id != 0) " +
        "SELECT vec_id, round(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nq AS DOUBLE))), 6) AS sim " +
        "FROM prod ORDER BY sim DESC, vec_id LIMIT 10"),
    "cosine_topk_lsh_bucket" ->
      ("WITH b AS (SELECT vec_id, embedding, " +
        "array_to_string([CASE WHEN x > 0 THEN '1' ELSE '0' END FOR x IN embedding[1:8]], '') AS bucket FROM embeddings), " +
        "q AS (SELECT embedding AS qe, bucket FROM b WHERE vec_id = 0), " +
        "prod AS (SELECT e.vec_id, " +
        "list_sum([CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(e.embedding))]) AS dot, " +
        "list_sum([CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(e.embedding))]) AS na, " +
        "list_sum([CAST(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(q.qe))]) AS nq " +
        "FROM b e JOIN q ON e.bucket = q.bucket WHERE e.vec_id != 0) " +
        "SELECT vec_id, round(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nq AS DOUBLE))), 6) AS sim " +
        "FROM prod ORDER BY sim DESC, vec_id LIMIT 5"),
    "cosine_topk_ivf" ->
      ivfKmeansOracle(nCells = 16, nProbe = 4, iters = 3, k = 10, queryId = 0L,
        trainMod = 4),
    "hard_negatives_topk" ->
      ("WITH q AS (SELECT embedding AS qe, label AS ql FROM embeddings WHERE vec_id = 0), " +
        "prod AS (SELECT e.vec_id, e.label, " +
        "list_sum([CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(e.embedding))]) AS dot, " +
        "list_sum([CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(e.embedding))]) AS na, " +
        "list_sum([CAST(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(q.qe))]) AS nq " +
        "FROM embeddings e, q WHERE e.vec_id != 0 AND e.label != q.ql) " +
        "SELECT vec_id, label, round(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nq AS DOUBLE))), 6) AS sim " +
        "FROM prod ORDER BY sim DESC, vec_id LIMIT 10"),
    "ann_recall_ivf" ->
      annRecallOracle(k = 10, queryMod = -1, nCells = -1, nProbe = 4,
        iters = 2, trainMod = 4),
    "ann_recall_curve_ivf" ->
      annRecallCurveOracle(k = 10, queryMod = -1, nCells = -1,
        probes = Seq(1, 2, 4), iters = 2, trainMod = 4),
    "cluster_balanced_sample" -> clusterBalancedOracle,
    // the index probe path must land on the identical quota
    "cluster_balanced_sample_probe" -> clusterBalancedOracle,
    "cosine_topk_ivfpq_residual" ->
      ivfpqResidualOracle(nCells = 16, nProbe = 4, coarseIters = 2,
        coarseTrainMod = 4, m = 4, subDim = 16, ksub = 16, pqIters = 2,
        pqTrainMod = 4, k = 10, shortK = 50, queryId = 0L),
    "ivf_index_append" -> {
      val iters = 2
      val iterCtes = (1 to iters).map { i =>
        kmDist("train", s"c${i - 1}", s"a${i}d") + ", " +
          kmArgmin(s"a${i}d", s"a$i") + ", " + kmUpdate(s"a$i", s"u$i", s"c$i")
      }.mkString(", ")
      "WITH ex AS (SELECT * FROM embeddings WHERE vec_id % 10 != 0), " +
        "train AS (SELECT * FROM ex WHERE vec_id % 4 = 0), " +
        "c0 AS (SELECT vec_id AS cell_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS c " +
        "FROM train WHERE vec_id < 64), " + iterCtes + ", " +
        "batch AS (SELECT * FROM embeddings WHERE vec_id % 10 = 0), " +
        kmDist("batch", s"c$iters", "bd") + ", " + kmArgmin("bd", "ba") +
        " SELECT vec_id, cell_id FROM ba"
    },
    "embedding_l2_normalize" ->
      ("WITH pts AS (SELECT vec_id, unnest([{'pos': i - 1, 'x': CAST(embedding[i] AS DOUBLE)} " +
        "FOR i IN generate_series(1, len(embedding))], recursive := true) FROM embeddings), " +
        "n AS (SELECT vec_id, sqrt(CAST(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) " +
        "FOR i IN generate_series(1, len(embedding))]) AS DOUBLE)) AS nrm FROM embeddings) " +
        "SELECT pts.vec_id, CAST(pos AS INT) AS pos, " +
        "round(CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END, 6) AS v " +
        "FROM pts JOIN n USING (vec_id)"),
    "embedding_sq8" ->
      ("WITH pts AS (SELECT vec_id, unnest([{'pos': i - 1, 'x': CAST(embedding[i] AS DOUBLE)} " +
        "FOR i IN generate_series(1, len(embedding))], recursive := true) FROM embeddings), " +
        "r AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM pts GROUP BY pos) " +
        "SELECT vec_id, CAST(pos AS INT) AS pos, " +
        "CAST(CASE WHEN mx = mn THEN 0 ELSE least(CAST(floor(" +
        "((x - mn) * 255.0) / (mx - mn)) AS INT), 255) END AS INT) AS code " +
        "FROM pts JOIN r USING (pos)"),
    // 8 unrolled power-iteration rounds over the integer Gram; floor on an
    // exact decimal (no round-half boundary) and // truncation match the
    // engine's BigInt arithmetic bit-for-bit. Every CTE is MATERIALIZED:
    // v_r references u_r twice and u_r references v_{r-1}, so inlining
    // would re-evaluate the chain exponentially in rounds
    "embedding_top_component" ->
      ("WITH c AS MATERIALIZED (SELECT vec_id, unnest([{'i': i - 1, " +
        "'xf': CAST(floor(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,16)) * 1000000) AS HUGEINT)} " +
        "FOR i IN generate_series(1, len(embedding))], recursive := true) FROM embeddings), " +
        "g AS MATERIALIZED (SELECT a.i AS i, b.i AS j, sum(a.xf * b.xf) AS g " +
        "FROM c a JOIN c b ON a.vec_id = b.vec_id GROUP BY 1, 2), " +
        "v0 AS MATERIALIZED (SELECT DISTINCT i AS j, CAST(1000000 AS HUGEINT) AS v FROM g), " +
        (1 to 8).map(r =>
          s"u$r AS MATERIALIZED (SELECT g.i, sum(g.g * v.v) AS u FROM g " +
            s"JOIN v${r - 1} v ON g.j = v.j GROUP BY 1), " +
            s"v$r AS MATERIALIZED (SELECT i AS j, (u * 1000000) // " +
            s"(SELECT max(abs(u)) FROM u$r) AS v FROM u$r)").mkString(", ") +
        " SELECT CAST(j AS INT) AS dim, CAST(v AS BIGINT) AS v_ppm FROM v8"),
    "embedding_rproj" ->
      ("WITH sg AS (SELECT j, i, CASE WHEN ('0x' || substr(md5('rp-' || " +
        "CAST(j AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 4))::INT % 2 = 1 " +
        "THEN 1 ELSE -1 END AS s " +
        "FROM generate_series(0, 15) g1(j) CROSS JOIN generate_series(0, 63) g2(i)), " +
        "px AS (SELECT vec_id, unnest([{'i': i - 1, " +
        "'xd': CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,16))} " +
        "FOR i IN generate_series(1, len(embedding))], recursive := true) FROM embeddings) " +
        "SELECT vec_id, CAST(j AS INT) AS pos, " +
        "round(CAST(sum(CASE WHEN s = 1 THEN xd ELSE -xd END) AS DOUBLE), 6) AS v " +
        "FROM px JOIN sg ON px.i = sg.i GROUP BY vec_id, j"),
    "embedding_label_drift" ->
      ("WITH uo AS (SELECT label, unnest([{'pos': i - 1, 'v': CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,16))} " +
        "FOR i IN generate_series(1, len(embedding))], recursive := true) " +
        "FROM embeddings WHERE vec_id % 4 != 3), " +
        "un AS (SELECT label, unnest([{'pos': i - 1, 'v': CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,16))} " +
        "FOR i IN generate_series(1, len(embedding))], recursive := true) " +
        "FROM embeddings WHERE vec_id % 4 != 1), " +
        "o AS (SELECT label, CAST(pos AS INT) AS pos, " +
        "round(CAST(sum(v) AS DOUBLE) / count(*), 9) AS v, count(*) AS n " +
        "FROM uo GROUP BY label, pos), " +
        "nn AS (SELECT label, CAST(pos AS INT) AS pos, " +
        "round(CAST(sum(v) AS DOUBLE) / count(*), 9) AS v, count(*) AS n " +
        "FROM un GROUP BY label, pos) " +
        "SELECT coalesce(o.label, nn.label) AS label, " +
        "coalesce(o.pos, nn.pos) AS pos, " +
        "CAST(coalesce(o.n, 0) AS BIGINT) AS n_old, " +
        "CAST(coalesce(nn.n, 0) AS BIGINT) AS n_new, " +
        "o.v AS v_old, nn.v AS v_new, round(o.v - nn.v, 9) AS drift " +
        "FROM o FULL OUTER JOIN nn ON o.label = nn.label AND o.pos = nn.pos"),
    "label_centroids" ->
      ("WITH u AS (SELECT label, unnest([{'pos': i - 1, 'v': CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,16))} " +
        "FOR i IN generate_series(1, len(embedding))], recursive := true) FROM embeddings) " +
        "SELECT label, CAST(pos AS INT) AS pos, " +
        "round(CAST(sum(v) AS DOUBLE) / count(*), 9) AS v, " +
        "count(*) AS n_vectors FROM u GROUP BY label, pos"),
    // both pool rankings restated (BM25 chain at LIMIT 50, cosine chain at
    // LIMIT 50), then the integer RRF fusion over the full outer join
    "hybrid_search_rrf" ->
      ("WITH stats AS (SELECT count(*) AS n_docs, " +
        "sum(len(string_split(text, ' '))) AS sum_dl FROM documents), " +
        "occ AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, " +
        "unnest(string_split(text, ' ')) AS tk FROM documents), " +
        "tf AS (SELECT doc_id, dl, tk, count(*) AS tf FROM occ " +
        "WHERE tk IN ('spark', 'quantile', 'vector') GROUP BY 1, 2, 3), " +
        "dft AS (SELECT tk, count(*) AS df FROM tf GROUP BY tk), " +
        "w AS (SELECT doc_id, CAST(round(CAST((1000000 * n_docs) // df AS DOUBLE) * " +
        "((tf * 2.2) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * " +
        "(dl / (CAST(sum_dl AS DOUBLE) / n_docs))))), 6) AS DECIMAL(18,6)) AS w " +
        "FROM tf JOIN dft USING (tk), stats), " +
        "txt AS (SELECT doc_id, CAST(score_dec AS DOUBLE) AS score FROM " +
        "(SELECT doc_id, CAST(sum(w) AS DECIMAL(38,6)) AS score_dec " +
        "FROM w GROUP BY doc_id ORDER BY score_dec DESC, doc_id LIMIT 50) t), " +
        "tr AS (SELECT doc_id, CAST(row_number() OVER " +
        "(ORDER BY score DESC, doc_id) AS INT) AS r_text FROM txt), " +
        "q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
        "prod AS (SELECT e.vec_id, " +
        "list_sum([CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(e.embedding))]) AS dot, " +
        "list_sum([CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(e.embedding))]) AS na, " +
        "list_sum([CAST(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(q.qe))]) AS nq " +
        "FROM embeddings e, q WHERE e.vec_id != 0), " +
        "vecr AS (SELECT vec_id, round(CAST(dot AS DOUBLE) / " +
        "(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nq AS DOUBLE))), 6) AS sim " +
        "FROM prod ORDER BY sim DESC, vec_id LIMIT 50), " +
        "vr AS (SELECT vec_id, CAST(row_number() OVER " +
        "(ORDER BY sim DESC, vec_id) AS INT) AS r_vec FROM vecr), " +
        "f AS (SELECT coalesce(tr.doc_id, vr.vec_id) AS id, r_text, r_vec " +
        "FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.vec_id) " +
        "SELECT id, CAST(coalesce(r_text, 0) AS INT) AS bm25_rank, " +
        "CAST(coalesce(r_vec, 0) AS INT) AS cosine_rank, " +
        "CAST(coalesce(1000000 // (60 + r_text), 0) + " +
        "coalesce(1000000 // (60 + r_vec), 0) AS BIGINT) AS rrf_fp " +
        "FROM f ORDER BY rrf_fp DESC, id LIMIT 10"),
    "maxsim_label_scores" ->
      ("WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings " +
        "WHERE label = 0 AND vec_id % 10 = 0), " +
        "d AS (SELECT vec_id, label, embedding FROM embeddings WHERE label != 0), " +
        "dots AS (SELECT d.label, q.q_id, " +
        "list_sum([CAST(floor(CAST(d.embedding[i] AS DOUBLE) * 1000) AS BIGINT) * " +
        "CAST(floor(CAST(q.qe[i] AS DOUBLE) * 1000) AS BIGINT) " +
        "FOR i IN generate_series(1, len(d.embedding))]) AS dot FROM d, q), " +
        "mx AS (SELECT label, q_id, max(dot) AS mx FROM dots GROUP BY 1, 2) " +
        "SELECT label, count(*) AS n_query_vecs, " +
        "CAST(sum(mx) AS BIGINT) AS maxsim_score FROM mx GROUP BY label"),
    // exact integer dot products (HUGEINT mirrors Spark's DECIMAL(38,0));
    // the cos image is the same fixed sequence of IEEE ops both engines run
    "label_centroid_similarity" ->
      ("WITH q AS (SELECT label, u.pos AS pos, u.xi AS xi FROM " +
        "(SELECT label, unnest([struct_pack(pos := i, " +
        "xi := CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000000) AS BIGINT)) " +
        "FOR i IN generate_series(1, len(embedding))]) AS u FROM embeddings) x), " +
        "sums AS (SELECT label, pos, sum(xi) AS s, count(*) AS n FROM q GROUP BY 1, 2), " +
        "self AS (SELECT label, sum(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS dd, " +
        "max(n) AS n FROM sums GROUP BY 1), " +
        "pair AS (SELECT a.label AS label_a, b.label AS label_b, " +
        "sum(CAST(a.s AS HUGEINT) * CAST(b.s AS HUGEINT)) AS dab " +
        "FROM sums a JOIN sums b ON a.pos = b.pos AND a.label < b.label GROUP BY 1, 2) " +
        "SELECT label_a, label_b, CAST(sa.n AS BIGINT) AS n_a, " +
        "CAST(sb.n AS BIGINT) AS n_b, " +
        "CAST(dab AS DOUBLE) / (sqrt(CAST(sa.dd AS DOUBLE)) * " +
        "sqrt(CAST(sb.dd AS DOUBLE))) AS cos " +
        "FROM pair JOIN self sa ON pair.label_a = sa.label " +
        "JOIN self sb ON pair.label_b = sb.label"),
    "embedding_outliers" ->
      ("WITH q AS (SELECT vec_id, label, u.pos AS pos, u.xi AS xi FROM " +
        "(SELECT vec_id, label, unnest([struct_pack(pos := i, " +
        "xi := CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000000) AS BIGINT)) " +
        "FOR i IN generate_series(1, len(embedding))]) AS u FROM embeddings) x), " +
        "cent AS (SELECT label, pos, sum(xi) AS s, count(*) AS n FROM q GROUP BY 1, 2), " +
        "d AS (SELECT q.vec_id, q.label, " +
        "sum(CAST(cent.n * q.xi - cent.s AS HUGEINT) * " +
        "CAST(cent.n * q.xi - cent.s AS HUGEINT)) AS d2n2h " +
        "FROM q JOIN cent ON q.label = cent.label AND q.pos = cent.pos GROUP BY 1, 2), " +
        "r AS (SELECT label, vec_id, d2n2h, row_number() OVER " +
        "(PARTITION BY label ORDER BY d2n2h DESC, vec_id) AS rk FROM d) " +
        "SELECT label, vec_id, CAST(d2n2h AS DOUBLE) AS d2n2 FROM r WHERE rk <= 5"),
    "cosine_topk_lsh_multiprobe" ->
      ("WITH b AS (SELECT vec_id, embedding, " +
        "array_to_string([CASE WHEN x > 0 THEN '1' ELSE '0' END FOR x IN embedding[1:8]], '') AS bucket FROM embeddings), " +
        "q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0), " +
        "probes AS (SELECT DISTINCT unnest(list_append(" +
        "[substr(qb, 1, i - 1) || (CASE WHEN substr(qb, i, 1) = '1' THEN '0' ELSE '1' END) || substr(qb, i + 1) " +
        "FOR i IN generate_series(1, 8)], qb)) AS bucket FROM q), " +
        "prod AS (SELECT e.vec_id, " +
        "list_sum([CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(e.embedding))]) AS dot, " +
        "list_sum([CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(e.embedding))]) AS na, " +
        "list_sum([CAST(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(q.qe))]) AS nq " +
        "FROM b e JOIN probes p ON e.bucket = p.bucket, q WHERE e.vec_id != 0) " +
        "SELECT vec_id, round(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nq AS DOUBLE))), 6) AS sim " +
        "FROM prod ORDER BY sim DESC, vec_id LIMIT 10"),
    "dedup_embedding_cosine" ->
      ("WITH " + cosinePairCtes + " SELECT id_a, id_b, sim FROM cpairs"),
    // replays the engine exactly: sign-LSH bucket equi-join between the
    // two language sides, decimal-exact cosine in fixed point, top-4
    // candidate-neighbor sums per side, integer ratio margin, mutual-best
    "bitext_margin_pairs" ->
      ("WITH l AS (SELECT e.vec_id, d.lang, e.embedding FROM embeddings e " +
        "JOIN documents d ON d.doc_id = e.vec_id WHERE d.lang IN ('en', 'es')), " +
        // adaptive cut width, same integer rule as the Spark side:
        // bitlength(n/8) clamped to [8,16] via length(bin(x))
        "nbv AS (SELECT least(greatest(length(bin(greatest(" +
        "count(*) // 8, 1))), 8), 16) AS nb FROM l), " +
        "bk AS (SELECT vec_id, lang, embedding, " +
        "array_to_string([CASE WHEN x > 0 THEN '1' ELSE '0' END " +
        "FOR x IN embedding[1:nb]], '') AS bucket FROM l, nbv), " +
        "c0 AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b, " +
        "a.embedding AS ea, c.embedding AS eb " +
        "FROM bk a JOIN bk c ON a.bucket = c.bucket " +
        "AND a.lang = 'en' AND c.lang = 'es'), " +
        "cs AS (SELECT id_a, id_b, CAST(round(round(" +
        "CAST(list_sum([CAST(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(ea))]) AS DOUBLE) / " +
        "(sqrt(CAST(list_sum([CAST(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(ea))]) AS DOUBLE)) * " +
        "sqrt(CAST(list_sum([CAST(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE) AS DECIMAL(18,16)) FOR i IN generate_series(1, len(eb))]) AS DOUBLE))" +
        "), 6) * 1000000, 0) AS BIGINT) AS sim_fp FROM c0), " +
        "cand AS (SELECT * FROM cs WHERE sim_fp > 0), " +
        "ra AS (SELECT id_a, id_b, sim_fp, row_number() OVER " +
        "(PARTITION BY id_a ORDER BY sim_fp DESC, id_b) AS rk FROM cand), " +
        "sa AS (SELECT id_a, sum(sim_fp) AS sum_a, count(*) AS cnt_a " +
        "FROM ra WHERE rk <= 4 GROUP BY 1), " +
        "rb AS (SELECT id_a, id_b, sim_fp, row_number() OVER " +
        "(PARTITION BY id_b ORDER BY sim_fp DESC, id_a) AS rk FROM cand), " +
        "sb AS (SELECT id_b, sum(sim_fp) AS sum_b, count(*) AS cnt_b " +
        "FROM rb WHERE rk <= 4 GROUP BY 1), " +
        "sc AS (SELECT c.id_a, c.id_b, c.sim_fp, " +
        "(2 * c.sim_fp * cnt_a * cnt_b * 10000) // (sum_a * cnt_b + sum_b * cnt_a) AS margin_bp " +
        "FROM cand c JOIN sa USING (id_a) JOIN sb USING (id_b)), " +
        "f AS (SELECT *, row_number() OVER " +
        "(PARTITION BY id_a ORDER BY margin_bp DESC, id_b) AS rf FROM sc), " +
        "g AS (SELECT id_a, id_b, row_number() OVER " +
        "(PARTITION BY id_b ORDER BY margin_bp DESC, id_a) AS rg FROM sc) " +
        "SELECT f.id_a AS doc_a, f.id_b AS doc_b, f.sim_fp, " +
        "CAST(f.margin_bp AS BIGINT) AS margin_bp " +
        "FROM f JOIN g ON f.id_a = g.id_a AND f.id_b = g.id_b " +
        "WHERE f.rf = 1 AND g.rg = 1 AND f.margin_bp >= 10000"),
    "text_token_count" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens " +
        "FROM documents"),
    "text_token_count_regex" ->
      ("SELECT doc_id, " +
        "CAST(len(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), x -> x != '')) AS BIGINT) AS n_tokens_re, " +
        "CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), x -> x != ''))) AS BIGINT) AS n_distinct_re " +
        "FROM documents"),
    "text_quality" ->
      ("SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m, " +
        "CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letters, " +
        "CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 400 THEN 1 ELSE 0 END AS quality_flag " +
        "FROM documents"),
    "text_lang_id" ->
      ("SELECT doc_id, CASE WHEN 10 * len(list_filter(string_split(text, ' '), " +
        "x -> x IN ('the', 'a', 'of', 'and'))) >= len(string_split(text, ' ')) " +
        "THEN 'en' ELSE 'unk' END AS lang_pred FROM documents"),
    "langid_confusion" ->
      ("SELECT lang AS lang_actual, CASE WHEN 10 * len(list_filter(" +
        "string_split(text, ' '), x -> x IN ('the', 'a', 'of', 'and'))) " +
        ">= len(string_split(text, ' ')) THEN 'en' ELSE 'unk' END AS lang_pred, " +
        "count(*) AS n FROM documents GROUP BY 1, 2"),
    "text_repetition" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "uni AS (SELECT doc_id, t, count(*) AS n FROM (SELECT doc_id, unnest(w) AS t FROM toks) u GROUP BY doc_id, t), " +
        "us AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens, max(n) AS top_token_n FROM uni GROUP BY doc_id), " +
        "bg AS (SELECT doc_id, g, count(*) AS n FROM (SELECT doc_id, " +
        "unnest([w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]) AS g FROM toks) u GROUP BY doc_id, g), " +
        "bs AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_2grams, " +
        "CAST(sum(n) - count(*) AS BIGINT) AS n_dup_2grams FROM bg GROUP BY doc_id) " +
        "SELECT us.doc_id, n_tokens, top_token_n, coalesce(n_2grams, 0) AS n_2grams, " +
        "coalesce(n_dup_2grams, 0) AS n_dup_2grams FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id"),
    "cooccurrence_topk" ->
      ("WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents), " +
        "p AS (SELECT unnest(flatten([[{'center': w[i], 'context': w[i + d]} " +
        "FOR d IN [1, 2] IF i + d <= len(w)] " +
        "FOR i IN generate_series(1, len(w))]), recursive := true) FROM toks) " +
        "SELECT center, context, count(*) AS n FROM p GROUP BY 1, 2 " +
        "ORDER BY n DESC, center, context LIMIT 25"),
    "text_vocab_topk" ->
      ("SELECT token, count(*) AS n FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) u " +
        "GROUP BY token ORDER BY n DESC, token LIMIT 25"),
    "text_trigram_topk" ->
      ("SELECT s AS trigram, count(*) AS n FROM " +
        "(SELECT unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
        "FOR i IN generate_series(1, len(w)-2)]) AS s FROM " +
        "(SELECT string_split(text, ' ') AS w FROM documents) t) u " +
        "GROUP BY s ORDER BY n DESC, trigram LIMIT 25"),
    "text_length_histogram" ->
      ("SELECT CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket, " +
        "count(*) AS n FROM documents GROUP BY 1"),
    // the same md5 bucket/sign draws replayed in SQL: bucket from the
    // first 6 hex chars, sign from the 7th's parity
    "text_feature_hashing" ->
      ("WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tk " +
        "FROM documents), " +
        "f AS (SELECT source, tk, " +
        "('0x' || substr(md5(tk), 1, 6))::BIGINT % 32 AS bucket, " +
        "CASE WHEN ('0x' || substr(md5(tk), 7, 1))::BIGINT % 2 = 0 " +
        "THEN 1 ELSE -1 END AS sgn FROM tk WHERE tk != '') " +
        "SELECT source, CAST(bucket AS BIGINT) AS bucket, " +
        "CAST(sum(sgn) AS BIGINT) AS feat, count(*) AS n_terms, " +
        "CAST(count(DISTINCT tk) AS BIGINT) AS n_distinct_terms " +
        "FROM f GROUP BY 1, 2"),
    // same segment partition + md5 offset draws; span length is the
    // constant 3, so only (doc, span, start) needs checking
    "span_corruption_masks" ->
      ("WITH d AS (SELECT doc_id, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "e AS (SELECT doc_id, n_tokens, " +
        "greatest(1, (n_tokens + 10) // 20) AS n_spans FROM d " +
        "WHERE n_tokens >= 3), " +
        "s AS (SELECT doc_id, n_tokens, n_tokens // n_spans AS seg_len, " +
        "unnest(generate_series(0, n_spans - 1)) AS span_idx FROM e) " +
        "SELECT doc_id, span_idx, span_idx * seg_len + " +
        "(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || " +
        "CAST(span_idx AS VARCHAR)), 1, 6))::BIGINT % (seg_len - 2)) " +
        "AS start_pos, n_tokens FROM s"),
    "stratified_sample_docs" ->
      ("SELECT * FROM documents WHERE CASE WHEN lang = 'en' " +
        "THEN doc_id % 2 = 0 ELSE doc_id % 5 = 0 END"),
    "doc_pack_by_source" ->
      ("SELECT doc_id, source, CAST(floor(cum / 2048.0) AS BIGINT) AS pack_id " +
        "FROM (SELECT doc_id, source, " +
        "sum(len(string_split(text, ' '))) OVER (PARTITION BY source " +
        "ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM documents) t"),
    // the sequential next-fit fold replayed as a recursive CTE stepping
    // one document per source per iteration — same state machine
    "doc_pack_nextfit" ->
      ("WITH RECURSIVE t AS (SELECT doc_id, source, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n, " +
        "row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn " +
        "FROM documents), " +
        "p AS (SELECT doc_id, source, n, rn, CAST(0 AS BIGINT) AS bin, " +
        "CAST(0 AS BIGINT) AS boff, n AS used FROM t WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT t.doc_id, t.source, t.n, t.rn, " +
        "CASE WHEN p.used > 0 AND p.used + t.n > 2048 THEN p.bin + 1 ELSE p.bin END, " +
        "CASE WHEN p.used > 0 AND p.used + t.n > 2048 THEN 0 ELSE p.used END, " +
        "CASE WHEN p.used > 0 AND p.used + t.n > 2048 THEN t.n ELSE p.used + t.n END " +
        "FROM p JOIN t ON t.source = p.source AND t.rn = p.rn + 1) " +
        "SELECT doc_id, source, bin, boff AS off_tokens FROM p"),
    "contamination_scan" ->
      ("SELECT pattern, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs " +
        "FROM documents, (VALUES ('scan'), ('window'), ('quantile'), " +
        "('zzz_never_present')) pats(pattern) " +
        "WHERE position(pattern IN text) > 0 GROUP BY pattern"),
    "exact_distinct_bitmap" ->
      ("SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts, " +
        "count(*) AS n_rows FROM lineitem"),
    "events_tumbling" ->
      ("SELECT CAST(date_part('epoch', date_trunc('hour', ts)) AS BIGINT) AS hour_ts, " +
        "event_type, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM events GROUP BY 1, 2"),
    "events_sliding" ->
      ("SELECT ws, event_type, count(*) AS n FROM " +
        "(SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900 - k * 900 AS ws, event_type " +
        "FROM events, (SELECT unnest(generate_series(0, 3)) AS k) offs) sub " +
        "GROUP BY 1, 2"),
    "events_session" ->
      ("WITH o AS (SELECT user_id, ts, value, CASE WHEN ts - lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk FROM events), " +
        "s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM o) " +
        "SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start, " +
        "count(*) AS n_events, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM s GROUP BY user_id, sid"),
    // epoch-ns island windows + fixed-offset cap slicing, tie-broken on
    // (ts, event_id) like the engine
    "events_session_capped" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts, value FROM events), " +
        "l AS (SELECT user_id, event_id, ts, value, " +
        "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL " +
        "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000000 " +
        "THEN 1 ELSE 0 END AS ni FROM e), " +
        "i AS (SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS island FROM l), " +
        "st AS (SELECT *, min(ts) OVER (PARTITION BY user_id, island) AS island_start FROM i) " +
        "SELECT user_id, CAST(island AS BIGINT) AS island, " +
        "CAST((ts - island_start) // 7200000000000 AS BIGINT) AS slice, " +
        "count(*) AS n_events, CAST(min(ts) // 1000 AS BIGINT) AS session_start_us, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM st GROUP BY 1, 2, 3"),
    "events_rank_lag" ->
      ("SELECT event_id, user_id, CAST(row_number() OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn, " +
        "lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event " +
        "FROM events"),
    "events_ewma" -> {
      def lagQ(j: Int) = if (j == 0) "q" else s"lag(q, $j) OVER w"
      val weighted = (0 until 16)
        .map(j => s"coalesce(${lagQ(j)}, 0) * ${1L << (15 - j)}").mkString(" + ")
      val wTot = (0 until 16)
        .map(j => s"CASE WHEN ${lagQ(j)} IS NOT NULL THEN ${1L << (15 - j)} ELSE 0 END")
        .mkString(" + ")
      "WITH qv AS (SELECT event_id, user_id, ts, " +
        "CAST(floor(value * 1000) AS BIGINT) AS q FROM events), " +
        s"l AS (SELECT event_id, user_id, $weighted AS ewma_scaled, " +
        s"$wTot AS w_tot FROM qv " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
        "SELECT event_id, user_id, CAST(ewma_scaled AS BIGINT) AS ewma_scaled, " +
        "CAST(ewma_scaled AS DOUBLE) / CAST(w_tot * 1000 AS DOUBLE) AS ewma FROM l"
    },
    "events_anomaly_ewma" -> {
      def lagQ(j: Int) = if (j == 0) "q" else s"lag(q, $j) OVER w"
      val weighted = (0 until 16)
        .map(j => s"coalesce(${lagQ(j)}, 0) * ${1L << (15 - j)}").mkString(" + ")
      val wTot = (0 until 16)
        .map(j => s"CASE WHEN ${lagQ(j)} IS NOT NULL THEN ${1L << (15 - j)} ELSE 0 END")
        .mkString(" + ")
      "WITH qv AS (SELECT event_id, user_id, ts, " +
        "CAST(floor(value * 1000) AS BIGINT) AS q FROM events), " +
        s"l AS (SELECT event_id, user_id, ts, q, $weighted AS ws, $wTot AS wt FROM qv " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "p AS (SELECT event_id, user_id, q, lag(ws) OVER w2 AS pws, " +
        "lag(wt) OVER w2 AS pwt FROM l " +
        "WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
        "SELECT event_id, user_id, q, pws, pwt, " +
        "CASE WHEN q * pwt > 4 * pws THEN 'burst' ELSE 'drop' END AS kind " +
        "FROM p WHERE pws IS NOT NULL " +
        "AND (q * pwt > 4 * pws OR 4 * q * pwt < pws)"
    },
    "privacy_kanon_customer" ->
      ("SELECT c_nationkey, c_mktsegment, " +
        "CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band, " +
        "count(*) AS k, CAST(count(*) < 5 AS INT) AS below " +
        "FROM customer GROUP BY 1, 2, 3"),
    "privacy_generalization_ladder" ->
      ("WITH b AS (SELECT c_nationkey AS qi0, c_mktsegment AS qi1, " +
        "CAST(floor(c_acctbal / 1000) AS BIGINT) AS band_fine, " +
        "CAST(floor(c_acctbal / 5000) AS BIGINT) AS band_coarse FROM customer), " +
        "f AS (SELECT qi0, qi1, band_fine, band_coarse, count(*) AS k_fine " +
        "FROM b GROUP BY 1, 2, 3, 4), " +
        "c AS (SELECT qi0, qi1, band_coarse, count(*) AS k_coarse " +
        "FROM b GROUP BY 1, 2, 3) " +
        "SELECT f.qi0, f.qi1, f.band_fine, f.k_fine, c.k_coarse " +
        "FROM f JOIN c USING (qi0, qi1, band_coarse)"),
    "privacy_ldiversity_orders" ->
      ("SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS yr, " +
        "count(*) AS k, CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS l, " +
        "CAST(count(DISTINCT o_orderstatus) < 2 AS INT) AS low_diversity " +
        "FROM orders GROUP BY 1, 2"),
    "privacy_pseudonymize_customer" ->
      ("SELECT c_custkey, 'Customer#' || " +
        "substr(md5('pepper1-' || CAST(c_custkey AS VARCHAR)), 1, 12) AS pseud_name, " +
        "CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band FROM customer"),
    // ordered EMD per segment vs global, all integer cross-multiplication;
    // the dense 10-bin grid makes missing bins real cumulative steps
    "privacy_tcloseness_customer" ->
      ("WITH b AS (SELECT c_mktsegment AS qi_group, " +
        "CAST(least(greatest((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) " +
        "+ 100000) // 110000, 0), 9) AS INT) AS bin FROM customer), " +
        "g AS (SELECT qi_group, count(*) AS n_g FROM b GROUP BY 1), " +
        "bins AS (SELECT unnest(generate_series(0, 9)) AS bin), " +
        "cell AS (SELECT qi_group, bin, count(*) AS c FROM b GROUP BY 1, 2), " +
        "grid AS (SELECT g.qi_group, g.n_g, bins.bin, coalesce(cell.c, 0) AS c " +
        "FROM g CROSS JOIN bins LEFT JOIN cell " +
        "ON cell.qi_group = g.qi_group AND cell.bin = bins.bin), " +
        "gt AS (SELECT bins.bin, coalesce(x.cg, 0) AS cg FROM bins " +
        "LEFT JOIN (SELECT bin, count(*) AS cg FROM b GROUP BY 1) x USING (bin)), " +
        "gc AS (SELECT bin, sum(cg) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) " +
        "AS cum_all FROM gt), " +
        "nn AS (SELECT count(*) AS n_all FROM b), " +
        "cum AS (SELECT qi_group, n_g, bin, sum(c) OVER " +
        "(PARTITION BY qi_group ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_g " +
        "FROM grid), " +
        "s AS (SELECT qi_group, any_value(n_g) AS n, any_value(n_all) AS n_all, " +
        "sum(abs(CAST(cum_g AS HUGEINT) * n_all - CAST(cum_all AS HUGEINT) * n_g)) " +
        "AS sad FROM cum JOIN gc USING (bin), nn GROUP BY 1) " +
        "SELECT qi_group, CAST(n AS BIGINT) AS n, " +
        "CAST((10000::HUGEINT * sad) // (CAST(n AS HUGEINT) * n_all * 9) AS BIGINT) " +
        "AS emd_bp, " +
        "CAST(CASE WHEN (10000::HUGEINT * sad) // (CAST(n AS HUGEINT) * n_all * 9) " +
        "> 2000 THEN 1 ELSE 0 END AS INT) AS t_violation FROM s"),
    "events_window_dedup" ->
      ("WITH m AS (SELECT event_id, user_id, event_type, ts, " +
        "CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER w <= 300000000000 " +
        "THEN 0 ELSE 1 END AS is_start FROM events " +
        "WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)), " +
        "b AS (SELECT *, sum(is_start) OVER " +
        "(PARTITION BY user_id, event_type ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS burst FROM m) " +
        "SELECT max(CASE WHEN is_start = 1 THEN event_id END) AS kept_event_id, " +
        "user_id, event_type, CAST(count(*) - 1 AS BIGINT) AS n_dropped " +
        "FROM b GROUP BY user_id, event_type, burst"),
    "events_autocorr" ->
      ("WITH e AS (SELECT event_type, " +
        "epoch_ns(ts) // 3600000000000 AS hr FROM events), " +
        "cnt AS (SELECT event_type, hr, count(*) AS c FROM e GROUP BY 1, 2), " +
        "rng AS (SELECT event_type, min(hr) AS mn, max(hr) AS mx " +
        "FROM cnt GROUP BY 1), " +
        "hrs AS (SELECT event_type, unnest(generate_series(mn, mx)) AS hr " +
        "FROM rng), " +
        "dense AS (SELECT h.event_type, h.hr, coalesce(c.c, 0) AS c " +
        "FROM hrs h LEFT JOIN cnt c " +
        "ON c.event_type = h.event_type AND c.hr = h.hr), " +
        "led AS MATERIALIZED (SELECT event_type, c AS c0, " +
        "lead(c, 1) OVER w AS c1, lead(c, 2) OVER w AS c2, " +
        "lead(c, 3) OVER w AS c3 FROM dense " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY hr)), " +
        "lg AS (SELECT event_type, 1 AS lag_k, c0, c1 AS ck FROM led " +
        "WHERE c1 IS NOT NULL " +
        "UNION ALL SELECT event_type, 2, c0, c2 FROM led WHERE c2 IS NOT NULL " +
        "UNION ALL SELECT event_type, 3, c0, c3 FROM led WHERE c3 IS NOT NULL), " +
        "m AS (SELECT event_type, lag_k, count(*) AS n_pairs, " +
        "sum(c0) AS sx, sum(ck) AS sy, sum(c0 * c0) AS sxx, " +
        "sum(ck * ck) AS syy, sum(c0 * ck) AS sxy FROM lg GROUP BY 1, 2), " +
        "f AS (SELECT event_type, lag_k, n_pairs, " +
        "CAST(n_pairs * sxy - sx * sy AS HUGEINT) AS num, " +
        "CAST(n_pairs * sxx - sx * sx AS HUGEINT) AS da, " +
        "CAST(n_pairs * syy - sy * sy AS HUGEINT) AS db FROM m) " +
        "SELECT event_type, CAST(lag_k AS INT) AS lag_k, " +
        "CAST(n_pairs AS BIGINT) AS n_pairs, " +
        "CAST(CASE WHEN da = 0 OR db = 0 THEN 0 WHEN num < 0 THEN " +
        "-((1000000::HUGEINT * num * num) // (da * db)) " +
        "ELSE (1000000::HUGEINT * num * num) // (da * db) END AS BIGINT) " +
        "AS r2_signed_ppm FROM f"),
    // Benford constants are the same nine ppm literals the Spark side
    // carries; shares are exact integer div of the positive-cents counts
    "events_benford" ->
      ("WITH d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) " +
        "AS digit FROM (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "AS cents FROM events) t WHERE cents > 0), " +
        "c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1), " +
        "tt AS (SELECT sum(n) AS n_total FROM c), " +
        "b AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS digit, " +
        "unnest([301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]) " +
        "AS bf) " +
        "SELECT c.digit, CAST(c.n AS BIGINT) AS n, " +
        "CAST((1000000 * c.n) // n_total AS BIGINT) AS share_ppm, " +
        "CAST(bf AS BIGINT) AS benford_ppm, " +
        "CAST(abs((1000000 * c.n) // n_total - bf) AS BIGINT) AS dev_ppm " +
        "FROM c JOIN b USING (digit), tt"),
    // same dense zero-filled hourly series as events_autocorr; a peak is
    // a strict two-sided local maximum (endpoints have no neighborhood)
    "events_peak_hours" ->
      ("WITH e AS (SELECT event_type, " +
        "epoch_ns(ts) // 3600000000000 AS hr FROM events), " +
        "cnt AS (SELECT event_type, hr, count(*) AS c FROM e GROUP BY 1, 2), " +
        "rng AS (SELECT event_type, min(hr) AS mn, max(hr) AS mx " +
        "FROM cnt GROUP BY 1), " +
        "hrs AS (SELECT event_type, unnest(generate_series(mn, mx)) AS hr " +
        "FROM rng), " +
        "dense AS (SELECT h.event_type, h.hr, coalesce(c.c, 0) AS c " +
        "FROM hrs h LEFT JOIN cnt c " +
        "ON c.event_type = h.event_type AND c.hr = h.hr), " +
        "l AS (SELECT event_type, hr, c, lag(c) OVER w AS prev, " +
        "lead(c) OVER w AS next FROM dense " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY hr)) " +
        "SELECT event_type, CAST(hr AS BIGINT) AS hr, CAST(c AS BIGINT) AS c, " +
        "CAST(prev AS BIGINT) AS prev, CAST(next AS BIGINT) AS next FROM l " +
        "WHERE prev IS NOT NULL AND next IS NOT NULL " +
        "AND c > prev AND c > next"),
    "events_dau_mau" ->
      ("WITH e AS (SELECT epoch_ns(ts) // 86400000000000 AS day, user_id " +
        "FROM events), " +
        "m AS (SELECT day // 30 AS mo, day, user_id FROM e), " +
        "d AS (SELECT mo, day, count(DISTINCT user_id) AS dau FROM m " +
        "GROUP BY 1, 2), " +
        "dm AS (SELECT mo, count(*) AS n_days, sum(dau) AS sum_dau FROM d " +
        "GROUP BY 1), " +
        "ma AS (SELECT mo, count(DISTINCT user_id) AS mau FROM m GROUP BY 1) " +
        "SELECT dm.mo AS mo, CAST(n_days AS BIGINT) AS n_days, " +
        "CAST(mau AS BIGINT) AS mau, CAST(sum_dau AS BIGINT) AS sum_dau, " +
        "CAST((sum_dau * 10000) // (n_days * mau) AS BIGINT) AS stickiness_bp " +
        "FROM dm JOIN ma USING (mo)"),
    // same dense day grid; medians are exact half-integer percentiles on
    // doubled values, flag by integer comparison (no division)
    "events_daily_anomaly_robust" ->
      ("WITH e AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day " +
        "FROM events), " +
        "cnt AS (SELECT event_type, day, count(*) AS c FROM e GROUP BY 1, 2), " +
        "rng AS (SELECT event_type, min(day) AS mn, max(day) AS mx " +
        "FROM cnt GROUP BY 1), " +
        "ds AS (SELECT event_type, unnest(generate_series(mn, mx)) AS day " +
        "FROM rng), " +
        "dense AS (SELECT d.event_type, d.day, coalesce(c.c, 0) AS c " +
        "FROM ds d LEFT JOIN cnt c " +
        "ON c.event_type = d.event_type AND c.day = d.day), " +
        "md AS (SELECT event_type, " +
        "CAST(round(2 * quantile_cont(c, 0.5), 0) AS BIGINT) AS med2 " +
        "FROM dense GROUP BY 1), " +
        "dev AS (SELECT dense.event_type, day, c, med2, " +
        "abs(2 * c - med2) AS absdev2 FROM dense JOIN md USING (event_type)), " +
        "mad AS (SELECT event_type, " +
        "CAST(round(quantile_cont(absdev2, 0.5), 0) AS BIGINT) AS mad2 " +
        "FROM dev GROUP BY 1) " +
        "SELECT dev.event_type, CAST(day AS BIGINT) AS day, " +
        "CAST(c AS BIGINT) AS c, med2, mad2 FROM dev JOIN mad USING (event_type) " +
        "WHERE absdev2 > 3 * mad2"),
    "events_interarrival_bands" ->
      ("WITH g AS (SELECT event_type, " +
        "(epoch_ns(ts) - lag(epoch_ns(ts)) OVER " +
        "(PARTITION BY user_id, event_type ORDER BY ts, event_id)) " +
        "// 1000000000 AS gap_s FROM events), " +
        "b AS (SELECT event_type, " +
        "CAST(length(bin(gap_s + 1)) - 1 AS INT) AS band, gap_s FROM g " +
        "WHERE gap_s IS NOT NULL) " +
        "SELECT event_type, band, count(*) AS n, " +
        "CAST(min(gap_s) AS BIGINT) AS min_s, " +
        "CAST(max(gap_s) AS BIGINT) AS max_s FROM b GROUP BY 1, 2"),
    "events_uplift_by_segment" ->
      ("WITH u AS (SELECT user_id, " +
        "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted, " +
        "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm " +
        "FROM events GROUP BY user_id), " +
        "j AS (SELECT c.c_mktsegment AS segment, u.arm, u.converted " +
        "FROM u JOIN customer c ON u.user_id = c.c_custkey), " +
        "g AS (SELECT segment, " +
        "sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_t, " +
        "sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_c, " +
        "sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS conv_t, " +
        "sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS conv_c " +
        "FROM j GROUP BY 1) " +
        "SELECT segment, CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c, " +
        "CAST(conv_t AS BIGINT) AS conv_t, CAST(conv_c AS BIGINT) AS conv_c, " +
        "CAST((conv_t * 10000) // (CASE WHEN n_t = 0 THEN 1 ELSE n_t END) " +
        "AS BIGINT) AS rate_t_bp, " +
        "CAST((conv_c * 10000) // (CASE WHEN n_c = 0 THEN 1 ELSE n_c END) " +
        "AS BIGINT) AS rate_c_bp, " +
        "CAST((conv_t * 10000) // (CASE WHEN n_t = 0 THEN 1 ELSE n_t END) - " +
        "(conv_c * 10000) // (CASE WHEN n_c = 0 THEN 1 ELSE n_c END) " +
        "AS BIGINT) AS uplift_bp FROM g"),
    // exact midpoint split from a one-row aggregate; TakeOrdered with a
    // full tie-break mirrors the LIMIT
    "events_heavy_changers" ->
      ("WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tn FROM events), " +
        "m AS (SELECT (min(tn) + max(tn)) // 2 AS mid FROM e), " +
        "c AS (SELECT user_id, event_type, " +
        "sum(CASE WHEN tn < mid THEN 1 ELSE 0 END) AS n1, " +
        "sum(CASE WHEN tn >= mid THEN 1 ELSE 0 END) AS n2 " +
        "FROM e, m GROUP BY 1, 2) " +
        "SELECT user_id, event_type, CAST(n1 AS BIGINT) AS n1, " +
        "CAST(n2 AS BIGINT) AS n2, CAST(n2 - n1 AS BIGINT) AS delta, " +
        "CAST((n2 * 10000) // greatest(1, n1) AS BIGINT) AS ratio_bp " +
        "FROM c ORDER BY abs(n2 - n1) DESC, user_id, event_type LIMIT 25"),
    // frozen Poisson(1) CDF thresholds in 16^6ths; md5('boot-b:day')
    // inverse-CDF weights, identical in both engines
    "events_bootstrap_ci" ->
      ("WITH d AS (SELECT epoch_ns(ts) // 86400000000000 AS day, " +
        "CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) " +
        "AS day_cents FROM events WHERE event_type = 'purchase' GROUP BY 1), " +
        "r AS (SELECT day, day_cents, unnest(generate_series(0, 31)) AS rep FROM d), " +
        "u AS (SELECT rep, day_cents, ('0x' || substr(md5('boot-' || " +
        "CAST(rep AS VARCHAR) || ':' || CAST(day AS VARCHAR)), 1, 6))::BIGINT AS u " +
        "FROM r), " +
        "ww AS (SELECT rep, day_cents, CASE WHEN u < 6171992 THEN 0 " +
        "WHEN u < 12343985 THEN 1 WHEN u < 15429982 THEN 2 " +
        "WHEN u < 16458647 THEN 3 WHEN u < 16715813 THEN 4 " +
        "WHEN u < 16767247 THEN 5 WHEN u < 16775819 THEN 6 ELSE 7 END AS w " +
        "FROM u), " +
        "a AS (SELECT rep, sum(w) AS sum_w, sum(w * day_cents) AS w_cents " +
        "FROM ww GROUP BY 1) " +
        "SELECT CAST(rep AS BIGINT) AS rep, CAST(sum_w AS BIGINT) AS sum_w, " +
        "CAST(CASE WHEN sum_w = 0 THEN 0 ELSE w_cents // sum_w END AS BIGINT) " +
        "AS boot_mean_cents FROM a"),
    "events_rolling_7day" ->
      ("WITH d AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, " +
        "CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) " +
        "AS day_cents FROM events GROUP BY 1, 2) " +
        "SELECT event_type, CAST(day AS BIGINT) AS day, day_cents, " +
        "CAST(sum(day_cents) OVER (PARTITION BY event_type ORDER BY day " +
        "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS rolling7_cents FROM d"),
    "events_audience_overlap" ->
      ("WITH u AS (SELECT DISTINCT event_type, user_id FROM events), " +
        "sz AS (SELECT event_type, count(*) AS n FROM u GROUP BY 1), " +
        "iv AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "count(*) AS n_both FROM u a JOIN u b " +
        "ON a.user_id = b.user_id AND a.event_type < b.event_type " +
        "GROUP BY 1, 2) " +
        "SELECT type_a, type_b, CAST(sa.n AS BIGINT) AS n_a, " +
        "CAST(sb.n AS BIGINT) AS n_b, CAST(n_both AS BIGINT) AS n_both, " +
        "CAST((n_both * 10000) // (sa.n + sb.n - n_both) AS BIGINT) " +
        "AS jaccard_bp FROM iv " +
        "JOIN sz sa ON iv.type_a = sa.event_type " +
        "JOIN sz sb ON iv.type_b = sb.event_type"),
    // the merge must equal the direct full recompute — stated directly
    "ivm_topk_maintain" ->
      ("WITH e AS (SELECT event_type, event_id, " +
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents " +
        "FROM events), " +
        "r AS (SELECT event_type, event_id, cents, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY cents DESC, event_id) AS rn FROM e) " +
        "SELECT event_type, event_id, cents FROM r WHERE rn <= 5"),
    // the pivot stated as conditional aggregation — ANSI-expressible, so
    // the hash checks every cell of the hour x type matrix
    "events_pivot_hourly" ->
      ("SELECT (epoch_ns(ts) // 3600000000000) % 24 AS hod, " +
        Seq("click", "error", "purchase", "signup", "view").map(ty =>
          s"CAST(sum(CASE WHEN event_type = '$ty' THEN 1 ELSE 0 END) AS BIGINT) AS $ty")
          .mkString(", ") +
        " FROM events GROUP BY 1"),
    "events_transitions" ->
      ("WITH o AS (SELECT user_id, event_type AS to_type, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type " +
        "FROM events) " +
        "SELECT from_type, to_type, count(*) AS n, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM o WHERE from_type IS NOT NULL GROUP BY from_type, to_type"),
    "events_covariance" ->
      ("WITH m AS (SELECT event_type, " +
        "CAST(round(value * 1000, 0) AS BIGINT) AS x, " +
        "(epoch_ns(ts) // 3600000000000) % 24 AS y FROM events), " +
        "a AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy, " +
        "sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy " +
        "FROM m GROUP BY 1) " +
        "SELECT event_type, n, CAST(sx AS BIGINT) AS sx, " +
        "CAST(sy AS BIGINT) AS sy, CAST(sxy AS BIGINT) AS sxy, " +
        "CAST(sxx AS BIGINT) AS sxx, CAST(syy AS BIGINT) AS syy, " +
        "CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS cov_num, " +
        "CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS var_x_num, " +
        "CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS var_y_num " +
        "FROM a"),
    "ivm_distinct_delta" ->
      ("WITH e AS (SELECT event_type, user_id, " +
        "epoch_ns(ts) // 86400000000000 AS day FROM events), " +
        "bp AS (SELECT DISTINCT event_type, user_id FROM e WHERE day % 10 < 8), " +
        "dp AS (SELECT DISTINCT event_type, user_id FROM e WHERE day % 10 >= 8), " +
        "o AS (SELECT event_type, count(*) AS old_distinct FROM bp GROUP BY 1), " +
        "a AS (SELECT event_type, count(*) AS added_distinct FROM dp " +
        "WHERE NOT EXISTS (SELECT 1 FROM bp WHERE bp.event_type = dp.event_type " +
        "AND bp.user_id = dp.user_id) GROUP BY 1) " +
        "SELECT event_type, " +
        "CAST(coalesce(old_distinct, 0) AS BIGINT) AS old_distinct, " +
        "CAST(coalesce(added_distinct, 0) AS BIGINT) AS added_distinct, " +
        "CAST(coalesce(old_distinct, 0) + coalesce(added_distinct, 0) AS BIGINT) " +
        "AS new_distinct FROM o FULL OUTER JOIN a USING (event_type)"),
    "events_survival_hazard" ->
      ("WITH sp AS (SELECT user_id, min(epoch_ns(ts) // 86400000000000) AS fd, " +
        "max(epoch_ns(ts) // 86400000000000) AS ld FROM events GROUP BY 1), " +
        "bd AS (SELECT min(fd) AS g0, max(ld) AS gm FROM sp), " +
        "wc AS (SELECT user_id, fd, ld, " +
        "CASE WHEN ld < gm THEN 1 ELSE 0 END AS churned FROM sp, bd), " +
        "st AS (SELECT fd AS day, count(*) AS n_start FROM wc GROUP BY 1), " +
        "en AS (SELECT ld AS day, count(*) AS n_end, sum(churned) AS n_churn " +
        "FROM wc GROUP BY 1), " +
        "grid AS (SELECT unnest(generate_series(g0, gm)) AS day FROM bd), " +
        "d AS (SELECT g.day, coalesce(n_start, 0) AS n_start, " +
        "coalesce(n_end, 0) AS n_end, coalesce(n_churn, 0) AS n_churn " +
        "FROM grid g LEFT JOIN st USING (day) LEFT JOIN en USING (day)), " +
        "r AS (SELECT day, n_churn, " +
        "sum(n_start) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) - " +
        "coalesce(sum(n_end) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND 1 PRECEDING), 0) AS n_risk FROM d), " +
        "h AS (SELECT day, n_risk, n_churn, CASE WHEN n_risk = 0 THEN 0 " +
        "ELSE (n_churn * 1000000) // n_risk END AS hazard_ppm FROM r) " +
        "SELECT CAST(day AS BIGINT) AS day, CAST(n_risk AS BIGINT) AS n_risk, " +
        "CAST(n_churn AS BIGINT) AS n_churn, " +
        "CAST(hazard_ppm AS BIGINT) AS hazard_ppm, " +
        "CAST(sum(hazard_ppm) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS cum_hazard_ppm FROM h"),
    "events_props_schema" ->
      ("WITH b AS (SELECT event_id, user_id, " +
        "CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS amt, " +
        "json_extract_string(props, '$.k') AS kstr, props FROM events), " +
        "e AS (SELECT CASE CAST(event_id % 3 AS INT) " +
        "WHEN 0 THEN '{\"k\": ' || kstr || ', \"amt\": \"' || amt || '\"}' " +
        "WHEN 1 THEN '{\"k\": ' || kstr || ', \"tag\": \"t' || " +
        "CAST(user_id % 5 AS VARCHAR) || '\", \"flag\": ' || " +
        "(CASE WHEN user_id % 2 = 0 THEN 'true' ELSE 'false' END) || '}' " +
        "ELSE props END AS eprops FROM b), " +
        "kv AS (SELECT unnest(json_keys(eprops)) AS key, eprops FROM e), " +
        "v AS (SELECT key, json_extract_string(eprops, '$.' || key) AS val " +
        "FROM kv), " +
        "tot AS (SELECT count(*) AS total FROM e), " +
        "p AS (SELECT key, count(*) AS n_present, " +
        "count(DISTINCT val) AS n_distinct, " +
        "sum(CASE WHEN regexp_matches(val, '^-?[0-9]+$') THEN 1 ELSE 0 END) AS n_int, " +
        "sum(CASE WHEN regexp_matches(val, '^-?[0-9]+\\.[0-9]+$') THEN 1 ELSE 0 END) AS n_float, " +
        "sum(CASE WHEN val IN ('true', 'false') THEN 1 ELSE 0 END) AS n_bool " +
        "FROM v GROUP BY 1) " +
        "SELECT key, CAST(n_present AS BIGINT) AS n_present, " +
        "CAST((n_present * 10000) // total AS BIGINT) AS coverage_bp, " +
        "CAST(n_distinct AS BIGINT) AS n_distinct, " +
        "CAST(n_int AS BIGINT) AS n_int, CAST(n_float AS BIGINT) AS n_float, " +
        "CAST(n_bool AS BIGINT) AS n_bool, " +
        "CAST(n_present - n_int - n_float - n_bool AS BIGINT) AS n_str " +
        "FROM p, tot"),
    "events_bandit_replay" ->
      ("WITH e AS (SELECT " +
        "('0x' || substr(md5('log-' || CAST(event_id AS VARCHAR)), 1, 6))::BIGINT % 3 AS arm_log, " +
        "('0x' || substr(md5('tgt-' || CAST(user_id AS VARCHAR)), 1, 6))::BIGINT % 3 AS arm_hash, " +
        "CASE WHEN event_type = 'purchase' " +
        "THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END AS rw " +
        "FROM events), " +
        "r AS (SELECT 'logged' AS policy, count(*) AS n_total, " +
        "count(*) AS n_matched, sum(rw) AS rc FROM e " +
        "UNION ALL SELECT 'hash_by_user', count(*), " +
        "sum(CASE WHEN arm_log = arm_hash THEN 1 ELSE 0 END), " +
        "sum(CASE WHEN arm_log = arm_hash THEN rw ELSE 0 END) FROM e " +
        "UNION ALL SELECT 'fixed_arm0', count(*), " +
        "sum(CASE WHEN arm_log = 0 THEN 1 ELSE 0 END), " +
        "sum(CASE WHEN arm_log = 0 THEN rw ELSE 0 END) FROM e) " +
        "SELECT policy, CAST(n_total AS BIGINT) AS n_total, " +
        "CAST(n_matched AS BIGINT) AS n_matched, " +
        "CAST((n_matched * 10000) // n_total AS BIGINT) AS match_bp, " +
        "CAST(CASE WHEN n_matched = 0 THEN 0 ELSE rc // n_matched END " +
        "AS BIGINT) AS mean_reward_cents FROM r"),
    "events_mde_power" ->
      ("WITH u AS (SELECT DISTINCT event_type, user_id FROM events), " +
        "na AS (SELECT count(DISTINCT user_id) AS n_users FROM u), " +
        "t AS (SELECT event_type, count(*) AS n_t FROM u GROUP BY 1), " +
        "m AS (SELECT event_type, n_users, greatest(1, n_users // 2) AS n_arm, " +
        "(n_t * 1000000) // n_users AS p_ppm FROM t, na), " +
        "r AS (SELECT event_type, n_users, n_arm, p_ppm, " +
        "CAST((CAST(7848851 AS HUGEINT) * 2 * p_ppm * (1000000 - p_ppm)) // " +
        "(1000000 * n_arm) AS BIGINT) AS mde2 FROM m), " +
        "s AS (SELECT *, CAST(floor(sqrt(CAST(mde2 AS DOUBLE))) AS BIGINT) " +
        "AS s0 FROM r) " +
        "SELECT event_type, CAST(n_users AS BIGINT) AS n_users, " +
        "CAST(n_arm AS BIGINT) AS n_arm, CAST(p_ppm AS BIGINT) AS p_ppm, " +
        "CAST(CASE WHEN (s0 + 1) * (s0 + 1) <= mde2 THEN s0 + 1 " +
        "WHEN s0 * s0 > mde2 THEN s0 - 1 ELSE s0 END AS BIGINT) AS mde_ppm " +
        "FROM s"),
    "events_sprt_monitor" ->
      ("WITH e AS (SELECT epoch_ns(ts) // 86400000000000 AS day, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS sc " +
        "FROM events), " +
        "d AS (SELECT day, count(*) AS n, sum(sc) AS s FROM e GROUP BY 1), " +
        "rng AS (SELECT min(day) AS mn, max(day) AS mx FROM d), " +
        "g AS (SELECT unnest(generate_series(mn, mx)) AS day FROM rng), " +
        "f AS (SELECT g.day, coalesce(n, 0) AS n, coalesce(s, 0) AS s " +
        "FROM g LEFT JOIN d USING (day)), " +
        "c AS (SELECT day, n, s, " +
        "sum(s * 223144 - (n - s) * 64539) OVER (ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr FROM f) " +
        "SELECT CAST(day AS BIGINT) AS day, CAST(n AS BIGINT) AS n, " +
        "CAST(s AS BIGINT) AS s, CAST(llr AS BIGINT) AS llr_micro, " +
        "CAST(CASE WHEN llr >= 2944439 THEN 1 " +
        "WHEN llr <= -2944439 THEN -1 ELSE 0 END AS INT) AS decision " +
        "FROM c"),
    "events_winsorized_metric" ->
      ("WITH u AS (SELECT user_id, " +
        "sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1), " +
        "cap AS (SELECT CAST(round(quantile_cont(cents, 0.95) * 20) " +
        "AS BIGINT) AS cap_x20 FROM u) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_users, " +
        "CAST(CASE WHEN count(*) = 0 THEN 0 " +
        "ELSE (sum(cents) * 1000) // count(*) END AS BIGINT) AS mean_milli, " +
        "CAST(CASE WHEN count(*) = 0 THEN 0 " +
        "ELSE (sum(least(cents * 20, cap_x20)) * 50) // count(*) END " +
        "AS BIGINT) AS win_mean_milli, " +
        "CAST(coalesce(first(cap_x20), 0) AS BIGINT) AS cap_x20 " +
        "FROM u, cap"),
    "events_ratio_jackknife" ->
      ("WITH per AS (SELECT " +
        "('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 6))::BIGINT % 16 " +
        "AS bucket, count(*) AS nb, " +
        "sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS sb " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1), " +
        "tot AS (SELECT sum(nb) AS n, sum(sb) AS s FROM per) " +
        "SELECT CAST(bucket AS BIGINT) AS bucket, CAST(nb AS BIGINT) AS nb, " +
        "CAST(sb AS BIGINT) AS sb, " +
        "CAST((s * 1000) // n AS BIGINT) AS r_full_milli, " +
        "CAST(CASE WHEN n = nb THEN 0 " +
        "ELSE ((s - sb) * 1000) // (n - nb) END AS BIGINT) AS r_loo_milli, " +
        "CAST(CASE WHEN n = nb THEN 0 - (s * 1000) // n " +
        "ELSE ((s - sb) * 1000) // (n - nb) - (s * 1000) // n END " +
        "AS BIGINT) AS d_milli " +
        "FROM per, tot"),
    // the oracle is the NAIVE overlap theta-join; the engine's bucketed
    // fragmentation must reproduce it exactly
    "events_interval_overlap_join" ->
      ("WITH sp AS (SELECT user_id, " +
        "min(epoch_ns(ts) // 86400000000000) AS us, " +
        "max(epoch_ns(ts) // 86400000000000) AS ue FROM events GROUP BY 1), " +
        "o AS (SELECT min(us) AS g0 FROM sp), " +
        "s2 AS (SELECT user_id, us - g0 AS rs, ue - g0 AS re FROM sp, o), " +
        "c AS (SELECT c AS campaign_id, 7 * c AS cs, 7 * c + 13 AS ce " +
        "FROM (SELECT unnest(generate_series(0, 11)) AS c)) " +
        "SELECT user_id, CAST(campaign_id AS BIGINT) AS campaign_id, " +
        "CAST(least(re, ce) - greatest(rs, cs) + 1 AS BIGINT) AS overlap_days " +
        "FROM s2 JOIN c ON rs <= ce AND cs <= re"),
    "events_forecast_eval" ->
      ("WITH d AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, " +
        "CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) " +
        "AS cents FROM events GROUP BY 1, 2), " +
        "rng AS (SELECT event_type, min(day) AS mn, max(day) AS mx " +
        "FROM d GROUP BY 1), " +
        "ds AS (SELECT event_type, mx, unnest(generate_series(mn, mx)) AS day " +
        "FROM rng), " +
        "dn AS (SELECT ds.event_type, ds.day, ds.mx, coalesce(cents, 0) AS cents " +
        "FROM ds LEFT JOIN d ON d.event_type = ds.event_type AND d.day = ds.day), " +
        "f AS (SELECT event_type, day, mx, cents, lag(cents, 7) OVER " +
        "(PARTITION BY event_type ORDER BY day) AS fc FROM dn), " +
        "e AS (SELECT event_type, abs(cents - fc) AS ae, " +
        "(abs(cents - fc) * 10000) // greatest(1, cents) AS ape FROM f " +
        "WHERE day > mx - 14 AND fc IS NOT NULL) " +
        "SELECT event_type, count(*) AS n_eval, " +
        "CAST(sum(ae) // count(*) AS BIGINT) AS mae_cents, " +
        "CAST(sum(ape) // count(*) AS BIGINT) AS mape_bp FROM e GROUP BY 1"),
    "events_theil_sen" ->
      ("WITH e AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day " +
        "FROM events), " +
        "cnt AS (SELECT event_type, day, count(*) AS c FROM e GROUP BY 1, 2), " +
        "rng AS (SELECT event_type, min(day) AS mn, max(day) AS mx " +
        "FROM cnt GROUP BY 1), " +
        "ds AS (SELECT event_type, unnest(generate_series(mn, mx)) AS day " +
        "FROM rng), " +
        "dense AS (SELECT d.event_type, d.day, coalesce(c.c, 0) AS c " +
        "FROM ds d LEFT JOIN cnt c ON c.event_type = d.event_type " +
        "AND c.day = d.day), " +
        "p AS (SELECT a.event_type, " +
        "((b.c - a.c) * 1000) // (b.day - a.day) AS slope_milli, " +
        "a.day AS da, b.day AS db FROM dense a JOIN dense b " +
        "ON a.event_type = b.event_type AND a.day < b.day) " +
        "SELECT event_type, CAST(max(db) - min(da) + 1 AS BIGINT) AS n_days, " +
        "count(*) AS n_pairs, " +
        "CAST(round(2 * quantile_cont(slope_milli, 0.5), 0) AS BIGINT) " +
        "AS slope2_milli FROM p GROUP BY 1"),
    "ivm_agg_merge" ->
      // postcondition: the merged state IS the direct aggregate over the
      // full table — not a replay of the split/merge machinery
      ("SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS yr, " +
        "count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) " +
        "AS total_cents FROM orders GROUP BY 1, 2"),
    "ivm_join_delta" ->
      // postcondition: the delta rows are exactly the full-join rows NOT
      // present in base⋈base — stated directly, not a replay of the legs
      ("SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, " +
        "l.l_quantity, o.o_totalprice " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE (o.o_orderkey % 10 = 7 AND l.l_linenumber < 5) " +
        "OR l.l_linenumber >= 5"),
    "events_markov_eval" ->
      ("WITH s AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS tsn " +
        "FROM events), " +
        "r AS (SELECT user_id, event_id, event_type, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS rk, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS prev_type, " +
        "count(*) OVER (PARTITION BY user_id) AS n FROM s), " +
        "p AS (SELECT * FROM r WHERE prev_type IS NOT NULL), " +
        "tr AS (SELECT prev_type, event_type, count(*) AS c FROM p " +
        "WHERE rk * 10 <= n * 8 GROUP BY 1, 2), " +
        "md AS (SELECT prev_type, event_type AS pred_type FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY prev_type " +
        "ORDER BY c DESC, event_type) AS rr FROM tr) q WHERE rr = 1), " +
        "te AS (SELECT p.prev_type, p.event_type, md.pred_type FROM p " +
        "LEFT JOIN md USING (prev_type) WHERE p.rk * 10 > p.n * 8) " +
        "SELECT prev_type, count(*) AS n_test, " +
        "CAST(sum(CASE WHEN pred_type = event_type THEN 1 ELSE 0 END) AS BIGINT) AS n_correct, " +
        "CAST((sum(CASE WHEN pred_type = event_type THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT) AS acc_bp " +
        "FROM te GROUP BY 1"),
    "events_cusum_shift" ->
      ("WITH s AS (SELECT event_type, event_id, epoch_ns(ts) AS tsn, " +
        "CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT) AS v " +
        "FROM events), " +
        "r AS (SELECT event_type, event_id, v, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY tsn, event_id) AS t, " +
        "sum(v) OVER (PARTITION BY event_type ORDER BY tsn, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS p, " +
        "count(*) OVER (PARTITION BY event_type) AS n, " +
        "sum(v) OVER (PARTITION BY event_type) AS ptot FROM s), " +
        "st AS (SELECT event_type, event_id, t, n, " +
        "abs(p * n - t * ptot) AS stat FROM r), " +
        "b AS (SELECT *, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY stat DESC, t) AS rk FROM st) " +
        "SELECT event_type, CAST(n AS BIGINT) AS n, " +
        "CAST(stat AS BIGINT) AS stat_max, event_id AS shift_event_id, " +
        "CAST(t AS BIGINT) AS shift_t FROM b WHERE rk = 1"),
    "events_funnel_paths" ->
      ("WITH o AS (SELECT user_id, event_type AS step1, " +
        "lead(event_type, 1) OVER w AS step2, " +
        "lead(event_type, 2) OVER w AS step3 FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
        "SELECT step1, step2, step3, count(*) AS n, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM o WHERE step2 IS NOT NULL AND step3 IS NOT NULL " +
        "GROUP BY 1, 2, 3 ORDER BY n DESC, step1, step2, step3 LIMIT 20"),
    "cdc_merge_apply" ->
      // direct statement of the MERGE postcondition (NOT a replay of the
      // engine's join): %20==0 keys are deleted by the later batch, every
      // other even key carries the upsert's 'X' status image (including
      // %4==0 inserts absent from the snapshot), odd keys pass through
      ("SELECT o_orderkey, o_custkey, " +
        "CASE WHEN o_orderkey % 2 = 0 THEN 'X' ELSE o_orderstatus END " +
        "AS o_orderstatus, o_totalprice, o_orderdate, o_orderpriority " +
        "FROM orders WHERE o_orderkey % 20 <> 0"),
    "cdc_scd2_history" ->
      // direct statement of the SCD2 postcondition: version 1 (original
      // image) is closed at seq 2 for even keys and current otherwise;
      // version 2 ('X' image, even keys only) is closed at seq 3 by the
      // %20 delete and current otherwise — deleted keys have no current
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(1 AS BIGINT) AS valid_from_seq, " +
        "CAST(CASE WHEN o_orderkey % 2 = 0 THEN 2 END AS BIGINT) " +
        "AS valid_to_seq, " +
        "CAST(CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE 1 END AS INT) " +
        "AS is_current FROM orders " +
        "UNION ALL " +
        "SELECT o_orderkey, o_custkey, 'X', CAST(2 AS BIGINT), " +
        "CAST(CASE WHEN o_orderkey % 20 = 0 THEN 3 END AS BIGINT), " +
        "CAST(CASE WHEN o_orderkey % 20 = 0 THEN 0 ELSE 1 END AS INT) " +
        "FROM orders WHERE o_orderkey % 2 = 0"),
    "events_rate_limited" ->
      // recursive replay of the token-bucket fold, one event per user per
      // iteration (the doc_pack_nextfit oracle pattern): capacity 3, one
      // token per hour, whole-token refills advance the bucket clock
      ("WITH RECURSIVE t AS (SELECT user_id, event_id, epoch_ns(ts) AS tns, " +
        "row_number() OVER (PARTITION BY user_id " +
        "ORDER BY epoch_ns(ts), event_id) AS rn FROM events), " +
        "p AS (SELECT user_id, event_id, tns, rn, " +
        "CAST(2 AS BIGINT) AS tok, tns AS lastn, 1 AS admitted " +
        "FROM t WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT user_id, event_id, tns, rn, " +
        "CASE WHEN tok2 >= 1 THEN tok2 - 1 ELSE tok2 END, last2, " +
        "CASE WHEN tok2 >= 1 THEN 1 ELSE 0 END FROM " +
        "(SELECT t.user_id, t.event_id, t.tns, t.rn, " +
        "least(p.tok + (t.tns - p.lastn) // 3600000000000, 3) AS tok2, " +
        "CASE WHEN p.tok + (t.tns - p.lastn) // 3600000000000 >= 3 " +
        "THEN t.tns ELSE p.lastn + " +
        "((t.tns - p.lastn) // 3600000000000) * 3600000000000 END AS last2 " +
        "FROM p JOIN t ON t.user_id = p.user_id AND t.rn = p.rn + 1) s) " +
        "SELECT user_id, event_id, CAST(admitted AS INT) AS admitted FROM p"),
    "multimodal_gif_frames" ->
      ("WITH p AS (SELECT doc_id, CAST(doc_id % 4 + 2 AS INT) AS k, " +
        "CAST(n_chars % 15 + 1 AS INT) AS w, CAST(doc_id % 9 + 1 AS INT) AS h " +
        "FROM documents) " +
        "SELECT doc_id AS asset_id, k AS n_frames, w AS width, h AS height, " +
        "CAST(list_sum([(doc_id + 37 * f) % 256 " +
        "FOR f IN generate_series(0, k - 1)]) AS BIGINT) AS gray0_sum, " +
        "CAST((doc_id + 37 * (k - 1)) % 256 AS INT) AS gray_last FROM p"),
    // the generator's frame-gray sequence replayed; a cut is a wrap of the
    // (id + 37f) mod 256 walk — Spark reads the grays from real GIF decode
    "multimodal_gif_shot_cuts" ->
      ("WITH f AS (SELECT doc_id AS asset_id, " +
        "unnest(generate_series(0, (doc_id % 4) + 1)) AS frame_idx " +
        "FROM documents), " +
        "g AS (SELECT asset_id, frame_idx, " +
        "CAST((asset_id + 37 * frame_idx) % 256 AS INT) AS gray FROM f), " +
        "l AS (SELECT asset_id, frame_idx, gray, " +
        "lag(gray) OVER (PARTITION BY asset_id ORDER BY frame_idx) AS prev_gray " +
        "FROM g) " +
        "SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx, gray, " +
        "prev_gray, CAST(abs(gray - prev_gray) AS INT) AS delta FROM l " +
        "WHERE prev_gray IS NOT NULL AND abs(gray - prev_gray) >= 128"),
    "bloom_semi_join" ->
      // the Bloom prefilter is an optimization, not a semantics change:
      // the oracle is the PLAIN semi-join it must exactly equal
      ("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "WHERE l_orderkey IN (SELECT o_orderkey FROM orders " +
        "WHERE o_orderpriority = '1-URGENT')"),
    "source_mixture_plan" ->
      // integer-exact temper weight: w = isqrt(n_tokens·10^12) via float
      // sqrt + integer ±1 repair (the negative_samples_unigram pattern),
      // then target = budget·w // Σw in HUGEINT — bit-stable in any engine
      // n_tokens MUST be CAST AS BIGINT: an uncast DuckDB sum() is
      // HUGEINT, which the driver's duckdb .df() fetch renders as
      // float64 ("1435.0") against Spark's int64 ("1435") — the r11/r12
      // driver-only hash-red on this key (SKILL.md §2, pandas-asymmetric)
      ("WITH s AS (SELECT source, " +
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY 1), " +
        "x AS (SELECT source, n_tokens, " +
        "CAST(n_tokens AS HUGEINT) * 1000000000000 AS x FROM s), " +
        "r0 AS (SELECT source, n_tokens, x, " +
        "CAST(floor(sqrt(CAST(x AS DOUBLE))) AS HUGEINT) AS s0 FROM x), " +
        "w AS (SELECT source, n_tokens, " +
        "CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN s0 + 1 " +
        "WHEN s0 * s0 > x THEN s0 - 1 ELSE s0 END AS w FROM r0), " +
        "t AS (SELECT sum(w) AS sw, sum(n_tokens) AS tt FROM w), " +
        "p AS (SELECT source, n_tokens, " +
        "CAST((1000000 * w) // sw AS BIGINT) AS target_tokens, tt FROM w, t) " +
        "SELECT source, n_tokens, " +
        "CAST((n_tokens * 10000) // tt AS BIGINT) AS share_nat_bp, " +
        "target_tokens, " +
        "CAST((target_tokens * 10000) // n_tokens AS BIGINT) AS epochs_bp FROM p"),
    "split_leakage_simhash" ->
      ("WITH sp AS (SELECT doc_id, " +
        "CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 < 80 THEN 'train' " +
        "WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 < 90 THEN 'val' " +
        "ELSE 'test' END AS split FROM documents), " +
        s"pr AS (SELECT * FROM (${simhashBruteForceOracle(3)}) q) " +
        "SELECT least(a.split, b.split) AS split_a, " +
        "greatest(a.split, b.split) AS split_b, count(*) AS n_leaked_pairs " +
        "FROM pr JOIN sp a ON pr.id_a = a.doc_id JOIN sp b ON pr.id_b = b.doc_id " +
        "WHERE a.split <> b.split GROUP BY 1, 2"),
    "join_skew_report" ->
      ("WITH l AS (SELECT user_id AS join_key, count(*) AS n_left " +
        "FROM events GROUP BY 1), " +
        "r AS (SELECT o_custkey AS join_key, count(*) AS n_right " +
        "FROM orders GROUP BY 1), " +
        "k AS (SELECT coalesce(l.join_key, r.join_key) AS join_key, " +
        "coalesce(n_left, 0) AS n_left, coalesce(n_right, 0) AS n_right, " +
        "coalesce(n_left, 0) * coalesce(n_right, 0) AS est_rows " +
        "FROM l FULL OUTER JOIN r ON l.join_key = r.join_key), " +
        "t AS (SELECT sum(est_rows) AS total_est FROM k) " +
        "SELECT join_key, n_left, n_right, est_rows, " +
        "CAST(coalesce((est_rows * 10000) // total_est, 0) AS BIGINT) " +
        "AS share_bp FROM k, t " +
        "ORDER BY est_rows DESC, join_key LIMIT 25"),
    "orders_cohort_ltv" ->
      ("WITH o AS (SELECT o_custkey, " +
        "date_part('year', o_orderdate) * 12 + date_part('month', o_orderdate) - 1 AS m, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents " +
        "FROM orders), " +
        "f AS (SELECT o_custkey, min(m) AS cohort_m FROM o GROUP BY 1), " +
        "sz AS (SELECT cohort_m, count(*) AS n_customers FROM f GROUP BY 1), " +
        "r AS (SELECT f.cohort_m, o.m - f.cohort_m AS months_since, " +
        "CAST(sum(cents) AS BIGINT) AS rev_cents FROM o " +
        "JOIN f USING (o_custkey) GROUP BY 1, 2) " +
        "SELECT CAST(r.cohort_m AS BIGINT) AS cohort_m, " +
        "CAST(r.months_since AS BIGINT) AS months_since, " +
        "CAST(sz.n_customers AS BIGINT) AS n_customers, r.rev_cents, " +
        "CAST(sum(rev_cents) OVER (PARTITION BY r.cohort_m " +
        "ORDER BY months_since ROWS UNBOUNDED PRECEDING) AS BIGINT) " +
        "AS cum_rev_cents FROM r JOIN sz USING (cohort_m)"),
    "orders_repeat_rate_cohort" ->
      ("SELECT cohort_year, count(*) AS n_customers, " +
        "CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat, " +
        "CAST((10000 * sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)) " +
        "// count(*) AS BIGINT) AS repeat_bp FROM " +
        "(SELECT o_custkey, CAST(min(year(o_orderdate)) AS INT) AS cohort_year, " +
        "count(*) AS n_orders FROM orders GROUP BY 1) c GROUP BY cohort_year"),
    "events_error_budget_burn" ->
      ("WITH e AS (SELECT epoch_ns(ts) // 3600000000000 AS hr, " +
        "CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS ie FROM events), " +
        "cnt AS (SELECT hr, count(*) AS t, sum(ie) AS er FROM e GROUP BY 1), " +
        "rng AS (SELECT min(hr) AS mn, max(hr) AS mx FROM cnt), " +
        "g AS (SELECT unnest(generate_series(mn, mx)) AS hr FROM rng), " +
        "d AS (SELECT g.hr, coalesce(t, 0) AS t, coalesce(er, 0) AS er " +
        "FROM g LEFT JOIN cnt USING (hr)), " +
        "r AS (SELECT hr, t, er, " +
        "sum(t) OVER (ORDER BY hr RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) " +
        "AS t6, " +
        "sum(er) OVER (ORDER BY hr RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) " +
        "AS e6 FROM d) " +
        "SELECT CAST(hr AS BIGINT) AS hr, CAST(t AS BIGINT) AS t, " +
        "CAST(er AS BIGINT) AS er, " +
        "CAST(CASE WHEN t = 0 THEN 0 ELSE (er * 100000) // t END AS BIGINT) " +
        "AS burn1_milli, " +
        "CAST(CASE WHEN t6 = 0 THEN 0 ELSE (e6 * 100000) // t6 END AS BIGINT) " +
        "AS burn6_milli, " +
        "CAST(CASE WHEN er * 1000 >= 144 * t AND t > 0 THEN 1 ELSE 0 END " +
        "AS INT) AS page_fast, " +
        "CAST(CASE WHEN e6 * 1000 >= 60 * t6 AND t6 > 0 THEN 1 ELSE 0 END " +
        "AS INT) AS ticket_slow FROM r"),
    "events_ab_srm_check" ->
      ("WITH u AS (SELECT DISTINCT event_type, user_id FROM events), " +
        "a AS (SELECT event_type, " +
        "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 " +
        "AS arm FROM u), " +
        "c AS (SELECT event_type, " +
        "sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a, " +
        "sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b FROM a GROUP BY 1) " +
        "SELECT event_type, CAST(n_a AS BIGINT) AS n_a, " +
        "CAST(n_b AS BIGINT) AS n_b, " +
        "CAST(((n_a - n_b) * (n_a - n_b) * 1000) // (n_a + n_b) AS BIGINT) " +
        "AS z2_milli, " +
        "CAST(CASE WHEN (n_a - n_b) * (n_a - n_b) * 10000 >= " +
        "38415 * (n_a + n_b) THEN 1 ELSE 0 END AS INT) AS srm_95, " +
        "CAST(CASE WHEN (n_a - n_b) * (n_a - n_b) * 10000 >= " +
        "66349 * (n_a + n_b) THEN 1 ELSE 0 END AS INT) AS srm_99 FROM c"),
    "events_cuped_adjustment" ->
      ("WITH m AS (SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 " +
        "AS mid FROM events), " +
        "u AS (SELECT user_id, " +
        "CAST(sum(CASE WHEN epoch_ns(ts) < mid THEN " +
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) " +
        "AS HUGEINT) AS x, " +
        "CAST(sum(CASE WHEN epoch_ns(ts) >= mid THEN " +
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) " +
        "AS HUGEINT) AS y, " +
        "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 " +
        "AS arm FROM events, m WHERE event_type = 'purchase' GROUP BY user_id), " +
        "g AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, " +
        "sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM u), " +
        "p AS (SELECT arm, CAST(count(*) AS HUGEINT) AS na, " +
        "sum(x) AS sxa, sum(y) AS sya FROM u GROUP BY 1), " +
        "q AS (SELECT arm, na, sxa, sya, n, sx, sxy, " +
        "n * sxx - sx * sx AS dd, n * sxy - sx * sy AS nt FROM p, g) " +
        "SELECT CAST(arm AS BIGINT) AS arm, CAST(na AS BIGINT) AS n_units, " +
        "CAST(sya // na AS BIGINT) AS raw_mean_cents, " +
        "CAST(CASE WHEN dd = 0 THEN (1000 * sya) // na " +
        "ELSE (1000 * (sya * dd * n - nt * (sxa * n - sx * na))) // " +
        "(na * dd * n) END AS BIGINT) AS cuped_mean_milli, " +
        "CAST(CASE WHEN dd = 0 THEN 0 ELSE (nt * 1000000) // dd END " +
        "AS BIGINT) AS theta_ppm FROM q"),
    "customer_mix_shift_tv" ->
      ("WITH cell AS (SELECT c_nationkey AS grp, c_mktsegment AS cat, " +
        "CAST(count(*) AS HUGEINT) AS c FROM customer GROUP BY 1, 2), " +
        "gt AS (SELECT grp, sum(c) AS tg FROM cell GROUP BY 1), " +
        "ct AS (SELECT cat, sum(c) AS cs FROM cell GROUP BY 1), " +
        "tt AS (SELECT sum(c) AS t FROM cell), " +
        "g AS (SELECT gt.grp, gt.tg, ct.cat, ct.cs, t, coalesce(c, 0) AS c " +
        "FROM gt CROSS JOIN ct CROSS JOIN tt LEFT JOIN cell " +
        "ON cell.grp = gt.grp AND cell.cat = ct.cat) " +
        "SELECT grp, CAST(max(tg) AS BIGINT) AS n_rows, " +
        "CAST((sum(abs(CAST(c AS HUGEINT) * t - cs * tg)) * 10000) // " +
        "(2 * max(tg) * max(t)) AS BIGINT) AS tv_bp FROM g GROUP BY grp"),
    "orders_ks_segments" ->
      ("WITH j AS (SELECT c_mktsegment AS cohort, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS x " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')), " +
        "cnt AS (SELECT x, " +
        "sum(CASE WHEN cohort = 'BUILDING' THEN 1 ELSE 0 END) AS c1, " +
        "sum(CASE WHEN cohort = 'MACHINERY' THEN 1 ELSE 0 END) AS c2 " +
        "FROM j GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(c1) AS HUGEINT) AS n1, " +
        "CAST(sum(c2) AS HUGEINT) AS n2 FROM cnt), " +
        "r AS (SELECT CAST(sum(c1) OVER (ORDER BY x ROWS UNBOUNDED " +
        "PRECEDING) AS HUGEINT) AS f1, CAST(sum(c2) OVER (ORDER BY x " +
        "ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS f2 FROM cnt), " +
        "m AS (SELECT max(abs(f1 * n2 - f2 * n1)) AS m, max(n1) AS n1, " +
        "max(n2) AS n2 FROM r, tot) " +
        "SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2, " +
        "CAST((m * 1000000) // (n1 * n2) AS BIGINT) AS d_ppm, " +
        "CAST(CASE WHEN m * m >= (1844164 * (n1 + n2) * n1 * n2) // 1000000 " +
        "THEN 1 ELSE 0 END AS INT) AS reject_95 FROM m"),
    "lineitem_discount_elasticity" ->
      ("WITH b AS (SELECT p_brand, " +
        "CAST(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "AS HUGEINT) AS x, " +
        "CAST(CAST(l_quantity AS BIGINT) AS HUGEINT) AS y " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey), " +
        "s AS (SELECT p_brand, CAST(count(*) AS HUGEINT) AS n, " +
        "sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx " +
        "FROM b GROUP BY 1) " +
        "SELECT p_brand, CAST(n AS BIGINT) AS n, " +
        "CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0 " +
        "WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END AS INT) AS slope_sign, " +
        "CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0 " +
        "ELSE (abs(n * sxy - sx * sy) * 1000000000000) // " +
        "(n * sxx - sx * sx) END AS BIGINT) AS slope_abs_pico FROM s"),
    "supplier_revenue_hhi" ->
      ("SELECT count(*) AS n_suppliers, " +
        "CAST((10000 * sum(CAST(x AS HUGEINT) * x)) // " +
        "(sum(CAST(x AS HUGEINT)) * sum(CAST(x AS HUGEINT))) AS BIGINT) AS hhi_bp FROM " +
        "(SELECT l_suppkey, sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x " +
        "FROM lineitem GROUP BY 1) r"),
    // equivalent single-window statement of the distributed prefix scan
    "orders_pareto_abc" ->
      ("WITH rev AS (SELECT l_partkey, " +
        "sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS revenue_cents " +
        "FROM lineitem GROUP BY 1), " +
        "c AS (SELECT l_partkey, revenue_cents, sum(revenue_cents) OVER " +
        "(ORDER BY revenue_cents DESC, l_partkey ROWS UNBOUNDED PRECEDING) AS cum_cents FROM rev), " +
        "t AS (SELECT sum(revenue_cents) AS total FROM rev) " +
        "SELECT l_partkey, CAST(revenue_cents AS BIGINT) AS revenue_cents, " +
        "CAST(cum_cents AS BIGINT) AS cum_cents, " +
        "CASE WHEN cum_cents * 100 <= total * 80 THEN 'A' " +
        "WHEN cum_cents * 100 <= total * 95 THEN 'B' ELSE 'C' END AS abc_class " +
        "FROM c, t"),
    // native ntile() — the engine's two-phase rank must reproduce SQL's
    // remainder rule (first n mod k buckets take the extra row) exactly
    "orders_ntile_buckets" ->
      ("WITH o AS (SELECT o_orderkey, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents " +
        "FROM orders), " +
        "nt AS (SELECT cents, ntile(8) OVER (ORDER BY cents, o_orderkey) AS b " +
        "FROM o) " +
        "SELECT CAST(b AS INT) AS ntile_bucket, count(*) AS n, " +
        "min(cents) AS min_cents, max(cents) AS max_cents, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents FROM nt GROUP BY 1"),
    "basket_pairs_topk" ->
      ("WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "p AS (SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_ab " +
        "FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2), " +
        "f AS (SELECT pk, count(*) AS n_one FROM li GROUP BY 1), " +
        "t AS (SELECT count(DISTINCT ok) AS n_orders FROM li) " +
        "SELECT part_a, part_b, CAST(n_ab AS BIGINT) AS n_ab, " +
        "CAST((n_ab * n_orders * 10000) // (fa.n_one * fb.n_one) AS BIGINT) AS lift_bp " +
        "FROM p JOIN f fa ON p.part_a = fa.pk JOIN f fb ON p.part_b = fb.pk, t " +
        "ORDER BY n_ab DESC, part_a, part_b LIMIT 25"),
    "events_abtest_readout" ->
      ("WITH e AS (SELECT event_type, " +
        "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm, " +
        "CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT) AS v " +
        "FROM events) " +
        "SELECT event_type, " +
        "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN arm = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_cents_a, " +
        "CAST(sum(CASE WHEN arm = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_cents_b, " +
        "CAST(((sum(CASE WHEN arm = 0 THEN v ELSE 0 END) * sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) - " +
        "sum(CASE WHEN arm = 1 THEN v ELSE 0 END) * sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)) * 10000) // " +
        "(sum(CASE WHEN arm = 1 THEN v ELSE 0 END) * sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)) AS BIGINT) AS lift_bp " +
        "FROM e GROUP BY event_type"),
    "fk_discovery_scan" -> {
      val pairs = Seq(
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
        ("orders", "o_orderkey", "part", "p_partkey"),
        ("events", "event_id", "orders", "o_orderkey"))
      pairs.map { case (ct, cc, pt, pc) =>
        s"SELECT '$ct.$cc' AS child, '$pt.$pc' AS parent, " +
          s"(SELECT count(DISTINCT $cc) FROM $ct WHERE $cc IS NOT NULL) AS n_child_distinct, " +
          s"(SELECT count(DISTINCT $cc) FROM $ct WHERE $cc IS NOT NULL " +
          s"AND $cc IN (SELECT $pc FROM $pt WHERE $pc IS NOT NULL)) AS n_matched"
      }.map(q => s"SELECT child, parent, CAST(n_child_distinct AS BIGINT) AS n_child_distinct, " +
        "CAST(n_matched AS BIGINT) AS n_matched, " +
        "CAST((n_matched * 10000) // n_child_distinct AS BIGINT) AS containment_bp, " +
        "CAST(CASE WHEN n_matched = n_child_distinct THEN 1 ELSE 0 END AS INT) AS is_fk_candidate " +
        s"FROM ($q) q").mkString(" UNION ALL ")
    },
    "orders_open_backlog_daily" ->
      ("WITH iv AS (SELECT CAST(o.o_orderdate AS DATE) AS od, " +
        "CAST(l.l_shipdate AS DATE) AS sd " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), " +
        "d AS (SELECT od AS day, CAST(1 AS BIGINT) AS dd FROM iv " +
        "UNION ALL SELECT sd, CAST(-1 AS BIGINT) FROM iv), " +
        "g AS (SELECT day, sum(dd) AS delta FROM d GROUP BY 1) " +
        "SELECT CAST(day AS VARCHAR) AS day, CAST(delta AS BIGINT) AS delta, " +
        "CAST(sum(delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) " +
        "AS open_lines FROM g"),
    "supplier_lead_time" ->
      ("SELECT l_suppkey, count(*) AS n, " +
        "quantile_cont(d, 0.5) AS med_days, " +
        "quantile_cont(d, 0.75) AS p75_days, " +
        "CAST(max(d) AS BIGINT) AS max_days FROM " +
        "(SELECT l_suppkey, CAST(date_diff('day', CAST(o_orderdate AS DATE), " +
        "CAST(l_shipdate AS DATE)) AS BIGINT) AS d " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey) t " +
        "GROUP BY l_suppkey"),
    // quartile thresholds are interpolated over INTEGER metrics at
    // binary-exact fractions (the established percentile/quantile_cont
    // parity class); date_diff mirrors Spark's datediff(end, start)
    "multimodal_riff_chunks" ->
      ("SELECT doc_id AS asset_id, " +
        "CAST(36 + 2 * ((doc_id % 50) + 20) AS BIGINT) AS riff_size, " +
        "CAST(2 AS INT) AS n_chunks, CAST(16 AS BIGINT) AS fmt_size, " +
        "CAST(2 * ((doc_id % 50) + 20) AS BIGINT) AS data_size FROM documents"),
    "orders_rfm_migration" ->
      ("WITH b AS (SELECT min(o_orderdate) AS mind, max(o_orderdate) AS maxd " +
        "FROM orders), " +
        "t AS (SELECT o_custkey, o_totalprice, " +
        "CASE WHEN date_diff('day', mind, o_orderdate) * 2 <= " +
        "date_diff('day', mind, maxd) THEN 1 ELSE 2 END AS h FROM orders, b), " +
        "m1 AS (SELECT o_custkey AS custkey, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS mc " +
        "FROM t WHERE h = 1 GROUP BY 1), " +
        "q1 AS (SELECT quantile_cont(mc, [0.25, 0.5, 0.75]) AS th FROM m1), " +
        "c1 AS (SELECT custkey, 1 + CAST(mc >= th[1] AS INT) + " +
        "CAST(mc >= th[2] AS INT) + CAST(mc >= th[3] AS INT) AS class_h1 " +
        "FROM m1, q1), " +
        "m2 AS (SELECT o_custkey AS custkey, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS mc " +
        "FROM t WHERE h = 2 GROUP BY 1), " +
        "q2 AS (SELECT quantile_cont(mc, [0.25, 0.5, 0.75]) AS th FROM m2), " +
        "c2 AS (SELECT custkey, 1 + CAST(mc >= th[1] AS INT) + " +
        "CAST(mc >= th[2] AS INT) + CAST(mc >= th[3] AS INT) AS class_h2 " +
        "FROM m2, q2), " +
        "j AS (SELECT coalesce(class_h1, 0) AS class_h1, " +
        "coalesce(class_h2, 0) AS class_h2 " +
        "FROM c1 FULL OUTER JOIN c2 ON c1.custkey = c2.custkey) " +
        "SELECT class_h1, class_h2, count(*) AS n_customers " +
        "FROM j GROUP BY 1, 2"),
    "customer_rfm_segments" ->
      ("WITH m AS (SELECT o_custkey AS custkey, max(o_orderdate) AS last_order, " +
        "count(*) AS f, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS m_cents " +
        "FROM orders GROUP BY 1), " +
        "mx AS (SELECT max(o_orderdate) AS maxd FROM orders), " +
        "b AS (SELECT custkey, CAST(date_diff('day', CAST(last_order AS DATE), " +
        "CAST(maxd AS DATE)) AS BIGINT) AS r_days, f, m_cents FROM m, mx), " +
        "th AS (SELECT quantile_cont(r_days, [0.25, 0.5, 0.75]) AS tr, " +
        "quantile_cont(f, [0.25, 0.5, 0.75]) AS tf, " +
        "quantile_cont(m_cents, [0.25, 0.5, 0.75]) AS tm FROM b), " +
        "sc AS (SELECT custkey, r_days, CAST(f AS BIGINT) AS f, m_cents, " +
        "CAST(1 + CASE WHEN r_days <= tr[1] THEN 1 ELSE 0 END + " +
        "CASE WHEN r_days <= tr[2] THEN 1 ELSE 0 END + " +
        "CASE WHEN r_days <= tr[3] THEN 1 ELSE 0 END AS INT) AS score_r, " +
        "CAST(1 + CASE WHEN f >= tf[1] THEN 1 ELSE 0 END + " +
        "CASE WHEN f >= tf[2] THEN 1 ELSE 0 END + " +
        "CASE WHEN f >= tf[3] THEN 1 ELSE 0 END AS INT) AS score_f, " +
        "CAST(1 + CASE WHEN m_cents >= tm[1] THEN 1 ELSE 0 END + " +
        "CASE WHEN m_cents >= tm[2] THEN 1 ELSE 0 END + " +
        "CASE WHEN m_cents >= tm[3] THEN 1 ELSE 0 END AS INT) AS score_m " +
        "FROM b, th) " +
        "SELECT custkey, r_days, f, m_cents, score_r, score_f, score_m, " +
        "(score_r::VARCHAR || score_f::VARCHAR || score_m::VARCHAR) AS segment " +
        "FROM sc"),
    // the salt is internal plumbing; the observable contract is plain-join
    // equality, so the oracle IS the plain join
    "join_skew_salted" ->
      ("SELECT s_nationkey, count(*) AS n, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "GROUP BY s_nationkey"),
    "events_json" ->
      "SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events",
    "events_value_quantiles" ->
      ("SELECT event_type, quantile_cont(value, 0.5) AS med, " +
        "quantile_cont(value, 0.9) AS p90, count(*) AS n " +
        "FROM events GROUP BY event_type"),
    "text_vocab_encode" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "pos AS (SELECT doc_id, w, unnest(generate_series(1, least(len(w), 30))) AS i FROM toks), " +
        "tk AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, w[i] AS tok FROM pos), " +
        "cnt AS (SELECT tok, count(*) AS n FROM tk GROUP BY 1), " +
        "vocab AS (SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS token_id " +
        "FROM (SELECT * FROM cnt ORDER BY n DESC, tok LIMIT 1000)) " +
        "SELECT t.doc_id, t.pos, CAST(coalesce(v.token_id, 0) AS INT) AS token_id " +
        "FROM tk t LEFT JOIN vocab v ON t.tok = v.tok"),
    "events_range_join" ->
      ("SELECT w.event_id AS window_id, count(*) AS n_events, " +
        "CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users " +
        "FROM events e JOIN (SELECT event_id, ts FROM events WHERE value > 300) w " +
        "ON e.ts >= w.ts - INTERVAL 10 MINUTE AND e.ts <= w.ts " +
        "GROUP BY 1"),
    "events_scd2_current" ->
      ("WITH o AS (SELECT user_id, event_type, ts, event_id, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state " +
        "FROM events), " +
        "ch AS (SELECT user_id, event_type, ts, event_id FROM o " +
        "WHERE prev_state IS NULL OR prev_state != event_type), " +
        "v AS (SELECT user_id, event_type AS state, ts AS valid_from, " +
        "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to FROM ch) " +
        "SELECT user_id, state, CAST(epoch_us(valid_from) AS BIGINT) AS valid_from_us, " +
        "CAST(epoch_us(valid_to) AS BIGINT) AS valid_to_us, " +
        "CAST(valid_to IS NULL AS INTEGER) AS is_current FROM v"),
    // the same SCD2 chain filtered at T = min(ts) + 24h
    "events_scd2_asof" ->
      ("WITH o AS (SELECT user_id, event_type, epoch_ns(ts) AS tsn, event_id, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state " +
        "FROM events), " +
        "ch AS (SELECT user_id, event_type, tsn, event_id FROM o " +
        "WHERE prev_state IS NULL OR prev_state != event_type), " +
        "v AS (SELECT user_id, event_type AS state, tsn AS valid_from, " +
        "lead(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS valid_to FROM ch), " +
        "t0 AS (SELECT min(epoch_ns(ts)) + 86400000000000 AS t_as_of FROM events) " +
        "SELECT user_id, state, CAST(valid_from // 1000 AS BIGINT) AS valid_from_us " +
        "FROM v, t0 WHERE valid_from <= t_as_of " +
        "AND (valid_to IS NULL OR valid_to > t_as_of)"),
    // pure fixed point: |num|·1e12 // den plus an explicit sign (negative
    // integral division floors vs truncates differently across engines;
    // a DECIMAL->DOUBLE cast at ~1e26 is 1-ulp engine-sensitive)
    "events_trend_slope" ->
      ("WITH x0 AS (SELECT min(epoch_ns(ts) // 1000000000) AS x0 FROM events), " +
        "m AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy, " +
        "sum(x * y) AS sxy, sum(x * x) AS sxx FROM " +
        "(SELECT event_type, CAST(epoch_ns(ts) // 1000000000 - x0 AS HUGEINT) AS x, " +
        "CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT) AS y " +
        "FROM events, x0) t GROUP BY event_type) " +
        "SELECT event_type, CAST(n AS BIGINT) AS n, " +
        "CAST(CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END AS INT) AS slope_sign, " +
        "CAST((abs(n * sxy - sx * sy) * 1000000000000) // (n * sxx - sx * sx) " +
        "AS BIGINT) AS slope_abs_pico FROM m"),
    "events_winsorize" ->
      ("WITH r AS (SELECT event_id, event_type, value, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS n " +
        "FROM events WHERE value IS NOT NULL), " +
        "caps AS (SELECT event_type, " +
        "max(CASE WHEN rn = greatest(1, (n*5+99)//100) THEN value END) AS lo, " +
        "max(CASE WHEN rn = (n*95+99)//100 THEN value END) AS hi " +
        "FROM r GROUP BY event_type) " +
        "SELECT event_id, r.event_type, value, " +
        "least(greatest(value, lo), hi) AS value_w FROM r JOIN caps USING (event_type)"),
    // the window rollup over DISTINCT values is provably the NOT-EXISTS
    // dominance skyline (cross-checked); ROWS mode is exact because gm has
    // one row per distinct value
    "events_skyline" ->
      ("WITH p AS (SELECT event_id, value, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events " +
        "WHERE value IS NOT NULL AND ts IS NOT NULL), " +
        "gm AS (SELECT value, min(ts_us) AS gmin FROM p GROUP BY value), " +
        "s AS (SELECT value, gmin, min(gmin) OVER (ORDER BY value DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS smin FROM gm) " +
        "SELECT p.event_id, p.value, p.ts_us FROM p JOIN s USING (value) " +
        "WHERE p.ts_us = s.gmin AND (s.smin IS NULL OR p.ts_us < s.smin)"),
    "events_gap_fill" ->
      ("WITH h AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS hour_bucket, " +
        "last(value ORDER BY ts, event_id) AS last_value, count(*) AS n_obs " +
        "FROM events GROUP BY 1, 2), " +
        "s AS (SELECT user_id, min(hour_bucket) AS lo, max(hour_bucket) AS hi " +
        "FROM h GROUP BY 1), " +
        "g AS (SELECT user_id, unnest(generate_series(lo, hi)) AS hour_bucket FROM s) " +
        "SELECT g.user_id, g.hour_bucket, " +
        "last_value(h.last_value IGNORE NULLS) OVER (PARTITION BY g.user_id " +
        "ORDER BY g.hour_bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS value_filled, " +
        "CAST(coalesce(h.n_obs, 0) AS BIGINT) AS n_obs " +
        "FROM g LEFT JOIN h ON g.user_id = h.user_id AND g.hour_bucket = h.hour_bucket"),
    "events_value_outliers" ->
      ("WITH v AS (SELECT event_id, event_type, value, " +
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc FROM events), " +
        "g AS (SELECT event_type, count(*) AS n, sum(CAST(vc AS HUGEINT)) AS s, " +
        "sum(CAST(vc AS HUGEINT) * CAST(vc AS HUGEINT)) AS q FROM v GROUP BY 1) " +
        "SELECT event_id, v.event_type, value, " +
        "CAST((CAST(n AS HUGEINT) * vc - s) * (CAST(n AS HUGEINT) * vc - s) > " +
        "4 * (CAST(n AS HUGEINT) * q - s * s) AS INTEGER) AS is_outlier " +
        "FROM v JOIN g ON v.event_type = g.event_type"),
    "events_retention_cohorts" ->
      ("WITH ev AS (SELECT user_id, epoch_ns(ts) // 604800000000000 AS week FROM events), " +
        "fw AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id) " +
        "SELECT cohort_week, week, CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users " +
        "FROM ev JOIN fw ON ev.user_id = fw.user_id GROUP BY cohort_week, week"),
    "events_conversion" ->
      ("WITH fc AS (SELECT user_id, min(ts) AS first_click FROM events " +
        "WHERE event_type = 'click' GROUP BY user_id), " +
        "p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase') " +
        "SELECT fc.user_id, CAST(epoch_us(first_click) AS BIGINT) AS first_click_us, " +
        "CAST(sum(CASE WHEN p.ts >= fc.first_click THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_purchases_after " +
        "FROM fc LEFT JOIN p ON p.user_id = fc.user_id " +
        "GROUP BY fc.user_id, fc.first_click"),
    "events_attribution" ->
      ("WITH c AS (SELECT user_id, epoch_ns(ts) AS cts, event_id AS cid " +
        "FROM events WHERE event_type = 'purchase'), " +
        "tch AS (SELECT user_id, epoch_ns(ts) AS tts, event_id AS tid, " +
        "event_type AS channel FROM events " +
        "WHERE event_type IN ('click', 'view', 'signup')), " +
        "j AS (SELECT c.user_id, cid, channel, tts, tid FROM c " +
        "JOIN tch ON c.user_id = tch.user_id " +
        "AND tts < cts AND tts >= cts - 86400000000000), " +
        "r AS (SELECT channel, row_number() OVER " +
        "(PARTITION BY user_id, cid ORDER BY tts, tid) AS rk, " +
        "count(*) OVER (PARTITION BY user_id, cid) AS n FROM j), " +
        "s AS (SELECT channel, " +
        "CASE WHEN rk = 1 THEN 10000 ELSE 0 END AS fb, " +
        "CASE WHEN rk = n THEN 10000 ELSE 0 END AS lb, " +
        "10000 // n + CASE WHEN rk = 1 THEN 10000 % n ELSE 0 END AS nb FROM r), " +
        "u AS (SELECT 'first' AS model, channel, fb AS bp FROM s " +
        "UNION ALL SELECT 'last', channel, lb FROM s " +
        "UNION ALL SELECT 'linear', channel, nb FROM s) " +
        "SELECT model, channel, CAST(sum(bp) AS BIGINT) AS credit_bp, " +
        "CAST(count(*) AS BIGINT) AS n_credited FROM u WHERE bp > 0 " +
        "GROUP BY model, channel"),
    "events_conversion_latency" ->
      ("WITH fc AS (SELECT user_id, min(ts) AS fc FROM events " +
        "WHERE event_type = 'click' GROUP BY user_id), " +
        "p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'), " +
        "l AS (SELECT p.user_id, min(epoch_ns(p.ts) - epoch_ns(fc.fc)) AS lat_ns " +
        "FROM fc JOIN p ON p.user_id = fc.user_id AND p.ts >= fc.fc " +
        "GROUP BY p.user_id) " +
        "SELECT count(*) AS n_converted, " +
        "quantile_cont(lat_ns // 1000000000, 0.5) AS med_latency_s, " +
        "quantile_cont(lat_ns // 1000000000, 0.9) AS p90_latency_s FROM l"),
    "bigram_next_topk" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bi AS (SELECT unnest([{'tk': w[i], 'next_tk': w[i+1]} " +
        "FOR i IN generate_series(1, len(w) - 1)], recursive := true) FROM toks), " +
        "c AS (SELECT tk, next_tk, count(*) AS n FROM bi GROUP BY 1, 2) " +
        "SELECT tk, next_tk, n FROM (SELECT tk, next_tk, n, " +
        "row_number() OVER (PARTITION BY tk ORDER BY n DESC, next_tk) AS rn FROM c) t " +
        "WHERE rn <= 3"),
    "heavy_hitters_cms" ->
      ("WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents), " +
        "bi AS (SELECT w[i] || ' ' || w[i+1] AS gram FROM toks, " +
        "unnest(generate_series(1, len(w) - 1)) AS t(i)), " +
        "tot AS (SELECT count(*) AS total FROM bi) " +
        "SELECT gram, count(*) AS n FROM bi GROUP BY 1 " +
        "HAVING count(*) * 2000 >= (SELECT total FROM tot)"),
    // exact distincts + flag = 1: a broken estimator or union breaks the
    // hash (the approx_distinct_parts banding pattern)
    "hll_union_sources" ->
      ("WITH f AS (SELECT source, tk FROM (SELECT source, " +
        "unnest(string_split(text, ' ')) AS tk FROM documents) t " +
        "WHERE tk != '') " +
        "SELECT source, CAST(count(DISTINCT tk) AS BIGINT) AS n_exact, " +
        "CAST(1 AS INT) AS within_band FROM f GROUP BY 1 " +
        "UNION ALL SELECT '__union__', CAST(count(DISTINCT tk) AS BIGINT), " +
        "CAST(1 AS INT) FROM f"),
    // the same md5-32bit KMV layout: per-source k-min sketch, union-k
    // candidates, membership via sketch joins, exact side from the full
    // distinct token sets
    "kmv_overlap_eval" ->
      ("WITH st AS (SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tk " +
        "FROM documents), " +
        "hh AS (SELECT source, tk, ('0x' || substr(md5(tk), 1, 8))::BIGINT AS h FROM st), " +
        "sk AS (SELECT source, h, tk FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY source ORDER BY h, tk) AS rn FROM hh) z WHERE rn <= 64), " +
        "srcs AS (SELECT DISTINCT source FROM sk), " +
        "pr AS (SELECT a.source AS sa, b.source AS sb FROM srcs a, srcs b " +
        "WHERE a.source < b.source), " +
        "cand AS (SELECT DISTINCT pr.sa, pr.sb, s.h, s.tk FROM pr JOIN sk s " +
        "ON s.source = pr.sa OR s.source = pr.sb), " +
        "rk AS (SELECT sa, sb, h, tk FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY sa, sb ORDER BY h, tk) AS rn FROM cand) z WHERE rn <= 64), " +
        "e0 AS (SELECT rk.sa, rk.sb, " +
        "(a.tk IS NOT NULL AND b.tk IS NOT NULL) AS inboth FROM rk " +
        "LEFT JOIN sk a ON a.source = rk.sa AND a.h = rk.h AND a.tk = rk.tk " +
        "LEFT JOIN sk b ON b.source = rk.sb AND b.h = rk.h AND b.tk = rk.tk), " +
        "est AS (SELECT sa, sb, (sum(CASE WHEN inboth THEN 1 ELSE 0 END) * 10000) " +
        "// count(*) AS est_jaccard_bp FROM e0 GROUP BY 1, 2), " +
        "sz AS (SELECT source, count(*) AS n FROM st GROUP BY 1), " +
        "cm AS (SELECT a.source AS sa, b.source AS sb, count(*) AS c FROM st a " +
        "JOIN st b ON a.tk = b.tk AND a.source < b.source GROUP BY 1, 2), " +
        "ex AS (SELECT cm.sa, cm.sb, (c * 10000) // (na.n + nb.n - c) " +
        "AS exact_jaccard_bp FROM cm JOIN sz na ON na.source = cm.sa " +
        "JOIN sz nb ON nb.source = cm.sb) " +
        "SELECT est.sa AS source_a, est.sb AS source_b, " +
        "CAST(est_jaccard_bp AS BIGINT) AS est_jaccard_bp, " +
        "CAST(exact_jaccard_bp AS BIGINT) AS exact_jaccard_bp, " +
        "CAST(abs(est_jaccard_bp - exact_jaccard_bp) AS BIGINT) AS err_bp " +
        "FROM est JOIN ex ON est.sa = ex.sa AND est.sb = ex.sb"),
    // full SQL replay of the md5-variant sketch: the same d×w counter
    // build, the same probe mins
    "cms_error_eval" ->
      ("WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents), " +
        "bi AS (SELECT w[i] || ' ' || w[i+1] AS gram FROM toks, " +
        "unnest(generate_series(1, len(w) - 1)) AS t(i)), " +
        "rc AS (SELECT gram, i AS row, " +
        "('0x' || substr(md5(i || ':' || gram), 1, 8))::BIGINT % 1024 AS col " +
        "FROM bi, unnest(generate_series(0, 3)) AS r(i)), " +
        "counters AS (SELECT row, col, count(*) AS c FROM rc GROUP BY 1, 2), " +
        "top AS (SELECT gram, count(*) AS n_exact FROM bi GROUP BY 1 " +
        "ORDER BY n_exact DESC, gram LIMIT 20), " +
        "probes AS (SELECT gram, n_exact, i AS row, " +
        "('0x' || substr(md5(i || ':' || gram), 1, 8))::BIGINT % 1024 AS col " +
        "FROM top, unnest(generate_series(0, 3)) AS r(i)) " +
        "SELECT p.gram, CAST(p.n_exact AS BIGINT) AS n_exact, " +
        "CAST(min(c.c) AS BIGINT) AS n_est, " +
        "CAST(min(c.c) - p.n_exact AS BIGINT) AS overcount " +
        "FROM probes p JOIN counters c ON p.row = c.row AND p.col = c.col " +
        "GROUP BY p.gram, p.n_exact"),
    "events_ohlc" ->
      ("SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type, " +
        "first(value ORDER BY ts, event_id) AS open, " +
        "last(value ORDER BY ts, event_id) AS close, " +
        "min(value) AS low, max(value) AS high, count(*) AS n " +
        "FROM events GROUP BY 1, 2"),
    "events_asof_join" ->
      ("SELECT p.event_id, p.user_id, c.event_id AS prev_click " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id AND p.ts >= c.ts"),
    // the same two chained forward ASOF joins, stated natively
    "events_funnel_strict" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS tsn FROM events), " +
        "v AS (SELECT user_id, event_id, tsn FROM e WHERE event_type = 'view'), " +
        "c AS (SELECT user_id, event_id, tsn FROM e WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, event_id, tsn FROM e WHERE event_type = 'purchase'), " +
        "vc AS (SELECT v.user_id, v.tsn AS vts, c.event_id AS click_id, c.tsn AS cts " +
        "FROM v ASOF LEFT JOIN c ON v.user_id = c.user_id AND c.tsn >= v.tsn), " +
        "vck AS (SELECT * FROM vc WHERE click_id IS NOT NULL " +
        "AND cts - vts <= 3600000000000), " +
        "vcp AS (SELECT k.user_id, k.cts, p.event_id AS pid, p.tsn AS pts " +
        "FROM vck k ASOF LEFT JOIN p ON k.user_id = p.user_id AND p.tsn >= k.cts), " +
        "pk AS (SELECT * FROM vcp WHERE pid IS NOT NULL " +
        "AND pts - cts <= 3600000000000) " +
        "SELECT (SELECT count(*) FROM v) AS n_views, " +
        "(SELECT count(*) FROM vck) AS n_clicked, " +
        "(SELECT count(*) FROM pk) AS n_purchased, " +
        "(SELECT count(DISTINCT user_id) FROM pk) AS n_users_converted"),
    "events_asof_join_forward" ->
      ("SELECT c.event_id, c.user_id, p.event_id AS next_purchase " +
        "FROM (SELECT * FROM events WHERE event_type = 'click') c " +
        "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ON c.user_id = p.user_id AND c.ts <= p.ts"),
    "events_lateness_profile" ->
      // the single-window statement of the distributed prefix scan
      ("WITH m AS (SELECT event_id, epoch_ns(ts) AS tsn FROM events), " +
        "r AS (SELECT event_id, tsn, max(tsn) OVER (ORDER BY event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen FROM m), " +
        "l AS (SELECT greatest(0, coalesce(seen - tsn, 0)) AS lateness FROM r) " +
        "SELECT CAST(least(64, lateness // 60000000000) AS BIGINT) " +
        "AS lateness_band_min, count(*) AS n, " +
        "CAST(max(lateness) AS BIGINT) AS max_lateness_ns FROM l GROUP BY 1"),
    "topk_per_user_events" ->
      ("SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM " +
        "(SELECT user_id, event_id, ts, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events) r " +
        "WHERE rn <= 3"),
    "multimodal_meta" ->
      ("SELECT doc_id AS asset_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
        "ascii(substr(text, 1, 1)) AS first_byte, md5(text) AS content_md5 " +
        "FROM documents"),
    "multimodal_decode_stub" ->
      ("SELECT doc_id AS asset_id, 'image/fake' AS kind, " +
        "CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
        "ascii(substr(text, 1, 1)) + 1 AS width, " +
        "ascii(substr(text, 2, 1)) + 1 AS height FROM documents"),
    "multimodal_decode_real" ->
      ("SELECT doc_id AS asset_id, CAST(n_chars % 31 + 1 AS INTEGER) AS width, " +
        "CAST(doc_id % 17 + 1 AS INTEGER) AS height, " +
        "CAST(doc_id % 256 AS INTEGER) AS red0 FROM documents"),
    "multimodal_wav_energy_windows" ->
      ("WITH p AS (SELECT doc_id, doc_id % 50 + 20 AS n FROM documents), " +
        "s AS (SELECT doc_id, n, [(doc_id * 31 + i * 17) % 65536 - 32768 " +
        "FOR i IN generate_series(0, n - 1)] AS v FROM p), " +
        "w AS (SELECT doc_id, n, v, unnest(generate_series(0, (n + 15) // 16 - 1)) AS win_id FROM s), " +
        "e AS (SELECT doc_id, win_id, " +
        "v[win_id * 16 + 1 : least((win_id + 1) * 16, n)] AS seg FROM w) " +
        "SELECT doc_id AS asset_id, CAST(win_id AS INT) AS win_id, " +
        "CAST(len(seg) AS INT) AS n_in_win, " +
        "CAST(list_sum([CAST(x AS BIGINT) * x FOR x IN seg]) AS BIGINT) AS sumsq, " +
        "CAST(CASE WHEN list_sum([CAST(x AS BIGINT) * x FOR x IN seg]) >= " +
        "300000000 * len(seg) THEN 1 ELSE 0 END AS INT) AS active FROM e"),
    "multimodal_decode_wav" ->
      ("WITH p AS (SELECT doc_id, doc_id % 50 + 20 AS n, " +
        "CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate FROM documents), " +
        "s AS (SELECT doc_id, sample_rate, n, " +
        "[(doc_id * 31 + i * 17) % 65536 - 32768 " +
        "FOR i IN generate_series(0, n - 1)] AS v FROM p) " +
        "SELECT doc_id AS asset_id, sample_rate, CAST(n AS BIGINT) AS n_samples, " +
        "CAST(list_sum(v) AS BIGINT) AS sum_amp, " +
        "CAST(list_sum([x * x FOR x IN v]) AS BIGINT) AS sumsq_amp FROM s"),
    // generator-predicted decimation: pair means under TRUNCATING
    // division (DuckDB // truncates toward zero, like Java /)
    "multimodal_audio_decimate" ->
      ("WITH p AS (SELECT doc_id, doc_id % 50 + 20 AS n FROM documents), " +
        "s AS (SELECT doc_id, n, [(doc_id * 31 + i * 17) % 65536 - 32768 " +
        "FOR i IN generate_series(0, n - 1)] AS v FROM p), " +
        "d AS (SELECT doc_id, n // 2 AS n_out, " +
        "[(v[2 * k + 1] + v[2 * k + 2]) // 2 " +
        "FOR k IN generate_series(0, n // 2 - 1)] AS w FROM s) " +
        "SELECT doc_id AS asset_id, CAST(n_out AS BIGINT) AS n_out, " +
        "CAST(list_sum(w) AS BIGINT) AS sum_dec, " +
        "CAST(list_sum([x * x FOR x IN w]) AS BIGINT) AS sumsq_dec FROM d"),
    // Sobel on the linear-ramp image responds exactly 8*sx / 8*sy at every
    // interior pixel, so the oracle is closed form while Spark convolves
    // over genuinely decoded PNG pixels
    "image_sobel_energy" ->
      ("WITH p AS (SELECT doc_id, n_chars % 31 + 1 AS w, " +
        "doc_id % 17 + 1 AS h, doc_id % 3 AS sx, (doc_id // 3) % 3 AS sy " +
        "FROM documents), " +
        "d AS (SELECT doc_id, greatest(w - 2, 0) * greatest(h - 2, 0) AS n_int, " +
        "sx, sy FROM p) " +
        "SELECT doc_id AS asset_id, CAST(n_int AS BIGINT) AS n_interior, " +
        "CAST(n_int * 8 * sx AS BIGINT) AS sum_gx, " +
        "CAST(n_int * 8 * sy AS BIGINT) AS sum_gy, " +
        "CAST(n_int * 64 * (sx * sx + sy * sy) AS BIGINT) AS energy, " +
        "CAST(CASE WHEN 8 * sx + 8 * sy >= 16 THEN n_int ELSE 0 END AS BIGINT) " +
        "AS n_edge FROM d"),
    "audio_zero_crossing_rate" ->
      ("WITH p AS (SELECT doc_id, doc_id % 50 + 20 AS n FROM documents), " +
        "s AS (SELECT doc_id, n, [(doc_id * 31 + i * 17) % 65536 - 32768 " +
        "FOR i IN generate_series(0, n - 1)] AS v FROM p), " +
        "c AS (SELECT doc_id, n, CAST(len([k FOR k IN " +
        "generate_series(2, n) IF (v[k - 1] < 0) != (v[k] < 0)]) AS BIGINT) " +
        "AS n_cross FROM s) " +
        "SELECT doc_id AS asset_id, CAST(n AS BIGINT) AS n_samples, " +
        "n_cross, CAST((n_cross * 1000000) // (n - 1) AS BIGINT) AS zcr_ppm " +
        "FROM c"),
    "audio_haar_bands" ->
      ("WITH p AS (SELECT doc_id, doc_id % 50 + 20 AS n FROM documents), " +
        "s AS (SELECT doc_id, n, [(doc_id * 31 + i * 17) % 65536 - 32768 " +
        "FOR i IN generate_series(0, n - 1)] AS v FROM p), " +
        "l1 AS (SELECT doc_id, n // 2 AS m1, " +
        "[(v[2 * k + 1] + v[2 * k + 2]) // 2 " +
        "FOR k IN generate_series(0, n // 2 - 1)] AS a1, " +
        "[(v[2 * k + 1] - v[2 * k + 2]) // 2 " +
        "FOR k IN generate_series(0, n // 2 - 1)] AS d1 FROM s), " +
        "l2 AS (SELECT doc_id, m1, d1, m1 // 2 AS m2, " +
        "[(a1[2 * k + 1] + a1[2 * k + 2]) // 2 " +
        "FOR k IN generate_series(0, m1 // 2 - 1)] AS a2, " +
        "[(a1[2 * k + 1] - a1[2 * k + 2]) // 2 " +
        "FOR k IN generate_series(0, m1 // 2 - 1)] AS d2 FROM l1) " +
        "SELECT doc_id AS asset_id, CAST(m1 AS BIGINT) AS n1, " +
        "CAST(list_sum([x * x FOR x IN d1]) AS BIGINT) AS e_d1, " +
        "CAST(m2 AS BIGINT) AS n2, " +
        "CAST(list_sum([x * x FOR x IN d2]) AS BIGINT) AS e_d2, " +
        "CAST(list_sum([x * x FOR x IN a2]) AS BIGINT) AS e_a2 FROM l2"),
    "multimodal_decode_jpeg" ->
      ("SELECT doc_id AS asset_id, CAST(n_chars % 31 + 1 AS INTEGER) AS width, " +
        "CAST(doc_id % 17 + 1 AS INTEGER) AS height, " +
        "CAST(1 AS INTEGER) AS gray_err_le3 FROM documents"),
    "multimodal_decode_gif" ->
      ("SELECT doc_id AS asset_id, CAST(n_chars % 31 + 1 AS INTEGER) AS width, " +
        "CAST(doc_id % 17 + 1 AS INTEGER) AS height, " +
        "CAST(doc_id % 256 AS INTEGER) AS red0 FROM documents"),
    "multimodal_decode_bmp" ->
      ("SELECT doc_id AS asset_id, CAST(n_chars % 31 + 1 AS INTEGER) AS width, " +
        "CAST(doc_id % 17 + 1 AS INTEGER) AS height, " +
        "CAST(doc_id % 256 AS INTEGER) AS red0 FROM documents"),
    // the oracle predicts every aHash bit from the gradient generator
    // (integer 64*sample > sum form); Spark computes the same bits from
    // real ImageIO pixel reads after a PNG round trip
    "image_phash_dedup" ->
      ("WITH p AS (SELECT doc_id, n_chars % 31 + 1 AS w, doc_id % 17 + 1 AS h, " +
        "(doc_id % 8) * 4 AS g0, doc_id % 3 AS sx, (doc_id // 3) % 3 AS sy FROM documents), " +
        "s AS (SELECT doc_id, [g0 + sx * ((j % 8) * w // 8) + sy * ((j // 8) * h // 8) " +
        "FOR j IN generate_series(0, 63)] AS v FROM p), " +
        "hs AS (SELECT doc_id, array_to_string([CASE WHEN 64 * x > list_sum(v) " +
        "THEN '1' ELSE '0' END FOR x IN v], '') AS phash FROM s) " +
        "SELECT doc_id, phash, rep_id, " +
        "CAST(CASE WHEN doc_id != rep_id THEN 1 ELSE 0 END AS INT) AS is_dup FROM " +
        "(SELECT doc_id, phash, min(doc_id) OVER (PARTITION BY phash) AS rep_id FROM hs) t"),
    "multimodal_frame_sample" ->
      ("SELECT doc_id AS asset_id, CAST(unnest(generate_series(0, 3)) AS INTEGER) AS frame_idx " +
        "FROM documents"),
    "multimodal_resize_stub" ->
      ("SELECT asset_id, width, height, " +
        "CASE WHEN greatest(width, height) <= 224 THEN width " +
        "ELSE CAST(floor(width * 224 / greatest(width, height)) AS INT) END AS out_w, " +
        "CASE WHEN greatest(width, height) <= 224 THEN height " +
        "ELSE CAST(floor(height * 224 / greatest(width, height)) AS INT) END AS out_h " +
        "FROM (SELECT doc_id AS asset_id, ascii(substr(text, 1, 1)) + 1 AS width, " +
        "ascii(substr(text, 2, 1)) + 1 AS height FROM documents) t"),
    // the oracle predicts the resized dims and the exact gray sum of the
    // nearest-neighbor raster from the gradient generator: sample (i,j)
    // reads src (i*w//ow, j*h//oh), so the double sum factorizes into the
    // two axis sums below; Spark computes it from real decoded pixels
    "multimodal_resize_real" ->
      ("WITH p AS (SELECT doc_id, n_chars % 31 + 1 AS w, doc_id % 17 + 1 AS h, " +
        "(doc_id % 8) * 4 AS g0, doc_id % 3 AS sx, (doc_id // 3) % 3 AS sy FROM documents), " +
        "d AS (SELECT *, " +
        "CASE WHEN greatest(w, h) <= 8 THEN w " +
        "ELSE greatest(1, w * 8 // greatest(w, h)) END AS ow, " +
        "CASE WHEN greatest(w, h) <= 8 THEN h " +
        "ELSE greatest(1, h * 8 // greatest(w, h)) END AS oh FROM p) " +
        "SELECT doc_id AS asset_id, CAST(ow AS INTEGER) AS out_w, " +
        "CAST(oh AS INTEGER) AS out_h, " +
        "CAST(ow * oh * g0 + " +
        "sx * oh * list_sum([(i * w) // ow FOR i IN generate_series(0, ow - 1)]) + " +
        "sy * ow * list_sum([(j * h) // oh FOR j IN generate_series(0, oh - 1)]) " +
        "AS BIGINT) AS gray_sum FROM d"),
    // every field is spec-mandated for an RGB gray fill: PNG signature,
    // IHDR width/height from the generator, bit depth 8, color type 2
    "multimodal_png_header" ->
      ("SELECT doc_id AS asset_id, CAST(1 AS INT) AS sig_ok, " +
        "CAST(n_chars % 31 + 1 AS BIGINT) AS width_hdr, " +
        "CAST(doc_id % 17 + 1 AS BIGINT) AS height_hdr, " +
        "CAST(8 AS INT) AS bit_depth, CAST(2 AS INT) AS color_type " +
        "FROM documents"),
    "multimodal_byte_histogram" ->
      ("SELECT doc_id AS asset_id, ascii(c) % 16 AS bucket, count(*) AS n FROM " +
        "(SELECT doc_id, unnest([substr(text, i, 1) FOR i IN generate_series(1, length(text))]) AS c " +
        "FROM documents) t GROUP BY 1, 2"),
    // xy2d unrolled as one CTE stage per bit level; each stage computes
    // nx/ny/nd in an inner subquery and projects them back to x/y/d in the
    // outer SELECT, so the bare x/y names inside the CASEs can only
    // resolve to the PREVIOUS stage's columns (never to lateral aliases
    // defined in the same list) — unambiguous in any SQL dialect
    "hilbert_events" ->
      ("WITH h0 AS (SELECT event_id, user_id & 63 AS x, " +
        "CAST(floor(value) AS BIGINT) & 63 AS y, CAST(0 AS BIGINT) AS d FROM events), " +
        Seq(32L, 16L, 8L, 4L, 2L, 1L).zipWithIndex.map {
          case (s, i) =>
            s"h${i + 1} AS (SELECT event_id, nx AS x, ny AS y, nd AS d FROM " +
              s"(SELECT event_id, " +
              s"CASE WHEN (y & $s) > 0 THEN x ELSE " +
              s"CASE WHEN (x & $s) > 0 THEN $s - 1 - y ELSE y END END AS nx, " +
              s"CASE WHEN (y & $s) > 0 THEN y ELSE " +
              s"CASE WHEN (x & $s) > 0 THEN $s - 1 - x ELSE x END END AS ny, " +
              s"d + ${s * s} * xor(3 * CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END, " +
              s"CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS nd FROM h$i) q${i + 1})"
        }.mkString(", ") +
        " SELECT event_id, CAST(d AS BIGINT) AS h FROM h6"),
    "zorder_events" ->
      ("SELECT event_id, CAST(list_sum([" +
        "(((user_id & 65535) >> i) & 1) * power(2, 2 * i)::BIGINT + " +
        "(((CAST(floor(value) AS BIGINT) & 65535) >> i) & 1) * power(2, 2 * i + 1)::BIGINT " +
        "FOR i IN generate_series(0, 15)]) AS BIGINT) AS z FROM events"),
    "layout_prune_eval" -> {
      def agg(name: String, rel: String): String =
        s"SELECT '$name' AS layout, CAST(count(*) AS BIGINT) AS n_files, " +
          "CAST(sum(CASE WHEN xmax >= 5 AND xmin <= 20 AND ymax >= 5 AND ymin <= 20 " +
          "THEN 1 ELSE 0 END) AS BIGINT) AS n_files_read, " +
          "CAST(sum(CASE WHEN xmax >= 5 AND xmin <= 20 AND ymax >= 5 AND ymin <= 20 " +
          "THEN n_rows ELSE 0 END) AS BIGINT) AS n_rows_read, " +
          "CAST(sum(n_match) AS BIGINT) AS n_rows_match FROM " +
          "(SELECT f, count(*) AS n_rows, min(x) AS xmin, max(x) AS xmax, " +
          "min(y) AS ymin, max(y) AS ymax, " +
          "sum(CASE WHEN x BETWEEN 5 AND 20 AND y BETWEEN 5 AND 20 THEN 1 ELSE 0 END) AS n_match " +
          s"FROM $rel GROUP BY f) t"
      val hChain = Seq(32L, 16L, 8L, 4L, 2L, 1L).zipWithIndex.map {
        case (sv, i) =>
          s"h${i + 1} AS (SELECT event_id, ox, oy, nx AS x, ny AS y, nd AS d FROM " +
            s"(SELECT event_id, ox, oy, " +
            s"CASE WHEN (y & $sv) > 0 THEN x ELSE " +
            s"CASE WHEN (x & $sv) > 0 THEN $sv - 1 - y ELSE y END END AS nx, " +
            s"CASE WHEN (y & $sv) > 0 THEN y ELSE " +
            s"CASE WHEN (x & $sv) > 0 THEN $sv - 1 - x ELSE x END END AS ny, " +
            s"d + ${sv * sv} * xor(3 * CASE WHEN (x & $sv) > 0 THEN 1 ELSE 0 END, " +
            s"CASE WHEN (y & $sv) > 0 THEN 1 ELSE 0 END) AS nd FROM h$i) q${i + 1})"
      }.mkString(", ")
      "WITH pts AS (SELECT event_id, user_id & 63 AS x, " +
        "CAST(floor(value) AS BIGINT) & 63 AS y FROM events), " +
        "z AS (SELECT event_id, x, y, CAST(list_sum([" +
        "((x >> i) & 1) * power(2, 2 * i)::BIGINT + " +
        "((y >> i) & 1) * power(2, 2 * i + 1)::BIGINT " +
        "FOR i IN generate_series(0, 5)]) AS BIGINT) AS zkey FROM pts), " +
        "h0 AS (SELECT event_id, x AS ox, y AS oy, x, y, CAST(0 AS BIGINT) AS d FROM pts), " +
        hChain + ", " +
        "mo AS (SELECT max(event_id) AS mo FROM events), " +
        "nat AS (SELECT event_id // ((mo // 128) + 1) AS f, x, y FROM pts, mo), " +
        "zf AS (SELECT zkey // 32 AS f, x, y FROM z), " +
        "hf AS (SELECT d // 32 AS f, ox AS x, oy AS y FROM h6) " +
        agg("natural", "nat") + " UNION ALL " +
        agg("zorder", "zf") + " UNION ALL " + agg("hilbert", "hf")
    },
    "events_value_band_join" ->
      ("SELECT band, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total FROM events " +
        "JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 100.0), " +
        "('high', 100.0, 200.0), ('extreme', 200.0, 1e9)) AS bands(band, lo, hi) " +
        "ON value >= lo AND value < hi GROUP BY band")
  )
}
