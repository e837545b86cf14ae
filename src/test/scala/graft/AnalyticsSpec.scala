package graft

import graft.analytics._
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

class AnalyticsSpec extends SparkSpecBase {

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("hybrid RRF recomposes exactly from the two pool rankings") {
    val terms = Seq("spark", "quantile", "vector")
    val txt = Curation.bm25TopK(docs, terms, 50).collect()
      .map(_.getLong(0)).zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    val vec = Similarity.bruteForceTopK(emb, 0L, 50).collect()
      .map(_.getLong(0)).zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    val expected = (txt.keySet ++ vec.keySet).toSeq.map { id =>
      val rt = txt.getOrElse(id, 0)
      val rv = vec.getOrElse(id, 0)
      val rrf = (if (rt > 0) 1000000 / (60 + rt) else 0) +
        (if (rv > 0) 1000000 / (60 + rv) else 0)
      (id, rt, rv, rrf.toLong)
    }.sortBy(t => (-t._4, t._1)).take(10)
    val got = Similarity.hybridRrfTopK(docs, emb, terms).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    assert(got == expected)
  }

  test("maxSim: each query vector maxes independently, scores sum per label") {
    import spark.implicits._
    val e = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (10L, Seq(0.0f, 1.0f), 0),
      (21L, Seq(2.0f, 0.0f), 1), (22L, Seq(0.0f, 3.0f), 1),
      (31L, Seq(1.0f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.maxSimLabelScores(e).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // label 1: q1 maxes on (2,0) = 2e6, q2 on (0,3) = 3e6
    assert(got == Map(1 -> ((2L, 5000000L)), 2 -> ((2L, 2000000L))))
  }

  test("labelCentroidSimilarity: identical label sets at cos 1, orthogonal at 0") {
    import spark.implicits._
    // labels 0 and 1 share the same two vectors (centroids equal -> cos 1);
    // label 2 is orthogonal to both
    val e = Seq(
      (1L, Seq(1.0f, 0.0f, 1.0f), 0), (2L, Seq(3.0f, 0.0f, 1.0f), 0),
      (3L, Seq(1.0f, 0.0f, 1.0f), 1), (4L, Seq(3.0f, 0.0f, 1.0f), 1),
      (5L, Seq(0.0f, 2.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidSimilarity(e).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got((0, 1)) == ((2L, 2L, 1.0)))
    assert(got((0, 2)) == ((2L, 1L, 0.0)))
    assert(got((1, 2)) == ((2L, 1L, 0.0)))
    // fixture sanity: every pair lands in [-1, 1]
    val fix = Similarity.labelCentroidSimilarity(emb).collect()
    assert(fix.nonEmpty &&
      fix.forall(r => math.abs(r.getDouble(4)) <= 1.0000001))
  }

  test("materialized-index probes reproduce the fused ANN answers exactly") {
    // build/probe split must be invisible in the results: the probe keys
    // read codebooks + codes + inverted lists written by ivfPqIndexBuild
    // and must hash-match the fused train-in-query formulations
    val idx = java.nio.file.Files.createTempDirectory("graft_idx_spec").toString
    Similarity.ivfPqIndexBuild(emb, idx, trainMod = 4)
    val probe = Similarity.ivfPqProbeTopK(emb, idx, queryId = 0L, k = 10)
    val fused = Similarity.ivfPqTopK(emb, queryId = 0L, k = 10, trainMod = 4)
    assert(probe.collect().toSeq == fused.collect().toSeq)
    val knnProbe = Similarity.knnJoinIvfProbe(emb, idx, k = 3)
    val knnFused = Similarity.knnJoinIvf(emb, k = 3)
    assert(knnProbe.count() == knnFused.count())
    assert(knnProbe.exceptAll(knnFused).count() == 0)
  }

  test("probe candidate read partition-prunes to the probed cells") {
    // the codes table is written partitionBy(cell_id); a probe's isin
    // filter on the partition column must show up as a partition filter
    // on the scan (directory pruning — the nProbe/nCells read the 100 TB
    // story depends on), not as a data filter over a full scan
    val idx = java.nio.file.Files.createTempDirectory("graft_idx_prune").toString
    Similarity.ivfPqIndexBuild(emb, idx, trainMod = 4)
    // both cell-partitioned index tables: codes (long form) and the
    // inverted lists (vectors+codes — the single-scan probe's candidate
    // read)
    for (table <- Seq("codes.parquet", "vectors.parquet")) {
      val pruned = spark.read.parquet(s"$idx/$table")
        .filter(org.apache.spark.sql.functions.col("cell_id").isin(0L, 1L))
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
          .contains("cell_id"),
        s"$table: cell_id filter did not reach PartitionFilters:\n$plan")
    }
  }

  test("index staleness guard rebuilds on content change, memoizes when fresh") {
    val idx = java.nio.file.Files.createTempDirectory("graft_idx_stale").toString
    assert(Similarity.ivfPqIndexBuildIfStale(emb, idx, trainMod = 4),
      "first call must build")
    assert(!Similarity.ivfPqIndexBuildIfStale(emb, idx, trainMod = 4),
      "fresh index must not rebuild")
    // a DIFFERENT corpus at the same path must rebuild (bypass the JVM
    // memo by using a fresh dir seeded with the old meta)
    val idx2 = java.nio.file.Files.createTempDirectory("graft_idx_stale2").toString
    Similarity.ivfPqIndexBuild(emb.limit(100), idx2, trainMod = 4)
    assert(Similarity.ivfPqIndexBuildIfStale(emb, idx2, trainMod = 4),
      "content mismatch must rebuild")
  }

  test("winnowing guarantee: docs sharing a run >= window+k-1 chars share a fingerprint") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // k=8, window=16 → any common substring of 23+ chars must yield a
    // common fingerprint (the MOSS winnowing theorem)
    val shared = "the quick brown fox jumps!!"  // 27 chars
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    import scala.jdk.CollectionConverters._
    val two = spark.createDataFrame(Seq(
      Row(1L, s"aaaa $shared bbbb"),
      Row(2L, s"cccccc $shared dddd zz")).asJava, schema)
    val fps = Dedup.winnowFingerprints(two)
    val common = fps.filter(col("doc_id") === 1).select("fp")
      .intersect(fps.filter(col("doc_id") === 2).select("fp"))
    assert(common.count() > 0)
    // and two disjoint-alphabet docs share nothing
    val disjoint = spark.createDataFrame(Seq(
      Row(1L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),
      Row(2L, "bbbbbbbbbbbbbbbbbbbbbbbbbbbbbb")).asJava, schema)
    val dfps = Dedup.winnowFingerprints(disjoint)
    assert(dfps.filter(col("doc_id") === 1).select("fp")
      .intersect(dfps.filter(col("doc_id") === 2).select("fp")).count() == 0)
  }

  test("exact dedup groups cover all docs") {
    val g = Dedup.exactGroups(docs)
    assert(g.agg(sum("n_dups")).head.getLong(0) == docs.count())
  }

  test("identical texts share every LSH band; self-similarity is 1") {
    // duplicate doc 0 under a new id → must appear as a candidate pair
    val dup = docs.limit(1).withColumn("doc_id", lit(999999L))
    val pairs = Dedup.lshCandidatePairs(docs.limit(50).union(dup))
    val hit = pairs.filter(col("id_a") === 0 && col("id_b") === 999999)
    assert(hit.head.getLong(2) == 2) // shares both bands
  }

  test("simhash of identical texts is identical, different texts differ") {
    val sigs = Dedup.simhashSignatures(docs.limit(20))
    assert(sigs.count() == 20)
    val dup = docs.limit(1).withColumn("doc_id", lit(999999L))
    val sigs2 = Dedup.simhashSignatures(docs.limit(1).union(dup))
    val two = sigs2.collect().map(_.getString(1)).toSet
    assert(two.size == 1) // identical text → identical signature
    assert(sigs2.head.getString(1).length == 64)
  }

  test("simhash near-dup pairs: pigeonhole chunking loses no pair within the radius") {
    // compare the chunked operator against a brute-force all-pairs scan of
    // the same signatures for BOTH a narrow and a wide radius; the appended
    // duplicate of doc 0 guarantees at least one in-radius pair exists
    val dup = docs.limit(1).withColumn("doc_id", lit(999999L))
    val subset = docs.limit(60).union(dup)
    for (maxDist <- Seq(3, 12)) {
      val pairs = Dedup.simhashNearDupPairs(subset, maxDist)
        .select("id_a", "id_b", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val sigs = Dedup.simhashSignatures(subset).collect()
        .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
      val brute = (for {
        i <- sigs.indices; j <- (i + 1) until sigs.length
        d = sigs(i)._2.zip(sigs(j)._2).count { case (a, b) => a != b }
        if d <= maxDist
      } yield (sigs(i)._1, sigs(j)._1, d)).toSet
      assert(brute.exists(_._3 == 0), "expected the duplicated doc pair")
      assert(pairs == brute,
        s"maxDist=$maxDist: chunked=${pairs.size} brute=${brute.size}")
    }
  }

  test("simhash near-dup at 128-bit signatures: recall complete, widening monotone") {
    // the 128-bit scale dial: same operator, wider signature — recall
    // still matches brute force, and the first 64 chars of every 128-bit
    // signature equal the 64-bit signature (so widening only REMOVES
    // coincidental near-dup pairs, never invents them)
    val dup = docs.limit(1).withColumn("doc_id", lit(999999L))
    val subset = docs.limit(60).union(dup)
    val sigs128 = Dedup.simhashSignatures(subset, bits = 128).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    assert(sigs128.forall(_._2.length == 128))
    val sigs64 = Dedup.simhashSignatures(subset).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs128.forall { case (id, s) => s.take(64) == sigs64(id) })
    val maxDist = 12
    val pairs = Dedup.simhashNearDupPairs(subset, maxDist, sigBits = 128)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      i <- sigs128.indices; j <- (i + 1) until sigs128.length
      d = sigs128(i)._2.zip(sigs128(j)._2).count { case (a, b) => a != b }
      if d <= maxDist
    } yield (sigs128(i)._1, sigs128(j)._1, d)).toSet
    assert(brute.exists(_._3 == 0), "expected the duplicated doc pair")
    assert(pairs == brute, s"128-bit: chunked=${pairs.size} brute=${brute.size}")
  }

  test("simhash near-dup plan has no shuffle downstream of the signature scan") {
    // the single-emission join condition removed the candidate distinct —
    // the ONLY remaining exchange in the whole query is the broadcast of
    // the index side (at cluster scale a non-broadcastable index side
    // degrades to one shuffle join, still with no distinct after it)
    for (maxDist <- Seq(3, 12)) {
      val q = Dedup.simhashNearDupPairs(docs.limit(100), maxDist)
      val plan = q.queryExecution.executedPlan.toString
      val shuffles = "(?<!Broadcast)Exchange".r.findAllIn(plan).size
      assert(shuffles == 0, s"maxDist=$maxDist: unexpected shuffle in\n$plan")
    }
  }

  test("ngram jaccard df-cap drops hot shingles from candidates and sizes") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    import scala.jdk.CollectionConverters._
    // "hot hot hot hot" puts the shingle "hot hot hot" in every doc; with
    // dfCap=2 it must not create candidate pairs between otherwise-unrelated
    // docs 1/2/3, while the genuinely-shared rare shingles of 1 and 2 must
    // still pair them (Jaccard over surviving shingles = 3/3... compute)
    val hot = "hot hot hot hot"
    val rows = spark.createDataFrame(Seq(
      Row(1L, s"alpha beta gamma delta $hot"),
      Row(2L, s"alpha beta gamma delta $hot"),
      Row(3L, s"omega psi chi phi $hot")).asJava, schema)
    val capped = Dedup.ngramJaccardPairs(rows, thresholdDen = 5, dfCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // docs 1,2 share all surviving shingles → Jaccard 1 → pair kept;
    // doc 3 shares ONLY df-capped shingles with 1,2 → no pair at all
    assert(capped == Set((1L, 2L)), s"got $capped")
    // without the cap, the hot shingle alone is not enough to clear the
    // 1/5 threshold here, but it does create candidates — verify the capped
    // variant computed sizes over surviving shingles only (union of 1,2 is
    // exactly their shared rare shingles → n_common == n_union)
    val row12 = Dedup.ngramJaccardPairs(rows, thresholdDen = 5, dfCap = 2)
      .filter(col("id_a") === 1 && col("id_b") === 2).head
    assert(row12.getLong(2) == row12.getLong(3))
  }

  test("prefix-filter jaccard equals the all-pairs reference on the corpus") {
    // the 4/5-threshold answer is the 1/5 all-pairs relation filtered by
    // the exact integer cross-multiplication — same (c, u) per pair
    val all = Dedup.ngramJaccardPairs(docs)
      .filter(lit(5) * col("n_common") >= lit(4) * col("n_union")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val pref = Dedup.prefixFilterJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(all.nonEmpty, "corpus fixture should contain 0.8-jaccard pairs")
    assert(pref == all, s"prefix=${pref.size} all=${all.size} " +
      s"missing=${(all -- pref).take(3)} extra=${(pref -- all).take(3)}")
    // completeness also holds at a LOW threshold (prefix ≈ whole set);
    // there the operator degenerates to all-pairs rather than losing pairs
    val allLow = Dedup.ngramJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prefLow = Dedup.prefixFilterJaccardPairs(
      docs, thresholdNum = 1, thresholdDen = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prefLow == allLow)
  }

  test("dup span runs: hand-computed islands, scattered blocks do not merge") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val c8 = (1 to 8).map(i => s"c$i").mkString(" ")
    val d8 = (1 to 8).map(i => s"d$i").mkString(" ")
    val rows = spark.createDataFrame(Seq(
      // doc 1: shared block at the head -> one island of 4 dup positions
      Row(1L, s"$c8 x1 x2 x3 x4 x5"),
      // doc 2: same block offset by two tokens -> island positions shift,
      // run length identical
      Row(2L, s"y1 y2 $c8"),
      // doc 4: fully unique -> zero dup positions, zero run
      Row(4L, "z1 z2 z3 z4 z5 z6 z7 z8 z9"),
      // doc 5: TWO shared blocks separated by unique filler -> two islands
      // of 4 that must NOT merge (8 dup positions, max run still 4)
      Row(5L, s"$c8 m1 m2 m3 m4 m5 $d8"),
      Row(6L, s"$d8 q1 q2 q3 q4 q5")).asJava, schema)
    val got = Dedup.dupSpanRuns(rows).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == ((9L, 4L, 4L)), s"doc1 ${got(1L)}")
    assert(got(2L) == ((6L, 4L, 4L)), s"doc2 ${got(2L)}")
    assert(got(4L) == ((5L, 0L, 0L)), s"doc4 ${got(4L)}")
    assert(got(5L) == ((17L, 8L, 4L)), s"doc5 ${got(5L)}")
    assert(got(6L) == ((9L, 4L, 4L)), s"doc6 ${got(6L)}")
  }

  test("containment catches a near-subset pair that jaccard misses") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // B = A plus a long unrelated tail: containment(A in B) = 1 while
    // Jaccard(A,B) is far below 4/5; C below the minShingles floor
    val inner = (1 to 12).map(i => s"w$i").mkString(" ")
    val tail = (1 to 30).map(i => s"t$i").mkString(" ")
    val rows = spark.createDataFrame(Seq(
      Row(1L, inner),
      Row(2L, s"$inner $tail"),
      Row(3L, "a b c d e")).asJava, schema)
    val got = Dedup.containmentPairs(rows)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1 has 10 shingles, all inside doc 2 → (1, 2, 10, 10)
    assert(got.toSet == Set((1L, 2L, 10L, 10L)), s"got ${got.toSeq}")
    val jac = Dedup.ngramJaccardPairs(rows)
      .filter(lit(5) * col("n_common") >= lit(4) * col("n_union"))
      .collect()
    assert(jac.isEmpty, "the pair must NOT be a 4/5-jaccard near-dup")
  }

  test("containment on the corpus is a superset of high-jaccard pairs") {
    // any 9/10-jaccard pair is a 9/10-containment pair (n_common >= .9*union
    // >= .9*min); the corpus fixture must yield at least the exact dups
    val cont = Dedup.containmentPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val jacHigh = Dedup.ngramJaccardPairs(docs)
      .filter(lit(10) * col("n_common") >= lit(9) * col("n_union"))
      .join(Dedup.containmentPairs(docs).select(col("id_a"), col("id_b")),
        Seq("id_a", "id_b"), "left_anti")
      // tiny docs below the minShingles floor are legitimately absent
      .filter(col("n_union") >= 8)
      .collect()
    assert(cont.nonEmpty, "corpus fixture should contain containment pairs")
    assert(jacHigh.isEmpty,
      s"high-jaccard pairs missing from containment: ${jacHigh.take(3).toSeq}")
  }

  test("prefix-filter jaccard edge shapes: tiny docs and exact duplicates") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val rows = spark.createDataFrame(Seq(
      Row(1L, "a b c"),                    // one shingle
      Row(2L, "a b c"),                    // its exact duplicate
      Row(3L, "x y z w"),                  // two shingles, disjoint
      Row(4L, "a b c d")).asJava, schema)  // J(1,4) = 1/2 < 4/5
    val got = Dedup.prefixFilterJaccardPairs(rows)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), s"got $got")
  }

  test("mmr rerank demotes an exact duplicate below a diverse candidate") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // q = e_x; a and its duplicate b at rel .9; c mirrors a (same rel,
    // sim(a,c) ≈ .62) — pure relevance ranks (a, b|c, ...), MMR must pick
    // the diverse c second and the redundant duplicate b last
    val rows = spark.createDataFrame(Seq(
      Row(0L, Seq(1f, 0f, 0f)),
      Row(1L, Seq(0.9f, 0.435f, 0f)),
      Row(2L, Seq(0.9f, 0.435f, 0f)),
      Row(3L, Seq(0.9f, -0.435f, 0f))).asJava, schema)
    val got = graft.analytics.Similarity
      .mmrDiverseTopK(rows, queryId = 0L, k = 3, poolSize = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.toSeq == Seq(1L -> 1L, 2L -> 3L, 3L -> 2L), s"got ${got.toSeq}")
    // fixture sanity: rank-1 is always the relevance argmax
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val mmr = graft.analytics.Similarity.mmrDiverseTopK(emb).collect()
    val top1 = graft.analytics.Similarity.bruteForceTopK(emb, 0L, 1)
      .head.getLong(0)
    assert(mmr.head.getLong(1) == top1)
    assert(mmr.map(_.getLong(1)).distinct.length == 5)
  }

  test("k-means centroids are data-dependent cell means, not the seed vectors") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.analytics.Similarity.kMeansCentroids(emb, nCells = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cents.nonEmpty && cents.size <= 4)
    val seeds = emb.filter(col("vec_id") < 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    // Lloyd updates must move at least one surviving centroid off its seed
    // vector (a placeholder quantizer would leave all of them in place)
    assert(cents.exists { case (id, c) =>
      seeds.get(id).exists(s => s.zip(c).exists { case (a, b) => math.abs(a - b) > 1e-9 })
    }, "centroids identical to seed vectors — quantizer did no learning")
    // and every centroid is dimension-consistent with the data
    assert(cents.values.forall(_.length == seeds.values.head.length))
  }

  test("ivf top-k returns k rows, descending, query excluded") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val got = graft.analytics.Similarity.ivfTopK(emb, queryId = 0L, k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.length == 5)
    assert(!got.map(_._1).contains(0L))
    assert(got.map(_._2).sliding(2).forall(p => p.head >= p.last))
  }

  test("knn join: at most k neighbors per query, no self-pairs, per-query descending") {
    val got = graft.analytics.Similarity.knnJoinIvf(emb, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    assert(got.forall { case (q, n, _) => q != n })
    val perQuery = got.groupBy(_._1)
    assert(perQuery.values.forall(_.length <= 3))
    // within a query the custom top-k must yield the best sims first when
    // re-sorted — i.e. the emitted set IS a (sim desc, nbr asc) prefix
    assert(perQuery.values.forall { rows =>
      val sims = rows.map(_._3).sorted.reverse
      sims.zip(sims.tail).forall(p => p._1 >= p._2)
    })
    assert(got.forall { case (_, _, s) => s >= -1.0 && s <= 1.0 })
  }

  test("cosine of a vector with itself rounds to 1") {
    val self = emb.limit(5)
      .select(VectorFunctions.cosineRounded(col("embedding"), col("embedding")).as("c"))
    assert(self.collect().forall(_.getDouble(0) == 1.0))
  }

  test("brute-force top-k is ordered and excludes the query") {
    val top = Similarity.bruteForceTopK(emb, 0L, 5).collect()
    assert(top.length == 5)
    assert(!top.map(_.getLong(0)).contains(0L))
    val sims = top.map(_.getDouble(1))
    assert(sims.sameElements(sims.sorted.reverse))
  }

  test("LSH bucket results are a subset of brute-force ranking semantics") {
    val bucketTop = Similarity.lshBucketTopK(emb, 0L, 5).collect()
    assert(bucketTop.forall(_.getLong(0) != 0L))
  }

  test("multimodal stub decoder emits metadata per asset") {
    val assets = Multimodal.assetsFromText(docs.limit(10), "doc_id", "text")
    val meta = Multimodal.fakeDecodeMeta(assets).collect()
    assert(meta.length == 10)
    assert(meta.forall(_.getLong(2) > 0)) // n_bytes
    assert(meta.forall(r => r.getInt(3) >= 1 && r.getInt(3) <= 256))
    val frames = Multimodal.sampleFrameOffsets(assets, 4)
    assert(frames.count() == 40)
  }

  test("image phash: base-brightness invariance, slope sensitivity, dedup grouping") {
    val hs = Multimodal.imagePerceptualHashes(docs.limit(200))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hs.size == 200 && hs.values.forall(_.length == 64))
    // two images with identical (w, h, sx, sy) but DIFFERENT base gray must
    // hash identically — the invariance aHash exists for. ids 5 and 158
    // agree mod 17, mod 3 and on (id/3)%3 (158 = 5 + 153, 153 = lcm(17,9))
    // but differ mod 8, so only the base level differs
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val pairSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("n_chars", LongType)))
    val pair = spark.createDataFrame(
      Seq(Row(5L, 100L), Row(158L, 100L)).asJava, pairSchema)
    val ph = Multimodal.imagePerceptualHashes(pair)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ph(5L) == ph(158L), "base gray must cancel out of the hash")
    val dims = docs.limit(200).select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // a flat image (sx = sy = 0) hashes all-zero; a sloped one does not
    val flat = dims.find { case (id, _) => id % 3 == 0 && (id / 3) % 3 == 0 }
    for ((id, _) <- flat) assert(hs(id) == "0" * 64)
    val sloped = dims.find { case (id, nc) =>
      id % 3 == 2 && nc % 31 >= 16 }
    for ((id, _) <- sloped) assert(hs(id).contains("1"))
    // dedup step: representative is the group min, flags consistent
    val dd = Multimodal.imagePhashDedup(docs.limit(200)).collect()
    val byHash = dd.groupBy(_.getString(1))
    for ((_, rows) <- byHash) {
      val ids = rows.map(_.getLong(0))
      assert(rows.forall(_.getLong(2) == ids.min))
      assert(rows.forall(r => r.getInt(3) == (if (r.getLong(0) == ids.min) 0 else 1)))
    }
  }

  test("scd2 snapshot: one open row per user, contiguous validity, no same-state neighbors") {
    import org.apache.spark.sql.expressions.Window
    // normalize here too: the covering join below compares raw e.ts against
    // the snapshot's epoch-ns validity bounds
    val events = graft.analytics.EventTime.toNanos(
      spark.read.parquet(s"$sfDir/events.parquet"))
    val snap = EventsAnalytics.scd2Snapshot(events)
    // exactly one current row per user
    val perUser = snap.groupBy("user_id").agg(sum("is_current").as("n_open"))
    assert(perUser.filter(col("n_open") =!= 1).count() == 0)
    val w = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
    val seq = snap.select(col("user_id"), col("state"), col("valid_from"),
      col("valid_to"),
      lead(col("valid_from"), 1).over(w).as("next_from"),
      lead(col("state"), 1).over(w).as("next_state"))
    // each closed row's valid_to is exactly the next row's valid_from
    assert(seq.filter(col("next_from").isNotNull &&
      col("valid_to") =!= col("next_from")).count() == 0)
    // runs were collapsed: neighboring rows never share a state
    assert(seq.filter(col("next_state").isNotNull &&
      col("state") === col("next_state")).count() == 0)
    // every event's type matches the snapshot row covering its timestamp
    val covered = events.as("e").join(snap.as("s"),
      col("e.user_id") === col("s.user_id") &&
        col("e.ts") >= col("s.valid_from") &&
        (col("s.valid_to").isNull || col("e.ts") < col("s.valid_to")))
    assert(covered.filter(col("e.event_type") =!= col("s.state")).count() == 0)
  }

  test("gap fill: hand-computed LOCF, dense per-user grid, observed hours exact") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val hour = 3600000000000L
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    // user 1: obs in hours 10 and 13 (two obs in 10 — the later wins);
    // hours 11-12 carry 2.0 forward. user 2: single hour, no gaps.
    val tiny = spark.createDataFrame(Seq(
      Row(1L, 10L * hour + 5L, 1L, 1.0), Row(2L, 10L * hour + 9L, 1L, 2.0),
      Row(3L, 13L * hour, 1L, 7.0), Row(4L, 20L * hour, 2L, 9.0)
    ).asJava, schema)
    val got = EventsAnalytics.gapFill(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq.sorted
    assert(got == Seq(
      (1L, 10L, 2.0, 2L), (1L, 11L, 2.0, 0L), (1L, 12L, 2.0, 0L),
      (1L, 13L, 7.0, 1L), (2L, 20L, 9.0, 1L)))
    // fixture invariants: grid is dense per user, filled value never NULL
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val fix = EventsAnalytics.gapFill(events)
    assert(fix.filter(col("value_filled").isNull).count() == 0)
    val span = fix.groupBy("user_id").agg(count(lit(1)).as("n"),
      (max("hour_bucket") - min("hour_bucket") + 1).as("expect"))
    assert(span.filter(col("n") =!= col("expect")).count() == 0)
  }

  test("error-rate hours: shares in bp, worst hour first, ties to earliest") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    import graft.queries.ExtensionQueries
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", LongType),
      StructField("value", DoubleType)))
    val hour = 3600000000000L
    // hour 0: 1 error of 4 (2500 bp); hour 1: 1 of 2 (5000 bp)
    val rows = Seq(
      Row(1L, 1L, "error", 0L, 1.0), Row(2L, 1L, "click", 1L, 1.0),
      Row(3L, 1L, "click", 2L, 1.0), Row(4L, 1L, "click", 3L, 1.0),
      Row(5L, 1L, "error", hour, 1.0), Row(6L, 1L, "view", hour + 1, 1.0))
    val dir = java.nio.file.Files.createTempDirectory("graft_err").toString
    spark.createDataFrame(rows.asJava, schema)
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = ExtensionQueries.queries("events_error_rate_hours")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 1L, 5000L), (0L, 4L, 1L, 2500L)))
  }

  test("simpson diversity, fano burstiness, degree bands: hand cases") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    import graft.queries.ExtensionQueries
    val dir = java.nio.file.Files.createTempDirectory("graft_metrics").toString
    // simpson: "a a b" -> T=3, sum_sq=5 -> (10000*(9-5))//9 = 4444
    spark.createDataFrame(Seq(Row(1L, "a a b")).asJava,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val simp = ExtensionQueries.queries("text_diversity_simpson")(spark, dir)
      .collect().head
    assert((simp.getLong(1), simp.getLong(2)) == ((3L, 4444L)))
    // burstiness: hourly counts [1, 3] -> fano = (10000*(2*10-16))//(2*4)
    val hour = 3600000000000L
    spark.createDataFrame(Seq(
      Row(1L, 1L, "x", 0L, 1.0), Row(2L, 1L, "x", hour, 1.0),
      Row(3L, 1L, "x", hour + 1, 1.0), Row(4L, 1L, "x", hour + 2, 1.0)).asJava,
      StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("ts", LongType), StructField("value", DoubleType))))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val fano = ExtensionQueries.queries("events_burstiness")(spark, dir)
      .collect().head
    assert((fano.getLong(1), fano.getLong(2), fano.getLong(3)) ==
      ((2L, 4L, 5000L)))
  }

  test("trend slope: exact linear series recover their slope in fixed point") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", LongType),
      StructField("value", DoubleType)))
    val sec = 1000000000L
    // 'up': value rises 1.00/s (100 cents/s); 'down': falls 0.50/s
    val rows = (0 to 3).flatMap(i => Seq(
      Row(i.toLong, 1L, "up", i * sec, 1.0 * i),
      Row(10L + i, 1L, "down", i * sec, 5.0 - 0.5 * i)))
    val got = EventsAnalytics.trendSlopes(
      spark.createDataFrame(rows.asJava, schema)).collect()
      .map(r => r.getString(0) -> ((r.getInt(2), r.getLong(3)))).toMap
    assert(got("up") == ((1, 100L * 1000000000000L)))
    assert(got("down") == ((-1, 50L * 1000000000000L)))
  }

  test("scd2 as-of returns the validity row covering the instant") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", LongType),
      StructField("value", DoubleType)))
    val day = 86400000000000L
    // user 1: A at t0, B at t0+2d; as-of = t0+1d -> still A
    val rows = Seq(Row(1L, 1L, "A", 0L, 1.0), Row(2L, 1L, "B", 2 * day, 1.0),
      Row(3L, 2L, "C", 0L, 1.0))
    val got = EventsAnalytics.scd2AsOf(
      spark.createDataFrame(rows.asJava, schema)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "A", 2L -> "C"))
  }

  test("strict funnel: per-step 1h gap gates each stage") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", LongType)))
    val min = 60000000000L
    val rows = Seq(
      // user 1 completes: click 30m after view, purchase 50m after click
      Row(1L, 1L, "view", 0L), Row(2L, 1L, "click", 30 * min),
      Row(3L, 1L, "purchase", 80 * min),
      // user 2: the first click comes 2h after the view — step 1 fails
      Row(4L, 2L, "view", 0L), Row(5L, 2L, "click", 120 * min),
      // user 3: clicks in time, purchase 90m after the click — step 2 fails
      Row(6L, 3L, "view", 0L), Row(7L, 3L, "click", 10 * min),
      Row(8L, 3L, "purchase", 100 * min))
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel").toString
    spark.createDataFrame(rows.asJava, schema)
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.queries.ExtensionQueries
      .queries("events_funnel_strict")(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, 2L, 1L, 1L)))
  }

  test("capped sessions: 2h slices split a long island, gaps still split first") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts", LongType), StructField("value", DoubleType)))
    val min = 60000000000L // 1 min in ns
    // user 1: one 5h island (20-min cadence, never a 30-min gap) -> the
    // cap slices it at fixed 2h offsets into 6+6+4 events; user 2: a
    // 40-min gap -> two islands, neither near the cap
    val u1 = (0 to 15).map(i =>
      Row(100L + i, 1L, i * 20 * min, 1.0))
    val u2 = Seq(Row(200L, 2L, 0L, 1.0), Row(201L, 2L, 40 * min, 1.0))
    val d = spark.createDataFrame((u1 ++ u2).asJava, schema)
    val got = EventsAnalytics.sessionsCapped(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(got == Map(
      (1L, 1L, 0L) -> 6L, (1L, 1L, 1L) -> 6L, (1L, 1L, 2L) -> 4L,
      (2L, 1L, 0L) -> 1L, (2L, 2L, 0L) -> 1L))
  }

  test("skyline equals the naive dominance anti-join; duplicates survive") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val events = graft.analytics.EventTime.toNanos(
      spark.read.parquet(s"$sfDir/events.parquet"))
    val sky = EventsAnalytics.skyline(events).collect()
      .map(_.getLong(0)).toSet
    val p = events.filter(col("value").isNotNull && col("ts").isNotNull)
    // compare on the same µs image the operator (and DuckDB) sees
    val a = p.select(col("event_id").as("id_a"), col("value").as("v_a"),
      expr("ts div 1000").as("t_a"))
    val b = p.select(col("value").as("v_b"), expr("ts div 1000").as("t_b"))
    val naive = a.join(b,
        col("v_b") >= col("v_a") && col("t_b") <= col("t_a") &&
          (col("v_b") > col("v_a") || col("t_b") < col("t_a")), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(sky == naive, s"sky=${sky.size} naive=${naive.size}")
    assert(sky.nonEmpty)
    // crafted shapes: duplicate points both survive, an equal-value later
    // event is dominated, the earliest and the highest-value events stay
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("value", DoubleType)))
    // ts in ns; values chosen µs-scale so the operator's µs truncation
    // keeps them distinct
    val tiny = spark.createDataFrame(Seq(
      Row(1L, 10000L, 5.0), Row(2L, 10000L, 5.0), Row(3L, 20000L, 5.0),
      Row(4L, 30000L, 9.0), Row(5L, 1000L, 1.0)).asJava, schema)
    val got = EventsAnalytics.skyline(tiny).collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 4L, 5L), s"got $got")
  }

  test("winsorize caps at exact rank values; crafted percentiles verified") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val tiny = spark.createDataFrame(
      (1 to 100).map(i => Row(i.toLong, "a", i.toDouble)).asJava, schema)
    val got = EventsAnalytics.winsorize(tiny).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // ranks 1..100: lo = value at rank 5 = 5.0, hi = rank 95 = 95.0
    assert(got(1L) == 5.0 && got(4L) == 5.0 && got(5L) == 5.0)
    assert(got(95L) == 95.0 && got(96L) == 95.0 && got(100L) == 95.0)
    assert(got(50L) == 50.0)
    // fixture invariants: row count preserved, clip is idempotent and
    // bounded by the per-type caps
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val w = EventsAnalytics.winsorize(events)
    assert(w.count() == events.filter(col("value").isNotNull).count())
    val byType = w.groupBy("event_type").agg(
      min("value_w").as("lo"), max("value_w").as("hi"),
      sum(when(col("value") =!= col("value_w"), 1L).otherwise(0L)).as("clipped"),
      count(lit(1)).as("n"))
    // something was clipped, but never more than ~10% of a type
    assert(byType.filter(col("clipped") * 8 > col("n")).count() == 0)
    assert(byType.agg(sum("clipped")).head.getLong(0) > 0)
  }

  test("random projection: basis vectors read the sign matrix, k rows per vector") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // e_i projects to column i of the sign matrix: y_j = sign(j, i)
    val basis = spark.createDataFrame(
      Seq(0, 17, 63).map(i => Row(i.toLong,
        Seq.tabulate(64)(p => if (p == i) 1.0f else 0.0f))).asJava, schema)
    val got = Similarity.randomProjection(basis).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, i: Int): Int = {
      val hex = md.digest(s"rp-$j-$i".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      if (Integer.parseInt(hex, 16) % 2 == 1) 1 else -1
    }
    for (i <- Seq(0, 17, 63); j <- 0 until 16)
      assert(got((i.toLong, j)) == sign(j, i).toDouble)
    // fixture shape: exactly k rows per vector, both signs occur
    val proj = Similarity.randomProjection(emb)
    val perVec = proj.groupBy("vec_id").count()
    assert(perVec.filter(col("count") =!= 16).count() == 0)
    assert(proj.filter(col("v") > 0).count() > 0 &&
      proj.filter(col("v") < 0).count() > 0)
  }

  test("value outliers: hand-computed flags, agreement with double z-score on fixture") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    // type a: nine 10.0s and one 110.0 — mean 20, var 900, 2σ = 60;
    // only the 110 (|110-20| = 90 > 60) is an outlier. type b: constant
    // values → σ = 0, no row deviates, no flags.
    val tiny = spark.createDataFrame(
      (Seq.tabulate(9)(i => Row(i.toLong, "a", 10.0)) ++
        Seq(Row(9L, "a", 110.0), Row(10L, "b", 5.0), Row(11L, "b", 5.0)))
        .asJava, schema)
    val got = EventsAnalytics.valueOutliers(tiny).collect()
      .map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(got(9L) == 1)
    assert((0 to 8).forall(i => got(i.toLong) == 0) && got(10L) == 0 && got(11L) == 0)
    // fixture: the exact integer decision agrees with the double z-score
    // (no fixture value sits on the 2σ boundary)
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val flags = EventsAnalytics.valueOutliers(events)
    val stats = events.groupBy("event_type")
      .agg(avg("value").as("mu"), stddev_pop("value").as("sigma"))
    val ref = events.join(stats, "event_type")
      .select(col("event_id"),
        (abs(col("value") - col("mu")) > lit(2.0) * col("sigma"))
          .cast("int").as("ref_flag"))
    val joined = flags.join(ref, "event_id")
    assert(joined.filter(col("is_outlier") =!= col("ref_flag")).count() == 0)
    assert(flags.filter(col("is_outlier") === 1).count() > 0)
  }

  test("cluster-balanced sample is the per-cell lowest-id quota of the full assignment") {
    import org.apache.spark.sql.expressions.Window
    // perCell larger than the corpus = the full cell assignment
    val full = Similarity.clusterBalancedSample(emb, perCell = Int.MaxValue)
    assert(full.count() == emb.count())
    val sample = Similarity.clusterBalancedSample(emb)
    val expected = full.withColumn("rn",
        row_number().over(Window.partitionBy(col("cell_id")).orderBy(col("vec_id"))))
      .filter(col("rn") <= 10).drop("rn")
    assert(sample.count() == expected.count())
    assert(sample.exceptAll(expected).count() == 0)
    val sizes = sample.groupBy("cell_id").count()
    assert(sizes.filter(col("count") > 10).count() == 0)
    // the index-probe path must reproduce the direct answer exactly (the
    // index's grouped coarse chain is bit-identical to the direct chain)
    val idx = java.nio.file.Files.createTempDirectory("graft_cbs_spec").toString
    Similarity.ivfPqIndexBuild(emb, idx, trainMod = 4)
    val probe = Similarity.clusterBalancedSampleFromIndex(spark, idx)
    assert(probe.count() == sample.count())
    assert(probe.exceptAll(sample).count() == 0)
  }

  test("events sessions are non-overlapping per user") {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val s = EventsAnalytics.sessions(events)
    val total = s.agg(sum("n_events")).head.getLong(0)
    assert(total == events.count())
  }

  test("incremental dedup admits only batch-representative, corpus-unseen docs") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val corpus = spark.createDataFrame(Seq(
      Row(1L, "seen before"), Row(2L, "also seen")).asJava, schema)
    val batch = spark.createDataFrame(Seq(
      Row(10L, "Seen BEFORE "), // fingerprint-dup of corpus doc 1 → dropped
      Row(11L, "brand new"), // genuinely new → admitted
      Row(12L, "brand new"), // batch-internal dup of 11 → dropped
      Row(13L, "another new one")).asJava, schema)
    val admitted = Dedup.incrementalNew(corpus, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(11L, 13L))
  }

  test("bloom-prefiltered contamination scan equals the exact join (bloom adds no rows, loses none)") {
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val viaBloom = Decontaminate.bloomNgramScan(corpus, bench, n = 3)
    val exact = Dedup.shingles(corpus, 3)
      .join(Dedup.shingles(bench, 3).select("s").distinct(), Seq("s"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated_grams"))
    assert(viaBloom.exceptAll(exact).isEmpty && exact.exceptAll(viaBloom).isEmpty)
    assert(viaBloom.count() > 0) // non-vacuous at sf0.001 with 3-grams
  }

  test("incremental LSH append equals the cross-generation slice of the full candidate join") {
    val old = docs.filter(col("doc_id") % 10 =!= 9)
    val nw = docs.filter(col("doc_id") % 10 === 9)
    val inc = Dedup.minhashIndexAppend(old, nw).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // ground truth: the full-corpus candidate join, restricted to pairs
    // with exactly one endpoint in the arriving generation
    val full = Dedup.lshCandidatePairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter { case (a, b, _) => (a % 10 == 9) != (b % 10 == 9) }
      .map { case (a, b, n) =>
        if (a % 10 == 9) (b, a, n) else (a, b, n) }.toSet
    assert(inc == full)
    assert(inc.nonEmpty) // non-vacuous on the fixture
  }

  test("ewma anomaly: hand-computed burst and drop, steady values unflagged") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    val tiny = spark.createDataFrame(Seq(
      Row(1L, 1000L, 1L, 10.0), Row(2L, 2000L, 1L, 10.0),
      Row(3L, 3000L, 1L, 10.0), Row(4L, 4000L, 1L, 100.0),
      Row(5L, 5000L, 1L, 1.0)).asJava, schema)
    val got = EventsAnalytics.ewmaAnomaly(tiny).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    // 100 > 4x the ~10 running level; 1 < 1/4 of the post-spike level;
    // the steady prefix never alarms
    assert(got == Map(4L -> "burst", 5L -> "drop"))
  }

  test("ewma: hand-computed dyadic weights, partial windows renormalize") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    val tiny = spark.createDataFrame(Seq(
      Row(1L, 1000L, 1L, 1.0), Row(2L, 2000L, 1L, 3.0)).asJava, schema)
    val got = EventsAnalytics.ewma(tiny).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // first observation: only its own 2^15 weight → ewma is the value itself
    assert(got(1L) == ((1000L * 32768L, 1.0)))
    // second: (3.0*2^15 + 1.0*2^14) / (2^15 + 2^14) = 7/3 exactly
    assert(got(2L) == ((3000L * 32768L + 1000L * 16384L, 7.0 / 3.0)))
  }

  test("transitions: hand-computed matrix with distinct-user support") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    val tiny = spark.createDataFrame(Seq(
      Row(1L, 1000L, 1L, "A"), Row(2L, 2000L, 1L, "B"), Row(3L, 3000L, 1L, "A"),
      Row(4L, 1000L, 2L, "A"), Row(5L, 2000L, 2L, "B")).asJava, schema)
    val got = EventsAnalytics.transitions(tiny).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(("A", "B") -> ((2L, 2L)), ("B", "A") -> ((1L, 1L))))
  }

  test("markovNextEval: hand case — alternating stream, perfect held-out accuracy") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    // A B A B … ×10: train = first 8 ranks (A→B ×4, B→A ×3), test = the
    // last two pairs — both predicted correctly by the argmax model
    val rows = (1 to 10).map(i =>
      Row(i.toLong, i * 1000L, 1L, if (i % 2 == 1) "A" else "B"))
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.markovNextEval(tiny).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      "A" -> ((1L, 1L, 10000L)), "B" -> ((1L, 1L, 10000L))))
  }

  test("topComponentPower finds the dominant direction of a constructed corpus") {
    import spark.implicits._
    // every vector points mostly along dim 1: the ∞-normalized top
    // component peaks there at exactly 10^6 and stays small elsewhere
    val vecs = (0 until 20).map { i =>
      (i.toLong, Seq(0.01f * (i % 3), 0.5f + 0.001f * i, 0.02f), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.topComponentPower(vecs).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got(1) == 1000000L)
    assert(math.abs(got(0)) < 100000 && math.abs(got(2)) < 100000)
  }

  test("embeddingGram equals the posexplode self-join gram") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // the former join formulation, verbatim
    def joinGram(emb: DataFrame): DataFrame = {
      val old = emb.repartition(col("vec_id"))
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("vec_id"), col("i"),
          expr("CAST(floor(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,16)) * 1000000) AS BIGINT)")
            .as("xf"))
      old.alias("a").join(old.alias("b"), Seq("vec_id"))
        .filter(col("a.i") <= col("b.i"))
        .select(col("a.i").as("i"), col("b.i").as("j"),
          (col("a.xf") * col("b.xf")).cast("decimal(38,0)").as("p"))
        .groupBy(col("i"), col("j")).agg(sum(col("p")).as("g"))
    }
    def entries(gram: DataFrame): Seq[(Int, Int, Option[BigInt])] =
      gram.collect().toSeq.map(r => (r.getInt(0), r.getInt(1),
        Option(r.getDecimal(2)).map(d => BigInt(d.toBigInteger)))).sorted
    def sameAsJoin(emb: DataFrame): Seq[(Int, Int, Option[BigInt])] = {
      val got = entries(Similarity.embeddingGram(emb))
      assert(got == entries(joinGram(emb)))
      got
    }
    assert(sameAsJoin(emb).nonEmpty)

    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    def frame(rows: (Long, Seq[java.lang.Float])*): DataFrame =
      spark.createDataFrame(rows.map { case (id, v) => Row(id, v) }.asJava, schema)
    def f(x: Float): java.lang.Float = x
    // a null row, a null slot, a ragged vector whose last slot is null
    // (entries (i, 4) are reached only through it: their sums are null)
    val mixed = sameAsJoin(frame(
      1L -> Seq(f(1.5f), f(-2.25f), f(0.5f)),
      2L -> null,
      3L -> Seq(f(0.75f), null, f(1f)),
      4L -> Seq(f(1f), f(2f), f(3f), f(4f), null)))
    val at = mixed.map(e => (e._1, e._2) -> e._3).toMap
    assert(at((0, 0)).contains(BigInt("3812500000000"))) // (1.5² + 0.75² + 1²)·10¹²
    assert(at((0, 1)).contains(BigInt("-1375000000000"))) // 1.5·-2.25 + 1·2
    assert(at((3, 3)).contains(BigInt("16000000000000")))
    assert((0 to 4).forall(i => at((i, 4)).isEmpty) && at.size == 15)
    // a single-element vector, and an empty frame
    assert(sameAsJoin(frame(7L -> Seq(f(0.5f)))) ==
      Seq((0, 0, Some(BigInt("250000000000")))))
    assert(sameAsJoin(frame()).isEmpty)
    assert(Similarity.topComponentPower(frame()).isEmpty)
    // sums past Long.MaxValue: 3000 quantizes to 3·10⁹, so every vector
    // adds ±9·10¹⁸ to each entry; nine vectors overflow a Long in any
    // partition holding two or more of them
    val big = (1 to 9).map(i => i.toLong -> Seq(f(3000f), f(-3000f)))
    assert(sameAsJoin(frame(big: _*)) == Seq(
      (0, 0, Some(BigInt("81000000000000000000"))),
      (0, 1, Some(BigInt("-81000000000000000000"))),
      (1, 1, Some(BigInt("81000000000000000000")))))
    // one partition's partials carry into BigInteger exactly
    val partials = Similarity.gramPartials(
      Iterator.fill(3)(Row(Seq(3000000000L, -3000000000L)))).toSeq
    assert(partials.map(r => (r.getInt(0), r.getInt(1), BigInt(r.getDecimal(2).toBigInteger))) ==
      Seq((0, 0, BigInt("27000000000000000000")),
        (0, 1, BigInt("-27000000000000000000")),
        (1, 1, BigInt("27000000000000000000"))))
  }

  test("bitext margin pairs match a full driver-side replica") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val langOf = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecOf = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // mirror the adaptive cut: bitlength(n/8) clamped to [8, 16] over the
    // two-language corpus count (8 at this fixture scale)
    val nSide = vecOf.keys.count(id =>
      langOf.get(id).exists(l => l == "en" || l == "es")).toLong
    val nBits = math.min(16, math.max(8,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(nSide / 8, 1L))))
    val k = 4
    def bucket(v: Array[Float]): String =
      v.take(nBits).map(x => if (x > 0f) '1' else '0').mkString
    // mirror dotDecimal exactly: per-element double product cast to
    // DECIMAL(18,16) (HALF_UP), exact decimal accumulation
    def dotDec(a: Array[Float], b: Array[Float]): JBD =
      a.zip(b).map { case (x, y) =>
        // cast-to-DECIMAL also goes through the shortest decimal repr
        JBD.valueOf(x.toDouble * y.toDouble).setScale(16, RoundingMode.HALF_UP)
      }.foldLeft(JBD.ZERO)(_.add(_))
    def simFp(a: Array[Float], b: Array[Float]): Long = {
      val cos = dotDec(a, b).doubleValue() /
        (math.sqrt(dotDec(a, a).doubleValue()) *
          math.sqrt(dotDec(b, b).doubleValue()))
      // Spark's Round on DoubleType goes through BigDecimal.decimal
      // (shortest decimal repr), not the exact binary expansion
      val r6 = JBD.valueOf(cos).setScale(6, RoundingMode.HALF_UP).doubleValue()
      JBD.valueOf(r6 * 1000000.0).setScale(0, RoundingMode.HALF_UP).longValue()
    }
    val sideA = vecOf.keys.filter(id => langOf.get(id).contains("en")).toSeq.sorted
    val sideB = vecOf.keys.filter(id => langOf.get(id).contains("es")).toSeq.sorted
    val cand = (for {
      ia <- sideA; ib <- sideB
      if bucket(vecOf(ia)) == bucket(vecOf(ib))
      s = simFp(vecOf(ia), vecOf(ib)) if s > 0
    } yield (ia, ib, s)).toSeq
    def topKSums(byKey: Map[Long, Seq[(Long, Long)]]): Map[Long, (Long, Long)] =
      byKey.map { case (id, nbrs) =>
        val top = nbrs.sortBy { case (o, s) => (-s, o) }.take(k)
        id -> ((top.map(_._2).sum, top.size.toLong))
      }
    val sumsA = topKSums(cand.groupBy(_._1)
      .map { case (a, xs) => a -> xs.map(t => (t._2, t._3)) })
    val sumsB = topKSums(cand.groupBy(_._2)
      .map { case (b, xs) => b -> xs.map(t => (t._1, t._3)) })
    val scored = cand.map { case (a, b, s) =>
      val (sa, ca) = sumsA(a)
      val (sb, cb) = sumsB(b)
      (a, b, s, (2L * s * ca * cb * 10000L) / (sa * cb + sb * ca))
    }
    val fwd = scored.groupBy(_._1).map { case (_, xs) =>
      xs.minBy { case (_, b, _, m) => (-m, b) } }.toSet
    val bwd = scored.groupBy(_._2).map { case (_, xs) =>
      xs.minBy { case (a, _, _, m) => (-m, a) } }.toSet
    val expected = fwd.intersect(bwd).filter(_._4 >= 10000L)
      .map { case (a, b, s, m) => (a, b, s, m) }
    val got = Similarity.bitextMarginPairs(docs, emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
    // mutual-best ⇒ each side appears at most once
    assert(got.toSeq.map(_._1).distinct.size == got.size)
    assert(got.toSeq.map(_._2).distinct.size == got.size)
  }

  test("benford: hand digits + the nine ppm constants partition 10^6") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    // cents 100, 25, 999, 1 → first digits 1, 2, 9, 1
    val tiny = spark.createDataFrame(Seq(
      Row(1L, 1000L, 1L, 1.0), Row(2L, 2000L, 1L, 0.25),
      Row(3L, 3000L, 1L, 9.99), Row(4L, 4000L, 1L, 0.01)).asJava, schema)
    val got = EventsAnalytics.benfordFirstDigit(tiny).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    assert(got == Map(
      1 -> ((2L, 500000L, 198970L)),
      2 -> ((1L, 250000L, 73909L)),
      9 -> ((1L, 250000L, 204243L))))
    // the expectation constants surface per digit: log10(2), log10(3/2),
    // log10(10/9) in ppm
    assert(EventsAnalytics.benfordFirstDigit(tiny).collect()
      .map(r => r.getInt(0) -> r.getLong(3)).toMap ==
      Map(1 -> 301030L, 2 -> 176091L, 9 -> 45757L))
  }

  test("peak hours: zero-filled gap hours form real two-sided neighborhoods") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val hourNs = 3600L * 1000000000L
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("event_type", StringType)))
    // type 'a' occupancy: hr0 ×1, hr2 ×5, hr4 ×1 → dense [1,0,5,0,1]
    val rows = (Seq((0L, 1)) ++ Seq.fill(5)((2L, 1)) ++ Seq((4L, 1)))
      .zipWithIndex.map { case ((hr, _), i) =>
        Row(i.toLong, hr * hourNs + 1000L * i, "a") }
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.peakHours(tiny).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // only hr2 peaks: endpoints excluded, the zero hours are not peaks but
    // they ARE the neighbors that make hr2 one
    assert(got.toSeq == Seq(("a", 2L, 5L, 0L, 0L)))
  }

  test("BFS from hubs: star+chain hand case, depth cap excludes the tail") {
    import spark.implicits._
    val edges = (Seq("x1", "x2", "x3", "x4", "x5").map(x => ("h", x)) ++
      Seq(("x1", "y1"), ("y1", "z1"), ("z1", "w1")))
      .toDF("id_a", "id_b")
    val got = analytics.Dedup.bfsDepthFromHubs(edges, nHubs = 1, maxDepth = 3)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("h" -> 0, "x1" -> 1, "x2" -> 1, "x3" -> 1,
      "x4" -> 1, "x5" -> 1, "y1" -> 2, "z1" -> 3)) // w1 is 4 hops out
  }

  test("k-center greedy: hand case on a line, tie to smallest id, radii non-increasing") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val pts = spark.createDataFrame(Seq(
      Row(0L, Seq(0.0f)), Row(1L, Seq(1.0f)),
      Row(2L, Seq(0.1f)), Row(3L, Seq(0.9f))).asJava, schema)
    val got = Similarity.kCenterSample(pts, k = 4).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // seed 0; farthest is 1.0 (d2 = 10000^2); then 0.1 and 0.9 tie at
    // 1000^2 — smaller vec_id (2) first
    assert(got == Seq((1, 0L, 0L), (2, 1L, 100000000L),
      (3, 2L, 1000000L), (4, 3L, 1000000L)))
    // on the fixture corpus the radius sequence never increases
    val radii = Similarity.kCenterSample(emb, k = 6).collect()
      .drop(1).map(_.getLong(2)).toSeq
    assert(radii == radii.sorted.reverse)
    // k beyond the corpus size returns the full selection, not an NPE
    val all = Similarity.kCenterSample(pts, k = 9).collect()
      .map(_.getLong(1)).toSeq
    assert(all.sorted == Seq(0L, 1L, 2L, 3L))
  }

  test("robust daily anomaly: constructed spike flags, steady days don't") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("event_type", StringType)))
    // type a: 2 events/day on days 0..6, 20 on day 7 → med2=4 (with the
    // spike day, median of [2×7,20] is 2), MAD2 = 0 → spike flags, the
    // steady days (absdev2 = 0) don't
    val rows = (0 to 6).flatMap(d => Seq.fill(2)(d.toLong)) ++ Seq.fill(20)(7L)
    val tiny = spark.createDataFrame(
      rows.zipWithIndex.map { case (d, i) =>
        Row(i.toLong, d * dayNs + i, "a") }.asJava, schema)
    val got = EventsAnalytics.dailyVolumeAnomalies(tiny, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a", 7L, 20L)))
  }

  test("error-budget burn: fast spike pages, slow leak tickets through a silent hour") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val hourNs = 3600L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType)))
    def hour(h: Long, n: Int, errs: Int): Seq[Row] =
      (0 until n).map(i =>
        Row(h * hourNs + i, if (i < errs) "error" else "view"))
    // h0: 1% (exactly at budget), h1: 50% outage, h2 silent, h3 clean
    val rows = hour(0, 100, 1) ++ hour(1, 100, 50) ++ hour(3, 10, 0)
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.errorBudgetBurn(tiny).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5), r.getInt(6)))).toMap
    assert(got(0L) == ((100L, 1L, 1000L, 1000L, 0, 0)))
    assert(got(1L) == ((100L, 50L, 50000L, 25500L, 1, 1)))
    // zero-traffic hour: no 1h signal, but the 6h window still burns
    assert(got(2L) == ((0L, 0L, 0L, 25500L, 0, 1)))
    assert(got(3L) == ((10L, 0L, 0L, 51L * 100000L / 210L, 0, 1)))
  }

  test("matryoshka curve: the full-width rung recalls exactly 10000") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rows = Seq(
      Row(0L, Seq(1.0f, 0.1f, -0.3f, 0.8f)),
      Row(1L, Seq(0.9f, 0.2f, -0.2f, 0.7f)),
      Row(2L, Seq(-0.5f, 1.0f, 0.4f, -0.6f)),
      Row(3L, Seq(0.2f, -0.8f, 0.9f, 0.1f)),
      Row(4L, Seq(1.0f, 0.0f, -0.4f, 0.9f)))
    val emb = spark.createDataFrame(rows.asJava, schema)
    val got = Similarity.matryoshkaRecallCurve(
      emb, queryIds = Seq(0L), k = 3, widths = Seq(2, 4)).collect()
      .map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(4)))).toMap
    assert(got(4) == ((3L, 10000L)))          // width = dim ⇒ identity
    assert(got(2)._1 == 3L && got(2)._2 <= 10000L)
  }

  test("closeness from hubs: hand chain, depth-bounded sum, per-seed") {
    import spark.implicits._
    // hub h (deg 3) → a,b,x; chain a-c-d-e; depth cap 3 leaves e out
    val edges = Seq(("h", "a"), ("h", "b"), ("h", "x"),
      ("a", "c"), ("c", "d"), ("d", "e")).toDF("id_a", "id_b")
    val got = analytics.Dedup.closenessFromHubs(edges, nHubs = 1, maxDepth = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // reached: h(0) a,b,x(1) c(2) d(3) → n 6, Σd 8, (6−1)·10⁶/8
    assert(got.toSeq == Seq(("h", 6L, 8L, 625000L)))
  }

  test("SRM check: constructed 30/2 imbalance flags, 10/10 balance does not") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    def arm(u: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(u.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 2
    }
    val ids = (1L to 400L)
    val a0 = ids.filter(arm(_) == 0).take(30)
    val a1 = ids.filter(arm(_) == 1).take(2)
    val b0 = ids.filter(arm(_) == 0).take(10)
    val b1 = ids.filter(arm(_) == 1).take(10)
    val schema = StructType(Seq(
      StructField("event_type", StringType), StructField("user_id", LongType)))
    val rows = (a0 ++ a1).map(u => Row("a", u)) ++
      (b0 ++ b1).map(u => Row("b", u))
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.srmCheck(tiny).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))).toMap
    assert(got("a") == ((30L, 2L, 28L * 28 * 1000 / 32, 1, 1)))
    assert(got("b") == ((10L, 10L, 0L, 0, 0)))
  }

  test("CUPED: BigInt replay matches; constant covariate falls back to raw mean") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    def arm(u: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(u.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 2
    }
    val xy = Map(1L -> (100L, 200L), 2L -> (200L, 400L),
      3L -> (300L, 500L), 4L -> (400L, 900L))
    val rows = xy.toSeq.flatMap { case (u, (x, y)) => Seq(
      Row(u, 0L, "purchase", x / 100.0), Row(u, 100L, "purchase", y / 100.0)) }
    val tiny = spark.createDataFrame(rows.asJava, schema)
    // exact BigInt replay of the common-denominator form
    val n = BigInt(xy.size)
    val sx = BigInt(xy.values.map(_._1).sum); val sy = BigInt(xy.values.map(_._2).sum)
    val sxy = xy.values.map { case (x, y) => BigInt(x) * y }.sum
    val sxx = xy.values.map { case (x, _) => BigInt(x) * x }.sum
    val dd = n * sxx - sx * sx; val nt = n * sxy - sx * sy
    val expect = xy.keys.groupBy(arm).map { case (a, us) =>
      val na = BigInt(us.size)
      val sxa = BigInt(us.map(xy(_)._1).sum); val sya = BigInt(us.map(xy(_)._2).sum)
      a -> ((us.size.toLong, (sya / na).toLong,
        ((BigInt(1000) * (sya * dd * n - nt * (sxa * n - sx * na))) /
          (na * dd * n)).toLong,
        (nt * 1000000 / dd).toLong))
    }
    val got = EventsAnalytics.cupedAdjustment(tiny).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got == expect)
    // constant covariate: var(X) = 0 → adjusted mean is the raw mean
    val flat = spark.createDataFrame(Seq(
      Row(1L, 0L, "purchase", 1.00), Row(1L, 100L, "purchase", 3.00),
      Row(2L, 0L, "purchase", 1.00), Row(2L, 100L, "purchase", 5.00)).asJava,
      schema)
    val g2 = EventsAnalytics.cupedAdjustment(flat).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(g2.forall { case (raw, adj, th) => adj == raw * 1000 && th == 0L })
  }

  test("B-cubed: over-merged cluster penalizes precision only; perfect scores 10^6") {
    import spark.implicits._
    // gold {1,2} {3}; clustering lumps all three together
    val assign = Seq((1L, 100L), (2L, 100L), (3L, 100L)).toDF("doc_id", "c")
    val gold = Seq((1L, "ga"), (2L, "ga"), (3L, "gb")).toDF("doc_id", "g")
    val r = analytics.Dedup.bcubedEval(assign, gold).collect().head
    val p = (666666L + 666666L + 333333L) / 3   // per-element floors
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, p, 1000000L, (2 * p * 1000000L) / (p + 1000000L))))
    // the gold clustering itself is perfect on all three axes
    val perfect = analytics.Dedup.bcubedEval(
      gold.select(col("doc_id"), col("g").as("c")), gold).collect().head
    assert((perfect.getLong(1), perfect.getLong(2), perfect.getLong(3)) ==
      ((1000000L, 1000000L, 1000000L)))
  }

  test("dim-select eval: zero-variance dims drop out, thin index recalls fully") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // dims 0,1 carry all the signal; dims 2,3 are constant zero, so the
    // 2-dim thin index ranks exactly like the full vectors
    val rows = Seq(
      Row(0L, Seq(1.0f, 0.1f, 0.0f, 0.0f)),
      Row(1L, Seq(0.9f, 0.2f, 0.0f, 0.0f)),
      Row(2L, Seq(0.1f, 1.0f, 0.0f, 0.0f)),
      Row(3L, Seq(-0.8f, 0.3f, 0.0f, 0.0f)),
      Row(4L, Seq(0.5f, 0.5f, 0.0f, 0.0f)))
    val emb = spark.createDataFrame(rows.asJava, schema)
    val got = Similarity.dimSelectRecallEval(
      emb, queryIds = Seq(0L), k = 3, nDims = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 3L, 3L, 10000L)))
  }

  test("seasonal-naive backtest: linear cents series gives exact MAE and mean APE") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    // cents(d) = 100·d on days 0..20 → forecast error 700 on every
    // evaluated day 7..20
    val rows = (0 to 20).map(d => Row(d * dayNs, "a", d.toDouble))
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.seasonalNaiveBacktest(tiny).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .head
    val apes = (7 to 20).map(d => 700L * 10000L / (100L * d))
    assert(got == (("a", 14L, 700L, apes.sum / 14L)))
  }

  test("bandit replay: md5 arm replay matches driver-side aggregate exactly") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val data = Seq(
      (0L, 1L, "purchase", 10.00), (1L, 1L, "view", 99.0),
      (2L, 2L, "purchase", 2.50), (3L, 2L, "purchase", 4.00),
      (4L, 3L, "view", 1.0), (5L, 3L, "purchase", 8.00))
    val tiny = spark.createDataFrame(
      data.map { case (e, u, t, v) => Row(e, u, t, v) }.asJava, schema)
    def md5arm(prefix: String, id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$prefix$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 6)
      java.lang.Long.parseLong(hex, 16) % 3
    }
    val rows = data.map { case (e, u, t, v) =>
      (md5arm("log-", e), md5arm("tgt-", u),
        if (t == "purchase") math.round(v * 100) else 0L)
    }
    def agg(m: ((Long, Long, Long)) => Boolean): (Long, Long, Long, Long) = {
      val hit = rows.filter(m)
      val mean = if (hit.isEmpty) 0L else hit.map(_._3).sum / hit.size
      (rows.size.toLong, hit.size.toLong,
        hit.size.toLong * 10000L / rows.size, mean)
    }
    val expect = Map(
      "logged" -> agg(_ => true),
      "hash_by_user" -> agg(r => r._1 == r._2),
      "fixed_arm0" -> agg(r => r._1 == 0L))
    val got = EventsAnalytics.banditReplayEval(tiny).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expect.map { case (k, (a, b, c, d)) => k -> ((a, b, c, d)) })
  }

  test("interval overlap join: bucketed join equals the hand overlap table") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", LongType)))
    // u1 active days [0,3]; u2 [20,40]; campaign c covers [7c, 7c+13]
    val rows = Seq(Row(1L, 0L), Row(1L, 3L * dayNs),
      Row(2L, 20L * dayNs), Row(2L, 40L * dayNs))
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.intervalOverlapJoin(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 0L, 4L),                       // [0,3] inside c0 [0,13]
      (2L, 1L, 1L),                       // touches c1's last day 20
      (2L, 2L, 8L), (2L, 3L, 14L),        // c3 [21,34] fully inside
      (2L, 4L, 13L), (2L, 5L, 6L)))
  }

  test("survival hazard: hand risk sets, churn days, boundary censoring") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", LongType)))
    // u1: days 0-2 (churns day 2); u2: 0-5 (censored at the corpus end);
    // u3: 3-5 (censored); u4: day 1 only (churns day 1)
    val spans = Seq(1L -> Seq(0, 1, 2), 2L -> Seq(0, 3, 5),
      3L -> Seq(3, 4, 5), 4L -> Seq(1))
    val rows = spans.flatMap { case (u, ds) => ds.map(d => Row(u, d * dayNs)) }
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.survivalHazard(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sortBy(_._1)
    assert(got == Seq(
      (0L, 2L, 0L, 0L, 0L),
      (1L, 3L, 1L, 333333L, 333333L),
      (2L, 2L, 1L, 500000L, 833333L),
      (3L, 2L, 0L, 0L, 833333L),
      (4L, 2L, 0L, 0L, 833333L),
      (5L, 2L, 0L, 0L, 833333L))) // censored exits add no hazard
  }

  test("props schema profile: enriched keys get coverage, cardinality and types") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val rows = Seq(
      Row(0L, 1L, 3.5, """{"k": 7}"""),   // class 0 → gains amt "3.50"
      Row(1L, 4L, 9.9, """{"k": 8}"""),   // class 1 → tag "t4", flag true
      Row(2L, 2L, 1.0, """{"k": 9}"""))   // class 2 → untouched
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.propsSchemaProfile(tiny).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(got == Map(
      "k" -> ((3L, 10000L, 3L, 3L, 0L, 0L, 0L)),
      "amt" -> ((1L, 3333L, 1L, 0L, 1L, 0L, 0L)),
      "tag" -> ((1L, 3333L, 1L, 0L, 0L, 0L, 1L)),
      "flag" -> ((1L, 3333L, 1L, 0L, 0L, 1L, 0L))))
  }

  test("Theil–Sen: linear series gives the exact slope, a terminal spike can't drag the median") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType)))
    // type a: counts 1,2,3,4,5 on days 0..4 → every pairwise slope is
    // exactly 1000 milli; type b: 1..6 on days 0..5 then 100 on day 6 —
    // 15 of 21 slopes stay 1000, so the median ignores the spike (OLS
    // would not)
    val rows =
      (0 to 4).flatMap(d => Seq.fill(d + 1)(Row(d * dayNs, "a"))) ++
      (0 to 5).flatMap(d => Seq.fill(d + 1)(Row(d * dayNs, "b"))) ++
      Seq.fill(100)(Row(6L * dayNs, "b"))
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.theilSenDailyTrend(tiny).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      "a" -> ((5L, 10L, 2000L)),
      "b" -> ((7L, 21L, 2000L))))
  }

  test("Mann-Kendall: monotone series scores S = n(n-1)/2; all-tied var18 is 0") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType)))
    // type a: counts 1,2,3 on days 0..2 — every pair concordant: S = 3,
    // var18 = 3·2·11 = 66, z² = 18·(3−1)²/66 = 1.0909 → 1090 milli.
    // type b: counts 2,2 — S = 0, tie term 2·1·9 = 18 zeroes var18 and
    // the CASE keeps z2 at 0 instead of dividing by zero.
    val rows =
      (0 to 2).flatMap(d => Seq.fill(d + 1)(Row(d * dayNs, "a"))) ++
      (0 to 1).flatMap(d => Seq.fill(2)(Row(d * dayNs, "b")))
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.mannKendallDailyTrend(tiny).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got == Map(
      "a" -> ((3L, 3L, 0L, 66L, 1090L)),
      "b" -> ((2L, 0L, 18L, 0L, 0L))))
  }

  test("Spearman daily corr: perfectly co-moving series give +1e6 ppm; other types ignored") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType)))
    // clicks 1,2,3 and purchases 2,4,6 on days 0..2 → identical rank
    // orders, ρ = +1. The day-5 'view' burst must not stretch the grid.
    val rows =
      (0 to 2).flatMap(d => Seq.fill(d + 1)(Row(d * dayNs, "click"))) ++
      (0 to 2).flatMap(d => Seq.fill(2 * (d + 1))(Row(d * dayNs, "purchase"))) ++
      Seq.fill(9)(Row(5L * dayNs, "view"))
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.spearmanDailyCorr(tiny).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) ==
      ((3L, 0L, 0L, 1000000L)))
    // reversed purchases → ρ = −1 exactly (ranks anti-aligned)
    val rev =
      (0 to 2).flatMap(d => Seq.fill(d + 1)(Row(d * dayNs, "click"))) ++
      (0 to 2).flatMap(d => Seq.fill(2 * (3 - d))(Row(d * dayNs, "purchase")))
    val got2 = EventsAnalytics.spearmanDailyCorr(
      spark.createDataFrame(rev.asJava, schema)).collect().head
    assert(got2.getLong(3) == -1000000L)
    // constant purchase series → den factor 0: guarded ρ² reads 0 (ANSI)
    val const =
      (0 to 2).flatMap(d => Seq.fill(d + 1)(Row(d * dayNs, "click"))) ++
      (0 to 2).flatMap(d => Seq.fill(2)(Row(d * dayNs, "purchase")))
    val got3 = EventsAnalytics.spearmanDailyCorr(
      spark.createDataFrame(const.asJava, schema)).collect().head
    assert(got3.getLong(3) == 0L)
  }

  test("Pettitt: level-shift K and earliest argmax by hand; zero-filled gap day") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType)))
    // type a: daily counts 1,1,5,5 -> V = -2,-2,2,2, U = -2,-4,-2,(0):
    // K = 4 at t_hat = day 1; exp image 6000*16/(64+16) = 1200.
    // type b: counts 2,0,2 (day 1 zero-filled) -> U = 1,-1,(0): K = 1
    // at day 0; 6000/(27+9) = 166.
    val rows =
      Seq(0, 1).map(d => Row(d * dayNs, "a")) ++
      Seq(2, 3).flatMap(d => Seq.fill(5)(Row(d * dayNs, "a"))) ++
      Seq(0, 2).flatMap(d => Seq.fill(2)(Row(d * dayNs, "b")))
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.pettittChangepoint(tiny).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5)))).toMap
    assert(got == Map(
      "a" -> ((4L, 4L, 1L, 1200L, 0)),
      "b" -> ((3L, 1L, 0L, 166L, 0))))
  }

  test("McNemar: discordant cells and continuity-corrected chi2 by hand") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType)))
    // mid = 50: u1 both halves (a), u2 early-only (b), u3/u5/u6
    // late-only (c=3), u4 never (d). chi2_cc = 1000*(|1-3|-1)^2/4 = 250.
    val rows = Seq(
      Row(0L, 1L, "purchase"), Row(100L, 1L, "purchase"),
      Row(0L, 2L, "purchase"), Row(100L, 2L, "view"),
      Row(0L, 3L, "view"), Row(100L, 3L, "purchase"),
      Row(0L, 4L, "view"), Row(50L, 4L, "view"),
      Row(0L, 5L, "view"), Row(100L, 5L, "purchase"),
      Row(0L, 6L, "view"), Row(100L, 6L, "purchase"))
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.mcnemarConversion(tiny).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4), got.getLong(5), got.getInt(6)) ==
      ((6L, 1L, 1L, 3L, 1L, 250L, 0)))
    // symmetric discordance (b = c) must read 0, not (|0|-1)^2 noise;
    // b + c = 0 (all concordant) exercises the same CASE arm
    val sym = Seq(
      Row(0L, 1L, "purchase"), Row(100L, 1L, "view"),
      Row(0L, 2L, "view"), Row(100L, 2L, "purchase"))
    val g2 = EventsAnalytics.mcnemarConversion(
      spark.createDataFrame(sym.asJava, schema)).collect().head
    assert((g2.getLong(2), g2.getLong(3), g2.getLong(5)) == ((1L, 1L, 0L)))
  }

  test("fragment stitch: tail-head gram pairs are directional, short docs skip") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z a b c"),        // tail "a b c"
      (2L, "a b c q r s"),        // head "a b c"
      (3L, "a b c"),              // 3 tokens < 2k → skipped
      (4L, "a b c a b c"))        // head AND tail "a b c"
      .toDF("doc_id", "text")
    val got = analytics.Dedup.fragmentStitchPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 4L), (4L, 2L)))
  }

  test("heavy changers: hand halves around the exact midpoint, |delta| order") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", LongType),
      StructField("event_type", StringType)))
    // span [0, 100] → mid = 50; ts = 50 counts in the second half
    val rows = Seq(
      Row(1L, 0L, "a"), Row(1L, 60L, "a"), Row(1L, 61L, "a"),
      Row(1L, 62L, "a"), Row(1L, 64L, "a"), Row(1L, 100L, "a"),
      Row(2L, 1L, "b"), Row(2L, 2L, "b"), Row(2L, 3L, "b"),
      Row(3L, 4L, "c"), Row(3L, 70L, "c"))
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.heavyChangers(tiny, k = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      (1L, "a", 1L, 5L, 4L, 50000L),   // grew 1 → 5
      (2L, "b", 3L, 0L, -3L, 0L),      // vanished
      (3L, "c", 1L, 1L, 0L, 10000L)))  // flat
  }

  test("Poisson bootstrap: replica weights replay the md5 inverse-CDF exactly") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    // three days of purchase revenue: 100, 250, 400 cents
    val rows = Seq(
      Row(0L * dayNs, "purchase", 1.00), Row(1L * dayNs, "purchase", 2.50),
      Row(2L * dayNs, "purchase", 4.00), Row(1L * dayNs, "view", 99.0))
    val tiny = spark.createDataFrame(rows.asJava, schema)
    // driver-side replay of the frozen inverse-CDF draw
    val thresholds = Seq(6171992L, 12343985L, 15429982L, 16458647L,
      16715813L, 16767247L, 16775819L)
    def weight(rep: Int, day: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"boot-$rep:$day".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 6)
      val u = java.lang.Long.parseLong(hex, 16)
      thresholds.indexWhere(u < _) match {
        case -1 => 7L
        case i  => i.toLong
      }
    }
    val cents = Map(0L -> 100L, 1L -> 250L, 2L -> 400L)
    val expect = (0 until 8).map { b =>
      val ws = cents.keys.toSeq.sorted.map(d => d -> weight(b, d)).toMap
      val sw = ws.values.sum
      val m = if (sw == 0) 0L else ws.map { case (d, w) => w * cents(d) }.sum / sw
      (b.toLong, sw, m)
    }
    val got = EventsAnalytics.bootstrapDailyMeanCI(tiny, reps = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(_._1)
    assert(got == expect)
  }

  test("runs test: alternating series by hand; median ties drop out") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    // type a: daily dollars 1,5,1,5,1,5 -> m2=600, signs alternate:
    // R=6, num = 36-18-6 = 12, den = 216 -> z2 = 720000//216 = 3333
    // type b: 2,2,4 -> m2=400; the two median days (2*c = m2) drop,
    // leaving one scored day with num 0
    val rows =
      Seq(1, 5, 1, 5, 1, 5).zipWithIndex.map { case (v, d) =>
        Row(d * dayNs, "a", v.toDouble) } ++
      Seq(2, 2, 4).zipWithIndex.map { case (v, d) =>
        Row(d * dayNs, "b", v.toDouble) }
    val got = EventsAnalytics.runsTest(
      spark.createDataFrame(rows.asJava, schema)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getInt(6)))).toMap
    assert(got == Map(
      "a" -> ((6L, 3L, 3L, 6L, 3333L, 0)),
      "b" -> ((1L, 1L, 0L, 1L, 0L, 0))))
  }

  test("Durbin-Watson: alternating residuals read ~4-ish; constant series 0") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    // a: cents 100,300,100,300 -> DW = 1.2e5/4e4 = 3.000 exactly
    val rows =
      Seq(1, 3, 1, 3).zipWithIndex.map { case (v, d) =>
        Row(d * dayNs, "a", v.toDouble) } ++
      Seq(2, 2).zipWithIndex.map { case (v, d) =>
        Row(d * dayNs, "b", v.toDouble) }
    val got = EventsAnalytics.durbinWatson(
      spark.createDataFrame(rows.asJava, schema)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("a" -> ((4L, 3000L)), "b" -> ((2L, 0L))))
  }

  test("Theil U: hand lag-2 case — seasonal errors double naive-1") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    // cents 100..500: lag-2 AE = 200*3 = 600 vs lag-1 AE = 300:
    // rel_mae 2000; squares 1.2e5 vs 3e4: u2 4000
    val rows = (1 to 5).map(v => Row((v - 1).toLong * dayNs, "a", v.toDouble))
    val got = EventsAnalytics.forecastTheilU(
      spark.createDataFrame(rows.asJava, schema), season = 2)
      .collect().head
    assert((got.getString(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4), got.getLong(5)) ==
      (("a", 3L, 600L, 300L, 2000L, 4000L)))
  }

  test("transition diversity: successor Simpson stats from hand bigrams") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    // bigrams: a->b x2, a->c x1, b->c x1. prev a: n=3 over 2 types,
    // sq=5 -> gini 444445 ppm, eff 1800 milli; prev b: deterministic
    val rows = Seq(
      Row(0L, 1L, 1L, "a"), Row(1L, 2L, 1L, "b"), Row(2L, 3L, 1L, "c"),
      Row(0L, 4L, 2L, "a"), Row(1L, 5L, 2L, "b"),
      Row(0L, 6L, 3L, "a"), Row(1L, 7L, 3L, "c"))
    val got = EventsAnalytics.transitionDiversity(
      spark.createDataFrame(rows.asJava, schema)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      "a" -> ((3L, 2L, 444445L, 1800L)),
      "b" -> ((1L, 1L, 0L, 1000L))))
  }

  test("capture-recapture: exact and LSH detectors meet in Chapman's estimate") {
    import spark.implicits._
    // (1,2): identical text -> caught by BOTH detectors.
    // (3,4): case variant -> fingerprint-only (shingles differ).
    // n1=2, n2=1, m=1, union=2: Chapman = 3*2/2 - 1 = 2 -> missed 0
    val docs = Seq(
      (1L, "x y z w"), (2L, "x y z w"),
      (3L, "A b c"), (4L, "a b c"),
      (5L, "an entirely unrelated document")).toDF("doc_id", "text")
    val got = Dedup.captureRecapture(docs).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4), got.getLong(5)) == ((2L, 1L, 1L, 2L, 2000L, 0L)))
  }

  test("p-chart: only the 8/10 error day leaves the 3-sigma band") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType)))
    // p = 10/30; day2 (8 errors of 10): (8*30-10*10)^2 = 19600 >
    // 9*10*20*10 = 18000 -> out; days 0-1 (1 of 10) stay in
    def day(d: Long, errs: Int): Seq[Row] =
      (0 until errs).map(i => Row(d * dayNs + i, "error")) ++
        (errs until 10).map(i => Row(d * dayNs + i, "view"))
    val rows = day(0, 1) ++ day(1, 1) ++ day(2, 8)
    val got = EventsAnalytics.errorPChart(
      spark.createDataFrame(rows.asJava, schema)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4)))).toMap
    assert(got == Map(
      0L -> ((10L, 1L, 1000L, 0)),
      1L -> ((10L, 1L, 1000L, 0)),
      2L -> ((10L, 8L, 8000L, 1))))
  }

  test("time to convert: censored users in the share, out of the quartiles") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val m = 60L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType)))
    // lags: u1 10min, u2 30min, u4 0min; u3 never converts
    val rows = Seq(
      Row(0L, 1L, "view"), Row(10L * m, 1L, "purchase"),
      Row(0L, 2L, "view"), Row(30L * m, 2L, "purchase"),
      Row(0L, 3L, "view"),
      Row(0L, 4L, "purchase"))
    val got = EventsAnalytics.timeToConvert(
      spark.createDataFrame(rows.asJava, schema)).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4), got.getLong(5)) == ((4L, 3L, 7500L, 0L, 10L, 30L)))
  }

  test("Hodges-Lehmann: Walsh-average median by hand; single day passthrough") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    // a: daily cents 100,200,600 -> Walsh avgs 100,150,200,350,400,600:
    // HL = 275 cents = 275000 milli; b: single 500-cent day
    val rows = Seq(
      Row(0L * dayNs, "a", 1.0), Row(1L * dayNs, "a", 2.0),
      Row(2L * dayNs, "a", 6.0),
      Row(0L * dayNs, "b", 5.0))
    val got = EventsAnalytics.hodgesLehmannDaily(
      spark.createDataFrame(rows.asJava, schema)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "a" -> ((6L, 275000L)),
      "b" -> ((1L, 500000L))))
  }

  test("watermark lateness: prefix max crosses bucket and superbucket carries") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val h = 3600L * 1000000000L
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType)))
    // arrival (by id): 100h, 200h, 50h (150h late), 201h, 199h (2h late),
    // then bucket 1 (ids 4096/4097): 300h, 10h (290h late via carry1),
    // then superbucket 1 (id 2^24): 5h (295h late via carry2)
    val rows = Seq(
      Row(1L, 100L * h), Row(2L, 200L * h), Row(3L, 50L * h),
      Row(4L, 201L * h), Row(5L, 199L * h),
      Row(4096L, 300L * h), Row(4097L, 10L * h),
      Row(16777216L, 5L * h))
    val got = EventsAnalytics.watermarkLateness(
      spark.createDataFrame(rows.asJava, schema)).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4), got.getLong(5)) ==
      ((8L, 4L, 3L, 3L, 5000L, 3750L)))
  }

  test("session concurrency: overlap peak and the idle-gap average by hand") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val m = 60L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_id", LongType),
      StructField("user_id", LongType)))
    // u1: [0,11) + a second session [45,46) after the 35-min gap;
    // u2: single event -> [5,6). peak 2 at minute 5; sum conc = 13
    // over 47 grid minutes -> avg 276 milli
    val rows = Seq(
      Row(0L * m, 1L, 1L), Row(10L * m, 2L, 1L), Row(45L * m, 3L, 1L),
      Row(5L * m, 4L, 2L))
    val got = EventsAnalytics.sessionConcurrency(
      spark.createDataFrame(rows.asJava, schema)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(0L -> ((2L, 276L))))
  }

  test("MK FDR: BH walk rejects only the strong trend at m=3") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType)))
    // a: counts 1..10 -> z2 = 18000*44^2/2250 = 15488 (clears 5732)
    // c: 1,2,1,2 -> S=2, var18=120 -> z2 = 150; b: flat -> 0
    val rows =
      (0 to 9).flatMap(d => Seq.fill(d + 1)(Row(d * dayNs, "a"))) ++
      Seq(1, 2, 1, 2).zipWithIndex.flatMap { case (c, d) =>
        Seq.fill(c)(Row(d * dayNs, "c")) } ++
      (0 to 1).flatMap(d => Seq.fill(2)(Row(d * dayNs, "b")))
    val got = EventsAnalytics.mannKendallFdrBH(
      spark.createDataFrame(rows.asJava, schema)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(5)))).toMap
    assert(got == Map(
      "a" -> ((1L, 3L, 15488L, 5732L, 1)),
      "c" -> ((2L, 3L, 150L, 4529L, 0)),
      "b" -> ((3L, 3L, 0L, 3842L, 0))))
  }

  test("tracking signal: steady over-forecast trips the +-4 alarm at n=4") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    // a: cents 100..600, lag-2 errors all +200: TS = 4*800/800*1000
    // = 4000 -> alarm. b: period-2 series, zero errors -> guarded 0.
    val rows =
      (1 to 6).map(v => Row((v - 1).toLong * dayNs, "a", v.toDouble)) ++
      Seq(1, 2, 1, 2).zipWithIndex.map { case (v, d) =>
        Row(d.toLong * dayNs, "b", v.toDouble) }
    val got = EventsAnalytics.trackingSignal(
      spark.createDataFrame(rows.asJava, schema), season = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(5)))).toMap
    assert(got == Map(
      "a" -> ((4L, 800L, 800L, 4000L, 1)),
      "b" -> ((2L, 0L, 0L, 0L, 0))))
  }

  test("Qini deciles: curve replays the md5 arms and value-grouped buckets") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val convSet = Set(2L, 5L, 7L)
    // user u: u pre-mid views (score u), one view at 100 pinning the
    // range, converters purchase at 90
    val rows = (1L to 8L).flatMap { u =>
      (0 until u.toInt).map(i => Row(i.toLong, u, "view", 0.0)) ++
        Seq(Row(100L, u, "view", 0.0)) ++
        (if (convSet(u)) Seq(Row(90L, u, "purchase", 1.0)) else Nil)
    }
    def arm(u: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(u.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 2
    }
    // driver-side replay: scores are distinct 1..8, walk descending
    val users = (1L to 8L).map(u => (u, u, if (convSet(u)) 1L else 0L, arm(u)))
    val desc = users.sortBy(-_._2)
    val buckets = desc.zipWithIndex.map { case ((u, _, cv, a), i) =>
      (10L * i / 8L + 1L, cv, a)
    }
    val byBucket = buckets.groupBy(_._1).toSeq.sortBy(_._1)
    var (cnt1, cnt0, cv1, cv0) = (0L, 0L, 0L, 0L)
    val expect = byBucket.map { case (b, rs) =>
      cnt1 += rs.count(_._3 == 1L); cnt0 += rs.count(_._3 == 0L)
      cv1 += rs.filter(_._3 == 1L).map(_._2).sum
      cv0 += rs.filter(_._3 == 0L).map(_._2).sum
      (b, cnt1, cnt0, cv1, cv0,
        1000L * cv1 - 1000L * cv0 * cnt1 / math.max(1L, cnt0))
    }
    val got = EventsAnalytics.qiniDeciles(
      spark.createDataFrame(rows.asJava, schema)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq.sortBy(_._1)
    assert(got == expect)
  }

  test("Cochran Q: hand marginals; all-constant blocks zero the statistic") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType)))
    // u1:{a,b}, u2:{a}, u3:{a,b,c} -> C=(3,2,1), R=(2,1,3):
    // Q = 2*(3*14-36)/(18-14) = 3 -> 3000 milli; df=2 crit 5992
    val rows = Seq(
      Row(0L, 1L, "a"), Row(1L, 1L, "b"), Row(2L, 1L, "a"),
      Row(0L, 2L, "a"),
      Row(0L, 3L, "a"), Row(1L, 3L, "b"), Row(2L, 3L, "c"))
    val got = EventsAnalytics.cochranQ(
      spark.createDataFrame(rows.asJava, schema)).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4), got.getInt(5)) == ((3L, 3L, 6L, 3000L, 2L, 0)))
    // every user reaches every type: numerator and denominator both 0
    val const = Seq(
      Row(0L, 1L, "a"), Row(1L, 1L, "b"),
      Row(0L, 2L, "a"), Row(1L, 2L, "b"))
    val g2 = EventsAnalytics.cochranQ(
      spark.createDataFrame(const.asJava, schema)).collect().head
    assert((g2.getLong(3), g2.getInt(5)) == ((0L, 0)))
  }

  test("diff-in-diff: cell means and DiD replay the md5 arm assignment") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    // every user pins the [0,100] range; purchases place pre/post cents
    val purchases = Map(
      1L -> (1000L, 2000L), 2L -> (0L, 500L), 3L -> (800L, 0L),
      4L -> (0L, 0L))
    val rows = purchases.keys.toSeq.sorted.flatMap { u =>
      val (pre, post) = purchases(u)
      Seq(Row(0L, u, "view", 0.0), Row(100L, u, "view", 0.0)) ++
        (if (pre > 0) Seq(Row(10L, u, "purchase", pre / 100.0)) else Nil) ++
        (if (post > 0) Seq(Row(90L, u, "purchase", post / 100.0)) else Nil)
    }
    def arm(u: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(u.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 2
    }
    val byArm = purchases.groupBy { case (u, _) => arm(u) }
    def cell(a: Long): (Long, Long, Long) = {
      val m = byArm.getOrElse(a, Map.empty)
      (m.size.toLong, m.values.map(_._1).sum, m.values.map(_._2).sum)
    }
    val (n0, pre0, post0) = cell(0L); val (n1, pre1, post1) = cell(1L)
    val expDid =
      1000L * ((post1 - pre1) * n0 - (post0 - pre0) * n1) /
        (if (n1 * n0 == 0) 1L else n1 * n0)
    val got = EventsAnalytics.diffInDiff(
      spark.createDataFrame(rows.asJava, schema)).collect().head
    assert((got.getLong(0), got.getLong(1)) == ((n0, n1)))
    assert(got.getLong(2) == 1000L * pre0 / math.max(1L, n0))
    assert(got.getLong(5) == 1000L * post1 / math.max(1L, n1))
    assert(got.getLong(6) == expDid)
  }

  test("permutation test: sign flips replay the md5 coins exactly") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    // day diffs (cents): d0 = 100-40 = 60, d1 = 0-250 = -250, d2 = 300
    // -> S_obs = |110|; 'error' rows must be ignored
    val rows = Seq(
      Row(0L * dayNs, "click", 1.00), Row(0L * dayNs, "view", 0.40),
      Row(1L * dayNs, "view", 2.50),
      Row(2L * dayNs, "click", 3.00), Row(1L * dayNs, "error", 99.0))
    val tiny = spark.createDataFrame(rows.asJava, schema)
    def flip(rep: Int, day: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"perm-$rep:$day".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 6)
      java.lang.Long.parseLong(hex, 16) < 8388608L
    }
    val diffs = Map(0L -> 60L, 1L -> -250L, 2L -> 300L)
    val sObs = math.abs(diffs.values.sum)
    val reps = 16
    val nGe = (0 until reps).count { b =>
      math.abs(diffs.map { case (d, v) =>
        if (flip(b, d)) v else -v }.sum) >= sObs
    }
    val got = EventsAnalytics.permutationTestDailyDiff(tiny, reps = 16)
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) ==
      ((3L, sObs, 16L, nGe.toLong, 1000L * (1 + nGe) / 17)))
  }

  test("dedup savings: hand corpus — exact subsumed by fingerprint, neardup from pairs") {
    import spark.implicits._
    val d = Seq(
      (1L, "same text", 9L), (2L, "same text", 9L),   // exact dup pair
      (3L, "Same  Text", 10L),                         // fp-only variant? (fingerprint lowers/trims, not collapse)
      (4L, "unique one", 10L), (5L, "unique two", 10L))
      .toDF("doc_id", "text", "n_chars")
    val pairs = Seq((4L, 5L)).toDF("id_a", "id_b") // near-dup candidates
    val got = analytics.Dedup.dedupSavingsReport(d, pairs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // exact: group {1,2} → 1 group, 2 affected, 1 removed, 9 chars
    assert(got("exact") == ((1L, 2L, 1L, 9L)))
    // fingerprint: same group (internal double space differs from single —
    // fingerprint only lowercases/trims, so doc 3 stays its own group)
    assert(got("fingerprint") == ((1L, 2L, 1L, 9L)))
    // neardup: CC over pairs → {4,5} plus the raw-exact docs untouched
    assert(got("neardup") == ((1L, 2L, 1L, 10L)))
  }

  test("rolling 7-day RANGE frame: calendar gaps shorten the window (ROWS would not)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    // type a: value 1.00 on days 0, 1, 10 — day 10's window covers days
    // 4..10, so ONLY day 10 itself (a ROWS-2 frame would wrongly add both)
    val tiny = spark.createDataFrame(Seq(
      Row(1L, 0L * dayNs, "a", 1.0), Row(2L, 1L * dayNs, "a", 1.0),
      Row(3L, 10L * dayNs, "a", 1.0)).asJava, schema)
    val got = graft.queries.ExtensionQueries.queries("events_rolling_7day")
      .apply(spark, sfDir) // fixture smoke: runs
    assert(got.columns.toSeq ==
      Seq("event_type", "day", "day_cents", "rolling7_cents"))
    import org.apache.spark.sql.expressions.Window
    val daily = tiny
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
      .agg(expr("CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)")
        .as("day_cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rangeBetween(-6, 0)
    val roll = daily.withColumn("r", sum(col("day_cents")).over(w))
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(roll == Map(0L -> 100L, 1L -> 200L, 10L -> 100L))
  }

  test("audience overlap: hand-computed intersection and Jaccard") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("event_type", StringType), StructField("user_id", LongType)))
    // A users {1,2,3}, B users {2,3,4,4-dup}: inter 2, union 4 → 5000 bp
    val tiny = spark.createDataFrame(Seq(
      Row(1L, 1L, "A", 1L), Row(2L, 2L, "A", 2L), Row(3L, 3L, "A", 3L),
      Row(4L, 4L, "B", 2L), Row(5L, 5L, "B", 3L), Row(6L, 6L, "B", 4L),
      Row(7L, 7L, "B", 4L)).asJava, schema)
    val u = tiny.select(col("event_type"), col("user_id")).distinct()
    val sizes = u.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val inter = u.select(col("event_type").as("type_a"), col("user_id"))
      .join(u.select(col("event_type").as("type_b"), col("user_id")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_both"))
      .join(broadcast(sizes.toDF("type_a", "n_a")), Seq("type_a"))
      .join(broadcast(sizes.toDF("type_b", "n_b")), Seq("type_b"))
      .select(col("n_a"), col("n_b"), col("n_both"),
        expr("(n_both * 10000L) div (n_a + n_b - n_both)").as("j"))
      .collect().head
    assert((inter.getLong(0), inter.getLong(1), inter.getLong(2),
      inter.getLong(3)) == ((3L, 3L, 2L, 5000L)))
  }

  test("matryoshka eval: full-dim prefix is a perfect retriever; truncation only loses") {
    // prefix = all 64 dims → identical rankings → recall exactly 10000
    val self = Similarity.matryoshkaRecallEval(emb, prefixDims = 64).collect()
    assert(self.nonEmpty)
    self.foreach { r =>
      assert(r.getLong(1) == 10L && r.getLong(2) == 10L && r.getLong(3) == 10000L)
    }
    val cut = Similarity.matryoshkaRecallEval(emb, prefixDims = 8).collect()
    cut.foreach(r => assert(r.getLong(3) <= 10000L && r.getLong(1) == 10L))
  }

  test("ngram novelty: duplicate doc scores zero, first copy scores full") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "x y")) // 3: under 3 tokens
      .toDF("doc_id", "text")
    val got = DataQuality.ngramNoveltyRate(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(1L -> ((2L, 2L, 10000L)), 2L -> ((2L, 0L, 0L))))
  }

  test("gif shot cuts: detected cuts equal the generator's mod-256 wraps") {
    val got = Multimodal.gifFrameGrays(docs.limit(64))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    // per-frame grays from REAL decode equal the generator formula
    got.foreach { case ((id, f), g) => assert(g == ((id + 37 * f) % 256).toInt) }
    // and every adjacent delta is either 37 or the 219 wrap
    val byAsset = got.groupBy(_._1._1)
    byAsset.foreach { case (_, fr) =>
      val seq = fr.toSeq.sortBy(_._1._2).map(_._2)
      seq.sliding(2).foreach { case Seq(a, b) =>
        assert(math.abs(b - a) == 37 || math.abs(b - a) == 219)
      case _ => ()
      }
    }
  }

  test("hll union: per-source and merged estimates inside the band, exact counts honest") {
    val got = Sketches.hllUnionSources(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(got.values.forall(_._2 == 1)) // every flag inside the band
    val exactUnion = docs
      .select(explode(split(col("text"), " ")).as("tk"))
      .filter(col("tk") =!= "").agg(countDistinct(col("tk"))).head.getLong(0)
    assert(got("__union__")._1 == exactUnion)
    assert(got.size >= 2 && got.keySet.contains("__union__"))
  }

  test("assortativity: a star is exactly -1 (r2_signed_ppm = -10^6)") {
    import spark.implicits._
    val star = Seq(("h", "x1"), ("h", "x2"), ("h", "x3"), ("h", "x4"))
      .toDF("id_a", "id_b")
    val got = analytics.Dedup.degreeAssortativity(star).collect().head
    assert((got.getLong(0), got.getLong(1)) == ((4L, -1000000L)))
    // a cycle is degree-regular: zero variance → defined as 0
    val cycle = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("id_a", "id_b")
    val reg = analytics.Dedup.degreeAssortativity(cycle).collect().head
    assert((reg.getLong(0), reg.getLong(1)) == ((3L, 0L)))
  }

  test("inter-arrival bands: hand gaps land in their power-of-two bands") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    // user 1, type a: gaps 1 s, 3 s, 16 s → bands 1, 2, 4; a same-ts pair
    // for user 2 → gap 0 → band 0
    val tiny = spark.createDataFrame(Seq(
      Row(1L, 0L, 1L, "a"), Row(2L, 1000000000L, 1L, "a"),
      Row(3L, 4000000000L, 1L, "a"), Row(4L, 20000000000L, 1L, "a"),
      Row(5L, 7L, 2L, "a"), Row(6L, 7L, 2L, "a")).asJava, schema)
    val got = EventsAnalytics.interArrivalBands(tiny).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      ("a", 0) -> ((1L, 0L, 0L)), ("a", 1) -> ((1L, 1L, 1L)),
      ("a", 2) -> ((1L, 3L, 3L)), ("a", 4) -> ((1L, 16L, 16L))))
  }

  test("modularity: two cliques with one cross edge, hand-computed ppm") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("d", "e"), ("d", "f"), ("e", "f"), ("a", "d")).toDF("id_a", "id_b")
    val member = Seq("a" -> "X", "b" -> "X", "c" -> "X",
      "d" -> "Y", "e" -> "Y", "f" -> "Y").toDF("node", "community")
    val got = analytics.Dedup.communityModularity(edges, member).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // m=7; each clique: e_in=3, deg_sum=7 → 10^6·(4·7·3 − 49)/(4·49) = 178571
    assert(got == Map("X" -> ((3L, 3L, 7L, 178571L)),
      "Y" -> ((3L, 3L, 7L, 178571L))))
    // the anti-community partition (odd split) must score strictly lower
    val bad = Seq("a" -> "X", "b" -> "Y", "c" -> "X",
      "d" -> "Y", "e" -> "X", "f" -> "Y").toDF("node", "community")
    val qBad = analytics.Dedup.communityModularity(edges, bad).collect()
      .map(_.getLong(4)).sum
    assert(qBad < 2 * 178571L)
  }

  test("SPRT monitor: hand grid with gap day; both boundary crossings") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dayNs = 86400L * 1000000000L
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("event_type", StringType)))
    // day0: 1 success + 3 failures -> llr 223144 - 3*64539 = 29527
    // day1: empty (dense grid row, llr carries)
    // day2: 20 successes -> 29527 + 20*223144 = 4492407 >= 2944439 -> +1
    val rows = (Seq(Row(0L, "purchase")) ++
      (1 to 3).map(i => Row(i.toLong, "view")) ++
      (1 to 20).map(i => Row(2L * dayNs + i, "purchase"))).asJava
    val tiny = spark.createDataFrame(rows, schema)
    val got = EventsAnalytics.sprtMonitor(tiny).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))).toMap
    assert(got == Map(
      0L -> ((4L, 1L, 29527L, 0)),
      1L -> ((0L, 0L, 29527L, 0)),
      2L -> ((20L, 20L, 4492407L, 1))))
    // all failures: 50 * -64539 = -3226950 <= -2944439 -> accept H0
    val lo = spark.createDataFrame(
      (1 to 50).map(i => Row(i.toLong, "view")).asJava, schema)
    val g2 = EventsAnalytics.sprtMonitor(lo).collect()
    assert(g2.length == 1 && g2(0).getLong(3) == -3226950L &&
      g2(0).getInt(4) == -1)
  }

  test("winsorized metric: p95 cap interpolates at the exact 20x image") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    // user totals in cents: 100 200 300 400 10000; p95 pos = 0.95*4 = 3.8
    // cap = 400 + 0.8*(10000-400) = 8080 -> cap_x20 161600
    // win totals: 100 200 300 400 8080 -> sum_x20 181600
    val rows = Seq((1L, 100L), (2L, 200L), (3L, 300L), (4L, 400L),
      (5L, 10000L)).map { case (u, c) => Row(u, "purchase", c / 100.0) }
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.winsorizedMetric(tiny).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) ==
      ((5L, 11000L * 1000 / 5, 181600L * 50 / 5, 161600L)))
    // non-purchase rows are ignored entirely
    val noise = spark.createDataFrame((rows ++ Seq(Row(9L, "view", 99.0))).asJava, schema)
    assert(EventsAnalytics.winsorizedMetric(noise).collect()(0).getLong(0) == 5L)
  }

  test("ratio jackknife: BigInt replay incl. the all-in-one-bucket guard") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 6)
      java.lang.Long.parseLong(hex, 16) % 16
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val ev = Seq((1L, 500L), (2L, 300L), (3L, 700L), (4L, 100L), (5L, 400L))
    val tiny = spark.createDataFrame(
      ev.map { case (id, c) => Row(id, "purchase", c / 100.0) }.asJava, schema)
    val n = ev.size.toLong; val s = ev.map(_._2).sum
    val perB = ev.groupBy { case (id, _) => bucket(id) }
      .map { case (b, es) => b -> ((es.size.toLong, es.map(_._2).sum)) }
    val expect = perB.map { case (b, (nb, sb)) =>
      b -> ((nb, sb, s * 1000 / n,
        if (n == nb) 0L else (s - sb) * 1000 / (n - nb),
        (if (n == nb) 0L else (s - sb) * 1000 / (n - nb)) - s * 1000 / n))
    }
    val got = EventsAnalytics.ratioJackknife(tiny).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got == expect)
    // degenerate: every event in ONE bucket -> r_loo 0, d = -r_full
    val sameB = (1L to 200L).filter(bucket(_) == bucket(1L)).take(3)
    assert(sameB.size == 3)
    val one = spark.createDataFrame(
      sameB.map(id => Row(id, "purchase", 2.00)).asJava, schema)
    val g1 = EventsAnalytics.ratioJackknife(one).collect()
    assert(g1.length == 1 && g1(0).getLong(4) == 0L &&
      g1(0).getLong(5) == -g1(0).getLong(3))
  }

  test("rich club: clique-plus-pendants hand graph, exact phi per threshold") {
    import spark.implicits._
    // K5 among a..e (deg 4 each) + 3 pendants on a (deg(a)=7)
    val k5 = Seq("a","b","c","d","e").combinations(2).map(p => (p(0), p(1))).toSeq
    val edges = (k5 ++ Seq(("a","p1"), ("a","p2"), ("a","p3")))
      .toDF("id_a", "id_b")
    val got = analytics.Dedup.richClubCoefficients(edges, Seq(2, 4, 6))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // deg: a=7, b..e=4, pendants=1
    // k=2: nodes {a..e}=5, edges with min_deg>2 = the 10 clique edges
    //   phi = 10*1e6 / C(5,2)=10 -> 1000000
    // k=4: nodes {a}=1 -> phi 0 (guard); edges with min>4: none
    // k=6: nodes {a}=1, edges 0 -> 0
    assert(got == Map(2L -> ((5L, 10L, 1000000L)),
      4L -> ((1L, 0L, 0L)), 6L -> ((1L, 0L, 0L))))
  }

  test("column profile: null and distinct counts per column") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("x", LongType),
      StructField("y", StringType)))
    val df = spark.createDataFrame(Seq(
      Row(1L, "a"), Row(2L, null), Row(2L, "a"), Row(null, "b")).asJava, schema)
    val got = analytics.DataQuality.columnProfile(df, Seq("x", "y")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map("x" -> ((4L, 1L, 2L)), "y" -> ((4L, 1L, 2L))))
  }

  test("bloom FPR audit: replayed md5 bits; tiny filter saturates to high FPR") {
    import spark.implicits._
    val dim = (1L to 200L).toDF("c_custkey")
    val got = analytics.Sketches.bloomFprAudit(dim, "c_custkey",
      mBits = 64, numHashes = 2).collect()(0)
    // driver-side replay of the exact md5 bit pattern
    def posOf(i: Int, v: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$v".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 12), 16) % 64
    }
    val bits = (1L to 200L).flatMap(v => Seq(posOf(0, v), posOf(1, v))).toSet
    val fp = (1L to 200L).map(_ + 201L * 10L)
      .count(q => bits(posOf(0, q)) && bits(posOf(1, q))).toLong
    assert((got.getLong(0), got.getLong(1), got.getLong(3), got.getLong(4),
      got.getLong(5)) == ((64L, 2L, 200L, fp, fp * 1000000L / 200L)))
    // 200 keys x 2 hashes into 64 bits: filter is saturated, FPR ~ 1
    assert(fp > 150L)
  }

  test("MDE power: replayed isqrt; rarer event needs bigger detectable lift") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("event_type", StringType), StructField("user_id", LongType)))
    // 10 users total; 'a': 5 users (p=.5), 'b': 1 user (p=.1)
    val rows = (1L to 10L).map(u => Row("base", u)) ++
      (1L to 5L).map(u => Row("a", u)) ++ Seq(Row("b", 1L))
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = EventsAnalytics.mdePower(tiny).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    def isqrt(v: BigInt): Long = {
      val s0 = BigInt(math.sqrt(v.toDouble).toLong)
      (if ((s0 + 1) * (s0 + 1) <= v) s0 + 1
       else if (s0 * s0 > v) s0 - 1 else s0).toLong
    }
    def mde(pPpm: Long, nArm: Long): Long =
      isqrt(BigInt(7848851) * 2 * pPpm * (1000000L - pPpm) / (1000000L * nArm))
    assert(got("a") == ((10L, 5L, 500000L, mde(500000L, 5L))))
    assert(got("b") == ((10L, 5L, 100000L, mde(100000L, 5L))))
    // p=.5 maximizes variance: its MDE strictly exceeds the p=.1 one
    assert(got("a")._4 > got("b")._4)
  }

  test("demand intermittency: all four SBC quadrants from hand streams") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("l_partkey", LongType),
      StructField("l_shipdate", TimestampType), StructField("l_quantity", DoubleType)))
    def ts(day: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(java.time.LocalDate.of(1992, 1, 1)
        .plusDays(day).atStartOfDay())
    // span = 12 days (d 0..11). part 1 'smooth': daily-ish (12 days),
    // equal q. part 2 'intermittent': 2 demand days, equal q (ADI 6).
    // part 3 'erratic': 12 days, wildly varying q. part 4 'lumpy': 2
    // days, varying q.
    val rows =
      (0 to 11).map(d => Row(1L, ts(d), 5.0)) ++
      Seq(Row(2L, ts(0), 5.0), Row(2L, ts(11), 5.0)) ++
      (0 to 11).map(d => Row(3L, ts(d), if (d == 0) 100.0 else 1.0)) ++
      Seq(Row(4L, ts(0), 100.0), Row(4L, ts(11), 1.0))
    val tiny = spark.createDataFrame(rows.asJava, schema)
    val got = analytics.DataQuality.demandIntermittency(tiny).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
    assert(got(1L)._3 == "smooth" && got(1L)._1 == 1000L && got(1L)._2 == 0L)
    assert(got(2L)._3 == "intermittent" && got(2L)._1 == 6000L)
    assert(got(3L)._3 == "erratic")
    assert(got(4L)._3 == "lumpy")
  }

  test("Neyman allocation: zero-variance stratum gets zero; quotas floor-split") {
    import spark.implicits._
    // s1: lengths 10,10 -> var 0 -> w 0. s2: 0,20 -> v = 2*400-400=400,
    // w = isqrt(400)=20 -> all budget to s2
    val docs = Seq((1L, "s1", 10L), (2L, "s1", 10L),
      (3L, "s2", 0L), (4L, "s2", 20L))
      .toDF("doc_id", "source", "n_chars")
    val got = analytics.DataQuality.neymanAllocation(docs, budget = 100L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map("s1" -> ((2L, 0L, 0L)), "s2" -> ((2L, 20L, 100L))))
  }

  test("revenue HHI: monopoly nation scores 1e6, even split 1e6/n") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val oS = StructType(Seq(StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType)))
    val cS = StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_nationkey", LongType)))
    val nS = StructType(Seq(StructField("n_nationkey", LongType),
      StructField("n_name", StringType)))
    // nation A: one customer -> HHI 1e6. nation B: 4 equal -> 250000
    val orders = spark.createDataFrame((Seq(Row(1L, 50.0)) ++
      (2L to 5L).map(c => Row(c, 10.0))).asJava, oS)
    val cust = spark.createDataFrame(
      (1L to 5L).map(c => Row(c, if (c == 1L) 0L else 1L)).asJava, cS)
    val nat = spark.createDataFrame(
      Seq(Row(0L, "A"), Row(1L, "B")).asJava, nS)
    val got = analytics.DataQuality.revenueHhi(orders, cust, nat).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map("A" -> ((1L, 5000L, 1000000L)),
      "B" -> ((4L, 4000L, 250000L))))
  }

  test("hubness histogram: vector counts conserve; orphan row completes them") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = analytics.Similarity.knnHubnessHistogram(emb, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = emb.count()
    // every vector appears exactly once across the histogram incl. orphans
    assert(got.values.sum == total)
    // k=3 join emits 3 slots per query: occurrence mass = 3n
    assert(got.map { case (k, n) => k * n }.sum == 3L * total)
  }

  test("ship-lag SLA: doubled median exact; within-30d basis points") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val oS = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_orderpriority", StringType),
      StructField("o_orderdate", TimestampType)))
    val lS = StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_shipdate", TimestampType)))
    val orders = spark.createDataFrame(Seq(
      Row(1L, "1-URGENT", ts("1995-01-01")),
      Row(2L, "1-URGENT", ts("1995-01-01"))).asJava, oS)
    // lags: 10, 21, 40 -> median 21 (x2=42), within30 = 2/3 -> 6666 bp
    val lines = spark.createDataFrame(Seq(
      Row(1L, ts("1995-01-11")), Row(1L, ts("1995-01-22")),
      Row(2L, ts("1995-02-10"))).asJava, lS)
    val got = analytics.DataQuality.shipLagSla(orders, lines).collect()(0)
    assert((got.getString(0), got.getLong(1), got.getLong(2), got.getLong(3))
      == (("1-URGENT", 3L, 42L, 6666L)))
  }

  test("balance-revenue r2: BigInt replay through the 1e12 scale-down") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val cS = StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_acctbal", DoubleType)))
    val oS = StructType(Seq(StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType)))
    // large magnitudes so the 1e12 floor-scale keeps signal
    val bals = Seq(1L -> 50000.00, 2L -> 90000.00, 3L -> 10000.00, 4L -> 70000.00)
    val revs = Seq(1L -> 200000.00, 2L -> 390000.00, 4L -> 280000.00) // cust 3: none
    val cust = spark.createDataFrame(
      bals.map { case (k, b) => Row(k, b) }.asJava, cS)
    val orders = spark.createDataFrame(
      revs.map { case (k, r) => Row(k, r) }.asJava, oS)
    val got = analytics.DataQuality.balanceRevenueR2(cust, orders).collect()(0)
    val b = bals.map { case (k, v) => k -> BigInt((v * 100).round) }.toMap
    val r = bals.map { case (k, _) =>
      k -> BigInt((revs.toMap.getOrElse(k, 0.0) * 100).round) }.toMap
    val n = BigInt(4)
    val sx = b.values.sum; val sy = r.values.sum
    val sxy = b.keys.map(k => b(k) * r(k)).sum
    val sxx = b.values.map(v => v * v).sum
    val syy = r.values.map(v => v * v).sum
    val S = BigInt("1000000000000")
    val num = (n * sxy - sx * sy) / S
    val dx = (n * sxx - sx * sx) / S
    val dy = (n * syy - sy * sy) / S
    val expect =
      if (dx == 0 || dy == 0) 0L
      else {
        val m = (BigInt(1000000) * num * num / (dx * dy)).toLong
        if (num < 0) -m else m
      }
    assert((got.getLong(0), got.getLong(1)) == ((4L, expect)))
    assert(expect > 800000L) // strongly correlated by construction
  }


  test("source-lang chi2: independent table contributes 0; hot cell replays") {
    import spark.implicits._
    // independent 2x2: each cell 5 -> expected = o, contrib 0
    val ind = (1 to 5).flatMap(i => Seq(
      (i.toLong, "s1", "en"), (i.toLong + 10, "s1", "fr"),
      (i.toLong + 20, "s2", "en"), (i.toLong + 30, "s2", "fr")))
      .toDF("doc_id", "source", "lang")
    val g1 = analytics.DataQuality.sourceLangChi2(ind).collect()
    assert(g1.length == 4 && g1.forall(r =>
      r.getLong(3) == r.getLong(2) * 1000 && r.getLong(4) == 0L))
    // skewed: s1 all-en(4), s2 all-fr(4): n=8, rs=cs=4
    // e = 4*4*1000/8 = 2000 milli per cell
    // diagonal cells: (4*8-16)^2*1000/(8*16) = 256000/128 = 2000
    val skew = ((1 to 4).map(i => (i.toLong, "s1", "en")) ++
      (5 to 8).map(i => (i.toLong, "s2", "fr")))
      .toDF("doc_id", "source", "lang")
    val g2 = analytics.DataQuality.sourceLangChi2(skew).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(g2 == Map(("s1", "en") -> ((4L, 2000L, 2000L)),
      ("s2", "fr") -> ((4L, 2000L, 2000L))))
    // chi2 = sum/1000 = 4 (only observed cells emitted) — the classic
    // 2x2 full-association statistic counts absent cells too; the
    // operator profiles OBSERVED cells, documented.
  }
}
