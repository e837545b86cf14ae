package graft

import graft.analytics.{Curation, Dedup}
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpecBase {

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("paragraph dedup: kept-paragraph counts are bounded and a self-union halves") {
    val base = Dedup.paragraphDedup(docs)
    // every doc keeps between 0 and all of its paragraphs
    assert(base.filter(col("n_kept") > col("n_paras") || col("n_kept") < 0).count() == 0)
    // duplicating the whole corpus (ids shifted above the originals) keeps
    // nothing from the copies: every paragraph's first occurrence is in the
    // original id range
    val shift = docs.count()
    val doubled = docs.union(docs.withColumn("doc_id", col("doc_id") + shift))
    val dd = Dedup.paragraphDedup(doubled)
    assert(dd.filter(col("doc_id") >= shift).agg(sum("n_kept")).head.getLong(0) == 0L)
    assert(dd.filter(col("doc_id") < shift).agg(sum("n_kept")).head.getLong(0) ==
      base.agg(sum("n_kept")).head.getLong(0))
  }

  test("connected components: chains and cliques collapse to their min label") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    // a 4-chain, a triangle, an isolated pair
    val edges = spark.createDataFrame(Seq(
      Row(1L, 2L), Row(2L, 3L), Row(3L, 4L),
      Row(10L, 11L), Row(11L, 12L), Row(10L, 12L),
      Row(20L, 21L)).asJava, schema)
    val cc = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // a 40-hop chain, descending so min-label must travel the whole length:
    // convergence is fixpoint-checked, not bounded by a round budget
    val chain = spark.createDataFrame(
      (1 to 40).map(i => Row(100L + i, 100L + i + 1)).asJava, schema)
    val ccChain = Dedup.connectedComponents(chain).collect()
    assert(ccChain.length == 41 && ccChain.forall(_.getLong(1) == 101L))
  }

  test("star-contraction CC matches min-label CC and needs O(log n) rounds on a deep chain") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    val edges = spark.createDataFrame(Seq(
      Row(1L, 2L), Row(2L, 3L), Row(3L, 4L),
      Row(10L, 11L), Row(11L, 12L), Row(10L, 12L),
      Row(20L, 21L), Row(30L, 30L)).asJava, schema)
    val viaLabel = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStar = Dedup.connectedComponentsStar(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar == viaLabel)
    // a 120-hop descending chain: min-label propagation is O(diameter) —
    // a 16-round budget RAISES (the documented no-truncation contract) —
    // while star contraction converges inside it (O(log n) rounds)
    val chain = spark.createDataFrame(
      (1 to 120).map(i => Row(1000L + i, 1000L + i + 1)).asJava, schema)
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxRounds = 16).count()
    }
    val star = Dedup.connectedComponentsStar(chain, maxRounds = 16).collect()
    assert(star.length == 121 && star.forall(_.getLong(1) == 1001L))
  }

  test("triangle counts: K4 participation, stars contribute none, orientation covers ties") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    // K4 on 1..4 (every node in 3 of the 4 triangles) plus a 5-leaf star
    // at 100 (high degree, zero triangles — the hub skew case degree
    // orientation exists for) plus one triangle with equal degrees
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield Row(a, b)
    val star = (101L to 105L).map(l => Row(100L, l))
    val tri = Seq(Row(200L, 201L), Row(201L, 202L), Row(200L, 202L))
    val edges = spark.createDataFrame((k4 ++ star ++ tri).asJava, schema)
    val got = Dedup.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      200L -> 1L, 201L -> 1L, 202L -> 1L))
  }

  test("linkPredictionTopK: path predicts its endpoints, triangles predict nothing") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id_a", StringType), StructField("id_b", StringType)))
    // path a-b-c: (a,c) share neighbor b, deg a = deg c = 1 -> jaccard
    // 1/(1+1-1) = 10000 bp; triangle x-y-z: every wedge closes, nothing
    // predicted; hub h with 70 leaves exceeds degCap 64 and is dropped
    val path = Seq(Row("a", "b"), Row("b", "c"))
    val tri = Seq(Row("x", "y"), Row("y", "z"), Row("x", "z"))
    val hub = (1 to 70).map(i => Row("h", f"l$i%03d"))
    val edges = spark.createDataFrame((path ++ tri ++ hub).asJava, schema)
    val got = Dedup.linkPredictionTopK(edges).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("a", "c", 1L, 10000L)))
  }

  test("rougeOverlapPairs: identical docs score 10000, disjoint score 0, clipping holds") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val pSchema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    val d = spark.createDataFrame(Seq(
      Row(1L, "a b a c"), Row(2L, "a b a c"), Row(3L, "x y z"),
      Row(4L, "a a a a a")).asJava, dSchema)
    val p = spark.createDataFrame(Seq(
      Row(1L, 2L), Row(1L, 3L), Row(1L, 4L)).asJava, pSchema)
    val got = Curation.rougeOverlapPairs(d, p).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val same = got((1L, 2L))
    assert(same.getAs[Long]("o1") == 4L && same.getAs[Long]("f1_bp") == 10000L
      && same.getAs[Long]("f2_bp") == 10000L)
    val disj = got((1L, 3L))
    assert(disj.getAs[Long]("o1") == 0L && disj.getAs[Long]("f1_bp") == 0L)
    // clipping: doc1 has 'a' x2, doc4 has 'a' x5 -> o1 = min(2,5) = 2;
    // r1 = 2/4 = 5000 bp, p1 = 2/5 = 4000 bp, f1 = 4/9 = 4444 bp;
    // bigrams share only 'a a'? doc1 has none ('a b','b a','a c') -> o2 = 0
    val clip = got((1L, 4L))
    assert(clip.getAs[Long]("o1") == 2L && clip.getAs[Long]("r1_bp") == 5000L
      && clip.getAs[Long]("p1_bp") == 4000L && clip.getAs[Long]("f1_bp") == 4444L
      && clip.getAs[Long]("o2") == 0L)
  }

  test("rakeKeyphrases: stopword runs split, deg/freq scores match hand RAKE") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val d = spark.createDataFrame(Seq(
      Row(1L, "deep learning of deep models"),
      Row(2L, "deep learning"),
      Row(3L, "alpha")).asJava, schema)
    val got = Curation.rakeKeyphrases(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
    // deep: freq 3, deg 6 -> 20000; learning: freq 2, deg 4 -> 20000;
    // models: 20000; alpha: freq 1, deg 1 -> 10000
    assert(got.toMap == Map(
      "deep learning" -> ((2L, 40000L)),
      "deep models" -> ((1L, 40000L)),
      "alpha" -> ((1L, 10000L))))
    // ranking: score desc then phrase asc
    assert(got.map(_._1).toSeq ==
      Seq("deep learning", "deep models", "alpha"))
  }

  test("negativeSamples: one draw per slot, mass-weighted, bit-reproducible") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // 200 docs: every doc repeats 'hot' 5 times, every 20th doc adds one
    // 'rare' -> count(hot) = 1000, count(rare) = 10; mass ratio
    // floor(1000^.75)/floor(10^.75) = 177/5 — hot must dominate the draws
    val rows = (0L until 200L).map { i =>
      val extra = if (i % 20 == 0) " rare" else ""
      Row(i, "hot hot hot hot hot" + extra)
    }
    val d = spark.createDataFrame(rows.asJava, schema)
    val out = Curation.negativeSamples(d, kNeg = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2))
    // exactly one negative per (doc, slot)
    assert(out.length == 600 && out.map(_._1).distinct.length == 600)
    val freq = out.groupBy(_._2).view.mapValues(_.size).toMap
    assert(freq.keySet.subsetOf(Set("hot", "rare")))
    assert(freq("hot") > freq.getOrElse("rare", 0) * 5, freq.toString)
    // deterministic: a second run is bit-identical
    assert(Curation.negativeSamples(d, kNeg = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toSeq.sorted ==
      out.toSeq.sorted)
  }

  test("kCorePeel: clique survives, chain periphery peels, rounds are fixed work") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    // K4 on 1..4 with a 4-5-6 tail: the tail peels off, the clique is the
    // 3-core with every surviving degree exactly 3
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield Row(a, b)
    val edges = spark.createDataFrame(
      (k4 ++ Seq(Row(4L, 5L), Row(5L, 6L))).asJava, schema)
    val got = Dedup.kCorePeel(edges, k = 3, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // fixed-round semantics on a 5-chain at k=2: after ONE round the two
    // interior survivors report their pruned degrees (not converged); a
    // deeper run peels the chain to nothing
    val chain = spark.createDataFrame(
      (1L to 4L).map(i => Row(i, i + 1)).asJava, schema)
    val one = Dedup.kCorePeel(chain, k = 2, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(2L -> 1L, 3L -> 2L, 4L -> 1L))
    assert(Dedup.kCorePeel(chain, k = 2, rounds = 3).isEmpty)
  }

  test("dedupSpanApply: copied span is cut with its gram cover, unique text survives") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // docs 1 and 2 share a verbatim 8-token paragraph (4 consecutive dup
    // 5-gram positions -> one cut run); doc 3 is all-unique
    val copied = "p q r s t u v w"
    val d = spark.createDataFrame(Seq(
      Row(1L, s"a1 b1 $copied c1 d1 e1 f1 g1"),
      Row(2L, s"a2 $copied b2 c2 d2 e2 f2 g2 h2"),
      Row(3L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")).asJava, schema)
    val got = Dedup.dedupSpanApply(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // doc 1: copied run starts at 0-based token 2, 4 gram positions cover
    // tokens 2..9 -> keep a1 b1 + c1..g1
    assert(got(1L) == ((15L, 7L, 1L, md5("a1 b1 c1 d1 e1 f1 g1"))))
    assert(got(2L) == ((16L, 8L, 1L, md5("a2 b2 c2 d2 e2 f2 g2 h2"))))
    assert(got(3L) == ((10L, 10L, 0L, md5("x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"))))
  }

  test("perplexityBuckets: thresholds are order-consistent and thirds-balanced") {
    import graft.analytics.Curation
    val b = Curation.perplexityBuckets(docs, trainPred = col("lang") === "en")
      .collect().map(r => (r.getLong(1), r.getString(2)))
    val byBucket = b.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // bucket boundaries never interleave
    assert(byBucket("head").min >= byBucket("middle").max)
    assert(byBucket("middle").min >= byBucket("tail").max)
    // tertiles: no bucket is off by more than the tie mass
    val n = b.length
    for ((_, xs) <- byBucket)
      assert(xs.length > n / 6 && xs.length < n * 2 / 3)
  }

  test("qualityEnsemble: votes recompose from the component operators") {
    import graft.analytics.Curation
    // fixture corpus plus one 1-token doc: no bigrams -> no LM row (votes
    // 0 there) and a vacuous repetition pass — the missing-row join paths
    val extra = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(999999L, 1L, "solo", "en")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType))))
    val d = docs.select("doc_id", "n_chars", "text", "lang").union(extra)
    val pred = col("lang") === "en"
    val got = Curation.qualityEnsemble(d, pred).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val band = Curation.lengthBandFilter(d).collect().map(_.getLong(0)).toSet
    val notTail = Curation.perplexityBuckets(d, pred).collect()
      .filter(_.getString(2) != "tail").map(_.getLong(0)).toSet
    val repOk = Curation.repetitionStats(d).collect()
      .filter(r => r.getAs[Long]("dup_bigram_n") * 5 <= r.getAs[Long]("n_bigrams"))
      .map(_.getLong(0)).toSet
    val ids = d.select("doc_id").collect().map(_.getLong(0))
    assert(got.keySet == ids.toSet)
    for (id <- ids) {
      val votes = (if (band(id)) 1 else 0) + (if (notTail(id)) 1 else 0) +
        (if (repOk(id)) 1 else 0)
      val verdict =
        if (votes == 3) "keep" else if (votes == 2) "review" else "drop"
      assert(got(id) == ((votes.toLong, verdict)), s"doc $id")
    }
    // the synthetic doc exercised the no-LM-row path
    assert(!notTail(999999L) && repOk(999999L))
  }

  test("curationFunnel: staged survivor counts match hand computation") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("n_chars", LongType),
      StructField("text", StringType)))
    val d = spark.createDataFrame(Seq(
      Row(1L, 10L, "aaa"), Row(2L, 20L, "bbb"), Row(3L, 30L, "bbb"),
      Row(4L, 40L, "has scan inside"), Row(5L, 1000L, "ccc")).asJava, schema)
    val got = Curation.curationFunnel(d, Seq("scan", "quantile")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // decontaminated: {1,2,3,5}; band over [10,20,30,1000] is
    // [17.5, 272.5] keeping {2,3}; dedup keeps min doc of text 'bbb'
    assert(got == Map(
      "1_input" -> ((5L, 1100L)),
      "2_decontaminated" -> ((4L, 1060L)),
      "3_quality_band" -> ((2L, 50L)),
      "4_exact_dedup" -> ((1L, 20L))))
  }

  test("corpusBuildE2E: five-stage chain matches hand computation") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("n_chars", LongType), StructField("text", StringType)))
    val d = spark.createDataFrame(Seq(
      Row(1L, "A", 5L, "a b c"),
      Row(2L, "A", 5L, "a b c"), // exact dup of 1 → dropped stage 1
      Row(3L, "A", 3L, "d e"),
      Row(4L, "A", 10L, "u v w"), // above band after doc 2 drops
      Row(5L, "B", 7L, "f g h i"),
      Row(6L, "B", 3L, "j k"),
      Row(7L, "B", 1L, "x"), // below band
      Row(8L, "B", 44L, "l1 l2 l3 l4 l5 l6 l7 l8 l9"), // above band
      Row(9L, "B", 5L, "XCONTAMX q r") // in band, killed by stage 3
    ).asJava, schema)
    // stage 1 drops doc 2; band over [1,3,3,5,5,7,10,44] = [3, 7.75]
    // keeps {1,3,5,6,9}; stage 3 drops 9; mix: A=2, B=2, equal isqrt
    // weights, quota = ceil(3/2) = 2 each → all four survive; pack at
    // capacity 5: A packs (1: 3 tok, off 0) + (3: 2 tok, off 3) in bin 0;
    // B packs (5: 4 tok, off 0) bin 0, (6: 2 tok) overflows → bin 1
    val got = Curation.corpusBuildE2E(d, Seq("XCONTAMX"),
      targetTotal = 3L, capacity = 5L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (1L, "A", 0L, 0L), (3L, "A", 0L, 3L),
      (5L, "B", 0L, 0L), (6L, "B", 1L, 0L)))
  }

  test("survivor dedup keeps the longest copy, not the smallest id") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    import graft.queries.ExtensionQueries
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("n_chars", LongType)))
    val dir = java.nio.file.Files.createTempDirectory("graft_surv").toString
    // docs 1 and 2 share a fingerprint (case/trim-normalized); doc 2 is
    // the longer copy and must survive despite the larger id
    spark.createDataFrame(Seq(
      Row(1L, "Shared Text", 11L), Row(2L, "shared text", 20L),
      Row(3L, "unique", 6L)).asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = ExtensionQueries.queries("dedup_survivor_best")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 1))
  }

  test("source token gini: even masses score 0, one-owner corpora near max") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    import graft.queries.ExtensionQueries
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("graft_gini").toString
    // two sources, identical token mass -> gini 0
    spark.createDataFrame(Seq(
      Row(1L, "a b c", "s1"), Row(2L, "d e f", "s2")).asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val even = ExtensionQueries.queries("source_token_gini")(spark, dir)
      .collect().head
    assert(even.getLong(2) == 0L)
    // 9-vs-1 split of 10 tokens over two sources: gini = |9-1|/(2*2*10)
    spark.createDataFrame(Seq(
      Row(1L, "a a a a a a a a a", "s1"), Row(2L, "b", "s2")).asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val skew = ExtensionQueries.queries("source_token_gini")(spark, dir)
      .collect().head
    assert(skew.getLong(2) == 10000L * 16 / 40, skew.toString)
  }

  test("exact-strata split holds proportions inside every stratum") {
    import graft.queries.ExtensionQueries
    val got = ExtensionQueries
      .queries("corpus_split_exact_strata")(spark, sfDir)
      .groupBy("lang", "source", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    val strata = got.keys.map(k => (k._1, k._2)).toSet
    for ((l, s) <- strata) {
      val n = Seq("train", "val", "test")
        .map(sp => got.getOrElse((l, s, sp), 0L)).sum
      val train = got.getOrElse((l, s, "train"), 0L)
      val vl = got.getOrElse((l, s, "val"), 0L)
      // exact fences: train = floor(0.8n), train+val = floor(0.9n)
      assert(train == n * 8 / 10, s"stratum ($l,$s) train $train of $n")
      assert(train + vl == n * 9 / 10, s"stratum ($l,$s) val $vl of $n")
    }
    assert(strata.size > 1)
  }

  test("b-bit minhash: identical docs estimate 10000 bp in every column") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val txt = "alpha beta gamma delta epsilon zeta eta theta"
    val d = spark.createDataFrame(Seq(
      Row(1L, txt), Row(2L, txt),
      Row(3L, "totally different words everywhere here now")).asJava, schema)
    val got = Dedup.bbitMinhashEval(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // the identical pair is a candidate and maxes every estimator
    assert(got((1L, 2L)) == ((10000L, 10000L, 10000L)))
    // estimates live in [0, 10000]
    assert(got.values.forall { case (f, b, e) =>
      Seq(f, b, e).forall(x => x >= 0 && x <= 10000) })
  }

  test("incremental CC equals full recompute on random edge splits") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val nV = 12 + rnd.nextInt(20)
      val all = (0 until 20 + rnd.nextInt(30))
        .map(_ => (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
        .filter { case (a, b) => a != b }.distinct
      // arbitrary split: ~60% old, rest the arriving batch (splits that
      // strand batch-only nodes and merge several old components included)
      val (oldE, newE) = all.partition(_ => rnd.nextBoolean() || rnd.nextBoolean())
      def df(es: Seq[(Long, Long)]) =
        spark.createDataFrame(es.map { case (a, b) => Row(a, b) }.asJava, schema)
      val full = Dedup.connectedComponents(df(all)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val inc = Dedup.connectedComponentsIncremental(
        Dedup.connectedComponents(df(oldE)), df(newE)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(inc == full, s"seed=$seed oldE=${oldE.size} newE=${newE.size}")
    }
  }

  test("fixed-point pagerank matches a driver-side integer replica on random graphs") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    val S = 1000000000000L
    for (seed <- 1L to 4L) {
      val rnd = new scala.util.Random(seed)
      val nV = 10 + rnd.nextInt(20)
      val raw = (0 until 15 + rnd.nextInt(40))
        .map(_ => (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
      val und = raw.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // driver-side replica: same symmetrization, same floor divisions
      val adj = (und ++ und.map(_.swap)).groupBy(_._1)
        .map { case (u, es) => u -> es.map(_._2) }
      val n = adj.size
      val base = 3L * S / (20L * n)
      var pr = adj.keys.map(_ -> S / n).toMap
      for (_ <- 1 to 3)
        // .iterator: mapping a key SET would collapse equal contributions
        pr = adj.keys.map(v => v -> (base +
          adj.filter(_._2.contains(v)).keys.iterator
            .map(u => pr(u) * 17L / (20L * adj(u).size)).sum)).toMap
      val df = spark.createDataFrame(
        und.map { case (a, b) => Row(a, b) }.asJava, schema)
      val got = Dedup.pageRankFixedPoint(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == pr, s"seed=$seed engine != integer replica")
      // conservation: total mass stays within N floor-losses of S
      assert(got.values.sum <= S && got.values.sum >= S - 2L * n * 20L)
    }
  }

  test("fixed-point HITS matches a driver-side integer replica on random directed graphs") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("src", LongType), StructField("dst", LongType)))
    val S = 1000000L
    for (seed <- 1L to 4L) {
      val rnd = new scala.util.Random(seed)
      val nV = 8 + rnd.nextInt(15)
      val edges = (0 until 15 + rnd.nextInt(30))
        .map(_ => (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
        .filter { case (a, b) => a != b }.distinct
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      var h = nodes.map(_ -> S).toMap
      var a = Map.empty[Long, Long]
      for (_ <- 1 to 2) {
        val rawA = edges.groupBy(_._2)
          .map { case (v, es) => v -> es.iterator.map(e => h(e._1)).sum }
        val totA = rawA.values.sum
        a = rawA.map { case (v, r) => v -> S * r / totA }
        val rawH = edges.groupBy(_._1)
          .map { case (u, es) => u -> es.iterator.map(e => a(e._2)).sum }
        val totH = rawH.values.sum
        h = rawH.map { case (u, r) => u -> S * r / totH }
      }
      val df = spark.createDataFrame(
        edges.map { case (u, v) => Row(u, v) }.asJava, schema)
      val got = Dedup.hitsFixedPoint(df).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val want = nodes.map(n =>
        n -> ((h.getOrElse(n, 0L), a.getOrElse(n, 0L)))).toMap
      assert(got == want, s"seed=$seed engine != integer replica")
      // L1 normalization: each side's mass is S minus bounded floor losses
      assert(got.values.map(_._2).sum <= S &&
        got.values.map(_._2).sum >= S - nodes.size)
    }
  }

  test("random graphs: both CC variants agree with union-find ground truth") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    for (seed <- 1L to 6L) {
      val rnd = new scala.util.Random(seed)
      val nV = 30 + rnd.nextInt(40)
      val edges = (0 until 10 + rnd.nextInt(50))
        .map(_ => (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
      // driver-side union-find ground truth (path-compressed)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val truth = parent.keys.map(v => v -> find(v)).toMap
      // min id per component as the expected label
      val minOf = truth.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
      val expected = truth.map { case (v, r) => v -> minOf(r) }
      val df = spark.createDataFrame(
        edges.map { case (a, b) => Row(a, b) }.asJava, schema)
      val viaLabel = Dedup.connectedComponents(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaStar = Dedup.connectedComponentsStar(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaLabel == expected, s"seed=$seed min-label != union-find")
      assert(viaStar == expected, s"seed=$seed star-contraction != union-find")
    }
  }

  test("curation audit flags agree with the standalone operators") {
    val audit = Curation.curationAudit(docs)
    assert(audit.count() == docs.count())
    // exact-dup flags: corpus size minus distinct fingerprints
    val nFp = Dedup.fingerprintGroups(docs).count()
    assert(audit.agg(sum("dup_exact")).head.getLong(0) == docs.count() - nFp)
    // near-dup flags: non-representative members of the MinHash components
    val nd = Dedup.connectedComponents(
        Dedup.lshCandidatePairs(docs).select(col("id_a"), col("id_b")))
      .filter(col("component") =!= col("doc_id")).count()
    assert(audit.agg(sum("dup_neardup")).head.getLong(0) == nd)
    // length outliers: complement of the p25..p75 band filter
    val kept = Curation.lengthBandFilter(docs).count()
    assert(audit.agg(sum("len_outlier")).head.getLong(0) == docs.count() - kept)
    // contamination only ever flags corpus-slice docs
    assert(audit.filter(col("contaminated") === 1 && col("doc_id") % 50 === 0)
      .count() == 0)
  }

  test("source mix sample: quotas respect the sqrt tempering and ranks are contiguous") {
    val out = Curation.sourceMixSample(docs, targetTotal = 100)
    // per-source selection is a prefix by doc_id: max rank == row count
    val bySrc = out.groupBy("source")
      .agg(count(lit(1)).as("n"), max("rk").as("max_rk"))
    assert(bySrc.filter(col("n") =!= col("max_rk")).count() == 0)
    // ceil rounding overshoots the target by at most one doc per source
    val total = out.count()
    val nSources = bySrc.count()
    assert(total >= 100 && total <= 100 + nSources)
    // determinism (two-sided: equal multisets, not just containment)
    val rerun = Curation.sourceMixSample(docs, 100)
    assert(rerun.count() == total)
    assert(rerun.exceptAll(out).count() == 0 && out.exceptAll(rerun).count() == 0)
  }

  test("unigram score: sum_tf >= n_tokens and every doc is scored") {
    val s = Curation.unigramScore(docs)
    assert(s.count() == docs.count())
    assert(s.filter(col("sum_tf") < col("n_tokens") || col("min_tf") < 1).count() == 0)
  }

  test("length band filter keeps an interquartile-sized slice") {
    val kept = Curation.lengthBandFilter(docs).count().toDouble
    val n = docs.count().toDouble
    assert(kept / n >= 0.40 && kept / n <= 0.70) // ~50% plus boundary ties
  }

  test("bpe merges reproduce the textbook low/lower example with tie-breaks") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // vocab: low x3, lower x2, newest x1 (Sennrich's example, trimmed)
    val docs = spark.createDataFrame(Seq(
      Row(1L, "low low low"), Row(2L, "lower lower"), Row(3L, "newest")
    ).asJava, schema)
    val got = Curation.bpeMerges(docs, nMerges = 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    // step 1 ties l o / o w at 5 -> pair-string tie-break picks "l o";
    // step 3 ties e r / low e at 2 -> "e r"
    assert(got == Seq((1, "l o", 5L), (2, "lo w", 5L),
      (3, "e r", 2L), (4, "low er", 2L)))

    // apply path: "low" and "lower" both collapse to ONE symbol under the
    // 4 merges; "newest" matches no merge and stays at its 6 characters
    val enc = Curation.bpeEncode(docs,
      got.map(_._2)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(enc == Seq((1L, 3L, 3L), (2L, 2L, 2L), (3L, 1L, 6L)))
  }

  test("repetition stats: hand-computed gram counts, short docs report zeros") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val tiny = spark.createDataFrame(Seq(
      Row(1L, "a b a b c"), // bigrams: "a b"x2,"b a","b c"; trigrams unique
      Row(2L, "x"),         // no grams at all
      Row(3L, "r r r r")    // "r r"x3; "r r r"x2
    ).asJava, schema)
    val got = Curation.repetitionStats(tiny).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1).map(_.asInstanceOf[Long])).toMap
    // (n_tokens, top_bigram_n, dup_bigram_n, n_bigrams,
    //  top_trigram_n, dup_trigram_n, n_trigrams)
    assert(got(1L) == Seq(5L, 2L, 2L, 4L, 1L, 0L, 3L))
    assert(got(2L) == Seq(1L, 0L, 0L, 0L, 0L, 0L, 0L))
    assert(got(3L) == Seq(4L, 3L, 3L, 3L, 2L, 2L, 2L))
    // fixture invariants: counts bounded by totals, totals consistent with
    // token counts
    val fix = Curation.repetitionStats(docs)
    assert(fix.filter(col("top_bigram_n") > col("n_bigrams") ||
      col("dup_trigram_n") > col("n_trigrams")).count() == 0)
    assert(fix.filter(col("n_tokens") >= 2 &&
      col("n_bigrams") =!= col("n_tokens") - 1).count() == 0)
  }

  test("shuffle shards: a permutation, deterministic in the seed, shard-bounded") {
    val a = Curation.shuffleShards(docs, "seed42")
    assert(a.count() == docs.count())
    assert(a.select("doc_id").distinct().count() == docs.count())
    assert(a.filter(col("shard") < 0 || col("shard") >= 64).count() == 0)
    // per-shard positions are 1..n_shard
    assert(a.groupBy("shard").agg(count(lit(1)).as("n"), max("pos").as("m"))
      .filter(col("n") =!= col("m")).count() == 0)
    val rerun = Curation.shuffleShards(docs, "seed42")
    assert(rerun.count() == docs.count())
    assert(rerun.exceptAll(a).count() == 0 && a.exceptAll(rerun).count() == 0)
    // a different seed yields a different order (some doc changes position)
    val b = Curation.shuffleShards(docs, "seed43")
    assert(b.exceptAll(a).count() > 0)
  }

  test("phrase search: consecutive positions only, repeated-term phrases, ties") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val rows = spark.createDataFrame(Seq(
      Row(1L, "a b c x a b c"),   // phrase "a b c" twice
      Row(2L, "a x b c a b x c"), // terms present, never consecutive
      Row(3L, "a b c"),           // once
      Row(4L, "b b b b"),         // repeated-term phrase fixture
      Row(5L, "c b a")).asJava, schema)
    val abc = Curation.phraseSearchTopK(rows, Seq("a", "b", "c"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // ordered by count desc then doc_id: doc1 (2), doc3 (1); doc2/5 absent
    assert(abc.toSeq == Seq((1L, 2L), (3L, 1L)), s"got ${abc.toSeq}")
    // "b b" in "b b b b": anchors at positions 1..3 -> 3 occurrences
    val bb = Curation.phraseSearchTopK(rows, Seq("b", "b"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(bb.toSeq.contains((4L, 3L)), s"got ${bb.toSeq}")
  }

  test("linear quality score: map-only plan, driver-recomputed exact scores") {
    val out = Curation.linearQualityScore(docs)
    // the whole operator must be a single scan + projection — no Exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"map-only scorer must not shuffle:\n$plan")
    val rows = out.filter(col("doc_id").isin(0L, 1L, 2L)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val texts = docs.filter(col("doc_id").isin(0L, 1L, 2L))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def weight(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 1001 - 500
    }
    for ((id, text) <- texts) {
      val w = text.split(" ", -1)
      val uni = w.distinct
      val big = w.sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toArray.distinct
      val r = rows(id)
      assert(r.getAs[Long]("uni_score") == uni.map(weight).sum, s"uni doc $id")
      assert(r.getAs[Long]("bi_score") == big.map(weight).sum, s"bi doc $id")
      assert(r.getAs[Long]("n_features") == uni.length + big.length)
      assert(r.getAs[Long]("score") ==
        r.getAs[Long]("uni_score") + r.getAs[Long]("bi_score"))
      assert(r.getAs[Int]("kept") == (if (r.getAs[Long]("score") > 0) 1 else 0))
    }
  }

  test("bigram LM score: seen pairs score conditional frequency, unseen back off") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    // train slice = doc 1: bigrams (a b):2, (b a):1; unigrams a:2 b:2; total 4
    val tiny = spark.createDataFrame(Seq(
      Row(1L, "a b a b", "en"),
      Row(2L, "a b c", "xx"),
      Row(3L, "z a", "xx")).asJava, schema)
    val got = Curation.bigramLmScore(tiny, trainPred = col("lang") === "en")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1: (a b) m=2 s=1000000*2/2, (b a) m=1 s=1000000*1/2
    assert(got(1L) == ((3L, 2L * 1000000L + 500000L)))
    // doc 2: (a b) seen → 1000000; (b c) unseen, c unseen in train → 0
    assert(got(2L) == ((2L, 1000000L)))
    // doc 3: (z a) unseen → backoff 400000 * c1(a)=2 div total=4 = 200000
    assert(got(3L) == ((1L, 200000L)))
  }

  test("text index probe equals the direct phrase search; staleness guard rebuilds") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft_textidx").toString
    val built = Curation.textIndexBuildIfStale(docs, idx)
    assert(built) // first call on an empty dir must build
    val probe = Curation.phraseSearchProbe(spark, idx, Seq("data", "spark"))
    val direct = Curation.phraseSearchTopK(docs, Seq("data", "spark"))
    assert(probe.exceptAll(direct).count() == 0 &&
      direct.exceptAll(probe).count() == 0)
    // a different corpus against the same dir must trigger a rebuild
    // (fresh session-scoped cache dir simulated by a changed signature)
    val changed = docs.limit(10)
    val idx2 = java.nio.file.Files.createTempDirectory("graft_textidx2").toString
    assert(Curation.textIndexBuildIfStale(changed, idx2))
    assert(!Curation.textIndexBuildIfStale(changed, idx2)) // verified-fresh skip
    // BM25 from the same index equals the direct corpus-scan scoring
    val bmProbe = Curation.bm25Probe(spark, idx, Seq("spark", "quantile", "vector"))
    val bmDirect = Curation.bm25TopK(docs, Seq("spark", "quantile", "vector"))
    assert(bmProbe.exceptAll(bmDirect).count() == 0 &&
      bmDirect.exceptAll(bmProbe).count() == 0)
  }

  test("docPackNextFit: hand case — overflow opens a bin, oversized doc isolated, source resets") {
    import spark.implicits._
    def text(n: Int): String = Seq.fill(n)("w").mkString(" ")
    val tiny = Seq(
      (1L, "a", text(4)), (2L, "a", text(4)), (3L, "a", text(4)),
      (4L, "a", text(12)), (5L, "a", text(3)),
      (6L, "b", text(7))).toDF("doc_id", "source", "text")
    val got = Curation.docPackNextFit(tiny, capacity = 10L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((0L, 0L)), 2L -> ((0L, 4L)), 3L -> ((1L, 0L)),
      4L -> ((2L, 0L)), 5L -> ((3L, 0L)), 6L -> ((0L, 0L))))
  }

  test("docPackNextFit: random-size property — capacity respected, bins contiguous, offsets consistent") {
    import spark.implicits._
    val cap = 50L
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 200).map { i =>
        val n = 1 + rnd.nextInt(80) // some docs exceed the capacity
        (i.toLong, s"s${rnd.nextInt(4)}", Seq.fill(n)("w").mkString(" "))
      }
      val sizes = rows.map { case (id, _, t) => id -> t.split(" ", -1).length.toLong }.toMap
      val got = Curation.docPackNextFit(rows.toDF("doc_id", "source", "text"), cap)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(got.length == rows.length)
      got.groupBy(_._2).values.foreach { grp =>
        val byDoc = grp.sortBy(_._1)
        // bins form a contiguous non-decreasing sequence from 0 in doc order
        assert(byDoc.head._3 == 0L)
        byDoc.sliding(2).foreach {
          case Array(a, b) => assert(b._3 == a._3 || b._3 == a._3 + 1)
          case _ =>
        }
        byDoc.groupBy(_._3).values.foreach { bin =>
          val docs = bin.sortBy(_._1)
          // offsets are exactly the running token total inside the bin
          docs.foldLeft(0L) { (acc, d) =>
            assert(d._4 == acc); acc + sizes(d._1)
          }
          // a multi-doc bin never exceeds capacity (only an oversized
          // singleton may)
          val totalTokens = docs.map(d => sizes(d._1)).sum
          if (docs.length > 1) assert(totalTokens <= cap)
        }
      }
    }
  }

  test("curriculumOrder: permutation of 1..N, band-major, md5 order within band") {
    val rows = Curation.curriculumOrder(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val n = docs.count()
    assert(rows.length == n)
    // train_order is exactly 1..N
    assert(rows.map(_._3).sorted.toSeq == (1L to n).toSeq)
    // bands are non-decreasing along the order, and within a band the
    // order is exactly (md5 prefix, doc_id) — the declared total order
    val byOrder = rows.sortBy(_._3)
    assert(byOrder.map(_._2).sliding(2).forall(p => p.head <= p.last))
    def h(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString.take(8)
    }
    byOrder.groupBy(_._2).values.foreach { band =>
      val ordered = band.sortBy(_._3).map(_._1).toSeq
      assert(ordered == ordered.sortBy(id => (h(id), id)))
    }
  }

  test("aucEval: hand-computed tie-aware AUC in exact ppm") {
    import spark.implicits._
    // (score, label): one tied pos/neg pair at score 2 -> AUC = 3.5/4
    val df = Seq((1L, false), (2L, false), (2L, true), (3L, true))
      .toDF("sc", "lab")
    val got = Curation.aucEval(df, col("sc"), col("lab")).collect()
    assert(got.length == 1)
    assert((got(0).getLong(0), got(0).getLong(1), got(0).getLong(2)) ==
      ((2L, 2L, 875000L)))
    // degenerate one-class input reports 0 rather than dividing by zero
    val onec = Curation.aucEval(
      Seq((1L, true), (2L, true)).toDF("sc", "lab"), col("sc"), col("lab"))
      .collect()(0)
    assert(onec.getLong(2) == 0L)
    // perfect separation is exactly 10^6
    val perfect = Curation.aucEval(
      Seq((1L, false), (2L, false), (3L, true), (4L, true)).toDF("sc", "lab"),
      col("sc"), col("lab")).collect()(0)
    assert(perfect.getLong(2) == 1000000L)
  }

  test("preferencePairs: rank-for-rank best/worst pairs, degenerate pairs dropped") {
    import spark.implicits._
    val df = Seq(
      (1L, "X", 100L), (2L, "X", 90L), (3L, "X", 50L), (4L, "X", 10L),
      (5L, "Y", 30L), (6L, "Y", 20L),
      (7L, "Z", 7L) // single-doc source: chosen == rejected -> dropped
    ).toDF("doc_id", "source", "n_chars")
    val got = Curation.preferencePairs(df, col("n_chars"), k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sortBy(t => (t._1, t._2))
    assert(got == Seq(
      ("X", 1L, 1L, 4L, 90L),  // best 1 (100) vs worst 4 (10)
      ("X", 2L, 2L, 3L, 40L),  // 2nd best vs 2nd worst
      // Y rk1: (5, 6, 10); Y rk2 pairs 6 with 5 -> negative gap, dropped
      ("Y", 1L, 5L, 6L, 10L)))
  }

  test("labelPropagation: barbell keeps two communities where CC floods one") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType)))
    // two triangles joined by one bridge edge 3-10
    val edges = Seq(
      Row(1L, 2L), Row(2L, 3L), Row(1L, 3L),
      Row(10L, 11L), Row(11L, 12L), Row(10L, 12L),
      Row(3L, 10L))
    val df = spark.createDataFrame(edges.asJava, schema)
    val got = Dedup.labelPropagation(df, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // plurality voting holds the bridge: each triangle keeps its own label
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // CC on the same graph floods everything to 1 — the two operators are
    // genuinely different contracts
    val cc = Dedup.connectedComponents(df).collect()
      .map(r => r.getLong(1)).distinct
    assert(cc.toSeq == Seq(1L))
    // orientation/duplication invariance: reversed + duplicated edges give
    // the identical labeling (canonicalize-then-distinct inside)
    val noisy = spark.createDataFrame(
      (edges ++ edges.map(r => Row(r.getLong(1), r.getLong(0)))).asJava, schema)
    val got2 = Dedup.labelPropagation(noisy, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == got)
    // synchronous 2-clique does NOT oscillate (self-vote breaks the swap)
    val pair = spark.createDataFrame(Seq(Row(7L, 5L)).asJava, schema)
    val gp = Dedup.labelPropagation(pair, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gp == Map(5L -> 5L, 7L -> 5L))
  }

  test("sourceDomainCap: rank cap and token budget both bind, first doc survives") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    def doc(id: Long, nTok: Int, src: String): Row = {
      val t = (1 to nTok).map(i => s"w$i").mkString(" ")
      Row(id, t, src, t.length.toLong)
    }
    // src A: one giant doc (40 tokens) over budget alone, then small ones;
    // src B: five 10-token docs — budget 25 keeps the first two
    val df = spark.createDataFrame(Seq(
      doc(1L, 40, "A"), doc(2L, 5, "A"), doc(3L, 4, "A"),
      doc(10L, 10, "B"), doc(11L, 10, "B"), doc(12L, 10, "B"),
      doc(13L, 10, "B"), doc(14L, 10, "B")).asJava, schema)
    val got = Curation.sourceDomainCap(df, maxDocs = 3, budgetTokens = 25L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    // A: doc 1 (40 tokens) busts the budget but rk=1 always survives; the
    // rest of A is cut by the budget. B: docs tie on length -> doc_id order;
    // rk cap 3 would allow three but the budget stops at two (30 > 25)
    assert(got.toSeq == Seq(
      ("A", 1L, 1L, 40L),
      ("B", 10L, 1L, 10L), ("B", 11L, 2L, 20L)))
  }

  test("retrievalEvalPR: hand-computed precision/recall/MRR incl. empty-truth term") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(Seq(
      Row(1L, "cat cat cat"),        // tf=3, dl=3  -> rank 1, relevant
      Row(2L, "cat cat dog bird"),   // tf=2, dl=4  -> rank 2, relevant
      Row(3L, "cat dog"),            // tf=1        -> rank 3, not relevant
      Row(4L, "cat fish dog bird"),  // tf=1        -> rank 4 (dl 4 > doc3)
      Row(5L, "dog dog fish")        // no 'cat'
    ).asJava, schema)
    val got = Curation.retrievalEvalPR(df, terms = Seq("cat", "absent"), k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
      .sortBy(_._1)
    assert(got == Seq(
      // absent term: empty truth (vacuous recall 10000), nothing retrieved
      ("absent", 0L, 0L, 0L, 0L, 10000L, 0L),
      // cat: truth {1,2}; top-3 = 1,2,3 -> prec 2/3, recall 2/2, MRR 1/1
      ("cat", 2L, 3L, 2L, 6666L, 10000L, 1000000L)))
  }

  test("gopher rules: each rule fails on its constructed violator only") {
    import spark.implicits._
    val base = ("the a of and " + ("word " * 46)).trim // 50 words, passes all
    val docs = Seq(
      (1L, base),
      (2L, "the a of and too short"),                  // word count < 50
      (3L, ("the a of and " + ("hyperlongtokenxyz " * 46)).trim), // mean len > 10
      (4L, ("the a of and " + ("12345 " * 46)).trim),  // alpha share 4/50 < 80%
      (5L, ("the " + ("word " * 49)).trim))            // only 1 distinct stopword
      .toDF("doc_id", "text")
    val got = Curation.gopherQualityRules(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(5), r.getInt(6), r.getInt(7),
        r.getInt(8), r.getInt(9)))).toMap
    assert(got(1L) == ((1, 1, 1, 1, 1)))
    assert(got(2L)._1 == 0 && got(2L)._5 == 0)
    assert(got(3L)._2 == 0 && got(3L)._5 == 0)
    assert(got(4L)._3 == 0 && got(4L)._5 == 0)
    assert(got(5L)._4 == 0 && got(5L)._5 == 0)
  }

  test("boilerplate scrub: template chunk drops per source, rare chunk survives") {
    import spark.implicits._
    val tpl = (1 to 20).map(i => s"t$i").mkString(" ")     // shared 20-token chunk
    val uniq = (1 to 20).map(i => s"u$i").mkString(" ")    // doc-4-only chunk
    val other = (1 to 20).map(i => s"v$i").mkString(" ")   // srcB pair chunk
    val docs = Seq(
      (1L, tpl, "srcA"), (2L, tpl, "srcA"), (3L, tpl, "srcA"),
      (4L, s"$tpl $uniq", "srcA"),              // chunk0 = template, chunk1 unique
      (5L, other, "srcB"), (6L, other, "srcB")) // df 2 < minDocs 3 → kept
      .toDF("doc_id", "text", "source")
    val got = Curation.boilerplateChunkScrub(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // template df = 4 of 4 srcA docs → boiler everywhere in srcA
    assert(got(1L) == ((1L, 1L, 0L, 10000L)))
    assert(got(4L) == ((2L, 1L, uniq.length.toLong, 5000L)))
    // srcB pair is below the absolute doc cut → retained
    assert(got(5L) == ((1L, 0L, other.length.toLong, 0L)))
    assert(got(6L) == ((1L, 0L, other.length.toLong, 0L)))
  }

  test("lang segments: alternating chunk predictions form separate runs") {
    import spark.implicits._
    val en = ("the a of and " + ("w " * 16)).trim   // 20 tokens, 4 stopword hits
    val unk = ("w " * 20).trim
    val en2 = ("the the " + ("w " * 18)).trim       // 2 hits of 20 → still en
    val docs = Seq(
      (1L, s"$en $unk $en2"),   // en / unk / en → three runs
      (2L, s"$en $en"))          // one two-chunk en run
      .toDF("doc_id", "text")
    val got = Curation.langSegments(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got == Set(
      (1L, 0, 1L, "en"), (1L, 1, 1L, "unk"), (1L, 2, 1L, "en"),
      (2L, 0, 2L, "en")))
  }

  test("vocab coverage curve: hand Zipf counts at power-of-two ranks") {
    import spark.implicits._
    // token volumes a:8 b:4 c:2 d:1 → total 15
    val docs = Seq((1L, ("a " * 8 + "b " * 4 + "c " * 2 + "d").trim))
      .toDF("doc_id", "text")
    val got = Curation.vocabCoverageCurve(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    assert(got == Seq(
      (0, 1L, 8L, 5333L),    // top-1 covers 8/15
      (1, 2L, 12L, 8000L),
      (2, 4L, 15L, 10000L)))
  }

  test("LSH bucket occupancy: duplicate pairs land in size-2 buckets, pair sums match") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"),   // identical pair
      (3L, "x y z w"), (4L, "x y z w"),   // identical pair
      (5L, "p q r s"))                     // unique
      .toDF("doc_id", "text")
    val got = analytics.Dedup.lshBandOccupancy(docs).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // per band: two size-2 buckets (4 docs, 2 candidate pairs), one
    // size-1 bucket (0 pairs)
    for (band <- Seq(0, 1)) {
      assert(got((band, 1)) == ((2L, 4L, 2L)))
      assert(got((band, 0)) == ((1L, 1L, 0L)))
    }
    // Σ n_cand_pairs over the histogram = Σ n_shared_bands over the
    // candidate relation (each pair counted once per shared band)
    val sumHist = got.values.map(_._3).sum
    val sumPairs = analytics.Dedup.lshCandidatePairs(docs).collect()
      .map(_.getLong(2)).sum
    assert(sumHist == sumPairs)
  }

  test("readability: hand syllable counts and exact milli-point formulas") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat"),   // 3 words, 3 syllables, 1 segment
      (2L, "123 456"),       // vowel-less words floor at 1 syllable
      (3L, "beautiful"))     // eau + i + u = 3 vowel groups
      .toDF("doc_id", "text")
    val got = Curation.readabilityScores(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got(1L) == ((3L, 3L, 1L, 206835L - 3045L - 84600L,
      1170L + 11800L - 15590L)))
    assert(got(2L) == ((2L, 2L, 1L, 206835L - 2030L - 84600L,
      780L + 11800L - 15590L)))
    assert(got(3L) == ((1L, 3L, 1L, 206835L - 1015L - 253800L,
      390L + 35400L - 15590L)))
  }

  test("nDCG: hand case — short low-grade doc outranks the high-grade one") {
    import spark.implicits._
    // term 'x': doc 1 short (dl 2, tf 1 → grade 1) ranks first under the
    // length prior; doc 2 long (tf 4 → grade 4) second.
    // DCG = 1·1000000 + 4·630930 = 3523720; IDCG = 4·1000000 + 1·630930
    // = 4630930 → ndcg = 760909 ppm. 'absent' → all zeros.
    val docs = Seq(
      (1L, "x pad"),
      (2L, "x x x x pad pad pad pad pad pad")).toDF("doc_id", "text")
    val got = Curation.retrievalNdcgEval(docs, Seq("x", "absent"), k = 10)
      .collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      "x" -> ((3523720L, 4630930L, 760909L)),
      "absent" -> ((0L, 0L, 0L))))
    // perfectly aligned grades (shorter doc also higher-grade) → 10^6
    val aligned = Seq((1L, "y y y y"), (2L, "y pad pad pad pad"))
      .toDF("doc_id", "text")
    assert(Curation.retrievalNdcgEval(aligned, Seq("y"), k = 10)
      .collect().head.getLong(3) == 1000000L)
  }

  test("span corruption: segment placement invariants + tiny-doc edge") {
    import spark.implicits._
    val docs = Seq(
      (1L, ("w " * 44).trim, "s1"), // 44 tokens → 2 spans, seg_len 22
      (2L, "a b c", "s1"),          // 3 tokens → 1 span, seg_len 3
      (3L, "a b", "s1")             // 2 tokens → ineligible
    ).toDF("doc_id", "text", "source")
    val got = Curation.spanCorruptionMasks(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byDoc = got.groupBy(_._1)
    assert(!byDoc.contains(3L))
    assert(byDoc(2L).length == 1)
    val Seq((_, _, s2, n2)) = byDoc(2L).toSeq
    assert(n2 == 3L && s2 == 0L) // seg_len 3 → only offset 0 possible
    assert(byDoc(1L).length == 2)
    // span i lives in [i*seg_len, i*seg_len + seg_len - 3]: spans of 3
    // never overlap or spill past the token stream
    byDoc(1L).foreach { case (_, idx, start, n) =>
      assert(start >= idx * 22 && start <= idx * 22 + 19 && start + 3 <= n)
    }
    // deterministic across runs
    assert(Curation.spanCorruptionMasks(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
      got.map(t => (t._1, t._2, t._3)).sorted.toSeq)
  }

  test("feature hashing: buckets/signs replay the md5 draws, counts conserve") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta alpha", "s1"), (2L, "beta", "s1"))
      .toDF("doc_id", "text", "source")
    val got = Curation.featureHashing(docs, nBuckets = 32).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // replay the same md5 arithmetic driver-side
    def draw(tk: String): (Long, Long) = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tk.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 6), 16) % 32,
        if (java.lang.Long.parseLong(hex.substring(6, 7), 16) % 2 == 0) 1L else -1L)
    }
    val (bA, sA) = draw("alpha")
    val (bB, sB) = draw("beta")
    val expected =
      if (bA == bB) Map(("s1", bA) -> ((2 * sA + 2 * sB, 4L, 2L)))
      else Map(("s1", bA) -> ((2 * sA, 2L, 1L)), ("s1", bB) -> ((2 * sB, 2L, 1L)))
    assert(got == expected)
    // term mass is conserved across buckets regardless of collisions
    assert(got.values.map(_._2).sum == 4L)
  }

  test("lexical diversity: hand counts — types, hapax, ppm ratios") {
    import spark.implicits._
    // s1: tokens a a b c -> types 3 (a:2 b:1 c:1), hapax 2
    val docs = Seq((1L, "a a b", "s1", "en"), (2L, "c", "s1", "en"),
      (3L, "x x x x", "s2", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val got = Curation.lexicalDiversity(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == Map(
      "s1" -> ((2L, 4L, 3L, 2L, 750000L, 666666L)),
      "s2" -> ((1L, 4L, 1L, 0L, 250000L, 0L))))
  }

  test("burstiness: clumped token outranks the evenly spread one") {
    import spark.implicits._
    // 'the' once in each of 6 docs: VMR 0; 'burst' 5+1+1+1+1 over 5
    // docs: VMR = (6*29 - 81)/(5*9) = 93/45 -> 2066 milli
    val docs = (Seq((1L, "the burst burst burst burst burst")) ++
      (2L to 5L).map(i => (i, "the burst")) ++ Seq((6L, "the")))
      .map { case (i, t) => (i, t, "s", "en") }
      .toDF("doc_id", "text", "source", "lang")
    val got = Curation.tokenBurstiness(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (-x._4, x._1)) // top-k output is a set; rank locally
    assert(got.toSeq == Seq(
      ("burst", 5L, 9L, 2066L), ("the", 6L, 6L, 0L)))
  }

  test("k-fold audit: folds replay md5, dev_bp sums near zero per source") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, "t", "s1", "en"))
      .toDF("doc_id", "text", "source", "lang")
    def fold(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"fold:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 6)
      java.lang.Long.parseLong(hex, 16) % 5
    }
    val expCounts = (1L to 20L).groupBy(fold).map { case (f, xs) =>
      f -> xs.size.toLong }
    val got = Curation.kfoldAssignment(docs).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    expCounts.foreach { case (f, n) =>
      assert(got(f) == ((n, 10000L * (5 * n - 20) / 20)), s"fold $f")
    }
    assert(got.keySet == expCounts.keySet)
  }

  test("Heaps curve: first-occurrence buckets accumulate docs and vocab") {
    import spark.implicits._
    // firsts: a,b -> doc1 (bucket 0), c -> doc2 (bucket 1), d -> doc4
    // (bucket 2); docs bucket as 1 | 2,3 | 4,5
    val docs = Seq((1L, "a b", "s", "en"), (2L, "a c", "s", "en"),
      (3L, "a", "s", "en"), (4L, "d", "s", "en"), (5L, "a", "s", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val got = Curation.vocabHeapsCurve(docs).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      0 -> ((1L, 1L, 2L)),
      1 -> ((3L, 3L, 3L)),
      2 -> ((7L, 5L, 4L))))
  }

  test("Chao1: hand frequency-of-frequencies; f2=0 bias-corrected form") {
    import spark.implicits._
    // tokens: a:3 b:1 c:1 d:1 -> V=4, N=6, f1=3, f2=0:
    // chao1 = 4000 + (1000*3*2)//2 = 7000; unseen = 3e6//6 = 500000
    val docs = Seq((1L, "a b a c", "s1", "en"), (2L, "d a", "s1", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val got = Curation.vocabChao1Richness(docs).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4), got.getLong(5)) == ((4L, 6L, 3L, 0L, 7000L, 500000L)))
    // add "b e e": a:3 b:2 c:1 d:1 e:2 -> f1=2, f2=2:
    // chao1 = 5000 + 2000//6 = 5333; unseen = 2e6//9 = 222222
    val docs2 = docs.union(Seq((3L, "b e e", "s1", "en"))
      .toDF("doc_id", "text", "source", "lang"))
    val g2 = Curation.vocabChao1Richness(docs2).collect().head
    assert((g2.getLong(0), g2.getLong(1), g2.getLong(2), g2.getLong(3),
      g2.getLong(4), g2.getLong(5)) == ((5L, 9L, 2L, 2L, 5333L, 222222L)))
  }

  test("Brier bins: constructed calibrated vs miscalibrated levels") {
    import spark.implicits._
    // bin 8 (all 8 stopwords): 4 docs, 3 en -> p 1e6, obs 750000
    // bin 0 (none): 4 docs, 1 en -> p 0, obs 250000; ybar = 4/8 = 500000
    val all8 = "the be to of and that have with"
    val docs = (1 to 4).map(i =>
        (i.toLong, all8, "s", if (i <= 3) "en" else "fr")) ++
      (5 to 8).map(i =>
        (i.toLong, "x y z", "s", if (i == 5) "en" else "fr"))
    val df = docs.toDF("doc_id", "text", "source", "lang")
    val got = Curation.brierDecomposition(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    // rel = n*(p-obs)^2/1e6 = 4*250000^2/1e6 = 250000 for both bins
    // res = n*(obs-ybar)^2/1e6 = 4*250000^2/1e6 = 250000 for both bins
    assert(got == Map(
      8L -> ((4L, 3L, 1000000L, 750000L, 500000L, 250000L, 250000L)),
      0L -> ((4L, 1L, 0L, 250000L, 500000L, 250000L, 250000L))))
  }

  test("rater kappa: perfect agreement 10^6; replayed mixed case") {
    import spark.implicits._
    val all8 = "the be to of and that have with" // A=1; 35 chars/8 tok -> B=1
    val long = "waaaaaaaaaaaaaaat"                // A=0; 17 chars/1 tok -> B=0
    val perfect = Seq((1L, all8, "s", "en"), (2L, long, "s", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val gp = Curation.raterKappa(perfect).collect()(0)
    assert((gp.getLong(0), gp.getLong(1), gp.getLong(2), gp.getLong(4)) ==
      ((2L, 2L, 1000000L, 1000000L)))
    // mixed: add a disagreeing doc (A=0 short words -> B=1)
    val mixed = perfect.union(
      Seq((3L, "x y z", "s", "en")).toDF("doc_id", "text", "source", "lang"))
    val gm = Curation.raterKappa(mixed).collect()(0)
    // n=3 agree=2 po=666666; a1=1 b1=2: pe=(1*2+2*1)*1e6/9=444444
    // kappa = (666666-444444)*1e6/(1e6-444444) = 222222e6/555556 -> 399999
    assert((gm.getLong(0), gm.getLong(1), gm.getLong(2), gm.getLong(3),
      gm.getLong(4)) == ((3L, 2L, 666666L, 444444L, 399999L)))
  }

  test("collocation lift: hand corpus — lift ppm exact, support floor enforced") {
    import spark.implicits._
    // 'a b' x5 adjacent, plus 5 isolated 'a' and 5 isolated 'b' fillers
    // N = 40 tokens; n_a = 10, n_b = 10, n_ab = 5
    // lift = 5*40*1e6/(10*10) = 2000000
    val docs = ((1 to 5).map(i => (i.toLong, "a b")) ++
      (6 to 10).map(i => (i.toLong, "a x")) ++
      (11 to 15).map(i => (i.toLong, "y b")) ++
      (16 to 20).map(i => (i.toLong, "x y")))
      .toDF("doc_id", "text")
    val got = Curation.collocationLift(docs, minCount = 5, k = 10).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // only 'a b' reaches support 5 ('a x','y b','x y' have 5 too... all 4 pairs)
    assert(got(("a", "b")) == ((5L, 10L, 10L, 2000000L)))
    assert(got(("x", "y")) == ((5L, 10L, 10L, 2000000L)))
    assert(got.size == 4)
    // support floor: raise minCount above 5 and nothing survives
    assert(Curation.collocationLift(docs, minCount = 6, k = 10).count() == 0L)
  }

  test("repetition score: template doc maxes coverage; short docs dropped") {
    import spark.implicits._
    // doc 1: 'a b a b a b' -> 6 tokens, 2 distinct, dup 4/6;
    //   bigrams: 'a b'x3, 'b a'x2 -> top 3, coverage 6/6
    // doc 2: 'x y z' -> all distinct, top bigram 1, coverage 2/3
    // doc 3: single token -> dropped (n_tokens < 2)
    val docs = Seq((1L, "a b a b a b"), (2L, "x y z"), (3L, "q"))
      .toDF("doc_id", "text")
    val got = Curation.repetitionScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got == Map(
      1L -> ((6L, 2L, 666666L, 3L, 1000000L)),
      2L -> ((3L, 3L, 0L, 1L, 666666L))))
  }
}
