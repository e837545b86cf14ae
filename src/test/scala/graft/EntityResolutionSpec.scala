package graft

import graft.analytics.EntityResolution
import org.apache.spark.sql.functions._

class EntityResolutionSpec extends SparkSpecBase {

  import spark.implicits._

  private lazy val cust = spark.read.parquet(s"$sfDir/customer.parquet")

  test("deletion-neighborhood candidates reproduce the brute-force blocked compare") {
    // the FastSS equi-join is a candidate GENERATOR — after the exact
    // levenshtein verify it must equal the quadratic within-block compare
    val fast = EntityResolution
      .editMatches(cust, "c_custkey", "c_name", "c_nationkey")
      .select("id_a", "id_b", "dist")
    val a = cust.select(col("c_custkey").as("id_a"), col("c_name").as("na"),
      col("c_nationkey").as("ka"))
    val b = cust.select(col("c_custkey").as("id_b"), col("c_name").as("nb"),
      col("c_nationkey").as("kb"))
    val brute = a.join(b, col("ka") === col("kb") && col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("na"), col("nb")))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
    assert(fast.count() == brute.count())
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty)
  }

  test("insert / delete / substitute variants all land in the candidate set") {
    // hand-built records covering each edit kind plus a same-name-other-
    // block pair that must NOT match despite distance 0
    val recs = Seq(
      (1L, "alpha", 0), (2L, "alpa", 0),   // deletion (h dropped)
      (3L, "alpha", 1),                    // same name, different block
      (4L, "alphax", 0),                   // insertion at the end
      (5L, "alpho", 0),                    // substitution
      (6L, "zzzzz", 0)                     // unrelated
    ).toDF("rid", "nm", "blk")
    val pairs = EntityResolution.editMatches(recs, "rid", "nm", "blk")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 4L), (1L, 5L)))
  }

  test("entity clusters fold distance-2 chains through a shared neighbor") {
    // lev(aaaa, aaab)=1, lev(aaab, aabb)=1, lev(aaaa, aabb)=2 — one entity
    val recs = Seq((10L, "aaaa", 0), (11L, "aaab", 0), (12L, "aabb", 0),
      (13L, "cccc", 0), (14L, "cccd", 0)).toDF("rid", "nm", "blk")
    val clusters = EntityResolution.entityClusters(recs, "rid", "nm", "blk")
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      13L -> 13L, 14L -> 13L))
  }

  test("golden record: members partition the table, survivor is the entity id") {
    val matches = EntityResolution.editMatches(cust, "c_custkey", "c_name", "c_nationkey")
    val clusters = EntityResolution.entityClustersFromMatches(matches, "c_custkey")
    val golden = cust.join(clusters, Seq("c_custkey"), "left")
      .withColumn("entity_id", coalesce(col("entity_id"), col("c_custkey")))
      .groupBy("entity_id")
      .agg(count(lit(1)).as("n_members"), min(col("c_custkey")).as("survivor_id"))
    // every customer lands in exactly one entity
    assert(golden.agg(sum("n_members")).head.getLong(0) == cust.count())
    // min-label CC: the component label IS the lowest member id
    assert(golden.filter(col("survivor_id") =!= col("entity_id")).count() == 0)
  }

  test("blockingEval: hand-built reduction ratio and pairs completeness") {
    // 4 records, one true match (abc ~ abd, dist 1).
    // strategy "good": the pair co-blocks (block 1) -> completeness 10000;
    //   blocks {1:2, 2:2} -> cand = 1 + 1 = 2 of C(4,2)=6 -> reduction
    //   10000 - 20000//6 = 10000 - 3333 = 6667
    // strategy "bad": the pair splits -> completeness 0; blocks {1:2,2:2}
    //   via (grp2) -> same reduction
    val recs = Seq(
      (1L, "abc", 1L, 1L), (2L, "abd", 1L, 2L),
      (3L, "xyz", 2L, 1L), (4L, "pqr", 2L, 2L))
      .toDF("rid", "nm", "grp_good", "grp_bad")
    val got = EntityResolution.blockingEval(recs, "rid", "nm", Seq(
      ("good", col("grp_good").cast("string")),
      ("bad", col("grp_bad").cast("string"))))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(got == Map(
      "good" -> ((2L, 2L, 1L, 1L, 6667L, 10000L)),
      "bad" -> ((2L, 2L, 1L, 0L, 6667L, 0L))))
  }

  test("Fellegi-Sunter: hand-computed m/u and weight on a 4-record block") {
    val recs = Seq(
      (1L, "aa", 7, "x"), (2L, "ab", 7, "x"),
      (3L, "zz", 7, "y"), (4L, "zz", 7, "z"))
      .toDF("id", "nm", "blk", "attr")
    val got = EntityResolution.fellegiSunterWeights(
      recs, "id", "nm", "blk",
      Seq(("attr_eq", col("a_attr") === col("b_attr"))))
      .collect().map(r => (r.getString(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // 6 pairs; matches (lev<=1): (1,2) and (3,4) → n_match=2, n_nonmatch=4;
    // attr agrees only on (1,2) → m = 1/2 = 5000 bp, u = 0/4 = 0 bp,
    // weight = 5000·10000 div max(u,1) = 50,000,000
    assert(got.toSeq == Seq(("attr_eq", 2L, 4L, 5000L, 0L, 50000000L)))
  }

  test("deletion-variant join + edit_within_1 equals the levenshtein truth") {
    // fixture names PLUS adversarial shapes: equal strings, pure
    // insert/delete pairs, substitution pairs, transposition (dist 2 —
    // must NOT match), repeated chars (del_i = del_j collisions),
    // multi-byte text, empty and single-char strings
    val extra = Seq("abc", "abc", "abcd", "bbc", "ab", "ba", "aab", "ab",
      "aa", "a", "", "héllo", "hëllo", "hèllo", "héllò", "xx yy", "xxyy")
      .zipWithIndex.map { case (s, i) => (100000L + i, s) }
    val recs = cust.select(col("c_custkey").as("rid"), col("c_name").as("name"))
      .unionAll(extra.toDF("rid", "name"))
    // truth by definition: all-pairs bounded levenshtein (small input)
    val a = recs.toDF("id_a", "na")
    val b = recs.toDF("id_b", "nb")
    val brute = a.join(b, col("id_a") < col("id_b"))
      .filter(expr("levenshtein(na, nb, 1) >= 0"))
      .select(col("id_a"), col("id_b"))
    // the blockingEval formulation: distinct-variant join + native verify
    val v = recs.select(col("rid"), col("name"),
      explode(expr("deletion_variants(name)")).as("vv"))
    val fast = v.alias("a").join(v.alias("b"),
        col("a.vv") === col("b.vv") && col("a.rid") < col("b.rid"))
      .filter(expr("edit_within_1(a.name, b.name)"))
      .select(col("a.rid").as("id_a"), col("b.rid").as("id_b"))
      .distinct()
    assert(fast.count() == brute.count() && fast.count() > 0)
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty)
  }

  test("deletion_variants kernel matches the SQL lambda; edit_within_1 matches bounded levenshtein") {
    val names = Seq("abc", "abcd", "aab", "aa", "a", "", "héllo", "xx yy",
      "Customer#000000042", "aaaa", "héé", "ab")
    val df = names.toDF("name")
    // kernel variant SET == the old interpreted formulation's variant set
    val lambda = "array_distinct(array_union(array(name), " +
      "transform(sequence(1, length(name)), " +
      "i -> concat(substring(name, 1, i - 1), substring(name, i + 1, length(name))))))"
    val cmp = df.select(col("name"),
      expr(s"array_sort(deletion_variants(name))").as("k"),
      expr(s"array_sort($lambda)").as("l"))
      .filter(not(col("k") === col("l")))
    assert(cmp.count() == 0)
    // edit_within_1 == (levenshtein <= 1) over the full cross product
    val pairs = df.toDF("na").crossJoin(df.toDF("nb"))
      .select(col("na"), col("nb"),
        expr("edit_within_1(na, nb)").as("fast"),
        expr("levenshtein(na, nb, 1) >= 0").as("truth"))
      .filter(not(col("fast") === col("truth")))
    assert(pairs.count() == 0)
  }
}
