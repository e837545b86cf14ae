package graft

import graft.functions.{GraftExtensions, NativeExpressions}
import org.apache.spark.sql.functions._

class NativeExpressionsSpec extends SparkSpecBase {

  test("float_dot matches the decimal HOF formulation to 1e-9") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
    val both = emb.select(
      expr("float_dot(embedding, embedding)").as("fast"),
      graft.functions.VectorFunctions.normSqDecimal(col("embedding"))
        .cast("double").as("exact"))
    assert(both.collect().forall(r => math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
  }

  test("l2_sq matches the HOF zip_with/aggregate fold bit-for-bit") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
      .withColumn("c", expr("transform(embedding, x -> CAST(x AS DOUBLE) + 0.125)"))
    val both = emb.select(
      expr("l2_sq(embedding, c)").as("fast"),
      expr("aggregate(zip_with(embedding, c, " +
        "(e, cc) -> (CAST(e AS DOUBLE) - cc) * (CAST(e AS DOUBLE) - cc)), " +
        "CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("hof"))
    // exact equality on purpose: the native loop must reproduce the fold's
    // sequential IEEE accumulation, not just approximate it
    assert(both.collect().forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("md5_h1h2 matches the conv(substring(md5)) pair bit-for-bit") {
    import spark.implicits._
    // real shingle-like strings plus edge cases: empty string, multi-byte
    // UTF-8, long text — h1/h2 must equal the former hex-parse formulation
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
      .select(col("text").as("s"))
      .unionAll(Seq("", "a", "héllo wörld ✓", "x " * 500)
        .toDF("s"))
    val both = docs
      .withColumn("hh", md5(col("s").cast("binary")))
      .select(
        expr("md5_h1h2(s)").as("fast"),
        expr("CAST(conv(substring(hh, 1, 10), 16, 10) AS BIGINT)").as("h1"),
        expr("CAST(conv(substring(hh, 11, 10), 16, 10) AS BIGINT)").as("h2"))
    assert(both.collect().forall { r =>
      val st = r.getStruct(0)
      st.getLong(0) == r.getLong(1) && st.getLong(1) == r.getLong(2)
    })
    // null flows through as null
    assert(Seq[String](null).toDF("s").selectExpr("md5_h1h2(s)")
      .collect()(0).isNullAt(0))
  }

  test("word_shingles matches the HOF transform/concat_ws formulation") {
    import spark.implicits._
    def hofShingles(toks: org.apache.spark.sql.Column, n: Int) =
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
        .otherwise(array())
    // real fixture token arrays plus adversarial shapes: exactly-n tokens,
    // shorter-than-n, empty tokens from double separators, a null array
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(300)
      .select(split(col("text"), " ").as("w"))
      .unionAll(Seq("a b c", "a b", "a", "", "x  y", "a b c d e")
        .toDF("t").select(split(col("t"), " ").as("w")))
      .unionAll(Seq(1).toDF("i").select(lit(null).cast("array<string>").as("w")))
    for (n <- Seq(1, 2, 3, 4)) {
      val both = docs.select(
        graft.functions.TextFunctions.wordShingles(col("w"), n).as("fast"),
        hofShingles(col("w"), n).as("hof"))
      assert(both.collect().forall { r =>
        r.getSeq[String](0) == r.getSeq[String](1)
      }, s"n=$n")
    }
  }

  test("l2_argmin_idx matches the interpreted aggregate fold bit-for-bit") {
    // real embeddings as the queries; a synthetic sorted codebook built
    // from the first 16 vectors (the kMeansCentroids seed rule), with a
    // deliberate duplicated centroid so the tie-break path is exercised
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val codebook = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cell_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("c_emb"))
    val dup = codebook.filter(col("cell_id") === 3)
      .select((col("cell_id") + 100).as("cell_id"), col("c_emb"))
    val cells = codebook.union(dup)
      .agg(array_sort(collect_list(struct(col("cell_id"), col("c_emb"))))
        .as("cells"))
    val d2 = "round(l2_sq(embedding, c.c_emb), 9)"
    val fold =
      s"aggregate(slice(cells, 2, size(cells)), " +
        s"struct(round(l2_sq(embedding, element_at(cells, 1).c_emb), 9) AS d2, " +
        s"element_at(cells, 1).cell_id AS cell_id), " +
        s"(acc, c) -> IF($d2 < acc.d2, " +
        s"struct($d2 AS d2, c.cell_id AS cell_id), acc))"
    val both = emb.limit(200).crossJoin(broadcast(cells)).select(
      expr("element_at(cells, l2_argmin_idx(cells, embedding)).cell_id")
        .as("fast"),
      expr(s"$fold.cell_id").as("fold"))
    val rows = both.collect()
    assert(rows.length == 200)
    assert(rows.forall(r => r.getLong(0) == r.getLong(1)))
    // vec_id 3 itself must pick cell 3, not the duplicate 103 (tie keeps
    // the smaller cell_id — the fold's strict `<`)
    val self = emb.filter(col("vec_id") === 3).crossJoin(broadcast(cells))
      .select(expr(
        "element_at(cells, l2_argmin_idx(cells, embedding)).cell_id")).head
    assert(self.getLong(0) == 3L)
    // empty codebook → NULL index (callers filter size(cells) >= 1 first)
    val empty = emb.limit(1)
      .withColumn("cells", expr(
        "CAST(array() AS array<struct<cell_id: bigint, c_emb: array<double>>>)"))
      .select(expr("l2_argmin_idx(cells, embedding)")).head
    assert(empty.isNullAt(0))
  }

  test("bitmap_distinct aggregate equals count(DISTINCT) and raises out of range") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val r = li.agg(
      expr("bitmap_distinct(l_partkey, CAST(2097151 AS BIGINT))").as("bm"),
      countDistinct(col("l_partkey")).as("exact")).head
    assert(r.getLong(0) == r.getLong(1))
    // partial-aggregate + merge path: per-group equality too
    val g = li.groupBy(col("l_returnflag")).agg(
      expr("bitmap_distinct(l_partkey, CAST(2097151 AS BIGINT))").as("bm"),
      countDistinct(col("l_partkey")).as("exact"))
    assert(g.filter(col("bm") =!= col("exact")).count() == 0)
    // honest bound: out-of-range input raises instead of undercounting
    intercept[org.apache.spark.SparkException] {
      li.agg(expr("bitmap_distinct(l_partkey, CAST(7 AS BIGINT))")).collect()
    }
  }

  test("hamming counts differing positions") {
    import spark.implicits._
    val rows = Seq(("1100", "1010"), ("abc", "abc"), ("", "xx"))
      .toDF("a", "b")
      .select(expr("hamming(a, b)")).collect().map(_.getInt(0))
    assert(rows.toSeq == Seq(2, 0, 2))
  }

  test("sorted_pairs reproduces the self-join pair relation exactly") {
    import spark.implicits._
    // real co-occurrence groups off the fixture corpus (distinct per
    // (doc_id, s), exactly the callers' precondition) + adversarial edges
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(120)
    val sh = graft.analytics.Dedup.shingles(docs, 3)
    val joinPairs = sh.toDF("id_a", "s")
      .join(sh.toDF("id_b", "s2"),
        col("s") === col("s2") && col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val genPairs = sh.groupBy(col("s"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .select(explode(expr("sorted_pairs(ids)")).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(genPairs == joinPairs && genPairs.nonEmpty)
    // edges: empty / singleton / null arrays emit no pairs; unsorted input
    // is ordered; defensive dedup matches the join's strict a < b on a
    // distinct group
    val edges = Seq(
      (1L, Seq.empty[Long]), (2L, Seq(7L)), (3L, Seq(9L, 3L, 5L)),
      (4L, Seq(2L, 2L, 8L))).toDF("k", "ids")
      .select(col("k"), explode(expr("sorted_pairs(ids)")).as("p"))
      .select(col("k"), col("p.id_a"), col("p.id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(edges == Seq((3L, 3L, 5L), (3L, 3L, 9L), (3L, 5L, 9L), (4L, 2L, 8L)))
    assert(Seq(Tuple1(null: Seq[java.lang.Long])).toDF("ids")
      .selectExpr("size(sorted_pairs(ids))").head.getInt(0) == 0)
    // null slots are skipped, as the self-join drops null ids
    assert(spark.sql("SELECT inline(sorted_pairs(array(3L, NULL, 1L)))")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 3L)))
    assert(spark.sql("SELECT size(sorted_pairs(array(NULL, 5L, NULL)))")
      .head.getInt(0) == 0)
  }

  test("sorted_pairs sizes its output in Long and rejects a group past the array limit") {
    assert(NativeExpressions.pairCount(0) == 0 && NativeExpressions.pairCount(1) == 0)
    // the largest group whose C(m, 2) still fits an array
    assert(NativeExpressions.pairCount(65536) == 65536L * 65535 / 2)
    // m = 65,537 wrapped the former Int product negative; the size check
    // must fail before anything is allocated
    val e = intercept[IllegalArgumentException](NativeExpressions.pairCount(65537))
    assert(e.getMessage.contains("65537 distinct ids") &&
      e.getMessage.contains("2147516416 pairs"))
  }

  test("type checking rejects wrong argument types") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq((1, 2)).toDF("a", "b").select(expr("float_dot(a, b)")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("float"))
  }

  test("GraftExtensions injects all 15 graft functions") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw
    assert(GraftExtensions.functions.map(_._1).distinct.size == 15)
    val s2 = spark.newSession()
    assert(s2.sql("SELECT hamming('10', '11') AS h").head.getInt(0) == 1)
  }
}
