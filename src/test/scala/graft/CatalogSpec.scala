package graft

import java.nio.file.{Files, Path}
import graft.engine.Catalog
import org.apache.spark.sql.functions.col

/** Stored tables are read and counted from Parquet metadata: `rowCount`
  * agrees with `count()` on single- and multi-file tables and falls back to
  * it on anything derived; a repeated `read` and a `rowCount` run no Spark
  * job; a rewritten table is read with its new schema.
  */
class CatalogSpec extends SparkSpecBase {

  private def withTempDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft_catalog")
    try body(dir)
    finally {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  test("rowCount equals count() on single-file and multi-file parquet") {
    val single = Catalog.read(spark, s"$sfDir/lineitem.parquet")
    assert(single.inputFiles.length == 1)
    assert(Catalog.rowCount(single) == single.count())
    withTempDir { dir =>
      val path = s"$dir/multi.parquet"
      spark.range(0, 1234, 1, 3).write.parquet(path)
      val multi = Catalog.read(spark, path)
      assert(multi.inputFiles.length == 3)
      assert(Catalog.rowCount(multi) == 1234L)
      assert(multi.count() == 1234L)
    }
  }

  test("rowCount falls back to count() on a filtered and an in-memory DataFrame") {
    val orders = Catalog.read(spark, s"$sfDir/orders.parquet")
    val filtered = orders.filter(col("o_orderkey") % 10 === 0)
    assert(Catalog.rowCount(filtered) == filtered.count())
    assert(Catalog.rowCount(filtered) < Catalog.rowCount(orders))
    val local = spark.createDataFrame(Seq((1, "a"), (2, "b"), (3, "c")))
    assert(Catalog.rowCount(local) == 3L)
  }

  test("a repeated read of an unchanged path and a rowCount run no Spark job") {
    val path = s"$sfDir/customer.parquet"
    Catalog.read(spark, path)
    val metrics = TaskMetrics(spark)
    try {
      val before = metrics.snap()
      val df = Catalog.read(spark, path)
      val afterRead = metrics.snap()
      val n = Catalog.rowCount(df)
      val afterCount = metrics.snap()
      assert((afterRead - before).jobs == 0, (afterRead - before).jobLog)
      assert((afterCount - afterRead).jobs == 0, (afterCount - afterRead).jobLog)
      assert(n == df.count())
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  test("a path rewritten with a different schema reads back the new schema") {
    withTempDir { dir =>
      val path = s"$dir/t.parquet"
      spark.range(5).select(col("id").as("a")).write.parquet(path)
      assert(Catalog.read(spark, path).columns.toSeq == Seq("a"))
      spark.range(7).select(col("id").as("b"), col("id").cast("string").as("c"))
        .write.mode("overwrite").parquet(path)
      val back = Catalog.read(spark, path)
      assert(back.columns.toSeq == Seq("b", "c"))
      assert(back.schema("c").dataType == org.apache.spark.sql.types.StringType)
      assert(Catalog.rowCount(back) == 7L)
    }
  }

  test("the file signature follows symlinked directories and changes with the table behind them") {
    withTempDir { dir =>
      val table = s"$dir/real/t.parquet"
      spark.range(5).write.parquet(table)
      Files.createDirectories(dir.resolve("sf"))
      Files.createSymbolicLink(dir.resolve("sf/t.parquet"), dir.resolve("real/t.parquet"))
      Files.createSymbolicLink(dir.resolve("sfLink"), dir.resolve("sf"))
      val paths = Seq(s"$dir/sf", s"$dir/sfLink", s"$dir/sfLink/t.parquet")
      val before = paths.map(Catalog.fileSignature)
      assert(before.forall(_.nonEmpty), before)
      spark.range(9).write.mode("overwrite").parquet(table)
      val after = paths.map(Catalog.fileSignature)
      before.zip(after).foreach { case (b, a) => assert(a.nonEmpty && a != b, (b, a)) }
      assert(Catalog.rowCount(Catalog.read(spark, s"$dir/sfLink/t.parquet")) == 9L)
    }
  }
}
