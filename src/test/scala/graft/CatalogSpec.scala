package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.engine.Catalog
import org.apache.spark.sql.functions.{col, lit, raise_error}

/** Stored tables are read and counted from Parquet metadata: `rowCount`
  * agrees with `count()` on single- and multi-file tables and falls back to
  * it on anything derived; a repeated `read` and a `rowCount` run no Spark
  * job; a rewritten table is read with its new schema and counted anew,
  * also when a file is replaced under its old name. `save` writes its
  * tables together and rethrows a failed table's error after the others.
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

  test("a table rewritten in place is counted anew") {
    withTempDir { dir =>
      // one file name, first holding 3 rows and then 11
      def single(n: Long, at: String): Path = {
        spark.range(n).coalesce(1).write.parquet(at)
        Files.list(Paths.get(at)).iterator.asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).next()
      }
      val three = single(3, s"$dir/three")
      val eleven = single(11, s"$dir/eleven")
      val table = dir.resolve("t.parquet")
      Files.createDirectories(table)
      val file = table.resolve("part-0.parquet")
      Files.copy(three, file)
      assert(Catalog.rowCount(Catalog.read(spark, table.toString)) == 3L)
      assert(Catalog.rowCount(Catalog.read(spark, table.toString)) == 3L)
      Files.copy(eleven, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(file, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(three).toMillis + 5000))
      val back = Catalog.read(spark, table.toString)
      assert(Catalog.rowCount(back) == 11L)
      assert(back.count() == 11L)
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

  test("a failed table's error is rethrown after every other table is written") {
    withTempDir { dir =>
      val ok = (1 to 5).map(i => s"t$i" -> spark.range(0, 100L * i, 1, 2).toDF()).toMap
      val bad = spark.range(10).select(raise_error(lit("boom in table bad")).as("x"))
      val e = intercept[Throwable](Catalog.save(ok + ("bad" -> bad), dir.toString))
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(c => String.valueOf(c.getMessage).contains("boom in table bad")), e)
      ok.foreach { case (t, df) =>
        assert(Files.exists(dir.resolve(s"$t.parquet/_SUCCESS")), t)
        assert(spark.read.parquet(s"$dir/$t.parquet").count() == df.count(), t)
      }
      assert(!Thread.getAllStackTraces.keySet.asScala.exists(
        th => th.getName.startsWith("graft-parallel-") && th.isAlive))
    }
  }

  test("save rejects two tables that would write one path, before any write") {
    withTempDir { dir =>
      val e = intercept[IllegalArgumentException](Catalog.save(
        Map("a.t" -> spark.range(3).toDF(), "b.t" -> spark.range(4).toDF(),
          "u" -> spark.range(5).toDF()), dir.toString))
      assert(e.getMessage.contains("a.t") && e.getMessage.contains("b.t"), e.getMessage)
      assert(Files.list(dir).count() == 0)
    }
  }

  test("Parallel.run carries the caller's local properties into its jobs") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.phase", "parallel-spec")
    try {
      val seen = graft.engine.Parallel.run(spark, (1 to 6).map { i => () =>
        val inJob = spark.range(1).rdd
          .map(_ => org.apache.spark.TaskContext.get.getLocalProperty("graft.phase"))
          .collect().head
        (sc.getLocalProperty("graft.phase"), inJob, i)
      })
      assert(seen.map(_._3) == (1 to 6))
      assert(seen.forall(s => s._1 == "parallel-spec" && s._2 == "parallel-spec"), seen)
    } finally sc.setLocalProperty("graft.phase", null)
  }
}
