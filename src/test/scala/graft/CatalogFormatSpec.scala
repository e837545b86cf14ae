package graft

import java.nio.file.Files

/** Schema evolution of stored Parquet tables: batches written with a later
  * column read back as one table whose earlier rows carry that column as
  * NULL.
  */
class CatalogFormatSpec extends SparkSpecBase {

  private lazy val region =
    spark.read.parquet(s"$sfDir/region.parquet")

  test("schema evolution: mergeSchema unions columns across parquet batches") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_evolve").toString
    // day-1 batch: (r_regionkey, r_name); day-2 batch adds a column
    region.select(col("r_regionkey"), col("r_name"))
      .write.parquet(s"$dir/batch=1")
    region.select(col("r_regionkey"), col("r_name"),
        lit("v2").as("ingest_tag"))
      .write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet ==
      Set("r_regionkey", "r_name", "ingest_tag", "batch"))
    assert(merged.count() == 2 * region.count())
    // old rows surface the new column as NULL, new rows carry it
    assert(merged.filter(col("batch") === 1 && col("ingest_tag").isNull)
      .count() == region.count())
    assert(merged.filter(col("batch") === 2 && col("ingest_tag") === "v2")
      .count() == region.count())
  }
}
