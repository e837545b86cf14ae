package graft.engine

import java.nio.file.{FileVisitOption, Files, Paths}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.PlanBuilder
import org.apache.spark.sql.types.StructType

/** The table container: a name → DataFrame map over a directory of Parquet
  * files, replacing the reference's live database catalog
  * (/root/reference/psql_database_helper.py:181-188 `list_all_tables`).
  * Table names are kept as opaque strings; `schema.table` qualification is
  * split exactly like the reference (/root/reference/subset_utils.py:78-83).
  */
object Catalog {

  def schemaName(table: String): Option[String] =
    if (table.contains('.')) Some(table.split('.').head) else None

  def tableName(table: String): String = {
    val split = table.split('.')
    if (split.length > 1) split(1) else split(0)
  }

  // (session UUID, path) → (session, file signature, schema)
  private val schemas = TrieMap.empty[(String, String), (SparkSession, String, StructType)]

  /** Read the stored Parquet table at `path` (a file or a directory tree):
    * the way source tables and pin snapshots are read. Spark infers a
    * schema with a one-task job on every plain `spark.read.parquet`; here
    * the inferred schema is kept per (session, path) and reused while the path's
    * [[fileSignature]] is unchanged, so only the first read of a table pays
    * that job. Entries of stopped sessions are dropped on each call. A path
    * with no local files is read uncached.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    schemas.filterInPlace { case (_, (s, _, _)) => !s.sparkContext.isStopped }
    val key = (PlanBuilder.sessionUUID(spark), path)
    val sig = fileSignature(path)
    schemas.get(key) match {
      case Some((_, `sig`, schema)) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        if (sig.nonEmpty) schemas.put(key, (spark, sig, df.schema))
        df
    }
  }

  /** Freshness signature of the files at `path` (a file, or every file in a
    * directory tree, following symbolic links): a hash of their names, sizes
    * and mtimes, so it changes whenever a table is rewritten. Empty when
    * `path` holds no local file.
    */
  def fileSignature(path: String): String = {
    val root = Paths.get(path)
    if (!Files.exists(root)) ""
    else {
      val walk = Files.walk(root, FileVisitOption.FOLLOW_LINKS)
      val sig =
        try walk.iterator.asScala.map(_.toFile).filter(_.isFile)
          .map(f => s"${f.getName}:${f.length}:${f.lastModified}").toSeq
        finally walk.close()
      if (sig.isEmpty) ""
      else f"${scala.util.hashing.MurmurHash3.stringHash(sig.sorted.mkString("|"))}%08x"
    }
  }

  /** Row count of `df`. A bare, unpartitioned Parquet table is counted in
    * this JVM from the row counts in its file footers, with no Spark job
    * (the reference likewise reports table sizes from statistics,
    * `psql_database_helper.py:166-169`). Anything else — a filtered or
    * derived plan, an in-memory relation, a partitioned table — is counted
    * by `df.count()`.
    */
  def rowCount(df: DataFrame): Long = df.queryExecution.analyzed match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
        if fs.fileFormat.isInstanceOf[ParquetFileFormat] && fs.partitionSchema.isEmpty =>
      val conf = fs.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConfWithOptions(fs.options)
      fs.location.inputFiles.iterator.map { f =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(new java.net.URI(f)), conf))
        try reader.getRecordCount finally reader.close()
      }.sum
    case _ => df.count()
  }

  /** Load every `*.parquet` under `dir` as a table named by file basename. */
  def loadDir(spark: SparkSession, dir: String): Map[String, DataFrame] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val name = p.getFileName.toString.stripSuffix(".parquet")
        name -> read(spark, p.toString)
      }
      .toMap

  /** Load an explicit table list (names may be schema-qualified; files are
    * looked up by bare table name).
    */
  def load(spark: SparkSession, dir: String, tables: Seq[String]): Map[String, DataFrame] =
    tables.map(t => t -> read(spark, s"$dir/${tableName(t)}.parquet")).toMap

  /** Load/save a single table in any Spark DataSource format — the
    * source/sink abstraction matching the reference's pluggable database
    * helpers (/root/reference/db_connect.py:10-36 chooses postgres vs mysql
    * by a `db_type` string the same way `format` does here). CSV and JSON
    * carry no schema in the files, so writers emit a header (CSV) and
    * readers accept an explicit schema or infer.
    */
  def loadTable(
      spark: SparkSession,
      path: String,
      format: String = "parquet",
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val base = spark.read.format(format)
    val withSchema = schema.map(base.schema).getOrElse(base)
    format match {
      case "csv" =>
        val r = withSchema.option("header", "true")
        (if (schema.isEmpty) r.option("inferSchema", "true") else r).load(path)
      case _ => withSchema.load(path)
    }
  }

  def saveTable(df: DataFrame, path: String, format: String = "parquet"): Unit = {
    val w = df.write.mode("overwrite").format(format)
    (if (format == "csv") w.option("header", "true") else w).save(path)
  }

  /** Load a table over JDBC — the analogue of the reference's live-database
    * source (/root/reference/db_connect.py:29-36 builds a connection from
    * url/user/password the same way `props` does here). `table` may be a
    * bare/qualified table name or a full `(SELECT …) alias` pushdown query —
    * both are what Spark's `dbtable` accepts.
    *
    * At scale, pass `partitionColumn`/`lowerBound`/`upperBound`/
    * `numPartitions` in `props` so the read issues parallel range-bounded
    * queries instead of one single-connection scan.
    */
  def loadJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      props: Map[String, String] = Map.empty): DataFrame =
    props.foldLeft(spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

  /** Write a table over JDBC (overwrite = the reference's teardown+create,
    * /root/reference/psql_database_creator.py:56-67). Writes happen one
    * INSERT batch per partition in parallel; `props` may carry
    * `batchsize`/`isolationLevel`/`truncate` tuning.
    */
  def saveJdbc(
      df: DataFrame,
      url: String,
      table: String,
      props: Map[String, String] = Map.empty): Unit =
    props.foldLeft(df.write.mode("overwrite").format("jdbc")
      .option("url", url).option("dbtable", table)) {
      case (w, (k, v)) => w.option(k, v)
    }.save()

  /** Materialize an output catalog, one Parquet directory per table —
    * the destination-database replacement (overwrite mode = the reference's
    * teardown+create, /root/reference/psql_database_creator.py:56-67).
    */
  def save(out: Map[String, DataFrame], dir: String): Unit =
    out.foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$dir/${tableName(t)}.parquet")
    }

  /** Write a table hive-partitioned by the given columns — the layout that
    * turns predicates on those columns into directory pruning (the scan
    * never opens non-matching files). The right layout for low-cardinality
    * filter columns (date, type, language) at 100 TB.
    */
  def savePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Write a table bucketed (and sorted) by its join key into the session
    * catalog. Two tables bucketed the same way join with NO shuffle on
    * either side — the co-located-join layout that matters at 100 TB, where
    * re-shuffling the fact table per query is the dominant cost.
    */
  def saveBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      nBuckets: Int): Unit =
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
}
