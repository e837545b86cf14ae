package graft.engine

import java.nio.file.{FileVisitOption, Files, Paths}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
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

  // (file path, length, mtime) → the file's Parquet record count
  private val footerCounts = TrieMap.empty[(String, Long, Long), Long]
  private val FooterCountsCap = 100000

  /** Row count of `df`. A bare, unpartitioned Parquet table is counted in
    * this JVM from the row counts in its file footers, with no Spark job
    * (the reference likewise reports table sizes from statistics,
    * `psql_database_helper.py:166-169`). Each file's count is kept under
    * its path, length and mtime as the DataFrame's file index listed them,
    * so a repeated count opens no footer and a file rewritten in place is
    * read anew. Anything else — a filtered or derived plan, an in-memory
    * relation, a partitioned table — is counted by `df.count()`.
    */
  def rowCount(df: DataFrame): Long = df.queryExecution.analyzed match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
        if fs.fileFormat.isInstanceOf[ParquetFileFormat] && fs.partitionSchema.isEmpty =>
      lazy val conf = fs.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConfWithOptions(fs.options)
      if (footerCounts.size > FooterCountsCap) footerCounts.clear()
      fs.location.listFiles(Nil, Nil).iterator.flatMap(_.files).map { f =>
        footerCounts.getOrElseUpdate((f.getPath.toString, f.getLen, f.getModificationTime), {
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f.fileStatus, conf))
          try reader.getRecordCount finally reader.close()
        })
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

  /** Materialize an output catalog, one Parquet directory per table —
    * the destination-database replacement (overwrite mode = the reference's
    * teardown+create, /root/reference/psql_database_creator.py:56-67).
    * The tables' writes are independent jobs and run together through
    * [[Parallel.run]]; a failed write does not stop the others, and its
    * error is rethrown once all have ended. A map in which two tables share
    * a bare name (`a.t`, `b.t`) would write one directory twice, and is
    * rejected before any write starts.
    */
  def save(out: Map[String, DataFrame], dir: String): Unit = {
    val clashes = out.keys.toSeq.groupBy(tableName).values.filter(_.size > 1)
      .map(_.sorted.mkString(" and ")).toSeq.sorted
    require(clashes.isEmpty,
      s"tables would write the same path under $dir: ${clashes.mkString("; ")}")
    out.headOption.foreach { case (_, first) =>
      Parallel.run(first.sparkSession, out.toSeq.map { case (t, df) => () =>
        df.write.mode("overwrite").parquet(s"$dir/${tableName(t)}.parquet")
      })
    }
  }
}
