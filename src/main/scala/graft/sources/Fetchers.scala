package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Read-side platform abstraction (reference: platform/Fetchers.scala:11-75).
  *
  * Pipelines depend only on this trait, so prod I/O can be swapped for the
  * in-memory test double without touching query logic. Schemas are passed
  * explicitly to disable inference (a full-scan at 100 TB just to infer a
  * schema is never acceptable).
  */
trait Fetcher {

  /** Does `path` exist in this fetcher's storage? Default: a Hadoop
    * filesystem probe (works for local paths, object stores, HDFS). The
    * in-memory test double overrides with a map lookup. Callers use this
    * to distinguish "no state yet" from "state exists but failed to read"
    * — a distinction a bare read + catch cannot make, and getting it
    * wrong turns a transient read error into silent state re-init.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Names of the sentinel marker files under `dir` (see
    * [[Writer.putMarker]] — the crash-safe append protocol's begin/commit
    * brackets). Default: a Hadoop directory listing; the in-memory double
    * overrides with a map scan. An absent directory means no markers.
    */
  def listMarkers(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).iterator.map(_.getPath.getName).toSeq
  }

  /** Parquet scan (reference: Fetchers.scala:79-90). With an explicit schema
    * the scan starts instantly (no footer sampling) and column pruning /
    * predicate pushdown still apply via the vectorized reader. Without one,
    * the schema Spark would infer is read from one footer on the driver
    * ([[ParquetFooterSchema]]), so planning the scan still runs no job.
    */
  def readParquet(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.orElse(ParquetFooterSchema(spark, path)).fold(r)(r.schema).parquet(path)
  }

  /** JSON scan (reference: Fetchers.scala:92-103). Schema strongly
    * recommended: inference reads the whole input once.
    */
  def readJson(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  /** ORC scan — the [[readParquet]] contract for ORC data (vectorized
    * reader, column pruning + predicate pushdown; explicit schema skips
    * footer sampling). Beyond the reference's format set.
    */
  def readOrc(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).orc(path)
  }

  /** CSV scan with header/delimiter options (reference: Fetchers.scala:105-120). */
  def readCsv(spark: SparkSession, path: String,
      schema: Option[StructType] = None,
      header: Boolean = true, delimiter: String = ","): DataFrame = {
    val r = spark.read
      .option("header", header.toString)
      .option("delimiter", delimiter)
    schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path)
  }

  /** Catalog-table scan (reference: Fetchers.scala:122-128 reads Iceberg).
    * A [[VersionedTable]] root resolves through its manifest log — the
    * latest committed snapshot, pinned at resolve time, so a commit racing
    * this read cannot tear it (the snapshot's data dirs are immutable).
    * Anything else (bucketed tables, views, legacy tables) reads through
    * the session catalog.
    */
  def readTable(spark: SparkSession, tableName: String): DataFrame =
    versionedRoot(spark, tableName) match {
      case Some(root) => VersionedTable.read(spark, root)
      case None => spark.read.table(tableName)
    }

  /** Time travel: read a retained snapshot of a versioned table by number
    * (the Iceberg `VERSION AS OF` counterpart).
    */
  def readTableVersion(spark: SparkSession, tableName: String,
      version: Long): DataFrame =
    versionedRoot(spark, tableName) match {
      case Some(root) => VersionedTable.read(spark, root, Some(version))
      case None => throw new NoSuchElementException(
        s"$tableName is not a versioned table; no version history")
    }

  /** Retained snapshot versions of a versioned table, ascending; empty for
    * non-versioned tables.
    */
  def tableVersions(spark: SparkSession, tableName: String): Seq[Long] =
    WarehousePaths.resolve(spark, tableName).toSeq.flatMap { case (fs, loc) =>
      VersionedTable.versions(fs, loc)
    }

  private def versionedRoot(spark: SparkSession, tableName: String): Option[String] =
    WarehousePaths.resolve(spark, tableName).collect {
      case (fs, loc) if VersionedTable.isVersioned(fs, loc) => loc.toString
    }
}

/** The schema Spark's parquet source infers for a path without schema
  * merging, read from one footer on the driver instead of by Spark's
  * inference job (which reads the chosen footer inside a job even when it is
  * one file). The file is the one Spark picks: a `_common_metadata`
  * summary, else a `_metadata` summary, else the first data file in path
  * order, hidden names skipped as Spark's listing skips them. The footer
  * converts as Spark converts it: the Spark schema the writer recorded if
  * any, else [[ParquetToSparkSchemaConverter]] under the session's parquet
  * settings (`nanosAsLong` among them). None when the path holds no file;
  * the read then reports the missing path or schema as Spark does.
  */
private[graft] object ParquetFooterSchema {

  def apply(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).toSeq.flatMap { c =>
        val name = c.getPath.getName
        if (!hidden(name) || name.startsWith("_metadata") || name.startsWith("_common_metadata"))
          leaves(c)
        else Nil
      }
    val files = Option(fs.globStatus(p)).toSeq.flatten.flatMap(leaves).sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .map { st =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.NO_FILTER)
        ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }
}

/** Production fetcher — the trait defaults are already production-grade. */
class ProdFetcher extends Fetcher

object ProdFetcher extends ProdFetcher
