package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}

/** Write-side platform abstraction (reference: platform/Writers.scala:27-110).
  *
  * Modes mirror `SaveMode` strings: overwrite | append | ignore | error.
  * `partitionBy` drives directory/partition layout — the features table is
  * partitioned by `day` so freshness / as-of filters prune partitions at
  * scale (reference: ProdWriter.scala:57-70, BackfillPipelineConfig.scala:31).
  *
  * Catalog tables are [[VersionedTable]]s: [[insertOverwriteTable]],
  * [[overwritePartitions]] and [[compactTable]] commit a manifest and keep
  * the table's one catalog entry, an EXTERNAL datasource table at the root
  * ([[VersionedSource]]), in step with it. Reading that entry from SQL
  * needs graft's jar on the client's classpath. Only the bucketed write
  * keeps a plain `saveAsTable` table.
  */
trait Writer {

  /** Create the empty sentinel file `dir/name` — one atomic single-file
    * create, the begin/commit bracket of the crash-safe append protocol:
    * a writer puts a `pending_…` marker BEFORE a multi-file append and
    * deletes it after, so a crash mid-append (Hadoop job commit moves
    * part-files sequentially — it is NOT atomic) leaves the marker behind
    * and readers know to exclude the partial data. Markers live in a
    * SIBLING directory, never inside the parquet directory (schema
    * inference and file listings stay untouched).
    */
  def putMarker(spark: SparkSession, dir: String, name: String): Unit = {
    val p = new Path(dir, name)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true).close()
  }

  /** Remove the sentinel `dir/name` (the protocol's commit half). */
  def deleteMarker(spark: SparkSession, dir: String, name: String): Unit = {
    val p = new Path(dir, name)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    ()
  }

  /** Parquet sink (reference: ProdWriter.scala:23-35). */
  def writeParquet(df: DataFrame, path: String, mode: String = "overwrite",
      partitionBy: Seq[String] = Seq.empty): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Range-CLUSTERED parquet sink: rows are range-partitioned on
    * `clusterCols` and sorted within each file, so every output file (and
    * every parquet row group inside it) covers a narrow, pairwise-disjoint
    * key range. This is the data-LAYOUT lever for scan pruning at 100 TB:
    * parquet's min/max statistics then let a pushed key predicate skip
    * whole row groups — the same reads that scan everything on a
    * write-order layout, where every row group's [min, max] spans the full
    * key domain. Sorting costs one range shuffle at write time, paid once;
    * every selective read after that wins (WritersSpec asserts the
    * disjoint-range layout and that the plain writer does NOT have it).
    *
    * `numFiles` sizes the range partitioning (aim for ~128 MB-1 GB files
    * at scale); pass 0 to keep the input partitioning and only sort
    * within it (no extra shuffle — for data already clustered upstream).
    */
  def writeClusteredParquet(df: DataFrame, path: String, clusterCols: Seq[String],
      numFiles: Int = 0, mode: String = "overwrite"): Unit = {
    require(clusterCols.nonEmpty, "clusterCols must be non-empty")
    require(numFiles >= 0, "numFiles must be >= 0")
    val cols = clusterCols.map(org.apache.spark.sql.functions.col)
    val ranged =
      if (numFiles > 0) df.repartitionByRange(numFiles, cols: _*)
      else df
    ranged.sortWithinPartitions(cols: _*).write.mode(mode).parquet(path)
  }

  /** BLOOM-FILTERED parquet sink: the POINT-LOOKUP pruning lever, for key
    * columns whose values are uniform (hashes, ids) — exactly where the
    * min/max stats of [[writeClusteredParquet]] prune nothing unless the
    * data is range-clustered on that key. Parquet writes a split-block
    * bloom filter per row group for each listed column; a pushed equality
    * predicate then skips row groups whose filter proves absence —
    * O(row-groups) membership probes instead of a full scan, no reorder
    * of the data, composable with clustering on a DIFFERENT column (e.g.
    * cluster by day, bloom on user_id: range scans prune by day, point
    * lookups prune by user). `ndv` sizes the filter (expected distinct
    * values per row group — overestimate; an undersized filter saturates
    * to all-positive and prunes nothing).
    */
  def writeBloomFilteredParquet(df: DataFrame, path: String,
      bloomCols: Seq[String], ndv: Long = 100000L,
      mode: String = "overwrite"): Unit = {
    require(bloomCols.nonEmpty, "bloomCols must be non-empty")
    require(ndv > 0, "ndv must be positive")
    bloomCols.foldLeft(df.write.mode(mode)) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }.parquet(path)
  }

  /** Z-ORDERED parquet sink: the TWO-dimensional layout lever.
    * [[writeClusteredParquet]] on (a, b) prunes perfectly on `a` but not
    * on `b` alone — lexicographic order gives the secondary key the full
    * domain inside every file. Interleaving the bits of both keys' 16-bit
    * normalized buckets (Morton order) instead gives every file a small
    * RECTANGLE of the 2D key space, so parquet min/max stats prune
    * selective predicates on EITHER column (or both). The classic layout
    * for fact tables queried along two independent axes (user x time,
    * key x day).
    *
    * Cost is the same one range shuffle as single-key clustering, plus one
    * tiny min/max aggregate to normalize domains (at 100 TB, pass static
    * `bounds` from domain knowledge — e.g. a date range or id space — and
    * the extra pass disappears; values outside the stated bounds clamp to
    * the edge bucket, hurting only their own pruning). NULL keys map to
    * bucket 0 (they sort into the first files, never a separate scan-all
    * stripe). WritersSpec asserts the rectangle property and that
    * single-key clustering demonstrably lacks it on the secondary axis.
    */
  def writeZOrderedParquet(df: DataFrame, path: String, colX: String, colY: String,
      numFiles: Int, mode: String = "overwrite",
      bounds: Option[(Double, Double, Double, Double)] = None): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, max, min}
    require(numFiles > 0, "numFiles must be positive")
    val withBounds = bounds match {
      case Some((mnx, mxx, mny, mxy)) =>
        df.withColumn("__mnx", lit(mnx)).withColumn("__mxx", lit(mxx))
          .withColumn("__mny", lit(mny)).withColumn("__mxy", lit(mxy))
      case None =>
        df.crossJoin(broadcast(df.agg(
          min(col(colX).cast("double")).as("__mnx"), max(col(colX).cast("double")).as("__mxx"),
          min(col(colY).cast("double")).as("__mny"), max(col(colY).cast("double")).as("__mxy"))))
    }
    val z = ProdWriter.interleave16(
      ProdWriter.bucket16(col(colX), col("__mnx"), col("__mxx")),
      ProdWriter.bucket16(col(colY), col("__mny"), col("__mxy")))
    withBounds
      .withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z", "__mnx", "__mxx", "__mny", "__mxy")
      .write.mode(mode).parquet(path)
  }

  /** JSON sink (reference: ProdWriter.scala:37-42). */
  def writeJson(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  /** ORC sink — beyond the reference's format set (ProdWriter.scala covers
    * parquet/json/csv): the columnar interchange format for Hive-side
    * consumers, same lossless typed round trip as parquet (OrcRoundTripSpec
    * + q151 pin it).
    */
  def writeOrc(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).orc(path)

  /** CSV sink (reference: ProdWriter.scala:44-55). */
  def writeCsv(df: DataFrame, path: String, mode: String = "overwrite",
      header: Boolean = true, delimiter: String = ","): Unit =
    df.write.mode(mode)
      .option("header", header.toString).option("delimiter", delimiter)
      .csv(path)

  /** Atomic full-table insert-overwrite with snapshot semantics (reference:
    * ProdWriter.scala:57-70 does the same against Iceberg). Storage is a
    * [[VersionedTable]] at the table's warehouse location: the new snapshot
    * is written to an immutable data dir and published with one atomic
    * manifest commit, so concurrent readers keep their snapshot, concurrent
    * writers serialize via compare-and-swap, and every retained version
    * stays readable ([[graft.sources.Fetcher.readTableVersion]]). The
    * session catalog carries one datasource table at the root
    * ([[VersionedSource]]) that resolves the latest manifest, so plain
    * `SELECT * FROM t` sees the committed snapshot without knowing about
    * manifests.
    */
  def insertOverwriteTable(df: DataFrame, tableName: String,
      partitionBy: Seq[String] = Seq.empty): Unit = {
    WarehousePaths.resolve(df.sparkSession, tableName) match {
      case Some((fs, loc)) =>
        prepareVersionedRoot(df.sparkSession, fs, loc, tableName)
        VersionedTable.commitOverwrite(df, loc.toString, partitionBy)
        syncCatalogEntry(df.sparkSession, tableName, fs, loc)
      case None =>
        // unresolvable database: let saveAsTable report the standard error
        val w = df.write.mode("overwrite")
        (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
          .saveAsTable(tableName)
    }
  }

  /** Migrate a table root to the versioned layout: a directory without a
    * commit log is either a pre-versioning legacy table or an orphan from a
    * lost metastore — move it aside (rename, not delete: insert-overwrite
    * replaces the DATA, but the old bytes stay recoverable for the
    * retention window) and drop any legacy catalog TABLE entry so the
    * versioned entry can take the name. Ordering matters: the aside-rename
    * happens BEFORE the drop, so dropping a MANAGED legacy entry deletes
    * nothing.
    */
  private def prepareVersionedRoot(spark: SparkSession, fs: FileSystem,
      loc: Path, tableName: String): Unit = {
    sweepStaleAsides(fs, loc)
    if (!VersionedTable.isVersioned(fs, loc)) {
      if (fs.exists(loc)) moveAside(spark, fs, loc, tableName)
      if (spark.catalog.tableExists(tableName) &&
          spark.catalog.getTable(tableName).tableType != "VIEW")
        spark.sql(s"DROP TABLE ${WarehousePaths.quote(tableName)}")
    }
  }

  /** Keep the catalog entry of a versioned table in step with its log.
    * The entry is an EXTERNAL datasource table ([[VersionedSource]]) at the
    * root that resolves the latest manifest on every read, so a commit that
    * keeps the schema writes no catalog metadata: it only drops this
    * session's cached relation. The entry is (re-)registered when it is
    * missing, is a legacy VIEW or table, or records another schema than
    * the latest snapshot's. Re-reading the log here, rather than trusting
    * the version this writer just committed, keeps two racing commits from
    * leaving the older schema behind.
    */
  private def syncCatalogEntry(spark: SparkSession, tableName: String,
      fs: FileSystem, loc: Path): Unit = {
    val latest = VersionedTable.latestVersion(fs, loc).getOrElse(return)
    val schema = VersionedTable.dataSchema(VersionedTable.readManifest(fs, loc, latest))
    val catalog = spark.sessionState.catalog
    val ident = WarehousePaths.identifier(spark, tableName)
    val current = catalog.getTablesByName(Seq(ident)).headOption
    if (!current.exists(t => t.provider.contains(VersionedSource.Name) && t.schema == schema)) {
      current.foreach { t =>
        if (t.tableType == CatalogTableType.VIEW)
          spark.sql(s"DROP VIEW ${WarehousePaths.quote(tableName)}")
        else if (t.tableType == CatalogTableType.MANAGED)
          // dropping a managed entry deletes its location: the versioned root
          throw new IllegalStateException(s"$tableName is a managed table over the " +
            s"versioned root $loc; drop it by hand (its data is the table's log)")
        else catalog.dropTable(ident, ignoreIfNotExists = true, purge = false)
      }
      catalog.createTable(CatalogTable(ident, CatalogTableType.EXTERNAL,
        CatalogStorageFormat.empty.copy(locationUri = Some(loc.toUri)), schema,
        provider = Some(VersionedSource.Name)), ignoreIfExists = true)
    }
    catalog.refreshTable(ident)
  }

  /** Retention maintenance on a versioned table: keep the last `keepLast`
    * snapshots, delete data dirs no retained manifest references (see
    * [[VersionedTable.vacuum]] for the write-grace caveat). No-op on
    * non-versioned tables.
    */
  def vacuumTable(spark: SparkSession, tableName: String, keepLast: Int,
      graceMs: Long = 3600000L): Unit =
    WarehousePaths.resolve(spark, tableName).foreach { case (fs, loc) =>
      if (VersionedTable.isVersioned(fs, loc))
        VersionedTable.vacuum(spark, loc.toString, keepLast, graceMs)
    }

  /** Small-file maintenance on a versioned table: rewrite the live
    * snapshot into one compacted data dir as a new version
    * ([[VersionedTable.compact]] — data bit-identical, prior versions
    * still time-travelable until vacuum) and refresh the catalog entry.
    * Returns the compact stats, or None for non-versioned tables.
    */
  def compactTable(spark: SparkSession, tableName: String,
      targetRecordsPerFile: Long = 1L << 20): Option[VersionedTable.CompactStats] =
    WarehousePaths.resolve(spark, tableName).flatMap { case (fs, loc) =>
      if (VersionedTable.isVersioned(fs, loc)) {
        val stats = VersionedTable.compact(spark, loc.toString, targetRecordsPerFile)
        syncCatalogEntry(spark, tableName, fs, loc)
        Some(stats)
      } else None
    }

  /** Drop a table this writer manages: the versioned root (all snapshots)
    * and the catalog entry (versioned, view or legacy table).
    */
  def dropTable(spark: SparkSession, tableName: String): Unit = {
    // Catalog entry goes FIRST: DROP TABLE uncaches by resolving the
    // table, which reads the latest manifest — deleting the root before
    // the drop makes Spark log a full stack (DropTableCommand, WARN with
    // throwable) for a table that is being removed on purpose.
    if (spark.catalog.tableExists(tableName)) {
      val kind = if (spark.catalog.getTable(tableName).tableType == "VIEW") "VIEW" else "TABLE"
      spark.sql(s"DROP $kind ${WarehousePaths.quote(tableName)}")
    }
    WarehousePaths.resolve(spark, tableName).foreach { case (fs, loc) =>
      if (VersionedTable.isVersioned(fs, loc)) fs.delete(loc, true)
    }
  }

  /** Move an existing non-versioned table directory aside — a rename, not a
    * delete: if the directory actually belongs to a table still live in
    * another metastore pointed at a shared warehouse, its data survives at
    * `<loc>.__orphan.<appId>` instead of being destroyed before the new
    * write even commits. A pre-existing aside dir with the same name is
    * this application's own earlier garbage and is removed first.
    */
  private def moveAside(spark: SparkSession, fs: FileSystem, loc: Path,
      tableName: String): Unit = {
    val aside = new Path(
      loc.getParent, loc.getName + ".__orphan." + spark.sparkContext.applicationId)
    if (fs.exists(aside)) fs.delete(aside, true)
    // Hadoop rename reports failure by returning false, not throwing —
    // fail here with the real story rather than letting the commit die
    // downstream under a log line claiming the location was cleared
    if (!fs.rename(loc, aside))
      throw new java.io.IOException(
        s"could not move table location $loc aside to $aside " +
          s"before overwrite of $tableName (rename returned false)")
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"table location $loc moved aside to $aside before overwrite of $tableName")
  }

  /** The one remaining saveAsTable path is the BUCKETED write below (bucket
    * metadata must live in the catalog, not a manifest): a session with a
    * fresh catalog can find a stale table DIRECTORY left by a previous
    * session's warehouse, which saveAsTable refuses to adopt
    * (LOCATION_ALREADY_EXISTS) — move it aside first. Versioned tables
    * cannot orphan (their location is manifest-managed, never owned by the
    * metastore), so this healing applies only here.
    */
  private def clearOrphanedLocation(df: DataFrame, tableName: String): Unit = {
    val spark = df.sparkSession
    // sweep stale asides on EVERY overwrite, not only the orphan branch:
    // once saveAsTable registers the table, tableExists is true forever in
    // a persistent metastore and a sweep gated behind it would never run
    WarehousePaths.resolve(spark, tableName).foreach { case (fs, loc) =>
      sweepStaleAsides(fs, loc)
      if (!spark.catalog.tableExists(tableName) && fs.exists(loc))
        moveAside(spark, fs, loc, tableName)
    }
  }

  /** How long an orphan aside survives: 7 days, long enough for an operator
    * to notice the aside warning and recover data from a genuinely shared
    * warehouse. */
  private val OrphanAsideRetentionHours = 168L

  /** Asides are keyed by application id, so every distinct app run that hits
    * an orphaned location leaves one behind — unbounded warehouse growth
    * unless something reaps them. Reap here, on the next overwrite of the
    * same table: delete `<table>.__orphan.*` siblings older than
    * [[OrphanAsideRetentionHours]], and log what is retained so the pending
    * garbage is visible, not silent.
    */
  private def sweepStaleAsides(fs: FileSystem, loc: Path): Unit = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val retentionMs = OrphanAsideRetentionHours * 3600L * 1000L
    val cutoff = System.currentTimeMillis() - retentionMs
    val asides =
      try fs.globStatus(new Path(loc.getParent, loc.getName + ".__orphan.*"))
      catch { case _: java.io.FileNotFoundException => null }
    Option(asides).getOrElse(Array.empty).foreach { st =>
      if (st.getModificationTime < cutoff) {
        if (fs.delete(st.getPath, true))
          log.warn(s"deleted stale orphan aside ${st.getPath} " +
            s"(older than ${retentionMs / 3600000L}h)")
      } else {
        log.warn(s"retaining orphan aside ${st.getPath} until the " +
          s"${retentionMs / 3600000L}h retention window passes; delete it " +
          "manually once its data is confirmed recovered or unneeded")
      }
    }
  }

  /** Insert-overwrite a table BUCKETED by a key (and optionally
    * partitioned): rows are hash-clustered into `numBuckets` files per
    * partition by `bucketCol`, and the scan's output partitioning then
    * satisfies a downstream distribution requirement on that key — the
    * per-user window of the online sync reads a bucketed features table
    * WITHOUT an exchange (BucketedTableSpec), and a join's bucketed side
    * skips ITS exchange (the other side still shuffles; a union, as in the
    * as-of union plan, discards partitioning info entirely). The one-time
    * cost is the cluster-by at write.
    */
  def insertOverwriteBucketedTable(df: DataFrame, tableName: String,
      numBuckets: Int, bucketCol: String,
      partitionBy: Seq[String] = Seq.empty): Unit = {
    require(numBuckets > 0, "numBuckets must be positive")
    clearOrphanedLocation(df, tableName)
    val w = df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .saveAsTable(tableName)
  }

  /** Replace ONLY the partitions present in `df`, leaving all others
    * untouched (dynamic partition overwrite). This is the incremental-write
    * primitive: a backfill of days [d1, d2] into a day-partitioned table
    * rewrites those day directories and nothing else — at 100 TB the
    * difference between touching a month and rewriting years. Falls back to
    * a full [[insertOverwriteTable]] when the table doesn't exist yet.
    *
    * On a versioned table this is [[VersionedTable.commitPartitions]]: one
    * atomic manifest commit whose entries merge the new partitions over the
    * previous snapshot's — concurrent incremental writers to different
    * partitions both land (CAS re-merge), readers never see a half-replaced
    * table, and the pre-commit snapshot stays readable by version. A
    * PRE-versioning legacy catalog table (created by an older build via
    * saveAsTable) keeps the dynamic-partition-overwrite `insertInto` path:
    * migrating it here would silently drop the partitions the incoming
    * frame does not carry.
    */
  def overwritePartitions(df: DataFrame, tableName: String,
      partitionBy: Seq[String]): Unit = {
    val spark = df.sparkSession
    val versionedLoc = WarehousePaths.resolve(spark, tableName)
      .filter { case (fs, loc) => VersionedTable.isVersioned(fs, loc) }
    versionedLoc match {
      case Some((fs, loc)) =>
        VersionedTable.commitPartitions(df, loc.toString, partitionBy)
        syncCatalogEntry(spark, tableName, fs, loc)
      case None if !spark.catalog.tableExists(tableName) =>
        insertOverwriteTable(df, tableName, partitionBy)
      case None =>
        // legacy (non-versioned) catalog table: dynamic partition overwrite.
        // insertInto matches columns BY POSITION (partition columns last in
        // a catalog table's schema), so reorder by NAME first. The
        // per-writer option covers datasource tables; Hive-serde tables
        // read the SESSION conf exclusively, so both are set (conf
        // try/finally restored).
        val tableOrder = spark.table(tableName).columns
        val aligned = df.select(tableOrder.map(df.col).toIndexedSeq: _*)
        val key = "spark.sql.sources.partitionOverwriteMode"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "dynamic")
        try aligned.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .insertInto(tableName)
        finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
    }
  }
}

/** Warehouse path resolution shared by the writer (commit targets) and the
  * fetcher (manifest-aware reads).
  */
private[sources] object WarehousePaths {

  /** The table's default warehouse directory: `<db location>/<table>`,
    * derived from the owning DATABASE's registered locationUri (never a
    * guessed warehouse-relative path — a wrong guess could touch another
    * table's data). None when the name doesn't resolve to an existing
    * database.
    */
  def resolve(spark: SparkSession, tableName: String): Option[(FileSystem, Path)] =
    dbTable(spark, tableName).collect { case (db, tbl) if spark.catalog.databaseExists(db) =>
      val loc = new Path(new Path(spark.catalog.getDatabase(db).locationUri), tbl.toLowerCase)
      (loc.getFileSystem(spark.sparkContext.hadoopConfiguration), loc)
    }

  /** The catalog identifier of a table [[resolve]] locates. */
  def identifier(spark: SparkSession, tableName: String): TableIdentifier = {
    val (db, tbl) = dbTable(spark, tableName).getOrElse(
      throw new IllegalArgumentException(s"not a table name: $tableName"))
    TableIdentifier(tbl, Some(db))
  }

  private def dbTable(spark: SparkSession, tableName: String): Option[(String, String)] = {
    val parts = tableName.split('.').toSeq match {
      case "spark_catalog" +: rest => rest
      case other => other
    }
    parts match {
      case Seq(t) => Some((spark.catalog.currentDatabase, t))
      case Seq(d, t) => Some((d, t))
      case _ => None
    }
  }

  /** Backtick-quote a possibly-qualified table name part by part. */
  def quote(tableName: String): String =
    tableName.split('.').map(p => "`" + p.replace("`", "``") + "`").mkString(".")
}

/** Production writer — trait defaults are production-grade. */
class ProdWriter extends Writer

object ProdWriter extends ProdWriter {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** Normalize a numeric value into a 16-bit bucket over [mn, mx]:
    * `floor((v - mn) / (mx - mn) * 2^16)` clamped to [0, 65535]. A
    * degenerate domain (mx <= mn) or a NULL value maps to bucket 0.
    */
  private[sources] def bucket16(v: Column, mn: Column, mx: Column): Column =
    coalesce(
      when(mx <= mn, lit(0L)).otherwise(
        greatest(lit(0L), least(lit(65535L),
          floor((v.cast("double") - mn) / (mx - mn) * lit(65536.0)).cast("long")))),
      lit(0L))

  /** Morton (Z-order) value: interleave the low 16 bits of `xb` and `yb`
    * (x on even bit positions, y on odd) into one 32-bit curve position.
    * Unrolled shift/mask/or chain — plain builtin columns, fully inside
    * whole-stage codegen.
    */
  private[sources] def interleave16(xb: Column, yb: Column): Column =
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(xb, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(yb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
}
