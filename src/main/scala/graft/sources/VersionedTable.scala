package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.hadoop.fs.{FileContext, FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** One committed snapshot of a versioned table.
  *
  * `entries` maps a partition's relative path (`day=2024-01-01`, or
  * `p=a/q=b` for multi-level; the empty string for an unpartitioned table)
  * to the immutable data directory that currently serves it. A snapshot may
  * span several data directories — each incremental commit adds one — and a
  * data directory may serve different subsets of its partitions in
  * different snapshots (an old dir keeps serving the partitions a newer
  * commit did NOT rewrite).
  */
final case class TableManifest(
    version: Long,
    partitionBy: Seq[String],
    entries: Map[String, String],
    schemaJson: String,
    dirSchemas: Map[String, String] = Map.empty) {
  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]

  /** The schema a specific data dir was WRITTEN with. Snapshot schema
    * (`schemaJson`) is the read contract; a dir committed before a column
    * was added serves NULL for it. Manifests from builds predating
    * per-dir schemas (empty `dirSchemas`) fall back to the snapshot
    * schema — correct for them, because those builds required every live
    * dir to share it.
    */
  def schemaOf(dir: String): StructType =
    dirSchemas.get(dir)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(schema)
}

/** Manifest-versioned tables on plain parquet — the transactional layer the
  * reference gets from Iceberg (reference: ProdWriter.scala:57-70 does
  * atomic insert-overwrite with snapshot semantics), rebuilt on nothing but
  * a filesystem with atomic no-overwrite file creation (HDFS rename; local
  * hard-link). No Delta/Iceberg jars exist in this environment, so the
  * commit protocol is implemented directly:
  *
  * Layout under the table root:
  * {{{
  *   _graft_log/00000000000000000001.json   one manifest per version
  *   data-<uuid>/                           immutable parquet data dirs
  * }}}
  *
  * - **Write** = write a fresh uniquely-named data dir (never touching live
  *   files), then PUBLISH a manifest at version latest+1.
  * - **Publish** is a compare-and-swap: the manifest is staged to a temp
  *   file and linked/renamed into `<N>.json`, which atomically fails if a
  *   concurrent writer already committed N — the loser re-reads the new
  *   latest, re-merges its entries, and retries at N+1. Concurrent
  *   incremental writers to different partitions therefore BOTH land, in
  *   some serial order, with neither's partitions lost.
  * - **Read** resolves one manifest into one Spark file-source relation
  *   whose file index ([[ManifestFileIndex]]) only ever lists the
  *   partition dirs that manifest names: a reader planned against version
  *   N is unaffected by any commit that happens while it runs (snapshot
  *   isolation), because data dirs are immutable and never deleted until
  *   [[vacuum]] drops the manifests that reference them.
  * - **Catalog**: a table written through [[Writer]] is one EXTERNAL
  *   datasource entry at the root ([[VersionedSource]]) that resolves the
  *   latest manifest into the same relation, so `spark.table` and SQL see
  *   the latest snapshot and a commit touches the catalog only when the
  *   schema changes.
  * - **Time travel** = read any retained version by number.
  *
  * At 100 TB the log stays tiny (one small JSON per commit — partition
  * POINTERS, not file lists), commits move no data (the expensive parquet
  * write happens before the CAS; the critical section is one file create),
  * and incremental partition commits rewrite only the partitions present in
  * the incoming frame — the property that makes daily backfills touch a
  * day, not years.
  *
  * Atomicity fine print: HDFS `rename` without OVERWRITE is atomic at the
  * namenode. On a local filesystem Hadoop's rename follows POSIX overwrite
  * semantics, so publication uses `Files.createLink` instead — `link(2)`
  * fails `EEXIST` atomically. Object stores without atomic no-overwrite
  * put (plain S3) need a coordination layer for multi-WRITER use, same as
  * Delta's S3 story; single-writer-multi-reader remains safe there.
  */
object VersionedTable {

  val LogDirName = "_graft_log"
  private val DataDirPrefix = "data-"

  private val mapper = new ObjectMapper()

  private def logDir(root: Path) = new Path(root, LogDirName)

  private def manifestPath(root: Path, v: Long) =
    new Path(logDir(root), f"$v%020d.json")

  /** Does this directory hold a versioned table (has a commit log)? */
  def isVersioned(fs: FileSystem, root: Path): Boolean =
    fs.exists(logDir(root))

  /** All retained version numbers, ascending. */
  def versions(fs: FileSystem, root: Path): Seq[Long] = {
    val sts =
      try fs.globStatus(new Path(logDir(root), "*.json"))
      catch { case _: java.io.FileNotFoundException => null }
    Option(sts).getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus]).toSeq
      .flatMap(st => st.getPath.getName.stripSuffix(".json").toLongOption)
      .sorted
  }

  def latestVersion(fs: FileSystem, root: Path): Option[Long] =
    versions(fs, root).lastOption

  def readManifest(fs: FileSystem, root: Path, version: Long): TableManifest = {
    val in = fs.open(manifestPath(root, version))
    val bytes =
      try org.apache.commons.io.IOUtils.toByteArray(in)
      finally in.close()
    val n = mapper.readTree(bytes)
    val pb = (0 until n.get("partitionBy").size())
      .map(i => n.get("partitionBy").get(i).asText())
    val es = n.get("entries")
    val entries = es.properties().iterator()
    val b = Map.newBuilder[String, String]
    while (entries.hasNext) { val e = entries.next(); b += e.getKey -> e.getValue.asText() }
    // optional since round 18 (add-column evolution); older manifests
    // have one schema for every dir
    val ds = Map.newBuilder[String, String]
    Option(n.get("dirSchemas")).foreach { node =>
      val it = node.properties().iterator()
      while (it.hasNext) { val e = it.next(); ds += e.getKey -> e.getValue.asText() }
    }
    TableManifest(n.get("version").asLong(), pb, b.result(),
      n.get("schemaJson").asText(), ds.result())
  }

  private def manifestBytes(m: TableManifest): Array[Byte] = {
    val n = mapper.createObjectNode()
    n.put("version", m.version)
    val pb = n.putArray("partitionBy")
    m.partitionBy.foreach(pb.add)
    val es = n.putObject("entries")
    m.entries.toSeq.sortBy(_._1).foreach { case (k, v) => es.put(k, v) }
    n.put("schemaJson", m.schemaJson)
    val ds = n.putObject("dirSchemas")
    m.dirSchemas.toSeq.sortBy(_._1).foreach { case (k, v) => ds.put(k, v) }
    (mapper.writeValueAsString(n) + "\n").getBytes(StandardCharsets.UTF_8)
  }

  /** Full-snapshot commit: the new version's entries are exactly the
    * partitions of the freshly written data dir. Returns the version.
    */
  def commitOverwrite(df: DataFrame, rootStr: String,
      partitionBy: Seq[String] = Seq.empty): Long = {
    val (fs, root) = fsRoot(df.sparkSession, rootStr)
    val dataDir = writeDataDir(df, root, partitionBy)
    val entries =
      if (partitionBy.isEmpty) Map("" -> dataDir)
      else discoverPartitions(fs, new Path(root, dataDir), partitionBy)
        .map(_ -> dataDir).toMap
    publish(df.sparkSession, fs, root) { (n, _) =>
      TableManifest(n, partitionBy, entries, df.schema.json,
        Map(dataDir -> df.schema.json))
    }
  }

  /** Incremental commit: replace ONLY the partitions present in `df`; all
    * other partitions keep pointing at the data dirs that already serve
    * them. The merge against the previous manifest happens INSIDE the CAS
    * retry loop, so a concurrent commit between read and publish is
    * re-merged, never clobbered.
    *
    * Schema evolution contract (pinned round 18): incremental commits may
    * ADD columns — the new writer schema becomes the snapshot schema, and
    * dirs written before the column existed serve NULL for it at read
    * (Iceberg's add-column semantics; each dir's own schema is recorded
    * in the manifest). Dropping, renaming, or retyping a column that any
    * prior commit wrote is REJECTED loudly — old files would silently
    * read through the wrong schema — use [[commitOverwrite]], which
    * replaces every live file, for those.
    */
  def commitPartitions(df: DataFrame, rootStr: String,
      partitionBy: Seq[String]): Long = {
    require(partitionBy.nonEmpty, "commitPartitions needs partition columns")
    val (fs, root) = fsRoot(df.sparkSession, rootStr)
    val dataDir = writeDataDir(df, root, partitionBy)
    val fresh = discoverPartitions(fs, new Path(root, dataDir), partitionBy)
      .map(_ -> dataDir).toMap
    publish(df.sparkSession, fs, root) { (n, prev) =>
      prev.foreach { p =>
        require(p.partitionBy == partitionBy,
          s"partition layout mismatch: table has ${p.partitionBy}, write has $partitionBy")
        requireAdditiveEvolution(p.schema, df.schema, rootStr)
      }
      val base = prev.map(_.entries).getOrElse(Map.empty[String, String])
      val entries = base ++ fresh
      // carry forward only the dir schemas still referenced; the fresh
      // dir records the (possibly wider) writer schema
      val liveDirs = entries.values.toSet
      val carried = prev.map(p =>
        p.entries.values.toSet.filter(liveDirs)
          .map(d => d -> p.schemaOf(d).json).toMap)
        .getOrElse(Map.empty[String, String])
      TableManifest(n, partitionBy, entries, df.schema.json,
        carried + (dataDir -> df.schema.json))
    }
  }

  /** The add-column-only evolution gate [[commitPartitions]] enforces:
    * every column of the previous snapshot schema must survive in the new
    * writer schema with the same type (nullability aside). Inductively
    * this covers every live dir's schema, since each prior commit passed
    * the same gate against ITS predecessor.
    */
  private def requireAdditiveEvolution(prev: StructType, next: StructType,
      rootStr: String): Unit = {
    val nextByName = next.fields.map(f => f.name -> f).toMap
    prev.fields.foreach { f =>
      nextByName.get(f.name) match {
        case None => throw new IllegalArgumentException(
          s"schema evolution: incremental commit to $rootStr drops or renames " +
            s"column '${f.name}' — commitPartitions only ADDS columns " +
            "(old files would read through the wrong schema); rewrite the " +
            "table with commitOverwrite to drop/rename")
        // catalogString ignores nullability — the comparison Spark's own
        // sameType does, without reaching into a private[sql] API
        case Some(nf) if nf.dataType.catalogString != f.dataType.catalogString =>
          throw new IllegalArgumentException(
            s"schema evolution: incremental commit to $rootStr retypes column " +
              s"'${f.name}' from ${f.dataType.sql} to ${nf.dataType.sql} — " +
              "commitPartitions only ADDS columns; rewrite the table with " +
              "commitOverwrite to change a type")
        case _ => ()
      }
    }
  }

  /** Resolve a snapshot (latest by default) to a DataFrame: one file
    * scan over the files the manifest names ([[relation]]). Resolving opens
    * no parquet footer, lists no data directory and runs no Spark job.
    */
  def read(spark: SparkSession, rootStr: String,
      version: Option[Long] = None): DataFrame =
    spark.baseRelationToDataFrame(relation(spark, rootStr, version))

  /** The snapshot as one Spark parquet relation over a [[ManifestFileIndex]]
    * — the relation both [[read]] and the catalog entry
    * ([[VersionedSource]]) resolve to. Its columns are the snapshot schema
    * in the writer's order with the written types, every one nullable as
    * Spark's file sources read them, so a dir written before an added
    * column serves NULL for it (the commitPartitions contract).
    */
  private[sources] def relation(spark: SparkSession, rootStr: String,
      version: Option[Long]): HadoopFsRelation = {
    val (fs, root) = fsRoot(spark, rootStr)
    val v = version.orElse(latestVersion(fs, root)).getOrElse(
      throw new NoSuchElementException(s"no committed version under $root"))
    val m = readManifest(fs, root, v)
    val index = new ManifestFileIndex(spark, fs, root, m)
    HadoopFsRelation(index, index.partitionSchema, dataSchema(m),
      bucketSpec = None, new ParquetFileFormat, Map.empty)(spark)
  }

  /** The snapshot schema with every field nullable, nested ones too: the
    * data schema of the relation and the schema the catalog entry records.
    */
  private[sources] def dataSchema(m: TableManifest): StructType = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case mt: MapType =>
        MapType(nullable(mt.keyType), nullable(mt.valueType), valueContainsNull = true)
      case other => other
    }
    nullable(m.schema).asInstanceOf[StructType]
  }

  /** Drop all but the last `keepLast` versions and delete every data dir no
    * retained manifest references. `graceMs` spares data dirs younger than
    * the grace window: an in-flight commit's dir exists before its manifest
    * does, and deleting it would break that commit — the standard
    * retention caveat of any log-structured table format. Run vacuum with a
    * grace comfortably above the longest write, or with writers quiesced.
    *
    * `graceMs` is also a retention floor by version age, the same check as
    * Delta's retention duration: a version whose successor was committed
    * (by the successor manifest's modification time) less than `graceMs`
    * ago is retained beyond `keepLast`, manifest and data dirs both, so a
    * reader pinned to a just-replaced snapshot keeps its files however old
    * they are.
    */
  def vacuum(spark: SparkSession, rootStr: String, keepLast: Int,
      graceMs: Long = 3600000L): Unit = {
    require(keepLast >= 1, "must keep at least one version")
    val (fs, root) = fsRoot(spark, rootStr)
    val vs = versions(fs, root)
    if (vs.isEmpty) return
    val cutoff = System.currentTimeMillis() - graceMs
    def replacedBeforeCutoff(i: Int) =
      fs.getFileStatus(manifestPath(root, vs(i + 1))).getModificationTime <= cutoff
    val (dropped, kept) = vs.indices
      .partition(i => i < vs.size - keepLast && replacedBeforeCutoff(i))
    val live = kept.map(vs).flatMap(readManifest(fs, root, _).entries.values).toSet
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(DataDirPrefix) && !live.contains(name)
          && st.getModificationTime < cutoff)
        fs.delete(st.getPath, true)
    }
    dropped.foreach(i => fs.delete(manifestPath(root, vs(i)), false))
    // stale staging files from crashed publishers
    Option(fs.globStatus(new Path(logDir(root), ".tmp-*")))
      .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus])
      .foreach(st => if (st.getModificationTime < cutoff) fs.delete(st.getPath, false))
  }

  /** Result of a [[compact]] run: the committed version and the live
    * parquet file counts before/after (the number a small-file-bound
    * reader cares about).
    */
  final case class CompactStats(version: Long, filesBefore: Long, filesAfter: Long)

  /** A maintenance commit found its base snapshot superseded by a
    * concurrent writer and aborted rather than clobber the winner.
    */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** Rewrite the CURRENT snapshot into one fresh data dir and commit it
    * as a new version — the small-file maintenance pass every
    * incremental-append table eventually needs: daily
    * [[commitPartitions]] runs each add a data dir, so after a year a
    * reader of one partition may open hundreds of fragment files. The
    * data is bit-identical (compaction reads the LIVE snapshot only and
    * writes it once); prior versions stay time-travelable until
    * [[vacuum]] drops them.
    *
    * Concurrency: a full-snapshot rewrite is only valid against the exact
    * snapshot it read, so the publish VALIDATES inside the CAS loop that
    * the base version is still latest — the conflict check Delta OPTIMIZE
    * and Iceberg rewrite_data_files perform. If a concurrent commit lands
    * during the (long) rewrite, compaction deletes its orphaned data dir
    * and re-runs against the winner's snapshot (up to `maxAttempts`), so
    * the concurrent commit's data is never lost regardless of which side
    * wins the CAS race.
    *
    * File-count bound: unpartitioned tables repartition to
    * ceil(rows / targetRecordsPerFile); partitioned tables hash-cluster
    * on the partition columns over the same task count, so a partition's
    * rows land contiguously (typically ONE file per partition dir) while
    * the task count still scales with total volume. At 100 TB compaction
    * is one distributed read + shuffle + write of live data — run it per
    * heavy partition range via a filtered read + [[commitPartitions]] if
    * a full rewrite is too big a bite.
    */
  def compact(spark: SparkSession, rootStr: String,
      targetRecordsPerFile: Long = 1L << 20, maxAttempts: Int = 3,
      beforePublish: () => Unit = () => ()): CompactStats = {
    require(targetRecordsPerFile > 0,
      s"targetRecordsPerFile must be positive: got $targetRecordsPerFile")
    require(maxAttempts >= 1, s"maxAttempts must be positive: got $maxAttempts")
    val (fs, root) = fsRoot(spark, rootStr)
    var attempt = 0
    while (true) {
      attempt += 1
      val v = latestVersion(fs, root).getOrElse(
        throw new NoSuchElementException(s"no committed version under $root"))
      val m = readManifest(fs, root, v)
      val before = liveFileCount(fs, root, m)
      val df = read(spark, rootStr, Some(v))
      val rows = df.count()
      val nTasks = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
      val clustered =
        if (m.partitionBy.isEmpty) df.repartition(nTasks)
        else df.repartition(nTasks, m.partitionBy.map(col): _*)
      val dataDir = writeDataDir(clustered, root, m.partitionBy)
      // any exit without a published manifest — conflict, manifest IO
      // error, publish livelock — must delete the staged rewrite: nothing
      // references it, so vacuum would never find it and the full table
      // copy would leak on disk
      var published = false
      try {
        val entries =
          if (m.partitionBy.isEmpty) Map("" -> dataDir)
          else discoverPartitions(fs, new Path(root, dataDir), m.partitionBy)
            .map(_ -> dataDir).toMap
        beforePublish() // test seam: deterministically race a concurrent commit
        try {
          val newV = publish(spark, fs, root) { (n, prev) =>
            if (!prev.exists(_.version == v))
              throw new CommitConflictException(
                s"compaction base v$v of $root superseded by concurrent commit " +
                  s"(latest is now v${prev.map(_.version).getOrElse(-1L)})")
            TableManifest(n, m.partitionBy, entries, clustered.schema.json,
              Map(dataDir -> clustered.schema.json))
          }
          published = true
          val after = liveFileCount(fs, root, readManifest(fs, root, newV))
          return CompactStats(newV, before, after)
        } catch {
          case e: CommitConflictException =>
            if (attempt >= maxAttempts) throw e
        }
      } finally {
        if (!published) fs.delete(new Path(root, dataDir), true)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Parquet data files the manifest's snapshot actually serves. */
  private def liveFileCount(fs: FileSystem, root: Path, m: TableManifest): Long =
    (if (m.partitionBy.isEmpty) m.entries.values.toSeq.distinct.map(new Path(root, _))
     else m.entries.toSeq.map { case (p, d) => new Path(new Path(root, d), p) })
      .map { dir =>
        val it = fs.listFiles(dir, true)
        var n = 0L
        while (it.hasNext) {
          if (it.next().getPath.getName.endsWith(".parquet")) n += 1
        }
        n
      }.sum

  // ---- internals ------------------------------------------------------

  private def fsRoot(spark: SparkSession, rootStr: String): (FileSystem, Path) = {
    val root = new Path(rootStr)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  private def writeDataDir(df: DataFrame, root: Path,
      partitionBy: Seq[String]): String = {
    val dataDir = DataDirPrefix + UUID.randomUUID().toString
    val w = df.write.mode("error")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(new Path(root, dataDir).toString)
    dataDir
  }

  /** Relative partition paths (depth = number of partition columns) under a
    * freshly written data dir.
    */
  private def discoverPartitions(fs: FileSystem, dir: Path,
      partitionBy: Seq[String]): Seq[String] = {
    def walk(p: Path, depth: Int): Seq[String] =
      fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains('='))
        .flatMap { st =>
          val seg = st.getPath.getName
          if (depth == partitionBy.size - 1) Seq(seg)
          else walk(st.getPath, depth + 1).map(rest => s"$seg/$rest")
        }
    walk(dir, 0)
  }

  /** CAS publish loop: build the manifest against the CURRENT latest, stage
    * it, atomically claim version latest+1; on a lost race, rebuild against
    * the winner and retry.
    */
  private def publish(spark: SparkSession, fs: FileSystem, root: Path)(
      mk: (Long, Option[TableManifest]) => TableManifest): Long = {
    fs.mkdirs(logDir(root))
    var attempts = 0
    while (true) {
      val latest = latestVersion(fs, root)
      val prev = latest.map(readManifest(fs, root, _))
      val n = latest.getOrElse(0L) + 1L
      val m = mk(n, prev)
      require(m.version == n, "manifest factory must use the assigned version")
      val tmp = new Path(logDir(root), s".tmp-${UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(manifestBytes(m)) finally out.close()
      if (claim(spark, fs, tmp, manifestPath(root, n))) return n
      attempts += 1
      if (attempts >= 100) throw new IllegalStateException(
        s"could not commit to $root after $attempts attempts (livelock?)")
    }
    -1L // unreachable
  }

  /** Atomically move `tmp` to `dst` iff `dst` does not exist. On HDFS,
    * `FileContext.rename` without OVERWRITE is atomic at the namenode. On a
    * local filesystem that rename degrades to POSIX overwrite semantics, so
    * a hard link is used instead — `link(2)` fails `EEXIST` atomically.
    */
  private def claim(spark: SparkSession, fs: FileSystem, tmp: Path,
      dst: Path): Boolean = {
    val won =
      if (fs.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        val fc = FileContext.getFileContext(fs.getUri,
          spark.sparkContext.hadoopConfiguration)
        try { fc.rename(tmp, dst); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      }
    if (!won || fs.getScheme == "file") fs.delete(tmp, false)
    won
  }
}
