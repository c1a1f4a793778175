package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory, PartitioningUtils}
import org.apache.spark.sql.sources.{BaseRelation, RelationProvider}
import org.apache.spark.sql.types.StructType

/** The catalog provider of a versioned table: the session catalog holds
  * one EXTERNAL datasource table `USING graft.sources.VersionedSource` at
  * the table root, and every resolve of it reads the latest manifest into
  * the relation [[VersionedTable.read]] builds. The catalog entry names no
  * snapshot, so a commit changes no catalog metadata unless it changes the
  * schema. A SQL client needs graft's jar on its classpath to read it.
  */
class VersionedSource extends RelationProvider {
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    VersionedTable.relation(sqlContext.sparkSession, parameters.getOrElse("path",
      throw new IllegalArgumentException("a versioned table needs its root as `path`")),
      version = None)
}

object VersionedSource {
  val Name: String = classOf[VersionedSource].getName
}

/** The files of one manifest snapshot, as Spark's file scan asks for them.
  *
  * Partition values come from the manifest's keys (`day=2024-01-01`),
  * typed by the snapshot schema the way Spark types a user-specified
  * partition column (nullable, as Spark reads every partition column), so
  * nothing is inferred from paths. Only the partition
  * directories the manifest names are listed, each on first use: a scan
  * whose partition filters select seven days lists seven directories.
  */
private[sources] final class ManifestFileIndex(spark: SparkSession, fs: FileSystem,
    root: Path, manifest: TableManifest) extends FileIndex {

  override val partitionSchema: StructType = {
    val columns = VersionedTable.dataSchema(manifest)
    StructType(manifest.partitionBy.map(columns(_)))
  }

  private val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)

  /** (partition values, directory) per manifest entry, in key order. */
  private val partitions: IndexedSeq[(InternalRow, Path)] =
    manifest.entries.toIndexedSeq.sortBy(_._1).map { case (rel, dir) =>
      if (rel.isEmpty) (InternalRow.empty, new Path(root, dir))
      else (values(rel), new Path(new Path(root, dir), rel))
    }

  private def values(rel: String): InternalRow = {
    val segs = rel.split('/')
    require(segs.length == partitionSchema.length && segs.zip(partitionSchema.fieldNames)
      .forall { case (seg, c) => seg.startsWith(c + "=") },
      s"partition path '$rel' does not match layout ${manifest.partitionBy}")
    InternalRow.fromSeq(segs.toSeq.zip(partitionSchema.fields).map { case (seg, f) =>
      PartitioningUtils.castPartValueToDesiredType(f.dataType, seg.split("=", 2)(1), zone)
    })
  }

  private val listed = new ConcurrentHashMap[Path, Array[FileStatus]]()

  /** Data files of one directory; `_SUCCESS`, `.crc` and other hidden
    * names are skipped, as Spark's own listing skips them.
    */
  private def files(dir: Path): Array[FileStatus] =
    listed.computeIfAbsent(dir, d => fs.listStatus(d).filter { st =>
      val name = st.getPath.getName
      st.isFile && !name.startsWith("_") && !name.startsWith(".")
    })

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val names = partitionSchema.fieldNames.toSet
    val pruning = partitionFilters.filter(_.references.forall(a => names(a.name)))
    val selected =
      if (pruning.isEmpty) partitions
      else {
        val predicate = Predicate.createInterpreted(pruning.reduce(And).transform {
          case a: AttributeReference =>
            BoundReference(partitionSchema.fieldIndex(a.name), a.dataType, nullable = true)
        })
        partitions.filter { case (v, _) => predicate.eval(v) }
      }
    selected.map { case (v, dir) => PartitionDirectory(v, files(dir)) }
  }

  override def inputFiles: Array[String] =
    partitions.flatMap { case (_, dir) => files(dir).map(_.getPath.toString) }.toArray

  override def refresh(): Unit = listed.clear()

  override def sizeInBytes: Long =
    partitions.map { case (_, dir) => files(dir).map(_.getLen).sum }.sum

  override def toString: String = s"ManifestFileIndex($root, v${manifest.version})"
}
