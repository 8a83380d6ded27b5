package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import graft.ops.MergeTable.DataFileEntry

/** A fixed file list as a Spark [[FileIndex]]: the files of one snapshot
  * read, exactly as the manifest names and sizes them. Building a scan
  * over it lists no directory, so planning a read of a 10⁶-file table is
  * driver-side metadata work with no listing job (an `InMemoryFileIndex`
  * over more than `parallelPartitionDiscoveryThreshold` paths lists them
  * with a Spark job). Unpartitioned: a merge table clusters by its keys
  * and prunes files through the manifest before the index is built. */
private[graft] class ManifestFileIndex(root: Path, files: Array[FileStatus])
    extends FileIndex {
  override def rootPaths: Seq[Path] = Seq(root)
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files))
  override def inputFiles: Array[String] = files.map(_.getPath.toString)
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.iterator.map(_.getLen).sum
  override def partitionSchema: StructType = new StructType()

  /** Two indexes over the same files are equal, as two reads of the same
    * paths are: a re-planned scan (AQE re-plans the parts of a query not
    * yet run) then canonicalizes equal to the stage it already made, and
    * two scans of one file set can share an exchange. */
  private def key = (root, files.toSeq.map(f => (f.getPath, f.getLen)))
  private lazy val hash = key.hashCode
  override def hashCode: Int = hash
  override def equals(o: Any): Boolean = o match {
    case that: ManifestFileIndex => (this eq that) || (hash == that.hash && key == that.key)
    case _ => false
  }
}

private[graft] object ManifestFileIndex {
  private def rootOf(s: SparkSession, table: String) = {
    val p = new Path(table)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  /** The data files of `entries`, sized by `DataFileEntry.bytes`. An entry
    * with no recorded size (`bytes = 0`, written before sizes were
    * recorded; a parquet file is never empty) costs one stat, so a file is
    * never planned as a zero-length split. */
  def of(s: SparkSession, table: String,
      entries: Seq[DataFileEntry]): ManifestFileIndex = {
    val (fs, root) = rootOf(s, table)
    new ManifestFileIndex(root, entries.map { e =>
      val p = new Path(root, e.path)
      if (e.bytes > 0L) new FileStatus(e.bytes, false, 0, 0L, 0L, p)
      else fs.getFileStatus(p)
    }.toArray)
  }

  /** The part files of table-relative dataset directories (the deletion-
    * vector datasets a commit wrote with `df.write.parquet`): one driver
    * listing per directory, hidden and `_`-prefixed files skipped as
    * Spark's own file sources skip them. */
  def ofDirs(s: SparkSession, table: String,
      dirs: Seq[String]): ManifestFileIndex = {
    val (fs, root) = rootOf(s, table)
    new ManifestFileIndex(root, dirs.flatMap { d =>
      fs.listStatus(new Path(root, d)).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    }.toArray)
  }
}
