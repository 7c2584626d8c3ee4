package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}

/** File listing and input-partition planning shared by the whole-file
  * sources ([[FitsDataSource]], [[ParDataSource]]). */
private[v2] object FileScans {

  /** Resolve the load path(s) to the concrete (file, byteLength) list
    * (driver-side listing only — parsing stays on executors). Directories
    * expand one level, like Spark's text source with default settings,
    * skipping `_`/`.`-prefixed entries. Lengths come FROM the listing
    * RPCs (listStatus/getFileStatus carry them) so statistics never pay
    * a second round-trip per file. Uses the session's Hadoop
    * configuration (spark.hadoop.* — S3 credentials, defaultFS,
    * kerberos), not a bare classpath Configuration. */
  def listFiles(paths: Seq[String], conf: Configuration): Seq[(String, Long)] =
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val st = fs.getFileStatus(path)
      if (st.isDirectory) {
        fs.listStatus(path).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
          .map(s => (s.getPath.toString, s.getLen))
      } else Seq((st.getPath.toString, st.getLen))
    }

  /** Packs whole files into input partitions by Spark's own rule for
    * file sources: the split size is `FilePartition.maxSplitBytes`
    * (`spark.sql.files.maxPartitionBytes`, capped down to the bytes per
    * core of the default parallelism, floored at
    * `spark.sql.files.openCostInBytes`, each file charged its length
    * plus the open cost), and `FilePartition.getFilePartitions` fills
    * partitions largest file first. A catalog of many small files scans
    * in about one task per core instead of one task per file, while a
    * handful of tiny files stays one per partition (the open cost alone
    * reaches the split size). Files are never split: both formats parse
    * a file from its first byte. Ties in size keep path order, so the
    * plan is deterministic. */
  def pack(files: Seq[(String, Long)]): Array[InputPartition] = {
    val spark = SparkSession.active
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val splitBytes = FilePartition.maxSplitBytes(spark, files.map(_._2 + openCost).sum)
    val ordered = files.sortBy { case (file, len) => (-len, file) }
    val fileOf = ordered.map { case (file, _) => SparkPath.fromPathString(file) -> file }.toMap
    val whole = ordered.map { case (file, len) =>
      PartitionedFile(InternalRow.empty, SparkPath.fromPathString(file), 0L, len,
        Array.empty[String], 0L, len)
    }
    FilePartition.getFilePartitions(spark, whole, splitBytes)
      .map(p => FilesPartition(p.files.map(f => fileOf(f.filePath)).toSeq): InputPartition)
      .toArray
  }
}

/** One scan task's files, read in order. */
final case class FilesPartition(files: Seq[String]) extends InputPartition
