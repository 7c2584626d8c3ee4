package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.ParFile

/** DataSource V2 for pulsar ephemeris (.par) files:
  * `spark.read.format("graft-par").load(dir)` — the Spark-native way to
  * make the reference's config format (`read_par`, binary_tools.py:26) a
  * first-class table instead of a textFile+flatMap preprocessing step.
  *
  * Schema: (source_file, param, raw, value_type, num_value, err) — one
  * row per parsed ephemeris entry, typed per the reference's coercion
  * rules (ParFile.parseLine: comment/ignored-param skip, E→ECC rename,
  * D→E exponent fix, d/f/e/s value classes, optional uncertainty).
  *
  * Spark-first surface, not just a reader:
  *  - whole files packed into input partitions by Spark's own
  *    file-source rule ([[FileScans.pack]]: a catalog of 10⁶ small
  *    ephemerides scans in about one task per core, not one per file),
  *    no driver-side parsing;
  *  - column pruning (SupportsPushDownRequiredColumns): `select(param,
  *    num_value)` materializes only those fields per row;
  *  - filter pushdown (SupportsPushDownFilters) for `param` and
  *    `source_file` equality/IN: pushed param filters skip non-matching
  *    entries DURING the parse (`.explain` shows PushedFilters), and
  *    pushed source_file filters prune whole files from the partition
  *    list — partition pruning, the thing that matters at catalog scale.
  *    Filters are also kept as residuals, so Spark's re-evaluation keeps
  *    correctness even for semantics the push misses.
  *
  * Read-only by design (ephemerides are instrument outputs; the engine
  * writes parquet/CSV/JSON via sources.Formats).
  */
class ParDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-par"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ParDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ParTable(properties.asScala.toMap)
}

object ParDataSource {
  val schema: StructType = StructType(Seq(
    StructField("source_file", StringType, nullable = false),
    StructField("param", StringType, nullable = false),
    StructField("raw", StringType, nullable = false),
    StructField("value_type", StringType, nullable = false),
    StructField("num_value", DoubleType, nullable = true),
    StructField("err", DoubleType, nullable = true)))
}

final class ParTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"graft-par ${properties.getOrElse("path", "")}"
  override def schema(): StructType = ParDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ParScanBuilder(options)
}

final class ParScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = ParDataSource.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept equality/IN on param and source_file; everything is ALSO
    * returned as residual so Spark re-applies it post-scan (conservative:
    * the push is an optimization, never the correctness story). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("param", _: String) => true
      case In("param", _) => true
      case EqualTo("source_file", _: String) => true
      case In("source_file", _) => true
      case _ => false
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val paths: Seq[String] =
      if (options.containsKey("paths")) {
        // Spark encodes multi-path loads as a JSON array string
        // (ObjectMapper with full escaping) — decode it the same way, so
        // paths containing commas/quotes/backslashes survive
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(options.get("paths"), classOf[Array[String]]).toSeq
      } else Option(options.get("path")).toSeq
    require(paths.nonEmpty, "graft-par: no path specified")
    new ParScan(paths, required, pushed)
  }
}

final class ParScan(paths: Seq[String], required: StructType, pushed: Array[Filter])
    extends Scan with Batch with SupportsReportStatistics {

  // the session's Hadoop conf (captured at planning time on the driver),
  // shipped to readers serializably
  private val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)

  // one listing per Scan instance, shared by partition planning and
  // statistics; lengths ride along from the listing RPCs
  private lazy val prunedFiles: Seq[(String, Long)] = {
    val files = FileScans.listFiles(paths, hadoopConf.value)
    allowed("source_file") match {
      case Some(ok) => files.filter(f => ok.contains(f._1))
      case None => files
    }
  }

  /** Byte-size statistics from the (pruned) file listing, so Catalyst's
    * size estimates — broadcast-join thresholds above all — see the real
    * scan size instead of defaulting to "unknown/huge". Ephemeris
    * catalogs are exactly the kind of side table a query joins broadcast. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes: Long =
      try prunedFiles.map(_._2).sum
      catch { case _: Exception => Long.MaxValue }
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-par ${paths.mkString(",")}, PushedFilters: [${pushed.mkString(", ")}]"

  private def allowed(field: String): Option[Set[String]] = {
    val sets = pushed.collect {
      case EqualTo(`field`, v: String) => Set(v)
      case In(`field`, vs) => vs.collect { case s: String => s }.toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  override def planInputPartitions(): Array[InputPartition] =
    // partition pruning: a pushed source_file filter drops whole files
    // from the scan before any task launches
    FileScans.pack(prunedFiles)

  override def createReaderFactory(): PartitionReaderFactory =
    new ParReaderFactory(required, allowed("param"), hadoopConf)
}

final class ParReaderFactory(required: StructType, paramFilter: Option[Set[String]],
                             hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ParPartitionReader(partition.asInstanceOf[FilesPartition].files, required,
      paramFilter, hadoopConf.value)
}

/** Parses a partition's .par files, one at a time. Files are small
  * config artifacts (≤ a few KB); each reads in one shot, then rows
  * stream out pruned to the required schema with pushed param filters
  * applied during the parse. */
final class ParPartitionReader(files: Seq[String], required: StructType,
                               paramFilter: Option[Set[String]],
                               conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val entries: Iterator[(UTF8String, ParFile.ParEntry)] =
    files.iterator.flatMap { file =>
      val fileUtf8 = UTF8String.fromString(file)
      parse(file).map(e => (fileUtf8, e))
    }

  private def parse(file: String): Iterator[ParFile.ParEntry] = {
    val path = new Path(file)
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val parsed = ParFile.parse(text)
    paramFilter match {
      case Some(ok) => parsed.iterator.filter(e => ok.contains(e.param))
      case None => parsed.iterator
    }
  }

  private var current: (UTF8String, ParFile.ParEntry) = _

  override def next(): Boolean = {
    if (!entries.hasNext) return false
    current = entries.next()
    true
  }

  override def get(): InternalRow = {
    val (fileUtf8, e) = current
    val values = required.fields.map { f =>
      f.name match {
        case "source_file" => fileUtf8
        case "param" => UTF8String.fromString(e.param)
        case "raw" => UTF8String.fromString(e.raw)
        case "value_type" => UTF8String.fromString(e.valueType)
        case "num_value" => e.numValue.map(Double.box).orNull
        case "err" => e.err.map(Double.box).orNull
        case other => throw new IllegalArgumentException(s"graft-par: unknown column $other")
      }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = ()
}
