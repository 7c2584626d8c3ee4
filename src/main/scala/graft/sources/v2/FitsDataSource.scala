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

import graft.sources.FitsFile

/** DataSource V2 for FITS archives: `spark.read.format("graft-fits")
  * .load(dir)` — the reference's own container format (PSRFITS headers,
  * dlyfix_fits.py:75-236) as a first-class Spark table instead of a
  * binaryFile+flatMap preprocessing step ([[FitsFile.load]] remains the
  * typed-Dataset form; this source adds pruning/pushdown/statistics).
  *
  * Schema: one row per header CARD per HDU per file, typed through the
  * same coercion rules as the operator API (quoted strings with ''
  * unescaping, T/F logicals, int/float, COMMENT/HISTORY pass-through):
  * (source_file, hdu, pos, key, raw, str_value, long_value,
  * double_value, bool_value, comment).
  *
  * Spark-first surface (same design as [[ParDataSource]]):
  *  - whole archives packed into input partitions by Spark's own
  *    file-source rule ([[FileScans.pack]]: about one task per core for
  *    a catalog of small archives, never more tasks than files), headers
  *    only (table DATA blocks are skipped by the HDU walk — a card scan
  *    never reads payload rows into Spark rows);
  *  - column pruning: `select(key, double_value)` materializes only
  *    those fields;
  *  - filter pushdown for `key` and `source_file` equality/IN: key
  *    filters skip non-matching cards during the walk, source_file
  *    filters prune whole files from the partition list (partition
  *    pruning). All pushed filters stay residual — the push is an
  *    optimization, never the correctness story;
  *  - byte statistics from the file listing so Catalyst sees a real
  *    size (FITS header catalogs are classic broadcast-side tables).
  *
  * Option `strict=true` turns corruption loud: a header truncated
  * before its END card, sub-block trailing bytes, or a data region cut
  * off by EOF all throw from the scan instead of silently ending the
  * HDU walk (the default mirrors [[FitsFile.readHdus]]'s lenient stop).
  *
  * Read-only: corrected-archive WRITE-BACK is the
  * [[FitsFile.transformFiles]] operator (the dlyfix rewrite loop),
  * which owns the byte-identical round-trip contract.
  */
class FitsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-fits"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FitsDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FitsTable(properties.asScala.toMap)
}

object FitsDataSource {
  val schema: StructType = StructType(Seq(
    StructField("source_file", StringType, nullable = false),
    StructField("hdu", IntegerType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("raw", StringType, nullable = false),
    StructField("str_value", StringType, nullable = true),
    StructField("long_value", LongType, nullable = true),
    StructField("double_value", DoubleType, nullable = true),
    StructField("bool_value", BooleanType, nullable = true),
    StructField("comment", StringType, nullable = true)))
}

final class FitsTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"graft-fits ${properties.getOrElse("path", "")}"
  override def schema(): StructType = FitsDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FitsScanBuilder(options)
}

final class FitsScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = FitsDataSource.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("key", _: String) => true
      case In("key", _) => true
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
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(options.get("paths"), classOf[Array[String]]).toSeq
      } else Option(options.get("path")).toSeq
    require(paths.nonEmpty, "graft-fits: no path specified")
    new FitsScan(paths, required, pushed, options.getBoolean("strict", false))
  }
}

final class FitsScan(paths: Seq[String], required: StructType, pushed: Array[Filter],
                     strict: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics {

  private val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)

  private lazy val prunedFiles: Seq[(String, Long)] = {
    val files = FileScans.listFiles(paths, hadoopConf.value)
    allowed("source_file") match {
      case Some(ok) => files.filter(f => ok.contains(f._1))
      case None => files
    }
  }

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
    s"graft-fits ${paths.mkString(",")}, PushedFilters: [${pushed.mkString(", ")}]"

  private def allowed(field: String): Option[Set[String]] = {
    val sets = pushed.collect {
      case EqualTo(`field`, v: String) => Set(v)
      case In(`field`, vs) => vs.collect { case s: String => s }.toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  override def planInputPartitions(): Array[InputPartition] =
    FileScans.pack(prunedFiles)

  override def createReaderFactory(): PartitionReaderFactory =
    new FitsReaderFactory(required, allowed("key"), hadoopConf, strict)
}

final class FitsReaderFactory(required: StructType, keyFilter: Option[Set[String]],
                              hadoopConf: org.apache.spark.util.SerializableConfiguration,
                              strict: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FitsPartitionReader(partition.asInstanceOf[FilesPartition].files, required,
      keyFilter, hadoopConf.value, strict)
}

/** Parses the headers of a partition's FITS files, one file at a time.
  * The HDU walk reads header blocks and SEEKS past extension data, so
  * only ~2880·blocks bytes per HDU are materialized no matter how large
  * the table payloads are; cards stream out pruned to the required
  * schema with pushed key filters applied during the walk. */
final class FitsPartitionReader(files: Seq[String], required: StructType,
                                keyFilter: Option[Set[String]],
                                conf: Configuration,
                                strict: Boolean = false)
    extends PartitionReader[InternalRow] {

  private val cards: Iterator[(UTF8String, Int, Int, FitsFile.FitsCard)] =
    files.iterator.flatMap { file =>
      val fileUtf8 = UTF8String.fromString(file)
      walk(file).map { case (hdu, pos, c) => (fileUtf8, hdu, pos, c) }
    }

  private def walk(file: String): Iterator[(Int, Int, FitsFile.FitsCard)] = {
    val path = new Path(file)
    val fs = path.getFileSystem(conf)
    val len = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    // Streaming HDU walk (same semantics as FitsFile.readHdus, but over
    // positioned reads): header blocks are READ, extension data regions
    // are SEEKED past — a card scan of a multi-GB archive only touches
    // ~2880·headerBlocks bytes per HDU, and files past 2 GB work.
    val hdus =
      try {
        val out = Seq.newBuilder[(Int, Seq[FitsFile.FitsCard])]
        val block = new Array[Byte](FitsFile.BlockSize)
        var off = 0L
        var hdu = 0
        var more = off + FitsFile.BlockSize <= len
        while (more) {
          // read one header: blocks until the END card (None ⇒ truncated)
          val acc = Seq.newBuilder[FitsFile.FitsCard]
          var ended = false
          var truncated = false
          var i = off
          while (!ended && !truncated) {
            if (i + FitsFile.BlockSize > len) truncated = true
            else {
              in.readFully(i, block)
              val (cs, sawEnd) = FitsFile.parseBlock(block, 0)
              acc ++= cs.filterNot(_.key == "END")
              ended = sawEnd
              i += FitsFile.BlockSize
            }
          }
          if (truncated) {
            // A header started but hit EOF before its END card: the
            // archive is corrupt or mid-write. Default (lenient, same as
            // FitsFile.readHdus) drops the partial header and ends the
            // walk; option strict=true makes corruption loud — a DSv2
            // scan has no other channel to surface it.
            if (strict) throw new java.io.IOException(
              s"graft-fits strict: truncated header in $file at offset $off " +
                s"(file length $len) — ${acc.result().size} cards read with no END")
            more = false
          }
          else {
            val raw = acc.result()
            out += ((hdu, FitsFile.mergeContinuations(raw)))
            off = i + FitsFile.extDataSize(raw) // seek past data, never read it
            hdu += 1
            more = off + FitsFile.BlockSize <= len
          }
        }
        // a clean FITS file is a whole number of 2880-byte blocks and the
        // walk ends exactly at EOF; anything else (sub-block trailing
        // garbage, or a data region the header promised but EOF cut off)
        // is corruption strict mode must surface
        if (strict && off != len) throw new java.io.IOException(
          s"graft-fits strict: HDU walk ended at offset $off but $file is $len bytes — " +
            (if (off < len) s"${len - off} trailing bytes (not a whole 2880-byte block)"
             else s"data region truncated ${off - len} bytes short"))
        out.result()
      } finally in.close()
    val all = hdus.iterator.flatMap { case (hdu, hduCards) =>
      hduCards.iterator.zipWithIndex.map { case (c, pos) => (hdu, pos, c) }
    }
    keyFilter match {
      case Some(ok) => all.filter { case (_, _, c) => ok.contains(c.key) }
      case None => all
    }
  }

  private var current: (UTF8String, Int, Int, FitsFile.FitsCard) = _

  override def next(): Boolean = {
    if (!cards.hasNext) return false
    current = cards.next()
    true
  }

  override def get(): InternalRow = {
    val (fileUtf8, hdu, pos, c) = current
    val values = required.fields.map { f =>
      f.name match {
        case "source_file" => fileUtf8
        case "hdu" => Int.box(hdu)
        case "pos" => Int.box(pos)
        case "key" => UTF8String.fromString(c.key)
        case "raw" => UTF8String.fromString(c.raw.trim)
        case "str_value" => c.strValue.map(UTF8String.fromString).orNull
        case "long_value" => c.longValue.map(Long.box).orNull
        case "double_value" => c.doubleValue.map(Double.box).orNull
        case "bool_value" => c.boolValue.map(Boolean.box).orNull
        case "comment" => c.comment.map(UTF8String.fromString).orNull
        case other => throw new IllegalArgumentException(s"graft-fits: unknown column $other")
      }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = ()
}
