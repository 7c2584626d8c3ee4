package graft

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.sources.FitsFile
import graft.sources.FitsFile.BlockSize

/** The graft-fits DataSource V2: schema/typing parity with FitsFile.load,
  * one partition per file for a couple of tiny archives and core-sized
  * packed partitions for many, the streaming data-SKIP HDU walk, column
  * pruning, pushed key filters, and source_file partition pruning. */
class FitsDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def card(text: String): String = text.padTo(80, ' ')
  private def kv(key: String, value: String, comment: Option[String] = None): String = {
    val base = key.padTo(8, ' ') + "=" + value.reverse.padTo(21, ' ').reverse
    card(comment.fold(base)(c => s"$base / $c"))
  }
  private def block(cards: Seq[String]): Array[Byte] = {
    val text = cards.mkString
    val padded = text + " " * (BlockSize - text.length % BlockSize match {
      case BlockSize => 0
      case r         => r
    })
    padded.getBytes(StandardCharsets.US_ASCII)
  }

  /** archive A: primary + BINTABLE ext (one data block the reader must
    * SEEK past) + a second extension AFTER the data — proves the
    * streaming walk lands on the right offset. */
  private lazy val fitsA: Array[Byte] = {
    val primary = block(Seq(
      kv("SIMPLE", "T", Some("conforms to FITS")),
      kv("BITPIX", "8"),
      kv("NAXIS", "0"),
      kv("OBSFREQ", "1283.582"),
      kv("SRC_NAME", "'J0437-4715'"),
      kv("LONGSTR", "'part one &'"),
      card("CONTINUE  'part two'"),
      card("END")))
    val rowSize = 8 + 2 + 8
    val ext = block(Seq(
      kv("XTENSION", "'BINTABLE'"),
      kv("BITPIX", "8"),
      kv("NAXIS", "2"),
      kv("NAXIS1", rowSize.toString),
      kv("NAXIS2", "2"),
      kv("EXTNAME", "'HISTORY '"),
      kv("TTYPE1", "'DATE_PRO'"), kv("TFORM1", "'8A'"),
      kv("TTYPE2", "'NPOL    '"), kv("TFORM2", "'1I'"),
      kv("TTYPE3", "'DM      '"), kv("TFORM3", "'1D'"),
      card("END")))
    val data = ByteBuffer.allocate(BlockSize)
    data.put("20200101".getBytes(StandardCharsets.US_ASCII))
      .putShort(4.toShort).putDouble(2.64476)
    data.put("20200102".getBytes(StandardCharsets.US_ASCII))
      .putShort(1.toShort).putDouble(2.64481)
    val ext2 = block(Seq(
      kv("XTENSION", "'BINTABLE'"),
      kv("BITPIX", "8"),
      kv("NAXIS", "0"),
      kv("EXTNAME", "'AFTERDAT'"),
      card("END")))
    primary ++ ext ++ data.array() ++ ext2
  }

  private lazy val fitsB: Array[Byte] = block(Seq(
    kv("SIMPLE", "T"),
    kv("BITPIX", "8"),
    kv("NAXIS", "0"),
    kv("OBSFREQ", "815.734"),
    kv("SRC_NAME", "'J1811-1736'"),
    card("END")))

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("fitsv2").toFile
    java.nio.file.Files.write(new java.io.File(d, "a.fits").toPath, fitsA)
    java.nio.file.Files.write(new java.io.File(d, "b.fits").toPath, fitsB)
    d.getAbsolutePath
  }

  private def read() = spark.read.format("graft-fits").load(dir)

  test("reads both archives, one partition per file, data blocks skipped") {
    val df = read()
    assert(df.rdd.getNumPartitions === 2)
    // the extension AFTER the BINTABLE data block parses ⇒ the seek walk
    // landed exactly past the data
    val exts = df.filter(col("key") === "EXTNAME")
      .select("str_value").as[String].collect().toSet
    assert(exts === Set("HISTORY", "AFTERDAT"))
    // typed coercion matches the operator API
    val freqs = df.filter(col("key") === "OBSFREQ")
      .select("double_value").as[Double].collect().toSet
    assert(freqs === Set(1283.582, 815.734))
    // CONTINUE long strings merge
    val long = df.filter(col("key") === "LONGSTR")
      .select("str_value").as[String].collect().toSeq
    assert(long === Seq("part one part two"))
    // hdu indexing: three HDUs in a.fits
    val aHdus = df.filter(col("source_file").endsWith("a.fits"))
      .select("hdu").distinct().as[Int].collect().toSet
    assert(aHdus === Set(0, 1, 2))
  }

  test("agrees exactly with the binaryFile-based FitsFile.load") {
    val cols = Seq("source_file", "hdu", "pos", "key", "raw", "str_value",
      "long_value", "double_value", "bool_value", "comment")
    val v2 = read().select(cols.map(col): _*).collect().map(_.toString).toSet
    val v1 = FitsFile.load(spark, dir).select(cols.map(col): _*)
      .collect().map(_.toString).toSet
    assert(v2 === v1)
  }

  test("column pruning reaches the scan and key filters push down") {
    val pruned = read().select("key", "double_value")
    assert(!pruned.schema.fieldNames.contains("raw"))

    val filtered = read().filter(col("key") === "SRC_NAME")
    val scanDesc = filtered.queryExecution.executedPlan.collectLeaves().mkString
    assert(scanDesc.contains("PushedFilters") && scanDesc.contains("key"),
      s"expected pushed key filter in scan: $scanDesc")
    assert(filtered.select("str_value").as[String].collect().toSet
      === Set("J0437-4715", "J1811-1736"))
  }

  test("scan reports real byte statistics, shrunk by source_file pruning") {
    import graft.sources.v2.FitsScanBuilder
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    def stats(filters: Array[org.apache.spark.sql.sources.Filter]): Long = {
      val b = new FitsScanBuilder(new CaseInsensitiveStringMap(
        java.util.Map.of("path", dir)))
      b.pushFilters(filters)
      b.build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics().sizeInBytes().getAsLong
    }
    val total = stats(Array.empty)
    assert(total === fitsA.length + fitsB.length)
    val bPath = read().select("source_file").distinct()
      .as[String].collect().find(_.endsWith("b.fits")).get
    val pruned = stats(Array(org.apache.spark.sql.sources.EqualTo("source_file", bPath)))
    assert(pruned === fitsB.length,
      "pushed source_file filter must shrink the size estimate")
  }

  test("strict=true throws on truncated headers and trailing garbage; default stays lenient") {
    // corrupt archive: a full primary HDU, then a header block with no
    // END card and nothing after it — a mid-write or damaged file
    val d = java.nio.file.Files.createTempDirectory("fitsv2strict").toFile
    val corrupt = fitsB ++ block(Seq(kv("XTENSION", "'BINTABLE'"),
      kv("BITPIX", "8"))) // no END ⇒ header claims to continue past EOF
    java.nio.file.Files.write(new java.io.File(d, "c.fits").toPath, corrupt)

    // lenient (default): the partial trailing header is dropped silently
    val lenient = spark.read.format("graft-fits").load(d.getAbsolutePath)
    assert(lenient.select("hdu").distinct().as[Int].collect().toSet === Set(0))

    // strict: the same scan throws, naming the file
    val strict = spark.read.format("graft-fits").option("strict", true)
      .load(d.getAbsolutePath)
    val e = intercept[org.apache.spark.SparkException] { strict.count() }
    val root = Iterator.iterate(e: Throwable)(_.getCause).find(t =>
      t.getCause == null || t.getMessage.contains("graft-fits strict")).get
    assert(root.getMessage.contains("c.fits"))

    // strict on CLEAN archives is a no-op: same rows as lenient
    val clean = spark.read.format("graft-fits").option("strict", true).load(dir)
    assert(clean.count() === read().count())
  }

  /** 32 small archives (fitsA/fitsB with distinct OBSFREQ values) in one
    * directory; `corruptAt` replaces that one with a header cut off
    * before its END card. */
  private def manyArchives(corruptAt: Option[Int] = None): (String, Map[String, Array[Byte]]) = {
    val d = java.nio.file.Files.createTempDirectory("fitsv2many").toFile
    val bytes = (0 until 32).map { i =>
      val name = f"obs_$i%02d.fits"
      val freq = kv("OBSFREQ", f"${1000.0 + i}%.1f")
      val b =
        if (corruptAt.contains(i)) fitsB ++ block(Seq(kv("XTENSION", "'BINTABLE'"), kv("BITPIX", "8")))
        else if (i % 2 == 0) block(Seq(kv("SIMPLE", "T"), kv("NAXIS", "0"), freq, card("END"))) ++
          fitsA.drop(BlockSize)
        else block(Seq(kv("SIMPLE", "T"), kv("NAXIS", "0"), freq, kv("SRC_NAME", s"'PSR$i'"), card("END")))
      java.nio.file.Files.write(new java.io.File(d, name).toPath, b)
      name -> b
    }.toMap
    (d.getAbsolutePath, bytes)
  }

  test("32 small archives pack into at most defaultParallelism partitions, rows unchanged") {
    val (d, bytes) = manyArchives()
    val df = spark.read.format("graft-fits").load(d)
    val parts = df.rdd.getNumPartitions
    assert(parts >= 1 && parts <= spark.sparkContext.defaultParallelism,
      s"$parts partitions for 32 files")
    val rows = df.select("source_file", "hdu", "pos", "key", "raw", "str_value",
        "long_value", "double_value", "bool_value", "comment")
      .collect().map(r => Row.fromSeq(r.getString(0).split('/').last +: r.toSeq.tail)).toSeq
    // the per-file layout: FitsFile.readHdus on each archive's bytes
    val expected = bytes.toSeq.flatMap { case (name, b) =>
      FitsFile.readHdus(b).flatMap { case (hdu, cards) =>
        cards.zipWithIndex.map { case (c, pos) =>
          Row(name, hdu, pos, c.key, c.raw.trim, c.strValue.orNull, c.longValue.map(Long.box).orNull,
            c.doubleValue.map(Double.box).orNull, c.boolValue.map(Boolean.box).orNull, c.comment.orNull)
        }
      }
    }
    def multiset(rs: Seq[Row]) = rs.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(rows.length === expected.length)
    assert(multiset(rows.toSeq) === multiset(expected))
  }

  test("strict corruption inside a packed partition still throws, naming the file") {
    val (d, _) = manyArchives(corruptAt = Some(13))
    val strict = spark.read.format("graft-fits").option("strict", true).load(d)
    assert(strict.rdd.getNumPartitions < 32, "the corrupt archive shares its partition")
    val e = intercept[org.apache.spark.SparkException] { strict.count() }
    val root = Iterator.iterate(e: Throwable)(_.getCause).find(t =>
      t.getCause == null || t.getMessage.contains("graft-fits strict")).get
    assert(root.getMessage.contains("obs_13.fits"))
    // lenient: every other archive still reads in full
    val lenient = spark.read.format("graft-fits").load(d)
    assert(lenient.select("source_file").distinct().count() === 32)
  }

  test("a pushed source_file filter still prunes packed partitions") {
    val (d, _) = manyArchives()
    val files = spark.read.format("graft-fits").load(d).select("source_file").distinct()
      .as[String].collect().sorted
    assert(files.length === 32)
    val one = spark.read.format("graft-fits").load(d).filter(col("source_file") === files(5))
    assert(one.rdd.getNumPartitions === 1)
    assert(one.select("source_file").distinct().as[String].collect().toSeq === Seq(files(5)))
    val three = spark.read.format("graft-fits").load(d)
      .filter(col("source_file").isin(files(0), files(9), files(31)))
    assert(three.rdd.getNumPartitions <= 3)
    assert(three.select("source_file").distinct().as[String].collect().toSet
      === Set(files(0), files(9), files(31)))
  }
}
