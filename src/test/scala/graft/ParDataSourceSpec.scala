package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.sources.ParFile

/** The graft-par DataSource V2: schema/typing parity with ParFile,
  * one partition per file for a couple of tiny files and core-sized
  * packed partitions for many, column pruning, pushed param filters,
  * and source_file partition pruning. */
class ParDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private val parA =
    """PSRJ           J1811-1736
      |F0             9.59444
      |F1             -2.0e-17       1.2e-19
      |E              0.828011       3e-6
      |NITS           1
      |# a comment
      |""".stripMargin
  private val parB =
    """PSRJ           J0437-4715
      |F0             173.6879
      |DM             2.64476        0
      |""".stripMargin

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("parv2").toFile
    java.nio.file.Files.writeString(new java.io.File(d, "a.par").toPath, parA)
    java.nio.file.Files.writeString(new java.io.File(d, "b.par").toPath, parB)
    d.getAbsolutePath
  }

  private def read() = spark.read.format("graft-par").load(dir)

  test("reads both files with reference typing rules, one partition per file") {
    val df = read()
    assert(df.rdd.getNumPartitions === 2)
    val rows = df.select("param", "value_type", "num_value", "err")
      .as[(String, String, Option[Double], Option[Double])].collect()
    val byParam = rows.groupBy(_._1)
    assert(!byParam.contains("NITS"), "ignored params skipped")
    assert(byParam.contains("ECC"), "E renamed to ECC")
    assert(byParam("ECC").head._4.contains(3e-6))
    assert(byParam("F1").head._2 === "e")
    assert(byParam("PSRJ").map(_._2).toSet === Set("s"))
    assert(byParam("F0").flatMap(_._3).toSet === Set(9.59444, 173.6879))
    assert(byParam("DM").head._4.isEmpty, "trailing 0 is a fit flag")
  }

  test("agrees exactly with the textFile-based ParFile.load") {
    val v2 = read().select("param", "raw", "value_type", "num_value", "err")
      .as[(String, String, String, Option[Double], Option[Double])].collect().toSet
    val v1 = ParFile.load(spark, dir)
      .select(col("param"), col("raw"), col("valueType"), col("numValue"), col("err"))
      .as[(String, String, String, Option[Double], Option[Double])].collect().toSet
    assert(v2 === v1)
  }

  test("column pruning reaches the scan and param filters push down") {
    val pruned = read().select("param", "num_value")
    assert(pruned.queryExecution.executedPlan.toString.contains("num_value"))
    assert(!pruned.schema.fieldNames.contains("raw"))

    val filtered = read().filter(col("param") === "F0")
    val scanDesc = filtered.queryExecution.executedPlan.collectLeaves().mkString
    assert(scanDesc.contains("PushedFilters") && scanDesc.contains("param"),
      s"expected pushed param filter in scan: $scanDesc")
    assert(filtered.select("num_value").as[Option[Double]].collect().flatten.toSet
      === Set(9.59444, 173.6879))
  }

  test("scan reports real byte statistics, shrunk by file pruning") {
    import graft.sources.v2.{ParScanBuilder}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    def stats(filters: Array[org.apache.spark.sql.sources.Filter]): Long = {
      val b = new ParScanBuilder(new CaseInsensitiveStringMap(
        java.util.Map.of("path", dir)))
      b.pushFilters(filters)
      b.build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics().sizeInBytes().getAsLong
    }
    val total = stats(Array.empty)
    assert(total === parA.getBytes("UTF-8").length + parB.getBytes("UTF-8").length)
    val aPath = read().select("source_file").distinct()
      .as[String].collect().find(_.endsWith("a.par")).get
    val pruned = stats(Array(org.apache.spark.sql.sources.EqualTo("source_file", aPath)))
    assert(pruned === parA.getBytes("UTF-8").length,
      "pushed source_file filter must shrink the size estimate")
  }

  test("source_file equality prunes whole files from the partition list") {
    val aPath = read().select("source_file").distinct()
      .as[String].collect().find(_.endsWith("a.par")).get
    val one = read().filter(col("source_file") === aPath)
    assert(one.rdd.getNumPartitions === 1, "pushed source_file filter must prune partitions")
    assert(one.select("param").distinct().as[String].collect().toSet
      === Set("PSRJ", "F0", "F1", "ECC"))
  }

  /** 32 small ephemerides, alternating parA/parB shapes with distinct F0. */
  private lazy val many: (String, Map[String, String]) = {
    val d = java.nio.file.Files.createTempDirectory("parv2many").toFile
    val texts = (0 until 32).map { i =>
      val text = (if (i % 2 == 0) parA else parB).replaceFirst("F0 +\\S+", s"F0             ${100.0 + i}")
      val name = f"psr_$i%02d.par"
      java.nio.file.Files.writeString(new java.io.File(d, name).toPath, text)
      name -> text
    }.toMap
    (d.getAbsolutePath, texts)
  }

  test("32 small files pack into at most defaultParallelism partitions, rows unchanged") {
    val (d, texts) = many
    val df = spark.read.format("graft-par").load(d)
    val parts = df.rdd.getNumPartitions
    assert(parts >= 1 && parts <= spark.sparkContext.defaultParallelism,
      s"$parts partitions for 32 files")
    val rows = df.select("source_file", "param", "raw", "value_type", "num_value", "err")
      .collect().map(r => Row.fromSeq(r.getString(0).split('/').last +: r.toSeq.tail)).toSeq
    // the per-file layout: ParFile.parse on each file's text
    val expected = texts.toSeq.flatMap { case (name, text) =>
      ParFile.parse(text).map(e => Row(name, e.param, e.raw, e.valueType,
        e.numValue.map(Double.box).orNull, e.err.map(Double.box).orNull))
    }
    def multiset(rs: Seq[Row]) = rs.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(rows.length === expected.length)
    assert(multiset(rows.toSeq) === multiset(expected))
    assert(rows.count(_.getString(1) == "F0") === 32)
  }

  test("a pushed source_file filter still prunes packed partitions") {
    val (d, _) = many
    val files = spark.read.format("graft-par").load(d).select("source_file").distinct()
      .as[String].collect().sorted
    assert(files.length === 32)
    val one = spark.read.format("graft-par").load(d).filter(col("source_file") === files(7))
    assert(one.rdd.getNumPartitions === 1)
    assert(one.select("num_value").where(col("param") === "F0").as[Double].collect().toSeq
      === Seq(107.0))
  }
}
