package graftbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PlanStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private lazy val dir = {
    val d = Files.createTempDirectory("planstats").resolve("t").toString
    spark.range(100).withColumn("grp", col("id") % 5).write.parquet(d)
    d
  }

  override def afterAll(): Unit = spark.stop()

  /** Node counts of `df`'s final plan, after running it. */
  private def counts(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    PlanStats.counts(df.queryExecution.executedPlan)
  }

  test("scan -> generate -> aggregate: one scan, one generate, one exchange") {
    val c = counts(spark.read.parquet(dir)
      .withColumn("x", explode(array(col("id"), col("id") + 1)))
      .groupBy("grp").agg(sum("x")))
    assert(c("scans") == 1 && c("generates") == 1 && c("exchanges") == 1, c)
    assert(c("windows") == 0 && c("topk_nodes") == 0, c)
    assert(c("codegen_stages") >= 1, c)
    assert(PlanStats.sum(Seq(c, c)) == c.map { case (k, v) => k -> 2 * v })
  }

  test("a window behind its exchange, and a top-k") {
    val w = counts(spark.read.parquet(dir)
      .withColumn("r", row_number().over(Window.partitionBy("grp").orderBy("id"))))
    assert(w("windows") == 1 && w("exchanges") == 1 && w("scans") == 1, w)
    val t = counts(spark.read.parquet(dir).orderBy(col("id").desc).limit(3))
    assert(t("topk_nodes") == 1, t)
  }
}
