package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session — Spark's
  * getOrCreate makes suite-parallel reuse safe). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Walks adaptive plans and their query stages like any other node. */
  private object PlanNodes extends AdaptiveSparkPlanHelper {
    def all(plan: SparkPlan): Seq[SparkPlan] = collect(plan) { case p => p }
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  /** `df`'s rows as a multiset. */
  protected def rowBag(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** Every physical node of the final plan that one more `count()` of `df`
    * runs, adaptive query stages included: what a further consumer
    * action re-executes on top of `df`. */
  protected def countPlanNodes(df: DataFrame): Seq[SparkPlan] = {
    val counted = df.groupBy().count()
    counted.collect()
    SparkSpec.PlanNodes.all(counted.queryExecution.executedPlan)
  }
}
