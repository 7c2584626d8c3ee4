package graftbench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}

/** What one pass produced, for the run's checks and reports. */
final case class PassResult(
    /** XOR checksum per materialized output; must repeat across passes. */
    checksums: Map[String, Long],
    /** Output-check failures of this pass (empty when correct). */
    failures: Seq[String],
    /** The executed output frames, whose final plans `plans.*` counts. */
    finals: Seq[DataFrame],
    /** Quality figures (e.g. recall) computed from this pass's output. */
    quality: Map[String, Double] = Map.empty)

/** One seeded workload over generated inputs in `dataDir`. A workload is
  * a closed loop: each operation starts when the previous one ends. */
trait Workload {
  def name: String
  def dataDir: String

  lazy val truth: JsonNode = new ObjectMapper().readTree(new File(dataDir, "truth.json"))

  /** Defines the inputs on a (new) session; runs no job. */
  def open(spark: SparkSession): Unit

  /** One pass from input files to fully materialized output. */
  def pass(spark: SparkSession, calls: Calls): PassResult

  /** Traced-run extras: `expressions.*` projections, useful/attempted
    * ratios and `queries.*`, each measured under `tracer`. Returns the
    * ratio metrics; span metrics are read off the tracer. */
  def traceExtras(spark: SparkSession, tracer: Tracer): Map[String, Double]

  /** Catalog queries the traced run times on this workload's data. */
  def queryNames: Seq[String] = Nil
  def queryDir: String = new File(dataDir, "queries").getPath
}

object Workload {

  /** Full-materialization checksum over every output column (the same
    * action `graft.Bench` times): XOR of per-row xxhash64. Returns the
    * checksum and the executed frame, whose plan is the final AQE plan. */
  def checksum(df: DataFrame): (Long, DataFrame) = {
    val agg = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .selectExpr("bit_xor(h) AS x")
    val r = agg.collect()
    (if (r.isEmpty || r(0).isNullAt(0)) 0L else r(0).getLong(0), agg)
  }

  /** Times a catalog query end to end (build + checksum) under `tracer`. */
  def runQuery(spark: SparkSession, tracer: Tracer, q: String, dir: String): Unit =
    tracer.value(s"queries.$q") {
      checksum(graft.SparkEntry.queries(q)(spark, dir))
    }

  /** An expression projection plus checksum over an input column. */
  def runExpression(tracer: Tracer, name: String, df: DataFrame, sql: String): Unit =
    tracer.value(s"expressions.$name")(checksum(df.selectExpr(s"$sql AS o")))

  def make(name: String, dataDir: String): Workload = name match {
    case "pulsar_chain" => new PulsarChain(dataDir)
    case "corpus_cookbook" => new CorpusCookbook(dataDir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}
