package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.sources.Tables

/** The loaders' spread policy on both sides of its byte floors: single
  * row-group files (one scan split on the `local[4]` session) above and
  * below 2 MB, and one between 2 and 8 MB loaded as `lineitem`, whose
  * floor is 8 MB. */
class TablesSpreadSpec extends SparkSpec {
  import spark.implicits._

  /** `SPARK_GRAFT_SPREAD=off` disables every spread. */
  private val killed = sys.env.get("SPARK_GRAFT_SPREAD").contains("off")

  /** Fixture directories, deleted after the suite. */
  private val written = scala.collection.mutable.Buffer[String]()

  override def afterAll(): Unit = written.foreach { dir =>
    val files = Files.walk(java.nio.file.Paths.get(dir))
    try files.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally files.close()
  }

  /** One-file table `name` of `n` rows: an id column and a 1,000-char
    * random alphanumeric column, which neither dictionary nor snappy
    * shrinks much, so the file is about `n` KB. */
  private def writeTable(name: String, idCol: String, textCol: String, n: Int): String = {
    val rng = new scala.util.Random(n)
    val dir = Files.createTempDirectory("spread").toString
    written += dir
    (1 to n).map(i => (i.toLong, rng.alphanumeric.take(1000).mkString)).toDF(idCol, textCol)
      .coalesce(1).write.parquet(s"$dir/$name.parquet")
    dir
  }

  private lazy val smallDir = writeTable("documents", "doc_id", "text", 200)
  private lazy val largeDir = writeTable("documents", "doc_id", "text", 3000)
  private lazy val lineitemDir = writeTable("lineitem", "l_orderkey", "l_comment", 3000)

  private def estBytes(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Key columns of each hash exchange in `df`'s physical plan. */
  private def hashSpreads(df: DataFrame): Seq[Seq[String]] =
    df.queryExecution.sparkPlan.collect {
      case ShuffleExchangeExec(h: HashPartitioning, _, _, _) =>
        h.expressions.flatMap(_.references.map(_.name))
    }

  test("the fixtures sit on the sides of the floors they test, on a session with cores to spare") {
    assert(spark.sparkContext.defaultParallelism == 4)
    val mb = BigInt(1L << 20)
    assert(estBytes(Tables.documents(spark, smallDir)) < 2 * mb)
    Seq(Tables.documents(spark, largeDir), Tables.lineitem(spark, lineitemDir)).foreach { df =>
      assert(df.inputFiles.length == 1)
      val bytes = estBytes(df)
      assert(bytes > 2 * mb && bytes < 8 * mb, s"$bytes bytes")
    }
  }

  test("documents above 2 MB spread once on doc_id with spread = true, and never without it") {
    val spread = Tables.documents(spark, largeDir, spread = true)
    assert(hashSpreads(spread) == (if (killed) Nil else Seq(Seq("doc_id"))))
    assert(hashSpreads(spread.select("doc_id", "text")) == hashSpreads(spread))
    assert(hashSpreads(Tables.documents(spark, largeDir)).isEmpty)
    assert(spread.count() == 3000)
  }

  test("documents below 2 MB are not spread, with or without spread = true") {
    assert(hashSpreads(Tables.documents(spark, smallDir, spread = true)).isEmpty)
    assert(hashSpreads(Tables.documents(spark, smallDir)).isEmpty)
  }

  test("a 2-8 MB lineitem is not spread: its floor is 8 MB") {
    assert(hashSpreads(Tables.lineitem(spark, lineitemDir, spread = true)).isEmpty)
    assert(hashSpreads(Tables.lineitem(spark, lineitemDir)).isEmpty)
  }
}
