package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory for the graft engine.
  *
  * Scale notes: AQE is on so skewed shuffles re-plan at runtime; shuffle
  * partition count is env-sized (32 locally per the driver contract, 2-3x
  * cores on a real cluster). Timezone pinned to UTC so timestamp semantics
  * match the DuckDB oracle and are cluster-invariant.
  */
object GraftSession {

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession.Builder = {
    val shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // older events.parquet vintages carry TIMESTAMP(NANOS); read as
      // long, converted losslessly in Tables.events (which also handles
      // the round-6+ TIMESTAMP(MICROS) layout).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
  }

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
    spark
  }

  /** Install graft's native function + optimizer surface on any session
    * (idempotent): every native SQL function in
    * `graft.expressions.Functions.all` (kepler_solve, word_shingles,
    * minhash_sig, minhash_bands and xxminhash_bands (one MinHashBands
    * class, md5 and xxhash64 families), simhash_bits, dot_product,
    * cross_correlate, argmax_pack, normalize_text — that registry is the
    * source of truth, not this list) and the
    * rank-filter → TopKPerKey rewrite. Queries also self-install so the
    * driver contract works on externally-created sessions. */
  def install(spark: SparkSession): Unit = {
    graft.expressions.Functions.registerAll(spark)
    graft.plans.RankFilterToTopK_Install(spark)
    graft.plans.AsOfMerge.install(spark)
  }
}
