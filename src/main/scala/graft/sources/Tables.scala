package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Typed loaders for the driver's parquet tables.
  *
  * Always load through these so column pruning + filter pushdown reach the
  * parquet scan (callers `.select` only what they need; Spark prunes the
  * rest). At 100 TB these tables would be partitioned/bucketed — loaders
  * keep that decision in one place.
  *
  * **Spread policy.** `documents`, `embeddings`, `events` and `lineitem`
  * take `spread = true` for per-row-heavy work (regex tokenize, shingle
  * explode, a Newton solve per row, decimal partial sums). The loader
  * then hash-repartitions the frame it returns on the table's id column
  * (`doc_id`, `vec_id`, `event_id`, `l_orderkey`) when the scan arrived
  * with too few splits to feed the cores AND the table's estimated bytes
  * exceed its floor:
  *  - 2 MB ([[TextHeavyMinBytes]]) for `documents` and `embeddings`:
  *    compressed text understates its regex/explode work (sf1's 50k-doc
  *    table is 5.8 MB on disk but seconds of tokenizing per core; the
  *    spread measured 4-7x there), while sf0.1's sub-MB inputs stay
  *    unspread, where a round-7 on/off A/B measured the exchange as a
  *    net loss on multi-pass pipelines (q92 +0.84 s, q89b +0.27 s). The
  *    floor was 4 MB until it missed a column-pruned projection's
  *    ~2.6 MB estimate at sf1 and q97's sf0.1 -> sf1 slope went 1.4x ->
  *    13x; the loader judges the whole table, so a later `.select`
  *    cannot lose the spread.
  *  - 8 MB for `events` and `lineitem`: under it the exchange costs more
  *    than the serial scan it parallelizes (wrapping the 6 MB sf0.1
  *    embeddings regressed the multi-pass dedup pipelines, while 60 MB+
  *    inputs won 3-7x).
  * `SPARK_GRAFT_SPREAD=off` turns every spread off. On a cluster the
  * scan arrives pre-split and the spread is a no-op. Operators never
  * repartition their input themselves: a caller that wants its work
  * spread passes a spread frame.
  */
object Tables {
  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String, spread: Boolean = false): DataFrame =
    spreadIf(spread, load(spark, dir, "lineitem"), "l_orderkey", PlainMinBytes)
  /** `ts` arrives in whatever physical parquet type the driver generated
    * that round — TIMESTAMP(NANOS) in rounds 1-5 (no native Spark type;
    * the loader forces spark.sql.legacy.parquet.nanosAsLong and converts
    * the long to micros TimestampType, losslessly — the data is
    * micro-aligned), TIMESTAMP(MICROS) naive since round 6 (reads as
    * TIMESTAMP_NTZ; cast to session-UTC TimestampType keeps the same
    * micros-since-epoch). Normalizing HERE means every consumer sees one
    * stable TimestampType column whichever file vintage it reads.
    *
    * The NTZ branch is timezone-INVARIANT: the naive value is UTC wall
    * clock, so its epoch micros are computed ARITHMETICALLY from the
    * wall-clock fields (days-since-epoch × 86.4e9 + intra-day micros) —
    * no session-timezone interpretation anywhere, so the result is
    * exact on ANY session including inside DST transitions (the earlier
    * convert_timezone('UTC', session, ..)-then-cast round trip shifted
    * instants landing in a non-UTC session's repeated fall-back hour by
    * one hour: the cast resolves the ambiguous local time to one
    * offset, and a bare `cast(ts as timestamp)` shifts everything). On
    * a UTC session the cast IS the identity and the per-row field
    * extraction is not free (the zone-arithmetic form measured 5.6x ->
    * 7.5x on events-heavy sf1 slopes), so the plain cast fast path is
    * taken. */
  private[graft] val ntzToUtcTimestamp =
    "timestamp_micros(" +
      "cast(datediff(cast(ts as date), date'1970-01-01') as bigint) * 86400000000 + " +
      "cast(hour(ts) as bigint) * 3600000000 + " +
      "cast(minute(ts) as bigint) * 60000000 + " +
      "cast(date_part('SECOND', ts) * 1000000 as bigint))"

  /** Column form of the same timezone-free NTZ(UTC wall clock) → epoch
    * micros arithmetic, for operators that need the LONG axis value
    * (as-of distances, range binning) rather than a TimestampType. */
  private[graft] def ntzMicros(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    datediff(c.cast("date"), lit(java.sql.Date.valueOf("1970-01-01"))).cast("long") * lit(86400000000L) +
      hour(c).cast("long") * lit(3600000000L) +
      minute(c).cast("long") * lit(60000000L) +
      (date_part(lit("SECOND"), c) * lit(1000000)).cast("long")
  }
  private[graft] def sessionIsUtc(spark: SparkSession): Boolean =
    try java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
      .normalized() == java.time.ZoneOffset.UTC
    catch { case _: Throwable => false }
  private[graft] def ntzCastSql(spark: SparkSession): String =
    if (sessionIsUtc(spark)) "cast(ts as timestamp)" else ntzToUtcTimestamp
  def events(spark: SparkSession, dir: String, spread: Boolean = false): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    val normalized = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", expr(ntzCastSql(spark)))
      case _ => raw
    }
    spreadIf(spread, normalized, "event_id", PlainMinBytes)
  }
  def documents(spark: SparkSession, dir: String, spread: Boolean = false): DataFrame =
    spreadIf(spread, load(spark, dir, "documents"), "doc_id", TextHeavyMinBytes)
  def embeddings(spark: SparkSession, dir: String, spread: Boolean = false): DataFrame =
    spreadIf(spread, load(spark, dir, "embeddings"), "vec_id", TextHeavyMinBytes)

  /** Spread floors (see the object doc for the measurements behind them). */
  private[graft] val TextHeavyMinBytes: Long = 2L << 20
  private[graft] val PlainMinBytes: Long = 8L << 20

  private def spreadIf(spread: Boolean, df: DataFrame, keyCol: String, minBytes: Long): DataFrame =
    if (spread) parallelized(df, keyCol, minBytes) else df

  /** Spread per-row-heavy work across cores when the scan arrived with too
    * few splits to feed them (a small local parquet file is ONE split,
    * serializing e.g. a 30-iteration Newton solve or per-doc string
    * munging onto a single task). On a cluster the scan is already
    * parallel and this is a no-op — no extra shuffle at scale.
    *
    * The split count is estimated from the optimizer's size statistics /
    * maxPartitionBytes: a file COUNT would misjudge one large splittable
    * file as serial (forcing a full at-scale shuffle), and probing df.rdd
    * would pay physical planning + RDD DAG construction per query build. */
  private[graft] def parallelized(df: DataFrame, keyCol: String, minBytes: Long): DataFrame = {
    // runtime kill switch (A/B experiments, emergency off on a deploy
    // where the exchange measures as a net loss): off = never spread
    if (sys.env.get("SPARK_GRAFT_SPREAD").contains("off")) return df
    val conf = df.sparkSession.sessionState.conf
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val estSplits = (bytes / BigInt(math.max(1L, conf.filesMaxPartitionBytes))) + 1
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // bytes are a proxy for work: see the object doc for each floor
    val worthSpreading = bytes > BigInt(minBytes)
    if (worthSpreading && estSplits * 2 < cores)
      df.repartition(org.apache.spark.sql.functions.col(keyCol)) else df
  }
}
