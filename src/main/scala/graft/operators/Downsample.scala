package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Downsampling operators — engine-level forms of meerpipe's scrunching:
  * `bscrunch_to_nbin` (archive_utils.py:74, integer-factor phase-bin
  * scrunch) and the smoothing used before S/N estimation.
  */
object Downsample {

  /** Integer-factor downsample: consecutive runs of `factor` rows per key
    * (ordered by `ts`, tie-broken by `tiebreak`) collapse into one bin id.
    * Adds `bin` (0-based). One shuffle on the key. */
  def byFactor(df: DataFrame, key: String, ts: String, tiebreak: String, factor: Int): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts), col(tiebreak))
    df.withColumn("bin",
      floor((row_number().over(w) - lit(1)) / lit(factor.toDouble)).cast("long"))
  }

  /** Trailing boxcar mean over the previous `width` rows per key (exact
    * decimal running sums → deterministic). Adds `smooth`. */
  def boxcar(df: DataFrame, key: String, ts: String, tiebreak: String,
             valueCol: String, width: Int): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts), col(tiebreak))
      .rowsBetween(-(width - 1), Window.currentRow)
    df.withColumn("smooth",
      sum(col(valueCol).cast("decimal(38,6)")).over(w).cast("double") /
        count(col(valueCol)).over(w))
  }

  /** Trailing TIME-range rolling aggregate: per key, sum/count of
    * `valueCol` over the last `windowSeconds` of EVENT TIME up to and
    * including each row — the wall-clock companion to [[boxcar]]'s
    * row-count frame (a row-frame is wrong when event cadence varies:
    * 5 rows is 5 seconds for a hot key and 5 days for a cold one). Adds
    * `roll_sum`, `roll_n`. Rows sharing the same timestamp share one
    * frame (RANGE semantics), so results are set-deterministic; the
    * decimal accumulator makes the sum frame-order-exact.
    *
    * Scale shape: one key-partitioned sort window — the same shuffle
    * every per-key window here costs; no self-join (the naive
    * time-window form is `events ⋈ events ON ts BETWEEN` — quadratic
    * per key). */
  def rollingRange(df: DataFrame, key: String, ts: String, valueCol: String,
                   windowSeconds: Long): DataFrame = {
    require(windowSeconds >= 0, s"windowSeconds must be >= 0, got $windowSeconds")
    val us = windowSeconds * 1000000L
    val w = Window.partitionBy(key).orderBy(col("__us"))
      .rangeBetween(-us, Window.currentRow)
    df.withColumn("__us", unix_micros(col(ts).cast("timestamp")))
      .withColumn("roll_sum",
        sum(col(valueCol).cast("decimal(38,6)")).over(w).cast("double"))
      .withColumn("roll_n", count(col(valueCol)).over(w))
      .drop("__us")
  }

  /** One decimation-product spec: integer scrunch FACTORS for the time
    * and channel axes. Factor 0 collapses the axis entirely — the
    * reference's bare `tscrunch`/`fscrunch` products. */
  final case class Plan(name: String, tFactor: Long, fFactor: Long) {
    require(tFactor >= 0 && fFactor >= 0, s"factors must be >= 0: $this")
  }

  /** Parse the reference pipeline-config `flags` line (e.g.
    * `pscrunch,t 320 f 8,t 64 f 16,t 8 f 32,tscrunch,fscrunch,saveall`,
    * configuration_files/project_specific configs) into decimation
    * [[Plan]]s plus the non-decimation global flags (pscrunch / saveall
    * / nozap / subband n — applied pipeline-wide, not per product).
    * `t N`/`f M` tokens may appear in either order, with or without
    * whitespace (`t 320 f 8`, `t320 f8`, `t320f8` — the compact form is
    * exactly what [[Plan]] names round-trip to, so it MUST parse back);
    * a missing axis keeps factor 1 (untouched). A token that is neither
    * a plan shape nor a known global flag (pscrunch / saveall / nozap /
    * `subband N`) and carries a digit — a typo'd product spec like
    * `t 320 g 8` — THROWS instead of silently dropping the requested
    * decimation (same loud-failure contract as ToaSelect.parse);
    * digit-free unknown tokens still pass through as global flags for
    * forward compatibility with new config vocabulary. */
  def parseFlags(flags: String): (Seq[Plan], Set[String]) = {
    val axis = """([tf])\s*(\d+)""".r
    val planShape = """(?:\s*[tf]\s*\d+\s*){1,2}"""
    val knownGlobal = Set("pscrunch", "saveall", "nozap")
    val subband = """subband\s*\d+""".r
    val plans = Seq.newBuilder[Plan]
    val global = Set.newBuilder[String]
    flags.split(",").map(_.trim).filter(_.nonEmpty).foreach {
      case item if item.toLowerCase.matches(planShape) =>
        var t = 1L
        var f = 1L
        axis.findAllMatchIn(item.toLowerCase).foreach { m =>
          if (m.group(1) == "t") t = m.group(2).toLong else f = m.group(2).toLong
        }
        plans += Plan(item.toLowerCase.replaceAll("\\s+", ""), t, f)
      case item if item.equalsIgnoreCase("tscrunch") => plans += Plan("tscrunch", 0L, 1L)
      case item if item.equalsIgnoreCase("fscrunch") => plans += Plan("fscrunch", 1L, 0L)
      case other =>
        val low = other.toLowerCase
        if (!knownGlobal.contains(low) && !subband.pattern.matcher(low).matches()
            && low.exists(_.isDigit))
          throw new IllegalArgumentException(
            s"parseFlags: unparseable token '$other' — not a decimation plan " +
              "(t N / f M / tscrunch / fscrunch) and not a known global flag " +
              "(pscrunch, saveall, nozap, subband N)")
        global += low
    }
    (plans.result(), global.result())
  }

  /** ALL decimation products in ONE scan — the reference renders each
    * `flags` product with a separate pam pass over the archive; at lake
    * scale N passes over the fact table is the difference between a
    * night and an hour. The scan aggregates once at the finest grid
    * (keyCols, tIdx, fIdx) into exact partials — row count, value count
    * and the decimal(38,6) value sum — and every product rolls up from
    * those partials (the data-cube method: each coarser bucketing is a
    * function of the finest cell). Each partial explodes into its
    * (plan, t_bin, f_bin) memberships and a second aggregate sums them.
    * Decimal addition is associative, so every output is bit-identical
    * to aggregating the raw rows per plan. Raw rows are read and cast
    * once and never replicated; only the grid's partials are, |plans|×.
    * The gain grows with rows per cell (a 4-subint × 16-channel archive
    * grid folds 512 samples per cell); where nearly every row is its own
    * cell the second aggregate, and its exchange, is the added cost.
    *
    * `tIdx`/`fIdx` are integer axis indices (e.g. hours-since-epoch,
    * channel number); binning is floor(idx / factor) on doubles —
    * exact for |idx| < 2^53, i.e. any real axis index. Null indices
    * bin as null (one group per plan, same in any engine). Output:
    * keyCols ++ (plan, t_bin, f_bin, n, sum_value, avg_value),
    * decimal-exact sums per the Num policy. */
  def products(df: DataFrame, keyCols: Seq[String], tIdx: Column, fIdx: Column,
               valueCol: Column, plans: Seq[Plan]): DataFrame = {
    require(plans.nonEmpty, "at least one decimation plan")
    require(plans.map(_.name).distinct.size == plans.size, "plan names must be unique")
    def bin(idx: Column, factor: Long): Column =
      if (factor == 0L) lit(0L)
      else if (factor == 1L) idx.cast("long")
      else floor(idx / lit(factor.toDouble)).cast("long")
    // group on the raw index values: every bin is a function of them
    val cells = df.select(keyCols.map(col) ++ Seq(tIdx.as("__t"), fIdx.as("__f"),
        valueCol.as("__v")): _*)
      .groupBy(keyCols.map(col) ++ Seq(col("__t"), col("__f")): _*)
      .agg(count(lit(1)).as("__n"), count(col("__v")).as("__c"),
        sum(col("__v").cast("decimal(38,6)")).as("__s"))
    val rep = explode(array(plans.map { p =>
      struct(lit(p.name).as("plan"), bin(col("__t"), p.tFactor).as("t_bin"),
        bin(col("__f"), p.fFactor).as("f_bin"))
    }: _*)).as("__p")
    cells.select(keyCols.map(col) ++ Seq(rep, col("__n"), col("__c"), col("__s")): _*)
      .groupBy(keyCols.map(col) ++ Seq(col("__p.plan").as("plan"),
        col("__p.t_bin").as("t_bin"), col("__p.f_bin").as("f_bin")): _*)
      // n stays non-nullable, as the count it sums
      .agg(coalesce(sum(col("__n")), lit(0L)).as("n"),
        sum(col("__s")).cast("double").as("sum_value"),
        (sum(col("__s")).cast("double") / sum(col("__c"))).as("avg_value"))
  }
}
