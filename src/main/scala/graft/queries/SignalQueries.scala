package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Num._
import graft.functions.{Orbital, Signal}
import graft.operators.{AsOfJoin, Downsample, Interpolate, Outliers, Sessionize}
import graft.sources.Tables

/** SURVEY.md §2.B — time-series / signal operators (meerpipe compute
  * analogs) over the `events` stream table. */
object SignalQueries {

  /** B1: conditional range-bucketing (`get_band`, archive_utils.py:22). */
  private val q11 = Q(
    "q11_band_classify",
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("band", Signal.bandOf(col("value")))
        .groupBy("band")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
    Some("""
      SELECT CASE
          WHEN value >= 0.0 AND value < 50.0 THEN 'UHF'
          WHEN value >= 50.0 AND value < 150.0 THEN 'LBAND'
          WHEN value >= 150.0 AND value < 250.0 THEN 'SBAND_0'
          WHEN value >= 250.0 AND value < 350.0 THEN 'SBAND_1'
          WHEN value >= 350.0 AND value < 500.0 THEN 'SBAND_2'
          ELSE 'UNKNOWN' END AS band,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1
    """),
  )

  /** B2: conditional-fraction aggregation
    * (`calc_dynspec_zap_fraction`, archive_utils.py:118). */
  private val q12 = Q(
    "q12_zap_fraction",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          Signal.zapFraction(col("value") < 1.0).as("zap_frac"),
          count(lit(1)).as("n"),
        ),
    Some("""
      SELECT event_type,
        CAST(SUM(CAST(value < 1.0 AS BIGINT)) AS DOUBLE) / COUNT(*) AS zap_frac,
        COUNT(*) AS n
      FROM events GROUP BY 1
    """),
  )

  /** B3: per-band edge-chop range filter
    * (`chopping_utility`, archive_utils.py:140). */
  private val q13 = Q(
    "q13_chop_edges",
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("band", Signal.bandOf(col("value")))
        .groupBy("band")
        .agg(
          count(lit(1)).as("n_total"),
          sum(Signal.insideChop(col("value")).cast("long")).as("n_kept"),
        ),
    Some("""
      SELECT CASE
          WHEN value >= 0.0 AND value < 50.0 THEN 'UHF'
          WHEN value >= 50.0 AND value < 150.0 THEN 'LBAND'
          WHEN value >= 150.0 AND value < 250.0 THEN 'SBAND_0'
          WHEN value >= 250.0 AND value < 350.0 THEN 'SBAND_1'
          WHEN value >= 350.0 AND value < 500.0 THEN 'SBAND_2'
          ELSE 'UNKNOWN' END AS band,
        COUNT(*) AS n_total,
        CAST(SUM(CAST((value >= 5.0 AND value <= 45.0 AND value >= 0.0 AND value < 50.0)
          OR (value >= 60.0 AND value <= 140.0 AND value >= 50.0 AND value < 150.0)
          OR (value >= 160.0 AND value <= 240.0 AND value >= 150.0 AND value < 250.0)
          OR (value >= 260.0 AND value <= 340.0 AND value >= 250.0 AND value < 350.0)
          OR (value >= 360.0 AND value <= 480.0 AND value >= 350.0 AND value < 500.0)
          AS BIGINT)) AS BIGINT) AS n_kept
      FROM events GROUP BY 1
    """),
  )

  /** B4: time-bucket downsample ("tscrunch" / decimation analog). Bucket
    * emitted as epoch micros: UTC-adjusted Spark timestamps surface as
    * tz-aware values while DuckDB's are naive — integers compare
    * identically everywhere. */
  private val q14 = Q(
    "q14_downsample_time",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
    Some("""
      SELECT epoch_us(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS hour_us, event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    """),
  )

  /** B5: pivot into a day × event_type value matrix (dynamic-spectrum
    * analog, `psrflux` output shape). Uses the Spark pivot operator with
    * explicit values so the plan is a single aggregation. */
  private val q15 = Q(
    "q15_pivot_spectrum",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(unix_micros(date_trunc("day", col("ts"))).as("day_us"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(dsum(col("value")))
        .na.fill(0.0, Seq("click", "view", "purchase", "signup", "error")),
    Some("""
      SELECT epoch_us(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS day_us,
        COALESCE(CAST(SUM(CAST(CASE WHEN event_type = 'click' THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS click,
        COALESCE(CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS view,
        COALESCE(CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS purchase,
        COALESCE(CAST(SUM(CAST(CASE WHEN event_type = 'signup' THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS signup,
        COALESCE(CAST(SUM(CAST(CASE WHEN event_type = 'error' THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS error
      FROM events GROUP BY 1
    """),
  )

  /** B6: cumulative windowed aggregation over time — cumulative AND
    * per-subint S/N curves (`generate_SNR_images`,
    * scripts/generate_images_results.py:70-85 emits snr_single next to
    * snr_cumulative). Decimal cumulative sum keeps the running total
    * exact; the single-subint term is the exact cum-minus-lag difference
    * of that decimal sum, so both engines see bit-identical doubles. */
  private val q16 = Q(
    "q16_cumulative_snr",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("cum_dec", sum(col("value").cast("decimal(38,6)")).over(wc))
        .withColumn("cum_value", col("cum_dec").cast("double"))
        .withColumn("snr_cumulative", sqrt(col("cum_value")))
        .withColumn("snr_single",
          sqrt((col("cum_dec") - coalesce(lag(col("cum_dec"), 1).over(w),
            lit(0).cast("decimal(38,6)"))).cast("double")))
        .select("event_id", "user_id", "cum_value", "snr_cumulative", "snr_single")
    },
    Some("""
      WITH c AS (
        SELECT event_id, user_id, ts,
          SUM(CAST(value AS DECIMAL(38,6))) OVER
            (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_dec
        FROM events)
      SELECT event_id, user_id,
        CAST(cum_dec AS DOUBLE) AS cum_value,
        SQRT(CAST(cum_dec AS DOUBLE)) AS snr_cumulative,
        SQRT(CAST(cum_dec - COALESCE(
          LAG(cum_dec) OVER (PARTITION BY user_id ORDER BY ts, event_id),
          CAST(0 AS DECIMAL(38,6))) AS DOUBLE)) AS snr_single
      FROM c
    """),
  )

  /** B7: lag/lead inter-event gaps (TOA-residual delta analog). */
  private val q17 = Q(
    "q17_event_deltas",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("gap_s",
          (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)) / lit(1000000.0))
        .filter(col("gap_s").isNotNull)
        .groupBy("event_type")
        .agg(davg(col("gap_s")).as("avg_gap_s"), max(col("gap_s")).as("max_gap_s"),
          count(lit(1)).as("n_gaps"))
    },
    Some("""
      WITH g AS (
        SELECT event_type,
          (epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) / 1000000.0 AS gap_s
        FROM events)
      SELECT event_type,
        CAST(SUM(CAST(gap_s AS DECIMAL(38,6))) AS DOUBLE) / COUNT(gap_s) AS avg_gap_s,
        MAX(gap_s) AS max_gap_s,
        COUNT(*) AS n_gaps
      FROM g WHERE gap_s IS NOT NULL GROUP BY 1
    """),
  )

  /** B8: radiometer-equation expected RMS over grouped observables
    * (`get_expectedRMS`, scripts/fluxcal_meerkat.py:278). Inputs (min/max/
    * count) are exact, so the per-group double formula is deterministic. */
  private val q18 = Q(
    "q18_radiometer",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          ((max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))) / lit(1000000.0)).as("tobs_s"),
          count(lit(1)).as("nbin"),
          (max(col("value")) - min(col("value"))).as("bw"),
          countDistinct(col("event_type")).as("nchan"),
        )
        .filter(col("nbin") >= 10 && col("bw") > 0.0)
        .withColumn("expected_rms",
          Signal.radiometerRms(lit(400.0), col("bw"), col("nchan"), col("tobs_s"), col("nbin")))
        .select("user_id", "tobs_s", "nbin", "expected_rms"),
    Some("""
      WITH g AS (
        SELECT user_id,
          (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 1000000.0 AS tobs_s,
          COUNT(*) AS nbin,
          MAX(value) - MIN(value) AS bw,
          COUNT(DISTINCT event_type) AS nchan
        FROM events GROUP BY 1)
      SELECT user_id, tobs_s, nbin,
        400.0 / SQRT(2.0 * bw / nchan * tobs_s / nbin) AS expected_rms
      FROM g WHERE nbin >= 10 AND bw > 0.0
    """),
  )

  /** B9: flux-calibration multiplier: expected RMS over the exact lower
    * median of observed values in the reference window
    * (`get_median_offrms` + multiplier, scripts/fluxcal_meerkat.py:311).
    * Lower median (element at ceil(n/2)) avoids interpolation so both
    * engines pick the identical element. */
  private val q19 = Q(
    "q19_flux_multiplier",
    (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
      Tables.events(s, dir)
        .filter(col("value") >= 40.0 && col("value") < 60.0) // reference-frequency window
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("event_type")))
        .filter(col("rn") === floor((col("cnt") + lit(1)) / lit(2.0)))
        .withColumn("multiplier", lit(50.0) / col("value"))
        .select(col("event_type"), col("value").as("observed_median"), col("multiplier"))
    },
    Some("""
      WITH win AS (
        SELECT event_type, value, event_id,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM events WHERE value >= 40.0 AND value < 60.0)
      SELECT event_type, value AS observed_median, 50.0 / value AS multiplier
      FROM win WHERE rn = FLOOR((cnt + 1) / 2.0)
    """),
  )

  /** B10: μ±kσ sigma-clip outlier flagging (MeerGuard RFI-excision analog)
    * with exact decimal moments. */
  private val q20 = Q(
    "q20_sigma_clip",
    (s, dir) =>
      Outliers.sigmaClip(Tables.events(s, dir), Seq("event_type"), "value", 2.0)
        .groupBy("event_type")
        .agg(
          sum(col("is_outlier").cast("long")).as("n_outliers"),
          count(lit(1)).as("n"),
        ),
    Some("""
      WITH stats AS (
        SELECT event_type, value,
          CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s,
          CAST(SUM(CAST(value * value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s2,
          CAST(COUNT(value) OVER w AS DOUBLE) AS n
        FROM events
        WINDOW w AS (PARTITION BY event_type))
      SELECT event_type,
        CAST(SUM(CAST(ABS(value - s / n) > 2.0 * SQRT(s2 / n - (s / n) * (s / n)) AS BIGINT)) AS BIGINT) AS n_outliers,
        COUNT(*) AS n
      FROM stats GROUP BY 1
    """),
  )

  /** B11: gap refill via neighbor interpolation (`Dynspec.refill` analog). */
  private val q21 = Q(
    "q21_interp_refill",
    (s, dir) =>
      Interpolate.refillLinear(Tables.events(s, dir), "user_id", "ts", "value",
          col("value") < 0.5, tiebreak = Seq("event_id"))
        .groupBy("user_id")
        .agg(
          sum((col("value") < 0.5).cast("long")).as("n_refilled"),
          dsum(col("refilled")).as("sum_refilled"),
        ),
    Some("""
      WITH f AS (
        SELECT user_id, value,
          CASE WHEN value < 0.5 THEN
            CASE
              WHEN pg IS NOT NULL AND ng IS NOT NULL THEN (pg + ng) / 2.0
              ELSE COALESCE(pg, ng, value) END
          ELSE value END AS refilled
        FROM (
          SELECT user_id, value,
            LAST_VALUE(CASE WHEN value >= 0.5 THEN value END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pg,
            FIRST_VALUE(CASE WHEN value >= 0.5 THEN value END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ng
          FROM events) t)
      SELECT user_id,
        CAST(SUM(CAST(value < 0.5 AS BIGINT)) AS BIGINT) AS n_refilled,
        CAST(SUM(CAST(refilled AS DECIMAL(38,6))) AS DOUBLE) AS sum_refilled
      FROM f GROUP BY 1
    """),
  )

  /** B12: as-of join to the config record valid at each event's time
    * (`dlyfix.getcorrection`, scripts/dlyfix.py:128). Event times are
    * mapped into the orders epoch so the match is non-trivial; the output
    * aggregates the matched delay, which is tie-invariant. Runs on the
    * custom sorted-merge exec (plans.AsOfJoinMergeExec): each side
    * shuffles at its own width and a single merge pass replaces the
    * union+window formulation (operators.AsOfJoin keeps that shape for
    * sessions that can't install strategies). */
  private val q22 = Q(
    "q22_asof_join",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("user_id"),
        expr("timestamp_micros(788918400000000 + (unix_micros(ts) - 1704067200000000) * 80)").as("mts"),
      )
      // o_orderdate is parquet-naive (TIMESTAMP_NTZ); cast to session-TZ
      // timestamp (UTC, value-preserving) so asof_time is unix_micros-able.
      // The union+window path did this implicitly via union coercion; the
      // merge exec carries right types verbatim.
      val ord = Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_orderkey"))
      graft.plans.AsOfMerge.join(ev, ord, "user_id", "o_custkey", "mts", "o_orderdate",
          rightCols = Seq("o_orderkey"), rightTiebreak = Some("o_orderkey"))
        .filter(col("asof_time").isNotNull)
        .withColumn("delay_days",
          (unix_micros(col("mts")) - unix_micros(col("asof_time"))) / lit(86400000000.0))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_matched"), davg(col("delay_days")).as("avg_delay_days"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id,
          make_timestamp(788918400000000 + (epoch_us(ts) - 1704067200000000) * 80) AS mts
        FROM events)
      SELECT user_id, COUNT(*) AS n_matched,
        CAST(SUM(CAST((epoch_us(mts) - epoch_us(o_orderdate)) / 86400000000.0 AS DECIMAL(38,6))) AS DOUBLE)
          / COUNT(*) AS avg_delay_days
      FROM ev ASOF JOIN orders ON ev.user_id = orders.o_custkey AND orders.o_orderdate <= ev.mts
      GROUP BY 1
    """),
  )

  /** B13: S/N-driven subintegration formula
    * (`calc_max_nsub`, calc_max_nsub.py:4). */
  private val q23 = Q(
    "q23_max_nsub",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          ((max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))) / lit(1000000.0)).as("duration_s"),
          count(lit(1)).as("input_nsub"),
        )
        .filter(col("duration_s") > 0.0)
        .withColumn("sn", sqrt(col("input_nsub")) * lit(2.0))
        .withColumn("max_nsub",
          Signal.maxNsub(col("sn"), lit(16.0), col("duration_s"), col("input_nsub")))
        .select("user_id", "duration_s", "input_nsub", "max_nsub"),
    Some("""
      WITH g AS (
        SELECT user_id,
          (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 1000000.0 AS duration_s,
          COUNT(*) AS input_nsub
        FROM events GROUP BY 1),
      c AS (
        SELECT user_id, duration_s, input_nsub, SQRT(input_nsub) * 2.0 AS sn
        FROM g WHERE duration_s > 0.0)
      SELECT user_id, duration_s, input_nsub,
        CAST(LEAST(FLOOR(duration_s / GREATEST(duration_s * POW(12.0 / (sn / SQRT(16.0)), 2.0), 480.0)),
              CAST(input_nsub AS DOUBLE)) AS BIGINT) AS max_nsub
      FROM c
    """),
  )

  /** B14: circular-orbit binary phase histogram
    * (`get_binphase`, binary_tools.py:76; ECC=0 path). The eccentric path
    * is the native KeplerSolve expression (ScalaTest-verified). */
  private val q24 = Q(
    "q24_orbital_phase",
    (s, dir) => {
      val phase = Orbital.circularPhase(col("ts"), pbDays = 0.1025, t0Mjd = 60310.0)
      Tables.events(s, dir)
        .withColumn("phase_bin", floor(phase * lit(20.0)).cast("long"))
        .groupBy("phase_bin")
        .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
    },
    Some("""
      WITH p AS (
        SELECT value,
          (epoch_us(ts) / 86400000000.0 + 40587.0 - 60310.0) / 0.1025 AS orbits
        FROM events)
      SELECT CAST(FLOOR((orbits - FLOOR(orbits)) * 20.0) AS BIGINT) AS phase_bin,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value) AS avg_value
      FROM p GROUP BY 1
    """),
  )

  /** B15: inactivity-gap sessionization (observation-session grouping). */
  private val q25 = Q(
    "q25_sessionize",
    (s, dir) =>
      Sessionize.withSessionIds(Tables.events(s, dir), "user_id", "ts", gapSeconds = 1800L,
          tiebreak = Seq("event_id"))
        .groupBy("user_id")
        .agg((max(col("session_id")) + 1L).as("n_sessions"), count(lit(1)).as("n_events")),
    Some("""
      WITH flagged AS (
        SELECT user_id,
          CASE WHEN LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
               THEN 1 ELSE 0 END AS is_new
        FROM events)
      SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      FROM flagged GROUP BY 1
    """),
  )

  /** B16: eccentric binary phase via the native KeplerSolve Catalyst
    * expression (codegen'd Newton solver, binary_tools.py:232).
    *
    * Oracle: the fixed-30-iteration Newton solve unrolled as 30 chained
    * DuckDB CTEs with the identical double-op order, so both engines
    * converge to the same fixed point up to libm sin/cos ulps. The output
    * is ulp-safe because it is *binned*: the closest phase to a bin edge
    * is 4e-5 of a bin at sf0.01 and 2.5e-6 at sf0.1 (measured), ~6 orders
    * of magnitude above cross-engine Newton noise, so floor(phase*20)
    * always agrees. */
  private val q26 = {
    val twoPiLit = "6.283185307179586" // exactly 2.0 * math.Pi as a double
    val newton = (1 to 30)
      .map(i => s"i$i AS (SELECT value, m, (e - (e - 0.3*sin(e) - m)/(1.0 - 0.3*cos(e))) AS e FROM i${i - 1})")
      .mkString(",\n        ")
    Q(
      "q26_kepler_phase",
      (s, dir) => {
        graft.expressions.KeplerSolve.register(s)
        val twoPi = 2.0 * math.Pi
        Tables.events(s, dir, spread = true)
          .withColumn("m_rad",
            Orbital.meanOrbits(Orbital.mjd(col("ts")), pbDays = 0.1025, t0Mjd = 60310.0) * lit(twoPi))
          .withColumn("ecc_anom", expr("kepler_solve(m_rad, 0.3)"))
          .withColumn("phase", (col("ecc_anom") / lit(twoPi)) - floor(col("ecc_anom") / lit(twoPi)))
          .groupBy(floor(col("phase") * lit(20.0)).cast("long").as("phase_bin"))
          .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
      },
      Some(s"""
        WITH i0 AS (
          SELECT value,
            ((epoch_us(ts) / 86400000000.0 + 40587.0 - 60310.0) / 0.1025) * $twoPiLit AS m,
            ((epoch_us(ts) / 86400000000.0 + 40587.0 - 60310.0) / 0.1025) * $twoPiLit AS e
          FROM events),
        $newton
        SELECT CAST(FLOOR(((e / $twoPiLit) - FLOOR(e / $twoPiLit)) * 20.0) AS BIGINT) AS phase_bin,
          COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value) AS avg_value
        FROM i30 GROUP BY 1
      """),
    )
  }

  /** B17: integer-factor bin scrunch (`bscrunch_to_nbin` via
    * `template_adjuster`, archive_utils.py:74): every 8 consecutive
    * events per user collapse into one bin. */
  private val q27 = Q(
    "q27_bscrunch",
    (s, dir) =>
      Downsample.byFactor(Tables.events(s, dir), "user_id", "ts", "event_id", factor = 8)
        .groupBy("user_id", "bin")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
    Some("""
      WITH r AS (
        SELECT user_id, value,
          CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) / 8.0) AS BIGINT) AS bin
        FROM events)
      SELECT user_id, bin, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM r GROUP BY 1, 2
    """),
  )

  /** B18: semi-structured props extraction (JSON key-value config parsing,
    * `read_par` analog, binary_tools.py:26). */
  private val q28 = Q(
    "q28_props_parse",
    (s, dir) =>
      // NOT parallelized: single-path JSON extraction benched CHEAPER
      // than the repartition exchange at every measured SF
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
          (sum(col("k")).cast("double") / count(col("k"))).as("avg_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          countDistinct(col("k")).as("n_distinct_k"),
        ),
    Some("""
      WITH p AS (
        SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events)
      SELECT event_type,
        CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k,
        MIN(k) AS min_k, MAX(k) AS max_k,
        COUNT(DISTINCT k) AS n_distinct_k
      FROM p GROUP BY 1
    """),
  )

  /** B19: trailing boxcar smoothing (pre-S/N profile smoothing analog) —
    * exact running decimal sums keep the window mean deterministic. */
  private val q29 = Q(
    "q29_boxcar_smooth",
    (s, dir) =>
      Downsample.boxcar(Tables.events(s, dir), "user_id", "ts", "event_id", "value", width = 5)
        .groupBy("event_type")
        .agg(davg(col("smooth")).as("avg_smooth"), count(lit(1)).as("n")),
    Some("""
      WITH sm AS (
        SELECT event_type,
          CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) / COUNT(value) OVER w AS smooth
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
      SELECT event_type,
        CAST(SUM(CAST(smooth AS DECIMAL(38,6))) AS DOUBLE) / COUNT(smooth) AS avg_smooth,
        COUNT(*) AS n
      FROM sm GROUP BY 1
    """),
  )

  /** B35: binned range join (`RangeJoin.pointInInterval`) — every event
    * inside a 2-day order-validity window, as an equi-join on 2-day time
    * bins + exact residual filter instead of the BroadcastNestedLoopJoin
    * Spark would plan for the raw BETWEEN predicate. Same epoch mapping
    * as q22 so events land inside the orders date range. Rollup per
    * priority is pair-exact (count + user-id sum). */
  private val q56 = Q(
    "q56_range_join",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        expr("timestamp_micros(788918400000000 + (unix_micros(ts) - 1704067200000000) * 80)").as("mts"),
      )
      val iv = Tables.orders(s, dir).select(
        col("o_orderpriority"),
        col("o_orderdate").cast("timestamp").as("valid_from"),
        expr("timestamp_micros(unix_micros(cast(o_orderdate as timestamp)) + 172800000000)").as("valid_to"),
      )
      // pair-materializing form, so it carries the loud output bound: a
      // densified axis (100× both sides on the same time range = 10,000×
      // pairs) raise_errors instead of materializing a quadratic output.
      // The budget bounds TOTAL CANDIDATE pairs across bins (round-11
      // guard semantics): measured 2.49e9 candidates at sf1 (the guard's
      // own message — 1201 bins, worst 2.96e6; matched output is 1.25e9,
      // exactly the uniform-model half), so 2e11 keeps ~80× headroom over
      // sf1. q56's time axis maps events into a FIXED date range, so data
      // growth IS densification here: another ~10× step (≈2.5e11
      // candidates) crosses the budget and fails loudly — exactly the
      // quadratic blowup the guard exists to name; q88 stays the routed
      // linear form. The guard is a 1-row broadcast off the pair hot path
      // (PlanGuardSpec pins it).
      //
      // The group key is DICTIONARY-ENCODED around the pair join (round-12
      // profile): hashing + probing a STRING key once per matched pair was
      // 4.0 s of the 12.1 s sf1 runtime (count-only join: 3.6 s — the
      // 2.49e9-candidate loop itself OUTRUNS DuckDB's whole query), so the
      // pair stream aggregates on a long surrogate and the 5-row result
      // joins the strings back. The surrogate must be a PURE FUNCTION of
      // the value (xxhash64), not positional (monotonically_increasing_id):
      // the dict subtree plans twice across the self-join and positional
      // ids would disagree between the copies. The dict join is null-SAFE
      // (<=>) so a null priority keeps its pair rows and surfaces as the
      // null group, exactly as the direct groupBy would. Deliberately NOT
      // put behind a Barrier (which would also lift the pure-function
      // constraint): the duplicated subtree is one orders scan + a 5-row
      // distinct (~0.3 s at sf1 against the 7.4 s query), while an eager
      // barrier adds a whole scheduled job to every run including the
      // sub-second sf0.1 one — the q145 trade, opposite of q80/q91 whose
      // duplicated subtrees were corpus-sized compute.
      val dict = iv.select("o_orderpriority").distinct()
        .withColumn("pid", xxhash64(col("o_orderpriority")))
      val iv2 = iv.join(broadcast(dict),
          iv("o_orderpriority") <=> dict("o_orderpriority"))
        .select(dict("pid"), iv("valid_from"), iv("valid_to"))
      graft.operators.RangeJoin
        .pointInInterval(ev, iv2, "mts", "valid_from", "valid_to",
          binWidth = 2L * 86400L * 1000000L, pairBudget = Some(200000000000L))
        .groupBy("pid")
        .agg(count(lit(1)).as("n_pairs"), sum("user_id").as("sum_user"))
        .join(broadcast(dict), "pid")
        .select(col("o_orderpriority"), col("n_pairs"), col("sum_user"))
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id,
          make_timestamp(788918400000000 + (epoch_us(ts) - 1704067200000000) * 80) AS mts
        FROM events),
      iv AS (
        SELECT o_orderpriority, o_orderdate AS valid_from,
          o_orderdate + INTERVAL 2 DAY AS valid_to
        FROM orders)
      SELECT o_orderpriority, COUNT(*) AS n_pairs,
        CAST(SUM(user_id) AS BIGINT) AS sum_user
      FROM ev JOIN iv ON ev.mts BETWEEN iv.valid_from AND iv.valid_to
      GROUP BY 1
    """),
  )

  /** B35b: the same aggregate-over-containment rollup as q56, computed by
    * `RangeJoin.aggregatePointsInIntervals` WITHOUT materializing the
    * (event, interval) pairs — each interval becomes ±prefix-sum
    * boundaries and a two-level bin-partitioned cumulative sum reads the
    * per-interval aggregate directly. q56's pair join is linear in pair
    * count (quadratic when both sides densify on a fixed time axis:
    * SCALING.md measured 100× pairs at 10× data); this form is linear in
    * input rows. The oracle is the identical pair-join SQL, so a hash
    * match proves the rewrite exact, not approximately equal. */
  private val q88 = Q(
    "q88_interval_agg",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        expr("timestamp_micros(788918400000000 + (unix_micros(ts) - 1704067200000000) * 80)").as("mts"),
      )
      val iv = Tables.orders(s, dir).select(
        col("o_orderpriority"),
        col("o_orderdate").cast("timestamp").as("valid_from"),
        expr("timestamp_micros(unix_micros(cast(o_orderdate as timestamp)) + 172800000000)").as("valid_to"),
      )
      graft.operators.RangeJoin
        .aggregatePointsInIntervals(ev, iv, "mts", "valid_from", "valid_to",
          binWidth = 2L * 86400L * 1000000L,
          groupKeys = Seq("o_orderpriority"), sumCols = Seq("user_id"))
        .select(col("o_orderpriority"), col("n_pairs"), col("sum_user_id").as("sum_user"))
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id,
          make_timestamp(788918400000000 + (epoch_us(ts) - 1704067200000000) * 80) AS mts
        FROM events),
      iv AS (
        SELECT o_orderpriority, o_orderdate AS valid_from,
          o_orderdate + INTERVAL 2 DAY AS valid_to
        FROM orders)
      SELECT o_orderpriority, COUNT(*) AS n_pairs,
        CAST(SUM(user_id) AS BIGINT) AS sum_user
      FROM ev JOIN iv ON ev.mts BETWEEN iv.valid_from AND iv.valid_to
      GROUP BY 1
    """),
  )

  /** B36: MAD clipping (`Outliers.madClip`) — robust median/MAD outlier
    * flags per event type, the estimator MeerGuard-style RFI excision
    * wants when spikes inflate σ (q20's sigma-clip is the parametric
    * twin). Exact-element medians (ceil-rank convention) keep both
    * engines bit-identical. */
  private val q60 = Q(
    "q60_mad_clip",
    (s, dir) =>
      graft.operators.Outliers.madClip(
          Tables.events(s, dir).select("event_type", "event_id", "value"),
          Seq("event_type"), "value", "event_id", k = 3.5)
        .groupBy("event_type")
        .agg(
          max("grp_median").as("grp_median"),
          max("grp_mad").as("grp_mad"),
          sum(when(col("is_outlier"), lit(1L)).otherwise(lit(0L))).as("n_outliers"),
          count(lit(1)).as("n"),
        ),
    Some("""
      WITH r AS (
        SELECT event_type, event_id, value,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM events WHERE value IS NOT NULL),
      med AS (
        SELECT event_type, MAX(CASE WHEN rn = CEIL(cnt * 0.5) THEN value END) AS grp_median
        FROM r GROUP BY 1),
      a AS (
        SELECT e.event_type, e.event_id, e.value, m.grp_median,
          ABS(e.value - m.grp_median) AS absdev
        FROM events e JOIN med m ON e.event_type = m.event_type),
      r2 AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY absdev, event_id) AS rn2,
          COUNT(*) OVER (PARTITION BY event_type) AS cnt2
        FROM a WHERE absdev IS NOT NULL),
      mad AS (
        SELECT event_type, MAX(CASE WHEN rn2 = CEIL(cnt2 * 0.5) THEN absdev END) AS grp_mad
        FROM r2 GROUP BY 1)
      SELECT a.event_type, MAX(a.grp_median) AS grp_median, MAX(d.grp_mad) AS grp_mad,
        CAST(SUM(CASE WHEN ABS(a.value - a.grp_median) > 3.5 * d.grp_mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        COUNT(*) AS n
      FROM a JOIN mad d ON a.event_type = d.event_type
      GROUP BY 1
    """),
  )

  /** B37: fixed-width histogram (`operators.Histogram`) — value
    * distribution per event type in 10 clamped 50-unit buckets with
    * exact decimal sums; map-stage bucketing + map-side-combining
    * count, so at most groups×bins rows shuffle at any scale. */
  private val q61 = Q(
    "q61_histogram",
    (s, dir) =>
      graft.operators.Histogram.fixedWidth(
        Tables.events(s, dir).select("event_type", "value"),
        Seq("event_type"), "value", lo = 0.0, width = 50.0, nBins = 10),
    Some("""
      SELECT event_type,
        GREATEST(0, LEAST(9, CAST(FLOOR((value - 0.0) / 50.0) AS BIGINT))) AS bucket,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    """),
  )

  /** B38: ordered-step funnel (`operators.Funnel`) — users whose FIRST
    * view/click/purchase times strictly increase, rolled up to
    * completion counts per prefix (the obs → processed → TOA-accepted
    * status ladder). One user-keyed aggregate + a stack-unpivoted
    * global row. */
  private val q63 = Q(
    "q63_funnel",
    (s, dir) =>
      graft.operators.Funnel.steps(
        Tables.events(s, dir).select("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase")),
    Some("""
      WITH u AS (
        SELECT user_id,
          MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0,
          MIN(CASE WHEN event_type = 'click' THEN ts END) AS t1,
          MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
        FROM events GROUP BY 1)
      SELECT 'view' AS step, 1 AS step_idx,
        CAST(COUNT(CASE WHEN t0 IS NOT NULL THEN 1 END) AS BIGINT) AS n_users FROM u
      UNION ALL
      SELECT 'click', 2,
        CAST(COUNT(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t0 < t1 THEN 1 END) AS BIGINT) FROM u
      UNION ALL
      SELECT 'purchase', 3,
        CAST(COUNT(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t0 < t1
                         AND t2 IS NOT NULL AND t1 < t2 THEN 1 END) AS BIGINT) FROM u
    """),
  )

  /** B40: per-group OLS trend — the drift-rate fit run on timing
    * residuals (is this pulsar's S/N / residual drifting?): slope and
    * intercept of value vs days-since-epoch from exact decimal moments,
    * closed form written identically in both engines (hash-exact
    * doubles). Days are centered on the data epoch so the normal-
    * equation differences never catastrophically cancel. */
  private val q65 = Q(
    "q65_trend",
    (s, dir) => {
      // integer-grid covariate (q128/q131 discipline): whole days since
      // the epoch origin. (tus − origin) is an exact ≤2^53 BIGINT→double,
      // the divide is one deterministic double op, floor is exact — so x
      // is an integer-valued double both engines agree on bitwise, and
      // every per-row moment product (x·y with 2-place y, x²) has a
      // lossless DECIMAL(38,6) cast. The fractional-days form put
      // arbitrary-precision products through the cast — the same
      // half-boundary class that failed q131's round-9 hash.
      val x = floor((unix_micros(col("ts")) - lit(1704067200000000L)) /
        lit(86400000000.0)).cast("double")
      // response in floor cents (value carries 2 decimal places):
      // slope/intercept come out in cents — scale-equivariant, and every
      // moment sum is an exact integer with a single-rounding
      // decimal(38,0)→double conversion in both engines
      val y = cents(col("value"))
      // the four decimal partial sums are the hot path; a single-file
      // local scan would run them on one core (no-op on a cluster scan)
      Tables.events(s, dir, spread = true)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          dsumInt(x).as("sx"), dsumInt(y).as("sy"),
          dsumInt(x * y).as("sxy"), dsumInt(x * x).as("sxx"),
        )
        // degenerate groups (all x equal → zero denominator) get NULL in
        // BOTH engines: unguarded, Spark's ANSI divide and DuckDB's IEEE
        // inf/NaN would disagree
        .withColumn("__den", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("slope_per_day",
          when(col("__den") =!= 0.0,
            (col("n") * col("sxy") - col("sx") * col("sy")) / col("__den")))
        .withColumn("intercept",
          (col("sy") - col("slope_per_day") * col("sx")) / col("n"))
        .select("event_type", "n", "slope_per_day", "intercept")
    },
    Some(s"""
      WITH e0 AS (
        SELECT event_type,
          ${centsSql("value")} AS y,
          CAST(FLOOR((epoch_us(ts) - 1704067200000000) / 86400000000.0) AS DOUBLE) AS x
        FROM events),
      m AS (
        SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
          CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx
        FROM e0 GROUP BY 1),
      s AS (
        SELECT event_type, n, sx, sy,
          CASE WHEN n * sxx - sx * sx <> 0.0
               THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope_per_day
        FROM m)
      SELECT event_type, n, slope_per_day,
        (sy - slope_per_day * sx) / n AS intercept
      FROM s
    """),
  )

  /** B48: Stokes profile alignment (`make_stokes_movie.py:10-55`) — the
    * last reference script with no engine analog. Per user, four binned
    * "Stokes" profiles (I/Q/U/V built from deterministic event
    * aggregates) are circularly rotated so I's argmax lands at phase 0.5
    * (`find_max_phase() - 0.5` + `rotate_phase`), scaled by max(I)
    * (`noramlise_by`), combined into total / linear √(Q²+U²) / circular
    * components, and exploded to per-phase-bin rows with the
    * residual-vs-mean-profile panel the movie renders. Low-S/N profiles
    * are dropped (`sn_min` analog: peak < 50). Scale shape: one binned
    * aggregate (map-side combining) + one per-user array assembly; the
    * array math is per-row, nbin-bounded. */
  private lazy val q87 = Q(
    "q87_stokes_align",
    (s, dir) => {
      import graft.functions.{Signal => Sig}
      val nbin = 16
      val binned = Tables.events(s, dir, spread = true)
        .withColumn("bin", pmod(col("event_id"), lit(nbin.toLong)))
        .groupBy("user_id", "bin")
        .agg(
          dsum(abs(col("value"))).as("i"),
          dsum(col("value")).as("q"),
          dsum(col("value") * lit(0.5)).as("u"),
          max(col("value")).as("v"))
      val prof = binned
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(
          col("bin"), col("i"), col("q"), col("u"), col("v")))).as("rows"))
        .select(col("user_id"),
          transform(col("rows"), r => r("i")).as("ip"),
          transform(col("rows"), r => r("q")).as("qp"),
          transform(col("rows"), r => r("u")).as("up"),
          transform(col("rows"), r => r("v")).as("vp"))
      val aligned = prof
        .withColumn("m", array_max(col("ip")))
        .filter(col("m") >= lit(50.0))
        .withColumn("s", Sig.alignShift(col("ip")))
        .select(col("user_id"), col("s"), col("m"),
          Sig.rotateProfile(col("ip"), col("s")).as("ip"),
          Sig.rotateProfile(col("qp"), col("s")).as("qp"),
          Sig.rotateProfile(col("up"), col("s")).as("up"),
          Sig.rotateProfile(col("vp"), col("s")).as("vp"))
      val comps = aligned.select(col("user_id"), col("s").as("shift_bins"),
        Sig.scaleProfile(col("ip"), col("m")).as("total"),
        Sig.scaleProfile(Sig.linearPol(col("qp"), col("up")), col("m")).as("linear"),
        Sig.scaleProfile(col("vp"), col("m")).as("circular"))
      val exploded = comps
        .select(col("user_id"), col("shift_bins"),
          posexplode(arrays_zip(col("total"), col("linear"), col("circular"))))
        .select(col("user_id"), col("shift_bins"),
          col("pos").cast("long").as("phase_bin"),
          col("col")("total").as("total"),
          col("col")("linear").as("linear"),
          col("col")("circular").as("circular"))
      val byBin = Window.partitionBy(col("phase_bin"))
      exploded.withColumn("total_resid",
        col("total") -
          (sum(col("total").cast("decimal(38,6)")).over(byBin).cast("double")
            / count(lit(1)).over(byBin)))
    },
    Some("""
      WITH b AS (
        SELECT user_id, event_id % 16 AS bin,
          CAST(SUM(CAST(ABS(value) AS DECIMAL(38,6))) AS DOUBLE) AS i,
          CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS q,
          CAST(SUM(CAST(value * 0.5 AS DECIMAL(38,6))) AS DOUBLE) AS u,
          MAX(value) AS v
        FROM events GROUP BY 1, 2),
      p AS (
        SELECT user_id,
          list(i ORDER BY bin) AS ip, list(q ORDER BY bin) AS qp,
          list(u ORDER BY bin) AS up, list(v ORDER BY bin) AS vp
        FROM b GROUP BY 1),
      a AS (
        SELECT user_id, len(ip) AS n, list_max(ip) AS m,
          ((list_position(ip, list_max(ip)) - (len(ip) // 2 + 1)) % len(ip)
            + len(ip)) % len(ip) AS s
        FROM p WHERE list_max(ip) >= 50.0),
      r AS (
        SELECT a.user_id, a.s, a.m, a.n,
          list_concat(p.ip[a.s+1:a.n], p.ip[1:a.s]) AS ip,
          list_concat(p.qp[a.s+1:a.n], p.qp[1:a.s]) AS qp,
          list_concat(p.up[a.s+1:a.n], p.up[1:a.s]) AS up,
          list_concat(p.vp[a.s+1:a.n], p.vp[1:a.s]) AS vp
        FROM a JOIN p USING (user_id)),
      e AS (
        SELECT user_id, s AS shift_bins, i - 1 AS phase_bin,
          ip[i] / m AS total,
          sqrt(qp[i]*qp[i] + up[i]*up[i]) / m AS linear,
          vp[i] / m AS circular
        FROM r, LATERAL unnest(generate_series(1, n)) t(i))
      SELECT user_id, shift_bins, phase_bin, total, linear, circular,
        total - CAST(SUM(CAST(total AS DECIMAL(38,6))) OVER (PARTITION BY phase_bin) AS DOUBLE)
                / COUNT(*) OVER (PARTITION BY phase_bin) AS total_resid
      FROM e
    """),
  )

  /** B51: trailing TIME-range rolling aggregate
    * (`Downsample.rollingRange`) — each event's sum/count over its key's
    * last hour of EVENT TIME (RANGE frame on epoch micros), the
    * variable-cadence companion to q29's fixed-row boxcar; rolled up per
    * type with decimal-exact averages. The naive form is a per-key
    * time-window self join (quadratic per key); this is one
    * key-partitioned sort window. */
  private val q95 = Q(
    "q95_rolling_window",
    (s, dir) =>
      Downsample.rollingRange(Tables.events(s, dir), "user_id", "ts", "value",
          windowSeconds = 3600L)
        .groupBy("event_type")
        .agg(davg(col("roll_sum")).as("avg_roll_sum"),
          (sum(col("roll_n")).cast("double") / count(lit(1))).as("avg_roll_n"),
          count(lit(1)).as("n")),
    Some("""
      WITH r AS (
        SELECT event_type,
          CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS roll_sum,
          COUNT(value) OVER w AS roll_n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
      SELECT event_type,
        CAST(SUM(CAST(roll_sum AS DECIMAL(38,6))) AS DOUBLE) / COUNT(roll_sum) AS avg_roll_sum,
        CAST(SUM(roll_n) AS DOUBLE) / COUNT(*) AS avg_roll_n,
        COUNT(*) AS n
      FROM r GROUP BY 1
    """),
  )

  /** B52: event-sequence pattern matching (`Funnel.sequencePattern`) —
    * per-user counts of regex patterns over the time-ordered event-type
    * sequence (the MATCH_RECOGNIZE shape): every non-overlapping
    * view→click→purchase conversion triple and error+→signup
    * retry-then-convert run. Patterns are built from `Funnel.tok`
    * boundary-safe atoms (each type travels as a type token)
    * and stay in the Java∩RE2 regex subset, so the DuckDB mirror
    * (string_agg of the same delimited tokens ORDER BY ts, event_id +
    * regexp_extract_all) matches occurrence-for-occurrence. */
  private val q96 = {
    import graft.operators.Funnel.tok
    Q(
      "q96_event_pattern",
      (s, dir) =>
        graft.operators.Funnel.sequencePattern(
          Tables.events(s, dir), "user_id", "ts", "event_id", "event_type",
          Seq("n_triple" -> (tok("view") + tok("click") + tok("purchase")),
              "n_err_retry" -> (tok("error") + "(" + tok("error") + ")*" + tok("signup")))),
      Some("""
        WITH s AS (
          SELECT user_id, COUNT(*) AS n_events,
            string_agg(chr(1) || event_type || chr(2), '' ORDER BY ts, event_id) AS seq
          FROM events GROUP BY 1)
        SELECT user_id, n_events,
          CAST(len(regexp_extract_all(seq,
            chr(1) || 'view' || chr(2) || chr(1) || 'click' || chr(2) || chr(1) || 'purchase' || chr(2))) AS BIGINT) AS n_triple,
          CAST(len(regexp_extract_all(seq,
            chr(1) || 'error' || chr(2) || '(' || chr(1) || 'error' || chr(2) || ')*' || chr(1) || 'signup' || chr(2))) AS BIGINT) AS n_err_retry
        FROM s
      """),
    )
  }

  /** B53: telemetry debounce (`Sessionize.debounce`) — drop events whose
    * same-(user, type) predecessor is less than a day older: retried
    * sends / double-fire suppression. Lag-based (order-deterministic,
    * one window pass) rather than greedy-chain (sequential; the
    * streaming D4 operator owns that semantics). */
  private val q98 = Q(
    "q98_debounce",
    (s, dir) =>
      Sessionize.debounce(Tables.events(s, dir),
          Seq("user_id", "event_type"), "ts",
          horizonSeconds = 86400L, tiebreak = Seq("event_id"))
        .select("event_id", "user_id", "event_type"),
    Some("""
      WITH g AS (
        SELECT event_id, user_id, event_type,
          epoch_us(CAST(ts AS TIMESTAMP))
            - LAG(epoch_us(CAST(ts AS TIMESTAMP)), 1)
                OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
        FROM events)
      SELECT event_id, user_id, event_type FROM g
      WHERE gap_us IS NULL OR gap_us >= 86400000000
    """),
  )

  /** B20→oracle: .par ephemeris typed coercion (`ParFile.parseColumn`,
    * the engine form of `read_par` — binary_tools.py:26). The corpus has
    * no .par files, so the query fabricates one line per part row — 12
    * deterministic shapes built from integer-derived digit strings (never
    * float formatting, so both engines see identical text): fixed floats
    * with fit flags + 4-token uncertainties, plain strings, ignored
    * params, uppercase-D scientific exponents (D→E fix), the E→ECC
    * rename, comments, integers, sexagesimal strings carrying errors,
    * the lowercase-d trap (the numeric probe's D→E replace is
    * case-sensitive so '1.5d-16' classifies as string, while the
    * e-vs-f test uppercases FIRST), fit-flag '0'/'1' suppression in
    * 3-token lines, and '+'-signed integers. The oracle replays the
    * split/filter/classification generically — the int probe is a regex
    * (TRY_CAST alone would admit '5.0', which DuckDB casts to BIGINT 5
    * while Scala `toLong` throws) AND'd with TRY_CAST(raw AS BIGINT) so
    * a >Long.MaxValue digit string falls through to the float branch on
    * BOTH sides, mirroring the engine's Try(toLong) overflow path. */
  private lazy val q143 = Q(
    "q143_par_typing",
    (s, dir) => {
      val p = graft.sources.Tables.part(s, dir)
      val pk = col("p_partkey")
      val sz = col("p_size").cast("string")
      val m = pmod(pk, lit(12))
      val line = when(m === 0, concat(lit("F0 "), sz, lit("."), pmod(pk, lit(1000)), lit(" 1 0.0000"), sz))
        .when(m === 1, concat(lit("PSRJ "), col("p_brand")))
        .when(m === 2, concat(lit("NTOA "), sz))
        .when(m === 3, concat(lit("PB "), sz, lit("."), pmod(pk, lit(100)), lit("D-0"),
          pmod(pk, lit(4)) + 1, lit(" "), pmod(pk, lit(7)), lit(".5D-05")))
        .when(m === 4, concat(lit("E 0."), pmod(pk, lit(1000))))
        .when(m === 5, lit("MODE 1"))
        .when(m === 6, concat(lit("# comment "), pk))
        .when(m === 7, concat(lit("DMEPOCH "), pmod(pk, lit(10000)) + 50000))
        .when(m === 8, concat(lit("RAJ "), pmod(pk, lit(24)), lit(":37:15.89 1 0.0000001")))
        .when(m === 9, concat(lit("F1 -"), sz, lit("."), pmod(pk, lit(100)), lit("d-16 1")))
        .when(m === 10, concat(lit("START "), pmod(pk, lit(1000)) + 50000, lit(" 0")))
        .otherwise(concat(lit("TAU +"), sz))
      graft.sources.ParFile.parseColumn(
        p.select(pk.as("line_id"), line.as("par_line")), "line_id", "par_line")
    },
    Some("""
      WITH lines AS (
        SELECT p_partkey AS line_id,
          CASE p_partkey % 12
            WHEN 0 THEN 'F0 ' || CAST(p_size AS VARCHAR) || '.' || CAST(p_partkey % 1000 AS VARCHAR) || ' 1 0.0000' || CAST(p_size AS VARCHAR)
            WHEN 1 THEN 'PSRJ ' || p_brand
            WHEN 2 THEN 'NTOA ' || CAST(p_size AS VARCHAR)
            WHEN 3 THEN 'PB ' || CAST(p_size AS VARCHAR) || '.' || CAST(p_partkey % 100 AS VARCHAR) || 'D-0' || CAST(p_partkey % 4 + 1 AS VARCHAR) || ' ' || CAST(p_partkey % 7 AS VARCHAR) || '.5D-05'
            WHEN 4 THEN 'E 0.' || CAST(p_partkey % 1000 AS VARCHAR)
            WHEN 5 THEN 'MODE 1'
            WHEN 6 THEN '# comment ' || CAST(p_partkey AS VARCHAR)
            WHEN 7 THEN 'DMEPOCH ' || CAST(p_partkey % 10000 + 50000 AS VARCHAR)
            WHEN 8 THEN 'RAJ ' || CAST(p_partkey % 24 AS VARCHAR) || ':37:15.89 1 0.0000001'
            WHEN 9 THEN 'F1 -' || CAST(p_size AS VARCHAR) || '.' || CAST(p_partkey % 100 AS VARCHAR) || 'd-16 1'
            WHEN 10 THEN 'START ' || CAST(p_partkey % 1000 + 50000 AS VARCHAR) || ' 0'
            ELSE 'TAU +' || CAST(p_size AS VARCHAR)
          END AS l
        FROM part
        WHERE p_partkey IS NOT NULL),
      tok AS (
        SELECT line_id, l, regexp_split_to_array(trim(l), '\s+') AS t
        FROM lines WHERE l IS NOT NULL),
      ent AS (
        SELECT line_id,
          CASE WHEN t[1] = 'E' THEN 'ECC' ELSE t[1] END AS param,
          t[2] AS raw, t, len(t) AS n
        FROM tok
        WHERE NOT starts_with(l, '#') AND NOT starts_with(l, 'C ')
          AND t[1] <> ''
          AND t[1] NOT IN ('DMMODEL','DMOFF','DM_','CM_','CONSTRAIN','JUMP',
                           'NITS','NTOA','CORRECT_TROPOSPHERE','PLANET_SHAPIRO',
                           'DILATEFREQ','TIMEEPH','MODE','TZRMJD','TZRSITE',
                           'TZRFRQ','EPHVER','T2CMETHOD')
          AND len(t) >= 2),
      typed AS (
        SELECT line_id, param, raw, t, n,
          CASE
            WHEN regexp_matches(raw, '^[+-]?[0-9]+$') AND TRY_CAST(raw AS BIGINT) IS NOT NULL THEN 'd'
            WHEN TRY_CAST(replace(raw, 'D', 'E') AS DOUBLE) IS NOT NULL THEN
              CASE WHEN contains(replace(upper(raw), 'D', 'E'), 'E') THEN 'e' ELSE 'f' END
            ELSE 's'
          END AS value_type
        FROM ent)
      SELECT line_id, param, raw, value_type,
        CASE
          WHEN value_type = 'd' THEN CAST(CAST(raw AS BIGINT) AS DOUBLE)
          WHEN value_type IN ('e','f') THEN CAST(replace(raw, 'D', 'E') AS DOUBLE)
        END AS num_value,
        CASE
          WHEN n = 3 AND t[3] NOT IN ('0','1') THEN TRY_CAST(replace(t[3], 'D', 'E') AS DOUBLE)
          WHEN n >= 4 THEN TRY_CAST(replace(t[4], 'D', 'E') AS DOUBLE)
        END AS err
      FROM typed
    """),
  )

  /** B66→oracle: npy-loaded channel reference driving a frequency chop
    * (`NpyFile` + the `ref_freq_list` config route — the reference's
    * 928ch_frequency_reference.npy consumed by dm_offset_pta.config:37
    * before chopping/decimating). The shipped grid is BITWISE equal to
    * 896.125 + i·(107/128) (verified against the file; every term is an
    * exact binary double), so the query serializes that grid with the
    * real npy writer, re-parses it with the real npy parser — the
    * FORMAT round-trip sits inside the oracled path — and broadcasts
    * the 928-row channel dim into the event fact scan: channel =
    * event_id mod 928, keep the calibrated band [960, 1600] MHz (edge
    * chop), aggregate kept stats per event_type. The oracle rebuilds
    * the identical grid arithmetically. Scale: dim broadcast, one fact
    * pass, map-side-combined aggregate. */
  private lazy val q144 = Q(
    "q144_npy_chop",
    (s, dir) => {
      import s.implicits._
      val grid = graft.sources.NpyFile.doubles(graft.sources.NpyFile.bytes(
        Array.tabulate(928)(i => 896.125 + i * 0.8359375)))
      val chans = grid.toSeq.zipWithIndex
        .map { case (f, i) => (i.toLong, f) }.toDF("chan", "freq")
      val kept = col("freq") >= 960.0 && col("freq") <= 1600.0
      Tables.events(s, dir, spread = true)
        .withColumn("chan", pmod(col("event_id"), lit(928L)))
        .join(broadcast(chans), "chan")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          count(when(kept, lit(1))).as("n_kept"),
          min(when(kept, col("freq"))).as("f_lo"),
          max(when(kept, col("freq"))).as("f_hi"),
          dsum(when(kept, col("value"))).as("sum_kept_value"),
        )
    },
    Some("""
      WITH chans AS (
        SELECT CAST(i AS BIGINT) AS chan, 896.125 + i * 0.8359375 AS freq
        FROM (SELECT unnest(range(928)) AS i)),
      e AS (
        SELECT event_type, event_id % 928 AS chan, value FROM events)
      SELECT event_type,
        COUNT(*) AS n,
        COUNT(CASE WHEN freq >= 960 AND freq <= 1600 THEN 1 END) AS n_kept,
        MIN(CASE WHEN freq >= 960 AND freq <= 1600 THEN freq END) AS f_lo,
        MAX(CASE WHEN freq >= 960 AND freq <= 1600 THEN freq END) AS f_hi,
        CAST(SUM(CAST(CASE WHEN freq >= 960 AND freq <= 1600 THEN value END
          AS DECIMAL(38,6))) AS DOUBLE) AS sum_kept_value
      FROM e JOIN chans USING (chan)
      GROUP BY 1
    """),
  )

  /** B67→oracle: project-config typed loader end to end
    * (`ProjectConfig.parseColumn` + override rule +
    * `ProjectConfig.decimationPlans` — the launcher-input surface:
    * the configuration_files/project_specific .config files, key = value with
    * '#' comments and later-assignment-wins). One fabricated config TEXT
    * per supplier row (same 10 lines both sides: a comment, typed keys,
    * a first output_path later OVERRIDDEN, a keyless junk line, an
    * indented comment), parsed by the real loader, pivoted wide, then
    * expanded through the real parseFlags grammar into decimation-plan
    * rows — the launcher-shaped project → flags → plan chain. The
    * oracle replays the key-value parse GENERICALLY (trim, '#' filter,
    * first-'=' split, arg_max(i) override) over the identical line
    * list; the plan expansion is mirrored by construction per planted
    * flags shape (compact/spaced axis tokens, tscrunch/fscrunch,
    * subband + sorted globals). Scale: a per-project dim — everything
    * here broadcasts. */
  private lazy val q145 = Q(
    "q145_project_config",
    (s, dir) => {
      val sup = Tables.supplier(s, dir)
      val sk = col("s_suppkey")
      val flags = when(pmod(sk, lit(4)) === 0, lit("saveall"))
        .when(pmod(sk, lit(4)) === 1, lit("pscrunch,t 32 f 8,tscrunch"))
        .when(pmod(sk, lit(4)) === 2, concat(lit("t "), pmod(sk, lit(50)) + 2,
          lit(" f"), pmod(sk, lit(9)) + 1, lit(",fscrunch,nozap")))
        .otherwise(concat(lit("subband "), pmod(sk, lit(4)) + 1, lit(",saveall,t 8 f 8")))
      val txt = concat_ws("\n",
        lit("#Configuration file"),
        concat(lit("user = u"), pmod(sk, lit(7))),
        lit("type = meertime"),
        concat(lit("pipe = "), when(pmod(sk, lit(2)) === 0, "old").otherwise("new")),
        lit("output_path = /data/first"),
        concat(lit("flags = "), flags),
        concat(lit("rfi_alg = "),
          when(pmod(sk, lit(3)) === 0, "MG").when(pmod(sk, lit(3)) === 1, "CG").otherwise("CHIVE")),
        concat(lit("output_path = /data/p"), pmod(sk, lit(5))),
        lit("no equals here"),
        lit("  #indented comment"))
      val kv = graft.sources.ProjectConfig.parseColumn(
        sup.select(sk.as("cfg_id"), txt.as("cfg_text")), "cfg_id", "cfg_text")
      // `wide` feeds BOTH decimationPlans and the final join, so the
      // kv-parse + pivot subtree plans twice (no CSE across self-joins
      // — the q80/q91 lesson). Deliberately NOT checkpointed: the frame
      // is config-dim-sized, the duplicated subtree costs microseconds,
      // and an eager barrier would add a whole scheduled job to a
      // sub-second query — the q80/q91 barriers pay off because THEIR
      // duplicated subtrees are corpus-sized.
      val wide = kv.groupBy("cfg_id").agg(
        max(when(col("key") === "user", col("value"))).as("cfg_user"),
        max(when(col("key") === "pipe", col("value"))).as("pipe"),
        max(when(col("key") === "rfi_alg", col("value"))).as("rfi_alg"),
        max(when(col("key") === "output_path", col("value"))).as("output_path"),
        max(when(col("key") === "flags", col("value"))).as("flags"))
      val plans = graft.sources.ProjectConfig.decimationPlans(wide, "cfg_id", "flags")
      wide.join(plans, "cfg_id")
        .select(col("cfg_id"), col("cfg_user"), col("pipe"), col("rfi_alg"),
          col("output_path"), col("plan"), col("t_factor"), col("f_factor"),
          col("global_flags"))
    },
    Some("""
      WITH s AS (
        SELECT s_suppkey AS cfg_id FROM supplier WHERE s_suppkey IS NOT NULL),
      cfgs AS (
        SELECT cfg_id, [
          '#Configuration file',
          'user = u' || CAST(cfg_id % 7 AS VARCHAR),
          'type = meertime',
          'pipe = ' || CASE WHEN cfg_id % 2 = 0 THEN 'old' ELSE 'new' END,
          'output_path = /data/first',
          'flags = ' || CASE cfg_id % 4
            WHEN 0 THEN 'saveall'
            WHEN 1 THEN 'pscrunch,t 32 f 8,tscrunch'
            WHEN 2 THEN 't ' || CAST(2 + cfg_id % 50 AS VARCHAR) || ' f' ||
                        CAST(1 + cfg_id % 9 AS VARCHAR) || ',fscrunch,nozap'
            ELSE 'subband ' || CAST(1 + cfg_id % 4 AS VARCHAR) || ',saveall,t 8 f 8'
          END,
          'rfi_alg = ' || CASE cfg_id % 3 WHEN 0 THEN 'MG' WHEN 1 THEN 'CG' ELSE 'CHIVE' END,
          'output_path = /data/p' || CAST(cfg_id % 5 AS VARCHAR),
          'no equals here',
          '  #indented comment'
        ] AS ls FROM s),
      lines AS (
        SELECT cfg_id, i, trim(ls[i]) AS l
        FROM cfgs, UNNEST(generate_series(1, len(ls))) AS u(i)),
      kv AS (
        SELECT cfg_id, i,
          trim(substr(l, 1, instr(l, '=') - 1)) AS key,
          trim(substr(l, instr(l, '=') + 1)) AS val
        FROM lines
        WHERE l <> '' AND NOT starts_with(l, '#') AND instr(l, '=') >= 2),
      last AS (
        SELECT cfg_id, key, arg_max(val, i) AS val FROM kv GROUP BY 1, 2),
      wide AS (
        SELECT cfg_id,
          MAX(CASE WHEN key = 'user' THEN val END) AS cfg_user,
          MAX(CASE WHEN key = 'pipe' THEN val END) AS pipe,
          MAX(CASE WHEN key = 'rfi_alg' THEN val END) AS rfi_alg,
          MAX(CASE WHEN key = 'output_path' THEN val END) AS output_path
        FROM last GROUP BY 1),
      plans AS (
        SELECT cfg_id, CAST(NULL AS VARCHAR) AS plan, CAST(NULL AS BIGINT) AS t_factor,
               CAST(NULL AS BIGINT) AS f_factor, 'saveall' AS global_flags
          FROM s WHERE cfg_id % 4 = 0
        UNION ALL SELECT cfg_id, 't32f8', 32, 8, 'pscrunch' FROM s WHERE cfg_id % 4 = 1
        UNION ALL SELECT cfg_id, 'tscrunch', 0, 1, 'pscrunch' FROM s WHERE cfg_id % 4 = 1
        UNION ALL SELECT cfg_id,
            't' || CAST(2 + cfg_id % 50 AS VARCHAR) || 'f' || CAST(1 + cfg_id % 9 AS VARCHAR),
            CAST(2 + cfg_id % 50 AS BIGINT), CAST(1 + cfg_id % 9 AS BIGINT), 'nozap'
          FROM s WHERE cfg_id % 4 = 2
        UNION ALL SELECT cfg_id, 'fscrunch', 1, 0, 'nozap' FROM s WHERE cfg_id % 4 = 2
        UNION ALL SELECT cfg_id, 't8f8', 8, 8,
            'saveall,subband ' || CAST(1 + cfg_id % 4 AS VARCHAR)
          FROM s WHERE cfg_id % 4 = 3)
      SELECT w.cfg_id, w.cfg_user, w.pipe, w.rfi_alg, w.output_path,
             p.plan, p.t_factor, p.f_factor, p.global_flags
      FROM wide w JOIN plans p USING (cfg_id)
    """),
  )

  /** B68→oracle: tempo2 `general2` residual interchange
    * (`ResidualFile.parseColumn` — the `{bat} {post} {err} {freq}
    * {post_phase} {flags}` text tempo2_wrapper.sh:37 emits per archive).
    * One fabricated residual line per non-null event (every numeric
    * field built from integer-derived digit strings — post as
    * `<cents>e-9` seconds, err as `<k>.5` ns, flags carrying the group
    * as a `-B <band>` TOA flag), ingested by the real parser, grouped by
    * the band EXTRACTED FROM THE PARSED FLAGS, and reduced to the
    * χ²/wRMS diagnostics a timing user reads. The same aggregates are
    * computed DIRECTLY from the source columns (no text round-trip) and
    * `chi2_diff` witnesses the interchange path is faithful: exactly
    * 0.0, because floor(post·1e9 + 0.5) recovers the planted integer
    * cents and both engines run identical IEEE chains. Integer-grid
    * discipline throughout (products ≤ ~5e10 < 2^53, scale-0 decimal
    * sums). Scale: one fact pass per side, map-side-combined. */
  private lazy val q146 = Q(
    "q146_residual_ingest",
    (s, dir) => {
      val e = Tables.events(s, dir, spread = true)
        .filter(col("value").isNotNull && col("event_id").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"))
      val line = concat_ws(" ",
        (lit(50000L) + pmod(col("event_id"), lit(1000L))),
        concat(cents(col("value")).cast("long"), lit("e-9")),
        concat(pmod(col("event_id"), lit(10L)) + 1, lit(".5")),
        (lit(800L) + pmod(col("event_id"), lit(900L))),
        concat(lit("0."), lpad(pmod(col("event_id"), lit(1000L)).cast("string"), 3, "0")),
        lit("-B"), col("event_type"), lit("-snr"), pmod(col("event_id"), lit(50L)))
      val parsed = graft.sources.ResidualFile.parseColumn(
        e.select(col("event_id").as("toa_id"), line.as("res_line")), "toa_id", "res_line")
      val ing = parsed
        .withColumn("grp", regexp_extract(col("flags"), "-B (\\S+)", 1))
        .withColumn("r", floor(col("post") * lit(1e9) + lit(0.5)))
        .withColumn("w", col("err") * lit(2.0))
        .groupBy("grp")
        .agg(
          count(lit(1)).as("n"),
          dsumInt(col("w")).as("sum_w"),
          dsumInt(col("w") * col("r") * col("r")).as("chi2"),
          min(col("bat")).as("bat_lo"),
          max(col("bat")).as("bat_hi"))
        .withColumn("wrms", sqrt(col("chi2") / col("sum_w")))
      val direct = e.groupBy(col("event_type").as("grp"))
        .agg(dsumInt((pmod(col("event_id"), lit(10L)) * 2 + 3)
          * cents(col("value")) * cents(col("value"))).as("chi2_direct"))
      ing.join(direct, "grp")
        .select(col("grp"), col("n"), col("sum_w"), col("chi2"), col("wrms"),
          col("bat_lo"), col("bat_hi"), col("chi2_direct"),
          (col("chi2") - col("chi2_direct")).as("chi2_diff"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, event_type, value FROM events
        WHERE value IS NOT NULL AND event_id IS NOT NULL),
      lines AS (
        SELECT event_id AS toa_id,
          CAST(50000 + event_id % 1000 AS VARCHAR) || ' ' ||
          CAST(CAST(FLOOR(value * 100) AS BIGINT) AS VARCHAR) || 'e-9 ' ||
          CAST(1 + event_id % 10 AS VARCHAR) || '.5 ' ||
          CAST(800 + event_id % 900 AS VARCHAR) || ' ' ||
          '0.' || lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0') || ' ' ||
          '-B ' || event_type || ' -snr ' || CAST(event_id % 50 AS VARCHAR) AS l
        FROM e),
      tok AS (
        SELECT toa_id, regexp_split_to_array(trim(l), '\s+') AS t FROM lines),
      parsed AS (
        SELECT toa_id,
          CAST(t[1] AS DOUBLE) AS bat, CAST(t[2] AS DOUBLE) AS post,
          CAST(t[3] AS DOUBLE) AS err,
          array_to_string(t[6:], ' ') AS flags
        FROM tok
        WHERE len(t) >= 5
          AND TRY_CAST(t[1] AS DOUBLE) IS NOT NULL
          AND TRY_CAST(t[2] AS DOUBLE) IS NOT NULL
          AND TRY_CAST(t[3] AS DOUBLE) IS NOT NULL
          AND TRY_CAST(t[4] AS DOUBLE) IS NOT NULL
          AND TRY_CAST(t[5] AS DOUBLE) IS NOT NULL),
      g AS (
        SELECT regexp_extract(flags, '-B (\S+)', 1) AS grp,
          FLOOR(post * 1e9 + 0.5) AS r, err * 2.0 AS w, bat
        FROM parsed),
      ing AS (
        SELECT grp, COUNT(*) AS n,
          CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DOUBLE) AS sum_w,
          CAST(SUM(CAST(w * r * r AS DECIMAL(38,0))) AS DOUBLE) AS chi2,
          MIN(bat) AS bat_lo, MAX(bat) AS bat_hi
        FROM g GROUP BY 1),
      direct AS (
        SELECT event_type AS grp,
          CAST(SUM(CAST(((event_id % 10) * 2 + 3)
            * CAST(FLOOR(value * 100) AS DOUBLE)
            * CAST(FLOOR(value * 100) AS DOUBLE) AS DECIMAL(38,0))) AS DOUBLE) AS chi2_direct
        FROM e GROUP BY 1)
      SELECT i.grp, i.n, i.sum_w, i.chi2, SQRT(i.chi2 / i.sum_w) AS wrms,
        i.bat_lo, i.bat_hi, d.chi2_direct, i.chi2 - d.chi2_direct AS chi2_diff
      FROM ing i JOIN direct d USING (grp)
    """),
  )

  /** B23→oracle: `KEY VALUE` observation-header parsing
    * (`HeaderFile.parseColumn` — get_listinfo, fluxcal_meerkat.py:20,
    * the obs.header / Tsky-table reader). One fabricated header per
    * customer exercising every parse rule: `#` comments (indented too),
    * blank lines, leading whitespace before a key, key-only lines
    * (drop), values with internal spaces (split at the FIRST whitespace
    * run only), multi-space key/value separators, a duplicate key whose
    * LAST occurrence wins (the dict build), and two lines fabricated
    * from nullable columns (c_mktsegment, c_nationkey) so the nulls
    * gate exercises the concat_ws null-line skip on both sides. The
    * flatMap goes through HeaderFile.parse itself. Scale: dim-sized
    * parse fan-out, no shuffle before the compare. */
  private lazy val q147 = Q(
    "q147_header_parse",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val ck = col("c_custkey")
      val txt = concat_ws("\n",
        lit("# obs.header (fabricated)"),
        concat(lit("SOURCE J"), pmod(ck, lit(24)), lit("M"), pmod(ck, lit(60))),
        lit("  TELESCOPE MeerKAT"),
        concat(lit("BW "), pmod(ck, lit(856)) + 544),
        concat(lit("NCHAN "), (pmod(ck, lit(4)) + 1) * 1024),
        concat(lit("SOURCE J"), pmod(ck, lit(7)), lit("DUP")),
        concat(lit("SEGMENT "), col("c_mktsegment")),
        lit("KEYONLY"),
        lit(""),
        lit("   # indented comment"),
        concat(lit("TIED_BEAM "), pmod(ck, lit(2)), lit(" "), pmod(ck, lit(3)), lit(" coherent")),
        concat(lit("NANT   "), col("c_nationkey") + 8))
      graft.sources.HeaderFile.parseColumn(
        c.select(ck.as("hdr_id"), txt.as("hdr_text")), "hdr_id", "hdr_text")
    },
    Some("""
      WITH c AS (
        SELECT c_custkey AS hdr_id, c_mktsegment, c_nationkey FROM customer
        WHERE c_custkey IS NOT NULL),
      hdrs AS (
        SELECT hdr_id, [
          '# obs.header (fabricated)',
          'SOURCE J' || CAST(hdr_id % 24 AS VARCHAR) || 'M' || CAST(hdr_id % 60 AS VARCHAR),
          '  TELESCOPE MeerKAT',
          'BW ' || CAST(hdr_id % 856 + 544 AS VARCHAR),
          'NCHAN ' || CAST((hdr_id % 4 + 1) * 1024 AS VARCHAR),
          'SOURCE J' || CAST(hdr_id % 7 AS VARCHAR) || 'DUP',
          'SEGMENT ' || c_mktsegment,
          'KEYONLY',
          '',
          '   # indented comment',
          'TIED_BEAM ' || CAST(hdr_id % 2 AS VARCHAR) || ' ' || CAST(hdr_id % 3 AS VARCHAR) || ' coherent',
          'NANT   ' || CAST(c_nationkey + 8 AS VARCHAR)
        ] AS ls FROM c),
      lines AS (
        SELECT hdr_id, i, trim(ls[i]) AS l
        FROM hdrs, UNNEST(generate_series(1, len(ls))) AS u(i)),
      kv AS (
        SELECT hdr_id, i,
          regexp_extract(l, '^(\S+)\s+(.*)$', 1) AS key,
          trim(regexp_extract(l, '^(\S+)\s+(.*)$', 2)) AS value
        FROM lines
        WHERE l IS NOT NULL AND l <> '' AND NOT starts_with(l, '#')
          AND regexp_matches(l, '^\S+\s+\S')),
      last AS (
        SELECT hdr_id, key, arg_max(value, i) AS value FROM kv GROUP BY 1, 2)
      SELECT hdr_id, key, value FROM last
    """),
  )

  /** B26→oracle: psrflux dynamic-spectrum parsing + zap accounting
    * (`DynspecFile.parseColumn` — the np.loadtxt format
    * calc_dynspec_zap_fraction reads, archive_utils.py:118). One
    * fabricated dynspec line per non-null event exercising comments
    * (indented too), blank lines, short (<6 token) lines, an extra
    * trailing token (ignored — usecols semantics), and the zap rule's
    * AND (flux==0 with nonzero error is NOT zapped, and vice versa);
    * flux rides the value column on the exact .25 grid so sums stay
    * integer-exact. Grouped to the per-band zap-fraction table the
    * reference computes per archive. Scale: one fact pass, map-side
    * combined. (Round-12 lesson pinned in DynspecFile's scaladoc: the
    * first cut parsed with a Column `split`/`element_at` chain and ran
    * 9 s at sf1 — Catalyst's projection collapse inlines the split into
    * every consumer — vs 1.07 s for the same work as the typed flatMap
    * the other interchange parsers already use.) */
  private lazy val q148 = Q(
    "q148_dynspec_zap",
    (s, dir) => {
      val e = Tables.events(s, dir, spread = true)
        .filter(col("event_id").isNotNull && col("value").isNotNull)
        .select(col("event_id"), col("value"))
      val eid = col("event_id")
      val m = pmod(eid, lit(17))
      val tidx = pmod(eid, lit(96))
      val cidx = pmod(eid, lit(928))
      val z = pmod(eid, lit(13))
      val flux = when(z === 0, lit("0"))
        .when(z === 1, lit("0.0"))
        .when(z === 2, lit("-3.25"))
        .otherwise(concat(cents(col("value")).cast("long"), lit(".25")))
      val ferr = when(z === 0, lit("0"))
        .when(z === 1, lit("2.5"))
        .when(z === 2, lit("0.0"))
        .otherwise(concat(pmod(eid, lit(9)) + 1, lit(".5")))
      val full6 = concat_ws(" ", tidx, cidx, concat(tidx * 8, lit(".0")),
        concat(cidx + 856, lit(".5")), flux, ferr)
      val line = when(m === 0, lit("# DynSpec (fabricated)"))
        .when(m === 1, lit("   # indented comment"))
        .when(m === 2, lit(""))
        .when(m === 3, lit("1 2 3.0 4.0 5.0"))
        .when(m === 4, concat(full6, lit(" 99")))
        .when(m === 5, concat(full6, lit(" # psrflux note")))
        .when(m === 6, lit("1 2 3.0 4.0 5.0 # hash-before-col6 truncates short"))
        .otherwise(full6)
      val cells = graft.sources.DynspecFile.parseColumn(
        e.select(eid.as("cell_id"), line.as("ds_line")), "cell_id", "ds_line")
      cells
        .groupBy(pmod(col("chan_idx"), lit(8)).as("band"))
        .agg(
          count(lit(1)).as("n_cells"),
          sum(col("zapped").cast("long")).as("n_zapped"),
          (sum(col("zapped").cast("long")) / count(lit(1))).as("zap_frac"),
          dsumInt(col("flux") * 4).as("sum_flux4"),
          min(col("time_s")).as("t_lo"),
          max(col("freq_mhz")).as("f_hi"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, value FROM events
        WHERE event_id IS NOT NULL AND value IS NOT NULL),
      lines AS (
        SELECT event_id AS cell_id,
          CASE event_id % 17
            WHEN 0 THEN '# DynSpec (fabricated)'
            WHEN 1 THEN '   # indented comment'
            WHEN 2 THEN ''
            WHEN 3 THEN '1 2 3.0 4.0 5.0'
            WHEN 6 THEN '1 2 3.0 4.0 5.0 # hash-before-col6 truncates short'
            ELSE
              CAST(event_id % 96 AS VARCHAR) || ' ' ||
              CAST(event_id % 928 AS VARCHAR) || ' ' ||
              CAST(event_id % 96 * 8 AS VARCHAR) || '.0 ' ||
              CAST(event_id % 928 + 856 AS VARCHAR) || '.5 ' ||
              CASE event_id % 13 WHEN 0 THEN '0' WHEN 1 THEN '0.0' WHEN 2 THEN '-3.25'
                ELSE CAST(CAST(FLOOR(value * 100) AS BIGINT) AS VARCHAR) || '.25' END || ' ' ||
              CASE event_id % 13 WHEN 0 THEN '0' WHEN 1 THEN '2.5' WHEN 2 THEN '0.0'
                ELSE CAST(event_id % 9 + 1 AS VARCHAR) || '.5' END ||
              CASE WHEN event_id % 17 = 4 THEN ' 99'
                   WHEN event_id % 17 = 5 THEN ' # psrflux note' ELSE '' END
          END AS l
        FROM e),
      tok AS (
        SELECT cell_id, regexp_split_to_array(trim(split_part(l, '#', 1)), '\s+') AS t
        FROM lines
        WHERE length(trim(split_part(l, '#', 1))) > 0),
      cells AS (
        SELECT cell_id,
          CAST(t[1] AS INTEGER) AS time_idx, CAST(t[2] AS INTEGER) AS chan_idx,
          CAST(t[3] AS DOUBLE) AS time_s, CAST(t[4] AS DOUBLE) AS freq_mhz,
          CAST(t[5] AS DOUBLE) AS flux, CAST(t[6] AS DOUBLE) AS flux_err
        FROM tok WHERE len(t) >= 6)
      SELECT chan_idx % 8 AS band, COUNT(*) AS n_cells,
        CAST(SUM(CASE WHEN flux = 0.0 AND flux_err = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zapped,
        CAST(SUM(CASE WHEN flux = 0.0 AND flux_err = 0.0 THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*) AS zap_frac,
        CAST(SUM(CAST(flux * 4 AS DECIMAL(38,0))) AS DOUBLE) AS sum_flux4,
        MIN(time_s) AS t_lo, MAX(freq_mhz) AS f_hi
      FROM cells GROUP BY 1
    """),
  )

  /** B49→oracle: FITS card value-typing grammar end to end
    * (`FitsFile.parseCard` + the FitsCard coercions +
    * `mergeContinuations` — dlyfix_fits.py:89 `parsefitshdr` and the
    * fitsline value accessors). Each event row fabricates one 80-char
    * card image (or a 3-card CONTINUE long-string group) from table
    * columns — logical T/F, fixed-format ints (signed too), floats with
    * Fortran D/d exponents, quoted strings with `''` escapes and a `/`
    * INSIDE the quotes, leading-blank-significant / trailing-blank-
    * trimmed strings, COMMENT/HISTORY cards, an undefined (blank) value,
    * a BAD LINE the parser must skip, and an unquoted value with a
    * comment slash hard against the digits — and parses it through the
    * production per-card path via [[graft.sources.FitsFile.parseCardColumn]].
    * The oracle replays the typing generically in SQL (quote-aware
    * comment split, coercion priority, `&`+CONTINUE merge with
    * first-non-null comment). Scale: stateless per-row fan-out, no
    * shuffle — the same plan shape as q143/q147/q148. */
  private lazy val q149 = Q(
    "q149_fits_cards",
    (s, dir) => {
      val e = Tables.events(s, dir, spread = true)
        .filter(col("event_id").isNotNull && col("value").isNotNull)
        .select(col("event_id"), col("value"))
      val eid = col("event_id")
      val m = pmod(eid, lit(15))
      def pad(c: Column): Column = rpad(c, 80, " ")
      val contText = concat(
        pad(concat(lit("OBSERVER= 'team-"), pmod(eid, lit(30)), lit(" &' / obs team"))), lit("\n"),
        pad(lit("CONTINUE  'alpha &'")), lit("\n"),
        pad(concat(lit("CONTINUE  'omega-"), pmod(eid, lit(7)), lit("'"))))
      val text = when(m === 0, pad(lit("SIMPLE  = T / conforms to FITS standard")))
        .when(m === 1, pad(lit("POL_CAL = F")))
        .when(m === 2, pad(concat(lit("NCHAN   = "), pmod(eid, lit(1024)))))
        .when(m === 3, pad(concat(lit("TINT    = +"), pmod(eid, lit(3600)), lit(" / integration s"))))
        .when(m === 4, pad(concat(lit("SCALE   = "), cents(col("value")).cast("long"), lit(".25 / adc gain"))))
        .when(m === 5, pad(concat(lit("FREQ    = 1."), pmod(eid, lit(100)), lit("D3 / centre freq"))))
        .when(m === 6, pad(concat(lit("DM      = -"), pmod(eid, lit(90)), lit(".5d-2"))))
        .when(m === 7, pad(concat(lit("SRC_NAME= 'J"), pmod(eid, lit(24)), lit("-07''A/B  ' / target"))))
        .when(m === 8, contText)
        .when(m === 9, pad(concat(lit("POS_REF = '  lead-"), pmod(eid, lit(5)), lit("'"))))
        .when(m === 10, pad(concat(lit("COMMENT fabricated block "), pmod(eid, lit(50)))))
        .when(m === 11, pad(concat(lit("HISTORY pass "), pmod(eid, lit(9)), lit(" reprocessed"))))
        .when(m === 12, pad(lit("BLANKVAL=")))
        .when(m === 13, pad(lit("BADCARD without equals")))
        .otherwise(pad(concat(lit("RATIO   = "), pmod(eid, lit(17)), lit("/"), pmod(eid, lit(13)), lit(" parts"))))
      graft.sources.FitsFile.parseCardColumn(
        e.select(eid.as("card_id"), text.as("card_text")), "card_id", "card_text")
    },
    Some("""
      WITH e AS (
        SELECT event_id, value FROM events
        WHERE event_id IS NOT NULL AND value IS NOT NULL),
      img AS (
        SELECT event_id AS card_id,
          CASE event_id % 15
            WHEN 0 THEN rpad('SIMPLE  = T / conforms to FITS standard', 80, ' ')
            WHEN 1 THEN rpad('POL_CAL = F', 80, ' ')
            WHEN 2 THEN rpad('NCHAN   = ' || CAST(event_id % 1024 AS VARCHAR), 80, ' ')
            WHEN 3 THEN rpad('TINT    = +' || CAST(event_id % 3600 AS VARCHAR) || ' / integration s', 80, ' ')
            WHEN 4 THEN rpad('SCALE   = ' || CAST(CAST(FLOOR(value * 100) AS BIGINT) AS VARCHAR) || '.25 / adc gain', 80, ' ')
            WHEN 5 THEN rpad('FREQ    = 1.' || CAST(event_id % 100 AS VARCHAR) || 'D3 / centre freq', 80, ' ')
            WHEN 6 THEN rpad('DM      = -' || CAST(event_id % 90 AS VARCHAR) || '.5d-2', 80, ' ')
            WHEN 7 THEN rpad('SRC_NAME= ''J' || CAST(event_id % 24 AS VARCHAR) || '-07''''A/B  '' / target', 80, ' ')
            WHEN 8 THEN rpad('OBSERVER= ''team-' || CAST(event_id % 30 AS VARCHAR) || ' &'' / obs team', 80, ' ') ||
              chr(10) || rpad('CONTINUE  ''alpha &''', 80, ' ') ||
              chr(10) || rpad('CONTINUE  ''omega-' || CAST(event_id % 7 AS VARCHAR) || '''', 80, ' ')
            WHEN 9 THEN rpad('POS_REF = ''  lead-' || CAST(event_id % 5 AS VARCHAR) || '''', 80, ' ')
            WHEN 10 THEN rpad('COMMENT fabricated block ' || CAST(event_id % 50 AS VARCHAR), 80, ' ')
            WHEN 11 THEN rpad('HISTORY pass ' || CAST(event_id % 9 AS VARCHAR) || ' reprocessed', 80, ' ')
            WHEN 12 THEN rpad('BLANKVAL=', 80, ' ')
            WHEN 13 THEN rpad('BADCARD without equals', 80, ' ')
            ELSE rpad('RATIO   = ' || CAST(event_id % 17 AS VARCHAR) || '/' ||
              CAST(event_id % 13 AS VARCHAR) || ' parts', 80, ' ')
          END AS text
        FROM e),
      lines AS (
        SELECT card_id,
          UNNEST(string_split(text, chr(10))) AS l,
          UNNEST(range(len(string_split(text, chr(10))))) AS ln
        FROM img),
      split AS (
        SELECT card_id, ln,
          CASE WHEN starts_with(l, 'COMMENT') THEN 'COMMENT'
               WHEN starts_with(l, 'HISTORY') THEN 'HISTORY'
               WHEN starts_with(l, 'CONTINUE') THEN 'CONTINUE'
               WHEN strpos(l, '=') > 1 THEN trim(substr(l, 1, strpos(l, '=') - 1))
               END AS key,
          CASE WHEN starts_with(l, 'COMMENT') OR starts_with(l, 'HISTORY') THEN substr(l, 8)
               WHEN starts_with(l, 'CONTINUE') THEN substr(l, 9)
               WHEN strpos(l, '=') > 1 THEN substr(l, strpos(l, '=') + 1) END AS val
        FROM lines),
      per AS (
        SELECT card_id, ln, key,
          CASE WHEN key IN ('COMMENT','HISTORY') THEN trim(val)
               WHEN starts_with(ltrim(val), '''') THEN
                 regexp_extract(val, '^\s*(''(?:[^'']|'''')*'')', 1)
               WHEN strpos(val, '/') > 0 THEN trim(substr(val, 1, strpos(val, '/') - 1))
               ELSE trim(val) END AS raw,
          CASE WHEN key IN ('COMMENT','HISTORY','CONTINUE') THEN NULL
               WHEN starts_with(ltrim(val), '''') THEN
                 NULLIF(trim(regexp_extract(val, '^\s*''(?:[^'']|'''')*''[^/]*/(.*)$', 1)), '')
               WHEN strpos(val, '/') > 0 THEN NULLIF(trim(substr(val, strpos(val, '/') + 1)), '')
               END AS comment
        FROM split WHERE key IS NOT NULL),
      co AS (
        SELECT card_id, ln, key, raw, comment,
          CASE WHEN length(raw) >= 2 AND starts_with(raw, '''') AND raw LIKE '%''' THEN
            rtrim(replace(substr(raw, 2, length(raw) - 2), '''''', ''''))
            END AS str_v,
          CASE raw WHEN 'T' THEN TRUE WHEN 'F' THEN FALSE END AS bool_v,
          CASE WHEN regexp_matches(raw, '^[+-]?[0-9]+$') THEN TRY_CAST(raw AS BIGINT) END AS long_v,
          TRY_CAST(replace(replace(raw, 'D', 'E'), 'd', 'e') AS DOUBLE) AS dbl_v
        FROM per),
      counted AS (SELECT *, COUNT(*) OVER (PARTITION BY card_id) AS nl FROM co)
      SELECT card_id, key, raw,
        CASE WHEN str_v IS NOT NULL THEN 'str' WHEN bool_v IS NOT NULL THEN 'bool'
             WHEN long_v IS NOT NULL THEN 'int' WHEN dbl_v IS NOT NULL THEN 'float'
             ELSE 'undef' END AS value_type,
        str_v AS str_value, bool_v AS bool_value, long_v AS long_value,
        dbl_v AS double_value, comment
      FROM counted WHERE nl = 1
      UNION ALL
      SELECT card_id, arg_min(key, ln) AS key,
        '''' || string_agg(regexp_replace(str_v, '&$', ''), '' ORDER BY ln) || '''' AS raw,
        'str' AS value_type,
        string_agg(regexp_replace(str_v, '&$', ''), '' ORDER BY ln) AS str_value,
        CAST(NULL AS BOOLEAN) AS bool_value, CAST(NULL AS BIGINT) AS long_value,
        CAST(NULL AS DOUBLE) AS double_value,
        arg_min(comment, ln) FILTER (WHERE comment IS NOT NULL) AS comment
      FROM counted WHERE nl > 1 GROUP BY card_id
    """),
  )

  val all: Seq[Q] = Seq(q11, q12, q13, q14, q15, q16, q17, q18, q19, q20,
    q21, q22, q23, q24, q25, q26, q27, q28, q29, q56, q60, q61, q63, q65, q71, q74, q75, q76, q82, q83, q87, q88,
    q95, q96, q98, q103, q104, q105, q106, q107, q108, q110, q114, q115, q117, q121,
    q127, q128, q131, q133, q141, q143, q144, q145, q146, q147, q148, q149)

  /** B60: polarisation calibration (`PolnCal.applyJones` — the
    * reference README's Functionalities §1, its one routine with no
    * prior engine analog; meerpipe shells the math to psrchive `pac`).
    * Per-channel 2×2 complex Jones matrices (fabricated here as
    * deterministic integer-derived rationals — gains near 1, small
    * phases and cross-leakage, so every matrix is invertible) applied
    * in the calibrating direction J⁻¹ ρ (J⁻¹)^H to per-event Stokes
    * derived from `value`. The oracle unrolls the complex adjugate-
    * over-determinant inverse and the two matrix products into real
    * arithmetic in the SAME operation order as the Cx column algebra,
    * so doubles match bitwise (zero-term eliminations are exact;
    * float addition is commutative). Null `value` (nulls gate) poisons
    * all four calibrated components identically in both engines.
    * Scale shape: the Jones table broadcasts (one row per channel);
    * the correction is one scan-fused codegen'd projection — no
    * shuffle at any size. */
  private lazy val q121 = Q(
    "q121_poln_cal",
    (s, dir) => {
      val obs = Tables.events(s, dir, spread = true)
        .select(col("event_id"), (col("event_id") % 64).as("channel"),
          (abs(col("value")) + lit(1.0)).as("stokes_i"),
          (col("value") * lit(0.5)).as("stokes_q"),
          (col("value") * lit(0.25)).as("stokes_u"),
          (col("value") * lit(0.125)).as("stokes_v"))
      val c = col("id")
      val jones = s.range(64).select(
        col("id").as("channel"),
        (lit(1.0) + (c % 7 - lit(3)).cast("double") * lit(0.01)).as("j00_re"),
        ((c % 3 - lit(1)).cast("double") * lit(0.02)).as("j00_im"),
        ((c % 4).cast("double") * lit(0.02) - lit(0.03)).as("j01_re"),
        ((c % 6).cast("double") * lit(0.01) - lit(0.025)).as("j01_im"),
        ((c % 5).cast("double") * lit(-0.01) + lit(0.02)).as("j10_re"),
        ((c % 3).cast("double") * lit(0.015) - lit(0.015)).as("j10_im"),
        (lit(1.0) - (c % 5 - lit(2)).cast("double") * lit(0.01)).as("j11_re"),
        ((c % 4).cast("double") * lit(0.01) - lit(0.015)).as("j11_im"))
      graft.operators.PolnCal.applyJones(obs, jones, Seq("channel"))
        .select("event_id", "channel", "stokes_i_cal", "stokes_q_cal",
          "stokes_u_cal", "stokes_v_cal")
    },
    Some("""
      WITH jones AS (
        SELECT ch AS channel,
          1.0 + (ch % 7 - 3) * 0.01 AS j00_re,
          (ch % 3 - 1) * 0.02 AS j00_im,
          (ch % 4) * 0.02 - 0.03 AS j01_re,
          (ch % 6) * 0.01 - 0.025 AS j01_im,
          (ch % 5) * -0.01 + 0.02 AS j10_re,
          (ch % 3) * 0.015 - 0.015 AS j10_im,
          1.0 - (ch % 5 - 2) * 0.01 AS j11_re,
          (ch % 4) * 0.01 - 0.015 AS j11_im
        FROM generate_series(0, 63) AS t(ch)),
      obs AS (
        SELECT event_id, event_id % 64 AS channel,
          ABS(value) + 1.0 AS si, value * 0.5 AS sq,
          value * 0.25 AS su, value * 0.125 AS sv
        FROM events),
      minv AS (
        SELECT channel,
          j00_re*j11_re - j00_im*j11_im - (j01_re*j10_re - j01_im*j10_im) AS det_re,
          j00_re*j11_im + j00_im*j11_re - (j01_re*j10_im + j01_im*j10_re) AS det_im,
          j00_re, j00_im, j01_re, j01_im, j10_re, j10_im, j11_re, j11_im
        FROM jones),
      m AS (
        SELECT channel,
          (j11_re*det_re + j11_im*det_im) / (det_re*det_re + det_im*det_im) AS m00_re,
          (j11_im*det_re - j11_re*det_im) / (det_re*det_re + det_im*det_im) AS m00_im,
          (-j01_re*det_re - j01_im*det_im) / (det_re*det_re + det_im*det_im) AS m01_re,
          (-j01_im*det_re + j01_re*det_im) / (det_re*det_re + det_im*det_im) AS m01_im,
          (-j10_re*det_re - j10_im*det_im) / (det_re*det_re + det_im*det_im) AS m10_re,
          (-j10_im*det_re + j10_re*det_im) / (det_re*det_re + det_im*det_im) AS m10_im,
          (j00_re*det_re + j00_im*det_im) / (det_re*det_re + det_im*det_im) AS m11_re,
          (j00_im*det_re - j00_re*det_im) / (det_re*det_re + det_im*det_im) AS m11_im
        FROM minv),
      r AS (
        SELECT o.event_id, o.channel,
          0.5 * (o.si + o.sq) AS r00,
          0.5 * o.su AS r01_re, 0.5 * o.sv AS r01_im,
          0.5 * o.su AS r10_re, -(0.5 * o.sv) AS r10_im,
          0.5 * (o.si - o.sq) AS r11,
          m.* EXCLUDE (channel)
        FROM obs o JOIN m ON m.channel = o.channel),
      t AS (
        SELECT event_id, channel,
          m00_re, m00_im, m01_re, m01_im, m10_re, m10_im, m11_re, m11_im,
          m00_re*r00 + (m01_re*r10_re - m01_im*r10_im) AS t00_re,
          m00_im*r00 + (m01_re*r10_im + m01_im*r10_re) AS t00_im,
          (m00_re*r01_re - m00_im*r01_im) + m01_re*r11 AS t01_re,
          (m00_re*r01_im + m00_im*r01_re) + m01_im*r11 AS t01_im,
          m10_re*r00 + (m11_re*r10_re - m11_im*r10_im) AS t10_re,
          m10_im*r00 + (m11_re*r10_im + m11_im*r10_re) AS t10_im,
          (m10_re*r01_re - m10_im*r01_im) + m11_re*r11 AS t11_re,
          (m10_re*r01_im + m10_im*r01_re) + m11_im*r11 AS t11_im
        FROM r),
      p AS (
        SELECT event_id, channel,
          (t00_re*m00_re + t00_im*m00_im) + (t01_re*m01_re + t01_im*m01_im) AS p00_re,
          (t10_re*m10_re + t10_im*m10_im) + (t11_re*m11_re + t11_im*m11_im) AS p11_re,
          (t00_re*m10_re + t00_im*m10_im) + (t01_re*m11_re + t01_im*m11_im) AS p01_re,
          (t00_im*m10_re - t00_re*m10_im) + (t01_im*m11_re - t01_re*m11_im) AS p01_im,
          (t10_re*m00_re + t10_im*m00_im) + (t11_re*m01_re + t11_im*m01_im) AS p10_re,
          (t10_im*m00_re - t10_re*m00_im) + (t11_im*m01_re - t11_re*m01_im) AS p10_im
        FROM t)
      SELECT event_id, channel,
        p00_re + p11_re AS stokes_i_cal,
        p00_re - p11_re AS stokes_q_cal,
        p01_re + p10_re AS stokes_u_cal,
        p01_im - p10_im AS stokes_v_cal
      FROM p
    """),
  )

  /** B31→oracle: FB-parameterized (orbital-frequency Taylor) mean
    * anomaly (`Orbital.meanAnomaly` FB branch + `ombRadPerDay`,
    * mirroring get_mean_anomaly/get_OMB, binary_tools.py:221-232,148) —
    * the black-widow ephemeris form q24/q26's PB-branch queries don't
    * touch. 2π·86400·Σ FBᵢ·dt^(i+1)/(i+1)! with the reference's single
    * ×86400 quirk reproduced; the oracle spells out the identical
    * left-associated three-term series on identical doubles (libm POW
    * wobble is absorbed by the compare tolerance). */
  private lazy val q108 = Q(
    "q108_fb_anomaly",
    (s, dir) => {
      import graft.functions.Orbital
      val pars = Orbital.BinaryPars(pbDays = 0.0, t0Mjd = 60310.0, ecc = 0.0,
        fb = Seq(2.5e-5, 1.5e-13, -4.0e-21))
      val dt = Orbital.mjd(col("ts")) - lit(60310.0)
      Tables.events(s, dir).select(
        col("event_id"),
        dt.as("dt_days"),
        Orbital.meanAnomaly(dt, pars).as("m_fb"),
        lit(Orbital.ombRadPerDay(pars)).as("omb_rad_per_day"))
    },
    Some("""
      WITH d AS (
        SELECT event_id,
          epoch_us(ts) / 86400000000.0 + 40587.0 - 60310.0 AS dt_days
        FROM events)
      SELECT event_id, dt_days,
        ((2.5e-5 / 1.0) * POW(dt_days, 1.0)
          + (1.5e-13 / 2.0) * POW(dt_days, 2.0)
          + (-4.0e-21 / 6.0) * POW(dt_days, 3.0)) * (2.0 * PI() * 86400.0) AS m_fb,
        2.0 * PI() * 2.5e-5 * 86400.0 AS omb_rad_per_day
      FROM d
    """),
  )

  /** B21→oracle: selective salted join (`SkewJoin.autoSalted`) proven
    * equivalent to the plain equi-join by a HARD oracle signal — the
    * oracle IS the plain join, so the hash match certifies that the
    * measure-then-route decomposition (heavy keys through the salted
    * path with right-side replication, light keys through the plain
    * path) loses and invents nothing. heavyThreshold 60 puts roughly
    * half the user keys on each route at sf0.01's ~67 events/user. */
  private lazy val q105 = Q(
    "q105_salted_join",
    (s, dir) => {
      import graft.operators.SkewJoin
      val left = Tables.events(s, dir).select("user_id", "event_id", "value")
      val right = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_name"))
      SkewJoin.autoSalted(left, right, "user_id", "event_id",
          saltBuckets = 8, heavyThreshold = 60)
        .select("user_id", "event_id", "c_name", "value")
    },
    Some("""
      SELECT e.user_id, e.event_id, c.c_name, e.value
      FROM events e JOIN customer c ON c.c_custkey = e.user_id
    """),
  )

  /** B32→oracle: sexagesimal RAJ/DECJ parsing + the J2000 equatorial →
    * galactic rotation (`functions.Coords`, mirroring the astropy
    * SkyCoord / psrcat `get_glgb` path, fluxcal_meerkat.py:61,91-145) as
    * pure column trig. Per-row coordinate strings are derived
    * deterministically from user/event ids (incl. a negative-declination
    * branch exercising the sign-applies-to-whole-value rule). Cross-
    * engine: libm sin/cos/atan2 agree to ~1 ulp and the synthetic sky
    * stays degrees away from the galactic poles, so the compare
    * tolerance absorbs the trig wobble. */
  private lazy val q106 = Q(
    "q106_galactic",
    (s, dir) => {
      import graft.functions.Coords
      val ev = Tables.events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .withColumn("raj", concat(
          pmod(col("user_id"), lit(24)), lit(":"),
          pmod(col("user_id") * 7, lit(60)), lit(":"),
          pmod(col("user_id") * 13, lit(60)).cast("double") + lit(0.5)))
        .withColumn("decj", concat(
          when(pmod(col("user_id"), lit(2)) === 0, "+").otherwise("-"),
          pmod(col("user_id") * 3, lit(89)), lit(":"),
          pmod(col("user_id") * 11, lit(60)), lit(":"),
          pmod(col("user_id") * 17, lit(60)).cast("double") + lit(0.25)))
      ev.select(col("user_id"), col("raj"), col("decj"),
        Coords.raFromHms(col("raj")).as("ra_deg"),
        Coords.decFromDms(col("decj")).as("dec_deg"),
        Coords.glDeg(Coords.raFromHms(col("raj")), Coords.decFromDms(col("decj"))).as("gl_deg"),
        Coords.gbDeg(Coords.raFromHms(col("raj")), Coords.decFromDms(col("decj"))).as("gb_deg"))
    },
    Some("""
      WITH u AS (SELECT user_id FROM events GROUP BY 1),
      s AS (
        SELECT user_id,
          CAST(user_id % 24 AS VARCHAR) || ':' || CAST((user_id * 7) % 60 AS VARCHAR) ||
            ':' || CAST(CAST((user_id * 13) % 60 AS DOUBLE) + 0.5 AS VARCHAR) AS raj,
          (CASE WHEN user_id % 2 = 0 THEN '+' ELSE '-' END) ||
            CAST((user_id * 3) % 89 AS VARCHAR) || ':' || CAST((user_id * 11) % 60 AS VARCHAR) ||
            ':' || CAST(CAST((user_id * 17) % 60 AS DOUBLE) + 0.25 AS VARCHAR) AS decj
        FROM u),
      parsed AS (
        SELECT user_id, raj, decj,
          (CAST(user_id % 24 AS DOUBLE)
            + CAST((user_id * 7) % 60 AS DOUBLE) / 60.0
            + (CAST((user_id * 13) % 60 AS DOUBLE) + 0.5) / 3600.0) * 15.0 AS ra_deg,
          (CASE WHEN user_id % 2 = 0 THEN 1.0 ELSE -1.0 END) *
            (CAST((user_id * 3) % 89 AS DOUBLE)
              + CAST((user_id * 11) % 60 AS DOUBLE) / 60.0
              + (CAST((user_id * 17) % 60 AS DOUBLE) + 0.25) / 3600.0) AS dec_deg
        FROM s),
      rad AS (
        SELECT *, ra_deg * (PI() / 180.0) AS ra, dec_deg * (PI() / 180.0) AS dec
        FROM parsed),
      g AS (
        SELECT user_id, raj, decj, ra_deg, dec_deg,
          122.93192 - ATAN2(
            COS(dec) * SIN(ra - 192.85948 * (PI() / 180.0)),
            SIN(dec) * COS(27.12825 * (PI() / 180.0))
              - COS(dec) * SIN(27.12825 * (PI() / 180.0)) * COS(ra - 192.85948 * (PI() / 180.0))
          ) / (PI() / 180.0) AS l_raw,
          ASIN(SIN(dec) * SIN(27.12825 * (PI() / 180.0))
            + COS(dec) * COS(27.12825 * (PI() / 180.0)) * COS(ra - 192.85948 * (PI() / 180.0)))
            / (PI() / 180.0) AS gb_deg
        FROM rad)
      SELECT user_id, raj, decj, ra_deg, dec_deg,
        FMOD(FMOD(l_raw, 360.0) + 360.0, 360.0) AS gl_deg, gb_deg
      FROM g
    """),
  )

  /** B65: psrcat name→position resolution (`get_radec`,
    * scripts/fluxcal_meerkat.py:74-88 — the reference's `psrcat -c
    * "rajd decjd"` subprocess per pulsar) as a broadcast dimension on
    * the `Catalogs` pattern, with the .par-file coordinate route
    * (`get_radec_new`, fluxcal_meerkat.py:91-130 — the route meerpipe
    * itself prefers) as the fallback for uncatalogued names:
    * `coalesce(catalog, par)` plus a `pos_source` provenance column.
    * The catalogue text is a fabricated 6-row psrcat dump (names
    * PSR_0..PSR_5); fact names fan over PSR_0..PSR_7, so two names
    * MISS and exercise the par fallback (q106's deterministic hms/dms
    * parse). Literal-decimal catalogue values parse to identical
    * doubles in both engines; the fallback chain is q106's mirrored
    * arithmetic. One broadcast left join — the fact scan stays one
    * pass at any scale. */
  private lazy val q141 = Q(
    "q141_radec_by_name",
    (s, dir) => {
      import graft.functions.Coords
      import graft.sources.Catalogs
      val catText = """# psrcat dump: NAME RAJD DECJD (deg)
        |PSR_0 69.3161 -47.2525
        |PSR_1 114.4635 -40.0692
        |PSR_2 194.9293 -5.4597
        |PSR_3 263.1998 -37.9150
        |PSR_4 329.2562 -29.5735
        |PSR_5 16.5042 68.4419""".stripMargin
      val cat = Catalogs.positionsFromText(s, catText)
      val ev = Tables.events(s, dir)
        .withColumn("uid", pmod(col("user_id"), lit(8)))
        .groupBy("uid").agg(count(lit(1)).as("n"))
        .withColumn("name", concat(lit("PSR_"), col("uid")))
        // the .par route: q106's deterministic hms/dms strings parsed by
        // the same Coords chain the par-file path uses
        .withColumn("raj", concat(
          pmod(col("uid"), lit(24)), lit(":"),
          pmod(col("uid") * 7, lit(60)), lit(":"),
          pmod(col("uid") * 13, lit(60)).cast("double") + lit(0.5)))
        .withColumn("decj", concat(
          when(pmod(col("uid"), lit(2)) === 0, "+").otherwise("-"),
          pmod(col("uid") * 3, lit(89)), lit(":"),
          pmod(col("uid") * 11, lit(60)), lit(":"),
          pmod(col("uid") * 17, lit(60)).cast("double") + lit(0.25)))
      Catalogs.withRaDec(ev, "name", cat,
          Coords.raFromHms(col("raj")), Coords.decFromDms(col("decj")))
        .select(col("name"), col("n"), col("ra_deg"), col("dec_deg"),
          col("pos_source"))
    },
    Some("""
      WITH cat(name, rajd, decjd) AS (
        VALUES ('PSR_0', 69.3161, -47.2525),
               ('PSR_1', 114.4635, -40.0692),
               ('PSR_2', 194.9293, -5.4597),
               ('PSR_3', 263.1998, -37.9150),
               ('PSR_4', 329.2562, -29.5735),
               ('PSR_5', 16.5042, 68.4419)),
      u AS (SELECT user_id % 8 AS uid, COUNT(*) AS n FROM events GROUP BY 1),
      f AS (
        SELECT 'PSR_' || CAST(uid AS VARCHAR) AS name, n,
          (CAST(uid % 24 AS DOUBLE)
            + CAST((uid * 7) % 60 AS DOUBLE) / 60.0
            + (CAST((uid * 13) % 60 AS DOUBLE) + 0.5) / 3600.0) * 15.0 AS ra_par,
          (CASE WHEN uid % 2 = 0 THEN 1.0 ELSE -1.0 END) *
            (CAST((uid * 3) % 89 AS DOUBLE)
              + CAST((uid * 11) % 60 AS DOUBLE) / 60.0
              + (CAST((uid * 17) % 60 AS DOUBLE) + 0.25) / 3600.0) AS dec_par
        FROM u)
      SELECT f.name, f.n,
        COALESCE(cat.rajd, f.ra_par) AS ra_deg,
        COALESCE(cat.decjd, f.dec_par) AS dec_deg,
        CASE WHEN cat.rajd IS NOT NULL THEN 'catalog' ELSE 'par' END AS pos_source
      FROM f LEFT JOIN cat ON cat.name = f.name
    """),
  )

  /** B27→oracle: all-zapped border trim (`operators.TrimEdges`,
    * `Dynspec.trim_edges` at generate_images_results.py:176) — the
    * events stream mapped onto a (time, channel) grid, validity from the
    * flux value plus interior masking, bounding box of valid cells
    * computed in one aggregate and applied as a filter. The oracle
    * recomputes the box with scalar subqueries — hash match proves the
    * broadcast-crossJoin form exact. */
  private lazy val q107 = Q(
    "q107_trim_edges",
    (s, dir) => {
      import graft.operators.TrimEdges
      val grid = Tables.events(s, dir).select(
        col("event_id"),
        pmod(col("event_id"), lit(50)).as("t"),
        pmod(col("event_id") * 7, lit(40)).as("c"),
        col("value"))
      TrimEdges(grid, "t", "c",
        col("value") < 400.0 && col("t").between(3, 46) && col("c").between(2, 37))
    },
    Some("""
      WITH grid AS (
        SELECT event_id, event_id % 50 AS t, (event_id * 7) % 40 AS c, value
        FROM events),
      b AS (
        SELECT MIN(t) AS tmin, MAX(t) AS tmax, MIN(c) AS cmin, MAX(c) AS cmax
        FROM grid
        WHERE value < 400.0 AND t BETWEEN 3 AND 46 AND c BETWEEN 2 AND 37)
      SELECT g.event_id, g.t, g.c, g.value
      FROM grid g, b
      WHERE g.t >= b.tmin AND g.t <= b.tmax AND g.c >= b.cmin AND g.c <= b.cmax
    """),
  )

  /** B34→oracle: the END-TO-END flux-calibration chain
    * (`operators.FluxCal.multipliers`, mirroring fluxcal_meerkat.py
    * main(), :355-446). Synthetic observations derived deterministically
    * from the events/part/nation tables cover every branch — UHF
    * (catalogue Tsky hit AND cold-sky default), LBAND (CHIPASS-style
    * nearest-pixel grid lookup incl. missing-pixel and out-of-range
    * defaults), SBAND (multiplier 1.0, null calibration columns),
    * unknown band (all-null) — then band CASE → Tsky → Ssys → radiometer
    * expected RMS → exact median observed off-pulse RMS inside the
    * band's reference window → multiplier, every step mirrored verbatim
    * in the oracle (per-row IEEE arithmetic on identical operands; the
    * only multi-row float op is an AVG of ≤ 2 doubles). Pixel math uses
    * trunc-toward-zero on positive pixel terms so Spark's int cast and
    * DuckDB's TRUNC agree. */
  private lazy val q103 = Q(
    "q103_fluxcal",
    (s, dir) => {
      import graft.operators.{FluxCal, GridLookup}
      val ev = Tables.events(s, dir)
      val m4 = pmod(col("obs_id"), lit(4))
      val obs = ev.groupBy(col("user_id").as("obs_id"))
        .agg(
          ((max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))) / lit(1000000.0)).as("tobs"),
          count(lit(1)).as("nbin"),
          countDistinct(col("event_type")).as("nchan"))
        .withColumn("psr", concat(lit("PSR"), pmod(col("obs_id"), lit(30))))
        .withColumn("bw",
          when(m4 === 0, "544.0").when(m4 === 1, "856.0")
            .when(m4 === 2, "875.0").otherwise("100.0"))
        .withColumn("freq",
          when(m4 === 0, 815.5).when(m4 === 1, 1283.5)
            .when(m4 === 2, 2187.0).otherwise(500.0))
        .withColumn("obs_bw",
          when(m4 === 0, 544.0).when(m4 === 1, 856.0)
            .when(m4 === 2, 875.0).otherwise(100.0))
        .withColumn("rajd", pmod(col("obs_id") * 37, lit(380)).cast("double") + lit(0.3))
        .withColumn("decjd", pmod(col("obs_id") * 53, lit(120)).cast("double") - lit(60.0) + lit(0.2))
        .withColumn("nant", pmod(col("obs_id"), lit(60)) + lit(1))
      val u4 = pmod(col("user_id"), lit(4))
      val chanRms = ev.select(
        col("user_id").as("obs_id"),
        when(u4 === 0, lit(795.0) + pmod(col("event_id"), lit(15)))
          .when(u4 === 1, lit(1383.0) + pmod(col("event_id"), lit(20)))
          .otherwise(lit(0.0)).as("chan_freq"),
        col("value").as("offrms"))
      val grid = Tables.part(s, dir)
        .groupBy(pmod(col("p_partkey"), lit(37)).cast("int").as("pix1"),
          pmod(col("p_partkey") * 3, lit(13)).cast("int").as("pix2"))
        .agg(min(col("p_retailprice")).cast("double").as("tsky_mk"))
      val uhfCat = Tables.nation(s, dir)
        .select(concat(lit("PSR"), col("n_nationkey")).as("name"),
          (col("n_nationkey").cast("double") * lit(0.7) + lit(3.0)).as("value"))
      FluxCal.multipliers(obs, chanRms, grid,
        GridLookup.Axis(0.0, 0.0, 10.0, 36), GridLookup.Axis(-60.0, 0.0, 10.0, 12),
        uhfCat)
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts) AS us, event_type, value FROM events),
      obs AS (
        SELECT user_id AS obs_id,
          (MAX(us) - MIN(us)) / 1000000.0 AS tobs,
          COUNT(*) AS nbin,
          COUNT(DISTINCT event_type) AS nchan
        FROM ev GROUP BY 1),
      banded AS (
        SELECT obs_id, tobs, nbin, nchan,
          'PSR' || CAST(obs_id % 30 AS VARCHAR) AS psr,
          CAST(CASE obs_id % 4 WHEN 0 THEN 544.0 WHEN 1 THEN 856.0 WHEN 2 THEN 875.0 ELSE 100.0 END AS DOUBLE) AS obs_bw,
          CAST((obs_id * 37) % 380 AS DOUBLE) + 0.3 AS rajd,
          CAST((obs_id * 53) % 120 AS DOUBLE) - 60.0 + 0.2 AS decjd,
          obs_id % 60 + 1 AS nant,
          CASE obs_id % 4 WHEN 0 THEN 'UHF' WHEN 1 THEN 'LBAND' WHEN 2 THEN 'SBAND_0' END AS band
        FROM obs),
      grid AS (
        SELECT CAST(p_partkey % 37 AS INT) AS pix1,
          CAST((p_partkey * 3) % 13 AS INT) AS pix2,
          CAST(MIN(p_retailprice) AS DOUBLE) AS tsky_mk
        FROM part GROUP BY 1, 2),
      cat AS (
        SELECT 'PSR' || CAST(n_nationkey AS VARCHAR) AS name,
          CAST(n_nationkey AS DOUBLE) * 0.7 + 3.0 AS value
        FROM nation),
      gpix AS (
        SELECT b.*, CAST(TRUNC(rajd / 10.0 + 0.5) AS INT) AS p1,
          CAST(TRUNC((decjd + 60.0) / 10.0 + 0.5) AS INT) AS p2
        FROM banded b),
      tsk AS (
        SELECT g.*,
          CASE WHEN p1 < 0 OR p1 > 36 OR p2 < 0 OR p2 > 12 THEN 3400.0
               ELSE COALESCE(gr.tsky_mk, 3400.0) END AS tsky_mk
        FROM gpix g LEFT JOIN grid gr ON gr.pix1 = g.p1 AND gr.pix2 = g.p2),
      calc AS (
        SELECT t.obs_id, t.psr, t.band, t.nbin, t.nchan, t.tobs, t.obs_bw, t.nant,
          CASE WHEN band = 'LBAND' THEN 1.7202 * (tsky_mk - 3372.0) * (19.0 / 1000.0)
               WHEN band = 'UHF' THEN COALESCE(c.value, 5.5) * 19.0 END AS tsky_jy,
          CASE WHEN band = 'LBAND' THEN 390.0
               WHEN band = 'UHF' THEN 18.5 * 19.0 END AS sefd
        FROM tsk t LEFT JOIN cat c ON c.name = t.psr),
      calc2 AS (
        SELECT *, (sefd + tsky_jy) / nant AS ssys,
          ((sefd + tsky_jy) / nant) / SQRT(2.0 * obs_bw / nchan * tobs / nbin) AS expected_rms
        FROM calc),
      chan AS (
        SELECT user_id AS obs_id,
          CASE user_id % 4
            WHEN 0 THEN 795.0 + CAST(event_id % 15 AS DOUBLE)
            WHEN 1 THEN 1383.0 + CAST(event_id % 20 AS DOUBLE)
            ELSE 0.0 END AS chan_freq,
          value AS offrms
        FROM ev),
      med AS (
        SELECT obs_id, AVG(offrms) AS observed_rms FROM (
          SELECT b.obs_id, c.offrms,
            ROW_NUMBER() OVER (PARTITION BY b.obs_id ORDER BY c.offrms, c.chan_freq) AS rn,
            COUNT(*) OVER (PARTITION BY b.obs_id) AS cnt
          FROM banded b JOIN chan c ON c.obs_id = b.obs_id
          WHERE b.band IN ('LBAND', 'UHF')
            AND c.offrms IS NOT NULL
            AND c.chan_freq >= CASE WHEN b.band = 'LBAND' THEN 1383.0 ELSE 795.0 END
            AND c.chan_freq <  CASE WHEN b.band = 'LBAND' THEN 1400.0 ELSE 805.0 END)
        WHERE rn = CAST(TRUNC((cnt + 1) / 2.0) AS BIGINT)
           OR rn = CAST(TRUNC(cnt / 2.0) AS BIGINT) + 1
        GROUP BY 1),
      j AS (SELECT c.*, m.observed_rms FROM calc2 c LEFT JOIN med m ON m.obs_id = c.obs_id)
      SELECT obs_id, psr, band, tsky_jy, ssys, expected_rms, observed_rms,
        CASE WHEN band LIKE 'SBAND%' THEN 1.0
             ELSE expected_rms / observed_rms END AS multiplier
      FROM j
    """),
  )

  /** B29→oracle: dlycfg rule evaluation end-to-end
    * (`operators.DelayCorrection.parseConfig` + `applyTo`, mirroring
    * history_class.parse / getcorrection, scripts/dlyfix.py:27,128). The
    * literal config exercises every rule feature: `=` reset, `+=`/`-=`
    * accumulation, ms/us/ns unit factors, an ATTRIBUTE unit (`1 tbin` —
    * resolved per-observation like the reference's getattr), anchored
    * prefix-regex (`~=`, matching python re.match semantics — 'err'
    * matches 'error'), negated regex with alternation, and numeric
    * `<`/`>=` conditions. The oracle hand-unrolls the identical
    * left-to-right when-chain; all arithmetic is per-row IEEE on
    * identical operands. */
  private lazy val q104 = Q(
    "q104_delay_correction",
    (s, dir) => {
      import graft.operators.DelayCorrection
      val cfg = """
        |# synthetic instrument delay history (dlyfix format)
        |* early_epoch
        |mjd < 59000
        |delay = 1.2 us
        |* uhf_fix
        |bename ~= uhf
        |mjd >= 59000
        |delay += 4 ns
        |* wide_tbin
        |tbin > 2.0
        |delay += 1 tbin
        |* not_click_err
        |beconfig !~= click|err
        |delay -= 0.5 ms
        |""".stripMargin
      val e3 = pmod(col("event_id"), lit(3))
      val obs = Tables.events(s, dir).select(
        col("event_id").as("obs_id"),
        (lit(58990.0) + pmod(col("user_id"), lit(20))).as("mjd"),
        when(e3 === 0, "uhf_band").when(e3 === 1, "lband")
          .otherwise("uhf2").as("bename"),
        col("event_type").as("beconfig"),
        (col("value") / lit(100.0)).as("tbin"))
      DelayCorrection.applyTo(obs, DelayCorrection.parseConfig(cfg), name => col(name))
    },
    Some("""
      WITH obs AS (
        SELECT event_id AS obs_id,
          58990.0 + CAST(user_id % 20 AS DOUBLE) AS mjd,
          CASE event_id % 3 WHEN 0 THEN 'uhf_band' WHEN 1 THEN 'lband'
            ELSE 'uhf2' END AS bename,
          event_type AS beconfig,
          value / 100.0 AS tbin
        FROM events),
      d1 AS (SELECT *,
        CASE WHEN mjd < 59000.0 THEN 1.2 * 1e-6 ELSE 0e0 END AS t1 FROM obs),
      d2 AS (SELECT *,
        CASE WHEN regexp_matches(bename, '^(?:uhf)') AND mjd >= 59000.0
          THEN t1 + 4.0 * 1e-9 ELSE t1 END AS t2 FROM d1),
      d3 AS (SELECT *,
        CASE WHEN tbin > 2.0 THEN t2 + tbin * 1.0 ELSE t2 END AS t3 FROM d2),
      d4 AS (SELECT *,
        CASE WHEN NOT regexp_matches(beconfig, '^(?:click|err)')
          THEN t3 + (-0.5 * 1e-3) ELSE t3 END AS delay_correction FROM d3)
      SELECT obs_id, mjd, bename, beconfig, tbin, delay_correction FROM d4
    """),
  )

  /** B43: categorical drift between the first and second half of the
    * month (`Profile.categoricalDrift`): per-event-type chi-square
    * homogeneity decomposition — large contributions localize which
    * category's rate moved. Two category-keyed counts + a full-outer
    * join of category-sized frames; exact-long inputs make the doubles
    * engine-identical. */
  private lazy val q74 = Q(
    "q74_category_drift",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val cut = lit("2024-01-16").cast("timestamp")
      graft.operators.Profile.categoricalDrift(
        ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut), "event_type")
        .withColumnRenamed("category", "event_type")
    },
    Some("""
      WITH ca AS (
        SELECT event_type AS category, COUNT(*) AS n_a FROM events
        WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1),
      cb AS (
        SELECT event_type AS category, COUNT(*) AS n_b FROM events
        WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY 1),
      cells AS (
        SELECT COALESCE(ca.category, cb.category) AS category,
          COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        FROM ca FULL OUTER JOIN cb ON ca.category = cb.category),
      t AS (SELECT SUM(n_a) AS tot_a, SUM(n_b) AS tot_b FROM cells),
      e AS (
        SELECT category, n_a, n_b,
          CAST(n_a + n_b AS DOUBLE) * CAST(tot_a AS DOUBLE) / CAST(tot_a + tot_b AS DOUBLE) AS exp_a,
          CAST(n_a + n_b AS DOUBLE) * CAST(tot_b AS DOUBLE) / CAST(tot_a + tot_b AS DOUBLE) AS exp_b
        FROM cells, t)
      SELECT category AS event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        exp_a, exp_b,
        (CASE WHEN exp_a > 0.0 THEN (CAST(n_a AS DOUBLE) - exp_a) * (CAST(n_a AS DOUBLE) - exp_a) / exp_a ELSE 0.0 END
         + CASE WHEN exp_b > 0.0 THEN (CAST(n_b AS DOUBLE) - exp_b) * (CAST(n_b AS DOUBLE) - exp_b) / exp_b ELSE 0.0 END)
          AS chi2_contrib
      FROM e
    """),
  )

  /** B47: per-group exact mode (top contributor): the most frequent
    * user per event_type with its count and share — count aggregate,
    * then the TopKPerKey k=1 bounded heap picks the argmax (one row per
    * group per partition over the second shuffle; max_by/max(struct)
    * would plan SortAggregate). Ties break to the smaller user id. */
  private lazy val q83 = Q(
    "q83_top_contributor",
    (s, dir) => {
      val counts = Tables.events(s, dir)
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"))
      val totals = counts.groupBy("event_type").agg(sum(col("n")).as("__tot"))
      graft.plans.TopK.perKey(counts, Seq("event_type"),
          Seq(graft.plans.TopK.desc("n"), graft.plans.TopK.asc("user_id")), k = 1)
        .join(broadcast(totals), Seq("event_type"))
        .select(col("event_type"), col("user_id"), col("n"),
          (col("n").cast("double") / col("__tot").cast("double")).as("share"))
    },
    Some("""
      WITH c AS (
        SELECT event_type, user_id, COUNT(*) AS n
        FROM events GROUP BY 1, 2),
      t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1),
      r AS (
        SELECT event_type, user_id, n,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n DESC, user_id) AS rn
        FROM c)
      SELECT r.event_type, r.user_id, r.n,
        CAST(r.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS share
      FROM r JOIN t ON t.event_type = r.event_type
      WHERE rn = 1
    """),
  )

  /** B46: winsorization (`Outliers.winsorize`) — the robust-stats REPAIR
    * member next to q20/q60's flaggers: values clamp to the per-type
    * exact [5%, 95%] order statistics (ceil-rank convention), bounding
    * outlier influence without dropping rows. Decimal sums make the
    * clamped totals hash-exact. */
  private lazy val q82 = Q(
    "q82_winsorize",
    (s, dir) =>
      graft.operators.Outliers.winsorize(
        Tables.events(s, dir).select("event_type", "event_id", "value"),
        "event_type", "value", "event_id", pLow = 0.05, pHigh = 0.95)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(col("clamped_low")).cast("long").as("n_clamped_low"),
          sum(col("clamped_high")).cast("long").as("n_clamped_high"),
          dsum(col("winsorized")).as("sum_winsorized")),
    Some("""
      WITH r AS (
        -- nulls must not rank into the quantile window (they pass through
        -- unclamped below), mirroring the operator's null handling
        SELECT event_type, event_id, value,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM events WHERE value IS NOT NULL),
      q AS (
        SELECT event_type,
          MAX(CASE WHEN rn = CEIL(cnt * 0.05) THEN value END) AS qlo,
          MAX(CASE WHEN rn = CEIL(cnt * 0.95) THEN value END) AS qhi
        FROM r GROUP BY 1),
      wz AS (
        SELECT e.event_type,
          CASE WHEN e.value < q.qlo THEN q.qlo
               WHEN e.value > q.qhi THEN q.qhi
               ELSE e.value END AS winsorized,
          COALESCE(CAST(e.value < q.qlo AS BIGINT), 0) AS cl,
          COALESCE(CAST(e.value > q.qhi AS BIGINT), 0) AS ch
        FROM events e LEFT JOIN q ON q.event_type = e.event_type)
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(cl) AS BIGINT) AS n_clamped_low,
        CAST(SUM(ch) AS BIGINT) AS n_clamped_high,
        CAST(SUM(CAST(winsorized AS DECIMAL(38,6))) AS DOUBLE) AS sum_winsorized
      FROM wz GROUP BY 1
    """),
  )

  /** B45: built-in `session_window` sessionization — per-user gap
    * sessions as ONE aggregation (Spark merges windows inside the
    * aggregate; works identically in Structured Streaming), next to
    * q25's explicit lag/cumsum sessionizer. A session's end is
    * last-event + gap; a new session opens when the gap is ≥ the
    * duration, which the island-pattern oracle mirrors with >=. */
  private lazy val q76 = Q(
    "q76_session_window",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          unix_micros(col("sw.end")).as("session_end_us"),
          col("n"), col("sum_value")),
    Some("""
      WITH o AS (SELECT user_id, epoch_us(ts) AS tus, value FROM events),
      f AS (
        SELECT user_id, tus, value,
          CASE WHEN LAG(tus) OVER w IS NULL
                 OR tus - LAG(tus) OVER w >= 1800000000 THEN 1 ELSE 0 END AS is_new
        FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
      g AS (
        SELECT user_id, tus, value,
          SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM f)
      SELECT user_id,
        MIN(tus) AS session_start_us,
        MAX(tus) + 1800000000 AS session_end_us,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM g GROUP BY user_id, sid
    """),
  )

  /** B44: CUBE over (event_type, band) — all four grouping combinations
    * from one declared aggregation (Spark Expand + single shuffle), the
    * every-slice rollup a results dashboard wants. Completes the
    * grouping-sets surface next to q09's ROLLUP. */
  private lazy val q75 = Q(
    "q75_cube",
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("band", Signal.bandOf(col("value")))
        .cube("event_type", "band")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")),
    Some("""
      WITH e AS (
        SELECT event_type, value, CASE
          WHEN value >= 0.0 AND value < 50.0 THEN 'UHF'
          WHEN value >= 50.0 AND value < 150.0 THEN 'LBAND'
          WHEN value >= 150.0 AND value < 250.0 THEN 'SBAND_0'
          WHEN value >= 250.0 AND value < 350.0 THEN 'SBAND_1'
          WHEN value >= 350.0 AND value < 500.0 THEN 'SBAND_2'
          ELSE 'UNKNOWN' END AS band
        FROM events)
      SELECT event_type, band, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM e GROUP BY CUBE(event_type, band)
    """),
  )

  /** B42: weekly cohort retention — users grouped by first-activity week,
    * counted per later active week (`Retention.cohorts`). Two user-keyed
    * shuffles + one (cohort, week) count; cohort sizes are the offset-0
    * rows, surfaced via a window over the tiny counts frame. */
  private lazy val q71 = Q(
    "q71_cohort_retention",
    (s, dir) =>
      graft.operators.Retention.cohorts(
        Tables.events(s, dir).select("user_id", "ts"), "user_id", "ts", "week"),
    Some("""
      WITH f AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
        FROM events GROUP BY 1),
      a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS period FROM events),
      c AS (
        SELECT cohort, period, COUNT(*) AS n_users
        FROM a JOIN f USING (user_id) GROUP BY 1, 2),
      s AS (SELECT cohort, n_users AS cohort_size FROM c WHERE period = cohort)
      SELECT c.cohort, c.period,
        CAST(FLOOR(date_diff('day', c.cohort, c.period) / 7) AS BIGINT) AS period_offset,
        c.n_users, s.cohort_size,
        CAST(c.n_users AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention
      FROM c JOIN s ON s.cohort = c.cohort
    """),
  )

  /** B39→oracle: Z-order (Morton) layout key (`operators.ZOrder`) — the
    * min/max grid normalization plus the codegen'd bit-interleave sort
    * key mirrored bit-for-bit in SQL shift/mask arithmetic, so the
    * data-skipping layout code is proven exact cross-engine (the
    * clustered-write half stays spec-verified: file pruning is an I/O
    * effect no SQL oracle can observe). Null dimensions route to cell 0
    * on both sides (the clamp-after-coalesce convention that keeps null
    * rows out of the max-corner files). */
  private lazy val q110 = Q(
    "q110_zorder_code",
    (s, dir) => {
      import graft.operators.ZOrder
      val e = Tables.events(s, dir).select("event_id", "value", "user_id")
      ZOrder.normalized(e, Seq("value", "user_id"), bits = 8)
        .select(col("event_id"),
          col("__z_value").as("z_value"), col("__z_user_id").as("z_user"),
          ZOrder.mortonCode(Seq(col("__z_value"), col("__z_user_id")), bits = 8).as("zorder"))
    },
    Some {
      // bit j of column i lands at position j*n + i (n=2: value=0, user=1)
      val interleave = (0 until 8).flatMap { j =>
        Seq(s"(((a >> $j) & 1) << ${2 * j})", s"(((b >> $j) & 1) << ${2 * j + 1})")
      }.mkString(" | ")
      s"""
      WITH r AS (
        SELECT CAST(MIN(value) AS DOUBLE) AS lo_v, CAST(MAX(value) AS DOUBLE) AS hi_v,
               CAST(MIN(user_id) AS DOUBLE) AS lo_u, CAST(MAX(user_id) AS DOUBLE) AS hi_u
        FROM events),
      z AS (
        SELECT event_id,
          CASE WHEN hi_v - lo_v > 0
            THEN CAST(FLOOR((CAST(value AS DOUBLE) - lo_v) / (hi_v - lo_v) * 255.0) AS BIGINT)
            ELSE 0 END AS z_value,
          CASE WHEN hi_u - lo_u > 0
            THEN CAST(FLOOR((CAST(user_id AS DOUBLE) - lo_u) / (hi_u - lo_u) * 255.0) AS BIGINT)
            ELSE 0 END AS z_user
        FROM events, r),
      c AS (
        SELECT event_id, z_value, z_user,
          GREATEST(0, LEAST(255, COALESCE(z_value, 0))) AS a,
          GREATEST(0, LEAST(255, COALESCE(z_user, 0))) AS b
        FROM z)
      SELECT event_id, z_value, z_user, ($interleave) AS zorder FROM c
      """
    },
  )

  /** B24→oracle: per-observation results assembly (`Results.assemble`,
    * mirroring generate_results, generate_images_results.py:256) — the
    * long-form metric pivot AND the results_json record proven
    * cross-engine. Metric values are integer counts on purpose: JSON
    * number formatting of integers is engine-identical where double
    * rendering is not. `dm_fit` is a metric no run produced — the
    * reference writes JSON null for those, and the oracle mirrors the
    * ignoreNullFields=false rendering verbatim. */
  private lazy val q114 = Q(
    "q114_results_assemble",
    (s, dir) => {
      val metrics = Tables.events(s, dir)
        .groupBy(col("user_id").as("obs_id"), col("event_type").as("metric"))
        .agg(count(lit(1)).as("value"))
      graft.operators.Results.assemble(metrics, "obs_id", "metric", "value",
          Seq("click", "error", "purchase", "signup", "view", "dm_fit"))
        .select("obs_id", "click", "error", "purchase", "signup", "view", "results_json")
    },
    Some("""
      WITH m AS (
        SELECT user_id AS obs_id, event_type AS metric, COUNT(*) AS v
        FROM events GROUP BY 1, 2),
      p AS (
        SELECT obs_id,
          MAX(CASE WHEN metric = 'click' THEN v END) AS click,
          MAX(CASE WHEN metric = 'error' THEN v END) AS error,
          MAX(CASE WHEN metric = 'purchase' THEN v END) AS purchase,
          MAX(CASE WHEN metric = 'signup' THEN v END) AS signup,
          MAX(CASE WHEN metric = 'view' THEN v END) AS "view"
        FROM m GROUP BY 1)
      SELECT obs_id, click, error, purchase, signup, "view",
        '{"click":' || COALESCE(CAST(click AS VARCHAR), 'null') ||
        ',"error":' || COALESCE(CAST(error AS VARCHAR), 'null') ||
        ',"purchase":' || COALESCE(CAST(purchase AS VARCHAR), 'null') ||
        ',"signup":' || COALESCE(CAST(signup AS VARCHAR), 'null') ||
        ',"view":' || COALESCE(CAST("view" AS VARCHAR), 'null') ||
        ',"dm_fit":null}' AS results_json
      FROM p
    """),
  )

  /** B59: TOA selection-logic rules (`operators.ToaSelect`) — the
    * reference's `.select` quality-rule format
    * (default_toa_logic.select: `LOGIC -snr < 10 REJECT`) parsed and
    * run as a codegen'd first-match-wins when-chain; events.value plays
    * the per-TOA S/N. The rule file here layers an ACCEPT carve-out
    * under the verbatim default rule so ordering (not just the
    * predicate) is what the hash checks; rows matching no rule are
    * ACCEPTED, and null attributes satisfy no comparison — both
    * defaults the oracle CASE mirrors exactly. */
  private lazy val q117 = Q(
    "q117_toa_select",
    (s, dir) => {
      import graft.operators.ToaSelect
      val rules = ToaSelect.parse(
        """# default_toa_logic.select + an ordering carve-out
          |LOGIC -snr < 2 ACCEPT
          |LOGIC -snr < 10 REJECT
          |LOGIC -err >= 400 REJECT
          |""".stripMargin)
      val toas = Tables.events(s, dir).select(
        col("event_id"), col("value").as("snr"),
        (col("user_id") * 3 % 500).cast("double").as("err"))
      ToaSelect.filter(toas, rules,
        Map("snr" -> col("snr"), "err" -> col("err")))
    },
    Some("""
      WITH toas AS (
        SELECT event_id, value AS snr,
          CAST((user_id * 3) % 500 AS DOUBLE) AS err
        FROM events)
      SELECT event_id, snr, err FROM toas
      WHERE CASE WHEN snr < 2 THEN true
                 WHEN snr < 10 THEN false
                 WHEN err >= 400 THEN false
                 ELSE true END
    """),
  )

  /** B58: EVERY decimation product in one pass (`Downsample.products` +
    * `parseFlags`) — the reference's pipeline-config `flags` line
    * (`pscrunch,t 320 f 8,t 64 f 16,t 8 f 32,tscrunch,fscrunch,saveall`,
    * configuration_files/project_specific/meertime_jitter.config)
    * renders each product with a separate pam pass over the archive;
    * here the VERBATIM line parses into five plans and one scan emits
    * all five resolutions: the events aggregate once per (event_type,
    * hour, user_id % 32) cell, and each product rolls up from those
    * exact partials (the data-cube method over arbitrary bucketings).
    * Oracle = the same plans as a VALUES dim cross-joined and
    * re-aggregated from the raw rows. */
  private lazy val q115 = Q(
    "q115_decimation_products",
    (s, dir) => {
      import graft.operators.Downsample
      val (plans, _) = Downsample.parseFlags(
        "pscrunch,t 320 f 8,t 64 f 16,t 8 f 32,tscrunch,fscrunch,saveall")
      val e = Tables.events(s, dir).select(
        col("event_type"),
        floor(unix_micros(col("ts")) / lit(3600000000.0)).cast("long").as("t_idx"),
        pmod(col("user_id"), lit(32)).cast("long").as("f_idx"),
        col("value"))
      Downsample.products(e, Seq("event_type"),
        col("t_idx"), col("f_idx"), col("value"), plans)
    },
    Some("""
      WITH base AS (
        SELECT event_type,
          CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS t_idx,
          user_id % 32 AS f_idx, value
        FROM events),
      plans(plan, tf, ff) AS (VALUES
        ('t320f8', 320, 8), ('t64f16', 64, 16), ('t8f32', 8, 32),
        ('tscrunch', 0, 1), ('fscrunch', 1, 0)),
      rep AS (
        SELECT event_type, plan,
          CASE WHEN tf = 0 THEN 0
               WHEN tf = 1 THEN t_idx
               ELSE CAST(FLOOR(t_idx / CAST(tf AS DOUBLE)) AS BIGINT) END AS t_bin,
          CASE WHEN ff = 0 THEN 0
               WHEN ff = 1 THEN f_idx
               ELSE CAST(FLOOR(f_idx / CAST(ff AS DOUBLE)) AS BIGINT) END AS f_bin,
          value
        FROM base, plans)
      SELECT event_type, plan, t_bin, f_bin,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
        CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value) AS avg_value
      FROM rep GROUP BY 1, 2, 3, 4
    """),
  )

  /** B61: template-matching TOA estimation (`operators.Toa`) — the
    * reference README §5's `pat` step (TOAs "computed using PSRCHIVE"),
    * the one routine between the decimation products (q115) and TOA
    * selection (q117) that meerpipe shells out for. Per-obs 8-bin
    * profiles (decimal-exact conditional bin sums, so raggedness can't
    * occur) are cross-correlated against the corpus-summed template —
    * the standard high-S/N standard-profile choice — peak-picked,
    * parabolic-refined to sub-bin phase, and converted to
    * `toa_us = epoch + phase·period`. The oracle unrolls the circular
    * lag fold into an explicit `0.0 + p[..]*t[1] + …` chain (the
    * q121/q26 fixed-order recipe) so doubles match bitwise. Scale
    * shape: one binned aggregate + a 1-row broadcast template; the
    * O(nbin²) lag scan is per-row, nbin-bounded. */
  private lazy val q127 = Q(
    "q127_toa_estimate",
    (s, dir) => {
      import graft.operators.Toa
      val nbin = 8
      val e = Tables.events(s, dir, spread = true)
        .select(col("user_id"),
          pmod(col("event_id"), lit(nbin.toLong)).as("bin"),
          col("value"), unix_micros(col("ts")).as("tus"))
      def binSum(j: Int) =
        coalesce(dsum(when(col("bin") === lit(j.toLong), col("value"))), lit(0.0))
          .as(s"c$j")
      val profAggs = (0 until nbin).map(binSum) :+ min(col("tus")).as("epoch_us")
      val prof = e.groupBy("user_id")
        .agg(profAggs.head, profAggs.tail: _*)
        .select(col("user_id"),
          array((0 until nbin).map(j => col(s"c$j")): _*).as("profile"),
          col("epoch_us"))
      val tmplAggs = (0 until nbin).map(binSum)
      val tmpl = e.groupBy()
        .agg(tmplAggs.head, tmplAggs.tail: _*)
        .select(array((0 until nbin).map(j => col(s"c$j")): _*).as("template"))
      val joined = prof.crossJoin(broadcast(tmpl))
        .withColumn("period_us",
          (pmod(col("user_id"), lit(5L)) + lit(1L)).cast("double") * lit(1000000.0))
      Toa.estimate(joined, col("profile"), col("template"),
          col("epoch_us"), col("period_us"))
        .select(col("user_id").as("obs_id"), col("k_peak"),
          col("shift_bins"), col("phase"), col("toa_us"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id % 8 AS bin, value,
          epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        FROM events),
      p AS (
        SELECT user_id,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 0 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c0,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 1 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c1,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 2 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c2,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 3 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c3,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 4 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c4,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 5 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c5,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 6 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c6,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 7 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c7,
          MIN(tus) AS epoch_us
        FROM e GROUP BY 1),
      tt AS (
        SELECT
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 0 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t0,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 1 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t1,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 2 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t2,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 3 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t3,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 4 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t4,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 5 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t5,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 6 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t6,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 7 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t7
        FROM e),
      pr AS (
        SELECT user_id, [c0, c1, c2, c3, c4, c5, c6, c7] AS p, epoch_us,
          CAST((user_id % 5) + 1 AS DOUBLE) * 1000000.0 AS period_us
        FROM p),
      tl AS (SELECT [t0, t1, t2, t3, t4, t5, t6, t7] AS t FROM tt),
      cc AS (
        SELECT user_id, epoch_us, period_us, k,
          0.0 + p[(0+k)%8+1]*t[1] + p[(1+k)%8+1]*t[2] + p[(2+k)%8+1]*t[3]
              + p[(3+k)%8+1]*t[4] + p[(4+k)%8+1]*t[5] + p[(5+k)%8+1]*t[6]
              + p[(6+k)%8+1]*t[7] + p[(7+k)%8+1]*t[8] AS ccf
        FROM pr, tl, LATERAL unnest(generate_series(0, 7)) lk(k)),
      l AS (
        SELECT user_id, epoch_us, period_us, list(ccf ORDER BY k) AS ccf
        FROM cc GROUP BY 1, 2, 3),
      m AS (
        SELECT user_id, epoch_us, period_us, ccf,
          CAST(list_position(ccf, list_max(ccf)) - 1 AS BIGINT) AS k
        FROM l),
      d AS (
        SELECT user_id, epoch_us, period_us, k,
          ccf[CAST(((k - 1) % 8 + 8) % 8 AS INT) + 1] AS cm1,
          ccf[CAST(k AS INT) + 1] AS c0v,
          ccf[CAST((k + 1) % 8 AS INT) + 1] AS cp1
        FROM m),
      r AS (
        SELECT user_id, epoch_us, period_us, k,
          k + (CASE WHEN cm1 - 2.0 * c0v + cp1 = 0.0 THEN 0.0
                    ELSE 0.5 * (cm1 - cp1) / (cm1 - 2.0 * c0v + cp1) END)
            AS shift_bins
        FROM d),
      f AS (
        SELECT user_id, k AS k_peak, shift_bins,
          CASE WHEN shift_bins > 4.0 THEN (shift_bins - 8.0) / 8.0
               ELSE shift_bins / 8.0 END AS phase,
          epoch_us, period_us
        FROM r)
      SELECT user_id AS obs_id, k_peak, shift_bins, phase,
        epoch_us + phase * period_us AS toa_us
      FROM f
    """),
  )

  /** B62: weighted multi-parameter timing fit (`operators.TimingFit`) —
    * the reference's tempo2 step (`tempo2_wrapper.sh`): a weighted
    * normal-equations solve `(XᵀWX)β = XᵀWy`, here the 3-parameter
    * quadratic-trend case (intercept, x, x²) per event_type, solved in
    * closed Cramer form so every term mirrors into SQL (the general-p
    * driver-solve path is spec-pinned in TimingFitSpec). Moments are
    * decimal-exact (Num policy); per-row products and the Cramer
    * expansion are fixed-order double chains. Scale shape: one
    * map-side-combined aggregation; the solve is O(groups). */
  private lazy val q128 = Q(
    "q128_timing_fit",
    (s, dir) => {
      import graft.operators.TimingFit
      val e = Tables.events(s, dir, spread = true)
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          // FULLY integer grid (covariate, weight, response): every per-row
          // product w·xᵢ·xⱼ(·y) is an exact integer < 2^53, so the
          // DECIMAL(38,6) cast is lossless in both engines — never near a
          // half-boundary where Spark's shortest-repr rounding and DuckDB's
          // exact-binary rounding disagree (a measured 1e-9-level Cramer
          // divergence with fractional grids; q131's round-9 hash failure).
          // floor(value·100) is the deterministic integer response both
          // engines agree on bitwise (identical IEEE chain; value·100.0
          // often lands an ulp below the true cents integer, so this is
          // a deterministic quantization, NOT exact cents recovery —
          // exactness is not what the gate needs, determinism is).
          pmod(col("event_id"), lit(13L)).cast("double").as("x1"),
          cents(col("value")).as("y"),
          (lit(1.0) + pmod(col("event_id"), lit(10L)).cast("double")).as("w"))
        .withColumn("x2", col("x1") * col("x1"))
      val m = TimingFit.moments(e, Seq("event_type"), col("y"), col("w"),
        Seq(lit(1.0), col("x1"), col("x2")), integerGrid = true)
      TimingFit.solveCramer3(m)
        .select(col("event_type"), col("n"),
          col("beta0"), col("beta1"), col("beta2"))
    },
    Some(s"""
      WITH e AS (
        SELECT event_type,
          CAST(event_id % 13 AS DOUBLE) AS x1,
          ${centsSql("value")} AS y,
          1.0 + CAST(event_id % 10 AS DOUBLE) AS w
        FROM events WHERE value IS NOT NULL),
      e2 AS (SELECT event_type, x1, x1 * x1 AS x2, y, w FROM e),
      mo AS (
        SELECT event_type,
          CAST(SUM(CAST(w * 1.0 * 1.0 AS DECIMAL(38,0))) AS DOUBLE) AS s00,
          CAST(SUM(CAST(w * 1.0 * x1 AS DECIMAL(38,0))) AS DOUBLE) AS s01,
          CAST(SUM(CAST(w * 1.0 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s02,
          CAST(SUM(CAST(w * x1 * x1 AS DECIMAL(38,0))) AS DOUBLE) AS s11,
          CAST(SUM(CAST(w * x1 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s12,
          CAST(SUM(CAST(w * x2 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s22,
          CAST(SUM(CAST(w * 1.0 * y AS DECIMAL(38,0))) AS DOUBLE) AS b0,
          CAST(SUM(CAST(w * x1 * y AS DECIMAL(38,0))) AS DOUBLE) AS b1,
          CAST(SUM(CAST(w * x2 * y AS DECIMAL(38,0))) AS DOUBLE) AS b2,
          COUNT(*) AS n
        FROM e2 GROUP BY 1),
      dd AS (
        SELECT *,
          s00 * (s11 * s22 - s12 * s12) -
          s01 * (s01 * s22 - s12 * s02) +
          s02 * (s01 * s12 - s11 * s02) AS det
        FROM mo)
      SELECT event_type, n,
        CASE WHEN det = 0.0 THEN NULL ELSE (
          b0 * (s11 * s22 - s12 * s12) -
          s01 * (b1 * s22 - s12 * b2) +
          s02 * (b1 * s12 - s11 * b2)) / det END AS beta0,
        CASE WHEN det = 0.0 THEN NULL ELSE (
          s00 * (b1 * s22 - s12 * b2) -
          b0 * (s01 * s22 - s12 * s02) +
          s02 * (s01 * b2 - b1 * s02)) / det END AS beta1,
        CASE WHEN det = 0.0 THEN NULL ELSE (
          s00 * (s11 * b2 - b1 * s12) -
          s01 * (s01 * b2 - b1 * s02) +
          b0 * (s01 * s12 - s11 * s02)) / det END AS beta2
      FROM dd
    """),
  )

  /** B63: fit-residual diagnostics (`TimingFit.diagnostics3`) — the
    * numbers a timing user actually reads off a tempo2 run (reference
    * README §5: the fit's wRMS/χ² decide whether an ephemeris update is
    * accepted): per group, residual χ² = Σw·r², weighted RMS residual,
    * reduced χ². Computed CLOSED-FORM from the same one-pass decimal
    * moment row that produced the betas (χ² = syy − βᵀb — the
    * normal-equation identity), so the whole diagnostic costs ZERO extra
    * passes over the corpus: one map-side-combined aggregation total,
    * O(groups) everything after. The per-row residual path
    * (`TimingFit.residuals3`) is spec-pinned on a planted-coefficient
    * recovery. FULLY integer grid — covariate (q128), weight (integer
    * 1+id%10, not its reciprocal) AND response (floor(value·100) — a
    * deterministic integer quantization, not exact cents recovery; both
    * engines run the identical IEEE chain): every per-row product w·xᵢ·xⱼ(·y)
    * is an integer < 2^53, so the DECIMAL(38,6) cast is lossless in both
    * engines and the χ² = syy − βᵀb cancellation is bitwise
    * reproducible. The round-9 fractional form (w = 1/(1+id%10), raw y)
    * failed the driver hash: the cancellation amplifies the cross-engine
    * per-row decimal-rounding wobble (~1e-9 on betas) past the gate. */
  private lazy val q131 = Q(
    "q131_fit_residuals",
    (s, dir) => {
      import graft.operators.TimingFit
      val e = Tables.events(s, dir, spread = true)
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          pmod(col("event_id"), lit(13L)).cast("double").as("x1"),
          cents(col("value")).as("y"),
          (lit(1.0) + pmod(col("event_id"), lit(10L)).cast("double")).as("w"))
        .withColumn("x2", col("x1") * col("x1"))
      val m = TimingFit.moments(e, Seq("event_type"), col("y"), col("w"),
        Seq(lit(1.0), col("x1"), col("x2")), withY2 = true, integerGrid = true)
      TimingFit.diagnostics3(m)
        .select(col("event_type"), col("n"),
          col("chi2"), col("wrms"), col("chi2_red"))
    },
    Some(s"""
      WITH e AS (
        SELECT event_type,
          CAST(event_id % 13 AS DOUBLE) AS x1,
          ${centsSql("value")} AS y,
          1.0 + CAST(event_id % 10 AS DOUBLE) AS w
        FROM events WHERE value IS NOT NULL),
      e2 AS (SELECT event_type, x1, x1 * x1 AS x2, y, w FROM e),
      mo AS (
        SELECT event_type,
          CAST(SUM(CAST(w * 1.0 * 1.0 AS DECIMAL(38,0))) AS DOUBLE) AS s00,
          CAST(SUM(CAST(w * 1.0 * x1 AS DECIMAL(38,0))) AS DOUBLE) AS s01,
          CAST(SUM(CAST(w * 1.0 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s02,
          CAST(SUM(CAST(w * x1 * x1 AS DECIMAL(38,0))) AS DOUBLE) AS s11,
          CAST(SUM(CAST(w * x1 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s12,
          CAST(SUM(CAST(w * x2 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s22,
          CAST(SUM(CAST(w * 1.0 * y AS DECIMAL(38,0))) AS DOUBLE) AS b0,
          CAST(SUM(CAST(w * x1 * y AS DECIMAL(38,0))) AS DOUBLE) AS b1,
          CAST(SUM(CAST(w * x2 * y AS DECIMAL(38,0))) AS DOUBLE) AS b2,
          CAST(SUM(CAST(w * y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
          COUNT(*) AS n
        FROM e2 GROUP BY 1),
      dd AS (
        SELECT *,
          s00 * (s11 * s22 - s12 * s12) -
          s01 * (s01 * s22 - s12 * s02) +
          s02 * (s01 * s12 - s11 * s02) AS det
        FROM mo),
      bb AS (
        SELECT *,
          CASE WHEN det = 0.0 THEN NULL ELSE (
            b0 * (s11 * s22 - s12 * s12) -
            s01 * (b1 * s22 - s12 * b2) +
            s02 * (b1 * s12 - s11 * b2)) / det END AS beta0,
          CASE WHEN det = 0.0 THEN NULL ELSE (
            s00 * (b1 * s22 - s12 * b2) -
            b0 * (s01 * s22 - s12 * s02) +
            s02 * (s01 * b2 - b1 * s02)) / det END AS beta1,
          CASE WHEN det = 0.0 THEN NULL ELSE (
            s00 * (s11 * b2 - b1 * s12) -
            s01 * (s01 * b2 - b1 * s02) +
            b0 * (s01 * s12 - s11 * s02)) / det END AS beta2
        FROM dd),
      cc AS (
        SELECT *,
          CASE WHEN beta0 IS NULL THEN NULL
               ELSE syy - (beta0 * b0 + beta1 * b1 + beta2 * b2) END AS chi2
        FROM bb)
      SELECT event_type, n, chi2,
        CASE WHEN chi2 IS NULL THEN NULL
             ELSE SQRT(GREATEST(chi2, 0.0) / s00) END AS wrms,
        CASE WHEN chi2 IS NULL OR n <= 3 THEN NULL
             ELSE chi2 / CAST(n - 3 AS DOUBLE) END AS chi2_red
      FROM cc
    """),
  )

  /** B64: the END-TO-END timing chain in one query — what the reference
    * pipeline hands its users across THREE external tools (psrchive
    * profiles → `pat` TOAs → tempo2 fit; README §5), composed here from
    * the operators that replaced them: binned profiles → template CCF
    * TOA estimation (`Toa.estimate`, q127's chain verbatim) → weighted
    * quadratic phase-drift fit per period class with the residual
    * report (`TimingFit.moments(withY2) → diagnostics3`, q131's tail).
    * The observation covariate is the integer second-of-epoch grid
    * (`epoch_us div 1e6 mod 1e5` — exact BIGINT division both engines,
    * the q128 half-boundary discipline); y is the measured sub-bin
    * phase snapped to the 2^-20 grid (micro-phase units — power-of-two
    * scale + floor are both exact on doubles, so the moments are exact
    * integers and the χ²/wRMS tail is bitwise cross-engine by
    * construction). Scale shape: the whole pipeline is TWO aggregations (binned
    * profiles; fit moments) + a 1-row broadcast template — nothing
    * between them touches more than one row per observation. */
  private lazy val q133 = Q(
    "q133_timing_pipeline",
    (s, dir) => {
      import graft.operators.{TimingFit, Toa}
      val nbin = 8
      val e = Tables.events(s, dir, spread = true)
        .select(col("user_id"),
          pmod(col("event_id"), lit(nbin.toLong)).as("bin"),
          col("value"), unix_micros(col("ts")).as("tus"))
      def binSum(j: Int) =
        coalesce(dsum(when(col("bin") === lit(j.toLong), col("value"))), lit(0.0))
          .as(s"c$j")
      val profAggs = (0 until nbin).map(binSum) :+ min(col("tus")).as("epoch_us")
      val prof = e.groupBy("user_id")
        .agg(profAggs.head, profAggs.tail: _*)
        .select(col("user_id"),
          array((0 until nbin).map(j => col(s"c$j")): _*).as("profile"),
          col("epoch_us"))
      val tmplAggs = (0 until nbin).map(binSum)
      val tmpl = e.groupBy()
        .agg(tmplAggs.head, tmplAggs.tail: _*)
        .select(array((0 until nbin).map(j => col(s"c$j")): _*).as("template"))
      val joined = prof.crossJoin(broadcast(tmpl))
        .withColumn("period_us",
          (pmod(col("user_id"), lit(5L)) + lit(1L)).cast("double") * lit(1000000.0))
      val toas = Toa.estimate(joined, col("profile"), col("template"),
          col("epoch_us"), col("period_us"))
        .filter(col("epoch_us").isNotNull)
        .withColumn("x1",
          (expr("epoch_us div 1000000") % lit(100000L)).cast("double"))
        .withColumn("x2", col("x1") * col("x1"))
        // integer-grid response (q128 discipline, applied to the fit's y
        // as well): phase·2^20 is an EXACT double product (power-of-two
        // scale), floor is exact, so y is an integer-valued double both
        // engines agree on bitwise and every moment product w·xᵢ·y /
        // w·y² is an exact integer — the χ² tail matches by
        // construction, not by margin
        .withColumn("y", floor(col("phase") * lit(1048576.0)).cast("double"))
      val m = TimingFit.moments(toas, Seq("period_us"), col("y"), lit(1.0),
        Seq(lit(1.0), col("x1"), col("x2")), withY2 = true, integerGrid = true)
      TimingFit.diagnostics3(m)
        .select(col("period_us"), col("n"),
          col("beta0"), col("beta1"), col("beta2"), col("chi2"), col("wrms"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id % 8 AS bin, value,
          epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        FROM events),
      p AS (
        SELECT user_id,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 0 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c0,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 1 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c1,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 2 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c2,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 3 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c3,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 4 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c4,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 5 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c5,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 6 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c6,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 7 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS c7,
          MIN(tus) AS epoch_us
        FROM e GROUP BY 1),
      tt AS (
        SELECT
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 0 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t0,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 1 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t1,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 2 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t2,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 3 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t3,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 4 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t4,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 5 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t5,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 6 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t6,
          COALESCE(CAST(SUM(CAST(CASE WHEN bin = 7 THEN value END AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS t7
        FROM e),
      pr AS (
        SELECT user_id, [c0, c1, c2, c3, c4, c5, c6, c7] AS p, epoch_us,
          CAST((user_id % 5) + 1 AS DOUBLE) * 1000000.0 AS period_us
        FROM p),
      tl AS (SELECT [t0, t1, t2, t3, t4, t5, t6, t7] AS t FROM tt),
      ccq AS (
        SELECT user_id, epoch_us, period_us, k,
          0.0 + p[(0+k)%8+1]*t[1] + p[(1+k)%8+1]*t[2] + p[(2+k)%8+1]*t[3]
              + p[(3+k)%8+1]*t[4] + p[(4+k)%8+1]*t[5] + p[(5+k)%8+1]*t[6]
              + p[(6+k)%8+1]*t[7] + p[(7+k)%8+1]*t[8] AS ccf
        FROM pr, tl, LATERAL unnest(generate_series(0, 7)) lk(k)),
      l AS (
        SELECT user_id, epoch_us, period_us, list(ccf ORDER BY k) AS ccf
        FROM ccq GROUP BY 1, 2, 3),
      mx AS (
        SELECT user_id, epoch_us, period_us, ccf,
          CAST(list_position(ccf, list_max(ccf)) - 1 AS BIGINT) AS k
        FROM l),
      d AS (
        SELECT user_id, epoch_us, period_us, k,
          ccf[CAST(((k - 1) % 8 + 8) % 8 AS INT) + 1] AS cm1,
          ccf[CAST(k AS INT) + 1] AS c0v,
          ccf[CAST((k + 1) % 8 AS INT) + 1] AS cp1
        FROM mx),
      r AS (
        SELECT user_id, epoch_us, period_us, k,
          k + (CASE WHEN cm1 - 2.0 * c0v + cp1 = 0.0 THEN 0.0
                    ELSE 0.5 * (cm1 - cp1) / (cm1 - 2.0 * c0v + cp1) END)
            AS shift_bins
        FROM d),
      f AS (
        SELECT user_id, epoch_us, period_us,
          CASE WHEN shift_bins > 4.0 THEN (shift_bins - 8.0) / 8.0
               ELSE shift_bins / 8.0 END AS phase
        FROM r),
      obs AS (
        SELECT period_us, CAST(FLOOR(phase * 1048576) AS DOUBLE) AS y,
          CAST((epoch_us // 1000000) % 100000 AS DOUBLE) AS x1,
          1.0 AS w
        FROM f WHERE epoch_us IS NOT NULL),
      o2 AS (SELECT period_us, y, x1, x1 * x1 AS x2, w FROM obs),
      mo AS (
        SELECT period_us,
          CAST(SUM(CAST(w * 1.0 * 1.0 AS DECIMAL(38,0))) AS DOUBLE) AS s00,
          CAST(SUM(CAST(w * 1.0 * x1 AS DECIMAL(38,0))) AS DOUBLE) AS s01,
          CAST(SUM(CAST(w * 1.0 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s02,
          CAST(SUM(CAST(w * x1 * x1 AS DECIMAL(38,0))) AS DOUBLE) AS s11,
          CAST(SUM(CAST(w * x1 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s12,
          CAST(SUM(CAST(w * x2 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s22,
          CAST(SUM(CAST(w * 1.0 * y AS DECIMAL(38,0))) AS DOUBLE) AS b0,
          CAST(SUM(CAST(w * x1 * y AS DECIMAL(38,0))) AS DOUBLE) AS b1,
          CAST(SUM(CAST(w * x2 * y AS DECIMAL(38,0))) AS DOUBLE) AS b2,
          CAST(SUM(CAST(w * y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
          COUNT(*) AS n
        FROM o2 GROUP BY 1),
      dd AS (
        SELECT *,
          s00 * (s11 * s22 - s12 * s12) -
          s01 * (s01 * s22 - s12 * s02) +
          s02 * (s01 * s12 - s11 * s02) AS det
        FROM mo),
      bb AS (
        SELECT *,
          CASE WHEN det = 0.0 THEN NULL ELSE (
            b0 * (s11 * s22 - s12 * s12) -
            s01 * (b1 * s22 - s12 * b2) +
            s02 * (b1 * s12 - s11 * b2)) / det END AS beta0,
          CASE WHEN det = 0.0 THEN NULL ELSE (
            s00 * (b1 * s22 - s12 * b2) -
            b0 * (s01 * s22 - s12 * s02) +
            s02 * (s01 * b2 - b1 * s02)) / det END AS beta1,
          CASE WHEN det = 0.0 THEN NULL ELSE (
            s00 * (s11 * b2 - b1 * s12) -
            s01 * (s01 * b2 - b1 * s02) +
            b0 * (s01 * s12 - s11 * s02)) / det END AS beta2
        FROM dd),
      cc AS (
        SELECT *,
          CASE WHEN beta0 IS NULL THEN NULL
               ELSE syy - (beta0 * b0 + beta1 * b1 + beta2 * b2) END AS chi2
        FROM bb)
      SELECT period_us, n, beta0, beta1, beta2, chi2,
        CASE WHEN chi2 IS NULL THEN NULL
             ELSE SQRT(GREATEST(chi2, 0.0) / s00) END AS wrms
      FROM cc
    """),
  )
}
