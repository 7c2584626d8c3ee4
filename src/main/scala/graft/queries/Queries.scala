package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Num._
import graft.sources.Tables

/** One catalog entry: the Spark implementation and (when SQL-expressible)
  * the equivalent DuckDB oracle SQL. Column names/aliases must match the
  * oracle exactly — the driver sorts columns by name before hashing.
  */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
)

/** The oracle-checked query catalog — the executable form of SURVEY.md §2.
  *
  * Each query exercises one engine operator against the driver's test
  * tables. Scale notes live on the operators themselves (graft.operators).
  */
object Queries {

  // ---------------------------------------------------------------------
  // §2.A — relational core (PSRDB query-layer analog)
  // ---------------------------------------------------------------------

  /** A1: multi-aggregate scan+groupBy (decimation stats rollup analog).
    * TPC-H Q1 shape: one full pass, map-side partial aggregation, tiny
    * result. Decimal-exact sums per Num policy. */
  private val q01 = Q(
    "q01_profile_stats",
    (s, dir) => {
      // the five decimal partial sums dominate; a single-split local
      // scan would run them serially (no-op on a pre-split cluster scan)
      Tables.lineitem(s, dir, spread = true)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"),
        )
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY 1, 2
    """),
  )

  /** A2: timestamp-range filter with pushdown (UTC-range launcher query). */
  private val q02 = Q(
    "q02_utc_range",
    (s, dir) => {
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1
    """),
  )

  /** A3: 3-way join + agg (obs ⋈ processings ⋈ TOAs analog; TPC-H Q3 shape).
    * customer filter prunes early; lineitem join shuffles on orderkey. */
  private val q03 = Q(
    "q03_obs_join",
    (s, dir) => {
      val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    },
    Some("""
      SELECT o_orderkey, o_orderdate,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1997-01-01'
        AND l_shipdate > TIMESTAMP '1997-01-01'
      GROUP BY 1, 2
    """),
  )

  /** A4: broadcast dimension chain (region ⋈ nation ⋈ customer). Both dims
    * are broadcast — zero shuffles on the dim side at any scale. */
  private val q04 = Q(
    "q04_dim_rollup",
    (s, dir) => {
      val dims = broadcast(
        Tables.nation(s, dir).join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey")))
      Tables.customer(s, dir)
        .join(dims, col("c_nationkey") === col("n_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
    },
    Some("""
      SELECT r_name, n_name, COUNT(*) AS n_cust,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      FROM region JOIN nation ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    """),
  )

  /** A5: left-semi join (EXISTS membership, launches-table analog). */
  private val q05 = Q(
    "q05_semi_join",
    (s, dir) => {
      val big = Tables.orders(s, dir).filter(col("o_totalprice") > 150000.0)
        .select("o_custkey")
      Tables.customer(s, dir)
        .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"))
    },
    Some("""
      SELECT c_mktsegment, COUNT(*) AS n_cust
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)
      GROUP BY 1
    """),
  )

  /** A6: left-anti join (NOT EXISTS; unprocessed-observations analog). */
  private val q06 = Q(
    "q06_anti_join",
    (s, dir) => {
      val urgent = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      Tables.customer(s, dir)
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"))
    },
    Some("""
      SELECT c_mktsegment, COUNT(*) AS n_cust
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      GROUP BY 1
    """),
  )

  /** A7: top-k per group (best-TOA-per-pulsar analog) via the custom
    * TopKPerKey physical operator (graft.plans) — bounded per-key heaps
    * with a map-side partial phase instead of a full window sort. The
    * DuckDB oracle (window row_number formulation) validates the custom
    * plan end-to-end. Tie-broken by key so the result is deterministic. */
  private val q07 = Q(
    "q07_topk_per_group",
    (s, dir) =>
      graft.plans.TopK.perKey(
        Tables.part(s, dir).select("p_brand", "p_partkey", "p_retailprice"),
        keys = Seq("p_brand"),
        order = Seq(graft.plans.TopK.desc("p_retailprice"), graft.plans.TopK.asc("p_partkey")),
        k = 3),
    Some("""
      SELECT p_brand, p_partkey, p_retailprice FROM (
        SELECT p_brand, p_partkey, p_retailprice,
          ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part) t
      WHERE rn <= 3
    """),
  )

  /** A8: distinct-count per group (distinct pulsars per project analog). */
  private val q08 = Q(
    "q08_distinct_agg",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events")),
    Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      FROM events GROUP BY 1
    """),
  )

  /** A9: ROLLUP grouping-sets (jobstate status rollups analog). */
  private val q09 = Q(
    "q09_rollup_status",
    (s, dir) =>
      Tables.orders(s, dir)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price")),
    Some("""
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """),
  )

  /** A10: union + distinct (multi-project obs-list merge analog). */
  private val q10 = Q(
    "q10_union_dedup",
    (s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_nationkey").as("nk")).withColumn("kind", lit("cust"))
      val p = Tables.supplier(s, dir).select(col("s_nationkey").as("nk")).withColumn("kind", lit("supp"))
      c.union(p).distinct()
        .join(broadcast(Tables.nation(s, dir)), col("nk") === col("n_nationkey"))
        .select("n_name", "kind")
    },
    Some("""
      SELECT n_name, kind FROM (
        SELECT DISTINCT nk, kind FROM (
          SELECT c_nationkey AS nk, 'cust' AS kind FROM customer
          UNION ALL
          SELECT s_nationkey AS nk, 'supp' AS kind FROM supplier) u
      ) d JOIN nation ON nk = n_nationkey
    """),
  )

  /** A11: scalar-subquery pattern — rows above their group's (exact) mean;
    * expressed as aggregate + join so Catalyst plans one shuffle + one
    * broadcast instead of a correlated subquery per row. */
  private val q41 = Q(
    "q41_above_avg",
    (s, dir) => {
      val p = Tables.part(s, dir).select("p_brand", "p_retailprice")
      val avgs = p.groupBy("p_brand").agg(davg(col("p_retailprice")).as("brand_avg"))
      p.join(broadcast(avgs), Seq("p_brand"))
        .filter(col("p_retailprice") > col("brand_avg"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_above"), dsum(col("p_retailprice")).as("sum_above"))
    },
    Some("""
      WITH a AS (
        SELECT p_brand,
          CAST(SUM(CAST(p_retailprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(p_retailprice) AS brand_avg
        FROM part GROUP BY 1)
      SELECT p.p_brand, COUNT(*) AS n_above,
        CAST(SUM(CAST(p.p_retailprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_above
      FROM part p JOIN a ON p.p_brand = a.p_brand
      WHERE p.p_retailprice > a.brand_avg
      GROUP BY 1
    """),
  )

  /** A12: exact-element quartiles per group (no interpolation → engine-
    * portable; lower-element rule as in q19's median). */
  private val q42 = Q(
    "q42_quantiles",
    (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
      val cw = Window.partitionBy("event_type")
      // quantiles over NON-NULL values only: ranking nulls (Spark sorts
      // them FIRST ascending, DuckDB LAST) while counting them in n would
      // both break cross-engine parity and shift every rank off its true
      // order statistic; n reports the measured (non-null) count
      Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(cw))
        .groupBy("event_type")
        .agg(
          max(when(col("rn") === ceil(col("cnt") * 0.25), col("value"))).as("p25"),
          max(when(col("rn") === ceil(col("cnt") * 0.5), col("value"))).as("p50"),
          max(when(col("rn") === ceil(col("cnt") * 0.75), col("value"))).as("p75"),
          count(lit(1)).as("n"),
        )
    },
    Some("""
      WITH r AS (
        SELECT event_type, value,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM events WHERE value IS NOT NULL)
      SELECT event_type,
        MAX(CASE WHEN rn = CEIL(cnt * 0.25) THEN value END) AS p25,
        MAX(CASE WHEN rn = CEIL(cnt * 0.5) THEN value END) AS p50,
        MAX(CASE WHEN rn = CEIL(cnt * 0.75) THEN value END) AS p75,
        COUNT(*) AS n
      FROM r GROUP BY 1
    """),
  )

  /** A13: one-scan numeric column profiling (`operators.Profile`) — row/
    * present/exact-distinct counts + min/max per column, the QA intake
    * pass (PSRDB metadata summaries). Spark computes ALL columns in one
    * scan (multi-distinct Expand + stack unpivot); the oracle takes the
    * per-column UNION ALL form. */
  private val q58 = Q(
    "q58_profile_columns",
    (s, dir) =>
      graft.operators.Profile.numeric(
        Tables.lineitem(s, dir, spread = true),
        Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")),
    Some("""
      SELECT 'l_orderkey' AS col_name, COUNT(*) AS n_rows, COUNT(l_orderkey) AS n_present,
        COUNT(DISTINCT l_orderkey) AS n_distinct,
        CAST(MIN(l_orderkey) AS DOUBLE) AS min_val, CAST(MAX(l_orderkey) AS DOUBLE) AS max_val
      FROM lineitem
      UNION ALL
      SELECT 'l_quantity', COUNT(*), COUNT(l_quantity), COUNT(DISTINCT l_quantity),
        CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE)
      FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', COUNT(*), COUNT(l_extendedprice), COUNT(DISTINCT l_extendedprice),
        CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE)
      FROM lineitem
      UNION ALL
      SELECT 'l_discount', COUNT(*), COUNT(l_discount), COUNT(DISTINCT l_discount),
        CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE)
      FROM lineitem
    """),
  )

  /** A14: exact Pearson correlation per group from decimal moments —
    * corr(l_quantity, l_extendedprice) computed from exact decimal sums
    * (n, Σx, Σy, Σxy, Σx², Σy²) with the closed-form formula written
    * identically in both engines, so even the double result
    * hash-matches. One map-side-combining aggregate; the built-in
    * `corr()` is the approximate-at-scale drop-in. Integer grid (the
    * q128/q131 discipline): quantity is integer-valued, price is taken
    * in floor cents — Pearson correlation is scale-invariant, so the
    * statistic is unchanged while every per-row moment product becomes
    * an exact integer < 2^53 with a lossless DECIMAL(38,6) cast (the
    * raw-dollars y² cast had ulp ≈ 2e-6 > the 5e-7 half-boundary
    * distance — cross-engine rounding could legitimately disagree). */
  private val q62 = {
    val x = col("l_quantity")
    val y = cents(col("l_extendedprice"))
    Q(
      "q62_correlation",
      (s, dir) =>
        // six decimal moment sums fused into the scan — spread the scan
        Tables.lineitem(s, dir, spread = true)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            dsumInt(x).as("sx"), dsumInt(y).as("sy"), dsumInt(x * y).as("sxy"),
            dsumInt(x * x).as("sxx"), dsumInt(y * y).as("syy"),
          )
          .select(col("l_returnflag"), col("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                (col("n") * col("syy") - col("sy") * col("sy"))))
              .as("corr_qty_price")),
      Some(s"""
        WITH e AS (
          SELECT l_returnflag, l_quantity AS x,
            ${centsSql("l_extendedprice")} AS y
          FROM lineitem),
        m AS (
          SELECT l_returnflag, COUNT(*) AS n,
            CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
            CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
            CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
            CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
            CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
          FROM e GROUP BY 1)
        SELECT l_returnflag, n,
          (n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))
            AS corr_qty_price
        FROM m
      """),
    )
  }

  /** A15: exact heavy-hitter / skew report (`SkewJoin.heavyHitters`) —
    * the top-k most frequent keys with row share, the diagnosis run
    * before picking a salting or bucketing strategy. Count aggregate +
    * bounded-heap global top-k (TakeOrderedAndProject). */
  private val q64 = Q(
    "q64_heavy_hitters",
    (s, dir) =>
      graft.operators.SkewJoin.heavyHitters(
        Tables.lineitem(s, dir).select("l_suppkey"), Seq("l_suppkey"), k = 10),
    Some("""
      WITH c AS (SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY 1),
      t AS (SELECT COUNT(*) AS total FROM lineitem)
      SELECT l_suppkey, n, CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share
      FROM c, t ORDER BY n DESC, l_suppkey LIMIT 10
    """),
  )

  /** A16: CDC latest-state snapshot — one row per (user, event_type), the
    * change with the greatest (ts, event_id). `Upsert.latest` rides the
    * TopKPerKey k=1 bounded heap: at most one row per key per partition
    * crosses the shuffle, so compacting a 100 TB change log to its key
    * space never sorts a partition. The oracle is the row_number window
    * formulation of the same total order. */
  private val q67 = Q(
    "q67_latest_snapshot",
    (s, dir) =>
      graft.operators.Upsert.latest(
        Tables.events(s, dir).select("user_id", "event_type", "ts", "event_id", "value"),
        keyCols = Seq("user_id", "event_type"),
        versionCols = Seq("ts", "event_id")),
    Some("""
      SELECT user_id, event_type, ts, event_id, value FROM (
        SELECT user_id, event_type, ts, event_id, value,
          ROW_NUMBER() OVER (PARTITION BY user_id, event_type
            ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t
      WHERE rn = 1
    """),
  )

  /** A17: SCD-2 validity intervals from a change stream — each "signup"
    * event becomes a [valid_from, valid_to) version row for its user,
    * half-open so an as-of lookup at time t matches exactly one version.
    * One per-key lead window (O(n log n) per key, no self-join); ties on
    * ts are ordered by event_id so same-instant updates get deterministic
    * zero-width intervals. */
  private val q68 = Q(
    "q68_scd2_intervals",
    (s, dir) =>
      graft.operators.Upsert.scd2(
        Tables.events(s, dir)
          .filter(col("event_type") === "signup")
          .select("user_id", "event_id", "ts", "value"),
        keyCols = Seq("user_id"), tsCol = "ts", tieCol = "event_id")
        .select(col("user_id"), col("event_id"), col("valid_from"),
          col("valid_to"), col("is_current").cast("long").as("is_current"),
          col("value")),
    Some("""
      SELECT user_id, event_id, ts AS valid_from,
        LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        CAST(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          AS BIGINT) AS is_current,
        value
      FROM events WHERE event_type = 'signup'
    """),
  )

  /** A20: top-k per group WITH TIES — rank() keeps every row tied at the
    * boundary (row_number's arbitrary tie-cut loses documents that score
    * identically). The custom TopKPerKey rewrite is row_number-only by
    * design; this form rides Spark's built-in InferWindowGroupLimit
    * (map-side group-limit pruning before the shuffle), so both pruning
    * mechanisms stay covered. */
  private lazy val q79 = Q(
    "q79_topk_ties",
    (s, dir) => {
      val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc)
      Tables.part(s, dir)
        .select("p_brand", "p_partkey", "p_retailprice")
        .withColumn("rnk", rank().over(w))
        .filter(col("rnk") <= 2)
    },
    Some("""
      SELECT p_brand, p_partkey, p_retailprice, rnk FROM (
        SELECT p_brand, p_partkey, p_retailprice,
          RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rnk
        FROM part) t
      WHERE rnk <= 2
    """),
  )

  /** A21: equi-depth quartile bucketing via ntile — "which price tier is
    * this order in, within its priority class" (the window-function
    * family q42's exact-rank quartiles and q61's fixed-width histogram
    * don't cover: equal-COUNT buckets). Deterministic: the window order
    * includes the unique key so tied prices bucket identically in any
    * engine. */
  private lazy val q81 = Q(
    "q81_ntile_buckets",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("bucket", ntile(4).over(w))
        .groupBy("o_orderpriority", "bucket")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
    },
    Some("""
      WITH b AS (
        SELECT o_orderpriority, o_totalprice,
          NTILE(4) OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice, o_orderkey) AS bucket
        FROM orders)
      SELECT o_orderpriority, bucket, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
      FROM b GROUP BY 1, 2
    """),
  )

  /** A18: MERGE INTO materialization (`Upsert.applyChangeLog`) — a prior
    * snapshot (first half of the month, no change-op) merged with a
    * change log (second half; 'error' events are tombstone deletes,
    * everything else an upsert). The greatest (ts, event_id) per user
    * wins; a winning delete drops the key unless a later change revives
    * it. Same TopKPerKey k=1 bounded-heap shape as q67 — compacting a
    * day's log against a 100 TB snapshot never sorts a partition. The
    * oracle is the row_number formulation with the same null-safe
    * winner-op delete filter. */
  private lazy val q85 = Q(
    "q85_apply_changelog",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select("user_id", "ts", "event_id", "value", "event_type")
      val snapshot = ev.filter(dayofmonth(col("ts")) <= 14)
        .withColumn("op", lit(null).cast("string")).drop("event_type")
      val changes = ev.filter(dayofmonth(col("ts")) >= 15)
        .withColumn("op",
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
        .drop("event_type")
      graft.operators.Upsert.applyChangeLog(
        snapshot, changes,
        keyCols = Seq("user_id"), versionCols = Seq("ts", "event_id"),
        opCol = "op")
    },
    Some("""
      WITH a AS (
        SELECT user_id, ts, event_id, value,
          CASE WHEN EXTRACT(DAY FROM ts) >= 15
               THEN (CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END)
               ELSE NULL END AS op
        FROM events),
      w AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY ts DESC, event_id DESC) AS rn
        FROM a)
      SELECT user_id, ts, event_id, value, op
      FROM w WHERE rn = 1 AND (op IS NULL OR op <> 'D')
    """),
  )

  /** B22→oracle: bilinear 2D grid interpolation (`GridLookup.bilinear`) —
    * continuous coordinates blend the four surrounding grid cells with
    * (1-d)(1-d) weights, missing corners contributing the default. The
    * grid is a broadcast dim (≤ n² cells); the fact scan stays one pass
    * with four broadcast joins, no explode/shuffle. Coordinates and the
    * grid both derive deterministically from events so the DuckDB oracle
    * mirrors cell-for-cell; the addition order of the four corner terms
    * matches the operator's left-assoc reduce for bit-identical doubles. */
  private lazy val q86 = Q(
    "q86_grid_bilinear",
    (s, dir) => {
      import graft.operators.GridLookup
      val ev = Tables.events(s, dir)
      val grid = ev
        .groupBy(pmod(col("event_id"), lit(8L)).cast("int").as("pix1"),
                 pmod(floor(col("event_id") / lit(8L)), lit(8L)).cast("int").as("pix2"))
        .agg(davg(col("value")).as("gv"))
      val facts = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          (pmod(col("event_id"), lit(64L)) / lit(10.0) + lit(0.05)).as("x"),
          (pmod(col("event_id"), lit(49L)) / lit(10.0) + lit(0.03)).as("y"))
      val ax = GridLookup.Axis(crval = 0.0, crpix = 0.0, cdelt = 1.0, n = 8)
      GridLookup.bilinear(facts, grid, col("x"), col("y"), ax, ax,
          gridValueCol = "gv", default = 0.0)
        .select("event_id", "user_id", "x", "y", "looked_up_bilinear")
    },
    Some("""
      WITH g AS (
        SELECT CAST(event_id % 8 AS INT) AS pix1,
               CAST((event_id // 8) % 8 AS INT) AS pix2,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                    / COUNT(value) AS DOUBLE) AS gv
        FROM events GROUP BY 1, 2),
      f AS (
        SELECT event_id, user_id,
          (event_id % 64) / 10.0 + 0.05 AS x,
          (event_id % 49) / 10.0 + 0.03 AS y
        FROM events WHERE event_type = 'click'),
      b AS (
        SELECT event_id, user_id, x, y,
          CAST(FLOOR(x) AS INT) AS i1, CAST(FLOOR(y) AS INT) AS i2,
          x - CAST(FLOOR(x) AS INT) AS d1, y - CAST(FLOOR(y) AS INT) AS d2
        FROM f)
      SELECT b.event_id, b.user_id, b.x, b.y,
        (1.0 - d1) * (1.0 - d2) * COALESCE(g00.gv, 0.0)
          + (1.0 - d1) * d2 * COALESCE(g01.gv, 0.0)
          + d1 * (1.0 - d2) * COALESCE(g10.gv, 0.0)
          + d1 * d2 * COALESCE(g11.gv, 0.0) AS looked_up_bilinear
      FROM b
      LEFT JOIN g g00 ON g00.pix1 = b.i1     AND g00.pix2 = b.i2
      LEFT JOIN g g01 ON g01.pix1 = b.i1     AND g01.pix2 = b.i2 + 1
      LEFT JOIN g g10 ON g10.pix1 = b.i1 + 1 AND g10.pix2 = b.i2
      LEFT JOIN g g11 ON g11.pix1 = b.i1 + 1 AND g11.pix2 = b.i2 + 1
    """),
  )

  /** A22: exact WEIGHTED quantiles (`Profile.weightedQuantiles`) — the
    * weighted twin of q42 for weight-carrying populations: per group,
    * the weighted median / p90 / p99 as the smallest value whose
    * cumulative weight reaches p/q of the group total. Quantiles are
    * RATIONALS and weights integers, so the pick test q·W_cum ≥ p·W_tot
    * is exact integer arithmetic — no float threshold to straddle
    * cross-engine. Same two-exchange shape as q42 (one in-group sort
    * window + one aggregation); every quantile rides the same pass. */
  private val q137 = Q(
    "q137_weighted_quantiles",
    (s, dir) => {
      import graft.operators.Profile
      val e = Tables.events(s, dir, spread = true)
        .withColumn("w", lit(1L) + pmod(col("event_id"), lit(10L)))
      Profile.weightedQuantiles(e, Seq("event_type"), "value", "w",
          quantiles = Seq((1, 2), (9, 10), (99, 100)), tieCols = Seq("event_id"))
        .select(col("event_type"), col("wq_1_2"), col("wq_9_10"),
          col("wq_99_100"), col("n"), col("w_total"))
    },
    Some("""
      WITH r AS (
        SELECT event_type, value,
          SUM(1 + event_id % 10) OVER (
            PARTITION BY event_type ORDER BY value, event_id) AS cw,
          SUM(1 + event_id % 10) OVER (PARTITION BY event_type) AS tw
        FROM events WHERE value IS NOT NULL)
      SELECT event_type,
        MIN(CASE WHEN cw * 2 >= tw * 1 THEN value END) AS wq_1_2,
        MIN(CASE WHEN cw * 10 >= tw * 9 THEN value END) AS wq_9_10,
        MIN(CASE WHEN cw * 100 >= tw * 99 THEN value END) AS wq_99_100,
        COUNT(*) AS n,
        CAST(MAX(tw) AS BIGINT) AS w_total
      FROM r GROUP BY 1
    """),
  )

  val relational: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q41, q42, q58, q62, q64, q67, q68, q79, q81, q85, q86, q137)

  /** Full catalog (extended by later sections). */
  def all: Seq[Q] = relational ++ SignalQueries.all ++ TextQueries.all ++ VectorQueries.all

  def queryMap: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** Production-path twins of decimal-exact catalog queries, on plain
    * double aggregates (Num.f*). NOT oracle-checked — float sums are
    * order-dependent, which is exactly the property the d* versions buy
    * back for the gate — but benched (Bench "fast_queries") to quantify
    * the decimal-exactness tax: same scan/shuffle/plan shape, ~an order
    * of magnitude cheaper aggregate arithmetic. Engine users who accept
    * IEEE float aggregation should write this form. */
  def fastVariants: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_profile_stats_fast" -> ((s, dir) => {
      Tables.lineitem(s, dir, spread = true)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          fsum(col("l_quantity")).as("sum_qty"),
          fsum(col("l_extendedprice")).as("sum_base_price"),
          fsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          favg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"),
        )
    }),
    // correlation on plain double moments (order-dependent, so not
    // oracle-checked) — the engine path when IEEE-sum drift is accepted
    "q62_correlation_fast" -> ((s, dir) => {
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      Tables.lineitem(s, dir, spread = true)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
          sum(x * x).as("sxx"), sum(y * y).as("syy"),
        )
        .select(col("l_returnflag"), col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))))
            .as("corr_qty_price"))
    }),
    // the documented 100 TB profiler form: HLL sketches instead of the
    // exact multi-distinct Expand — same single scan, mergeable partials
    "q58_profile_columns_fast" -> ((s, dir) =>
      graft.operators.Profile.numeric(
        Tables.lineitem(s, dir, spread = true),
        Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount"),
        approx = true)),
    // the production substring-dedup path: 8-byte xxhash64 gram keys at
    // the shuffle instead of k-word strings (~6× narrower; FP odds
    // ~n²/2⁶⁵ — see SubstringDedup)
    "q66_dup_spans_fast" -> ((s, dir) =>
      graft.operators.SubstringDedup.spanStats(
        Tables.documents(s, dir, spread = true),
        "text", "doc_id", k = 8, hashKeys = true)),
    "q40_embedding_stats_fast" -> ((s, dir) => {
      import graft.functions.VectorFns
      // 8 MB floor, not the embeddings loader's 2 MB: one cheap dot per
      // row does not pay for the exchange. At sf1 (5.9 MB, 4 cores) the
      // 2 MB spread measured 0.36 -> 0.59 s (median of 4 interleaved
      // pairs, per-pair ratios 1.05-2.14; q05/q06/q08 band 0.89-1.35).
      Tables.parallelized(Tables.embeddings(s, dir), "vec_id", Tables.PlainMinBytes)
        .withColumn("nrm", sqrt(VectorFns.dot(col("embedding"), col("embedding"))))
        .withColumn("c1", element_at(col("embedding"), 1).cast("double"))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n"),
          favg(col("nrm")).as("avg_norm"),
          favg(col("c1")).as("avg_first_comp"),
        )
    }),
  )

  def oracleMap: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o.trim.stripMargin)).toMap
}
