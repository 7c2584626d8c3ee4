package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.expressions.CrossCorrelate

/** Template-matching time-of-arrival estimation — the reference's §5
  * "times-of-arrival … computed using PSRCHIVE" step (README
  * Functionalities §5; the `pat` run every timing user performs on the
  * decimated products of `Downsample.products`). meerpipe shells this
  * out; here it is the one step between the decimation products (q115)
  * and TOA selection (`ToaSelect`, q117) expressed natively.
  *
  * Method (the standard `pat` shape, in bin space):
  *   1. circular cross-correlation of the observed profile against the
  *      template over every integer lag,
  *   2. first-argmax peak pick,
  *   3. three-point parabolic refinement around the peak (the discrete
  *      analog of the Fourier phase-gradient fit — exact for a locally
  *      quadratic CCF peak, sub-bin accurate otherwise),
  *   4. TOA = subint epoch + phase · period, with the phase centered in
  *      (-0.5, 0.5] so a template arriving slightly EARLY yields a small
  *      negative offset rather than ~one full turn.
  *
  * Scale shape: everything is per-row Column math over nbin-bounded
  * arrays (nbin is 10²–10³ in practice) — the O(nbin²) lag scan rides
  * the ROW count, not corpus bytes, and fuses into the scan projection;
  * the template side is a broadcast (one profile per source). No
  * shuffle beyond whatever built the binned profiles. The lag scan is
  * the native `CrossCorrelate` expression: one codegen'd primitive
  * double loop per row, no per-element lambda dispatch.
  *
  * Determinism: each lag is a left fold from 0.0 that adds the products
  * strictly in bin order (`acc = acc + p·t`, j ascending, in both the
  * codegen'd and interpreted paths); products/sums are per-row IEEE
  * doubles — bit-identical across engines and partitionings, which is
  * what lets q127 carry a full DuckDB oracle where the reference needs
  * an external fit tool.
  */
object Toa {

  /** Circular cross-correlation over all integer lags:
    * `ccf[k] = Σ_j profile[(j+k) mod n] · template[j]`, j ascending —
    * a left fold from 0.0 so the oracle's explicit `0.0 + t0 + t1 + …`
    * chain reproduces it bitwise. Null/NaN/length edges are those of
    * [[graft.expressions.CrossCorrelate]]. */
  def crossCorrelate(profile: Column, template: Column): Column =
    Bridge.column(CrossCorrelate(Bridge.expression(profile), Bridge.expression(template)))

  /** 0-based first-argmax lag of a CCF array (ties → smallest lag, the
    * order both engines' position-of-max primitives return). */
  def peakLag(ccf: Column): Column =
    array_position(ccf, array_max(ccf)) - lit(1L)

  /** Three-point parabolic sub-bin refinement around 0-based peak `k`:
    * `δ = 0.5·(c[k-1] − c[k+1]) / (c[k-1] − 2·c[k] + c[k+1])` with
    * circular neighbors; a degenerate (flat) vertex yields δ = 0. δ is
    * in [-0.5, 0.5] whenever k is a true discrete argmax. */
  def parabolicDelta(ccf: Column, k: Column): Column = {
    val n = size(ccf)
    val cm1 = element_at(ccf, (pmod(k - lit(1L), n) + lit(1)).cast("int"))
    val c0 = element_at(ccf, (k + lit(1L)).cast("int"))
    val cp1 = element_at(ccf, (pmod(k + lit(1L), n) + lit(1)).cast("int"))
    val denom = cm1 - lit(2.0) * c0 + cp1
    when(denom === lit(0.0), lit(0.0))
      .otherwise(lit(0.5) * (cm1 - cp1) / denom)
  }

  /** Full estimate: appends `k_peak` (long), `shift_bins` (double,
    * peak + δ), `phase` (centered turns in (-0.5, 0.5]) and `toa_us`
    * (epoch + phase·period, double µs) to `df`.
    *
    * `profile`/`template` must be equal-length non-empty double arrays;
    * `epochUs` is the subintegration epoch in µs, `periodUs` the spin
    * period in µs.
    */
  def estimate(df: DataFrame, profile: Column, template: Column,
               epochUs: Column, periodUs: Column): DataFrame = {
    val n = size(template)
    val withCcf = df.withColumn("graft_ccf", crossCorrelate(profile, template))
    val withPeak = withCcf
      .withColumn("k_peak", peakLag(col("graft_ccf")))
      .withColumn("shift_bins",
        col("k_peak") + parabolicDelta(col("graft_ccf"), col("k_peak")))
    withPeak
      .withColumn("phase",
        when(col("shift_bins") > n.cast("double") / lit(2.0),
          (col("shift_bins") - n.cast("double")) / n.cast("double"))
          .otherwise(col("shift_bins") / n.cast("double")))
      .withColumn("toa_us", epochUs + col("phase") * periodUs)
      .drop("graft_ccf")
  }
}
