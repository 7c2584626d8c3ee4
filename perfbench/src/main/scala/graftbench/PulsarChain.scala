package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Orbital
import graft.operators.{DelayCorrection, Downsample, FluxCal, GridLookup, Results, TimingFit, Toa, ToaSelect}
import graft.sources.{Catalogs, FitsFile}

/** The per-observation pulsar-timing chain over one PSRFITS archive per
  * observation: graft-fits cards + SUBINT decode → delay correction →
  * flux calibration → decimation products → TOAs → .select gate →
  * orbital phase of binary-pulsar TOAs → timing fit → results. */
final class PulsarChain(val dataDir: String) extends Workload {
  val name = "pulsar_chain"

  private def cfg(k: String) = truth.get("config").get(k)
  private lazy val nbin = cfg("nbin").asInt
  private lazy val archives = s"$dataDir/archives"
  private lazy val pulsars = truth.get("pulsars").elements().asScala.toSeq
  private lazy val obsTruth: Seq[Checks.ObsTruth] =
    truth.get("observations").elements().asScala.toSeq.map { o =>
      Checks.ObsTruth(o.get("obs_id").asText, o.get("psr").asText, o.get("shift").asInt,
        o.get("toa_us").asDouble, o.get("low_snr").asBoolean,
        Option(o.get("bin_phase")).map(_.asDouble))
    }
  private lazy val psrTruth = pulsars.map(p =>
    Checks.PsrTruth(p.get("psr").asText, Seq("b0", "b1", "b2").map(p.get(_).asDouble)))
  /** Binary-pulsar ephemerides, as a timing user holds them. */
  private lazy val binaries: Seq[(String, Orbital.BinaryPars)] = pulsars.filter(_.get("binary").asBoolean)
    .map(p => p.get("psr").asText -> Orbital.BinaryPars(pbDays = p.get("pb").asDouble,
      t0Mjd = p.get("t0").asDouble, ecc = p.get("ecc").asDouble, om0Rad = p.get("om0").asDouble))

  private val delayConfig =
    """# instrument delay fixes
      |* early_backend
      |mjd < 59000
      |delay += 3 tbin
      |* avn_config
      |beconfig ~= avn
      |delay += 1 dly0
      |* never_matches
      |beconfig ~= xyz
      |delay += 99 tbin
      |""".stripMargin
  private val selectRules = "# quality gate\nLOGIC -snr < 20 REJECT\n"
  private val axRa = GridLookup.Axis(crval = 0.0, crpix = 0.0, cdelt = 1.0, n = 360)
  private val axDec = GridLookup.Axis(crval = -90.0, crpix = 0.0, cdelt = 1.0, n = 180)

  private var tskyGrid: DataFrame = _
  private var uhfCat: DataFrame = _

  def open(spark: SparkSession): Unit = {
    import spark.implicits._
    tskyGrid = Seq((69, 43, 4000.0)).toDF("pix1", "pix2", "tsky_mk")
    uhfCat = Catalogs.fromText(spark,
      pulsars.map(p => s"${p.get("psr").asText} ${p.get("tsky").asDouble}").mkString("", "\n", "\n"))
  }

  /** Template padded to the profile length, placed as the generator did. */
  private def templateCol(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val center = cfg("template_center").asInt
    pulsars.map { p =>
      val t = p.get("template").elements().asScala.map(_.asDouble).toSeq
      val arr = Array.fill(nbin)(0.0)
      t.zipWithIndex.foreach { case (v, j) => arr(center - t.length / 2 + j) = v }
      (p.get("psr").asText, arr.toSeq)
    }.toDF("psr", "template")
  }

  /** SUBINT rows (obs_id, isub, ichan, ibin, v): executor-side binary
    * decode of every archive through the library's table parser. */
  private def decode(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(archives)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val obsId = p.substring(p.lastIndexOf('/') + 1).stripSuffix(".fits")
        FitsFile.namedTable(bytes, "SUBINT").flatMap { m =>
          val isub = m("ISUB").asInstanceOf[Int]
          val ichan = m("ICHAN").asInstanceOf[Int]
          m("PROFILE").asInstanceOf[Seq[Any]].iterator.zipWithIndex.map { case (v, j) =>
            (obsId, isub, ichan, j, v.asInstanceOf[Double])
          }
        }
      }.toDF("obs_id", "isub", "ichan", "ibin", "v")
  }

  private def metaNum(key: String) = first(
    when(col("key") === key, coalesce(col("double_value"), col("long_value").cast("double"))), true)
  private def metaStr(key: String) = first(when(col("key") === key, col("str_value")), true)

  def pass(spark: SparkSession, calls: Calls): PassResult = {
    import spark.implicits._
    val cards = calls.df("sources.FitsDataSource.load") {
      spark.read.format("graft-fits").load(archives)
    }
    val meta = cards
      .groupBy(regexp_replace(substring_index(col("source_file"), "/", -1), "\\.fits$", "").as("obs_id"))
      .agg(metaStr("SRC_NAME").as("psr"), metaNum("OBSFREQ").as("freq"),
        metaStr("BW").as("bw"), metaNum("NANT").as("nant"), metaNum("TOBS").as("tobs"),
        metaNum("NBIN").as("nbin"), metaNum("OBSBW").as("obs_bw"), metaNum("NCHAN").as("nchan"),
        metaNum("RAJD").as("rajd"), metaNum("DECJD").as("decjd"),
        metaStr("BECONFIG").as("beconfig"), metaNum("MJD").as("mjd"),
        metaNum("PERIOD").as("period_us"), metaNum("EPOCH").as("epoch_us"),
        metaNum("TBIN").as("tbin"), metaNum("DLY0").as("dly0"))
      .withColumn("x", element_at(split(col("obs_id"), "_"), -1).cast("int"))
      // the observation table: one row per archive, read by four stages
      .localCheckpoint(eager = true)

    val binRows = calls.df("sources.FitsFile.namedTable")(decode(spark))

    val rules = DelayCorrection.parseConfig(delayConfig)
    val metaDelayed = calls.df("operators.DelayCorrection.applyTo") {
      DelayCorrection.applyTo(meta, rules, name => col(name)).withColumnRenamed("delay_correction", "delay_us")
    }

    val noiseFrom = nbin / 2
    val chanRms = binRows.filter(col("ibin") >= noiseFrom)
      .groupBy("obs_id", "ichan").agg(sqrt(avg(col("v") * col("v"))).as("offrms"))
      .join(meta.select(col("obs_id"), col("freq")), Seq("obs_id"))
      .withColumn("chan_freq",
        when(col("freq") > 1000.0, lit(1383.5) + col("ichan") * 0.5)
          .otherwise(lit(795.2) + col("ichan") * 0.25))
      .select("obs_id", "chan_freq", "offrms")
    val multipliers = calls.df("operators.FluxCal.multipliers") {
      FluxCal.multipliers(
        meta.select("obs_id", "psr", "bw", "freq", "rajd", "decjd", "nant", "tobs", "nbin", "obs_bw", "nchan"),
        chanRms, tskyGrid, axRa, axDec, uhfCat)
    }
    val calib = calls.df("operators.FluxCal.applyMultipliers") {
      FluxCal.applyMultipliers(binRows, multipliers, Seq("v"))
    }
    val (plans, _) = Downsample.parseFlags("t 2 f 8, tscrunch, fscrunch, pscrunch")
    val products = calls.df("operators.Downsample.products") {
      Downsample.products(calib, Seq("obs_id"), col("isub"), col("ichan"), col("v"), plans)
    }

    val scrunched = calib.groupBy("obs_id", "ibin").agg(sum(col("v")).as("pv"))
    val profiles = scrunched.groupBy("obs_id")
      .agg(transform(array_sort(collect_list(struct(col("ibin"), col("pv")))), s => s.getField("pv")).as("profile"))
    val toas = calls.df("operators.Toa.estimate") {
      Toa.estimate(
        profiles.join(metaDelayed.select("obs_id", "psr", "x", "mjd", "epoch_us", "period_us", "delay_us"), Seq("obs_id"))
          .join(broadcast(templateCol(spark)), Seq("psr")),
        col("profile"), col("template"), col("epoch_us"), col("period_us"))
        .drop("profile", "template")
    }
    val withSnr = toas.join(
      scrunched.groupBy("obs_id").agg(max(col("pv")).as("flux_peak"),
        sqrt(avg(when(col("ibin") >= noiseFrom, col("pv") * col("pv")))).as("off_rms")),
      Seq("obs_id")).withColumn("snr", col("flux_peak") / col("off_rms"))
      .join(multipliers.select("obs_id", "multiplier"), Seq("obs_id"))
      .select("obs_id", "psr", "x", "mjd", "epoch_us", "delay_us", "shift_bins", "toa_us", "snr",
        "flux_peak", "multiplier")

    // The two heavy outputs: decimation products and the TOA table (the
    // .tim hand-off the timing half of the chain reads, as in meerpipe).
    val (prodSum, prodFrame) = Workload.checksum(products)
    val tim = withSnr.collect()
    val toaTable = spark.createDataFrame(java.util.Arrays.asList(tim: _*), withSnr.schema)

    val selected = calls.df("operators.ToaSelect.filter") {
      ToaSelect.filter(toaTable, ToaSelect.parse(selectRules), Map("snr" -> col("snr")))
    }
    // TOA time = observation MJD (exact on the generator's 1/64-day grid) + TOA offset
    val toaTs = timestamp_micros(
      (round((col("mjd") - Orbital.UnixEpochMjd) * 86400e6) + col("toa_us") - col("epoch_us")).cast("long"))
    val phases = calls.df("functions.Orbital.binPhase") {
      binaries.map { case (psr, pars) =>
        selected.filter(col("psr") === psr).select(col("obs_id"), Orbital.binPhase(toaTs, pars).as("bin_phase"))
      }.reduce(_ unionByName _)
    }
    val y = col("toa_us") - col("delay_us") - col("epoch_us")
    val xs = Seq(lit(1.0), col("x").cast("double"), (col("x") * col("x")).cast("double"))
    val fit = calls.df("operators.TimingFit.fit") {
      TimingFit.fit(selected, Seq("psr"), y, lit(1.0), xs)
    }
    val metrics = toaTable
      .selectExpr("obs_id", "stack(3, 'sn', snr, 'flux', flux_peak, 'multiplier', multiplier) as (metric, value)")
    val results = calls.df("operators.Results.assemble") {
      Results.assemble(metrics, "obs_id", "metric", "value", Seq("sn", "flux", "dm", "multiplier"))
    }

    val (resSum, resFrame) = Workload.checksum(results)
    val kept = selected.select("obs_id").as[String].collect().toSet
    val phaseRows = phases.as[(String, Double)].collect()
    val fitRows = fit.select("psr", "betas").as[(String, Seq[Double])].collect()
    val toaRows = tim.map(r => r.getAs[String]("obs_id") -> (r.getAs[Double]("shift_bins"), r.getAs[Double]("toa_us")))

    val failures =
      Checks.toas(toaRows.toMap, obsTruth) ++
        Checks.selection(kept, obsTruth) ++
        Checks.fit(fitRows.toMap, psrTruth) ++
        Checks.phases(phaseRows.toMap, obsTruth)
    PassResult(
      checksums = Map("products" -> prodSum, "results" -> resSum,
        "toas" -> toaRows.sorted.toSeq.hashCode.toLong, "fit" -> fitRows.sortBy(_._1).toSeq.hashCode.toLong),
      failures = failures,
      finals = Seq(prodFrame, resFrame))
  }

  def traceExtras(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    // kepler_solve over the decoded samples, read as mean anomalies
    val samples = decode(spark).select("v").localCheckpoint(eager = true)
    Workload.runExpression(tracer, "kepler_solve", samples, "kepler_solve(v, 0.1)")
    Map.empty
  }
}
