package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** One benchmark run of one workload:
  *
  *  1. set-up: session build + `GraftSession.install` + one untimed warm
  *     pass (`setup_s`);
  *  2. one more untimed pass, then timed passes, closed loop, for
  *     `--seconds` and at least [[MinPasses]];
  *  3. live heap after an explicit GC;
  *  4. with `--trace 1`, one traced pass plus the layer extras.
  *
  * Every pass and query is one operation: it fails when it throws or fails
  * its output check, and `failed_frac` is failed over attempted ones.
  * Prints a report and writes every metric, span and failure to `--out`
  * as JSON.
  *
  * Usage: Main --workload <name> --data <dir> --seconds <s> --trace <0|1> --out <file> */
object Main {

  final case class Metric(value: Double, unit: String)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workload.make(opt("workload"), opt("data"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"

    val metrics = mutable.LinkedHashMap.empty[String, Metric]
    val extra = mutable.LinkedHashMap.empty[String, String]
    val operation = new Operations

    // 1. set-up
    val setupStart = System.nanoTime()
    val spark = GraftSession.getOrCreate()
    GraftSession.install(spark)
    operation("warm pass") { workload.open(spark); workload.pass(spark, Untraced) }(_.failures)
    val setupS = (System.nanoTime() - setupStart) / 1e9
    log(f"set-up $setupS%.2f s")
    val cores = spark.sparkContext.defaultParallelism

    // 2. one untimed warm-up pass, then the timed window. The first pass
    // after set-up runs 15-25% slower than later ones while the JIT compiles
    // the planner and operator paths; timing it made the run-to-run spread
    // depend on how fast the JIT got there.
    operation("warm-up pass")(workload.pass(spark, Untraced))(_.failures)
    val passSecs = mutable.ArrayBuffer.empty[Double]
    var first: Option[Map[String, Long]] = None
    // only the last pass's result is kept: an older pass's frames would
    // hold its broadcasts and shuffle outputs in memory
    var last: Option[PassResult] = None
    val windowStart = System.nanoTime()
    while ((System.nanoTime() - windowStart) / 1e9 < seconds || passSecs.length < MinPasses) {
      System.gc()
      val t0 = System.nanoTime()
      val r = operation(s"pass ${passSecs.length + 1}")(workload.pass(spark, Untraced)) { r =>
        r.failures ++ Checks.stable(first.getOrElse(r.checksums), r.checksums)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      passSecs += secs
      if (first.isEmpty) first = r.map(_.checksums)
      if (r.isDefined) last = r
      log(f"pass ${passSecs.length} $secs%.3f s")
    }

    // 3. live heap: explicit GC, then heap in use plus cached blocks
    System.gc(); Thread.sleep(300); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val storageMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

    val passS = Stats.median(passSecs.toSeq)
    metrics("setup_s") = Metric(setupS, "s")
    metrics("pass_s") = Metric(passS, "s")
    metrics("live_heap_mb") = Metric(heapMb + storageMb, "MB")
    last.foreach(_.quality.foreach { case (k, v) => metrics(k) = Metric(v, "frac") })
    extra("passes") = passSecs.length.toString
    extra("pass_s_all") = passSecs.map(s => f"$s%.3f").mkString("[", ",", "]")

    // 4. traced pass
    val spans =
      if (!trace) "[]"
      else {
        val (layer, spansJson) =
          traced(spark, workload, passS, last.map(_.finals).getOrElse(Nil), cores, operation)
        layer.foreach { case (k, v) => metrics(k) = v }
        spansJson
      }

    import operation.{attempted, failed, failures}
    metrics("failed_frac") = Metric(failed.toDouble / attempted, "frac")
    spark.stop()

    val correct = failures.isEmpty
    metrics.foreach { case (k, m) => println(f"$k%-48s ${m.value}%14.6f ${m.unit}") }
    extra.foreach { case (k, v) => println(f"$k%-48s $v") }
    failures.take(20).foreach(f => println(s"FAILED: $f"))
    val json = new StringBuilder
    json ++= s"""{"workload":${quote(workload.name)},"correct":$correct,"attempted":$attempted,"failed":$failed,"""
    json ++= metrics.map { case (k, m) => s"${quote(k)}:{\"value\":${m.value},\"unit\":${quote(m.unit)}}" }
      .mkString("\"metrics\":{", ",", "},")
    json ++= extra.map { case (k, v) => s"${quote(k)}:${quote(v)}" }.mkString("\"extra\":{", ",", "},")
    json ++= failures.map(quote).mkString("\"failures\":[", ",", "],")
    json ++= s""""spans":$spans}"""
    Files.write(Paths.get(opt("out")), json.toString.getBytes(StandardCharsets.UTF_8))
    if (!correct) sys.exit(2)
  }

  /** Timed passes per run, at least; `pass_s` is their median. */
  private val MinPasses = 3

  private def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def quote(s: String): String = mapper.writeValueAsString(s)

  /** The traced pass and the layer extras. Returns every per-layer metric
    * and the spans as a JSON array. */
  private def traced(spark: SparkSession, workload: Workload, passS: Double, finals: Seq[DataFrame], cores: Int,
                     operation: Operations): (Seq[(String, Metric)], String) = {
    val sc = spark.sparkContext
    val listener = new SpanListener
    sc.addSparkListener(listener)
    val tracer = new Tracer(sc, s"${workload.name}-${System.currentTimeMillis()}")
    System.gc()
    operation("traced pass")(tracer.value("pass")(workload.pass(spark, tracer)))(_.failures)
    val ratios = operation("traced extras")(tracer.value("extras")(workload.traceExtras(spark, tracer)))(_ => Nil)
      .getOrElse(Map.empty)
    workload.queryNames.foreach { q =>
      operation(s"query $q")(Workload.runQuery(spark, tracer, q, workload.queryDir))(_ => Nil)
    }
    org.apache.spark.graftbench.Bus.drain(sc)
    sc.removeSparkListener(listener)

    val spans = tracer.all
    val per = listener.perSpan(spans)
    val passSpan = spans.find(s => s.parent == -1 && s.name == "pass").get
    def under(root: Span): Seq[Span] = {
      val kids = spans.filter(_.parent == root.id)
      kids ++ kids.flatMap(under)
    }
    val passCalls = under(passSpan)
    val ids = passCalls.map(_.id).toSet + passSpan.id
    val out = mutable.LinkedHashMap.empty[String, Metric]

    // per call: self time and jobs, summed over calls of the same name
    def byName(ss: Seq[Span]): Seq[(String, Double, Int)] =
      ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, xs) =>
        (n, xs.map(Span.selfSeconds(_, spans)).sum, xs.map(s => per.get(s.id).map(_.jobs).getOrElse(0)).sum)
      }
    val extrasSpans = spans.filter(s => s.parent == -1 && s.name == "extras").flatMap(under)
    val calls = byName(passCalls)
    val extraCalls = byName(extrasSpans ++ spans.filter(_.name.startsWith("queries.")))
    (calls ++ extraCalls).foreach { case (n, s, j) =>
      out(s"$n.s") = Metric(s, "s")
      if (!n.startsWith("expressions.")) out(s"$n.jobs") = Metric(j, "count")
    }
    // layer totals: the pass's calls, plus the expression and query extras
    val layered = calls ++ extraCalls.filter(c => c._1.startsWith("expressions.") || c._1.startsWith("queries."))
    Seq("sources", "operators", "functions", "expressions", "queries").foreach { layer =>
      val mine = layered.filter(_._1.startsWith(layer + "."))
      if (mine.nonEmpty) {
        out(s"$layer.s") = Metric(mine.map(_._2).sum, "s")
        if (layer != "expressions") out(s"$layer.jobs") = Metric(mine.map(_._3).sum, "count")
      }
    }

    // spark.*: over the traced pass
    val t = new TaskTotals
    per.filter { case (k, _) => ids.contains(k) }.values.foreach(t.add)
    val wallS = passSpan.seconds
    val jobS = listener.jobCoveredMs(passSpan.start, passSpan.end) / 1000.0
    val taskS = t.runMs / 1000.0
    out("spark.jobs") = Metric(t.jobs, "count")
    out("spark.stages") = Metric(t.stages, "count")
    out("spark.tasks") = Metric(t.tasks, "count")
    out("spark.failed_tasks") = Metric(t.failedTasks, "count")
    out("spark.task_s") = Metric(taskS, "s")
    out("spark.task_cpu_s") = Metric(t.cpuNs / 1e9, "s")
    out("spark.sched_delay_s") = Metric(t.schedDelayMs / 1000.0, "s")
    out("spark.driver_s") = Metric(wallS - jobS, "s")
    out("spark.busy_frac") = Metric(taskS / (wallS * cores), "frac")
    out("spark.task_skew") = Metric(listener.skew(spans, ids), "ratio")
    out("spark.shuffle_write_mb") = Metric(t.shuffleWriteBytes / 1048576.0, "MB")
    out("spark.shuffle_read_mb") = Metric(t.shuffleReadBytes / 1048576.0, "MB")
    out("spark.spill_mb") = Metric(t.spillBytes / 1048576.0, "MB")
    out("spark.peak_task_mem_mb") = Metric(t.peakMemBytes / 1048576.0, "MB")

    // plan shapes of the last timed (untraced) pass's outputs
    val plans = PlanStats.sum(finals.map(f => PlanStats.counts(f.queryExecution.executedPlan)))
    PlanStats.Keys.foreach(k => out(s"plans.$k") = Metric(plans(k), "count"))
    ratios.foreach { case (k, v) => out(k) = Metric(v, "ratio") }
    out("trace.overhead_frac") = Metric((passSpan.seconds - passS) / passS, "frac")

    val spansJson = spans.map { s =>
      s"""{"id":${s.id},"name":${quote(s.name)},"parent":${s.parent},"run":${quote(s.runId)},""" +
        s""""start_ms":${s.start},"end_ms":${s.end},"self_s":${Span.selfSeconds(s, spans)},""" +
        s""""jobs":${per.get(s.id).map(_.jobs).getOrElse(0)}}"""
    }.mkString("[", ",", "]")
    (out.toSeq, spansJson)
  }
}

/** Counts a run's operations (passes, queries): one fails when it throws
  * or fails its output check. */
final class Operations {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  /** Runs one operation and checks its result; returns it unless it threw. */
  def apply[A](what: String)(body: => A)(check: A => Seq[String]): Option[A] = {
    val r = try Right(body) catch { case e: Exception => Left(Seq(s"threw $e")) }
    val errs = r.fold(identity, check)
    attempted += 1
    if (errs.nonEmpty) failed += 1
    failures ++= errs.map(e => s"$what: $e")
    r.toOption
  }
}
