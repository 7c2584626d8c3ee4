package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.streaming.EventStream

/** Streaming micro-bench (round-12 evidence, STREAMING.md): drives five
  * stateful operators — one per distinct state CLASS in the D section —
  * through MemoryStream at a base input size and at 10× it, and reports
  * per-leg throughput (rows/s) plus state-store size (rows and bytes,
  * final and peak across micro-batches):
  *   - D9  `deduplicatedNearMinHash` — LSH signature-bucket store
  *   - D11 `windowedHeavyHitters`    — windowed counter maps (SpaceSaving)
  *   - D22/D23 `ivfIngested`→`ivfClusterBalance` — windowed nlist counts
  *   - D12 `latestState`             — flatMapGroupsWithState per-key
  *     record + EventTimeTimeout purge (also covers D10/D18's class)
  *   - D16 `windowedDistinct`        — HLL sketch per open window (the
  *     state class whose exact alternative grows with key cardinality)
  *
  * The point being measured is the D section's bounded-state claim:
  * event time advances 100 ms per row, so a 10× LONGER stream covers a
  * 10× longer horizon while the 30-minute watermark keeps only the live
  * tail in state — state size should stay ~flat (bounded by
  * buckets-in-horizon / open-windows × shards / open-windows × nlist,
  * never by total rows ingested), while throughput holds or improves as
  * fixed micro-batch overhead amortizes. Inputs derive from the real
  * test tables (document texts, embedding vectors) cycled with shifted
  * ids and fabricated monotone timestamps; the sink is noop so the
  * bench times the operators, not result materialization.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> SPARK_GRAFT_STREAM_N=<base>
  *        runMain graft.StreamBench  (defaults: sf0.01 tables, N=50000)
  */
object StreamBench {

  private case class Leg(op: String, rows: Long, secs: Double,
                         stateRowsFinal: Long, stateBytesFinal: Long,
                         stateRowsPeak: Long, stateBytesPeak: Long) {
    def rowsPerSec: Double = rows / secs
    // locale-independent number rendering (an f"" interpolator would
    // emit comma decimals — invalid JSON — under e.g. de_DE; Bench.scala
    // writes raw Double toString for the same reason)
    def json: String =
      s"""{"op":${JsonText.quote(op)},"rows":$rows,"secs":${math.rint(secs * 100) / 100},""" +
        s""""rows_per_sec":${math.rint(rowsPerSec)},"state_rows_final":$stateRowsFinal,""" +
        s""""state_bytes_final":$stateBytesFinal,"state_rows_peak":$stateRowsPeak,""" +
        s""""state_bytes_peak":$stateBytesPeak}"""
  }

  /** Feed `chunks` through `addChunk`+processAllAvailable, timing the
    * whole drain; sample state metrics from EVERY micro-batch via
    * `recentProgress` (one chunk can span several micro-batches, and the
    * last of them may be a zero-row watermark-advance batch — sampling
    * only `lastProgress` would under-report the true peak). Entries
    * already seen are skipped by batchId. */
  private def drive[T](q: StreamingQuery, chunks: Seq[Seq[T]], add: Seq[T] => Unit,
                       op: String, total: Long): Leg = {
    var peakRows = 0L
    var peakBytes = 0L
    var finRows = 0L
    var finBytes = 0L
    var lastBatch = -1L
    val t0 = System.nanoTime()
    chunks.foreach { c =>
      add(c)
      q.processAllAvailable()
      val fresh = (q.recentProgress.toSeq ++ Option(q.lastProgress))
        .filter(p => p != null && p.batchId > lastBatch)
        .sortBy(_.batchId)
      fresh.foreach { p =>
        val so = p.stateOperators.toSeq
        val r = so.map(_.numRowsTotal).sum
        val b = so.map(_.memoryUsedBytes).sum
        if (r > peakRows) peakRows = r
        if (b > peakBytes) peakBytes = b
        finRows = r; finBytes = b
      }
      if (fresh.nonEmpty) lastBatch = fresh.last.batchId
    }
    val secs = (System.nanoTime() - t0) / 1e9
    Leg(op, total, secs, finRows, finBytes, peakRows, peakBytes)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val baseN = sys.env.getOrElse("SPARK_GRAFT_STREAM_N", "50000").toInt
    // the shared factory so the streaming bench runs under the SAME
    // engine settings as the batch bench it is published beside
    val spark = GraftSession.getOrCreate()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    // source material from the real tables (bounded driver pulls; one
    // source definition for the embeddings table)
    val texts = graft.sources.Tables.documents(spark, sfDir)
      .select(substring(col("text"), 1, 240).as("t")).as[String]
      .filter(_ != null).collect()
    val embDf = graft.sources.Tables.embeddings(spark, sfDir)
    val vecs = embDf.select("embedding").as[Seq[Float]].collect()
    require(texts.nonEmpty && vecs.nonEmpty,
      s"$sfDir has no non-null document texts or no embeddings — nothing to stream")
    val dim = vecs.head.length
    val baseMs = Timestamp.valueOf("2024-01-01 00:00:00").getTime

    def ts(i: Int) = new Timestamp(baseMs + i.toLong * 100L) // 100 ms cadence

    // IVF model trained ONCE on the real embeddings. At this codebook
    // size IvfPq.train runs the driver-resident Lloyd loop and returns
    // LocalRelations — already materialized, so the eager barrier
    // pinning this once carried would just be two wasted barrier jobs
    val model = graft.operators.IvfPq.train(embDf, "vec_id", "embedding",
      dim = dim, nlist = 16, m = 8, k = 16, iters = 2)

    def chunksOf[T](xs: IndexedSeq[T], n: Int): Seq[Seq[T]] =
      xs.grouped(math.max(1, xs.length / n)).map(_.toSeq).toSeq

    def nearDupLeg(n: Int): Leg = {
      val rows: IndexedSeq[(Long, Timestamp, String)] = (0 until n).map { i =>
        // docs arrive in groups of four sharing a base text: i%4 in
        // {1,2,3} repeat the base VERBATIM, i%4==0 appends a unique
        // suffix (the near-dup) — so the stateful path does real
        // signature comparisons and real drops in every batch
        val base = texts((i - i % 4) % texts.length)
        val t = if (i % 4 != 0) base else base + " u" + i
        (i.toLong, ts(i), t)
      }
      val mem = MemoryStream[(Long, Timestamp, String)]
      val q = EventStream.deduplicatedNearMinHash(
          mem.toDF().toDF("doc_id", "ts", "text"), "text")
        .writeStream.format("noop").outputMode(OutputMode.Append()).start()
      try drive(q, chunksOf(rows, 10), (c: Seq[(Long, Timestamp, String)]) => { mem.addData(c: _*); () },
        s"D9 deduplicatedNearMinHash n=$n", n.toLong)
      finally q.stop()
    }

    def hhLeg(n: Int): Leg = {
      val rows: IndexedSeq[EventStream.Event] = (0 until n).map { i =>
        // zipf-ish key skew: low user ids hit far more often
        val u = (i % 7) * (i % 11) * (i % 13) % 997
        EventStream.Event(i.toLong, ts(i), u.toLong, s"type${i % 5}", (i % 100).toDouble)
      }
      val mem = MemoryStream[EventStream.Event]
      val q = EventStream.windowedHeavyHitters(mem.toDS(), _.user_id.toString,
          windowSeconds = 600, capacity = 32, shards = 32)
        .writeStream.format("noop").outputMode(OutputMode.Append()).start()
      try drive(q, chunksOf(rows, 10), (c: Seq[EventStream.Event]) => { mem.addData(c: _*); () },
        s"D11 windowedHeavyHitters n=$n", n.toLong)
      finally q.stop()
    }

    def ivfLeg(n: Int): Leg = {
      val rows: IndexedSeq[(Long, Timestamp, Seq[Float])] = (0 until n).map { i =>
        (i.toLong, ts(i), vecs(i % vecs.length))
      }
      val mem = MemoryStream[(Long, Timestamp, Seq[Float])]
      val q = EventStream.ivfClusterBalance(
          mem.toDF().toDF("vec_id", "ts", "embedding"), "ts", "vec_id", "embedding", model)
        .writeStream.format("noop").outputMode(OutputMode.Append()).start()
      try drive(q, chunksOf(rows, 10), (c: Seq[(Long, Timestamp, Seq[Float])]) => { mem.addData(c: _*); () },
        s"D22/D23 ivfIngested+balance n=$n", n.toLong)
      finally q.stop()
    }

    def latestLeg(n: Int): Leg = {
      val rows: IndexedSeq[EventStream.Event] = (0 until n).map { i =>
        // bounded LIVE-key population: 997 users × 5 types (coprime →
        // 4985 distinct (user, type) keys), each re-hit every ~498 s of
        // event time — under the 600 s idle horizon, so every key stays
        // live and state measures the key POPULATION, not stream length
        EventStream.Event(i.toLong, ts(i), (i % 997).toLong, s"type${i % 5}", (i % 100).toDouble)
      }
      val mem = MemoryStream[EventStream.Event]
      val q = EventStream.latestState(mem.toDS(), idleSeconds = 600)
        .writeStream.format("noop").outputMode(OutputMode.Append()).start()
      try drive(q, chunksOf(rows, 10), (c: Seq[EventStream.Event]) => { mem.addData(c: _*); () },
        s"D12 latestState n=$n", n.toLong)
      finally q.stop()
    }

    def distinctLeg(n: Int): Leg = {
      val rows: IndexedSeq[EventStream.Event] = (0 until n).map { i =>
        // EVERY row a new user id — the adversarial case for exact
        // COUNT(DISTINCT) state (grows linearly with the stream); HLL
        // state must stay one fixed-size sketch per OPEN window
        EventStream.Event(i.toLong, ts(i), i.toLong, s"type${i % 5}", (i % 100).toDouble)
      }
      val mem = MemoryStream[EventStream.Event]
      val q = EventStream.windowedDistinct(mem.toDS().toDF(), "user_id")
        .writeStream.format("noop").outputMode(OutputMode.Append()).start()
      try drive(q, chunksOf(rows, 10), (c: Seq[EventStream.Event]) => { mem.addData(c: _*); () },
        s"D16 windowedDistinct n=$n", n.toLong)
      finally q.stop()
    }

    val legs = Seq(baseN, baseN * 10).flatMap { n =>
      Seq(nearDupLeg(n), hhLeg(n), ivfLeg(n), latestLeg(n), distinctLeg(n))
    }
    legs.foreach(l => println(
      f"${l.op}%-42s ${l.rows}%9d rows ${l.secs}%7.2f s ${l.rowsPerSec}%9.0f rows/s " +
        f"state ${l.stateRowsFinal}%7d rows / ${l.stateBytesFinal}%10d B (peak ${l.stateRowsPeak}%7d / ${l.stateBytesPeak}%10d)"))
    val line = "{\"metric\":\"stream_bench\",\"legs\":[" + legs.map(_.json).mkString(",") +
      s"""],"sf":${JsonText.quote(sfDir)}}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT", "/tmp/stream_bench.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable => System.err.println(s"[stream-bench] could not write $outFile: ${e.getMessage}") }
    spark.stop()
  }
}
