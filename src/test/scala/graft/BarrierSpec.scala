package graft

import java.lang.ref.WeakReference
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.functions._

/** `graft.Barrier`: job counts at creation, the producer's SQL metrics
  * outliving the lineage Spark drops, and Explain's below-barrier plans. */
class BarrierSpec extends SparkSpec {
  import spark.implicits._

  private def gc(): Unit = (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }

  /** Jobs started while `body` runs. A marker job in a second group runs
    * after it; the status tracker sees jobs in start order, so once the
    * marker shows up every job of `body` has too. */
  private def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (group, marker) = (s"barrier-${System.nanoTime}", s"marker-${System.nanoTime}")
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime + 30.seconds.toNanos
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && System.nanoTime < deadline)
      Thread.sleep(20)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** `body`'s count of `Failed to update accumulator` log lines. */
  private def lostAccumulatorLines(body: => Unit): Int = {
    val lost = new AtomicInteger()
    val appender = new AbstractAppender("lost-accumulators", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("Failed to update accumulator")) lost.incrementAndGet()
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(appender)
    try body finally { root.removeAppender(appender); appender.stop() }
    lost.get
  }

  test("a lazy barrier runs no job at creation; eager = true runs exactly one") {
    val producer = spark.range(0, 1000, 1, 4).filter($"id" % 3 === 0).toDF()
    assert(jobsRunBy(Barrier(producer)) === 0)
    assert(jobsRunBy(Barrier(producer, eager = true)) === 1)
    // either way the rows are the producer's
    assert(Barrier(producer).count() === 334L && Barrier(producer, eager = true).count() === 334L)
  }

  test("a lazy barrier keeps its producer's SQL metrics alive past GC and lineage truncation") {
    val slow = udf((x: Long) => { Thread.sleep(10); x })
    // built out of scope: nothing but the barrier can reach the producer
    def build(): (DataFrame, WeakReference[SQLMetric]) = {
      val producer = spark.range(0, 400, 1, 1).filter($"id" % 2 === 0).toDF()
      val b = Barrier(producer)
      val rows = producer.queryExecution.executedPlan
        .collectFirst { case f: FilterExec => f.metrics("numOutputRows") }.get
      (b, new WeakReference(rows))
    }
    val lost = lostAccumulatorLines {
      val (b, rows) = build()
      gc()
      // `slowly` computes and stores the barrier's one partition, then
      // spends ~2 s on its own rows; meanwhile `count` reads the stored
      // block and its job end drops the barrier's lineage. The producer's
      // metric updates arrive only when `slowly` finishes, after the GCs.
      val slowly = Future(b.agg(sum(slow($"id"))).as[Long].head())
      Thread.sleep(500)
      assert(b.count() === 200L)
      gc()
      assert(Await.result(slowly, 1.minute) === 39800L)
      gc()
      assert(rows.get != null, "the producer's metric was collected while the barrier lives")
      assert(rows.get.value === 200L)
    }
    assert(lost === 0)
  }

  test("Explain prints similarityJoin's tokenize/window plan beneath its ordered barrier") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "an unrelated line of text entirely"),
    ).toDF("doc_id", "text")
    val dump = Explain.withBelowBarriers(graft.operators.Dedup.similarityJoin(docs, "text", "doc_id", 0.5))
    val top +: below = dump.split("\n### Below barrier RDD\\[").toSeq
    assert(top.contains("Scan ExistingRDD") && !top.contains("Window"))
    assert(below.exists(p => p.contains("Window") && p.contains("Generate")),
      "the ordered barrier's producer (explode + frequency window) is printed")
  }
}
