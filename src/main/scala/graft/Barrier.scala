package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.{FormattedMode, LogicalRDD}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.storage.StorageLevel

/** The one place graft cuts a plan: every reused or iterated subtree goes
  * through [[Barrier.apply]], a `localCheckpoint` whose storage and
  * bookkeeping are decided here, not at the call site.
  *
  * Trade, deliberate: the stored blocks live on executors with NO lineage
  * fallback, so losing an executor mid-job kills the job. A deployment
  * that must survive that writes the frame to reliable storage instead;
  * that is a recovery policy, not an operator concern.
  */
object Barrier extends AdaptiveSparkPlanHelper {

  /** Each live barrier's producer SQL metrics, weakly keyed by the
    * barrier's RDD: a task that computes a barrier partition reports the
    * producer's metrics, and once the first job has stored every
    * partition Spark drops the RDD's lineage (the closures that held
    * them). Without this, a task still finishing after that point logs
    * `non-existent accumulator` and its metrics are lost. Only the
    * metric objects are held, never the producer's RDDs, so upstream
    * barrier blocks are freed as before. */
  private val producerMetrics = new java.util.WeakHashMap[RDD[_], Seq[SQLMetric]]()

  /** (barrier RDD id, producer plan) pairs, recorded inside [[recordingPlans]]. */
  private val recorded = new ThreadLocal[scala.collection.mutable.ArrayBuffer[(Int, String)]]

  /** `ds` materialized once, its lineage cut: every consumer reads the
    * stored rows instead of re-running the producer.
    *
    * Lazy by default: the first action that touches the frame stores it
    * (a producer with a shuffle still runs its map stages here, under
    * adaptive execution). `eager` stores it now, in one job, for the
    * iterative loops whose next round must not re-run this one.
    * `corpus` picks the serialized memory-and-disk level for corpus-sized
    * working sets, where deserialized rows can thrash executor memory;
    * every other barrier is candidate- or signature-bounded and keeps
    * Spark's default level.
    *
    * The barrier's RDD keeps the caller's file and line as its call site,
    * as a direct `localCheckpoint` call would. */
  def apply[T](ds: Dataset[T], eager: Boolean = false, corpus: Boolean = false): Dataset[T] = {
    val sc = ds.sparkSession.sparkContext
    val caller = new Throwable().getStackTrace.find(!_.getClassName.startsWith("graft.Barrier$")).get
    val plan = Option(recorded.get).map(_ -> ds.queryExecution.explainString(FormattedMode))
    val site = sc.getLocalProperty("callSite.short")
    sc.setCallSite(s"localCheckpoint at ${caller.getFileName}:${caller.getLineNumber}")
    val out =
      try {
        if (corpus) ds.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK_SER)
        else ds.localCheckpoint(eager)
      } finally sc.setLocalProperty("callSite.short", site)
    val rdd = out.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    val metrics = collectWithSubqueries(ds.queryExecution.executedPlan) { case p => p.metrics.values }
    producerMetrics.synchronized(producerMetrics.put(rdd, metrics.flatten))
    plan.foreach { case (plans, p) => plans += rdd.id -> p }
    out
  }

  /** Runs `body` and returns, with its result, the formatted producer
    * plan of every barrier it built, in creation order, each with the
    * barrier's RDD id (the id its `Scan ExistingRDD` prints). */
  private[graft] def recordingPlans[A](body: => A): (A, Seq[(Int, String)]) = {
    val plans = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    recorded.set(plans)
    try (body, plans.toSeq) finally recorded.remove()
  }
}
