package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Dumps formatted physical plans for representative catalog queries —
  * the plan-quality audit trail (pushdown, broadcast, shuffle count).
  * Usage: runMain graft.Explain [sfDir] [outFile]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val spark = GraftSession.getOrCreate()

    // the FULL catalog, sorted by name — every oracle-checked query gets
    // an audited plan (a hand-maintained subset rotted to 74/118 by
    // round 7; deriving the list from the catalog can't rot)
    val interesting = queries.Queries.all.map(_.name).sorted

    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.Explain)\n")
    sb.append(s"\nSF dir: `$sfDir`. Things to look for: `PushedFilters` on scans,\n")
    sb.append("pruned `ReadSchema`, `BroadcastHashJoin` on dimension joins,\n")
    sb.append("`WholeStageCodegen` spans covering the hot path.\n")
    sb.append("\nA query reads a `graft.Barrier` as `Scan ExistingRDD`. The producer plan\n")
    sb.append("of every barrier built while planning the query follows its plan, in\n")
    sb.append("creation order, under `### Below barrier RDD[N]`.\n")
    interesting.foreach { name =>
      sb.append(s"\n## $name\n\n")
      sb.append(withBelowBarriers(queries.Queries.queryMap(name)(spark, sfDir)))
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }

  /** The formatted plan of the frame `build` returns, then the producer
    * plan of every barrier `build` created, in creation order: the ones
    * the plan scans, and the ones whose rows were collected on the way
    * (a size gate, a union-find over collected edges). */
  private[graft] def withBelowBarriers(build: => DataFrame): String = {
    val (df, producers) = Barrier.recordingPlans(build)
    (s"```\n${df.queryExecution.explainString(FormattedMode)}```\n" +: producers.map {
      case (id, plan) => s"\n### Below barrier RDD[$id]\n\n```\n$plan```\n"
    }).mkString
  }
}
