package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.execution.FormattedMode
import graft.operators.Dedup

/** Plan inspection: dump the formatted physical plan of selected
  * SparkEntry queries (or all). An eager dedup tier materializes inside
  * the operator, so its query's own plan is a scan of checkpointed rows;
  * the plans the tier ran are printed after it as "operator-internal
  * plan (pre-checkpoint)" sections. Usage:
  *   scripts/run.sh graft.Explain <sfDir> [query ...]
  * Exits 1 and names the queries that failed to plan.
  * Greps worth running on the output: PushedFilters, ReadSchema,
  * BroadcastHashJoin, WholeStageCodegen, Exchange.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
    else SparkEntry.queries.keys.toSeq.sorted.filterNot(_.startsWith("pipeline"))
    val spark = Session.make("graft-explain")
    val failed = names.filterNot { n =>
      println(s"\n===== $n =====")
      try {
        val (df, internal) =
          Dedup.capturingPlans(SparkEntry.queries(n)(spark, sfDir))
        println(df.queryExecution.explainString(FormattedMode))
        internal.foreach { case (tier, plan) =>
          println(s"\n===== operator-internal plan (pre-checkpoint): $tier =====\n$plan")
        }
        true
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[explain] $n failed: $e")
          false
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[explain] failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
