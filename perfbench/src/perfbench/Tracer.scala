package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Spans around calls into the program's layers, for the traced run.
  *
  * A span tags every Spark job its body starts with a job group named
  * after the layer, times the body on the driver, then settles the
  * listener bus and reads that group's task totals from the [[Ledger]].
  * The body must force its own output (count, collect) so the layer's
  * work falls inside its span. */
final class Tracer(spark: SparkSession, ledger: Ledger) {
  import Tracer._

  val spans: mutable.LinkedHashMap[String, Span] = mutable.LinkedHashMap.empty

  def span[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      ledger.settle(sc)
      spans(name) = Span(wall, ledger.group(name))
    }
  }

  def wall(name: String): Double = spans.get(name).map(_.wallS).getOrElse(0.0)
}

object Tracer {
  final case class Span(wallS: Double, tasks: Ledger.Snapshot)
}
