package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session builder: every main and the test suite build through
  * [[make]].
  *
  * Settings already in the SparkConf win, so under spark-submit its
  * `--master` and `--conf` decide. Without a master the session runs
  * `local[cpus]`; shuffle partitions default to `cpus` as well. The
  * session time zone is always UTC, whatever the conf says: timestamps
  * in outputs and oracles are compared as UTC. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every core of this host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `base` with the defaults filled in and `overrides` set last. */
  private[graft] def conf(base: SparkConf, name: String,
      overrides: Seq[(String, String)]): SparkConf =
    base.setIfMissing("spark.master", s"local[$cpus]")
      .setIfMissing("spark.app.name", name)
      .setIfMissing("spark.sql.shuffle.partitions", cpus.toString)
      .setIfMissing("spark.ui.enabled", "false")
      .set("spark.sql.session.timeZone", "UTC")
      .setAll(overrides)

  def make(name: String, overrides: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .config(conf(new SparkConf(), name, overrides)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
