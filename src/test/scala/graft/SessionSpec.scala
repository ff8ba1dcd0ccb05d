package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {
  private def conf(base: SparkConf, overrides: (String, String)*) =
    Session.conf(base, "app", overrides)

  test("no master in the conf: local[cpus] with cpus shuffle partitions, UTC") {
    val c = conf(new SparkConf(false))
    assert(c.get("spark.master") == s"local[${Session.cpus}]")
    assert(c.get("spark.sql.shuffle.partitions") == Session.cpus.toString)
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.app.name") == "app")
  }

  test("a spark-submit master and conf win over the defaults; time zone stays UTC") {
    val c = conf(new SparkConf(false)
      .set("spark.master", "spark://head:7077")
      .set("spark.app.name", "submitted")
      .set("spark.sql.shuffle.partitions", "64")
      .set("spark.sql.session.timeZone", "Europe/Zurich"))
    assert(c.get("spark.master") == "spark://head:7077")
    assert(c.get("spark.app.name") == "submitted")
    assert(c.get("spark.sql.shuffle.partitions") == "64")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
  }

  test("explicit overrides are set last") {
    val c = conf(new SparkConf(false).set("spark.master", "yarn"),
      "spark.master" -> "local[4]")
    assert(c.get("spark.master") == "local[4]")
  }
}
