package graft

import org.scalatest.Assertions
import org.apache.spark.sql.SparkSession
import graft.model.{DecisionRow, GoldRow}
import graft.operators.{Eval, Stage1}

/** The gold-file path of the reference's eval
  * (lib/impresso_lid_eval.py:61-92), shared by [[GroundTruthSpec]] (the
  * reference's own artifact) and [[GoldSampleSpec]] (a checked-in sample
  * of the same shape): the gold reader, the EV:81-84 id regex against
  * Stage1.parseSource/parseYear, the reference's dict dedup, and
  * Eval.langAccuracy. */
object GoldChecks extends Assertions {

  // the reference's content-item id shape (impresso_lid_eval.py:81-84)
  val IdRe = "^(.+)-(\\d{4})-(\\d{2})-(\\d{2})-([a-z])-i(\\d{4})$".r

  /** (id, gold_lg) per line, in file order. */
  def read(spark: SparkSession, path: String): Seq[(String, String)] = {
    import spark.implicits._
    spark.read.json(path)
      .select($"id", $"gold_lg").as[(String, String)].collect().toSeq
  }

  /** The reference loads gold into a dict keyed by id
    * (`id2data[jdata["id"]].update(jdata)`, EV:56): the last line of a
    * duplicate id wins. */
  def dictDedup(lines: Seq[(String, String)]): Seq[(String, String)] =
    lines.groupBy(_._1).view.mapValues(_.last._2).toSeq

  def labelDist(rows: Seq[(String, String)]): Map[String, Int] =
    rows.groupBy(_._2).view.mapValues(_.size).toMap

  /** Every id matches the EV regex and parseSource/parseYear agree with
    * its captures; returns the number of ids checked. */
  def assertIdsParse(lines: Seq[(String, String)]): Int = {
    var matched = 0
    lines.foreach { case (id, _) =>
      id match {
        case IdRe(coll, year, _, _, _, _) =>
          matched += 1
          assert(Stage1.parseSource(id) == coll,
            s"parseSource mismatch on $id")
          assert(Stage1.parseYear(id) == year,
            s"parseYear mismatch on $id")
        case _ => fail(s"id does not match EV regex: $id")
      }
    }
    // the slice semantics bucket malformed ids into "" (Python id[:-19])
    assert(Stage1.parseSource("short-id") == "")
    assert(Stage1.parseYear("short-id") == "")
    matched
  }

  /** Plants predictions keyed by the gold ids: ids whose deterministic
    * hash is even predict the gold label, odd ids a fixed wrong label,
    * so each language's expected accuracy is computable exactly here.
    * Asserts Eval.langAccuracy reproduces it per language and for
    * `_ALL_` over `expectedTotal` ids; returns the planted correct count. */
  def assertLangAccuracy(spark: SparkSession, gold: Seq[(String, String)],
      expectedTotal: Long): Int = {
    import spark.implicits._
    def coin(id: String): Boolean =
      (graft.util.Mix.mix(id.hashCode.toLong) & 1L) == 0L
    val decisions = gold.map { case (id, lg) =>
      DecisionRow(id, Stage1.parseSource(id), Stage1.parseYear(id),
        len = 100, orig_lg = null, alphabetical_ratio = Some(1.0),
        lg = if (coin(id)) lg else "xx", lg_decision = "all",
        votes = Array.empty, ppl = None, keep = true,
        drop_reason = null, transcript = "", ts = "2026-08-17")
    }.toDS()
    val goldDs = gold.map { case (id, lg) =>
      GoldRow(id, lg, null, gold_keep = true, gold_scrubbed_text = null)
    }.toDS()

    val acc = Eval.langAccuracy(spark, decisions, goldDs)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2)))).toMap

    gold.groupBy(_._2).foreach { case (lang, rows) =>
      val correct = rows.count { case (id, _) => coin(id) }
      assert(acc(lang) == ((correct.toLong, rows.size.toLong)),
        s"accuracy row mismatch for $lang")
    }
    val allCorrect = gold.count { case (id, _) => coin(id) }
    assert(acc("_ALL_") == ((allCorrect.toLong, expectedTotal)))
    allCorrect
  }
}
