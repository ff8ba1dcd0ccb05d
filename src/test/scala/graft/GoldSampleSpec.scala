package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.GoldChecks._
import graft.operators.Stage1

/** [[GroundTruthSpec]]'s checks on `ground-truth/gold-sample.jsonl`, a
  * checked-in gold file of the reference's shape: 40 lines of
  * `{"id": "<coll>-YYYY-MM-DD-a-iNNNN", "gold_lg": ...}` over six
  * collections (one with a hyphen in its name), seven languages, and
  * four duplicate-id lines with equal labels, 36 unique ids. Needs
  * nothing outside the repository. */
class GoldSampleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val goldPath = java.nio.file.Paths.get(
    getClass.getResource("/ground-truth/gold-sample.jsonl").toURI).toString

  private lazy val goldLines: Seq[(String, String)] = read(spark, goldPath)
  private lazy val gold: Seq[(String, String)] = dictDedup(goldLines)

  test("sample gold: reads 40 lines; 36 unique ids after the dict dedup, " +
      "with the planted label distribution") {
    assert(goldLines.size == 40)
    assert(gold.size == 36)
    assert(goldLines.groupBy(_._1).forall(_._2.map(_._2).distinct.size == 1))
    assert(labelDist(goldLines) == Map("de" -> 15, "fr" -> 8, "lb" -> 6,
      "nl" -> 4, "en" -> 3, "it" -> 2, "la" -> 2))
    assert(labelDist(gold) == Map("de" -> 13, "fr" -> 8, "lb" -> 6,
      "en" -> 3, "nl" -> 2, "it" -> 2, "la" -> 2))
  }

  test("sample gold: every id matches the EV regex, and parseSource/" +
      "parseYear agree with the regex captures on all 40 ids") {
    assert(assertIdsParse(goldLines) == 40)
    assert(gold.map(g => Stage1.parseSource(g._1)).toSet ==
      Set("GDL", "JDG", "IMP", "luxwort", "obermosel", "la-gazette"))
  }

  test("sample gold: langAccuracy over planted predictions reproduces " +
      "the analytically expected accuracies") {
    val correct = assertLangAccuracy(spark, gold, 36L)
    // the plant must exercise both outcomes
    assert(correct > 0 && correct < gold.size)
  }
}
