package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.GoldChecks._

/** Pins the gold reader / id parse / eval join to the REFERENCE'S OWN
  * artifact: `test/ground-truth/all.jsonl` (5,325 rows of
  * `{"id": ..., "gold_lg": ...}`), the only automated correctness
  * instrument the reference ships (lib/impresso_lid_eval.py:61-92).
  * Everything else in the suite runs on synthetic fixtures; this spec
  * proves the S10 reader, the EV:81-84 id regex semantics
  * (Stage1.parseSource/parseYear), and Eval.langAccuracy on the real
  * ids and the real label distribution. Where the artifact is absent
  * each test is CANCELED naming its path; [[GoldSampleSpec]] runs the
  * same checks on a checked-in sample everywhere.
  */
class GroundTruthSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val goldPath = "/root/reference/test/ground-truth/all.jsonl"

  private def assumeArtifact(): Unit =
    assume(Files.exists(Paths.get(goldPath)), goldPath)

  private lazy val goldLines: Seq[(String, String)] = read(spark, goldPath)

  /** 40 of the 5,325 lines are duplicate ids (no label conflicts), so
    * the effective eval universe is 5,285 unique ids. */
  private lazy val gold: Seq[(String, String)] = dictDedup(goldLines)

  test("reads all 5,325 gold lines; 5,285 unique ids after the " +
      "reference's dict dedup, with the real label distribution") {
    assumeArtifact()
    assert(goldLines.size == 5325)
    assert(gold.size == 5285)
    // label conflicts would make last-wins order-dependent — assert none
    assert(goldLines.groupBy(_._1).forall(_._2.map(_._2).distinct.size == 1))
    assert(labelDist(goldLines) == Map("de" -> 2874, "fr" -> 1613, "lb" -> 823,
      "la" -> 7, "it" -> 4, "en" -> 3, "nl" -> 1))
    assert(labelDist(gold) == Map("de" -> 2838, "fr" -> 1611, "lb" -> 822,
      "la" -> 6, "it" -> 4, "en" -> 3, "nl" -> 1))
  }

  test("every real id matches the EV regex, and parseSource/parseYear " +
      "agree with the regex captures on all 5,325 ids") {
    assumeArtifact()
    assert(assertIdsParse(goldLines) == 5325)
  }

  test("langAccuracy over planted predictions keyed by the real ids " +
      "reproduces the analytically expected accuracies") {
    assumeArtifact()
    assertLangAccuracy(spark, gold, 5285L)
  }
}
