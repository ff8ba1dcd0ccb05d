package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.model._
import graft.operators._

object SparkTestSession {
  // a fixed local[4] keeps partition-dependent expectations host-independent;
  // fresh warehouse per test JVM: a stale location from a previous run
  // makes saveAsTable fail even on a fresh in-memory catalog
  lazy val spark: SparkSession = Session.make("graft-test",
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val N = 4000L

  lazy val clipsDs = Pipeline.clips(spark, N, partitions = 4)
  lazy val goldDs = Pipeline.gold(spark, N)
  lazy val result = Pipeline.run(spark, clipsDs)

  test("stage1: every clip passes through (invalid rows not dropped)") {
    assert(result.stage1.count() == N)
  }

  test("plan audit: stage1/stage2/scrub are Exchange-free (ARCHITECTURE claims)") {
    // the zero-shuffle claims the scale story rests on, pinned so a
    // refactor can't silently introduce a wide dependency
    val s1Plan = Stage1(spark, clipsDs).queryExecution.executedPlan.toString
    assert(!s1Plan.contains("Exchange"), s"stage1 shuffled:\n$s1Plan")
    val decPlan = Stage2(spark, result.stage1, result.stats)
      .queryExecution.executedPlan.toString
    assert(!decPlan.contains("Exchange"), s"stage2 shuffled:\n$decPlan")
    val scrubPlan = result.scrubbed.queryExecution.executedPlan.toString
    assert(!scrubPlan.contains("Exchange"), s"scrub shuffled:\n$scrubPlan")
    // lineage metrics likewise (mapPartitions fold, counters only)
    val mPlan = Pipeline.metrics(spark, result.decisions)
      .queryExecution.executedPlan.toString
    assert(!mPlan.contains("Exchange"), s"metrics shuffled:\n$mPlan")
  }

  test("stage1b: stats per source with sane fields") {
    val stats = result.stats
    assert(stats.nonEmpty && stats.size <= ClipGen.sources.size)
    stats.foreach { s =>
      val plan = ClipGen.sources.find(_.name == s.source).get
      assert(s.n > 0, s"source ${s.source} has n=0")
      assert(s.dominant_language == plan.dominant,
        s"${s.source}: dominant ${s.dominant_language} != planted ${plan.dominant}")
      // planted orig accuracy far from the 0.75 trust boundary
      val support = s.overall_orig_lg_support.getOrElse(0.0)
      if (plan.origAccuracy > 0.75) assert(support > 0.75,
        s"${s.source}: support $support but planted acc ${plan.origAccuracy}")
      else assert(support < 0.75,
        s"${s.source}: support $support but planted acc ${plan.origAccuracy}")
      // relfreq denominator is n for ALL systems (A4 note, NS:583-585):
      // the orig_lg pseudo-LID is present on ~80% of rows, so its
      // distribution must sum to the presence rate, NOT be normalized
      // to 1 over its own total
      val ensDist = s.lid_distributions.getOrElse("ensemble", Map.empty)
      assert(ensDist.values.sum <= 1.0 + 1e-6)
      val origDist = s.lid_distributions.getOrElse("orig_lg", Map.empty)
      if (s.n > 50) {
        val origSum = origDist.values.sum
        assert(origSum > 0.6 && origSum < 0.95,
          s"${s.source}: orig_lg dist sums to $origSum — denominator is " +
            "not n (should be the 0.8 presence rate, not 1.0)")
      }
    }
  }

  test("A9/A10: orig_lg_total counts undecided-ensemble rows (NS:532-534)") {
    import VotesFixtures._
    import spark.implicits._
    // row 1: one lone system + orig -> every voter scores 1 < 1.5 ->
    // ensemble undecided; reference still counts it in the denominator
    // len 300 x ratio 0.8 = 240 clears the F4 stats gate (>= 200)
    val rows = Seq(
      row(preds = Map("impresso_ft" -> "fr"), orig = "de", len = 300),
      row(preds = all("de"), orig = "de", len = 300),
      row(preds = all("de"), orig = "fr", len = 300))
    val st = Stage1b(spark, spark.createDataset(rows)).collect().head
    assert(st.orig_lg_total_decisions == 3L)
    assert(math.abs(st.overall_orig_lg_support.get - 1.0 / 3) < 1e-9,
      st.overall_orig_lg_support.toString)
    assert(st.orig_lg_ensemble_disagreements == Map("fr->de" -> 1L))
  }

  test("keep/drop F1 >= 0.99 vs gold (BASELINE.md target)") {
    val f1 = Eval.keepF1(spark, result.decisions, goldDs)
    info(f1.toString)
    assert(f1.f1 >= 0.99, f1)
  }

  test("language accuracy on KEPT rows >= 0.995") {
    // kept rows are the fluent ones; short/undecodable rows legitimately
    // carry dominant/null lg per the cascade, so they are excluded here
    import spark.implicits._
    val kept = result.decisions.filter($"keep")
    val acc = Eval.langAccuracy(spark, kept.as[DecisionRow], goldDs)
      .collect().map(r => (r.getString(0), r.getDouble(3))).toMap
    info(acc.toString)
    assert(acc("_ALL_") >= 0.995, acc)
  }

  test("scrubbed transcripts byte-equal gold post-scrub text") {
    val (eq, total) = Eval.scrubEquality(spark, result.scrubbed, goldDs)
    info(s"$eq / $total byte-equal")
    assert(total > 0 && eq == total)
  }

  test("decision codes match gold where gold pins one (>= 0.98 agreement)") {
    val cells = Eval.decisionAgreement(spark, result.decisions, goldDs)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val total = cells.map(_._2).sum
    val agree = cells.filter(c => c._1._1 == c._1._2).map(_._2).sum
    info(s"agreement $agree/$total; confusion=${cells.filter(c => c._1._1 != c._1._2).toSeq}")
    assert(agree.toDouble / total >= 0.98)
  }

  test("per-item eval rows enable error analysis (EV:105-122 analog)") {
    import spark.implicits._
    val items = Eval.perItem(spark, result.decisions, goldDs)
    // one row per gold-labeled item; correct <=> lg == gold_lg
    val goldLabeled = goldDs.filter($"gold_lg".isNotNull).count()
    assert(items.count() == goldLabeled)
    val wrong = items.filter(!$"correct" || $"correct".isNull).collect()
    // the aggregate accuracy must be reproducible from the per-item rows
    val acc = 1.0 - wrong.length.toDouble / goldLabeled
    info(f"per-item acc=$acc%.4f wrong=${wrong.length}")
    // error analysis: every wrong row exposes prediction + gold + the
    // decision code that produced it
    wrong.take(5).foreach(r => info(r.toString))
    assert(wrong.forall(r => !r.isNullAt(3))) // lg_decision present
  }

  test("metrics: per-partition lineage rows cover all inputs") {
    val m = Pipeline.metrics(spark, result.decisions).collect()
    assert(m.map(_.rows_in).sum == N)
    val kept = result.decisions.filter(_.keep).count()
    assert(m.map(_.rows_out).sum == kept)
    // drop reasons account for every dropped row
    val dropped = m.flatMap(_.drop_reasons.toSeq).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).sum }
    assert(dropped.values.sum == N)
    info(dropped.toString)
  }

  test("LSH observability rows land in the metrics-table adapter " +
      "(100-TB operators trend candidate counts per run)") {
    import spark.implicits._
    operators.Dedup.drainLshMetrics() // isolate from earlier suites
    val docs = (0L until 200L).map(i =>
      (i, "metrics corpus doc shared boilerplate line " + (i % 4)))
      .toDF("doc_id", "text")
    operators.Dedup.minHashLsh(docs, "doc_id", "text",
      threshold = 0.7, collectMetrics = true)
    val m = operators.Dedup.lshMetricsDf(spark)
    assert(m.columns.toSet == Set("tier", "pair_mode", "n_rows",
      "n_buckets", "max_bucket", "candidate_pairs",
      "allpairs_candidates", "survivor_pairs"))
    val rows = m.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("tier") == "minhash_lsh")
    assert(r.getAs[Long]("max_bucket") >= 50,
      "the planted 4-template corpus must show its hot buckets")
    assert(r.getAs[Long]("allpairs_candidates") >=
      r.getAs[Long]("candidate_pairs"))
    // the adapter drains: a second read is empty (each run's rows are
    // appended to the lineage table exactly once)
    assert(operators.Dedup.lshMetricsDf(spark).isEmpty)

    // durable path: counters from TWO runs append under the checkpoint
    // dir with run labels and survive the in-memory queue's drain
    val dir = java.nio.file.Files.createTempDirectory("lshm").toString
    operators.Dedup.minHashLsh(docs, "doc_id", "text",
      threshold = 0.7, collectMetrics = true)
    assert(lineage.Checkpoint.appendLshMetrics(spark, dir, "run1") == 1)
    operators.Dedup.minHashLsh(docs, "doc_id", "text",
      threshold = 0.7, pairMode = "star", collectMetrics = true)
    assert(lineage.Checkpoint.appendLshMetrics(spark, dir, "run2") == 1)
    assert(lineage.Checkpoint.appendLshMetrics(spark, dir, "idle") == 0)
    val durable = lineage.Checkpoint.readLshMetrics(spark, dir)
    assert(durable.count() == 2)
    assert(durable.select("run").collect().map(_.getString(0)).toSet ==
      Set("run1", "run2"))
  }
}
