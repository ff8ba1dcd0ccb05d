package graft

import org.apache.spark.sql.functions._
import graft.functions.AlphaRatio
import graft.lineage.Checkpoint
import graft.operators.{Diagnostics, Stage1, Stage1b, Stage2}
import graft.sources.JsonlIO
import graft.streaming.StreamingFilter

/** End-to-end tour of the secondary surfaces: JSONL IO, the native
  * alpha_ratio expression, diagnostics, checkpoint-resume, and the
  * streaming path. Usage: scripts/run.sh graft.SurfaceDemo */
object SurfaceDemo {
  def main(args: Array[String]): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("warehouse").toString
    val spark = Session.make("graft-surface-demo",
      "spark.sql.warehouse.dir" -> wh)
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("surface").toString

    // --- JSONL edge (S1/S4/S6)
    val clips = Pipeline.clips(spark, 800L)
    JsonlIO.writeJsonl(clips, s"$tmp/clips_jsonl")
    val back = JsonlIO.readClips(spark, s"$tmp/clips_jsonl/*.json")
    println(s"jsonl roundtrip: wrote ${clips.count()} read ${back.count()}")

    // --- native codegen expression, SQL + Column API
    AlphaRatio.register(spark)
    back.createOrReplaceTempView("clips")
    spark.sql("""SELECT round(alpha_ratio(transcript), 2) AS ar, count(*) AS n
                 FROM clips WHERE transcript IS NOT NULL
                 GROUP BY 1 ORDER BY n DESC LIMIT 5""").show()

    // --- stats JSON (S5/S7) + diagnostics (A13/A14)
    val s1 = Stage1(spark, back)
    val stats = Stage1b(spark, s1).collect().toSeq
    JsonlIO.writeStats(spark, stats, s"$tmp/stats")
    val statsBack = JsonlIO.readStats(spark, s"$tmp/stats")
    println(s"stats roundtrip: ${stats.size} -> ${statsBack.size} sources")
    val decisions = Stage2(spark, s1, statsBack)
    println("stage-1 counters:")
    Diagnostics.stage1Stats(spark, s1).orderBy($"stat", $"key").show(8, false)
    println("decision stats sample:")
    Diagnostics.decisionStats(spark, decisions)
      .filter($"stat" === "lg_decision")
      .groupBy($"key").agg(sum($"n").as("n")).orderBy($"n".desc).show()

    // --- checkpoint-resume (kill after 2 of 6 buckets, resume)
    def process(in: org.apache.spark.sql.Dataset[model.ClipRow]) =
      Stage2(spark, Stage1(spark, in), statsBack)
    val ck = s"$tmp/ckpt"
    val first = Checkpoint.runIncrement(spark, clips, ck, 6, process, 2)
    val resumed = Checkpoint.runIncrement(spark, clips, ck, 6, process)
    val outN = Checkpoint.readOutput(spark, ck).count()
    println(s"checkpoint: first=$first buckets, resumed=$resumed, rows=$outN")

    // --- skew: salted two-phase aggregation over a Zipf key
    val zipf = spark.range(200000)
      .withColumn("key", when($"id" % 2 === 0, 0L)
        .otherwise(pmod($"id", lit(100))))
      .withColumn("v", $"id" % 13)
    val salted = operators.Skew.saltedAgg(zipf, $"key",
      operators.Skew.saltFrom($"id", 32),
      partial = Seq(count(lit(1)).as("n"), sum($"v").as("sv")),
      merge = Seq(sum($"n").as("n"), sum($"sv").as("sv")))
    val hot = salted.orderBy(desc("n")).head
    println(s"salted agg: ${salted.count()} keys; hottest key=${hot.get(0)} n=${hot.get(1)}")

    // --- bucketed co-located join: shuffle-free after one-time bucketing
    val keyedA = spark.range(50000).select($"id".as("k"), ($"id" % 7).as("va"))
    val keyedB = spark.range(0, 50000, 2).select($"id".as("k"), ($"id" % 5).as("vb"))
    operators.Bucketing.writeBucketed(keyedA, "demo_a", "k", 8)
    operators.Bucketing.writeBucketed(keyedB, "demo_b", "k", 8)
    val bj = operators.Bucketing.bucketedJoin(spark, "demo_a", "demo_b", "k")
      .hint("merge")
    println(s"bucketed join: rows=${bj.count()} shuffle-free=${!operators.Bucketing.hasExchange(bj)}")

    // --- streaming: two micro-batches through the same transforms
    val sIn = s"$tmp/stream_in"
    clips.filter($"sr_hz" === 8000).write.mode("append").parquet(sIn)
    StreamingFilter.run(spark, sIn, statsBack, s"$tmp/stream_out",
      s"$tmp/stream_ck").awaitTermination()
    val batch1 = spark.read.parquet(s"$tmp/stream_out").count()
    clips.filter($"sr_hz" === 16000).write.mode("append").parquet(sIn)
    StreamingFilter.run(spark, sIn, statsBack, s"$tmp/stream_out",
      s"$tmp/stream_ck").awaitTermination()
    val batch2 = spark.read.parquet(s"$tmp/stream_out").count()
    println(s"streaming: after batch1=$batch1 after batch2=$batch2 (batch total=${clips.count()})")

    spark.stop()
  }
}
