package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Session
import graft.model._
import graft.operators._
import graft.sources.JsonlIO

/** spark-submit mains mirroring the reference's three CLIs (SURVEY.md
  * §3.1-3.3) plus the scrub stage. Stage boundaries are materialized
  * files (parquet by default, .jsonl dirs when the path ends in
  * `.jsonl`), exactly like the reference's per-stage outputs — which is
  * what makes runs resumable and lets machines join/leave freely
  * (README.md:350-366). [[StageIO]] is the stage-boundary IO they
  * share; every CLI builds its session with [[graft.Session.make]].
  */
object StageIO {
  def readClips(spark: SparkSession, in: String) = {
    import spark.implicits._
    if (in.contains(".jsonl")) JsonlIO.readClips(spark, in)
    else spark.read.parquet(in).as[ClipRow]
  }

  def write(df: DataFrame, out: String): Unit =
    if (out.contains(".jsonl"))
      df.write.mode("overwrite").option("ignoreNullFields", "true").json(out)
    else df.write.mode("overwrite").parquet(out)
}

/** Materialize a deterministic clip corpus (fixture generator as a CLI).
  * Usage: GenClipsApp <outDir> <nClips> */
object GenClipsApp {
  def main(args: Array[String]): Unit = {
    val Array(out, n) = args.take(2)
    val spark = Session.make("graft-genclips")
    StageIO.write(
      graft.Pipeline.clips(spark, n.toLong).toDF(), out)
    spark.stop()
  }
}

/** Stage 1a analog: clips in → per-clip LID/ppl records out.
  * Usage: Stage1App <clipsIn> <stage1Out> */
object Stage1App {
  def main(args: Array[String]): Unit = {
    val Array(in, out) = args.take(2)
    val spark = Session.make("graft-stage1")
    val s1 = Stage1(spark, StageIO.readClips(spark, in))
    StageIO.write(s1.toDF(), out)
    spark.stop()
  }
}

/** Stage 1b analog: stage-1 records in → per-source stats JSON out.
  * Usage: Stage1bApp <stage1In> <statsOut> */
object Stage1bApp {
  def main(args: Array[String]): Unit = {
    val Array(in, out) = args.take(2)
    val spark = Session.make("graft-stage1b")
    import spark.implicits._
    val s1 = spark.read.parquet(in).as[Stage1Row]
    val stats = Stage1b(spark, s1).collect().toSeq
    JsonlIO.writeStats(spark, stats, out)
    println(s"wrote ${stats.size} source-stats rows to $out")
    spark.stop()
  }
}

/** Stage 2 analog: stage-1 records + stats in → decisions out (validated
  * against the output contract, the reference's --validate analog).
  * Usage: Stage2App <stage1In> <statsIn> <decisionsOut> */
object Stage2App {
  def main(args: Array[String]): Unit = {
    val Array(in, statsIn, out) = args.take(3)
    val spark = Session.make("graft-stage2")
    import spark.implicits._
    val s1 = spark.read.parquet(in).as[Stage1Row]
    val stats = JsonlIO.readStats(spark, statsIn)
    val decisions = Stage2(spark, s1, stats)
    if (out.contains(".jsonl")) {
      // decisions JSONL uses the cleanup_attrs contract (P3): required
      // keys survive as explicit nulls, optional nulls are dropped
      JsonlIO.writeJsonlCleaned(decisions.toDF(), out,
        JsonlIO.DecisionRequired)
    } else {
      StageIO.write(decisions.toDF(), out)
      OutputContract.validateDecisions(spark, spark.read.parquet(out))
    }
    StageIO.write(graft.Pipeline.metrics(spark, decisions).toDF(),
      s"$out.metrics")
    spark.stop()
  }
}

/** Stage 3 analog: decisions in → scrubbed surviving transcripts out.
  * Usage: Stage3App <decisionsIn> <scrubbedOut> */
object Stage3App {
  def main(args: Array[String]): Unit = {
    val Array(in, out) = args.take(2)
    val spark = Session.make("graft-stage3")
    import spark.implicits._
    val decisions = spark.read.parquet(in).as[DecisionRow]
    StageIO.write(Stage3(spark, decisions).toDF(), out)
    spark.stop()
  }
}

/** Output-contract validation (the reference validates stage-2 output
  * against a published JSON Schema, EL:211-242; here the contract is the
  * explicit StructType + required-field null checks). */
object OutputContract {
  val requiredNonNull = Seq("clip_id", "source", "lg_decision", "ts")

  def validateDecisions(spark: SparkSession, df: DataFrame): Unit = {
    // nullability is normalized: a parquet round trip widens nested
    // fields to nullable, which is not a contract violation
    import org.apache.spark.sql.types._
    def norm(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, norm(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(norm(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(norm(m.keyType), norm(m.valueType), valueContainsNull = true)
      case other => other
    }
    val expected = org.apache.spark.sql.Encoders.product[DecisionRow]
      .schema.fields.map(f => f.name -> norm(f.dataType)).toMap
    val actual = df.schema.fields.map(f => f.name -> norm(f.dataType)).toMap
    require(expected.keySet.subsetOf(actual.keySet),
      s"missing fields: ${expected.keySet -- actual.keySet}")
    expected.foreach { case (n, t) =>
      require(actual(n) == t, s"field $n: expected $t got ${actual(n)}")
    }
    val bad = df.filter(requiredNonNull.map(col(_).isNull).reduce(_ || _))
      .count()
    require(bad == 0, s"$bad rows violate required-non-null contract")
  }
}
