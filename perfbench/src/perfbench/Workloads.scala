package perfbench

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Pipeline
import graft.lid.LidModels
import graft.model.ClipRow
import graft.operators._

/** Outcome of one step or check: operations attempted and failed,
  * with one message per failure. */
final case class Ops(attempted: Long, failed: Long, errors: Seq[String] = Nil) {
  def +(o: Ops): Ops = Ops(attempted + o.attempted, failed + o.failed, errors ++ o.errors)
}

object Ops {
  val None: Ops = Ops(0, 0)
  def check(what: String, ok: Boolean, detail: => String): Ops =
    if (ok) Ops(1, 0) else Ops(1, 1, Seq(s"$what: $detail"))
}

/** One benchmark workload: a seeded input built in set-up, a pass of
  * timed steps that call the program on it (optionally under a
  * [[Tracer]]), and the checks of the program's outputs. */
trait Workload {
  /** What an item is (clip, query) and how many one pass does. */
  def itemName: String
  def items: Long
  /** Untimed passes before the loop. */
  def warmups: Int
  /** Wall time of one warm pass on a 4-vCPU host; the loop runs
    * `--seconds` / this many passes. */
  def nominalPassS: Double
  /** Build the seeded input and materialize it. */
  def generate(): Unit
  def facts: Seq[(String, Any)]
  /** The steps of one pass, in the order they run. Each is timed on its
    * own, so a stall in one step spoils one sample of that step only. */
  def steps: Seq[String]
  def run(step: String, tr: Option[Tracer]): Ops
  def pass(tr: Option[Tracer]): Ops = steps.map(run(_, tr)).reduce(_ + _)
  /** Checks on the last pass's outputs, after timing. */
  def check(): Ops
  /** Per-layer table from one traced pass's spans. */
  def layers(tr: Tracer): Seq[(String, Double)]
  /** Fixed sample of the workload's texts for the single-thread LID timings. */
  def sampleTexts: Seq[String]
  def release(): Unit
}

/** The stage-1→3 clip pipeline over a seeded `ClipGen` corpus. */
final class ClipPipeline(spark: SparkSession, seed: Long, n: Long,
    expected: Option[String]) extends Workload {
  val itemName = "clip"
  def items: Long = n
  /** where per-pass CPU time had mostly stopped falling (JIT and codegen
    * settled) on a 4-vCPU host */
  val warmups = 4
  val nominalPassS = 3.0
  val steps = Seq("pipeline")
  private val parts = spark.sparkContext.defaultParallelism
  private var clips: Dataset[ClipRow] = _
  private var last: Pipeline.Result = _
  private var traced: Dataset[graft.model.Stage1Row] = _

  def generate(): Unit = {
    clips = Pipeline.clips(spark, n, seed, parts).persist(StorageLevel.MEMORY_AND_DISK)
    clips.count()
  }

  def facts: Seq[(String, Any)] = Seq("clips" -> n,
    "digest_recorded" -> expected.isDefined)

  private def drop(r: Pipeline.Result): Unit =
    if (r != null) r.stage1.unpersist(blocking = true)

  def run(step: String, tr: Option[Tracer]): Ops = tr match {
    case None =>
      drop(last)
      val r = Pipeline.run(spark, clips)
      r.scrubbed.count()
      Pipeline.metrics(spark, r.decisions).count()
      last = r
      Ops(1, 0)
    case Some(t) =>
      if (traced != null) traced.unpersist(blocking = true)
      val s1 = t.span("pipeline.stage1") {
        val s = Stage1(spark, clips).persist(StorageLevel.MEMORY_AND_DISK)
        s.count(); s
      }
      val stats = t.span("pipeline.stage1b")(Stage1b(spark, s1).collect().toSeq)
      val dec = t.span("pipeline.stage2") {
        val d = Stage2(spark, s1, stats).persist(StorageLevel.MEMORY_AND_DISK)
        d.count(); d
      }
      val scr = t.span("pipeline.stage3") {
        val x = Stage3(spark, dec).persist(StorageLevel.MEMORY_AND_DISK)
        x.count(); x
      }
      t.span("pipeline.metrics")(Pipeline.metrics(spark, dec).count())
      dec.unpersist(); scr.unpersist()
      traced = s1
      Ops(1, 0)
  }

  def check(): Ops = {
    val gold = Pipeline.gold(spark, n, seed).persist(StorageLevel.MEMORY_AND_DISK)
    val f1 = Eval.keepF1(spark, last.decisions, gold)
    lastF1 = f1.f1
    val (eq, tot) = Eval.scrubEquality(spark, last.scrubbed, gold)
    gold.unpersist()
    val d = Digest.hex(ClipPipeline.digest(last))
    lastDigest = d
    Ops.check("keep_f1", f1.f1 >= 0.99, s"${f1.f1} < 0.99") +
      Ops.check("scrubbed text", eq == tot, s"$eq of $tot kept transcripts equal gold") +
      expected.fold(Ops.None)(e => Ops.check("digest", d == e, s"$d != recorded $e"))
  }

  var lastF1: Double = Double.NaN
  var lastDigest: String = ""

  def layers(tr: Tracer): Seq[(String, Double)] = {
    val stages = Seq("stage1", "stage1b", "stage2", "stage3", "metrics")
    val per = stages.flatMap { s =>
      val sp = tr.spans(s"pipeline.$s")
      Seq(s"pipeline.$s.wall_s" -> sp.wallS, s"pipeline.$s.cpu_s" -> sp.tasks.cpuS,
        s"pipeline.$s.gc_s" -> sp.tasks.gcS, s"pipeline.$s.shuffle_mb" -> sp.tasks.shuffleMb,
        s"pipeline.$s.task_skew" -> sp.tasks.taskSkew)
    }
    // rows that passed the validity gate, and per system the rows among
    // them that got no prediction (Stage1 turns detector exceptions
    // into nulls)
    val systems = LidModels.default.systems.map(_._1)
    val passed = col("skip_reason").isNull
    val agg = traced.toDF().agg(count(lit(1)),
      sum(when(passed, 1L).otherwise(0L)) +:
        systems.map(s => sum(when(passed && col(s).isNull, 1L).otherwise(0L))): _*).head
    val rowsIn = agg.getLong(0)
    val nulls = systems.zipWithIndex.map { case (s, i) =>
      s"lid.$s.null_rows" -> agg.getLong(i + 2).toDouble }
    val decode = Micro.usPer(sampleClips)(c => graft.codec.Audio.decode(c.codec, c.bytes))
    per ++ Seq("pipeline.gate_pass_share" -> agg.getLong(1).toDouble / rowsIn,
      "codec.audio_decode.us_per_clip" -> decode) ++ nulls
  }

  private lazy val sampleClips: Seq[ClipRow] = clips.limit(Micro.SampleSize).collect().toSeq

  def sampleTexts: Seq[String] = sampleClips.map(_.transcript)
    .filter(t => t != null && t.trim.length >= Stage1.Params().minimalTextLength)

  def release(): Unit = {
    drop(last)
    if (traced != null) traced.unpersist(blocking = true)
    if (clips != null) clips.unpersist(blocking = true)
  }
}

object ClipPipeline {
  val DefaultClips = 40000L

  /** Digest of (clip_id, keep, drop_reason, scrubbed transcript) over all
    * decisions; the transcript is null for dropped clips. */
  def digest(r: Pipeline.Result): Long = {
    val spark = r.decisions.sparkSession
    import spark.implicits._
    r.decisions.select($"clip_id", $"keep", $"drop_reason")
      .join(r.scrubbed.select($"clip_id", $"scrubbed_text"), Seq("clip_id"), "left")
      .mapPartitions(it => Iterator(Digest.ofRows(it)))
      .collect().sum
  }
}

/** Single-thread per-call latencies of the program's row-level kernels. */
object Micro {
  val SampleSize = 256
  private val MinNanos = 40L * 1000 * 1000

  /** Microseconds per call of `f` over `xs`: one warm pass, then whole
    * passes until at least 40 ms have been timed. */
  def usPer[A](xs: Seq[A])(f: A => Any): Double = {
    require(xs.nonEmpty, "empty micro-benchmark sample")
    var sink = 0
    xs.foreach(x => sink += f(x).##)
    var calls = 0L
    val t0 = System.nanoTime()
    var el = 0L
    while (el < MinNanos) {
      xs.foreach(x => sink += f(x).##)
      calls += xs.size
      el = System.nanoTime() - t0
    }
    blackhole = sink // keeps the JIT from dropping the calls
    el / 1e3 / calls
  }

  @volatile private var blackhole = 0

  def lid(texts: Seq[String]): Seq[(String, Double)] = {
    val m = LidModels.default
    m.systems.map { case (s, d) => s"lid.$s.us_per_text" -> usPer(texts)(d.predict) } :+
      ("lid.charlm.us_per_text" -> usPer(texts)(m.charLm.perplexity))
  }
}

/** A fixed list of `SparkEntry.queries` over the benchmark's copy of the
  * sf0.01 test tables. Each query is one step, forced by collecting its
  * rows; after timing, each query's row count and digest must match the
  * values recorded for it. */
final class QuerySuite(spark: SparkSession, dataDir: String,
    expected: Map[String, (Long, String)]) extends Workload {
  val itemName = "query"
  def items: Long = QuerySuite.Names.size
  /** every plan once, which also absorbs the first-query artefact seen
    * on `a12_dominant` in earlier Bench rounds, then once more: after one
    * warm-up pass the first timed passes were still clearly slower */
  val warmups = 2
  val nominalPassS = 4.0
  val steps: Seq[String] = QuerySuite.Names
  private val fns = graft.SparkEntry.queries

  def generate(): Unit = ()
  def facts: Seq[(String, Any)] = Seq("queries" -> items,
    "data" -> new java.io.File(dataDir).getName)

  /** rows per query from the last pass; a query that threw has none */
  private val rows = scala.collection.mutable.HashMap.empty[String, Array[Row]]

  def run(q: String, tr: Option[Tracer]): Ops = {
    def go(): Ops =
      try { rows(q) = fns(q)(spark, dataDir).collect(); Ops(1, 0) }
      catch { case scala.util.control.NonFatal(e) => rows.remove(q); Ops(1, 1, Seq(s"$q failed: $e")) }
    tr.fold(go())(t => t.span(s"suite.$q")(go()))
  }

  /** Row count and digest of each query that returned rows in the last pass. */
  def results: Map[String, (Long, String)] = rows.map { case (q, rs) =>
    q -> (rs.length.toLong, Digest.hex(Digest.ofRows(rs.iterator)))
  }.toMap

  def check(): Ops = {
    val got = results
    QuerySuite.Names.filter(got.contains).map { q =>
      val g = got(q)
      expected.get(q) match {
        case Some(e) => Ops.check(q, e == g, s"got rows=${g._1} digest=${g._2}, recorded rows=${e._1} digest=${e._2}")
        case scala.None => Ops.check(q, ok = false, "no recorded result")
      }
    }.foldLeft(Ops.None)(_ + _)
  }

  def layers(tr: Tracer): Seq[(String, Double)] = {
    val byLayer = QuerySuite.Layer.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (l, qs) => s"suite.$l.wall_s" -> qs.map(q => tr.wall(s"suite.${q._1}")).sum }
    val shuffle = tr.spans.values.map(_.tasks.shuffleMb).sum
    byLayer :+ ("suite.shuffle_mb" -> shuffle)
  }

  lazy val sampleTexts: Seq[String] =
    spark.read.parquet(s"$dataDir/documents.parquet").select("text")
      .orderBy("doc_id").limit(Micro.SampleSize).collect().map(_.getString(0)).toSeq

  def release(): Unit = rows.clear()
}

object QuerySuite {
  /** The queries of one pass, each with the name its time is reported
    * under in the traced run: its own for the dedup, `sim_*` and `mm_*`
    * queries, else its group.
    *
    * Not the whole `SparkEntry.queries` surface: one pass over its 85
    * non-pipeline queries takes ~48 s warm and ~85 s cold on 4 cores,
    * more than a whole run may take. The list keeps a query from every
    * group, and reaches every layer `clip_pipeline` does not: relational
    * plans (q3, w1), the reference analyses (a12, the stage-2 cascade),
    * the text and sampling tiers, the `functions` codegen expressions
    * (alpha ratio, simhash, vector ops), `Dedup` (MinHash-LSH and
    * SimHash in star mode), the audio `Fft` tier, `Similarity` and
    * `Multimodal`. */
  val Layer: Map[String, String] = Map(
    "a12_dominant" -> "reference",
    "cascade_decide" -> "reference",
    "dedup_audio_neardup" -> "dedup_audio_neardup",
    "dedup_minhash_lsh_star" -> "dedup_minhash_lsh_star",
    "dedup_simhash_star" -> "dedup_simhash_star",
    "mm_resize" -> "mm_resize",
    "p1_alpha_ratio" -> "reference",
    "q3_revenue_topk" -> "relational",
    "sample_stratified" -> "sample",
    "sim_topk_bruteforce" -> "sim_topk_bruteforce",
    "text_tokens" -> "text",
    "w1_running_sum" -> "relational")

  /** in name order */
  val Names: Seq[String] = Layer.keys.toSeq.sorted
}
