package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark program. `perfbench/run.py` builds it and starts it as
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --bench-dir <dir>
  *
  * One closed loop: a single client runs one pass of the workload's
  * steps at a time in one JVM whose Spark master has as many threads as
  * the host has cores. Set-up (session, models, seeded input, warm-up
  * passes) is timed apart from the passes. Each step is timed on its
  * own; `wall_s` and `cpu_s` are the sums over steps of each step's
  * median over the passes. The last stdout line is the result JSON;
  * the line before it holds the run facts and, in a traced run, the full
  * per-layer table. Exit code 0 only if every output check passed. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, benchDir: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt, trace, get("bench-dir"))
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def session(localDir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // One query_suite pass generates more classes than the default 100
      // entries of the codegen cache, so with the default every warm pass
      // would recompile every class (cyclic LRU misses) and the JIT
      // would never settle. Cold compiles stay in the warm-up, and so in
      // setup_s; loop_codegen_compiles shows any miss in the loop.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(spark: SparkSession, a: Args): Workload = a.workload match {
    case "clip_pipeline" =>
      val n = ClipPipeline.DefaultClips
      val rec = Expected.clipDigests(a.benchDir)
      require(rec.clips == n, s"recorded digests are for ${rec.clips} clips, not $n")
      new ClipPipeline(spark, a.seed, n, rec.digests.get(a.seed))
    case "query_suite" =>
      new QuerySuite(spark, s"${a.benchDir}/data/sf0.01", Expected.suite(a.benchDir))
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  private def cpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** (steal, total) jiffies of all CPUs from /proc/stat, or None. */
  private def cpuJiffies(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  private val started = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"perfbench ${secs(started)}%7.2f s  $msg")

  /** Passes run at least this often, so each step's median has three
    * samples even for a short `--seconds`. */
  val MinPasses = 3

  /** Collection time of all garbage collectors and JIT compile time so
    * far, in seconds: where the loop's CPU time outside Spark tasks goes. */
  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  private def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  /** Janino compiles of generated code so far (codegen cache misses). */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  final case class Sample(wallS: Double, stepWallS: Seq[Double], stepCpuS: Seq[Double],
      tasks: Ledger.Snapshot, tracer: Option[Tracer])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val localDir = sys.props.getOrElse("perfbench.localDir",
      throw new IllegalArgumentException("-Dperfbench.localDir is required"))
    val tSession = System.nanoTime()
    val spark = session(localDir)
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val sessionS = secs(tSession)
    var ops = Ops.None
    var exit = 1
    try {
      val tModels = System.nanoTime()
      graft.lid.LidModels.default
      val modelsS = secs(tModels)
      val w = workload(spark, a)
      val tGen = System.nanoTime()
      w.generate()
      val genS = secs(tGen)
      val tWarm = System.nanoTime()
      (1 to w.warmups).foreach { i =>
        ops += w.pass(None)
        log(f"warm-up pass $i done")
      }
      val warmS = secs(tWarm)
      val setupS = sessionS + modelsS + genS + warmS
      log(f"set-up $setupS%.2f s: session $sessionS%.2f, models $modelsS%.2f, input $genS%.2f, warm-up $warmS%.2f")

      /** Untraced: the passes that fill `--seconds` at the workload's
        * nominal pass time, and at least [[MinPasses]]. The count is
        * fixed, not found by the clock: passes still get slightly faster
        * as the JIT works on, so a run that fitted one more pass reported
        * a lower median, which doubled the run-to-run spread. Traced: one
        * pass. */
      def timed(traced: Boolean): Seq[Sample] = {
        val passes = if (traced) 1 else math.max(MinPasses, math.round(a.seconds / w.nominalPassS).toInt)
        (1 to passes).map { _ =>
          ledger.reset()
          val tr = if (traced) Some(new Tracer(spark, ledger)) else None
          val times = w.steps.map { s =>
            val c0 = cpuNanos()
            val i0 = System.nanoTime()
            ops += w.run(s, tr)
            (secs(i0), (cpuNanos() - c0) / 1e9)
          }
          val wall = times.map(_._1).sum
          ledger.settle(spark.sparkContext)
          log(f"pass ${if (traced) "(traced) " else ""}wall $wall%.3f s, cpu ${times.map(_._2).sum}%.3f s")
          Sample(wall, times.map(_._1), times.map(_._2), ledger.all(), tr)
        }
      }

      /** sum over steps of the step's median over the samples */
      def sumOfMedians(samples: Seq[Sample], f: Sample => Seq[Double]): Double =
        samples.map(f).transpose.map(Stats.median).sum

      val j0 = cpuJiffies()
      val (gc0, jit0, cg0) = (gcS(), jitS(), codegenCompiles())
      val samples = timed(traced = false)
      val (gcLoop, jitLoop, cgLoop) = (gcS() - gc0, jitS() - jit0, codegenCompiles() - cg0)
      w.steps.indices.foreach { i =>
        log(f"step ${w.steps(i)}%-24s median wall ${Stats.median(samples.map(_.stepWallS(i)))}%.3f s, " +
          f"cpu ${Stats.median(samples.map(_.stepCpuS(i)))}%.3f s")
      }
      // share of the host's CPU time the hypervisor gave to other guests
      // while the loop ran: the usual cause of an outlier on a shared VM
      val steal = for ((s0, t0) <- j0; (s1, t1) <- cpuJiffies() if t1 > t0)
        yield (s1 - s0).toDouble / (t1 - t0)
      ops += w.check()
      log("checks done")
      val wall = sumOfMedians(samples, _.stepWallS)
      val facts = Seq[(String, Any)](
        "workload" -> a.workload, "seed" -> a.seed,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jdk" -> sys.props("java.version"), "spark" -> spark.version,
        "git_sha" -> sys.props.getOrElse("perfbench.gitSha", "unknown"),
        "item" -> w.itemName, "items" -> w.items,
        "passes" -> samples.size,
        "pass_wall_s_q1" -> Stats.quantile(samples.map(_.wallS), 0.25),
        "pass_wall_s_q3" -> Stats.quantile(samples.map(_.wallS), 0.75),
        "loop_gc_s" -> gcLoop, "loop_jit_s" -> jitLoop, "loop_codegen_compiles" -> cgLoop,
        "session_s" -> sessionS, "models_s" -> modelsS,
        "generate_s" -> genS, "warmup_s" -> warmS,
        "peak_exec_mem_mb" -> Stats.median(samples.map(_.tasks.peakMemMb)),
        "spill_mb" -> Stats.median(samples.map(_.tasks.spillMb)),
        "shuffle_mb" -> Stats.median(samples.map(_.tasks.shuffleMb))) ++
        steal.map("cpu_steal_share" -> _) ++ w.facts ++ (w match {
          case c: ClipPipeline => Seq("keep_f1" -> c.lastF1, "digest" -> c.lastDigest)
          case _ => Nil
        })
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", wall, "s"),
          ("cpu_s", sumOfMedians(samples, _.stepCpuS), "s"),
          ("items_per_s", w.items / wall, "items/s"))
        else {
          val traced = timed(traced = true)
          val tr = traced.head.tracer.get
          val total = traced.head.tasks
          val table = (w.layers(tr) ++ Micro.lid(w.sampleTexts) :+
            ("trace.task_gc_s" -> total.gcS)).toMap
          println(Json.obj(Seq("layers" -> Json.obj(table.toSeq.sortBy(_._1)))).text)
          Seq(
            ("trace.overhead_ratio", traced.head.wallS / wall, "ratio"),
            ("trace.cpu_s", total.cpuS, "s"),
            ("trace.task_s", total.taskS, "s"),
            ("trace.shuffle_mb", total.shuffleMb, "MB"),
            ("trace.spill_mb", total.spillMb, "MB"),
            ("trace.peak_exec_mem_mb", total.peakMemMb, "MB"),
            ("trace.task_skew", total.taskSkew, "ratio"),
            ("trace.tasks", total.tasks.toDouble, "count")) ++
            LidNames.map(n => (n, table(n), "us"))
        }
      ops.errors.foreach(e => System.err.println(s"CHECK FAILED $e"))
      println(Json.obj(Seq("facts" -> Json.obj(facts))).text)
      w.release()
      val correct = ops.failed == 0
      println(Json.obj(Seq(
        "correct" -> correct, "attempted" -> ops.attempted, "failed" -> ops.failed,
        "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
          n -> Json.obj(Seq("value" -> v, "unit" -> u)) }))).text)
      exit = if (correct) 0 else 1
    } finally {
      spark.stop()
    }
    sys.exit(exit)
  }

  val LidNames: Seq[String] = Seq("impresso_ft", "wp_ft", "langid_nb",
    "langdetect_nb", "lingua_rank", "impresso_lp", "charlm").map(s => s"lid.$s.us_per_text")
}
