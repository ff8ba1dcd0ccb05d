package perfbench

import java.nio.file.{Files, Paths}

/** Records the expected outputs the benchmark checks against.
  *
  *   Record clip_pipeline <bench-dir> <first-seed> <last-seed>
  *   Record query_suite <bench-dir>
  *
  * Run it only on a commit whose outputs are known to be right (for the
  * query suite: `graft.Verify` plus `scripts/compare_oracle.py` agree on
  * every oracle query). Suite results and the first seed's digest are
  * computed twice and must agree. */
object Record {
  def main(argv: Array[String]): Unit = {
    val benchDir = argv(1)
    val localDir = sys.props("perfbench.localDir")
    val spark = Main.session(localDir)
    try argv(0) match {
      case "clip_pipeline" =>
        val n = ClipPipeline.DefaultClips
        val first = argv(2).toLong
        val digests = (first to argv(3).toLong).map { seed =>
          val w = new ClipPipeline(spark, seed, n, None)
          w.generate()
          val ds = (1 to (if (seed == first) 2 else 1)).map { _ =>
            w.pass(None)
            val ops = w.check()
            require(ops.failed == 0, s"seed $seed: ${ops.errors.mkString("; ")}")
            w.lastDigest
          }
          require(ds.distinct.size == 1, s"seed $seed: unstable digest $ds")
          w.release()
          System.err.println(s"seed $seed ${ds.head} keep_f1=${w.lastF1}")
          seed.toString -> ds.head
        }
        write(s"$benchDir/expected/clip_pipeline.json", Json.obj(Seq(
          "clips" -> n, "digests" -> Json.obj(digests))))
      case "query_suite" =>
        val w = new QuerySuite(spark, s"$benchDir/data/sf0.01", Map.empty)
        val runs = (1 to 2).map { _ => w.pass(None); w.results }
        QuerySuite.Names.foreach { q =>
          require(runs.forall(_.contains(q)), s"$q failed")
          require(runs.map(_(q)).distinct.size == 1, s"$q: unstable result ${runs.map(_(q))}")
        }
        write(s"$benchDir/expected/query_suite.json", Json.obj(Seq(
          "data" -> "sf0.01", "queries" -> Json.obj(QuerySuite.Names.map { q =>
            val (rows, d) = runs.head(q)
            q -> Json.obj(Seq("rows" -> rows, "digest" -> d))
          }))))
      case other => throw new IllegalArgumentException(s"nothing to record for $other")
    } finally spark.stop()
  }

  private def write(path: String, j: Json.Obj): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), j.text + "\n")
  }
}
