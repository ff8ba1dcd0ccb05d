package perfbench

import org.apache.spark.sql.Row

/** The benchmark's own tests; `perfbench/test_perfbench.py` runs them.
  * Prints one line per test and exits non-zero if any failed. */
object SelfTest {
  private var failed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch { case e: Throwable => failed += 1; println(s"FAIL $name: $e") }

  private def expect(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    test("digest does not depend on row order") {
      val rows = (0 until 200).map(i => Row(s"clip$i", i % 3 == 0, if (i % 5 == 0) null else "short_text", i * 0.1))
      val d = Digest.ofRows(rows.iterator)
      val rnd = new scala.util.Random(7)
      (1 to 5).foreach { _ =>
        expect(Digest.ofRows(rnd.shuffle(rows).iterator) == d, "shuffled rows changed the digest")
      }
      expect(Digest.ofRows(rows.reverse.grouped(7).flatMap(_.reverse)) == d, "regrouped rows changed the digest")
    }

    test("digest sees changed, missing and duplicated rows") {
      val rows = (0 until 50).map(i => Row(i.toLong, s"t$i"))
      val d = Digest.ofRows(rows.iterator)
      expect(Digest.ofRows(rows.updated(3, Row(3L, "t3x")).iterator) != d, "changed row not seen")
      expect(Digest.ofRows(rows.tail.iterator) != d, "missing row not seen")
      expect(Digest.ofRows((rows :+ rows.head).iterator) != d, "duplicated row not seen")
    }

    test("digest rounds doubles and ignores array element order") {
      expect(Digest.canon(Row(0.1 + 0.2)) == Digest.canon(Row(0.3)), "0.1+0.2 vs 0.3")
      expect(Digest.canon(Row(-0.0)) == Digest.canon(Row(0.0)), "-0.0 vs 0.0")
      expect(Digest.canon(Row(0.3001)) != Digest.canon(Row(0.3)), "0.3001 collapsed to 0.3")
      expect(Digest.canon(Row(Seq("b", "a"))) == Digest.canon(Row(Seq("a", "b"))), "array order")
    }

    test("same seed gives the same clip_pipeline input, another seed another") {
      def corpus(seed: Long) = (0L until 300L).map(i => graft.model.ClipGen.clipAt(i, seed)._1)
      def key(c: graft.model.ClipRow) = Digest.canon(Row(c.clip_id, c.bytes, c.sr_hz, c.dur_ms,
        c.codec, c.transcript, c.orig_lg))
      val a = corpus(11L).map(key)
      expect(a == corpus(11L).map(key), "seed 11 differs between calls")
      val c = corpus(12L).map(key)
      expect(a.zip(c).count { case (x, y) => x != y } > 250, "seeds 11 and 12 give mostly the same clips")
    }

    if (failed > 0) { println(s"$failed test(s) failed"); sys.exit(1) }
  }
}
