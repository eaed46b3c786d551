package perfbench

/** Tests of the benchmark's own code (no Spark session needed):
  *
  *   python3 perfbench/run.py --self-test
  *
  * Exits non-zero on the first failed assertion.
  */
object SelfTest {
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit = {
    body
    passed += 1
    println(s"[selftest] ok   $name")
  }

  private def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    test("same seed generates identical inputs, another seed different ones") {
      val (a, b, c) = (Gen.series(7, 3, 500), Gen.series(7, 3, 500), Gen.series(8, 3, 500))
      check(a.values.sameElements(b.values) && a.spikes == b.spikes && a.shiftAt == b.shiftAt, "series differ")
      check(!a.values.sameElements(c.values), "series ignore the seed")
      check(Gen.streamBatch(7, 4, 20, 5, 3) == Gen.streamBatch(7, 4, 20, 5, 3), "stream batches differ")
      check(Gen.streamBatch(7, 4, 20, 5, 3) != Gen.streamBatch(8, 4, 20, 5, 3), "stream batches ignore the seed")
      check(Gen.corpus(7, 5, 3, 50) == Gen.corpus(7, 5, 3, 50), "corpora differ")
      check(Gen.corpus(7, 5, 3, 50)._1 != Gen.corpus(8, 5, 3, 50)._1, "corpora ignore the seed")
    }

    test("short series plant three spikes apart from each other and the shift") {
      for (k <- 0 until 200) {
        val s = Gen.series(5, k, 67)
        val marks = s.spikes :+ s.shiftAt
        check(s.spikes.length == 3 && s.values.length == 67, s"series $k: ${s.spikes}")
        check(marks.combinations(2).forall { case Seq(a, b) => math.abs(a - b) > 67 / 16 }, s"series $k: $marks")
      }
    }

    test("stream batches plant the stated number of duplicate and late events") {
      val (rows, extra) = Gen.streamBatch(1, 3, 20, 5, 3)
      check(extra == 6 && rows.length == 20 * 5 + 6, s"rows ${rows.length}, planted $extra")
      val fresh = rows.filter(e => e.i >= 3L * 5 && e.tsMs == Gen.T0Ms + e.i * 1000L)
      check(fresh.length == 100, s"fresh rows ${fresh.length}")
    }

    test("percentile refuses a percentile with fewer than 10 samples beyond it") {
      val xs99 = (1 to 99).map(_.toDouble)
      check(Stats.percentile(xs99, 90).isEmpty, "p90 of 99 samples has 9.9 beyond it")
      check(Stats.percentile((1 to 100).map(_.toDouble), 90).exists(v => math.abs(v - 90.1) < 1e-9), "p90 of 1..100")
      check(Stats.percentile((1 to 999).map(_.toDouble), 99).isEmpty, "p99 of 999 samples")
      check(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "median")
    }

    test("span self times subtract covered child time and sum to the wall time") {
      // root [0,100): build [10,30), plan [30,40), run [40,90) with a nested child [50,60)
      val spans = Seq(
        Span(0, -1, "op", 0, 100), Span(1, 0, "client.build", 10, 30), Span(2, 0, "catalyst.plan", 30, 40),
        Span(3, 0, "exec.run", 40, 90), Span(4, 3, "inner", 50, 60))
      val st = Trace.selfTimes(spans)
      check(st == Map(0 -> 20L, 1 -> 20L, 2 -> 10L, 3 -> 40L, 4 -> 10L), s"self times $st")
      check(st.values.sum == 100L, "self times do not sum to the root")
      check(Trace.unionNs(Seq((0L, 10L), (5L, 20L), (30L, 40L))) == 30L, "union of overlapping intervals")
      check(Trace.unionNs(Seq((0L, 10L), (5L, 20L)), Some((8L, 12L))) == 4L, "clipped union")
      // jobs [42,80) inside run: gap = 100 − |build 20 ∪ plan 10 ∪ jobs 38| = 32
      check(Trace.gapNs(spans, spans.head, Seq((42L, 80L))) == 32L, "gap")
      // a build with a nested run counts only its self time
      val nested = Seq(Span(0, -1, "op", 0, 100), Span(1, 0, "client.build", 0, 100), Span(2, 1, "exec.run", 20, 70))
      check(Trace.gapNs(nested, nested.head, Seq((30L, 60L))) == 20L, "gap with nested build")
    }

    test("throughput is the median over cycles of items per second") {
      def done(cycle: Int, ms: Long, items: Long, problem: Option[String] = None) =
        Main.Done(cycle, "k", ms * 1000000L, OpOut(items, 0, problem), Vector.empty, Counters(), Workloads.noTrace)
      // per cycle: 10/s (a slow first cycle), 30/s (two operations), 20/s
      val ds = Vector(done(0, 1000, 10), done(1, 500, 15), done(1, 500, 15), done(2, 1000, 20))
      check(Main.Phase(ds, Vector.empty, 0).itemsPerS == 20.0, "median of 10, 30 and 20 per second")
      // an operation that failed its check is left out of its cycle
      val withFailed = ds :+ done(2, 4000, 20, Some("bad"))
      check(Main.Phase(withFailed, Vector.empty, 0).itemsPerS == 20.0, "failed operation counted")
    }

    test("spike check rejects a result missing a window") {
      val s = Gen.series(3, 1, 400)
      val wins = s.spikes.map(i => (s.key, s.tsMs(i) - Gen.StepMs, s.tsMs(i)))
      check(Checks.spikesCovered(Seq(s), wins).isEmpty, "all spikes covered")
      check(Checks.spikesCovered(Seq(s), wins.tail).nonEmpty, "dropped window accepted")
      check(Checks.spikesCovered(Seq(s), wins.map { case (k, a, b) => (k, a - 5 * Gen.StepMs, a - Gen.StepMs) }).nonEmpty,
        "shifted windows accepted")
    }

    test("count checks reject a changed count") {
      check(Checks.repeats("x", 5, 5).isEmpty && Checks.repeats("x", 5, 6).nonEmpty, "repeats")
      check(Checks.equalCount("x", 7, 7).isEmpty && Checks.equalCount("x", 7, 6).nonEmpty, "equalCount")
    }

    test("pair checks reject corrupted join results") {
      val (docs, groups) = Gen.corpus(11, 4, 3, 20)
      val planted = Checks.plantedPairs(docs.toMap, groups, 3, 0.5)
      check(planted.size == 4 * 3, s"planted pairs ${planted.size}")
      val good = planted.toSeq.map { case ((a, b), j) => (a, b, j) }
      check(Checks.exactPairs(planted, good).isEmpty, "exact result rejected")
      check(Checks.exactPairs(planted, good.tail).nonEmpty, "missing pair accepted")
      check(Checks.exactPairs(planted, good :+ ((-1L, -2L, 0.9))).nonEmpty, "extra pair accepted")
      check(Checks.exactPairs(planted, good.head.copy(_3 = 0.1234) +: good.tail).nonEmpty, "wrong score accepted")
      check(Checks.exactPairs(planted, good :+ good.head).nonEmpty, "duplicate pair accepted")
      check(Checks.lshPairs(planted, good.take(5), 0.5).isEmpty, "partial LSH recall rejected")
      check(Checks.lshPairs(planted, good :+ ((-1L, -2L, 0.3)), 0.5).nonEmpty, "pair below tau accepted")
      check(Checks.lshPairs(planted, good :+ ((-1L, -2L, 0.9)), 0.5).nonEmpty, "unplanted pair accepted")
    }

    println(s"[selftest] $passed passed")
  }
}
