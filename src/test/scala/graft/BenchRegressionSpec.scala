package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression gate's pure core: prior-median parsing, the
  * 1.5×-and-0.25s diff rule (round 9's +25% graph-family drift went
  * unnoticed for a full round — this is the tripwire), and which samples
  * count as warm or leave a query cold-only. */
class BenchRegressionSpec extends AnyFunSuite {

  test("parseMedians reads the audit file's medians object") {
    val txt =
      """{"sf":"/x/sf0.1","n":3,"cpus":4,"runs":{"q_a":[0.5,0.6,0.4]},
        |"medians":{"q_a":0.5,"q_b":1.25,"q_c":-1.0}}""".stripMargin
    val m = Bench.parseMedians(txt)
    assert(m("q_a") === 0.5)
    assert(m("q_b") === 1.25)
    assert(m("q_c") === -1.0)
  }

  test("parseMedians stops at the medians object's closing brace") {
    // keys emitted AFTER medians (the audit format already grew
    // "baseline"/"regressions" before it) must not leak into the
    // baseline map — that would corrupt the regression gate (ADVICE r10)
    val txt =
      """{"medians":{"q_a":0.5,"q_b":1.25},
        |"extra":{"q_a":99.0,"q_z":7.0}}""".stripMargin
    val m = Bench.parseMedians(txt)
    assert(m === Map("q_a" -> 0.5, "q_b" -> 1.25))
  }

  test("parseMedians is empty on garbage or a missing medians key") {
    assert(Bench.parseMedians("not json") === Map.empty)
    assert(Bench.parseMedians("""{"runs":{"q_a":[1.0]}}""") === Map.empty)
  }

  test("regression rule: >1.5x AND >0.25s absolute, worst first") {
    val prior = Map("q_a" -> 1.0, "q_b" -> 0.1, "q_c" -> 2.0, "q_d" -> 1.0)
    val now = Seq(
      "q_a" -> 1.8,  // 1.8x and +0.8s -> regressed
      "q_b" -> 0.3,  // 3x but only +0.2s -> noise, kept out
      "q_c" -> 2.6,  // +0.6s but only 1.3x -> not regressed
      "q_d" -> 3.0,  // 3x and +2s -> regressed, worst
      "q_new" -> 9.9) // no baseline -> skipped
    val r = Bench.regressionsOf(prior, now)
    assert(r.map(_._1) === Seq("q_d", "q_a"))
    assert(r.head === ("q_d", 1.0, 3.0))
  }

  test("failed runs (median -1) never count as regressions or baselines") {
    assert(Bench.regressionsOf(Map("q_a" -> -1.0), Seq("q_a" -> 5.0)).isEmpty)
    assert(Bench.regressionsOf(Map("q_a" -> 1.0), Seq("q_a" -> -1.0)).isEmpty)
  }

  test("contextScale: median per-query ratio, robust to a regressed minority") {
    // 30 queries uniformly 1.3x slower (a busier box) + 5 real 3x
    // regressions: the scale must read ~1.3, not be dragged by the 5
    val prior = (1 to 35).map(i => s"q_$i" -> 1.0).toMap
    val med = (1 to 30).map(i => s"q_$i" -> 1.3) ++
      (31 to 35).map(i => s"q_$i" -> 3.0)
    val s = Bench.contextScale(prior, med)
    assert(math.abs(s - 1.3) < 1e-9, s.toString)
    // and the gate then flags ONLY the real five (3.0 > 1.5*1.0*1.3)
    val r = Bench.regressionsOf(prior, med, s)
    assert(r.map(_._1).toSet === (31 to 35).map(i => s"q_$i").toSet)
  }

  test("contextScale: clamped, and 1.0 under 20 shared queries") {
    val prior = (1 to 25).map(i => s"q_$i" -> 1.0).toMap
    // 10x uniform would mask real drift entirely — clamp at 2
    assert(Bench.contextScale(prior,
      (1 to 25).map(i => s"q_$i" -> 10.0)) === 2.0)
    assert(Bench.contextScale(prior,
      (1 to 25).map(i => s"q_$i" -> 0.1)) === 0.5)
    // too few shared queries to estimate context: no normalization
    assert(Bench.contextScale(Map("q_1" -> 1.0),
      Seq("q_1" -> 1.3)) === 1.0)
  }

  test("context normalization never hides SWEEP-wide real drift") {
    // the clamp bounds what normalization can absorb: a uniform 4x
    // slowdown still flags every query even at max scale (4 > 1.5*2)
    val prior = (1 to 30).map(i => s"q_$i" -> 1.0).toMap
    val med = (1 to 30).map(i => s"q_$i" -> 4.0)
    val s = Bench.contextScale(prior, med)
    assert(Bench.regressionsOf(prior, med, s).size === 30)
  }

  test("parseCpus reads the audit context; mismatch means skip-the-diff") {
    assert(Bench.parseCpus("""{"sf":"x","n":3,"cpus":32,"runs":{}}""")
      === Some(32))
    assert(Bench.parseCpus("""{"cpus":"4"}""") === Some(4))
    assert(Bench.parseCpus("""{"sf":"x"}""") === None)
  }

  /** Record samples the way the sweep does: each (sample, taken in a warm
    * pass) goes into the query's runs, and into its warm samples when
    * `tagsWarm` accepts it given the runs before it. */
  private def record(
      samples: (Double, Boolean)*): (Vector[Double], Vector[Double]) =
    samples.foldLeft((Vector.empty[Double], Vector.empty[Double])) {
      case ((runs, warm), (s, warmPass)) =>
        (runs :+ s, if (Bench.tagsWarm(runs, warmPass)) warm :+ s else warm)
    }

  test("cold_only needs a successful sample: a lone failed pass 0 is only failed") {
    assert(!Bench.isColdOnly(Vector(-1.0), Vector.empty))
    assert(!Bench.isColdOnly(Vector.empty, Vector.empty))
    assert(Bench.isColdOnly(Vector(3.2), Vector.empty))
    assert(Bench.isColdOnly(Vector(-1.0, 3.2), Vector.empty))
    assert(!Bench.isColdOnly(Vector(3.2, 0.9), Vector(0.9)))
  }

  test("warm tagging: the first success after a failed pass 0 is a cold sample") {
    // pass 0 fails; pass 1's success still pays JIT and first builds
    val (runs, warm) = record(-1.0 -> false, 3.2 -> true, 0.9 -> true)
    assert(runs === Vector(-1.0, 3.2, 0.9))
    assert(warm === Vector(0.9))
    val (runs1, warm1) = record(-1.0 -> false, 3.2 -> true)
    assert(warm1.isEmpty && Bench.isColdOnly(runs1, warm1))
    // a query the warmup skipped: its first sample is cold too
    assert(record(2.5 -> true, 0.7 -> true)._2 === Vector(0.7))
    // after a success, every warm-pass sample is warm, failures included
    assert(record(2.0 -> false, 0.8 -> true, -1.0 -> true)._2 ===
      Vector(0.8, -1.0))
    // pass-0 samples are never warm
    assert(record(2.0 -> false, 1.5 -> false)._2.isEmpty)
  }
}
