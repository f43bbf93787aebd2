package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's timed passes driven by a fake key runner on a fake clock:
  * each evaluation advances the clock by a scripted number of seconds
  * and succeeds or fails as scripted. */
class BenchSpec extends AnyFunSuite {

  /** `script(key)` lists (seconds, succeeded) per evaluation, in order;
    * the clock starts at `start`. Seconds are dyadic so clock
    * differences are exact. Returns Bench's result plus every
    * evaluation the runner saw. */
  private def drive(script: Map[String, Seq[(Double, Boolean)]],
      start: Double = 0.0): (Seq[(String, Double)], Int, Seq[String]) = {
    var now = start
    val runs = scala.collection.mutable.ArrayBuffer.empty[String]
    val clock = () => now
    val run = (k: String) => {
      val (sec, ok) = script(k)(runs.count(_ == k))
      runs += k
      now += sec
      ok
    }
    val keys = script.keys.toSeq.sorted
    val (best, passes) =
      Bench.minOverPasses(Bench.timePass(keys, run, clock), run, clock)
    (best, passes, runs.toSeq)
  }

  test("keeps the per-key min over passes run in the same key order") {
    val (best, passes, runs) = drive(Map(
      "a" -> Seq(5.0 -> true, 1.0 -> true, 3.0 -> true),
      "b" -> Seq(2.0 -> true, 4.0 -> true, 0.5 -> true)))
    assert(passes === 3)
    assert(runs === Seq("a", "b", "a", "b", "a", "b"))
    assert(best === Seq("a" -> 1.0, "b" -> 0.5))
  }

  test("a key that fails in pass 1 is never re-run") {
    val (best, passes, runs) = drive(Map(
      "a" -> Seq(1.0 -> true, 1.0 -> true, 1.0 -> true),
      "b" -> Seq(0.25 -> false)))
    assert(passes === 3)
    assert(runs === Seq("a", "b", "a", "a"))
    assert(best === Seq("a" -> 1.0, "b" -> 0.25))
  }

  test("a key that fails on a later pass keeps its earlier time") {
    val (best, _, runs) = drive(Map(
      "a" -> Seq(3.0 -> true, 0.125 -> false, 2.0 -> true)))
    assert(runs === Seq("a", "a", "a"))
    assert(best === Seq("a" -> 2.0))
  }

  test("no evaluation starts once the clock reaches the cap") {
    // pass 1 totals 1500 s from a clock at 0, so the cap is
    // max(1200, 1.5 × 1500) = 2250 s: pass 2 starts a at 1500 and b at
    // 2000, and c (at 2500) and all of pass 3 never start
    val slow = Seq.fill(3)(500.0 -> true)
    val (best, passes, runs) =
      drive(Map("a" -> slow, "b" -> slow, "c" -> slow))
    assert(passes === 2)
    assert(runs === Seq("a", "b", "c", "a", "b"))
    assert(best.map(_._2) === Seq(500.0, 500.0, 500.0))
    // the cap is at least 1200 s of process wall: a clock that starts
    // past it (a long warmup) allows no second pass at all
    val (_, passesLate, runsLate) =
      drive(Map("a" -> Seq(1.0 -> true)), start = 1200.0)
    assert(passesLate === 1)
    assert(runsLate === Seq("a"))
  }
}
