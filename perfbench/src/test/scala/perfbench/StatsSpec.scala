package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.changelog.{ChangelogRecord, Op, ResultTable}

class StatsSpec extends AnyFunSuite {
  private def rec(op: Op, vs: Any*) = ChangelogRecord(Some(op), vs.toVector)
  private val ms = 1000000L

  test("percentiles interpolate between closest ranks") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.median(xs) == 5.5)
    assert(math.abs(Stats.percentile(xs, 99) - 9.91) < 1e-9)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.percentile(Nil, 50) == 0.0)
    // order of the sample does not matter
    assert(Stats.percentile(xs.reverse, 90) == Stats.percentile(xs, 90))
  }

  test("the smooth percentile weights every order statistic by a beta law") {
    // I_x(a, b) against closed forms: Beta(1, 1) is uniform, and
    // I_x(4, 4) = sum_{j=4..7} C(7, j) x^j (1-x)^(7-j)
    assert(math.abs(Stats.betaCdf(0.3, 1, 1) - 0.3) < 1e-12)
    def i44(x: Double) = (4 to 7).map { j =>
      (1 to 7).product / ((1 to j).product * (1 to 7 - j).product) *
        math.pow(x, j) * math.pow(1 - x, 7 - j) }.sum
    Seq(0.1, 0.4, 0.5, 0.8).foreach(x =>
      assert(math.abs(Stats.betaCdf(x, 4, 4) - i44(x)) < 1e-12))
    // non-integer parameters: the two halves of the fraction agree at 1/2
    assert(math.abs(Stats.betaCdf(0.5, 0.8, 0.8) - 0.5) < 1e-12)
    // the median of seven values: weights of I_x(4, 4) over sevenths
    val xs = Seq(0.3, 0.4, 0.5, 0.6, 0.8, 1.0, 2.0)
    assert(math.abs(Stats.smoothPercentile(xs, 50) - 0.654652398235429) < 1e-12)
    assert(math.abs(Stats.smoothPercentile((1 to 7).map(_.toDouble), 50) - 4.0) < 1e-12)
    assert(Stats.smoothPercentile(xs.reverse, 90) == Stats.smoothPercentile(xs, 90))
    assert(Stats.smoothPercentile(xs, 50) < Stats.smoothPercentile(xs, 90))
    assert(Stats.smoothPercentile(xs, 99) < xs.max)
    assert(Stats.smoothPercentile(Seq(7.0), 99) == 7.0)
    assert(Stats.smoothPercentile(Nil, 50) == 0.0)
  }

  test("an id-carrying record resolves exactly its own event") {
    val t = new IdTracker(0)
    t.register("g1", 0L); t.register("g2", 100 * ms)
    t.onRecord(ChangelogRecord(None, Vector("g2", 1.0, 2.0)), 250 * ms)
    assert(t.latenciesMs == Seq(150.0))
    assert(t.pending == 1)
    t.onRecord(ChangelogRecord(None, Vector("g1", 1.0, 2.0)), 400 * ms)
    assert(t.latenciesMs == Seq(150.0, 400.0) && t.pending == 0)
  }

  test("a running count resolves the first n events of its key") {
    val t = new CountTracker(0, 1)
    Seq(0L, 10L, 20L).foreach(c => t.register("blue", c * ms))
    t.register("brown", 5 * ms)
    t.onRecord(rec(Op.Insert, "blue", 2L), 100 * ms)
    assert(t.latenciesMs == Seq(100.0, 90.0))
    // the retraction half of an update resolves nothing
    t.onRecord(rec(Op.UpdateBefore, "blue", 2L), 200 * ms)
    assert(t.pending == 2)
    t.onRecord(rec(Op.UpdateAfter, "blue", 3L), 200 * ms)
    assert(t.latenciesMs.last == 180.0)
    assert(t.pending == 1) // brown is still unseen
  }

  test("a running average resolves the prefix it equals, and nothing else") {
    val t = new AverageTracker(0, 1)
    t.register("40s", 10.0, 0L)
    t.register("40s", 20.0, 10 * ms)
    t.register("40s", 60.0, 20 * ms)
    // 15.0 is the average of the first two events only
    t.onRecord(rec(Op.Insert, "40s", 15.0), 50 * ms)
    assert(t.latenciesMs == Seq(50.0, 40.0))
    // a value no prefix has (a wrong aggregate) leaves the event pending
    t.onRecord(rec(Op.UpdateAfter, "40s", 31.0), 60 * ms)
    assert(t.pending == 1)
    t.onRecord(rec(Op.UpdateAfter, "40s", 30.0), 70 * ms)
    assert(t.latenciesMs.last == 50.0 && t.pending == 0)
  }

  test("probe-key path: a probe value resolves every probe up to it") {
    assert(Probes.decodeValue(Probes.value(42L)).contains(42L))
    assert(Probes.decodeValue("v42").isEmpty && Probes.decodeValue(7L).isEmpty)
    // string MAX over probe values is the latest probe
    assert(Seq(9L, 10L, 100L).map(Probes.value).max == Probes.value(100L))
    val t = new ProbeTracker(r =>
      r.values.iterator.map(Probes.decodeValue).collectFirst { case Some(s) => s })
    (1L to 4L).foreach(s => t.register(s, s * 100 * ms))
    // a fold's row for the probe key: (key, count, max(value))
    t.onRecord(rec(Op.UpdateAfter, -1L, 3L, Probes.value(3L)), 500 * ms)
    assert(t.latenciesMs == Seq(400.0, 300.0, 200.0))
    assert(t.reflected == 3L && t.pending == 1)
    // retractions carry the old probe value and must not count
    t.onRecord(rec(Op.UpdateBefore, -1L, 4L, Probes.value(4L)), 600 * ms)
    assert(t.pending == 1)
    // a join row: the probe value sits among the other side's columns
    t.onRecord(rec(Op.Insert, -1L, 1000000004L, Probes.value(4L), 7L, "anchor"), 700 * ms)
    assert(t.pending == 0 && t.latenciesMs.last == 300.0)
    val all = t.latenciesMs
    assert(Stats.percentile(all, 50) == 300.0)
  }

  test("a well-formed changelog has no violations") {
    val h = Seq(rec(Op.Insert, "blue", 1L), rec(Op.UpdateBefore, "blue", 1L),
      rec(Op.UpdateAfter, "blue", 2L), rec(Op.Insert, "green", 1L),
      rec(Op.Delete, "green", 1L))
    val collapsed = new ResultTable(Seq("k", "n")).update(h)
    assert(ChangelogCheck.violations(h, Seq(0), collapsed) == 0)
    assert(collapsed.rows == Seq(Vector("blue", 2L)))
  }

  test("a dropped +U is counted as a violation") {
    val h = Seq(rec(Op.Insert, "blue", 1L), rec(Op.UpdateBefore, "blue", 1L),
      rec(Op.Insert, "green", 1L))
    val collapsed = new ResultTable(Seq("k", "n")).update(h)
    assert(ChangelogCheck.violations(h, Seq(0), collapsed) == 1)
    // a +U without its -U, and a pair whose keys differ, count too
    val h2 = Seq(rec(Op.UpdateAfter, "blue", 2L))
    assert(ChangelogCheck.violations(h2, Seq(0),
      new ResultTable(Seq("k", "n")).update(h2)) == 1)
    val h3 = Seq(rec(Op.Insert, "blue", 1L), rec(Op.UpdateBefore, "blue", 1L),
      rec(Op.UpdateAfter, "green", 2L))
    assert(ChangelogCheck.violations(h3, Seq(0),
      new ResultTable(Seq("k", "n")).update(h3)) == 1)
  }

  test("a missed retraction is counted as a violation") {
    val h = Seq(rec(Op.Insert, "blue", 1L), rec(Op.Delete, "blue", 2L))
    val collapsed = new ResultTable(Seq("k", "n")).update(h)
    assert(collapsed.missedRetractions == 1)
    assert(ChangelogCheck.violations(h, Seq(0), collapsed) == 1)
  }

  test("row-set comparison tolerates float association, not wrong values") {
    assert(Layers.diff(Seq(Seq("a", 0.1 + 0.2)), Seq(Seq("a", 0.3))) == 0)
    assert(Layers.diff(Seq(Seq("a", 1L)), Seq(Seq("a", 1))) == 0)
    assert(Layers.diff(Seq(Seq("a", 0.31)), Seq(Seq("a", 0.3))) == 2)
    assert(Layers.diff(Seq(Seq("a", 1L), Seq("a", 1L)), Seq(Seq("a", 1L))) == 1)
  }

  test("the registry slice takes one reproducible query per family") {
    val names = Seq("q10_x", "q2_y", "q1_z", "p3_a", "p12_b", "demo1_user_locations",
      "demo2_eye_colors", "d1_a", "v1_a", "t1_a", "m2_a", "m1_a")
    assert(Registry.slice(names) == Seq("q1_z", "p3_a", "d1_a", "v1_a", "t1_a",
      "m1_a", "demo2_eye_colors"))
  }
}
