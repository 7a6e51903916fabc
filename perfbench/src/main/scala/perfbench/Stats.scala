package perfbench

import scala.collection.mutable

import graft.changelog.{ChangelogRecord, Op, ResultTable}

/** Percentiles by linear interpolation between closest ranks (the
  * definition numpy and `statistics.quantiles(..., method="inclusive")`
  * use): p in [0, 100]; 0 for an empty sample. */
object Stats {
  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val rank = (p / 100.0) * (s.length - 1)
      val lo = math.floor(rank).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = percentile(xs, 50)

  /** Harrell–Davis estimate of the p-th percentile: a mean of every order
    * statistic, weighted by a Beta(q(n+1), (1-q)(n+1)) law, q = p / 100.
    * Used for percentiles over a handful of queries or statements. There
    * the closest-rank percentile is the time of one query, and it moves
    * with that query's noise alone. */
  def smoothPercentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    val n = s.length
    val q = p / 100.0
    if (n == 0) 0.0
    else if (n == 1 || q <= 0) s.head
    else if (q >= 1) s.last
    else {
      val a = q * (n + 1); val b = (1 - q) * (n + 1)
      var below = 0.0
      s.indices.map { i =>
        val upTo = betaCdf((i + 1).toDouble / n, a, b)
        val w = upTo - below
        below = upTo
        w * s(i)
      }.sum
    }
  }

  /** The regularized incomplete beta function I_x(a, b), by its continued
    * fraction (modified Lentz). */
  def betaCdf(x: Double, a: Double, b: Double): Double =
    if (x <= 0) 0.0
    else if (x >= 1) 1.0
    else {
      val front = math.exp(lnGamma(a + b) - lnGamma(a) - lnGamma(b) +
        a * math.log(x) + b * math.log(1 - x))
      if (x < (a + 1) / (a + b + 2)) front * betaFraction(x, a, b) / a
      else 1.0 - front * betaFraction(1 - x, b, a) / b
    }

  private def betaFraction(x: Double, a: Double, b: Double): Double = {
    val tiny = 1e-300
    def nz(v: Double) = if (math.abs(v) < tiny) tiny else v
    var c = 1.0
    var d = 1.0 / nz(1 - (a + b) * x / (a + 1))
    var h = d
    var m = 1
    var done = false
    while (!done && m <= 300) {
      val even = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
      d = 1.0 / nz(1 + even * d); c = nz(1 + even / c); h *= d * c
      val odd = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
      d = 1.0 / nz(1 + odd * d); c = nz(1 + odd / c)
      val step = d * c
      h *= step
      done = math.abs(step - 1) < 1e-15
      m += 1
    }
    h
  }

  /** ln Γ(z) for z > 0 (Lanczos, g = 7, with the reflection formula below
    * 1/2). */
  private def lnGamma(z: Double): Double =
    if (z < 0.5) math.log(math.Pi / math.abs(math.sin(math.Pi * z))) - lnGamma(1 - z)
    else {
      val g = Array(0.99999999999980993, 676.5203681218851, -1259.1392167224028,
        771.32342877765313, -176.61502916214059, 12.507343278686905,
        -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
      val zz = z - 1
      var acc = g(0)
      for (i <- 1 until g.length) acc += g(i) / (zz + i)
      val t = zz + 7.5
      0.5 * math.log(2 * math.Pi) + (zz + 0.5) * math.log(t) - t + math.log(acc)
    }
}

/** Per-event freshness for one statement: events are registered when the
  * generator creates them and resolved by the first cursor record that
  * reflects them; the sample is `reflectedAt - createdAt`. How a record
  * names the events it reflects depends on the statement, so each
  * subclass decodes that. Times are `System.nanoTime` values. */
abstract class FreshnessTracker {
  private val samples = mutable.ArrayBuffer.empty[Double]
  protected def sample(createdNs: Long, atNs: Long): Unit =
    samples += (atNs - createdNs) / 1e6
  /** Latencies in ms, in resolution order. */
  def latenciesMs: Seq[Double] = samples.toSeq
  def clearSamples(): Unit = samples.clear()
  def pending: Int
  def onRecord(rec: ChangelogRecord, atNs: Long): Unit
}

/** Append-only projections that carry an event identity (demo1's guid):
  * the record names its event. */
final class IdTracker(idCol: Int) extends FreshnessTracker {
  private val open = mutable.HashMap.empty[Any, Long]
  def register(id: Any, createdNs: Long): Unit = open(id) = createdNs
  def pending: Int = open.size
  def onRecord(rec: ChangelogRecord, atNs: Long): Unit =
    open.remove(rec.values(idCol)).foreach(sample(_, atNs))
}

/** Append-only streams under a running per-key count (demo2): a record
  * `(key, n)` reflects the first `n` events fed for that key. */
final class CountTracker(keyCol: Int, countCol: Int) extends FreshnessTracker {
  private val open = mutable.HashMap.empty[Any, mutable.Queue[Long]]
  private val resolved = mutable.HashMap.empty[Any, Long].withDefaultValue(0L)
  def register(key: Any, createdNs: Long): Unit =
    open.getOrElseUpdate(key, mutable.Queue.empty) += createdNs
  def pending: Int = open.valuesIterator.map(_.size).sum
  def onRecord(rec: ChangelogRecord, atNs: Long): Unit =
    if (!rec.op.exists(o => o == Op.UpdateBefore || o == Op.Delete)) {
      val key = rec.values(keyCol)
      val n = rec.values(countCol).asInstanceOf[Number].longValue
      val q = open.getOrElse(key, mutable.Queue.empty[Long])
      while (resolved(key) < n && q.nonEmpty) {
        sample(q.dequeue(), atNs)
        resolved(key) += 1
      }
    }
}

/** Append-only streams under a running per-key average (demo3): the
  * generator knows every prefix average of each key's values, so a record
  * `(key, avg)` reflects the shortest not-yet-resolved prefix whose average
  * it equals (to a relative 1e-9, as float sums may associate differently).
  * A record that matches no prefix resolves nothing, and its events stay
  * pending, so a wrong aggregate shows as unreflected events. */
final class AverageTracker(keyCol: Int, avgCol: Int) extends FreshnessTracker {
  private final class Key {
    val created = mutable.ArrayBuffer.empty[Long]
    val prefixAvg = mutable.ArrayBuffer.empty[Double]
    var sum = BigDecimal(0)
    var resolved = 0
  }
  private val keys = mutable.HashMap.empty[Any, Key]
  def register(key: Any, value: Double, createdNs: Long): Unit = {
    val k = keys.getOrElseUpdate(key, new Key)
    k.sum += BigDecimal(value)
    k.created += createdNs
    k.prefixAvg += (k.sum / k.created.size).toDouble
  }
  def pending: Int = keys.valuesIterator.map(k => k.created.size - k.resolved).sum
  def onRecord(rec: ChangelogRecord, atNs: Long): Unit =
    if (!rec.op.exists(o => o == Op.UpdateBefore || o == Op.Delete))
      keys.get(rec.values(keyCol)).foreach { k =>
        val v = rec.values(avgCol).asInstanceOf[Number].doubleValue
        def near(a: Double) = math.abs(a - v) <= 1e-9 * math.max(1.0, math.abs(v))
        val hit = (k.resolved until k.created.size).find(i => near(k.prefixAvg(i)))
        hit.foreach { i =>
          while (k.resolved <= i) { sample(k.created(k.resolved), atNs); k.resolved += 1 }
        }
      }
}

/** Outputs that cannot name the events they reflect (retracting folds and
  * joins): the generator interleaves probe events on a reserved key whose
  * value encodes a sequence number, and a record that decodes to probe `s`
  * reflects every probe up to `s` (pages are processed in order). */
final class ProbeTracker(decode: ChangelogRecord => Option[Long])
    extends FreshnessTracker {
  private val open = mutable.TreeMap.empty[Long, Long]
  def register(seq: Long, createdNs: Long): Unit = open(seq) = createdNs
  def pending: Int = open.size
  /** The highest probe sequence number reflected so far. */
  var reflected: Long = -1L
  def onRecord(rec: ChangelogRecord, atNs: Long): Unit =
    if (!rec.op.exists(o => o == Op.UpdateBefore || o == Op.Delete))
      decode(rec).foreach { s =>
        reflected = math.max(reflected, s)
        while (open.nonEmpty && open.head._1 <= s) {
          sample(open.head._2, atNs)
          open.remove(open.head._1)
        }
      }
}

object Probes {
  /** A probe's value: `p` + the zero-padded sequence number, so that the
    * string MAX over probes is the latest one. */
  def value(seq: Long): String = f"p$seq%012d"
  def decodeValue(v: Any): Option[Long] = v match {
    case s: String if s.length == 13 && s.charAt(0) == 'p' => s.drop(1).toLongOption
    case _ => None
  }
}

/** Structural checks of a changelog: every `-U` is immediately followed by
  * a `+U` for the same key, every `+U` is preceded by a `-U`, and replaying
  * the history (`collapsed`) retracted only rows that were present.
  * Returns the number of violations. */
object ChangelogCheck {
  def violations(records: Seq[ChangelogRecord], keyCols: Seq[Int],
                 collapsed: ResultTable): Int = {
    val history = records.toIndexedSeq
    def isOp(i: Int, op: Op) = i >= 0 && i < history.length && history(i).op.contains(op)
    val unpaired = history.indices.count { i =>
      isOp(i, Op.UpdateBefore) && !(isOp(i + 1, Op.UpdateAfter) &&
        keyCols.forall(c => history(i + 1).values(c) == history(i).values(c)))
    }
    val orphanAfter = history.indices.count(i =>
      isOp(i, Op.UpdateAfter) && !isOp(i - 1, Op.UpdateBefore))
    unpaired + orphanAfter + collapsed.missedRetractions
  }
}
