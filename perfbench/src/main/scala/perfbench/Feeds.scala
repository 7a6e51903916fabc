package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.changelog.{ChangelogRecord, ResultTable}

/** Keyed changelog feeds (`seq, key, id, value, delete`) under three
  * ThroughputSpec statement shapes, each statement with its own feeds:
  *  - `fold`: WHERE + GROUP BY key with count/max on feed A (driver fold);
  *  - `join2`: A ⋈ B on key (upsert IVM);
  *  - `cascade`: A ⋈ B on key ⋈ C on B.id (different-key Z-set joins).
  *
  * Traffic: keys 0..Keys-1 drawn from a Zipf law with exponent
  * [[Feeds.ZipfExponent]]; A and B hold about 10 live ids per key, C about
  * 2 live ids per B id. A change deletes a live id with probability 0.2
  * and otherwise upserts an id from the key's pool (an update when it is
  * live). Key -1 is reserved for probes: B and C hold one anchor row each
  * so that every probe on A surfaces as one output record in all three
  * statements, with the probe's sequence number encoded in its value. */
object Feeds {
  type Change = (Long, Long, Long, String, Boolean)
  final case class Page(a: Seq[Change], b: Seq[Change], c: Seq[Change],
                        probes: Seq[Long]) {
    def size: Int = a.size + b.size + c.size
  }

  val Keys = 16
  val ZipfExponent = 1.0
  val IdsPerKey = 12
  val LiveIdsPerKey = 10
  val CIdsPerBId = 3
  val LiveCPerBId = 2
  val DeleteShare = 0.2
  /** Steady phase: 10 changes (plus one probe) every 0.5 s. */
  val PageChanges = 10
  /** Drain phase: changes in one backlog page, split over A, B and C. */
  val BacklogChanges = 2000

  val ProbeKey = -1L
  val AnchorB = 2999999L
  val AnchorC = 3999999L
  val ProbeIdBase = 1000000000L
  def aId(key: Long, r: Int): Long = 1000000L + key * 100 + r
  def bId(key: Long, r: Int): Long = 2000000L + key * 100 + r
  def cId(bid: Long, r: Int): Long = 3000000L + (bid - 2000000L) * 10 + r

  def newFeed(spark: SparkSession, name: String): MemoryStream[Change] = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val m = MemoryStream[Change]
    m.toDF().toDF("seq", "key", "id", "value", "delete").createOrReplaceTempView(name)
    m
  }

  /** One throwaway fold statement, to warm the streaming code paths. */
  def warm(spark: SparkSession): Unit = {
    val m = newFeed(spark, "warm_feed")
    val st = new graft.api.Statements(spark).create(
      "SELECT key, count(*) AS cnt FROM warm_feed GROUP BY key")
    m.addData(Seq((1L, 1L, 1L, "w", false)))
    spark.streams.active.find(_.name == st.name).get.processAllAvailable()
    st.stop()
  }

  val Fold = "SELECT key, count(*) AS cnt, max(value) AS mx FROM fold_a " +
    "WHERE value IS NOT NULL GROUP BY key"
  val Join2 = "SELECT * FROM join2_a a JOIN join2_b b ON a.key = b.key"
  val Cascade = "SELECT * FROM cascade_a a JOIN cascade_b b ON a.key = b.key " +
    "JOIN cascade_c c ON b.id = c.key"
}

final class Feeds(a: Main.Args, tracer: Tracer)
    extends StreamingWorkload[Feeds.Page](a, tracer) {
  import Feeds._

  private val zipfCdf: Array[Double] = {
    val w = (1 to Keys).map(k => 1.0 / math.pow(k, ZipfExponent))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def zipfKey(): Long = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    (if (i >= 0) i else math.min(-i - 1, Keys - 1)).toLong
  }

  /** Live rows per feed, id → (seq, key, value): the generator's own
    * materialization, which the batch reference reads. */
  private val live = Seq.fill(3)(mutable.LinkedHashMap.empty[Long, (Long, Long, String)])
  private val seqs = Array(0L, 0L, 0L)
  private var probeSeq = 0L

  private def change(feed: Int, key: Long, id: Long, value: String,
                     delete: Boolean): Change = {
    seqs(feed) += 1
    if (delete) live(feed).remove(id) else live(feed)(id) = (seqs(feed), key, value)
    (seqs(feed), key, id, value, delete)
  }
  private def value(): String = s"v${rnd.nextInt(1000)}"

  /** One random change on feed `f` (0 = A, 1 = B, 2 = C). */
  private def randomChange(f: Int): Change = {
    val (key, pool) = f match {
      case 0 => val k = zipfKey(); (k, (0 until IdsPerKey).map(aId(k, _)))
      case 1 => val k = zipfKey(); (k, (0 until IdsPerKey).map(bId(k, _)))
      case _ =>
        val bid = bId(zipfKey(), rnd.nextInt(IdsPerKey))
        (bid, (0 until CIdsPerBId).map(cId(bid, _)))
    }
    val liveIds = pool.filter(live(f).contains)
    if (liveIds.nonEmpty && rnd.nextDouble() < DeleteShare) {
      val id = liveIds(rnd.nextInt(liveIds.size))
      change(f, key, id, live(f)(id)._3, delete = true)
    } else change(f, key, pool(rnd.nextInt(pool.size)), value(), delete = false)
  }

  private def probe(): (Change, Long) = {
    probeSeq += 1
    (change(0, ProbeKey, ProbeIdBase + probeSeq, Probes.value(probeSeq),
      delete = false), probeSeq)
  }

  private def page(n: Int): Page = {
    val cs = Seq.fill(n)(rnd.nextInt(3)).map(f => f -> randomChange(f))
    val (p, s) = probe()
    Page(cs.collect { case (0, c) => c } :+ p, cs.collect { case (1, c) => c },
      cs.collect { case (2, c) => c }, Seq(s))
  }

  /** The first page: every statement's initial live rows and the anchors. */
  def firstPage(): Page = {
    val as = for (k <- 0L until Keys; r <- 0 until LiveIdsPerKey)
      yield change(0, k, aId(k, r), value(), delete = false)
    val bs = (for (k <- 0L until Keys; r <- 0 until LiveIdsPerKey)
      yield change(1, k, bId(k, r), value(), delete = false)) :+
      change(1, ProbeKey, AnchorB, "anchor", delete = false)
    val cs = (for (k <- 0L until Keys; r <- 0 until LiveIdsPerKey;
                   j <- 0 until LiveCPerBId)
      yield change(2, bId(k, r), cId(bId(k, r), j), value(), delete = false)) :+
      change(2, AnchorB, AnchorC, "anchor", delete = false)
    val (p, s) = probe()
    Page(as :+ p, bs, cs, Seq(s))
  }
  def steadyPage(): Page = page(PageChanges)
  def backlogPage(): Page = page(BacklogChanges)
  def pageEvents(p: Page): Int = p.size

  def loadTables(spark: SparkSession): Unit = ()

  def warmStatement(spark: SparkSession): Unit = Feeds.warm(spark)

  /** A statement over `roles` of the page (0 = A, 1 = B, 2 = C), its views
    * named `<prefix>_a/_b/_c`; `project` maps the batch SQL's columns onto
    * the continuous view's (the batch `SELECT *` also returns each side's
    * seq and delete columns, which the maintained view does not serve). */
  private final class FeedSubject(label: String, sql: String, prefix: String,
                                  roles: Seq[Int], project: Seq[Int],
                                  val keyCols: Seq[Int])
      extends Subject[Page](label, sql) {
    private var mems: Seq[MemoryStream[Change]] = Nil
    private def view(r: Int) = s"${prefix}_${"abc" (r)}"
    val tracker = new ProbeTracker((rec: ChangelogRecord) =>
      rec.values.iterator.map(Probes.decodeValue).collectFirst { case Some(s) => s })
    def register(spark: SparkSession): Unit =
      mems = roles.map(r => Feeds.newFeed(spark, view(r)))
    def feed(p: Page): Unit = roles.zip(mems).foreach { case (r, m) =>
      val cs = Seq(p.a, p.b, p.c)(r)
      if (cs.nonEmpty) m.addData(cs)
    }
    def expect(p: Page, t: Long): Unit = p.probes.foreach(tracker.register(_, t))
    def staticViews(spark: SparkSession): Unit = {
      import spark.implicits._
      roles.foreach { r =>
        live(r).toSeq.map { case (id, (seq, key, v)) => (seq, key, id, v, false) }
          .toDF("seq", "key", "id", "value", "delete")
          .createOrReplaceTempView(view(r))
      }
    }
    override def compare(collapsed: ResultTable, batch: Seq[Seq[Any]]): Int =
      Layers.diff(collapsed.rows, batch.map(row => project.map(row)))
  }

  def subjects: Seq[Subject[Page]] = Seq(
    new FeedSubject("fold", Fold, "fold", Seq(0), Seq(0, 1, 2), Seq(0)),
    new FeedSubject("join2", Join2, "join2", Seq(0, 1), Seq(1, 2, 3, 7, 8), Seq(0)),
    new FeedSubject("cascade", Cascade, "cascade", Seq(0, 1, 2),
      Seq(1, 2, 3, 6, 7, 8, 11, 12, 13), Seq(0)))
}
