package graft.changelog

import scala.collection.mutable

/** Row-level change operation of a retraction changelog.
  *
  * Wire codes and labels follow the reference's statement API
  * (`/root/reference/api/statements.py:161-168`): 0 `+I` insert,
  * 1 `-U` update-before, 2 `+U` update-after, 3 `-D` delete.
  */
sealed abstract class Op(val code: Int, val label: String) {
  override def toString: String = label
}
object Op {
  case object Insert extends Op(0, "+I")
  case object UpdateBefore extends Op(1, "-U")
  case object UpdateAfter extends Op(2, "+U")
  case object Delete extends Op(3, "-D")

  val all: Seq[Op] = Seq(Insert, UpdateBefore, UpdateAfter, Delete)
  private val byCode = all.map(o => o.code -> o).toMap
  private val byLabel = all.map(o => o.label -> o).toMap
  def fromCode(c: Int): Option[Op] = byCode.get(c)
  def fromLabel(l: String): Option[Op] = byLabel.get(l)
}

/** One raw record off the wire: optional op code + value row.
  * `op = None` is the append-only wire form (`{'row': [...]}`,
  * reference `api/statements.py:146-160`). */
final case class RawRecord(op: Option[Int], row: Seq[Any])

/** A validated, flattened changelog record (op resolved to a label or None
  * for append-only streams; values immutable). */
final case class ChangelogRecord(op: Option[Op], values: Vector[Any])

/** Materialized view of a changelog: an insert-ordered multiset of rows.
  *
  * Update semantics mirror the reference's `Table.update`
  * (`/root/reference/lib/flink.py:27-45`): `+I`/`+U`/no-op append; `-U`/`-D`
  * remove the first value-equal row; a missing retract target is tolerated
  * (logged + counted, not fatal).
  *
  * A retraction costs O(1): a removed row leaves a tombstone (`null`) in
  * its insertion slot, and an index from each value to its live slots,
  * ascending, names the first one. The index is built at the first
  * retraction, so an append-only table keeps no more than its rows; the
  * slots are compacted once tombstones outnumber live rows.
  */
final class ResultTable(val columns: Seq[String]) {
  private val slots = mutable.ArrayBuffer.empty[Vector[Any]]
  private var live = 0
  private var index: mutable.HashMap[Vector[Any], mutable.Queue[Int]] = null
  private var missed = 0

  /** Retractions whose target row was absent (tolerated, per reference). */
  def missedRetractions: Int = missed

  private def indexSlot(row: Vector[Any], slot: Int): Unit =
    index.getOrElseUpdate(row, mutable.Queue.empty[Int]) += slot

  private def buildIndex(): Unit = {
    index = mutable.HashMap.empty
    slots.indices.foreach(i => if (slots(i) ne null) indexSlot(slots(i), i))
  }

  private def retract(row: Vector[Any]): Unit = {
    if (index == null) buildIndex()
    index.get(row) match {
      case None =>
        System.err.println(s"no corresponding row in table to remove: $row")
        missed += 1
      case Some(at) =>
        slots(at.dequeue()) = null
        if (at.isEmpty) index.remove(row)
        live -= 1
        if (slots.length - live > math.max(live, 16)) {
          slots.filterInPlace(_ ne null)
          buildIndex()
        }
    }
  }

  def update(records: IterableOnce[ChangelogRecord]): this.type = {
    records.iterator.foreach { rec =>
      rec.op match {
        case Some(Op.Insert) | Some(Op.UpdateAfter) | None =>
          if (index != null) indexSlot(rec.values, slots.length)
          slots += rec.values
          live += 1
        case Some(Op.UpdateBefore) | Some(Op.Delete) => retract(rec.values)
      }
    }
    this
  }

  def rows: Seq[Vector[Any]] = slots.iterator.filter(_ ne null).toSeq
  def size: Int = live
  /** Order-insensitive view (a changelog determines a multiset, not an
    * order, once retractions interleave). */
  def toMultiset: Map[Vector[Any], Int] =
    rows.groupBy(identity).view.mapValues(_.size).toMap
}

/** Incremental cursor over a changelog stream.
  *
  * Mirrors the reference's `Changelog` (`/root/reference/lib/flink.py:53-131`):
  * `consume(limit)` pulls up to `limit` valid records (skipping `None`
  * heartbeats without counting them), validates arity + op code, appends to
  * an append-only `history`, and returns only the newly consumed records;
  * `collapse()` replays the whole history into a fresh [[ResultTable]].
  *
  * Contract (reference `lib/flink.py:4-20`, tested as a property): for any
  * split of the stream into consume() chunks,
  * `collapse()` == `ResultTable.update` applied chunk-by-chunk.
  */
final class Changelog(val schema: Seq[String],
                      source: Iterator[Option[RawRecord]]) {
  private val historyBuf = mutable.ArrayBuffer.empty[ChangelogRecord]
  private val opsSeen = mutable.Set.empty[Op]

  /** Result-set columns as the consumer sees them: op flattened into col 0
    * (reference `lib/flink.py:62-63`). */
  val columns: Seq[String] = "op" +: schema

  def history: Seq[ChangelogRecord] = historyBuf.toSeq
  def opsReceived: Set[Op] = opsSeen.toSet

  /** Pull up to `limit` valid records; heartbeats (`None`) are skipped and
    * do not count toward the limit. Returns only the new records. The
    * default limit reads until the source exhausts: a running streaming
    * statement's cursor never does, so pass it a bounded limit. */
  def consume(limit: Int = Int.MaxValue): Seq[ChangelogRecord] = {
    val start = historyBuf.length
    var consumed = 0
    while (consumed < limit && source.hasNext) {
      source.next() match {
        case None => // heartbeat: statement produced no rows this page
        case Some(raw) =>
          val rec = Changelog.validate(schema, raw)
          historyBuf += rec
          rec.op.foreach(opsSeen += _)
          consumed += 1
      }
    }
    historyBuf.slice(start, historyBuf.length).toSeq
  }

  /** Replay the full history into a fresh table. */
  def collapse(): ResultTable =
    new ResultTable(schema).update(historyBuf)

  /** True when the newest consumed record is an update-before — consumers
    * use this to skip rendering between a retraction and its paired
    * re-insert, avoiding visible flicker (the reference's suppression at
    * `/root/reference/dashboard.py:90-94,141-144`; sound because the sink
    * guarantees `-U` is immediately followed by its `+U`). */
  def latestIsUpdateBefore: Boolean =
    historyBuf.lastOption.exists(_.op.contains(Op.UpdateBefore))
}

object Changelog {
  /** Arity + op validation (reference `lib/flink.py:72-100`). */
  private[graft] def validate(schema: Seq[String], raw: RawRecord): ChangelogRecord = {
    require(raw.row.length == schema.length,
      s"table has ${schema.length} columns but row has ${raw.row.length}: ${raw.row}")
    val op = raw.op.map { c =>
      Op.fromCode(c).getOrElse(
        throw new IllegalArgumentException(s"invalid op code received for row: $raw"))
    }
    ChangelogRecord(op, raw.row.toVector)
  }
}
