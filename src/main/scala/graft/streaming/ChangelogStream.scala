package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.changelog.{Changelog, ChangelogRecord, Op, RawRecord}

/** Synthesizes a Flink-style retraction changelog (`+I/-U/+U/-D`) from
  * Spark Structured Streaming output.
  *
  * Spark's `outputMode("update")` emits only the *new* value of changed
  * groups — there is no public update-before. The reference's consumers
  * remove retracted rows by value equality
  * (`/root/reference/lib/flink.py:27-45`), so the sink must remember the
  * previous row per group key and emit `(-U old, +U new)` pairs with the old
  * value bit-exact. `-U` immediately precedes its `+U` (pairs are emitted
  * adjacently), which the reference's flicker-suppression logic relies on
  * (`/root/reference/dashboard.py:90-91`).
  *
  * Scale note: state here is one row per *output group* (dashboard-sized,
  * e.g. 5 eye colors), not per input row — the heavy aggregation state lives
  * in Spark's StateStore on the executors. The sink only sees the per-batch
  * delta, so its cost is O(changed groups per micro-batch).
  *
  * `evictIdx`, when set, names the output column holding a group's
  * event-time upper bound (e.g. `window.end`): [[evictBefore]] then emits
  * `-D` with the group's final value once the watermark passes it — the
  * deletion the reference's wire format carries
  * (`/root/reference/api/statements.py:168`) but Spark's update mode never
  * surfaces.
  */
final class ChangelogSynthesizer(schema: Seq[String], keyCols: Seq[String],
                                 evictIdx: Option[Int] = None) {
  private val keyIdx: Seq[Int] = keyCols.map(schema.indexOf)
  require(!keyIdx.contains(-1),
    s"key columns $keyCols not all present in schema $schema")

  private val state = mutable.LinkedHashMap.empty[Vector[Any], Vector[Any]]

  /** Live group count — the bound on how many `-D`s a snapshot diff can
    * emit beyond its batch rows, which the sinks' single bounded collect
    * reserves room for (see RecordLog.boundedCollect). */
  def size: Int = state.size

  private def key(row: Vector[Any]): Vector[Any] = keyIdx.map(row).toVector

  /** One update-mode micro-batch: rows are the new values of changed keys. */
  def onUpsert(rows: Seq[Vector[Any]]): Seq[ChangelogRecord] =
    rows.flatMap { r =>
      state.put(key(r), r) match {
        case None => Seq(ChangelogRecord(Some(Op.Insert), r))
        case Some(old) if old == r => Seq.empty // no-op update: emit nothing
        case Some(old) => Seq(
          ChangelogRecord(Some(Op.UpdateBefore), old),
          ChangelogRecord(Some(Op.UpdateAfter), r))
      }
    }

  private def epochMillis(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime
    case i: java.time.Instant => i.toEpochMilli
    // TIMESTAMP_NTZ rows collect as LocalDateTime; the engine pins the
    // session to UTC (EngineSession/Bench), so NTZ values are UTC instants
    case d: java.time.LocalDateTime => d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case l: java.lang.Long => l.longValue()
    case other => throw new IllegalArgumentException(
      s"eviction column must be a timestamp, got: $other")
  }

  /** Emit `-D` (with the final value) for every group whose event-time
    * bound is strictly before the watermark, and forget it. Strictly-before
    * keeps the `-D` non-spurious: a group AT the watermark can still
    * legally update. A group whose eviction value is null is treated as
    * not-yet-evictable (kept), never as a crash. No-op when no eviction
    * column was configured. */
  def evictBefore(watermarkMillis: Long): Seq[ChangelogRecord] =
    evictIdx match {
      case None => Seq.empty
      case Some(i) =>
        val dead = state.iterator
          .filter { case (_, row) =>
            row(i) != null && epochMillis(row(i)) < watermarkMillis
          }
          .map(_._1).toVector
        dead.map(k => ChangelogRecord(Some(Op.Delete), state.remove(k).get))
    }

  /** One complete-mode micro-batch: rows are the *entire* result. Diffs
    * against previous snapshot, so dropped groups emit `-D` (the case
    * update mode cannot express). */
  def onSnapshot(rows: Seq[Vector[Any]]): Seq[ChangelogRecord] = {
    val seen = mutable.Set.empty[Vector[Any]]
    val out = mutable.ArrayBuffer.empty[ChangelogRecord]
    rows.foreach { r =>
      val k = key(r)
      seen += k
      state.put(k, r) match {
        case None => out += ChangelogRecord(Some(Op.Insert), r)
        case Some(old) if old == r => ()
        case Some(old) =>
          out += ChangelogRecord(Some(Op.UpdateBefore), old)
          out += ChangelogRecord(Some(Op.UpdateAfter), r)
      }
    }
    state.keys.filterNot(seen).toVector.foreach { k =>
      out += ChangelogRecord(Some(Op.Delete), state.remove(k).get)
    }
    out.toSeq
  }
}

/** Attaches a changelog-synthesizing sink to a streaming DataFrame and
  * exposes the result as a [[graft.changelog.Changelog]] — the Spark
  * replacement for the reference's statement-results loop
  * (`/root/reference/api/statements.py:96-169` +
  * `/root/reference/lib/flink.py`): each micro-batch ≙ one result page.
  *
  * These sinks are **result consumption, not ETL**: emitted records are
  * retained driver-side so any number of cursors can replay them (the
  * reference's `results()` also re-pages from the first page). The
  * retention is bounded by `maxBufferedRecords` — a query that outgrows it
  * fails fast with a clear error instead of silently exhausting driver
  * memory. Route large results through a real sink (parquet/Kafka), not
  * this facade.
  */
object ChangelogStream {

  /** Default cap on driver-retained changelog records (dashboard-sized
    * results are thousands of rows; a million signals misuse). */
  val DefaultMaxBufferedRecords: Int = 1 << 20

  /** Append-only, bounded record log. Every sink moves its micro-batch to
    * the driver through [[boundedCollect]], one Spark pass per batch.
    * Cursors read at their own offset and never steal from each other
    * (unlike a shared destructive queue); records appended after a cursor
    * is created are still seen by it. */
  private final class RecordLog(maxRecords: Int) {
    private val buf = mutable.ArrayBuffer.empty[RawRecord]

    def append(recs: Seq[RawRecord]): Unit = synchronized {
      if (buf.length + recs.length > maxRecords)
        throw new IllegalStateException(
          s"changelog sink exceeded maxBufferedRecords=$maxRecords: these " +
            "sinks retain results driver-side for cursor replay and are " +
            "meant for dashboard-sized result consumption, not ETL — " +
            "consume a bounded query, or write large results to a real sink")
      buf ++= recs
    }

    /** The micro-batch's rows, collected in ONE pass whose driver
      * transfer is fail-fast-bounded: `limit(cap + 1).collect()` moves at
      * most one row past `cap` — enough to raise the documented over-cap
      * error — so a catch-up batch larger than driver memory can never
      * OOM the driver. An under-cap batch is never truncated: the limit
      * only stops the scan early once cap+1 rows arrived, so every
      * partition, and the state-store stage under it (which loads and
      * commits its state per task), runs exactly once per batch.
      *
      * The append sinks (appending / deltaPassthrough) emit one record
      * per row, so their cap is the log's remaining capacity. A
      * synthesizer sink passes its `synth`: N rows can emit up to 2N
      * records (a `-U/+U` pair per changed group) plus one `-D` per live
      * group dropped from a snapshot diff, so its batch is bounded by
      * `(remaining − synth.size) / 2` rows — emissions ≤ 2·cap +
      * synth.size ≤ remaining. That makes this guard the ONLY failure
      * point: it fires before any synthesizer mutation or log append, so
      * a failed batch never leaves synthesizer state ahead of the log. */
    def boundedCollect(batch: DataFrame,
                       synth: Option[ChangelogSynthesizer] = None)
        : Seq[Vector[Any]] = {
      val remaining = synchronized(maxRecords - buf.length)
      val cap = synth.fold(remaining)(s =>
        math.max(0, (remaining - s.synchronized(s.size)) / 2))
      val rows = batch.limit(cap + 1).collect()
      if (rows.length > cap)
        throw new IllegalStateException(
          s"changelog sink micro-batch exceeds remaining capacity $cap of " +
            s"maxBufferedRecords=$maxRecords, stopped at ${cap + 1} rows " +
            "before collecting the rest: these sinks retain results " +
            "driver-side for cursor replay and are meant for " +
            "dashboard-sized result consumption, not ETL — consume a " +
            "bounded query, or write large results to a real sink")
      rows.toSeq.map(_.toSeq.toVector)
    }

    private def logSize: Int = synchronized(buf.length)
    private def at(i: Int): RawRecord = synchronized(buf(i))

    /** Live non-destructive cursor from offset 0: exhausts when caught up
      * with everything appended so far, sees later appends on re-poll. */
    def cursor(): Iterator[Option[RawRecord]] = new Iterator[Option[RawRecord]] {
      private var off = 0
      override def hasNext: Boolean = off < logSize
      override def next(): Option[RawRecord] = {
        val r = at(off); off += 1; Some(r)
      }
    }
  }

  final class Handle private[ChangelogStream] (
      getQuery: () => StreamingQuery,
      val schema: Seq[String],
      log: RecordLog) {
    def query: StreamingQuery = getQuery()
    /** Fresh independent cursor over everything this sink has emitted so
      * far (and live for whatever it emits later). Cursors replay from the
      * beginning and do not interfere with each other. */
    def changelog(): Changelog = new Changelog(schema, records())
    /** The same cursor as raw records, without a [[Changelog]]'s history. */
    def records(): Iterator[Option[RawRecord]] = log.cursor()

    /** Process all currently-available input synchronously (test hook). */
    def processAllAvailable(): Unit = query.processAllAvailable()
    def stop(): Unit = query.stop()
  }

  /** Current watermark of a running query in epoch millis, if one exists.
    * Read from the last progress event, so it reflects the previous batch
    * — eviction therefore lags one micro-batch, which only delays (never
    * falsifies) a `-D`. */
  private def watermarkMillis(q: StreamingQuery): Option[Long] =
    Option(q).flatMap(q => Option(q.lastProgress))
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .flatMap { iso =>
        try Some(java.time.Instant.parse(iso).toEpochMilli)
        catch { case _: java.time.format.DateTimeParseException => None }
      }
      .filter(_ > 0L)

  /** Start an updating (grouped-aggregate) query with `-U/+U` synthesis.
    * `keyCols` are the grouping columns identifying a result row.
    * `evictBy` optionally names a timestamp output column (a group's
    * event-time upper bound, e.g. the aggregation window's `end`): once the
    * query's watermark passes it, the sink emits a single `-D` carrying the
    * group's final value — mirroring state eviction as the deletion the
    * changelog wire format expects. */
  def updating(df: DataFrame, queryName: String, keyCols: Seq[String],
               trigger: Trigger = Trigger.ProcessingTime(0),
               evictBy: Option[String] = None,
               maxBufferedRecords: Int = DefaultMaxBufferedRecords): Handle = {
    val schema = df.schema.fieldNames.toSeq
    val evictIdx = evictBy.map { c =>
      val i = schema.indexOf(c)
      require(i >= 0, s"evictBy column $c not in output schema $schema")
      // fail at setup, not per-row inside a running foreachBatch: the
      // eviction comparison needs an event-time-comparable type
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      val dt = df.schema.fields(i).dataType
      require(dt == TimestampType || dt == TimestampNTZType || dt == LongType,
        s"evictBy column $c must be timestamp or epoch-millis long, got $dt")
      i
    }
    val synth = new ChangelogSynthesizer(schema, keyCols, evictIdx)
    val log = new RecordLog(maxBufferedRecords)
    // the closure needs the query for watermark lookup, but the query only
    // exists after start(): late-bound reference, with a by-name registry
    // fallback for batches that complete before start() returns (batch 0
    // would otherwise see null and silently skip eviction). The lookup
    // goes through the ORIGINAL session's StreamingQueryManager — inside
    // foreachBatch, `batch.sparkSession` is the cloned micro-batch
    // session whose manager holds no registered queries. Eviction still
    // lags one micro-batch (lastProgress semantics, see watermarkMillis) —
    // a -D can be DELAYED, never falsified.
    val ownerSession = df.sparkSession
    @volatile var queryRef: StreamingQuery = null
    val query = df.writeStream
      .outputMode("update")
      .queryName(queryName)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // one bounded pass, checked before any state mutation (see
        // boundedCollect): a high-cardinality grouping in a catch-up
        // micro-batch must error via the documented cap, not OOM the driver
        val rows = log.boundedCollect(batch, Some(synth))
        val q = Option(queryRef).orElse(
          ownerSession.streams.active.find(_.name == queryName))
        val recs = synth.synchronized {
          val upserts = synth.onUpsert(rows)
          val evicted = q.flatMap(watermarkMillis(_))
            .map(synth.evictBefore).getOrElse(Seq.empty)
          upserts ++ evicted
        }
        log.append(recs.map(r => RawRecord(r.op.map(_.code), r.values)))
        ()
      }
      .start()
    queryRef = query
    new Handle(() => query, schema, log)
  }

  /** Start a complete-mode query with full-snapshot diffing: each batch
    * carries the entire result, and groups that leave it (e.g. crossing a
    * HAVING-style threshold) emit `-D` — the transition update mode cannot
    * express. Only for small (dashboard-sized) results: the snapshot is
    * O(result), though never O(input). */
  def snapshotting(df: DataFrame, queryName: String, keyCols: Seq[String],
                   trigger: Trigger = Trigger.ProcessingTime(0),
                   maxBufferedRecords: Int = DefaultMaxBufferedRecords): Handle = {
    val schema = df.schema.fieldNames.toSeq
    val synth = new ChangelogSynthesizer(schema, keyCols)
    val log = new RecordLog(maxBufferedRecords)
    val query = df.writeStream
      .outputMode("complete")
      .queryName(queryName)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // same bounded single pass as `updating` — a complete-mode
        // snapshot larger than the log's remaining capacity cannot fit
        val rows = log.boundedCollect(batch, Some(synth))
        val recs = synth.synchronized(synth.onSnapshot(rows))
        log.append(recs.map(r => RawRecord(r.op.map(_.code), r.values)))
        ()
      }
      .start()
    new Handle(() => query, schema, log)
  }

  /** Start a query whose rows are exact deltas (changelog-op-carrying,
    * e.g. the IVM join's retraction stream) feeding a DRIVER-SIDE
    * incremental fold — the composition shape `JOIN → GROUP BY` in one
    * continuous statement: the caller's `fold` consumes each micro-batch's
    * delta rows (in emission order) and returns the updated full
    * snapshot(s) of the maintained view — usually one per batch, but a
    * fold may emit SEVERAL in order (a window close publishes the final
    * value in a pre-eviction snapshot, then the eviction itself) — each
    * diffed against its predecessor exactly like [[snapshotting]]
    * (`+I/-U/+U/-D`, `-U` adjacent to its `+U`, `-D` for dropped
    * groups).
    *
    * Scale shape: the heavy state (join live-rows) lives in the executor
    * StateStore inside the upstream IVM operator; per batch the driver
    * sees only the TRUE OUTPUT DELTA of the join (not a rescan), and the
    * fold's state is O(output groups) — dashboard-sized by the same
    * contract as [[ChangelogSynthesizer]]. The deltas reach the driver in
    * one fail-fast-bounded pass ([[RecordLog.boundedCollect]]). */
  def foldingSnapshot(df: DataFrame, queryName: String,
                      outSchema: Seq[String], keyCols: Seq[String],
                      fold: Seq[Vector[Any]] => Seq[Seq[Vector[Any]]],
                      trigger: Trigger = Trigger.ProcessingTime(0),
                      maxBufferedRecords: Int = DefaultMaxBufferedRecords): Handle = {
    val synth = new ChangelogSynthesizer(outSchema, keyCols)
    val log = new RecordLog(maxBufferedRecords)
    // the IVM operators emit their deltas in APPEND mode (delta streams
    // are append streams — which is also what lets several of them chain
    // in one query: Spark permits multiple flatMapGroupsWithState only
    // when all are append and the query is append)
    val query = df.writeStream
      .outputMode("append")
      .queryName(queryName)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val deltas = log.boundedCollect(batch, Some(synth))
        // fold + diff under one lock: foreachBatch invocations are serial
        // per query, but cursor replays may race the append
        val recs = synth.synchronized(fold(deltas).flatMap(synth.onSnapshot))
        log.append(recs.map(r => RawRecord(r.op.map(_.code), r.values)))
        ()
      }
      .start()
    new Handle(() => query, outSchema, log)
  }

  /** Start a query whose rows ALREADY ARE exact changelog deltas — the
    * IVM join ([[StatefulOps.changelogJoinStream]]) emits its own
    * retractions, so no synthesizer state sits between the operator and
    * the wire: each row's `opCol` (changelog code) becomes the record op
    * and the remaining columns the record values, in schema order. */
  def deltaPassthrough(df: DataFrame, queryName: String, opCol: String = "op",
                       trigger: Trigger = Trigger.ProcessingTime(0),
                       maxBufferedRecords: Int = DefaultMaxBufferedRecords): Handle = {
    val opIdx = df.schema.fieldIndex(opCol)
    val schema = df.schema.fieldNames.toSeq.patch(opIdx, Nil, 1)
    val log = new RecordLog(maxBufferedRecords)
    // append mode: see foldingSnapshot — delta streams are append streams
    val query = df.writeStream
      .outputMode("append")
      .queryName(queryName)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // each input row is exactly one record (see boundedCollect)
        log.append(log.boundedCollect(batch).map { vs =>
          RawRecord(Some(vs(opIdx).asInstanceOf[Int]), vs.patch(opIdx, Nil, 1))
        })
        ()
      }
      .start()
    new Handle(() => query, schema, log)
  }

  /** Start an append-only query (no aggregation): rows pass through as
    * `+I`, matching the reference's append wire form. The buffer cap
    * matters most here — an unbounded append stream would otherwise
    * accumulate every row on the driver. */
  def appending(df: DataFrame, queryName: String,
                trigger: Trigger = Trigger.ProcessingTime(0),
                maxBufferedRecords: Int = DefaultMaxBufferedRecords): Handle = {
    val schema = df.schema.fieldNames.toSeq
    val log = new RecordLog(maxBufferedRecords)
    val query = df.writeStream
      .outputMode("append")
      .queryName(queryName)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // append-only: one record per input row (see boundedCollect)
        log.append(log.boundedCollect(batch)
          .map(vs => RawRecord(Some(Op.Insert.code), vs)))
        ()
      }
      .start()
    new Handle(() => query, schema, log)
  }
}
