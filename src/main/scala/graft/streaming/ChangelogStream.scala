package graft.streaming

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Repartition}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQuery

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
  */
final class ChangelogSynthesizer(schema: Seq[String], keyCols: Seq[String]) {
  private val keyIdx: Seq[Int] = keyCols.map(schema.indexOf)
  require(!keyIdx.contains(-1),
    s"key columns $keyCols not all present in schema $schema")

  private val state = mutable.LinkedHashMap.empty[Vector[Any], Vector[Any]]

  /** Live group count — the bound on how many `-D`s a snapshot diff can
    * emit beyond its batch rows, which the snapshot-diff sinks subtract
    * before they size their batch's row cap (see RecordLog.boundedCollect). */
  def size: Int = state.size

  private def key(row: Vector[Any]): Vector[Any] = keyIdx.map(row).toVector

  /** Applies one row to the state: `+I` for a new key, an adjacent
    * `-U old, +U new` pair for a changed value, nothing for a no-op
    * update. Returns the row's key. */
  private def upsert(r: Vector[Any],
                     out: mutable.Growable[ChangelogRecord]): Vector[Any] = {
    val k = key(r)
    state.put(k, r) match {
      case None => out += ChangelogRecord(Some(Op.Insert), r)
      case Some(old) if old == r => ()
      case Some(old) =>
        out += ChangelogRecord(Some(Op.UpdateBefore), old)
        out += ChangelogRecord(Some(Op.UpdateAfter), r)
    }
    k
  }

  /** One update-mode micro-batch: rows are the new values of changed keys. */
  def onUpsert(rows: Seq[Vector[Any]]): Seq[ChangelogRecord] = {
    val out = Vector.newBuilder[ChangelogRecord]
    rows.foreach(upsert(_, out))
    out.result()
  }

  /** One complete-mode micro-batch: rows are the *entire* result. Each row
    * goes through [[onUpsert]]'s rule, then every live key the batch did
    * not carry emits `-D` (the case update mode cannot express). */
  def onSnapshot(rows: Seq[Vector[Any]]): Seq[ChangelogRecord] = {
    val out = Vector.newBuilder[ChangelogRecord]
    val seen = rows.iterator.map(upsert(_, out)).toSet
    state.keys.filterNot(seen).toVector.foreach { k =>
      out += ChangelogRecord(Some(Op.Delete), state.remove(k).get)
    }
    out.result()
  }
}

/** Attaches a changelog-synthesizing sink to a streaming DataFrame and
  * exposes the result as a [[graft.changelog.Changelog]] — the Spark
  * replacement for the reference's statement-results loop
  * (`/root/reference/api/statements.py:96-169` +
  * `/root/reference/lib/flink.py`): each micro-batch ≙ one result page.
  *
  * Every sink runs one lifecycle ([[sink]]): it builds the sink's
  * [[RecordLog]], starts a `foreachBatch` query, and on each micro-batch
  * moves the batch to the driver in one bounded Spark job
  * ([[RecordLog.boundedCollect]], sized by the sink's synthesizer when it
  * has one), turns the rows into records, and appends them to the log;
  * the returned [[Handle]] holds the started query and the log. The five
  * public sinks differ only in their output mode and their rows→records
  * rule: `updating` upserts, `snapshotting` and `foldingSnapshot` diff
  * snapshots, `deltaPassthrough` reads each row's op column, and
  * `appending` emits `+I`.
  *
  * These sinks are **result consumption, not ETL**: emitted records are
  * retained driver-side so any number of cursors can replay them (the
  * reference's `results()` also re-pages from the first page). The
  * retention is bounded by `maxBufferedRecords` — a query that outgrows it
  * fails fast with a clear error instead of silently exhausting driver
  * memory. Route large results through a real sink (parquet/Kafka), not
  * this facade.
  *
  * The sinks touch the caller's session in two ways, both in [[sink]].
  * One lasts: when `spark.sql.streaming.checkpointFileManagerClass` is
  * unset, they set it to [[LocalCheckpointFileManager]], so every
  * micro-batch's checkpoint writes skip Hadoop's forking local FS; a
  * manager the caller set is kept. The other is held only while `start()`
  * runs: `spark.sql.shuffle.partitions` reads 1, because the query's own
  * session clone, taken inside `start()`, fixes its state-partition count
  * for the query's lifetime, and a dashboard-sized statement moving a few
  * rows per micro-batch should load and commit one state store per
  * stateful operator, not one per core. The caller's value (or its
  * absence) is restored as soon as `start()` returns.
  *
  * The sinks whose plans keep state (`updating`, `snapshotting`,
  * `foldingSnapshot`, `deltaPassthrough`) start a rewritten plan, not the
  * caller's `df`: every streaming source is read through `coalesce(1)`
  * (see [[inStatePartition]]). Its one input partition already satisfies
  * the stateful operators' one-partition distribution, so Spark plans no
  * shuffle in front of the state store, and a micro-batch runs as one
  * stage in one task. The caller's `df`, its session's conf and its temp
  * views are left as they were; the log reads its rows through `df`'s
  * schema. `appending` starts `df` itself: its plans normally keep no
  * state, so there is no shuffle to remove, and a multi-partition source
  * keeps its read parallelism.
  */
object ChangelogStream {

  /** Default cap on driver-retained changelog records (dashboard-sized
    * results are thousands of rows; a million signals misuse). */
  val DefaultMaxBufferedRecords: Int = 1 << 20

  /** A sink's task over one partition of its micro-batch: copies at most
    * `limit` rows, and drains the partition when it holds fewer. A named
    * class rather than a lambda, so Spark's `ClosureCleaner` has no
    * closure bytecode to read on every job. */
  private final class TakeRows(limit: Long)
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow])
      with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] = {
      val out = Array.newBuilder[InternalRow]
      var n = 0L
      while (n < limit && rows.hasNext) { out += rows.next().copy(); n += 1 }
      out.result()
    }
  }

  /** Append-only, bounded record log over the rows of `df`'s micro-batches.
    * Every sink moves its micro-batch to the driver through
    * [[boundedCollect]], one Spark job per batch, its row cap given by
    * the sink's `capOf` (remaining capacity → rows). Cursors read at their
    * own offset and never steal from each other (unlike a shared
    * destructive queue); records appended after a cursor is created are
    * still seen by it. */
  private final class RecordLog(maxRecords: Int, df: DataFrame, capOf: Int => Int) {
    private val buf = mutable.ArrayBuffer.empty[RawRecord]

    /** Turns a batch's internal rows into the values `Dataset.collect()`
      * returns: the same deserializer, under the conf the query clones
      * from `df`'s session at start (so `spark.sql.datetime.java8API.enabled`
      * picks the same date/time classes). Built once per sink. */
    private val fromRow =
      SQLConf.withExistingConf(df.sparkSession.sessionState.conf) {
        ExpressionEncoder(RowEncoder.encoderFor(df.schema))
          .resolveAndBind().createDeserializer()
      }

    def append(recs: Seq[RawRecord]): Unit = synchronized {
      if (buf.length + recs.length > maxRecords)
        throw new IllegalStateException(
          s"changelog sink exceeded maxBufferedRecords=$maxRecords: these " +
            "sinks retain results driver-side for cursor replay and are " +
            "meant for dashboard-sized result consumption, not ETL — " +
            "consume a bounded query, or write large results to a real sink")
      buf ++= recs
    }

    /** The micro-batch's rows, moved to the driver by ONE Spark job over
      * the batch's already-planned RDD, on all its partitions: no plan is
      * built on top of the batch, so no Catalyst pass and no second job
      * runs per batch. The transfer is fail-fast-bounded: each partition
      * sends at most `cap + 1` rows, so an over-cap batch raises the
      * documented error after at most P·(cap + 1) rows reached the driver
      * (P = the batch's partition count), however large the batch is. A
      * stateful sink's batch is one partition (its sources are read in the
      * one state partition, see [[sink]]), so its bound is `cap + 1` rows;
      * P·(cap + 1) remains for `appending`.
      * `spark.driver.maxResultSize` still aborts a job whose partitions
      * together send more than it allows. An under-cap
      * batch is never truncated: every partition, and the state-store
      * stage under it (which loads and commits its state per task), is
      * drained exactly once per batch.
      *
      * The cap is `capOf(remaining)`, the most rows whose records still
      * fit the log. The append sinks (appending / deltaPassthrough) emit
      * one record per row: `remaining`. `updating` emits at most a
      * `-U/+U` pair per row and never a `-D`: `remaining / 2`.
      * `snapshotting` also emits one `-D` per live group its snapshot
      * drops: `(remaining − synth.size) / 2`, so emissions ≤ 2·cap +
      * synth.size ≤ remaining. For those three rules this guard is the
      * only failure point, and it fires before any synthesizer mutation
      * or log append, so a failed batch never leaves synthesizer state
      * ahead of the log. `foldingSnapshot` is capped like `snapshotting`,
      * but its fold's snapshots are not bounded by the batch's delta
      * rows, so [[append]]'s check stays its backstop. */
    def boundedCollect(batch: DataFrame): Seq[Vector[Any]] = {
      val cap = capOf(synchronized(maxRecords - buf.length))
      val parts = batch.sparkSession.sparkContext
        .runJob(batch.queryExecution.toRdd, new TakeRows(cap + 1L))
      if (parts.iterator.map(_.length.toLong).sum > cap)
        throw new IllegalStateException(
          s"changelog sink micro-batch exceeds remaining capacity $cap of " +
            s"maxBufferedRecords=$maxRecords, stopped each partition at " +
            s"${cap + 1} rows before collecting the rest: these sinks " +
            "retain results driver-side for cursor replay and are meant " +
            "for dashboard-sized result consumption, not ETL — consume a " +
            "bounded query, or write large results to a real sink")
      parts.iterator.flatten.map(r => fromRow(r).toSeq.toVector).toSeq
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
      val query: StreamingQuery,
      val schema: Seq[String],
      log: RecordLog) {
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

  /** Spark's session conf naming the class that writes a streaming
    * query's offset log, commit log and state-store deltas. */
  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's session conf for the partition count of a query's shuffles —
    * for a streaming query, of its stateful operators' state. */
  private val ShufflePartitionsKey = SQLConf.SHUFFLE_PARTITIONS.key

  /** Held while a sink changes and restores the caller's session conf, so
    * two concurrent starts cannot restore each other's value. */
  private val startLock = new Object

  /** The one sink lifecycle: start `df` as a `foreachBatch` query under
    * Spark's default trigger (a micro-batch as soon as the previous one
    * ends), whose every micro-batch is collected in one bounded job (at
    * most `capOf(remaining)` rows, see [[RecordLog.boundedCollect]]),
    * turned into records by `toRecords` and appended to the sink's log.
    *
    * Spark reads the checkpoint manager class from the session's Hadoop
    * conf when `start()` builds the query's logs and state stores, and no
    * writer option carries it, so it is set on `df`'s session — only when
    * neither the session nor its Hadoop conf names one.
    *
    * `start()` clones `df`'s session for the query synchronously (in the
    * `StreamExecution` constructor); after that the stream thread reads
    * its state-partition count only from the clone and from the offset
    * log. So `spark.sql.shuffle.partitions` is set to 1 on `df`'s session
    * just for `start()`, then restored to the caller's explicit value, or
    * unset if it had none; the caller's batch queries keep their own
    * count. A batch query another thread plans during that span sees 1.
    * The query is not built on a cloned session: a clone has its own
    * `StreamingQueryManager`, and the statement would drop out of the
    * caller's `spark.streams.active`.
    *
    * A sink that `keepsState` starts [[inStatePartition]] of `df`, not
    * `df`: with one state partition, a source read in one partition lets
    * Spark's planner drop the shuffle it would otherwise put before the
    * state store. Correctness does not rest on it: had the query more
    * state partitions, the planner would put the shuffle back. */
  private def sink(df: DataFrame, outputMode: String, queryName: String,
                   schema: Seq[String], maxBufferedRecords: Int,
                   capOf: Int => Int, keepsState: Boolean)(
                   toRecords: Seq[Vector[Any]] => Seq[RawRecord]): Handle = {
    val session = df.sparkSession
    val log = new RecordLog(maxBufferedRecords, df, capOf)
    val writer = (if (keepsState) inStatePartition(df) else df).writeStream
      .outputMode(outputMode)
      .queryName(queryName)
      .foreachBatch((batch: DataFrame, _: Long) =>
        log.append(toRecords(log.boundedCollect(batch))))
    val query = startLock.synchronized {
      if (session.conf.getOption(CheckpointManagerKey).isEmpty &&
          session.sparkContext.hadoopConfiguration.get(CheckpointManagerKey) == null)
        session.conf.set(CheckpointManagerKey, classOf[LocalCheckpointFileManager].getName)
      val conf = session.sessionState.conf
      val prior = Option.when(conf.contains(ShufflePartitionsKey))(
        conf.getConfString(ShufflePartitionsKey))
      conf.setConfString(ShufflePartitionsKey, "1")
      try writer.start()
      finally prior.fold(conf.unsetConf(ShufflePartitionsKey))(
        conf.setConfString(ShufflePartitionsKey, _))
    }
    new Handle(query, schema, log)
  }

  /** `df` with every streaming source of its analyzed plan read through
    * `coalesce(1)`: a `Repartition` without shuffle, which Spark plans as
    * a `CoalesceExec(1)` reporting a single partition. Static sources and
    * everything above the sources are untouched. */
  private def inStatePartition(df: DataFrame): DataFrame =
    ColumnBridge.ofRows(df.sparkSession, df.queryExecution.analyzed.transformUp {
      case l: LeafNode if l.isStreaming => Repartition(1, shuffle = false, l)
    })

  /** A sink whose rule runs a [[ChangelogSynthesizer]] keyed on `keyCols`
    * of `schema`. The rule runs under the synthesizer's lock:
    * `foreachBatch` invocations are serial per query, but cursor replays
    * may race the append. The batch's row cap is checked before the rule
    * runs; a rule that `diffs` snapshots reserves one `-D` per live group
    * in it (see [[RecordLog.boundedCollect]]). */
  private def synthesizing(df: DataFrame, outputMode: String, queryName: String,
                           schema: Seq[String], keyCols: Seq[String],
                           maxBufferedRecords: Int, diffs: Boolean)(
      rule: (ChangelogSynthesizer, Seq[Vector[Any]]) => Seq[ChangelogRecord]): Handle = {
    val synth = new ChangelogSynthesizer(schema, keyCols)
    val reserved = () => if (diffs) synth.synchronized(synth.size) else 0
    sink(df, outputMode, queryName, schema, maxBufferedRecords,
        remaining => math.max(0, (remaining - reserved()) / 2), keepsState = true) { rows =>
      synth.synchronized(rule(synth, rows))
        .map(r => RawRecord(r.op.map(_.code), r.values))
    }
  }

  /** Start an updating (grouped-aggregate) query with `-U/+U` synthesis.
    * `keyCols` are the grouping columns identifying a result row. */
  def updating(df: DataFrame, queryName: String, keyCols: Seq[String],
               maxBufferedRecords: Int = DefaultMaxBufferedRecords): Handle =
    synthesizing(df, "update", queryName, df.schema.fieldNames.toSeq, keyCols,
      maxBufferedRecords, diffs = false)(_.onUpsert(_))

  /** Start a complete-mode query with full-snapshot diffing: each batch
    * carries the entire result, and groups that leave it (e.g. crossing a
    * HAVING-style threshold) emit `-D` — the transition update mode cannot
    * express. `graft.api.Statements` starts one for a streaming statement
    * on its default route whose plan has a HAVING (a Filter above its top
    * aggregate). Only for small (dashboard-sized) results: the snapshot is
    * O(result), though never O(input). This is [[foldingSnapshot]]'s rule
    * with the identity fold, in complete mode. */
  def snapshotting(df: DataFrame, queryName: String, keyCols: Seq[String],
                   maxBufferedRecords: Int = DefaultMaxBufferedRecords): Handle =
    synthesizing(df, "complete", queryName, df.schema.fieldNames.toSeq, keyCols,
      maxBufferedRecords, diffs = true)(_.onSnapshot(_))

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
    * one fail-fast-bounded Spark job per micro-batch
    * ([[RecordLog.boundedCollect]]).
    *
    * The IVM operators emit their deltas in APPEND mode (delta streams
    * are append streams — which is also what lets several of them chain
    * in one query: Spark permits multiple flatMapGroupsWithState only
    * when all are append and the query is append). */
  def foldingSnapshot(df: DataFrame, queryName: String,
                      outSchema: Seq[String], keyCols: Seq[String],
                      fold: Seq[Vector[Any]] => Seq[Seq[Vector[Any]]],
                      maxBufferedRecords: Int = DefaultMaxBufferedRecords): Handle =
    synthesizing(df, "append", queryName, outSchema, keyCols,
      maxBufferedRecords, diffs = true)((synth, deltas) => fold(deltas).flatMap(synth.onSnapshot))

  /** Start a query whose rows ALREADY ARE exact changelog deltas — the
    * IVM operators ([[StatefulOps.changelogUnionUpsertStream]],
    * [[StatefulOps.zJoinStream]]) emit their own retractions, so no
    * synthesizer state sits between the operator and the wire: each row's
    * `op` column (changelog code) becomes the record op and the remaining
    * columns the record values, in schema order. Append mode, like
    * [[foldingSnapshot]]: delta streams are append streams. */
  def deltaPassthrough(df: DataFrame, queryName: String,
                       maxBufferedRecords: Int = DefaultMaxBufferedRecords): Handle = {
    val opIdx = df.schema.fieldIndex("op")
    sink(df, "append", queryName, df.schema.fieldNames.toSeq.patch(opIdx, Nil, 1),
        maxBufferedRecords, identity, keepsState = true) { rows =>
      rows.map(vs => RawRecord(Some(vs(opIdx).asInstanceOf[Int]), vs.patch(opIdx, Nil, 1)))
    }
  }

  /** Start an append-only query (no aggregation): rows pass through as
    * `+I`, matching the reference's append wire form. The buffer cap
    * matters most here — an unbounded append stream would otherwise
    * accumulate every row on the driver. */
  def appending(df: DataFrame, queryName: String,
                maxBufferedRecords: Int = DefaultMaxBufferedRecords): Handle =
    sink(df, "append", queryName, df.schema.fieldNames.toSeq,
        maxBufferedRecords, identity, keepsState = false)(
      _.map(vs => RawRecord(Some(Op.Insert.code), vs)))
}
