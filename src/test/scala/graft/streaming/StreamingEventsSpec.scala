package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.changelog.ResultTable
import graft.sources.Tables

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

/** Streaming semantics over the events fixture: the watermarked tumbling-
  * window aggregate (streaming twin of Relational.q18) must collapse to the
  * batch answer after incremental micro-batches — the reference's
  * incremental≡replay invariant lifted to event-time windows. */
class StreamingEventsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("watermarked window aggregate collapses to the batch twin") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    val events = Tables.load(s, SparkTestSession.sf0001, "events")
      .as[Ev].collect().toSeq
    assert(events.nonEmpty)

    def windowed(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        $"event_type", $"n", $"sum_value")

    val mem = MemoryStream[Ev]
    val agg = windowed(mem.toDF().withWatermark("ts", "1 day"))
    val handle = ChangelogStream.updating(agg, "events-window-test",
      Seq("hour_start", "event_type"))
    val changelog = handle.changelog()
    val table = new ResultTable(handle.schema)
    try {
      events.grouped(events.size / 3 + 1).foreach { chunk =>
        mem.addData(chunk)
        handle.processAllAvailable()
        table.update(changelog.consume())
      }
      val batch = windowed(
        Tables.load(s, SparkTestSession.sf0001, "events"))
        .collect().map(_.toSeq.toVector).toSet
      assert(table.rows.toSet == batch,
        s"streaming collapse != batch twin (${table.size} vs ${batch.size} rows)")
      assert(changelog.opsReceived.nonEmpty)
    } finally handle.stop()
  }

  // the state backend that holds streaming aggregation state at 100 TB:
  // RocksDB keeps state off-heap/on-disk per executor instead of in the
  // JVM heap (bundled with Spark 4; no external service)
  test("streaming aggregate runs on the RocksDB state store") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev]
    val agg = mem.toDF().groupBy($"event_type")
      .agg(count(lit(1)).as("n"))
    val handle = ChangelogStream.updating(agg, "rocksdb-test", Seq("event_type"))
    try {
      val evs = Tables.load(s, SparkTestSession.sf0001, "events")
        .as[Ev].collect().take(40).toSeq
      mem.addData(evs.take(20)); handle.processAllAvailable()
      mem.addData(evs.drop(20)); handle.processAllAvailable()
      val table = handle.changelog().consume()
      val collapsed = new ResultTable(handle.schema).update(table)
      val expected = evs.groupBy(_.event_type)
        .map { case (t, es) => Vector[Any](t, es.size.toLong) }.toSet
      assert(collapsed.rows.toSet == expected)
    } finally {
      handle.stop()
      prev match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  // native gap-based session windows in streaming (the streaming twin of
  // Relational.q21's batch sessionization)
  test("session_window aggregates events into gap-based sessions") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[Ev]
    val agg = mem.toDF()
      .withWatermark("ts", "1 day")
      .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"n")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("session_test").start()
    try {
      val evs = Tables.load(s, SparkTestSession.sf0001, "events")
        .as[Ev].collect().filter(_.user_id < 3).toSeq
      mem.addData(evs)
      q.processAllAvailable()
      // append mode emits only watermark-closed sessions; feed a far-future
      // event to close them all
      mem.addData(Seq(Ev(999999L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
        0L, "click", 0.0, "{}")))
      q.processAllAvailable()
      val total = s.sql("SELECT sum(n) FROM session_test").head().getLong(0)
      assert(total == evs.size, s"all events must land in closed sessions ($total)")
      val sessions = s.sql("SELECT count(*) FROM session_test").head().getLong(0)
      assert(sessions > evs.map(_.user_id).distinct.size,
        "gap-based splitting must produce multiple sessions per user")
    } finally q.stop()
  }

  test("streaming dedup within watermark drops replayed events") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val base = Tables.load(s, SparkTestSession.sf0001, "events")
      .as[Ev].collect().take(50).toSeq
    val mem = MemoryStream[Ev]
    val deduped = mem.toDF()
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")
      .select($"event_id")
    val handle = ChangelogStream.appending(deduped, "events-dedup-test")
    val changelog = handle.changelog()
    try {
      mem.addData(base)
      handle.processAllAvailable()
      mem.addData(base.take(20)) // replay duplicates
      mem.addData(base.drop(20).take(5))
      handle.processAllAvailable()
      changelog.consume()
      val ids = changelog.history.map(_.values.head)
      assert(ids.distinct.size == ids.size, "duplicates must be dropped")
      assert(ids.size == 50)
    } finally handle.stop()
  }

  test("stream-stream interval join collapses to the batch pairing") {
    // the one Structured Streaming join mode the other tests don't cover:
    // BOTH sides unbounded, equi-key + event-time range condition (q26's
    // batch semantics). Watermarks on both sides + the time bound are what
    // let Spark evict join state — without them a stream-stream join
    // buffers forever, which is the 100 TB failure mode.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val events = Tables.load(s, SparkTestSession.sf0001, "events")
      .as[Ev].collect().toSeq
    val memC = MemoryStream[Ev]
    val memP = MemoryStream[Ev]
    val clicks = memC.toDF().filter($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val purchases = memP.toDF().filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"),
        $"event_id".as("p_id"))
      .withWatermark("p_ts", "2 hours")
    val joined = clicks.join(purchases,
      $"user_id" === $"p_user" &&
        $"p_ts" > $"click_ts" &&
        $"p_ts" <= $"click_ts" + expr("INTERVAL 1 HOUR"))
      .select($"user_id", $"click_id", $"p_id")
    val q = joined.writeStream.format("memory")
      .queryName("ss_interval_join").outputMode("append").start()
    try {
      // interleave arrivals across micro-batches (out-of-order within the
      // watermark): matches must not depend on arrival batching
      events.grouped(events.size / 4 + 1).foreach { chunk =>
        memC.addData(chunk)
        memP.addData(chunk.reverse)
        q.processAllAvailable()
      }
      val streamed = s.table("ss_interval_join").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val ev = Tables.load(s, SparkTestSession.sf0001, "events")
      val batch = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
        .join(ev.filter($"event_type" === "purchase")
            .select($"user_id".as("p_user"), $"ts".as("p_ts"),
              $"event_id".as("p_id")),
          $"user_id" === $"p_user" &&
            $"p_ts" > $"click_ts" &&
            $"p_ts" <= $"click_ts" + expr("INTERVAL 1 HOUR"))
        .select($"user_id", $"click_id", $"p_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.nonEmpty, "fixture should produce click→purchase pairs")
      assert(streamed == batch,
        s"stream-stream join != batch twin (${streamed.size} vs ${batch.size})")
    } finally {
      q.stop()
      s.catalog.dropTempView("ss_interval_join")
    }
  }

  test("keyed state survives a stop/restart from the checkpoint") {
    import StatefulOps.{UpsertDelta, UpsertEvent}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    // two feeds; the same id in both is two independent rows
    val before = Seq(
      (0, UpsertEvent(10L, 1L, "a1", delete = false)),
      (0, UpsertEvent(10L, 2L, "a2", delete = false)),
      (0, UpsertEvent(20L, 3L, "a3", delete = false)),
      (1, UpsertEvent(10L, 1L, "b1", delete = false)),
      (1, UpsertEvent(20L, 2L, "b2", delete = false)))
    // after the restart: re-key and re-value feed 0's id 2, delete feed
    // 1's id 1, insert a new id — the first two need pre-restart state
    val after = Seq(
      (0, UpsertEvent(30L, 2L, "a2'", delete = false)),
      (1, UpsertEvent(10L, 1L, "", delete = true)),
      (1, UpsertEvent(30L, 4L, "b4", delete = false)))
    def stamped(evs: Seq[(Int, UpsertEvent)], from: Long) =
      evs.zipWithIndex.map { case ((f, e), i) => (from + i, f, e) }
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toFile.getPath
    // foreachBatch sink that tolerates batch REPLAY (idempotent by
    // batchId) — the sink contract a recovering query actually requires
    val seen = scala.collection.mutable.Map.empty[Long, Array[UpsertDelta]]
    def start(mem: MemoryStream[(Long, Int, UpsertEvent)]) =
      StatefulOps.changelogUnionUpsertStream(mem.toDS())
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[UpsertDelta],
                         batchId: Long) =>
          seen(batchId) = df.collect()
          ()
        }
        .start()

    val mem = MemoryStream[(Long, Int, UpsertEvent)]
    val q1 = start(mem)
    try {
      mem.addData(stamped(before, 0L))
      q1.processAllAvailable()
    } finally q1.stop()
    val firstBatches = seen.keySet.toSet
    // cold restart: a NEW query object recovers offsets + keyed state
    // from the checkpoint directory, not from the old query instance
    val q2 = start(mem)
    try {
      mem.addData(stamped(after, before.size.toLong))
      q2.processAllAvailable()
    } finally q2.stop()

    // the restarted incarnation retracts pre-restart rows with the key
    // and value the checkpointed state stored for them
    val restarted = seen.toSeq.filterNot(b => firstBatches(b._1))
      .flatMap(_._2).toSet
    assert(restarted.contains(UpsertDelta(3, 10L, 2L, "a2", 0)),
      s"re-keyed id must retract its stored row: $restarted")
    assert(restarted.contains(UpsertDelta(3, 10L, 1L, "b1", 1)),
      s"deleted id must retract its stored row: $restarted")
    // the collapse of every delta across both incarnations is the
    // feeds' live rows: nothing lost, nothing counted twice
    val counts = seen.toSeq.sortBy(_._1).flatMap(_._2)
      .groupBy(d => (d.feed, d.key, d.id, d.value))
      .view.mapValues(_.map(d => if (d.op == 0) 1 else -1).sum).toMap
    assert(counts.values.forall(c => c == 0 || c == 1),
      s"collapse must never go negative or double-insert: $counts")
    val live = scala.collection.mutable.Map.empty[(Int, Long), (Long, String)]
    (before ++ after).foreach { case (f, e) =>
      if (e.delete) live.remove((f, e.id)) else live((f, e.id)) = (e.key, e.value)
    }
    assert(counts.filter(_._2 == 1).keySet ==
      live.map { case ((f, id), (k, v)) => (f, k, id, v) }.toSet,
      s"recovered view $counts != the feeds' live rows $live")
  }

  test("one-feed changelogUnionUpsertStream property: collapsing the " +
    "deltas equals the feed's live rows at every prefix; counts never " +
    "leave {0, 1}") {
    import StatefulOps.{UpsertDelta, UpsertEvent}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // delete-heavy mix over few ids so rows churn: upsert-over-upsert
    // (the double-count trap) and delete-of-absent (tolerated no-op)
    // both occur many times
    val rnd = new scala.util.Random(13)
    val evs = (0 until 200).map { _ =>
      val id = rnd.nextInt(8).toLong
      UpsertEvent(id % 3, id, s"v${rnd.nextInt(100)}", rnd.nextInt(3) == 0)
    }
    def liveRows(prefix: Seq[UpsertEvent]): Set[(Long, Long, String)] = {
      val m = scala.collection.mutable.Map.empty[Long, (Long, String)]
      prefix.foreach { e =>
        if (e.delete) m.remove(e.id) else m(e.id) = (e.key, e.value)
      }
      m.map { case (id, (k, v)) => (k, id, v) }.toSet
    }
    // a single feed is the one-feed union: every event is feed 0's
    val mem = MemoryStream[(Long, Int, UpsertEvent)]
    val q = StatefulOps.changelogUnionUpsertStream(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("cl_upsert_test").start()
    try {
      val batches = evs.zipWithIndex.map { case (e, i) => (i.toLong, 0, e) }
        .grouped(40).toSeq
      var prefix = Vector.empty[UpsertEvent]
      batches.foreach { b =>
        mem.addData(b); q.processAllAvailable()
        prefix ++= b.map(_._3)
        val counts = s.table("cl_upsert_test").as[UpsertDelta].collect()
          .groupBy(d => (d.key, d.id, d.value))
          .view.mapValues(_.map(d => if (d.op == 0) 1 else -1).sum).toMap
        assert(counts.values.forall(c => c == 0 || c == 1),
          s"collapse must never go negative or double-insert: $counts")
        assert(counts.filter(_._2 == 1).keySet == liveRows(prefix),
          s"maintained view diverged at prefix ${prefix.size}")
      }
    } finally q.stop()
  }

  test("hot-key churn microbench: a 40k-live-row join key absorbs a " +
    "40k-event upsert batch in linear time (the id-keyed state fold; " +
    "the old Seq.indexOf/patch fold was O(live × events) and busts the " +
    "budget by an order of magnitude), and the collapse stays exact") {
    import StatefulOps.{ZDelta, ZEvent, ZRow}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val n = 40000
    val mem = MemoryStream[ZEvent]
    val q = StatefulOps.zJoinStream(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("cl_join_hotkey").start()
    // a feed row as a Z-set change on join key 1: an upsert reaches the
    // join as its id-keyed upsert deltas (retract the old row, insert
    // the new one), each distinct row one entry of the hash-map fold
    def ev(left: Boolean, id: Long, v: String, sign: Int): ZEvent =
      ZEvent(1L, left, ZRow(Seq(1L), Seq(id), Seq(v)), sign)
    try {
      def timed(evs: Seq[ZEvent]): Double = {
        val t0 = System.nanoTime
        mem.addData(evs); q.processAllAvailable()
        (System.nanoTime - t0) / 1e9
      }
      // batch 1: ONE join key, one right row, then 40k left inserts —
      // each left insert emits exactly one joined row
      val insert = ev(false, -100L, "r", 1) +:
        (0 until n).map(i => ev(true, i.toLong, s"v$i", 1))
      val tIns = timed(insert)
      // batch 2: update every live left id (retract + insert per event);
      // the emission is 2 deltas/event, so the fold itself dominates
      val churn = (0 until n).flatMap(i =>
        Seq(ev(true, i.toLong, s"v$i", -1), ev(true, i.toLong, s"w$i", 1)))
      val tChurn = timed(churn)
      // generous linear budget with ~10× headroom on this hardware; the
      // quadratic fold's ~1.6e9 list traversals + 40k list rebuilds sat
      // well beyond it
      assert(tIns < 30.0 && tChurn < 30.0,
        f"hot-key batches took insert=$tIns%.1fs churn=$tChurn%.1fs — " +
          "the join fold is not linear in (live rows + events)")
      val counts = s.table("cl_join_hotkey").as[ZDelta].collect()
        .groupBy(d => (d.row.ids.head, d.row.values.head))
        .view.mapValues(_.map(d => if (d.op == 0) 1 else -1).sum)
      val live = counts.filter(_._2 == 1).keys.toSet
      assert(live == (0 until n).map(i => (i.toLong, s"w$i")).toSet,
        s"hot-key collapse diverged (got ${live.size} live rows)")
    } finally q.stop()
  }
}
