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

case class Doc(doc_id: Long, text: String, lang: String, source: String,
               n_chars: Long)

case class QVec(query_id: Long, v: Seq[Double])

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

  test("streaming contamination (stream-static join) collapses to batch p4") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = SparkTestSession.sf0001

    val docs = Tables.load(s, dir, "documents").as[Doc].collect().toSeq
      .filter(_.source != graft.operators.Pipeline.BenchmarkSource)
    val bench = graft.operators.Pipeline.benchmarkGrams(s, dir)

    val mem = MemoryStream[Doc]
    val agg = graft.operators.Pipeline.contaminationStream(mem.toDF(), bench)
    val handle = ChangelogStream.updating(agg, "contamination-stream-test",
      Seq("doc_id"))
    val changelog = handle.changelog()
    val table = new ResultTable(handle.schema)
    try {
      docs.grouped(docs.size / 3 + 1).foreach { chunk =>
        mem.addData(chunk)
        handle.processAllAvailable()
        table.update(changelog.consume())
      }
      val batch = graft.operators.Pipeline.p4Contamination(s, dir)
        .select("doc_id", "n_shared_ngrams")
        .collect().map(_.toSeq.toVector).toSet
      assert(table.rows.toSet == batch,
        s"streaming contamination != batch p4 (${table.size} vs ${batch.size})")
    } finally handle.stop()
  }

  test("streaming corpus prep (filter + chunk) collapses to the batch path") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = SparkTestSession.sf0001

    val docs = Tables.load(s, dir, "documents").as[Doc].collect().toSeq
    val mem = MemoryStream[Doc]
    val out = graft.operators.Pipeline.prepStream(mem.toDF())
    val handle = ChangelogStream.appending(out, "prep-stream-test")
    val changelog = handle.changelog()
    val table = new ResultTable(handle.schema)
    try {
      docs.grouped(docs.size / 3 + 1).foreach { chunk =>
        mem.addData(chunk)
        handle.processAllAvailable()
        table.update(changelog.consume())
      }
      // batch twin: p10 chunks restricted to docs passing the p1 filter
      val passing = graft.operators.Pipeline.p1Repetition(s, dir)
        .filter($"top_word_frac" <= graft.operators.Pipeline.PrepMaxTopWordFrac)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(passing.nonEmpty && passing.size < docs.size,
        "fixture must exercise both filter outcomes")
      val batch = graft.operators.Pipeline.p10Chunking(s, dir)
        .collect().map(_.toSeq.toVector)
        .filter(r => passing(r(0).asInstanceOf[Long])).toSet
      assert(table.rows.toSet == batch,
        s"stream prep != batch (${table.size} vs ${batch.size})")
    } finally handle.stop()
  }

  test("streaming incremental dedup anti-joins the known fingerprint set") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = SparkTestSession.sf0001

    val all = Tables.load(s, dir, "documents").as[Doc].collect().toSeq
    // "history": fingerprints of the first half; stream the full corpus
    val known = graft.operators.Pipeline.incrementalDedup(
      Tables.load(s, dir, "documents")
        .filter($"doc_id" < 250), // bootstrap trick: anti vs empty set
      s.emptyDataset[String].toDF("fp"))
      .select($"fp").distinct()
    val knownSet = known.collect().map(_.getString(0)).toSet

    val mem = MemoryStream[Doc]
    val out = graft.operators.Pipeline.incrementalDedup(mem.toDF(), known)
    val handle = ChangelogStream.appending(out, "incr-dedup-test")
    val changelog = handle.changelog()
    val table = new ResultTable(handle.schema)
    try {
      all.grouped(all.size / 2 + 1).foreach { chunk =>
        mem.addData(chunk)
        handle.processAllAvailable()
        table.update(changelog.consume())
      }
      val keptFps = table.rows.map(_(1).asInstanceOf[String])
      assert(keptFps.nonEmpty, "some new documents must survive")
      assert(!keptFps.exists(knownSet.contains),
        "no surviving document may carry a known fingerprint")
      // every streamed doc whose fp is new must survive exactly once per
      // distinct appearance
      val expected = all.map(d => d.doc_id).filterNot { id =>
        knownSet.contains(
          java.security.MessageDigest.getInstance("MD5")
            .digest(all.find(_.doc_id == id).get.text.toLowerCase
              .replaceAll("[^a-z0-9]+", " ").trim.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString)
      }.toSet
      assert(table.rows.map(_(0).asInstanceOf[Long]).toSet == expected)
    } finally handle.stop()
  }

  test("streaming classifier scoring collapses to the batch decisions") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = SparkTestSession.sf0001
    val (weights, thrDf) = graft.operators.Pipeline.classifierModel(s, dir)
    val thr = thrDf.head.getLong(0)
    val testDocs = Tables.load(s, dir, "documents")
      .filter($"doc_id" % 2 === 1).as[Doc].collect().toSeq
    val mem = MemoryStream[Doc]
    val scored = graft.operators.Pipeline.classifierStream(
      mem.toDS().toDF(), weights, thr)
    val q = scored.writeStream.outputMode("update")
      .format("memory").queryName("cls_test").start()
    try {
      testDocs.grouped(120).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      val got = s.table("cls_test").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2))))
        .groupBy(_._1)
        .map { case (id, es) => id -> es.maxBy(_._2._1)._2._2 }
      // the same scorer over the same split as one batch — identical
      // weights, identical threshold, so decisions must match exactly
      val batch = graft.operators.Pipeline.classifierStream(
          Tables.load(s, dir, "documents").filter($"doc_id" % 2 === 1),
          weights, thr).collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(got == batch,
        s"stream decisions diverge from batch for ${
          got.keySet.filter(k => got(k) != batch(k))}")
      assert(got.size == testDocs.size, "every fed doc must be scored")
    } finally q.stop()
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

  test("streaming ANN answers equal batch v4 through the shared persisted " +
    "IVF model") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = SparkTestSession.sf0001
    val batch = graft.operators.Similarity.v4AnnIvf(s, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(batch.nonEmpty)
    val feed = Tables.load(s, dir, "embeddings")
      .filter($"vec_id" < graft.operators.Similarity.QueryCount)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .collect()
      .map(r => QVec(r.getLong(0), r.getSeq[Double](1)))
      .toSeq
    val mem = MemoryStream[QVec]
    val out = graft.operators.Similarity.annStream(mem.toDF(), dir)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("ann_stream_test").start()
    try {
      // queries arrive across several micro-batches; each emits its final
      // top-k in its arrival batch (no later batch adds candidates)
      feed.grouped(7).foreach { b => mem.addData(b); q.processAllAvailable() }
      val got = s.table("ann_stream_test").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == batch,
        s"stream != batch: extra=${got -- batch} missing=${batch -- got}")
      // the stream-static join must be STATELESS — the only stateful
      // operator is the top-k aggregate (state = k pairs per query);
      // a second state store would mean the join is buffering the corpus
      val stateOps = q.lastProgress.stateOperators
      assert(stateOps.length == 1,
        s"expected exactly one stateful operator (the top-k aggregate), " +
          s"got ${stateOps.length}: ${stateOps.map(_.operatorName).mkString(",")}")
    } finally q.stop()
  }

  test("streaming reservoir sample equals the driver's k-smallest-priority " +
    "set at every prefix, with a redelivered batch absorbed") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = SparkTestSession.sf0001
    val docs = Tables.load(s, dir, "documents").as[Doc].collect().toSeq
    val k = 25
    def pri(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"res$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(6).map("%02x".format(_)).mkString, 16)
    }
    val mem = MemoryStream[Doc]
    val out = graft.operators.Pipeline.reservoirStream(mem.toDF(), k)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("reservoir_test").start()
    try {
      val batches = docs.grouped(150).toSeq
      var delivered = 0L
      var seen = Seq.empty[Doc]
      batches.zipWithIndex.foreach { case (b, i) =>
        mem.addData(b); q.processAllAvailable()
        delivered += b.size; seen ++= b
        if (i == 1) { // redeliver a whole batch mid-stream
          mem.addData(batches(0)); q.processAllAvailable()
          delivered += batches(0).size
        }
        val expect = seen.map(d => (pri(d.doc_id), d.doc_id)).sorted.take(k)
          .map(_._2)
        val rows = s.table("reservoir_test").collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1))
        val latest = rows.maxBy(_._1)
        assert(latest._1 == delivered, s"n_seen ${latest._1} != $delivered")
        assert(latest._2 == expect,
          s"prefix $i: reservoir ${latest._2} != driver $expect")
      }
    } finally q.stop()
  }

  test("weighted streaming reservoir equals the driver's k-largest-key " +
    "A-ES draw, redelivery absorbed") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = SparkTestSession.sf0001
    val docs = Tables.load(s, dir, "documents").as[Doc].collect().toSeq
    val k = 25
    def key(d: Doc): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"wres${d.doc_id}".getBytes("UTF-8"))
      val v = java.lang.Long.parseLong(
        md.take(6).map("%02x".format(_)).mkString, 16)
      math.pow((v + 0.5) / math.pow(2, 48), 1.0 / d.n_chars.toDouble)
    }
    // driver A-ES: k LARGEST keys among POSITIVE-weight docs, ties toward
    // smaller id (TopK's better())
    val expect = docs.filter(_.n_chars > 0).map(d => (key(d), d.doc_id))
      .sortBy { case (kk, id) => (-kk, id) }.take(k).map(_._2)
    val mem = MemoryStream[Doc]
    val out = graft.operators.Pipeline.weightedReservoirStream(mem.toDF(), k)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("wres_test").start()
    try {
      val batches = docs.grouped(200).toSeq
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      mem.addData(batches.last); q.processAllAvailable() // redeliver
      val latest = s.table("wres_test").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).maxBy(_._1)
      assert(latest._2 == expect,
        s"weighted reservoir ${latest._2} != driver $expect")
      // weighting sanity: the draw must skew toward heavier docs
      val drawn = latest._2.toSet
      val meanDrawn = docs.filter(d => drawn(d.doc_id)).map(_.n_chars).sum
        .toDouble / k
      val meanAll = docs.map(_.n_chars).sum.toDouble / docs.size
      assert(meanDrawn > meanAll,
        s"size-weighted draw should skew heavy: $meanDrawn <= $meanAll")
    } finally q.stop()
  }

  test("streaming sketch maintenance: counters equal batch exactly " +
    "(order-independent merges); top-k list matches on this fixture") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = SparkTestSession.sf0001
    val docs = Tables.load(s, dir, "documents").as[Doc].collect().toSeq
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(1), r.getLong(2),
        r.getSeq[org.apache.spark.sql.Row](3)
          .map(x => (x.getString(0), x.getLong(1))))
    val batch = graft.operators.Pipeline.vocabSketchStream(
        Tables.load(s, dir, "documents"))
      .collect().map(r => r.getString(0) -> row(r)).toMap
    val mem = MemoryStream[Doc]
    val out = graft.operators.Pipeline.vocabSketchStream(mem.toDF())
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("sketch_test").start()
    try {
      // adversarial order: reversed, uneven batches
      docs.reverse.grouped(170).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      // a source's LATEST state carries max n_tokens_seen (monotone by
      // construction — never rely on sink row order)
      val latest = s.table("sketch_test").collect()
        .groupBy(_.getString(0))
        .map { case (src, rs) => src -> row(rs.maxBy(_.getLong(1))) }
      // counter halves (row count, HLL estimate) are GUARANTEED equal
      // under any batching — assert them separately so a (theoretical)
      // top-k candidate divergence cannot mask a counter bug
      assert(latest.view.mapValues(v => (v._1, v._2)).toMap ==
        batch.view.mapValues(v => (v._1, v._2)).toMap,
        s"counter state diverges from batch: $latest vs $batch")
      // the top-k LIST is exact-whp only (serialize-time candidate
      // pruning — see vocabSketchStream's scaladoc); on this fixture's
      // benign distribution it is deterministic and equal
      assert(latest == batch,
        s"stream sketches diverge from batch: $latest vs $batch")
    } finally q.stop()
  }

  test("streaming mixture admission converges to the batch p12 keep set") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = SparkTestSession.sf0001
    val quotas = graft.operators.Pipeline.mixtureQuotas(s, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = Tables.load(s, dir, "documents").as[Doc].collect().toSeq
    // adversarial arrival order: descending salted rank, so early batches
    // fill every stratum with its WORST candidates and later arrivals
    // must keep evicting them — the changelog path is fully exercised
    def rk(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix$id".getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val feed = docs.sortBy(d => rk(d.doc_id)).reverse
    val mem = MemoryStream[Doc]
    val deltas = graft.operators.Pipeline.mixtureStream(mem.toDF(), quotas)
    val q = deltas.writeStream.outputMode("update")
      .format("memory").queryName("mix_test").start()
    try {
      feed.grouped(150).foreach { b => mem.addData(b); q.processAllAvailable() }
      val rows = s.table("mix_test").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      // an id is admitted at most once and evicted at most once (the
      // admitted set only ever improves), so the net op decides.
      // (.iterator: a Map.collect returning pairs would REBUILD a map
      // keyed by lang and silently collapse to one doc per language)
      val admitted = rows.groupBy(r => (r._1, r._2)).iterator.collect {
        case (key, es) if es.map(_._3).sum == 1 => key
      }.toSet
      val batch = graft.operators.Pipeline.p12MixtureSample(s, dir).collect()
        .map(r => (r.getString(1), r.getLong(0))).toSet
      assert(admitted == batch,
        s"stream fold diverges from batch keep set: extra=${
          admitted -- batch} missing=${batch -- admitted}")
      assert(rows.exists(_._3 == -1),
        "no evictions — the adversarial feed order exercised nothing")
    } finally q.stop()
  }

  test("streaming drift monitor converges to the batch p24 TVD per source") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = SparkTestSession.sf0001
    val (ref, nRef) = graft.operators.Pipeline.refDistribution(s, dir)
    val docs = Tables.load(s, dir, "documents").as[Doc].collect().toSeq
    val mem = MemoryStream[Doc]
    val drift = graft.operators.Pipeline.driftStream(mem.toDF(), ref, nRef)
    val q = drift.writeStream.outputMode("update")
      .format("memory").queryName("drift_test").start()
    try {
      docs.grouped(150).foreach { b => mem.addData(b); q.processAllAvailable() }
      val got = s.table("drift_test").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
        .groupBy(_._1)
        .map { case (src, es) => src -> es.maxBy(_._2._1)._2 }
      val batch = graft.operators.Pipeline.p24DriftAudit(s, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3), r.getDouble(4))))
        .toMap
      assert(got.keySet == batch.keySet,
        s"sources diverge: ${got.keySet} vs ${batch.keySet}")
      batch.foreach { case (src, (n, l1, tvd)) =>
        val (gn, gl1, gtvd) = got(src)
        assert(gn == n && gl1 == l1 && gtvd == tvd,
          s"source $src drift ($gn,$gl1,$gtvd) != batch ($n,$l1,$tvd)")
      }
    } finally q.stop()
  }

  test("streaming decontamination: ingest excision equals a driver bloom " +
      "replay, only ever over-excises vs batch p31, and covers p4's flags") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = SparkTestSession.sf0001
    val bloom = graft.operators.Pipeline.benchmarkBloomBytes(s, dir)
    val docs = Tables.load(s, dir, "documents").as[Doc].collect().toSeq
    val mem = MemoryStream[Doc]
    val q = graft.operators.Pipeline.decontaminateStream(mem.toDF(), bloom)
      .writeStream.outputMode("append")
      .format("memory").queryName("decon_test").start()
    try {
      docs.grouped(200).foreach { b => mem.addData(b); q.processAllAvailable() }
      val got = s.table("decon_test").collect()
        .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getLong(3),
          r.getString(4)))).toMap
      // driver replay: same bloom object, same positional grams, same cut
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bloom))
      val n = graft.operators.Pipeline.ContamN
      val hashesOf = Tables.load(s, dir, "documents")
        .select($"doc_id",
          graft.functions.TextFunctions.shingleHashesPos($"text", n)
            .as("h"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      def md5hex(str: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(str.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val corpus = docs.filter(_.source !=
        graft.operators.Pipeline.BenchmarkSource)
      assert(got.keySet == corpus.map(_.doc_id).toSet)
      corpus.foreach { doc =>
        val w = doc.text.split(" ")
        val cut = hashesOf(doc.doc_id).zipWithIndex.collect {
          case (h, i) if bf.mightContainLong(h) => (i + 1) to (i + n)
        }.flatten.toSet
        val kept = w.zipWithIndex.collect {
          case (tok, i) if !cut(i + 1) => tok
        }
        val (nt, nk, nr, dg) = got(doc.doc_id)
        assert(nt == w.length && nk == kept.length.toLong &&
          nr == (w.length - kept.length).toLong,
          s"doc ${doc.doc_id}: stream counts diverge from the replay")
        assert(dg == md5hex(kept.mkString(" ")),
          s"doc ${doc.doc_id}: digest diverges from the replay")
      }
      // one-sided vs batch p31 (no false negatives → never under-excise)
      val batch = graft.operators.Pipeline.p31Decontaminate(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      got.foreach { case (id, (_, nk, _, _)) =>
        assert(nk <= batch(id),
          s"doc $id: stream kept $nk > batch ${batch(id)} — under-excised")
      }
      // and everything p4 flags is excised here too
      val p4 = graft.operators.Pipeline.p4Contamination(s, dir).collect()
        .map(_.getLong(0)).toSet
      val excised = got.collect { case (id, (_, _, nr, _)) if nr > 0 => id }
        .toSet
      assert(p4.subsetOf(excised),
        s"p4 flags not covered: ${p4 -- excised}")
    } finally q.stop()
  }

  test("streaming novelty: shard emissions fold to an exact driver bloom " +
      "replay and never over-report batch p22") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = SparkTestSession.sf0001
    val docs = Tables.load(s, dir, "documents").as[Doc].collect().toSeq
      .sortBy(_.doc_id)
    val mem = MemoryStream[Doc]
    val nov = graft.operators.Pipeline.noveltyStream(mem.toDF())
    val q = nov.writeStream.outputMode("update")
      .format("memory").queryName("novelty_test").start()
    try {
      docs.grouped(120).foreach { b => mem.addData(b); q.processAllAvailable() }
      // each (doc, shard) pair emits exactly once (update mode, one
      // batch per doc); fold the shard partials to per-doc totals
      val got = s.table("novelty_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (id, es) => id -> ((es.map(_._2).sum, es.map(_._3).sum)) }
      // driver replay: the same 64 shard blooms, same KM probe rule,
      // grams walked in doc order — collisions and all
      import graft.operators.Pipeline.{NoveltyShards, NoveltyBloomBits, NoveltyBloomK}
      val grams = Tables.load(s, dir, "documents")
        .select($"doc_id",
          explode(graft.functions.TextFunctions.shingleHashes($"text", 3))
            .as("g"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        .sortBy(_._1)
      val blooms = Array.fill(NoveltyShards)(
        new Array[Long](NoveltyBloomBits / 64))
      val expected = grams.groupBy(_._1).toSeq.sortBy(_._1).map {
        case (id, gs) =>
          var novel = 0L
          gs.foreach { case (_, g) =>
            // bits 48-53, the operator's probe-disjoint shard rule
            val shard = java.lang.Math.floorMod(g >>> 48,
              NoveltyShards.toLong).toInt
            val words = blooms(shard)
            val step = (g >>> 32) | 1L
            def pos(j: Int) = java.lang.Long.remainderUnsigned(
              g + j * step, NoveltyBloomBits)
            val unseen = (0 until NoveltyBloomK).exists { j =>
              (words((pos(j) / 64).toInt) & (1L << (pos(j) % 64))) == 0L
            }
            if (unseen) {
              novel += 1
              (0 until NoveltyBloomK).foreach { j =>
                words((pos(j) / 64).toInt) |= 1L << (pos(j) % 64)
              }
            }
          }
          id -> ((gs.size.toLong, novel))
      }.toMap
      assert(got == expected,
        s"stream fold diverges from the driver bloom replay " +
          s"(${got.size} docs vs ${expected.size})")
      // one-sided error vs batch p22: identical gram totals, novelty
      // only ever UNDER-reported (a bloom FP marks a first gram seen)
      val batch = graft.operators.Pipeline.p22Novelty(s, dir).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(got.keySet == batch.keySet)
      got.foreach { case (id, (ng, nn)) =>
        val (bg, bn) = batch(id)
        assert(ng == bg, s"doc $id gram count $ng != batch $bg")
        assert(nn <= bn, s"doc $id stream novelty $nn OVER-reports batch $bn")
      }
      // and the sketch is not degenerate: overwhelmingly exact here
      val exact = got.count { case (id, (_, nn)) => nn == batch(id)._2 }
      assert(exact >= (got.size * 95) / 100,
        s"bloom collisions dominate: only $exact/${got.size} docs exact")
    } finally q.stop()
  }

  test("streaming DSIR scoring selects exactly the batch p17 documents") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = SparkTestSession.sf0001
    val weights = graft.operators.Pipeline.dsirModel(s, dir)
    val (bAvg, bMd5) = graft.operators.Pipeline.dsirBoundary(s, dir)
    val docs = Tables.load(s, dir, "documents").as[Doc].collect().toSeq
    val mem = MemoryStream[Doc]
    val scored = graft.operators.Pipeline.dsirStream(
      mem.toDF(), weights, bAvg, bMd5)
    val q = scored.writeStream.outputMode("update")
      .format("memory").queryName("dsir_test").start()
    try {
      docs.grouped(150).foreach { b => mem.addData(b); q.processAllAvailable() }
      val got = s.table("dsir_test").collect()
        .map(r => (r.getLong(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
        .groupBy(_._1)
        .map { case (id, es) => id -> es.maxBy(_._2._1)._2 }
      val batch = graft.operators.Pipeline.p17DsirSelect(s, dir).collect()
        .map(r => (r.getLong(0),
          (r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      val selected = got.collect { case (id, (_, _, _, true)) => id }.toSet
      assert(selected == batch.keySet,
        s"stream admission diverges from batch selection: extra=${
          selected -- batch.keySet} missing=${batch.keySet -- selected}")
      // scores themselves must be identical, not just the verdicts
      batch.foreach { case (id, (n, sc, aq)) =>
        val (gn, gsc, gaq, _) = got(id)
        assert(gn == n && gsc == sc && gaq == aq,
          s"doc $id scored ($gn,$gsc,$gaq) vs batch ($n,$sc,$aq)")
      }
      assert(got.size == docs.count(_.source != "src0"),
        "every raw-source doc must be scored; target docs must not be")
    } finally q.stop()
  }

  test("streaming incremental dedup admits exactly the batch d15 " +
    "verdicts against the persisted snapshot index") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = SparkTestSession.sf0001
    val delta = Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 10 === graft.operators.Dedup.IncrMod)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val verdicts = graft.operators.Dedup.incrementalDedupStream(
      s, dir, mem.toDF().toDF("doc_id", "text"))
    val q = verdicts.writeStream.outputMode("append")
      .format("memory").queryName("incr_test").start()
    try {
      // 3 batches — batch 1 delivered with every doc DUPLICATED INSIDE
      // the batch (in-batch at-least-once duplication the cross-batch
      // seen-marker cannot absorb: matches must come from distinct
      // (h, base) pairs or `shared` doubles against the set-valued n1
      // and jaccard silently inflates) — plus a full cross-batch
      // REDELIVERY of batch 1 (absorbed by the seen-marker — no
      // duplicate verdicts may appear)
      val batches = delta.grouped(delta.length / 3 + 1).toSeq
      ((batches.head ++ batches.head) +: batches.tail :+ batches.head)
        .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      val got = s.table("incr_test").collect()
        .map { r =>
          (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)),
            r.getBoolean(4))
        }.toSeq
      assert(got.map(_._1).length == got.map(_._1).distinct.length,
        "redelivered batch must not produce duplicate verdicts")
      val batch = graft.operators.Dedup.d15IncrementalDedup(s, dir).collect()
        .map { r =>
          (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)),
            r.getBoolean(4))
        }.toSeq
      assert(got.sortBy(_._1) == batch.sortBy(_._1),
        s"stream verdicts diverge from batch d15 (got ${got.size}, " +
          s"want ${batch.size})")
    } finally q.stop()
    // adversarial case: a doc whose EVERY shingle is in the hot set must
    // still get its (vacuously admitting) verdict — an anti-join
    // formulation drops all its rows, so its key never reaches the group
    // function and the stream goes silent (the review bug). The fixture
    // has no base-hot shingle at this SF, so the hot set is INJECTED:
    // exactly this doc's own shingle hashes.
    val hotDoc = (900000001L, "alpha beta gamma delta")
    val hotSet = s.createDataFrame(Seq(Tuple1(hotDoc._2)))
      .toDF("text")
      .select(explode(graft.plans.VectorExpressions.shingleHashes(
        col("text"), graft.operators.Dedup.ShingleN)).as("h"))
    val mem3 = MemoryStream[(Long, String)]
    val q3 = graft.operators.Dedup.incrementalDedupStream(
      s, dir, mem3.toDF().toDF("doc_id", "text"),
      hotOverride = Some(hotSet)).writeStream
      .outputMode("append").format("memory").queryName("incr_hot").start()
    try {
      mem3.addData(hotDoc); q3.processAllAvailable()
      val tail = s.table("incr_hot").collect()
      assert(tail.length == 1 && tail.head.getLong(0) == hotDoc._1 &&
        tail.head.getLong(1) == 0L && tail.head.getBoolean(4),
        s"an all-hot-shingle doc must emit exactly one admitting " +
          s"verdict, got ${tail.mkString(";")}")
    } finally q3.stop()
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
