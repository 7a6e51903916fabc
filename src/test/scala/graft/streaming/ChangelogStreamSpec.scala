package graft.streaming

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.changelog.{ChangelogRecord, Op}
import graft.streaming.StatefulOps.UpsertEvent

/** The `user` fixture type — the four fields the reference's queries
  * contractually require (FIXTURES.md §1). */
case class User(guid: String, eyeColor: String, age: Int, balance: String)

class ChangelogStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val users = Seq(
    User("u1", "brown", 42, "$100.00"),
    User("u2", "blue", 25, "$200.50"),
    User("u3", "brown", 55, "$300.25"),
    User("u4", "green", 33, "$50.75"),
    User("u5", "brown", 47, "$812.10"),
    User("u6", "blue", 61, "$999.99"))

  test("synthesizer emits +I then adjacent -U/+U pairs") {
    val s = new ChangelogSynthesizer(Seq("color", "n"), Seq("color"))
    assert(s.onUpsert(Seq(Vector("brown", 1L))) ==
      Seq(ChangelogRecord(Some(Op.Insert), Vector("brown", 1L))))
    assert(s.onUpsert(Seq(Vector("brown", 2L))) == Seq(
      ChangelogRecord(Some(Op.UpdateBefore), Vector("brown", 1L)),
      ChangelogRecord(Some(Op.UpdateAfter), Vector("brown", 2L))))
    // unchanged value → nothing (no spurious retractions)
    assert(s.onUpsert(Seq(Vector("brown", 2L))).isEmpty)
  }

  test("snapshot diff emits -D for dropped groups") {
    val s = new ChangelogSynthesizer(Seq("color", "n"), Seq("color"))
    s.onSnapshot(Seq(Vector("brown", 1L), Vector("blue", 2L)))
    val out = s.onSnapshot(Seq(Vector("brown", 3L)))
    assert(out == Seq(
      ChangelogRecord(Some(Op.UpdateBefore), Vector("brown", 1L)),
      ChangelogRecord(Some(Op.UpdateAfter), Vector("brown", 3L)),
      ChangelogRecord(Some(Op.Delete), Vector("blue", 2L))))
  }

  // onUpsert and onSnapshot share one per-row rule; a seeded mix of both
  // batch kinds over a few keys hits inserts, changed values, no-op
  // updates (small value range) and groups a snapshot drops that a later
  // batch brings back. `live` replays what the synthesizer must hold: an
  // update batch overwrites its keys, a snapshot replaces every key.
  test("synthesizer property: update and snapshot batches collapse to the live rows") {
    for (seed <- Seq(3, 17, 41)) {
      val rnd = new scala.util.Random(seed)
      val s = new ChangelogSynthesizer(Seq("k", "v"), Seq("k"))
      val live = scala.collection.mutable.Map.empty[Any, Vector[Any]]
      val history = scala.collection.mutable.ArrayBuffer.empty[ChangelogRecord]
      (1 to 200).foreach { b =>
        val keys = rnd.shuffle((0 until 6).toVector).take(rnd.nextInt(7))
        val rows = keys.map(k => Vector[Any](k, rnd.nextInt(3)))
        val noOps = rows.filter(r => live.get(r(0)).contains(r)).map(_(0)).toSet
        val snapshot = rnd.nextBoolean()
        val out = if (snapshot) s.onSnapshot(rows) else s.onUpsert(rows)
        if (snapshot) live.clear()
        rows.foreach(r => live(r(0)) = r)
        history ++= out
        val collapsed = new graft.changelog.ResultTable(Seq("k", "v")).update(history)
        assert(collapsed.rows.sortBy(_.mkString) == live.values.toSeq.sortBy(_.mkString),
          s"seed $seed batch $b: collapse != live rows after $out")
        out.zipWithIndex.foreach { case (r, i) =>
          if (r.op.contains(Op.UpdateBefore))
            assert(out.lift(i + 1).exists(n =>
              n.op.contains(Op.UpdateAfter) && n.values(0) == r.values(0)),
              s"seed $seed batch $b: -U not followed by its +U in $out")
        }
        assert(!out.exists(r => noOps.contains(r.values(0))),
          s"seed $seed batch $b: a no-op update emitted records: $out")
      }
    }
  }

  // SURVEY §7 M3: the eye-color demo query (reference dashboard.py:83) end
  // to end — MemoryStream → groupBy.count → changelog sink → collapse()
  // equals the batch answer after every micro-batch.
  test("streaming eye-color changelog collapses to the batch answer") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[User]
    val counts = mem.toDF()
      .groupBy($"eyeColor")
      .agg(count(lit(1)).as("eye_color_count"))
    val handle = ChangelogStream.updating(counts, "eye-colors-test", Seq("eyeColor"))
    val changelog = handle.changelog()
    val table = new graft.changelog.ResultTable(handle.schema)
    try {
      users.grouped(2).foreach { batch =>
        mem.addData(batch)
        handle.processAllAvailable()
        table.update(changelog.consume())
        val fedSoFar = users.take(users.indexOf(batch.last) + 1)
        val batchAnswer = fedSoFar.groupBy(_.eyeColor)
          .map { case (c, us) => Vector[Any](c, us.size.toLong) }.toSet
        assert(table.rows.toSet == batchAnswer)
      }
      // -U must immediately precede its +U in the history
      val hist = changelog.history
      hist.zipWithIndex.foreach { case (rec, i) =>
        if (rec.op.contains(Op.UpdateBefore))
          assert(hist(i + 1).op.contains(Op.UpdateAfter))
      }
      assert(changelog.opsReceived.contains(Op.UpdateBefore))
    } finally handle.stop()
  }

  // demo query 3 (CTE + substring/CAST + CASE WHEN + AVG) as a stream:
  // the full scalar surface must work under incremental execution too.
  test("streaming age-groups query collapses to the batch answer") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[User]
    val agg = mem.toDF()
      .select(
        substring($"balance", 2, Int.MaxValue).cast("double").as("bal"),
        when($"age".between(20, 29), "20s")
          .when($"age".between(30, 39), "30s")
          .when($"age".between(40, 49), "40s")
          .when($"age".between(50, 59), "50s")
          .otherwise("other").as("age_group"))
      .groupBy($"age_group")
      .agg(count(lit(1)).as("n"), round(sum($"bal"), 2).as("total_bal"))
    val handle = ChangelogStream.updating(agg, "age-groups-test", Seq("age_group"))
    val changelog = handle.changelog()
    val table = new graft.changelog.ResultTable(handle.schema)
    try {
      users.grouped(3).foreach { batch =>
        mem.addData(batch)
        handle.processAllAvailable()
        table.update(changelog.consume())
      }
      val expected = users.groupBy(u => u.age / 10 match {
        case 2 => "20s"; case 3 => "30s"; case 4 => "40s"; case 5 => "50s"
        case _ => "other"
      }).map { case (g, us) =>
        Vector[Any](g, us.size.toLong,
          BigDecimal(us.map(_.balance.drop(1).toDouble).sum)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet
      assert(table.rows.toSet == expected)
    } finally handle.stop()
  }

  // live -D: a group crossing a HAVING-style threshold must leave the
  // materialized result via a delete record (complete-mode snapshot diff)
  test("snapshotting query emits -D when a group exits the result") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[User]
    val smallGroups = mem.toDF()
      .groupBy($"eyeColor")
      .agg(count(lit(1)).as("n"))
      .filter($"n" <= 2)
    val handle = ChangelogStream.snapshotting(
      smallGroups, "having-test", Seq("eyeColor"))
    val changelog = handle.changelog()
    val table = new graft.changelog.ResultTable(handle.schema)
    try {
      mem.addData(users.filter(_.eyeColor == "brown").take(2)) // brown=2: in
      handle.processAllAvailable()
      table.update(changelog.consume())
      assert(table.rows == Seq(Vector("brown", 2L)))
      mem.addData(users.filter(_.eyeColor == "brown").drop(2)) // brown=3: out
      handle.processAllAvailable()
      table.update(changelog.consume())
      assert(table.rows.isEmpty, "group must be deleted once over threshold")
      assert(changelog.opsReceived.contains(Op.Delete))
    } finally handle.stop()
  }

  // cursors must not steal from each other: each changelog() call replays
  // from record 0 (the reference's results() also re-pages from the start)
  test("two cursors over one handle each see the full history") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[User]
    val counts = mem.toDF().groupBy($"eyeColor").agg(count(lit(1)).as("n"))
    val handle = ChangelogStream.updating(counts, "cursors-test", Seq("eyeColor"))
    try {
      val first = handle.changelog()
      mem.addData(users.take(4))
      handle.processAllAvailable()
      first.consume()
      assert(first.history.nonEmpty)
      // a cursor created AFTER consumption still replays everything, and
      // records emitted later are visible to both
      val second = handle.changelog()
      mem.addData(users.drop(4))
      handle.processAllAvailable()
      first.consume(); second.consume()
      assert(second.history == first.history,
        "late cursor must see the identical full history")
    } finally handle.stop()
  }

  // the driver-retention guardrail: a query that outgrows the buffer fails
  // fast with a clear error instead of silently exhausting driver memory
  test("append sink over the record budget fails fast") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[User]
    val handle = ChangelogStream.appending(
      mem.toDF().select($"guid"), "cap-test", maxBufferedRecords = 4)
    try {
      mem.addData(users) // 6 rows > cap of 4
      val ex = intercept[Exception](handle.processAllAvailable())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("maxBufferedRecords")),
        s"error must name the budget: ${messages(ex)}")
    } finally handle.stop()
  }

  // the cap must protect the driver BEFORE the transfer, not only after:
  // each partition of the batch sends at most remainingCapacity + 1 rows,
  // so a catch-up micro-batch far larger than the budget still fails via
  // the log's documented error while only ~cap+1 rows per partition ever
  // flow toward the driver. An accumulator in the projection feeding the
  // collect counts executor-side row evaluations: the sink's task pulls
  // the projection at most cap+1 times per partition, so the count stays
  // orders of magnitude below the batch size.
  test("oversized micro-batch fails via the cap with a bounded collect") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[Int]
    val evals = s.sparkContext.longAccumulator("cap-bound-evals")
    val touched = udf { (i: Int) => evals.add(1L); i }
    val cap = 50
    val total = 100000
    val handle = ChangelogStream.appending(
      mem.toDF().select(touched($"value").as("v")), "cap-bound-test",
      maxBufferedRecords = cap)
    try {
      mem.addData(1 to total)
      val ex = intercept[Exception](handle.processAllAvailable())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("maxBufferedRecords")),
        s"error must name the budget: ${messages(ex)}")
      assert(evals.value > 0, "instrumented projection never ran")
      assert(evals.value < total / 10,
        s"collect not bounded by the cap: ${evals.value} row evaluations " +
          s"for a $total-row batch against cap=$cap")
    } finally handle.stop()
  }

  // the synthesizer sinks (updating/snapshotting) must never fold a
  // truncated batch — it would corrupt synthesizer state (dropped groups
  // would later read as deletions) — so their bound is fail-fast: the
  // single bounded job errors once more than cap rows arrive, BEFORE any
  // synthesizer mutation. The nondeterministic instrumented projection
  // (pruning-proof) counts row evaluations: the bounded job stops each
  // partition at cap+1 rows, so evals < R proves the full R-row transfer
  // never happened.
  test("over-cap grouped micro-batch fails via the cap before collecting") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[Int]
    val evals = s.sparkContext.longAccumulator("group-cap-evals")
    val touched = udf { (i: Int) => evals.add(1L); i }.asNondeterministic()
    val cap = 50
    val groups = 20000 // distinct keys ⇒ update-mode batch of 20000 rows
    val counts = mem.toDF().groupBy($"value").agg(count(lit(1)).as("n"))
      .select(touched($"value").as("k"), $"n")
    val handle = ChangelogStream.updating(counts, "group-cap-test", Seq("k"),
      maxBufferedRecords = cap)
    try {
      mem.addData(1 to groups)
      val ex = intercept[Exception](handle.processAllAvailable())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("maxBufferedRecords")),
        s"error must name the budget: ${messages(ex)}")
      assert(messages(ex).exists(_.contains("before collect")),
        s"error must come from the pre-collect guard: ${messages(ex)}")
      assert(evals.value > 0, "instrumented projection never ran")
      assert(evals.value < groups,
        s"collect was not prevented: ${evals.value} row evaluations for a " +
          s"$groups-group batch against cap=$cap (count-only pass must " +
          "evaluate well under one full scan)")
      // nothing may have been emitted: the batch failed atomically
      assert(handle.changelog().consume().isEmpty,
        "failed batch must not leave partial records in the log")
    } finally handle.stop()
  }

  // an update-mode batch emits at most a -U/+U pair per row and never a
  // -D, so `updating` caps a batch at remaining / 2 rows; only the
  // snapshot-diff rules also reserve one -D per live group. With 8
  // records of room, batch 1 brings 3 groups (3 +I) and batch 2 updates 2
  // of them: 4 records into the 5 left, a cap of 2 rows. Reserving the 3
  // live groups too would cap it at 1 row and fail the batch.
  test("updating caps a batch by its -U/+U pairs alone") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[Int]
    val handle = ChangelogStream.updating(
      mem.toDF().groupBy($"value").agg(count(lit(1)).as("n")),
      "updating-cap-test", Seq("value"), maxBufferedRecords = 8)
    try {
      mem.addData(1, 2, 3)
      handle.processAllAvailable()
      mem.addData(1, 2)
      handle.processAllAvailable()
      val recs = handle.changelog().consume()
      assert(recs.map(_.op.get).groupBy(identity).view.mapValues(_.size).toMap ==
        Map(Op.Insert -> 3, Op.UpdateBefore -> 2, Op.UpdateAfter -> 2), recs)
    } finally handle.stop()
  }

  // one Spark pass per micro-batch: each synthesizer sink must run its
  // batch plan once, so the state-store stage under it loads and commits
  // its state once. The nondeterministic instrumented projection above the
  // stateful operator counts row evaluations — one per output row; a
  // second action on the batch (e.g. a count before the collect) re-runs
  // the stage and makes it two.
  test("synthesizer sinks evaluate an under-cap micro-batch exactly once") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val rows = 40
    def grouped(mem: MemoryStream[Int], touched: Column => Column) =
      mem.toDF().groupBy($"value").agg(count(lit(1)).as("n"))
        .select(touched($"value").as("k"), $"n")
    val sinks = Seq[(String, (MemoryStream[Int], Column => Column) =>
        ChangelogStream.Handle)](
      "updating" -> ((mem, t) =>
        ChangelogStream.updating(grouped(mem, t), "once-updating", Seq("k"))),
      "snapshotting" -> ((mem, t) => ChangelogStream.snapshotting(
        grouped(mem, t), "once-snapshotting", Seq("k"))),
      "foldingSnapshot" -> ((mem, t) => ChangelogStream.foldingSnapshot(
        mem.toDF().dropDuplicates("value").select(t($"value").as("k")),
        "once-folding", Seq("k"), Seq("k"), deltas => Seq(deltas))))
    sinks.foreach { case (sink, start) =>
      val mem = MemoryStream[Int]
      val evals = s.sparkContext.longAccumulator(s"once-$sink-evals")
      val touched = udf { (i: Int) => evals.add(1L); i }.asNondeterministic()
      val handle = start(mem, c => touched(c))
      try {
        mem.addData(1 to rows)
        handle.processAllAvailable()
        val recs = handle.changelog().consume()
        assert(recs.size == rows && recs.forall(_.op.contains(Op.Insert)),
          s"$sink: expected $rows +I records, got $recs")
        assert(evals.value == rows,
          s"$sink: ${evals.value} row evaluations for a $rows-row " +
            "micro-batch — the batch plan ran more than once")
      } finally handle.stop()
    }
  }

  // one Spark job per micro-batch: every sink moves its batch to the
  // driver with a single job over the batch's planned RDD, whatever the
  // batch's partition count (a `limit(n).collect()` reads partition 0 in
  // one job and the other partitions in a second). A listener counts job
  // starts per streaming batch id in each query's job group (its run id),
  // each job's stages, and the tasks of its last stage. The grouped,
  // deduplicating and upsert plans end in the query's one state
  // partition; each int sink reads a 2-partition memory stream, so its
  // input (and the appending sink's whole batch) spans 2 partitions. The
  // stateful sinks read that input in their one state partition, so a
  // grouped batch runs in one stage, with no shuffle before the state
  // store. (Two `addData` pages would race the running query: it may take
  // them as two batches.)
  test("every sink runs one Spark job per micro-batch") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val marker = "one-job-per-batch-marker"
    val markerSeen = new CountDownLatch(1)
    val jobs = new ConcurrentHashMap[(String, String), Integer]()
    val lastStageTasks = new ConcurrentHashMap[(String, String), Integer]()
    val stages = new ConcurrentHashMap[(String, String), Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        val group = prop("spark.jobGroup.id")
        if (group.contains(marker)) markerSeen.countDown()
        for (g <- group; b <- prop("streaming.sql.batchId")) {
          jobs.merge((g, b), 1, (a: Integer, c: Integer) => a + c)
          lastStageTasks.put((g, b), e.stageInfos.maxBy(_.stageId).numTasks)
          stages.merge((g, b), e.stageInfos.size, (a: Integer, c: Integer) => a + c)
        }
      }
    }
    type Sink = (String, () => ChangelogStream.Handle, Int => Unit)
    def ints(sink: String)(start: MemoryStream[Int] => ChangelogStream.Handle): Sink = {
      val mem = MemoryStream[Int](2)
      (sink, () => start(mem), i => mem.addData(i * 10 until i * 10 + 20))
    }
    def grouped(mem: MemoryStream[Int]) =
      mem.toDF().groupBy($"value").agg(count(lit(1)).as("n"))
    val upserts = (0 until 20).map(i =>
      UpsertEvent(i % 3L, i % 7L, s"v$i", delete = i % 5 == 4))
    val sinks = Seq[Sink](
      ints("updating")(m => ChangelogStream.updating(
        grouped(m), "one-job-updating", Seq("value"))),
      ints("snapshotting")(m => ChangelogStream.snapshotting(
        grouped(m), "one-job-snapshotting", Seq("value"))),
      ints("foldingSnapshot")(m => ChangelogStream.foldingSnapshot(
        m.toDF().dropDuplicates("value"), "one-job-folding",
        Seq("value"), Seq("value"), deltas => Seq(deltas))),
      ints("appending")(m => ChangelogStream.appending(m.toDF(), "one-job-appending")), {
        val mem = MemoryStream[(Long, Int, UpsertEvent)]
        ("deltaPassthrough", () => ChangelogStream.deltaPassthrough(
          StatefulOps.changelogUnionUpsertStream(mem.toDS()).toDF(), "one-job-delta"),
          i => mem.addData(upserts.zipWithIndex.map { case (e, j) =>
            ((i * upserts.size + j).toLong, 0, e) }))
      })
    s.sparkContext.addSparkListener(listener)
    try {
      val batches = sinks.map { case (sink, start, feed) =>
        val handle = start()
        try {
          (0 until 3).foreach { i => feed(i); handle.processAllAvailable() }
          val withInput = handle.query.recentProgress
            .filter(_.numInputRows > 0).map(_.batchId.toString).toSeq
          assert(withInput.nonEmpty, s"$sink: no micro-batch had input")
          (sink, handle.query.runId.toString, withInput)
        } finally handle.stop()
      }
      // the listener bus delivers events in order: once a later job's
      // start arrives, every sink job's start has been counted
      s.sparkContext.setJobGroup(marker, marker)
      try s.sparkContext.parallelize(Seq(1), 1).count()
      finally s.sparkContext.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener never caught up")
      val perBatch = batches.map { case (sink, runId, withInput) =>
        sink -> withInput.map(b => b -> Option(jobs.get((runId, b))).fold(0)(_.intValue))
      }
      assert(perBatch.forall(_._2.forall(_._2 == 1)),
        s"Spark jobs per micro-batch (sink -> batch id -> jobs): $perBatch")
      def perBatchOf(counts: ConcurrentHashMap[(String, String), Integer]) =
        batches.map { case (sink, runId, withInput) =>
          sink -> withInput.map(b => Option(counts.get((runId, b))).fold(0)(_.intValue))
        }.toMap
      val stagesOf = perBatchOf(stages)
      info(s"stages per micro-batch: $stagesOf")
      assert(Seq("updating", "snapshotting").forall(k => stagesOf(k).forall(_ == 1)),
        s"a grouped sink's micro-batch must run in one stage: $stagesOf")
      val appendTasks = perBatchOf(lastStageTasks)("appending")
      assert(appendTasks.nonEmpty && appendTasks.forall(_ >= 2),
        s"appending's 2-partition batches must end in >= 2 tasks: $appendTasks")
    } finally s.sparkContext.removeSparkListener(listener)
  }

  // the sinks decode a batch's rows themselves, so every type must come
  // back exactly as `Dataset.collect()` returns it: the synthesizer and
  // the consumers compare rows by value, and the date/time classes follow
  // spark.sql.datetime.java8API.enabled. Row 0 is null in every column.
  test("sink records equal collect() of the same rows for every column type") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def typed(ids: DataFrame): DataFrame = {
      val v = $"value"
      def col(e: Column, name: String) = when(v =!= 0, e).as(name)
      ids.select(
        col(concat(lit("s"), v), "str"),
        col(v, "i"),
        col(v.cast("long") * 10000000000L, "l"),
        col(v / 3.0, "d"),
        col(concat(v.cast("string"), lit(".123456789012345678")).cast("decimal(38,18)"), "dec"),
        col(date_add(lit("2024-02-28").cast("date"), v), "dt"),
        col(timestamp_micros(lit(1710035999123456L) + v.cast("long") * 3600000000L), "ts"),
        col(timestamp_micros(lit(1710035999123456L) + v.cast("long") * 60000000L)
          .cast("timestamp_ntz"), "ntz"),
        col(concat(lit("b"), v.cast("string")).cast("binary"), "bin"),
        col(array(v, v + 1, lit(null).cast("int")), "arr"),
        col(map(concat(lit("k"), v.cast("string")), v * 2), "m"),
        col(struct(v.as("a"), concat(lit("x"), v.cast("string")).as("b")), "st"))
    }
    def norm(row: Seq[Any]): Seq[Any] = row.map {
      case b: Array[Byte] => b.toSeq
      case other => other
    }
    val java8 = "spark.sql.datetime.java8API.enabled"
    val before = s.conf.getOption(java8)
    try Seq("false", "true").foreach { on =>
      s.conf.set(java8, on)
      val mem = MemoryStream[Int]
      val handle = ChangelogStream.appending(typed(mem.toDF()), s"types-java8-$on")
      try {
        mem.addData(0 until 6)
        handle.processAllAvailable()
        val recs = handle.changelog().consume()
        assert(recs.forall(_.op.contains(Op.Insert)))
        val expected = typed((0 until 6).toDF("value")).collect().map(r => norm(r.toSeq))
        val got = recs.map(r => norm(r.values))
        assert(got.toSet == expected.toSet && got.size == expected.length,
          s"java8API=$on: sink records\n$got\ndiffer from collect()\n${expected.toSeq}")
        assert(got.flatten.collectFirst {
          case d: java.time.LocalDate => d
          case d: java.sql.Date => d
        }.map(_.isInstanceOf[java.time.LocalDate]).contains(on.toBoolean),
          s"java8API=$on: wrong date class in $got")
      } finally handle.stop()
    } finally before match {
      case Some(v) => s.conf.set(java8, v)
      case None => s.conf.unset(java8)
    }
  }

  // the per-partition row limit is cap + 1, which must not wrap around
  // when a caller lifts the budget to its largest value
  test("a sink with maxBufferedRecords = Int.MaxValue keeps every row") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[Int]
    val handle = ChangelogStream.appending(mem.toDF(), "max-budget-test",
      maxBufferedRecords = Int.MaxValue)
    try {
      mem.addData(1 to 5)
      handle.processAllAvailable()
      assert(handle.changelog().consume().map(_.values).toSet ==
        (1 to 5).map(i => Vector[Any](i)).toSet)
    } finally handle.stop()
  }

  test("append-only streaming query passes rows through as +I") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[User]
    val proj = mem.toDF().select($"guid", $"eyeColor")
    val handle = ChangelogStream.appending(proj, "locations-test")
    val changelog = handle.changelog()
    try {
      mem.addData(users.take(3))
      handle.processAllAvailable()
      val got = changelog.consume()
      assert(got.map(_.op).forall(_.contains(Op.Insert)))
      assert(got.map(_.values).toSet ==
        users.take(3).map(u => Vector[Any](u.guid, u.eyeColor)).toSet)
    } finally handle.stop()
  }
}
