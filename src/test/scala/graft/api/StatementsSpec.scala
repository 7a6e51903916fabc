package graft.api

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.changelog.Changelog
import graft.sources.Tables

class StatementsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("batch statement: create → completed → results as +I changelog") {
    Tables.registerAll(spark, SparkTestSession.sf0001)
    val stmts = new Statements(spark)
    val stmt = stmts.create(
      "SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY c_mktsegment")
    assert(stmt.name.startsWith("stmt-") && stmt.name.length == "stmt-".length + 12)
    assert(stmt.phase == Phase.Completed)
    assert(stmt.columns == Seq("c_mktsegment", "n"))
    assert(stmts.waitForStatus(stmt, Set(Phase.Completed)).isDefined)

    val cl = new Changelog(stmt.columns, stmt.results())
    cl.consume()
    val table = cl.collapse()
    assert(table.size == 5)
    assert(table.columns == Seq("c_mktsegment", "n"))
  }

  test("streaming statement: running phase, changelog results, stop") {
    val dirPath = java.nio.file.Files.createTempDirectory("stmt-stream")
    java.nio.file.Files.writeString(dirPath.resolve("b1.json"),
      """{"guid":"u1","eyeColor":"brown","age":41,"balance":"$10.00"}
        |{"guid":"u2","eyeColor":"blue","age":25,"balance":"$20.00"}
        |""".stripMargin)
    graft.sources.UserStream.file(spark, dirPath.toString)
      .createOrReplaceTempView("user_stream")
    val stmts = new Statements(spark)
    // no keyCols: the facade derives the grouping key from the plan
    val stmt = stmts.create(
      "SELECT eyeColor, count(*) AS n FROM user_stream GROUP BY eyeColor")
    try {
      assert(stmt.isStreaming)
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      stmt.handle.get.processAllAvailable()
      val results = stmt.results()
      val got = Iterator.continually(results.next())
        .take(10).flatten.map(_.row).toSet
      assert(got == Set(Vector("brown", 1L), Vector("blue", 1L)))
      // second file = next page of the continuous query
      java.nio.file.Files.writeString(dirPath.resolve("b2.json"),
        """{"guid":"u3","eyeColor":"brown","age":52,"balance":"$30.00"}
          |""".stripMargin)
      stmt.handle.get.processAllAvailable()
      val more = Iterator.continually(results.next())
        .take(10).flatten.map(r => (r.op, r.row)).toSet
      assert(more.contains((Some(1), Vector("brown", 1L)))) // -U old
      assert(more.contains((Some(2), Vector("brown", 2L)))) // +U new
    } finally {
      stmt.stop()
      assert(stmt.phase == Phase.Completed)
    }
    // a stopped statement's cursor exhausts after its last record, so
    // consume() with the default limit returns
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val cl = new Changelog(stmt.columns, stmt.results())
    val all = Await.result(Future(cl.consume()),
      scala.concurrent.duration.Duration(60, "s"))
    assert(all.size == stmt.handle.get.records().flatten.size)
    assert(all.size == 4, all) // +I brown, +I blue, -U/+U brown
    assert(cl.collapse().toMultiset ==
      Map(Vector("brown", 2L) -> 1, Vector("blue", 1L) -> 1))
  }

  test("streaming statements set the checkpoint manager only when the caller has not") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val local = classOf[graft.streaming.LocalCheckpointFileManager].getName
    val callers = "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileSystemBasedCheckpointFileManager"
    val saved = spark.conf.getOption(key)
    val dirPath = java.nio.file.Files.createTempDirectory("stmt-ckpt-conf")
    java.nio.file.Files.writeString(dirPath.resolve("b1.json"),
      """{"guid":"u1","eyeColor":"brown","age":41,"balance":"$10.00"}
        |""".stripMargin)
    graft.sources.UserStream.file(spark, dirPath.toString)
      .createOrReplaceTempView("user_stream_ckpt")
    Tables.registerAll(spark, SparkTestSession.sf0001)
    def runStreaming(sql: String): Unit = {
      val stmt = new Statements(spark).create(sql)
      try {
        assert(stmt.isStreaming)
        stmt.handle.get.processAllAvailable()
        assert(stmt.results().next().isDefined)
      } finally stmt.stop()
    }
    try {
      spark.conf.unset(key)
      assert(new Statements(spark).create("SELECT count(*) AS n FROM nation")
        .phase == Phase.Completed)
      assert(spark.conf.getOption(key).isEmpty, "a batch statement starts no sink")
      runStreaming("SELECT eyeColor, count(*) AS n FROM user_stream_ckpt GROUP BY eyeColor")
      assert(spark.conf.getOption(key).contains(local))
      spark.conf.set(key, callers)
      runStreaming("SELECT guid, age FROM user_stream_ckpt")
      assert(spark.conf.get(key) == callers)
      // a manager set in the Hadoop conf wins over an unset session conf too
      spark.conf.unset(key)
      spark.sparkContext.hadoopConfiguration.set(key, callers)
      runStreaming("SELECT guid, age AS a FROM user_stream_ckpt")
      assert(spark.conf.getOption(key).isEmpty)
    } finally {
      spark.sparkContext.hadoopConfiguration.unset(key)
      saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  // a continuous statement's state partitioning is fixed when its query
  // starts; the sinks start it under spark.sql.shuffle.partitions = 1 and
  // give the caller's session back its own value, or none. Four routes:
  // a default-route GROUP BY (updating), a default-route HAVING
  // (snapshotting), a 2-feed join (deltaPassthrough over zJoinStream) and
  // a GROUP BY over a feed (foldingSnapshot over its upsert operator).
  // Their sinks read each source in that one partition, so no plan holds
  // a shuffle before its first state store (the join's second operator,
  // keyed on the join key, still gets one).
  test("streaming statements run one state partition per stateful operator " +
    "and leave the caller's spark.sql.shuffle.partitions as it was") {
    import java.util.concurrent.{Executors, TimeUnit}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val key = "spark.sql.shuffle.partitions"
    def explicit: Option[String] = s.conf.getAll.get(key)
    val saved = explicit
    val colors = MemoryStream[(String, String)]
    colors.toDF().toDF("color", "city").createOrReplaceTempView("sp_colors")
    colors.addData(("brown", "oslo"), ("brown", "rome"), ("blue", "oslo"))
    val lmem = MemoryStream[(Long, Long, Long, String, Boolean)]
    val rmem = MemoryStream[(Long, Long, Long, String, Boolean)]
    lmem.toDF().toDF("seq", "key", "id", "value", "delete")
      .createOrReplaceTempView("sp_l")
    rmem.toDF().toDF("seq", "key", "id", "value", "delete")
      .createOrReplaceTempView("sp_r")
    lmem.addData((0L, 1L, 100L, "a", false), (1L, 2L, 101L, "b", false))
    rmem.addData((0L, 1L, 200L, "x", false))
    def onePartition(stmt: Statement, stateful: Int): Unit = {
      stmt.handle.get.processAllAvailable()
      assert(s.streams.active.exists(_.name == stmt.name),
        s"${stmt.sql}: not in the caller's spark.streams.active")
      val ops = stmt.handle.get.query.lastProgress.stateOperators
      assert(ops.length == stateful && ops.forall(_.numShufflePartitions == 1),
        s"${stmt.sql}: state partitions ${ops.map(_.numShufflePartitions).toSeq}")
      assert(s.conf.get(key) == "4", "the caller's batch count must stay 4")
      val plan = stmt.handle.get.query.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      info(s"${stmt.sql}: ${exchanges.length} shuffle exchange(s)")
      assert(exchanges.length < stateful, s"${stmt.sql}: shuffles in\n$plan")
    }
    def running(sql: String)(check: Statement => Unit): Unit = {
      val stmt = new Statements(s).create(sql)
      try check(stmt) finally stmt.stop()
    }
    try {
      s.conf.set(key, "4")
      running("SELECT color, count(*) AS c FROM sp_colors GROUP BY color")(
        onePartition(_, 1))
      running("SELECT color, count(*) AS c FROM sp_colors GROUP BY color " +
        "HAVING count(*) <= 2")(onePartition(_, 1))
      running("SELECT * FROM sp_l AS a JOIN sp_r AS b ON a.key = b.key")(
        onePartition(_, 2))
      running("SELECT key, count(*) AS n FROM sp_l GROUP BY key")(
        onePartition(_, 1))
      // an explicit value is kept exactly; an unset conf stays unset
      s.conf.set(key, "3")
      running("SELECT color, count(*) AS c3 FROM sp_colors GROUP BY color")(_ => ())
      assert(explicit.contains("3"))
      s.conf.unset(key)
      running("SELECT color, count(*) AS cu FROM sp_colors GROUP BY color")(_ => ())
      assert(explicit.isEmpty, s"an unset conf came back as $explicit")
      // concurrent starts, each from its own facade (no shared create lock)
      s.conf.set(key, "3")
      val pool = Executors.newFixedThreadPool(8)
      val stmts =
        try (0 until 8).map(i => pool.submit(() => new Statements(s).create(
          s"SELECT color, count(*) AS c$i FROM sp_colors GROUP BY color")))
          .map(_.get(120, TimeUnit.SECONDS))
        finally pool.shutdown()
      try {
        assert(explicit.contains("3"), s"8 concurrent starts left $explicit")
        stmts.foreach { stmt =>
          stmt.handle.get.processAllAvailable()
          assert(stmt.handle.get.query.lastProgress.stateOperators
            .forall(_.numShufflePartitions == 1), stmt.sql)
        }
      } finally stmts.foreach(_.stop())
    } finally saved.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  // a default-route GROUP BY whose first micro-batch holds several pages
  // of a 2-partition source: the input partitions coalesce into the one
  // state task, and the changelog collapses to spark.sql over the rows
  test("a default-route GROUP BY over a 2-partition source collapses to " +
    "spark.sql over the same rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[(String, Int)](2)
    mem.toDF().toDF("color", "n").createOrReplaceTempView("pp_colors")
    val sql = "SELECT color, count(*) AS c, sum(n) AS total, max(n) AS top " +
      "FROM %s GROUP BY color"
    val rnd = new scala.util.Random(16)
    val fed = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    def pages(k: Int): Unit = (0 until k).foreach { _ =>
      val page = Seq.fill(10)(
        (Seq("brown", "blue", "green", "amber")(rnd.nextInt(4)), rnd.nextInt(50)))
      fed ++= page
      mem.addData(page)
    }
    def batchTwin: Map[Vector[Any], Int] = {
      fed.toSeq.toDF("color", "n").createOrReplaceTempView("pp_colors_batch")
      s.sql(sql.format("pp_colors_batch")).collect().toSeq
        .map(_.toSeq.toVector).groupBy(identity).view.mapValues(_.size).toMap
    }
    pages(3)
    val stmt = new Statements(s).create(sql.format("pp_colors"))
    try {
      val cl = stmt.handle.get.changelog()
      def sync(): Map[Vector[Any], Int] = {
        stmt.handle.get.processAllAvailable()
        while (cl.consume(1).nonEmpty) ()
        cl.collapse().toMultiset
      }
      assert(sync() == batchTwin)
      pages(4)
      assert(sync() == batchTwin)
      assert(cl.collapse().missedRetractions == 0)
      assert(cl.opsReceived.contains(graft.changelog.Op.UpdateBefore),
        "later pages must update the first batch's groups")
    } finally stmt.stop()
  }

  test("statement properties route sql.current-database: the same " +
    "unqualified table name resolves per-statement (api/statements.py:27-31)") {
    val stmts = new Statements(spark)
    // two databases, same table NAME, different content — the reference's
    // catalog/database context decides which one an unqualified name hits
    spark.sql("CREATE DATABASE IF NOT EXISTS stmt_db_a")
    spark.sql("CREATE DATABASE IF NOT EXISTS stmt_db_b")
    try {
      spark.sql("DROP TABLE IF EXISTS stmt_db_a.ctx_t")
      spark.sql("DROP TABLE IF EXISTS stmt_db_b.ctx_t")
      spark.sql("CREATE TABLE stmt_db_a.ctx_t USING parquet AS SELECT 'a' AS v")
      spark.sql("CREATE TABLE stmt_db_b.ctx_t USING parquet AS SELECT 'b' AS v")
      val sql = "SELECT v FROM ctx_t"
      def props(db: String) = Map(
        stmts.CurrentCatalogProp -> "spark_catalog",
        stmts.CurrentDatabaseProp -> db)
      val sa = stmts.create(sql, properties = props("stmt_db_a"))
      val sb = stmts.create(sql, properties = props("stmt_db_b"))
      // properties participate in the memo key: same SQL, two statements
      assert(sa.name != sb.name, "distinct namespaces must not share a memo hit")
      assert(sa.properties(stmts.CurrentDatabaseProp) == "stmt_db_a")
      def firstValue(s: Statement): String = {
        val cl = new Changelog(s.columns, s.results())
        cl.consume(); cl.collapse().rows.head.head.toString
      }
      assert(firstValue(sa) == "a" && firstValue(sb) == "b",
        "unqualified ctx_t must resolve in the statement's database")
      // the planning-time namespace switch must not leak into the session
      assert(spark.catalog.currentDatabase == "default",
        "session database must be restored after create()")
      // … and a memoized re-create under the same properties is a hit
      assert(stmts.create(sql, properties = props("stmt_db_a")).name == sa.name)
    } finally {
      spark.sql("DROP DATABASE IF EXISTS stmt_db_a CASCADE")
      spark.sql("DROP DATABASE IF EXISTS stmt_db_b CASCADE")
    }
  }

  test("statements are memoized by SQL text") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    Tables.registerAll(spark, SparkTestSession.sf0001)
    val stmts = new Statements(spark)
    val a = stmts.create("SELECT count(*) AS n FROM nation")
    val b = stmts.create("SELECT count(*) AS n FROM nation")
    assert(a eq b)
    // a streaming statement on the default route (an updating sink) and
    // one on a feed route (the IVM fold): each is served from the memo
    // while its query runs, and re-created once it is stopped
    MemoryStream[Int].toDF().createOrReplaceTempView("memo_stream")
    MemoryStream[(Long, Long, Long, String, Boolean)].toDF()
      .toDF("seq", "key", "id", "value", "delete")
      .createOrReplaceTempView("memo_feed")
    Seq("SELECT value, count(*) AS n FROM memo_stream GROUP BY value",
        "SELECT key, count(*) AS n FROM memo_feed GROUP BY key").foreach { sql =>
      val first = stmts.create(sql)
      try {
        assert(first.isStreaming)
        assert(stmts.create(sql) eq first, s"memo miss while running: $sql")
      } finally first.stop()
      val again = stmts.create(sql)
      try assert(!(again eq first), s"a stopped statement was served: $sql")
      finally again.stop()
    }
  }

  test("all three reference queries run end-to-end through the facade") {
    // the reference's exact SQL (dashboard.py:83,100,118-132 — no ORDER
    // BY; continuous queries deliver changelogs, not sorted snapshots)
    // over a continuously-fed `user` table, at the reference cadences:
    // 300 ms status poll (Statements default), consume(1) per tick.
    val dirPath = java.nio.file.Files.createTempDirectory("stmt-demo-e2e")
    val written = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int, Double)]
    def page(name: String, users: (String, String, Int, Double)*): Unit = {
      written ++= users
      java.nio.file.Files.writeString(dirPath.resolve(name),
        users.map { case (g, e, a, b) =>
          f"""{"guid":"$g","eyeColor":"$e","age":$a,"balance":"$$$b%.2f"}"""
        }.mkString("", "\n", "\n"))
    }
    page("p1.json", ("u1", "brown", 41, 10.0), ("u2", "blue", 25, 20.0),
      ("u3", "brown", 52, 6.0))
    graft.sources.UserStream.file(spark, dirPath.toString)
      .createOrReplaceTempView("user")
    val stmts = new Statements(spark)
    val demo1 = stmts.create(
      """SELECT `user`.guid,
        |  37.7 + (RAND(42) * (37.77 - 37.7)) AS latitude,
        |  -122.50 + (RAND(24) * (-122.39 - (-122.50))) AS longitude
        |FROM `user`""".stripMargin)
    val demo2 = stmts.create(
      "SELECT eyeColor, count(*) AS eye_color_count FROM `user` GROUP BY eyeColor")
    val demo3 = stmts.create(
      """WITH users_with_age_groups AS (
        |  SELECT CAST(substring(balance FROM 2) AS DOUBLE) AS balance_double,
        |    CASE
        |      WHEN age BETWEEN 20 AND 29 THEN '20s'
        |      WHEN age BETWEEN 30 AND 39 THEN '30s'
        |      WHEN age BETWEEN 40 AND 49 THEN '40s'
        |      WHEN age BETWEEN 50 AND 59 THEN '50s'
        |      ELSE 'other'
        |    END AS age_group
        |  FROM `user`)
        |SELECT age_group, AVG(balance_double) AS avg_balance
        |FROM users_with_age_groups
        |GROUP BY age_group""".stripMargin)
    val all = Seq(demo1, demo2, demo3)
    try {
      all.foreach { s =>
        assert(s.isStreaming)
        assert(stmts.waitForStatus(s, Set(Phase.Running)).isDefined)
      }
      // one live cursor per statement, spanning all pages
      val cls = all.map(_.handle.get.changelog())
      def tick(): Unit = { // reference cadence: consume ONE record per tick
        all.foreach(_.handle.get.processAllAvailable())
        cls.foreach(cl => while (cl.consume(1).nonEmpty) ())
      }
      def checkAll(): Unit = {
        // demo1 (append mode): one +I per input row, jitter in bounds
        val t1 = cls(0).collapse()
        assert(t1.size == written.size)
        assert(t1.rows.map(_(0)).toSet == written.map(_._1).toSet)
        t1.rows.foreach { r =>
          val lat = r(1).asInstanceOf[Double]; val lon = r(2).asInstanceOf[Double]
          assert(lat >= 37.7 && lat <= 37.77 && lon >= -122.50 && lon <= -122.39)
        }
        // demo2/demo3 (update mode): collapse() == the batch answer over
        // everything fed so far — the lib/flink.py:14-20 invariant
        val t2 = cls(1).collapse()
        val exp2 = written.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        assert(t2.toMultiset == exp2.map { case (e, n) => Vector[Any](e, n) -> 1 },
          s"demo2 collapse ${t2.rows} vs batch $exp2")
        val t3 = cls(2).collapse()
        def ageGroup(a: Int): String =
          if (a >= 20 && a <= 29) "20s" else if (a <= 39) "30s"
          else if (a <= 49) "40s" else if (a <= 59) "50s" else "other"
        val exp3 = written.groupBy(r => ageGroup(r._3))
          .map { case (g, rs) => g -> rs.map(_._4).sum / rs.size }
        assert(t3.rows.map(r => r(0).toString ->
          r(1).asInstanceOf[Double]).toMap.map { case (k, v) =>
            k -> math.rint(v * 1e9) / 1e9
          } == exp3.map { case (k, v) => k -> math.rint(v * 1e9) / 1e9 },
          s"demo3 collapse ${t3.rows} vs batch $exp3")
      }
      tick(); checkAll()
      // page 2: u4 inserts a new eye color; u5 bumps brown 3→4 (forces
      // -U/+U); u6 moves the 40s average
      page("p2.json", ("u4", "green", 33, 8.0), ("u5", "brown", 47, 12.0),
        ("u6", "blue", 44, 50.0))
      tick(); checkAll()
      // flicker-suppression contract: every -U is immediately followed by
      // its +U carrying the same key (dashboard.py:90-91 relies on this)
      cls.drop(1).foreach { cl =>
        val h = cl.history
        h.zipWithIndex.foreach { case (rec, i) =>
          if (rec.op.contains(graft.changelog.Op.UpdateBefore)) {
            assert(i + 1 < h.length &&
              h(i + 1).op.contains(graft.changelog.Op.UpdateAfter),
              s"-U at $i not followed by +U: $h")
            assert(h(i + 1).values(0) == rec.values(0), "-U/+U key mismatch")
          }
        }
      }
      // page 3: only demo3 effectively changes within '40s'+'other' strata
      page("p3.json", ("u7", "brown", 61, 100.0))
      tick(); checkAll()
    } finally all.foreach(_.stop())
  }

  test("a failed statement is evicted from the memo and re-created") {
    Tables.registerAll(spark, SparkTestSession.sf0001)
    val stmts = new Statements(spark)
    // fails unconditionally at EXECUTION (not analysis), no conf involved
    val sql = "SELECT raise_error('boom') AS x FROM nation"
    val stmt = stmts.create(sql)
    intercept[Exception](stmt.results().foreach(_ => ()))
    assert(stmt.phase == Phase.Failed)
    val again = stmts.create(sql)
    assert(!(again eq stmt), "a Failed statement must not be served from memo")
    assert(again.phase != Phase.Failed)
    // the dead statement is fully evicted: its name no longer resolves
    assert(stmts.get(stmt.name).isEmpty,
      "evicted statements must leave the by-name index")
    assert(stmts.get(again.name).contains(again))
  }

  test("batch results page partition-at-a-time, never a full collect") {
    val stmts = new Statements(spark)
    // every evaluated row bumps the accumulator; an eager collect() would
    // evaluate all 160 rows before serving page 1
    val acc = spark.sparkContext.longAccumulator("rows-evaluated")
    spark.udf.register("touch_acc", (x: Long) => { acc.add(1L); x })
    val stmt = stmts.create(
      "SELECT touch_acc(id) AS id FROM range(0, 160, 1, 16)")
    val it = stmt.results()
    val first = it.next()
    assert(first.exists(_.row == Vector(0L)))
    assert(acc.value < 160L,
      s"consuming row 1 evaluated ${acc.value}/160 rows — batch results " +
        "must stream via toLocalIterator, not collect()")
    // draining the iterator still yields the complete, ordered result
    val rest = it.flatten.map(_.row.head.asInstanceOf[Long]).toVector
    assert(first.get.row.head.asInstanceOf[Long] +: rest == (0L until 160L))
    assert(acc.value >= 160L)
  }

  test("a failing batch statement reaches the failed phase") {
    Tables.registerAll(spark, SparkTestSession.sf0001)
    val stmts = new Statements(spark)
    // analyzes fine, fails at execution: ANSI cast of a non-numeric string
    val stmt = stmts.create(
      "SELECT CAST(n_name AS INT) + 1 AS boom FROM nation")
    // restore the PREVIOUS mode, not a hardcoded one — a hardcoded
    // "false" leaked legacy mode into every suite that ran after (the
    // NOTES ANSI-contamination gotcha, bitten again in r10)
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    intercept[Exception] {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      try stmt.results().foreach(_ => ())
      finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
    }
    assert(stmt.phase == Phase.Failed)
    assert(stmts.waitForStatus(stmt, Set(Phase.Completed)).isEmpty,
      "waitForStatus returns None on failed")
  }

  test("continuous two-table JOIN statement: create → running → changelog " +
    "pages whose collapse equals the live-rows join after EVERY page") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // feed rows: (seq, key, id, value, delete)
    val lmem = MemoryStream[(Long, Long, Long, String, Boolean)]
    val rmem = MemoryStream[(Long, Long, Long, String, Boolean)]
    type Feed = (Long, Long, Long, String, Boolean)
    lmem.toDF().toDF("seq", "key", "id", "value", "delete")
      .createOrReplaceTempView("l_feed")
    rmem.toDF().toDF("seq", "key", "id", "value", "delete")
      .createOrReplaceTempView("r_feed")
    val stmts = new Statements(s)
    val stmt = stmts.create(
      "SELECT * FROM l_feed AS a JOIN r_feed AS b ON a.key = b.key")
    try {
      assert(stmt.isStreaming, "a continuous join must be a streaming statement")
      assert(stmt.columns ==
        Seq("key", "left_id", "left_value", "right_id", "right_value"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      // the handle cursor exhausts when caught up (stmt.results() is the
      // infinite heartbeat iterator — bounded consumers only)
      val cl = stmt.handle.get.changelog()
      // driver-side reference fold of the live rows
      val l = scala.collection.mutable.Map.empty[(Long, Long), String]
      val r = scala.collection.mutable.Map.empty[(Long, Long), String]
      def apply(side: scala.collection.mutable.Map[(Long, Long), String],
                f: Feed): Unit =
        if (f._5) { side.remove((f._2, f._3)); () }
        else side((f._2, f._3)) = f._4
      def page(lb: Seq[Feed], rb: Seq[Feed]): Unit = {
        if (lb.nonEmpty) lmem.addData(lb)
        if (rb.nonEmpty) rmem.addData(rb)
        stmt.handle.get.processAllAvailable()
        lb.foreach(apply(l, _)); rb.foreach(apply(r, _))
        while (cl.consume(1).nonEmpty) ()
        val expected = (for (((lk, li), lv) <- l.toSeq;
                             ((rk, ri), rv) <- r.toSeq if lk == rk)
          yield Vector[Any](lk, li, lv, ri, rv)).toSet
        val got = cl.collapse().rows.toSet
        assert(got == expected,
          s"collapse diverged from the batch join: $got vs $expected")
      }
      // page 1: initial matches on key 1; key 2 left-only (inner: absent)
      page(Seq((0L, 1L, 100L, "a1", false), (1L, 2L, 101L, "b1", false)),
           Seq((0L, 1L, 200L, "x1", false)))
      // page 2: left UPDATE retracts old match and re-inserts; right side
      // of key 1 deletes (match leaves); key 2 gains its right row
      page(Seq((2L, 1L, 100L, "a2", false)),
           Seq((1L, 2L, 201L, "y1", false), (2L, 1L, 200L, "x1", true)))
      // page 3: everything left deletes — the view empties
      page(Seq((3L, 1L, 100L, "a2", true), (4L, 2L, 101L, "b1", true)), Nil)
      // a fresh cursor replays the whole wire: retractions must cancel
      val cl2 = stmt.handle.get.changelog()
      while (cl2.consume(1).nonEmpty) ()
      assert(cl2.collapse().rows.isEmpty, "emptied view must collapse to 0 rows")
    } finally stmt.stop()
    // join-type plumbing: LEFT JOIN pads the unmatched left row with null
    val stmt2 = stmts.create(
      "SELECT * FROM l_feed AS a LEFT JOIN r_feed AS b ON a.key = b.key")
    try {
      assert(stmts.waitForStatus(stmt2, Set(Phase.Running)).isDefined)
      lmem.addData((5L, 7L, 102L, "solo", false))
      stmt2.handle.get.processAllAvailable()
      val cl3 = stmt2.handle.get.changelog()
      while (cl3.consume(1).nonEmpty) ()
      // the operator wire pads with (-1, null); the FACADE view is SQL,
      // so the pad surfaces as a NULL id (r10: IS NULL anti-joins and
      // null-skipping aggregates over the padded side must work)
      assert(cl3.collapse().rows.exists(r =>
        r(0) == 7L && r(2) == "solo" && r(3) == null && r(4) == null),
        "LEFT JOIN statement must null-pad the unmatched left row")
    } finally stmt2.stop()
    // a NARROWING projection serves the PROJECTED maintained view (r10:
    // deterministic projections commute with retraction) — never the
    // wide view's columns, and never the raw wire
    val stmt3 = stmts.create(
      "SELECT a.value AS lv FROM l_feed a JOIN r_feed b ON a.key = b.key")
    try assert(stmt3.columns == Seq("lv"),
      s"projected join must honor its projection, got ${stmt3.columns}")
    finally stmt3.stop()
  }

  test("continuous JOIN statement property: random interleavings over " +
    "several seeds collapse to the live-rows join after every page") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    type Feed = (Long, Long, Long, String, Boolean)
    for (seed <- Seq(7, 19, 23)) {
      val rnd = new scala.util.Random(seed)
      val lmem = MemoryStream[(Long, Long, Long, String, Boolean)]
      val rmem = MemoryStream[(Long, Long, Long, String, Boolean)]
      lmem.toDF().toDF("seq", "key", "id", "value", "delete")
        .createOrReplaceTempView(s"lp_feed$seed")
      rmem.toDF().toDF("seq", "key", "id", "value", "delete")
        .createOrReplaceTempView(s"rp_feed$seed")
      val stmts = new Statements(s)
      val stmt = stmts.create(
        s"SELECT * FROM lp_feed$seed AS a JOIN rp_feed$seed AS b " +
          "ON a.key = b.key")
      try {
        assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
        val cl = stmt.handle.get.changelog()
        // reference keyed by id, the feeds' row identity: the generator
        // re-keys ids, and a re-keyed id leaves its old key
        val l = scala.collection.mutable.Map.empty[Long, (Long, String)]
        val r = scala.collection.mutable.Map.empty[Long, (Long, String)]
        var seq = 0L
        // 6 pages × up to 8 events/side, delete-heavy (p=1/3), 3 keys ×
        // 2 ids/side so rows collide, retract, and re-match repeatedly
        for (pg <- 0 until 6) {
          def events(): Seq[Feed] = (0 until rnd.nextInt(8)).map { _ =>
            seq += 1
            (seq, rnd.nextInt(3).toLong, 100L + rnd.nextInt(2),
              s"v$seq", rnd.nextInt(3) == 0)
          }
          val (lb, rb) = (events(), events())
          if (lb.nonEmpty) lmem.addData(lb)
          if (rb.nonEmpty) rmem.addData(rb)
          stmt.handle.get.processAllAvailable()
          def apply(m: scala.collection.mutable.Map[Long, (Long, String)],
                    f: Feed): Unit =
            if (f._5) { m.remove(f._3); () } else m(f._3) = (f._2, f._4)
          lb.foreach(apply(l, _)); rb.foreach(apply(r, _))
          while (cl.consume(1).nonEmpty) ()
          val expected = (for ((li, (lk, lv)) <- l.toSeq;
                               (ri, (rk, rv)) <- r.toSeq if lk == rk)
            yield Vector[Any](lk, li, lv, ri, rv)).toSet
          val got = cl.collapse().rows.toSet
          assert(got == expected,
            s"seed $seed page $pg: facade collapse $got != reference $expected")
        }
      } finally stmt.stop()
    }
  }

  test("continuous JOIN → GROUP BY statement: IVM join deltas feed a " +
    "grouped fold whose collapse equals the batch join+agg after EVERY page") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val lmem = MemoryStream[(Long, Long, Long, String, Boolean)]
    val rmem = MemoryStream[(Long, Long, Long, String, Boolean)]
    type Feed = (Long, Long, Long, String, Boolean)
    lmem.toDF().toDF("seq", "key", "id", "value", "delete")
      .createOrReplaceTempView("la_feed")
    rmem.toDF().toDF("seq", "key", "id", "value", "delete")
      .createOrReplaceTempView("ra_feed")
    val stmts = new Statements(s)
    // the composition gap a reference user hits writing a fourth query:
    // one continuous statement joining two changelogs AND aggregating —
    // aliased aggregates, alias-qualified column refs, CAST to double
    val stmt = stmts.create(
      "SELECT key, count(*) AS cnt, avg(CAST(a.value AS DOUBLE)) AS avg_v " +
        "FROM la_feed AS a JOIN ra_feed AS b ON a.key = b.key GROUP BY key")
    try {
      assert(stmt.isStreaming, "join+agg must be a continuous statement")
      assert(stmt.columns == Seq("key", "cnt", "avg_v"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      // driver-side reference fold of the live rows; values are exact
      // binary doubles (multiples of 0.25) so sum order cannot drift ulps.
      // Keyed by id, the feeds' row identity: page 2 re-keys right id 201
      val l = scala.collection.mutable.Map.empty[Long, (Long, String)]
      val r = scala.collection.mutable.Map.empty[Long, (Long, String)]
      def apply(side: scala.collection.mutable.Map[Long, (Long, String)],
                f: Feed): Unit =
        if (f._5) { side.remove(f._3); () }
        else side(f._3) = (f._2, f._4)
      def page(lb: Seq[Feed], rb: Seq[Feed]): Unit = {
        if (lb.nonEmpty) lmem.addData(lb)
        if (rb.nonEmpty) rmem.addData(rb)
        stmt.handle.get.processAllAvailable()
        lb.foreach(apply(l, _)); rb.foreach(apply(r, _))
        while (cl.consume(1).nonEmpty) ()
        // batch reference: inner join on key, then GROUP BY key with
        // count(*) and avg(left value)
        val joined = for ((_, (lk, lv)) <- l.toSeq;
                          (_, (rk, _)) <- r.toSeq if lk == rk)
          yield (lk, lv)
        val expected = joined.groupBy(_._1).map { case (k, rows) =>
          val vals = rows.map(_._2.toDouble)
          Vector[Any](k, rows.size.toLong, vals.sum / vals.size)
        }.toSet
        val got = cl.collapse().rows.toSet
        assert(got == expected,
          s"collapse diverged from batch join+agg: $got vs $expected")
      }
      // page 1: key 1 gets 2 left × 1 right = 2 joined rows; key 2 pending
      page(Seq((0L, 1L, 100L, "1.5", false), (1L, 1L, 101L, "2.5", false),
               (2L, 2L, 102L, "4.0", false)),
           Seq((0L, 1L, 200L, "x", false)))
      // page 2: left UPDATE on key 1 changes its avg (-U/+U); right id
      // 201 lands on key 2, then moves to key 1 in the same page — key 2
      // stays unmatched and key 1's join rows double
      page(Seq((3L, 1L, 100L, "3.5", false)),
           Seq((1L, 2L, 201L, "y", false), (2L, 1L, 201L, "z", false)))
      // page 3: the delete of id 201 removes it wherever it lives (key 1);
      // key 1 loses one left row
      page(Seq((4L, 1L, 101L, "2.5", true)),
           Seq((3L, 2L, 201L, "y", true)))
      // page 4: everything deletes — the aggregate view empties
      page(Seq((5L, 1L, 100L, "3.5", true), (6L, 2L, 102L, "4.0", true)),
           Seq((4L, 1L, 200L, "x", true), (5L, 1L, 201L, "z", true)))
      assert(cl.collapse().rows.isEmpty,
        "emptied join+agg view must collapse to 0 rows")
      // wire shape: updates must travel as adjacent -U/+U pairs
      val ops = cl.history.flatMap(_.op).toVector
      ops.zipWithIndex.foreach { case (op, i) =>
        if (op == graft.changelog.Op.UpdateBefore)
          assert(i + 1 < ops.length &&
            ops(i + 1) == graft.changelog.Op.UpdateAfter,
            "-U must immediately precede its +U")
      }
    } finally stmt.stop()
    // shapes the IVM fold cannot maintain reject LOUDLY at create():
    // the FROM references changelog feeds, so the default route's
    // append-only reading would serve a silently wrong changelog.
    // (COUNT(DISTINCT) routes as of r11 — ContinuousStatementsSpec —
    // but SUM(DISTINCT) still needs state this fold does not keep.)
    val ex = intercept[UnsupportedContinuousStatement] {
      stmts.create(
        "SELECT key, sum(DISTINCT a.value) AS m FROM la_feed a " +
          "JOIN ra_feed b ON a.key = b.key GROUP BY key")
    }
    assert(ex.getMessage.contains("rejected at create()"))
    // … and so does an unaliased aggregate (the oracle discipline)
    intercept[UnsupportedContinuousStatement] {
      stmts.create("SELECT key, count(*) FROM la_feed a JOIN ra_feed b " +
        "ON a.key = b.key GROUP BY key")
    }
  }

  test("continuous JOIN → WHERE → GROUP BY statement: the predicate " +
    "filters the joined view before aggregation, per page") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    type Feed = (Long, Long, Long, String, Boolean)
    val lmem = MemoryStream[(Long, Long, Long, String, Boolean)]
    val rmem = MemoryStream[(Long, Long, Long, String, Boolean)]
    lmem.toDF().toDF("seq", "key", "id", "value", "delete")
      .createOrReplaceTempView("lw_feed")
    rmem.toDF().toDF("seq", "key", "id", "value", "delete")
      .createOrReplaceTempView("rw_feed")
    val stmts = new Statements(s)
    // a filtered composition: only joined rows whose LEFT value clears
    // the literal participate in the aggregate (string comparison; the
    // <> parses as Not(EqualTo) and exercises three-valued NOT)
    val stmt = stmts.create(
      "SELECT key, count(*) AS cnt FROM lw_feed a JOIN rw_feed b " +
        "ON a.key = b.key WHERE a.value >= 'm' AND b.value <> 'drop' " +
        "GROUP BY key")
    try {
      assert(stmt.isStreaming)
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      val l = scala.collection.mutable.Map.empty[(Long, Long), String]
      val r = scala.collection.mutable.Map.empty[(Long, Long), String]
      def apply(m: scala.collection.mutable.Map[(Long, Long), String],
                f: Feed): Unit =
        if (f._5) { m.remove((f._2, f._3)); () } else m((f._2, f._3)) = f._4
      def page(lb: Seq[Feed], rb: Seq[Feed]): Unit = {
        if (lb.nonEmpty) lmem.addData(lb)
        if (rb.nonEmpty) rmem.addData(rb)
        stmt.handle.get.processAllAvailable()
        lb.foreach(apply(l, _)); rb.foreach(apply(r, _))
        while (cl.consume(1).nonEmpty) ()
        val expected = (for (((lk, _), lv) <- l.toSeq;
                             ((rk, _), rv) <- r.toSeq
                             if lk == rk && lv >= "m" && rv != "drop")
          yield lk).groupBy(identity)
          .map { case (k, xs) => Vector[Any](k, xs.size.toLong) }.toSet
        assert(cl.collapse().rows.toSet == expected,
          s"filtered collapse diverged: ${cl.collapse().rows.toSet} vs $expected")
      }
      // 'apple' fails the left filter, 'zebra' passes; right 'drop' rows
      // join but are filtered; updates move rows across the boundary
      page(Seq((0L, 1L, 100L, "apple", false), (1L, 1L, 101L, "zebra", false)),
           Seq((0L, 1L, 200L, "ok", false), (1L, 1L, 201L, "drop", false)))
      // left UPDATE moves 'apple' → 'mango' (now passes); right deletes
      // the filtered 'drop' row (no visible change from it)
      page(Seq((2L, 1L, 100L, "mango", false)),
           Seq((2L, 1L, 201L, "drop", true)))
      // everything deletes → empty view
      page(Seq((3L, 1L, 100L, "mango", true), (4L, 1L, 101L, "zebra", true)),
           Seq((3L, 1L, 200L, "ok", true)))
      assert(cl.collapse().rows.isEmpty)
    } finally stmt.stop()
  }

  test("continuous SELECT * over a single changelog feed serves the " +
    "maintained view, not the raw wire events") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Boolean)]
    mem.toDF().toDF("seq", "key", "id", "value", "delete")
      .createOrReplaceTempView("sv_feed")
    val stmts = new Statements(s)
    val stmt = stmts.create("SELECT * FROM sv_feed")
    try {
      assert(stmt.isStreaming)
      assert(stmt.columns == Seq("key", "id", "value"),
        "the statement serves the maintained view's columns")
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      // insert, update (would duplicate on an append reading), delete
      // (would be served as a data row on an append reading)
      mem.addData((0L, 1L, 100L, "a", false), (1L, 1L, 100L, "b", false),
        (2L, 2L, 200L, "x", false), (3L, 2L, 200L, "x", true))
      stmt.handle.get.processAllAvailable()
      while (cl.consume(1).nonEmpty) ()
      assert(cl.collapse().rows.toSet == Set(Vector[Any](1L, 100L, "b")),
        "upsert must replace and delete must remove in the collapsed view")
    } finally stmt.stop()
  }

  test("continuous single-feed GROUP BY statement: upserts do not " +
    "double-count, deletes subtract — the changelog reading of the feed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    type Feed = (Long, Long, Long, String, Boolean)
    val mem = MemoryStream[(Long, Long, Long, String, Boolean)]
    mem.toDF().toDF("seq", "key", "id", "value", "delete")
      .createOrReplaceTempView("uf_feed")
    val stmts = new Statements(s)
    val stmt = stmts.create(
      "SELECT key, count(*) AS cnt, avg(CAST(value AS DOUBLE)) AS av " +
        "FROM uf_feed GROUP BY key")
    try {
      assert(stmt.isStreaming)
      assert(stmt.columns == Seq("key", "cnt", "av"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      val live = scala.collection.mutable.Map.empty[(Long, Long), String]
      def page(evs: Seq[Feed]): Unit = {
        mem.addData(evs)
        stmt.handle.get.processAllAvailable()
        evs.foreach { f =>
          if (f._5) live.remove((f._2, f._3)) else live((f._2, f._3)) = f._4
        }
        while (cl.consume(1).nonEmpty) ()
        val expected = live.toSeq.groupBy(_._1._1).map { case (k, rows) =>
          val vs = rows.map(_._2.toDouble)
          Vector[Any](k, rows.size.toLong, vs.sum / vs.size)
        }.toSet
        assert(cl.collapse().rows.toSet == expected,
          s"feed agg diverged: ${cl.collapse().rows.toSet} vs $expected")
      }
      // inserts on two keys
      page(Seq((0L, 1L, 100L, "1.5", false), (1L, 1L, 101L, "2.5", false),
               (2L, 2L, 102L, "4.0", false)))
      // UPSERT of id 100: the count must stay 2 (an append-only reading
      // would double-count it) and the avg must move
      page(Seq((3L, 1L, 100L, "3.5", false)))
      // DELETE of id 101: count drops (an append-only reading cannot
      // subtract); key 2 empties entirely → -D
      page(Seq((4L, 1L, 101L, "2.5", true), (5L, 2L, 102L, "4.0", true)))
      // tolerated no-op: deleting an unknown id changes nothing
      page(Seq((6L, 9L, 999L, "x", true)))
    } finally stmt.stop()
  }

  test("continuous JOIN → GROUP BY → HAVING statement: groups entering " +
    "and leaving the HAVING set emit +I and -D") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    type Feed = (Long, Long, Long, String, Boolean)
    val lmem = MemoryStream[(Long, Long, Long, String, Boolean)]
    val rmem = MemoryStream[(Long, Long, Long, String, Boolean)]
    lmem.toDF().toDF("seq", "key", "id", "value", "delete")
      .createOrReplaceTempView("lh_feed")
    rmem.toDF().toDF("seq", "key", "id", "value", "delete")
      .createOrReplaceTempView("rh_feed")
    val stmts = new Statements(s)
    val stmt = stmts.create(
      "SELECT key, count(*) AS cnt FROM lh_feed a JOIN rh_feed b " +
        "ON a.key = b.key GROUP BY key HAVING cnt >= 2")
    try {
      assert(stmt.isStreaming,
        "HAVING over the continuous join+agg must route, not fall through")
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      def sync(): Set[Vector[Any]] = {
        stmt.handle.get.processAllAvailable()
        while (cl.consume(1).nonEmpty) ()
        cl.collapse().rows.toSet
      }
      // one joined row: cnt=1, below the bar → view empty
      lmem.addData((0L, 1L, 100L, "a", false))
      rmem.addData((0L, 1L, 200L, "x", false))
      assert(sync().isEmpty, "cnt=1 must not clear HAVING cnt >= 2")
      // second left row: cnt=2 → group ENTERS (+I)
      lmem.addData((1L, 1L, 101L, "b", false))
      assert(sync() == Set(Vector[Any](1L, 2L)))
      // delete one left row: cnt drops to 1 → group LEAVES (-D)
      lmem.addData((2L, 1L, 101L, "b", true))
      assert(sync().isEmpty, "dropping below the bar must emit -D")
      // the wire must have carried a real -D, not just absence
      assert(cl.history.flatMap(_.op).contains(graft.changelog.Op.Delete),
        "crossing below HAVING must be a -D on the wire")
    } finally stmt.stop()
  }

  test("continuous JOIN → GROUP BY property: random delete-heavy " +
    "interleavings over several seeds collapse to the batch join+agg " +
    "after every page") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    type Feed = (Long, Long, Long, String, Boolean)
    for (seed <- Seq(11, 29)) {
      val rnd = new scala.util.Random(seed)
      val lmem = MemoryStream[(Long, Long, Long, String, Boolean)]
      val rmem = MemoryStream[(Long, Long, Long, String, Boolean)]
      lmem.toDF().toDF("seq", "key", "id", "value", "delete")
        .createOrReplaceTempView(s"lg_feed$seed")
      rmem.toDF().toDF("seq", "key", "id", "value", "delete")
        .createOrReplaceTempView(s"rg_feed$seed")
      val stmts = new Statements(s)
      val stmt = stmts.create(
        s"SELECT key, count(*) AS cnt, sum(CAST(a.value AS DOUBLE)) AS sv " +
          s"FROM lg_feed$seed a JOIN rg_feed$seed b ON a.key = b.key " +
          "GROUP BY key")
      try {
        assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
        val cl = stmt.handle.get.changelog()
        // reference keyed by id, the feeds' row identity: the generator
        // re-keys ids, and a re-keyed id leaves its old key
        val l = scala.collection.mutable.Map.empty[Long, (Long, String)]
        val r = scala.collection.mutable.Map.empty[Long, (Long, String)]
        var seq = 0L
        // values are ADVERSARIAL decimals (e.g. "7.13" — NOT exactly
        // representable in binary), delete p = 1/3, 3 keys × 2 ids/side
        // so groups die and come back repeatedly: the fold's exact
        // decimal accumulators must make incremental ≡ replay bit-exact
        // for ANY float input and retraction order (the r9 quarter-
        // integer restriction is gone)
        for (pg <- 0 until 6) {
          def events(): Seq[Feed] = (0 until rnd.nextInt(8)).map { _ =>
            seq += 1
            (seq, rnd.nextInt(3).toLong, 100L + rnd.nextInt(2),
              f"${rnd.nextInt(40)}%d.${rnd.nextInt(100)}%02d",
              rnd.nextInt(3) == 0)
          }
          val (lb, rb) = (events(), events())
          if (lb.nonEmpty) lmem.addData(lb)
          if (rb.nonEmpty) rmem.addData(rb)
          stmt.handle.get.processAllAvailable()
          def apply(m: scala.collection.mutable.Map[Long, (Long, String)],
                    f: Feed): Unit =
            if (f._5) { m.remove(f._3); () } else m(f._3) = (f._2, f._4)
          lb.foreach(apply(l, _)); rb.foreach(apply(r, _))
          while (cl.consume(1).nonEmpty) ()
          val joined = for ((_, (lk, lv)) <- l.toSeq;
                            (_, (rk, _)) <- r.toSeq if lk == rk)
            yield (lk, lv.toDouble)
          val expected = joined.groupBy(_._1).map { case (k, rows) =>
            // the fold's SUM contract: the EXACT (arbitrary-precision)
            // sum of the values' binary doubles, rounded once at the end
            // — order-independent, unlike an IEEE left-fold
            val exact = rows.map(v => new java.math.BigDecimal(v._2))
              .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
            Vector[Any](k, rows.size.toLong, exact.doubleValue)
          }.toSet
          val got = cl.collapse().rows.toSet
          assert(got == expected,
            s"seed $seed page $pg: agg collapse $got != reference $expected")
        }
      } finally stmt.stop()
    }
  }

  test("default-route aggregates: a group leaving HAVING retracts, and a " +
    "grouping column missing from the SELECT list rejects — both shapes " +
    "replayed against spark.sql over the fed rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val stmts = new Statements(s)
    def feed(name: String): MemoryStream[(String, String)] = {
      val m = MemoryStream[(String, String)]
      m.toDF().toDF("color", "city").createOrReplaceTempView(name)
      m
    }
    val pages = Seq(
      Seq(("brown", "oslo"), ("brown", "rome"), ("blue", "oslo")),
      Seq(("brown", "oslo")), // brown's third row: it leaves HAVING
      Seq(("green", "rome"), ("blue", "rome"), ("blue", "oslo")))
    def replay(sql: String, view: String,
        mem: MemoryStream[(String, String)]): Unit = {
      val stmt = stmts.create(sql.replace("$t", view))
      try {
        assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
        val cl = stmt.handle.get.changelog()
        val fed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        pages.zipWithIndex.foreach { case (pg, i) =>
          mem.addData(pg)
          stmt.handle.get.processAllAvailable()
          fed ++= pg
          fed.toSeq.toDF("color", "city").createOrReplaceTempView(s"${view}_fed")
          while (cl.consume(1).nonEmpty) ()
          val expected = spark.sql(sql.replace("$t", s"${view}_fed")).collect()
            .map(_.toSeq.toVector).toSet
          assert(cl.collapse().rows.toSet == expected,
            s"page $i [$sql]: collapse ${cl.collapse().rows} != spark.sql $expected")
        }
      } finally stmt.stop()
    }
    replay("SELECT color, count(*) AS c FROM $t GROUP BY color " +
      "HAVING count(*) <= 2", "dr_having", feed("dr_having"))
    feed("dr_keys")
    val ex = intercept[IllegalArgumentException](stmts.create(
      "SELECT color, count(*) AS c FROM dr_keys GROUP BY color, city"))
    assert(ex.getMessage.contains("city"),
      s"the error must name the missing grouping column: ${ex.getMessage}")
    replay("SELECT color, city, count(*) AS c FROM $t GROUP BY color, city",
      "dr_keys2", feed("dr_keys2"))
  }
}
