package graft.api

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Round-10 continuous-statement surface: MIN/MAX and UNGROUPED
  * aggregates through the IVM fold, loud type rejection, three-way feed
  * chains, feed ⋈ static-table joins, maintained top-k, and DISTINCT —
  * each checked with the engine's standing invariant: the changelog's
  * collapse equals the batch answer over the live rows after EVERY page. */
class ContinuousStatementsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  type Feed = (Long, Long, Long, String, Boolean) // seq, key, id, value, del

  private def newFeed(name: String)
      : org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Feed] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[Feed]
    mem.toDF().toDF("seq", "key", "id", "value", "delete")
      .createOrReplaceTempView(name)
    mem
  }

  private def applyFeed(m: scala.collection.mutable.Map[(Long, Long), String],
                        f: Feed): Unit =
    if (f._5) { m.remove((f._2, f._3)); () } else m((f._2, f._3)) = f._4

  /** Id-keyed live rows of one feed (id → (key, value)): the feed's row
    * identity is `id`, so an upsert with a new key MOVES the row. */
  private def applyById(m: scala.collection.mutable.Map[Long, (Long, String)],
                        f: Feed): Unit =
    if (f._5) { m.remove(f._3); () } else m(f._3) = (f._2, f._4)

  /** Orders served rows so that sorted row lists compare as multisets. */
  private val rowOrder: Ordering[Vector[Any]] = Ordering.by(_.mkString("|"))

  test("continuous JOIN → GROUP BY with MAX/MIN: a delete of the row " +
    "supporting the current extremum re-derives the next one exactly") {
    val lmem = newFeed("lm_feed"); val rmem = newFeed("rm_feed")
    val stmts = new Statements(spark)
    val stmt = stmts.create(
      "SELECT key, max(CAST(a.value AS DOUBLE)) AS mx, min(b.value) AS mn " +
        "FROM lm_feed a JOIN rm_feed b ON a.key = b.key GROUP BY key")
    try {
      assert(stmt.isStreaming, "MAX/MIN must now route through the IVM fold")
      assert(stmt.columns == Seq("key", "mx", "mn"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      val l = scala.collection.mutable.Map.empty[(Long, Long), String]
      val r = scala.collection.mutable.Map.empty[(Long, Long), String]
      def page(lb: Seq[Feed], rb: Seq[Feed]): Set[Vector[Any]] = {
        if (lb.nonEmpty) lmem.addData(lb)
        if (rb.nonEmpty) rmem.addData(rb)
        stmt.handle.get.processAllAvailable()
        lb.foreach(applyFeed(l, _)); rb.foreach(applyFeed(r, _))
        while (cl.consume(1).nonEmpty) ()
        val joined = for (((lk, _), lv) <- l.toSeq;
                          ((rk, _), rv) <- r.toSeq if lk == rk)
          yield (lk, lv.toDouble, rv)
        val expected = joined.groupBy(_._1).map { case (k, rows) =>
          Vector[Any](k, rows.map(_._2).max, rows.map(_._3).min)
        }.toSet
        val got = cl.collapse().rows.toSet
        assert(got == expected, s"MIN/MAX collapse $got != batch $expected")
        got
      }
      // page 1: key 1 max over {5.5, 2.5} = 5.5; min over {"x"} = "x"
      val p1 = page(Seq((0L, 1L, 100L, "5.5", false), (1L, 1L, 101L, "2.5", false)),
                    Seq((0L, 1L, 200L, "x", false)))
      assert(p1 == Set(Vector[Any](1L, 5.5, "x")))
      // page 2: DELETE the row supporting the max — the transition a
      // ±-foldable aggregate can never produce: mx must DECREASE to 2.5;
      // right side gains "m" < "x" so mn moves too
      val p2 = page(Seq((2L, 1L, 100L, "5.5", true)),
                    Seq((1L, 1L, 201L, "m", false)))
      assert(p2 == Set(Vector[Any](1L, 2.5, "m")),
        "retracting the supporting row must re-derive the next extremum")
      // page 3: everything deletes → the grouped view empties via -D
      val p3 = page(Seq((3L, 1L, 101L, "2.5", true)),
                    Seq((2L, 1L, 200L, "x", true), (3L, 1L, 201L, "m", true)))
      assert(p3.isEmpty)
      assert(cl.history.flatMap(_.op).contains(graft.changelog.Op.Delete))
    } finally stmt.stop()
  }

  test("continuous MIN/MAX property: delete-heavy random interleavings " +
    "collapse to the batch extrema after every page") {
    for (seed <- Seq(13, 37)) {
      val rnd = new scala.util.Random(seed)
      val mem = newFeed(s"mm_feed$seed")
      val stmts = new Statements(spark)
      val stmt = stmts.create(
        s"SELECT key, max(value) AS mx, min(CAST(value AS DOUBLE)) AS mn, " +
          s"count(*) AS cnt FROM mm_feed$seed GROUP BY key")
      try {
        assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
        val cl = stmt.handle.get.changelog()
        // id is the feed's ROW IDENTITY (an upsert with a new key RE-KEYS
        // the row): the reference fold must be keyed by id alone, like
        // the upsert operator's state
        val live = scala.collection.mutable.Map.empty[Long, (Long, String)]
        var seq = 0L
        for (pg <- 0 until 6) {
          val evs = (0 until rnd.nextInt(9)).map { _ =>
            seq += 1
            (seq, rnd.nextInt(3).toLong, 100L + rnd.nextInt(3),
              f"${rnd.nextInt(10)}%d.${rnd.nextInt(100)}%02d",
              rnd.nextInt(3) == 0)
          }
          if (evs.nonEmpty) mem.addData(evs)
          stmt.handle.get.processAllAvailable()
          evs.foreach { f =>
            if (f._5) live.remove(f._3) else live(f._3) = (f._2, f._4)
          }
          while (cl.consume(1).nonEmpty) ()
          val expected = live.values.toSeq.groupBy(_._1).map { case (k, rows) =>
            val vs = rows.map(_._2)
            Vector[Any](k, vs.max, vs.map(_.toDouble).min, vs.size.toLong)
          }.toSet
          val got = cl.collapse().rows.toSet
          assert(got == expected,
            s"seed $seed page $pg: extrema collapse $got != batch $expected")
        }
      } finally stmt.stop()
    }
  }

  test("UNGROUPED continuous aggregate: one always-live row — COUNT " +
    "returns to 0 (not -D) when the view empties, SUM/MAX go NULL") {
    val mem = newFeed("ug_feed")
    val stmts = new Statements(spark)
    val stmt = stmts.create(
      "SELECT count(*) AS cnt, sum(CAST(value AS DOUBLE)) AS sv, " +
        "max(value) AS mx FROM ug_feed")
    try {
      assert(stmt.isStreaming, "an ungrouped aggregate must route")
      assert(stmt.columns == Seq("cnt", "sv", "mx"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      def sync(): Seq[Vector[Any]] = {
        stmt.handle.get.processAllAvailable()
        while (cl.consume(1).nonEmpty) ()
        cl.collapse().rows
      }
      mem.addData((0L, 1L, 100L, "1.5", false), (1L, 2L, 200L, "4.0", false))
      assert(sync() == Seq(Vector[Any](2L, 5.5, "4.0")))
      // delete EVERYTHING: SQL still gives one row — COUNT(*) = 0 and
      // NULL aggregates — and the wire transition is -U/+U, never -D
      mem.addData((2L, 1L, 100L, "1.5", true), (3L, 2L, 200L, "4.0", true))
      assert(sync() == Seq(Vector[Any](0L, null, null)),
        "the empty ungrouped aggregate is COUNT 0 with NULLs, not no-rows")
      assert(!cl.history.flatMap(_.op).contains(graft.changelog.Op.Delete),
        "the ungrouped row never leaves the view — no -D may be wired")
      // and it comes back up
      mem.addData((4L, 3L, 300L, "2.5", false))
      assert(sync() == Seq(Vector[Any](1L, 2.5, "2.5")))
    } finally stmt.stop()
  }

  test("HAVING over an UNGROUPED continuous aggregate routes: the single " +
    "row enters and leaves the view across the threshold") {
    val mem = newFeed("uh_feed")
    val stmts = new Statements(spark)
    val stmt = stmts.create(
      "SELECT count(*) AS cnt FROM uh_feed HAVING cnt >= 2")
    try {
      assert(stmt.isStreaming, "ungrouped HAVING must route (Project child)")
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      def sync(): Seq[Vector[Any]] = {
        stmt.handle.get.processAllAvailable()
        while (cl.consume(1).nonEmpty) ()
        cl.collapse().rows
      }
      mem.addData((0L, 1L, 100L, "a", false))
      assert(sync().isEmpty, "cnt=1 must not clear HAVING cnt >= 2")
      mem.addData((1L, 1L, 101L, "b", false))
      assert(sync() == Seq(Vector[Any](2L)), "cnt=2 enters the view (+I)")
      mem.addData((2L, 1L, 101L, "b", true))
      assert(sync().isEmpty, "dropping below the bar must emit -D")
      assert(cl.history.flatMap(_.op).contains(graft.changelog.Op.Delete))
    } finally stmt.stop()
  }

  test("unsupported types and shapes over feeds reject loudly at " +
    "create() instead of falling through to a mis-evaluating route") {
    val s = spark
    import s.implicits._
    newFeed("lt_feed")
    Seq((1L, "east", 2.5, true), (2L, "west", 1.0, false))
      .toDF("k", "region", "w", "flag").createOrReplaceTempView("lt_dims")
    val stmts = new Statements(s)
    def rejects(sql: String, needle: String): Unit = {
      val ex = intercept[UnsupportedContinuousStatement](stmts.create(sql))
      assert(ex.getMessage.contains(needle),
        s"error for [$sql] must mention '$needle': ${ex.getMessage}")
    }
    // SUM over a BOOLEAN column: the r9 toNum catch-all folded nothing
    // silently; now the type rejects at analysis (verdict item #5)
    rejects("SELECT a.key, sum(d.flag) AS s FROM lt_feed a JOIN lt_dims d " +
      "ON a.key = d.k GROUP BY a.key", "cannot maintain")
    // GROUP BY over an expression ROUTES as of r11 (the normalization
    // projection), but only when the expression appears in the SELECT
    // list: the changelog retracts groups by their visible key values
    rejects("SELECT count(*) AS c FROM lt_feed GROUP BY upper(value)",
      "must appear in the SELECT list")
    // … and only DETERMINISTIC expressions: a non-deterministic group
    // key cannot commute with retraction
    rejects("SELECT rand() AS r, count(*) AS c FROM lt_feed GROUP BY rand()",
      "could not be built")
    // tumble guards: event time must be integral, and the call must be a
    // direct aliased item (nesting would silently lose eviction)
    rejects("SELECT tumble(value, 10) AS w, count(*) AS c FROM lt_feed " +
      "GROUP BY tumble(value, 10)", "must be integral")
    rejects("SELECT tumble(key, 10) + 1 AS w, count(*) AS c FROM lt_feed " +
      "GROUP BY tumble(key, 10) + 1", "direct aliased SELECT item")
    // hop guards: width < slide would leave rows in no window
    rejects("SELECT hop(key, 10, 5) AS w, count(*) AS c FROM lt_feed " +
      "GROUP BY hop(key, 10, 5)", "width must be >= slide")
    // session guards: integral event time; one window fn per statement
    rejects("SELECT session(value, 10) AS w, count(*) AS c FROM lt_feed " +
      "GROUP BY session(value, 10)", "must be integral")
    rejects("SELECT tumble(key, 10) AS t, session(key, 5) AS w, " +
      "count(*) AS c FROM lt_feed GROUP BY tumble(key, 10), session(key, 5)",
      "one event-time window")
    // every window call shares one frame: integer-literal positive
    // arguments, one direct aliased call, a resolving view column, and
    // no call left nested after the substitution
    for ((fn, argsFmt) <- Seq("tumble" -> "%s", "hop" -> "%s, 10",
        "session" -> "%s")) {
      def call(col: String, arg: String): String =
        s"$fn($col, ${argsFmt.format(arg)})"
      rejects(s"SELECT ${call("key", "id")} AS w, count(*) AS c FROM " +
        s"lt_feed GROUP BY ${call("key", "id")}", "integer literal")
      rejects(s"SELECT ${call("key", "0")} AS w, count(*) AS c FROM " +
        s"lt_feed GROUP BY ${call("key", "0")}", "must be positive")
      rejects(s"SELECT count(*) AS c FROM lt_feed GROUP BY " +
        call("key", "10"), "direct aliased SELECT item")
      rejects(s"SELECT ${call("key", "10")} AS a, ${call("key", "5")} AS b, " +
        s"count(*) AS c FROM lt_feed GROUP BY ${call("key", "10")}, " +
        call("key", "5"), s"one $fn window")
      rejects(s"SELECT ${call("nope", "10")} AS w, count(*) AS c FROM " +
        s"lt_feed GROUP BY ${call("nope", "10")}", "does not resolve")
      rejects(s"SELECT ${call("key", "10")} AS w, count(*) AS c FROM " +
        s"lt_feed GROUP BY ${call("key", "10")} + 1", "may appear only")
    }
    rejects("SELECT hop(key, 10, id) AS w, count(*) AS c FROM lt_feed " +
      "GROUP BY hop(key, 10, id)", "integer literal")
    // hop fans out by name: its output must not shadow a view column,
    // and the view's columns must carry unique names
    rejects("SELECT hop(key, 10, 10) AS value, count(*) AS c FROM lt_feed " +
      "GROUP BY hop(key, 10, 10)", "shadows a view column")
    rejects("SELECT hop(key, 10, 10) AS w, count(*) AS c FROM " +
      "(SELECT key, id AS v, value AS v FROM lt_feed) " +
      "GROUP BY hop(key, 10, 10)", "duplicate column names")
    // a PROJECTED/star subquery routes as of r11, but an aggregate
    // nested INSIDE the subquery still matches no route — the default
    // route would fold delete markers as data rows
    rejects("SELECT count(*) AS c FROM " +
      "(SELECT key, count(*) AS k FROM lt_feed GROUP BY key)",
      "no IVM route matches")
    // a dim column shadowing the view's id/value makes the joined view
    // ambiguous: loud, with a rename hint
    Seq((1L, 9L)).toDF("k", "id").createOrReplaceTempView("lt_dims_clash")
    rejects("SELECT a.key, count(*) AS c FROM lt_feed a JOIN lt_dims_clash d " +
      "ON a.key = d.k GROUP BY a.key", "shadow")
    // any aggregate the session's function registry knows makes an
    // ungrouped aggregate, and the fold rejects the ones it cannot
    // maintain by name
    rejects("SELECT stddev(CAST(value AS DOUBLE)) AS s FROM lt_feed",
      "is not maintainable")
    rejects("SELECT count_if(key > 0) AS c FROM lt_feed", "is not maintainable")
    // a subquery alias scopes the subquery's columns as spark.sql does:
    // the inner qualifier `a` is out of scope outside it
    rejects("SELECT a.key, count(*) AS c FROM (SELECT * FROM lt_feed a) v " +
      "GROUP BY a.key", "does not resolve")
  }

  test("agg WHERE runs Spark's OWN semantics executor-side: try_cast " +
    "coercion works per row, and a malformed ANSI cast fails the " +
    "statement LOUDLY — never a silent per-row exclusion (r9 advice)") {
    val mem = newFeed("co_feed")
    val stmts = new Statements(spark)
    // the lenient spelling a user writes under ANSI: try_cast → NULL →
    // unknown for unparseable cells. The r9 driver-side compiler
    // silently excluded EVERY row of a string-vs-numeric comparison;
    // the executor-side rewrite evaluates exactly what Spark SQL would
    val stmt = stmts.create(
      "SELECT key, count(*) AS cnt FROM co_feed " +
        "WHERE try_cast(value AS DOUBLE) > 5 GROUP BY key")
    try {
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      mem.addData((0L, 1L, 100L, "7.5", false), (1L, 1L, 101L, "3.0", false),
        (2L, 1L, 102L, "oops", false), (3L, 1L, 103L, "5.01", false))
      stmt.handle.get.processAllAvailable()
      while (cl.consume(1).nonEmpty) ()
      assert(cl.collapse().rows.toSet == Set(Vector[Any](1L, 2L)),
        "7.5 and 5.01 pass, 3.0 fails, unparseable 'oops' is unknown")
    } finally stmt.stop()
    // the bare coercion runs under whatever mode the SESSION has —
    // Spark's own semantics, never a private silent coercion: with ANSI
    // on, the malformed cast fails the STATEMENT loudly; in legacy mode
    // the cast nulls and the row is unknown-excluded, exactly as
    // spark.sql would evaluate the same WHERE. (Mode read at runtime:
    // another suite's ANSI toggle on the shared session must not decide
    // this test's expectation — the NOTES ANSI-contamination gotcha.)
    val mem2 = newFeed("co2_feed")
    val bad = stmts.create(
      "SELECT key, count(*) AS cnt FROM co2_feed WHERE value > 5 GROUP BY key")
    try {
      mem2.addData((0L, 1L, 100L, "oops", false), (1L, 1L, 101L, "7", false))
      if (spark.conf.get("spark.sql.ansi.enabled").toBoolean) {
        intercept[Exception](bad.handle.get.processAllAvailable())
        assert(bad.phase == Phase.Failed,
          "an ANSI cast error must surface as a failed statement")
      } else {
        bad.handle.get.processAllAvailable()
        val clb = bad.handle.get.changelog()
        while (clb.consume(1).nonEmpty) ()
        assert(clb.collapse().rows.toSet == Set(Vector[Any](1L, 1L)),
          "legacy mode: '7' passes, unparseable 'oops' is unknown")
      }
    } finally bad.stop()
  }

  test("HAVING evaluates Spark's own algebra: after random delete-heavy " +
    "pages the collapse equals spark.sql's GROUP BY … HAVING over the " +
    "live rows") {
    val s = spark
    import s.implicits._
    val preds = Seq(
      // column-vs-column, arithmetic, IN and BETWEEN …
      "c = s", "c * 2 > s", "key IN (0, 2)", "s BETWEEN 3 AND 9",
      // … and column-vs-literal, IS NULL and a string literal
      "c >= 2", "mn IS NULL", "mn > 'm'", "c > '1'")
    def query(from: String, pred: String): String =
      s"SELECT key, count(*) AS c, sum(id) AS s, min(value) AS mn " +
        s"FROM $from GROUP BY key HAVING $pred"
    // one feed per statement (MemoryStream.commit trims shared batches)
    val feeds = preds.indices.map(i => newFeed(s"hp_feed$i"))
    val stmts = new Statements(s)
    // what the fold's output rows cannot answer still rejects at create():
    // an aggregate outside the SELECT list, a subquery
    for (p <- Seq("max(id) > 1", "c > (SELECT 1)"))
      intercept[UnsupportedContinuousStatement](
        stmts.create(query("hp_feed0", p)))
    val running = preds.zipWithIndex.map { case (p, i) =>
      stmts.create(query(s"hp_feed$i", p))
    }
    try {
      running.foreach { st =>
        assert(st.isStreaming, s"${st.sql} must route")
        assert(stmts.waitForStatus(st, Set(Phase.Running)).isDefined)
      }
      val cls = running.map(_.handle.get.changelog())
      val rnd = new scala.util.Random(71)
      // id is the feed's row identity: id → (key, value)
      val live = scala.collection.mutable.Map.empty[Long, (Long, String)]
      var seq = 0L
      for (pg <- 0 until 8) {
        val evs = (0 until 1 + rnd.nextInt(8)).map { _ =>
          seq += 1
          (seq, rnd.nextInt(3).toLong, rnd.nextInt(10).toLong,
            if (rnd.nextInt(3) == 0) null
            else ('a' + rnd.nextInt(26)).toChar.toString,
            rnd.nextInt(3) == 0)
        }
        feeds.foreach(_.addData(evs))
        running.foreach(_.handle.get.processAllAvailable())
        evs.foreach { f =>
          if (f._5) live.remove(f._3) else live(f._3) = (f._2, f._4)
        }
        live.toSeq.map { case (id, (k, v)) => (k, id, v) }
          .toDF("key", "id", "value").createOrReplaceTempView("hp_live")
        preds.zip(cls).foreach { case (p, cl) =>
          while (cl.consume(1).nonEmpty) ()
          val expected = spark.sql(query("hp_live", p)).collect()
            .map(_.toSeq.toVector).toSet
          val got = cl.collapse().rows.toSet
          assert(got == expected,
            s"page $pg HAVING $p: collapse $got != batch $expected")
        }
      }
    } finally running.foreach(_.stop())
    // a string output compared with a number coerces the Spark way: under
    // ANSI the malformed cast fails the STATEMENT (as spark.sql fails);
    // in legacy mode it nulls and the group is unknown-excluded. Mode
    // read at runtime — see the agg-WHERE test.
    val mem = newFeed("hp_cast")
    val bad = stmts.create(
      "SELECT key, min(value) AS mn FROM hp_cast GROUP BY key HAVING mn > 5")
    try {
      mem.addData((0L, 1L, 100L, "oops", false), (1L, 2L, 200L, "7", false))
      if (spark.conf.get("spark.sql.ansi.enabled").toBoolean) {
        intercept[Exception](bad.handle.get.processAllAvailable())
        assert(bad.phase == Phase.Failed,
          "an ANSI cast error in HAVING must surface as a failed statement")
      } else {
        bad.handle.get.processAllAvailable()
        val cl = bad.handle.get.changelog()
        while (cl.consume(1).nonEmpty) ()
        assert(cl.collapse().rows.toSet == Set(Vector[Any](2L, "7")),
          "legacy mode: '7' passes, unparseable 'oops' is unknown")
      }
    } finally bad.stop()
  }

  test("HAVING compares DECIMAL(38,0) exactly: a literal one above " +
    "10^22 does not round through a double") {
    spark.sql("SELECT * FROM VALUES " +
      "(1L, CAST('10000000000000000000001' AS DECIMAL(38,0))), " +
      "(2L, CAST('10000000000000000000002' AS DECIMAL(38,0))) AS t(k, amt)")
      .createOrReplaceTempView("dh_dims")
    val mem = newFeed("dh_feed")
    val stmts = new Statements(spark)
    val stmt = stmts.create(
      "SELECT d.amt, count(*) AS c FROM dh_feed a JOIN dh_dims d " +
        "ON a.key = d.k GROUP BY d.amt HAVING amt > 10000000000000000000001")
    try {
      assert(stmt.isStreaming, "a feed ⋈ dim aggregate must route")
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      mem.addData((0L, 1L, 100L, "x", false), (1L, 2L, 200L, "y", false))
      stmt.handle.get.processAllAvailable()
      while (cl.consume(1).nonEmpty) ()
      assert(cl.collapse().rows.toSet ==
        Set(Vector[Any](new java.math.BigDecimal("10000000000000000000002"), 1L)),
        s"only the 10^22+2 group passes: ${cl.collapse().rows}")
    } finally stmt.stop()
  }

  test("maintained top-k orders DECIMAL(38,0) exactly: 10^22+2 outranks " +
    "10^22+1, though the two tie as doubles") {
    spark.sql("SELECT * FROM VALUES " +
      "(1L, CAST('10000000000000000000001' AS DECIMAL(38,0))), " +
      "(2L, CAST('10000000000000000000002' AS DECIMAL(38,0))) AS t(k, amt)")
      .createOrReplaceTempView("dt_dims")
    val mem = newFeed("dt_feed")
    val stmts = new Statements(spark)
    val stmt = stmts.create(
      "SELECT * FROM dt_feed a JOIN dt_dims d ON a.key = d.k " +
        "ORDER BY d.amt DESC LIMIT 1")
    try {
      assert(stmt.isStreaming, "top-k over a feed ⋈ dim view must route")
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      mem.addData((0L, 1L, 100L, "x", false), (1L, 2L, 200L, "y", false))
      stmt.handle.get.processAllAvailable()
      while (cl.consume(1).nonEmpty) ()
      // Spark's batch answer over the same live rows
      val s = spark
      import s.implicits._
      Seq((1L, 100L, "x"), (2L, 200L, "y")).toDF("key", "id", "value")
        .createOrReplaceTempView("dt_live")
      val expected = spark.sql("SELECT * FROM dt_live a JOIN dt_dims d " +
        "ON a.key = d.k ORDER BY d.amt DESC LIMIT 1").collect()
        .map(_.toSeq.toVector).toSet
      assert(expected.map(_(1)) == Set(200L))
      assert(cl.collapse().rows.toSet == expected,
        s"top-1 must be key 2's row: ${cl.collapse().rows}")
    } finally stmt.stop()
  }

  test("three-way continuous JOIN chain: SELECT * and GROUP BY both " +
    "collapse to the batch triple join after every page") {
    // one MemoryStream set PER STATEMENT: MemoryStream.commit trims
    // delivered batches, so two queries sharing one stream race — the
    // faster query's commit can drop a batch before the slower reads it
    val f1 = newFeed("c3v_a"); val f2 = newFeed("c3v_b")
    val f3 = newFeed("c3v_c")
    val g1 = newFeed("c3g_a"); val g2 = newFeed("c3g_b")
    val g3 = newFeed("c3g_c")
    val stmts = new Statements(spark)
    val view = stmts.create(
      "SELECT * FROM c3v_a a JOIN c3v_b b ON a.key = b.key " +
        "JOIN c3v_c c ON b.key = c.key")
    val agg = stmts.create(
      "SELECT key, count(*) AS cnt, max(CAST(c.value AS DOUBLE)) AS mx " +
        "FROM c3g_a a JOIN c3g_b b ON a.key = b.key " +
        "JOIN c3g_c c ON b.key = c.key GROUP BY key")
    try {
      assert(view.isStreaming && agg.isStreaming)
      assert(view.columns == Seq("key", "a_id", "a_value", "b_id", "b_value",
        "c_id", "c_value"))
      assert(stmts.waitForStatus(view, Set(Phase.Running)).isDefined)
      assert(stmts.waitForStatus(agg, Set(Phase.Running)).isDefined)
      val clv = view.handle.get.changelog()
      val cla = agg.handle.get.changelog()
      val a = scala.collection.mutable.Map.empty[(Long, Long), String]
      val b = scala.collection.mutable.Map.empty[(Long, Long), String]
      val c = scala.collection.mutable.Map.empty[(Long, Long), String]
      def page(ab: Seq[Feed], bb: Seq[Feed], cb: Seq[Feed]): Unit = {
        if (ab.nonEmpty) { f1.addData(ab); g1.addData(ab) }
        if (bb.nonEmpty) { f2.addData(bb); g2.addData(bb) }
        if (cb.nonEmpty) { f3.addData(cb); g3.addData(cb) }
        view.handle.get.processAllAvailable()
        agg.handle.get.processAllAvailable()
        ab.foreach(applyFeed(a, _)); bb.foreach(applyFeed(b, _))
        cb.foreach(applyFeed(c, _))
        while (clv.consume(1).nonEmpty) ()
        while (cla.consume(1).nonEmpty) ()
        val joined = for (((ak, ai), av) <- a.toSeq;
                          ((bk, bi), bv) <- b.toSeq if bk == ak;
                          ((ck, ci), cv) <- c.toSeq if ck == ak)
          yield Vector[Any](ak, ai, av, bi, bv, ci, cv)
        assert(clv.collapse().rows.toSet == joined.toSet,
          s"3-way view diverged: ${clv.collapse().rows.toSet} vs ${joined.toSet}")
        val expAgg = joined.groupBy(_(0)).map { case (k, rows) =>
          Vector[Any](k, rows.size.toLong,
            rows.map(_(6).asInstanceOf[String].toDouble).max)
        }.toSet
        assert(cla.collapse().rows.toSet == expAgg,
          s"3-way agg diverged: ${cla.collapse().rows.toSet} vs $expAgg")
      }
      // page 1: key 1 complete across all three sides (2×1×1 rows)
      page(Seq((0L, 1L, 100L, "a1", false), (1L, 1L, 101L, "a2", false)),
           Seq((2L, 1L, 200L, "b1", false)),
           Seq((3L, 1L, 300L, "3.5", false)))
      // page 2: key 2 completes; key 1's c-side doubles (2×1×2 rows);
      // an a-side UPDATE retracts and re-inserts its cross product
      page(Seq((4L, 1L, 100L, "a9", false), (5L, 2L, 102L, "a3", false)),
           Seq((6L, 2L, 201L, "b2", false)),
           Seq((7L, 1L, 301L, "9.25", false), (8L, 2L, 302L, "1.5", false)))
      // page 3: deleting key 1's only b row kills ALL key-1 join rows
      page(Nil, Seq((9L, 1L, 200L, "b1", true)), Nil)
      // page 4: everything else deletes — both views empty
      page(Seq((10L, 1L, 100L, "a9", true), (11L, 1L, 101L, "a2", true),
               (12L, 2L, 102L, "a3", true)),
           Seq((13L, 2L, 201L, "b2", true)),
           Seq((14L, 1L, 300L, "3.5", true), (15L, 1L, 301L, "9.25", true),
               (16L, 2L, 302L, "1.5", true)))
      assert(clv.collapse().rows.isEmpty && cla.collapse().rows.isEmpty)
    } finally { view.stop(); agg.stop() }
  }

  test("three-way chain property: random delete-heavy interleavings " +
    "collapse to the batch triple join after every page") {
    val seed = 41
    val rnd = new scala.util.Random(seed)
    val f1 = newFeed("p3_a"); val f2 = newFeed("p3_b"); val f3 = newFeed("p3_c")
    val stmts = new Statements(spark)
    val stmt = stmts.create(
      "SELECT * FROM p3_a a JOIN p3_b b ON a.key = b.key " +
        "JOIN p3_c c ON b.key = c.key")
    try {
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      // reference keyed by id, the feeds' row identity: the generator
      // re-keys ids, and a re-keyed id leaves its old key
      val sides = Seq.fill(3)(
        scala.collection.mutable.Map.empty[Long, (Long, String)])
      var seq = 0L
      for (pg <- 0 until 5) {
        val batches = (0 until 3).map { _ =>
          (0 until rnd.nextInt(6)).map { _ =>
            seq += 1
            (seq, rnd.nextInt(2).toLong, 100L + rnd.nextInt(2),
              s"v$seq", rnd.nextInt(3) == 0)
          }
        }
        if (batches(0).nonEmpty) f1.addData(batches(0))
        if (batches(1).nonEmpty) f2.addData(batches(1))
        if (batches(2).nonEmpty) f3.addData(batches(2))
        stmt.handle.get.processAllAvailable()
        (0 until 3).foreach(i => batches(i).foreach(applyById(sides(i), _)))
        while (cl.consume(1).nonEmpty) ()
        val expected = (for ((ai, (ak, av)) <- sides(0).toSeq;
                             (bi, (bk, bv)) <- sides(1).toSeq if bk == ak;
                             (ci, (ck, cv)) <- sides(2).toSeq if ck == ak)
          yield Vector[Any](ak, ai, av, bi, bv, ci, cv)).toSet
        val got = cl.collapse().rows.toSet
        assert(got == expected,
          s"seed $seed page $pg: 3-way collapse $got != batch $expected")
      }
    } finally stmt.stop()
  }

  test("feed ⋈ static-table continuous statements: SELECT * view, " +
    "GROUP BY over a dim attribute, WHERE on a dim column, LEFT padding") {
    val s = spark
    import s.implicits._
    // one feed per statement (MemoryStream.commit trims shared batches)
    val mem1 = newFeed("fs1_feed"); val mem2 = newFeed("fs2_feed")
    val mem3 = newFeed("fs3_feed")
    Seq((1L, "east", 2.5), (2L, "west", 1.0), (3L, "east", 0.5))
      .toDF("k", "region", "w").createOrReplaceTempView("fs_dims")
    val stmts = new Statements(s)
    val view = stmts.create(
      "SELECT * FROM fs1_feed a JOIN fs_dims d ON a.key = d.k")
    val agg = stmts.create(
      "SELECT d.region, count(*) AS cnt, sum(CAST(a.value AS DOUBLE)) AS sv " +
        "FROM fs2_feed a JOIN fs_dims d ON a.key = d.k " +
        "WHERE d.w > 0.75 GROUP BY d.region")
    val lview = stmts.create(
      "SELECT * FROM fs3_feed a LEFT JOIN fs_dims d ON a.key = d.k")
    try {
      assert(view.isStreaming && agg.isStreaming && lview.isStreaming)
      assert(view.columns == Seq("key", "id", "value", "k", "region", "w"))
      assert(agg.columns == Seq("region", "cnt", "sv"))
      for (st <- Seq(view, agg, lview))
        assert(stmts.waitForStatus(st, Set(Phase.Running)).isDefined)
      val dims = Map(1L -> ("east", 2.5), 2L -> ("west", 1.0),
        3L -> ("east", 0.5))
      val clv = view.handle.get.changelog()
      val cla = agg.handle.get.changelog()
      val cll = lview.handle.get.changelog()
      val live = scala.collection.mutable.Map.empty[(Long, Long), String]
      def page(evs: Seq[Feed]): Unit = {
        mem1.addData(evs); mem2.addData(evs); mem3.addData(evs)
        Seq(view, agg, lview).foreach(_.handle.get.processAllAvailable())
        evs.foreach(applyFeed(live, _))
        Seq(clv, cla, cll).foreach(cl => while (cl.consume(1).nonEmpty) ())
        val inner = live.toSeq.collect {
          case ((k, id), v) if dims.contains(k) =>
            Vector[Any](k, id, v, k, dims(k)._1, dims(k)._2)
        }
        assert(clv.collapse().rows.toSet == inner.toSet,
          s"inner view diverged: ${clv.collapse().rows.toSet} vs $inner")
        val expAgg = live.toSeq.collect {
          case ((k, _), v) if dims.contains(k) && dims(k)._2 > 0.75 =>
            (dims(k)._1, v.toDouble)
        }.groupBy(_._1).map { case (reg, rows) =>
          Vector[Any](reg, rows.size.toLong, rows.map(_._2).sum)
        }.toSet
        assert(cla.collapse().rows.toSet == expAgg,
          s"dim agg diverged: ${cla.collapse().rows.toSet} vs $expAgg")
        val outer = live.toSeq.map { case ((k, id), v) =>
          dims.get(k) match {
            case Some((reg, w)) => Vector[Any](k, id, v, k, reg, w)
            case None => Vector[Any](k, id, v, null, null, null)
          }
        }
        assert(cll.collapse().rows.toSet == outer.toSet,
          s"left view diverged: ${cll.collapse().rows.toSet} vs $outer")
      }
      // keys 1 (east, passes WHERE), 3 (east, fails WHERE w=0.5),
      // 9 (no dim row: inner drops, LEFT pads)
      page(Seq((0L, 1L, 100L, "1.25", false), (1L, 3L, 300L, "4.0", false),
        (2L, 9L, 900L, "7.0", false)))
      // upsert moves a value; key 2 (west) joins in
      page(Seq((3L, 1L, 100L, "2.75", false), (4L, 2L, 200L, "0.5", false)))
      // deletes: key 1 leaves entirely → 'east' group drops to the
      // w>0.75-filtered empty set → -D
      page(Seq((5L, 1L, 100L, "2.75", true), (6L, 3L, 300L, "4.0", true)))
      page(Seq((7L, 2L, 200L, "0.5", true), (8L, 9L, 900L, "7.0", true)))
      assert(clv.collapse().rows.isEmpty && cla.collapse().rows.isEmpty &&
        cll.collapse().rows.isEmpty)
    } finally { view.stop(); agg.stop(); lview.stop() }
  }

  test("outer-join pads surface as SQL NULLs in the facade view: IS NULL " +
    "anti-joins serve unmatched rows, null-skipping aggregates ignore pads") {
    // one feed pair per statement (MemoryStream.commit trims shared
    // batches under two readers)
    val lv = newFeed("opv_l"); val rv = newFeed("opv_r")
    val lg = newFeed("opg_l"); val rg = newFeed("opg_r")
    val stmts = new Statements(spark)
    val anti = stmts.create(
      "SELECT * FROM opv_l a LEFT JOIN opv_r b ON a.key = b.key " +
        "WHERE b.id IS NULL")
    val agg = stmts.create(
      "SELECT key, count(b.id) AS nb, min(b.value) AS mv, count(*) AS n " +
        "FROM opg_l a LEFT JOIN opg_r b ON a.key = b.key GROUP BY key")
    try {
      for (st <- Seq(anti, agg))
        assert(stmts.waitForStatus(st, Set(Phase.Running)).isDefined)
      val cla = anti.handle.get.changelog()
      val clg = agg.handle.get.changelog()
      def sync(): (Set[Vector[Any]], Set[Vector[Any]]) = {
        Seq(anti, agg).foreach(_.handle.get.processAllAvailable())
        Seq(cla, clg).foreach(cl => while (cl.consume(1).nonEmpty) ())
        (cla.collapse().rows.toSet, clg.collapse().rows.toSet)
      }
      def addL(evs: Feed*): Unit = { lv.addData(evs); lg.addData(evs) }
      def addR(evs: Feed*): Unit = { rv.addData(evs); rg.addData(evs) }
      // key 1 matched, key 2 unmatched (padded)
      addL((0L, 1L, 100L, "x", false), (1L, 2L, 101L, "y", false))
      addR((0L, 1L, 200L, "r", false))
      val (a1, g1) = sync()
      assert(a1 == Set(Vector[Any](2L, 101L, "y", null, null)),
        s"IS NULL anti-join must serve exactly the padded row, got $a1")
      assert(g1 == Set(Vector[Any](1L, 1L, "r", 1L),
        Vector[Any](2L, 0L, null, 1L)),
        s"COUNT(col)/MIN must skip the pad while COUNT(*) counts it: $g1")
      // key 2's right row arrives: the anti-join row LEAVES (-D) and the
      // aggregates pick up the real value
      addR((1L, 2L, 201L, "s", false))
      val (a2, g2) = sync()
      assert(a2.isEmpty, "a matched key must leave the anti-join view")
      assert(cla.history.flatMap(_.op).contains(graft.changelog.Op.Delete))
      assert(g2 == Set(Vector[Any](1L, 1L, "r", 1L),
        Vector[Any](2L, 1L, "s", 1L)))
    } finally { anti.stop(); agg.stop() }
  }

  test("mixed feed/dim trees: two feeds enriched with a broadcast dim, " +
    "and one feed with TWO dims, both collapse to the batch join") {
    val s = spark
    import s.implicits._
    Seq((1L, "east"), (2L, "west")).toDF("k", "region")
      .createOrReplaceTempView("mt_dims")
    Seq((1L, 10L), (2L, 20L)).toDF("kk", "quota")
      .createOrReplaceTempView("mt_quotas")
    val stmts = new Statements(s)
    // 2 feeds + 1 dim: SELECT * view and a dim-grouped aggregate
    val lv = newFeed("mt_l"); val rv = newFeed("mt_r")
    val lg = newFeed("mtg_l"); val rg = newFeed("mtg_r")
    val view = stmts.create(
      "SELECT * FROM mt_l a JOIN mt_r b ON a.key = b.key " +
        "JOIN mt_dims d ON a.key = d.k")
    val agg = stmts.create(
      "SELECT d.region, count(*) AS cnt FROM mtg_l a " +
        "JOIN mtg_r b ON a.key = b.key JOIN mt_dims d ON b.key = d.k " +
        "GROUP BY d.region")
    // 1 feed + 2 dims
    val fv = newFeed("mt_f")
    val two = stmts.create(
      "SELECT * FROM mt_f a JOIN mt_dims d ON a.key = d.k " +
        "JOIN mt_quotas q ON a.key = q.kk")
    try {
      for (st <- Seq(view, agg, two)) {
        assert(st.isStreaming, s"${st.sql} must route")
        assert(stmts.waitForStatus(st, Set(Phase.Running)).isDefined)
      }
      assert(view.columns == Seq("key", "a_id", "a_value", "b_id",
        "b_value", "k", "region"))
      assert(two.columns == Seq("key", "id", "value", "k", "region",
        "kk", "quota"))
      val clv = view.handle.get.changelog()
      val cla = agg.handle.get.changelog()
      val clt = two.handle.get.changelog()
      val dims = Map(1L -> "east", 2L -> "west")
      val quotas = Map(1L -> 10L, 2L -> 20L)
      val l = scala.collection.mutable.Map.empty[(Long, Long), String]
      val r = scala.collection.mutable.Map.empty[(Long, Long), String]
      val f = scala.collection.mutable.Map.empty[Long, (Long, String)]
      def page(lb: Seq[Feed], rb: Seq[Feed], fb: Seq[Feed]): Unit = {
        if (lb.nonEmpty) { lv.addData(lb); lg.addData(lb) }
        if (rb.nonEmpty) { rv.addData(rb); rg.addData(rb) }
        if (fb.nonEmpty) fv.addData(fb)
        Seq(view, agg, two).foreach(_.handle.get.processAllAvailable())
        lb.foreach(applyFeed(l, _)); rb.foreach(applyFeed(r, _))
        fb.foreach { e =>
          if (e._5) f.remove(e._3) else f(e._3) = (e._2, e._4)
        }
        Seq(clv, cla, clt).foreach(cl => while (cl.consume(1).nonEmpty) ())
        val joined = for (((lk, li), lvv) <- l.toSeq;
                          ((rk, ri), rvv) <- r.toSeq
                          if lk == rk && dims.contains(lk))
          yield Vector[Any](lk, li, lvv, ri, rvv, lk, dims(lk))
        assert(clv.collapse().rows.toSet == joined.toSet,
          s"mixed view diverged: ${clv.collapse().rows.toSet} vs $joined")
        val expAgg = joined.groupBy(_(6)).map { case (reg, rows) =>
          Vector[Any](reg, rows.size.toLong)
        }.toSet
        assert(cla.collapse().rows.toSet == expAgg,
          s"dim-grouped agg diverged: ${cla.collapse().rows.toSet} vs $expAgg")
        val expTwo = f.toSeq.collect {
          case (id, (k, v)) if dims.contains(k) && quotas.contains(k) =>
            Vector[Any](k, id, v, k, dims(k), k, quotas(k))
        }.toSet
        assert(clt.collapse().rows.toSet == expTwo,
          s"two-dim view diverged: ${clt.collapse().rows.toSet} vs $expTwo")
      }
      // key 1 joins everywhere; key 9 has no dim row (inner: dropped)
      page(Seq((0L, 1L, 100L, "x", false), (1L, 9L, 900L, "w", false)),
           Seq((0L, 1L, 200L, "y", false), (1L, 9L, 901L, "v", false)),
           Seq((0L, 1L, 500L, "p", false), (1L, 9L, 501L, "q", false)))
      // updates + key 2 joins in; deletes empty key 1
      page(Seq((2L, 1L, 100L, "x2", false), (3L, 2L, 101L, "z", false)),
           Seq((2L, 2L, 201L, "u", false)),
           Seq((2L, 1L, 500L, "p", true), (3L, 2L, 502L, "s", false)))
      page(Seq((4L, 1L, 100L, "x2", true)), Nil, Nil)
      assert(cla.collapse().rows.toSet == Set(Vector[Any]("west", 1L)))
    } finally { view.stop(); agg.stop(); two.stop() }
  }

  test("maintained top-k statement: ORDER BY … LIMIT k serves membership " +
    "deltas — rows crossing the boundary emit +I / -D") {
    val mem = newFeed("tk_feed")
    val stmts = new Statements(spark)
    val stmt = stmts.create(
      "SELECT * FROM tk_feed ORDER BY value DESC LIMIT 2")
    try {
      assert(stmt.isStreaming, "top-k over a feed must route, not batch-sort")
      assert(stmt.columns == Seq("key", "id", "value"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      val live = scala.collection.mutable.Map.empty[(Long, Long), String]
      def page(evs: Seq[Feed]): Set[Vector[Any]] = {
        mem.addData(evs)
        stmt.handle.get.processAllAvailable()
        evs.foreach(applyFeed(live, _))
        while (cl.consume(1).nonEmpty) ()
        val expected = live.toSeq
          .map { case ((k, id), v) => (v, id, k) }
          .sortBy { case (v, id, _) => (v, -id) }(
            Ordering.Tuple2(Ordering.String.reverse, Ordering.Long.reverse))
          .take(2).map { case (v, id, k) => Vector[Any](k, id, v) }.toSet
        val got = cl.collapse().rows.toSet
        assert(got == expected, s"top-k collapse $got != batch $expected")
        got
      }
      // three rows: top-2 by value desc = "c", "b"
      val p1 = page(Seq((0L, 1L, 100L, "a", false), (1L, 1L, 101L, "b", false),
        (2L, 2L, 200L, "c", false)))
      assert(p1 == Set(Vector[Any](2L, 200L, "c"), Vector[Any](1L, 101L, "b")))
      // upsert id 100 "a"→"z": it ENTERS the top-2, "b" LEAVES (-D)
      val p2 = page(Seq((3L, 1L, 100L, "z", false)))
      assert(p2 == Set(Vector[Any](1L, 100L, "z"), Vector[Any](2L, 200L, "c")))
      assert(cl.history.flatMap(_.op).contains(graft.changelog.Op.Delete),
        "a row leaving the top-k must wire a real -D")
      // delete "z": "b" RE-ENTERS
      val p3 = page(Seq((4L, 1L, 100L, "z", true)))
      assert(p3 == Set(Vector[Any](2L, 200L, "c"), Vector[Any](1L, 101L, "b")))
      // fewer live rows than k is fine
      page(Seq((5L, 1L, 101L, "b", true)))
      page(Seq((6L, 2L, 200L, "c", true)))
      assert(cl.collapse().rows.isEmpty)
    } finally stmt.stop()
    // the top-k route generalizes to ANY matched source: a filtered
    // 2-feed JOIN view, ordered by an alias-qualified column
    val jl = newFeed("tkj_l"); val jr = newFeed("tkj_r")
    val stmts2 = new Statements(spark)
    val jstmt = stmts2.create(
      "SELECT * FROM tkj_l a JOIN tkj_r b ON a.key = b.key " +
        "WHERE b.value <> 'skip' ORDER BY a.value DESC LIMIT 1")
    try {
      assert(jstmt.isStreaming, "top-k over a filtered join view must route")
      assert(stmts2.waitForStatus(jstmt, Set(Phase.Running)).isDefined)
      val clj = jstmt.handle.get.changelog()
      jl.addData((0L, 1L, 100L, "m", false), (1L, 1L, 101L, "z", false))
      jr.addData((0L, 1L, 200L, "ok", false), (1L, 1L, 201L, "skip", false))
      jstmt.handle.get.processAllAvailable()
      while (clj.consume(1).nonEmpty) ()
      assert(clj.collapse().rows.toSet ==
        Set(Vector[Any](1L, 101L, "z", 200L, "ok")),
        "top-1 of the filtered join view by left value desc")
    } finally jstmt.stop()
  }

  test("aggregate leaderboard: GROUP BY … ORDER BY agg DESC LIMIT k " +
    "maintains the top-k groups with +I/-D boundary transitions") {
    val mem = newFeed("lb_feed")
    val stmts = new Statements(spark)
    val stmt = stmts.create(
      "SELECT key, count(*) AS cnt FROM lb_feed GROUP BY key " +
        "ORDER BY cnt DESC LIMIT 2")
    try {
      assert(stmt.isStreaming, "an aggregate top-k must route")
      assert(stmt.columns == Seq("key", "cnt"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      val live = scala.collection.mutable.Map.empty[Long, (Long, String)]
      def page(evs: Seq[Feed]): Set[Vector[Any]] = {
        mem.addData(evs)
        stmt.handle.get.processAllAvailable()
        evs.foreach { f =>
          if (f._5) live.remove(f._3) else live(f._3) = (f._2, f._4)
        }
        while (cl.consume(1).nonEmpty) ()
        // batch reference: counts per key, top-2 by (cnt desc, key asc)
        val expected = live.values.groupBy(_._1).view
          .mapValues(_.size.toLong).toSeq
          .sortBy { case (k, n) => (-n, k) }.take(2)
          .map { case (k, n) => Vector[Any](k, n) }.toSet
        val got = cl.collapse().rows.toSet
        assert(got == expected, s"leaderboard $got != batch $expected")
        got
      }
      // key 1 has 2 rows, keys 2/3 one each: top-2 = (1,2),(2,1) — the
      // cnt tie between keys 2 and 3 breaks toward the lower key
      val p1 = page(Seq((0L, 1L, 100L, "a", false), (1L, 1L, 101L, "b", false),
        (2L, 2L, 200L, "c", false), (3L, 3L, 300L, "d", false)))
      assert(p1 == Set(Vector[Any](1L, 2L), Vector[Any](2L, 1L)))
      // key 3 gains two rows → (3,3) ENTERS, (2,1) LEAVES via -D
      val p2 = page(Seq((4L, 3L, 301L, "e", false), (5L, 3L, 302L, "f", false)))
      assert(p2 == Set(Vector[Any](1L, 2L), Vector[Any](3L, 3L)))
      assert(cl.history.flatMap(_.op).contains(graft.changelog.Op.Delete),
        "a group leaving the leaderboard must wire a real -D")
      // deletes shrink key 3 → key 2 re-enters on the tiebreak
      page(Seq((6L, 3L, 301L, "e", true), (7L, 3L, 302L, "f", true),
        (8L, 3L, 300L, "d", true)))
      assert(cl.collapse().rows.toSet ==
        Set(Vector[Any](1L, 2L), Vector[Any](2L, 1L)))
    } finally stmt.stop()
    // an ORDER BY typo is blamed on ORDER BY, not on a HAVING the
    // statement doesn't have
    val ex = intercept[UnsupportedContinuousStatement] {
      stmts.create("SELECT key, count(*) AS cnt FROM lb_feed GROUP BY key " +
        "ORDER BY cont DESC LIMIT 2")
    }
    assert(ex.getMessage.contains("ORDER BY column cont"),
      s"error must name the resolving clause: ${ex.getMessage}")
  }

  test("leaderboard property: random delete-heavy interleavings collapse " +
    "to the batch top-3 (cnt desc, key asc) after every page") {
    val seed = 59
    val rnd = new scala.util.Random(seed)
    val mem = newFeed(s"lbp_feed$seed")
    val stmts = new Statements(spark)
    val stmt = stmts.create(
      s"SELECT key, count(*) AS cnt FROM lbp_feed$seed GROUP BY key " +
        "ORDER BY cnt DESC LIMIT 3")
    try {
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      val live = scala.collection.mutable.Map.empty[Long, (Long, String)]
      var seq = 0L
      for (pg <- 0 until 6) {
        val evs = (0 until rnd.nextInt(10)).map { _ =>
          seq += 1
          (seq, rnd.nextInt(5).toLong, 100L + rnd.nextInt(6),
            s"v$seq", rnd.nextInt(3) == 0)
        }
        if (evs.nonEmpty) mem.addData(evs)
        stmt.handle.get.processAllAvailable()
        evs.foreach { f =>
          if (f._5) live.remove(f._3) else live(f._3) = (f._2, f._4)
        }
        while (cl.consume(1).nonEmpty) ()
        val expected = live.values.groupBy(_._1).view
          .mapValues(_.size.toLong).toSeq
          .sortBy { case (k, n) => (-n, k) }.take(3)
          .map { case (k, n) => Vector[Any](k, n) }.toSet
        val got = cl.collapse().rows.toSet
        assert(got == expected,
          s"seed $seed page $pg: leaderboard $got != batch $expected")
      }
    } finally stmt.stop()
  }

  test("SELECT DISTINCT over a feed maintains membership: an upsert " +
    "moving an id between keys moves the distinct row") {
    val mem = newFeed("dk_feed")
    val stmts = new Statements(spark)
    val stmt = stmts.create("SELECT DISTINCT key FROM dk_feed")
    try {
      assert(stmt.isStreaming)
      assert(stmt.columns == Seq("key"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      def sync(): Set[Vector[Any]] = {
        stmt.handle.get.processAllAvailable()
        while (cl.consume(1).nonEmpty) ()
        cl.collapse().rows.toSet
      }
      mem.addData((0L, 1L, 100L, "a", false), (1L, 1L, 101L, "b", false),
        (2L, 2L, 200L, "c", false))
      assert(sync() == Set(Vector[Any](1L), Vector[Any](2L)))
      // re-key id 101 from key 1 to key 3: key 1 still has id 100, key 3
      // appears
      mem.addData((3L, 3L, 101L, "b", false))
      assert(sync() == Set(Vector[Any](1L), Vector[Any](2L), Vector[Any](3L)))
      // deleting key 1's last id removes its distinct row (-D)
      mem.addData((4L, 1L, 100L, "a", true))
      assert(sync() == Set(Vector[Any](2L), Vector[Any](3L)))
      assert(cl.history.flatMap(_.op).contains(graft.changelog.Op.Delete))
    } finally stmt.stop()
  }

  test("filtered SELECT * view: the WHERE runs executor-side on the " +
    "delta stream and upserts move rows across the predicate boundary") {
    val mem = newFeed("fw_feed")
    val stmts = new Statements(spark)
    // a predicate the driver compiler does NOT support (function call) —
    // the view filter is pure Catalyst, so it routes anyway
    val stmt = stmts.create(
      "SELECT * FROM fw_feed WHERE upper(value) LIKE 'A%' AND key < 5")
    try {
      assert(stmt.isStreaming, "a filtered view over a feed must route")
      assert(stmt.columns == Seq("key", "id", "value"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      val live = scala.collection.mutable.Map.empty[Long, (Long, String)]
      def page(evs: Seq[Feed]): Set[Vector[Any]] = {
        mem.addData(evs)
        stmt.handle.get.processAllAvailable()
        evs.foreach { f =>
          if (f._5) live.remove(f._3) else live(f._3) = (f._2, f._4)
        }
        while (cl.consume(1).nonEmpty) ()
        val expected = live.collect {
          case (id, (k, v)) if v != null &&
            v.toUpperCase.startsWith("A") && k < 5 =>
            Vector[Any](k, id, v)
        }.toSet
        val got = cl.collapse().rows.toSet
        assert(got == expected, s"filtered view $got != batch $expected")
        got
      }
      // 'apple' passes, 'banana' fails, 'anchor' fails on key
      page(Seq((0L, 1L, 100L, "apple", false), (1L, 1L, 101L, "banana", false),
        (2L, 9L, 900L, "anchor", false)))
      // upsert moves id 101 ACROSS the boundary (enters), id 100 OUT
      // (leaves — its -D passes the filter, its +I does not)
      val p2 = page(Seq((3L, 1L, 101L, "avocado", false),
        (4L, 1L, 100L, "plum", false)))
      assert(p2 == Set(Vector[Any](1L, 101L, "avocado")))
      page(Seq((5L, 1L, 101L, "avocado", true)))
      assert(cl.collapse().rows.isEmpty)
      // the wire carried a real -D for the row that left the view
      assert(cl.history.flatMap(_.op).contains(graft.changelog.Op.Delete))
    } finally stmt.stop()
    // a filtered JOIN view routes the same way, alias-qualified
    val lm = newFeed("fwj_l"); val rm = newFeed("fwj_r")
    val jstmt = stmts.create(
      "SELECT * FROM fwj_l a JOIN fwj_r b ON a.key = b.key " +
        "WHERE a.value <> b.value")
    try {
      assert(jstmt.isStreaming)
      assert(stmts.waitForStatus(jstmt, Set(Phase.Running)).isDefined)
      val cl = jstmt.handle.get.changelog()
      lm.addData((0L, 1L, 100L, "x", false), (1L, 1L, 101L, "y", false))
      rm.addData((0L, 1L, 200L, "x", false))
      jstmt.handle.get.processAllAvailable()
      while (cl.consume(1).nonEmpty) ()
      assert(cl.collapse().rows.toSet ==
        Set(Vector[Any](1L, 101L, "y", 200L, "x")),
        "the equal-valued joined row must be filtered out")
    } finally jstmt.stop()
    // non-deterministic predicates reject loudly: +I and -D must filter
    // identically or retractions stop cancelling
    intercept[UnsupportedContinuousStatement] {
      stmts.create("SELECT * FROM fw_feed WHERE rand() < 0.5")
    }
  }

  test("projected maintained views: SELECT <exprs> FROM <source> " +
    "[WHERE …] serves the view's projection (multiset semantics), " +
    "never the raw wire; non-deterministic projections keep append") {
    val mem = newFeed("pv_feed")
    val stmts = new Statements(spark)
    val stmt = stmts.create(
      "SELECT key, upper(value) AS u FROM pv_feed WHERE key < 10")
    try {
      assert(stmt.isStreaming)
      assert(stmt.columns == Seq("key", "u"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      def sync(): Map[Vector[Any], Int] = {
        stmt.handle.get.processAllAvailable()
        while (cl.consume(1).nonEmpty) ()
        cl.collapse().toMultiset
      }
      // two rows on key 1; key 99 filtered out
      mem.addData((0L, 1L, 100L, "a", false), (1L, 1L, 101L, "b", false),
        (2L, 99L, 900L, "z", false))
      assert(sync() == Map(Vector[Any](1L, "A") -> 1, Vector[Any](1L, "B") -> 1))
      // UPSERT id 100 a→b: the projection now has a DUPLICATE row — the
      // multiset the raw-wire append reading could never maintain
      // (it would show three rows and a delete marker later)
      mem.addData((3L, 1L, 100L, "b", false))
      assert(sync() == Map(Vector[Any](1L, "B") -> 2),
        "projected view must carry row multiplicity")
      // delete one of the two equal rows: multiplicity drops to 1
      mem.addData((4L, 1L, 101L, "b", true))
      assert(sync() == Map(Vector[Any](1L, "B") -> 1))
    } finally stmt.stop()
    // alias-qualified projections over a JOIN view route the same way
    val jl = newFeed("pvj_l"); val jr = newFeed("pvj_r")
    val j = stmts.create(
      "SELECT a.value AS lv, b.value AS rv FROM pvj_l a JOIN pvj_r b " +
        "ON a.key = b.key")
    try {
      assert(j.isStreaming)
      assert(j.columns == Seq("lv", "rv"))
      assert(stmts.waitForStatus(j, Set(Phase.Running)).isDefined)
      val clj = j.handle.get.changelog()
      jl.addData((0L, 1L, 100L, "x", false))
      jr.addData((0L, 1L, 200L, "y", false))
      j.handle.get.processAllAvailable()
      while (clj.consume(1).nonEmpty) ()
      assert(clj.collapse().rows.toSet == Set(Vector[Any]("x", "y")))
      // a left UPDATE retracts the old projected row and inserts the new
      jl.addData((1L, 1L, 100L, "x2", false))
      j.handle.get.processAllAvailable()
      while (clj.consume(1).nonEmpty) ()
      assert(clj.collapse().rows.toSet == Set(Vector[Any]("x2", "y")),
        "the projected join view must retract the stale projection")
    } finally j.stop()
    // RAND() keeps the default APPEND route (the reference's demo1 shape:
    // per-event jitter is the intended evaluation)
    val nd = stmts.create("SELECT key, rand() AS r FROM pv_feed")
    try assert(nd.isStreaming && nd.columns == Seq("key", "r"))
    finally nd.stop()
    // an output column aliased "op" would collide with the internal
    // delta-op column: the route declines and the APPEND reading serves
    // it (observable: a delete event appends a row instead of retracting)
    val memOp = newFeed("pvo_feed")
    val opStmt = stmts.create("SELECT key AS op FROM pvo_feed")
    try {
      assert(opStmt.columns == Seq("op"))
      memOp.addData((0L, 1L, 100L, "a", false), (1L, 1L, 100L, "a", true))
      opStmt.handle.get.processAllAvailable()
      val clo = opStmt.handle.get.changelog()
      while (clo.consume(1).nonEmpty) ()
      assert(clo.collapse().rows.size == 2,
        "op-aliased projections must keep append semantics, not corrupt " +
          "the delta wire")
    } finally opStmt.stop()
  }

  test("UNION ALL of maintained views: the multiset union of live rows, " +
    "with per-side retractions and cross-view multiplicity") {
    val m1 = newFeed("un_a"); val m2 = newFeed("un_b")
    val stmts = new Statements(spark)
    val stmt = stmts.create(
      "SELECT * FROM un_a UNION ALL SELECT * FROM un_b")
    try {
      assert(stmt.isStreaming, "UNION ALL of feed views must route")
      assert(stmt.columns == Seq("key", "id", "value"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      def sync(): Map[Vector[Any], Int] = {
        stmt.handle.get.processAllAvailable()
        while (cl.consume(1).nonEmpty) ()
        cl.collapse().toMultiset
      }
      // the SAME row live in both feeds → multiplicity 2
      m1.addData((0L, 1L, 100L, "x", false))
      m2.addData((0L, 1L, 100L, "x", false), (1L, 2L, 200L, "y", false))
      assert(sync() == Map(Vector[Any](1L, 100L, "x") -> 2,
        Vector[Any](2L, 200L, "y") -> 1))
      // deleting it from ONE side drops multiplicity to 1, not 0
      m1.addData((1L, 1L, 100L, "x", true))
      assert(sync() == Map(Vector[Any](1L, 100L, "x") -> 1,
        Vector[Any](2L, 200L, "y") -> 1))
      // an upsert on the remaining side retracts within its own stream
      m2.addData((2L, 1L, 100L, "x2", false))
      assert(sync() == Map(Vector[Any](1L, 100L, "x2") -> 1,
        Vector[Any](2L, 200L, "y") -> 1))
    } finally stmt.stop()
  }

  test("continuous SUM over an integral column stays exact and emits " +
    "LONG (SQL sum-of-bigint typing), including values beyond 2^53") {
    val mem = newFeed("ix_feed")
    val stmts = new Statements(spark)
    // id is the feed's long column: sum ids per key
    val stmt = stmts.create(
      "SELECT key, sum(id) AS sid FROM ix_feed GROUP BY key")
    try {
      assert(stmt.columns == Seq("key", "sid"))
      assert(stmt.schema("sid").dataType ==
        org.apache.spark.sql.types.LongType,
        "SUM over an integral column must type as LONG, not DOUBLE")
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      def sync(): Set[Vector[Any]] = {
        stmt.handle.get.processAllAvailable()
        while (cl.consume(1).nonEmpty) ()
        cl.collapse().rows.toSet
      }
      // 2^53 + 1 is NOT representable as a double: an IEEE accumulator
      // would silently round it
      val big = (1L << 53) + 1L
      mem.addData((0L, 1L, big, "x", false), (1L, 1L, 2L, "y", false))
      assert(sync() == Set(Vector[Any](1L, big + 2L)),
        "the exact long accumulator must hold past-2^53 sums")
      mem.addData((2L, 1L, big, "x", true))
      assert(sync() == Set(Vector[Any](1L, 2L)))
    } finally stmt.stop()
  }

  test("the reference's demo3 statement shape over a changelog feed: a " +
    "CTE projecting CASE/CAST/substring expressions, aggregated by the " +
    "projected column — collapse == batch after every page") {
    val mem = newFeed("age_feed")
    val stmts = new Statements(spark)
    // dashboard.py:118-132 verbatim, with the reference's user columns
    // mapped onto the feed's wire columns (key plays age, value plays
    // the '$123.45'-style balance string)
    val stmt = stmts.create("""
      WITH users_with_age_groups AS
           (SELECT CAST(substring(value FROM 2) AS DOUBLE) AS balance_double,
                   CASE
                       WHEN key BETWEEN 40 AND 49 THEN '40s'
                       WHEN key BETWEEN 30 AND 39 THEN '30s'
                       WHEN key BETWEEN 20 AND 29 THEN '20s'
                       WHEN key BETWEEN 50 AND 59 THEN '50s'
                       ELSE 'other' END AS age_group
            FROM age_feed)
      SELECT age_group,
             AVG(balance_double) AS avg_balance
      FROM users_with_age_groups
      GROUP BY age_group""")
    try {
      assert(stmt.isStreaming,
        "the demo3 CTE shape must route through the IVM fold")
      assert(stmt.columns == Seq("age_group", "avg_balance"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      val live = scala.collection.mutable.Map.empty[Long, (Long, String)]
      def ageGroup(age: Long): String =
        if (age >= 40 && age <= 49) "40s"
        else if (age >= 30 && age <= 39) "30s"
        else if (age >= 20 && age <= 29) "20s"
        else if (age >= 50 && age <= 59) "50s"
        else "other"
      def page(evs: Seq[Feed]): Set[Vector[Any]] = {
        if (evs.nonEmpty) mem.addData(evs)
        stmt.handle.get.processAllAvailable()
        evs.foreach { f =>
          if (f._5) live.remove(f._3) else live(f._3) = (f._2, f._4)
        }
        while (cl.consume(1).nonEmpty) ()
        // the fold's exact arithmetic: decimal-exact sum of the doubles'
        // binary expansions, ONE IEEE division at emission
        val expected = live.values.toSeq.groupBy(v => ageGroup(v._1)).map {
          case (g, rows) =>
            val sum = rows.map(r =>
                new java.math.BigDecimal(r._2.drop(1).toDouble))
              .reduce(_.add(_))
            Vector[Any](g, sum.doubleValue / rows.size)
        }.toSet
        val got = cl.collapse().rows.toSet
        assert(got == expected, s"demo3 collapse $got != batch $expected")
        got
      }
      // page 1: two 40s users, one 20s
      val p1 = page(Seq((0L, 44L, 1L, "$100.10", false),
        (1L, 41L, 2L, "$50.50", false), (2L, 25L, 3L, "$7.25", false)))
      assert(p1 == Set(Vector[Any]("40s", (new java.math.BigDecimal(100.10)
          .add(new java.math.BigDecimal(50.50))).doubleValue / 2),
        Vector[Any]("20s", 7.25)))
      // page 2: user 1 AGES into the 50s (an upsert that re-keys its
      // group through the CASE expression) — both groups transition
      page(Seq((3L, 52L, 1L, "$100.10", false)))
      // page 3: user 2 deletes → the 40s group -D's away entirely
      page(Seq((4L, 41L, 2L, "$50.50", true)))
      assert(cl.history.flatMap(_.op).contains(graft.changelog.Op.Delete))
      // page 4: balance update inside a group (value change, same group)
      page(Seq((5L, 25L, 3L, "$8.00", false)))
    } finally stmt.stop()
  }

  test("GROUP BY <expression> and aggregates over expressions route " +
    "through the normalization projection: executor-side scalar algebra " +
    "under the exact fold, collapse == batch per page") {
    val mem = newFeed("gb_feed")
    val stmts = new Statements(spark)
    // upper(value) as the group key (in the SELECT list), an aggregate
    // over an arithmetic expression, and an ordinal GROUP BY reference
    val stmt = stmts.create(
      "SELECT upper(value) AS u, count(*) AS c, sum(id * 2) AS s2, " +
        "min(key + 100) AS mk FROM gb_feed GROUP BY 1")
    try {
      assert(stmt.isStreaming, "GROUP BY expression must route")
      assert(stmt.columns == Seq("u", "c", "s2", "mk"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      val live = scala.collection.mutable.Map.empty[Long, (Long, String)]
      def page(evs: Seq[Feed]): Set[Vector[Any]] = {
        if (evs.nonEmpty) mem.addData(evs)
        stmt.handle.get.processAllAvailable()
        evs.foreach { f =>
          if (f._5) live.remove(f._3) else live(f._3) = (f._2, f._4)
        }
        while (cl.consume(1).nonEmpty) ()
        val expected = live.toSeq.groupBy(_._2._2.toUpperCase).map {
          case (u, rows) =>
            Vector[Any](u, rows.size.toLong, rows.map(_._1 * 2).sum,
              rows.map(_._2._1 + 100L).min)
        }.toSet
        val got = cl.collapse().rows.toSet
        assert(got == expected, s"expr-group collapse $got != batch $expected")
        got
      }
      val p1 = page(Seq((0L, 1L, 10L, "ab", false), (1L, 2L, 11L, "AB", false),
        (2L, 9L, 12L, "cd", false)))
      assert(p1 == Set(Vector[Any]("AB", 2L, 42L, 101L),
        Vector[Any]("CD", 1L, 24L, 109L)))
      // delete the row holding the AB group's min(key + 100)
      page(Seq((3L, 1L, 10L, "ab", true)))
      // re-key a row ACROSS expression groups via upsert
      page(Seq((4L, 9L, 11L, "cd", false)))
      // empty everything
      page(Seq((5L, 9L, 11L, "cd", true), (6L, 9L, 12L, "cd", true)))
      assert(cl.collapse().rows.isEmpty)
    } finally stmt.stop()
  }

  test("SELECT * over a projected subquery serves the PROJECTED " +
    "maintained view (retractions project onto their inserts)") {
    val mem = newFeed("ps_feed")
    val stmts = new Statements(spark)
    val stmt = stmts.create(
      "SELECT * FROM (SELECT id, concat(value, '!') AS shout " +
        "FROM ps_feed WHERE key >= 10)")
    try {
      assert(stmt.isStreaming)
      assert(stmt.columns == Seq("id", "shout"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      def sync(): Set[Vector[Any]] = {
        stmt.handle.get.processAllAvailable()
        while (cl.consume(1).nonEmpty) ()
        cl.collapse().rows.toSet
      }
      mem.addData((0L, 10L, 1L, "a", false), (1L, 5L, 2L, "b", false))
      assert(sync() == Set(Vector[Any](1L, "a!")),
        "the subquery's WHERE must filter the delta stream executor-side")
      // the upsert retracts the OLD projected row exactly
      mem.addData((2L, 10L, 1L, "c", false))
      assert(sync() == Set(Vector[Any](1L, "c!")))
      mem.addData((3L, 10L, 1L, "c", true))
      assert(sync().isEmpty)
    } finally stmt.stop()
  }

  test("different-key three-feed continuous join routes as a cascade of " +
    "Z-set joins: SELECT * and GROUP BY both collapse to the batch " +
    "triple join after every page") {
    // one MemoryStream set PER STATEMENT (the c3v/c3g lesson):
    // MemoryStream.commit trims delivered batches, so two queries
    // sharing one stream race — the faster query's commit can drop a
    // batch before the slower reads it
    val am = newFeed("casc_a"); val bm = newFeed("casc_b")
    val cm = newFeed("casc_c")
    val gam = newFeed("cascg_a"); val gbm = newFeed("cascg_b")
    val gcm = newFeed("cascg_c")
    val stmts = new Statements(spark)
    // a⋈b share a key; c joins on b's ROW ID — no shared key, so the
    // view keeps the cascade's per-side key/id/value columns
    val stmt = stmts.create("SELECT * FROM casc_a a " +
      "JOIN casc_b b ON a.key = b.key JOIN casc_c c ON b.id = c.key")
    val aggStmt = stmts.create("SELECT a.key AS k, count(*) AS c, " +
      "min(c.value) AS mc FROM cascg_a a JOIN cascg_b b ON a.key = b.key " +
      "JOIN cascg_c c ON b.id = c.key GROUP BY a.key")
    try {
      assert(stmt.isStreaming, "the different-key tree must route")
      assert(stmt.columns == Seq("a_key", "a_id", "a_value",
        "b_key", "b_id", "b_value", "c_key", "c_id", "c_value"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      assert(stmts.waitForStatus(aggStmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      val acl = aggStmt.handle.get.changelog()
      val a = scala.collection.mutable.Map.empty[Long, (Long, String)]
      val b = scala.collection.mutable.Map.empty[Long, (Long, String)]
      val c = scala.collection.mutable.Map.empty[Long, (Long, String)]
      def page(ae: Seq[Feed], be: Seq[Feed], ce: Seq[Feed]): Set[Vector[Any]] = {
        if (ae.nonEmpty) { am.addData(ae); gam.addData(ae) }
        if (be.nonEmpty) { bm.addData(be); gbm.addData(be) }
        if (ce.nonEmpty) { cm.addData(ce); gcm.addData(ce) }
        stmt.handle.get.processAllAvailable()
        aggStmt.handle.get.processAllAvailable()
        def app(m: scala.collection.mutable.Map[Long, (Long, String)],
                evs: Seq[Feed]): Unit = evs.foreach { f =>
          if (f._5) m.remove(f._3) else m(f._3) = (f._2, f._4)
        }
        app(a, ae); app(b, be); app(c, ce)
        while (cl.consume(1).nonEmpty) ()
        while (acl.consume(1).nonEmpty) ()
        val joined = for {
          (aid, (ak, av)) <- a.toSeq
          (bid, (bk, bv)) <- b.toSeq if ak == bk
          (cid, (ck, cv)) <- c.toSeq if bid == ck
        } yield Vector[Any](ak, aid, av, bk, bid, bv, ck, cid, cv)
        val got = cl.collapse().rows.toSet
        assert(got == joined.toSet,
          s"cascade collapse $got != batch ${joined.toSet}")
        val expAgg = joined.groupBy(_. head).map { case (k, rows) =>
          Vector[Any](k, rows.size.toLong,
            rows.map(_(8).asInstanceOf[String]).min)
        }.toSet
        val gotAgg = acl.collapse().rows.toSet
        assert(gotAgg == expAgg, s"cascade agg $gotAgg != batch $expAgg")
        got
      }
      // page 1: one full path a(1,10) ⋈ b(1,20) ⋈ c(20,30)
      val p1 = page(Seq((0L, 1L, 10L, "A1", false)),
        Seq((0L, 1L, 20L, "B1", false)),
        Seq((0L, 20L, 30L, "C1", false)))
      assert(p1 == Set(Vector[Any](1L, 10L, "A1", 1L, 20L, "B1",
        20L, 30L, "C1")))
      // page 2: b's VALUE updates (same id) — the composite row retracts
      // and reinserts through BOTH stages; and a second c row under b's
      // id doubles the fan-out
      page(Seq.empty, Seq((1L, 1L, 20L, "B2", false)),
        Seq((1L, 20L, 31L, "C2", false)))
      // page 3: deleting c id=30 narrows; deleting a empties the view
      page(Seq((1L, 1L, 10L, "A1", true)), Seq.empty,
        Seq((2L, 20L, 30L, "C1", true)))
      assert(cl.collapse().rows.isEmpty)
      // page 4: rebuild a — the retained b/c state re-joins
      val p4 = page(Seq((2L, 1L, 11L, "A2", false)), Seq.empty, Seq.empty)
      assert(p4 == Set(Vector[Any](1L, 11L, "A2", 1L, 20L, "B2",
        20L, 31L, "C2")))
      // page 5: b RE-KEYS to key 2 (away from a) — view empties again
      page(Seq.empty, Seq((2L, 2L, 20L, "B2", false)), Seq.empty)
      assert(cl.collapse().rows.isEmpty)
    } finally { stmt.stop(); aggStmt.stop() }
  }

  test("different-key cascade property: random delete-heavy " +
    "interleavings over three feeds collapse to the batch triple join " +
    "after every page") {
    for (seed <- Seq(11, 23)) {
      val rnd = new scala.util.Random(seed)
      val am = newFeed(s"cp_a$seed"); val bm = newFeed(s"cp_b$seed")
      val cm = newFeed(s"cp_c$seed")
      val stmts = new Statements(spark)
      val stmt = stmts.create(s"SELECT * FROM cp_a$seed a " +
        s"JOIN cp_b$seed b ON a.key = b.key " +
        s"JOIN cp_c$seed c ON b.id = c.key")
      try {
        assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
        val cl = stmt.handle.get.changelog()
        val a = scala.collection.mutable.Map.empty[Long, (Long, String)]
        val b = scala.collection.mutable.Map.empty[Long, (Long, String)]
        val c = scala.collection.mutable.Map.empty[Long, (Long, String)]
        var seq = 0L
        // b ids live in 20..22 so c's keys (20..22) can hit them
        def evs(idBase: Long, keyOf: () => Long): Seq[Feed] =
          (0 until rnd.nextInt(6)).map { _ =>
            seq += 1
            (seq, keyOf(), idBase + rnd.nextInt(3),
              s"v${rnd.nextInt(50)}", rnd.nextInt(3) == 0)
          }
        for (pg <- 0 until 6) {
          val ae = evs(10L, () => 1L + rnd.nextInt(2))
          val be = evs(20L, () => 1L + rnd.nextInt(2))
          val ce = evs(30L, () => 20L + rnd.nextInt(3))
          if (ae.nonEmpty) am.addData(ae)
          if (be.nonEmpty) bm.addData(be)
          if (ce.nonEmpty) cm.addData(ce)
          stmt.handle.get.processAllAvailable()
          def app(m: scala.collection.mutable.Map[Long, (Long, String)],
                  es: Seq[Feed]): Unit = es.foreach { f =>
            if (f._5) m.remove(f._3) else m(f._3) = (f._2, f._4)
          }
          app(a, ae); app(b, be); app(c, ce)
          while (cl.consume(1).nonEmpty) ()
          val expected = (for {
            (aid, (ak, av)) <- a.toSeq
            (bid, (bk, bv)) <- b.toSeq if ak == bk
            (cid, (ck, cv)) <- c.toSeq if bid == ck
          } yield Vector[Any](ak, aid, av, bk, bid, bv, ck, cid, cv)).toSet
          val got = cl.collapse().rows.toSet
          assert(got == expected,
            s"seed $seed page $pg: cascade $got != batch $expected")
        }
      } finally stmt.stop()
    }
  }

  test("different-key LEFT OUTER cascade: unmatched rows survive " +
    "null-padded, pads retract when the first match arrives and return " +
    "when the last leaves — 2-feed and 3-feed forms, collapse == batch") {
    val am = newFeed("oc_a"); val bm = newFeed("oc_b")
    val stmts = new Statements(spark)
    // a's ROW ID is the join column — different-key, so the view keeps
    // the cascade's per-side columns
    val stmt = stmts.create(
      "SELECT * FROM oc_a a LEFT JOIN oc_b b ON a.id = b.key")
    try {
      assert(stmt.isStreaming, "different-key LEFT OUTER must route")
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      val a = scala.collection.mutable.Map.empty[Long, (Long, String)]
      val b = scala.collection.mutable.Map.empty[Long, (Long, String)]
      def page(ae: Seq[Feed], be: Seq[Feed]): Set[Vector[Any]] = {
        if (ae.nonEmpty) am.addData(ae)
        if (be.nonEmpty) bm.addData(be)
        stmt.handle.get.processAllAvailable()
        ae.foreach(f => if (f._5) a.remove(f._3) else a(f._3) = (f._2, f._4))
        be.foreach(f => if (f._5) b.remove(f._3) else b(f._3) = (f._2, f._4))
        while (cl.consume(1).nonEmpty) ()
        val expected = a.toSeq.flatMap { case (aid, (ak, av)) =>
          val ms = b.toSeq.filter { case (_, (bk, _)) => bk == aid }
          if (ms.isEmpty) Seq(Vector[Any](ak, aid, av, null, null, null))
          else ms.map { case (bid, (bk, bv)) =>
            Vector[Any](ak, aid, av, bk, bid, bv) }
        }.toSet
        val got = cl.collapse().rows.toSet
        assert(got == expected, s"outer cascade $got != batch $expected")
        got
      }
      // unmatched left row lives null-padded
      val p1 = page(Seq((0L, 1L, 5L, "A", false)), Seq.empty)
      assert(p1 == Set(Vector[Any](1L, 5L, "A", null, null, null)))
      // first match arrives → the pad retracts for the real row
      page(Seq.empty, Seq((0L, 5L, 20L, "B", false)))
      // a second match fans out; deleting both returns the pad
      page(Seq.empty, Seq((1L, 5L, 21L, "B2", false)))
      page(Seq.empty, Seq((2L, 5L, 20L, "B", true), (3L, 5L, 21L, "B2", true)))
      assert(cl.collapse().rows.toSet ==
        Set(Vector[Any](1L, 5L, "A", null, null, null)))
      // deleting the left row empties the padded view
      page(Seq((1L, 1L, 5L, "A", true)), Seq.empty)
      assert(cl.collapse().rows.isEmpty)
    } finally stmt.stop()
  }

  test("cascade pad-sentinel guard: a live feed row carrying the " +
    "reserved key/id -1 fails the statement loudly instead of being " +
    "misread as (or joined with) an outer pad") {
    val am = newFeed("sg_a"); newFeed("sg_b")
    val stmts = new Statements(spark)
    val stmt = stmts.create(
      "SELECT * FROM sg_a a LEFT JOIN sg_b b ON a.id = b.key")
    try {
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      am.addData((0L, 1L, -1L, "bad", false))
      val ex = intercept[Exception](stmt.handle.get.processAllAvailable())
      def msgs(e: Throwable): String = {
        val sb = new StringBuilder
        var c: Throwable = e
        while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
        sb.toString
      }
      assert(msgs(ex).contains("reserved"),
        s"the sentinel guard must name the reserved id, got ${msgs(ex)}")
      assert(stmt.phase == Phase.Failed)
    } finally stmt.stop()
  }

  test("outer-stage cascade property: a JOIN b (inner, same key) LEFT " +
    "JOIN c (on b.id) under random delete-heavy interleavings collapses " +
    "to the batch answer after every page") {
    for (seed <- Seq(7, 19)) {
      val rnd = new scala.util.Random(seed)
      val am = newFeed(s"op_a$seed"); val bm = newFeed(s"op_b$seed")
      val cm = newFeed(s"op_c$seed")
      val stmts = new Statements(spark)
      val stmt = stmts.create(s"SELECT * FROM op_a$seed a " +
        s"JOIN op_b$seed b ON a.key = b.key " +
        s"LEFT JOIN op_c$seed c ON b.id = c.key")
      try {
        assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
        val cl = stmt.handle.get.changelog()
        val a = scala.collection.mutable.Map.empty[Long, (Long, String)]
        val b = scala.collection.mutable.Map.empty[Long, (Long, String)]
        val c = scala.collection.mutable.Map.empty[Long, (Long, String)]
        var seq = 0L
        def evs(idBase: Long, keyOf: () => Long): Seq[Feed] =
          (0 until rnd.nextInt(6)).map { _ =>
            seq += 1
            (seq, keyOf(), idBase + rnd.nextInt(3),
              s"v${rnd.nextInt(50)}", rnd.nextInt(3) == 0)
          }
        for (pg <- 0 until 6) {
          val ae = evs(10L, () => 1L + rnd.nextInt(2))
          val be = evs(20L, () => 1L + rnd.nextInt(2))
          val ce = evs(30L, () => 20L + rnd.nextInt(3))
          if (ae.nonEmpty) am.addData(ae)
          if (be.nonEmpty) bm.addData(be)
          if (ce.nonEmpty) cm.addData(ce)
          stmt.handle.get.processAllAvailable()
          def app(m: scala.collection.mutable.Map[Long, (Long, String)],
                  es: Seq[Feed]): Unit = es.foreach { f =>
            if (f._5) m.remove(f._3) else m(f._3) = (f._2, f._4)
          }
          app(a, ae); app(b, be); app(c, ce)
          while (cl.consume(1).nonEmpty) ()
          val expected = (for {
            (aid, (ak, av)) <- a.toSeq
            (bid, (bk, bv)) <- b.toSeq if ak == bk
          } yield {
            val ms = c.toSeq.filter { case (_, (ck, _)) => ck == bid }
            if (ms.isEmpty)
              Seq(Vector[Any](ak, aid, av, bk, bid, bv, null, null, null))
            else ms.map { case (cid, (ck, cv)) =>
              Vector[Any](ak, aid, av, bk, bid, bv, ck, cid, cv) }
          }).flatten.toSet
          val got = cl.collapse().rows.toSet
          assert(got == expected,
            s"seed $seed page $pg: outer cascade $got != batch $expected")
        }
      } finally stmt.stop()
    }
  }

  test("event-time TUMBLE windows: the maintained view holds open " +
    "windows; a closed window retracts with -D at watermark passage and " +
    "late rows drop") {
    val mem = newFeed("tw_feed")
    val stmts = new Statements(spark)
    // key plays the event-time domain; tumble(key, 10) aligns to the
    // window start — the continuous twin of q18's batch window()
    val stmt = stmts.create(
      "SELECT tumble(key, 10) AS win, count(*) AS c, sum(id) AS s " +
        "FROM tw_feed GROUP BY tumble(key, 10)")
    try {
      assert(stmt.isStreaming, "tumble must route through the IVM fold")
      assert(stmt.columns == Seq("win", "c", "s"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      def sync(): Set[Vector[Any]] = {
        stmt.handle.get.processAllAvailable()
        while (cl.consume(1).nonEmpty) ()
        cl.collapse().rows.toSet
      }
      // window [0,10): two rows, folding live
      mem.addData((0L, 3L, 1L, "a", false), (1L, 7L, 2L, "b", false))
      assert(sync() == Set(Vector[Any](0L, 2L, 3L)))
      // an event in [10,20) advances the watermark past window 0's end:
      // window 0 CLOSES — the view retracts it via -D with the final value
      mem.addData((2L, 12L, 3L, "c", false))
      assert(sync() == Set(Vector[Any](10L, 1L, 3L)))
      val dels = cl.history.filter(_.op.contains(graft.changelog.Op.Delete))
      assert(dels.exists(_.values == Vector[Any](0L, 2L, 3L)),
        s"the closed window must retract with its FINAL value, got $dels")
      // a LATE row targeting the closed window drops (no resurrection),
      // and so does a late retraction of an already-evicted row
      mem.addData((3L, 5L, 9L, "late", false), (4L, 3L, 1L, "a", true))
      assert(sync() == Set(Vector[Any](10L, 1L, 3L)),
        "late rows must not resurrect a closed window")
      // the open window still folds exactly
      mem.addData((5L, 15L, 4L, "d", false))
      assert(sync() == Set(Vector[Any](10L, 2L, 7L)))
    } finally stmt.stop()
  }

  test("a window closed in the SAME batch as its last contributions " +
    "publishes the FINAL value before retracting (fire-at-close), and " +
    "NULL event times leave the windowed view like hop's null sequence") {
    // CTE projects a nullable event time so both behaviors compose with
    // the round's projection machinery
    val mem = newFeed("twb_feed")
    val stmts = new Statements(spark)
    val stmt = stmts.create("""
      WITH v AS (SELECT nullif(key, 99) AS ts, id, value FROM twb_feed)
      SELECT tumble(ts, 10) AS win, count(*) AS c
      FROM v GROUP BY tumble(ts, 10)""")
    try {
      assert(stmt.isStreaming)
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      def sync(): Set[Vector[Any]] = {
        stmt.handle.get.processAllAvailable()
        while (cl.consume(1).nonEmpty) ()
        cl.collapse().rows.toSet
      }
      // ONE batch: two window-0 rows AND the window-10 closer — window 0
      // must still publish its final count 2 on the wire before its -D
      // (Flink fires the window at close; a single post-eviction
      // snapshot would silently drop the same-batch contributions).
      // A null event time (key 99) never enters any window.
      mem.addData((0L, 5L, 1L, "a", false), (1L, 7L, 2L, "b", false),
        (2L, 99L, 8L, "nullts", false), (3L, 15L, 3L, "c", false))
      assert(sync() == Set(Vector[Any](10L, 1L)))
      val win0 = cl.history.filter(_.values.headOption.contains(0L))
      assert(win0.exists(r =>
        r.op.contains(graft.changelog.Op.Insert) &&
          r.values == Vector[Any](0L, 2L)),
        s"the closed window must publish its final count first, got $win0")
      assert(win0.exists(r =>
        r.op.contains(graft.changelog.Op.Delete) &&
          r.values == Vector[Any](0L, 2L)),
        s"…then retract the same final value, got $win0")
    } finally stmt.stop()
  }

  test("HOP sliding windows: every row folds into each window containing " +
    "it, closed windows retract with -D, and late rows drop from all " +
    "their closed windows") {
    val mem = newFeed("hop_feed")
    val stmts = new Statements(spark)
    // slide 5, width 10: every event belongs to two windows
    val stmt = stmts.create(
      "SELECT hop(key, 5, 10) AS win, count(*) AS c FROM hop_feed " +
        "GROUP BY hop(key, 5, 10)")
    try {
      assert(stmt.isStreaming, "hop must route through the IVM fold")
      assert(stmt.columns == Seq("win", "c"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      def sync(): Set[Vector[Any]] = {
        stmt.handle.get.processAllAvailable()
        while (cl.consume(1).nonEmpty) ()
        cl.collapse().rows.toSet
      }
      // event at 7 lands in windows [0,10) and [5,15)
      mem.addData((0L, 7L, 1L, "a", false))
      assert(sync() == Set(Vector[Any](0L, 1L), Vector[Any](5L, 1L)))
      // event at 12 lands in [5,15) and [10,20); the watermark (max
      // start = 10) passes window 0's end → it closes with -D
      mem.addData((1L, 12L, 2L, "b", false))
      assert(sync() == Set(Vector[Any](5L, 2L), Vector[Any](10L, 1L)))
      assert(cl.history.filter(_.op.contains(graft.changelog.Op.Delete))
        .exists(_.values == Vector[Any](0L, 1L)),
        "window [0,10) must retract with its final count")
      // a late event at 1 belongs only to closed windows → fully dropped
      mem.addData((2L, 1L, 9L, "late", false))
      assert(sync() == Set(Vector[Any](5L, 2L), Vector[Any](10L, 1L)))
      // deleting the event at 7 retracts from its OPEN window [5,15)
      // (its closed window [0,10) leg drops as late)
      mem.addData((3L, 7L, 1L, "a", true))
      assert(sync() == Set(Vector[Any](5L, 1L), Vector[Any](10L, 1L)))
      // an event at 20 closes [5,15) and [10,20) — only its own two
      // windows stay open
      mem.addData((4L, 20L, 3L, "c", false))
      assert(sync() == Set(Vector[Any](15L, 1L), Vector[Any](20L, 1L)))
    } finally stmt.stop()
  }

  test("a subquery WHERE the projected view cannot serve (wire columns, " +
    "non-determinism) falls through QUIETLY to the append route — never " +
    "a create() error for a shape that worked before subqueries routed") {
    val mem = newFeed("qf_feed")
    val stmts = new Statements(spark)
    // `delete` is a wire column, not a maintained-view column: the
    // statement keeps the default append reading (raw wire rows, delete
    // flag filtered per event — visible semantics, nothing misread)
    val stmt = stmts.create(
      "SELECT id, value FROM (SELECT * FROM qf_feed WHERE delete = false)")
    try {
      assert(stmt.isStreaming)
      assert(stmt.columns == Seq("id", "value"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      // the append route emits +I per WIRE event — an upsert of the same
      // id appends a second row instead of retracting (the proof this
      // fell through rather than routing as a maintained view)
      mem.addData((0L, 1L, 100L, "a", false), (1L, 1L, 100L, "b", false),
        (2L, 1L, 100L, "b", true))
      stmt.handle.get.processAllAvailable()
      while (cl.consume(1).nonEmpty) ()
      assert(cl.history.forall(_.op.contains(graft.changelog.Op.Insert)))
      assert(cl.history.map(_.values).toSet ==
        Set(Vector[Any](100L, "a"), Vector[Any](100L, "b")))
    } finally stmt.stop()
    // normalization is select-list-order independent: an aggregate
    // argument must not claim a name a LATER item owns
    val mem2 = newFeed("qf2_feed")
    val s2 = stmts.create("SELECT sum(value) AS s, upper(value) AS value " +
      "FROM qf2_feed GROUP BY upper(value)")
    try {
      assert(s2.isStreaming && s2.columns == Seq("s", "value"))
      assert(stmts.waitForStatus(s2, Set(Phase.Running)).isDefined)
      val cl2 = s2.handle.get.changelog()
      mem2.addData((0L, 1L, 10L, "3.5", false), (1L, 1L, 11L, "3.5", false))
      s2.handle.get.processAllAvailable()
      while (cl2.consume(1).nonEmpty) ()
      assert(cl2.collapse().rows.toSet == Set(Vector[Any](7.0, "3.5")))
    } finally s2.stop()
  }

  test("SESSION windows: a bridge event MERGES two sessions, its " +
    "retraction SPLITS them back, closed sessions fire their final row " +
    "then retract, and late rows drop — per key") {
    val mem = newFeed("sess_feed")
    val stmts = new Statements(spark)
    // id plays the event-time domain; gap 10
    val stmt = stmts.create(
      "SELECT key, session(id, 10) AS win, count(*) AS c, " +
        "min(value) AS mv FROM sess_feed GROUP BY key, session(id, 10)")
    try {
      assert(stmt.isStreaming, "session must route through the IVM fold")
      assert(stmt.columns == Seq("key", "win", "c", "mv"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      def sync(): Set[Vector[Any]] = {
        stmt.handle.get.processAllAvailable()
        while (cl.consume(1).nonEmpty) ()
        cl.collapse().rows.toSet
      }
      // one session of two events 5 apart
      mem.addData((0L, 1L, 100L, "x", false), (1L, 1L, 105L, "q", false))
      assert(sync() == Set(Vector[Any](1L, 100L, 2L, "q")))
      // a batch adds 118 (new session: 118-105 > 10) THEN the bridge
      // 109 — the two sessions MERGE into one (105→109→118 all ≤ gap),
      // and the min bag merges across the run's buckets
      mem.addData((2L, 1L, 118L, "z", false), (3L, 1L, 109L, "m", false))
      assert(sync() == Set(Vector[Any](1L, 100L, 4L, "m")))
      // retracting the bridge SPLITS the session — the transition batch
      // engines cannot express. The left part {100,105} then has
      // last + gap = 115 <= watermark 118, so it CLOSES: fires its
      // final (1, 100, 2, "q") row, then retracts it with -D
      mem.addData((4L, 1L, 109L, "m", true))
      assert(sync() == Set(Vector[Any](1L, 118L, 1L, "z")))
      val dels = cl.history.filter(_.op.contains(graft.changelog.Op.Delete))
      assert(dels.exists(_.values == Vector[Any](1L, 100L, 2L, "q")),
        s"the closed split-off session must retract with its final row: $dels")
      // a late event (101 + 10 <= 118) drops; a live extension folds
      mem.addData((5L, 1L, 101L, "late", false), (6L, 1L, 126L, "y", false))
      assert(sync() == Set(Vector[Any](1L, 118L, 2L, "y")))
      // an OPEN session can span times the watermark has passed: 118 is
      // old territory (118 + 10 <= 128 after the next event) yet its
      // retraction must still fold — only evicted buckets drop
      mem.addData((9L, 1L, 128L, "w", false))
      assert(sync() == Set(Vector[Any](1L, 118L, 3L, "w")))
      mem.addData((10L, 1L, 118L, "z", true))
      assert(sync() == Set(Vector[Any](1L, 126L, 2L, "w")),
        "retracting a live bucket behind the watermark must fold, " +
          "re-keying the session to its new first time")
      // a second key sessions independently (watermark is global)
      mem.addData((7L, 2L, 130L, "k2", false))
      assert(sync() == Set(Vector[Any](1L, 126L, 2L, "w"),
        Vector[Any](2L, 130L, 1L, "k2")))
      // an event far ahead closes BOTH keys' open sessions
      mem.addData((8L, 2L, 200L, "far", false))
      assert(sync() == Set(Vector[Any](2L, 200L, 1L, "far")))
      assert(cl.history.filter(_.op.contains(graft.changelog.Op.Delete))
        .exists(_.values == Vector[Any](1L, 126L, 2L, "w")))
    } finally stmt.stop()
  }

  test("SESSION windows: an ADD behind the watermark into a still-LIVE " +
    "bucket folds (symmetric with its retraction) — the asymmetric drop " +
    "crashed MIN bags and phantom-shrank live counts") {
    // key plays the event-time domain here so several upsert ids can
    // share one (group, time) bucket; value is the group
    val mem = newFeed("sess_sym_feed")
    val stmts = new Statements(spark)
    val stmt = stmts.create(
      "SELECT value, session(key, 10) AS win, count(*) AS c, " +
        "min(id) AS mi FROM sess_sym_feed GROUP BY value, session(key, 10)")
    try {
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      def sync(): Set[Vector[Any]] = {
        stmt.handle.get.processAllAvailable()
        while (cl.consume(1).nonEmpty) ()
        cl.collapse().rows.toSet
      }
      // one bridged run {100,109,118}; watermark reaches 118
      mem.addData((0L, 100L, 1L, "g", false), (0L, 109L, 2L, "g", false),
        (0L, 118L, 3L, "g", false))
      assert(sync() == Set(Vector[Any]("g", 100L, 3L, 1L)))
      // time 100 is behind the watermark (100+10 <= 118) but its bucket
      // is LIVE (the run spans it): the add must fold, not late-drop
      mem.addData((0L, 100L, 4L, "g", false))
      assert(sync() == Set(Vector[Any]("g", 100L, 4L, 1L)),
        "an add into a live bucket behind the watermark must fold")
      // its retraction passes the same liveness rule: both fold, so the
      // MIN bag stays consistent (the old asymmetric drop folded ONLY
      // the retraction → 'retracted a value never added' crash)
      mem.addData((0L, 100L, 4L, "g", true))
      assert(sync() == Set(Vector[Any]("g", 100L, 3L, 1L)))
      // an add at a DEAD time (no live bucket) still drops, and so does
      // its retraction — symmetric on the drop side too
      mem.addData((0L, 50L, 5L, "g", false))
      assert(sync() == Set(Vector[Any]("g", 100L, 3L, 1L)))
      mem.addData((0L, 50L, 5L, "g", true))
      assert(sync() == Set(Vector[Any]("g", 100L, 3L, 1L)))
    } finally stmt.stop()
  }

  test("SESSION window property: random delete-heavy churn collapses to " +
    "a reference model of the full pipeline (upsert deltas in seq order, " +
    "per-delta late-drop, gap runs, per-batch eviction) after every page") {
    val gap = 7L
    for (seed <- Seq(3, 29)) {
      val mem = newFeed(s"sp_feed$seed")
      val stmts = new Statements(spark)
      val stmt = stmts.create(s"SELECT key, session(id, $gap) AS win, " +
        s"count(*) AS c FROM sp_feed$seed GROUP BY key, session(id, $gap)")
      try {
        assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
        val cl = stmt.handle.get.changelog()
        val rnd = new scala.util.Random(seed)
        // reference model: the upsert table (id → row), the fold's live
        // (key, ts=id) bucket counts, and the running watermark
        val upsert = scala.collection.mutable.Map.empty[Long, (Long, String)]
        val buckets = scala.collection.mutable.Map.empty[(Long, Long), Long]
        // watermark advances at BATCH granularity (the fold's own rule:
        // late-drop compares against the batch-START watermark; the
        // batch's adds advance it at the end)
        var wm = Long.MinValue
        var batchMax = Long.MinValue
        def applyDelta(sign: Long, k: Long, ts: Long): Unit = {
          // adds cannot enter closed territory UNLESS the bucket is
          // still live (a bridged session can span the watermark, and a
          // live bucket always accepts the time it already holds);
          // retractions apply iff their bucket is still live. The two
          // rules are symmetric, so a legal add-then-retract pair
          // either both fold or both drop.
          if (sign > 0) {
            if (ts + gap <= wm && !buckets.contains((k, ts))) return
            batchMax = math.max(batchMax, ts)
          } else if (!buckets.contains((k, ts))) return
          val next = buckets.getOrElse((k, ts), 0L) + sign
          if (next == 0L) buckets.remove((k, ts)) else buckets((k, ts)) = next
        }
        def runsOf(k: Long): Seq[Seq[Long]] = {
          val ts = buckets.keys.filter(_._1 == k).map(_._2).toSeq.sorted
          ts.foldLeft(Vector.empty[Vector[Long]]) { (acc, t) =>
            if (acc.nonEmpty && t - acc.last.last <= gap)
              acc.init :+ (acc.last :+ t)
            else acc :+ Vector(t)
          }
        }
        var seq = 0L
        for (pg <- 0 until 8) {
          val evs = (0 until rnd.nextInt(8)).map { _ =>
            seq += 1
            // ts = id drawn from a slowly advancing band so sessions
            // keep forming, merging, and closing as pages progress
            val ts = 100L + pg * 4 + rnd.nextInt(12)
            (seq, 1L + rnd.nextInt(2), ts, s"v${rnd.nextInt(9)}",
              rnd.nextInt(3) == 0)
          }
          if (evs.nonEmpty) mem.addData(evs)
          stmt.handle.get.processAllAvailable()
          // model: upsert IVM deltas in seq order, fold per delta
          batchMax = Long.MinValue
          evs.foreach { case (_, k, id, v, del) =>
            upsert.get(id).foreach { case (k0, _) => applyDelta(-1L, k0, id) }
            if (del) upsert.remove(id)
            else { upsert(id) = (k, v); applyDelta(1L, k, id) }
          }
          wm = math.max(wm, batchMax)
          // model: per-batch eviction of closed runs (last + gap <= wm)
          (1L to 2L).foreach { k =>
            runsOf(k).filter(_.last + gap <= wm)
              .foreach(_.foreach(t => buckets.remove((k, t))))
          }
          val expected = (1L to 2L).flatMap { k =>
            runsOf(k).map(run =>
              Vector[Any](k, run.head,
                run.map(t => buckets((k, t))).sum))
          }.toSet
          while (cl.consume(1).nonEmpty) ()
          val got = cl.collapse().rows.toSet
          assert(got == expected,
            s"seed $seed page $pg: session collapse $got != model $expected")
        }
      } finally stmt.stop()
    }
  }

  test("continuous COUNT(DISTINCT): the count decreases exactly when the " +
    "LAST duplicate of a value retracts, and collapse == batch per page") {
    val mem = newFeed("cd_feed")
    val stmts = new Statements(spark)
    val stmt = stmts.create("SELECT key, count(DISTINCT value) AS dv, " +
      "count(*) AS c FROM cd_feed GROUP BY key")
    try {
      assert(stmt.isStreaming, "COUNT(DISTINCT) must route through the fold")
      assert(stmt.columns == Seq("key", "dv", "c"))
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      val cl = stmt.handle.get.changelog()
      val live = scala.collection.mutable.Map.empty[Long, (Long, String)]
      def page(evs: Seq[Feed]): Set[Vector[Any]] = {
        if (evs.nonEmpty) mem.addData(evs)
        stmt.handle.get.processAllAvailable()
        evs.foreach { f =>
          if (f._5) live.remove(f._3) else live(f._3) = (f._2, f._4)
        }
        while (cl.consume(1).nonEmpty) ()
        val expected = live.values.toSeq.groupBy(_._1).map { case (k, rs) =>
          Vector[Any](k, rs.map(_._2).distinct.size.toLong, rs.size.toLong)
        }.toSet
        val got = cl.collapse().rows.toSet
        assert(got == expected, s"distinct collapse $got != batch $expected")
        got
      }
      // "a" lives under two ids; distinct counts it once
      val p1 = page(Seq((0L, 1L, 100L, "a", false), (1L, 1L, 101L, "a", false),
        (2L, 1L, 102L, "b", false)))
      assert(p1 == Set(Vector[Any](1L, 2L, 3L)))
      // deleting ONE duplicate leaves the distinct count at 2
      val p2 = page(Seq((3L, 1L, 101L, "a", true)))
      assert(p2 == Set(Vector[Any](1L, 2L, 2L)))
      // deleting the LAST "a" is the transition a ±-fold cannot see:
      // dv must DECREASE to 1
      val p3 = page(Seq((4L, 1L, 100L, "a", true)))
      assert(p3 == Set(Vector[Any](1L, 1L, 1L)),
        "retracting the last duplicate must decrease the distinct count")
      // an upsert that REVALUES an id is retract+insert in one event
      val p4 = page(Seq((5L, 1L, 102L, "a", false)))
      assert(p4 == Set(Vector[Any](1L, 1L, 1L)))
    } finally stmt.stop()
  }

  test("fold driver state is fail-fast-capped: a high-cardinality MIN " +
    "stream and a deep maintained top-k die via the documented " +
    "maxFoldStateEntries error, never a silent driver OOM") {
    def messages(e: Throwable): String = {
      val sb = new StringBuilder
      var cur: Throwable = e
      while (cur != null) { sb.append(cur.getMessage).append('\n'); cur = cur.getCause }
      sb.toString
    }
    // MIN bag: values past the first change no emission, yet each is an
    // entry — the emission-unbounded state the cap exists for
    val mem = newFeed("cap_feed")
    val stmts = new Statements(spark, maxFoldStateEntries = 8)
    val stmt = stmts.create(
      "SELECT key, min(value) AS mn FROM cap_feed GROUP BY key")
    try {
      assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
      mem.addData((0 until 20).map(i =>
        (i.toLong, 1L, 100L + i, f"v$i%02d", false)))
      val ex = intercept[Exception](stmt.handle.get.processAllAvailable())
      assert(messages(ex).contains("maxFoldStateEntries"),
        s"cap error must name the documented bound, got: ${messages(ex)}")
      assert(stmt.phase == Phase.Failed)
    } finally stmt.stop()
    // maintained top-k: rows below the k-boundary are the same
    // emission-unbounded state
    val mem2 = newFeed("cap_topk_feed")
    val stmt2 = stmts.create(
      "SELECT * FROM cap_topk_feed ORDER BY id DESC LIMIT 2")
    try {
      assert(stmts.waitForStatus(stmt2, Set(Phase.Running)).isDefined)
      mem2.addData((0 until 20).map(i =>
        (i.toLong, 1L, 100L + i, s"r$i", false)))
      val ex2 = intercept[Exception](stmt2.handle.get.processAllAvailable())
      assert(messages(ex2).contains("maxFoldStateEntries"))
      assert(stmt2.phase == Phase.Failed)
    } finally stmt2.stop()
  }

  test("a re-keyed id retracts its old join rows: INNER, LEFT and the " +
    "same-key chain follow b moving id 20 from key 1 to key 2, in step " +
    "with b's own view") {
    // one feed per statement (MemoryStream.commit trims shared batches)
    val ia = newFeed("rk_ia"); val ib = newFeed("rk_ib")
    val la = newFeed("rk_la"); val lb = newFeed("rk_lb")
    val ca = newFeed("rk_ca"); val cb = newFeed("rk_cb")
    val cc = newFeed("rk_cc"); val vb = newFeed("rk_vb")
    val stmts = new Statements(spark)
    val inner = stmts.create(
      "SELECT * FROM rk_ia a JOIN rk_ib b ON a.key = b.key")
    val left = stmts.create(
      "SELECT * FROM rk_la a LEFT JOIN rk_lb b ON a.key = b.key")
    val chain = stmts.create(
      "SELECT * FROM rk_ca a JOIN rk_cb b ON a.key = b.key " +
        "JOIN rk_cc c ON b.key = c.key")
    val bView = stmts.create("SELECT * FROM rk_vb")
    val all = Seq(inner, left, chain, bView)
    try {
      for (st <- all)
        assert(stmts.waitForStatus(st, Set(Phase.Running)).isDefined)
      val Seq(cli, cll, clc, clb) = all.map(_.handle.get.changelog())
      val a = scala.collection.mutable.Map.empty[Long, (Long, String)]
      val b = scala.collection.mutable.Map.empty[Long, (Long, String)]
      val c = scala.collection.mutable.Map.empty[Long, (Long, String)]
      def page(ab: Seq[Feed], bb: Seq[Feed], cbb: Seq[Feed]): Unit = {
        if (ab.nonEmpty) Seq(ia, la, ca).foreach(_.addData(ab))
        if (bb.nonEmpty) Seq(ib, lb, cb, vb).foreach(_.addData(bb))
        if (cbb.nonEmpty) cc.addData(cbb)
        all.foreach(_.handle.get.processAllAvailable())
        ab.foreach(applyById(a, _)); bb.foreach(applyById(b, _))
        cbb.foreach(applyById(c, _))
        Seq(cli, cll, clc, clb).foreach(cl => while (cl.consume(1).nonEmpty) ())
        val bRows = b.toSeq.map { case (id, (k, v)) => Vector[Any](k, id, v) }
        assert(clb.collapse().rows.toSet == bRows.toSet,
          s"b's view diverged: ${clb.collapse().rows} vs $bRows")
        def matches(ak: Long) = b.toSeq.filter(_._2._1 == ak)
        val expInner = for ((ai, (ak, av)) <- a.toSeq;
                            (bi, (_, bv)) <- matches(ak))
          yield Vector[Any](ak, ai, av, bi, bv)
        val expLeft = a.toSeq.flatMap { case (ai, (ak, av)) =>
          if (matches(ak).isEmpty) Seq(Vector[Any](ak, ai, av, null, null))
          else matches(ak).map { case (bi, (_, bv)) =>
            Vector[Any](ak, ai, av, bi, bv) }
        }
        val expChain = for ((ai, (ak, av)) <- a.toSeq;
                            (bi, (_, bv)) <- matches(ak);
                            (ci, (ck, cv)) <- c.toSeq if ck == ak)
          yield Vector[Any](ak, ai, av, bi, bv, ci, cv)
        for ((cl, exp, what) <- Seq((cli, expInner, "INNER"),
            (cll, expLeft, "LEFT"), (clc, expChain, "chain"))) {
          val got = cl.collapse()
          assert(got.rows.sorted(rowOrder) == exp.sorted(rowOrder),
            s"$what collapse ${got.rows} != id-keyed join $exp")
          assert(got.missedRetractions == 0, s"$what missed a retraction")
          // every b side the join serves is a row of b's own view
          got.rows.filter(_(3) != null).foreach { r =>
            assert(bRows.contains(Vector[Any](r(0), r(3), r(4))),
              s"$what serves b row ${Vector(r(0), r(3), r(4))} that b's " +
                s"view does not hold: $bRows")
          }
        }
      }
      page(Seq((0L, 1L, 10L, "A", false)), Seq((0L, 1L, 20L, "B", false)),
        Seq((0L, 1L, 30L, "C", false)))
      // b re-keys id 20 to key 2: its key-1 join rows must leave
      page(Nil, Seq((1L, 2L, 20L, "B", false)), Nil)
      assert(cli.collapse().rows.isEmpty && clc.collapse().rows.isEmpty)
      // key 2 fills on a and c: id 20 joins at its new key only
      page(Seq((1L, 2L, 11L, "A2", false)), Nil,
        Seq((1L, 2L, 31L, "C2", false)))
      // back to key 1 with a new value, beside an a-side update
      page(Seq((2L, 1L, 10L, "A1", false)), Seq((2L, 1L, 20L, "B1", false)),
        Nil)
      // the delete leaves every view without id 20
      page(Nil, Seq((3L, 1L, 20L, "B1", true)), Nil)
      assert(cli.collapse().rows.isEmpty && clc.collapse().rows.isEmpty)
    } finally all.foreach(_.stop())
  }

  /** Delete-heavy outer-join property through the facade: `a <jt> JOIN b
    * ON a.key = b.key` over 2 ids per side × 3 keys, delete probability
    * 1/2 (sides empty and refill constantly, ids move between keys), one
    * earlier page REDELIVERED whole mid-stream (a re-applied upsert
    * retracts-then-reinserts, a re-applied delete no-ops), checked after
    * every page against the id-keyed outer join. Returns the history of
    * every run for the callers' non-vacuousness checks. */
  private def outerJoinProperty(jt: String, seeds: Seq[Int],
      leftPads: Boolean): Seq[Seq[graft.changelog.ChangelogRecord]] =
    seeds.map { seed =>
      val rnd = new scala.util.Random(seed)
      val evs = (0 until 160).map { i =>
        val left = rnd.nextBoolean()
        (left, (i.toLong, rnd.nextInt(3).toLong,
          (if (left) 100 else 200) + rnd.nextInt(2).toLong,
          s"v${rnd.nextInt(100)}", rnd.nextBoolean()))
      }
      val lm = newFeed(s"oj_${jt}_l$seed"); val rm = newFeed(s"oj_${jt}_r$seed")
      val stmts = new Statements(spark)
      val stmt = stmts.create(s"SELECT * FROM oj_${jt}_l$seed a $jt JOIN " +
        s"oj_${jt}_r$seed b ON a.key = b.key")
      try {
        assert(stmt.columns ==
          Seq("key", "left_id", "left_value", "right_id", "right_value"))
        assert(stmts.waitForStatus(stmt, Set(Phase.Running)).isDefined)
        val cl = stmt.handle.get.changelog()
        val l = scala.collection.mutable.Map.empty[Long, (Long, String)]
        val r = scala.collection.mutable.Map.empty[Long, (Long, String)]
        val base = evs.grouped(40).toSeq
        val pages = base.patch(base.size - 1,
          Seq(base(rnd.nextInt(base.size - 1))), 0)
        pages.zipWithIndex.foreach { case (pg, pi) =>
          val (lb, rb) = pg.partition(_._1)
          if (lb.nonEmpty) lm.addData(lb.map(_._2))
          if (rb.nonEmpty) rm.addData(rb.map(_._2))
          stmt.handle.get.processAllAvailable()
          pg.foreach { case (isL, f) => applyById(if (isL) l else r, f) }
          while (cl.consume(1).nonEmpty) ()
          val matched = for ((li, (lk, lv)) <- l.toSeq;
                             (ri, (rk, rv)) <- r.toSeq if lk == rk)
            yield Vector[Any](lk, li, lv, ri, rv)
          val lPad = if (!leftPads) Nil else l.toSeq.collect {
            case (li, (lk, lv)) if !r.values.exists(_._1 == lk) =>
              Vector[Any](lk, li, lv, null, null)
          }
          val rPad = r.toSeq.collect {
            case (ri, (rk, rv)) if !l.values.exists(_._1 == rk) =>
              Vector[Any](rk, null, null, ri, rv)
          }
          val expected = (matched ++ lPad ++ rPad).sorted(rowOrder)
          val got = cl.collapse()
          assert(got.rows.sorted(rowOrder) == expected,
            s"$jt seed $seed page $pi: collapse ${got.rows} != id-keyed " +
              s"outer join $expected")
          assert(got.missedRetractions == 0,
            s"$jt seed $seed page $pi: a retraction missed its row")
        }
        cl.history
      } finally stmt.stop()
    }

  test("RIGHT JOIN on a.key = b.key: delete-heavy interleavings with a " +
    "redelivered page collapse to the id-keyed right outer join after " +
    "every page, and right pads are born and retract") {
    import graft.changelog.Op
    outerJoinProperty("RIGHT", Seq(5, 29, 83), leftPads = false)
      .zip(Seq(5, 29, 83)).foreach { case (hist, seed) =>
        def pads(op: Op) = hist.count(h => h.op.contains(op) && h.values(1) == null)
        assert(pads(Op.Insert) > 0 && pads(Op.Delete) > 0,
          s"seed $seed: right pads never born (${pads(Op.Insert)}) or " +
            s"retracted (${pads(Op.Delete)})")
        assert(!hist.exists(_.values(3) == null),
          s"seed $seed: a RIGHT JOIN must never pad the right side")
      }
  }

  test("FULL JOIN on a.key = b.key: delete-heavy interleavings with a " +
    "redelivered page collapse to the id-keyed full outer join after " +
    "every page, with pads on both sides") {
    outerJoinProperty("FULL", Seq(3, 23, 71), leftPads = true)
      .zip(Seq(3, 23, 71)).foreach { case (hist, seed) =>
        assert(hist.exists(_.values(1) == null) &&
          hist.exists(_.values(3) == null),
          s"seed $seed: the run must exercise pads on BOTH sides")
      }
  }

  /** Collapses of outer same-key joins that name a side's own key,
    * checked against spark.sql over batch views of the live rows: on a
    * padded row `<alias>.key` is that side's NULL, not the shared `key`. */
  test("a.key / b.key on the padded side of a same-key LEFT/RIGHT/FULL " +
    "join read that side's own key (NULL on its pads): WHERE and GROUP BY " +
    "collapse to spark.sql over the live rows after every page") {
    val s = spark
    import s.implicits._
    for (jt <- Seq("LEFT", "RIGHT", "FULL")) {
      val nulls = "a.key IS NULL OR b.key IS NULL"
      def whereSql(l: String, r: String, cols: String): String =
        s"SELECT $cols FROM $l a $jt JOIN $r b ON a.key = b.key WHERE $nulls"
      def groupSql(l: String, r: String): String =
        s"SELECT a.key AS ak, b.key AS bk, count(*) AS c, max(b.id) AS mb " +
          s"FROM $l a $jt JOIN $r b ON a.key = b.key GROUP BY a.key, b.key"
      val wl = newFeed(s"pk_w_${jt}_l"); val wr = newFeed(s"pk_w_${jt}_r")
      val gl = newFeed(s"pk_g_${jt}_l"); val gr = newFeed(s"pk_g_${jt}_r")
      val stmts = new Statements(s)
      val where = stmts.create(whereSql(s"pk_w_${jt}_l", s"pk_w_${jt}_r", "*"))
      val group = stmts.create(groupSql(s"pk_g_${jt}_l", s"pk_g_${jt}_r"))
      try {
        assert(where.columns ==
          Seq("key", "left_id", "left_value", "right_id", "right_value"),
          "the served SELECT * columns stay the shared-key view's")
        for (st <- Seq(where, group))
          assert(stmts.waitForStatus(st, Set(Phase.Running)).isDefined)
        val cls = Seq(where, group).map(_.handle.get.changelog())
        val l = scala.collection.mutable.Map.empty[Long, (Long, String)]
        val r = scala.collection.mutable.Map.empty[Long, (Long, String)]
        val rnd = new scala.util.Random(jt.length * 7 + 1)
        var seq = 0L
        // a = {(1, 10)}, b = {(1, 20), (2, 21)} first (b's key 2 has no
        // a match), then delete-heavy random pages over 3 keys × 2 ids
        // per side
        val first = (Seq((0L, 1L, 10L, "x", false)),
          Seq((0L, 1L, 20L, "y", false), (1L, 2L, 21L, "z", false)))
        val pages = first +: (1 to 5).map { _ =>
          def evs(base: Long): Seq[Feed] = (0 until rnd.nextInt(6)).map { _ =>
            seq += 1
            (seq + 10, rnd.nextInt(3).toLong, base + rnd.nextInt(2),
              s"v${rnd.nextInt(9)}", rnd.nextInt(3) == 0)
          }
          (evs(10L), evs(20L))
        }
        pages.zipWithIndex.foreach { case ((lb, rb), pg) =>
          if (lb.nonEmpty) { wl.addData(lb); gl.addData(lb) }
          if (rb.nonEmpty) { wr.addData(rb); gr.addData(rb) }
          Seq(where, group).foreach(_.handle.get.processAllAvailable())
          lb.foreach(applyById(l, _)); rb.foreach(applyById(r, _))
          l.toSeq.map { case (id, (k, v)) => (k, id, v) }
            .toDF("key", "id", "value").createOrReplaceTempView("pk_live_l")
          r.toSeq.map { case (id, (k, v)) => (k, id, v) }
            .toDF("key", "id", "value").createOrReplaceTempView("pk_live_r")
          cls.foreach(cl => while (cl.consume(1).nonEmpty) ())
          val expected = Seq(
            whereSql("pk_live_l", "pk_live_r",
              "coalesce(a.key, b.key), a.id, a.value, b.id, b.value"),
            groupSql("pk_live_l", "pk_live_r"))
            .map(q => spark.sql(q).collect().map(_.toSeq.toVector).toSeq)
          cls.zip(expected).zip(Seq("WHERE", "GROUP BY")).foreach {
            case ((cl, exp), what) =>
              val got = cl.collapse()
              assert(got.rows.sorted(rowOrder) == exp.sorted(rowOrder),
                s"$jt $what page $pg: collapse ${got.rows} != spark.sql $exp")
              assert(got.missedRetractions == 0)
          }
        }
      } finally { where.stop(); group.stop() }
    }
  }

  test("a two-feed join runs 2 stateful operators and a three-feed chain " +
    "4: the first stage reads both feeds from one upsert operator") {
    val fa = newFeed("so_a"); val fb = newFeed("so_b")
    val ca = newFeed("so3_a"); val cb = newFeed("so3_b"); val cc = newFeed("so3_c")
    val stmts = new Statements(spark)
    val two = stmts.create("SELECT * FROM so_a a JOIN so_b b ON a.key = b.key")
    val three = stmts.create("SELECT * FROM so3_a a JOIN so3_b b " +
      "ON a.key = b.key JOIN so3_c c ON b.key = c.key")
    try {
      for (st <- Seq(two, three))
        assert(stmts.waitForStatus(st, Set(Phase.Running)).isDefined)
      Seq(fa, fb, ca, cb, cc).foreach(_.addData((0L, 1L, 10L, "x", false)))
      for ((st, n) <- Seq((two, 2), (three, 4))) {
        st.handle.get.processAllAvailable()
        val ops = st.handle.get.query.lastProgress.stateOperators
        assert(ops.length == n, s"${st.sql}: ${ops.length} stateful " +
          s"operators (${ops.map(_.operatorName).mkString(", ")}), want $n")
        val cl = st.handle.get.changelog()
        while (cl.consume(1).nonEmpty) ()
        assert(cl.collapse().rows.size == 1, s"${st.sql}: ${cl.collapse().rows}")
      }
    } finally { two.stop(); three.stop() }
  }

  test("fold type parity: Statement.schema is spark.sql's analyzed schema " +
    "and collapse() equals spark.sql over the live rows after every page, " +
    "for SUM/AVG/MIN/MAX/COUNT/COUNT(DISTINCT) over DECIMAL, INT, DOUBLE, " +
    "BIGINT and STRING, with FILTER — plain, under HAVING and under " +
    "ORDER BY … LIMIT") {
    val s = spark
    import s.implicits._
    spark.sql("SELECT CAST(k AS BIGINT) AS k, grp, " +
      "CAST(amt AS DECIMAL(10,2)) AS amt, CAST(n AS INT) AS n, " +
      "CAST(w AS DOUBLE) AS w FROM VALUES " +
      "(0, 'x', 1.10, 3, 0.1), (1, 'x', 20.05, -7, 0.7), " +
      "(2, 'x', NULL, NULL, NULL), (3, 'y', 3.33, 2, 1.3), " +
      "(4, 'y', -0.01, 40, 2.9), (5, 'y', 7.77, 5, -0.3) " +
      "AS t(k, grp, amt, n, w)").createOrReplaceTempView("tp_dims")
    val items = "d.grp, " +
      Seq("amt", "n", "w").map(c =>
        s"sum(d.$c) AS s_$c, avg(d.$c) AS a_$c, min(d.$c) AS mn_$c, " +
          s"max(d.$c) AS mx_$c, count(DISTINCT d.$c) AS dc_$c").mkString(", ") +
      ", sum(a.id) AS s_id, avg(a.id) AS a_id, min(a.id) AS mn_id, " +
      "max(a.id) AS mx_id, min(a.value) AS mn_v, max(a.value) AS mx_v, " +
      "count(a.value) AS c_v, count(DISTINCT a.value) AS dc_v, count(*) AS c, " +
      "count(*) FILTER (WHERE a.id > 103) AS cf, " +
      "max(d.amt) FILTER (WHERE a.value IS NOT NULL) AS mf"
    def from(feed: String): String =
      s"FROM $feed a JOIN tp_dims d ON a.key = d.k GROUP BY d.grp"
    // (statement SQL, spark.sql reference SQL): the reference's extra
    // tiebreak is the leaderboard's documented group-key order
    val shapes: Seq[(String => String, String => String)] = Seq(
      (f => s"SELECT $items ${from(f)}", f => s"SELECT $items ${from(f)}"),
      (f => s"SELECT $items ${from(f)} HAVING c >= 2 AND s_n > 0",
        f => s"SELECT $items ${from(f)} HAVING c >= 2 AND s_n > 0"),
      (f => s"SELECT $items ${from(f)} ORDER BY s_amt DESC LIMIT 1",
        f => s"SELECT $items ${from(f)} ORDER BY s_amt DESC, grp LIMIT 1"))
    // DOUBLE SUM and AVG are the fold's documented value — the exact
    // decimal sum of the binary doubles, rounded once (AVG: then ONE
    // IEEE division) — not spark.sql's order-dependent IEEE fold
    val sumW = 11; val avgW = 12
    val dims = Map(0L -> ("x", Some(0.1)), 1L -> ("x", Some(0.7)),
      2L -> ("x", None), 3L -> ("y", Some(1.3)), 4L -> ("y", Some(2.9)),
      5L -> ("y", Some(-0.3)))
    for (seed <- Seq(5, 17, 41)) {
      val feeds = shapes.indices.map(i => newFeed(s"tp_feed${seed}_$i"))
      val stmts = new Statements(s)
      val running = shapes.zipWithIndex.map { case ((stmt, _), i) =>
        stmts.create(stmt(s"tp_feed${seed}_$i"))
      }
      try {
        val live = scala.collection.mutable.Map.empty[Long, (Long, String)]
        live.toSeq.map { case (id, (k, v)) => (k, id, v) }
          .toDF("key", "id", "value").createOrReplaceTempView("tp_live")
        running.zip(shapes).foreach { case (st, (_, ref)) =>
          assert(st.isStreaming, s"${st.sql} must route through the fold")
          val want = spark.sql(ref("tp_live")).schema.map(f => (f.name, f.dataType))
          assert(st.schema.map(f => (f.name, f.dataType)) == want,
            s"${st.sql}: schema ${st.schema} != spark.sql's $want")
          assert(stmts.waitForStatus(st, Set(Phase.Running)).isDefined)
        }
        val cls = running.map(_.handle.get.changelog())
        val rnd = new scala.util.Random(seed)
        var seq = 0L
        for (pg <- 0 until 6) {
          val evs = (0 until 1 + rnd.nextInt(9)).map { _ =>
            seq += 1
            (seq, rnd.nextInt(7).toLong, 100L + rnd.nextInt(8),
              if (rnd.nextInt(5) == 0) null else s"v${rnd.nextInt(4)}",
              rnd.nextInt(3) == 0)
          }
          feeds.foreach(_.addData(evs))
          running.foreach(_.handle.get.processAllAvailable())
          evs.foreach(applyById(live, _))
          live.toSeq.map { case (id, (k, v)) => (k, id, v) }
            .toDF("key", "id", "value").createOrReplaceTempView("tp_live")
          val ws = live.values.toSeq.flatMap { case (k, _) => dims.get(k) }
            .groupBy(_._1).map { case (g, rows) =>
              val vs = rows.flatMap(_._2)
              val exact = vs.map(new java.math.BigDecimal(_))
                .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
              g -> (if (vs.isEmpty) (null, null)
                    else (exact.doubleValue, exact.doubleValue / vs.size))
            }
          cls.zip(shapes).foreach { case (cl, (_, ref)) =>
            while (cl.consume(1).nonEmpty) ()
            val expected = spark.sql(ref("tp_live")).collect().map { r =>
              val v = r.toSeq.toVector
              val (sw, aw) = ws(v(0).asInstanceOf[String])
              v.updated(sumW, sw).updated(avgW, aw)
            }.toSet
            val got = cl.collapse().rows.toSet
            assert(got == expected,
              s"seed $seed page $pg [${ref("tp_live")}]: collapse $got != " +
                s"spark.sql $expected")
          }
        }
      } finally running.foreach(_.stop())
    }
  }

  /** Feeds every statement of `runs` — each over its own feed pair — the
    * same delete-heavy random pages, and after every page checks each
    * collapse against spark.sql's answer to its reference SQL over batch
    * views `<live>_a` / `<live>_b` of the id-keyed live rows (keys 0–2,
    * ids 10–13 on side a and 20–23 on side b). */
  private def collapsesMatchSparkSql(stmts: Statements,
      runs: Seq[(Statement, (Seq[Feed] => Unit, Seq[Feed] => Unit))],
      ref: (String, String) => String, live: String, seed: Int): Unit = {
    val s = spark
    import s.implicits._
    for ((st, _) <- runs)
      assert(stmts.waitForStatus(st, Set(Phase.Running)).isDefined, st.sql)
    val cls = runs.map(_._1.handle.get.changelog())
    val a = scala.collection.mutable.Map.empty[Long, (Long, String)]
    val b = scala.collection.mutable.Map.empty[Long, (Long, String)]
    val rnd = new scala.util.Random(seed)
    var seq = 0L
    for (pg <- 0 until 5) {
      def evs(base: Long): Seq[Feed] = (0 until 1 + rnd.nextInt(7)).map { _ =>
        seq += 1
        (seq, rnd.nextInt(3).toLong, base + rnd.nextInt(4),
          s"v${rnd.nextInt(3)}", rnd.nextInt(3) == 0)
      }
      val (ea, eb) = (evs(10L), evs(20L))
      for ((_, (addA, addB)) <- runs) { addA(ea); addB(eb) }
      runs.foreach(_._1.handle.get.processAllAvailable())
      ea.foreach(applyById(a, _)); eb.foreach(applyById(b, _))
      for ((m, side) <- Seq((a, "a"), (b, "b")))
        m.toSeq.map { case (id, (k, v)) => (k, id, v) }
          .toDF("key", "id", "value").createOrReplaceTempView(s"${live}_$side")
      val want = spark.sql(ref(s"${live}_a", s"${live}_b")).collect()
        .map(_.toSeq.toVector).toSeq.sorted(rowOrder)
      cls.zip(runs).foreach { case (cl, (st, _)) =>
        while (cl.consume(1).nonEmpty) ()
        val got = cl.collapse()
        assert(got.rows.sorted(rowOrder) == want,
          s"seed $seed page $pg [${st.sql}]: collapse ${got.rows} != spark.sql $want")
        assert(got.missedRetractions == 0, st.sql)
      }
    }
  }

  /** Feeds `<name>_a` and `<name>_b`, as page adders. */
  private def feedPair(name: String): (Seq[Feed] => Unit, Seq[Feed] => Unit) = {
    val (a, b) = (newFeed(s"${name}_a"), newFeed(s"${name}_b"))
    (evs => a.addData(evs), evs => b.addData(evs))
  }

  test("names bind under the session's case rules: mixed-case spellings " +
    "route like their lowercase twins and collapse to spark.sql after " +
    "every page; under spark.sql.caseSensitive=true they reject, as " +
    "spark.sql rejects their batch twins") {
    val s = spark
    import s.implicits._
    Seq((0L, "east"), (1L, "west"), (2L, "east")).toDF("k", "region")
      .createOrReplaceTempView("cp_dims")
    val join5 = (a: String, b: String) =>
      s"SELECT a.key, a.id, a.value, b.id, b.value FROM $a a JOIN $b b " +
        "ON a.key = b.key"
    // (mixed-case statement, lowercase twin, spark.sql reference when it
    // is not the twin itself), each over the relations (a, b)
    val probes: Seq[((String, String) => String, (String, String) => String,
        Option[(String, String) => String])] = Seq(
      ((a, _) => s"SELECT KEY, count(*) AS c FROM $a GROUP BY KEY",
        (a, _) => s"SELECT key, count(*) AS c FROM $a GROUP BY key", None),
      ((a, _) => s"SELECT P.key, count(*) AS c FROM $a p GROUP BY P.key",
        (a, _) => s"SELECT p.key, count(*) AS c FROM $a p GROUP BY p.key", None),
      ((a, b) => s"SELECT a.key, count(*) AS c, max(B.id) AS mb FROM $a A " +
        s"JOIN $b B ON A.key = B.key GROUP BY a.key",
        (a, b) => s"SELECT a.key, count(*) AS c, max(b.id) AS mb FROM $a a " +
          s"JOIN $b b ON a.key = b.key GROUP BY a.key", None),
      ((a, _) => s"SELECT d.region, count(*) AS c FROM $a a JOIN cp_dims d " +
        "ON a.key = d.K GROUP BY d.region",
        (a, _) => s"SELECT d.region, count(*) AS c FROM $a a JOIN cp_dims d " +
          "ON a.key = d.k GROUP BY d.region", None),
      ((a, b) => s"SELECT D.region, count(*) AS c FROM $a a JOIN $b b " +
        "ON a.key = b.key JOIN cp_dims d ON A.key = d.K GROUP BY D.region",
        (a, b) => s"SELECT d.region, count(*) AS c FROM $a a JOIN $b b " +
          "ON a.key = b.key JOIN cp_dims d ON a.key = d.k GROUP BY d.region",
        None),
      ((a, _) => s"SELECT * FROM $a WHERE VALUE = 'v1'",
        (a, _) => s"SELECT * FROM $a WHERE value = 'v1'", None),
      ((a, _) => s"SELECT * FROM $a ORDER BY ID DESC LIMIT 2",
        (a, _) => s"SELECT * FROM $a ORDER BY id DESC LIMIT 2", None),
      // keys 0–2 share the window starting at 0, which never closes
      ((a, _) => s"SELECT TUMBLE(KEY, 10) AS w, count(*) AS c FROM $a " +
        "GROUP BY TUMBLE(KEY, 10)",
        (a, _) => s"SELECT tumble(key, 10) AS w, count(*) AS c FROM $a " +
          "GROUP BY tumble(key, 10)",
        Some((a, _) => s"SELECT key - pmod(key, 10) AS w, count(*) AS c " +
          s"FROM $a GROUP BY key - pmod(key, 10)")),
      ((a, b) => s"SELECT * FROM $a A JOIN $b B ON a.key = b.key",
        (a, b) => s"SELECT * FROM $a a JOIN $b b ON a.key = b.key", Some(join5)),
      ((a, b) => s"SELECT * FROM $a A JOIN $b B ON a.KEY = b.KEY",
        (a, b) => s"SELECT * FROM $a a JOIN $b b ON a.key = b.key", Some(join5)))
    probes.zipWithIndex.foreach { case ((mixed, lower, ref), i) =>
      val (m, l) = (feedPair(s"cp${i}_m"), feedPair(s"cp${i}_l"))
      val stmts = new Statements(s)
      val ms = stmts.create(mixed(s"cp${i}_m_a", s"cp${i}_m_b"))
      val ls = stmts.create(lower(s"cp${i}_l_a", s"cp${i}_l_b"))
      try {
        assert(ms.isStreaming && ls.isStreaming)
        assert(ms.columns == ls.columns,
          s"${ms.sql}: columns ${ms.columns} != the twin's ${ls.columns}")
        if (ref.contains(join5))
          assert(ms.columns ==
            Seq("key", "left_id", "left_value", "right_id", "right_value"),
            s"${ms.sql} must serve the maintained equi-join view")
        collapsesMatchSparkSql(stmts, Seq((ms, m), (ls, l)),
          ref.getOrElse(lower), s"cp_live$i", seed = 7 + i)
      } finally { ms.stop(); ls.stop() }
    }
    val prev = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      val stmts = new Statements(s)
      probes.zipWithIndex.foreach { case ((mixed, _, _), i) =>
        val sql = mixed(s"cp${i}_m_a", s"cp${i}_m_b")
        val ex = intercept[Exception](stmts.create(sql))
        assert(ex.isInstanceOf[UnsupportedContinuousStatement] ||
          ex.isInstanceOf[org.apache.spark.sql.AnalysisException],
          s"[$sql] must reject under caseSensitive=true: $ex")
        intercept[org.apache.spark.sql.AnalysisException](
          spark.sql(mixed(s"cp_live${i}_a", s"cp_live${i}_b")))
      }
    } finally spark.conf.set("spark.sql.caseSensitive", prev)
  }

  test("join shapes the one join matcher keeps: a dim-first INNER or " +
    "RIGHT join routes, a.key = a.key never serves the equi-join view, a " +
    "dim-preserving outer join rejects, and a dim between two feeds " +
    "collapses to spark.sql") {
    val s = spark
    import s.implicits._
    Seq((1L, "east"), (2L, "west")).toDF("k", "region")
      .createOrReplaceTempView("js_dims")
    val stmts = new Statements(s)
    val (fi, fr) = (newFeed("js_fi"), newFeed("js_fr"))
    val inner = stmts.create("SELECT * FROM js_dims d JOIN js_fi a ON a.key = d.k")
    val right = stmts.create(
      "SELECT * FROM js_dims d RIGHT JOIN js_fr a ON a.key = d.k")
    try {
      for (st <- Seq(inner, right)) {
        assert(st.isStreaming, s"${st.sql} must route")
        assert(st.columns == Seq("key", "id", "value", "k", "region"), st.sql)
        assert(stmts.waitForStatus(st, Set(Phase.Running)).isDefined)
      }
      val evs = Seq((0L, 1L, 10L, "x", false), (1L, 9L, 11L, "y", false))
      fi.addData(evs); fr.addData(evs)
      val got = Seq(inner, right).map { st =>
        st.handle.get.processAllAvailable()
        val cl = st.handle.get.changelog()
        while (cl.consume(1).nonEmpty) ()
        cl.collapse().rows.toSet
      }
      assert(got == Seq(Set(Vector[Any](1L, 10L, "x", 1L, "east")),
        Set(Vector[Any](1L, 10L, "x", 1L, "east"),
          Vector[Any](9L, 11L, "y", null, null))), s"$got")
    } finally { inner.stop(); right.stop() }
    newFeed("js_t_a"); newFeed("js_t_b")
    val taut = stmts.create("SELECT * FROM js_t_a a JOIN js_t_b b ON a.key = a.key")
    try {
      assert(taut.columns != Seq("key", "left_id", "left_value", "right_id",
        "right_value"), "a.key = a.key is no equi-join of the two feeds")
      assert(taut.columns == Seq("seq", "key", "id", "value", "delete",
        "seq", "key", "id", "value", "delete"), s"${taut.columns}")
    } finally taut.stop()
    def rejects(sql: String): Unit = {
      val ex = intercept[UnsupportedContinuousStatement](stmts.create(sql))
      assert(ex.getMessage.contains("no IVM route matches"), ex.getMessage)
    }
    rejects("SELECT a.key, count(*) AS c FROM js_t_a a JOIN js_t_b b " +
      "ON a.key = a.key GROUP BY a.key")
    rejects("SELECT d.region, count(*) AS c FROM js_fi a RIGHT JOIN js_dims d " +
      "ON a.key = d.k GROUP BY d.region")
    val mid = feedPair("js_mid")
    val between = stmts.create("SELECT * FROM js_mid_a a JOIN js_dims d " +
      "ON a.key = d.k JOIN js_mid_b b ON a.key = b.key")
    try {
      assert(between.columns == Seq("key", "a_id", "a_value", "b_id",
        "b_value", "k", "region"))
      collapsesMatchSparkSql(stmts, Seq((between, mid)), (a, b) =>
        s"SELECT a.key, a.id, a.value, b.id, b.value, d.k, d.region FROM $a a " +
          s"JOIN js_dims d ON a.key = d.k JOIN $b b ON a.key = b.key",
        "js_live", seed = 3)
    } finally between.stop()
  }

  test("a feed-preserving LEFT dim stage after a same-key feed group " +
    "routes and pads the dim's columns with NULLs") {
    val s = spark
    import s.implicits._
    Seq((1L, "east"), (2L, "west")).toDF("k", "region")
      .createOrReplaceTempView("jl_dims")
    val stmts = new Statements(s)
    val pair = feedPair("jl")
    val st = stmts.create("SELECT * FROM jl_a a JOIN jl_b b ON a.key = b.key " +
      "LEFT JOIN jl_dims d ON a.key = d.k")
    try {
      assert(st.columns == Seq("key", "a_id", "a_value", "b_id", "b_value",
        "k", "region"))
      collapsesMatchSparkSql(stmts, Seq((st, pair)), (a, b) =>
        s"SELECT a.key, a.id, a.value, b.id, b.value, d.k, d.region FROM $a a " +
          s"JOIN $b b ON a.key = b.key LEFT JOIN jl_dims d ON a.key = d.k",
        "jl_live", seed = 11)
    } finally st.stop()
  }
}
