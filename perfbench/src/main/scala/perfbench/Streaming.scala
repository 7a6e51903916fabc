package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.{Phase, Statement, Statements}
import graft.changelog.{Changelog, ChangelogRecord, RawRecord, ResultTable}

/** One continuous statement under test, with the generator-side state the
  * benchmark needs to judge it: its sources, its freshness tracker and its
  * batch reference. `P` is the workload's page type. */
abstract class Subject[P](val label: String, val sql: String) {
  /** Create this statement's own sources and register its temp views. */
  def register(spark: SparkSession): Unit
  /** Append one page to this statement's sources (one `addData` each). */
  def feed(page: P): Unit
  /** Register the page's events with the freshness tracker. */
  def expect(page: P, createdNs: Long): Unit
  def tracker: FreshnessTracker
  /** Output columns that key a `-U`/`+U` pair. */
  def keyCols: Seq[Int]
  /** Register static views of everything fed, under the names the
    * statement's SQL reads, for the batch reference. */
  def staticViews(spark: SparkSession): Unit
  /** Number of mismatches between the collapsed changelog and the batch
    * answer (`spark.sql` of the same SQL over the static views). */
  def compare(collapsed: ResultTable, batch: Seq[Seq[Any]]): Int =
    Layers.diff(collapsed.rows, batch)
}

/** A statement as the consumer sees it: one results() cursor read by a
  * single thread, its records replayed into a live ResultTable. */
final class Live[P](val subject: Subject[P], val stmt: Statement,
                    val query: StreamingQuery, heartbeatMs: Long) {
  private val queue = mutable.Queue.empty[RawRecord]
  val cursor: Iterator[Option[RawRecord]] = stmt.results(heartbeatMs)
  val changelog = new Changelog(stmt.columns.toSeq, new Iterator[Option[RawRecord]] {
    def hasNext: Boolean = queue.nonEmpty
    def next(): Option[RawRecord] = Some(queue.dequeue())
  })
  val table = new ResultTable(stmt.columns.toSeq)
  var records = 0L
  var nextCalls = 0L
  var createMs = 0.0
  var firstResultMs = 0.0
  def enqueue(r: RawRecord): Unit = { queue += r; records += 1 }
}

/** The streaming workloads' shared driver. The generator and the consumer
  * share this one thread: pages are appended on an open-loop schedule and,
  * between pages, every statement's cursor is drained. */
abstract class StreamingWorkload[P](a: Main.Args, tracer: Tracer)
    extends Workload {
  /** Steady-phase page interval: the reference's JR cadence. */
  val PageMs = 500L
  /** Backlog pages appended one at a time in the drain phase. */
  val DrainRounds = 5
  /** Timed runs of each statement's batch reference. */
  val BatchReps = 5
  /** Rounds of statement creation timed for first_result_ms; every round
    * but the last is stopped again. */
  val FirstRounds = 3

  protected val rnd = new java.util.Random(a.seed)
  protected var spark: SparkSession = _
  private var lives: Seq[Live[P]] = Nil
  private var exec: ExecListener = _
  private var phases: PhaseListener = _

  /** Fresh subjects (sources and trackers) for one round of statements. */
  def subjects: Seq[Subject[P]]
  /** Tables the workload loads during set-up (from the data dir). */
  def loadTables(spark: SparkSession): Unit
  def firstPage(): P
  def steadyPage(): P
  def backlogPage(): P
  def pageEvents(p: P): Int
  /** Throwaway streaming statement to warm the streaming code paths. */
  def warmStatement(spark: SparkSession): Unit

  private def poll(l: Live[P]): Int = {
    var n = 0
    var more = true
    while (more) {
      l.nextCalls += 1
      tracer("api.next")(l.cursor.next()) match {
        case Some(r) => l.enqueue(r); n += 1
        case None => more = false
      }
    }
    if (n > 0) {
      val at = System.nanoTime()
      val recs = l.changelog.consume()
      tracer("changelog.update")(l.table.update(recs))
      recs.foreach(l.subject.tracker.onRecord(_, at))
    }
    n
  }

  private def pollAll(): Int = lives.map(poll).sum

  /** Drain cursors until every tracker has resolved its events and the
    * cursors are empty; false on timeout. */
  private def catchUp(timeoutMs: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var done = false
    while (!done && System.nanoTime() < deadline) {
      val n = pollAll()
      done = n == 0 && lives.forall(_.subject.tracker.pending == 0)
      if (n == 0 && !done) Thread.sleep(1)
    }
    done
  }

  /** Append a page to every statement; its events count as created at
    * `createdNs`. */
  private def feedAll(p: P, createdNs: Long): Unit = {
    tracer("sources.add_data")(lives.foreach(_.subject.feed(p)))
    lives.foreach(_.subject.expect(p, createdNs))
  }

  private val born = System.nanoTime()
  private def note(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.1f s: $what")

  def run(out: Outcome): Unit = {
    val (s, setupS) = Setup.repeated(3) { s =>
      loadTables(s)
      warmStatement(s)
    }
    spark = s
    out("setup_s") = setupS
    if (a.trace) {
      exec = new ExecListener
      phases = new PhaseListener
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(phases)
    }
    note("set up")
    val windowStartMs = System.currentTimeMillis()
    val statements = new Statements(spark)

    // create each statement, feed it the first page as create returns, and
    // time until its first record arrives at the cursor. The statements of
    // every round but the last are stopped again; the last round's run on.
    // first_result_ms is the mean over statements of each statement's
    // median over the rounds: the statements' first results differ by
    // several times, so a median pooled over them jumps between statements.
    val first = firstPage()
    def createAll(): Seq[Live[P]] = subjects.map { sub =>
      sub.register(spark)
      val t0 = System.nanoTime()
      val stmt = tracer("api.create")(statements.create(sub.sql))
      val createdNs = System.nanoTime()
      sub.feed(first)
      sub.expect(first, createdNs)
      out.attempted += 1
      if (!stmt.isStreaming ||
          tracer("api.wait_for_status")(statements.waitForStatus(stmt,
            Set(Phase.Running), 60000L)).isEmpty)
        throw new IllegalStateException(s"${sub.label} did not start")
      val q = spark.streams.active.find(_.name == stmt.name).getOrElse(
        throw new IllegalStateException(s"${sub.label}: no query ${stmt.name}"))
      val l = new Live(sub, stmt, q, heartbeatMs = 0L)
      l.createMs = (createdNs - t0) / 1e6
      val deadline = System.nanoTime() + 60000L * 1000000L
      while (l.records == 0 && System.nanoTime() < deadline)
        if (poll(l) == 0) Thread.sleep(1)
      l.firstResultMs = (System.nanoTime() - t0) / 1e6
      if (l.records == 0) out.fail(s"${sub.label}: no first record")
      l
    }
    val rounds = (1 until FirstRounds).map { _ =>
      val r = createAll()
      r.foreach(_.stmt.stop())
      r
    } :+ createAll()
    lives = rounds.last
    val created = rounds.flatten
    val firstResultMs = created.groupBy(_.subject.label).values
      .map(ls => Stats.median(ls.map(_.firstResultMs))).toSeq
    note("first results (ms): " + rounds.map(_.map(l =>
      f"${l.subject.label} ${l.firstResultMs}%.0f").mkString(" ")).mkString("; "))
    if (!catchUp(60000L)) out.fail("first pages not reflected")
    lives.foreach(_.subject.tracker.clearSamples())
    val fedPerStatement = mutable.ArrayBuffer(pageEvents(first))
    note("statements created")

    // steady phase: open loop, one page every PageMs
    val pages = math.max(1, (a.seconds * 1000L / PageMs).toInt)
    val steadyStart = System.nanoTime()
    val batchesBefore = lives.map(_.query.recentProgress.length)
    var genLagMs = 0.0
    var fed = 0
    while (fed < pages) {
      val due = steadyStart + fed * PageMs * 1000000L
      val now = System.nanoTime()
      if (now >= due) {
        // open loop: an event is created when its page is due, so a late
        // generator's delay counts in freshness
        genLagMs = math.max(genLagMs, (now - due) / 1e6)
        val p = steadyPage()
        feedAll(p, due)
        fedPerStatement += pageEvents(p)
        fed += 1
      } else if (pollAll() == 0) Thread.sleep(math.min(1L, (due - now) / 1000000L))
    }
    if (!catchUp(60000L)) out.fail("steady phase not reflected")
    note("steady phase done")
    val steadySamples = lives.flatMap(_.subject.tracker.latenciesMs)
    val steadyBatches = lives.zip(batchesBefore).map { case (l, b) =>
      l.query.recentProgress.drop(b).filter(_.numInputRows > 0).toSeq }
    lives.foreach(_.subject.tracker.clearSamples())

    // drain phase: one backlog page at a time, timed until every cursor
    // reflects it
    val drainEps = (1 to DrainRounds).map { _ =>
      val p = backlogPage()
      fedPerStatement += pageEvents(p)
      val t0 = System.nanoTime()
      feedAll(p, t0)
      if (!catchUp(120000L)) out.fail("backlog not reflected")
      pageEvents(p) / ((System.nanoTime() - t0) / 1e9)
    }
    val windowEndMs = System.currentTimeMillis()
    note(s"drain phase done: ${drainEps.map(_.round).mkString(" ")} events/s")

    val unreflected = lives.map(_.subject.tracker.pending).sum
    if (unreflected > 0) out.fail(s"$unreflected events not reflected", unreflected)
    out.attempted += fedPerStatement.sum * lives.size

    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    out("driver_retained_mb") = (rt.totalMemory - rt.freeMemory) / 1048576.0
    out("freshness_p50_ms") = Stats.percentile(steadySamples, 50)
    out("freshness_p99_ms") = Stats.percentile(steadySamples, 99)
    out("first_result_ms") = firstResultMs.sum / firstResultMs.size
    out("drain_eps") = Stats.median(drainEps)
    System.err.println(s"[perfbench] freshness samples: ${steadySamples.size}")

    // per-layer figures that come from the public surface (both modes)
    val progress = steadyBatches.flatten
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
            k: String*): Double =
      k.map(x => Option(p.durationMs.get(x)).map(_.doubleValue).getOrElse(0.0)).sum
    out("streaming.batches") = progress.size
    out("streaming.trigger_ms") = Stats.median(progress.map(dur(_, "triggerExecution")))
    out("streaming.planning_ms") = Stats.median(progress.map(dur(_, "queryPlanning")))
    out("streaming.add_batch_ms") = Stats.median(progress.map(dur(_, "addBatch")))
    out("streaming.offsets_ms") = Stats.median(progress.map(dur(_, "latestOffset", "getBatch")))
    out("streaming.commit_ms") = Stats.median(progress.map(dur(_, "walCommit", "commitOffsets")))
    out("streaming.backlog_max") = progress.map(_.numInputRows.toDouble).maxOption.getOrElse(0.0)
    out("streaming.state_commit_ms") = Stats.median(progress.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum))
    val lastProgress = lives.flatMap(l => Option(l.query.lastProgress))
    out("streaming.state_rows") = lastProgress.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble
    out("streaming.state_bytes") = lastProgress.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum.toDouble
    val recordsOut = lives.map(_.records).sum
    out("streaming.records_per_event") = recordsOut.toDouble / (fedPerStatement.sum * lives.size)
    out("streaming.jobs_per_batch") = if (exec == null) 0.0 else {
      val perBatch = lives.flatMap(l => Option(exec.groups.get(l.query.runId.toString)))
        .flatMap(_.batches.values.toArray.map(_.asInstanceOf[Int].toDouble))
      Stats.median(perBatch)
    }
    out("api.create_ms") = Stats.median(created.map(_.createMs))
    out("api.next_us_per_record") = tracer.totalMs("api.next") * 1000.0 / math.max(recordsOut, 1L)
    out("api.poll_hit_ratio") = recordsOut.toDouble / math.max(lives.map(_.nextCalls).sum, 1L)
    out("changelog.update_us_per_record") = tracer.totalMs("changelog.update") * 1000.0 / math.max(recordsOut, 1L)
    out("changelog.log_fill") = lives.map(_.records.toDouble).max /
      graft.streaming.ChangelogStream.DefaultMaxBufferedRecords
    out("sources.gen_lag_ms_max") = genLagMs

    // correctness: a fresh cursor's collapse against the batch answer
    var collapseMs = 0.0
    var missed = 0
    val batchTimes = mutable.ArrayBuffer.empty[Double]
    lives.foreach { l =>
      val raw = mutable.ArrayBuffer.empty[Option[RawRecord]]
      val fresh = l.stmt.results(0L)
      var r = fresh.next()
      while (r.isDefined) { raw += r; r = fresh.next() }
      val cl = new Changelog(l.stmt.columns.toSeq, raw.iterator)
      cl.consume()
      val t0 = System.nanoTime()
      val collapsed = tracer("changelog.collapse")(cl.collapse())
      collapseMs += (System.nanoTime() - t0) / 1e6
      missed += collapsed.missedRetractions + l.table.missedRetractions
      val bad = ChangelogCheck.violations(cl.history, l.subject.keyCols,
        collapsed) + l.table.missedRetractions
      if (bad > 0) out.fail(s"${l.subject.label}: $bad changelog violations", bad)
      if (cl.history.size != l.records)
        out.fail(s"${l.subject.label}: fresh cursor read ${cl.history.size} records, live cursor ${l.records}")
      if (l.table.toMultiset != collapsed.toMultiset)
        out.fail(s"${l.subject.label}: live table differs from collapse()")
      // the batch reference, timed: the registry path over this workload
      l.subject.staticViews(spark)
      val answers = (1 to BatchReps).map { _ =>
        val t = System.nanoTime()
        val rows = tracer("batch.reference")(spark.sql(l.subject.sql).collect())
        batchTimes += (System.nanoTime() - t) / 1e9
        rows
      }
      val wrong = l.subject.compare(collapsed, Layers.rows(answers.head))
      out.attempted += 2
      if (wrong > 0) out.fail(s"${l.subject.label}: $wrong rows differ from the batch answer", wrong)
    }
    val perStatement = batchTimes.grouped(BatchReps).map(Stats.median(_)).toSeq
    out("registry_total_s") = perStatement.sum
    out("query_p50_s") = Stats.smoothPercentile(perStatement, 50)
    out("query_p90_s") = Stats.smoothPercentile(perStatement, 90)
    out("changelog.collapse_ms") = collapseMs
    out("changelog.missed_retractions") = missed

    note("checked")
    Layers.exec(out, exec, phases, lives.map(_.query.runId.toString),
      windowStartMs, windowEndMs)
    Layers.zero(out, Seq("operators.build_s", "operators.relational_s",
      "operators.pipeline_s", "operators.dedup_s", "operators.similarity_s",
      "operators.text_s", "operators.multimodal_s", "operators.demo_s"))
  }
}

object Layers {
  def zero(out: Outcome, names: Seq[String]): Unit = names.foreach(out(_) = 0.0)

  /** exec.*, catalyst.* and sources.scan_bytes over the given job groups;
    * zeros when tracing is off. */
  def exec(out: Outcome, exec: ExecListener, phases: PhaseListener,
           groups: Seq[String], fromMs: Long, toMs: Long): Unit = {
    val gs = if (exec == null) Nil else groups.flatMap(g => Option(exec.groups.get(g)))
    out("exec.jobs") = gs.map(_.jobs).sum
    out("exec.stages") = gs.map(_.stages.size).sum
    out("exec.tasks") = gs.map(_.tasks).sum
    out("exec.shuffle_write_bytes") = gs.map(_.shuffleWrite).sum.toDouble
    out("exec.shuffle_read_bytes") = gs.map(_.shuffleRead).sum.toDouble
    out("exec.spill_bytes") = gs.map(_.spill).sum.toDouble
    out("exec.task_cpu_s") = gs.map(_.cpuNs).sum / 1e9
    out("exec.gc_s") = gs.map(_.gcMs).sum / 1e3
    out("exec.task_skew") = if (gs.isEmpty) 0.0 else Stats.median(gs.map(_.skew))
    out("sources.scan_bytes") = gs.map(_.scanBytes).sum.toDouble
    val ph = if (phases == null) Nil else phases.within(fromMs, toMs)
    out("catalyst.analysis_ms") = ph.map(_.analysisMs).sum.toDouble
    out("catalyst.optimization_ms") = ph.map(_.optimizationMs).sum.toDouble
    out("catalyst.planning_ms") = ph.map(_.planningMs).sum.toDouble
  }

  /** Multiset comparison of two row sets, doubles equal to a relative 1e-9
    * (float sums may associate differently); returns the number of rows
    * without a partner. */
  def diff(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Int = {
    def norm(v: Any): Any = v match {
      case d: Double => BigDecimal(d).round(new java.math.MathContext(10))
      case f: Float => BigDecimal(f.toDouble).round(new java.math.MathContext(6))
      case i: Int => i.toLong
      case other => other
    }
    def bag(rows: Seq[Seq[Any]]) =
      rows.map(_.map(norm)).groupBy(identity).view.mapValues(_.size).toMap
    val g = bag(got); val w = bag(want)
    (g.keySet ++ w.keySet).toSeq.map(k =>
      math.abs(g.getOrElse(k, 0) - w.getOrElse(k, 0))).sum
  }

  def rows(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq)
}
