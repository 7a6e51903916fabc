package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The `SparkEntry.queries` batch registry at sf0.1 to the `noop` sink,
  * each query of a fixed slice timed three times per run with `graft.Bench`'s
  * isolation (clearCache + GC before each query, a fresh session every 8).
  *
  * The full registry takes about two minutes on a 4-core host, more than a
  * run may last, so the slice is chosen by family coverage alone: the
  * lowest-numbered reproducible query of every family ([[Registry.slice]]). The
  * seed does not change the inputs: the tables are the fixed sf0.1 set, so
  * that each query's row count and digest can be checked against the ones
  * recorded in `registry_digests.tsv`. */
object Registry {
  val Families: Seq[(String, String)] = Seq("q" -> "relational",
    "p" -> "pipeline", "d" -> "dedup", "v" -> "similarity", "t" -> "text",
    "m" -> "multimodal", "demo" -> "demo")

  def family(name: String): String =
    if (name.startsWith("demo")) "demo" else name.take(1)

  /** `<family><number>_...` → number. */
  def number(name: String): Int =
    name.split("_").head.dropWhile(_.isLetter).toIntOption.getOrElse(Int.MaxValue)

  /** The lowest-numbered reproducible query of each family. */
  def slice(names: Iterable[String]): Seq[String] =
    Families.flatMap { case (f, _) =>
      names.filter(n => family(n) == f && !Nondeterministic.contains(n))
        .toSeq.sortBy(n => (number(n), n)).headOption
    }

  /** Queries whose rows are not reproducible, with the reason: left out of
    * the slice, which checks every query's digest. */
  val Nondeterministic: Map[String, String] = Map(
    "demo1_user_locations" -> "RAND() jitter is drawn per run")

  val RecycleEvery = 8
  /** Timed runs of each query; its time is their median. */
  val Reps = 3

  /** Order-insensitive digest, observed as the rows reach the sink: row
    * count `n` and the sum `h` of a 64-bit hash of each row's JSON form. */
  def observeDigest(df: DataFrame, obs: Observation): DataFrame = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
    df.observe(obs, count(lit(1)).as("n"), sum(h.cast("decimal(20,0)")).as("h"))
  }

  def loadDigests(path: java.io.File): Map[String, (Long, String)] =
    if (!path.isFile) Map.empty
    else scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split("\t")).map(f => f(0) -> (f(1).toLong, f(2))).toMap
}

final class Registry(a: Main.Args, tracer: Tracer) extends Workload {
  import Registry._

  private var spark: SparkSession = _

  private def fresh(): SparkSession = {
    val s = Main.session(Main.cpus)
    Setup.batchWarmup(s, a.data)
    s
  }

  def run(out: Outcome): Unit = {
    val names = slice(SparkEntry.queries.keys)
    val (s, setupS) = Setup.repeated(3) { s =>
      graft.sources.Tables.registerAll(s, a.data)
      Setup.batchWarmup(s, a.data)
    }
    spark = s
    out("setup_s") = setupS
    // always on: first_result_ms and drain_eps read the job timeline
    var exec = new ExecListener
    spark.sparkContext.addSparkListener(exec)
    val execs = mutable.ArrayBuffer(exec)
    val phases = new PhaseListener
    if (a.trace) spark.listenerManager.register(phases)

    val recordPath = sys.env.get("PERFBENCH_RECORD_DIGESTS")
    val expected = loadDigests(new java.io.File("perfbench/registry_digests.tsv"))
    final case class Timed(name: String, group: String, wallS: Double,
                           buildS: Double, submitMs: Long, endMs: Long)
    val allRuns = mutable.ArrayBuffer.empty[Timed]
    val timed = names.zipWithIndex.map { case (name, i) =>
      if (i > 0 && i % RecycleEvery == 0) {
        spark.stop()
        spark = fresh()
        exec = new ExecListener
        spark.sparkContext.addSparkListener(exec)
        execs += exec
        if (a.trace) spark.listenerManager.register(phases)
      }
      val fn = SparkEntry.queries(name)
      val reps = (1 to Reps).map { r =>
        val group = s"$name#$r"
        spark.catalog.clearCache()
        System.gc()
        spark.sparkContext.setJobGroup(group, group)
        val submitMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val df = tracer("operators.build")(fn(spark, a.data))
        val built = System.nanoTime()
        // the digest rides on the timed write: no second execution
        val digest = new Observation("digest")
        tracer("exec.noop_write")(observeDigest(df, digest)
          .write.format("noop").mode("overwrite").save())
        val wall = (System.nanoTime() - t0) / 1e9
        val endMs = System.currentTimeMillis()
        spark.sparkContext.clearJobGroup()
        val row = digest.get
        val rows = row("n").asInstanceOf[Long]
        val dg = Option(row("h")).map(_.asInstanceOf[java.math.BigDecimal].toPlainString)
          .getOrElse("0")
        out.attempted += 1
        recordPath.foreach { p =>
          val w = new java.io.FileWriter(p, true)
          try w.write(s"$name\t$rows\t$dg\n") finally w.close()
        }
        expected.get(name) match {
          case None if recordPath.isEmpty => out.fail(s"$name: no recorded digest")
          case Some((n, d)) if n != rows || d != dg =>
            out.fail(s"$name: $rows rows, digest $dg; recorded $n rows, digest $d")
          case _ =>
        }
        Timed(name, group, wall, (built - t0) / 1e9, submitMs, endMs)
      }
      allRuns ++= reps
      reps.sortBy(_.wallS).apply(Reps / 2)
    }
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    out("driver_retained_mb") = (rt.totalMemory - rt.freeMemory) / 1048576.0
    // listener events are delivered asynchronously; let the bus catch up
    Thread.sleep(300)

    val walls = timed.map(_.wallS)
    System.err.println("[perfbench] walls (s): " + allRuns.grouped(Reps).map(rs =>
      rs.head.name + " " + rs.map(r => f"${r.wallS}%.3f").mkString(" ")).mkString("; "))
    val total = walls.sum
    out("registry_total_s") = total
    out("query_p50_s") = Stats.smoothPercentile(walls, 50)
    out("query_p90_s") = Stats.smoothPercentile(walls, 90)
    out("freshness_p50_ms") = Stats.smoothPercentile(walls, 50) * 1000
    out("freshness_p99_ms") = Stats.smoothPercentile(walls, 99) * 1000
    // job counters of each query's median run
    def group(t: Timed) = execs.iterator.map(_.groups.get(t.group))
      .find(_ != null).getOrElse(new ExecListener().group(t.group))
    // the mean over queries of each query's median over its runs: a median
    // pooled over queries jumps between queries of different build costs
    val firstMs = allRuns.toSeq.groupBy(_.name).values.map(ts => Stats.median(ts.map { t =>
      val first = group(t).firstJobStartMs
      ((if (first == Long.MaxValue) t.endMs else first) - t.submitMs).toDouble
    })).toSeq
    out("first_result_ms") = firstMs.sum / firstMs.size
    out("drain_eps") = timed.map(group(_).scanRecords).sum / total

    Layers.zero(out, Seq("streaming.batches", "streaming.trigger_ms",
      "streaming.planning_ms", "streaming.add_batch_ms", "streaming.offsets_ms",
      "streaming.commit_ms", "streaming.jobs_per_batch", "streaming.backlog_max",
      "streaming.state_rows", "streaming.state_bytes", "streaming.state_commit_ms",
      "streaming.records_per_event", "api.create_ms", "api.next_us_per_record",
      "api.poll_hit_ratio", "changelog.update_us_per_record",
      "changelog.collapse_ms", "changelog.missed_retractions",
      "changelog.log_fill", "sources.gen_lag_ms_max"))
    // exec.* and catalyst.* over each query's median run
    val gs = timed.map(group)
    out("exec.jobs") = gs.map(_.jobs).sum.toDouble
    out("exec.stages") = gs.map(_.stages.size).sum.toDouble
    out("exec.tasks") = gs.map(_.tasks).sum.toDouble
    out("exec.shuffle_write_bytes") = gs.map(_.shuffleWrite).sum.toDouble
    out("exec.shuffle_read_bytes") = gs.map(_.shuffleRead).sum.toDouble
    out("exec.spill_bytes") = gs.map(_.spill).sum.toDouble
    out("exec.task_cpu_s") = gs.map(_.cpuNs).sum / 1e9
    out("exec.gc_s") = gs.map(_.gcMs).sum / 1e3
    out("exec.task_skew") = Stats.median(gs.map(_.skew))
    out("sources.scan_bytes") = gs.map(_.scanBytes).sum.toDouble
    val ph = timed.flatMap(t => phases.within(t.submitMs, t.endMs))
    out("catalyst.analysis_ms") = ph.map(_.analysisMs).sum.toDouble
    out("catalyst.optimization_ms") = ph.map(_.optimizationMs).sum.toDouble
    out("catalyst.planning_ms") = ph.map(_.planningMs).sum.toDouble
    out("operators.build_s") = timed.map(_.buildS).sum
    Families.foreach { case (f, label) =>
      out(s"operators.${label}_s") = timed.filter(t => family(t.name) == f).map(_.wallS).sum
    }
  }
}
