package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run measured: every metric by name (end-to-end and per-layer;
  * `run.py` keeps the set the mode asks for and attaches the units from
  * BENCHMARK.json), plus the operation counts behind `failed_ops_frac`. */
final class Outcome {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  def fail(what: String, n: Long = 1L): Unit = { failed += n; problems += what }
  def update(name: String, v: Double): Unit = metrics(name) = v
}

/** Entry point of one benchmark run (see perfbench/README.md):
  * `Main --workload <dashboard|feeds|registry> --seed <n> --seconds <s>
  *  --trace <0|1> --data <dir> --spans <file> [--launched-ms <epoch ms>]`.
  * Prints one JSON line `{"correct","attempted","failed","metrics"}` last. */
object Main {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .filter(_ > 0).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every engine entry point expects: Bench's configuration,
    * plus a progress history long enough to keep every micro-batch of a
    * run. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.warehouse.dir", ".bench_build/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, data: String, spans: String,
                        launchedMs: Option[Long])

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--data"), need("--spans"),
      kv.get("--launched-ms").map(_.toLong))
  }

  def main(argv: Array[String]): Unit = {
    val enteredMs = System.currentTimeMillis()
    val a = parse(argv)
    val jvmStartS = a.launchedMs.map(l => (enteredMs - l) / 1000.0).getOrElse(0.0)
    val tracer = new Tracer(a.trace)
    val out = new Outcome
    val workload: Workload = a.workload match {
      case "dashboard" => new Dashboard(a, tracer)
      case "feeds" => new Feeds(a, tracer)
      case "registry" => new Registry(a, tracer)
      case other =>
        System.err.println(s"unknown workload: $other"); sys.exit(2)
    }
    try {
      workload.run(out)
      out("setup_s") = jvmStartS + out.metrics.getOrElse("setup_s", 0.0)
      out("failed_ops_frac") = out.failed.toDouble / math.max(out.attempted, 1L)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1)
    }
    tracer.write(new java.io.File(a.spans))
    out.problems.take(20).foreach(p => System.err.println(s"[perfbench] FAILED: $p"))
    val ms = out.metrics.map { case (k, v) => "\"" + k + "\":" + json(v) }
      .mkString("{", ",", "}")
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":$ms}""")
    System.out.flush()
    System.err.flush()
    // Stopping the streaming queries and the session gracefully takes longer
    // than the rest of a run and measures nothing; run.py removes the
    // session's scratch directories before the next run.
    Runtime.getRuntime.halt(0)
  }

  def json(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

/** A workload owns its sessions; `run` fills the outcome. */
trait Workload {
  def run(out: Outcome): Unit
}

object Setup {
  /** Session set-up, repeated `reps` times (each a fresh session with its
    * table loads and warm-up; all but the last are stopped). Returns the
    * last session and the median set-up seconds. */
  def repeated(reps: Int)(setup: SparkSession => Unit): (SparkSession, Double) = {
    var last: SparkSession = null
    val times = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      val s = Main.session(Main.cpus)
      setup(s)
      val secs = (System.nanoTime() - t0) / 1e9
      if (i < reps) s.stop() else last = s
      System.err.println(f"[perfbench] set-up $i: $secs%.2f s")
      secs
    }
    (last, Stats.median(times))
  }

  /** Bench's JVM/codegen warm-up: scan, broadcast join, aggregate, sort. */
  def batchWarmup(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    val n = spark.read.parquet(s"$dir/nation.parquet")
    val r = spark.read.parquet(s"$dir/region.parquet")
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name")).count()
      .orderBy(col("r_name"))
      .write.format("noop").mode("overwrite").save()
  }
}
