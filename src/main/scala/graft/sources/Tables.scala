package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loader (see TESTDATA.md / FIXTURES.md): one parquet file per
  * table under a scale-factor directory.
  *
  * Plays the role of the catalog/database the reference resolves per
  * statement (`/root/reference/config.template.ini:41-44`,
  * `/root/reference/api/statements.py:27-31`): `registerAll` makes every
  * fixture table resolvable by name from SQL, the way the remote Flink
  * catalog resolved `` `user` `` for the demo queries.
  *
  * Scale note: these are plain parquet scans — at cluster scale the same
  * names would be backed by a partitioned/bucketed catalog table; all query
  * code below only depends on the name → DataFrame mapping, so swapping the
  * resolution layer does not touch operators.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // memoized per (session, path, spread): re-reading re-lists files and
  // re-reads footers; with 40+ registry queries per Verify/Bench run that
  // overhead repeats for nothing (plans are immutable, reuse is safe)
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Boolean), DataFrame]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, dir, name, spread = false)

  /** `spread = true` opts this call site into [[spreadNarrow]] — for
    * operators whose SCAN STAGE carries heavy fused work that would
    * otherwise run single-task on the fixtures' one-row-group files.
    * Opt-in stays per call site because the win is per OPERATOR, not per
    * table: elsewhere the extra stage only costs. NOT safe for the demo
    * `user` view feeding demo1's seeded RAND jitter (rand(seed) draws per
    * (partition, row-offset), so re-spreading would re-draw every jitter
    * value). */
  def load(spark: SparkSession, dir: String, name: String,
           spread: Boolean): DataFrame = {
    // evict entries for stopped sessions (ADVICE r12): Bench recycles the
    // session every few queries, and a dead session's DataFrames would
    // otherwise pin their plan trees (and the session) for the JVM's life
    cache.keySet.removeIf(_._1.sparkContext.isStopped)
    cache.computeIfAbsent((spark, s"$dir/$name.parquet", spread), _ => {
      val df = if (name == "events") loadEvents(spark, dir)
               else spark.read.parquet(s"$dir/$name.parquet")
      if (spread) spreadIfNarrow(spark, dir, name, df) else df
    })
  }

  /** Input-spread floor: below this on-disk size the sequential scan is
    * cheaper than an extra exchange (the fixed-cardinality dims —
    * nation/region/supplier — never spread; every SF-proportional table
    * crosses it from the smallest rung up, so the correctness SFs exercise
    * the same plan shape the bench measures). */
  private val MinSpreadBytes = 32L * 1024

  /** Scale-adaptive input spread (optimization guide §2.5 "input skew":
    * one unsplittable file → repartition immediately after the read).
    * The fixture tables are single parquet files with a SINGLE row group,
    * so every scan — and whatever Catalyst fuses into the scan stage:
    * partial aggregation, shingle/token explodes, codec decodes — runs as
    * ONE task regardless of `maxPartitionBytes`. Fires only when the scan
    * yields fewer partitions than the session's core count AND the table
    * crosses [[MinSpreadBytes]]; on any splittable layout (the 100 TB
    * shape: many row groups / many files) the scan already parallelizes
    * and this is a no-op, so nothing here is tuned to local mode. The
    * round-robin exchange costs one pass over the (small, by construction)
    * table and is REPARTITION_BY_NUM, which AQE never coalesces back down.
    * Row-to-partition placement is deterministic (sortBeforeRepartition on
    * by default) and every registry result is placement-independent by the
    * engine's exact-arithmetic discipline (decimal/integer sums, total
    * ORDER BY) — re-proven against the DuckDB oracle after this change. */
  private def spreadIfNarrow(spark: SparkSession, dir: String, name: String,
                             df: DataFrame): DataFrame = {
    val bytes = new java.io.File(dir, s"$name.parquet") match {
      case f if f.isFile => f.length()
      case d => Option(d.listFiles()).map(_.map(_.length()).sum).getOrElse(0L)
    }
    spreadNarrow(spark, bytes, df)
  }

  /** The spread rule itself, for non-fixture parquet reads with the same
    * unsplittable-small layout (the media table cache). */
  private[graft] def spreadNarrow(spark: SparkSession, bytes: Long,
                                  df: DataFrame): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    if (bytes >= MinSpreadBytes && df.rdd.getNumPartitions < p)
      df.repartition(p)
    else df
  }

  /** events.parquet has shipped `ts` in two physical shapes across fixture
    * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read nanos as raw INT64 via
    * `spark.sql.legacy.parquet.nanosAsLong` and truncate to micros, the
    * same truncation DuckDB applies) and plain TIMESTAMP(MICROS) without
    * UTC adjustment (which Spark reads as TIMESTAMP_NTZ). Normalize BOTH to
    * session-zone TimestampType so downstream code (watermarks, unix_micros,
    * range frames) sees one type; the NTZ→LTZ cast is numerically identity
    * because every session in this engine pins spark.sql.session.timeZone
    * to UTC — the same convention DuckDB's epoch_us applies to naive
    * timestamps, which is what keeps the oracle comparable. */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read as raw nanos
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // TIMESTAMP(MICROS), isAdjustedToUTC=false
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other =>
        throw new IllegalStateException(s"unexpected events.ts type: $other")
    }
  }

  /** Register every fixture table as a temp view named after the table. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Cheap content stamp for a table under `dir`: fold (name, length,
    * mtime) over every file below the table path — a recursive walk of
    * the parquet dir only, never the data. Keys every cache that must
    * not survive a regenerated fixture (the synth rungs under /tmp are
    * rebuilt mid-session). */
  private[graft] def tableStamp(dir: String, table: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().foldLeft(f.lastModified()) {
        (acc, c) => acc * 1000003L + walk(c)
      }
      else f.getName.hashCode.toLong * 31L + f.length() * 1000003L +
        f.lastModified()
    val root = new java.io.File(dir, s"$table.parquet")
    if (root.exists()) walk(root) else 0L
  }

  /** Shared-subtree materialization point for multi-consumer intermediates
    * (d9 survivors, t10 vocab, p34 quota, …). Two properties callers rely
    * on, both documented here because they surprise (ADVICE r12):
    *
    *  - EAGER: building the blocks runs a Spark job at DataFrame-
    *    construction time, so merely *constructing* the query executes
    *    work (plan-dump tooling sees the build job's subtree hidden).
    *  - `localCheckpoint` blocks are executor-local and NOT replicated:
    *    at cluster scale an executor loss fails the query instead of
    *    recomputing. Deployments that need fault tolerance set a reliable
    *    checkpoint dir (`sc.setCheckpointDir`) and this helper switches to
    *    `checkpoint()` — same lineage truncation, HDFS-backed blocks. The
    *    local bench/verify paths never set one, so fixture behavior (and
    *    every measured number) is unchanged.
    *  - Reliable checkpoint files OUTLIVE their DataFrame: Spark deletes
    *    them only when `spark.cleaner.referenceTracking.cleanCheckpoints`
    *    is on. Without it the iterative callers leak one checkpoint dir
    *    per round (Dedup's star-contraction loop, Similarity's k-means
    *    centroid loop), so a deployment that sets a checkpoint dir either
    *    turns that cleaner on or cleans the dir itself.
    */
  private[graft] def stage(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  private val countMemoMap =
    new scala.collection.concurrent.TrieMap[(String, String, Long), Long]

  /** Row-count memo keyed on (canonical path, table, content stamp) —
    * ONE definition for every adaptive mechanism that sizes itself from
    * a corpus count (v3's band width, d5's band arity), so their
    * staleness semantics cannot diverge. The count job runs once per
    * (dir, table) per content generation instead of inside every timed
    * invocation. */
  private[graft] def countMemo(spark: SparkSession, dir: String,
                               table: String): Long =
    countMemoMap.getOrElseUpdate(
      (new java.io.File(dir).getCanonicalPath, table, tableStamp(dir, table)),
      load(spark, dir, table).count())
}
