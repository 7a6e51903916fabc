package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's own sf0.1 tables, generated from a fixed seed so a run
  * depends on nothing outside its checkout. Schemas, row counts and value
  * domains follow FIXTURES.md (§2) and the fixture statistics it documents:
  * a TPC-H-ish star schema, an `events` table, a `documents` corpus over a
  * 30-word vocabulary with 5 % near-duplicates and 8 exact duplicate pairs,
  * and 64-dimensional unit `embeddings` with 10 labels.
  *
  * Every table is one parquet file with one row group (`<name>.parquet`),
  * the layout the engine's loaders are tuned for. Large tables are built
  * with Spark from `xxhash64(id, salt)`, so the values do not depend on
  * partitioning; the two small text/vector tables are built on the driver
  * with a seeded `java.util.Random`.
  *
  * Usage: `perfbench.Fixtures <outDir>`. */
object Fixtures {
  val Seed = 42L

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(sys.error("usage: Fixtures <outDir>"))
    val spark = Main.session(cpus = Main.cpus)
    try {
      generate(spark, out)
      // exercise the run-time paths too, so that the class-data archive
      // this JVM writes at exit (see run.py) holds their classes
      Setup.batchWarmup(spark, out)
      Feeds.warm(spark)
    } finally spark.stop()
  }

  /** Uniform double in [0, 1) drawn from the row id and a per-column salt. */
  private def u(salt: Int): Column =
    pmod(xxhash64(col("id"), lit(salt)), lit(1000000000L)).cast("double") / 1e9

  private def uInt(salt: Int, n: Int): Column = floor(u(salt) * n).cast("int")

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), uInt(salt, values.size) + 1)

  private def money(salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(salt) * (hi - lo), 2)

  private def day(base: String, salt: Int, days: Int): Column =
    to_timestamp(date_add(lit(base).cast("date"), uInt(salt, days)))

  def generate(spark: SparkSession, out: String): Unit = {
    new File(out).mkdirs()
    def range(n: Long) = spark.range(0, n, 1, Main.cpus)
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(spark, out, "region", spark.createDataFrame(
      java.util.Arrays.asList(regions.zipWithIndex.map { case (r, i) =>
        Row(i, r) }: _*),
      StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType)))))
    write(spark, out, "nation", spark.range(0, 25, 1, 1).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    write(spark, out, "customer", range(15000).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0"))
        .as("c_name"),
      uInt(1, 25).as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, segments).as("c_mktsegment")))
    write(spark, out, "supplier", range(1000).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0"))
        .as("s_name"),
      uInt(11, 25).as("s_nationkey"),
      money(12, -999.99, 9999.99).as("s_acctbal")))
    val adjectives = Seq("large", "hot", "blue", "small", "red", "cold",
      "green", "old")
    val nouns = Seq("ring", "bolt", "nut", "gear", "pipe", "wire", "valve",
      "screw")
    write(spark, out, "part", range(20000).select(
      col("id").as("p_partkey"),
      concat(pick(21, adjectives), lit(" "), pick(22, nouns)).as("p_name"),
      concat(lit("Brand#"), uInt(23, 25) + 1).as("p_brand"),
      pick(24, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (uInt(25, 50) + 1).as("p_size"),
      (lit(900.0) + (col("id") % 1000).cast("double") / 10).as("p_retailprice")))
    write(spark, out, "orders", range(150000).select(
      col("id").as("o_orderkey"),
      floor(u(31) * 15000).cast("long").as("o_custkey"),
      pick(32, Seq("F", "O", "P")).as("o_orderstatus"),
      money(33, 1000.0, 500000.0).as("o_totalprice"),
      day("1995-01-01", 34, 2404).as("o_orderdate"),
      pick(35, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    write(spark, out, "lineitem", range(600000).select(
      floor(u(41) * 150000).cast("long").as("l_orderkey"),
      floor(u(42) * 20000).cast("long").as("l_partkey"),
      floor(u(43) * 1000).cast("long").as("l_suppkey"),
      (uInt(44, 7) + 1).as("l_linenumber"),
      (floor(u(45) * 50) + 1).cast("double").as("l_quantity"),
      money(46, 900.0, 105000.0).as("l_extendedprice"),
      (uInt(47, 11).cast("double") / 100).as("l_discount"),
      (uInt(48, 9).cast("double") / 100).as("l_tax"),
      pick(49, Seq("A", "N", "R")).as("l_returnflag"),
      pick(50, Seq("F", "O")).as("l_linestatus"),
      day("1995-01-02", 51, 2499).as("l_shipdate")))
    write(spark, out, "events", range(100000).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 25920000L +
        floor(u(61) * 25000000).cast("long")).as("ts"),
      floor(u(62) * 1500).cast("long").as("user_id"),
      pick(63, Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      round(-log1p(-u(64)) * 50, 2).as("value"),
      concat(lit("{\"k\": "), uInt(65, 100), lit("}")).as("props")))
    write(spark, out, "documents", documents(spark))
    write(spark, out, "embeddings", embeddings(spark))
  }

  val Vocabulary: Seq[String] = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  private def documents(spark: SparkSession): DataFrame = {
    val rnd = new java.util.Random(Seed)
    val n = 5000
    val texts = new Array[String](n)
    for (i <- 0 until n) {
      texts(i) =
        if (i >= 16 && rnd.nextInt(20) == 0) { // near-duplicate of an earlier doc
          val words = texts(rnd.nextInt(i)).split(" ").toBuffer
          words.insert(rnd.nextInt(words.size + 1), "dup")
          words.mkString(" ")
        } else
          Seq.fill(10 + rnd.nextInt(91))(
            Vocabulary(rnd.nextInt(Vocabulary.size))).mkString(" ")
    }
    // 8 exact duplicate pairs, copied from the first half into the second
    for (k <- 0 until 8) texts(2500 + 250 * k + 7) = texts(300 * k + 11)
    val langs = Seq("de", "es", "fr", "zh")
    val rows = (0 until n).map { i =>
      val lang = if (rnd.nextInt(100) < 40) "en" else langs(rnd.nextInt(4))
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  private def embeddings(spark: SparkSession): DataFrame = {
    val rnd = new java.util.Random(Seed + 1)
    val rows = (0 until 2000).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
  }

  /** One table → `<out>/<name>.parquet`, a single file with one row group. */
  private def write(spark: SparkSession, out: String, name: String,
                    df: DataFrame): Unit = {
    val tmp = new File(out, s".$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(part.length == 1, s"$name: expected one parquet part file")
    val dest = new File(out, s"$name.parquet")
    dest.delete()
    require(part.head.renameTo(dest), s"$name: cannot move ${part.head}")
    tmp.listFiles().foreach(_.delete())
    tmp.delete()
  }
}
