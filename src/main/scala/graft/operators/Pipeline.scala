package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Corpus-preparation operators a training-data pipeline runs between
  * ingestion and shard-writing (SURVEY.md §2C extension surface):
  * repetition-based quality filters, deterministic sampling, token-budget
  * sharding, benchmark-contamination detection, vocabulary statistics.
  *
  * Scale design notes, per operator:
  *  - p1 is pure per-row map work inside whole-stage codegen (higher-order
  *    functions over the token array) — no shuffle, linear to 100 TB.
  *  - p2 is a deterministic hash filter — pushes to the scan, no shuffle.
  *  - p3 is a two-phase distributed prefix sum: per-block window + tiny
  *    block-offset table, never a single-partition pass over the corpus.
  *  - p4 broadcasts only the benchmark n-gram set (the small side by
  *    definition); the corpus streams map-side through the join.
  *  - p5 is groupBy(lang, token) with map-side partial aggregation; the
  *    ranking window runs over the already-aggregated (small) table.
  */
object Pipeline {

  /** Most-frequent-token count via a run-length scan over array_sort —
    * p1's shuffle-free formulation. */
  private def topCount(toks: Column): Column = {
    val init = struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("mx"))
    aggregate(
      array_sort(toks), init,
      (acc, t) => {
        val run = when(t === acc("prev"), acc("run") + 1).otherwise(lit(1))
        struct(t.as("prev"), run.as("run"),
          greatest(acc("mx"), run).as("mx"))
      },
      acc => acc("mx"))
  }

  /** P1 — Gopher-style repetition metrics per document: duplicate-word
    * fraction, most-frequent-word fraction, duplicate-bigram fraction.
    * The top-word count is a max-run-length over the sorted token array
    * (one `aggregate` HOF pass via [[topCount]]) rather than an
    * explode+groupBy — the shuffle-free formulation. All doubles are
    * ratios of exact ints, so the DuckDB oracle matches bit-for-bit. */
  def p1Repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // distinct word/bigram counts come from ShingleHashes (n=1/n=2): the
    // hash sets are a faithful dictionary encoding of the token sets
    // (TextFunctionsSpec), and the one-pass byte scan replaces the
    // interpreted array_distinct/HOF-bigram build in the hot path.
    // spread=true (r12): tokens + two ShingleHashes passes per row all
    // fuse into the scan stage (interleaved A/B: 0.61× spread)
    Tables.load(spark, dir, "documents", spread = true)
      .select($"doc_id", tokens($"text").as("toks"),
        size(shingleHashes($"text", 1)).as("n_distinct"),
        size(shingleHashes($"text", 2)).as("n_distinct_bigrams"))
      .select($"doc_id",
        size($"toks").as("n_tokens"),
        (lit(1.0) - $"n_distinct".cast(DoubleType) /
          size($"toks")).as("dup_word_frac"),
        (topCount($"toks").cast(DoubleType) / size($"toks"))
          .as("top_word_frac"),
        when(size($"toks") >= 2,
          lit(1.0) - $"n_distinct_bigrams".cast(DoubleType) /
            (size($"toks") - 1))
          .otherwise(lit(0.0)).as("dup_bigram_frac"))
      .orderBy($"doc_id")
  }

  /** Per-language md5 sampling thresholds: first hex byte of
    * md5("smpl" || doc_id) below the threshold keeps the row.
    * "14" = 20/256 ≈ 7.8% for the dominant language, "80" = 50% for the
    * long-tail languages — the stratified shape a pipeline uses to
    * rebalance a skewed corpus. */
  val SampleThresholds: Seq[(String, String)] =
    Seq("en" -> "14", "zh" -> "40")
  val SampleDefaultThreshold = "80"

  /** P2 — deterministic stratified sampling: a pure filter on a salted md5
    * of the stable key, so the sample is reproducible across runs/engines
    * and needs no shuffle (contrast `sample()`, which is seed- and
    * partitioning-dependent). The hex-prefix comparison makes the rate
    * exactly thresh/256 in expectation with zero engine-specific RNG. */
  /** The p2 salted-bucket admission predicate over (doc_id, lang) — ONE
    * definition so the standalone sampler and composed pipelines (p29)
    * cannot drift; [[sampleCaseSql]] is its oracle-side twin. */
  private[graft] def samplePredicate: Column = {
    val bucket =
      substring(md5(concat(lit("smpl"), col("doc_id").cast("string"))), 1, 2)
    val thresh =
      SampleThresholds.foldRight(lit(SampleDefaultThreshold): Column) {
        case ((lang, t), els) => when(col("lang") === lang, lit(t)).otherwise(els)
      }
    bucket < thresh
  }

  /** DuckDB form of [[samplePredicate]]'s threshold fold. */
  private def sampleCaseSql: String = {
    val cases = SampleThresholds
      .map { case (l, t) => s"WHEN lang = '$l' THEN '$t'" }
      .mkString(" ")
    s"substr(md5('smpl' || CAST(doc_id AS VARCHAR)), 1, 2) " +
      s"< (CASE $cases ELSE '$SampleDefaultThreshold' END)"
  }

  def p2StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", $"source")
      .filter(samplePredicate)
      .orderBy($"doc_id")
  }

  /** Upper bound on prefix-sum blocks (p3). The per-block offsets table is
    * the only thing that crosses p3's single-task window, so its size must
    * be a CONSTANT, not a function of corpus size: block width is derived
    * from max(doc_id), which caps the offsets table at ShardMaxBlocks rows
    * whether the corpus has 10³ documents or 10¹². */
  val ShardMaxBlocks = 4096L
  /** Token budget per output shard (p3). */
  val ShardTokenBudget = 500

  /** P3 — token-budget sharding: assign documents (in stable doc_id order)
    * to contiguous shards of ~ShardTokenBudget tokens — how a pipeline
    * cuts a corpus into equal-cost training shards. The running sum is a
    * two-phase distributed prefix sum: a window inside each doc_id block
    * (parallel across blocks) plus an exclusive running total over the
    * per-block sums (a table of AT MOST ShardMaxBlocks rows, broadcast
    * back). A naive `Window.orderBy(doc_id)` with no partitioning would
    * drag the whole corpus through ONE task; this formulation never does,
    * at any scale: blocks are contiguous id ranges of width
    * ceil((max_id+1)/ShardMaxBlocks), so the block count — and therefore
    * the one unpartitioned window's input — is bounded by a constant. The
    * max(doc_id) probe is a map-side-combinable scalar aggregate (one
    * cheap extra job), not a collect of data rows. */
  def p3TokenShards(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    tokenPrefixSums(spark, dir)
      .select($"doc_id", $"n_tokens", $"cum_before",
        expr(s"cum_before DIV $ShardTokenBudget").as("shard_id"))
      .orderBy($"doc_id")
  }

  /** The two-phase distributed prefix sum shared by p3 and p15:
    * (doc_id, n_tokens, cum_before) with cum_before the exclusive running
    * token total in doc_id order. See p3's doc for why the block
    * decomposition bounds the one unpartitioned window at ShardMaxBlocks
    * rows at any corpus size. */
  private def tokenPrefixSums(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    prefixSums(spark, Tables.load(spark, dir, "documents")
      .select($"doc_id", size(tokens($"text")).as("n_tokens")))
  }

  /** The two-phase distributed prefix sum over an arbitrary
    * (doc_id, n_tokens, carry…) relation — p3/p15's scale shape factored
    * out so composed pipelines (p29) can pack a FILTERED survivor set:
    * per-block window + tiny broadcast block-offset table; the corpus
    * never enters a global sort. Extra columns pass through untouched. */
  private[graft] def prefixSums(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    // stage (r13, guide §1.2): the input relation executed THREE times —
    // the maxId head at construction, the block-offsets aggregate, and
    // the per-block window leg — re-running the caller's whole upstream
    // each time (p3/p15: the corpus scan+tokenize; p29: the dedup join
    // over its staged survivors). The rows are narrow by contract
    // (doc_id, n_tokens, carry), so the blocks are a fraction of the
    // text they replace. Interleaved cmp at sf0.1, two brackets: p29
    // 0.56× (its input subtree is the dedup join — the expensive case),
    // p3 0.77×/0.96×, p15 1.02×/0.95× (neutral-to-positive; the win
    // term is input-subtree executions, 3 → 1).
    val d = graft.sources.Tables.stage(docs)
    // max over an empty table is null → getLong would NPE; 0L keeps the
    // empty-corpus result empty with blockWidth 1
    val maxId = Option(d.agg(max($"doc_id")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val blockWidth = maxId / ShardMaxBlocks + 1
    val base = d
      .withColumn("block", expr(s"doc_id DIV $blockWidth"))
    val wIn = Window.partitionBy($"block").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // block offsets: single-partition window is fine HERE — the table is
    // bounded at ShardMaxBlocks rows (the corpus never enters this sort)
    val wBlocks = Window.orderBy($"block")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy($"block")
      .agg(sum($"n_tokens").as("block_total"))
      .select($"block",
        coalesce(sum($"block_total").over(wBlocks), lit(0L)).as("block_off"))
    base.join(broadcast(offsets), "block")
      .select(docs.columns.toIndexedSeq.map(col) :+
        (($"block_off" + coalesce(sum($"n_tokens").over(wIn), lit(0L)))
          .as("cum_before")): _*)
  }

  /** Tokens per packed training sequence (p15). */
  val SeqLen = 256

  /** P15 — sequence packing: lay the corpus tokens end-to-end (stable
    * doc_id order) and cut fixed-SeqLen training sequences, reporting for
    * each document the sequence it starts in, its offset there, and how
    * many sequences it spans — the assignment a dataloader needs to pack
    * without padding. Same two-phase prefix sum as p3 (the only
    * distributed state is the bounded block-offset table); everything
    * else is per-row integer arithmetic, so the row is oracle-exact.
    * Documents are never empty under `split(text,' ')` semantics
    * (n_tokens ≥ 1), so seq_end is always well-defined. */
  def p15SequencePack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    tokenPrefixSums(spark, dir)
      .select($"doc_id", $"n_tokens", $"cum_before",
        expr(s"cum_before DIV $SeqLen").as("seq_start"),
        expr(s"(cum_before + n_tokens - 1) DIV $SeqLen").as("seq_end"),
        expr(s"cum_before % $SeqLen").as("seq_offset"))
      .withColumn("n_seqs_spanned", $"seq_end" - $"seq_start" + 1)
      .orderBy($"doc_id")
  }

  /** n-gram width for contamination checks (p4). */
  val ContamN = 5
  /** Benchmark slice: documents from this source act as the eval set. */
  val BenchmarkSource = "src0"

  /** P4 — benchmark contamination: which corpus documents share a
    * ContamN-gram with any "benchmark" document (source = src0)? The
    * dedup-adjacent check every training pipeline runs against its eval
    * sets. The benchmark n-gram table is the small side by definition —
    * broadcast it; the corpus streams through a map-side join, then one
    * aggregation keyed by doc_id. */
  def p4Contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // `grams` feeds both branches, so the scan runs twice — deliberately
    // NOT cached: the exploded corpus is the biggest intermediate in the
    // whole pipeline (n-grams × corpus), while the bench branch's
    // source-filter pushes to the parquet scan and reads only the (tiny
    // by definition) benchmark row groups. One cheap pushed-down scan +
    // one full scan beats materializing n_grams × corpus rows.
    // grams are ShingleHashes keys (8 bytes), not strings: the join key,
    // the broadcast build side, and both countDistincts shrink ~10×, and
    // the n-gram build is one native pass instead of an interpreted HOF
    val grams = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source",
        explode(shingleHashes($"text", ContamN)).as("s"))
    val bench = grams.filter($"source" === BenchmarkSource)
      .select($"s", $"doc_id".as("bench_id"))
    grams.filter($"source" =!= BenchmarkSource)
      .join(broadcast(bench), "s")
      .groupBy($"doc_id")
      .agg(countDistinct($"s").as("n_shared_ngrams"),
        countDistinct($"bench_id").as("n_bench_docs"))
      .orderBy($"doc_id")
  }

  /** Static benchmark n-gram set p31 excises against: the distinct
    * ContamN-grams of the benchmark documents. */
  def benchmarkGrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .filter($"source" === BenchmarkSource)
      .select(explode(shingleHashes($"text", ContamN)).as("s"))
      .distinct()
  }

  /** P31 — decontamination by EXCISION: p4 tells you WHICH training
    * documents share a [[ContamN]]-gram with the benchmark set; this is
    * the TRANSFORM that fixes them — every token position covered by a
    * benchmark-shared gram is cut and the document keeps its remaining
    * tokens in order (d14's span-removal surgery pointed at an EXTERNAL
    * contamination source instead of corpus-internal duplication). The
    * alternative — dropping whole flagged documents — throws away the
    * 99 % of a long document that never touched the benchmark; excision
    * is what production decontamination does when the corpus is the
    * scarce resource. Digest-only output (d14's rule): counts + md5 of
    * the cleaned text.
    *
    * Scale shape: corpus positional grams probe the BROADCAST benchmark
    * gram set map-side (p4's small-side-by-definition argument — no
    * corpus shuffle to discover hits); covered positions collapse to one
    * cut-array row per CONTAMINATED doc (shuffle sized by hits, not the
    * corpus); the rebuild is d14's map-side native FilterPositions walk,
    * so document text never leaves its scan. Oracle-exact (gram strings
    * on the oracle side, the d8/d14 64-bit-equality convention). */
  def p31Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .filter($"source" =!= BenchmarkSource)
      .select($"doc_id", tokens($"text").as("w"))
    val grams = Tables.load(spark, dir, "documents")
      .filter($"source" =!= BenchmarkSource)
      .select($"doc_id",
        posexplode(shingleHashesPos($"text", ContamN)).as(Seq("p0", "s")))
      .select($"doc_id", ($"p0" + 1).as("start"), $"s")
    val covered = grams.join(broadcast(benchmarkGrams(spark, dir)), "s")
      .select($"doc_id",
        explode(sequence($"start", $"start" + (ContamN - 1))).as("pos"))
      .groupBy($"doc_id")
      .agg(collect_set($"pos".cast("long")).as("cut"))
    docs.join(covered, Seq("doc_id"), "left")
      .select($"doc_id", size($"w").as("n_tokens"),
        graft.plans.VectorExpressions.filterPositions($"w",
          coalesce($"cut", expr("CAST(array() AS array<bigint>)")))
          .as("kept"))
      .select($"doc_id", $"n_tokens",
        size($"kept").cast("long").as("n_kept"),
        ($"n_tokens" - size($"kept")).cast("long").as("n_removed"),
        md5(concat_ws(" ", $"kept")).as("cleaned_digest"))
      .orderBy($"doc_id")
  }

  /** Bloom sizing for p14. At sf-fixture scale this over-provisions
    * massively (fpp ≈ 0); the sizing RULE is what carries to 100 TB: bits
    * ≈ 9.6 × distinct bench n-grams for 1% fpp, so even a 10⁹-gram
    * benchmark suite is a ~1.2 GB sketch — shippable to every executor,
    * where the exact gram set (p4's broadcast) would be 10-100× larger
    * and the shuffle-join alternative would move the corpus. */
  val BloomExpectedItems: Long = 1L << 18
  val BloomFpp = 0.01

  /** P14 — bloom-filter contamination probe: p4's check for when the
    * benchmark n-gram set is too big to broadcast exactly. Two phases:
    * (1) build a bloom sketch over the distinct benchmark n-grams with a
    * distributed aggregate (`stat.bloomFilter` — map-side partial sketches
    * merged on the driver), (2) re-serialize it as a BINARY literal and
    * probe corpus n-grams map-side via the codegen'd
    * `BloomFilterMightContain` predicate — zero joins, zero corpus
    * shuffle before the per-doc count.
    *
    * One-sided error: a bloom has NO false negatives, so every p4
    * contamination hit is found; false positives can only inflate counts
    * (rows-only registry entry; the superset + fp-budget invariants are
    * spec-tested against exact p4 in PipelineSpec). */
  /** The serialized benchmark-gram bloom: p14's build phase. */
  def benchmarkBloomBytes(spark: SparkSession, dir: String,
      expectedItems: Long = BloomExpectedItems,
      fpp: Double = BloomFpp): Array[Byte] = {
    import spark.implicits._
    // non-distinct grams (r13): bloom insertion is idempotent — duplicate
    // grams set the same bits, the serialized sketch is byte-identical —
    // and stat.bloomFilter is a map-side-merged aggregate, so skipping
    // benchmarkGrams' distinct removes the build's only full exchange
    // (benchmarkGrams keeps its distinct for p31's join, where
    // multiplicity changes row counts)
    val bf = Tables.load(spark, dir, "documents")
      .filter($"source" === BenchmarkSource)
      .select(explode(shingleHashes($"text", ContamN)).as("s"))
      .stat
      .bloomFilter("s", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  def p14BloomContamination(spark: SparkSession, dir: String,
      expectedItems: Long = BloomExpectedItems,
      fpp: Double = BloomFpp): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val bytes = benchmarkBloomBytes(spark, dir, expectedItems, fpp)
    val mightContain = column(
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        expression(lit(bytes)), expression($"s")))
    Tables.load(spark, dir, "documents")
      .filter($"source" =!= BenchmarkSource)
      .select($"doc_id", explode(shingleHashes($"text", ContamN)).as("s"))
      .filter(mightContain)
      .groupBy($"doc_id")
      .agg(countDistinct($"s").as("n_hit_ngrams"))
      .orderBy($"doc_id")
  }

  /** md5-twin bloom geometry: m bits, k probes per gram via
    * Kirsch-Mitzenmacher double hashing (Random Struct. Alg. 2008 —
    * pos_j = (h1 + j·step) mod m preserves the bloom's fpp asymptotics
    * with two base hashes instead of k independent ones). h1 = the low
    * 20 bits and step = 2·(high 12 bits)+1 (odd, so the k positions are
    * distinct mod the power-of-two m) of the gram's 32-bit md5 span key
    * — every number an integer DuckDB re-derives from the gram text. */
  val BloomTwinBits: Long = 1L << 20
  val BloomTwinK = 6

  /** P14 registry row — the ORACLE-EXACT md5-twin of
    * [[p14BloomContamination]] (the d4/d5/p18/q23 twin pattern applied to
    * the bloom): gram keys are the d4-convention first-8-hex-digit md5
    * span hashes, bloom positions double-hash from that key, the bit
    * array builds as a `bit_or` aggregate over ≤ m/64 words (collected
    * once — bounded by the m CONSTANT, not the data — and re-attached as
    * an array literal), and the probe is k codegen'd element_at/shift
    * tests, map-side, zero joins (plan-asserted). DuckDB replays key →
    * positions → set-bit membership from the raw corpus, false positives
    * included — a deterministic FP appears in BOTH engines, so the twin
    * hash-matches while keeping the bloom's real semantics. The
    * Spark-native `stat.bloomFilter` family above stays the production
    * default (xxhash-based, engine-serialized — cheaper per gram); both
    * share the no-false-negative contract, spec-pinned supersets of
    * exact p4. */
  def p14BloomContaminationMd5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = BloomTwinBits
    def positions(s: Column): Seq[Column] = {
      val h1 = s % lit(m)
      val step = (s / lit(1L << 20)).cast("long") * 2 + 1
      (0 until BloomTwinK).map(j => (h1 + step * j) % lit(m))
    }
    // NO distinct before the bit build (r13): bit_or is idempotent, so
    // duplicate grams set the same bits and the array is byte-identical —
    // dropping the distinct removes a full O(bench grams) exchange, and
    // the per-(word) partial bit_or collapses each map task's output to
    // ≤ m/64 rows regardless of gram multiplicity (guide §2.3 "aggregate
    // before you shuffle")
    val bench = Tables.load(spark, dir, "documents")
      .filter($"source" === BenchmarkSource)
      .select(explode(graft.plans.VectorExpressions
        .md5SpanHashes($"text", ContamN)).as("s"))
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    def shl(v: Column, amount: Column): Column = column(
      org.apache.spark.sql.catalyst.expressions.ShiftLeft(
        expression(v), expression(amount)))
    val words = bench
      .select(explode(array(positions($"s"): _*)).as("pos"))
      .select(($"pos" / 64).cast("int").as("word"),
        shl(lit(1L), ($"pos" % 64).cast("int")).as("b"))
      .groupBy($"word").agg(bit_or($"b").as("bits"))
      .collect() // ≤ m/64 = 16384 rows by construction — the model artifact
    val bits = new Array[Long]((m / 64).toInt)
    words.foreach(r => bits(r.getInt(0)) = r.getLong(1))
    // native k-probe (r13): the old per-probe column conjunction embedded
    // the 16384-long array as a LITERAL in all six conjuncts — a ~1.5 MB
    // expression tree that every Catalyst transform and AQE per-stage
    // re-optimization re-walked (the action alone re-ran 2.6 s on a
    // 0.28 s explode). BloomBitsProbe holds the array once in codegen
    // references and emits bit-identical values (same double-hash
    // arithmetic, same left-to-right short-circuit).
    val hit = graft.plans.VectorExpressions
      .bloomBitsProbe($"s", bits.toIndexedSeq, m, BloomTwinK)
    // corpus-side spread measured exactly neutral here (r12 interleaved
    // abn 1.00× — the probe stage is not the binding cost at sf0.1), so
    // the scan keeps its native partitioning
    Tables.load(spark, dir, "documents")
      .filter($"source" =!= BenchmarkSource)
      .select($"doc_id", explode(graft.plans.VectorExpressions
        .md5SpanHashes($"text", ContamN)).as("s"))
      .filter(hit)
      .groupBy($"doc_id")
      .agg(countDistinct($"s").as("n_hit_ngrams"))
      .orderBy($"doc_id")
  }

  /** Vocabulary top-k per language (p5). */
  val VocabK = 10

  /** P5 — corpus vocabulary statistics: top-VocabK tokens per language by
    * frequency. explode + groupBy(lang, token) partial-aggregates map-side;
    * the rank window runs over the aggregated table (|vocab| rows, not
    * |corpus| rows). */
  def p5VocabTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"lang").orderBy($"cnt".desc, $"token".asc)
    Tables.load(spark, dir, "documents")
      .select($"lang", explode(tokens($"text")).as("token"))
      .groupBy($"lang", $"token")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= VocabK)
      .select($"lang", $"rk", $"token", $"cnt")
      .orderBy($"lang", $"rk")
  }

  /** Email / phone regexes shared by the Spark and oracle sides of p6.
    * (Same syntax subset works in Spark's java.util.regex and DuckDB's
    * RE2: character classes, +, {n}, alternation — no lookaround.) */
  val EmailRe = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+"
  val PhoneRe = "555-[0-9]{4}"

  /** P6 — PII detection and redaction. The fixture corpus contains no PII,
    * so each document gets a deterministic synthetic contact line appended
    * (derived from doc_id — identical on the oracle side) and the operator
    * must find and mask exactly those. Emits match counts and a digest of
    * the redacted text (not the text itself — at 100 TB the redacted
    * corpus is written to storage, not returned to a result set). Pure
    * per-row regex map work: no shuffle, linear scale. */
  def p6PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val synth = concat($"text",
      lit(" contact user"), $"doc_id".cast("string"), lit("@example.com"),
      lit(" or call 555-"),
      lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0"))
    Tables.load(spark, dir, "documents")
      .select($"doc_id", synth.as("t"))
      .select($"doc_id",
        size(regexp_extract_all($"t", lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all($"t", lit(PhoneRe), lit(0))).as("n_phones"),
        md5(regexp_replace(regexp_replace($"t", EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>")).as("redacted_md5"))
      .orderBy($"doc_id")
  }

  /** Docs kept per stratum by p7. */
  val StratumK = 5

  /** P7 — per-stratum fixed-size sampling: exactly StratumK documents per
    * language, chosen by salted-md5 order — how a pipeline draws a
    * balanced eval subset that is stable across runs and engines. The
    * rank window is partitioned by the stratum key, so the sort is
    * per-group (parallel), never corpus-global. */
  def p7StratumSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val order = md5(concat(lit("strat"), $"doc_id".cast("string")))
    val w = Window.partitionBy($"lang").orderBy(order.asc, $"doc_id".asc)
    Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= StratumK)
      .select($"lang", $"rk", $"doc_id")
      .orderBy($"lang", $"rk")
  }

  /** Distinctive terms kept per language by p9. */
  val TfidfK = 10

  /** P9 — TF-IDF distinctive terms per language: rank tokens by term
    * frequency within the language weighted by corpus-wide rarity — how a
    * pipeline characterizes sub-corpora (domain tags, contamination
    * review, mixture design). The idf factor is the LINEAR form
    * n_docs/df, not log(n_docs/df): ln() differs in the last ulp across
    * engines and a one-ulp flip reorders ranks, while tf·N/df is ONE IEEE
    * division of exact integers — bit-identical on the oracle side and
    * rank-monotone in df exactly like the log form.
    *
    * Scale shape (p5's): tf and df both partial-aggregate map-side; the
    * corpus-wide df join and the ranking window run over the aggregated
    * vocabulary (|vocab| rows), never the corpus. */
  def p9TfIdf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val nDocs = docs.count() // one map-side-combinable scalar job
    val tok = docs.select($"doc_id", $"lang",
      explode(tokens($"text")).as("token"))
    val dfT = tok.select($"doc_id", $"token").distinct()
      .groupBy($"token").agg(count(lit(1)).as("df"))
    val tf = tok.groupBy($"lang", $"token").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy($"lang").orderBy($"score".desc, $"token".asc)
    tf.join(dfT, "token")
      // tf·N as DOUBLE×long, not long×long: at 10¹¹ docs a common token's
      // tf·N overflows int64 (Spark would wrap, DuckDB would error);
      // double·long is exact here anyway (tf, N ≪ 2⁵³) and the oracle
      // computes the identical shape
      .withColumn("score", $"tf".cast(DoubleType) * nDocs / $"df")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= TfidfK)
      .select($"lang", $"rk", $"token", $"tf", $"df", $"score")
      .orderBy($"lang", $"rk")
  }

  /** Tokens per training chunk (p10) and overlap between adjacent chunks. */
  val ChunkSize = 64
  val ChunkOverlap = 16
  /** Stride between chunk starts. */
  val ChunkStride: Int = ChunkSize - ChunkOverlap

  /** P10 — sliding-window document chunking: split each document's token
    * stream into ChunkSize-token training chunks overlapping by
    * ChunkOverlap — the step that turns a cleaned corpus into
    * context-window-sized training examples. A doc of n tokens yields
    * 1 + ceil((n − ChunkSize)/ChunkStride) chunks (one, if it fits);
    * every token lands in ≥1 chunk and the last chunk may run short.
    *
    * Emits chunk index, exact token count, and an md5 digest of the chunk
    * text instead of the text itself: at 100 TB chunks are WRITTEN to
    * shard storage, not returned through a result set, and the digest
    * keeps the oracle able to verify content byte-for-byte while only
    * 16-byte keys leave the executor. Pure narrow map work (explode
    * factor ≈ n/ChunkStride, no shuffle before the final ORDER BY). */
  def p10Chunking(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    chunked(Tables.load(spark, dir, "documents")
        .select($"doc_id", tokens($"text").as("toks")))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** p10's chunk explode, its one caller: (doc_id, toks) → one row per
    * sliding-window chunk with its digest. */
  private def chunked(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    val nChunks = when($"n" <= ChunkSize, lit(1L))
      .otherwise(expr(s"(n - $ChunkSize + $ChunkStride - 1) DIV $ChunkStride") + 1)
    df.select($"doc_id", $"toks", size($"toks").cast("long").as("n"))
      .select($"doc_id", $"n",
        posexplode(transform(sequence(lit(0L), nChunks - 1),
          i => slice($"toks", (i * ChunkStride + 1).cast("int"), lit(ChunkSize)))))
      .select($"doc_id", $"pos".cast("int").as("chunk_idx"),
        size($"col").as("chunk_tokens"),
        md5(concat_ws(" ", $"col")).as("chunk_md5"))
  }

  /** P11 — training-shard writer: the terminal step of the corpus pipeline.
    * Joins p3's token-budget shard assignment back to the documents and
    * writes one parquet partition per shard, documents in stable doc_id
    * order within each.
    *
    * Scale shape: `repartition(shard_id)` BEFORE `partitionBy(shard_id)`
    * is the load-bearing move — without it every write task holds an open
    * file per shard it happens to see (the classic small-files explosion:
    * tasks × shards files); with it each shard's rows converge on one
    * task and each partition directory gets one file. Not a registry
    * query (it writes, returning only per-shard stats); PipelineSpec
    * round-trips the output. */
  def writeTrainingShards(spark: SparkSession, dir: String,
                          outPath: String): DataFrame = {
    import spark.implicits._
    val shards = p3TokenShards(spark, dir)
      .select($"doc_id", $"shard_id", $"n_tokens")
    Tables.load(spark, dir, "documents")
      .join(shards, "doc_id")
      .repartition($"shard_id")
      .sortWithinPartitions($"shard_id", $"doc_id")
      .write.mode("overwrite").partitionBy("shard_id").parquet(outPath)
    spark.read.parquet(outPath)
      // partition-dir columns read back with inferred (int) type: pin long
      .groupBy($"shard_id".cast("long").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("shard_tokens"))
      .orderBy($"shard_id")
  }

  /** P8 — cross-modal join: text-side statistics per embedding-side label
    * (documents ⋈ embeddings on the shared id). Both sides are
    * corpus-scale, so this is the co-partitioned shuffle-join shape (at
    * 100 TB: bucket both tables by id and the exchange disappears —
    * demonstrated in operators/Bucketing.scala); token counts aggregate
    * as exact ints. */
  def p8CrossModal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", size(tokens($"text")).as("n_tokens"))
    val emb = Tables.load(spark, dir, "embeddings")
      .select($"vec_id".as("doc_id"), $"label")
    docs.join(emb, "doc_id")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        countDistinct($"lang").as("n_langs"))
      .select($"label", $"n_docs", $"total_tokens", $"n_langs",
        ($"total_tokens".cast(DoubleType) / $"n_docs").as("avg_tokens"))
      .orderBy($"label")
  }

  /** Target mixture weights per language (p12): the proportions the
    * resampled corpus should have. Integer weights keep every quota
    * computation in exact integer arithmetic. */
  val MixtureWeights: Seq[(String, Long)] =
    Seq("en" -> 4L, "de" -> 2L, "es" -> 2L, "fr" -> 1L, "zh" -> 1L)

  /** P12 — data-mixture resampling: downsample the corpus so the language
    * proportions match `MixtureWeights` exactly — the "data mixing" step
    * that sets a training corpus's domain/language ratios. The feasible
    * total is bound by the scarcest stratum (T = min over langs of
    * ⌊count·W/w⌋, W = Σweights); each stratum then keeps quota =
    * ⌊T·w/W⌋ documents, chosen by salted-md5 rank so the sample is
    * deterministic and engine-portable (p2's trick + p7's exactly-k
    * shape).
    *
    * Scale notes: quotas derive from one tiny groupBy(lang) aggregate
    * joined to a literal weight table (broadcast); the only corpus-scale
    * work is the per-stratum rank window — p7's documented shape, keyed
    * and parallel across strata. All quota math is integer DIV, so Spark
    * and the oracle agree bit-for-bit. */
  def p12MixtureSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", $"source")
    val rkWin = Window.partitionBy($"lang")
      .orderBy(md5(concat(lit("mix"), $"doc_id".cast("string"))), $"doc_id")
    docs.join(broadcast(mixtureQuotas(spark, dir)), "lang")
      .withColumn("rk", row_number().over(rkWin))
      .filter($"rk" <= $"quota")
      .select($"doc_id", $"lang", $"source", $"rk", $"quota")
      .orderBy($"doc_id")
  }

  /** P34 — dedup-adjusted ("effective-size") mixture quotas: the
    * composition every corpus-mixing pipeline needs and usually skips —
    * p12's quota math runs over RAW per-language counts, but near-dup
    * inflation (one source republishing another, d10's off-diagonal
    * cells) double-counts content, so a language heavy in duplicates
    * gets a quota its UNIQUE content cannot fill. Effective count =
    * docs surviving the lower-id-wins near-dup drop (v8's greedy kept
    * rule over d3's persisted pair index: a doc with a ≥τ near-dup of
    * smaller id is a duplicate); the output sets raw and effective
    * counts and both quota columns side by side — the audit that shows
    * how much duplication shifts the feasible mixture.
    *
    * Scale shape: the pair index is the persisted once-per-snapshot
    * artifact (no pairwise work here); the drop is one anti-join on
    * doc_id; counts and quotas are the p12 shape (tiny groupBy(lang) ⋈
    * literal weights, all-integer DIV arithmetic — oracle-exact). */
  def p34EffectiveMixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents").select($"doc_id", $"lang")
    val dropped = Dedup.nearDupPairs(spark, dir)
      .select($"d2".as("doc_id")).distinct()
    val eff = docs.join(dropped, Seq("doc_id"), "left_anti")
    val W = MixtureWeights.map(_._2).sum
    val wdf = MixtureWeights.toDF("lang", "w")
    val rawCnt = docs.groupBy($"lang").agg(count(lit(1)).as("raw_cnt"))
    val effCnt = eff.groupBy($"lang").agg(count(lit(1)).as("c"))
    // checkpoint (r12): joined is ≤ n_langs rows but feeds the totals
    // AND the final projection — unshared, the whole upstream (near-dup
    // anti-join + both counts) re-ran per consumer (3× in the before
    // plan). Both feasibility totals also collapse into ONE aggregate
    // pass (they scan the same 5 rows; exact integer mins, same values).
    val joined = graft.sources.Tables.stage(rawCnt
      .join(effCnt, Seq("lang"), "left")
      .select($"lang", $"raw_cnt", coalesce($"c", lit(0L)).as("eff_cnt"))
      .join(broadcast(wdf), "lang"))
    val tots = joined.agg(
      min(expr(s"(raw_cnt * $W) DIV w")).as("tot_raw"),
      min(expr(s"(eff_cnt * $W) DIV w")).as("tot_eff"))
    joined.crossJoin(broadcast(tots))
      .select($"lang", $"raw_cnt", $"eff_cnt",
        expr(s"(tot_raw * w) DIV $W").as("quota_raw"),
        expr(s"(tot_eff * w) DIV $W").as("quota_eff"))
      .orderBy($"lang")
  }

  /** p12's fitted quota table (lang → quota): the ≤n_langs-row model the
    * resample joins — one tiny groupBy(lang) aggregate joined to the
    * literal weight table. */
  private[graft] def mixtureQuotas(spark: SparkSession,
                                   dir: String): DataFrame = {
    import spark.implicits._
    val W = MixtureWeights.map(_._2).sum
    val wdf = MixtureWeights.toDF("lang", "w")
    val counts = Tables.load(spark, dir, "documents")
      .groupBy($"lang").agg(count(lit(1)).as("cnt"))
    val feasible = counts.join(broadcast(wdf), "lang")
      .agg(min(expr(s"(cnt * $W) DIV w")).as("tot"))
    counts.join(broadcast(wdf), "lang")
      .crossJoin(broadcast(feasible))
      .select($"lang", expr(s"(tot * w) DIV $W").as("quota"))
  }

  /** P13 thresholds: minimum tokens, minimum composite quality (t2's
    * score), maximum duplicated-bigram fraction (p1's metric). Safe to
    * compare against computed doubles because both inputs are
    * oracle-hash-exact — the values are bit-identical across engines. */
  val FilterMinTokens = 25
  val FilterMinQuality = 0.60
  val FilterMaxDupBigram = 0.06

  /** P13 — composite quality filter (the C4/Gopher-style keep/drop pass):
    * combines the length rule, t2's composite quality score, and p1's
    * repetition metric into one keep decision PLUS a reason bitmask
    * (1 = too short, 2 = low quality, 4 = repetitive) — pipelines keep the
    * reasons, not just the verdict, so filter rates are auditable per
    * rule.
    *
    * Scale shape: both inputs are shuffle-free per-row map work over the
    * same scan; the join keys on doc_id (co-partitioned at scale — in a
    * real pipeline these metrics come from ONE projection pass anyway,
    * and Catalyst's scan reuse gets most of that here). */
  def p13QualityFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val quality = TextAnalysis.t2QualityScore(spark, dir)
      .select($"doc_id", $"quality_score")
    val repetition = p1Repetition(spark, dir)
      .select($"doc_id", $"n_tokens", $"dup_bigram_frac")
    repetition.join(quality, "doc_id")
      .withColumn("reason_mask",
        (when($"n_tokens" < FilterMinTokens, 1).otherwise(0) +
         when($"quality_score" < FilterMinQuality, 2).otherwise(0) +
         when($"dup_bigram_frac" > FilterMaxDupBigram, 4).otherwise(0))
          .cast("int"))
      .withColumn("keep", $"reason_mask" === 0)
      .select($"doc_id", $"n_tokens", $"quality_score", $"dup_bigram_frac",
        $"reason_mask", $"keep")
      .orderBy($"doc_id")
  }

  /** P18 — heavy-hitter tokens via a mergeable Count-Min sketch
    * (CmsTopKAggregate): the one-pass sketch answer to p5's exact
    * vocabulary top-k for when the vocabulary itself is too large to
    * groupBy (web-scale corpora have billions of distinct typo-tail
    * tokens). Per partition the aggregate keeps a fixed 4×2048 counter
    * matrix plus a bounded candidate set; only O(d·w + cap) bytes per
    * partition cross the shuffle — the exact formulation exchanges the
    * full (token, count) vocabulary. Estimates are one-sided (est ≥ true,
    * est ≤ true + εN w.h.p.); PipelineSpec asserts the bound, top-k
    * agreement with exact p5-style counts on the fixture, and
    * repartition-invariance.
    *
    * ORACLE-EXACT via the d4/d5 md5-twin pattern (r8): the registry row
    * runs the sketch with md5 row hashes (row r = hex digits [3r+1,3r+3]
    * of md5(token) mod width — one digest per token), so DuckDB replays
    * the ENTIRE sketch from the raw corpus: per-row counter matrix as a
    * GROUP BY over the same digits, estimates as min-over-rows, top-k by
    * (est DESC, token). No persisted artifact needed — this is a full
    * from-scratch replay, and it also certifies the candidate tracking:
    * the engine's cap-bounded candidate set must surface the same top-k
    * the ideal all-tokens scan finds. [[cmsTopKMurmur]] keeps the
    * MurmurHash3 family as the 100 TB default (md5 costs ~5-10× per
    * token at the scan — d4/d14's documented tradeoff); the spec pins
    * both families to the same fixture top-k tokens. */
  def p18CmsTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // spread=true (r12): the per-token md5 CMS update runs in the scan
    // stage (interleaved A/B: 0.76× spread; murmur family same shape)
    Tables.load(spark, dir, "documents", spread = true)
      .select(explode(tokens($"text")).as("token"))
      .agg(graft.plans.CmsTopKAggregate.cmsTopKMd5($"token", VocabK).as("top"))
      .select(posexplode($"top"))
      .select(($"pos" + 1).cast("int").as("rk"),
        $"col.token".as("token"), $"col.est".as("est"))
      .orderBy($"rk")
  }

  /** The MurmurHash3-row-hash production family of [[p18CmsTopK]] — same
    * sketch, non-replayable rows, ~5-10× cheaper per token. */
  def p18CmsTopKMurmur(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents", spread = true)
      .select(explode(tokens($"text")).as("token"))
      .agg(graft.plans.CmsTopKAggregate.cmsTopK($"token", VocabK).as("top"))
      .select(posexplode($"top"))
      .select(($"pos" + 1).cast("int").as("rk"),
        $"col.token".as("token"), $"col.est".as("est"))
      .orderBy($"rk")
  }

  /** Ranked BPE merge candidates emitted by p16. */
  val BpePairK = 40

  /** P16 — tokenizer-training pair statistics: the ranked table of
    * adjacent-character-pair frequencies over the word dictionary, i.e.
    * exactly the statistic a byte-pair-encoding trainer (Sennrich et al.,
    * ACL 2016) maximizes at its first merge step. Every BPE iteration
    * recomputes this table over the current symbol dictionary; the
    * distributed job is this table, and the iteration loop runs over the
    * COLLECTED dictionary ([[bpeMerges]]) the way v4 runs Lloyd steps over
    * collected centroids.
    *
    * Scale shape: the corpus collapses to the distinct-word dictionary
    * first (groupBy(token) with map-side partial aggregation — Heaps' law
    * makes the dictionary orders of magnitude smaller than the corpus);
    * pair explosion then runs over dictionary rows only, and the ranking
    * window runs over the aggregated pair table, which is bounded by the
    * character-bigram alphabet (≤ |Σ|² rows), not by the corpus. */
  def p16BpePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dict = Tables.load(spark, dir, "documents")
      .select(explode(tokens($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .filter(length($"token") >= 2)
    val pairs = dict
      .select($"cnt", explode(expr(
        "transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))"))
        .as("pair"))
      .groupBy($"pair").agg(sum($"cnt").as("cnt"))
    pairs
      .withColumn("rk", row_number().over(
        Window.orderBy($"cnt".desc, $"pair".asc)).cast("int"))
      .filter($"rk" <= BpePairK)
      .select($"rk", $"pair", $"cnt")
      .orderBy($"rk")
  }

  /** Driver-side BPE merge loop over a collected (word, count) dictionary:
    * returns the first `n` merges, each the (left, right) symbol pair with
    * the highest weighted adjacent-pair count (ties broken lexically —
    * deterministic, like every driver-side finish in this engine). The
    * dictionary is the small side by Heaps' law; the per-iteration pair
    * table is what p16 computes distributed. */
  def bpeMerges(dict: Seq[(String, Long)], n: Int): Seq[(String, String)] = {
    var words: Seq[(Vector[String], Long)] =
      dict.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    while (i < n) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var j = 0
        while (j + 1 < syms.length) {
          val k = (syms(j), syms(j + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          j += 1
        }
      }
      if (counts.isEmpty) return merges.result()
      val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
      merges += best
      val joined = best._1 + best._2
      words = words.map { case (syms, c) =>
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == best._1 && syms(j + 1) == best._2) {
            out += joined; j += 2
          } else { out += syms(j); j += 1 }
        }
        (out.result(), c)
      }
      i += 1
    }
    merges.result()
  }

  /** DSIR feature-space size (hashed unigram buckets), weight quantization
    * scale, target-domain source, and selection budget. */
  val DsirBuckets = 256
  val DsirScale = 1L << 20
  val DsirTarget = "src0"
  val DsirQuota = 200

  /** Hashed-unigram bucket in [0, 256): two md5 hex digits via
    * position-in-alphabet arithmetic — the same expression text runs on
    * Spark and DuckDB, so buckets are engine-exact (the p2 md5-parity
    * trick, extended from thresholds to numeric features). */
  private def dsirBucketSql(tokenExpr: String): String =
    s"(instr('0123456789abcdef', substring(md5($tokenExpr), 1, 1)) - 1) * 16" +
      s" + (instr('0123456789abcdef', substring(md5($tokenExpr), 2, 1)) - 1)"

  /** P17 — DSIR-style data selection (Xie et al., NeurIPS 2023): score
    * every raw-corpus document by how much its hashed-unigram distribution
    * looks like a target domain's, then keep the top-budget documents.
    * The published method weights by the log-ratio of target/raw bucket
    * probabilities and Gumbel-samples; this engine's determinism rules
    * (see NOTES.md) replace both with exact integer forms: per-bucket
    * weight ⌊(tgt+1)·2²⁰ / (raw+1)⌋ (add-one smoothing, integer division
    * — monotone in the probability ratio), per-doc score the BIGINT sum of
    * its tokens' weights, selection the top-[[DsirQuota]] by mean weight
    * with an md5 tiebreak (unbiased, reproducible).
    *
    * Scale shape: bucketing is map-side codegen over the token explode;
    * both bucket tables aggregate to ≤ 256 rows; the weight table joins
    * back BROADCAST, so corpus tokens never shuffle for scoring; the
    * per-doc sum is one groupBy(doc_id) with map-side combine; and the
    * final selection is orderBy+limit — Spark's TakeOrdered, a
    * per-partition partial top-k merged on the driver, never a global
    * sort or single-partition window. */
  def p17DsirSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source", $"lang",
        explode(tokens($"text")).as("token"))
      .withColumn("bucket", expr(dsirBucketSql("token")))
      .filter($"source" =!= DsirTarget)
      .join(broadcast(dsirModel(spark, dir)), "bucket")
      .groupBy($"doc_id", $"source", $"lang")
      .agg(count(lit(1)).as("n_tokens"), sum($"wq").as("score"))
      .withColumn("avg_q", expr("score DIV n_tokens"))
      .orderBy($"avg_q".desc, md5($"doc_id".cast("string")).asc)
      .limit(DsirQuota)
      .select($"doc_id", $"source", $"lang", $"n_tokens", $"score", $"avg_q")
      .orderBy($"avg_q".desc, md5($"doc_id".cast("string")).asc)
  }

  /** p17's fitted importance model: the ≤[[DsirBuckets]]-row bucket
    * weight table the selector joins back broadcast (the p19
    * `classifierModel` pattern). */
  private[graft] def dsirModel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.load(spark, dir, "documents")
      .select($"source", explode(tokens($"text")).as("token"))
      .withColumn("bucket", expr(dsirBucketSql("token")))
    val tgtCnt = toks.filter($"source" === DsirTarget)
      .groupBy($"bucket").agg(count(lit(1)).as("tgt_c"))
    val rawCnt = toks.filter($"source" =!= DsirTarget)
      .groupBy($"bucket").agg(count(lit(1)).as("raw_c"))
    // raw-side buckets cover every bucket a scored token can land in;
    // target-side gaps smooth to 0 via the left join
    rawCnt.join(tgtCnt, Seq("bucket"), "left")
      .select($"bucket",
        expr(s"((coalesce(tgt_c, 0) + 1) * $DsirScale) DIV (raw_c + 1)")
          .as("wq"))
  }

  /** P19 — model-free hashed linear quality classifier (the fastText-style
    * filter every web-corpus pipeline trains: CCNet, GPT-3's WebText
    * discriminator): learn per-bucket class-conditional weights from a
    * labeled train split, score a held-out test split as the sum of its
    * tokens' weights, and report the confusion matrix. Labels come from
    * the source id (src0–src9 = "curated", src10+ = "crawl"), the split
    * from doc_id parity; each bucket's weight is the smoothed ODDS RATIO
    * quantized to the integer ⌊(c⁺+1)·2²⁰/(c⁻+1)⌋ (p17's rule), and a
    * doc is accepted when its MEAN token odds beat the global prior odds
    * (score ≥ thr·n_tokens, pure integer arithmetic). Honest framing:
    * this is an odds-SUM vote, not naive Bayes' log-odds sum — summing
    * odds weighs extreme pro-tokens harder than the log-product would
    * (an outlier odds-100 token outvotes an odds-0.01 token here, where
    * NB would cancel them). The determinism rules forbid ln() in
    * oracle-checked doubles, so the engine ships the additive-odds
    * linear classifier; the train/score/confusion contract is identical.
    *
    * Scale shape: feature extraction is map-side codegen over the token
    * explode (p17's md5-digit buckets); both class tables aggregate to
    * ≤ 256 rows; the weight table re-attaches BROADCAST so corpus tokens
    * never shuffle to be scored; the prior threshold is one scalar
    * crossJoin; per-doc scoring is one map-side-combined groupBy. */
  def p19QualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = classifierTokens(spark, dir)
    val (weights, thr) = classifierModel(spark, dir)
    toks.filter($"doc_id" % 2 === 1)
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy($"doc_id", $"is_clean")
      .agg(count(lit(1)).as("n_tokens"),
        // unseen-in-train buckets score neutral (odds 1 → weight 2²⁰)
        sum(coalesce($"wq", lit(DsirScale))).as("score"))
      .crossJoin(broadcast(thr))
      .select($"is_clean", ($"score" >= $"thr" * $"n_tokens").as("pred"))
      .groupBy($"is_clean", $"pred")
      .agg(count(lit(1)).as("n_docs"))
      .select($"is_clean".cast("int").as("actual_clean"),
        $"pred".cast("int").as("pred_clean"), $"n_docs")
      .orderBy($"actual_clean", $"pred_clean")
  }

  /** P33 — classifier calibration curve (reliability diagram): the eval
    * a filter pipeline runs before trusting p19's accept/reject boundary
    * as a SAMPLING WEIGHT rather than a hard gate. Held-out docs score
    * through the SAME fitted model (classifierModel); each doc lands in
    * one of 10 fixed score bins — one-percent steps of the
    * score-to-prior ratio covering [0.96, 1.06), i.e.
    * `least(greatest(100·avg_q DIV thr − 96, 0), 9)`, pure integer
    * arithmetic (additive-odds scores concentrate near the prior, so
    * percent-steps around it are the informative resolution; the outer
    * bins absorb the tails) — and each bin reports its observed clean
    * rate. A
    * well-calibrated score is monotone in the bin index — and the audit
    * is as useful when it ISN'T: on this synthetic corpus the diagram
    * reads flat ≈ prior (the additive-odds score adds little doc-level
    * signal), which is precisely the finding that stops a pipeline from
    * deploying the score as a sampling weight. The spec pins the
    * operator mechanics (exact partition of the test split, disjoint
    * increasing bin ranges, rate = n_clean/n_docs).
    *
    * Binning is by FIXED boundaries, not ntile: a global decile window
    * is one unsplittable partition at corpus scale (the q50 lesson),
    * while the ratio bin is map-side codegen — the same rows, the same
    * audit, no global sort. Bin populations are uneven by design
    * (reliability diagrams bin by score, not by mass). */
  def p33CalibrationCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = classifierTokens(spark, dir)
    val (weights, thr) = classifierModel(spark, dir)
    toks.filter($"doc_id" % 2 === 1)
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy($"doc_id", $"is_clean")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce($"wq", lit(DsirScale))).as("score"))
      .crossJoin(broadcast(thr))
      .select($"is_clean",
        expr("least(greatest((score DIV n_tokens) * 100 DIV thr - 96, 0), 9)")
          .as("bin"),
        expr("score DIV n_tokens").as("avg_q"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"is_clean", 1L).otherwise(0L)).as("n_clean"),
        min($"avg_q").as("min_avg_q"), max($"avg_q").as("max_avg_q"))
      .select($"bin", $"n_docs", $"n_clean",
        round($"n_clean".cast(DoubleType) / $"n_docs".cast(DoubleType), 6)
          .as("clean_rate"),
        $"min_avg_q", $"max_avg_q")
      .orderBy($"bin")
  }

  /** The bucketed token stream p19 trains and scores over. */
  private def classifierTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        expr("CAST(substring(source, 4, 8) AS INT) < 10").as("is_clean"),
        explode(tokens($"text")).as("token"))
      .withColumn("bucket", expr(dsirBucketSql("token")))
  }

  /** p19's fitted model: the ≤256-row bucket weight table and the prior
    * threshold — factored out so p19's confusion matrix and p33's
    * calibration curve score through the SAME training artifact.
    *
    * PERSISTED via ModelStore like every other fitted artifact in the
    * engine (IVF/PQ/assignment/posting-index precedent — the r9 verdict
    * flagged this as the one model that re-fit per invocation): the fit
    * scans the train split once per corpus snapshot; every later
    * p19/p33 invocation reads a ≤256-row parquet table
    * and a 1-row threshold instead of re-scanning the corpus. The names
    * embed the fit hyperparameters (bucket count, weight scale), so a
    * changed recipe fits fresh rather than serving a stale model. Integer
    * (long) weights round-trip parquet exactly, so load-then-apply IS
    * fit-then-apply (store-equivalence asserted in PipelineSpec). */
  private[graft] def classifierModel(spark: SparkSession,
                                     dir: String): (DataFrame, DataFrame) = {
    val weights = graft.sources.ModelStore.table(spark, dir,
      "documents.parquet", s"p19-clf-w-b$DsirBuckets-s$DsirScale") {
      freshClassifierWeights(spark, dir)
    }
    val thr = graft.sources.ModelStore.table(spark, dir,
      "documents.parquet", s"p19-clf-thr-b$DsirBuckets-s$DsirScale") {
      freshClassifierThreshold(spark, dir)
    }
    (weights, thr)
  }

  /** The store's build paths — also the fresh side of the
    * store-equivalence spec. */
  private[graft] def freshClassifierWeights(spark: SparkSession,
                                            dir: String): DataFrame = {
    import spark.implicits._
    val train = classifierTokens(spark, dir).filter($"doc_id" % 2 === 0)
    val cleanCnt = train.filter($"is_clean")
      .groupBy($"bucket").agg(count(lit(1)).as("c_c"))
    val noisyCnt = train.filter(!$"is_clean")
      .groupBy($"bucket").agg(count(lit(1)).as("c_n"))
    cleanCnt.join(noisyCnt, Seq("bucket"), "full")
      .select($"bucket",
        expr(s"((coalesce(c_c, 0) + 1) * $DsirScale)" +
          " DIV (coalesce(c_n, 0) + 1)").as("wq"))
  }

  private[graft] def freshClassifierThreshold(spark: SparkSession,
                                              dir: String): DataFrame = {
    import spark.implicits._
    classifierTokens(spark, dir).filter($"doc_id" % 2 === 0)
      .agg(sum(when($"is_clean", 1L).otherwise(0L)).as("t_c"),
        sum(when(!$"is_clean", 1L).otherwise(0L)).as("t_n"))
      .select(expr(s"((t_c + $DsirBuckets) * $DsirScale)" +
        s" DIV (t_n + $DsirBuckets)").as("thr"))
  }

  /** P20 — deterministic training-order interleave: assign every document
    * a reproducible global training position such that consecutive
    * positions rotate across (lang, source) strata — the data-ordering
    * step after mixing (p12): reading shards in position order never
    * feeds the model a long run of one source/language (a source-sorted
    * corpus is an accidental curriculum). Within each stratum documents
    * are ranked by salted md5 (reproducible, unbiased); the global
    * position is pure integer arithmetic — (rank−1)·S + stratum_index —
    * which round-robins the S strata. Unequal strata leave gaps in the
    * position sequence once short strata exhaust; position is an ORDER
    * key for the shard writer, so gaps are harmless.
    *
    * Scale shape: the within-stratum rank window is keyed by (lang,
    * source) — parallel across strata; the stratum index comes from the
    * strata table (S rows — its single-partition window is bounded, the
    * p3 offsets pattern) joined back BROADCAST; no global window over
    * the corpus, ever. */
  def p20Interleave(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", $"source")
    val strata = docs.select($"lang", $"source").distinct()
    val idx = strata
      .withColumn("stratum_idx",
        row_number().over(Window.orderBy($"lang", $"source")) - 1)
    val nStrata = idx.count()
    val w = Window.partitionBy($"lang", $"source")
      .orderBy(md5(concat(lit("ord"), $"doc_id".cast("string"))), $"doc_id")
    docs
      .withColumn("stratum_rank", row_number().over(w))
      .join(broadcast(idx), Seq("lang", "source"))
      .select($"doc_id", $"lang", $"source", $"stratum_rank",
        (($"stratum_rank" - 1).cast("long") * nStrata + $"stratum_idx")
          .as("position"))
      .orderBy($"position")
  }

  /** P21 — one-pass column profiling (the stats-collection operator every
    * ingestion pipeline runs before anything else: null rates, cardinality,
    * value footprint per column). Emits one row per column of `documents`:
    * row count, non-null count, exact distinct count, and the total/mean
    * length of the canonical string rendering.
    *
    * Scale shape: ONE scan of the table computes all 5 columns × 4
    * metrics in a single Aggregate — the multi-distinct is Catalyst's
    * Expand (factor = #distinct-columns + 1), the standard space-time
    * trade for exact multi-column NDV; everything else rides the same
    * partial/final aggregation. The wide 1-row result is unpivoted with
    * stack() AFTER aggregation — driver-side width, zero extra passes.
    * At 100 TB you'd swap exact NDV for HLL sketches (q23's machinery)
    * per-column; the plan shape is otherwise unchanged. Mean length is a
    * ratio of exact ints (engine-exact, the NOTES determinism rule). */
  def p21Profile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val aggs = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"${c}__rows"),
        count(col(c)).as(s"${c}__nonnull"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        sum(length(col(c).cast("string")).cast("long")).as(s"${c}__len"))
    }
    val stackArgs = cols
      .map(c => s"'$c', ${c}__rows, ${c}__nonnull, ${c}__distinct, ${c}__len")
      .mkString(", ")
    Tables.load(spark, dir, "documents")
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n_rows, n_nonnull, n_distinct, total_len)")
      .select($"col_name", $"n_rows", $"n_nonnull", $"n_distinct",
        $"total_len",
        ($"total_len".cast(DoubleType) / $"n_nonnull").as("mean_len"))
      .orderBy($"col_name")
  }

  /** P22 — n-gram novelty scoring: per document, the fraction of its
    * DISTINCT 3-grams whose corpus-wide first occurrence (lowest doc_id)
    * is this document — "how much genuinely new text does this doc add,
    * given everything before it". The pruning signal behind
    * ordered-ingestion dedup policies (a near-zero-novelty doc is
    * recombined boilerplate even when no single source passes d3's
    * pairwise threshold), complementing d8's recurring-span fraction
    * (which measures how much of the doc recurs ANYWHERE, not whether
    * this doc introduced it).
    *
    * Scale shape: t12's first-occurrence pattern on d8's gram keys — gram
    * explode (per-doc distinct, map-side) → min(doc_id) per gram (ONE
    * map-side-combining shuffle) → re-attach to the (doc, gram) pairs by
    * an AQE-skew-splittable equi-join → per-doc count ratio. No
    * self-join, no window over the corpus; keys are d3's 8-byte
    * ShingleHashes (the oracle mirrors with gram strings, the d8
    * convention — 64-bit collisions are vanishing at any real df). */
  def p22Novelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = Tables.load(spark, dir, "documents")
      .select($"doc_id", explode(shingleHashes($"text", 3)).as("g"))
    val firstSeen = grams.groupBy($"g").agg(min($"doc_id").as("f"))
    grams.join(firstSeen, "g")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(($"f" === $"doc_id").cast("long")).as("n_novel"))
      .withColumn("novelty", $"n_novel".cast(DoubleType) / $"n_grams")
      .orderBy($"doc_id")
  }

  /** Accuracy knob for p23: guaranteed relative rank error ≤ 1/accuracy
    * (the GK/KLL contract behind Spark's approx_percentile). */
  val ApproxPercentileAccuracy = 1000

  /** P23 — mergeable approximate percentiles (Greenwald–Khanna via
    * Spark's `approx_percentile`): the one-pass sketch answer to t6's
    * exact `percentile` for when per-group value sets no longer fit a
    * sort — exact percentile materializes and sorts every value per
    * group at eval (fine at fixture scale, impossible per-group at
    * 100 TB), while the GK sketch keeps O((1/ε)·log(εN)) tuples per
    * group, merges associatively across partitions (partial aggregation
    * stays map-side), and guarantees every answer's RANK is within εN of
    * the target. Same output shape as t6 for side-by-side comparison;
    * the companion spec asserts the rank-error contract against the
    * exact answer per language.
    *
    * No SQL oracle by design: DuckDB's approx_quantile is t-digest —
    * a different sketch with different (unbounded-rank) guarantees; the
    * fidelity check is the rank-error spec, the one-sided-error pattern
    * of p14/p18/q23. */
  def p23ApproxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"lang", size(tokens($"text")).as("n_tokens"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        expr(s"approx_percentile(n_tokens, array(0.25, 0.5, 0.75), " +
          s"$ApproxPercentileAccuracy)").as("q"),
        max($"n_tokens").as("max_tokens"))
      .select($"lang", $"n_docs",
        element_at($"q", 1).as("p25"),
        element_at($"q", 2).as("p50"),
        element_at($"q", 3).as("p75"),
        $"max_tokens")
      .orderBy($"lang")
  }

  /** P24 — corpus drift audit: total-variation distance between every
    * source's hashed-token distribution and the reference source's
    * ([[DsirTarget]]) — the monitoring statistic a continuously-ingesting
    * pipeline tracks to catch upstream distribution shift (a crawler
    * change, a new spam wave, an encoding regression) before it poisons
    * training mixes. KL — the textbook choice — needs ln(), which the
    * engine's determinism rules forbid in oracle-checked doubles; TVD is
    * the exact-arithmetic alternative: ½·Σ_b |p_b − q_b| over the 256
    * md5 buckets reduces to the INTEGER numerator
    * Σ_b |o_b·N_ref − r_b·N_src| over the common denominator
    * 2·N_src·N_ref, emitted as ONE IEEE division of exact ints (engine
    * bit-exact, in [0,1]).
    *
    * Scale shape: one map-side-combined groupBy(source, bucket) (output
    * ≤ sources×256 rows), the ≤256-row reference distribution re-attaches
    * via a broadcast full-outer-by-coalesce join, per-source fold is a
    * tiny aggregate. The corpus is touched ONCE, map-side. */
  def p24DriftAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // stage (r13, guide §1.2): counts is ≤ sources×256 rows but was
    // consumed THREE ways (ref / srcTot / the main leg), and column
    // pruning specialized each consumer's subtree — the corpus token
    // explode ran 3×. Staged, the corpus really is touched once
    // (interleaved cmp 0.73× at sf0.1; 4 scans → 1 in the plan).
    val counts = graft.sources.Tables.stage(
      Tables.load(spark, dir, "documents")
        .select($"source", explode(tokens($"text")).as("token"))
        .withColumn("bucket", expr(dsirBucketSql("token")))
        .groupBy($"source", $"bucket").agg(count(lit(1)).as("o")))
    val ref = counts.filter($"source" === DsirTarget)
      .select($"bucket", $"o".as("r"))
    val refTot = ref.agg(sum($"r").as("n_ref"))
    val srcTot = counts.filter($"source" =!= DsirTarget)
      .groupBy($"source").agg(sum($"o").as("n_src"))
    // per (source, bucket): |o·N_ref − r·N_src| for the buckets the
    // source emits (left join — a ref-silent bucket contributes o·N_ref);
    // buckets ONLY the reference emits contribute r·N_src each, folded
    // in closed form as N_src·(N_ref − Σ_covered r) so they never need
    // rows of their own
    counts.filter($"source" =!= DsirTarget)
      .join(broadcast(ref), Seq("bucket"), "left")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(refTot))
      .groupBy($"source", $"n_src", $"n_ref")
      .agg(sum(abs($"o" * $"n_ref" - coalesce($"r", lit(0L)) * $"n_src"))
          .as("covered_num"),
        sum(coalesce($"r", lit(0L))).as("covered_r"))
      .select($"source", $"n_src", $"n_ref",
        ($"covered_num" + $"n_src" * ($"n_ref" - $"covered_r"))
          .as("l1_num"))
      .withColumn("tvd", $"l1_num".cast(DoubleType) /
        ($"n_src" * $"n_ref" * 2).cast(DoubleType))
      .orderBy($"source")
  }

  /** Merge-list length for p25's applied tokenizer. */
  val BpeMergeN = 30

  /** Driver-side bound on the BPE training dictionary: only the top
    * [[BpeDictCap]] words by frequency (ties → lexicographic) reach the
    * driver fit. The engine's own t10/t11 rule — a web-scale vocabulary
    * is billions of typo-tail rows and must never be collected — applies
    * to the tokenizer fit too; real BPE trainers cap or floor their word
    * dictionaries for the same reason, and the dropped tail (each word
    * seen a handful of times) contributes negligible pair mass to the
    * merge ranking. The limit compiles to TakeOrderedAndProject (per-
    * partition top-M, no global sort), so the fit stage is 100 TB-safe.
    * At fixture scale the dictionary (31 words) sits far under the cap,
    * so capped ≡ uncapped bit-for-bit — asserted in PipelineSpec. */
  val BpeDictCap = 65536

  /** p25's fitted tokenizer: the first [[BpeMergeN]] merges learned by
    * [[bpeMerges]] over the word dictionary, PERSISTED through the model
    * store (rank, left, right) — the fit/apply split for tokenizers: a
    * tokenizer is trained once per corpus snapshot and applied by every
    * downstream job; the merge list is the whole model. */
  private[graft] def bpeMergeModel(spark: SparkSession,
                                   dir: String): Seq[(String, String)] = {
    import spark.implicits._
    graft.sources.ModelStore.table(spark, dir, "documents.parquet",
        s"bpe-merges-n$BpeMergeN-cap$BpeDictCap") {
      val dict = Tables.load(spark, dir, "documents")
        .select(explode(tokens($"text")).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"token")
        .limit(BpeDictCap)
        .as[(String, Long)].collect().toSeq
      bpeMerges(dict, BpeMergeN).zipWithIndex
        .map { case ((a, b), r) => (r, a, b) }
        .toDF("rk", "left", "right")
    }.collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** Apply a learned merge list to one word (BPE inference): replay the
    * merges in training order, each replacing its pair occurrences
    * left-to-right — exactly the trainer's own replacement rule
    * ([[bpeMerges]]), so encode(train corpus) reproduces the trainer's
    * final symbolization. Returns the symbol count. */
  private[graft] def bpeEncodeLen(word: String,
                                  merges: Seq[(String, String)]): Int = {
    var syms: Vector[String] = word.map(_.toString).toVector
    merges.foreach { case (a, b) =>
      if (syms.length >= 2) {
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
            out += (a + b); j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
      }
    }
    syms.length
  }

  /** P25 — tokenizer APPLICATION at corpus scale: encode every document
    * under the fitted BPE merge list and report per-doc token economics
    * (words, chars, BPE tokens, chars-per-token compression) — the stage
    * that turns "token budget" from a whitespace approximation (t1/p3)
    * into real tokenizer counts, which is what training-cost accounting
    * and sequence packing actually bill against.
    *
    * Scale shape: the corpus collapses to per-(doc, word) counts
    * (map-side combine), the encoder runs ONCE PER DISTINCT WORD over
    * the Heaps-law dictionary (mapPartitions with the broadcast merge
    * list — never per occurrence), and word costs re-attach by an
    * AQE-broadcastable equi-join keyed on the word. The iterative merge
    * replay is genuinely imperative per-word work — the documented
    * mapPartitions exception, bounded by word length.
    *
    * Oracle-exact as of r8: the encode is replayed in DuckDB from the
    * PERSISTED merge list (see oracleSql — a recursive CTE steps the
    * merge ranks, and the left-to-right pair replacement maps onto
    * string replace() over a wrapped-symbol representation). The
    * companion spec additionally replays the encoder on the driver and
    * matches every row. */
  def p25BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bpeMergeModel(spark, dir))
    val perDoc = Tables.load(spark, dir, "documents")
      .select($"doc_id", explode(tokens($"text")).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("n"))
    val dict = perDoc.select($"token").distinct()
      .as[String].mapPartitions { it =>
        val m = bc.value
        it.map(w => (w, bpeEncodeLen(w, m)))
      }.toDF("token", "n_syms")
    perDoc.join(dict, "token")
      .groupBy($"doc_id")
      .agg(sum($"n").as("n_words"),
        sum($"n" * length($"token")).as("n_chars"),
        sum($"n" * $"n_syms").as("n_bpe_tokens"))
      .withColumn("chars_per_token",
        $"n_chars".cast(DoubleType) / $"n_bpe_tokens".cast(DoubleType))
      .orderBy($"doc_id")
  }

  /** p26 keeps 1/[[TempTargetDen]] of the corpus, split by tempered weight. */
  val TempTargetDen = 2

  /** P26 — temperature-scaled source mixture (α = 0.5): per-source keep
    * quotas proportional to √count instead of count — the standard
    * "temperature" rebalance (multilingual LM training, Conneau et al.
    * 2020 §3; α→1 is proportional, α→0 uniform) that upsamples scarce
    * sources relative to dominant ones. Where p12 takes its mixture as a
    * GIVEN weight table, p26 FITS the weights from the corpus itself.
    * Weights are fixed-point: wt = ⌊√count·10⁶⌋ (sqrt is IEEE
    * correctly-rounded in both engines, one multiply, floor — engine-
    * exact); quotas are integer DIV; membership is the p2/p12 salted-md5
    * rank, so the whole operator is deterministic and oracle-exact.
    *
    * Scale shape: weights/quotas derive from one tiny groupBy(source)
    * aggregate (two broadcast scalars for the totals); the only
    * corpus-scale work is the per-stratum rank window — p7's documented
    * keyed-and-parallel shape. */
  def p26TemperatureMixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source")
    val weights = docs.groupBy($"source").agg(count(lit(1)).as("cnt"))
      .select($"source", floor(sqrt($"cnt") * lit(1e6)).as("wt"))
    val tot = weights.agg(sum($"wt").as("wsum"))
    val target = docs.agg(expr(s"count(1) DIV $TempTargetDen").as("t"))
    val quotas = weights.crossJoin(broadcast(tot))
      .crossJoin(broadcast(target))
      .select($"source", expr("(t * wt) DIV wsum").as("quota"))
    val rkWin = Window.partitionBy($"source")
      .orderBy(md5(concat(lit("temp"), $"doc_id".cast("string"))), $"doc_id")
    docs.join(broadcast(quotas), "source")
      .withColumn("rk", row_number().over(rkWin))
      .filter($"rk" <= $"quota")
      .select($"doc_id", $"source", $"rk", $"quota")
      .orderBy($"doc_id")
  }

  /** P27 — quality-threshold sweep: for each threshold i/10 (i = 0…9)
    * over t2's composite quality score, how many documents and characters
    * survive — the docs-vs-quality tradeoff curve a pipeline reads BEFORE
    * committing to a filter threshold (p13 applies one point of this
    * curve; p27 shows the whole curve so the point is chosen with eyes
    * open).
    *
    * Scale shape: ONE corpus pass buckets each doc by ⌊score·10⌋ into ten
    * cells (map-side combinable groupBy); the survivor counts then come
    * from a suffix-sum window over the TEN-row bucket table — the
    * threshold sweep never rescans the corpus per threshold (the naive
    * form is 10 filtered passes). Score comparison is bucket arithmetic
    * on the engine-exact t2 score, so both engines cut identically. */
  def p27ThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sc = TextAnalysis.t2QualityScore(spark, dir)
      .select($"doc_id", $"quality_score")
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"n_chars")
    val bucketed = sc.join(docs, "doc_id")
      .select(least(floor($"quality_score" * 10).cast("int"), lit(9)).as("bk"),
        $"n_chars")
      .groupBy($"bk")
      .agg(count(lit(1)).as("nd"), sum($"n_chars").as("nc"))
    val w = Window.orderBy($"thr_idx".asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spark.range(0, 10).select($"id".cast("int").as("thr_idx"))
      .join(bucketed, $"thr_idx" === $"bk", "left")
      .select($"thr_idx",
        coalesce($"nd", lit(0L)).as("nd"), coalesce($"nc", lit(0L)).as("nc"))
      .select($"thr_idx",
        sum($"nd").over(w).as("n_docs_ge"),
        sum($"nc").over(w).as("n_chars_ge"))
      .orderBy($"thr_idx")
  }

  /** Salt for p28's partial-epoch admission ranking. */
  val EpochSalt = "epoch"

  /** P28 — token-budget epoch planning: given a total training-token
    * budget (one corpus-worth, redistributed) and temperature-scaled
    * per-source targets (α=0.5 over TOKEN counts — p26's tempering along
    * the other axis), emit the per-source schedule a data loader
    * executes: how many FULL passes over the source (epochs — scarce
    * upweighted sources repeat, the Doremi/Pile practice), plus the
    * salted-md5-ranked partial pass that spends the remainder. Every
    * number is exact integer math: targets are fixed-point integer
    * quotas, epochs/remainders are integer div/mod, and the partial
    * admission takes docs in hash rank order while tokens-before <
    * remainder (the doc crossing the boundary is admitted — "fill until
    * spent" loader semantics).
    *
    * Scale shape: per-source totals are one map-side-combinable groupBy;
    * the schedule table is ≤|sources| rows (broadcast back); the partial
    * admission needs a per-source hash-rank prefix sum — a window per
    * source here (the p26 precedent; block-split prefix sums à la
    * tokenPrefixSums if one source dominates a 100 TB corpus); only
    * per-source COUNTS leave that pass, never per-doc rows. */
  def p28EpochPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source",
        size(tokens($"text")).cast("long").as("nt"))
    // stage (r13, guide §1.2): s is ≤|sources| rows, but tg is consumed
    // twice and tot re-derives w→s inside tg, so the corpus tokenize
    // pass under d ran FIVE times (the r12 plan's 5 scans). Staged, it
    // runs twice — the per-source aggregate and the admission window,
    // the two passes the operator genuinely needs. Bench-neutral at
    // sf0.1 (interleaved cmp 0.95×/0.97× — the t11 pattern: the win
    // term is corpus passes, which grow with scale; the staged side is
    // ≤|sources| rows, so there is no checkpoint-scale caution).
    val s = graft.sources.Tables.stage(d.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("toks")))
    val w = s.withColumn("wt", floor(sqrt($"toks") * lit(1e6)))
    val tot = w.agg(sum($"wt").as("wsum"), sum($"toks").as("b"))
    // b·wt ≈ b^1.5·10⁶ clears the BIGINT ceiling near 4·10⁸ corpus
    // tokens — far below the design point — so the product runs on the
    // 38-digit decimal lattice (t14's remedy, applied rather than
    // deferred); the quotient is ≤ b and lands back in BIGINT exactly
    val tg = w.crossJoin(broadcast(tot))
      .select($"source", $"n_docs", $"toks",
        expr("CAST((CAST(b AS DECIMAL(38,0)) * wt) DIV wsum AS BIGINT)")
          .as("target"))
    val rkW = Window.partitionBy($"source")
      .orderBy(md5(concat(lit(EpochSalt), $"doc_id".cast("string"))),
        $"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val p = d.withColumn("cumb", coalesce(sum($"nt").over(rkW), lit(0L)))
      .join(broadcast(tg.select($"source", $"toks".as("stoks"), $"target")),
        "source")
      .filter($"cumb" < $"target" % $"stoks")
      .groupBy($"source")
      .agg(count(lit(1)).as("partial_docs"), sum($"nt").as("partial_tokens"))
    tg.join(p, Seq("source"), "left_outer")
      .select($"source", $"n_docs", $"toks".as("tokens_total"),
        $"target".as("target_tokens"),
        expr("target DIV toks").as("full_epochs"),
        ($"target" % $"toks").as("rem_tokens"),
        coalesce($"partial_docs", lit(0L)).as("partial_docs"),
        coalesce($"partial_tokens", lit(0L)).as("partial_tokens"))
      .orderBy($"source")
  }

  /** Docs per loader batch for p30's length-bucketed batching. */
  val BucketBatchDocs = 8

  /** P30 — length-bucketed batch assignment + padding-waste audit: the
    * PADDING-based alternative to p15's packing (the two standard ways a
    * dataloader turns variable-length documents into fixed-shape
    * batches). Documents bucket by ceil-power-of-two token length, rank
    * within (bucket, block) by doc_id, and cut into
    * [[BucketBatchDocs]]-doc batches; each batch reports its size, max
    * length (the pad target — real loaders pad to the BATCH max, not
    * the bucket cap), exact token total, padded total, and the waste
    * fraction — the number that tells you whether bucketing beats
    * packing for a given corpus.
    *
    * Scale shape: the ONLY window partitions by (bucket, block) — p3's
    * bounded-block rule applied to ranking, so no partition exceeds
    * (corpus / ShardMaxBlocks) rows per bucket and the corpus never
    * enters a global or per-bucket-global sort (a plain per-bucket rank
    * would funnel the whole corpus through ~60 bucket partitions).
    * Batches are therefore block-LOCAL — exactly how real loaders shard
    * batch formation per worker; the per-(bucket, block) partial tail
    * batch is the honest cost of sharded formation and shows up in the
    * audit. Bucket arithmetic is pure integer bit math (t12's
    * next-pow-2 form), identical in DuckDB — oracle-exact; waste_frac
    * is one IEEE division of exact longs. */
  def p30LengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", size(tokens($"text")).cast("long").as("n"))
    val maxId = Option(docs.agg(max($"doc_id")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val blockWidth = maxId / ShardMaxBlocks + 1
    docs
      .withColumn("bucket", expr(
        "CASE WHEN n <= 1 THEN 1 " +
          "ELSE shiftleft(CAST(1 AS BIGINT), length(bin(n - 1))) END"))
      .withColumn("block", expr(s"doc_id DIV $blockWidth"))
      .withColumn("batch_id",
        expr(s"(row_number() OVER (PARTITION BY bucket, block " +
          s"ORDER BY doc_id) - 1) DIV $BucketBatchDocs"))
      .groupBy($"bucket", $"block", $"batch_id")
      .agg(count(lit(1)).as("n_docs"),
        max($"n").as("batch_max_len"),
        sum($"n").as("total_tokens"))
      .withColumn("padded_tokens", $"n_docs" * $"batch_max_len")
      .withColumn("waste_frac",
        ($"padded_tokens" - $"total_tokens").cast(DoubleType) /
          $"padded_tokens".cast(DoubleType))
      .orderBy($"bucket", $"block", $"batch_id")
  }

  /** P29 — the composed end-to-end prep pipeline in ONE Catalyst plan:
    * quality filter (p13's keep rule) → exact dedup on survivors (d1's
    * min-doc_id-per-md5 rule, applied AFTER filtering — the real
    * pipeline order, since dedup over junk wastes the expensive stage) →
    * stratified sample (p2's salted-md5 predicate) → sequence packing
    * (p15's assignment arithmetic over the FINAL survivor set). The
    * point is composition: the stages chain as DataFrames inside one
    * optimized DAG — no materialization barriers, filters fused, ONE
    * final sort (plan-asserted) — which is how a production run invokes
    * this engine: operators as library calls composed per-corpus, not
    * per-operator jobs glued by disk.
    *
    * Scale: every stage keeps its own audited shape (map filters, keyed
    * dedup groupBy, pushdown-able sample predicate, two-phase pack
    * prefix sum); composing them adds no new shuffle beyond the stages'
    * own. */
  def p29FullPrep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val kept = p13QualityFilter(spark, dir)
      .filter($"keep")
      .select($"doc_id", $"n_tokens".cast("long").as("n_tokens"))
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", md5($"text").as("tk"))
    // joined feeds BOTH the first-per-text winner selection and the
    // dedupe re-attach; unshared, its whole upstream — the p13 quality
    // filter's p1+t2 document scans included — executes twice (the
    // r12-before plan carried 24 parquet scans). localCheckpoint
    // materializes the narrow (doc_id, lang, tk, n_tokens) rows once
    // inside the timed query (t11's row-form-blocks reasoning; each
    // bench run pays its own materialization, gc releases the blocks).
    val joined = graft.sources.Tables.stage(docs.join(kept, "doc_id"))
    val firstPerText = joined.groupBy($"tk").agg(min($"doc_id").as("keep_id"))
    val deduped = joined
      .join(firstPerText, joined("doc_id") === firstPerText("keep_id"))
      .select($"doc_id", $"lang", $"n_tokens")
    val sampled = deduped.filter(samplePredicate)
    prefixSums(spark, sampled.select($"doc_id", $"n_tokens", $"lang"))
      .select($"doc_id", $"lang", $"n_tokens",
        expr(s"cum_before DIV $SeqLen").as("seq_start"),
        expr(s"cum_before % $SeqLen").as("seq_offset"),
        expr(s"(cum_before + n_tokens - 1) DIV $SeqLen").as("seq_end"))
      .orderBy($"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p29_full_prep" -> p29FullPrep _,
    "p28_epoch_plan" -> p28EpochPlan _,
    "p27_threshold_sweep" -> p27ThresholdSweep _,
    "p26_temperature_mixture" -> p26TemperatureMixture _,
    "p25_bpe_encode" -> p25BpeEncode _,
    "p24_drift_audit" -> p24DriftAudit _,
    "p23_approx_percentiles" -> p23ApproxPercentiles _,
    "p22_novelty" -> p22Novelty _,
    "p21_profile" -> p21Profile _,
    "p20_interleave" -> p20Interleave _,
    "p19_quality_classifier" -> p19QualityClassifier _,
    "p33_calibration_curve" -> p33CalibrationCurve _,
    "p34_effective_mixture" -> p34EffectiveMixture _,
    "p16_bpe_pairs" -> p16BpePairs _,
    "p17_dsir_select" -> p17DsirSelect _,
    "p18_cms_topk" -> p18CmsTopK _,
    "p1_repetition" -> p1Repetition _,
    "p12_mixture_sample" -> p12MixtureSample _,
    "p13_quality_filter" -> p13QualityFilter _,
    "p14_bloom_contamination" -> p14BloomContaminationMd5 _,
    "p15_sequence_pack" -> p15SequencePack _,
    "p6_pii_redact" -> p6PiiRedact _,
    "p7_stratum_sample" -> p7StratumSample _,
    "p8_crossmodal" -> p8CrossModal _,
    "p2_stratified_sample" -> p2StratifiedSample _,
    "p3_token_shards" -> p3TokenShards _,
    "p4_contamination" -> p4Contamination _,
    "p31_decontaminate" -> p31Decontaminate _,
    "p5_vocab_topk" -> p5VocabTopK _,
    "p9_tfidf" -> p9TfIdf _,
    "p10_chunking" -> p10Chunking _,
    "p30_length_buckets" -> p30LengthBuckets _,
  )

  /** DuckDB-readable parquet glob for a persisted documents-derived model
    * table (the Similarity.modelGlob / d15 posting-index precedent): the
    * fitted artifact IS the model contract, so the oracle consumes the
    * same persisted parquet the engine applies. Evaluated inside
    * [[oracleSql]] (a def) so the ModelStore path reflects the
    * Verify-pinned fixture dir (graft.oracle.sfdir). */
  private def docModelGlob(name: String): String = {
    val dir = sys.props.getOrElse("graft.oracle.sfdir", "/root/testdata/sf0.01")
    graft.sources.ModelStore.path(dir, "documents.parquet", name).getPath +
      "/*.parquet"
  }

  /** DuckDB text for md5-twin CMS row r's bucket of `col` (0-based row):
    * hex digits [3r+1, 3r+3] as a 12-bit value mod the sketch width —
    * digit-for-digit the aggregate's md5Rows bucket. */
  private def duckCmsBucket(col: String, r: Int, width: Int): String =
    s"(((instr('0123456789abcdef', substring(md5($col), ${3 * r + 1}, 1)) - 1) * 256" +
      s" + (instr('0123456789abcdef', substring(md5($col), ${3 * r + 2}, 1)) - 1) * 16" +
      s" + (instr('0123456789abcdef', substring(md5($col), ${3 * r + 3}, 1)) - 1)) % $width)"

  /** DuckDB text for the d4-convention 32-bit md5 span key: the numeric
    * value of the first 8 hex digits of md5(col) (the Dedup.duckMd5Long
    * Horner recipe — DuckDB has no conv()). */
  private def duckMd5Head32(col: String): String =
    (1 to 8)
      .map(i => s"(instr('0123456789abcdef', substring(md5($col), $i, 1)) - 1)")
      .reduce((acc, d) => s"($acc * 16 + $d)")

  def oracleSql: Map[String, String] = Map(
    "p14_bloom_contamination" -> {
      // Replays p14BloomContaminationMd5 end to end: gram text → 32-bit
      // md5 span key → Kirsch-Mitzenmacher positions → membership in the
      // benchmark position set (the bit array IS that set) — false
      // positives reproduce deterministically in both engines.
      val m = BloomTwinBits
      s"""WITH d AS (SELECT doc_id, source, string_split(text,' ') AS w
         |           FROM documents),
         |g AS (SELECT doc_id, source,
         |        unnest(list_distinct(list_transform(
         |          generate_series(1, len(w)-${ContamN - 1}),
         |          i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]))) AS gram
         |      FROM d WHERE len(w) >= $ContamN),
         |h AS (SELECT doc_id, source, ${duckMd5Head32("gram")} AS s FROM g),
         |p AS (SELECT doc_id, source, s,
         |        (s % $m + j * (2 * (s // $m) + 1)) % $m AS pos
         |      FROM h CROSS JOIN (SELECT unnest(generate_series(0,
         |        ${BloomTwinK - 1})) AS j) js),
         |bset AS (SELECT DISTINCT pos FROM p
         |         WHERE source = '$BenchmarkSource'),
         |hits AS (SELECT pr.doc_id, pr.s
         |         FROM p pr LEFT JOIN bset ON bset.pos = pr.pos
         |         WHERE pr.source <> '$BenchmarkSource'
         |         GROUP BY pr.doc_id, pr.s
         |         HAVING count(bset.pos) = $BloomTwinK)
         |SELECT doc_id, CAST(count(DISTINCT s) AS BIGINT) AS n_hit_ngrams
         |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "p18_cms_topk" -> {
      val w = 2048
      s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS token
         |            FROM documents),
         |tc AS (SELECT token, CAST(count(*) AS BIGINT) AS c
         |       FROM tk GROUP BY token),
         |tb AS (SELECT token, c, r,
         |         CASE r WHEN 0 THEN ${duckCmsBucket("token", 0, w)}
         |                WHEN 1 THEN ${duckCmsBucket("token", 1, w)}
         |                WHEN 2 THEN ${duckCmsBucket("token", 2, w)}
         |                ELSE ${duckCmsBucket("token", 3, w)} END AS bkt
         |       FROM tc CROSS JOIN (SELECT unnest([0,1,2,3]) AS r) rs),
         |ctr AS (SELECT r, bkt, CAST(sum(c) AS BIGINT) AS cnt
         |        FROM tb GROUP BY r, bkt),
         |est AS (SELECT tb.token, min(ctr.cnt) AS est
         |        FROM tb JOIN ctr ON ctr.r = tb.r AND ctr.bkt = tb.bkt
         |        GROUP BY tb.token)
         |SELECT CAST(row_number() OVER (ORDER BY est DESC, token) AS INT)
         |         AS rk, token, est
         |FROM est ORDER BY est DESC, token LIMIT $VocabK""".stripMargin
    },
    "p30_length_buckets" ->
      s"""WITH d AS (SELECT doc_id,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |           FROM documents),
         |mx AS (SELECT coalesce(max(doc_id), 0) AS m FROM d),
         |b AS (SELECT doc_id, n,
         |        CAST(CASE WHEN n <= 1 THEN 1
         |          ELSE (CAST(1 AS BIGINT) << length(bin(n - 1)))
         |        END AS BIGINT) AS bucket,
         |        doc_id // ((SELECT m FROM mx) // $ShardMaxBlocks + 1)
         |          AS block
         |      FROM d),
         |r AS (SELECT bucket, block, doc_id, n,
         |        CAST((row_number() OVER (PARTITION BY bucket, block
         |          ORDER BY doc_id) - 1) // $BucketBatchDocs AS BIGINT)
         |          AS batch_id
         |      FROM b),
         |a AS (SELECT bucket, block, batch_id,
         |        CAST(count(*) AS BIGINT) AS n_docs,
         |        max(n) AS batch_max_len,
         |        CAST(sum(n) AS BIGINT) AS total_tokens
         |      FROM r GROUP BY 1, 2, 3)
         |SELECT bucket, block, batch_id, n_docs, batch_max_len,
         |  total_tokens,
         |  n_docs * batch_max_len AS padded_tokens,
         |  CAST(n_docs * batch_max_len - total_tokens AS DOUBLE)
         |    / CAST(n_docs * batch_max_len AS DOUBLE) AS waste_frac
         |FROM a ORDER BY bucket, block, batch_id""".stripMargin,
    "p25_bpe_encode" ->
      // Replays the engine's BPE ENCODE from the persisted merge list —
      // the d6-closure/v4-model precedent applied to the tokenizer: the
      // fit (driver-side pair ranking) is given as the model artifact;
      // the apply is recomputed from scratch in SQL. The encode's
      // left-to-right non-overlapping pair replacement is exactly string
      // replace() over a wrapped-symbol representation: a symbolization
      // [s1, s2, …] is encoded as ␁s1␁␁s2␁… (each symbol wrapped in a
      // separator absent from the corpus — asserted in PipelineSpec), so
      // merging (a, b) is replace('␁a␁␁b␁' → '␁ab␁'): wrapper alignment
      // makes mid-symbol matches impossible (symbols never contain ␁ and
      // are non-empty), and replace() consumes matches left-to-right
      // without rescanning its own output — the trainer's replacement
      // rule. A recursive CTE steps rank 0..n-1 through the merge table;
      // symbol count falls out as half the separator count. Verified
      // bit-exact against the engine (incl. the single IEEE division)
      // at sf0.01.
      s"""WITH RECURSIVE
         |m AS (SELECT rk, "left" AS lft, "right" AS rgt
         |      FROM '${docModelGlob(s"bpe-merges-n$BpeMergeN-cap$BpeDictCap")}'),
         |nm AS (SELECT count(*) AS n FROM m),
         |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |      FROM documents),
         |perdoc AS (SELECT doc_id, token, count(*) AS n FROM t GROUP BY 1, 2),
         |words AS (SELECT DISTINCT token FROM perdoc),
         |enc AS (
         |  SELECT token,
         |    array_to_string(list_transform(string_split(token, ''),
         |      c -> chr(1) || c || chr(1)), '') AS s,
         |    0 AS i
         |  FROM words
         |  UNION ALL
         |  SELECT e.token,
         |    replace(e.s, chr(1) || m.lft || chr(1) || chr(1) || m.rgt || chr(1),
         |                 chr(1) || m.lft || m.rgt || chr(1)),
         |    e.i + 1
         |  FROM enc e JOIN m ON m.rk = e.i
         |),
         |syms AS (SELECT token,
         |           CAST((length(s) - length(replace(s, chr(1), ''))) // 2
         |             AS INT) AS n_syms
         |         FROM enc WHERE i = (SELECT n FROM nm))
         |SELECT doc_id,
         |  CAST(sum(n) AS BIGINT) AS n_words,
         |  CAST(sum(n * length(token)) AS BIGINT) AS n_chars,
         |  CAST(sum(n * n_syms) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(n * length(token)) AS DOUBLE)
         |    / CAST(sum(n * n_syms) AS DOUBLE) AS chars_per_token
         |FROM perdoc JOIN syms USING (token)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p29_full_prep" ->
      s"""WITH q AS (${TextAnalysis.qualityCte}),
         |t AS (SELECT doc_id, lang, md5(text) AS tk,
         |        string_split(text, ' ') AS w FROM documents),
         |r AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |        CASE WHEN len(w) >= 2 THEN
         |          1.0 - CAST(len(list_distinct(list_transform(
         |            generate_series(1, len(w)-1),
         |            i -> w[i] || ' ' || w[i+1]))) AS DOUBLE) / (len(w) - 1)
         |        ELSE 0.0 END AS dbf
         |      FROM t),
         |kd AS (SELECT t.doc_id, t.lang, t.tk, r.n_tokens
         |       FROM t JOIN r USING (doc_id) JOIN q USING (doc_id)
         |       WHERE r.n_tokens >= $FilterMinTokens
         |         AND q.quality_score >= $FilterMinQuality
         |         AND r.dbf <= $FilterMaxDupBigram),
         |dd AS (SELECT kd.doc_id, kd.lang, kd.n_tokens
         |       FROM kd JOIN (SELECT tk, min(doc_id) AS kid FROM kd
         |                     GROUP BY tk) m
         |         ON kd.doc_id = m.kid),
         |s AS (SELECT * FROM dd WHERE $sampleCaseSql),
         |p AS (SELECT doc_id, lang, n_tokens,
         |        CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS cumb
         |      FROM s)
         |SELECT doc_id, lang, n_tokens,
         |  cumb // $SeqLen AS seq_start, cumb % $SeqLen AS seq_offset,
         |  (cumb + n_tokens - 1) // $SeqLen AS seq_end
         |FROM p ORDER BY doc_id""".stripMargin,
    "p28_epoch_plan" ->
      s"""WITH d AS (SELECT doc_id, source,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
         |           FROM documents),
         |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(nt) AS BIGINT) AS toks FROM d GROUP BY 1),
         |w AS (SELECT source, n_docs, toks,
         |        CAST(floor(sqrt(toks) * 1000000.0) AS BIGINT) AS wt FROM s),
         |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS wsum,
         |          CAST(sum(toks) AS BIGINT) AS b FROM w),
         |tg AS (SELECT source, n_docs, toks,
         |         CAST((CAST(b AS HUGEINT) * wt) // wsum AS BIGINT) AS target
         |       FROM w, tot),
         |r AS (SELECT doc_id, source, nt,
         |        CAST(COALESCE(sum(nt) OVER (PARTITION BY source
         |          ORDER BY md5('$EpochSalt' || CAST(doc_id AS VARCHAR)),
         |                   doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS cumb
         |      FROM d),
         |p AS (SELECT r.source, CAST(count(*) AS BIGINT) AS partial_docs,
         |        CAST(sum(r.nt) AS BIGINT) AS partial_tokens
         |      FROM r JOIN tg ON r.source = tg.source
         |      WHERE r.cumb < tg.target % tg.toks GROUP BY 1)
         |SELECT tg.source, tg.n_docs, tg.toks AS tokens_total,
         |  tg.target AS target_tokens, tg.target // tg.toks AS full_epochs,
         |  tg.target % tg.toks AS rem_tokens,
         |  COALESCE(p.partial_docs, 0) AS partial_docs,
         |  COALESCE(p.partial_tokens, 0) AS partial_tokens
         |FROM tg LEFT JOIN p ON tg.source = p.source
         |ORDER BY tg.source""".stripMargin,
    "p26_temperature_mixture" ->
      s"""WITH c AS (SELECT source, count(*) AS cnt FROM documents
         |           GROUP BY source),
         |w AS (SELECT source, CAST(floor(sqrt(cnt) * 1000000.0) AS BIGINT)
         |          AS wt FROM c),
         |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS wsum,
         |          (SELECT count(*) // $TempTargetDen FROM documents) AS t
         |        FROM w),
         |q AS (SELECT source, (t * wt) // wsum AS quota FROM w, tot),
         |r AS (SELECT doc_id, source,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY md5('temp' || CAST(doc_id AS VARCHAR)), doc_id)
         |          AS rk
         |      FROM documents)
         |SELECT r.doc_id, r.source, CAST(r.rk AS INT) AS rk,
         |  CAST(q.quota AS BIGINT) AS quota
         |FROM r JOIN q ON r.source = q.source WHERE r.rk <= q.quota
         |ORDER BY doc_id""".stripMargin,
    "p27_threshold_sweep" ->
      s"""WITH q AS (${TextAnalysis.qualityCte}),
         |b AS (SELECT least(CAST(floor(q.quality_score * 10) AS INT), 9)
         |          AS bk, d.n_chars
         |      FROM q JOIN documents d USING (doc_id)),
         |g AS (SELECT bk, count(*) AS nd,
         |        CAST(sum(n_chars) AS BIGINT) AS nc FROM b GROUP BY bk),
         |grid AS (SELECT CAST(unnest(generate_series(0, 9)) AS INT)
         |             AS thr_idx),
         |j AS (SELECT thr_idx, coalesce(nd, 0) AS nd, coalesce(nc, 0) AS nc
         |      FROM grid LEFT JOIN g ON thr_idx = g.bk)
         |SELECT thr_idx,
         |  CAST(sum(nd) OVER w AS BIGINT) AS n_docs_ge,
         |  CAST(sum(nc) OVER w AS BIGINT) AS n_chars_ge
         |FROM j WINDOW w AS (ORDER BY thr_idx
         |  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |ORDER BY thr_idx""".stripMargin,
    "p24_drift_audit" -> {
      val b = dsirBucketSql("tok")
      s"""WITH t AS (SELECT source,
         |    unnest(string_split(text,' ')) AS tok FROM documents),
         |c AS (SELECT source, $b AS bucket, count(*) AS o FROM t
         |      GROUP BY 1, 2),
         |ref AS (SELECT bucket, o AS r FROM c WHERE source = '$DsirTarget'),
         |nref AS (SELECT CAST(sum(r) AS BIGINT) AS n_ref FROM ref),
         |nsrc AS (SELECT source, CAST(sum(o) AS BIGINT) AS n_src FROM c
         |         WHERE source <> '$DsirTarget' GROUP BY 1),
         |j AS (SELECT c.source, n_src, n_ref,
         |        abs(c.o * n_ref - coalesce(ref.r, 0) * n_src) AS term,
         |        coalesce(ref.r, 0) AS rc
         |      FROM c JOIN nsrc USING (source) CROSS JOIN nref
         |      LEFT JOIN ref USING (bucket)
         |      WHERE c.source <> '$DsirTarget')
         |SELECT source, n_src, n_ref,
         |  CAST(sum(term) + n_src * (n_ref - sum(rc)) AS BIGINT) AS l1_num,
         |  CAST(CAST(sum(term) + n_src * (n_ref - sum(rc)) AS BIGINT)
         |       AS DOUBLE) / CAST(2 * n_src * n_ref AS DOUBLE) AS tvd
         |FROM j GROUP BY source, n_src, n_ref ORDER BY source""".stripMargin
    },
    "p22_novelty" ->
      """WITH docs AS (SELECT doc_id, string_split(text,' ') AS w
        |             FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(generate_series(1, len(w) - 2),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        |      FROM docs),
        |fs AS (SELECT g, min(doc_id) AS f FROM g GROUP BY g)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN f = doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(sum(CASE WHEN f = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS novelty
        |FROM g JOIN fs USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p21_profile" -> Seq("doc_id", "text", "lang", "source", "n_chars")
      .map(c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count($c) AS BIGINT) AS n_nonnull,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(sum(length(CAST($c AS VARCHAR))) AS BIGINT) AS total_len,
           |  CAST(CAST(sum(length(CAST($c AS VARCHAR))) AS BIGINT) AS DOUBLE)
           |    / count($c) AS mean_len
           |FROM documents""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    "p20_interleave" ->
      """WITH s AS (SELECT DISTINCT lang, source FROM documents),
        |idx AS (SELECT lang, source,
        |          CAST(row_number() OVER (ORDER BY lang, source) - 1 AS INT)
        |            AS stratum_idx
        |        FROM s),
        |n AS (SELECT count(*) AS n_strata FROM s),
        |r AS (SELECT doc_id, lang, source,
        |        CAST(row_number() OVER (PARTITION BY lang, source
        |          ORDER BY md5('ord' || CAST(doc_id AS VARCHAR)), doc_id)
        |          AS INT) AS stratum_rank
        |      FROM documents)
        |SELECT r.doc_id, r.lang, r.source, r.stratum_rank,
        |  CAST((r.stratum_rank - 1) * n_strata + stratum_idx AS BIGINT)
        |    AS position
        |FROM r JOIN idx ON r.lang = idx.lang AND r.source = idx.source
        |  CROSS JOIN n
        |ORDER BY position""".stripMargin,
    "p34_effective_mixture" -> {
      val W = MixtureWeights.map(_._2).sum
      val vals = MixtureWeights
        .map { case (l, w) => s"('$l', $w)" }.mkString(", ")
      s"""WITH ${Dedup.d3Ctes},
         |p AS (SELECT d1, d2 FROM inter
         |      JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
         |      WHERE CAST(shared AS DOUBLE) / (x.n + y.n - shared)
         |        >= ${Dedup.JaccardThreshold}),
         |dr AS (SELECT DISTINCT d2 AS doc_id FROM p),
         |dl AS (SELECT doc_id, lang FROM documents),
         |raw AS (SELECT lang, count(*) AS raw_cnt FROM dl GROUP BY 1),
         |ef AS (SELECT lang, count(*) AS c FROM dl
         |       WHERE doc_id NOT IN (SELECT doc_id FROM dr) GROUP BY 1),
         |wt AS (SELECT * FROM (VALUES $vals) AS t(lang, w)),
         |j AS (SELECT raw.lang, raw_cnt, coalesce(c, 0) AS eff_cnt, w
         |      FROM raw LEFT JOIN ef ON raw.lang = ef.lang
         |      JOIN wt ON raw.lang = wt.lang),
         |tr AS (SELECT min((raw_cnt * $W) // w) AS tot_raw FROM j),
         |te AS (SELECT min((eff_cnt * $W) // w) AS tot_eff FROM j)
         |SELECT lang, CAST(raw_cnt AS BIGINT) AS raw_cnt,
         |  CAST(eff_cnt AS BIGINT) AS eff_cnt,
         |  CAST((tot_raw * w) // $W AS BIGINT) AS quota_raw,
         |  CAST((tot_eff * w) // $W AS BIGINT) AS quota_eff
         |FROM j CROSS JOIN tr CROSS JOIN te ORDER BY lang""".stripMargin
    },
    "p33_calibration_curve" -> {
      val b = dsirBucketSql("tok")
      s"""WITH t AS (SELECT doc_id,
         |        CAST(substring(source, 4, 8) AS INT) < 10 AS is_clean,
         |        unnest(string_split(text, ' ')) AS tok FROM documents),
         |tb AS (SELECT doc_id, is_clean, $b AS bucket FROM t),
         |tr AS (SELECT * FROM tb WHERE doc_id % 2 = 0),
         |cc AS (SELECT bucket, count(*) AS c_c FROM tr
         |       WHERE is_clean GROUP BY 1),
         |cn AS (SELECT bucket, count(*) AS c_n FROM tr
         |       WHERE NOT is_clean GROUP BY 1),
         |w AS (SELECT coalesce(cc.bucket, cn.bucket) AS bucket,
         |        ((coalesce(c_c, 0) + 1) * $DsirScale)
         |          // (coalesce(c_n, 0) + 1) AS wq
         |      FROM cc FULL JOIN cn ON cc.bucket = cn.bucket),
         |th AS (SELECT
         |        ((sum(CASE WHEN is_clean THEN 1 ELSE 0 END) + $DsirBuckets)
         |           * $DsirScale)
         |        // (sum(CASE WHEN NOT is_clean THEN 1 ELSE 0 END)
         |           + $DsirBuckets) AS thr
         |       FROM tr),
         |s AS (SELECT doc_id, is_clean, count(*) AS n_tokens,
         |        CAST(sum(coalesce(wq, $DsirScale)) AS BIGINT) AS score
         |      FROM tb LEFT JOIN w ON tb.bucket = w.bucket
         |      WHERE doc_id % 2 = 1 GROUP BY 1, 2),
         |q AS (SELECT is_clean,
         |        CAST(least(greatest((score // n_tokens) * 100 // thr - 96,
         |          0), 9) AS BIGINT) AS bin,
         |        score // n_tokens AS avg_q
         |      FROM s CROSS JOIN th)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN is_clean THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clean,
         |  round(CAST(sum(CASE WHEN is_clean THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS clean_rate,
         |  CAST(min(avg_q) AS BIGINT) AS min_avg_q,
         |  CAST(max(avg_q) AS BIGINT) AS max_avg_q
         |FROM q GROUP BY 1 ORDER BY bin""".stripMargin
    },
    "p19_quality_classifier" -> {
      val b = dsirBucketSql("tok")
      s"""WITH t AS (SELECT doc_id,
         |        CAST(substring(source, 4, 8) AS INT) < 10 AS is_clean,
         |        unnest(string_split(text, ' ')) AS tok FROM documents),
         |tb AS (SELECT doc_id, is_clean, $b AS bucket FROM t),
         |tr AS (SELECT * FROM tb WHERE doc_id % 2 = 0),
         |cc AS (SELECT bucket, count(*) AS c_c FROM tr
         |       WHERE is_clean GROUP BY 1),
         |cn AS (SELECT bucket, count(*) AS c_n FROM tr
         |       WHERE NOT is_clean GROUP BY 1),
         |w AS (SELECT coalesce(cc.bucket, cn.bucket) AS bucket,
         |        ((coalesce(c_c, 0) + 1) * $DsirScale)
         |          // (coalesce(c_n, 0) + 1) AS wq
         |      FROM cc FULL JOIN cn ON cc.bucket = cn.bucket),
         |th AS (SELECT
         |        ((sum(CASE WHEN is_clean THEN 1 ELSE 0 END) + $DsirBuckets)
         |           * $DsirScale)
         |        // (sum(CASE WHEN NOT is_clean THEN 1 ELSE 0 END)
         |           + $DsirBuckets) AS thr
         |       FROM tr),
         |s AS (SELECT doc_id, is_clean, count(*) AS n_tokens,
         |        CAST(sum(coalesce(wq, $DsirScale)) AS BIGINT) AS score
         |      FROM tb LEFT JOIN w ON tb.bucket = w.bucket
         |      WHERE doc_id % 2 = 1 GROUP BY 1, 2)
         |SELECT CAST(is_clean AS INT) AS actual_clean,
         |  CAST(score >= thr * n_tokens AS INT) AS pred_clean,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM s CROSS JOIN th GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "p16_bpe_pairs" ->
      s"""WITH w AS (SELECT tok AS token, count(*) AS cnt
         |  FROM (SELECT unnest(string_split(text,' ')) AS tok FROM documents) u
         |  GROUP BY 1),
         |p AS (SELECT unnest(list_transform(generate_series(1, len(token) - 1),
         |        i -> substr(token, i, 2))) AS pair, cnt
         |      FROM w WHERE len(token) >= 2),
         |a AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS cnt FROM p GROUP BY 1),
         |r AS (SELECT pair, cnt, CAST(row_number() OVER (
         |        ORDER BY cnt DESC, pair ASC) AS INT) AS rk FROM a)
         |SELECT rk, pair, cnt FROM r WHERE rk <= $BpePairK
         |ORDER BY rk""".stripMargin,
    "p17_dsir_select" -> {
      val b = dsirBucketSql("tok")
      s"""WITH t AS (SELECT doc_id, source, lang,
         |    unnest(string_split(text,' ')) AS tok FROM documents),
         |tb AS (SELECT doc_id, source, lang, $b AS bucket FROM t),
         |tgt AS (SELECT bucket, count(*) AS tgt_c FROM tb
         |        WHERE source = '$DsirTarget' GROUP BY 1),
         |raw AS (SELECT bucket, count(*) AS raw_c FROM tb
         |        WHERE source <> '$DsirTarget' GROUP BY 1),
         |wq AS (SELECT raw.bucket,
         |         ((coalesce(tgt_c, 0) + 1) * $DsirScale) // (raw_c + 1) AS wq
         |       FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket),
         |s AS (SELECT doc_id, source, lang,
         |        CAST(count(*) AS BIGINT) AS n_tokens,
         |        CAST(sum(wq) AS BIGINT) AS score
         |      FROM tb JOIN wq ON tb.bucket = wq.bucket
         |      WHERE source <> '$DsirTarget'
         |      GROUP BY 1, 2, 3)
         |SELECT doc_id, source, lang, n_tokens, score,
         |  score // n_tokens AS avg_q
         |FROM s
         |ORDER BY avg_q DESC, md5(CAST(doc_id AS VARCHAR)) ASC
         |LIMIT $DsirQuota""".stripMargin
    },
    "p13_quality_filter" ->
      s"""WITH q AS (${TextAnalysis.qualityCte}),
         |t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         |r AS (SELECT doc_id, CAST(len(w) AS INT) AS n_tokens,
         |        CASE WHEN len(w) >= 2 THEN
         |          1.0 - CAST(len(list_distinct(list_transform(generate_series(1, len(w)-1),
         |            i -> w[i] || ' ' || w[i+1]))) AS DOUBLE) / (len(w) - 1)
         |        ELSE 0.0 END AS dup_bigram_frac
         |      FROM t),
         |m AS (SELECT r.doc_id, r.n_tokens, q.quality_score, r.dup_bigram_frac,
         |        CAST(CASE WHEN r.n_tokens < $FilterMinTokens THEN 1 ELSE 0 END
         |           + CASE WHEN q.quality_score < $FilterMinQuality THEN 2 ELSE 0 END
         |           + CASE WHEN r.dup_bigram_frac > $FilterMaxDupBigram THEN 4 ELSE 0 END
         |          AS INT) AS reason_mask
         |      FROM r JOIN q USING (doc_id))
         |SELECT doc_id, n_tokens, quality_score, dup_bigram_frac, reason_mask,
         |  reason_mask = 0 AS keep
         |FROM m ORDER BY doc_id""".stripMargin,
    "p12_mixture_sample" -> {
      val values = MixtureWeights
        .map { case (l, w) => s"('$l', $w)" }.mkString(", ")
      val w = MixtureWeights.map(_._2).sum
      s"""WITH wt(lang, w) AS (VALUES $values),
         |c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         |t AS (SELECT min((cnt * $w) // w.w) AS tot FROM c JOIN wt w USING (lang)),
         |q AS (SELECT c.lang, (t.tot * w.w) // $w AS quota
         |      FROM c JOIN wt w USING (lang) CROSS JOIN t),
         |r AS (SELECT doc_id, lang, source,
         |        row_number() OVER (PARTITION BY lang
         |          ORDER BY md5('mix' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |      FROM documents)
         |SELECT r.doc_id, r.lang, r.source, CAST(r.rk AS INT) AS rk,
         |  CAST(q.quota AS BIGINT) AS quota
         |FROM r JOIN q ON r.lang = q.lang WHERE r.rk <= q.quota
         |ORDER BY doc_id""".stripMargin
    },
    "p1_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |cnt AS (SELECT doc_id, tok, count(*) AS c
        |        FROM (SELECT doc_id, unnest(w) AS tok FROM t) u GROUP BY 1, 2),
        |m AS (SELECT doc_id, max(c) AS topc FROM cnt GROUP BY 1)
        |SELECT t.doc_id, CAST(len(w) AS INT) AS n_tokens,
        |  1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dup_word_frac,
        |  CAST(topc AS DOUBLE) / len(w) AS top_word_frac,
        |  CASE WHEN len(w) >= 2 THEN
        |    1.0 - CAST(len(list_distinct(list_transform(generate_series(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1]))) AS DOUBLE) / (len(w) - 1)
        |  ELSE 0.0 END AS dup_bigram_frac
        |FROM t JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin,
    "p2_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE $sampleCaseSql
         |ORDER BY doc_id""".stripMargin,
    "p15_sequence_pack" ->
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len(string_split(text,' ')) AS INT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS cum_before
         |FROM t)
         |SELECT doc_id, n_tokens, cum_before,
         |  CAST(cum_before // $SeqLen AS BIGINT) AS seq_start,
         |  CAST((cum_before + n_tokens - 1) // $SeqLen AS BIGINT) AS seq_end,
         |  CAST(cum_before % $SeqLen AS BIGINT) AS seq_offset,
         |  CAST((cum_before + n_tokens - 1) // $SeqLen
         |     - cum_before // $SeqLen + 1 AS BIGINT) AS n_seqs_spanned
         |FROM c ORDER BY doc_id""".stripMargin,
    "p3_token_shards" ->
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len(string_split(text,' ')) AS INT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS cum_before
         |FROM t)
         |SELECT doc_id, n_tokens, cum_before,
         |  CAST(cum_before // $ShardTokenBudget AS BIGINT) AS shard_id
         |FROM c ORDER BY doc_id""".stripMargin,
    "p4_contamination" ->
      s"""WITH d AS (SELECT doc_id, source, string_split(text,' ') AS w FROM documents),
         |g AS (SELECT doc_id, source,
         |        unnest(list_distinct(list_transform(generate_series(1, len(w)-4),
         |          i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]))) AS s
         |      FROM d WHERE len(w) >= $ContamN),
         |b AS (SELECT DISTINCT s, doc_id AS bench_id FROM g
         |      WHERE source = '$BenchmarkSource')
         |SELECT g.doc_id,
         |  CAST(count(DISTINCT g.s) AS BIGINT) AS n_shared_ngrams,
         |  CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
         |FROM g JOIN b USING (s) WHERE g.source <> '$BenchmarkSource'
         |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,
    "p31_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS w
         |           FROM documents WHERE source <> '$BenchmarkSource'),
         |bg AS (SELECT DISTINCT
         |         unnest(list_transform(generate_series(1, len(w)-4),
         |           i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS s
         |       FROM (SELECT string_split(text,' ') AS w FROM documents
         |             WHERE source = '$BenchmarkSource')
         |       WHERE len(w) >= $ContamN),
         |g AS (SELECT doc_id,
         |        unnest(generate_series(1, len(w)-4)) AS start,
         |        unnest(list_transform(generate_series(1, len(w)-4),
         |          i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS s
         |      FROM t WHERE len(w) >= $ContamN),
         |cov AS (SELECT DISTINCT doc_id, pos FROM (
         |          SELECT doc_id,
         |            unnest(generate_series(start, start + 4)) AS pos
         |          FROM g JOIN bg USING (s))),
         |tok AS (SELECT doc_id, unnest(w) AS tok,
         |          unnest(generate_series(1, len(w))) AS pos FROM t),
         |kept AS (SELECT tok.doc_id, tok.pos, tok.tok
         |         FROM tok LEFT JOIN cov
         |           ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
         |         WHERE cov.pos IS NULL),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |          md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_digest
         |        FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(w) AS INT) AS n_tokens,
         |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(len(w) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(cleaned_digest, md5('')) AS cleaned_digest
         |FROM t LEFT JOIN agg USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    "p6_pii_redact" ->
      s"""WITH s AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |       || ' or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
         |FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS INT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
         |FROM s ORDER BY doc_id""".stripMargin,
    "p7_stratum_sample" ->
      s"""WITH r AS (SELECT lang, doc_id,
         |  CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY md5('strat' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
         |    AS INT) AS rk
         |FROM documents)
         |SELECT lang, rk, doc_id FROM r WHERE rk <= $StratumK
         |ORDER BY lang, rk""".stripMargin,
    "p8_crossmodal" ->
      """WITH d AS (SELECT doc_id, lang,
        |  CAST(len(string_split(text,' ')) AS INT) AS n_tokens FROM documents),
        |e AS (SELECT vec_id AS doc_id, label FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE) / count(*) AS avg_tokens
        |FROM d JOIN e USING (doc_id)
        |GROUP BY label ORDER BY label""".stripMargin,
    "p10_chunking" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS w,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n FROM documents),
         |c AS (SELECT doc_id, n,
         |  CASE WHEN n <= $ChunkSize THEN 1
         |       ELSE (n - $ChunkSize + $ChunkStride - 1) // $ChunkStride + 1
         |  END AS nc, w
         |FROM t),
         |e AS (SELECT doc_id,
         |  CAST(unnest(generate_series(0, nc - 1)) AS INT) AS chunk_idx, w
         |FROM c)
         |SELECT doc_id, chunk_idx,
         |  CAST(len(list_slice(w, chunk_idx * $ChunkStride + 1,
         |    chunk_idx * $ChunkStride + $ChunkSize)) AS INT) AS chunk_tokens,
         |  md5(array_to_string(list_slice(w, chunk_idx * $ChunkStride + 1,
         |    chunk_idx * $ChunkStride + $ChunkSize), ' ')) AS chunk_md5
         |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,
    "p9_tfidf" ->
      s"""WITH u AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS token
         |  FROM documents),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df
         |  FROM (SELECT DISTINCT doc_id, token FROM u) GROUP BY token),
         |tf AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS tf
         |  FROM u GROUP BY 1, 2),
         |s AS (SELECT lang, token, tf, df,
         |  CAST(tf AS DOUBLE) * (SELECT n_docs FROM n) / df AS score
         |  FROM tf JOIN dft USING (token)),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY score DESC, token ASC) AS INT) AS rk FROM s)
         |SELECT lang, rk, token, tf, df, score FROM r WHERE rk <= $TfidfK
         |ORDER BY lang, rk""".stripMargin,
    "p5_vocab_topk" ->
      s"""WITH c AS (SELECT lang, tok AS token, count(*) AS cnt
         |  FROM (SELECT lang, unnest(string_split(text,' ')) AS tok FROM documents) u
         |  GROUP BY 1, 2),
         |r AS (SELECT lang, token, cnt, CAST(row_number() OVER (PARTITION BY lang
         |        ORDER BY cnt DESC, token ASC) AS INT) AS rk FROM c)
         |SELECT lang, rk, token, cnt FROM r WHERE rk <= $VocabK
         |ORDER BY lang, rk""".stripMargin,
  )
}
