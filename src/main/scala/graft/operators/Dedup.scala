package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Deduplication operators over `documents` (SURVEY.md §2C): exact,
  * fingerprint-keyed, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: every variant reduces to hash-partitioned groupBy/join on a
  * *small key* (16-byte fingerprint, 8-byte shingle hash, band hash) — the
  * document text itself never crosses a shuffle except in the final
  * candidate-verification step, which is bounded by candidate count, not
  * corpus size. Stop-shingle pruning (df cap) bounds the inverted-index
  * self-join the same way it would at 100 TB.
  */
object Dedup {

  /** Shingle width for the n-gram machinery (d3/d4/d8/d9 and the
    * persisted cluster model's name — ONE constant so changing the width
    * structurally invalidates the store instead of serving stale
    * clusters). */
  val ShingleN = 3
  /** Max document frequency for a shingle to participate in the inverted
    * index — drops quadratic-blowup "stop shingles" (same cap in oracle). */
  val MaxShingleDf = 50
  /** Near-dup Jaccard threshold. */
  val JaccardThreshold = 0.8

  /** D1 — exact dedup: one survivor (min doc_id) per distinct text.
    * Scale: group key is md5(text) (16 bytes) rather than the text itself;
    * the text column is dropped before the exchange. */
  def d1ExactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(md5($"text").as("text_key"), $"doc_id")
      .groupBy($"text_key")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  /** D2 — fingerprint dedup: exact dedup after normalization (case/
    * punctuation-insensitive), via TextFunctions.fingerprint. */
  def d2FingerprintDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(fingerprint($"text").as("fp"), $"doc_id")
      .groupBy($"fp")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  /** Distinct (doc_id, rare-shingle) pairs: the pruned inverted index.
    * Shingles are dictionary-encoded to 64-bit keys AT THE SCAN by the
    * one-pass ShingleHashes expression — shingle *strings* are never even
    * materialized; everything downstream moves 8-byte keys. Jaccard needs
    * only per-doc counts and intersection sizes, which the hash preserves
    * (a 64-bit collision within one corpus is ~N²/2⁶⁵ — d3 stays oracle
    * hash-exact).
    *
    * The df cap stays a groupBy(h) + join-back, NOT a count-over-window
    * by h: a window partition is unsplittable, so one boilerplate shingle
    * present in 10% of documents would sort 10¹¹ rows on a single task at
    * the 100 TB design point. The groupBy df table map-side combines to
    * one row per distinct shingle, and the re-attach equi-join's hot
    * probe partitions are exactly what AQE's skew-join splits — MEASURED
    * (`graft.Profile skewprobe`, one key owning 2M of 4M rows): AQE caps
    * the max join task at 451k rows (4.6× split) where the window form
    * is stuck with the full 2.06M-row partition. The window form is
    * ~0.5 s faster at sf0.1 — and wrong at scale; the same reasoning is
    * written at t10. */
  private def rareShingles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NOT cached: ShingleHashes makes the explode nearly free, so the index
    // is recomputed per consumer and Catalyst's ReuseExchange dedupes the
    // shuffles of identical subplans within one query. Caching here would
    // materialize O(total shingles) rows — ~16 TB at a 10¹²-shingle corpus
    // — to save a map-side pass that costs less than the cache write
    // (round-2 verdict: unreleased operator caches were also the bench
    // cross-contamination mechanism).
    val sh = Tables.load(spark, dir, "documents")
      .select($"doc_id", explode(shingleHashes($"text", ShingleN)).as("h"))
    val rare = sh.groupBy($"h")
      .agg(count(lit(1)).as("df"))
      .filter($"df" <= MaxShingleDf && $"df" >= 2)
      .select($"h")
    sh.join(rare, "h")
  }

  /** D3 — n-gram Jaccard near-dup pairs via inverted-index self-join:
    * explode 3-gram shingles, prune stop-shingles (df cap — also the
    * 100 TB safety valve), join docs sharing a shingle, then
    * |A∩B| / (|A|+|B|-|A∩B|) ≥ threshold. All counts are exact ints, so
    * the jaccard double is oracle-exact. */
  def d3JaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    jaccardCandidates(spark, dir, JaccardThreshold)
      .select($"d1", $"d2", $"shared", $"n1", $"n2", $"jaccard")
      .orderBy($"d1", $"d2")
  }

  /** The shared inverted-index candidate pipeline behind d3 and d9:
    * df-capped shingle self-join → per-pair shared counts → Jaccard ≥
    * `threshold`. One definition so the pair-generation shape (df cap,
    * d1<d2 convention, jaccard formula) cannot drift between the exact
    * query and the edit-distance verifier built on it.
    *
    * Served from the PERSISTED pair index ([[pairIndexModel]]) — the
    * near-dup candidate table is a once-per-corpus-snapshot artifact
    * exactly like the IVF centroids or the d6 cluster table: at 100 TB
    * the pairwise pass runs once and every downstream consumer (report,
    * split, matrix, containment, edit verification, clustering) reads
    * the index; recomputing the self-join per query would repeat the
    * most expensive dedup stage for work whose output never changes
    * between snapshots. Thresholds apply as filters over the index
    * (it stores ALL candidates — ≥ 2 shared rare shingles). */
  private[graft] def jaccardCandidates(spark: SparkSession, dir: String,
                                threshold: Double): DataFrame = {
    import spark.implicits._
    val all = pairIndexModel(spark, dir)
    if (threshold <= 0.0) all else all.filter($"jaccard" >= threshold)
  }

  /** The persisted near-dup pair index (build = one inverted-index
    * self-join pass over the corpus). Spec-asserted equal to a fresh
    * compute, row-for-row (DedupSpec). */
  private[operators] def pairIndexModel(spark: SparkSession,
                                        dir: String): DataFrame =
    graft.sources.ModelStore.table(spark, dir, "documents.parquet",
      s"d3-pair-index-n$ShingleN-df$MaxShingleDf")(
      computePairCandidates(spark, dir))

  /** The actual pairwise pass (store build path; also the fresh side of
    * the store-equivalence spec). */
  private[operators] def computePairCandidates(spark: SparkSession,
                                               dir: String): DataFrame = {
    import spark.implicits._
    val rsh = rareShingles(spark, dir)
    val sizes = rsh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    rsh.as("a").join(rsh.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select($"doc_id".as("d1"), $"n".as("n1")), "d1")
      .join(sizes.select($"doc_id".as("d2"), $"n".as("n2")), "d2")
      .withColumn("jaccard",
        $"shared".cast(DoubleType) / ($"n1" + $"n2" - $"shared"))
  }

  /** Near-dup pairs at the default threshold (d1 < d2), for cross-family
    * composition (p34's effective-size mixture reads these; same persisted
    * index every other d-consumer reads). */
  private[graft] def nearDupPairs(spark: SparkSession,
                                      dir: String): DataFrame =
    jaccardCandidates(spark, dir, JaccardThreshold).select("d1", "d2")

  /** D17 — dedup-threshold sweep: the pair-similarity survival curve
    * read BEFORE committing to a Jaccard cutoff (p27's threshold-sweep
    * discipline applied to the dedup knob): every candidate pair in the
    * persisted d3 index buckets by ⌊jaccard·20⌋ (0.05-wide), and a
    * suffix sum gives, for each candidate threshold, how many pairs a
    * dedup pass at that τ would act on — the curve that shows whether
    * the corpus separates cleanly (a valley between boilerplate overlap
    * and true dups) or τ sits on a cliff where ±0.05 swings the kill
    * set. d3/d6/d13 all currently inherit [[JaccardThreshold]] = 0.8;
    * this is the evidence for (or against) that number per corpus.
    *
    * Scale shape: ONE pass over the pair index (already persisted,
    * already bounded by the df cap — no pairwise work here), a
    * map-side-combined groupBy to ≤ 21 bucket rows, and the suffix-sum
    * window over that constant-sized table (p27's bounded-window rule;
    * the single-partition sort sees ≤ 21 rows at ANY corpus size).
    * Oracle-exact: bucket = floor of the same IEEE jaccard ×20, counts
    * are exact ints, thr one division. */
  def d17JaccardSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val buckets = jaccardCandidates(spark, dir, 0.0)
      .select(floor($"jaccard" * 20).cast("int").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n_pairs"))
    val w = Window.orderBy($"bucket".desc)
    buckets
      .withColumn("n_pairs_ge", sum($"n_pairs").over(w))
      .select($"bucket", ($"bucket".cast(DoubleType) / 20).as("thr"),
        $"n_pairs", $"n_pairs_ge")
      .orderBy($"bucket")
  }

  /** Candidate Jaccard floor for d9's edit-distance verification — looser
    * than JaccardThreshold so the expensive verifier sees borderline pairs
    * the 3-gram estimate alone would keep or kill too eagerly. */
  val EditCandJaccard = 0.5
  /** Max absolute Levenshtein distance for a verified near-dup pair. */
  val EditMaxDist = 40

  /** D9 — edit-distance-verified near-dup: d3's inverted-index blocking
    * (df-capped shingle join, Jaccard ≥ EditCandJaccard) proposes
    * candidates, then exact Levenshtein over the pair's texts confirms
    * them — the two-stage cheap-filter → exact-verify shape every
    * production dedup runs, with the O(L²) DP paid only on the bounded
    * candidate set, never N².
    *
    * Scale: one semi-join reduces the corpus to candidate-referenced
    * docs BEFORE any text moves (r12; guide §3.2), so the corpus text
    * crosses the network only for candidate rows — at the exchanges,
    * not just in the output. The Spark side uses the banded
    * threshold-Levenshtein (O(d·L) early-exit, exact for distances ≤ the
    * threshold, -1 beyond — filtered out either way), so a wildly
    * dissimilar candidate costs O(EditMaxDist·L), not O(L²).
    * edit_sim = 1 - dist/max(len): IEEE ops over exact ints in the same
    * shape as the oracle, so the whole row is hash-exact. */
  def d9EditVerified(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cand = jaccardCandidates(spark, dir, EditCandJaccard)
      .select($"d1", $"d2")
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"n_chars")
    // r12: the old shape shuffled the FULL text column through two
    // forced shuffled-hash joins — every document's text crossed the
    // exchange twice so ~tens of candidate rows could attach (the
    // scaladoc's "text crosses only for candidate rows" held for the
    // OUTPUT, not the exchanges). Guide §3.2/§8: reduce the heavy side
    // before it moves — one semi-join keeps only candidate-referenced
    // docs (candidate-scale by construction), the checkpoint pins that
    // survivor table (two attach legs), and the attach joins then move
    // candidate-scale text once. Hints dropped: both attach sides are
    // candidate-scale now, so the planner's choice (broadcast here,
    // hash at 100 TB) is the right one at every scale.
    val needed = cand.select($"d1".as("doc_id"))
      .union(cand.select($"d2".as("doc_id"))).distinct()
    val ctext = graft.sources.Tables.stage(
      docs.join(needed, Seq("doc_id"), "left_semi"))
    cand
      .join(ctext.select($"doc_id".as("d1"), $"text".as("t1"),
        $"n_chars".as("len1")), "d1")
      .join(ctext.select($"doc_id".as("d2"), $"text".as("t2"),
        $"n_chars".as("len2")), "d2")
      .withColumn("edit_dist", levenshtein($"t1", $"t2", EditMaxDist))
      .filter($"edit_dist" >= 0 && $"edit_dist" <= EditMaxDist)
      .withColumn("edit_sim", lit(1.0) -
        $"edit_dist".cast(DoubleType) / greatest($"len1", $"len2"))
      .select($"d1", $"d2", $"edit_dist", $"len1", $"len2", $"edit_sim")
      .orderBy($"d1", $"d2")
  }

  /** Near-containment threshold: fraction of the smaller document's
    * shingles that must appear in the larger one. */
  val ContainmentThreshold = 0.9

  /** D11 — containment near-dup: pairs where the SMALLER document's
    * shingle set is ≥ ContainmentThreshold inside the larger one —
    * the asymmetric case symmetric Jaccard misses (a short doc quoted
    * wholesale inside a long one has tiny Jaccard but containment ≈ 1).
    * Same df-capped inverted-index candidates as d3 (a containment hit
    * must share shingles, so the candidate set is identical); only the
    * acceptance ratio differs: shared/min(n1,n2), one IEEE division of
    * exact ints — oracle-exact. */
  def d11Containment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    jaccardCandidates(spark, dir, 0.0)
      .withColumn("containment",
        $"shared".cast(DoubleType) / least($"n1", $"n2"))
      .filter($"containment" >= ContainmentThreshold)
      .select($"d1", $"d2", $"shared", $"n1", $"n2", $"containment")
      .orderBy($"d1", $"d2")
  }

  /** D10 — cross-source duplication matrix: for every (source, source)
    * pair, how many near-duplicate document pairs straddle it — the audit
    * a pipeline runs before mixing corpora (a high off-diagonal cell
    * means one source republishes another and mixture weights
    * double-count it). Built on d3's bounded candidate set; sources
    * attach via two joins on doc_id and the pair is normalized with
    * least/greatest so (a,b) and (b,a) land in one cell. max_jaccard is
    * an order-independent aggregate (no double summation), so the row is
    * oracle-exact. */
  def d10CrossSource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = Tables.load(spark, dir, "documents").select($"doc_id", $"source")
    jaccardCandidates(spark, dir, JaccardThreshold)
      .select($"d1", $"d2", $"jaccard")
      .join(src.select($"doc_id".as("d1"), $"source".as("s1")), "d1")
      .join(src.select($"doc_id".as("d2"), $"source".as("s2")), "d2")
      .groupBy(least($"s1", $"s2").as("source_a"),
        greatest($"s1", $"s2").as("source_b"))
      .agg(count(lit(1)).as("n_pairs"), max($"jaccard").as("max_jaccard"))
      .orderBy($"source_a", $"source_b")
  }

  /** MinHash signature table (k hashes), for tests and composition.
    * Shingle keys come from the one-pass ShingleHashes expression; the
    * long-input MinHashSig path then runs k affine transforms per shingle
    * with no string hashing at all. */
  def minHashSignatures(spark: SparkSession, dir: String, k: Int = 32): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        minHashSignature(shingleHashes($"text", ShingleN), k).as("sig"))
  }

  /** D4 — MinHash + LSH banding near-dup: k=32 minhashes, 8 bands × 4 rows;
    * docs colliding in any band become candidates; candidates are verified
    * with the signature-estimated Jaccard (fraction of equal minhashes).
    * Scale: the only shuffle is groupBy (band, bandHash) — signature
    * generation is per-row codegen; candidate verification touches only
    * colliding pairs. Hash values are engine-specific (one-pass
    * ShingleHashes + xxhash64 band buckets), which keeps this the 100 TB
    * default; the REGISTRY row is [[d4MinHashLshMd5]], the md5-family
    * twin whose identical algorithm is oracle-replayable. Recall vs d3's
    * exact pairs is spec-tested for both hash families. */
  def d4MinHashLsh(spark: SparkSession, dir: String,
                   k: Int = 32, bands: Int = 8): DataFrame = {
    import spark.implicits._
    val rows = k / bands
    val sigs = minHashSignatures(spark, dir, k).cache()
    val banded = sigs.select($"doc_id",
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            xxhash64(slice($"sig", b * rows + 1, rows)).as("bucket"))
        }: _*)).as("bb"))
      .select($"doc_id", $"bb.band", $"bb.bucket")
    val cand = banded.as("a").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
    minhashVerify(sigs, cand, k)
  }

  /** Shared verification tail of both d4 hash-family twins: dedupe
    * candidates on id pairs only (8-byte keys through distinct(), not
    * 32-long signature arrays); signatures re-attach by shuffle equi-join
    * on doc_id — the candidate list is hinted as the shuffle-hash build
    * side (candidates ≪ corpus after banding; SHJ skips sorting the
    * signature table twice), never a broadcast (a full-corpus broadcast
    * cannot survive 100 TB); accept by the signature-estimated Jaccard
    * (equal-minhash fraction — one exact-int count / k, IEEE-identical in
    * the oracle). ONE definition so the twins — and the plan audits that
    * run under the registry name — cannot drift. */
  private def minhashVerify(sigs: DataFrame, cand: DataFrame,
                            k: Int): DataFrame = {
    import sigs.sparkSession.implicits._
    cand
      .distinct()
      .hint("shuffle_hash")
      .join(sigs.select($"doc_id".as("d1"), $"sig".as("sig1")), "d1")
      .hint("shuffle_hash")
      .join(sigs.select($"doc_id".as("d2"), $"sig".as("sig2")), "d2")
      .withColumn("est_jaccard",
        size(filter(zip_with($"sig1", $"sig2", (x, y) => x === y),
          eq => eq)).cast(DoubleType) / k)
      .filter($"est_jaccard" >= JaccardThreshold)
      .select($"d1", $"d2", $"est_jaccard")
      .orderBy($"d1", $"d2")
  }

  /** Max Hamming distance (of 64) for SimHash near-dups. */
  val SimHashMaxDist = 10

  /** Document-count threshold where SimHash banding switches from
    * C(8,2)=28 16-bit band-PAIR keys to C(8,3)=56 24-bit band-TRIPLE
    * keys. Random collisions are quadratic under ANY banding
    * (≈ N²/2 · keys/buckets) so the lever is the coefficient: pairs give
    * 28/2¹⁶ ≈ 4.3·10⁻⁴, triples 56/2²⁴ ≈ 3.3·10⁻⁶ — 128× smaller,
    * reaching the same candidate budget at ~11× more documents (the v3
    * adaptive-width lesson applied to the signature side; at the sf1
    * rung pairs generated ~5·10⁷ candidate rows and dominated the
    * query). The price is pigeonhole strength: ≥3 clean bands need ≤5
    * dirty bits (pairs guarantee ≤6); distances 6..[[SimHashMaxDist]]
    * become probabilistic. The oracle replays the SAME switch from its
    * own count(*), so the registry row stays oracle-exact at every
    * scale; DedupSpec pins the triple guarantee structurally. */
  val SimHashTripleCutoff = 200000L

  private[operators] def docCount(spark: SparkSession, dir: String): Long =
    Tables.countMemo(spark, dir, "documents")

  /** The adaptive band-arity switch, made SELF-DIAGNOSING: the DuckDB
    * oracle re-counts documents live while the engine reads the
    * content-stamped memo, so a (theoretical) stale memo crossing the
    * [[SimHashTripleCutoff]] would band the two engines differently and
    * surface as a confusing full-row mismatch. Logging the memoized
    * count and the chosen arity at query-build time turns that failure
    * mode into a one-line diff against the oracle's count(*). */
  private[operators] def simHashArityFor(spark: SparkSession,
                                         dir: String): Int = {
    val n = docCount(spark, dir)
    val a = simHashArity(n)
    System.err.println(
      s"[d5] memoized documents count=$n -> simhash band arity=$a " +
        s"(triple cutoff $SimHashTripleCutoff)")
    a
  }

  private[operators] def simHashArity(n: Long): Int =
    if (n >= SimHashTripleCutoff) 3 else 2

  /** Band index sets (with stable band ids) for a given arity — ONE
    * definition consumed by both hash-family twins AND the oracle
    * generator, so banding cannot drift. */
  private[operators] def simHashBands(arity: Int): Seq[(Int, Seq[Int])] = {
    require(arity == 2 || arity == 3, s"unsupported band arity $arity")
    val combos: Seq[Seq[Int]] =
      if (arity == 2)
        for (i <- 0 until 8; j <- i + 1 until 8) yield Seq(i, j)
      else
        for (i <- 0 until 8; j <- i + 1 until 8; l <- j + 1 until 8)
          yield Seq(i, j, l)
    combos.zipWithIndex.map { case (c, idx) => (idx, c) }
  }

  /** D5 — SimHash near-dup: 64-bit signature per doc, candidates via
    * band-set collisions with ADAPTIVE arity ([[simHashArity]]): under
    * [[SimHashTripleCutoff]] documents, all C(8,2)=28 pairs of the eight
    * 8-bit bands form 16-bit keys (pigeonhole: ≤6 dirty bits leave ≥2
    * clean bands, so Hamming ≤ 6 is GUARANTEED found); at or above the
    * cutoff, C(8,3)=56 band triples form 24-bit keys (guarantee ≤ 5;
    * 128× smaller random-collision coefficient — see the cutoff's doc).
    * Distances above the guarantee up to SimHashMaxDist are found
    * probabilistically (recall spec'd in DedupSpec). Verified by Hamming
    * distance ≤ SimHashMaxDist. Engine-specific hashing (one-pass
    * SimHash64) keeps this the 100 TB default; the REGISTRY row is
    * [[d5SimHashMd5]], the md5-family twin replayed exactly by DuckDB
    * (including the arity switch, from DuckDB's own count(*)).
    *
    * Scale: random collisions are inherently quadratic under ANY banding —
    * ≈ N²/2 × (keys/buckets) — so the lever is the coefficient: single
    * 8-bit bands give 8/256 = 1/32, band pairs give 28/65536 ≈ 1/2341, a
    * 73× smaller constant (MEASURED on 50k uniform-sig synthetic docs:
    * 43.8M → 0.67M candidate pairs, 65×; `graft.Profile d5probe`). The
    * same candidate budget is reached at √73 ≈ 8.5× more documents, paid
    * with a 28-row/doc explode of (2-byte key, 8-byte id) — linear. */
  def d5SimHash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // spread=true (r12): the per-token-md5 signature build fuses into
    // the scan stage ahead of the cache materialization
    val sigs = Tables.load(spark, dir, "documents", spread = true)
      .select($"doc_id", simHash(tokens($"text")).as("sig")).cache()
    def byte(j: Int): Column =
      shiftright($"sig", j * 8).bitwiseAND(lit(0xffL))
    val bandKeys = simHashBands(simHashArityFor(spark, dir))
      .map { case (bid, idxs) =>
        struct(lit(bid).as("band"),
          idxs.map(byte).reduceLeft((a, b) => a * 256 + b).as("bucket"))
      }
    val banded = sigs.select($"doc_id", $"sig",
      explode(array(bandKeys: _*)).as("bb"))
      .select($"doc_id", $"sig", $"bb.band", $"bb.bucket")
    banded.as("a").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
        hamming($"a.sig", $"b.sig").as("dist"))
      .distinct()
      .filter($"dist" <= SimHashMaxDist)
      .orderBy($"d1", $"d2")
  }

  /** DuckDB expression text: the numeric value of `n` hex digits of
    * `md5(col)` starting at 1-based `start`, as a Horner fold over
    * position-in-alphabet arithmetic (the p2/p17 md5-parity trick —
    * DuckDB has no conv(); Spark's `conv(substring(md5(x),start,n),16,10)`
    * produces the identical integer). */
  private def duckMd5Long(col: String, start: Int, n: Int): String =
    (start until start + n)
      .map(i => s"(instr('0123456789abcdef', substring(md5($col), $i, 1)) - 1)")
      .reduce((acc, d) => s"($acc * 16 + $d)")

  import graft.plans.MinHashSig.{P => MinHashP, a => minhashA, b => minhashB}

  /** D4 registry path — MinHash + LSH banding with an md5-derived base
    * hash: h(s) = the first 8 hex digits of md5(shingle) as an integer.
    * Identical algorithm to [[d4MinHashLsh]] (k=32 affine minima, 8 bands
    * of 4 rows, band-collision candidates, signature-estimated Jaccard
    * verify) but every number is replayable in ANSI SQL, so the query is
    * ORACLE-EXACT: DuckDB recomputes base hashes (md5 parity), the affine
    * transforms (constants from [[graft.plans.MinHashSig]], products
    * < 2^62 — exact in BIGINT), the band joins (on the 4 raw minima, no
    * bucket hashing), and the estimate (exact-int count / 32).
    *
    * The xxhash-family twin stays the 100 TB default — md5 costs ~5-10×
    * per shingle at the scan (d14's documented tradeoff, same reason) —
    * but the shapes are identical: signatures are one groupBy-free
    * expression per row, the only shuffles are the band self-join on
    * ≤32-byte keys and the two signature re-attach joins, hinted
    * shuffle_hash (candidates ≪ corpus; never a corpus broadcast). */
  def d4MinHashLshMd5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 32; val bands = 8; val rows = k / bands
    // Md5SpanHashes = the conv(substring(md5(concat_ws…))) HOF in ONE
    // native pass (the HOF formulation measured 3.1 s at sf0.1 — an
    // interpreted lambda + md5 + conv per shingle; the v3 lesson again)
    val sigs = Tables.load(spark, dir, "documents")
      .select($"doc_id",
        graft.plans.VectorExpressions.md5SpanHashes($"text", ShingleN).as("hs"))
      .filter(size($"hs") > 0)
      .select($"doc_id", minHashSignature($"hs", k).as("sig"))
      .cache()
    val banded = sigs.select($"doc_id",
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            $"sig"(b * rows).as("k0"), $"sig"(b * rows + 1).as("k1"),
            $"sig"(b * rows + 2).as("k2"), $"sig"(b * rows + 3).as("k3"))
        }: _*)).as("bb"))
      .select($"doc_id", $"bb.band", $"bb.k0", $"bb.k1", $"bb.k2", $"bb.k3")
    val cand = banded.as("a").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.k0" === $"b.k0" &&
          $"a.k1" === $"b.k1" && $"a.k2" === $"b.k2" &&
          $"a.k3" === $"b.k3" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
    minhashVerify(sigs, cand, k)
  }

  /** DuckDB oracle for [[d4MinHashLshMd5]] — generated, with the affine
    * constants embedded as literals. */
  private[operators] def d4Md5OracleSql: String = {
    val k = 32; val bands = 8; val rows = k / bands
    val mins = (0 until k).map(i =>
      s"min((${minhashA(i)} * h + ${minhashB(i)}) % $MinHashP) AS m$i")
      .mkString(",\n|  ")
    val bandArms = (0 until bands).map { b =>
      val ks = (0 until rows).map(r => s"m${b * rows + r} AS k$r").mkString(", ")
      s"SELECT doc_id, $b AS band, $ks FROM sig"
    }.mkString("\n|  UNION ALL ")
    val eq = (0 until k).map(i =>
      s"(CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH docs AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |shl AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - ${ShingleN - 1}),
       |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
       |        FROM docs WHERE len(w) >= $ShingleN),
       |mh AS (SELECT doc_id, ${duckMd5Long("s", 1, 8)} % $MinHashP AS h FROM shl),
       |sig AS (SELECT doc_id,
       |  $mins
       |  FROM mh GROUP BY doc_id),
       |banded AS (
       |  $bandArms),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM banded a JOIN banded b
       |           ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
       |          AND a.k2 = b.k2 AND a.k3 = b.k3 AND a.doc_id < b.doc_id),
       |est AS (SELECT d1, d2, $eq AS neq
       |        FROM cand JOIN sig x ON d1 = x.doc_id JOIN sig y ON d2 = y.doc_id)
       |SELECT d1, d2, CAST(neq AS DOUBLE) / $k AS est_jaccard
       |FROM est WHERE CAST(neq AS DOUBLE) / $k >= $JaccardThreshold
       |ORDER BY d1, d2""".stripMargin
  }

  /** D5 registry path — SimHash over md5-derived 64-bit token hashes
    * (hi/lo = hex digits 1-8 / 9-16 of md5(token), each < 2^32 so every
    * shift is on a non-negative value and arithmetic matches DuckDB's
    * logical `//`). Same algorithm as [[d5SimHash]]: per-bit ±1 votes
    * over token occurrences, majority sign per bit (tie → 0),
    * ADAPTIVE-arity band candidates ([[simHashArity]]: C(8,2)=28 16-bit
    * pair keys under [[SimHashTripleCutoff]] docs, C(8,3)=56 24-bit
    * triple keys at or above), Hamming ≤ [[SimHashMaxDist]] verify —
    * but ORACLE-EXACT: DuckDB replays votes as 64 SUM columns, packs the
    * signature halves, re-derives the band keys (BOTH arity sets,
    * guarded by its own count(*)) with integer div/mod, and verifies
    * with bit_count(xor()).
    *
    * Shape at scale: the signature is one native expression per row
    * (no explode, no aggregation — see the body comment); banding
    * explodes 28 or 56 fixed rows/doc of (≤3-byte key, 8-byte id);
    * random collisions carry the arity-dependent coefficient documented
    * at [[SimHashTripleCutoff]]. */
  def d5SimHashMd5(spark: SparkSession, dir: String): DataFrame =
    d5SimHashMd5(spark, dir, forcedArity = None)

  private[operators] def d5SimHashMd5(spark: SparkSession, dir: String,
                                      forcedArity: Option[Int]): DataFrame = {
    import spark.implicits._
    // Md5SimHashPair votes all 64 bits in one native pass per document —
    // no token explode, no 64-sum aggregation, no shuffle for signatures
    // (the exploded SQL formulation, which the oracle still replays,
    // measured 1.8 s at sf0.1; this path is pure map work)
    val sigs = Tables.load(spark, dir, "documents")
      .select($"doc_id",
        graft.plans.VectorExpressions.md5SimHashPair($"text").as("s"))
      .select($"doc_id", $"s.hi".as("hi"), $"s.lo".as("lo"))
      .cache()
    def byte(j: Int): Column =
      if (j < 4) shiftright($"lo", 8 * j).bitwiseAND(lit(0xffL))
      else shiftright($"hi", 8 * (j - 4)).bitwiseAND(lit(0xffL))
    val arity = forcedArity.getOrElse(simHashArityFor(spark, dir))
    val bandKeys = simHashBands(arity).map { case (bid, idxs) =>
      struct(lit(bid).as("band"),
        idxs.map(byte).reduceLeft((a, b) => a * 256 + b).as("bucket"))
    }
    val banded = sigs.select($"doc_id", $"hi", $"lo",
        explode(array(bandKeys: _*)).as("bb"))
      .select($"doc_id", $"hi", $"lo", $"bb.band", $"bb.bucket")
    banded.as("a").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
        (bit_count($"a.hi".bitwiseXOR($"b.hi")) +
          bit_count($"a.lo".bitwiseXOR($"b.lo"))).as("dist"))
      .distinct()
      .filter($"dist" <= SimHashMaxDist)
      .orderBy($"d1", $"d2")
  }

  /** DuckDB oracle for [[d5SimHashMd5]] — generated 64-sum vote replay.
    * The cutoff parameterization exists so the TRIPLE arms can be
    * cross-engine-checked at fixture scale (cutoff 1 forces them); the
    * registry entry always uses [[SimHashTripleCutoff]]. */
  private[operators] def d5Md5OracleSql: String =
    d5Md5OracleSql(SimHashTripleCutoff)

  private[operators] def d5Md5OracleSql(cutoff: Long): String = {
    def votes(src: String, pre: String) = (0 until 32).map(b =>
      s"SUM(2 * (($src // ${1L << b}) % 2) - 1) AS $pre$b").mkString(",\n|  ")
    def pack(pre: String) = (0 until 32).map(b =>
      s"(CASE WHEN $pre$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    val byteExpr = (0 until 8).map { j =>
      if (j < 4) s"(lo // ${1L << (8 * j)}) % 256 AS b$j"
      else s"(hi // ${1L << (8 * (j - 4))}) % 256 AS b$j"
    }.mkString(", ")
    // the arity switch replays from DuckDB's own count(*) — only one
    // guard set is live per run, so band-id overlap across sets is moot
    def arms(arity: Int, guard: String) = simHashBands(arity)
      .map { case (bid, idxs) =>
        val bucket = idxs.map(i => s"b$i")
          .reduceLeft((a, b) => s"($a * 256 + $b)")
        s"SELECT doc_id, hi, lo, $bid AS band, $bucket AS bucket FROM byt WHERE $guard"
      }.mkString("\n|  UNION ALL ")
    val bandArms =
      arms(2, s"(SELECT n FROM cnt) < $cutoff") +
        "\n|  UNION ALL " +
        arms(3, s"(SELECT n FROM cnt) >= $cutoff")
    s"""WITH cnt AS (SELECT count(*) AS n FROM documents),
       |docs AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |tok AS (SELECT doc_id, unnest(w) AS tok FROM docs),
       |th AS (SELECT doc_id, ${duckMd5Long("tok", 1, 8)} AS thi,
       |         ${duckMd5Long("tok", 9, 8)} AS tlo FROM tok),
       |voted AS (SELECT doc_id,
       |  ${votes("thi", "vh")},
       |  ${votes("tlo", "vl")}
       |  FROM th GROUP BY doc_id),
       |sig AS (SELECT doc_id, ${pack("vh")} AS hi, ${pack("vl")} AS lo FROM voted),
       |byt AS (SELECT doc_id, hi, lo, $byteExpr FROM sig),
       |banded AS (
       |  $bandArms),
       |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |    CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT) AS dist
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |SELECT d1, d2, dist FROM pairs WHERE dist <= $SimHashMaxDist
       |ORDER BY d1, d2""".stripMargin
  }

  /** D16 — longest duplicated token run per near-dup pair: for every d3
    * pair, the length (in tokens) of the longest VERBATIM shared substring
    * — the audit that separates template overlap (many short runs) from
    * wholesale copying (one long run), the span-level granularity of
    * Lee et al. 2021 applied to pairs instead of d8/d14's corpus-wide
    * position sets.
    *
    * Method: shared positional 3-grams of a pair are dots in its match
    * matrix; a verbatim run is a maximal diagonal of consecutive dots
    * (same p1 − p2), found with the gaps-and-islands trick — group by
    * (diagonal, p1 − row_number) and count. Longest run of g grams =
    * g + n − 1 tokens.
    *
    * Scale shape: everything is bounded by the CANDIDATE pairs (the
    * persisted d3 pair index), never the corpus — the gram explode
    * touches only documents that appear in some pair (the semi-join
    * prunes the scan), shared-dot discovery is an equi-join on 8-byte
    * positional ShingleHashes keys (gram strings never shuffle; the
    * oracle joins on gram text — 64-bit keys preserve its equality
    * relation whp, d3's dictionary-encoding argument), and the island
    * window partitions by (pair, diagonal) — worst case one pair's dot
    * set, never a global sort. */
  def d16LongestDupSpan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = jaccardCandidates(spark, dir, JaccardThreshold)
      .select($"d1", $"d2")
    val needed = pairs.select($"d1".as("doc_id"))
      .union(pairs.select($"d2".as("doc_id"))).distinct()
    // grams feeds both attach legs; sharing it via localCheckpoint was
    // MEASURED 1.15× worse at sf0.1 (r12 interleaved cmp: the candidate
    // set is df-capped small, so the barrier costs more than the saved
    // re-explode) — left recomputed deliberately
    val grams = Tables.load(spark, dir, "documents")
      .join(needed, "doc_id")
      .select($"doc_id",
        posexplode(shingleHashesPos($"text", ShingleN)).as(Seq("p0", "g")))
      .select($"doc_id", ($"p0" + 1).as("p"), $"g")
    val shared = pairs
      .join(grams.select($"doc_id".as("d1"), $"p".as("p1"), $"g"), "d1")
      .join(grams.select($"doc_id".as("d2"), $"p".as("p2"), $"g"), Seq("d2", "g"))
      .select($"d1", $"d2", $"p1", $"p2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"d1", $"d2", $"diag").orderBy($"p1")
    shared.withColumn("diag", $"p1" - $"p2")
      .withColumn("grp", $"p1" - row_number().over(w))
      .groupBy($"d1", $"d2", $"diag", $"grp")
      .agg(count(lit(1)).as("run"))
      .groupBy($"d1", $"d2")
      .agg((max($"run") + (ShingleN - 1)).as("longest_tokens"))
      .orderBy($"d1", $"d2")
  }

  /** Distributed connected components over an undirected pair graph via
    * alternating large-star / small-star contractions (the MapReduce CC
    * algorithm of Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): converges in O(log n) star passes even on
    * adversarial long-chain components, where plain min-label propagation
    * needs component-diameter rounds. Each pass is one groupBy + one join
    * over the edge set (8-byte ids only); `localCheckpoint` truncates the
    * iterative lineage.
    *
    * Convergence is an exact edge-set-equality check (equal counts + empty
    * anti-join) — no aggregate fingerprint, so no 64-bit-wraparound
    * false-convergence risk at any id range. At the fixpoint every
    * component is a star rooted at its min node, which IS the label table.
    *
    * Adaptive small-graph finish: the canonical edge set is counted once
    * (the count job doubles as the checkpoint materialization) and, when
    * it fits under `driverEdgeLimit`, the components are closed with a
    * driver-side union-find instead of star rounds — the same runtime
    * adaptivity as AQE's broadcast threshold. The budget is the TRANSIENT
    * collect cost, which is Row objects, not packed longs: ~100 B/edge ≈
    * 100 MB at the default 1M — sized to fit a stock 1 GB driver, not
    * just this repo's test JVM. A near-dup pair graph is sparse by
    * construction (pairs ≥ threshold), but nothing REQUIRES it to stay
    * under the limit: above it, the distributed star passes run unchanged
    * — that is the 100 TB path, and the spec pins its O(log n) chain
    * bound by forcing `driverEdgeLimit = 0`.
    *
    * Returns (node → rep labels, number of star passes taken — 0 when the
    * driver finish ran). Input may carry any two numeric columns;
    * self-pairs are dropped. */
  def connectedComponents(pairs: DataFrame,
                          driverEdgeLimit: Long = 1_000_000L): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val cols = pairs.columns
    // canonical undirected edges (a < b), deduped
    var edges = graft.sources.Tables.stage(pairs
      .select(least(col(cols(0)), col(cols(1))).cast("long").as("a"),
        greatest(col(cols(0)), col(cols(1))).cast("long").as("b"))
      .where($"a" =!= $"b").distinct())

    if (edges.count() <= driverEdgeLimit) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // LongMap keys, not a boxed sorted set: 8M boxed Longs in a
      // red-black tree would multiply the collect's memory several-fold
      val nodes = scala.collection.mutable.LongMap.empty[Unit]
      edges.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        nodes(a) = (); nodes(b) = ()
        val (ra, rb) = (find(a), find(b))
        // union by min: the smaller root absorbs, so (inductively) every
        // root is its component's min — the star fixpoint's labeling
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = nodes.keysIterator.map(n => (n, find(n))).toSeq
      return (spark.createDataFrame(labels).toDF("node", "rep"), 0)
    }

    // large-star(u): m = min(Γ(u) ∪ {u}); connect every STRICTLY LARGER
    // neighbor v to m. Output edges are canonical (m < v) by construction.
    def largeStar(e: DataFrame): DataFrame = {
      val bidir = e.select($"a", $"b")
        .union(e.select($"b".as("a"), $"a".as("b")))
      val mins = bidir.groupBy($"a").agg(min($"b").as("mb"))
        .select($"a", least($"mb", $"a").as("m"))
      bidir.join(mins, "a").where($"b" > $"a")
        .select($"m".as("a"), $"b")
        .distinct()
    }

    // small-star(u): over the SMALLER-or-equal neighborhood N (edges
    // oriented toward their larger endpoint), m = min(N); connect every
    // other v ∈ N and u itself to m.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy($"b").agg(min($"a").as("m"))
      e.join(mins, "b").where($"a" =!= $"m")
        .select($"m".as("a"), $"a".as("b"))
        .union(mins.select($"m".as("a"), $"b"))
        .where($"a" =!= $"b")
        .distinct()
    }

    var rounds = 0
    var converged = edges.isEmpty
    while (!converged && rounds < 100) {
      val next = graft.sources.Tables.stage(smallStar(largeStar(edges)))
      // set equality: both sides are distinct, so the symmetric difference
      // (either side null after a full outer join) being empty means
      // identical edge sets — ONE probe job per round, vs the previous
      // count+count+anti-join trio (the star rounds are checkpoint-bounded
      // tiny jobs, so scheduling overhead was the dominant per-round cost)
      converged = next.withColumn("l", lit(1))
        .join(edges.withColumn("r", lit(1)), Seq("a", "b"), "full_outer")
        .filter($"l".isNull || $"r".isNull)
        .isEmpty
      edges = next
      rounds += 1
    }
    // fixpoint edges are (root, member) stars; the groupBy(min) is a
    // safety net that also folds roots (rep = self) into the label table
    val labels = edges.select($"b".as("node"), $"a".as("rep"))
      .union(edges.select($"a".as("node"), $"a".as("rep")))
      .groupBy($"node").agg(min($"rep").as("rep"))
    (labels, rounds)
  }

  /** The fitted near-dup cluster table (doc_id → cluster_rep,
    * cluster_size; only docs that appear in the pair graph), persisted
    * through ModelStore — the d-family's fit/apply split, the same
    * production shape the ANN family adopted in round 5: clusters are a
    * corpus-snapshot artifact consumed by four queries (d6/d7/d12/d13);
    * re-deriving the pair graph + connected components per query re-scans
    * the corpus for an output that never changes between snapshots. The
    * model name embeds every fit parameter (shingle width, df cap,
    * Jaccard threshold) so a recipe change invalidates the store; the
    * adaptive driver/distributed CC finish does not appear in the name
    * because both paths produce identical labels (spec'd equivalence). */
  private[operators] def clusterModel(spark: SparkSession,
                                      dir: String): DataFrame =
    graft.sources.ModelStore.table(spark, dir, "documents.parquet",
        s"dedup-clusters-n$ShingleN-df$MaxShingleDf-j$JaccardThreshold") {
      import spark.implicits._
      val pairs = d3JaccardPairs(spark, dir).select($"d1", $"d2")
      val (labels, _) = connectedComponents(pairs)
      val sizes = labels.groupBy($"rep").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "rep")
        .select($"node".as("doc_id"), $"rep".as("cluster_rep"),
          $"cluster_size")
    }

  /** D6 — dedup cluster formation: connected components over the D3
    * near-dup pair graph, so every document maps to one canonical
    * representative (the min doc_id in its component) — the step a real
    * dedup pipeline runs after pair generation, since near-duplicate is
    * not transitive but retention decisions must be. Componentry runs on
    * [[connectedComponents]] (large-star/small-star, O(log n) rounds);
    * the adversarial-chain bound is spec-tested in PipelineSpec. Serves
    * the persisted [[clusterModel]] (fit once per corpus snapshot). */
  def d6DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    clusterModel(spark, dir).orderBy($"doc_id")
  }

  /** D7 — canonical selection: within each near-dup cluster (d6), keep the
    * highest-quality document (t2's score; ties to the lowest doc_id) —
    * the retention policy step after cluster formation: dedup pipelines
    * keep the BEST copy, not an arbitrary one. Window ranks run per
    * cluster (keyed, parallel); cluster tables are a tiny fraction of the
    * corpus by the time this runs. */
  def d7CanonicalSelection(spark: SparkSession, dir: String): DataFrame =
    canonicalSelection(clusterModel(spark, dir),
      TextAnalysis.t2QualityScore(spark, dir))
      .orderBy(col("cluster_rep"))

  /** The d7 keep rule over a precomputed cluster table — factored out so
    * d12 can reuse ONE cluster computation for both the keep set and the
    * report (the cluster table is a driver-local relation after the
    * adaptive CC finish, so re-referencing it is free). */
  private def canonicalSelection(clusters: DataFrame,
                                 quality: DataFrame): DataFrame = {
    val spark = clusters.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_rep")
      .orderBy($"quality_score".desc, $"doc_id".asc)
    clusters.join(quality.select($"doc_id", $"quality_score"), "doc_id")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"cluster_rep", $"doc_id".as("keep_id"),
        $"quality_score".as("keep_quality"), $"cluster_size")
  }

  /** D12 — dedup report: the per-(source, lang) summary a corpus pipeline
    * publishes after a dedup pass — how many documents, how many sit in
    * near-dup clusters, how many clusters touch the group, and how many
    * documents survive retention (non-clustered docs plus each cluster's
    * d7 canonical keep). survivor_ratio is one IEEE division of exact
    * counts.
    *
    * Scale shape: one d3+CC cluster computation feeds both the keep
    * selection and the report (the label table is driver-local after the
    * adaptive finish); the report itself is a broadcast-sized left join
    * onto the corpus metadata — text never moves. count(DISTINCT
    * cluster_rep) expands only the CLUSTERED rows (a small fraction of
    * any real corpus by construction), unlike a corpus-wide exact
    * distinct. */
  def d12DedupReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val clusters = clusterModel(spark, dir)
    val keeps = canonicalSelection(clusters,
        TextAnalysis.t2QualityScore(spark, dir))
      .select($"keep_id".as("doc_id"), lit(1).as("kept"))
    Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source", $"lang")
      .join(clusters.select($"doc_id", $"cluster_rep"), Seq("doc_id"), "left")
      .join(keeps, Seq("doc_id"), "left")
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        count($"cluster_rep").as("n_clustered"),
        countDistinct($"cluster_rep").as("n_clusters"),
        (count(lit(1)) - count($"cluster_rep") + count($"kept"))
          .as("n_survivors"))
      .withColumn("survivor_ratio",
        $"n_survivors".cast(DoubleType) / $"n_docs")
      .orderBy($"source", $"lang")
  }

  /** D8 — duplicated-span coverage (the audit behind substring-level
    * dedup, à la Lee et al. 2021 "Deduplicating Training Data Makes
    * Language Models Better"): per document, the fraction of its distinct
    * 3-gram spans that also occur in at least one other document. High
    * `dup_fraction` docs are boilerplate/templated content that exact and
    * near-dup passes (d1–d7) miss because the *document* is unique even
    * though its *text spans* are not.
    *
    * Scale shape: identical to d3's index — the corpus is exploded to
    * 8-byte shingle keys by the one-pass ShingleHashes expression, the
    * span-frequency table is one map-side-combined groupBy(h), and the
    * re-attach join moves only (doc_id, h) pairs with AQE-splittable hot
    * keys (NOT a count-over-window, whose hot-shingle partition would be
    * one unsplittable task at scale — see rareShingles); no df cap is
    * needed because nothing here is quadratic (no self-join — per-doc
    * aggregation only). dup_fraction is one IEEE division of two exact
    * counts, so the result is oracle-exact. */
  def d8DuplicateSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = Tables.load(spark, dir, "documents")
      .select($"doc_id", explode(shingleHashes($"text", ShingleN)).as("h"))
    val df = sh.groupBy($"h").agg(count(lit(1)).as("df"))
    sh.join(df, "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"df" >= 2, 1L).otherwise(0L)).as("n_dup_shingles"))
      .withColumn("dup_fraction",
        $"n_dup_shingles".cast(DoubleType) / $"n_shingles")
      .orderBy($"doc_id")
  }

  /** First-md5-hex-digit bound for d13's valid split: digits 0–3 of 16
    * → ~25% of split UNITS land in valid. */
  val SplitValidHexMax = "4"

  /** D13 — dedup-aware leakage-free train/valid split: the split unit is
    * the near-dup CLUSTER, not the document — every doc inherits its d6
    * cluster representative's assignment (singletons are their own unit),
    * so no near-duplicate pair can straddle the split. The ML-hygiene
    * step that makes held-out loss mean something: with a naive per-doc
    * split, ~every valid doc with a training-set near-dup is leaked
    * (Lee et al. 2021 measure exactly this inflation). Assignment is
    * p2's deterministic salted-md5 rule on the unit id — reproducible
    * across runs and engines, no RNG.
    *
    * Scale shape: one d6 cluster computation (near-dup pairs → CC);
    * corpus left-joins the (small by construction) cluster table on
    * doc_id, then the split is a map-side hash — text never moves. */
  def d13LeakageSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val clusters = clusterModel(spark, dir)
      .select($"doc_id", $"cluster_rep")
    Tables.load(spark, dir, "documents")
      .select($"doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_rep", $"doc_id").as("split_unit"))
      .withColumn("split", when(
        substring(md5(concat(lit("split"), $"split_unit".cast("string"))),
          1, 1) < SplitValidHexMax, "valid").otherwise("train"))
      .orderBy($"doc_id")
  }

  /** D14 — duplicated-span REMOVAL (the transform behind Lee et al. 2021
    * substring dedup, where d8 is the audit): every token position
    * covered by a 3-gram span that occurs in ≥ 2 distinct documents is
    * cut; the document keeps the remaining tokens in order. Output is
    * digest-only (p6/p10 rule): token counts + md5 of the cleaned text —
    * at scale the cleaned corpus is written to shards, never returned.
    *
    * Scale shape: the gram table is one narrow in-row explode (start
    * positions via a sequence HOF); span frequency is a map-side-combined
    * groupBy; the dup-span re-attach is an AQE-skew-splittable equi-join;
    * covered positions explode ≤ 3 rows per dup span and collapse by
    * (doc, pos); the cleaned text is a per-doc sorted-struct rebuild —
    * everything keyed, nothing quadratic, no df cap needed (no
    * self-join). The registry runs the PRODUCTION keying — d3's 8-byte
    * ShingleHashes in positional mode — so the gram shuffle carries
    * LongType keys, not 32-char md5 strings (~2× on the whole query).
    * The oracle still matches: span coverage depends only on gram-key
    * EQUALITY, and 64-bit keys preserve the md5 keys' equality relation
    * whp (collision odds ~G²/2⁶⁵ — the same dictionary-encoding argument
    * d3's oracle rides). The md5 keying is retained
    * (`productionKeys = false`) and DedupSpec proves both identical
    * row-for-row. */
  def d14SpanRemoval(spark: SparkSession, dir: String): DataFrame =
    d14SpanRemoval(spark, dir, productionKeys = true)

  private[operators] def d14SpanRemoval(spark: SparkSession, dir: String,
                                        productionKeys: Boolean): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", tokens($"text").as("w"))
    // docs shorter than one 3-gram emit no spans (sequence(1, n) with
    // n < 1 would generate DESCENDING starts — filter, don't clamp)
    val grams =
      if (productionKeys)
        // one native pass over the raw bytes, no gram strings ever built;
        // posexplode is 0-based, the md5 path's `start` is 1-based
        Tables.load(spark, dir, "documents")
          .select($"doc_id",
            posexplode(shingleHashesPos($"text", ShingleN)).as(Seq("p0", "g")))
          .select($"doc_id", ($"p0" + 1).as("start"), $"g")
      else docs.filter(size($"w") >= ShingleN)
        .select($"doc_id",
          explode(expr(
            "transform(sequence(1, size(w) - 2), " +
              "i -> struct(i AS start, md5(concat_ws(' ', slice(w, i, 3))) AS g))"))
            .as("s"))
        .select($"doc_id", $"s.start", $"s.g")
    // dup detection fused into ONE corpus gram pass (r13; guide §2.4
    // "remove shuffles outright" / §1.2 "don't recompute"): a gram is a
    // dup span iff it occurs in ≥ 2 DISTINCT documents iff
    // min(doc_id) ≠ max(doc_id) over its occurrence rows — an exact
    // identity, so the unbounded-frame window over one hashpartition(g)
    // exchange replaces the old aggregate-then-rejoin shape (distinct
    // (doc,g) shuffle → per-g count → broadcast back onto a SECOND
    // corpus gram explode: 2 shingle_hashes Generates, 2 corpus-scale
    // exchanges in the r12 plan). The window sorts by g only (no
    // orderBy ⇒ whole-partition frame) and spills per group, so a hot
    // gram degrades to disk, never OOM; interleaved cmp min-of-3 at
    // sf0.1: 0.72× vs the r12 shape (re-measured at commit time).
    //
    // covered positions aggregate to ONE array row per touched doc —
    // the shuffle is sized by DUP SPANS (3 positions per dup gram,
    // set-collapsed), not by the corpus: the token explode + anti-join
    // + collect_list rebuild this replaces shuffled EVERY corpus token
    // twice (by (doc, pos) for the anti join, then into the per-doc
    // re-sort), ~2× the whole query at sf0.1 and a corpus-wide text
    // shuffle at any scale. Here the document text never leaves its
    // scan: the rebuild is a map-side native FilterPositions walk
    // (O(n + |cut|)/doc) against the joined cut array.
    val wg = org.apache.spark.sql.expressions.Window.partitionBy($"g")
    val covered = grams
      .withColumn("mn", min($"doc_id").over(wg))
      .withColumn("mx", max($"doc_id").over(wg))
      .filter($"mn" =!= $"mx")
      .select($"doc_id",
        explode(sequence($"start", $"start" + (ShingleN - 1))).as("pos"))
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
        // a fully-cut document cleans to the empty string (md5(""))
        md5(concat_ws(" ", $"kept")).as("cleaned_digest"))
      .orderBy($"doc_id")
  }

  /** The delta slice for d15: doc_id % 10 == IncrMod arrives "after" the
    * base snapshot (v17's DeltaMod convention on the vector side). */
  val IncrMod = 7

  /** The d15 base posting index: (shingle hash → base doc) for every
    * base-slice shingle whose BASE document frequency is ≤
    * [[MaxShingleDf]] — hot-in-base shingles are the increment's
    * stop-shingles. Unlike d3's rare filter there is NO df ≥ 2 floor: a
    * base-df-1 shingle can't pair in a self-join, but it is exactly what
    * an arriving duplicate of that one base doc shares. Persisted via
    * ModelStore: the index IS the incremental contract — a delta batch
    * must admit against the snapshot WITHOUT re-scanning the 100 TB
    * base, so the posting index (≈16 bytes × base shingles, partitioned
    * by hash in production) is the artifact you keep, the dedup
    * counterpart of v17's IVF centroid store. */
  /** The base-hot stop-shingle set (base df > cap), persisted beside the
    * posting index: the delta batch needs it to trim its OWN shingle
    * sets, and must get it from the snapshot artifact — not by
    * re-scanning the base. */
  private[graft] def baseHotModel(spark: SparkSession,
                                      dir: String): DataFrame =
    graft.sources.ModelStore.table(spark, dir, "documents.parquet",
      s"d15-base-hot-n$ShingleN-df$MaxShingleDf-m$IncrMod") {
      import spark.implicits._
      Tables.load(spark, dir, "documents")
        .filter($"doc_id" % 10 =!= IncrMod)
        .select(explode(shingleHashes($"text", ShingleN)).as("h"))
        .groupBy($"h").agg(count(lit(1)).as("df"))
        .filter($"df" > MaxShingleDf).select($"h")
    }

  private[graft] def baseIndexModel(spark: SparkSession,
                                        dir: String): DataFrame =
    graft.sources.ModelStore.table(spark, dir, "documents.parquet",
      s"d15-base-index-n$ShingleN-df$MaxShingleDf-m$IncrMod") {
      import spark.implicits._
      Tables.load(spark, dir, "documents")
        .filter($"doc_id" % 10 =!= IncrMod)
        .select($"doc_id", explode(shingleHashes($"text", ShingleN)).as("h"))
        .join(baseHotModel(spark, dir), Seq("h"), "left_anti")
    }

  /** D15 — incremental near-dup admission: score each DELTA document
    * (doc_id % 10 == [[IncrMod]], the batch arriving after the snapshot)
    * against the persisted base posting index and admit it iff no base
    * document clears [[JaccardThreshold]] — the ingest-time decision
    * d3/d6 make in batch, restated as "delta vs snapshot" so the
    * pairwise pass touches ONLY delta×matching-postings work. Jaccard is
    * measured over the index universe (base-hot shingles excluded on
    * both sides — the stop-shingle rule applied consistently), so every
    * count is exact and the one-division double is oracle-exact.
    *
    * Scale shape: the delta batch's shingles equi-join the index on the
    * 8-byte hash; the df cap bounds fan-out at [[MaxShingleDf]] postings
    * per shingle, so candidates are O(delta shingles × cap) — linear in
    * the BATCH, independent of corpus size. The per-delta-doc best-match
    * window partitions by delta doc (bounded per batch). No base
    * self-join anywhere. */
  def d15IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val idx = baseIndexModel(spark, dir)
    val baseSizes = idx.groupBy($"doc_id").agg(count(lit(1)).as("n2"))
    // checkpoint (r12): dsh feeds the delta-size aggregate AND the
    // posting probe — unshared, the delta shingle explode + hot-set
    // anti-join ran twice
    val dsh = graft.sources.Tables.stage(Tables.load(spark, dir, "documents")
      .filter($"doc_id" % 10 === IncrMod)
      .select($"doc_id", explode(shingleHashes($"text", ShingleN)).as("h"))
      .join(baseHotModel(spark, dir), Seq("h"), "left_anti"))
    val deltaSizes = dsh.groupBy($"doc_id").agg(count(lit(1)).as("n1"))
    val pairs = dsh.as("d")
      .join(idx.as("b"), $"d.h" === $"b.h")
      .groupBy($"d.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("shared"))
      .join(deltaSizes.select($"doc_id".as("d1"), $"n1"), "d1")
      .join(baseSizes.select($"doc_id".as("d2"), $"n2"), "d2")
      .withColumn("j",
        $"shared".cast(DoubleType) / ($"n1" + $"n2" - $"shared"))
      .filter($"j" >= JaccardThreshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"d1").orderBy($"j".desc, $"d2".asc)
    val best = pairs
      .withColumn("rk", row_number().over(w))
      .withColumn("nm", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"d1")))
      .filter($"rk" === 1)
      .select($"d1", $"nm", $"d2".as("best_base"), $"j".as("best_jaccard"))
    Tables.load(spark, dir, "documents")
      .filter($"doc_id" % 10 === IncrMod)
      .select($"doc_id")
      .join(best, $"doc_id" === $"d1", "left_outer")
      .select($"doc_id",
        coalesce($"nm", lit(0L)).as("n_matches"),
        $"best_base", $"best_jaccard",
        $"best_base".isNull.as("admit"))
      .orderBy($"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d15_incremental_dedup" -> d15IncrementalDedup _,
    "d14_span_removal" -> d14SpanRemoval _,
    "d13_leakage_split" -> d13LeakageSplit _,
    "d1_dedup_exact" -> d1ExactDedup _,
    "d8_duplicate_spans" -> d8DuplicateSpans _,
    "d6_dedup_clusters" -> d6DedupClusters _,
    "d7_canonical_selection" -> d7CanonicalSelection _,
    "d2_dedup_fingerprint" -> d2FingerprintDedup _,
    "d3_jaccard_pairs" -> d3JaccardPairs _,
    "d17_jaccard_sweep" -> d17JaccardSweep _,
    "d4_minhash_lsh" -> d4MinHashLshMd5 _,
    "d5_simhash" -> d5SimHashMd5 _,
    "d16_longest_dup_span" -> d16LongestDupSpan _,
    "d9_edit_verified" -> d9EditVerified _,
    "d10_cross_source" -> d10CrossSource _,
    "d11_containment" -> d11Containment _,
    "d12_dedup_report" -> d12DedupReport _,
  )

  /** The registry rows for d4/d5 run the md5 hash family, so the whole
    * sketch — minhash affine minima, simhash votes, banding, verify — is
    * replayed in ANSI SQL (generated: [[d4Md5OracleSql]] /
    * [[d5Md5OracleSql]]); the engine-hash twins keep their recall specs
    * in DedupSpec as the 100 TB default. */
  val oracleSql: Map[String, String] = Map(
    "d4_minhash_lsh" -> d4Md5OracleSql,
    "d5_simhash" -> d5Md5OracleSql,
    // d16 joins shared grams on TEXT in the oracle (the engine's 8-byte
    // positional keys preserve gram-text equality whp — d3's argument)
    "d16_longest_dup_span" ->
      s"""WITH $d3Ctes,
         |pairs AS (SELECT d1, d2 FROM inter
         |          JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
         |          WHERE CAST(shared AS DOUBLE) / (x.n + y.n - shared)
         |            >= $JaccardThreshold),
         |need AS (SELECT d1 AS doc_id FROM pairs
         |         UNION SELECT d2 AS doc_id FROM pairs),
         |pg AS (SELECT doc_id,
         |         unnest(generate_series(1, len(w) - ${ShingleN - 1})) AS p,
         |         unnest(list_transform(generate_series(1, len(w) - ${ShingleN - 1}),
         |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
         |       FROM docs JOIN need USING (doc_id) WHERE len(w) >= $ShingleN),
         |shr AS (SELECT d1, d2, a.p AS p1, b.p AS p2
         |        FROM pairs JOIN pg a ON d1 = a.doc_id
         |        JOIN pg b ON d2 = b.doc_id AND a.g = b.g),
         |isl AS (SELECT d1, d2, p1 - p2 AS diag,
         |          p1 - row_number() OVER (PARTITION BY d1, d2, p1 - p2
         |            ORDER BY p1) AS grp
         |        FROM shr),
         |runs AS (SELECT d1, d2, count(*) AS run FROM isl
         |         GROUP BY d1, d2, diag, grp)
         |SELECT d1, d2, max(run) + ${ShingleN - 1} AS longest_tokens
         |FROM runs GROUP BY d1, d2 ORDER BY d1, d2""".stripMargin,
    "d15_incremental_dedup" ->
      s"""WITH docs AS (SELECT doc_id, string_split(text,' ') AS w
         |              FROM documents),
         |sh0 AS (SELECT DISTINCT doc_id,
         |          unnest(list_transform(generate_series(1, len(w)-2),
         |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
         |        FROM docs),
         |bsh AS (SELECT doc_id, s FROM sh0 WHERE doc_id % 10 != $IncrMod),
         |hot AS (SELECT s FROM bsh GROUP BY s
         |        HAVING count(*) > $MaxShingleDf),
         |bidx AS (SELECT doc_id, s FROM bsh
         |         WHERE s NOT IN (SELECT s FROM hot)),
         |dsh AS (SELECT doc_id, s FROM sh0 WHERE doc_id % 10 = $IncrMod
         |        AND s NOT IN (SELECT s FROM hot)),
         |bn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |       FROM bidx GROUP BY 1),
         |dn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |       FROM dsh GROUP BY 1),
         |inter AS (SELECT d.doc_id AS d1, b.doc_id AS d2,
         |            CAST(count(*) AS BIGINT) AS shared
         |          FROM dsh d JOIN bidx b ON d.s = b.s GROUP BY 1, 2),
         |p AS (SELECT d1, d2,
         |        CAST(shared AS DOUBLE) / (dn.n + bn.n - shared) AS j
         |      FROM inter JOIN dn ON d1 = dn.doc_id
         |                 JOIN bn ON d2 = bn.doc_id
         |      WHERE CAST(shared AS DOUBLE) / (dn.n + bn.n - shared)
         |        >= $JaccardThreshold),
         |r AS (SELECT d1, d2, j,
         |        row_number() OVER (PARTITION BY d1
         |          ORDER BY j DESC, d2 ASC) AS rk,
         |        CAST(count(*) OVER (PARTITION BY d1) AS BIGINT) AS nm
         |      FROM p)
         |SELECT dd.doc_id, COALESCE(r.nm, 0) AS n_matches,
         |  r.d2 AS best_base, r.j AS best_jaccard,
         |  r.d1 IS NULL AS admit
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = $IncrMod) dd
         |LEFT JOIN (SELECT * FROM r WHERE rk = 1) r ON dd.doc_id = r.d1
         |ORDER BY dd.doc_id""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT md5(text) AS text_key, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "d2_dedup_fingerprint" ->
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "d8_duplicate_spans" ->
      """WITH docs AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(w)-2),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM docs),
        |df AS (SELECT s, count(*) AS c FROM sh0 GROUP BY s)
        |SELECT sh0.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN df.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles,
        |  CAST(sum(CASE WHEN df.c >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_fraction
        |FROM sh0 JOIN df USING (s)
        |GROUP BY sh0.doc_id ORDER BY doc_id""".stripMargin,
    "d11_containment" ->
      s"""WITH $d3Ctes
         |SELECT d1, d2, shared, x.n AS n1, y.n AS n2,
         |  CAST(shared AS DOUBLE) / least(x.n, y.n) AS containment
         |FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
         |WHERE CAST(shared AS DOUBLE) / least(x.n, y.n)
         |  >= $ContainmentThreshold
         |ORDER BY d1, d2""".stripMargin,
    "d10_cross_source" ->
      s"""WITH $d3Ctes,
         |cand AS (SELECT d1, d2,
         |           CAST(shared AS DOUBLE) / (x.n + y.n - shared) AS jaccard
         |         FROM inter JOIN sz x ON d1 = x.doc_id
         |                    JOIN sz y ON d2 = y.doc_id
         |         WHERE CAST(shared AS DOUBLE) / (x.n + y.n - shared)
         |           >= $JaccardThreshold)
         |SELECT least(a.source, b.source) AS source_a,
         |  greatest(a.source, b.source) AS source_b,
         |  count(*) AS n_pairs, max(jaccard) AS max_jaccard
         |FROM cand JOIN documents a ON d1 = a.doc_id
         |          JOIN documents b ON d2 = b.doc_id
         |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    "d9_edit_verified" ->
      s"""WITH $d3Ctes,
         |cand AS (SELECT d1, d2 FROM inter
         |         JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
         |         WHERE CAST(shared AS DOUBLE) / (x.n + y.n - shared)
         |           >= $EditCandJaccard)
         |SELECT d1, d2,
         |  CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist,
         |  a.n_chars AS len1, b.n_chars AS len2,
         |  1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
         |    / greatest(a.n_chars, b.n_chars) AS edit_sim
         |FROM cand JOIN documents a ON d1 = a.doc_id
         |          JOIN documents b ON d2 = b.doc_id
         |WHERE levenshtein(a.text, b.text) <= $EditMaxDist
         |ORDER BY d1, d2""".stripMargin,
    "d3_jaccard_pairs" ->
      s"""WITH $d3Ctes
         |SELECT d1, d2, shared, x.n AS n1, y.n AS n2,
         |  CAST(shared AS DOUBLE) / (x.n + y.n - shared) AS jaccard
         |FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
         |WHERE CAST(shared AS DOUBLE) / (x.n + y.n - shared) >= $JaccardThreshold
         |ORDER BY d1, d2""".stripMargin,
    "d17_jaccard_sweep" ->
      s"""WITH $d3Ctes,
         |j AS (SELECT CAST(floor(CAST(shared AS DOUBLE)
         |         / (x.n + y.n - shared) * 20) AS INT) AS bucket
         |      FROM inter JOIN sz x ON d1 = x.doc_id
         |                 JOIN sz y ON d2 = y.doc_id),
         |b AS (SELECT bucket, count(*) AS n_pairs FROM j GROUP BY 1)
         |SELECT bucket, CAST(bucket AS DOUBLE) / 20 AS thr, n_pairs,
         |  CAST(sum(n_pairs) OVER (ORDER BY bucket DESC) AS BIGINT)
         |    AS n_pairs_ge
         |FROM b ORDER BY bucket""".stripMargin,
    // connected components over d3's pair graph: transitive closure by
    // recursive CTE (components are tiny, closure stays small), rep = min
    // reachable node
    "d6_dedup_clusters" ->
      s"""WITH RECURSIVE $d3Ctes, $ccCtes
         |SELECT doc_id, cluster_rep, CAST(cluster_size AS BIGINT) AS cluster_size
         |FROM rep JOIN cs USING (cluster_rep) ORDER BY doc_id""".stripMargin,
    "d7_canonical_selection" ->
      s"""WITH RECURSIVE $d3Ctes, $ccCtes,
         |q AS (${TextAnalysis.qualityCte}),
         |sel AS (SELECT r.cluster_rep, r.doc_id, q.quality_score, cs.cluster_size,
         |          row_number() OVER (PARTITION BY r.cluster_rep
         |            ORDER BY q.quality_score DESC, r.doc_id ASC) AS rk
         |        FROM rep r JOIN cs USING (cluster_rep)
         |          JOIN q ON r.doc_id = q.doc_id)
         |SELECT cluster_rep, doc_id AS keep_id, quality_score AS keep_quality,
         |  CAST(cluster_size AS BIGINT) AS cluster_size
         |FROM sel WHERE rk = 1 ORDER BY cluster_rep""".stripMargin,
    "d14_span_removal" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(generate_series(1, len(w) - 2)) AS start,
        |        unnest(list_transform(generate_series(1, len(w) - 2),
        |          i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
        |      FROM t WHERE len(w) >= 3),
        |dup AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM g)
        |        GROUP BY g HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, pos FROM (
        |          SELECT doc_id,
        |            unnest(generate_series(start, start + 2)) AS pos
        |          FROM g JOIN dup USING (g))),
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
    "d13_leakage_split" ->
      s"""WITH RECURSIVE $d3Ctes, $ccCtes
         |SELECT d.doc_id,
         |  coalesce(r.cluster_rep, d.doc_id) AS split_unit,
         |  CASE WHEN substring(md5('split' ||
         |      CAST(coalesce(r.cluster_rep, d.doc_id) AS VARCHAR)), 1, 1)
         |      < '$SplitValidHexMax'
         |    THEN 'valid' ELSE 'train' END AS split
         |FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "d12_dedup_report" ->
      s"""WITH RECURSIVE $d3Ctes, $ccCtes,
         |q AS (${TextAnalysis.qualityCte}),
         |sel AS (SELECT r.cluster_rep, r.doc_id, q.quality_score,
         |          row_number() OVER (PARTITION BY r.cluster_rep
         |            ORDER BY q.quality_score DESC, r.doc_id ASC) AS rk
         |        FROM rep r JOIN q ON r.doc_id = q.doc_id),
         |keeps AS (SELECT doc_id FROM sel WHERE rk = 1)
         |SELECT d.source, d.lang,
         |  count(*) AS n_docs,
         |  count(r.cluster_rep) AS n_clustered,
         |  count(DISTINCT r.cluster_rep) AS n_clusters,
         |  count(*) - count(r.cluster_rep) + count(k.doc_id) AS n_survivors,
         |  CAST(count(*) - count(r.cluster_rep) + count(k.doc_id) AS DOUBLE)
         |    / count(*) AS survivor_ratio
         |FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id
         |  LEFT JOIN keeps k ON d.doc_id = k.doc_id
         |GROUP BY 1, 2 ORDER BY source, lang""".stripMargin,
  )

  /** Connected-component CTEs shared by the d6/d7 oracles (expects the d3
    * chain in scope; `rep` = node → min reachable, `cs` = component size). */
  private lazy val ccCtes: String =
    s"""pairs AS (SELECT d1, d2
       |          FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
       |          WHERE CAST(shared AS DOUBLE) / (x.n + y.n - shared) >= $JaccardThreshold),
       |e AS (SELECT d1, d2 FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       |tc AS (SELECT d1 AS a, d2 AS b FROM e
       |       UNION
       |       SELECT tc.a, e.d2 FROM tc JOIN e ON tc.b = e.d1),
       |rep AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
       |        FROM tc GROUP BY a),
       |cs AS (SELECT cluster_rep, count(*) AS cluster_size FROM rep GROUP BY 1)""".stripMargin

  /** Shared CTE chain of the d3 oracle (also the pair source for d6, and
    * for p34's oracle in Pipeline — package-visible for that composition). */
  private[operators] lazy val d3Ctes: String =
    s"""docs AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |sh0 AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(w)-2),
       |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM docs),
       |rare AS (SELECT s FROM sh0 GROUP BY s
       |         HAVING count(*) <= $MaxShingleDf AND count(*) >= 2),
       |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN rare USING (s)),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)""".stripMargin
}
