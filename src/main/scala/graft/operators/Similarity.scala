package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.TextFunctions.tokens
import graft.functions.VectorFunctions._
import graft.sources.{ModelStore, Tables}

/** Similarity search over the `embeddings` table (SURVEY.md §2C):
  * brute-force cosine top-k (the exactness baseline), thresholded
  * all-pairs, and a random-hyperplane LSH variant (the 100 TB path).
  *
  * Scale design: the query set is the small side — broadcast it and the
  * corpus streams through map-side cosine + per-query top-k
  * (window partitioned by query id, rank ≤ k), so there is exactly one
  * shuffle of size O(|corpus| × |queries| filtered) and no global sort.
  * The LSH variant cuts the candidate set from N to bucket-sized groups:
  * signature computation is per-row codegen; candidates come from an
  * equi-join on the 16-bit signature.
  */
object Similarity {

  val K = 5
  val QueryCount = 20
  val CosineThreshold = 0.4
  /** v3's per-(band, bucket) occupancy cap — the LSH stop-bucket rule
    * (see v3's scaladoc). 512 is inert at fixture scale (occupancies are
    * tens) and bounds candidates at bands×N×512 at any scale. */
  val LshBucketCap = 512

  /** V1 — brute-force cosine top-k: queries are vec_id < QueryCount,
    * corpus is everything else; exact top-K per query. */
  def v1AnnTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v"))
    val queries = emb.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"vec_id".asc)
    Tables.load(spark, dir, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v"))
      .join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", cosine($"qv", $"v").as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= K)
      .select($"query_id", $"rk", $"vec_id", round($"cos", 6).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** V2 — thresholded all-pairs cosine (embedding near-dup detection).
    * Brute force N²/2 — correct baseline; d4-style LSH is the scale path. */
  def v2CosinePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // norm computed once per vector (N rows), not once per pair (N²/2).
    // spread=true (r12): the N²/2 dot products execute in the STREAMED
    // side's scan stage of the broadcast join — unsplit, that whole
    // quadratic loop ran as one task (interleaved A/B: 0.47× spread).
    val emb = Tables.load(spark, dir, "embeddings", spread = true)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
    emb.as("a").join(emb.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("v1"), $"b.vec_id".as("v2"),
        (dot($"a.v", $"b.v") / ($"a.nrm" * $"b.nrm")).as("cos"))
      .filter($"cos" >= CosineThreshold)
      .select($"v1", $"v2", round($"cos", 6).as("cos_sim"))
      .orderBy($"v1", $"v2")
  }

  /** Members-per-tile target for [[v21CosinePairsBlocked]]: ~500 keeps a
    * gathered tile row ≈300 KB and a tile-pair task at ≈500²·64 fused
    * multiply-adds — small enough to broadcast-shuffle freely, big enough
    * that the primitive loop dominates task overhead. */
  val ExactPairTileTarget = 500

  /** The blocked exact join's moving parts, exposed for the spec:
    * (members+angles, surviving tile pairs, gathered tiles). See
    * [[v21CosinePairsBlocked]] for the algorithm and exactness argument. */
  private[operators] def v21Internals(spark: SparkSession, dir: String,
                                      tau: Double, tileTarget: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val emb = normalizedEmbeddings(spark, dir)
    val cents = ModelStore.table(spark, dir, "embeddings.parquet",
        s"tiles-i1-t$tileTarget") {
      fitIvfCentroids(emb, kmeansIters = 1, perCell = tileTarget)
    }
    val cmeta = cents.select($"cent_id", $"cv", norm($"cv").as("cn"))
    // angular distance of each member to its tile center; a zero-norm
    // vector has no angle — π (the metric's diameter) keeps the tile
    // bound valid instead of letting a NaN radius drop the tile silently
    def angle(c: Column): Column =
      when(isnan(c) || c.isNull, lit(math.Pi))
        .otherwise(acos(greatest(lit(-1.0), least(lit(1.0), c))))
    // shared-subtree staging (r13, guide §1.2): column pruning
    // specializes each consumer's subtree, so unstaged, the assign pass
    // (N×k dot products) ran once for `radii` (via tm, itself consumed
    // by BOTH tilePairs legs) and once for `tiles` — 3 executions of the
    // O(N·k·D) leg. Staged, it runs once; tm (k rows — tile count, not
    // corpus) stages too so the radius aggregate isn't re-run per
    // tilePairs leg. withAngle is corpus-proportional (the p29/d15
    // caution) but NARROW — ids, one D-vector, two doubles — and the
    // sf1 interleaved cmp is the evidence the barrier pays.
    val withAngle = Tables.stage(ivfAssign(emb, centArray(cents), 1)
      .join(broadcast(cmeta), Seq("cent_id"))
      .withColumn("ra", angle(dot($"v", $"cv") / ($"nrm" * $"cn")))
      .select($"cent_id", $"vec_id", $"v", $"nrm", $"ra"))
    val radii = withAngle.groupBy($"cent_id").agg(max($"ra").as("r"))
    val tm = Tables.stage(cmeta.join(radii, Seq("cent_id")))
    // triangle-inequality pruning on the ANGULAR metric θ = acos(cos):
    // a∈tile i, b∈tile j with cos(a,b) ≥ τ ⟹
    //   θ(cᵢ,cⱼ) ≤ θ(cᵢ,a) + θ(a,b) + θ(b,cⱼ) ≤ rᵢ + θτ + rⱼ,
    // so dropping tile pairs beyond that bound loses NOTHING — the
    // pruning is exact at every scale, and its power is exactly the
    // data's clustering (isotropic corpora prune ~0, clustered corpora
    // prune ~all; see the spec's planted-cluster case). k = N/tileTarget
    // rows per side: the k×k filter runs as a broadcast join here; at
    // k beyond ~10⁵ production prunes hierarchically (tiles of tiles).
    val thetaTau = math.acos(math.max(-1.0, math.min(1.0, tau)))
    val tilePairs = tm.as("x").join(broadcast(tm.as("y")),
        $"x.cent_id" <= $"y.cent_id")
      .filter(angle(dot($"x.cv", $"y.cv") / ($"x.cn" * $"y.cn")) <=
        $"x.r" + $"y.r" + lit(thetaTau + 1e-9))
      .select($"x.cent_id".as("ci"), $"y.cent_id".as("cj"))
    val tiles = withAngle
      .select($"cent_id", struct($"vec_id", $"v", $"nrm").as("m"))
      .groupBy($"cent_id")
      // array_sort on struct is lexicographic — vec_id leads, so members
      // arrive in id order and the same-tile loop can do j > i only.
      // The gathered tile then splits into THREE PRIMITIVE arrays (ids,
      // flattened vectors, norms): the tuple/Seq encoder deserialized
      // ~64 boxed elements per member per tile pair and measured ~40×
      // the loop's own FLOP cost at the sf1 rung (11.9 s vs v2's 9.7 —
      // the blocked path lost to the thing it replaced); primitive
      // arrays copy straight out of UnsafeArrayData.
      .agg(array_sort(collect_list($"m")).as("ms"))
      .select($"cent_id",
        transform($"ms", m => m("vec_id")).as("ids"),
        flatten(transform($"ms", m => m("v"))).as("flat"),
        transform($"ms", m => m("nrm")).as("nrms"))
    (withAngle, tilePairs, tiles)
  }

  /** V21 — BLOCKED exact thresholded pairs: v2's scale tier, same pair
    * set, same oracle. Exact ≥τ cosine pairs on THIS corpus are
    * intrinsically Θ(N²): the bulk is isotropic (measured pairwise-cos
    * σ = 0.1275 ≈ 1/√64 at sf0.01; the 59 pairs ≥ 0.4 there are within
    * noise of the 98 a pure Gaussian tail predicts), so at τ = 0.4 the
    * answer itself is a constant fraction of all pairs and no algorithm
    * — LSH (ρ = ln p₁/ln p₂ ≈ 0.62 at this threshold), metric pruning,
    * or otherwise — beats quadratic without dropping true pairs. What a
    * scale tier CAN do, and this one does, is confine the quadratic to
    * raw fused multiply-adds and make everything the CLUSTER does linear:
    *
    *  - members shuffle as N/tileTarget gathered tile rows, replicated
    *    only per surviving tile pair — never a per-pair row stream
    *    (v2 pushes all N²/2 pairs through the join as rows);
    *  - per tile pair, one primitive double loop scores the tile block
    *    and emits ONLY survivors — no Catalyst row machinery per pair;
    *  - tile pairs whose center distance exceeds rᵢ + rⱼ + θτ are
    *    dropped LOSSLESSLY (angular triangle inequality — see
    *    [[v21Internals]]), so on real clustered corpora (the 100 TB
    *    case: near-dup embeddings at τ ≥ 0.8) the pair count collapses
    *    and the whole query goes near-linear; on this isotropic fixture
    *    it prunes nothing, by measurement and by design honesty.
    *
    * Both v2 and v21 are declared expected_superlinear in SCALING.json —
    * v21's claim is the constant (and the clustered-case asymptote), not
    * the fixture exponent. Oracle: identical to v2 (same DuckDB pair
    * set); the spec also equates v21 to v2 at a forced multi-tile
    * parameterization so cross-tile and pruning paths are exercised at
    * fixture scale. */
  def v21CosinePairsBlocked(spark: SparkSession, dir: String,
                            tau: Double = CosineThreshold,
                            tileTarget: Int = ExactPairTileTarget): DataFrame = {
    import spark.implicits._
    val (_, tilePairs, tiles) = v21Internals(spark, dir, tau, tileTarget)
    val paired = tilePairs
      .join(tiles.select($"cent_id".as("ci"), $"ids".as("aid"),
        $"flat".as("af"), $"nrms".as("an")), Seq("ci"))
      .join(tiles.select($"cent_id".as("cj"), $"ids".as("bid"),
        $"flat".as("bf"), $"nrms".as("bn")), Seq("cj"))
      .select($"ci", $"cj", $"aid", $"af", $"an", $"bid", $"bf", $"bn")
      .as[(Long, Long, Array[Long], Array[Double], Array[Double],
           Array[Long], Array[Double], Array[Double])]
    paired.flatMap { case (ci, cj, aid, af, an, bid0, bf0, bn0) =>
      val same = ci == cj
      val (bid, bf, bn) = if (same) (aid, af, an) else (bid0, bf0, bn0)
      val na = aid.length
      val nb = bid.length
      val dim = if (na > 0) af.length / na else 0
      val res = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var i = 0
      while (i < na) {
        val ia = aid(i)
        val ai = i * dim
        var j = if (same) i + 1 else 0
        while (j < nb) {
          val bj = j * dim
          var d = 0.0
          var t = 0
          while (t < dim) { d += af(ai + t) * bf(bj + t); t += 1 }
          // ascending-index summation — the exact order DotProduct uses,
          // so the doubles (and the ≥τ decisions) are bit-identical to v2
          val c = d / (an(i) * bn(j))
          if (c >= tau) {
            val ib = bid(j)
            if (ia < ib) res += ((ia, ib, c)) else res += ((ib, ia, c))
          }
          j += 1
        }
        i += 1
      }
      res
    }.toDF("v1", "v2", "cos")
      .select($"v1", $"v2", round($"cos", 6).as("cos_sim"))
      .orderBy($"v1", $"v2")
  }

  /** Deterministic ±1 random hyperplanes (seeded per plane). */
  private def planes(dim: Int, nPlanes: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { j =>
      val rng = new scala.util.Random(42L + j)
      Seq.fill(dim)(if (rng.nextBoolean()) 1.0 else -1.0)
    }

  /** ±1 planes pack into bitmasks and the native PlaneSignBits
    * expression runs the whole signature as one primitive loop — the
    * per-plane when(dot(v, CreateArray…)) tree it replaces evaluated
    * interpreted at 4.8 s for 20k rows × 64 planes (measured,
    * `Profile v3probe`); ±1.0 multiplies are exact sign flips and the
    * summation order is unchanged, so signatures are bit-identical. */
  private def lshSignature(v: org.apache.spark.sql.Column,
                           dim: Int, nPlanes: Int): org.apache.spark.sql.Column = {
    // hard cap, loudly: `1L << i` wraps mod 64 and PlaneSignBits ignores
    // dims ≥ 64, so a wider caller would get silently corrupted masks and
    // truncated sums rather than the dot-product semantics it expects
    require(dim <= 64,
      s"lshSignature packs one plane per long: dim $dim exceeds 64")
    graft.plans.VectorExpressions.planeSignBits(v,
      planes(dim, nPlanes).map { p =>
        p.zipWithIndex.foldLeft(0L) { case (m, (x, i)) =>
          if (x > 0) m | (1L << i) else m
        }
      }.toIndexedSeq)
  }

  /** V3 — LSH-bucketed near-dup: 32 hyperplane bits split into 8 bands of
    * 4; docs sharing any band bucket become candidates, then exact cosine
    * verification (same band-OR construction as MinHash LSH). Short bands
    * are deliberate: at this corpus's weak similarities (cos≈0.45, bit-match
    * p≈0.65) an 8-bit band has ~3% hit rate — 4-bit bands give ~0.78
    * theoretical recall. Hyperplane LSH only prunes aggressively when the
    * threshold is high (cos≥0.9 → p≥0.9); the operator takes bands/bits as
    * knobs for exactly that reason.
    *
    * Physical shape (same as D5): the vector rides through the band
    * self-join and cosine is verified IMMEDIATELY on each collision, so
    * only post-filter survivors (≤ bands× duplicated, deduped at the end)
    * ever hit a second shuffle. The round-1 formulation deduplicated the
    * raw candidate pairs first and re-attached vectors by join — but at
    * weak-similarity parameterizations banding prunes little (~40% of all
    * pairs collide here), so distinct() over the near-quadratic pair list
    * plus two corpus-wide joins cost more than the cosines they saved.
    * Payload-through-band shuffle is bands×|corpus| rows — linear, no
    * broadcast, no re-attach. Recall vs V2 is asserted in SimilaritySpec;
    * ORACLE-EXACT since r6: the seeded ±1 planes are deterministic, so
    * the oracle SQL embeds them as sign-string literals and DuckDB
    * replays the whole pipeline — signature bits (same ascending ±add
    * fold, exact sign agreement), adaptive band width from its own
    * count(*), banding, the occupancy cap, and the exact-cosine verify.
    *
    * Default band width ADAPTS to the corpus (nPlanes < 0): a FIXED
    * band width degrades to N²/buckets as buckets saturate — measured at
    * the sf1 synth rung, 4-bit bands (16 buckets) put v3 at a 3.35×
    * time ratio against the 3.33× data step (flagged, retry-confirmed);
    * bits = ⌈log₂(N/64)⌉ clamped to [4, 8] keeps expected bucket
    * occupancy bounded. The adaptive width applies at EVERY scale,
    * fixture runs included: the sf0.001 spec fixture (~2k vectors) now
    * measures 5-bit bands and sf0.1 measures 8-bit — the recall spec
    * passes against the adaptive configuration, not the old fixed
    * 4-bit one. The 8-bit cap is the one-long
    * signature's 8×8 limit — beyond ~10⁶ vectors production widens to
    * multi-word signatures (d4's banded MinHash shape) or shards the
    * LSH domain; recall at high widths is the stated weak-threshold
    * trade, which is why bands/bits remain explicit knobs.
    *
    * Width alone cannot bound SKEWED buckets: vectors agreeing on every
    * sign bit land together at any width (at the sf1 rung that
    * irreducible same-sign mass still measured ≈3-4× per 3.33× step,
    * noise-straddling the flag). So v3 also applies d3's stop-shingle
    * rule to banding: a (band, bucket) holding more than
    * [[LshBucketCap]] vectors is dropped from THAT band's candidate
    * generation (an overfull bucket carries no locality information —
    * the LSH analog of a stop word). Candidates are then ≤
    * bands × N × cap — structurally LINEAR. A pair is lost only if
    * every band it collides in is hot. The honest price: a cluster of
    * >cap vectors agreeing on ALL sign bits is hot in every band and
    * its internal pairs are dropped — deliberately, because a
    * mega-cluster of near-identical vectors is exact/connected dedup's
    * job (d1/d6 territory: its pair LIST is itself quadratic), not a
    * pairwise LSH's. The subset-of-exact property is untouched — the
    * cap only removes candidates. */
  /** Content stamp — forwarded to the shared [[Tables.tableStamp]]
    * (kept here because existing callers address it by this name). */
  private[graft] def tableStamp(dir: String, table: String): Long =
    Tables.tableStamp(dir, table)

  /** The adaptive band width from the corpus count. */
  private[graft] def adaptiveLshBits(n: Long): Int =
    math.min(8, math.max(4,
      math.ceil(math.log(math.max(1.0, n / 64.0)) / math.log(2.0)).toInt))

  def v3AnnLsh(spark: SparkSession, dir: String, nPlanes: Int = -1,
               bands: Int = 8): DataFrame = {
    import spark.implicits._
    val dim = 64
    val bits =
      if (nPlanes > 0) nPlanes / bands
      else adaptiveLshBits(Tables.countMemo(spark, dir, "embeddings"))
    val banded = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
      .withColumn("sig", lshSignature($"v", dim, bands * bits))
      .select($"vec_id", $"v", $"nrm",
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftright($"sig", b * bits)
              .bitwiseAND(lit((1L << bits) - 1)).as("bucket"))
        }: _*)).as("bb"))
      .select($"vec_id", $"v", $"nrm", $"bb.band", $"bb.bucket")
    // occupancy cap: groupBy + join-back, NOT count-over-window (the d3
    // rule — a window partition is unsplittable; the hot probe side of
    // the equi-join is what AQE skew-split handles)
    val cool = banded.groupBy($"band", $"bucket")
      .agg(count(lit(1)).as("occ"))
      .filter($"occ" <= LshBucketCap)
      .select($"band", $"bucket")
    val cooled = banded.join(cool, Seq("band", "bucket"))
    cooled.as("a").join(cooled.as("b"),
        $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" &&
          $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("v1"), $"b.vec_id".as("v2"),
        (dot($"a.v", $"b.v") / ($"a.nrm" * $"b.nrm")).as("cos"))
      .filter($"cos" >= CosineThreshold)
      .select($"v1", $"v2", round($"cos", 6).as("cos_sim"))
      .distinct() // collisions in >1 band carry identical values
      .orderBy($"v1", $"v2")
  }

  /** Target vectors per IVF cell: cell count k ≈ N / IvfVectorsPerCell. */
  val IvfVectorsPerCell = 50

  /** The whole centroid table as one row: array<struct<cent_id,cv,cn>> —
    * the broadcast unit every map-side assignment/seeding pass consumes. */
  private def centArray(c: DataFrame): DataFrame = {
    import c.sparkSession.implicits._
    c.agg(collect_list(struct($"cent_id", $"cv", norm($"cv").as("cn")))
      .as("cents"))
  }

  /** Map-side cell assignment: score every centroid in a HOF over the ONE
    * broadcast centroid row, sort descending, keep `probes` cells — no
    * join, no window, no exchange. `df` needs (vec_id, v, nrm). */
  private def ivfAssign(df: DataFrame, cents: DataFrame, probes: Int): DataFrame = {
    import df.sparkSession.implicits._
    val scored = transform($"cents", c =>
      struct(
        (dot($"v", c("cv")) / ($"nrm" * c("cn"))).as("cos"),
        (-c("cent_id")).as("nk"), // tie-break: lowest cent_id wins
        c("cent_id").as("cent_id")))
    df.crossJoin(broadcast(cents))
      .select($"vec_id", $"v", $"nrm",
        explode(slice(reverse(array_sort(scored)), 1, probes)).as("best"))
      .select($"vec_id", $"v", $"nrm", $"best.cent_id".as("cent_id"))
  }

  /** Deterministic k-means||-style seeding (Bahmani et al., VLDB'12 —
    * the distributed k-means++): one salted-hash-min first center, then
    * `rounds` oversampling passes that admit each point with probability
    * ∝ its spherical distance (1 − cos) to the nearest chosen center
    * (the "random" draw is a salted xxhash64 uniform, so seeding is
    * exactly reproducible), then a weighted greedy farthest-point
    * reduction of the ~rounds×k candidates down to k.
    *
    * Scale shape: every corpus-wide step is the same map-side
    * HOF-vs-one-broadcast-row pattern as assignment; only the candidate
    * set — O(k·rounds) rows, never the corpus — reaches the driver for
    * the final reduction, which is the published algorithm's recluster
    * step. Replaces the round-2 every-50th-vector seeding, whose
    * id-order-correlated picks left cells unbalanced. */
  private[operators] def seedCentroids(emb: DataFrame, k: Int,
                                       rounds: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // Driver-side candidate registry: the candidate set is O(k·rounds) BY
    // DESIGN — corpus-scale work stays in the map passes below; only
    // admitted candidates ever leave the cluster (the published
    // algorithm's own recluster step collects them anyway). Merging here
    // replaces the previous union + dropDuplicates + localCheckpoint per
    // round — three cluster jobs and a shuffle whose only purpose was
    // deduping a driver-sized set.
    val cand = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Double]]
    def candDf: DataFrame =
      spark.createDataFrame(
          cand.toSeq.sortBy(_._1).map { case (id, v) => (id, v.toSeq) })
        .toDF("cent_id", "cv")
    // first center: salted-hash-min vector (deterministic "random" pick)
    emb.withColumn("h", xxhash64(lit("seed0"), $"vec_id"))
      .orderBy($"h", $"vec_id").limit(1)
      .select($"vec_id", $"v").collect()
      .foreach(r => cand(r.getLong(0)) = r.getSeq[Double](1).toArray)
    for (r <- 1 to rounds) {
      val ca = centArray(candDf)
      val d2 = emb.crossJoin(broadcast(ca))
        .select($"vec_id", $"v",
          greatest(lit(0.0), lit(1.0) - array_max(transform($"cents",
            c => dot($"v", c("cv")) / ($"nrm" * c("cn"))))).as("d2"))
      // the admission threshold must be order-independent (a raw double
      // sum differs in the last ulps per reduction order and could flip
      // a borderline candidate): quantize, sum integers, rescale — the
      // v6 pattern
      val tot = math.max(
        d2.agg(sum(round($"d2" * 1e6).cast("long"))).head().getLong(0) / 1e6,
        1e-12)
      val u = pmod(xxhash64(lit(s"seed$r"), $"vec_id"), lit(1L << 24))
        .cast("double") / (1L << 24).toDouble
      // admission is a per-vector deterministic predicate, so the collect
      // order doesn't matter; the map dedupes re-admitted candidates
      d2.filter(u * tot < $"d2" * k).select($"vec_id", $"v").collect()
        .foreach { row =>
          val id = row.getLong(0)
          if (!cand.contains(id)) cand(id) = row.getSeq[Double](1).toArray
        }
    }
    // weight candidates by how many corpus points they currently own
    val weights = ivfAssign(emb, centArray(candDf), 1)
      .groupBy($"cent_id").agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val cs = cand.toSeq.sortBy(_._1)
      .map { case (id, v) => (id, v, weights.getOrElse(id, 0L)) }
      .toArray
    // greedy weighted farthest-point over the SMALL candidate set: start
    // from the heaviest, then repeatedly add the candidate maximizing
    // weight × spherical distance to its nearest chosen center
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    if (cs.nonEmpty) {
      val bestD = Array.fill(cs.length)(1.0) // 1 - cos to nearest chosen
      var next = cs.indices.maxBy(i => (cs(i)._3, -cs(i)._1))
      while (chosen.length < k && next >= 0) {
        chosen += cs(next)._2
        var i = 0
        while (i < cs.length) {
          bestD(i) = math.min(bestD(i), math.max(0.0, 1.0 - cos(cs(i)._2, cs(next)._2)))
          i += 1
        }
        val left = cs.indices.filter(i => bestD(i) > 1e-12)
        next = if (left.isEmpty || chosen.length >= k) -1
               else left.maxBy(i => (cs(i)._3 * bestD(i), -cs(i)._1))
      }
    }
    spark.createDataFrame(chosen.toSeq.zipWithIndex.map { case (v, i) =>
      (i.toLong, v.toSeq)
    }).toDF("cent_id", "cv")
  }

  /** Fit IVF centroids: k-means|| seed + `kmeansIters` Lloyd passes
    * (assign = map-side argmax-cosine; recenter = posexplode →
    * per-(cell, dim) mean, which partial-aggregates map-side so the
    * recenter shuffle is O(C×dim), not O(N×dim)). One Lloyd pass suffices
    * after k-means|| seeding — that trade is the algorithm's point. */
  private[operators] def fitIvfCentroids(emb: DataFrame, kmeansIters: Int,
                                         perCell: Int = IvfVectorsPerCell): DataFrame = {
    import emb.sparkSession.implicits._
    val k = math.max(1L, emb.count() / perCell)
    var centroids = seedCentroids(emb, k.toInt)
    for (_ <- 1 to kmeansIters) {
      centroids = graft.sources.Tables.stage( // truncate iterative lineage
        ivfAssign(emb, centArray(centroids), 1)
          .select($"cent_id", posexplode($"v"))
          .groupBy($"cent_id", $"pos").agg(avg($"col").as("m"))
          .groupBy($"cent_id")
          .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
          .select($"cent_id", transform($"pm", x => x("m")).as("cv")))
    }
    centroids
  }

  /** The PERSISTED IVF model (cent_id, cv) — fit once per corpus snapshot
    * through [[ModelStore]], consumed by every later v4/v8/v15 invocation.
    * The model name embeds the fit hyperparameters (Lloyd passes, cell
    * sizing), so changing either re-fits instead of serving a stale model. */
  private[operators] def ivfCentroids(spark: SparkSession, dir: String,
                                      kmeansIters: Int = 1): DataFrame =
    ModelStore.table(spark, dir, "embeddings.parquet",
        s"ivf-i$kmeansIters-p$IvfVectorsPerCell") {
      fitIvfCentroids(normalizedEmbeddings(spark, dir), kmeansIters)
    }

  /** The PERSISTED PQ codebook model: rows (m, k, c) round-tripped through
    * a parquet model table, collected to the driver-sized M×K×d array the
    * ADC scorers consume. `fitSrc` is only evaluated on a store miss. */
  private def pqModel(spark: SparkSession, dir: String, name: String, d: Int)
                     (fitSrc: => DataFrame): Array[Array[Array[Double]]] = {
    import spark.implicits._
    val rows = ModelStore.table(spark, dir, "embeddings.parquet", name) {
      val fitted = fitPqCodebooks(fitSrc, d)
      val data = for {
        m <- fitted.indices; k <- fitted(m).indices
      } yield (m, k, fitted(m)(k).toSeq)
      spark.createDataFrame(data).toDF("m", "k", "c")
    }.collect()
    val cb = Array.tabulate(PqM, PqK)((_, _) => new Array[Double](d))
    rows.foreach { r =>
      val c = r.getSeq[Double](2).toArray
      require(c.length == d,
        s"persisted codebook width ${c.length} != subspace dim $d — " +
          "model name must embed every geometry parameter")
      cb(r.getInt(0))(r.getInt(1)) = c
    }
    cb
  }

  /** V4 — IVF-style coarse quantization over k-means||-seeded,
    * Lloyd-refined centroids. Queries probe their `nprobe` nearest cells
    * (array_sort desc + slice, still map-side). A corpus vector lives in
    * exactly one cell, so (query, vec) candidates cannot duplicate — no
    * distinct(). Final per-query top-k via the mergeable TopKAggregate:
    * only k (score, id) pairs per query cross the shuffle.
    * The centroid model comes from the persisted [[ivfCentroids]] store —
    * fit once per corpus snapshot, consumed here (the fit/apply split).
    * ORACLE-EXACT: DuckDB consumes the same persisted centroid +
    * assignment parquet ([[modelGlob]]) and replays probing, scoring,
    * and ranking bit-for-bit — only the k-means fit itself is taken as
    * given. Cell balance + recall-vs-nprobe curve + store-apply ≡
    * fresh-fit-apply equality in SimilaritySpec. */
  def v4AnnIvf(spark: SparkSession, dir: String, nprobe: Int = 2,
               kmeansIters: Int = 1): DataFrame = {
    import spark.implicits._
    val emb = normalizedEmbeddings(spark, dir)
    val cents = centArray(ivfCentroids(spark, dir, kmeansIters)).cache()
    // corpus cells come from the persisted assignment artifact (an
    // equi-join on vec_id), not a fresh N·C scoring pass; only the
    // ≤QueryCount query rows score against the centroid broadcast
    val assigned = emb.join(ivfCellAssignment(spark, dir, kmeansIters),
      "vec_id")
    val queries = ivfAssign(emb.filter($"vec_id" < QueryCount), cents, nprobe)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"),
        $"cent_id")
    assigned.join(broadcast(queries), Seq("cent_id"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id",
        (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"), $"vec_id")
      .groupBy($"query_id")
      .agg(graft.plans.TopKAggregate.topK($"cos", $"vec_id", K).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", ($"pos" + 1).cast("int").as("rk"),
        $"col.id".as("vec_id"), round($"col.score", 6).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** Embeddings as (vec_id, v: array<double>, nrm), cached — the common
    * prep for every vector operator that iterates (v4 fit, cell audit). */
  private def normalizedEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
      .cache()
  }

  /** The fitted IVF cell assignment (vec_id → cent_id) — PERSISTED via
    * ModelStore, because it is a pure function of (corpus snapshot, IVF
    * model): the N·C nearest-centroid pass is a snapshot-build cost that
    * runs once (d15's posting-index precedent — the corpus-derived
    * artifact IS part of the model), and every later v4/v8/v15
    * invocation equi-joins 12-byte (vec_id, cent_id) rows instead of
    * re-scoring the corpus against every centroid. With C = N/50 cells
    * that recurring pass was the v-family's quadratic term (N²/50
    * scorings per query); the join it becomes is co-partitionable at
    * any scale. The name embeds the fit hyperparameters — the centroids
    * define the partition, so a different fit invalidates the
    * assignment with it. Exposed so the cell-balance property is
    * spec-checkable on the exact model v4 uses. */
  private[operators] def ivfCellAssignment(spark: SparkSession, dir: String,
                                           kmeansIters: Int = 1): DataFrame =
    ModelStore.table(spark, dir, "embeddings.parquet",
        s"ivf-assign-i$kmeansIters-p$IvfVectorsPerCell") {
      freshCellAssignment(spark, dir, kmeansIters)
    }

  /** The store's build path — also the fresh side of the
    * store-equivalence spec. */
  private[operators] def freshCellAssignment(spark: SparkSession, dir: String,
                                             kmeansIters: Int = 1): DataFrame = {
    import spark.implicits._
    ivfAssign(normalizedEmbeddings(spark, dir),
        centArray(ivfCentroids(spark, dir, kmeansIters)), 1)
      .select($"vec_id", $"cent_id")
  }

  /** V5 — brute-force top-k via the mergeable TopKAggregate: identical
    * results to V1, but the shuffle carries only k (score,id) pairs per
    * query (partial heaps combine map-side) instead of every candidate row
    * sorting through the window — the formulation that survives 100 TB.
    * Oracle: the same SQL as V1, since results are identical. */
  def v5AnnTopKAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v"))
    val queries = emb.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    emb.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", cosine($"qv", $"v").as("cos"), $"vec_id")
      .groupBy($"query_id")
      .agg(graft.plans.TopKAggregate.topK($"cos", $"vec_id", K).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", ($"pos" + 1).cast("int").as("rk"),
        $"col.id".as("vec_id"), round($"col.score", 6).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** V7 — int8-quantized brute-force top-k: each vector is symmetrically
    * quantized to `round(x·127/max|x|)` stored as `array<tinyint>` — an
    * 8× storage/bandwidth cut vs float64 (the compression that makes a
    * 100 TB embedding corpus broadcast- and cache-friendly); scoring is
    * EXACT integer dot products over the quantized values with one final
    * double division, so results are deterministic. Same physical shape
    * as v5 (queries broadcast, corpus streams, mergeable top-k — only k
    * pairs per query cross the shuffle). Oracle-exact: the quantization
    * rule, the integer dots, and the one-division score are all plain
    * arithmetic DuckDB reproduces bit-for-bit (same IEEE op shapes), so
    * the driver checks the full ranking; recall@k vs exact v1 plus the
    * tinyint schema claim are asserted in SimilaritySpec. */
  def v7AnnQuantized(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qemb = quantizedEmbeddings(spark, dir)
    val queries = qemb.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("query_id"), $"qv".as("qq"), $"qn".as("qqn"))
    qemb.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id",
        (intDot($"qq", $"qv").cast("double") / ($"qqn" * $"qn")).as("qcos"),
        $"vec_id")
      .groupBy($"query_id")
      .agg(graft.plans.TopKAggregate.topK($"qcos", $"vec_id", K).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", ($"pos" + 1).cast("int").as("rk"),
        $"col.id".as("vec_id"), round($"col.score", 6).as("qcos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** Exact integer dot product over two tinyint arrays — the codegen'd
    * native loop ([[graft.plans.IntDot]]). The `aggregate(zip_with(…))`
    * HOF this replaces is CodegenFallback (interpreted lambda tree + an
    * allocation per pair over Q×N pairs): the r9 verdict measured it at
    * ~4× the cost of v5's identical physical shape — the same lesson the
    * repo already recorded for v3 (per-plane dots) and v23 (JlProject). */
  private def intDot(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.intDot(a, b)

  /** The quantized embedding table (vec_id, qv: array<tinyint>, qn):
    * per-vector symmetric int8 quantization — PERSISTED via ModelStore
    * (the PQ-codes discipline, r10): quantization is a pure function of
    * the corpus snapshot, and its two interpreted HOF passes per row
    * (abs-max + round/cast over every dim) are a snapshot-build cost;
    * invocations read (vec_id, 64 bytes, qn) rows. Tinyints and the
    * integer-exact qn round-trip parquet bit-for-bit (store-equivalence
    * spec'd). */
  private[operators] def quantizedEmbeddings(spark: SparkSession,
                                             dir: String): DataFrame =
    ModelStore.table(spark, dir, "embeddings.parquet", "v7-int8-quant") {
      freshQuantizedEmbeddings(spark, dir)
    }

  /** The store's build path — also the fresh side of the
    * store-equivalence spec. */
  private[operators] def freshQuantizedEmbeddings(spark: SparkSession,
                                                  dir: String): DataFrame = {
    import spark.implicits._
    val mx = array_max(transform($"v", x => abs(x)))
    Tables.load(spark, dir, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v"))
      .select($"vec_id",
        transform($"v", x => round(x * lit(127.0) / mx).cast("tinyint"))
          .as("qv"))
      .withColumn("qn", sqrt(intDot($"qv", $"qv").cast("double")))
  }

  /** V8 — semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space (v4's IVF
    * machinery), then WITHIN each cell drop every vector that has a
    * lower-id neighbor with cosine ≥ threshold — embedding-level near-dup
    * removal that catches paraphrases exact/shingle dedup (d1–d8) cannot.
    *
    * The keep rule is the paper's deterministic variant: a vector is
    * dropped iff ANY smaller-id vector in its cell is ≥ τ similar (not
    * just kept ones), which makes the decision a single anti-join over
    * the within-cell pair list — one pass, no iteration, and the kept set
    * is guaranteed pairwise < τ within every cell (if u < v and
    * cos(u,v) ≥ τ then v is dropped, whatever happened to u).
    *
    * Scale shape: this is THE point of clustering first — pairwise work
    * is Σ_cell |cell|², bounded by N × IvfVectorsPerCell (linear in N
    * with balanced cells, which the k-means|| seeding + cell-balance spec
    * maintain), never the all-pairs N². The self-join keys on cent_id
    * (co-partitioned shuffle); vectors ride the join; candidates are
    * verified by exact cosine immediately (v3's payload-through-join
    * lesson). ORACLE-EXACT: the oracle reads the persisted cell
    * assignment parquet and replays the within-cell pair scan + keep
    * rule; the kept-set invariants and recall vs the v2 labeled
    * pairs are asserted in SimilaritySpec.
    *
    * Known scale term, stated honestly: flat nearest-centroid ASSIGNMENT
    * costs N × C distance evaluations, and with C = N/IvfVectorsPerCell
    * that term is N²/50. Since the assignment became a persisted
    * ModelStore artifact ([[ivfCellAssignment]]) it is a SNAPSHOT-BUILD
    * cost — paid once when the model is (re)fit, never per invocation
    * (queries equi-join the stored 12-byte rows; the cost surfaces only
    * in a cold run's first_pass numbers). Every flat-IVF system carries
    * the build term; the billion-scale continuation is hierarchical
    * assignment at build time (route through ~√C super-centroids, then
    * score only that super-cell's centroids — 2N√C), kept out of here
    * because exact nearest-centroid assignment is what v17's
    * conservation spec pins. */
  def v8SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = normalizedEmbeddings(spark, dir)
    val cells = ivfCellAssignment(spark, dir)
    val e = emb.join(cells, "vec_id")
    val dropped = e.as("a").join(e.as("b"),
        $"a.cent_id" === $"b.cent_id" && $"a.vec_id" < $"b.vec_id")
      .filter(dot($"a.v", $"b.v") / ($"a.nrm" * $"b.nrm") >= CosineThreshold)
      .select($"b.vec_id".as("vec_id"))
      .distinct()
      .withColumn("kept", lit(false))
    e.select($"vec_id", $"cent_id")
      .join(dropped, Seq("vec_id"), "left")
      .select($"vec_id", $"cent_id", coalesce($"kept", lit(true)).as("kept"))
      .orderBy($"vec_id")
  }

  /** V16 — semantic (embedding-level) benchmark contamination: flag every
    * corpus vector whose cosine to ANY benchmark vector reaches
    * [[CosineThreshold]] — the embedding-space analogue of p4's n-gram
    * decontamination (a paraphrased benchmark item shares no 8-gram but
    * sits next to its source in embedding space). The benchmark set is
    * `vec_id % 25 == 0` (held-out eval items by convention); the corpus is
    * everything else.
    *
    * Scale shape: the bipartite candidate generation routes through the
    * persisted IVF model ([[ivfCentroids]] — fit once, applied here):
    * corpus vectors keep their single home cell, benchmark probes fan out
    * to `nprobe` cells and BROADCAST (the benchmark is the small side by
    * definition — thousands of rows vs a 100 TB corpus); candidates are
    * verified by exact cosine in the same stage, and the per-corpus-vector
    * best match is one partial-aggregating max_by — so flagged pairs are
    * never false positives (one-sided error: cell routing can only MISS a
    * cross-cell pair; the miss rate is the spec'd recall floor vs the
    * brute-force sweep, monotone in nprobe like v4). ORACLE-EXACT:
    * DuckDB consumes the persisted centroid + assignment parquet and
    * replays probing, verification, and the per-vector max bit-for-bit. */
  def v16SemanticContamination(spark: SparkSession, dir: String,
                               nprobe: Int = 2): DataFrame = {
    import spark.implicits._
    // zero-norm embeddings are excluded up front: their cosine is 0/0 =
    // NaN, and Spark's NaN-sorts-greatest semantics would let a NaN both
    // win the struct max AND pass `>= threshold` — a false positive that
    // silently voids the one-sided-error contract below
    val emb = normalizedEmbeddings(spark, dir).filter($"nrm" > 0)
    val cents = centArray(ivfCentroids(spark, dir, 1)).cache()
    // cell assignment is per-vector independent, so the corpus slice's
    // cells are exactly the persisted full-corpus artifact filtered to
    // the slice — no fresh N·C pass (only the small bench side scores)
    val corpus = emb.filter($"vec_id" % 25 =!= 0)
      .join(ivfCellAssignment(spark, dir), "vec_id")
    val bench = ivfAssign(emb.filter($"vec_id" % 25 === 0), cents, nprobe)
      .select($"vec_id".as("bench_id"), $"v".as("bv"), $"nrm".as("bn"),
        $"cent_id")
    corpus.join(broadcast(bench), Seq("cent_id"))
      .select($"vec_id",
        struct((dot($"v", $"bv") / ($"nrm" * $"bn")).as("cos"),
          (-$"bench_id").as("nk"), $"bench_id").as("m"))
      .groupBy($"vec_id")
      .agg(max($"m").as("m")) // best match; ties → lowest bench_id
      .filter($"m".getField("cos") >= CosineThreshold)
      .select($"vec_id", $"m".getField("bench_id").as("bench_id"),
        round($"m".getField("cos"), 6).as("cos_sim"))
      .orderBy($"vec_id")
  }

  /** Modulus selecting v17's "newly arrived" slice: vec_id % 10 == 7. */
  val DeltaMod = 7

  /** The IVF model fitted on v17's BASE slice only (the corpus snapshot
    * the index was built from) — persisted through [[ModelStore]] like
    * [[ivfCentroids]]; the delta must never leak into the fit. */
  private[operators] def baseIvfCentroids(spark: SparkSession,
                                          dir: String): DataFrame =
    ModelStore.table(spark, dir, "embeddings.parquet",
        s"ivf-base-ex$DeltaMod-i1-p$IvfVectorsPerCell") {
      fitIvfCentroids(
        normalizedEmbeddings(spark, dir)
          .filter(col("vec_id") % 10 =!= DeltaMod),
        kmeansIters = 1)
    }

  /** V17 — incremental index maintenance: route a DELTA of newly arrived
    * vectors into a PERSISTED IVF index without re-fitting — the
    * operation a continuously-ingesting vector store runs on every batch
    * (re-clustering 100 TB per arrival batch is not an option; indexes
    * re-fit on a schedule, deltas route through the live model between
    * fits). The base/delta split is by vec_id modulus ([[DeltaMod]]);
    * the centroid model is fitted on the BASE slice only and loaded from
    * the store, so applying the delta is pure map-side assignment.
    * Output is the per-cell growth audit — base/delta/total occupancy
    * and the delta fraction — exactly the statistic that decides WHEN
    * the scheduled re-fit is due (a cell absorbing a disproportionate
    * delta share signals distribution drift; compare p24's corpus-level
    * view).
    *
    * Scale shape: assignment is the map-side HOF-vs-one-broadcast-row
    * pattern (no join, no shuffle of vectors); the only aggregation is
    * groupBy(cent_id) over (vec_id, cent_id) pairs — C-row output.
    * ORACLE-EXACT: DuckDB reads the persisted base-slice centroids and
    * replays assignment and the per-cell audit from scratch (only the
    * k-means fit is taken as given); SimilaritySpec additionally asserts
    * nearest-centroid correctness vs a driver recompute, count
    * conservation, and the no-refit store contract. */
  def v17IndexDelta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = normalizedEmbeddings(spark, dir)
    val cents = centArray(baseIvfCentroids(spark, dir)).cache()
    val base = ivfAssign(emb.filter($"vec_id" % 10 =!= DeltaMod), cents, 1)
      .groupBy($"cent_id").agg(count(lit(1)).as("n_base"))
    val delta = ivfAssign(emb.filter($"vec_id" % 10 === DeltaMod), cents, 1)
      .groupBy($"cent_id").agg(count(lit(1)).as("n_delta"))
    base.join(delta, Seq("cent_id"), "full")
      .select($"cent_id",
        coalesce($"n_base", lit(0L)).as("n_base"),
        coalesce($"n_delta", lit(0L)).as("n_delta"))
      .withColumn("n_total", $"n_base" + $"n_delta")
      .withColumn("delta_frac",
        $"n_delta".cast(DoubleType) / $"n_total".cast(DoubleType))
      .orderBy($"cent_id")
  }

  /** V6 — per-label embedding centroids (class prototypes): mean vector per
    * label, one output row per (label, dimension). Floats are quantized to
    * round(x·10⁶) BIGINTs before summing, so the aggregation is
    * order-independent integer math — exactly reproducible across engines
    * and partitionings (a double sum would differ in the last bits per
    * reduction order). posexplode + groupBy(label, pos) partial-aggregates
    * map-side; the shuffle carries C×dim rows, not N×dim. */
  /** PQ (v10) geometry: PqM subspaces × PqK centroids each. 8 subspaces
    * of a 64-dim embedding at 16 codes = 8 bytes/vector (4 bits used of
    * each) — 32× smaller than float64, the compression that lets a
    * 100 TB embedding corpus score from memory. */
  val PqM = 8
  val PqK = 16
  /** Lloyd refinement passes per subspace codebook. */
  val PqLloyd = 2
  /** ADC shortlist size before the exact re-rank. */
  val PqShortlist = 50

  /** Subvector view of the corpus: (vec_id, nrm, [carry...], m, sv) — one
    * row per subspace, built by an in-row slice explode (narrow, no
    * shuffle). `carry` columns ride along unchanged (v15 threads cent_id
    * through; v10 carries nothing). */
  private def pqSubvectors(emb: DataFrame, d: Int,
                           carry: Seq[String] = Nil): DataFrame = {
    import emb.sparkSession.implicits._
    val keep = Seq($"vec_id", $"nrm") ++ carry.map(col)
    emb.select(keep :+
      explode(array((0 until PqM).map { m =>
        struct(lit(m).as("m"), slice($"v", m * d + 1, d).as("sv"))
      }: _*)).as("s"): _*)
      .select(keep :+ $"s.m".as("m") :+ $"s.sv".as("sv"): _*)
  }

  /** The M×K×d codebook as a nested literal column (small by contract:
    * 8×16×8 doubles — it rides the task binary like any broadcast). */
  private def pqCodebookLit(cb: Array[Array[Array[Double]]]): Column =
    array(cb.toIndexedSeq.map(mArr =>
      array(mArr.toIndexedSeq.map(kArr => lit(kArr)): _*)): _*)

  /** Map-side PQ assignment: per (m, sv) row, argmin-L2² over the m-th
    * codebook via HOFs against the literal — no join, no shuffle.
    * `array_position(scored, array_min(scored))` is exact (the min
    * element equals itself bit-for-bit) and breaks ties toward the
    * lowest code deterministically. */
  private def pqAssign(sub: DataFrame, cb: Array[Array[Array[Double]]]): DataFrame = {
    import sub.sparkSession.implicits._
    val cents = element_at(pqCodebookLit(cb), $"m" + 1)
    val scored = transform(cents, c =>
      aggregate(zip_with($"sv", c, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x))
    sub.withColumn("code",
      (array_position(scored, array_min(scored)) - 1).cast("int"))
  }

  /** Fit the per-subspace codebooks (driver-side M×K×d result — the PQ
    * model IS driver-sized by design): deterministic salted-hash seeding
    * (K lowest hashes per subspace), then PqLloyd recenter passes where
    * assignment is the map-side HOF argmin and the recenter shuffle
    * carries M×K×d cells, never the corpus. */
  private[operators] def fitPqCodebooks(emb: DataFrame, d: Int): Array[Array[Array[Double]]] = {
    import emb.sparkSession.implicits._
    val sub = pqSubvectors(emb, d)
    val w = Window.partitionBy($"m")
      .orderBy(xxhash64(lit("pqseed"), $"vec_id", $"m"), $"vec_id")
    val cb: Array[Array[Array[Double]]] =
      Array.tabulate(PqM, PqK)((_, _) => new Array[Double](d))
    sub.withColumn("rk", row_number().over(w))
      .filter($"rk" <= PqK).select($"m", $"rk", $"sv").collect()
      .foreach { r =>
        cb(r.getInt(0))(r.getInt(1) - 1) = r.getSeq[Double](2).toArray
      }
    var cur = cb
    for (_ <- 1 to PqLloyd) {
      val next = cur.map(_.map(_.clone())) // empty cells keep their center
      pqAssign(sub, cur)
        .select($"m", $"code", posexplode($"sv"))
        .groupBy($"m", $"code", $"pos").agg(avg($"col").as("c"))
        .collect()
        .foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
        }
      cur = next
    }
    cur
  }

  /** Corpus PQ codes: (vec_id, nrm, [carry...], codes array<tinyint> of
    * length M). `carry` columns are constant per vec_id and survive via
    * first(). */
  private[operators] def pqEncode(emb: DataFrame, cb: Array[Array[Array[Double]]],
                                  d: Int, carry: Seq[String] = Nil): DataFrame = {
    import emb.sparkSession.implicits._
    val aggs = ("nrm" +: carry).map(n => first(col(n)).as(n)) :+
      transform(array_sort(collect_list(struct($"m", $"code"))),
        x => x("code").cast("byte")).as("codes")
    pqAssign(pqSubvectors(emb, d, carry), cb)
      .groupBy($"vec_id")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** V10 — product quantization ANN (Jégou et al., PAMI 2011): per-
    * subspace k-means codebooks compress each vector to M byte codes
    * (32× vs float64); queries score the whole corpus by summing M
    * table lookups (ADC — asymmetric distance computation), shortlist
    * via the mergeable top-k aggregate, then re-rank the shortlist with
    * exact cosine.
    *
    * Scale shape, stage by stage: the codebook fit collects only
    * M×K×d-cell aggregates (the model is driver-sized by contract) and is
    * persisted through [[ModelStore]] — fit once, applied per invocation;
    * encoding is map-side HOF argmin (no join); the per-query LUT —
    * queries × M×K dots — is computed once on the driver from the
    * (small-by-definition) query set and broadcast, so corpus scoring is
    * M array lookups per (vector, query) pair with NO shuffle before the
    * partial top-k; only PqShortlist ids per query reach the exact
    * re-rank, which re-attaches true vectors via a hash join bounded by
    * queries×shortlist. ORACLE-EXACT: DuckDB reads the persisted
    * codebook parquet and replays encode → ADC shortlist → exact re-rank
    * bit-for-bit (only the Lloyd fit is taken as given); recall-vs-exact
    * and tinyint-compression specs in SimilaritySpec. */
  def v10AnnPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = normalizedEmbeddings(spark, dir)
    val dim = emb.select(size($"v")).first().getInt(0)
    require(dim % PqM == 0,
      s"embedding dim $dim not divisible into $PqM PQ subspaces — " +
        "trailing dimensions would silently drop from codes and scoring")
    val d = dim / PqM
    // persisted codebook model: fit once per corpus snapshot, applied here
    val cb = pqModel(spark, dir, s"pq-m$PqM-k$PqK-l$PqLloyd", d)(emb)
    // the corpus CODE TABLE persists too (the ivfCellAssignment
    // precedent, r10): codes are a pure function of (corpus snapshot,
    // fitted codebook), and the N×M argmin encode pass — an interpreted
    // HOF over K×d terms per subvector — is a snapshot-build cost, not a
    // per-query one; every later invocation reads (vec_id, nrm, M bytes)
    // rows instead of re-encoding. Byte codes and doubles round-trip
    // parquet exactly (store-equivalence spec'd).
    val codes = ModelStore.table(spark, dir, "embeddings.parquet",
      s"pq-codes-m$PqM-k$PqK-l$PqLloyd") { pqEncode(emb, cb, d) }
    // per-query ADC lookup tables, driver-computed from the broadcast side
    val lutRows = emb.filter($"vec_id" < QueryCount)
      .select($"vec_id", $"v", $"nrm").collect().toSeq
      .map { r =>
        val qv = r.getSeq[Double](1).toArray
        val lut = Seq.tabulate(PqM, PqK) { (m, k) =>
          var s = 0.0; var i = 0
          while (i < d) { s += qv(m * d + i) * cb(m)(k)(i); i += 1 }
          s
        }
        (r.getLong(0), r.getDouble(2), lut)
      }
    val qdf = spark.createDataFrame(lutRows).toDF("query_id", "qn", "lut")
    val shortlist = codes.crossJoin(broadcast(qdf))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", $"qn",
        // codegen'd primitive loop (AdcScore) — the aggregate-HOF over
        // nested element_at it replaces ran interpreted per candidate
        (graft.plans.VectorExpressions.adcScore($"lut", $"codes") /
          ($"qn" * $"nrm")).as("approx_cos"))
      .groupBy($"query_id")
      .agg(graft.plans.TopKAggregate.topK($"approx_cos", $"vec_id", PqShortlist)
        .as("top"))
      .select($"query_id", explode($"top").as("c"))
      .select($"query_id", $"c.id".as("vec_id"))
    // exact re-rank of the bounded shortlist
    val qvec = emb.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    shortlist
      .join(broadcast(qvec), "query_id")
      .hint("shuffle_hash")
      .join(emb.select($"vec_id", $"v", $"nrm"), "vec_id")
      .select($"query_id",
        (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"), $"vec_id")
      .groupBy($"query_id")
      .agg(graft.plans.TopKAggregate.topK($"cos", $"vec_id", K).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", ($"pos" + 1).cast("int").as("rk"),
        $"col.id".as("vec_id"), round($"col.score", 6).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** Cells each v15 query probes. The fixture's similarities are weak
    * (cos ≈ 0.45 — near-neighbors scatter across cells), so the default
    * sits at the high end; at production cell counts (thousands+) this
    * is still a vanishing fraction of the corpus. */
  val IvfPqProbes = 8

  /** v15's ADC shortlist size. Wider than v10's ([[PqShortlist]]): the
    * RESIDUAL quantization plus the fixture's weak cosines (≈0.45)
    * misrank more near-ties, so the exact re-rank needs a deeper pool to
    * recover the true top-k — still only queries×shortlist rows into the
    * bounded re-rank join, a vanishing cost at any corpus size. */
  val IvfPqShortlist = 200

  /** V15 — IVF-PQ (IVFADC, Jégou et al. PAMI 2011 §V): the composed
    * billion-scale ANN layout — v4's IVF cells bound WHICH vectors a
    * query scores (nprobe cells, not the corpus), and v10's product
    * quantization bounds WHAT each scored vector costs (M byte codes,
    * not dim floats). Codes encode the RESIDUAL v − centroid (the
    * published refinement: residuals cluster tighter than raw vectors,
    * so the same codebook budget quantizes finer), and the ADC score
    * reconstructs q·v = q·c + q·r with q·c computed per (query, probed
    * cell) on the driver and q·r from the per-query LUTs.
    *
    * Scale shape, stage by stage: cell fit and assignment are v4's
    * map-side HOF passes; residuals are a map-side zip_with against the
    * broadcast C-row centroid table; codebook fit collects only
    * M×K×d-cell aggregates; the query side — nprobe cell dots + M×K LUTs
    * per query — is driver-computed from the small-by-contract query set
    * and broadcast, so candidate scoring is a BROADCAST equi-join on
    * cent_id (the corpus never crossJoins the query set — a query scores
    * nprobe/C of the corpus, the property v10 lacks); the mergeable
    * top-k shortlist and the bounded exact re-rank are v10's tail.
    * Both models (IVF centroids, residual codebooks) are persisted
    * through [[ModelStore]] — fit once per corpus snapshot, applied by
    * every later invocation (the fit/apply split; at 100 TB a per-query
    * re-fit would re-scan the corpus to rebuild a driver-sized artifact).
    * ORACLE-EXACT: DuckDB reads BOTH persisted models (centroids +
    * assignment, residual codebooks) and replays residual encode, probe,
    * ADC, and the exact re-rank bit-for-bit; recall + plan-shape specs
    * remain in SimilaritySpec. */
  def v15AnnIvfPq(spark: SparkSession, dir: String,
                  nprobe: Int = IvfPqProbes): DataFrame = {
    import spark.implicits._
    val emb = normalizedEmbeddings(spark, dir)
    val dim = emb.select(size($"v")).first().getInt(0)
    require(dim % PqM == 0, s"dim $dim not divisible into $PqM subspaces")
    val d = dim / PqM
    // persisted IVF model (shared with v4/v8) — fit once, consumed here;
    // corpus cells likewise come from the persisted assignment artifact
    val cents = ivfCentroids(spark, dir, 1).cache()
    val assigned = emb.join(ivfCellAssignment(spark, dir), "vec_id")
    // residual encoding: r = v − c(cell), map-side against the broadcast
    // C-row centroid table; nrm stays the ORIGINAL norm (cosine is over
    // the true vector, reconstructed additively in the score)
    val resid = assigned.join(broadcast(cents), "cent_id")
      .select($"vec_id", $"nrm", $"cent_id",
        zip_with($"v", $"cv", (x, c) => x - c).as("v"))
    // persisted residual-codebook model; its name embeds the IVF fit
    // parameters too, since residuals are defined against THOSE centroids.
    // On a store miss the fit re-scans the residuals (seeding + each Lloyd
    // pass) — cache them for the fit's lifetime only (released below); on
    // a store hit the residuals are scanned exactly once (by the encode),
    // so caching would be pure overhead
    var residFit: Option[DataFrame] = None
    val cb = pqModel(spark, dir,
        s"ivfpq-cb-i1-p$IvfVectorsPerCell-m$PqM-k$PqK-l$PqLloyd", d) {
      val r = resid.cache(); residFit = Some(r)
      r.select($"vec_id", $"nrm", $"v")
    }
    // per-vector codes with cent_id carried through the subvector explode
    // (v10's pqEncode shape + the cell column) — PERSISTED like v10's
    // code table; the name embeds the IVF fit parameters too, since the
    // residual codes are defined against those centroids. On a code-store
    // hit the residuals are never recomputed at all.
    val codes = ModelStore.table(spark, dir, "embeddings.parquet",
        s"ivfpq-codes-i1-p$IvfVectorsPerCell-m$PqM-k$PqK-l$PqLloyd") {
      pqEncode(residFit.getOrElse(resid), cb, d, carry = Seq("cent_id"))
    }
    // driver-side query model: per query, the nprobe nearest cells with
    // q·c precomputed, plus the M×K residual-codebook LUT
    val centRows = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probeRows = emb.filter($"vec_id" < QueryCount)
      .select($"vec_id", $"v", $"nrm").collect().toSeq.flatMap { r =>
        val qv = r.getSeq[Double](1).toArray
        val qn = r.getDouble(2)
        def qdot(c: Array[Double]): Double = {
          var s = 0.0; var i = 0
          while (i < c.length) { s += qv(i) * c(i); i += 1 }; s
        }
        val lut = Seq.tabulate(PqM, PqK) { (m, k) =>
          var s = 0.0; var i = 0
          while (i < d) { s += qv(m * d + i) * cb(m)(k)(i); i += 1 }
          s
        }
        centRows
          .map { case (cid, cv) =>
            val cn = math.sqrt(cv.map(x => x * x).sum)
            val qc = qdot(cv)
            (qc / (qn * cn), cid, qc)
          }
          .sortBy { case (cos, cid, _) => (-cos, cid) }.take(nprobe)
          .map { case (_, cid, qc) => (r.getLong(0), qn, cid, qc, lut) }
      }
    val probes = spark.createDataFrame(probeRows)
      .toDF("query_id", "qn", "cent_id", "qc", "lut")
    // candidate scoring: vectors in probed cells ONLY (broadcast
    // equi-join on cent_id), score = (q·c + Σ lut[m][code_m]) / (qn·nrm)
    val shortlist = codes.join(broadcast(probes), "cent_id")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        // q·v = q·c + Σ lut[m][code_m], the residual sum via the
        // codegen'd AdcScore loop (same left-fold order as the HOF)
        (($"qc" + graft.plans.VectorExpressions.adcScore($"lut", $"codes")) /
          ($"qn" * $"nrm")).as("approx_cos"))
      .groupBy($"query_id")
      .agg(graft.plans.TopKAggregate.topK($"approx_cos", $"vec_id",
        IvfPqShortlist).as("top"))
      .select($"query_id", explode($"top").as("c"))
      .select($"query_id", $"c.id".as("vec_id"))
    val qvec = emb.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    // queries×k rows: materialize eagerly so the fit-scoped caches are
    // RELEASED here — the residual cache (store-miss path only) is
    // corpus-sized and scoped to this run's fit; left cached it would
    // only accumulate as dead weight until LRU eviction hits live caches
    val out = graft.sources.Tables.stage(shortlist
      .join(broadcast(qvec), "query_id")
      .hint("shuffle_hash")
      .join(emb.select($"vec_id", $"v", $"nrm"), "vec_id")
      .select($"query_id",
        (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"), $"vec_id")
      .groupBy($"query_id")
      .agg(graft.plans.TopKAggregate.topK($"cos", $"vec_id", K).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", ($"pos" + 1).cast("int").as("rk"),
        $"col.id".as("vec_id"), round($"col.score", 6).as("cos_sim"))
      .orderBy($"query_id", $"rk"))
    residFit.foreach(_.unpersist())
    cents.unpersist()
    out
  }

  /** Number of principal components v9 projects onto. */
  val PcaK = 8
  /** Fixed-point scale for the exact covariance sums (v6's trick). */
  private val PcaQ = 1e6

  /** V9 — PCA projection (embedding whitening/compression): the linear
    * map a pipeline fits once and applies corpus-wide before ANN or
    * clustering. Three stages, each in its scale-correct shape:
    *  1. covariance: ONE narrow mapPartitions pass accumulating the
    *     D(D+1)/2 upper-triangle products as exact quantized-integer
    *     sums — Long hot loop, BigInt flush every 256 rows so 10¹² rows
    *     cannot overflow (order-independent — deterministic at any
    *     partitioning); only numPartitions model-sized partials reach
    *     the driver, which the eigensolve collects anyway;
    *  2. eigen-decomposition of the (tiny, D×D) covariance on the driver
    *     — cyclic Jacobi, deterministic, sign-fixed so reruns match;
    *  3. projection: map-side dot products against the broadcast-literal
    *     component matrix (codegen'd DotProduct), zero shuffle.
    * Stages 1–2 are the FIT and persist through [[ModelStore]] (r7):
    * one (pc, w, mean_dot) row per component, fit once per corpus
    * snapshot like every other model. ORACLE-EXACT since r7: DuckDB
    * reads the persisted component parquet and replays the projection
    * (list_inner_product − mean_dot, the same left-to-right double sum
    * as the codegen'd DotProduct) — only the covariance+Jacobi fit is
    * taken as given. SimilaritySpec asserts orthonormality, descending
    * captured variance, centering, and the contraction property. */
  private[operators] def pcaModel(spark: SparkSession, dir: String): DataFrame =
    ModelStore.table(spark, dir, "embeddings.parquet", s"pca-k$PcaK") {
      pcaFit(spark, dir)
    }

  private[operators] def pcaFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Tables.load(spark, dir, "embeddings")
      .select(size($"embedding")).first().getInt(0)
    // stage 1: upper-triangle product sums, quantized exact — a NARROW
    // mapPartitions pass with a hand-rolled multiply-add loop into local
    // Long arrays, flushed into BigInt every 256 rows. This replaced a
    // chained-posexplode → groupBy(i,j) decimal aggregation that
    // materialized N·D(D+1)/2 rows (104M at sf0.1, ~3.5 s) through the
    // hash aggregate; the loop does the same 104M multiply-adds in ~0.3 s
    // because no row objects or decimal boxing exist. Exactness and
    // order-independence are unchanged: integer sums in any grouping are
    // the same integer, and the BigInt flush bounds the Long window —
    // 256 rows × q² ≤ 2⁶³ holds for |x| ≤ 180 at PcaQ=1e6, far above any
    // normalized embedding (require below fails loudly otherwise, rather
    // than wrapping silently).
    val nPairs = dim * (dim + 1) / 2
    val partials = Tables.load(spark, dir, "embeddings")
      .select(transform($"embedding".cast("array<double>"),
        x => round(x * PcaQ).cast("long")).as("qv"))
      .as[Seq[Long]].rdd
      .mapPartitions { it =>
        val qMax = 180L * 1000000L // |x| ≤ 180 at PcaQ = 1e6 (doc above)
        var n = 0L
        var since = 0
        val s = new Array[Long](dim)
        val p = new Array[Long](nPairs)
        val sBig = Array.fill(dim)(BigInt(0))
        val pBig = Array.fill(nPairs)(BigInt(0))
        def flush(): Unit = {
          var i = 0
          while (i < dim) { sBig(i) += s(i); s(i) = 0L; i += 1 }
          var k = 0
          while (k < nPairs) { pBig(k) += p(k); p(k) = 0L; k += 1 }
          since = 0
        }
        it.foreach { v =>
          val a = v.toArray
          require(a.length == dim, s"ragged embedding: ${a.length} != $dim")
          var i = 0; var k = 0
          while (i < dim) {
            require(math.abs(a(i)) <= qMax,
              s"|embedding| too large for the Long window: ${a(i) / PcaQ}")
            s(i) += a(i)
            var j = i
            while (j < dim) { p(k) += a(i) * a(j); j += 1; k += 1 }
            i += 1
          }
          n += 1; since += 1
          if (since >= 256) flush()
        }
        flush()
        if (n == 0L) Iterator.empty
        else Iterator.single((n, sBig, pBig))
      }.collect()
    // stage 2: driver-side merge (exact BigInt) → covariance + Jacobi
    // eigen-solve. Partials are numPartitions × (1 + D + D(D+1)/2) BigInts
    // — model-fit sized, the same collect the eigensolve needs anyway.
    val nTotal = partials.map(_._1).sum
    val sTot = Array.tabulate(dim)(i =>
      partials.map(_._2(i)).foldLeft(BigInt(0))(_ + _))
    val pTot = Array.tabulate(nPairs)(k =>
      partials.map(_._3(k)).foldLeft(BigInt(0))(_ + _))
    val cov = Array.ofDim[Double](dim, dim)
    val mean = new Array[Double](dim)
    val cnt = nTotal.toDouble
    var k = 0
    for (i <- 0 until dim; j <- i until dim) {
      val si = sTot(i).doubleValue / PcaQ
      val sj = sTot(j).doubleValue / PcaQ
      val sij = pTot(k).doubleValue / (PcaQ * PcaQ)
      val c = sij / cnt - (si / cnt) * (sj / cnt)
      cov(i)(j) = c; cov(j)(i) = c
      if (i == j) mean(i) = si / cnt
      k += 1
    }
    val (eigVals, eigVecs) = jacobiEigen(cov)
    val order = eigVals.indices.sortBy(k => -eigVals(k)).take(PcaK)
    val comps = order.map { k =>
      val v = eigVecs.map(_(k))
      // sign convention: largest-|component| entry positive, so reruns
      // (and refits on re-partitioned data) emit identical projections
      val m = v.indices.maxBy(i => math.abs(v(i)))
      if (v(m) < 0) v.map(x => -x) else v
    }
    // model rows: component index, eigenvector, and the centering
    // constant w·mean (folded here so apply never touches the mean)
    val modelRows = comps.zipWithIndex.map { case (v, c) =>
      val meanDot = v.indices.map(i => v(i) * mean(i)).sum
      (c + 1, v.toSeq, meanDot)
    }
    spark.createDataFrame(modelRows).toDF("pc", "w", "mean_dot")
  }

  def v9PcaProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // stage 3 (APPLY): map-side dot against the literal persisted
    // components (doubles round-trip parquet bit-exactly, so
    // store-apply ≡ fresh-fit-apply); centering is the stored scalar
    val model = pcaModel(spark, dir).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    val projCols = model.map { case (c, w, meanDot) =>
      (dot($"ev", lit(w)) - lit(meanDot)).as(s"pc$c")
    }.toSeq
    Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("ev"))
      .select(($"vec_id" +: projCols): _*)
      .orderBy($"vec_id")
  }

  /** Cyclic Jacobi eigen-decomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector columns). Deterministic sweep order, fixed
    * iteration cap — bit-stable across runs for identical input. O(D³)
    * per sweep on a D×D matrix: driver-side math on a 64×64 covariance,
    * never cluster work. */
  private[operators] def jacobiEigen(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < 50 && {
      var off = 0.0
      for (i <- 0 until d; j <- i + 1 until d) off += a(i)(j) * a(i)(j)
      off > 1e-18
    }) {
      for (p <- 0 until d; qq <- p + 1 until d if math.abs(a(p)(qq)) > 1e-15) {
        val theta = (a(qq)(qq) - a(p)(p)) / (2.0 * a(p)(qq))
        val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (k <- 0 until d) {
          val akp = a(k)(p); val akq = a(k)(qq)
          a(k)(p) = c * akp - s * akq
          a(k)(qq) = s * akp + c * akq
        }
        for (k <- 0 until d) {
          val apk = a(p)(k); val aqk = a(qq)(k)
          a(p)(k) = c * apk - s * aqk
          a(qq)(k) = s * apk + c * aqk
        }
        for (k <- 0 until d) {
          val vkp = v(k)(p); val vkq = v(k)(qq)
          v(k)(p) = c * vkp - s * vkq
          v(k)(qq) = s * vkp + c * vkq
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  def v6LabelCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "embeddings")
      .select($"label", posexplode($"embedding"))
      .select($"label", $"pos",
        round($"col".cast("double") * 1000000).cast("long").as("q"))
      .groupBy($"label", $"pos")
      .agg(count(lit(1)).as("n_vecs"), sum($"q").as("sum_q"))
      .select($"label", $"pos", $"n_vecs", $"sum_q",
        round($"sum_q" / $"n_vecs" / 1000000, 6).as("centroid"))
      .orderBy($"label", $"pos")
  }

  /** MMR relevance weight λ: score = λ·rel − (1−λ)·max-sim-to-selected. */
  val MmrLambda = 0.7
  /** Candidate pool per query = MmrPool × K. */
  val MmrPool = 3

  /** V11 — MMR diversified re-rank (Carbonell & Goldstein, SIGIR'98):
    * retrieval pipelines re-rank the raw ANN shortlist so the k results
    * aren't k near-copies of each other — greedy selection maximizing
    * λ·relevance − (1−λ)·max-cosine-to-already-selected.
    *
    * Scale shape: candidate generation is v1's broadcast-queries +
    * per-query top-(MmrPool·K) window (one corpus pass); the greedy loop —
    * inherently sequential, O((pool·k)²·dim) — runs inside mapGroups per
    * query over its OWN ≤ pool·k candidate rows, so the sequential part
    * touches a constant-sized group, never the corpus, and queries
    * parallelize independently. Deterministic: candidates enter the loop
    * sorted by (rk), ties break toward the lower rank. ORACLE-EXACT
    * since r6: K is a compile-time constant, so [[v11Oracle]] unrolls
    * the greedy rounds into K chained CTEs (iterative greedy is only
    * non-portable when the depth is data-dependent); SimilaritySpec
    * additionally pins a driver recompute and the diversity win over
    * plain top-k. */
  def v11MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
    val queries = emb.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"vec_id".asc)
    val cands = emb
      .join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"), $"v", $"nrm")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= MmrPool * K)
      .as[(Long, Long, Double, Seq[Double], Double, Int)]
    cands.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val pool = it.toArray.sortBy(_._6) // by rk: deterministic order
        mmrSelect(pool.map(c => (c._2, c._3, c._4.toArray, c._5)), K)
          .zipWithIndex.map { case ((vecId, score), i) =>
            (qid, i + 1, vecId,
              math.round(score * 1e6) / 1e6)
          }
      }
      .toDF("query_id", "rk", "vec_id", "mmr_score")
      .orderBy($"query_id", $"rk")
  }

  /** The greedy MMR loop over one query's candidate pool
    * (id, relevance, vector, norm) — also the spec's driver recompute. */
  private[operators] def mmrSelect(pool: Array[(Long, Double, Array[Double], Double)],
                                   k: Int): Seq[(Long, Double)] = {
    val n = pool.length
    val picked = Array.fill(n)(false)
    val maxSim = Array.fill(n)(0.0) // max cos to the selected set so far
    val out = Seq.newBuilder[(Long, Double)]
    var round = 0
    while (round < math.min(k, n)) {
      var best = -1; var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!picked(i)) {
          val s = MmrLambda * pool(i)._2 - (1 - MmrLambda) * maxSim(i)
          if (s > bestScore) { bestScore = s; best = i } // first-wins tie
        }
        i += 1
      }
      picked(best) = true
      out += ((pool(best)._1, bestScore))
      val bv = pool(best)._3; val bn = pool(best)._4
      var j = 0
      while (j < n) {
        if (!picked(j)) {
          var d = 0.0; var t = 0
          while (t < bv.length) { d += bv(t) * pool(j)._3(t); t += 1 }
          maxSim(j) = math.max(maxSim(j), d / (bn * pool(j)._4))
        }
        j += 1
      }
      round += 1
    }
    out.result()
  }

  /** Eval-set size for v12 (evals run on a sample by contract — the
    * corpus side streams, the eval side broadcasts). */
  val KnnEvalCount = 200

  /** V12 — k-NN label-agreement eval: for a sampled eval set, does the
    * majority label of each vector's k nearest neighbors (self excluded)
    * match its own label? The standard "is this embedding space any
    * good" audit a pipeline runs before trusting v4/v8's clustering.
    *
    * Scale shape: v5's physical pattern — eval set broadcast, corpus
    * streams map-side cosine into the mergeable partial top-k aggregate
    * (k rows per query cross the shuffle, no window over a per-query
    * corpus-sized partition); neighbor labels re-attach to the
    * queries×k shortlist by a bounded shuffled-hash join; the vote and
    * accuracy aggregates run over queries×k rows. accuracy is one IEEE
    * division of exact counts — oracle-exact. */
  def v12KnnEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"label", asDouble($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
    val eval = emb.filter($"vec_id" < KnnEvalCount)
      .select($"vec_id".as("query_id"), $"label".as("qlabel"),
        $"v".as("qv"), $"nrm".as("qn"))
    val top = emb.join(broadcast(eval), $"vec_id" =!= $"query_id")
      .select($"query_id", $"qlabel", $"vec_id",
        (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"))
      .groupBy($"query_id", $"qlabel")
      .agg(graft.plans.TopKAggregate.topK($"cos", $"vec_id", K).as("top"))
      .select($"query_id", $"qlabel", explode($"top").as("c"))
      .select($"query_id", $"qlabel", $"c.id".as("vec_id"))
      .hint("shuffle_hash")
      .join(emb.select($"vec_id", $"label".as("n_label")), "vec_id")
    val wv = Window.partitionBy($"query_id")
      .orderBy($"cnt".desc, $"n_label".asc)
    top.groupBy($"query_id", $"qlabel", $"n_label")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("vr", row_number().over(wv))
      .filter($"vr" === 1)
      .groupBy($"qlabel".as("label"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when($"n_label" === $"qlabel", 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy",
        $"n_correct".cast("double") / $"n_eval")
      .orderBy($"label")
  }

  /** Feature-hashing dimensionality for v13. */
  val HashedDim = 32

  /** V13 — hashed text embeddings (the "hashing trick", Weinberger et al.
    * ICML 2009): each document's token-count vector is projected into
    * [[HashedDim]] buckets with a ±1 sign per token — v[b] = Σ ξ(t)·c(t)
    * over tokens hashing to b — giving model-free sparse-to-dense
    * vectors that bridge the `documents` table into the v-family's
    * vector operators without an external encoder. Bucket and sign come
    * from md5 hex digits via position-in-alphabet arithmetic (the p17
    * trick), so the embedding is integer-exact on both engines; emitted
    * long-form (doc_id, dim, value) for the oracle.
    *
    * Scale: pure map-side token explode + one groupBy(doc_id, dim) with
    * map-side combine — no joins, no model state, linear to 100 TB. */
  def v13HashedEmbedding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.load(spark, dir, "documents")
      .select($"doc_id", explode(tokens($"text")).as("token"))
    toks
      .withColumn("dim", expr(
        "(instr('0123456789abcdef', substring(md5(token), 1, 1)) - 1) * 2" +
          " + (instr('0123456789abcdef', substring(md5(token), 2, 1)) - 1) DIV 8"))
      .withColumn("sgn", expr(
        "CASE WHEN instr('0123456789abcdef', substring(md5(token), 3, 1)) > 8" +
          " THEN 1 ELSE -1 END"))
      .groupBy($"doc_id", $"dim")
      .agg(sum($"sgn").as("value"))
      .orderBy($"doc_id", $"dim")
  }

  /** V14 — simplified silhouette (Hruschka et al. 2004): per-class mean of
    * s(x) = (b − a) / max(a, b), where a = distance to the OWN class
    * centroid and b = distance to the NEAREST other class centroid — the
    * O(N·C) centroid form of the O(N²) silhouette, and the standard "are
    * these labels actually separated in embedding space" audit a pipeline
    * runs next to v12's k-NN agreement before trusting v4/v8's cells.
    *
    * Scale shape: centroids are exact quantized-integer means (v6's
    * pattern) collapsed into ONE broadcast row; a and b are map-side HOF
    * mins over that row through the codegen'd dot_product (v4's
    * assignment shape — no join, no window, nothing N×C ever shuffles);
    * the only exchanges are the C×dim centroid build and the final C-row
    * groupBy. Engine exactness: d² = v·v − 2·v·c + c·c from
    * left-to-right double dots (DuckDB's list_inner_product folds
    * identically — verified bitwise), sqrt is correctly-rounded IEEE on
    * both engines, and the per-class mean quantizes s to 1e-6 ints
    * before summing (order-independent, the v6 rule). */
  def v14Silhouette(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raw = Tables.load(spark, dir, "embeddings")
    val cents = raw
      .select($"label", posexplode($"embedding"))
      .select($"label", $"pos",
        round($"col".cast("double") * 1000000).cast("long").as("q"))
      .groupBy($"label", $"pos")
      .agg(sum($"q").as("sq"), count(lit(1)).as("n"))
      .select($"label", $"pos",
        ($"sq".cast("double") / $"n" / 1000000).as("c"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"pos", $"c"))).as("pc"))
      .select($"label".as("clabel"), transform($"pc", x => x("c")).as("cv"))
      .withColumn("cc", dot($"cv", $"cv"))
      .agg(collect_list(struct($"clabel", $"cv", $"cc")).as("cents"))
    val d2 = (c: Column) => $"vv" - lit(2) * dot($"v", c("cv")) + c("cc")
    raw.select($"vec_id", $"label", asDouble($"embedding").as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("vv", dot($"v", $"v"))
      .withColumn("a2", array_min(transform(
        filter($"cents", c => c("clabel") === $"label"), d2)))
      .withColumn("b2", array_min(transform(
        filter($"cents", c => c("clabel") =!= $"label"), d2)))
      .withColumn("sil",
        (sqrt($"b2") - sqrt($"a2")) / greatest(sqrt($"a2"), sqrt($"b2")))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(round($"sil" * 1000000).cast("long")).as("sum_q"))
      .select($"label", $"n_vecs", $"sum_q",
        round($"sum_q".cast("double") / $"n_vecs" / 1000000, 6).as("avg_sil"))
      .orderBy($"label")
  }

  /** Hamming shortlist size for v18's exact re-rank. */
  val BinaryShortlist = 100

  /** The sign-bit binary code table (vec_id, code): bit i of `code` is
    * set iff embedding[i] > 0 — one 8-byte long per 64-dim vector, a 32×
    * compression over float32 (the layout binary/1-bit quantization
    * serves at retrieval scale). 64 static conditional terms OR-fold
    * inside whole-stage codegen (the v3 hyperplane pattern; here the
    * "planes" are the axes). */
  private[graft] def binaryCodes(spark: SparkSession,
                                     dir: String): DataFrame = {
    import spark.implicits._
    // native ElementSignBits: one primitive loop per row — the 64
    // when(element_at…) OR-fold it replaces evaluated interpreted
    // (0.94 s for 20k rows, `Profile v3probe`); codes are bit-identical
    // (same strict > 0 rule per dimension)
    Tables.load(spark, dir, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v"))
      .select($"vec_id",
        graft.plans.VectorExpressions.elementSignBits($"v").as("code"))
  }

  /** V18 — binary (sign-bit) quantized ANN: score the corpus by Hamming
    * distance between 64-bit sign codes (`bit_count(xor)` — one popcount
    * per candidate over an 8-byte code), take a [[BinaryShortlist]]-sized
    * shortlist per query via the mergeable top-k aggregate, then re-rank
    * the shortlist by exact cosine. Binary codes are the cheapest
    * quantization tier (32× smaller than float32, vs v7's 8×) and the
    * Hamming scan is pure integer ALU work — the coarse-filter layer a
    * retrieval stack puts IN FRONT of v7/v10-grade scoring at 100 TB.
    *
    * Scale shape: stage 1 moves only k (score, id) pairs per query across
    * the shuffle (v5's TopKAggregate property) over a corpus scan that
    * reads 8 bytes/vector; stage 2 re-attaches exact vectors for
    * queries×shortlist rows only (equi-join on vec_id — bounded, never
    * corpus-wide). Oracle-exact: the sign rule, the Hamming ranking
    * (ties broken by vec_id, deterministic both stages), and the exact
    * re-rank are all SQL-reproducible — DuckDB counts differing sign
    * bits per pair directly, so the driver checks the full two-stage
    * pipeline; recall vs exact v1 and a driver recompute of the codes
    * are asserted in SimilaritySpec. */
  def v18AnnBinary(spark: SparkSession, dir: String,
                   shortlistK: Int = BinaryShortlist): DataFrame = {
    import spark.implicits._
    val codes = binaryCodes(spark, dir)
    val qCodes = codes.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("query_id"), $"code".as("qcode"))
    val shortlist = codes
      .join(broadcast(qCodes), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        (lit(64) - bit_count($"code".bitwiseXOR($"qcode")))
          .cast(DoubleType).as("ham_score"))
      .groupBy($"query_id")
      .agg(graft.plans.TopKAggregate
        .topK($"ham_score", $"vec_id", shortlistK).as("top"))
      .select($"query_id", explode($"top.id").as("vec_id"))
    val emb = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
    val queries = emb.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"vec_id".asc)
    shortlist
      .join(emb, "vec_id")
      .join(broadcast(queries), "query_id")
      .select($"query_id", $"vec_id",
        (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= K)
      .select($"query_id", $"rk", $"vec_id", round($"cos", 6).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** Prefix widths v19 evaluates (the full dim last — it is the truth). */
  val MatryoshkaWidths: Seq[Int] = Seq(8, 16, 32, 64)

  /** V19 — matryoshka (truncated-dimension) retrieval evaluation: exact
    * top-K search run at nested PREFIX widths of the embedding
    * (8/16/32/64 dims) and scored as top-K overlap against the full-dim
    * truth. Matryoshka representation learning (Kusupati et al. 2022)
    * trains embeddings so prefixes are usable at a fraction of the
    * cost — this operator measures what a given corpus actually loses
    * per width, the number that decides whether the 100 TB index stores
    * 64 floats or 16. Output is one row per (width, query) with a
    * NONZERO overlap — a (width, query) pair whose truncated top-K
    * shares nothing with the truth emits no row (the oracle SQL and the
    * spec agree on the omission); the overlap count is exact integer
    * set arithmetic, oracle-checkable, and the width=64 rows are the
    * truth's self-overlap (= K) by construction.
    *
    * Scale shape: the probe set is [[QueryCount]] queries broadcast
    * against one corpus scan (v1's evaluation contract — run on a query
    * SAMPLE, never corpus×corpus); widths multiply that scan by the
    * 4-row width table, still one shuffle of per-(width,query) top-k
    * windows. Prefix cosines slice inside codegen — no re-materialized
    * prefix tables. */
  def v19MatryoshkaEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v"))
    val queries = emb.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val widths = MatryoshkaWidths.toDF("width")
    val w = Window.partitionBy($"width", $"query_id")
      .orderBy($"cos".desc, $"vec_id".asc)
    // one evaluation of the ranked subtree: a semi-join of ranked
    // against its own width=64 slice would re-run the corpus scan and
    // the rank windows twice — instead collect each (query, candidate)'s
    // width set and count the widths that co-occur with the full width
    val ranked = emb
      .join(broadcast(queries), $"vec_id" =!= $"query_id")
      .crossJoin(broadcast(widths))
      .select($"width", $"query_id", $"vec_id",
        cosine(slice($"qv", lit(1), $"width"), slice($"v", lit(1), $"width"))
          .as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= K)
      .select($"width", $"query_id", $"vec_id")
    ranked
      .groupBy($"query_id", $"vec_id")
      .agg(collect_set($"width").as("ws"))
      .filter(array_contains($"ws", MatryoshkaWidths.last))
      .select($"query_id", explode($"ws").as("width"))
      .groupBy($"width", $"query_id")
      .agg(count(lit(1)).as("overlap"))
      .orderBy($"width", $"query_id")
  }

  /** v24's shortlist stage: prefix width (dims scanned per corpus vector)
    * and shortlist depth (candidates kept per query for exact re-rank). */
  val ServePrefixWidth = 16
  val ServeShortlist: Int = 4 * K

  /** V24 — two-stage matryoshka SERVING (v19 is the evaluation; this is
    * the retrieval path it justifies): stage 1 scans the corpus at a
    * 16-dim PREFIX of the embedding and keeps a per-query shortlist of
    * [[ServeShortlist]] candidates by prefix cosine; stage 2 re-ranks
    * ONLY the shortlist with the exact full-dim cosine and serves top-K.
    * The serving contract of every matryoshka deployment (Kusupati 2022):
    * the full-width scan — 4× the FLOPs and, with prefix-sliced storage,
    * 4× the bytes — runs on Q×shortlist rows instead of Q×N.
    *
    * Scale shape: stage 1 is v1's broadcast-queries/one-corpus-scan
    * contract with the shortlist kept by the MERGEABLE top-k aggregate
    * (v5's TopKAggregate): each scan partition keeps a
    * [[ServeShortlist]]-element heap per query and only k (score, id)
    * pairs per query cross the shuffle — a rank window here would sort
    * ALL N corpus rows inside one task per query, a single-task
    * corpus sort at 100 TB (r10 verdict weak mark, fixed). Stage 2
    * re-ranks the same way (k = K over Q×shortlist rows) and re-attaches
    * full vectors by broadcasting the Q×shortlist id table against one
    * more corpus scan (the m9 candidates-then-reattach discipline); no
    * Window touches the pair stream anywhere (plan-asserted). Exact
    * within the shortlist → oracle-replayable end to end; what the
    * prefix stage loses vs the full-dim truth is exactly what v19
    * measures, and served recall ≥ v19's width-16 overlap by
    * construction (a truth item inside the shortlist always survives the
    * exact re-rank — spec-proven). This fixture's bulk is
    * measured-isotropic, the worst case for prefix retrieval; matryoshka-
    * TRAINED embeddings concentrate signal in the prefix, which is the
    * deployment this serves. */
  def v24MatryoshkaServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v"))
    val queries = emb.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    // stage 1: mergeable partial top-k — k pairs per query per partition
    // cross the shuffle, never the Q×N pair stream (ties break toward
    // the smaller vec_id inside the aggregate, the same total order the
    // oracle's `ORDER BY pcos DESC, vec_id ASC` rank uses)
    val shortlist = emb
      .join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosine(slice($"qv", 1, ServePrefixWidth),
          slice($"v", 1, ServePrefixWidth)).as("pcos"))
      .groupBy($"query_id")
      .agg(graft.plans.TopKAggregate
        .topK($"pcos", $"vec_id", ServeShortlist).as("top"))
      .select($"query_id", explode($"top.id").as("vec_id"))
    // stage 2: exact re-rank of the shortlist through the same aggregate
    // (array comes back best-first, so the slot index IS the rank)
    broadcast(shortlist) // bounded: QueryCount × ServeShortlist id pairs
      .join(emb, "vec_id")
      .join(broadcast(queries), "query_id")
      .select($"query_id", $"vec_id", cosine($"qv", $"v").as("cos"))
      .groupBy($"query_id")
      .agg(graft.plans.TopKAggregate.topK($"cos", $"vec_id", K).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", ($"pos" + 1).cast("int").as("rk"),
        $"col.id".as("vec_id"), round($"col.score", 6).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** The PREFIX-SLICED physical embedding store v24's byte-cut claim
    * rests on: the corpus persisted as TWO column families —
    * (vec_id, head = the first [[ServePrefixWidth]] dims, tail = the
    * rest) — so a prefix-stage scan that selects only `head` reads the
    * 16-dim family's column chunks and skips the 48-dim tail entirely
    * (parquet prunes unselected columns at the chunk level: real I/O,
    * not just FLOPs). Persisted via ModelStore because slicing is a
    * one-time LAYOUT job: at 100 TB the vector store is written
    * prefix-sliced at ingest and serving never re-slices. */
  private[operators] def prefixSlicedStore(spark: SparkSession,
                                           dir: String): DataFrame =
    ModelStore.table(spark, dir, "embeddings.parquet",
        s"prefix-store-w$ServePrefixWidth") {
      import spark.implicits._
      Tables.load(spark, dir, "embeddings")
        .select($"vec_id", asDouble($"embedding").as("v"))
        .select($"vec_id",
          slice($"v", 1, ServePrefixWidth).as("head"),
          slice($"v", lit(ServePrefixWidth + 1), size($"v")).as("tail"))
    }

  /** V25 — v24's serving path over the PREFIX-SLICED store
    * ([[prefixSlicedStore]]): the probe that v24's "4× fewer bytes"
    * claim is real I/O. Stage 1 selects ONLY (vec_id, head), so the
    * corpus scan's ReadSchema carries no tail column and the bytes read
    * are the head family's (~width/dim of the vector bytes — both the
    * stage-1 ReadSchema and the footer-level column-chunk byte split
    * are asserted in SimilaritySpec); stage 2 re-attaches head||tail
    * for the Q×shortlist candidates only. Doubles round-trip parquet
    * bit-exactly and head||tail == v, so the served rows equal v24's —
    * the registry row shares v24's oracle, hash-for-hash. */
  def v25PrefixStoreServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val store = prefixSlicedStore(spark, dir)
    val heads = store.select($"vec_id", $"head") // tail is NEVER read here
    val qheads = heads.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("query_id"), $"head".as("qh"))
    // v24's two mergeable-top-k stages over the sliced families: stage 1
    // reads the head family only; neither stage puts a Window on the
    // pair stream (plan-asserted in SimilaritySpec)
    val shortlist = heads
      .join(broadcast(qheads), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", cosine($"qh", $"head").as("pcos"))
      .groupBy($"query_id")
      .agg(graft.plans.TopKAggregate
        .topK($"pcos", $"vec_id", ServeShortlist).as("top"))
      .select($"query_id", explode($"top.id").as("vec_id"))
    val full = store.select($"vec_id", concat($"head", $"tail").as("v"))
    val queries = full.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    broadcast(shortlist) // bounded: QueryCount × ServeShortlist id pairs
      .join(full, "vec_id")
      .join(broadcast(queries), "query_id")
      .select($"query_id", $"vec_id", cosine($"qv", $"v").as("cos"))
      .groupBy($"query_id")
      .agg(graft.plans.TopKAggregate.topK($"cos", $"vec_id", K).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", ($"pos" + 1).cast("int").as("rk"),
        $"col.id".as("vec_id"), round($"col.score", 6).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** v26's leg depth (candidates each retriever contributes to fusion),
    * the standard RRF smoothing constant, and the stop-token document-
    * frequency cap of the lexical leg's inverted index. */
  val FuseDepth = 10
  val RrfConst = 60
  val HybridDfCap = 100
  /** Integer scale of one reciprocal-rank term: scores stay exact longs
    * (1e12 DIV (60+rank)) — no float summation order to disagree on. */
  val RrfScale = 1000000000000L

  /** V26 — HYBRID retrieval with reciprocal-rank fusion: every query
    * document retrieves through TWO independent legs — dense (exact
    * cosine over the embedding corpus, v1's contract) and lexical
    * (distinct shared tokens through a df-capped inverted index, the
    * BM25-family shape) — each contributing its [[FuseDepth]] best
    * candidates, fused by RRF (Cormack et al. 2009):
    * `score(d) = Σ_legs RrfScale DIV (RrfConst + rank_leg(d))`, kept as
    * EXACT integer arithmetic (integer division of a fixed scale — no
    * float summation order for engines to disagree on), final top-[[K]]
    * per query by (score desc, id asc). This is the production hybrid
    * search every retrieval stack serves (sparse+dense fusion beats
    * either leg alone on out-of-domain corpora), and the fixture's
    * doc_id/vec_id identity makes the two legs joinable.
    *
    * Scale shape: the dense leg is v1's broadcast-queries/one-corpus-
    * scan contract ranked by the MERGEABLE TopKAggregate (k pairs per
    * query cross the shuffle, no Window on the Q×N stream); the lexical
    * leg generates candidates through the d3-style inverted index with
    * stop tokens df-capped at [[HybridDfCap]] (never all-pairs); fusion
    * itself touches only Q×2·FuseDepth rank rows. Oracle-exact: both
    * legs and the fused score are integer/IEEE-identical in DuckDB. */
  def v26HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v"))
    val queries = emb.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val dense = emb
      .join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", cosine($"qv", $"v").as("cos"))
      .groupBy($"query_id")
      .agg(graft.plans.TopKAggregate
        .topK($"cos", $"vec_id", FuseDepth).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", $"col.id".as("id"),
        ($"pos" + 1).cast("long").as("rd"))
    val toks = Tables.load(spark, dir, "documents")
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("tok"))
    // stop tokens (df above the cap) leave the index: they would blow
    // the candidate fan-out at scale while carrying no selectivity
    val kept = toks.groupBy($"tok").agg(count(lit(1)).as("df"))
      .filter($"df" <= HybridDfCap).select($"tok")
    // idx feeds the query side AND the probe side, so the corpus token
    // explode runs 3× (kept build + both consumers). Staging idx was
    // TRIED in r13 and measured 1.03×/1.08× WORSE in two interleaved
    // cmps at sf0.1 — the explode it saves (split+array_distinct, no
    // hashing) is cheaper than the corpus-scale checkpoint barrier (the
    // d16 lesson), so the recompute stays.
    val idx = toks.join(kept, "tok")
    val qtok = idx.filter($"doc_id" < QueryCount)
      .select($"doc_id".as("query_id"), $"tok")
    val overlap = qtok
      .join(idx.withColumnRenamed("doc_id", "id"), "tok")
      .filter($"id" =!= $"query_id")
      .groupBy($"query_id", $"id")
      .agg(count(lit(1)).as("shared")) // = |distinct token intersection|
    val lex = overlap
      .groupBy($"query_id")
      .agg(graft.plans.TopKAggregate
        .topK($"shared".cast("double"), $"id", FuseDepth).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", $"col.id".as("id"),
        ($"pos" + 1).cast("long").as("rl"))
    val fused = dense.join(lex, Seq("query_id", "id"), "full_outer")
      .select($"query_id", $"id".as("doc_id"),
        (coalesce(expr(s"$RrfScale DIV ($RrfConst + rd)"), lit(0L)) +
          coalesce(expr(s"$RrfScale DIV ($RrfConst + rl)"), lit(0L)))
          .as("rrf"))
    fused
      .groupBy($"query_id")
      .agg(graft.plans.TopKAggregate
        .topK($"rrf".cast("double"), $"doc_id", K).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", ($"pos" + 1).cast("int").as("rk"),
        $"col.id".as("doc_id"), $"col.score".cast("long").as("rrf_score"))
      .orderBy($"query_id", $"rk")
  }

  /** V20 — filtered ANN (label-constrained top-K): each query retrieves
    * its top-K among corpus vectors sharing the query's label — the
    * metadata-predicate search every production vector store serves
    * (tenant/language/source-constrained retrieval), where the naive
    * plan scores the whole corpus and filters LAST. Here the label
    * constraint IS the join key: the broadcast equi-join on label hands
    * each corpus row only the queries it can serve, so filtering happens
    * BEFORE any distance math (a |label|-fold work cut) and the plan is
    * a BroadcastHashJoin, not the v1 nested-loop (plan-asserted — the
    * composition of predicate pushdown with vector scoring). Exact
    * within the filtered universe → oracle-checkable. */
  def v20AnnFiltered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"label", asDouble($"embedding").as("v"))
    val queries = emb.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("query_id"), $"label", $"v".as("qv"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"vec_id".asc)
    emb.join(broadcast(queries), "label")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"label", $"vec_id", cosine($"qv", $"v").as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= K)
      .select($"query_id", $"label", $"rk", $"vec_id",
        round($"cos", 6).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** v22's radius: looser than [[CosineThreshold]] — a range query's
    * answer set should be the semantic neighborhood, not just the
    * near-dup tail. */
  val RangeTau = 0.3

  /** V22 — cosine RANGE search (radius query): for each query vector,
    * EVERY corpus vector with cosine ≥ [[CosineThreshold]] — the
    * fixed-radius complement of v1's top-k (top-k answers "the k
    * closest"; range answers "everything semantically closer than τ",
    * the retrieval shape behind dedup audits, recall sweeps, and
    * near-duplicate candidate pulls around a probe document).
    *
    * Scale shape: identical to v1 — the ≤[[QueryCount]]-row query side
    * broadcasts against ONE corpus scan (BroadcastNestedLoopJoin on the
    * ≠ predicate; never corpus×corpus), the cosine evaluates in codegen
    * (native DotProduct), and unlike top-k there is no window at all:
    * the threshold filter is map-side, so the only exchange is the final
    * presentation sort. Output size is the true answer set (Θ(matches)),
    * which at 100 TB is the point — a range query's cost is its answer,
    * not the corpus. Oracle-exact: one IEEE cosine per pair, same
    * shape both engines, round(·,6) only at presentation. */
  def v22RangeSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v"))
    val queries = emb.filter($"vec_id" < QueryCount)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    emb.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", cosine($"qv", $"v").as("cos"))
      .filter($"cos" >= RangeTau)
      .select($"query_id", $"vec_id", round($"cos", 6).as("cos_sim"))
      .orderBy($"query_id", $"vec_id")
  }

  /** v23 geometry: 64-dim inputs, [[JlOutDims]] signed-sum outputs,
    * inputs quantized at 2^20 so every projected coordinate is an exact
    * integer (order-independent sums — the engine-exactness rule). */
  val JlOutDims = 16
  val JlScale: Double = (1L << 20).toDouble

  /** The ±1 projection matrix behind v23: sign(j)(i) = +1 iff the first
    * hex digit of md5("jl|j|i") < '8'. A pure function of the coordinate
    * pair — no fit, no model artifact, nothing to persist or broadcast;
    * any party (including the DuckDB oracle) re-derives the identical
    * matrix from the rule. */
  private[operators] def jlSigns(inDims: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(JlOutDims, inDims) { (j, i) =>
      md.reset()
      val d = md.digest(s"jl|$j|$i".getBytes("UTF-8"))
      if (((d(0) >> 4) & 0xf) < 8) 1 else -1
    }
  }

  /** V23 — Johnson–Lindenstrauss random projection (Achlioptas 2001's
    * database-friendly ±1 form): every embedding maps to [[JlOutDims]]
    * signed coordinate sums under the fixed md5-derived sign matrix, and
    * the registry row audits what the theorem promises — the squared
    * distance of each consecutive-id pair, before vs after, as the
    * distortion ratio ‖P(a−b)‖² / (d_out·‖a−b‖²) (expectation exactly 1
    * for ±1 signs), bucketed at width 0.05 with per-bucket min/max.
    *
    * This is the MODEL-FREE tier of the dimensionality ladder: v9's PCA
    * fits a corpus-dependent basis (a ModelStore artifact that must be
    * versioned and invalidated); JL needs only the (j, i) rule, so a new
    * executor — or a second engine — projects identically with zero
    * coordination, and a growing corpus never invalidates anything.
    * What it gives up is adaptivity: distortion is probabilistic
    * (sd ≈ √(2/d_out) per pair), not variance-optimal, which is exactly
    * what this audit quantifies before anyone swaps it into the v13/v18
    * style coarse-filter position.
    *
    * Scale shape: projection is pure map work over ONE corpus scan (the
    * 16×64 matrix is plan literals — no join, no broadcast, no shuffle);
    * the pair audit equi-joins vec_id+1 (co-partitioned ids, linear in N,
    * never all-pairs); the bucket rollup is a ≤~40-group map-side-combined
    * aggregate. Integer-exact end to end: quantized inputs, long sums,
    * long squared distances (≤2⁵⁷ worst-case at these widths), integer
    * bucket division; the only IEEE ops are the per-pair ratio division
    * and the final /100-style presentation rounds — both bit-stable
    * cross-engine. Oracle-exact: DuckDB re-derives the sign matrix from
    * md5 over a range() grid and replays quantization, projection, and
    * the bucket table from the raw embeddings. */
  def v23RandomProjection(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val inDims = 64
    val signs = jlSigns(inDims)
    // per output dim j, a 64-bit mask with bit i set for sign +1 — the
    // native JlProject loop consumes these (its scaladoc records why the
    // unrolled 1024-term column tree was replaced: janino compile time)
    val masks = IndexedSeq.tabulate(JlOutDims) { j =>
      (0 until inDims).foldLeft(0L) { (m, i) =>
        if (signs(j)(i) > 0) m | (1L << i) else m
      }
    }
    val emb = Tables.load(spark, dir, "embeddings")
      .select($"vec_id",
        transform(asDouble($"embedding"),
          x => floor(x * JlScale + 0.5).cast("long")).as("q"))
    val proj = emb.select($"vec_id", $"q",
      graft.plans.VectorExpressions.jlProject($"q", masks).as("y"))
    def sqDist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, yv) => (x - yv) * (x - yv)),
        lit(0L), _ + _)
    val pairs = proj.as("a")
      .join(proj.as("b"), col("a.vec_id") + 1 === col("b.vec_id"))
      .select(
        sqDist(col("a.y"), col("b.y")).as("num"),
        sqDist(col("a.q"), col("b.q")).as("den"))
      .filter($"den" > 0)
      .select(
        expr(s"num * 20 div (den * $JlOutDims)").as("bucket"),
        ($"num".cast(DoubleType) /
          ($"den" * JlOutDims).cast(DoubleType)).as("ratio"))
    pairs.groupBy($"bucket")
      .agg(count(lit(1)).as("n_pairs"),
        round(min($"ratio"), 6).as("min_ratio"),
        round(max($"ratio"), 6).as("max_ratio"))
      .orderBy($"bucket")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v23_random_projection" -> v23RandomProjection _,
    "v22_range_search" -> v22RangeSearch _,
    "v20_ann_filtered" -> v20AnnFiltered _,
    "v19_matryoshka_eval" -> v19MatryoshkaEval _,
    "v24_matryoshka_serve" -> v24MatryoshkaServe _,
    "v25_prefix_store_serve" -> v25PrefixStoreServe _,
    "v26_hybrid_rrf" -> v26HybridRrf _,
    "v18_ann_binary" -> ((s: SparkSession, d: String) => v18AnnBinary(s, d)),
    "v17_index_delta" -> v17IndexDelta _,
    "v16_semantic_contamination" ->
      ((s: SparkSession, d: String) => v16SemanticContamination(s, d)),
    "v15_ann_ivfpq" -> ((s: SparkSession, d: String) => v15AnnIvfPq(s, d)),
    "v14_silhouette" -> v14Silhouette _,
    "v13_hashed_embedding" -> v13HashedEmbedding _,
    "v12_knn_eval" -> v12KnnEval _,
    "v11_mmr_rerank" -> v11MmrRerank _,
    "v1_ann_topk" -> v1AnnTopK _,
    "v6_label_centroids" -> v6LabelCentroids _,
    "v5_ann_topk_agg" -> v5AnnTopKAgg _,
    "v2_cosine_pairs" -> v2CosinePairs _,
    "v21_cosine_pairs_blocked" ->
      ((s: SparkSession, d: String) => v21CosinePairsBlocked(s, d)),
    "v3_ann_lsh" -> ((s: SparkSession, d: String) => v3AnnLsh(s, d)),
    "v4_ann_ivf" -> ((s: SparkSession, d: String) => v4AnnIvf(s, d)),
    "v7_ann_quantized" -> v7AnnQuantized _,
    "v8_semantic_dedup" -> v8SemanticDedup _,
    "v9_pca_project" -> v9PcaProject _,
    "v10_ann_pq" -> v10AnnPq _,
  )

  /** Shared by v24 and v25: the logical two-stage serve is identical —
    * v25 only changes the PHYSICAL layout it scans (prefix-sliced
    * column families), and head||tail round-trips the doubles exactly. */
  private val matryoshkaServeOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e
       |      WHERE vec_id < $QueryCount),
       |p AS (SELECT query_id, vec_id, v,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY list_cosine_similarity(
       |              list_slice(qv, 1, $ServePrefixWidth),
       |              list_slice(v, 1, $ServePrefixWidth)) DESC,
       |            vec_id ASC) AS prk
       |      FROM e CROSS JOIN q WHERE vec_id != query_id),
       |s AS (SELECT query_id, vec_id, v FROM p WHERE prk <= $ServeShortlist),
       |f AS (SELECT query_id, vec_id,
       |        list_cosine_similarity(qv, v) AS cos,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY list_cosine_similarity(qv, v) DESC, vec_id ASC)
       |          AS rk
       |      FROM s JOIN q USING (query_id))
       |SELECT query_id, rk, vec_id, round(cos, 6) AS cos_sim
       |FROM f WHERE rk <= $K
       |ORDER BY query_id, rk""".stripMargin

  /** Shared by v2 and v21: the brute force and its blocked scale tier
    * compute the identical exact pair set, so one oracle covers both. */
  private val cosinePairsOracle =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |SELECT a.vec_id AS v1, b.vec_id AS v2,
       |  round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(a.v, b.v) >= $CosineThreshold
       |ORDER BY v1, v2""".stripMargin

  /** Shared by v1 and v5: both compute exact top-k, by different physical
    * strategies (window vs mergeable aggregate), so one oracle covers both. */
  private val annTopKOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $QueryCount),
       |s AS (SELECT query_id, vec_id, list_cosine_similarity(qv, v) AS cos,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY list_cosine_similarity(qv, v) DESC, vec_id ASC) AS rk
       |      FROM e CROSS JOIN q WHERE vec_id != query_id)
       |SELECT query_id, rk, vec_id, round(cos, 6) AS cos_sim
       |FROM s WHERE rk <= $K
       |ORDER BY query_id, rk""".stripMargin

  /** v3's oracle replays the full LSH pipeline in DuckDB. The seeded ±1
    * hyperplanes are deterministic, so they embed as 64-char sign-string
    * literals; the signature bit is the sign of the same ascending
    * ±element fold PlaneSignBits runs (float32-derived doubles — the
    * partial sums agree exactly); the adaptive band width re-derives
    * from count(*) with the same clamp; banding, the ≤[[LshBucketCap]]
    * occupancy rule, and the exact-cosine verification are plain SQL. */
  private val v3Oracle: String = {
    val masks = planes(64, 64)
      .map(p => p.map(x => if (x > 0) "+" else "-").mkString)
      .zipWithIndex
      .map { case (m, j) => s"($j, '$m')" }
      .mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |meta AS (SELECT least(8, greatest(4,
       |           CAST(ceil(log2(greatest(1.0, count(*) / 64.0))) AS INT)))
       |           AS bits FROM e),
       |p AS (SELECT * FROM (VALUES $masks) AS t(j, m)),
       |sigbit AS (
       |  SELECT e.vec_id, p.j,
       |    (list_sum(list_transform(range(1, 65),
       |       i -> CASE WHEN substring(p.m, i, 1) = '+'
       |            THEN e.v[i] ELSE -e.v[i] END)) >= 0) AS bit
       |  FROM e CROSS JOIN p
       |  WHERE p.j < 8 * (SELECT bits FROM meta)),
       |bb AS (
       |  SELECT vec_id, j // (SELECT bits FROM meta) AS band,
       |    sum(CASE WHEN bit
       |        THEN 1 << (j % (SELECT bits FROM meta)) ELSE 0 END) AS bucket
       |  FROM sigbit GROUP BY 1, 2),
       |cool AS (SELECT band, bucket FROM bb GROUP BY band, bucket
       |         HAVING count(*) <= $LshBucketCap),
       |cooled AS (SELECT bb.* FROM bb JOIN cool USING (band, bucket)),
       |pairs AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
       |          FROM cooled a JOIN cooled b
       |            ON a.band = b.band AND a.bucket = b.bucket
       |           AND a.vec_id < b.vec_id)
       |SELECT v1, v2,
       |  round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
       |FROM pairs JOIN e ea ON pairs.v1 = ea.vec_id
       |           JOIN e eb ON pairs.v2 = eb.vec_id
       |WHERE list_cosine_similarity(ea.v, eb.v) >= $CosineThreshold
       |ORDER BY v1, v2""".stripMargin
  }

  /** v11's oracle UNROLLS the greedy MMR loop: K is a compile-time
    * constant, so the K selection rounds become K chained CTE pairs
    * (pick round r = argmax of λ·rel − (1−λ)·maxsim, ties toward the
    * lower original rank — mmrSelect's first-wins rule; state round r =
    * survivors with maxsim folded against the new pick). Iterative
    * greedy "isn't portable SQL" only when the depth is data-dependent;
    * here it is K, and the SQL is generated by the same loop bound. */
  private val v11Oracle: String = {
    val lam = MmrLambda
    val oneMinus = 1 - MmrLambda // interpolate the exact double the loop uses
    val rounds = (1 to K).map { r =>
      s""",
         |p$r AS (SELECT query_id, vec_id, score FROM (
         |  SELECT query_id, vec_id, $lam * rel - $oneMinus * maxsim AS score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY $lam * rel - $oneMinus * maxsim DESC, rk ASC) AS rn
         |  FROM s${r - 1}) WHERE rn = 1),
         |s$r AS (SELECT s.query_id, s.vec_id, s.rel, s.rk,
         |    greatest(s.maxsim, coalesce(pc.sim, s.maxsim)) AS maxsim
         |  FROM s${r - 1} s
         |  JOIN p$r p ON s.query_id = p.query_id AND s.vec_id != p.vec_id
         |  LEFT JOIN pc ON pc.query_id = s.query_id AND pc.ca = s.vec_id
         |              AND pc.cb = p.vec_id)""".stripMargin
    }.mkString
    val picks = (1 to K)
      .map(r => s"SELECT query_id, $r AS rk, vec_id, score FROM p$r")
      .mkString("\n", "\nUNION ALL\n", "\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $QueryCount),
       |pool AS (SELECT query_id, vec_id, cos AS rel, rn AS rk FROM (
       |  SELECT query_id, vec_id, list_cosine_similarity(qv, v) AS cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY list_cosine_similarity(qv, v) DESC, vec_id ASC) AS rn
       |  FROM e CROSS JOIN q WHERE vec_id != query_id)
       | WHERE rn <= ${MmrPool * K}),
       |pc AS (SELECT a.query_id, a.vec_id AS ca, b.vec_id AS cb,
       |         list_cosine_similarity(ea.v, eb.v) AS sim
       |       FROM pool a JOIN pool b
       |         ON a.query_id = b.query_id AND a.vec_id != b.vec_id
       |       JOIN e ea ON a.vec_id = ea.vec_id
       |       JOIN e eb ON b.vec_id = eb.vec_id),
       |s0 AS (SELECT query_id, vec_id, rel, rk, 0.0 AS maxsim FROM pool)$rounds
       |SELECT query_id, rk, vec_id,
       |  CAST(floor(score * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS mmr_score
       |FROM ($picks)
       |ORDER BY query_id, rk""".stripMargin
  }

  /** DuckDB-readable parquet glob for a persisted embeddings-derived
    * model table (the d15 posting-index precedent, generalized): the
    * centroid / cell-assignment / codebook artifacts ARE the model
    * contract, so the oracle CONSUMES the same persisted parquet the
    * engine applies — DuckDB then replays assignment, ADC scoring, and
    * re-ranking from scratch, which checks the apply path bit-for-bit
    * while treating only the fit (k-means on Spark-specific seeded
    * hashes, not expressible in SQL) as given. `oracleSql` is evaluated
    * by Verify AFTER the registry queries ran, so the artifacts exist;
    * Verify pins the fixture dir via the graft.oracle.sfdir property. */
  private def modelGlob(name: String): String = {
    val dir = sys.props.getOrElse("graft.oracle.sfdir", "/root/testdata/sf0.01")
    ModelStore.path(dir, "embeddings.parquet", name).getPath + "/*.parquet"
  }

  /** Shared oracle CTE: embeddings as (vec_id, v double[], nrm) — the
    * exact arithmetic shape of [[normalizedEmbeddings]] (cast once,
    * norm = sqrt of the sequential self-inner-product). */
  private val enCte =
    """en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
      |                                 CAST(embedding AS DOUBLE[]))) AS nrm
      |       FROM embeddings)""".stripMargin

  /** Shared oracle CTE pair: the persisted IVF centroid table (with the
    * same cn = sqrt(cv·cv) the engine's centArray computes) and the
    * persisted corpus cell assignment. Evaluated lazily inside
    * [[oracleSql]] so the ModelStore path reflects the Verify-pinned
    * fixture dir. */
  private def ivfCtes: String =
    s"""cents AS (SELECT cent_id, cv, sqrt(list_inner_product(cv, cv)) AS cn
       |          FROM '${modelGlob(s"ivf-i1-p$IvfVectorsPerCell")}'),
       |asg AS (SELECT vec_id, cent_id
       |        FROM '${modelGlob(s"ivf-assign-i1-p$IvfVectorsPerCell")}')"""
      .stripMargin

  /** PQ-encode CTE chain over a (vec_id, <vcol> double[]) relation
    * `src`: per-subspace slice → L2² to every codebook row (left-fold,
    * matching the engine's aggregate-over-zip_with) → argmin code with
    * ties to the lowest k (the engine's array_position-of-min rule). */
  private def pqCodeCtes(src: String, vcol: String): String = {
    val d = 64 / PqM
    s"""ms AS (SELECT unnest(range($PqM)) AS m),
       |sub AS (SELECT vec_id, m, list_slice($vcol, m*$d + 1, m*$d + $d) AS sv
       |        FROM $src CROSS JOIN ms),
       |dist AS (SELECT sub.vec_id, sub.m, cb.k,
       |           list_reduce(list_transform(list_zip(sub.sv, cb.c),
       |             t -> (t[1] - t[2]) * (t[1] - t[2])), (a, b) -> a + b) AS d2
       |         FROM sub JOIN cb ON sub.m = cb.m),
       |code AS (SELECT vec_id, m, k AS code FROM (
       |           SELECT vec_id, m, k,
       |             row_number() OVER (PARTITION BY vec_id, m
       |               ORDER BY d2 ASC, k ASC) AS r FROM dist)
       |         WHERE r = 1)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "v9_pca_project" -> {
      // one projected column per component, pivoted from the (vec_id,
      // pc, score) join — max() over the single value per cell is exact
      val pcCols = (1 to PcaK)
        .map(c => s"  max(CASE WHEN pc = $c THEN s END) AS pc$c")
        .mkString(",\n")
      s"""WITH comp AS (SELECT pc, w, mean_dot FROM '${modelGlob(s"pca-k$PcaK")}'),
         |sc AS (SELECT e.vec_id, comp.pc,
         |         list_inner_product(CAST(e.embedding AS DOUBLE[]), comp.w)
         |           - comp.mean_dot AS s
         |       FROM embeddings e CROSS JOIN comp)
         |SELECT vec_id,
         |$pcCols
         |FROM sc GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },
    "v4_ann_ivf" ->
      s"""WITH $ivfCtes,
         |$enCte,
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM en
         |      WHERE vec_id < $QueryCount),
         |qc AS (SELECT query_id, qv, qn, cent_id FROM (
         |         SELECT q.query_id, q.qv, q.qn, c.cent_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY list_inner_product(q.qv, c.cv) / (q.qn * c.cn)
         |               DESC, c.cent_id ASC) AS cr
         |         FROM q CROSS JOIN cents c)
         |       WHERE cr <= 2),
         |cand AS (SELECT qc.query_id, en.vec_id,
         |           list_inner_product(qc.qv, en.v) / (qc.qn * en.nrm) AS cos
         |         FROM qc JOIN asg ON qc.cent_id = asg.cent_id
         |                 JOIN en ON asg.vec_id = en.vec_id
         |         WHERE en.vec_id != qc.query_id),
         |r AS (SELECT query_id, vec_id, cos,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos DESC, vec_id ASC) AS rk FROM cand)
         |SELECT query_id, CAST(rk AS INT) AS rk, vec_id,
         |  round(cos, 6) AS cos_sim
         |FROM r WHERE rk <= $K ORDER BY query_id, rk""".stripMargin,
    "v8_semantic_dedup" ->
      s"""WITH $ivfCtes,
         |$enCte,
         |e AS (SELECT asg.vec_id, asg.cent_id, en.v, en.nrm
         |      FROM asg JOIN en USING (vec_id)),
         |dropped AS (SELECT DISTINCT b.vec_id FROM e a JOIN e b
         |              ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
         |            WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm)
         |              >= $CosineThreshold)
         |SELECT e.vec_id, e.cent_id, d.vec_id IS NULL AS kept
         |FROM e LEFT JOIN dropped d ON e.vec_id = d.vec_id
         |ORDER BY e.vec_id""".stripMargin,
    "v16_semantic_contamination" ->
      s"""WITH $ivfCtes,
         |$enCte,
         |corpus AS (SELECT en.vec_id, en.v, en.nrm, asg.cent_id
         |           FROM en JOIN asg USING (vec_id)
         |           WHERE en.vec_id % 25 != 0 AND en.nrm > 0),
         |bench AS (SELECT vec_id AS bench_id, v AS bv, nrm AS bn, cent_id
         |          FROM (
         |            SELECT en.vec_id, en.v, en.nrm, c.cent_id,
         |              row_number() OVER (PARTITION BY en.vec_id
         |                ORDER BY list_inner_product(en.v, c.cv)
         |                  / (en.nrm * c.cn) DESC, c.cent_id ASC) AS cr
         |            FROM en CROSS JOIN cents c
         |            WHERE en.vec_id % 25 = 0 AND en.nrm > 0)
         |          WHERE cr <= 2),
         |m AS (SELECT corpus.vec_id, bench.bench_id,
         |        list_inner_product(corpus.v, bench.bv)
         |          / (corpus.nrm * bench.bn) AS cos
         |      FROM corpus JOIN bench USING (cent_id)),
         |r AS (SELECT vec_id, bench_id, cos,
         |        row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cos DESC, bench_id ASC) AS rk FROM m)
         |SELECT vec_id, bench_id, round(cos, 6) AS cos_sim
         |FROM r WHERE rk = 1 AND cos >= $CosineThreshold
         |ORDER BY vec_id""".stripMargin,
    "v17_index_delta" ->
      s"""WITH cents AS (SELECT cent_id, cv,
         |          sqrt(list_inner_product(cv, cv)) AS cn
         |        FROM '${modelGlob(s"ivf-base-ex$DeltaMod-i1-p$IvfVectorsPerCell")}'),
         |$enCte,
         |asg AS (SELECT vec_id, cent_id FROM (
         |          SELECT en.vec_id, c.cent_id,
         |            row_number() OVER (PARTITION BY en.vec_id
         |              ORDER BY list_inner_product(en.v, c.cv)
         |                / (en.nrm * c.cn) DESC, c.cent_id ASC) AS cr
         |          FROM en CROSS JOIN cents c)
         |        WHERE cr = 1),
         |base AS (SELECT cent_id, count(*) AS n_base FROM asg
         |         WHERE vec_id % 10 != $DeltaMod GROUP BY 1),
         |delta AS (SELECT cent_id, count(*) AS n_delta FROM asg
         |          WHERE vec_id % 10 = $DeltaMod GROUP BY 1)
         |SELECT cent_id,
         |  COALESCE(n_base, 0) AS n_base,
         |  COALESCE(n_delta, 0) AS n_delta,
         |  COALESCE(n_base, 0) + COALESCE(n_delta, 0) AS n_total,
         |  CAST(COALESCE(n_delta, 0) AS DOUBLE) /
         |    CAST(COALESCE(n_base, 0) + COALESCE(n_delta, 0) AS DOUBLE)
         |    AS delta_frac
         |FROM base FULL JOIN delta USING (cent_id)
         |ORDER BY cent_id""".stripMargin,
    "v10_ann_pq" ->
      s"""WITH cb AS (SELECT m, k, c
         |        FROM '${modelGlob(s"pq-m$PqM-k$PqK-l$PqLloyd")}'),
         |$enCte,
         |${pqCodeCtes("en", "v")},
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM en
         |      WHERE vec_id < $QueryCount),
         |term AS (SELECT q.query_id, code.vec_id, code.m,
         |           list_inner_product(list_slice(q.qv,
         |             code.m*${64 / PqM} + 1, code.m*${64 / PqM} + ${64 / PqM}),
         |             cb.c) AS t
         |         FROM code JOIN cb ON cb.m = code.m AND cb.k = code.code
         |         CROSS JOIN q WHERE code.vec_id != q.query_id),
         |adc AS (SELECT query_id, vec_id,
         |          list_reduce(list(t ORDER BY m), (a, b) -> a + b) AS s
         |        FROM term GROUP BY query_id, vec_id),
         |short AS (SELECT query_id, vec_id FROM (
         |            SELECT adc.query_id, adc.vec_id,
         |              row_number() OVER (PARTITION BY adc.query_id
         |                ORDER BY adc.s / (q.qn * en.nrm) DESC,
         |                         adc.vec_id ASC) AS sr
         |            FROM adc JOIN q USING (query_id)
         |                     JOIN en ON adc.vec_id = en.vec_id)
         |          WHERE sr <= $PqShortlist),
         |r AS (SELECT short.query_id, short.vec_id,
         |        list_inner_product(q.qv, en.v) / (q.qn * en.nrm) AS cos,
         |        row_number() OVER (PARTITION BY short.query_id
         |          ORDER BY list_inner_product(q.qv, en.v) / (q.qn * en.nrm)
         |            DESC, short.vec_id ASC) AS rk
         |      FROM short JOIN q USING (query_id)
         |                 JOIN en ON short.vec_id = en.vec_id)
         |SELECT query_id, CAST(rk AS INT) AS rk, vec_id,
         |  round(cos, 6) AS cos_sim
         |FROM r WHERE rk <= $K ORDER BY query_id, rk""".stripMargin,
    "v15_ann_ivfpq" ->
      s"""WITH $ivfCtes,
         |cb AS (SELECT m, k, c
         |  FROM '${modelGlob(s"ivfpq-cb-i1-p$IvfVectorsPerCell-m$PqM-k$PqK-l$PqLloyd")}'),
         |$enCte,
         |resid AS (SELECT en.vec_id, en.nrm, asg.cent_id,
         |            list_transform(list_zip(en.v, cents.cv),
         |              t -> t[1] - t[2]) AS rv
         |          FROM en JOIN asg USING (vec_id) JOIN cents USING (cent_id)),
         |${pqCodeCtes("resid", "rv")},
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM en
         |      WHERE vec_id < $QueryCount),
         |probes AS (SELECT query_id, cent_id, qc FROM (
         |             SELECT q.query_id, c.cent_id,
         |               list_inner_product(q.qv, c.cv) AS qc,
         |               row_number() OVER (PARTITION BY q.query_id
         |                 ORDER BY list_inner_product(q.qv, c.cv)
         |                   / (q.qn * c.cn) DESC, c.cent_id ASC) AS cr
         |             FROM q CROSS JOIN cents c)
         |           WHERE cr <= $IvfPqProbes),
         |term AS (SELECT probes.query_id, resid.vec_id, probes.qc, code.m,
         |           list_inner_product(list_slice(q.qv,
         |             code.m*${64 / PqM} + 1, code.m*${64 / PqM} + ${64 / PqM}),
         |             cb.c) AS t
         |         FROM probes
         |         JOIN resid ON probes.cent_id = resid.cent_id
         |         JOIN code ON code.vec_id = resid.vec_id
         |         JOIN cb ON cb.m = code.m AND cb.k = code.code
         |         JOIN q ON q.query_id = probes.query_id
         |         WHERE resid.vec_id != probes.query_id),
         |adc AS (SELECT query_id, vec_id,
         |          any_value(qc) +
         |            list_reduce(list(t ORDER BY m), (a, b) -> a + b) AS s
         |        FROM term GROUP BY query_id, vec_id),
         |short AS (SELECT query_id, vec_id FROM (
         |            SELECT adc.query_id, adc.vec_id,
         |              row_number() OVER (PARTITION BY adc.query_id
         |                ORDER BY adc.s / (q.qn * en.nrm) DESC,
         |                         adc.vec_id ASC) AS sr
         |            FROM adc JOIN q USING (query_id)
         |                     JOIN en ON adc.vec_id = en.vec_id)
         |          WHERE sr <= $IvfPqShortlist),
         |r AS (SELECT short.query_id, short.vec_id,
         |        list_inner_product(q.qv, en.v) / (q.qn * en.nrm) AS cos,
         |        row_number() OVER (PARTITION BY short.query_id
         |          ORDER BY list_inner_product(q.qv, en.v) / (q.qn * en.nrm)
         |            DESC, short.vec_id ASC) AS rk
         |      FROM short JOIN q USING (query_id)
         |                 JOIN en ON short.vec_id = en.vec_id)
         |SELECT query_id, CAST(rk AS INT) AS rk, vec_id,
         |  round(cos, 6) AS cos_sim
         |FROM r WHERE rk <= $K ORDER BY query_id, rk""".stripMargin,
    "v3_ann_lsh" -> v3Oracle,
    "v11_mmr_rerank" -> v11Oracle,
    "v18_ann_binary" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $QueryCount),
         |h AS (SELECT query_id, vec_id,
         |        64 - len(list_filter(range(1, 65),
         |              i -> (v[i] > 0) != (qv[i] > 0))) AS ham
         |      FROM e CROSS JOIN q WHERE vec_id != query_id),
         |sl AS (SELECT query_id, vec_id FROM (
         |         SELECT query_id, vec_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY ham DESC, vec_id ASC) AS hr FROM h)
         |       WHERE hr <= $BinaryShortlist),
         |r AS (SELECT sl.query_id, sl.vec_id,
         |        list_cosine_similarity(q.qv, e.v) AS cos,
         |        row_number() OVER (PARTITION BY sl.query_id
         |          ORDER BY list_cosine_similarity(q.qv, e.v) DESC,
         |                   sl.vec_id ASC) AS rk
         |      FROM sl JOIN e ON sl.vec_id = e.vec_id
         |              JOIN q ON sl.query_id = q.query_id)
         |SELECT query_id, rk, vec_id, round(cos, 6) AS cos_sim
         |FROM r WHERE rk <= $K
         |ORDER BY query_id, rk""".stripMargin,
    "v7_ann_quantized" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |s AS (SELECT vec_id,
         |        list_transform(v, x -> CAST(round(x * 127 / m) AS BIGINT)) AS qv
         |      FROM (SELECT vec_id, v,
         |              list_max(list_transform(v, x -> abs(x))) AS m FROM e)),
         |n AS (SELECT vec_id, qv,
         |        sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))
         |          AS qn
         |      FROM s),
         |q AS (SELECT vec_id AS query_id, qv AS qq, qn AS qqn FROM n
         |      WHERE vec_id < $QueryCount),
         |d AS (SELECT query_id, vec_id,
         |        CAST(list_sum(list_transform(list_zip(qq, qv),
         |              t -> t[1] * t[2])) AS DOUBLE) / (qqn * qn) AS qcos,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY CAST(list_sum(list_transform(list_zip(qq, qv),
         |              t -> t[1] * t[2])) AS DOUBLE) / (qqn * qn) DESC,
         |            vec_id ASC) AS rk
         |      FROM n CROSS JOIN q WHERE vec_id != query_id)
         |SELECT query_id, rk, vec_id, round(qcos, 6) AS qcos_sim
         |FROM d WHERE rk <= $K
         |ORDER BY query_id, rk""".stripMargin,
    "v20_ann_filtered" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, label, v AS qv FROM e
         |      WHERE vec_id < $QueryCount),
         |s AS (SELECT query_id, q.label, vec_id,
         |        list_cosine_similarity(qv, v) AS cos,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY list_cosine_similarity(qv, v) DESC, vec_id ASC)
         |          AS rk
         |      FROM e JOIN q ON e.label = q.label
         |      WHERE vec_id != query_id)
         |SELECT query_id, label, rk, vec_id, round(cos, 6) AS cos_sim
         |FROM s WHERE rk <= $K
         |ORDER BY query_id, rk""".stripMargin,
    "v24_matryoshka_serve" -> matryoshkaServeOracle,
    // v25 is v24's serving path over the prefix-sliced PHYSICAL store:
    // head||tail == v bit-for-bit, so one oracle covers both (the
    // v2/v21 shared-oracle precedent)
    "v25_prefix_store_serve" -> matryoshkaServeOracle,
    "v19_matryoshka_eval" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e
         |      WHERE vec_id < $QueryCount),
         |w AS (SELECT unnest([${MatryoshkaWidths.mkString(", ")}]) AS width),
         |s AS (SELECT width, query_id, vec_id,
         |        row_number() OVER (PARTITION BY width, query_id
         |          ORDER BY list_cosine_similarity(list_slice(qv, 1, width),
         |                     list_slice(v, 1, width)) DESC,
         |                   vec_id ASC) AS rk
         |      FROM e CROSS JOIN q CROSS JOIN w WHERE vec_id != query_id),
         |t AS (SELECT width, query_id, vec_id FROM s WHERE rk <= $K),
         |tr AS (SELECT query_id, vec_id FROM t
         |       WHERE width = ${MatryoshkaWidths.last})
         |SELECT width, query_id, CAST(count(*) AS BIGINT) AS overlap
         |FROM t JOIN tr USING (query_id, vec_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "v14_silhouette" ->
      """WITH u AS (SELECT label,
        |        CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS q, pos
        |      FROM (SELECT label, unnest(embedding) AS x,
        |              unnest(generate_series(0, len(embedding)-1)) AS pos
        |            FROM embeddings)),
        |cs AS (SELECT label, pos, CAST(sum(q) AS BIGINT) AS sq,
        |         count(*) AS n FROM u GROUP BY 1, 2),
        |c AS (SELECT label AS clabel,
        |        list(CAST(sq AS DOUBLE) / n / 1000000 ORDER BY pos) AS cv
        |      FROM cs GROUP BY 1),
        |cw AS (SELECT clabel, cv, list_inner_product(cv, cv) AS cc FROM c),
        |e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings),
        |d AS (SELECT e.vec_id, e.label, cw.clabel,
        |        list_inner_product(v, v) - 2 * list_inner_product(v, cv)
        |          + cw.cc AS d2
        |      FROM e CROSS JOIN cw),
        |ab AS (SELECT vec_id, label,
        |        min(CASE WHEN clabel = label THEN d2 END) AS a2,
        |        min(CASE WHEN clabel <> label THEN d2 END) AS b2
        |      FROM d GROUP BY 1, 2),
        |s AS (SELECT label, CAST(round((sqrt(b2) - sqrt(a2))
        |        / greatest(sqrt(a2), sqrt(b2)) * 1000000) AS BIGINT) AS sq
        |      FROM ab)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(sq) AS BIGINT) AS sum_q,
        |  round(CAST(sum(sq) AS BIGINT) / count(*) / 1000000, 6) AS avg_sil
        |FROM s GROUP BY label ORDER BY label""".stripMargin,
    "v13_hashed_embedding" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
        |            FROM documents)
        |SELECT doc_id,
        |  CAST((instr('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 2
        |    + (instr('0123456789abcdef', substr(md5(token), 2, 1)) - 1) // 8
        |    AS INT) AS dim,
        |  CAST(sum(CASE WHEN instr('0123456789abcdef', substr(md5(token), 3, 1)) > 8
        |           THEN 1 ELSE -1 END) AS BIGINT) AS value
        |FROM tk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "v12_knn_eval" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
         |      FROM e WHERE vec_id < $KnnEvalCount),
         |s AS (SELECT query_id, qlabel, e.label AS n_label,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY list_cosine_similarity(qv, v) DESC, vec_id ASC) AS rk
         |      FROM e CROSS JOIN q WHERE vec_id != query_id),
         |votes AS (SELECT query_id, qlabel, n_label, count(*) AS cnt
         |          FROM s WHERE rk <= $K GROUP BY 1, 2, 3),
         |pred AS (SELECT query_id, qlabel, n_label,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY cnt DESC, n_label ASC) AS vr FROM votes)
         |SELECT qlabel AS label, count(*) AS n_eval,
         |  CAST(sum(CASE WHEN n_label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  CAST(sum(CASE WHEN n_label = qlabel THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS accuracy
         |FROM pred WHERE vr = 1 GROUP BY qlabel ORDER BY label""".stripMargin,
    "v1_ann_topk" -> annTopKOracle,
    "v5_ann_topk_agg" -> annTopKOracle,
    "v26_hybrid_rrf" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e
         |      WHERE vec_id < $QueryCount),
         |dr AS (SELECT query_id, vec_id AS id,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY list_cosine_similarity(qv, v) DESC,
         |             vec_id ASC) AS rd
         |       FROM e CROSS JOIN q WHERE vec_id != query_id),
         |d AS (SELECT query_id, id, rd FROM dr WHERE rd <= $FuseDepth),
         |tok AS (SELECT doc_id,
         |          unnest(list_distinct(string_split(text, ' '))) AS tok
         |        FROM documents),
         |kept AS (SELECT tok FROM tok GROUP BY tok
         |         HAVING count(*) <= $HybridDfCap),
         |idx AS (SELECT doc_id, tok FROM tok
         |        WHERE tok IN (SELECT tok FROM kept)),
         |qt AS (SELECT doc_id AS query_id, tok FROM idx
         |       WHERE doc_id < $QueryCount),
         |ov AS (SELECT qt.query_id, idx.doc_id AS id,
         |         count(*) AS shared
         |       FROM qt JOIN idx ON qt.tok = idx.tok
         |         AND idx.doc_id != qt.query_id
         |       GROUP BY 1, 2),
         |lr AS (SELECT query_id, id,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY shared DESC, id ASC) AS rl
         |       FROM ov),
         |l AS (SELECT query_id, id, rl FROM lr WHERE rl <= $FuseDepth),
         |f AS (SELECT COALESCE(d.query_id, l.query_id) AS query_id,
         |        COALESCE(d.id, l.id) AS doc_id,
         |        COALESCE($RrfScale // ($RrfConst + d.rd), 0)
         |          + COALESCE($RrfScale // ($RrfConst + l.rl), 0) AS rrf
         |      FROM d FULL OUTER JOIN l
         |        ON d.query_id = l.query_id AND d.id = l.id),
         |r AS (SELECT query_id, doc_id, rrf,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY rrf DESC, doc_id ASC) AS rk
         |      FROM f)
         |SELECT query_id, CAST(rk AS INT) AS rk, doc_id,
         |  CAST(rrf AS BIGINT) AS rrf_score
         |FROM r WHERE rk <= $K
         |ORDER BY query_id, rk""".stripMargin,
    "v23_random_projection" ->
      s"""WITH q AS (SELECT vec_id,
         |         list_transform(CAST(embedding AS DOUBLE[]),
         |           x -> CAST(floor(x * ${JlScale.toLong}.0 + 0.5) AS BIGINT)) AS q
         |       FROM embeddings),
         |sgn AS (SELECT j, i,
         |          CASE WHEN substr(md5('jl|' || j || '|' || i), 1, 1) < '8'
         |               THEN 1 ELSE -1 END AS s
         |        FROM range($JlOutDims) t1(j), range(64) t2(i)),
         |qi AS (SELECT vec_id, i, q[i + 1] AS qv FROM q, range(64) r(i)),
         |proj AS (SELECT qi.vec_id, sgn.j,
         |           CAST(sum(sgn.s * qi.qv) AS BIGINT) AS y
         |         FROM qi JOIN sgn ON sgn.i = qi.i
         |         GROUP BY qi.vec_id, sgn.j),
         |dn AS (SELECT a.vec_id AS v1,
         |         CAST(sum((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS den
         |       FROM qi a JOIN qi b ON b.vec_id = a.vec_id + 1 AND b.i = a.i
         |       GROUP BY 1),
         |nm AS (SELECT a.vec_id AS v1,
         |         CAST(sum((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS num
         |       FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
         |         AND b.j = a.j
         |       GROUP BY 1),
         |r AS (SELECT num, den FROM nm JOIN dn USING (v1) WHERE den > 0)
         |SELECT num * 20 // (den * $JlOutDims) AS bucket,
         |       count(*) AS n_pairs,
         |       round(min(CAST(num AS DOUBLE)
         |         / CAST(den * $JlOutDims AS DOUBLE)), 6) AS min_ratio,
         |       round(max(CAST(num AS DOUBLE)
         |         / CAST(den * $JlOutDims AS DOUBLE)), 6) AS max_ratio
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "v22_range_search" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $QueryCount)
         |SELECT query_id, vec_id,
         |  round(list_cosine_similarity(qv, v), 6) AS cos_sim
         |FROM e CROSS JOIN q
         |WHERE vec_id != query_id
         |  AND list_cosine_similarity(qv, v) >= $RangeTau
         |ORDER BY query_id, vec_id""".stripMargin,
    "v2_cosine_pairs" -> cosinePairsOracle,
    // v21 is v2's blocked scale tier: SAME exact pair set, same oracle
    "v21_cosine_pairs_blocked" -> cosinePairsOracle,
    "v6_label_centroids" ->
      """WITH u AS (SELECT label, unnest(embedding) AS x,
        |             unnest(generate_series(0, len(embedding)-1)) AS pos
        |           FROM embeddings),
        |q AS (SELECT label, CAST(pos AS INT) AS pos,
        |        CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qv
        |      FROM u)
        |SELECT label, pos, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(qv) AS BIGINT) AS sum_q,
        |  round(CAST(sum(qv) AS BIGINT) / count(*) / 1000000, 6) AS centroid
        |FROM q GROUP BY label, pos ORDER BY label, pos""".stripMargin,
  )
}
