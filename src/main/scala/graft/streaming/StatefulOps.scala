package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom keyed streaming state via flatMapGroupsWithState — the escape
  * hatch for semantics the built-in aggregates can't express (the Flink
  * runtime underlying the reference exposes the same power as keyed
  * process functions). The statement facade runs its continuous views on
  * two of these operators: the id-keyed upsert view of changelog feeds
  * ([[changelogUnionUpsertStream]]) and the Z-set join between them
  * ([[zJoinStream]]); the others are keyed state machines for streaming
  * twins of batch queries.
  *
  * Scale: state lives in the executor StateStore partitioned by key —
  * the same sharding as a streaming aggregate; nothing accumulates on the
  * driver.
  */
object StatefulOps extends Serializable {

  case class KeyedCount(key: String, n: Long, lastValue: Double)

  case class KeyTopK(key: String, ids: Seq[Long], scores: Seq[Double])

  /** Streaming per-key top-k (the leaderboard op; streaming twin of the
    * batch q7 rank window and the v5 mergeable aggregate): keyed state is
    * the current k best (score, id) pairs — BOUNDED at k entries per key
    * no matter how long the stream runs, which is what makes this safe at
    * an unbounded 100 TB/day feed where a rank-window would need the full
    * history. Emits the refreshed top-k for every key that changed in the
    * batch (update mode). Ties break toward the lower id, so the emission
    * is deterministic for any arrival order once the same set of events
    * has been seen. */
  def topKPerKey[T](ds: Dataset[T], keyFn: T => String,
                    idFn: T => Long, scoreFn: T => Double,
                    k: Int): Dataset[KeyTopK] = {
    implicit val stateEnc: Encoder[KeyTopK] = Encoders.product[KeyTopK]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState[KeyTopK, KeyTopK](
        OutputMode.Update, GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[T], state: GroupState[KeyTopK]) =>
          val cur = state.getOption.getOrElse(KeyTopK(key, Nil, Nil))
          val before = cur.scores.zip(cur.ids).toVector // (score, id)
          // fold the whole batch in ONE dedup+sort+truncate — top-k is
          // incrementally closed, so this equals the per-event fold at
          // O((B+k) log(B+k)) instead of O(B·k log k) on the hot loop.
          // distinct: an exactly-replayed event (at-least-once delivery)
          // must not occupy two slots; a redelivery with a RECOMPUTED
          // score is a different entry by design (scores are facts here,
          // not mutable attributes — id-level upsert would need a map)
          val top = (before ++ rows.map(r => (scoreFn(r), idFn(r))))
            .distinct
            .sortBy { case (s, id) => (-s, id) }
            .take(k)
            .toVector
          if (top != before) {
            val next = KeyTopK(key, top.map(_._2), top.map(_._1))
            state.update(next)
            Iterator.single(next)
          } else Iterator.empty
      }
  }

  case class Scd2Change(user_id: Long, change_id: Long, state: String,
                        valid_from_us: Long, valid_to_us: Long)
  case class Scd2Open(change_id: Long, state: String, valid_from_us: Long)

  /** Streaming SCD2 historization — the streaming twin of the batch q40
    * (Relational.q40Scd2): maintain each key's OPEN validity interval as
    * keyed state — (change_id, state, valid_from), O(1) per key no matter
    * how long the stream runs — and emit an interval the moment a
    * state-changing event CLOSES it. Closed intervals are immutable
    * facts, so the sink is append-mode (a batch rank-window would
    * re-read the full history instead).
    *
    * Ordering contract: events fold in (ts_us, event_id) order within a
    * batch; ACROSS batches the feed must be per-key ordered — exactly the
    * delivery guarantee a key-partitioned CDC log (Kafka topic keyed by
    * row id, Debezium) provides. At-least-once redelivery of the event
    * that opened the current interval is absorbed by the unchanged-state
    * branch (its state equals the open interval's, so it emits nothing
    * and does not advance the interval). A state-CHANGING event whose ts
    * predates the open interval's start is a broken ordering contract;
    * rather than emit an inverted [valid_from, valid_to) interval, it is
    * DROPPED (guard below) — the observable symptom of upstream disorder
    * is a missing interval, never a corrupt one. */
  def scd2Stream(events: Dataset[(Long, Long, Long, String)])
      : Dataset[Scd2Change] = {
    implicit val outEnc: Encoder[Scd2Change] = Encoders.product[Scd2Change]
    implicit val stEnc: Encoder[Scd2Open] = Encoders.product[Scd2Open]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Scd2Open, Scd2Change](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[Scd2Open]) =>
          val sorted = rows.toVector.sortBy { case (_, eid, ts, _) => (ts, eid) }
          val out = Vector.newBuilder[Scd2Change]
          var cur = state.getOption
          sorted.foreach { case (_, eid, ts, typ) =>
            cur match {
              // no change — also absorbs an at-least-once redelivery of
              // the opening event (same state, emits nothing)
              case Some(s) if s.state == typ =>
              // ordering-contract violation: closing at ts < valid_from
              // would invert the interval — drop instead (scaladoc)
              case Some(s) if ts < s.valid_from_us =>
              case Some(s) =>
                out += Scd2Change(user, s.change_id, s.state,
                  s.valid_from_us, ts)
                cur = Some(Scd2Open(eid, typ, ts))
              case None =>
                cur = Some(Scd2Open(eid, typ, ts))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  case class GapAudit(user_id: Long, n_hours: Long, n_obs: Long,
                      n_gaps: Long, gap_carried: Double)
  case class GapFillState(lastHr: Long, lastCents: Long, firstHr: Long,
                          nObs: Long, carriedCents: Long)

  /** Streaming gap-fill audit — the LIVE tier of the gap-fill family,
    * completing its scale ladder: q36 is the dense-calendar demo form
    * (DECLARED expected_superlinear — O(users × timeline-span)), q48 the
    * sparse batch form (observed rows only), and this op the ingest-time
    * deployment: per-user keyed state is FIVE longs — last observed hour,
    * its cent-quantized value, first hour, observation count, carried
    * cents — O(1) per user forever, and every user touched in a
    * micro-batch re-emits its cumulative audit row (update shape, like
    * driftStream; consumers key on the latest row per user).
    *
    * Arithmetic is exactly q48's: a gap of g hours after an observation
    * of v carries g·round(v·100) cents, and the audit emits the single
    * IEEE division cents/100 — so once the same finalized hours have
    * been delivered, the latest emission per user equals the batch
    * q48/q36 row bit-for-bit (spec-asserted).
    *
    * Input contract: one FINALIZED row (user_id, hr, cents) per
    * (user, hour) — the shape a watermark-closed windowed aggregation
    * emits in append mode — with per-user hr advancing across batches
    * (append-mode windows close in watermark order, which guarantees
    * exactly this). In-batch rows fold in hr order. A row whose hr does
    * not advance past the state's last hour is a broken upstream
    * contract and FAILS FAST: unlike scd2Stream's droppable late close
    * (symptom: a missing interval), silently absorbing a re-delivered
    * hour here would double-count carried cents — a corrupt audit with
    * no observable symptom, so the query dies loudly instead. */
  def gapFillStream(hourly: Dataset[(Long, Long, Long)])
      : Dataset[GapAudit] = {
    implicit val outEnc: Encoder[GapAudit] = Encoders.product[GapAudit]
    implicit val stEnc: Encoder[GapFillState] =
      Encoders.product[GapFillState]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    hourly.groupByKey(_._1)
      .mapGroupsWithState[GapFillState, GapAudit](
        GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[GapFillState]) =>
          var st = state.getOption
          rows.toVector.sortBy(_._2).foreach { case (_, hr, cents) =>
            st = st match {
              case None => Some(GapFillState(hr, cents, hr, 1L, 0L))
              case Some(s) =>
                if (hr <= s.lastHr)
                  throw new IllegalStateException(
                    s"gapFillStream ordering contract broken for user " +
                      s"$user: hour $hr arrived at/behind ${s.lastHr} — " +
                      "the upstream must deliver one finalized row per " +
                      "(user, hour) in watermark order")
                Some(GapFillState(hr, cents, s.firstHr, s.nObs + 1,
                  s.carriedCents + (hr - s.lastHr - 1) * s.lastCents))
            }
          }
          val s = st.get
          state.update(s)
          GapAudit(user, s.lastHr - s.firstHr + 1, s.nObs,
            s.lastHr - s.firstHr + 1 - s.nObs,
            s.carriedCents.toDouble / 100)
      }
  }

  case class PackAssign(shard: Int, doc_id: Long, n_tokens: Long,
                        seq_start: Long, seq_offset: Long, seq_end: Long)

  /** Streaming sequence packing — the ingest-time twin of batch p15
    * (Pipeline.p15SequencePack): documents are concatenated into
    * fixed-`seqLen`-token training sequences as they arrive, each doc
    * assigned the sequence ids and offset it lands in. Keyed per SHARD
    * (a shard = one independent pack stream = one output file family —
    * the production layout, since a single global pack order would
    * serialize the whole feed through one writer); per-shard keyed state
    * is ONE long (the cumulative token count), O(1) forever. Assignments
    * are immutable once emitted → append mode.
    *
    * Ordering contract (scd2Stream's): in-batch, docs fold in doc_id
    * order; across batches delivery must be per-shard ordered. The
    * assignment arithmetic is exactly p15's: seq_start = cum DIV L,
    * offset = cum MOD L, seq_end = (cum + n − 1) DIV L — so a
    * single-shard stream folds to batch p15 row-for-row
    * (StreamingEventsSpec). */
  def packStream(docs: Dataset[(Int, Long, Long)], seqLen: Long)
      : Dataset[PackAssign] = {
    implicit val outEnc: Encoder[PackAssign] = Encoders.product[PackAssign]
    implicit val stEnc: Encoder[Long] = Encoders.scalaLong
    implicit val keyEnc: Encoder[Int] = Encoders.scalaInt
    docs.groupByKey(_._1)
      .flatMapGroupsWithState[Long, PackAssign](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (shard: Int, rows: Iterator[(Int, Long, Long)],
         state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = rows.toVector.sortBy(_._2).map { case (_, id, nt) =>
            val a = PackAssign(shard, id, nt,
              cum / seqLen, cum % seqLen, (cum + nt - 1) / seqLen)
            cum += nt
            a
          }
          state.update(cum)
          out.iterator
      }
  }

  case class SessionRow(user_id: Long, sess_id: Long, n_events: Long,
                        duration_us: Long)
  case class SessionOpen(sess_id: Long, start_us: Long, last_us: Long,
                         n: Long)

  /** Streaming gap-based sessionization — the streaming twin of batch q21
    * (Relational.q21Sessionize): each key's OPEN session is the only
    * keyed state — (ordinal, start, last-seen, count), O(1) per key no
    * matter how long the stream runs — and a session is emitted the
    * moment an event arrives more than `gapUs` after its last event
    * (which also opens the next session). Closed sessions are immutable
    * facts → append-mode sink; the batch window formulation re-sorts each
    * user's FULL history per run, the keyed state folds each event once.
    *
    * This is the flatMapGroupsWithState form of what session_window +
    * watermark gives declaratively (StreamingEventsSpec covers that
    * path); the explicit form exists because it emits q21's exact row
    * shape — per-user session ORDINALS, which session_window does not
    * carry — so stream == batch is assertable row-for-row.
    *
    * Ordering contract (scd2Stream's): in-batch folds in (ts, event_id)
    * order; across batches the feed must be per-key ordered. A
    * redelivered or late event with ts ≤ last_us inside the gap is
    * absorbed (count does not advance for ts == last_us redeliveries
    * only if ids repeat — counts are per event; ts < start_us is the
    * broken-contract case and is DROPPED like scd2Stream's guard). */
  def sessionStream(events: Dataset[(Long, Long, Long)],
                    gapUs: Long = graft.operators.Relational.SessionGapUs)
      : Dataset[SessionRow] = {
    implicit val outEnc: Encoder[SessionRow] = Encoders.product[SessionRow]
    implicit val stEnc: Encoder[SessionOpen] = Encoders.product[SessionOpen]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionOpen, SessionRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[SessionOpen]) =>
          val sorted = rows.toVector.sortBy { case (_, eid, ts) => (ts, eid) }
          val out = Vector.newBuilder[SessionRow]
          var cur = state.getOption
          sorted.foreach { case (_, _, ts) =>
            cur match {
              case Some(sess) if ts < sess.start_us =>
                // ordering-contract violation (scd2Stream rule): folding
                // it in would corrupt the open session's start — drop
              case Some(sess) if ts - sess.last_us > gapUs =>
                out += SessionRow(user, sess.sess_id, sess.n,
                  sess.last_us - sess.start_us)
                cur = Some(SessionOpen(sess.sess_id + 1, ts, ts, 1L))
              case Some(sess) =>
                cur = Some(sess.copy(last_us = math.max(sess.last_us, ts),
                  n = sess.n + 1))
              case None =>
                cur = Some(SessionOpen(1L, ts, ts, 1L))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  case class NearDupMatch(d1: Long, d2: Long, est_jaccard: Double)

  /** Per-(band, bucket) keyed state for [[nearDupStream]] — positionally
    * parallel id/signature sequences, bounded at `bucketCap` entries.
    * (Public: the state encoder's generated code instantiates it.) */
  case class Bucket(ids: Seq[Long], sigs: Seq[Seq[Long]])

  /** Streaming MinHash-LSH near-duplicate detection — the NEAR-dup twin of
    * the exact-fingerprint streaming dedup in Pipeline.prepStream. Each
    * incoming document's k-minhash signature is banded exactly like batch
    * d4 (8 bands × 4 rows, xxhash64 bucket per band); keyed state per
    * (band, bucket) holds the signatures of the documents that landed
    * there, so a new arrival is compared only against its own bucket's
    * history — the banding bounds the comparison fan-out the same way it
    * bounds d4's candidate join. A pair whose signature-estimated Jaccard
    * clears `threshold` is emitted the moment its second member arrives.
    *
    * Scale: state is sharded by band key across executors (StateStore
    * partitioning) and BOUNDED per bucket at `bucketCap` signatures with
    * FIFO eviction — a saturated bucket compares each arrival against the
    * `bucketCap` most recent residents (well-defined sliding-window
    * semantics; an overflowing bucket means the banding parameters are
    * wrong for the corpus, the same failure mode batch LSH has). Recall
    * loss from saturation is OBSERVABLE, not silent: every eviction bumps
    * `overflowAcc` (a caller-supplied accumulator, visible in the Spark
    * UI when named) — a non-zero count is the retune-the-banding signal.
    * A pair
    * colliding in several bands emits once per band; consumers dedupe on
    * (d1, d2) — cheaper than cross-band coordination inside the state
    * function. Exactly-replayed documents (at-least-once delivery) are
    * recognized by id and skipped while the original remains in the
    * window.
    *
    * With the full corpus streamed through, the deduped emission set
    * equals batch d4's verified pair set (StreamingEventsSpec). */
  def nearDupStream(docs: org.apache.spark.sql.DataFrame,
                    k: Int = 32, bands: Int = 8,
                    threshold: Double = graft.operators.Dedup.JaccardThreshold,
                    bucketCap: Int = 64,
                    overflowAcc: Option[org.apache.spark.util.LongAccumulator] =
                      None): Dataset[NearDupMatch] = {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.{minHashSignature, shingleHashes}
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = k / bands
    val banded = docs
      .select(col("doc_id"),
        minHashSignature(shingleHashes(col("text"), 3), k).as("sig"))
      .select($"doc_id", $"sig",
        explode(array((0 until bands).map { b =>
          concat(lit(s"$b:"),
            xxhash64(slice($"sig", b * rows + 1, rows)).cast("string"))
            .as("bkey")
        }: _*)).as("bkey"))
      .as[(Long, Seq[Long], String)]
    implicit val stateEnc: Encoder[Bucket] = Encoders.product[Bucket]
    banded.groupByKey(_._3)
      .flatMapGroupsWithState[Bucket, NearDupMatch](
        OutputMode.Update, GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[(Long, Seq[Long], String)],
         state: GroupState[Bucket]) =>
          val st = state.getOption.getOrElse(Bucket(Nil, Nil))
          var ids = st.ids.toVector
          var sgs = st.sigs.toVector
          val out = Seq.newBuilder[NearDupMatch]
          // doc_id order inside the batch: deterministic emissions for any
          // arrival interleaving once the same set of docs has been seen
          var changed = false
          rows.toSeq.sortBy(_._1).foreach { case (id, sig, _) =>
            if (!ids.contains(id)) {
              ids.indices.foreach { i =>
                val eq = sig.iterator.zip(sgs(i).iterator)
                  .count { case (a, b) => a == b }
                val est = eq.toDouble / k
                if (est >= threshold)
                  out += NearDupMatch(math.min(id, ids(i)),
                    math.max(id, ids(i)), est)
              }
              // always store; FIFO-evict the oldest beyond the cap, so a
              // saturated bucket degrades to a recent-window comparison
              // (never a doc that silently joins no window at all)
              ids :+= id; sgs :+= sig
              if (ids.length > bucketCap) {
                ids = ids.tail; sgs = sgs.tail
                overflowAcc.foreach(_.add(1L))
              }
              changed = true
            }
          }
          if (changed) state.update(Bucket(ids, sgs))
          out.result().iterator
      }
  }

  /** A keyed upsert/delete change on a single changelog feed. */
  case class UpsertEvent(key: Long, id: Long, value: String, delete: Boolean)

  /** An emitted delta of a maintained feed view: `op` uses the changelog
    * codes (0 = +I, 3 = -D, matching [[graft.changelog.Op]]); `feed` is
    * the index of the feed the row lives in. */
  case class UpsertDelta(op: Int, key: Long, id: Long, value: String,
                         feed: Int)

  /** Latest live row of one id — the state a feed view keeps. */
  case class UpsertState(key: Long, value: String)

  /** Exact retraction deltas of the MULTISET UNION of keyed UPSERT/DELETE
    * feeds (one feed: that feed's own view) in ONE stateful operator —
    * what a GROUP BY or a join over an upsert table needs that an
    * append-only reading cannot give (a delete must SUBTRACT, an update
    * must not double-count). State is keyed by (feed index, id): `id` is
    * the feed's row identity, and the same id in two feeds is two
    * INDEPENDENT rows — exactly UNION ALL's multiset reading. An upsert
    * of an id that had an old row first retracts (`-D`) the old row with
    * ITS stored key, then inserts (`+I`) the new one — so an upsert that
    * moves an id to a new key leaves nothing under the old key; a delete
    * retracts the live row; a delete of an unknown id is a tolerated
    * no-op (the reference's missing-retract tolerance,
    * `lib/flink.py:28-32`). Collapsing the deltas at ANY prefix yields
    * exactly the feeds' live rows (property-tested in
    * StreamingEventsSpec).
    *
    * Scale shape: state is one (key, value) per live (feed, id) in the
    * executor StateStore — the irreducible upsert-table state; emission
    * per change is ≤ 2 rows, the true output delta. Events within a
    * micro-batch fold in the caller's `seq` order. */
  def changelogUnionUpsertStream(
      events: Dataset[(Long, Int, UpsertEvent)]): Dataset[UpsertDelta] = {
    implicit val stateEnc: Encoder[UpsertState] = Encoders.product[UpsertState]
    implicit val outEnc: Encoder[UpsertDelta] = Encoders.product[UpsertDelta]
    implicit val keyEnc: Encoder[(Int, Long)] = Encoders.product[(Int, Long)]
    events.groupByKey(e => (e._2, e._3.id))
      .flatMapGroupsWithState[UpsertState, UpsertDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (k: (Int, Long), rows: Iterator[(Long, Int, UpsertEvent)],
         state: GroupState[UpsertState]) =>
          val (feed, id) = k
          var cur = state.getOption
          val out = Seq.newBuilder[UpsertDelta]
          rows.toSeq.sortBy(_._1).foreach { case (_, _, e) =>
            cur.foreach(s => out += UpsertDelta(3, s.key, id, s.value, feed))
            cur = if (e.delete) None else Some(UpsertState(e.key, e.value))
            if (!e.delete) out += UpsertDelta(0, e.key, id, e.value, feed)
          }
          cur match {
            case Some(s) => state.update(s)
            case None => state.remove()
          }
          out.result().iterator
      }
  }

  /** A row of the Z-set join's accumulated view: positionally parallel
    * per-feed (key, id, value) triples in join order — stage N of a
    * cascade carries N-length seqs. */
  case class ZRow(keys: Seq[Long], ids: Seq[Long], values: Seq[String])

  /** One side's counted-multiset change at a join key: `sign` is +1 for
    * an insert delta, -1 for a retraction. */
  case class ZEvent(jkey: Long, left: Boolean, row: ZRow, sign: Int)

  /** An emitted delta of the joined view (`op`: 0 = +I, 3 = -D). */
  case class ZDelta(op: Int, row: ZRow)

  /** Per-join-key live counted multisets of both inputs (parallel
    * row/count seqs — the product encoder's cheap shape). */
  case class ZJoinState(lrows: Seq[ZRow], lcounts: Seq[Long],
                        rrows: Seq[ZRow], rcounts: Seq[Long])

  /** Continuously-maintained binary INNER equi-join over two RETRACTION
    * DELTA streams, as counted multisets (Z-sets) — the one continuous
    * join operator between feeds. Its inputs carry no row identity of
    * their own: a feed's side is its id-keyed upsert deltas
    * ([[changelogUnionUpsertStream]], which owns the row-identity
    * contract), and a CASCADE stage's left input is the previous join's
    * emitted delta stream (multiset inserts/retracts of composite rows).
    * A left-deep tree of feeds chains one of these per stage — each
    * stage keyed (shuffled) by its own join column, exactly how Flink
    * plans a multi-way continuous join as a cascade of two-input joins. All stages run flatMapGroupsWithState
    * in APPEND mode (delta streams are append streams), which is what
    * lets several stateful operators legally compose in one query.
    *
    * Per micro-batch and join key the operator folds the batch's events
    * into side deltas ΔL/ΔR and emits the exact bilinear join delta
    * ΔL ⋈ R_new + L_old ⋈ ΔR (= L_new ⋈ R_new − L_old ⋈ R_old), with
    * per-combination multiplicity |n| rows of +I (n > 0) or -D (n < 0) —
    * order-independent within the batch, so upstream -D/+I pairs of the
    * same row cancel algebraically instead of tripping a transient
    * negative. A multiset count that ends a batch negative is a broken
    * IVM invariant and fails loudly. Collapsing the emitted deltas at
    * any batch boundary equals the inner join of the live multisets at
    * that boundary (property-tested through the facade).
    *
    * `leftOuter` adds SQL LEFT OUTER semantics (the accumulated/left
    * side survives without matches): while a key's R multiset is EMPTY,
    * every live L row is emitted padded with `rightArity` (-1, -1,
    * null) triples — the cascade's sentinel for a SQL NULL side, -1
    * being the wire's reserved pad id — and the pads retract/return on
    * the R side's empty↔nonempty transitions. The pad algebra is the
    * same per-batch Z-set difference as the join itself
    * (padTerm_new − padTerm_old where padTerm = L when R is empty, ∅
    * otherwise), so pad transitions net exactly and in one pass.
    * `rightOuter` mirrors with `leftArity` pads; both = FULL OUTER.
    *
    * Scale shape: state is the live rows per (key, side) in the executor
    * StateStore sharded by join key — the irreducible two-input join
    * state; emission per change is the true output delta. */
  def zJoinStream(events: Dataset[ZEvent], leftOuter: Boolean = false,
                  rightOuter: Boolean = false, leftArity: Int = 1,
                  rightArity: Int = 1): Dataset[ZDelta] = {
    implicit val stateEnc: Encoder[ZJoinState] = Encoders.product[ZJoinState]
    implicit val outEnc: Encoder[ZDelta] = Encoders.product[ZDelta]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    def pad(arity: Int): ZRow = ZRow(Seq.fill(arity)(-1L),
      Seq.fill(arity)(-1L), Seq.fill(arity)(null))
    events.groupByKey(_.jkey)
      .flatMapGroupsWithState[ZJoinState, ZDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[ZEvent], state: GroupState[ZJoinState]) =>
          val st = state.getOption.getOrElse(ZJoinState(Nil, Nil, Nil, Nil))
          // the batch's side deltas as insertion-ordered Z-sets
          // (iteration order — and therefore emission order — is the
          // first-seen order of each distinct row, deterministic for a
          // deterministic upstream)
          val dL = scala.collection.mutable.LinkedHashMap.empty[ZRow, Long]
          val dR = scala.collection.mutable.LinkedHashMap.empty[ZRow, Long]
          rows.foreach { e =>
            val m = if (e.left) dL else dR
            val n = m.getOrElse(e.row, 0L) + e.sign
            if (n == 0L) m.remove(e.row) else m.update(e.row, n)
          }
          val lOld = scala.collection.mutable.LinkedHashMap(
            st.lrows.zip(st.lcounts): _*)
          val rOld = scala.collection.mutable.LinkedHashMap(
            st.rrows.zip(st.rcounts): _*)
          val rNew = scala.collection.mutable.LinkedHashMap(rOld.toSeq: _*)
          dR.foreach { case (row, c) =>
            val n = rNew.getOrElse(row, 0L) + c
            if (n == 0L) rNew.remove(row) else rNew.update(row, n)
          }
          // accumulate the bilinear terms into the batch's NET output
          // Z-set before emitting: the cross terms produce transient
          // ±pairs of the same composite row (e.g. ΔL ⋈ ΔR retractions
          // that L_old ⋈ ΔR re-inserts) which must cancel ALGEBRAICALLY
          // — emitting them as ordered rows would put a -D before its +I
          // inside one batch and break downstream order-sensitive folds
          val net = scala.collection.mutable.LinkedHashMap.empty[ZRow, Long]
          def emit(l: ZRow, r: ZRow, n: Long): Unit = if (n != 0L) {
            val combined = ZRow(l.keys ++ r.keys, l.ids ++ r.ids,
              l.values ++ r.values)
            val c = net.getOrElse(combined, 0L) + n
            if (c == 0L) net.remove(combined) else net.update(combined, c)
          }
          dL.foreach { case (l, cl) =>
            rNew.foreach { case (r, cr) => emit(l, r, cl * cr) } }
          lOld.foreach { case (l, cl) =>
            dR.foreach { case (r, cr) => emit(l, r, cl * cr) } }
          val lNew = scala.collection.mutable.LinkedHashMap(lOld.toSeq: _*)
          dL.foreach { case (row, c) =>
            val n = lNew.getOrElse(row, 0L) + c
            if (n == 0L) lNew.remove(row) else lNew.update(row, n)
          }
          // outer pads as the same per-batch Z-set difference: padTerm =
          // the preserved side's multiset while the opposite one is
          // empty, ∅ otherwise — new minus old nets every pad
          // transition (first match retracts pads, last match's leave
          // returns them) through the same cancellation as the join
          if (leftOuter) {
            val rp = pad(rightArity)
            if (rNew.isEmpty) lNew.foreach { case (l, c) => emit(l, rp, c) }
            if (rOld.isEmpty) lOld.foreach { case (l, c) => emit(l, rp, -c) }
          }
          if (rightOuter) {
            val lp = pad(leftArity)
            if (lNew.isEmpty) rNew.foreach { case (r, c) => emit(lp, r, c) }
            if (lOld.isEmpty) rOld.foreach { case (r, c) => emit(lp, r, -c) }
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[ZDelta]
          net.foreach { case (row, n) =>
            val op = if (n > 0L) 0 else 3
            var i = math.abs(n)
            while (i > 0L) { out += ZDelta(op, row); i -= 1L }
          }
          if ((lNew.valuesIterator ++ rNew.valuesIterator).exists(_ < 0L))
            throw new IllegalStateException(
              "Z-set join retracted a row that was never inserted — the " +
                "delta stream broke the IVM invariant")
          if (lNew.isEmpty && rNew.isEmpty) state.remove()
          else state.update(ZJoinState(lNew.keys.toSeq, lNew.values.toSeq,
            rNew.keys.toSeq, rNew.values.toSeq))
          out.iterator
      }
  }

  /** Running count + last value per key, emitting an update per input
    * batch in which the key appeared. */
  def runningCounts[T](ds: Dataset[T], keyFn: T => String,
                       valueFn: T => Double): Dataset[KeyedCount] = {
    implicit val stateEnc: Encoder[KeyedCount] = Encoders.product[KeyedCount]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState[KeyedCount, KeyedCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[T], state: GroupState[KeyedCount]) =>
          var cur = state.getOption.getOrElse(KeyedCount(key, 0L, 0.0))
          var any = false
          rows.foreach { r =>
            cur = KeyedCount(key, cur.n + 1, valueFn(r))
            any = true
          }
          if (any) {
            state.update(cur)
            Iterator.single(cur)
          } else Iterator.empty
      }
  }
}
