package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The keyed streaming state machines (flatMapGroupsWithState) that the
  * statement facade's feed routes run on: the id-keyed upsert view of
  * changelog feeds ([[changelogUnionUpsertStream]]) and the Z-set join
  * between them ([[zJoinStream]]). Statements that read no changelog
  * feed run on Spark's built-in streaming operators. A keyed operator
  * belongs here only together with the statement route that reaches it.
  *
  * Scale: state lives in the executor StateStore partitioned by key —
  * the same sharding as a streaming aggregate; nothing accumulates on the
  * driver.
  */
object StatefulOps extends Serializable {

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
}
