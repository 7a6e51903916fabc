package graft.api

import java.security.SecureRandom

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Cast, Descending, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Not, NullsFirst, Or, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Filter, GlobalLimit, Join, LocalLimit, LogicalPlan, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.types._

import graft.changelog.{Changelog, Op, RawRecord}
import graft.streaming.{ChangelogStream, StatefulOps}

object Statements {
  /** Default cap on driver-retained fold-state entries (groups ×
    * distinct bag values × maintained-view rows) — the state-side twin
    * of [[graft.streaming.ChangelogStream.DefaultMaxBufferedRecords]]:
    * dashboard-sized statements hold thousands of entries; a million
    * signals a statement whose state belongs in the executor StateStore
    * or an upstream pre-aggregation, not on the driver. */
  val DefaultMaxFoldStateEntries: Int = 1 << 20
}

/** Statement lifecycle phases, lowercase like the reference's
  * `status.phase` (`/root/reference/api/statements.py:180-189`). */
object Phase {
  val Pending = "pending"
  val Running = "running"
  val Completed = "completed"
  val Failed = "failed"
}

/** Thrown by `Statements.create` when a statement's FROM clause resolves
  * to changelog feed(s) but uses a construct the IVM routes cannot
  * maintain exactly. Falling through to the default `spark.sql` route
  * would SILENTLY mis-evaluate such a statement — the append-only reading
  * of a changelog feed counts deletes as rows and double-counts upserts —
  * so the facade fails loudly at create() instead (the S14 contract:
  * exact retraction semantics or a visible error, never a plausible wrong
  * changelog). */
final class UnsupportedContinuousStatement(msg: String)
  extends IllegalArgumentException(msg)

/** A created statement: name, SQL, result schema ("traits.schema" in the
  * reference, read at `/root/reference/dashboard.py:201`), current phase,
  * and a changelog-shaped result cursor. */
final class Statement private[api] (
    val name: String,
    val sql: String,
    val df: DataFrame,
    streamHandle: Option[ChangelogStream.Handle],
    /** The creation-time properties map — the reference posts
      * `{sql.current-catalog, sql.current-database}` with every create
      * (`/root/reference/api/statements.py:27-31,70-78`) and the
      * statement carries them; mirrored here so the L5 API shape is
      * complete. Empty for the default namespace. */
    val properties: Map[String, String] = Map.empty) {

  val schema: StructType = df.schema
  val columns: Seq[String] = schema.fieldNames.toSeq

  @volatile private[api] var failure: Option[Throwable] = None

  def isStreaming: Boolean = streamHandle.isDefined

  def phase: String = streamHandle match {
    case Some(h) =>
      if (failure.isDefined || h.query.exception.isDefined) Phase.Failed
      else if (h.query.isActive) Phase.Running
      else Phase.Completed
    case None => if (failure.isDefined) Phase.Failed else Phase.Completed
  }

  /** Result pages as a raw-record iterator: streaming statements read the
    * sink's record log directly (validated per record, with no history
    * copy per cursor); batch statements produce `+I` rows (a bounded
    * query's entire changelog is its result set).
    *
    * The streaming iterator never exhausts (the query is continuous), so
    * consumers must pass a bounded `limit` to `Changelog.consume`. Each
    * empty poll sleeps `heartbeatMs` before yielding its heartbeat —
    * the in-process stand-in for the reference's per-page HTTP round trip,
    * without which a drained cursor busy-spins.
    *
    * The batch path serves `toLocalIterator()` — one partition on the
    * driver at a time, fetched as the consumer pages — never `collect()`:
    * a batch statement over a 100 TB table must not materialize its whole
    * result driver-side just because the client reads page 1. Failures
    * surface lazily (on the `hasNext`/`next` that hits the bad partition)
    * and flip the statement to Failed, same as the eager path did. */
  def results(heartbeatMs: Long = 10L): Iterator[Option[RawRecord]] =
    streamHandle match {
      case Some(h) => new Iterator[Option[RawRecord]] {
        private val log = h.records()
        override def hasNext: Boolean = true // continuous: never exhausts
        override def next(): Option[RawRecord] =
          if (log.hasNext) log.next().map { raw =>
            Changelog.validate(h.schema, raw); raw
          } else { // heartbeat — no data this poll; back off
            if (heartbeatMs > 0) Thread.sleep(heartbeatMs)
            None
          }
      }
      case None => new Iterator[Option[RawRecord]] {
        private val rows =
          try df.toLocalIterator()
          catch { case e: Throwable => failure = Some(e); throw e }
        override def hasNext: Boolean =
          try rows.hasNext
          catch { case e: Throwable => failure = Some(e); throw e }
        override def next(): Option[RawRecord] = {
          val r = try rows.next()
                  catch { case e: Throwable => failure = Some(e); throw e }
          Some(RawRecord(Some(Op.Insert.code), r.toSeq.toVector))
        }
      }
    }

  def stop(): Unit = streamHandle.foreach(_.stop())
  private[api] def handle: Option[ChangelogStream.Handle] = streamHandle
}

/** The engine's public statement facade — the Spark re-host of the
  * reference's `StatementsEndpoint` (`/root/reference/api/statements.py`):
  * `create(sql)` replaces the POST (Catalyst parses/plans instead of the
  * remote Flink service), `waitForStatus` replaces the 300 ms status poll,
  * `results` replaces the result-page generator. Statement names are a
  * prefix + 12 random hex chars (`/root/reference/api/statements.py:11-13`).
  *
  * Statements are memoized by (SQL text, changelog keys), like the
  * reference's one-statement-per-distinct-SQL cache
  * (`/root/reference/dashboard.py:195-209`) — keying also on `keyCols` so
  * the same SQL with different changelog keying gets its own statement
  * rather than silently reusing the first keying.
  */
final class Statements(spark: SparkSession, prefix: String = "stmt-",
                       pollMs: Long = 300L,
                       maxFoldStateEntries: Int =
                         Statements.DefaultMaxFoldStateEntries) {

  /** Fail-fast budget for DRIVER-retained fold state — the discipline
    * RecordLog.maxBufferedRecords applies to emitted records, applied to
    * the state that emissions do NOT bound: a non-extremal value under
    * MIN/MAX, a duplicate under COUNT(DISTINCT), or a row below the
    * k-boundary of a maintained top-k changes no output, yet each one
    * permanently occupies a driver-side multiset entry. Without this
    * bound a long high-cardinality stream is a silent driver OOM; with
    * it the statement dies with the documented cap error like every
    * other driver-retained structure in the engine. One entry ≙ one
    * group, one distinct bag value, or one live view row. */
  private final class FoldStateBudget {
    private var entries = 0L
    def shrink(n: Long = 1L): Unit = entries -= n
    def grow(): Unit = {
      entries += 1L
      if (entries > maxFoldStateEntries)
        throw new IllegalStateException(
          s"continuous fold state exceeded maxFoldStateEntries=" +
            s"$maxFoldStateEntries: the driver-side fold keeps one entry " +
            "per group, per distinct MIN/MAX/COUNT(DISTINCT) value, and " +
            "per maintained-view row — it is meant for dashboard-sized " +
            "statements. Re-shape the statement (pre-aggregate upstream) " +
            "or raise maxFoldStateEntries on the Statements facade")
    }
  }

  private val rng = new SecureRandom()
  private val byName = TrieMap.empty[String, Statement]
  private val byQuery =
    TrieMap.empty[(String, Seq[String], Map[String, String]), Statement]
  private val createLock = new Object

  private def randomId(): String = {
    val bytes = new Array[Byte](6)
    rng.nextBytes(bytes)
    bytes.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Grouping-key columns of the statement's top aggregate, read from the
    * analyzed plan (the way the reference reads the server-inferred schema,
    * `dashboard.py:201` — the engine knows its own plan). Only keys that
    * survive into the output schema count; empty for non-aggregating
    * (append-only) queries. */
  private def derivedKeys(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.NamedExpression
    val out = df.schema.fieldNames.toSet
    df.queryExecution.analyzed.collectFirst {
      case a: Aggregate => a.groupingExpressions.collect {
        case ne: NamedExpression if out.contains(ne.name) => ne.name
      }
    }.getOrElse(Nil)
  }

  /** Column contract for one side of a continuous JOIN statement: a
    * STREAMING temp view carrying one side's changelog feed — `seq` (the
    * caller's per-feed monotone sequence, making in-batch fold order
    * deterministic), the equi-join `key`, the row identity `id`, its
    * current `value`, and the upsert/delete flag. The reference's Flink
    * service accepts a two-table continuous JOIN statement over exactly
    * such keyed changelogs; this is the engine's wire shape for it. */
  private val FeedCols = Seq("seq", "key", "id", "value", "delete")

  /** A registered changelog feed: a STREAMING view whose schema is
    * EXACTLY the five feed columns. Exact — not "contains" — so a
    * streaming view that merely happens to carry these names among
    * others cannot silently lose its extra columns under `SELECT *` or
    * flip from append to upsert-collapsed semantics (r9 advice). */
  private def changelogFeed(name: String): Option[DataFrame] =
    try {
      val t = spark.table(name)
      if (t.isStreaming && t.schema.fieldNames.toSet == FeedCols.toSet &&
          t.schema.fieldNames.length == FeedCols.length)
        Some(t)
      else None
    } catch { case _: Exception => None }

  /** A registered BATCH table (the static side of a feed ⋈ dim join). */
  private def staticTable(name: String): Option[DataFrame] =
    try {
      val t = spark.table(name)
      if (!t.isStreaming) Some(t) else None
    } catch { case _: Exception => None }

  /** Does any leaf relation of this (unresolved) plan name a registered
    * changelog feed? Gates the loud-rejection contract: a feed-touching
    * aggregate that no IVM route matches must error at create(), because
    * the default route would silently mis-evaluate it. */
  private def referencesFeed(p: LogicalPlan): Boolean =
    p.collect { case u: UnresolvedRelation => u.multipartIdentifier.last }
      .exists(n => changelogFeed(n).isDefined)

  /** The aggregate functions the fold maintains — used to spot an
    * ungrouped aggregate still parsed as a Project. */
  private val AggFns = Set("count", "sum", "avg", "min", "max")
  private def hasAggFunction(es: Seq[Expression]): Boolean =
    es.exists(_.exists {
      case f: UnresolvedFunction =>
        AggFns.contains(f.nameParts.map(_.toLowerCase).mkString("."))
      case _ => false
    })

  private def unsupported(sql: String, what: String): Nothing =
    throw new UnsupportedContinuousStatement(
      "continuous statement over changelog feed(s) cannot be maintained " +
        s"exactly: $what — and the append-only default route would " +
        "mis-evaluate it (deletes read as rows, upserts double-count), " +
        s"so the statement is rejected at create(). SQL: $sql")

  /** A matched continuous source: its exact-retraction delta stream
    * (leading `op` column + the view columns), the maintained view's
    * column names and types (positionally aligned), and the resolver
    * mapping an UNRESOLVED SQL attribute onto a view column index. */
  private case class DeltaSource(deltas: DataFrame, viewCols: Seq[String],
                                 types: Seq[DataType],
                                 resolve: UnresolvedAttribute => Option[Int])

  /** Columns of the two-feed maintained join view, in delta-row order
    * AFTER the leading op column. */
  private val JoinViewCols =
    Seq("key", "left_id", "left_value", "right_id", "right_value")

  /** Columns of a single feed's maintained view, in delta-row order
    * after the leading op column. */
  private val FeedViewCols = Seq("key", "id", "value")
  private val FeedViewTypes = Seq[DataType](LongType, LongType, StringType)

  /** Relation name (resolves the feed) and the outermost alias (what
    * column references qualify by; the relation name itself when
    * unaliased). */
  private def relInfo(p: LogicalPlan): Option[(String, String)] = p match {
    case u: UnresolvedRelation =>
      Some((u.multipartIdentifier.last, u.multipartIdentifier.last))
    case SubqueryAlias(id, c) => relInfo(c).map { case (n, _) => (n, id.name) }
    case _ => None
  }

  /** `<one side>.key = <other side>.key` with qualifiers REQUIRED and one
    * per side: `ON a.key = a.key` is a per-key tautology (a cross join
    * per non-null key in SQL) and must not route to the equi-join IVM
    * (r9 advice — the old name-only check accepted it). */
  private def keyEquality(cond: Expression, la: String, ra: String): Boolean =
    cond match {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        def qual(x: UnresolvedAttribute): Option[String] = x.nameParts match {
          case Seq(q, "key") => Some(q)
          case _ => None
        }
        (qual(a), qual(b)) match {
          case (Some(x), Some(y)) => x != y && Set(x, y) == Set(la, ra)
          case _ => false
        }
      case _ => false
    }

  /** The single-feed maintained view: one feed's wire rows through the
    * exact-retraction upsert IVM
    * ([[graft.streaming.StatefulOps.changelogUpsertStream]]). */
  private def matchSingleFeed(rel: LogicalPlan): Option[DeltaSource] =
    for {
      (relName, alias) <- relInfo(rel)
      feed <- changelogFeed(relName)
    } yield singleFeedSource(feed, alias)

  private def singleFeedSource(feed: DataFrame, alias: String): DeltaSource = {
    val resolve: UnresolvedAttribute => Option[Int] = a => {
      val colName = a.nameParts match {
        case Seq(c) if FeedViewCols.contains(c) => Some(c)
        case Seq(q, c) if q == alias && FeedViewCols.contains(c) => Some(c)
        case _ => None
      }
      colName.map(FeedViewCols.indexOf)
    }
    DeltaSource(upsertDeltas(feed), FeedViewCols, FeedViewTypes, resolve)
  }

  /** One feed's wire rows → the exact retraction deltas of its
    * maintained view. */
  private def upsertDeltas(feed: DataFrame): DataFrame = {
    import spark.implicits._
    StatefulOps.changelogUpsertStream(
      feed.select("seq", "key", "id", "value", "delete")
        .as[(Long, Long, Long, String, Boolean)]
        .map { case (seq, k, id, v, del) =>
          (seq, StatefulOps.UpsertEvent(k, id, v, del))
        }).toDF()
  }

  /** Match `l [AS a] <type> JOIN r [AS b] ON a.key = b.key` over two
    * registered changelog feeds and build the exact-retraction IVM join
    * ([[graft.streaming.StatefulOps.changelogJoinStream]]) over them —
    * Structured Streaming's own stream-stream join is append-only and
    * never retracts on upsert/delete, so this operator is the engine's
    * equivalent of what the reference's Flink service maintains for a
    * continuous two-table JOIN. */
  private def matchFeedJoin2(j: Join): Option[DeltaSource] = {
    val outer = j.joinType match {
      case Inner => Some((false, false))
      case LeftOuter => Some((true, false))
      case RightOuter => Some((false, true))
      case FullOuter => Some((true, true))
      case _ => None
    }
    for {
      (lo, ro) <- outer
      (ln, la) <- relInfo(j.left); (rn, ra) <- relInfo(j.right)
      if j.condition.exists(keyEquality(_, la, ra))
      lt <- changelogFeed(ln); rt <- changelogFeed(rn)
    } yield {
      import spark.implicits._
      def feed(t: DataFrame, isLeft: Boolean) = t
        .select("seq", "key", "id", "value", "delete")
        .as[(Long, Long, Long, String, Boolean)]
        .map { case (seq, k, id, v, del) =>
          // -1 is the outer routes' pad-sentinel id: a live row carrying
          // it would be misread as a pad by the denull conversion below
          // — fail loudly (the cascade route enforces the same contract)
          if ((lo || ro) && id == -1L)
            throw new IllegalStateException(
              "changelog feed id -1 is reserved for outer-join pad " +
                "sentinels and cannot be a live row identity in an " +
                "outer continuous join")
          (seq, StatefulOps.JoinEvent(k, isLeft, id, v, del))
        }
      val raw = StatefulOps
        .changelogJoinStream(feed(lt, true).union(feed(rt, false)), lo, ro)
        .toDF()
      // the operator pads an unmatched row's opposite side with the
      // (-1, null) sentinel (a case-class Long cannot hold null); the
      // FACADE's maintained view is SQL, where a pad is a NULL row — so
      // the sentinel converts to true NULLs here, making `b.id IS NULL`
      // anti-joins and null-skipping COUNT/MIN/MAX over the padded side
      // behave like SQL (r10 review finding). A pad is exactly
      // (id == -1 AND value IS NULL) on its side: -1 is the wire's
      // reserved pad id, never a row identity.
      val deltas = {
        import org.apache.spark.sql.functions.{col, lit, when}
        def denull(idc: String, vc: String)(df: DataFrame): DataFrame =
          df.withColumn(idc,
            when(col(idc) === -1L && col(vc).isNull, lit(null).cast("long"))
              .otherwise(col(idc)))
        var d = raw
        if (lo) d = denull("right_id", "right_value")(d) // left outer pads RIGHT
        if (ro) d = denull("left_id", "left_value")(d)
        d
      }
      // view-column resolution: unqualified names hit the view columns
      // directly; alias-qualified names map id/value/key onto their side
      val resolve: UnresolvedAttribute => Option[Int] = attr => {
        val colName = attr.nameParts match {
          case Seq(c) if JoinViewCols.contains(c) => Some(c)
          case Seq(q, c) if q == la || q == ra =>
            val side = if (q == la) "left" else "right"
            c match {
              case "key" => Some("key")
              case "id" => Some(s"${side}_id")
              case "value" => Some(s"${side}_value")
              case _ => None
            }
          case _ => None
        }
        colName.map(JoinViewCols.indexOf)
      }
      DeltaSource(deltas, JoinViewCols,
        Seq(LongType, LongType, StringType, LongType, StringType), resolve)
    }
  }

  /** Match a LEFT-DEEP chain of ≥3 changelog feeds INNER-joined on ONE
    * shared key (`a JOIN b ON a.key = b.key JOIN c ON b.key = c.key …`)
    * and build the N-way IVM join
    * ([[graft.streaming.StatefulOps.changelogMultiJoinStream]]) over the
    * union of all feeds. Sharing the key keeps all sides' live rows in
    * one keyed state entry — each change emits its exact cross-side
    * delta in one pass, with no intermediate retraction stream to
    * re-shuffle. View columns: `key`, then `<alias>_id`/`<alias>_value`
    * per side in join order. */
  private def matchFeedChain(j: Join): Option[DeltaSource] =
    for {
      (rels, conds) <- flattenInnerJoins(j)
      if rels.length >= 3
      infos <- sequenceOpts(rels.map(relInfo))
      aliases = infos.map(_._2)
      if aliases.distinct.length == aliases.length
      // condition i must equate the NEW side's key with some PREVIOUS
      // side's key — the whole chain shares one join key
      if conds.zipWithIndex.forall { case (c, i) =>
        aliases.take(i + 1).exists(prev => keyEquality(c, prev, aliases(i + 1)))
      }
      feeds <- sequenceOpts(infos.map { case (n, _) => changelogFeed(n) })
    } yield chainSource(feeds, aliases)

  /** The same-key INNER N-way join of `feeds` (n ≥ 2) as a delta source:
    * view columns `key`, then `<alias>_id`/`<alias>_value` per side. */
  private def chainSource(feeds: Seq[DataFrame],
                          aliases: Seq[String]): DeltaSource = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, element_at}
    val n = feeds.length
    val unioned = feeds.zipWithIndex.map { case (t, i) =>
      t.select("seq", "key", "id", "value", "delete")
        .as[(Long, Long, Long, String, Boolean)]
        .map { case (seq, k, id, v, del) =>
          (seq, StatefulOps.MultiJoinEvent(k, i, id, v, del))
        }
    }.reduce(_ union _)
    val multi = StatefulOps.changelogMultiJoinStream(unioned, n).toDF()
    val sideCols = aliases.zipWithIndex.flatMap { case (al, i) =>
      Seq(element_at(col("ids"), i + 1).as(s"${al}_id"),
        element_at(col("values"), i + 1).as(s"${al}_value"))
    }
    val deltas = multi.select((col("op") +: col("key") +: sideCols): _*)
    val viewCols =
      "key" +: aliases.flatMap(al => Seq(s"${al}_id", s"${al}_value"))
    val types: Seq[DataType] =
      LongType +: aliases.flatMap(_ => Seq[DataType](LongType, StringType))
    val resolve: UnresolvedAttribute => Option[Int] = a => {
      val colName = a.nameParts match {
        case Seq(c) if viewCols.contains(c) => Some(c)
        case Seq(q, "key") if aliases.contains(q) => Some("key")
        case Seq(q, "id") if aliases.contains(q) => Some(s"${q}_id")
        case Seq(q, "value") if aliases.contains(q) => Some(s"${q}_value")
        case _ => None
      }
      colName.map(viewCols.indexOf)
    }
    DeltaSource(deltas, viewCols, types, resolve)
  }

  /** Extend a delta source with a broadcast STATIC dim, INNER-joined on
    * the view's `key`: the static side never changes, so a `+I` delta
    * joins to `+I` rows and a `-D` to the identical `-D` rows —
    * retractions cancel exactly. Dim columns append to the view by
    * name; a dim column shadowing an existing view column rejects
    * loudly with a rename hint (the view would be ambiguous and the
    * shape HAS matched). */
  private def attachStatic(ds: DeltaSource, sAlias: String,
      static: DataFrame, jcol: String, sql: String): DeltaSource = {
    import org.apache.spark.sql.functions.broadcast
    val staticCols = static.schema.fieldNames.toSeq
    val clash = staticCols.filter(c => (ds.viewCols :+ "op").contains(c))
    if (clash.nonEmpty)
      unsupported(sql, s"static table $sAlias columns " +
        s"${clash.mkString(", ")} shadow maintained-view columns — " +
        "rename them (e.g. SELECT them under aliases into a temp view)")
    val joined = ds.deltas
      .join(broadcast(static), ds.deltas("key") === static(jcol), "inner")
      .select((("op" +: ds.viewCols).map(ds.deltas(_)) ++
        staticCols.map(static(_))): _*)
    val resolve: UnresolvedAttribute => Option[Int] = a => {
      a.nameParts match {
        case Seq(q, c) if q == sAlias && staticCols.contains(c) =>
          Some(ds.viewCols.length + staticCols.indexOf(c))
        case Seq(c) if staticCols.contains(c) && !ds.viewCols.contains(c) =>
          Some(ds.viewCols.length + staticCols.indexOf(c))
        case _ => ds.resolve(a)
      }
    }
    DeltaSource(joined, ds.viewCols ++ staticCols,
      ds.types ++ staticCols.map(c => static.schema(c).dataType), resolve)
  }

  /** Match a left-deep all-INNER tree mixing changelog feeds (a
    * same-key group) with one or more broadcast static dims — the
    * enrichment statement (`a JOIN b ON a.key = b.key JOIN dims d ON
    * a.key = d.k …`) the pure-feed and single-dim matchers above do not
    * cover. The FIRST leaf must be a feed (fact first, dims after);
    * every further feed must key-equate with a previous feed, and every
    * dim must equate some previous feed's `key` with one of its own
    * integral columns. INNER only: a pad over a static side cannot
    * transition, and outer feed-sides belong to the 2-way matcher. */
  private def matchFeedTree(j: Join, sql: String): Option[DeltaSource] = {
    val (rels, conds) = flattenInnerJoins(j).getOrElse(return None)
    if (rels.length < 2) return None
    val infos = rels.map(relInfo)
    if (infos.exists(_.isEmpty)) return None
    val classified: Seq[(String, Either[DataFrame, DataFrame])] =
      infos.map(_.get).map { case (n, a) =>
        changelogFeed(n) match {
          case Some(f) => (a, Left(f))
          case None => staticTable(n) match {
            case Some(st) => (a, Right(st))
            case None => return None
          }
        }
      }
    val aliases = classified.map(_._1)
    if (aliases.distinct.length != aliases.length) return None
    val feedLeaves = classified.collect { case (a, Left(f)) => (a, f) }
    val staticLeaves = classified.collect { case (a, Right(st)) => (a, st) }
    // pure-feed trees and single-feed⋈single-dim (incl. outer) belong to
    // the earlier matchers; this one exists for the MIXED shapes
    if (feedLeaves.isEmpty || staticLeaves.isEmpty) return None
    if (!classified.head._2.isLeft) return None // fact first
    val staticJoinCol = mutable.Map.empty[String, String]
    conds.zipWithIndex.foreach { case (c, i) =>
      val prefixFeeds = classified.take(i + 1)
        .collect { case (a, Left(_)) => a }
      classified(i + 1) match {
        case (na, Left(_)) =>
          if (!prefixFeeds.exists(pa => keyEquality(c, pa, na))) return None
        case (na, Right(st)) =>
          val cols = st.schema.fieldNames.toSet
          val jc: Option[String] = c match {
            case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
              def feedKey(x: UnresolvedAttribute): Boolean = x.nameParts match {
                case Seq(q, "key") => prefixFeeds.contains(q)
                case _ => false
              }
              def stCol(x: UnresolvedAttribute): Option[String] =
                x.nameParts match {
                  case Seq(q, col) if q == na && cols.contains(col) => Some(col)
                  case _ => None
                }
              if (feedKey(a)) stCol(b)
              else if (feedKey(b)) stCol(a)
              else None
            case _ => None
          }
          jc match {
            case Some(col) if kindOf(st.schema(col).dataType) == Some(LongK) =>
              staticJoinCol(na) = col
            case _ => return None
          }
      }
    }
    var ds =
      if (feedLeaves.length == 1)
        singleFeedSource(feedLeaves.head._2, feedLeaves.head._1)
      else chainSource(feedLeaves.map(_._2), feedLeaves.map(_._1))
    staticLeaves.foreach { case (a, st) =>
      ds = attachStatic(ds, a, st, staticJoinCol(a), sql)
    }
    Some(ds)
  }

  /** Match `feed [AS a] JOIN dim [AS s] ON a.key = s.<col>` — a
    * changelog feed equi-joined to a registered BATCH table. Because the
    * static side never changes, IVM is a stream-static join of the
    * feed's retraction deltas: a `+I` delta joins to `+I` rows, a `-D`
    * to the identical `-D` rows, so retractions cancel exactly. The
    * static side is broadcast (the dimension-table contract — at 100 TB
    * the fact side is the feed; a dim too big to broadcast belongs in a
    * second feed). INNER either way around; outer only on the FEED side
    * (LEFT with the feed left / RIGHT with the feed right): pads are
    * stable because the static side never gains or loses rows, whereas a
    * static-side outer would need pad transitions only a feed delta
    * could drive, so it does not route. */
  private def matchFeedStatic(j: Join, sql: String): Option[DeltaSource] = {
    val li = relInfo(j.left); val ri = relInfo(j.right)
    if (li.isEmpty || ri.isEmpty || j.condition.isEmpty) return None
    val (ln, la) = li.get; val (rn, ra) = ri.get
    val arranged = (changelogFeed(ln), changelogFeed(rn)) match {
      case (Some(f), None) => staticTable(rn).flatMap { st =>
        j.joinType match {
          case Inner => Some((f, la, st, ra, false))
          case LeftOuter => Some((f, la, st, ra, true))
          case _ => None
        }
      }
      case (None, Some(f)) => staticTable(ln).flatMap { st =>
        j.joinType match {
          case Inner => Some((f, ra, st, la, false))
          case RightOuter => Some((f, ra, st, la, true))
          case _ => None
        }
      }
      case _ => None // feed⋈feed handled by the 2-way/chain matchers
    }
    val (feed, fAlias, static, sAlias, feedOuter) =
      arranged.getOrElse(return None)
    val staticCols = static.schema.fieldNames.toSeq
    val jcol: String = j.condition.get match {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        def feedKey(x: UnresolvedAttribute) = x.nameParts == Seq(fAlias, "key")
        def staticCol(x: UnresolvedAttribute): Option[String] =
          x.nameParts match {
            case Seq(q, c) if q == sAlias && staticCols.contains(c) => Some(c)
            case _ => None
          }
        (if (feedKey(a)) staticCol(b)
         else if (feedKey(b)) staticCol(a)
         else None).getOrElse(return None)
      case _ => return None
    }
    // the feed's key is a long: the static join column must be integral
    if (kindOf(static.schema(jcol).dataType) != Some(LongK)) return None
    // the view's columns are the feed's three plus the dim's, by name —
    // a dim column shadowing op/key/id/value would make the view
    // ambiguous, and the shape HAS matched, so reject loudly (rename the
    // dim column) rather than fall through to a mis-evaluating route
    val clash = staticCols.filter(c => (FeedViewCols :+ "op").contains(c))
    if (clash.nonEmpty)
      unsupported(sql, s"static table $sAlias columns ${clash.mkString(", ")} " +
        "shadow the maintained view's op/key/id/value — rename them " +
        "(e.g. SELECT them under aliases into a temp view) to join a feed")
    import org.apache.spark.sql.functions.broadcast
    val fd = upsertDeltas(feed)
    val joined = fd
      .join(broadcast(static), fd("key") === static(jcol),
        if (feedOuter) "left_outer" else "inner")
      .select((Seq("op", "key", "id", "value").map(fd(_)) ++
        staticCols.map(static(_))): _*)
    val viewCols = FeedViewCols ++ staticCols
    val types = FeedViewTypes ++ staticCols.map(c => static.schema(c).dataType)
    val resolve: UnresolvedAttribute => Option[Int] = a => {
      val colName = a.nameParts match {
        case Seq(c) if viewCols.count(_ == c) == 1 => Some(c)
        case Seq(q, c) if q == fAlias && FeedViewCols.contains(c) => Some(c)
        case Seq(q, c) if q == sAlias && staticCols.contains(c) => Some(c)
        case _ => None
      }
      colName.map(viewCols.indexOf)
    }
    Some(DeltaSource(joined, viewCols, types, resolve))
  }

  /** Match a left-deep tree of changelog feeds joined on DIFFERENT
    * keys (`a JOIN b ON a.key = b.key [LEFT] JOIN c ON b.id = c.key …`)
    * — the shape the same-key chain cannot keep in one keyed state
    * entry — and build it as a CASCADE of Z-set binary joins
    * ([[graft.streaming.StatefulOps.zJoinStream]]), one per stage, each
    * keyed (shuffled) by its own join column: exactly how Flink plans a
    * multi-way continuous join as two-input joins. Every condition must
    * equate the NEW feed's `key` with a previous feed's `key` or `id`
    * (the view's long columns); stage i's left input is stage i−1's
    * emitted delta stream. Stages may be INNER, LEFT, RIGHT, or FULL
    * OUTER — the preserved side's rows survive null-padded (the Z-set
    * pad algebra), and the facade converts the operator's (-1, null)
    * pad sentinels into true SQL NULLs on the padded side's columns.
    * View columns: `<alias>_key` / `<alias>_id` / `<alias>_value` per
    * side in join order (keys differ per side, so unlike the same-key
    * chain there is no shared `key` column). */
  private def matchFeedCascade(j: Join): Option[DeltaSource] =
    for {
      (rels, conds) <- flattenCascadeJoins(j)
      if rels.length >= 2
      infos <- sequenceOpts(rels.map(relInfo))
      aliases = infos.map(_._2)
      if aliases.distinct.length == aliases.length
      feeds <- sequenceOpts(infos.map { case (n, _) => changelogFeed(n) })
      refs <- sequenceOpts(conds.zipWithIndex.map { case ((c, jt), i) =>
        cascadeRef(c, aliases.take(i + 1), aliases(i + 1)).map {
          case (aIdx, isKey) =>
            (aIdx, isKey, jt == LeftOuter || jt == FullOuter,
              jt == RightOuter || jt == FullOuter)
        }
      })
    } yield cascadeSource(feeds, aliases, refs)

  /** Flatten a LEFT-DEEP tree of INNER/LEFT/RIGHT/FULL joins into
    * (leaves, per-stage (condition, joinType)) — the cascade's shape. */
  private def flattenCascadeJoins(p: LogicalPlan)
      : Option[(Seq[LogicalPlan], Seq[(Expression,
        org.apache.spark.sql.catalyst.plans.JoinType)])] = p match {
    case jj: Join if jj.joinType == Inner || jj.joinType == LeftOuter ||
        jj.joinType == RightOuter || jj.joinType == FullOuter =>
      for {
        c <- jj.condition
        (rels, conds) <- flattenCascadeJoins(jj.left)
      } yield (rels :+ jj.right, conds :+ ((c, jj.joinType)))
    case rel => Some((Seq(rel), Nil))
  }

  /** `<new>.key = <prev>.key|id` → (previous-side alias index, isKey). */
  private def cascadeRef(cond: Expression, prev: Seq[String],
      na: String): Option[(Int, Boolean)] = cond match {
    case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
      def newKey(x: UnresolvedAttribute) = x.nameParts == Seq(na, "key")
      def prevRef(x: UnresolvedAttribute): Option[(Int, Boolean)] =
        x.nameParts match {
          case Seq(q, "key") if prev.contains(q) => Some((prev.indexOf(q), true))
          case Seq(q, "id") if prev.contains(q) => Some((prev.indexOf(q), false))
          case _ => None
        }
      if (newKey(a)) prevRef(b)
      else if (newKey(b)) prevRef(a)
      else None
    case _ => None
  }

  private def cascadeSource(feeds: Seq[DataFrame], aliases: Seq[String],
      refs: Seq[(Int, Boolean, Boolean, Boolean)]): DeltaSource = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, element_at, lit, when}
    import graft.streaming.StatefulOps.{ZDelta, ZEvent, ZRow}
    // -1 is the cascade's OUTER-pad sentinel, so the reservation only
    // binds when the cascade actually HAS an outer stage — an all-INNER
    // cascade never emits pads, and -1 is a legal domain value there
    // (the two-feed route draws the same line); guarding unconditionally
    // would kill a RUNNING inner cascade mid-stream for a legal row
    val anyOuter = refs.exists(r => r._3 || r._4)
    def feedDeltas(t: DataFrame): org.apache.spark.sql.Dataset[ZDelta] =
      upsertDeltas(t).as[(Int, Long, Long, String)].map {
        case (op, k, id, v) =>
          // a live row carrying the pad sentinel would be misread as a
          // pad in the served view, or join pad rows at a later stage
          // where SQL NULL matches nothing — fail loudly
          if (anyOuter && (k == -1L || id == -1L))
            throw new IllegalStateException(
              "changelog feed key/id -1 is reserved for outer-join pad " +
                "sentinels and cannot be a live row identity in an " +
                "outer join cascade")
          ZDelta(op, ZRow(Seq(k), Seq(id), Seq(v)))
      }
    var acc = feedDeltas(feeds.head)
    refs.zipWithIndex.foreach { case ((aIdx, isKey, lo, ro), i) =>
      val left = acc.map { d =>
        ZEvent(if (isKey) d.row.keys(aIdx) else d.row.ids(aIdx), true,
          d.row, if (d.op == 0) 1 else -1)
      }
      val right = feedDeltas(feeds(i + 1)).map { d =>
        ZEvent(d.row.keys.head, false, d.row, if (d.op == 0) 1 else -1)
      }
      acc = StatefulOps.zJoinStream(left.union(right), leftOuter = lo,
        rightOuter = ro, leftArity = i + 1, rightArity = 1)
    }
    val sideCols = aliases.zipWithIndex.flatMap { case (al, i) =>
      val key = element_at(col("row.keys"), i + 1)
      val id = element_at(col("row.ids"), i + 1)
      val value = element_at(col("row.values"), i + 1)
      if (!anyOuter)
        Seq(key.as(s"${al}_key"), id.as(s"${al}_id"), value.as(s"${al}_value"))
      else {
        // a pad is exactly (id == -1 AND value IS NULL) on its side —
        // -1 is the wire's reserved pad id, never a row identity — and
        // surfaces as true SQL NULLs in the facade view (the
        // matchFeedJoin2 denull convention)
        val isPad = id === -1L && value.isNull
        Seq(when(isPad, lit(null).cast("long")).otherwise(key).as(s"${al}_key"),
          when(isPad, lit(null).cast("long")).otherwise(id).as(s"${al}_id"),
          value.as(s"${al}_value"))
      }
    }
    val deltas = acc.toDF().select((col("op") +: sideCols): _*)
    val viewCols = aliases.flatMap(al =>
      Seq(s"${al}_key", s"${al}_id", s"${al}_value"))
    val types: Seq[DataType] = aliases.flatMap(_ =>
      Seq[DataType](LongType, LongType, StringType))
    val resolve: UnresolvedAttribute => Option[Int] = a => {
      val colName = a.nameParts match {
        case Seq(c) if viewCols.contains(c) => Some(c)
        case Seq(q, "key") if aliases.contains(q) => Some(s"${q}_key")
        case Seq(q, "id") if aliases.contains(q) => Some(s"${q}_id")
        case Seq(q, "value") if aliases.contains(q) => Some(s"${q}_value")
        case _ => None
      }
      colName.map(viewCols.indexOf)
    }
    DeltaSource(deltas, viewCols, types, resolve)
  }

  /** All continuous-join shapes, most specific first: the same-key
    * single-operator forms, then the static-dim forms, then the
    * different-key cascade. */
  private def matchJoinSource(j: Join, sql: String): Option[DeltaSource] =
    matchFeedJoin2(j)
      .orElse(matchFeedChain(j))
      .orElse(matchFeedStatic(j, sql))
      .orElse(matchFeedTree(j, sql))
      .orElse(matchFeedCascade(j))

  /** A matched continuous source for ANY FROM shape — the one dispatch
    * every route goes through (so a new source shape lands everywhere
    * at once): joins through the join matchers, projected subqueries /
    * inlined CTE bodies through the projection matcher, plain relations
    * through the single-feed matcher. */
  private def matchSource(p: LogicalPlan, sql: String): Option[DeltaSource] =
    p match {
      case j: Join => matchJoinSource(j, sql)
      case sa @ SubqueryAlias(id, child) =>
        matchSingleFeed(sa).orElse(
          matchProjectedPlan(child, sql).map(aliased(_, id.name)))
      case pj: Project => matchProjectedPlan(pj, sql)
      case rel => matchSingleFeed(rel)
    }

  /** Re-qualify a delta source under a subquery alias: `v.col` resolves
    * wherever bare `col` does (the inner source's own qualifiers keep
    * working — a CTE body's aliases stay visible only inside it, which
    * matches SQL scoping since the outer query can only name `v`). */
  private def aliased(ds: DeltaSource, alias: String): DeltaSource =
    ds.copy(resolve = a => ds.resolve(a).orElse(a.nameParts match {
      // case-INSENSITIVE, like every other identifier in this resolver
      // (and Catalyst's default): `SELECT V.x FROM (…) v` must serve the
      // projected view, not silently fall back to the append route
      case Seq(q, rest @ _*) if q.equalsIgnoreCase(alias) && rest.nonEmpty =>
        ds.resolve(UnresolvedAttribute(rest))
      case _ => None
    }))

  /** `(SELECT <scalar items> FROM <source> [WHERE …])` — a subquery (or
    * inlined CTE body) over matched feed source(s) as a PROJECTED delta
    * source: deterministic scalar projections commute with retraction
    * (a row's +I and its -D project identically), so projecting the
    * delta stream IS projecting the view — the r10 projected-view proof,
    * now composable under any route (aggregates included: the demo3
    * shape). `SELECT *` passes the inner source through. Quiet None on
    * anything the projection cannot serve faithfully (stars mixed with
    * items, unresolvable columns, non-determinism): a feed-touching
    * AGGREGATE over it still rejects loudly downstream via routeAgg's
    * referencesFeed check, and a bare SELECT keeps the append route's
    * visible wire form. */
  private def matchProjectedPlan(p: LogicalPlan,
      sql: String): Option[DeltaSource] = {
    def items(projList: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression])
        : Option[Seq[(String, Expression)]] =
      sequenceOpts(projList.map {
        case a: UnresolvedAttribute => Some((a.nameParts.last, a: Expression))
        case Alias(child, n) => Some((n, child))
        case _ => None
      })
    // QUIET filter: inside a subquery, a WHERE the view cannot serve
    // (wire columns like `delete`, non-determinism) must fall through —
    // the default append route serves the statement with the explicit
    // delete column visible, exactly as it did before subqueries routed.
    // (The TOP-level `SELECT * FROM <source> WHERE …` keeps filterDeltas'
    // loud contract — there the source has already matched.)
    def quiet(ds: DeltaSource, cond: Expression): Option[DeltaSource] =
      try Some(filterDeltas(ds, cond, sql))
      catch { case _: UnsupportedContinuousStatement => None }
    p match {
      case Project(Seq(UnresolvedStar(None)), Filter(cond, src)) =>
        matchSource(src, sql).flatMap(quiet(_, cond))
      case Project(Seq(UnresolvedStar(None)), src) => matchSource(src, sql)
      case Project(projList, Filter(cond, src)) =>
        for {
          ds <- matchSource(src, sql)
          fds <- quiet(ds, cond)
          is <- items(projList)
          out <- projectSource(fds, is)
        } yield out
      case Project(projList, src) =>
        for {
          ds <- matchSource(src, sql)
          is <- items(projList)
          out <- projectSource(ds, is)
        } yield out
      case _ => None
    }
  }

  /** Project a delta source through deterministic scalar expressions,
    * EXECUTOR-side (Catalyst's full scalar algebra, codegen'd): each
    * item rewrites its unresolved attributes onto the delta columns and
    * the projected frame's analyzed schema supplies the new view types.
    * None when an attribute does not resolve, an output name collides
    * (with `op` or another item), analysis fails, or any projection is
    * non-deterministic (a non-deterministic projection cannot commute
    * with retraction). */
  private def projectSource(ds: DeltaSource,
      items: Seq[(String, Expression)]): Option[DeltaSource] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val outNames = items.map(_._1)
    if (outNames.contains("op")) return None
    var ok = true
    def rewrite(e: Expression): Expression = e.transform {
      case a: UnresolvedAttribute => ds.resolve(a) match {
        case Some(i) => ColumnBridge.expression(ds.deltas(ds.viewCols(i)))
        case None => ok = false; a
      }
    }
    val exprs = items.map { case (n, e) => (n, rewrite(e)) }
    if (!ok) return None
    try {
      val projected = ds.deltas.select((ds.deltas("op") +: exprs.map {
        case (n, e) => ColumnBridge.column(e).as(n)
      }): _*)
      val deterministic = projected.queryExecution.analyzed.collect {
        case pr: Project => pr.projectList.forall(_.deterministic)
        case f: Filter => f.condition.deterministic
      }.forall(identity)
      if (!deterministic) None
      else {
        val types = projected.schema.fields.drop(1).map(_.dataType).toSeq
        // duplicate output names are servable AS A VIEW (r10's projected
        // route served `SELECT a.id, b.id` — Spark selects carry
        // duplicate names fine) but are AMBIGUOUS to reference: the
        // resolver answers only names that occur exactly once, so a
        // downstream aggregate over the duplicate rejects loudly via its
        // own unresolved-column path instead of picking one silently
        val resolve: UnresolvedAttribute => Option[Int] = a =>
          a.nameParts match {
            case Seq(c) if outNames.count(_ == c) == 1 =>
              Some(outNames.indexOf(c))
            case _ => None
          }
        Some(DeltaSource(projected, outNames, types, resolve))
      }
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }
  }

  /** Flatten a LEFT-DEEP all-INNER join tree into (leaves, conditions):
    * conds(i) joins leaves(i+1) to the prefix — shared by the chain and
    * tree matchers so they always agree on which plans flatten. */
  private def flattenInnerJoins(p: LogicalPlan)
      : Option[(Seq[LogicalPlan], Seq[Expression])] = p match {
    case jj: Join if jj.joinType == Inner =>
      for {
        c <- jj.condition
        (rels, conds) <- flattenInnerJoins(jj.left)
      } yield (rels :+ jj.right, conds :+ c)
    case rel => Some((Seq(rel), Nil))
  }

  private def sequenceOpts[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

  /** Recognize the continuous-statement shapes that need EXACT RETRACTION
    * semantics the default `spark.sql` route cannot express, and run them
    * through the IVM operators:
    *  - `SELECT * FROM <source> [WHERE <pred>]` where the source is a
    *    feed, a two-feed equi-join (INNER/LEFT/RIGHT/FULL), a same-key
    *    INNER chain of ≥3 feeds, or a feed ⋈ static-table equi-join —
    *    the (optionally filtered) maintained view
    *  - `SELECT <groups>, <aliased aggs> FROM <source> [WHERE …]
    *    GROUP BY … [HAVING …]` (grouped or UNGROUPED incremental fold —
    *    COUNT/SUM/AVG/MIN/MAX — over the view's deltas)
    *  - `SELECT DISTINCT <cols> FROM <source>` (the zero-aggregate fold)
    *  - `… ORDER BY <col> [DESC] LIMIT k` over a feed's `SELECT *` or
    *    over any GROUP BY above (the maintained top-k / aggregate
    *    leaderboard — Flink's Top-N)
    * Parsing is Catalyst's own (`sessionState.sqlParser`), not regex. SQL
    * whose relations are not changelog feeds falls through to the default
    * route untouched; an AGGREGATE whose FROM references feeds but whose
    * shape no route matches is rejected loudly
    * ([[UnsupportedContinuousStatement]]) — the default route would
    * silently mis-evaluate it. Non-aggregate projections over feeds still
    * fall through: the raw wire rows they serve carry the explicit
    * `delete` column, so nothing is silently misread. */
  private def tryContinuousStatement(sql: String, name: String,
      properties: Map[String, String] = Map.empty): Option[Statement] = {
    val parsed =
      try spark.sessionState.sqlParser.parsePlan(sql)
      catch { case _: Exception => return None }
    routePlan(parsed, sql, name, properties)
  }

  /** Inline non-recursive CTE bodies at their reference sites — the
    * facade's own CTESubstitution: later CTEs may reference earlier ones
    * (Catalyst's left-to-right scoping), so each body resolves against
    * the prefix before the main query substitutes. The inlined plan is
    * the demo3 shape: `WITH v AS (SELECT <exprs> FROM feed) SELECT …
    * FROM v GROUP BY …` becomes an Aggregate over a SubqueryAlias'd
    * projection of the feed, which the projected-source matcher serves. */
  private def inlineCtes(plan: LogicalPlan,
      ctes: Seq[(String, SubqueryAlias)]): LogicalPlan = {
    val resolved = ctes.foldLeft(Vector.empty[(String, LogicalPlan)]) {
      case (acc, (n, sa)) => acc :+ (n -> substituteCtes(sa, acc))
    }
    substituteCtes(plan, resolved)
  }

  private def substituteCtes(p: LogicalPlan,
      ctes: Seq[(String, LogicalPlan)]): LogicalPlan =
    p.transformUp {
      case u: UnresolvedRelation if u.multipartIdentifier.length == 1 =>
        ctes.find(_._1.equalsIgnoreCase(u.multipartIdentifier.head))
          .map(_._2).getOrElse(u)
    }

  private def routePlan(parsed: LogicalPlan, sql: String, name: String,
      properties: Map[String, String]): Option[Statement] = {
    parsed match {
      // WITH <name> AS (…) …: inline the CTE bodies and route the
      // resulting plan — the reference's own demo3 statement is a CTE
      // projecting CASE/CAST expressions over the feed, aggregated by
      // the projected column. Recursive/nested WITH keeps the default
      // route (q45's recursive CTE is a batch shape).
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith
          if !w.allowRecursion =>
        val ctes = w.cteRelations.map { case (n, sa, _) => (n, sa) }
        val nested = (w.child +: ctes.map(_._2: LogicalPlan)).exists(_.exists {
          case _: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith => true
          case _ => false
        })
        if (nested) None
        else routePlan(inlineCtes(w.child, ctes), sql, name, properties)
      // ONLY the exact `SELECT * FROM <join> …` shape routes here: the
      // statement serves the full maintained-view columns, so a narrowing
      // projection must NOT silently get the wide view — any other shape
      // falls through to the default route and keeps Spark's own semantics
      case Project(Seq(UnresolvedStar(None)), j: Join) =>
        matchJoinSource(j, sql).map(viewStatement(_, sql, name, properties))
      case j: Join =>
        matchJoinSource(j, sql).map(viewStatement(_, sql, name, properties))
      // `SELECT * FROM <source> WHERE <pred>` — the FILTERED maintained
      // view: a deterministic row predicate passes a row's +I and its -D
      // identically, so filtering the DELTA STREAM is filtering the view.
      // The predicate rewrites onto the delta columns and runs
      // EXECUTOR-side (full Spark predicate algebra, codegen'd) — rows
      // the view rejects never reach the driver at all
      case Project(Seq(UnresolvedStar(None)), Filter(cond, src)) =>
        matchSource(src, sql).map(ds =>
          viewStatement(filterDeltas(ds, cond, sql), sql, name, properties))
      // `SELECT * FROM <source>` — over a single changelog feed this
      // serves the MAINTAINED VIEW's changelog (upsert retracts, delete
      // removes; the default route would append raw wire events, serving
      // delete markers as data rows); over a projected subquery / CTE
      // body it serves that PROJECTED view (matchSource composes)
      case Project(Seq(UnresolvedStar(None)), rel) =>
        matchSource(rel, sql).map(viewStatement(_, sql, name, properties))
      // `SELECT * FROM feedA UNION ALL SELECT * FROM feedB [UNION ALL …]`
      // — the maintained MULTISET union of feed views: the same id in
      // two feeds is two independent rows, so the state keys by
      // (feed index, id) inside ONE stateful operator (one keyed state
      // pass instead of N operator stages — the union needs no
      // cross-side state, unlike the join cascade) and the
      // consumer's counting collapse carries cross-view multiplicity.
      // Non-feed children (join views etc.) fall through for the same
      // single-operator reason; UNION DISTINCT parses as Distinct(Union)
      // and falls through to the default route's loud rejection.
      case u: org.apache.spark.sql.catalyst.plans.logical.Union
          if !u.byName =>
        val feedsOpt = u.children.map {
          case Project(Seq(UnresolvedStar(None)), rel) =>
            relInfo(rel).flatMap { case (n, _) => changelogFeed(n) }
          case _ => None
        }
        if (feedsOpt.exists(_.isEmpty)) None
        else {
          import spark.implicits._
          val unioned = feedsOpt.map(_.get).zipWithIndex.map { case (t, i) =>
            t.select("seq", "key", "id", "value", "delete")
              .as[(Long, Long, Long, String, Boolean)]
              .map { case (seq, k, id, v, del) =>
                (seq, i, StatefulOps.UpsertEvent(k, id, v, del))
              }
          }.reduce(_ union _)
          val deltas =
            StatefulOps.changelogUnionUpsertStream(unioned).toDF()
          Some(viewStatement(
            DeltaSource(deltas, FeedViewCols, FeedViewTypes, _ => None),
            sql, name, properties))
        }
      // the composed continuous statement a reference user writes next:
      // JOIN → [WHERE] → GROUP BY in one statement (Flink-the-service
      // maintains it as one changelog; `spark.sql` alone cannot — a
      // stream-stream join feeding an aggregate is rejected without
      // watermarks, and even the watermarked form never retracts). A
      // WHERE between them is sound on the retraction stream: a
      // deterministic row predicate passes or rejects a joined row
      // identically on its +I and its -D, so filtering the deltas
      // equals filtering the view.
      case agg: Aggregate => routeAgg(agg, None, sql, name, properties)
      // HAVING filters the AGGREGATE view: applied to the fold's emitted
      // snapshot, so a group crossing the boundary emits the -D / +I the
      // changelog wire expects (the complete-mode-diff transition)
      case h: UnresolvedHaving =>
        h.child match {
          case agg: Aggregate =>
            routeAgg(agg, Some(h.havingCondition), sql, name, properties)
          // HAVING over an UNGROUPED aggregate: the child parses as a
          // Project (same parser gap as below)
          case p: Project if hasAggFunction(p.projectList) =>
            routeAgg(Aggregate(Nil, p.projectList, p.child, None),
              Some(h.havingCondition), sql, name, properties)
          case _ => None
        }
      // an UNGROUPED aggregate (`SELECT count(*) AS c FROM feed`) parses
      // as a plain Project — the parser cannot know count() aggregates;
      // this is the same rewrite Catalyst's GlobalAggregates rule makes
      // at analysis time
      case p: Project if hasAggFunction(p.projectList) =>
        routeAgg(Aggregate(Nil, p.projectList, p.child, None), None,
          sql, name, properties)
      // SELECT DISTINCT <cols> FROM <source> ≡ GROUP BY those columns
      // with no aggregates — the membership fold (rows live while their
      // multiplicity is positive)
      case Distinct(Project(projList, rel))
          if !projList.exists(_.isInstanceOf[UnresolvedStar]) =>
        routeAgg(Aggregate(projList, projList, rel, None), None,
          sql, name, properties)
      // `SELECT <scalar projections> FROM <source> [WHERE …]`: the
      // PROJECTED maintained view — a deterministic projection commutes
      // with retraction (a row's +I and its -D project identically), so
      // projecting the delta stream IS projecting the view, multiset
      // semantics included (the consumer's collapse counts equal rows).
      // Non-deterministic projections (demo1's RAND jitter is the
      // reference's own example), unresolvable items, and unservable
      // WHEREs keep the default APPEND route, whose raw wire rows carry
      // the explicit delete column — visible, not silently misread.
      // (One machinery with the FROM-subquery route: matchProjectedPlan.)
      case pj @ Project(projList, _)
          if !projList.exists(_.isInstanceOf[UnresolvedStar]) =>
        matchProjectedPlan(pj, sql).map(viewStatement(_, sql, name, properties))
      // ORDER BY <col> [ASC|DESC] LIMIT k — the continuously-maintained
      // top-k (Flink's Top-N operator): over `SELECT * FROM feed` it
      // serves the feed's top rows; over a GROUP BY (with or without
      // HAVING, grouped or ungrouped) it serves the AGGREGATE
      // leaderboard — groups crossing the k-boundary emit +I / -D
      case GlobalLimit(Literal(k: Int, IntegerType),
          LocalLimit(_, Sort(Seq(order), true, child, _))) =>
        child match {
          // filtered top-k first: the bare pattern below would swallow
          // the Filter as its source otherwise
          case Project(Seq(UnresolvedStar(None)), Filter(cond, src)) =>
            matchSource(src, sql).map(ds =>
              topKViewStatement(filterDeltas(ds, cond, sql),
                order, k, sql, name, properties))
          case Project(Seq(UnresolvedStar(None)), src) =>
            matchSource(src, sql)
              .map(topKViewStatement(_, order, k, sql, name, properties))
          case agg: Aggregate =>
            routeAgg(agg, None, sql, name, properties, Some((order, k)))
          case h: UnresolvedHaving => h.child match {
            case agg: Aggregate =>
              routeAgg(agg, Some(h.havingCondition), sql, name, properties,
                Some((order, k)))
            case p: Project if hasAggFunction(p.projectList) =>
              routeAgg(Aggregate(Nil, p.projectList, p.child, None),
                Some(h.havingCondition), sql, name, properties,
                Some((order, k)))
            case _ => None
          }
          case p: Project if hasAggFunction(p.projectList) =>
            routeAgg(Aggregate(Nil, p.projectList, p.child, None), None,
              sql, name, properties, Some((order, k)))
          case _ => None
        }
      case _ => None
    }
  }

  /** Rewrite a `SELECT *`-view WHERE onto the delta stream's columns and
    * apply it executor-side. Unlike the aggregate fold's driver-side
    * predicate (whose HAVING leg must evaluate emitted snapshots), a
    * view filter can be pure Catalyst: every unresolved attribute maps
    * through the source's resolver onto a delta column, and Spark's own
    * analysis/codegen take it from there — the full predicate algebra,
    * evaluated before anything crosses to the driver. Non-deterministic
    * predicates reject: a row's +I and -D must filter identically or
    * retractions stop cancelling. */
  private def filterDeltas(ds: DeltaSource, cond: Expression,
      sql: String): DeltaSource = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val rewritten = cond.transform {
      case a: UnresolvedAttribute =>
        ds.resolve(a) match {
          case Some(i) => ColumnBridge.expression(ds.deltas(ds.viewCols(i)))
          case None =>
            unsupported(sql, s"WHERE column ${a.nameParts.mkString(".")} " +
              s"does not resolve in the maintained view " +
              s"(${ds.viewCols.mkString(", ")})")
        }
    }
    val filtered = ds.deltas.filter(ColumnBridge.column(rewritten))
    // determinism is only knowable AFTER analysis (an UnresolvedFunction
    // reports the default); read it off the analyzed Filter
    val deterministic = filtered.queryExecution.analyzed.collectFirst {
      case f: Filter => f.condition.deterministic
    }.getOrElse(true)
    if (!deterministic)
      unsupported(sql, "a non-deterministic WHERE cannot filter a " +
        "retraction stream (a row's +I and its -D must filter identically)")
    ds.copy(deltas = filtered)
  }

  /** A matched maintained view served as-is: the delta stream's own
    * retractions through the passthrough sink (no synthesizer state sits
    * between the IVM operator and the wire). */
  private def viewStatement(ds: DeltaSource, sql: String, name: String,
      properties: Map[String, String]): Statement = {
    val handle = ChangelogStream.deltaPassthrough(ds.deltas, name)
    // the statement's advertised schema is the maintained view's columns
    // (op travels as the record op, not a column)
    new Statement(name, sql, ds.deltas.drop("op"), Some(handle), properties)
  }

  /** Dispatch an `Aggregate over [Filter over] <source>` continuous
    * statement: the source is a feed, a feed join (2-way, chain, or
    * feed ⋈ static) — all reduced to their exact retraction deltas. A
    * feed-touching aggregate that matches NO route rejects loudly: the
    * default route's append-only reading would silently mis-evaluate it
    * (deletes as rows, upserts double-counted). */
  private def routeAgg(agg: Aggregate, having: Option[Expression],
      sql: String, name: String, properties: Map[String, String],
      topK: Option[(SortOrder, Int)] = None): Option[Statement] = {
    val (src, where) = agg.child match {
      case Filter(cond, s) => (s, Some(cond))
      case s => (s, None)
    }
    matchSource(src, sql) match {
      case Some(ds0) =>
        // WHERE applies to the source view and is DELTA-COMMUTING (a
        // deterministic row predicate passes a row's +I and its -D
        // identically) — it compiles through the executor-side Catalyst
        // rewrite BEFORE any normalization projection, so it sees the
        // source's own columns; rejected rows never reach the driver
        val ds = where.map(filterDeltas(ds0, _, sql)).getOrElse(ds0)
        val (dsH, aggH, hopMeta) = rewriteHop(agg, ds, sql)
        val (aggS, sessMeta) = rewriteSession(aggH, dsH, sql)
        val (aggT, tumbleMeta) = rewriteTumble(aggS, dsH, sql)
        if (Seq(hopMeta, sessMeta, tumbleMeta).count(_.isDefined) > 1)
          unsupported(sql, "one event-time window per continuous statement")
        val (dsN, aggN) = normalizeAgg(dsH, aggT, sql)
        Some(aggOverDeltas(dsN, aggN, having, sql, name, properties, topK,
          hopMeta.orElse(sessMeta).orElse(tumbleMeta),
          sessionMode = sessMeta.isDefined))
      case None =>
        if (referencesFeed(src))
          unsupported(sql, "the FROM clause references changelog feed(s) " +
            "in a shape no IVM route matches (supported: one feed; a " +
            "two-feed equi-join on key, INNER/LEFT/RIGHT/FULL; a same-key " +
            "INNER chain of 3+ feeds; a feed joined to a static table; " +
            "deterministic projected subqueries / CTEs over those)")
        None
    }
  }

  /** `TUMBLE(col, width)` — the event-time tumbling window as a grouping
    * function over an integral view column (Flink SQL's `GROUP BY
    * TUMBLE(ts, INTERVAL …)` re-expressed for the feed's long event-time
    * domain; the batch twin is q18's window() aggregation). The call
    * rewrites to the window-start scalar `col - pmod(col, width)` (true
    * floor alignment for any sign), which the normalization projection
    * evaluates executor-side like any grouping expression — and the
    * returned output-column name tells the fold to run WATERMARK
    * EVICTION over it: the watermark is the maximum window start any
    * live insert has reached, a window strictly below it is CLOSED —
    * its group leaves the maintained view (the snapshot diff emits the
    * `-D` with the final value, mirroring Flink's state eviction at
    * watermark passage), and late rows targeting closed windows drop
    * (Flink's late-event discipline; allowed lateness 0 here). Only the
    * direct `tumble(col, w) AS name` SELECT-item + matching GROUP BY
    * form routes; a tumble nested in another expression rejects loudly
    * (it would silently lose eviction). */
  /** `HOP(col, slide, width)` — the event-time SLIDING window as a
    * grouping function (Flink SQL's `GROUP BY HOP(ts, INTERVAL slide,
    * INTERVAL width)`): every row belongs to the ⌈width/slide⌉ windows
    * whose slide-aligned start s satisfies `s ≤ col < s + width`. The
    * fan-out is a deterministic generator over the delta stream —
    * `explode(sequence(first, last, slide))` executor-side — and a
    * deterministic fan-out commutes with retraction exactly like a
    * scalar projection (a row's +I and its -D explode to identical
    * window sets), so the unchanged fold maintains every window and
    * [[rewriteTumble]]'s watermark eviction applies with the hop's
    * width: a window closes (emits -D with its final value) once the
    * max seen start reaches `s + width` — conservative by < slide
    * against the true max event time, so a close is DELAYED at most one
    * slide, never premature. Null event-time rows leave the windowed
    * view (explode drops the null sequence — Flink's null-rowtime
    * discipline). Width must be a positive multiple-or-more of slide
    * (width < slide would leave rows belonging to no window). */
  private def rewriteHop(agg: Aggregate, ds: DeltaSource,
      sql: String): (DeltaSource, Aggregate, Option[(String, Long)]) = {
    def bail(what: String): Nothing = unsupported(sql, what)
    def isHop(f: UnresolvedFunction): Boolean =
      f.nameParts.map(_.toLowerCase) == Seq("hop")
    def containsHop(es: Seq[Expression]): Boolean =
      es.exists(_.exists {
        case f: UnresolvedFunction => isHop(f)
        case _ => false
      })
    if (!containsHop(agg.aggregateExpressions) &&
        !containsHop(agg.groupingExpressions))
      return (ds, agg, None)
    val hops = agg.aggregateExpressions.collect {
      case Alias(f: UnresolvedFunction, n) if isHop(f) => (f, n)
    }
    if (hops.isEmpty)
      bail("hop(col, slide, width) must appear as a direct aliased SELECT " +
        "item (the changelog retracts windows by their visible start)")
    if (hops.length > 1) bail("one hop window per continuous statement")
    val (f, outName) = hops.head
    def longLit(e: Expression, what: String): Long = e match {
      case Literal(i: java.lang.Integer, _) => i.longValue
      case Literal(l: java.lang.Long, _) => l.longValue
      case _ => bail(s"hop $what must be an integer literal")
    }
    val (colIdx, slide, width) = f.arguments match {
      case Seq(a: UnresolvedAttribute, s, w) =>
        val sl = longLit(s, "slide"); val wl = longLit(w, "width")
        if (sl <= 0) bail("hop slide must be positive")
        if (wl < sl) bail("hop width must be >= slide (a smaller width " +
          "would leave rows belonging to no window)")
        val i = ds.resolve(a).getOrElse(
          bail(s"hop column ${a.nameParts.mkString(".")} does not resolve " +
            s"in the maintained view (${ds.viewCols.mkString(", ")})"))
        if (kindOf(ds.types(i)) != Some(LongK))
          bail(s"hop column ${ds.viewCols(i)} must be integral " +
            "(the feed's event-time domain)")
        (i, sl, wl)
      case _ => bail("hop(col, slide, width) needs a view column and two " +
        "integer literal arguments")
    }
    if (ds.viewCols.contains(outName))
      bail(s"hop output name $outName shadows a view column — alias it " +
        "differently")
    // the fan-out below selects source columns BY NAME, which a raw
    // AnalysisException would reject if the projected source carries
    // duplicate output names (a shape projectSource permits) — turn
    // that into the loud documented rejection every other limit uses
    val dupCols = ds.viewCols.groupBy(identity)
      .collect { case (n, g) if g.size > 1 => n }
    if (dupCols.nonEmpty)
      bail(s"hop over a view with duplicate column names " +
        s"(${dupCols.mkString(", ")}) — alias the subquery's items to " +
        "unique names")
    // the window-start fan-out, executor-side: one delta row per window
    // the event falls in
    val dsH: DeltaSource = {
      import org.apache.spark.sql.functions.{col, explode, lit, pmod, sequence}
      val v = ds.deltas(ds.viewCols(colIdx))
      val last = v - pmod(v, lit(slide))
      val vw = v - lit(width)
      val first = vw - pmod(vw, lit(slide)) + lit(slide)
      val exploded = ds.deltas.select(
        (col("op") +: explode(sequence(first, last, lit(slide))).as(outName)
          +: ds.viewCols.map(ds.deltas(_))): _*)
      val viewCols = outName +: ds.viewCols
      val types = LongType +: ds.types
      val resolve: UnresolvedAttribute => Option[Int] = a =>
        a.nameParts match {
          case Seq(c) if c == outName => Some(0)
          case _ => ds.resolve(a).map(_ + 1)
        }
      DeltaSource(exploded, viewCols, types, resolve)
    }
    val winAttr = UnresolvedAttribute(Seq(outName))
    val newAgg = agg.copy(
      aggregateExpressions = agg.aggregateExpressions.map {
        case Alias(ff: UnresolvedFunction, n) if ff == f => Alias(winAttr, n)()
        case other => other
      },
      groupingExpressions = agg.groupingExpressions.map {
        case ff: UnresolvedFunction if ff == f => winAttr
        case other => other
      })
    if (containsHop(newAgg.aggregateExpressions) ||
        containsHop(newAgg.groupingExpressions))
      bail("hop(col, slide, width) may appear only as a direct aliased " +
        "SELECT item and a matching GROUP BY expression — nesting it in " +
        "another expression would silently lose watermark eviction")
    (dsH, newAgg, Some((outName, width)))
  }

  /** `SESSION(col, gap)` — the event-time session window as a grouping
    * function (Flink SQL's `GROUP BY SESSION(ts, INTERVAL gap)`): a
    * session is a maximal run of live event times in which consecutive
    * times are ≤ `gap` apart, keyed by the statement's OTHER grouping
    * columns; the emitted window value is the session's first event
    * time. Unlike tumble/hop, a row's window assignment depends on the
    * OTHER live rows — an arriving bridge event MERGES two sessions,
    * and (the transition batch engines cannot express) a retraction of
    * the bridge SPLITS them back — so the call cannot pre-project: it
    * rewrites to the RAW event-time column as a hidden per-time
    * grouping column, the fold maintains one accumulator bucket per
    * (keys, time) exactly like a plain GROUP BY, and the SNAPSHOT pass
    * walks each key's times in order, splits at gaps, and merges the
    * run's buckets into one session row (exact: sums add, extrema
    * bags union). Watermark eviction matches tumble's rule with the
    * gap as the horizon: a session whose last time + gap the watermark
    * passed closes (fires its final row, then -D), and late rows drop.
    * State is O(live (keys, time) buckets), counted by the fold
    * budget. */
  private def rewriteSession(agg: Aggregate, ds: DeltaSource,
      sql: String): (Aggregate, Option[(String, Long)]) = {
    def bail(what: String): Nothing = unsupported(sql, what)
    def isSession(f: UnresolvedFunction): Boolean =
      f.nameParts.map(_.toLowerCase) == Seq("session")
    def containsSession(es: Seq[Expression]): Boolean =
      es.exists(_.exists {
        case f: UnresolvedFunction => isSession(f)
        case _ => false
      })
    if (!containsSession(agg.aggregateExpressions) &&
        !containsSession(agg.groupingExpressions))
      return (agg, None)
    val sessions = agg.aggregateExpressions.collect {
      case Alias(f: UnresolvedFunction, n) if isSession(f) => (f, n)
    }
    if (sessions.isEmpty)
      bail("session(col, gap) must appear as a direct aliased SELECT " +
        "item (the changelog retracts windows by their visible start)")
    if (sessions.length > 1)
      bail("one session window per continuous statement")
    val (f, outName) = sessions.head
    val (col, gap) = f.arguments match {
      case Seq(a: UnresolvedAttribute, Literal(w, _)) =>
        val wl = w match {
          case i: java.lang.Integer => i.longValue
          case l: java.lang.Long => l.longValue
          case _ => bail("session gap must be an integer literal")
        }
        if (wl <= 0) bail("session gap must be positive")
        val i = ds.resolve(a).getOrElse(
          bail(s"session column ${a.nameParts.mkString(".")} does not " +
            s"resolve in the maintained view (${ds.viewCols.mkString(", ")})"))
        if (kindOf(ds.types(i)) != Some(LongK))
          bail(s"session column ${ds.viewCols(i)} must be integral " +
            "(the feed's event-time domain)")
        (a, wl)
      case _ =>
        bail("session(col, gap) needs a view column and an integer " +
          "literal gap")
    }
    val newAgg = agg.copy(
      aggregateExpressions = agg.aggregateExpressions.map {
        case Alias(ff: UnresolvedFunction, n) if ff == f => Alias(col, n)()
        case other => other
      },
      groupingExpressions = agg.groupingExpressions.map {
        case ff: UnresolvedFunction if ff == f => col
        case other => other
      })
    if (containsSession(newAgg.aggregateExpressions) ||
        containsSession(newAgg.groupingExpressions))
      bail("session(col, gap) may appear only as a direct aliased " +
        "SELECT item and a matching GROUP BY expression")
    (newAgg, Some((outName, gap)))
  }

  private def rewriteTumble(agg: Aggregate, ds: DeltaSource,
      sql: String): (Aggregate, Option[(String, Long)]) = {
    def bail(what: String): Nothing = unsupported(sql, what)
    def isTumble(f: UnresolvedFunction): Boolean =
      f.nameParts.map(_.toLowerCase) == Seq("tumble")
    def containsTumble(es: Seq[Expression]): Boolean =
      es.exists(_.exists {
        case f: UnresolvedFunction => isTumble(f)
        case _ => false
      })
    if (!containsTumble(agg.aggregateExpressions) &&
        !containsTumble(agg.groupingExpressions))
      return (agg, None)
    val tumbles = agg.aggregateExpressions.collect {
      case Alias(f: UnresolvedFunction, n) if isTumble(f) => (f, n)
    }
    if (tumbles.isEmpty)
      bail("tumble(col, width) must appear as a direct aliased SELECT " +
        "item (the changelog retracts windows by their visible start)")
    if (tumbles.length > 1)
      bail("one tumble window per continuous statement")
    val (f, outName) = tumbles.head
    val (col, width) = f.arguments match {
      case Seq(a: UnresolvedAttribute, Literal(w, _)) =>
        val wl = w match {
          case i: java.lang.Integer => i.longValue
          case l: java.lang.Long => l.longValue
          case _ => bail("tumble width must be an integer literal")
        }
        if (wl <= 0) bail("tumble width must be positive")
        val i = ds.resolve(a).getOrElse(
          bail(s"tumble column ${a.nameParts.mkString(".")} does not " +
            s"resolve in the maintained view (${ds.viewCols.mkString(", ")})"))
        if (kindOf(ds.types(i)) != Some(LongK))
          bail(s"tumble column ${ds.viewCols(i)} must be integral " +
            "(the feed's event-time domain)")
        (a, wl)
      case _ =>
        bail("tumble(col, width) needs a view column and an integer " +
          "literal width")
    }
    import org.apache.spark.sql.catalyst.expressions.Subtract
    val start: Expression = Subtract(col,
      UnresolvedFunction(Seq("pmod"), Seq(col, Literal(width)),
        isDistinct = false))
    val newAgg = agg.copy(
      aggregateExpressions = agg.aggregateExpressions.map {
        case Alias(ff: UnresolvedFunction, n) if ff == f => Alias(start, n)()
        case other => other
      },
      groupingExpressions = agg.groupingExpressions.map {
        case ff: UnresolvedFunction if ff == f => start
        case other => other
      })
    if (containsTumble(newAgg.aggregateExpressions) ||
        containsTumble(newAgg.groupingExpressions))
      bail("tumble(col, width) may appear only as a direct aliased " +
        "SELECT item and a matching GROUP BY expression — nesting it in " +
        "another expression would silently lose watermark eviction")
    (newAgg, Some((outName, width)))
  }

  /** Rewrite an Aggregate whose grouping expressions or aggregate
    * arguments are SCALAR EXPRESSIONS over view columns into the
    * column-only form the incremental fold maintains, by PRE-PROJECTING
    * the expressions executor-side ([[projectSource]]) and re-pointing
    * the Aggregate at the projected columns: `GROUP BY CASE …`,
    * aggregates over arithmetic, and the inlined demo3 CTE shape all
    * reduce to the bare-column fold this way. Deterministic projections
    * commute with retraction (the projected-view proof), so exactness is
    * untouched; column-only aggregates pass through with NO extra
    * projection in the plan. Loud on anything unservable — the source IS
    * feed(s) by the time this runs. */
  private def normalizeAgg(ds: DeltaSource, agg: Aggregate,
      sql: String): (DeltaSource, Aggregate) = {
    def simpleArg(e: Expression): Boolean = e match {
      case _: UnresolvedAttribute => true
      case Cast(_: UnresolvedAttribute, DoubleType, _, _) => true
      case UnresolvedStar(None) => true
      case _: Literal => true
      case _ => false
    }
    val simple =
      agg.groupingExpressions.forall(_.isInstanceOf[UnresolvedAttribute]) &&
        agg.aggregateExpressions.forall {
          case _: UnresolvedAttribute => true
          case Alias(_: UnresolvedAttribute, _) => true
          case Alias(f: UnresolvedFunction, _) => f.arguments.forall(simpleArg)
          case _ => false
        }
    if (simple) return (ds, agg)
    def bail(what: String): Nothing = unsupported(sql, what)
    val items = mutable.ArrayBuffer.empty[(String, Expression)]
    // bare attributes compare by their RESOLVED view column, so `key`
    // and `a.key` share one projected column; other expressions compare
    // structurally (the parser emits equal trees for equal text)
    def sameExpr(x: Expression, y: Expression): Boolean = (x, y) match {
      case (a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        val ra = ds.resolve(a)
        ra.isDefined && ra == ds.resolve(b)
      case _ => x == y
    }
    def addItem(name: String, e: Expression): String =
      items.find(_._1 == name) match {
        case Some((_, ex)) if sameExpr(ex, e) => name
        case Some(_) => bail(s"output column $name is defined twice with " +
          "different expressions")
        case None => items += ((name, e)); name
      }
    var synth = 0
    // projection column carrying an AGGREGATE ARGUMENT: reuse any item
    // already bound to the same expression; otherwise a bare column
    // projects under its own name (unless an output item took it) and a
    // compound expression under a synthesized internal name
    def argItem(e: Expression): String =
      items.find { case (_, ex) => sameExpr(ex, e) }.map(_._1).getOrElse {
        val base = e match {
          case a: UnresolvedAttribute if !items.exists(_._1 == a.nameParts.last) =>
            a.nameParts.last
          case _ => synth += 1; s"__arg$synth"
        }
        addItem(base, e)
      }
    def attrOf(n: String) = UnresolvedAttribute(Seq(n))
    // pass 1: register every OUTPUT item's projection column FIRST, so
    // an aggregate ARGUMENT never claims a name a later SELECT item
    // owns (argItem would otherwise make acceptance depend on
    // select-list order)
    agg.aggregateExpressions.foreach {
      case a: UnresolvedAttribute => addItem(a.nameParts.last, a); ()
      case Alias(f: UnresolvedFunction, _)
          if AggFns.contains(f.nameParts.map(_.toLowerCase).mkString(".")) =>
        () // aggregate: no output projection column of its own
      case Alias(child, n) if !hasAggFunction(Seq(child)) =>
        addItem(n, child); ()
      case other =>
        bail(s"SELECT item $other must be a grouping column/expression " +
          "or an aliased aggregate")
    }
    // pass 2: rewrite — scalars point at their projected column,
    // aggregate functions re-point their arguments (reusing an output
    // item bound to the same expression, else a fresh internal column)
    val newSelect: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression] =
      agg.aggregateExpressions.map {
        case a: UnresolvedAttribute => attrOf(a.nameParts.last)
        case Alias(f: UnresolvedFunction, n)
            if AggFns.contains(f.nameParts.map(_.toLowerCase).mkString(".")) =>
          val newArgs = f.arguments.map {
            case s: UnresolvedStar => s
            case l: Literal => l
            case c @ Cast(a: UnresolvedAttribute, DoubleType, _, _) =>
              c.copy(child = attrOf(argItem(a)))
            case e => attrOf(argItem(e))
          }
          Alias(f.copy(arguments = newArgs), n)()
        case Alias(child, n) => Alias(attrOf(n), n)()
        case other =>
          bail(s"SELECT item $other must be a grouping column/expression " +
            "or an aliased aggregate")
      }
    // pass 3: GROUP BY — each grouping expression must be (or name, via
    // an ordinal) a projected SELECT item: the changelog retracts groups
    // by their visible key values
    val newGroups: Seq[Expression] = agg.groupingExpressions.map { g =>
      // GROUP BY <ordinal>: Spark's groupByOrdinal reading (the parser
      // emits UnresolvedOrdinal in grouping position; honored only while
      // the session's groupByOrdinal conf is on — off, the same literal
      // means "group by a constant", which this route does not express
      // and therefore rejects loudly below rather than mis-resolving)
      val byOrdinal = spark.sessionState.conf.groupByOrdinal
      val ordinal: Option[Int] = g match {
        case o: org.apache.spark.sql.catalyst.analysis.UnresolvedOrdinal
            if byOrdinal => Some(o.ordinal)
        case Literal(i: Int, IntegerType) if byOrdinal => Some(i)
        case _ => None
      }
      val named = (ordinal, g) match {
        case (Some(i), _) if i >= 1 && i <= agg.aggregateExpressions.length =>
          agg.aggregateExpressions(i - 1) match {
            case a: UnresolvedAttribute => items.find(it => sameExpr(it._2, a))
            case Alias(child, n) => items.find(_._1 == n)
              .filter(it => sameExpr(it._2, child))
            case _ => None
          }
        case (Some(_), _) => None // out-of-range ordinal
        // the DISTINCT route passes its projection list as the grouping
        // list verbatim, so a grouping item may arrive alias-wrapped
        case (None, Alias(child, n)) =>
          items.find(it => it._1 == n && sameExpr(it._2, child))
        case (None, other) => items.find(it => sameExpr(it._2, other))
      }
      named match {
        case Some((n, _)) => attrOf(n)
        case None => bail(s"GROUP BY expression $g must appear in the " +
          "SELECT list (the changelog retracts groups by their visible " +
          "key values)")
      }
    }
    val pds = projectSource(ds, items.toSeq).getOrElse(
      bail("the projected continuous view could not be built: a column " +
        "does not resolve in the maintained view " +
        s"(${ds.viewCols.mkString(", ")}), an output name collides, or " +
        "an expression is non-deterministic (projections must commute " +
        "with retraction)"))
    (pds, Aggregate(newGroups, newSelect, agg.child, None))
  }

  // ===== the continuous aggregate fold =====

  /** Canonical value kinds the continuous fold can maintain exactly:
    * integral (exact long arithmetic), fractional (exact decimal
    * expansions — see [[exactNum]]), and string (compares; coerces to
    * DOUBLE under SUM/AVG, Spark's lenient PromoteStrings discipline).
    * Any other view-column type rejects at create() — folding it
    * silently (the r9 `toNum` catch-all) hid type errors. */
  private sealed trait ValKind
  private case object LongK extends ValKind
  private case object DoubleK extends ValKind
  private case object StringK extends ValKind

  private def kindOf(dt: DataType): Option[ValKind] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(LongK)
    case FloatType | DoubleType | _: DecimalType => Some(DoubleK)
    case StringType => Some(StringK)
    case _ => None
  }

  /** The EXACT numeric value of a live cell, as an arbitrary-precision
    * decimal: integral types exactly; float/double as the exact decimal
    * expansion of the binary value (`new BigDecimal(double)` — not the
    * string rounding); DECIMAL exactly; strings via their lenient DOUBLE
    * cast (unparseable → null, Spark's non-ANSI cast). Accumulating
    * these is associative and commutative with NO rounding, so the
    * incremental fold equals a from-scratch replay bit-for-bit for ANY
    * float input and ANY retraction order — the q51 exact-moments
    * discipline applied to the facade (r8/r9 verdicts: IEEE-double
    * accumulators drifted across group rebirth). NaN/Infinity have no
    * decimal expansion and fold as null. */
  private def exactNum(v: Any): java.math.BigDecimal = v match {
    case null => null
    case b: java.math.BigDecimal => b
    case l: java.lang.Long => java.math.BigDecimal.valueOf(l)
    case i: java.lang.Integer => java.math.BigDecimal.valueOf(i.longValue)
    case s: java.lang.Short => java.math.BigDecimal.valueOf(s.longValue)
    case b: java.lang.Byte => java.math.BigDecimal.valueOf(b.longValue)
    case d: java.lang.Double =>
      if (d.isNaN || d.isInfinite) null else new java.math.BigDecimal(d)
    case f: java.lang.Float =>
      if (f.isNaN || f.isInfinite) null
      else new java.math.BigDecimal(f.doubleValue)
    case s: String =>
      try {
        val d = s.trim.toDouble
        if (d.isNaN || d.isInfinite) null else new java.math.BigDecimal(d)
      } catch { case _: NumberFormatException => null }
    case _ => null
  }

  /** A cell canonicalized for MIN/MAX comparison under its kind. */
  private def canon(v: Any, k: ValKind): AnyRef = (v, k) match {
    case (null, _) => null
    case (x, LongK) =>
      java.lang.Long.valueOf(x.asInstanceOf[Number].longValue)
    case (s: String, DoubleK) => // CAST(string AS DOUBLE), lenient
      try java.lang.Double.valueOf(s.trim.toDouble)
      catch { case _: NumberFormatException => null }
    case (x, DoubleK) =>
      java.lang.Double.valueOf(x.asInstanceOf[Number].doubleValue)
    case (x, StringK) => x.asInstanceOf[String]
  }

  private def ordFor(k: ValKind): Ordering[AnyRef] = k match {
    case LongK => Ordering.by((x: AnyRef) => x.asInstanceOf[java.lang.Long].longValue)
    case DoubleK => Ordering.by((x: AnyRef) =>
      x.asInstanceOf[java.lang.Double].doubleValue)(Ordering.Double.TotalOrdering)
    case StringK => Ordering.by((x: AnyRef) => x.asInstanceOf[String])
  }

  /** The per-aggregate incremental state a retraction stream maintains
    * exactly: COUNT(*) / COUNT(col) / SUM / AVG are ±-foldable scalars;
    * MIN / MAX keep a per-group ORDERED COUNT-MULTISET of live values, so
    * a retraction of the current extremum re-derives the next one exactly
    * (the transition ±-foldable aggregates never face — r9's "falls
    * through" gap, now closed). */
  private sealed trait AggOp
  private case object CountStar extends AggOp
  private case class CountCol(idx: Int) extends AggOp
  private case class SumCol(idx: Int, kind: ValKind) extends AggOp
  private case class AvgCol(idx: Int, kind: ValKind) extends AggOp
  private case class MinCol(idx: Int, kind: ValKind) extends AggOp
  private case class MaxCol(idx: Int, kind: ValKind) extends AggOp
  /** COUNT(DISTINCT col): the MIN/MAX count-multiset re-keyed as
    * per-(group, value) membership counts — the distinct count is the
    * bag's key count, and it DECREASES exactly when the last duplicate
    * of a value retracts (the transition a plain ±-fold cannot see). */
  private case class DistinctCol(idx: Int, kind: ValKind) extends AggOp

  /** The source-agnostic core of the composed continuous aggregate
    * statement: a matched [[DeltaSource]] plus the parsed Aggregate /
    * WHERE / HAVING in — a running Statement out. By the time this is
    * called the source IS changelog feed(s), so every unsupported
    * construct rejects loudly (see [[UnsupportedContinuousStatement]])
    * instead of falling through to a route that would mis-evaluate.
    *
    * Fold state is O(output groups) driver-side (the dashboard-size
    * contract; heavy join/upsert state lives in the executor StateStore
    * inside the IVM operators): per group a live-row count, exact sums
    * (longs for integral columns, arbitrary-precision decimals for
    * fractional — incremental ≡ replay bit-for-bit, see [[exactNum]]),
    * and an ordered count-multiset per MIN/MAX. An UNGROUPED aggregate
    * is the single always-live group: SQL semantics give one row even
    * over an empty view (COUNT 0, others NULL), and the changelog keys
    * every snapshot row to the empty key so transitions wire as -U/+U. */
  private def aggOverDeltas(ds: DeltaSource, agg: Aggregate,
      having: Option[Expression],
      sql: String, name: String, properties: Map[String, String],
      topK: Option[(SortOrder, Int)] = None,
      tumble: Option[(String, Long)] = None,
      sessionMode: Boolean = false): Statement = {
    def bail(what: String): Nothing = unsupported(sql, what)
    def viewCol(a: UnresolvedAttribute): Int =
      ds.resolve(a).getOrElse(bail(s"column ${a.nameParts.mkString(".")} " +
        s"does not resolve in the maintained view (${ds.viewCols.mkString(", ")})"))
    def colKind(i: Int): ValKind = kindOf(ds.types(i)).getOrElse(
      bail(s"view column ${ds.viewCols(i)} has type ${ds.types(i)}, which " +
        "the incremental fold cannot maintain (numeric and string only)"))
    // aggregate argument: a view column, optionally under CAST(… AS
    // DOUBLE) — other cast targets (INT truncation etc.) would change the
    // value, so they reject rather than mis-evaluate
    def aggArg(e: Expression): (Int, ValKind) = e match {
      case a: UnresolvedAttribute =>
        val i = viewCol(a); (i, colKind(i))
      case Cast(a: UnresolvedAttribute, DoubleType, _, _) =>
        val i = viewCol(a); colKind(i); (i, DoubleK)
      case other =>
        bail(s"aggregate argument $other is not a view column " +
          "(optionally CAST(col AS DOUBLE))")
    }
    val groupIdx: Seq[Int] = agg.groupingExpressions.map {
      case a: UnresolvedAttribute => viewCol(a)
      case other => bail(s"GROUP BY expression $other is not a view column")
    }
    // SELECT list → (output name, Left(view col idx) | Right(agg op))
    val outCols: Seq[(String, Either[Int, AggOp])] =
      agg.aggregateExpressions.map {
        case a: UnresolvedAttribute =>
          val i = viewCol(a)
          if (!groupIdx.contains(i))
            bail(s"bare column ${a.nameParts.mkString(".")} is not in GROUP BY")
          (a.nameParts.last, Left(i))
        case Alias(child, outName) =>
          child match {
            case a: UnresolvedAttribute =>
              val i = viewCol(a)
              if (!groupIdx.contains(i))
                bail(s"bare column ${a.nameParts.mkString(".")} is not in GROUP BY")
              (outName, Left(i))
            case f: UnresolvedFunction if f.isDistinct =>
              val op = (f.nameParts.map(_.toLowerCase).mkString("."),
                f.arguments) match {
                case ("count", Seq(arg)) =>
                  (DistinctCol.apply _).tupled(aggArg(arg))
                case (fn, _) =>
                  bail(s"DISTINCT aggregate $fn is not maintainable on a " +
                    "retraction stream here (COUNT(DISTINCT col) only)")
              }
              (outName, Right(op))
            case f: UnresolvedFunction if !f.isDistinct =>
              val op = (f.nameParts.map(_.toLowerCase).mkString("."),
                f.arguments) match {
                case ("count", Seq(UnresolvedStar(None))) => CountStar
                // count over a non-null literal counts rows; count(NULL)
                // is always 0 and must not take the row-count path
                case ("count", Seq(Literal(v, _))) if v != null => CountStar
                case ("count", Seq(arg)) => CountCol(aggArg(arg)._1)
                case ("sum", Seq(arg)) =>
                  val (i, k) = aggArg(arg)
                  SumCol(i, if (k == LongK) LongK else DoubleK)
                case ("avg", Seq(arg)) =>
                  val (i, k) = aggArg(arg)
                  AvgCol(i, if (k == LongK) LongK else DoubleK)
                case ("min", Seq(arg)) => (MinCol.apply _).tupled(aggArg(arg))
                case ("max", Seq(arg)) => (MaxCol.apply _).tupled(aggArg(arg))
                case (fn, _) =>
                  bail(s"aggregate $fn is not maintainable on a retraction " +
                    "stream here (supported: COUNT/SUM/AVG/MIN/MAX and " +
                    "COUNT(DISTINCT col))")
              }
              (outName, Right(op))
            case other =>
              bail(s"SELECT item $other must be a grouping column or an " +
                "aliased aggregate over one")
          }
        case _: UnresolvedFunction =>
          bail("aggregates must be aliased (the engine-wide oracle discipline)")
        case other =>
          bail(s"SELECT item $other must be a grouping column or an " +
            "aliased aggregate")
      }
    // every grouping column must be in the SELECT list: the synthesizer
    // retracts by value equality on the key columns, so two groups folding
    // to identical visible rows would corrupt the changelog
    if (!groupIdx.forall(i => outCols.exists(_._2 == Left(i))))
      bail("every GROUP BY column must appear in the SELECT list (the " +
        "changelog retracts groups by their visible key values)")
    val ungrouped = groupIdx.isEmpty
    // window eviction metadata: the position of the window-start column
    // within the GROUP KEY and the window width (see rewriteTumble /
    // rewriteHop — the fold watermarks and evicts over it)
    val tumblePos: Option[(Int, Long)] = tumble.map { case (n, w) =>
      outCols.find(_._1 == n) match {
        case Some((_, Left(i))) if groupIdx.contains(i) =>
          (groupIdx.indexOf(i), w)
        case _ =>
          bail("the event-time window must be a GROUP BY expression")
      }
    }
    // output schema (also the types HAVING compiles against)
    def kindType(k: ValKind): DataType = k match {
      case LongK => LongType
      case DoubleK => DoubleType
      case StringK => StringType
    }
    val fields = outCols.map {
      case (n, Left(i)) => StructField(n, ds.types(i))
      case (n, Right(CountStar)) => StructField(n, LongType)
      case (n, Right(CountCol(_))) => StructField(n, LongType)
      case (n, Right(SumCol(_, LongK))) => StructField(n, LongType)
      case (n, Right(SumCol(_, _))) => StructField(n, DoubleType)
      case (n, Right(AvgCol(_, _))) => StructField(n, DoubleType)
      // MIN/MAX canonicalize under their kind (an INT dim column compares
      // — and emits — as long)
      case (n, Right(MinCol(_, k))) => StructField(n, kindType(k))
      case (n, Right(MaxCol(_, k))) => StructField(n, kindType(k))
      case (n, Right(DistinctCol(_, _))) => StructField(n, LongType)
    }
    // HAVING compiler — HAVING filters the fold's EMITTED snapshots, so
    // unlike WHERE (which rides filterDeltas' executor-side Catalyst
    // rewrite) it needs a driver-side predicate over output rows. The
    // supported algebra: an output column compared to a literal (=, <>,
    // <, <=, >, >=), IS [NOT] NULL, AND/OR/NOT with SQL three-valued
    // semantics (Option[Boolean], None = unknown; only definite TRUE
    // passes). Comparisons are typed at COMPILE time from the output
    // schema (the r9 version decided comparability per row and silently
    // excluded mismatches): integral columns compare EXACTLY via
    // BigDecimal (a long beyond 2^53 never rounds through a double),
    // fractional/string columns compare in the DOUBLE domain (Spark's
    // PromoteStrings; an unparseable cell or literal becomes NULL →
    // unknown), and any type outside the algebra rejects at create().
    def compileCmp(resolve: UnresolvedAttribute => Int,
        typeAt: Int => DataType)(a: UnresolvedAttribute, l: Literal,
        test: Int => Boolean): Vector[Any] => Option[Boolean] = {
      val i = resolve(a)
      val ck = kindOf(typeAt(i)).getOrElse(
        bail(s"column ${a.nameParts.mkString(".")} of type ${typeAt(i)} " +
          "is not comparable here (numeric and string only)"))
      val lv = l.value match {
        case null => null
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
        case other => other
      }
      if (lv == null) return (_: Vector[Any]) => None // cmp to NULL: unknown
      (ck, lv) match {
        case (StringK, s: String) =>
          v => {
            val x = v(i)
            if (x == null) None
            else Some(test(x.asInstanceOf[String].compareTo(s)))
          }
        case (LongK | DoubleK, s: String) =>
          // numeric column vs string literal: the literal coerces to
          // DOUBLE; unparseable casts to NULL → the predicate is unknown
          val y = exactNum(s)
          if (y == null) (_: Vector[Any]) => None
          else v => {
            val x = exactNum(v(i))
            if (x == null) None else Some(test(x.compareTo(y)))
          }
        case _ =>
          // numeric-vs-numeric, or string column coerced to DOUBLE
          // against a numeric literal (lenient cast per row). The
          // comparison domain follows Spark's promotion: a fractional or
          // string COLUMN compares in DOUBLE — the literal must round
          // through its double first, or an exact decimal like 7.13
          // could never equal the binary cell it came from (r10 review
          // finding) — while an integral column compares EXACTLY via
          // decimals (the r9 advice: long cells past 2^53 must not
          // round through a double)
          val yRaw = exactNum(lv)
          if (yRaw == null)
            bail(s"literal $lv of type ${l.dataType} is not comparable " +
              s"with ${typeAt(i)}")
          val y =
            if (ck == LongK) yRaw
            else exactNum(java.lang.Double.valueOf(yRaw.doubleValue))
          if (y == null) (_: Vector[Any]) => None // literal overflows double
          else v => {
            val x = exactNum(v(i))
            if (x == null) None else Some(test(x.compareTo(y)))
          }
      }
    }
    def compilePred(resolve: UnresolvedAttribute => Int,
        typeAt: Int => DataType)(e: Expression): Vector[Any] => Option[Boolean] = {
      val rec = compilePred(resolve, typeAt) _
      val cmp = compileCmp(resolve, typeAt) _
      e match {
        case And(l, r) =>
          val lf = rec(l); val rf = rec(r)
          (v: Vector[Any]) => (lf(v), rf(v)) match {
            case (Some(false), _) | (_, Some(false)) => Some(false)
            case (Some(true), Some(true)) => Some(true)
            case _ => None
          }
        case Or(l, r) =>
          val lf = rec(l); val rf = rec(r)
          (v: Vector[Any]) => (lf(v), rf(v)) match {
            case (Some(true), _) | (_, Some(true)) => Some(true)
            case (Some(false), Some(false)) => Some(false)
            case _ => None
          }
        case Not(c) => // also covers `<>`, which parses as Not(EqualTo)
          val f = rec(c); (v: Vector[Any]) => f(v).map(!_)
        case IsNull(a: UnresolvedAttribute) =>
          val i = resolve(a); (v: Vector[Any]) => Some(v(i) == null)
        case IsNotNull(a: UnresolvedAttribute) =>
          val i = resolve(a); (v: Vector[Any]) => Some(v(i) != null)
        case EqualTo(a: UnresolvedAttribute, l: Literal) => cmp(a, l, _ == 0)
        case EqualTo(l: Literal, a: UnresolvedAttribute) => cmp(a, l, _ == 0)
        case LessThan(a: UnresolvedAttribute, l: Literal) => cmp(a, l, _ < 0)
        case LessThan(l: Literal, a: UnresolvedAttribute) => cmp(a, l, _ > 0)
        case LessThanOrEqual(a: UnresolvedAttribute, l: Literal) => cmp(a, l, _ <= 0)
        case LessThanOrEqual(l: Literal, a: UnresolvedAttribute) => cmp(a, l, _ >= 0)
        case GreaterThan(a: UnresolvedAttribute, l: Literal) => cmp(a, l, _ > 0)
        case GreaterThan(l: Literal, a: UnresolvedAttribute) => cmp(a, l, _ < 0)
        case GreaterThanOrEqual(a: UnresolvedAttribute, l: Literal) => cmp(a, l, _ >= 0)
        case GreaterThanOrEqual(l: Literal, a: UnresolvedAttribute) => cmp(a, l, _ <= 0)
        case other =>
          bail(s"predicate $other is outside the supported algebra " +
            "(column-vs-literal comparisons, IS [NOT] NULL, AND/OR/NOT)")
      }
    }
    // WHERE was already applied executor-side in routeAgg (it compiles
    // against the SOURCE view's columns, before any normalization
    // projection). Only HAVING needs the driver-side compiled predicate
    // below (it evaluates EMITTED snapshots).
    // HAVING and ORDER BY resolve against the OUTPUT columns (aliases +
    // group cols); the error names the resolving CLAUSE — an ORDER BY
    // typo must not be blamed on a HAVING the statement doesn't have
    def outIdx(clause: String)(a: UnresolvedAttribute): Int =
      a.nameParts match {
        case Seq(n) if outCols.exists(_._1 == n) =>
          outCols.indexWhere(_._1 == n)
        case _ => bail(s"$clause column ${a.nameParts.mkString(".")} does " +
          "not resolve among the output columns " +
          s"(${outCols.map(_._1).mkString(", ")})")
      }
    // HAVING filters the fold's emitted snapshot — a group crossing the
    // boundary emits the -D / +I the complete-mode diff produces
    val havingFilter: Option[Vector[Any] => Boolean] = having.map { cond =>
      val f = compilePred(outIdx("HAVING"), i => fields(i).dataType)(cond)
      (v: Vector[Any]) => f(v).contains(true)
    }
    // ORDER BY … LIMIT k over the AGGREGATE view — Flink's Top-N over a
    // grouped aggregate (the leaderboard statement): the emitted
    // snapshot sorts by the output column and keeps k rows, so groups
    // crossing the k-boundary wire the same +I/-D membership
    // transitions as the feed-level top-k. Ties break by the group-key
    // columns ascending — deterministic for any arrival order.
    val presentation: Seq[Vector[Any]] => Seq[Vector[Any]] = topK match {
      case None => identity
      case Some((order, k)) =>
        if (k <= 0) bail("a maintained top-k needs a positive LIMIT")
        val sIdx = order.child match {
          case a: UnresolvedAttribute => outIdx("ORDER BY")(a)
          case other =>
            bail(s"ORDER BY expression $other is not an output column")
        }
        val keyIdxs = outCols.zipWithIndex.collect {
          case ((_, Left(i)), at) if groupIdx.contains(i) => at
        }
        val ord = rowOrdering(sIdx, order.direction == Descending,
          order.nullOrdering == NullsFirst, i => fields(i).dataType, keyIdxs)
        rows => rows.sorted(ord).take(k)
    }
    // ---- driver-side incremental fold over the source's retraction
    // deltas; the heavy join/upsert state stays in the executor StateStore
    val aggOps = outCols.collect { case (_, Right(op)) => op }
    val nAgg = aggOps.length
    final class GState {
      var rows: Long = 0L
      val counts = new Array[Long](nAgg)
      val lsums = new Array[Long](nAgg)
      val dsums: Array[java.math.BigDecimal] =
        Array.fill(nAgg)(java.math.BigDecimal.ZERO)
      val bags: Array[mutable.TreeMap[AnyRef, Long]] = aggOps.map {
        case MinCol(_, k) => mutable.TreeMap.empty[AnyRef, Long](ordFor(k))
        case MaxCol(_, k) => mutable.TreeMap.empty[AnyRef, Long](ordFor(k))
        case DistinctCol(_, k) => mutable.TreeMap.empty[AnyRef, Long](ordFor(k))
        case _ => null
      }.toArray
    }
    val state = mutable.LinkedHashMap.empty[Vector[Any], GState]
    // the fail-fast bound on this fold's driver state: groups and bag
    // values count against the facade cap the moment they are created —
    // BEFORE the next value is stored — so a high-cardinality stream dies
    // via the documented error, never a silent driver OOM
    val budget = new FoldStateBudget
    def bagUpdate(bag: mutable.TreeMap[AnyRef, Long], x: AnyRef,
        sign: Long): Unit = {
      val prev = bag.getOrElse(x, 0L)
      val next = prev + sign
      if (next < 0L)
        throw new IllegalStateException(
          "continuous MIN/MAX/DISTINCT state retracted a value that was " +
            "never added — the delta stream broke the IVM invariant")
      if (next == 0L) { bag.remove(x); if (prev > 0L) budget.shrink() }
      else { if (prev == 0L) budget.grow(); bag.update(x, next) }
    }
    // window watermark: the max window start any ADD has reached, at
    // BATCH granularity — late-drop inside a batch compares against the
    // watermark as of the batch's START, and the batch's adds advance it
    // at the END (Spark's own watermark discipline: batch N+1 observes
    // batch N's watermark). Per-delta advancement would be
    // order-sensitive: the upsert IVM emits a batch's deltas per
    // state-store group, with NO cross-row order guarantee, so a
    // high-time delta processed first must not late-drop its batch
    // siblings. A window whose END the (end-of-batch) watermark has
    // passed is closed; late rows and retractions of already-evicted
    // rows drop, per Flink's late-event discipline. For tumble the rule
    // is exact; for hop it is conservative by < slide (a close can be
    // DELAYED one slide, never premature).
    var watermark = Long.MinValue
    def windowStart(gkey: Vector[Any]): Option[(Long, Long)] =
      tumblePos.flatMap { case (p, w) =>
        Option(gkey(p)).map(v => (v.asInstanceOf[Number].longValue, w))
      }
    // the watermark value the last eviction scan ran at: a batch that
    // does not advance the watermark skips the O(live groups) rescan
    var evictScanAt = Long.MinValue
    def fold(deltas: Seq[Vector[Any]]): Seq[Seq[Vector[Any]]] = {
      val wmAtStart = watermark
      var batchMax = Long.MinValue
      deltas.foreach { row =>
        // delta rows lead with the changelog op; view columns follow
        val sign = row(0).asInstanceOf[Int] match {
          case 0 | 2 => 1L // +I / +U add
          case 1 | 3 => -1L // -U / -D retract
          case other => throw new IllegalStateException(
            s"delta carried an invalid changelog op: $other")
        }
        val view = row.drop(1)
        val gkey = groupIdx.map(view).toVector
        val late = tumblePos.exists { case (p, w) =>
          gkey(p) match {
            // a NULL event time belongs to no window: the row leaves the
            // windowed view (hop drops it with the null sequence; the
            // tumble route must agree, or the NULL group would live —
            // and grow — forever outside the eviction discipline)
            case null => true
            case v =>
              val s = v.asInstanceOf[Number].longValue
              if (sign > 0) {
                // an ADD cannot CREATE a closed window — but a session
                // bucket that is still LIVE behind the watermark (later
                // bridges keep its run open) can always accept the time
                // it already holds. The rule must be symmetric with the
                // retraction rule below: the old asymmetric drop let a
                // legal add-then-retract pair fold only its retraction,
                // crashing MIN/DISTINCT bags ("retracted a value never
                // added") and phantom-shrinking live COUNT/SUM buckets.
                // Tumble/hop eviction keeps no live bucket behind the
                // watermark, so there the liveness arm never fires.
                if (s + w <= wmAtStart &&
                  !(sessionMode && state.contains(gkey))) true
                else { batchMax = math.max(batchMax, s); false }
              } else {
                // a RETRACTION applies iff its bucket is still LIVE: a
                // session run can stay open across event times the
                // watermark has long passed (later times keep bridging
                // it), and retracting those rows must still fold — only
                // a retraction of an EVICTED bucket drops (its add was
                // late-dropped, or its window closed and fired). For
                // tumble/hop this is the old watermark rule exactly:
                // eviction keeps no live bucket behind the watermark.
                !state.contains(gkey)
              }
          }
        }
        if (!late) foldRow(sign, view, gkey)
      }
      watermark = math.max(watermark, batchMax)
      // eviction: every window whose end the watermark has passed leaves
      // the maintained view. The batch that closes a window may ALSO
      // carry its last contributions, so the close publishes in TWO
      // snapshots: first the pre-eviction snapshot (the closed window's
      // FINAL value reaches the wire — Flink's fire-at-close), then the
      // post-eviction snapshot whose diff emits the -D. An evicted
      // group's bags may still hold entries (unlike natural group
      // death), so the budget releases them too.
      def removeBucket(k: Vector[Any]): Unit =
        state.remove(k).foreach { g =>
          budget.shrink()
          g.bags.foreach(b => if (b != null) budget.shrink(b.size.toLong))
        }
      if (sessionMode) {
        // sessions must scan EVERY batch, not just on watermark advance:
        // retracting a bridge SPLITS a run, and the split-off part can
        // fall behind an already-passed watermark. The runs are computed
        // ONCE: eviction removes whole runs, so the live partition IS
        // the post-eviction run set.
        val runs = sessionRuns()
        val (dead, live) = runs.partition { run =>
          val (last, gap) = windowStart(run.last._1).get
          last + gap <= watermark
        }
        if (dead.isEmpty) Seq(sessionSnapshot(runs))
        else {
          val atClose = sessionSnapshot(runs)
          dead.foreach(_.foreach { case (k, _) => removeBucket(k) })
          Seq(atClose, sessionSnapshot(live))
        }
      } else {
        val dead: Seq[Vector[Any]] =
          if (tumblePos.isDefined && watermark > evictScanAt) {
            // tumble/hop closure is purely watermark-driven (membership
            // is static), so a watermark-stale batch skips the rescan
            evictScanAt = watermark
            state.keysIterator
              .filter(k => windowStart(k).exists { case (s, w) =>
                s + w <= watermark
              }).toVector
          } else Vector.empty
        if (dead.isEmpty) Seq(emitSnapshot())
        else {
          val atClose = emitSnapshot()
          dead.foreach(removeBucket)
          Seq(atClose, emitSnapshot())
        }
      }
    }
    def foldRow(sign: Long, view: Vector[Any], gkey: Vector[Any]): Unit = {
        val g = state.getOrElseUpdate(gkey, { budget.grow(); new GState })
        g.rows += sign
        var k = 0
        aggOps.foreach { op =>
          op match {
            case CountStar => ()
            case CountCol(i) =>
              if (view(i) != null) g.counts(k) += sign
            case SumCol(i, LongK) =>
              val x = view(i)
              if (x != null) {
                g.lsums(k) += sign * x.asInstanceOf[Number].longValue
                g.counts(k) += sign
              }
            case SumCol(i, _) =>
              val b = exactNum(view(i))
              if (b != null) {
                g.dsums(k) =
                  if (sign > 0) g.dsums(k).add(b) else g.dsums(k).subtract(b)
                g.counts(k) += sign
              }
            case AvgCol(i, LongK) =>
              val x = view(i)
              if (x != null) {
                g.lsums(k) += sign * x.asInstanceOf[Number].longValue
                g.counts(k) += sign
              }
            case AvgCol(i, _) =>
              val b = exactNum(view(i))
              if (b != null) {
                g.dsums(k) =
                  if (sign > 0) g.dsums(k).add(b) else g.dsums(k).subtract(b)
                g.counts(k) += sign
              }
            case MinCol(i, kind) =>
              val x = canon(view(i), kind)
              if (x != null) { bagUpdate(g.bags(k), x, sign); g.counts(k) += sign }
            case MaxCol(i, kind) =>
              val x = canon(view(i), kind)
              if (x != null) { bagUpdate(g.bags(k), x, sign); g.counts(k) += sign }
            case DistinctCol(i, kind) =>
              val x = canon(view(i), kind)
              if (x != null) { bagUpdate(g.bags(k), x, sign); g.counts(k) += sign }
          }
          k += 1
        }
        // a grouped group dies with its last row; the UNGROUPED group
        // always lives (SQL: one row even over an empty input). Its bags
        // are necessarily empty at rows == 0 (every bag count is bounded
        // by the group's live non-null rows), so one shrink per group.
        if (!ungrouped && g.rows <= 0) { state.remove(gkey); budget.shrink() }
    }
    // SESSION support: group the per-(keys, time) buckets by their
    // static-key part (insertion order — deterministic), sort each
    // key's times, and split into gap-separated runs. Shared by the
    // snapshot merge and eviction.
    def sessionRuns(): Seq[Seq[(Vector[Any], GState)]] = {
      val (p, gap) = tumblePos.get
      val byStatic =
        mutable.LinkedHashMap.empty[Vector[Any],
          mutable.ArrayBuffer[(Vector[Any], GState)]]
      state.foreach { case (gk, g) =>
        byStatic.getOrElseUpdate(gk.patch(p, Nil, 1),
          mutable.ArrayBuffer.empty) += ((gk, g))
      }
      byStatic.valuesIterator.flatMap { entries =>
        val sorted = entries.sortBy(_._1(p).asInstanceOf[Number].longValue)
        val runs = mutable.ArrayBuffer.empty[Seq[(Vector[Any], GState)]]
        var cur = mutable.ArrayBuffer.empty[(Vector[Any], GState)]
        var prev = Long.MinValue
        sorted.foreach { e =>
          val t = e._1(p).asInstanceOf[Number].longValue
          if (cur.nonEmpty && t - prev > gap) {
            runs += cur.toSeq; cur = mutable.ArrayBuffer.empty
          }
          cur += e; prev = t
        }
        if (cur.nonEmpty) runs += cur.toSeq
        runs
      }.toSeq
    }
    // merge a session run's buckets into one accumulator set — exact:
    // counts/sums add, extremum/distinct bags union-add
    def mergeRun(run: Seq[(Vector[Any], GState)]): GState = {
      val m = new GState
      run.foreach { case (_, g) =>
        m.rows += g.rows
        var k = 0
        while (k < nAgg) {
          m.counts(k) += g.counts(k)
          m.lsums(k) += g.lsums(k)
          m.dsums(k) = m.dsums(k).add(g.dsums(k))
          if (m.bags(k) != null)
            g.bags(k).foreach { case (x, c) =>
              m.bags(k).update(x, m.bags(k).getOrElse(x, 0L) + c)
            }
          k += 1
        }
      }
      m
    }
    // session mode merges each gap-run into ONE row keyed by the run's
    // first event time (the run's first bucket's gkey already carries it
    // in the window slot); plain mode serves the buckets as the groups
    // they are
    def sessionSnapshot(runs: Seq[Seq[(Vector[Any], GState)]]): Seq[Vector[Any]] =
      snapshotOf(runs.iterator.map(run => (run.head._1, mergeRun(run))))
    def emitSnapshot(): Seq[Vector[Any]] = {
      if (ungrouped)
        state.getOrElseUpdate(Vector.empty, { budget.grow(); new GState })
      snapshotOf(state.iterator)
    }
    def snapshotOf(
        entries: Iterator[(Vector[Any], GState)]): Seq[Vector[Any]] = {
      val snapshot = entries.map { case (gkey, g) =>
        var k = -1
        outCols.map {
          case (_, Left(i)) => gkey(groupIdx.indexOf(i))
          case (_, Right(op)) =>
            k += 1
            op match {
              case CountStar => java.lang.Long.valueOf(g.rows)
              case CountCol(_) => java.lang.Long.valueOf(g.counts(k))
              case SumCol(_, LongK) =>
                if (g.counts(k) > 0) java.lang.Long.valueOf(g.lsums(k)) else null
              case SumCol(_, _) =>
                if (g.counts(k) > 0)
                  java.lang.Double.valueOf(g.dsums(k).doubleValue) else null
              case AvgCol(_, LongK) =>
                if (g.counts(k) > 0)
                  java.lang.Double.valueOf(g.lsums(k).toDouble / g.counts(k))
                else null
              case AvgCol(_, _) =>
                // the correctly-rounded double of the EXACT sum, divided
                // once — order-independent, so incremental ≡ replay
                if (g.counts(k) > 0)
                  java.lang.Double.valueOf(g.dsums(k).doubleValue / g.counts(k))
                else null
              case MinCol(_, _) =>
                if (g.bags(k).nonEmpty) g.bags(k).firstKey else null
              case MaxCol(_, _) =>
                if (g.bags(k).nonEmpty) g.bags(k).lastKey else null
              // COUNT(DISTINCT): the bag's key count — 0 (never null)
              // over an empty group, per SQL COUNT semantics
              case DistinctCol(_, _) =>
                java.lang.Long.valueOf(g.bags(k).size.toLong)
            }
        }.toVector
      }.toSeq
      presentation(havingFilter match {
        case Some(f) => snapshot.filter(f)
        case None => snapshot
      })
    }
    val outNames = outCols.map(_._1)
    val keyNames = outCols.collect {
      case (n, Left(i)) if groupIdx.contains(i) => n
    }
    // ungrouped: keyNames is empty — the synthesizer keys every snapshot
    // row to the EMPTY key, i.e. the one always-live row, so its
    // transitions wire as -U/+U (never a spurious +I/-D pair)
    val handle = ChangelogStream.foldingSnapshot(ds.deltas, name,
      outNames, keyNames, fold)
    // advertised schema ("traits.schema") is the aggregate view's — an
    // empty typed frame carries it; results flow through the handle
    val schemaDf = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields))
    new Statement(name, sql, schemaDf, Some(handle), properties)
  }

  /** Canonical comparison of two cells under a known (or unknown) kind
    * — the deterministic building block of every maintained ordering. */
  private def cmpCells(dt: DataType, a: Any, b: Any): Int = kindOf(dt) match {
    case Some(LongK) => java.lang.Long.compare(
      a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue)
    case Some(DoubleK) => java.lang.Double.compare(
      a.asInstanceOf[Number].doubleValue, b.asInstanceOf[Number].doubleValue)
    case Some(StringK) =>
      a.asInstanceOf[String].compareTo(b.asInstanceOf[String])
    // a column of a kind the fold can't compare (e.g. a boolean dim
    // column) still needs a DETERMINISTIC tiebreak: canonical string form
    case None => String.valueOf(a).compareTo(String.valueOf(b))
  }

  /** Total deterministic order for maintained top-k rows: the sort
    * column first (direction + null placement from the SQL), then the
    * `tiebreak` columns ascending nulls-first — so the served k-set is
    * identical for any arrival interleaving. */
  private def rowOrdering(sortIdx: Int, desc: Boolean, nullsFirst: Boolean,
      typeAt: Int => DataType,
      tiebreak: Seq[Int]): Ordering[Vector[Any]] =
    new Ordering[Vector[Any]] {
      override def compare(x: Vector[Any], y: Vector[Any]): Int = {
        val xv = x(sortIdx); val yv = y(sortIdx)
        val c =
          if (xv == null && yv == null) 0
          else if (xv == null) { if (nullsFirst) -1 else 1 }
          else if (yv == null) { if (nullsFirst) 1 else -1 }
          else {
            val base = cmpCells(typeAt(sortIdx), xv, yv)
            if (desc) -base else base
          }
        if (c != 0) return c
        tiebreak.foreach { i =>
          val a = x(i); val b = y(i)
          val t =
            if (a == null && b == null) 0
            else if (a == null) -1
            else if (b == null) 1
            else cmpCells(typeAt(i), a, b)
          if (t != 0) return t
        }
        0
      }
    }

  /** `SELECT * FROM <source> [WHERE …] ORDER BY <col> [ASC|DESC] LIMIT
    * k` over ANY matched delta source (a feed's maintained view, a feed
    * join, a chain, feed ⋈ static): the continuously-maintained top-k
    * view — Flink's Top-N operator for this statement shape (the
    * reference dashboard sorts client-side, `dashboard.py:93`; the Flink
    * service would maintain it server-side). Like Flink's no-rownum
    * Top-N, the served columns are the view's own and emissions are
    * MEMBERSHIP deltas: a row crossing the k-boundary emits +I / -D.
    * Ties break by the remaining view columns ascending, so the view is
    * deterministic for any arrival interleaving.
    *
    * State shape: the fold keeps the view's live rows as a counted
    * multiset (O(live rows), driver-side): a retraction of the k-th row
    * must know the (k+1)-th, so the full order is the operator's
    * irreducible state — Flink's Top-N keeps the same. Dashboard-sized
    * by the facade contract; the executor-side bounded-state variant is
    * [[graft.streaming.StatefulOps.topKPerKey]]. */
  private def topKViewStatement(ds: DeltaSource, order: SortOrder, k: Int,
      sql: String, name: String,
      properties: Map[String, String]): Statement = {
    if (k <= 0)
      unsupported(sql, "a maintained top-k needs a positive LIMIT")
    val sortIdx: Int = order.child match {
      case a: UnresolvedAttribute => ds.resolve(a).getOrElse(
        unsupported(sql, s"ORDER BY column ${a.nameParts.mkString(".")} " +
          s"does not resolve in the maintained view " +
          s"(${ds.viewCols.mkString(", ")})"))
      case other =>
        unsupported(sql, s"ORDER BY expression $other is not a view column")
    }
    if (kindOf(ds.types(sortIdx)).isEmpty)
      unsupported(sql, s"ORDER BY column ${ds.viewCols(sortIdx)} of type " +
        s"${ds.types(sortIdx)} is not orderable here (numeric/string only)")
    val ord = rowOrdering(sortIdx, order.direction == Descending,
      order.nullOrdering == NullsFirst, ds.types,
      ds.viewCols.indices.filterNot(_ == sortIdx))
    // live VIEW rows as a counted multiset. Pure-feed views cannot hold
    // duplicates (rows carry their ids), but a static dim with fully
    // duplicate rows duplicates joined rows — so the k-selection COUNTS
    // multiplicity (a row occupying two of the k slots keeps the
    // (k+1)-th out, matching the SQL LIMIT), while the WIRE serves the
    // selection's DISTINCT rows: the changelog snapshot diff is keyed by
    // value, so set semantics at the wire is the contract (same as every
    // snapshot-diffed route; the reference's consumers collapse by value
    // equality too, lib/flink.py:27-45).
    val live = mutable.Map.empty[Vector[Any], Long]
    // rows below the k-boundary change no output yet live here — the
    // same emission-unbounded driver state as the fold's bags, so the
    // same fail-fast budget (one entry per distinct live view row)
    val budget = new FoldStateBudget
    def fold(deltas: Seq[Vector[Any]]): Seq[Seq[Vector[Any]]] = {
      deltas.foreach { row =>
        val v = row.drop(1)
        row(0).asInstanceOf[Int] match {
          case 0 =>
            val prev = live.getOrElse(v, 0L)
            if (prev == 0L) budget.grow()
            live(v) = prev + 1L
          case 3 =>
            val next = live.getOrElse(v, 0L) - 1L
            if (next < 0L) throw new IllegalStateException(
              "top-k view retracted a row that was never inserted — the " +
                "delta stream broke the IVM invariant")
            if (next == 0L) { live.remove(v); budget.shrink() }
            else live(v) = next
          case other => throw new IllegalStateException(
            s"view delta carried an invalid changelog op: $other")
        }
      }
      Seq(live.iterator
        .flatMap { case (row, n) =>
          Iterator.fill(math.min(n, k.toLong).toInt)(row)
        }
        .toVector.sorted(ord).take(k).distinct)
    }
    val handle = ChangelogStream.foldingSnapshot(ds.deltas, name,
      ds.viewCols, ds.viewCols, fold)
    val schemaDf = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(ds.viewCols.zip(ds.types).map {
        case (n, t) => StructField(n, t)
      }))
    new Statement(name, sql, schemaDf, Some(handle), properties)
  }

  /** A memo hit is only served while the statement is still usable: a
    * Failed statement (a batch result iterator hit a failing partition —
    * possibly long after create(), since the batch path pages lazily — or
    * the streaming query died), or a streaming statement that was
    * stopped, would otherwise be returned permanently broken for its SQL
    * with no way to re-run it. */
  private def live(s: Statement): Boolean =
    s.phase != Phase.Failed &&
      !(s.isStreaming && !s.handle.exists(_.query.isActive))

  /** The two statement properties the reference posts with every create
    * (`/root/reference/api/statements.py:27-31`): the catalog/database
    * the statement's unqualified table names resolve in. */
  val CurrentCatalogProp = "sql.current-catalog"
  val CurrentDatabaseProp = "sql.current-database"

  /** Create (or return the memoized) statement for this SQL. Streaming
    * plans start immediately with a changelog-synthesizing sink keyed on
    * `keyCols` — or, when omitted, on the grouping columns derived from
    * the analyzed plan; batch plans are complete on arrival. A cached
    * statement that has failed (or whose streaming query is no longer
    * active) is evicted and re-created rather than returned dead.
    *
    * `properties` mirrors the reference's create payload
    * (`api/statements.py:27-31,70-78`): `sql.current-catalog` /
    * `sql.current-database` scope how THIS statement's unqualified table
    * names resolve — routed to the session catalog for the duration of
    * planning (creates serialize on `createLock`, so the temporary
    * namespace switch cannot leak into a concurrent create) and restored
    * after. Name resolution happens at plan time, so the restored
    * session state does not affect the statement's later execution.
    * Properties participate in the memo key: the same SQL against two
    * databases is two statements. */
  def create(sql: String, keyCols: Seq[String] = Nil,
             properties: Map[String, String] = Map.empty): Statement = {
    val cacheKey = (sql, keyCols, properties)
    // creation is heavyweight (may start a live streaming query), so misses
    // serialize: concurrent creates of the same SQL must not race two
    // queries into existence with one silently leaked
    byQuery.get(cacheKey).filter(live).getOrElse(createLock.synchronized {
      byQuery.get(cacheKey).filter(live).getOrElse {
        // evicting a dead statement must also drop it from the by-name
        // index, or failed statements pile up for the facade's lifetime
        byQuery.get(cacheKey).foreach(dead => byName.remove(dead.name))
        val name = prefix + randomId()
        val prevCatalog = spark.catalog.currentCatalog()
        val prevDatabase = spark.catalog.currentDatabase
        properties.get(CurrentCatalogProp)
          .foreach(spark.catalog.setCurrentCatalog)
        properties.get(CurrentDatabaseProp)
          .foreach(spark.catalog.setCurrentDatabase)
        val stmt =
          try {
            tryContinuousStatement(sql, name, properties).getOrElse {
              val df = spark.sql(sql)
              val handle =
                if (df.isStreaming) {
                  val keys = if (keyCols.nonEmpty) keyCols else derivedKeys(df)
                  if (keys.nonEmpty)
                    Some(ChangelogStream.updating(df, name, keys))
                  else Some(ChangelogStream.appending(df, name))
                } else None
              new Statement(name, sql, df, handle, properties)
            }
          } finally {
            spark.catalog.setCurrentCatalog(prevCatalog)
            spark.catalog.setCurrentDatabase(prevDatabase)
          }
        byName.put(name, stmt)
        byQuery.put(cacheKey, stmt)
        stmt
      }
    })
  }

  def get(name: String): Option[Statement] = byName.get(name)

  /** Block until the statement reaches one of `statuses`, polling at the
    * reference's cadence (`poll_ms=300`, `api/statements.py:24,171-192`;
    * overridable via the `pollMs` constructor parameter).
    * Returns None on `failed`; throws on timeout. */
  def waitForStatus(stmt: Statement, statuses: Set[String],
                    timeoutMs: Long = 120000L): Option[Statement] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline) {
      val p = stmt.phase
      if (p == Phase.Failed) return None
      if (statuses.contains(p)) return Some(stmt)
      Thread.sleep(pollMs)
    }
    throw new java.util.concurrent.TimeoutException(
      s"statement ${stmt.name} did not reach $statuses in ${timeoutMs} ms")
  }

  def stopAll(): Unit = byName.values.foreach(_.stop())
}
