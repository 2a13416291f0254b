package graft.maintain

import graft.format.TableMetadata
import graft.spark.{GraftCatalog, GraftTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
import org.apache.spark.sql.functions._

/** Incrementally-maintained MATERIALIZED VIEWS over graft tables — the
  * data-plane sibling of incremental ANALYZE: a stats refresh sketches
  * only the appended delta, an MV refresh AGGREGATES only the appended
  * delta and merges it into the stored state, so at 100 TB a view over
  * an append-mostly fact table refreshes at the cost of the new data,
  * never a full recompute.
  *
  * Both SIDES of a refresh are delta-scoped. The read side plans only
  * the range's files (incremental read / change feed). The write side
  * is a MERGE into a merge-on-read state table keyed by the group
  * columns: the commit is an equality-delete of the touched groups'
  * keys plus their new rows — O(touched groups), never O(view) — so a
  * per-document view with billions of groups refreshes at the cost of
  * the arriving data. Routine compaction of the state table folds the
  * accumulated deltas (net-zero, skipped by maintenance itself).
  *
  * Maintainable aggregate class (the classic self-maintainable set for
  * insert-only deltas): GROUP BY keys + COUNT / SUM / MIN / MAX. The
  * merge is the aggregate's own combine (count+=count, sum+=sum,
  * min/max of minima/maxima), applied by re-aggregating the union of
  * the state row and the delta row inside the MERGE. AVG is
  * intentionally absent — express it as SUM/COUNT columns and divide at query time
  * (the standard decomposition; storing the quotient would not merge).
  *
  * Delta validity rides the SAME gate as the engine's incremental
  * read: a purely additive (append / import / cherrypick)
  * (last, current] range takes the append-delta path directly. Any
  * other range SEGMENTS along the main parent chain
  * ([[segmentRange]]): additive runs read as file deltas, net-zero
  * maintenance rewrites (compaction, delete-object/manifest rewrites)
  * are skipped outright — routine compaction never costs a view
  * refresh anything, for ANY aggregate set — and delete/update/merge/
  * upsert runs take the COUNTING-ALGORITHM path when every aggregate
  * retracts (count/sum with the required companion counts — see
  * [[cdcMaintainable]]): signed partials aggregated from the engine's
  * change feed ([[graft.spark.TableChanges]], +insert / -delete)
  * merge into the stored state and groups whose row count reaches
  * zero drop out, so a sparse DELETE refreshes at the cost of the
  * rows it touched, never the corpus. Aggregates that cannot retract
  * (min/max; sums missing companion counts) take the GROUP-SCOPED
  * recompute instead ([[refreshGroups]]): only the touched groups
  * re-aggregate from the current source, with the touched keys pushed
  * into the scan as IN predicates for file pruning. Only an
  * unwalkable range (rollback or overwrite in range, expired
  * watermark) falls back to a full recompute.
  *
  * View definition state lives as table properties on the MV table
  * itself (source, keys, aggregate spec, refreshed-snapshot
  * watermark), so the MV is self-describing and survives catalog
  * export/import like any other table.
  */
object MaterializedViews {

  val SourceNsProp = "graft.mv.source-namespace"
  val SourceTableProp = "graft.mv.source-table"
  val GroupByProp = "graft.mv.group-by"
  val AggsProp = "graft.mv.aggs"
  /** Expression keys: `name:expr` entries separated by ';' for group
    * keys that are not plain source columns — the canonical case is a
    * time-bucketed rollup (`day:date_trunc('DAY', ts)`). The
    * expression is materialized as a NAMED state column, and every
    * maintenance path (full / incremental / cdc / groups) evaluates it
    * on its input before grouping, so the state table itself only ever
    * sees named key columns. Expressions must be deterministic (the
    * same row must land in the same group on every refresh) and may
    * reference any source column.
    */
  val KeyExprsProp = "graft.mv.key-exprs"
  /** The CREATING session's `spark.sql.session.timeZone`, stamped on
    * every view. Expressions like `date_trunc('DAY', ts)` — as group
    * keys, inside the defining predicate (`hour(ts) = 3`), or as
    * aggregate inputs (`sum(hour(ts))`) — are timezone-AWARE:
    * evaluated under different session zones the same row buckets,
    * filters, or aggregates differently. Every maintenance path
    * therefore evaluates ALL definition expressions with their
    * timezone-aware nodes PINNED to this zone (regardless of the
    * refreshing session's own zone), and the rewrite declines to
    * serve a tz-sensitive definition expression to a query session
    * whose zone differs — the state is always internally consistent
    * and never silently re-interpreted under another zone's
    * midnights.
    */
  val TzProp = "graft.mv.tz"
  /** Optional defining predicate (SQL over source columns — any
    * columns, not just keys): the view aggregates only matching rows.
    * Every maintenance path applies it to its input — the full
    * recompute to the source, the incremental path to the appended
    * delta, the CDC path to the change feed (where an UPDATE moving a
    * row across the domain boundary surfaces as the one-sided
    * retraction/insertion it is). The rewrite serves a query only
    * when the query's own filter carries this predicate as a conjunct.
    */
  val WhereProp = "graft.mv.where"
  val RefreshedSnapshotProp = "graft.mv.refreshed-snapshot"
  /** Per-VIEW bounded staleness: when set on the MV table, the rewrite
    * serves queries from this view while every unabsorbed source
    * commit is younger than the bound — regardless of the session's
    * `spark.graft.mv.rewrite.max-staleness-ms` — so one session can
    * mix exact dashboards (views without the property) and
    * stale-tolerant monitors (views with it). The view property wins
    * over the session conf for the views that declare it.
    */
  val MaxStalenessProp = "graft.mv.max-staleness-ms"
  /** JOIN views: a second source (`ns`/`table`) inner-equi-joined to
    * the first on [[JoinOnProp]] (`leftcol=rightcol,...`). The view
    * aggregates over the JOIN result; [[RefreshedSnapshot2Prop]] is
    * the right side's watermark. Incremental refresh uses the
    * two-sided delta rule Δ(A⋈B) = ΔA⋈B_cur + A_prev⋈ΔB (all three
    * frames snapshot-pinned, so a concurrent append can neither be
    * lost nor double-counted): an append to the FACT side joins only
    * the delta against the other side — at 100 TB that is a
    * delta-sized broadcast join, never a corpus re-join. Ranges with
    * retractions (deletes/updates) take the SIGNED bilinear rule
    * Δ(A⋈B) = ΔA_signed⋈B_cur + A_prev⋈ΔB_signed when every aggregate
    * retracts ([[cdcMaintainable]]) — feed-sized signed joins — and
    * fall back to a full recompute otherwise.
    */
  val Join2NsProp = "graft.mv.join-namespace"
  val Join2TableProp = "graft.mv.join-table"
  val JoinOnProp = "graft.mv.join-on"
  /** `inner` (absent = inner) or `left`: a LEFT-join view aggregates
    * over A ⟕ B, null-extending unmatched left rows. Incremental
    * maintenance uses Δ(A⟕B) = ΔA⟕B_cur + A_prev⋈ΔB −
    * nullext((A_prev⋉ΔB)▷B_prev): a right-side append RETRACTS the
    * null-extended contribution of left rows that just gained their
    * first match, so right-side deltas need the counting-algorithm
    * aggregate class ([[cdcMaintainable]]); fact-side-only appends
    * stay unsigned and work for any aggregate set.
    */
  val JoinTypeProp = "graft.mv.join-type"
  val RefreshedSnapshot2Prop = "graft.mv.refreshed-snapshot2"
  /** Multi-source (≥3-way) join views: joins BEYOND the first, each
    * `ns|table|leftcol=rightcol,...` (INNER only), ';'-separated, in
    * join-chain order — a star-schema rollup is
    * `fact ⋈ dim1 ⋈ dim2 ⋈ ...` with each dim joined to any column of
    * the accumulated left side. Maintenance generalizes the bilinear
    * rule n-ary: Δ(S1⋈...⋈Sn) = Σ_i S1_prev⋈...⋈S(i-1)_prev ⋈ ΔSi ⋈
    * S(i+1)_cur⋈...⋈Sn_cur — each term joins ONE side's delta against
    * the others pinned at prev/cur per the transition order, so an
    * append to any side costs a delta-sized join, never a corpus
    * re-join; retractions ride the same terms with signed deltas when
    * every aggregate retracts ([[cdcMaintainable]]).
    * [[RefreshedExtraProp]] holds the extra sides' watermarks
    * (comma-separated, aligned with the join list).
    */
  val JoinsExtraProp = "graft.mv.joins-extra"
  val RefreshedExtraProp = "graft.mv.refreshed-snapshots-extra"
  /** On the SOURCE table: comma-separated `ns.mv` list of views
    * derived from it — the zero-I/O trigger for
    * [[graft.spark.GraftMvRewrite]] (no rewrite candidates means no
    * catalog reads on the query path).
    */
  val DerivedProp = "graft.mv.derived"

  /** Opt-in refresh-on-write: `graft.mv.refresh-on-commit=true` on the
    * SOURCE table enqueues a best-effort ASYNC refresh of each derived
    * view after a write commit lands, so serving freshness doesn't
    * depend on external scheduling. Fire-and-forget: the user's commit
    * has already committed when the hook enqueues; a hook failure (or
    * losing the optimistic race to another refresher) never fails the
    * user's write. A commit burst COALESCES — at most one queued
    * refresh per view at a time — and the pending marker clears when
    * the refresh STARTS, so a commit landing mid-refresh re-enqueues
    * (its delta may postdate the running refresh's watermark read).
    */
  val RefreshOnCommitProp = "graft.mv.refresh-on-commit"
  /** Wall-clock millis of the last refresh commit (any mode, noop
    * excluded) — surfaced by `<table>$views` as `refresh_age_seconds`
    * so operators can see hook/scheduler lag at a glance.
    */
  val RefreshedAtProp = "graft.mv.refreshed-at-ms"

  /** A commit burst across MANY distinct views must not serialize
    * view N's freshness behind views 1..N−1: a small bounded pool
    * runs DISTINCT views' refreshes concurrently, while a per-view
    * monitor keeps each single view's refreshes sequential (two
    * concurrent refreshes of one view would just fight the optimistic
    * commit and one would retry — the lock spends those cycles on the
    * second delta instead).
    */
  private lazy val hookPool = {
    val n = math.max(2, math.min(4,
      Runtime.getRuntime.availableProcessors() / 8))
    val idx = new java.util.concurrent.atomic.AtomicInteger()
    java.util.concurrent.Executors.newFixedThreadPool(n, r => {
      val t = new Thread(r,
        s"graft-mv-refresh-on-commit-${idx.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }
  private val pendingHooks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val runningHooks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val hookActive = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Delayed re-dispatch for tasks that found their view already
    * refreshing: the pool thread is handed BACK instead of blocking
    * (two hot views must not occupy the whole pool while other views'
    * refreshes sit in the queue), and the retry re-enters the pool
    * after a short delay without holding any thread.
    */
  private lazy val hookRetry = java.util.concurrent.Executors
    .newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-mv-refresh-on-commit-retry")
      t.setDaemon(true)
      t
    })

  /** Called by write paths after their commit; never throws. The
    * session is resolved HERE (active on the committing thread, else
    * the default session — streaming epoch commits run on a stream
    * thread with no active session) and captured for the hook thread.
    */
  private[graft] def maybeRefreshOnCommit(
      cat: GraftCatalog, props: java.util.Map[String, String]): Unit =
    try {
      if (!"true".equalsIgnoreCase(props.get(RefreshOnCommitProp))) return
      val spark = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession).getOrElse(return)
      parseDerived(props.get(DerivedProp)).foreach { nsMv =>
        val key = s"${cat.name()}:$nsMv"
        if (pendingHooks.add(key)) {
          hookActive.incrementAndGet()
          lazy val task: Runnable = () => {
            if (!runningHooks.add(key)) {
              // this view is refreshing on another thread RIGHT NOW:
              // hand the pool slot back (don't block it) and retry
              // shortly — the pending marker stays set, so further
              // commits keep coalescing into this one retry
              hookRetry.schedule(
                (() => hookPool.execute(task)): Runnable,
                25, java.util.concurrent.TimeUnit.MILLISECONDS)
            } else {
              try {
                pendingHooks.remove(key)
                // an ISOLATED session → its own catalog INSTANCE →
                // its own session-transaction slot: the background
                // refresh must never enlist in (or block) a
                // transaction the user has open on the committing
                // session's catalog. Cross-instance races resolve
                // through the optimistic conflict matrix like any
                // other writer.
                val s2 = spark.newSession()
                (s2.sessionState.catalogManager.catalog(cat.name()),
                  nsMv.split('.')) match {
                  case (g: GraftCatalog, Array(ns, mv)) =>
                    refresh(s2, g, Identifier.of(Array(ns), mv))
                    ()
                  case _ => ()
                }
              } catch { case scala.util.control.NonFatal(_) => () }
              finally {
                runningHooks.remove(key)
                hookActive.decrementAndGet()
              }
            }
          }
          hookPool.execute(task)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Test/ops hook: block until the refresh-on-commit queue drains
    * (all enqueued tasks FINISHED, not merely started — the pool is
    * multi-threaded, so a pass-through latch task would not do).
    */
  private[graft] def awaitRefreshHooks(): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    while (hookActive.get() > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  /** One aggregate column: `out:fn:expr` with fn ∈
    * count|sum|min|max|hll; entries separate with ';' so `expr` may
    * contain commas (e.g. `total:sum:CAST(price AS DECIMAL(18,2))`).
    * `count:1` is the row count; any other count expr is the SQL
    * null-sensitive `count(expr)` — both merge by summing partials.
    * `hll` stores a Datasketches HLL sketch of the expression's
    * values (BINARY state): partials merge by sketch UNION, so a
    * distinct-count view refreshes incrementally — reads estimate via
    * `hll_sketch_estimate`. Sketches cannot retract; deletes take the
    * group-scoped recompute like min/max.
    */
  final case class AggSpec(out: String, fn: String, expr: String) {
    /** `hll` may carry a DECLARED sketch size: `hll@<lgConfigK>`
      * (e.g. `hll@14`) — a view created from
      * `approx_count_distinct(x, rsd)` sizes its stored sketches to
      * the requested precision, and the rewrite serves any ask whose
      * rsd is no tighter than the declared sketch's expected error.
      */
    val fnBase: String = fn.takeWhile(_ != '@')
    /** Datasketches lgConfigK of the stored sketch (default 12 — the
      * `hll_sketch_agg` default). Parsed defensively so a corrupted
      * spec string reaches the pointed require below, not a raw
      * NumberFormatException.
      */
    val hllLgK: Int =
      if (!fn.contains('@')) 12
      else fn.dropWhile(_ != '@').drop(1).toIntOption.getOrElse(-1)
    require(Set("count", "sum", "min", "max", "hll")(fnBase) &&
        (fnBase == "hll" || !fn.contains('@')) &&
        hllLgK >= 4 && hllLgK <= 21,
      s"mv aggregate '$fn' is not incrementally maintainable " +
        "(count|sum|min|max|hll[@lgK]; express avg as sum/count)")
    /** Expected relative error of the stored sketch. */
    def hllRsd: Double = 1.04 / math.sqrt(1L << hllLgK)
    /** Row count (`count:1`) vs null-sensitive `count(col)`. */
    def isCountStar: Boolean = fn == "count" && expr.trim == "1"
    /** First-pass aggregate over a PRE-RESOLVED input column —
      * maintenance paths resolve `expr` against their frame and pin
      * timezone-aware nodes to the view's zone before passing it in.
      */
    def firstPassOn(input: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = (fnBase match {
      case "count" if isCountStar => count(lit(1))
      case "count" => count(input)
      case "sum" => sum(input)
      case "min" => min(input)
      case "max" => max(input)
      case "hll" => hll_sketch_agg(input, hllLgK)
    }).as(out)
    /** Combine of two partial states of this aggregate (aggregate
      * form, for unioning partial frames).
      */
    def merge: org.apache.spark.sql.Column = (fnBase match {
      case "count" | "sum" => sum(col(out))
      case "min" => min(col(out))
      case "max" => max(col(out))
      case "hll" => hll_union_agg(col(out))
    }).as(out)
  }

  /** `name:expr;...` — name up to the FIRST ':' (exprs may contain
    * ':' in casts and time literals; ';' is the separator and is
    * rejected at definition time).
    */
  def parseKeyExprs(spec: String): Seq[(String, String)] =
    Option(spec).map(_.split(';').toSeq.map(_.trim).filter(_.nonEmpty)
      .map { e =>
        val i = e.indexOf(':')
        require(i > 0, s"mv key-expr entry '$e' is not name:expr")
        (e.substring(0, i).trim, e.substring(i + 1).trim)
      }).getOrElse(Seq.empty)

  def formatKeyExprs(keyExprs: Seq[(String, String)]): String =
    keyExprs.map { case (n, e) => s"$n:$e" }.mkString(";")

  def parseAggs(spec: String): Seq[AggSpec] =
    spec.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { e =>
      val i1 = e.indexOf(':')
      val i2 = e.indexOf(':', i1 + 1)
      require(i1 > 0 && i2 > i1, s"mv aggregate entry '$e' is not out:fn:expr")
      AggSpec(e.substring(0, i1).trim, e.substring(i1 + 1, i2).trim.toLowerCase,
        e.substring(i2 + 1).trim)
    }

  final case class RefreshResult(mode: String, mvRows: Long)

  /** A join view's second source: equi-joined to the first on `on`
    * (left-source column, right-source column) pairs; `joinType` is
    * `inner` or `left`.
    */
  final case class JoinSpec(ns: String, table: String,
      on: Seq[(String, String)], joinType: String = "inner") {
    require(on.nonEmpty, "join view needs at least one leftcol=rightcol pair")
    require(joinType == "inner" || joinType == "left",
      s"join view type must be inner or left, got $joinType")
    def onFormatted: String = on.map { case (l, r) => s"$l=$r" }.mkString(",")
  }

  def parseJoinOn(spec: String): Seq[(String, String)] =
    spec.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { p =>
      p.split('=') match {
        case Array(l, r) => (l.trim, r.trim)
        case _ => throw new IllegalArgumentException(
          s"join pair '$p' is not leftcol=rightcol")
      }
    }

  /** `ns|table|leftcol=rightcol,...;...` — the extra (3rd+) join
    * sides of a multi-source view, in chain order.
    */
  def parseJoinsExtra(spec: String): Seq[JoinSpec] =
    Option(spec).map(_.split(';').toSeq.map(_.trim).filter(_.nonEmpty)
      .map { e =>
        e.split("\\|") match {
          case Array(ns, t, on) => JoinSpec(ns.trim, t.trim, parseJoinOn(on))
          case _ => throw new IllegalArgumentException(
            s"extra-join entry '$e' is not ns|table|on")
        }
      }).getOrElse(Seq.empty)

  def formatJoinsExtra(joins: Seq[JoinSpec]): String =
    joins.map(j => s"${j.ns}|${j.table}|${j.onFormatted}").mkString(";")

  /** The counting-algorithm maintainable class (the classic
    * self-maintainable-under-deletions set): every aggregate must
    * retract from the change feed. count and sum retract by signed
    * merge; min/max do not (a deleted extremum needs the base data to
    * re-derive). Group liveness needs the row count (`count:1`), and
    * NULL-correct sums need the matching non-null count
    * (`count:<same expr>`, textual match) so a group whose last
    * non-null value was deleted goes back to sum = NULL rather
    * than 0.
    */
  private[graft] def cdcMaintainable(aggs: Seq[AggSpec]): Boolean =
    aggs.forall(a => a.fn == "count" || a.fn == "sum") &&
      aggs.exists(_.isCountStar) &&
      aggs.filter(_.fn == "sum").forall(sm =>
        aggs.exists(c => c.fn == "count" && !c.isCountStar &&
          c.expr == sm.expr))

  /** Snapshot ops that change the table's LOGICAL content but whose
    * change feed costs what the commit touched, not the corpus.
    */
  private val RetractOps = Set("delete", "update", "merge", "upsert")
  /** Ops that preserve logical content exactly (data-file compaction
    * applies deletes that were already logically applied; delete-object
    * and manifest rewrites are pure re-encodings) — a refresh skips
    * them entirely.
    */
  private val NetZeroOps = Set("compact", "rewrite-deletes",
    "rewrite-manifests")

  /** One contiguous maintenance segment of a refresh range:
    * `'A'` = additive (served by the engine's incremental file-delta
    * read), `'C'` = retractable content change (served by the change
    * feed). `(start, end]` are snapshot-id bounds on the main parent
    * chain.
    */
  private[graft] final case class Segment(kind: Char, start: Long, end: Long)

  /** Split `(last, curId]` of the MAIN parent chain into maintenance
    * segments, dropping net-zero ops (compaction never costs a view
    * refresh anything). Returns None — the full-recompute signal —
    * when the chain is broken (expired watermark) or any op is outside
    * the known classes (rollback diffs whole snapshots in the feed;
    * overwrite replaces arbitrarily much; for both, a recompute is the
    * cheaper honest answer). Branch snapshots never intrude: the chain
    * walk, the incremental read's gate, and the change feed are all
    * lineage-based.
    */
  private[graft] def segmentRange(storage: graft.storage.StorageOps,
      meta: TableMetadata, last: Long, curId: Long): Option[Seq[Segment]] = {
    if (last < 0 || curId < 0) return None
    // the watermark snapshot itself must still RESOLVE: an expired
    // watermark can survive as a child's parentId, so the chain walk
    // below would "reach" it — but the incremental read and the change
    // feed both need the snapshot's inventory and would throw
    if (meta.findSnapshot(storage, last).isEmpty) return None
    var chain = List.empty[graft.format.Snapshot]
    var cur = curId
    while (cur != last) {
      if (cur < 0) return None
      val s = meta.findSnapshot(storage, cur).getOrElse(return None)
      chain = s :: chain
      cur = s.parentId
    }
    val segs = scala.collection.mutable.ArrayBuffer.empty[Segment]
    var prev = last
    for (s <- chain) {
      val kind =
        if (GraftTable.AdditiveOps(s.operation)) 'A'
        else if (NetZeroOps(s.operation)) 'Z'
        else if (RetractOps(s.operation)) 'C'
        else return None
      if (kind != 'Z') {
        if (segs.nonEmpty && segs.last.kind == kind && segs.last.end == prev)
          segs(segs.size - 1) = segs.last.copy(end = s.id)
        else segs += Segment(kind, prev, s.id)
      }
      prev = s.id
    }
    Some(segs.toSeq)
  }

  private def fullName(cat: GraftCatalog, ns: String, t: String): String =
    s"${cat.name()}.`$ns`.`$t`"

  /** Parse/format of the source's derived-views registry — the ONE
    * definition [[graft.spark.GraftMvRewrite]] also reads through.
    */
  def parseDerived(prop: String): Seq[String] =
    Option(prop).map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)

  /** Read-modify-write of the registry with a verify-retry loop:
    * property writes are last-writer-wins, so a concurrent
    * create/drop over the same source could silently erase this
    * writer's edit — re-read and retry until our edit stuck.
    */
  private def editDerived(cat: GraftCatalog, srcIdent: Identifier)(
      edit: Seq[String] => Seq[String]): Unit = {
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val prior = parseDerived(
        cat.loadTable(srcIdent).properties().get(DerivedProp))
      val next = edit(prior).distinct
      if (next == prior) return
      cat.alterTable(srcIdent,
        if (next.isEmpty) TableChange.removeProperty(DerivedProp)
        else TableChange.setProperty(DerivedProp, next.mkString(",")))
      val now = parseDerived(
        cat.loadTable(srcIdent).properties().get(DerivedProp))
      if (now == next || edit(now).distinct == now) return
    }
    throw new IllegalStateException(
      s"derived-views registry on ${srcIdent} kept losing the edit " +
        "to concurrent writers")
  }

  /** The snapshot id a just-analyzed DataFrame of a graft table will
    * actually read — taken from the plan's captured table state, so
    * the recorded watermark can never race a concurrent append.
    */
  private def plannedSnapshotId(df: DataFrame): Long =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.isInstanceOf[GraftTable] =>
        r.table.asInstanceOf[GraftTable].meta.currentSnapshotId
    }.getOrElse(throw new IllegalStateException(
      "materialized view source is not a graft table scan"))

  /** Materialize expression keys as named columns alongside the source
    * columns (aggregate exprs and the defining predicate still resolve
    * against the source). Skips a key whose column already exists —
    * maintenance paths may pre-key a frame before scoping it.
    * `tz` is the view's pinned key-expression zone ([[TzProp]]).
    */
  private def keyed(df: DataFrame, keyExprs: Seq[(String, String)],
      tz: Option[String]): DataFrame =
    keyExprs.foldLeft(df) { case (d, (n, e)) =>
      if (d.columns.exists(_.equalsIgnoreCase(n))) d
      else d.withColumn(n, keyColumn(d, e, tz))
    }

  /** A key expression as a Column, with every timezone-aware node
    * pinned to the view's creation zone: the expression is resolved
    * against `df` under the CURRENT session (which fills session-zone
    * ids), then the zone ids are rewritten to the pinned zone — so a
    * refresher running under any `spark.sql.session.timeZone` buckets
    * rows exactly as the creating session would have.
    */
  /** Small cache of pinned-zone helper sessions: one isolated child
    * session per (parent session, zone), used only to parse/analyze
    * definition expressions under the view's zone. Bounded (cleared
    * past 64 entries — sessions × zones stays tiny in practice).
    */
  private val pinnedSessions =
    new java.util.concurrent.ConcurrentHashMap[(Int, String),
      SparkSession]()

  private def sessionFor(spark: SparkSession, zone: String): SparkSession = {
    val key = (System.identityHashCode(spark), zone)
    val cached = pinnedSessions.get(key)
    if (cached != null) cached
    else {
      if (pinnedSessions.size() >= 64) pinnedSessions.clear()
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.session.timeZone", zone)
      pinnedSessions.putIfAbsent(key, s2)
      pinnedSessions.get(key)
    }
  }

  private def keyColumn(df: DataFrame, sql: String,
      tz: Option[String]): org.apache.spark.sql.Column = tz match {
    case None => expr(sql)
    case Some(zone) =>
      // parse AND analyze under a helper session pinned to the view's
      // zone (made ACTIVE for the duration so every conf read — the
      // parser's typed-literal conversion included — sees the pinned
      // zone): `TIMESTAMP'...'` literals convert to instants at PARSE
      // time, so rewriting timezone-aware NODES after the fact could
      // not fix them. The expression binds to `df`'s own output
      // attributes (same ExprIds), so the returned Column composes
      // with `df` directly; any failure falls back to session-zone
      // resolution with the node-level re-pin (the pre-literal-fix
      // behavior, still correct for all function-based expressions).
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
      import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
      val spark = df.sparkSession
      val out = df.queryExecution.analyzed.output
      val resolver = spark.sessionState.conf.resolver
      val pinnedResolved: Option[org.apache.spark.sql.catalyst
          .expressions.Expression] =
        try {
          val s2 = sessionFor(spark, zone)
          val prev = SparkSession.getActiveSession
          SparkSession.setActiveSession(s2)
          try {
            val parsed = s2.sessionState.sqlParser.parseExpression(sql)
            var bindable = true
            val bound = parsed.transformUp {
              case ua: UnresolvedAttribute =>
                out.filter(a =>
                  resolver(a.name, ua.nameParts.mkString("."))) match {
                  case Seq(one) => one
                  case _ => bindable = false; ua
                }
            }
            if (!bindable) None
            else {
              val shim = Project(Seq(Alias(bound, "__mv_def")()),
                LocalRelation(out.map(_.asInstanceOf[AttributeReference])))
              s2.sessionState.analyzer.execute(shim) match {
                case Project(Seq(Alias(child, _)), _) if child.resolved =>
                  Some(child)
                case _ => None
              }
            }
          } finally {
            prev match {
              case Some(p) => SparkSession.setActiveSession(p)
              case None => SparkSession.clearActiveSession()
            }
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      val e = pinnedResolved.getOrElse {
        val analyzed = df.select(expr(sql)).queryExecution.analyzed
        analyzed match {
          case p: Project =>
            p.projectList.head match {
              case a: Alias => a.child
              case other => other
            }
          case _ => return expr(sql) // unexpected shape
        }
      }
      // belt and braces: re-pin every timezone-aware node (covers the
      // fallback path, and rules that read the session conf directly)
      val pinned = e.transformUp {
        case t: org.apache.spark.sql.catalyst.expressions
            .TimeZoneAwareExpression => t.withTimeZone(zone)
      }
      org.apache.spark.sql.graft.SparkInternals.column(pinned)
  }

  private def aggregate(src: DataFrame, groupBy: Seq[String],
      aggs: Seq[AggSpec],
      keyExprs: Seq[(String, String)] = Seq.empty,
      tz: Option[String] = None): DataFrame = {
    val k = keyed(src, keyExprs, tz)
    // aggregate INPUTS pin the view zone too: `sum(hour(ts))` under a
    // refresher in another zone would otherwise aggregate different
    // values than the view's content
    val cols = aggs.map(a => a.firstPassOn(keyColumn(k, a.expr, tz)))
    k.groupBy(groupBy.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** Apply the view's defining predicate (NULL drops the row, like a
    * WHERE) to a maintenance input frame — under the view's pinned
    * zone ([[TzProp]]): a tz-sensitive predicate (`hour(ts) = 3`)
    * evaluated under the refreshing session's zone would keep a
    * different row set than the view's content, the same corruption
    * class as unpinned expression keys.
    */
  private def restrict(df: DataFrame, where: Option[String],
      tz: Option[String]): DataFrame =
    where.fold(df)(w =>
      df.filter(coalesce(keyColumn(df, w, tz), lit(false))))

  /** Counting-algorithm partial: aggregate `df` with each row weighted
    * by `sign` (+1 insert / −1 delete) — count/sum only (the
    * retractable class).
    */
  private def signedAggregate(df: DataFrame,
      sign: org.apache.spark.sql.Column, groupBy: Seq[String],
      aggs: Seq[AggSpec], keyExprs: Seq[(String, String)],
      tz: Option[String]): DataFrame = {
    val k = keyed(df, keyExprs, tz)
    val signed = aggs.map { a =>
      (a.fn match {
        case "count" if a.isCountStar => sum(sign)
        case "count" =>
          sum(when(keyColumn(k, a.expr, tz).isNotNull, sign)
            .otherwise(lit(0)))
        case "sum" => sum(keyColumn(k, a.expr, tz) * sign)
      }).as(a.out)
    }
    k.groupBy(groupBy.map(col): _*).agg(signed.head, signed.tail: _*)
  }

  /** CREATE: computes the full aggregate, creates the MV table with
    * the definition properties, and records the exact source snapshot
    * the initial state reflects.
    */
  /** Equi-join of two frames on the declared column pairs. */
  private def joinFrames(l: DataFrame, r: DataFrame,
      on: Seq[(String, String)], joinType: String = "inner"): DataFrame =
    l.join(r, on.map { case (lc, rc) => l(lc) === r(rc) }.reduce(_ && _),
      joinType)

  /** A table read pinned at one snapshot (the engine's `snap:` time
    * travel) — every side of an incremental join-delta term must be
    * snapshot-exact or a concurrent append could be double-counted.
    */
  private def pinned(spark: SparkSession, full: String,
      snapId: Long): DataFrame =
    spark.sql(s"SELECT * FROM $full VERSION AS OF 'snap:$snapId'")

  def create(spark: SparkSession, cat: GraftCatalog, ns: String, mv: String,
      srcNs: String, srcTable: String, groupBy: Seq[String],
      aggs: Seq[AggSpec], where: Option[String] = None,
      join: Option[JoinSpec] = None,
      keyExprs: Seq[(String, String)] = Seq.empty,
      extraJoins: Seq[JoinSpec] = Seq.empty): RefreshResult = {
    require(groupBy.nonEmpty && aggs.nonEmpty,
      "materialized view needs group-by columns and aggregates")
    require(extraJoins.isEmpty || join.exists(_.joinType == "inner"),
      "a multi-source (3+ way) view must be an INNER join chain")
    require(extraJoins.forall(_.joinType == "inner"),
      "extra join sides must be INNER joins")
    val src = spark.table(fullName(cat, srcNs, srcTable))
    val snapId = plannedSnapshotId(src)
    val (base2, snap2) = join match {
      case None => (src, None)
      case Some(j) =>
        val right = spark.table(fullName(cat, j.ns, j.table))
        (joinFrames(src, right, j.on, j.joinType),
          Some(plannedSnapshotId(right)))
    }
    // extra sides chain left-deep: each joins the ACCUMULATED frame
    // (its ON left columns may come from any earlier source)
    val (base, extraSnaps) = extraJoins.foldLeft(
        (base2, Seq.empty[Long])) { case ((acc, snaps), j) =>
      val right = spark.table(fullName(cat, j.ns, j.table))
      (joinFrames(acc, right, j.on), snaps :+ plannedSnapshotId(right))
    }
    // pin the CREATING session's zone for the life of the view:
    // date_trunc-style keys, tz-sensitive defining predicates
    // (`hour(ts) = 3`), and tz-sensitive aggregate inputs are all
    // evaluated on every maintenance path — without the pin a
    // refresher (or a served query) under another session zone would
    // bucket/filter/aggregate differently: silent state corruption.
    // Stamped on EVERY view (harmless for zone-insensitive
    // definitions; the rewrite only enforces it per tz-sensitive
    // expression).
    val keyTz: Option[String] =
      Some(spark.conf.get("spark.sql.session.timeZone"))
    keyExprs.foreach { case (n, e) =>
      require(groupBy.exists(_.equalsIgnoreCase(n)),
        s"key expression '$n' must be one of the group-by keys")
      require(!e.contains(";"), s"';' in key expression '$n': $e")
      require(!base.columns.exists(_.equalsIgnoreCase(n)),
        s"key expression '$n' shadows a source column — pick a name " +
          "the source does not use")
      // deterministic or the same row lands in different groups across
      // refreshes (resolve through a projection; the parse also
      // validates the SQL against the source schema up front)
      val resolved = base.select(expr(e).as(n)).queryExecution.analyzed
      require(resolved.expressions.forall(_.deterministic),
        s"key expression '$n' must be deterministic: $e")
    }
    val state =
      aggregate(restrict(base, where, keyTz), groupBy, aggs, keyExprs,
        keyTz)
    // When every group key is NOT NULL and of an equality-delete key
    // type, the state table is MERGE-ON-READ with the group keys as
    // upsert keys: every incremental refresh below is then a MERGE
    // whose write is a small equality-delete (the touched groups'
    // keys) plus the touched groups' new rows — O(delta), never
    // O(view), which is what makes per-document/per-user views
    // (billions of groups at 100 TB) refreshable at the cost of the
    // arriving data. Routine compaction folds the deltas back in (a
    // net-zero op every maintenance path skips). Nullable or
    // non-key-typed group columns can't be equality-delete identifiers
    // (Spark's delta planning needs non-nullable row ids and eq-delete
    // keys must round-trip exactly); they take POSITION-delta MERGE
    // instead — matched state rows identified by (_file, _pos), the
    // write a pos-delete object plus the new rows, still O(delta).
    val eqDeltaKeys = groupBy.forall { k =>
      state.schema.fields.find(_.name.equalsIgnoreCase(k)).exists(f =>
        !f.nullable && graft.format.EqDeleteFiles.supported(f.dataType))
    }
    val props: Map[String, String] =
      Map(SourceNsProp -> srcNs, SourceTableProp -> srcTable,
        GroupByProp -> groupBy.mkString(","),
        AggsProp -> aggs.map(a => s"${a.out}:${a.fn}:${a.expr}")
          .mkString(";"),
        RefreshedSnapshotProp -> snapId.toString,
        RefreshedAtProp -> System.currentTimeMillis().toString) ++
      keyTz.map(TzProp -> _) ++
      (if (keyExprs.isEmpty) Map.empty
       else Map(KeyExprsProp -> formatKeyExprs(keyExprs))) ++
      (if (eqDeltaKeys) Map(
        graft.spark.GraftCatalog.MergeModeProp ->
          graft.spark.GraftCatalog.MergeModeMergeOnReadEq,
        graft.spark.GraftCatalog.UpsertKeysProp ->
          groupBy.mkString(","))
      // nullable or non-key-typed group keys can't be equality-delete
      // identifiers, but they don't need copy-on-write either: POSITION
      // deltas identify matched state rows by (_file, _pos) — both
      // non-nullable metadata — so the refresh MERGE plans as WriteDelta
      // (pos-delete objects + new rows, O(delta)) instead of ReplaceData
      // (runtime group-filter subquery re-executing the source + a full
      // rewrite of every touched state file).
      else Map(
        graft.spark.GraftCatalog.MergeModeProp ->
          graft.spark.GraftCatalog.DeleteModeMergeOnRead)) ++
      where.map(WhereProp -> _) ++
      join.toSeq.flatMap(j => Seq(Join2NsProp -> j.ns,
        Join2TableProp -> j.table, JoinOnProp -> j.onFormatted,
        RefreshedSnapshot2Prop -> snap2.get.toString) ++
        (if (j.joinType == "left") Seq(JoinTypeProp -> "left") else Nil)) ++
      (if (extraJoins.isEmpty) Map.empty
       else Map(JoinsExtraProp -> formatJoinsExtra(extraJoins),
         RefreshedExtraProp -> extraSnaps.mkString(",")))
    // explicit create + append instead of CTAS: Spark's CTAS marks
    // every output column nullable, which would disqualify NOT NULL
    // group keys from the equality-delta state path above. One atomic
    // catalog commit either way (own transaction unless the user has
    // one open).
    // `spark.graft.mv.state.buckets = N` (default 0 = off) HASH-BUCKETS
    // the equality-delta state table on the first group key: refresh
    // merges and — crucially — the auto-compaction fold then scale by
    // TOUCHED BUCKETS (Maintenance.compactTouchedPartitions), so at
    // billions of groups a fold rewrites the buckets the deltas hit,
    // never the whole view. Off by default: small views pay file
    // fan-out per refresh for no benefit.
    val buckets = spark.conf.get("spark.graft.mv.state.buckets", "0").toInt
    val transforms: Array[org.apache.spark.sql.connector.expressions.Transform] =
      if (eqDeltaKeys && buckets > 0)
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .bucket(buckets, groupBy.head))
      else Array.empty
    val ownTxn = !cat.transactionActive
    if (ownTxn) cat.beginTransaction()
    try {
      val cols = state.schema.fields.map(f =>
        org.apache.spark.sql.connector.catalog.Column.create(
          f.name, f.dataType, f.nullable))
      import scala.jdk.CollectionConverters._
      cat.createTable(Identifier.of(Array(ns), mv), cols, transforms,
        props.asJava)
      state.writeTo(fullName(cat, ns, mv)).append()
      if (ownTxn) cat.commitTransaction()
    } catch {
      case e: Throwable =>
        if (ownTxn && cat.transactionActive) cat.rollbackTransaction()
        throw e
    }
    // register on the source(s) so the query-rewrite rule finds the
    // view from the scanned table's own properties (dropped views
    // leave a stale entry; the rule skips entries that fail to load)
    val entry = s"$ns.$mv"
    editDerived(cat, Identifier.of(Array(srcNs), srcTable))(_ :+ entry)
    (join.toSeq ++ extraJoins).foreach(j =>
      editDerived(cat, Identifier.of(Array(j.ns), j.table))(_ :+ entry))
    graft.spark.GraftMvRewrite.invalidate(cat.name(), entry)
    RefreshResult("full",
      countRows(spark, spark.table(fullName(cat, ns, mv))))
  }

  /** DROP: removes the view table AND its entry in the source's
    * derived-views registry (a bare DROP TABLE leaves a stale entry —
    * tolerated by the rewrite rule, but this is the clean path).
    * Dropping through here also stops any in-flight rewrite memoization
    * via the dropTable hook.
    */
  def drop(spark: SparkSession, cat: GraftCatalog,
      ident: Identifier): Boolean = {
    val ns = ident.namespace()(0)
    val mv = ident.name()
    val storage = cat.storage
    val txn = graft.catalog.Graft.beginTransaction(storage)
    val (srcNs, srcT, join2, extras) = try {
      val td = graft.catalog.Graft.describeTable(storage, txn, ns, mv)
      (td.properties.getOrElse(SourceNsProp,
        throw new IllegalArgumentException(
          s"$ns.$mv is not a materialized view (no $SourceNsProp)")),
        td.properties(SourceTableProp),
        td.properties.get(Join2NsProp).map(
          (_, td.properties(Join2TableProp))),
        parseJoinsExtra(td.properties.getOrElse(JoinsExtraProp, null))
          .map(j => (j.ns, j.table)))
    } finally txn.close()
    val dropped = cat.dropTable(ident)
    val sources = Seq((srcNs, srcT)) ++ join2 ++ extras
    sources.foreach { case (sns, st) =>
      try editDerived(cat, Identifier.of(Array(sns), st))(
        _.filterNot(_ == s"$ns.$mv"))
      catch { case _: Exception => () } // source itself gone: nothing
    }
    dropped
  }

  /** REFRESH: merges the range's delta aggregate into the stored
    * state — a group-scoped MERGE whose write cost tracks the TOUCHED
    * groups, never the view — or falls back to a full recompute when
    * the snapshot range can't be maintained. Returns the mode actually
    * taken (`incremental` | `cdc` | `groups` | `full` | `noop`).
    *
    * Concurrency: the state MERGE and the watermark property advance
    * commit as ONE transaction, guarded by an in-transaction watermark
    * compare — a concurrent refresh that already advanced the
    * watermark makes this attempt retry from the new base (its delta
    * was computed against a stale range). Two refreshes racing the
    * commit itself resolve through the engine's optimistic conflict
    * analysis, where concurrent update/update on one table is
    * UNRESOLVABLE — the loser aborts and retries here, so a replayed
    * (non-idempotent) double-merge can never happen.
    */
  def refresh(spark: SparkSession, cat: GraftCatalog,
      ident: Identifier): RefreshResult = {
    // contention budget and backoff are conf'd: under contention
    // heavier than a handful of sessions, a fixed linear backoff has
    // herd members retrying in near-lockstep until the budget runs
    // out — exponential backoff with full jitter de-synchronizes them
    val maxAttempts = spark.conf
      .get("spark.graft.mv.refresh.max-attempts", "8").toInt
    val baseMs = spark.conf
      .get("spark.graft.mv.refresh.backoff-ms", "25").toLong
    def backoff(attempt: Int): Unit = {
      val cap = math.max(1L, baseMs * (1L << math.min(attempt, 6)))
      Thread.sleep(1L +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(cap))
    }
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      try {
        refreshOnce(spark, cat, ident) match {
          case Some(r) => return r
          case None =>
            // a concurrent refresh advanced the watermark — same herd
            // as a lost commit, same backoff before recomputing the
            // delta from the new base
            backoff(attempts)
        }
      } catch {
        case _: graft.txn.CommitFailedException if attempts < maxAttempts =>
          // losing the optimistic commit means a sibling refresh (or
          // any writer) landed first — back off so a herd of
          // refreshers converges instead of spinning in lockstep
          backoff(attempts)
      }
    }
    throw new IllegalStateException(
      s"materialized-view refresh of $ident kept losing to concurrent " +
        s"refreshes after $maxAttempts attempts")
  }

  private def refreshOnce(spark: SparkSession, cat: GraftCatalog,
      ident: Identifier): Option[RefreshResult] = {
    val ns = ident.namespace()(0)
    val mv = ident.name()
    val storage = cat.storage
    val mvFull0 = fullName(cat, ns, mv)
    // read the watermark from a pinned table instance (schema +
    // definition properties together); the race against a concurrent
    // refresh is closed later by re-comparing the watermark INSIDE
    // the commit transaction (stateTxn), not by this read
    val stored = spark.table(mvFull0)
    val mvTable = stored.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.isInstanceOf[graft.spark.GraftTable] =>
        r.table.asInstanceOf[graft.spark.GraftTable]
    }.getOrElse(throw new IllegalArgumentException(
      s"$ns.$mv is not a graft table"))
    val props = {
      import scala.jdk.CollectionConverters._
      mvTable.properties().asScala.toMap
    }
    val srcNs = props.getOrElse(SourceNsProp,
      throw new IllegalArgumentException(
        s"$ns.$mv is not a materialized view (no $SourceNsProp)"))
    val srcT = props(SourceTableProp)
    val groupBy = props(GroupByProp).split(',').toSeq.map(_.trim)
    val aggs = parseAggs(props(AggsProp))
    val keyExprs = parseKeyExprs(props.getOrElse(KeyExprsProp, null))
    // legacy expression-keyed views without the pin evaluate under the
    // refreshing session's zone (pre-pin behavior); pinned views are
    // zone-stable across refreshers
    val keyTz = props.get(TzProp)
    val where = props.get(WhereProp)
    val last = props.get(RefreshedSnapshotProp).map(_.toLong).getOrElse(-1L)

    props.get(JoinsExtraProp).foreach { je =>
      val extra = parseJoinsExtra(je)
      // a watermark list whose arity doesn't match the join list
      // (hand-edited properties, partial copy) must NOT silently zip
      // a join side away — treat every extra watermark as unknown,
      // which makes segmentRange decline and the refresh recompute
      // fully against the REAL definition
      val extraWms = props.get(RefreshedExtraProp)
        .map(_.split(',').toSeq.map(_.trim.toLong))
        .filter(_.size == extra.size)
        .getOrElse(extra.map(_ => -1L))
      return refreshNaryOnce(spark, cat, ns, mv, mvFull0, stored, groupBy,
        aggs, keyExprs, keyTz, where, (srcNs, srcT, last),
        (JoinSpec(props(Join2NsProp), props(Join2TableProp),
            parseJoinOn(props(JoinOnProp))),
          props.get(RefreshedSnapshot2Prop).map(_.toLong).getOrElse(-1L)) +:
          extra.zip(extraWms))
    }
    props.get(Join2NsProp).foreach { jns =>
      return refreshJoinOnce(spark, cat, ns, mv, mvFull0, stored, srcNs, srcT,
        groupBy, aggs, keyExprs, keyTz, where, last,
        props.get(RefreshedSnapshot2Prop).map(_.toLong).getOrElse(-1L),
        JoinSpec(jns, props(Join2TableProp), parseJoinOn(props(JoinOnProp)),
          props.getOrElse(JoinTypeProp, "inner")))
    }

    val txn2 = graft.catalog.Graft.beginTransaction(storage)
    val srcMeta = try {
      val srcTd = graft.catalog.Graft.describeTable(storage, txn2, srcNs, srcT)
      TableMetadata.read(storage, srcTd.metadataLocation)
    } finally txn2.close()
    val curId = srcMeta.currentSnapshotId
    if (curId == last)
      return Some(RefreshResult("noop", countRows(spark, stored)))

    def feedDelta(s0: Long, e0: Long): DataFrame =
      // counting algorithm over the engine's change feed: signed
      // (+insert / -delete) partials aggregated from ONLY the changed
      // rows of (s0, e0]
      signedAggregate(
        restrict(graft.spark.TableChanges.between(spark, cat,
          Identifier.of(Array(srcNs), srcT), s0, e0), where, keyTz),
        when(col(graft.spark.TableChanges.ChangeTypeColumn) === "insert",
          lit(1)).otherwise(lit(-1)),
        groupBy, aggs, keyExprs, keyTz)
    def appendDelta(s0: Long, e0: Long): DataFrame =
      // the engine's own incremental read plans exactly the files
      // appended in (s0, e0] — over an additive segment their RAW
      // rows ARE the row delta
      aggregate(restrict(spark.read
        .option(GraftTable.StartSnapshotOption, s0.toString)
        .option(GraftTable.EndSnapshotOption, e0.toString)
        .table(fullName(cat, srcNs, srcT)), where, keyTz), groupBy, aggs,
        keyExprs, keyTz)

    // segmented maintenance: the main parent chain splits into append
    // segments (file-delta read), net-zero maintenance rewrites
    // (skipped — a compaction never costs a view refresh anything),
    // and retractable segments (change feed). Retraction takes the
    // counting-algorithm path when every aggregate retracts, the
    // GROUP-SCOPED recompute otherwise (min/max: a deleted extremum
    // re-derives from the base data — but only for the groups the
    // range touched, never the corpus). Only an unwalkable range
    // (expired watermark, rollback, overwrite) recomputes fully.
    val segs = segmentRange(storage, srcMeta, last, curId)
    val retracts = segs.exists(_.exists(_.kind == 'C'))

    val mvSchema = stored.schema
    val expect = Seq(RefreshedSnapshotProp -> last.toString)
    val wms = Seq(RefreshedSnapshotProp -> curId.toString)
    def mergePartials(parts: Seq[DataFrame]): DataFrame = parts match {
      case Seq(one) => one
      case many => many.reduce(_ unionByName _)
        .groupBy(groupBy.map(col): _*)
        .agg(aggs.head.merge, aggs.tail.map(_.merge): _*)
    }

    segs match {
      case Some(ss) if !retracts =>
        // pure append (+ skipped net-zero) range: unsigned partials
        val deltas = ss.map(g => appendDelta(g.start, g.end))
        if (deltas.isEmpty)
          commitWatermarkOnly(spark, cat, ns, mv, mvFull0, expect, wms,
            "incremental")
        else commitMerge(spark, cat, ns, mv, mvFull0, mvSchema, groupBy,
          aggs, mergePartials(deltas), signed = false, expect, wms,
          "incremental")
      case Some(ss) if cdcMaintainable(aggs) =>
        // counting algorithm: signed feed partials for retract
        // segments, unsigned file-delta partials for appends — both
        // combine by summing
        val deltas = ss.map {
          case Segment('A', s0, e0) => appendDelta(s0, e0)
          case Segment(_, s0, e0) => feedDelta(s0, e0)
        }
        commitMerge(spark, cat, ns, mv, mvFull0, mvSchema, groupBy, aggs,
          mergePartials(deltas), signed = true, expect, wms, "cdc")
      case Some(ss) =>
        refreshGroups(spark, cat, ns, mv, mvFull0, mvSchema, groupBy, aggs,
          keyExprs, keyTz, where, srcNs, srcT, curId, ss, expect, wms)
      case None =>
        // the watermark comes from the PLANNED scan, not the earlier
        // metadata read — an append landing between the two would
        // otherwise be included in the recompute yet re-merged by the
        // next refresh (double-count)
        val src = spark.table(fullName(cat, srcNs, srcT))
        commitFull(spark, cat, ns, mv, mvFull0, mvSchema,
          aggregate(restrict(src, where, keyTz), groupBy, aggs, keyExprs,
            keyTz),
          expect,
          Seq(RefreshedSnapshotProp -> plannedSnapshotId(src).toString),
          "full")
    }
  }

  /** GROUP-SCOPED recompute — the maintenance path for aggregate sets
    * that cannot retract from the feed (min/max, sums without their
    * companion counts): re-aggregate from the CURRENT source only the
    * groups the range touched, and MERGE them over the state (groups
    * whose last in-domain row vanished are deleted). The touched-group
    * key set is delta-sized; when it fits a bounded driver IN-list the
    * recompute scan carries per-column IN predicates, so file-stat
    * pruning reaches the source scan and a sparse delete re-reads a
    * pruned file subset, never the corpus. Past the cap, an exact
    * null-safe semi-join scopes the scan without driver state.
    */
  private def refreshGroups(spark: SparkSession, cat: GraftCatalog,
      ns: String, mv: String, mvFull: String,
      mvSchema: org.apache.spark.sql.types.StructType, groupBy: Seq[String],
      aggs: Seq[AggSpec], keyExprs: Seq[(String, String)],
      keyTz: Option[String],
      where: Option[String], srcNs: String, srcT: String,
      curId: Long, segs: Seq[Segment], expect: Seq[(String, String)],
      wms: Seq[(String, String)]): Option[RefreshResult] = {
    val srcFull = fullName(cat, srcNs, srcT)
    // keys of every row the range touched: appended rows read as file
    // deltas, retracted segments from the change feed (both restricted
    // by the defining predicate — a row moving across the domain
    // boundary touches its group from whichever side was in-domain)
    val touchedParts = segs.map {
      case Segment('A', s0, e0) =>
        keyed(restrict(spark.read
          .option(GraftTable.StartSnapshotOption, s0.toString)
          .option(GraftTable.EndSnapshotOption, e0.toString)
          .table(srcFull), where, keyTz), keyExprs, keyTz)
          .select(groupBy.map(col): _*)
      case Segment(_, s0, e0) =>
        keyed(restrict(graft.spark.TableChanges.between(spark, cat,
          Identifier.of(Array(srcNs), srcT), s0, e0), where, keyTz),
          keyExprs, keyTz).select(groupBy.map(col): _*)
    }
    if (touchedParts.isEmpty)
      return commitWatermarkOnly(spark, cat, ns, mv, mvFull, expect, wms,
        "groups")
    val touched = touchedParts.reduce(_ union _).distinct()
    // the key collect below, the (possible) semi-join, and the state
    // MERGE's left join each evaluate the touched-key set — persist
    // the delta-sized frame so it computes once, not three times
    touched.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val cap = spark.conf.get("spark.graft.mv.groups.inlist-cap", "1000").toInt
    val keyRows = touched.limit(cap + 1).collect()
    if (keyRows.isEmpty)
      // the range's changes all fell outside the defining predicate:
      // no group touched — advance the watermark and done
      return commitWatermarkOnly(spark, cat, ns, mv, mvFull, expect, wms,
        "groups")
    val inPred = keyInPredicate(groupBy, keyRows, cap)
    // expression keys materialize BEFORE the scope filter (the IN
    // predicate names the key columns); the prune on plain-column keys
    // still pushes past the projection into the scan
    val srcCur = keyed(pinned(spark, srcFull, curId), keyExprs, keyTz)
    val scoped = inPred match {
      // per-column IN lists are a SUPERSET prune (cross product of
      // per-column value sets); exactness is restored by the join
      // against `touched` below. date_trunc expression keys add a
      // RANGE prune on the raw source column (the IN on a derived
      // column cannot reach file statistics) — only here, where
      // keyRows is the COMPLETE touched set.
      case Some(pred) =>
        srcCur.filter(exprKeyRangePreds(spark, groupBy, keyExprs, keyRows,
          srcCur.schema).foldLeft(pred)(_ && _))
      case None => srcCur.join(touched,
        groupBy.map(k => srcCur(k) <=> touched(k)).reduce(_ && _),
        "left_semi")
    }
    // diagnostic (spec-gated): how many source files the group-scoped
    // recompute actually reads — the IN-list prune should reach the
    // scan's file statistics, so a sparse delete re-reads a file
    // subset, never the corpus
    if (spark.conf.get("spark.graft.mv.groups.debug-scan-files",
        "false").toBoolean)
      lastGroupsScanFiles.set(scoped.select(
        countDistinct(col("_file"))).head.getLong(0))
    val recomputed =
      aggregate(restrict(scoped, where, keyTz), groupBy, aggs,
        tz = keyTz)
      .withColumn(PresentCol, lit(true))
    // every touched group LEFT-joined to its recomputed row: a group
    // with no surviving in-domain rows joins nothing (present = false)
    // and is DELETED from the state
    val srcFrame = touched.join(recomputed,
      groupBy.map(k => touched(k) <=> recomputed(k)).reduce(_ && _), "left")
      .select(groupBy.map(k => touched(k).as(k)) ++
        aggs.map(a => recomputed(a.out).as(a.out)) :+
        coalesce(recomputed(PresentCol), lit(false)).as(PresentCol): _*)
    val d = prefixed(srcFrame)
    def dc(n: String) = col(DeltaPrefix + n)
    def t(n: String) = mvSchema(n).dataType
    // same target-scan scoping as commitMerge: on an equality-delta
    // state table, AND the touched keys into the merge condition so
    // the view scan file-prunes and the commit's delete-object count
    // tracks touched files (copy-on-write merges are scoped by
    // Spark's own runtime group filtering and reject the conjunct)
    val prune =
      if (isDeltaMerge(cat, ns, mv)) inPred.toSeq else Seq.empty
    val committed = stateTxn(cat, ns, mv, expect, wms) {
      d.mergeInto(mvFull,
          (groupBy.map(k => col(k) <=> dc(k)) ++ prune).reduce(_ && _))
        .whenMatched(!dc(PresentCol)).delete()
        .whenMatched().update(
          aggs.map(a => a.out -> dc(a.out).cast(t(a.out))).toMap)
        .whenNotMatched(dc(PresentCol)).insert(
          (groupBy.map(k => k -> dc(k).cast(t(k))) ++
            aggs.map(a => a.out -> dc(a.out).cast(t(a.out)))).toMap)
        .merge()
    }
    finish(spark, cat, ns, mv, mvFull, "groups", committed)
    } finally touched.unpersist(false)
  }

  /** REFRESH of a JOIN view: the two-sided delta rule
    * Δ(A⋈B) = ΔA⋈B_cur + A_prev⋈ΔB — every frame snapshot-pinned so a
    * concurrent append is neither lost nor double-counted. Both sides'
    * ranges segment like the single-source path (net-zero maintenance
    * rewrites skipped); any retraction on either side falls back to a
    * full recompute (the counting algorithm is single-source only).
    */
  private def refreshJoinOnce(spark: SparkSession, cat: GraftCatalog,
      ns: String, mv: String, mvFull: String, stored: DataFrame,
      srcNs: String, srcT: String, groupBy: Seq[String],
      aggs: Seq[AggSpec], keyExprs: Seq[(String, String)],
      keyTz: Option[String],
      where: Option[String], lastA: Long,
      lastB: Long, j: JoinSpec): Option[RefreshResult] = {
    val storage = cat.storage
    val txn = graft.catalog.Graft.beginTransaction(storage)
    val (metaA, metaB) = try {
      val a = graft.catalog.Graft.describeTable(storage, txn, srcNs, srcT)
      val b = graft.catalog.Graft.describeTable(storage, txn, j.ns, j.table)
      (TableMetadata.read(storage, a.metadataLocation),
        TableMetadata.read(storage, b.metadataLocation))
    } finally txn.close()
    val curA = metaA.currentSnapshotId
    val curB = metaB.currentSnapshotId
    if (curA == lastA && curB == lastB)
      return Some(RefreshResult("noop", countRows(spark, stored)))
    val aFull = fullName(cat, srcNs, srcT)
    val bFull = fullName(cat, j.ns, j.table)
    val mvSchema = stored.schema
    val segsA = if (curA == lastA) Some(Seq.empty[Segment])
      else segmentRange(storage, metaA, lastA, curA)
    val segsB = if (curB == lastB) Some(Seq.empty[Segment])
      else segmentRange(storage, metaB, lastB, curB)
    val incOk = segsA.exists(_.forall(_.kind == 'A')) &&
      segsB.exists(_.forall(_.kind == 'A'))
    val expect = Seq(RefreshedSnapshotProp -> lastA.toString,
      RefreshedSnapshot2Prop -> lastB.toString)
    // a LEFT-join view whose RIGHT side gained rows must RETRACT the
    // null-extended contribution of left rows that just matched for
    // the first time — retraction needs the counting-algorithm
    // aggregate class; without it, only fact-side-only appends stay
    // incremental
    val rightDelta = segsB.exists(_.nonEmpty)
    val leftNeedsSigned = j.joinType == "left" && rightDelta
    // retractions (deletes/updates) on a JOIN view's sources take the
    // SIGNED BILINEAR rule when the aggregates retract:
    //   Δ(A⋈B) = ΔA_signed ⋈ B_cur  +  A_prev ⋈ ΔB_signed
    // (exact in multiset algebra for INNER joins with signed deltas —
    // appends are +1 rows, feed deletes are −1). A LEFT view adds the
    // NULL-EXTENSION FLIP terms for dim-side changes: with the fact
    // side pinned at prev, only A rows TOUCHED by ΔB's join keys can
    // change match-state, and the flip is
    //   − nullext(touched ▷ B_prev ⋉ B_cur)   (had none, now matched)
    //   + nullext(touched ⋉ B_prev ▷ B_cur)   (had some, now none)
    // — semi/anti joins over the delta's key set, feed-sized, while
    // the matched-contribution changes ride A_prev ⋈ ΔB_signed as in
    // the inner case. ΔA_signed joins with the VIEW's type (⟕ B_cur),
    // which is per-fact-row exact when evaluated against B_cur.
    val retracts = segsA.exists(_.exists(_.kind == 'C')) ||
      segsB.exists(_.exists(_.kind == 'C'))
    val signedOk = segsA.isDefined && segsB.isDefined &&
      cdcMaintainable(aggs)
    if (!incOk && retracts && signedOk) {
      val bCur = pinned(spark, bFull, curB)
      val aPrev = pinned(spark, aFull, lastA)
      val signOf = when(
        col(graft.spark.TableChanges.ChangeTypeColumn) === "insert",
        lit(1)).otherwise(lit(-1))
      def sideParts(full: String, srcIdent: Identifier, segs: Seq[Segment],
          joinTo: DataFrame => DataFrame): Seq[DataFrame] =
        segs.map {
          case Segment('A', s0, e0) =>
            signedAggregate(restrict(joinTo(spark.read
              .option(GraftTable.StartSnapshotOption, s0.toString)
              .option(GraftTable.EndSnapshotOption, e0.toString)
              .table(full)), where, keyTz), lit(1), groupBy, aggs,
              keyExprs, keyTz)
          case Segment(_, s0, e0) =>
            signedAggregate(restrict(joinTo(
              graft.spark.TableChanges.between(spark, cat, srcIdent,
                s0, e0)), where, keyTz), signOf, groupBy, aggs, keyExprs,
              keyTz)
        }
      // LEFT views: null-extension flips for the A rows whose match
      // state crossed zero — scoped to ΔB's join-key set, so a sparse
      // dim delete costs the touched facts, never the corpus
      val flips: Seq[DataFrame] =
        if (j.joinType != "left" || segsB.get.isEmpty) Seq.empty
        else {
          val bPrevF = pinned(spark, bFull, lastB)
          val dbKeys = segsB.get.map {
            case Segment('A', s0, e0) => spark.read
              .option(GraftTable.StartSnapshotOption, s0.toString)
              .option(GraftTable.EndSnapshotOption, e0.toString)
              .table(bFull)
            case Segment(_, s0, e0) =>
              graft.spark.TableChanges.between(spark, cat,
                Identifier.of(Array(j.ns), j.table), s0, e0)
          }.map(_.select(j.on.map { case (_, rc) => col(rc) }: _*))
            .reduce(_ union _).distinct()
          val touched = aPrev.join(dbKeys,
            j.on.map { case (lc, rc) => aPrev(lc) === dbKeys(rc) }
              .reduce(_ && _), "left_semi")
          def matchJoin(f: DataFrame, b: DataFrame, how: String) =
            f.join(b, j.on.map { case (lc, rc) => f(lc) === b(rc) }
              .reduce(_ && _), how)
          def nullExt(f: DataFrame): DataFrame =
            bPrevF.schema.fields.foldLeft(f)((f2, fld) =>
              f2.withColumn(fld.name, lit(null).cast(fld.dataType)))
          val gained =
            matchJoin(matchJoin(touched, bPrevF, "left_anti"), bCur,
              "left_semi")
          val lost =
            matchJoin(matchJoin(touched, bPrevF, "left_semi"), bCur,
              "left_anti")
          Seq(
            signedAggregate(restrict(nullExt(gained), where, keyTz),
              lit(-1),
              groupBy, aggs, keyExprs, keyTz),
            signedAggregate(restrict(nullExt(lost), where, keyTz),
              lit(1),
              groupBy, aggs, keyExprs, keyTz))
        }
      val parts =
        sideParts(aFull, Identifier.of(Array(srcNs), srcT), segsA.get,
          d => joinFrames(d, bCur, j.on, j.joinType)) ++
        sideParts(bFull, Identifier.of(Array(j.ns), j.table), segsB.get,
          d => joinFrames(aPrev, d, j.on)) ++ flips
      val wms = Seq(RefreshedSnapshotProp -> curA.toString,
        RefreshedSnapshot2Prop -> curB.toString)
      return {
        if (parts.isEmpty)
          commitWatermarkOnly(spark, cat, ns, mv, mvFull, expect, wms, "cdc")
        else {
          val delta = parts match {
            case Seq(one) => one
            case many => many.reduce(_ unionByName _)
              .groupBy(groupBy.map(col): _*)
              .agg(aggs.head.merge, aggs.tail.map(_.merge): _*)
          }
          commitMerge(spark, cat, ns, mv, mvFull, mvSchema, groupBy, aggs,
            delta, signed = true, expect, wms, "cdc")
        }
      }
    }
    if (incOk && (!leftNeedsSigned || cdcMaintainable(aggs))) {
      def deltaOf(full: String, segs: Seq[Segment]): Option[DataFrame] =
        segs.map(g => spark.read
          .option(GraftTable.StartSnapshotOption, g.start.toString)
          .option(GraftTable.EndSnapshotOption, g.end.toString)
          .table(full)).reduceOption(_ unionAll _)
      val dA = deltaOf(aFull, segsA.get)
      val dB = deltaOf(bFull, segsB.get)
      val bCur = pinned(spark, bFull, curB)
      val aPrev = pinned(spark, aFull, lastA)
      // an append to one side joins only ITS delta against the
      // other side — at 100 TB a delta-sized join, never a corpus
      // re-join. ΔA joins B_cur with the VIEW's join type (a left
      // view null-extends its unmatched new facts); ΔB always joins
      // inner (old facts gaining matches).
      val plus =
        dA.map(d => aggregate(
          restrict(joinFrames(d, bCur, j.on, j.joinType), where, keyTz),
          groupBy, aggs, keyExprs, keyTz)).toSeq ++
        dB.map(d => aggregate(
          restrict(joinFrames(aPrev, d, j.on), where, keyTz),
          groupBy, aggs, keyExprs, keyTz)).toSeq
      // retraction term: left rows matching ΔB but nothing in B_prev
      // were previously stored null-extended — aggregate them with the
      // right side's columns as NULLs and subtract
      val bPrev = pinned(spark, bFull, lastB)
      val minus =
        if (!leftNeedsSigned) Seq.empty
        else dB.toSeq.map { d =>
          val touched = aPrev.join(d,
            j.on.map { case (lc, rc) => aPrev(lc) === d(rc) }
              .reduce(_ && _), "left_semi")
          val newlyMatched = touched.join(bPrev,
            j.on.map { case (lc, rc) => touched(lc) === bPrev(rc) }
              .reduce(_ && _), "left_anti")
          val nullExtended = bPrev.schema.fields.foldLeft(newlyMatched)(
            (f2, f) => f2.withColumn(f.name, lit(null).cast(f.dataType)))
          val agged = aggregate(
            restrict(nullExtended, where, keyTz), groupBy,
            aggs, keyExprs, keyTz)
          agged.select(groupBy.map(col) ++
            aggs.map(a => (col(a.out) * lit(-1)).cast(
              agged.schema(a.out).dataType).as(a.out)): _*)
        }
      val parts = plus ++ minus
      val wms = Seq(RefreshedSnapshotProp -> curA.toString,
        RefreshedSnapshot2Prop -> curB.toString)
      if (parts.isEmpty)
        commitWatermarkOnly(spark, cat, ns, mv, mvFull, expect, wms,
          "incremental")
      else {
        val delta = parts match {
          case Seq(one) => one
          case many => many.reduce(_ unionByName _)
            .groupBy(groupBy.map(col): _*)
            .agg(aggs.head.merge, aggs.tail.map(_.merge): _*)
        }
        commitMerge(spark, cat, ns, mv, mvFull, mvSchema, groupBy, aggs,
          delta, signed = leftNeedsSigned, expect, wms, "incremental")
      }
    } else {
      val a = spark.table(aFull)
      val b = spark.table(bFull)
      commitFull(spark, cat, ns, mv, mvFull, mvSchema,
        aggregate(
          restrict(joinFrames(a, b, j.on, j.joinType), where, keyTz),
          groupBy, aggs, keyExprs, keyTz),
        expect,
        Seq(RefreshedSnapshotProp -> plannedSnapshotId(a).toString,
          RefreshedSnapshot2Prop -> plannedSnapshotId(b).toString),
        "full")
    }
  }

  /** REFRESH of a MULTI-SOURCE (≥3-way) INNER join view: the n-ary
    * bilinear rule. With sides S1..Sn each transitioning prev_i →
    * cur_i, the delta telescopes over the transition order:
    *   Δ(S1⋈...⋈Sn) = Σ_i  S1_prev ⋈ ... ⋈ S(i-1)_prev ⋈ ΔSi ⋈
    *                       S(i+1)_cur ⋈ ... ⋈ Sn_cur
    * (T_{i-1} − T_i where T_i pins sides ≤ i at prev — the sum is
    * exact in multiset algebra by multilinearity of the inner
    * equi-join). Each term joins ONE side's delta (file-delta read
    * for appends, signed change feed for retractions) against the
    * other sides pinned at their prev/cur snapshots — at 100 TB a
    * star-schema rollup (fact ⋈ dim1 ⋈ dim2) refreshes any side's
    * append at delta-join cost, never a corpus re-join. Retractions
    * on ANY side ride the same terms with signed partials when every
    * aggregate retracts ([[cdcMaintainable]]); otherwise (min/max
    * under deletes) the honest answer is a full recompute — the
    * single-source group-scoped path does not generalize to n sides
    * cheaply, and pretending otherwise would re-join the corpus
    * anyway.
    */
  private def refreshNaryOnce(spark: SparkSession, cat: GraftCatalog,
      ns: String, mv: String, mvFull: String, stored: DataFrame,
      groupBy: Seq[String], aggs: Seq[AggSpec],
      keyExprs: Seq[(String, String)], keyTz: Option[String],
      where: Option[String], primary: (String, String, Long),
      joins: Seq[(JoinSpec, Long)]): Option[RefreshResult] = {
    val storage = cat.storage
    val names: Seq[(String, String)] =
      (primary._1, primary._2) +: joins.map(j => (j._1.ns, j._1.table))
    val lasts: Seq[Long] = primary._3 +: joins.map(_._2)
    val txn = graft.catalog.Graft.beginTransaction(storage)
    val metas = try names.map { case (sns, st) =>
      TableMetadata.read(storage,
        graft.catalog.Graft.describeTable(storage, txn, sns, st)
          .metadataLocation)
    } finally txn.close()
    val curs = metas.map(_.currentSnapshotId)
    if (curs == lasts)
      return Some(RefreshResult("noop", countRows(spark, stored)))
    val fulls = names.map { case (sns, st) => fullName(cat, sns, st) }
    val mvSchema = stored.schema
    def watermarkProps(ids: Seq[Long]): Seq[(String, String)] =
      Seq(RefreshedSnapshotProp -> ids(0).toString,
        RefreshedSnapshot2Prop -> ids(1).toString,
        RefreshedExtraProp -> ids.drop(2).mkString(","))
    val expect = watermarkProps(lasts)
    val wmsNew = watermarkProps(curs)
    val segsAll: Seq[Option[Seq[Segment]]] = names.indices.map { i =>
      if (curs(i) == lasts(i)) Some(Seq.empty)
      else segmentRange(storage, metas(i), lasts(i), curs(i))
    }
    val retracts = segsAll.exists(_.exists(_.exists(_.kind == 'C')))
    def chained(frames: Seq[DataFrame]): DataFrame =
      frames.zipWithIndex.tail.foldLeft(frames.head) {
        case (acc, (f, idx)) => joinFrames(acc, f, joins(idx - 1)._1.on)
      }
    if (segsAll.forall(_.isDefined) &&
        (!retracts || cdcMaintainable(aggs))) {
      val signOf = when(
        col(graft.spark.TableChanges.ChangeTypeColumn) === "insert",
        lit(1)).otherwise(lit(-1))
      val parts: Seq[DataFrame] = names.indices.flatMap { i =>
        segsAll(i).get.map { seg =>
          val delta = seg match {
            case Segment('A', s0, e0) => spark.read
              .option(GraftTable.StartSnapshotOption, s0.toString)
              .option(GraftTable.EndSnapshotOption, e0.toString)
              .table(fulls(i))
            case Segment(_, s0, e0) =>
              graft.spark.TableChanges.between(spark, cat,
                Identifier.of(Array(names(i)._1), names(i)._2), s0, e0)
          }
          val frames = names.indices.map { j =>
            if (j < i) pinned(spark, fulls(j), lasts(j))
            else if (j > i) pinned(spark, fulls(j), curs(j))
            else delta
          }
          val joined = restrict(chained(frames), where, keyTz)
          if (!retracts) aggregate(joined, groupBy, aggs, keyExprs, keyTz)
          else signedAggregate(joined,
            if (seg.kind == 'A') lit(1) else signOf,
            groupBy, aggs, keyExprs, keyTz)
        }
      }
      val mode = if (retracts) "cdc" else "incremental"
      if (parts.isEmpty)
        commitWatermarkOnly(spark, cat, ns, mv, mvFull, expect, wmsNew, mode)
      else {
        val delta = parts match {
          case Seq(one) => one
          case many => many.reduce(_ unionByName _)
            .groupBy(groupBy.map(col): _*)
            .agg(aggs.head.merge, aggs.tail.map(_.merge): _*)
        }
        commitMerge(spark, cat, ns, mv, mvFull, mvSchema, groupBy, aggs,
          delta, signed = retracts, expect, wmsNew, mode)
      }
    } else {
      val frames = fulls.map(spark.table)
      commitFull(spark, cat, ns, mv, mvFull, mvSchema,
        aggregate(restrict(chained(frames), where, keyTz), groupBy, aggs,
          keyExprs, keyTz),
        expect, watermarkProps(frames.map(plannedSnapshotId)), "full")
    }
  }

  private val DeltaPrefix = "__mvd_"
  private val PresentCol = "__mv_present"

  /** Last group-scoped recompute's distinct source files read
    * (diagnostic, populated only under
    * `spark.graft.mv.groups.debug-scan-files`).
    */
  private[graft] val lastGroupsScanFiles =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Does the view's state table MERGE as a DELTA (equality-delete or
    * position-delete write)? Both plan as WriteDelta, whose target scan
    * accepts the touched-key conjunct for file-stat pruning; only
    * copy-on-write (ReplaceData) rejects it and scopes via Spark's own
    * runtime group filtering instead.
    */
  private def isDeltaMerge(cat: GraftCatalog, ns: String, mv: String): Boolean = {
    val p = cat.loadTable(Identifier.of(Array(ns), mv)).properties()
      .get(graft.spark.GraftCatalog.MergeModeProp)
    graft.spark.GraftCatalog.MergeModeMergeOnReadEq == p ||
      graft.spark.GraftCatalog.DeleteModeMergeOnRead == p
  }

  /** Bounded per-column IN predicate over the TARGET-side group key
    * columns for a collected key set: a SUPERSET prune (cross product
    * of per-column value sets, nulls via IS NULL) that file statistics
    * can push into a scan. None when the set exceeds `cap` (callers
    * fall back to an exact semi-join or an unpruned merge).
    */
  private def keyInPredicate(groupBy: Seq[String],
      keyRows: Array[org.apache.spark.sql.Row],
      cap: Int): Option[org.apache.spark.sql.Column] =
    if (keyRows.isEmpty || keyRows.length > cap) None
    else Some(groupBy.indices.map { i =>
      val vals = keyRows.map(_.get(i)).distinct.toSeq
      val nn = vals.filter(_ != null)
      val inC = if (nn.nonEmpty) Seq(col(groupBy(i)).isin(nn: _*)) else Nil
      val nullC =
        if (vals.contains(null)) Seq(col(groupBy(i)).isNull) else Nil
      (inC ++ nullC).reduceOption(_ || _).getOrElse(lit(false))
    }.reduce(_ && _))

  private def prefixed(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(DeltaPrefix + c)).toSeq: _*)

  /** For time-derived expression keys — `date_trunc(lvl, col)`,
    * `to_date(col)`, `year(col)` — SUPERSET range predicates on the
    * RAW source column derived from the touched bucket values: file
    * statistics can push a plain-column range where an IN on the
    * derived key column cannot, so a group-scoped recompute on a
    * time-bucketed view re-reads the touched days' files, never the
    * corpus. Bucket width over-approximates generously (tz/DST-safe);
    * exactness is restored by the caller's join against the
    * touched-key set. Callers must pass the COMPLETE touched-key row
    * set (a truncated set would not be a superset) and the source
    * schema (the literals must match the raw column's type — DATE
    * columns get DATE bounds, or the cast would defeat the file-stat
    * push). `month(col)`/`dayofweek(col)`-style CYCLIC keys are not
    * range-expressible on the raw column and get no prune.
    */
  private def exprKeyRangePreds(spark: SparkSession, groupBy: Seq[String],
      keyExprs: Seq[(String, String)],
      keyRows: Array[org.apache.spark.sql.Row],
      srcSchema: org.apache.spark.sql.types.StructType)
      : Seq[org.apache.spark.sql.Column] =
    keyExprs.flatMap { case (name, sql) =>
      val idx = groupBy.indexWhere(_.equalsIgnoreCase(name))
      // (source column, lower slack ms, upper slack ms, value → ms)
      val HourMs = 3600L * 1000
      val DayMs = 24L * HourMs
      def timeMs(v: Any): Option[Long] = v match {
        case t: java.sql.Timestamp => Some(t.getTime)
        case i: java.time.Instant => Some(i.toEpochMilli)
        case d: java.sql.Date => Some(d.toLocalDate.toEpochDay * DayMs)
        case d: java.time.LocalDate => Some(d.toEpochDay * DayMs)
        case _ => None
      }
      def yearMs(v: Any): Option[Long] = v match {
        case y: java.lang.Integer =>
          try Some(java.time.LocalDate.of(y, 1, 1).toEpochDay * DayMs)
          catch { case scala.util.control.NonFatal(_) => None }
        case _ => None
      }
      val shape: Option[(String, Long, Long, Any => Option[Long])] =
        if (idx < 0) None
        else (try Some(spark.sessionState.sqlParser.parseExpression(sql))
        catch { case scala.util.control.NonFatal(_) => None }).flatMap {
          case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
              if !f.isDistinct && f.filter.isEmpty =>
            val fn = f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
            (fn, f.arguments) match {
              case ("date_trunc",
                  Seq(org.apache.spark.sql.catalyst.expressions.Literal(
                    lvl: org.apache.spark.unsafe.types.UTF8String,
                    org.apache.spark.sql.types.StringType),
                  ua: org.apache.spark.sql.catalyst.analysis
                    .UnresolvedAttribute)) =>
                val slackHours: Long = graft.spark.GraftMvRewrite
                    .normTruncLevel(lvl.toString) match {
                  case "microsecond" | "millisecond" | "second" |
                       "minute" => 1L
                  case "hour" => 2L
                  case "day" => 26L
                  case "week" => 8L * 24
                  case "month" => 32L * 24
                  case "quarter" => 93L * 24
                  case "year" => 367L * 24
                  case _ => -1L
                }
                if (slackHours < 0) None
                else Some((ua.nameParts.last, 2 * HourMs,
                  slackHours * HourMs, timeMs _))
              case ("to_date" | "date",
                  Seq(ua: org.apache.spark.sql.catalyst.analysis
                    .UnresolvedAttribute)) =>
                // bucket value = the raw value's LOCAL date in the
                // evaluation zone: raw instants lie within ±14h of
                // the date's UTC midnight — 26h/50h slack covers any
                // zone with margin
                Some((ua.nameParts.last, 26 * HourMs, 50 * HourMs,
                  timeMs _))
              case ("year",
                  Seq(ua: org.apache.spark.sql.catalyst.analysis
                    .UnresolvedAttribute)) =>
                Some((ua.nameParts.last, 26 * HourMs,
                  367 * 24 * HourMs, yearMs _))
              case _ => None
            }
          case _ => None
        }
      shape.flatMap { case (srcCol, loSlack, hiSlack, toMs) =>
        srcSchema.fields.find(_.name.equalsIgnoreCase(srcCol))
          .flatMap { field =>
          val vals = keyRows.map(_.get(idx)).toSeq
          val hasNull = vals.contains(null)
          val ms = vals.filter(_ != null).map(toMs)
          if (ms.exists(_.isEmpty)) None // unexpected value type: no prune
          else if (ms.isEmpty)
            if (hasNull) Some(col(srcCol).isNull) else None
          else {
            val loMs = ms.flatten.min - loSlack
            val hiMs = ms.flatten.max + hiSlack
            // bounds in the RAW column's own type, so the comparison
            // stays a plain column-vs-literal file statistics can use
            val bounds: Option[(org.apache.spark.sql.Column,
                org.apache.spark.sql.Column)] = field.dataType match {
              case org.apache.spark.sql.types.TimestampType =>
                Some((lit(new java.sql.Timestamp(loMs)),
                  lit(new java.sql.Timestamp(hiMs))))
              case org.apache.spark.sql.types.DateType =>
                def d(m: Long, up: Boolean) = lit(java.sql.Date.valueOf(
                  java.time.LocalDate.ofEpochDay(
                    Math.floorDiv(m, DayMs) + (if (up) 2 else -2))))
                Some((d(loMs, up = false), d(hiMs, up = true)))
              case _ => None
            }
            bounds.map { case (lo, hi) =>
              val rng = col(srcCol) >= lo && col(srcCol) < hi
              if (hasNull) rng || col(srcCol).isNull else rng
            }
          }
        }
      }
    }

  /** Run `body` (the state write) plus the watermark property advance
    * as ONE atomic catalog commit — a crash or interleaved refresh
    * between them would pair a state with the wrong watermark, and the
    * next refresh would re-merge (double-count) or skip a delta. The
    * watermark is re-read INSIDE the transaction and compared to the
    * one the caller's delta was computed against; on mismatch the
    * attempt rolls back and reports false (the caller retries from the
    * new base). An already-open user transaction is joined, not
    * nested — the pairing then commits with the user's own atomicity.
    */
  private def stateTxn(cat: GraftCatalog, ns: String, mv: String,
      expect: Seq[(String, String)], watermarks: Seq[(String, String)])(
      body: => Unit): Boolean = {
    val ident = Identifier.of(Array(ns), mv)
    val ownTxn = !cat.transactionActive
    if (ownTxn) cat.beginTransaction()
    try {
      val now = cat.loadTable(ident).properties()
      val stale = expect.exists { case (k, v) =>
        Option(now.get(k)).getOrElse("-1") != v }
      if (stale) {
        if (ownTxn) cat.rollbackTransaction()
        false
      } else {
        body
        val stamped = watermarks :+
          (RefreshedAtProp -> System.currentTimeMillis().toString)
        cat.alterTable(ident, stamped.map { case (k, v) =>
          TableChange.setProperty(k, v): TableChange }: _*)
        if (ownTxn) cat.commitTransaction()
        true
      }
    } catch {
      case e: Throwable =>
        if (ownTxn && cat.transactionActive) cat.rollbackTransaction()
        throw e
    }
  }

  /** The reported view row count is ITSELF a read of the state —
    * O(view) on a billion-group view. Operators of corpus-scale views
    * disable it (`spark.graft.mv.refresh.count-rows = false` → -1);
    * the refresh's own work never depends on it.
    */
  private def countRows(spark: SparkSession, df: => DataFrame): Long =
    if (spark.conf.get("spark.graft.mv.refresh.count-rows", "true")
        .toBoolean) df.count()
    else -1L

  private def finish(spark: SparkSession, cat: GraftCatalog, ns: String,
      mv: String, mvFull: String, mode: String,
      committed: Boolean): Option[RefreshResult] =
    if (!committed) None
    else {
      graft.spark.GraftMvRewrite.invalidate(cat.name(), s"$ns.$mv")
      maybeCompactState(spark, cat, ns, mv)
      Some(RefreshResult(mode, countRows(spark, spark.table(mvFull))))
    }

  /** Bounded read amplification on the serving path: every
    * equality-delta refresh leaves one small delete object (plus data
    * file) pending on the state table, and a reader merges all of
    * them. Past `spark.graft.mv.compact-after-deletes` pending delete
    * objects (default 32, 0 disables) the refresh folds them with a
    * standard compaction — a net-zero op every maintenance path
    * skips, so it never costs a downstream refresh anything.
    * Best-effort and skipped inside a user transaction (compaction is
    * an independent maintenance commit, not part of the user's
    * atomicity).
    */
  private def maybeCompactState(spark: SparkSession, cat: GraftCatalog,
      ns: String, mv: String): Unit = {
    val threshold = spark.conf
      .get("spark.graft.mv.compact-after-deletes", "32").toInt
    if (threshold <= 0 || cat.transactionActive) return
    val storage = cat.storage
    val txn = graft.catalog.Graft.beginTransaction(storage)
    val pending = try {
      val td = graft.catalog.Graft.describeTable(storage, txn, ns, mv)
      val meta = TableMetadata.read(storage, td.metadataLocation)
      meta.currentSnapshot.map(s =>
        s.deletes.size + s.posDeletes.size + s.eqDeletes.size).getOrElse(0)
    } finally txn.close()
    if (pending >= threshold)
      try {
        val ident = Identifier.of(Array(ns), mv)
        // bucketed state: fold only the buckets the pending delete
        // keys can touch; unpartitioned state folds fully
        if (Maintenance.compactTouchedPartitions(spark, cat, ident).isEmpty)
          Maintenance.compactDataFiles(spark, cat, ident)
        ()
      } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Net-zero range (compaction-only): nothing to merge — advance the
    * watermark and done.
    */
  private def commitWatermarkOnly(spark: SparkSession, cat: GraftCatalog,
      ns: String, mv: String, mvFull: String, expect: Seq[(String, String)],
      watermarks: Seq[(String, String)], mode: String): Option[RefreshResult] =
    finish(spark, cat, ns, mv, mvFull, mode,
      stateTxn(cat, ns, mv, expect, watermarks) {})

  /** MERGE a delta-sized grouped frame into the state: matched groups
    * combine in place, new groups insert — the write is the touched
    * groups' keys (equality delete) plus their new rows, O(delta).
    * `signed = true` is the counting algorithm's contract: count/sum
    * partials may be negative, a group whose row count reaches zero is
    * DELETED, and a sum whose matching non-null count reached zero is
    * NULL again (signed arithmetic alone would leave 0 behind).
    *
    * The null-aware combine `coalesce(a + b, a, b)` is the aggregate's
    * own partial-merge: both null → null (an all-null group), one null
    * → the other, else the sum. Merged values widen (DECIMAL(p,s) + →
    * p+1) and are cast back to the view's declared column types.
    */
  private def commitMerge(spark: SparkSession, cat: GraftCatalog,
      ns: String, mv: String, mvFull: String,
      mvSchema: org.apache.spark.sql.types.StructType, groupBy: Seq[String],
      aggs: Seq[AggSpec], delta: DataFrame, signed: Boolean,
      expect: Seq[(String, String)], watermarks: Seq[(String, String)],
      mode: String): Option[RefreshResult] = {
    val d = prefixed(delta)
    def dc(n: String) = col(DeltaPrefix + n)
    def t(n: String) = mvSchema(n).dataType
    def comb(out: String) = coalesce(col(out) + dc(out), col(out), dc(out))
    def pairedOf(sm: AggSpec): AggSpec = aggs.find(c =>
      c.fn == "count" && !c.isCountStar && c.expr == sm.expr).get
    // scope the merge's TARGET scan (equality-delta state tables
    // only): when the delta's key set fits the bounded driver
    // IN-list, AND the keys into the merge condition as a target-only
    // conjunct — semantically a no-op (a state row outside the list
    // matches no delta row, and there are no not-matched-by-source
    // clauses), but the optimizer pushes it below the join into the
    // view scan, where file statistics prune. The refresh's view-side
    // READ then costs the touched state files, not the view — the
    // read-side mirror of the O(delta) write — AND the merge's task
    // count tracks touched files, so one commit leaves a handful of
    // delete objects instead of one per view partition. Costs one
    // bounded extra pass over the (delta-sized) grouped frame.
    // Copy-on-write state tables skip this: Spark's own row-level
    // runtime group filtering already scopes their rewrite (and its
    // planner rejects exotic extra conjuncts in the merge condition).
    val cap = spark.conf.get("spark.graft.mv.groups.inlist-cap", "1000").toInt
    val deltaMerge = isDeltaMerge(cat, ns, mv)
    // EVERY merge evaluates the delta at least twice — eq-delta state:
    // the key collect below plus the MERGE; copy-on-write state:
    // Spark's runtime group-filtering subquery (which files hold
    // matched groups) re-executes the ENTIRE source plan, then the
    // merge join executes it again. The delta is feed-sized by
    // construction (that is the refresh's contract), its plan is a
    // deep telescoping join/aggregate chain (20+ AQE stages for an
    // n-ary cdc term), so persist it: the chain runs once and both
    // consumers read the materialized rows. Profiled on c73: the cdc
    // merge dropped from 23 sequential query stages to the cached
    // scan + join + write.
    delta.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val targetPrune: Option[org.apache.spark.sql.Column] =
      if (!deltaMerge) None
      else {
        val keyRows = delta.select(groupBy.map(col): _*)
          .limit(cap + 1).collect()
        if (keyRows.isEmpty) None
        else keyInPredicate(groupBy, keyRows, cap)
      }
    val cond = targetPrune.foldLeft(
      groupBy.map(k => col(k) <=> dc(k)).reduce(_ && _))(_ && _)
    val committed = stateTxn(cat, ns, mv, expect, watermarks) {
      val w = d.mergeInto(mvFull, cond)
      val writer =
        if (!signed) w.whenMatched().update(aggs.map { a =>
            a.out -> (a.fnBase match {
              case "count" | "sum" => comb(a.out)
              case "min" => least(col(a.out), dc(a.out))
              case "max" => greatest(col(a.out), dc(a.out))
              // sketch union is the aggregate's own combine; coalesce
              // because an all-null group's partial sketch is NULL
              case "hll" => coalesce(
                hll_union(col(a.out), dc(a.out)), col(a.out), dc(a.out))
            }).cast(t(a.out))
          }.toMap)
          .whenNotMatched().insert(
            (groupBy.map(k => k -> dc(k).cast(t(k))) ++
              aggs.map(a => a.out -> dc(a.out).cast(t(a.out)))).toMap)
        else {
          val rowCnt = aggs.find(_.isCountStar).get.out
          w.whenMatched(comb(rowCnt) <= 0).delete()
            .whenMatched().update(aggs.map { a =>
              a.out -> (a.fn match {
                case "count" => comb(a.out)
                case _ => when(comb(pairedOf(a).out) === 0, lit(null))
                  .otherwise(comb(a.out))
              }).cast(t(a.out))
            }.toMap)
            .whenNotMatched(dc(rowCnt) > 0).insert(
              (groupBy.map(k => k -> dc(k).cast(t(k))) ++
                aggs.map { a =>
                  a.out -> (a.fn match {
                    case "count" => dc(a.out)
                    case _ => when(dc(pairedOf(a).out) === 0, lit(null))
                      .otherwise(dc(a.out))
                  }).cast(t(a.out))
                }).toMap)
        }
      writer.merge()
    }
    finish(spark, cat, ns, mv, mvFull, mode, committed)
    } finally delta.unpersist(false)
  }

  /** Full-recompute commit: overwrite the whole state (the recompute
    * IS the view — the one path whose write is O(view), taken only
    * when no incremental path applies).
    */
  private def commitFull(spark: SparkSession, cat: GraftCatalog,
      ns: String, mv: String, mvFull: String,
      mvSchema: org.apache.spark.sql.types.StructType, next: DataFrame,
      expect: Seq[(String, String)], watermarks: Seq[(String, String)],
      mode: String): Option[RefreshResult] = {
    val aligned = next.select(mvSchema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    finish(spark, cat, ns, mv, mvFull, mode,
      stateTxn(cat, ns, mv, expect, watermarks) {
        aligned.writeTo(mvFull).overwrite(lit(true))
      })
  }
}
