package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, expr, greatest, least, lit, when}

/** The changelog CONSUMER pattern: maintain a derived aggregate from
  * [[GraftTable.changelogScan]] deltas instead of recomputing it from
  * the full table — the incremental-materialization half of CDC
  * (checkpoint a snapshot id, read the changelog forward from it,
  * fold the delta into the materialization, repeat).
  *
  * Scope: ADDITIVE aggregates (count / sum families) fold with keyed
  * arithmetic alone — a delete is exactly a negated insert.
  * NON-ADDITIVE aggregates (min/max, distinct counts) need retraction
  * handling: [[applyMinMax]] folds insert-only keys arithmetically and
  * recomputes delete-touched keys from the base (churn-sized state,
  * never a table-sized aggregate); [[applyCountDistinct]] recomputes
  * every touched key (no per-value-free fold exists for distinct).
  *
  * Scale: the update is one keyed aggregation over the CHANGES (sized
  * by churn, not by table) and one keyed outer join against the
  * previous materialization — both map-side-combinable shuffles on
  * the group keys. A 100 TB table with a 1 GB daily delta pays 1 GB,
  * never 100 TB; groups whose counts return to zero drop out so the
  * materialization never accretes tombstones. */
object ChangelogApply {

  /** Null-safe keyed join. SQL GROUP BY treats NULL as a group, so
    * every state join in the fold family must treat NULL keys as EQUAL
    * — a plain name join silently drops them, splitting (or losing)
    * the NULL-key group's state. Spark's using-column joins compile to
    * EqualTo, so the condition is built explicitly with `<=>`; for the
    * row-producing join kinds the two key column sets are coalesced
    * back into one (exactly what a using-join outputs), while
    * left_semi/left_anti keep the left side verbatim. Aliases make the
    * condition unambiguous when both inputs derive from the same
    * lineage (insert-side vs delete-side of one changelog). */
  private[engine] def nullSafeJoin(
      left: DataFrame, right: DataFrame,
      keys: Seq[String], how: String): DataFrame = {
    // keyless state (a GLOBAL aggregate's single row): no key columns
    // to null-safe over — the empty using-columns join (1×1 cross) is
    // exactly the pre-keyed semantics
    if (keys.isEmpty) return left.join(right, Seq.empty[String], how)
    val l = left.alias("__nsl")
    val r = right.alias("__nsr")
    val cond = keys.map(k => col(s"__nsl.$k") <=> col(s"__nsr.$k")).reduce(_ && _)
    how match {
      case "left_semi" | "left_anti" => l.join(r, cond, how)
      case _ =>
        val keyCols = keys.map(k =>
          coalesce(col(s"__nsl.$k"), col(s"__nsr.$k")).as(k))
        val lRest = left.columns.filterNot(keys.contains)
          .map(c => col(s"__nsl.$c"))
        val rRest = right.columns.filterNot(keys.contains)
          .map(c => col(s"__nsr.$c"))
        l.join(r, cond, how).select(keyCols ++ lRest ++ rRest: _*)
    }
  }

  /** Read-pruning predicate for the previous-state scan: per-key
    * min/max (+ NULL-presence) bounds of the TOUCHED keys, pushed down
    * to the DSv2 scan so a localized churn reads candidate files via
    * manifest-stats pruning instead of the whole materialization — the
    * read-side twin of the churn-sized [[GraftTable.replaceKeys]]
    * write. NARROWING only: rows outside the touched bounds cannot be
    * touched keys, and the null-safe semi-join against `touched` stays
    * the exactness gate. One churn-sized aggregation evaluates the
    * touched frame once more than the fold (persist upstream — the
    * tick sites do). */
  private[engine] def touchedBoundsFilter(
      touched: DataFrame, keys: Seq[String])
      : org.apache.spark.sql.Column =
    touchedBoundsOf(touched, keys).residual

  /** The bounds of a touched-key frame in BOTH representations, from
    * ONE aggregation job: `filters` prune the FILE LISTING at plan
    * time (through [[GraftTable.scanStatsPruned]]'s manifest-stats
    * keeper), `residual` narrows rows inside kept files (parquet
    * row-group pruning + fewer semi-join probes). `isEmpty` = the
    * touched set has no rows: read nothing at all. */
  private[engine] final case class TouchedBounds(
      isEmpty: Boolean,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      residual: org.apache.spark.sql.Column)

  private[engine] def touchedBoundsOf(
      touched: DataFrame, keys: Seq[String]): TouchedBounds = {
    import org.apache.spark.sql.functions.{count, max, min}
    import org.apache.spark.sql.{sources => S}
    val aggs = keys.flatMap(k => Seq(
      min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k"),
      count(col(k)).as(s"__cnt_$k"))) :+ count(lit(1)).as("__total")
    val row = touched.agg(aggs.head, aggs.tail: _*).head()
    val total = row.getAs[Long]("__total")
    if (total == 0L) // empty delta: read nothing
      return TouchedBounds(isEmpty = true, Nil, lit(false))
    val perKey = keys.map { k =>
      val mn = row.getAs[Any](s"__mn_$k")
      val mx = row.getAs[Any](s"__mx_$k")
      val hasNull = row.getAs[Long](s"__cnt_$k") < total
      val range: Option[(org.apache.spark.sql.Column, S.Filter)] =
        if (mn == null) None
        else Some((
          col(k) >= lit(mn) && col(k) <= lit(mx),
          if (mn == mx) S.EqualTo(k, mn)
          else S.And(S.GreaterThanOrEqual(k, mn), S.LessThanOrEqual(k, mx))))
      (range, hasNull) match {
        case (Some((c, f)), false) => (c, f)
        case (Some((c, f)), true) => (c || col(k).isNull, S.Or(f, S.IsNull(k)))
        case (None, _) => // only NULL-keyed rows touched
          (col(k).isNull, S.IsNull(k))
      }
    }
    TouchedBounds(isEmpty = false, perKey.map(_._2),
      perKey.map(_._1).reduce(_ && _))
  }

  /** Fold a changelog frame into a per-key (count, sum) aggregate.
    *
    * @param prev    previous materialization: `keys ++ (n_rows, sum_v)`
    *                (empty frame = cold start)
    * @param changes a [[GraftTable.changelogScan]] result (or any
    *                frame with `_change_type` plus the key/value
    *                columns)
    * @param keys    group-by key columns
    * @param valueCol column summed into `sum_v`
    * @return the updated materialization, same shape as `prev`
    */
  def applyCountSum(
      prev: DataFrame, changes: DataFrame,
      keys: Seq[String], valueCol: String): DataFrame = {
    val sign = when(col("_change_type") === lit("insert"), lit(1L))
      .when(col("_change_type") === lit("delete"), lit(-1L))
      .otherwise(lit(0L))
    val delta = changes
      .withColumn("__sign", sign)
      .groupBy(keys.map(col): _*)
      .agg(
        expr("sum(__sign)").as("__dn"),
        // non-null value count delta: a NULL-valued row moves n_rows
        // but not n_vals/sum_v — needed so sum_v can go back to SQL
        // NULL (not 0) when a group's last non-null value is deleted,
        // matching what count/sum recompute would say
        expr(s"sum(CASE WHEN $valueCol IS NULL THEN 0 ELSE __sign END)")
          .as("__dnv"),
        expr(s"sum(__sign * $valueCol)").as("__dv"))
    val joined = nullSafeJoin(prev, delta, keys, "full_outer")
    val nVals =
      coalesce(col("n_vals"), lit(0L)) + coalesce(col("__dnv"), lit(0L))
    val updated = joined.select(
      keys.map(col) ++ Seq(
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("__dn"), lit(0L)))
          .as("n_rows"),
        nVals.as("n_vals"),
        when(nVals === lit(0L), lit(null))
          .otherwise(coalesce(col("sum_v"), lit(0L)) +
            coalesce(col("__dv"), lit(0L)))
          .as("sum_v")): _*)
    // a KEYED group emptied by its deletes drops out (recompute would
    // return no row for it); the KEYLESS global group is a SQL fixture
    // — `SELECT count(*), sum(v) FROM t` on empty t is one row
    // (0, NULL), so the all-deleted fold must keep it, not drop it
    if (keys.isEmpty) updated
    else updated.filter(col("n_rows") =!= lit(0L))
  }

  /** The full-recompute twin of [[applyCountSum]] — what the
    * incremental path must equal (specs pin the equivalence). */
  def recomputeCountSum(
      table: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    table.groupBy(keys.map(col): _*)
      .agg(expr("count(*)").as("n_rows"),
        expr(s"count($valueCol)").as("n_vals"),
        expr(s"sum($valueCol)").as("sum_v"))

  /** Empty materialization with the right shape for a cold start. */
  def emptyCountSum(
      like: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    recomputeCountSum(like, keys, valueCol).limit(0)

  // ---------------------------------------- non-additive: min/max
  /** Fold a changelog frame into a per-key (n_rows, min_v, max_v)
    * aggregate — the NON-ADDITIVE class: a delete may retract the
    * current extreme, and no arithmetic can resurrect the runner-up
    * from the aggregate alone. The standard answer is
    * recompute-on-retract, scoped per TOUCHED key:
    *
    *  - keys with only INSERTS fold with pure arithmetic
    *    (`least`/`greatest` against the delta) — no base access, so an
    *    append-mostly workload stays churn-priced end to end;
    *  - keys with any DELETE recompute from `base` (the CURRENT source
    *    content) restricted to those keys — one left-semi join + keyed
    *    aggregate whose STATE is churn-sized; the base scan prunes by
    *    the engine's stats/partition pruning when the keys allow it,
    *    and a group emptied by its deletes drops out naturally
    *    (recompute returns no row for it);
    *  - untouched keys carry over verbatim.
    *
    * `least`/`greatest` skip SQL NULLs (and `min`/`max` ignore them),
    * so all-NULL groups carry NULL extremes exactly like the
    * recompute. */
  def applyMinMax(
      prev: DataFrame, changes: DataFrame, base: DataFrame,
      keys: Seq[String], valueCol: String): DataFrame = {
    val kCols = keys.map(col)
    val delKeys = changes
      .filter(col("_change_type") === lit("delete"))
      .select(kCols: _*).distinct()
    val insOnly = nullSafeJoin(changes
      .filter(col("_change_type") === lit("insert")), delKeys, keys, "left_anti")
      .groupBy(kCols: _*)
      .agg(
        expr("count(*)").as("__in"),
        expr(s"min($valueCol)").as("__imin"),
        expr(s"max($valueCol)").as("__imax"))
    // an untouched prev key rides through this full-outer with null
    // deltas — coalesce keeps it verbatim, so no separate carry path
    val folded = nullSafeJoin(
      nullSafeJoin(prev, insOnly, keys, "full_outer"), delKeys, keys, "left_anti")
      .select(kCols ++ Seq(
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("__in"), lit(0L)))
          .as("n_rows"),
        least(col("min_v"), col("__imin")).as("min_v"),
        greatest(col("max_v"), col("__imax")).as("max_v")): _*)
    val recomputedRaw = nullSafeJoin(base, delKeys, keys, "left_semi")
      .groupBy(kCols: _*)
      .agg(
        expr("count(*)").as("n_rows"),
        expr(s"min($valueCol)").as("min_v"),
        expr(s"max($valueCol)").as("max_v"))
    // KEYLESS guard: a global aggregate over the empty semi-join still
    // mints one row (SQL's global-group fixture), so a delta with NO
    // deletes would union a spurious (0, NULL, NULL) row beside the
    // carried fold. Gate the recompute row on a delete having touched
    // the (single) group: the keyless semi keeps the row iff delKeys
    // is non-empty. Keyed plans are untouched (empty semi → no groups).
    val recomputed =
      if (keys.nonEmpty) recomputedRaw
      else nullSafeJoin(recomputedRaw, delKeys, keys, "left_semi")
    folded.unionByName(recomputed)
  }

  /** The full-recompute twin of [[applyMinMax]]. */
  def recomputeMinMax(
      table: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    table.groupBy(keys.map(col): _*)
      .agg(expr("count(*)").as("n_rows"),
        expr(s"min($valueCol)").as("min_v"),
        expr(s"max($valueCol)").as("max_v"))

  // ------------------------------------- non-additive: distinct count
  /** Fold a changelog frame into a per-key exact distinct-value count.
    * Distinct counts retract on BOTH sides — an insert of an
    * already-present value adds nothing, a delete removes the value
    * only when its last copy goes — so every touched key recomputes
    * from `base` (no pure-arithmetic fold exists without per-value
    * state); untouched keys carry over verbatim. State stays
    * churn-sized: one distinct over the changes' keys, one left-semi
    * scan of the base restricted to them, one keyed aggregate. A
    * deployment needing cheaper ticks trades exactness for a
    * mergeable sketch (HLL) — this is the EXACT maintenance tier. */
  def applyCountDistinct(
      prev: DataFrame, changes: DataFrame, base: DataFrame,
      keys: Seq[String], valueCol: String): DataFrame = {
    val touched = changes.select(keys.map(col): _*).distinct()
    val recomputedRaw = nullSafeJoin(base, touched, keys, "left_semi")
      .groupBy(keys.map(col): _*)
      .agg(expr("count(*)").as("n_rows"),
        expr(s"count(distinct $valueCol)").as("n_distinct"))
    // same KEYLESS guard as [[applyMinMax]]: an empty delta must carry
    // the global row, not mint a second (0, 0) row from the global
    // aggregate's empty-input fixture
    val recomputed =
      if (keys.nonEmpty) recomputedRaw
      else nullSafeJoin(recomputedRaw, touched, keys, "left_semi")
    nullSafeJoin(prev, touched, keys, "left_anti").unionByName(recomputed)
  }

  /** The full-recompute twin of [[applyCountDistinct]]. */
  def recomputeCountDistinct(
      table: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    table.groupBy(keys.map(col): _*)
      .agg(expr("count(*)").as("n_rows"),
        expr(s"count(distinct $valueCol)").as("n_distinct"))

  // ------------------------------------------- non-additive: top-k
  private def topkExpr(valueExpr: String, k: Int): String =
    s"slice(reverse(array_sort(collect_list(CAST($valueExpr AS DOUBLE)))), 1, $k)"
  private val EmptyTopk = "CAST(array() AS ARRAY<DOUBLE>)"

  /** Fold a changelog frame into a per-key top-`k` largest values of
    * `valueCol` (descending `topk_v` array) — the leaderboard /
    * keep-best-n materialization. Retraction class sits between
    * min/max and distinct-count:
    *
    *  - keys with only INSERTS fold arithmetically: top-k of a union
    *    IS the top-k of the two sides' top-ks (merge two ≤k arrays,
    *    re-sort, cut) — so append-mostly stays churn-priced with O(k)
    *    state per touched key;
    *  - keys with any DELETE recompute from `base` restricted to those
    *    keys: a retracted member's runner-up is not in the ≤k state,
    *    exactly the min/max argument k-fold;
    *  - untouched keys carry over verbatim.
    *
    * Values are maintained as DOUBLE (collect_list drops SQL NULLs on
    * both the fold and recompute paths, so the equivalence holds on
    * nullable columns). */
  def applyTopK(
      prev: DataFrame, changes: DataFrame, base: DataFrame,
      keys: Seq[String], valueCol: String, k: Int): DataFrame = {
    val kCols = keys.map(col)
    val delKeys = changes
      .filter(col("_change_type") === lit("delete"))
      .select(kCols: _*).distinct()
    val insOnly = nullSafeJoin(changes
      .filter(col("_change_type") === lit("insert")), delKeys, keys, "left_anti")
      .groupBy(kCols: _*)
      .agg(
        expr("count(*)").as("__in"),
        expr(topkExpr(valueCol, k)).as("__itop"))
    val folded = nullSafeJoin(
      nullSafeJoin(prev, insOnly, keys, "full_outer"), delKeys, keys, "left_anti")
      .select(kCols ++ Seq(
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("__in"), lit(0L)))
          .as("n_rows"),
        expr(s"""slice(reverse(array_sort(concat(
                |  coalesce(topk_v, $EmptyTopk),
                |  coalesce(__itop, $EmptyTopk)))), 1, $k)""".stripMargin)
          .as("topk_v")): _*)
    val recomputed = nullSafeJoin(base, delKeys, keys, "left_semi")
      .groupBy(kCols: _*)
      .agg(expr("count(*)").as("n_rows"),
        expr(topkExpr(valueCol, k)).as("topk_v"))
    folded.unionByName(recomputed)
  }

  /** The full-recompute twin of [[applyTopK]]. */
  def recomputeTopK(
      table: DataFrame, keys: Seq[String], valueCol: String, k: Int): DataFrame =
    table.groupBy(keys.map(col): _*)
      .agg(expr("count(*)").as("n_rows"),
        expr(topkExpr(valueCol, k)).as("topk_v"))

  /** One exactly-once maintenance tick of a per-key top-k table —
    * insert-only keys merge O(k) state, delete-touched keys recompute
    * from the snapshot-pinned head (see [[applyTopK]]). */
  def runOnceTopK(
      spark: org.apache.spark.sql.SparkSession,
      source: GraftTable, sourceName: String,
      target: GraftTable,
      keys: Seq[String], valueCol: String, k: Int): Option[Long] =
    tick(spark, source, sourceName, target, keys)(
      (prev, changes, baseAtHead) =>
        applyTopK(prev, changes, baseAtHead, keys, valueCol, k),
      base => recomputeTopK(base, keys, valueCol, k))

  /** Checkpoint property key on the TARGET table: the source snapshot
    * its content reflects. Committed atomically with the content. */
  private[engine] def ckptKey(sourceName: String): String =
    s"graft.materialization.$sourceName.source-snapshot"

  /** The checkpoint `target` records for `sourceName`, kept only while
    * it is still in `source`'s current lineage. expire_snapshots (or a
    * rollback) can remove it, and no changelog starts from a snapshot
    * that is gone; None routes the tick to the full recompute, which
    * re-stamps the checkpoint at the head. */
  private[engine] def liveCheckpoint(target: graft.core.TableMetadata,
      sourceName: String, source: graft.core.TableMetadata): Option[Long] =
    target.properties.get(ckptKey(sourceName)).flatMap(_.toLongOption).filter { c =>
      Iterator.iterate(source.currentSnapshot)(
        _.flatMap(_.parentSnapshotId).flatMap(source.snapshots.get))
        .takeWhile(_.isDefined).exists(_.exists(_.snapshotId == c))
    }

  /** ONE maintenance tick of a continuously-maintained aggregate
    * table: fold the source's changes since the target's recorded
    * checkpoint into the target, committing the updated content AND
    * the advanced checkpoint in the SAME snapshot — the exactly-once
    * construct the streaming sink uses for its high-water mark. A
    * retry after any crash is idempotent: either the commit landed
    * (checkpoint == source head → no-op) or it didn't (refold from
    * the same checkpoint); a concurrent writer on the target 409s via
    * the expected-base pin instead of silently losing rows.
    *
    * Cold start (no checkpoint yet) recomputes from the source head
    * pinned by snapshot id, so the recorded checkpoint is exactly
    * what was read. Returns the new checkpoint, or None when there
    * was nothing to fold.
    *
    * Scale: steady-state ticks pay the CHURN (changelog bounded to
    * touched files + keyed fold); only the cold start pays the
    * table. */
  def runOnce(
      spark: org.apache.spark.sql.SparkSession,
      source: GraftTable, sourceName: String,
      target: GraftTable,
      keys: Seq[String], valueCol: String): Option[Long] =
    tick(spark, source, sourceName, target, keys)(
      (prev, changes, _) => applyCountSum(prev, changes, keys, valueCol),
      base => recomputeCountSum(base, keys, valueCol))

  /** [[runOnce]]'s non-additive twin: one exactly-once maintenance
    * tick of a per-key (n_rows, min_v, max_v) table. The retraction
    * recompute reads the source PINNED AT the tick's head snapshot, so
    * a crash-retry folds from exactly the same base — the same
    * determinism contract as the changelog range itself. */
  def runOnceMinMax(
      spark: org.apache.spark.sql.SparkSession,
      source: GraftTable, sourceName: String,
      target: GraftTable,
      keys: Seq[String], valueCol: String): Option[Long] =
    tick(spark, source, sourceName, target, keys)(
      (prev, changes, baseAtHead) =>
        applyMinMax(prev, changes, baseAtHead, keys, valueCol),
      base => recomputeMinMax(base, keys, valueCol))

  /** One exactly-once maintenance tick of a per-key exact
    * distinct-count table — every touched key recomputes from the
    * snapshot-pinned head (see [[applyCountDistinct]]); untouched keys
    * carry over verbatim, so the tick stays churn-priced. */
  def runOnceCountDistinct(
      spark: org.apache.spark.sql.SparkSession,
      source: GraftTable, sourceName: String,
      target: GraftTable,
      keys: Seq[String], valueCol: String): Option[Long] =
    tick(spark, source, sourceName, target, keys)(
      (prev, changes, baseAtHead) =>
        applyCountDistinct(prev, changes, baseAtHead, keys, valueCol),
      base => recomputeCountDistinct(base, keys, valueCol))

  /** The shared exactly-once tick skeleton: resolve the checkpoint,
    * fold (or cold-start) against the head PINNED BY SNAPSHOT ID, and
    * commit content + advanced checkpoint in ONE target snapshot.
    * Incremental ticks are churn-sized on BOTH ends: the previous
    * state is restricted to the delta's touched keys before folding
    * (every apply helper carries untouched keys only through its
    * full-outer/anti joins, so a touched-key-restricted prev yields
    * exactly the touched keys' new rows), and the commit replaces
    * those keys via equality-delete + insert
    * ([[GraftTable.replaceKeys]]) instead of rewriting the whole
    * materialization — added files/records per tick are bounded by
    * churn, never by the target's row count. Only the cold start pays
    * a full write. */
  private def tick(
      spark: org.apache.spark.sql.SparkSession,
      source: GraftTable, sourceName: String, target: GraftTable,
      keys: Seq[String])(
      incremental: (DataFrame, DataFrame, DataFrame) => DataFrame,
      cold: DataFrame => DataFrame): Option[Long] = {
    val srcMeta = source.metadata
    val srcHead = srcMeta.currentSnapshotId.getOrElse(return None)
    val tgtMeta = target.metadata
    val key = ckptKey(sourceName)
    val baseAtHead = source.scan(spark, source.AtSnapshot(srcHead))
    liveCheckpoint(tgtMeta, sourceName, srcMeta) match {
      case Some(c) if c == srcHead => None // already current
      case Some(c) =>
        val changes = source.changelogScan(spark, c, Some(srcHead))
        if (keys.isEmpty) {
          // global aggregate: single-row target, overwrite IS churn-sized
          target.overwriteAll(
            incremental(target.scan(spark), changes, baseAtHead),
            tgtMeta.currentSnapshotId,
            extraProperties = Map(key -> srcHead.toString))
          return Some(srcHead)
        }
        // touched is consumed three times (bounds agg, semi-join,
        // delete-key write) — persist so the changelog evaluates once
        val touched = changes.select(keys.map(col): _*).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // plan-time file pruning + row-level narrowing from ONE
          // bounds job; the null-safe semi stays the exactness gate
          val tb = touchedBoundsOf(touched, keys)
          val prevTouched = nullSafeJoin(
            target.scanStatsPruned(spark, tb.filters).filter(tb.residual),
            touched, keys, "left_semi")
          val updated = incremental(prevTouched, changes, baseAtHead)
          target.replaceKeys(spark, keys, touched, updated,
            tgtMeta.currentSnapshotId,
            extraProperties = Map(key -> srcHead.toString))
        } finally touched.unpersist(blocking = false)
        Some(srcHead)
      case None =>
        target.overwriteAll(cold(baseAtHead), tgtMeta.currentSnapshotId,
          extraProperties = Map(key -> srcHead.toString))
        Some(srcHead)
    }
  }
}
