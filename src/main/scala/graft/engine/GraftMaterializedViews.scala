package graft.engine

import graft.catalog.TableIdent
import org.apache.spark.sql.{Column, DataFrame, GraftShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, EqualTo, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit, struct, when}

/** MATERIALIZED views over the engine: the MV is an ordinary catalog
  * TABLE carrying its defining SQL in table properties, refreshed
  * exactly-once through the same checkpoint-in-snapshot construct
  * [[ChangelogApply]] uses. BEYOND both the reference (no views at
  * all) and Spark (which parses `CREATE MATERIALIZED VIEW` into a
  * logical node, `CreateMaterializedViewAsSelect`, that NO built-in
  * session catalog executes).
  *
  * Refresh routing — the 100 TB story:
  *  - when the defining query is a FOLDABLE aggregate (group-by keys +
  *    any mix of count(*) / count(v) / sum(v) / avg(v) / min(v) /
  *    max(v) / count(distinct v) over ONE graft table — or an inner
  *    equi-join of two — with an optional deterministic WHERE),
  *    refresh folds the source's CHANGELOG into the stored rows via
  *    the [[ChangelogApply]] family: a 100 TB source with a 1 GB
  *    daily delta pays 1 GB, never 100 TB, and the advanced source
  *    checkpoint commits ATOMICALLY with the new content (crash-safe
  *    exactly-once — a replayed refresh is a no-op);
  *  - incremental WRITES are churn-sized too: the tick commits an
  *    equality-delete of the touched keys plus their folded rows
  *    ([[GraftTable.replaceKeys]]) — a 10⁹-key MV with 100 touched
  *    keys writes ~100 rows, never the MV (added-records in the
  *    snapshot summary is the observable bound);
  *  - any other query shape falls back to a full recompute, still a
  *    single CAS-guarded overwrite commit.
  *
  * The create-time population of a foldable MV is pinned AT the source
  * snapshot recorded as its first checkpoint (scan-at-S + ckpt=S in one
  * commit), so the first incremental refresh folds exactly the changes
  * after what the table holds — no create/refresh race window. */
object GraftMaterializedViews {

  /** Times [[RebuildChainShape.affectedSpine]] fell back to widening a
    * moved side's term to the WHOLE spine because the covering prefix
    * carried no spine column (r17 observability; see the call site).
    * Monotonic process-lifetime counter — tests snapshot-and-diff. */
  private[engine] val DegenerateSpineWidenings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Shapes already stderr-logged for degenerate widening — the
    * counter above stays per-occurrence (the metric), but a
    * steady-state MV whose shape legitimately projects the spine away
    * would otherwise repeat the same line on EVERY tick (r18: log
    * once per shape+level per process). */
  private val DegenerateSpineLogged =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  val MarkerProp = "graft.mv"
  val SqlProp = "graft.mv.sql"
  val DefCatProp = "graft.mv.default-catalog"
  val DefNsProp = "graft.mv.default-namespace"
  /** DESCRIBE-visible routing report: "incremental" when the defining
    * query folds through the changelog arithmetic,
    * "incremental-rebuild" when it refreshes by touched-key plan
    * re-execution, "full" when every refresh recomputes. Set at
    * create, re-asserted on each refresh commit. */
  val RefreshModeProp = "graft.mv.refresh-mode"
  private val NsSep = "\u001f"

  /** How a refresh executed — surfaced for observability and specs. */
  sealed trait RefreshMode
  case object Incremental extends RefreshMode
  case object Full extends RefreshMode
  case object NoOp extends RefreshMode

  // ----------------------------------------------------------- create
  private[engine] def create(
      spark: SparkSession,
      catalog: GraftSparkCatalog,
      id: Identifier,
      userCols: Seq[String],
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
      query: LogicalPlan,
      originalText: String,
      ifNotExists: Boolean,
      properties: Map[String, String]): Unit = {
    if (catalog.tableExists(id)) {
      if (ifNotExists) return
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(id)
    }
    val analyzed = spark.sessionState.executePlan(query).analyzed
    if (userCols.nonEmpty && userCols.size != analyzed.output.size)
      throw new IllegalArgumentException(
        s"materialized view column list has ${userCols.size} names but query " +
          s"produces ${analyzed.output.size} columns")
    val fields = analyzed.output.zipWithIndex.map { case (attr, i) =>
      org.apache.spark.sql.types.StructField(
        userCols.lift(i).getOrElse(attr.name), attr.dataType, attr.nullable)
    }
    val mgr = spark.sessionState.catalogManager
    // the shape's out-names are the QUERY's output names; remap them
    // positionally to the DECLARED names so a user column list
    // (CREATE MATERIALIZED VIEW mv (k, n) AS SELECT key, count(*)...)
    // reads and writes the backing table it actually created
    val shape = shapeOf(spark, analyzed).map(_.withOutNames(fields.map(_.name)))
    val joinShape =
      if (shape.isDefined) None
      else joinShapeOf(spark, analyzed).map(_.withOutNames(fields.map(_.name)))
    val rebuildShape =
      if (shape.isDefined || joinShape.isDefined) None
      else rebuildShapeOf(spark, analyzed).map(_.withOutNames(fields.map(_.name)))
    val rebuildJoin =
      if (shape.isDefined || joinShape.isDefined || rebuildShape.isDefined) None
      else rebuildJoinShapeOf(spark, analyzed).map(_.withOutNames(fields.map(_.name)))
    val rebuildMulti =
      if (shape.isDefined || joinShape.isDefined || rebuildShape.isDefined ||
        rebuildJoin.isDefined) None
      else rebuildMultiJoinShapeOf(spark, analyzed).map(_.withOutNames(fields.map(_.name)))
    val rebuildChain =
      if (shape.isDefined || joinShape.isDefined || rebuildShape.isDefined ||
        rebuildJoin.isDefined || rebuildMulti.isDefined) None
      else rebuildChainShapeOf(spark, analyzed).map(_.withOutNames(fields.map(_.name)))
    val rebuildExpr =
      if (shape.isDefined || joinShape.isDefined || rebuildShape.isDefined ||
        rebuildJoin.isDefined || rebuildMulti.isDefined || rebuildChain.isDefined) None
      else rebuildExprShapeOf(spark, analyzed).map(_.withOutNames(fields.map(_.name)))
    val rebuildJoinExpr =
      if (shape.isDefined || joinShape.isDefined || rebuildShape.isDefined ||
        rebuildJoin.isDefined || rebuildMulti.isDefined || rebuildChain.isDefined ||
        rebuildExpr.isDefined) None
      else rebuildJoinExprShapeOf(spark, analyzed).map(_.withOutNames(fields.map(_.name)))
    val rebuildWindow =
      if (shape.isDefined || joinShape.isDefined || rebuildShape.isDefined ||
        rebuildJoin.isDefined || rebuildMulti.isDefined || rebuildChain.isDefined ||
        rebuildExpr.isDefined || rebuildJoinExpr.isDefined) None
      else rebuildWindowShapeOf(spark, analyzed).map(_.withOutNames(fields.map(_.name)))
    val rebuildWindowExpr =
      if (shape.isDefined || joinShape.isDefined || rebuildShape.isDefined ||
        rebuildJoin.isDefined || rebuildMulti.isDefined || rebuildChain.isDefined ||
        rebuildExpr.isDefined || rebuildJoinExpr.isDefined || rebuildWindow.isDefined) None
      else rebuildWindowExprShapeOf(spark, analyzed).map(_.withOutNames(fields.map(_.name)))
    val props = properties ++ Map(
      MarkerProp -> "true",
      SqlProp -> originalText,
      DefCatProp -> mgr.currentCatalog.name(),
      DefNsProp -> mgr.currentNamespace.mkString(NsSep),
      // observability: DESCRIBE TABLE EXTENDED shows which price this
      // MV pays per refresh — changelog fold ("incremental"),
      // touched-key plan re-execution ("incremental-rebuild"), or full
      // recompute
      RefreshModeProp ->
        (if (shape.isDefined || joinShape.isDefined) "incremental"
         else if (rebuildShape.isDefined || rebuildJoin.isDefined ||
           rebuildMulti.isDefined || rebuildChain.isDefined ||
           rebuildExpr.isDefined || rebuildJoinExpr.isDefined ||
           rebuildWindow.isDefined || rebuildWindowExpr.isDefined)
           "incremental-rebuild"
         else "full"))
    // PARTITIONED BY flows straight through to the backing table: the
    // fold's overwrite commits write through the table's default spec,
    // so a partitioned MV gets partition pruning on its read side for free
    catalog.createTable(id, org.apache.spark.sql.types.StructType(fields),
      partitioning.toArray, props.asJava)
    val ti = TableIdent(id.namespace().toSeq, id.name())
    val mv = catalog.engineTable(ti)
    shape match {
      case Some(shape) =>
        // pinned cold start: scan the source AT its head snapshot and
        // commit content + that snapshot as the checkpoint atomically
        val source = shape.sourceTable(spark)
        source.metadata.currentSnapshotId match {
          case Some(head) =>
            val base = shape.applyFilter(
              source.scan(spark, source.AtSnapshot(head)))
            mv.overwriteAll(shape.recompute(base, fields.map(_.name)), None,
              extraProperties = Map(
                ChangelogApply.ckptKey(shape.sourceName) -> head.toString))
          case None => // empty source: leave the MV empty, first refresh cold-starts
        }
      case None => joinShape match {
        case Some(js) =>
          // pinned cold start at BOTH heads, both checkpoints atomic
          // with the content (the join twin of the branch above)
          val lt = js.table(spark, js.leftIdent)
          val rt = js.table(spark, js.rightIdent)
          (lt.metadata.currentSnapshotId, rt.metadata.currentSnapshotId) match {
            case (Some(lh), Some(rh)) =>
              mv.overwriteAll(
                js.recompute(lt.scan(spark, lt.AtSnapshot(lh)),
                  rt.scan(spark, rt.AtSnapshot(rh)), fields.map(_.name)),
                None,
                extraProperties = Map(
                  ChangelogApply.ckptKey(js.leftName) -> lh.toString,
                  ChangelogApply.ckptKey(js.rightName) -> rh.toString))
            case _ => // an empty side: inner join is empty, refresh cold-starts
          }
        case None => rebuildShape match {
          case Some(rs) =>
            // pinned cold start, rebuild-grammar twin of the branches
            // above: execute the defining plan over the head-pinned
            // scan, checkpoint committed with the content
            val source = rs.sourceTable(spark)
            source.metadata.currentSnapshotId match {
              case Some(head) =>
                mv.overwriteAll(
                  rs.executeWith(spark, source.scan(spark, source.AtSnapshot(head))),
                  None,
                  extraProperties = Map(
                    ChangelogApply.ckptKey(rs.sourceName) -> head.toString))
              case None => // empty source: first refresh cold-starts
            }
          case None => rebuildJoin match {
            case Some(rj) =>
              val lt = rj.table(spark, rj.leftIdent)
              val rt = rj.table(spark, rj.rightIdent)
              val lHead = lt.metadata.currentSnapshotId
              val rHead = rt.metadata.currentSnapshotId
              // OUTER joins must populate even with a headless side
              // (the preserved side still null-extends); INNER keeps
              // the cold-start-on-refresh behavior an empty side had
              if (lHead.isDefined && rHead.isDefined ||
                  ((rj.preservesLeft || rj.preservesRight) &&
                    (lHead.isDefined || rHead.isDefined))) {
                def frameAt(t: GraftTable, h: Option[Long]) =
                  h.map(id => t.scan(spark, t.AtSnapshot(id)))
                    .getOrElse(t.scan(spark))
                def headMark(h: Option[Long]): String =
                  h.map(_.toString).getOrElse("none")
                mv.overwriteAll(
                  rj.rebuildFull(spark, frameAt(lt, lHead), frameAt(rt, rHead)),
                  None,
                  extraProperties = Map(
                    ChangelogApply.ckptKey(rj.leftName) -> headMark(lHead),
                    ChangelogApply.ckptKey(rj.rightName) -> headMark(rHead)))
              }
            case None => rebuildMulti match {
              case Some(rmj) =>
                val byName = rmj.idents.map(ti => rmj.nameOf(ti) -> ti)
                  .distinctBy(_._1)
                val tables = byName.map { case (n, ti) =>
                  n -> rmj.table(spark, ti)
                }.toMap
                val heads = tables.map { case (n, t) =>
                  n -> t.metadata.currentSnapshotId
                }
                // pinned cold start at ALL heads; any empty side makes
                // the inner join empty — refresh cold-starts later
                if (heads.values.forall(_.isDefined)) {
                  val frames = rmj.idents.map { ti =>
                    val n = rmj.nameOf(ti)
                    val t = tables(n)
                    t.scan(spark, t.AtSnapshot(heads(n).get))
                  }
                  mv.overwriteAll(rmj.rebuildFull(spark, frames), None,
                    extraProperties = heads.map { case (n, h) =>
                      ChangelogApply.ckptKey(n) -> h.get.toString
                    }.toMap)
                }
              case None => rebuildChain match {
                case Some(rcs) =>
                  // pinned cold start at all heads; headless sides
                  // scan empty (a LEFT level still null-extends, an
                  // INNER level empties — both the plan's own truth)
                  val byName = rcs.idents.map(ti => rcs.nameOf(ti) -> ti)
                    .distinctBy(_._1)
                  val tables = byName.map { case (n, ti) =>
                    n -> rcs.table(spark, ti)
                  }.toMap
                  val heads = tables.map { case (n, t) =>
                    n -> t.metadata.currentSnapshotId
                  }
                  if (heads.values.exists(_.isDefined)) {
                    val frames = rcs.idents.map { ti =>
                      val n = rcs.nameOf(ti)
                      val t = tables(n)
                      heads(n).map(id => t.scan(spark, t.AtSnapshot(id)))
                        .getOrElse(t.scan(spark))
                    }
                    mv.overwriteAll(rcs.rebuildFull(spark, frames), None,
                      extraProperties = heads.map { case (n, h) =>
                        ChangelogApply.ckptKey(n) ->
                          h.map(_.toString).getOrElse("none")
                      }.toMap)
                  }
                case None => rebuildExprCreate()
              }
            }
          }
        }
      }
    }
    def rebuildExprCreate(): Unit = {
      rebuildExpr match {
                case Some(re) =>
                  // pinned cold start, the expr-keyed twin of the
                  // single-table rebuild branch above
                  val source = re.sourceTable(spark)
                  source.metadata.currentSnapshotId match {
                    case Some(head) =>
                      mv.overwriteAll(
                        re.rebuildFull(spark,
                          source.scan(spark, source.AtSnapshot(head))),
                        None,
                        extraProperties = Map(
                          ChangelogApply.ckptKey(re.sourceName) -> head.toString))
                    case None => // empty source: first refresh cold-starts
                  }
                case None => rebuildJoinExpr match {
                  case Some(rx) =>
                    // pinned cold start at BOTH heads, the expr-keyed
                    // twin of the two-table rebuild branch
                    val lt = rx.table(spark, rx.leftIdent)
                    val rt = rx.table(spark, rx.rightIdent)
                    (lt.metadata.currentSnapshotId, rt.metadata.currentSnapshotId) match {
                      case (Some(lh), Some(rh)) =>
                        mv.overwriteAll(
                          rx.rebuildFull(spark,
                            lt.scan(spark, lt.AtSnapshot(lh)),
                            rt.scan(spark, rt.AtSnapshot(rh))),
                          None,
                          extraProperties = Map(
                            ChangelogApply.ckptKey(rx.leftName) -> lh.toString,
                            ChangelogApply.ckptKey(rx.rightName) -> rh.toString))
                      case _ => // an empty side: inner join empty, refresh cold-starts
                    }
                  case None => rebuildWindow match {
                    case Some(rw) =>
                      // pinned cold start — the window tier IS a
                      // RebuildShape, same branch as the aggregate one
                      val source = rw.sourceTable(spark)
                      source.metadata.currentSnapshotId match {
                        case Some(head) =>
                          mv.overwriteAll(
                            rw.executeWith(spark,
                              source.scan(spark, source.AtSnapshot(head))),
                            None,
                            extraProperties = Map(
                              ChangelogApply.ckptKey(rw.sourceName) -> head.toString))
                        case None => // empty source: first refresh cold-starts
                      }
                    case None => rebuildWindowExpr match {
                      case Some(rwe) =>
                        // pinned cold start — the window-expr tier IS a
                        // RebuildExprShape, same branch as the expr one
                        val source = rwe.sourceTable(spark)
                        source.metadata.currentSnapshotId match {
                          case Some(head) =>
                            mv.overwriteAll(
                              rwe.rebuildFull(spark,
                                source.scan(spark, source.AtSnapshot(head))),
                              None,
                              extraProperties = Map(
                                ChangelogApply.ckptKey(rwe.sourceName) -> head.toString))
                          case None => // empty source: first refresh cold-starts
                        }
                      case None =>
                        val df = GraftShims.ofRows(spark, analyzed)
                        mv.overwriteAll(df.toDF(fields.map(_.name): _*), None)
                    }
                  }
                }
      }
    }
  }

  // ---------------------------------------------------------- refresh
  /** One refresh tick. Incremental when the stored SQL still matches a
    * foldable shape AND the MV carries a checkpoint for that source;
    * full recompute otherwise; NoOp when already current. */
  def refresh(
      spark: SparkSession,
      catalog: GraftSparkCatalog,
      ti: TableIdent): RefreshMode = {
    val mv = catalog.engineTable(ti)
    val meta = mv.metadata
    require(meta.properties.get(MarkerProp).contains("true"),
      s"${ti.namespace.mkString(".")}.${ti.name} is not a materialized view")
    val sql = meta.properties.getOrElse(SqlProp, throw new IllegalStateException(
      s"materialized view ${ti.name} lost its defining SQL property"))
    val defCat = meta.properties.get(DefCatProp)
    val defNs = meta.properties.get(DefNsProp)
      .map(_.split(NsSep).toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val parsed = GraftViewResolution.qualifyRelations(
      spark, spark.sessionState.sqlParser.parsePlan(sql), defCat, defNs)
    val analyzed = spark.sessionState.executePlan(parsed).analyzed
    val outNames = mv.metadata.currentSchema.fields.map(_.name).toSeq

    shapeOf(spark, analyzed).map(_.withOutNames(outNames)) match {
      case Some(shape) =>
        val source = shape.sourceTable(spark)
        val srcMeta = source.metadata
        val srcHead = srcMeta.currentSnapshotId.getOrElse(return NoOp)
        val key = ChangelogApply.ckptKey(shape.sourceName)
        ChangelogApply.liveCheckpoint(meta, shape.sourceName, srcMeta) match {
          case Some(c) if c == srcHead => NoOp
          case Some(c) =>
            val changes = shape.applyFilter(
              source.changelogScan(spark, c, Some(srcHead)))
            def baseAtHead = shape.applyFilter(
              source.scan(spark, source.AtSnapshot(srcHead)))
            // churn-sized COMPUTE and churn-sized WRITE: the previous
            // state is restricted to the touched keys before folding,
            // and the commit equality-deletes those keys + lands the
            // folded rows beside them (GraftTable.replaceKeys) — a
            // tick's added files/records are bounded by churn, never
            // by the MV's row count (overwriteAll would rewrite a
            // 10⁹-key MV for a 100-key delta)
            if (shape.keySrcNames.isEmpty) {
              // GLOBAL aggregate (no GROUP BY): there is no key to
              // replace rows by, and the MV is a single row — the
              // overwrite IS churn-sized
              val folded = shape.applyFold(
                shape.toInternal(mv.scan(spark)), changes, baseAtHead)
              mv.overwriteAll(shape.fromInternal(folded, outNames, mv),
                meta.currentSnapshotId,
                extraProperties = Map(key -> srcHead.toString,
                  RefreshModeProp -> "incremental"))
              return Incremental
            }
            val touched = changes.select(shape.keySrcNames.map(col): _*).distinct()
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              // read side prunes too: touched-key bounds prune the MV
              // scan's FILE LISTING at plan time (manifest stats, via
              // scanStatsPruned) and narrow rows inside kept files, so
              // a localized churn reads candidate files, not the MV
              val tb = ChangelogApply.touchedBoundsOf(
                shape.touchedOut(touched), shape.keyOutNames)
              val prevTouched = ChangelogApply.nullSafeJoin(
                shape.toInternal(
                  mv.scanStatsPruned(spark, tb.filters).filter(tb.residual)),
                touched, shape.keySrcNames, "left_semi")
              val folded = shape.applyFold(prevTouched, changes, baseAtHead)
              mv.replaceKeys(spark, shape.keyOutNames,
                shape.touchedOut(touched), shape.fromInternal(folded, outNames, mv),
                meta.currentSnapshotId,
                extraProperties = Map(key -> srcHead.toString,
                  RefreshModeProp -> "incremental"))
            } finally touched.unpersist(blocking = false)
            Incremental
          case None =>
            val base = shape.applyFilter(
              source.scan(spark, source.AtSnapshot(srcHead)))
            mv.overwriteAll(shape.recompute(base, outNames),
              meta.currentSnapshotId,
              extraProperties = Map(key -> srcHead.toString,
                RefreshModeProp -> "incremental"))
            Full
        }
      case None =>
        joinShapeOf(spark, analyzed).map(_.withOutNames(outNames)) match {
          case Some(js) => refreshJoin(spark, mv, js, outNames)
          case None =>
            rebuildShapeOf(spark, analyzed).map(_.withOutNames(outNames)) match {
              case Some(rs) => refreshRebuild(spark, mv, rs)
              case None =>
                rebuildJoinShapeOf(spark, analyzed).map(_.withOutNames(outNames)) match {
                  case Some(rj) => refreshRebuildJoin(spark, mv, rj)
                  case None =>
                    rebuildMultiJoinShapeOf(spark, analyzed)
                      .map(_.withOutNames(outNames)) match {
                      case Some(rmj) => refreshRebuildMulti(spark, mv, rmj)
                      case None =>
                        rebuildChainShapeOf(spark, analyzed)
                          .map(_.withOutNames(outNames)) match {
                          case Some(rcs) => return refreshRebuildChain(spark, mv, rcs)
                          case None => ()
                        }
                        rebuildExprShapeOf(spark, analyzed)
                          .map(_.withOutNames(outNames)) match {
                          case Some(re) => refreshRebuildExpr(spark, mv, re)
                          case None =>
                            rebuildJoinExprShapeOf(spark, analyzed)
                              .map(_.withOutNames(outNames)) match {
                              case Some(rx) => refreshRebuildJoinExpr(spark, mv, rx)
                              case None =>
                                rebuildWindowShapeOf(spark, analyzed)
                                  .map(_.withOutNames(outNames)) match {
                                  // the window tier IS a RebuildShape:
                                  // same recompute-on-touch tick
                                  case Some(rw) => refreshRebuild(spark, mv, rw)
                                  case None =>
                                    rebuildWindowExprShapeOf(spark, analyzed)
                                      .map(_.withOutNames(outNames)) match {
                                      // the window-EXPR tier IS a
                                      // RebuildExprShape: same tick
                                      case Some(rwe) =>
                                        refreshRebuildExpr(spark, mv, rwe)
                                      case None =>
                                        val df = GraftShims.ofRows(spark, analyzed)
                                        mv.overwriteAll(df.toDF(outNames: _*),
                                          meta.currentSnapshotId,
                                          extraProperties =
                                            Map(RefreshModeProp -> "full"))
                                        Full
                                    }
                                }
                            }
                        }
                    }
                }
            }
        }
    }
  }

  /** One refresh tick for the generalized [[RebuildShape]] grammar —
    * RECOMPUTE-ON-TOUCH: the defining plan re-executes over the
    * head-pinned source restricted to the delta's touched group keys
    * (null-safe semi-join; touched-key bounds pushed to the scan), and
    * the commit replaces exactly those keys. No per-aggregate
    * arithmetic is needed — HAVING, expressions over aggregates,
    * multiple value columns, and DISTINCT projections all refresh at
    * churn × per-key-group price, the same class as the
    * count-distinct fold. A group whose rebuilt row fails a HAVING (or
    * empties) simply produces no replacement row and drops out via the
    * key delete. */
  /** One refresh tick for [[RebuildJoinShape]]: NoOp when both
    * checkpoints match the heads (absent-head markers included);
    * otherwise derive the touched group keys from the cover terms the
    * join type requires, rebuild them from the two head-pinned scans,
    * and commit the keyed replacement with both advanced checkpoints.
    *
    * Cover terms. PAIR terms (join innerized) catch every joined pair
    * that appeared or disappeared: ΔA⋈B@head, A@head⋈ΔB, and ΔA⋈ΔB
    * when both sides moved — the bilinear cover. An OUTER join
    * additionally changes NULL-EXTENDED rows, whose groups the pair
    * terms cannot see; for each PRESERVED side S the tick adds
    *  - nullExt(ΔS): a changed S row's null-extension may have
    *    appeared or disappeared with the row itself, and
    *  - nullExt(S@head ⋉cond Δother): an S row whose match-set a
    *    changed other-side row entered or left may have flipped
    *    between matched and null-extended.
    * Both are delta-bounded; both are supersets of the truth, which
    * the rebuild's recompute-on-touch makes safe by construction. */
  private def refreshRebuildJoin(
      spark: SparkSession, mv: GraftTable, rj: RebuildJoinShape): RefreshMode = {
    val meta = mv.metadata
    val lt = rj.table(spark, rj.leftIdent)
    val rt = rj.table(spark, rj.rightIdent)
    val lMeta = lt.metadata
    val rMeta = rt.metadata
    val lHead = lMeta.currentSnapshotId
    val rHead = rMeta.currentSnapshotId
    val kL = ChangelogApply.ckptKey(rj.leftName)
    val kR = ChangelogApply.ckptKey(rj.rightName)
    def headMark(h: Option[Long]): String = h.map(_.toString).getOrElse("none")
    val ckpts = Map(
      kL -> headMark(lHead), kR -> headMark(rHead),
      RefreshModeProp -> "incremental-rebuild")
    if (meta.properties.get(kL).contains(headMark(lHead)) &&
        meta.properties.get(kR).contains(headMark(rHead))) return NoOp
    if (lHead.isEmpty && rHead.isEmpty && rj.joinType == Inner) return NoOp

    // a headless side reads as an EMPTY frame — for INNER that makes
    // the join empty; for OUTER the preserved side still null-extends,
    // so the full rebuild must execute the plan, not write empty
    def frameAt(t: GraftTable, h: Option[Long]): DataFrame =
      h.map(id => t.scan(spark, t.AtSnapshot(id))).getOrElse(t.scan(spark))
    def fullAtHeads(): RefreshMode = {
      mv.overwriteAll(
        rj.rebuildFull(spark, frameAt(lt, lHead), frameAt(rt, rHead)),
        meta.currentSnapshotId, extraProperties = ckpts)
      Full
    }

    val ckL = ChangelogApply.liveCheckpoint(meta, rj.leftName, lMeta)
    val ckR = ChangelogApply.liveCheckpoint(meta, rj.rightName, rMeta)
    (ckL, ckR, lHead, rHead) match {
      case (Some(cl), Some(cr), Some(lh), Some(rh)) =>
        // changelog rows as PLAIN source rows: for touched-key
        // derivation the sign is irrelevant — any appearance means the
        // key may have changed (self-join of one table: both deltas
        // are the same range; the cover still holds)
        def plainRows(t: GraftTable, from: Long, to: Long, rel: DataSourceV2Relation) =
          t.changelogScan(spark, from, Some(to))
            .select(rel.output.map(a => col(a.name)): _*)
        val aHead = lt.scan(spark, lt.AtSnapshot(lh))
        val bHead = rt.scan(spark, rt.AtSnapshot(rh))
        val aMoved = cl != lh
        val bMoved = cr != rh
        // r16: persist each moved delta once (it feeds several cover
        // terms plus its equi-key envelope aggregation), and bound
        // the DERIVATION's head-side scans by the deltas' equi-join
        // key min/max — a head row outside every linked delta's range
        // cannot satisfy the equality against any delta row, so pair
        // and match terms stay exact under the restriction. The
        // null-extension terms read deltas only and are never
        // restricted.
        val eq = treeEquiPairs(rj.aggChild, Seq(rj.leftRel, rj.rightRel))
        val dAF = if (aMoved) Some(plainRows(lt, cl, lh, rj.leftRel)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)) else None
        val dBF = if (bMoved) Some(plainRows(rt, cr, rh, rj.rightRel)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)) else None
        try {
          val aStats = dAF.map(deltaEquiStats(_, equiColsOf(eq, 0)))
          val bStats = dBF.map(deltaEquiStats(_, equiColsOf(eq, 1)))
          val aLive = aMoved && aStats.exists(_.rows > 0L)
          val bLive = bMoved && bStats.exists(_.rows > 0L)
          val aSat = aStats.exists(equiSat(eq, _, 0))
          val bSat = bStats.exists(equiSat(eq, _, 1))
          def prunedHead(t: GraftTable, h: Long, bounds: Seq[(String, Any, Any)]): DataFrame =
            prunedHeadScan(spark, t, h, bounds)
          val terms = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
          if (aLive && aSat) {
            terms += rj.pairKeysOf(spark, dAF.get,
              prunedHead(rt, rh, equiBoundsFor(eq, 1, aStats.get)))
            if (bLive && bSat) terms += rj.pairKeysOf(spark, dAF.get, dBF.get)
          }
          if (bLive && bSat) terms += rj.pairKeysOf(spark,
            prunedHead(lt, lh, equiBoundsFor(eq, 0, bStats.get)), dBF.get)
          if (rj.preservesLeft) {
            if (aLive) terms += rj.nullExtKeys(rj.leftRel.outputSet, dAF.get)
            if (bLive && bSat) terms += rj.nullExtKeys(rj.leftRel.outputSet,
              rj.matchRows(spark, preservedIsLeft = true,
                prunedHead(lt, lh, equiBoundsFor(eq, 0, bStats.get)), dBF.get))
          }
          if (rj.preservesRight) {
            if (bLive) terms += rj.nullExtKeys(rj.rightRel.outputSet, dBF.get)
            if (aLive && aSat) terms += rj.nullExtKeys(rj.rightRel.outputSet,
              rj.matchRows(spark, preservedIsLeft = false,
                prunedHead(rt, rh, equiBoundsFor(eq, 1, aStats.get)), dAF.get))
          }
          val touched =
            (if (terms.isEmpty) rj.pairKeysOf(spark, aHead, bHead).limit(0)
            else terms.reduceLeft(_ unionByName _)).distinct()
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            mv.replaceKeys(spark, rj.keyOutNames,
              rj.touchedOut(touched),
              rj.rebuild(spark, touched, aHead, bHead,
                // the tick's scans prune their file listings by the
                // touched bounds (churn-sized COMPUTE, not just write)
                aPruned = Some(fs => lt.scanStatsPruned(spark, fs, lt.AtSnapshot(lh))),
                bPruned = Some(fs => rt.scanStatsPruned(spark, fs, rt.AtSnapshot(rh)))),
              meta.currentSnapshotId, extraProperties = ckpts)
            Incremental
          } finally touched.unpersist(blocking = false)
        } finally Seq(dAF, dBF).flatten.foreach(_.unpersist(blocking = false))
      case _ => fullAtHeads() // a checkpoint missing or a side headless
    }
  }

  private def refreshRebuild(
      spark: SparkSession, mv: GraftTable, rs: RebuildShape): RefreshMode = {
    val meta = mv.metadata
    val source = rs.sourceTable(spark)
    val srcMeta = source.metadata
    val srcHead = srcMeta.currentSnapshotId.getOrElse(return NoOp)
    val key = ChangelogApply.ckptKey(rs.sourceName)
    ChangelogApply.liveCheckpoint(meta, rs.sourceName, srcMeta) match {
      case Some(c) if c == srcHead => NoOp
      case Some(c) =>
        val changes = source.changelogScan(spark, c, Some(srcHead))
        // touched = keys of ANY changed row (no WHERE narrowing: a
        // superset is safe — an untouched-in-truth key rebuilds to its
        // identical row); consumed three times → persist
        val touched = changes.select(rs.keySrcNames.map(col): _*).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // plan-time file pruning on the pinned source scan: the
          // bounds prune the listing (manifest stats), the residual
          // narrows rows, the null-safe semi stays the exactness gate
          val tb = ChangelogApply.touchedBoundsOf(touched, rs.keySrcNames)
          val pinned = source
            .scanStatsPruned(spark, tb.filters, source.AtSnapshot(srcHead))
            .filter(tb.residual)
          val restricted = ChangelogApply.nullSafeJoin(
            pinned, touched, rs.keySrcNames, "left_semi")
          mv.replaceKeys(spark, rs.keyOutNames,
            rs.touchedOut(touched), rs.executeWith(spark, restricted),
            meta.currentSnapshotId,
            extraProperties = Map(key -> srcHead.toString,
              RefreshModeProp -> "incremental-rebuild"))
          Incremental
        } finally touched.unpersist(blocking = false)
      case None =>
        mv.overwriteAll(
          rs.executeWith(spark, source.scan(spark, source.AtSnapshot(srcHead))),
          meta.currentSnapshotId,
          extraProperties = Map(key -> srcHead.toString,
            RefreshModeProp -> "incremental-rebuild"))
        Full
    }
  }

  /** One refresh tick for the two-table [[JoinShape]]: NoOp when both
    * checkpoints sit at their heads; one-sided delta fold when exactly
    * one side moved (Δchanged ⋈ other@unchanged-head); full recompute
    * at the two pinned heads when both moved or either checkpoint is
    * missing. Both checkpoints commit ATOMICALLY with the content —
    * the same exactly-once construct as the single-table tick. */
  private def refreshJoin(
      spark: SparkSession, mv: GraftTable,
      js: JoinShape, outNames: Seq[String]): RefreshMode = {
    val meta = mv.metadata
    val lt = js.table(spark, js.leftIdent)
    val rt = js.table(spark, js.rightIdent)
    val lMeta = lt.metadata
    val rMeta = rt.metadata
    val lHead = lMeta.currentSnapshotId
    val rHead = rMeta.currentSnapshotId
    if (lHead.isEmpty && rHead.isEmpty) return NoOp // both empty: joined result is empty
    val kL = ChangelogApply.ckptKey(js.leftName)
    val kR = ChangelogApply.ckptKey(js.rightName)
    val ckL = ChangelogApply.liveCheckpoint(meta, js.leftName, lMeta)
    val ckR = ChangelogApply.liveCheckpoint(meta, js.rightName, rMeta)
    // an absent head checkpoints as an explicit marker — otherwise a
    // persistently-empty side would fail the currency check and commit
    // a fresh (empty, identical) overwrite snapshot EVERY tick
    def headMark(h: Option[Long]): String = h.map(_.toString).getOrElse("none")
    val ckpts = Map(
      kL -> headMark(lHead), kR -> headMark(rHead),
      RefreshModeProp -> "incremental")
    if (meta.properties.get(kL).contains(headMark(lHead)) &&
        meta.properties.get(kR).contains(headMark(rHead))) return NoOp

    def fullAtHeads(): RefreshMode = (lHead, rHead) match {
      case (Some(lh), Some(rh)) =>
        mv.overwriteAll(
          js.recompute(lt.scan(spark, lt.AtSnapshot(lh)),
            rt.scan(spark, rt.AtSnapshot(rh)), outNames),
          meta.currentSnapshotId, extraProperties = ckpts)
        Full
      case _ =>
        // one side empty: inner join is empty — store the empty frame
        // (recomputed from an empty scan-shaped limit 0 of the MV)
        mv.overwriteAll(mv.scan(spark).limit(0),
          meta.currentSnapshotId, extraProperties = ckpts)
        Full
    }

    /** The JOINED base at the two current heads — what the
      * recompute-on-touch families (min/max, count-distinct) rebuild
      * their touched keys from. Touched-key sized after the semi-join
      * inside the apply helpers; only evaluated for those families. */
    def baseAtHeads: DataFrame = (lHead, rHead) match {
      case (Some(lh), Some(rh)) =>
        js.baseFrame(lt.scan(spark, lt.AtSnapshot(lh)),
          rt.scan(spark, rt.AtSnapshot(rh)))
      case _ => mv.scan(spark).limit(0) // unreachable: folds need both heads
    }

    /** Churn-sized fold + churn-sized commit, the join twin of the
      * single-table tick: previous state restricted to the touched
      * keys, then replaceKeys (equality-delete + folded rows) — never
      * an MV-sized rewrite. `mmDelta` is the frame the min/max family
      * folds (the two-sided case re-marks it all-delete so every
      * touched key rebuilds from the joined base, while the additive
      * family keeps the true signed union). */
    def fold(delta: DataFrame, mmDelta: DataFrame => DataFrame = identity)
        : RefreshMode = {
      if (js.agg.keySrcNames.isEmpty) {
        // global aggregate over a join: single-row MV, overwrite is
        // already churn-sized
        val folded = js.agg.applyFold(
          js.agg.toInternal(mv.scan(spark)), delta, baseAtHeads, mmDelta)
        mv.overwriteAll(js.agg.fromInternal(folded, outNames, mv),
          meta.currentSnapshotId, extraProperties = ckpts)
        return Incremental
      }
      val touched = delta.select(js.agg.keySrcNames.map(col): _*).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val prevTouched = ChangelogApply.nullSafeJoin(
          js.agg.toInternal(mv.scan(spark).filter(
            ChangelogApply.touchedBoundsFilter(
              js.agg.touchedOut(touched), js.agg.keyOutNames))),
          touched, js.agg.keySrcNames, "left_semi")
        val folded = js.agg.applyFold(prevTouched, delta, baseAtHeads, mmDelta)
        mv.replaceKeys(spark, js.agg.keyOutNames,
          js.agg.touchedOut(touched), js.agg.fromInternal(folded, outNames, mv),
          meta.currentSnapshotId, extraProperties = ckpts)
      } finally touched.unpersist(blocking = false)
      Incremental
    }

    (ckL, ckR) match {
      case (Some(cl), Some(cr)) if rHead.contains(cr) =>
        // only the left side moved
        lHead match {
          case Some(lh) => fold(js.delta(
            lt.changelogScan(spark, cl, Some(lh)),
            rt.scan(spark, rt.AtSnapshot(cr)), changedIsLeft = true))
          case None => fullAtHeads()
        }
      case (Some(cl), Some(cr)) if lHead.contains(cl) =>
        // only the right side moved
        rHead match {
          case Some(rh) => fold(js.delta(
            rt.changelogScan(spark, cr, Some(rh)),
            lt.scan(spark, lt.AtSnapshot(cl)), changedIsLeft = false))
          case None => fullAtHeads()
        }
      case (Some(cl), Some(cr)) =>
        // BOTH sides moved: the full bilinear expansion —
        //   Δ(A⋈B) = ΔA⋈B_old + A_old⋈ΔB + ΔA⋈ΔB
        // (signed multisets; the cross-term's pair sign is the product
        // of the two row signs). Still churn-priced: the only
        // full-table scans are each side AT ITS OLD checkpoint joined
        // against the OTHER side's delta — never old⋈old. For the
        // recompute-on-touch families the bilinear terms serve as the
        // TOUCHED-KEY cover (every added or removed joined pair appears
        // in one of them); min/max additionally re-marks every row
        // 'delete' so no second-order pair is ever arithmetic-folded —
        // its touched keys all rebuild from the joined base (the
        // re-mark applies to the min/max family ALONE: a mixed-family
        // MV's additive part still folds the true signed union).
        (lHead, rHead) match {
          case (Some(lh), Some(rh)) =>
            val dL = lt.changelogScan(spark, cl, Some(lh))
            val dR = rt.changelogScan(spark, cr, Some(rh))
            val union =
              js.delta(dL, rt.scan(spark, rt.AtSnapshot(cr)), changedIsLeft = true)
                .unionByName(js.delta(dR, lt.scan(spark, lt.AtSnapshot(cl)), changedIsLeft = false))
                .unionByName(js.deltaCross(dL, dR))
            fold(union,
              mmDelta = _.withColumn("_change_type", lit("delete")))
          case _ => fullAtHeads() // a side went from/to empty-headed
        }
      case _ => fullAtHeads() // a checkpoint is missing
    }
  }

  // ------------------------------------------------- shape detection
  /** One MV output column of a foldable aggregate. */
  private[engine] sealed trait OutCol
  private[engine] final case class KeyOut(srcName: String, outName: String) extends OutCol
  private[engine] final case class CountStarOut(outName: String) extends OutCol
  private[engine] final case class CountVOut(outName: String) extends OutCol
  private[engine] final case class SumVOut(outName: String) extends OutCol
  private[engine] final case class AvgVOut(outName: String) extends OutCol
  private[engine] final case class MinVOut(outName: String) extends OutCol
  private[engine] final case class MaxVOut(outName: String) extends OutCol
  private[engine] final case class CountDistinctOut(outName: String) extends OutCol

  /** A defining query that folds through [[ChangelogApply.applyCountSum]]:
    * `SELECT keys..., count(*)/count(v)/sum(v)... FROM <graft table>
    * [WHERE deterministic-predicate] GROUP BY keys...`. */
  private[engine] final case class FoldShape(
      catalogName: String,
      sourceIdent: TableIdent,
      filter: Option[Expression], // unresolved-by-name, deterministic
      outs: Seq[OutCol],
      valueSrc: Option[String]) {

    def sourceName: String = s"$catalogName.${sourceIdent.namespace.mkString(".")}.${sourceIdent.name}"
    def keySrcNames: Seq[String] = outs.collect { case k: KeyOut => k.srcName }
    def keyOutNames: Seq[String] = outs.collect { case k: KeyOut => k.outName }
    private def keyOuts: Seq[KeyOut] = outs.collect { case k: KeyOut => k }

    /** Touched-key frame (source names) → the MV's declared key names —
      * what [[GraftTable.replaceKeys]] equality-deletes. */
    def touchedOut(touched: DataFrame): DataFrame =
      touched.select(keyOuts.map(k => col(k.srcName).as(k.outName)): _*)

    /** Positional rename of the OUT side: [[shapeOf]] labels columns
      * with the QUERY's output names, but the MV's backing table may
      * carry user-declared names — reading/writing that table must use
      * the declared names. `outs` is 1:1 positional with the analyzed
      * output, so a zip is exact. */
    def withOutNames(declared: Seq[String]): FoldShape =
      copy(outs = outs.zip(declared).map {
        case (k: KeyOut, n) => k.copy(outName = n)
        case (c: CountStarOut, n) => c.copy(outName = n)
        case (c: CountVOut, n) => c.copy(outName = n)
        case (c: SumVOut, n) => c.copy(outName = n)
        case (c: AvgVOut, n) => c.copy(outName = n)
        case (c: MinVOut, n) => c.copy(outName = n)
        case (c: MaxVOut, n) => c.copy(outName = n)
        case (c: CountDistinctOut, n) => c.copy(outName = n)
      })
    /** Min/max family folds through [[ChangelogApply.applyMinMax]]
      * (recompute-on-retract); count/sum through applyCountSum. */
    def isMinMax: Boolean = outs.exists {
      case _: MinVOut | _: MaxVOut => true; case _ => false
    }
    /** Distinct-count family folds through
      * [[ChangelogApply.applyCountDistinct]] (every touched key
      * recomputes — no per-value-free fold exists for distinct). */
    def isCountDistinct: Boolean = outs.exists(_.isInstanceOf[CountDistinctOut])
    /** Additive family: sum/avg/count(v) outputs, or a pure-count(*)
      * MV (which folds through the same count/sum arithmetic). */
    def isAdditive: Boolean = outs.exists {
      case _: SumVOut | _: AvgVOut | _: CountVOut => true; case _ => false
    } || (!isMinMax && !isCountDistinct)

    /** Fold one changelog delta into the previous internal state —
      * families don't mix INSIDE an apply helper, so a mixed-family MV
      * (e.g. sum + min in one view) folds each family through its own
      * path and inner-joins the parts on the group keys (every part
      * emits exactly the keys with n_rows > 0, so the join is total).
      * `baseAtHead` is only evaluated for the recompute-on-touch
      * families; `mmDelta` lets the two-sided join tick re-mark the
      * min/max family's delta all-delete without corrupting the
      * additive arithmetic. */
    def applyFold(
        prevInternal: DataFrame, changes: DataFrame,
        baseAtHead: => DataFrame,
        mmDelta: DataFrame => DataFrame = identity): DataFrame = {
      val k = keySrcNames
      val parts = Seq(
        (if (isAdditive) Some(ChangelogApply.applyCountSum(
          prevInternal.select((k ++ Seq("n_rows", "n_vals", "sum_v")).map(col): _*),
          withValue(changes), k, valueName)) else None),
        (if (isMinMax) Some(ChangelogApply.applyMinMax(
          prevInternal.select((k ++ Seq("n_rows", "min_v", "max_v")).map(col): _*),
          mmDelta(changes), baseAtHead, k, valueName)) else None),
        (if (isCountDistinct) Some(ChangelogApply.applyCountDistinct(
          prevInternal.select((k ++ Seq("n_rows", "n_distinct")).map(col): _*),
          changes, baseAtHead, k, valueName)) else None)).flatten
      if (k.isEmpty && parts.size > 1) {
        // a keyless mixed-family MV would need a 1x1 join. Each
        // family's apply helper emits EXACTLY one row for the keyless
        // global group — including the all-deleted case (count 0,
        // NULL aggregates: SQL's global-group fixture). r15 relied on
        // that invariant by convention (a crossJoin silently drops the
        // global row if a future family ever emits zero); r16 made it
        // SELF-ENFORCING; r17 keeps the enforcement but evaluates all
        // parts in ONE job: the parts are cross-joined as structs (all
        // single-row by contract, so the product is 1×1×1) and
        // collected together — a zero-row family EMPTIES the product
        // and a multi-row family INFLATES it, both caught by the
        // row-count check below, never silently. The per-family
        // diagnostic job runs only on the failure path.
        val session = parts.head.sparkSession
        val combined = parts.zipWithIndex
          .map { case (p, i) =>
            p.select(struct(p.columns.map(col).toSeq: _*).as(s"__part_$i")) }
          .reduceLeft(_ crossJoin _)
        val combinedRows = combined.limit(2).collect()
        if (combinedRows.length != 1) {
          val counts = parts
            .map(p => s"${p.schema.fieldNames.mkString("/")}: ${p.limit(3).count()}")
          throw new IllegalArgumentException(
            "keyless fold invariant violated: the single-row-per-family " +
              s"product has ${combinedRows.length} rows (contract: exactly 1, " +
              "including the all-deleted case) — per-family row counts " +
              s"(capped at 3): ${counts.mkString("; ")}")
        }
        val evaluated = parts.zipWithIndex.map { case (p, i) =>
          (p.schema, combinedRows.head.getStruct(i))
        }
        val (headSchema, headRow) = evaluated.head
        val tailKept = evaluated.tail.map { case (sch, r) =>
          val keep = sch.fields.zipWithIndex.filter(_._1.name != "n_rows")
          (keep.map(_._1).toSeq, keep.map { case (_, i) => r.get(i) }.toSeq)
        }
        session.createDataFrame(
          java.util.Arrays.asList(
            Row.fromSeq(headRow.toSeq ++ tailKept.flatMap(_._2))),
          org.apache.spark.sql.types.StructType(
            headSchema.fields.toSeq ++ tailKept.flatMap(_._1)))
      } else parts.reduceLeft((a, b) =>
        ChangelogApply.nullSafeJoin(a, b.drop("n_rows"), k, "inner"))
    }

    def sourceTable(spark: SparkSession): GraftTable = {
      val plugin = GraftShims.catalogPlugin(spark, Some(catalogName))
      plugin.asInstanceOf[GraftSparkCatalog].engineTable(sourceIdent)
    }

    def applyFilter(df: DataFrame): DataFrame =
      filter.fold(df)(e => df.filter(GraftShims.column(e)))

    /** Name the fold's value column; when the query has no value
      * aggregate a constant 1 stands in (sum of 1s == count — the fold
      * stays exact and the synthetic columns are dropped on output). */
    val valueName: String = valueSrc.getOrElse("__mv_one")
    private def needsRealSum: Boolean = outs.exists {
      case _: SumVOut | _: AvgVOut => true; case _ => false
    }
    def withValue(changes: DataFrame): DataFrame =
      if (valueSrc.isEmpty) changes.withColumn(valueName, lit(1L))
      else if (!needsRealSum)
        // count(v)-only fold: only the NULL positions matter, so map v
        // to a {1L, NULL} indicator — keeps applyCountSum's
        // `__sign * v` arithmetic well-typed for ANY source type
        // (count(string) would otherwise hit an ANSI cast error)
        changes.withColumn(valueName,
          org.apache.spark.sql.functions.when(col(valueName).isNotNull, lit(1L)))
      else changes

    /** Stored MV rows → the internal frame the fold expects:
      * (keys..., n_rows, n_vals, sum_v) for the count/sum family,
      * (keys..., n_rows, min_v, max_v) for the min/max family. A
      * declared-but-absent internal column is synthesized from what IS
      * stored; synthesized columns are discarded on output, so they
      * only need to keep the fold's arithmetic well-typed. */
    def toInternal(stored: DataFrame): DataFrame = {
      val nRows = outs.collectFirst { case c: CountStarOut => col(c.outName) }.get
      val distinctCols = if (!isCountDistinct) Nil else {
        val nd = outs.collectFirst { case c: CountDistinctOut => col(c.outName) }.get
        Seq(nd.cast("long").as("n_distinct"))
      }
      val minMaxCols = if (!isMinMax) Nil else {
        val minV = outs.collectFirst { case c: MinVOut => col(c.outName) }
        val maxV = outs.collectFirst { case c: MaxVOut => col(c.outName) }
        Seq(minV.getOrElse(maxV.get).as("min_v"),
          maxV.getOrElse(minV.get).as("max_v"))
      }
      val additiveCols = if (!isAdditive) Nil else {
        val nVals = outs.collectFirst { case c: CountVOut => col(c.outName) }
          .getOrElse(nRows) // value col proven non-nullable (or synthetic 1)
        val sumV = outs.collectFirst { case c: SumVOut => col(c.outName) }
          .orElse(outs.collectFirst { case c: AvgVOut =>
            // avg-only MV: recover the exact sum as avg × n_vals.
            // shapeOf admits this shape only for INTEGRAL values, where
            // the round() makes the double round-trip exact (up to
            // ~2^51 of per-key mass — see SCALING.md's MV section)
            org.apache.spark.sql.functions
              .round(col(c.outName) * nVals.cast("double")).cast("long")
          })
          // no sum/avg stored: the fold's value is the {1L, NULL}
          // indicator (or the synthetic constant 1), whose sum IS the
          // non-null count — seed sum_v with n_vals so prev + delta
          // stay in the same unit (the column is dropped on output)
          .getOrElse(nVals.cast("long"))
        Seq(nVals.cast("long").as("n_vals"), sumV.as("sum_v"))
      }
      // a mixed-family MV carries the UNION of its families' internal
      // columns; each applyFold part selects its own slice
      stored.select(
        keyOuts.map(k => col(k.outName).as(k.srcName)) ++
          Seq(nRows.cast("long").as("n_rows")) ++
          additiveCols ++ minMaxCols ++ distinctCols: _*)
    }

    /** Folded internal frame → the MV's declared columns, cast to its
      * declared types (sum over int widens internally; the table
      * schema wins). */
    def fromInternal(folded: DataFrame, outNames: Seq[String], mv: GraftTable): DataFrame = {
      val types = mv.metadata.currentSchema.fields
        .map(f => f.name -> SchemaBridge.toSpark(f.fieldType)).toMap
      val byName: Map[String, Column] = outs.map {
        case KeyOut(src, out) => out -> col(src).cast(types(out)).as(out)
        case CountStarOut(out) => out -> col("n_rows").cast(types(out)).as(out)
        case CountVOut(out) => out -> col("n_vals").cast(types(out)).as(out)
        case SumVOut(out) => out -> col("sum_v").cast(types(out)).as(out)
        case AvgVOut(out) =>
          // SQL NULL when the group has no non-null values — and the
          // `when` guard keeps ANSI division away from n_vals = 0
          out -> org.apache.spark.sql.functions
            .when(col("n_vals") > lit(0L),
              col("sum_v").cast("double") / col("n_vals").cast("double"))
            .cast(types(out)).as(out)
        case MinVOut(out) => out -> col("min_v").cast(types(out)).as(out)
        case MaxVOut(out) => out -> col("max_v").cast(types(out)).as(out)
        case CountDistinctOut(out) => out -> col("n_distinct").cast(types(out)).as(out)
      }.toMap
      // column order must match the declared schema
      folded.select(outNames.map(byName): _*)
    }

    /** Full recompute in the MV's declared column order — the cold
      * start and the fallback the incremental fold must always equal. */
    def recompute(base: DataFrame, outNames: Seq[String]): DataFrame = {
      val grouped = base.groupBy(keySrcNames.map(col): _*)
      val aggs = outs.collect {
        case CountStarOut(out) => org.apache.spark.sql.functions.count(lit(1)).as(out)
        case CountVOut(out) => org.apache.spark.sql.functions.count(col(valueName)).as(out)
        case SumVOut(out) => org.apache.spark.sql.functions.sum(col(valueName)).as(out)
        case AvgVOut(out) => org.apache.spark.sql.functions.avg(col(valueName)).as(out)
        case MinVOut(out) => org.apache.spark.sql.functions.min(col(valueName)).as(out)
        case MaxVOut(out) => org.apache.spark.sql.functions.max(col(valueName)).as(out)
        case CountDistinctOut(out) =>
          org.apache.spark.sql.functions.count_distinct(col(valueName)).as(out)
      }
      val keyed = grouped.agg(aggs.head, aggs.tail: _*)
      val renamedKeys = keyOuts.foldLeft(keyed) { (df, k) =>
        if (k.srcName == k.outName) df else df.withColumnRenamed(k.srcName, k.outName)
      }
      renamedKeys.select(outNames.map(col): _*)
    }
  }

  /** The two-table incremental-view-maintenance shape:
    * `SELECT keys..., count(*)[, count(v)/sum(v)/avg(v)/min(v)/max(v)/
    * count(distinct v)] FROM a JOIN b ON a.x = b.y [WHERE det]
    * GROUP BY keys...` over two graft tables. The classic delta rules:
    * one side changed → Δ(A ⋈ B) = ΔA ⋈ B (the changed side's
    * CHANGELOG joined against the other side's unchanged head); both
    * sides changed → the full signed bilinear expansion
    * ΔA⋈B + A⋈ΔB + ΔA⋈ΔB. Every fold is churn × other-side-sized,
    * never either table from scratch; min/max and count-distinct
    * rebuild touched keys from the JOINED base at the pinned heads.
    *
    * `agg` carries the aggregate arithmetic (outs/value/internal
    * frames) — the same machinery [[FoldShape]] uses, over the JOINED
    * frame's column names. */
  private[engine] final case class JoinShape(
      catalogName: String,
      leftIdent: TableIdent,
      rightIdent: TableIdent,
      leftKey: String,
      rightKey: String,
      /** non-join-key columns each fold needs from each side */
      leftCols: Seq[String],
      rightCols: Seq[String],
      /** post-join, name-based (right join key rewritten to left's) */
      filter: Option[Expression],
      agg: FoldShape) {

    def leftName: String =
      s"$catalogName.${leftIdent.namespace.mkString(".")}.${leftIdent.name}"
    def rightName: String =
      s"$catalogName.${rightIdent.namespace.mkString(".")}.${rightIdent.name}"

    def table(spark: SparkSession, ti: TableIdent): GraftTable = {
      val plugin = GraftShims.catalogPlugin(spark, Some(catalogName))
      plugin.asInstanceOf[GraftSparkCatalog].engineTable(ti)
    }

    def withOutNames(declared: Seq[String]): JoinShape =
      copy(agg = agg.withOutNames(declared))

    /** Join `lf` (left-side frame, may carry `_change_type`) with `rf`
      * (right-side frame, likewise): ONE join-key column survives,
      * named after the LEFT key; each side is pruned to what the fold
      * reads. Right-side names are disjoint from left's by detection. */
    private def joined(lf: DataFrame, rf: DataFrame): DataFrame = {
      def keep(df: DataFrame, needed: Seq[String]): Seq[String] =
        needed.filter(df.columns.contains) // _change_type rides only on the changelog side
      val lNeeded = (leftKey +: (leftCols :+ "_change_type")).distinct
      val rNeeded = (rightKey +: (rightCols :+ "_change_type")).distinct
      val lp = lf.select(keep(lf, lNeeded).map(col): _*)
      val rp = rf.select(keep(rf, rNeeded).map(col): _*)
        .withColumnRenamed(rightKey, "__mv_jk")
      lp.join(rp, col(leftKey) === col("__mv_jk"), "inner").drop("__mv_jk")
    }

    private def applyFilter(df: DataFrame): DataFrame =
      filter.fold(df)(e => df.filter(GraftShims.column(e)))

    /** The one-sided delta: the changed side's changelog ⋈ the other
      * side's head scan, filter applied POST-join (it may reference
      * both sides). `changedIsLeft` orients the join. */
    def delta(changes: DataFrame, other: DataFrame,
        changedIsLeft: Boolean): DataFrame =
      applyFilter(
        if (changedIsLeft) joined(changes, other) else joined(other, changes))

    /** The second-order cross-term ΔA ⋈ ΔB of the bilinear expansion:
      * both inputs carry `_change_type`, and a joined pair's sign is
      * the PRODUCT of the two row signs — re-encoded as one
      * `_change_type` ((insert,insert) and (delete,delete) → insert,
      * mixed → delete) so the additive fold consumes it unchanged.
      * Churn × churn sized: both inputs are changelogs. */
    def deltaCross(lChanges: DataFrame, rChanges: DataFrame): DataFrame = {
      val lp = lChanges
        .select(((leftKey +: leftCols).distinct.map(col) :+
          col("_change_type").as("__ct_l")): _*)
      val rp = rChanges
        .select(((rightKey +: rightCols).distinct.map(col) :+
          col("_change_type").as("__ct_r")): _*)
        .withColumnRenamed(rightKey, "__mv_jk")
      applyFilter(lp.join(rp, col(leftKey) === col("__mv_jk"), "inner")
        .withColumn("_change_type",
          when(col("__ct_l") === col("__ct_r"), lit("insert"))
            .otherwise(lit("delete")))
        .drop("__mv_jk", "__ct_l", "__ct_r"))
    }

    /** The joined, filtered base frame over two pinned scans — the
      * recompute input AND the touched-key rebuild source for the
      * min/max / count-distinct folds. */
    def baseFrame(lScan: DataFrame, rScan: DataFrame): DataFrame =
      applyFilter(joined(lScan, rScan))

    /** Full recompute over the two PINNED head scans. */
    def recompute(lScan: DataFrame, rScan: DataFrame,
        outNames: Seq[String]): DataFrame =
      agg.recompute(baseFrame(lScan, rScan), outNames)
  }

  /** The GENERALIZED single-table incremental shape (r14) — the tier
    * between the arithmetic folds and full recompute. Grammar: any
    * `[Filter | Project]*` chain over ONE `Aggregate` over
    * `[Filter]` over one graft table, where every node is
    * deterministic and every group key is a plain source attribute
    * still exposed (possibly aliased) in the final output. No
    * per-aggregate arithmetic exists for this grammar (HAVING prunes
    * the stored state, expressions over aggregates aren't invertible),
    * but RECOMPUTE-ON-TOUCH doesn't need any: re-execute the defining
    * PLAN over the pinned base restricted to the touched keys, and
    * replace exactly those keys. Correct for ANY deterministic
    * aggregate because it IS the defining query, scoped to the groups
    * that could have changed. */
  // ------------------------- rebuild tier: shared plan machinery
  /** Peel the deterministic `[Filter | Project]*` chain down to ONE
    * aggregate; SELECT DISTINCT analyzes to a Distinct node — its
    * implicit aggregate groups by (and emits) its child's output. */
  private def peelToAggregate(p: LogicalPlan): Option[(Seq[Expression], LogicalPlan)] =
    p match {
      case f: Filter if f.condition.deterministic => peelToAggregate(strip(f.child))
      case pr: Project if pr.projectList.forall(_.deterministic) =>
        peelToAggregate(strip(pr.child))
      case a: Aggregate
          if a.aggregateExpressions.forall(_.deterministic) =>
        Some((a.groupingExpressions, a.child))
      case d: org.apache.spark.sql.catalyst.plans.logical.Distinct =>
        Some((strip(d.child).output, d.child))
      case _ => None
    }

  /** Below the aggregate: pass-through column pruning and
    * deterministic filters are fine; anything else is out of grammar
    * (determinism is enforced by the match guards, so reaching a
    * relation/join means the whole chain qualified). */
  private def belowChain(p: LogicalPlan): LogicalPlan = strip(p) match {
    case Filter(c, r) if c.deterministic => belowChain(r)
    case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      belowChain(pr.child)
    case r => r
  }

  /** For each final output position, the exprId of the underlying
    * pass-through attribute (None for computed columns). */
  private def originsOf(p: LogicalPlan)
      : Seq[Option[org.apache.spark.sql.catalyst.expressions.ExprId]] = p match {
    case a: Aggregate => a.aggregateExpressions.map {
      case ar: AttributeReference => Some(ar.exprId)
      case Alias(ar: AttributeReference, _) => Some(ar.exprId)
      case _ => None
    }
    case f: Filter => originsOf(strip(f.child))
    case s: SubqueryAlias => originsOf(strip(s))
    // Window output = child.output ++ windowExpressions.map(_.toAttribute)
    case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
      originsOf(strip(w.child)) ++ w.windowExpressions.map(_ => None)
    // window-tier plans recurse all the way to the relation (aggregate
    // plans stop at the Aggregate node and never reach here)
    case r: DataSourceV2Relation => r.output.map(a => Some(a.exprId))
    case d: org.apache.spark.sql.catalyst.plans.logical.Distinct =>
      strip(d.child).output.map(a => Some(a.exprId))
    case pr: Project =>
      val child = strip(pr.child)
      val below = originsOf(child)
      val idx = child.output.map(_.exprId).zipWithIndex.toMap
      pr.projectList.map {
        case ar: AttributeReference => idx.get(ar.exprId).flatMap(below)
        case Alias(ar: AttributeReference, _) => idx.get(ar.exprId).flatMap(below)
        case _ => None
      }
    case other => other.output.map(_ => None)
  }

  /** Validate the group keys (plain attrs, non-empty, distinct names,
    * source columns of `sourceOut`) and locate each in the final
    * output — or None (→ full). */
  private def traceKeys(
      analyzed: LogicalPlan,
      groupExprs: Seq[Expression],
      sourceOut: org.apache.spark.sql.catalyst.expressions.AttributeSet)
      : Option[(Seq[AttributeReference], Seq[Int])] = {
    val groupAttrs = groupExprs.map {
      case a: AttributeReference => a
      case _ => return None // grouping on expressions: full (v1 boundary)
    }
    if (groupAttrs.isEmpty) return None // no key to replace rows by
    if (groupAttrs.map(_.name).distinct.size != groupAttrs.size) return None
    if (!groupAttrs.forall(sourceOut.contains)) return None
    val outOrigins = originsOf(strip(analyzed))
    val keyOutIdx = groupAttrs.map { g =>
      val i = outOrigins.indexWhere(_.contains(g.exprId))
      if (i < 0) return None // a group key not exposed: can't address rows
      i
    }
    Some((groupAttrs, keyOutIdx))
  }

  /** Wrap `frame` (same column names/types as `rel` — a pinned scan or
    * a changelog's plain rows) in a Project that aliases its columns
    * back onto `rel`'s ORIGINAL attribute ids, so every reference in
    * the stored analyzed plan resolves unchanged. */
  private def restoreAttrs(
      rel: DataSourceV2Relation, frame: DataFrame): LogicalPlan = {
    val sub = frame.queryExecution.analyzed
    val byName = sub.output.map(a => a.name -> a).toMap
    Project(
      rel.output.map(a => Alias(byName(a.name), a.name)(exprId = a.exprId)),
      sub)
  }

  private[engine] final case class RebuildShape(
      catalogName: String,
      sourceIdent: TableIdent,
      relation: DataSourceV2Relation,
      analyzed: LogicalPlan,
      keySrcNames: Seq[String],
      keyOutIdx: Seq[Int],
      declaredNames: Seq[String]) {

    def sourceName: String =
      s"$catalogName.${sourceIdent.namespace.mkString(".")}.${sourceIdent.name}"
    def keyOutNames: Seq[String] = keyOutIdx.map(declaredNames)
    def withOutNames(declared: Seq[String]): RebuildShape =
      copy(declaredNames = declared)

    def sourceTable(spark: SparkSession): GraftTable = {
      val plugin = GraftShims.catalogPlugin(spark, Some(catalogName))
      plugin.asInstanceOf[GraftSparkCatalog].engineTable(sourceIdent)
    }

    def touchedOut(touched: DataFrame): DataFrame =
      touched.select(keySrcNames.zip(keyOutNames)
        .map { case (s, o) => col(s).as(o) }: _*)

    /** Execute the defining plan with the source relation substituted
      * by `frame` (a pinned scan, optionally touched-key restricted).
      * Output is renamed positionally to the MV's declared columns. */
    def executeWith(spark: SparkSession, frame: DataFrame): DataFrame = {
      val restored = restoreAttrs(relation, frame)
      val swapped = analyzed.transformUp {
        case r: DataSourceV2Relation if r.output == relation.output => restored
      }
      GraftShims.ofRows(spark, swapped).toDF(declaredNames: _*)
    }
  }

  /** WINDOW-keyed rebuild tier (r17): `[Project|Filter]*` over ONE
    * Window node — every window expression partitioned by the SAME
    * plain source attributes — over `[Filter|pass-through Project]*`
    * over one graft relation. This is the top-k / latest-row-per-key
    * operational MV spelled the way people actually spell it:
    * {{{
    *   SELECT k, v, payload FROM (
    *     SELECT *, row_number() OVER (PARTITION BY k ORDER BY v DESC) rn
    *     FROM t) WHERE rn <= 3
    * }}}
    * (also rank/dense_rank filters, per-key lag/lead views). It reuses
    * [[RebuildShape]] — and therefore [[refreshRebuild]]'s tick —
    * UNCHANGED, because a window partitioned by K computes each
    * K-group from that group's rows alone: re-running the plan over
    * the touched partitions' COMPLETE head-pinned row set yields
    * exactly those keys' true rows. Runner-up resurrection is free —
    * a deleted rank-1 row's runner-up rides back in because the whole
    * partition recomputes, the same reason the min/max fold recomputes
    * deleted keys. Boundaries (→ full refresh, honest): multiple
    * Window nodes or mixed partition specs (a window over a COARSER
    * key could read rows outside the touched partitions), empty
    * partition spec (global window), expression partitions, keys not
    * exposed in the output (nothing to address the replacement by). */
  private[engine] def rebuildWindowShapeOf(
      spark: SparkSession, analyzed: LogicalPlan): Option[RebuildShape] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def peelToWindow(p: LogicalPlan): Option[LWindow] = strip(p) match {
      case w: LWindow => Some(w)
      case f: Filter if f.condition.deterministic => peelToWindow(f.child)
      case pr: Project if pr.projectList.forall(_.deterministic) =>
        peelToWindow(pr.child)
      case _ => None
    }
    val w = peelToWindow(analyzed).getOrElse(return None)
    // exactly one Window node: anything window-shaped below is a
    // different (possibly coarser) partitioning — full fallback
    if (w.child.exists(_.isInstanceOf[LWindow])) return None
    if (!w.windowExpressions.forall(_.deterministic)) return None
    if (!w.orderSpec.forall(_.deterministic)) return None
    val rel = belowChain(w.child) match {
      case r: DataSourceV2Relation if r.identifier.isDefined &&
          r.catalog.exists(_.isInstanceOf[GraftSparkCatalog]) => r
      case _ => return None
    }
    val (keyAttrs, keyOutIdx) =
      traceKeys(analyzed, w.partitionSpec, rel.outputSet).getOrElse(return None)
    val ident = rel.identifier.get
    Some(RebuildShape(
      rel.catalog.get.name(),
      TableIdent(ident.namespace().toSeq, ident.name()),
      rel, analyzed,
      keyAttrs.map(_.name), keyOutIdx,
      analyzed.output.map(_.name)))
  }

  /** For each output position of `p`, the RELATION-LEVEL expression it
    * computes — every intermediate alias inlined down to the single
    * graft relation's attributes — plus that relation. None per
    * position for window-function outputs and anything else that does
    * not resolve to pure relation-attribute expressions; None overall
    * when the tree is out of grammar (joins, aggregates, non-
    * deterministic nodes). The expression twin of [[originsOf]]: the
    * analyzer EXTRACTS expression window keys into a computing Project
    * below the Window (`_w0`), which the pass-through grammar cannot
    * see through — this can. */
  private def relationLevelOutputs(p: LogicalPlan)
      : Option[(Seq[Option[Expression]], DataSourceV2Relation)] = strip(p) match {
    case r: DataSourceV2Relation =>
      Some((r.output.map(a => Some(a: Expression)), r))
    case f: Filter if f.condition.deterministic => relationLevelOutputs(f.child)
    case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
      relationLevelOutputs(w.child).map { case (ch, r) =>
        (ch ++ w.windowExpressions.map(_ => None), r)
      }
    case pr: Project if pr.projectList.forall(_.deterministic) =>
      relationLevelOutputs(pr.child).map { case (ch, r) =>
        val byId = pr.child.output.map(_.exprId).zip(ch).toMap
        val outs = pr.projectList.map { ne =>
          val e = ne match { case Alias(e0, _) => e0; case other => other }
          inlineToRelation(e, byId)
        }
        (outs, r)
      }
    case _ => None
  }

  /** Inline every attribute reference in `e` through `byId` (attr →
    * its relation-level expression); None when any reference is
    * unresolvable (e.g. a window output). */
  private def inlineToRelation(
      e: Expression,
      byId: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Option[Expression]])
      : Option[Expression] = {
    var ok = true
    val inlined = e.transformUp {
      case a: AttributeReference =>
        byId.get(a.exprId).flatten match {
          case Some(re) => re
          case None => ok = false; a
        }
    }
    if (ok) Some(inlined) else None
  }

  /** WINDOW tier, EXPRESSION partitions (r18): the same top-k /
    * latest-row-per-key operational shape as [[rebuildWindowShapeOf]]
    * but `PARTITION BY <deterministic expressions>` — the day-bucketed
    * leaderboard:
    * {{{
    *   SELECT date_trunc('day', ts) AS day, k, v, rn FROM (
    *     SELECT *, row_number() OVER (
    *       PARTITION BY date_trunc('day', ts) ORDER BY v DESC) rn
    *     FROM t) WHERE rn <= 3
    * }}}
    * The analyzer extracts expression keys into a computing Project
    * below the Window (`_w0`), so the attribute tier's pass-through
    * grammar never reaches the relation; this detector inlines the
    * below-chain aliases to recover each partition key as a
    * RELATION-LEVEL expression and reuses the expression-keyed rebuild
    * machinery — [[RebuildExprShape]] with `sourceGate = true`, ticked
    * by [[refreshRebuildExpr]]: touched tuples evaluated over the
    * changelog's plain rows, the rebuild's window input restricted at
    * the source to rows whose tuple is touched (EXACT: a row's
    * partition tuple is a deterministic function of the row, so the
    * touched partitions recompute from their complete row sets —
    * runner-up resurrection included), the tick's scan file-pruned
    * through [[InvertibleKeyBounds]] whenever the bucketing inverts
    * (`date_trunc` does), and a replaceKeys commit addressed by the
    * exposed key columns. Boundaries (→ full, honest): multiple or
    * nested Window nodes, mixed specs across window expressions, empty
    * partition spec, a key not exposed in the output, a key whose
    * below-chain resolution fails. */
  private[engine] def rebuildWindowExprShapeOf(
      spark: SparkSession, analyzed: LogicalPlan): Option[RebuildExprShape] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def peelToWindow(p: LogicalPlan): Option[LWindow] = strip(p) match {
      case w: LWindow => Some(w)
      case f: Filter if f.condition.deterministic => peelToWindow(f.child)
      case pr: Project if pr.projectList.forall(_.deterministic) =>
        peelToWindow(pr.child)
      case _ => None
    }
    val w = peelToWindow(analyzed).getOrElse(return None)
    if (w.child.exists(_.isInstanceOf[LWindow])) return None
    if (!w.windowExpressions.forall(_.deterministic)) return None
    if (!w.orderSpec.forall(_.deterministic)) return None
    if (w.partitionSpec.isEmpty) return None // global window: full
    if (!w.partitionSpec.forall(_.deterministic)) return None
    val (childOuts, rel) = relationLevelOutputs(w.child).getOrElse(return None)
    if (!(rel.identifier.isDefined &&
        rel.catalog.exists(_.isInstanceOf[GraftSparkCatalog]))) return None
    val byId = w.child.output.map(_.exprId).zip(childOuts).toMap
    val groupExprs = w.partitionSpec.map(e =>
      inlineToRelation(e, byId).getOrElse(return None))
    if (!groupExprs.forall(_.references.subsetOf(rel.outputSet))) return None
    // exposure: each key tuple component must be addressable in the
    // final output (replaceKeys deletes/reinserts by those columns)
    val (outExprs, _) = relationLevelOutputs(analyzed).getOrElse(return None)
    val keyOutIdx = groupExprs.map { g =>
      val i = outExprs.indexWhere(_.exists(_.semanticEquals(g)))
      if (i < 0) return None
      i
    }
    if (keyOutIdx.distinct.size != keyOutIdx.size) return None
    val declared = analyzed.output.map(_.name)
    val keyNames = keyOutIdx.map(declared)
    if (keyNames.distinct.size != keyNames.size) return None
    val ident = rel.identifier.get
    Some(RebuildExprShape(
      rel.catalog.get.name(),
      TableIdent(ident.namespace().toSeq, ident.name()),
      rel, analyzed,
      // touched tuples evaluate over PLAIN delta rows (below-chain
      // filters skipped — a superset of the true touched set is safe)
      rel, groupExprs, keyNames, keyOutIdx, declared,
      sourceGate = true))
  }

  /** Analyzed plan → [[RebuildShape]], or None. Checked AFTER the
    * arithmetic fold shapes (cheaper ticks win). */
  private[engine] def rebuildShapeOf(
      spark: SparkSession, analyzed: LogicalPlan): Option[RebuildShape] = {
    val (groupExprs, aggChild) = peelToAggregate(strip(analyzed)).getOrElse(return None)
    belowChain(aggChild) match {
      case r: DataSourceV2Relation if r.identifier.isDefined &&
          r.catalog.exists(_.isInstanceOf[GraftSparkCatalog]) =>
        val (groupAttrs, keyOutIdx) =
          traceKeys(analyzed, groupExprs, r.outputSet).getOrElse(return None)
        val ident = r.identifier.get
        Some(RebuildShape(
          r.catalog.get.name(),
          TableIdent(ident.namespace().toSeq, ident.name()),
          r, analyzed,
          groupAttrs.map(_.name), keyOutIdx,
          analyzed.output.map(_.name)))
      case _ => None
    }
  }

  /** The rebuild tier over a TWO-TABLE inner join (r14): the same
    * recompute-on-touch discipline for `[Filter|Project]*` over one
    * aggregate over `[Filter|Project]*` over `a INNER JOIN b` (ANY
    * deterministic join condition — the rebuild re-executes the plan,
    * so nothing restricts it to single-attribute equi-joins the way
    * the arithmetic fold is). Touched group keys are derived by the
    * same bilinear cover the fold path proves: every joined pair that
    * appeared or disappeared since the checkpoints shows up in
    * ΔA⋈B@head ∪ A@head⋈ΔB ∪ ΔA⋈ΔB — each term evaluated by
    * substituting the plan BELOW the aggregate (so the defining WHERE
    * and join condition apply) and projecting the group keys. The
    * rebuild then re-executes the FULL plan at the two pinned heads
    * with a null-safe LeftSemi on the touched keys injected directly
    * above the aggregate's child. INNER only: an outer join's
    * null-extended rows can change for keys outside this cover. */
  private[engine] final case class RebuildJoinShape(
      catalogName: String,
      leftIdent: TableIdent,
      rightIdent: TableIdent,
      leftRel: DataSourceV2Relation,
      rightRel: DataSourceV2Relation,
      analyzed: LogicalPlan,
      aggChild: LogicalPlan,
      groupAttrs: Seq[AttributeReference],
      keyOutIdx: Seq[Int],
      declaredNames: Seq[String],
      joinType: org.apache.spark.sql.catalyst.plans.JoinType,
      leftChild: LogicalPlan,
      rightChild: LogicalPlan,
      joinCond: Option[Expression]) {

    import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftOuter, RightOuter}

    /** Does the join preserve unmatched rows of this side (LEFT
      * preserves its left, FULL both)? Preserved-side rows can appear
      * NULL-EXTENDED in the output — the semantics the outer-join
      * cover terms and the restriction policy both hinge on. */
    def preservesLeft: Boolean = joinType == LeftOuter || joinType == FullOuter
    def preservesRight: Boolean = joinType == RightOuter || joinType == FullOuter

    def leftName: String =
      s"$catalogName.${leftIdent.namespace.mkString(".")}.${leftIdent.name}"
    def rightName: String =
      s"$catalogName.${rightIdent.namespace.mkString(".")}.${rightIdent.name}"
    def keySrcNames: Seq[String] = groupAttrs.map(_.name)
    def keyOutNames: Seq[String] = keyOutIdx.map(declaredNames)
    def withOutNames(declared: Seq[String]): RebuildJoinShape =
      copy(declaredNames = declared)

    def table(spark: SparkSession, ti: TableIdent): GraftTable = {
      val plugin = GraftShims.catalogPlugin(spark, Some(catalogName))
      plugin.asInstanceOf[GraftSparkCatalog].engineTable(ti)
    }

    def touchedOut(touched: DataFrame): DataFrame =
      touched.select(keySrcNames.zip(keyOutNames)
        .map { case (s, o) => col(s).as(o) }: _*)

    private def substitute(
        plan: LogicalPlan, aFrame: DataFrame, bFrame: DataFrame): LogicalPlan =
      plan.transformUp {
        case r: DataSourceV2Relation if r.output == leftRel.output =>
          restoreAttrs(leftRel, aFrame)
        case r: DataSourceV2Relation if r.output == rightRel.output =>
          restoreAttrs(rightRel, bFrame)
      }

    /** Group keys of one PAIR cover term: the plan below the aggregate
      * with the sides substituted and the join INNERIZED, projected to
      * the group-key attrs. Innerizing matters for the outer grammar:
      * a delta-vs-head term evaluated with the plan's own OUTER join
      * would null-extend every unmatched head row and blow the touched
      * set up to the whole base — pairs come from the inner core, and
      * null-extension changes are covered by [[nullExtKeys]] terms. */
    def pairKeysOf(spark: SparkSession, aFrame: DataFrame, bFrame: DataFrame): DataFrame = {
      val innerized = aggChild.transformUp {
        case j: Join if j.joinType != Inner => j.copy(joinType = Inner)
      }
      GraftShims.ofRows(spark, substitute(innerized, aFrame, bFrame))
        .select(groupAttrs.map(a => GraftShims.column(a).as(a.name)): _*)
    }

    /** The NULL-EXTENSION key of a preserved side's rows: that side's
      * group-key columns taken verbatim, every OTHER side's group key
      * as a typed NULL — the group a row lands in when it has no join
      * match. Cover terms feed this with (a) the side's delta rows
      * (their null-extension may have appeared/disappeared) and (b)
      * the side's head rows whose match-set changed ([[matchRows]]).
      * A SUPERSET is safe: an untouched-in-truth key rebuilds to its
      * identical row, and a key with no rows simply deletes. */
    def nullExtKeys(
        sideOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
        rows: DataFrame): DataFrame =
      rows.select(groupAttrs.map { g =>
        if (sideOut.contains(g)) col(g.name).as(g.name)
        else lit(null).cast(g.dataType).as(g.name)
      }: _*)

    /** Rows of the PRESERVED side (its join-child plan at `headFrame`)
      * that match the OTHER side's delta under the join condition — a
      * LeftSemi on the defining ON clause, so any a-row whose match-set
      * a ΔB row could have entered or left is found, delta-bounded. */
    def matchRows(
        spark: SparkSession, preservedIsLeft: Boolean,
        headFrame: DataFrame, deltaFrame: DataFrame): DataFrame = {
      import org.apache.spark.sql.catalyst.plans.LeftSemi
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, JoinHint}
      val (keep, probe) =
        if (preservedIsLeft)
          (substitute(leftChild, headFrame, headFrame),
            substitute(rightChild, deltaFrame, deltaFrame))
        else
          (substitute(rightChild, headFrame, headFrame),
            substitute(leftChild, deltaFrame, deltaFrame))
      GraftShims.ofRows(spark,
        LJoin(keep, probe, LeftSemi, joinCond, JoinHint.NONE))
    }

    /** Restrict ONE side's head-pinned scan to rows that can
      * contribute to a touched group — the churn-sizing of the tick's
      * COMPUTE, not just its write: a group key that originates from
      * side S takes its value verbatim from the S row (traceKeys
      * admits only plain pass-through attributes), so an S row whose
      * key-column subtuple is absent from `touched`'s projection onto
      * S's keys cannot feed any touched group. The projection's
      * min/max bounds push down to the DSv2 scan (manifest-stats file
      * pruning) and the null-safe semi is the row-level gate — the
      * same construction as the single-table rebuild. A side that
      * originates NO group key stays full: its rows join against the
      * other side's already-restricted rows, so the join stays
      * churn-bounded whenever at least one side carries keys. */
    private def restrictSide(
        frame: DataFrame, touched: DataFrame,
        sideOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
        prunedScan: Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame])
        : DataFrame =
      GraftMaterializedViews.restrictFrame(groupAttrs, frame, touched, sideOut, prunedScan)

    /** Re-execute the full defining plan at the substituted sides,
      * with the touched-key restriction applied at BOTH levels:
      * per-side scan restriction ([[restrictSide]] — bounds pushed to
      * the scans, so a tick's join is churn-sized, never
      * full-join-sized) and a null-safe LeftSemi injected above the
      * (single) aggregate's child as the exactness gate (the per-side
      * projections are rectangular — their cross product can admit
      * key TUPLES outside `touched`, which the semi drops). */
    def rebuild(
        spark: SparkSession, touched: DataFrame,
        aFrame: DataFrame, bFrame: DataFrame,
        aPruned: Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame] = None,
        bPruned: Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame] = None)
        : DataFrame = {
      import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe}
      import org.apache.spark.sql.catalyst.plans.LeftSemi
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, JoinHint}
      val touchedPlan = touched.queryExecution.analyzed
      val cond = groupAttrs.zip(touchedPlan.output)
        .map { case (g, t) => EqualNullSafe(g, t): Expression }
        .reduceLeft(And(_, _))
      // RESTRICTION POLICY by join type: restricting a side is exact
      // only when removing its rows cannot FABRICATE output rows. For
      // INNER joins removing any row only removes pairs — both sides
      // restrict. For an OUTER join, removing rows of a NON-preserved
      // side can turn a matched preserved row into a spurious
      // null-extended one, which could land in a legitimately-touched
      // (…, NULL) group and corrupt its rebuild — so only sides whose
      // unmatched rows the join does NOT preserve against may stay
      // unrestricted: LEFT restricts its left, RIGHT its right, FULL
      // neither (the above-aggregate semi remains the exactness gate
      // and the only restriction).
      val restrictA = joinType == Inner || joinType ==
        org.apache.spark.sql.catalyst.plans.LeftOuter
      val restrictB = joinType == Inner || joinType ==
        org.apache.spark.sql.catalyst.plans.RightOuter
      // a side is NARROWED only when the policy allows AND it actually
      // originates a group key (restrictSide is the identity otherwise)
      val aNarrowed = restrictA && groupAttrs.exists(leftRel.outputSet.contains)
      val bNarrowed = restrictB && groupAttrs.exists(rightRel.outputSet.contains)
      val aR = if (aNarrowed) restrictSide(aFrame, touched, leftRel.outputSet, aPruned)
        else aFrame
      val bR = if (bNarrowed) restrictSide(bFrame, touched, rightRel.outputSet, bPruned)
        else bFrame
      // r16 ENVELOPE: an un-narrowed, NON-PRESERVED side only matters
      // where it matches the narrowed companion — bound it by the
      // companion's direct equi-join-column stats (exact: dropping
      // non-matching rows of a non-preserved side cannot add or remove
      // output rows over the companion). Kills the rebuild's last
      // full dim scan in LEFT/RIGHT-join ticks and keyless-side inner
      // ticks; FULL OUTER keeps both sides whole.
      val eq = GraftMaterializedViews.treeEquiPairs(aggChild, Seq(leftRel, rightRel))
      val bFinal =
        if (!bNarrowed && !preservesRight && aNarrowed)
          GraftMaterializedViews.companionBounds(eq, 1, 0, aR) match {
            case Left(()) => bR.limit(0)
            case Right(bs) => GraftMaterializedViews.applyBounds(bR, bPruned, bs)
          }
        else bR
      val aFinal =
        if (!aNarrowed && !preservesLeft && bNarrowed)
          GraftMaterializedViews.companionBounds(eq, 0, 1, bR) match {
            case Left(()) => aR.limit(0)
            case Right(bs) => GraftMaterializedViews.applyBounds(aR, aPruned, bs)
          }
        else aR
      val swapped = substitute(analyzed, aFinal, bFinal)
      val restricted = swapped.transformUp {
        case a: Aggregate if a.groupingExpressions == (groupAttrs: Seq[Expression]) =>
          a.copy(child = LJoin(a.child, touchedPlan, LeftSemi, Some(cond), JoinHint.NONE))
        case d: org.apache.spark.sql.catalyst.plans.logical.Distinct
            if strip(d.child).output == groupAttrs =>
          d.copy(child = LJoin(d.child, touchedPlan, LeftSemi, Some(cond), JoinHint.NONE))
      }
      GraftShims.ofRows(spark, restricted).toDF(declaredNames: _*)
    }

    /** Unrestricted re-execution (cold start / full-at-heads). */
    def rebuildFull(
        spark: SparkSession, aFrame: DataFrame, bFrame: DataFrame): DataFrame =
      GraftShims.ofRows(spark, substitute(analyzed, aFrame, bFrame))
        .toDF(declaredNames: _*)
  }

  /** Restrict one side's frame to rows that can contribute to a
    * touched group: null-safe semi against the touched keys projected
    * onto THIS side's group-key columns, with the projection's min/max
    * bounds both pruning the FILE LISTING (via `prunedScan` —
    * [[GraftTable.scanStatsPruned]], supplied by the ticks) and
    * narrowing rows. Exact for any side whose removal cannot fabricate
    * output rows (every inner-join side; an outer join's restrictable
    * side — see the caller's policy). A side that originates no group
    * key stays as given. */
  private[engine] def restrictFrame(
      groupAttrs: Seq[AttributeReference],
      frame: DataFrame, touched: DataFrame,
      sideOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      prunedScan: Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame])
      : DataFrame = {
    val sideKeys = groupAttrs.filter(sideOut.contains).map(_.name)
    if (sideKeys.isEmpty) frame
    else {
      val proj = touched.select(sideKeys.map(col): _*).distinct()
      val tb = ChangelogApply.touchedBoundsOf(proj, sideKeys)
      val bounded = prunedScan match {
        case Some(scanWith) => scanWith(tb.filters).filter(tb.residual)
        case None => frame.filter(tb.residual)
      }
      ChangelogApply.nullSafeJoin(bounded, proj, sideKeys, "left_semi")
    }
  }

  /** Analyzed plan → [[RebuildJoinShape]], or None. Checked after the
    * join FOLD shape (cheaper ticks win). INNER and the three OUTER
    * join types qualify (r15 — outer joins get null-extension cover
    * terms in the tick); an outer join with a non-deterministic ON
    * routes to full like everything else out of grammar. */
  private[engine] def rebuildJoinShapeOf(
      spark: SparkSession, analyzed: LogicalPlan): Option[RebuildJoinShape] = {
    import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftOuter, RightOuter}
    val (groupExprs, aggChild) = peelToAggregate(strip(analyzed)).getOrElse(return None)
    belowChain(aggChild) match {
      case Join(l0, r0, jt @ (Inner | LeftOuter | RightOuter | FullOuter), cond, _)
          if cond.forall(_.deterministic) =>
        (belowChain(l0), belowChain(r0)) match {
          case (lr: DataSourceV2Relation, rr: DataSourceV2Relation)
              if lr.identifier.isDefined && rr.identifier.isDefined &&
                lr.catalog.exists(_.isInstanceOf[GraftSparkCatalog]) &&
                rr.catalog.exists(_.isInstanceOf[GraftSparkCatalog]) &&
                lr.catalog.get.name() == rr.catalog.get.name() =>
            val (groupAttrs, keyOutIdx) = traceKeys(analyzed, groupExprs,
              lr.outputSet ++ rr.outputSet).getOrElse(return None)
            val li = lr.identifier.get
            val ri = rr.identifier.get
            Some(RebuildJoinShape(
              lr.catalog.get.name(),
              TableIdent(li.namespace().toSeq, li.name()),
              TableIdent(ri.namespace().toSeq, ri.name()),
              lr, rr, analyzed, aggChild,
              groupAttrs, keyOutIdx,
              analyzed.output.map(_.name),
              jt, l0, r0, cond))
          case _ => None
        }
      case _ => None
    }
  }

  /** Peel the deterministic `[Filter | Project]*` chain down to the
    * Aggregate NODE itself (the expr-keyed shape needs its
    * aggregateExpressions to locate each group expression's exposed
    * alias, not just the grouping list). */
  private def peelAggNode(p: LogicalPlan): Option[Aggregate] = p match {
    case f: Filter if f.condition.deterministic => peelAggNode(strip(f.child))
    case pr: Project if pr.projectList.forall(_.deterministic) =>
      peelAggNode(strip(pr.child))
    case a: Aggregate if a.aggregateExpressions.forall(_.deterministic) => Some(a)
    case _ => None
  }

  /** For each final output position, the exprId of the AGGREGATE
    * output attribute it passes through (None for columns computed
    * above the aggregate) — the aggregate-level twin of [[originsOf]],
    * which resolves to SOURCE attrs and so cannot see computed
    * aggregate outputs like `length(status) AS l`. */
  private def originsToAgg(p: LogicalPlan)
      : Seq[Option[org.apache.spark.sql.catalyst.expressions.ExprId]] = p match {
    case a: Aggregate => a.aggregateExpressions.map(ne => Some(ne.toAttribute.exprId))
    case f: Filter => originsToAgg(strip(f.child))
    case s: SubqueryAlias => originsToAgg(strip(s))
    case pr: Project =>
      val child = strip(pr.child)
      val below = originsToAgg(child)
      val idx = child.output.map(_.exprId).zipWithIndex.toMap
      pr.projectList.map {
        case ar: AttributeReference => idx.get(ar.exprId).flatMap(below)
        case Alias(ar: AttributeReference, _) => idx.get(ar.exprId).flatMap(below)
        case _ => None
      }
    case other => other.output.map(_ => None)
  }

  /** The EXPRESSION-KEYED rebuild tier (r15): `GROUP BY <deterministic
    * expressions>` over one graft table, each group expression EXPOSED
    * (possibly aliased) in the output. No stored column set can
    * file-prune by an expression's value, so the tick's source scan
    * is FULL — but the aggregate's input is restricted to rows whose
    * group-expression TUPLE is touched (a null-safe semi evaluated per
    * row), so the aggregate state is churn-sized and the commit
    * replaces exactly the touched expression values
    * ([[GraftTable.replaceKeys]] on the exposed columns). Strictly
    * better than the full recompute this shape previously routed to:
    * same scan, churn-sized shuffle and write. Touched values derive
    * by evaluating the group expressions over the changelog's plain
    * rows through the defining plan's own below-aggregate chain. */
  private[engine] final case class RebuildExprShape(
      catalogName: String,
      sourceIdent: TableIdent,
      relation: DataSourceV2Relation,
      analyzed: LogicalPlan,
      aggChild: LogicalPlan,
      groupExprs: Seq[Expression],
      keyNames: Seq[String],
      keyOutIdx: Seq[Int],
      declaredNames: Seq[String],
      /** r18, the WINDOW-expression tier: gate the rebuild's touched
        * semi at the SOURCE relation instead of above an Aggregate —
        * a row's partition tuple is a deterministic function of the
        * row, so restricting source rows to touched tuples keeps
        * exactly the touched window partitions' complete row sets. */
      sourceGate: Boolean = false) {

    def sourceName: String =
      s"$catalogName.${sourceIdent.namespace.mkString(".")}.${sourceIdent.name}"
    def keyOutNames: Seq[String] = keyOutIdx.map(declaredNames)
    def withOutNames(declared: Seq[String]): RebuildExprShape =
      copy(declaredNames = declared)

    def sourceTable(spark: SparkSession): GraftTable = {
      val plugin = GraftShims.catalogPlugin(spark, Some(catalogName))
      plugin.asInstanceOf[GraftSparkCatalog].engineTable(sourceIdent)
    }

    private def substitute(plan: LogicalPlan, frame: DataFrame): LogicalPlan =
      plan.transformUp {
        case r: DataSourceV2Relation if r.output == relation.output =>
          restoreAttrs(relation, frame)
      }

    def touchedOut(touched: DataFrame): DataFrame =
      touched.select(keyNames.zip(keyOutNames)
        .map { case (s, o) => col(s).as(o) }: _*)

    /** Touched group-expression tuples of a delta: the below-aggregate
      * chain over the delta's plain rows, projected to the group
      * expressions (their own filters apply — a superset is safe). */
    def touchedOf(spark: SparkSession, deltaRows: DataFrame): DataFrame =
      GraftShims.ofRows(spark, substitute(aggChild, deltaRows))
        .select(groupExprs.zip(keyNames)
          .map { case (e, n) => GraftShims.column(e).as(n) }: _*)

    /** Re-execute the defining plan at `frame`, with the aggregate's
      * INPUT restricted to rows whose group-expression tuple is in
      * `touched` (null-safe; exact — the tuple alone determines the
      * group). */
    def rebuild(spark: SparkSession, touched: DataFrame, frame: DataFrame): DataFrame = {
      import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe}
      import org.apache.spark.sql.catalyst.plans.LeftSemi
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, JoinHint}
      val touchedPlan = touched.queryExecution.analyzed
      val cond = groupExprs.zip(touchedPlan.output)
        .map { case (g, t) => EqualNullSafe(g, t): Expression }
        .reduceLeft(And(_, _))
      val restricted =
        if (sourceGate)
          // window tier: semi directly above the substituted source —
          // the group expressions reference relation attributes, which
          // restoreAttrs re-mints on the frame, so the gate row-filters
          // the window's input to the touched partitions exactly
          analyzed.transformUp {
            case r: DataSourceV2Relation if r.output == relation.output =>
              LJoin(restoreAttrs(relation, frame), touchedPlan, LeftSemi,
                Some(cond), JoinHint.NONE)
          }
        else substitute(analyzed, frame).transformUp {
          case a: Aggregate if a.groupingExpressions == groupExprs =>
            a.copy(child = LJoin(a.child, touchedPlan, LeftSemi, Some(cond), JoinHint.NONE))
        }
      GraftShims.ofRows(spark, restricted).toDF(declaredNames: _*)
    }

    def rebuildFull(spark: SparkSession, frame: DataFrame): DataFrame =
      GraftShims.ofRows(spark, substitute(analyzed, frame))
        .toDF(declaredNames: _*)

    /** The tick's source frame, file-pruned through the
      * inverse-bounds registry when possible (r16): one tiny agg over
      * the (persisted) touched tuples collects each key's
      * min/max/has-null; every group expression
      * [[InvertibleKeyBounds]] can invert contributes a closed
      * source-column bound — `date_trunc`/`trunc` time buckets,
      * cast-to-date, `year`, floor-div and `div` range buckets, and
      * plain attributes in a mixed key set. Returns:
      *  - an EMPTY frame when no tuple is touched (read nothing);
      *  - a [[GraftTable.scanStatsPruned]] scan when ≥1 key inverted
      *    (supersets only — the rebuild's semi stays the row gate);
      *  - the full head scan when every key is opaque (`length(s)`-
      *    class: the r15 behavior, still honest).
      * NULL touched values OR an `IsNull` arm in: every registry
      * expression is null-preserving with non-null literal args, so
      * NULL-keyed groups come exactly from NULL source rows. */
    def sourceFrameFor(
        spark: SparkSession, source: GraftTable, head: Long,
        touched: DataFrame): DataFrame =
      invertedTouchedFilters(touched, groupExprs.zip(keyNames)) match {
        case Left(()) => GraftTable.emptyDf(spark, source.metadata.currentSchema)
        case Right(Nil) => source.scan(spark, source.AtSnapshot(head))
        case Right(fs) => source.scanStatsPruned(spark, fs, source.AtSnapshot(head))
      }
  }

  /** Shared inverse-bounds derivation ([[RebuildExprShape]] and the
    * join-expr tier): one tiny agg over the touched tuples collects
    * each key's min/max/has-null, and every `(groupExpr, keyName)`
    * pair [[InvertibleKeyBounds]] can invert contributes a filter on
    * its source column.
    *  - `Left(())` — touched is EMPTY: read nothing;
    *  - `Right(Nil)` — nothing inverts (or values unconvertible):
    *    honest full scan;
    *  - `Right(filters)` — prune the listing (supersets only; callers
    *    keep their row-level exactness gate). */
  private[engine] def invertedTouchedFilters(
      touched: DataFrame, exprKeys: Seq[(Expression, String)])
      : Either[Unit, Seq[org.apache.spark.sql.sources.Filter]] = {
    import org.apache.spark.sql.functions.{count, max, min}
    import org.apache.spark.sql.{sources => S}
    val inversions = exprKeys.map { case (e, _) => InvertibleKeyBounds.invert(e) }
    if (inversions.forall(_.isEmpty)) return Right(Nil)
    val keyNames = exprKeys.map(_._2)
    val aggs = keyNames.flatMap(k => Seq(
      min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k"),
      count(col(k)).as(s"__ct_$k"))) :+ count(lit(1)).as("__total")
    val row = touched.agg(aggs.head, aggs.tail: _*).head()
    val total = row.getAs[Long]("__total")
    if (total == 0L) return Left(())
    Right(inversions.zip(keyNames).flatMap {
      case (Some(inv), k) =>
        val mn = row.getAs[Any](s"__mn_$k")
        val mx = row.getAs[Any](s"__mx_$k")
        val hasNull = row.getAs[Long](s"__ct_$k") < total
        val range =
          if (mn == null) None // only NULL-keyed tuples touched
          else scala.util.Try(inv.bounds(mn, mx)).toOption.flatten
        (range, mn == null || hasNull) match {
          case (Some(f), false) => Some(f)
          case (Some(f), true) => Some(S.Or(f, S.IsNull(inv.column)): S.Filter)
          case (None, true) if mn == null => Some(S.IsNull(inv.column): S.Filter)
          case (None, _) => None // unconvertible values: no pruning on this key
        }
      case (None, _) => None
    })
  }

  /** Analyzed plan → [[RebuildExprShape]], or None. Checked LAST among
    * the incremental shapes (attribute-keyed tiers file-prune on the
    * stored key columns directly; this tier prunes through the
    * inverse-bounds registry when the bucketing inverts). */
  private[engine] def rebuildExprShapeOf(
      spark: SparkSession, analyzed: LogicalPlan): Option[RebuildExprShape] = {
    val agg = peelAggNode(strip(analyzed)).getOrElse(return None)
    val groupExprs = agg.groupingExpressions
    if (groupExprs.isEmpty) return None // keyless: the fold tier's branch
    if (!groupExprs.forall(_.deterministic)) return None
    val rel = belowChain(agg.child) match {
      case r: DataSourceV2Relation if r.identifier.isDefined &&
          r.catalog.exists(_.isInstanceOf[GraftSparkCatalog]) => r
      case _ => return None
    }
    if (!groupExprs.forall(_.references.subsetOf(rel.outputSet))) return None
    // locate each group expression's exposed aggregate output
    val aggOut = groupExprs.map { g =>
      val j = agg.aggregateExpressions.indexWhere {
        case a: AttributeReference => g.semanticEquals(a)
        case Alias(e, _) => e.semanticEquals(g)
        case _ => false
      }
      if (j < 0) return None // group expression not exposed
      (agg.aggregateExpressions(j).toAttribute.exprId,
        agg.aggregateExpressions(j).name)
    }
    val keyNames = aggOut.map(_._2)
    if (keyNames.distinct.size != keyNames.size) return None
    // trace each exposed aggregate output to a final output position
    val traced = originsToAgg(strip(analyzed))
    val keyOutIdx = aggOut.map { case (id, _) =>
      val i = traced.indexWhere(_.contains(id))
      if (i < 0) return None
      i
    }
    val ident = rel.identifier.get
    Some(RebuildExprShape(
      rel.catalog.get.name(),
      TableIdent(ident.namespace().toSeq, ident.name()),
      rel, analyzed, agg.child,
      groupExprs, keyNames, keyOutIdx,
      analyzed.output.map(_.name)))
  }

  /** One refresh tick for [[RebuildExprShape]] — the expression-keyed
    * twin of [[refreshRebuild]]: churn-sized aggregate state and
    * commit, and (r16) a source scan file-pruned through the
    * inverse-bounds registry whenever the bucketing expressions
    * invert ([[RebuildExprShape.sourceFrameFor]]); only fully opaque
    * key sets still pay the full scan. */
  private def refreshRebuildExpr(
      spark: SparkSession, mv: GraftTable, re: RebuildExprShape): RefreshMode = {
    val meta = mv.metadata
    val source = re.sourceTable(spark)
    val srcMeta = source.metadata
    val srcHead = srcMeta.currentSnapshotId.getOrElse(return NoOp)
    val key = ChangelogApply.ckptKey(re.sourceName)
    ChangelogApply.liveCheckpoint(meta, re.sourceName, srcMeta) match {
      case Some(c) if c == srcHead => NoOp
      case Some(c) =>
        val plainChanges = source.changelogScan(spark, c, Some(srcHead))
          .select(re.relation.output.map(a => col(a.name)): _*)
        val touched = re.touchedOf(spark, plainChanges).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          mv.replaceKeys(spark, re.keyOutNames,
            re.touchedOut(touched),
            re.rebuild(spark, touched,
              re.sourceFrameFor(spark, source, srcHead, touched)),
            meta.currentSnapshotId,
            extraProperties = Map(key -> srcHead.toString,
              RefreshModeProp -> "incremental-rebuild"))
          Incremental
        } finally touched.unpersist(blocking = false)
      case None =>
        mv.overwriteAll(
          re.rebuildFull(spark, source.scan(spark, source.AtSnapshot(srcHead))),
          meta.currentSnapshotId,
          extraProperties = Map(key -> srcHead.toString,
            RefreshModeProp -> "incremental-rebuild"))
        Full
    }
  }

  /** The expression-keyed rebuild tier over a two-table INNER join
    * (r16): `GROUP BY <deterministic expressions>` where every group
    * expression sits entirely on ONE side and is exposed in the
    * output — the time-bucketed join MV (`GROUP BY
    * date_trunc('day', o.ts), c.region`), previously a full recompute.
    * The tick is recompute-on-touch on the expression TUPLE: touched
    * tuples derive from the inner pair cover (Δ⋈head, head⋈Δ, Δ⋈Δ —
    * heads pruned by the deltas' equi-join envelopes, exactly the
    * attribute tier's derivation), the rebuild's side scans
    * file-prune through the inverse-bounds registry
    * ([[InvertibleKeyBounds]]) on each side's own keys, and the
    * commit replaces exactly the touched tuples. INNER only:
    * null-extension semantics stay with the attribute-keyed shape. */
  private[engine] final case class RebuildJoinExprShape(
      catalogName: String,
      leftIdent: TableIdent,
      rightIdent: TableIdent,
      leftRel: DataSourceV2Relation,
      rightRel: DataSourceV2Relation,
      analyzed: LogicalPlan,
      aggChild: LogicalPlan,
      groupExprs: Seq[Expression],
      keyNames: Seq[String],
      keyOutIdx: Seq[Int],
      declaredNames: Seq[String]) {

    def leftName: String =
      s"$catalogName.${leftIdent.namespace.mkString(".")}.${leftIdent.name}"
    def rightName: String =
      s"$catalogName.${rightIdent.namespace.mkString(".")}.${rightIdent.name}"
    def keyOutNames: Seq[String] = keyOutIdx.map(declaredNames)
    def withOutNames(declared: Seq[String]): RebuildJoinExprShape =
      copy(declaredNames = declared)

    def table(spark: SparkSession, ti: TableIdent): GraftTable = {
      val plugin = GraftShims.catalogPlugin(spark, Some(catalogName))
      plugin.asInstanceOf[GraftSparkCatalog].engineTable(ti)
    }

    def touchedOut(touched: DataFrame): DataFrame =
      touched.select(keyNames.zip(keyOutNames)
        .map { case (s, o) => col(s).as(o) }: _*)

    private def substitute(
        plan: LogicalPlan, aFrame: DataFrame, bFrame: DataFrame): LogicalPlan =
      plan.transformUp {
        case r: DataSourceV2Relation if r.output == leftRel.output =>
          restoreAttrs(leftRel, aFrame)
        case r: DataSourceV2Relation if r.output == rightRel.output =>
          restoreAttrs(rightRel, bFrame)
      }

    /** Touched group-expression tuples of one cover term: the
      * below-aggregate join at the substituted frames, projected to
      * the group expressions. */
    def keysOf(spark: SparkSession, aFrame: DataFrame, bFrame: DataFrame): DataFrame =
      GraftShims.ofRows(spark, substitute(aggChild, aFrame, bFrame))
        .select(groupExprs.zip(keyNames)
          .map { case (e, n) => GraftShims.column(e).as(n) }: _*)

    /** One side's head scan for the REBUILD, file-pruned by the
      * touched tuples of the keys living on THIS side (exact for the
      * inner join: removing a row only removes pairs, and the
      * above-aggregate semi stays the row-level gate). A side carrying
      * no invertible key keeps the full scan. */
    def sideFrameFor(
        spark: SparkSession, t: GraftTable, head: Long,
        sideOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
        touched: DataFrame): DataFrame = {
      val sideKeys = groupExprs.zip(keyNames).filter { case (e, _) =>
        e.references.nonEmpty && e.references.subsetOf(sideOut)
      }
      if (sideKeys.isEmpty) return t.scan(spark, t.AtSnapshot(head))
      invertedTouchedFilters(
        touched.select(sideKeys.map(_._2).map(col): _*).distinct(), sideKeys) match {
        case Left(()) => GraftTable.emptyDf(spark, t.metadata.currentSchema)
        case Right(Nil) => t.scan(spark, t.AtSnapshot(head))
        case Right(fs) => t.scanStatsPruned(spark, fs, t.AtSnapshot(head))
      }
    }

    /** Re-execute the defining plan at the substituted frames with the
      * aggregate's input restricted to touched expression tuples
      * (null-safe semi — exact: the tuple alone determines the
      * group). */
    def rebuild(
        spark: SparkSession, touched: DataFrame,
        aFrame: DataFrame, bFrame: DataFrame): DataFrame = {
      import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe}
      import org.apache.spark.sql.catalyst.plans.LeftSemi
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, JoinHint}
      val touchedPlan = touched.queryExecution.analyzed
      val cond = groupExprs.zip(touchedPlan.output)
        .map { case (g, t) => EqualNullSafe(g, t): Expression }
        .reduceLeft(And(_, _))
      val restricted = substitute(analyzed, aFrame, bFrame).transformUp {
        case a: Aggregate if a.groupingExpressions == groupExprs =>
          a.copy(child = LJoin(a.child, touchedPlan, LeftSemi, Some(cond), JoinHint.NONE))
      }
      GraftShims.ofRows(spark, restricted).toDF(declaredNames: _*)
    }

    /** Unrestricted re-execution (cold start / full-at-heads). */
    def rebuildFull(
        spark: SparkSession, aFrame: DataFrame, bFrame: DataFrame): DataFrame =
      GraftShims.ofRows(spark, substitute(analyzed, aFrame, bFrame))
        .toDF(declaredNames: _*)
  }

  /** Analyzed plan → [[RebuildJoinExprShape]], or None. Checked LAST
    * (after every attribute-keyed tier and the single-table expr
    * tier declined). */
  private[engine] def rebuildJoinExprShapeOf(
      spark: SparkSession, analyzed: LogicalPlan): Option[RebuildJoinExprShape] = {
    val agg = peelAggNode(strip(analyzed)).getOrElse(return None)
    val groupExprs = agg.groupingExpressions
    if (groupExprs.isEmpty) return None
    if (!groupExprs.forall(_.deterministic)) return None
    val (lr, rr) = belowChain(agg.child) match {
      case Join(l0, r0, Inner, cond, _) if cond.forall(_.deterministic) =>
        (belowChain(l0), belowChain(r0)) match {
          case (lr: DataSourceV2Relation, rr: DataSourceV2Relation)
              if lr.identifier.isDefined && rr.identifier.isDefined &&
                lr.catalog.exists(_.isInstanceOf[GraftSparkCatalog]) &&
                rr.catalog.exists(_.isInstanceOf[GraftSparkCatalog]) &&
                lr.catalog.get.name() == rr.catalog.get.name() => (lr, rr)
          case _ => return None
        }
      case _ => return None
    }
    // each group expression must sit entirely on one side (a
    // cross-side expression can't be derived per-side; full)
    if (!groupExprs.forall(g =>
      g.references.subsetOf(lr.outputSet) || g.references.subsetOf(rr.outputSet)))
      return None
    val aggOut = groupExprs.map { g =>
      val j = agg.aggregateExpressions.indexWhere {
        case a: AttributeReference => g.semanticEquals(a)
        case Alias(e, _) => e.semanticEquals(g)
        case _ => false
      }
      if (j < 0) return None // group expression not exposed
      (agg.aggregateExpressions(j).toAttribute.exprId,
        agg.aggregateExpressions(j).name)
    }
    val keyNames = aggOut.map(_._2)
    if (keyNames.distinct.size != keyNames.size) return None
    val traced = originsToAgg(strip(analyzed))
    val keyOutIdx = aggOut.map { case (id, _) =>
      val i = traced.indexWhere(_.contains(id))
      if (i < 0) return None
      i
    }
    val li = lr.identifier.get
    val ri = rr.identifier.get
    Some(RebuildJoinExprShape(
      lr.catalog.get.name(),
      TableIdent(li.namespace().toSeq, li.name()),
      TableIdent(ri.namespace().toSeq, ri.name()),
      lr, rr, analyzed, agg.child,
      groupExprs, keyNames, keyOutIdx,
      analyzed.output.map(_.name)))
  }

  /** One refresh tick for [[RebuildJoinExprShape]] — the expression-
    * keyed twin of [[refreshRebuildJoin]]'s INNER path: NoOp when both
    * checkpoints match their heads, pair-cover touched derivation with
    * equi-pruned head scans, inverse-bounds-pruned rebuild scans, one
    * churn-sized keyed commit advancing both checkpoints. */
  private def refreshRebuildJoinExpr(
      spark: SparkSession, mv: GraftTable, rx: RebuildJoinExprShape): RefreshMode = {
    val meta = mv.metadata
    val lt = rx.table(spark, rx.leftIdent)
    val rt = rx.table(spark, rx.rightIdent)
    val lMeta = lt.metadata
    val rMeta = rt.metadata
    val lHead = lMeta.currentSnapshotId
    val rHead = rMeta.currentSnapshotId
    val kL = ChangelogApply.ckptKey(rx.leftName)
    val kR = ChangelogApply.ckptKey(rx.rightName)
    def headMark(h: Option[Long]): String = h.map(_.toString).getOrElse("none")
    val ckpts = Map(
      kL -> headMark(lHead), kR -> headMark(rHead),
      RefreshModeProp -> "incremental-rebuild")
    if (meta.properties.get(kL).contains(headMark(lHead)) &&
        meta.properties.get(kR).contains(headMark(rHead))) return NoOp
    if (lHead.isEmpty && rHead.isEmpty) return NoOp // inner of two empties

    def frameAt(t: GraftTable, h: Option[Long]): DataFrame =
      h.map(id => t.scan(spark, t.AtSnapshot(id))).getOrElse(t.scan(spark))
    def fullAtHeads(): RefreshMode = {
      mv.overwriteAll(
        rx.rebuildFull(spark, frameAt(lt, lHead), frameAt(rt, rHead)),
        meta.currentSnapshotId, extraProperties = ckpts)
      Full
    }

    val ckL = ChangelogApply.liveCheckpoint(meta, rx.leftName, lMeta)
    val ckR = ChangelogApply.liveCheckpoint(meta, rx.rightName, rMeta)
    (ckL, ckR, lHead, rHead) match {
      case (Some(cl), Some(cr), Some(lh), Some(rh)) =>
        def plainRows(t: GraftTable, from: Long, to: Long, rel: DataSourceV2Relation) =
          t.changelogScan(spark, from, Some(to))
            .select(rel.output.map(a => col(a.name)): _*)
        val aHead = lt.scan(spark, lt.AtSnapshot(lh))
        val bHead = rt.scan(spark, rt.AtSnapshot(rh))
        val aMoved = cl != lh
        val bMoved = cr != rh
        val eq = treeEquiPairs(rx.aggChild, Seq(rx.leftRel, rx.rightRel))
        val dAF = if (aMoved) Some(plainRows(lt, cl, lh, rx.leftRel)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)) else None
        val dBF = if (bMoved) Some(plainRows(rt, cr, rh, rx.rightRel)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)) else None
        try {
          val aStats = dAF.map(deltaEquiStats(_, equiColsOf(eq, 0)))
          val bStats = dBF.map(deltaEquiStats(_, equiColsOf(eq, 1)))
          val aLive = aMoved && aStats.exists(_.rows > 0L)
          val bLive = bMoved && bStats.exists(_.rows > 0L)
          val aSat = aStats.exists(equiSat(eq, _, 0))
          val bSat = bStats.exists(equiSat(eq, _, 1))
          val terms = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
          if (aLive && aSat) {
            terms += rx.keysOf(spark, dAF.get,
              prunedHeadScan(spark, rt, rh, equiBoundsFor(eq, 1, aStats.get)))
            if (bLive && bSat) terms += rx.keysOf(spark, dAF.get, dBF.get)
          }
          if (bLive && bSat) terms += rx.keysOf(spark,
            prunedHeadScan(spark, lt, lh, equiBoundsFor(eq, 0, bStats.get)), dBF.get)
          val touched =
            (if (terms.isEmpty) rx.keysOf(spark, aHead, bHead).limit(0)
            else terms.reduceLeft(_ unionByName _)).distinct()
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            mv.replaceKeys(spark, rx.keyOutNames,
              rx.touchedOut(touched),
              rx.rebuild(spark, touched,
                rx.sideFrameFor(spark, lt, lh, rx.leftRel.outputSet, touched),
                rx.sideFrameFor(spark, rt, rh, rx.rightRel.outputSet, touched)),
              meta.currentSnapshotId, extraProperties = ckpts)
            Incremental
          } finally touched.unpersist(blocking = false)
        } finally Seq(dAF, dBF).flatten.foreach(_.unpersist(blocking = false))
      case _ => fullAtHeads() // a checkpoint missing or a side headless
    }
  }

  /** The rebuild tier over an N-ARY (3+) INNER join tree (r15): the
    * same recompute-on-touch discipline, arity-generalized. The
    * re-execution machinery never cared about arity — substitution
    * replaces each relation INSTANCE by attribute ids, so self-joins
    * and left-/right-deep trees all work. The touched cover
    * generalizes the bilinear form: a joined TUPLE changed since the
    * checkpoints iff at least one of its component rows changed, so
    * every changed tuple appears in SOME term that substitutes deltas
    * for a non-empty SUBSET of the moved instances and heads for the
    * rest (2^m − 1 terms for m moved instances — each term joins at
    * least one delta-sized side, so all are delta-bounded). INNER
    * only: null-extension semantics stay with the 2-table shape. */
  private[engine] final case class RebuildMultiJoinShape(
      catalogName: String,
      idents: Seq[TableIdent],
      rels: Seq[DataSourceV2Relation],
      analyzed: LogicalPlan,
      aggChild: LogicalPlan,
      groupAttrs: Seq[AttributeReference],
      keyOutIdx: Seq[Int],
      declaredNames: Seq[String]) {

    def nameOf(ti: TableIdent): String =
      s"$catalogName.${ti.namespace.mkString(".")}.${ti.name}"
    def keySrcNames: Seq[String] = groupAttrs.map(_.name)
    def keyOutNames: Seq[String] = keyOutIdx.map(declaredNames)
    def withOutNames(declared: Seq[String]): RebuildMultiJoinShape =
      copy(declaredNames = declared)

    def table(spark: SparkSession, ti: TableIdent): GraftTable = {
      val plugin = GraftShims.catalogPlugin(spark, Some(catalogName))
      plugin.asInstanceOf[GraftSparkCatalog].engineTable(ti)
    }

    def touchedOut(touched: DataFrame): DataFrame =
      touched.select(keySrcNames.zip(keyOutNames)
        .map { case (s, o) => col(s).as(o) }: _*)

    private def substitute(plan: LogicalPlan, frames: Seq[DataFrame]): LogicalPlan = {
      val byOutput = rels.zip(frames)
      plan.transformUp {
        case r: DataSourceV2Relation =>
          byOutput.find(_._1.output == r.output) match {
            case Some((rel, frame)) => restoreAttrs(rel, frame)
            case None => r
          }
      }
    }

    /** Group keys of one cover term (all-inner tree: no innerization
      * needed): the below-aggregate plan at the substituted frames,
      * projected to the group-key attrs. */
    def keysOf(spark: SparkSession, frames: Seq[DataFrame]): DataFrame =
      GraftShims.ofRows(spark, substitute(aggChild, frames))
        .select(groupAttrs.map(a => GraftShims.column(a).as(a.name)): _*)

    /** Frames of ONE cover term (r16, killing the derivation's last
      * linear head-scan input): deltas for the instances in `s`, heads
      * for the rest — each head FILE-PRUNED (and row-narrowed) by the
      * equi-join-key envelope of the deltas the tree links it to. A
      * head row outside every linked delta's [min, max] on the equated
      * column cannot satisfy that equality against any delta row, so
      * it cannot appear in this (all-inner) term — exact, not just a
      * superset argument. Heads linked to `s` only transitively (or
      * by non-equi conditions) stay unpruned.
      *
      * Returns None when the term is provably EMPTY: an empty delta
      * in `s`, or an equality whose `s`-side has no non-null values
      * (equality never matches NULL) — the caller skips the term. */
    def termFrames(
        spark: SparkSession,
        s: Set[Int],
        deltas: Map[Int, DataFrame],
        stats: Map[Int, DeltaEquiStats],
        headFrames: Seq[DataFrame],
        prunedScans: Seq[Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame]],
        equiPairs: Seq[(Int, String, Int, String)]): Option[Seq[DataFrame]] = {
      import org.apache.spark.sql.{sources => S}
      if (s.exists(i => stats(i).rows == 0L)) return None
      val unsat = equiPairs.exists { case (a, ca, b, cb) =>
        (s(a) && !stats(a).byCol.get(ca).forall(_._3)) ||
          (s(b) && !stats(b).byCol.get(cb).forall(_._3))
      }
      if (unsat) return None
      // TRANSITIVE closure of the equality conjuncts: in `a JOIN b ON
      // a.x = b.x JOIN c ON b.x = c.x` a Δa term bounds c's scan too —
      // the term's rows satisfy both conjuncts, so c.x = a.x. Union
      // the (instance, column) nodes into equivalence classes; a head
      // column is bounded by EVERY delta column in its class.
      val nodes = equiPairs
        .flatMap { case (a, ca, b, cb) => Seq((a, ca), (b, cb)) }.distinct
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(n: (Int, String)): (Int, String) = {
        var x = n
        while (parent(x) != x) x = parent(x)
        x
      }
      equiPairs.foreach { case (a, ca, b, cb) =>
        val ra = find((a, ca)); val rb = find((b, cb))
        if (ra != rb) parent(ra) = rb
      }
      val classes = nodes.groupBy(find).values.toSeq
      Some(headFrames.zipWithIndex.map { case (hf, i) =>
        if (s(i)) deltas(i)
        else {
          val bounds = classes.flatMap { cls =>
            val headCols = cls.collect { case (j, c) if j == i => c }
            val deltaBs = cls.flatMap {
              case (j, c) if s(j) => stats(j).byCol.get(c)
              case _ => None
            }
            for { hc <- headCols; (mn, mx, _) <- deltaBs } yield (hc, mn, mx)
          }.filter(b => b._2 != null)
          if (bounds.isEmpty) hf
          else {
            val filters: Seq[S.Filter] = bounds.map { case (c, mn, mx) =>
              S.And(S.GreaterThanOrEqual(c, mn), S.LessThanOrEqual(c, mx))
            }
            val residual = bounds
              .map { case (c, mn, mx) => col(c) >= lit(mn) && col(c) <= lit(mx) }
              .reduce(_ && _)
            prunedScans.lift(i).flatten
              .map(scanWith => scanWith(filters).filter(residual))
              .getOrElse(hf.filter(residual))
          }
        }
      })
    }

    /** Re-execute the defining plan at the substituted frames with
      * EVERY side restricted to its touched-key projection (exact for
      * inner joins: removing a row only removes tuples) and the
      * null-safe above-aggregate semi as the exactness gate. */
    def rebuild(
        spark: SparkSession, touched: DataFrame, frames: Seq[DataFrame],
        pruned: Seq[Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame]])
        : DataFrame = {
      import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe}
      import org.apache.spark.sql.catalyst.plans.LeftSemi
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, JoinHint}
      val touchedPlan = touched.queryExecution.analyzed
      val cond = groupAttrs.zip(touchedPlan.output)
        .map { case (g, t) => EqualNullSafe(g, t): Expression }
        .reduceLeft(And(_, _))
      val hasKeys = rels.map(r => groupAttrs.exists(r.outputSet.contains))
      val restrictedFrames = frames.zipWithIndex.map { case (f, i) =>
        restrictFrame(groupAttrs, f, touched, rels(i).outputSet,
          pruned.lift(i).flatten)
      }
      // r16 ENVELOPE: a keyless side of the all-inner tree only
      // matters where it matches some key-narrowed companion — AND the
      // bounds from every directly-equated narrowed side (exact for
      // inner joins; see [[companionBounds]]).
      val eq = GraftMaterializedViews.treeEquiPairs(aggChild, rels)
      val finalFrames = restrictedFrames.zipWithIndex.map { case (f, i) =>
        if (hasKeys(i)) f
        else {
          val narrowed = rels.indices.filter(j => j != i && hasKeys(j))
          narrowed.foldLeft[Either[Unit, Seq[(String, Any, Any)]]](Right(Nil)) {
            case (Left(()), _) => Left(())
            case (Right(acc), j) =>
              GraftMaterializedViews.companionBounds(eq, i, j, restrictedFrames(j))
                .map(acc ++ _)
          } match {
            case Left(()) => f.limit(0)
            case Right(bs) =>
              GraftMaterializedViews.applyBounds(f, pruned.lift(i).flatten, bs)
          }
        }
      }
      val swapped = substitute(analyzed, finalFrames)
      val restricted = swapped.transformUp {
        case a: Aggregate if a.groupingExpressions == (groupAttrs: Seq[Expression]) =>
          a.copy(child = LJoin(a.child, touchedPlan, LeftSemi, Some(cond), JoinHint.NONE))
        case d: org.apache.spark.sql.catalyst.plans.logical.Distinct
            if strip(d.child).output == groupAttrs =>
          d.copy(child = LJoin(d.child, touchedPlan, LeftSemi, Some(cond), JoinHint.NONE))
      }
      GraftShims.ofRows(spark, restricted).toDF(declaredNames: _*)
    }

    /** Unrestricted re-execution (cold start / full-at-heads). */
    def rebuildFull(spark: SparkSession, frames: Seq[DataFrame]): DataFrame =
      GraftShims.ofRows(spark, substitute(analyzed, frames))
        .toDF(declaredNames: _*)
  }

  /** Equi-key envelope of one delta (r16): row count plus per-column
    * (min, max, has-non-null) over the columns the join tree equates
    * with other sides. One churn-sized aggregation per moved
    * instance, computed on the PERSISTED delta — the price of bounding
    * every head scan the touched-key derivation joins it against. */
  private[engine] final case class DeltaEquiStats(
      rows: Long, byCol: Map[String, (Any, Any, Boolean)])

  private[engine] def deltaEquiStats(
      delta: DataFrame, cols: Seq[String]): DeltaEquiStats = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val cs = cols.distinct
    if (cs.isEmpty) return DeltaEquiStats(delta.limit(1).count(), Map.empty)
    val aggs = cs.flatMap(c => Seq(
      min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c"),
      count(col(c)).as(s"__ct_$c"))) :+ count(lit(1)).as("__total")
    val r = delta.agg(aggs.head, aggs.tail: _*).head()
    DeltaEquiStats(r.getAs[Long]("__total"),
      cs.map(c => c -> ((
        r.getAs[Any](s"__mn_$c"), r.getAs[Any](s"__mx_$c"),
        r.getAs[Long](s"__ct_$c") > 0L))).toMap)
  }

  /** The equi columns of instance `idx` across the tree's pairs. */
  private def equiColsOf(
      eq: Seq[(Int, String, Int, String)], idx: Int): Seq[String] = eq.flatMap {
    case (i, ci, _, _) if i == idx => Some(ci)
    case (_, _, j, cj) if j == idx => Some(cj)
    case _ => None
  }

  /** Can this delta's rows satisfy every equi conjunct instance `idx`
    * participates in? (equality never matches NULL — an all-null equi
    * column makes pair/match terms empty). */
  private def equiSat(
      eq: Seq[(Int, String, Int, String)], ds: DeltaEquiStats, idx: Int): Boolean =
    eq.forall {
      case (i, ci, _, _) if i == idx => ds.byCol.get(ci).forall(_._3)
      case (_, _, j, cj) if j == idx => ds.byCol.get(cj).forall(_._3)
      case _ => true
    }

  /** Bounds on head side `headIdx`'s columns from the delta's equi-key
    * envelope (direct pairs; the N-ary term builder closes
    * transitively). */
  private def equiBoundsFor(
      eq: Seq[(Int, String, Int, String)], headIdx: Int, ds: DeltaEquiStats)
      : Seq[(String, Any, Any)] =
    eq.flatMap {
      case (i, ci, _, cj) if i == headIdx =>
        ds.byCol.get(cj).map { case (mn, mx, _) => (ci, mn, mx) }
      case (i, ci, j, cj) if j == headIdx =>
        ds.byCol.get(ci).map { case (mn, mx, _) => (cj, mn, mx) }
      case _ => None
    }.filter(_._2 != null)

  /** Head-pinned scan, file-pruned and row-narrowed to `bounds`
    * (closed intervals on this side's columns). */
  private def prunedHeadScan(
      spark: SparkSession, t: GraftTable, h: Long,
      bounds: Seq[(String, Any, Any)]): DataFrame =
    if (bounds.isEmpty) t.scan(spark, t.AtSnapshot(h))
    else {
      import org.apache.spark.sql.{sources => S}
      val filters: Seq[S.Filter] = bounds.map { case (c, mn, mx) =>
        S.And(S.GreaterThanOrEqual(c, mn), S.LessThanOrEqual(c, mx))
      }
      val residual = bounds
        .map { case (c, mn, mx) => col(c) >= lit(mn) && col(c) <= lit(mx) }
        .reduce(_ && _)
      t.scanStatsPruned(spark, filters, t.AtSnapshot(h)).filter(residual)
    }

  /** Bounds on side `sideIdx`'s columns from a NARROWED companion
    * frame's direct equi-join-column stats (r16, the rebuild's last
    * linear scan): a non-preserved side's rows only matter where they
    * MATCH the companion — its unmatched rows never reach the output —
    * and every match satisfies the equality conjuncts, so the
    * companion's min/max keep every matching row and the join result
    * over the companion is unchanged. Returns:
    *  - Left(()) — no row can match (companion empty, or an equated
    *    companion column has no non-null values): read NOTHING;
    *  - Right(bounds) — possibly empty (no direct equality / values
    *    unconvertible): closed-interval superset bounds otherwise.
    * One churn-sized aggregation over the companion per call. */
  private[engine] def companionBounds(
      eq: Seq[(Int, String, Int, String)],
      sideIdx: Int, companionIdx: Int, companion: DataFrame)
      : Either[Unit, Seq[(String, Any, Any)]] = {
    val pairs = eq.flatMap {
      case (i, ci, j, cj) if i == sideIdx && j == companionIdx => Some((ci, cj))
      case (i, ci, j, cj) if j == sideIdx && i == companionIdx => Some((cj, ci))
      case _ => None
    }
    if (pairs.isEmpty) return Right(Nil)
    val stats = deltaEquiStats(companion, pairs.map(_._2))
    if (stats.rows == 0L) return Left(())
    if (pairs.exists { case (_, cc) => !stats.byCol.get(cc).forall(_._3) })
      return Left(()) // an all-NULL companion column: equality never matches
    Right(pairs.flatMap { case (sc, cc) =>
      stats.byCol.get(cc).collect { case (mn, mx, _) if mn != null => (sc, mn, mx) }
    })
  }

  /** Apply accumulated closed-interval bounds to a side's frame:
    * file-prune the listing when the tick supplied a pruned-scan
    * constructor, row-narrow either way. Empty bounds: unchanged. */
  private[engine] def applyBounds(
      frame: DataFrame,
      prunedScan: Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame],
      bounds: Seq[(String, Any, Any)]): DataFrame =
    if (bounds.isEmpty) frame
    else {
      import org.apache.spark.sql.{sources => S}
      val filters: Seq[S.Filter] = bounds.map { case (c, mn, mx) =>
        S.And(S.GreaterThanOrEqual(c, mn), S.LessThanOrEqual(c, mx))
      }
      val residual = bounds
        .map { case (c, mn, mx) => col(c) >= lit(mn) && col(c) <= lit(mx) }
        .reduce(_ && _)
      prunedScan match {
        case Some(scanWith) => scanWith(filters).filter(residual)
        case None => frame.filter(residual)
      }
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** All `attr_i = attr_j` conjuncts of the join tree below `p`,
    * resolved to relation-INSTANCE indices (self-join instances are
    * distinct by exprId, so `outputSet.contains` is instance-exact).
    * Equalities the analyzer wrapped in casts, `<=>`, or non-equi
    * conditions simply don't appear — no pruning through them. */
  private[engine] def treeEquiPairs(
      p: LogicalPlan, rels: Seq[DataSourceV2Relation]): Seq[(Int, String, Int, String)] = {
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Int, String)]
    p.foreach {
      case j: Join =>
        j.condition.toSeq.flatMap(splitConjuncts).foreach {
          case EqualTo(x: AttributeReference, y: AttributeReference) =>
            val xi = rels.indexWhere(_.outputSet.contains(x))
            val yi = rels.indexWhere(_.outputSet.contains(y))
            if (xi >= 0 && yi >= 0 && xi != yi)
              pairs += ((xi, x.name, yi, y.name))
          case _ => ()
        }
      case _ => ()
    }
    pairs.toSeq
  }

  /** Leaves of an all-INNER join tree with deterministic conditions —
    * None when anything else appears below. */
  private def collectInnerRelTree(p: LogicalPlan): Option[Seq[DataSourceV2Relation]] =
    belowChain(p) match {
      case Join(l, r, Inner, cond, _) if cond.forall(_.deterministic) =>
        for {
          ls <- collectInnerRelTree(l)
          rs <- collectInnerRelTree(r)
        } yield ls ++ rs
      case r: DataSourceV2Relation => Some(Seq(r))
      case _ => None
    }

  /** Analyzed plan → [[RebuildMultiJoinShape]] (3+ relations), or
    * None. Checked after the two-table rebuild shape. */
  private[engine] def rebuildMultiJoinShapeOf(
      spark: SparkSession, analyzed: LogicalPlan): Option[RebuildMultiJoinShape] = {
    val (groupExprs, aggChild) = peelToAggregate(strip(analyzed)).getOrElse(return None)
    val rels = collectInnerRelTree(aggChild).getOrElse(return None)
    if (rels.size < 3) return None
    if (!rels.forall(r => r.identifier.isDefined &&
        r.catalog.exists(_.isInstanceOf[GraftSparkCatalog]))) return None
    val catNames = rels.map(_.catalog.get.name()).distinct
    if (catNames.size != 1) return None
    val (groupAttrs, keyOutIdx) = traceKeys(analyzed, groupExprs,
      rels.map(_.outputSet).reduce(_ ++ _)).getOrElse(return None)
    Some(RebuildMultiJoinShape(
      catNames.head,
      rels.map(r => TableIdent(
        r.identifier.get.namespace().toSeq, r.identifier.get.name())),
      rels, analyzed, aggChild,
      groupAttrs, keyOutIdx,
      analyzed.output.map(_.name)))
  }

  /** Cover-term explosion guard, stated on the MOVED-INSTANCE count m
    * (2^m − 1 = 15 terms at the bound): past this many moved
    * instances a full recompute is the cheaper honest answer. Guarded
    * on m, not on the shifted term count, because `(1 << m) - 1`
    * wraps in Int at m ≥ 32 (the JVM masks the shift distance to
    * 5 bits) — a wrapped guard would pass, leave the subset list
    * empty, and throw on `reduceLeft` instead of falling back. */
  private val MaxMovedInstances = 4

  /** One refresh tick for [[RebuildMultiJoinShape]] — the N-ary twin
    * of the two-table tick: NoOp when every checkpoint matches its
    * head, subset-cover touched derivation, per-side-restricted
    * rebuild, one churn-sized keyed commit advancing ALL checkpoints
    * atomically. Self-joins share one checkpoint per TABLE; the cover
    * still ranges over INSTANCES (a tuple changes if any component
    * row of any instance changed). */
  private def refreshRebuildMulti(
      spark: SparkSession, mv: GraftTable, rm: RebuildMultiJoinShape): RefreshMode = {
    val meta = mv.metadata
    val names = rm.idents.map(rm.nameOf)
    val distinctIdents = rm.idents.zip(names).distinctBy(_._2)
    val tables = distinctIdents.map { case (ti, n) => n -> rm.table(spark, ti) }.toMap
    val metas = tables.map { case (n, t) => n -> t.metadata }
    val heads = metas.map { case (n, m) => n -> m.currentSnapshotId }
    def headMark(h: Option[Long]): String = h.map(_.toString).getOrElse("none")
    val ckpts = heads.map { case (n, h) =>
      ChangelogApply.ckptKey(n) -> headMark(h)
    } ++ Map(RefreshModeProp -> "incremental-rebuild")
    if (heads.forall { case (n, h) =>
      meta.properties.get(ChangelogApply.ckptKey(n)).contains(headMark(h))
    }) return NoOp

    def fullAtHeads(): RefreshMode = {
      def frameAt(n: String): DataFrame = {
        val t = tables(n)
        heads(n).map(id => t.scan(spark, t.AtSnapshot(id))).getOrElse(t.scan(spark))
      }
      mv.overwriteAll(
        rm.rebuildFull(spark, names.map(frameAt)),
        meta.currentSnapshotId, extraProperties = ckpts)
      Full
    }

    val parsed = heads.map { case (n, h) =>
      n -> (ChangelogApply.liveCheckpoint(meta, n, metas(n)), h)
    }
    if (!parsed.forall { case (_, (c, h)) => c.isDefined && h.isDefined })
      return fullAtHeads() // a checkpoint missing or a table headless
    val ck = parsed.map { case (n, (c, h)) => n -> (c.get, h.get) }
    val movedNames = ck.collect { case (n, (c, h)) if c != h => n }.toSet
    val movedIdx = names.zipWithIndex.collect {
      case (n, i) if movedNames(n) => i
    }
    if (movedIdx.size > MaxMovedInstances) return fullAtHeads()

    def plainRows(n: String, rel: DataSourceV2Relation): DataFrame = {
      val (c, h) = ck(n)
      tables(n).changelogScan(spark, c, Some(h))
        .select(rel.output.map(a => col(a.name)): _*)
    }
    val headFrames = names.map { n =>
      val t = tables(n)
      t.scan(spark, t.AtSnapshot(ck(n)._2))
    }
    val pruned = names.map { n =>
      val t = tables(n)
      val h = ck(n)._2
      Some((fs: Seq[org.apache.spark.sql.sources.Filter]) =>
        t.scanStatsPruned(spark, fs, t.AtSnapshot(h)))
    }
    // r16: each moved delta is persisted ONCE (it feeds 2^(m−1) cover
    // terms plus its envelope aggregation), and its equi-join-key
    // min/max bound the head scans every term joins it against — the
    // derivation's head-side INPUT becomes churn-local, closing the
    // last linear term in the tick (the rehearsal's 1.2× residue).
    val eqAll = treeEquiPairs(rm.aggChild, rm.rels)
    val colsByInst = eqAll
      .flatMap { case (a, ca, b, cb) => Seq(a -> ca, b -> cb) }
      .groupBy(_._1).map { case (i, xs) => i -> xs.map(_._2).distinct }
    val deltaFrames = movedIdx.map(i =>
      i -> plainRows(names(i), rm.rels(i))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)).toMap
    try {
      val stats = deltaFrames.map { case (i, df) =>
        i -> deltaEquiStats(df, colsByInst.getOrElse(i, Nil))
      }
      // every non-empty subset of the moved instances: deltas for the
      // subset, heads for the rest; provably-empty terms drop
      val subsets = (1 until (1 << movedIdx.size)).map(mask =>
        movedIdx.zipWithIndex.collect {
          case (inst, bit) if (mask & (1 << bit)) != 0 => inst
        }.toSet)
      val terms = subsets.flatMap(s =>
        rm.termFrames(spark, s, deltaFrames, stats, headFrames, pruned, eqAll)
          .map(frames => rm.keysOf(spark, frames)))
      val touched =
        (if (terms.isEmpty) rm.keysOf(spark, headFrames).limit(0)
        else terms.reduceLeft(_ unionByName _)).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        mv.replaceKeys(spark, rm.keyOutNames,
          rm.touchedOut(touched),
          rm.rebuild(spark, touched, headFrames, pruned),
          meta.currentSnapshotId, extraProperties = ckpts)
        Incremental
      } finally touched.unpersist(blocking = false)
    } finally deltaFrames.values.foreach(_.unpersist(blocking = false))
  }

  /** The rebuild tier over a LEFT-DEEP chain of INNER/LEFT joins with
    * 3+ sides (r16, the bread-and-butter reporting MV: `fact LEFT
    * dim1 LEFT dim2 …`). The N-ary subset cover is INNER-only — outer
    * null-extension patterns in a chain are richer than the 2-table
    * tier's (a tuple can be null-extended at any suffix of joins, and
    * star-shaped conditions even allow interior NULLs) — so this tier
    * uses a SPINE cover instead:
    *
    * every output tuple of a left-deep INNER/LEFT chain contains
    * exactly one row of the first (always-preserved) side. A tuple
    * can change only if its spine row is AFFECTED: in the spine's own
    * delta, or matching some side's delta through that join's
    * condition at the OLD or NEW state. The touched keys are then the
    * keys of the chain evaluated — with its own outer semantics, so
    * every null-extension pattern falls out for free — over the
    * affected spine rows at BOTH states: checkpoint snapshots (old
    * patterns) and heads (new patterns). Spurious rows (a deleted
    * spine row evaluated at head, an inserted one at ckpt) only widen
    * the touched superset; the rebuild recomputes them to truth.
    *
    * Restriction policy in the rebuild: only the SPINE restricts
    * (removing spine rows removes whole tuples — the spine is the
    * preserved side of every join; restricting a dim could fabricate
    * null-extensions, exactly the 2-table LEFT policy). The
    * above-aggregate null-safe semi stays the exactness gate. */
  private[engine] final case class RebuildChainShape(
      catalogName: String,
      idents: Seq[TableIdent],
      rels: Seq[DataSourceV2Relation],
      analyzed: LogicalPlan,
      aggChild: LogicalPlan,
      prefixPlans: Seq[LogicalPlan],
      joinTypes: Seq[org.apache.spark.sql.catalyst.plans.JoinType],
      conds: Seq[Option[Expression]],
      groupAttrs: Seq[AttributeReference],
      keyOutIdx: Seq[Int],
      declaredNames: Seq[String]) {

    def nameOf(ti: TableIdent): String =
      s"$catalogName.${ti.namespace.mkString(".")}.${ti.name}"
    def keySrcNames: Seq[String] = groupAttrs.map(_.name)
    def keyOutNames: Seq[String] = keyOutIdx.map(declaredNames)
    def withOutNames(declared: Seq[String]): RebuildChainShape =
      copy(declaredNames = declared)

    def table(spark: SparkSession, ti: TableIdent): GraftTable = {
      val plugin = GraftShims.catalogPlugin(spark, Some(catalogName))
      plugin.asInstanceOf[GraftSparkCatalog].engineTable(ti)
    }

    def touchedOut(touched: DataFrame): DataFrame =
      touched.select(keySrcNames.zip(keyOutNames)
        .map { case (s, o) => col(s).as(o) }: _*)

    private def substitute(plan: LogicalPlan, frames: Seq[DataFrame]): LogicalPlan = {
      val byOutput = rels.zip(frames)
      plan.transformUp {
        case r: DataSourceV2Relation =>
          byOutput.find(_._1.output == r.output) match {
            case Some((rel, frame)) => restoreAttrs(rel, frame)
            case None => r
          }
      }
    }

    /** Keys of the chain (its OWN join semantics — outer levels
      * null-extend, so every pattern appears) at the substituted
      * frames. The key projection is injected INTO the plan before
      * analysis: the substituted spine frame (affected rows) itself
      * nests restored relation attribute ids, so the analyzer's
      * relation dedup may rewrite ids — in-plan references get
      * rewritten consistently, post-analysis `.select` on the
      * original attr objects would not. */
    def keysOf(
        spark: SparkSession, frames: Seq[DataFrame],
        demoteFullLevel: Boolean = false): DataFrame = {
      val sub = substitute(aggChild, frames)
      GraftShims.ofRows(spark,
        Project(groupAttrs.map(a => Alias(a, a.name)(
          exprId = org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId)),
          if (demoteFullLevel) demoteFull(sub) else sub))
    }

    /** FULL level demoted to LEFT (r18). The affected-spine
      * evaluations and the part-A rebuild only owe rows CONTAINING a
      * prefix row (prefix tuples all carry a spine row — the single-
      * FULL guard); in those plans a RESTRICTED spine would make the
      * FULL join fabricate dim-side null-extensions en masse (every
      * dim row whose real partners were restricted away). Demoting
      * FULL→LEFT is exact for that row population — LEFT produces
      * precisely the prefix-row-carrying rows of FULL — and it kills
      * the fabrication instead of filtering it after the fact. The
      * dim-side null-extensions are owed by [[fullDimNullExtKeys]] /
      * the part-B rebuild, which run UNDEMOTED on unrestricted
      * frames. */
    private def demoteFull(p: LogicalPlan): LogicalPlan = {
      import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftOuter}
      p.transformUp {
        case j @ Join(_, _, FullOuter, _, _) => j.copy(joinType = LeftOuter)
      }
    }

    /** Dim rows of the single FULL level `j` whose null-extension
      * status may have flipped this tick: the dim's own delta plus dim
      * rows matching (under the level's own condition) the CHANGED
      * prefix — every changed prefix tuple carries an affected-spine
      * row, so the affected-restricted enveloped prefix evaluation
      * covers them all. Delta-driven on the prefix side; the dim side
      * reads its pinned scan (the semi's probe). A superset of the
      * true flips is safe — part B recomputes those tuples exactly. */
    def fullDimCandidates(
        spark: SparkSession, j: Int, envFrames: Seq[DataFrame],
        frames: Seq[DataFrame], delta: Option[DataFrame]): DataFrame = {
      import org.apache.spark.sql.catalyst.plans.LeftSemi
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, JoinHint}
      val dimNames = rels(j).output.map(_.name)
      val matchTerm = conds(j - 1) match {
        case Some(cnd) =>
          val semi = LJoin(restoreAttrs(rels(j), frames(j)),
            substitute(prefixPlans(j - 1), envFrames), LeftSemi,
            Some(cnd), JoinHint.NONE)
          GraftShims.ofRows(spark, Project(rels(j).output.map(a =>
            Alias(a, a.name)(exprId = org.apache.spark.sql.catalyst
              .expressions.NamedExpression.newExprId)), semi))
        case None =>
          // condition-less FULL: every dim row's match set is the
          // whole prefix — conservative, the whole dim is a candidate
          frames(j)
      }
      (delta match {
        case Some(d) => matchTerm.unionByName(d.select(dimNames.map(col): _*))
        case None => matchTerm
      }).distinct()
    }

    /** The candidates' TRUE key tuples: evaluate the chain with every
      * prefix frame EMPTIED and the FULL dim replaced by the
      * candidates — a FULL join against an empty prefix null-extends
      * every candidate (prefix attrs NULL), and the LATER levels then
      * apply their real join semantics, so key components on later
      * dims come out right too (a later condition referencing the
      * dim's columns can still match). */
    def fullDimNullExtKeys(
        spark: SparkSession, j: Int, frames: Seq[DataFrame],
        candidates: DataFrame): DataFrame =
      keysOf(spark, frames.zipWithIndex.map { case (f, i) =>
        if (i < j) f.limit(0) else if (i == j) candidates else f
      })

    /** Gated UNRESTRICTED rebuild (r18, FULL tier part B): the
      * defining plan at the FULL frames — no spine restriction, no
      * envelopes; for all-prefix-keys-NULL tuples any frame surgery
      * either fabricates or loses null-extensions — with the
      * null-safe semi as the only gate. Full-scan compute,
      * churn-sized aggregate state and write (the same cost class as
      * the expr tier's opaque-key scans). */
    def rebuildGated(
        spark: SparkSession, touched: DataFrame,
        frames: Seq[DataFrame]): DataFrame = {
      import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe}
      import org.apache.spark.sql.catalyst.plans.LeftSemi
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, JoinHint}
      val touchedPlan = touched.queryExecution.analyzed
      val cond = groupAttrs.zip(touchedPlan.output)
        .map { case (g, t) => EqualNullSafe(g, t): Expression }
        .reduceLeft(And(_, _))
      val restricted = substitute(analyzed, frames).transformUp {
        case a: Aggregate if a.groupingExpressions == (groupAttrs: Seq[Expression]) =>
          a.copy(child = LJoin(a.child, touchedPlan, LeftSemi, Some(cond), JoinHint.NONE))
        case d: org.apache.spark.sql.catalyst.plans.logical.Distinct
            if strip(d.child).output == groupAttrs =>
          d.copy(child = LJoin(d.child, touchedPlan, LeftSemi, Some(cond), JoinHint.NONE))
      }
      GraftShims.ofRows(spark, restricted).toDF(declaredNames: _*)
    }

    /** Equality pairs LEGAL for enveloping side `j` (r17 provenance
      * fix): conjuncts of join j's OWN condition — there side j is the
      * non-preserved side, so rows failing them only null-extend side
      * j itself — plus conjuncts of LATER *INNER* levels, where a
      * failing conjunct drops the whole tuple (and the null-extension
      * created by removing the row drops at that same level, since a
      * NULL conjunct is not true). Conjuncts of later LEFT joins are
      * EXCLUDED: failing one only null-extends the LATER side, so a
      * side-j row outside such a bound (or with a NULL value, dropped
      * by applyBounds' residual) still produces `(…, sideJ, NULL, …)`
      * output tuples — enveloping it away would corrupt group keys
      * and aggregates. Conditions at level l reference sides 0..l
      * only (left-deep chain), so side j appears in levels ≥ j. */
    private[engine] def envelopePairs(j: Int): Seq[(Int, String, Int, String)] = {
      import org.apache.spark.sql.catalyst.plans.Inner
      val levels = (j until rels.size).filter(l =>
        l == j || joinTypes(l - 1) == Inner)
      levels.flatMap { l =>
        conds(l - 1).toSeq
          .flatMap(GraftMaterializedViews.splitConjuncts).flatMap {
            case EqualTo(x: AttributeReference, y: AttributeReference) =>
              val xi = rels.indexWhere(_.outputSet.contains(x))
              val yi = rels.indexWhere(_.outputSet.contains(y))
              if (xi >= 0 && yi >= 0 && xi != yi) Some((xi, x.name, yi, y.name))
              else None
            case _ => None
          }
      }.filter { case (a, _, b, _) => a == j || b == j }
    }

    /** Dim frames ENVELOPED left→right by their directly-equated,
      * already-narrowed predecessors, with the (assumed narrowed)
      * spine frame in position 0 (r16). Exact wherever the dims are
      * non-preserved — every INNER/LEFT chain level: a dim row only
      * matters where it MATCHES, and the companion's equi-column
      * min/max keep every matching row. Pairs per dim come from
      * [[envelopePairs]] (r17): ONLY the dim's own join condition and
      * later INNER levels — a conjunct of a later LEFT join between
      * earlier sides must not bound this dim. Shared by the REBUILD
      * (spine restricted to touched keys) and the touched
      * DERIVATION's two chain evaluations (spine := affected rows). */
    def cascadeEnvelope(
        spark: SparkSession,
        spine: DataFrame,
        spineNarrowed: Boolean,
        frames: Seq[DataFrame],
        prunedScans: Seq[Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame]])
        : Seq[DataFrame] = {
      val finalFrames = Array.fill[DataFrame](frames.size)(null)
      val narrowed = Array.fill[Boolean](frames.size)(false)
      finalFrames(0) = spine
      narrowed(0) = spineNarrowed
      for (j <- 1 until frames.size) {
        val eqJ = envelopePairs(j)
        val companions = (0 until j).filter(narrowed(_))
        val enveloped = companions
          .foldLeft[Either[Unit, Seq[(String, Any, Any)]]](Right(Nil)) {
            case (Left(()), _) => Left(())
            case (Right(acc), i) =>
              GraftMaterializedViews.companionBounds(eqJ, j, i, finalFrames(i))
                .map(acc ++ _)
          }
        enveloped match {
          case Left(()) =>
            finalFrames(j) = frames(j).limit(0)
            narrowed(j) = true
          case Right(bs) =>
            finalFrames(j) = GraftMaterializedViews.applyBounds(
              frames(j), prunedScans.lift(j).flatten, bs)
            narrowed(j) = bs.nonEmpty
        }
      }
      finalFrames.toSeq
    }

    /** AFFECTED spine rows at ONE state (`frames` = per-instance
      * scans at that state): the spine's own delta rows, plus spine
      * rows whose prefix tuple matches a moved side's delta under
      * that join's condition. Each prefix component scan file-prunes
      * by the delta's DIRECT equi-condition envelope (a genuinely
      * matching tuple satisfies the conjunct, so its real components
      * survive the bounds; spurious survivors only widen the
      * superset). Projection back to spine rows goes through the
      * spine columns the prefix output still carries — a subset only
      * coarsens the match (superset, safe). */
    def affectedSpine(
        spark: SparkSession,
        frames: Seq[DataFrame],
        deltas: Map[Int, DataFrame],
        stats: Map[Int, DeltaEquiStats],
        prunedScans: Seq[Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame]])
        : DataFrame = {
      import org.apache.spark.sql.catalyst.plans.LeftSemi
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, JoinHint}
      val terms = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      deltas.get(0).foreach(d => terms += d)
      for ((j, dj) <- deltas.toSeq.sortBy(_._1) if j > 0 && stats(j).rows > 0L) {
        val cnd = conds(j - 1)
        // SHORTEST covering prefix (r16): the semi only needs the
        // prefix levels the condition references — a star condition
        // (spine col = dim col) semis the SPINE directly, no dim scan
        // at all. Truncating LEFT levels preserves every shorter
        // tuple; truncating INNER levels can only ADD prefix tuples —
        // a superset of affected spine rows, safe for the cover.
        val condRefs = cnd.map(_.references).getOrElse(
          org.apache.spark.sql.catalyst.expressions.AttributeSet.empty)
        // smallest prefix level whose EXCLUDED sides the condition
        // never references (l = j-1 trivially qualifies)
        val prefixLevel = (0 until j).find(l =>
          ((l + 1) until j).forall(i =>
            condRefs.intersect(rels(i).outputSet).isEmpty)).getOrElse(j - 1)
        val directPairs = cnd.toSeq.flatMap(splitConjuncts).flatMap {
          case EqualTo(x: AttributeReference, y: AttributeReference) =>
            if (rels(j).outputSet.contains(y))
              rels.indexWhere(_.outputSet.contains(x)) match {
                case i if i >= 0 && i < j => Some((i, x.name, y.name))
                case _ => None
              }
            else if (rels(j).outputSet.contains(x))
              rels.indexWhere(_.outputSet.contains(y)) match {
                case i if i >= 0 && i < j => Some((i, y.name, x.name))
                case _ => None
              }
            else None
          case _ => None
        }
        val pframes = frames.zipWithIndex.map { case (f, i) =>
          if (i >= j) f
          else {
            val bounds = directPairs.collect {
              case (pi, ci, cj) if pi == i =>
                stats(j).byCol.get(cj).map { case (mn, mx, _) => (ci, mn, mx) }
            }.flatten.filter(_._2 != null)
            if (bounds.isEmpty) f
            else prunedScans.lift(i).flatten match {
              case Some(scanWith) =>
                import org.apache.spark.sql.{sources => S}
                val filters: Seq[S.Filter] = bounds.map { case (c, mn, mx) =>
                  S.And(S.GreaterThanOrEqual(c, mn), S.LessThanOrEqual(c, mx))
                }
                scanWith(filters)
              case None => f
            }
          }
        }
        val semiPlan = LJoin(
          substitute(prefixPlans(prefixLevel), pframes),
          restoreAttrs(rels(j), dj), LeftSemi, cnd, JoinHint.NONE)
        val avail = semiPlan.outputSet
        val spineAttrs = rels.head.output.filter(avail.contains)
        if (spineAttrs.isEmpty) {
          // Degenerate: the covering prefix (e.g. a pass-through
          // subquery that projected the spine's columns away) carries
          // no spine attribute to project the semi back through, so
          // this moved side's term widens to the WHOLE spine — a
          // correct superset, but the only silent full-widening in
          // the tier. Count + log it so a shape regression surfaces
          // as a metric instead of a mystery slow tick (r17). The
          // stderr line is rate-limited to once per shape+level per
          // process (r18) — the counter alone carries the metric.
          GraftMaterializedViews.DegenerateSpineWidenings.incrementAndGet()
          val logKey = idents.map(nameOf).mkString(",") + s"#$j"
          if (GraftMaterializedViews.DegenerateSpineLogged.add(logKey))
            System.err.println(
              s"[graft-mv] affectedSpine: prefix level $prefixLevel for moved " +
                s"side $j carries no spine column; widening to whole spine " +
                s"(logged once per shape; see DegenerateSpineWidenings counter)")
          terms += frames(0)
        }
        else {
          val proj = GraftShims.ofRows(spark,
            Project(spineAttrs.map(a =>
              Alias(a, a.name)(
                exprId = org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId)),
              semiPlan)).distinct()
          terms += ChangelogApply.nullSafeJoin(
            frames(0), proj, spineAttrs.map(_.name), "left_semi")
        }
      }
      if (terms.isEmpty) frames(0).limit(0)
      else terms.reduceLeft(_ unionByName _)
    }

    /** Re-execute the defining plan at the substituted frames: spine
      * restricted to the touched keys it originates (file-pruned +
      * row-narrowed), dims ENVELOPED by their directly-equated,
      * already-narrowed predecessors (r16 — a dim is never preserved
      * in an INNER/LEFT chain, so its rows only matter where they
      * match; KEY-restricting a dim could fabricate null-extensions,
      * an envelope cannot). The cascade runs left→right so snowflake
      * conditions (dim-to-dim) bound through the already-enveloped
      * intermediate. Null-safe semi above the aggregate stays the
      * exactness gate. */
    def rebuild(
        spark: SparkSession, touched: DataFrame, frames: Seq[DataFrame],
        prunedScans: Seq[Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame]])
        : DataFrame = {
      import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe}
      import org.apache.spark.sql.catalyst.plans.LeftSemi
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, JoinHint}
      val touchedPlan = touched.queryExecution.analyzed
      val cond = groupAttrs.zip(touchedPlan.output)
        .map { case (g, t) => EqualNullSafe(g, t): Expression }
        .reduceLeft(And(_, _))
      val spineNarrowed = groupAttrs.exists(rels.head.outputSet.contains)
      val restricted0 = GraftMaterializedViews.restrictFrame(
        groupAttrs, frames(0), touched, rels.head.outputSet,
        prunedScans.headOption.flatten)
      val finalFrames = cascadeEnvelope(
        spark, restricted0, spineNarrowed, frames, prunedScans)
      // r18: with a FULL level present this is the PART-A rebuild —
      // tuples carrying a prefix row — so the FULL level demotes to
      // LEFT (exact for that population; see demoteFull) and the
      // restricted/enveloped frames stay sound by the LEFT argument
      val swapped0 = substitute(analyzed, finalFrames)
      val swapped =
        if (joinTypes.contains(org.apache.spark.sql.catalyst.plans.FullOuter))
          demoteFull(swapped0)
        else swapped0
      val restricted = swapped.transformUp {
        case a: Aggregate if a.groupingExpressions == (groupAttrs: Seq[Expression]) =>
          a.copy(child = LJoin(a.child, touchedPlan, LeftSemi, Some(cond), JoinHint.NONE))
        case d: org.apache.spark.sql.catalyst.plans.logical.Distinct
            if strip(d.child).output == groupAttrs =>
          d.copy(child = LJoin(d.child, touchedPlan, LeftSemi, Some(cond), JoinHint.NONE))
      }
      GraftShims.ofRows(spark, restricted).toDF(declaredNames: _*)
    }

    /** Unrestricted re-execution (cold start / full-at-heads). */
    def rebuildFull(spark: SparkSession, frames: Seq[DataFrame]): DataFrame =
      GraftShims.ofRows(spark, substitute(analyzed, frames))
        .toDF(declaredNames: _*)
  }

  /** Left-deep chain of INNER/LEFT joins over DSv2 relations: returns
    * (leaves in chain order, prefix subplans, join types, conditions).
    * `prefixes(i)` is the left subtree of the join that adds side
    * `i+1` — the sides-0..i prefix WITH its interior filters. */
  private def collectLeftChainInfo(p: LogicalPlan)
      : Option[(Seq[DataSourceV2Relation], Seq[LogicalPlan],
        Seq[org.apache.spark.sql.catalyst.plans.JoinType], Seq[Option[Expression]])] = {
    import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftOuter}
    belowChain(p) match {
      case Join(l, r, jt @ (Inner | LeftOuter | FullOuter), cond, _)
          if cond.forall(_.deterministic) =>
        belowChain(r) match {
          case rr: DataSourceV2Relation =>
            collectLeftChainInfo(l).map { case (rels, prefixes, jts, cs) =>
              (rels :+ rr, prefixes :+ l, jts :+ jt, cs :+ cond)
            }
          case _ => None
        }
      case r: DataSourceV2Relation => Some((Seq(r), Seq.empty, Nil, Nil))
      case _ => None
    }
  }

  /** Join-order NORMALIZATION ahead of chain detection (r17, widened
    * r18): the same reporting chain is often spelled `dim RIGHT JOIN
    * fact LEFT JOIN dim2`, with a right-deep INNER subtree, or with
    * the INNER's leaf on the LEFT of an outer subtree — all
    * semantically a left-deep INNER/LEFT chain that would otherwise
    * route to full recompute. Three EXACT rewrites, run to fixpoint:
    *  - RIGHT-outer commute: `Join(l, r, RightOuter, c)` ≡
    *    `Join(r, l, LeftOuter, c)` — the output attribute SET is
    *    unchanged and everything above references by exprId, so child
    *    order is invisible; build-side hints swap with the children.
    *  - INNER left-rotation: `X ⋈ (Y ⋈ Z)` ≡ `(X ⋈ Y) ⋈ Z` with each
    *    conjunct placed at the lowest level whose inputs it references
    *    (INNER conjuncts commute freely). GUARDED (tightened r18):
    *    rotation requires a conjunct that LINKS X and Y — references
    *    intersecting BOTH sides non-emptily and contained in X∪Y — or
    *    else `Join(X, Y)` would be an effective cross product the
    *    original plan never had (a single-sided conjunct like
    *    `d1.active = true` is ⊆ X∪Y yet links nothing); skip it, the
    *    commute below or the honest full fallback take over. Join
    *    hints carry through the rotation (r18): X and the leaves Y, Z
    *    keep their per-side hints; only the original outer hint on the
    *    COMPOSITE (Y ⋈ Z) subtree has no exact home after it
    *    dissolves, and is dropped.
    *  - INNER commute (r18): `Join(l, r, Inner, c)` ≡
    *    `Join(r, l, Inner, c)` when `r` is a LEFT-outer join subtree
    *    and `l` is a LEAF (no join below) — `dim2 INNER (fact LEFT
    *    dim1)` becomes `(fact LEFT dim1) INNER dim2`, one more
    *    left-deep chain level. Leaf-only on the left (two join
    *    subtrees would flip-flop forever) and OUTER-right only: an
    *    INNER-right subtree either left-rotates above (when a linking
    *    conjunct exists) or keeps the honest full fallback — commuting
    *    it would re-anchor the chain on a dim, a shape the tier has
    *    no rehearsal for. Hints swap with the children.
    * Outer joins are NOT rotated (they don't associate in general). */
  private[engine] def normalizeJoinOrder(p: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.And
    import org.apache.spark.sql.catalyst.plans.{LeftOuter, RightOuter}
    import org.apache.spark.sql.catalyst.plans.logical.JoinHint
    var cur = p
    var rounds = 0
    var changed = true
    while (changed && rounds < 32) {
      changed = false
      rounds += 1
      cur = cur.transformUp {
        case Join(l, r, RightOuter, cond, hint) =>
          changed = true
          Join(r, l, LeftOuter, cond, JoinHint(hint.rightHint, hint.leftHint))
        case Join(x, Join(y, z, Inner, cy, hi), Inner, cx, ho)
            if (cx.toSeq ++ cy.toSeq).flatMap(splitConjuncts).exists { c =>
              c.references.subsetOf(x.outputSet ++ y.outputSet) &&
              c.references.intersect(x.outputSet).nonEmpty &&
              c.references.intersect(y.outputSet).nonEmpty
            } =>
          changed = true
          val conj = (cx.toSeq ++ cy.toSeq).flatMap(splitConjuncts)
          val xy = x.outputSet ++ y.outputSet
          val (lower, upper) = conj.partition(_.references.subsetOf(xy))
          Join(
            Join(x, y, Inner, lower.reduceOption(And(_, _)),
              JoinHint(ho.leftHint, hi.leftHint)),
            z, Inner, upper.reduceOption(And(_, _)),
            JoinHint(None, hi.rightHint))
        case Join(l, r: Join, Inner, cond, hint)
            if r.joinType == LeftOuter && !l.exists(_.isInstanceOf[Join]) &&
              cond.forall(_.deterministic) =>
          changed = true
          Join(r, l, Inner, cond, JoinHint(hint.rightHint, hint.leftHint))
      }
    }
    cur
  }

  /** Analyzed plan → [[RebuildChainShape]], or None. Checked after
    * the all-INNER N-ary tier (which owns inner-only trees) — this
    * tier requires ≥3 sides and ≥1 LEFT level. The plan is join-order
    * NORMALIZED first (r17), and the normalized plan — semantically
    * identical — is what the shape stores and the tick re-executes. */
  private[engine] def rebuildChainShapeOf(
      spark: SparkSession, analyzed0: LogicalPlan): Option[RebuildChainShape] = {
    import org.apache.spark.sql.catalyst.plans.FullOuter
    val analyzed = normalizeJoinOrder(analyzed0)
    val (groupExprs, aggChild) = peelToAggregate(strip(analyzed)).getOrElse(return None)
    val (rels, prefixes, jts, conds) =
      collectLeftChainInfo(aggChild).getOrElse(return None)
    if (rels.size < 3) return None // the 2-table tier owns n = 2
    if (jts.forall(_ == Inner)) return None // all-inner: the subset tier owns it
    // ONE FULL level supported (r18): its dim-side null-extensions are
    // covered by the empty-spine key derivation + the two-part rebuild
    // below, whose soundness rests on every PREFIX tuple carrying a
    // spine row — a second FULL level below would break exactly that.
    // Multiple FULLs keep the honest full fallback (spec-pinned).
    if (jts.count(_ == FullOuter) > 1) return None
    if (!rels.forall(r => r.identifier.isDefined &&
        r.catalog.exists(_.isInstanceOf[GraftSparkCatalog]))) return None
    val catNames = rels.map(_.catalog.get.name()).distinct
    if (catNames.size != 1) return None
    val (groupAttrs, keyOutIdx) = traceKeys(analyzed, groupExprs,
      rels.map(_.outputSet).reduce(_ ++ _)).getOrElse(return None)
    Some(RebuildChainShape(
      catNames.head,
      rels.map(r => TableIdent(
        r.identifier.get.namespace().toSeq, r.identifier.get.name())),
      rels, analyzed, aggChild, prefixes, jts, conds,
      groupAttrs, keyOutIdx,
      analyzed.output.map(_.name)))
  }

  /** One refresh tick for [[RebuildChainShape]]: NoOp when every
    * checkpoint matches its head; otherwise derive the affected spine
    * at BOTH states (checkpoints and heads), evaluate the chain's own
    * outer semantics over it at both states for the touched keys, and
    * commit the churn-sized keyed replacement advancing all
    * checkpoints atomically. Cost per tick: two churn-driven chain
    * evaluations plus one delta-bounded prefix semi per moved side —
    * no exponential cover, so no moved-instance cap. */
  private def refreshRebuildChain(
      spark: SparkSession, mv: GraftTable, rc: RebuildChainShape): RefreshMode = {
    val meta = mv.metadata
    val names = rc.idents.map(rc.nameOf)
    val distinctIdents = rc.idents.zip(names).distinctBy(_._2)
    val tables = distinctIdents.map { case (ti, n) => n -> rc.table(spark, ti) }.toMap
    val metas = tables.map { case (n, t) => n -> t.metadata }
    val heads = metas.map { case (n, m) => n -> m.currentSnapshotId }
    def headMark(h: Option[Long]): String = h.map(_.toString).getOrElse("none")
    val ckpts = heads.map { case (n, h) =>
      ChangelogApply.ckptKey(n) -> headMark(h)
    } ++ Map(RefreshModeProp -> "incremental-rebuild")
    if (heads.forall { case (n, h) =>
      meta.properties.get(ChangelogApply.ckptKey(n)).contains(headMark(h))
    }) return NoOp

    def fullAtHeads(): RefreshMode = {
      def frameAt(n: String): DataFrame = {
        val t = tables(n)
        heads(n).map(id => t.scan(spark, t.AtSnapshot(id))).getOrElse(t.scan(spark))
      }
      mv.overwriteAll(
        rc.rebuildFull(spark, names.map(frameAt)),
        meta.currentSnapshotId, extraProperties = ckpts)
      Full
    }

    val parsed = heads.map { case (n, h) =>
      n -> (ChangelogApply.liveCheckpoint(meta, n, metas(n)), h)
    }
    if (!parsed.forall { case (_, (c, h)) => c.isDefined && h.isDefined })
      return fullAtHeads() // a checkpoint missing or a table headless
    val ck = parsed.map { case (n, (c, h)) => n -> (c.get, h.get) }
    val movedIdx = names.zipWithIndex.collect {
      case (n, i) if ck(n)._1 != ck(n)._2 => i
    }

    val eqAll = treeEquiPairs(rc.aggChild, rc.rels)
    val colsByInst = eqAll
      .flatMap { case (a, ca, b, cb) => Seq(a -> ca, b -> cb) }
      .groupBy(_._1).map { case (i, xs) => i -> xs.map(_._2).distinct }
    def plainRows(n: String, rel: DataSourceV2Relation): DataFrame = {
      val (c, h) = ck(n)
      tables(n).changelogScan(spark, c, Some(h))
        .select(rel.output.map(a => col(a.name)): _*)
    }
    val deltaFrames = movedIdx.map(i =>
      i -> plainRows(names(i), rc.rels(i))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)).toMap
    try {
      val stats = deltaFrames.map { case (i, df) =>
        i -> deltaEquiStats(df, colsByInst.getOrElse(i, Nil))
      }
      def framesAt(sel: String => Long): Seq[DataFrame] = names.map { n =>
        val t = tables(n)
        t.scan(spark, t.AtSnapshot(sel(n)))
      }
      def prunedAt(sel: String => Long)
          : Seq[Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame]] =
        names.map { n =>
          val t = tables(n)
          val s = sel(n)
          Some((fs: Seq[org.apache.spark.sql.sources.Filter]) =>
            t.scanStatsPruned(spark, fs, t.AtSnapshot(s)))
        }
      val headFrames = framesAt(n => ck(n)._2)
      val ckptFrames = framesAt(n => ck(n)._1)
      val affected = rc.affectedSpine(spark, headFrames, deltaFrames, stats,
        prunedAt(n => ck(n)._2))
        .unionByName(rc.affectedSpine(spark, ckptFrames, deltaFrames, stats,
          prunedAt(n => ck(n)._1)))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // both chain evaluations run with the dims ENVELOPED by the
        // affected spine's equi-column bounds (r16): matched tuples
        // and null-extensions of affected rows are unchanged, so the
        // keys are identical — and the dim scans are churn-local
        val fullRel = rc.joinTypes.indexWhere(
          _ == org.apache.spark.sql.catalyst.plans.FullOuter) match {
          case -1 => None
          case i => Some(i + 1) // joinTypes(i) joins rels(i + 1)
        }
        val envHead = rc.cascadeEnvelope(
          spark, affected, spineNarrowed = true, headFrames,
          prunedAt(n => ck(n)._2))
        val envCkpt = rc.cascadeEnvelope(
          spark, affected, spineNarrowed = true, ckptFrames,
          prunedAt(n => ck(n)._1))
        // prefix-side keys (demoted when a FULL level exists — the
        // dim-side null-extension keys come from the empty-spine
        // derivation below, so the restricted evaluations never
        // fabricate them)
        val keysA = rc.keysOf(spark, envHead, demoteFullLevel = fullRel.isDefined)
          .unionByName(
            rc.keysOf(spark, envCkpt, demoteFullLevel = fullRel.isDefined))
        val touched = fullRel.map { j =>
          val cHead = rc.fullDimCandidates(spark, j, envHead, headFrames,
            deltaFrames.get(j))
          val cCkpt = rc.fullDimCandidates(spark, j, envCkpt, ckptFrames,
            deltaFrames.get(j))
          keysA
            .unionByName(rc.fullDimNullExtKeys(spark, j, headFrames, cHead))
            .unionByName(rc.fullDimNullExtKeys(spark, j, ckptFrames, cCkpt))
        }.getOrElse(keysA)
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // r18, FULL level: tuples carrying a prefix-resident key
          // value rebuild through the restricted/enveloped part-A path
          // (FULL demoted to LEFT — exact for that population); the
          // all-prefix-keys-NULL tuples — dim-side null-extensions and
          // NULL-valued prefix keys — rebuild through the UNRESTRICTED
          // gated part B, which only executes when such tuples were
          // actually touched. No FULL level: the r17 path unchanged.
          val rebuilt = fullRel match {
            case None =>
              rc.rebuild(spark, touched, headFrames, prunedAt(n => ck(n)._2))
            case Some(j) =>
              val prefixKeyCols = rc.groupAttrs.collect {
                case a if (0 until j).exists(k =>
                  rc.rels(k).outputSet.contains(a)) => a.name
              }
              if (prefixKeyCols.isEmpty)
                // every key lives on the FULL dim or later: every
                // tuple is in part B's population
                rc.rebuildGated(spark, touched, headFrames)
              else {
                val touchedA = touched.filter(
                  prefixKeyCols.map(col(_).isNotNull).reduce(_ or _))
                val touchedB = touched.filter(
                  prefixKeyCols.map(col(_).isNull).reduce(_ and _))
                val partA = rc.rebuild(spark, touchedA, headFrames,
                  prunedAt(n => ck(n)._2))
                if (touchedB.isEmpty) partA
                else partA.unionByName(
                  rc.rebuildGated(spark, touchedB, headFrames))
              }
          }
          mv.replaceKeys(spark, rc.keyOutNames,
            rc.touchedOut(touched), rebuilt,
            meta.currentSnapshotId, extraProperties = ckpts)
          Incremental
        } finally touched.unpersist(blocking = false)
      } finally affected.unpersist(blocking = false)
    } finally deltaFrames.values.foreach(_.unpersist(blocking = false))
  }

  /** Analyzed plan → foldable shape, or None (→ full-refresh MV).
    * Guards, each a deliberate fallback-to-full rather than an error:
    * single graft-table source; deterministic filter; all grouping
    * columns present in the output (the fold joins back on them);
    * count(*) present (the group-liveness signal `n_rows != 0` needs
    * it); at most one distinct value column; count(v) present OR v
    * non-nullable whenever sum(v) is (the NULL-sum contract needs
    * n_vals). */
  private[engine] def shapeOf(
      spark: SparkSession, analyzed: LogicalPlan): Option[FoldShape] = analyzed match {
    case Aggregate(groupExprs, aggExprs, child0, _) =>
      val (cond, rel) = strip(child0) match {
        case Filter(c, r) => (Some(c), strip(r))
        case r => (None, r)
      }
      rel match {
        case r: DataSourceV2Relation if r.identifier.isDefined &&
            r.catalog.exists(_.isInstanceOf[GraftSparkCatalog]) =>
          if (cond.exists(c => !c.deterministic)) return None
          val (outs, valueSrc, _) =
            detectAggOuts(groupExprs, aggExprs, _.name)
              .getOrElse(return None)
          val ident = r.identifier.get
          Some(FoldShape(
            r.catalog.get.name(),
            TableIdent(ident.namespace().toSeq, ident.name()),
            cond.map(unresolveByName),
            outs,
            valueSrc))
        case _ => None
      }
    case _ => None
  }

  /** The aggregate-output matcher [[shapeOf]] and [[joinShapeOf]]
    * share. `nameOf` maps a source attribute to its post-scan column
    * name (identity for one table; the join shape maps the right join
    * key onto the left's, since only one key column survives the
    * join). Returns `(outs, value column name, value attribute)`, or
    * None when any output falls outside the foldable grammar or a
    * gate (count(*) present, one value column, one family,
    * sum/avg nullability, avg-only integrality) fails. */
  private def detectAggOuts(
      groupExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      nameOf: AttributeReference => String)
      : Option[(Seq[OutCol], Option[String], Option[AttributeReference])] = {
    val groupAttrs = groupExprs.map {
      case a: AttributeReference => a
      case _ => return None
    }
    var valueSrc: Option[String] = None
    var valueAttr: Option[AttributeReference] = None
    def noteValue(v: AttributeReference): Boolean = valueSrc match {
      case Some(n) => n == nameOf(v)
      case None => valueSrc = Some(nameOf(v)); valueAttr = Some(v); true
    }
    val outs = aggExprs.map {
      case a: AttributeReference if groupAttrs.exists(_.exprId == a.exprId) =>
        KeyOut(nameOf(a), a.name)
      case Alias(a: AttributeReference, out)
          if groupAttrs.exists(_.exprId == a.exprId) =>
        KeyOut(nameOf(a), out)
      case Alias(AggregateExpression(Count(Seq(Literal(_, _))), _, false, None, _), out) =>
        CountStarOut(out)
      case Alias(AggregateExpression(Count(Seq(v: AttributeReference)), _, false, None, _), out) =>
        if (!noteValue(v)) return None
        CountVOut(out)
      case Alias(AggregateExpression(Count(Seq(v: AttributeReference)), _, true, None, _), out) =>
        if (!noteValue(v)) return None
        CountDistinctOut(out)
      case Alias(AggregateExpression(Sum(v: AttributeReference, _), _, false, None, _), out) =>
        if (!noteValue(v)) return None
        SumVOut(out)
      case Alias(AggregateExpression(Average(v: AttributeReference, _), _, false, None, _), out) =>
        if (!noteValue(v)) return None
        AvgVOut(out)
      case Alias(AggregateExpression(Min(v: AttributeReference), _, false, None, _), out) =>
        if (!noteValue(v)) return None
        MinVOut(out)
      case Alias(AggregateExpression(Max(v: AttributeReference), _, false, None, _), out) =>
        if (!noteValue(v)) return None
        MaxVOut(out)
      case _ => return None
    }
    val keySrcList = outs.collect { case k: KeyOut => k.srcName }
    val keyNames = keySrcList.toSet
    // duplicate post-nameOf key names (e.g. GROUP BY a.id, b.ref with
    // ON a.id = b.ref maps both onto "id"): the fold's groupBy/rename
    // machinery would collide — route to full refresh, never an error
    if (keySrcList.size != keyNames.size) return None
    if (!groupAttrs.forall(a => keyNames(nameOf(a)))) return None
    if (!outs.exists(_.isInstanceOf[CountStarOut])) return None
    val hasSum = outs.exists(_.isInstanceOf[SumVOut])
    val hasAvg = outs.exists(_.isInstanceOf[AvgVOut])
    val hasCountV = outs.exists(_.isInstanceOf[CountVOut])
    // families MAY mix (r14): applyFold joins each family's fold on
    // the group keys, so sum+min-style MVs stay incremental
    if ((hasSum || hasAvg) && !hasCountV) {
      // NULL-sum/avg contract needs n_vals; reconstructible iff v can't be NULL
      if (!valueAttr.exists(!_.nullable)) return None
    }
    if (hasAvg && !hasSum) {
      // avg-only MVs store no sum: the fold reconstructs it as
      // round(avg × n_vals), exact only for INTEGRAL values
      // (fractional sums don't survive the divide/multiply
      // round-trip) — anything else routes to full recompute
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val integral = valueAttr.exists(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
      if (!integral) return None
    }
    Some((outs, valueSrc, valueAttr))
  }

  /** Analyzed plan → the two-table [[JoinShape]], or None. Guards
    * beyond [[detectAggOuts]]'s: both sides graft tables in the SAME
    * catalog; a single-attribute inner equi-join; deterministic
    * post-join filter; and every right-side column the fold reads
    * (minus its join key, which is renamed away) name-disjoint from
    * the left table — the joined frame keeps bare names, so a
    * collision would make the fold ambiguous (full refresh handles
    * those queries correctly instead). */
  private[engine] def joinShapeOf(
      spark: SparkSession, analyzed: LogicalPlan): Option[JoinShape] = analyzed match {
    case Aggregate(groupExprs, aggExprs, child0, _) =>
      val (cond, below) = strip(child0) match {
        case Filter(c, r) => (Some(c), strip(r))
        case r => (None, r)
      }
      below match {
        case Join(l0, r0, Inner,
            Some(EqualTo(x: AttributeReference, y: AttributeReference)), _) =>
          (strip(l0), strip(r0)) match {
            case (lr: DataSourceV2Relation, rr: DataSourceV2Relation)
                if lr.identifier.isDefined && rr.identifier.isDefined &&
                  lr.catalog.exists(_.isInstanceOf[GraftSparkCatalog]) &&
                  rr.catalog.exists(_.isInstanceOf[GraftSparkCatalog]) &&
                  lr.catalog.get.name() == rr.catalog.get.name() =>
              val lOut = l0.outputSet
              val rOut = r0.outputSet
              val (lk, rk) =
                if (lOut.contains(x) && rOut.contains(y)) (x, y)
                else if (lOut.contains(y) && rOut.contains(x)) (y, x)
                else return None
              if (cond.exists(c => !c.deterministic)) return None
              val lNames = lr.output.map(_.name).toSet
              if (rr.output.map(_.name).exists(n => n != rk.name && lNames(n)))
                return None
              def nameOf(a: AttributeReference): String =
                if (a.exprId == rk.exprId) lk.name else a.name
              // r13: every single-table family folds over the join too
              // — min/max and count-distinct recompute touched keys
              // from the JOINED base at the pinned heads (refreshJoin
              // supplies it), so no additive-only restriction remains
              detectAggOuts(groupExprs, aggExprs, nameOf)
                .map { case (outs, valueSrc, valueAttr) =>
                  val filterAttrs = cond.toSeq.flatMap(_.references.toSeq)
                    .collect { case a: AttributeReference => a }
                  val groupAttrs = groupExprs
                    .collect { case a: AttributeReference => a }
                  val needed = groupAttrs ++ valueAttr.toSeq ++ filterAttrs
                  def sideCols(out: org.apache.spark.sql.catalyst.expressions.AttributeSet,
                      jk: AttributeReference): Seq[String] =
                    needed.filter(a => out.contains(a) && a.exprId != jk.exprId)
                      .map(_.name).distinct
                  val li = lr.identifier.get
                  val ri = rr.identifier.get
                  JoinShape(
                    lr.catalog.get.name(),
                    TableIdent(li.namespace().toSeq, li.name()),
                    TableIdent(ri.namespace().toSeq, ri.name()),
                    lk.name, rk.name,
                    sideCols(lOut, lk), sideCols(rOut, rk),
                    cond.map(unresolveByNameMapped(_, Map(rk.exprId -> lk.name))),
                    FoldShape(lr.catalog.get.name(),
                      TableIdent(li.namespace().toSeq, li.name()),
                      None, outs, valueSrc))
                }
            case _ => None
          }
        case _ => None
      }
    case _ => None
  }

  private def strip(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, c) => strip(c)
    case other => other
  }

  /** Resolved predicate → name-based unresolved twin, applicable to
    * any frame carrying the source's column names (the changelog scan
    * does). */
  private def unresolveByName(e: Expression): Expression = e.transformUp {
    case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
  }

  /** [[unresolveByName]] with an exprId→name override — the join shape
    * rewrites the right join key onto the left's surviving column. */
  private def unresolveByNameMapped(
      e: Expression,
      mapped: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String])
      : Expression = e.transformUp {
    case a: AttributeReference =>
      UnresolvedAttribute(Seq(mapped.getOrElse(a.exprId, a.name)))
  }

  private implicit class JavaMapOps(m: Map[String, String]) {
    def asJava: java.util.Map[String, String] = {
      val out = new java.util.HashMap[String, String]()
      m.foreach { case (k, v) => out.put(k, v) }
      out
    }
  }
}

/** CREATE MATERIALIZED VIEW ... AS <query> — rewritten from Spark's
  * `CreateMaterializedViewAsSelect` (which no built-in catalog
  * executes) by [[GraftViewCommandRewrite]]. */
final case class CreateGraftMaterializedViewCommand(
    catalog: GraftSparkCatalog,
    viewIdent: Identifier,
    userCols: Seq[String],
    partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
    query: LogicalPlan,
    originalText: String,
    ifNotExists: Boolean,
    properties: Map[String, String])
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    GraftMaterializedViews.create(spark, catalog, viewIdent, userCols,
      partitioning, query, originalText, ifNotExists, properties)
    Nil
  }
}
