package graft.spark

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, LogicalPlan, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** SQL `UPDATE <graft table> SET ... WHERE ...`, routed into
  * `GraftMaintenance.updateWhere` — the file-scoped in-place rewrite pass
  * (one distributed probe, only matched files rewrite, crash-resume
  * names, catch-up manifests).
  *
  * Spark's own UPDATE path requires `SupportsRowLevelOperations`
  * (group-based ReplaceData: scan the matched groups whole, rewrite them
  * through a full write). graft already owns a leaner purpose-built pass
  * with the same end state, so this rule intercepts the ANALYZED
  * `UpdateTable` plan — analysis completes fine for any v2 table; the
  * stock failure is at strategy time — and rewrites it to a runnable
  * command before planning. It runs as an operator-optimization rule
  * ([[GraftSessionExtensions]]), before V2ScanRelationPushDown, so the
  * target is still the plain relation.
  *
  * Scope: assignments to top-level columns with subquery-free values and
  * a subquery-free condition (everything `updateWhere` itself can
  * express). Anything else falls through to Spark's stock error so the
  * user sees the real capability boundary, never a partial update.
  */
object GraftUpdateRewrite extends Rule[LogicalPlan] {

  private def hasSubquery(e: Expression): Boolean =
    e.exists(_.isInstanceOf[PlanExpression[_]])

  /** Re-anchor a resolved expression tree by NAME: the maintenance pass
    * re-reads the table into a fresh DataFrame, so the plan's exprIds are
    * meaningless there — name-based resolution against the same schema is
    * exact (top-level names are unique in a graft table).
    */
  private def unresolve(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
  }

  /** (table, relation-plan-for-recache): the relation is what the cache
    * manager canonicalizes, so a post-update recacheByPlan refreshes any
    * cached reads of the target (recacheByPath only matches v1 file
    * relations — measured serving stale rows here before this).
    */
  private[spark] def graftTableOf(plan: LogicalPlan): Option[(GraftTable, LogicalPlan)] =
    EliminateSubqueryAliases(plan) match {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        Some((r.table.asInstanceOf[GraftTable], r))
      case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        // a cached read of the target table: withCachedData swaps the
        // relation for the cache entry before user rules run — the
        // builder keeps the original logical plan, which names the table
        graftTableOf(imr.cacheBuilder.logicalPlan)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case u @ UpdateTable(aliased, assignments, cond)
        if u.resolved && !cond.exists(hasSubquery) &&
          !assignments.exists(a => hasSubquery(a.value)) &&
          assignments.forall(_.key.isInstanceOf[AttributeReference]) &&
          graftTableOf(aliased).isDefined =>
      val (t, relationPlan) = graftTableOf(aliased).get
      val assigns = assignments.flatMap {
        // aligned identity assignments (col = col) are no-ops
        case Assignment(k, v) if v.semanticEquals(k) => None
        case Assignment(k: AttributeReference, v) =>
          Some(k.name -> org.apache.spark.sql.GraftCatalystBridge.column(unresolve(v)))
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
      GraftUpdateCommand(t.tablePath, t.schema(), t.asofMs,
        cond.map(c => org.apache.spark.sql.GraftCatalystBridge.column(unresolve(c))),
        assigns, relationPlan, t.enforcedCheckSpecs)
  }
}

/** SQL `MERGE INTO <graft table> USING <source> ON <equi-keys> WHEN
  * MATCHED THEN UPDATE ... WHEN NOT MATCHED THEN INSERT ...`, routed into
  * `GraftMaintenance.mergeInto` — the CDC-upsert pass (probe, file-scoped
  * rewrites of matched files, one appended commit for the unmatched
  * source rows). Same interception point as [[GraftUpdateRewrite]].
  *
  * Scope — the FULL action matrix (everything else falls through to
  * Spark's stock error):
  *   - ON condition: conjunction of target-column = source-column pairs
  *   - WHEN MATCHED [AND cond] THEN UPDATE | DELETE, any number, applied
  *     first-true in order (the CDC tombstone shape works:
  *     `WHEN MATCHED AND s.op = 'D' THEN DELETE WHEN MATCHED THEN
  *     UPDATE SET *`)
  *   - WHEN NOT MATCHED [AND cond] THEN INSERT, any number (conditions
  *     and values read the source row only)
  *   - WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE | DELETE
  *     (target-only expressions — the snapshot-sync shape)
  *   - no schema evolution, no subqueries in any expression
  */
object GraftMergeRewrite extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{DeleteAction, InsertAction, MergeAction, MergeIntoTable, UpdateAction}
  import org.apache.spark.sql.catalyst.expressions.{And, AttributeSet, EqualTo}

  private def hasSubquery(e: Expression): Boolean =
    e.exists(_.isInstanceOf[PlanExpression[_]])

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case m: MergeIntoTable if m.resolved && !m.withSchemaEvolution &&
        GraftUpdateRewrite.graftTableOf(m.targetTable).isDefined =>
      val (t, relationPlan) = GraftUpdateRewrite.graftTableOf(m.targetTable).get
      val targetOut = m.targetTable.outputSet
      val sourceOut = m.sourceTable.outputSet
      // matched-clause name context: target names bare, source names
      // behind the reserved prefix (the maintenance join's convention)
      def unresolve(e: Expression): Expression = e.transform {
        case a: AttributeReference if targetOut.contains(a) =>
          UnresolvedAttribute(Seq(a.name))
        case a: AttributeReference if sourceOut.contains(a) =>
          UnresolvedAttribute(Seq(GraftMaintenance.SrcPrefix + a.name))
      }
      def srcOnly(e: Expression): Expression = e.transform {
        case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
      }
      def refsOk(e: Expression, allowed: AttributeSet): Boolean =
        !hasSubquery(e) && e.references.forall(allowed.contains)
      def asColumn(e: Expression, resolver: Expression => Expression) =
        org.apache.spark.sql.GraftCatalystBridge.column(resolver(e))
      // translate one WHEN action; None = out of scope -> stock error
      def clauseOf(a: MergeAction, allowed: AttributeSet,
          resolver: Expression => Expression): Option[GraftMaintenance.MergeClause] = a match {
        case UpdateAction(cond, as, _)
            if cond.forall(refsOk(_, allowed)) &&
              as.forall(x => x.key.isInstanceOf[AttributeReference] && refsOk(x.value, allowed)) =>
          Some(GraftMaintenance.MergeClause(
            cond.map(asColumn(_, resolver)),
            Some(as.map(x => x.key.asInstanceOf[AttributeReference].name ->
              asColumn(x.value, resolver)).toMap)))
        case DeleteAction(cond) if cond.forall(refsOk(_, allowed)) =>
          Some(GraftMaintenance.MergeClause(cond.map(asColumn(_, resolver)), None))
        case _ => None
      }
      // ON: every conjunct must be target-col = source-col. ANALYZER-
      // inserted casts (type coercion when key types differ — e.g. an
      // INT-literal source against a BIGINT key) strip away: the
      // maintenance join re-resolves col(t) === col(src) and Spark
      // re-inserts the identical coercion there, so the comparison
      // semantics are unchanged. USER-written casts (tagged
      // USER_SPECIFIED_CAST) do NOT strip — `ON CAST(t.id AS STRING) =
      // s.code` asks for string comparison ('01' <> '1'); re-resolving
      // bare columns would swap in numeric coercion and match different
      // rows. Those fall back to the stock unsupported-ON error.
      def keyAttr(e: Expression): Option[AttributeReference] = e match {
        case a: AttributeReference => Some(a)
        case c: org.apache.spark.sql.catalyst.expressions.Cast
            if c.getTagValue(org.apache.spark.sql.catalyst.expressions.Cast
              .USER_SPECIFIED_CAST).isEmpty => keyAttr(c.child)
        case _ => None
      }
      // USER casts on the keys — the `ON CAST(t.k AS T) = CAST(s.k AS T)`
      // shape (the analyzer SIMPLIFIES a no-op side, so one side may
      // arrive as the bare attr). Stripping is sound exactly when every
      // surviving user cast's type T is the coercion Spark would
      // re-insert for the bare column pair anyway (the re-resolved join
      // then compares under the identical type); any other T asks for
      // different match semantics and stays out of scope.
      def sideAttr(e: Expression): Option[(AttributeReference,
          Option[org.apache.spark.sql.types.DataType])] = e match {
        case c: org.apache.spark.sql.catalyst.expressions.Cast
            if c.getTagValue(org.apache.spark.sql.catalyst.expressions.Cast
              .USER_SPECIFIED_CAST).isDefined =>
          keyAttr(c.child).map(a => (a, Some(c.dataType)))
        case other => keyAttr(other).map(a => (a, None))
      }
      // the sound acceptance set is deliberately NARROW: both columns
      // integral and T their wider integral. There the widening cast is
      // injective and the re-resolved join's comparison coercion is the
      // same wider integral — identical match semantics, provably. Wider
      // families are traps: findWiderTypeForTwo(string, int) = string,
      // but Spark's BINARY-COMPARISON coercion for string-vs-numeric is
      // numeric, so certifying a CAST AS STRING there would flip the
      // comparison semantics ('01' = '1' under strings, 1 = 1 under
      // numerics) and match different rows.
      def coercionOf(a: org.apache.spark.sql.types.DataType,
          b: org.apache.spark.sql.types.DataType)
          : Option[org.apache.spark.sql.types.DataType] = {
        import org.apache.spark.sql.types._
        def integral(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
        if (!integral(a) || !integral(b)) None
        else if (org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
          org.apache.spark.sql.catalyst.analysis.AnsiTypeCoercion.findWiderTypeForTwo(a, b)
        else
          org.apache.spark.sql.catalyst.analysis.TypeCoercion.findWiderTypeForTwo(a, b)
      }
      val keys = conjuncts(m.mergeCondition).map {
        case EqualTo(l, r) =>
          (keyAttr(l), keyAttr(r)) match {
            case (Some(a), Some(b)) if targetOut.contains(a) && sourceOut.contains(b) =>
              Some((a.name, b.name))
            case (Some(b), Some(a)) if targetOut.contains(a) && sourceOut.contains(b) =>
              Some((a.name, b.name))
            case _ =>
              (sideAttr(l), sideAttr(r)) match {
                case (Some((x, cx)), Some((y, cy)))
                    if (cx.isDefined || cy.isDefined) &&
                      (cx.toSeq ++ cy.toSeq).distinct.size == 1 &&
                      coercionOf(x.dataType, y.dataType) ==
                        (cx.toSeq ++ cy.toSeq).headOption =>
                  if (targetOut.contains(x) && sourceOut.contains(y))
                    Some((x.name, y.name))
                  else if (targetOut.contains(y) && sourceOut.contains(x))
                    Some((y.name, x.name))
                  else None
                case _ => None
              }
          }
        case _ => None
      }
      val both = targetOut ++ sourceOut
      val matchedClauses = m.matchedActions.map(clauseOf(_, both, unresolve))
      // an inserted row has no target side to read from
      val insertClauses = m.notMatchedActions.map {
        case InsertAction(cond, as)
            if cond.forall(refsOk(_, sourceOut)) &&
              as.forall(x => x.key.isInstanceOf[AttributeReference] && refsOk(x.value, sourceOut)) =>
          Some(GraftMaintenance.MergeClause(
            cond.map(asColumn(_, srcOnly)),
            Some(as.map(x => x.key.asInstanceOf[AttributeReference].name ->
              asColumn(x.value, srcOnly)).toMap)))
        case _ => None
      }
      // by-source clauses see the target row only
      val nmbsClauses = m.notMatchedBySourceActions.map(clauseOf(_, targetOut, unresolve))
      val outOfScope: Seq[String] = Seq(
        (keys.isEmpty || keys.exists(_.isEmpty)) ->
          ("the ON condition must be a conjunction of target-col = " +
            "source-col equi-keys (non-equi conditions, expressions over " +
            "keys, and user casts that change comparison semantics are " +
            "out of scope)"),
        (matchedClauses.exists(_.isEmpty) || insertClauses.exists(_.isEmpty) ||
          nmbsClauses.exists(_.isEmpty)) ->
          ("a WHEN clause carries a subquery or references columns " +
            "outside its side's scope")
      ).collect { case (true, why) => why }
      if (outOfScope.nonEmpty ||
          (m.matchedActions.isEmpty && m.notMatchedActions.isEmpty &&
            m.notMatchedBySourceActions.isEmpty))
        // a SPECIFIC error beats Spark's generic unsupported-MERGE one:
        // the table can never take the stock path (no
        // SupportsRowLevelOperations), so declining here always ends in
        // an error — make it say WHAT is out of scope and which library
        // API still covers the shape
        throw new UnsupportedOperationException(
          "graft: MERGE INTO this table is handled by the graft rewrite, " +
            "and this statement is outside its scope: " +
            outOfScope.mkString("; ") + ". Restate the merge with plain " +
            "equi-keys / side-local clause expressions, or use " +
            "GraftMaintenance.mergeApply(spark, path, sourceDf, keys, " +
            "clauses...) which accepts an arbitrary pre-computed source " +
            "DataFrame.")
      else
        GraftMergeCommand(t.tablePath, t.schema(), t.asofMs, m.sourceTable,
          keys.flatten, matchedClauses.flatten, insertClauses.flatten,
          nmbsClauses.flatten, relationPlan, t.enforcedCheckSpecs)
  }
}

/** Pre-flight CHECK-constraint validation for the SQL DML rewrites.
  *
  * INSERT/OVERWRITE land through the v2 write path, where Spark's own
  * ResolveTableConstraints enforces the table's declared checks — but
  * UPDATE and MERGE are intercepted into the library's file-scoped
  * rewrite passes, which never pass through a v2 write. So the commands
  * validate the rows they are ABOUT to land (the same first-true clause
  * semantics the passes apply) BEFORE any mutation: a violation aborts
  * the whole statement with nothing changed — atomic, like the write
  * path's own enforcement. One extra distributed probe job, paid only
  * when the table actually declares enforced checks.
  *
  * SQL CHECK semantics: a NULL predicate result PASSES; only FALSE
  * violates — hence the `NOT (pred)` filter (NULL stays NULL, filtered).
  */
private[spark] object GraftCheckEnforce {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  def validate(rows: DataFrame, checks: Seq[(String, String)],
      stmt: String): Unit =
    checks.foreach { case (name, sql) =>
      if (rows.filter(s"NOT ($sql)").limit(1).count() > 0)
        throw new IllegalStateException(
          s"graft: $stmt would violate CHECK constraint '$name' ($sql) — " +
            "the statement was aborted before any change")
    }

  /** Rows a first-true clause list would LAND (clauses without
    * assignments are deletes — nothing lands). Assignment maps may be
    * partial: unassigned fields keep the row's value (`bare = false`,
    * the UPDATE shape) or become NULL (`bare = true`, the INSERT shape,
    * where the frame has no target side to keep).
    */
  def firstTrueProjection(frame: DataFrame,
      clauses: Seq[GraftMaintenance.MergeClause],
      fields: Seq[org.apache.spark.sql.types.StructField],
      bare: Boolean): DataFrame = {
    val updIdx = clauses.zipWithIndex.collect {
      case (c, i) if c.assigns.isDefined => i }
    if (updIdx.isEmpty) return frame.filter(lit(false))
      .select(fields.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
    val idx = clauses.zipWithIndex.foldRight(lit(-1)) { case ((c, i), acc) =>
      when(c.condition.getOrElse(lit(true)), lit(i)).otherwise(acc) }
    frame.withColumn("__g_ci", idx)
      .filter(col("__g_ci").isin(updIdx.map(Int.box): _*))
      .select(fields.map { f =>
        val dflt =
          if (bare) lit(null).cast(f.dataType) else col(f.name)
        updIdx.foldRight(dflt) { (i, acc) =>
          when(col("__g_ci") === i,
            clauses(i).assigns.get.find(_._1.equalsIgnoreCase(f.name))
              .map(_._2).getOrElse(dflt))
            .otherwise(acc)
        }.as(f.name)
      }: _*)
  }
}

/** The runnable command `GraftMergeRewrite` plans. */
final case class GraftMergeCommand(
    path: String,
    declaredSchema: org.apache.spark.sql.types.StructType,
    asofMs: Option[Long],
    sourcePlan: LogicalPlan,
    keys: Seq[(String, String)],
    matched: Seq[GraftMaintenance.MergeClause],
    notMatchedInsert: Seq[GraftMaintenance.MergeClause],
    notMatchedBySource: Seq[GraftMaintenance.MergeClause],
    relationPlan: LogicalPlan,
    enforcedChecks: Seq[(String, String)] = Seq.empty)
    extends LeafRunnableCommand {

  override def run(sparkSession: SparkSession): Seq[Row] = {
    require(asofMs.isEmpty, "graft: cannot MERGE into a time-travel snapshot")
    val src = org.apache.spark.sql.GraftCatalystBridge.ofRows(sparkSession, sourcePlan)
    if (enforcedChecks.nonEmpty) {
      // validate every row this merge would LAND before anything mutates
      // (the pass bypasses the v2 write path — see GraftCheckEnforce)
      import org.apache.spark.sql.functions.col
      val fields = declaredSchema.fields.toSeq
      val hasData = GraftUtil.listDataFiles(path,
        sparkSession.sessionState.newHadoopConf()).nonEmpty
      val tgt =
        if (hasData)
          sparkSession.read.format("graft").schema(declaredSchema).load(path)
        else sparkSession.createDataFrame(
          new java.util.ArrayList[Row](), declaredSchema)
      val pre = GraftMaintenance.SrcPrefix
      val srcP = src.columns.foldLeft(src)((d, c) =>
        d.withColumnRenamed(c, pre + c))
      if (matched.exists(_.assigns.isDefined)) {
        val joinCond = keys.map { case (t, s) =>
          col(t) === col(pre + s) }.reduce(_ && _)
        GraftCheckEnforce.validate(
          GraftCheckEnforce.firstTrueProjection(
            tgt.join(srcP, joinCond, "inner"), matched, fields, bare = false),
          enforcedChecks, "MERGE (matched update)")
      }
      if (notMatchedInsert.exists(_.assigns.isDefined)) {
        val antiCond = keys.map { case (t, s) =>
          tgt(t) === src(s) }.reduce(_ && _)
        GraftCheckEnforce.validate(
          GraftCheckEnforce.firstTrueProjection(
            src.join(tgt, antiCond, "left_anti"),
            notMatchedInsert, fields, bare = true),
          enforcedChecks, "MERGE (not-matched insert)")
      }
      if (notMatchedBySource.exists(_.assigns.isDefined)) {
        val antiCond = keys.map { case (t, s) =>
          tgt(t) === src(s) }.reduce(_ && _)
        GraftCheckEnforce.validate(
          GraftCheckEnforce.firstTrueProjection(
            tgt.join(src, antiCond, "left_anti"),
            notMatchedBySource, fields, bare = false),
          enforcedChecks, "MERGE (not-matched-by-source update)")
      }
    }
    // SQL re-run semantics: a per-execution nonce folded into the merge's
    // convergence hash (see GraftOpMarker and GraftUpdateCommand) — without
    // it, re-running an identical MERGE whose source content also matched
    // would silently skip the already-stamped files while reporting stats
    val conf = sparkSession.sessionState.newHadoopConf()
    val tableDir = new org.apache.hadoop.fs.Path(path)
    val fs = GraftFs.get(tableDir, conf)
    def render(cs: Seq[GraftMaintenance.MergeClause]): String = cs.map(c =>
      c.condition.map(_.toString).getOrElse("-") + "?" +
        c.assigns.map(_.toSeq.map { case (k, e) => s"$k:=$e" }.sorted.mkString(";"))
          .getOrElse("DELETE")).mkString("|")
    val stmt = GraftOpMarker.stmtHash(keys.mkString(";") +
      "|M:" + render(matched) + "|I:" + render(notMatchedInsert) +
      "|S:" + render(notMatchedBySource))
    val nonce = GraftOpMarker.acquire(fs, tableDir, "_graft_tmp_merge", stmt)
    // graft.merge.mode=dv (session conf) routes matched UPDATE/DELETE
    // clauses through deletion-vector masks + one tagged append instead
    // of copy-on-write file rewrites — the CDC-upsert knob, same family
    // as graft.delete.mode / graft.update.mode (falls back to CoW when
    // NOT MATCHED BY SOURCE clauses are present)
    GraftMaintenance.mergeApply(sparkSession, path, src, keys,
      matched, notMatchedInsert, notMatchedBySource,
      schemaOverride = Some(declaredSchema),
      opNonce = Some(nonce),
      dvMode = sparkSession.conf.getOption("graft.merge.mode").contains("dv"))
    GraftOpMarker.release(fs, tableDir, "_graft_tmp_merge", stmt)
    sparkSession.sharedState.cacheManager.recacheByPlan(
      sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], relationPlan)
    Seq.empty
  }
}

object GraftUpdateCommand {
  /** Test seam: throw AFTER the maintenance pass, BEFORE the op marker
    * release — exactly the crash window the persisted per-execution nonce
    * must cover (the resume re-run must converge, not re-apply). */
  @volatile private[spark] var crashBeforeRelease: Boolean = false
}

/** The runnable command `GraftUpdateRewrite` plans: executes the
  * maintenance pass and refreshes any cached reads of the table path.
  */
final case class GraftUpdateCommand(
    path: String,
    declaredSchema: org.apache.spark.sql.types.StructType,
    asofMs: Option[Long],
    cond: Option[org.apache.spark.sql.Column],
    assigns: Seq[(String, org.apache.spark.sql.Column)],
    relationPlan: LogicalPlan,
    enforcedChecks: Seq[(String, String)] = Seq.empty)
    extends LeafRunnableCommand {

  override def run(sparkSession: SparkSession): Seq[Row] = {
    require(asofMs.isEmpty, "graft: cannot UPDATE a time-travel snapshot")
    // UPDATE with no assignments (every SET was an identity) is a no-op;
    // an empty table (no files yet) likewise — both are SQL successes
    val conf = sparkSession.sessionState.newHadoopConf()
    if (assigns.nonEmpty && GraftUtil.listDataFiles(path, conf).nonEmpty) {
      if (enforcedChecks.nonEmpty) {
        // validate the post-update rows BEFORE any rewrite (the pass
        // bypasses the v2 write path — see GraftCheckEnforce). All
        // assignment RHS read the PRE-update row (SQL semantics), so the
        // projection replaces every assigned column simultaneously.
        import org.apache.spark.sql.functions.col
        val df = sparkSession.read.format("graft")
          .schema(declaredSchema).load(path)
        val matched = cond.map(df.filter).getOrElse(df)
        val updated = matched.select(declaredSchema.fields.map { f =>
          assigns.find(_._1.equalsIgnoreCase(f.name)).map(_._2.as(f.name))
            .getOrElse(col(f.name))
        }.toIndexedSeq: _*)
        GraftCheckEnforce.validate(updated, enforcedChecks, "UPDATE")
      }
      // SQL re-run semantics: each EXECUTION of this statement gets its own
      // nonce (persisted pre-rewrite so a crashed execution still resumes
      // under it) — re-running `SET v = v + 1` applies it again, unlike the
      // library API's converge-on-re-run contract (see GraftOpMarker)
      val tableDir = new org.apache.hadoop.fs.Path(path)
      val fs = GraftFs.get(tableDir, conf)
      val stmt = GraftOpMarker.stmtHash(
        cond.map(_.toString).getOrElse("-") + "|" +
          assigns.map { case (c, e) => s"$c:=$e" }.sorted.mkString(";"))
      val nonce = GraftOpMarker.acquire(fs, tableDir, "_graft_tmp_update", stmt)
      // graft.update.mode=dv (session conf) routes SQL UPDATE through the
      // merge-on-read pass (mask + tagged append) instead of copy-on-write
      // rewrites — same knob family as graft.delete.mode
      if (sparkSession.conf.getOption("graft.update.mode").contains("dv"))
        GraftMaintenance.updateWhereDv(sparkSession, path,
          cond.getOrElse(org.apache.spark.sql.functions.lit(true)),
          assigns.toMap,
          opNonce = Some(nonce),
          schemaOverride = Some(declaredSchema))
      else GraftMaintenance.updateWhere(sparkSession, path,
        cond.getOrElse(org.apache.spark.sql.functions.lit(true)),
        assigns.toMap,
        schemaOverride = Some(declaredSchema),
        opNonce = Some(nonce))
      if (GraftUpdateCommand.crashBeforeRelease)
        throw new RuntimeException("graft test seam: crash before marker release")
      GraftOpMarker.release(fs, tableDir, "_graft_tmp_update", stmt)
    }
    // match DeleteFromTableExec's contract: cached plans over this table
    // must not serve pre-update rows (recache by PLAN — the v2 relation is
    // what the cache manager canonicalizes)
    sparkSession.sharedState.cacheManager.recacheByPlan(
      sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], relationPlan)
    Seq.empty
  }
}
