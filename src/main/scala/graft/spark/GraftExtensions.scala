package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{ArrayContains, AttributeReference, ElementAt, EqualTo, Expression, GetArrayItem, GetMapValue, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types.{ArrayType, BinaryType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, MapType, ShortType, StringType}

/** Catalyst rule: element-predicate pushdown for graft scans.
  *
  * DSv2 translates only attribute-path predicates into source filters, so
  * `array_contains(col, lit)` never reaches `pushFilters` — yet the format
  * stores each array's ELEMENT leaf as its own page stream with zone-map
  * stats (per-leaf independence the reference also has:
  * `/root/reference/src/read/reader.rs:50-146`). This rule runs in the
  * user-optimizer batch (after V2ScanRelationPushDown has produced the scan
  * relation), finds `array_contains` conjuncts in the residual Filter
  * directly above a graft scan, compiles them into element-leaf page
  * predicates, and grafts them onto the scan. The Filter stays in place —
  * pruning is advisory and sound, row-level semantics never depend on it.
  */
object GraftElementPushdown extends Rule[LogicalPlan] {

  /** Element types whose catalyst literal form the zone-map domain
    * converters understand directly (date/timestamp/decimal literals use
    * internal encodings the converters don't expect — skipped).
    */
  private def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         StringType | BinaryType => true
    case _ => false
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, rel: DataSourceV2ScanRelation)
        if rel.scan.isInstanceOf[GraftScan] &&
          !rel.scan.asInstanceOf[GraftScan].hasElementPreds =>
      val scan = rel.scan.asInstanceOf[GraftScan]
      def scanAttr(e: Expression): Option[AttributeReference] = e match {
        case a: AttributeReference if rel.output.exists(_.exprId == a.exprId) => Some(a)
        case _ => None
      }
      // an array attribute this scan outputs, reached through an element
      // accessor: element_at(arr, i) / arr[i]. ANSI gate: with failOnError
      // (ANSI default) these THROW on an out-of-bounds index, and rows in a
      // pruned page group are never evaluated — whether a query errors must
      // not depend on page layout, so a throwing accessor never pushes
      // (try_element_at / non-ANSI sessions keep the pruning).
      def arrayAttrOf(e: Expression): Option[AttributeReference] = (e match {
        case ea: ElementAt if !ea.failOnError => Some(ea.left)
        case gi: GetArrayItem if !gi.failOnError => Some(gi.child)
        case _ => None
      }).flatMap(scanAttr).filter(_.dataType.isInstanceOf[ArrayType])
      // a map attribute reached through a LITERAL key lookup: element_at(m,
      // k) / m[k]. Returns (attr, key literal). Same ANSI gate for
      // element_at (missing-key error); GetMapValue (the m[k] sugar) is
      // null-safe in every mode since SPARK-40066 and always pushes.
      def mapAttrOf(e: Expression): Option[(AttributeReference, Any, DataType)] = (e match {
        case ea: ElementAt if !ea.failOnError => Some((ea.left, ea.right))
        case gm: GetMapValue => Some((gm.child, gm.key))
        case _ => None
      }).flatMap {
        case (m, Literal(k, kdt)) if k != null && supported(kdt) =>
          scanAttr(m).filter(_.dataType.isInstanceOf[MapType]).map((_, k, kdt))
        case _ => None
      }
      // catalyst string literals are UTF8String; the domain converters take
      // the java form
      def javaForm(v: Any): Any = v match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => other
      }
      def accessorPreds(acc: Expression, v: Any, dt: DataType): Seq[ZoneMapFilter.PagePred] =
        arrayAttrOf(acc).toSeq.flatMap(a =>
          ZoneMapFilter.elementEquals(a.name, dt, javaForm(v))) ++
          mapAttrOf(acc).toSeq.flatMap { case (m, k, kdt) =>
            ZoneMapFilter.pathEquals(m.name + ".key", kdt, javaForm(k)).toSeq ++
              ZoneMapFilter.pathEquals(m.name + ".value", dt, javaForm(v)).toSeq
          }
      // IN-set form of the same existence bound: a row matches only if the
      // array (or the map value under key k) holds ONE OF the probe values
      // somewhere, so pages excluding every value skip. Null probes can
      // never select a row (x IN (null, ...) is null unless a non-null
      // probe matches) and are dropped before the bound.
      def accessorInPreds(acc: Expression, values: Seq[Any], dt: DataType): Seq[ZoneMapFilter.PagePred] = {
        val nonNull = values.filter(_ != null).map(javaForm)
        if (nonNull.isEmpty) return Nil
        arrayAttrOf(acc).toSeq.flatMap(a =>
          ZoneMapFilter.elementIn(a.name, dt, nonNull)) ++
          mapAttrOf(acc).toSeq.flatMap { case (m, k, kdt) =>
            val kp = ZoneMapFilter.pathEquals(m.name + ".key", kdt, javaForm(k))
            val vp = ZoneMapFilter.pathIn(m.name + ".value", dt, nonNull)
            if (kp.isEmpty || vp.isEmpty) Nil else Seq(kp.get, vp.get)
          }
      }

      val preds = splitConjuncts(cond).flatMap {
        case ArrayContains(a: AttributeReference, Literal(v, dt))
            if v != null && supported(dt) && rel.output.exists(_.exprId == a.exprId) =>
          ZoneMapFilter.elementEquals(a.name, dt, javaForm(v))
        // element_at(arr, i) = v  can only hold on a row whose array holds v
        // SOMEWHERE, so the existence bound prunes it too (null literals
        // match nothing; a null element_at never equals v). For maps,
        // element_at(m, k) = v needs k present AND mapped to v: pages whose
        // KEY leaf excludes k, or whose VALUE leaf excludes v, both skip.
        // Throwing (failOnError) accessors are rejected inside
        // arrayAttrOf/mapAttrOf — see the ANSI gate note there.
        case EqualTo(acc, Literal(v, dt)) if v != null && supported(dt) =>
          accessorPreds(acc, v, dt)
        case EqualTo(Literal(v, dt), acc) if v != null && supported(dt) =>
          accessorPreds(acc, v, dt)
        // IN-list probes — both the literal-list form and the optimizer's
        // hashed InSet form (large lists)
        case org.apache.spark.sql.catalyst.expressions.In(acc, list)
            if list.nonEmpty && list.forall(_.isInstanceOf[Literal]) &&
              supported(list.head.dataType) =>
          accessorInPreds(acc, list.map(_.asInstanceOf[Literal].value),
            list.head.dataType)
        case org.apache.spark.sql.catalyst.expressions.InSet(acc, hset)
            if hset.nonEmpty && supported(acc.dataType) =>
          accessorInPreds(acc, hset.toSeq, acc.dataType)
        case _ => Nil
      }
      if (preds.isEmpty) f
      else f.copy(child = rel.copy(scan = scan.withElementPreds(preds.toArray)))
  }
}

/** Session wiring for graft's extra Catalyst rules. `ensure` is idempotent
  * and cheap; `GraftDataSource.getTable` calls it, so every graft read gets
  * the rules without configuring `spark.sql.extensions` up front. Table
  * functions never reach `getTable` and call it themselves.
  */
object GraftExtensions {
  def ensure(s: SparkSession): Unit = synchronized {
    // every graft read lands here: once a session is wired, skip
    // re-registering its functions (each re-registration also logs a
    // replacement warning)
    if (wired(s)) return
    if (!s.experimental.extraOptimizations.contains(GraftElementPushdown))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ GraftElementPushdown
    if (!s.experimental.extraOptimizations.contains(GraftUpdateRewrite))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ GraftUpdateRewrite
    if (!s.experimental.extraOptimizations.contains(GraftMergeRewrite))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ GraftMergeRewrite
    if (!s.experimental.extraStrategies.contains(GraftMaintenanceStrategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ GraftMaintenanceStrategy
    registerSqlFunctions(s)
  }

  private def wired(s: SparkSession): Boolean =
    Seq(GraftElementPushdown, GraftUpdateRewrite, GraftMergeRewrite)
      .forall(s.experimental.extraOptimizations.contains) &&
      s.experimental.extraStrategies.contains(GraftMaintenanceStrategy) &&
      // registerTableFunctions registers graft_dv last
      s.sessionState.tableFunctionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dv"))

  /** Literal-int second argument of a SQL multimodal function (factor /
    * stride) — must be resolvable at registration time, not per row. */
  private def litInt(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: second argument must be an INT literal, got $other")
  }

  /** SQL names for the native multimodal expressions, so the pure-SQL
    * surface has the same pipeline: graft_ppm_decode(payload),
    * graft_ppm_resample(payload, factor), graft_ppm_framesample(payload,
    * stride). Idempotent (re-registration overwrites with an identical
    * builder).
    */
  private def registerSqlFunctions(s: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    val reg = s.sessionState.functionRegistry
    def register(name: String, arity: Int, build: Seq[Expression] => Expression): Unit =
      reg.registerFunction(FunctionIdentifier(name),
        new ExpressionInfo("graft.spark.Multimodal", name),
        exprs => {
          require(exprs.length == arity, s"$name takes $arity arguments")
          build(exprs)
        })
    register("graft_ppm_decode", 1, es => PpmDecode(es.head))
    register("graft_ppm_resample", 2,
      es => PpmResample(es.head, litInt(es(1), "graft_ppm_resample")))
    register("graft_ppm_framesample", 2,
      es => PpmFrameSample(es.head, litInt(es(1), "graft_ppm_framesample")))
    register("graft_wav_decode", 1, es => WavDecode(es.head))
    register("graft_ppm_dhash", 1, es => PpmDHash(es.head))
    register("graft_ppm_frame_dhashes", 1, es => PpmFrameDHashes(es.head))
    register("graft_wav_fingerprint", 1, es => WavFingerprint(es.head))
    // native integer vector kernels (VecOps) — the embedding-pipeline hot
    // path, exposed to pure-SQL users as well
    register("graft_long_dot", 2, es => LongDot(es.head, es(1)))
    register("graft_long_norm_sq", 1, es => LongSelfDot(es.head))
    register("graft_long_l2", 2, es => LongL2(es.head, es(1)))
    registerTableFunctions(s)
  }

  /** SQL TABLE functions. `graft_changes(path, since, asof)` exposes the
    * change-data feed to pure-SQL consumers:
    * `SELECT * FROM graft_changes('/tbl', 0, 9223372036854775807L)` — the
    * same windowed insert/delete/change_preimage event stream
    * [[GraftCdc.changes]] builds, expanded at analysis time into the
    * ordinary windowed scans (all pruning/pushdown applies; the arguments
    * must be literals because the window shapes the PLAN, not a per-row
    * value).
    */
  private def registerTableFunctions(s: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    def litStr(e: Expression, fn: String): String = e match {
      case Literal(v, StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument must be a STRING literal, got $other")
    }
    // the analyzer runs this builder BEFORE constant folding, so a SQL
    // `-5` arrives as UnaryMinus(5) and `9e18` as a Double literal —
    // accept the shapes users actually type, not just pre-folded longs
    def litLong(e: Expression, fn: String): Long = e match {
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v.toLong
      case Literal(v: Long, org.apache.spark.sql.types.LongType) => v
      case Literal(v: Double, org.apache.spark.sql.types.DoubleType)
          if v.isWhole && v >= Long.MinValue.toDouble && v <= Long.MaxValue.toDouble =>
        v.toLong
      case org.apache.spark.sql.catalyst.expressions.UnaryMinus(inner, _) =>
        -litLong(inner, fn)
      case other => throw new IllegalArgumentException(
        s"$fn: argument must be an integral literal, got $other")
    }
    s.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_changes"),
      new ExpressionInfo("graft.spark.GraftCdc", "graft_changes"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          "graft_changes takes (path STRING, sinceMillis LONG, asofMillis LONG)")
        // resolve against the INVOKING session, not the one that
        // registered the builder: newSession()/Thrift clones copy the
        // registry, and planning through a stale captured session would
        // silently use its hadoop conf (or fail once it is stopped)
        val invoking = SparkSession.getActiveSession.getOrElse(s)
        GraftCdc.changes(invoking, litStr(exprs.head, "graft_changes"),
            litLong(exprs(1), "graft_changes"), litLong(exprs(2), "graft_changes"))
          .queryExecution.logical
      })
    // graft_pages(path): per-(file, leaf, page) physical layout — the
    // GraftStat introspection surfaced to SQL (reads leaf bytes to parse
    // codec trees; an ops/debugging tool, priced like the library call)
    s.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_pages"),
      new ExpressionInfo("graft.spark.GraftIntrospect", "graft_pages"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_pages takes (path STRING)")
        val invoking = SparkSession.getActiveSession.getOrElse(s)
        GraftIntrospect.pages(invoking, litStr(exprs.head, "graft_pages"))
          .queryExecution.logical
      })
    // graft_ndv(path, col, ...): footer-synopsis distinct counts (GraftNdv
    // as SQL) — O(files) tail reads, zero data pages
    s.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ndv"),
      new ExpressionInfo("graft.spark.GraftIntrospect", "graft_ndv"),
      (exprs: Seq[Expression]) => {
        require(exprs.length >= 2,
          "graft_ndv takes (path STRING, col STRING, ...)")
        val invoking = SparkSession.getActiveSession.getOrElse(s)
        GraftIntrospect.ndv(invoking, litStr(exprs.head, "graft_ndv"),
            exprs.tail.map(litStr(_, "graft_ndv")))
          .queryExecution.logical
      })
    // graft_partitions(path): per-partition files/bytes/rows/dv_masked —
    // the which-partition-needs-compaction report, O(files) footer reads
    s.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_partitions"),
      new ExpressionInfo("graft.spark.GraftIntrospect", "graft_partitions"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_partitions takes (path STRING)")
        val invoking = SparkSession.getActiveSession.getOrElse(s)
        GraftIntrospect.partitions(invoking,
            litStr(exprs.head, "graft_partitions"))
          .queryExecution.logical
      })
    // graft_history(path): the commit history (DESCRIBE HISTORY analog)
    // — version-log driven, so ordinals match VERSION AS OF exactly
    s.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_history"),
      new ExpressionInfo("graft.spark.GraftIntrospect", "graft_history"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_history takes (path STRING)")
        val invoking = SparkSession.getActiveSession.getOrElse(s)
        GraftIntrospect.history(invoking, litStr(exprs.head, "graft_history"))
          .queryExecution.logical
      })
    // CALL-style lifecycle ops (the OPTIMIZE/VACUUM audience): each
    // expands to a GraftMaintenanceCall leaf whose side effect runs at
    // EXECUTION time (see GraftMaintSql) and returns (op, metric, value)
    // stat rows — a pure-SQL user can now run the whole lifecycle.
    def registerCall(name: String, op: String,
        build: Seq[Expression] => (Seq[String], Seq[Long]),
        usage: String): Unit =
      s.sessionState.tableFunctionRegistry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo("graft.spark.GraftMaintenanceCall", name),
        (exprs: Seq[Expression]) => {
          val (strs, longs) =
            try build(exprs)
            catch { case e: MatchError =>
              throw new IllegalArgumentException(s"$name takes $usage", e) }
          GraftMaintenanceCall(op, litStr(exprs.head, name), strs, longs)
        })
    registerCall("graft_compact", "compact",
      { case Seq(_, n) => (Nil, Seq(litLong(n, "graft_compact"))) },
      "(path STRING, targetFiles LONG)")
    registerCall("graft_zorder", "zorder",
      { case Seq(_, cols, n) =>
        (litStr(cols, "graft_zorder").split(",").map(_.trim).toSeq,
          Seq(litLong(n, "graft_zorder"))) },
      "(path STRING, colsCsv STRING, targetFiles LONG)")
    registerCall("graft_vacuum", "vacuum",
      { case Seq(_, cutoff) => (Nil, Seq(litLong(cutoff, "graft_vacuum"))) },
      "(path STRING, olderThanMs LONG)")
    registerCall("graft_expire_manifests", "expire_manifests",
      { case Seq(_, cutoff) =>
        (Nil, Seq(litLong(cutoff, "graft_expire_manifests"))) },
      "(path STRING, olderThanMs LONG)")
    registerCall("graft_restore", "restore",
      { case Seq(_, v) => (Nil, Seq(litLong(v, "graft_restore"))) },
      "(path STRING, version LONG)")
    registerCall("graft_restore_ts", "restore_ts",
      { case Seq(_, t) => (Nil, Seq(litLong(t, "graft_restore_ts"))) },
      "(path STRING, asofMillis LONG)")
    // backfill DECLARED per-page stats (TBLPROPERTIES graft.bloomfilter /
    // graft.ndvsketch) onto files that predate the declaration: footers
    // decide membership, only stat-less files rewrite (O(missing files))
    registerCall("graft_analyze", "analyze",
      { case Seq(_) => (Nil, Nil) },
      "(path STRING)")
    registerCall("graft_compact_partition", "compact_partition",
      { case Seq(_, spec, n) =>
        (Seq(litStr(spec, "graft_compact_partition")),
          Seq(litLong(n, "graft_compact_partition"))) },
      "(path STRING, partitionSpecCsv STRING, targetFiles LONG)")
    registerCall("graft_vacuum_staged", "vacuum_staged",
      { case Seq(_, cutoff) =>
        (Nil, Seq(litLong(cutoff, "graft_vacuum_staged"))) },
      "(warehousePath STRING, olderThanMs LONG)")
    // the CDC CONSUMER loop as SQL (graft_changes is the producer half):
    // sync a keyed derived table from a source's change window — the
    // whole subscribe-to-takedowns pipeline now runs without a library
    // call, idempotent per (source, window, target) exactly like the
    // library form
    registerCall("graft_apply_changes", "apply_changes",
      { case Seq(_, since, asof, tgt, key) =>
        (Seq(litStr(tgt, "graft_apply_changes"),
          litStr(key, "graft_apply_changes")),
          Seq(litLong(since, "graft_apply_changes"),
            litLong(asof, "graft_apply_changes"))) },
      "(srcPath STRING, sinceMillis LONG, asofMillis LONG, " +
        "targetPath STRING, keyCol STRING)")
    // graft_dv(path): deletion-vector sidecar introspection — one row per
    // generation (ident, gen, publish time, posture, cardinality, current)
    s.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_dv"),
      new ExpressionInfo("graft.spark.GraftIntrospect", "graft_dv"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_dv takes (path STRING)")
        val invoking = SparkSession.getActiveSession.getOrElse(s)
        GraftIntrospect.dv(invoking, litStr(exprs.head, "graft_dv"))
          .queryExecution.logical
      })
  }
}
