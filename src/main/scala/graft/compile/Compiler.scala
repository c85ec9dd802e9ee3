package graft.compile

import graft.model._
import graft.query._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** CubeQuery → one declarative DataFrame plan:
  *
  *   source (cheapest covering table) → broadcast star joins (only those
  *   the query references) → filter(preds) → groupBy(slices).agg(measures,
  *   incl. FILTER-style conditional metrics) → ordered options fold
  *   (sort / limitBy-window / offset / limit).
  *
  * Everything downstream (predicate pushdown to parquet, column pruning,
  * broadcast vs shuffle join choice, partial/final agg split, AQE) is left
  * to Catalyst — the reference delegated exactly the same set to
  * activecube + ClickHouse (SURVEY §4).
  */
object Compiler {

  /** The cube's registries as seen through the chosen source (overrides
    * for rollup tables fall back to the cube's own definitions). */
  private final case class Resolved(
      base: DataFrame,
      dim: String => Dimension,
      met: String => Metric,
      sel: String => Selector)

  def compile(q: CubeQuery): DataFrame = {
    val cube = q.cube

    // ---- statsOnly: metadata-served aggregates -----------------------
    // Handled BEFORE asOf on purpose: compileStatsOnly turns an AsOf
    // option into the stats serve's version pin itself, where the
    // stripped-AsOf recursion would serve the current epoch.
    if (q.options.contains(QueryOpt.StatsOnly))
      return compileStatsOnly(q)

    // ---- manifest fact binding: time travel + driver file skipping --
    // ONE rebind before source selection. asOf pins the scan to a
    // snapshot (rollup alt-sources materialize CURRENT data, so they
    // are disabled for a pinned epoch); independently, the WHERE's
    // predicate tree (ranges incl. day-BETWEEN strings, OR, IN)
    // prunes the fact's FILES at the driver through the ANALYZE
    // sidecars (readPrunedWhereOpt) — pruning only ever drops
    // files whose envelope cannot match, and the WHERE still applies
    // in full, so the rebind is invisible except in files opened.
    // manifestTable's contract makes this sound: fact ≡
    // Manifest.read(manifestTable) (the asOf path has always rebound
    // on that assumption). The recursion drops manifestTable so the
    // block runs once.
    val asOfOpt = q.options.collectFirst { case a: QueryOpt.AsOf => a }
    if (asOfOpt.nonEmpty && cube.manifestTable.isEmpty)
      throw new CubeQueryException(
        s"cube '${cube.name}': option 'asOf' needs a manifested source " +
          "(this cube reads a plain table with no snapshot history)")
    cube.manifestTable match {
      case Some(tbl) if asOfOpt.nonEmpty || q.wheres.nonEmpty =>
        import graft.sources.Manifest
        val spark = cube.fact.sparkSession
        val pinned: Option[Long] = asOfOpt.flatMap { a =>
          (a.version, a.tsMillis, a.tag) match {
            case (Some(v), _, _) => Some(v)
            case (_, Some(ts), _) => Some(Manifest.versionAt(spark, tbl, ts))
            case (_, _, Some(t)) => Some(Manifest.tagVersion(spark, tbl, t))
            case _ => None // AsOf with no ref: current snapshot
          }
        }
        // best-effort bounds: a selector only an alt-source defines (or
        // any other resolution failure) just means no pruning — the
        // main flow still validates the query for real
        val pred =
          try q.wheres.flatMap(p => compilePred(cube.selector _, p))
            .reduceOption(_ && _)
          catch { case _: CubeQueryException => None }
        // provenance gate: bounds may prune fact FILES only on columns
        // that are provably the fact's own — in the fact schema, and
        // never referenced through a RESOLVED attribute of another
        // frame (a selector built from a joined dim whose bare name
        // collides with a fact column would otherwise prune fact
        // files against the wrong column's envelopes — silent row
        // loss). Unresolved bare names that collide fail analysis as
        // ambiguous anyway; resolved foreign attributes are the
        // silent case this closes.
        val factIds = org.apache.spark.sql.GraftBridge.analyzed(cube.fact)
          .output.map(_.exprId).toSet
        val foreignNames: Set[String] = pred.toSeq.flatMap { p =>
          import org.apache.spark.sql.catalyst.expressions.AttributeReference
          org.apache.spark.sql.GraftBridge.convertedExpression(p).collect {
            case a: AttributeReference if !factIds.contains(a.exprId) => a.name
          }
        }.toSet
        val factCols = cube.fact.schema.fieldNames.toSet
        def prunable(c: String) = factCols.contains(c) && !foreignNames.contains(c)
        // predicate-TREE admission (readPrunedWhereOpt): conjunctive
        // ranges, OR-of-disjuncts, IN lists — each leaf provenance-
        // gated by `prunable`, so a disjunct on a joined column
        // admits rather than pruning against the wrong envelopes.
        // None ⇒ the decision keeps every file (or can't apply): the
        // fact stays untouched and rollup alt-source routing stays
        // available.
        val fact: Option[DataFrame] =
          pred.flatMap(p =>
            Manifest.readPrunedWhereOpt(spark, tbl, p, pinned, prunable))
          .orElse(pinned match {
            case Some(v) => Some(Manifest.readVersion(spark, tbl, v))
            case None if asOfOpt.nonEmpty => Some(Manifest.read(spark, tbl))
            case None => None // no asOf, nothing pruned: untouched
          })
        fact match {
          case Some(f) =>
            return compile(q.copy(
              cube = cube.copy(fact = f,
                altSources =
                  if (asOfOpt.nonEmpty) Nil else cube.altSources,
                manifestTable = None),
              options = q.options.filterNot(_.isInstanceOf[QueryOpt.AsOf])))
          case None => ()
        }
      case _ => ()
    }

    // ---- multi-fact merge: metrics split across sources -------------
    compileMerged(q) match {
      case Some(df) => return foldOptions(df, q.options, q.slices.map(_._1).toSet)
      case None => ()
    }

    // ---- source selection (activecube's optimal-table choice) -------
    val r = chooseSource(q)

    // ---- resolve which registries the query touches -----------------
    val sliceDims = q.slices.map { case (_, ref) => r.dim(ref.dim) }
    val metricRefs = q.measures.map { case (_, m) => r.met(m.metric) }
    val selectorNames = (q.wheres ++ q.measures.flatMap(_._2.filter)).flatMap(collectSelectors)
    val selectors = selectorNames.map(r.sel)

    // ---- star joins: only those reachable from referenced members ---
    val needed = (sliceDims.flatMap(_.requires) ++ metricRefs.flatMap(_.requires) ++
      selectors.flatMap(_.requires)).toSet
    val joined = applyJoins(cube, r.base, needed)

    // ---- WHERE ------------------------------------------------------
    val filtered = q.wheres.flatMap(p => compilePred(r.sel, p))
      .reduceOption(_ && _).map(joined.filter).getOrElse(joined)

    // ---- exploding dimensions (ClickHouse arrayJoin, O: one row per
    // array element). The explode happens AFTER the WHERE (row-level
    // predicates see the original rows) and BEFORE aggregation, so
    // metrics count elements — arrayJoin semantics.
    val explodingSlices = q.slices.filter { case (_, ref) => r.dim(ref.dim).explode }
    if (explodingSlices.size > 1)
      throw new CubeQueryException(
        s"at most one exploding dimension per query (got: ${explodingSlices.map(_._1).mkString(",")})")
    if (explodingSlices.nonEmpty && q.grouping != GroupingMode.Flat)
      throw new CubeQueryException("exploding dimensions require flat grouping")
    val sliceInput = explodingSlices.foldLeft(filtered) { case (df, (key, ref)) =>
      checkKey(key)
      df.withColumn(s"__ex_$key", F.explode(r.dim(ref.dim).resolve(ref.path)))
    }

    // ---- slices + measures ------------------------------------------
    val sliceCols: Seq[Column] = q.slices.map { case (key, ref) =>
      checkKey(key)
      val dim = r.dim(ref.dim)
      if (dim.explode) F.col(s"__ex_$key").as(key)
      else dim.resolve(ref.path).as(key)
    }
    // measures split into expression-backed (one agg Column each) and
    // plan-backed (compiled as their own per-group plan, joined back on
    // the slice keys — e.g. EXACT top-K's two-phase count+window shape)
    val boundMeasures = q.measures.map { case (key, m) =>
      checkKey(key)
      (key, m, boundMetric(r, m))
    }
    val (planMeasures, aggMeasures) = boundMeasures.partition(_._3.planBuild.isDefined)
    val aggCols: Seq[Column] = aggMeasures.map { case (key, m, met) =>
      val pred = m.filter.flatMap(p => compilePred(r.sel, p))
      met.build(pred).as(key)
    }
    if (planMeasures.nonEmpty && q.grouping != GroupingMode.Flat)
      throw new CubeQueryException(
        s"plan-backed metric '${planMeasures.head._1}' requires flat grouping " +
          "(rollup/cube/groupingSets compute grouped supersets one agg pass can't join)")
    if (planMeasures.nonEmpty && explodingSlices.nonEmpty)
      throw new CubeQueryException(
        "plan-backed metrics cannot combine with an exploding dimension")

    val shaped: DataFrame =
      if (aggCols.nonEmpty && sliceCols.nonEmpty) q.grouping match {
        case GroupingMode.Flat =>
          sliceInput.groupBy(sliceCols: _*).agg(aggCols.head, aggCols.tail: _*)
        case GroupingMode.Rollup =>
          filtered.rollup(sliceCols: _*).agg(aggCols.head, aggCols.tail: _*)
        case GroupingMode.CubeSets =>
          filtered.cube(sliceCols: _*).agg(aggCols.head, aggCols.tail: _*)
        case GroupingMode.Sets(sets) =>
          // groupingSets matches set members against the grouping columns
          // by expression equality, and neither aliased nor re-derived
          // expressions match — only plain attribute references do. So
          // materialize each slice key as a column first and group on the
          // bare references in both lists. The keys are materialized
          // under reserved __gs_ names, NOT the user aliases: withColumn
          // on the pre-aggregation frame would otherwise overwrite a
          // fact column a metric still reads (slice alias "l_quantity"
          // silently corrupting sum(l_quantity)).
          val keys = q.slices.map(_._1)
          sets.flatten.find(!keys.contains(_)).foreach(k =>
            throw new CubeQueryException(
              s"groupingSets key '$k' is not a slice (have: ${keys.mkString(",")})"))
          keys.find(_.startsWith("__gs_")).foreach(k =>
            throw new CubeQueryException(s"slice key '$k' uses the reserved __gs_ prefix"))
          def tag(k: String) = s"__gs_$k"
          val withKeys = q.slices.foldLeft(filtered) { case (df, (key, ref)) =>
            df.withColumn(tag(key), r.dim(ref.dim).resolve(ref.path))
          }
          withKeys.groupingSets(
              sets.map(_.map(k => F.col(tag(k)))), keys.map(k => F.col(tag(k))): _*)
            .agg(aggCols.head, aggCols.tail: _*)
            .withColumnsRenamed(keys.map(k => tag(k) -> k).toMap)
      }
      else if (aggCols.nonEmpty)
        filtered.agg(aggCols.head, aggCols.tail: _*)
      else if (sliceCols.nonEmpty)
        sliceInput.select(sliceCols: _*).distinct()
      else if (planMeasures.nonEmpty)
        // no slices, no agg exprs: a one-row zero-column anchor for the
        // plan-backed cross joins (a global query always yields one row)
        filtered.agg(F.count(F.lit(1)).as("__pb_anchor")).select()
      else filtered

    // ---- plan-backed measures: compile + join back ------------------
    val sliceKeyPairs = q.slices.map { case (key, ref) =>
      key -> r.dim(ref.dim).resolve(ref.path)
    }
    val withPlan = planMeasures.foldLeft(shaped) { case (df, (key, m, met)) =>
      val pred = m.filter.flatMap(p => compilePred(r.sel, p))
      val pr = met.planBuild.get(filtered, sliceKeyPairs, pred)
        .withColumnRenamed("__pb_value", key)
      if (sliceKeyPairs.isEmpty) df.crossJoin(pr)
      else {
        // null-safe equality: a NULL slice value is a real group and
        // must still find its plan-backed row
        val cond = q.slices.map(_._1).map(k => df(k) <=> pr(k)).reduce(_ && _)
        q.slices.map(_._1).foldLeft(df.join(pr, cond, "left")) {
          (d, k) => d.drop(pr(k))
        }
      }
    }
    // restore the declared output-column order after the joins
    val ordered =
      if (planMeasures.isEmpty) withPlan
      else withPlan.select(
        (q.slices.map(_._1) ++ q.measures.map(_._1)).map(F.col): _*)

    // ---- ordered options fold (O16: application order is semantic) --
    foldOptions(ordered, q.options, q.slices.map(_._1).toSet)
  }

  /** Resolve a measure's metric and bind its named args (parse_tree.rb:
    * 111-135 apply_args — non-selector metric arguments dispatch onto the
    * metric object; unknown args raise at compile time). */
  private def boundMetric(r: Resolved, m: MeasureRef): Metric =
    m.args.foldLeft(r.met(m.metric)) { case (met, (k, v)) => met.applyArg(k, v) }

  /** The `statsOnly` route: count/min/max/sum served from the
    * manifested fact's ANALYZE sidecars at the driver — zero data-file
    * opens on a covered snapshot, a LocalRelation plan instead of a
    * scan. One call to [[graft.sources.Manifest.statsAggregateGrouped]]
    * serves every shape: flat, filtered, and sliced. SLICES serve when
    * every slice is a bare fact column of numeric-or-string type — the
    * GROUP BY folds from per-file scalars where each file's key
    * envelope is a point ("rows per day this quarter" on a
    * day-laid-out table is one sidecar read). An
    * EXPLICIT opt-in, so every unservable shape refuses loudly
    * (V4-style) instead of silently degrading: sub-field chains,
    * expression-valued or joined dimensions,
    * non-exactly-servable filters (a WHERE serves only when it is
    * EXACTLY a conjunction of inclusive numeric ranges — then
    * fully-covered files serve from their scalars and only boundary
    * files scan),
    * non-flat grouping, metric-level filters, plan-backed
    * or expression-valued metrics (recognition is
    * [[org.apache.spark.sql.GraftBridge.statsServableAgg]]'s strict
    * count/min/max/sum-of-a-bare-attribute match), joined columns, and
    * non-numeric or decimal columns (the sidecar's double scalars are
    * exact below 2⁵³ — decimals would silently lose precision), and
    * integral sums or min/max past 2⁵³
    * ([[graft.sources.Manifest.statsInexact]]).
    * Sum/min/max re-cast to the type the normal plan would produce, so
    * a statsOnly result is indistinguishable from the scan's.
    *
    * COMPOSES with asOf: data files are immutable, so any retained
    * sidecar's rows filtered to the pinned snapshot's file list
    * describe that snapshot exactly — "how big was release
    * corpus-v1.0" stays a metadata read years later (the serve's
    * `version` pin). */
  private def compileStatsOnly(q: CubeQuery): DataFrame = {
    import graft.sources.Manifest
    import org.apache.spark.sql.types._
    val cube = q.cube
    def refuse(msg: String): Nothing = throw new CubeQueryException(
      s"cube '${cube.name}': statsOnly $msg")
    val tbl = cube.manifestTable.getOrElse(refuse(
      "needs a manifested source (no snapshot stats to serve from)"))
    val spark = cube.fact.sparkSession
    val pinned: Option[Long] =
      q.options.collectFirst { case a: QueryOpt.AsOf => a }.map { a =>
        (a.version, a.tsMillis, a.tag) match {
          case (Some(v), _, _) => v
          case (_, Some(ts), _) => Manifest.versionAt(spark, tbl, ts)
          case (_, _, Some(t)) => Manifest.tagVersion(spark, tbl, t)
          case _ => refuse("asOf carries no version, timestamp, or tag")
        }
      }
    if (q.grouping != GroupingMode.Flat) refuse("requires flat grouping")
    if (q.measures.isEmpty) refuse("needs at least one measure")
    val factSchema = cube.fact.schema
    // GROUPED statsOnly: every slice must be a BARE fact column (no
    // sub-field chain, no join dependency, no explode) of a
    // non-decimal numeric or string type — the file-constant key
    // shapes Manifest.statsAggregateGrouped can prove from the
    // envelope sidecars. Anything else refuses loudly: an explicit
    // statsOnly must never silently approximate.
    val groupKeys: Seq[(String, String)] = q.slices.map { case (key, ref) =>
      checkKey(key)
      if (ref.path.nonEmpty) refuse(
        s"slice '$key' chains sub-fields — file stats serve bare " +
          "fact columns only")
      val dim = cube.dimensions.getOrElse(ref.dim, refuse(
        s"slice '$key' references unknown dimension '${ref.dim}'"))
      if (dim.explode) refuse(s"slice '$key' explodes an array dimension")
      if (dim.requires.nonEmpty) refuse(
        s"slice '$key' needs a join — joined columns are not in file stats")
      // bare attribute only, with the front-door provenance gate: a
      // RESOLVED attribute must be the fact's own, not a foreign
      // frame's column whose bare name collides
      val c = {
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        import org.apache.spark.sql.catalyst.expressions.AttributeReference
        lazy val factIds = org.apache.spark.sql.GraftBridge
          .analyzed(cube.fact).output.map(_.exprId).toSet
        org.apache.spark.sql.GraftBridge.convertedExpression(dim.col) match {
          case a: UnresolvedAttribute => a.name
          case a: AttributeReference if factIds.contains(a.exprId) => a.name
          case _ => refuse(
            s"slice '$key' is expression-valued or foreign — file stats " +
              "serve bare fact columns only")
        }
      }
      val f = factSchema.fields.find(_.name == c).getOrElse(refuse(
        s"slice '$key' references '$c', which is not a fact column"))
      f.dataType match {
        case _: DecimalType => refuse(
          s"slice '$key': '$c' is ${f.dataType.simpleString} — the " +
            "sidecar's double scalars cannot key groups exactly")
        case _: NumericType | StringType => ()
        case other => refuse(s"slice '$key': file stats key numeric or " +
          s"string columns only, '$c' is ${other.simpleString}")
      }
      (key, c)
    }
    // filters serve ONLY when the WHERE is EXACTLY a conjunction of
    // inclusive numeric ranges on bare fact columns
    // (boundsFromPredComplete) — then fully-covered files serve from
    // their stored scalars and only boundary files scan. Anything the
    // proof can't cover refuses loudly: an explicit statsOnly must
    // never silently approximate.
    val whereBounds: Seq[(String, Double, Double)] =
      if (q.wheres.isEmpty) Nil
      else {
        val pred = q.wheres.flatMap(p => compilePred(cube.selector _, p))
          .reduceOption(_ && _)
        pred match {
          case None => Nil
          case Some(p) =>
            val bs = Manifest.boundsFromPredComplete(p).getOrElse(refuse(
              "can serve filters only when the WHERE is exactly a " +
                "conjunction of >=/<=/=/BETWEEN ranges on bare numeric " +
                "fact columns — run the full query for this filter"))
            bs.foreach { case (c, _, _) =>
              val f = factSchema.fields.find(_.name == c).getOrElse(refuse(
                s"filter column '$c' is not a fact column"))
              if (!f.dataType.isInstanceOf[NumericType] ||
                  f.dataType.isInstanceOf[DecimalType])
                refuse(s"filter column '$c' is ${f.dataType.simpleString} — " +
                  "file stats serve non-decimal numeric ranges only")
            }
            bs
        }
      }
    val forms: Seq[(String, String, Option[String])] =
      q.measures.map { case (key, m) =>
        checkKey(key)
        if (m.filter.nonEmpty)
          refuse(s"measure '$key' has a filter — file stats cannot apply predicates")
        val met = m.args.foldLeft(cube.metric(m.metric)) {
          case (mm, (k, v)) => mm.applyArg(k, v) }
        if (met.planBuild.isDefined)
          refuse(s"measure '$key' ('${m.metric}') is plan-backed")
        val (form, c) = org.apache.spark.sql.GraftBridge
          .statsServableAgg(met.build(None)).getOrElse(refuse(
            s"measure '$key' ('${m.metric}') is not a servable " +
              "count/min/max/sum of a bare fact column"))
        c.foreach { cn =>
          val f = factSchema.fields.find(_.name == cn).getOrElse(refuse(
            s"measure '$key' references '$cn', which is not a fact " +
              "column (joined columns are not in file stats)"))
          if (!f.dataType.isInstanceOf[NumericType])
            refuse(s"measure '$key': file stats cover numeric columns, " +
              s"'$cn' is ${f.dataType.simpleString}")
          if (f.dataType.isInstanceOf[DecimalType])
            refuse(s"measure '$key': '$cn' is ${f.dataType.simpleString} — " +
              "the sidecar's double scalars cannot serve decimals exactly")
        }
        (key, form, c)
      }
    val served = Manifest.statsAggregateGrouped(spark, tbl,
      groupKeys.map(_._2), forms.flatMap(_._3).distinct, whereBounds, pinned)
    // integral sums and min/max cast the sidecar's double scalars back
    // below: refuse any that could round (checked per served row — one
    // flat, one per group; a LocalRelation, so the collect re-reads
    // metadata, never the table)
    Manifest.statsInexact(served.collect().toSeq,
        forms.collect { case (_, f, Some(c)) => (f, c) }, factSchema)
      .foreach { case ((f, c), why) =>
        val key = forms.collectFirst { case (k, `f`, Some(`c`)) => k }.get
        refuse(s"measure '$key': $f($c) folds through double file " +
          s"scalars and $why; run the full query for this $f")
      }
    val outCols: Seq[Column] = groupKeys.map { case (key, c) =>
      F.col(c).as(key) } ++ forms.map { case (key, form, cOpt) =>
      (form, cOpt) match {
        case ("cnt", _) => F.col("cnt").as(key)
        case ("nn", Some(c)) => F.col(s"${c}_nn").as(key)
        case ("min" | "max", Some(c)) =>
          F.col(s"${c}_$form").cast(factSchema(c).dataType).as(key)
        case ("sum", Some(c)) => factSchema(c).dataType match {
          case LongType | IntegerType | ShortType | ByteType =>
            F.col(s"${c}_sum").cast(LongType).as(key)
          case _ => F.col(s"${c}_sum").as(key)
        }
        case other => refuse(s"unrecognized form $other") // unreachable
      }
    }
    foldOptions(served.select(outCols: _*),
      q.options.filterNot(o => o == QueryOpt.StatsOnly ||
        o.isInstanceOf[QueryOpt.AsOf]), groupKeys.map(_._1).toSet)
  }

  /** `_aq.`-prefix injection guard analogue (parse_tree.rb:113-114): output
    * keys must be plain identifiers so result addressing is unambiguous. */
  private def checkKey(key: String): Unit =
    if (key.isEmpty || key.contains('`'))
      throw new CubeQueryException(s"illegal result key '$key'") // V5

  // ------------------------------------------------------------------
  // source selection
  // ------------------------------------------------------------------

  /** Pick the cheapest registered source that serves every dimension and
    * metric the query references; fall back to the raw fact. This is the
    * one genuinely interesting optimization activecube performs
    * (optimal-table selection among alternative physical tables, SURVEY §4).
    */
  private def chooseSource(q: CubeQuery): Resolved = {
    val cube = q.cube
    val fromFact = Resolved(cube.fact, cube.dimension, cube.metric, cube.selector)
    if (cube.altSources.isEmpty) return fromFact
    val dims = q.slices.map(_._2.dim).toSet
    val mets = q.measures.map(_._2.metric).toSet
    val sels = (q.wheres ++ q.measures.flatMap(_._2.filter))
      .flatMap(collectSelectors).toSet
    cube.altSources
      .filter(s => dims.subsetOf(s.servesDimensions) &&
        mets.subsetOf(s.servesMetrics) && sels.subsetOf(s.servesDimensions))
      .sortBy(_.cost)
      .headOption
      .map(s => Resolved(
        s.df,
        n => s.dimOverrides.getOrElse(n, cube.dimension(n)),
        n => s.metricOverrides.getOrElse(n, cube.metric(n)),
        n => s.selectorOverrides.getOrElse(n, cube.selector(n))))
      .getOrElse(fromFact)
  }

  /** Multi-fact cube merge (SURVEY §1/§7: "multi-source cube combination
    * … full-outer join on slice keys"): when no single source serves every
    * requested metric but each metric is served by SOME source that also
    * serves all the slices and selectors, compile one aggregate per
    * involved source and full-outer join the partial results on the slice
    * keys (USING-join, so keys coalesce). Each partial is already
    * aggregated — the join carries one row per group, not per fact row.
    * Returns None when the single-source path applies.
    */
  private def compileMerged(q: CubeQuery): Option[DataFrame] = {
    val cube = q.cube
    if (cube.altSources.isEmpty || q.measures.isEmpty) return None
    val dims = q.slices.map(_._2.dim).toSet
    val sels = (q.wheres ++ q.measures.flatMap(_._2.filter))
      .flatMap(collectSelectors).toSet
    val mets = q.measures.map(_._2.metric).toSet
    val covering = cube.altSources.filter(s =>
      dims.subsetOf(s.servesDimensions) && sels.subsetOf(s.servesDimensions))
    // single source handles everything → not a merge
    if (covering.exists(s => mets.subsetOf(s.servesMetrics))) return None
    // assign every measure to the cheapest covering source serving it
    val assigned: Seq[(CubeSource, (String, MeasureRef))] = q.measures.map { m =>
      covering.filter(_.servesMetrics.contains(m._2.metric)).sortBy(_.cost)
        .headOption.map(_ -> m).getOrElse(return None)
    }
    if (q.slices.isEmpty) return None // global merge = cross join; keep single-source
    val bySource = assigned.groupBy(_._1.name)
    if (bySource.size < 2) return None

    val parts = bySource.toSeq.sortBy { case (name, _) =>
      assigned.indexWhere(_._1.name == name) // deterministic, declaration order
    }.map { case (_, group) =>
      val src = group.head._1
      val r = Resolved(
        src.df,
        n => src.dimOverrides.getOrElse(n, cube.dimension(n)),
        n => src.metricOverrides.getOrElse(n, cube.metric(n)),
        n => src.selectorOverrides.getOrElse(n, cube.selector(n)))
      val filtered = q.wheres.flatMap(p => compilePred(r.sel, p))
        .reduceOption(_ && _).map(r.base.filter).getOrElse(r.base)
      val sliceCols = q.slices.map { case (key, ref) =>
        checkKey(key); r.dim(ref.dim).resolve(ref.path).as(key)
      }
      val aggCols = group.map { case (_, (key, m)) =>
        checkKey(key)
        val pred = m.filter.flatMap(p => compilePred(r.sel, p))
        boundMetric(r, m).build(pred).as(key)
      }
      filtered.groupBy(sliceCols: _*).agg(aggCols.head, aggCols.tail: _*)
    }
    val keys = q.slices.map(_._1)
    val merged = parts.reduce((a, b) => a.join(b, keys, "full_outer"))
    // restore declared column order: slices, then measures as requested
    Some(merged.select((keys ++ q.measures.map(_._1)).map(F.col): _*))
  }

  /** Which source would `compile` read? (exposed for tests/explain) */
  def chosenSourceName(q: CubeQuery): String = {
    val cube = q.cube
    if (cube.altSources.isEmpty) return "fact"
    val dims = q.slices.map(_._2.dim).toSet
    val mets = q.measures.map(_._2.metric).toSet
    val sels = (q.wheres ++ q.measures.flatMap(_._2.filter))
      .flatMap(collectSelectors).toSet
    cube.altSources
      .filter(s => dims.subsetOf(s.servesDimensions) &&
        mets.subsetOf(s.servesMetrics) && sels.subsetOf(s.servesDimensions))
      .sortBy(_.cost)
      .headOption.map(_.name).getOrElse("fact")
  }

  // ------------------------------------------------------------------
  // joins
  // ------------------------------------------------------------------

  /** Apply the needed joins plus their transitive `dependsOn` closure, in
    * dependency order, broadcasting dimension tables so the fact side
    * never shuffles (the right move for star schemas at 100 TB: every
    * dim table here is ≤ a few MB per million facts).
    */
  private def applyJoins(cube: Cube, base: DataFrame, needed: Set[String]): DataFrame = {
    // transitive closure
    var all = needed
    var grew = true
    while (grew) {
      val next = all ++ all.flatMap(n => cube.join(n).dependsOn)
      grew = next.size != all.size
      all = next
    }
    // topo order: a join goes after everything it depends on
    val ordered = scala.collection.mutable.ArrayBuffer.empty[JoinSpec]
    var remaining = all.map(cube.join)
    while (remaining.nonEmpty) {
      val (ready, rest) = remaining.partition(j =>
        j.dependsOn.forall(d => ordered.exists(_.name == d)))
      if (ready.isEmpty)
        throw new CubeQueryException(
          s"join dependency cycle among ${remaining.map(_.name).mkString(",")}")
      ordered ++= ready.toSeq.sortBy(_.name)
      remaining = rest
    }
    ordered.foldLeft(base) { (df, j) =>
      val right = if (j.broadcastRight) F.broadcast(j.right) else j.right
      df.join(right, j.cond, j.joinType)
    }
  }

  // ------------------------------------------------------------------
  // predicates
  // ------------------------------------------------------------------

  private def collectSelectors(p: Pred): Seq[String] = p match {
    case Pred.Op(s, _, _) => Seq(s)
    case Pred.And(ps) => ps.flatMap(collectSelectors)
    case Pred.Or(ps) => ps.flatMap(collectSelectors)
  }

  /** Compile a predicate tree to an optional Column. None = fully pruned
    * (reference parse_tree.rb:153,158-160: a non-nullable operator with a
    * nil argument is silently dropped — absent GraphQL variable, not an
    * IS NULL test).
    */
  def compilePred(cube: Cube, p: Pred): Option[Column] =
    compilePred(cube.selector _, p)

  def compilePred(resolve: String => Selector, p: Pred): Option[Column] = p match {
    case Pred.And(ps) =>
      ps.flatMap(compilePred(resolve, _)).reduceOption(_ && _)
    case Pred.Or(ps) =>
      ps.flatMap(compilePred(resolve, _)).reduceOption(_ || _)
    case Pred.Op(sel, op, arg) =>
      val c = resolve(sel).col
      op match {
        case "eq" => Some(arg.map(v => c === lit0(v)).getOrElse(c.isNull))
        case "notEq" => Some(arg.map(v => c =!= lit0(v)).getOrElse(c.isNotNull))
        case "is" => Some(arg.map(v => c === lit0(v)).getOrElse(c.isNull))
        case "not" => Some(arg.map(v => c =!= lit0(v)).getOrElse(c.isNotNull))
        case _ if arg.isEmpty => None // nil-pruning
        case "gt" => arg.map(v => c > lit0(v))
        case "lt" => arg.map(v => c < lit0(v))
        case "gteq" => arg.map(v => c >= lit0(v))
        case "lteq" => arg.map(v => c <= lit0(v))
        case "like" => arg.map(v => c.like(v.toString))
        case "notLike" => arg.map(v => !c.like(v.toString))
        case "in" => arg.map {
          case vs: Seq[_] if vs.isEmpty => F.lit(false)
          case vs: Seq[_] => c.isin(vs: _*)
          case v => c === lit0(v)
        }
        case "notIn" => arg.map {
          case vs: Seq[_] if vs.isEmpty => F.lit(true)
          case vs: Seq[_] => !c.isin(vs: _*)
          case v => c =!= lit0(v)
        }
        case "between" => arg.map {
          case Seq(lo, hi) => c.between(lit0(lo), lit0(hi))
          case other => throw new CubeQueryException(s"between needs [lo, hi], got $other")
        }
        case other =>
          throw new CubeQueryException(s"selector '$sel': unsupported operator '$other'") // V3
      }
  }

  private def lit0(v: Any): Column = v match {
    case c: Column => c
    case other => F.lit(other)
  }

  // ------------------------------------------------------------------
  // ordered options fold
  // ------------------------------------------------------------------

  private final case class SortKey(key: String, descending: Boolean, intCast: Boolean) {
    def toCol: Column = {
      val base = if (intCast) F.col(key).cast(DecimalType(38, 0)) else F.col(key)
      if (descending) base.desc_nulls_last else base.asc_nulls_first
    }
  }

  /** Fold options left in user order, threading the current sort state
    * (limitBy orders within groups by it; re-applied after limitBy because
    * the window exec re-partitions). Any sort is extended with ascending
    * tiebreakers over the remaining output columns so that limit / offset /
    * limitBy are deterministic — at 100 TB a tie at the cut line would
    * otherwise return different rows per run.
    */
  private def foldOptions(df0: DataFrame, opts: Seq[QueryOpt],
      sliceKeys: Set[String] = Set.empty): DataFrame = {
    var df = df0
    var sort: Seq[SortKey] = Nil

    def fullSortCols(exclude: Set[String]): Seq[Column] = {
      val explicit = sort.filterNot(s => exclude.contains(s.key))
      val covered = sort.map(_.key).toSet ++ exclude
      val tiebreak = df.columns.filterNot(covered.contains)
        .filterNot(c => unorderable(df, c))
        .map(c => F.col(c).asc_nulls_first)
      explicit.map(_.toCol) ++ tiebreak
    }

    opts.foreach {
      case QueryOpt.Desc(keys) =>
        sort = keys.map(SortKey(_, descending = true, intCast = false))
        df = df.orderBy(fullSortCols(Set.empty): _*)
      case QueryOpt.Asc(keys) =>
        sort = keys.map(SortKey(_, descending = false, intCast = false))
        df = df.orderBy(fullSortCols(Set.empty): _*)
      case QueryOpt.DescByInteger(keys) =>
        sort = keys.map(SortKey(_, descending = true, intCast = true))
        df = df.orderBy(fullSortCols(Set.empty): _*)
      case QueryOpt.AscByInteger(keys) =>
        sort = keys.map(SortKey(_, descending = false, intCast = true))
        df = df.orderBy(fullSortCols(Set.empty): _*)
      case QueryOpt.Offset(n) =>
        df = df.offset(n)
      case QueryOpt.Limit(n) =>
        df = df.limit(n)
      case QueryOpt.LimitBy(each, n, off) =>
        val w = Window.partitionBy(each.map(F.col): _*)
          .orderBy(fullSortCols(each.toSet): _*)
        val rn = "__graft_rn"
        df = df.withColumn(rn, F.row_number().over(w))
          .filter(F.col(rn) > off && F.col(rn) <= off + n)
          .drop(rn)
        if (sort.nonEmpty) df = df.orderBy(fullSortCols(Set.empty): _*)
      case QueryOpt.Fill(key, step, each, from, to, interp) =>
        import org.apache.spark.sql.types._
        (Seq(key) ++ each ++ interp).foreach(k =>
          if (!df.columns.contains(k))
            throw new CubeQueryException(s"fill: unknown result column '$k'"))
        // step is a validated literal, never free-form SQL (the option
        // string already passed the '_aq.' guard; this narrows further)
        step.foreach(s =>
          if (!s.matches("(?i)\\s*(interval\\s+\\d+\\s+[a-z]+|\\d+)\\s*"))
            throw new CubeQueryException(s"fill: step must be an interval or integer literal, got '$s'"))
        val stepCol = step.map(F.expr).getOrElse(df.schema(key).dataType match {
          case DateType => F.expr("interval 1 day")
          case TimestampType => F.expr("interval 1 hour")
          case ByteType | ShortType | IntegerType | LongType => F.lit(1)
          case other => throw new CubeQueryException(
            s"fill: column '$key' of type $other needs an explicit step")
        })
        // zero-fill METRIC columns only: a numeric slice key (e.g. a
        // second dimension not in `each`) must stay null on manufactured
        // rows — zeroing it would fabricate rows attributed to a real
        // group value
        val zeros = df.columns
          .filterNot(c => c == key || each.contains(c) || sliceKeys.contains(c)
            || interp.contains(c))
          .flatMap { c =>
            df.schema(c).dataType match {
              case n: NumericType => Some(c -> F.lit(0).cast(n))
              case BooleanType => Some(c -> F.lit(false))
              case _ => None // non-numeric columns stay null on filled rows
            }
          }.toMap
        // from/to are VALUES cast to the key's type (never parsed as
        // expressions), so no literal validation is needed beyond the
        // cast itself
        val keyType = df.schema(key).dataType
        df = graft.operators.Fill.fillSeries(df, key, each, stepCol, zeros,
          from = from.map(v => F.lit(v).cast(keyType)),
          to = to.map(v => F.lit(v).cast(keyType)))
        // INTERPOLATE: last observation carried forward along the spine
        // (per `each` group) — manufactured rows inherit the previous
        // real value instead of a zero
        if (interp.nonEmpty) {
          val wI = Window.partitionBy(each.map(F.col): _*)
            .orderBy(F.col(key).asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          df = interp.foldLeft(df) { (d, c) =>
            d.withColumn(c,
              F.coalesce(F.col(c), F.last(F.col(c), ignoreNulls = true).over(wI)))
          }
        }
        if (sort.nonEmpty) df = df.orderBy(fullSortCols(Set.empty): _*)
    }
    df
  }

  /** Map columns can't be sort keys in Spark (arrays/structs can). */
  private def unorderable(df: DataFrame, name: String): Boolean = {
    import org.apache.spark.sql.types._
    df.schema(name).dataType match {
      case _: MapType => true
      case _ => false
    }
  }
}
