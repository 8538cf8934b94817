package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.Map
import scala.collection.mutable

import ExprCompiler._

/** Result of a read query: the sliced frame plus the pre-slice frame whose
  * count is the reference's `unsliced_df_len` pagination protocol
  * (reference: qcache/qframe/__init__.py:47-48, app.py:195). The count is a
  * separate lazy plan — callers pay for it only if they read the header. */
final case class QueryResult(df: DataFrame, preSlice: DataFrame) {
  /** lazy val, not def: a memoized plan (CacheItem.memoizedPlan) serves
    * repeat requests from the same QueryResult — the count job runs once. */
  lazy val unslicedLength: Long = preSlice.count()
}

/** Compiles the JSON query dialect to a lazy DataFrame plan, in the
  * reference's fixed clause order: from → where → group_by → distinct →
  * select → order_by → offset/limit (reference: qcache/qframe/query.py:217-226).
  *
  * Where the reference eagerly interprets each stage against pandas, we
  * *declare* the whole pipeline and let Catalyst push filters into scans,
  * prune columns, and pick join/aggregate strategies — the plan stays lazy
  * until an action runs.
  */
object QueryEngine {

  /** Pandas Series aggregation method → Catalyst aggregate. The effective
    * set is any Series method name; these are the meaningful ones
    * (reference: query.py:50-58, SURVEY.md §2.3). */
  private val AggregateFns: scala.collection.immutable.Map[String, Column => Column] =
    scala.collection.immutable.Map(
      "sum"     -> (c => sum(c)),
      "count"   -> (c => count(c)),
      "min"     -> (c => min(c)),
      "max"     -> (c => max(c)),
      "mean"    -> (c => avg(c)),
      "median"  -> (c => median(c)),
      "std"     -> (c => stddev_samp(c)),
      "var"     -> (c => var_samp(c)),
      "prod"    -> (c => product(c)),
      "nunique" -> (c => count_distinct(c)))

  /** Catalyst analysis errors (type mismatches the dialect validator can't
    * see, e.g. filtering on a null literal) become MalformedQueryException —
    * the client's 400, not a server 500. The Dataset API analyzes eagerly,
    * so these surface here at plan-build time. (The reference mostly 500s
    * on these shapes — an uncaught KeyError/TypeError; a 400 is the
    * deliberate improvement.) */
  def run(table: DataFrame, q: Query): QueryResult =
    run(table, q, XopEngine.NoResolver)

  /** `resolve` lets xop clauses reference OTHER stored datasets by name
    * (decontamination eval sets, exclusion lists, ANN query sets) — the
    * server passes its dataset cache; the bare overloads resolve nothing. */
  def run(table: DataFrame, q: Query,
          resolve: String => Option[DataFrame]): QueryResult =
    try runInternal(table, q, table, resolve)
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        Errors.malformed(s"Invalid type in argument: ${e.getSimpleMessage}")
    }

  def run(table: DataFrame, json: String): QueryResult =
    run(table, json, XopEngine.NoResolver)

  def run(table: DataFrame, json: String,
          resolve: String => Option[DataFrame]): QueryResult = {
    val q = Query.parse(json)
    if (q.isUpdate)
      Errors.malformed("Update query not valid here")
    run(table, q, resolve)
  }

  private def runInternal(table: DataFrame, q: Query, root: DataFrame,
                          resolve: String => Option[DataFrame]): QueryResult = {
    // from: evaluate the nested query first; in-subqueries keep resolving
    // against the ROOT dataset (reference: query.py:217-218, context.py).
    val base0 = q.from.map(f => runInternal(table, f, root, resolve).df).getOrElse(table)
    // xop: extension operator runs next, deriving the frame the remaining
    // reference clauses apply to (SURVEY §7.5; see XopEngine).
    val base = q.xop.map(x => XopEngine.run(base0, x, resolve)).getOrElse(base0)
    val filtered = applyWhere(base, q.where, root, resolve)
    val projected = project(filtered, q.groupBy, q.distinct, q.select)
    val ordered = applyOrderBy(projected, q.orderBy)
    val sliced = applySlice(ordered, q.offset, q.limit)
    QueryResult(dropHidden(sliced), dropHidden(ordered))
  }

  private def dropHidden(df: DataFrame): DataFrame = {
    val hidden = df.schema.fieldNames.filter(n => n == RowId || n.startsWith("__in_"))
    if (hidden.isEmpty) df else df.drop(hidden: _*)
  }

  // -------------------------------------------------------------------
  // where (reference: pandas_filter.py:166-171)
  // -------------------------------------------------------------------

  private def applyWhere(df: DataFrame, whereQ: Option[Any], root: DataFrame,
                         resolve: String => Option[DataFrame]): DataFrame =
    whereQ match {
      case None => df
      case Some(l: List[Any] @unchecked) =>
        if (l.isEmpty) df // falsy where is a no-op (reference: pandas_filter.py:167)
        else {
          val (joined, rewritten, markers) = rewriteInSubqueries(df, l, root, resolve)
          val filtered = joined.filter(compileFilter(joined, rewritten))
          if (markers.isEmpty) filtered else filtered.drop(markers: _*)
        }
      case Some(other) => Errors.malformed("Invalid format for where", other)
    }

  /** The reference evaluates `in`-sub-queries eagerly against the current
    * dataset and materializes a value array (reference: pandas_filter.py:75-96).
    * Driver-side collect does not scale, so we rewrite each sub-query node
    * into a distinct-values LEFT JOIN producing a boolean marker column the
    * filter tree then references — composable under `!`/`&`/`|`, and
    * Catalyst/AQE broadcast the (small, distinct) value side automatically.
    */
  private def rewriteInSubqueries(df: DataFrame, tree: Any, root: DataFrame,
                                  resolve: String => Option[DataFrame])
      : (DataFrame, Any, Seq[String]) = {
    var current = df
    val markers = mutable.ArrayBuffer.empty[String]

    def walk(node: Any): Any = node match {
      case l: List[Any] @unchecked if l.length == 3 && l.head == "in" =>
        (l(1), l(2)) match {
          case (colName: String, sub: Map[_, _]) =>
            if (!hasColumn(current, colName))
              Errors.malformed("Column is not defined", l)
            val subQ = Query.fromAny(sub)
            val subResult = runInternal(root, subQ, root, resolve).df
            if (!hasColumn(subResult, colName))
              Errors.malformed(s"""Unknown column "$colName"""", l)
            val k = markers.length
            val marker = s"__in_m$k"
            val valCol = s"__in_v$k"
            // string column against numeric sub-query values (or vice
            // versa) can never match (pandas isin across types → False)
            // and a `<=>` join key would ANSI-crash per row — constant-
            // false marker instead of the join.
            val mixed = ExprCompiler.isMixedStrNum(
              ExprCompiler.catOf(current.schema(colName).dataType),
              ExprCompiler.catOf(subResult.schema(colName).dataType))
            if (mixed) {
              current = current.withColumn(marker, lit(false))
            } else {
              val values = subResult.select(col(colName).as(valCol))
                .distinct().withColumn(marker, lit(true))
              current = current.join(values,
                current(colName) <=> values(valCol), "left").drop(valCol)
            }
            markers += marker
            List(InMarkerOp, marker)
          case _ => l.map(walk)
        }
      case l: List[Any] @unchecked => l.map(walk)
      case other => other
    }

    val rewritten = walk(tree)
    (current, rewritten, markers.toSeq)
  }

  // -------------------------------------------------------------------
  // group_by + distinct + select (reference: query.py:23-164,196-204)
  // -------------------------------------------------------------------

  private def groupKeys(groupByQ: Option[List[Any]]): Seq[String] =
    groupByQ.getOrElse(Nil).map {
      case s: String => s
      case other => Errors.malformed("Group by column not in table", other)
    }

  private def isAggregateExpr(e: Any): Boolean =
    e.isInstanceOf[List[_]] && e.asInstanceOf[List[_]].length == 2

  private def isAliasExpr(e: Any): Boolean = e match {
    case l: List[Any] @unchecked => l.length == 3 && l.head == "="
    case _ => false
  }

  private def project(df: DataFrame, groupByQ: Option[List[Any]],
                      distinctQ: Option[List[Any]], selectQ: Option[List[Any]]): DataFrame = {
    val keys = groupKeys(groupByQ)
    keys.foreach { k =>
      if (!hasColumn(df, k)) Errors.malformed("Group by column not in table", keys)
    }
    if (keys.nonEmpty && distinctQ.isDefined)
      Errors.malformed("Cannot combine group_by and distinct", distinctQ.get)

    // pandas groupby(dropna=True) default: rows whose key is null (or NaN
    // for float keys) never form a group.
    val keyFiltered = keys.foldLeft(df) { (acc, k) =>
      val c = acc(k)
      acc.filter(
        if (ExprCompiler.isFloating(acc.schema(k).dataType)) c.isNotNull && !isnan(c)
        else c.isNotNull)
    }
    val deduped = applyDistinct(keyFiltered, distinctQ)
    val sel = selectQ.getOrElse(Nil)

    if (sel.isEmpty) {
      if (keys.nonEmpty)
        Errors.malformed("Aggregate function required when group_by is specified", sel)
      return deduped
    }

    // count(*) special case (reference: query.py:139-141). Under group_by the
    // reference returns the number of groups (len of the GroupBy).
    if (sel == List(List("count"))) {
      return if (keys.nonEmpty)
        deduped.agg(count_distinct(keys.map(col).head, keys.map(col).tail: _*).as("count"))
      else deduped.agg(count(lit(1)).as("count"))
    }

    // Classify select items (reference: query.py:119-130). Aggregates form a
    // dict keyed by source column — duplicates collapse, last wins; we
    // replicate rather than "fix" (reference: query.py:124, SURVEY.md §7.4).
    val aggregates = mutable.LinkedHashMap.empty[String, String]
    val aliases = mutable.ArrayBuffer.empty[List[Any]]
    sel.foreach {
      case e if isAliasExpr(e) => aliases += e.asInstanceOf[List[Any]]
      case e if isAggregateExpr(e) =>
        val l = e.asInstanceOf[List[Any]]
        (l(1), l.head) match {
          case (c: String, fn: String) => aggregates(c) = fn
          case _ => Errors.malformed("Invalid expression in select", e)
        }
      case e: List[_] => Errors.malformed("Invalid expression in select", e)
      case _ => () // bare column
    }
    if (aggregates.nonEmpty && aliases.nonEmpty)
      Errors.malformed("Cannot mix aliasing and aggregation functions", sel)

    val computed: DataFrame =
      if (keys.nonEmpty) aggregate(deduped, keys, aggregates.toSeq, sel)
      else if (aggregates.nonEmpty) aggregateGlobal(deduped, aggregates.toSeq, sel)
      else applyAliases(deduped, aliases.toSeq)

    // Final projection = select order (reference: query.py:158-164). The
    // hidden row-order column rides along when still present.
    val names = sel.map {
      case s: String => s
      case l: List[Any] @unchecked => l(1) match {
        case s: String => s
        case other => Errors.malformed("Selected columns not in table", List(other))
      }
      // non-string, non-list items (null, numbers) — the reference indexes
      // pandas with them and raises via KeyError (query.py:158-164)
      case other => Errors.malformed("Selected columns not in table", List(other))
    }
    val missing = names.filterNot(hasColumn(computed, _))
    if (missing.nonEmpty)
      Errors.malformed("Selected columns not in table", missing.distinct)
    val withHidden =
      if (hasColumn(computed, RowId) && !names.contains(RowId)) names :+ RowId
      else names
    computed.select(withHidden.map(computed(_)): _*)
  }

  private def aggFor(df: DataFrame, fn: String, colName: String, q: Any): Column =
    (fn match {
      // pandas GroupBy.first/last: the first/last NON-NULL value in
      // insertion order. With the hidden ingest-order column this is exact
      // and shuffle-safe: min_by/max_by over the row id, with null values'
      // ordering key nulled out so they're skipped (min/max ignore null
      // keys). Without it (library use on unordered tables) Spark's
      // any-value first/last is the documented best effort.
      case "first" if hasColumn(df, RowId) =>
        min_by(col(colName), when(col(colName).isNotNull, col(RowId)))
      case "last" if hasColumn(df, RowId) =>
        max_by(col(colName), when(col(colName).isNotNull, col(RowId)))
      case "first" => first(col(colName), ignoreNulls = true)
      case "last"  => last(col(colName), ignoreNulls = true)
      // fractional sums run COMPENSATED (Kahan–Babuška–Neumaier): same
      // double result type and null semantics as the native sum, but
      // within ~1 ulp of the true sum at any row count and partition
      // order — the 6M-row q10 sum drifted its last ulp run-to-run with
      // plain summation. Integral columns keep the exact native sum
      // (and its integer result type).
      case "sum" if hasColumn(df, colName) &&
          (df.schema(colName).dataType == org.apache.spark.sql.types.DoubleType ||
           df.schema(colName).dataType == org.apache.spark.sql.types.FloatType) =>
        graft.functions.KahanSumExpr.column(col(colName))
      case _ => AggregateFns.get(fn) match {
        case Some(f) => f(col(colName))
        case None => Errors.malformed(s"Unknown aggregation function '$fn'", q)
      }
    }).as(colName) // output keeps SOURCE name

  /** Grouped aggregation. Output is sorted by the group keys, matching
    * pandas `groupby(sort=True)` default order (reference: query.py:30). */
  private def aggregate(df: DataFrame, keys: Seq[String],
                        aggs: Seq[(String, String)], sel: List[Any]): DataFrame = {
    if (aggs.isEmpty)
      Errors.malformed("Aggregate function required when group_by is specified", sel)
    aggs.foreach { case (c, _) =>
      if (!hasColumn(df, c)) Errors.malformed("Selected columns not in table", List(c))
    }
    val aggCols = aggs.map { case (c, fn) => aggFor(df, fn, c, sel) }
    df.groupBy(keys.map(df(_)): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy(keys.map(col): _*)
  }

  /** Global aggregation (no group_by): every select item must be an
    * aggregate — the reference enforces this by comparing dict size to
    * select length, so duplicate-column aggregates also error
    * (reference: query.py:61-76). */
  private def aggregateGlobal(df: DataFrame, aggs: Seq[(String, String)],
                              sel: List[Any]): DataFrame = {
    if (aggs.length != sel.length)
      Errors.malformed("Cannot mix aggregation functions and columns without group_by clause", sel)
    aggs.foreach { case (c, _) =>
      if (!hasColumn(df, c)) Errors.malformed("Selected columns not in table", List(c))
    }
    val aggCols = aggs.map { case (c, fn) => aggFor(df, fn, c, sel) }
    df.agg(aggCols.head, aggCols.tail: _*)
  }

  /** Sequential alias application — later aliases see earlier ones, like
    * chained `DataFrame.eval` (reference: query.py:108-116). */
  private def applyAliases(df: DataFrame, aliases: Seq[List[Any]]): DataFrame =
    aliases.foldLeft(df) { (acc, expr) =>
      val dest = expr(1) match {
        case s: String => s
        case _ => Errors.malformed("Invalid alias, must be a string", expr)
      }
      if (!dest.matches("^[A-Za-z0-9_-]+$"))
        Errors.malformed("Invalid alias, must match ^([A-Za-z0-9_-]+)$", expr)
      acc.withColumn(dest, compileAliasExpr(acc, expr(2)))
    }

  /** `distinct: []` = dedup on all user columns; subset form keeps the FIRST
    * row of each duplicate group (pandas drop_duplicates). With the hidden
    * ingest-order column present, "first" is exact — computed as a min /
    * min_by AGGREGATE with map-side partial combine (see the shape notes
    * below); without it, distinct() / a synthetic monotonic ordering
    * approximates the arbitrary-row semantics
    * (reference: query.py:196-204, SURVEY.md §7.4). */
  private def applyDistinct(df: DataFrame, distinctQ: Option[List[Any]]): DataFrame =
    distinctQ match {
      case None => df
      case Some(colsQ) =>
        val subset =
          if (colsQ.isEmpty) userColumns(df).toSeq
          else colsQ.map {
            case s: String if hasColumn(df, s) => s
            case other => Errors.malformed("Distinct column not in table", other)
          }
        // Dedup shape choice. dropDuplicates is ruled out everywhere: its
        // aggregate returns the GROUPING expressions, which
        // NormalizeFloatingNumbers rewrites (-0.0 → 0.0), so repeated
        // distinct would not be idempotent at the value level
        // (fuzz-found). When the subset covers ALL user columns and no
        // key is float-typed, the kept "first" row is fully determined by
        // its keys plus the minimum ingest order, so a plain min(RowId)
        // AGGREGATE computes it with map-side partial combine: each task
        // reduces to ≤ |combinations| rows before the exchange, the scale
        // shape for a 100 TB distinct. Otherwise (payload columns beyond
        // the subset, or float keys) a min_by aggregate keeps the first
        // ORIGINAL row per group: grouping normalizes only its KEYS for
        // comparison — exactly what a window would do to its partition
        // keys — while the returned values come from the min_by payload,
        // i.e. the untouched input row. Same keep-first semantics as the
        // previous row_number window, but with partial combine (the
        // window shuffled EVERY row into |combinations| skewed
        // partitions, one task per hot duplicate group, which AQE cannot
        // split). NESTED floats gate the fast path too: the aggregate's
        // NormalizeFloatingNumbers rewrites -0.0/NaN inside arrays and
        // structs as well
        def hasFloat(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
          case org.apache.spark.sql.types.FloatType |
               org.apache.spark.sql.types.DoubleType => true
          case org.apache.spark.sql.types.ArrayType(et, _) => hasFloat(et)
          case s: org.apache.spark.sql.types.StructType =>
            s.fields.exists(f => hasFloat(f.dataType))
          case m: org.apache.spark.sql.types.MapType =>
            hasFloat(m.keyType) || hasFloat(m.valueType)
          case _ => false
        }
        val floatKey = subset.exists(c => hasFloat(df.schema(c).dataType))
        val onlySubsetAndRowId =
          df.columns.forall(c => c == RowId || subset.contains(c)) &&
            subset.forall(df.columns.contains)
        if (onlySubsetAndRowId && !floatKey) {
          if (hasColumn(df, RowId)) {
            // exact-quoted refs, same as the min_by branch below: CSV
            // headers can contain dots, and df(_)/col(_) would parse
            // them as struct-field paths
            val agg = df.groupBy(subset.map(graft.ops.Dedup.exactCol): _*)
              .agg(min(df(RowId)).as(RowId))
            // original column order
            agg.select(df.columns.toSeq.map(graft.ops.Dedup.exactCol): _*)
          } else df.distinct()
        } else {
          val withOrd =
            if (hasColumn(df, RowId)) df.withColumn("__ord__", df(RowId))
            else df.withColumn("__ord__", monotonically_increasing_id())
          // exact-quoted refs + getField so arbitrary user column names
          // from CSV headers (dots included) resolve exactly — unlike the
          // window form, the payload references EVERY column, not just
          // the subset
          val payload = struct(df.columns.map(c =>
            graft.ops.Dedup.exactCol(c).as(c)): _*)
          withOrd.groupBy(subset.map(graft.ops.Dedup.exactCol): _*)
            .agg(min_by(payload, col("__ord__")).as("__keep__"))
            .select(df.columns.toSeq.map(c =>
              col("__keep__").getField(c).as(c)): _*)
        }
    }

  // -------------------------------------------------------------------
  // order_by + slice (reference: query.py:167-193)
  // -------------------------------------------------------------------

  private def applyOrderBy(df: DataFrame, orderQ: Option[List[Any]]): DataFrame =
    orderQ.getOrElse(Nil) match {
      case Nil =>
        // pandas preserves ingest order implicitly; restore it when the
        // hidden order column is available (SURVEY.md §7.4).
        if (hasColumn(df, RowId)) df.orderBy(col(RowId)) else df
      case items =>
        val specs = items.map {
          case s: String =>
            val (name, asc) = if (s.startsWith("-")) (s.substring(1), false) else (s, true)
            if (!hasColumn(df, name))
              Errors.malformed("Order by column not in table", List(name))
            // pandas sort_values: na_position='last' in BOTH directions,
            // and NaN sorts with the missing values (Spark would instead
            // put nulls first on asc and NaN greatest always) — sort float
            // keys through a NaN→null view so NaN/null land last together.
            val key =
              if (ExprCompiler.isFloating(df.schema(name).dataType))
                when(isnan(df(name)), lit(null)).otherwise(df(name))
              else df(name)
            if (asc) key.asc_nulls_last else key.desc_nulls_last
          case _ => Errors.malformed("Invalid order by format", items)
        }
        df.orderBy(specs: _*)
    }

  private def intArg(name: String, v: Any): Long = v match {
    case l: Long => l
    case b: Boolean => if (b) 1L else 0L // Python bool is an int
    case other => Errors.malformed(s"Invalid type for $name", other)
  }

  /** Falsy offset/limit (0) are no-ops, like the reference's truthiness
    * checks, and NEGATIVE values follow Python slice semantics — the
    * reference slices with `df[offset:][:limit]`, so offset -k means "the
    * last k rows" and limit -k "all but the last k"
    * (reference: query.py:184-193). Negative values cost one count job to
    * translate into a non-negative skip/cap. */
  private def applySlice(df: DataFrame, offsetQ: Option[Any], limitQ: Option[Any]): DataFrame = {
    var out = df
    offsetQ.map(intArg("offset", _)).filter(_ != 0L).foreach { n =>
      out =
        if (n > 0) out.offset(n.toInt)
        else out.offset(math.max(0L, out.count() + n).toInt)
    }
    limitQ.map(intArg("limit", _)).filter(_ != 0L).foreach { n =>
      out =
        if (n > 0) out.limit(n.toInt)
        else out.limit(math.max(0L, out.count() + n).toInt)
    }
    out
  }
}
