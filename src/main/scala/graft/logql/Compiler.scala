package graft.logql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.promql.{Engine, MetricStore, QueryParams}

/** A cooked-logs table (reference docs/design/db-parquet/logs.md): system
  * columns + string label columns. `log_message` carries the line.
  */
final case class LogStore(df: DataFrame) {
  import LogStore._
  val labelCols: Seq[String] =
    df.schema.fieldNames.filterNot(systemCols.contains).toSeq
}
object LogStore {
  val systemCols: Set[String] = Set(
    "chq_timestamp", "chq_tsns", "chq_id", "chq_fingerprint",
    "metric_name", "chq_telemetry_type", "log_message")
}

/** LogQL → DataFrame compiler.
  *
  * Pipeline model (Spark-first re-expression of the reference's CTE-layer
  * builder, logql/worker_sql.go:105-162): an ordered fold over stages where
  * each stage is a `withColumn`/`filter` on the running DataFrame — line
  * filters see the current (possibly line_format-rewritten) line, label
  * filters see columns created by earlier parser stages, label_format can
  * replace existing columns.
  *
  * Aggregations follow the reference's rewrite-to-PromQL design
  * (promql/rewrite_result.go:32-155): the compiled pipeline is bucketed into
  * a synthetic cooked-metrics frame (rollup sum/count/min/max of the derived
  * per-line value) and evaluated by the shared PromQL engine.
  */
object Compiler {

  /** Raw log query: filtered/enriched rows, ordered by chq_tsns, limited. */
  def rawQuery(pipeline: LogPipeline, store: LogStore, startMs: Long, endMs: Long,
      limit: Int, desc: Boolean = true, fields: Seq[String] = Nil): DataFrame = {
    // time predicate BEFORE the stage fold (the reference splices it into
    // every leaf): row-local stages commute with it, but cross-row stages
    // (distinct) must see only the queried window
    val timed = LogStore(store.df.filter(
      col("chq_timestamp") >= startMs && col("chq_timestamp") < endMs))
    val (df, labels) = compilePipeline(pipeline, timed, extraNeeded = fields)
    val ordered = df.orderBy(if (desc) col("chq_tsns").desc else col("chq_tsns").asc)
      .limit(limit)
    val cols =
      if (fields.nonEmpty) fields
      else if (ordered.columns.contains("log_message"))
        Seq("chq_timestamp", "chq_tsns", "log_message") ++ labels
      else
        // span-shaped store (LogQL-over-spans has no line column): the
        // raw rows ARE the spans — return every store column instead of
        // 500ing on the missing log_message (r16 audit, surfaced by the
        // mixed-panel spans route; the single-query route had the same
        // hole for field-less raw span queries)
        ordered.columns.filterNot(_.startsWith("__")).toSeq
    // resolve against the frame — bare col("user") would hit the
    // current_user() SQL function instead of the extracted label
    ordered.select(cols.map(ordered(_)): _*)
  }

  /** Aggregated query via synthetic-metric rewrite + PromQL engine. */
  def aggQuery(q: LogQuery, store: LogStore, p: QueryParams): DataFrame = {
    val (synth, promql) = synthFor(q, store, p, "__logql")
    Engine.query(promql, MetricStore(synth), p)
  }

  /** Full LogQL expression (binops over aggregated queries, reference
    * KindBinOp): each query leaf compiles to its own synthetic metric
    * (`__logql_i`), the frames union by name, and the WHOLE expression is
    * rendered as one PromQL string over the union store — vector matching,
    * comparisons, and scalar broadcast ride the shared engine.
    *
    * A raw (non-aggregated) pipeline is only legal as the WHOLE expression —
    * inside a binary op it is rejected, matching the reference's binop
    * validation (logql/logql.go KindBinOp operand checks). The caller's
    * limit/order/fields thread through to that top-level raw leaf exactly as
    * they do in [[rawQuery]].
    */
  def exprQuery(e: LogExpr, store: LogStore, p: QueryParams, limit: Int = 1000,
      desc: Boolean = true, fields: Seq[String] = Nil): DataFrame = e match {
    case NumberLeaf(v) =>
      // standalone `vector(N)` / number: a constant over the step grid
      // (the engine's scalar-expression shape)
      val start = p.startMs - p.startMs % p.stepMs
      store.df.sparkSession.range(start, p.endMs, p.stepMs).toDF("ts")
        .withColumn("value", lit(v))
    case LeafQuery(q) =>
      q.raw match {
        case Some(pipe) => rawQuery(pipe, store, p.startMs, p.endMs, limit, desc, fields)
        case None => aggQuery(q, store, p)
      }
    case _ =>
      var parts = List.empty[(DataFrame, String)]
      var n = 0
      def render(x: LogExpr): String = x match {
        case NumberLeaf(v) => if (v == v.floor) v.toLong.toString else v.toString
        case LogBin(op, l, r) => s"(${render(l)} $op ${render(r)})"
        case LeafQuery(q) =>
          require(q.raw.isEmpty, "raw pipeline queries cannot appear in binary expressions")
          val (synth, promql) = synthFor(q, store, p, s"__logql_$n")
          n += 1
          parts = (synth, promql) :: parts
          s"($promql)"
      }
      val promql = render(e)
      val union = parts.map(_._1).reduceLeft((a, b) =>
        a.unionByName(b, allowMissingColumns = true))
      Engine.query(promql, MetricStore(union), p)
  }

  /** synthetic cooked-metrics frame + the PromQL string (vector-agg wrapper
    * included) that evaluates `q` over it, under the given metric name
    */
  // The series partitioning of the synthetic store lives in the
  // ENGINE: Engine.leafBucketed /
  // sketchStatLeaf repartition the rolled store rows by the label set
  // exactly when a label-keyed window follows, so the synthetic frame
  // gets the same one shared exchange without a compiler-side twin (and
  // value-ignoring leaves skip it). Map-side partial aggregation of the
  // bucket agg above is preserved either way — the engine's repartition
  // sits on the rolled rows.

  private def synthFor(q: LogQuery, store: LogStore, p: QueryParams,
      metric: String): (DataFrame, String) = {
    val ra = q.range.getOrElse(
      throw new IllegalArgumentException("aggQuery requires a range aggregation"))
    val (df, labels) = compilePipeline(ra.pipeline, store)

    // group labels for the synthetic series: explicit by/without if given,
    // else all pipeline labels (matches the reference's label requirements
    // analysis for the synthetic metric, promql/rewrite_result.go). The
    // unwrap source field is a value, not a series label.
    val unwrapFields = ra.pipeline.stages.collect { case UnwrapStage(f, _) => f }
    val allLabels = labels.filterNot(unwrapFields.contains)
    val seriesLabels: Seq[String] =
      if (q.by.nonEmpty) q.by.filter(allLabels.contains)
      else if (q.without.nonEmpty) allLabels.filterNot(q.without.contains)
      else allLabels

    val bucket = col("chq_timestamp") - col("chq_timestamp") % lit(p.stepMs)
    val rangeStr = s"${ra.rangeMs}ms"
    // offset rides through to the shared PromQL leaf, which shifts the
    // scan window and the emitted bucket timestamps
    val offsetStr = if (ra.offsetMs > 0) s" offset ${ra.offsetMs}ms" else ""

    // build (synthetic cooked metrics, inner PromQL) — quantile carries a
    // DDSketch column (engine sketch leaf) instead of sum/count rollups;
    // both shapes flow through the SAME outer vector-agg wrapper below
    val (synth, inner) =
      if (ra.fn == "quantile_over_time") {
        import graft.sketch.{functions => gf}
        val qv = ra.param.getOrElse(0.5)
        val s = df
          .withColumn("__v", col("__unwrap_value"))
          .filter(col("__v").isNotNull)
          .withColumn("chq_timestamp", bucket)
          .groupBy((col("chq_timestamp") +: seriesLabels.map(col)): _*)
          .agg(gf.ddsketch_agg(col("__v")).as("chq_sketch"))
          .withColumn("metric_name", lit(metric))
        (s, s"quantile_over_time($qv, $metric[$rangeStr]$offsetStr)")
      } else {
        // derived per-line value + inner PromQL function
        val (valueCol, promFn) = ra.fn match {
          case "count_over_time" => (lit(1.0), "sum_over_time")
          // 1 on grid buckets whose lookback window holds NO matching line
          // (Loki's log-absence probe); the synthetic per-bucket rows are
          // the presence set the engine's anti range-join consumes
          case "absent_over_time" => (lit(1.0), "absent_over_time")
          case "rate"            => (lit(1.0), "rate")
          case "bytes_over_time" => (octet_length(col("log_message")).cast("double"), "sum_over_time")
          case "bytes_rate"      => (octet_length(col("log_message")).cast("double"), "rate")
          case "sum_over_time"   => (col("__unwrap_value"), "sum_over_time")
          case "avg_over_time"   => (col("__unwrap_value"), "avg_over_time")
          case "min_over_time"   => (col("__unwrap_value"), "min_over_time")
          case "max_over_time"   => (col("__unwrap_value"), "max_over_time")
          case "last_over_time"  => (col("__unwrap_value"), "last_over_time")
          case "first_over_time" => (col("__unwrap_value"), "first_over_time")
          case "rate_counter"    => (col("__unwrap_value"), "rate")
          // over bucket gauge values (the engine's gauge-fn convention —
          // documented divergence from Loki's raw-sample windows, same as
          // avg_over_time above)
          case "stddev_over_time" => (col("__unwrap_value"), "stddev_over_time")
          case "stdvar_over_time" => (col("__unwrap_value"), "stdvar_over_time")
          case other => throw new IllegalArgumentException(s"unsupported range fn: $other")
        }
        val s = df
          .withColumn("__v", valueCol)
          .filter(col("__v").isNotNull)
          .withColumn("chq_timestamp", bucket)
          .groupBy((col("chq_timestamp") +: seriesLabels.map(col)): _*)
          .agg(
            sum(col("__v")).as("chq_rollup_sum"),
            count(lit(1)).cast("double").as("chq_rollup_count"),
            min(col("__v")).as("chq_rollup_min"),
            max(col("__v")).as("chq_rollup_max"))
          .withColumn("metric_name", lit(metric))
        (s, s"$promFn($metric[$rangeStr]$offsetStr)")
      }
    val promql = q.vectorOp match {
      case Some(op) =>
        val grouping =
          if (q.by.nonEmpty) s" by (${q.by.mkString(",")})"
          else if (q.without.nonEmpty) s" without (${q.without.mkString(",")})"
          else ""
        val param = q.param.map(v =>
          if (v == v.floor) s"${v.toLong}, " else s"$v, ").getOrElse("")
        s"$op$grouping($param$inner)"
      case None => inner
    }
    (synth, promql)
  }

  /** Full LogQL string → DataFrame (raw, aggregated, or binop expression).
    * limit/desc/fields apply when the expression is a raw pipeline.
    */
  def query(logql: String, store: LogStore, p: QueryParams, limit: Int = 1000,
      desc: Boolean = true, fields: Seq[String] = Nil): DataFrame = {
    val e = Parser.parseFull(logql).fold(err => throw new IllegalArgumentException(err), identity)
    exprQuery(e, store, p, limit, desc, fields)
  }

  // ---- pipeline fold -------------------------------------------------------

  /** Compile matchers + stages; returns (DataFrame, current label set). */
  def compilePipeline(pipeline: LogPipeline, store: LogStore,
      extraNeeded: Seq[String] = Nil): (DataFrame, Seq[String]) = {
    var df = store.df
    pipeline.matchers.foreach { m => df = df.filter(Engine.matcherCond(df, m)) }

    // need-key analysis: labels referenced downstream (or requested as
    // output fields) that a json/logfmt stage must materialize
    // (reference logql/worker_sql.go:455-520)
    val needed = (neededLabels(pipeline.stages) ++ extraNeeded).distinct

    var labels: Seq[String] = store.labelCols
    pipeline.stages.foreach {
      case LineFilter(op, needle) =>
        val line = col("log_message")
        // literal prefilters ahead of rlike (mirrors the reference's staged
        // filtering, logql/worker_sql.go:215-266): every regex match must
        // contain its required literal segments, and contains() is a
        // codegen'd indexOf — so non-matching lines (the common case) are
        // rejected in O(n) instead of feeding Java's backtracking engine,
        // whose multi-(.*?) worst case inflated these rows 80-150x under
        // host contention in r6. Semantics are unchanged: rlike ⇒ contains.
        def patternCond: Column = {
          val (re, names) = patternToRegex(needle)
          require(names.isEmpty,
            s"pattern line filters allow only <_> placeholders, got <${names.head}>")
          // pattern literals are known exactly — require ALL of them, so a
          // line missing any later segment never reaches the regex
          patternLiterals(needle).filter(_.nonEmpty)
            .foldLeft(line.rlike(re)) { (c, l) => line.contains(l) && c }
        }
        def regexCond: Column = longestRegexLiteral(needle) match {
          case Some(l) => line.contains(l) && line.rlike(needle)
          case None => line.rlike(needle)
        }
        df = op match {
          case LineFilterOp.Contains    => df.filter(line.contains(needle))
          case LineFilterOp.NotContains => df.filter(!line.contains(needle))
          case LineFilterOp.Regex       => df.filter(regexCond)
          case LineFilterOp.NotRegex    => df.filter(!regexCond)
          case LineFilterOp.Pattern     => df.filter(patternCond)
          case LineFilterOp.NotPattern  => df.filter(!patternCond)
        }

      case JsonStage(mappings) =>
        // Loki attaches __error__ on parse failures instead of dropping the
        // line; graft materializes it only when the query REFERENCES it
        // (the same need-key gating as label extraction — zero plan/schema
        // impact on queries that never look). "" on parse success, Loki's
        // error name otherwise.
        //
        // ONE JSON parse per row: all needed top-level keys (which is what
        // need-key analysis produces) ride a single from_json with an
        // all-strings schema + a corrupt-record sentinel; k separate
        // get_json_object calls would be k full parses of the same line.
        // Only a genuinely nested explicit path ($.a.b) falls back to
        // get_json_object.
        val explicit = mappings.map { case (l, path) => l -> jsonPath(path) }
        val auto = needed.filterNot(l => l == "__error__" ||
            df.schema.fieldNames.contains(l) || explicit.exists(_._1 == l))
          .map(l => l -> s"$$.$l")
        val wantErr = needed.contains("__error__")
        val topRe = "^\\$\\.([A-Za-z_][A-Za-z0-9_]*)$".r
        val (flat, nested) = (explicit ++ auto).partition {
          case (_, p) => topRe.findFirstIn(p).isDefined
        }
        if (wantErr || flat.nonEmpty) {
          df = df.withColumn("__graft_json", oneParse(col("log_message"),
            flat.map(_._2.stripPrefix("$."))))
        }
        if (wantErr) {
          df = df.withColumn("__error__",
            when(col("log_message").isNull ||
                col("__graft_json").getField(CorruptField).isNotNull,
              lit("JSONParserErr")).otherwise(lit("")))
          labels = (labels :+ "__error__").distinct
        }
        flat.foreach { case (l, p) =>
          df = df.withColumn(l,
            col("__graft_json").getField(p.stripPrefix("$.")))
          labels = (labels :+ l).distinct
        }
        nested.foreach { case (l, path) =>
          df = df.withColumn(l, get_json_object(col("log_message"), path))
          labels = (labels :+ l).distinct
        }
        if (wantErr || flat.nonEmpty) df = df.drop("__graft_json")

      case LogfmtStage(mappings) =>
        // logfmt's dominant failure mode is an unterminated quoted value:
        // an odd double-quote count marks the line LogfmtParserErr
        // (documented approximation of Loki's scanner error; same
        // need-key gating as the json stage)
        if (needed.contains("__error__")) {
          val quotes = length(col("log_message")) -
            length(regexp_replace(col("log_message"), "\"", ""))
          df = df.withColumn("__error__",
            when(quotes % 2 === 1, lit("LogfmtParserErr")).otherwise(lit("")))
          labels = (labels :+ "__error__").distinct
        }
        val explicit = mappings
        val auto = needed.filterNot(l => l == "__error__" ||
            df.schema.fieldNames.contains(l) || explicit.exists(_._1 == l))
          .map(l => l -> l)
        (explicit ++ auto).foreach { case (l, key) =>
          // (?:^|\s)key=([^\s]+) — reference logql/worker_sql.go:599-703
          df = df.withColumn(l,
            regexp_extract(col("log_message"), "(?:^|\\s)" + java.util.regex.Pattern.quote(key) + "=([^\\s]+)", 1))
          labels = (labels :+ l).distinct
        }

      case PatternStage(pattern) =>
        val (re, names) = patternToRegex(pattern)
        // literal guard ahead of each extraction (same rationale as the
        // line-filter prefilters): regexp_extract yields "" on non-match,
        // and a line missing any literal segment CANNOT match the anchored
        // pattern — so gating the regex behind codegen'd contains() checks
        // returns the identical "" without feeding the backtracking engine
        val lits = patternLiterals(pattern).filter(_.nonEmpty)
        val canMatch = lits.foldLeft(lit(true)) { (c, l) =>
          c && col("log_message").contains(l)
        }
        names.zipWithIndex.foreach { case (name, i) =>
          df = df.withColumn(name,
            when(canMatch, regexp_extract(col("log_message"), re, i + 1))
              .otherwise(lit("")))
          labels = (labels :+ name).distinct
        }

      case RegexpStage(pattern) =>
        val groups = namedGroups(pattern)
        groups.zipWithIndex.foreach { case (name, _) =>
          // extract by group name via Java regex group index; Spark
          // regexp_extract is index-based, so map name → index
          val idx = groupIndex(pattern, name)
          df = df.withColumn(name, regexp_extract(col("log_message"), normalizeGroups(pattern), idx))
          labels = (labels :+ name).distinct
        }

      case LabelFormatStage(assignments) =>
        assignments.foreach { case (target, tmpl) =>
          df = df.withColumn(target, templateCol(df, tmpl))
          labels = (labels :+ target).distinct
        }

      case LineFormatStage(tmpl) =>
        df = df.withColumn("log_message", templateCol(df, tmpl))

      case KeepStage(ks) =>
        // conditional entries null the value on NON-matching rows; the
        // label set shrinks to the listed names either way
        ks.foreach {
          case (l, Some(v)) if df.schema.fieldNames.contains(l) =>
            df = df.withColumn(l,
              when(df(l) === v, df(l)).otherwise(lit(null).cast("string")))
          case _ => ()
        }
        labels = labels.filter(l => ks.exists(_._1 == l))
      case DropStage(ds) =>
        // conditional entries null the value on MATCHING rows and keep the
        // column; unconditional entries remove the label outright
        ds.foreach {
          case (l, Some(v)) if df.schema.fieldNames.contains(l) =>
            df = df.withColumn(l,
              when(df(l) === v, lit(null).cast("string")).otherwise(df(l)))
          case _ => ()
        }
        labels = labels.filterNot(l => ds.exists(e => e._1 == l && e._2.isEmpty))

      case LabelReplaceStage(dst, repl, src, regex) =>
        // full-match semantics: dst changes only when the regex matches the
        // ENTIRE src value; $N in repl substitutes capture groups (Java and
        // PromQL share the $N syntax)
        val srcCol =
          if (df.schema.fieldNames.contains(src)) coalesce(df(src).cast("string"), lit(""))
          else lit("")
        val full = "^(?:" + regex + ")$"
        val existing =
          if (df.schema.fieldNames.contains(dst)) df(dst).cast("string")
          else lit(null).cast("string")
        df = df.withColumn(dst,
          when(srcCol.rlike(full), regexp_replace(srcCol, full, repl))
            .otherwise(existing))
        labels = (labels :+ dst).distinct

      case DecolorizeStage =>
        df = df.withColumn("log_message",
          regexp_replace(col("log_message"), "\u001b\\[[0-9;]*m", ""))

      case LabelFilter(label, op, value, numeric) =>
        val c =
          if (df.schema.fieldNames.contains(label)) df(label)
          else lit(null).cast("string")
        df = df.filter(labelFilterCond(c, op, value, numeric))

      case IpLineFilter(neg, pat) =>
        val cond = IpMatch.lineCond(col("log_message"), pat)
        df = df.filter(if (neg) !cond else cond)

      case IpLabelFilter(label, neg, pat) =>
        val c =
          if (df.schema.fieldNames.contains(label)) df(label)
          else lit(null).cast("string")
        val cond = IpMatch.labelCond(c, pat)
        df = df.filter(if (neg) !cond else cond)

      case UnpackStage =>
        // pack-format reader: promote needed JSON keys to labels, then
        // restore the original line from `_entry` (a non-pack line — no
        // `_entry` key — passes through unchanged, Loki's behavior).
        // Single from_json parse over needed keys + _entry + the corrupt
        // sentinel — the old per-key get_json_object form re-parsed the
        // line once per key plus once for _entry plus once for __error__.
        val line = col("log_message")
        val keys = needed.filterNot(l => l == "__error__" ||
          df.schema.fieldNames.contains(l))
        df = df.withColumn("__graft_json", oneParse(line, keys :+ "_entry"))
        if (needed.contains("__error__")) {
          df = df.withColumn("__error__",
            when(line.isNull ||
                col("__graft_json").getField(CorruptField).isNotNull,
              lit("JSONParserErr")).otherwise(lit("")))
          labels = (labels :+ "__error__").distinct
        }
        keys.foreach { l =>
          df = df.withColumn(l, col("__graft_json").getField(l))
          labels = (labels :+ l).distinct
        }
        df = df.withColumn("log_message",
            coalesce(col("__graft_json").getField("_entry"), line))
          .drop("__graft_json")

      case DistinctStage(ls) =>
        // first line per distinct label combination. Window partitioned by
        // the combo: output is 1 row per combo, so the shuffle is bounded
        // by combo cardinality; (chq_tsns, line) ordering makes the pick
        // deterministic — rows tying on both emit identical output columns
        val parts = ls.map(l =>
          if (df.schema.fieldNames.contains(l)) coalesce(df(l).cast("string"), lit(""))
          else lit(""))
        val w = Window.partitionBy(parts: _*)
          .orderBy(col("chq_tsns").asc, col("log_message").asc)
        df = df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")

      case UnwrapStage(field, conv) =>
        val src = df(field)
        val v = conv match {
          case "duration" => durationSeconds(src)
          case "bytes"    => bytesValue(src)
          case _          => tryDouble(src)
        }
        df = df.withColumn("__unwrap_value", v)
    }
    (df, labels)
  }

  /** try_cast-to-double that stays safe under ANSI: only cast rows that
    * look numeric.
    */
  private def tryDouble(c: Column): Column =
    when(c.rlike("^-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?$"), c.cast("double"))
      .otherwise(lit(null).cast("double"))

  private def labelFilterCond(c: Column, op: String, value: String, numeric: Boolean): Column = {
    if (numeric) {
      val n = tryDouble(c) // try_cast semantics: bad parse → null → filtered
      val v = numericValue(value)
      op match {
        case ">" => n > v; case ">=" => n >= v
        case "<" => n < v; case "<=" => n <= v
        case "=" | "==" => n === v; case "!=" => n =!= v
        case other => throw new IllegalArgumentException(s"numeric filter op $other")
      }
    } else op match {
      case "=" | "==" => c === value
      case "!=" => c =!= value
      case "=~" => c.rlike("^(?:" + value + ")$")
      case "!~" => !c.rlike("^(?:" + value + ")$")
      case ">" => c > value; case ">=" => c >= value
      case "<" => c < value; case "<=" => c <= value
    }
  }

  /** "250ms" → 0.25 etc; plain numbers pass through */
  private def numericValue(s: String): Double = {
    val durRe = "^(\\d+(?:\\.\\d+)?)(ms|s|m|h|d)$".r
    val byteRe = "^(\\d+(?:\\.\\d+)?)(b|B|kb|KB|KiB|mb|MB|MiB|gb|GB|GiB)$".r
    s match {
      case durRe(n, u) => n.toDouble * (u match {
        case "ms" => 0.001; case "s" => 1; case "m" => 60; case "h" => 3600; case "d" => 86400
      })
      case byteRe(n, u) => n.toDouble * byteFactor(u)
      case _ => s.toDouble
    }
  }

  private def byteFactor(u: String): Double = u.toLowerCase match {
    case "b" => 1
    case "kb" => 1000; case "kib" => 1024
    case "mb" => 1000000; case "mib" => 1024 * 1024
    case "gb" => 1e9; case "gib" => 1024.0 * 1024 * 1024
  }

  /** duration-string column → seconds (reference logql/sql_builder.go:964-1000):
    * try numeric, else parse (number)(unit) with a when-chain.
    */
  def durationSeconds(c: Column): Column = {
    val num = regexp_extract(c, "^(-?\\d+(?:\\.\\d+)?)", 1).cast("double")
    val unit = regexp_extract(c, "(ms|us|ns|s|m|h|d)$", 1)
    when(tryDouble(c).isNotNull, tryDouble(c))
      .otherwise(num * when(unit === "ns", 1e-9)
        .when(unit === "us", 1e-6)
        .when(unit === "ms", 1e-3)
        .when(unit === "s", 1.0)
        .when(unit === "m", 60.0)
        .when(unit === "h", 3600.0)
        .when(unit === "d", 86400.0)
        .otherwise(lit(null).cast("double")))
  }

  /** size-string column → bytes ("3MiB" → 3145728) */
  def bytesValue(c: Column): Column = {
    val num = regexp_extract(c, "^(-?\\d+(?:\\.\\d+)?)", 1).cast("double")
    val unit = lower(regexp_extract(c, "(?i)([kmgt]i?b|b)$", 1))
    when(tryDouble(c).isNotNull, tryDouble(c))
      .otherwise(num * when(unit === "b", 1.0)
        .when(unit === "kb", 1e3).when(unit === "kib", 1024.0)
        .when(unit === "mb", 1e6).when(unit === "mib", 1024.0 * 1024)
        .when(unit === "gb", 1e9).when(unit === "gib", 1024.0 * 1024 * 1024)
        .when(unit === "tb", 1e12).when(unit === "tib", math.pow(1024.0, 4))
        .otherwise(lit(null).cast("double")))
  }

  /** template field resolution: `__line__` is Loki's special variable for
    * the current log line; everything else is a label column
    */
  private def templateField(df: DataFrame, f: String): Column =
    if (f == "__line__") col("log_message") else df(f)

  private def templateCol(df: DataFrame, t: Template): Column = {
    val parts = t.parts.map {
      case Lit(s) => lit(s)
      case Ref(f, fn) =>
        val base = coalesce(templateField(df, f).cast("string"), lit(""))
        fn match {
          case "lower" => lower(base)
          case "upper" => upper(base)
          case "trim"  => trim(base)
          // reference len: JSON-array length when the value parses as one,
          // else character length (logql/sql_builder.go:643-649)
          case "len" =>
            coalesce(json_array_length(base), length(base)).cast("string")
          case _ => base
        }
      case PipedRef(f, pipes) =>
        // left-to-right pipe application; Go/sprig conventions: trunc n =
        // first n chars, substr a b = [a, b) 0-based, replace = literal
        // replace-all, default d = d when the value is empty
        val base = coalesce(templateField(df, f).cast("string"), lit(""))
        pipes.foldLeft(base) { case (c, (fn, args)) =>
          fn match {
            case "lower" => lower(c)
            case "upper" => upper(c)
            case "trim"  => trim(c)
            case "len"   =>
              coalesce(json_array_length(c), length(c)).cast("string")
            case "trunc"   => substring(c, 1, args.head.toInt)
            case "substr"  =>
              val a = args(0).toInt; val b = args(1).toInt
              substring(c, a + 1, math.max(b - a, 0))
            case "replace" => replace(c, lit(args(0)), lit(args(1)))
            case "default" => when(c === "", lit(args.head)).otherwise(c)
          }
        }
      case Cond(pred, thenT, elseT) =>
        when(predCol(df, pred), templateCol(df, thenT))
          .otherwise(templateCol(df, elseT))
    }
    parts match {
      case Nil         => lit("")
      case one :: Nil  => one
      case many        => concat(many: _*)
    }
  }

  /** template predicate → boolean Column (reference arg order: needle
    * first — hasPrefix prefix s / contains sub s / match re s)
    */
  private def predCol(df: DataFrame, p: Pred): Column = {
    def argCol(a: TemplateArg): Column = a match {
      case FieldArg(f) => coalesce(templateField(df, f).cast("string"), lit(""))
      case LitArg(v)   => lit(v)
    }
    val (a, b) = (argCol(p.a), argCol(p.b))
    p.fn match {
      case "hasPrefix" => b.startsWith(a)
      case "hasSuffix" => b.endsWith(a)
      case "contains"  => b.contains(a)
      case "match"     => p.a match {
        // rlike needs a plan-time pattern; a column-valued regex would be
        // per-row compilation anyway
        case LitArg(re) => b.rlike(re)
        case FieldArg(f) =>
          throw new IllegalArgumentException(
            s"match predicate needs a literal regex, got field .$f")
      }
      case "eq" => a === b
      case "ne" => a =!= b
    }
  }

  /** field refs anywhere in a template (incl. conditional branches/preds) */
  private def templateFields(t: Template): Seq[String] =
    t.parts.flatMap {
      case Ref(f, _) => Seq(f)
      case PipedRef(f, _) => Seq(f)
      case Cond(Pred(_, a, b), thenT, elseT) =>
        Seq(a, b).collect { case FieldArg(f) => f } ++
          templateFields(thenT) ++ templateFields(elseT)
      case _ => Nil
    }

  /** labels referenced by later stages (filters, templates, unwrap) */
  private def neededLabels(stages: List[Stage]): Seq[String] =
    stages.flatMap {
      case LabelFilter(l, _, _, _) => Seq(l)
      case IpLabelFilter(l, _, _) => Seq(l)
      case UnwrapStage(f, _) => Seq(f)
      case LabelReplaceStage(_, _, src, _) => Seq(src)
      case LabelFormatStage(as) => as.flatMap(kv => templateFields(kv._2))
      case LineFormatStage(t) => templateFields(t)
      case KeepStage(ls) => ls.map(_._1)
      case DropStage(ls) => ls.collect { case (l, Some(_)) => l }
      case DistinctStage(ls) => ls
      case _ => Nil
    }.distinct.filterNot(_ == "__line__") // special var, never an extracted label

  /** Loki pattern → anchored regex + capture names: literals escaped
    * per-metachar (RE2-compatible — no \Q\E, so the SAME regex string runs
    * in Java and DuckDB), `<name>` → non-greedy capture, `<_>` → skip.
    */
  def patternToRegex(p: String): (String, Seq[String]) = {
    val meta = "\\^$.|?*+()[]{}"
    val sb = new StringBuilder("^")
    val names = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < p.length) {
      if (p(i) == '<') {
        val end = p.indexOf('>', i)
        require(end > i, s"unterminated <capture> in pattern '$p'")
        val name = p.substring(i + 1, end)
        if (name == "_") sb.append(".*?")
        else { names += name; sb.append("(.*?)") }
        i = end + 1
      } else {
        if (meta.indexOf(p(i).toInt) >= 0) sb.append('\\')
        sb.append(p(i))
        i += 1
      }
    }
    (sb.append("$").toString, names.toSeq)
  }

  /** the RAW literal segments of a Loki pattern (the text between
    * placeholders): every whole-line match must contain each of them, so
    * they are safe contains() prefilters ahead of the compiled regex
    */
  def patternLiterals(p: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    val cur = new StringBuilder
    var i = 0
    while (i < p.length) {
      if (p(i) == '<') {
        val end = p.indexOf('>', i)
        require(end > i, s"unterminated <capture> in pattern '$p'")
        if (cur.nonEmpty) { out += cur.toString; cur.clear() }
        i = end + 1
      } else { cur.append(p(i)); i += 1 }
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }

  /** longest PROVABLY-REQUIRED literal substring of a user regex, if one
    * can be established cheaply. Only attempted when the pattern has no
    * groups/classes/escapes/alternation/counted-repeats — then the regex is
    * a linear walk and every literal run whose last char is not under a
    * quantifier must appear in any match. Complex regexes return None and
    * keep the plain rlike. Runs under 3 chars aren't selective enough to
    * pay for the extra contains().
    */
  def longestRegexLiteral(re: String): Option[String] = {
    if (re.exists(c => "([\\|{".indexOf(c.toInt) >= 0)) return None
    val breakers = ".^$?*+)]}"
    val runs = scala.collection.mutable.ListBuffer[String]()
    val cur = new StringBuilder
    var i = 0
    while (i < re.length) {
      val c = re(i)
      val nextQuant = i + 1 < re.length && "?*+".indexOf(re(i + 1).toInt) >= 0
      if (breakers.indexOf(c.toInt) >= 0 || nextQuant) {
        if (cur.nonEmpty) { runs += cur.toString; cur.clear() }
      } else cur.append(c)
      i += 1
    }
    if (cur.nonEmpty) runs += cur.toString
    runs.maxByOption(_.length).filter(_.length >= 3)
  }

  /** `$.a.b` stays; bare `a` → `$.a` */
  private def jsonPath(p: String): String =
    if (p.startsWith("$")) p else "$." + p

  /** corrupt-record sentinel for the single-parse json/unpack stages; the
    * name can't collide with a label (label names never start with
    * `__graft`)
    */
  private val CorruptField = "__graft_corrupt"

  /** ONE from_json parse covering every needed top-level key (all-strings
    * schema: scalars keep their raw token text, objects/arrays their JSON
    * text — same surface as get_json_object) plus the corrupt-record
    * field, non-null exactly when the line isn't parseable JSON.
    */
  private def oneParse(line: Column, keys: Seq[String]): Column = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(
      keys.distinct.map(k => StructField(k, StringType)) :+
        StructField(CorruptField, StringType))
    from_json(line, schema, Map("columnNameOfCorruptRecord" -> CorruptField))
  }

  private val namedGroupRe = "\\(\\?P?<([A-Za-z_][A-Za-z0-9_]*)>".r

  def namedGroups(pattern: String): Seq[String] =
    namedGroupRe.findAllMatchIn(pattern).map(_.group(1)).toSeq

  /** Go `(?P<x>...)` → Java `(?<x>...)` */
  def normalizeGroups(pattern: String): String =
    pattern.replaceAll("\\(\\?P<", "(?<")

  /** index of a named group among all capturing groups (reference makes
    * unnamed groups non-capturing; here we count them instead,
    * logql/worker_sql.go:942-1093)
    */
  def groupIndex(pattern: String, name: String): Int = {
    var idx = 0
    var i = 0
    val p = normalizeGroups(pattern)
    while (i < p.length) {
      if (p(i) == '(' && (i == 0 || p(i - 1) != '\\')) {
        if (i + 1 < p.length && p(i + 1) == '?') {
          if (i + 2 < p.length && p(i + 2) == '<' &&
              i + 3 < p.length && p(i + 3) != '=' && p(i + 3) != '!') {
            idx += 1
            val end = p.indexOf('>', i)
            if (p.substring(i + 3, end) == name) return idx
          } // else non-capturing (?: / lookaround — not counted
        } else idx += 1
      }
      i += 1
    }
    throw new IllegalArgumentException(s"group $name not found in $pattern")
  }
}
