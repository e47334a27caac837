package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Fingerprint skip-index — the Spark-native re-expression of the
  * reference's segment fingerprint index (fingerprints are computed per
  * row at ingest, internal/fingerprint/fingerprint.go:119-172; stored as a
  * per-segment `fingerprints bigint[]` inverted index,
  * lrdb/queries/log_seg.sql:102-119; and intersected against
  * needle/matcher fingerprints before any segment is read,
  * queryapi/logs_evaluator.go:233-424).
  *
  * Spark shape: a small parquet side table `(file, fingerprint)` in a
  * SIBLING directory `<segDir>.fpindex` (see [[indexPath]] — segment
  * readers never see it and no hidden-path special cases apply), one
  * exploded row per distinct fingerprint per data file. Three fingerprint
  * families, mirroring the reference's IndexExact/IndexTrigramExact flags:
  *
  *  - exists  — `fp(field, ".*")` for every column with ≥1 non-null value
  *    in the file (reference: every present row key gets an exists fp);
  *  - exact   — `fp(field, value)` for each distinct value of the fields
  *    in [[ExactFields]] (log_level, resource_service_name, …);
  *  - trigram — `fp(field, t)` for each distinct 3-char substring of the
  *    fields in [[TrigramFields]]. Unlike the reference (which trigram-
  *    indexes only resource dimensions), the BODY (`log_message`) is
  *    trigram-indexed too, so a needle query `{...} |= "deadbeef"` over 30
  *    days prunes to the files that can contain the needle instead of
  *    scanning every segment in range. Files whose body trigram set
  *    exceeds [[MaxTrigramsPerFile]] keep exists/exact entries but drop
  *    the trigram family — a per-field sentinel fingerprint records which
  *    files ARE fully trigram-indexed, and pruning only ever excludes a
  *    file positively known to lack a required fingerprint, so the index
  *    is lossless by construction (unindexed or capped files always scan).
  *
  * The hash is md5-48 over `field:token` (engine-neutral, consistent
  * between the distributed Column build and the driver-side query
  * computation) rather than the reference's Java-31 rolling hash — a
  * documented divergence; only internal consistency matters since the
  * index never changes results, only the file list. For bit-level
  * interop with fingerprints produced by the reference (e.g. reusing a
  * migrated deployment's fingerprint rows), [[graft.ops.CompatHash]]
  * provides the reference-exact hash surface (`ComputeHash` 31-poly,
  * rune trigrams, exists/exact/trigram policy), driver-gated by
  * `tq_fp_compat`.
  *
  * Scale: the build is explode → distinct-per-file → hash (md5 cost paid
  * per distinct trigram, not per row), one shuffle keyed by file; the
  * query side is one filtered aggregation over the index (predicate on
  * `fingerprint` pushes into the index's own bloom filter) returning a
  * per-file hit set bounded by the requirement count — the same "ask a
  * small index, then read the survivors" motion as the reference's
  * PostgreSQL segment lookup, with the candidate file list (not data)
  * landing on the driver exactly like the reference's query-API does.
  */
object FingerprintIndex {

  val ExistsToken = ".*"
  val BodyField = "log_message"

  /** default cap on distinct body trigrams indexed per file; above it the
    * file's trigram family is dropped (file always scans for needle
    * queries — correct, just not prunable)
    */
  val MaxTrigramsPerFile = 50000L

  /** exact-value-indexed fields (reference IndexedDimensions,
    * internal/fingerprint/fingerprint.go:60-70, adapted to cooked names)
    */
  val ExactFields: Set[String] = Set(
    "chq_telemetry_type", "log_level", "metric_name",
    "resource_customer_domain", "resource_file", "resource_k8s_cluster_name",
    "resource_k8s_namespace_name", "resource_service_name", "span_trace_id")

  /** trigram-indexed fields = the reference's IndexTrigramExact set + the
    * body (the "or a trigram-set column" variant)
    */
  val TrigramFields: Set[String] = Set(
    "chq_telemetry_type", "resource_customer_domain",
    "resource_k8s_cluster_name", "resource_k8s_namespace_name",
    "resource_service_name", "span_trace_id", BodyField)

  // ---- hashing (driver side; bit-identical to fpCol below) -----------------

  /** 48-bit md5 hash of a string — first 6 digest bytes as unsigned */
  def hash48(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(6).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  def fingerprint(field: String, token: String): Long = hash48(field + ":" + token)
  def existsFp(field: String): Long = fingerprint(field, ExistsToken)

  /** sentinel marking a file as FULLY indexed for a family: `__file` =
    * file present in the index at all; a field name = that field's trigram
    * set is complete (not cap-dropped)
    */
  def sentinelFp(name: String): Long = fingerprint("__indexed", name)

  /** distinct 3-char substrings (reference toTrigrams,
    * fingerprint.go:119-144; char-based rather than rune-based — BMP
    * equivalence, divergence documented)
    */
  def trigrams(s: String): Set[String] =
    if (s == null || s.length < 3) Set.empty else s.sliding(3).toSet

  // ---- Column twins ---------------------------------------------------------

  private def fpCol(field: String, token: Column): Column =
    conv(substring(md5(concat(lit(field + ":"), token)), 1, 12), 16, 10).cast("long")

  private def trigramsCol(v: Column): Column =
    when(v.isNotNull && length(v) >= 3,
      array_distinct(transform(sequence(lit(1), length(v) - 2), i => v.substr(i, lit(3)))))
      .otherwise(array().cast("array<string>"))

  /** name-literal column resolution (label names are user-controlled) */
  private def qcol(df: DataFrame, name: String): Column =
    df(s"`${name.replace("`", "``")}`")

  // ---- build ----------------------------------------------------------------

  /** SIBLING dir (like compaction's `.compact_tmp`), not a child: segment
    * readers never see it, file-count/compaction metrics never count it,
    * and no hidden-path (`_`-prefix) special cases apply
    */
  def indexPath(segDir: String): String =
    segDir.stripSuffix("/") + ".fpindex"

  /** Build (overwrite) the fingerprint index for a segment dir — logs or
    * metrics; the families index whichever of their fields the schema
    * carries (for metrics that is chiefly metric_name exact fps, the same
    * dimension the reference's metric segment lookup keys on,
    * queryapi/metrics_evaluator.go:424-500). Run after segment writes /
    * compaction, like the reference's ingest-side fingerprint
    * registration. One pass over the segments projecting only the
    * indexed columns.
    */
  def buildLogIndex(spark: SparkSession, segDir: String,
      maxTrigramsPerFile: Long = MaxTrigramsPerFile): Unit = {
    // overwrite semantics: a full rebuild always describes the current
    // dir contents
    indexWriter(indexRows(spark.read.option("mergeSchema", "true").parquet(segDir),
      maxTrigramsPerFile), "overwrite").parquet(indexPath(segDir))
    // exclusion probes cache the index read (and its absence)
    graft.api.ScanCache.invalidate(indexPath(segDir))
  }

  /** Incremental indexing — the per-batch registration an ingest worker
    * does (the reference inserts one segment row per written file; a full
    * rebuild at 100 TB would re-read the lake). Indexes ONLY files not
    * yet in the index and APPENDS their rows. Returns the number of newly
    * indexed files. Stale rows for files removed by compaction are
    * harmless (exclusions are intersected against the live file list);
    * [[compactIndex]] sweeps them — and the per-batch shards — without
    * the full re-read a [[buildLogIndex]] rebuild costs.
    */
  def indexNewFiles(spark: SparkSession, segDir: String,
      maxTrigramsPerFile: Long = MaxTrigramsPerFile): Long = {
    val idxP = new org.apache.hadoop.fs.Path(indexPath(segDir))
    val fs = idxP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val indexed: Set[String] =
      if (!fs.exists(idxP)) Set.empty
      else spark.read.parquet(indexPath(segDir)).select(col("file"))
        .distinct().collect().map(_.getString(0)).toSet
    val full = spark.read.option("mergeSchema", "true").parquet(segDir)
    val newFiles = full.inputFiles.map(normPath).filterNot(indexed).toSeq
    if (newFiles.isEmpty) return 0L
    val df = spark.read.option("mergeSchema", "true")
      .option("basePath", segDir).parquet(newFiles: _*)
    indexWriter(indexRows(df, maxTrigramsPerFile), "append").parquet(indexPath(segDir))
    graft.api.ScanCache.invalidate(indexPath(segDir))
    newFiles.length.toLong
  }

  /** Compact the fingerprint index beside segDir (r13 VERDICT #4).
    * [[indexNewFiles]] appends one parquet batch per streaming
    * micro-batch — the same small-files decay
    * [[graft.ops.Similarity.compactIvfIndex]] fixes for ANN lists — and
    * rows for files removed by segment compaction/retention linger
    * (harmless for correctness: exclusions intersect the live file
    * list, but every exclusion probe scans them). One crash-safe staged
    * rewrite ([[Segments.compactWithSwap]]): drop rows whose file is no
    * longer under segDir (a semi-JOIN against the live file list — never
    * an IN-literal, which would inline millions of paths at 100 TB),
    * dedupe, and collapse to `targetFiles` fingerprint-range-sorted
    * files so the point lookup keeps row-group stats + the bloom filter.
    * Lossless by the incremental path's own argument: live files keep
    * every row, removed files can never be scan candidates, and files
    * newer than the index were never described by it. Returns the number
    * of stale rows dropped; no-op without an index.
    */
  def compactIndex(spark: SparkSession, segDir: String,
      targetFiles: Int = 1): Long = {
    val idxDir = indexPath(segDir)
    val idxP = new org.apache.hadoop.fs.Path(idxDir)
    val fs = idxP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(idxP)) return 0L
    import spark.implicits._
    val liveDf = spark.read.option("mergeSchema", "true").parquet(segDir)
      .inputFiles.map(normPath).toSeq.toDF("file")
    val stale = spark.read.parquet(idxDir)
      .join(liveDf, Seq("file"), "left_anti").count()
    graft.ingest.Segments.compactWithSwap(spark, idxDir) { df =>
      indexWriter(df.join(liveDf, Seq("file"), "left_semi")
        .distinct()
        .repartitionByRange(math.max(1, targetFiles), col("fingerprint"))
        .sortWithinPartitions(col("fingerprint")), "overwrite")
    }
    stale
  }

  /** the one index-file writer: ZSTD, with a bloom filter on the
    * fingerprint column for the point lookup
    */
  private def indexWriter(rows: DataFrame, mode: String): DataFrameWriter[Row] =
    rows.write.mode(mode)
      .option("compression", "zstd")
      .option("parquet.bloom.filter.enabled#fingerprint", "true")

  /** the (file, fingerprint) rows for one frame of segment data */
  private def indexRows(df: DataFrame, maxTrigramsPerFile: Long): DataFrame = {
    val partitionCols = Set("org", "dateint", "freq")
    val fields = df.schema.fieldNames.filterNot(partitionCols).toSeq
    val withFile = df.withColumn("__file", normPathCol(input_file_name()))

    // exists family: one agg pass → per file, which fields are ever non-null
    val existsFlags = fields.zipWithIndex.map { case (f, i) =>
      max(qcol(df, f).isNotNull).as(s"__p$i")
    }
    val existsPairs = withFile.groupBy(col("__file"))
      .agg(existsFlags.head, existsFlags.tail: _*)
      .select(col("__file"), explode(array(fields.zipWithIndex.map { case (f, i) =>
        when(col(s"__p$i"), lit(existsFp(f)))
      }: _*)).as("fingerprint"))
      .filter(col("fingerprint").isNotNull)

    // per-file "indexed at all" marker rides the exists pass
    val fileMarkers = withFile.select(col("__file")).distinct()
      .select(col("__file"), lit(sentinelFp("__file")).as("fingerprint"))

    // exact family: distinct (file, value) then hash — md5 per distinct value
    val exactPairs = (ExactFields & fields.toSet).toSeq.sorted.map { f =>
      withFile.select(col("__file"), qcol(df, f).cast("string").as("__v"))
        .filter(col("__v").isNotNull && col("__v") =!= "")
        .distinct()
        .select(col("__file"), fpCol(f, col("__v")).as("fingerprint"))
    }

    // trigram family: explode → distinct (file, trigram) → hash; files over
    // the cap lose the family AND its completeness sentinel
    val trigramPairs = (TrigramFields & fields.toSet).toSeq.sorted.flatMap { f =>
      val tg = withFile
        .select(col("__file"), explode(trigramsCol(qcol(df, f).cast("string"))).as("__t"))
        .distinct()
      val counted = tg.groupBy(col("__file"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxTrigramsPerFile)
        .select(col("__file"))
      val kept = tg.join(counted, Seq("__file"))
        .select(col("__file"), fpCol(f, col("__t")).as("fingerprint"))
      val sentinels = counted
        .select(col("__file"), lit(sentinelFp(f)).as("fingerprint"))
      Seq(kept, sentinels)
    }

    // sorted by fingerprint so the point-lookup read gets row-group stats
    // + a bloom filter on the probe column
    (Seq(existsPairs, fileMarkers) ++ exactPairs ++ trigramPairs)
      .reduce(_ union _)
      .distinct()
      .withColumnRenamed("__file", "file")
      .sortWithinPartitions(col("fingerprint"))
  }

  // ---- query side -----------------------------------------------------------

  /** And-or requirement tree over per-file fingerprint sets — the Spark
    * re-expression of the reference's `TrigramQuery` tree
    * (queryapi/logs_evaluator.go:208-231: QAnd/QOr nodes composed from
    * matchers, regex alternates, and trigram extraction, evaluated by
    * computeSegmentSet). A file is excluded from a scan only when the
    * tree PROVES it cannot match.
    */
  sealed trait ReqNode

  /** Leaf: an AND-set of fingerprints a matching file MUST contain for
    * `field`. `guarded`: the family may be cap-dropped per file, so
    * exclusion also requires that file's completeness sentinel (trigram
    * families).
    */
  final case class Requirement(field: String, fps: Seq[Long], guarded: Boolean)
    extends ReqNode
  /** all children must be satisfiable; `ReqAnd(Nil)` = no requirement */
  final case class ReqAnd(children: Seq[ReqNode]) extends ReqNode
  /** at least one child satisfiable; `ReqOr(Nil)` = no requirement (never
    * "exclude everything" — an empty OR only arises from degenerate input)
    */
  final case class ReqOr(children: Seq[ReqNode]) extends ReqNode

  /** every fingerprint (incl. guard sentinels) the tree may test */
  def wantedFps(n: ReqNode): Set[Long] = n match {
    case Requirement(f, fps, guarded) =>
      fps.toSet ++ (if (guarded) Set(sentinelFp(f)) else Set.empty)
    case ReqAnd(cs) => cs.flatMap(wantedFps).toSet
    case ReqOr(cs)  => cs.flatMap(wantedFps).toSet
  }

  /** can a file whose (wanted-filtered) fingerprint hit-set is `have`
    * still match? Conservative: a guarded leaf whose family sentinel is
    * absent answers yes (the family was cap-dropped — no evidence).
    */
  def canMatch(have: Set[Long], n: ReqNode): Boolean = n match {
    case Requirement(f, fps, guarded) =>
      (guarded && !have.contains(sentinelFp(f))) || fps.forall(have.contains)
    case ReqAnd(cs) => cs.forall(canMatch(have, _))
    case ReqOr(cs)  => cs.isEmpty || cs.exists(canMatch(have, _))
  }

  // ---- regex → requirements -------------------------------------------------

  /** Alternate values of a simple alternation regex — the reference's
    * tryExtractExactAlternates (queryapi/logs_evaluator.go:637-700):
    * top-level `|` split, every part a pure literal (escaped
    * metacharacters allowed). Matchers evaluate anchored (`^(?:pat)$`) so
    * a bare `a|b` IS a full-value alternation; explicit `^(...)$`,
    * `^(?:...)$`, `^...$` wrappings are accepted too. None when any part
    * has live metacharacters or the nesting is malformed.
    */
  def exactAlternates(pattern: String): Option[Seq[String]] = {
    val inner =
      if (pattern.startsWith("^(?:") && pattern.endsWith(")$"))
        pattern.substring(4, pattern.length - 2)
      else if (pattern.startsWith("^(") && pattern.endsWith(")$"))
        pattern.substring(2, pattern.length - 2)
      else if (pattern.length >= 2 && pattern.startsWith("^") && pattern.endsWith("$"))
        pattern.substring(1, pattern.length - 1)
      else pattern
    splitTopLevelPipe(inner).flatMap { parts =>
      val lits = parts.map(simpleLiteral)
      if (lits.forall(_.isDefined)) Some(lits.map(_.get)) else None
    }
  }

  /** split on `|` at nesting depth 0 (escape-aware); None if unbalanced */
  private def splitTopLevelPipe(s: String): Option[Seq[String]] = {
    val parts = scala.collection.mutable.Buffer[String]()
    val cur = new StringBuilder
    var depth = 0; var esc = false; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (esc) { cur.append(c); esc = false }
      else c match {
        case '\\' => cur.append(c); esc = true
        case '(' | '[' | '{' => depth += 1; cur.append(c)
        case ')' | ']' | '}' =>
          depth -= 1; cur.append(c); if (depth < 0) return None
        case '|' if depth == 0 => parts += cur.toString; cur.clear()
        case other => cur.append(other)
      }
      i += 1
    }
    if (depth != 0 || esc) None
    else { parts += cur.toString; Some(parts.toSeq) }
  }

  /** unescaped value iff the part is a pure literal (only escaped
    * punctuation; `\d`-style classes and backrefs disqualify)
    */
  private def simpleLiteral(part: String): Option[String] = {
    val meta = ".+*?()[]{}|^$"
    val out = new StringBuilder
    var i = 0
    while (i < part.length) {
      val c = part.charAt(i)
      if (c == '\\') {
        if (i + 1 >= part.length) return None
        val e = part.charAt(i + 1)
        if (e.isLetterOrDigit) return None
        out.append(e); i += 2
      } else if (meta.indexOf(c.toInt) >= 0) return None
      else { out.append(c); i += 1 }
    }
    Some(out.toString)
  }

  /** Literal character runs EVERY match of the pattern must contain — the
    * conservative core of the reference's trigram extraction from regex
    * literal runs (addAndNodeFromPattern → index.RegexpQuery,
    * queryapi/logs_evaluator.go:540-577). The walk breaks a run at any
    * construct whose contribution to the match is not guaranteed: groups,
    * classes, and `.` claim nothing; `?`/`*`/`{` make the preceding char
    * optional (dropped from the run); `+` keeps the char but breaks
    * contiguity after it; a top-level `|` voids all claims (no single run
    * is required by both branches). Runs shorter than a trigram are
    * discarded. Malformed patterns claim nothing.
    */
  def literalRuns(pattern: String): Seq[String] = {
    val runs = scala.collection.mutable.Buffer[String]()
    val cur = new StringBuilder
    def flush(): Unit = { if (cur.nonEmpty) { runs += cur.toString; cur.clear() } }
    def dropLastAndFlush(): Unit = {
      if (cur.nonEmpty) cur.setLength(cur.length - 1); flush()
    }
    var i = 0; val n = pattern.length; var ok = true
    while (i < n && ok) {
      pattern.charAt(i) match {
        case '\\' =>
          if (i + 1 >= n) { ok = false }
          else {
            val e = pattern.charAt(i + 1)
            if (e.isLetterOrDigit) flush() // class / anchor escape / backref
            else cur.append(e)             // escaped punctuation is literal
            i += 2
          }
        case '|' => ok = false // top-level alternation: nothing required
        case '(' =>
          var depth = 1; var j = i + 1; var esc = false
          while (j < n && depth > 0) {
            val ch = pattern.charAt(j)
            if (esc) esc = false
            else if (ch == '\\') esc = true
            else if (ch == '(') depth += 1
            else if (ch == ')') depth -= 1
            j += 1
          }
          if (depth != 0) ok = false
          flush(); i = j
        case '[' =>
          var j = i + 1; var esc = false; var closed = false
          if (j < n && pattern.charAt(j) == '^') j += 1
          if (j < n && pattern.charAt(j) == ']') j += 1 // leading ] is literal
          while (j < n && !closed) {
            val ch = pattern.charAt(j)
            if (esc) esc = false
            else if (ch == '\\') esc = true
            else if (ch == ']') closed = true
            j += 1
          }
          if (!closed) ok = false
          flush(); i = j
        case '.' => flush(); i += 1
        case '*' | '?' => dropLastAndFlush(); i += 1
        case '+' => flush(); i += 1 // char required ≥once; contiguity ends
        case '{' =>
          dropLastAndFlush()
          while (i < n && pattern.charAt(i) != '}') i += 1
          if (i < n) i += 1 else ok = false
        case '^' | '$' => flush(); i += 1
        case c => cur.append(c); i += 1
      }
    }
    if (!ok) Nil
    else { flush(); runs.toSeq.filter(_.length >= 3) }
  }

  /** Requirement tree for a `=~` matcher / label filter — the reference's
    * priority (queryapi/logs_evaluator.go:258-271): exact alternates on
    * an exact-indexed field beat trigram extraction beat nothing. An
    * empty alternate (pattern can match "", so the label may be absent)
    * or a run-free pattern claims nothing — never over-prunes.
    */
  def regexRequirement(field: String, pattern: String): Option[ReqNode] =
    exactAlternates(pattern) match {
      case Some(vals) if vals.nonEmpty && vals.forall(_.nonEmpty)
          && ExactFields.contains(field) =>
        Some(ReqOr(vals.map(v => Requirement(field,
          Seq(existsFp(field), fingerprint(field, v)), guarded = false))))
      case _ if TrigramFields.contains(field) =>
        val tris = literalRuns(pattern).flatMap(trigrams).distinct.sorted
        if (tris.isEmpty) None
        else Some(ReqAnd(Seq(
          // a required literal run ⇒ the value is non-empty ⇒ the field
          // must exist in a matching file (exists family is unguarded)
          Requirement(field, Seq(existsFp(field)), guarded = false),
          Requirement(field, tris.map(t => fingerprint(field, t)), guarded = true))))
      case _ => None
    }

  /** Conservative requirement tree from a LogQL pipeline — mirrors the
    * reference's exact > trigram > exists priority
    * (queryapi/logs_evaluator.go:244-306) with the subset that can never
    * over-prune:
    *
    *  - `=` matchers (non-empty value: empty means "label absent", which
    *    an exists fp would wrongly prune);
    *  - `=~` matchers via [[regexRequirement]] (exact-alternate OR-sets,
    *    literal-run trigram ANDs);
    *  - pre-parser label filters — `=`/`=~` string filters BEFORE any
    *    stage that can create or rewrite labels reference selector-level
    *    (ingested) columns, the reference's ParserIdx==nil case
    *    (queryapi/logs_evaluator.go:276-306);
    *  - `|=` contains and `|~` regex line filters BEFORE any
    *    line-rewriting stage (later filters see a line_format-rewritten
    *    line the index never saw).
    *
    * Negation contributes nothing.
    */
  def requirementTreeFor(pipeline: graft.logql.LogPipeline): ReqNode = {
    import graft.logql._
    import graft.promql.MatchOp
    val fromMatchers: Seq[ReqNode] = pipeline.matchers.flatMap { m =>
      m.op match {
        case MatchOp.Eq if m.value.nonEmpty && ExactFields.contains(m.label) =>
          Some(Requirement(m.label,
            Seq(existsFp(m.label), fingerprint(m.label, m.value)), guarded = false))
        case MatchOp.Eq if m.value.nonEmpty =>
          Some(Requirement(m.label, Seq(existsFp(m.label)), guarded = false))
        case MatchOp.Re => regexRequirement(m.label, m.value)
        case _ => None
      }
    }
    val preParser = pipeline.stages.takeWhile {
      case _: JsonStage | _: LogfmtStage | _: RegexpStage | _: PatternStage
         | _: LabelFormatStage | _: LabelReplaceStage => false
      case _ => true
    }
    val fromLabelFilters: Seq[ReqNode] = preParser.flatMap {
      case LabelFilter(label, "=" | "==", v, false) if v.nonEmpty =>
        if (ExactFields.contains(label))
          Some(Requirement(label,
            Seq(existsFp(label), fingerprint(label, v)), guarded = false))
        else Some(Requirement(label, Seq(existsFp(label)), guarded = false))
      case LabelFilter(label, "=~", v, false) => regexRequirement(label, v)
      case _ => None
    }
    val preRewrite = pipeline.stages.takeWhile {
      case _: LineFormatStage | DecolorizeStage => false
      case _ => true
    }
    val fromLineFilters: Seq[ReqNode] = preRewrite.flatMap {
      case LineFilter(LineFilterOp.Contains, needle) if trigrams(needle).nonEmpty =>
        Some(Requirement(BodyField,
          trigrams(needle).toSeq.sorted.map(t => fingerprint(BodyField, t)),
          guarded = true))
      case LineFilter(LineFilterOp.Regex, pat) =>
        val tris = literalRuns(pat).flatMap(trigrams).distinct.sorted
        if (tris.isEmpty) None
        else Some(Requirement(BodyField,
          tris.map(t => fingerprint(BodyField, t)), guarded = true))
      case _ => None
    }
    ReqAnd(fromMatchers ++ fromLabelFilters ++ fromLineFilters)
  }

  /** flat-AND compatibility shim over [[requirementTreeFor]] for callers
    * that predate the tree (kept: the leaf list is also a convenient unit
    * under test)
    */
  def requirementsFor(pipeline: graft.logql.LogPipeline): Seq[Requirement] =
    requirementTreeFor(pipeline) match {
      case ReqAnd(cs) => cs.collect { case r: Requirement => r }
      case r: Requirement => Seq(r)
      case _ => Nil
    }

  /** observability: index parquet reads performed (tests assert one read
    * services a whole multi-leaf query)
    */
  val indexReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Balanced boolean fold: `reduce(_ || _)` nests N-deep and every
    * Column-tree walker (the Column→Expression converter first) recurses
    * per node, so an OR-set of ~1000+ requirements — a real exemplar
    * pivot's trace-id list at lake scale — StackOverflowed the PLANNER
    * before any data was touched (found by the r17 sf1 sweep). Pairwise
    * grouping keeps the tree log₂(N) deep: 5000 terms nest 13 levels.
    */
  private def balanced(cs: Seq[Column],
      op: (Column, Column) => Column): Column = {
    var cur = cs.toIndexedSeq
    while (cur.size > 1)
      cur = cur.grouped(2)
        .map(g => if (g.size == 2) op(g(0), g(1)) else g(0)).toIndexedSeq
    cur.head
  }

  /** Column twin of [[canMatch]]: the requirement tree evaluated over a
    * per-file hit ARRAY, so tree evaluation runs inside the executors and
    * only decided FILE PATHS ever reach the driver. All folds are
    * [[balanced]] — tree depth is log₂(children), never children.
    */
  private[graft] def canMatchCol(have: Column, n: ReqNode): Column = n match {
    case Requirement(f, fps, guarded) =>
      val all =
        if (fps.isEmpty) lit(true)
        else balanced(fps.map(fp => array_contains(have, lit(fp))), _ && _)
      if (guarded) !array_contains(have, lit(sentinelFp(f))) || all else all
    case ReqAnd(cs) =>
      if (cs.isEmpty) lit(true)
      else balanced(cs.map(canMatchCol(have, _)), _ && _)
    case ReqOr(cs) =>
      if (cs.isEmpty) lit(true)
      else balanced(cs.map(canMatchCol(have, _)), _ || _)
  }

  /** The exclusion computation as a DataFrame — single column `file`, one
    * row per provably non-matching indexed file. None when no index exists
    * (or it is unreadable — degrading to "no pruning" is always correct).
    * The whole tree batch is ONE filtered aggregation over the index
    * (predicate on `fingerprint` pushes into the index's bloom filter) with
    * the and-or tree evaluated as a Column over each file's hit array:
    * nothing per-file ever materializes on the driver — at millions of
    * segments (100 TB) the driver cost is bounded by the EXCLUDED-path
    * list, which the caller needs anyway to build the pruned scan.
    */
  def exclusionFrame(spark: SparkSession, segDir: String,
      trees: Seq[ReqNode]): Option[DataFrame] = {
    if (trees.isEmpty || trees.exists(t => wantedFps(t).isEmpty)) return None
    val fileMarker = sentinelFp("__file")
    val wanted = trees.flatMap(wantedFps).toSet + fileMarker
    // cached probe: "no index" costs one LIST per TTL window, not one
    // exists()+read per query (graft.api.ScanCache caches the miss too)
    val idx = graft.api.ScanCache.tryRead(spark, indexPath(segDir)) match {
      case Some(d) => d
      case None => return None
    }
    indexReads.incrementAndGet()
    val hits = idx
      .filter(col("fingerprint").isin(wanted.toSeq: _*))
      .groupBy(col("file"))
      .agg(collect_set(col("fingerprint")).as("fps"))
    // excluded ⇔ indexed (file marker present) ∧ NO leaf tree can match
    val excluded = balanced(trees.map(t => !canMatchCol(col("fps"), t)), _ && _)
    Some(hits
      .filter(array_contains(col("fps"), lit(fileMarker)) && excluded)
      .select(col("file")))
  }

  /** Files under segDir that may be EXCLUDED from a scan serving ALL the
    * given leaves (one tree per query leaf — binop sides, selectors): a
    * file is skipped only when EVERY leaf proves it cannot match. The
    * whole batch costs ONE index read regardless of leaf count (the
    * reference likewise fetches the union of fingerprints in one lookup,
    * then evaluates the tree against the result,
    * queryapi/logs_evaluator.go:306-330). Only file PATHS are collected —
    * never per-file fingerprint sets (see [[exclusionFrame]]).
    */
  def excludedForTrees(spark: SparkSession, segDir: String,
      trees: Seq[ReqNode]): Set[String] =
    exclusionFrame(spark, segDir, trees) match {
      case None => Set.empty
      case Some(df) => df.collect().map(_.getString(0)).toSet
    }

  /** Files under segDir that may be EXCLUDED from the scan: indexed files
    * positively known to lack a required fingerprint (single flat-AND
    * leaf).
    */
  def excludedFiles(spark: SparkSession, segDir: String,
      reqs: Seq[Requirement]): Set[String] =
    excludedForTrees(spark, segDir, Seq(ReqAnd(reqs)))

  /** Read the log segments minus an excluded-file set (lossless: callers
    * only pass files provably non-matching; unindexed files are never in
    * the set). Empty exclusions → plain full scan.
    */
  def prunedRead(spark: SparkSession, segDir: String,
      excluded: Set[String]): DataFrame = {
    // served from the scan-listing cache: the unfiltered read was one
    // whole-store LIST (+ mergeSchema footer reads) per query — per SSE
    // slice on the sliced routes (graft.api.ScanCache)
    val full = graft.api.ScanCache.read(spark, segDir, mergeSchema = true)
    if (excluded.isEmpty) return full
    val keep = graft.api.ScanCache.inputFiles(spark, segDir,
      mergeSchema = true).map(normPath).filterNot(excluded).toSeq
    if (keep.isEmpty) full.where(lit(false))
    else spark.read.option("mergeSchema", "true").option("basePath", segDir)
      .parquet(keep: _*)
  }

  /** Read the log segments with index-pruned file list for one pipeline.
    * Falls back to the full scan when there is no index or no requirement.
    */
  def scanLogs(spark: SparkSession, segDir: String,
      pipeline: graft.logql.LogPipeline): DataFrame =
    prunedRead(spark, segDir,
      excludedForTrees(spark, segDir, Seq(requirementTreeFor(pipeline))))

  /** `file:///a/b`, `file:/a/b`, `/a/b` → `/a/b` (input_file_name and
    * DataFrame.inputFiles render schemes differently)
    */
  def normPath(p: String): String =
    try {
      val u = new java.net.URI(p)
      if (u.getScheme != null && u.getPath != null) u.getPath else p
    } catch { case _: Exception => p }

  private def normPathCol(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z0-9]+:/+", "/")
}
