package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
  * 2003 — public): per document, the distinct sliding-window minima of
  * the k-gram hash sequence, window w.
  *
  * Replaces the higher-order Column-algebra form — `transform(sequence)`
  * building one md5 per character THROUGH the interpreted HOF evaluator,
  * then `transform × array_min(slice)` costing O(len·w) interpreted
  * element reads — with ONE fused pass: code-point slicing, an
  * incremental MD5 per gram, and an O(len) monotonic-deque sliding
  * minimum (26 s task-CPU → ~1 s for the sf0.1 winnow rows).
  *
  * Bit parity with the Column form (and the DuckDB oracle replay):
  * grams are CODE-POINT slices of the input (Spark's `substr`
  * semantics), hashed as their UTF-8 bytes; the fingerprint is the
  * first 48 bits of the md5 (= `conv(substring(md5(g),1,12),16,10)`);
  * fewer than w grams yields an empty set (the Column form's explicit
  * guard); minima are compared by VALUE, so deque tie-handling cannot
  * diverge from array_min.
  */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_winnow_fps"

  override protected def nullSafeEval(input: Any): Any =
    WinnowFps.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.WinnowFps.compute($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

/** Native per-row MinHash signature — the streaming twin of
  * [[Dedup.minhash]]'s explode→groupBy form, fused into one pass:
  * word w-gram shingles (distinct), one md5 base hash per shingle, k
  * affine min-folds — semantically identical to [[graft.streaming
  * .StreamingDedup.rowSignature]]'s single-aggregate HOF fold, which
  * still re-entered the interpreted evaluator for every shingle × k
  * lane. Same hash family as the batch path and the DuckDB oracles:
  * base = first 48 bits of md5(shingle), lane j =
  * (base·(2j+1) + j·2654435761) mod 2^48. Docs with no shingles → null.
  */
case class MinHashSig(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.freshName("sig")
    nullSafeCodeGen(ctx, ev, c => s"""
      |org.apache.spark.sql.catalyst.util.ArrayData $v =
      |  graft.ops.MinHashSig.compute($c, $k, $w);
      |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v; }
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** Column-level per-row MinHash signature (see [[MinHashSig]]) */
  def sig(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(text), k, w))

  private val Mod = 1L << 48

  def compute(s: UTF8String, k: Int, w: Int): ArrayData = {
    // split parity with Dedup.shingles: split(text, " +") keeps leading
    // empty tokens (Java split with limit -1, Spark's StringSplit)
    val words = s.toString.split(" +", -1)
    if (words.length < w) return null
    val seen = new java.util.HashSet[String]()
    val mins = Array.fill(k)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= words.length - w) {
      sb.setLength(0)
      var j = 0
      while (j < w) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val sh = sb.toString
      // array_distinct parity: each distinct shingle feeds the fold once
      if (seen.add(sh)) {
        md.reset()
        md.update(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val d = md.digest()
        val h = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
          ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
          ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
        var lane = 0
        while (lane < k) {
          val v = (h * (2L * lane + 1) + lane * 2654435761L) % Mod
          if (v < mins(lane)) mins(lane) = v
          lane += 1
        }
      }
      i += 1
    }
    if (seen.isEmpty) null else new GenericArrayData(mins)
  }
}

/** Native distinct w-word shingle set — the fused construction pass
  * behind [[Dedup.stopShingles]], [[Dedup.ngramJaccard]] and
  * [[Retrieval.contamination]]. Replaces the interpreted HOF chain
  * (`transform(sequence) × array_join(slice)` then `array_distinct`,
  * O(len·w) element reads and string builds per doc through the
  * non-codegen HOF evaluator) with ONE JVM pass over the word array.
  *
  * Bit parity with [[Dedup.shingles]]'s Column form (and the DuckDB
  * oracle replays): `split(text, " +")` with Java limit -1 keeps
  * leading/trailing empty tokens; docs shorter than w words yield an
  * EMPTY array (the Column form's explicit otherwise-guard); distinct
  * keeps FIRST-SEEN order exactly like `array_distinct`.
  */
case class ShingleSet(child: Expression, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_shingle_set"

  override protected def nullSafeEval(input: Any): Any =
    ShingleSet.compute(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.ShingleSet.compute($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

object ShingleSet {
  /** Column-level distinct shingle set (see [[ShingleSet]]) */
  def shingles(text: Column, w: Int): Column =
    ColumnBridge.column(ShingleSet(ColumnBridge.expression(text), w))

  def compute(s: UTF8String, w: Int): ArrayData = {
    val words = s.toString.split(" +", -1)
    if (words.length < w)
      return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= words.length - w) {
      sb.setLength(0)
      var j = 0
      while (j < w) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { arr(o) = UTF8String.fromString(it.next()); o += 1 }
    new GenericArrayData(arr)
  }
}

/** Native per-row DSIR scorer — the streaming scoring twin of
  * [[Sampling.dsirScore]], fused into one pass per document: lowercase,
  * whitespace-split, word bigrams, one md5 bucket hash each, literal
  * weight lookup accumulated in POSITION ORDER (the identical fold order
  * and weight doubles as the batch join-and-fold, so the two agree
  * bit-for-bit). The Column-algebra form ran the md5 inside an
  * interpreted `aggregate` lambda — the rowSignature lesson (17 s
  * task-CPU at sf0.1; ~1 s fused). Returns struct(n_bigrams, score) or
  * null when the doc has no bigrams.
  */
case class DsirRowScore(child: Expression, weights: Array[Double],
    buckets: Int) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("dsir_score", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dsir_row_score"

  override protected def nullSafeEval(input: Any): Any =
    DsirRowScore.compute(input.asInstanceOf[UTF8String], weights, buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("dsirWeights", weights, "double[]")
    val v = ctx.freshName("sc")
    nullSafeCodeGen(ctx, ev, c => s"""
      |InternalRow $v = graft.ops.DsirRowScore.compute($c, $wRef, $buckets);
      |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v; }
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): DsirRowScore =
    copy(child = newChild)
}

object DsirRowScore {
  /** Column-level per-row DSIR score (see [[DsirRowScore]]) */
  def score(text: Column, weights: Array[Double], buckets: Int): Column =
    ColumnBridge.column(DsirRowScore(ColumnBridge.expression(text),
      weights, buckets))

  def compute(s: UTF8String, weights: Array[Double],
      buckets: Int): org.apache.spark.sql.catalyst.InternalRow = {
    // tokens() parity: split(lower(text), " +") then drop empty tokens —
    // lowercase via UTF8String (the lower() expression's own path)
    val words = s.toLowerCase.toString.split(" +", -1).filter(_.nonEmpty)
    val n = words.length - 1
    if (n < 1) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val bg = "0|" + words(i) + " " + words(i + 1)
      md.reset()
      md.update(bg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val d = md.digest()
      val h = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
        ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
        ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
      acc += weights((h % buckets).toInt)
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(n.toLong, acc / n.toDouble)
  }
}

object WinnowFps {
  /** Column-level winnowing selection (see [[WinnowFps]]) */
  def fps(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowFps(ColumnBridge.expression(text), k, w))

  def compute(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // code-point start offsets (grams slice by code point, like substr)
    val offs = new Array[Int](n + 1)
    var nChars = 0
    var i = 0
    while (i < n) {
      offs(nChars) = i
      nChars += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    offs(nChars) = n
    val nGrams = nChars - k + 1
    if (nGrams < w) return new GenericArrayData(Array.empty[Long])
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      md.reset()
      md.update(bytes, offs(g), offs(g + k) - offs(g))
      val d = md.digest()
      hs(g) = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
        ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
        ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
      g += 1
    }
    // O(n) sliding minimum over windows of w, distinct in first-seen order
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    val deque = new java.util.ArrayDeque[Integer]()
    var j = 0
    while (j < nGrams) {
      while (!deque.isEmpty && hs(deque.peekLast.intValue) >= hs(j))
        deque.pollLast()
      deque.addLast(j)
      if (deque.peekFirst.intValue <= j - w) deque.pollFirst()
      if (j >= w - 1) out.add(hs(deque.peekFirst.intValue))
      j += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var o = 0
    while (it.hasNext) { arr(o) = it.next().longValue; o += 1 }
    new GenericArrayData(arr)
  }
}


/** Native fused BPE tokenizer summary -- the hot-path twin of
  * [[TextOps.bpeApply]]'s Column form, which ran the ENTIRE merge chain
  * (|merges| regexp_replace nodes) through an interpreted `aggregate`
  * lambda per word. One pass per document: lowercase + whitespace split
  * (`tokens()` parity), per word the delimiter-string merge semantics
  * replayed on a token list (see below), one md5 checksum per word, all
  * in JVM code -- plus a per-thread LRU memo keyed by word, because a
  * Zipfian corpus re-tokenizes the same words endlessly (the vocabulary
  * is tiny next to the token stream; this is what makes per-ROW apply
  * the right 100 TB shape without a distinct-word join).
  *
  * Exact parity with the Column form (PropertySpec-pinned), including
  * its documented edge semantics: `bpeCharStr` char-splits with Java
  * regex `(.)`, which skips line terminators (LF CR NEL LS PS), so such
  * characters GLUE to the following char's token and a trailing one
  * forms an unterminated token that can never be the `y` of a merge
  * (the `(?=D)` lookahead requires a trailing delimiter). The list
  * replay: a token is "closed" unless it is the last token of a word
  * whose final char is a line terminator; merge (x, y) fuses adjacent
  * (x, closed-y) pairs left-to-right without overlap, resuming AFTER
  * the pair (the regex scan resumes at the shared lookahead delimiter).
  * Words containing the u0001 delimiter itself are corpus noise with
  * undefined tokenization in BOTH forms.
  *
  * Returns struct(nw, nc, nb, ck); ck is the sum over words of
  * pmod(hash48(space-joined tokens, 0), mod) in word order (exact
  * integer arithmetic).
  */
case class BpeApplySummary(child: Expression, merges: Array[String],
    mod: Long) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("nw", LongType, nullable = false),
    StructField("nc", LongType, nullable = false),
    StructField("nb", LongType, nullable = false),
    StructField("ck", LongType, nullable = false)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_bpe_apply_summary"

  override protected def nullSafeEval(input: Any): Any =
    BpeApplySummary.compute(input.asInstanceOf[UTF8String], merges, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("bpeMerges", merges, "java.lang.String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.BpeApplySummary.compute($c, $mRef, ${mod}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApplySummary =
    copy(child = newChild)
}

object BpeApplySummary {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /** Column-level fused BPE summary (see [[BpeApplySummary]]);
    * merges in rank order
    */
  def summary(text: Column, merges: Seq[(String, String)], mod: Long): Column =
    ColumnBridge.column(BpeApplySummary(ColumnBridge.expression(text),
      merges.flatMap(p => Seq(p._1, p._2)).toArray, mod))

  private final val CacheCap = 65536
  /** max distinct merge tables memoized per thread (one per live plan) */
  private final val MaxTables = 8

  // word -> (tokenCount, checksumTerm), per thread and per merge table
  // (keyed by the table's identity: one array object per plan)
  private val caches: ThreadLocal[java.util.IdentityHashMap[AnyRef,
      java.util.LinkedHashMap[String, Array[Long]]]] =
    ThreadLocal.withInitial(() =>
      new java.util.IdentityHashMap[AnyRef,
        java.util.LinkedHashMap[String, Array[Long]]]())

  private def isLineTerm(cp: Int): Boolean =
    cp == 0x0a || cp == 0x0d || cp == 0x85 || cp == 0x2028 || cp == 0x2029

  /** `bpeCharStr` + the rank-ordered merge passes + final split/join, on
    * a token list (equivalence argued in the class doc)
    */
  private def tokenizeWord(w: String, merges: Array[String]): Array[String] = {
    var toks = new java.util.ArrayList[String](w.length + 1)
    val cur = new java.lang.StringBuilder()
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      cur.appendCodePoint(cp)
      if (!isLineTerm(cp)) { toks.add(cur.toString); cur.setLength(0) }
      i += Character.charCount(cp)
    }
    val lastClosed = cur.length() == 0
    if (!lastClosed) toks.add(cur.toString)
    var m = 0
    while (m < merges.length) {
      val x = merges(m); val y = merges(m + 1)
      val n = toks.size()
      val out = new java.util.ArrayList[String](n)
      var j = 0
      while (j < n) {
        if (j + 1 < n && toks.get(j) == x && toks.get(j + 1) == y &&
            (j + 1 < n - 1 || lastClosed)) {
          out.add(x + y); j += 2
        } else { out.add(toks.get(j)); j += 1 }
      }
      toks = out
      m += 2
    }
    toks.toArray(new Array[String](toks.size()))
  }

  def compute(s: UTF8String, merges: Array[String], mod: Long): InternalRow = {
    // tokens() parity: split(lower(text), " +") then drop empties
    val words = s.toLowerCase.toString.split(" +", -1)
    val perTable = caches.get()
    var cache = perTable.get(merges)
    if (cache == null) {
      // bound the TABLE count too, not just entries per table: each plan
      // contributes a distinct merge-table array, so a long-lived service
      // running many BPE plans would otherwise accumulate dead tables'
      // memos forever (ADVICE r12). On overflow drop the lot — live
      // tables rebuild their memos in one batch's worth of words.
      if (perTable.size() >= MaxTables) perTable.clear()
      cache = new java.util.LinkedHashMap[String, Array[Long]](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[Long]]): Boolean =
          size() > CacheCap
      }
      perTable.put(merges, cache)
    }
    var nw = 0L; var nc = 0L; var nb = 0L; var ck = 0L
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (w.nonEmpty) {
        nw += 1
        nc += w.codePointCount(0, w.length)
        var v = cache.get(w)
        if (v == null) {
          val toks = tokenizeWord(w, merges)
          val joined = String.join(" ", toks: _*)
          val md = java.security.MessageDigest.getInstance("MD5")
          md.update(("0|" + joined).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val d = md.digest()
          val h = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
            ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
            ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
          v = Array(toks.length.toLong, h % mod)
          cache.put(w, v)
        }
        nb += v(0); ck += v(1)
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](nw, nc, nb, ck))
  }
}


/** Native word-bigram bucket ids -- the weight-LEARNING twin of
  * [[DsirRowScore]] (same tokenization, same md5 bucket hash, position
  * order), emitted as an array so the caller can explode + count per
  * bucket. Replaces the interpreted `zip_with` bigram construction and
  * Column md5 chain in [[Sampling.dsirWeights]]'s corpus pass. Docs with
  * no bigrams yield null.
  */
case class BigramBuckets(child: Expression, buckets: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bigram_buckets"

  override protected def nullSafeEval(input: Any): Any =
    BigramBuckets.compute(input.asInstanceOf[UTF8String], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.freshName("bb")
    nullSafeCodeGen(ctx, ev, c => s"""
      |org.apache.spark.sql.catalyst.util.ArrayData $v =
      |  graft.ops.BigramBuckets.compute($c, $buckets);
      |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v; }
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): BigramBuckets =
    copy(child = newChild)
}

object BigramBuckets {
  /** Column-level bigram bucket ids (see [[BigramBuckets]]) */
  def buckets(text: Column, b: Int): Column =
    ColumnBridge.column(BigramBuckets(ColumnBridge.expression(text), b))

  def compute(s: UTF8String, buckets: Int): ArrayData = {
    // tokens() parity with DsirRowScore: split(lower(text), " +"), drop empties
    val words = s.toLowerCase.toString.split(" +", -1).filter(_.nonEmpty)
    val n = words.length - 1
    if (n < 1) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val bg = "0|" + words(i) + " " + words(i + 1)
      md.reset()
      md.update(bg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val d = md.digest()
      val h = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
        ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
        ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
      out(i) = (h % buckets).toInt
      i += 1
    }
    new GenericArrayData(out.map(x => x: Any))
  }
}


/** Native word-bigram pairs -- the construction pass of
  * [[TextOps.bigramSurprisal]] fused into one JVM scan (the Column form
  * built pairs through interpreted zip_with/slice lambdas per element).
  * tokens() parity: split(lower(text), " +"), drop empties; returns
  * array<struct<w1,w2>> in position order (posexplode supplies the
  * position); docs with fewer than 2 words yield an empty array (the
  * Column form's explicit guard).
  */
case class WordBigramPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("w2", StringType, nullable = false))), containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_word_bigram_pairs"

  override protected def nullSafeEval(input: Any): Any =
    WordBigramPairs.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.WordBigramPairs.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): WordBigramPairs =
    copy(child = newChild)
}

object WordBigramPairs {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /** Column-level bigram pair array (see [[WordBigramPairs]]) */
  def pairs(text: Column): Column =
    ColumnBridge.column(WordBigramPairs(ColumnBridge.expression(text)))

  def compute(s: UTF8String): ArrayData = {
    val words = s.toLowerCase.toString.split(" +", -1).filter(_.nonEmpty)
    val n = math.max(0, words.length - 1)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(words(i)), UTF8String.fromString(words(i + 1))))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native k-word gram anchors — the anchor-construction pass of
  * [[Dedup.substrDup]] fused into one JVM scan. The Column form built
  * every gram through interpreted HOFs (`transform(sequence)` ×
  * `array_join(slice(words, i, k))` — O(len·k) interpreted element
  * reads per doc, the row's dominant task-CPU). Bit parity with that
  * form, term by term: words = split(text, " +") with NO lowercase, NO
  * empty-filter and trailing empties kept (Java regex split, limit −1 —
  * Spark's `split` semantics); gram = the k words joined by a single
  * space; hash = xxhash64 of the gram's UTF-8 bytes at Spark's seed 42
  * (the same `XxHash64Function` the Column expression evaluates); pos =
  * 0-based gram start. Docs with fewer than k words yield an empty
  * array (the Column form's explicit guard).
  */
case class WordGramAnchors(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("g", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_word_gram_anchors"

  override protected def nullSafeEval(input: Any): Any =
    WordGramAnchors.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.WordGramAnchors.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordGramAnchors =
    copy(child = newChild)
}

object WordGramAnchors {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function

  /** Column-level anchor array (see [[WordGramAnchors]]) */
  def anchors(text: Column, k: Int): Column =
    ColumnBridge.column(WordGramAnchors(ColumnBridge.expression(text), k))

  def compute(s: UTF8String, k: Int): ArrayData = {
    val words = s.toString.split(" +", -1)
    val n = words.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - k + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= n - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val g = XxHash64Function.hash(
        UTF8String.fromString(sb.toString),
        org.apache.spark.sql.types.StringType, 42L)
      out(i) = new GenericInternalRow(Array[Any](i, g))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** The Laplace-smoothed bigram LM of [[TextOps.bigramSurprisal]] as a
  * broadcast model: unigram counts, bigram counts (keyed "w1 w2" -- a
  * space-joined pair; tokens are space-split so the key cannot
  * collide), vocabulary size. The counts are EXACT corpus statistics
  * (integer aggregates the oracle replays identically), keyed by the
  * same tokens() tokenization the pair expression uses. Scale posture:
  * this is the CCNet shape -- the trained LM ships to every worker
  * (Wenzek et al. 2020 broadcast a KenLM the same way); the model is
  * statistics-table-sized (vocab + distinct bigrams), not corpus-sized,
  * and a 100 TB deployment would min-count-prune it before broadcast.
  */
final class BigramLmModel(
    val uni: java.util.HashMap[String, Long],
    val big: java.util.HashMap[String, Long],
    val vocab: Long) extends Serializable

/** Fused per-document bigram-LM surprisal scoring -- the model-lookup
  * join + position-ordered float fold of [[TextOps.bigramSurprisal]] in
  * ONE JVM pass per document (r18 VERDICT next-round #3: the exploded
  * per-position pair rows, the (w1,w2)-keyed count join, the w1-keyed
  * unigram join, and the per-doc collect_list+sort fold were the
  * catalog's largest task-CPU sink at 8-25 s).
  *
  * Bit parity with the Column/oracle form, term by term: tokenization =
  * split(lower(text), " +") drop empties (tokens() parity, same as
  * [[WordBigramPairs]]); per position i, sv = -ln((c2+1 AS DOUBLE) /
  * (c1+V AS DOUBLE)) with integer adds before the cast, exactly the
  * Column expression; the per-doc sum is a LEFT FOLD over sv in
  * position order seeded at 0.0 -- the same operation sequence as
  * aggregate(transform(array_sort(collect_list(struct(pos, sv)))), 0.0,
  * acc + v), so every intermediate double is bit-equal; mean =
  * sum / n_bigrams. Docs with fewer than 2 tokens return null (the
  * inner-join form emitted no row for them -- callers filter nulls).
  * The counts come from the same corpus, so a document's (w1,w2) and w1
  * are normally in the model. A source that changes between the count
  * jobs and the scoring job can still miss; a miss counts 0
  * (`getOrDefault`), which Laplace smoothing defines for unseen events.
  */
case class BigramSurprisalScore(child: Expression,
    model: org.apache.spark.broadcast.Broadcast[BigramLmModel])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("mean", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bigram_surprisal"

  override protected def nullSafeEval(input: Any): Any =
    BigramSurprisalScore.compute(input.asInstanceOf[UTF8String], model.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bigramLmBc", model,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.BigramSurprisalScore.compute($c, " +
        s"(graft.ops.BigramLmModel)$bcRef.value())")
  }

  override protected def withNewChildInternal(newChild: Expression): BigramSurprisalScore =
    copy(child = newChild)
}

object BigramSurprisalScore {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  def score(text: Column,
      model: org.apache.spark.broadcast.Broadcast[BigramLmModel]): Column =
    ColumnBridge.column(BigramSurprisalScore(ColumnBridge.expression(text), model))

  def compute(s: UTF8String, m: BigramLmModel): GenericInternalRow = {
    val words = s.toLowerCase.toString.split(" +", -1).filter(_.nonEmpty)
    val n = words.length - 1
    if (n < 1) return null
    val v = m.vocab
    var sum = 0.0
    var i = 0
    while (i < n) {
      val c2 = m.big.getOrDefault(words(i) + " " + words(i + 1), 0L)
      val c1 = m.uni.getOrDefault(words(i), 0L)
      sum += -math.log((c2 + 1).toDouble / (c1 + v).toDouble)
      i += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, sum / n.toDouble))
  }
}
