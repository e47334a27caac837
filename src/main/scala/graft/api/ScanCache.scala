package graft.api

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cached segment-directory scan DataFrames — one [[DirCache]] instance,
  * beside [[TierFreshness]]'s tier-metadata instances, under the same TTL
  * ([[TtlKey]]), entry cap and invalidation hook ([[invalidate]]).
  *
  * Every `spark.read.parquet(dir)` constructs a fresh file index: a
  * recursive LIST of the whole store plus (under mergeSchema) a footer
  * read per file. The query doors pay that per REQUEST — and the sliced
  * SSE path per SLICE — where the reference pays one indexed PG lookup
  * (lrdb/queries/metric_seg.sql:113-125, log_seg.sql). On local/HDFS the
  * listing is cheap; on an S3 store with years of `dateint=` partitions
  * it is the dominant planning cost and an object-store LIST per
  * keystroke of dashboard autocomplete.
  *
  * A DataFrame is an immutable logical plan over the file snapshot taken
  * at construction, so reusing one across requests is exactly what
  * Spark's own catalog tables do with their shared InMemoryFileIndex —
  * this cache gives path-based reads the same property, bounded by a
  * short TTL. Staleness contract: in-process writers call [[invalidate]]
  * (segment writers, compaction, retention expiry, index builds), so one
  * JVM always reads its own writes; cross-process new segments become
  * visible within the TTL — well inside the ingest-to-queryable cadence
  * the reference's registration pipeline also has. A cached snapshot can
  * also reference files a CONCURRENT compaction just deleted; the swap
  * protocol keeps the window to the TTL and [[withSwapRetry]] re-plans
  * a request that hits it (the reference has the same index-vs-store
  * window between PG registration and S3 delete).
  *
  * Keyed per (session, dir, mergeSchema): a DataFrame belongs to the
  * session that built it, so entries never leak across sessions; TTL 0
  * disables caching entirely — every call lists afresh.
  */
object ScanCache {

  /** session conf key: TTL in ms of every segment-directory metadata
    * cache (listings here, tier metadata in [[TierFreshness]]); 0
    * disables caching
    */
  val TtlKey: String = DirCache.TtlKey

  /** `df` is None only for a cached MISS (path absent / unreadable) from
    * [[tryRead]] — the index-probe path, where "no index" is as cacheable
    * as the index itself. `files` materializes lazily: only exclusion
    * pruning needs the file list. `owner` pins the SESSION the DataFrame
    * was built by: the key carries only the session's identityHashCode,
    * which the JVM can reuse after the original session is collected —
    * without the reference-identity check a later session sharing the
    * hash would be served a plan bound to a stopped session. Weak, so the
    * cache never keeps a dead session (and its plans) alive; an entry
    * whose owner is gone is the first to go when the cache is full.
    */
  private final class Entry(
      val owner: java.lang.ref.WeakReference[SparkSession],
      val df: Option[DataFrame]) {
    lazy val files: Array[String] = df.map(_.inputFiles).getOrElse(Array.empty)
  }

  private val cache = new DirCache[(Int, String, Boolean), Entry](
    _._2, _.owner.get != null)
  // fresh file-index constructions actually performed — the spec gate
  // counts these across repeated door queries to pin ≤ one LIST per
  // (dir, TTL window)
  private val listings = new AtomicLong(0L)
  def listingCount: Long = listings.get()

  private def dirKey(dir: String): String = DirCache.dirKey(dir)

  /** The one invalidation hook of every in-process writer: drop every
    * cached listing AND tier-metadata entry touching `dir` (or a
    * parent/child — the streaming writer lands batches in subdirs while
    * readers key the root).
    */
  def invalidate(dir: String): Unit = DirCache.invalidate(dir)

  /** drop every cached entry — the swap-retry path for a serving layer
    * that does not know which of a request's dirs went stale (the caches
    * rebuild at one LIST per dir, so a rare whole-cache drop is cheap)
    */
  def invalidateAll(): Unit = DirCache.clear()

  private def load(spark: SparkSession, dir: String, mergeSchema: Boolean,
      swallowMissing: Boolean): Entry =
    cache.getOrLoad(spark, (System.identityHashCode(spark), dirKey(dir), mergeSchema),
        e => (e.owner.get eq spark) && (e.df.isDefined || swallowMissing)) {
      listings.incrementAndGet()
      val reader =
        if (mergeSchema) spark.read.option("mergeSchema", "true")
        else spark.read
      // the listing holds the dir's swap READ lock: a same-JVM compaction
      // swap (write side) can never interleave its missing-dir window here.
      // A probe checks existence first: a failed read of an absent path
      // makes Spark log an ERROR stack trace although the miss is expected.
      def list(): Option[DataFrame] =
        withSwapReadLock(dir) {
          if (!swallowMissing) Some(reader.parquet(dir))
          else if (!exists(spark, dir)) None
          else try Some(reader.parquet(dir))
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        }
      val df =
        try list()
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            // path absent: a crashed (or cross-process mid-flight) swap
            // leaves the data staged in .compact_old — restore and retry
            // once; a genuinely missing store rethrows as before
            recoverStaged(spark, dir)
            try list() catch { case _: Throwable => throw e }
        }
      // a positive entry may overwrite a cached miss (tryRead after the
      // path appeared); a miss is cached too — the no-index probe must not
      // cost a LIST per query either
      new Entry(new java.lang.ref.WeakReference(spark), df)
    }

  /** test hook: clear every cached entry's owner ref — simulates the JVM
    * reusing a collected session's identityHashCode for a NEW session
    * object (the collision the reference-identity check on hit guards).
    */
  private[graft] def orphanOwnersForTest(): Unit =
    cache.values.foreach(_.owner.clear())

  // ----------------------------------------------------- compaction swaps
  // The compactor's two-rename swap (Segments.compactWithSwap) has a
  // window where the live dir is briefly absent. The reference never has
  // this problem: its segments are immutable S3 objects and readers pick
  // a consistent set from the PG index (lrdb/queries/metric_seg.sql), so
  // compaction registers new files and retires old ones without a gap. A
  // filesystem store needs two mitigations instead:
  //  - same-JVM: a read/write lock per dir — the compactor holds the
  //    write side across its rename pair (microseconds), listings hold
  //    the read side, so an in-process reader can never observe the
  //    missing-dir window. A fixed table of lock stripes, indexed by the
  //    dir's hash, bounds the locks whatever the number of dirs: two dirs
  //    sharing a stripe only serialize a rename pair against the other's
  //    listings. No swap lock is ever taken while another is held, so a
  //    shared stripe cannot deadlock;
  //  - cross-process (or crashed compactor): a listing that finds the
  //    dir absent while `<dir>.compact_old` exists waits briefly for the
  //    swap to land, then restores the staged dir ([[recoverStaged]],
  //    the same routine the compactor runs on entry) and retries.

  private val swapLocks =
    Array.fill(64)(new java.util.concurrent.locks.ReentrantReadWriteLock())
  private def lockFor(dir: String) =
    swapLocks(Math.floorMod(dirKey(dir).hashCode, swapLocks.length))
  private[graft] def swapLockCount: Int = swapLocks.length

  /** held by [[graft.ingest.Segments.compactWithSwap]] around its rename
    * pair so same-JVM listings never race the swap window
    */
  private[graft] def withSwapWriteLock[T](dir: String)(body: => T): T = {
    val l = lockFor(dir).writeLock(); l.lock()
    try body finally l.unlock()
  }

  /** held around filesystem METADATA reads of `dir` too (TierFreshness's
    * partition globs): a glob landing in the rename window would silently
    * return zero partitions — degrading the fresh door to a wrong tier
    * condition, worse than an error — so metadata readers exclude the
    * same-JVM window exactly like listings do.
    */
  private[api] def withSwapReadLock[T](dir: String)(body: => T): T = {
    val l = lockFor(dir).readLock(); l.lock()
    try body finally l.unlock()
  }

  /** true when `t`'s failure is a planned-file-snapshot invalidation — a
    * compaction swap (or an equivalent rewrite) replaced files between an
    * action's planning and its execution: a FileNotFoundException anywhere
    * in the cause chain, or Spark's own stale-snapshot diagnosis.
    */
  def isVanishedSnapshot(t: Throwable): Boolean = {
    val seen = scala.collection.mutable.Set[Throwable]()
    def walk(e: Throwable): Boolean =
      e != null && seen.add(e) && {
        e.isInstanceOf[java.io.FileNotFoundException] ||
        Option(e.getMessage).exists(m =>
          m.contains("FileNotFoundException") ||
          m.contains("PATH_NOT_FOUND") ||
          m.contains("underlying files have been updated")) ||
        walk(e.getCause) || e.getSuppressed.exists(walk)
      }
    walk(t)
  }

  /** Run a door action (the terminal collect/write over scans of `dirs`),
    * retrying ONCE when a concurrent compaction invalidated the planned
    * file snapshot mid-flight: the retry drops the cached listings and
    * re-plans against the post-swap store. This is the serving-layer
    * analog of the reference re-resolving its segment set from the index
    * on the next request — without it, a request racing a compaction
    * surfaces a spurious 500 for data that never stopped existing.
    *
    * `action` MUST rebuild its DataFrames from the doors (which list via
    * this cache) rather than re-collecting a captured frame — a captured
    * frame pins the pre-swap file snapshot and would fail identically.
    * Empty `dirs` drops every cached entry (serving-layer form: the
    * route doesn't know which of a request's dirs went stale).
    */
  def withSwapRetry[T](spark: SparkSession, dirs: Seq[String])(
      action: => T): T =
    try action catch {
      case t: Throwable if isVanishedSnapshot(t) =>
        if (dirs.isEmpty) invalidateAll()
        else dirs.foreach { d => invalidate(d); recoverStaged(spark, d) }
        action
    }

  /** The staged-swap recovery of readers and the compactor alike: when
    * `dir` is absent but the compactor's staged `<dir>.compact_old`
    * exists, wait up to `waitMs` for an in-flight cross-process swap to
    * land; if the dir is STILL missing its compactor is dead — restore
    * the staged data. Readers wait (a live swap completes in
    * milliseconds and must not be stolen from); the compactor, recovering
    * a crashed predecessor on entry, passes 0. Throws when the restore
    * fails and the dir is still missing.
    */
  private[graft] def recoverStaged(spark: SparkSession, dir: String,
      waitMs: Long = 2000L): Unit = {
    val dirP = new org.apache.hadoop.fs.Path(dirKey(dir))
    val oldP = new org.apache.hadoop.fs.Path(dirKey(dir) + ".compact_old")
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def staged = !fs.exists(dirP) && fs.exists(oldP)
    var waited = 0L
    while (staged && waited < waitMs) { Thread.sleep(50); waited += 50 }
    if (staged && !fs.rename(oldP, dirP) && !fs.exists(dirP))
      throw new java.io.IOException(s"could not restore $dir from staged $oldP")
  }

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dirKey(dir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** `spark.read[.option(mergeSchema)].parquet(dir)`, served from the
    * cache when fresh. Throws like the underlying read when the path is
    * missing — failures are never cached (a store created a moment later
    * must not inherit a 30 s blind spot).
    */
  def read(spark: SparkSession, dir: String,
      mergeSchema: Boolean = false): DataFrame =
    load(spark, dir, mergeSchema, swallowMissing = false).df.get

  /** [[read]] returning None when the path is absent/unreadable — the
    * index-probe form. The miss IS cached (TTL-bounded): an index that
    * appears later becomes visible on expiry or on the builder's
    * invalidation.
    */
  def tryRead(spark: SparkSession, dir: String,
      mergeSchema: Boolean = false): Option[DataFrame] =
    load(spark, dir, mergeSchema, swallowMissing = true).df

  /** the cached scan's resolved file list (lazy per entry) — what
    * exclusion pruning intersects against instead of calling
    * `DataFrame.inputFiles` per query.
    */
  def inputFiles(spark: SparkSession, dir: String,
      mergeSchema: Boolean = false): Array[String] =
    load(spark, dir, mergeSchema, swallowMissing = false).files
}
