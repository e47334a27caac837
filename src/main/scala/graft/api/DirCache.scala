package graft.api

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

import org.apache.spark.sql.SparkSession

/** The one cache policy for segment-directory metadata: scan listings
  * ([[ScanCache]]), tier partitions, watermark sidecars and freq probes
  * ([[TierFreshness]]) are each one instance, keyed by something that
  * names a segment dir (`dirOf`).
  *
  * The reference answers "which segments, which tiers" with one indexed
  * PG lookup (lrdb/queries/metric_seg.sql:113-125); graft answers it with
  * filesystem listings and globs, which on an object store cost a LIST
  * per call — so every answer is reused for a short TTL, the way Spark's
  * catalog tables share one file index.
  *
  *  - TTL: one session conf key, [[TtlKey]] (default 30 s); 0 disables
  *    caching (every call loads afresh — for tests that mutate a store
  *    behind the writer APIs' back). An entry expires `ttl` after its
  *    load STARTED.
  *  - Bound: at most [[Cap]] entries per instance. An insert into a full
  *    cache first drops expired entries and those `live` rejects, then,
  *    if still full, evicts the entries that expire first.
  *  - Invalidation: [[DirCache.invalidate]] drops, in every instance, the
  *    entries whose dir is `dir`, a parent or a child of it (the streaming
  *    writer lands batches in subdirs while readers key the root) — the
  *    one hook every in-process writer calls, so a JVM always reads its
  *    own writes; cross-process staleness is bounded by the TTL.
  */
final class DirCache[K, V](dirOf: K => String,
    live: V => Boolean = (_: V) => true) {
  import DirCache._

  private final class Entry(val expiresAtNanos: Long, val value: V)
  private val map = new ConcurrentHashMap[K, Entry]()
  all.add(this)

  /** the cached value of `key` when unexpired and `accept`ed, else
    * `load` (cached unless the TTL is 0; a throwing load caches nothing)
    */
  def getOrLoad(spark: SparkSession, key: K,
      accept: V => Boolean = (_: V) => true)(load: => V): V = {
    val ttl = spark.conf.getOption(TtlKey).flatMap(_.toLongOption)
      .getOrElse(30000L)
    val now = System.nanoTime()
    if (ttl > 0) {
      val hit = map.get(key)
      if (hit != null && hit.expiresAtNanos > now && accept(hit.value))
        return hit.value
    }
    val v = load
    if (ttl > 0) synchronized {
      if (!map.containsKey(key) && map.size >= Cap) {
        map.values.removeIf(e => e.expiresAtNanos <= now || !live(e.value))
        val it = map.values.stream.sorted(
          java.util.Comparator.comparingLong[Entry](_.expiresAtNanos)).iterator
        while (map.size >= Cap && it.hasNext) map.values.remove(it.next())
      }
      map.put(key, new Entry(now + ttl * 1000000L, v))
    }
    v
  }

  def remove(key: K): Unit = map.remove(key)

  def invalidate(dir: String): Unit = {
    val d = dirKey(dir)
    map.keySet.removeIf { k =>
      val kd = dirKey(dirOf(k))
      kd == d || kd.startsWith(d + "/") || d.startsWith(kd + "/")
    }
  }

  def clear(): Unit = map.clear()

  private[graft] def size: Int = map.size

  private[graft] def values: Iterator[V] = {
    import scala.jdk.CollectionConverters._
    map.values.iterator.asScala.map(_.value)
  }
}

object DirCache {

  /** session conf key: TTL in ms of every segment-directory metadata
    * cache; 0 disables caching
    */
  val TtlKey = "spark.graft.scan.listTtlMs"

  /** entry cap of each cache instance */
  val Cap = 512

  private val all = new CopyOnWriteArrayList[DirCache[_, _]]()

  def dirKey(dir: String): String = dir.stripSuffix("/")

  /** drop every cached entry of `dir` (or a parent/child) in every cache */
  def invalidate(dir: String): Unit = all.forEach(_.invalidate(dir))

  /** drop every cached entry in every cache */
  def clear(): Unit = all.forEach(_.clear())
}
