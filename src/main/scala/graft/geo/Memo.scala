package graft.geo

/** The executor-side memos: per-row derived data (cell geometry, parsed
  * features, prepared polygons, shingle sets) built once per distinct key.
  * Both shapes share one API — `get(k)` is null on a miss, `put(k, v)`
  * stores `v` and returns it — so a hit allocates no thunk or closure.
  *
  * A key read from a row (a `UTF8String` over Spark's reused row buffer)
  * must be `copy()`d before `put`, so the stored key owns its bytes.
  * `clone()` is not enough: it keeps the backing array when the string
  * spans all of it.
  */
object Memo {

  val Stripes = 128

  /** splitmix64 finalizer: raw H3 longs have near-constant low bits (unused
    * digits are all 1s), so Long.hashCode % stripes would skew badly and
    * over-evict hot stripes.
    */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** JVM-wide long-keyed memo shared by every task thread, in [[Stripes]]
    * maps. A stripe at `stripeCap` is cleared alone, so one miss evicts at
    * most 1/128 of the memo. `put` counts the miss.
    */
  final class Striped[V <: AnyRef](var stripeCap: Int) {
    val misses = new java.util.concurrent.atomic.AtomicLong()
    private val stripes = Array.fill(Stripes)(
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long, V]())
    private def stripe(k: Long) = stripes((mix(k).toInt & 0x7fffffff) % Stripes)

    def get(k: Long): V = stripe(k).get(java.lang.Long.valueOf(k))

    def put(k: Long, v: V): V = {
      misses.incrementAndGet()
      val m = stripe(k)
      if (m.size >= stripeCap) m.clear()
      m.put(java.lang.Long.valueOf(k), v)
      v
    }

    def size: Int = stripes.iterator.map(_.size).sum
    def clear(): Unit = stripes.foreach(_.clear())
  }

  /** Per-thread access-order LRU of at most `cap` entries, for keys that
    * repeat within one task (a feature's WKT across its covering cells).
    */
  final class PerThread[K <: AnyRef, V <: AnyRef](cap: Int) {
    private val local = ThreadLocal.withInitial[java.util.LinkedHashMap[K, V]](
      () => new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size() > cap
      })

    def get(k: K): V = local.get().get(k)
    def put(k: K, v: V): V = { local.get().put(k, v); v }
  }
}
