package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session-scoped memo for driver-side verdicts (PK uniqueness,
  * polygon-split estimate, broadcast fit, corpus count); per-row executor
  * work memoizes in graft.geo.Memo instead. ARCHITECTURE.md "Session memo"
  * has the contract; in short:
  *   - a verdict is keyed by (plan digest, data-version signature, extra),
  *     all strings, so no key can pin a plan or a session;
  *   - a `compute` that throws propagates and is not cached;
  *   - each session holds at most [[MaxEntries]] verdicts (LRU), and a
  *     session is dropped with all its entries once it is unreachable.
  */
object SessionMemo {

  /** Verdicts kept per session, shared by every consumer. */
  val MaxEntries = 128

  private type Key = (String, String, String)

  private final class Verdicts
      extends java.util.LinkedHashMap[Key, AnyRef](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, AnyRef]): Boolean =
      size() > MaxEntries
  }

  /** Guarded by its own monitor. */
  private val sessions = new java.util.WeakHashMap[SparkSession, Verdicts]()

  private def verdicts[T](spark: SparkSession)(f: Verdicts => T): T =
    sessions.synchronized {
      var p = sessions.get(spark)
      if (p == null) { p = new Verdicts; sessions.put(spark, p) }
      f(p)
    }

  /** The memoized value of `compute` for `df`'s plan and input version.
    * `extra` names the consumer and every parameter the value depends on
    * (e.g. `"pk:<uid>"`); two consumers must never share an `extra`. `V` is
    * a plain verdict (boolean, count, estimate), never a plan or a frame.
    * `compute` runs outside the lock, so two threads may race to fill the
    * same key — both compute the same verdict.
    */
  def getOrCompute[V](df: DataFrame, extra: String)(compute: => V): V = {
    val key = (planDigest(df), dataVersionSig(df), extra)
    val spark = df.sparkSession
    val hit = verdicts(spark)(_.get(key))
    if (hit != null) hit.asInstanceOf[V]
    else {
      val v = compute
      verdicts(spark)(_.put(key, v.asInstanceOf[AnyRef]))
      v
    }
  }

  /** Session-independent plan identity: md5 of the canonicalized plan's
    * string PLUS its structural hashCode. The string alone is not faithful
    * for in-memory inputs (LocalRelation's toString omits the rows, so two
    * different literal datasets print identically; the hash folds the rows
    * in). */
  private def planDigest(df: DataFrame): String = {
    val p = df.queryExecution.analyzed.canonicalized
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(p.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    s"$md5:${p.hashCode}"
  }

  /** Input version: sorted input files + (length, mtime) for local ones —
    * cheap stats, no Spark job (the scan's file index already listed them).
    * A parquet input rewritten at the same path changes it; remote schemes
    * fall back to the path list, which parquet's unique part-file names
    * change on every rewrite anyway. */
  private def dataVersionSig(df: DataFrame): String = {
    val files = df.inputFiles
    if (files.isEmpty) ""
    else files.sorted.map { f =>
      val uri = java.net.URI.create(f)
      if (uri.getScheme == null || uri.getScheme == "file") {
        val jf = new java.io.File(uri.getPath)
        s"$f:${jf.length}:${jf.lastModified}"
      } else f
    }.mkString("\n")
  }
}
