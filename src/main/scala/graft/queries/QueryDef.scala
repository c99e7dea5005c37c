package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the Spark implementation plus (when expressible)
  * the equivalent DuckDB ANSI SQL the driver uses as a correctness oracle.
  *
  * Conventions that keep the oracle hash-compare stable:
  *   - every computed column is aliased identically on both sides;
  *   - both sides end in the same ORDER BY over non-null keys;
  *   - floating-point aggregates go through DECIMAL (exact, order-independent)
  *     and are cast back to DOUBLE, so parallel sum order can't flip bits;
  *   - computed integer columns are cast to BIGINT on the Spark side to match
  *     DuckDB's 64-bit default.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    /** queries worth timing in Bench at sf0.1 */
    headline: Boolean = false
)

/** Helpers shared by query definitions. */
object T {
  /** Parquet footer schema per path. Every bare `spark.read.parquet` call
    * runs a one-task schema-inference JOB before any query work; the bench
    * re-builds each query's frame fresh per rep, so that job (plus its
    * scheduling latency) was paid per table per execution. The schema of a
    * given path is immutable metadata — cache it and pass it explicitly, so
    * repeat reads skip the inference job entirely. Data is still scanned
    * from parquet on every action (this caches a StructType, never rows),
    * and each call still returns a fresh plan with fresh expression ids
    * (self-join safety is unchanged). Driver-side and version-checked on
    * every read, so neither a graft.geo.Memo nor a SessionMemo verdict.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  /** Version of a path = its current (mtime, length, child stats): a parquet
    * file REPLACED at the same path in-JVM (the adjacent comment documents
    * events.parquet shipping three encodings across rounds) re-infers
    * instead of silently reading the old schema — a stale schema yields
    * nulls for renamed columns rather than failing. The stat is a local
    * filesystem call, not a Spark job; directories fold in the child list
    * so a part-file rewrite inside one is caught too. The cache holds one
    * (version, schema) entry per path, replaced when the version changes.
    */
  private def versionKey(path: String): String = {
    val f = new java.io.File(path)
    val kids = if (f.isDirectory) {
      val l = f.listFiles()
      if (l == null) "" else l.sortBy(_.getName)
        .map(c => s"${c.getName}:${c.length}:${c.lastModified}").mkString(",")
    } else ""
    s"${f.length}:${f.lastModified}:$kids"
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val version = versionKey(path)
    val schema = schemaCache.compute(path, (_, cached) =>
      if (cached != null && cached._1 == version) cached
      else (version, spark.read.parquet(path).schema))._2
    spark.read.schema(schema).parquet(path)
  }

  /** The driver's events.parquet has shipped `ts` under three different
    * physical encodings across rounds: TIMESTAMP(NANOS) (readable only as a
    * nanosecond LONG via spark.sql.legacy.parquet.nanosAsLong),
    * TIMESTAMP_MICROS isAdjustedToUTC=1 (Spark TimestampType), and
    * TIMESTAMP_MICROS isAdjustedToUTC=0 (Spark TIMESTAMP_NTZ when
    * inferTimestampNTZ is on). The engine's event-time contract is exact
    * epoch-µs arithmetic under a UTC session, so normalize ALL of them to a
    * microsecond TimestampType here — event-time ops (watermarks,
    * session_window, unix_micros) require it. The session TZ is pinned UTC
    * (Sessions.local), so the NTZ→LTZ cast preserves the stored epoch-µs.
    */
  def normTs(df: DataFrame, c: String = "ts"): DataFrame =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(c, org.apache.spark.sql.functions.expr(s"timestamp_micros($c div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(c, org.apache.spark.sql.functions.col(c)
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    normTs(apply(spark, dir, "events"))
}
