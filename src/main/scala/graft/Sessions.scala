package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Shared session builder. Mirrors the reference's tuned execution envelope
  * (/root/reference/src/h3_indexer/spark/spark.py:76-136): AQE + partition
  * coalescing + skew-join, 128 MB partition sizing, capped records/file —
  * minus the Sedona/Kryo/Arrow pieces our all-JVM engine doesn't need.
  */
object Sessions {

  /** The reference's resolution-scaled shuffle-partition envelope
    * (spark/spark.py:14-23): higher H3 resolutions explode to more rows, so
    * shuffles need more partitions. Applied per-job by GraftJob.run; local
    * test sessions keep partitions = cores (a 32-thread JVM gains nothing
    * from 8000 partitions — documented divergence for local mode only).
    */
  val PartitionMapping: Map[Int, Int] = Map(
    3 -> 100, 4 -> 200, 5 -> 400, 6 -> 800,
    7 -> 1200, 8 -> 2000, 9 -> 4000, 10 -> 8000)

  def shufflePartitionsFor(h3Resolution: Int): Int =
    PartitionMapping.getOrElse(h3Resolution,
      PartitionMapping(h3Resolution.max(3).min(10)))
  /** The launcher's master if set (spark-submit passes it as a system
    * property, which `SparkConf` reads), else `local[cpus]`. */
  private[graft] def masterFor(conf: SparkConf, cpus: String): String =
    conf.getOption("spark.master").getOrElse(s"local[$cpus]")

  def local(cpus: String = sys.env.getOrElse(
              "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString),
            shufflePartitions: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(masterFor(new SparkConf(), cpus))
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128m")
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.files.maxRecordsPerFile", "500000")
      // driver testdata events.parquet has shipped as TIMESTAMP(NANOS) (only
      // readable as a long) and as TIMESTAMP_MICROS isAdjustedToUTC=0 (NTZ).
      // Read NANOS as long (normalized back in queries.T.normTs) and read
      // µs-NTZ as plain TimestampType — the session TZ is UTC, so epoch-µs
      // values are identical either way. T.normTs still handles NTZ for
      // sessions that don't set this flag.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Allow shuffled-hash joins when the per-partition build side fits:
      // sort-merge pays two full sorts a hash join doesn't need (guide
      // §3.1/§9). Static planning keeps its conservative size conditions
      // (preferSortMergeJoin=false only lets the planner CHOOSE hash when
      // stats say the build side is small); the AQE threshold additionally
      // rewrites SMJ→SHJ at runtime when every post-shuffle partition is
      // under 128 MB — safely under execution memory per task at 4 GB+
      // executors. Measured r12 A/B (min-of-4, sf0.1): tpch_q21 1.13→0.95,
      // events_sessionize 0.63→0.57, dedup_minhash_lsh 1.03→0.98, rest
      // unchanged.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "134217728")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
