package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The engine's one scratch root. Every staged input, checkpoint and
  * read-back directory is made under it, and the root is deleted
  * recursively once, at JVM exit, by Spark's shutdown hook (after the
  * SparkContext stops). Paths are local, so executors must share this
  * JVM's filesystem (local mode).
  */
object Scratch {
  lazy val root: Path = {
    val r = Files.createTempDirectory("graft_scratch")
    org.apache.spark.graft.ShutdownDelete.register(r.toFile)
    r
  }

  /** A fresh, empty directory under the root. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  def delete(p: Path): Unit = org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
}

/** Stages file-stream sources and drives streaming queries to completion
  * with `Trigger.AvailableNow`. Every streaming twin runs through here, so
  * this is the one place that reads `StreamingQueryProgress`.
  *
  * A run deletes its staged source and its checkpoint before it returns.
  * A memory-sink run also drops the sink's temp view: the returned frame
  * already holds the sink, so its rows outlive the view.
  */
object StreamRun {

  /** A staged parquet directory; each `stream()` is a fresh file stream
    * over it (a stream-stream self-join needs two).
    */
  final class Source private[StreamRun] (val dir: Path, spark: SparkSession,
      schema: StructType, options: Map[String, String]) {
    def stream(): DataFrame =
      spark.readStream.schema(schema).options(options).parquet(dir.toString)
  }

  /** `n` byte copies of one parquet file (`a_<name>`, `b_<name>`, ...) as
    * a file stream: `n = 2` is at-least-once redelivery. The bytes are not
    * rewritten, so the file's own `ts` encoding reaches `T.normTs`.
    */
  def copies(spark: SparkSession, file: String, n: Int = 1): Source = {
    val from = Paths.get(file)
    val dir = Scratch.dir("graft_stream_src")
    (0 until n).foreach { i =>
      Files.copy(from, dir.resolve(s"${('a' + i).toChar}_${from.getFileName}"))
    }
    new Source(dir, spark, spark.read.parquet(file).schema, Map.empty)
  }

  /** Ordered parts as one file stream: part i arrives after part i-1.
    * With `oneFilePerTrigger` each part is written as one file and read
    * as its own micro-batch.
    */
  def parts(spark: SparkSession, parts: Seq[DataFrame],
            oneFilePerTrigger: Boolean = false): Source = {
    val dir = Scratch.dir("graft_stream_parts")
    // The file-stream source orders files by modification time; parts
    // written back-to-back can land on the SAME mtime (filesystem
    // granularity) and a tie would let a later part process first. Pin
    // each part's files to a strictly increasing mtime so part order IS
    // arrival order.
    val base = System.currentTimeMillis() - (parts.length + 1) * 2000L
    parts.zipWithIndex.foreach { case (p, i) =>
      val partDir = dir.resolve(f"$i%05d_part")
      (if (oneFilePerTrigger) p.coalesce(1) else p).write.parquet(partDir.toString)
      val t = FileTime.fromMillis(base + i * 2000L)
      val listing = Files.list(partDir)
      try listing.forEach(f => Files.setLastModifiedTime(f, t))
      finally listing.close()
    }
    new Source(dir, spark, parts.head.schema,
      Map("recursiveFileLookup" -> "true") ++
        (if (oneFilePerTrigger) Map("maxFilesPerTrigger" -> "1") else Map.empty))
  }

  private val sinkSeq = new AtomicLong()

  /** Drive `df` (streaming from the staged `source`) into a memory sink.
    * Returns the sink's rows plus the number of non-empty micro-batches.
    */
  def toMemory(df: DataFrame, source: Path, mode: OutputMode): (DataFrame, Long) = {
    val spark = df.sparkSession
    val name = s"graft_stream_${sinkSeq.incrementAndGet()}"
    try {
      val q = drive(df.writeStream.format("memory").queryName(name).outputMode(mode), source)
      (spark.table(name), q.recentProgress.count(_.numInputRows > 0).toLong)
    } finally spark.catalog.dropTempView(name)
  }

  /** Drive `df` into an append-mode parquet sink; returns the sink
    * directory, which is read lazily and so lives until JVM exit.
    */
  def toParquet(df: DataFrame, source: Path, partitionBy: String*): Path = {
    val out = Scratch.dir("graft_stream_out")
    drive(df.writeStream.format("parquet").option("path", out.toString)
      .partitionBy(partitionBy: _*).outputMode(OutputMode.Append()), source)
    out
  }

  private def drive(w: DataStreamWriter[Row], source: Path): StreamingQuery = {
    val ckpt = Scratch.dir("graft_stream_ckpt")
    try {
      val q = w.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString).start()
      q.awaitTermination()
      q
    } finally {
      Scratch.delete(source)
      Scratch.delete(ckpt)
    }
  }
}
