package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A stream run cleans up after itself: staged sources and checkpoints
  * are gone when it returns, memory-sink views are dropped (the returned
  * frames still collect), and the scratch root dies with the JVM.
  */
class StreamRunSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  override def afterAll(): Unit = spark.stop()

  private def scratchEntries(): Set[String] = Scratch.root.toFile.list().toSet

  /** A data dir holding a one-file `events.parquet`, as the corpus ships it. */
  private def eventsDir(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_events")
    val written = dir.resolve("written")
    Seq((1L, 7L, "2025-01-01 00:10:00", "view", 1.5),
      (2L, 7L, "2025-01-01 00:40:00", "click", 2.25),
      (3L, 8L, "2025-01-01 01:05:00", "view", 4.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .withColumn("ts", $"ts".cast("timestamp"))
      .coalesce(1).write.parquet(written.toString)
    val part = Files.list(written).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, dir.resolve("events.parquet"))
    dir.toString
  }

  test("stream runs leave no staged source or checkpoint under the scratch root") {
    val dir = eventsDir()
    val before = scratchEntries()
    val a = EventStream.hourlyRollup(spark, dir)
    val b = EventStream.hourlyRollup(spark, dir)
    val rows = a.collect().toSeq
    assert(rows.map(_.toString) == Seq("[2025-01-01 00:00:00,click,1,2.25]",
      "[2025-01-01 00:00:00,view,1,1.5]", "[2025-01-01 01:00:00,view,1,4.0]"))
    assert(b.collect().toSeq == rows)
    assert(scratchEntries() == before)
  }

  test("memory-sink runs drop their temp views; the returned frames still collect") {
    import spark.implicits._
    def views(): Set[String] = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).filter(_.startsWith("graft_")).toSet
    val segs = Seq(
      (3L, 0L, "seg A text", "hA"),
      (100001L, 0L, "seg A text", "hA"),
      (100001L, 1L, "seg B text", "hB"))
      .toDF("doc_id", "seg_idx", "seg", "seg_h")
    val before = views()
    val (k1, _) = DocStream.segmentDedup(spark, segs)
    val (k2, _) = DocStream.segmentDedup(spark, segs)
    assert(views() == before)
    def picks(df: org.apache.spark.sql.DataFrame) = df.select("seg_h", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(picks(k1) == Set(("hA", 3L), ("hB", 100001L)))
    assert(picks(k2) == picks(k1))
  }

  test("a scratch directory is deleted when its JVM exits") {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val log = Files.createTempFile("graft_scratch_child", ".log")
    val child = new ProcessBuilder(java,
      s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}",
      "-cp", System.getProperty("java.class.path"), ScratchChild.getClass.getName.stripSuffix("$"))
      .redirectErrorStream(true).redirectOutput(log.toFile).start()
    assert(child.waitFor(120, TimeUnit.SECONDS), "child JVM did not exit")
    val out = new String(Files.readAllBytes(log))
    assert(child.exitValue() == 0, out)
    val written = out.linesIterator.collectFirst {
      case l if l.startsWith("wrote=") => Paths.get(l.stripPrefix("wrote="))
    }.getOrElse(fail(out))
    assert(!Files.exists(written.getParent.getParent), s"$written survived its JVM")
    Files.delete(log)
  }
}

/** Child JVM for the exit check: writes one file into a scratch dir,
  * prints its path and exits normally.
  */
object ScratchChild {
  def main(args: Array[String]): Unit = {
    val f = Scratch.dir("graft_child").resolve("payload.txt")
    Files.write(f, "x".getBytes("UTF-8"))
    println(s"wrote=$f")
  }
}
