package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.model.{GeometryType, Method, VectorInput}
import graft.operators.{AnnLsh, Dedup}

/** Every session-scoped verdict memo, driven through its real consumer:
  * a repeated identical call launches no Spark job, a parquet input
  * rewritten in place is re-probed (and the verdict changes), a failing
  * probe is retried rather than cached, and a session used through every
  * consumer becomes collectable once unreferenced.
  */
class SessionMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  override def afterAll(): Unit = spark.stop()

  private val dir = java.nio.file.Files.createTempDirectory("graft_memo_spec").toFile
  dir.deleteOnExit()

  private def square(x: Double, y: Double, d: Double) =
    s"POLYGON (($x $y, ${x + d} $y, ${x + d} ${y + d}, $x ${y + d}, $x $y))"

  /** Version 1: 20 small squares with unique ids. Version 2 (the in-place
    * rewrite): 11 more rows, one a 10°-square giant past the split
    * threshold at res 7, and one reusing id 1. */
  private def write(path: String, version: Int): Unit = {
    import spark.implicits._
    val small = (1L to 20L).map(i => (i, square(10 + i * 0.1, 45, 0.01), i.toDouble))
    val extra = if (version == 1) Nil
      else (21L to 30L).map(i => (i, square(10 + i * 0.1, 46, 0.01), 1.0)) :+
        ((1L, square(20, 30, 10), 2.0))
    (small ++ extra).toDF("id", "wkt", "v").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  private val input = VectorInput("t", None, None, None, None, "id",
    GeometryType.Polygon, Some("wkt"), None, None, Method.PctArea, Seq("v"))

  /** A consumer: its probe's verdict on `df` (or the exception it threw,
    * by class name) on the original input and after the rewrite. */
  private case class Consumer(name: String, original: Any, rewritten: Any,
                              verdict: DataFrame => Any)

  private val consumers = Seq(
    Consumer("Validator.validate PK check", "unique", "ValidationError", { df =>
      GraftFunctions.register(df.sparkSession)
      Validator.validate(df.sparkSession, input, df); "unique" }),
    Consumer("PolySplit.shouldSplit", false, true, { df =>
      GraftFunctions.register(df.sparkSession)
      PolySplit.shouldSplit(df.select("wkt"), "wkt", 7) }),
    Consumer("Dedup.fitsBroadcast", true, false, Dedup.fitsBroadcast(_, maxRows = 25)),
    Consumer("AnnLsh.memoizedCount", 20L, 31L, AnnLsh.memoizedCount))

  /** Spark job ids are assigned in submission order, synchronously; a
    * one-job marker's id therefore bounds every job submitted before it,
    * without racing the asynchronous status listener. */
  private var lastMarker = -1
  private def marker(): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup("memo-spec-marker", "marker")
    try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    var ids = sc.statusTracker.getJobIdsForGroup("memo-spec-marker")
    while (ids.isEmpty || ids.max <= lastMarker) {
      assert(System.nanoTime() < deadline, "marker job never reached the status tracker")
      Thread.sleep(10)
      ids = sc.statusTracker.getJobIdsForGroup("memo-spec-marker")
    }
    lastMarker = ids.max
    lastMarker
  }

  /** (verdict or thrown exception's simple class name, jobs launched). */
  private def probe(c: Consumer, path: String): (Any, Int) = {
    val df = spark.read.parquet(path) // schema inference runs its own job
    val before = marker()
    val v = try c.verdict(df) catch {
      case e: RuntimeException => e.getClass.getSimpleName
    }
    (v, marker() - before - 1)
  }

  consumers.foreach { c =>
    test(s"${c.name}: memoized, re-probed after an in-place rewrite") {
      val path = new java.io.File(dir, c.name.replaceAll("\\W", "_")).getPath
      write(path, 1)
      val (first, firstJobs) = probe(c, path)
      assert(first == c.original)
      assert(firstJobs > 0, "the first call must run the probe")
      val (again, againJobs) = probe(c, path)
      assert(again == c.original)
      assert(againJobs == 0, "a repeated identical call must be answered from the memo")
      write(path, 2)
      val (rewritten, rewrittenJobs) = probe(c, path)
      assert(rewrittenJobs > 0, "an input rewritten in place must be re-probed")
      assert(rewritten == c.rewritten, "the verdict must follow the rewritten input")
    }
  }

  test("a failing probe is not cached: a duplicate-id input keeps throwing") {
    val path = new java.io.File(dir, "dup_ids").getPath
    write(path, 2)
    val pk = consumers.head
    for (attempt <- 1 to 2) {
      val (v, jobs) = probe(pk, path)
      assert(v == "ValidationError", s"attempt $attempt")
      assert(jobs > 0, s"attempt $attempt must re-run the check, not replay a verdict")
    }
  }

  test("a session used through every consumer is collectable once unreferenced") {
    val path = new java.io.File(dir, "collectable").getPath
    write(path, 1)
    def useChild(): java.lang.ref.WeakReference[SparkSession] = {
      val child = spark.newSession()
      // AQE submits stages on Spark's static cached pools (shuffle-exchange,
      // ResultQueryStageExecution); a pool thread spawned during the child's
      // query inherits the child as its active session and pins it until the
      // thread idles out (60 s). Off for the child only, so what is measured
      // is what the memo keeps.
      child.conf.set("spark.sql.adaptive.enabled", "false")
      val df = child.read.parquet(path)
      consumers.foreach(c => assert(c.verdict(df) == c.original, c.name))
      new java.lang.ref.WeakReference(child)
    }
    val ref = useChild()
    var rounds = 0
    while (ref.get != null && rounds < 50) {
      System.gc(); Thread.sleep(100); rounds += 1
    }
    assert(ref.get == null, "the memo must not keep an unreferenced session reachable")
  }
}
