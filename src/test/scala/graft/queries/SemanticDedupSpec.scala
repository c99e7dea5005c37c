package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Contract of the SemDeDup-style semantic dedup (dedup_semantic /
  * dedup_semantic_checked): the within-cluster pair search is EXHAUSTIVE —
  * against a brute-force all-pairs sweep it finds exactly the qualifying
  * pairs whose two vectors share a k-means cluster (misses are the
  * documented cross-cluster recall trade, never a within-cluster false
  * negative) — and the survivor pick keeps exactly one representative (the
  * component minimum) per semantic group.
  */
class SemanticDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

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

  /** Exhaustiveness holds under ANY quantizer: found pairs must be exactly
    * the same-cluster slice of a brute-force all-pairs sweep. Run for both
    * the flat path (what the test SFs execute) and the FORCED two-level
    * path (what executes past FlatCap).
    */
  private def exhaustivenessCheck(forceTwoLevel: Boolean): Unit = {
    val (_, assigned, pairsDf) =
      DedupQueries.semanticScaffold(spark, dir, forceTwoLevel)
    val found = pairsDf.select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: FULL all-pairs sweep (spec-only cross join), flagged by
    // whether the two vectors land in the same cluster
    graft.engine.GraftFunctions.register(spark)
    val x = assigned.select(col("vec_id").as("a"), col("cluster").as("ca"),
      col("ve").as("va"))
    val y = assigned.select(col("vec_id").as("b"), col("cluster").as("cb"),
      col("ve").as("vb"))
    val all = x.crossJoin(y).where(col("a") < col("b"))
      .withColumn("cos", round(expr("vec_cosine_native(va, vb)"), 6))
      .where(col("cos") >= 0.9)
      .select(col("a"), col("b"), (col("ca") === col("cb")).as("same"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val sameCluster = all.filter(_._3).map(t => (t._1, t._2)).toSet
    assert(sameCluster.nonEmpty, "corpus must contain same-cluster duplicates")
    assert(found === sameCluster)
    // the planted +0.05 copies guarantee qualifying pairs exist at all
    assert(all.nonEmpty)
    val nClusters = assigned.select("cluster").distinct().count()
    assert(nClusters >= 2, s"quantizer must split the corpus, got $nClusters")
  }

  test("within-cluster pairs equal the same-cluster slice of brute force") {
    exhaustivenessCheck(forceTwoLevel = false)
  }

  test("two-level quantizer: same exhaustiveness contract, codebooks as data") {
    exhaustivenessCheck(forceTwoLevel = true)
  }

  test("two-level checked twin: all contract booleans hold") {
    val row = DedupQueries.qs.find(_.name == "dedup_semantic_twolevel_checked").get
      .fn(spark, dir).head()
    val nEmb = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(row.getLong(0) == 2 * nEmb)
    assert(row.getLong(1) > 0)
    for (i <- 2 to 5) assert(row.getBoolean(i), s"contract boolean $i false: $row")
  }

  test("survivor pick: one representative (the component min) per group") {
    val out = DedupQueries.qs.find(_.name == "dedup_semantic").get
      .fn(spark, dir).collect()
    assert(out.nonEmpty)
    val reps = out.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    out.foreach { r =>
      val (id, rep, keep) = (r.getLong(0), r.getLong(1), r.getBoolean(2))
      assert(rep <= id, s"representative $rep must be the group min, got vs $id")
      assert(keep === (id == rep))
      assert(reps.contains(rep), s"group rep $rep must itself be kept")
    }
  }

  test("checked twin: counts match the table and every contract boolean holds") {
    val row = DedupQueries.qs.find(_.name == "dedup_semantic_checked").get
      .fn(spark, dir).head()
    val nEmb = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(row.getLong(0) == 2 * nEmb) // n_input
    assert(row.getLong(1) > 0)         // n_planted_ge_t
    for (i <- 2 to 5) assert(row.getBoolean(i), s"contract boolean $i false: $row")
  }

  test("kFor holds expected occupancy: floor 8, linear middle, 2^20 id-packing cap") {
    import graft.operators.IvfIndex.{kFor, FlatCap}
    assert(kFor(0) == 8 && kFor(10000) == 8)
    assert(kFor(1 << 20) == (1 << 20) / 2048)
    // linear THROUGH the old flat-plan ceiling — the two-level quantizer
    // carries k past FlatCap; only the id-packing cap at 2^20 remains
    assert(kFor(16L << 20) == (16L << 20) / 2048 &&
      kFor(16L << 20) > FlatCap)
    assert(kFor(1L << 40) == (1 << 20))
    val ns = Seq(1L, 100L, 1L << 14, 1L << 21, 1L << 30, 1L << 45)
    assert(ns.map(kFor) == ns.map(kFor).sorted)
  }
}
