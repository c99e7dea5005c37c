package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Mechanics of the two-level IVF quantizer — the path that carries k past
  * IvfIndex.FlatCap without ever serializing a fine centroid into the
  * plan: (a) assignment must equal a driver-side brute-force argmin over
  * the SAME collected centroids (coarse then fine, first-min ties,
  * identical double arithmetic — VecOps.cosineDistAD mirrors
  * IvfIndex.cosineDist op-for-op); (b) training is deterministic; (c) the
  * codebook frame is kc-bounded with ≤ kf centroids per cell and cluster
  * ids pack into [0, kc·kf); (d) the codebook join broadcasts while the
  * fine matrix is small; (e) a null vector keeps its row with a null
  * cluster, matching the flat path's withColumn semantics.
  */
class IvfTwoLevelSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  override def afterAll(): Unit = spark.stop()

  // deterministic synthetic corpus: 8-dim vectors from hash mixes, no RNG
  private def corpus(n: Int): DataFrame =
    spark.range(n).select(col("id"),
      expr("transform(sequence(0, 7), " +
        "j -> cast(pmod(xxhash64(id * 8 + j), 997) as double) / 997.0)").as("v"))

  private def collectCodebooks(m: IvfIndex.TwoLevelModel): Map[Int, Array[Array[Double]]] =
    m.codebooks.collect().map { r =>
      r.getInt(0) -> r.getSeq[scala.collection.Seq[Double]](1)
        .map(_.toArray).toArray
    }.toMap

  test("assignment equals driver-side brute force over the collected model") {
    val e = corpus(300)
    val m = IvfIndex.trainTwoLevel(spark, e, k = 20, iters = 2)
    assert(m.coarse.centroids.length == 5 && m.kf == 4) // kc=ceil(sqrt(20))
    val books = collectCodebooks(m)
    val got = IvfIndex.assignTwoLevel(e, col("v"), m, "cluster")
      .select("id", "v", "cluster").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2))).toSeq
    assert(got.size == 300)
    got.foreach { case (id, v, cl) =>
      val c = m.coarse.centroids.indices
        .minBy(i => (IvfIndex.cosineDist(m.coarse.centroids(i), v), i))
      val cb = books(c)
      val f = cb.indices.minBy(i => (IvfIndex.cosineDist(cb(i).toSeq, v), i))
      assert(cl == c.toLong * m.kf + f, s"row $id: got $cl, expected ${c * m.kf + f}")
    }
    // ids pack into [0, kc*kf) and the corpus spreads over multiple cells
    assert(got.forall { case (_, _, cl) => cl >= 0 && cl < 5L * 4 })
    assert(got.map(_._3).distinct.size >= 4)
  }

  test("training is deterministic and the codebook frame is kc-bounded") {
    val e = corpus(200)
    val m1 = IvfIndex.trainTwoLevel(spark, e, k = 12, iters = 2)
    val m2 = IvfIndex.trainTwoLevel(spark, e, k = 12, iters = 2)
    assert(m1.coarse.centroids.map(_.toSeq).toSeq ==
      m2.coarse.centroids.map(_.toSeq).toSeq)
    val (b1, b2) = (collectCodebooks(m1), collectCodebooks(m2))
    assert(b1.keySet == b2.keySet)
    b1.keys.foreach { c =>
      assert(b1(c).map(_.toSeq).toSeq == b2(c).map(_.toSeq).toSeq)
    }
    // kc rows at most, kf centroids per cell at most, every value finite
    assert(b1.size <= m1.coarse.centroids.length)
    b1.values.foreach { cb =>
      assert(cb.nonEmpty && cb.length <= m1.kf)
      cb.foreach(cent => assert(cent.length == 8 &&
        cent.forall(x => !x.isNaN && !x.isInfinite)))
    }
  }

  test("codebook join broadcasts while the fine matrix is small") {
    val e = corpus(100)
    val m = IvfIndex.trainTwoLevel(spark, e, k = 9, iters = 1)
    assert(m.fineBytes < (64L << 20))
    val plan = IvfIndex.assignTwoLevel(e, col("v"), m, "cluster")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("codebook is COMPLETE: one row per coarse cell, so new data never gets a null cluster") {
    import spark.implicits._
    // only 3 distinct vector VALUES but kc = 4 coarse seeds: duplicate
    // seeds collapse under first-min ties, so at least one coarse cell
    // ends training with ZERO members — exactly the stale-centroid case
    // where un-completed codebooks would null-cluster future data
    val dup = spark.range(120).select(col("id"),
      expr("transform(sequence(0, 7), " +
        "j -> cast(pmod(xxhash64(id % 3, j), 997) as double) / 997.0)").as("v"))
    val m = IvfIndex.trainTwoLevel(spark, dup, k = 16, iters = 2)
    val kc = m.coarse.centroids.length
    assert(m.codebooks.count() === kc.toLong,
      "every coarse cell must have a codebook row, occupied or not")
    assert(m.codebooks.where(col("c").isNull || col("cents").isNull).count() === 0)
    // DIFFERENT data than trained (train-once/assign-later usage): every
    // non-null vector must get a cluster — no silent null-cluster drops
    val fresh = corpus(500).withColumn("v",
      expr("transform(v, x -> x + 0.31d)"))
    val out = IvfIndex.assignTwoLevel(fresh, col("v"), m, "cluster")
    assert(out.count() === 500)
    assert(out.where(col("cluster").isNull).count() === 0,
      "a non-null vector must never be assigned a null cluster")
  }

  test("null vectors in the TRAINING corpus are ignored, not turned into codebook rows") {
    val e = corpus(150).withColumn("v",
      when(col("id") % 37 === 0, lit(null)).otherwise(col("v")))
    val m = IvfIndex.trainTwoLevel(spark, e, k = 9, iters = 2)
    assert(m.codebooks.where(col("c").isNull).count() === 0,
      "no NULL-keyed codebook row may survive training")
    val books = collectCodebooks(m)
    books.values.foreach(_.foreach(cent =>
      assert(cent != null && cent.forall(x => !x.isNaN))))
    // and the model still assigns everything (nulls → null, rest real)
    val out = IvfIndex.assignTwoLevel(e, col("v"), m, "cluster").collect()
    assert(out.length == 150)
    out.foreach { r =>
      val isNullV = r.isNullAt(r.fieldIndex("v"))
      assert(r.isNullAt(r.fieldIndex("cluster")) == isNullV)
    }
  }

  test("ragged member vectors leave no null element in any codebook entry") {
    // a quarter of the corpus is 2-dim and points away from the 8-dim
    // rest, so some fine cell has no member reaching dims 2..7: its
    // per-dim mean there is null and must not reach the codebook
    val ragged = spark.range(160).select(col("id"), expr(
      "case when id % 4 = 1 then array(0.01d * pmod(id, 7), 1.0d + 0.01d * pmod(id, 5)) " +
      "else transform(sequence(0, 7), j -> case " +
      "when j = 0 then 1.0d + 0.01d * pmod(xxhash64(id, j), 13) " +
      "when j = 1 then 0.01d * pmod(xxhash64(id, j), 11) " +
      "else cast(pmod(xxhash64(id, j), 997) as double) / 997.0 end) end").as("v"))
    val m = IvfIndex.trainTwoLevel(spark, ragged, k = 16, iters = 2)
    assert(m.coarse.centroids.head.length == 8) // fine means span 8 dims
    assert(m.codebooks.where(
      expr("exists(cents, cent -> cent is null or exists(cent, x -> x is null))")).count() === 0)
  }

  test("null vectors keep their rows with a null cluster (flat-path parity)") {
    val e = corpus(50)
    val m = IvfIndex.trainTwoLevel(spark, e, k = 9, iters = 1)
    val withNull = e.withColumn("v",
      when(col("id") === 7, lit(null)).otherwise(col("v")))
    val out = IvfIndex.assignTwoLevel(withNull, col("v"), m, "cluster")
      .select("id", "cluster").collect()
    assert(out.length == 50, "no row may be dropped on a null vector")
    val nullRows = out.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
    assert(nullRows == Set(7L))
  }
}
