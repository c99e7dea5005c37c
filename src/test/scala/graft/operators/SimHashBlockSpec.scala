package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.util.Random

/** The Manku 3-of-6 block keys must be an EXACT drop-in for the 16-bit
  * chunk scheme: exhaustive for hamming ≤ 3 (the pigeonhole guarantee),
  * and — because the query verifies candidates by exact hamming — the
  * verified pair set must be scheme-independent on real text.
  */
class SimHashBlockSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  override def afterAll(): Unit = spark.stop()

  test("block keys: 20 combo-tagged keys, exhaustive for hamming <= 3") {
    val rnd = new Random(42)
    for (_ <- 1 to 200) {
      val h = rnd.nextLong()
      val ka = Dedup.simHashBlockKeys(h)
      assert(ka.length == 20)
      // combo tags make keys from different combos distinct namespaces
      assert(ka.map(_ >>> 34).toSeq == (0L until 20L))
      // flip up to 3 random bits: at least one shared key must survive
      val flips = 1 + rnd.nextInt(3)
      var h2 = h
      (1 to flips).foreach(_ => h2 ^= 1L << rnd.nextInt(64))
      val kb = Dedup.simHashBlockKeys(h2)
      assert(ka.zip(kb).exists { case (x, y) => x == y },
        s"hamming ${Dedup.hamming(h, h2)} pair shared no block key")
    }
    // 4 flips in 4 distinct blocks CAN evade 3-of-6 only when ≥4 blocks
    // are touched — construct one to document the boundary is exactly 3
    val h = 0L
    val h4 = h ^ (1L << 0) ^ (1L << 11) ^ (1L << 22) ^ (1L << 33)
    val shared = Dedup.simHashBlockKeys(h).zip(Dedup.simHashBlockKeys(h4))
      .count { case (x, y) => x == y }
    assert(shared == 0)
  }

  private def pairsWith(docs: DataFrame, keyUdf: UserDefinedFunction): Set[(Long, Long, Long)] = {
    val sigs = docs
      .withColumn("sh", Dedup.simHash64Udf(col("text")))
      .withColumn("chunks", keyUdf(col("text")))
    val buckets = sigs.select(col("doc_id"), col("sh"),
      posexplode(col("chunks")).as(Seq("chunk", "ch")))
    buckets.as("x").join(buckets.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ch") === col("y.ch") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.sh").as("sha"), col("y.sh").as("shb"))
      .distinct()
      .withColumn("hamming", Dedup.hamming64Udf(col("sha"), col("shb")))
      .where(col("hamming") <= 3)
      .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("verified pair set is scheme-independent on the sf0.001 corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // plant near-dups: exact copies (hamming 0, guaranteed pairs) and
    // one-token-appended edits (small nonzero hamming)
    val copies = docs.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val edits = docs.select((col("doc_id") + 200000L).as("doc_id"),
      concat(col("text"), lit(" tail")).as("text"))
    val all = docs.unionByName(copies).unionByName(edits)
    val chunkPairs = pairsWith(all, Dedup.simHashChunksUdf)
    val blockPairs = pairsWith(all, Dedup.simHashBlockKeysUdf)
    assert(chunkPairs.nonEmpty, "fixture produced no hamming<=3 pairs")
    assert(chunkPairs == blockPairs,
      s"chunk-only: ${(chunkPairs -- blockPairs).take(5)}; " +
        s"block-only: ${(blockPairs -- chunkPairs).take(5)}")
  }
}
