package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale soak: a deterministic ~10× expansion of the sf0.1 corpus and a
  * same-JVM A/B of the dedup + ANN + h3 + text headline queries at sf0.1
  * vs 10×, reporting wall-time and shuffle-byte scaling factors. This
  * converts the "designed for 100 TB" plan-shape argument into a measured
  * slope: a query whose time scales ≫10× (or whose shuffle scales
  * super-linearly) has a hidden all-pairs/global stage the sf0.1 bench
  * can't see.
  *
  * Expansion design (replica k = 0..X−1, X ≤ 52):
  *  - documents: doc_id += k·10⁷; for k>0 the text goes through a per-k
  *    FULL-alphabet permutation (see [[alphabetPerms]]), so replicas are
  *    textually UNRELATED — the planted duplicate/near-dup rate stays
  *    constant instead of every doc gaining X−1 twins (which would grow
  *    candidate pairs quadratically and measure a different workload).
  *  - embeddings: vec_id += k·10⁷; the vector is dimension-ROTATED by k
  *    (norm-preserving, direction-changing) — cluster occupancy stays
  *    balanced, near-dup rate stays constant.
  *  - orders: o_orderkey += k·10⁷, o_custkey += k·10⁶ — the derived
  *    lat/lon lattice coordinates spread to fresh cells.
  *  - customer: NOT expanded (copied) — geo_spatial_join then measures
  *    10× points against a fixed polygon set (output ~10×); expanding
  *    both sides would grow the true result ~100× and conflate output
  *    growth with plan behavior.
  */
object Soak {
  /** Expansion factor (≤ 52 — see [[alphabetPerms]]). NOTE: the text
    * transform changed after round 10 (full-alphabet permutations), so
    * X=10 corpora regenerate differently than the round-10 table's; the
    * geo/embedding tables are unchanged.
    */
  val Reps: Int = sys.env.getOrElse("SPARK_GRAFT_SOAK_X", "10").toInt

  /** Corpus directory — versioned by the TRANSFORM, not just X: the _DONE
    * guard caches by path, so a machine holding a corpus generated with
    * the old a–j rotation must not silently reuse it after the
    * full-alphabet fix (the stale corpus has the cross-replica vocabulary
    * leak the fix removes). Bump the suffix when the expansion changes.
    */
  val SoakDir: String = s"/tmp/graft_soak_x${Reps}_p2"

  /** Per-replica permutation of the FULL alphabet 'a'..'z' (identity at
    * k=0): rotation by k for k=1..25, and rotation∘reversal for k≥26.
    *
    * Full alphabet matters: the round-10 harness rotated only 'a'..'j',
    * but the corpus vocabulary spans a..y — words with no a–j letter
    * ("sort", "slow", …) survived the transform UNCHANGED, so replicas
    * shared vocabulary and loose-threshold dedup (simhash hamming ≤ 3)
    * accumulated CROSS-replica pairs quadratically in the replica count
    * (measured: 84× output for 30× docs before this fix, 30.0× after).
    * Any two of these permutations agree on at most 2 letters (two
    * rotations: none; rotation vs rotation∘reversal: the mod-26 equation
    * c + j ≡ (25 − c) + k has ≤ 2 solutions), so no real word survives
    * from one replica to another — replicas are textually unrelated and
    * the planted duplicate rate stays constant at any X ≤ 52.
    */
  private def alphabetPerms(n: Int): IndexedSeq[String] = {
    require(n <= 52, "the rotation/reversal family supports at most 52 replicas")
    (0 until n).map { k =>
      val d = k % 26
      (0 until 26).map { i =>
        val base = if (k >= 26) 25 - i else i
        ('a' + (base + d) % 26).toChar
      }.mkString
    }
  }

  private val defaultQueries = Seq(
    "dedup_exact", "dedup_minhash_lsh", "embedding_neardup_lsh",
    "dedup_jaccard_prefix", "dedup_containment", "dedup_semantic",
    "sim_cosine_topk_bruteforce", "h3_index_points", "h3_index_lines",
    "h3_index_polygons", "h3_resolve_multi", "geo_spatial_join",
    "text_pack_sequences", "text_decontaminate", "corpus_curation")

  def generate(spark: SparkSession, src: String): Unit = {
    // GC superseded corpora: unversioned (pre-_p2) dirs hold the a-j
    // rotation data this transform replaced — multi-GB each, and a stale
    // _DONE there would mislead a manual run pointed at the old path
    val tmp = new java.io.File("/tmp")
    val stale = tmp.listFiles((_, n) =>
      n.startsWith("graft_soak_x") && !n.contains("_p"))
    if (stale != null) stale.foreach { d =>
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(d.toPath).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    if (new java.io.File(s"$SoakDir/_DONE").exists()) return
    val out = new java.io.File(SoakDir); out.mkdirs()

    def docs = spark.read.parquet(s"$src/documents.parquet")
    val perms = alphabetPerms(Reps)
    val docParts = (0 until Reps).map { k =>
      val from = "abcdefghijklmnopqrstuvwxyz"
      val to = perms(k)
      docs.select(
        (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        (if (k == 0) col("text") else translate(col("text"), from, to)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    docParts.reduce(_.unionByName(_)).repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$SoakDir/documents.parquet")

    def emb = spark.read.parquet(s"$src/embeddings.parquet")
    val embParts = (0 until Reps).map { k =>
      emb.select(
        (col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        (if (k == 0) col("embedding")
         else expr(s"concat(slice(embedding, ${k + 1}, ${64 - k}), slice(embedding, 1, $k))"))
          .as("embedding"),
        col("label"))
    }
    embParts.reduce(_.unionByName(_)).repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$SoakDir/embeddings.parquet")

    def orders = spark.read.parquet(s"$src/orders.parquet")
    val ordParts = (0 until Reps).map { k =>
      orders.select(
        (col("o_orderkey") + lit(k * 10000000L)).as("o_orderkey"),
        (col("o_custkey") + lit(k * 1000000L)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }
    ordParts.reduce(_.unionByName(_)).repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$SoakDir/orders.parquet")

    spark.read.parquet(s"$src/customer.parquet").repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(s"$SoakDir/customer.parquet")

    new java.io.FileOutputStream(s"$SoakDir/_DONE").close()
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    // optional 2nd arg: comma-separated query-name override
    val queries = args.lift(1).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(defaultQueries)
    generate(spark, src)

    val meter = new graft.Bench.StageMeter(spark)

    def run(name: String, dir: String): (Double, Double) = {
      val q = graft.SparkEntry.registry.find(_.name == name).get
      val s0 = meter.snapshot()
      val t0 = System.nanoTime()
      q.fn(spark, dir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, (meter.snapshot() - s0).shuffleWrite / 1048576.0)
    }

    // JVM/codegen warm pass on the smallest SF
    queries.foreach { n =>
      try run(n, "/root/testdata/sf0.001")
      catch { case t: Throwable => System.err.println(s"warm $n: $t") }
    }
    // optional output pinning (env SPARK_GRAFT_SOAK_DIGEST=1): row count +
    // md5 over the sorted row strings at both scales — use only on queries
    // with bounded output (the dedup pair lists), it collects the result
    val digestOn = sys.env.get("SPARK_GRAFT_SOAK_DIGEST").contains("1")
    def digest(name: String, dir: String): (Long, String) = {
      val q = graft.SparkEntry.registry.find(_.name == name).get
      val rows = q.fn(spark, dir).collect().map(_.toString).sorted
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach(r => md.update(r.getBytes("UTF-8")))
      (rows.length.toLong, md.digest.map("%02x".format(_)).mkString.take(12))
    }
    println(f"${"query"}%-28s ${"sf0.1_s"}%8s ${s"x${Reps}_s"}%8s ${"t_ratio"}%8s ${"shuf0.1"}%9s ${"shuf_xN"}%9s ${"s_ratio"}%8s")
    val rows = queries.map { n =>
      val (tA1, mA1) = run(n, src)
      val (tA2, mA2) = run(n, src) // min-of-2, warm
      val (tB1, mB1) = run(n, SoakDir)
      val (tB2, mB2) = run(n, SoakDir)
      val (ta, tb) = (math.min(tA1, tA2), math.min(tB1, tB2))
      val (ma, mb) = (math.max(mA1, mA2), math.max(mB1, mB2))
      val sr = if (ma > 0.05) f"${mb / ma}%8.1f" else "     n/a"
      println(f"$n%-28s $ta%8.2f $tb%8.2f ${tb / ta}%8.1f $ma%9.1f $mb%9.1f $sr")
      if (digestOn) {
        val (cA, dA) = digest(n, src)
        val (cB, dB) = digest(n, SoakDir)
        println(f"  digest: base n=$cA%d md5=$dA  x$Reps%d n=$cB%d md5=$dB  n_ratio=${cB.toDouble / cA}%.2f")
      }
      (n, ta, tb, ma, mb)
    }
    val (sta, stb) = (rows.map(_._2).sum, rows.map(_._3).sum)
    println(f"${"TOTAL"}%-28s $sta%8.2f $stb%8.2f ${stb / sta}%8.1f")
    spark.stop()
  }
}
