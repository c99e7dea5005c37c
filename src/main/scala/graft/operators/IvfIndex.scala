package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType}
import graft.engine.{GraftFunctions, VecOps}

/** IVF (inverted-file) approximate nearest neighbor: a coarse k-means
  * quantizer partitions the corpus into cells; queries probe only the
  * `nprobe` nearest cells and rerank exactly. The second scale path next to
  * hyperplane LSH (AnnLsh): at 100 TB the corpus is scanned once to assign
  * cluster ids (map-only, centroids broadcast), stored partitioned by
  * cluster, and a query touches nprobe/k of the data.
  *
  * Training is deterministic: centroids initialize from evenly-spaced corpus
  * ids and Lloyd iterations are plain DataFrame aggregations (distributed;
  * only the k×dim centroid matrix ever reaches the driver).
  */
object IvfIndex {

  final case class Model(centroids: Array[Array[Double]]) {
    def nearest(v: Seq[Double], n: Int): Array[Int] =
      centroids.indices
        .map(i => i -> IvfIndex.cosineDist(centroids(i), v))
        .sortBy(_._2).take(n).map(_._1).toArray
  }

  private[operators] def cosineDist(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 1.0 else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Train the coarse quantizer. `emb` needs columns (id: long, v:
    * array<double>). Callers that already know the corpus size (e.g. from
    * AnnLsh.memoizedCount) pass it via `knownN` so training doesn't run a
    * second full count pass over the corpus.
    */
  def train(spark: SparkSession, embIn: DataFrame, k: Int, iters: Int,
            knownN: Option[Long] = None): Model = {
    import spark.implicits._
    // Pin the training corpus once (lazy; the seed collect below
    // materializes it): every Lloyd pass and the seed queries otherwise
    // re-run the caller's full input plan — parquet scan, casts, any
    // union/transform — and the driver re-analyzes that lineage per
    // iteration. Standard iterative-training practice (MLlib k-means
    // caches its input); MEMORY_AND_DISK, so an over-RAM corpus spills
    // rather than OOMs, and the handle is train-local so the blocks are
    // collected with the RDD after the model is built.
    val emb = embIn.localCheckpoint(eager = false)
    val n = knownN.getOrElse(emb.count())
    val stride = math.max(1, n / k)
    // deterministic init: evenly spaced ids (corpus order is stable). This
    // assumes roughly dense ids; with sparse or clustered ids (e.g. all
    // ids ≡ 1 mod stride) the modulo filter can land on FEWER than k rows,
    // so a deterministic md5-order top-up below guarantees exactly
    // min(k, n) distinct seeds for ANY id distribution. On dense ids the
    // primary pick already yields k and the top-up is a no-op, keeping the
    // trained model (and every downstream oracle) unchanged.
    val primary = emb
      .withColumn("_rank", expr("id"))
      .where(pmod(col("_rank"), lit(stride)) === 0)
      .orderBy("id").limit(k)
      .select("id", "v").as[(Long, Seq[Double])].collect()
    val seeds =
      if (primary.length >= math.min(k.toLong, n)) primary.map(_._2)
      else {
        val have = primary.map(_._1).toSet
        val topUp = emb
          .where(!col("id").isInCollection(have))
          .withColumn("_h", md5(col("id").cast("string")))
          .orderBy("_h", "id").limit(k - primary.length)
          .select("v").as[Seq[Double]].collect()
        primary.map(_._2) ++ topUp
      }
    var centroids = seeds.map(_.toArray)

    val dim = centroids.headOption.map(_.length).getOrElse(0)
    for (_ <- 1 to iters) {
      // native codegen assignment (nearestCentroidCol):
      // the centroid matrix rides in the plan and the kernel reads doubles
      // straight from the row buffer — no Seq boxing per row, identical
      // argmin to the former UDF (same op order, first-min ties)
      val assign = nearestCentroidCol(col("v"), centroids)
      // Per-cluster dim-wise sums as one groupBy("c") with a (2·dim)-column
      // aggregate buffer, replacing the former posexplode + groupBy(c, d):
      // the explode pushed corpus×dim rows through the hash aggregate where
      // this processes corpus rows once (the buffer per key is the same
      // k×dim doubles either way, so nothing cluster-sized materializes in
      // one row — round-1's collect_list variant OOMed by construction).
      // Only k tiny rows reach the driver. Element semantics mirror the
      // explode exactly: s_d sums the non-null elements at dim d
      // (try_element_at is null out of bounds, like the explode emitting
      // nothing), n_d counts rows WHERE dim d exists, null element or not
      // (the explode emitted a row for null elements and count(1) counted
      // it); a (c, d) pair with no members keeps 0.0 like the former
      // zero-filled array.
      val aggs = (0 until dim).flatMap(i => Seq(
        sum(try_element_at(col("v"), lit(i + 1))).as(s"s$i"),
        sum(when(size(col("v")) > i, 1L).otherwise(0L)).as(s"n$i")))
      val stats = emb
        .withColumn("c", assign)
        .where(col("c").isNotNull)
        .groupBy("c")
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val next = centroids.clone()
      stats.foreach { r =>
        val c = r.getAs[Int]("c")
        val arr = new Array[Double](centroids(c).length)
        var i = 0
        while (i < arr.length) {
          val n = r.getLong(2 + 2 * i)
          // null sum (all-null elements) divided like the former
          // null.asInstanceOf[Double] = 0.0 driver merge
          if (n > 0L && !r.isNullAt(1 + 2 * i)) arr(i) = r.getDouble(1 + 2 * i) / n
          i += 1
        }
        next(c) = arr
      }
      centroids = next
    }
    Model(centroids)
  }

  /** Map-only cluster assignment against a trained model: the k×dim centroid
    * matrix rides in the plan and assignment is the native codegen argmin —
    * no shuffle, no per-row boxing. Public so cluster-scoped operators
    * (semantic dedup) reuse the quantizer without re-deriving the column.
    */
  def assignCol(v: org.apache.spark.sql.Column, model: Model): org.apache.spark.sql.Column =
    nearestCentroidCol(v, model.centroids)

  /** Cluster count for an n-row corpus, holding expected occupancy ≈ 2048:
    * cluster-scoped pairwise work is quadratic IN THE CLUSTER (that is the
    * SemDeDup design — Abbas et al. 2023 run k-means precisely to bound the
    * pairwise stage), so k must grow with the corpus the same way
    * AnnLsh.bitsFor grows LSH bands. At the test SFs this floors at 8
    * (identical to the fixed-k ANN queries). Up to FlatCap the flat
    * plan-embedded quantizer serves k; past it (n ≈ 8.4M rows, the old
    * hard cap) callers switch to the TWO-LEVEL quantizer, where only the
    * coarse √k matrix is plan-resident and fine codebooks ride a join —
    * so k keeps tracking n/2048 to 2²⁰ (n ≈ 2.1 B vectors; the next
    * doubling is a coarse-width bump, not a mechanics change — the 2²⁰
    * cap is id-packing hygiene for cluster = c·kf + f, not a design
    * ceiling).
    */
  def kFor(n: Long): Int =
    math.max(8L, math.min(1L << 20, n / 2048L)).toInt

  /** Ceiling of the FLAT quantizer's mechanics: nearestCentroidCol embeds
    * the k×dim matrix in the serialized plan (4096×64 doubles ≈ 2 MB — the
    * most that should ever ship in a plan) and assignment scans all k
    * centroids per row. Past this, use trainTwoLevel/assignTwoLevel, whose
    * fine codebooks travel as DATA (broadcast or shuffle join), never plan
    * bytes.
    */
  val FlatCap: Int = 1 << 12

  /** Two-level (hierarchical) quantizer — the scale path past FlatCap.
    *
    * Level 1: a flat coarse model of kc = ⌈√k⌉ centroids (plan-embedded,
    * kc ≤ FlatCap always since k ≤ 2²⁰ → kc ≤ 2¹⁰ — well under the 2 MB
    * plan budget). Level 2: per-coarse-cell codebooks of kf = ⌈k/kc⌉ fine
    * centroids each, held in a DataFrame (c, cents: array<array<double>>)
    * that NEVER reaches the driver or the plan — at k = 2²⁰ × dim 64 the
    * full fine matrix is ~512 MB of distributed data, exactly what the
    * flat design refused to serialize. Assignment is coarse map-side +
    * one join on c (broadcast below 64 MB of fine matrix; a corpus hash
    * join on the coarse id above it — an extra corpus shuffle that only
    * exists in the >64 MB regime, and note Spark cannot reuse it for
    * stages keyed on the PACKED id c·kf + f since hashpartitioning(c)
    * is not hashpartitioning(c·kf + f); a consumer that wants the reuse
    * groups by the (c, f) pair with c leading instead of the packed
    * column). Final cluster id packs as c·kf + f.
    */
  final case class TwoLevelModel(coarse: Model, kf: Int, codebooks: DataFrame) {
    def k: Int = coarse.centroids.length * kf
    def dim: Int = if (coarse.centroids.isEmpty) 0 else coarse.centroids(0).length
    /** Estimated fine-matrix bytes, for the broadcast-vs-shuffle choice. */
    def fineBytes: Long = coarse.centroids.length.toLong * kf * dim * 8L
  }

  /** Train the two-level quantizer. `emb` needs (id: long, v: array<double>).
    * Deterministic end-to-end: coarse seeds/iterations via the flat
    * trainer, fine seeds per cell by (md5(id), id) rank — a rank ≤ kf
    * filter that Spark 4 turns into a partial WindowGroupLimit, so no
    * cell ever sorts more than its own members and the shuffle carries
    * ≤ kf rows per cell per map partition. Fine Lloyd passes are plain
    * DataFrame aggregations; per-(cell, fine, dim) partial sums mean no
    * cluster's members ever materialize in one row, and only the kc-row
    * codebook frame is ever checkpointed. Empty fine cells keep their
    * previous centroid (same rule as the flat trainer's driver-side merge).
    */
  def trainTwoLevel(spark: SparkSession, emb: DataFrame, k: Int, iters: Int,
                    knownN: Option[Long] = None): TwoLevelModel = {
    import org.apache.spark.sql.expressions.Window
    val kc = math.min(FlatCap.toLong, math.ceil(math.sqrt(k.toDouble)).toLong).toInt
    val kf = math.max(1, math.ceil(k.toDouble / kc).toInt)
    // null vectors carry no information and would otherwise seed a
    // garbage codebook row (c = NULL, cents of nulls) that survives every
    // Lloyd pass — train on the non-null slice only (the flat trainer has
    // the same precondition, enforced here instead of assumed)
    val clean = emb.where(col("v").isNotNull)
    val coarse = train(spark, clean, kc, iters, knownN)
    val assigned = clean.withColumn("__tl_c", assignCol(col("v"), coarse))

    // deterministic fine seeds: first kf members of each cell in
    // (md5(id), id) order — WindowGroupLimit bounds the per-cell work
    val wSeed = Window.partitionBy("__tl_c")
      .orderBy(md5(col("id").cast("string")), col("id"))
    val seeds = assigned
      .withColumn("__tl_f", row_number().over(wSeed))
      .where(col("__tl_f") <= kf)
      .groupBy(col("__tl_c").as("c"))
      .agg(expr("transform(sort_array(collect_list(struct(__tl_f, v))), s -> s.v)")
        .as("cents"))
    var cb = seeds.localCheckpoint()

    val fineBytes = kc.toLong * kf * coarse.centroids.headOption.map(_.length).getOrElse(0) * 8L
    for (_ <- 1 to iters) {
      val joined = joinCodebooks(assigned, cb, fineBytes, "inner")
        .withColumn("__tl_f",
          nearestInCodebook(col("v"), col("__tl_cents")))
      // Per-(cell, fine) dim-wise sums in ONE aggregate with a 2·dim-column
      // buffer, fully distributed (at k = 2²⁰ the means table is 1M rows of
      // dim-arrays: fine as a shuffle, fatal as a collect). Replaces the
      // former posexplode + groupBy(c, f, d) + collect_list re-assembly:
      // the explode pushed corpus×dim rows through the aggregate and the
      // re-assembly paid a SECOND exchange on (c, f); this processes corpus
      // rows once and builds the centroid array in the post-agg project.
      // s_d/n_d semantics mirror the explode (see train); a dim with no
      // members yields a null mean, and sum-null/n is null — never a
      // divide-by-zero, since n_d > 0 forces at least one non-null term.
      val dimT = coarse.centroids.headOption.map(_.length).getOrElse(0)
      val fineAggs = (0 until dimT).flatMap(i => Seq(
        sum(try_element_at(col("v"), lit(i + 1))).as(s"s$i"),
        sum(when(size(col("v")) > i, 1L).otherwise(0L)).as(s"n$i")))
      val means = joined
        .select(col("__tl_c").as("c"), col("__tl_f").as("f"), col("v"))
        .groupBy("c", "f")
        .agg(fineAggs.head, fineAggs.tail: _*)
        .select(col("c"), col("f"),
          array((0 until dimT).map(i => col(s"s$i") / col(s"n$i")): _*)
            .as("newc"))
      // empty fine cells keep their previous centroid, and so does a dim
      // no ragged member reaches (else 0.0, as in the flat trainer)
      val prevExpl = cb.select(col("c"),
        posexplode(col("cents")).as(Seq("f", "prev")))
      // superseded checkpoints (kc-row frames) are dereferenced here and
      // reclaimed by the ContextCleaner on driver GC — nothing corpus-
      // sized is ever pinned
      cb = prevExpl.join(means, Seq("c", "f"), "left")
        .withColumn("cent", coalesce(
          expr("transform(newc, (x, i) -> coalesce(x, try_element_at(prev, i + 1), 0D))"),
          col("prev")))
        .groupBy("c")
        .agg(expr("transform(sort_array(collect_list(struct(f, cent))), s -> s.cent)")
          .as("cents"))
        .localCheckpoint()
    }
    // COMPLETE the codebook: a coarse cell can end training with zero
    // members (the flat trainer keeps stale centroids for emptied cells),
    // yet NEW data assigned later can still land nearest to it — without
    // a codebook row the assignment join would emit a NULL cluster for a
    // NON-null vector, silently dropping it from every downstream
    // cluster-scoped stage. Empty cells fall back to a one-entry codebook
    // holding the coarse centroid itself (fine id 0), so every possible
    // coarse argmin has a row and non-null vectors ALWAYS get a cluster —
    // flat-path parity. kc ≤ 2¹² rows, driver-built once.
    val allCells = spark.createDataFrame(
      coarse.centroids.zipWithIndex.toSeq
        .map { case (cent, i) => (i, Seq(cent.toSeq)) })
      .toDF("c", "fallback")
    val complete = allCells.join(cb, Seq("c"), "left")
      .withColumn("cents", coalesce(col("cents"), col("fallback")))
      .select("c", "cents")
      .localCheckpoint()
    TwoLevelModel(coarse, kf, complete)
  }

  /** Adds `outCol` = two-level cluster id (LONG, = coarse·kf + fine) for
    * vector column `v`. Coarse assignment is map-side codegen; the fine
    * codebook arrives via ONE join on the coarse id — broadcast while the
    * fine matrix fits (≤ 64 MB, i.e. ZERO extra shuffles in that regime),
    * a hash-partitioned join past it. That large-regime exchange is on
    * the coarse id, which downstream stages keyed on the PACKED cluster
    * id do NOT satisfy (hashpartitioning(c) ≠ hashpartitioning(c·kf+f)) —
    * a consumer that wants to reuse it should group by the (coarse,
    * fine) column pair instead of the packed id.
    */
  def assignTwoLevel(df: DataFrame, v: org.apache.spark.sql.Column,
                     model: TwoLevelModel, outCol: String): DataFrame =
    // LEFT join so a null vector keeps flat-path semantics: the row
    // survives with a null cluster (its null coarse id matches no
    // codebook, the fine argmin propagates the null)
    joinCodebooks(df.withColumn("__tl_c", assignCol(v, model.coarse)),
        model.codebooks, model.fineBytes, "left")
      .withColumn(outCol,
        col("__tl_c").cast("long") * model.kf +
          nearestInCodebook(v, col("__tl_cents")).cast("long"))
      .drop("__tl_c", "__tl_cents")

  /** Join rows (carrying `__tl_c`) to their coarse cell's fine codebook.
    * The codebook side is kc rows; what decides broadcast-vs-shuffle is
    * the ARRAY payload (kc·kf·dim doubles), estimated analytically —
    * ≤ 64 MB broadcasts (no corpus shuffle at all); past that the corpus
    * hash-joins on the coarse id (one extra shuffle, in the regime where
    * the matrix genuinely cannot broadcast).
    */
  private def joinCodebooks(rows: DataFrame, cb: DataFrame,
      fineBytes: Long, joinType: String): DataFrame = {
    val renamed = cb.select(col("c").as("__tl_c"), col("cents").as("__tl_cents"))
    val side = if (fineBytes <= (64L << 20)) broadcast(renamed) else renamed
    rows.join(side, Seq("__tl_c"), joinType)
  }

  /** Native codegen centroid-assignment columns (no per-row boxing): the
    * k×dim centroid matrix (a few KB) rides in the serialized plan, and the
    * kernel reads the vector's doubles straight from the row buffer. */
  private[operators] def nearestCentroidCol(v: Column, cents: Array[Array[Double]]) =
    GraftFunctions.kernel(VecOps, "nearestCentroid", IntegerType, v, GraftFunctions.const(cents))

  /** The n nearest centroid indices (the probe list), distance asc with
    * index tie-break — ordering-identical to Model.nearest. */
  private[operators] def nearestCentroidsCol(v: Column, cents: Array[Array[Double]], n: Int) =
    GraftFunctions.kernel(VecOps, "nearestCentroids", ArrayType(IntegerType, containsNull = false),
      v, GraftFunctions.const(cents), lit(n))

  /** Argmin over a codebook carried in a COLUMN (array<array<double>>) —
    * the two-level quantizer's fine level, whose matrix arrives per row
    * from a join on the coarse cell instead of riding in the plan. */
  private def nearestInCodebook(v: Column, cents: Column) =
    GraftFunctions.kernel(VecOps, "nearestInCodebook", IntegerType, v, cents)

  /** Top-k nearest neighbors for each query id, probing nprobe IVF cells. */
  def search(spark: SparkSession, emb: DataFrame, queryIds: Seq[Long],
             model: Model, nprobe: Int, topK: Int): DataFrame = {
    val corpus = emb
      .withColumn("cluster", nearestCentroidCol(col("v"), model.centroids))
      .select(col("id").as("nid"), col("cluster"), col("v").as("nv"))
    val queries = emb.where(col("id").isin(queryIds: _*))
      .withColumn("cluster",
        explode(nearestCentroidsCol(col("v"), model.centroids, nprobe)))
      .select(col("id").as("qid"), col("cluster"), col("v").as("qv"))

    // native codegen cosine on the joined pairs; `1.0 - (1.0 - cos)` keeps
    // the former UDF's exact arithmetic (score = 1 − cosineDist), and
    // VecOps.cosine accumulates dot/na/nb in the same element order
    val cosCol = org.apache.spark.sql.GraftBridge.column(
      graft.engine.Expressions.VecCosineExpr(
        org.apache.spark.sql.GraftBridge.expression(col("qv")),
        org.apache.spark.sql.GraftBridge.expression(col("nv"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("nid"))
    queries.join(corpus, "cluster")
      .withColumn("score", round(lit(1.0) - (lit(1.0) - cosCol), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= topK)
      .select(col("qid"), col("nid"), col("score"), col("rn"))
      .orderBy("qid", "rn")
  }
}
