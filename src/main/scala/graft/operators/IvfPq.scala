package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
import graft.engine.{GraftFunctions, VecOps}

/** IVF-PQ: the composed production ANN shape — a coarse quantizer prunes
  * the corpus to `nprobe` cells per query, PQ codes (m ints/row) score the
  * survivors via broadcast ADC tables, and the top candidates are reranked
  * exactly. The index a query touches is nprobe/k of the corpus at m bytes
  * per vector: both pruning levers compound (e.g. 8 of 64 cells × 64×
  * compression ⇒ ~0.2% of the raw bytes scanned).
  *
  * Scale shape: the (cluster, codes) table is written partitioned by
  * cluster, so a probe is a partition-pruned scan; queries and their ADC
  * tables broadcast; only candidate ids shuffle for the exact rerank.
  *
  * `search` quantizes the raw (normalized) vectors; `searchResidual` is
  * the IVFADC refinement of Jégou et al. (TPAMI 2011): codes quantize
  * v − centroid(v) instead, which concentrates the quantizer's dynamic
  * range on the within-cell variation (residuals are much smaller than
  * raw vectors, so the same codebook budget yields finer distances). One
  * shared residual codebook rather than per-cell codebooks — trains in
  * the same single pass per iteration; the per-query ADC table is then
  * built per PROBED CELL from q − centroid(cell).
  */
object IvfPq {

  private def unitCentroid(ivf: IvfIndex.Model, c: Int): Array[Double] =
    ProductQuantizer.l2normalize(ivf.centroids(c).toSeq)

  private def residualOf(nv: Array[Double], ch: Array[Double]): Array[Double] = {
    val r = new Array[Double](nv.length)
    var i = 0
    while (i < nv.length) { r(i) = nv(i) - ch(i); i += 1 }
    r
  }

  /** Train a PQ codebook on IVF residuals (normalized vector minus its
    * cell's unit centroid). Residuals span a much smaller range than raw
    * vectors, so the same codebook budget quantizes finer — the IVFADC
    * refinement. Distributed exactly like ProductQuantizer.train; the
    * residual map is one extra map-only pass.
    */
  def trainResidual(spark: SparkSession, emb: DataFrame, ivf: IvfIndex.Model,
                    m: Int, k: Int, iters: Int): ProductQuantizer.PQModel = {
    // native codegen residual map (VecOps.ivfResidual): normalize →
    // nearest cell → subtract unit centroid, one primitive pass
    val unitCents = ivf.centroids.map(c => ProductQuantizer.l2normalize(c.toSeq))
    val resCol = GraftFunctions.kernel(VecOps, "ivfResidual",
      ArrayType(DoubleType, containsNull = false),
      col("v"), GraftFunctions.const(ivf.centroids), GraftFunctions.const(unitCents))
    ProductQuantizer.train(spark,
      emb.select(col("id"), resCol.as("v")),
      m, k, iters, normalizeInput = false)
  }

  /** IVFADC search: codes quantize residuals, and each query builds one
    * ADC table PER PROBED CELL from (q − that cell's unit centroid) — the
    * per-cell offset cancels, so ADC approximates ||q − v||² directly.
    * Same scan/rerank shape as `search`.
    */
  def searchResidual(spark: SparkSession, emb: DataFrame, queryIds: Seq[Long],
                     ivf: IvfIndex.Model, pqRes: ProductQuantizer.PQModel,
                     nprobe: Int, topK: Int, rerank: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!pqRes.normalize, "searchResidual needs a residual-trained model")

    // native codegen assign+encode (VecOps.ivfResidualEncode): the
    // nearest-cell argmin runs ONCE for both the cluster id and the
    // residual codes (the UDF pair ran it twice per row)
    val unitCents = ivf.centroids.map(c => ProductQuantizer.l2normalize(c.toSeq))
    val aeCol = GraftFunctions.kernel(VecOps, "ivfResidualEncode",
      StructType(Seq(
        StructField("cluster", IntegerType, nullable = false),
        StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false))),
      col("v"), GraftFunctions.const(ivf.centroids), GraftFunctions.const(unitCents),
      GraftFunctions.const(pqRes.codebooks), lit(pqRes.dsub))
    val index = emb.select(col("id").as("nid"), aeCol.as("ac"))
      .select(col("nid"), col("ac.cluster").as("cluster"), col("ac.codes").as("codes"))

    val queries = emb.where(col("id").isin(queryIds: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    // one ADC table per (query, probed cell). The packed lookup key is
    // denseQueryIdx<<32|cluster, NOT qid<<32|cluster: qid is an arbitrary
    // 64-bit document id, so qid<<32 drops its high bits and two queries
    // 2^32 apart would silently share ADC tables. The dense index is
    // bounded by the (driver-collected) query count, so it always fits.
    val qidx: Map[Long, Int] = queries.map(_._1).zipWithIndex.toMap
    val probePairs = queries.flatMap { case (qid, qv) =>
      val nq = ProductQuantizer.l2normalize(qv)
      ivf.nearest(nq.toSeq, nprobe).map { c =>
        (qid, c) -> pqRes.adcTable(residualOf(nq, unitCentroid(ivf, c)).toSeq)
      }
    }
    val tables = probePairs.map { case ((qid, c), t) =>
      ((qidx(qid).toLong << 32) | c.toLong) -> t }.toMap
    val adcCol = ProductQuantizer.adcCol(
      shiftleft(col("qidx").cast("long"), 32).bitwiseOR(col("cluster").cast("long")),
      col("codes"), tables)

    val probes = broadcast(spark.createDataFrame(
      probePairs.map { case ((qid, c), _) => (qid, c, qidx(qid)) }.toSeq.sorted)
      .toDF("qid", "cluster", "qidx"))

    val wApprox = Window.partitionBy("qid").orderBy(col("adist").asc, col("nid"))
    val cands = index.join(probes, "cluster")
      .withColumn("adist", adcCol)
      .withColumn("arn", row_number().over(wApprox))
      .where(col("arn") <= topK * rerank)
      .select(col("qid"), col("nid"))

    val bcQ = spark.sparkContext.broadcast(queries.toMap)
    val exact = udf { (qid: Long, nv: Seq[Double]) =>
      1.0 - IvfIndex.cosineDist(bcQ.value(qid), nv)
    }
    val wExact = Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))
    emb.select(col("id").as("nid"), col("v").as("nv"))
      .join(broadcast(cands), "nid")
      .withColumn("score", round(exact(col("qid"), col("nv")), 6))
      .withColumn("rn", row_number().over(wExact).cast("long"))
      .where(col("rn") <= topK)
      .select(col("qid"), col("nid"), col("score"), col("rn"))
      .orderBy("qid", "rn")
  }

  def search(spark: SparkSession, emb: DataFrame, queryIds: Seq[Long],
             ivf: IvfIndex.Model, pq: ProductQuantizer.PQModel,
             nprobe: Int, topK: Int, rerank: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // the stored index: cluster id + m-int code per vector — both columns
    // native codegen, no per-row boxing
    val index = emb.select(col("id").as("nid"), col("v"))
      .withColumn("cluster", IvfIndex.nearestCentroidCol(col("v"), ivf.centroids))
      .withColumn("codes", ProductQuantizer.encodeCol(col("v"), pq))
      .select("nid", "cluster", "codes")

    val queries = emb.where(col("id").isin(queryIds: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val tables = queries.map { case (qid, qv) => qid -> pq.adcTable(qv) }.toMap
    val adcCol = ProductQuantizer.adcCol(col("qid"), col("codes"), tables)

    // each query probes its nprobe nearest cells — the equi-join on
    // cluster IS the partition pruning
    val probes = broadcast(spark.createDataFrame(
      queries.flatMap { case (qid, qv) =>
        ivf.nearest(qv, nprobe).map(c => (qid, c))
      }.toSeq).toDF("qid", "cluster"))

    val wApprox = Window.partitionBy("qid").orderBy(col("adist").asc, col("nid"))
    val cands = index.join(probes, "cluster")
      .withColumn("adist", adcCol)
      .withColumn("arn", row_number().over(wApprox))
      .where(col("arn") <= topK * rerank)
      .select(col("qid"), col("nid"))

    val bcQ = spark.sparkContext.broadcast(queries.toMap)
    val exact = udf { (qid: Long, nv: Seq[Double]) =>
      1.0 - IvfIndex.cosineDist(bcQ.value(qid), nv)
    }
    val wExact = Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))
    emb.select(col("id").as("nid"), col("v").as("nv"))
      .join(broadcast(cands), "nid")
      .withColumn("score", round(exact(col("qid"), col("nv")), 6))
      .withColumn("rn", row_number().over(wExact).cast("long"))
      .where(col("rn") <= topK)
      .select(col("qid"), col("nid"), col("score"), col("rn"))
      .orderBy("qid", "rn")
  }
}
