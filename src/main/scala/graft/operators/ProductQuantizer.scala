package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
import graft.engine.{GraftFunctions, VecOps}

/** Product quantization (PQ) for approximate nearest neighbor — the index-
  * footprint scale path next to IVF (IvfIndex) and hyperplane LSH (AnnLsh).
  *
  * A D-dim vector is split into `m` subvectors of D/m dims; each subspace
  * gets its own k-entry codebook (k-means, trained distributed), and a
  * vector is stored as m small integer codes. At D=64 doubles a vector is
  * 512 bytes; its PQ code at m=8 is 8 bytes — a 64× smaller index, which at
  * 100 TB is the difference between an index that fits in cluster memory
  * and one that doesn't. Queries score codes with asymmetric distance
  * computation (ADC): one (m × k) lookup table per query, then each corpus
  * row costs m table lookups instead of a D-dim dot product. The top
  * rerank·topK candidates are re-scored exactly against the original
  * vectors, so returned scores are true cosines.
  *
  * Everything is deterministic (evenly-spaced-id init, exact integer/double
  * arithmetic, nid tie-breaks) — retry-safe and reproducible across runs,
  * like the rest of the ANN family.
  *
  * Vectors are L2-normalized up front: on unit vectors, squared L2 distance
  * is 2 − 2·cos, so ADC's subspace-decomposed L2 ranks by cosine and the
  * codebooks quantize the actual search geometry.
  */
object ProductQuantizer {

  /** codebooks(sub)(code) is a dsub-dim centroid. `normalize` records
    * whether inputs are L2-normalized before quantizing — true for raw
    * vectors (cosine geometry), false for IVF residuals, which are already
    * differences of unit-sphere points and must NOT be re-scaled.
    */
  final case class PQModel(m: Int, dsub: Int, codebooks: Array[Array[Array[Double]]],
                           normalize: Boolean = true) {
    def k: Int = codebooks(0).length

    def encodeOne(v: Seq[Double]): Array[Int] = {
      val nv = if (normalize) l2normalize(v) else v.toArray
      Array.tabulate(m) { s =>
        val off = s * dsub
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < codebooks(s).length) {
          val d = l2sqOff(nv, off, codebooks(s)(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
    }

    /** ADC lookup table for one (normalized) query: table(sub)(code) =
      * squared L2 from the query's subvector to that codebook entry.
      */
    def adcTable(q: Seq[Double]): Array[Array[Double]] = {
      val nq = if (normalize) l2normalize(q) else q.toArray
      Array.tabulate(m)(s =>
        Array.tabulate(codebooks(s).length)(c => l2sqOff(nq, s * dsub, codebooks(s)(c))))
    }
  }

  private[operators] def l2normalize(v: Seq[Double]): Array[Double] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    val inv = if (n == 0) 0.0 else 1.0 / math.sqrt(n)
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) { out(i) = v(i) * inv; i += 1 }
    out
  }

  /** ||v[off..off+len) - c||² without slicing. */
  private def l2sqOff(v: Array[Double], off: Int, c: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < c.length) { val x = v(off + i) - c(i); d += x * x; i += 1 }
    d
  }

  /** Train all m subspace codebooks in parallel — each Lloyd iteration is
    * ONE distributed pass over the corpus covering every subspace: explode
    * to (sub, subvector), assign codes against the broadcast codebooks,
    * then partial-sum per (sub, code, dim). The aggregation buffer is one
    * double per key, so no cluster's members ever materialize in a row
    * (the same OOM-proof shape as IvfIndex.train), and only the
    * m × k × dsub codebook matrix reaches the driver.
    *
    * `emb` needs columns (id: long, v: array<double>).
    */
  def train(spark: SparkSession, emb: DataFrame, m: Int, k: Int, iters: Int,
            normalizeInput: Boolean = true): PQModel = {
    import spark.implicits._
    val dim = emb.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m

    // native codegen normalize (VecOps.l2normalized) — the same
    // arithmetic as l2normalize without the per-row Seq boxing
    val nemb = if (normalizeInput)
      emb.select(col("id"), GraftFunctions.kernel(VecOps, "l2normalized",
        ArrayType(DoubleType, containsNull = false), col("v")).as("v"))
    else emb.select("id", "v")

    // deterministic init: evenly-spaced ids seed every subspace's codebook
    val n = nemb.count()
    val stride = math.max(1, n / k)
    val seeds = nemb
      .where(pmod(col("id"), lit(stride)) === 0)
      .orderBy("id").limit(k)
      .select("v").as[Seq[Double]].collect()
    var codebooks = Array.tabulate(m)(s =>
      seeds.map(v => v.slice(s * dsub, (s + 1) * dsub).toArray))

    // (id, sub, subvector) view — built once per iteration, map-only
    val subs = nemb.select(posexplode(expr(
      s"transform(sequence(0, ${m - 1}), i -> slice(v, i * $dsub + 1, $dsub))"))
      .as(Seq("sub", "sv")))

    for (_ <- 1 to iters) {
      // native codegen code-assignment (VecOps.pqAssign): same L2² loop
      // and first-min tie-break as the former boxed UDF, but reading the
      // subvector straight from the row buffer
      val assign = GraftFunctions.kernel(VecOps, "pqAssign", IntegerType,
        GraftFunctions.const(codebooks), col("sub"), col("sv"))
      val sums = subs
        .withColumn("c", assign)
        .select(col("sub"), col("c"), posexplode(col("sv")).as(Seq("d", "x")))
        .groupBy("sub", "c", "d")
        .agg(sum("x").as("sx"), count(lit(1)).as("cnt"))
        .collect()
      val next = codebooks.map(_.map(_.clone()))
      sums.foreach { r =>
        next(r.getAs[Int]("sub"))(r.getAs[Int]("c"))(r.getAs[Int]("d")) =
          r.getAs[Double]("sx") / r.getAs[Long]("cnt")
      }
      codebooks = next
    }
    PQModel(m, dsub, codebooks, normalize = normalizeInput)
  }

  /** Map-only encode: (id, codes array<int>) — the m-byte index rows.
    * Native codegen (VecOps.pqEncode): encodeOne's exact
    * subspace loops reading straight from the row buffer; the codebook
    * matrix (m·k·dsub doubles) rides in the plan like the IVF centroids.
    */
  def encode(spark: SparkSession, emb: DataFrame, model: PQModel): DataFrame =
    emb.select(col("id"), encodeCol(col("v"), model).as("codes"))

  /** The m PQ codes of vector column `v` against the model's codebooks. */
  private[operators] def encodeCol(v: Column, model: PQModel): Column =
    GraftFunctions.kernel(VecOps, "pqEncode", ArrayType(IntegerType, containsNull = false),
      v, GraftFunctions.const(model.codebooks), lit(model.dsub), lit(model.normalize))

  /** ADC distance of the `codes` column against the per-key table map
    * (`key` = qid, or a packed query/cell key): Q·m·k doubles, a few
    * hundred KB at most, riding in the plan like the centroid matrices. */
  private[operators] def adcCol(key: Column, codes: Column,
                                tables: Map[Long, Array[Array[Double]]]): Column =
    GraftFunctions.kernel(VecOps, "adcLookup", DoubleType,
      GraftFunctions.const(tables), key, codes)

  /** Top-k per query id: ADC scan over the code table, then exact cosine
    * rerank of the top rerank·topK candidates.
    *
    * Scale shape: the code table (m bytes/row) is scanned map-only with the
    * queries' ADC tables broadcast — each corpus row costs Q·m array
    * lookups, no shuffle. Only the tiny candidate set (Q · rerank · topK
    * ids) shuffles: it is broadcast back against the original vectors, so
    * the full-width embedding column is read only for candidate rows
    * (parquet row-group skipping applies under a selective id filter).
    */
  def search(spark: SparkSession, emb: DataFrame, queryIds: Seq[Long],
             model: PQModel, topK: Int, rerank: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val queries = emb.where(col("id").isin(queryIds: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val tables = queries.map { case (qid, qv) => qid -> model.adcTable(qv) }.toMap

    // native codegen ADC: the Q·m·k table map rides in the plan; each
    // scanned row costs m primitive lookups
    val adc = adcCol(col("qid"), col("codes"), tables)

    val qdf = broadcast(
      spark.createDataFrame(queries.map(q => Tuple1(q._1)).toSeq).toDF("qid"))
    val codes = encode(spark, emb, model)

    val wApprox = Window.partitionBy("qid").orderBy(col("adist").asc, col("id"))
    val cands = codes.crossJoin(qdf)
      .withColumn("adist", adc)
      .withColumn("arn", row_number().over(wApprox))
      .where(col("arn") <= topK * rerank)
      .select(col("qid"), col("id").as("nid"))

    // exact rerank: candidate ids (tiny) broadcast against the vector table
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
