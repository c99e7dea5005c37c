package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (array<float> vectors).
  *
  * Brute-force cosine top-k is the correctness baseline: the query set is
  * small and broadcast, so the big side streams map-only — at 100 TB this is
  * one scan, no shuffle of the corpus. The dot product runs as codegen'd
  * higher-order functions (`zip_with` + `aggregate`), not a UDF. An
  * LSH-bucketed variant (scale path pruning the candidate set) lives in
  * graft.operators.Similarity.
  */
object SimilarityQ {

  private val dotExpr =
    "aggregate(zip_with(ve, qe, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"

  val qs: Seq[QueryDef] = Seq(
    QueryDef(
      "sim_cosine_topk_bruteforce",
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        val q = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("ve").as("qe"))
        graft.engine.GraftFunctions.register(s)
        // vec_cosine_native replicates the HOF dot/(sqrt·sqrt) arithmetic
        // left-to-right, so scores are bit-identical to the DuckDB oracle —
        // but the kernel runs inside whole-stage codegen (one static call
        // per row, no per-element lambda dispatch)
        val scored = e
          .crossJoin(broadcast(q))
          .withColumn("score", round(expr("vec_cosine_native(ve, qe)"), 6))
        val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
        scored
          .withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 10)
          .select(col("qid"), col("vec_id").as("nid"), col("score"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
             |q AS (SELECT vec_id AS qid, ve AS qe FROM e WHERE vec_id < 5),
             |sc AS (SELECT q.qid, e.vec_id AS nid,
             |  round(list_dot_product(e.ve, q.qe) /
             |        (sqrt(list_dot_product(e.ve, e.ve)) * sqrt(list_dot_product(q.qe, q.qe))), 6) AS score
             |  FROM e CROSS JOIN q),
             |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn FROM sc)
             |SELECT qid, nid, score, rn FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin),
      headline = true
    ),

    // Nearest-centroid classification (the assignment step of k-means /
    // coarse quantization) with CROSS-ENGINE-EXACT arithmetic: components
    // are rounded to 6 dp, per-dim centroid sums go through DECIMAL, and
    // each (x−c)² term is rounded to 12 dp then DECIMAL-summed — so the
    // distance comparison (and thus the argmin) is order-independent and
    // bit-identical in DuckDB. Plan shape at scale: centroids are a tiny
    // aggregate broadcast to the per-dim join; the corpus shuffles once on
    // (vec, candidate) for the distance sum.
    QueryDef(
      "embedding_centroid_classify",
      (s, d) => {
        val e = T(s, d, "embeddings").select(col("vec_id"),
          pmod(col("vec_id"), lit(5)).cast("long").as("cls"),
          expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> round(x, 6))").as("ve"))
        val dims = e.select(col("vec_id"), col("cls"),
            posexplode(col("ve")).as(Seq("d0", "x")))
          .withColumn("d", col("d0") + 1).drop("d0")
        val cent = dims.groupBy(col("cls").as("cand"), col("d"))
          .agg((sum(col("x").cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("c"))
        val dist = dims.join(broadcast(cent), "d")
          .groupBy(col("vec_id"), col("cls").as("true_cls"), col("cand"))
          .agg(sum(expr("CAST(round((x - c) * (x - c), 12) AS DECIMAL(28,12))")).as("d2"))
        dist
          .withColumn("rk", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("d2"), col("cand"))))
          .where(col("rk") === 1)
          .select(col("vec_id"), col("true_cls"), col("cand").as("assigned_cls"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, vec_id % 5 AS cls,
             |    list_transform(CAST(embedding AS DOUBLE[]), x -> round(x, 6)) AS ve
             |  FROM embeddings),
             |dims AS (
             |  SELECT vec_id, cls, unnest(ve) AS x, generate_subscripts(ve, 1) AS d FROM e),
             |cent AS (
             |  SELECT cls AS cand, d,
             |    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS c
             |  FROM dims GROUP BY cls, d),
             |dist AS (
             |  SELECT v.vec_id, v.cls AS true_cls, c.cand,
             |    sum(CAST(round((v.x - c.c) * (v.x - c.c), 12) AS DECIMAL(28,12))) AS d2
             |  FROM dims v JOIN cent c USING (d)
             |  GROUP BY v.vec_id, v.cls, c.cand),
             |best AS (
             |  SELECT vec_id, true_cls, cand,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rk
             |  FROM dist)
             |SELECT vec_id, true_cls, cand AS assigned_cls
             |FROM best WHERE rk = 1 ORDER BY vec_id""".stripMargin)
    ),

    // IVF search-path twin, FULLY ORACLED (the production sim_ann_ivf keeps
    // its k-means-trained centroids and stays rows-only — Lloyd iterations
    // aren't cross-engine-exact). Here the coarse quantizer is pinned: the 8
    // corpus vectors with the smallest md5(vec_id) become the centroids, so
    // both engines derive the identical codebook from the table alone. Cell
    // assignment uses the proven decimal-exact squared-distance recipe
    // (6-dp components, 12-dp rounded terms, DECIMAL sums — argmin is
    // order-independent and bit-identical), queries probe their nprobe=2
    // nearest cells, and the rerank is the bit-identical cosine kernel.
    // Plan shape at scale: the k×dim seed pull is the only driver traffic
    // (the same codebook pull IVF training does), assignment is a broadcast
    // nested-loop over k=8 tiny rows + one window shuffle on vec_id, and
    // the probe join shuffles only (cluster)-bucketed candidates.
    QueryDef(
      "sim_ann_ivf_md5",
      (s, d) => {
        import s.implicits._
        val e = T(s, d, "embeddings").select(col("vec_id"),
          expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> round(x, 6))").as("ve"))
        val seeds = e
          .withColumn("h", md5(col("vec_id").cast("string")))
          .orderBy("h", "vec_id").limit(8)
          .select("ve").as[Seq[Double]].collect()
          .zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toSeq.toDF("cand", "cv")
        val d2 = expr(
          """aggregate(zip_with(ve, cv,
            |  (x, y) -> CAST(round((x - y) * (x - y), 12) AS DECIMAL(28,12))),
            |  CAST(0 AS DECIMAL(38,12)), (a, t) -> CAST(a + t AS DECIMAL(38,12)))""".stripMargin)
        val assigned = e.crossJoin(broadcast(seeds))
          .withColumn("d2", d2)
          .withColumn("ark", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("d2"), col("cand"))))
        val corpus = assigned.where(col("ark") === 1)
          .select(col("vec_id").as("nid"), col("cand").as("cluster"), col("ve").as("nv"))
        val queries = assigned.where(col("vec_id") < 5 && col("ark") <= 2)
          .select(col("vec_id").as("qid"), col("cand").as("cluster"), col("ve").as("qv"))
        graft.engine.GraftFunctions.register(s)
        val w = Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))
        queries.join(corpus, "cluster")
          .withColumn("score", round(expr("vec_cosine_native(qv, nv)"), 6))
          .withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 10)
          .select(col("qid"), col("nid"), col("score"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (
             |  SELECT vec_id,
             |    list_transform(CAST(embedding AS DOUBLE[]), x -> round(x, 6)) AS ve
             |  FROM embeddings),
             |sd AS (
             |  SELECT CAST(rk - 1 AS BIGINT) AS cand, ve AS cv FROM (
             |    SELECT ve, row_number() OVER (
             |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk FROM e)
             |  WHERE rk <= 8),
             |asg AS (
             |  SELECT e.vec_id, s.cand, e.ve,
             |    list_sum(list_transform(range(1, len(e.ve) + 1),
             |      i -> CAST(round((e.ve[i] - s.cv[i]) * (e.ve[i] - s.cv[i]), 12)
             |           AS DECIMAL(28,12)))) AS d2
             |  FROM e CROSS JOIN sd s),
             |rk AS (
             |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS ark
             |  FROM asg),
             |corpus AS (SELECT vec_id AS nid, cand AS cluster, ve AS nv FROM rk WHERE ark = 1),
             |q AS (SELECT vec_id AS qid, cand AS cluster, ve AS qv
             |      FROM rk WHERE vec_id < 5 AND ark <= 2),
             |sc AS (
             |  SELECT q.qid, c.nid,
             |    round(list_dot_product(q.qv, c.nv) /
             |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.nv, c.nv))), 6) AS score
             |  FROM q JOIN corpus c USING (cluster)),
             |r AS (
             |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rn
             |  FROM sc)
             |SELECT qid, nid, score, rn FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)
    ),

    // PQ/ADC search-path twin, FULLY ORACLED (the production sim_ann_pq
    // keeps its trained per-subspace codebooks and stays rows-only). The
    // codebooks are pinned the same way as the IVF twin: the 8 smallest-md5
    // corpus vectors, sliced into 8 subspaces of 8 dims, are the 8 codewords
    // of each subspace. Every vector encodes to 8 one-byte codes by
    // decimal-exact per-subspace argmin; a query's OWN distance rows to each
    // (subspace, codeword) ARE its ADC lookup table, so the asymmetric
    // distance is an exact DECIMAL sum over the 8 subspace entries — both
    // engines agree bit-for-bit with zero tolerance. Plan shape at scale:
    // codes are computed map-side against the broadcast codebook (the m×k×d'
    // matrix is tiny by construction), the 5×8×8 ADC table broadcasts, and
    // the scored join shuffles only (qid, nid) aggregates.
    QueryDef(
      "sim_ann_pq_md5",
      (s, d) => {
        import s.implicits._
        val e = T(s, d, "embeddings").select(col("vec_id"),
          expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> round(x, 6))").as("ve"))
        val seeds = e
          .withColumn("h", md5(col("vec_id").cast("string")))
          .orderBy("h", "vec_id").limit(8)
          .select("ve").as[Seq[Double]].collect()
          .zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toSeq.toDF("cand", "cv")
        // distance of each vector's subspace sub to codeword cand of that
        // subspace: 8 dims at offset sub*8, decimal-exact terms
        val d2 = expr(
          """aggregate(zip_with(slice(ve, sub * 8 + 1, 8), slice(cv, sub * 8 + 1, 8),
            |  (x, y) -> CAST(round((x - y) * (x - y), 12) AS DECIMAL(28,12))),
            |  CAST(0 AS DECIMAL(38,12)), (a, t) -> CAST(a + t AS DECIMAL(38,12)))""".stripMargin)
        val sub = e.crossJoin(broadcast(seeds))
          .withColumn("sub", explode(expr("sequence(0, 7)")))
          .withColumn("d2", d2)
          .select(col("vec_id"), col("sub"), col("cand"), col("d2"))
        val codes = sub
          .withColumn("ark", row_number().over(
            Window.partitionBy("vec_id", "sub").orderBy(col("d2"), col("cand"))))
          .where(col("ark") === 1)
          .select(col("vec_id").as("nid"), col("sub"), col("cand").as("code"))
        val adc = sub.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("sub"), col("cand").as("code"), col("d2"))
        val w = Window.partitionBy("qid").orderBy(col("adist"), col("nid"))
        codes.join(broadcast(adc), Seq("sub", "code"))
          .groupBy("qid", "nid")
          .agg(round(sum(col("d2")).cast("double"), 6).as("adist"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 10)
          .select(col("qid"), col("nid"), col("adist"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (
             |  SELECT vec_id,
             |    list_transform(CAST(embedding AS DOUBLE[]), x -> round(x, 6)) AS ve
             |  FROM embeddings),
             |sd AS (
             |  SELECT CAST(rk - 1 AS BIGINT) AS cand, ve AS cv FROM (
             |    SELECT ve, row_number() OVER (
             |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk FROM e)
             |  WHERE rk <= 8),
             |sub AS (
             |  SELECT e.vec_id, g.sub, s.cand,
             |    list_sum(list_transform(range(1, 9),
             |      i -> CAST(round((e.ve[g.sub * 8 + i] - s.cv[g.sub * 8 + i]) *
             |                      (e.ve[g.sub * 8 + i] - s.cv[g.sub * 8 + i]), 12)
             |           AS DECIMAL(28,12)))) AS d2
             |  FROM e CROSS JOIN sd s CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) g),
             |codes AS (
             |  SELECT vec_id AS nid, sub, cand AS code FROM (
             |    SELECT *, row_number() OVER (
             |      PARTITION BY vec_id, sub ORDER BY d2, cand) AS ark FROM sub)
             |  WHERE ark = 1),
             |adc AS (
             |  SELECT vec_id AS qid, sub, cand AS code, d2 FROM sub WHERE vec_id < 5),
             |sc AS (
             |  SELECT a.qid, c.nid, round(CAST(sum(a.d2) AS DOUBLE), 6) AS adist
             |  FROM codes c JOIN adc a USING (sub, code)
             |  GROUP BY a.qid, c.nid),
             |r AS (
             |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS BIGINT) AS rn
             |  FROM sc)
             |SELECT qid, nid, adist, rn FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)
    ),

    // IVF+PQ COMPOSITE twin, FULLY ORACLED — the full sim_ann_ivfpq search
    // path (coarse probe → ADC shortlist → exact rerank) with both
    // codebooks pinned to the 8 smallest-md5 corpus vectors, so both
    // engines derive identical quantizers from the table alone. Coarse
    // assignment and per-subspace codes use the proven decimal-exact
    // squared-distance recipe; queries probe nprobe=2 cells; ADC ranks the
    // probed candidates; the top 20 rerank with the bit-identical cosine
    // kernel and the top 10 emit. Plan shape at scale: one k×dim seed pull,
    // broadcast codebooks, candidates bounded by the probe join — the
    // corpus never all-pairs.
    QueryDef(
      "sim_ann_ivfpq_md5",
      (s, d) => {
        import s.implicits._
        val e = T(s, d, "embeddings").select(col("vec_id"),
          expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> round(x, 6))").as("ve"))
        val seeds = e
          .withColumn("h", md5(col("vec_id").cast("string")))
          .orderBy("h", "vec_id").limit(8)
          .select("ve").as[Seq[Double]].collect()
          .zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toSeq.toDF("cand", "cv")
        val d2full = expr(
          """aggregate(zip_with(ve, cv,
            |  (x, y) -> CAST(round((x - y) * (x - y), 12) AS DECIMAL(28,12))),
            |  CAST(0 AS DECIMAL(38,12)), (a, t) -> CAST(a + t AS DECIMAL(38,12)))""".stripMargin)
        val assigned = e.crossJoin(broadcast(seeds))
          .withColumn("d2", d2full)
          .withColumn("ark", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("d2"), col("cand"))))
        val corpus = assigned.where(col("ark") === 1)
          .select(col("vec_id").as("nid"), col("cand").as("cluster"), col("ve").as("nv"))
        val probes = assigned.where(col("vec_id") < 5 && col("ark") <= 2)
          .select(col("vec_id").as("qid"), col("cand").as("cluster"))
        val d2sub = expr(
          """aggregate(zip_with(slice(ve, sub * 8 + 1, 8), slice(cv, sub * 8 + 1, 8),
            |  (x, y) -> CAST(round((x - y) * (x - y), 12) AS DECIMAL(28,12))),
            |  CAST(0 AS DECIMAL(38,12)), (a, t) -> CAST(a + t AS DECIMAL(38,12)))""".stripMargin)
        val sub = e.crossJoin(broadcast(seeds))
          .withColumn("sub", explode(expr("sequence(0, 7)")))
          .withColumn("d2", d2sub)
          .select(col("vec_id"), col("sub"), col("cand"), col("d2"))
        val codes = sub
          .withColumn("ark", row_number().over(
            Window.partitionBy("vec_id", "sub").orderBy(col("d2"), col("cand"))))
          .where(col("ark") === 1)
          .select(col("vec_id").as("nid"), col("sub"), col("cand").as("code"))
        val adc = sub.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("sub"), col("cand").as("code"), col("d2"))
        val cands = corpus.select("nid", "cluster").join(broadcast(probes), "cluster")
          .select("qid", "nid")
        val adist = cands.join(codes, "nid")
          .join(broadcast(adc), Seq("qid", "sub", "code"))
          .groupBy("qid", "nid")
          .agg(round(sum(col("d2")).cast("double"), 6).as("adist"))
        val short = adist.withColumn("arn", row_number().over(
            Window.partitionBy("qid").orderBy(col("adist"), col("nid"))))
          .where(col("arn") <= 20)
          .select("qid", "nid")
        graft.engine.GraftFunctions.register(s)
        val q = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("ve").as("qv"))
        val w = Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))
        short.join(corpus.select(col("nid"), col("nv")), "nid")
          .join(broadcast(q), "qid")
          .withColumn("score", round(expr("vec_cosine_native(qv, nv)"), 6))
          .withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 10)
          .select(col("qid"), col("nid"), col("score"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (
             |  SELECT vec_id,
             |    list_transform(CAST(embedding AS DOUBLE[]), x -> round(x, 6)) AS ve
             |  FROM embeddings),
             |sd AS (
             |  SELECT CAST(rk - 1 AS BIGINT) AS cand, ve AS cv FROM (
             |    SELECT ve, row_number() OVER (
             |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk FROM e)
             |  WHERE rk <= 8),
             |asg AS (
             |  SELECT e.vec_id, s.cand, e.ve,
             |    list_sum(list_transform(range(1, len(e.ve) + 1),
             |      i -> CAST(round((e.ve[i] - s.cv[i]) * (e.ve[i] - s.cv[i]), 12)
             |           AS DECIMAL(28,12)))) AS d2
             |  FROM e CROSS JOIN sd s),
             |rk2 AS (
             |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS ark
             |  FROM asg),
             |corpus AS (SELECT vec_id AS nid, cand AS cluster, ve AS nv FROM rk2 WHERE ark = 1),
             |probes AS (SELECT vec_id AS qid, cand AS cluster
             |           FROM rk2 WHERE vec_id < 5 AND ark <= 2),
             |subd AS (
             |  SELECT e.vec_id, g.sub, s.cand,
             |    list_sum(list_transform(range(1, 9),
             |      i -> CAST(round((e.ve[g.sub * 8 + i] - s.cv[g.sub * 8 + i]) *
             |                      (e.ve[g.sub * 8 + i] - s.cv[g.sub * 8 + i]), 12)
             |           AS DECIMAL(28,12)))) AS d2
             |  FROM e CROSS JOIN sd s CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) g),
             |codes AS (
             |  SELECT vec_id AS nid, sub, cand AS code FROM (
             |    SELECT *, row_number() OVER (
             |      PARTITION BY vec_id, sub ORDER BY d2, cand) AS ark FROM subd)
             |  WHERE ark = 1),
             |adc AS (
             |  SELECT vec_id AS qid, sub, cand AS code, d2 FROM subd WHERE vec_id < 5),
             |ad AS (
             |  SELECT p.qid, c.nid, round(CAST(sum(a.d2) AS DOUBLE), 6) AS adist
             |  FROM corpus c JOIN probes p USING (cluster)
             |  JOIN codes co ON co.nid = c.nid
             |  JOIN adc a ON a.qid = p.qid AND a.sub = co.sub AND a.code = co.code
             |  GROUP BY p.qid, c.nid),
             |short AS (
             |  SELECT qid, nid FROM (
             |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS arn
             |    FROM ad) WHERE arn <= 20),
             |sc AS (
             |  SELECT s.qid, s.nid,
             |    round(list_dot_product(q.ve, c.nv) /
             |      (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(c.nv, c.nv))), 6) AS score
             |  FROM short s JOIN corpus c ON c.nid = s.nid JOIN e q ON q.vec_id = s.qid),
             |r AS (
             |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rn
             |  FROM sc)
             |SELECT qid, nid, score, rn FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)
    ),

    // IVFADC COMPOSITE twin (residual refinement), FULLY ORACLED — codes
    // quantize v − ĉ(v) and each query builds one ADC table per PROBED
    // CELL from q − ĉ(cell), exactly the searchResidual shape. Coarse
    // centroids: the 8 smallest-md5 vectors; the RESIDUAL codebook: the
    // NEXT 8 smallest-md5 vectors' residuals w.r.t. their own assigned
    // cell (the first 8 are their own centroids — residual zero — so the
    // 9th–16th carry real within-cell offsets). Residual components round
    // to 6 dp so every downstream term stays in the proven decimal-exact
    // regime. Candidates join on (cluster); the ADC lookup joins on
    // (qid, cluster, sub, code) — the per-cell table keyed RELATIONALLY,
    // which is the collision-free form of the packed key the native path
    // uses.
    QueryDef(
      "sim_ann_ivfpq_residual_md5",
      (s, d) => {
        import s.implicits._
        val e = T(s, d, "embeddings").select(col("vec_id"),
          expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> round(x, 6))").as("ve"))
        val seedRows = e
          .withColumn("h", md5(col("vec_id").cast("string")))
          .orderBy("h", "vec_id").limit(16)
          .select("vec_id", "ve").as[(Long, Seq[Double])].collect()
        val seeds = seedRows.take(8).zipWithIndex
          .map { case ((_, v), i) => (i.toLong, v) }.toSeq.toDF("cand", "cv")
        val pqSeedIds = seedRows.drop(8).map(_._1)
        val d2full = expr(
          """aggregate(zip_with(ve, cv,
            |  (x, y) -> CAST(round((x - y) * (x - y), 12) AS DECIMAL(28,12))),
            |  CAST(0 AS DECIMAL(38,12)), (a, t) -> CAST(a + t AS DECIMAL(38,12)))""".stripMargin)
        val assigned = e.crossJoin(broadcast(seeds))
          .withColumn("d2", d2full)
          .withColumn("ark", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("d2"), col("cand"))))
        // corpus residuals w.r.t. the assigned cell
        val corpus = assigned.where(col("ark") === 1)
          .select(col("vec_id").as("nid"), col("cand").as("cluster"), col("ve"))
          .join(broadcast(seeds.select(col("cand").as("cluster"), col("cv"))), "cluster")
          .withColumn("rv", expr("zip_with(ve, cv, (x, y) -> round(x - y, 6))"))
          .select(col("nid"), col("cluster"), col("ve").as("nv"), col("rv"))
        val rvMap = corpus.where(col("nid").isin(pqSeedIds: _*))
          .select("nid", "rv").as[(Long, Seq[Double])].collect().toMap
        val seeds2 = pqSeedIds.zipWithIndex
          .map { case (id, i) => (i.toLong, rvMap(id)) }.toSeq.toDF("cand", "w")
        val d2res = expr(
          """aggregate(zip_with(slice(rv, sub * 8 + 1, 8), slice(w, sub * 8 + 1, 8),
            |  (x, y) -> CAST(round((x - y) * (x - y), 12) AS DECIMAL(28,12))),
            |  CAST(0 AS DECIMAL(38,12)), (a, t) -> CAST(a + t AS DECIMAL(38,12)))""".stripMargin)
        val codes = corpus.select(col("nid"), col("rv"))
          .crossJoin(broadcast(seeds2))
          .withColumn("sub", explode(expr("sequence(0, 7)")))
          .withColumn("d2", d2res)
          .withColumn("ark", row_number().over(
            Window.partitionBy("nid", "sub").orderBy(col("d2"), col("cand"))))
          .where(col("ark") === 1)
          .select(col("nid"), col("sub"), col("cand").as("code"))
        // query residual PER PROBED CELL → one ADC table per (qid, cluster)
        val probes = assigned.where(col("vec_id") < 5 && col("ark") <= 2)
          .select(col("vec_id").as("qid"), col("cand").as("cluster"), col("ve").as("qv"))
        val qres = probes
          .join(broadcast(seeds.select(col("cand").as("cluster"), col("cv"))), "cluster")
          .withColumn("rv", expr("zip_with(qv, cv, (x, y) -> round(x - y, 6))"))
          .select(col("qid"), col("cluster"), col("rv"))
        val adc = qres.crossJoin(broadcast(seeds2))
          .withColumn("sub", explode(expr("sequence(0, 7)")))
          .withColumn("d2", d2res)
          .select(col("qid"), col("cluster"), col("sub"), col("cand").as("code"), col("d2"))
        val cands = corpus.select("nid", "cluster")
          .join(broadcast(probes.select("qid", "cluster")), "cluster")
        val adist = cands.join(codes, "nid")
          .join(broadcast(adc), Seq("qid", "cluster", "sub", "code"))
          .groupBy("qid", "nid")
          .agg(round(sum(col("d2")).cast("double"), 6).as("adist"))
        val short = adist.withColumn("arn", row_number().over(
            Window.partitionBy("qid").orderBy(col("adist"), col("nid"))))
          .where(col("arn") <= 20)
          .select("qid", "nid")
        graft.engine.GraftFunctions.register(s)
        val q = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("ve").as("qv"))
        val w = Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))
        short.join(corpus.select(col("nid"), col("nv")), "nid")
          .join(broadcast(q), "qid")
          .withColumn("score", round(expr("vec_cosine_native(qv, nv)"), 6))
          .withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 10)
          .select(col("qid"), col("nid"), col("score"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (
             |  SELECT vec_id,
             |    list_transform(CAST(embedding AS DOUBLE[]), x -> round(x, 6)) AS ve
             |  FROM embeddings),
             |ordr AS (
             |  SELECT vec_id, ve, row_number() OVER (
             |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk FROM e),
             |sd AS (SELECT CAST(rk - 1 AS BIGINT) AS cand, ve AS cv FROM ordr WHERE rk <= 8),
             |asg AS (
             |  SELECT e.vec_id, s.cand, e.ve,
             |    list_sum(list_transform(range(1, len(e.ve) + 1),
             |      i -> CAST(round((e.ve[i] - s.cv[i]) * (e.ve[i] - s.cv[i]), 12)
             |           AS DECIMAL(28,12)))) AS d2
             |  FROM e CROSS JOIN sd s),
             |rk2 AS (
             |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS ark
             |  FROM asg),
             |corpus AS (
             |  SELECT r.vec_id AS nid, r.cand AS cluster, r.ve AS nv,
             |    list_transform(range(1, len(r.ve) + 1), i -> round(r.ve[i] - s.cv[i], 6)) AS rv
             |  FROM rk2 r JOIN sd s ON s.cand = r.cand WHERE r.ark = 1),
             |sd2 AS (
             |  SELECT CAST(o.rk - 9 AS BIGINT) AS cand, c.rv AS w
             |  FROM ordr o JOIN corpus c ON c.nid = o.vec_id
             |  WHERE o.rk BETWEEN 9 AND 16),
             |codes AS (
             |  SELECT nid, sub, cand AS code FROM (
             |    SELECT *, row_number() OVER (PARTITION BY nid, sub ORDER BY d2, cand) AS ark
             |    FROM (
             |      SELECT c.nid, g.sub, s.cand,
             |        list_sum(list_transform(range(1, 9),
             |          i -> CAST(round((c.rv[g.sub * 8 + i] - s.w[g.sub * 8 + i]) *
             |                          (c.rv[g.sub * 8 + i] - s.w[g.sub * 8 + i]), 12)
             |               AS DECIMAL(28,12)))) AS d2
             |      FROM corpus c CROSS JOIN sd2 s
             |      CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) g))
             |  WHERE ark = 1),
             |probes AS (SELECT vec_id AS qid, cand AS cluster, ve AS qv
             |           FROM rk2 WHERE vec_id < 5 AND ark <= 2),
             |qres AS (
             |  SELECT p.qid, p.cluster,
             |    list_transform(range(1, len(p.qv) + 1), i -> round(p.qv[i] - s.cv[i], 6)) AS rv
             |  FROM probes p JOIN sd s ON s.cand = p.cluster),
             |adc AS (
             |  SELECT q.qid, q.cluster, g.sub, s.cand AS code,
             |    list_sum(list_transform(range(1, 9),
             |      i -> CAST(round((q.rv[g.sub * 8 + i] - s.w[g.sub * 8 + i]) *
             |                      (q.rv[g.sub * 8 + i] - s.w[g.sub * 8 + i]), 12)
             |           AS DECIMAL(28,12)))) AS d2
             |  FROM qres q CROSS JOIN sd2 s CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) g),
             |ad AS (
             |  SELECT p.qid, c.nid, round(CAST(sum(a.d2) AS DOUBLE), 6) AS adist
             |  FROM corpus c JOIN probes p USING (cluster)
             |  JOIN codes co ON co.nid = c.nid
             |  JOIN adc a ON a.qid = p.qid AND a.cluster = c.cluster
             |    AND a.sub = co.sub AND a.code = co.code
             |  GROUP BY p.qid, c.nid),
             |short AS (
             |  SELECT qid, nid FROM (
             |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS arn
             |    FROM ad) WHERE arn <= 20),
             |sc AS (
             |  SELECT s.qid, s.nid,
             |    round(list_dot_product(q.ve, c.nv) /
             |      (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(c.nv, c.nv))), 6) AS score
             |  FROM short s JOIN corpus c ON c.nid = s.nid JOIN e q ON q.vec_id = s.qid),
             |r AS (
             |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rn
             |  FROM sc)
             |SELECT qid, nid, score, rn FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)
    ),

    // Symmetric per-vector int8 quantization — the compression step that
    // turns a float32 embedding corpus into the int8 form ANN serving
    // uses (4× smaller scans, SIMD-friendly distance kernels). Entirely
    // map-side: amax, codes and the per-vector summary are higher-order
    // functions over the row's own array, so the 100 TB plan is one scan
    // with zero shuffles (the final orderBy is the dump's sort only).
    // Cross-engine determinism: code_i = floor(x·127/amax + 0.5) uses only
    // IEEE ops both engines execute identically; the summary columns are
    // all BIGINT; scale is a single rounded double per row (no sums).
    QueryDef(
      "embedding_int8_quantize",
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("ve"))
        e.withColumn("amax", expr("array_max(transform(ve, x -> abs(x)))"))
          .withColumn("codes", expr(
            """CASE WHEN amax = 0D THEN transform(ve, x -> CAST(0 AS BIGINT))
              |ELSE transform(ve, x -> CAST(floor(x * 127.0D / amax + 0.5D) AS BIGINT)) END"""
              .stripMargin))
          .select(col("vec_id"),
            size(col("codes")).cast("long").as("n_dims"),
            expr("array_min(codes)").as("qmin"),
            expr("array_max(codes)").as("qmax"),
            expr("aggregate(codes, 0L, (a, v) -> a + v)").as("qsum"),
            expr("""aggregate(zip_with(codes, sequence(1, size(codes)),
                   |  (c, i) -> c * CAST(i AS BIGINT)), 0L, (a, v) -> a + v)"""
              .stripMargin).as("checksum"),
            round(col("amax") / lit(127.0), 9).as("scale"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
             |q AS (SELECT vec_id, ve,
             |    list_max(list_transform(ve, x -> abs(x))) AS amax FROM e),
             |c AS (SELECT vec_id, amax,
             |    CASE WHEN amax = 0 THEN list_transform(ve, x -> CAST(0 AS BIGINT))
             |    ELSE list_transform(ve, x -> CAST(floor(x * 127.0 / amax + 0.5) AS BIGINT))
             |    END AS codes
             |  FROM q)
             |SELECT vec_id, CAST(len(codes) AS BIGINT) AS n_dims,
             |  list_min(codes) AS qmin, list_max(codes) AS qmax,
             |  CAST(list_sum(codes) AS BIGINT) AS qsum,
             |  CAST(list_sum(list_transform(range(len(codes)),
             |    i -> codes[i + 1] * (i + 1))) AS BIGINT) AS checksum,
             |  round(amax / 127.0, 9) AS scale
             |FROM c ORDER BY vec_id""".stripMargin)
    ),

    // Distributed covariance (the data pass of PCA / embedding whitening):
    // one scan computes all d(d+1)/2 = 2080 second moments as a map-side
    // HOF explode (each row emits its own upper-triangle products) feeding
    // a partial-aggregated groupBy on (i, j) — the classic one-pass
    // moment-matrix build. Per-dim sums and n are tiny broadcast
    // aggregates. The eigensolve over the resulting 64×64 matrix is a
    // driver-side O(d³) step by design (d is fixed and tiny next to the
    // corpus) — what this query oracles is the 100 TB-side work.
    // Cross-engine exactness: coordinates quantize to 1e-6 integers, so
    // every moment is an EXACT int64 (|x6| < 10^6, d·n·x6² < 2^63 even at
    // sf1000); the covariance double derives from those integers by
    // identical IEEE arithmetic in both engines.
    QueryDef(
      "embedding_pca_covariance",
      (s, d) => {
        val e = T(s, d, "embeddings").select(col("vec_id"),
          expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(round(x * 1000000.0D, 0) AS BIGINT))")
            .as("x6"))
        val pairs = e.select(explode(expr(
            """flatten(transform(sequence(1, size(x6)), i ->
              |  transform(sequence(i, size(x6)), j ->
              |    named_struct('i', i, 'j', j,
              |      'pxy', element_at(x6, i) * element_at(x6, j)))))""".stripMargin))
            .as("p"))
          .select(col("p.i"), col("p.j"), col("p.pxy"))
        val sums = e.select(posexplode(col("x6")).as(Seq("d0", "x")))
          .groupBy((col("d0") + 1).as("i")).agg(sum("x").as("s"))
        val n = e.agg(count(lit(1)).as("n"))
        pairs.groupBy("i", "j").agg(sum("pxy").as("s_xy"))
          .join(broadcast(sums.select(col("i"), col("s").as("s_i"))), "i")
          .join(broadcast(sums.select(col("i").as("j"), col("s").as("s_j"))), "j")
          .crossJoin(broadcast(n))
          .withColumn("cov", round(
            (col("s_xy").cast("double") -
              col("s_i").cast("double") * col("s_j").cast("double") / col("n")) /
              (col("n") - 1) / lit(1e12), 9))
          .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
            col("s_xy"), col("s_i"), col("s_j"), col("cov"))
          .orderBy("i", "j")
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
             |    x -> CAST(round(x * 1000000.0, 0) AS BIGINT)) AS x6 FROM embeddings),
             |dims AS (SELECT vec_id, i, x6[i] AS x
             |  FROM e, (SELECT unnest(range(1, 65)) AS i) t),
             |pairs AS (SELECT a.i AS i, b.i AS j, a.x * b.x AS pxy
             |  FROM dims a JOIN dims b ON a.vec_id = b.vec_id AND a.i <= b.i),
             |s AS (SELECT i, CAST(sum(x) AS BIGINT) AS s FROM dims GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM e),
             |g AS (SELECT i, j, CAST(sum(pxy) AS BIGINT) AS s_xy FROM pairs GROUP BY 1, 2)
             |SELECT CAST(g.i AS BIGINT) AS i, CAST(g.j AS BIGINT) AS j, s_xy,
             |  si.s AS s_i, sj.s AS s_j,
             |  round((CAST(s_xy AS DOUBLE) - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE) / n)
             |    / (n - 1) / 1e12, 9) AS cov
             |FROM g JOIN s si ON g.i = si.i JOIN s sj ON g.j = sj.i CROSS JOIN n
             |ORDER BY i, j""".stripMargin)
    ),

    // PQ recall@10 against the brute-force ground truth — the second
    // point on the ANN quality curve next to sim_ann_recall_eval (IVF):
    // PQ ranks by asymmetric ADC distance, so its recall vs true cosine
    // is precisely the quantization loss being measured. Same shape as
    // the IVF eval: both sides are registered oracled queries; the eval
    // itself is a tiny integer semi-join.
    QueryDef(
      "sim_ann_recall_eval_pq",
      (s, d) => {
        val brute = qs.find(_.name == "sim_cosine_topk_bruteforce").get.fn(s, d)
          .select(col("qid"), col("nid"))
        val pq = qs.find(_.name == "sim_ann_pq_md5").get.fn(s, d)
          .select(col("qid"), col("nid"))
        brute.join(pq, Seq("qid", "nid"), "left_semi")
          .groupBy("qid")
          .agg(count(lit(1)).cast("long").as("hits"))
          .withColumn("recall_pct", (col("hits") * 10L).cast("long"))
          .orderBy("qid")
      },
      Some("""WITH be AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
             |bq AS (SELECT vec_id AS qid, ve AS qe FROM be WHERE vec_id < 5),
             |bsc AS (SELECT q.qid, e.vec_id AS nid,
             |    round(list_dot_product(e.ve, q.qe) /
             |      (sqrt(list_dot_product(e.ve, e.ve)) * sqrt(list_dot_product(q.qe, q.qe))), 6) AS score
             |  FROM be e CROSS JOIN bq q),
             |br AS (SELECT qid, nid,
             |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn FROM bsc),
             |btop AS (SELECT qid, nid FROM br WHERE rn <= 10),
             |pe AS (SELECT vec_id,
             |    list_transform(CAST(embedding AS DOUBLE[]), x -> round(x, 6)) AS ve
             |  FROM embeddings),
             |psd AS (SELECT CAST(rk - 1 AS BIGINT) AS cand, ve AS cv FROM (
             |    SELECT ve, row_number() OVER (
             |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk FROM pe)
             |  WHERE rk <= 8),
             |psub AS (SELECT e.vec_id, g.sub, s.cand,
             |    list_sum(list_transform(range(1, 9),
             |      i -> CAST(round((e.ve[g.sub * 8 + i] - s.cv[g.sub * 8 + i]) *
             |                      (e.ve[g.sub * 8 + i] - s.cv[g.sub * 8 + i]), 12)
             |           AS DECIMAL(28,12)))) AS d2
             |  FROM pe e CROSS JOIN psd s CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) g),
             |pcodes AS (SELECT vec_id AS nid, sub, cand AS code FROM (
             |    SELECT *, row_number() OVER (
             |      PARTITION BY vec_id, sub ORDER BY d2, cand) AS ark FROM psub)
             |  WHERE ark = 1),
             |padc AS (SELECT vec_id AS qid, sub, cand AS code, d2 FROM psub WHERE vec_id < 5),
             |psc AS (SELECT a.qid, c.nid, round(CAST(sum(a.d2) AS DOUBLE), 6) AS adist
             |  FROM pcodes c JOIN padc a USING (sub, code)
             |  GROUP BY a.qid, c.nid),
             |ptop AS (SELECT qid, nid FROM (
             |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rn
             |    FROM psc) WHERE rn <= 10)
             |SELECT b.qid AS qid, CAST(count(*) AS BIGINT) AS hits,
             |  CAST(count(*) * 10 AS BIGINT) AS recall_pct
             |FROM btop b JOIN ptop p ON b.qid = p.qid AND b.nid = p.nid
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // PCA end-to-end, CHECKED: the oracled covariance feeds a driver-side
    // deterministic Jacobi eigensolve (O(d³) on the 64×64 matrix — the
    // standard driver-resident step, like k-means centroids or PQ
    // codebooks), then the top-8 components broadcast back as literal
    // arrays and every embedding projects MAP-SIDE through codegen'd
    // higher-order functions. The in-engine checks close the loop:
    // Σλ must equal trace(S) (eigensolve conserves total variance), VᵀV
    // must be orthonormal, and — the end-to-end one — the DISTRIBUTED
    // per-component score variances must reproduce the eigenvalues. The
    // oracle pins those booleans plus the two DuckDB-computable scalars
    // (n, the DECIMAL-summed trace of the same covariance SQL).
    QueryDef(
      "embedding_pca_project_checked",
      (s, d) => {
        import s.implicits._
        val dDim = 64
        val covRows = qs.find(_.name == "embedding_pca_covariance").get.fn(s, d)
          .select("i", "j", "cov", "s_i").collect()
        val m = Array.ofDim[Double](dDim, dDim)
        val sInt = Array.ofDim[Long](dDim)
        covRows.foreach { r =>
          val i = r.getLong(0).toInt - 1; val j = r.getLong(1).toInt - 1
          m(i)(j) = r.getDouble(2); m(j)(i) = r.getDouble(2)
          if (i == j) sInt(i) = r.getLong(3)
        }
        val n = T(s, d, "embeddings").count()
        val (evals, evecs) = graft.operators.Pca.jacobiEigen(m)
        val traceDec = (0 until dDim)
          .map(i => BigDecimal.valueOf(m(i)(i)).setScale(9, BigDecimal.RoundingMode.HALF_UP))
          .sum
        val eigSumOk = math.abs(evals.sum - traceDec.toDouble) <=
          1e-9 * math.max(1.0, math.abs(traceDec.toDouble))
        val orthoErr = (for (i <- 0 until dDim; j <- i until dDim) yield {
          val dot = (0 until dDim).map(k => evecs(i)(k) * evecs(j)(k)).sum
          math.abs(dot - (if (i == j) 1.0 else 0.0))
        }).max
        val mean = sInt.map(_ / 1e6 / n)
        val k = 8
        // quantized coords (same 1e-6 grid the covariance used)
        val e = T(s, d, "embeddings").select(expr(
          "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> round(x * 1000000.0D, 0) / 1000000.0D)")
          .as("xq"))
        val scored = (0 until k).foldLeft(e) { (acc, c) =>
          val vArr = evecs(c).map(x => s"${x}D").mkString(",")
          val off = mean.zip(evecs(c)).map { case (mu, vv) => mu * vv }.sum
          acc.withColumn(s"sc$c",
            expr(s"aggregate(zip_with(xq, array($vArr), (x, y) -> x * y), 0D, (a, t) -> a + t)") - lit(off))
        }
        val aggs = (0 until k).map(c => sum(col(s"sc$c") * col(s"sc$c")).as(s"q$c"))
        val ssq = scored.agg(aggs.head, aggs.tail: _*).head()
        val varOk = (0 until k).forall { c =>
          val varC = ssq.getDouble(c) / (n - 1)
          math.abs(varC - evals(c)) <= math.max(1e-6, 1e-4 * math.abs(evals(c)))
        }
        Seq((eigSumOk, orthoErr <= 1e-9, varOk, n, traceDec.toDouble))
          .toDF("eig_sum_matches_trace", "orthonormal", "variance_matches_eigs",
            "n", "trace")
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
             |    x -> CAST(round(x * 1000000.0, 0) AS BIGINT)) AS x6 FROM embeddings),
             |dims AS (SELECT vec_id, i, x6[i] AS x
             |  FROM e, (SELECT unnest(range(1, 65)) AS i) t),
             |pairs AS (SELECT a.i AS i, b.i AS j, a.x * b.x AS pxy
             |  FROM dims a JOIN dims b ON a.vec_id = b.vec_id AND a.i <= b.i),
             |s AS (SELECT i, CAST(sum(x) AS BIGINT) AS s FROM dims GROUP BY 1),
             |nn AS (SELECT count(*) AS n FROM e),
             |g AS (SELECT i, j, CAST(sum(pxy) AS BIGINT) AS s_xy FROM pairs GROUP BY 1, 2),
             |cv AS (SELECT g.i, g.j,
             |    round((CAST(s_xy AS DOUBLE) - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE) / n)
             |      / (n - 1) / 1e12, 9) AS cov
             |  FROM g JOIN s si ON g.i = si.i JOIN s sj ON g.j = sj.i CROSS JOIN nn)
             |SELECT true AS eig_sum_matches_trace, true AS orthonormal,
             |  true AS variance_matches_eigs,
             |  (SELECT n FROM nn) AS n,
             |  CAST((SELECT sum(CAST(cov AS DECIMAL(18,9))) FROM cv WHERE i = j) AS DOUBLE) AS trace""".stripMargin)
    ),

    // ANN quality evaluation: recall@10 of the IVF path against the
    // brute-force ground truth, per query — the metric that decides
    // whether an approximate index is shippable. Both sides are the
    // registered, independently-oracled queries (md5-pinned seeds), so
    // the eval itself is a tiny (qid, nid) semi-join + count; at 100 TB
    // the ground truth is computed for a small query sample only (here
    // vec_id < 5) and the join is |sample|·k rows. recall_pct stays
    // integer (hits·10 for k=10) — no FP anywhere in the eval.
    QueryDef(
      "sim_ann_recall_eval",
      (s, d) => {
        val brute = qs.find(_.name == "sim_cosine_topk_bruteforce").get.fn(s, d)
          .select(col("qid"), col("nid"))
        val ivf = qs.find(_.name == "sim_ann_ivf_md5").get.fn(s, d)
          .select(col("qid"), col("nid"))
        brute.join(ivf, Seq("qid", "nid"), "left_semi")
          .groupBy("qid")
          .agg(count(lit(1)).cast("long").as("hits"))
          .withColumn("recall_pct", (col("hits") * 10L).cast("long"))
          .orderBy("qid")
      },
      Some("""WITH be AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
             |bq AS (SELECT vec_id AS qid, ve AS qe FROM be WHERE vec_id < 5),
             |bsc AS (SELECT q.qid, e.vec_id AS nid,
             |    round(list_dot_product(e.ve, q.qe) /
             |      (sqrt(list_dot_product(e.ve, e.ve)) * sqrt(list_dot_product(q.qe, q.qe))), 6) AS score
             |  FROM be e CROSS JOIN bq q),
             |br AS (SELECT qid, nid,
             |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn FROM bsc),
             |btop AS (SELECT qid, nid FROM br WHERE rn <= 10),
             |ie AS (SELECT vec_id,
             |    list_transform(CAST(embedding AS DOUBLE[]), x -> round(x, 6)) AS ve
             |  FROM embeddings),
             |isd AS (SELECT CAST(rk - 1 AS BIGINT) AS cand, ve AS cv FROM (
             |    SELECT ve, row_number() OVER (
             |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk FROM ie)
             |  WHERE rk <= 8),
             |iasg AS (SELECT e.vec_id, s.cand, e.ve,
             |    list_sum(list_transform(range(1, len(e.ve) + 1),
             |      i -> CAST(round((e.ve[i] - s.cv[i]) * (e.ve[i] - s.cv[i]), 12)
             |           AS DECIMAL(28,12)))) AS d2
             |  FROM ie e CROSS JOIN isd s),
             |irk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS ark
             |  FROM iasg),
             |icorpus AS (SELECT vec_id AS nid, cand AS cluster, ve AS nv FROM irk WHERE ark = 1),
             |iq AS (SELECT vec_id AS qid, cand AS cluster, ve AS qv
             |  FROM irk WHERE vec_id < 5 AND ark <= 2),
             |isc AS (SELECT q.qid, c.nid,
             |    round(list_dot_product(q.qv, c.nv) /
             |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.nv, c.nv))), 6) AS score
             |  FROM iq q JOIN icorpus c USING (cluster)),
             |ir AS (SELECT qid, nid,
             |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn FROM isc),
             |itop AS (SELECT qid, nid FROM ir WHERE rn <= 10)
             |SELECT b.qid AS qid, CAST(count(*) AS BIGINT) AS hits,
             |  CAST(count(*) * 10 AS BIGINT) AS recall_pct
             |FROM btop b JOIN itop i ON b.qid = i.qid AND b.nid = i.nid
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // The recall-vs-nprobe CURVE in one pass: the md5-pinned IVF evaluated
    // at nprobe ∈ {1, 2, 4} simultaneously (the probe table fans out by a
    // 3-row literal and filters ark <= np), per-query recall@10 against
    // brute-force ground truth — the tradeoff sheet an ANN operator reads
    // before picking the knob. Candidates stay (cluster)-bucketed; the
    // sweep multiplies only the probe side, never the corpus.
    QueryDef(
      "sim_ann_probe_sweep",
      (s, d) => {
        import s.implicits._
        val e = T(s, d, "embeddings").select(col("vec_id"),
          expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> round(x, 6))").as("ve"))
        val seeds = e
          .withColumn("h", md5(col("vec_id").cast("string")))
          .orderBy("h", "vec_id").limit(8)
          .select("ve").as[Seq[Double]].collect()
          .zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toSeq.toDF("cand", "cv")
        val d2 = expr(
          """aggregate(zip_with(ve, cv,
            |  (x, y) -> CAST(round((x - y) * (x - y), 12) AS DECIMAL(28,12))),
            |  CAST(0 AS DECIMAL(38,12)), (a, t) -> CAST(a + t AS DECIMAL(38,12)))""".stripMargin)
        val assigned = e.crossJoin(broadcast(seeds))
          .withColumn("d2", d2)
          .withColumn("ark", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("d2"), col("cand"))))
        val corpus = assigned.where(col("ark") === 1)
          .select(col("vec_id").as("nid"), col("cand").as("cluster"), col("ve").as("nv"))
        val sweep = assigned.where(col("vec_id") < 5 && col("ark") <= 4)
          .select(col("vec_id").as("qid"), col("cand").as("cluster"),
            col("ark"), col("ve").as("qv"))
          .withColumn("np", explode(array(lit(1L), lit(2L), lit(4L))))
          .where(col("ark") <= col("np"))
        graft.engine.GraftFunctions.register(s)
        val w = Window.partitionBy("np", "qid").orderBy(col("score").desc, col("nid"))
        val top = sweep.join(corpus, "cluster")
          .withColumn("score", round(expr("vec_cosine_native(qv, nv)"), 6))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 10)
          .select("np", "qid", "nid")
        val brute = qs.find(_.name == "sim_cosine_topk_bruteforce").get.fn(s, d)
          .select(col("qid"), col("nid"))
        top.join(brute, Seq("qid", "nid"), "left_semi")
          .groupBy("np", "qid")
          .agg(count(lit(1)).cast("long").as("hits"))
          .withColumn("recall_pct", (col("hits") * 10L).cast("long"))
          .orderBy("np", "qid")
      },
      Some("""WITH e AS (
             |  SELECT vec_id,
             |    list_transform(CAST(embedding AS DOUBLE[]), x -> round(x, 6)) AS ve
             |  FROM embeddings),
             |sd AS (
             |  SELECT CAST(rk - 1 AS BIGINT) AS cand, ve AS cv FROM (
             |    SELECT ve, row_number() OVER (
             |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk FROM e)
             |  WHERE rk <= 8),
             |asg AS (
             |  SELECT e.vec_id, s.cand, e.ve,
             |    list_sum(list_transform(range(1, len(e.ve) + 1),
             |      i -> CAST(round((e.ve[i] - s.cv[i]) * (e.ve[i] - s.cv[i]), 12)
             |           AS DECIMAL(28,12)))) AS d2
             |  FROM e CROSS JOIN sd s),
             |rk AS (
             |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS ark
             |  FROM asg),
             |corpus AS (SELECT vec_id AS nid, cand AS cluster, ve AS nv FROM rk WHERE ark = 1),
             |nps AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT)), (2), (4)) t(np)),
             |sweep AS (SELECT np, vec_id AS qid, cand AS cluster, ve AS qv
             |  FROM rk CROSS JOIN nps WHERE vec_id < 5 AND ark <= np),
             |sc AS (SELECT w.np, w.qid, c.nid,
             |    round(list_dot_product(w.qv, c.nv) /
             |      (sqrt(list_dot_product(w.qv, w.qv)) * sqrt(list_dot_product(c.nv, c.nv))), 6) AS score
             |  FROM sweep w JOIN corpus c USING (cluster)),
             |r AS (SELECT np, qid, nid,
             |    row_number() OVER (PARTITION BY np, qid ORDER BY score DESC, nid) AS rn FROM sc),
             |stop AS (SELECT np, qid, nid FROM r WHERE rn <= 10),
             |be AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS bve FROM embeddings),
             |bq AS (SELECT vec_id AS qid, bve AS bqe FROM be WHERE vec_id < 5),
             |bsc AS (SELECT q.qid, e2.vec_id AS nid,
             |    round(list_dot_product(e2.bve, q.bqe) /
             |      (sqrt(list_dot_product(e2.bve, e2.bve)) * sqrt(list_dot_product(q.bqe, q.bqe))), 6) AS score
             |  FROM be e2 CROSS JOIN bq q),
             |br AS (SELECT qid, nid,
             |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn FROM bsc),
             |btop AS (SELECT qid, nid FROM br WHERE rn <= 10)
             |SELECT s.np AS np, s.qid AS qid, CAST(count(*) AS BIGINT) AS hits,
             |  CAST(count(*) * 10 AS BIGINT) AS recall_pct
             |FROM stop s JOIN btop b ON s.qid = b.qid AND s.nid = b.nid
             |GROUP BY 1, 2 ORDER BY np, qid""".stripMargin)
    ),

    // Matryoshka truncate-then-RERANK: the full serving path — a cheap
    // 16-dim shortlist of 50 candidates per query, exact full-dimension
    // rerank of just those 50, top-10 kept. Per-query recall against the
    // true full-dimension top-10 quantifies what the two-stage path
    // recovers over raw truncation (sim_matryoshka_recall is the
    // no-rerank baseline). The rerank join touches 50 rows per query.
    QueryDef(
      "sim_matryoshka_rerank_recall",
      (s, d) => {
        val full = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("vf"))
        val pre = full.withColumn("vp", expr("slice(vf, 1, 16)"))
        val q = pre.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("vf").as("qf"), col("vp").as("qp"))
        graft.engine.GraftFunctions.register(s)
        val wPre = Window.partitionBy("qid").orderBy(col("ps").desc, col("vec_id"))
        val short50 = pre.crossJoin(broadcast(q))
          .withColumn("ps", round(expr("vec_cosine_native(vp, qp)"), 6))
          .withColumn("pr", row_number().over(wPre))
          .where(col("pr") <= 50)
        val wFull = Window.partitionBy("qid").orderBy(col("fs").desc, col("vec_id"))
        val reranked = short50
          .withColumn("fs", round(expr("vec_cosine_native(vf, qf)"), 6))
          .withColumn("rr", row_number().over(wFull))
          .where(col("rr") <= 10)
          .select(col("qid"), col("vec_id").as("nid"))
        val brute = qs.find(_.name == "sim_cosine_topk_bruteforce").get.fn(s, d)
          .select(col("qid"), col("nid"))
        brute.join(reranked, Seq("qid", "nid"), "left_semi")
          .groupBy("qid")
          .agg(count(lit(1)).cast("long").as("hits"))
          .withColumn("recall_pct", (col("hits") * 10L).cast("long"))
          .orderBy("qid")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vf,
             |    (CAST(embedding AS DOUBLE[]))[1:16] AS vp FROM embeddings),
             |q AS (SELECT vec_id AS qid, vf AS qf, vp AS qp FROM e WHERE vec_id < 5),
             |psc AS (SELECT q.qid, e.vec_id AS nid, e.vf,
             |    q.qf,
             |    round(list_dot_product(e.vp, q.qp) /
             |      (sqrt(list_dot_product(e.vp, e.vp)) * sqrt(list_dot_product(q.qp, q.qp))), 6) AS ps
             |  FROM e CROSS JOIN q),
             |sh AS (SELECT qid, nid, vf, qf FROM (
             |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY ps DESC, nid) AS pr
             |    FROM psc) WHERE pr <= 50),
             |rr AS (SELECT qid, nid FROM (
             |    SELECT qid, nid,
             |      row_number() OVER (PARTITION BY qid ORDER BY
             |        round(list_dot_product(vf, qf) /
             |          (sqrt(list_dot_product(vf, vf)) * sqrt(list_dot_product(qf, qf))), 6) DESC,
             |        nid) AS k
             |    FROM sh) WHERE k <= 10),
             |fsc AS (SELECT q.qid, e.vec_id AS nid,
             |    round(list_dot_product(e.vf, q.qf) /
             |      (sqrt(list_dot_product(e.vf, e.vf)) * sqrt(list_dot_product(q.qf, q.qf))), 6) AS score
             |  FROM e CROSS JOIN q),
             |btop AS (SELECT qid, nid FROM (
             |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn
             |    FROM fsc) WHERE rn <= 10)
             |SELECT b.qid AS qid, CAST(count(*) AS BIGINT) AS hits,
             |  CAST(count(*) * 10 AS BIGINT) AS recall_pct
             |FROM btop b JOIN rr ON b.qid = rr.qid AND b.nid = rr.nid
             |GROUP BY 1 ORDER BY qid""".stripMargin)
    ),

    // Hard-negative mining (contrastive training data): for each query
    // vector, the top-5 most-similar vectors with a DIFFERENT label —
    // the negatives that actually teach a contrastive model something.
    // Same broadcast-query brute-force kernel; the label inequality is a
    // post-score filter so the scan stays one pass.
    QueryDef(
      "sample_hard_negatives",
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("ve"))
        val q = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("ve").as("qe"))
        graft.engine.GraftFunctions.register(s)
        val scored = e.crossJoin(broadcast(q))
          .where(col("label") =!= col("qlabel"))
          .withColumn("score", round(expr("vec_cosine_native(ve, qe)"), 6))
        val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
        scored.withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 5)
          .select(col("qid"), col("vec_id").as("neg_id"), col("label").as("neg_label"),
            col("score"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
             |q AS (SELECT vec_id AS qid, label AS qlabel, ve AS qe FROM e WHERE vec_id < 5),
             |sc AS (SELECT q.qid, e.vec_id AS neg_id, e.label AS neg_label,
             |  round(list_dot_product(e.ve, q.qe) /
             |        (sqrt(list_dot_product(e.ve, e.ve)) * sqrt(list_dot_product(q.qe, q.qe))), 6) AS score
             |  FROM e CROSS JOIN q WHERE e.label <> q.qlabel),
             |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, neg_id) AS rn FROM sc)
             |SELECT qid, neg_id, neg_label, score, rn FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)
    ),

    // Matryoshka truncation search: brute-force cosine top-10 using only
    // the FIRST 16 of 64 dimensions — the dimension-reduction serving
    // trick from Matryoshka representation learning (truncate, search
    // cheap, optionally rerank full). Same codegen'd kernel over a
    // sliced array; 4× less arithmetic and memory traffic per candidate.
    QueryDef(
      "sim_cosine_topk_prefix16",
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id"),
            expr("slice(CAST(embedding AS ARRAY<DOUBLE>), 1, 16)").as("ve"))
        val q = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("ve").as("qe"))
        graft.engine.GraftFunctions.register(s)
        val scored = e.crossJoin(broadcast(q))
          .withColumn("score", round(expr("vec_cosine_native(ve, qe)"), 6))
        val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
        scored.withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 10)
          .select(col("qid"), col("vec_id").as("nid"), col("score"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, (CAST(embedding AS DOUBLE[]))[1:16] AS ve FROM embeddings),
             |q AS (SELECT vec_id AS qid, ve AS qe FROM e WHERE vec_id < 5),
             |sc AS (SELECT q.qid, e.vec_id AS nid,
             |  round(list_dot_product(e.ve, q.qe) /
             |        (sqrt(list_dot_product(e.ve, e.ve)) * sqrt(list_dot_product(q.qe, q.qe))), 6) AS score
             |  FROM e CROSS JOIN q),
             |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn FROM sc)
             |SELECT qid, nid, score, rn FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)
    ),

    // Matryoshka recall: how much of the true full-dimension top-10 the
    // 16-dim prefix search retains, per query — the quantified loss of
    // the truncation. Both sides are registered oracled queries; the
    // eval is a tiny integer semi-join.
    QueryDef(
      "sim_matryoshka_recall",
      (s, d) => {
        val brute = qs.find(_.name == "sim_cosine_topk_bruteforce").get.fn(s, d)
          .select(col("qid"), col("nid"))
        val pre = qs.find(_.name == "sim_cosine_topk_prefix16").get.fn(s, d)
          .select(col("qid"), col("nid"))
        brute.join(pre, Seq("qid", "nid"), "left_semi")
          .groupBy("qid")
          .agg(count(lit(1)).cast("long").as("hits"))
          .withColumn("recall_pct", (col("hits") * 10L).cast("long"))
          .orderBy("qid")
      },
      Some("""WITH fe AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
             |fq AS (SELECT vec_id AS qid, ve AS qe FROM fe WHERE vec_id < 5),
             |fsc AS (SELECT q.qid, e.vec_id AS nid,
             |    round(list_dot_product(e.ve, q.qe) /
             |      (sqrt(list_dot_product(e.ve, e.ve)) * sqrt(list_dot_product(q.qe, q.qe))), 6) AS score
             |  FROM fe e CROSS JOIN fq q),
             |fr AS (SELECT qid, nid,
             |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn FROM fsc),
             |ftop AS (SELECT qid, nid FROM fr WHERE rn <= 10),
             |pe AS (SELECT vec_id, (CAST(embedding AS DOUBLE[]))[1:16] AS ve FROM embeddings),
             |pq AS (SELECT vec_id AS qid, ve AS qe FROM pe WHERE vec_id < 5),
             |psc AS (SELECT q.qid, e.vec_id AS nid,
             |    round(list_dot_product(e.ve, q.qe) /
             |      (sqrt(list_dot_product(e.ve, e.ve)) * sqrt(list_dot_product(q.qe, q.qe))), 6) AS score
             |  FROM pe e CROSS JOIN pq q),
             |pr AS (SELECT qid, nid,
             |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn FROM psc),
             |ptop AS (SELECT qid, nid FROM pr WHERE rn <= 10)
             |SELECT f.qid AS qid, CAST(count(*) AS BIGINT) AS hits,
             |  CAST(count(*) * 10 AS BIGINT) AS recall_pct
             |FROM ftop f JOIN ptop p ON f.qid = p.qid AND f.nid = p.nid
             |GROUP BY 1 ORDER BY qid""".stripMargin)
    )
  )
}
