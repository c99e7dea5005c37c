package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AnnLsh, Dedup, Multimodal}

/** Near-dup / similarity / multimodal operator queries. The synthetic
  * documents/embeddings carry no natural duplicates, so each query plants
  * deterministic perturbed copies (id + 100000) — perturbations are
  * expressible in both engines, so the verification queries get DuckDB
  * oracles while the LSH candidate-generation plans run rows-only.
  */
object DedupQueries {

  /** documents ∪ perturbed copies (first token dropped, marker appended). */
  private def docsWithDups(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents").select("doc_id", "text")
    val perturbed = docs.select(
      (col("doc_id") + 100000).as("doc_id"),
      concat(expr("substring(text, instr(text, ' ') + 1)"), lit(" zzz")).as("text"))
    docs.unionByName(perturbed)
  }

  /** Verified near-dup pairs via the md5-derived MinHash family — the
    * SQL-expressible LSH (see dedup_minhash_lsh_md5). Fully declarative:
    * shingles, signature mins, and band keys are codegen HOFs, no UDF.
    */
  /** doc_id + the H md5-derived minhash columns sig0..sig{H-1}. */
  private def md5SigTable(s: SparkSession, d: String, H: Int): DataFrame = {
    val docs = docsWithDups(s, d)
      .withColumn("ws", expr("filter(split(text, ' +'), x -> x != '')"))
      .withColumn("sh", expr(
        """CASE WHEN size(ws) >= 3
          |  THEN transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', slice(ws, i, 3)))
          |  ELSE array(concat_ws(' ', ws)) END""".stripMargin))
    val sigs = (0 until H).map(k =>
      expr(s"""aggregate(sh, 9223372036854775807L, (acc, t) ->
              |  least(acc, cast(conv(substring(md5(concat(t, ':$k')), 1, 15), 16, 10) as bigint)))"""
        .stripMargin).as(s"sig$k"))
    docs.select((col("doc_id") +: sigs): _*)
  }

  /** Deduplicated candidate pairs (a < b) from banding the sig table. */
  private def md5BandCandidates(s: SparkSession, withSig: DataFrame,
                                H: Int, B: Int): DataFrame = {
    val bands = (0 until B).map { b =>
      val cols = (0 until H / B).map(r => s"sig${b * (H / B) + r}")
      expr(s"md5(concat_ws(':', ${cols.mkString(", ")}))").as(s"band$b")
    }
    val buckets = withSig.select((col("doc_id") +: bands): _*)
      .select(col("doc_id"), posexplode(array((0 until B).map(b => col(s"band$b")): _*))
        .as(Seq("band", "bh")))
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
      .repartition(s.sparkContext.defaultParallelism)
  }

  private def md5LshPairs(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val H = 16; val B = 4
    val withSig = md5SigTable(s, d, H)
    val cand = md5BandCandidates(s, withSig, H, B)
    val toks = docsWithDups(s, d).select(col("doc_id"),
      expr("array_distinct(filter(split(text, ' +'), x -> x != ''))").as("ts"))
    cand
      .join(toks.select(col("doc_id").as("a"), col("ts").as("ta")), "a")
      .join(toks.select(col("doc_id").as("b"), col("ts").as("tb")), "b")
      .withColumn("jaccard", round(
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))), 6))
      .where(col("jaccard") >= 0.5)
      .select("a", "b", "jaccard")
  }

  /** The WITH-body computing the same pairs in DuckDB (CTE `pairs`). */
  private def md5LshPairsSqlCtes: String = {
    val H = 16; val B = 4
    val sigExprs = (0 until H).map(k =>
      s"list_min(list_transform(sh, t -> CAST(('0x' || substr(md5(t || ':$k'), 1, 15)) AS BIGINT))) AS sig$k"
    ).mkString(",\n  ")
    val bandSelects = (0 until B).map { b =>
      val cols = (0 until H / B).map(r => s"sig${b * (H / B) + r}")
      s"SELECT doc_id, $b AS band, md5(concat_ws(':', ${cols.mkString(", ")})) AS bh FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000,
       |    substr(text, instr(text, ' ') + 1) || ' zzz' FROM documents),
       |t AS (SELECT doc_id, list_filter(string_split_regex(text, ' +'),
       |    x -> x <> '') AS ws FROM all_docs),
       |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3
       |    THEN list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
       |    ELSE [array_to_string(ws, ' ')] END AS sh FROM t),
       |sig AS (SELECT doc_id,
       |  $sigExprs
       |  FROM sh),
       |buckets AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |toks AS (SELECT doc_id, list_distinct(list_filter(
       |    string_split_regex(text, ' +'), x -> x <> '')) AS ts FROM all_docs),
       |pairs AS (SELECT a, b,
       |  round(CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE) /
       |        len(list_distinct(list_concat(ta.ts, tb.ts))), 6) AS jaccard
       |FROM cand JOIN toks ta ON cand.a = ta.doc_id
       |          JOIN toks tb ON cand.b = tb.doc_id
       |WHERE CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE) /
       |      len(list_distinct(list_concat(ta.ts, tb.ts))) >= 0.5)""".stripMargin
  }

  /** 16 Rademacher hyperplanes over 64 dims, each sign pinned by the first
    * md5 hex digit of "k:d" — derived once at code-generation time and
    * embedded as LITERALS in both engines' expressions, so there is no
    * runtime RNG to diverge.
    */
  private val RademacherH = 16
  private val RademacherB = 4
  private def rademacherSigns(k: Int): Seq[Int] = (0 until 64).map { dd =>
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$k:$dd".getBytes("UTF-8"))
      .take(1).map(b => f"$b%02x").mkString
    if (hex.head < '8') 1 else -1
  }

  /** DuckDB twin of the md5-Rademacher LSH verified-pairs pipeline (no
    * final ORDER BY): shared by embedding_neardup_lsh_md5 and the
    * cluster-consolidation query that feeds its pairs to connected
    * components.
    */
  private lazy val embLshMd5PairsSql: String = {
    val bitExprs = (0 until RademacherH).map { k =>
      val arr = rademacherSigns(k).map(v => s"$v.0").mkString("[", ", ", "]")
      s"CASE WHEN list_dot_product(ve, $arr) >= 0 THEN '1' ELSE '0' END AS bit$k"
    }.mkString(",\n  ")
    val bandSelects = (0 until RademacherB).map { b =>
      val cols = (0 until RademacherH / RademacherB)
        .map(r => s"bit${b * (RademacherH / RademacherB) + r}")
      s"SELECT vec_id, $b AS band, ${cols.mkString(" || ")} AS key FROM bits"
    }.mkString("\n  UNION ALL ")
    s"""WITH all_v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.05)
       |  FROM embeddings),
       |bits AS (SELECT vec_id,
       |  $bitExprs
       |  FROM all_v),
       |buckets AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id),
       |sc AS (SELECT a, b,
       |  round(list_dot_product(va.ve, vb.ve) /
       |    (sqrt(list_dot_product(va.ve, va.ve)) * sqrt(list_dot_product(vb.ve, vb.ve))), 6) AS cos
       |  FROM cand JOIN all_v va ON cand.a = va.vec_id
       |            JOIN all_v vb ON cand.b = vb.vec_id)
       |SELECT a, b, cos FROM sc WHERE cos >= 0.9""".stripMargin
  }

  /** The planted segment-dedup corpus: documents ∪ one exact copy per doc
    * (+100000) ∪ one partial copy sharing the first two segments plus a
    * unique tail (+200000), exploded to non-overlapping 10-token segments
    * with md5 keys. Shared by the batch `dedup_segments` and its streaming
    * twin so both answer the same DuckDB oracle.
    */
  private[queries] def segmentsWithDups(s: SparkSession, d: String): DataFrame = {
    val base = T(s, d, "documents").select("doc_id", "text")
    val exact = base.select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val partial = base.select((col("doc_id") + 200000).as("doc_id"),
      concat(
        expr("concat_ws(' ', slice(filter(split(text, ' +'), x -> x != ''), 1, 20))"),
        lit(" tail "), col("doc_id").cast("string")).as("text"))
    base.unionByName(exact).unionByName(partial)
      .withColumn("ws", expr("filter(split(text, ' +'), x -> x != '')"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, (size(ws) - 1) div 10), k -> concat_ws(' ', slice(ws, k * 10 + 1, 10)))"))
        .as(Seq("seg_idx", "seg")))
      .withColumn("seg_h", md5(col("seg")))
  }

  /** Shared oracle for the batch segment dedup and its streaming twin —
    * both compute the identical survivor set, so one SQL serves both.
    */
  private val segmentsOracleSql: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
      |ex AS (SELECT doc_id + 100000 AS doc_id, text FROM base),
      |pt AS (SELECT doc_id + 200000 AS doc_id,
      |    array_to_string(list_filter(string_split_regex(text, ' +'),
      |      x -> x <> '')[1:20], ' ') || ' tail ' || CAST(doc_id AS VARCHAR) AS text
      |  FROM base),
      |allv AS (SELECT * FROM base UNION ALL SELECT * FROM ex UNION ALL SELECT * FROM pt),
      |t AS (SELECT doc_id, list_filter(string_split_regex(text, ' +'),
      |    x -> x <> '') AS ws FROM allv),
      |segs AS (SELECT doc_id, k AS seg_idx,
      |    array_to_string(ws[k*10+1 : k*10+10], ' ') AS seg,
      |    md5(array_to_string(ws[k*10+1 : k*10+10], ' ')) AS seg_h
      |  FROM t, UNNEST(range(0, (len(ws) - 1) // 10 + 1)) AS u(k)),
      |first AS (SELECT seg_h, min(doc_id) AS k_doc FROM segs GROUP BY 1),
      |first2 AS (SELECT s.seg_h, f.k_doc, min(s.seg_idx) AS k_seg
      |  FROM segs s JOIN first f ON s.seg_h = f.seg_h AND s.doc_id = f.k_doc
      |  GROUP BY 1, 2),
      |kept AS (SELECT s.* FROM segs s JOIN first2 f
      |  ON s.seg_h = f.seg_h AND s.doc_id = f.k_doc AND s.seg_idx = f.k_seg),
      |perdoc AS (SELECT doc_id, count(*) AS n_kept,
      |    md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS kept_md5
      |  FROM kept GROUP BY 1),
      |tot AS (SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY 1)
      |SELECT t.doc_id, t.n_segs, coalesce(p.n_kept, 0) AS n_kept, p.kept_md5
      |FROM tot t LEFT JOIN perdoc p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Per-doc reassembly of surviving segments — shared by the batch and
    * streaming segment-dedup queries.
    */
  private def segmentsAssembly(segs: DataFrame, kept: DataFrame): DataFrame = {
    val perDoc = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      md5(concat_ws(" ", expr(
        "transform(array_sort(collect_list(struct(seg_idx, seg))), x -> x.seg)")))
        .as("kept_md5"))
    segs.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("kept_md5"))
      .orderBy("doc_id")
  }

  /** Distinct 3-gram shingle sets per doc: (doc_id, sz, sh). */
  private[graft] def shingleSets(s: SparkSession, d: String): DataFrame =
    // Fanout BEFORE the compute: the CPU-heavy tokenize/shingle projection
    // otherwise runs at source-split width (2 on the local parquet). The
    // conditional repartition is a no-op whenever the scan is already at
    // least core-wide (no extra text shuffle on wide inputs), and it
    // hashes on doc_id so the prefix-rank window downstream reuses the
    // same exchange.
    graft.engine.Fanout.ensureByKey(s, docsWithDups(s, d), col("doc_id"))
      .withColumn("ws", expr("filter(split(text, ' +'), x -> x != '')"))
      .withColumn("sh", expr(
        """array_distinct(CASE WHEN size(ws) >= 3
          |  THEN transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', slice(ws, i, 3)))
          |  ELSE array(concat_ws(' ', ws)) END)""".stripMargin))
      .select(col("doc_id"), size(col("sh")).as("sz"), col("sh"))

  /** Prefix-filtered exact Jaccard self-join at threshold num/den — see the
    * dedup_jaccard_prefix QueryDef for the algorithm notes. Exposed with the
    * threshold parameterized so JaccardPrefixSpec can sweep it.
    */
  /** Shared scaffolding of the prefix-filtered set-similarity joins
    * (jaccardPrefixJoin, containmentJoin): the hash-sorted shingle
    * checkpoint, its exploded form, the df-ranked prefix rows, and the
    * broadcast decision. Returns (sh, ex, pref, small).
    *
    * - Shingles become 64-bit xxhash64 hashes at the build boundary,
    *   sorted ONCE per doc: every downstream stage — document-frequency
    *   count, rank window, candidate join, and the sorted-merge verify
    *   kernel — runs on 8-byte longs instead of ~25-byte strings. Same
    *   contract the minhash verify pins (Dedup.shingleHashesSorted):
    *   inter/union values identical to the string-set computation absent
    *   a 64-bit collision; JaccardPrefixSpec asserts set equality against
    *   STRING brute forces across thresholds for both joins. The concrete
    *   win is the verify payload join: the broadcast relation build of
    *   the string arrays measured single-threaded at ~4.3 s on the 10x
    *   soak corpus (jstack: UnsafeHashedRelation.apply on one core) —
    *   hash arrays are ~5x smaller, and the honest default array
    *   estimator (8 B/element) prices them correctly at any corpus size.
    * - The checkpoint makes the tokenize/shingle pass run once for its
    *   multiple consumers; at scale that boundary is where a production
    *   pipeline would persist its tokenized corpus. The broadcast probe
    *   runs against the STABLE pre-checkpoint plan (a localCheckpoint
    *   canonicalizes to its per-build RDD identity, which would defeat
    *   the fitsBroadcast memo and re-pay the probe every bench rep).
    * - Global shingle order = (document frequency asc, hash): total
    *   within a doc because shingles are distinct per doc — row_number
    *   is stable cross-engine, and ANY total order keeps the prefix
    *   filters complete (the oracles rank by the string shingle).
    */
  private def rankedPrefixPlan(s: SparkSession, d: String, num: Int, den: Int)
      : (DataFrame, DataFrame, DataFrame, Boolean) = {
    val shPlan = shingleSets(s, d)
      .withColumn("sh", array_sort(expr("transform(sh, x -> xxhash64(x))")))
    val small = Dedup.fitsBroadcast(shPlan)
    val sh = shPlan.localCheckpoint()
    val ex = sh.select(col("doc_id"), col("sz"), explode(col("sh")).as("s"))
    val df = ex.groupBy("s").agg(count(lit(1)).as("df"))
    // repartition on the window key = the exchange the window needs anyway,
    // pinned to full width (AQE would coalesce this small-but-CPU-heavy
    // shuffle down to 2 partitions at test SF)
    val ranked = ex.join(df, "s")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("df"), col("s"))))
    // prefix length p = sz - ceil(t*sz) + 1, all-integer ceil division
    val pref = ranked.where(
      col("rn") <= col("sz") - expr(s"(($num * sz) + $den - 1) div $den") + 1)
    (sh, ex, pref, small)
  }

  private[graft] def jaccardPrefixJoin(s: SparkSession, d: String,
                                       num: Int, den: Int): DataFrame = {
    val (sh, _, pref0, small) = rankedPrefixPlan(s, d, num, den)
    // the prefix set feeds BOTH sides of the self-join — checkpoint it
    val pref = pref0.localCheckpoint()
    val x = pref.select(col("doc_id").as("a_id"), col("sz").as("sa"),
      col("s").as("xs"), col("rn").as("xrn"))
    val y = pref.select(col("doc_id").as("b_id"), col("sz").as("sb"),
      col("s").as("ys"), col("rn").as("yrn"))
    val cand = x.join(y,
        col("xs") === col("ys") && col("a_id") < col("b_id") &&
          lit(den) * least(col("sa"), col("sb")) >=
          lit(num) * greatest(col("sa"), col("sb")))
      .groupBy("a_id", "b_id")
      .agg(min(col("xrn")).as("pa"), expr("min_by(yrn, xrn)").as("pb"),
        min(col("sa")).as("sa"), min(col("sb")).as("sb"))
    // positional filter: overlap upper bound at the first shared prefix
    // shingle must reach alpha = ceil(t/(1+t) * (sa+sb))
    val pos = cand.where(
      lit(1) + least(col("sa") - col("pa"), col("sb") - col("pb")) >=
        expr(s"(($num * (sa + sb)) + ($num + $den) - 1) div ($num + $den)"))
      .select("a_id", "b_id")
      // AQE coalesces the byte-small candidate set to a few partitions,
      // but the exact-intersection verify below is CPU-bound per row —
      // fan it back out (same idiom as dedup_minhash_lsh)
      .repartition(s.sparkContext.defaultParallelism)
    // shingle payloads broadcast only when the capped probe proved the
    // corpus small (keeps pos's full width); above the cap both sides
    // shuffle on the id — the only 100 TB-viable plan
    val verified = pos
      .join(Dedup.hintIf(
        sh.select(col("doc_id").as("a_id"), col("sh").as("sha")), small), "a_id")
      .join(Dedup.hintIf(
        sh.select(col("doc_id").as("b_id"), col("sh").as("shb")), small), "b_id")
      // exact |A ∩ B| via the native sorted-merge kernel (arrays were
      // sorted once at the checkpoint above); size(array_intersect(...))
      // would build a hash set + result array per candidate pair
      .withColumn("inter", graft.engine.Expressions.sortedIntersectCount(
        col("sha"), col("shb")))
      .withColumn("union_sz",
        (size(col("sha")) + size(col("shb"))).cast("bigint") - col("inter"))
    verified
      .where(lit(den) * col("inter") >= lit(num) * col("union_sz"))
      .select(col("a_id"), col("b_id"), col("inter"), col("union_sz"),
        round(col("inter").cast("double") / col("union_sz"), 6).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** Containment self-join at threshold num/den: pairs whose shingle
    * overlap covers ≥ t of the SMALLER document — C(A,B) =
    * |A∩B| / min(|A|,|B|). The asymmetric dual of the Jaccard join:
    * a short document quoted inside a long one has high containment but
    * arbitrarily low Jaccard, so RefinedWeb/Dolma-style pipelines run
    * both. Candidate generation is the containment prefix filter
    * (Chaudhuri et al. ICDE'06 / PPJoin): a qualifying pair's SMALLER
    * side must share a shingle within its own (df-ascending) prefix of
    * length sz − ceil(t·sz) + 1 (pigeonhole: only ceil(t·sz) − 1
    * shingles sit outside it, fewer than the required overlap), so
    * prefix(x) ⋈ full(y) is a complete candidate set under ANY total
    * shingle order — the verify recomputes exact containment from the
    * full sorted-hash arrays through the merge kernel, so the output is
    * order-independent (the DuckDB oracle ranks by the string shingle,
    * this plan by its hash; both verify exactly). Same scale shape as
    * the Jaccard join: hashes end-to-end, one tokenize checkpoint,
    * ids-only candidates, byte-guarded broadcast of the payload.
    */
  private[graft] def containmentJoin(s: SparkSession, d: String,
                                     num: Int, den: Int): DataFrame = {
    val (sh, ex, pref, small) = rankedPrefixPlan(s, d, num, den)
    // prefix side ⋈ FULL side (not prefix ⋈ prefix — containment's filter
    // constrains only the smaller document); unordered pair + distinct
    val cand = pref.select(col("doc_id").as("p_id"), col("s").as("ps"))
      .join(ex.select(col("doc_id").as("f_id"), col("s").as("fs")),
        col("ps") === col("fs") && col("p_id") =!= col("f_id"))
      .select(least(col("p_id"), col("f_id")).as("a_id"),
        greatest(col("p_id"), col("f_id")).as("b_id"))
      .distinct()
      .repartition(s.sparkContext.defaultParallelism)
    cand
      .join(Dedup.hintIf(
        sh.select(col("doc_id").as("a_id"), col("sh").as("sha")), small), "a_id")
      .join(Dedup.hintIf(
        sh.select(col("doc_id").as("b_id"), col("sh").as("shb")), small), "b_id")
      .withColumn("inter", graft.engine.Expressions.sortedIntersectCount(
        col("sha"), col("shb")))
      .withColumn("min_sz", least(size(col("sha")), size(col("shb"))).cast("bigint"))
      .where(lit(den) * col("inter") >= lit(num) * col("min_sz"))
      .select(col("a_id"), col("b_id"), col("inter"), col("min_sz"),
        round(col("inter").cast("double") / col("min_sz"), 6).as("containment"))
      .orderBy("a_id", "b_id")
  }

  /** The identical plan in DuckDB SQL (string shingles — the exact verify
    * makes the candidate order difference immaterial, see containmentJoin).
    */
  private def containmentOracle(num: Int, den: Int): String =
    s"""WITH all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000,
       |    substr(text, instr(text, ' ') + 1) || ' zzz' FROM documents),
       |t AS (SELECT doc_id, list_filter(string_split_regex(text, ' +'),
       |    x -> x <> '') AS ws FROM all_docs),
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
       |    THEN list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
       |    ELSE [array_to_string(ws, ' ')] END) AS sh FROM t),
       |ex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sh),
       |df AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
       |ranked AS (
       |  SELECT ex.doc_id, ex.sz, ex.s,
       |         row_number() OVER (PARTITION BY ex.doc_id ORDER BY df.df, ex.s) AS rn
       |  FROM ex JOIN df USING (s)),
       |pref AS (
       |  SELECT doc_id, sz, s FROM ranked
       |  WHERE rn <= sz - (($num*sz + $den-1) // $den) + 1),
       |cand AS (
       |  SELECT DISTINCT least(p.doc_id, f.doc_id) AS a_id,
       |                  greatest(p.doc_id, f.doc_id) AS b_id
       |  FROM pref p JOIN ex f ON p.s = f.s AND p.doc_id <> f.doc_id),
       |verified AS (
       |  SELECT a_id, b_id,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
       |    CAST(least(len(sa.sh), len(sb.sh)) AS BIGINT) AS min_sz
       |  FROM cand JOIN sh sa ON sa.doc_id = a_id
       |            JOIN sh sb ON sb.doc_id = b_id)
       |SELECT a_id, b_id, inter, min_sz,
       |       round(CAST(inter AS DOUBLE) / min_sz, 6) AS containment
       |FROM verified WHERE $den * inter >= $num * min_sz
       |ORDER BY a_id, b_id""".stripMargin

  /** The identical Jaccard plan in DuckDB SQL (same integer thresholds). */
  private def jaccardPrefixOracle(num: Int, den: Int): String =
    s"""WITH all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000,
       |    substr(text, instr(text, ' ') + 1) || ' zzz' FROM documents),
       |t AS (SELECT doc_id, list_filter(string_split_regex(text, ' +'),
       |    x -> x <> '') AS ws FROM all_docs),
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
       |    THEN list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
       |    ELSE [array_to_string(ws, ' ')] END) AS sh FROM t),
       |ex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sh),
       |df AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
       |ranked AS (
       |  SELECT ex.doc_id, ex.sz, ex.s,
       |         row_number() OVER (PARTITION BY ex.doc_id ORDER BY df.df, ex.s) AS rn
       |  FROM ex JOIN df USING (s)),
       |pref AS (
       |  SELECT doc_id, sz, s, rn FROM ranked
       |  WHERE rn <= sz - (($num*sz + $den-1) // $den) + 1),
       |cand AS (
       |  SELECT x.doc_id AS a_id, y.doc_id AS b_id,
       |         min(x.rn) AS pa, min_by(y.rn, x.rn) AS pb,
       |         min(x.sz) AS sa, min(y.sz) AS sb
       |  FROM pref x JOIN pref y
       |    ON x.s = y.s AND x.doc_id < y.doc_id
       |   AND $den * least(x.sz, y.sz) >= $num * greatest(x.sz, y.sz)
       |  GROUP BY 1, 2),
       |pos AS (
       |  SELECT a_id, b_id FROM cand
       |  WHERE 1 + least(sa - pa, sb - pb) >=
       |        ($num * (sa + sb) + ($num + $den) - 1) // ($num + $den)),
       |verified AS (
       |  SELECT a_id, b_id,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
       |    CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS union_sz
       |  FROM pos JOIN sh sa ON sa.doc_id = a_id
       |           JOIN sh sb ON sb.doc_id = b_id)
       |SELECT a_id, b_id, inter, union_sz,
       |       round(CAST(inter AS DOUBLE) / union_sz, 6) AS jaccard
       |FROM verified WHERE $den * inter >= $num * union_sz
       |ORDER BY a_id, b_id""".stripMargin

  /** Distinct 3-gram shingle expr over a token-array column (SQL string,
    * mirrored verbatim by the DuckDB oracles). */
  private def shingleExprStr(c: String): String =
    s"""array_distinct(CASE WHEN size($c) >= 3
       |  THEN transform(sequence(1, size($c) - 2), i -> concat_ws(' ', slice($c, i, 3)))
       |  ELSE array(concat_ws(' ', $c)) END)""".stripMargin

  /** embeddings ∪ perturbed copies (+0.05 per component, cos ≈ 0.93). */
  private def embWithDups(s: SparkSession, d: String): DataFrame = {
    val e = T(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    e.unionByName(e.select(
      (col("vec_id") + 100000).as("vec_id"),
      expr("transform(ve, x -> x + 0.05d)").as("ve")))
  }


  /** SemDeDup scaffolding (Abbas et al. 2023, arXiv:2303.09540 — semantic
    * deduplication for web-scale training data): k-means cluster the
    * embedding corpus, then find exact-cosine duplicate pairs WITHIN each
    * cluster. The quadratic pairwise stage is confined to one cluster —
    * IvfIndex.kFor grows k with the corpus so expected occupancy (and the
    * per-task pair count) stays bounded, exactly why the paper runs k-means
    * before the pairwise sweep. Pairs in different clusters are deliberately
    * missed (the paper's recall trade); dedup_semantic_checked proves every
    * planted miss is cross-cluster and every same-cluster planted pair is
    * found. Returns (model, assigned, pairs): pairs carry (a, b, cos) with
    * a < b and cos = round(exact cosine, 6) ≥ 0.9 — the within-cluster
    * candidate set is EXHAUSTIVE (an equi-join, not LSH), so there is no
    * approximation inside a cluster to verify.
    */
  /** Cluster-assignment handle abstracting the flat vs two-level quantizer:
    * the flat path is a pure map-side column; the two-level path needs a
    * codebook JOIN, so "add a cluster column" is the common shape both
    * support (and what the checked twin needs to test same-cluster-ness
    * of the planted perturbation under either quantizer).
    */
  private[graft] trait SemQuantizer {
    def withCluster(df: DataFrame, v: org.apache.spark.sql.Column,
        out: String): DataFrame
  }

  private[graft] def semanticScaffold(s: SparkSession, d: String,
      forceTwoLevel: Boolean = false)
      : (SemQuantizer, DataFrame, DataFrame) = {
    graft.engine.GraftFunctions.register(s)
    val e = embWithDups(s, d)
    val n = graft.operators.AnnLsh.memoizedCount(e)
    val k = graft.operators.IvfIndex.kFor(n)
    // flat (plan-embedded) quantizer while k fits the plan-bytes budget;
    // two-level past FlatCap (n ≈ 8.4M vectors) — identical contract,
    // codebooks as data instead of plan. At the test SFs the flat path
    // runs, so registered outputs are unchanged; dedup_semantic_twolevel_
    // checked forces the scale path through the same oracled contract.
    val quant: SemQuantizer =
      if (k <= graft.operators.IvfIndex.FlatCap && !forceTwoLevel) {
        val model = graft.operators.IvfIndex.train(
          s, e.select(col("vec_id").as("id"), col("ve").as("v")),
          k, iters = 3, knownN = Some(n))
        (df: DataFrame, v: org.apache.spark.sql.Column, out: String) =>
          df.withColumn(out, graft.operators.IvfIndex.assignCol(v, model))
      } else {
        val m2 = graft.operators.IvfIndex.trainTwoLevel(
          s, e.select(col("vec_id").as("id"), col("ve").as("v")),
          k, iters = 3, knownN = Some(n))
        (df: DataFrame, v: org.apache.spark.sql.Column, out: String) =>
          graft.operators.IvfIndex.assignTwoLevel(df, v, m2, out)
      }
    // Fan the clustered rows out on the cluster id before the self-join:
    // the within-cluster pair sweep is CPU-quadratic per partition but
    // byte-small, so AQE's byte-based coalescing shrank the join's
    // exchange to 2 tasks at sf0.1 (measured: 1.0 s wall / 1.7 s CPU on a
    // 32-core session for the pair stage alone). ensureByKey is a no-op
    // at cluster scale, where scan splits >> cores (guide §2.5).
    val assigned = graft.engine.Fanout.ensureByKey(s,
      quant.withCluster(e, col("ve"), "cluster"), col("cluster"))
    // within-cluster pairs: vectors shuffle ONCE on the cluster id (both
    // self-join sides share the exchange) and the codegen cosine filter
    // consumes joined pairs streamingly — nothing quadratic materializes
    val x = assigned.select(col("vec_id").as("a"), col("cluster"), col("ve").as("va"))
    val y = assigned.select(col("vec_id").as("b"), col("cluster"), col("ve").as("vb"))
    val pairs = x.as("x").join(y.as("y"),
        col("x.cluster") === col("y.cluster") && col("a") < col("b"))
      .withColumn("cos", round(expr("vec_cosine_native(va, vb)"), 6))
      .where(col("cos") >= 0.9)
      .select(col("a"), col("b"), col("cos"))
    (quant, assigned, pairs)
  }

  /** Shared body of the dedup_semantic contract twins (flat and forced
    * two-level): reduces the operator's output to claims DuckDB can either
    * compute exactly (planted cosines are a function of ONE row) or
    * adjudicate as booleans that hold iff the operator honored its
    * contract — under ANY quantizer.
    */
  private[graft] def semanticCheckedPlan(s: SparkSession, d: String,
      forceTwoLevel: Boolean): DataFrame = {
    val (quant, _, pairsPlan) = semanticScaffold(s, d, forceTwoLevel)
    // the verified pair set feeds four independent aggregates below —
    // pin it once (CC re-derives it internally per star round otherwise)
    val pairs = pairsPlan.localCheckpoint()
    val comps = graft.operators.ConnectedComponents
      .components(s, pairs.select("a", "b"), "a", "b")
    val planted = plantedProbe(s, d, quant)
    val plantedAgg = planted.agg(
      sum(when(col("ge_t"), 1L).otherwise(0L)).as("n_planted_ge_t"),
      sum(when(col("ge_t") && col("same_cluster"), 1L).otherwise(0L))
        .as("n_planted_same"),
      sum(when(col("ge_t") && !col("same_cluster"), 1L).otherwise(0L))
        .as("n_planted_cross"))
    val foundPlanted = planted.where(col("ge_t"))
      .select(col("vec_id").as("a"), (col("vec_id") + 100000).as("b"))
      .join(pairs.select("a", "b"), Seq("a", "b"))
      .agg(count(lit(1)).as("n_planted_found"))
    val nodeStats = comps.agg(
      count(lit(1)).as("n_nodes"),
      sum(when(col("node") =!= col("comp"), 1L).otherwise(0L)).as("n_dropped"),
      countDistinct(col("comp")).as("n_comps"))
    // non-vacuous survivor-pick check: every component's label must BE
    // its minimum member (a broken CC could emit labels that are not
    // the component min, or representatives outside their own
    // component — this catches both; "every node is a pair endpoint"
    // would be true by construction and prove nothing)
    val badReps = comps.groupBy("comp").agg(min("node").as("mn"))
      .where(col("mn") =!= col("comp"))
      .agg(count(lit(1)).as("n_bad_reps"))
    embWithDups(s, d).agg(count(lit(1)).as("n_input"))
      .crossJoin(broadcast(plantedAgg))
      .crossJoin(broadcast(foundPlanted))
      .crossJoin(broadcast(nodeStats))
      .crossJoin(broadcast(badReps))
      .select(
        col("n_input").cast("long").as("n_input"),
        col("n_planted_ge_t").cast("long").as("n_planted_ge_t"),
        (col("n_dropped") === col("n_nodes") - col("n_comps")).as("cc_structure_ok"),
        (col("n_bad_reps") === 0L).as("reps_are_component_minima"),
        (col("n_planted_found") === col("n_planted_same"))
          .as("planted_recall_complete"),
        (col("n_planted_found") + col("n_planted_cross") === col("n_planted_ge_t"))
          .as("planted_split_consistent"))
  }

  /** Planted-duplicate probe frame, ONE owner for the planted-pair
    * convention (the +0.05/component perturbation, the 0.9 threshold,
    * the +100000 id spacing): vp is bit-identical to the copy
    * embWithDups builds (same transform expression), so cluster
    * assignments and cosines match the operator's exactly. same_cluster
    * goes through the quantizer handle — a map-side column on the flat
    * path, two codebook joins on the two-level path. Shared by the
    * checked twins and tools.SemRecall so the recall probe can never
    * drift from the oracled contract.
    */
  private[graft] def plantedProbe(s: SparkSession, d: String,
      quant: SemQuantizer): DataFrame = {
    val base = T(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
      .withColumn("vp", expr("transform(ve, x -> x + 0.05d)"))
      .withColumn("pcos", round(expr("vec_cosine_native(ve, vp)"), 6))
      .withColumn("ge_t", col("pcos") >= 0.9)
    quant.withCluster(
        quant.withCluster(base, col("ve"), "c_ve"), col("vp"), "c_vp")
      .withColumn("same_cluster", col("c_ve") === col("c_vp"))
  }

  private[queries] val semanticCheckedOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
      |pl AS (SELECT round(list_dot_product(ve, list_transform(ve, x -> x + 0.05)) /
      |    (sqrt(list_dot_product(ve, ve)) *
      |     sqrt(list_dot_product(list_transform(ve, x -> x + 0.05),
      |                           list_transform(ve, x -> x + 0.05)))), 6) AS pcos
      |  FROM e)
      |SELECT CAST(2 * (SELECT count(*) FROM e) AS BIGINT) AS n_input,
      |  CAST((SELECT count(*) FROM pl WHERE pcos >= 0.9) AS BIGINT) AS n_planted_ge_t,
      |  true AS cc_structure_ok,
      |  true AS reps_are_component_minima,
      |  true AS planted_recall_complete,
      |  true AS planted_split_consistent""".stripMargin

  val qs: Seq[QueryDef] = Seq(
    // n-gram/token Jaccard verification on deterministic pairs (oracle-able)
    QueryDef("dedup_jaccard_pairs",
      (s, d) => {
        val all = docsWithDups(s, d)
        val a = all.select(col("doc_id").as("a_id"), col("text").as("a_text"))
        val b = all.select((col("doc_id") - 100000).as("a_id"), col("text").as("b_text"))
        a.join(b, "a_id")
          .select(col("a_id"),
            round(
              expr("size(array_intersect(array_distinct(split(a_text, ' +')), array_distinct(split(b_text, ' +'))))").cast("double") /
              expr("size(array_distinct(concat(array_distinct(split(a_text, ' +')), array_distinct(split(b_text, ' +')))))"),
              6).as("jaccard"))
          .orderBy("a_id")
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, substr(text, strpos(text, ' ') + 1) || ' zzz'
             |  FROM documents),
             |a AS (SELECT doc_id AS a_id, text AS a_text FROM all_docs),
             |b AS (SELECT doc_id - 100000 AS a_id, text AS b_text FROM all_docs)
             |SELECT a.a_id,
             |round(CAST(len(list_intersect(list_distinct(string_split_regex(a_text, ' +')),
             |                              list_distinct(string_split_regex(b_text, ' +')))) AS DOUBLE) /
             |      len(list_distinct(list_concat(list_distinct(string_split_regex(a_text, ' +')),
             |                                    list_distinct(string_split_regex(b_text, ' +'))))), 6) AS jaccard
             |FROM a JOIN b USING (a_id) ORDER BY a_id""".stripMargin)),

    // Exact set-similarity self-join via prefix filtering (AllPairs /
    // PPJoin, Bayardo et al. WWW'07, Xiao et al. WWW'08): the 100 TB scale
    // path for EXACT Jaccard dedup, complementing the approximate LSH
    // family. Shingle sets are ordered by ascending document frequency, so
    // each record's prefix carries its RAREST shingles; records can only
    // collide on a prefix shingle (prefix-filtering principle), which
    // bounds every join bucket by the df of a rare token — no all-pairs
    // stage anywhere. Three prunes compose: prefix join, length filter
    // (J >= t needs den*|small| >= num*|large|), and PPJoin's positional
    // filter (at the globally-smallest shared prefix shingle w, every
    // common shingle orders >= w, so overlap <= 1 + min(|x|-pos_x(w),
    // |y|-pos_y(w)) must reach ceil(t/(1+t)*(|x|+|y|))). All thresholds in
    // integer arithmetic; the only double is the final rounded ratio, so
    // DuckDB mirrors the identical plan and the output hash-matches.
    // JaccardPrefixSpec proves completeness against a brute-force
    // all-pairs join on the sf0.001 corpus.
    QueryDef("dedup_jaccard_prefix",
      (s, d) => jaccardPrefixJoin(s, d, 8, 10),
      Some(jaccardPrefixOracle(8, 10))),

    // Containment dedup at t = 0.9 on the smaller side — the asymmetric
    // dual of dedup_jaccard_prefix (sub-document duplication: a short doc
    // quoted inside a long one). See containmentJoin for the filter proof.
    QueryDef("dedup_containment",
      (s, d) => containmentJoin(s, d, 9, 10),
      Some(containmentOracle(9, 10))),

    // MinHash + LSH banding: one shuffle on (band, hash); collisions only
    QueryDef("dedup_minhash_lsh",
      (s, d) => {
        val docs = docsWithDups(s, d)
        // the BROADCAST side is the hash-array payload below (~8 bytes per
        // token), not the text — estimate those bytes or a 10× corpus
        // broadcasts ~3× past the cap (caught by the round-10 soak rerun).
        // Probe keyed on the STABLE pre-checkpoint plan (jaccard pattern).
        val small = Dedup.fitsBroadcast(docs, rowBytes = Some(
          lit(24L) + size(split(col("text"), " +")).cast("long") * 8L))
        // Tokenize + shingle + hash ONCE: the sorted distinct shingle-hash
        // array is both the verify payload AND the banding input (min over
        // a multiset is order/duplicate-invariant, so bands are
        // bit-identical to Dedup.minHashBands(text)). Before the checkpoint the
        // corpus text was scanned and shingled three times (banding + both
        // verify sides); at 30× that was the dominant CPU. Both steps run
        // as native codegen expressions — same arithmetic as the Scala kernels,
        // minus the converter boxing (DedupSpec pins bit-identity).
        val payload = docs.withColumn(
          "shs", graft.engine.Expressions.shingleHashesSortedNative(
            coalesce(col("text"), lit(""))))
          .select(col("doc_id"), col("shs"))
          .localCheckpoint()
        val buckets = payload
          .withColumn("bands", graft.engine.Expressions.minhashBandsNative(col("shs")))
          .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bh")))
        // candidates carry ids only; payloads re-join afterwards. The corpus
        // is broadcast only when a capped probe proves it small — above the
        // cap both sides shuffle on the id (the only 100 TB-viable plan)
        val cand = buckets.as("x").join(buckets.as("y"),
            col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .distinct()
          // AQE coalesces the small candidate shuffle to ~1 partition; the
          // exact-jaccard verify is CPU-bound, so fan it back out
          .repartition(s.sparkContext.defaultParallelism)
        // the verify then merge-counts |A ∩ B| with the native kernel
        // instead of re-deriving boxed Set[Long]s per candidate pair (the
        // old Dedup.shingleJaccard UDF path; identical sets, identical double
        // division, so the output is bit-equal)
        cand
          .join(Dedup.hintIf(payload.select(col("doc_id").as("a"), col("shs").as("sha")), small), "a")
          .join(Dedup.hintIf(payload.select(col("doc_id").as("b"), col("shs").as("shb")), small), "b")
          .withColumn("inter", graft.engine.Expressions.sortedIntersectCount(
            col("sha"), col("shb")))
          .withColumn("union_sz",
            (size(col("sha")) + size(col("shb"))).cast("bigint") - col("inter"))
          .withColumn("jaccard", round(
            when(col("union_sz") === 0, lit(1.0))
              .otherwise(col("inter").cast("double") / col("union_sz")), 6))
          .where(col("jaccard") >= 0.5)
          .select("a", "b", "jaccard")
          .orderBy("a", "b")
      },
      headline = true),

    // Segment-level exact dedup (C4-style "line" dedup, Raffel et al. 2020
    // §2.2 — the corpus has no newlines, so the unit is a non-overlapping
    // 10-token window): every segment appearing more than once in the
    // corpus is kept only at its GLOBAL first occurrence (min (doc_id,
    // seg_idx)) and dropped everywhere else; each doc is then reassembled
    // from its surviving segments. Planted duplicates: one exact copy per
    // doc (every segment drops) and one partial copy sharing the first two
    // segments plus a unique tail (two drop, tail survives).
    // Scale shape: segments travel as md5 keys — ONE shuffle on the hash
    // for the survivor min, a co-partitioned rejoin on the same key, then
    // a per-doc reassembly groupBy. No vocabulary, no driver state.
    QueryDef("dedup_segments",
      (s, d) => {
        val segs = segmentsWithDups(s, d)
        // survivor pick via min(struct(doc_id, seg_idx)) — immune to the
        // rank-arithmetic overflow a doc with ≥1000 segments would trigger
        segmentsAssembly(segs, Dedup.keepFirstOccurrence(segs))
      },
      Some(segmentsOracleSql)),

    // STREAMING twin of dedup_segments: the same corpus arrives as a file
    // stream in doc-id band order and a stateful first-occurrence gate
    // (flatMapGroupsWithState keyed on the segment hash,
    // streaming/DocStream.scala) suppresses every re-arrival across
    // micro-batches — the continuous-ingestion form of C4 segment dedup.
    // The emitted survivor set equals the batch min(doc_id, seg_idx) pick,
    // so the query answers the IDENTICAL DuckDB oracle.
    QueryDef("dedup_segments_stream",
      (s, d) => {
        val segs = segmentsWithDups(s, d)
        val (kept, nBatches) = graft.streaming.DocStream.segmentDedup(s, segs)
        require(nBatches >= 3,
          s"expected >=3 micro-batches (one per doc-id band), saw $nBatches")
        segmentsAssembly(segs, kept)
      },
      Some(segmentsOracleSql)),

    // The PRODUCTION form of the streaming gate: state bounded by a dedup
    // HORIZON — each segment's presence bit is evicted (event-time timeout)
    // once the watermark passes its first occurrence + TTL, so state size
    // tracks the horizon's arrival rate, not stream history. Here every
    // event timestamp (epoch + doc_id seconds, ≤ ~3.5 days span) sits far
    // inside the 30-day horizon, so NO eviction fires and the survivor set
    // still equals the batch pick — the same DuckDB oracle verifies the
    // TTL machinery end-to-end. DocStreamSpec drives the horizon-expiry
    // path (eviction + re-admission) with a short TTL.
    QueryDef("dedup_segments_stream_ttl",
      (s, d) => {
        val segs = segmentsWithDups(s, d)
          .withColumn("ts", expr("timestamp_seconds(1735689600 + doc_id)"))
        val (kept, nBatches) = graft.streaming.DocStream.segmentDedupTtl(
          s, segs, ttlMillis = 30L * 86400000L, delayThreshold = "1 minute")
        require(nBatches >= 3,
          s"expected >=3 micro-batches (one per doc-id band), saw $nBatches")
        segmentsAssembly(segs, kept)
      },
      Some(segmentsOracleSql)),

    // MinHash+LSH with an md5-derived hash family — the fully-ORACLED twin
    // of dedup_minhash_lsh. The FNV+affine family is cheaper per hash but
    // not SQL-expressible; md5-prefix hashes are computable bit-identically
    // by DuckDB, so bucket keys, candidate pairs, and verified output all
    // hash-match cross-engine — the strongest correctness statement the
    // LSH pipeline can get. The Spark side is FULLY DECLARATIVE (shingles,
    // signatures, and band keys are built-in HOFs inside whole-stage
    // codegen — no UDF anywhere). Same scale shape as the FNV variant: one
    // shuffle on (band, hash), candidates carry ids only.
    QueryDef("dedup_minhash_lsh_md5",
      (s, d) => md5LshPairs(s, d).orderBy("a", "b"),
      Some(s"""WITH ${md5LshPairsSqlCtes}
              |SELECT a, b, jaccard FROM pairs ORDER BY a, b""".stripMargin)),

    // b-bit minhash (Li & König 2010) with the md5-derived hash family —
    // fully ORACLED: candidates come from the same banding join, but the
    // verify stage compares only the LOW 2 BITS of each of the 16 minhash
    // values (a 32× smaller signature than the 64-bit originals) and
    // estimates Jaccard with the collision correction
    // ĵ = (frac − 1/4)/(3/4). Everything is integer/dyadic arithmetic, so
    // Spark and DuckDB agree bit-for-bit. The production FNV-family
    // signatures get the same compression via Dedup.bBitSignature /
    // bBitSimilarity (DedupSpec pins the estimator's accuracy and the
    // packing round trip).
    QueryDef("dedup_minhash_bbit_md5",
      (s, d) => {
        val H = 16
        val withSig = md5SigTable(s, d, H)
        val cand = md5BandCandidates(s, withSig, H, 4)
        val bbA = withSig.select(col("doc_id").as("a") +:
          (0 until H).map(k => expr(s"sig$k & 3").as(s"ba$k")): _*)
        val bbB = withSig.select(col("doc_id").as("b") +:
          (0 until H).map(k => expr(s"sig$k & 3").as(s"bb$k")): _*)
        val matches = (0 until H).map(k =>
          when(col(s"ba$k") === col(s"bb$k"), 1).otherwise(0)).reduce(_ + _)
        cand.join(bbA, "a").join(bbB, "b")
          .withColumn("match_frac", matches.cast("double") / H)
          .withColumn("jaccard_est",
            round((col("match_frac") - 0.25) / 0.75, 6))
          .where(col("jaccard_est") >= 0.35)
          .select("a", "b", "match_frac", "jaccard_est")
          .orderBy("a", "b")
      },
      Some {
        val H = 16
        val matchExpr = (0 until H).map(k =>
          s"(CASE WHEN (sa.sig$k & 3) = (sb.sig$k & 3) THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH ${md5LshPairsSqlCtes},
           |bb AS (SELECT cand.a, cand.b,
           |    CAST($matchExpr AS DOUBLE) / $H AS match_frac
           |  FROM cand JOIN sig sa ON cand.a = sa.doc_id
           |            JOIN sig sb ON cand.b = sb.doc_id)
           |SELECT a, b, match_frac,
           |  round((match_frac - 0.25) / 0.75, 6) AS jaccard_est
           |FROM bb WHERE round((match_frac - 0.25) / 0.75, 6) >= 0.35
           |ORDER BY a, b""".stripMargin
      }),

    // The full consolidation pipeline under ONE oracle: md5-LSH verified
    // pairs → connected components (large-star/small-star in Spark;
    // recursive-CTE reachability in DuckDB) → cluster-size histogram.
    // Every stage of "find near-dups, group them, summarize" hash-matches
    // cross-engine — the oracled twin of dedup_lsh_clusters.
    QueryDef("dedup_lsh_clusters_md5",
      (s, d) => {
        val edges = md5LshPairs(s, d).select("a", "b")
        graft.operators.ConnectedComponents.components(s, edges, "a", "b")
          .groupBy("comp").agg(count(lit(1)).as("sz"))
          .groupBy(col("sz").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"))
          .orderBy("cluster_size")
      },
      Some(s"""WITH RECURSIVE ${md5LshPairsSqlCtes},
              |und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
              |reach(node, r) AS (
              |  SELECT a AS node, a AS r FROM und
              |  UNION
              |  SELECT u.a AS node, reach.r FROM und u JOIN reach ON u.b = reach.node
              |),
              |labels AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
              |sizes AS (SELECT comp, count(*) AS sz FROM labels GROUP BY comp)
              |SELECT sz AS cluster_size, count(*) AS n_clusters
              |FROM sizes GROUP BY sz ORDER BY sz""".stripMargin)),

    // SimHash near-dup: hamming ≤ 3 found exactly via 16-bit chunk buckets
    // at test scale; past ~2^20 docs the bucket scheme switches to Manku
    // 3-of-6 block keys (C(6,3)=20 keys, ~2^32 key space) — both schemes
    // are EXHAUSTIVE for hamming ≤ 3 and the exact-hamming verify kills
    // false positives, so the output is scheme-independent
    // (SimHashBlockSpec) while occupancy stays O(1) into the billions.
    QueryDef("dedup_simhash",
      (s, d) => {
        val base = docsWithDups(s, d)
        val useBlocks =
          graft.operators.AnnLsh.memoizedCount(base) > Dedup.SimHashBlockThreshold
        val keyUdf = if (useBlocks) Dedup.simHashBlockKeysUdf else Dedup.simHashChunksUdf
        val sigs = base
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
          .select("a", "b", "hamming")
          .orderBy("a", "b")
      }),

    // SimHash with md5-derived bits — the fully-ORACLED twin of
    // dedup_simhash (FNV bits aren't SQL-expressible). 64-bit signature
    // from ONE md5 per token: bit b is the sign of an integer sum over the
    // token multiset of ±1 taken from bit (b mod 4) of hex digit ⌊b/4⌋ of
    // md5(token) — integer arithmetic end to end, so cross-engine
    // exactness is unconditional. 16-bit chunk buckets find hamming ≤ 3
    // exhaustively (pigeonhole over 4 chunks, same construction as the
    // FNV variant); candidates verify by exact hamming. One shuffle on
    // (chunk, value).
    QueryDef("dedup_simhash_md5",
      (s, d) => {
        val H = 64; val C = 4
        val docs = docsWithDups(s, d)
          .withColumn("th", expr(
            "transform(filter(split(text, ' +'), x -> x != ''), t -> md5(t))"))
          // empty token list: Spark's aggregate(th, 0, …) yields 0 → bit
          // '1' while DuckDB's list_sum of an empty list is NULL → bit '0'
          // — drop tokenless docs on BOTH sides (they carry no signal)
          .where(size(col("th")) >= 1)
        val bits = (0 until H).map { b =>
          val pos = b / 4 + 1; val mask = 1 << (b % 4)
          expr(s"""CASE WHEN aggregate(th, 0, (acc, h) ->
                  |  acc + (CASE WHEN (cast(conv(substring(h, $pos, 1), 16, 10) as int) & $mask) > 0
                  |         THEN 1 ELSE -1 END)) >= 0 THEN '1' ELSE '0' END""".stripMargin)
            .as(s"bit$b")
        }
        val sig = docs.select((col("doc_id") +: bits): _*)
          .withColumn("key", concat((0 until H).map(b => col(s"bit$b")): _*))
          .select("doc_id", "key")
        val buckets = sig.select(col("doc_id"), col("key"),
          posexplode(array((0 until C).map(c =>
            expr(s"substring(key, ${c * (H / C) + 1}, ${H / C})")): _*))
            .as(Seq("chunk", "cv")))
        val ham = (1 to H).map(i =>
          when(expr(s"substring(x.key, $i, 1)") =!= expr(s"substring(y.key, $i, 1)"), 1)
            .otherwise(0)).reduce(_ + _)
        buckets.as("x").join(buckets.as("y"),
            col("x.chunk") === col("y.chunk") && col("x.cv") === col("y.cv") &&
            col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
            ham.cast("long").as("hamming"))
          .distinct()
          .where(col("hamming") <= 3)
          .orderBy("a", "b")
      },
      Some {
        val H = 64; val C = 4
        val bitExprs = (0 until H).map { b =>
          val pos = b / 4 + 1; val mask = 1 << (b % 4)
          s"""CASE WHEN list_sum(list_transform(th, h ->
             |    CASE WHEN (CAST(('0x' || substr(h, $pos, 1)) AS INT) & $mask) > 0
             |    THEN 1 ELSE -1 END)) >= 0 THEN '1' ELSE '0' END AS bit$b""".stripMargin
        }.mkString(",\n  ")
        val keyConcat = (0 until H).map(b => s"bit$b").mkString(" || ")
        val chunkSelects = (0 until C).map(c =>
          s"SELECT doc_id, key, $c AS chunk, substr(key, ${c * (H / C) + 1}, ${H / C}) AS cv FROM sig"
        ).mkString("\n  UNION ALL ")
        val hamExpr = (1 to H).map(i =>
          s"(CASE WHEN substr(x.key, $i, 1) <> substr(y.key, $i, 1) THEN 1 ELSE 0 END)"
        ).mkString(" + ")
        s"""WITH all_docs AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 100000,
           |    substr(text, instr(text, ' ') + 1) || ' zzz' FROM documents),
           |t AS (SELECT doc_id, list_transform(list_filter(
           |    string_split_regex(text, ' +'), x -> x <> ''), t -> md5(t)) AS th
           |  FROM all_docs
           |  WHERE len(list_filter(string_split_regex(text, ' +'), x -> x <> '')) >= 1),
           |b AS (SELECT doc_id,
           |  $bitExprs
           |  FROM t),
           |sig AS (SELECT doc_id, $keyConcat AS key FROM b),
           |buckets AS (
           |  $chunkSelects)
           |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
           |  CAST($hamExpr AS BIGINT) AS hamming
           |FROM buckets x JOIN buckets y
           |  ON x.chunk = y.chunk AND x.cv = y.cv AND x.doc_id < y.doc_id
           |WHERE $hamExpr <= 3
           |ORDER BY a, b""".stripMargin
      }),

    // embedding cosine near-dup, brute-force verification (oracle-able)
    QueryDef("embedding_neardup_pairs",
      (s, d) => {
        graft.engine.GraftFunctions.register(s)
        val e = embWithDups(s, d)
        // the nested-loop pair evaluation is CPU-bound: spread the streamed
        // side across cores (the broadcast side is tiny)
        e.select(col("vec_id").as("a"), col("ve").as("va"))
          .repartition(s.sparkContext.defaultParallelism).as("x")
          // explicit hint: without it the non-equi join degrades to a true
          // CartesianProduct whenever size-based auto-broadcast declines
          // (PlanShapeSpec lints every registered query for this)
          .join(broadcast(e.select(col("vec_id").as("b"), col("ve").as("vb")).as("y")),
            col("a") < col("b"))
          // native codegen kernel, not a Scala UDF: this filter runs
          // on every one of the n²/2 joined pairs — the hottest vector
          // arithmetic in the repo (bit-identical accumulation order)
          .withColumn("cos", round(expr("vec_cosine_native(va, vb)"), 6))
          .where(col("cos") >= 0.9)
          .select("a", "b", "cos")
          .orderBy("a", "b")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.05)
             |  FROM embeddings)
             |SELECT a.vec_id AS a, b.vec_id AS b,
             |round(list_dot_product(a.ve, b.ve) /
             |      (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve))), 6) AS cos
             |FROM e a JOIN e b ON a.vec_id < b.vec_id
             |WHERE round(list_dot_product(a.ve, b.ve) /
             |      (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve))), 6) >= 0.9
             |ORDER BY a, b""".stripMargin)),

    // embedding near-dup via hyperplane LSH (the scale path: bucket join)
    QueryDef("embedding_neardup_lsh",
      (s, d) => {
        val e = embWithDups(s, d)
          .select(col("vec_id"), col("ve").cast("array<float>").as("vf"))
        // bucket width scales with the corpus: a fixed 8-bit band turns the
        // bucket self-join quadratic as occupancy grows (the round-10 soak
        // measured 84x shuffle at 10x rows); bitsFor holds expected
        // occupancy ≤ 16 (8-bit floor ⇒ identical behavior at test SFs).
        // The count is memoized per canonicalized plan — one job ever.
        val bits = AnnLsh.bitsFor(AnnLsh.memoizedCount(e))
        val buckets = e
          .withColumn("sig", explode(AnnLsh.bandSigsScaledUdf(col("vf"), lit(bits))))
          .select("vec_id", "sig")
        // candidates carry ids ONLY through the bucket join + distinct
        // (shuffling the vectors with every band collision is the cost at
        // scale); the vector table joins back afterwards — broadcast only
        // when the capped probe proves it small, else an id-partitioned
        // shuffle join (the only 100 TB-viable plan)
        val cand = buckets.as("x").join(buckets.as("y"),
            col("x.sig") === col("y.sig") && col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
          .distinct()
          .repartition(s.sparkContext.defaultParallelism)
        val small = Dedup.fitsBroadcast(e)
        cand
          .join(Dedup.hintIf(e.select(col("vec_id").as("a"), col("vf").as("va")), small), "a")
          .join(Dedup.hintIf(e.select(col("vec_id").as("b"), col("vf").as("vb")), small), "b")
          // candidate-verify cosine as a codegen kernel over the float
          // arrays in place — bit-identical to AnnLsh.cosine
          // (OperatorPropertySpec), no Array[Float] encoder boxing per pair;
          // the no-op casts keep a double array from being read as floats
          .withColumn("cos", round(graft.engine.GraftFunctions.kernel(
            graft.engine.VecOps, "cosineFloat", org.apache.spark.sql.types.DoubleType,
            col("va").cast("array<float>"), col("vb").cast("array<float>")), 6))
          .where(col("cos") >= 0.9)
          .select("a", "b", "cos")
          .orderBy("a", "b")
      },
      headline = true),

    // IVF ANN: coarse k-means quantizer + nprobe search (second scale path
    // next to hyperplane LSH; recall vs. brute force asserted in DedupSpec)
    QueryDef("sim_ann_ivf",
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
        val model = graft.operators.IvfIndex.train(s, e, k = 8, iters = 3)
        graft.operators.IvfIndex.search(s, e, Seq(0L, 1L, 2L, 3L, 4L), model,
          nprobe = 3, topK = 10)
      }),

    // Product-quantized ANN: 64× smaller index (m byte-codes per vector),
    // ADC scan + exact rerank (ProductQuantizer.scala). Rows-only — k-means
    // codebooks aren't SQL-expressible — but scores are true cosines after
    // the rerank and PqSpec pins recall vs brute force.
    QueryDef("sim_ann_pq",
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
        val model = graft.operators.ProductQuantizer.train(s, e, m = 8, k = 16, iters = 3)
        graft.operators.ProductQuantizer.search(s, e, Seq(0L, 1L, 2L, 3L, 4L), model,
          topK = 10, rerank = 8)
      }),

    // Hyperplane-LSH near-dup with md5-derived Rademacher hyperplanes —
    // the fully-ORACLED twin of embedding_neardup_lsh (whose seeded
    // Gaussian hyperplanes aren't SQL-expressible). Each of 16 hyperplanes
    // is a ±1 vector pinned by md5("k:d") at code-generation time and
    // embedded as literals in BOTH engines' expressions; sign bits band
    // 4×4 into bucket keys, candidates verify by exact cosine. Planted
    // +0.05 copies (cos ≈ 0.93) give ~97% per-pair recall at this banding;
    // whatever the buckets emit is bit-identical cross-engine. Same scale
    // shape as the production path: one shuffle on (band, key).
    QueryDef("embedding_neardup_lsh_md5",
      (s, d) => {
        val all = embWithDups(s, d)
        val bits = (0 until RademacherH).map { k =>
          val arr = rademacherSigns(k).map(v => s"${v}D").mkString("array(", ", ", ")")
          expr(s"""CASE WHEN aggregate(zip_with(ve, $arr, (x, sg) -> x * sg), 0D,
                  |  (acc, v) -> acc + v) >= 0D THEN '1' ELSE '0' END""".stripMargin)
            .as(s"bit$k")
        }
        val withBits = all.select((col("vec_id") +: bits): _*)
        val bands = (0 until RademacherB).map { b =>
          val cols = (0 until RademacherH / RademacherB)
            .map(r => col(s"bit${b * (RademacherH / RademacherB) + r}"))
          concat(cols: _*).as(s"band$b")
        }
        val buckets = withBits.select((col("vec_id") +: bands): _*)
          .select(col("vec_id"),
            posexplode(array((0 until RademacherB).map(b => col(s"band$b")): _*))
              .as(Seq("band", "key")))
        val cand = buckets.as("x").join(buckets.as("y"),
            col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
          .distinct()
          .repartition(s.sparkContext.defaultParallelism)
        graft.engine.GraftFunctions.register(s)
        cand
          .join(all.select(col("vec_id").as("a"), col("ve").as("va")), "a")
          .join(all.select(col("vec_id").as("b"), col("ve").as("vb")), "b")
          .withColumn("cos", round(expr("vec_cosine_native(va, vb)"), 6))
          .where(col("cos") >= 0.9)
          .select("a", "b", "cos")
          .orderBy("a", "b")
      },
      Some(embLshMd5PairsSql + "\nORDER BY a, b")),

    // Embedding duplicate-CLUSTER consolidation under one oracle — the
    // embedding-space twin of dedup_lsh_clusters_md5: md5-Rademacher LSH
    // verified pairs → connected components (large-star/small-star in
    // Spark; recursive-CTE reachability in DuckDB) → cluster-size
    // histogram. Completes the "find near-dups, group, summarize"
    // pipeline for the vector modality with every stage hash-matched.
    QueryDef("embedding_neardup_clusters_md5",
      (s, d) => {
        val edges = qs.find(_.name == "embedding_neardup_lsh_md5").get
          .fn(s, d).select("a", "b")
        graft.operators.ConnectedComponents.components(s, edges, "a", "b")
          .groupBy("comp").agg(count(lit(1)).as("sz"))
          .groupBy(col("sz").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"))
          .orderBy("cluster_size")
      },
      Some(s"""WITH RECURSIVE pairs AS (
              |$embLshMd5PairsSql
              |),
              |und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
              |reach(node, r) AS (
              |  SELECT a AS node, a AS r FROM und
              |  UNION
              |  SELECT u.a AS node, reach.r FROM und u JOIN reach ON u.b = reach.node
              |),
              |labels AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
              |sizes AS (SELECT comp, count(*) AS sz FROM labels GROUP BY comp)
              |SELECT sz AS cluster_size, count(*) AS n_clusters
              |FROM sizes GROUP BY sz ORDER BY sz""".stripMargin)),

    // Semantic decontamination: the embedding-space analog of
    // text_decontaminate — train vectors whose cosine against ANY held-out
    // eval vector exceeds the threshold are flagged (paraphrased eval
    // leakage that n-gram overlap misses). Eval slice is tiny and
    // broadcasts; the train side streams map-only through the codegen
    // cosine kernel — one scan, no shuffle of the corpus. At billions of
    // rows the same plan holds (or the LSH-bucketed variant prunes the
    // candidate pairs, as in embedding_neardup_lsh). Planted +0.05
    // perturbed copies (cos ≈ 0.93 vs their originals) give the flags.
    QueryDef("embedding_decontaminate",
      (s, d) => {
        graft.engine.GraftFunctions.register(s)
        val all = embWithDups(s, d)
        val eval_ = all.where(col("vec_id") < 100000 && pmod(col("vec_id"), lit(97)) === 0)
          .select(col("vec_id").as("eval_id"), col("ve").as("ev"))
        val train = all.where(col("vec_id") >= 100000)
        train.crossJoin(broadcast(eval_))
          .withColumn("cos", round(expr("vec_cosine_native(ve, ev)"), 6))
          .groupBy("vec_id")
          .agg(max("cos").as("max_cos"),
            sum(when(col("cos") >= 0.9, 1L).otherwise(0L)).as("n_eval_hits"))
          .where(col("max_cos") >= 0.9)
          .select(col("vec_id"), col("max_cos"), col("n_eval_hits"))
          .orderBy("vec_id")
      },
      Some("""WITH all_v AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.05)
             |  FROM embeddings),
             |ev AS (SELECT vec_id AS eval_id, ve AS evv FROM all_v
             |  WHERE vec_id < 100000 AND vec_id % 97 = 0),
             |tr AS (SELECT * FROM all_v WHERE vec_id >= 100000),
             |sc AS (SELECT tr.vec_id,
             |    round(list_dot_product(tr.ve, ev.evv) /
             |      (sqrt(list_dot_product(tr.ve, tr.ve)) * sqrt(list_dot_product(ev.evv, ev.evv))), 6) AS cos
             |  FROM tr CROSS JOIN ev)
             |SELECT vec_id, max(cos) AS max_cos,
             |  CAST(sum(CASE WHEN cos >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_hits
             |FROM sc GROUP BY vec_id HAVING max(cos) >= 0.9
             |ORDER BY vec_id""".stripMargin)),

    // IVF-PQ composition: coarse cells prune the scan to nprobe/k of the
    // corpus, PQ codes shrink what's scanned 64×, exact rerank restores
    // true cosines (IvfPq.scala). Rows-only; PqSpec pins recall.
    QueryDef("sim_ann_ivfpq",
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
        val ivf = graft.operators.IvfIndex.train(s, e, k = 8, iters = 3)
        val pq = graft.operators.ProductQuantizer.train(s, e, m = 8, k = 16, iters = 3)
        graft.operators.IvfPq.search(s, e, Seq(0L, 1L, 2L, 3L, 4L), ivf, pq,
          nprobe = 3, topK = 10, rerank = 8)
      }),

    // IVFADC: the residual-encoding refinement — codes quantize
    // v − centroid(v), concentrating the codebook budget on within-cell
    // variation; per-(query, cell) ADC tables cancel the offset. Rows-only;
    // PqSpec proves residual ≥ raw codes on clustered data.
    QueryDef("sim_ann_ivfpq_residual",
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
        val ivf = graft.operators.IvfIndex.train(s, e, k = 8, iters = 3)
        val pq = graft.operators.IvfPq.trainResidual(s, e, ivf, m = 8, k = 16, iters = 3)
        graft.operators.IvfPq.searchResidual(s, e, Seq(0L, 1L, 2L, 3L, 4L), ivf, pq,
          nprobe = 3, topK = 10, rerank = 8)
      }),

    // SemDeDup (Abbas et al. 2023): k-means cluster the embeddings, exact
    // within-cluster cosine pairs ≥ 0.9, connected components over the
    // pairs, keep the min-id representative per semantic group. Rows-only
    // (k-means isn't SQL-expressible); dedup_semantic_checked is the
    // DuckDB-oracled twin pinning the operator's contract.
    QueryDef("dedup_semantic",
      (s, d) => {
        val (_, _, pairs) = semanticScaffold(s, d)
        graft.operators.ConnectedComponents
          .components(s, pairs.select("a", "b"), "a", "b")
          .select(col("node").as("vec_id"), col("comp").as("rep"),
            (col("node") === col("comp")).as("keep"))
          .orderBy("vec_id")
      }),

    // ORACLED contract check for dedup_semantic. DuckDB can't run k-means,
    // but it CAN compute the planted-duplicate geometry exactly: each
    // corpus vector's perturbed copy (+0.05/component) is a function of the
    // SAME row, so the planted cosine needs no join on either side. The
    // Spark side re-derives the operator's full output and reduces it to
    // claims DuckDB can either compute (counts) or adjudicate (booleans
    // that are true iff the operator honored its contract):
    //   n_planted_ge_t      — planted pairs at/above threshold (exact,
    //                         DuckDB computes the identical rounded cosine);
    //   planted_recall_complete — every SAME-CLUSTER planted pair ≥ t was
    //                         found (within-cluster search is exhaustive);
    //   planted_split_consistent — found + cross-cluster = all planted ≥ t
    //                         (every miss is the documented recall trade,
    //                         never a within-cluster false negative);
    //   cc_structure_ok     — drops = nodes − components (survivor pick);
    //   reps_are_component_minima — every component label IS its minimum
    //                         member (catches a CC emitting non-min labels
    //                         or representatives outside their component).
    QueryDef("dedup_semantic_checked",
      (s, d) => semanticCheckedPlan(s, d, forceTwoLevel = false),
      Some(semanticCheckedOracle)),

    // The SAME oracled contract, with the TWO-LEVEL quantizer FORCED —
    // the quantizer the operator switches to past FlatCap (n ≈ 8.4M
    // vectors), exercised and cross-engine-adjudicated at the test SFs.
    // Every contract boolean is quantizer-independent (within-cluster
    // search is exhaustive under ANY partition of the corpus; CC
    // structure and planted-cosine counts don't depend on k-means), so
    // one oracle serves both paths.
    QueryDef("dedup_semantic_twolevel_checked",
      (s, d) => semanticCheckedPlan(s, d, forceTwoLevel = true),
      Some(semanticCheckedOracle)),

    // Multimodal: binary payload + per-mime decode through mapPartitions.
    // FULLY ORACLED: every feature is a deterministic function of
    // (doc_id, text) — PNG rows carry a spec-valid header whose bytes are
    // integer arithmetic over doc_id, stub dims derive from the payload
    // byte sum, and the content hash is md5 over the uppercase-hex payload
    // (hex precisely so a text-only md5 can compute it) — so DuckDB
    // reconstructs the byte stream and hash-matches the whole row.
    QueryDef("multimodal_features",
      (s, d) => Multimodal.extractFeatures(s, Multimodal.mediaTable(s, d))
        .orderBy("media_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS media_id, mod(doc_id, 3) AS m, text,
             |    octet_length(encode(text)) AS tlen,
             |    coalesce(list_sum(list_transform(range(1, octet_length(encode(text)) + 1),
             |      i -> (strpos('0123456789ABCDEF', substr(hex(encode(text)), 2*CAST(i AS INT)-1, 1)) - 1) * 16
             |        + strpos('0123456789ABCDEF', substr(hex(encode(text)), 2*CAST(i AS INT), 1)) - 1)), 0) AS tsum,
             |    64 + mod(doc_id, 448) AS pw, 64 + mod(doc_id // 7, 448) AS ph
             |  FROM documents),
             |b2 AS (
             |  SELECT *,
             |    CASE WHEN m = 0 THEN 33 + tlen ELSE tlen END AS n,
             |    CASE WHEN m = 0 THEN 747 + (pw // 256) + mod(pw, 256)
             |      + (ph // 256) + mod(ph, 256) + tsum ELSE tsum END AS bsum,
             |    CASE WHEN m = 0 THEN '89504E470D0A1A0A' || '0000000D' || '49484452'
             |      || lpad(hex(pw), 8, '0') || lpad(hex(ph), 8, '0')
             |      || '08' || '06' || '000000' || '00000000' ELSE '' END AS hdr
             |  FROM base)
             |SELECT media_id,
             |  CAST(n AS BIGINT) AS n_bytes,
             |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(bsum AS DOUBLE) / n END AS byte_mean,
             |  md5(hdr || hex(encode(text))) AS content_hash,
             |  CAST(CASE WHEN m = 0 THEN pw ELSE 64 + mod(bsum, 448) END AS BIGINT) AS width,
             |  CAST(CASE WHEN m = 0 THEN ph ELSE 64 + mod(bsum // 7, 448) END AS BIGINT) AS height,
             |  CAST(CASE WHEN n <= 256 THEN n
             |    ELSE (n - 1) // (n // 256 + 1) + 1 END AS BIGINT) AS thumb_bytes,
             |  CAST(greatest(1, n // 4096) AS BIGINT) AS n_frames
             |FROM b2 ORDER BY media_id""".stripMargin)),

    // REAL audio metadata: audio docs get spec-valid PCM WAV framing
    // (RIFF little-endian, parameters a deterministic function of doc_id)
    // and the partition-batched decoder parses the actual header — sample
    // rate, channels, bit depth — then derives sample count and duration.
    // FULLY ORACLED: DuckDB rebuilds the little-endian header hex
    // byte-for-byte (le4/le2 = lpad-hex byte swaps) and hash-matches every
    // field including the content hash over the framed bytes.
    QueryDef("multimodal_audio_meta",
      (s, d) => Multimodal.extractAudioMeta(s, Multimodal.audioTable(s, d))
        .orderBy("media_id"),
      Some {
        def le4(e: String) =
          s"(SELECT substr(h,7,2)||substr(h,5,2)||substr(h,3,2)||substr(h,1,2) " +
          s"FROM (SELECT lpad(hex($e), 8, '0') AS h))"
        def le2(e: String) =
          s"(SELECT substr(h,3,2)||substr(h,1,2) FROM (SELECT lpad(hex($e), 4, '0') AS h))"
        s"""WITH base AS (
           |  SELECT doc_id AS media_id, text,
           |    octet_length(encode(text)) AS tlen,
           |    CASE mod(doc_id, 5) WHEN 0 THEN 8000 WHEN 1 THEN 16000
           |      WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS sr,
           |    1 + mod(doc_id, 2) AS ch,
           |    CASE WHEN mod(doc_id // 2, 2) = 0 THEN 8 ELSE 16 END AS bits
           |  FROM documents WHERE mod(doc_id, 3) = 1),
           |b2 AS (SELECT *, ch * bits // 8 AS ba FROM base),
           |hdr AS (SELECT *,
           |    '52494646' || ${le4("36 + tlen")} || '57415645' || '666D7420'
           |      || '10000000' || '0100' || ${le2("ch")} || ${le4("sr")}
           |      || ${le4("sr * ba")} || ${le2("ba")} || ${le2("bits")}
           |      || '64617461' || ${le4("tlen")} AS h
           |  FROM b2)
           |SELECT media_id,
           |  CAST(sr AS BIGINT) AS sample_rate,
           |  CAST(ch AS BIGINT) AS n_channels,
           |  CAST(bits AS BIGINT) AS bits_per_sample,
           |  CAST(tlen // ba AS BIGINT) AS n_samples,
           |  CAST((tlen // ba) * 1000 // sr AS BIGINT) AS duration_ms,
           |  md5(h || hex(encode(text))) AS content_hash
           |FROM hdr ORDER BY media_id""".stripMargin
      }),

    // REAL MP3 metadata: the last formerly-stub mime gets a genuine
    // MPEG-1 Layer III frame-header parse (ISO/IEC 11172-3) — sync word,
    // version/layer bits, reserved-index rejection, then the PUBLISHED
    // bitrate/sample-rate tables and the 144·bitrate/samplerate + padding
    // frame length. FULLY ORACLED: DuckDB re-derives every field from
    // doc_id arithmetic over the same tables and rebuilds the 4 header
    // bytes for the content hash — a wrong table entry, bit offset, or
    // frame formula breaks the row.
    QueryDef("multimodal_mp3_meta",
      (s, d) => Multimodal.extractMp3Meta(s, Multimodal.mp3Table(s, d))
        .orderBy("media_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS media_id, text,
             |    octet_length(encode(text)) AS tlen,
             |    1 + mod(doc_id, 14) AS bidx,
             |    mod(doc_id // 3, 3) AS sidx,
             |    mod(doc_id // 4, 4) AS mode,
             |    mod(doc_id, 2) AS pad
             |  FROM documents WHERE mod(doc_id, 3) = 2),
             |b2 AS (SELECT *,
             |    ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[bidx] AS kbps,
             |    ([44100,48000,32000])[sidx + 1] AS sr
             |  FROM base)
             |SELECT media_id,
             |  CAST(kbps AS BIGINT) AS bitrate_kbps,
             |  CAST(sr AS BIGINT) AS sample_rate,
             |  CAST(CASE WHEN mode = 3 THEN 1 ELSE 2 END AS BIGINT) AS n_channels,
             |  CAST(144000 * kbps // sr + pad AS BIGINT) AS frame_bytes,
             |  CAST(4 + tlen AS BIGINT) AS n_bytes,
             |  md5('FFFB' || lpad(hex(bidx * 16 + sidx * 4 + pad * 2), 2, '0')
             |      || lpad(hex(mode * 64), 2, '0') || hex(encode(text))) AS content_hash
             |FROM b2 ORDER BY media_id""".stripMargin)),

    // REAL compressed-pixel decode (PngCodec.scala): image rows carry a
    // genuine PNG — zlib IDAT split across two chunks, CRC32-validated
    // chunks, scanline filter type cycling y % 5 so all five PNG filters
    // (None/Sub/Up/Average/Paeth) are reconstructed every image. The
    // engine side computes per-channel means and an 8×8 nearest-neighbor
    // thumbnail FROM THE DECODED BYTES ONLY; the oracle recomputes both
    // from the closed-form fixture pixel function (3x + 5y + 7c + id mod
    // 256) without ever seeing the PNG — a hash match therefore proves
    // inflate + unfilter + resize byte-exact end to end. Scale shape:
    // encode/decode are per-row map work (embarrassingly parallel, no
    // shuffle); the only exchange is the output sort.
    QueryDef("multimodal_pixel_stats",
      (s, d) => {
        import graft.operators.PngCodec
        val enc = udf((id: Long) => PngCodec.encode(id))
        val stats = udf((png: Array[Byte]) => {
          val (w, h, px) = PngCodec.decode(png)
          val sums = new Array[Long](3)
          var i = 0
          while (i < px.length) { sums(i % 3) += px(i) & 0xff; i += 1 }
          val thumb = PngCodec.resizeNearest(px, w, h, 8, 8)
          val hex = thumb.map(b => f"${b & 0xff}%02x").mkString
          (w.toLong, h.toLong, sums(0), sums(1), sums(2), hex)
        })
        T(s, d, "documents").where(expr("doc_id % 3 = 0"))
          .select(col("doc_id").as("media_id"), enc(col("doc_id")).as("payload"))
          .withColumn("f", stats(col("payload")))
          .select(col("media_id"),
            col("f._1").as("width"), col("f._2").as("height"),
            round(col("f._3") / (col("f._1") * col("f._2")), 6).as("r_mean"),
            round(col("f._4") / (col("f._1") * col("f._2")), 6).as("g_mean"),
            round(col("f._5") / (col("f._1") * col("f._2")), 6).as("b_mean"),
            md5(col("f._6")).as("thumb_md5"))
          .orderBy("media_id")
      },
      Some("""WITH img AS (SELECT doc_id AS media_id,
             |    16 + doc_id % 16 AS w, 16 + (doc_id // 16) % 16 AS h
             |  FROM documents WHERE doc_id % 3 = 0),
             |ch AS (SELECT media_id, w, h,
             |    sum((3*x + 5*y + media_id) % 256) AS sr,
             |    sum((3*x + 5*y + 7 + media_id) % 256) AS sg,
             |    sum((3*x + 5*y + 14 + media_id) % 256) AS sb
             |  FROM img, UNNEST(range(0, w)) AS ux(x), UNNEST(range(0, h)) AS uy(y)
             |  GROUP BY 1, 2, 3),
             |th AS (SELECT media_id,
             |    md5(string_agg(printf('%02x',
             |        CAST((3*((j*w)//8) + 5*((i*h)//8) + 7*c + media_id) % 256 AS INT)),
             |      '' ORDER BY i, j, c)) AS thumb_md5
             |  FROM img, UNNEST(range(0, 8)) AS ui(i), UNNEST(range(0, 8)) AS uj(j),
             |    UNNEST(range(0, 3)) AS uc(c)
             |  GROUP BY 1)
             |SELECT media_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  round(CAST(sr AS DOUBLE) / (w * h), 6) AS r_mean,
             |  round(CAST(sg AS DOUBLE) / (w * h), 6) AS g_mean,
             |  round(CAST(sb AS DOUBLE) / (w * h), 6) AS b_mean,
             |  thumb_md5
             |FROM ch JOIN th USING (media_id) ORDER BY media_id""".stripMargin)),

    // Duplicate-cluster consolidation: near-dup PAIRS → components →
    // per-cluster summary (large-star/small-star, ConnectedComponents.scala).
    // The edge list is doc_id-derived chains — doc ↔ its perturbed copy,
    // perturbed copy ↔ a shared per-decade hub — built IDENTICALLY in both
    // engines, so clusters need real multi-hop transitivity (21 nodes: ten
    // 2-chains meeting at a hub). Oracle = DuckDB recursive CTE reachability.
    // Composition: LSH candidate pairs → verified near-dup pairs →
    // connected components → cluster size histogram. The full
    // consolidation path a dedup pipeline runs (rows-only: the LSH stage
    // isn't SQL-expressible). Planted pairs give size-2 clusters; natural
    // near-dups in the synthetic vocab text chain some of them into
    // larger components — exactly what consolidation exists to find.
    QueryDef("dedup_lsh_clusters",
      (s, d) => {
        val docs = docsWithDups(s, d)
        // same one-tokenize structure as dedup_minhash_lsh: the sorted
        // shingle-hash checkpoint feeds banding AND both verify sides, and
        // the verify is the native merge kernel over the same hashed sets
        // Dedup.shingleJaccard compared — identical pair set
        val small = Dedup.fitsBroadcast(docs, rowBytes = Some(
          lit(24L) + size(split(col("text"), " +")).cast("long") * 8L))
        val payload = docs.withColumn(
          "shs", graft.engine.Expressions.shingleHashesSortedNative(
            coalesce(col("text"), lit(""))))
          .select(col("doc_id"), col("shs"))
          .localCheckpoint()
        val buckets = payload
          .withColumn("bands", graft.engine.Expressions.minhashBandsNative(col("shs")))
          .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bh")))
        val cand = buckets.as("x").join(buckets.as("y"),
            col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .distinct()
          .repartition(s.sparkContext.defaultParallelism)
        val pairs = cand
          .join(Dedup.hintIf(payload.select(col("doc_id").as("a"), col("shs").as("sha")), small), "a")
          .join(Dedup.hintIf(payload.select(col("doc_id").as("b"), col("shs").as("shb")), small), "b")
          .withColumn("inter", graft.engine.Expressions.sortedIntersectCount(
            col("sha"), col("shb")))
          .where(col("inter").cast("double") * 2 >=
            (size(col("sha")) + size(col("shb"))).cast("double") - col("inter"))
          .select("a", "b")
        graft.operators.ConnectedComponents.components(s, pairs, "a", "b")
          .groupBy("comp").agg(count(lit(1)).cast("long").as("n_members"))
          .groupBy("n_members").agg(count(lit(1)).cast("long").as("n_clusters"))
          .orderBy("n_members")
      }),

    QueryDef("dedup_components",
      (s, d) => {
        val docs = T(s, d, "documents").select("doc_id")
        val e1 = docs.select(col("doc_id").as("a"),
          (col("doc_id") + 100000).as("b"))
        val e2 = docs.select((col("doc_id") + 100000).as("a"),
          (lit(200000) + col("doc_id") - pmod(col("doc_id"), lit(10))).as("b"))
        graft.operators.ConnectedComponents
          .components(s, e1.unionAll(e2), "a", "b")
          .groupBy("comp")
          .agg(count(lit(1)).cast("long").as("n_nodes"),
            max("node").as("max_node"))
          .orderBy("comp")
      },
      Some("""WITH RECURSIVE
             |docs AS (SELECT doc_id FROM documents),
             |edges AS (
             |  SELECT doc_id AS a, doc_id + 100000 AS b FROM docs
             |  UNION ALL
             |  SELECT doc_id + 100000 AS a, 200000 + doc_id - doc_id % 10 AS b FROM docs
             |),
             |und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
             |reach(node, r) AS (
             |  SELECT a AS node, a AS r FROM und
             |  UNION
             |  SELECT u.a AS node, reach.r FROM und u JOIN reach ON u.b = reach.node
             |),
             |labels AS (SELECT node, min(r) AS comp FROM reach GROUP BY node)
             |SELECT comp, count(*) AS n_nodes, max(node) AS max_node
             |FROM labels GROUP BY comp ORDER BY comp""".stripMargin)),

    // Canonical-survivor selection: within each duplicate cluster keep the
    // highest-quality member (ttr desc, doc_id tie-break) — the curation
    // step after dedup that decides WHICH copy survives. Clusters here key
    // on a content-prefix block (the synthetic corpus has no exact dups;
    // its planted near-dups share prefixes — 23 clusters at sf0.01); with
    // minhash-CC clusters (dedup_lsh_clusters) the selection is identical.
    // One window shuffle on the fingerprint; quality is computed map-side.
    QueryDef("dedup_survivor_pick",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = T(s, d, "documents")
          .withColumn("fp", md5(substring(col("text"), 1, 40)))
          .withColumn("toks", split(col("text"), " +"))
          .withColumn("ttr", round(size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")).cast("double"), 6))
        val w = Window.partitionBy("fp").orderBy(col("ttr").desc, col("doc_id"))
        docs.withColumn("rk", row_number().over(w))
          .groupBy("fp")
          .agg(count(lit(1)).cast("long").as("n_members"),
            min(when(col("rk") === 1, col("doc_id"))).as("survivor_doc"),
            max(when(col("rk") === 1, col("ttr"))).as("survivor_ttr"))
          .where(col("n_members") > 1)
          .orderBy("fp")
      },
      Some("""WITH q AS (SELECT doc_id, md5(substr(text, 1, 40)) AS fp,
             |  round(CAST(len(list_distinct(string_split_regex(text, ' +'))) AS DOUBLE)
             |    / len(string_split_regex(text, ' +')), 6) AS ttr
             |  FROM documents),
             |r AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY ttr DESC, doc_id) AS rk
             |  FROM q)
             |SELECT fp, count(*) AS n_members,
             |  min(CASE WHEN rk = 1 THEN doc_id END) AS survivor_doc,
             |  max(CASE WHEN rk = 1 THEN ttr END) AS survivor_ttr
             |FROM r GROUP BY fp HAVING count(*) > 1 ORDER BY fp""".stripMargin)),

    // Cross-corpus (incremental-crawl) dedup via a plan-embedded Bloom
    // filter: the already-kept corpus (doc_id % 3 = 0) folds into a 64K-bit
    // bitset — k=4 positions per key, each a 16-bit md5 hex chunk, so
    // DuckDB builds the IDENTICAL filter and the kept set hash-matches
    // including any false positives. The probe pass is map-only
    // (operators/Dedup.bloomDedup): no shuffle, no broadcast of corpus
    // keys, and the bitset is O(KB) regardless of corpus size — the shape
    // that survives a 100 TB kept-corpus where any key join would not.
    // Planted exact copies of corpus docs (+100000) must all drop (Bloom
    // has no false negatives); the genuinely-new batch survives.
    QueryDef("dedup_bloom_crosscorpus",
      (s, d) => {
        val docs = T(s, d, "documents").select("doc_id", "source", "text")
        val corpus = docs.where(col("doc_id") % 3 === 0)
        val newBatch = docs.where(col("doc_id") % 3 =!= 0).unionByName(
          corpus.select((col("doc_id") + 100000).as("doc_id"),
            col("source"), col("text")))
        val posCol = expr(
          "transform(sequence(0, 3), h -> cast(conv(substring(md5(text), h * 4 + 1, 4), 16, 10) as int))")
        Dedup.bloomDedup(corpus, newBatch, posCol, mBits = 65536)
          .select("doc_id", "source").orderBy("doc_id")
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, source, text FROM documents WHERE doc_id % 3 = 0),
             |newb AS (
             |  SELECT doc_id, source, text FROM documents WHERE doc_id % 3 <> 0
             |  UNION ALL
             |  SELECT doc_id + 100000 AS doc_id, source, text FROM corpus),
             |bpos AS (SELECT DISTINCT
             |    CAST(('0x' || substr(md5(text), h * 4 + 1, 4)) AS INT) AS p
             |  FROM corpus, UNNEST(range(0, 4)) AS u(h)),
             |npos AS (SELECT doc_id,
             |    CAST(('0x' || substr(md5(text), h * 4 + 1, 4)) AS INT) AS p
             |  FROM newb, UNNEST(range(0, 4)) AS u(h)),
             |hits AS (SELECT n.doc_id, count(*) AS c
             |  FROM npos n JOIN bpos b ON n.p = b.p GROUP BY 1)
             |SELECT nb.doc_id, nb.source FROM newb nb
             |LEFT JOIN hits h USING (doc_id)
             |WHERE coalesce(h.c, 0) < 4 ORDER BY doc_id""".stripMargin)),

    // Corpus-level similarity matrix via MinHash SKETCH UNION: a corpus's
    // sketch is the element-wise min of its documents' md5-minhash
    // signatures — exactly the sketch of the union of their shingle sets —
    // so source-vs-source shingle Jaccard is estimated from H=32 longs per
    // source, never comparing documents pairwise. This is the cross-crawl
    // overlap question ("how much does crawl B repeat crawl A?") answered
    // with O(|sources|·H) state. Scale shape: per-doc mins fold map-side
    // (HOF aggregate over shingles, no explode), the groupBy(source) min
    // partial-aggregates to one row per source per partition, and the
    // pair join is a broadcast over the |sources|-row sketch table. The
    // md5 family makes every min computable bit-identically by DuckDB, so
    // the whole matrix hash-matches (estimates at H=32 resolve the
    // 0.05-0.08 true cross-source Jaccard of the synthetic corpus to 0-3
    // matching components; DedupSpec pins the estimator's convergence).
    QueryDef("corpus_minhash_matrix",
      (s, d) => {
        val H = 32
        val hashExprs = (0 until H).map(k =>
          expr(s"""aggregate(sh, 9223372036854775807L, (acc, t) ->
                  |  least(acc, cast(conv(substring(md5(concat(t, ':$k')), 1, 15), 16, 10) as bigint)))"""
            .stripMargin).as(s"m$k"))
        val perDoc = T(s, d, "documents")
          .withColumn("ws", expr("filter(split(text, ' +'), x -> x != '')"))
          .where(size(col("ws")) >= 3)
          .withColumn("sh", expr(
            "transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', slice(ws, i, 3)))"))
          .select(col("source") +: hashExprs: _*)
        val aggs = (0 until H).map(k => min(col(s"m$k")).as(s"m$k"))
        val sketch = perDoc.groupBy("source").agg(aggs.head, aggs.tail: _*)
        val left = sketch.select(
          col("source").as("sa") +: (0 until H).map(k => col(s"m$k").as(s"am$k")): _*)
        val right = sketch.select(
          col("source").as("sb") +: (0 until H).map(k => col(s"m$k").as(s"bm$k")): _*)
        val nMatch = (0 until H).map(k =>
          when(col(s"am$k") === col(s"bm$k"), 1).otherwise(0)).reduce(_ + _)
        left.join(broadcast(right), col("sa") < col("sb"))
          .withColumn("n_match", nMatch.cast("long"))
          .withColumn("jaccard_est", round(col("n_match").cast("double") / H, 6))
          .select("sa", "sb", "n_match", "jaccard_est")
          .orderBy("sa", "sb")
      },
      Some {
        val H = 32
        val sigExprs = (0 until H).map(k =>
          s"min(list_min(list_transform(sh, t -> CAST(('0x' || substr(md5(t || ':$k'), 1, 15)) AS BIGINT)))) AS m$k"
        ).mkString(",\n  ")
        val matchExpr = (0 until H).map(k =>
          s"(CASE WHEN a.m$k = b.m$k THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH t AS (SELECT source, list_filter(string_split_regex(text, ' +'),
           |    x -> x <> '') AS ws FROM documents),
           |s3 AS (SELECT source, list_transform(range(1, len(ws) - 1),
           |    i -> array_to_string(ws[i:i+2], ' ')) AS sh
           |  FROM t WHERE len(ws) >= 3),
           |sig AS (SELECT source,
           |  $sigExprs
           |  FROM s3 GROUP BY source)
           |SELECT a.source AS sa, b.source AS sb,
           |  CAST($matchExpr AS BIGINT) AS n_match,
           |  round(CAST($matchExpr AS DOUBLE) / $H, 6) AS jaccard_est
           |FROM sig a JOIN sig b ON a.source < b.source
           |ORDER BY sa, sb""".stripMargin
      }),

    // Fuzzy record linkage via SymSpell delete-1 blocking (Garbe 2012;
    // the FastSS scheme of Bocek et al. 2007): two strings are within
    // edit distance 1 iff their delete-1 neighborhoods (each string plus
    // every single-character deletion, |s|+1 variants) intersect — so the
    // matcher is an EQUI-join on short variant keys plus an exact
    // levenshtein verify, never an all-pairs scan. The query corrupts
    // every customer name by one deterministic digit substitution
    // (position and replacement derived from the key by integer
    // arithmetic, so DuckDB regenerates the identical corpus) and links
    // it back: best match by (distance, name), candidate count as audit.
    // Scale shape: both sides explode O(len) variants map-side, one
    // shuffle on the variant key, group sizes bounded by alphabet
    // structure; the window runs per query key. FuzzyLinkSpec proves the
    // blocking finds EVERY dist<=1 pair against brute force at sf0.001.
    QueryDef("dedup_fuzzy_editdist",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val canon = T(s, d, "customer").selectExpr(
          "c_custkey AS cid", "c_name AS cname")
        // substitute digit at 1-based position 10 + key%8 with (digit+1)%10
        val queries = T(s, d, "customer").selectExpr(
          "c_custkey AS qid",
          """concat(substring(c_name, 1, 9 + c_custkey % 8),
            |  chr(48 + (ascii(substring(c_name, 10 + c_custkey % 8, 1)) - 47) % 10),
            |  substring(c_name, 11 + c_custkey % 8, length(c_name))) AS qname"""
            .stripMargin)
        def variants(df: DataFrame, id: String, nm: String): DataFrame =
          df.select(col(id), explode(expr(
            s"""transform(sequence(0, length($nm)),
               |  i -> concat(substring($nm, 1, i),
               |              substring($nm, i + 2, length($nm))))"""
              .stripMargin)).as("v"))
        // candidates carry ids ONLY through the variant join + distinct
        // (names would fatten the shuffle ~10×); both name tables are
        // |customers|-sized and re-join afterwards.
        val cand = variants(queries, "qid", "qname")
          .join(variants(canon, "cid", "cname"), "v")
          .select("qid", "cid").distinct()
        val scored = cand
          .join(queries, "qid").join(canon, "cid")
          .withColumn("dist", levenshtein(col("qname"), col("cname")).cast("long"))
          .where(col("dist") <= 1)
        scored
          .withColumn("rn", row_number().over(
            Window.partitionBy("qid").orderBy(col("dist"), col("cname"))))
          .withColumn("n_cand", count(lit(1)).over(Window.partitionBy("qid")))
          .where(col("rn") === 1)
          .select(col("qid"), col("qname"), col("cname").as("best_match"),
            col("dist").as("best_dist"), col("n_cand"))
          .orderBy("qid")
      },
      Some("""WITH canon AS (SELECT c_custkey AS cid, c_name AS cname FROM customer),
             |q AS (SELECT c_custkey AS qid,
             |        substr(c_name, 1, CAST(9 + c_custkey % 8 AS INT)) ||
             |        chr(48 + (ascii(substr(c_name, CAST(10 + c_custkey % 8 AS INT), 1)) - 47) % 10) ||
             |        substr(c_name, CAST(11 + c_custkey % 8 AS INT), length(c_name)) AS qname
             |      FROM customer),
             |pos AS (SELECT CAST(i AS INT) AS i FROM range(0, 64) t(i)),
             |vq AS (SELECT qid, qname,
             |         substr(qname, 1, i) || substr(qname, i + 2, length(qname)) AS v
             |       FROM q, pos WHERE i <= length(qname)),
             |vc AS (SELECT cid, cname,
             |         substr(cname, 1, i) || substr(cname, i + 2, length(cname)) AS v
             |       FROM canon, pos WHERE i <= length(cname)),
             |cand AS (SELECT DISTINCT qid, qname, cid, cname FROM vq JOIN vc USING (v)),
             |scored AS (SELECT qid, qname, cname,
             |             CAST(levenshtein(qname, cname) AS BIGINT) AS dist
             |           FROM cand WHERE levenshtein(qname, cname) <= 1),
             |ranked AS (SELECT qid, qname, cname, dist,
             |             row_number() OVER (PARTITION BY qid ORDER BY dist, cname) AS rn,
             |             count(*) OVER (PARTITION BY qid) AS n_cand
             |           FROM scored)
             |SELECT qid, qname, cname AS best_match, dist AS best_dist, n_cand
             |FROM ranked WHERE rn = 1 ORDER BY qid""".stripMargin)
    ),

    // Exact duplicated-SPAN detection (the substring-dedup family): slide an
    // 8-token window (stride 1) over every doc, key each window by md5, and
    // count per doc how many window POSITIONS land on a window that occurs
    // in >= 2 distinct docs. This is the windowed approximation of
    // suffix-array exact-substring dedup: a K-token duplicated span is
    // detected at every position it covers, with no alignment needed.
    // Scale shape (100 TB): windows explode map-side; the only shuffles are
    // the groupBy on the fixed-width md5 key (partial-agg combines) and the
    // wh-co-partitioned left-semi join back (AQE broadcasts the dup-key set
    // when it is small, which boilerplate spans usually are); final per-doc
    // rollup shuffles doc_id only. No pair enumeration anywhere.
    QueryDef(
      "dedup_ngram_spans",
      (s, d) => {
        val K = 8
        val wins = docsWithDups(s, d)
          .withColumn("ws", expr("filter(split(text, ' +'), x -> x != '')"))
          .where(size(col("ws")) >= K)
          .select(col("doc_id"), explode(expr(
            s"transform(sequence(1, size(ws) - ${K - 1}), i -> md5(concat_ws(' ', slice(ws, i, $K))))")).as("wh"))
        val dup = wins.groupBy("wh")
          .agg(countDistinct("doc_id").as("ndocs"))
          .where(col("ndocs") >= 2)
          .select("wh")
        val tot = wins.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
        val dupPer = wins.join(dup, Seq("wh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_dup_windows"))
        tot.join(dupPer, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_windows"),
            coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
          .withColumn("dup_bp", expr("(10000 * n_dup_windows) div n_windows"))
          .orderBy("doc_id")
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000,
             |    substr(text, instr(text, ' ') + 1) || ' zzz' FROM documents),
             |t AS (SELECT doc_id, list_filter(string_split_regex(text, ' +'),
             |        x -> x <> '') AS ws FROM all_docs),
             |w0 AS (SELECT doc_id, unnest(range(1, len(ws) - 6)) AS pos, ws
             |       FROM t WHERE len(ws) >= 8),
             |w AS (SELECT doc_id, md5(array_to_string(ws[pos:pos+7], ' ')) AS wh
             |      FROM w0),
             |dup AS (SELECT wh FROM w GROUP BY wh
             |        HAVING count(DISTINCT doc_id) >= 2),
             |tot AS (SELECT doc_id, count(*) AS n_windows FROM w GROUP BY doc_id),
             |dp AS (SELECT doc_id, count(*) AS n_dup_windows FROM w
             |       WHERE wh IN (SELECT wh FROM dup) GROUP BY doc_id)
             |SELECT t.doc_id, t.n_windows,
             |  coalesce(dp.n_dup_windows, 0) AS n_dup_windows,
             |  (10000 * coalesce(dp.n_dup_windows, 0)) // t.n_windows AS dup_bp
             |FROM tot t LEFT JOIN dp USING (doc_id)
             |ORDER BY doc_id""".stripMargin)
    ),

    // ASYMMETRIC containment join: find snippets whose shingle set is >= 80%
    // covered by some document — the subset-duplication case symmetric
    // Jaccard misses (a half-doc quote has J ~= 0.5 against its source but
    // containment 1.0). Probe side = the first-half snippet of every doc
    // (id + 200000); index side = full docs. Candidate generation is
    // prefix-filtered ON THE PROBE's rarest shingles (prefix length
    // p = sz - ceil(0.8*sz) + 1, df-ascending order; a probe shingle absent
    // from the index keeps its prefix slot — it burns one allowed miss),
    // plus the size bound |B| >= 0.8*|A|. Scale shape: shuffles only on the
    // shingle key (candidate join) and the pair key (verify); never
    // all-pairs — candidate cost is bounded by prefix length x df of the
    // RAREST probe shingles, the prefix-filtering guarantee.
    QueryDef(
      "dedup_containment_prefix",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ws = T(s, d, "documents").select("doc_id", "text")
          .withColumn("ws", expr("filter(split(text, ' +'), x -> x != '')"))
        val shFull = ws.select(col("doc_id"), expr(shingleExprStr("ws")).as("sh"))
          .localCheckpoint()
        val shSnip = ws.where(size(col("ws")) >= 8)
          .withColumn("ws2", expr("slice(ws, 1, (size(ws) + 1) div 2)"))
          .select((col("doc_id") + 200000).as("snip_id"),
            expr(shingleExprStr("ws2")).as("sh"))
          .localCheckpoint()
        val exFull = shFull.select(col("doc_id"),
          size(col("sh")).as("sb"), explode(col("sh")).as("s3"))
        val dfT = exFull.groupBy("s3").agg(count(lit(1)).as("df"))
        val exSnip = shSnip.select(col("snip_id"),
          size(col("sh")).as("sa"), explode(col("sh")).as("s2"))
        val ranked = exSnip.join(dfT, col("s2") === col("s3"), "left")
          .withColumn("dfc", coalesce(col("df"), lit(0L)))
          .repartition(s.sparkContext.defaultParallelism, col("snip_id"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("snip_id").orderBy(col("dfc"), col("s2"))))
        val pref = ranked.where(
          col("rn") <= col("sa") - expr("((4 * sa) + 4) div 5") + 1)
          .select("snip_id", "sa", "s2")
        val cand = pref.join(exFull,
            col("s2") === col("s3") && lit(5) * col("sb") >= lit(4) * col("sa"))
          .select("snip_id", "doc_id").distinct()
        cand
          .join(shSnip.select(col("snip_id"), col("sh").as("sha")), "snip_id")
          .join(shFull.select(col("doc_id"), col("sh").as("shb")), "doc_id")
          .withColumn("inter",
            size(array_intersect(col("sha"), col("shb"))).cast("bigint"))
          .withColumn("snip_sz", size(col("sha")).cast("bigint"))
          .where(lit(5) * col("inter") >= lit(4) * col("snip_sz"))
          .select(col("snip_id"), col("doc_id"), col("inter"), col("snip_sz"),
            expr("(10000 * inter) div snip_sz").as("containment_bp"))
          .orderBy("snip_id", "doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, ' +'),
             |        x -> x <> '') AS ws FROM documents),
             |full_sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
             |    THEN list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
             |    ELSE [array_to_string(ws, ' ')] END) AS sh FROM t),
             |snip AS (SELECT doc_id + 200000 AS snip_id,
             |    ws[1:(len(ws) + 1) // 2] AS ws2 FROM t WHERE len(ws) >= 8),
             |snip_sh AS (SELECT snip_id, list_distinct(CASE WHEN len(ws2) >= 3
             |    THEN list_transform(range(1, len(ws2) - 1), i -> array_to_string(ws2[i:i+2], ' '))
             |    ELSE [array_to_string(ws2, ' ')] END) AS sh FROM snip),
             |exf AS (SELECT doc_id, len(sh) AS sb, unnest(sh) AS s3 FROM full_sh),
             |dft AS (SELECT s3, count(*) AS df FROM exf GROUP BY s3),
             |exs AS (SELECT snip_id, len(sh) AS sa, unnest(sh) AS s2 FROM snip_sh),
             |ranked AS (SELECT exs.snip_id, exs.sa, exs.s2,
             |    row_number() OVER (PARTITION BY exs.snip_id
             |                       ORDER BY coalesce(dft.df, 0), exs.s2) AS rn
             |  FROM exs LEFT JOIN dft ON exs.s2 = dft.s3),
             |pref AS (SELECT snip_id, sa, s2 FROM ranked
             |  WHERE rn <= sa - ((4 * sa + 4) // 5) + 1),
             |cand AS (SELECT DISTINCT p.snip_id, f.doc_id
             |  FROM pref p JOIN exf f ON p.s2 = f.s3 AND 5 * f.sb >= 4 * p.sa),
             |verified AS (SELECT c.snip_id, c.doc_id,
             |    CAST(len(list_intersect(ss.sh, fs.sh)) AS BIGINT) AS inter,
             |    CAST(len(ss.sh) AS BIGINT) AS snip_sz
             |  FROM cand c JOIN snip_sh ss ON ss.snip_id = c.snip_id
             |              JOIN full_sh fs ON fs.doc_id = c.doc_id)
             |SELECT snip_id, doc_id, inter, snip_sz,
             |  (10000 * inter) // snip_sz AS containment_bp
             |FROM verified WHERE 5 * inter >= 4 * snip_sz
             |ORDER BY snip_id, doc_id""".stripMargin)
    ),

    // Takedown propagation (right-to-be-forgotten / license retraction):
    // given a seed set of doc_ids to remove (here doc_id % 97 = 0), the
    // removal must also cover every NEAR-DUPLICATE of a seed — near-dup
    // copies re-leak the content a takedown was meant to purge. Removal
    // set = seeds ∪ all members of any md5-LSH connected component that
    // contains a seed. Scale shape: reuses the verified-pair CC labeling
    // (one shuffle per star round over EDGES, not docs); seed-component
    // selection is a semi-join on comp; seeds without near-dups survive
    // via the union, so docs outside any cluster still get removed. The
    // actual purge downstream is then one anti-join on this table.
    QueryDef("dedup_takedown_propagate",
      (s, d) => {
        val seeds = docsWithDups(s, d).select("doc_id")
          .where(expr("doc_id % 97 = 0"))
        val edges = md5LshPairs(s, d).select("a", "b")
        val comps = graft.operators.ConnectedComponents
          .components(s, edges, "a", "b")  // (node, comp)
        val seedComps = comps
          .join(seeds.withColumnRenamed("doc_id", "node"), "node")
          .select("comp").distinct()
        val clusterHits = comps.join(seedComps, "comp")
          .select(col("node").as("doc_id"))
        seeds.select(col("doc_id"), lit(1L).as("is_seed"))
          .unionByName(clusterHits.select(col("doc_id"), lit(0L).as("is_seed")))
          .groupBy("doc_id").agg(max("is_seed").as("is_seed"))
          .select(col("doc_id"),
            when(col("is_seed") === 1, "seed").otherwise("cluster").as("reason"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${md5LshPairsSqlCtes},
              |und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
              |reach(node, r) AS (
              |  SELECT a AS node, a AS r FROM und
              |  UNION
              |  SELECT u.a AS node, reach.r FROM und u JOIN reach ON u.b = reach.node
              |),
              |labels AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
              |seeds AS (SELECT doc_id FROM all_docs WHERE doc_id % 97 = 0),
              |seed_comps AS (SELECT DISTINCT l.comp FROM labels l
              |  JOIN seeds s ON l.node = s.doc_id),
              |hits AS (SELECT l.node AS doc_id FROM labels l
              |  JOIN seed_comps sc ON l.comp = sc.comp),
              |rm AS (SELECT doc_id, 1 AS is_seed FROM seeds
              |  UNION ALL SELECT doc_id, 0 AS is_seed FROM hits)
              |SELECT doc_id,
              |  CASE WHEN max(is_seed) = 1 THEN 'seed' ELSE 'cluster' END AS reason
              |FROM rm GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // LSH candidate-generation QUALITY eval — the dedup counterpart of
    // sim_ann_recall_eval: ground truth is the exact token-Jaccard of every
    // planted duplicate pair (J >= 0.5), and we measure what fraction the
    // (16-hash, 4-band) banding join actually surfaces, bucketed by
    // Jaccard decile. This is the number a curation owner reads before
    // trusting the approximate path at 100 TB: integer basis points, so
    // the report is bit-deterministic. Scale shape: the truth join is
    // keyed on the planted offset (one shuffle), candidates come from the
    // same banding join the production query uses.
    QueryDef("dedup_lsh_recall_eval",
      (s, d) => {
        val H = 16; val B = 4
        val cand = md5BandCandidates(s, md5SigTable(s, d, H), H, B)
          .withColumn("hit", lit(1L))
        val toks = docsWithDups(s, d).select(col("doc_id"),
          expr("array_distinct(filter(split(text, ' +'), x -> x != ''))").as("ts"))
        val a = toks.where(col("doc_id") < 100000L)
          .select(col("doc_id").as("a"), col("ts").as("ta"))
        val b = toks.where(col("doc_id") >= 100000L)
          .select((col("doc_id") - 100000L).as("a"), col("ts").as("tb"))
        a.join(b, "a")
          .withColumn("jaccard", round(
            size(array_intersect(col("ta"), col("tb"))).cast("double") /
              size(array_union(col("ta"), col("tb"))), 6))
          .where(col("jaccard") >= 0.5)
          .withColumn("b", col("a") + 100000L)
          .join(cand, Seq("a", "b"), "left")
          .withColumn("hit", coalesce(col("hit"), lit(0L)))
          .withColumn("decile", expr("least(CAST(floor(jaccard * 10.0D) AS BIGINT), 9L)"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_truth"), sum("hit").as("n_found"))
          .withColumn("recall_bp", expr("(n_found * 10000) div n_truth"))
          .orderBy("decile")
      },
      Some(s"""WITH ${md5LshPairsSqlCtes},
              |truth AS (SELECT ta.doc_id AS a, ta.doc_id + 100000 AS b,
              |    round(CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE) /
              |          len(list_distinct(list_concat(ta.ts, tb.ts))), 6) AS jaccard
              |  FROM toks ta JOIN toks tb ON tb.doc_id = ta.doc_id + 100000
              |  WHERE ta.doc_id < 100000),
              |tq AS (SELECT * FROM truth WHERE jaccard >= 0.5),
              |hits AS (SELECT tq.jaccard,
              |    CASE WHEN c.a IS NOT NULL THEN 1 ELSE 0 END AS hit
              |  FROM tq LEFT JOIN cand c ON tq.a = c.a AND tq.b = c.b)
              |SELECT least(CAST(floor(jaccard * 10) AS BIGINT), 9) AS decile,
              |  count(*) AS n_truth, CAST(sum(hit) AS BIGINT) AS n_found,
              |  (CAST(sum(hit) AS BIGINT) * 10000) // count(*) AS recall_bp
              |FROM hits GROUP BY 1 ORDER BY decile""".stripMargin)
    )
  )
}
