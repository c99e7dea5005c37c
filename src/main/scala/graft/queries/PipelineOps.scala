package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 continuation: the operational face of a curation/feature
  * pipeline — customer value segmentation (RFM), share-of-total reporting,
  * interval-sweep concurrency, churn label generation, JSON-lines ingest
  * with quarantine, per-source information-theoretic profiling (entropy,
  * chi-squared keyword extraction), and sequence mining over event streams.
  *
  * Cross-engine determinism follows the house rules (QueryDef scaladoc):
  * money in BIGINT cents, DECIMAL sums, transcendentals through
  * round(-ln x, 9) + DECIMAL, single +,-,*,/ chains on identical operands
  * (IEEE-exact in both engines when the evaluation order is pinned by
  * parentheses), total ORDER BY keys.
  */
object PipelineOps {

  val qs: Seq[QueryDef] = Seq(

    // RFM segmentation: per-customer recency/frequency/monetary quartiles.
    // Scale shape: the heavy input shuffles ONCE into the per-customer
    // rollup (|customers| rows — orders of magnitude below the fact
    // table); the three ntile windows run over that rollup, the same
    // "exact quantiles over the reduced frame" cost stats_equidepth_
    // histogram documents. Tie-breaks on o_custkey make every quartile
    // assignment total, so the segment strings are deterministic
    // cross-engine.
    QueryDef(
      "customer_rfm_segments",
      (s, d) => {
        val o = T(s, d, "orders")
        val mx = o.agg(max(to_date(col("o_orderdate"))).as("maxd"),
          max("o_custkey").as("maxck"))
        val per = o.groupBy("o_custkey").agg(
            max(to_date(col("o_orderdate"))).as("lastd"),
            count(lit(1)).as("frequency"),
            sum(expr("CAST(round(o_totalprice * 100.0D, 0) AS BIGINT)"))
              .as("monetary_cents"))
          .crossJoin(broadcast(mx))
          .withColumn("recency_days", datediff(col("maxd"), col("lastd")).cast("long"))
        // three global quartiles, each computed scale-safely (salted
        // local rank + broadcast offsets — see ScalableWindow) instead
        // of three single-partition WindowExecs over the O(|customers|)
        // rollup; values identical to ntile(4), so the ntile-based
        // oracle stays green. Salts per the monotonicity contract:
        //   recency: the day value itself (≤ a few thousand groups,
        //     each = customers last active that day);
        //   frequency DESC: exact -frequency (ties are HUGE — most
        //     customers share small counts) sub-salted by a custkey
        //     range bucket, valid because the leading salt is exact;
        //   monetary DESC: cents are near-unique, a 2048-way value
        //     bucket alone balances.
        val stats = per.agg(max("monetary_cents").as("maxm"))
        val base = per.crossJoin(broadcast(stats))
        val q1 = graft.operators.ScalableWindow.withGlobalNtile(
          base, "r_q", 4)(
          Seq(col("recency_days")), col("recency_days"), col("o_custkey"))
        val q2 = graft.operators.ScalableWindow.withGlobalNtile(
          q1, "f_q", 4)(
          Seq(expr("-frequency"), expr("o_custkey div (maxck div 1024L + 1L)")),
          col("frequency").desc, col("o_custkey"))
        val q3 = graft.operators.ScalableWindow.withGlobalNtile(
          q2, "m_q", 4)(
          Seq(expr("-(monetary_cents div (maxm div 2048L + 1L))")),
          col("monetary_cents").desc, col("o_custkey"))
        q3
          .withColumn("segment", concat(lit("R"), col("r_q").cast("string"),
            lit("F"), col("f_q").cast("string"), lit("M"), col("m_q").cast("string")))
          .select("o_custkey", "recency_days", "frequency", "monetary_cents",
            "r_q", "f_q", "m_q", "segment")
          .orderBy("o_custkey")
      },
      Some("""WITH per AS (SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS lastd,
             |    count(*) AS frequency,
             |    CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS monetary_cents
             |  FROM orders GROUP BY 1),
             |mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
             |base AS (SELECT per.*, datediff('day', lastd, maxd) AS recency_days FROM per, mx),
             |q AS (SELECT *,
             |    CAST(ntile(4) OVER (ORDER BY recency_days, o_custkey) AS BIGINT) AS r_q,
             |    CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT) AS f_q,
             |    CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, o_custkey) AS BIGINT) AS m_q
             |  FROM base)
             |SELECT o_custkey, recency_days, frequency, monetary_cents, r_q, f_q, m_q,
             |  'R' || r_q || 'F' || f_q || 'M' || m_q AS segment
             |FROM q ORDER BY o_custkey""".stripMargin)
    ),

    // Share-of-total (ratio-to-report): revenue share of each linestatus
    // within its returnflag. The fact table shuffles once into the
    // (flag, status) rollup; the ratio window runs over that tiny frame.
    // Numerator and denominator are exact BIGINT cents; the single IEEE
    // division of identical operands is bit-exact cross-engine, so the
    // share column needs no rounding at all.
    QueryDef(
      "sales_share_ratio",
      (s, d) => {
        val rev = T(s, d, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(expr(
            "CAST(round(l_extendedprice * (1.0D - l_discount) * 100.0D, 0) AS BIGINT)"))
            .as("revenue_cents"))
        val wf = Window.partitionBy("l_returnflag")
        rev
          .withColumn("flag_total_cents", sum("revenue_cents").over(wf))
          .withColumn("share_in_flag",
            col("revenue_cents").cast("double") / col("flag_total_cents").cast("double"))
          .select("l_returnflag", "l_linestatus", "revenue_cents",
            "flag_total_cents", "share_in_flag")
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""WITH rev AS (SELECT l_returnflag, l_linestatus,
             |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0, 0) AS BIGINT)) AS BIGINT)
             |      AS revenue_cents
             |  FROM lineitem GROUP BY 1, 2)
             |SELECT l_returnflag, l_linestatus, revenue_cents,
             |  CAST(sum(revenue_cents) OVER (PARTITION BY l_returnflag) AS BIGINT) AS flag_total_cents,
             |  CAST(revenue_cents AS DOUBLE) / CAST(sum(revenue_cents) OVER (PARTITION BY l_returnflag) AS DOUBLE)
             |    AS share_in_flag
             |FROM rev ORDER BY l_returnflag, l_linestatus""".stripMargin)
    ),

    // Peak concurrency via the classic +1/-1 endpoint sweep: each event
    // opens a 30-minute session [ts, ts+30min) clipped at midnight, and the
    // per-(event_type, day) running sum over the ordered endpoints gives
    // the number of concurrently-open sessions at every instant; we report
    // each day's peak and the first time it is reached. Endpoint order is
    // (t, delta) with -1 before +1, i.e. half-open intervals: a session
    // ending exactly when another starts does not overlap it. Scale shape:
    // the sweep partitions on (type, day) — thousands of bounded
    // partitions — never a global sort; midnight clipping is what makes
    // the per-day partition self-contained (no cross-partition carry).
    QueryDef(
      "events_concurrency_peak",
      (s, d) => {
        val base = T.events(s, d)
          .select(col("event_type"), to_date(col("ts")).as("day"),
            unix_micros(col("ts")).as("t0"))
          .withColumn("day_end_us",
            expr("unix_micros(CAST(day AS TIMESTAMP)) + 86400000000L"))
          .withColumn("t1", least(col("t0") + lit(1800000000L), col("day_end_us")))
        val pts = base.select(col("event_type"), col("day"), col("t0").as("t"), lit(1L).as("delta"))
          .unionAll(base.select(col("event_type"), col("day"), col("t1").as("t"), lit(-1L).as("delta")))
        val wRun = Window.partitionBy("event_type", "day").orderBy(col("t"), col("delta"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wPeak = Window.partitionBy("event_type", "day")
        pts
          .withColumn("running", sum("delta").over(wRun))
          .withColumn("peak", max("running").over(wPeak))
          .groupBy(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"))
          .agg(max("running").cast("long").as("peak_concurrency"),
            min(when(col("running") === col("peak"), col("t"))).as("first_peak_us"))
          .orderBy("event_type", "day")
      },
      Some("""WITH base AS (SELECT event_type, CAST(ts AS DATE) AS day, epoch_us(ts) AS t0,
             |    epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP)) + 86400000000 AS day_end_us
             |  FROM events),
             |iv AS (SELECT event_type, day, t0,
             |    least(t0 + 1800000000, day_end_us) AS t1 FROM base),
             |pts AS (SELECT event_type, day, t0 AS t, CAST(1 AS BIGINT) AS delta FROM iv
             |  UNION ALL SELECT event_type, day, t1 AS t, CAST(-1 AS BIGINT) AS delta FROM iv),
             |run AS (SELECT *, sum(delta) OVER (PARTITION BY event_type, day
             |    ORDER BY t, delta ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
             |  FROM pts),
             |pk AS (SELECT *, max(running) OVER (PARTITION BY event_type, day) AS peak FROM run)
             |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
             |  CAST(max(running) AS BIGINT) AS peak_concurrency,
             |  min(CASE WHEN running = peak THEN t END) AS first_peak_us
             |FROM pk GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin)
    ),

    // Churn label generation: the supervised-learning labeling pass — a
    // user is "churned" if their last activity is at least 7 days before
    // the corpus horizon (the global max event time). One shuffle into the
    // per-user rollup; the horizon rides as a broadcast one-row aggregate,
    // never a driver-side collect.
    QueryDef(
      "events_churn_labels",
      (s, d) => {
        val ev = T.events(s, d)
        val horizon = ev.agg(max(unix_micros(col("ts"))).as("max_us"))
        ev.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(to_date(col("ts"))).as("active_days"),
            max(unix_micros(col("ts"))).as("last_us"))
          .crossJoin(broadcast(horizon))
          .withColumn("churned",
            (col("last_us") <= col("max_us") - lit(604800000000L)).cast("long"))
          .select("user_id", "n_events", "active_days", "last_us", "churned")
          .orderBy("user_id")
      },
      Some("""WITH h AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
             |u AS (SELECT user_id, count(*) AS n_events,
             |    count(DISTINCT CAST(ts AS DATE)) AS active_days,
             |    max(epoch_us(ts)) AS last_us
             |  FROM events GROUP BY 1)
             |SELECT user_id, n_events, active_days, last_us,
             |  CAST(CASE WHEN last_us <= max_us - 604800000000 THEN 1 ELSE 0 END AS BIGINT) AS churned
             |FROM u, h ORDER BY user_id""".stripMargin)
    ),

    // JSON-lines ingest with malformed-row quarantine — the third ingest
    // format surface (CSV and ORC already covered). Stage documents as
    // JSON lines with a deterministic 1-in-53 truncation corruption, read
    // back under PERMISSIVE with columnNameOfCorruptRecord, and aggregate
    // good rows per source with corrupt rows routed to a '_corrupt'
    // bucket. The oracle recomputes the expectation from the parquet
    // source, so the hash match covers the full JSON write→parse→quarantine
    // fidelity. Map-only at scale: no shuffle before the final rollup.
    QueryDef(
      "json_ingest_quarantine",
      (s, d) => {
        val staged = T(s, d, "documents")
          .select(col("doc_id"),
            to_json(struct(col("doc_id"), col("source"), col("n_chars"))).as("j"))
          .select(when(expr("doc_id % 53 = 0"), expr("substring(j, 1, 10)"))
            .otherwise(col("j")).as("value"))
        val dirOut = graft.streaming.Scratch.dir("graft_json_src")
        staged.write.mode("overwrite").text(dirOut.toString)
        s.read
          .schema("doc_id LONG, source STRING, n_chars LONG, _corrupt STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .json(dirOut.toString)
          .select(when(col("_corrupt").isNotNull, "_corrupt")
            .otherwise(col("source")).as("source"), col("n_chars"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            coalesce(sum("n_chars"), lit(0L)).as("sum_chars"))
          .orderBy("source")
      },
      Some("""SELECT CASE WHEN doc_id % 53 = 0 THEN '_corrupt' ELSE source END AS source,
             |  count(*) AS n,
             |  CAST(coalesce(sum(CASE WHEN doc_id % 53 = 0 THEN NULL ELSE n_chars END), 0) AS BIGINT)
             |    AS sum_chars
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // Per-source token-distribution profile: Shannon entropy (nats),
    // type-token ratio, and vocabulary size — the corpus-diversity numbers
    // a mixture planner reads before weighting sources. Determinism: each
    // -ln p is rounded to 9 dp and DECIMAL-weighted by its count (exact,
    // order-independent); the final divisions are single IEEE ops. Scale
    // shape: one shuffle to (source, tok) counts, one to the per-source
    // rollup; the per-source totals join back broadcast (|sources| rows).
    QueryDef(
      "stats_entropy_per_source",
      (s, d) => {
        val toks = T(s, d, "documents")
          .select(col("source"), explode(expr(
            "filter(split(text, ' +'), x -> x != '')")).as("tok"))
        val c = toks.groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
        val n = c.groupBy("source").agg(sum("cnt").as("n_toks"),
          count(lit(1)).as("n_vocab"))
        c.join(broadcast(n), "source")
          .withColumn("term", expr(
            "cnt * CAST(round(-ln(cnt / CAST(n_toks AS DOUBLE)), 9) AS DECIMAL(18,9))"))
          .groupBy("source")
          .agg(first("n_toks").cast("long").as("n_toks"),
            first("n_vocab").cast("long").as("n_vocab"),
            round(sum("term").cast("double") / first("n_toks"), 6).as("entropy_nats"),
            (first("n_vocab").cast("double") / first("n_toks").cast("double")).as("ttr"))
          .orderBy("source")
      },
      Some("""WITH toks AS (SELECT source, unnest(list_filter(string_split_regex(text, ' +'),
             |    x -> x <> '')) AS tok FROM documents),
             |c AS (SELECT source, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
             |n AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_toks,
             |    count(*) AS n_vocab FROM c GROUP BY 1)
             |SELECT c.source, any_value(n.n_toks) AS n_toks, any_value(n.n_vocab) AS n_vocab,
             |  round(CAST(sum(cnt * CAST(round(-ln(cnt / CAST(n.n_toks AS DOUBLE)), 9) AS DECIMAL(18,9)))
             |    AS DOUBLE) / any_value(n.n_toks), 6) AS entropy_nats,
             |  CAST(any_value(n.n_vocab) AS DOUBLE) / CAST(any_value(n.n_toks) AS DOUBLE) AS ttr
             |FROM c JOIN n ON c.source = n.source
             |GROUP BY c.source ORDER BY c.source""".stripMargin)
    ),

    // Chi-squared keyword extraction: the top-3 tokens most
    // over-represented in each source vs the rest of the corpus — the
    // classic feature-selection statistic over the (source, token)
    // contingency table. All four cell counts are exact BIGINTs; the
    // statistic is a parenthesis-pinned chain of IEEE ops on those
    // integers, so the ranking is bit-deterministic with no rounding.
    // Global-count floor (>= 5) keeps the tail out; positive association
    // only (a*d > b*c). Scale: two count shuffles + a broadcast of the
    // per-source totals; ranking windows partition by source.
    QueryDef(
      "text_keyword_chi2",
      (s, d) => {
        val toks = T(s, d, "documents")
          .select(col("source"), explode(expr(
            "filter(split(text, ' +'), x -> x != '')")).as("tok"))
        val a = toks.groupBy("source", "tok").agg(count(lit(1)).as("a"))
        val srcN = toks.groupBy("source").agg(count(lit(1)).as("src_n"))
        val glob = a.groupBy("tok").agg(sum("a").as("g"))
        val tot = toks.agg(count(lit(1)).as("n"))
        val scored = a
          .join(glob.where(col("g") >= 5), "tok")
          .join(broadcast(srcN), "source")
          .crossJoin(broadcast(tot))
          .withColumn("b", col("g") - col("a"))
          .withColumn("c", col("src_n") - col("a"))
          .withColumn("dd", col("n") - col("src_n") - col("b"))
          .where(col("a") * col("dd") > col("b") * col("c"))
          .withColumn("chi2", expr(
            """((CAST(n AS DOUBLE) * CAST(a * dd - b * c AS DOUBLE)) * CAST(a * dd - b * c AS DOUBLE)) /
              |(((CAST(a + b AS DOUBLE) * CAST(c + dd AS DOUBLE)) * CAST(a + c AS DOUBLE)) * CAST(b + dd AS DOUBLE))
              |""".stripMargin.replace("\n", " ")))
        val w = Window.partitionBy("source").orderBy(col("chi2").desc, col("tok"))
        scored
          .withColumn("rnk", row_number().over(w).cast("long"))
          .where(col("rnk") <= 3)
          .select(col("source"), col("rnk"), col("tok"), col("a").as("cnt_in_source"), col("chi2"))
          .orderBy("source", "rnk")
      },
      Some("""WITH toks AS (SELECT source, unnest(list_filter(string_split_regex(text, ' +'),
             |    x -> x <> '')) AS tok FROM documents),
             |a AS (SELECT source, tok, count(*) AS a FROM toks GROUP BY 1, 2),
             |srcn AS (SELECT source, count(*) AS src_n FROM toks GROUP BY 1),
             |gt AS (SELECT tok, CAST(sum(a) AS BIGINT) AS g FROM a GROUP BY 1),
             |tot AS (SELECT count(*) AS n FROM toks),
             |cells AS (SELECT a.source, a.tok, a.a, gt.g - a.a AS b,
             |    srcn.src_n - a.a AS c, tot.n - srcn.src_n - (gt.g - a.a) AS dd,
             |    srcn.src_n, gt.g, tot.n
             |  FROM a JOIN gt ON a.tok = gt.tok AND gt.g >= 5
             |  JOIN srcn ON a.source = srcn.source CROSS JOIN tot),
             |sc AS (SELECT source, tok, a,
             |    ((CAST(n AS DOUBLE) * CAST(a * dd - b * c AS DOUBLE)) * CAST(a * dd - b * c AS DOUBLE)) /
             |    (((CAST(a + b AS DOUBLE) * CAST(c + dd AS DOUBLE)) * CAST(a + c AS DOUBLE)) * CAST(b + dd AS DOUBLE))
             |      AS chi2
             |  FROM cells WHERE a * dd > b * c),
             |r AS (SELECT *, row_number() OVER (PARTITION BY source
             |    ORDER BY chi2 DESC, tok) AS rnk FROM sc)
             |SELECT source, CAST(rnk AS BIGINT) AS rnk, tok, a AS cnt_in_source, chi2
             |FROM r WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin)
    ),

    // Sequence mining lite: the top-10 event-type trigrams across per-user
    // ordered histories — the pattern a behavioral-feature pass or a
    // next-event model's vocabulary needs. The lead windows partition by
    // user (one shuffle); the trigram rollup is bounded by |types|^3, so
    // its top-k never materializes a global sort.
    QueryDef(
      "events_sequence_trigrams",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val tri = T.events(s, d)
          .withColumn("e2", lead("event_type", 1).over(w))
          .withColumn("e3", lead("event_type", 2).over(w))
          .where(col("e2").isNotNull && col("e3").isNotNull)
          .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("trigram"))
          .groupBy("trigram").agg(count(lit(1)).as("n"))
        val wr = Window.orderBy(col("n").desc, col("trigram"))
        tri
          .withColumn("rnk", row_number().over(wr).cast("long"))
          .where(col("rnk") <= 10)
          .select("rnk", "trigram", "n")
          .orderBy("rnk")
      },
      Some("""WITH seq AS (SELECT user_id, event_type,
             |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
             |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
             |  FROM events),
             |tri AS (SELECT event_type || '>' || e2 || '>' || e3 AS trigram, count(*) AS n
             |  FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL GROUP BY 1),
             |r AS (SELECT *, row_number() OVER (ORDER BY n DESC, trigram) AS rnk FROM tri)
             |SELECT CAST(rnk AS BIGINT) AS rnk, trigram, n FROM r WHERE rnk <= 10
             |ORDER BY rnk""".stripMargin)
    ),

    // Mutual information between event_type and a fixed-width value bucket
    // — the feature-selection audit for a categorical pair (the
    // information-theoretic sibling of stats_corr and stats_join_
    // cardinality). MI = Σ (c_xy/N)·ln(c_xy·N / (c_x·c_y)); each ln goes
    // through the house round(…, 9) + DECIMAL-weighted-sum pattern so the
    // result is order-independent and bit-deterministic. Bucketing is
    // map-side arithmetic (floor(value/25)), NOT a quantile window — no
    // global sort anywhere; marginals ride as broadcast aggregates.
    QueryDef(
      "stats_mutual_information",
      (s, d) => {
        val ev = T.events(s, d)
          .select(col("event_type"), expr("CAST(floor(value / 25.0D) AS BIGINT)").as("vb"))
        val joint = ev.groupBy("event_type", "vb").agg(count(lit(1)).as("cxy"))
        val mx = ev.groupBy("event_type").agg(count(lit(1)).as("cx"))
        val my = ev.groupBy("vb").agg(count(lit(1)).as("cy"))
        val n = ev.agg(count(lit(1)).as("n"))
        joint
          .join(broadcast(mx), "event_type")
          .join(broadcast(my), "vb")
          .crossJoin(broadcast(n))
          .withColumn("term", expr(
            "cxy * CAST(round(ln((CAST(cxy AS DOUBLE) * CAST(n AS DOUBLE)) / " +
              "(CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 9) AS DECIMAL(18,9))"))
          .agg(first("n").cast("long").as("n_events"),
            count(lit(1)).cast("long").as("n_cells"),
            round(sum("term").cast("double") / first("n"), 6).as("mi_nats"))
      },
      Some("""WITH ev AS (SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS vb FROM events),
             |joint AS (SELECT event_type, vb, count(*) AS cxy FROM ev GROUP BY 1, 2),
             |mx AS (SELECT event_type, count(*) AS cx FROM ev GROUP BY 1),
             |my AS (SELECT vb, count(*) AS cy FROM ev GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM ev)
             |SELECT any_value(n.n) AS n_events, count(*) AS n_cells,
             |  round(CAST(sum(cxy * CAST(round(ln((CAST(cxy AS DOUBLE) * CAST(n.n AS DOUBLE)) /
             |    (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 9) AS DECIMAL(18,9))) AS DOUBLE)
             |    / any_value(n.n), 6) AS mi_nats
             |FROM joint JOIN mx USING (event_type) JOIN my USING (vb) CROSS JOIN n""".stripMargin)
    ),

    // Unpivot (melt): the wide per-type rollup re-expressed as long-form
    // (event_type, metric, value) rows via stack() — the reshaping step
    // every metrics-warehouse export needs. The rollup is tiny (|types|
    // rows) so the unpivot is free; at scale the single shuffle is the
    // rollup itself. Values are exact BIGINTs (counts and cents).
    QueryDef(
      "agg_unpivot_metrics",
      (s, d) =>
        T.events(s, d)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            countDistinct("user_id").as("n_users"),
            sum(expr("CAST(round(value * 100.0D, 0) AS BIGINT)")).as("value_cents"))
          .selectExpr("event_type",
            "stack(3, 'n_events', n_events, 'n_users', n_users, 'value_cents', value_cents) AS (metric, metric_value)")
          .orderBy("event_type", "metric"),
      Some("""WITH agg AS (SELECT event_type, count(*) AS n_events,
             |    count(DISTINCT user_id) AS n_users,
             |    CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS value_cents
             |  FROM events GROUP BY 1)
             |SELECT event_type, 'n_events' AS metric, n_events AS metric_value FROM agg
             |UNION ALL SELECT event_type, 'n_users', n_users FROM agg
             |UNION ALL SELECT event_type, 'value_cents', value_cents FROM agg
             |ORDER BY event_type, metric""".stripMargin)
    ),

    // Raw-media ingestion through Spark's binaryFile source — the
    // Spark-native way to land image/audio payloads at scale (each
    // executor reads its own file split; no driver involvement). Stage a
    // deterministic 1-in-7 subset of the media table as loose .bin files
    // (executor-side foreachPartition write), read the directory back with
    // format("binaryFile"), recover the media id from the file name, and
    // roll up per mime type using the SOURCE's own length column — so the
    // hash match proves path/metadata/content fidelity end-to-end. The
    // oracle recomputes expected sizes from the documents table (the
    // payload construction is the same deterministic wrap
    // multimodal_metadata pins).
    QueryDef(
      "multimodal_binary_ingest",
      (s, d) => {
        val dirOut = graft.streaming.Scratch.dir("graft_media")
        val outPath = dirOut.toString
        graft.operators.Multimodal.mediaTable(s, d)
          .where(expr("media_id % 7 = 0"))
          .select("media_id", "payload")
          .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
            it.foreach { r =>
              val id = r.getLong(0)
              java.nio.file.Files.write(
                java.nio.file.Paths.get(outPath, s"media_$id.bin"),
                r.getAs[Array[Byte]](1))
            }
          }
        s.read.format("binaryFile").load(outPath)
          .select(
            expr("CAST(regexp_extract(path, 'media_([0-9]+)\\\\.bin$', 1) AS BIGINT)").as("media_id"),
            col("length"))
          .withColumn("mime_type",
            when(pmod(col("media_id"), lit(3)) === 0, "image/png")
              .when(pmod(col("media_id"), lit(3)) === 1, "audio/wav")
              .otherwise("video/mp4"))
          .groupBy("mime_type")
          .agg(count(lit(1)).as("n_files"),
            sum("length").as("total_bytes"),
            max("length").as("max_bytes"))
          .orderBy("mime_type")
      },
      Some("""SELECT CASE mod(doc_id, 3) WHEN 0 THEN 'image/png'
             |  WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime_type,
             |count(*) AS n_files,
             |CAST(sum(octet_length(encode(text))
             |  + CASE mod(doc_id, 3) WHEN 0 THEN 33 ELSE 0 END) AS BIGINT) AS total_bytes,
             |CAST(max(octet_length(encode(text))
             |  + CASE mod(doc_id, 3) WHEN 0 THEN 33 ELSE 0 END) AS BIGINT) AS max_bytes
             |FROM documents WHERE doc_id % 7 = 0 GROUP BY 1 ORDER BY mime_type""".stripMargin)
    ),

    // Zipf-law fit over the top-1000 token frequencies: least-squares
    // slope/intercept/R² of ln(freq) against ln(rank) — the corpus-health
    // number that flags synthetic or template-heavy corpora (natural text
    // slopes ≈ −1). Cross-engine determinism: each ln is rounded to 9 dp;
    // every regression sum (Σx, Σy, Σxy, Σx², Σy²) is a DECIMAL sum of
    // 9-dp-rounded per-term products (order-independent); the closed-form
    // solution is then a parenthesis-pinned chain of IEEE ops. Scale: the
    // rank window runs over the vocab-bounded frequency table (same
    // rationale as text_vocab_topk), everything else is O(1000).
    QueryDef(
      "text_zipf_fit",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val freq = T(s, d, "documents")
          .select(explode(expr("filter(split(text, ' +'), x -> x != '')")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("f"))
        val w = Window.orderBy(col("f").desc, col("tok"))
        freq.withColumn("rnk", row_number().over(w).cast("long"))
          .where(col("rnk") <= 1000)
          .withColumn("x", expr("round(ln(CAST(rnk AS DOUBLE)), 9)"))
          .withColumn("y", expr("round(ln(CAST(f AS DOUBLE)), 9)"))
          .agg(count(lit(1)).cast("long").as("n_ranks"),
            sum(expr("CAST(x AS DECIMAL(18,9))")).as("sx"),
            sum(expr("CAST(y AS DECIMAL(18,9))")).as("sy"),
            sum(expr("CAST(round(x * y, 9) AS DECIMAL(18,9))")).as("sxy"),
            sum(expr("CAST(round(x * x, 9) AS DECIMAL(18,9))")).as("sxx"),
            sum(expr("CAST(round(y * y, 9) AS DECIMAL(18,9))")).as("syy"))
          .select(col("n_ranks"),
            expr("""round(((CAST(n_ranks AS DOUBLE) * CAST(sxy AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
                   ((CAST(n_ranks AS DOUBLE) * CAST(sxx AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))), 6)""")
              .as("slope"),
            expr("""round((CAST(sy AS DOUBLE) - (((CAST(n_ranks AS DOUBLE) * CAST(sxy AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
                   ((CAST(n_ranks AS DOUBLE) * CAST(sxx AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))) * CAST(sx AS DOUBLE)) /
                   CAST(n_ranks AS DOUBLE), 6)""").as("intercept"),
            expr("""round((((CAST(n_ranks AS DOUBLE) * CAST(sxy AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) *
                   ((CAST(n_ranks AS DOUBLE) * CAST(sxy AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))) /
                   (((CAST(n_ranks AS DOUBLE) * CAST(sxx AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) *
                   ((CAST(n_ranks AS DOUBLE) * CAST(syy AS DOUBLE)) - (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))), 6)""")
              .as("r2"))
      },
      Some("""WITH freq AS (SELECT tok, count(*) AS f FROM (
             |    SELECT unnest(list_filter(string_split_regex(text, ' +'), x -> x <> '')) AS tok
             |    FROM documents) GROUP BY 1),
             |rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS rnk FROM freq),
             |xy AS (SELECT round(ln(CAST(rnk AS DOUBLE)), 9) AS x,
             |    round(ln(CAST(f AS DOUBLE)), 9) AS y FROM rk WHERE rnk <= 1000),
             |s AS (SELECT count(*) AS n,
             |    sum(CAST(x AS DECIMAL(18,9))) AS sx, sum(CAST(y AS DECIMAL(18,9))) AS sy,
             |    sum(CAST(round(x * y, 9) AS DECIMAL(18,9))) AS sxy,
             |    sum(CAST(round(x * x, 9) AS DECIMAL(18,9))) AS sxx,
             |    sum(CAST(round(y * y, 9) AS DECIMAL(18,9))) AS syy
             |  FROM xy)
             |SELECT CAST(n AS BIGINT) AS n_ranks,
             |  round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
             |    ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))), 6) AS slope,
             |  round((CAST(sy AS DOUBLE) - (((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
             |    ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))) * CAST(sx AS DOUBLE)) /
             |    CAST(n AS DOUBLE), 6) AS intercept,
             |  round((((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) *
             |    ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))) /
             |    (((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) *
             |    ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)) - (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))), 6) AS r2
             |FROM s""".stripMargin)
    ),

    // Watermark-lateness audit: how out-of-order the event stream actually
    // is, measured per user against the running max timestamp in arrival
    // order (event_id) — the histogram an operator reads to pick a
    // watermark delay before deploying the streaming twins. One window
    // shuffle on user_id; the bucket rollup is O(5). All-integer µs.
    QueryDef(
      "events_lateness_audit",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        T.events(s, d)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
          .withColumn("late_us",
            greatest(coalesce(max("us").over(w) - col("us"), lit(0L)), lit(0L)))
          .withColumn("bucket",
            when(col("late_us") === 0L, "a_ontime")
              .when(col("late_us") < 60000000L, "b_lt_1m")
              .when(col("late_us") < 600000000L, "c_lt_10m")
              .when(col("late_us") < 3600000000L, "d_lt_1h")
              .otherwise("e_ge_1h"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), max("late_us").as("max_late_us"))
          .orderBy("bucket")
      },
      Some("""WITH l AS (SELECT user_id, event_id, epoch_us(ts) AS us,
             |    greatest(coalesce(max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - epoch_us(ts), 0), 0) AS late_us
             |  FROM events),
             |b AS (SELECT CASE WHEN late_us = 0 THEN 'a_ontime'
             |    WHEN late_us < 60000000 THEN 'b_lt_1m'
             |    WHEN late_us < 600000000 THEN 'c_lt_10m'
             |    WHEN late_us < 3600000000 THEN 'd_lt_1h'
             |    ELSE 'e_ge_1h' END AS bucket, late_us FROM l)
             |SELECT bucket, count(*) AS n, CAST(max(late_us) AS BIGINT) AS max_late_us
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // DAU / trailing-28-day MAU stickiness per day — the growth metric
    // every product dashboard leads with. The distinct (user, day) table
    // is the only shuffle; MAU per day comes from a BOUNDED fan-out join
    // (each user-day feeds at most 28 spine days — 28× the distinct
    // table, not the event log), and stickiness is integer basis points.
    QueryDef(
      "events_dau_mau_stickiness",
      (s, d) => {
        val ud = T.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
        val spine = ud.select("day").distinct()
        val mau = broadcast(spine.as("sp")).join(ud.as("a"),
            datediff(col("sp.day"), col("a.day")).between(0, 27))
          .groupBy(col("sp.day").as("day"))
          .agg(countDistinct(col("a.user_id")).as("mau"))
        dau.join(mau, "day")
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("dau"), col("mau"),
            expr("(dau * 10000) div mau").as("stickiness_bp"))
          .orderBy("day")
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
             |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
             |spine AS (SELECT DISTINCT day FROM ud),
             |mau AS (SELECT sp.day, count(DISTINCT a.user_id) AS mau
             |  FROM spine sp JOIN ud a ON datediff('day', a.day, sp.day) BETWEEN 0 AND 27
             |  GROUP BY 1)
             |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, mau.mau,
             |  (dau.dau * 10000) // mau.mau AS stickiness_bp
             |FROM dau JOIN mau ON dau.day = mau.day ORDER BY day""".stripMargin)
    ),

    // Benford first-digit audit over order totals — the forensic DQ check
    // for fabricated or truncated monetary data. Expected shares are the
    // canonical log10(1+1/d) values pinned as INTEGER basis-point
    // literals (identical in both engines by construction); observed
    // shares and deviations are integer bp. Pure map + one rollup.
    QueryDef(
      "stats_benford_first_digit",
      (s, d) => {
        val exp = "CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1761 WHEN 3 THEN 1249 " +
          "WHEN 4 THEN 969 WHEN 5 THEN 792 WHEN 6 THEN 669 WHEN 7 THEN 580 " +
          "WHEN 8 THEN 512 ELSE 458 END"
        T(s, d, "orders")
          .select(expr(
            "CAST(substring(CAST(CAST(round(o_totalprice * 100.0D, 0) AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
            .as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(T(s, d, "orders").agg(count(lit(1)).as("total"))))
          .withColumn("obs_bp", expr("(n * 10000) div total"))
          .withColumn("exp_bp", expr(exp).cast("long"))
          .withColumn("dev_bp", expr("abs(obs_bp - exp_bp)"))
          .select("digit", "n", "obs_bp", "exp_bp", "dev_bp")
          .orderBy("digit")
      },
      Some("""WITH dg AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
             |  FROM orders),
             |c AS (SELECT digit, count(*) AS n FROM dg GROUP BY 1),
             |t AS (SELECT count(*) AS total FROM orders)
             |SELECT digit, n, (n * 10000) // total AS obs_bp,
             |  CAST(CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1761 WHEN 3 THEN 1249
             |    WHEN 4 THEN 969 WHEN 5 THEN 792 WHEN 6 THEN 669 WHEN 7 THEN 580
             |    WHEN 8 THEN 512 ELSE 458 END AS BIGINT) AS exp_bp,
             |  abs((n * 10000) // total - CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1761
             |    WHEN 3 THEN 1249 WHEN 4 THEN 969 WHEN 5 THEN 792 WHEN 6 THEN 669
             |    WHEN 7 THEN 580 WHEN 8 THEN 512 ELSE 458 END) AS dev_bp
             |FROM c, t ORDER BY digit""".stripMargin)
    ),

    // Distribution window functions — percent_rank, cume_dist, ntile and
    // first/last frame values in one pass over the (flag)-partitioned
    // order; the remaining ANSI window surface not yet exercised
    // first-class. Ranks are exact rationals: percent_rank multiplied out
    // to integer bp via (rank-1)*10000 div (n-1) so no float compare;
    // cume_dist likewise. One shuffle on the partition key.
    QueryDef(
      "w4_distribution_windows",
      (s, d) => {
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        val wp = Window.partitionBy("l_returnflag")
        T(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            expr("CAST(round(l_extendedprice * 100.0D, 0) AS BIGINT)").as("cents"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("l_returnflag")
              .orderBy(col("cents"), col("l_orderkey"), col("l_linenumber"))))
          .withColumn("n", count(lit(1)).over(wp))
          .withColumn("pct_rank_bp", expr("((rnk - 1) * 10000) div (n - 1)"))
          .withColumn("cume_bp", expr("(rnk * 10000) div n"))
          .withColumn("min_cents", min("cents").over(wp))
          .withColumn("max_cents", max("cents").over(wp))
          .where(col("rnk") % 1000 === 0)
          .select(col("l_returnflag"), col("rnk").cast("long").as("rnk"),
            col("cents"), col("pct_rank_bp"), col("cume_bp"),
            col("min_cents"), col("max_cents"))
          .orderBy("l_returnflag", "rnk")
      },
      Some("""WITH b AS (SELECT l_returnflag, l_orderkey, l_linenumber,
             |    CAST(round(l_extendedprice * 100.0, 0) AS BIGINT) AS cents
             |  FROM lineitem),
             |r AS (SELECT *,
             |    row_number() OVER (PARTITION BY l_returnflag
             |      ORDER BY cents, l_orderkey, l_linenumber) AS rnk,
             |    count(*) OVER (PARTITION BY l_returnflag) AS n,
             |    min(cents) OVER (PARTITION BY l_returnflag) AS min_cents,
             |    max(cents) OVER (PARTITION BY l_returnflag) AS max_cents
             |  FROM b)
             |SELECT l_returnflag, CAST(rnk AS BIGINT) AS rnk, cents,
             |  ((rnk - 1) * 10000) // (n - 1) AS pct_rank_bp,
             |  (rnk * 10000) // n AS cume_bp, min_cents, max_cents
             |FROM r WHERE rnk % 1000 = 0 ORDER BY l_returnflag, rnk""".stripMargin)
    ),

    // Correlated-subquery surface via spark.sql: EXISTS, NOT EXISTS and a
    // scalar subquery in one statement — proving the text-SQL planning
    // path (RewritePredicateSubquery turns these into the same semi/anti
    // joins the DataFrame queries use; the scalar subquery becomes a
    // broadcast one-row join). Customers with an urgent order but no
    // filled lineitem, against the global average order total.
    QueryDef(
      "j12_subquery_surface",
      (s, d) => {
        Seq("orders", "lineitem").foreach(t =>
          T(s, d, t).createOrReplaceTempView(s"sq_$t"))
        s.sql(
          """SELECT o.o_orderpriority,
            |  CAST(count(*) AS BIGINT) AS n_orders,
            |  CAST(sum(CASE WHEN o.o_totalprice >
            |    (SELECT avg(o2.o_totalprice) FROM sq_orders o2) THEN 1 ELSE 0 END) AS BIGINT)
            |    AS n_above_avg
            |FROM sq_orders o
            |WHERE EXISTS (SELECT 1 FROM sq_lineitem l
            |    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
            |  AND NOT EXISTS (SELECT 1 FROM sq_lineitem l2
            |    WHERE l2.l_orderkey = o.o_orderkey AND l2.l_quantity > 49)
            |GROUP BY o.o_orderpriority
            |ORDER BY o.o_orderpriority""".stripMargin)
      },
      Some("""SELECT o.o_orderpriority, count(*) AS n_orders,
             |  CAST(sum(CASE WHEN o.o_totalprice >
             |    (SELECT avg(o2.o_totalprice) FROM orders o2) THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_above_avg
             |FROM orders o
             |WHERE EXISTS (SELECT 1 FROM lineitem l
             |    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l2
             |    WHERE l2.l_orderkey = o.o_orderkey AND l2.l_quantity > 49)
             |GROUP BY o.o_orderpriority
             |ORDER BY o.o_orderpriority""".stripMargin)
    ),

    // Time-bounded funnel: signup → first view within 24h → first purchase
    // within 24h of that view, per-user stage times chained by CONDITIONAL
    // minima (each stage's window anchored at the previous stage's
    // timestamp — the real-world funnel form; events_funnel is the
    // unbounded-order variant). Three user-keyed aggregates, no
    // self-joins: stage 2 and 3 are conditional mins over the SAME
    // per-user rollup join, so the whole query is two shuffles.
    QueryDef(
      "events_funnel_windowed",
      (s, d) => {
        val dayUs = 86400000000L
        val ev = T.events(s, d)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
        val s1 = ev.where(col("event_type") === "signup")
          .groupBy("user_id").agg(min("us").as("t1"))
        val s2 = ev.where(col("event_type") === "view")
          .join(s1, "user_id")
          .where(col("us") > col("t1") && col("us") <= col("t1") + dayUs)
          .groupBy("user_id").agg(min("us").as("t2"))
        val s3 = ev.where(col("event_type") === "purchase")
          .join(s2, "user_id")
          .where(col("us") > col("t2") && col("us") <= col("t2") + dayUs)
          .groupBy("user_id").agg(min("us").as("t3"))
        s1.join(s2, Seq("user_id"), "left")
          .join(s3, Seq("user_id"), "left")
          .agg(count(lit(1)).as("n_signup"),
            count(col("t2")).as("n_view_24h"),
            count(col("t3")).as("n_purchase_24h"))
      },
      Some("""WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
             |  WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2 FROM events e
             |  JOIN s1 ON e.user_id = s1.user_id
             |  WHERE e.event_type = 'view' AND epoch_us(e.ts) > s1.t1
             |    AND epoch_us(e.ts) <= s1.t1 + 86400000000 GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3 FROM events e
             |  JOIN s2 ON e.user_id = s2.user_id
             |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
             |    AND epoch_us(e.ts) <= s2.t2 + 86400000000 GROUP BY 1)
             |SELECT count(*) AS n_signup,
             |  count(t2) AS n_view_24h, count(t3) AS n_purchase_24h
             |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
             |LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin)
    ),

    // Lag-1 autocorrelation of the hourly event series per type — the
    // time-series self-similarity number that separates bursty feeds from
    // steady ones (and validates anomaly-detector assumptions). The lag
    // pairs come from one window over the HOURLY AGGREGATE (720 rows),
    // never raw events; Pearson moments are exact integer DECIMAL sums and
    // the closed form is the stats_corr shape rounded to 9 dp.
    QueryDef(
      "stats_autocorrelation",
      (s, d) => {
        val hourly = T.events(s, d)
          .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000L").as("eh"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("event_type").orderBy("eh")
        hourly
          .withColumn("prev", lag("n", 1).over(w))
          .where(col("prev").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("np"),
            sum(col("n").cast("decimal(38,0)")).as("sx"),
            sum(col("prev").cast("decimal(38,0)")).as("sy"),
            sum((col("n") * col("prev")).cast("decimal(38,0)")).as("sxy"),
            sum((col("n") * col("n")).cast("decimal(38,0)")).as("sxx"),
            sum((col("prev") * col("prev")).cast("decimal(38,0)")).as("syy"))
          .select(col("event_type"), col("np").cast("long").as("n_pairs"),
            round((col("np") * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")) /
              (sqrt(col("np") * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")) *
               sqrt(col("np") * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double"))), 9)
              .as("acf1"))
          .orderBy("event_type")
      },
      Some("""WITH hourly AS (SELECT event_type, epoch_us(ts) // 3600000000 AS eh,
             |    count(*) AS n FROM events GROUP BY 1, 2),
             |lagd AS (SELECT event_type, n,
             |    lag(n) OVER (PARTITION BY event_type ORDER BY eh) AS prev FROM hourly),
             |m AS (SELECT event_type, count(*) AS np,
             |    sum(CAST(n AS DECIMAL(38,0))) AS sx, sum(CAST(prev AS DECIMAL(38,0))) AS sy,
             |    sum(CAST(n * prev AS DECIMAL(38,0))) AS sxy,
             |    sum(CAST(n * n AS DECIMAL(38,0))) AS sxx,
             |    sum(CAST(prev * prev AS DECIMAL(38,0))) AS syy
             |  FROM lagd WHERE prev IS NOT NULL GROUP BY 1)
             |SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
             |  round((np * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |  (sqrt(np * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
             |   sqrt(np * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9) AS acf1
             |FROM m ORDER BY event_type""".stripMargin)
    ),

    // 3-sigma outlier census per event type: mean/std from exact
    // integer-cent DECIMAL moments, the gate |x−μ| > 3σ evaluated in
    // doubles both engines compute identically (single divisions, one
    // sqrt — all correctly-rounded IEEE ops on identical operands). The
    // feature-cleaning pass before training on the value column. Two
    // aggregates: moments, then a broadcast-join gate + rollup.
    QueryDef(
      "events_value_outliers",
      (s, d) => {
        val ev = T.events(s, d).select(col("event_type"),
          expr("CAST(round(value * 100.0D, 0) AS BIGINT)").as("cents"))
        val m = ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("cents").cast("decimal(38,0)")).as("sx"),
            sum((col("cents") * col("cents")).cast("decimal(38,0)")).as("sxx"))
          .select(col("event_type"), col("n"),
            (col("sx").cast("double") / col("n")).as("mean"),
            sqrt((col("sxx").cast("double") - (col("sx").cast("double") * col("sx").cast("double")) / col("n")) / col("n"))
              .as("std"))
        ev.join(broadcast(m), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when(abs(col("cents") - col("mean")) > lit(3.0) * col("std"), 1L)
              .otherwise(0L)).as("n_outliers"),
            max(when(abs(col("cents") - col("mean")) > lit(3.0) * col("std"),
              col("cents"))).as("max_outlier_cents"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type,
             |    CAST(round(value * 100.0, 0) AS BIGINT) AS cents FROM events),
             |m AS (SELECT event_type, count(*) AS n,
             |    CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) / count(*) AS mean,
             |    sqrt((CAST(sum(CAST(cents * cents AS DECIMAL(38,0))) AS DOUBLE) -
             |      (CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) *
             |       CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)) / count(*)) / count(*)) AS std
             |  FROM ev GROUP BY 1)
             |SELECT ev.event_type, count(*) AS n_events,
             |  CAST(sum(CASE WHEN abs(ev.cents - m.mean) > 3.0 * m.std THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_outliers,
             |  max(CASE WHEN abs(ev.cents - m.mean) > 3.0 * m.std THEN ev.cents END)
             |    AS max_outlier_cents
             |FROM ev JOIN m ON ev.event_type = m.event_type
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // Hour-of-day seasonality profile: each type's peak activity hour
    // (deterministic tie-break on the earlier hour) plus how concentrated
    // the profile is (peak share in integer bp) — the shape a capacity
    // planner or a time-based sampler reads. Rollup is |types|·24 rows.
    QueryDef(
      "events_seasonality_peak",
      (s, d) => {
        val prof = T.events(s, d)
          .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hod"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("event_type")
          .orderBy(col("n").desc, col("hod"))
        prof
          .withColumn("rnk", row_number().over(w))
          .withColumn("total", sum("n").over(Window.partitionBy("event_type")))
          .where(col("rnk") === 1)
          .select(col("event_type"), col("hod").as("peak_hour"),
            col("n").as("peak_n"), col("total"),
            expr("(n * 10000) div total").as("peak_share_bp"))
          .orderBy("event_type")
      },
      Some("""WITH prof AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             |    count(*) AS n FROM events GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
             |      ORDER BY n DESC, hod) AS rnk,
             |    sum(n) OVER (PARTITION BY event_type) AS total FROM prof)
             |SELECT event_type, hod AS peak_hour, n AS peak_n,
             |  CAST(total AS BIGINT) AS total,
             |  (n * 10000) // CAST(total AS BIGINT) AS peak_share_bp
             |FROM r WHERE rnk = 1 ORDER BY event_type""".stripMargin)
    ),

    // Embedding drift report: per label, the L2 distance between the
    // centroids of the even- and odd-id halves of the corpus — the
    // monitoring number a feature-store owner tracks between snapshots
    // (a large shift means the upstream encoder or data mix moved).
    // Cross-engine exactness: coordinates quantize to 1e-6 int64s
    // (the pca_covariance trick), per-dim mean differences are squared
    // in doubles, rounded to 6 dp and DECIMAL-summed (order-independent),
    // and one sqrt closes it. Scale: one shuffle to (label, half, dim)
    // sums; everything after is |labels|·d rows.
    QueryDef(
      "embedding_drift_report",
      (s, d) => {
        val e = T(s, d, "embeddings").select(col("vec_id"), col("label"),
          expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(round(x * 1000000.0D, 0) AS BIGINT))")
            .as("x6"))
          .withColumn("half", pmod(col("vec_id"), lit(2)).cast("long"))
        val dims = e.select(col("label"), col("half"),
            posexplode(col("x6")).as(Seq("d0", "x")))
          .groupBy("label", "half", "d0")
          .agg(sum("x").as("s"), count(lit(1)).as("n"))
        val a = dims.where(col("half") === 0)
          .select(col("label"), col("d0"), col("s").as("s0"), col("n").as("n0"))
        val b = dims.where(col("half") === 1)
          .select(col("label"), col("d0"), col("s").as("s1"), col("n").as("n1"))
        a.join(b, Seq("label", "d0"))
          .withColumn("term", expr(
            """CAST(round((CAST(s0 AS DOUBLE) / n0 - CAST(s1 AS DOUBLE) / n1) *
              |(CAST(s0 AS DOUBLE) / n0 - CAST(s1 AS DOUBLE) / n1), 6) AS DECIMAL(38,6))"""
              .stripMargin.replace("\n", " ")))
          .groupBy("label")
          .agg(first("n0").cast("long").as("n_even"),
            first("n1").cast("long").as("n_odd"),
            round(sqrt(sum("term").cast("double")) / lit(1000000.0), 9)
              .as("centroid_shift"))
          .orderBy("label")
      },
      Some("""WITH e AS (SELECT vec_id, label, vec_id % 2 AS half,
             |    list_transform(CAST(embedding AS DOUBLE[]),
             |      x -> CAST(round(x * 1000000.0, 0) AS BIGINT)) AS x6 FROM embeddings),
             |dims AS (SELECT label, half, i - 1 AS d0, CAST(sum(x6[i]) AS BIGINT) AS s,
             |    count(*) AS n
             |  FROM e, (SELECT unnest(range(1, 65)) AS i) t GROUP BY 1, 2, 3),
             |a AS (SELECT label, d0, s AS s0, n AS n0 FROM dims WHERE half = 0),
             |b AS (SELECT label, d0, s AS s1, n AS n1 FROM dims WHERE half = 1),
             |j AS (SELECT a.label, a.d0, s0, n0, s1, n1,
             |    CAST(round((CAST(s0 AS DOUBLE) / n0 - CAST(s1 AS DOUBLE) / n1) *
             |      (CAST(s0 AS DOUBLE) / n0 - CAST(s1 AS DOUBLE) / n1), 6) AS DECIMAL(38,6)) AS term
             |  FROM a JOIN b ON a.label = b.label AND a.d0 = b.d0)
             |SELECT label, CAST(any_value(n0) AS BIGINT) AS n_even,
             |  CAST(any_value(n1) AS BIGINT) AS n_odd,
             |  round(sqrt(CAST(sum(term) AS DOUBLE)) / 1000000.0, 9) AS centroid_shift
             |FROM j GROUP BY label ORDER BY label""".stripMargin)
    ),

    // Gini coefficient of per-user activity: how concentrated the event
    // volume is across users — the inequality number behind "1% of users
    // produce 60% of traffic" and the input to skew-aware capacity
    // planning. All-integer: G·10000 = (2·Σ(i·xᵢ) − (n+1)·Σx)·10000 div
    // (n·Σx) over the ascending-sorted per-user counts (PK tiebreak). The
    // rank window runs over the per-user ROLLUP (the reduced-frame
    // rationale of customer_rfm_segments).
    QueryDef(
      "stats_gini_activity",
      (s, d) => {
        // |users| grows with the data, so the ascending rank goes through
        // the salted two-phase row number: exact leading salt (the count
        // itself — ties are heavy at typical activity levels) sub-salted
        // by a user_id range bucket, per the ScalableWindow contract
        val per = T.events(s, d).groupBy("user_id").agg(count(lit(1)).as("x"))
        val mx = per.agg(max("user_id").as("maxu"))
        val ranked = graft.operators.ScalableWindow.withGlobalRowNumber(
          per.crossJoin(broadcast(mx)), "i")(
          Seq(col("x"), expr("user_id div (maxu div 1024L + 1L)")),
          col("x"), col("user_id"))
        ranked
          .agg(count(lit(1)).as("n_users"),
            sum("x").as("total_events"),
            sum(col("i") * col("x")).as("s_ix"))
          .select(col("n_users").cast("long").as("n_users"),
            col("total_events").cast("long").as("total_events"),
            expr("((2 * s_ix - (n_users + 1) * total_events) * 10000) div (n_users * total_events)")
              .as("gini_bp"))
      },
      Some("""WITH per AS (SELECT user_id, count(*) AS x FROM events GROUP BY 1),
             |r AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM per),
             |m AS (SELECT count(*) AS n_users, CAST(sum(x) AS BIGINT) AS total_events,
             |    CAST(sum(i * x) AS BIGINT) AS s_ix FROM r)
             |SELECT n_users, total_events,
             |  ((2 * s_ix - (n_users + 1) * total_events) * 10000) // (n_users * total_events)
             |    AS gini_bp
             |FROM m""".stripMargin)
    ),

    // Week-over-week volume change per event type in integer basis points
    // — the KPI delta every ops review reads. One rollup shuffle; the lag
    // window runs over the |types|·|weeks| aggregate.
    QueryDef(
      "events_wow_change",
      (s, d) => {
        val weekly = T.events(s, d)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 604800000000L").as("wk"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("event_type").orderBy("wk")
        weekly
          .withColumn("prev", lag("n", 1).over(w))
          .where(col("prev").isNotNull)
          .select(col("event_type"), col("wk"), col("n"), col("prev"),
            expr("((n - prev) * 10000) div prev").as("wow_bp"))
          .orderBy("event_type", "wk")
      },
      Some("""WITH weekly AS (SELECT event_type, epoch_us(ts) // 604800000000 AS wk,
             |    count(*) AS n FROM events GROUP BY 1, 2),
             |l AS (SELECT event_type, wk, n,
             |    lag(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev FROM weekly)
             |SELECT event_type, wk, n, prev, ((n - prev) * 10000) // prev AS wow_bp
             |FROM l WHERE prev IS NOT NULL ORDER BY event_type, wk""".stripMargin)
    ),

    // A/B-test readout: users split by id parity (the deterministic stand-
    // in for assignment), conversion = a purchase within 24h of the user's
    // first activity (an activation metric with real variance); reports per-variant
    // conversion in integer bp, the lift, and the two-proportion z-score
    // (pooled), computed as a parenthesis-pinned chain of IEEE ops on
    // exact integer counts — the experimentation primitive every growth
    // pipeline ships. Two shuffles: per-user conversion rollup, variant
    // rollup.
    QueryDef(
      "events_abtest_lift",
      (s, d) => {
        val ev = T.events(s, d)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
        val first = ev.groupBy("user_id").agg(min("us").as("t0"))
        val conv = ev.join(first, "user_id")
          .groupBy("user_id")
          .agg(max(when(col("event_type") === "purchase" &&
            col("us") <= col("t0") + 86400000000L, 1L).otherwise(0L)).as("converted"))
          .withColumn("variant", pmod(col("user_id"), lit(2)).cast("long"))
        val v = conv.groupBy("variant")
          .agg(count(lit(1)).as("n"), sum("converted").as("c"))
        val a = v.where(col("variant") === 0).select(col("n").as("n0"), col("c").as("c0"))
        val b = v.where(col("variant") === 1).select(col("n").as("n1"), col("c").as("c1"))
        a.crossJoin(broadcast(b))
          .select(col("n0"), col("c0"), col("n1"), col("c1"),
            expr("(c0 * 10000) div n0").as("conv0_bp"),
            expr("(c1 * 10000) div n1").as("conv1_bp"),
            expr("((c1 * n0 - c0 * n1) * 10000) div (c0 * n1)").as("lift_bp"),
            expr("""round((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)) /
                   |sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) *
                   |(1.0D - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) *
                   |(1.0D / CAST(n0 AS DOUBLE) + 1.0D / CAST(n1 AS DOUBLE))), 9)"""
              .stripMargin.replace("\n", " ").replace("|", "")).as("z_score"))
      },
      Some("""WITH f AS (SELECT user_id, min(epoch_us(ts)) AS t0 FROM events GROUP BY 1),
             |conv AS (SELECT f.user_id,
             |    max(CASE WHEN e.event_type = 'purchase'
             |      AND epoch_us(e.ts) <= f.t0 + 86400000000 THEN 1 ELSE 0 END) AS converted
             |  FROM f JOIN events e ON f.user_id = e.user_id GROUP BY 1),
             |v AS (SELECT user_id % 2 AS variant, count(*) AS n,
             |    CAST(sum(converted) AS BIGINT) AS c FROM conv GROUP BY 1),
             |a AS (SELECT n AS n0, c AS c0 FROM v WHERE variant = 0),
             |b AS (SELECT n AS n1, c AS c1 FROM v WHERE variant = 1)
             |SELECT n0, c0, n1, c1,
             |  (c0 * 10000) // n0 AS conv0_bp, (c1 * 10000) // n1 AS conv1_bp,
             |  ((c1 * n0 - c0 * n1) * 10000) // (c0 * n1) AS lift_bp,
             |  round((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)) /
             |  sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) *
             |  (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) *
             |  (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))), 9) AS z_score
             |FROM a, b""".stripMargin)
    ),

    // Jensen–Shannon divergence of each source's token distribution from
    // the corpus — the bounded, symmetric mixture-quality number beside
    // entropy (how far each source sits from the blend it feeds). Each
    // side's Σ p·ln(p/m) uses the house round(ln, 9) DECIMAL-weighted
    // pattern; probabilities are exact count ratios. Scale: (source, tok)
    // and (tok) counts — two shuffles — then a token-keyed join; the
    // per-source totals broadcast.
    QueryDef(
      "text_js_divergence",
      (s, d) => {
        val toks = T(s, d, "documents")
          .select(col("source"), explode(expr(
            "filter(split(text, ' +'), x -> x != '')")).as("tok"))
        val st = toks.groupBy("source", "tok").agg(count(lit(1)).as("cs"))
        val gt = st.groupBy("tok").agg(sum("cs").as("cg"))
        val sn = st.groupBy("source").agg(sum("cs").as("ns"))
        val n = toks.agg(count(lit(1)).as("ng"))
        // p = cs/ns (source), q = cg/ng (corpus), m = (p+q)/2.
        // KL(p‖m) term: cs-weighted ln(p/m); KL(q‖m) term restricted to
        // the source's support plus the corpus remainder handled exactly:
        // tokens absent from the source contribute q·ln(q/(q/2)) = q·ln 2.
        val joined = st
          .join(gt, "tok")
          .join(broadcast(sn), "source")
          .crossJoin(broadcast(n))
          .withColumn("p", expr("CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE)"))
          .withColumn("q", expr("CAST(cg AS DOUBLE) / CAST(ng AS DOUBLE)"))
          .withColumn("m", expr("(p + q) / 2.0D"))
          .withColumn("tp", expr(
            "CAST(round(ln(p / m), 9) AS DECIMAL(18,9)) * cs"))
          .withColumn("tq_sup", expr(
            "CAST(round(ln(q / m), 9) AS DECIMAL(18,9)) * cg"))
          .groupBy("source")
          .agg(first("ns").as("ns"), first("ng").as("ng"),
            sum("tp").as("sum_tp"),
            sum("tq_sup").as("sum_tq_sup"),
            sum("cg").as("cg_sup"))
        joined
          .select(col("source"), col("ns").cast("long").as("n_toks"),
            expr("""round((CAST(sum_tp AS DOUBLE) / CAST(ns AS DOUBLE) +
                   |(CAST(sum_tq_sup AS DOUBLE) + CAST(ng - cg_sup AS DOUBLE) *
                   |CAST(round(ln(2.0D), 9) AS DOUBLE)) / CAST(ng AS DOUBLE)) / 2.0D, 6)"""
              .stripMargin.replace("\n", " ").replace("|", "")).as("jsd_nats"))
          .orderBy("source")
      },
      Some("""WITH toks AS (SELECT source, unnest(list_filter(string_split_regex(text, ' +'),
             |    x -> x <> '')) AS tok FROM documents),
             |st AS (SELECT source, tok, count(*) AS cs FROM toks GROUP BY 1, 2),
             |gt AS (SELECT tok, CAST(sum(cs) AS BIGINT) AS cg FROM st GROUP BY 1),
             |sn AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM st GROUP BY 1),
             |n AS (SELECT count(*) AS ng FROM toks),
             |j AS (SELECT st.source, st.cs, gt.cg, sn.ns, n.ng,
             |    CAST(st.cs AS DOUBLE) / CAST(sn.ns AS DOUBLE) AS p,
             |    CAST(gt.cg AS DOUBLE) / CAST(n.ng AS DOUBLE) AS q
             |  FROM st JOIN gt ON st.tok = gt.tok JOIN sn ON st.source = sn.source CROSS JOIN n),
             |t AS (SELECT source, cs, cg, ns, ng,
             |    CAST(round(ln(p / ((p + q) / 2.0)), 9) AS DECIMAL(18,9)) * cs AS tp,
             |    CAST(round(ln(q / ((p + q) / 2.0)), 9) AS DECIMAL(18,9)) * cg AS tq_sup
             |  FROM j),
             |g AS (SELECT source, any_value(ns) AS ns, any_value(ng) AS ng,
             |    sum(tp) AS sum_tp, sum(tq_sup) AS sum_tq_sup,
             |    CAST(sum(cg) AS BIGINT) AS cg_sup
             |  FROM t GROUP BY 1)
             |SELECT source, CAST(ns AS BIGINT) AS n_toks,
             |  round((CAST(sum_tp AS DOUBLE) / CAST(ns AS DOUBLE) +
             |  (CAST(sum_tq_sup AS DOUBLE) + CAST(ng - cg_sup AS DOUBLE) *
             |  CAST(round(ln(2.0), 9) AS DOUBLE)) / CAST(ng AS DOUBLE)) / 2.0, 6) AS jsd_nats
             |FROM g ORDER BY source""".stripMargin)
    ),

    // CUSUM changepoint detection over the hourly series per type: the
    // cumulative sum of deviations from the first-week baseline rate,
    // ALL-INTEGER (deviation scaled by 168 so the baseline mean never
    // becomes a float): S_t = Σ(168·n_h − B) over hours ≤ t, where B is
    // the first week's total. The hour with max |S_t| (earliest tie) is
    // the reported changepoint — the standard drift monitor a curation
    // pipeline runs before trusting a new snapshot. Windows run over the
    // hourly aggregate only.
    QueryDef(
      "stats_cusum_changepoint",
      (s, d) => {
        val hourly = T.events(s, d)
          .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000L").as("eh"))
          .agg(count(lit(1)).as("n"))
        val base = hourly
          .withColumn("h0", min("eh").over(Window.partitionBy("event_type")))
          .where(col("eh") < col("h0") + 168L)
          .groupBy("event_type").agg(sum("n").as("b"))
        val w = Window.partitionBy("event_type").orderBy("eh")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cusum = hourly.join(broadcast(base), "event_type")
          .withColumn("s", sum(col("n") * 168L - col("b")).over(w))
        val wr = Window.partitionBy("event_type")
          .orderBy(abs(col("s")).desc, col("eh"))
        cusum
          .withColumn("rnk", row_number().over(wr))
          .where(col("rnk") === 1)
          .select(col("event_type"), col("eh").as("changepoint_eh"),
            col("s").as("cusum_scaled"),
            when(col("s") > 0, "up").when(col("s") < 0, "down")
              .otherwise("flat").as("direction"))
          .orderBy("event_type")
      },
      Some("""WITH hourly AS (SELECT event_type, epoch_us(ts) // 3600000000 AS eh,
             |    count(*) AS n FROM events GROUP BY 1, 2),
             |h0 AS (SELECT event_type, min(eh) AS h0 FROM hourly GROUP BY 1),
             |base AS (SELECT hourly.event_type, CAST(sum(n) AS BIGINT) AS b
             |  FROM hourly JOIN h0 ON hourly.event_type = h0.event_type
             |  WHERE eh < h0 + 168 GROUP BY 1),
             |cs AS (SELECT hourly.event_type, eh,
             |    CAST(sum(n * 168 - b) OVER (PARTITION BY hourly.event_type ORDER BY eh
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
             |  FROM hourly JOIN base ON hourly.event_type = base.event_type),
             |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
             |      ORDER BY abs(s) DESC, eh) AS rnk FROM cs)
             |SELECT event_type, eh AS changepoint_eh, s AS cusum_scaled,
             |  CASE WHEN s > 0 THEN 'up' WHEN s < 0 THEN 'down' ELSE 'flat' END AS direction
             |FROM r WHERE rnk = 1 ORDER BY event_type""".stripMargin)
    ),

    // Explicit RESIZE through the real codec: every image decoded and
    // nearest-neighbor-resized to 4×4, with all 16 grayed output pixels
    // emitted as rows — the oracle recomputes each one from the
    // closed-form source-pixel function, so the resize itself (source
    // index mapping + channel mix) is proven value-exact pixel by pixel,
    // not just hash-exact. Pure map stage; at scale this is the thumbnail
    // /feature-extraction pass of a multimodal ingest.
    QueryDef(
      "multimodal_resize_nn",
      (s, d) => {
        val f = udf((id: Long) => {
          val png = graft.operators.PngCodec.encode(id)
          val (w, h, rgb) = graft.operators.PngCodec.decode(png)
          val small = graft.operators.PngCodec.resizeNearest(rgb, w, h, 4, 4)
          (w, h, Array.tabulate(16)(k =>
            ((small(k * 3) & 0xff) + (small(k * 3 + 1) & 0xff) +
              (small(k * 3 + 2) & 0xff)) / 3))
        })
        T(s, d, "documents")
          .where(expr("doc_id % 3 = 0"))
          .select(col("doc_id").as("media_id"), f(col("doc_id")).as("r"))
          .select(col("media_id"), col("r._1").cast("long").as("w"),
            col("r._2").cast("long").as("h"),
            posexplode(col("r._3")).as(Seq("k", "gray")))
          .select(col("media_id"), col("w"), col("h"),
            expr("CAST(k DIV 4 AS BIGINT)").as("i"),
            expr("CAST(k % 4 AS BIGINT)").as("j"),
            col("gray").cast("long").as("gray"))
          .orderBy("media_id", "i", "j")
      },
      Some("""WITH ids AS (SELECT doc_id AS media_id,
             |    16 + doc_id % 16 AS w, 16 + (doc_id // 16) % 16 AS h
             |  FROM documents WHERE doc_id % 3 = 0),
             |g AS (SELECT media_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
             |    CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
             |    CAST(((3 * ((j * w) // 4) + 5 * ((i * h) // 4) + media_id) % 256
             |     + (3 * ((j * w) // 4) + 5 * ((i * h) // 4) + 7 + media_id) % 256
             |     + (3 * ((j * w) // 4) + 5 * ((i * h) // 4) + 14 + media_id) % 256) // 3 AS BIGINT) AS gray
             |  FROM ids, (SELECT unnest(range(0, 4)) AS i) a,
             |    (SELECT unnest(range(0, 4)) AS j) b)
             |SELECT media_id, w, h, i, j, gray FROM g ORDER BY media_id, i, j""".stripMargin)
    ),

    // Perceptual hash (aHash) of the PNG fixtures THROUGH THE REAL CODEC:
    // Spark encodes each image (zlib deflate, paeth filters), decodes it
    // back, nearest-neighbor-resizes to 8×8, grays, and sets a bit per
    // above-mean pixel — while the oracle recomputes the identical hash
    // from the closed-form pixel function in pure integer SQL. A hash
    // match therefore proves the ENTIRE encode→inflate→unfilter→resize
    // pipeline bit-exact, not just the metadata path. The hash is split
    // hi/lo 32-bit halves so no sign bit is ever set. Pure map stage.
    QueryDef(
      "multimodal_phash",
      (s, d) => {
        val f = udf((id: Long) => {
          val png = graft.operators.PngCodec.encode(id)
          val (w, h, rgb) = graft.operators.PngCodec.decode(png)
          val small = graft.operators.PngCodec.resizeNearest(rgb, w, h, 8, 8)
          val gray = Array.tabulate(64)(k =>
            ((small(k * 3) & 0xff) + (small(k * 3 + 1) & 0xff) +
              (small(k * 3 + 2) & 0xff)) / 3)
          val mean = gray.sum / 64
          var hi = 0L; var lo = 0L; var n = 0L
          var k = 0
          while (k < 64) {
            if (gray(k) > mean) {
              n += 1
              if (k < 32) hi |= (1L << k) else lo |= (1L << (k - 32))
            }
            k += 1
          }
          (w, h, hi, lo, n)
        })
        T(s, d, "documents")
          .where(expr("doc_id % 3 = 0"))
          .select(col("doc_id").as("media_id"), f(col("doc_id")).as("r"))
          .select(col("media_id"), col("r._1").cast("long").as("w"),
            col("r._2").cast("long").as("h"), col("r._3").as("phash_lo32"),
            col("r._4").as("phash_hi32"), col("r._5").as("n_bits"))
          .orderBy("media_id")
      },
      Some("""WITH ids AS (SELECT doc_id AS media_id,
             |    16 + doc_id % 16 AS w, 16 + (doc_id // 16) % 16 AS h
             |  FROM documents WHERE doc_id % 3 = 0),
             |g AS (SELECT media_id, w, h, i, j,
             |    ((3 * ((j * w) // 8) + 5 * ((i * h) // 8) + media_id) % 256
             |     + (3 * ((j * w) // 8) + 5 * ((i * h) // 8) + 7 + media_id) % 256
             |     + (3 * ((j * w) // 8) + 5 * ((i * h) // 8) + 14 + media_id) % 256) // 3 AS gray
             |  FROM ids, (SELECT unnest(range(0, 8)) AS i) a,
             |    (SELECT unnest(range(0, 8)) AS j) b),
             |m AS (SELECT media_id, CAST(sum(gray) AS BIGINT) // 64 AS mean FROM g GROUP BY 1),
             |bits AS (SELECT g.media_id, g.w, g.h, g.i, g.j,
             |    CASE WHEN gray > mean THEN 1 ELSE 0 END AS b
             |  FROM g JOIN m ON g.media_id = m.media_id)
             |SELECT media_id, CAST(any_value(w) AS BIGINT) AS w,
             |  CAST(any_value(h) AS BIGINT) AS h,
             |  CAST(sum(CASE WHEN i * 8 + j < 32
             |    THEN b * (CAST(1 AS BIGINT) << (i * 8 + j)) ELSE 0 END) AS BIGINT) AS phash_lo32,
             |  CAST(sum(CASE WHEN i * 8 + j >= 32
             |    THEN b * (CAST(1 AS BIGINT) << (i * 8 + j - 32)) ELSE 0 END) AS BIGINT) AS phash_hi32,
             |  CAST(sum(b) AS BIGINT) AS n_bits
             |FROM bits GROUP BY media_id ORDER BY media_id""".stripMargin)
    )
  )
}
