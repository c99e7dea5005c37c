package graft.queries

import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, run over
  * the `documents` table. All are per-row map operations — at 100 TB they are
  * embarrassingly parallel, stay inside whole-stage codegen (no UDFs), and
  * shuffle only where an aggregation/dedup genuinely requires it.
  */
object TextOps {

  private val Stopwords = Seq("the", "a", "and", "of", "to", "in", "is")
  private val stopwordSqlList = Stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  val qs: Seq[QueryDef] = Seq(
    // Token counting: whitespace tokenization, per-doc counts.
    QueryDef(
      "text_token_stats",
      (s, d) =>
        T(s, d, "documents")
          .select(
            col("doc_id"),
            col("n_chars"),
            length(col("text")).cast("long").as("len_chars"),
            size(split(col("text"), " +")).cast("long").as("n_tokens"),
            size(array_distinct(split(col("text"), " +"))).cast("long").as("n_distinct_tokens")
          )
          .orderBy("doc_id"),
      Some("""SELECT doc_id, n_chars, length(text) AS len_chars,
             |len(string_split_regex(text, ' +')) AS n_tokens,
             |len(list_distinct(string_split_regex(text, ' +'))) AS n_distinct_tokens
             |FROM documents ORDER BY doc_id""".stripMargin),
      headline = true
    ),

    // Quality scoring: type-token ratio, stopword ratio, mean token length.
    QueryDef(
      "text_quality_score",
      (s, d) =>
        T(s, d, "documents")
          .withColumn("toks", split(col("text"), " +"))
          .select(
            col("doc_id"),
            round(size(array_distinct(col("toks"))).cast("double") /
              size(col("toks")).cast("double"), 6).as("ttr"),
            round(expr(s"size(filter(toks, t -> t IN $stopwordSqlList))").cast("double") /
              size(col("toks")).cast("double"), 6).as("stopword_ratio"),
            round((length(col("text")) - size(col("toks")) + 1).cast("double") /
              size(col("toks")).cast("double"), 6).as("mean_token_len")
          )
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |round(CAST(len(list_distinct(string_split_regex(text, ' +'))) AS DOUBLE)
              |  / len(string_split_regex(text, ' +')), 6) AS ttr,
              |round(CAST(len(list_filter(string_split_regex(text, ' +'), t -> t IN $stopwordSqlList)) AS DOUBLE)
              |  / len(string_split_regex(text, ' +')), 6) AS stopword_ratio,
              |round(CAST(length(text) - len(string_split_regex(text, ' +')) + 1 AS DOUBLE)
              |  / len(string_split_regex(text, ' +')), 6) AS mean_token_len
              |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // Language-ID heuristic: score marker-word hits per language, pick argmax.
    // (A real n-gram model rides the same plan shape; markers keep it
    // SQL-oracle-checkable.)
    QueryDef(
      "text_lang_id",
      (s, d) => {
        def hits(words: Seq[String]) = {
          val list = words.map(w => s"'$w'").mkString("(", ", ", ")")
          expr(s"size(filter(toks, t -> t IN $list))")
        }
        T(s, d, "documents")
          .withColumn("toks", split(col("text"), " +"))
          .withColumn("en_hits", hits(Seq("the", "and", "of")))
          .withColumn("es_hits", hits(Seq("el", "la", "de")))
          .withColumn("fr_hits", hits(Seq("le", "la", "et")))
          .select(
            col("doc_id"), col("lang"),
            when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("fr_hits"), "en")
              .when(col("es_hits") >= col("fr_hits"), "es")
              .otherwise("fr").as("lang_guess")
          )
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, lang,
             |  len(list_filter(string_split_regex(text, ' +'), t -> t IN ('the','and','of'))) AS en_hits,
             |  len(list_filter(string_split_regex(text, ' +'), t -> t IN ('el','la','de'))) AS es_hits,
             |  len(list_filter(string_split_regex(text, ' +'), t -> t IN ('le','la','et'))) AS fr_hits
             |  FROM documents)
             |SELECT doc_id, lang,
             |CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
             |     WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS lang_guess
             |FROM t ORDER BY doc_id""".stripMargin)
    ),

    // Lang-ID QUALITY eval against the ground-truth lang column: the
    // confusion matrix of the marker heuristic plus per-true-language
    // recall in integer basis points — the honesty report (zh/de carry no
    // markers, so their systematic misrouting is visible, not hidden).
    // Same eval pattern as dedup_lsh_recall_eval / sim_ann_recall_eval.
    QueryDef(
      "text_lang_id_eval",
      (s, d) => {
        val pred = qs.find(_.name == "text_lang_id").get.fn(s, d)
        val totals = pred.groupBy("lang").agg(count(lit(1)).as("lang_total"))
        pred.groupBy("lang", "lang_guess").agg(count(lit(1)).as("n"))
          .join(broadcast(totals), "lang")
          .select(col("lang"), col("lang_guess"), col("n"),
            expr("(n * 10000) div lang_total").as("share_bp"),
            when(col("lang") === col("lang_guess"), 1L).otherwise(0L).as("is_correct"))
          .orderBy("lang", "lang_guess")
      },
      Some("""WITH t AS (SELECT doc_id, lang,
             |  len(list_filter(string_split_regex(text, ' +'), t -> t IN ('the','and','of'))) AS en_hits,
             |  len(list_filter(string_split_regex(text, ' +'), t -> t IN ('el','la','de'))) AS es_hits,
             |  len(list_filter(string_split_regex(text, ' +'), t -> t IN ('le','la','et'))) AS fr_hits
             |  FROM documents),
             |p AS (SELECT doc_id, lang,
             |  CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
             |       WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS lang_guess
             |  FROM t),
             |tot AS (SELECT lang, count(*) AS lang_total FROM p GROUP BY 1)
             |SELECT p.lang, p.lang_guess, count(*) AS n,
             |  (count(*) * 10000) // any_value(tot.lang_total) AS share_bp,
             |  CAST(CASE WHEN p.lang = p.lang_guess THEN 1 ELSE 0 END AS BIGINT) AS is_correct
             |FROM p JOIN tot ON p.lang = tot.lang
             |GROUP BY p.lang, p.lang_guess ORDER BY p.lang, p.lang_guess""".stripMargin)
    ),

    // Document fingerprinting: md5 content hash (identical hex in both engines).
    QueryDef(
      "text_fingerprint",
      (s, d) =>
        T(s, d, "documents")
          .select(col("doc_id"), md5(col("text")).as("fp"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id")
    ),

    // BPE-ish regex tokenization: letter runs / digit runs / single
    // punctuation marks, the pre-tokenization shape BPE vocabularies use.
    QueryDef(
      "text_bpe_tokens",
      (s, d) =>
        T(s, d, "documents")
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("text"),
              lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("n_pieces"),
            size(array_distinct(regexp_extract_all(col("text"),
              lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))).cast("long").as("n_vocab")
          )
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_pieces,
             |len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS n_vocab
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // Exact dedup: hash-groupBy on normalized content; keep min doc_id.
    // At scale this is one shuffle on the 128-bit fingerprint.
    QueryDef(
      "dedup_exact",
      (s, d) =>
        T(s, d, "documents")
          .withColumn("fp", md5(regexp_replace(lower(col("text")), " +", " ")))
          .groupBy("fp")
          .agg(count(lit(1)).as("n_dups"), min("doc_id").as("keep_id"))
          .orderBy("fp"),
      Some("""SELECT md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS fp,
             |count(*) AS n_dups, min(doc_id) AS keep_id
             |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin),
      headline = true
    ),

    // Heavy-hitter tokens via the SpaceSaving sketch (O(m) state per group
    // vs the exact groupBy's unbounded key space). ORACLED: with the
    // corpus vocabulary below the sketch capacity (m=256 vs a 31-word
    // synthetic vocab) SpaceSaving provably never evicts, so its counts
    // are exact and its (count desc, token asc) top-k must hash-match the
    // exact SQL top-k — an end-to-end oracle of the insert/merge/topk
    // machinery. The eviction/overestimation path is pinned separately by
    // SpaceSavingSpec on zipf streams over capacity.
    QueryDef(
      "text_heavy_hitters",
      (s, d) => {
        val ssTopk = udaf(graft.operators.SpaceSaving.agg(m = 256, k = 10)).withName("ss_topk")
        T(s, d, "documents")
          .select(explode(split(col("text"), " +")).as("tok"))
          .agg(ssTopk(col("tok")).as("top"))
          .select(posexplode(col("top")).as(Seq("rank", "entry")))
          .select(col("rank").cast("long").as("rank"),
            col("entry._1").as("tok"), col("entry._2").as("est_count"))
          .orderBy("rank")
      },
      Some("""SELECT CAST(row_number() OVER (ORDER BY c DESC, tok) - 1 AS BIGINT) AS rank,
             |  tok, c AS est_count
             |FROM (SELECT tok, CAST(count(*) AS BIGINT) AS c
             |      FROM (SELECT unnest(string_split_regex(text, ' +')) AS tok
             |            FROM documents)
             |      GROUP BY tok)
             |ORDER BY rank LIMIT 10""".stripMargin)),

    // BPE merge training (Sennrich 2016) on the word-frequency table: one
    // corpus pass builds the vocab, every merge iteration is vocab-sized.
    // FULLY ORACLED: the 12 merges unroll into a chain of MATERIALIZED
    // CTEs (one pair-count + argmax + fuse per iteration). The fuse step's
    // non-overlapping left-to-right semantics are exactly two passes of
    // string replace over a chr(1)-delimited symbol string: pass 1 takes
    // greedy-left alternating occurrences (adjacent matches share their
    // boundary separator), pass 2 the ones pass 1 exposed — skipped
    // occurrences are never adjacent to each other, so two passes always
    // converge, and fused symbols are atomic between separators (a fused
    // "ab" can never re-match "a<sep>b"). BpeTrainSpec additionally pins
    // the distributed run against an in-memory reference merge-for-merge.
    QueryDef(
      "text_bpe_train",
      (s, d) => graft.operators.BpeTrain
        .trainDf(s, T(s, d, "documents"), "text", merges = 12)
        .orderBy("rank"),
      Some {
        val merges = 12
        val iters = (1 to merges).map { i =>
          s"""p$i AS MATERIALIZED (
             |  SELECT string_split(pr, chr(2))[1] AS a,
             |         string_split(pr, chr(2))[2] AS b,
             |         CAST(sum(freq) AS BIGINT) AS n
             |  FROM (SELECT freq, unnest(list_transform(range(1, len(sy)),
             |          j -> sy[j] || chr(2) || sy[j+1])) AS pr
             |        FROM (SELECT list_filter(string_split(s, chr(1)),
             |                t -> t <> '') AS sy, freq FROM w${i - 1}))
             |  GROUP BY 1, 2),
             |b$i AS MATERIALIZED (SELECT a, b FROM p$i ORDER BY n DESC, a, b LIMIT 1),
             |w$i AS MATERIALIZED (SELECT replace(replace(s,
             |    chr(1)||bb.a||chr(1)||bb.b||chr(1), chr(1)||bb.a||bb.b||chr(1)),
             |    chr(1)||bb.a||chr(1)||bb.b||chr(1), chr(1)||bb.a||bb.b||chr(1)) AS s, freq
             |  FROM w${i - 1}, b$i bb)""".stripMargin
        }.mkString(",\n")
        val ranks = (1 to merges).map(i =>
          s"""SELECT CAST($i AS BIGINT) AS rank, a AS "left", b AS "right" FROM b$i""")
          .mkString("\nUNION ALL ")
        s"""WITH w0 AS MATERIALIZED (
           |  SELECT chr(1) || array_to_string(
           |      list_append(string_split(w, ''), '</w>'), chr(1)) || chr(1) AS s,
           |    CAST(count(*) AS BIGINT) AS freq
           |  FROM (SELECT unnest(string_split_regex(text, ' +')) AS w FROM documents)
           |  WHERE len(w) > 0 GROUP BY 1),
           |$iters
           |$ranks
           |ORDER BY rank""".stripMargin
      }),

    // BPE APPLY — the inference half of the tokenizer: the 12 merges
    // trained by text_bpe_train (corpus-derived, driver-resident, 12
    // bounded rules — the codebook pattern again) tokenize every
    // document; output pins per-doc token counts, the chars-per-token
    // compression in basis points, and an md5 of the full in-order token
    // stream, so ANY divergence in merge application order or
    // non-overlapping fuse semantics hash-fails. Apply is embarrassingly
    // parallel (map-only over docs; training touched the corpus once to
    // build the word-freq table). The oracle re-trains the same 12 rules
    // via the proven materialized-CTE unroll, then applies them to every
    // doc word with the same two-pass separator-string fuse.
    QueryDef(
      "text_bpe_apply",
      (s, d) => {
        val rules = graft.operators.BpeTrain.train(s, T(s, d, "documents"), "text", 12)
        val tokenizeDoc = udf { (text: String) =>
          val words = text.split(" +").filter(_.nonEmpty)
          val toks = words.flatMap(w => graft.operators.BpeTrain.applyWord(w, rules))
          (toks.length.toLong, toks.mkString(" "))
        }.withName("bpe_apply_doc")
        T(s, d, "documents")
          .withColumn("r", tokenizeDoc(col("text")))
          .select(col("doc_id"),
            col("r._1").as("n_tokens"),
            expr("(CAST(length(regexp_replace(text, ' +', '')) AS BIGINT) * 10000) div r._1")
              .as("chars_per_tok_bp"),
            md5(col("r._2")).as("tok_md5"))
          .orderBy("doc_id")
      },
      Some {
        val merges = 12
        val trainIters = (1 to merges).map { i =>
          s"""p$i AS MATERIALIZED (
             |  SELECT string_split(pr, chr(2))[1] AS a,
             |         string_split(pr, chr(2))[2] AS b,
             |         CAST(sum(freq) AS BIGINT) AS n
             |  FROM (SELECT freq, unnest(list_transform(range(1, len(sy)),
             |          j -> sy[j] || chr(2) || sy[j+1])) AS pr
             |        FROM (SELECT list_filter(string_split(s, chr(1)),
             |                t -> t <> '') AS sy, freq FROM w${i - 1}))
             |  GROUP BY 1, 2),
             |b$i AS MATERIALIZED (SELECT a, b FROM p$i ORDER BY n DESC, a, b LIMIT 1),
             |w$i AS MATERIALIZED (SELECT replace(replace(s,
             |    chr(1)||bb.a||chr(1)||bb.b||chr(1), chr(1)||bb.a||bb.b||chr(1)),
             |    chr(1)||bb.a||chr(1)||bb.b||chr(1), chr(1)||bb.a||bb.b||chr(1)) AS s, freq
             |  FROM w${i - 1}, b$i bb)""".stripMargin
        }.mkString(",\n")
        val applyIters = (1 to merges).map { i =>
          s"""a$i AS MATERIALIZED (SELECT doc_id, wi, replace(replace(s,
             |    chr(1)||bb.a||chr(1)||bb.b||chr(1), chr(1)||bb.a||bb.b||chr(1)),
             |    chr(1)||bb.a||chr(1)||bb.b||chr(1), chr(1)||bb.a||bb.b||chr(1)) AS s
             |  FROM a${i - 1}, b$i bb)""".stripMargin
        }.mkString(",\n")
        s"""WITH w0 AS MATERIALIZED (
           |  SELECT chr(1) || array_to_string(
           |      list_append(string_split(w, ''), '</w>'), chr(1)) || chr(1) AS s,
           |    CAST(count(*) AS BIGINT) AS freq
           |  FROM (SELECT unnest(string_split_regex(text, ' +')) AS w FROM documents)
           |  WHERE len(w) > 0 GROUP BY 1),
           |$trainIters,
           |dt AS (SELECT doc_id,
           |    list_filter(string_split_regex(text, ' +'), x -> x <> '') AS ws,
           |    CAST(length(regexp_replace(text, ' +', '', 'g')) AS BIGINT) AS n_chars_ns
           |  FROM documents),
           |a0 AS (SELECT doc_id, wi,
           |    chr(1) || array_to_string(
           |      list_append(string_split(ws[wi + 1], ''), '</w>'), chr(1)) || chr(1) AS s
           |  FROM (SELECT doc_id, ws, unnest(range(len(ws))) AS wi FROM dt)),
           |$applyIters,
           |toks AS (SELECT doc_id, wi,
           |    list_filter(string_split(s, chr(1)), t -> t <> '') AS tk
           |  FROM a$merges),
           |per_doc AS (SELECT doc_id,
           |    CAST(sum(len(tk)) AS BIGINT) AS n_tokens,
           |    string_agg(array_to_string(tk, ' '), ' ' ORDER BY wi) AS tok_str
           |  FROM toks GROUP BY doc_id)
           |SELECT p.doc_id, p.n_tokens,
           |  (d.n_chars_ns * 10000) // p.n_tokens AS chars_per_tok_bp,
           |  md5(p.tok_str) AS tok_md5
           |FROM per_doc p JOIN dt d USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      }),

    // Unigram-LM perplexity (the CCNet-style quality filter): corpus token
    // frequencies → per-doc mean negative logprob → exp. The scoring join
    // shuffles on the token key with NO broadcast hint: on a 100 TB web
    // corpus the distinct-token table is itself billions of rows, so
    // forcing it to broadcast would OOM the driver — AQE picks broadcast
    // only when the built side actually fits. Corpus size N rides along as
    // a broadcast SCALAR aggregate (one row), never a driver-side count():
    // plan construction stays lazy and the tokenize pipeline runs only
    // inside the job itself. Determinism across engines: each token's
    // -ln(p) is rounded to 9 decimals and DECIMAL-summed (exact,
    // order-independent); only the final divide/exp/round are float ops
    // (correctly-rounded or ulp-safe under the 6-decimal output rounding).
    QueryDef(
      "text_unigram_perplexity",
      (s, d) => {
        val toks = T(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " +")).as("tok"))
        val nn = toks.agg(count(lit(1)).as("corpus_n"))
        val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        toks.join(freq, "tok")
          .crossJoin(broadcast(nn))
          .withColumn("nll",
            expr("CAST(round(-ln(cnt / CAST(corpus_n AS DOUBLE)), 9) AS DECIMAL(18,9))"))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_toks"),
            round(exp(sum(col("nll")).cast("double") / count(lit(1))), 6).as("ppl"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS tok
             |  FROM documents),
             |n AS (SELECT count(*) AS n FROM toks),
             |freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
             |SELECT doc_id, count(*) AS n_toks,
             |round(exp(CAST(sum(CAST(round(-ln(cnt / (SELECT CAST(n AS DOUBLE) FROM n)), 9)
             |  AS DECIMAL(18,9))) AS DOUBLE) / count(*)), 6) AS ppl
             |FROM toks JOIN freq USING (tok)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // Bigram-LM perplexity with add-1 (Laplace) smoothing — the
    // next-order refinement of the unigram filter, the shape a KenLM-lite
    // quality scorer takes: P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V).
    // Context counts and bigram counts are corpus aggregates; the scoring
    // join shuffles the doc bigrams once on the bigram key (the count
    // tables are vocab-bounded — |V| and at most |V|², both tiny next to
    // the corpus — so they broadcast at scale). Cross-engine determinism:
    // same 9-decimal-rounded -ln + DECIMAL sum as the unigram query.
    QueryDef(
      "text_bigram_perplexity",
      (s, d) => {
        val docs = T(s, d, "documents")
          .withColumn("ws", expr("filter(split(text, ' +'), x -> x != '')"))
          .where(size(col("ws")) >= 2)
        val big = docs.select(col("doc_id"), explode(expr(
            """transform(sequence(1, size(ws) - 1),
              |  i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"""
            .stripMargin)).as("bg"))
          .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
        val uni = docs.select(explode(col("ws")).as("w1"))
          .groupBy("w1").agg(count(lit(1)).as("c1"))
        val bc = big.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        // |V| as a broadcast scalar aggregate — not a driver-side count(),
        // which would re-run the tokenize pipeline at plan-construction time
        val vdf = uni.agg(count(lit(1)).as("vocab_n"))
        big.join(bc, Seq("w1", "w2")).join(uni, Seq("w1"))
          .crossJoin(broadcast(vdf))
          .withColumn("nll", expr(
            "CAST(round(-ln((c2 + 1) / CAST(c1 + vocab_n AS DOUBLE)), 9) AS DECIMAL(18,9))"))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_bigrams"),
            round(exp(sum(col("nll")).cast("double") / count(lit(1))), 6).as("ppl"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split_regex(text, ' +'), x -> x <> '') AS ws
             |  FROM documents),
             |t2 AS (SELECT doc_id, ws FROM t WHERE len(ws) >= 2),
             |big AS (SELECT doc_id, ws[CAST(i AS INT)] AS w1, ws[CAST(i + 1 AS INT)] AS w2
             |  FROM t2, UNNEST(range(1, len(ws))) AS u(i)),
             |uc AS (SELECT w1, count(*) AS c1
             |  FROM (SELECT unnest(ws) AS w1 FROM t2) GROUP BY 1),
             |v AS (SELECT count(*) AS vs FROM uc),
             |bc AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  round(exp(CAST(sum(CAST(round(-ln((c2 + 1) /
             |      CAST(c1 + (SELECT vs FROM v) AS DOUBLE)), 9)
             |    AS DECIMAL(18,9))) AS DOUBLE) / count(*)), 6) AS ppl
             |FROM big JOIN bc USING (w1, w2) JOIN uc USING (w1)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // PII scrub — the redaction pass every training-data pipeline runs
    // before tokenization. The synthetic docs carry no PII, so the query
    // first injects deterministic doc_id-derived PII IDENTICALLY on both
    // engines (same concat), then masks emails → urls → long digit runs in
    // that order (an email/url may contain digit runs; the digit pass must
    // see them already collapsed). Patterns use explicit character classes
    // only — identical semantics in Java regex and RE2 — and the oracle
    // pins the masked text exactly via md5. Per-row map, codegen'd, no
    // shuffle except the output sort.
    QueryDef(
      "text_pii_scrub",
      (s, d) => {
        val raw = concat(col("text"),
          lit(" contact u"), col("doc_id").cast("string"),
          lit("@mail.example.com visit https://ex.com/p/"), col("doc_id").cast("string"),
          lit(" acct "), (col("doc_id") * col("doc_id") + lit(987654321L)).cast("string"))
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val url = "https?://[A-Za-z0-9./_-]+"
        val num = "[0-9]{6,}"
        T(s, d, "documents")
          .select(col("doc_id"), col("text"), raw.as("raw"))
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("raw"), lit(email), lit(0))).cast("long").as("n_emails"),
            size(regexp_extract_all(col("raw"), lit(url), lit(0))).cast("long").as("n_urls"),
            regexp_replace(regexp_replace(regexp_replace(col("raw"),
              email, "<EMAIL>"), url, "<URL>"), num, "<NUM>").as("masked"))
          .select(col("doc_id"), col("n_emails"), col("n_urls"),
            length(col("masked")).cast("long").as("masked_len"),
            md5(col("masked")).as("masked_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH raw AS (
             |  SELECT doc_id, text || ' contact u' || CAST(doc_id AS VARCHAR)
             |    || '@mail.example.com visit https://ex.com/p/' || CAST(doc_id AS VARCHAR)
             |    || ' acct ' || CAST(doc_id * doc_id + 987654321 AS VARCHAR) AS raw
             |  FROM documents)
             |SELECT doc_id,
             |len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             |len(regexp_extract_all(raw, 'https?://[A-Za-z0-9./_-]+')) AS n_urls,
             |length(regexp_replace(regexp_replace(regexp_replace(raw,
             |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |  'https?://[A-Za-z0-9./_-]+', '<URL>', 'g'),
             |  '[0-9]{6,}', '<NUM>', 'g')) AS masked_len,
             |md5(regexp_replace(regexp_replace(regexp_replace(raw,
             |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |  'https?://[A-Za-z0-9./_-]+', '<URL>', 'g'),
             |  '[0-9]{6,}', '<NUM>', 'g')) AS masked_md5
             |FROM raw ORDER BY doc_id""".stripMargin)
    ),

    // Sequence packing (concat-and-chunk): documents concatenated in a
    // deterministic global order and cut into fixed-size token blocks —
    // the standard pretraining transform. A naive global running sum is a
    // single-partition window; here it is the scale-safe two-phase scan:
    // (1) token subtotals per CONTIGUOUS doc_id range bucket, (2) tiny
    // prefix-sum over bucket subtotals (rows = docs/B, broadcast back),
    // (3) per-bucket window cumsum + bucket offset. Same result as the
    // one-window form — which is exactly what the DuckDB oracle runs.
    QueryDef(
      "text_pack_sequences",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val L = 512L  // tokens per packed block
        val B = 100L  // docs per prefix bucket
        // ONE explicit exchange on the bucket: the tokenization
        // (split+size over full text — the expensive map work) runs once
        // in the scan stage, and BOTH consumers below (the rollup and the
        // per-bucket window) reuse this exchange instead of re-scanning
        // and re-tokenizing the corpus (the pre-round-10 form paid the
        // scan twice; round-10 A/B in ARCHITECTURE.md)
        val toks = T(s, d, "documents").select(
          col("doc_id"),
          size(split(col("text"), " +")).cast("long").as("n_tokens"),
          (col("doc_id") / B).cast("long").as("bucket"))
          .repartition(col("bucket"))
        // bucket offsets via the salted two-phase cumsum: the bucket
        // rollup is N/100 rows — it GROWS with the data, so the exclusive
        // prefix sum must not run through one global-window task. The
        // groupBy reads the bucket-partitioned exchange co-located — no
        // second shuffle of the big frame.
        val offsets = graft.operators.ScalableWindow.withGlobalCumSum(
            toks.groupBy("bucket").agg(sum("n_tokens").as("btoks")),
            "cum", col("btoks"))(Seq(expr("bucket div 10000L")), col("bucket"))
          .withColumn("offset", col("cum") - col("btoks"))
          .select("bucket", "offset")
        val wDocs = Window.partitionBy("bucket").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        toks.join(broadcast(offsets), "bucket")
          .withColumn("cum", sum("n_tokens").over(wDocs) + col("offset"))
          .select(col("doc_id"), col("n_tokens"), col("cum"),
            expr(s"(cum - n_tokens) div $L").as("first_block"),
            expr(s"(cum - 1) div $L").as("last_block"))
          .withColumn("n_blocks", col("last_block") - col("first_block") + 1)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (SELECT doc_id, n_tokens,
             |    CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |  FROM t)
             |SELECT doc_id, n_tokens, cum,
             |  (cum - n_tokens) // 512 AS first_block,
             |  (cum - 1) // 512 AS last_block,
             |  (cum - 1) // 512 - (cum - n_tokens) // 512 + 1 AS n_blocks
             |FROM c ORDER BY doc_id""".stripMargin),
      headline = true
    ),

    // Data-mixture plan: per-source sampling weights applied as a
    // deterministic hash gate — weight < 1 downsamples, weight > 1 emits
    // floor(w) full copies plus a hash-gated fractional copy (the standard
    // corpus-mixing epoch plan, reproducible across retries, no rand()).
    // Map-only per row (the weights table broadcasts); one aggregate.
    QueryDef(
      "corpus_mixture_plan",
      (s, d) => {
        // per-source weights: even source index 0.25x, odd 1.5x
        val srcWeight = when(
          pmod(regexp_extract(col("source"), "(\\d+)", 1).cast("int"), lit(2)) === 0,
          lit(0.25)).otherwise(lit(1.5))
        // fractional part as a 6-hex-digit md5 threshold (string compare —
        // identical lexicographic semantics in both engines)
        val copies = T(s, d, "documents")
          .withColumn("w", srcWeight)
          .withColumn("copy_idx",
            explode(expr("sequence(1, cast(ceil(w) as int))")))
          .where(col("copy_idx") <= floor(col("w")) ||
            substring(md5(concat(col("doc_id").cast("string"), lit(":"),
              col("copy_idx").cast("string"))), 1, 6) <
              when(col("w") === 0.25, lit("400000")).otherwise(lit("800000")))
        copies.groupBy("source")
          .agg(count(lit(1)).as("n_copies"),
            count_distinct(col("doc_id")).as("n_docs"),
            sum(size(split(col("text"), " +")).cast("long")).as("n_tokens"))
          .orderBy("source")
      },
      Some("""WITH w AS (SELECT *,
             |    CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS INT) % 2 = 0
             |         THEN 0.25 ELSE 1.5 END AS wt
             |  FROM documents),
             |c AS (SELECT * FROM w, UNNEST(range(1, CAST(ceil(wt) AS BIGINT) + 1)) AS u(copy_idx)
             |  WHERE copy_idx <= floor(wt)
             |     OR substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(copy_idx AS VARCHAR)), 1, 6)
             |        < CASE WHEN wt = 0.25 THEN '400000' ELSE '800000' END)
             |SELECT source, count(*) AS n_copies,
             |  count(DISTINCT doc_id) AS n_docs,
             |  CAST(sum(len(string_split_regex(text, ' +'))) AS BIGINT) AS n_tokens
             |FROM c GROUP BY source ORDER BY source""".stripMargin)
    ),

    // PMI collocations: pointwise mutual information over adjacent token
    // bigrams — ln(c(ab)·T / (c(a)·c(b))) — the classic collocation
    // detector. Bigrams come from the same map-side shingling as
    // decontamination (no positional self-join); three aggregates total.
    // Counts are exact integers; the final ln rounds to 6 dp.
    QueryDef(
      "text_pmi_bigrams",
      (s, d) => {
        val toks = T(s, d, "documents")
          .withColumn("ws", expr("filter(split(text, ' +'), x -> x != '')"))
        val uni = toks.select(explode(col("ws")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c1"))
        val bi = toks.where(size(col("ws")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(ws) - 1), i -> struct(element_at(ws, i) AS a, element_at(ws, i + 1) AS b))"))
            .as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("cab"))
        val tot = bi.agg(sum("cab").as("t"))
        bi.join(uni.select(col("w").as("a"), col("c1").as("ca")), "a")
          .join(uni.select(col("w").as("b"), col("c1").as("cb")), "b")
          .crossJoin(broadcast(tot))
          .withColumn("pmi", round(log(
            col("cab").cast("double") * col("t").cast("double") /
              (col("ca").cast("double") * col("cb").cast("double"))), 6))
          .orderBy(col("cab").desc, col("a"), col("b"))
          .select(col("a"), col("b"), col("cab"), col("pmi"))
          .limit(20)
      },
      Some("""WITH t AS (SELECT list_filter(string_split_regex(text, ' +'), x -> x <> '') AS ws
             |  FROM documents),
             |uni AS (SELECT unnest(ws) AS w FROM t),
             |u AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
             |bi AS (SELECT unnest(list_transform(range(1, len(ws)),
             |    i -> struct_pack(a := ws[i], b := ws[i+1]))) AS p
             |  FROM t WHERE len(ws) >= 2),
             |b2 AS (SELECT p.a AS a, p.b AS b, count(*) AS cab FROM bi GROUP BY 1, 2),
             |tot AS (SELECT CAST(sum(cab) AS BIGINT) AS t FROM b2)
             |SELECT a, b, cab,
             |  round(ln(CAST(cab AS DOUBLE) * t / (ua.c1 * ub.c1)), 6) AS pmi
             |FROM b2 JOIN u ua ON b2.a = ua.w JOIN u ub ON b2.b = ub.w
             |CROSS JOIN tot
             |ORDER BY cab DESC, a, b LIMIT 20""".stripMargin)
    ),

    // TF-IDF: term frequency × inverse document frequency, the classic
    // relevance weight. Two aggregates ((doc, term) counts; per-term doc
    // frequency) + one join; the doc count broadcasts as a 1-row frame.
    // The ln() is computed on exact integer inputs and rounded to 6 dp so
    // a 1-ulp libm divergence between engines can't flip the hash.
    QueryDef(
      "text_tfidf_top",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val toks = T(s, d, "documents")
          .select(col("doc_id"), explode(expr(
            "filter(split(text, ' +'), x -> x != '')")).as("term"))
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df_ = toks.select("doc_id", "term").distinct()
          .groupBy("term").agg(count(lit(1)).as("df"))
        val n = T(s, d, "documents").agg(count(lit(1)).as("n"))
        val scored = tf.join(df_, "term").crossJoin(broadcast(n))
          .withColumn("tfidf",
            round(col("tf") * log(col("n").cast("double") / col("df")), 6))
        val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
        scored.withColumn("rk", row_number().over(w))
          .where(col("rk") === 1)
          .select(col("doc_id"), col("term"), col("tfidf"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(list_filter(
             |    string_split_regex(text, ' +'), x -> x <> '')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
             |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |scored AS (SELECT doc_id, term,
             |    round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
             |  FROM tf JOIN df USING (term) CROSS JOIN n),
             |top AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY tfidf DESC, term) AS rk FROM scored)
             |SELECT doc_id, term, tfidf FROM top WHERE rk = 1
             |ORDER BY doc_id""".stripMargin)
    ),

    // Overlapping document chunking (the RAG/embedding-prep transform):
    // fixed window, fixed stride, deterministic chunk grid. Map-side
    // explode only — no shuffle before the oracle sort; at 100 TB the
    // fan-out factor is ~len/stride per doc, bounded per row. Chunk
    // content is pinned by md5 so the dump stays narrow.
    QueryDef(
      "text_chunk_overlap",
      (s, d) => {
        val W = 200 // window chars
        val S = 150 // stride (50-char overlap)
        T(s, d, "documents")
          .withColumn("len", length(col("text")).cast("long"))
          .withColumn("chunk_idx", explode(
            expr(s"sequence(0, (greatest(len - $W, 0) + $S - 1) div $S)")))
          .withColumn("chunk",
            expr(s"substr(text, cast(chunk_idx * $S + 1 as int), $W)"))
          .select(col("doc_id"), col("chunk_idx"),
            length(col("chunk")).cast("long").as("chunk_len"),
            md5(col("chunk")).as("chunk_md5"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some("""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
             |  FROM documents),
             |c AS (SELECT doc_id, text,
             |    unnest(range(0, 1 + (greatest(len - 200, 0) + 149) // 150)) AS chunk_idx
             |  FROM t)
             |SELECT doc_id, chunk_idx,
             |  CAST(length(substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200)) AS BIGINT) AS chunk_len,
             |  md5(substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200)) AS chunk_md5
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)
    ),

    // Benchmark decontamination: train documents sharing a word n-gram
    // with any held-out eval document are flagged — the dedup-against-eval
    // pass every training corpus needs. Both sides shingle map-side,
    // dedupe to DISTINCT (doc, gram), and meet in ONE equi-join on the
    // gram (at 100 TB the eval side is tiny and broadcasts; the train side
    // never shuffles more than its distinct grams). n=3 because the
    // synthetic corpus is short random word-soup (real corpora use 8-13);
    // the plan is n-independent.
    QueryDef(
      "text_decontaminate",
      (s, d) => {
        // (doc_id, gram) dedup is PER-DOCUMENT, so it needs no shuffle:
        // array_distinct inside the projection replaces the global
        // .distinct() exchange this plan used to pay over the whole corpus.
        // Fan the corpus out BEFORE the tokenize→shingle chain: a small
        // input scans as ONE partition and the whole regexp+explode ran
        // serially inside that task (measured: a 0.9 s single-task stage =
        // most of this query's wall at sf0.1; no-op at cluster scale where
        // splits >= cores). The size(ws) >= 3 guard lives INSIDE the
        // explode input (empty array drops the row exactly like the old
        // where()) — as a Filter it would be pushed below the fan-out
        // exchange and re-run the regexp chain serially in the scan task.
        val fanned = graft.engine.Fanout.ensure(s,
          T(s, d, "documents").select("doc_id", "text"))
        val grams = fanned
          .withColumn("ws", expr(
            "filter(split(regexp_replace(lower(text), '[^a-z0-9]+', ' '), ' +'), x -> x != '')"))
          .select(col("doc_id"), explode(expr(
            """CASE WHEN size(ws) >= 3
              |THEN array_distinct(transform(sequence(1, size(ws) - 2),
              |       i -> concat_ws(' ', slice(ws, i, 3))))
              |ELSE array() END""".stripMargin))
            .as("gram"))
        val eval = grams.where(pmod(col("doc_id"), lit(97)) === 0)
          .select(col("gram"), col("doc_id").as("eval_id"))
        val train = grams.where(pmod(col("doc_id"), lit(97)) =!= 0)
        train.join(broadcast(eval), "gram")
          .groupBy("doc_id")
          .agg(count_distinct(col("eval_id")).as("n_eval_docs"),
            count(lit(1)).as("n_gram_hits"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' +'),
             |                x -> x <> '') AS ws
             |  FROM documents),
             |g AS (SELECT DISTINCT doc_id,
             |    unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
             |                          i -> array_to_string(ws[i:i+2], ' '))) AS gram
             |  FROM t WHERE len(ws) >= 3),
             |e AS (SELECT gram, doc_id AS eval_id FROM g WHERE doc_id % 97 = 0),
             |tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
             |SELECT tr.doc_id, count(DISTINCT e.eval_id) AS n_eval_docs,
             |  count(*) AS n_gram_hits
             |FROM tr JOIN e USING (gram)
             |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin),
      headline = true
    ),

    // Repetition-based quality filter (the Gopher/MassiveText rules,
    // Rae et al. 2021 §A1.1): documents dominated by repeated n-grams are
    // boilerplate/spam and get filtered before training. Per doc: the
    // fraction of 2-grams occurring more than once, the same for 3-grams,
    // and the share of the single most frequent 2-gram. One shuffle per
    // n-gram order keyed by (doc_id, gram) — at 100 TB this is partial-
    // aggregated map-side and never materializes a vocabulary. Thresholds
    // are corpus-tuned (here: split the synthetic corpus meaningfully).
    QueryDef(
      "text_repetition_filter",
      (s, d) => {
        val ws = T(s, d, "documents")
          .withColumn("ws", expr("filter(split(text, ' +'), x -> x != '')"))
        def gramStats(n: Int, tot: String, dup: String, top: String) = ws
          .where(size(col("ws")) >= n)
          .select(col("doc_id"), explode(expr(
            s"transform(sequence(1, size(ws) - ${n - 1}), i -> concat_ws(' ', slice(ws, i, $n)))"))
            .as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(
            sum("c").as(tot),
            sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as(dup),
            max("c").as(top))
        val g2 = gramStats(2, "tot2", "dup2", "top2")
        val g3 = gramStats(3, "tot3", "dup3", "top3")
        g2.join(g3, Seq("doc_id"), "left")
          .select(col("doc_id"),
            round(col("dup2").cast("double") / col("tot2"), 6).as("dup_2gram_frac"),
            round(coalesce(col("dup3").cast("double") / col("tot3"), lit(0.0)), 6)
              .as("dup_3gram_frac"),
            round(col("top2").cast("double") / col("tot2"), 6).as("top_2gram_frac"))
          .withColumn("flagged",
            col("dup_2gram_frac") > 0.08 || col("dup_3gram_frac") > 0.02 ||
              col("top_2gram_frac") > 0.05)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, ' +'),
             |    x -> x <> '') AS ws FROM documents),
             |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
             |    i -> array_to_string(ws[i:i+1], ' '))) AS g FROM t WHERE len(ws) >= 2),
             |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
             |s2 AS (SELECT doc_id, sum(c) AS tot2,
             |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup2, max(c) AS top2
             |  FROM c2 GROUP BY 1),
             |g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
             |    i -> array_to_string(ws[i:i+2], ' '))) AS g FROM t WHERE len(ws) >= 3),
             |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
             |s3 AS (SELECT doc_id, sum(c) AS tot3,
             |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup3
             |  FROM c3 GROUP BY 1),
             |j AS (SELECT s2.doc_id,
             |    round(CAST(dup2 AS DOUBLE) / tot2, 6) AS dup_2gram_frac,
             |    round(coalesce(CAST(dup3 AS DOUBLE) / tot3, 0), 6) AS dup_3gram_frac,
             |    round(CAST(top2 AS DOUBLE) / tot2, 6) AS top_2gram_frac
             |  FROM s2 LEFT JOIN s3 ON s2.doc_id = s3.doc_id)
             |SELECT *, (dup_2gram_frac > 0.08 OR dup_3gram_frac > 0.02 OR
             |           top_2gram_frac > 0.05) AS flagged
             |FROM j ORDER BY doc_id""".stripMargin)
    ),

    // Feature-hashed TF-IDF: the 100 TB variant of text_tfidf_top. The
    // exact version shuffles on term STRINGS and joins a document-frequency
    // table whose size is the vocabulary — unbounded at corpus scale
    // (billions of distinct terms; the df side can't broadcast and the
    // string shuffle dominates). The hashing trick fixes the vocab
    // dimension at B buckets: df is now ≤ B rows (broadcast it — asserted
    // with an explicit broadcast()), shuffle keys are 8-byte ints, and
    // memory is bounded no matter the corpus. Collisions merge term counts
    // — the standard, accepted trade of hashed features. Bucket =
    // md5-prefix mod B so both engines compute it bit-identically
    // (xxhash64 is Spark-only).
    QueryDef(
      "text_tfidf_hashed",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val B = 4096
        val toks = T(s, d, "documents")
          .select(col("doc_id"), explode(expr(
            "filter(split(text, ' +'), x -> x != '')")).as("term"))
          .withColumn("bucket",
            expr(s"cast(conv(substring(md5(term), 1, 8), 16, 10) as bigint) % $B"))
        val tf = toks.groupBy("doc_id", "bucket").agg(count(lit(1)).as("tf"))
        val dfb = toks.select("doc_id", "bucket").distinct()
          .groupBy("bucket").agg(count(lit(1)).as("df"))
        val n = T(s, d, "documents").agg(count(lit(1)).as("n"))
        val scored = tf.join(broadcast(dfb), "bucket").crossJoin(broadcast(n))
          .withColumn("tfidf",
            round(col("tf") * log(col("n").cast("double") / col("df")), 6))
        val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("bucket"))
        scored.withColumn("rk", row_number().over(w))
          .where(col("rk") === 1)
          .select(col("doc_id"), col("bucket"), col("tfidf"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id,
             |    CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 4096 AS bucket
             |  FROM (SELECT doc_id, unnest(list_filter(
             |      string_split_regex(text, ' +'), x -> x <> '')) AS term FROM documents)),
             |tf AS (SELECT doc_id, bucket, count(*) AS tf FROM toks GROUP BY 1, 2),
             |df AS (SELECT bucket, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |scored AS (SELECT doc_id, bucket,
             |    round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
             |  FROM tf JOIN df USING (bucket) CROSS JOIN n),
             |top AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY tfidf DESC, bucket) AS rk FROM scored)
             |SELECT doc_id, bucket, tfidf FROM top WHERE rk = 1
             |ORDER BY doc_id""".stripMargin)
    ),

    // Feature-hashed PMI: same trick applied to text_pmi_bigrams' unigram
    // side. Exact PMI joins the bigram table to the unigram table TWICE on
    // word strings; at corpus scale the unigram table is vocabulary-sized.
    // Hashed, the unigram counts collapse to ≤ B rows and both lookups
    // become one broadcast join on int keys; bigram counts still aggregate
    // exactly (their key stays the word pair, pruned to the top slice
    // before the join). Collisions only INFLATE a denominator — a bounded,
    // deterministic bias both engines reproduce identically.
    QueryDef(
      "text_pmi_hashed",
      (s, d) => {
        val B = 4096
        val bucket = (c: String) =>
          expr(s"cast(conv(substring(md5($c), 1, 8), 16, 10) as bigint) % $B")
        val toks = T(s, d, "documents")
          .withColumn("ws", expr("filter(split(text, ' +'), x -> x != '')"))
        val uni = toks.select(explode(col("ws")).as("w"))
          .groupBy(bucket("w").as("bw")).agg(count(lit(1)).as("c1"))
        val bi = toks.where(size(col("ws")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(ws) - 1), i -> struct(element_at(ws, i) AS a, element_at(ws, i + 1) AS b))"))
            .as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("cab"))
        val tot = bi.agg(sum("cab").as("t"))
        bi.withColumn("ba", bucket("a")).withColumn("bb", bucket("b"))
          .join(broadcast(uni.select(col("bw").as("ba"), col("c1").as("ca"))), "ba")
          .join(broadcast(uni.select(col("bw").as("bb"), col("c1").as("cb"))), "bb")
          .crossJoin(broadcast(tot))
          .withColumn("pmi", round(log(
            col("cab").cast("double") * col("t").cast("double") /
              (col("ca").cast("double") * col("cb").cast("double"))), 6))
          .orderBy(col("cab").desc, col("a"), col("b"))
          .select(col("a"), col("b"), col("cab"), col("pmi"))
          .limit(20)
      },
      Some("""WITH t AS (SELECT list_filter(string_split_regex(text, ' +'), x -> x <> '') AS ws
             |  FROM documents),
             |uni AS (SELECT unnest(ws) AS w FROM t),
             |u AS (SELECT CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 4096 AS bw,
             |    count(*) AS c1 FROM uni GROUP BY 1),
             |bi AS (SELECT unnest(list_transform(range(1, len(ws)),
             |    i -> struct_pack(a := ws[i], b := ws[i+1]))) AS p
             |  FROM t WHERE len(ws) >= 2),
             |b2 AS (SELECT p.a AS a, p.b AS b, count(*) AS cab FROM bi GROUP BY 1, 2),
             |tot AS (SELECT CAST(sum(cab) AS BIGINT) AS t FROM b2)
             |SELECT a, b, cab,
             |  round(ln(CAST(cab AS DOUBLE) * t / (ua.c1 * ub.c1)), 6) AS pmi
             |FROM b2
             |JOIN u ua ON CAST(('0x' || substr(md5(a), 1, 8)) AS BIGINT) % 4096 = ua.bw
             |JOIN u ub ON CAST(('0x' || substr(md5(b), 1, 8)) AS BIGINT) % 4096 = ub.bw
             |CROSS JOIN tot
             |ORDER BY cab DESC, a, b LIMIT 20""".stripMargin)
    ),

    // BM25 document ranking (Okapi, k1=1.2 b=0.75) for a fixed query term
    // set — the retrieval scorer a corpus-search / data-curation pipeline
    // runs ahead of embedding search. Scale shape: tokens are filtered to
    // the query terms BEFORE the tf groupBy (the explode never leaves the
    // map side for non-query tokens); df and the (N, avgdl) corpus stats
    // are tiny scalar/per-term aggregates that broadcast; the only
    // data-sized shuffles are the per-doc tf groupBy and the dl join on
    // doc_id. Cross-engine determinism: per-term scores are rounded to 6
    // decimals and DECIMAL-summed (order-independent), same recipe as the
    // perplexity family.
    QueryDef(
      "text_bm25_rank",
      (s, d) => {
        val terms = Seq("spark", "window", "hash")
        val toks = T(s, d, "documents")
          .select(col("doc_id"), expr("filter(split(text, ' +'), x -> x != '')").as("ws"))
        val dl = toks.select(col("doc_id"), size(col("ws")).cast("bigint").as("dl"))
        val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
        val tf = toks.select(col("doc_id"), explode(col("ws")).as("w"))
          .where(col("w").isin(terms: _*))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        val dfT = tf.groupBy("w").agg(count(lit(1)).as("df"))
        tf.join(broadcast(dfT), "w")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("sterm", expr(
            """CAST(round(ln((n - df + 0.5D) / (df + 0.5D) + 1.0D) * tf * 2.2D /
              |  (tf + 1.2D * (0.25D + 0.75D * dl / avgdl)), 6) AS DECIMAL(18,6))"""
              .stripMargin))
          .groupBy("doc_id")
          .agg(sum("sterm").cast("double").as("bm25"),
            count(lit(1)).cast("long").as("n_terms"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(10)
      },
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split_regex(text, ' +'), x -> x <> '') AS ws
             |  FROM documents),
             |dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM t),
             |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
             |tf AS (SELECT doc_id, w, count(*) AS tf
             |  FROM (SELECT doc_id, unnest(ws) AS w FROM t)
             |  WHERE w IN ('spark', 'window', 'hash') GROUP BY 1, 2),
             |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
             |sc AS (SELECT tf.doc_id,
             |    CAST(round(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0) * tf.tf * 2.2 /
             |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)), 6) AS DECIMAL(18,6)) AS sterm
             |  FROM tf JOIN df USING (w) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st)
             |SELECT doc_id, CAST(sum(sterm) AS DOUBLE) AS bm25,
             |  count(*) AS n_terms
             |FROM sc GROUP BY doc_id
             |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin)
    ),

    // MLM span-mask planning: deterministically select ~15% of token
    // positions per document via an md5 coin (both engines compute md5
    // bit-identically, so the mask is reproducible across engines, runs,
    // and restarts — the property an MLM data pipeline needs so a resumed
    // job masks the same positions). Pure map-side explode + one per-doc
    // re-aggregation; no corpus-sized state anywhere, so the plan is flat
    // at 100 TB.
    QueryDef(
      "text_mask_plan",
      (s, d) => {
        val toks = T(s, d, "documents")
          .select(col("doc_id"), posexplode(
            expr("filter(split(text, ' +'), x -> x != '')")).as(Seq("pos", "w")))
          .withColumn("coin", expr(
            "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', CAST(pos AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100"))
        toks
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_tokens"),
            sum(when(col("coin") < 15, 1L).otherwise(0L)).cast("long").as("n_masked"),
            sum(when(col("coin") < 15, col("pos").cast("long") + 1L)
              .otherwise(0L)).cast("long").as("pos_checksum"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split_regex(text, ' +'), x -> x <> '') AS ws
             |  FROM documents),
             |toks AS (SELECT doc_id, unnest(range(len(ws))) AS pos FROM t),
             |coins AS (SELECT doc_id, pos,
             |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 8))
             |      AS BIGINT) % 100 AS coin
             |  FROM toks)
             |SELECT doc_id, count(*) AS n_tokens,
             |  CAST(sum(CASE WHEN coin < 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
             |  CAST(sum(CASE WHEN coin < 15 THEN pos + 1 ELSE 0 END) AS BIGINT) AS pos_checksum
             |FROM coins GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // N-gram novelty scoring: per document, the fraction of its distinct
    // word trigrams NOT seen in any earlier (lower doc_id) document — the
    // corpus-order novelty measure dedup research uses to quantify how
    // much fresh text each additional document contributes. Global state
    // is the gram → first-doc table built by ONE min-aggregation shuffle
    // on the gram key; the doc side re-joins co-partitioned on the same
    // key. Novelty is integer basis points.
    QueryDef(
      "text_ngram_novelty",
      (s, d) => {
        val g = T(s, d, "documents")
          .select(col("doc_id"), expr("filter(split(text, ' +'), x -> x != '')").as("ws"))
          .where(size(col("ws")) >= 3)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(1, size(ws) - 2), i ->
              |  concat(element_at(ws, i), ' ', element_at(ws, i + 1), ' ',
              |         element_at(ws, i + 2)))""".stripMargin)).as("gram"))
          .distinct()
        val first = g.groupBy("gram").agg(min("doc_id").as("first_doc"))
        g.join(first, "gram")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .cast("long").as("n_novel"))
          .withColumn("novelty_bp", expr("(n_novel * 10000) div n_grams"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split_regex(text, ' +'), x -> x <> '') AS ws
             |  FROM documents),
             |g AS (SELECT DISTINCT doc_id,
             |    unnest(list_transform(range(1, len(ws) - 1),
             |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS gram
             |  FROM t WHERE len(ws) >= 3),
             |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1)
             |SELECT doc_id, count(*) AS n_grams,
             |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             |  (CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) * 10000)
             |    // count(*) AS novelty_bp
             |FROM g JOIN f USING (gram) GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // Length-bucketed batch assignment — the batching step of a training
    // pipeline that groups similar-length documents (width-32 token
    // buckets) and carves each bucket into fixed-size batches of 8 in
    // doc_id order. The global per-bucket row number is computed WITHOUT a
    // single-partition window: phase 1 ranks locally within (bucket,
    // salt) where salt = doc_id div 100 is MONOTONE in the sort key, so
    // ranks don't interleave across salts; phase 2 turns per-(bucket,
    // salt) counts into cumulative offsets with a window over the tiny
    // (bucket × salt) frame and broadcasts them back. At 100 TB the big
    // side shuffles once on (bucket, salt) — thousands of balanced
    // partitions — instead of one executor sorting an entire bucket (the
    // classic row_number() scale trap). The oracle states the same thing
    // as the plain global window.
    QueryDef(
      "text_length_bucket_batches",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val dl = T(s, d, "documents").select(col("doc_id"),
            expr("CAST(size(filter(split(text, ' +'), x -> x != '')) AS BIGINT)").as("n_tok"))
          .withColumn("bucket", expr("((n_tok + 31L) div 32L) * 32L"))
          .withColumn("salt", expr("doc_id div 100L"))
        val wLocal = Window.partitionBy("bucket", "salt").orderBy("doc_id")
        val local = dl.withColumn("lrk", row_number().over(wLocal).cast("long"))
        val wOff = Window.partitionBy("bucket").orderBy("salt")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = dl.groupBy("bucket", "salt").agg(count(lit(1)).as("cnt"))
          .withColumn("off", coalesce(sum("cnt").over(wOff), lit(0L)))
          .select("bucket", "salt", "off")
        local.join(broadcast(offs), Seq("bucket", "salt"))
          .withColumn("rn", col("lrk") + col("off"))
          .withColumn("batch", expr("(rn - 1L) div 8L"))
          .groupBy("bucket", "batch")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum("n_tok").cast("long").as("tok_sum"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
          .orderBy("bucket", "batch")
      },
      Some("""WITH dl AS (SELECT doc_id,
             |    CAST(len(list_filter(string_split_regex(text, ' +'), x -> x <> '')) AS BIGINT) AS n_tok
             |  FROM documents),
             |b AS (SELECT doc_id, n_tok, ((n_tok + 31) // 32) * 32 AS bucket FROM dl),
             |r AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn FROM b)
             |SELECT bucket, (rn - 1) // 8 AS batch, count(*) AS n_docs,
             |  CAST(sum(n_tok) AS BIGINT) AS tok_sum,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM r GROUP BY 1, 2 ORDER BY bucket, batch""".stripMargin)
    ),

    // Boilerplate detection: the top-20 exact 8-token spans that repeat
    // across documents (>= 2 distinct docs), ranked by reach then volume.
    // This is the reporting face of dedup_ngram_spans — the spans a curation
    // pass would strip corpus-wide (headers, footers, license blurbs).
    // Scale shape: map-side window explode, one groupBy on the span string
    // (partial aggs bound the shuffle to distinct spans), and a
    // TakeOrderedAndProject top-k — no global sort materializes. The tie
    // order (n_docs desc, n_occurrences desc, ngram asc) is total, so the
    // k rows are deterministic cross-engine.
    QueryDef(
      "text_dup_ngrams_top",
      (s, d) => {
        val K = 8
        T(s, d, "documents")
          .withColumn("ws", expr("filter(split(text, ' +'), x -> x != '')"))
          .where(size(col("ws")) >= K)
          .select(col("doc_id"), explode(expr(
            s"transform(sequence(1, size(ws) - ${K - 1}), i -> concat_ws(' ', slice(ws, i, $K)))")).as("ngram"))
          .groupBy("ngram")
          .agg(count(lit(1)).as("n_occurrences"), countDistinct("doc_id").as("n_docs"))
          .where(col("n_docs") >= 2)
          .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("ngram"))
          .limit(20)
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, ' +'),
             |        x -> x <> '') AS ws FROM documents),
             |w0 AS (SELECT doc_id, unnest(range(1, len(ws) - 6)) AS pos, ws
             |       FROM t WHERE len(ws) >= 8),
             |w AS (SELECT doc_id, array_to_string(ws[pos:pos+7], ' ') AS ngram
             |      FROM w0)
             |SELECT ngram, count(*) AS n_occurrences,
             |  count(DISTINCT doc_id) AS n_docs
             |FROM w GROUP BY ngram HAVING count(DISTINCT doc_id) >= 2
             |ORDER BY n_docs DESC, n_occurrences DESC, ngram LIMIT 20""".stripMargin)
    ),

    // Tokenizer-coverage metric: per-doc out-of-vocabulary rate against the
    // corpus top-16 token vocabulary ((count desc, token) total order) —
    // the coverage question asked before freezing any vocab: how much of
    // each document a fixed vocabulary fails to cover. Scale shape: the
    // vocab is a top-k aggregate (TakeOrderedAndProject) broadcast to a
    // map-side membership probe; one token-explode, one per-doc rollup.
    QueryDef("text_oov_rate",
      (s, d) => {
        val toks = T(s, d, "documents")
          .select(col("doc_id"),
            explode(expr("filter(split(text, ' +'), x -> x != '')")).as("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok")).limit(16)
          .select(col("tok"), lit(1L).as("in_v"))
        toks.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("doc_id"), col("n_tokens"), col("n_oov"),
            expr("(10000 * n_oov) div n_tokens").as("oov_bp"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id,
             |    unnest(list_filter(string_split_regex(text, ' +'), x -> x <> '')) AS tok
             |  FROM documents),
             |v AS (SELECT tok FROM (
             |    SELECT tok, count(*) AS c FROM toks GROUP BY tok
             |    ORDER BY c DESC, tok LIMIT 16)),
             |p AS (SELECT doc_id, count(*) AS n_tokens,
             |    CAST(sum(CASE WHEN tok IN (SELECT tok FROM v) THEN 0 ELSE 1 END)
             |      AS BIGINT) AS n_oov
             |  FROM toks GROUP BY doc_id)
             |SELECT doc_id, n_tokens, n_oov,
             |  (10000 * n_oov) // n_tokens AS oov_bp
             |FROM p ORDER BY doc_id""".stripMargin)
    ),

    // Vocabulary concentration (nucleus / top-p analysis): per source, the
    // smallest token set covering >= 90% of token mass — how concentrated
    // each slice's vocabulary is, the number that tells you whether a
    // small fixed vocab will serve a source or starve it. A token is in
    // the nucleus iff the mass BEFORE it (count-desc, token-asc total
    // order) is under 90% — so the first token crossing the line is
    // included, all integer cross-multiplied arithmetic. Scale shape: one
    // (source, token) count shuffle, a per-source window over the DISTINCT
    // vocab (vocab-sized, not corpus-sized), totals broadcast.
    QueryDef("text_nucleus_vocab",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tc = T(s, d, "documents")
          .select(col("source"),
            explode(expr("filter(split(text, ' +'), x -> x != '')")).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        val tot = tc.groupBy("source")
          .agg(sum("c").as("total"), count(lit(1)).as("n_distinct"))
        val w = Window.partitionBy("source").orderBy(col("c").desc, col("tok"))
        tc.withColumn("cum", sum("c").over(w))
          .join(broadcast(tot), "source")
          .where(expr("(cum - c) * 10 < total * 9"))
          .groupBy("source")
          .agg(count(lit(1)).as("nucleus_sz"), min("n_distinct").as("n_distinct"),
            expr("(10000 * max(cum)) div min(total)").as("coverage_bp"))
          .orderBy("source")
      },
      Some("""WITH toks AS (SELECT source,
             |    unnest(list_filter(string_split_regex(text, ' +'), x -> x <> '')) AS tok
             |  FROM documents),
             |tc AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
             |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS total,
             |    count(*) AS n_distinct FROM tc GROUP BY 1),
             |r AS (SELECT tc.source, tc.c, tot.total, tot.n_distinct,
             |    sum(tc.c) OVER (PARTITION BY tc.source
             |      ORDER BY tc.c DESC, tc.tok) AS cum
             |  FROM tc JOIN tot USING (source))
             |SELECT source, CAST(count(*) AS BIGINT) AS nucleus_sz,
             |  min(n_distinct) AS n_distinct,
             |  (10000 * CAST(max(cum) AS BIGINT)) // min(total) AS coverage_bp
             |FROM r WHERE (cum - c) * 10 < total * 9
             |GROUP BY source ORDER BY source""".stripMargin)
    )
  )
}
