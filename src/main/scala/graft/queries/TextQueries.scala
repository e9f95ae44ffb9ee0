package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Caches.persist
import graft.ops._
import graft.functions.Portable
import graft.functions.Portable.r6
import Shared._

/** Text-corpus keys (`text_*`). */
private[graft] object TextQueries {

  val queries: Seq[Q] = Seq(
    Q("text_langid",
      (s, d) => {
        TextOps.langId(Tables.documents(s, d), col("doc_id"), col("text"),
          langProfiles(s), idName = "doc_id")
      },
      raw"""WITH $langProfilesSql,
              toks AS (SELECT doc_id,
                         unnest(string_split_regex(lower(trim(text)),
                           '\s+')) AS word
                       FROM documents),
              hits AS (SELECT t.doc_id, p.lang, count(*) AS n
                       FROM toks t JOIN profiles p USING (word)
                       GROUP BY 1, 2),
              best AS (SELECT doc_id, lang,
                         row_number() OVER (PARTITION BY doc_id
                           ORDER BY n DESC, lang) AS r
                       FROM hits)
              SELECT d.doc_id, coalesce(b.lang, 'und') AS pred_lang
              FROM documents d
              LEFT JOIN (SELECT doc_id, lang FROM best WHERE r = 1) b
                USING (doc_id)"""),

    Q("text_quality",
      (s, d) => TextOps.qualityFeatures(Tables.documents(s, d), col("text"),
          Seq("the", "a"))
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("n_words").cast("long").as("n_words"),
          col("avg_word_len"), col("stopword_ratio"), col("punct_ratio")),
      """SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                  AS n_words,
                CAST(length(text) - (len(string_split_regex(trim(text), '\s+')) - 1)
                  AS DOUBLE) / len(string_split_regex(trim(text), '\s+'))
                  AS avg_word_len,
                CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                    x -> x = 'the' OR x = 'a')) AS DOUBLE)
                  / len(string_split_regex(trim(text), '\s+'))
                  AS stopword_ratio,
                CAST(length(text) -
                    length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))
                  AS DOUBLE) / length(text) AS punct_ratio
              FROM documents"""),

    Q("text_tokens",
      (s, d) => Par.widen(Tables.documents(s, d)).select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.pieceCount(col("text")).cast("long").as("n_pieces")),
      """SELECT doc_id,
                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                  AS n_tokens,
                CAST(len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_pieces
              FROM documents"""),

    Q("text_fingerprint",
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp")),
      """SELECT doc_id,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(
                      string_split_regex(lower(trim(text)), '\s+'),
                      t -> CAST(concat('0x', substr(md5(t), 1, 7))
                        AS BIGINT))),
                  (acc, h) -> (acc * 1000003 + h) % 2147483647) AS fp
              FROM documents"""),

    // PII scrubbing (email redaction) — synthetic emails are planted so
    // the scrubber provably has signal; output is the redaction count +
    // content hash of the scrubbed text (scalar compare). The regex is
    // deliberately in the Java ∩ RE2 dialect subset so Spark and the
    // oracle match byte-for-byte.
    Q("text_pii_scrub",
      (s, d) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val planted = Tables.documents(s, d).select(col("doc_id"),
          concat(lit("contact user"), col("doc_id").cast("string"),
            lit("@example.com or +41 79 "),
            (col("doc_id") % 1000).cast("string"), lit(" 00 11 re: "),
            col("text")).as("text"))
        planted.select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
            .cast("long").as("n_emails"),
          sha2(regexp_replace(col("text"), emailRe, "<EMAIL>"), 256)
            .as("scrubbed_hash"))
      },
      """WITH planted AS (SELECT doc_id,
                  concat('contact user', doc_id, '@example.com or +41 79 ',
                    doc_id % 1000, ' 00 11 re: ', text) AS text
                FROM documents)
              SELECT doc_id,
                CAST(len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                  AS BIGINT) AS n_emails,
                sha256(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g')) AS scrubbed_hash
              FROM planted"""),

    // Gopher-style repetition signals per document: distinct-token
    // ratio and most-frequent-bigram share. The token array
    // materializes in its own projection (no lambda-CSE re-split; see
    // Dedup.shinglesFromTokens); the top-bigram count goes through
    // explode + groupBy rather than a per-row nested-lambda scan —
    // the lambda form is O(distinct_bigrams × bigrams) inside ONE task
    // per document, quadratic in document length, while the aggregate
    // form is corpus-linear with ordinary parallelism (max(count) /
    // sum(count) ≡ top bigram share, since sum of counts = |bigrams|)
    Q("text_repetition",
      (s, d) => {
        // token/bigram explosion is CPU-bound: widen the few-file scan
        val toksed = Par.widen(Tables.documents(s, d))
          .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 2)
        val tokStats = toksed.select(col("doc_id"),
          r6(size(array_distinct(col("toks"))).cast("double") /
            size(col("toks"))).as("distinct_tok_ratio"))
        val bgAgg = toksed
          .select(col("doc_id"),
            // explode_outer: ≥2-token docs always yield ≥1 bigram, and a
            // plain explode would infer size>0 and re-build the bigram
            // array (split inlined per element) below this projection
            explode_outer(transform(sequence(lit(1), size(col("toks")) - 1),
              i => concat_ws(" ", slice(col("toks"), i, lit(2))))).as("b"))
          .groupBy(col("doc_id"), col("b"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("doc_id"))
          .agg(r6(max(col("cnt")).cast("double") / sum(col("cnt")))
            .as("top_bigram_ratio"))
        tokStats.join(bgAgg, Seq("doc_id"))
      },
      s"""WITH base AS (SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS toks
                     FROM documents),
              b AS (SELECT doc_id, toks,
                      list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i+1]) AS bg
                    FROM base WHERE len(toks) >= 2)
              SELECT doc_id,
                ${Portable.r6Sql("CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)")} AS distinct_tok_ratio,
                ${Portable.r6Sql("CAST(list_max(list_transform(list_distinct(bg), x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg)")} AS top_bigram_ratio
              FROM b"""),

    // corpus-wide vocabulary heavy hitters: token frequency top-20 with
    // a deterministic tie-break. orderBy+limit plans as TakeOrdered
    // (per-partition top-k + driver merge of k rows), so no global sort
    // ever materializes; the row_number window then runs on 20 rows.
    Q("text_vocab_topk",
      (s, d) => {
        val counts = Tables.documents(s, d)
          .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
          // explode_outer: token arrays are never empty (see the
          // contamination note) — avoids the inferred size>0 re-split
          .select(explode_outer(col("toks")).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("n"))
        counts.orderBy(col("n").desc, col("token")).limit(20)
          .withColumn("rk", row_number()
            .over(Window.orderBy(col("n").desc, col("token"))).cast("int"))
          .select(col("rk"), col("token"), col("n"))
      },
      s"""WITH tok AS (SELECT
                       unnest(string_split_regex(lower(trim(text)), '\\s+'))
                         AS token
                     FROM documents),
              c AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
              r AS (SELECT token, n,
                      CAST(row_number() OVER (ORDER BY n DESC, token)
                        AS INTEGER) AS rk
                    FROM c)
              SELECT rk, token, n FROM r WHERE rk <= 20"""),

    // stride-windowed token chunking (the RAG / pretraining chunker):
    // 32-token windows every 24 tokens, last window short, >=1 chunk
    // per doc. Pure explode over Column exprs — fanout is data-derived
    Q("text_chunk",
      (s, d) => TextOps.chunk(Tables.documents(s, d), col("doc_id"),
        col("text"), size = 32, stride = 24),
      s"""WITH base AS (SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS toks
                     FROM documents),
              c AS (SELECT doc_id, toks,
                      unnest(range(0, greatest(CAST(ceil((len(toks)-32)/24.0)
                        AS INT), 0) + 1)) AS k
                    FROM base)
              SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
                CAST(len(list_slice(toks, k*24+1, k*24+32)) AS INTEGER)
                  AS n_tokens,
                array_to_string(list_slice(toks, k*24+1, k*24+32), ' ')
                  AS chunk_text
              FROM c"""),

    // concatenate-and-split sequence packing: every doc's position in
    // the endless token stream cut into 256-token training sequences.
    // The global running sum comes from ScalableRank.globalPrefixSum
    // (bucket totals → broadcast offsets → within-bucket sum), so no
    // global sort / single-partition window ever materializes
    Q("text_pack_sequences",
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"))
        ScalableRank.packSequences(base, floor(col("doc_id") / 100),
          Seq(col("doc_id")), col("n_tokens"), seqLen = 256)
      },
      s"""WITH base AS (SELECT doc_id,
                       CAST(len(string_split_regex(lower(trim(text)),
                         '\\s+')) AS BIGINT) AS n_tokens
                     FROM documents),
              p AS (SELECT doc_id, n_tokens,
                      coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS pref
                    FROM base)
              SELECT doc_id, n_tokens, CAST(pref // 256 AS BIGINT) AS seq_id,
                CAST(pref % 256 AS BIGINT) AS seq_offset FROM p"""),

    // unigram-LM document scoring: corpus token frequencies (vocab =
    // count ≥ 500, which makes the planted "dup" token the one OOV
    // word), broadcast vocabulary, per-doc mean log10 probability —
    // the cheap perplexity proxy of a curation pipeline
    Q("text_unigram_logprob",
      (s, d) => TextOps.unigramLogProb(Tables.documents(s, d),
        col("doc_id"), col("text"), minCount = 500L),
      raw"""WITH tok AS (SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)),
                         '\s+')) AS t
                     FROM documents),
              f AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
              tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM f),
              v AS (SELECT t, c FROM f WHERE c >= 500)
              SELECT doc_id,
                ${Portable.r6Sql("avg(log10(coalesce(v.c, 1) / (SELECT n FROM tot)))")} AS avg_logprob,
                count(*) AS n_tokens,
                count(*) FILTER (WHERE v.c IS NULL) AS n_oov
              FROM tok LEFT JOIN v USING (t) GROUP BY doc_id"""),

    // BM25 corpus scoring against a fixed query-term probe: per-term tf
    // via size(filter(tokens)) — pure codegen, no explode, no token
    // shuffle; single-row corpus stats broadcast back; fixed-order float
    // sum so the doubles reproduce bit-for-bit (see TextOps.bm25TopK).
    // Oracle mirrors the expression tree exactly — incl. (1.2 + 1.0)
    // computed IN-ENGINE both sides, since the Scala-side k1+1 constant
    // folds to a double that the SQL literal 2.2 would not equal
    Q("text_bm25",
      (s, d) => TextOps.bm25TopK(Tables.documents(s, d), col("doc_id"),
        col("text"), Seq("hash", "join", "scan"), topK = 50),
      s"""WITH base AS (
                SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
                  CAST(len(list_filter(toks, t -> t = 'hash')) AS DOUBLE)
                    AS tf0,
                  CAST(len(list_filter(toks, t -> t = 'join')) AS DOUBLE)
                    AS tf1,
                  CAST(len(list_filter(toks, t -> t = 'scan')) AS DOUBLE)
                    AS tf2
                FROM (SELECT doc_id, string_split_regex(lower(trim(text)),
                        '\\s+') AS toks FROM documents)),
              st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
                       sum(CAST(tf0 > 0 AS DOUBLE)) AS df0,
                       sum(CAST(tf1 > 0 AS DOUBLE)) AS df1,
                       sum(CAST(tf2 > 0 AS DOUBLE)) AS df2
                     FROM base),
              sc AS (SELECT doc_id, ${Portable.r6Sql(
                "ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * (1.2 + 1.0)) / (tf0 + 1.2 * " +
                  "(0.25 + (0.75 * dl) / avgdl)) + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * " +
                  "(tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * (0.25 + (0.75 * dl) / avgdl)) + ln((n - " +
                  "df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * (0.25 + " +
                  "(0.75 * dl) / avgdl))")} AS bm25
                FROM base, st)
              SELECT doc_id, bm25 FROM sc WHERE bm25 > 0
              ORDER BY bm25 DESC, doc_id LIMIT 50"""),

    // bigram-LM document scoring with hapax counts — the proper
    // conditional p(w2|w1) over the corpus's own bigram statistics; the
    // planted "dup dup dup" runs surface as high-probability repeats,
    // garbled text as hapax-heavy (see TextOps.bigramLogProb)
    Q("text_bigram_logprob",
      (s, d) => TextOps.bigramLogProb(Tables.documents(s, d),
        col("doc_id"), col("text")),
      s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(
                      text)), '\\s+') AS toks FROM documents),
              b AS (SELECT doc_id,
                      unnest(list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1])) AS bg
                    FROM t WHERE len(toks) >= 2),
              bc AS (SELECT bg, count(*) AS c2 FROM b GROUP BY 1),
              uc AS (SELECT string_split(bg, ' ')[1] AS w1, sum(c2) AS c1
                    FROM bc GROUP BY 1),
              bcw AS (SELECT bg, c2, c1 FROM bc
                    JOIN uc ON string_split(bg, ' ')[1] = w1)
              SELECT doc_id,
                ${Portable.r6Sql("avg(log10(CAST(c2 AS DOUBLE) / c1))")}
                  AS avg_logprob,
                CAST(count(*) AS BIGINT) AS n_bigrams,
                CAST(sum(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hapax
              FROM b JOIN bcw USING (bg)
              GROUP BY doc_id"""),

    // per-doc top-3 keywords by tf·idf over the corpus's own statistics;
    // scores rounded before ranking so ties break identically
    Q("text_keyword_extract",
      (s, d) => TextOps.keywordsTopK(Tables.documents(s, d),
        col("doc_id"), col("text"), k = 3)
        .select(col("doc_id"), col("token"), col("rank"), col("score")),
      raw"""WITH tok AS (SELECT doc_id,
                      unnest(string_split_regex(lower(trim(text)), '\s+'))
                        AS token
                    FROM documents),
              tf AS (SELECT doc_id, token, count(*) AS tf
                    FROM tok GROUP BY 1, 2),
              df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              n AS (SELECT count(*) AS n FROM documents),
              sc AS (SELECT tf.doc_id, tf.token,
                      ${Portable.r6Sql("tf.tf * ln(n.n * 1.0 / df.df)")} AS score
                    FROM tf JOIN df USING (token) CROSS JOIN n),
              r AS (SELECT doc_id, token, score,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, token) AS rank
                    FROM sc)
              SELECT doc_id, token, CAST(rank AS INTEGER) AS rank, score
              FROM r WHERE rank <= 3"""),

    // corpus-wide duplicate-chunk scrub (line-level dedup): exact copies
    // planted (doc_id + 10^6) so every chunk has a duplicate; the
    // canonical first occurrence survives, every other copy is removed
    Q("text_chunk_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = docs.unionByName(
          docs.withColumn("doc_id", col("doc_id") + 1000000L))
        TextOps.chunkDedup(corpus, col("doc_id"), col("text"), size = 16)
      },
      """WITH docs2 AS (SELECT doc_id, text FROM documents
                    UNION ALL
                    SELECT doc_id + 1000000, text FROM documents),
              base AS (SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS toks
                     FROM docs2),
              c AS (SELECT doc_id, toks,
                      unnest(range(0, greatest(CAST(
                        ceil((len(toks) - 16) / 16.0) AS INT), 0) + 1)) AS k
                    FROM base),
              ch AS (SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
                       len(list_slice(toks, k * 16 + 1, k * 16 + 16))
                         AS n_tokens,
                       CAST(concat('0x', substr(md5(array_to_string(
                         list_slice(toks, k * 16 + 1, k * 16 + 16), ' ')),
                         1, 15)) AS BIGINT) AS h
                     FROM c),
              r AS (SELECT doc_id, n_tokens,
                      CASE WHEN row_number() OVER (PARTITION BY h
                        ORDER BY doc_id, chunk_id) = 1 THEN 1 ELSE 0 END
                        AS keep
                    FROM ch)
              SELECT doc_id, CAST(sum(keep) AS BIGINT) AS chunks_kept,
                CAST(sum(1 - keep) AS BIGINT) AS chunks_removed,
                CAST(sum(keep * n_tokens) AS BIGINT) AS tokens_kept
              FROM r GROUP BY 1"""),

    // BPE merge-candidate statistics (ops/TextOps.adjacentPairStats):
    // top-20 adjacent token-pair frequencies — the per-round statistic
    // of a BPE/WordPiece trainer, as one pair fanout + one combinable
    // count + a bounded sort-limit.
    Q("text_bpe_pair_stats",
      (s, d) => TextOps.adjacentPairStats(
        Tables.documents(s, d), col("text"), k = 20),
      """WITH tok AS (SELECT
                    string_split_regex(lower(trim(text)), '\s+') AS t
                  FROM documents),
              x AS (SELECT t, unnest(range(1, len(t))) AS i
                FROM tok WHERE len(t) >= 2),
              p AS (SELECT t[CAST(i AS INT)] AS a,
                  t[CAST(i AS INT) + 1] AS b FROM x),
              cnt AS (SELECT a, b, count(*) AS n FROM p GROUP BY 1, 2),
              r AS (SELECT a, b, n,
                  CAST(row_number() OVER (ORDER BY n DESC, a, b)
                    AS INTEGER) AS rk
                FROM cnt)
              SELECT rk, a, b, n FROM r WHERE rk <= 20"""),

    // PMI collocation mining: pointwise mutual information of adjacent
    // token pairs, ln(c12·N / (c1·c2)) with marginals taken over the
    // PAIR population (the standard collocation estimator). Support
    // floor c12 ≥ 5 kills noise pairs before the marginal joins; the
    // final top-50 sort runs over the surviving collocations only.
    Q("text_pmi_bigrams",
      (s, d) => {
        val toks = Par.widen(Tables.documents(s, d))
          .select(Dedup.tokens(col("text")).as("__t"))
          .filter(size(col("__t")) >= 2)
        val pairs = toks.select(explode(transform(
            sequence(lit(1), size(col("__t")) - 1),
            i => struct(element_at(col("__t"), i).as("w1"),
              element_at(col("__t"), i + 1).as("w2")))).as("p"))
          .select(col("p.w1"), col("p.w2"))
          .filter(col("w1") =!= "" && col("w2") =!= "")
        // every downstream table derives from the ONE (w1, w2) count
        // aggregate (r18): the old shape re-ran the tokenize + pair-
        // explode corpus pass four times (n, big, u1, u2 each keyed
        // differently, so nothing reused); now all four consumers sit
        // above the same (w1, w2) exchange — AQE's ReusedExchange runs
        // the corpus pass once — and the marginals/total are exact sums
        // of c12 over the (much smaller) distinct-bigram table
        val bc = pairs.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c12"))
        val n = bc.agg(sum(col("c12")).cast("double").as("n"))
        val big = bc.filter(col("c12") >= 5)
        val u1 = bc.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
        val u2 = bc.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
        big.join(u1, "w1").join(u2, "w2").crossJoin(broadcast(n))
          .select(col("w1"), col("w2"), col("c12"),
            r6(log(col("c12").cast("double") * col("n") /
              (col("c1") * col("c2")))).as("pmi"))
          .orderBy(col("pmi").desc, col("w1"), col("w2"))
          .limit(50)
      },
      raw"""WITH toks AS (SELECT string_split_regex(
                    lower(trim(text)), '\s+') AS ts FROM documents),
              pairs AS (SELECT ts[i] AS w1, ts[i + 1] AS w2
                FROM toks, unnest(range(1, len(ts))) AS t(i)
                WHERE ts[i] <> '' AND ts[i + 1] <> ''),
              n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM pairs),
              big AS (SELECT w1, w2, count(*) AS c12 FROM pairs
                GROUP BY 1, 2 HAVING count(*) >= 5),
              u1 AS (SELECT w1 AS w, count(*) AS c1 FROM pairs GROUP BY 1),
              u2 AS (SELECT w2 AS w, count(*) AS c2 FROM pairs GROUP BY 1)
              SELECT b.w1, b.w2, CAST(b.c12 AS BIGINT) AS c12,
                ${Portable.r6Sql("ln(b.c12 * (SELECT n FROM n) / (u1.c1 * u2.c2))")}
                  AS pmi
              FROM big b JOIN u1 ON u1.w = b.w1 JOIN u2 ON u2.w = b.w2
              ORDER BY pmi DESC, w1, w2 LIMIT 50"""),

    // Markup stripping — the first transform of any web-scraped corpus:
    // tag removal, entity removal, whitespace normalization. The
    // testdata is markup-free, so the query plants a deterministic
    // wrapper first (same wrap on both engines) — the regex chain is
    // what's under test. Pure per-row codegen'd string ops.
    Q("text_strip_markup",
      (s, d) => {
        val wrapped = concat(lit("<p class=\"body\">"), col("text"),
          lit("</p>\n<br/>&amp;&nbsp;"))
        val clean = trim(regexp_replace(regexp_replace(regexp_replace(
          wrapped, "<[^>]*>", " "), "&[a-z]+;", " "), "\\s+", " "))
        Tables.documents(s, d).select(col("doc_id"), clean.as("clean_text"),
          (length(wrapped) - length(clean)).as("n_stripped"))
      },
      """SELECT doc_id,
                trim(regexp_replace(regexp_replace(regexp_replace(
                  concat('<p class="body">', text,
                    '</p>' || chr(10) || '<br/>&amp;&nbsp;'),
                  '<[^>]*>', ' ', 'g'), '&[a-z]+;', ' ', 'g'),
                  '\s+', ' ', 'g')) AS clean_text,
                length(concat('<p class="body">', text,
                    '</p>' || chr(10) || '<br/>&amp;&nbsp;')) -
                  length(trim(regexp_replace(regexp_replace(
                    regexp_replace(concat('<p class="body">', text,
                      '</p>' || chr(10) || '<br/>&amp;&nbsp;'),
                    '<[^>]*>', ' ', 'g'), '&[a-z]+;', ' ', 'g'),
                    '\s+', ' ', 'g'))) AS n_stripped
              FROM documents"""),

    // Character-level Shannon entropy per document (non-whitespace
    // chars) — the classic low-entropy/boilerplate and high-entropy/
    // binary-noise corpus filter. Explode → per-doc frequency →
    // partition-local window for the total; entropy in one aggregate.
    Q("text_char_entropy",
      (s, d) => {
        // strip whitespace with ONE regex pass per document before the
        // char split (r18) — the old shape exploded first and ran an
        // rlike per character row (~a regex eval per corpus char); the
        // surviving char set is identical (a 1-char string matches
        // ^\S$ iff the char survives \s-removal)
        val ch = Par.widen(Tables.documents(s, d))
          .select(col("doc_id"),
            explode(split(regexp_replace(lower(col("text")), "\\s", ""),
              "")).as("c"))
          .filter(col("c") =!= "")
        val f = ch.groupBy(col("doc_id"), col("c"))
          .agg(count(lit(1)).as("cnt"))
        val n = sum(col("cnt")).over(Window.partitionBy(col("doc_id")))
        f.select(col("doc_id"), col("cnt"), n.as("n"))
          .groupBy(col("doc_id"))
          .agg(max(col("n")).as("n_chars_nospace"),
            r6(-sum((col("cnt") / col("n")) *
              log2(col("cnt") / col("n")))).as("entropy_bits"))
      },
      raw"""WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(
                    lower(text), '\S')) AS c
                FROM documents),
              f AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
              t AS (SELECT doc_id, c, cnt,
                  sum(cnt) OVER (PARTITION BY doc_id) AS n FROM f)
              SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars_nospace,
                ${Portable.r6Sql("-sum((cnt*1.0/n) * log2(cnt*1.0/n))")}
                  AS entropy_bits
              FROM t GROUP BY 1"""),

    // OCR/markup-noise heuristics per document: longest consonant run
    // + symbol ratio → gibberish flag — the cheap lexical screen that
    // runs before any model-based quality score. Pure per-row regex,
    // fully codegen'd, no shuffle at all.
    Q("text_gibberish_score",
      (s, d) => Par.widen(Tables.documents(s, d))
        .select(col("doc_id"),
          coalesce(array_max(transform(regexp_extract_all(
              lower(col("text")),
              lit("[bcdfghjklmnpqrstvwxz]+"), lit(0)),
            x => length(x))), lit(0)).cast("long").as("max_consonant_run"),
          (length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", "")) /
            greatest(length(col("text")), lit(1)).cast("double"))
            .as("sym_ratio"))
        .select(col("doc_id"), col("max_consonant_run"),
          r6(col("sym_ratio")).as("symbol_ratio"),
          when(col("max_consonant_run") >= 5 || col("sym_ratio") > 0.3, 1)
            .otherwise(0).as("is_gibberish")),
      raw"""WITH m AS (SELECT doc_id,
                  coalesce((SELECT max(length(r)) FROM unnest(
                    regexp_extract_all(lower(text),
                      '[bcdfghjklmnpqrstvwxz]+')) AS u(r)), 0)
                    AS max_consonant_run,
                  length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
                    * 1.0 / greatest(length(text), 1) AS sym_ratio
                FROM documents)
              SELECT doc_id,
                CAST(max_consonant_run AS BIGINT) AS max_consonant_run,
                ${Portable.r6Sql("sym_ratio")} AS symbol_ratio,
                CASE WHEN max_consonant_run >= 5 OR sym_ratio > 0.3
                  THEN 1 ELSE 0 END AS is_gibberish
              FROM m"""),

    // Type-token ratio + hapax share per document — the vocabulary-
    // richness screen (template/boilerplate docs have low TTR, OCR
    // noise has high hapax share). Same tokenizer contract as the
    // vocab/logprob family; one explode + two nested keyed aggregates.
    Q("text_type_token_ratio",
      (s, d) => {
        val f = Par.widen(Tables.documents(s, d))
          .select(col("doc_id"), explode(Dedup.tokens(col("text")))
            .as("tok"))
          .filter(col("tok") =!= "")
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("c"))
        f.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            r6(count(lit(1)) / sum(col("c")).cast("double"))
              .as("ttr"),
            sum(when(col("c") === 1, 1).otherwise(0)).cast("long")
              .as("n_hapax"),
            r6(sum(when(col("c") === 1, 1).otherwise(0)) /
              count(lit(1)).cast("double")).as("hapax_share"))
      },
      raw"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(
                    lower(trim(text)), '\s+')) AS tok FROM documents),
              t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
              f AS (SELECT doc_id, tok, count(*) AS c
                FROM t GROUP BY 1, 2)
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                count(*) AS n_types,
                ${Portable.r6Sql("count(*) * 1.0 / sum(c)")} AS ttr,
                CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hapax,
                ${Portable.r6Sql("sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*)")} AS hapax_share
              FROM f GROUP BY 1"""),

    // Flesch reading-ease per document with a vowel-group syllable
    // proxy — the readability screen between the lexical (gibberish)
    // and statistical (logprob) quality scores. Three regex counts per
    // row, codegen'd, zero shuffle.
    Q("text_readability",
      (s, d) => {
        val words = size(regexp_extract_all(lower(trim(col("text"))),
          lit("\\S+"), lit(0)))
        val sentences = greatest(size(regexp_extract_all(col("text"),
          lit("[.!?]+"), lit(0))), lit(1))
        val syllables = size(regexp_extract_all(lower(col("text")),
          lit("[aeiouy]+"), lit(0)))
        Par.widen(Tables.documents(s, d))
          .select(col("doc_id"),
            words.cast("long").as("n_words"),
            sentences.cast("long").as("n_sentences"),
            syllables.cast("long").as("n_syllables"),
            r6(lit(206.835) -
              lit(1.015) * (words / sentences.cast("double")) -
              lit(84.6) * (syllables / greatest(words, lit(1))
                .cast("double"))).as("flesch"))
      },
      raw"""SELECT doc_id,
                CAST(len(regexp_extract_all(lower(trim(text)), '\S+'))
                  AS BIGINT) AS n_words,
                CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS n_sentences,
                CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syllables,
                ${Portable.r6Sql(
                  """206.835 - 1.015 * (len(regexp_extract_all(lower(trim(text)), '\S+')) * """ +
                    """1.0 / greatest(len(regexp_extract_all(text, '[.!?]+')), 1)) - 84.6 * """ +
                    """(len(regexp_extract_all(lower(text), '[aeiouy]+')) * 1.0 / """ +
                    """greatest(len(regexp_extract_all(lower(trim(text)), '\S+')), 1))""")}
                  AS flesch
              FROM documents"""),

    // Token burstiness (variance-to-mean of per-doc counts, zeros
    // included via the moment identity) for tokens in ≥5 docs, top-20
    // — bursty tokens are topical, uniform ones are function words;
    // the dispersion readout tf-idf approximates. Corpus-sized explode
    // → keyed moments; the top-k is a bounded dim sort.
    Q("text_token_burstiness",
      (s, d) => {
        val t = Par.widen(Tables.documents(s, d))
          .select(col("doc_id"), explode(Dedup.tokens(col("text")))
            .as("tok"))
          .filter(col("tok") =!= "")
        val nd = t.agg(countDistinct(col("doc_id")).as("nd"))
        val st = t.groupBy(col("tok"), col("doc_id"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("tok"))
          .agg(count(lit(1)).as("df"), sum(col("c")).as("total"),
            sum(col("c") * col("c")).as("sumsq"))
          .filter(col("df") >= 5)
        val m = col("total") / col("nd")
        st.crossJoin(broadcast(nd))
          .select(col("tok"), col("df").as("doc_freq"),
            col("total").as("n_occurrences"),
            r6((col("sumsq") / col("nd") - m * m) / m)
              .as("burstiness"))
          .orderBy(col("burstiness").desc, col("tok"))
          .limit(20)
      },
      raw"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(
                    lower(trim(text)), '\s+')) AS tok FROM documents),
              t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
              ndocs AS (SELECT count(DISTINCT doc_id) AS nd FROM t),
              f AS (SELECT tok, doc_id, count(*) AS c
                FROM t GROUP BY 1, 2),
              st AS (SELECT tok, count(*) AS df,
                  CAST(sum(c) AS BIGINT) AS total,
                  CAST(sum(c*c) AS BIGINT) AS sumsq FROM f GROUP BY 1),
              b AS (SELECT tok, df, total,
                  (sumsq * 1.0 / nd - (total * 1.0 / nd) *
                    (total * 1.0 / nd)) / (total * 1.0 / nd)
                    AS burstiness
                FROM st, ndocs WHERE df >= 5)
              SELECT tok, CAST(df AS BIGINT) AS doc_freq,
                total AS n_occurrences, ${Portable.r6Sql("burstiness")} AS burstiness
              FROM b ORDER BY burstiness DESC, tok LIMIT 20"""),

    // Jensen–Shannon divergence (bits) between two sources' unigram
    // distributions — the symmetric bounded corpus-drift readout
    // (KL's usable sibling: defined even where one side has zero
    // mass). One tokenize pass; the distribution table is vocab-sized.
    Q("text_js_divergence",
      (s, d) => {
        val t = Par.widen(Tables.documents(s, d))
          .filter(col("source").isin("src0", "src1"))
          .select(col("source"), explode(Dedup.tokens(col("text")))
            .as("tok"))
          .filter(col("tok") =!= "")
        val p = t.groupBy(col("tok"))
          .agg(sum(when(col("source") === "src0", 1.0).otherwise(0.0))
              .as("ca"),
            sum(when(col("source") === "src1", 1.0).otherwise(0.0))
              .as("cb"))
        val n = p.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
        val dd = p.crossJoin(broadcast(n))
          .select((col("ca") / col("na")).as("pa"),
            (col("cb") / col("nb")).as("pb"))
          .withColumn("m", (col("pa") + col("pb")) / 2)
        dd.agg(r6(lit(0.5) *
            sum(when(col("pa") > 0,
              col("pa") * log2(col("pa") / col("m"))).otherwise(0.0)) +
            lit(0.5) *
            sum(when(col("pb") > 0,
              col("pb") * log2(col("pb") / col("m"))).otherwise(0.0)))
            .as("js_divergence_bits"),
          count(lit(1)).as("n_vocab"))
      },
      raw"""WITH toks AS (SELECT source, unnest(string_split_regex(
                    lower(trim(text)), '\s+')) AS tok
                FROM documents WHERE source IN ('src0', 'src1')),
              t AS (SELECT source, tok FROM toks WHERE tok <> ''),
              f AS (SELECT source, tok, CAST(count(*) AS DOUBLE) AS c
                FROM t GROUP BY 1, 2),
              p AS (SELECT tok,
                  coalesce(sum(CASE WHEN source='src0' THEN c END), 0)
                    AS ca,
                  coalesce(sum(CASE WHEN source='src1' THEN c END), 0)
                    AS cb
                FROM f GROUP BY 1),
              n AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM p),
              d AS (SELECT p.tok, p.ca / n.na AS pa, p.cb / n.nb AS pb,
                  (p.ca / n.na + p.cb / n.nb) / 2 AS m FROM p, n)
              SELECT ${Portable.r6Sql("0.5 * sum(CASE WHEN pa > 0 THEN pa * log2(pa / m) ELSE 0 END) + 0.5 * sum(CASE WHEN pb > 0 THEN pb * log2(pb / m) ELSE 0 END)")}
                  AS js_divergence_bits,
                CAST(count(*) AS BIGINT) AS n_vocab
              FROM d"""),

    // Shingle novelty per document: the share of a doc's 3-shingles
    // whose FIRST corpus occurrence (min doc id) is this doc — the
    // marginal-contribution curve that tells a curation pipeline when
    // additional data stops adding content. First-occurrence is one
    // keyed min over the exploded shingles. Per shingle EXACTLY ONE
    // doc is novel (the min), so n_novel is a doc-keyed count over the
    // shingle-type-sized first-occurrence table and n_shingles is just
    // size(sh) — no corpus-sized join-back of the exploded shingles
    // (the former ex⋈fo + second corpus shuffle formulation; output
    // bit-identical, dump-compared).
    Q("text_ngram_novelty",
      (s, d) => {
        val base = persist(Par.widen(Tables.documents(s, d))
          .select(col("doc_id").as("id"),
            Dedup.shinglesNative(col("text"), 3).as("sh")))
        val novel = base.select(col("id"), explode(col("sh")).as("s"))
          .groupBy(col("s")).agg(min(col("id")).as("first_id"))
          .groupBy(col("first_id").as("id"))
          .agg(count(lit(1)).as("n_novel"))
        base.filter(size(col("sh")) > 0)
          .select(col("id"), size(col("sh")).cast("long").as("n_shingles"))
          .join(novel, Seq("id"), "left")
          .select(col("id").as("doc_id"), col("n_shingles"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"),
            r6(coalesce(col("n_novel"), lit(0L))
              / col("n_shingles").cast("double")).as("novelty"))
      },
      raw"""WITH base AS (SELECT doc_id AS id,
                  list_distinct([array_to_string(toks[i+1:i+3], ' ')
                     for i in range(0, greatest(len(toks) - 3, 0) + 1)])
                    AS sh
                FROM (SELECT doc_id,
                    string_split_regex(lower(trim(text)), '\s+') AS toks
                  FROM documents)),
              ex AS (SELECT id, unnest(sh) AS s FROM base),
              fo AS (SELECT s, min(id) AS first_id FROM ex GROUP BY 1)
              SELECT ex.id AS doc_id, count(*) AS n_shingles,
                CAST(sum(CASE WHEN fo.first_id = ex.id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel,
                ${Portable.r6Sql("sum(CASE WHEN fo.first_id = ex.id THEN 1 ELSE 0 END) * 1.0 / count(*)")} AS novelty
              FROM ex JOIN fo ON fo.s = ex.s GROUP BY 1"""),
  )
}
