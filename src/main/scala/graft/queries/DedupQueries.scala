package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Caches.persist
import graft.ops._
import graft.functions.ScalarFns
import graft.functions.Portable
import Shared._

/** Near-duplicate and curation-pipeline keys (`dedup_*`,
  * `pipeline_*`). */
private[graft] object DedupQueries {

  /** Near-duplicate groups: connected components of the 0.5-Jaccard
    * MinHash pairs. Scoped: the components loop materializes its labels
    * (lineage cut), so the minhash base cache is released on exit
    * instead of waiting for the harness clearCache. */
  private def minhashComponents(docs: DataFrame): DataFrame =
    Caches.scoped(Dedup.minhashLshPairs(docs,
      col("doc_id"), col("text"), threshold = 0.5))(
      Components.connectedComponents(_))

  /** DuckDB twin of [[minhashComponents]]' graph over a preceding
    * `verified(id_a, id_b, j)` CTE: symmetric edges `sym` and the
    * recursive reachability closure `reach(src, dst)`. */
  private val componentsCtesSql =
    """dup AS (SELECT id_a, id_b FROM verified WHERE j >= 0.5),
       sym AS (SELECT id_a AS src, id_b AS dst FROM dup
               UNION SELECT id_b, id_a FROM dup),
       reach(src, dst) AS (
         SELECT src, dst FROM sym
         UNION
         SELECT r.src, s2.dst FROM reach r JOIN sym s2
           ON r.dst = s2.src)"""

  /** documents plus planted near-duplicates (same text minus its first
    * token, id shifted by 10^6) — guarantees the near-dup detectors have
    * signal to find, and the spec asserts they find exactly these.
    */
  private def withPlantedDups(docs: DataFrame): DataFrame = {
    val mutated = docs
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text",
        concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 2, 100000)))
    docs.unionByName(mutated)
  }

  /** DuckDB twin of [[withPlantedDups]] — shared CTE body. */
  private val plantedDocsSql =
    """docs AS (SELECT doc_id AS id, text FROM documents
       UNION ALL
       SELECT doc_id + 1000000,
         array_to_string(list_slice(
           string_split_regex(trim(text), '\s+'), 2, 100000), ' ')
       FROM documents)"""

  /** DuckDB twin of [[Dedup.shingles]] (k = 3) over column `toks`. */
  private val shinglesSql =
    """list_distinct([array_to_string(toks[i+1:i+3], ' ')
       for i in range(0, greatest(len(toks) - 3, 0) + 1)])"""

  /** Parameterized DuckDB twin of [[Dedup.bandKeys]]: the tokenize →
    * shingle → md5-base → affine-signature → band-key chain over source
    * CTE `src`, CTE names prefixed with `p` so two sides (corpus and
    * batch) coexist in one WITH. Ends with `{p}bands(id, band_idx,
    * band_key)`. */
  private def bandCtesSql(src: String, p: String): String =
    s"""${p}base AS (SELECT id, $shinglesSql AS sh
                 FROM (SELECT id,
                         string_split_regex(lower(trim(text)), '\\s+') AS toks
                       FROM $src)),
    ${p}hb AS (SELECT id,
                 CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT) AS b
               FROM (SELECT id, unnest(sh) AS s FROM ${p}base)),
    ${p}sigs AS (SELECT id, j,
                   min((1000003 * (j + 1) * b + 666019 * (j + 1))
                     % 2147483647) AS sig
                 FROM ${p}hb, range(16) r(j) GROUP BY 1, 2),
    ${p}bands AS (SELECT id, (j // 4) AS band_idx,
                    string_agg(CAST(sig AS VARCHAR), '-' ORDER BY j)
                      AS band_key
                  FROM ${p}sigs GROUP BY 1, 2)"""

  /** Shared DuckDB CTE chain computing the verified MinHash-LSH pair
    * set over the planted docs (follows [[plantedDocsSql]] in a WITH) —
    * the [[bandCtesSql]] chain over `docs`, then band pruning, pairs and
    * their Jaccard; ends with CTE `verified(id_a, id_b, j)`. One
    * definition shared by the pair query and the connected-components
    * query.
    */
  private val minhashCtesSql = s"""${bandCtesSql("docs", "")},
              bcount AS (SELECT band_idx, band_key, count(*) AS n
                         FROM bands GROUP BY 1, 2),
              pruned AS (SELECT bk.id, bk.band_idx, bk.band_key
                         FROM bands bk
                         JOIN bcount c USING (band_idx, band_key)
                         WHERE c.n <= 1000),
              pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                        FROM pruned a JOIN pruned b
                          USING (band_idx, band_key)
                        WHERE a.id < b.id),
              verified AS (SELECT p.id_a, p.id_b,
                             CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                               / len(list_distinct(list_concat(x.sh, y.sh)))
                               AS j
                           FROM pairs p
                           JOIN base x ON p.id_a = x.id
                           JOIN base y ON p.id_b = y.id)"""

  val queries: Seq[Q] = Seq(
    Q("dedup_exact",
      (s, d) => Dedup.exact(Tables.documents(s, d), col("doc_id"), col("text")),
      """SELECT sha256(text) AS content_hash, min(doc_id) AS rep_id,
                count(*) AS n_dups
              FROM documents GROUP BY 1"""),

    Q("dedup_minhash_lsh",
      (s, d) => Dedup.minhashLshPairs(
        withPlantedDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), threshold = 0.5),
      s"""WITH $plantedDocsSql,
              $minhashCtesSql
              SELECT id_a, id_b, ${Portable.r6Sql("j")} AS jaccard
              FROM verified WHERE j >= 0.5"""),

    // dedup GROUPS from the pair list: connected components via
    // min-label propagation (ops/Components) — the step that turns
    // pairwise near-dup output into clusters with one canonical
    // representative. The oracle recomputes the identical pair set and
    // clusters it with a recursive transitive closure.
    Q("dedup_components",
      (s, d) => minhashComponents(withPlantedDups(Tables.documents(s, d))),
      s"""WITH RECURSIVE $plantedDocsSql,
              $minhashCtesSql,
              $componentsCtesSql
              SELECT src AS id, least(src, min(dst)) AS component
              FROM reach GROUP BY src"""),

    // Guarded cap form (r17, the phash/containment precedent): the
    // in-pass guard (r19 — raise_error where the unguarded form prunes,
    // no separate audit job) proves blocking stays LOSSLESS at the cap,
    // so the green row equals the brute-force oracle by construction.
    // Cap 4096 documents the driver corpus's df: max (chunk_idx, chunk)
    // occupancy is 3,084 at sf10 (257M candidates — which the r17
    // pipelined verify keeps out of the distinct shuffle).
    Q("dedup_simhash",
      (s, d) => Dedup.simhashPairs(
        Dedup.simhash(withPlantedDups(Tables.documents(s, d)),
          col("doc_id"), col("text")),
        maxHamming = 3, maxBucketSize = 4096,
        failOnCappedBuckets = true),
      s"""WITH $plantedDocsSql,
              th AS (SELECT id,
                       CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
                     FROM (SELECT id,
                             unnest(string_split_regex(lower(trim(text)),
                               '\\s+')) AS t
                           FROM docs)),
              bits AS (SELECT id, b,
                         sum(CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1
                           THEN 1 ELSE -1 END) AS sgn
                       FROM th, range(60) r(b) GROUP BY 1, 2),
              sh AS (SELECT id,
                       CAST(sum(CASE WHEN sgn > 0
                         THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
                         ELSE 0 END) AS BIGINT) AS simhash
                     FROM bits GROUP BY 1)
              SELECT a.id AS id_a, b.id AS id_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                  AS hamming
              FROM sh a JOIN sh b ON a.id < b.id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""),

    Q("dedup_ngram_jaccard",
      (s, d) => {
        val planted = withPlantedDups(Tables.documents(s, d))
          .withColumn("blk", col("doc_id") % 1000000L % 500)
        Dedup.ngramJaccardPairs(planted, col("doc_id"), col("text"),
          col("blk"), n = 3, threshold = 0.5)
      },
      s"""WITH $plantedDocsSql,
              base AS (SELECT id, ((id % 1000000) % 500) AS blk,
                         $shinglesSql AS sh
                       FROM (SELECT id,
                               string_split_regex(lower(trim(text)), '\\s+')
                                 AS toks
                             FROM docs)),
              ex AS (SELECT id, blk, unnest(sh) AS s FROM base),
              inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n
                        FROM ex a JOIN ex b
                          ON a.blk = b.blk AND a.s = b.s AND a.id < b.id
                        GROUP BY 1, 2),
              sizes AS (SELECT id, len(sh) AS sz FROM base),
              j AS (SELECT i.id_a, i.id_b,
                      CAST(i.n AS DOUBLE) / (sa.sz + sb.sz - i.n) AS j
                    FROM inter i
                    JOIN sizes sa ON i.id_a = sa.id
                    JOIN sizes sb ON i.id_b = sb.id)
              SELECT id_a, id_b, ${Portable.r6Sql("j")} AS jaccard
              FROM j WHERE j >= 0.5"""),

    // CORPUS PRECONDITION (ADVICE r17): the brute-force oracle below
    // matches the approximate LSH result only because every >=0.999
    // pair in this corpus is a planted EXACT duplicate (recall 1 at
    // any geometry); a natural non-identical near-dup pair would have
    // a small per-run miss probability under autoBits growth and make
    // this row flaky-red. EmbeddingFixtureSpec asserts the testdata
    // invariant (no non-identical pair at cos >= 0.998) so a data
    // change fails loudly in the suite, not as an opaque oracle
    // mismatch. For corpora WITH natural near-dups, opt into
    // autoTables = true (Similarity.tablesForRecall operating curve).
    Q("dedup_embedding_cosine",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        // plant exact-duplicate vectors under shifted ids
        val planted = e.unionByName(
          e.withColumn("id", col("id") + 1000000L))
        Similarity.cosineNearDupPairs(planted, threshold = 0.999)
      },
      s"""WITH e AS (SELECT vec_id AS id,
                           CAST(embedding AS DOUBLE[]) AS vec
                         FROM embeddings
                         UNION ALL
                         SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
                         FROM embeddings),
              p AS (SELECT a.id AS id_a, b.id AS id_b,
                      list_dot_product(a.vec, b.vec)
                        / (sqrt(list_dot_product(a.vec, a.vec))
                           * sqrt(list_dot_product(b.vec, b.vec))) AS cos
                    FROM e a JOIN e b ON a.id < b.id)
              SELECT id_a, id_b, ${Portable.r6Sql("cos")} AS cos
              FROM p WHERE cos >= 0.999"""),

    // end-to-end corpus-curation job composed from the library's text +
    // dedup operators: language gate → quality gate → exact dedup →
    // curated representatives with duplicate counts — the shape of a
    // daily training-data refresh at 100 TB. Exact duplicates are
    // planted under shifted ids so the dedup stage provably has signal.
    // Plan shape: every stage is a key-bounded shuffle (doc id / content
    // hash); the profile table is broadcast; no all-pairs path.
    Q("pipeline_corpus_curation",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val planted = docs.select(col("doc_id"), col("text"))
          .unionByName(docs.select((col("doc_id") + 2000000L).as("doc_id"),
            col("text")))
        val lang = TextOps.langId(planted, col("doc_id"), col("text"),
          langProfiles(s), idName = "doc_id")
        // persisted: consumed twice (dedup + representative join-back);
        // without the cache the langid pipeline would run twice.
        // Harness clears the cache per query, like the dedup generators.
        val gated = persist(TextOps.qualityFeatures(planted,
            col("text"), Seq("the", "a"))
          .join(lang, Seq("doc_id"))
          .filter(col("pred_lang") === "en" && col("n_words") >= 40 &&
            col("stopword_ratio") >= 0.02)
          .select(col("doc_id"), col("text"), col("n_words"),
            col("pred_lang")))
        val reps = Dedup.exact(gated, col("doc_id"), col("text"))
        reps
          .join(gated.select(col("doc_id").as("rep_id"), col("pred_lang"),
            col("n_words")), Seq("rep_id"))
          .select(col("rep_id"), col("pred_lang"),
            col("n_words").cast("long").as("n_words"), col("n_dups"))
      },
      raw"""WITH planted AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 2000000, text FROM documents),
              $langProfilesSql,
              toks AS (SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+'))
                    AS word
                FROM planted),
              hits AS (SELECT t.doc_id, p.lang, count(*) AS n
                FROM toks t JOIN profiles p USING (word) GROUP BY 1, 2),
              lang AS (SELECT p.doc_id, coalesce(b.lang, 'und')
                  AS pred_lang
                FROM planted p LEFT JOIN (
                  SELECT doc_id, lang, row_number() OVER (
                    PARTITION BY doc_id ORDER BY n DESC, lang) AS r
                  FROM hits) b ON p.doc_id = b.doc_id AND b.r = 1),
              q AS (SELECT doc_id, text,
                  len(string_split_regex(trim(text), '\s+')) AS n_words,
                  CAST(len(list_filter(
                      string_split_regex(trim(text), '\s+'),
                      x -> x = 'the' OR x = 'a')) AS DOUBLE)
                    / len(string_split_regex(trim(text), '\s+'))
                    AS stopword_ratio
                FROM planted),
              gated AS (SELECT q.doc_id, q.text, q.n_words, l.pred_lang
                FROM q JOIN lang l USING (doc_id)
                WHERE l.pred_lang = 'en' AND q.n_words >= 40
                  AND q.stopword_ratio >= 0.02),
              reps AS (SELECT sha256(text) AS h, min(doc_id) AS rep_id,
                  count(*) AS n_dups
                FROM gated GROUP BY 1)
              SELECT g.doc_id AS rep_id, g.pred_lang,
                CAST(g.n_words AS BIGINT) AS n_words, r.n_dups
              FROM reps r JOIN gated g ON g.doc_id = r.rep_id"""),

    // substring-level duplication signal: fraction of each doc's
    // distinct 8-token spans occurring in >= 2 docs — catches shared
    // boilerplate that document-level dedup misses. Dups planted for
    // every third doc so the signal is provably bimodal (0 .. 1).
    Q("dedup_substring_frac",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val planted = docs.select(col("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") % 3 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              concat_ws(" ", slice(split(trim(col("text")), "\\s+"),
                2, 100000)).as("text")))
        Dedup.substringDupFraction(planted, col("doc_id"), col("text"),
          k = 8)
      },
      s"""WITH docs AS (SELECT doc_id AS id, text FROM documents
                     UNION ALL
                     SELECT doc_id + 1000000,
                       array_to_string(list_slice(
                         string_split_regex(trim(text), '\\s+'),
                         2, 100000), ' ')
                     FROM documents WHERE doc_id % 3 = 0),
              base AS (SELECT id, list_distinct(list_transform(
                         range(1, greatest(len(toks) - 8, 0) + 2),
                         i -> array_to_string(list_slice(toks, i, i + 7),
                           ' '))) AS sh
                       FROM (SELECT id,
                               string_split_regex(lower(trim(text)),
                                 '\\s+') AS toks
                             FROM docs)),
              ex AS (SELECT id, unnest(sh) AS s FROM base),
              shared AS (SELECT s FROM ex GROUP BY s
                         HAVING count(DISTINCT id) >= 2),
              per_doc AS (SELECT ex.id AS id, count(*) AS n_shared
                          FROM ex JOIN shared USING (s) GROUP BY 1)
              SELECT b.id AS id, CAST(len(b.sh) AS INTEGER) AS n_spans,
                ${Portable.r6Sql("CAST(coalesce(p.n_shared, 0) AS DOUBLE) / len(b.sh)")} AS dup_frac
              FROM base b LEFT JOIN per_doc p ON b.id = p.id"""),

    // incremental ingestion dedup: an arriving batch checked against the
    // standing corpus's LSH band index — near-copies (first token
    // dropped) band-match and are dropped, token-reversed docs share no
    // 3-shingles and survive. The corpus is never re-deduplicated.
    Q("dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toksOf = split(trim(col("text")), "\\s+")
        val batch = docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("id"),
            concat_ws(" ", slice(toksOf, 2, 100000)).as("text"))
          .unionByName(docs.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 3000000L).as("id"),
              concat_ws(" ", reverse(toksOf)).as("text")))
        Dedup.incrementalNewIds(batch,
          docs.select(col("doc_id").as("id"), col("text")),
          col("id"), col("text"))
      },
      s"""WITH corpus AS (SELECT doc_id AS id, text FROM documents),
              batch AS (SELECT doc_id + 2000000 AS id,
                          array_to_string(list_slice(
                            string_split_regex(trim(text), '\\s+'),
                            2, 100000), ' ') AS text
                        FROM documents WHERE doc_id % 7 = 0
                        UNION ALL
                        SELECT doc_id + 3000000,
                          array_to_string(list_reverse(
                            string_split_regex(trim(text), '\\s+')), ' ')
                        FROM documents WHERE doc_id % 5 = 0),
              ${bandCtesSql("corpus", "c")},
              ${bandCtesSql("batch", "b")},
              dup AS (SELECT DISTINCT bb.id FROM bbands bb
                      JOIN cbands cb USING (band_idx, band_key))
              SELECT id FROM batch
              WHERE id NOT IN (SELECT id FROM dup)"""),

    // end-to-end multimodal retrieval pipeline: opaque binary payload →
    // per-partition feature extraction (byte-vector embed stub with the
    // real codec dataflow) → broadcast brute-force cosine top-k. Byte
    // values ≤ 255 over 16 dims keep float and double dot products
    // bit-identical, so ranks are engine-exact
    Q("pipeline_mm_embed_ann",
      (s, d) => {
        val media = Multimodal.asPayload(Tables.documents(s, d),
          col("doc_id"), col("text"))
        val feats = Multimodal.byteFeatures(media, 16)
          .select(col("media_id").as("id"),
            transform(col("features"), x => x.cast("float")).as("vec"))
        val q = feats.filter(col("id") < 3)
          .select(col("id").as("query_id"), col("vec").as("qvec"))
        Similarity.bruteForceTopK(feats, q, k = 5)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
      },
      """WITH f AS (SELECT doc_id AS id,
                       list_transform(range(1, 17), i ->
                         CAST(CASE WHEN i <= len(text)
                              THEN ord(substr(text, i, 1))
                              ELSE 0 END AS DOUBLE)) AS vec
                     FROM documents),
              q AS (SELECT id AS query_id, vec AS qvec FROM f WHERE id < 3),
              s AS (SELECT q.query_id, f.id,
                      list_dot_product(f.vec, q.qvec)
                        / (sqrt(list_dot_product(f.vec, f.vec))
                           * sqrt(list_dot_product(q.qvec, q.qvec))) AS cos
                    FROM f, q WHERE f.id <> q.query_id),
              r AS (SELECT query_id, id,
                      CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, id) AS INTEGER) AS rank
                    FROM s)
              SELECT query_id, id AS neighbor_id, rank
              FROM r WHERE rank <= 5"""),

    // character-level near-dup pairs: exact Levenshtein inside cheap
    // prefix blocks — catches typo/OCR edits that token shingles dilute;
    // integer distances, so no float anywhere (see Dedup.editDistancePairs)
    Q("dedup_edit_distance",
      (s, d) => Dedup.editDistancePairs(Tables.documents(s, d),
        col("doc_id"), col("text"), prefixLen = 12, maxDist = 20,
        maxBlockSize = 64),
      """WITH d0 AS (SELECT doc_id, lower(trim(text)) AS t
                    FROM documents),
              d AS (SELECT doc_id, t,
                      count(*) OVER (PARTITION BY substring(t, 1, 12))
                        AS bn
                    FROM d0),
              p AS (SELECT a.doc_id AS id1, c.doc_id AS id2,
                      levenshtein(a.t, c.t) AS dist
                    FROM d a JOIN d c
                      ON substring(a.t, 1, 12) = substring(c.t, 1, 12)
                      AND a.doc_id < c.doc_id
                    WHERE a.bn <= 64 AND c.bn <= 64)
              SELECT id1, id2, CAST(dist AS INTEGER) AS dist
              FROM p WHERE dist <= 20"""),

    // URL canonicalization dedup: scheme/www/query/trailing-slash
    // variants planted per doc collapse onto one canonical key
    Q("dedup_url_canonical",
      (s, d) => {
        val url = concat(
          when(col("doc_id") % 2 === 0, "https://").otherwise("http://"),
          when(col("doc_id") % 4 < 2, "www.").otherwise(""),
          lit("site"), (col("doc_id") % 50).cast("string"),
          lit(".example.com/p"), (col("doc_id") % 20).cast("string"),
          when(col("doc_id") % 3 === 0, "/").otherwise(""),
          when(col("doc_id") % 5 === 0, "?utm_source=feed").otherwise(""))
        Tables.documents(s, d)
          .select(col("doc_id"), ScalarFns.canonicalUrl(url).as("canonical"))
          .groupBy(col("canonical"))
          .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("rep_doc_id"))
      },
      """WITH u AS (SELECT doc_id,
                      (CASE WHEN doc_id % 2 = 0 THEN 'https://'
                            ELSE 'http://' END)
                      || (CASE WHEN doc_id % 4 < 2 THEN 'www.' ELSE '' END)
                      || 'site' || CAST(doc_id % 50 AS VARCHAR)
                      || '.example.com/p' || CAST(doc_id % 20 AS VARCHAR)
                      || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
                      || (CASE WHEN doc_id % 5 = 0
                          THEN '?utm_source=feed' ELSE '' END) AS url
                    FROM documents),
              c AS (SELECT doc_id,
                      regexp_replace(regexp_replace(regexp_replace(
                        regexp_replace(lower(url), '^https?://', ''),
                        '^www\.', ''), '\?.*$', ''), '/$', '')
                        AS canonical
                    FROM u)
              SELECT canonical, count(*) AS n_urls,
                min(doc_id) AS rep_doc_id
              FROM c GROUP BY 1"""),

    // the step a curation pipeline runs AFTER clustering: per near-dup
    // cluster, keep the longest member (token count, min-id tiebreak).
    // Composition capstone: MinHash-LSH pairs → connected components →
    // id-keyed token-count join → one component-keyed window; the
    // labels are cluster-membership-sized, so everything after the
    // shared candidate-gen is tiny at any corpus scale
    Q("dedup_cluster_canonical",
      (s, d) => {
        val docs = withPlantedDups(Tables.documents(s, d))
        val labels = minhashComponents(docs)
        val toks = docs.select(col("doc_id").as("id"),
          TextOps.tokenCount(col("text")).cast("long").as("__n_tok"))
        val w = Window.partitionBy(col("component"))
          .orderBy(col("__n_tok").desc, col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        labels.join(toks, Seq("id"))
          .withColumn("rep_id", first(col("id")).over(w))
          .select(col("id"), col("component"), col("rep_id"),
            (col("id") === col("rep_id")).as("is_kept"))
      },
      s"""WITH RECURSIVE $plantedDocsSql,
              $minhashCtesSql,
              $componentsCtesSql,
              comp AS (SELECT src AS id, least(src, min(dst)) AS component
                       FROM reach GROUP BY src),
              tok AS (SELECT id,
                        CAST(len(string_split_regex(trim(text), '\\s+'))
                          AS BIGINT) AS n_tok
                      FROM docs)
              SELECT c.id, c.component,
                first_value(c.id) OVER (PARTITION BY c.component
                  ORDER BY t.n_tok DESC, c.id
                  ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING) AS rep_id,
                c.id = first_value(c.id) OVER (PARTITION BY c.component
                  ORDER BY t.n_tok DESC, c.id
                  ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING) AS is_kept
              FROM comp c JOIN tok t ON c.id = t.id"""),

    // asymmetric containment dedup: same LSH candidates as
    // dedup_minhash_lsh, exact score |A∩B|/min(|A|,|B|) — catches a
    // document embedded in a longer one where Jaccard dilutes. The
    // planted near-dups (first token dropped) score containment 1.0.
    Q("dedup_containment",
      (s, d) => Dedup.containmentPairs(
        withPlantedDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), threshold = 0.8),
      s"""WITH $plantedDocsSql,
              $minhashCtesSql,
              cont AS (SELECT p.id_a, p.id_b,
                         CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                           / least(len(x.sh), len(y.sh)) AS c
                       FROM pairs p
                       JOIN base x ON p.id_a = x.id
                       JOIN base y ON p.id_b = y.id
                       WHERE least(len(x.sh), len(y.sh)) > 0)
              SELECT id_a, id_b, ${Portable.r6Sql("c")} AS containment
              FROM cont WHERE c >= 0.8"""),

    // Near-dup threshold operating curve: the pair-similarity histogram
    // that tells an operator where to SET the dedup threshold before
    // committing to one — LSH candidates verified down to 0.3, bucketed
    // by jaccard decile, with the cumulative pair count a given
    // threshold would remove. Same bounded LSH candidate generation as
    // dedup_minhash_lsh; the sweep costs one extra decile-sized
    // aggregate, not one run per candidate threshold.
    Q("dedup_threshold_sweep",
      // unscoped like dedup_minhash_lsh: the plan is lazy, so the
      // shingle-base cache must live until the harness clearCache
      (s, d) => {
        val b = Dedup.minhashLshPairs(
            withPlantedDups(Tables.documents(s, d)),
            col("doc_id"), col("text"), threshold = 0.3)
          .groupBy(floor(col("jaccard") * 10).cast("int").as("bucket"))
          .agg(count(lit(1)).as("n_pairs"))
        b.withColumn("n_pairs_cum",
          sum(col("n_pairs")).over(Window.orderBy(col("bucket").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      },
      s"""WITH $plantedDocsSql,
              $minhashCtesSql,
              b AS (SELECT CAST(floor(${Portable.r6Sql("j")} * 10) AS INTEGER)
                      AS bucket, count(*) AS n_pairs
                    FROM verified WHERE j >= 0.3 GROUP BY 1)
              SELECT bucket, n_pairs,
                CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_pairs_cum
              FROM b"""),

    // Containment dedup with EXACT recall — the refinement closing
    // dedup_containment's documented gap (MinHash bands key on
    // Jaccard, so a small⊂large pair with skewed sizes can miss every
    // band). Formulation: posting-list intersection counting — group
    // the inverted index by shingle, expand each (df-capped) posting
    // list to its id pairs array-locally, count rows per pair = exact
    // |a∩b|, then one integer division per pair. No per-pair array
    // payloads anywhere: the round-11 prefix-probe + array-attach
    // verify moved candidates × ~2 KB of shingle arrays and died on
    // >75 GB of sort spill at sf10 (29.6M candidates for 25.6k true
    // pairs); counting moves Σ C(df,2) narrow rows instead. See
    // Dedup.containmentPairsExact for the scale contract.
    Q("dedup_containment_prefix",
      // maxPosting = 1000 is THIS BENCHMARK'S explicit argument (the
      // oracle's HAVING count(*) BETWEEN 2 AND 1000 mirrors it); the
      // function default is recall-safe 100000. The registered query
      // runs with failOnCappedShingles = true (VERDICT r15 task 7): the
      // green correctness row is therefore a PROVEN-exact row — if the
      // cap ever binds on the driver corpus the query throws (in-pass
      // raise_error since r19: one shingle pass total, no separate
      // audit job) instead of silently passing an approximate result,
      // and the exactness contract is exercised on the harness path
      // every round, not only in CappedCollectSpec.
      (s, d) => Dedup.containmentPairsExact(
        withPlantedDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), threshold = 0.8, maxPosting = 1000,
        failOnCappedShingles = true),
      s"""WITH $plantedDocsSql,
              base AS (SELECT id,
                  list_distinct([array_to_string(toks[i+1:i+3], ' ')
                     for i in range(0, greatest(len(toks) - 3, 0) + 1)])
                    AS sh
                FROM (SELECT id,
                    string_split_regex(lower(trim(text)), '\\s+') AS toks
                  FROM docs)),
              sizes AS (SELECT id, len(sh) AS n FROM base),
              ex AS (SELECT id, unnest(sh) AS s FROM base),
              pe AS (SELECT id, s FROM ex WHERE s IN
                (SELECT s FROM ex GROUP BY s
                 HAVING count(*) BETWEEN 2 AND 1000)),
              ov AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS ov
                FROM pe x JOIN pe y ON x.s = y.s AND x.id < y.id
                GROUP BY 1, 2)
              SELECT id_a, id_b,
                ${Portable.r6Sql("ov * 1.0 / least(a.n, b.n)")} AS containment
              FROM ov JOIN sizes a ON a.id = ov.id_a
              JOIN sizes b ON b.id = ov.id_b
              WHERE least(a.n, b.n) > 0
                AND ov * 1.0 / least(a.n, b.n) >= 0.8"""),
  )
}
