package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.functions.Portable
import graft.functions.Portable.r6

/** Multimodal, embedding and nearest-neighbour keys (`mm_*`, `emb_*`,
  * `ann_*`). */
private[graft] object MediaQueries {

  /** DuckDB twin of `Multimodal.asPayload` framing at 128 bytes: CTEs
    * `w` (one row per frame index) and `f(media_id, frame_idx,
    * samples)`. */
  private val mediaFramesSql =
    """w AS (SELECT doc_id AS media_id, text,
           length(text) AS n,
           unnest(range(0, greatest(CAST(ceil(length(text) / 128.0)
             AS INT), 1))) AS frame_idx
         FROM documents),
       f AS (SELECT media_id, CAST(frame_idx AS INTEGER)
             AS frame_idx,
           [ord(substr(text, CAST(frame_idx * 128 + j + 1 AS INT),
             1)) FOR j IN range(0, least(128, n - frame_idx * 128))]
             AS samples
         FROM w)"""

  /** The ANN family's inputs: the embeddings corpus `(id, vec)` and the
    * queries `(query_id, qvec)` with id < 5; the DuckDB twin is
    * [[annBaseSql]]. */
  private def annInputs(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = e.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    (e, q)
  }

  /** Oracle tail of the approximate ANN keys: the top 10 of a preceding
    * `sc(query_id, id, cos)` CTE, ties broken by id. */
  private val annTop10Sql =
    """r AS (SELECT query_id, id,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, id) AS INTEGER) AS rank
         FROM sc)
       SELECT query_id, id AS neighbor_id, rank
       FROM r WHERE rank <= 10"""

  /** DuckDB `VALUES (table_idx, bit_idx, plane)` rows embedding the exact
    * hyperplane literals [[Similarity.planes]] generates. The planes are
    * deterministic pure functions of (seed, bit, component), so the
    * oracle can replicate the *full* LSH pipeline — signatures, candidate
    * generation, exact re-rank — independently in SQL. Scala's
    * `Double.toString` emits the shortest round-tripping decimal form,
    * so the literals parse back to bit-identical doubles.
    */
  private def planesValuesSql(nBits: Int, tables: Int, dim: Int): String =
    (0 until tables).flatMap { t =>
      val pl = Similarity.planes(nBits, dim, t)
      (0 until nBits).map(j =>
        s"($t, $j, [${pl(j).mkString(",")}]::DOUBLE[])")
    }.mkString(", ")

  /** Probed embedding dim per sfDir (see the ann_lsh dim-64 contract). */
  private val annDims =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Int]]()

  /** Shared oracle CTE prefix for the ANN queries (embeddings corpus +
    * the id<5 query set, exact cosine in DOUBLE). */
  private val annBaseSql =
    """e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings),
       q AS (SELECT id AS query_id, vec AS qvec FROM e WHERE id < 5)"""

  val queries: Seq[Q] = Seq(
    Q("ann_bruteforce",
      (s, d) => {
        val (e, q) = annInputs(s, d)
        Similarity.bruteForceTopK(e, q, k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
      },
      s"""WITH $annBaseSql,
              s AS (SELECT q.query_id, e.id,
                      list_dot_product(e.vec, q.qvec)
                        / (sqrt(list_dot_product(e.vec, e.vec))
                           * sqrt(list_dot_product(q.qvec, q.qvec))) AS cos
                    FROM e, q WHERE e.id <> q.query_id),
              r AS (SELECT query_id, id,
                      CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, id) AS INTEGER) AS rank
                    FROM s)
              SELECT query_id, id AS neighbor_id, rank
              FROM r WHERE rank <= 10"""),

    Q("ann_lsh",
      (s, d) => {
        val (e, q) = annInputs(s, d)
        // the oracle SQL below bakes dim=64 hyperplane literals while
        // lshTopK adapts to the probed dim — enforce the contract here
        // so a testdata dim change fails loudly instead of surfacing as
        // an opaque oracle hash mismatch. Memoized per sfDir: the probe
        // is a driver round-trip that would otherwise land inside the
        // timed bench path on every invocation.
        val dim = annDims.computeIfAbsent(d,
          _ => Similarity.probeDim(e, "vec"))
        require(dim.forall(_ == 64),
          s"ann_lsh oracle is generated for dim=64 but embeddings have " +
            s"dim=${dim.get}; regenerate planesValuesSql for the new dim")
        Similarity.lshTopK(e, q, k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
      },
      // full pipeline replicated: 4 tables × nBits_eff hyperplane sign
      // bits → signature equi-join candidates → exact cosine re-rank.
      // The embedding dim is 64 in the testdata contract (the Spark
      // side probes it; the literal planes here are generated for 64).
      // r18: lshTopK scales the signature width with the corpus —
      // nBits_eff = max(8, ⌈log2(n/128)⌉) capped at 20
      // (Similarity.effectiveBits; length(bin(m)) = the same bit-length
      // integer math, no float log). The plane family is prefix-stable
      // in nBits (PlanePrefixSpec pins it), so the oracle embeds the
      // full 20-bit family once and masks to bit_idx < nBits_eff.
      s"""WITH $annBaseSql,
              nb AS (SELECT CASE WHEN n <= 128 THEN 8
                       ELSE GREATEST(8, LEAST(20,
                         length(bin((n - 1) // 128)))) END AS bits
                     FROM (SELECT count(*) AS n FROM e)),
              planes(table_idx, bit_idx, p) AS (VALUES
                ${planesValuesSql(nBits = 20, tables = 4, dim = 64)}),
              pl AS (SELECT * FROM planes
                     WHERE bit_idx < (SELECT bits FROM nb)),
              csig AS (SELECT id, table_idx,
                  CAST(sum(CASE WHEN list_dot_product(vec, p) > 0
                    THEN (CAST(1 AS BIGINT) << bit_idx) ELSE 0 END)
                    AS BIGINT) AS sig
                FROM e, pl GROUP BY 1, 2),
              qsig AS (SELECT query_id, table_idx,
                  CAST(sum(CASE WHEN list_dot_product(qvec, p) > 0
                    THEN (CAST(1 AS BIGINT) << bit_idx) ELSE 0 END)
                    AS BIGINT) AS sig
                FROM q, pl GROUP BY 1, 2),
              cand AS (SELECT DISTINCT qs.query_id, cs.id
                FROM csig cs JOIN qsig qs
                  ON cs.table_idx = qs.table_idx AND cs.sig = qs.sig
                WHERE qs.query_id <> cs.id),
              sc AS (SELECT c.query_id, c.id,
                  list_dot_product(ev.vec, qv.qvec)
                    / (sqrt(list_dot_product(ev.vec, ev.vec))
                       * sqrt(list_dot_product(qv.qvec, qv.qvec))) AS cos
                FROM cand c
                JOIN e ev ON c.id = ev.id
                JOIN q qv ON c.query_id = qv.query_id),
              $annTop10Sql"""),

    Q("ann_ivf",
      (s, d) => {
        val (e, q) = annInputs(s, d)
        Similarity.ivfTopK(e, q, k = 10, nCentroids = 16, nProbe = 4)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
      },
      // full pipeline replicated: bottom-16-by-md5 centroid seeds →
      // nearest-centroid assignment → 4-cell probe → exact cosine
      // re-rank over probed cells only
      s"""WITH $annBaseSql,
              cent AS (SELECT id AS centroid_id, vec AS cvec FROM e
                ORDER BY CAST(concat('0x',
                  substr(md5(CAST(id AS VARCHAR)), 1, 15)) AS BIGINT), id
                LIMIT 16),
              assigned AS (SELECT id, vec, cell FROM (
                  SELECT e.id, e.vec, c.centroid_id AS cell,
                    row_number() OVER (PARTITION BY e.id ORDER BY
                      list_dot_product(e.vec, c.cvec)
                        / (sqrt(list_dot_product(e.vec, e.vec))
                           * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                      c.centroid_id) AS r
                  FROM e, cent c) WHERE r = 1),
              probed AS (SELECT query_id, qvec, cell FROM (
                  SELECT q.query_id, q.qvec, c.centroid_id AS cell,
                    row_number() OVER (PARTITION BY q.query_id ORDER BY
                      list_dot_product(q.qvec, c.cvec)
                        / (sqrt(list_dot_product(q.qvec, q.qvec))
                           * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                      c.centroid_id) AS r
                  FROM q, cent c) WHERE r <= 4),
              sc AS (SELECT p.query_id, a.id,
                  list_dot_product(a.vec, p.qvec)
                    / (sqrt(list_dot_product(a.vec, a.vec))
                       * sqrt(list_dot_product(p.qvec, p.qvec))) AS cos
                FROM assigned a JOIN probed p ON a.cell = p.cell
                WHERE p.query_id <> a.id),
              $annTop10Sql"""),

    // L2-normalize + int8 quantization — the standard pre-index embedding
    // prep (scalar quantization). Per-row arithmetic only (codegen'd, no
    // shuffle); verified by reducing each quantized vector to scalar
    // stats (sum/min/max) so the oracle compare stays on scalar columns.
    // Round-half-up in explicit floor form — portable across engines.
    Q("emb_normalize_quantize",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").as("vec"))
          .withColumn("nrm", Similarity.norm(col("vec")))
        // zero-norm guard: an all-zero vector has no direction — both
        // engines emit NULL stats for it (Spark's 0-divisor NULL and
        // DuckDB's inf/NaN would otherwise diverge). The quantized
        // array materializes ONCE in its own projection: transform() is
        // non-cheap and used three times, which CollapseProject must
        // not (and does not) re-inline.
        val q = when(col("nrm") > 0, transform(col("vec"),
          x => floor(x.cast("double") * lit(127.0) / col("nrm") + lit(0.5))))
        e.select(col("vec_id"), r6(col("nrm")).as("norm"), q.as("q"))
          .select(col("vec_id"), col("norm"),
            aggregate(col("q"), lit(0L), (a, b) => a + b).as("q_sum"),
            array_min(col("q")).as("q_min"),
            array_max(col("q")).as("q_max"))
      },
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
                FROM embeddings),
              n AS (SELECT vec_id, vec,
                  sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
              qz AS (SELECT vec_id, nrm,
                  CASE WHEN nrm > 0 THEN list_transform(vec,
                    x -> CAST(floor(x * 127.0 / nrm + 0.5) AS BIGINT))
                  END AS q
                FROM n)
              SELECT vec_id, ${Portable.r6Sql("nrm")} AS norm,
                CAST(list_reduce(q, (a, b) -> a + b) AS BIGINT) AS q_sum,
                CAST(list_reduce(q, (a, b) -> least(a, b)) AS BIGINT)
                  AS q_min,
                CAST(list_reduce(q, (a, b) -> greatest(a, b)) AS BIGINT)
                  AS q_max
              FROM qz"""),

    Q("mm_decode",
      (s, d) => {
        val payload = Multimodal.asPayload(Tables.documents(s, d),
          col("doc_id"), col("text"))
        Multimodal.byteFeatures(Multimodal.decodeStub(payload), 4)
          .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
            col("decoded.width").as("width"),
            col("decoded.height").as("height"),
            col("features").getItem(0).as("f1"),
            col("features").getItem(1).as("f2"),
            col("features").getItem(2).as("f3"),
            col("features").getItem(3).as("f4"))
      },
      """SELECT doc_id AS media_id, length(text) AS n_bytes,
                CAST(length(text) % 640 AS INTEGER) AS width,
                CAST(length(text) % 480 AS INTEGER) AS height,
                CASE WHEN length(text) >= 1
                  THEN CAST(ord(substr(text, 1, 1)) AS DOUBLE) ELSE 0 END AS f1,
                CASE WHEN length(text) >= 2
                  THEN CAST(ord(substr(text, 2, 1)) AS DOUBLE) ELSE 0 END AS f2,
                CASE WHEN length(text) >= 3
                  THEN CAST(ord(substr(text, 3, 1)) AS DOUBLE) ELSE 0 END AS f3,
                CASE WHEN length(text) >= 4
                  THEN CAST(ord(substr(text, 4, 1)) AS DOUBLE) ELSE 0 END AS f4
              FROM documents"""),

    Q("mm_frame_sample",
      (s, d) => Multimodal.sampleFrames(
          Multimodal.asPayload(Tables.documents(s, d), col("doc_id"),
            col("text")),
          frameBytes = 64, stride = 2)
        .select(col("media_id"), col("frame_idx"),
          col("frame_len").cast("int").as("frame_len")),
      """SELECT doc_id AS media_id,
                CAST(unnest(generate_series(0,
                  CAST(ceil(length(text) / 64.0) AS INTEGER) - 1, 2))
                  AS INTEGER) AS frame_idx,
                CAST(least(64, length(text) -
                  unnest(generate_series(0,
                    CAST(ceil(length(text) / 64.0) AS INTEGER) - 1, 2)) * 64)
                  AS INTEGER) AS frame_len
              FROM documents"""),

    // patch/tile grid for vision pipelines: every media fans out to its
    // 128×128 tile coordinates (edge tiles clipped) — the pre-decode
    // planning step that drives patch-level parallelism; pure integer
    // arithmetic over the decoded dims, two stacked explodes for the 2D
    // grid, zero-size media dropped identically in both engines
    Q("mm_tile_grid",
      (s, d) => {
        val dec = Multimodal.decodeStub(Multimodal.asPayload(
          Tables.documents(s, d), col("doc_id"), col("text")))
        dec.select(col("media_id"), col("decoded.width").as("w"),
          col("decoded.height").as("h"))
          .filter(col("w") > 0 && col("h") > 0)
          .withColumn("tx", explode(sequence(lit(0),
            ceil(col("w") / lit(128.0)).cast("int") - 1)))
          .withColumn("ty", explode(sequence(lit(0),
            ceil(col("h") / lit(128.0)).cast("int") - 1)))
          .select(col("media_id"), col("tx"), col("ty"),
            least(lit(128), col("w") - col("tx") * 128).as("tile_w"),
            least(lit(128), col("h") - col("ty") * 128).as("tile_h"))
      },
      """WITH m AS (SELECT doc_id AS media_id,
                      length(text) % 640 AS w, length(text) % 480 AS h
                    FROM documents),
              g AS (SELECT media_id, w, h,
                      unnest(generate_series(0,
                        CAST(ceil(w / 128.0) AS INTEGER) - 1)) AS tx
                    FROM m WHERE w > 0 AND h > 0),
              g2 AS (SELECT media_id, w, h, tx,
                       unnest(generate_series(0,
                         CAST(ceil(h / 128.0) AS INTEGER) - 1)) AS ty
                     FROM g)
              SELECT media_id, CAST(tx AS INTEGER) AS tx,
                CAST(ty AS INTEGER) AS ty,
                CAST(least(128, w - tx * 128) AS INTEGER) AS tile_w,
                CAST(least(128, h - ty * 128) AS INTEGER) AS tile_h
              FROM g2"""),

    // sliding audio windows (256-sample frames, 128 hop) over the PCM
    // stub: the frame/hop dataflow of any audio featurizer, with
    // integer-exact RMS/peak so the plumbing is oracle-checked
    Q("mm_audio_window",
      (s, d) => Multimodal.audioWindows(
        Multimodal.asPayload(Tables.documents(s, d), col("doc_id"),
          col("text")),
        windowBytes = 256, hopBytes = 128),
      s"""WITH w AS (SELECT doc_id AS media_id, text,
                      length(text) AS n,
                      unnest(range(0, greatest(CAST(
                        ceil((length(text) - 256) / 128.0) AS INT), 0) + 1))
                        AS win_idx
                    FROM documents),
              f AS (SELECT media_id, CAST(win_idx AS INTEGER) AS win_idx,
                      CAST(win_idx * 128 AS BIGINT) AS win_start,
                      [ord(substr(text, CAST(win_idx * 128 + j + 1 AS INT),
                        1)) FOR j IN range(0, least(256, n - win_idx * 128))]
                        AS samples
                    FROM w)
              SELECT media_id, win_idx, win_start,
                CAST(len(samples) AS INTEGER) AS n_samples,
                ${Portable.r6Sql("sqrt(list_sum(list_transform(samples, x -> CAST(x * x AS DOUBLE))) / len(samples))")} AS rms,
                CAST(list_max(samples) AS INTEGER) AS peak
              FROM f"""),

    // Shot-boundary detection on the multimodal frame stream
    // (ops/Multimodal.sceneCuts): mean-sample jump > 1.5 byte-units vs
    // the previous frame, decided by integer cross-multiplication (no
    // division → bit-identical cut set on both engines).
    Q("mm_scene_cut",
      (s, d) => Multimodal.sceneCuts(
        Multimodal.asPayload(Tables.documents(s, d), col("doc_id"),
          col("text")),
        frameBytes = 128, thrCenti = 150),
      s"""WITH $mediaFramesSql,
              g AS (SELECT media_id, frame_idx,
                  CAST(list_sum(samples) AS BIGINT) AS e,
                  CAST(len(samples) AS BIGINT) AS l
                FROM f WHERE len(samples) > 0),
              d AS (SELECT media_id, frame_idx, e, l,
                  lag(e) OVER (PARTITION BY media_id ORDER BY frame_idx)
                    AS pe,
                  lag(l) OVER (PARTITION BY media_id ORDER BY frame_idx)
                    AS pl
                FROM g)
              SELECT media_id, frame_idx FROM d
              WHERE pl IS NOT NULL
                AND abs(e * pl - pe * l) * 100 > 150 * l * pl"""),

    // Perceptual-hash media dedup (ops/Multimodal.dHash64 +
    // phashNearDupPairs): 64-bit difference hash from 65 evenly-spaced
    // payload probes, 4×16-bit chunk pigeonhole banding, exact popcount
    // verify at Hamming ≤ 3 — image near-dup dedup on the stub-decode
    // contract, banded like every other dedup family. Runs the guarded
    // cap form (r17; in-pass raise_error since r19 — no separate audit
    // job): a completed run proves the bucket cap did not bind at this
    // corpus, so the green row is proven complete — the
    // containment_prefix precedent (the oracle bands WITHOUT a cap).
    // Cap 4096 is the call site's documented df statement: the driver
    // corpus's max (band, chunk) occupancy is 2,363 at sf10, so the
    // guard holds exact through every anchor scale; a corpus that
    // trips it (template/boilerplate media at 100×) must choose
    // between a binding cap (bounded work, reduced recall — the
    // adversarial lane's configuration) and a higher exact cap.
    Q("mm_phash_dedup",
      (s, d) => Multimodal.phashNearDupPairs(
        Multimodal.asPayload(Tables.documents(s, d), col("doc_id"),
          col("text")),
        maxHamming = 3, maxBucketSize = 4096, failOnCappedBuckets = true),
      """WITH d AS (SELECT doc_id AS media_id, text,
                    length(text) AS n
                  FROM documents WHERE length(text) >= 2),
              p AS (SELECT media_id,
                  [ord(substr(text,
                      CAST((i * (n - 1)) // 64 AS INT) + 1, 1))
                    FOR i IN range(0, 65)] AS pr
                FROM d),
              c AS (SELECT media_id,
                  [CAST(list_sum([CASE WHEN pr[j * 16 + k + 1] >
                          pr[j * 16 + k + 2] THEN (1 << (15 - k))
                        ELSE 0 END FOR k IN range(0, 16)]) AS BIGINT)
                    FOR j IN range(0, 4)] AS ch
                FROM p),
              bd AS (SELECT media_id, CAST(j AS INT) AS band,
                  ch[CAST(j AS INT) + 1] AS v
                FROM (SELECT media_id, ch,
                    unnest(range(0, 4)) AS j FROM c)),
              cand AS (SELECT DISTINCT l.media_id AS a, r.media_id AS b
                FROM bd l JOIN bd r ON l.band = r.band AND l.v = r.v
                  AND l.media_id < r.media_id),
              h AS (SELECT cand.a, cand.b,
                  CAST(list_sum([bit_count(xor(ca.ch[CAST(j AS INT) + 1],
                      cb.ch[CAST(j AS INT) + 1]))
                    FOR j IN range(0, 4)]) AS BIGINT) AS hamming
                FROM cand
                JOIN c ca ON ca.media_id = cand.a
                JOIN c cb ON cb.media_id = cand.b)
              SELECT a, b, hamming FROM h WHERE hamming <= 3"""),

    // Keyframe selection (ops/Multimodal.keyframesTopK): the 3 most
    // energetic frames per asset — what gets captioned/embedded when
    // processing every frame is unaffordable.
    Q("mm_keyframe_topk",
      (s, d) => Multimodal.keyframesTopK(
        Multimodal.asPayload(Tables.documents(s, d), col("doc_id"),
          col("text")),
        frameBytes = 128, k = 3),
      s"""WITH $mediaFramesSql,
              g AS (SELECT media_id, frame_idx,
                  CAST(list_sum(samples) AS BIGINT) AS e
                FROM f WHERE len(samples) > 0),
              r AS (SELECT media_id, frame_idx, e,
                  CAST(row_number() OVER (PARTITION BY media_id
                    ORDER BY e DESC, frame_idx) AS INTEGER) AS rk
                FROM g)
              SELECT media_id, rk, frame_idx, e FROM r
              WHERE rk <= 3"""),
  )
}
