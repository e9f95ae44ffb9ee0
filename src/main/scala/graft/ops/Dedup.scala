package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Caches.persist
import graft.functions.Portable.r6
import graft.functions.PortableHash

/** Deduplication operators for large-scale corpus curation: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Designed so no step is
  * quadratic in corpus size — every candidate-pair generator goes through
  * an equi-join on a bucket key (LSH band / SimHash chunk), which Spark
  * executes as a shuffled hash join; only within-bucket pairs are ever
  * materialized. Skewed buckets (boilerplate shingles) are the known
  * hazard at 100 TB — cap them with `maxBucketSize`.
  *
  * All hashing is md5-based [[PortableHash]]: deterministic, executor-
  * independent, and reproducible by the DuckDB oracle, so even the
  * probabilistic pipelines are hash-exact verifiable end-to-end.
  *
  * Caches: the pair generators persist their reused shingle bases,
  * which the returned plan still reads; they are released under the
  * [[graft.Caches]] contracts.
  */
object Dedup {

  /** Plan-unique suffix for [[containmentPairsExact]]'s cap-binding
    * observation (Spark requires observation names unique per plan).
    */
  private val capObsNonce = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Exact dedup by content hash: one row per distinct text, keeping the
    * smallest id as representative plus the duplicate count. Equivalent
    * to the reference's upsert identity semantics applied to content
    * (`src/db/timescale_client.py:60-65`).
    */
  def exact(df: DataFrame, idCol: Column, text: Column): DataFrame =
    df.groupBy(sha2(text, 256).as("content_hash"))
      .agg(min(idCol).as("rep_id"), count(lit(1)).as("n_dups"))

  /** Lowercased whitespace tokenization for [[shinglesFromTokens]]. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Distinct k-shingles from a PRE-MATERIALIZED token-array column.
    * The token array must come from its own projection (`.select(
    * tokens(text).as("toks"))` first): Catalyst does not eliminate
    * common subexpressions across lambda boundaries, so inlining the
    * split into the slice lambda re-tokenizes the whole document once
    * per shingle — measured ~5× slower on the sf0.1 documents table.
    * A multiply-referenced non-trivial alias survives CollapseProject,
    * so the two-step form keeps the split at once-per-row.
    */
  def shinglesFromTokens(toks: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - k, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(k)))))

  /** Lowercased whitespace-token k-shingles of a text column, distinct.
    * COMPOSABLE SEMANTIC REFERENCE — operators use the native
    * codegen'd `GraftNative.shingleArrayCol` (round 12), which is
    * spec-pinned bit-identical to this form (PropertySpec); the sf10
    * runs measured the interpreted HOF pipeline here as the dominant
    * scan-side cost of every shingle-based operator (~4.3k of 6.5k
    * CPU-seconds on the exact-containment query).
    */
  def shingles(text: Column, k: Int): Column =
    shinglesFromTokens(tokens(text), k)

  /** The shingle pass operators actually run: the fused native
    * expression — one codegen'd call doing trim/lower/split/k-gram/
    * dedup per row. See [[shingles]] for the semantic reference.
    */
  def shinglesNative(text: Column, k: Int): Column =
    org.apache.spark.sql.graftnative.GraftNative.shingleArrayCol(text, k)

  /** MinHash signature from a PRE-HASHED shingle array (28-bit bases):
    * signature element i is the min over shingles of affine family
    * member h_i. Take the md5 pass out of this expression (materialize
    * the bases once) — inlining it would re-hash the whole array per
    * family member.
    *
    * Runs as the native one-pass `minhash_signature` expression (one
    * codegen'd loop carrying numHashes running minima); the composable
    * per-member form below is the semantic reference its parity spec
    * checks against.
    */
  def minhashSignatureFromBases(baseArr: Column, numHashes: Int): Column =
    org.apache.spark.sql.graftnative.GraftNative
      .minhashSignature(baseArr, numHashes)

  /** Composable (interpreted higher-order-function) form of
    * [[minhashSignatureFromBases]] — numHashes array walks; kept as the
    * spec-checked semantic reference for the native expression.
    */
  def minhashSignatureComposable(baseArr: Column, numHashes: Int): Column =
    array((0 until numHashes).map(i =>
      array_min(transform(baseArr, b => PortableHash.affineFamily(b, i)))): _*)

  /** MinHash signature of a shingle array (one md5 per shingle). */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column =
    minhashSignatureFromBases(
      transform(shingleArr, s => PortableHash.base28(s)), numHashes)

  /** MinHash-LSH candidate pairs: signatures banded into `bands` groups
    * of `numHashes / bands` rows; docs sharing any band key become a
    * candidate pair; candidates are verified with exact shingle Jaccard
    * and kept when `jaccard >= threshold`. Output: (id_a, id_b, jaccard)
    * with id_a < id_b, jaccard rounded to 6 for cross-engine compare.
    *
    * Scale shape: the only wide join is an equi-join on (band_idx,
    * band_key) over id-sized rows — shingle arrays never travel through
    * the pair join or the distinct; they are re-attached per verified
    * candidate id afterwards. Bucket hygiene: buckets larger than
    * `maxBucketSize` (degenerate boilerplate) are dropped, buckets of
    * size 1 can't pair and are dropped too, so the candidate fanout is
    * bounded by maxBucketSize² per bucket.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: Column,
      text: Column,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame =
    scoredLshPairs(df, idCol, text, shingleK, numHashes, bands,
      threshold, maxBucketSize, score = "jaccard")

  /** (id, band_idx, band_key) MinHash-LSH banding of a corpus — the
    * per-document index rows an incremental pipeline persists alongside
    * the corpus. One pass: tokenize → shingle → native md5 bases →
    * affine signatures → band keys; no cache (single consumer).
    */
  def bandKeys(
      df: DataFrame,
      idCol: Column,
      text: Column,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / bands
    Par.widen(df)
      .select(idCol.as("id"), shinglesNative(text, shingleK).as("sh"))
      .withColumn("hb", org.apache.spark.sql.graftnative.GraftNative
        .md5Base28Array(col("sh")))
      .select(col("id"),
        minhashSignatureFromBases(col("hb"), numHashes).as("sig"))
      .select(col("id"),
        posexplode(org.apache.spark.sql.graftnative.GraftNative
          .minhashBandKeys(col("sig"), bands, rowsPerBand))
          .as(Seq("band_idx", "band_key")))
  }

  /** The composable band-key formulation the native
    * `GraftNative.minhashBandKeys` replaced (round 13) — kept as the
    * bit-identity reference for the parity spec, exactly like
    * [[shingles]] vs [[shinglesNative]].
    */
  private[graft] def bandKeysComposable(
      sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      array_join(transform(
        slice(sig, b * rowsPerBand + 1, rowsPerBand),
        v => v.cast("string")), "-")): _*)

  /** Incremental ingestion dedup — the pattern that makes near-dup
    * filtering affordable at 100 TB: the standing corpus is NEVER
    * re-deduplicated; an arriving batch is checked against the corpus's
    * LSH band index and only band-novel documents survive. Returns the
    * surviving batch ids.
    *
    * Scale shape: in deployment `corpus` band keys are the persisted
    * index (computed once per document ever); here they are derived
    * inline. The batch↔index match is a semi join on (band_idx,
    * band_key) — band-key-sized rows through one shuffle — and the
    * final anti join is over the (small) duplicate id set. Nothing is
    * ever all-pairs, and the batch side is typically broadcastable.
    */
  def incrementalNewIds(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: Column,
      text: Column,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    val bb = bandKeys(batch, idCol, text, shingleK, numHashes, bands)
    val cb = bandKeys(corpus, idCol, text, shingleK, numHashes, bands)
      .select(col("band_idx"), col("band_key"))
    val dup = bb.join(cb, Seq("band_idx", "band_key"), "left_semi")
      .select(col("id")).distinct()
    batch.select(idCol.as("id")).join(dup, Seq("id"), "left_anti")
  }

  /** Asymmetric containment near-dup pairs: same MinHash-LSH candidate
    * generation as [[minhashLshPairs]], but the exact verify score is
    * CONTAINMENT |A∩B| / min(|A|, |B|) instead of Jaccard — the metric
    * that catches a document embedded inside a longer one (quote-with-
    * commentary, boilerplate-wrapped reposts), where Jaccard is diluted
    * by the size difference. Candidates still come from symmetric
    * banding, so at extreme length ratios recall follows the band
    * collision probability of the Jaccard signature — the standard
    * trade-off of containment-via-LSH (LSH Ensemble refines it with
    * length-stratified bands; out of scope here).
    */
  def containmentPairs(
      df: DataFrame,
      idCol: Column,
      text: Column,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.8,
      maxBucketSize: Int = 1000): DataFrame =
    scoredLshPairs(df, idCol, text, shingleK, numHashes, bands,
      threshold, maxBucketSize, score = "containment")

  /** Containment pairs with EXACT recall and exact scores via
    * posting-list intersection COUNTING — the round-12 replacement for
    * the prefix-probe + array-attach verification this function
    * shipped with through round 11. The sf10 scaling run killed that
    * formulation where sf1 couldn't: verification attached both docs'
    * full shingle arrays to every candidate pair, and the measured
    * candidate:result ratio is ~1000:1 (29.6M candidate pairs at sf10
    * verify down to 25.6k real pairs), so the verify join moved
    * candidates × ~2 KB of array payload — >75 GB of sort spill on a
    * corpus whose whole posting table is ~1 GB. The prefix filter
    * itself wasn't the problem; paying full array freight per
    * candidate was.
    *
    * Counting needs no arrays: explode each doc's distinct shingles
    * once, group postings by shingle, expand each posting list to its
    * id pairs array-locally, and count rows per pair — that count IS
    * |a ∩ b|, because a doc posts a shingle at most once
    * (`array_distinct` upstream). Rows moved = Σ_s C(df_s, 2), which
    * `maxPosting` bounds: a shingle posted by more than `maxPosting`
    * docs is excluded from pairing entirely (boilerplate/stop-shingle
    * noise under near-dup semantics — same rationale as the banded
    * family's `maxBucketSize`). Note the cap's contract here: it
    * bounds BOTH recall and scores (a capped shingle contributes to
    * neither candidate generation nor the overlap count), where the
    * array formulation's cap affected recall only. Because the cap is
    * now hard exclusion, it defends "Exact" in the name three ways:
    * (1) the DEFAULT is 100000 — high enough that a binding cap means
    * a df distribution the caller should know about, not a silent
    * benchmark tune (call sites that want an aggressive cap pass it
    * explicitly); (2) the posting build is a bounded-buffer native
    * aggregate ([[org.apache.spark.sql.graftnative.GraftNative
    * .CollectListCapped]]) that returns NULL for an over-cap shingle
    * instead of materializing its full posting list first — a
    * heavy-hitter shingle with df in the millions never holds more
    * than `maxPosting` entries in any executor aggregation buffer
    * (the builtin `collect_list` + size filter it replaces cannot
    * spill within a group and OOMs exactly on the shingles the cap
    * exists to discard); (3) every run SURFACES whether the cap
    * bound: the query carries an `observe` metric
    * (`containment_capped_shingles*`) counting excluded shingles,
    * visible in `QueryExecution.observedMetrics` / the listener bus.
    * One caveat on (3), spec-pinned: AQE's empty-relation propagation
    * replaces executed stages with `EmptyRelationExec` when a
    * downstream stage materializes empty, and the final plan is what
    * metric collection traverses — so if the RESULT is empty the
    * observation can vanish with the collapsed stage. The metric is
    * therefore best-effort; [[containmentCapAudit]] is the guaranteed
    * path (a separate cheap aggregate a caller runs when the df
    * distribution is unknown). At a df distribution where the cap
    * binds, the banded family is the honest tool.
    *
    * Pre-flight on an unknown corpus — run the audit first, or let the
    * query do it for you with `failOnCappedShingles = true`:
    * {{{
    * // manual pre-flight: is the result exact at this cap?
    * val a = Dedup.containmentCapAudit(docs, $"doc_id", $"text").head()
    * require(a.getAs[Long]("capped_shingles") == 0L,
    *   s"cap binds (max_df=${a.getAs[Long]("max_df")}): result would " +
    *     "be approximate — raise maxPosting or use containmentPairs")
    * // or the guarded form: fails fast IN the posting pass when the
    * // cap binds (raise_error on an over-cap posting list)
    * Dedup.containmentPairsExact(docs, $"doc_id", $"text",
    *   failOnCappedShingles = true)
    * }}}
    * The guard is enforced by construction inside the single posting
    * pass (round 19 — it previously ran [[containmentCapAudit]] as a
    * second eager shingle+count pass, ~40% of the query's wall): an
    * over-cap posting list (the aggregate's NULL) hits a `raise_error`
    * branch where the unguarded form filters, so the query THROWS AT
    * EXECUTION (wrapped by Spark in the job-failure exception; the
    * message carries `maxPosting`) instead of returning an approximate
    * result. A guarded run whose result is FULLY CONSUMED (collected,
    * written, counted) is PROVEN exact at the cap, with no metric to
    * remember to read and no second corpus pass paid for the proof. A
    * truncating caller (`.first`, `limit`) can return before the guard
    * has seen every partition, so it proves nothing; run
    * [[containmentCapAudit]] for such a caller, and for the full df
    * distribution when a guarded run throws.
    *
    * The high default is also MEMORY-safe, not just recall-safe: the
    * pair expansion is incremental (posexplode per posting entry, then
    * one suffix-slice transform per row), so the largest array any one
    * row materializes is the ≤-cap posting list itself — never the
    * C(df,2) pair array, which at df near the default cap would be a
    * multi-billion-element single row that no heap survives and no
    * spill can save (rows spill; a row's interior cannot). An under-cap
    * heavy-hitter shingle therefore costs its fair share of the pair
    * stream and nothing else (pinned by ContainmentPrefixSpec's planted
    * df=5000 case at the default cap).
    *
    * containment = overlap / min(|a|, |b|) is then one integer
    * division per surfaced pair — both engines divide the same two
    * ints, so `round(.,6)` stays cross-engine stable exactly as it
    * was for the array formulation (same quotient double).
    *
    * Measured (local[32], 64g, REPEAT=2, full work per run — no
    * cached intermediate, native shingle pass): sf0.1 2.9 s, sf1
    * 9.8 s, sf10 100.5 s / 2717 CPU-s — vs the round-11
    * formulation's 4.1 / 17.8 / disk-full DNF, on an intrinsic pair
    * stream measured to grow exactly 10.0× per step (52.2M → 522.2M
    * rows sf1→sf10). The sf1→sf10 wall exponent is 1.01 = the
    * intrinsic linear bound; see SCALE.md's round-12 sf10 table and
    * its shingle-pass addendum.
    */
  def containmentPairsExact(
      df: DataFrame,
      idCol: Column,
      text: Column,
      shingleK: Int = 3,
      threshold: Double = 0.8,
      maxPosting: Int = 100000,
      failOnCappedShingles: Boolean = false): DataFrame = {
    // NO persist: unlike every other generator in this file the shingle
    // base has exactly ONE consumer (the posting aggregation) once the
    // sizes ride inside the posting entries, so caching it would only
    // add a full extra materialization — this generator is exempt from
    // the file's cache contract because it caches nothing.
    val base = Par.widen(df)
      .select(idCol.as("id"), shinglesNative(text, shingleK).as("sh"))
    // posting lists per shingle, each entry carrying ITS DOC'S SHINGLE
    // COUNT alongside the id: the pair stream is the pipeline's
    // dominant volume (Σ C(df,2) ≈ 10× the corpus rows here), and
    // joining doc sizes back onto it AFTER the pair aggregation means
    // two more exchanges of that biggest table once the size dim
    // outgrows the broadcast threshold (measured at sf10: the two
    // post-agg sort-merge joins were 4× the whole query's CPU). A
    // 4-byte-wider shuffle row deletes both joins at every scale.
    // The cap is enforced INSIDE the aggregation buffer (bounded-buffer
    // native aggregate; null = over-cap — see the cap contract in the
    // doc above), never by sizing a fully-materialized list. Collected
    // order is nondeterministic across runs — harmless: pairs are
    // normalized (least, greatest — struct ordering leads with the
    // distinct id) and counting is order-blind. The observe metric
    // makes a binding cap visible; its name carries a nonce because
    // observation names must be plan-unique and one query may invoke
    // this generator more than once.
    val postings = base
      .select(struct(col("id"), size(col("sh")).as("n")).as("d"),
        explode(col("sh")).as("s"))
      .groupBy(col("s"))
      .agg(org.apache.spark.sql.graftnative.GraftNative
        .collectListCapped(col("d"), maxPosting).as("ds"))
      .observe(
        s"containment_capped_shingles_${capObsNonce.incrementAndGet()}",
        sum(when(col("ds").isNull, 1L).otherwise(0L))
          .as("capped_shingles"))
    // exactness guard, in-pass (r19): the guarded form replaces the
    // silent drop of an over-cap posting list (NULL from the capped
    // aggregate) with raise_error — the query fails fast at execution
    // instead of paying a second audit pass up front. Same trigger
    // condition as the old eager audit (any shingle with df > cap);
    // identical result when the cap does not bind. The guard REPLACES
    // the ds column (not just the filter predicate): the downstream
    // posexplode makes InferFiltersFromGenerate add an isnotnull(ds)
    // that FilterExec evaluates before any other predicate, which
    // would silently drop the null rows the guard exists to catch —
    // wrapping the column means every consumer evaluates the guard.
    val pruned =
      if (failOnCappedShingles) postings
        .withColumn("ds",
          when(col("ds").isNull, raise_error(lit(
            s"containmentPairsExact: maxPosting=$maxPosting binds on " +
              "this corpus (a shingle exceeded the posting cap) — the " +
              "result would be approximate. Raise maxPosting, use the " +
              "banded containmentPairs family, or run " +
              "containmentCapAudit for the full df distribution.")))
            .otherwise(col("ds")))
        .filter(size(col("ds")) >= 2)
      else postings.filter(col("ds").isNotNull && size(col("ds")) >= 2)
    // expand each list to its C(df,2) unordered id pairs array-locally
    // (no second exchange of the exploded corpus), INCREMENTALLY: first
    // posexplode the posting list to one row per (pos, entry), then pair
    // each entry with the list's suffix. Two pipelined generators produce
    // the same Σ C(df,2) pair stream as a single flatten-of-transforms,
    // but the largest array any ONE row ever materializes is the ≤-cap
    // posting list itself (suffix slice ≤ df ≤ maxPosting entries) —
    // never the C(df,2) pair array, which at the recall-safe default cap
    // of 100000 would be a ~5×10⁹-element single row no executor
    // survives (a single row cannot spill). Generators pipeline
    // row-at-a-time inside one whole-stage-codegen span, so the carried
    // `ds` column is not re-materialized per intermediate row, and
    // posexplode preserves the keyed partitioning (still no second
    // exchange).
    val pairs = pruned
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "x")))
      .select(explode(transform(
          slice(col("ds"), col("i") + lit(2),
            greatest(size(col("ds")) - col("i") - 1, lit(0))),
          y => struct(least(col("x"), y).as("a"),
            greatest(col("x"), y).as("b"))))
        .as("p"))
      .select(col("p")("a")("id").as("id_a"), col("p")("a")("n").as("__na"),
        col("p")("b")("id").as("id_b"), col("p")("b")("n").as("__nb"))
    pairs
      .groupBy(col("id_a"), col("__na"), col("id_b"), col("__nb"))
      .agg(count(lit(1)).as("__ov"))
      .withColumn("__min", least(col("__na"), col("__nb")))
      .withColumn("containment",
        col("__ov").cast("double") / col("__min"))
      .filter(col("__min") > 0 && col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        r6(col("containment")).as("containment"))
  }

  /** Cap audit for [[containmentPairsExact]]: one row with
    * `capped_shingles` (shingles whose document frequency exceeds
    * `maxPosting` — each contributes to neither candidates nor scores),
    * `excluded_postings` (their total posting volume) and `max_df`.
    * This is the GUARANTEED surfacing path for a binding cap (the
    * inline observe metric is best-effort — see the cap contract in
    * [[containmentPairsExact]]); run it when the corpus df distribution
    * is unknown, and read `capped_shingles == 0` as "the result is
    * exact at this cap". Cost: the shingle scan plus one count-per-key
    * aggregation (map-side partial combine, no posting lists, no pair
    * expansion) — a small fraction of the main query.
    */
  def containmentCapAudit(
      df: DataFrame,
      idCol: Column,
      text: Column,
      shingleK: Int = 3,
      maxPosting: Int = 100000): DataFrame =
    Par.widen(df)
      .select(explode(shinglesNative(text, shingleK)).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .agg(
        sum(when(col("df") > maxPosting, 1L).otherwise(0L))
          .as("capped_shingles"),
        sum(when(col("df") > maxPosting, col("df")).otherwise(0L))
          .as("excluded_postings"),
        max(col("df")).as("max_df"))

  /** [[minhashLshPairs]] verified by `score`: "jaccard" or
    * "containment" ([[containmentPairs]]). */
  private def scoredLshPairs(
      df: DataFrame,
      idCol: Column,
      text: Column,
      shingleK: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucketSize: Int,
      score: String): DataFrame = {
    val rowsPerBand = numHashes / bands
    // base is consumed three times (signatures + both verify joins);
    // cache it so the shingle computation runs once. The md5 bases are
    // INSIDE the cache boundary: Catalyst's project collapsing would
    // otherwise re-inline the md5 pass into every one of the 16 family
    // members — an InMemoryRelation column can't be inlined past.
    // MEMORY_AND_DISK: spills rather than OOMs at corpus scale.
    val base = persist(Par.widen(df)
      .select(idCol.as("id"), shinglesNative(text, shingleK).as("sh"))
      // native codegen'd md5 pass (bit-identical to the composable
      // transform + PortableHash.base28 form — spec-verified): the
      // interpreted HOF lambda and its per-shingle hex/conv strings are
      // the scan-side hot spot of the cache build at corpus scale
      .withColumn("hb", org.apache.spark.sql.graftnative.GraftNative
        .md5Base28Array(col("sh"))))
    val sigs = base.select(col("id"),
      minhashSignatureFromBases(col("hb"), numHashes).as("sig"))
    // band key: the band's signature values joined as a string — no extra
    // hash needed, and trivially portable to the oracle. Not cached: both
    // consumers (bucket-count aggregate, prune join) recompute only the
    // cheap affine signatures on top of the cached md5 bases. Native
    // single-pass band-key expression (round 13) — bit-identical to the
    // composable array(array_join(transform(slice(sig,…)))) form kept
    // as [[bandKeysComposable]] and spec-pinned; posexplode's pos IS
    // the band index under either form.
    val banded = sigs.select(col("id"),
      posexplode(org.apache.spark.sql.graftnative.GraftNative
        .minhashBandKeys(col("sig"), bands, rowsPerBand))
        .as(Seq("band_idx", "band_key")))
    // bucket-size prune as a count-window over the band key: ONE shuffle
    // of `banded` instead of the groupBy-count + join-back formulation's
    // two, and the downstream self-join on the same keys reuses this
    // partitioning (no further exchange). Skew shape is unchanged — a
    // degenerate bucket lands on one reducer under either plan (and is
    // then dropped by the cap); WindowExec spills rather than OOMs.
    val pruned = banded
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_idx"), col("band_key"))))
      .filter(col("__n") >= 2 && col("__n") <= maxBucketSize)
      .drop("__n")
    // NOT cached although both self-join sides read it: the two
    // branches canonicalize to the same exchange, so AQE's
    // ReusedExchange already shares the one banded shuffle — a persist
    // here was measured slightly SLOWER (adds materialization cost for
    // work that was already deduplicated at runtime)
    val a = pruned.select(col("band_idx"), col("band_key"), col("id").as("id_a"))
    val b = pruned.select(col("band_idx"), col("band_key"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // |a ∪ b| = |a| + |b| − |a ∩ b| EXACTLY because shingle arrays are
    // array_distinct'ed at construction — skipping array_union halves
    // the per-candidate set work (one hash-set pass instead of two),
    // the verify stage's hot spot at corpus scale. The count itself is
    // the native set-membership expression (round 13): bit-identical to
    // size(array_intersect(a, b)) — spec-pinned — without materializing
    // the intersection array per candidate pair.
    val scored = pairs
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("__inter",
        org.apache.spark.sql.graftnative.GraftNative
          .arrayIntersectSize(col("sh_a"), col("sh_b")).cast("double"))
    score match {
      case "jaccard" => scored
        .withColumn("jaccard",
          col("__inter") /
            (size(col("sh_a")) + size(col("sh_b")) - col("__inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"),
          r6(col("jaccard")).as("jaccard"))
      case "containment" => scored
        // smaller set's size is the denominator; guard the (impossible
        // for non-empty text, cheap anyway) zero-shingle edge
        .withColumn("containment",
          col("__inter") / least(size(col("sh_a")), size(col("sh_b"))))
        .filter(least(size(col("sh_a")), size(col("sh_b"))) > 0 &&
          col("containment") >= threshold)
        .select(col("id_a"), col("id_b"),
          r6(col("containment")).as("containment"))
      case other => throw new IllegalArgumentException(
        s"unknown verify score: $other")
    }
  }

  /** SimHash width: 60 bits (15 md5 hex chars — the widest portable slice
    * that stays positive in a signed long). */
  val SimhashBits: Int = 60

  /** 60-bit SimHash per doc: bit b is set when the sum over tokens of ±1
    * (sign of bit b of the token hash) is positive. Output: (id, simhash).
    *
    * FUSED (round 18, VERDICT r17 task 6): one native codegen'd pass
    * over the token array per document (`GraftNative.simhash60`) — the
    * previous formulation exploded the token stream and ran 60
    * conditional-sum aggregates through a doc-id shuffle, and that hash
    * pass dominated the sf10 solo anchor (tcpu 330 s); the fused form
    * is map-only (the hash never leaves the scan stage) and
    * bit-identical on unique ids ([[simhashComposable]] is the
    * semantic reference, parity pinned in Round18OpsSpec). Null text
    * hashes to 0 on both paths (the aggregate form's single null token
    * summed every bit to −1). Ids are assumed unique per row — the old
    * groupBy's silent merge of duplicate-id token streams was an
    * artifact of the aggregate formulation, not a contract.
    */
  def simhash(df: DataFrame, idCol: Column, text: Column): DataFrame =
    Par.widen(df).select(idCol.as("id"),
      coalesce(org.apache.spark.sql.graftnative.GraftNative
        .simhash60Col(split(lower(trim(text)), "\\s+")), lit(0L))
        .as("simhash"))

  /** The pure-builtin aggregate formulation — 60 conditional sums over
    * the exploded token stream through a doc-id shuffle. Kept as the
    * semantic reference for [[simhash]]'s fused native expression (and
    * for corpora that DO carry duplicate ids and want the merge
    * semantics).
    */
  def simhashComposable(df: DataFrame, idCol: Column, text: Column): DataFrame = {
    // explode_outer: a plain explode would infer size>0 and re-split
    // below the projection; split arrays are never empty, so identical
    val toks = Par.widen(df).select(idCol.as("id"),
      explode_outer(split(lower(trim(text)), "\\s+")).as("tok"))
      .withColumn("h", PortableHash.md5Long(col("tok"), 15))
    val bitSums = (0 until SimhashBits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1, 1)
        .otherwise(-1)).as(s"b$b"))
    val perDoc = toks.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until SimhashBits)
      .map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    perDoc.select(col("id"), hash.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming (< 4):
    * the 60-bit hash splits into 4 15-bit chunks; by pigeonhole any pair
    * within distance 3 shares at least one exact chunk, so candidates
    * come from 4 chunk-equality joins, then exact popcount verification.
    * Lossless blocking below the cap: the result equals the full O(n²)
    * scan whenever no (chunk_idx, chunk) bucket exceeds `maxBucketSize`.
    *
    * Round 17 brought this operator up to the family's two structural
    * conventions, both of which it predated: (1) the pipelined
    * pair-verify shape — the popcount verify and threshold now run
    * BEFORE the distinct, so the distinct shuffle sees only true
    * near-dups instead of the full Σ C(n_b,2) candidate stream (the
    * old form distinct-ed candidates first — scalar payloads, so no
    * memory cliff, but a template corpus shuffles ~4× every quadratic
    * bucket's pairs for nothing); (2) the occupancy cap with the
    * containment-style defenses — an `observe` metric
    * (`simhash_capped_postings*`, counting rows inside over-cap buckets,
    * best-effort under AQE), the on-demand [[simhashCapAudit]], and
    * `failOnCappedBuckets = true` (the REGISTERED query's form: its
    * brute-force oracle makes a green row proven-lossless at the cap).
    *
    * DEFAULT IS LOSSLESS-OR-THROW (round 18, ADVICE r17): with
    * `failOnCappedBuckets = true` as the default, the bare call, FULLY
    * CONSUMED, either returns the exact pigeonhole-complete pair set or
    * THROWS AT EXECUTION. A truncating caller (`.first`, `limit`) can
    * return before the guard has seen every partition; audit first with
    * [[simhashCapAudit]] there. Since round 19 the guard is enforced
    * inside the one banded pass (raise_error where the unguarded form
    * prunes; Spark wraps it in the job-failure exception, message
    * carries `maxBucketSize` and the offending occupancy) instead of by
    * a separate eager audit job over a persisted copy of the hash input.
    * Silent recall loss still requires the explicit
    * `failOnCappedBuckets = false` opt-in (bounded-work mode for
    * corpora whose mega-buckets are known template noise); run
    * [[simhashCapAudit]] for the full occupancy distribution when a
    * guarded run throws.
    *
    * CHOOSING THE CAP: the cap bounds the candidate stream at
    * Σ C(min(n_b, cap), 2) ≈ 2·n·cap — linear in both the corpus and
    * the cap. Start from the corpus's audited occupancy
    * ([[simhashCapAudit]]): if `max_occupancy` fits the shuffle budget,
    * set the cap ABOVE it and the guarded run is proven lossless (the
    * registered query's convention — cap 4096 clears the sf10 corpus's
    * 3,084 max). If the audit shows mega-buckets far beyond budget,
    * they are template/boilerplate mass under near-dup semantics: opt
    * in to `failOnCappedBuckets = false` and treat the audit's
    * `excluded_postings` as the documented recall loss — raising the
    * cap to swallow a quadratic mega-bucket is never the answer at
    * scale.
    */
  def simhashPairs(
      sims: DataFrame /* columns: id, simhash */,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      failOnCappedBuckets: Boolean = true): DataFrame = {
    require(maxHamming < 4, "pigeonhole blocking uses 4 chunks")
    require(maxBucketSize >= 2, "a bucket needs 2 entries to form a pair")
    // guard enforced IN the banded pass (r19): the `__bn` count-window
    // below already knows every bucket's occupancy, so the guarded form
    // turns the prune filter into a raise_error on an over-cap row —
    // lossless-or-throw with NO separate audit job and NO persist of
    // the (expensive — 60 token-stream aggregates) simhash input. The
    // old eager-audit form paid the audit aggregate plus a cache
    // materialization before the main plan ran; same trigger condition
    // (any bucket over cap), identical result when the cap holds.
    val chunked = simhashChunks(sims)
    // bucket-size prune as a count-window over the chunk key (r18):
    // ONE shuffle of the banded stream instead of the groupBy-count +
    // anti-join-back formulation's two, and the downstream self-join
    // reuses this (chunk_idx, chunk) partitioning — the minhash band
    // prune's shape. The observe metric sits on the pre-filter window
    // output; it now counts over-cap POSTINGS (rows inside capped
    // buckets — the recall-loss volume) rather than distinct buckets,
    // since the per-bucket count table no longer exists as a node.
    // Best-effort as before (the audit is the guaranteed path).
    val kept = chunked
      .withColumn("__bn", count(lit(1)).over(
        Window.partitionBy(col("chunk_idx"), col("chunk"))))
      .observe(s"simhash_capped_postings_${capObsNonce.incrementAndGet()}",
        sum(when(col("__bn") > maxBucketSize, 1L).otherwise(0L))
          .as("capped_postings"))
      .filter(
        if (failOnCappedBuckets)
          when(col("__bn") > maxBucketSize, raise_error(concat(
            lit(s"simhashPairs: maxBucketSize=$maxBucketSize binds on " +
              "this corpus (bucket occupancy "), col("__bn").cast("string"),
            lit(") — blocking would no longer be lossless. Raise " +
              "maxBucketSize, or accept reduced recall with " +
              "failOnCappedBuckets = false; simhashCapAudit gives the " +
              "full occupancy distribution."))))
            .otherwise(lit(true))
        else col("__bn") <= maxBucketSize)
      .drop("__bn")
    val a = kept.select(col("chunk_idx"), col("chunk"),
      col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = kept.select(col("chunk_idx"), col("chunk"),
      col("id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  private def simhashChunks(sims: DataFrame): DataFrame =
    sims.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 15).bitwiseAND(0x7fffL)): _*))
        .as(Seq("chunk_idx", "chunk")))

  /** (chunk_idx, chunk) bucket occupancy of the simhash banding. */
  def simhashOccupancy(sims: DataFrame): DataFrame =
    simhashChunks(sims)
      .groupBy(col("chunk_idx"), col("chunk"))
      .agg(count(lit(1)).as("n"))

  /** Eager losslessness audit for [[simhashPairs]]'s bucket cap — one
    * row: (capped_buckets, max_occupancy, excluded_postings). Same
    * contract as `Multimodal.phashCapAudit`. */
  def simhashCapAudit(
      sims: DataFrame, maxBucketSize: Int = 1000): DataFrame =
    simhashOccupancy(sims).agg(
      coalesce(sum(when(col("n") > maxBucketSize, 1L).otherwise(0L)),
        lit(0L)).as("capped_buckets"),
      coalesce(max(col("n")), lit(0L)).as("max_occupancy"),
      coalesce(sum(when(col("n") > maxBucketSize, col("n"))), lit(0L))
        .as("excluded_postings"))

  /** Exact n-gram Jaccard similarity for all pairs within a blocking key
    * (e.g. language or source) — the verification-grade dedup metric.
    * The blocking key bounds the pair blowup; at corpus scale pair it
    * with minhashLshPairs for candidate generation instead.
    *
    * Implementation: explode distinct shingles and count shared shingles
    * per pair through a (block, shingle) equi-join — short string rows
    * through the shuffle instead of full array payloads; |A∪B| is then
    * |A| + |B| − |A∩B| from precomputed sizes. Pairs with an empty
    * intersection never materialize (their jaccard is exactly 0 — by
    * definition not near-duplicates, so they are omitted at any
    * threshold).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: Column,
      text: Column,
      blockCol: Column,
      n: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    // cached: sizes + both sides of the self-join read it (4 consumers)
    val base = persist(Par.widen(df)
      .select(idCol.as("id"), blockCol.as("blk"), shinglesNative(text, n).as("sh")))
    val sizes = base.select(col("id"), col("blk"), size(col("sh")).as("sz"))
    val ex = base.select(col("id"), col("blk"), explode(col("sh")).as("s"))
    val inter = ex.select(col("blk"), col("s"), col("id").as("id_a"))
      .join(ex.select(col("blk"), col("s"), col("id").as("id_b")),
        Seq("blk", "s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))
  }

  /** Substring-level duplication signal (the bounded form of exact
    * substring dedup): for each document, the fraction of its distinct
    * k-token spans that also occur in at least one other document.
    * Boilerplate headers, license blocks, and template text score high
    * even when the whole documents are not near-duplicates — the case
    * document-level dedup misses.
    *
    * Scale shape: spans travel as short rows through one groupBy (span →
    * distinct-doc count) and one equi-join back; no pairwise step at
    * all, so cost is corpus-linear in total span count regardless of how
    * many documents share a span.
    */
  def substringDupFraction(
      df: DataFrame,
      idCol: Column,
      text: Column,
      k: Int = 8): DataFrame = {
    // cached: span sizes + the explode read it (3 consumers)
    val base = persist(Par.widen(df)
      .select(idCol.as("id"), shinglesNative(text, k).as("sh")))
    val ex = base.select(col("id"), explode(col("sh")).as("s"))
    // (id, s) pairs are UNIQUE (shinglesFromTokens is array_distinct),
    // so the doc count per span is a plain count — count_distinct here
    // would plan the two-phase distinct aggregate for nothing. The
    // count rides a window over the span key (r18): ONE exchange of
    // the span-string stream instead of the groupBy + join-back
    // formulation's two, and no sort-merge join re-sorting the span
    // strings on both sides — the same one-shuffle prune the minhash
    // band cap uses. Skew shape unchanged (a boilerplate span lands on
    // one reducer either way; WindowExec spills rather than OOMs).
    // Measured sf0.1 1.37→0.85 s, sf1 2.20→1.42 s, equal output.
    val perDoc = ex
      .withColumn("nd", count(lit(1)).over(
        Window.partitionBy(col("s"))))
      .filter(col("nd") >= 2)
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
    base.select(col("id"), size(col("sh")).as("n_spans"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_spans"),
        r6(coalesce(col("n_shared"), lit(0L)).cast("double") /
          col("n_spans")).as("dup_frac"))
  }

  /** Edit-distance near-duplicate pairs — the dedup variant that catches
    * CHARACTER-level edits (typos, OCR noise, small insertions) that
    * token-shingle methods dilute. Candidate pairs come from a cheap
    * prefix block (documents whose normalized text shares the first
    * `prefixLen` chars), then exact Levenshtein ≤ `maxDist` inside each
    * block. The blocking contract is the usual one (the minhash
    * `maxBucketSize` family): recall is bounded by the blocking key —
    * an edit inside the prefix escapes the block, which is the explicit
    * trade for never running the quadratic distance on the cross
    * product. Scale shape: one equi-join on the block key; in-block
    * pairs first pass the free length guard (|len a − len b| > d ⟹
    * dist > d), then the THRESHOLDED Levenshtein — banded O(len·d)
    * instead of O(len²), ~len/d times cheaper per surviving pair.
    * Integer output, no float drift anywhere.
    *
    * `maxBlockSize` bounds the in-block quadratic: a block larger than
    * the cap is dropped ENTIRELY (both sides — no partial pairs), the
    * same contract as the minhash `maxBucketSize`. A hot prefix block
    * is exactly the boilerplate-header case (OCR banners, templated
    * docs) where a shared prefix says nothing about near-duplication —
    * one such block at corpus scale would otherwise cost
    * |block|²·len·d. Documents in dropped blocks still reach the
    * shingle-based dedups, whose candidate keys don't collapse on a
    * common prefix.
    */
  def editDistancePairs(
      df: DataFrame,
      idCol: Column,
      text: Column,
      prefixLen: Int,
      maxDist: Int,
      maxBlockSize: Int = 64): DataFrame = {
    // whole-partition count (no ORDER BY): one shuffle on the block key,
    // which the self-join below needs anyway — the cap costs no extra
    // exchange
    val blockCount = Window.partitionBy(col("__blk"))
    val base = df.select(idCol.as("__id"), lower(trim(text)).as("__t"))
      .withColumn("__blk", substring(col("__t"), 1, prefixLen))
      .withColumn("__bn", count(lit(1)).over(blockCount))
      .filter(col("__bn") <= maxBlockSize)
      .drop("__bn")
    val left = base.select(col("__blk").as("__blk1"), col("__id").as("id1"),
      col("__t").as("__t1"))
    val right = base.select(col("__blk").as("__blk2"), col("__id").as("id2"),
      col("__t").as("__t2"))
    // The distance predicate is an EXPLICIT last join conjunct, not a
    // post-join filter: a filter on a computed dist column gets pushed
    // back into the join condition by the optimizer, where it is
    // evaluated per hash-bucket candidate BEFORE the cheap guards and
    // once per comparison (join-condition codegen does no subexpression
    // elimination) — measured 10× the cost of the distances themselves.
    // Spelling the conjuncts in cheap-to-expensive order makes the
    // && short-circuit explicit: equi-key first, then id order, then
    // the free length guard, and only then ONE thresholded-Levenshtein
    // call (the thresholded form returns −1 above the bound, so
    // `>= 0` is the whole acceptance test). The surviving pairs — and
    // only those — pay a second call in the output projection.
    left.join(right,
        col("__blk1") === col("__blk2") &&
          col("id1") < col("id2") &&
          abs(length(col("__t1")) - length(col("__t2"))) <= maxDist &&
          levenshtein(col("__t1"), col("__t2"), maxDist) >= 0)
      // equal to the plain distance whenever dist ≤ maxDist (banded DP)
      .select(col("id1"), col("id2"),
        levenshtein(col("__t1"), col("__t2"), maxDist).as("dist"))
  }
}
