package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Multimodal, Similarity, Skew}

/** Adversarial-shape scale lane (VERDICT r16 task 5): both r16 scale
  * defects came from CORRELATED data — shared-mean embeddings and
  * template documents — that the driver's uniform testdata structurally
  * cannot expose; the sf10 anchors caught them only because the
  * driver's generator happens to correlate. This harness PLANTS the
  * worst-case shapes at sf1-and-beyond row counts and asserts the
  * occupancy/candidate bounds that clear the r16 `weak` grades, so the
  * defect class is tested per-round instead of discovered at sf10.
  *
  * Lanes (all deterministic — hash/expression-generated, no RNG state):
  *
  *  - `embeddings`: every vector is a dominant shared mean plus an
  *    id-hash residual (the r16 sf10 killer). Asserts the uncentered
  *    counterfactual mega-bucket EXISTS (the corpus is genuinely
  *    adversarial), that the production geometry (mean-centered,
  *    corpus-scaled bits) bounds max occupancy and the Σ C(n_b,2)
  *    candidate stream to near-linear, and that all planted exact
  *    duplicates surface (recall 1 by construction).
  *  - `neardup` (r18): NON-identical planted pairs at cos ∈
  *    [0.999, 0.9995] in the shared-mean corpus; measures the recall
  *    curve across the autoBits range at fixed 4 tables (it must
  *    decay — that is the guarded defect) and asserts the autoTables
  *    geometry holds the 0.95 design recall.
  *  - `phash`: 90% of 200k docs are byte-identical template bodies
  *    (three templates — 12 (band, chunk) buckets of ~60k each; the
  *    UNCAPPED candidate stream would be ~2×10^10 pairs) plus planted
  *    identical unique-doc pairs. Asserts the audit sees the
  *    mega-buckets, the capped run completes with its candidate stream
  *    bounded by Σ C(min(n_b, cap), 2), and every planted under-cap
  *    pair still surfaces.
  *  - `capfail` (r18): the REGISTERED guarded forms (cap 4096,
  *    failOnCappedBuckets = true) must throw their actionable
  *    IllegalStateException end-to-end on template corpora — the
  *    fail-fast UX itself, not just the capped library forms.
  *  - `hotjoin`: 5M fact rows with 50% on ONE key joining a 100k-row
  *    dim. Asserts the hot/cold routed join returns every fact row.
  *
  * Usage: runMain graft.AdversarialScale [embeddings|phash|hotjoin|all]
  * Writes one JSON line (default `adversarial_scale.json`, override
  * `ADV_OUT`) with per-lane wall/occupancy evidence plus the host
  * load/steal block, and exits non-zero on any violated bound.
  */
object AdversarialScale {

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Shared-mean corpus: μ = 10 per coordinate; residual per coordinate
    * is an id-keyed hash uniform in [-2, 2] — big enough that no two
    * distinct ids reach cosine 0.999 (|r_i − r_j|² concentrates at
    * ~170 against a ≤12.8 near-dup budget), small enough that the mean
    * dominates every uncentered projection.
    */
  private def sharedMeanEmbeddings(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id"),
      transform(sequence(lit(0), lit(63)), i =>
        (lit(10.0) +
          (pmod(hash(col("id"), i), lit(2001)) / lit(500.0) - lit(2.0)))
          .cast("float")).as("vec"))

  private def laneEmbeddings(spark: SparkSession): String = {
    val n = sys.env.getOrElse("ADV_EMB_N", "100000").toLong
    val base = sharedMeanEmbeddings(spark, n)
    val planted = base.unionByName(
      base.withColumn("id", col("id") + 100000000L))
    val total = 2 * n

    // counterfactual at the r16 geometry (fixed 8 bits, no centering):
    // occupancy only — the pair join at this shape is the death this
    // lane exists to prevent
    val uncenteredMax = Similarity
      .cosineLshOccupancy(planted, nBits = 8, tables = 1,
        center = false, autoBits = false)
      .agg(max(col("n"))).head().getLong(0)
    require(uncenteredMax >= total / 8,
      s"fixture drift: uncentered max occupancy $uncenteredMax is not a " +
        s"mega-bucket at corpus $total — the lane no longer plants the " +
        "r16 failure shape")

    // production geometry: defaults (center = true, autoBits = true)
    val occ = Similarity.cosineLshOccupancy(planted)
    val stats = occ.agg(
      max(col("n")).as("max_occ"),
      expr("approx_percentile(n, 0.99)").as("p99_occ"),
      sum(expr("n * (n - 1) DIV 2")).as("candidates")).head()
    val maxOcc = stats.getLong(0)
    val p99 = stats.getLong(1)
    val candidates = stats.getLong(2)
    require(maxOcc <= 16L * 128,
      s"centered+scaled max occupancy $maxOcc exceeds 16x the target — " +
        "the occupancy bound regressed")
    require(candidates <= 400L * total,
      s"candidate stream $candidates exceeds 400x corpus rows " +
        s"($total) — no longer near-linear")

    val (rows, wall) = timed(
      Similarity.cosineNearDupPairs(planted, threshold = 0.999).count())
    require(rows == n,
      s"expected exactly the $n planted exact-duplicate pairs, got " +
        s"$rows — centered recall on identical vectors must be 1 and " +
        "the residual amplitude admits no natural 0.999 pair")

    f"""{"corpus_rows":$total,"uncentered_max_occ":$uncenteredMax,""" +
      f""""max_occ":$maxOcc,"p99_occ":$p99,"candidates":$candidates,""" +
      f""""pairs":$rows,"wall_sec":$wall%.1f}"""
  }

  /** Near-dup recall operating curve (VERDICT r17 task 2): the r17
    * evidence proved EXACT-duplicate recall (identical vectors share
    * every centered signature); this lane plants NON-identical pairs
    * at cos ∈ [0.999, 0.9995] — amp=0.66 per-coord uniform
    * perturbation gives ‖δ‖² concentrated at 9.3 against ‖v‖² ≈ 6485,
    * so 1−cos lands in [6.1, 8.2]×10⁻⁴ for every pair — and measures
    * recall across the autoBits range (8→20 bits, fixed 4 tables) plus
    * the autoTables geometry, which must hold the ≥0.95 design target.
    * Natural pairs cannot intrude: distinct residuals differ by
    * ‖r_i−r_j‖² ≈ 171 → 1−cos ≈ 1.3×10⁻², twenty times the budget.
    */
  private def laneNeardup(spark: SparkSession): String = {
    val n = sys.env.getOrElse("ADV_NEARDUP_N", "200000").toLong
    val nPlant = 2000L
    val base = sharedMeanEmbeddings(spark, n)
    // clone of base row `id` under id+10^8: the ORIGINAL vector plus an
    // amp-scaled perturbation keyed to the clone id — deterministic,
    // non-identical by construction. Built by perturbing base's own
    // vec (index-aware transform), NOT by re-deriving the formula under
    // an `id`-aliased select: Spark's lateral column alias resolution
    // binds `col("id")` in later select-list expressions to the
    // freshly aliased id+10^8, silently re-keying the residual (found
    // the hard way — pairs landed at cos ≈ 0.98, the independent-
    // residual angle, instead of 0.999).
    val clones = base.filter(col("id") < nPlant)
      .withColumn("cid", col("id") + 100000000L)
      .select(col("cid").as("id"),
        transform(col("vec"), (x, i) =>
          (x + lit(0.66) * (pmod(hash(col("cid"), i, lit(7)),
            lit(2001)) / lit(1000.5) - lit(1.0))).cast("float")).as("vec"))
    val corpus = base.unionByName(clones).persist()
    try {
      // exact per-pair cosine: the recall denominator is the pairs that
      // GENUINELY clear the threshold, so the assertion cannot drift
      // with the perturbation's tails
      val exact = base.filter(col("id") < nPlant)
        .select(col("id"), col("vec").as("va"))
        .join(clones.select((col("id") - 100000000L).as("id"),
          col("vec").as("vb")), Seq("id"))
        .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
      val es = exact.agg(
        sum(when(col("cos") >= 0.999, 1L).otherwise(0L)).as("eligible"),
        min(col("cos")).as("min_cos"), max(col("cos")).as("max_cos"),
        sum(when(col("cos") >= 0.99999, 1L).otherwise(0L)).as("near_ident"))
        .head()
      val eligible = es.getLong(0)
      require(eligible >= (nPlant * 9) / 10,
        s"fixture drift: only $eligible/$nPlant planted pairs reach " +
          s"cos>=0.999 (min=${es.getDouble(1)}, max=${es.getDouble(2)})")
      require(es.getLong(3) == 0,
        "fixture drift: planted pairs must be NON-identical " +
          s"(${es.getLong(3)} at cos>=0.99999)")

      def foundAt(bits: Int): Long =
        Similarity.cosineNearDupPairs(corpus, threshold = 0.999,
          nBits = bits, tables = 4, autoBits = false)
          .filter(col("id_b") - col("id_a") === 100000000L).count()

      val curve = Seq(8, 11, 14, 17, 20).map { b =>
        val f = foundAt(b)
        System.err.println(f"[neardup] bits=$b tables=4 recall=" +
          f"${f.toDouble / eligible}%.3f")
        b -> f
      }
      // fixture sanity: the curve must actually DECAY (that is the
      // defect being guarded) …
      require(curve.head._2 > curve.last._2,
        s"expected recall decay across bits, got $curve")
      // … and the production autoBits width (11 bits at this corpus)
      // with fixed 4 tables must be visibly below the design target —
      // the gap autoTables exists to close
      val bitsEff = Similarity.effectiveBits(corpus, 8,
        autoBits = true, targetOccupancy = 128)
      val (fixedFound, wallFixed) = timed(foundAt(bitsEff))

      val (autoFound, wallAuto) = timed {
        Similarity.cosineNearDupPairs(corpus, threshold = 0.999,
          autoBits = true, autoTables = true, targetRecall = 0.95)
          .filter(col("id_b") - col("id_a") === 100000000L).count()
      }
      val recallAuto = autoFound.toDouble / eligible
      require(recallAuto >= 0.93,
        f"autoTables recall $recallAuto%.3f below the 0.95 design " +
          f"target's 0.93 floor (eligible=$eligible, found=$autoFound)")

      f"""{"corpus_rows":${n + nPlant},"eligible_pairs":$eligible,""" +
        f""""cos_min":${es.getDouble(1)}%.6f,"cos_max":${es.getDouble(2)}%.6f,""" +
        s""""recall_curve_4tables":{${curve.map { case (b, f) =>
          f""""$b":${f.toDouble / eligible}%.4f""" }.mkString(",")}},""" +
        f""""bits_eff":$bitsEff,"recall_fixed":${fixedFound.toDouble / eligible}%.4f,""" +
        f""""recall_auto":$recallAuto%.4f,"wall_fixed_sec":$wallFixed%.1f,""" +
        f""""wall_auto_sec":$wallAuto%.1f}"""
    } finally corpus.unpersist()
  }

  /** Template corpus: ids ≡ 0–8 (mod 10) carry one of three
    * byte-identical template bodies; ids ≡ 9 carry a unique body. The
    * first `plantedPairs` unique docs are cloned under shifted ids.
    */
  private def templateDocs(
      spark: SparkSession, n: Long, plantedPairs: Int): DataFrame = {
    val docs = spark.range(n).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(10)) < 9,
        concat(lit("lorem ipsum dolor sit amet consectetur adipiscing " +
          "elit template body number "), pmod(col("id"), lit(3))))
        .otherwise(concat(lit("unique document "), col("id"),
          lit(" body "), md5(col("id").cast("string"))))
        .as("text"))
    val clones = docs.filter(pmod(col("doc_id"), lit(10)) === 9)
      .orderBy(col("doc_id")).limit(plantedPairs)
      .withColumn("doc_id", col("doc_id") + 100000000L)
    docs.unionByName(clones)
  }

  private def lanePhash(spark: SparkSession): String = {
    val n = sys.env.getOrElse("ADV_PHASH_N", "200000").toLong
    val plantedPairs = 1000
    val cap = 1000
    val payload = Multimodal.asPayload(
      templateDocs(spark, n, plantedPairs), col("doc_id"), col("text"))

    val audit = Multimodal.phashCapAudit(payload, maxBucketSize = cap)
      .head()
    val cappedBuckets = audit.getAs[Long]("capped_buckets")
    val maxOcc = audit.getAs[Long]("max_occupancy")
    require(maxOcc >= n / 4,
      s"fixture drift: max bucket $maxOcc is not a mega-bucket at " +
        s"corpus $n — the lane no longer plants the template shape")
    // ≥ 4: every band must carry at least one template mega-bucket
    // (templates sharing early chunks merge some buckets — the digit
    // that distinguishes them sits late in the byte stream)
    require(cappedBuckets >= 4,
      s"expected a template mega-bucket in every band, got " +
        s"$cappedBuckets capped buckets")

    // candidate stream the capped join actually faces vs the uncapped
    // counterfactual — both from the occupancy table, no pair join
    val occ = Multimodal.phashOccupancy(payload)
    val cs = occ.agg(
      sum(expr(s"IF(n <= $cap, n * (n - 1) DIV 2, 0L)"))
        .as("capped_cands"),
      sum(expr("n * (n - 1) DIV 2")).as("uncapped_cands")).head()
    val cappedCands = cs.getLong(0)
    val uncappedCands = cs.getLong(1)
    require(cappedCands <= 2L * cap * (n + plantedPairs),
      s"capped candidate stream $cappedCands exceeds the 2·n·cap bound")

    val (planted, wall) = timed {
      val pairs = Multimodal.phashNearDupPairs(payload, maxHamming = 3,
        maxBucketSize = cap, failOnCappedBuckets = false)
      pairs.filter(col("b") - col("a") === 100000000L).count()
    }
    require(planted == plantedPairs,
      s"expected all $plantedPairs planted under-cap pairs, got $planted")

    f"""{"corpus_rows":${n + plantedPairs},"max_occ":$maxOcc,""" +
      f""""capped_buckets":$cappedBuckets,""" +
      f""""capped_candidates":$cappedCands,""" +
      f""""uncapped_candidates":$uncappedCands,""" +
      f""""planted_found":$planted,"wall_sec":$wall%.1f}"""
  }

  /** Simhash on the template corpus: identical bodies collide all four
    * 15-bit chunks — quadratic without the r17 cap. The capped run must
    * bound candidates and keep the under-cap planted pairs; minhash (cap
    * since r12) runs the same corpus as the family control.
    */
  private def laneSimhash(spark: SparkSession): String = {
    import graft.ops.Dedup
    val n = sys.env.getOrElse("ADV_SIMHASH_N", "200000").toLong
    val plantedPairs = 1000
    val cap = 1000
    val docs = templateDocs(spark, n, plantedPairs)
    val sims = Dedup.simhash(docs, col("doc_id"), col("text"))
      .persist() // one hash pass across audit + occupancy + pair run
    try {
      val audit = Dedup.simhashCapAudit(sims, maxBucketSize = cap).head()
      val maxOcc = audit.getAs[Long]("max_occupancy")
      require(maxOcc >= n / 4,
        s"fixture drift: simhash max bucket $maxOcc is not a " +
          s"mega-bucket at corpus $n")
      val cs = Dedup.simhashOccupancy(sims).agg(
        sum(expr(s"IF(n <= $cap, n * (n - 1) DIV 2, 0L)")),
        sum(expr("n * (n - 1) DIV 2"))).head()
      val (cappedCands, uncappedCands) = (cs.getLong(0), cs.getLong(1))
      require(cappedCands <= 2L * cap * (n + plantedPairs),
        s"capped simhash candidate stream $cappedCands exceeds the " +
          "2·n·cap bound")
      val (planted, wall) = timed {
        Dedup.simhashPairs(sims, maxHamming = 3, maxBucketSize = cap,
            failOnCappedBuckets = false)
          .filter(col("id_b") - col("id_a") === 100000000L).count()
      }
      require(planted == plantedPairs,
        s"expected all $plantedPairs planted under-cap simhash pairs, " +
          s"got $planted")
      f"""{"corpus_rows":${n + plantedPairs},"max_occ":$maxOcc,""" +
        f""""capped_candidates":$cappedCands,""" +
        f""""uncapped_candidates":$uncappedCands,""" +
        f""""planted_found":$planted,"wall_sec":$wall%.1f}"""
    } finally sims.unpersist()
  }

  /** Fail-fast UX of the REGISTERED guarded forms (VERDICT r17 task 5):
    * the adversarial lanes prove the capped *library* forms complete;
    * the registered queries run `failOnCappedBuckets = true` at cap
    * 4096 and must THROW — with the actionable audit message, before
    * any pair work — when a template corpus makes the cap bind. This
    * lane drives that exact path end-to-end for phash AND simhash on a
    * corpus whose template buckets (~90% of 30k rows across 3
    * templates) exceed the registered cap several times over.
    */
  private def laneCapfail(spark: SparkSession): String = {
    import graft.ops.Dedup
    val n = sys.env.getOrElse("ADV_CAPFAIL_N", "30000").toLong
    val cap = 4096 // the registered queries' cap
    val docs = templateDocs(spark, n, plantedPairs = 0)

    // the r19 in-pass guard throws from a task (raise_error), so the
    // guard text arrives wrapped in Spark's job-failure exception —
    // search the whole cause chain for it
    def chain(t: Throwable): String = {
      val sb = new StringBuilder
      var c: Throwable = t
      var i = 0
      while (c != null && i < 20) {
        sb.append(Option(c.getMessage).getOrElse("")).append('\n')
        c = c.getCause; i += 1
      }
      sb.toString
    }
    def expectThrow(what: String)(body: => Long): String = {
      try {
        val rows = body
        throw new IllegalStateException(
          s"$what: guarded form returned $rows rows instead of failing " +
            "fast on the template corpus")
      } catch {
        case e: Throwable
            if chain(e).contains(s"maxBucketSize=$cap") =>
          require(chain(e).contains("Raise maxBucketSize"),
            s"$what: guard message lost its actionable advice: " +
              chain(e))
          chain(e).replace("\"", "'").replace("\n", " ").take(160)
      }
    }

    val phashMsg = expectThrow("phash") {
      Multimodal.phashNearDupPairs(
        Multimodal.asPayload(docs, col("doc_id"), col("text")),
        maxHamming = 3, maxBucketSize = cap,
        failOnCappedBuckets = true).count()
    }
    val simhashMsg = expectThrow("simhash") {
      Dedup.simhashPairs(
        Dedup.simhash(docs, col("doc_id"), col("text")),
        maxHamming = 3, maxBucketSize = cap,
        failOnCappedBuckets = true).count()
    }
    s"""{"corpus_rows":$n,"cap":$cap,""" +
      s""""phash_threw":true,"phash_msg":"$phashMsg",""" +
      s""""simhash_threw":true,"simhash_msg":"$simhashMsg"}"""
  }

  /** Minhash-LSH (capped since r12) on the same template corpus — the
    * family control: its existing bucket cap must keep the banded join
    * linear and the planted exact duplicates recalled.
    */
  private def laneMinhash(spark: SparkSession): String = {
    import graft.ops.Dedup
    val n = sys.env.getOrElse("ADV_MINHASH_N", "200000").toLong
    val plantedPairs = 1000
    val docs = templateDocs(spark, n, plantedPairs)
    val (planted, wall) = timed {
      Caches.scoped(Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        threshold = 0.9))(
        _.filter(col("id_b") - col("id_a") === 100000000L).count())
    }
    require(planted == plantedPairs,
      s"expected all $plantedPairs planted under-cap minhash pairs, " +
        s"got $planted")
    f"""{"corpus_rows":${n + plantedPairs},"planted_found":$planted,""" +
      f""""wall_sec":$wall%.1f}"""
  }

  private def laneHotJoin(spark: SparkSession): String = {
    val nf = sys.env.getOrElse("ADV_JOIN_N", "5000000").toLong
    val fact = spark.range(nf).select(
      when(pmod(col("id"), lit(2)) === 0, lit(0L))
        .otherwise(pmod(hash(col("id")), lit(100000)).cast("long"))
        .as("k"),
      col("id").as("fid"))
    val dim = spark.range(100000).select(col("id").as("k"),
      (col("id") * 7).as("payload"))
    val (rows, wall) = timed(
      Skew.hotColdJoin(fact, dim, "k", hotKeys = 8).count())
    require(rows == nf,
      s"hot/cold join must preserve every fact row: $rows vs $nf")
    f"""{"fact_rows":$nf,"joined_rows":$rows,"wall_sec":$wall%.1f}"""
  }

  /** Known lane names, declaration order. A misspelled lane argument
    * must fail loudly (ADVICE r17): silently matching nothing would
    * write `{"lanes":{},"ok":true}` — a passing artifact with zero
    * lanes executed.
    */
  private val knownLanes = Seq(
    "embeddings", "neardup", "phash", "simhash", "capfail", "minhash",
    "hotjoin")

  def main(args: Array[String]): Unit = {
    val lane = args.headOption.getOrElse("all")
    require(lane == "all" || knownLanes.contains(lane),
      s"unknown lane '$lane' — expected one of: all, " +
        knownLanes.mkString(", "))
    val out = sys.env.getOrElse("ADV_OUT", "adversarial_scale.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val load1Before = HostLoad.load1()
    val stealBefore = HostLoad.stealSeconds()
    val spark = Sessions.local(cpus)

    val lanes = scala.collection.mutable.LinkedHashMap[String, String]()
    var failure: Option[String] = None
    def run(name: String)(body: => String): Unit =
      if (failure.isEmpty && (lane == "all" || lane == name)) {
        try {
          lanes(name) = body
          System.err.println(s"[adversarial] $name: ${lanes(name)}")
        } catch { case e: Throwable =>
          failure = Some(s"$name: ${e.getMessage}")
          System.err.println(s"[adversarial] $name FAILED: ${e.getMessage}")
        }
      }
    run("embeddings")(laneEmbeddings(spark))
    run("neardup")(laneNeardup(spark))
    run("phash")(lanePhash(spark))
    run("simhash")(laneSimhash(spark))
    run("capfail")(laneCapfail(spark))
    run("minhash")(laneMinhash(spark))
    run("hotjoin")(laneHotJoin(spark))

    // zero lanes executed can never read as a pass (ADVICE r17) — an
    // earlier-lane failure aborting the rest is already ok=false; this
    // covers any future way of selecting nothing
    if (lanes.isEmpty && failure.isEmpty)
      failure = Some(s"lane selection '$lane' executed zero lanes")
    val json =
      s"""{"lanes":{${lanes.map { case (k, v) => s""""$k":$v""" }
        .mkString(",")}},""" +
        s""""host":${HostLoad.json(load1Before, stealBefore)},""" +
        s""""ok":${failure.isEmpty}${failure.map(f =>
          s""","failure":"${f.replace("\"", "'").take(400)}"""")
          .getOrElse("")}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
    if (failure.nonEmpty) sys.exit(1)
  }
}
