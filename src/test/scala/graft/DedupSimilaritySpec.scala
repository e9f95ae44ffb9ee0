package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  test("native float_dot matches the composable dot on real embeddings") {
    val e = Tables.embeddings(spark, sf())
      .select(col("embedding").as("a"),
        reverse(col("embedding")).as("b"))
    val diff = e.select(
        abs(Similarity.dot(col("a"), col("b")) -
          Similarity.dotComposable(col("a"), col("b"))).as("d"))
      .agg(max(col("d"))).first().getDouble(0)
    assert(diff == 0.0) // bit-identical: same op order, no reassociation
  }

  test("exact dedup groups identical texts under min id") {
    val df = Seq((1L, "hello world"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val got = Dedup.exact(df, col("doc_id"), col("text"))
    assert(got.count() == 2)
    val dup = got.filter($"n_dups" === 2).first()
    assert(dup.getAs[Long]("rep_id") == 1L)
  }

  test("minhash LSH finds identical and near-identical texts") {
    val base = "spark query window sort merge hash join filter scan batch " +
      "stream vector column row group"
    val df = Seq(
      (1L, base), (2L, base),                      // identical -> jaccard 1
      (3L, base + " extra"),                       // near-dup
      (4L, "completely different words entirely unrelated content here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, col("doc_id"), col("text"),
      threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical: all bands collide, always
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical texts collide at hamming 0; pairs found") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "totally different tokens xyz uvw")).toDF("doc_id", "text")
    val sims = Dedup.simhash(df, col("doc_id"), col("text"))
    val h1 = sims.filter($"id" === 1).first().getAs[Long]("simhash")
    val h2 = sims.filter($"id" === 2).first().getAs[Long]("simhash")
    assert(h1 == h2)
    val pairs = Dedup.simhashPairs(sims, maxHamming = 3)
    assert(pairs.filter($"id_a" === 1 && $"id_b" === 2).count() == 1)
  }

  test("ngram jaccard computes the exact set similarity") {
    // texts of 4 tokens -> 3-shingles: {a b c, b c d} vs {a b c, b c x}
    val df = Seq((1L, "a b c d"), (2L, "a b c x")).toDF("doc_id", "text")
      .withColumn("blk", lit(0))
    val got = Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"),
      col("blk"), n = 3, threshold = 0.0)
    assert(got.count() == 1)
    // output convention: jaccard rounded to 6 for cross-engine compare
    assert(got.first().getAs[Double]("jaccard") == 0.333333)
  }

  test("cosine math on known vectors") {
    val df = Seq((Array(1f, 0f), Array(0f, 1f)), (Array(1f, 1f), Array(1f, 1f)))
      .toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .as[Double].collect()
    assert(math.abs(got(0)) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks by cosine, excludes self") {
    val corpus = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)), (3L, Array(-1f, 0f))).toDF("id", "vec")
    val q = Seq((0L, Array(1f, 0f))).toDF("query_id", "qvec")
    val got = Similarity.bruteForceTopK(corpus, q, 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(got.toSeq == Seq(1L, 2L))
  }

  test("lsh/ivf recall vs brute force on real embeddings") {
    val e = Tables.embeddings(spark, sf())
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = e.filter(col("id") < 10)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    val brute = Similarity.bruteForceTopK(e, q, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(e, q, 10, nCentroids = 8, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfRecall = (brute intersect ivf).size.toDouble / brute.size
    assert(ivfRecall >= 0.5, s"IVF recall $ivfRecall too low")
    // uniform random embeddings are hyperplane-LSH's worst case; widen
    // the net (2 bits, 16 tables) and require substantial recall
    val lsh = Similarity.lshTopK(e, q, 10, nBits = 2, tables = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lshRecall = (brute intersect lsh).size.toDouble / brute.size
    assert(lshRecall >= 0.5, s"LSH recall $lshRecall too low")
  }

  test("connectedComponents: chains merge, islands stay separate") {
    import graft.ops.Components
    // chain 1-2-3 (transitively one cluster), island 10-11, dup edge
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (3L, 2L))
      .toDF("id_a", "id_b")
    val got = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L))
    // empty edge list -> empty labels
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Components.connectedComponents(empty).count() == 0)
    // long chain converges within the iteration budget (diameter 9)
    val chain = (1L to 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Components.connectedComponents(chain)
      .select("component").distinct().as[Long].collect()
    assert(labels.toSeq == Seq(1L))
  }

  test("substringDupFraction: shared spans score, unique docs score 0") {
    // doc 1 and 2 share their last 4 tokens (one 4-gram span); doc 3
    // is fully unique; doc 4 duplicates doc 1 entirely
    val docs = Seq(
      (1L, "p q r s t u v w"),
      (2L, "x y z a t u v w"),
      (3L, "one two three four five six seven eight"),
      (4L, "p q r s t u v w")).toDF("doc_id", "text")
    val got = Dedup.substringDupFraction(docs, col("doc_id"), col("text"),
        k = 4)
      .as[(Long, Int, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == (5, 1.0))       // all spans shared with doc 4
    assert(got(2L) == (5, 0.2))       // only "t u v w" shared
    assert(got(3L) == (5, 0.0))
    assert(got(4L) == (5, 1.0))
    // scoped, it releases its cache
    spark.catalog.clearCache()
    Caches.scoped(Dedup.substringDupFraction(docs, col("doc_id"),
      col("text"), 4))(_.count())
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("scoped connected components release the label cache after the " +
      "action") {
    import graft.ops.Components
    spark.catalog.clearCache()
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Caches.scoped(Components.connectedComponents(edges))(
      _.as[(Long, Long)].collect().toMap)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L))
    assert(spark.sharedState.cacheManager.isEmpty,
      "bracketed components must leave no cached relations behind")
  }

  test("approximate ANN paths degrade gracefully on an empty corpus") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
    val q = Seq((0L, Array(1f, 0f))).toDF("query_id", "qvec")
    assert(Similarity.lshTopK(empty, q, 5).count() == 0)
    assert(Similarity.ivfTopK(empty, q, 5, nCentroids = 4, nProbe = 2)
      .count() == 0)
    assert(Similarity.cosineNearDupPairs(empty, 0.9).count() == 0)
  }

  test("scoped pair generators release their caches after the action") {
    spark.catalog.clearCache()
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val n = Caches.scoped(Dedup.minhashLshPairs(df, col("doc_id"),
      col("text"), threshold = 0.5))(_.count())
    assert(n == 1)
    val m = Caches.scoped(Dedup.ngramJaccardPairs(df, col("doc_id"),
      col("text"), lit(0), threshold = 0.5))(_.count())
    assert(m == 1)
    assert(spark.sharedState.cacheManager.isEmpty,
      "bracketed variants must leave no cached relations behind")
  }

  test("cosineNearDupPairs finds planted exact duplicates") {
    val e = Tables.embeddings(spark, sf())
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .limit(50)
    val planted = e.unionByName(e.withColumn("id", col("id") + 1000L))
    val pairs = Similarity.cosineNearDupPairs(planted, threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every (i, i+1000) planted pair must surface (identical vectors
    // hash to identical signatures in every table)
    val ids = e.select("id").as[Long].collect()
    ids.foreach(i => assert(pairs.contains((i, i + 1000L)),
      s"missing planted pair $i"))
  }

  test("incrementalNewIds drops exact corpus copies, keeps novel docs") {
    val docs = Tables.documents(spark, sf())
      .select(col("doc_id").as("id"), col("text")).limit(100)
    // batch: 20 verbatim corpus copies (must ALL band-match and drop)
    // + 20 token-reversed docs (share no 3-shingles with the corpus)
    val copies = docs.limit(20).withColumn("id", col("id") + 5000L)
    val novel = docs.limit(20)
      .select((col("id") + 6000L).as("id"),
        concat_ws(" ", reverse(split(trim(col("text")), "\\s+")))
          .as("text"))
    val survivors = Dedup.incrementalNewIds(
      copies.unionByName(novel), docs, col("id"), col("text"))
      .select("id").as[Long].collect().toSet
    assert(survivors.forall(_ >= 6000L),
      s"verbatim copies must never survive, got $survivors")
    // reversed docs overwhelmingly survive (a rare accidental band
    // collision is legitimate — require most, not all)
    assert(survivors.count(_ >= 6000L) >= 15)
  }

  test("editDistancePairs drops oversized prefix blocks entirely") {
    // hot block: 10 docs sharing a 12-char boilerplate prefix, pairwise
    // distance 1 — the OCR/templated-corpus degenerate case the cap is
    // for. Small block: a genuine typo pair that must still be found.
    val hot = (1 to 10).map(i => (100L + i, s"boilerplate: doc body $i"))
    val df = (Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dot"),
      (3L, "entirely different text with no shared prefix")) ++ hot)
      .toDF("doc_id", "text")
    val capped = Dedup.editDistancePairs(df, col("doc_id"), col("text"),
        prefixLen = 12, maxDist = 5, maxBlockSize = 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L)),
      s"hot block must contribute no pairs, got $capped")
    // same data, cap lifted: the hot block's 45 pairs flood back in —
    // proves the cap (not the distance bound) is what contained it
    val uncapped = Dedup.editDistancePairs(df, col("doc_id"), col("text"),
      prefixLen = 12, maxDist = 5, maxBlockSize = 1000)
    assert(uncapped.count() == 46)
  }
}
