package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._

/** The scale-safe window/rank engines must be row-for-row identical to
  * the naive global-window formulations they replace (SURVEY.md §7.4(2)),
  * and the splits must satisfy the reference's invariants
  * (`test_feature_pipeline.py:109-146`).
  */
class ScalableOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val ev = Tables.events(spark, sf())

  test("ScalableWindow lag/rolling equals global window") {
    val order = Seq(col("ts"), col("event_id"))
    // smallInput = 0 forces the bucketed-fringe path (10k test rows
    // would otherwise take the adaptive single-partition shortcut)
    val got = ScalableWindow.withTrailingColumns(
      ev, date_trunc("week", col("ts")), order, 168, smallInput = 0)(
      "lag_1" -> (w => lag(col("value"), 1).over(w)),
      "lag_168" -> (w => lag(col("value"), 168).over(w)),
      "roll_24" -> (w => avg(col("value")).over(w.rowsBetween(-23, 0))))
      .select(col("event_id"), col("lag_1"), col("lag_168"), col("roll_24"))
    val wGlobal = Window.orderBy(order: _*)
    val want = ev.select(col("event_id"),
      lag(col("value"), 1).over(wGlobal).as("lag_1"),
      lag(col("value"), 168).over(wGlobal).as("lag_168"),
      avg(col("value")).over(wGlobal.rowsBetween(-23, 0)).as("roll_24"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("growing-frame difference rolling avg matches the sliding frame") {
    // the win_rolling_avg formulation: avg over the trailing k rows as a
    // difference of two growing frames (O(1)/row) — must equal the
    // direct sliding-frame avg on the bucketed path, including rows
    // whose global frame is truncated (start of data) and rows whose
    // frame spans the fringe into preceding buckets
    val order = Seq(col("ts"), col("event_id"))
    def rollAvg(k: Int): org.apache.spark.sql.expressions.WindowSpec =>
        org.apache.spark.sql.Column = w => {
        val whole = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val before = w.rowsBetween(Window.unboundedPreceding, -k)
        val sm = sum(col("vc")).over(whole) -
          coalesce(sum(col("vc")).over(before), lit(0.0))
        val n = (count(col("vc")).over(whole) -
          coalesce(count(col("vc")).over(before), lit(0L))).cast("double")
        when(n > 0, sm / n)
      }
    val cents = ev.withColumn("vc", floor(col("value") * 100 + lit(0.5)))
    val got = ScalableWindow.withTrailingColumns(
      cents, date_trunc("week", col("ts")), order, 167, smallInput = 0)(
      "roll_24" -> rollAvg(24), "roll_168" -> rollAvg(168))
      .select(col("event_id"), col("roll_24"), col("roll_168"))
    val wG = Window.orderBy(order: _*)
    val want = cents.select(col("event_id"),
      avg(col("vc")).over(wG.rowsBetween(-23, 0)).as("roll_24"),
      avg(col("vc")).over(wG.rowsBetween(-167, 0)).as("roll_168"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("ScalableWindow: bucket gaps and short buckets still match global") {
    // buckets floor(id/10): populations 2,1,0(gap),1,3 — every bucket is
    // smaller than the fringe, and bucket 20-29 is absent entirely; the
    // fringe must span multiple preceding buckets across the gap
    val df = Seq(1L, 5L, 12L, 31L, 40L, 41L, 47L).toDF("id")
      .withColumn("v", col("id") * 2.0)
    val order = Seq(col("id"))
    val got = ScalableWindow.withTrailingColumns(
      df, floor(col("id") / 10), order, 4, smallInput = 0)(
      "lag_1" -> (w => lag(col("v"), 1).over(w)),
      "lag_3" -> (w => lag(col("v"), 3).over(w)),
      "roll_4" -> (w => avg(col("v")).over(w.rowsBetween(-3, 0))))
      .select(col("id"), col("lag_1"), col("lag_3"), col("roll_4"))
    val wG = Window.orderBy(col("id"))
    val want = df.select(col("id"),
      lag(col("v"), 1).over(wG).as("lag_1"),
      lag(col("v"), 3).over(wG).as("lag_3"),
      avg(col("v")).over(wG.rowsBetween(-3, 0)).as("roll_4"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("adaptive small-input shortcut matches the bucketed path") {
    val order = Seq(col("ts"), col("event_id"))
    def run(threshold: Long) = ScalableWindow.withTrailingColumns(
      ev, date_trunc("week", col("ts")), order, 24, smallInput = threshold)(
      "l" -> (w => lag(col("value"), 1).over(w)),
      "r" -> (w => avg(col("value")).over(w.rowsBetween(-23, 0))))
    val small = run(Long.MaxValue) // force single-partition plan
    val bucketed = run(0)          // force fringe plan
    assert(small.exceptAll(bucketed).isEmpty &&
      bucketed.exceptAll(small).isEmpty)
  }

  test("ScalableRank.globalRowNumber equals global row_number") {
    val got = ScalableRank.globalRowNumber(ev,
      date_trunc("day", col("ts")), Seq(col("ts"), col("event_id")), "rn")
      .select(col("event_id"), col("rn"))
    val want = ev.select(col("event_id"),
      row_number().over(Window.orderBy(col("ts"), col("event_id")))
        .cast("long").as("rn"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("chronoSplit: floor sizing, no overlap, totality, ordering") {
    val n = ev.count()
    val split = ScalableRank.chronoSplit(ev,
      date_trunc("week", col("ts")), Seq(col("ts"), col("event_id")), 0.3)
    val nTrain = split.filter($"split" === "train").count()
    val nTest = split.filter($"split" === "test").count()
    assert(nTrain == math.floor(n * (1.0 - 0.3)).toLong) // int(n*(1-r))
    assert(nTrain + nTest == n)                          // totality
    val maxTrainTs = split.filter($"split" === "train")
      .agg(max(struct($"ts", $"event_id"))).first().getStruct(0)
    val minTestTs = split.filter($"split" === "test")
      .agg(min(struct($"ts", $"event_id"))).first().getStruct(0)
    assert(maxTrainTs.getAs[java.time.LocalDateTime]("ts")
      .compareTo(minTestTs.getAs[java.time.LocalDateTime]("ts")) <= 0)
  }

  test("upsertNothing: no existing keys pass, batch dedup applies") {
    val existing = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val incoming = Seq((2L, "x"), (3L, "y"), (3L, "z"), (4L, "w"))
      .toDF("k", "v")
    val got = Relational.upsertNothing(incoming, existing, Seq("k"))
    assert(got.count() == 2) // 3 (one of y/z) and 4
    assert(got.filter($"k" === 2).count() == 0)
    assert(got.select("k").distinct().count() == 2)
  }

  test("upsertNothing is idempotent like the reference's conflict writes") {
    // test_db_write.py's insert-then-reinsert family: applying the same
    // batch on top of its own result inserts nothing the second time.
    // Deterministic key-range subsets — limit() without order takes
    // arbitrary rows and re-evaluates per plan.
    val existing = ev.filter($"event_id" < 100)
      .select($"event_id", $"value")
    val batch = ev.filter($"event_id" < 150)
      .select($"event_id", $"value")
    val first = Relational.upsertNothing(batch, existing, Seq("event_id"))
    val afterFirst = existing.unionByName(first)
    val second = Relational.upsertNothing(batch, afterFirst, Seq("event_id"))
    assert(second.count() == 0)
    assert(afterFirst.count() == 150)
  }

  test("downsampleStride keeps ceil(n/max) spacing incl. first row") {
    val order = Seq(col("ts"), col("event_id"))
    val n = ev.count()
    for (m <- Seq(1, 7, 100, n.toInt, n.toInt + 5)) {
      val got = ScalableRank.downsampleStride(ev, date_trunc("week", col("ts")), order, m)
      val want = SortedStrideSpec.strideReference(ev, order, m)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"maxPoints $m")
    }
  }

  test("medianImpute fills nulls with exact per-group median") {
    val df = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)),
      ("a", None), ("b", Some(10.0)), ("b", None), ("b", Some(20.0)))
      .toDF("g", "x")
    val got = Aggregates.medianImpute(df, col("g"), col("x"), "imp")
    assert(got.filter($"g" === "a" && $"x".isNull)
      .select("imp").first().getDouble(0) == 2.0)
    assert(got.filter($"g" === "b" && $"x".isNull)
      .select("imp").first().getDouble(0) == 15.0) // interpolated median
  }

  test("regressionMetrics masked MAPE: empty mask -> null") {
    val df = Seq((1.0, 2.0), (-5.0, -4.0)).toDF("y", "p") // all |y| < 10
    val m = Aggregates.regressionMetrics(df, col("y"), col("p")).first()
    assert(m.getAs[Double]("mae") == 1.0)
    assert(m.isNullAt(m.fieldIndex("mape")))
  }

  test("asof joinPrior: latest prior right row, <= ties, null when none") {
    val left = Seq((1L, "u", 10L), (2L, "u", 20L), (3L, "u", 5L),
      (4L, "w", 10L)).toDF("id", "k", "t")
    val right = Seq(("u", 10L, "a"), ("u", 15L, "b"), ("v", 1L, "x"))
      .toDF("k", "rt", "payload")
    val got = AsOf.joinPrior(left, right, Seq("k"), col("t"), col("rt"),
        Seq("payload"))
      .select(col("id"), col("payload")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(1L) == Some("a")) // tie at t=10 → right row included (<=)
    assert(got(2L) == Some("b")) // latest prior of 10,15
    assert(got(3L) == None)      // nothing at or before t=5
    assert(got(4L) == None)      // key with no right rows at all
  }

  test("asof joinPrior: matched row with null payload wins over older value") {
    val left = Seq((1L, "u", 20L)).toDF("id", "k", "t")
    val right = Seq(("u", 10L, Some("old")), ("u", 15L, None))
      .toDF("k", "rt", "payload")
    val got = AsOf.joinPrior(left, right, Seq("k"), col("t"), col("rt"),
      Seq("payload")).select(col("payload")).first()
    // the latest prior right ROW (t=15) matches; its payload is null —
    // not skipped in favor of the older "old"
    assert(got.isNullAt(0))
  }

  test("asof joinPriorWithin nulls stale matches, keeps fresh ones") {
    val left = Seq((1L, "u", 100L), (2L, "u", 200L), (3L, "u", 50L))
      .toDF("id", "k", "t")
    val right = Seq(("u", 95L, "fresh")).toDF("k", "rt", "payload")
    val got = AsOf.joinPriorWithin(left, right, Seq("k"), col("t"),
        col("rt"), Seq("payload"), toleranceSeconds = 10L)
      .select(col("id"), col("payload")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(1L) == Some("fresh")) // 5 s old: within tolerance
    assert(got(2L) == None)          // 105 s old: stale → nulled
    assert(got(3L) == None)          // no prior row at all
  }

  test("asof joinNext: earliest following right row, >= ties, null when none") {
    // mirror of the joinPrior fixture: id 1 ties at t=10 (equal-time
    // right row matches under >=), id 3 takes the EARLIEST of the two
    // following rows, id 2 has nothing at-or-after, id 4's key has no
    // right rows at all
    val left = Seq((1L, "u", 10L), (2L, "u", 20L), (3L, "u", 5L),
      (4L, "w", 10L)).toDF("id", "k", "t")
    val right = Seq(("u", 10L, "a"), ("u", 15L, "b"), ("v", 1L, "x"))
      .toDF("k", "rt", "payload")
    val got = AsOf.joinNext(left, right, Seq("k"), col("t"), col("rt"),
        Seq("payload"))
      .select(col("id"), col("payload")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(1L -> Some("a"), 2L -> None, 3L -> Some("a"),
      4L -> None))
  }

  test("asof joinNextWithin nulls matches beyond the forward deadline") {
    val left = Seq((1L, "u", 100L), (2L, "u", 10L), (3L, "u", 300L))
      .toDF("id", "k", "t")
    val right = Seq(("u", 105L, "soon")).toDF("k", "rt", "payload")
    val got = AsOf.joinNextWithin(left, right, Seq("k"), col("t"),
        col("rt"), Seq("payload"), toleranceSeconds = 10L)
      .select(col("id"), col("payload")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(1L) == Some("soon")) // 5 s ahead: inside the window
    assert(got(2L) == None)         // 95 s ahead: beyond the deadline
    assert(got(3L) == None)         // nothing at-or-after at all
  }

  test("asof joinNearest: closest either side, ties to the earlier row") {
    val left = Seq((1L, "u", 100L), (2L, "u", 205L), (3L, "u", 300L),
      (4L, "u", 210L), (5L, "w", 10L)).toDF("id", "k", "t")
    val right = Seq(("u", 90L, "a"), ("u", 110L, "b"), ("u", 200L, "c"),
      ("u", 210L, "d")).toDF("k", "rt", "p")
    val got = AsOf.joinNearest(left, right, Seq("k"), col("t"), col("rt"),
        Seq("p"))
      .select(col("id"), col("p")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "a") // 90 and 110 both 10 away → earlier wins
    assert(got(2L) == "c") // 200 and 210 both 5 away → earlier wins
    assert(got(3L) == "d") // only direction: backward 90 away
    assert(got(4L) == "d") // exact-equal timestamp → distance 0
    assert(!got.contains(5L)) // key with no right rows → dropped
  }

  test("flagInRanges marks containment inclusively") {
    val df = Seq("2024-01-05", "2024-02-01").toDF("d")
      .select(to_date($"d").as("d"))
    val ranges = Seq(("2024-01-01", "2024-01-05")).toDF("s", "e")
      .select(to_date($"s").as("start"), to_date($"e").as("end"))
    val got = Relational.flagInRanges(df, $"d", ranges, "flag")
    assert(got.filter($"d" === "2024-01-05").select("flag")
      .first().getInt(0) == 1)
    assert(got.filter($"d" === "2024-02-01").select("flag")
      .first().getInt(0) == 0)
  }

  test("flagInRanges enforces the tiny-dim contract") {
    val df = Seq("2024-01-05").toDF("d").select(to_date($"d").as("d"))
    val big = spark.range(600)
      .select(to_date(lit("2024-01-01")).as("start"),
        to_date(lit("2024-01-02")).as("end"))
    val e = intercept[IllegalArgumentException] {
      Relational.flagInRanges(df, $"d", big, "flag")
    }
    assert(e.getMessage.contains("tiny-dim"))
    // and an explicitly raised cap accepts the same table
    assert(Relational.flagInRanges(df, $"d", big, "flag", maxRanges = 1000)
      .count() == 1)
  }

  test("ScalableWindow fails fast on a NULL bucket value") {
    val df = Seq((Some("2024-01-01 10:00:00"), 1L), (None, 2L))
      .toDF("t", "id")
      .select(to_timestamp($"t").as("ts"), $"id", lit(1.0).as("v"))
    val e = intercept[IllegalArgumentException] {
      ScalableWindow.withTrailingColumns(df, to_date($"ts"),
        Seq($"ts", $"id"), 1, smallInput = 0)("prev" -> (w => lag($"v", 1).over(w)))
        .count()
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("ScalableWindow fails fast on a fine-grained bucket expression") {
    // bucket = the row id itself: one bucket per row, the partitioning
    // bug the coarse-bucket contract exists to catch (the routing table
    // would be input-sized on the driver)
    val df = spark.range(ScalableWindow.MaxBuckets + 1L)
      .select($"id", $"id".cast("double").as("v"))
    val e = intercept[IllegalArgumentException] {
      ScalableWindow.withTrailingColumns(df, $"id", Seq($"id"), 1,
        smallInput = 0)("prev" -> (w => lag($"v", 1).over(w)))
        .count()
    }
    assert(e.getMessage.contains("coarse"))
  }

  test("GapFill: LOCF and interpolation pin edge and interior semantics") {
    // series: leading gap, known 10, gap, gap, known 40, trailing gap
    val rows = Seq[(String, Int, java.lang.Double)](
      ("a", 0, null), ("a", 1, 10.0), ("a", 2, null), ("a", 3, null),
      ("a", 4, 40.0), ("a", 5, null),
      // second series must not bleed into the first
      ("b", 0, 7.0), ("b", 1, null))
      .toDF("k", "t", "v")
    val got = rows.select(col("k"), col("t"),
        GapFill.locf(Seq(col("k")), col("t"), col("v")).as("locf"),
        GapFill.interpolate(Seq(col("k")), col("t"), col("v"),
          c => c.cast("double")).as("interp"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (Option(r.get(2)), Option(r.get(3)))).toMap
    // LOCF: leading gap stays null, interior + trailing carry forward
    assert(got(("a", 0))._1.isEmpty)
    assert(got(("a", 2))._1.contains(10.0))
    assert(got(("a", 3))._1.contains(10.0))
    assert(got(("a", 5))._1.contains(40.0))
    // interpolation: leading gap -> next value, interior -> time-weighted
    // blend, trailing gap -> prev value, knowns pass through
    assert(got(("a", 0))._2.contains(10.0))
    assert(got(("a", 1))._2.contains(10.0))
    assert(got(("a", 2))._2.contains(20.0)) // 10 + (40-10) * 1/3
    assert(got(("a", 3))._2.contains(30.0))
    assert(got(("a", 5))._2.contains(40.0))
    assert(got(("b", 1))._1.contains(7.0) && got(("b", 1))._2.contains(7.0))
  }

  test("Quality.profile: one row per column, null-aware stats") {
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 10.0), (2L, null), (3L, 30.0), (3L, 30.0))
      .toDF("k", "v")
    val got = Quality.profile(df, Seq("k", "v"))
      .as[(String, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("k") == (("k", 4L, 4L, 3L, 1.0, 3.0, 2.25)))
    // nulls excluded from n_nonnull / distinct / mean
    assert(got("v") == (("v", 4L, 3L, 2L, 10.0, 30.0, 23.333333)))
  }

  test("globalPrefixSum equals the global window sum, both forms") {
    val order = Seq(col("ts"), col("event_id"))
    val w = Window.orderBy(order: _*)
    for (inclusive <- Seq(false, true)) {
      val upper = if (inclusive) 0L else -1L
      val got = ScalableRank.globalPrefixSum(ev,
          date_trunc("day", col("ts")), order, col("user_id"), "p",
          inclusive = inclusive)
        .select(col("event_id"), col("p"))
      val want = ev.select(col("event_id"),
        coalesce(sum(col("user_id"))
          .over(w.rowsBetween(Window.unboundedPreceding, upper)), lit(0L))
          .as("p"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"inclusive=$inclusive")
    }
  }

  test("packSequences: offsets in range, stream positions exact") {
    // synthetic corpus off spark.range so the plan can't constant-fold
    val docs = spark.range(0, 237)
      .select(col("id").as("doc_id"),
        (col("id") * 37 % 50 + 1).as("n_tokens"))
    val L = 64
    val packed = ScalableRank.packSequences(docs, floor(col("doc_id") / 10),
      Seq(col("doc_id")), col("n_tokens"), seqLen = L)
    assert(packed.filter(col("seq_offset") < 0 ||
      col("seq_offset") >= L).count() == 0)
    // seq_id * L + seq_offset must reconstruct the exclusive prefix sum
    val naive = docs.withColumn("p",
      coalesce(sum(col("n_tokens")).over(Window.orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val joined = packed.join(naive.select(col("doc_id"), col("p")), Seq("doc_id"))
    assert(joined.filter(
      col("seq_id") * L + col("seq_offset") =!= col("p")).count() == 0)
    // a seqLen beyond the total token count packs everything into seq 0
    val one = ScalableRank.packSequences(docs, floor(col("doc_id") / 10),
      Seq(col("doc_id")), col("n_tokens"), seqLen = 1000000)
    assert(one.filter(col("seq_id") =!= 0).count() == 0)
  }

  test("ScalableRank.globalNtile equals ntile over a global window — " +
      "uneven splits, n < k, DESC orderings with negated buckets") {
    import org.apache.spark.sql.expressions.Window
    // deterministic pseudo-random values with ties; sizes chosen so
    // n % k != 0 (347 % 10 = 7), n % k == 0 (340), and n < k (7)
    for (n <- Seq(347, 340, 7)) {
      val df = spark.range(n).select(col("id"),
        pmod(col("id") * 2654435761L, lit(1000L)).as("v"))
      // ASC: bucket = coarse band of v (monotone in the ordering)
      val gotAsc = ScalableRank.globalNtile(df, expr("v div 100"),
        Seq(col("v").asc, col("id").asc), 10, "t")
      val wantAsc = df.withColumn("t",
        ntile(10).over(Window.orderBy(col("v").asc, col("id").asc)))
      assert(gotAsc.select("id", "t").exceptAll(
        wantAsc.select("id", "t")).isEmpty, s"ASC mismatch at n=$n")
      // DESC: bucket must be negated to stay ASC-monotone
      val gotDesc = ScalableRank.globalNtile(df, -expr("v div 100"),
        Seq(col("v").desc, col("id").asc), 10, "t")
      val wantDesc = df.withColumn("t",
        ntile(10).over(Window.orderBy(col("v").desc, col("id").asc)))
      assert(gotDesc.select("id", "t").exceptAll(
        wantDesc.select("id", "t")).isEmpty, s"DESC mismatch at n=$n")
    }
  }
}
