package graft

/** Long-session soak (VERDICT r15 task 4): run the FULL query surface
  * twice in ONE SparkSession/JVM and assert the steady state between
  * passes — the whole-suite complement to CacheHygieneSpec's
  * per-bracket cache assertions, catching any slow leak (cache entries,
  * temp views, listeners, streaming queries) or cross-pass slowdown the
  * per-bracket spec structurally cannot see.
  *
  * Checks after EACH pass:
  *  - `sharedState.cacheManager.isEmpty` — no persisted intermediate
  *    survives its query (the CacheHygieneSpec contract, suite-wide);
  *  - no active streaming queries;
  *  - temp-view count and listener-bus registration count are recorded
  *    after pass 1 and must NOT grow by pass 2 (a stable baseline is
  *    fine — the session owns some listeners — growth is the leak);
  *  - pass-2 wall must stay within `SOAK_MAX_RATIO` (default 1.25×) of
  *    pass 1: pass 2 is all-warm (codegen, JIT, page cache), so any
  *    real leak shows as pass 2 ≥ pass 1 long before correctness
  *    breaks.
  *
  * Usage: `graft.Soak <sfDir>` (defaults to /root/testdata/sf0.01).
  * Prints one JSON line and exits non-zero on any violated invariant.
  * Query failures are counted and reported but adjudicated by the
  * Verify/check gate, not here — soak is about session aging, and both
  * passes must simply fail identically.
  */
object Soak {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val maxRatio = sys.env.getOrElse("SOAK_MAX_RATIO", "1.25").toDouble
    // bounded quiet-window retry, then the host snapshot (same
    // protocol as Bench — VERDICT r17 task 1)
    val gateWait = HostLoad.awaitQuiet(
      sys.env.getOrElse("SPARK_GRAFT_QUIET_ATTEMPTS", "6").toInt,
      sys.env.getOrElse("SPARK_GRAFT_QUIET_SLEEP_SEC", "20").toInt)
    // host snapshot before any work (contention evidence in the
    // artifact — same protocol as Bench, VERDICT r16 task 4)
    val load1Before = HostLoad.load1()
    val stealBefore = HostLoad.stealSeconds()
    val spark = Sessions.local(cpus)
    val sc = spark.sparkContext

    def runPass(pass: Int): (Double, Int) = {
      val t0 = System.nanoTime()
      var failed = 0
      SparkEntry.orderedQueries.foreach { case (name, fn) =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          failed += 1
          System.err.println(
            s"[soak] pass $pass $name FAILED: ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }
      org.apache.spark.graft.ListenerBusDrain.drain(sc)
      ((System.nanoTime() - t0) / 1e9, failed)
    }

    val violations = scala.collection.mutable.ListBuffer[String]()
    def check(pass: Int): (Long, Int) = {
      if (!spark.sharedState.cacheManager.isEmpty)
        violations += s"pass $pass: cacheManager not empty"
      if (spark.streams.active.nonEmpty)
        violations += s"pass $pass: ${spark.streams.active.length} " +
          "streaming queries still active"
      (spark.catalog.listTables().count(),
        org.apache.spark.graft.ListenerBusDrain.listenerCount(sc))
    }

    val (w1, f1) = runPass(1)
    val (views1, listeners1) = check(1)
    System.err.println(f"[soak] pass 1: $w1%.1f s, $f1 failed, " +
      s"$views1 views, $listeners1 listeners")
    val (w2, f2) = runPass(2)
    val (views2, listeners2) = check(2)
    System.err.println(f"[soak] pass 2: $w2%.1f s, $f2 failed, " +
      s"$views2 views, $listeners2 listeners")

    if (views2 > views1)
      violations += s"temp views grew: $views1 -> $views2"
    if (listeners2 > listeners1)
      violations += s"listeners grew: $listeners1 -> $listeners2"
    if (f2 != f1)
      violations += s"failure count changed between passes: $f1 -> $f2"
    if (w2 > w1 * maxRatio)
      violations += f"pass 2 slower than ${maxRatio}x pass 1: " +
        f"$w1%.1f -> $w2%.1f s"

    val ok = violations.isEmpty
    println(f"""{"pass1_sec":$w1%.1f,"pass2_sec":$w2%.1f,""" +
      f""""ratio":${w2 / w1}%.3f,"failed":[$f1,$f2],""" +
      s""""views":[$views1,$views2],""" +
      s""""listeners":[$listeners1,$listeners2],""" +
      s""""violations":[${violations.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""host":${HostLoad.json(load1Before, stealBefore)},""" +
      s""""gate_wait":$gateWait,""" +
      s""""ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
