package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, date_trunc}
import org.apache.spark.sql.types.StructType

import graft.{HostLoad, SparkEntry, Tables}
import graft.serving.Serving

/** Process-level probes: CPU across all threads (executor threads live in
  * this JVM under local[n]), GC time, and the resident-set high-water mark. */
object Probe {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** One timed call into the program: a request (`serve`) or a query key
  * (`refresh`, `curate`). Engine phases are timed from outside: build
  * (DataFrame construction, including any eager jobs it runs), plan
  * (physical planning) and exec (the collect that consumes the result). */
final class Call(val id: Int, val module: String, val name: String, val args: Seq[Int]) {
  val span = s"call-$id"
  var tablesNs, registryNs, buildNs, planNs, execNs, wallNs, cpuNs, gcMs = 0L
  var dueNs, submitNs, startNs, endNs = 0L
  var rowsOut = 0L
  var rows: Array[Row] = null
  var schema: StructType = null
  var error: String = null
}

object Main {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
  /** Linear-interpolated percentile, as numpy's default. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val r = p * (s.size - 1)
      val lo = r.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo) }

  final case class Args(workload: String, seconds: Double, trace: Boolean,
      data: Seq[String], text: String, schedule: String, out: String, cpus: Int)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("seconds").toDouble, m("trace") == "1",
      m("data").split(",").toSeq, m("text"), m("schedule"), m("out"), m("cpus").toInt)
    val lines = Files.readAllLines(Paths.get(a.schedule), UTF_8).asScala.toSeq
      .map(_.trim.split("\\s+").toSeq).filter(_.nonEmpty)
    new Bench(a, lines).run()
  }
}

final class Bench(a: Main.Args, schedule: Seq[Seq[String]]) {
  import Main.{median, pct}

  private val tracer = if (a.trace) Some(new Tracer) else None
  private var spark: SparkSession = _
  private val calls = ArrayBuffer[Call]()
  private val nextId = new AtomicInteger(0)
  private val extra = scala.collection.mutable.LinkedHashMap[String, Double]()
  private val e2e = scala.collection.mutable.LinkedHashMap[String, Double]()
  /** Calls whose outputs go to the oracle check. */
  private val checked = ArrayBuffer[Call]()
  private var passWalls, passCpus = Seq[Double]()
  private var measured = Seq[Call]()
  /** The input directory of the current set-up; the last one is measured. */
  private var data: String = _

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tracer.foreach { t =>
      s.sparkContext.addSparkListener(t)
      s.streams.addListener(t.streams)
    }
    s
  }

  /** Between query keys, outside every timed window: stop streams a key
    * left running, drop cached intermediates, drain the listener bus, and
    * (unless `gc` is off) collect the garbage, so a key's time does not
    * depend on the one before it in the seeded order. */
  private def quiesce(gc: Boolean = true): Unit = {
    spark.streams.active.foreach { q =>
      try { q.stop(); q.awaitTermination(10000) } catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    if (gc) System.gc()
  }

  private def newCall(module: String, name: String, args: Seq[Int]): Call =
    new Call(nextId.getAndIncrement(), module, name, args)

  /** Runs one call and records its phases; an exception is the call's
    * failure, never the benchmark's. */
  private def timed(c: Call, keep: Boolean)(build: Call => DataFrame): Unit = {
    val sc = spark.sparkContext
    tracer.foreach { t => sc.setJobGroup(c.span, c.name); t.current = c.span }
    val c0 = Probe.cpuNs(); val g0 = Probe.gcMs()
    c.startNs = System.nanoTime()
    try {
      val df = build(c)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val rows = df.collect()
      val t3 = System.nanoTime()
      c.buildNs = t1 - c.startNs; c.planNs = t2 - t1; c.execNs = t3 - t2
      c.rowsOut = rows.length
      if (keep) { c.rows = rows; c.schema = df.schema }
    } catch {
      case e: Throwable =>
        c.error = Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" ")
        System.err.println(s"[perfbench] ${c.name} FAILED: ${c.error}")
    } finally {
      c.endNs = System.nanoTime()
      c.wallNs = c.endNs - c.startNs
      c.cpuNs = Probe.cpuNs() - c0; c.gcMs = Probe.gcMs() - g0
      tracer.foreach { t => sc.clearJobGroup(); t.current = null }
    }
  }

  // ------------------------------------------------------------ queries

  /** `key <name> <module> <input>` lines name the workload's query keys
    * and the input each reads (`data`, or `text`: the larger documents
    * table); `pass k1 k2 ...` lines give each pass's seeded key order. */
  private lazy val keyModule: Map[String, String] =
    schedule.collect { case Seq("key", k, m, _) => k -> m }.toMap
  private lazy val keyInput: Map[String, String] =
    schedule.collect { case Seq("key", k, _, i) => k -> i }.toMap
  private def inputDir(k: String): String = if (keyInput(k) == "text") a.text else data

  private def runKey(c: Call, dir: String): DataFrame = {
    val r0 = System.nanoTime()
    val fn = SparkEntry.queries(c.name)
    c.registryNs = System.nanoTime() - r0
    fn(spark, dir)
  }

  /** Input preparation the program does before its first query: the
    * week-chunked events layout, and the schemas of the other tables. */
  private def queriesSetup(): Unit = {
    val (from, to) = Tables.eventsSpan(spark, data)
    Tables.eventsChunked(spark, data, from, to).count()
    Seq("documents", "lineitem", "orders").filter(t => Files.exists(Paths.get(s"$data/$t.parquet")))
      .foreach(t => Tables.load(spark, data, t).schema)
    Tables.documents(spark, a.text).schema
  }

  /** One pass over the measured inputs, in name order, so first-encounter
    * codegen, class loading and JIT are paid before timing. */
  private def queriesWarm(): Unit =
    keyModule.keys.toSeq.sorted.foreach { k =>
      try runKey(newCall("", k, Nil), inputDir(k)).collect()
      catch { case e: Throwable => System.err.println(s"[perfbench] warm $k: ${e.getMessage}") }
      quiesce()
    }

  private def queriesMeasure(): Unit = {
    val passes = schedule.collect { case "pass" +: keys => keys }
    val t0 = System.nanoTime()
    val last = scala.collection.mutable.LinkedHashMap[String, Call]()
    val done = ArrayBuffer[Seq[Call]]()
    val it = passes.iterator
    // another pass starts only if a pass of the median length so far
    // still ends inside the window
    def fits = (System.nanoTime() - t0) / 1e9 + median(done.map(_.map(_.wallNs / 1e9).sum).toSeq) <= a.seconds
    while (it.hasNext && (done.isEmpty || fits)) {
      val pass = it.next().map { k =>
        val c = newCall(keyModule(k), k, Nil)
        timed(c, keep = true)(runKey(_, inputDir(k)))
        if (c.module == "features") tracer.foreach { _ =>
          val mb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
          extra("features.cached_mb") = math.max(extra.getOrElse("features.cached_mb", 0.0), mb)
        }
        quiesce()
        c
      }
      pass.foreach { c => last.get(c.name).foreach(_.rows = null); last(c.name) = c }
      done += pass
    }
    extra("features.blocks_left") =
      spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum.toDouble
    measured = done.flatten.toSeq
    passWalls = done.map(_.map(_.wallNs / 1e9).sum).toSeq
    passCpus = done.map(_.map(_.cpuNs / 1e9).sum).toSeq
    e2e("qps") = measured.size / measured.map(_.wallNs / 1e9).sum
    e2e("p50_ms") = median(measured.map(_.wallNs / 1e6))
    e2e("p95_ms") = pct(measured.map(_.wallNs / 1e6), 0.95)
    e2e("cpu_ms_per_req") = measured.map(_.cpuNs / 1e6).sum / measured.size
    checked ++= last.values
    calls ++= measured
  }

  // -------------------------------------------------------------- serve

  private var features: DataFrame = _
  private var featureCols: Seq[String] = Nil

  private def events(c: Call): DataFrame = {
    val t0 = System.nanoTime()
    val df = Tables.events(spark, data)
    c.tablesNs += System.nanoTime() - t0
    df
  }

  private def request(c: Call): DataFrame = {
    val order = Seq(col("ts"), col("event_id"))
    c.name match {
      case "latestFeatureRow" => Serving.latestFeatureRow(features, col("time"))
      case "priceHistory" => Serving.priceHistory(events(c), order, c.args(0))
      case "page" => Serving.page(events(c), Seq(col("event_id")), c.args(0), c.args(1))
      case "tableStatus" => Serving.tableStatus(events(c), col("ts"))
      case "featureStatus" => Serving.featureStatus(features, featureCols)
      case "chartSeries" =>
        Serving.chartSeries(events(c), date_trunc("week", col("ts")), order, c.args(0))
    }
  }

  private val serveFns = Seq("latestFeatureRow", "priceHistory", "page",
    "tableStatus", "featureStatus", "chartSeries")

  private def serveSetup(): Unit = {
    // the stored feature view the API reads, materialised once
    val path = s"${a.out}/features"
    SparkEntry.queries("feature_net_load_view")(spark, data)
      .write.mode("overwrite").parquet(path)
    quiesce(gc = false)
    features = spark.read.parquet(path)
    featureCols = features.columns.filter(_ != "time").toSeq
  }

  private def serveWarm(): Unit = {
    val pool = Executors.newFixedThreadPool(4)
    for (_ <- 1 to 4; f <- serveFns) pool.submit(new Runnable {
      def run(): Unit = timed(newCall("serving", f, Seq(10, 10)), keep = false)(request)
    })
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.HOURS)
  }

  private def parse(f: Seq[String]): Call =
    newCall("serving", f(0), f.drop(1).take(2).map(_.toInt))

  /** Closed loop first, so the JVM has warmed further when the open
    * loop measures latency; the schedule fixes both phases' lengths. */
  private def serveMeasure(): Unit = {
    val closedSeconds = schedule.collectFirst { case Seq("closed_seconds", v) => v.toDouble }.get
    // closed loop: 4 clients; a pass is one scheduled round, each
    // client taking the round's next request as soon as its last returns
    val byRound = schedule.collect { case "closed" +: r +: v +: rest =>
      (r.toInt, (parse(rest), v == "1")) }
    val closedRounds = byRound.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
    val rounds = ArrayBuffer[(Double, Double)]()
    val t1 = System.nanoTime()
    val it = closedRounds.iterator
    val ran = ArrayBuffer[(Call, Boolean)]()
    while (it.hasNext && (rounds.isEmpty || (System.nanoTime() - t1) / 1e9 < closedSeconds)) {
      val batch = it.next()
      ran ++= batch
      val idx = new AtomicInteger(0)
      val c0 = Probe.cpuNs(); val r0 = System.nanoTime()
      val clients = (1 to 4).map(_ => new Thread(() => {
        var i = idx.getAndIncrement()
        while (i < batch.size) {
          val (c, verify) = batch(i)
          timed(c, keep = verify)(request)
          i = idx.getAndIncrement()
        }
      }))
      clients.foreach(_.start()); clients.foreach(_.join())
      rounds += (((System.nanoTime() - r0) / 1e9, (Probe.cpuNs() - c0) / 1e9))
    }
    val closedCalls = ran.map(_._1).toSeq
    // open loop: each request is due at its scheduled offset whether or
    // not earlier ones finished; latency counts from the due time
    val pool = Executors.newFixedThreadPool(4)
    val open = schedule.collect { case "open" +: due +: rest =>
      val c = parse(rest); c.dueNs = (due.toDouble * 1e6).toLong; c }
    val t0 = System.nanoTime()
    open.foreach { c =>
      c.dueNs += t0
      val wait = c.dueNs - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      c.submitNs = System.nanoTime()
      pool.submit(new Runnable { def run(): Unit = timed(c, keep = false)(request) })
    }
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.HOURS)

    passWalls = rounds.map(_._1).toSeq
    passCpus = rounds.map(_._2).toSeq
    e2e("qps") = closedCalls.size / passWalls.sum
    val lat = open.map(c => (c.endNs - c.dueNs) / 1e6)
    e2e("p50_ms") = median(lat)
    e2e("p95_ms") = pct(lat, 0.95)
    e2e("cpu_ms_per_req") = passCpus.sum * 1e3 / closedCalls.size
    extra("queue_wait_ms") = pct(open.map(c => (c.startNs - c.submitNs) / 1e6), 0.95)
    extra("gen_late_ms") = pct(open.map(c => (c.submitNs - c.dueNs) / 1e6), 0.95)
    extra("open_requests") = open.size
    measured = closedCalls
    calls ++= closedCalls ++ open
    checked ++= ran.collect { case (c, true) => c }
  }

  // ------------------------------------------------------------ metrics

  private def layers(): Map[String, Double] = {
    val t = tracer.get
    org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext, 60000)
    val passes = math.max(1, passWalls.size).toDouble
    def sum(cs: Seq[Call]): Counters = { val s = new Counters; cs.foreach(c => s.add(t.counters(c.span))); s }
    val mb = 1e6
    val all = sum(measured)
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    val cpu = measured.map(_.cpuNs).sum / 1e9
    out("build_s") = measured.map(_.buildNs).sum / 1e9 / passes
    out("plan_s") = measured.map(_.planNs).sum / 1e9 / passes
    out("exec_s") = measured.map(_.execNs).sum / 1e9 / passes
    out("driver_cpu_s") =
      (if (a.workload == "serve") passCpus.sum else cpu) / passes - all.taskCpuNs / 1e9 / passes
    out("gc_s") = measured.map(_.gcMs).sum / 1e3 / passes
    out("task_cpu_s") = all.taskCpuNs / 1e9 / passes
    out("jobs") = all.jobs / passes
    out("stages") = all.stages / passes
    out("tasks") = all.tasks / passes
    out("failed_tasks") = all.failedTasks / passes
    out("shuffle_write_mb") = all.shuffleWrite / mb / passes
    out("shuffle_read_mb") = all.shuffleRead / mb / passes
    out("spill_mb") = all.spill / mb / passes
    out("input_mb") = all.inputBytes / mb / passes
    out("output_mb") = all.outputBytes / mb / passes
    out("stage_skew_max") = all.skewMax
    for (mod <- Seq("ops.Rollups", "streaming", "ops.AsOf", "features",
        "ops.ScalableRank", "ml", "sinks", "ops.Dedup", "ops.TextOps",
        "ops.Multimodal", "ops.Graph")) {
      val cs = measured.filter(_.module == mod)
      val s = sum(cs)
      out(s"$mod.wall_s") = cs.map(_.wallNs).sum / 1e9 / passes
      out(s"$mod.driver_s") = (cs.map(_.cpuNs).sum - s.taskCpuNs) / 1e9 / passes
      out(s"$mod.task_cpu_s") = s.taskCpuNs / 1e9 / passes
      out(s"$mod.shuffle_write_mb") = s.shuffleWrite / mb / passes
      out(s"$mod.spill_mb") = s.spill / mb / passes
      out(s"$mod.jobs") = s.jobs / passes
    }
    out("SparkEntry.registry_ms") = median(measured.map(_.registryNs / 1e6))
    val serving = measured.filter(_.module == "serving")
    out("Tables.build_ms") = median(serving.map(_.tablesNs / 1e6))
    out("serving.plan_ms") = median(serving.map(_.planNs / 1e6))
    out("serving.exec_ms") = median(serving.map(_.execNs / 1e6))
    out("serving.jobs_per_req") = if (serving.isEmpty) 0.0 else sum(serving).jobs.toDouble / serving.size
    serveFns.foreach(f => out(s"serving.$f.p50_ms") = median(serving.filter(_.name == f).map(_.wallNs / 1e6)))
    val returned = serving.map(_.rowsOut).sum
    out("serving.rows_read_per_row_returned") =
      if (returned == 0) 0.0 else sum(serving).inputRecords.toDouble / returned
    out("queue_wait_ms") = extra.getOrElse("queue_wait_ms", 0.0)
    out("gen_late_ms") = extra.getOrElse("gen_late_ms", 0.0)
    val st = sum(measured.filter(_.module == "streaming"))
    out("streaming.batches") = st.batches / passes
    out("streaming.batch_p50_ms") = median(st.batchMs.map(_.toDouble).toSeq)
    out("streaming.commit_ms") = st.commitMs / passes
    out("streaming.state_rows") = st.stateRows / passes
    val sk = sum(measured.filter(_.module == "sinks"))
    out("sinks.output_mb") = sk.outputBytes / mb / passes
    out("sinks.records_written") = sk.outputRecords / passes
    out("sinks.write_amp") = if (sk.inputBytes == 0) 0.0 else sk.outputBytes.toDouble / sk.inputBytes
    out("features.cached_mb") = extra.getOrElse("features.cached_mb", 0.0)
    out("features.blocks_left") = extra.getOrElse("features.blocks_left", 0.0)
    val dd = measured.filter(_.module == "ops.Dedup")
    val ds = sum(dd)
    out("ops.Dedup.useful_ratio") =
      if (ds.shuffleWriteRecords == 0) 0.0 else dd.map(_.rowsOut).sum.toDouble / ds.shuffleWriteRecords
    out.toMap
  }

  // ----------------------------------------------------------------- run

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
  }

  def run(): Unit = {
    val load0 = HostLoad.load1(); val steal0 = HostLoad.stealSeconds()
    val serve = a.workload == "serve"
    // set-up is repeated and its median reported, so work moved into
    // set-up shows; the last session is the one measured
    val setups = a.data.map { dir =>
      val t0 = System.nanoTime()
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      data = dir
      spark = session()
      if (serve) serveSetup() else queriesSetup()
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    if (serve) serveWarm() else queriesWarm()
    val warmS = (System.nanoTime() - w0) / 1e9
    val firstOpS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    if (serve) serveMeasure() else queriesMeasure()
    val load1 = HostLoad.load1(); val steal1 = HostLoad.stealSeconds()
    // heap_live_mb: memory the program still holds after the measured work
    System.gc()
    val memory = Map(
      "heap_live_mb" -> java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1e6,
      "peak_rss_mb" -> Probe.peakRssMb())
    e2e("setup_s") = median(setups)
    e2e("pass_s") = median(passWalls)
    e2e("cpu_s") = median(passCpus)
    val layerMetrics = if (a.trace) layers() ++ memory else Map.empty[String, Double]

    // outputs for the oracle check, written outside every timed window
    val checks = checked.filter(c => c.error == null && c.rows != null).map { c =>
      val dir = s"${a.out}/check/${c.id}"
      spark.createDataFrame(java.util.Arrays.asList(c.rows: _*), c.schema)
        .coalesce(1).write.parquet(dir)
      Map("name" -> c.name, "dir" -> dir, "args" -> c.args,
        "input" -> keyInput.getOrElse(c.name, "data"))
    }
    // serve's stored feature view is checked like a query key's output
    val view = if (serve) Seq(Map("name" -> "feature_net_load_view", "dir" -> s"${a.out}/features",
      "args" -> Seq.empty[Int], "input" -> "data")) else Nil
    val oracle = (keyModule.keys.toSeq ++ view.map(_("name").toString)).sorted
      .flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
    val errors = calls.filter(_.error != null).map(c => Map("name" -> c.name, "error" -> c.error))
    val result = Map(
      "attempted" -> calls.size,
      "errors" -> errors.toSeq,
      "passes" -> passWalls.size,
      "end_to_end" -> e2e,
      "per_layer" -> layerMetrics,
      "pass_walls_s" -> passWalls,
      "call_s" -> measured.groupBy(_.name).map { case (k, cs) =>
        k -> Map("wall" -> median(cs.map(_.wallNs / 1e9)), "cpu" -> median(cs.map(_.cpuNs / 1e9)))
      },
      "setups_s" -> setups,
      "warm_s" -> warmS,
      "jvm_start_to_first_op_s" -> firstOpS,
      "open_requests" -> extra.getOrElse("open_requests", 0.0).toInt,
      "memory" -> memory,
      "host" -> Map("load1_before" -> load0, "load1_after" -> load1,
        "steal_delta_s" -> (if (steal0 < 0 || steal1 < 0) -1.0 else steal1 - steal0)),
      "checks" -> (checks.toSeq ++ view),
      "oracle_sql" -> oracle)
    Files.writeString(Paths.get(s"${a.out}/result.json"), json(result))
    spark.stop()
  }
}
