package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ops.OpQuery

/** One benchmark run in one JVM, driven from outside through the
  * engine's public query registry (`SparkEntry.registry`).
  *
  * Sequence: set-up (session and every query's `prepare`), an untimed
  * check pass that writes each result as parquet for the oracle compare,
  * an untimed warm-up pass, the r41 canary, at least three timed
  * passes over the workload and at least `--seconds` of them, then three
  * warm set-up rounds, each a fresh session plus every `prepare` on
  * emptied derived caches. `setup_s` is process start to the first timed
  * query, so work memoised once per JVM counts there; the warm rounds are
  * recorded beside it. A timed query is `fn` followed by a `noop` write of
  * its result; caches are cleared between queries.
  *
  * With `--trace 1`, listeners at the layer boundaries are installed and
  * timed passes alternate between traced and untraced, so the tracing
  * overhead is measured in the same process; a last traced pass runs on
  * `local[1]` as the single-threaded reference. All numbers go to
  * `<out>/record.json` and the span tree to `<out>/trace.json`.
  *
  * Usage: `perfbench.Harness --queries q1,q2 --data DIR --out DIR
  *   --seed N --seconds S --trace 0|1`
  */
object Harness {

  final case class Args(queries: Seq[String], data: String, out: String,
      seed: Long, seconds: Double, trace: Boolean)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("queries").split(",").toSeq, kv("data"), kv("out"), kv("seed").toLong,
      kv("seconds").toDouble, kv("trace") == "1")
  }

  /** Timed passes per run at least, so a run's medians outvote one
    * disturbed pass.
    */
  private val MinPasses = 3

  /** Warm set-up rounds per untraced run, recorded beside `setup_s`. */
  private val SetupRounds = 3

  /** Session cores: `local[n]`, n = min(4, available processors). */
  private val Cores = math.min(4, Runtime.getRuntime.availableProcessors())

  /** Timed passes of a traced run go traced, untraced, untraced, traced,
    * so a steady drift in pass time cancels out of the tracing overhead.
    */
  private def isTraced(pass: Int): Boolean = pass % 4 == 0 || pass % 4 == 3

  private val errors = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var attempts = 0

  /** Run `body`, recording a failure with its exception class and the
    * first line of its message instead of swallowing it.
    */
  private def attempt(query: String, stage: String)(body: => Unit): Boolean = {
    attempts += 1
    try { body; true }
    catch { case e: Throwable =>
      val msg = Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
      errors += Map("query" -> query, "stage" -> stage,
        "error" -> s"${e.getClass.getName}: ${msg.take(300)}")
      System.err.println(s"[perfbench] $query $stage failed: ${e.getClass.getName}: $msg")
      false
    }
  }

  private def session(cores: Int, trace: Boolean, tmp: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.io.compression.codec", "lz4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", tmp)
    val spark =
      if (!trace) b.getOrCreate()
      else b.config("spark.sql.queryExecutionListeners", classOf[PlanMeter].getName)
        .config("spark.sql.streaming.streamingQueryListeners", classOf[DriveMeter].getName)
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (trace) spark.sparkContext.addSparkListener(new JobMeter)
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Drop blocks persisted inside a query, as the engine's own bench does:
    * catalog-cached plans and every persistent RDD (local checkpoints).
    */
  private def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def loadAvg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Throwable => Seq.empty }

  private def vmHwmMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  /** Every directory of the engine's scratch root except per-run stream
    * state and the generated entity fixtures the oracle compare reads.
    */
  private def wipeDerivedCaches(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    Option(new java.io.File(graft.io.Scratch.targetRoot).listFiles()).foreach(
      _.filterNot(f => Set("run", "fixtures")(f.getName)).foreach(rm))
  }

  /** r41: a short scan and aggregate whose code has long been stable, run
    * before and after the measurement so machine load shows in the record.
    */
  private def canary(spark: SparkSession, dir: String): Double = {
    val q = SparkEntry.registry.find(_.name == "r41_small_quantity_revenue").get
    val t0 = System.nanoTime()
    val ok = attempt(q.name, "canary") {
      q.fn(spark, dir).write.format("noop").mode("overwrite").save()
    }
    if (ok) secondsSince(t0) else -1.0
  }

  final case class Sample(query: String, pass: Int, seconds: Double, traced: Boolean)
  final case class Pass(index: Int, traced: Boolean, wallS: Double, cpuS: Double,
      layers: Map[String, Double])

  /** One timed pass over `queries`, in their order. A traced pass flushes the
    * listener bus after each query (outside its latency) and accounts
    * its events into layers.
    */
  private def runPass(spark: SparkSession, queries: Seq[OpQuery], dir: String,
      index: Int, traced: Boolean, log: Layers.SpanLog,
      samples: mutable.ArrayBuffer[Sample], perQuery: mutable.ArrayBuffer[Map[String, Any]]): Pass = {
    val sc = spark.sparkContext
    if (traced) {
      // events still queued from an untraced pass must not reach this one
      org.apache.spark.sql.GraftSqlBridge.flushListenerBus(sc)
      Collector.drain()
    }
    Collector.enabled = traced
    val perQueryLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val cpu0 = processCpuNs()
    val t0 = System.nanoTime()
    queries.foreach { q =>
      val s0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var n1 = n0
      var s1 = s0
      val ok = attempt(q.name, "timed") {
        sc.setLocalProperty(Collector.SpanKey, s"${q.name}:build")
        val df = q.fn(spark, dir)
        n1 = System.nanoTime(); s1 = System.currentTimeMillis()
        sc.setLocalProperty(Collector.SpanKey, s"${q.name}:execute")
        df.write.format("noop").mode("overwrite").save()
      }
      val n2 = System.nanoTime()
      val s2 = System.currentTimeMillis()
      sc.setLocalProperty(Collector.SpanKey, null)
      if (ok) samples += Sample(q.name, index, (n2 - n0) / 1e9, traced)
      clearCaches(spark)
      if (traced) {
        org.apache.spark.sql.GraftSqlBridge.flushListenerBus(sc)
        val d = Collector.drain()
        if (ok) {
          val times = Layers.QueryTimes(q.name, index, s0, s1, s2,
            (n2 - n0) / 1e9, (n1 - n0) / 1e9)
          val layers = Layers.account(times, d, log)
          perQueryLayers += layers
          perQuery += Map("query" -> q.name, "pass" -> index) ++ layers
        }
      }
    }
    val wall = secondsSince(t0)
    val cpu = (processCpuNs() - cpu0) / 1e9
    Collector.enabled = false
    Pass(index, traced, wall, cpu, Layers.combine(perQueryLayers.toSeq))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tmp = s"${a.out}/tmp"
    new java.io.File(tmp).mkdirs()
    val loadStart = loadAvg()
    val registry = SparkEntry.registry.map(q => q.name -> q).toMap
    val queries = a.queries.map(n => registry.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))

    // set-up: process start to the first timed query
    val marks = mutable.LinkedHashMap.empty[String, Double]
    def mark(phase: String): Unit = {
      marks(phase) = (System.currentTimeMillis() - jvmStartMs) / 1e3
      System.err.println(s"[perfbench] $phase done at ${marks(phase)} s")
    }
    mark("registry")
    var spark = session(Cores, a.trace, tmp)
    mark("session")
    val prepareS = queries.map { q =>
      val t0 = System.nanoTime()
      attempt(q.name, "prepare")(q.prepare(spark, a.data))
      q.name -> secondsSince(t0)
    }.toMap
    mark("prepare")

    // untimed check pass: each result as parquet, beside the oracle SQL
    // (the layout `tools/check.py` reads)
    val resultsDir = s"${a.out}/results"
    val checked = queries.filter { q =>
      val ok = attempt(q.name, "check") {
        q.fn(spark, a.data).coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/${q.name}")
      }
      clearCaches(spark)
      ok
    }.map(_.name)
    val oracle = queries.flatMap(q => q.oracle.map(sql => q.name -> sql.replace("{SFDIR}", a.data)))
    new java.io.File(resultsDir).mkdirs()
    Files.writeString(Paths.get(s"$resultsDir/oracle_sql.json"), Json.render(oracle.toMap))
    mark("check")

    // one untimed warm-up pass: the check pass leaves the JIT still
    // compiling, and the passes after it ran about 20% faster each
    runPass(spark, queries, a.data, -1, traced = false, new Layers.SpanLog(0L),
      mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty)
    mark("warmup")
    val canaryPre = canary(spark, a.data)

    // timed passes: whole passes until --seconds have elapsed and at least
    // MinPasses have run (four in a traced run, see isTraced)
    val runT0 = System.currentTimeMillis()
    val setupS = (runT0 - jvmStartMs) / 1e3
    val log = new Layers.SpanLog(runT0)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val perQuery = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val timedT0 = System.nanoTime()
    val minPasses = if (a.trace) 4 else MinPasses
    while (passes.size < minPasses || secondsSince(timedT0) < a.seconds) {
      val i = passes.size
      val order = new scala.util.Random(a.seed * 1000003L + i).shuffle(queries)
      passes += runPass(spark, order, a.data, i, traced = a.trace && isTraced(i),
        log, samples, perQuery)
    }
    val timedS = secondsSince(timedT0)
    mark("timed")
    val peakRssMb = vmHwmMb()
    val canaryPost = canary(spark, a.data)

    // the single-threaded reference (traced runs) or the warm set-up rounds
    var ref1: Option[Pass] = None
    val setupRounds = mutable.ArrayBuffer.empty[Double]
    stop(spark)
    if (a.trace) {
      spark = session(1, trace = true, tmp)
      ref1 = Some(runPass(spark, queries, a.data, passes.size, traced = true,
        log, mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty))
      stop(spark)
    } else {
      (1 to SetupRounds).foreach { _ =>
        wipeDerivedCaches()
        val t0 = System.nanoTime()
        spark = session(Cores, trace = false, tmp)
        queries.foreach(q => attempt(q.name, "prepare")(q.prepare(spark, a.data)))
        setupRounds += secondsSince(t0)
        stop(spark)
      }
    }

    mark("end")
    val record = Map(
      "marks_s" -> marks,
      "queries" -> a.queries,
      "cores" -> Cores,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "loadavg_start" -> loadStart,
      "loadavg_end" -> loadAvg(),
      "canary_s" -> Map("name" -> "r41_small_quantity_revenue",
        "pre" -> canaryPre, "post" -> canaryPost),
      "setup_s" -> setupS,
      "setup_rounds_s" -> setupRounds,
      "prepare_s" -> prepareS,
      "checked" -> checked,
      "timed_s" -> timedS,
      "passes" -> passes.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "layers" -> p.layers)),
      "samples" -> samples.map(s => Map("query" -> s.query, "pass" -> s.pass,
        "seconds" -> s.seconds, "traced" -> s.traced)),
      "peak_rss_mb" -> peakRssMb,
      "attempts" -> attempts,
      "errors" -> errors,
      "ref1" -> ref1.map(p => Map("wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "layers" -> p.layers)),
      "per_query_layers" -> perQuery)
    Files.writeString(Paths.get(s"${a.out}/record.json"), Json.render(record))
    if (a.trace)
      Files.writeString(Paths.get(s"${a.out}/trace.json"), Json.render(log.spans))
    sys.exit(0)
  }
}
