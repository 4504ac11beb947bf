package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Run with `sbt test` from the `perfbench` directory. */
class MeterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.queryExecutionListeners", classOf[PlanMeter].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[DriveMeter].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(new JobMeter)
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def traced[T](body: => T): (T, Collector.Drained) = {
    Collector.drain()
    Collector.enabled = true
    try {
      val out = body
      org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark.sparkContext)
      (out, Collector.drain())
    } finally Collector.enabled = false
  }

  test("skew is the largest task over the median task") {
    assert(Stats.skew(Seq(1L, 1L, 1L, 5L)).contains(5.0))
    assert(Stats.skew(Seq(2L, 4L, 6L)).contains(1.5))
    assert(Stats.skew(Seq(7L)).isEmpty)
    assert(Stats.skew(Seq(0L, 0L, 3L)).isEmpty)
  }

  test("median and interval union") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
    assert(Stats.unionLength(Seq((1.0, 1.0))) == 0.0)
  }

  test("coverage counts the build span and the execute span's children") {
    val q = Layers.QueryTimes("q", 0, 0L, 100L, 1000L, 1.0, 0.1)
    // overlapping children count once; a child outside the query is clipped
    assert(Layers.coveredShare(q, Seq((100.0, 300.0), (250.0, 500.0))) == 0.5)
    assert(Layers.coveredShare(q, Seq((50.0, 600.0), (600.0, 1200.0))) == 1.0)
    assert(Layers.coveredShare(q, Seq((100.0, 950.0))) == 0.95)
  }

  test("a query whose execute span has an uncovered gap fails the check") {
    val gap = Layers.account(Layers.QueryTimes("gap", 0, 0L, 100L, 1000L, 1.0, 0.1),
      Collector.Drained(Nil, Nil, Nil, Nil), new Layers.SpanLog(0L))
    assert(gap("trace.covered") == 0.0)
    assert(math.abs(gap("trace.gap_s") - 0.9) < 1e-9)
    val whole = Layers.account(Layers.QueryTimes("whole", 0, 0L, 1000L, 1000L, 1.0, 1.0),
      Collector.Drained(Nil, Nil, Nil, Nil), new Layers.SpanLog(0L))
    assert(whole("trace.covered") == 1.0)
    assert(whole("trace.gap_s") == 0.0)
  }

  test("a one-shuffle job is one job, two stages, and shuffle bytes") {
    val sc = spark.sparkContext
    val (_, d) = traced {
      sc.setLocalProperty(Collector.SpanKey, "tiny:execute")
      try sc.parallelize(1 to 1000, 4).map(x => (x % 7, x.toLong)).reduceByKey(_ + _, 3).collect()
      finally sc.setLocalProperty(Collector.SpanKey, null)
    }
    assert(d.jobs.size == 1)
    assert(d.jobs.head.span == "tiny:execute")
    val ran = d.jobs.head.stages.filter(_.agg.tasks > 0)
    assert(ran.size == 2)
    assert(ran.map(_.agg.tasks).sum == 7)
    assert(ran.map(_.agg.shuffleWriteBytes).sum > 0)
    assert(ran.map(_.agg.shuffleReadBytes).sum > 0)

    val t0 = System.currentTimeMillis()
    val m = Layers.account(
      Layers.QueryTimes("tiny", 0, t0, t0, t0 + 1, 0.001, 0.0), d,
      new Layers.SpanLog(t0))
    assert(m("exec.jobs") == 1.0)
    assert(m("exec.stages") == 2.0)
    assert(m("exec.tasks") == 7.0)
    assert(m("exchange.write_mb") > 0.0)
    assert(m("exchange.skew") >= 1.0)
  }

  test("catalyst phases and the SQL execution are recorded for a DataFrame action") {
    val (_, d) = traced {
      spark.range(100).selectExpr("id % 3 AS k").groupBy("k").count()
        .write.format("noop").mode("overwrite").save()
    }
    assert(d.plans.nonEmpty)
    assert(d.plans.exists(p => Set("analysis", "optimization", "planning")
      .subsetOf(p.phases.keySet)))
    assert(d.execs.nonEmpty)
    assert(d.execs.forall(x => x.endMs >= x.startMs && x.startMs > 0L))
  }

  test("a drive in a newSession() reports its micro-batches") {
    val dir = Files.createTempDirectory("meter-spec").toString
    spark.range(50).selectExpr("id", "id % 5 AS k").write.parquet(s"$dir/in")
    val child = spark.newSession()
    val (_, d) = traced {
      val q = child.readStream.schema("id LONG, k LONG").parquet(s"$dir/in")
        .groupBy("k").count()
        .writeStream.format("memory").queryName("meter_spec").outputMode("complete")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(d.drives.size == 1)
    val batches = d.drives.head.batches
    assert(batches.nonEmpty)
    assert(batches.map(_.inputRows).sum == 50)
    assert(batches.head.durations.contains("triggerExecution"))
    assert(d.jobs.exists(_.streamQuery.contains(d.drives.head.queryId)))

    val t0 = d.drives.head.startMs
    val m = Layers.account(
      Layers.QueryTimes("drive", 0, t0 - 1, t0 + 60000, t0 + 60001, 60.002, 60.001),
      d, new Layers.SpanLog(t0))
    assert(m("stream.drives") == 1.0)
    assert(m("stream.batches") >= 1.0)
    assert(m("stream.input_rows") == 50.0)
    assert(m("stream.state_rows") == 5.0)
  }
}
