package perfbench

import scala.collection.mutable

import Collector.{Drained, JobRec, TaskAgg}

/** Turns one traced query's raw events into its span tree and its
  * per-layer numbers.
  *
  * Span tree: query -> build (`OpQuery.fn`: eager jobs, stream drives ->
  * batches) and execute (the `noop` write: catalyst phases, SQL
  * executions, jobs); every job -> its stages. Self time of a layer is its spans' time minus the
  * part covered by child spans of another layer.
  *
  * A drive ends with its last trigger (progress timestamp plus
  * `triggerExecution`): its termination event comes through the
  * asynchronous listener bus and would carry the bus's lag. Shutdown after
  * the last trigger stays in `ops.self_s`.
  */
object Layers {

  /** Harness-side boundaries of one timed query, epoch milliseconds. */
  final case class QueryTimes(name: String, pass: Int, startMs: Long,
      buildEndMs: Long, endMs: Long, wallS: Double, buildS: Double)

  /** A query is accounted for when measured spans cover at least this
    * share of its wall time.
    */
  val CoveredShare = 0.90

  /** Share of a query's wall time inside a measured span: the build span
    * (`OpQuery.fn`, timed at the ops boundary) plus the children of the
    * execute span (catalyst phases, SQL executions, jobs), clipped to it.
    * What they leave uncovered is the gap.
    */
  def coveredShare(q: QueryTimes, executeChildren: Seq[(Double, Double)]): Double = {
    val wallMs = (q.endMs - q.startMs).toDouble
    if (wallMs <= 0.0) 1.0
    else {
      val clipped = executeChildren.map { case (s, e) =>
        (math.max(s, q.buildEndMs.toDouble), math.min(e, q.endMs.toDouble))
      }
      ((q.buildEndMs - q.startMs) + Stats.unionLength(clipped)) / wallMs
    }
  }

  /** Metrics that combine across queries by maximum instead of sum. */
  val MaxKeys: Set[String] = Set("exec.peak_mem_mb", "exchange.skew")

  val StreamPhases: Seq[(String, String)] = Seq(
    "latestOffset" -> "stream.latest_offset_ms",
    "getBatch" -> "stream.get_batch_ms",
    "queryPlanning" -> "stream.query_planning_ms",
    "addBatch" -> "stream.add_batch_ms",
    "walCommit" -> "stream.wal_commit_ms",
    "commitOffsets" -> "stream.commit_offsets_ms")

  final class SpanLog(t0Ms: Long) {
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    def add(parent: Int, kind: String, name: String, startMs: Double,
        endMs: Double, attrs: Map[String, Any] = Map.empty): Int = {
      val id = spans.size
      spans += Map("id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "start_ms" -> (startMs - t0Ms), "end_ms" -> (endMs - t0Ms)) ++ attrs
      id
    }
  }

  private def jobInterval(j: JobRec): (Double, Double) =
    (j.startMs.toDouble, math.max(j.endMs, j.startMs).toDouble)

  def account(q: QueryTimes, d: Drained, log: SpanLog): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val qid = log.add(-1, "query", q.name, q.startMs, q.endMs, Map("pass" -> q.pass))
    val buildId = log.add(qid, "build", q.name, q.startMs, q.buildEndMs)
    val execId = log.add(qid, "execute", q.name, q.buildEndMs, q.endMs)

    // streaming drives and their micro-batches (all inside build)
    val driveIds = mutable.HashMap.empty[String, Int]
    val driveIntervals = d.drives.map { dr =>
      val wallMs = dr.batches
        .map(b => b.startMs + b.durations.getOrElse("triggerExecution", 0L) - dr.startMs)
        .maxOption.getOrElse(0L).toDouble
      val id = log.add(buildId, "drive", dr.queryId, dr.startMs, dr.startMs + wallMs)
      driveIds(dr.queryId) = id
      var trigger = 0.0
      dr.batches.foreach { b =>
        val te = b.durations.getOrElse("triggerExecution", 0L).toDouble
        trigger += te
        val named = StreamPhases.map { case (k, key) =>
          val v = b.durations.getOrElse(k, 0L).toDouble
          m(key) += v
          v
        }.sum
        m("stream.trigger_other_ms") += math.max(te - named, 0.0)
        log.add(id, "batch", s"batch ${b.batchId}", b.startMs, b.startMs + te,
          Map("input_rows" -> b.inputRows, "durations_ms" -> b.durations))
        m("stream.input_rows") += b.inputRows
        m("stream.state_commit_ms") += b.stateCommitMs
        m("stream.dropped_late_rows") += b.droppedLate
      }
      m("stream.drives") += 1
      m("stream.batches") += dr.batches.size
      m("stream.drive_overhead_ms") += math.max(wallMs - trigger, 0.0)
      dr.batches.lastOption.foreach(b => m("stream.state_rows") += b.stateRows)
      m("stream.state_mb") += dr.batches.map(_.stateBytes).maxOption.getOrElse(0L) / 1e6
      (dr.startMs.toDouble, dr.startMs + wallMs)
    }

    // jobs -> stages -> task aggregates
    val total = new TaskAgg
    var worstSkew = 0.0
    var peakStageMem = 0L
    d.jobs.foreach { j =>
      val inBuild = j.span.endsWith(":build")
      val parent = j.streamQuery.flatMap(driveIds.get)
        .getOrElse(if (inBuild) buildId else execId)
      val (s, e) = jobInterval(j)
      val jid = log.add(parent, "job", s"job ${j.id}", s, e)
      if (inBuild) m("ops.build_jobs") += 1
      m("exec.jobs") += 1
      j.stages.filter(_.agg.tasks > 0).foreach { st =>
        log.add(jid, "stage", s"stage ${st.id}", st.startMs, st.endMs,
          Map("tasks" -> st.agg.tasks, "shuffle_write_bytes" -> st.agg.shuffleWriteBytes))
        m("exec.stages") += 1
        total.add(st.agg)
        Stats.skew(st.agg.taskWriteBytes.toSeq).foreach(r => worstSkew = math.max(worstSkew, r))
        peakStageMem = math.max(peakStageMem, st.peakMemSum)
      }
    }
    m("exec.tasks") += total.tasks
    m("exec.run_s") += total.runMs / 1e3
    m("exec.cpu_s") += total.cpuNs / 1e9
    m("exec.gc_s") += total.gcMs / 1e3
    m("exec.sched_overhead_s") += math.max(total.durationMs - total.runMs, 0L) / 1e3
    m("exec.spill_mb") += total.spillBytes / 1e6
    m("exec.peak_mem_mb") = peakStageMem / 1e6
    m("io.input_mb") += total.inputBytes / 1e6
    m("io.input_rows") += total.inputRecords
    m("exchange.write_mb") += total.shuffleWriteBytes / 1e6
    m("exchange.read_mb") += total.shuffleReadBytes / 1e6
    m("exchange.records") += total.shuffleWriteRecords
    m("exchange.fetch_wait_s") += total.fetchWaitMs / 1e3
    m("exchange.skew") = worstSkew

    // catalyst phases: a plan belongs to the span its first phase began in
    var catBuildMs = 0.0
    var catExecMs = 0.0
    val catExec = mutable.ArrayBuffer.empty[(Double, Double)]
    d.plans.foreach { p =>
      val start = p.phases.values.map(_._1).minOption.getOrElse(q.endMs)
      val inBuild = start < q.buildEndMs
      val parent = if (inBuild) buildId else execId
      p.phases.toSeq.sortBy(_._2._1).foreach { case (phase, (s, e)) =>
        log.add(parent, "catalyst", phase, s, e, Map("func" -> p.funcName))
        val ms = (e - s).toDouble
        m(s"catalyst.${phase}_ms") += ms
        if (inBuild) catBuildMs += ms
        else { catExecMs += ms; catExec += ((s.toDouble, e.toDouble)) }
      }
      m("io.files_read") += p.filesRead
      m("io.scan_ms") += p.scanMs
    }

    // SQL executions in the execute span; their time outside jobs is the
    // driver's share of execution: adaptive re-planning, code generation,
    // job submission
    val execSql = d.execs.filter(_.endMs > q.buildEndMs).map { x =>
      val s = math.max(x.startMs, q.buildEndMs).toDouble
      val e = math.min(x.endMs, q.endMs).toDouble
      log.add(execId, "sql", s"execution ${x.id}", s, e)
      (s, e)
    }

    // self times
    val streamJobs = d.jobs.filter(_.streamQuery.isDefined).map(jobInterval)
    val buildJobs = d.jobs.filter(j => j.streamQuery.isEmpty && j.span.endsWith(":build"))
      .map(jobInterval)
    val execJobs = d.jobs.filter(j => j.streamQuery.isEmpty && !j.span.endsWith(":build"))
      .map(jobInterval)
    val driveMs = Stats.unionLength(driveIntervals)
    val streamJobMs = Stats.unionLength(streamJobs)
    val buildJobMs = Stats.unionLength(buildJobs)
    val execJobMs = Stats.unionLength(execJobs)
    val execDriverMs = math.max(Stats.unionLength(execSql ++ execJobs) - execJobMs, 0.0)
    m("ops.build_s") += q.buildS
    m("ops.self_s") += math.max(q.buildS * 1e3 - driveMs - buildJobMs - catBuildMs, 0.0) / 1e3
    m("stream.self_s") += math.max(driveMs - streamJobMs, 0.0) / 1e3
    m("catalyst.self_s") += (catBuildMs + catExecMs) / 1e3
    m("exec.driver_s") += execDriverMs / 1e3
    m("exec.self_s") += (streamJobMs + buildJobMs + execJobMs + execDriverMs) / 1e3
    val share = coveredShare(q, catExec.toSeq ++ execSql ++ execJobs)
    m("trace.gap_s") += (1.0 - share) * (q.endMs - q.startMs) / 1e3
    m("trace.covered_share") += share
    m("trace.covered") += (if (share >= CoveredShare) 1.0 else 0.0)
    m("wall_s") += q.wallS
    m.toMap
  }

  /** Combine per-query metric maps: sums, except [[MaxKeys]]. */
  def combine(xs: Seq[Map[String, Double]]): Map[String, Double] =
    xs.flatMap(_.keys).distinct.map { k =>
      val vs = xs.flatMap(_.get(k))
      k -> (if (MaxKeys(k)) vs.max else vs.sum)
    }.toMap
}
