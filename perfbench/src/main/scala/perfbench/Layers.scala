package perfbench

import scala.jdk.CollectionConverters._

/** One timed pass through a workload's ops, with the JVM-wide counter
  * deltas taken at its boundaries. */
final case class OpResult(id: String, seconds: Double, error: Option[String], ingested: Long)
final case class Pass(kind: String, startMs: Double, endMs: Double, ops: Seq[OpResult],
                      gcMs: Long, gcCount: Long, compiles: Long, compileNs: Long) {
  def wallS: Double = (endMs - startMs) / 1000
}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Percentile, `p` in [0, 1], interpolated linearly between order
    * statistics. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = p * (s.size - 1)
      val i = pos.toInt
      if (i + 1 >= s.size) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
    }
  }

  /** Total length of the union of intervals. */
  def unionLen(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((s, e)) if a <= e => cur = Some((s, math.max(e, b)))
        case Some((s, e)) => total += e - s; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.fold(0.0)(c => c._2 - c._1)
  }
}

/** Per-layer metrics from the traced passes of a run. Events are attributed
  * to a pass, op or harness call by time window: only one op runs at a time.
  * Sums are reported per traced pass; ratios over all traced passes. */
object Layers {
  import Stats._

  /** Queries whose ops write the recrawl stores. */
  val StoreOps = Set("q305", "q306", "q309")

  def compute(traced: Seq[Pass], bus: BusListener, harness: Seq[Span],
              cores: Int, keptFrac: Double): (Seq[Metric], Seq[Span]) = {
    val n = traced.size.toDouble
    val windows = traced.map(p => (p.startMs, p.endMs))
    def inW(t: Double) = windows.exists(w => t >= w._1 && t <= w._2)
    val wallMs = windows.map(w => w._2 - w._1).sum

    val tasks = bus.tasks.asScala.toSeq.filter(t => inW(t.finishMs))
    val jobs = bus.jobs.asScala.toSeq.filter(j => inW(j.startMs))
    val stages = bus.stages.asScala.toSeq.filter(s => inW(s.submitMs))
    val plans = bus.plans.asScala.toSeq.filter(p => inW(p.endMs))
    val sqls = bus.sqlStarts.asScala.toSeq.filter(t => inW(t.toDouble))
    val batches = bus.batches.asScala.toSeq.filter(b => inW(b.startMs))
    val hs = harness.filter(s => inW(s.startMs))

    // job and stage spans hang under the innermost span open at their start
    var nextId = (harness.map(_.id) :+ 0).max
    def innermost(cands: Seq[Span], t: Double): Int =
      cands.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.startMs).fold(-1)(_.id)
    val jobSpans = jobs.map { j =>
      nextId += 1
      Span(nextId, innermost(hs, j.startMs), "job", s"job${j.id}", j.startMs, j.endMs)
    }
    val stageSpans = stages.map { s =>
      nextId += 1
      Span(nextId, innermost(jobSpans, s.submitMs), "stage", s"stage${s.id}", s.submitMs, s.endMs)
    }
    val all = hs ++ jobSpans ++ stageSpans
    val children = all.groupBy(_.parent)
    // a layer's self time: wall time in which one of its spans is open and
    // none of that span's children is (spans of one layer may overlap, as
    // stages of one job do, so the union is taken, not the sum)
    def selfIntervals(s: Span): Seq[(Double, Double)] = {
      var at = s.startMs
      val gaps = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).sortBy(_._1).foreach {
        case (a, b) =>
          if (a > at) gaps += ((at, math.min(a, s.endMs)))
          at = math.max(at, b)
      }
      if (s.endMs > at) gaps += ((at, s.endMs))
      gaps.toSeq
    }
    val selfByKind = all.groupBy(_.kind).map { case (k, ss) => k -> unionLen(ss.flatMap(selfIntervals)) }

    def spansOf(kind: String) = hs.filter(_.kind == kind)
    def sumDurS(kind: String) = spansOf(kind).map(_.durMs).sum / 1000 / n
    def tasksIn(ss: Seq[Span]) =
      tasks.filter(t => ss.exists(s => s.startMs <= t.finishMs && t.finishMs <= s.endMs))

    val reduceSkew = tasks.filter(_.shReadBytes > 0).groupBy(_.stage).values
      .filter(_.size >= 2).map { ts =>
        val b = ts.map(_.shReadBytes.toDouble)
        val m = median(b)
        if (m > 0) b.max / m else 1.0
      }.toSeq
    val sinkTasks = tasksIn(spansOf("sinks.jdbcWrite") ++ spansOf("stream.callback"))
    val storeSpans = hs.filter(s => s.kind == "op" && StoreOps(s.name))
    val storeTasks = tasksIn(storeSpans)
    val storeBytes = storeTasks.map(_.outBytes).sum.toDouble
    val storeIn = storeTasks.map(_.inBytes).sum.toDouble
    val growth = batches.groupBy(_.run).values.filter(_.size >= 2).map { bs =>
      val s = bs.sortBy(_.batch)
      s.last.triggerMs.toDouble / math.max(1L, s.head.triggerMs)
    }.toSeq
    val jobUnion = unionLen(jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
    val runBatchSelf = spansOf("etl.runBatch").map { s =>
      s.durMs - children.getOrElse(s.id, Nil).filter(_.kind == "sinks.jdbcWrite").map(_.durMs).sum
    }.sum
    val emptyTasks = tasks.count(t =>
      t.inRecs == 0 && t.shReadRecs == 0 && t.outRecs == 0 && t.shWriteRecs == 0)

    val ms = Seq(
      Metric("tables.bytes_read", tasks.map(_.inBytes).sum / n, "B"),
      Metric("tables.rows_read", tasks.map(_.inRecs).sum / n, "count"),
      Metric("catalyst.plans", sqls.size / n, "count"),
      Metric("catalyst.analysis_s", plans.map(_.analysisMs).sum / 1000.0 / n, "s"),
      Metric("catalyst.optimization_s", plans.map(_.optimizationMs).sum / 1000.0 / n, "s"),
      Metric("catalyst.planning_s", plans.map(_.planningMs).sum / 1000.0 / n, "s"),
      Metric("codegen.compiles", traced.map(_.compiles).sum / n, "count"),
      Metric("codegen.compile_s", traced.map(_.compileNs).sum / 1e9 / n, "s"),
      Metric("sched.jobs", jobs.size / n, "count"),
      Metric("sched.stages", stages.size / n, "count"),
      Metric("sched.tasks", tasks.size / n, "count"),
      Metric("sched.task_run_s", tasks.map(_.runMs).sum / 1000.0 / n, "s"),
      Metric("sched.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9 / n, "s"),
      Metric("sched.launch_overhead_s", tasks.map(t => t.durMs - t.runMs).sum / 1000.0 / n, "s"),
      Metric("sched.busy_frac", tasks.map(_.runMs).sum / math.max(1.0, wallMs * cores), "ratio"),
      Metric("sched.driver_only_s", (wallMs - jobUnion) / 1000 / n, "s"),
      Metric("sched.empty_task_frac", emptyTasks / math.max(1.0, tasks.size), "ratio"),
      Metric("sched.tasks_failed", tasks.count(!_.ok) / n, "count"),
      Metric("shuffle.write_bytes", tasks.map(_.shWriteBytes).sum / n, "B"),
      Metric("shuffle.read_bytes", tasks.map(_.shReadBytes).sum / n, "B"),
      Metric("shuffle.fetch_wait_s", tasks.map(_.fetchWaitMs).sum / 1000.0 / n, "s"),
      Metric("shuffle.spill_bytes", tasks.map(_.spillBytes).sum / n, "B"),
      Metric("shuffle.skew", if (reduceSkew.isEmpty) 1.0 else median(reduceSkew), "ratio"),
      Metric("gc.s", traced.map(_.gcMs).sum / 1000.0 / n, "s"),
      Metric("gc.count", traced.map(_.gcCount).sum / n, "count"),
      Metric("mem.peak_exec_mb", tasks.map(_.peakExecBytes).maxOption.getOrElse(0L) / 1048576.0, "MB"),
      Metric("etl.parse_clean_s",
        (runBatchSelf + spansOf("stream.callback").map(_.durMs).sum) / 1000 / n, "s"),
      Metric("etl.stats_s", sumDurS("etl.stats"), "s"),
      Metric("etl.kept_frac", keptFrac, "ratio"),
      Metric("sinks.jdbc_write_s", sumDurS("sinks.jdbcWrite"), "s"),
      Metric("sinks.readback_s", sumDurS("sinks.jdbcRead"), "s"),
      Metric("sinks.rows_written", sinkTasks.map(_.outRecs).sum / n, "count"),
      Metric("sinks.bytes_written", sinkTasks.map(_.outBytes).sum / n, "B"),
      Metric("stream.batches", batches.size / n, "count"),
      Metric("stream.add_batch_ms", batches.map(_.addBatchMs).sum / n, "ms"),
      Metric("stream.query_planning_ms", batches.map(_.planningMs).sum / n, "ms"),
      Metric("stream.wal_commit_ms", batches.map(_.walMs).sum / n, "ms"),
      Metric("stream.state_rows",
        batches.groupBy(_.run).values.map(_.map(_.stateRows).max).sum / n, "count"),
      Metric("stream.state_commit_ms", batches.map(_.stateCommitMs).sum / n, "ms"),
      Metric("stream.batch_growth", median(growth), "ratio"),
      Metric("store.bytes_written", storeBytes / n, "B"),
      Metric("store.files_written", storeTasks.count(_.outBytes > 0) / n, "count"),
      Metric("store.write_amp", if (storeIn > 0) storeBytes / storeIn else 0.0, "ratio")
    ) ++ Seq("pass", "op", "etl.runBatch", "sinks.jdbcWrite", "sinks.jdbcRead", "etl.stats",
      "stream.callback", "job", "stage").map(k =>
      Metric(s"self.$k" + "_s", selfByKind.getOrElse(k, 0.0) / 1000 / n, "s"))
    (ms, all)
  }
}
