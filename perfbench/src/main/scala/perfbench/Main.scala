package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbenchbridge.Bridge

import graft.{GraftSession, SparkEntry}

/** Benchmark harness for graft. One JVM, `local[4]`, one client running one
  * op at a time in a closed loop. Modes:
  *
  *   - `run`: set up, one cold pass, then warm passes for `--seconds`; with
  *     `--trace 1` the warm time is split into untraced and traced passes and
  *     per-layer metrics come from the traced ones. Prints every metric as
  *     `metric <name> <value> <unit>` and, last, one `PERFBENCH {...}` line.
  *   - `verify`: run graft.Verify on the benchmark's queries only.
  *   - `golden`: fingerprint the query ops against a Verify output directory
  *     and write the expected values (see golden.py).
  *
  * No GC or sleep barrier runs between ops: the debt one op leaves is paid
  * by the next, as it is in a long-running job.
  */
object Main {
  val Cores = 4
  val WireRows = 10000
  val WireFiles = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    a.getOrElse("mode", "run") match {
      case "verify" =>
        graft.Verify.main(Array(a("fixtures"), a("verify-out"),
          Workloads.queryIds.map(Workloads.fullNames).mkString(",")))
      case "golden" => golden(a)
      case _ => run(a)
    }
  }

  /** The tuned session every op runs on, with the benchmark's listeners
    * registered before any clone of it exists. */
  def session(work: Path): (SparkSession, BusListener) = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // traced passes post tens of thousands of task events; the default
      // 10k queue would drop some
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)
    val bus = new BusListener
    spark.sparkContext.addSparkListener(bus)
    spark.listenerManager.register(bus.planListener)
    (spark, bus)
  }

  /** The confs `GraftSession.tune` states it pins, with their values. */
  val Pins: Seq[(String, String)] = Seq(
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.streaming.stateStore.providerClass" -> GraftSession.ROCKSDB_PROVIDER,
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.constraintPropagation.enabled" -> "false")

  /** Pins of `tune` that do not read back as set on the session or on a
    * clone of it. */
  private def pinsMissed(spark: SparkSession): Seq[String] = {
    val clone = Bridge.cloneSession(spark)
    Pins.collect { case (k, v)
      if !spark.conf.getOption(k).contains(v) || !clone.conf.getOption(k).contains(v) => k }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def counters: (Long, Long, Long, Long) = (
    gcBeans.map(_.getCollectionTime).sum, gcBeans.map(_.getCollectionCount).sum,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def run(a: Map[String, String]): Unit = {
    val procStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = a("workload")
    require(Workloads.lists.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val work = Paths.get(a("work")).toAbsolutePath
    val fixtures = Paths.get(a("fixtures")).toAbsolutePath

    // generation and golden loading are the harness's own work, not set-up
    val prep0 = Clock.nowMs
    val fixture = Golden.fixtureHash(fixtures)
    val golden = Golden.load(Paths.get(a("golden")), fixture)
    val (lines, expect) = Wire.generate(seed, WireRows)
    require(math.abs(expect.keptFrac - Wire.ValidShare) < 1e-12,
      s"generator kept share ${expect.keptFrac} != planted valid share ${Wire.ValidShare}")
    val wireDir = work.resolve("wire")
    Workloads.deleteTree(wireDir)
    Wire.writeFiles(lines, wireDir, WireFiles, seed)
    val prepMs = Clock.nowMs - prep0

    val build0 = Clock.nowMs
    val (spark, bus) = session(work)
    val setupS = (System.currentTimeMillis() - procStart - prepMs) / 1000.0
    val buildS = (Clock.nowMs - build0) / 1000.0
    val missed = pinsMissed(spark)

    val tracer = new Tracer
    val ctx = new Ctx(spark, fixtures.toString, work, wireDir, expect, golden, tracer)
    val ops = Workloads.ops(workload)
    val rnd = new Random(seed)

    def setTracing(on: Boolean): Unit = { tracer.enabled = on; bus.recording = on }

    def runPass(kind: String): Pass = {
      val order = rnd.shuffle(ops)
      val (g0, gc0, c0, cn0) = counters
      val start = Clock.nowMs
      val res = tracer.span("pass", kind, -1) { pid =>
        order.map { op =>
          op.prepare(ctx)
          val t0 = System.nanoTime()
          val out = tracer.span("op", op.id, pid) { oid =>
            ctx.currentOp = oid
            try op.run(ctx)
            catch { case e: Throwable => Outcome(Some(s"${op.id} threw $e")) }
          }
          val s = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          out.error.foreach(m => System.err.println(s"[perfbench] FAIL ($kind) $m"))
          OpResult(op.id, s, out.error, out.ingested)
        }
      }
      val end = Clock.nowMs
      val (g1, gc1, c1, cn1) = counters
      Pass(kind, start, end, res, g1 - g0, gc1 - gc0, c1 - c0, cn1 - cn0)
    }

    /** Whole passes until `budgetS` seconds have passed, at least `min`. */
    def passesFor(kind: String, budgetS: Double, min: Int): Seq[Pass] = {
      val t0 = Clock.nowMs
      val out = scala.collection.mutable.ArrayBuffer.empty[Pass]
      while (out.size < min || (Clock.nowMs - t0) / 1000 < budgetS) out += runPass(kind)
      out.toSeq
    }

    def phase(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.currentTimeMillis() - procStart) / 1000.0}%.2f s")
    phase(f"ready (harness preparation ${prepMs / 1000}%.2f s)")
    setTracing(trace)
    val cold = runPass("cold")
    phase("cold pass done")
    setTracing(false)
    // traced runs interleave untraced, traced, untraced passes, so that the
    // overhead estimate is not biased by passes still warming up
    val (warm, traced) =
      if (!trace) (passesFor("warm", seconds, 1), Nil)
      else {
        val before = passesFor("warm", seconds / 3, 1)
        setTracing(true)
        val t = try passesFor("traced", seconds / 3, 1) finally setTracing(false)
        (before ++ passesFor("warm", seconds / 3, 1), t)
      }
    phase("warm passes done")
    Bridge.drainListenerBus(spark.sparkContext)
    val rss = peakRssMb

    val all = Seq(cold) ++ warm ++ traced
    val attempted = all.map(_.ops.size).sum
    val failed = all.map(_.ops.count(_.error.nonEmpty)).sum
    val warmOps = warm.flatMap(_.ops)
    val warmWindows = warm.map(p => (p.startMs, p.endMs))
    val warmBatches = bus.batches.asScala.toSeq
      .filter(b => warmWindows.exists(w => b.startMs >= w._1 && b.endMs <= w._2))
      .map(_.triggerMs.toDouble)
    val ingestOps = warmOps.filter(_.ingested > 0)
    // a run holds only a few warm samples of each op, so op latency
    // percentiles are taken over the ops' median latencies, which one slow
    // pass cannot move
    val opMedians = ops.map(_.id).distinct.sorted.map(id =>
      Metric(s"op.$id.s", Stats.median(warmOps.filter(_.id == id).map(_.seconds)), "s"))
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("cold_pass_s", cold.wallS, "s"),
      Metric("warm_pass_s", Stats.median(warm.map(_.wallS)), "s"),
      Metric("op_p50_s", Stats.pct(opMedians.map(_.value), 0.5), "s"),
      Metric("op_p90_s", Stats.pct(opMedians.map(_.value), 0.9), "s"),
      Metric("fail_frac", failed.toDouble / attempted, "ratio"),
      Metric("peak_rss_mb", rss, "MB"),
      Metric("ingest_rows_per_s",
        if (ingestOps.isEmpty) 0.0 else ingestOps.map(_.ingested).sum / ingestOps.map(_.seconds).sum,
        "rows/s"),
      Metric("batch_p50_ms", Stats.pct(warmBatches, 0.5), "ms"),
      Metric("batch_p90_ms", Stats.pct(warmBatches, 0.9), "ms"))

    val layers =
      if (!trace) Nil
      else {
        val keptFrac =
          if (ingestOps.isEmpty) 0.0
          else ingestOps.map(_.ingested).sum.toDouble / (ingestOps.size * expect.rowsIn)
        val (ms, spans) = Layers.compute(traced, bus, tracer.spans, Cores, keptFrac)
        writeSpans(work.resolve("trace").resolve(s"$workload-$seed.jsonl"), spans)
        val coldPlans = bus.plans.asScala.filter(p => p.endMs >= cold.startMs && p.endMs <= cold.endMs)
        Seq(
          Metric("session.build_s", buildS, "s"),
          Metric("session.pins_effective", Pins.size - missed.size, "count"),
          Metric("trace.overhead_s",
            Stats.median(traced.map(_.wallS)) - Stats.median(warm.map(_.wallS)), "s"),
          Metric("cold.codegen.compiles", cold.compiles, "count"),
          Metric("cold.codegen.compile_s", cold.compileNs / 1e9, "s"),
          Metric("cold.catalyst_s",
            coldPlans.map(p => p.analysisMs + p.optimizationMs + p.planningMs).sum / 1000.0, "s")
        ) ++ ms
      }

    println(s"[perfbench] workload=$workload seed=$seed trace=${if (trace) 1 else 0} " +
      s"fixture=$fixture passes: cold=1 warm=${warm.size} traced=${traced.size} " +
      s"warm_ops=${warmOps.size} attempted=$attempted failed=$failed " +
      s"rows_only=${golden.rowsOnly.filter(ops.map(_.id).contains).mkString(",")} " +
      s"pins_not_effective=${missed.mkString(",")}")
    val json = (e2e ++ layers ++ opMedians).map(m =>
      s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}""").mkString("{", ", ", "}")
    println(s"""PERFBENCH {"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    System.out.flush()
    phase("result printed")
    spark.stop()
    phase("stopped")
  }

  private def writeSpans(file: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(file.getParent)
    Files.write(file, spans.sortBy(_.startMs).map { s =>
      f"""{"id": ${s.id}, "parent": ${s.parent}, "kind": "${s.kind}", "name": "${s.name}", "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f}"""
    }.asJava, StandardCharsets.UTF_8)
  }

  /** Golden mode: for every query op, fingerprint the Verify output and two
    * live runs. Equal everywhere → a full pin; equal row counts only → a
    * rows pin, with the reason; anything else, or an oracle-checked query
    * the oracle did not pass exactly, is refused. */
  def golden(a: Map[String, String]): Unit = {
    val work = Paths.get(a("work")).toAbsolutePath
    val fixtures = Paths.get(a("fixtures")).toAbsolutePath
    val verifyOut = Paths.get(a("verify-out"))
    val exact = Files.readAllLines(Paths.get(a("exact"))).asScala.map(_.trim).toSet
    val (spark, _) = session(work)
    val entries = Workloads.queryIds.map { id =>
      val name = Workloads.fullNames(id)
      val hasOracle = SparkEntry.byName(name).oracle.isDefined
      require(!hasOracle || exact(name), s"$name has an oracle but did not pass it exactly")
      val stored = Fingerprint.of(spark.read.parquet(verifyOut.resolve(name).toString))
      def live() = try Fingerprint.of(SparkEntry.byName(name).run(spark, fixtures.toString))
        finally spark.catalog.clearCache()
      val (l1, l2) = (live(), live())
      val entry =
        if (l1 == stored && l2 == stored) (id, "full", stored.show, "")
        else if (Set(l1.rows, l2.rows) == Set(stored.rows))
          (id, "rows", stored.rows.toString,
            s"fingerprint not stable: verify ${stored.show}, live ${l1.show} / ${l2.show}")
        else throw new IllegalStateException(
          s"$name row count differs: verify ${stored.show}, live ${l1.show} / ${l2.show}")
      println(s"[golden] $id ${entry._2} ${entry._3} ${if (hasOracle) "oracle-exact" else "rows-only query"} ${entry._4}")
      entry
    }
    Golden.write(Paths.get(a("golden")), Golden.fixtureHash(fixtures), a("scale"), entries)
    spark.stop()
  }
}
