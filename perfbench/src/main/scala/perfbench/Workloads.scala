package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.etl.Etl
import graft.sinks.Sinks
import graft.streaming.Streams

/** What one op produced: an error if it threw or its result was wrong, and
  * the wire rows it landed in a sink and verified by read-back. */
final case class Outcome(error: Option[String], ingested: Long = 0L)

/** Everything an op needs. `call` records a span around one public call
  * into graft when tracing is on; `currentOp` is the parent span of calls
  * made from streaming threads. */
final class Ctx(val spark: SparkSession, val fixtures: String, val work: Path,
                val wireDir: Path, val expect: WireExpect, val golden: Golden,
                val tracer: Tracer) {
  @volatile var currentOp: Int = -1
  def call[T](kind: String, name: String = "")(f: => T): T =
    tracer.span(kind, if (name.isEmpty) kind else name, currentOp)(_ => f)
}

/** One operation of a workload. `prepare` runs untimed before each run. */
final case class Op(id: String, run: Ctx => Outcome, prepare: Ctx => Unit = _ => ())

object Workloads {

  /** Ops per workload, trimmed so that all runs fit the benchmark's time
    * budget on four cores at sf0.01; WORKLOADS.md records the trims. */
  val lists: Map[String, Seq[String]] = Map(
    "etl_relational" -> Seq("etl_batch", "q05", "q10", "q19", "q67", "q214", "q23"),
    "stream_recrawl" -> Seq("etl_stream", "q309", "q194"))

  /** Full SparkEntry name of a short query id such as `q07`. */
  lazy val fullNames: Map[String, String] =
    SparkEntry.packs.map(_.name).map(n => n.takeWhile(_ != '_') -> n).toMap

  def ops(workload: String): Seq[Op] = lists(workload).map {
    case "etl_batch" => Op("etl_batch", etlBatch)
    case "etl_stream" => Op("etl_stream", etlStream, c => deleteTree(streamOut(c)))
    case q => query(q)
  }

  def queryIds: Seq[String] = lists.values.flatten.filter(_.startsWith("q")).toSeq.distinct.sorted

  private def query(id: String): Op = Op(id, c => {
    val df = SparkEntry.byName(fullNames(id)).run(c.spark, c.fixtures)
    Outcome(c.golden.check(id, Fingerprint.of(df)))
  })

  private val DerbyUrl = "jdbc:derby:memory:perfbench;create=true"
  private val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  /** Checks the ETL's aggregate over the landed rows against the values the
    * wire generator computed itself. Averages are compared to 1e-12
    * relative: the generator divides an exact decimal sum, Spark divides
    * the same sum after a decimal-to-double cast. */
  private def checkStats(c: Ctx, where: String, st: org.apache.spark.sql.Row): Option[String] = {
    val e = c.expect
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b))
    val got = (st.getAs[Long]("n_rows"), st.getAs[Long]("n_ids"),
      st.getAs[Double]("avg_lat"), st.getAs[Double]("avg_lon"),
      st.getAs[Double]("min_lat"), st.getAs[Double]("max_lat"))
    val ok = got._1 == e.kept && got._2 == e.nIds && close(got._3, e.avgLat) &&
      close(got._4, e.avgLon) && got._5 == e.minLat && got._6 == e.maxLat
    if (ok) None
    else Some(s"$where stats $got != expected (${e.kept},${e.nIds},${e.avgLat},${e.avgLon},${e.minLat},${e.maxLat})")
  }

  /** The reference's batch job: wire → parse/clean → JDBC overwrite into
    * embedded Derby → JDBC read-back → stats, checked against the
    * generator. */
  private def etlBatch(c: Ctx): Outcome = {
    val wire = c.spark.read.text(c.wireDir.toString)
    val (nClean, nStats) = c.call("etl.runBatch") {
      Etl.runBatch(c.spark, wire, df =>
        c.call("sinks.jdbcWrite")(Sinks.jdbcWrite(df, DerbyUrl, "AIRPORTS", DerbyDriver)))
    }
    val back = c.call("sinks.jdbcRead")(Sinks.jdbcRead(c.spark, DerbyUrl, "AIRPORTS", DerbyDriver))
    val st = c.call("etl.stats")(Etl.stats(back).collect()(0))
    val err =
      if (nClean != c.expect.kept || nStats != 1)
        Some(s"runBatch returned ($nClean, $nStats), expected (${c.expect.kept}, 1)")
      else checkStats(c, "etl_batch read-back", st)
    Outcome(err, if (err.isEmpty) c.expect.kept else 0L)
  }

  private def streamOut(c: Ctx): Path = c.work.resolve("stream_out")

  private def wireStream(c: Ctx) =
    c.spark.readStream.schema("value STRING").option("maxFilesPerTrigger", 1)
      .text(c.wireDir.toString)

  /** The wire replayed one file per micro-batch: each batch is parsed,
    * cleaned and appended to parquet; the reference's streaming count runs
    * over the same files; the landed rows are read back and checked. */
  private def etlStream(c: Ctx): Outcome = {
    val out = streamOut(c).toString
    Streams.runForeachBatch(c.spark, wireStream(c), (df, id) =>
      c.call("stream.callback", s"batch$id") {
        Etl.clean(Etl.parse(df)).write.mode("append").parquet(out)
      })
    val n = Streams.runToMemory(c.spark, Streams.globalCount(wireStream(c)), "wire_count")
      .collect()(0).getLong(0)
    val st = c.call("etl.stats")(Etl.stats(c.spark.read.parquet(out)).collect()(0))
    val err =
      if (n != c.expect.rowsIn) Some(s"streaming count $n != wire rows ${c.expect.rowsIn}")
      else checkStats(c, "etl_stream read-back", st)
    Outcome(err, if (err.isEmpty) c.expect.kept else 0L)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }
}
