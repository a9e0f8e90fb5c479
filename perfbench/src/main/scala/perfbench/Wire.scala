package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.util.Random

/** Values the ETL must produce from a generated wire, computed by the
  * generator itself rather than by Spark. Averages follow `Etl.stats`:
  * a decimal(18,4) sum divided by the row count.
  */
final case class WireExpect(
    rowsIn: Long, kept: Long, nIds: Long,
    sumLat: BigDecimal, sumLon: BigDecimal, minLat: Double, maxLat: Double) {
  def avgLat: Double = sumLat.toDouble / kept
  def avgLon: Double = sumLon.toDouble / kept
  def keptFrac: Double = kept.toDouble / rowsIn
}

/** Seeded airport wire in the reference's Kafka message format
  * (FIXTURES.md §1), with the defects the reference's clean step must
  * survive planted at fixed shares. Every line is one JSON message.
  */
object Wire {

  /** Planted defect shares of all rows. Rows missing `icao` stay valid;
    * every other defect makes `Etl.clean` drop the row. */
  val Malformed = 0.04
  val EmptyCoord = 0.04
  val AbsentLat = 0.03
  val AbsentIcao = 0.05
  val NonNumericLat = 0.03
  /** Share of rows `Etl.clean` keeps. */
  val ValidShare: Double = 1 - Malformed - EmptyCoord - AbsentLat - NonNumericLat
  /** Share of valid rows that repeat an earlier valid row's id. */
  val DuplicateId = 0.02

  private sealed trait Kind
  private case object Valid extends Kind
  private case object NoIcao extends Kind
  private case object Bad extends Kind

  def generate(seed: Long, rows: Int): (IndexedSeq[String], WireExpect) = {
    val rnd = new Random(seed)
    def count(share: Double) = math.round(share * rows).toInt
    val nMalformed = count(Malformed)
    val nEmpty = count(EmptyCoord)
    val nAbsentLat = count(AbsentLat)
    val nNoIcao = count(AbsentIcao)
    val nNonNum = count(NonNumericLat)
    val nValid = rows - nMalformed - nEmpty - nAbsentLat - nNoIcao - nNonNum
    val kinds: IndexedSeq[(Kind, String)] = rnd.shuffle(
      Seq.fill(nValid)((Valid, "")) ++ Seq.fill(nNoIcao)((NoIcao, "")) ++
        Seq.fill(nMalformed)((Bad, "malformed")) ++ Seq.fill(nEmpty)((Bad, "empty")) ++
        Seq.fill(nAbsentLat)((Bad, "absent_lat")) ++ Seq.fill(nNonNum)((Bad, "non_numeric")))
      .toIndexedSeq

    // coordinates carry exactly four decimals, so a decimal(18,4) sum of
    // them is exact and the generator's BigDecimal sum is the answer
    def coord(limit: Int): String = {
      val v = BigDecimal(rnd.nextInt(limit * 20000 + 1) - limit * 10000) / 10000
      v.setScale(4).toString
    }
    def icao(): String = (1 to 4).map(_ => ('A' + rnd.nextInt(26)).toChar).mkString
    def q(s: String) = "\"" + s + "\""

    val keptIds = scala.collection.mutable.ArrayBuffer.empty[String]
    var sumLat = BigDecimal(0)
    var sumLon = BigDecimal(0)
    var minLat = Double.PositiveInfinity
    var maxLat = Double.NegativeInfinity
    val lines = kinds.zipWithIndex.map { case ((kind, defect), i) =>
      val freshId = f"$seed%x-$i%07d"
      val lat = coord(90)
      val lon = coord(180)
      val name = s"Airport $i"
      kind match {
        case Valid | NoIcao =>
          val id =
            if (keptIds.nonEmpty && rnd.nextDouble() < DuplicateId)
              keptIds(rnd.nextInt(keptIds.size))
            else freshId
          keptIds += id
          sumLat += BigDecimal(lat); sumLon += BigDecimal(lon)
          minLat = math.min(minLat, lat.toDouble); maxLat = math.max(maxLat, lat.toDouble)
          val icaoField = if (kind == Valid) s""""icao": ${q(icao())}, """ else ""
          s"""{"id": ${q(id)}, $icaoField"name": ${q(name)}, "lat": ${q(lat)}, "lon": ${q(lon)}}"""
        case Bad => defect match {
          case "malformed" =>
            s"""{"id": ${q(freshId)}, "name": ${q(name)}, "lat": ${q(lat)}"""
          case "empty" =>
            val (la, lo) = if (rnd.nextBoolean()) ("", lon) else (lat, "")
            s"""{"id": ${q(freshId)}, "icao": ${q(icao())}, "name": ${q(name)}, "lat": ${q(la)}, "lon": ${q(lo)}}"""
          case "absent_lat" =>
            s"""{"id": ${q(freshId)}, "icao": ${q(icao())}, "name": ${q(name)}, "lon": ${q(lon)}}"""
          case _ =>
            s"""{"id": ${q(freshId)}, "icao": ${q(icao())}, "name": ${q(name)}, "lat": "N/A", "lon": ${q(lon)}}"""
        }
      }
    }
    val expect = WireExpect(rows, keptIds.size, keptIds.distinct.size,
      sumLat, sumLon, minLat, maxLat)
    (lines, expect)
  }

  /** Split `lines` into `files` consecutive JSON-lines files of seeded
    * sizes under `dir` (one micro-batch each under maxFilesPerTrigger=1).
    * File names sort in wire order. */
  def writeFiles(lines: IndexedSeq[String], dir: Path, files: Int, seed: Long): Unit = {
    val rnd = new Random(seed ^ 0x5eed)
    val cuts = 0 +: rnd.shuffle((1 until lines.size).toVector).take(files - 1).sorted :+ lines.size
    Files.createDirectories(dir)
    cuts.zip(cuts.tail).zipWithIndex.foreach { case ((a, b), i) =>
      Files.write(dir.resolve(f"part-$i%03d.json"),
        lines.slice(a, b).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }
}
