package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Expected fingerprints of the query ops for one fixture set.
  *
  * A `full` entry pins the whole fingerprint; a `rows` entry pins only the
  * row count, for a query whose fingerprint is not stable across runs.
  * Entries come from a run whose Verify output passed the DuckDB oracle
  * exactly (see golden.py); the file is keyed by the fixture hash, so a
  * changed fixture finds no entries instead of wrong ones.
  */
final class Golden(entries: Map[String, (String, String)]) {
  def check(id: String, fp: Fp): Option[String] = entries.get(id) match {
    case Some(("full", want)) if want == fp.show => None
    case Some(("rows", want)) if want == fp.rows.toString => None
    case Some((mode, want)) => Some(s"$id fingerprint ${fp.show} does not match golden $mode $want")
    case None => Some(s"$id has no golden entry")
  }
  def rowsOnly: Seq[String] = entries.collect { case (k, ("rows", _)) => k }.toSeq.sorted
}

object Golden {
  private val mapper = new ObjectMapper()

  /** Content hash of the fixture tables (names and bytes), 8 hex digits. */
  def fixtureHash(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val s = Files.walk(dir)
    val files = try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString) finally s.close()
    files.foreach { f =>
      md.update(dir.relativize(f).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f))
    }
    md.digest().take(4).map(b => f"${b & 0xff}%02x").mkString
  }

  def load(file: Path, fixture: String): Golden = {
    val root = mapper.readTree(file.toFile)
    val node = Option(root.get(fixture)).map(_.get("ops")).getOrElse(
      throw new IllegalStateException(s"$file has no entry for fixture hash $fixture"))
    val m = node.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("check").asText(), e.getValue.get("want").asText())
    }.toMap
    new Golden(m)
  }

  /** Adds or replaces the entry of one fixture in `file`. */
  def write(file: Path, fixture: String, scale: String,
            ops: Seq[(String, String, String, String)]): Unit = {
    val root =
      if (Files.exists(file)) mapper.readTree(file.toFile).asInstanceOf[ObjectNode]
      else mapper.createObjectNode()
    val fx = mapper.createObjectNode()
    fx.put("scale", scale)
    val o = fx.putObject("ops")
    ops.sortBy(_._1).foreach { case (id, check, want, why) =>
      val e = o.putObject(id)
      e.put("check", check); e.put("want", want)
      if (why.nonEmpty) e.put("why", why)
    }
    root.set[ObjectNode](fixture, fx)
    mapper.writerWithDefaultPrettyPrinter().writeValue(file.toFile, root)
  }
}
