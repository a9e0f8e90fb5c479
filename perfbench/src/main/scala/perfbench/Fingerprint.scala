package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Full-result fingerprint of a frame: its row count plus two
  * order-insensitive combinations (sum and xor) of a per-row hash over every
  * output column. Because every column feeds the hash, Catalyst cannot prune
  * any of them the way it does under `count()`, so timing this action times
  * the complete result. Columns holding a map anywhere are hashed through
  * `to_json`, since Spark's row hashes reject map types.
  */
final case class Fp(rows: Long, sum: String, xor: Long) {
  def show: String = s"$rows:$sum:${java.lang.Long.toHexString(xor)}"
}

object Fingerprint {

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  def of(df: DataFrame): Fp = {
    // positional names: results may carry duplicate or dotted names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h")))
      .collect()(0)
    Fp(r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}
