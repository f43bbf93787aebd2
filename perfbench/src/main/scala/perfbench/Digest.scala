package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The consuming action of every timed key execution: an
  * order-insensitive digest over every row and every column. Each row's
  * xxhash64 reads all of its columns, so Catalyst cannot prune a column
  * the way it can under `count()`; summing the two 32-bit halves of the
  * hashes makes the result independent of row order and partitioning
  * while still counting duplicate rows. */
object Digest {
  final case class Result(digest: String, rows: Long, qe: QueryExecution)

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): Result = {
    val schema = df.schema
    // positional names: outputs may repeat a column name
    val named = df.toDF(schema.fields.indices.map(i => s"c$i"): _*)
    val cols = schema.fields.indices.map { i =>
      // hashing a map is refused by default; its JSON form is canonical
      if (hasMap(schema(i).dataType)) to_json(col(s"c$i")) else col(s"c$i")
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val agg = named.select(h.as("h")).agg(
      count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
    val r = agg.collect()(0)
    val text = s"${schema.catalogString}|${r.getLong(0)}|${r.getLong(1)}|${r.getLong(2)}"
    val md = java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8"))
    Result(md.take(8).map(b => f"${b & 0xff}%02x").mkString, r.getLong(0),
      agg.queryExecution)
  }
}
