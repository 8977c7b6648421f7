package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-independent hash of a query result, computed the same way by
  * `make_expected.py` over the DuckDB oracle's rows, so a collected Spark
  * result is checked against an oracle answer computed once.
  *
  * Columns are taken in name order; each value becomes a typed token
  * (doubles by their exact IEEE bits, timestamps as epoch microseconds);
  * rows are sorted; the header carries each column's name and type class,
  * integer widths folded into one class as the oracle gate does. Only the
  * types the checked queries return have a form; any other value fails
  * the check loudly instead of hashing to something approximate. */
object Canon {

  def typeClass(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => "INT"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR"
    case BooleanType => "BOOLEAN"
    case TimestampNTZType => "TIMESTAMP"
    case other => other.simpleString.toUpperCase
  }

  def token(v: Any): String = v match {
    case null => "N"
    case b: Boolean => s"b:$b"
    case x: Int => s"i:$x"
    case x: Long => s"i:$x"
    case x: Double =>
      if (x.isNaN) "d:NaN"
      else "d:" + java.lang.Long.toHexString(
        java.lang.Double.doubleToRawLongBits(x))
    case s: String =>
      "s:" + s.replace("\\", "\\\\").replace("|", "\\|").replace("\n", "\\n")
    case t: LocalDateTime =>
      val i = t.toInstant(ZoneOffset.UTC)
      s"t:${i.getEpochSecond * 1000000L + i.getNano / 1000}"
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  /** Hex SHA-256 of the canonical form of `rows` under `schema`. */
  def hash(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name)
    val header = order.map { i =>
      val f = schema.fields(i); s"${f.name}:${typeClass(f.dataType)}"
    }.mkString("|")
    val lines = rows.map(r => order.map(i => token(r.get(i))).mkString("|"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes(UTF_8))
    lines.foreach(l => md.update(("\n" + l).getBytes(UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
