package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent, type-aware digest of a query's output, with the
  * comparison semantics of tools/check_oracle.py: columns sorted by name,
  * each column's type kind part of the digest (`i` integral, `f`
  * floating, `b` boolean, `t` timestamp, `s` everything else, so `6` and
  * `6.0` differ while int and bigint agree), rows compared as a multiset
  * with nulls distinct from every value.
  *
  * Each row hashes to 64 bits over its canonicalised cells; the digest is
  * the row count, the schema string and the sum of the row hashes, all
  * computed by Spark in one pass over the output.
  */
object OutputHash {

  final case class Digest(rows: Long, schema: String, hash: String) {
    def render: String = s"$rows|$schema|$hash"
  }

  def kind(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "i"
    case FloatType | DoubleType => "f"
    case BooleanType => "b"
    case TimestampType | TimestampNTZType => "t"
    case _ => "s"
  }

  private def canonical(name: String, dt: DataType) = {
    val c = col(s"`$name`")
    kind(dt) match {
      case "i" => c.cast(LongType)
      case "f" => c.cast(DoubleType)
      case "t" => unix_micros(c.cast(TimestampType))
      case "b" => c
      case _ => dt match {
        case StringType => c
        case _ => to_json(struct(c))
      }
    }
  }

  def of(df: DataFrame): Digest = {
    val fields = df.schema.fields.sortBy(_.name)
    val schema = fields.map(f => f.name + ":" + kind(f.dataType)).mkString(",")
    val cells = fields.toSeq.flatMap(f => Seq(isnull(col(s"`${f.name}`")), canonical(f.name, f.dataType)))
    val h = if (cells.isEmpty) lit(0L) else xxhash64(cells: _*)
    val row = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    val total = Option(row.getDecimal(1)).map(_.toBigInteger).getOrElse(java.math.BigInteger.ZERO)
    Digest(row.getLong(0), schema, f"${total.longValue}%016x")
  }
}
