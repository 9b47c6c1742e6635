package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result fingerprint: sorted column names, row
  * count, and the exact sum of a per-row xxhash64 over canonical
  * values. Every numeric or boolean value is hashed as a double (so
  * DuckDB's DECIMAL/HUGEINT/INT32 columns meet Spark's double/long
  * ones), timestamps as epoch micros, strings as themselves; a null
  * flag per column keeps (null, x) apart from (x, null). Computing it
  * evaluates every output column, so one action both times an op and
  * checks it. */
final case class Fingerprint(columns: String, rows: Long, hash: BigDecimal) {
  override def toString: String = s"rows=$rows hash=$hash cols=[$columns]"
}

object Fingerprint {
  private def canonical(df: DataFrame): Seq[Column] =
    df.schema.fields.sortBy(_.name).toSeq.flatMap { f =>
      val c = col(s"`${f.name}`")
      val v = f.dataType match {
        case _: NumericType | BooleanType =>
          val d = c.cast(DoubleType)
          when(d === 0.0, lit(0.0)).otherwise(d) // -0.0 == 0.0
        case TimestampType | TimestampNTZType => unix_micros(c.cast(TimestampType))
        case DateType                         => unix_date(c)
        case StringType                       => c
        case _                                => to_json(struct(c))
      }
      Seq(v, c.isNull)
    }

  def of(df: DataFrame, extra: Column*): (Fingerprint, Seq[Long]) = {
    val row = df.agg(count(lit(1)),
        (sum(xxhash64(canonical(df): _*).cast(DecimalType(38, 0))) +: extra): _*)
      .collect()(0) // BOUNDED: one aggregate row
    val hash = Option(row.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0))
    val extras = extra.indices.map(i => if (row.isNullAt(2 + i)) 0L else row.getLong(2 + i))
    (Fingerprint(df.schema.fieldNames.sorted.mkString(","), row.getLong(0), hash), extras)
  }
}
