package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content digest of a result: row count plus the exact
  * sum of per-row xxhash64 values. Doubles are rounded to single precision
  * first, so the last-bit differences that a different partial-aggregation
  * order produces do not change the digest; map entries are sorted for the
  * same reason. Columns are taken by position, so duplicate output names
  * are fine.
  */
object Digest {

  final case class Result(rows: Long, hashSum: String) {
    override def toString: String = s"$rows:$hashSum"
  }

  private def norm(c: Column, dt: DataType): Column = dt match {
    // + 0.0 folds -0.0 into 0.0
    case DoubleType | FloatType => (c + lit(0.0)).cast(FloatType)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c),
        e => struct(norm(e.getField("key"), kt), norm(e.getField("value"), vt))))
    case StructType(fields) =>
      when(c.isNull, lit(null)).otherwise(struct(fields.toSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _: DecimalType | _: VariantType | _: CalendarIntervalType |
         _: DayTimeIntervalType | _: YearMonthIntervalType => c.cast(StringType)
    case _ => c
  }

  def of(df: DataFrame): Result = {
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val rowHash =
      if (pos.columns.isEmpty) lit(0L)
      else xxhash64(pos.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType)): _*)
    val r = pos.select(rowHash.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    Result(r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }
}
