package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Row count plus an order-insensitive checksum: the sum of each row's
  * `xxhash64`, exact in a wide decimal. */
final case class Digest(count: Long, sum: BigDecimal)

object Digest {
  def rowHash(cols: Seq[String]): Column =
    xxhash64(cols.map(c => col(s"`$c`")): _*).cast(DecimalType(38, 0))

  /** The aggregate columns an output check runs: count and hash sum. */
  def aggCols(cols: Seq[String]): Seq[Column] =
    Seq(count(lit(1)), coalesce(sum(rowHash(cols)), lit(0).cast(DecimalType(38, 0))))

  def of(r: Row, i: Int = 0): Digest =
    Digest(r.getLong(i), BigDecimal(r.getDecimal(i + 1)))

  /** One aggregation over `df`. */
  def apply(df: DataFrame): Digest = {
    val a = aggCols(df.columns.toSeq)
    of(df.agg(a.head, a.tail: _*).head())
  }
}

/** [[Digest.rowHash]] evaluated in the client, by Spark's own expression,
  * for oracle rows the benchmark holds there: no job per check. */
final class RowHasher(schema: StructType) {
  private val toInternal = ExpressionEncoder(RowEncoder.encoderFor(schema)).createSerializer()
  // 42 is the seed `functions.xxhash64` hashes with
  private val hash = XxHash64(schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
    BoundReference(i, f.dataType, f.nullable) }, 42L)

  def apply(r: Row): BigDecimal = BigDecimal(hash.eval(toInternal(r)).asInstanceOf[Long])

  def digest(rows: Iterable[Row]): Digest =
    Digest(rows.size.toLong, rows.iterator.map(apply).sum)
}
