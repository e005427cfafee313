package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive whole-table fingerprints.
  *
  * The reference verifies migrated data with `sum(hash(*))` — a commutative
  * checksum over Murmur3 row hashes (`/root/reference/6_verify_data_integrity.py:79-81`).
  * Two hardenings here (SURVEY §2.4 A4):
  *   - 64-bit `xxhash64` instead of 32-bit `hash`: summing 32-bit hashes over
  *     billions of rows collides far too easily at 100 TB scale.
  *   - count and checksum computed in ONE aggregation = one scan per side;
  *     the reference scans each side twice (count at `6:74-76`, checksum at
  *     `6:79-81`). Both aggregates are combinable per task, so [[digest]]
  *     runs them as one observed pass ([[OnePass.aggregate]]): one Spark
  *     job, no shuffle; a write can carry them with no job at all
  *     ([[observed]]).
  *
  * Map columns are hashed via `sort_array(map_entries(...))` because Spark
  * (correctly) refuses to hash raw maps — their entry order is undefined,
  * which would make the checksum nondeterministic.
  */
object Fingerprint {

  /** Columns made hashable: top-level MapType normalized to deterministic
    * entry order; types with maps NESTED below the top level (struct/array
    * of map) fall back to `to_json` — xxhash64 rejects any schema
    * containing a map, and entry order inside parquet-read maps is the
    * stored order, identical on both sides of a migration. */
  def hashableCols(df: DataFrame): Seq[Column] = {
    def containsMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => containsMap(f.dataType))
      case a: ArrayType => containsMap(a.elementType)
      case _ => false
    }
    df.schema.fields.toSeq.map { f =>
      f.dataType match {
        // a map whose OWN key/value types contain maps can't go through
        // sort_array(map_entries(...)) either (structs containing maps are
        // unorderable) — to_json it like other nested-map shapes
        case m: MapType if containsMap(m.keyType) || containsMap(m.valueType) =>
          to_json(col(f.name))
        case _: MapType => sort_array(map_entries(col(f.name)))
        case dt if containsMap(dt) => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
  }

  /** 64-bit commutative row-hash column over all columns. */
  def rowHash(df: DataFrame): Column = xxhash64(hashableCols(df): _*)

  final case class TableDigest(count: Long, checksum: BigInt)

  object TableDigest {
    /** Reads the (count, checksum) row that [[aggregates]] produce. */
    def fromRow(row: Row): TableDigest = {
      val chk = if (row.isNullAt(1)) BigInt(0) else BigInt(row.getDecimal(1).toBigInteger)
      TableDigest(row.getLong(0), chk)
    }
  }

  /** The digest's two aggregates, in the order [[TableDigest.fromRow]]
    * reads them: the row count and the order-insensitive checksum. The
    * hash sum is carried as decimal(38,0): Spark 4 runs ANSI mode by
    * default, so a plain long sum of xxhash64 values overflow-throws after
    * a handful of rows; decimal(38,0) is exact to ~1e19 rows and still
    * map-side combinable. */
  def aggregates(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("cnt"),
    sum(rowHash(df).cast(DecimalType(38, 0))).as("chk"))

  /** One-pass count + order-insensitive checksum, in one Spark job. */
  def digest(df: DataFrame): TableDigest =
    TableDigest.fromRow(OnePass.aggregate(df, aggregates(df)))

  /** `df` with its digest attached as an [[Observation]]: the first action
    * over the returned frame (a write, typically) computes the digest in
    * its own pass, with no extra job. Read it afterwards with
    * [[OnePass.result]] and [[TableDigest.fromRow]]. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val aggs = aggregates(df)
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }
}
