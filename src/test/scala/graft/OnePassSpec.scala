package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.SnapshotCatalog
import graft.functions.{Fingerprint, OnePass}

/** [[OnePass.aggregate]] against `df.agg(...).head()`: the same row for
  * every frame shape, in exactly one Spark job whose executed plan has no
  * `Exchange`. */
class OnePassSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("s", StringType),
    StructField("d", DateType),
    StructField("dec", DecimalType(12, 2)),
    StructField("n", IntegerType)))

  /** 1,000 rows in `parts` partitions: strings, dates and decimals with
    * a few nulls, and `n` null throughout. */
  private def rows(parts: Int): DataFrame =
    spark.range(0, 1000, 1, parts).select(
      col("id"),
      when(col("id") % 7 =!= 3, concat(lit("k"), lpad(col("id").cast("string"), 4, "0")))
        .as("s"),
      when(col("id") % 11 =!= 5, date_add(lit(java.sql.Date.valueOf("2020-01-01")),
        (col("id") * 37 % 900).cast("int"))).as("d"),
      when(col("id") % 13 =!= 2, (col("id") * 7919 % 100003 / 100 - 400)
        .cast(DecimalType(12, 2))).as("dec"),
      lit(null).cast(IntegerType).as("n"))

  /** [[rows]] written as `files` parquet files and read back. */
  private def parquet(files: Int): DataFrame = {
    val dir = Files.createTempDirectory("graft_onepass_").resolve("t").toString
    rows(files).write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Aggregates over every column kind, nulls included. */
  private val aggs: Seq[Column] = Seq(
    count(lit(1)).as("rows"), count(col("s")).as("ns"), sum(col("id")).as("sid"),
    min(col("s")).as("smin"), max(col("s")).as("smax"),
    min(col("d")).as("dmin"), max(col("d")).as("dmax"),
    min(col("dec")).as("decmin"), max(col("dec")).as("decmax"), sum(col("dec")).as("decsum"),
    max(col("n")).as("nmax"), sum(col("n")).as("nsum"), count(col("n")).as("nn"))

  /** `OnePass.aggregate(df, aggs)`, asserted equal to the plain
    * aggregate, to have run one Spark job and to have planned no
    * `Exchange`. */
  private def checkOnePass(df: DataFrame, aggs: Seq[Column]): Row = {
    val want = df.agg(aggs.head, aggs.tail: _*).head()
    val plans = ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe; () }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftColumnBridge.waitListenerBus(spark, 10000) // the oracle's events first
    spark.listenerManager.register(listener)
    val (got, jobs) = try SparkJobs.counted(spark)(OnePass.aggregate(df, aggs))
      finally {
        GraftColumnBridge.waitListenerBus(spark, 10000)
        spark.listenerManager.unregister(listener)
      }
    assert(got == want)
    assert(got.schema.fieldNames.toSeq == want.schema.fieldNames.toSeq)
    assert(jobs == 1, s"$jobs Spark jobs")
    val executed = plans.synchronized(plans.toSeq).map(_.executedPlan.toString)
    assert(executed.size == 1, executed.mkString("\n"))
    assert(!executed.head.contains("Exchange"), executed.head)
    got
  }

  test("zero rows: count 0, every other aggregate null") {
    val df = parquet(2).where(col("id") < 0)
    val r = checkOnePass(df, aggs)
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.isNullAt(2) && r.isNullAt(3))
  }

  test("zero partitions: an empty LocalRelation") {
    val df = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    assert(df.rdd.getNumPartitions <= 1)
    val r = checkOnePass(df, aggs)
    assert(r.getLong(0) == 0L && r.isNullAt(9))
  }

  test("zero partitions: a catalog table with no data files") {
    val cat = new SnapshotCatalog(spark, Files.createTempDirectory("graft_onepass_cat_").toString)
    cat.createTable("db", "t", schema)
    val df = cat.readLatest("db", "t")
    val r = checkOnePass(df, aggs)
    assert(r.getLong(0) == 0L)
    // the same table pruned to nothing by a filter
    cat.append("db", "t", parquet(1))
    assert(checkOnePass(cat.readLatest("db", "t").where(col("id") > 5000), aggs).getLong(0) == 0L)
  }

  test("all-null columns") {
    val df = parquet(3).select(col("n"), col("n").cast("string").as("s"),
      col("n").cast("decimal(38,0)").as("dec"))
    val r = checkOnePass(df, Seq(count(lit(1)), count(col("n")), max(col("s")), min(col("s")),
      sum(col("dec")), sum(col("n")), min(col("n"))))
    assert(r.getLong(0) == 1000L && r.getLong(1) == 0L && (2 until 7).forall(r.isNullAt))
  }

  test("8 or more partitions; min/max over string, date and decimal") {
    val df = rows(9)
    assert(df.rdd.getNumPartitions >= 8, df.rdd.getNumPartitions)
    val r = checkOnePass(df, aggs)
    assert(r.getLong(0) == 1000L && r.getString(3) == "k0000" && r.getString(4) == "k0999")
    // the plain aggregate this replaces does shuffle
    val plain = df.agg(aggs.head, aggs.tail: _*)
    plain.head()
    assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("the decimal(38,0) checksum equals the plain digest aggregate") {
    for (df <- Seq(rows(9), parquet(2), parquet(1).where(col("id") < 0),
        spark.sparkContext.parallelize(Seq((1L, "a"), (2L, null)), 8).toDF("k", "v"))) {
      val fp = Fingerprint.aggregates(df)
      // oracle: the digest's two aggregates as a plain Spark aggregation
      val want = Fingerprint.TableDigest.fromRow(df.agg(fp.head, fp.tail: _*).head())
      assert(Fingerprint.TableDigest.fromRow(checkOnePass(df, fp)) == want)
      assert(Fingerprint.digest(df) == want)
      assert(checkOnePass(df, fp).schema("chk").dataType == DecimalType(38, 0))
    }
  }
}
