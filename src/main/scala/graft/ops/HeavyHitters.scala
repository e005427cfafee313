package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{MgSummary, MisraGriesAgg, OnePass}

/** EXACT distributed heavy hitters in two scans — the composition that
  * turns the Misra–Gries SKETCH into an exact answer:
  *
  *   1. One scan folds every partition into an O(k) [[MisraGriesAgg]]
  *      summary (map-side combinable; the merged sketch also carries the
  *      exact stream length n). The frequent-items invariant guarantees
  *      every item with true count > n/k SURVIVES a capacity-(k-1)
  *      sketch — the candidate set can over-approximate but never miss.
  *   2. One scan counts the (at most k-1) candidates exactly — the
  *      corpus filters by a broadcast-literal IN over the candidate set,
  *      so the second pass aggregates a thin sliver with map-side
  *      combine — and the threshold `cnt * k > n` keeps exactly the true
  *      heavy hitters.
  *
  * The result is therefore EXACTLY `{item : count(item) * k > n}` — a
  * set a SQL engine can state independently — while the distributed
  * state is O(k) per partition instead of O(distinct items): the
  * `groupBy(item).count().filter(...)` equivalent shuffles the full
  * vocabulary (billions of keys in a crawl corpus); this shuffles k
  * counters per partition plus one sliver aggregation.
  *
  * NULL DISCIPLINE: a null item (or group) is a legitimate stream value
  * and meets the same contract. Spark's typed aggregation silently skips
  * null inputs (they would vanish from both n and the candidate set), so
  * values are ESCAPED into a null-free string domain before the sketch —
  * `\u0000` for null, `\u0001 + value` otherwise — which also keeps pass
  * 2's IN literals and equi-joins exact without null-safe special cases.
  * Outputs decode back at the end.
  */
object HeavyHitters {

  /** Candidate-set ceiling: the sketch output (and the literal IN list
    * the second pass builds from it) lives on the driver. */
  val MaxK = 100000

  private val NullTok = "\u0000"

  /** Escape into the null-free domain: null -> NullTok, v -> '\u0001'+v.
    * Injective (the prefix disambiguates a genuine "\u0000" value), so
    * escaped-domain counts equal original-domain counts. */
  private def esc(c: Column): Column =
    when(c.isNull, lit(NullTok))
      .otherwise(concat(lit("\u0001"), c.cast("string")))

  private def unesc(c: Column): Column =
    when(c === lit(NullTok), lit(null).cast("string"))
      .otherwise(substring(c, 2, Int.MaxValue))

  /** Items of `itemCol` whose count strictly exceeds n/k, with their
    * exact counts: (item, cnt), descending. */
  def exact(df: DataFrame, itemCol: Column, k: Int): DataFrame = {
    require(k > 1 && k <= MaxK, s"k must be in [2, $MaxK], got $k")
    val spark = df.sparkSession
    import spark.implicits._
    // the escape costs one concat per stream item — skip it entirely
    // when the column PROVABLY carries no nulls (the common tokenized
    // corpus: at 100 TB the stream scan dominates and the escape would
    // be pure overhead)
    val nullable = df.select(itemCol.cast("string")).schema.head.nullable
    val raw = itemCol.cast("string")
    val items = df.select((if (nullable) esc(raw) else raw).as("item")).as[String]
    // pass 1: sketch + exact n in ONE row on the driver (O(k) by the
    // aggregate's construction — never vocabulary-sized)
    val sketch = udaf(new MisraGriesAgg[String](k - 1, identity), org.apache.spark.sql.Encoders.STRING)
    val r = OnePass.aggregate(items.toDF("item"), Seq(sketch(col("item")))).getStruct(0)
    val s = MgSummary(r.getLong(0), r.getMap[String, Long](1).toMap)
    val cands = s.items.keys.toSeq.sorted
    if (cands.isEmpty)
      return items.toDF("item").limit(0)
        .select(col("item"), lit(0L).as("cnt"))
    // pass 2: exact counts of the candidate sliver only. Small candidate
    // sets ride an IN literal (pushes to the scan as a filter); large
    // ones a broadcast semi-join (an IN over 10^5 strings bloats the
    // plan and codegen instead of helping)
    val sliver =
      if (cands.length <= 1024) items.toDF("item").where(col("item").isin(cands: _*))
      else {
        val candDf = broadcast(items.sparkSession
          .createDataset(cands)(org.apache.spark.sql.Encoders.STRING).toDF("item"))
        items.toDF("item").join(candDf, Seq("item"), "left_semi")
      }
    sliver
      .groupBy("item")
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * k > s.n)
      .select((if (nullable) unesc(col("item")) else col("item")).as("item"),
        col("cnt"))
      .orderBy(col("cnt").desc, col("item"))
  }

  /** PER-GROUP exact heavy hitters — items exceeding a 1/k share of
    * THEIR group's stream: (group, item, cnt) with exact counts,
    * exactly `{(g, i) : count_g(i) * k > n_g}`.
    *
    * Same two-scan discipline, sharded by group: pass 1 folds one
    * [[MisraGriesAgg]] PER GROUP (Spark plans the typed aggregate with
    * partial merge, so per-partition state is O(groups-present × k) and
    * the shuffle moves serialized sketches, never the token stream);
    * the per-group frequent-items guarantee and the sketch's exact
    * per-group n make pass 2's threshold exact. Pass 2 counts the
    * candidate (group, item) sliver — a semi-join keyed on both columns
    * (AQE broadcasts when the candidate set fits) — and filters by the
    * group's own threshold. The SQL equivalent shuffles the full
    * (group, item) vocabulary; this shuffles k counters per
    * (partition, group). Null groups and null items participate via the
    * same escaping. */
  def exactPerGroup(df: DataFrame, groupCol: Column, itemCol: Column,
      k: Int): DataFrame = {
    require(k > 1 && k <= MaxK, s"k must be in [2, $MaxK], got $k")
    val spark = df.sparkSession
    import spark.implicits._
    // same nullability guard as [[exact]]: escape only columns that can
    // actually carry nulls
    val rawG = groupCol.cast("string")
    val rawI = itemCol.cast("string")
    val Seq(gNullable, iNullable) =
      df.select(rawG, rawI).schema.map(_.nullable).toSeq
    val pairs = df.select(
      (if (gNullable) esc(rawG) else rawG).as("grp"),
      (if (iNullable) esc(rawI) else rawI).as("item")).as[(String, String)]
    val sketches = pairs.groupByKey(_._1)
      .agg(new MisraGriesAgg[(String, String)](k - 1, _._2).toColumn.name("s"))
      .toDF("grp", "s")
    val cands = sketches.select(col("grp"), col("s.n").as("n"),
      explode(map_keys(col("s.items"))).as("item"))
    pairs.toDF("grp", "item")
      .join(cands.select("grp", "item"), Seq("grp", "item"), "left_semi")
      .groupBy("grp", "item")
      .agg(count(lit(1)).as("cnt"))
      .join(sketches.select(col("grp"), col("s.n").as("n")), Seq("grp"))
      .where(col("cnt") * k > col("n"))
      .select((if (gNullable) unesc(col("grp")) else col("grp")).as("grp"),
        (if (iNullable) unesc(col("item")) else col("item")).as("item"),
        col("cnt"))
      .orderBy(col("grp"), col("cnt").desc, col("item"))
  }
}
