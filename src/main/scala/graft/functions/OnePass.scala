package graft.functions

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** Global aggregates read on the driver in ONE Spark job.
  *
  * `df.agg(...).head()` plans a partial aggregate, an `Exchange` and a
  * final aggregate; under AQE that is two jobs (the shuffle-map stage,
  * then the final aggregate over one row per partition), and the driver
  * waits on the stage boundary between them. Here the aggregates ride
  * `df` as an [[Observation]] and one `noop` write drives the scan: each
  * task merges its rows into a partial buffer, a result task's buffer is
  * merged into the observation once, and nothing is shuffled. The result
  * equals `df.agg(aggs: _*).head()`, zero rows and zero partitions
  * included (an unexecuted scan reports the aggregates' empty values).
  *
  * The same mechanism lets a write carry a digest or a row count without
  * a job of its own ([[Fingerprint.observed]], the catalog's commit
  * metrics); [[result]] is the one way graft reads any observation. */
object OnePass {

  /** `aggs` (at least one) over `df`, as one row in `aggs` order, in one
    * Spark job. */
  def aggregate(df: DataFrame, aggs: Seq[Column]): Row = {
    val obs = Observation()
    df.observe(obs, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
    result(obs)
  }

  /** The row an observation collected, once the action over the observed
    * frame has run. Spark's listener bus delivers it after the action
    * returns; a row not delivered within a minute throws, where
    * `Observation.get` would block forever. */
  def result(obs: Observation): Row = Await.result(obs.future, 60.seconds)

  /** `row`'s fields by name (an observation's metrics as a map). */
  def values(row: Row): Map[String, Any] =
    row.getValuesMap[Any](row.schema.fieldNames.toIndexedSeq)
}
