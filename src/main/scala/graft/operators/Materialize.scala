package graft.operators

import scala.concurrent.{Await, duration}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, functions}

/** The engine's one eager materialization, for a table a plan reads more
  * than once or a loop state whose lineage must be cut: a
  * `localCheckpoint` into executor block storage. The scalars a caller
  * sizes or filters by ride the same job as observed metrics, the way
  * the reference's counters come out of its one MapReduce pass. */
object Materialize {
  def apply(df: DataFrame): DataFrame = run(df, Nil)._1

  /** `df` materialized, with `metrics` (aliased aggregates) evaluated
    * over its rows in that job: count 0 and nulls over an empty input.
    * Only order-independent aggregates (counts, long and decimal sums,
    * min, max) equal what a separate `agg` would give. */
  def apply(df: DataFrame, metric: Column, more: Column*): (DataFrame, Row) =
    run(df, metric +: more)

  /** Metric `name` of `m` as a literal of its own type. */
  def lit(m: Row, name: String): Column =
    functions.lit(m.getAs[Any](name)).cast(m.schema(name).dataType)

  private def run(df: DataFrame, metrics: Seq[Column]): (DataFrame, Row) = {
    val obs = Observation()
    val ck = (if (metrics.isEmpty) df else df.observe(obs, metrics.head, metrics.tail: _*))
      .localCheckpoint()
    (ck, if (metrics.isEmpty) Row.empty else Await.result(obs.future, duration.Duration.Inf))
  }
}
