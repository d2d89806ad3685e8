package graft

import org.apache.spark.sql.SparkSession

/** The one session builder and the one scoped conf change. `WordCount`
  * keeps its own `getOrCreate`: as the CLI it honours spark-submit's conf. */
object Sessions {
  /** Local cores and shuffle partitions: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]`, `cpus` shuffle partitions, UTC, UI off, plus `extra`. */
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val spark = extra.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // pinned zone: date bucketing does the same work on every machine
      .config("spark.sql.session.timeZone", "UTC")
      // NOT dead config on micros fixtures (it is a no-op there): this flag
      // is what makes a TIMESTAMP(NANOS) fixture regen READABLE at all —
      // Spark 4 otherwise rejects the parquet type, while with the flag it
      // reads as int64 and Tables.normalizeTs routes it adaptively.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` with `pairs` set, then restores a key that was set before
    * and unsets one that was not. "Set" is read from `getAll`, not from
    * `getOption`, which returns a registered key's default: restoring that
    * would make the default explicit and, for a parquet key, change the
    * `Tables.schemaOf` memo key. */
  def withConf[T](spark: SparkSession, pairs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val saved = pairs.map { case (k, _) => k -> set.get(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
