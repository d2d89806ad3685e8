package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Tables' schema rule: each table's parquet schema is inferred once per
  * graft.Memo key — input files' (path, size, mtime) plus the session's
  * explicitly set parquet confs — so warm loads start no Spark job, while
  * an in-place regen or a parquet-conf flip still sees what a plain
  * `spark.read.parquet` would. */
class TablesSchemaSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("a warm load on a fresh session and a warm registerViews start no Spark job") {
    val d = SparkTestSession.sf0001
    Tables(spark.newSession(), d, "events")
    assert(Trace(spark)(Tables(spark.newSession(), d, "events"))._2.jobs === 0,
      "a warm load must not re-run parquet schema inference")
    Tables.registerViews(spark, d)
    assert(Trace(spark)(Tables.registerViews(spark, d))._2.jobs === 0,
      "a warm registerViews must not re-run parquet schema inference")
  }

  test("agg_pushdown_stats leaves a session's confs as it found them: a warm reload starts no job") {
    // the query scopes two conf flips; restoring a default it never had
    // would make it explicit, change the parquet-conf part of the schema
    // key and re-infer every table once more
    val d = SparkTestSession.sf0001
    val s = spark.newSession()
    Tables.names.foreach(Tables(s, d, _))
    val before = s.conf.getAll.toSet
    SparkEntry.queries("agg_pushdown_stats")(s, d)
    assert(Trace(spark)(Tables.names.foreach(Tables(s, d, _)))._2.jobs === 0,
      "a warm reload after agg_pushdown_stats must not re-run parquet schema inference")
    val after = s.conf.getAll.toSet
    assert((after diff before) ++ (before diff after) === Set.empty, "confs the query left changed")
  }

  test("a warm load inside the aggregate-pushdown window starts no job") {
    // aggregatePushdown steers execution, never inference, so it is not
    // part of the schema key: the window's loads hit the warm schemas. A
    // private copy of the tables is an input version no earlier load in
    // this JVM has seen inside the window.
    val d = SparkTestSession.tempDir("schema-pushdown").toString
    Tables.names.foreach(n => Files.copy(
      Paths.get(s"${SparkTestSession.sf0001}/$n.parquet"), Paths.get(s"$d/$n.parquet")))
    val s = spark.newSession()
    Tables.names.foreach(Tables(s, d, _))
    assert(Trace(spark)(Tables.withAggPushdown(s)(Tables.lineitem(s, d)))._2.jobs === 0,
      "a warm load under aggregate pushdown must not re-run parquet schema inference")
  }

  test("a parquet file rewritten in place with an added column loads the new column") {
    import scala.jdk.CollectionConverters._
    val dir = SparkTestSession.tempDir("schema-regen")
    def write(df: DataFrame): Unit = {
      val tmp = dir.resolve("tmp")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve("t.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    write(spark.range(3).toDF("a"))
    assert(Tables(spark, dir.toString, "t").columns.toSeq === Seq("a"))
    write(spark.range(3).select(col("id").as("a"), (col("id") * 2).as("b")))
    val after = Tables(spark, dir.toString, "t")
    assert(after.columns.toSeq === Seq("a", "b"), "stale schema served after an in-place regen")
    assert(after.orderBy("a").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, 0L), (1L, 2L), (2L, 4L)))
  }

  test("a schema memoized under one parquet conf is not served under another") {
    val dir = SparkTestSession.tempDir("schema-nanos").toString
    val file = s"$dir/events.parquet"
    EventsEncodingSpec.writeNanosFile(file)
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    Sessions.withConf(spark, nanosKey -> "true") {
      assert(Tables.events(spark, dir).schema("ts").dataType === TimestampType)
    }
    // without the legacy flag Spark 4 rejects TIMESTAMP(NANOS): the load
    // must fail exactly as an unmemoized read does, not get the int64
    // schema memoized above
    Sessions.withConf(spark, nanosKey -> "false") {
      val plain = intercept[Throwable](spark.read.parquet(file).schema)
      val loaded = intercept[Throwable](Tables.events(spark, dir))
      assert(loaded.getClass === plain.getClass)
      assert(loaded.getMessage === plain.getMessage)
    }
  }
}
