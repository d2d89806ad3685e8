package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.operators.TextPipeline
import graft.sources.Sinks
import org.scalatest.funsuite.AnyFunSuite

/** G24 sink tests: TSV reference fidelity (key\tvalue lines; range
  * partition + in-partition sort ⇒ concatenated parts globally sorted,
  * reference/WordCount.java:158 + report.md:139-145) and parquet
  * round-trip with partition pruning layout. */
class SinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(name: String) =
    SparkTestSession.tempDir(s"graft-$name").resolve("out").toString

  import SparkTestSession.partLines

  test("TSV sink: golden clam/cram output, tab-separated, globally sorted") {
    val counts = TextPipeline.ngramCount(
      Seq("How can a clam cram in a clean cream can?").toDF("text"), "text", 3)
    val dir = tmp("tsv")
    Sinks.writeSortedTsv(counts, dir, "ngram", 2)
    val all = partLines(dir).flatten
    // the reference's exact part-file content (report.md:77-90)
    assert(all == Seq(
      "a clam cram\t1", "a clean cream\t1", "can a clam\t1", "clam cram in\t1",
      "clean cream can\t1", "cram in a\t1", "how can a\t1", "in a clean\t1"))
  }

  test("sorted TSV: parts hold disjoint ordered ranges (reference layout)") {
    val counts = TextPipeline.ngramCount(
      sources.Tables.documents(spark, SparkTestSession.sf0001), "text", 3)
    val dir = tmp("ranges")
    Sinks.writeSortedTsv(counts, dir, "ngram", 4)
    val parts = partLines(dir).filter(_.nonEmpty)
    assert(parts.size > 1)
    parts.foreach(p => assert(p == p.sorted, "within-part sort"))
    val keys = parts.map(_.map(_.split('\t')(0)))
    keys.sliding(2).foreach {
      case Seq(a, b) => assert(a.last <= b.head, "cross-part ranges overlap")
      case _ =>
    }
    // concatenation in part order == the fully sorted output
    assert(keys.flatten == keys.flatten.sorted)
  }

  test("parquet sink: round-trip preserves rows; partitionBy lays out pruning dirs") {
    val docs = sources.Tables.documents(spark, SparkTestSession.sf0001)
      .select("doc_id", "lang", "n_chars")
    val dir = tmp("parquet")
    Sinks.writeParquet(docs, dir, partitionBy = Seq("lang"))
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    val langDirs = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("lang=")).toSet
    assert(langDirs == Set("lang=en", "lang=fr", "lang=es", "lang=zh", "lang=de"))
    // partition filter must prune to one directory's rows
    val en = back.filter($"lang" === "en").count()
    val enDirect = docs.filter($"lang" === "en").count()
    assert(en == enDirect)
  }

  test("TSV round-trip: text source reads back exactly what the sink wrote") {
    // the reference's full I/O contract: text in, text out — a job's
    // TSV output must be consumable as the next job's input unchanged
    val counts = TextPipeline.ngramCount(
      sources.Tables.documents(spark, SparkTestSession.sf0001), "text", 3)
    val dir = tmp("roundtrip")
    Sinks.writeSortedTsv(counts, dir, "ngram", 4)
    val back = spark.read
      .option("sep", "\t")
      .schema("ngram STRING, cnt LONG")
      .csv(dir)
    val a = counts.as[(String, Long)].collect().sortBy(identity).toSeq
    val b = back.as[(String, Long)].collect().sortBy(identity).toSeq
    assert(a == b)
  }

  test("compaction: many small files -> sized file count, rows and values intact") {
    val docs = sources.Tables.documents(spark, SparkTestSession.sf001)
      .select("doc_id", "lang", "text")
    val dir = tmp("compact")
    // simulate a streaming sink's debris: 64 tiny files
    docs.repartition(64).write.parquet(dir)
    val before = Files.list(Paths.get(dir)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(before == 64)
    val want = docs.collect().map(_.toString).sorted.toSeq
    val n = Sinks.compactParquet(spark, dir, targetFileBytes = 64L << 10)
    val after = Files.list(Paths.get(dir)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(after == n && n < 64 && n >= 1, s"got $after files, expected $n")
    val got = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    assert(got == want)
    assert(!Files.exists(Paths.get(dir + "._compact_tmp")))
    assert(!Files.exists(Paths.get(dir + "._compact_old")))
  }

  test("X60 schema evolution: appended files with a new column merge; old rows read NULL") {
    import org.apache.spark.sql.functions._
    val dir = tmp("evolve")
    // producer v1: (k, a)
    Seq((1L, "x"), (2L, "y")).toDF("k", "a").write.parquet(dir)
    // producer v2 appends with an extra column (k, a, b)
    Seq((3L, "z", 30L)).toDF("k", "a", "b").write.mode("append").parquet(dir)
    val got = Sinks.readEvolved(spark, dir)
    assert(got.schema.fieldNames.sorted.toSeq == Seq("a", "b", "k"))
    val rows = got.select("k", "a", "b").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(rows == Seq((1L, "x", -1L), (2L, "y", -1L), (3L, "z", 30L)))
    // default read (no merge) keeps ONE footer's schema — the merge is
    // what makes the evolved column visible
    val plain = spark.read.parquet(dir)
    assert(plain.schema.fieldNames.length <= 3)
  }

  test("G24b JSONL sink: one compact object per line; explicit-schema read round-trips") {
    import org.apache.spark.sql.functions._
    val dir = tmp("jsonl")
    val docs = sources.Tables.documents(spark, SparkTestSession.sf0001)
      .select("doc_id", "text", "lang")
    Sinks.writeJsonl(docs, dir)
    // file shape: every line is a self-contained JSON object
    val lines = partLines(dir).flatten
    assert(lines.nonEmpty)
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")),
      "each line must be one JSON object")
    // read back with the declared schema (no inference pass) == source
    val got = Sinks.readJsonl(spark, dir, docs.schema)
    assert(got.schema == docs.schema)
    assert(got.count() == docs.count())
    assert(got.exceptAll(docs).isEmpty && docs.exceptAll(got).isEmpty,
      "JSONL round-trip must preserve every row")
    // PERMISSIVE read: a malformed line yields a null row, not a failure
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "bad.json"),
      "{not json at all".getBytes)
    val withBad = Sinks.readJsonl(spark, dir, docs.schema)
    assert(withBad.count() == docs.count() + 1)
    assert(withBad.filter(col("doc_id").isNull).count() == 1)
  }
}
