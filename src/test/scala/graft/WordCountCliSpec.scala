package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.functions.FirstCharPartitionExpr
import graft.plans.{MergeCountExec, OneShuffleCount, SortCountExec}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** G33: end-to-end test of the [[WordCount]] CLI — the reference's
  * `hadoop jar wc.jar WordCount input output [n]` invocation replayed
  * through spark-submit semantics: raw text in, `key\tcount` TSV part
  * files out, concatenating (in part order) to a global sort; the
  * golden clam/cram example is byte-compared. */
class WordCountCliSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  // the CLI's getOrCreate() must find the shared test session
  lazy val spark = SparkTestSession.spark
  import SparkTestSession.partLines

  test("CLI replays the reference's clam/cram example byte-for-byte") {
    spark // force session init before main()'s getOrCreate
    val in = SparkTestSession.tempDir("graft-cli-in")
    val out = SparkTestSession.tempDir("graft-cli-out").resolve("run").toString
    Files.write(in.resolve("input.txt"),
      "How can a clam cram in a clean cream can?".getBytes)
    WordCount.main(Array(in.toString, out, "3", "7"))
    val parts = partLines(out)
    // reference/report.md:77-90 — the published 3-gram output
    assert(parts.flatten == Seq(
      "a clam cram\t1", "a clean cream\t1", "can a clam\t1", "clam cram in\t1",
      "clean cream can\t1", "cram in a\t1", "how can a\t1", "in a clean\t1"),
      "concatenated parts must equal the reference's sorted output")
    // and the layout is real: keys spread over first-char buckets
    // (a/c in low buckets, h/i higher), each part internally sorted
    // (partition-level contract, not just the concat)
    assert(parts.count(_.nonEmpty) >= 2)
    parts.foreach(p => assert(p == p.sorted))
  }

  test("n-grams span line breaks within a file (reference mapper queue)") {
    spark
    val in = SparkTestSession.tempDir("graft-cli-inml")
    val out = SparkTestSession.tempDir("graft-cli-outml").resolve("run").toString
    // reference/WordCount.java:68-91 keeps a queue across readLine()
    // calls so "b c" exists even though b and c sit on different lines
    Files.write(in.resolve("book.txt"), "a b\nc d".getBytes)
    WordCount.main(Array(in.toString, out, "2"))
    assert(partLines(out).flatten == Seq("a b\t1", "b c\t1", "c d\t1"),
      "cross-newline bigram 'b c' must be counted — split document scope")
  }

  test("malformed n falls back to 3 like the reference CLI") {
    spark
    val in = SparkTestSession.tempDir("graft-cli-inbad")
    val out = SparkTestSession.tempDir("graft-cli-outbad").resolve("run").toString
    Files.write(in.resolve("input.txt"), "x y z w".getBytes)
    // reference/WordCount.java:129-136 catches the parse failure → n=3
    WordCount.main(Array(in.toString, out, "not-a-number"))
    assert(partLines(out).flatten == Seq("x y z\t1", "y z w\t1"))
  }

  /** Part files of a CLI run over `in`, with the scan's splits capped at
    * `splitBytes` when given, and the run's [[Trace]]. */
  private def run(in: java.nio.file.Path, args: String*)(
      splitBytes: Option[Long] = None): (Seq[Seq[String]], Trace.Run) = {
    val dir = SparkTestSession.tempDir("graft-cli-out")
    val out = dir.resolve("run").toString
    val conf = splitBytes.map("spark.sql.files.maxPartitionBytes" -> _.toString).toSeq
    try {
      val (_, trace) = Trace(spark)(Sessions.withConf(spark, conf: _*)(
        WordCount.main((Seq(in.toString, out) ++ args).toArray)))
      (partLines(out), trace)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  // lines of 0-4 tokens, with empty, token-free and CR-ended lines, and a
  // token-free stretch of about 800 bytes that a 97-byte split's lookahead
  // must cross several later splits to get past
  private lazy val splitInput = {
    val rnd = new scala.util.Random(42)
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val lines = (1 to 2400).map { i =>
      if (i > 1200 && i <= 1600) Seq("", "-- ...")(i % 2)
      else rnd.nextInt(8) match {
        case 0 => ""
        case 1 => "!! -"
        case 2 => (1 to rnd.nextInt(5)).map(_ => words(rnd.nextInt(words.length))).mkString(" ") + "\r"
        case _ => (1 to rnd.nextInt(5)).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
      }
    }
    val in = SparkTestSession.tempDir("graft-cli-insplit")
    Files.write(in.resolve("big.txt"), lines.mkString("\n").getBytes("UTF-8"))
    Files.write(in.resolve("small file.txt"), "alpha beta gamma".getBytes("UTF-8"))
    in
  }

  for (n <- Seq(1, 3, 5)) test(s"n=$n: 97-byte splits give the default run's part files byte-for-byte") {
    spark
    val (plain, _) = run(splitInput, n.toString, "7")()
    val (split, trace) = run(splitInput, n.toString, "7")(Some(97))
    assert(split == plain, "split run must reproduce the default run's part files byte-for-byte")
    // and both count what one whole-file document per file counts, as do
    // 64-byte documents, each opening with its predecessor's tail
    def counts(docs: org.apache.spark.sql.DataFrame) =
      operators.TextPipeline.ngramCountUnsorted(docs, "value", n)
        .collect().map(r => s"${r.getString(0)}\t${r.getLong(1)}").sorted.toSeq
    val wholeFiles = counts(spark.read.option("wholetext", "true").text(splitInput.toString))
    assert(plain.flatten == wholeFiles && wholeFiles.nonEmpty)
    for (conf <- Seq(Nil, Seq("spark.sql.files.maxPartitionBytes" -> "97"))) {
      val smallDocs = Sessions.withConf(spark, conf: _*)(
        counts(WordCount.splitDocs(spark, splitInput.toString, n, docBytes = 64)))
      assert(smallDocs == wholeFiles, s"64-byte documents under $conf")
    }
    // the equality is not vacuous: the scan really ran as many splits
    val scanTasks = trace.stages.filter(_.inputBytes > 0).map(_.tasks).max
    assert(scanTasks > 5, s"expected many scan tasks, got $scanTasks")
  }

  test("n=3 plans the reference's one MapReduce job: one placement shuffle, two stages") {
    spark
    val (_, trace) = run(splitInput, "3", "7")()
    assert(trace.stages.size == 2 && trace.jobs == 2, trace.json)
    val df = WordCount.lines(spark, splitInput.toString, 3, 7)
    df.collect() // finalizes this QueryExecution's adaptive plan
    val plan = df.queryExecution.executedPlan
    val keys = collect(plan) { case s: ShuffleExchangeExec => s.outputPartitioning }
    assert(keys match {
      case Seq(HashPartitioning(Seq(e), 7)) =>
        e.find { case FirstCharPartitionExpr(a: Attribute, 7) => a.name == "ngram"; case _ => false }.isDefined
      case _ => false
    }, s"one exchange keyed by the placement expression: $plan")
    // the map side sorts and combines in one operator; the one sort left is the reducer's
    assert(collect(plan) { case s: SortCountExec => s }.size == 1, plan)
    assert(collect(plan) { case s: SortExec => s }.size == 1, plan)
    assert(collect(plan) { case m: MergeCountExec => m }.size == 1, plan)
    assert(collect(plan) { case a: BaseAggregateExec => a }.isEmpty, plan)
  }

  /** The `part-*` files of `dir` in part order, as bytes. */
  private def partBytes(dir: java.nio.file.Path): Seq[Seq[Byte]] =
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
      .map(p => Files.readAllBytes(p).toSeq)

  for (n <- Seq(1, 3)) test(s"n=$n: part files do not depend on the plan") {
    spark
    val settings = Seq(
      "AQE off" -> ("spark.sql.adaptive.enabled" -> "false"),
      "1 shuffle partition" -> ("spark.sql.shuffle.partitions" -> "1"),
      "200 shuffle partitions" -> ("spark.sql.shuffle.partitions" -> "200"),
      "no broadcast" -> ("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
      "no whole-stage codegen" -> ("spark.sql.codegen.wholeStage" -> "false"),
      "redundant sorts kept" -> ("spark.sql.execution.removeRedundantSorts" -> "false"))
    val dir = SparkTestSession.tempDir("graft-cli-plan")
    try for (((name, conf), i) <- settings.zipWithIndex) Sessions.withConf(spark, conf) {
      val (cli, without) = (dir.resolve(s"cli-$i"), dir.resolve(s"without-$i"))
      val (_, oneShuffle) = Trace(spark)(WordCount.main(Array(splitInput.toString, cli.toString, n.toString, "7")))
      OneShuffleCount.install(spark, on = false)
      val (_, twoShuffles) = try Trace(spark)(
        WordCount.lines(spark, splitInput.toString, n, 7).write.text(without.toString))
      finally OneShuffleCount.install(spark)
      val parts = partBytes(cli)
      assert(parts.size > 1 && parts == partBytes(without),
        s"$name: part files differ with the strategy removed")
      assert(oneShuffle.stages.size == 2 && twoShuffles.stages.size == 3,
        s"$name: ${oneShuffle.json} with the strategy, ${twoShuffles.json} without")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  for (n <- Seq(1, 3)) test(s"n=$n: many map-side runs per task give the default run's part files") {
    spark
    val dir = SparkTestSession.tempDir("graft-cli-runs")
    def job(out: String): Trace.Run =
      Trace(spark)(WordCount.main(Array(splitInput.toString, dir.resolve(out).toString, n.toString, "7")))._2
    val was = SortCountExec.runBytes
    try {
      val plain = job("plain")
      SortCountExec.runBytes = 1 // each run ends once its first allocation is full
      val runs = job("runs")
      val parts = partBytes(dir.resolve("runs"))
      assert(parts.size > 1 && parts == partBytes(dir.resolve("plain")),
        "part files differ when every map task emits many runs")
      // not vacuous: a key leaves a map task once per run it is in, so one
      // reduce task read more records than any part has lines, and more
      // than with one run per task
      val lines = parts.map(_.count(_ == '\n')).max
      assert(runs.total.maxShuffleRecords > lines, runs.json)
      assert(runs.total.maxShuffleRecords > plain.total.maxShuffleRecords, s"${plain.json} ${runs.json}")
    } finally {
      SortCountExec.runBytes = was
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("non-UTF-8 bytes are tolerated under small splits") {
    spark
    // spark.read.text keeps malformed bytes, which normalization strips
    // like any other non-alphanumeric: a Latin-1 'café' must not abort
    // the run, and a split run counts what the default run counts
    val in = SparkTestSession.tempDir("graft-cli-inlatin")
    val latin1Line = "café au lait ".getBytes("ISO-8859-1") // 0xE9 = malformed in UTF-8
    val body = new java.io.ByteArrayOutputStream()
    (1 to 500).foreach { _ => body.write(latin1Line); body.write('\n') }
    Files.write(in.resolve("latin.txt"), body.toByteArray)
    val (split, _) = run(in, "2")(Some(1024))
    // é → stripped by normalization, leaving 'caf'
    assert(split.flatten.exists(_.startsWith("caf au\t")), s"got: ${split.flatten.take(5)}")
    assert(split == run(in, "2")()._1)
  }

  test("a gzip file, one unsplittable split, gives its plain twin's part files") {
    spark
    val plainIn = SparkTestSession.tempDir("graft-cli-inplain")
    val gzIn = SparkTestSession.tempDir("graft-cli-ingz")
    val text = Files.readAllBytes(splitInput.resolve("big.txt"))
    Files.write(plainIn.resolve("big.txt"), text)
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gzIn.resolve("big.txt.gz")))
    try gz.write(text) finally gz.close()
    for (n <- Seq(1, 3)) {
      val (plain, _) = run(plainIn, n.toString)(Some(97))
      val (zipped, trace) = run(gzIn, n.toString)(Some(97))
      assert(zipped == plain, s"n=$n: gzip input must count what its plain twin counts")
      assert(trace.stages.filter(_.inputBytes > 0).map(_.tasks).max == 1)
    }
  }

  test("the removed --max-file-bytes flag fails before any write") {
    spark
    val in = SparkTestSession.tempDir("graft-cli-inflag")
    Files.write(in.resolve("input.txt"), "x y z w".getBytes)
    val out = SparkTestSession.tempDir("graft-cli-outflag").resolve("run")
    // the flag shifts the positionals: output would be <in>, which the
    // sink's overwrite mode would delete. Both spellings fail first: the
    // `=` form reads the flag as a missing input path, the spaced form
    // parses <out> as numParts
    for ((args, thrown) <- Seq(
        Seq("--max-file-bytes=8192", in.toString, out.toString, "3") ->
          classOf[org.apache.spark.sql.AnalysisException],
        Seq("--max-file-bytes", "8192", in.toString, out.toString, "3") ->
          classOf[NumberFormatException])) {
      assert(thrown.isInstance(intercept[Exception](WordCount.main(args.toArray))))
      assert(Files.readAllLines(in.resolve("input.txt")).asScala == Seq("x y z w"))
      assert(Files.list(in).count() == 1 && !Files.exists(out) && !Files.exists(Paths.get("8192")))
    }
  }

  test("CLI n=1 word-count fast path with default partitioning") {
    spark
    val in = SparkTestSession.tempDir("graft-cli-in1")
    val out = SparkTestSession.tempDir("graft-cli-out1").resolve("run").toString
    Files.write(in.resolve("a.txt"), "b a a\nc b a".getBytes)
    WordCount.main(Array(in.toString, out, "1"))
    assert(partLines(out).flatten == Seq("a\t3", "b\t2", "c\t1"))
  }
}
