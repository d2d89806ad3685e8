package graft

import graft.functions.{NGramsEval, TextFns}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Native [[graft.functions.NGramsExpr]] vs the HOF fallback chain: the
  * two forms must agree byte-for-byte on any input (SURVEY.md §4.3 item
  * 1 — the native expression ships behind the same query names, so
  * equivalence here is what keeps CORRECTNESS green). */
class NGramsExprSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Direct interpreted eval, bypassing Spark plans. */
  private def evalNative(s: String, n: Int): Seq[String] = {
    val arr = NGramsEval.eval(UTF8String.fromString(s), n)
    (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
  }

  /** Reference-semantics model: regex strip, lowercase, \s+ split. */
  private def model(s: String, n: Int): Seq[String] = {
    val toks = s.replaceAll("[^a-zA-Z0-9\\s]+", "").toLowerCase
      .split("\\s+").filter(_.nonEmpty).toSeq
    if (toks.length < n) Seq.empty
    else toks.sliding(n).map(_.mkString(" ")).toSeq
  }

  test("golden: clam/cram example through the native expression") {
    assert(evalNative("How can a clam cram in a clean cream can?", 3) == Seq(
      "how can a", "can a clam", "a clam cram", "clam cram in",
      "cram in a", "in a clean", "a clean cream", "clean cream can"))
  }

  test("edge cases: empty, all-stripped, <n tokens, mid-token punctuation, unicode") {
    assert(evalNative("", 1).isEmpty)
    assert(evalNative("!!! ??? ---", 1).isEmpty)
    assert(evalNative("just two", 3).isEmpty)
    assert(evalNative("it's O'Neill don't", 1) == Seq("its", "oneill", "dont"))
    assert(evalNative("Héllo wörld", 1) == Seq("hllo", "wrld")) // non-ASCII stripped
    assert(evalNative("a\tb\ncd\fe\rf", 2) ==
      Seq("a b", "b c", "c d", "d e", "e f")) // all \s delimiters
    assert(evalNative("汉字 mixed 汉 text", 1) == Seq("mixed", "text"))
  }

  test("a document's n-grams are views into one byte array") {
    for (n <- Seq(1, 2, 3)) {
      val grams = NGramsEval.eval(UTF8String.fromString("The cat, the HAT and the bat."), n)
      val bases = (0 until grams.numElements()).map(grams.getUTF8String(_).getBaseObject)
      assert(bases.size > 1 && bases.forall(_ eq bases.head), s"n=$n")
    }
  }

  test("property: native eval == JVM reference model on arbitrary strings") {
    val weird = Gen.listOf(Gen.frequency(
      5 -> Gen.alphaNumChar, 3 -> Gen.const(' '), 1 -> Gen.oneOf('\t', '\n', '\r'),
      1 -> Gen.oneOf('!', ',', '\'', 'é', '字', '~', '0'))).map(_.mkString)
    val prop = Prop.forAll(weird, Gen.choose(1, 6)) { (s: String, n: Int) =>
      evalNative(s, n) == model(s, n)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("plans agree: native expression == HOF chain == codegen path on real docs") {
    val docs = sources.Tables.documents(spark, SparkTestSession.sf0001)
    for (n <- Seq(1, 3, 5)) {
      val native = docs.select($"doc_id", TextFns.ngrams($"text", n).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      val hof = docs.select($"doc_id", TextFns.ngramsHof($"text", n).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      assert(native == hof, s"n=$n")
      // interpreted (wholeStageCodegen off) must equal the codegen'd run
      Sessions.withConf(spark, "spark.sql.codegen.wholeStage" -> "false") {
        val interp = docs.select($"doc_id", TextFns.ngrams($"text", n).as("g"))
          .as[(Long, Seq[String])].collect().toMap
        assert(interp == native, s"n=$n interpreted/codegen divergence")
      }
    }
  }

  test("null input yields null, not a crash") {
    val got = Seq[(java.lang.Long, String)]((1L, null), (2L, "a b c"))
      .toDF("id", "s").select($"id", TextFns.ngrams($"s", 2).as("g"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    assert(got(1L).isEmpty && got(2L).contains(Seq("a b", "b c")))
  }
}
