package graft

import java.io.ByteArrayOutputStream
import java.net.URI

import scala.collection.mutable.ArrayBuffer

import graft.functions.NGramsEval
import graft.operators.{Physical, TextPipeline}
import graft.plans.OneShuffleCount
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.unsafe.types.UTF8String

/** Drop-in CLI for the reference job (reference/WordCount.java:129-160,
  * `hadoop jar wc.jar WordCount <input> <output> [n]`):
  *
  * {{{
  *   spark-submit --class graft.WordCount graft.jar \
  *     <input-text-dir> <output-dir> [n=3] [numParts=7]
  * }}}
  *
  * Same lifecycle, as the reference's one MapReduce job: text splits in,
  * their lines folded into documents ([[splitDocs]]) → normalize →
  * tokenize → n-gram windows (the codegen'd [[graft.functions.NGramsExpr]],
  * n=1 is the word-count fast path) → the combiner (Spark's partial count)
  * and a map-side sort on the n-gram → one shuffle by first-char range
  * placement ([[Physical.referencePlacement]], bit-faithful to
  * WCPartitioner's integer-division math) → a reduce-side sort and the
  * reducer, which sums each n-gram's partial counts once, in order →
  * `key\tcount` part files, one per bucket, which concatenate to a
  * globally sorted file. [[plans.OneShuffleCount]] plans that shape; the
  * result does not depend on it (without it Spark plans a second shuffle
  * on the n-gram for the final count).
  *
  * The lines are written by the text source as `concat_ws("\t", ngram,
  * cnt)`, byte-compatible with the reference's reducer outputs and with a
  * tab-separated CSV write of the same rows: an n-gram holds only
  * `[a-z0-9 ]`, never starts or ends with a space and is never empty, so
  * CSV's quoting, whitespace-trimming and empty-value rules never fire.
  *
  * G33: a user of the reference switches by replacing the `hadoop jar`
  * invocation; input/output dirs and the optional n keep their meaning
  * (numParts generalizes the reference's hardcoded reducer count).
  */
object WordCount {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: WordCount <input-text-dir> <output-dir> [n=3] [numParts=7]")
    val Array(input, output) = args.take(2)
    // tolerant parse like the reference (reference/WordCount.java:129-136):
    // a malformed n falls back to the default 3 with a warning, so a
    // drop-in invocation with a bad third arg still runs
    val n = if (args.length >= 3) {
      scala.util.Try(args(2).toInt).getOrElse {
        System.err.println(s"WARN: unparsable n '${args(2)}', defaulting to 3")
        3
      }
    } else 3
    val numParts = if (args.length >= 4) args(3).toInt else 7
    require(n >= 1 && numParts >= 1)
    // inherits the submit-time master/conf; standalone local runs get
    // sane defaults without overriding a provided session
    val spark = SparkSession.builder()
      .appName(s"graft-wordcount-n$n")
      .getOrCreate()
    OneShuffleCount.install(spark)
    lines(spark, input, n, numParts).write.mode("overwrite").text(output)
  }

  /** The job's `ngram\tcount` lines: partition i holds first-char bucket
    * i, sorted. */
  private[graft] def lines(spark: SparkSession, input: String, n: Int, numParts: Int): DataFrame =
    TextPipeline.ngramCountUnsorted(splitDocs(spark, input, n), "value", n)
      .repartition(numParts, Physical.referencePlacement(col("ngram"), numParts))
      .sortWithinPartitions("ngram")
      .select(concat_ws("\t", col("ngram"), col("cnt").cast("string")))

  /** `value` documents over the line scan: a split's lines in order,
    * joined by `\n`, so n-grams span line breaks as the reference mapper's
    * queue does (reference/WordCount.java:68-91). A document closes at the
    * first line boundary past `docBytes`, and the split's next document
    * opens with its last n−1 normalized tokens. A split's last document
    * ends with the first n−1 tokens of the lines after the split, read
    * with the scan's own `LineRecordReader`, so they are exactly the lines
    * later splits own. An n-gram is counted once: inside a split by the
    * document where it ends, across splits by the split where it starts.
    * None fits inside n−1 carried tokens.
    *
    * Envelope: `docBytes` bounds task memory; only a single line must fit
    * in one task. `spark.sql.files.maxPartitionBytes` spreads one large
    * file over parallel tasks. A compressed file that cannot split is one
    * split ending at its own size: no lookahead. */
  private[graft] def splitDocs(spark: SparkSession, input: String, n: Int,
                               docBytes: Int = 8 << 20): DataFrame = {
    val hadoopConf = spark.sparkContext.broadcast(
      new SerializableWritable(spark.sessionState.newHadoopConf()))
    spark.read.text(input)
      .select(col("value").cast("binary"), col("_metadata.file_path"),
        col("_metadata.file_block_start"), col("_metadata.file_block_length"),
        col("_metadata.file_size"))
      .mapPartitions { (rows: Iterator[Row]) =>
        val it = rows.buffered
        var carry = Array.emptyByteArray // tail of the split's previous document
        Iterator.continually(it).takeWhile(_.hasNext).map { _ =>
          val (file, start) = (it.head.getString(1), it.head.getLong(2))
          val (end, size) = (start + it.head.getLong(3), it.head.getLong(4))
          def inSplit = it.hasNext && it.head.getLong(2) == start && it.head.getString(1) == file
          val lines = ArrayBuffer(carry, it.next().getAs[Array[Byte]](0))
          var bytes = carry.length + lines(1).length
          while (bytes < docBytes && inSplit) {
            lines += it.next().getAs[Array[Byte]](0); bytes += lines.last.length + 1
          }
          if (!inSplit && n > 1 && end < size)
            lines += joined(lookahead(new Path(new URI(file)), end, size, n - 1, hadoopConf.value.value))
          carry = if (inSplit && n > 1) joined(lastTokens(lines, n - 1)) else Array.emptyByteArray
          val doc = new ByteArrayOutputStream(bytes + 64)
          lines.foreach { l => doc.write(l); doc.write('\n') }
          doc.toByteArray
        }
      }(Encoders.BINARY)
      .select(col("value").cast("string").as("value"))
  }

  private def tokens(b: Array[Byte], len: Int): Seq[UTF8String] = {
    val t = NGramsEval.eval(UTF8String.fromBytes(b, 0, len), 1)
    (0 until t.numElements()).map(t.getUTF8String)
  }

  private def joined(toks: Seq[UTF8String]): Array[Byte] =
    UTF8String.concatWs(UTF8String.fromString(" "), toks: _*).getBytes

  /** The last `k` tokens of `lines`, tokenizing from the last line back. */
  private def lastTokens(lines: collection.IndexedSeq[Array[Byte]], k: Int): Seq[UTF8String] = {
    var (i, tail) = (lines.length, Seq.empty[UTF8String])
    while (tail.length < k && i > 0) { i -= 1; tail = tokens(lines(i), lines(i).length) ++ tail }
    tail.takeRight(k)
  }

  /** The first `k` tokens of the lines that start after `start`. */
  private def lookahead(file: Path, start: Long, size: Long, k: Int, conf: Configuration) = {
    val reader = new LineRecordReader()
    reader.initialize(new FileSplit(file, start, size - start, Array.empty[String]),
      new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    try {
      var toks = Vector.empty[UTF8String]
      while (toks.length < k && reader.nextKeyValue()) {
        val line = reader.getCurrentValue
        toks ++= tokens(line.getBytes, line.getLength)
      }
      toks.take(k)
    } finally reader.close()
  }
}
