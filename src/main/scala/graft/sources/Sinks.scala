package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Write surface (SURVEY.md §2b G24 / R2).
  *
  * Parquet is the engine's primary sink (columnar, splittable,
  * predicate-pushdown-able on re-read — what a 100 TB pipeline stores).
  * TSV text is the reference-fidelity sink: the reference job writes
  * `key\tvalue` lines, one file per reducer, via TextOutputFormat
  * (reference/WordCount.java:158) — combined with its range partitioner
  * the concatenated part files are globally sorted
  * (reference/report.md:139-145). `writeSortedTsv` reproduces exactly
  * that: range-repartition on the sort key, sort within partitions,
  * write one text part-file per range — parts concatenate to a global
  * sort, like the reference's reducer outputs.
  */
object Sinks {

  /** The reference's full sink contract: `numParts` range-partitioned,
    * in-partition-sorted TSV part files (reference/WordCount.java:32-62 +
    * 158: WCPartitioner + TextOutputFormat). */
  def writeSortedTsv(df: DataFrame, path: String, sortCol: String, numParts: Int): Unit =
    df.repartitionByRange(numParts, df(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite")
      .option("sep", "\t")
      .option("header", "false")
      .csv(path)

  /** Primary sink: parquet, optionally hive-style partitioned by
    * low-cardinality columns (partition pruning on re-read). */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** G24b: JSONL (one JSON object per line) — the interchange format LLM
    * corpora ship in (one doc per line, splittable by newline, no
    * footer). Spark's json sink IS jsonl: each row becomes one compact
    * JSON object line; binary columns serialize as base64. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** JSONL read with a REQUIRED explicit schema: schema inference runs
    * a whole extra pass over the data before the real job — at corpus
    * scale the schema is a contract the pipeline declares, never
    * something re-derived from 100 TB of lines. Malformed lines land in
    * NULL-rowed records under the default PERMISSIVE mode rather than
    * killing the job (corpus files routinely carry a few bad lines). */
  def readJsonl(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Schema-evolution read: union the footer schemas of every file in
    * the directory — rows written before a column existed read it back
    * as NULL. This is the ingest-directory shape (appending producers
    * add columns over time); footer merging opens every file's footer,
    * so at warehouse scale the catalog carries the evolved schema and
    * `mergeSchema` stays off the hot path. (X60) */
  def readEvolved(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes / targetFileBytes) files of roughly even size.
    *
    * Streaming sinks and wide shuffles write one file per task per
    * micro-batch — at 100 TB that is millions of KB-sized files whose
    * per-file open/footer cost comes to dominate every later scan (and
    * breaks object-store listing). Compaction is the standard follow-up
    * job. Sizing reads the SOURCE's on-disk bytes (already compressed,
    * so the output estimate is honest); the rewrite into a TEMPORARY
    * sibling directory + atomic-as-possible rename keeps readers off
    * half-written output — the swap pattern table formats do with
    * metadata, done here at directory level. Returns the file count. */
  def compactParquet(spark: SparkSession, dir: String,
                     targetFileBytes: Long = 128L << 20): Int = {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    def walk[A](p: Path)(f: Iterator[Path] => A): A = {
      val s = Files.walk(p)
      try f(s.iterator().asScala) finally s.close()
    }
    def rmTree(p: Path): Unit =
      if (Files.exists(p)) walk(p)(_.toSeq.reverse.foreach(Files.delete))
    val src = Paths.get(dir)
    val tmp = src.resolveSibling(src.getFileName.toString + "._compact_tmp")
    val trash = src.resolveSibling(src.getFileName.toString + "._compact_old")
    // Crash recovery from a previous interrupted run: if the data dir is
    // missing but the trash survived, the crash hit between the two
    // renames — restore it. Stale tmp/trash from completed phases are
    // deleted so a rerun never hits a non-empty rename target.
    if (!Files.exists(src) && Files.exists(trash))
      Files.move(trash, src, StandardCopyOption.ATOMIC_MOVE)
    rmTree(tmp); rmTree(trash)
    // Out of scope, by refusal rather than silent corruption:
    //  - a streaming-sink dir: rewriting drops _spark_metadata, and the
    //    resumed stream would recreate a manifest listing only new files,
    //    making every compacted row invisible to manifest-based reads;
    //  - a hive-partitioned dir: a flat rewrite discards the col=value
    //    layout (and partition-column types) — compact each leaf instead.
    require(!Files.exists(src.resolve("_spark_metadata")),
      s"$dir is a streaming-sink output (_spark_metadata); compaction would orphan its manifest")
    val partitioned = walk(src)(_.exists(p =>
      Files.isDirectory(p) && p.getFileName.toString.contains("=")))
    require(!partitioned,
      s"$dir is hive-partitioned; compact each leaf partition directory instead")
    val bytes = walk(src)(_.filter(p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum)
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    // round-robin repartition: even file sizes regardless of key skew
    spark.read.parquet(dir).repartition(nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    // Two renames cannot be one atomic op without a metadata layer; the
    // recovery block above makes the crash window safe on rerun.
    Files.move(src, trash, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, src, StandardCopyOption.ATOMIC_MOVE)
    rmTree(trash)
    nFiles
  }
}
