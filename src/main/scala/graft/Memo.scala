package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame

/** The JVM's one probe cache: plan-time facts about the input data
  * (table schemas, footer row-group counts, the int64 time-unit check,
  * hot-key counts, broadcast-gate sizings) that every query over the same
  * inputs would otherwise re-derive with a Spark job or a footer read.
  *
  * Staleness rule, the only one in the engine: a value is keyed on
  * every input file's (path, size, mtime) — [[fingerprint]] — plus the
  * caller's parameters. Rewriting an input in place, even under the
  * same file names, changes the key, so the next call recomputes.
  * Inputs with no local file behind them (in-memory relations,
  * non-`file:` URIs, missing paths) cannot be stamped and are never
  * cached: the value is computed live on every call. Entries for
  * superseded inputs are simply never looked up again; the map is
  * bounded by the distinct (input version, parameters) pairs one JVM
  * sees — tens per fixture.
  *
  * Values are computed outside the map's lock: a probe may itself call
  * Memo, and a Spark job never blocks callers of unrelated keys. Two
  * racing callers of one key may both compute; values are
  * deterministic functions of the key, so the first stored one wins. */
object Memo {
  private val values = new java.util.concurrent.ConcurrentHashMap[String, Any]()

  /** `compute`, memoized on the files under `inputs` plus `params`. */
  def apply[A](inputs: Seq[String], params: Any*)(compute: => A): A = {
    val fp = fingerprint(inputs)
    if (fp.isEmpty) compute
    else {
      val key = (fp +: params).mkString("\u0000")
      Option(values.get(key)).getOrElse {
        val v = compute
        Option(values.putIfAbsent(key, v)).getOrElse(v)
      }.asInstanceOf[A]
    }
  }

  /** [[apply]] over a DataFrame's input files, with its analyzed plan's
    * semantic hash as an extra parameter: two probes over the same files
    * but different derived columns or filters never share a value. */
  def of[A](df: DataFrame, params: Any*)(compute: => A): A =
    apply(df.inputFiles.toSeq, df.queryExecution.analyzed.semanticHash() +: params: _*)(compute)

  /** (path, size, mtime) of every regular file under `paths` —
    * directories walked recursively, entries in sorted order. Paths may
    * be plain or `file:` URIs. Empty when any path is a non-local URI
    * (it cannot be stamped) or when no path has a file behind it. An
    * I/O error while stamping propagates: a guessed stamp could name a
    * stale artifact. */
  def fingerprint(paths: Seq[String]): String = {
    val local = paths.map { p =>
      val u = new org.apache.hadoop.fs.Path(p).toUri
      if (u.getScheme == null || u.getScheme == "file") Some(Paths.get(u.getPath))
      else None
    }
    val sb = new StringBuilder
    def stamp(f: Path): Unit =
      sb.append(f).append(':').append(Files.size(f)).append(':')
        .append(Files.getLastModifiedTime(f).toInstant).append(';')
    if (!local.contains(None)) local.flatten.sortBy(_.toString).foreach { root =>
      if (Files.isDirectory(root)) {
        val walk = Files.walk(root)
        try walk.filter(Files.isRegularFile(_)).sorted.forEach(stamp)
        finally walk.close()
      } else if (Files.isRegularFile(root)) stamp(root)
    }
    sb.toString
  }
}
