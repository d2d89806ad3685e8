package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once / read-many index artifacts (VERDICT r04 task 1).
  *
  * Several operator families are backed by a derived table that a real
  * deployment builds ONCE at ingest and reuses across every query that
  * follows: the part co-order pair/edge table (co-occurrence, PMI,
  * triangles, k-hop), LSH postings and IVF centroids (ANN), MinHash
  * signatures (near-dup), corpus fingerprints (incremental dedup), and
  * the connected-component label table (dedup clustering). Rebuilding
  * any of them inside each query is the single-query-demo shape; at
  * 100 TB the artifact is a bucketed parquet table in the catalog.
  *
  * [[table]] is that persistence step: the first caller materializes
  * the artifact as an EXTERNAL bucketed + per-bucket-sorted parquet
  * table under the session warehouse (a bucketed table joins/aggregates
  * on its bucket key with no Exchange); every later caller — same query
  * re-run, a DIFFERENT query sharing the artifact, or a whole NEW JVM
  * (VERDICT r06 task 3) — gets the table back without rebuilding.
  * Cross-JVM adoption works because artifact identity is carried on
  * disk, not in the in-memory catalog: the table directory holds a
  * `_GRAFT_SPEC` marker recording the bucket layout, and the table
  * name folds in the [[Memo.fingerprint]] of the INPUT data (every
  * file's path, size and mtime under sfDir), taken afresh on each
  * call — so regenerated testdata, in place or not, or a changed
  * bucket spec is never served a stale artifact: the name or the
  * marker stops matching and the artifact rebuilds (IndexesSpec's
  * in-place regen test pins this within one JVM).
  *
  * Correctness contract: reading the persisted artifact must be
  * result-identical to inlining its build plan — all builds here are
  * deterministic functions of the input tables, and parquet
  * round-trips longs/doubles/arrays exactly. IndexesSpec asserts the
  * equivalence per artifact (including the fresh-catalog adoption
  * path); the oracle gate re-proves it end-to-end.
  */
object Indexes {

  /** One DataFrame per (session, table): the repeated `s.table` lookup
    * is cheap, but memoizing keeps a stable plan object and documents
    * the build-once contract in the type. WeakHashMap is equals()-keyed,
    * but SparkSession keeps default reference equality, so distinct live
    * sessions never collide in practice, and a stopped session's entries
    * become collectable instead of pinning the session for the JVM
    * lifetime. All access is synchronized on the map itself. */
  private val memo =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, DataFrame]]()

  /** Per-artifact build latches (VERDICT r06 task 8): a build holds only
    * its own artifact's lock, so two callers wanting DIFFERENT artifacts
    * build concurrently instead of serializing behind one object lock.
    * Keys are table names (== warehouse directory identity), so two
    * sessions sharing a warehouse also serialize per artifact. */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Visible-for-tests: the catalog name an artifact lands under. It
    * folds in [[Memo.fingerprint]] of `sfDir`, recomputed on every call
    * (one directory walk), so an in-place regen of the inputs — even
    * under the same file names — yields a new name and a fresh build;
    * the stale artifact is simply never looked at again. */
  private[graft] def tableName(sfDir: String, name: String): String = {
    val slug = java.security.MessageDigest.getInstance("MD5")
      .digest((sfDir + "\u0000" + Memo.fingerprint(Seq(sfDir))).getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    s"graft_idx_${slug}_$name"
  }

  /** Whether any artifact was requested since the last [[resetTouched]] —
    * lets IndexWarmSpec detect queries that build/adopt an artifact at
    * CONSTRUCTION time behind a [[graft.operators.Materialize]]
    * (invisible in the final plan string). Diagnostic surface only.
    *
    * JVM-GLOBAL, so reset-then-probe detection is only sound while
    * query constructions are sequential — which holds because sbt runs
    * forked test suites sequentially (default testForkedParallel :=
    * false) and IndexWarmSpec probes queries one at a time (r17
    * ADVICE: enabling parallel forked tests or concurrent construction
    * would cross-contaminate the flag and flake the spec; if that ever
    * changes, scope this per-thread instead). */
  private val touched = new java.util.concurrent.atomic.AtomicBoolean(false)
  private[graft] def resetTouched(): Unit = touched.set(false)
  private[graft] def anyTouched: Boolean = touched.get

  /** The bucket-layout marker an adoptable directory must match. */
  private def specJson(bucketKeys: Seq[String], nBuckets: Int): String =
    s"""{"bucketKeys":[${bucketKeys.map("\"" + _ + "\"").mkString(",")}],"nBuckets":${if (bucketKeys.isEmpty) 0 else nBuckets}}"""

  /** Build-once external bucketed artifact: returns the catalog table.
    * Resolution order: (1) this session already registered it → serve
    * the memo; (2) the catalog has it (another session, same JVM) →
    * register in memo; (3) a COMPLETE directory from a previous JVM
    * exists (`_SUCCESS` + matching `_GRAFT_SPEC`) → re-register it in
    * this catalog WITHOUT rebuilding; (4) build, write, mark. Empty
    * `bucketKeys` writes a plain (unbucketed) table — for tiny
    * artifacts like centroid sets where bucketing buys nothing. */
  def table(s: SparkSession, sfDir: String, name: String,
            bucketKeys: Seq[String], nBuckets: Int = 32)
           (build: => DataFrame): DataFrame = {
    val tbl = tableName(sfDir, name)
    touched.set(true)
    val perSession = memo.synchronized {
      memo.computeIfAbsent(s,
        _ => scala.collection.mutable.Map.empty[String, DataFrame])
    }
    perSession.synchronized(perSession.get(tbl)).getOrElse {
      val lock = buildLocks.computeIfAbsent(tbl, _ => new Object)
      lock.synchronized {
        // re-check under the build latch: a concurrent caller of the
        // SAME artifact may have just registered it
        perSession.synchronized(perSession.get(tbl)).getOrElse {
          if (!s.catalog.tableExists(tbl))
            adoptOrBuild(s, tbl, bucketKeys, nBuckets)(build)
          val df = s.table(tbl)
          perSession.synchronized(perSession.getOrElseUpdate(tbl, df))
        }
      }
    }
  }

  private def adoptOrBuild(s: SparkSession, tbl: String,
                           bucketKeys: Seq[String], nBuckets: Int)
                          (build: => DataFrame): Unit = {
    val loc = new Path(new Path(s.conf.get("spark.sql.warehouse.dir")), tbl)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new Path(loc, "_GRAFT_SPEC")
    val spec = specJson(bucketKeys, nBuckets)

    val adoptable = fs.exists(new Path(loc, "_SUCCESS")) &&
      fs.exists(marker) && {
        val in = fs.open(marker)
        val bytes = try in.readAllBytes() finally in.close()
        new String(bytes, "UTF-8") == spec
      }

    if (adoptable) {
      // VERDICT r06 task 3: a previous JVM completed this exact artifact
      // (input fingerprint is in `tbl`, layout is in the marker) — point
      // the fresh catalog at the files instead of delete-and-rebuild.
      // Underscore-prefixed files (_SUCCESS, _GRAFT_SPEC) are invisible
      // to the parquet reader, so schema inference and scans skip them.
      // A complete artifact is never rewritten: its schema is inferred
      // once per JVM (Tables.schemaOf), and not at all in the JVM that
      // wrote it.
      val ddl = graft.sources.Tables.schemaOf(s, loc.toString).toDDL
      val bucketClause =
        if (bucketKeys.isEmpty) ""
        else s"CLUSTERED BY (${bucketKeys.mkString(", ")}) " +
          s"SORTED BY (${bucketKeys.head}) INTO $nBuckets BUCKETS"
      s.sql(s"CREATE TABLE $tbl ($ddl) USING PARQUET $bucketClause LOCATION '$loc'")
    } else {
      // incomplete/mismatched leftover (e.g. a killed build): clear it.
      // Safe against concurrent readers because artifact names are
      // fingerprint-qualified and complete dirs are never deleted.
      if (fs.exists(loc)) fs.delete(loc, true)
      val w = build.write.format("parquet")
        .option("path", loc.toString).mode("overwrite")
      (if (bucketKeys.nonEmpty)
        w.bucketBy(nBuckets, bucketKeys.head, bucketKeys.tail: _*)
          .sortBy(bucketKeys.head)
      else w).saveAsTable(tbl)
      val out = fs.create(marker, true)
      try out.write(spec.getBytes("UTF-8")) finally out.close()
      // the catalog holds the schema as parquet reads it back (all
      // nullable): memoized under the final fingerprint, adoption infers none
      graft.sources.Tables.schemaOf(s, loc.toString, s.table(tbl).schema)
    }
  }
}
