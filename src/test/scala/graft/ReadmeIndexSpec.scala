package graft

import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r04 item 8: the README query cross-index must stay true as
  * the registry grows. The table is generated (tools/readme_index.py);
  * this suite fails the build whenever it drifts from the live
  * registry — missing/extra queries, stale file:line anchors, or a
  * wrong oracle column. */
class ReadmeIndexSpec extends AnyFunSuite {
  private val root = java.nio.file.Paths.get(".").toAbsolutePath

  private lazy val tableRows: Seq[(String, String, String, String)] = {
    val text = new String(java.nio.file.Files.readAllBytes(root.resolve("README.md")), "UTF-8")
    val begin = text.indexOf("QUERY_INDEX_BEGIN")
    val end = text.indexOf("QUERY_INDEX_END")
    assert(begin >= 0 && end > begin, "README.md lacks the QUERY_INDEX markers")
    text.substring(begin, end).linesIterator
      .filter(l => l.startsWith("| ") && l.contains("`"))
      .filterNot(_.startsWith("| survey row"))
      .map { l =>
        val c = l.split("\\|").map(_.trim)
        // | tag | `name` | oracle | `file:line` | specs |
        (c(1), c(2).stripPrefix("`").stripSuffix("`"), c(3),
          c(4).stripPrefix("`").stripSuffix("`"))
      }.toSeq
  }

  // VERDICT r05 item 1: a duplicate name silently shadows a query in the
  // name-keyed `queries` map (last wins). SparkEntry.all `require`s
  // uniqueness at construction; this test inspects the RAW pre-require
  // registry (ADVICE r07: asserting on `all` was unreachable — the
  // require threw first) so a collision reports the offending names.
  test("registry query names are unique") {
    val names = SparkEntry.registry.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(",")}")
    assert(SparkEntry.all.size == SparkEntry.queries.size,
      "queries map dropped entries relative to the registry")
  }

  // r12 verdict task 4: §2b rows implemented outside the query registry
  // (streaming ingest, sinks, the CLI) get PINNED-SURFACE rows in the
  // same table — visible to a README reader, validated here like any
  // registry row, so the coverage test below holds by construction.
  private lazy val queryRows = tableRows.filterNot(_._3 == "pinned surface")
  private lazy val pinnedRows = tableRows.filter(_._3 == "pinned surface")

  test("README index lists exactly the registered queries") {
    val listed = queryRows.map(_._2).toSet
    val registered = SparkEntry.queries.keySet
    assert(listed == registered,
      s"missing from README: ${(registered -- listed).toSeq.sorted.mkString(",")}; " +
        s"stale in README: ${(listed -- registered).toSeq.sorted.mkString(",")} — " +
        "run tools/readme_index.py")
  }

  test("README index file:line anchors point at the live registrations") {
    queryRows.foreach { case (_, name, _, loc) =>
      val Array(file, line) = loc.split(":")
      val p = root.resolve(file)
      assert(java.nio.file.Files.exists(p), s"$name: $file gone — regenerate index")
      val l = java.nio.file.Files.readAllLines(p).get(line.toInt - 1)
      assert(l.contains(s""""$name""""),
        s"$name: $loc no longer holds its registration — regenerate index")
    }
  }

  test("pinned-surface rows exist and their anchors carry the survey-row tag") {
    // the registry-less §2b surfaces the table must keep visible
    val expected = Set("G21", "G23", "G24", "G24b", "G33", "X59", "X60", "X81")
    val tags = pinnedRows.map(_._1).toSet
    assert(tags == expected,
      s"pinned-surface rows drifted: missing ${(expected -- tags).mkString(",")}, " +
        s"extra ${(tags -- expected).mkString(",")} — run tools/readme_index.py")
    pinnedRows.foreach { case (tag, _, _, loc) =>
      val Array(file, line) = loc.split(":")
      val p = root.resolve(file)
      assert(java.nio.file.Files.exists(p), s"$tag: $file gone — regenerate index")
      val l = java.nio.file.Files.readAllLines(p).get(line.toInt - 1)
      assert(s"\\b${java.util.regex.Pattern.quote(tag)}\\b".r.findFirstIn(l).isDefined,
        s"$tag: $loc no longer carries the survey-row tag — regenerate index")
    }
  }

  test("every SURVEY §2b row ID is attributed to a registered query or a pinned surface") {
    val survey = new String(
      java.nio.file.Files.readAllBytes(root.resolve("SURVEY.md")), "UTF-8")
    val rowIds = "(?m)^\\| ([GX]\\d{1,2}[a-z]?)\\b".r
      .findAllMatchIn(survey).map(_.group(1)).toSeq
    assert(rowIds.size >= 115, s"SURVEY §2b row table shrank to ${rowIds.size} rows?")

    // pinned-surface rows count exactly like query rows — a registry-less
    // operator (X81) is attributed through the same table
    val tags = tableRows.map(_._1).toSet
    // a finer-grained sub-tag (X40a…X40d) covers its base row (X40);
    // a base tag never covers a suffixed row (G24 does not cover G24b)
    def covered(id: String) =
      tags.contains(id) || tags.exists(t => t.length == id.length + 1 &&
        t.startsWith(id) && t.last.isLetter)

    val missing = rowIds.filterNot(covered)
    assert(missing.isEmpty,
      s"SURVEY §2b rows with no query attribution and no pinned surface: " +
        s"${missing.mkString(",")} — tag the owning query's doc comment, add a " +
        "TAG_OVERRIDES entry, or a PINNED_SURFACES entry in " +
        "tools/readme_index.py, then regenerate")
  }

  test("README oracle column matches oracleSql registration") {
    val oracled = SparkEntry.oracleSql.keySet
    queryRows.foreach { case (_, name, oracle, _) =>
      assert((oracle == "DuckDB") == oracled.contains(name),
        s"$name: README says '$oracle' but oracleSql ${if (oracled.contains(name)) "has" else "lacks"} it")
    }
  }

  /** Each Scala file under `dir` (path relative to it) with its trimmed
    * code lines — comment lines skipped, so a doc that names a pattern
    * never trips a source audit. */
  private def codeUnder(dir: String): Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    val tree = root.resolve(dir)
    val walk = java.nio.file.Files.walk(tree)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).map { f =>
      tree.relativize(f).toString -> java.nio.file.Files.readAllLines(f).asScala.toSeq
        .map(_.trim)
        .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/*"))
    }.toMap
    finally walk.close()
  }

  /** Indices of the lines of the first definition in `code` that starts
    * with `header`, up to the next `def` (empty when there is none). */
  private def defLines(code: Seq[String], header: String): Range = {
    val from = code.indexWhere(_.startsWith(header))
    if (from < 0) Range(0, 0)
    else from until Some(code.indexWhere(_.startsWith("def "), from + 1)).filter(_ > 0).getOrElse(code.size)
  }

  /** src/main's files, paths relative to src/main/scala. */
  private lazy val mainCode = codeUnder("src/main/scala")

  test("src/main declares no JVM-global cache outside graft.Memo and Indexes' two kept maps") {
    // One staleness rule for probe results (Memo's input fingerprint):
    // a new hand-rolled map in the main tree fails here. Indexes keeps
    // its per-session table map and per-artifact build locks.
    val decl = "\\bnew\\s+[\\w.]*(ConcurrentHashMap|WeakHashMap)\\b|\\bnewKeySet\\b".r
    val found = mainCode.map { case (f, code) => f -> code.map(decl.findAllIn(_).size).sum }
      .filter(_._2 > 0)
    assert(found == Map("graft/Memo.scala" -> 1, "graft/Indexes.scala" -> 2),
      s"JVM-global map declarations in src/main: $found — route probe results through graft.Memo")
  }

  test("blocking shapes are written once, in graft.operators.Blocking") {
    // Jaccard, the keep-the-min-id cap and the artifact-or-checkpoint
    // persist each live in Blocking; a copy elsewhere fails here.
    val kernel = "graft/operators/Blocking.scala"
    val minIdCut = "topK\\([^)]*\\)\\(negate\\(col\\([^)]*\\)\\.cast\\(\"double\"\\)".r
    // an Indexes.table match whose None branch checkpoints: a `case
    // None =>` line soon after the call, then a `Materialize(` or
    // `.localCheckpoint()` before the line that closes the match
    val persistCopy = ("(?s)Indexes\\.table\\((?:(?!Indexes\\.table\\().){0,400}?" +
      "\ncase None =>(?:(?!\n\\}).)*?(?:Materialize\\(|\\.localCheckpoint\\(\\))").r
    val copies = mainCode.toSeq.filter(_._1 != kernel).flatMap { case (f, code) =>
      val text = code.mkString("\n")
      Seq(
        "array_intersect(" -> text.contains("array_intersect("),
        "min-id topK cut" -> ((f.endsWith("/NearDup.scala") || f.endsWith("/Similarity.scala")) &&
          minIdCut.findFirstIn(text).isDefined),
        "Indexes.table match with a localCheckpoint None branch" ->
          persistCopy.findFirstIn(text).isDefined
      ).collect { case (what, true) => s"$f: $what" }
    }
    assert(copies.isEmpty,
      s"blocking shapes copied outside $kernel: ${copies.mkString("; ")} — call Blocking instead")
  }

  test("eager checkpoints and observed metrics are written once, in graft.operators.Materialize") {
    // one materialization: a scalar a plan needs rides the checkpoint
    // job, so a bare localCheckpoint or a hand-built Observation elsewhere
    // fails here
    val owner = "graft/operators/Materialize.scala"
    val found = mainCode.toSeq.filter(_._1 != owner).flatMap { case (f, code) =>
      Seq("localCheckpoint(", "Observation(").filter(p => code.exists(_.contains(p))).map(p => s"$f: $p")
    }.sorted
    assert(found.isEmpty,
      s"eager checkpoints or observations outside $owner: ${found.mkString("; ")} — call Materialize")
  }

  test("Spark listeners are attached only by graft.Trace") {
    // one run recorder: a hand-written listener, and with it its own way
    // of waiting for the listener bus, fails here
    val attach = "addSparkListener\\(".r
    val found = codeUnder("src").collect {
      case (f, code) if f != "main/scala/graft/Trace.scala" && code.exists(attach.findFirstIn(_).isDefined) => f
    }.toSeq.sorted
    assert(found.isEmpty, s"addSparkListener outside graft.Trace: ${found.mkString(", ")} — call Trace")
  }

  test("sessions are built, and session confs changed, only in graft.Sessions") {
    // WordCount keeps its own getOrCreate: as the CLI it must honour
    // spark-submit's conf
    def sites(code: Map[String, Seq[String]], pattern: String, allowed: Set[String]) =
      code.map { case (f, lines) => f -> lines.count(pattern.r.findFirstIn(_).isDefined) }
        .filter { case (f, n) => n > 0 && !allowed(f) }
    val builders = sites(codeUnder("src"), "SparkSession\\.builder\\(",
      Set("main/scala/graft/Sessions.scala", "main/scala/graft/WordCount.scala"))
    assert(builders.isEmpty,
      s"session builders outside Sessions/WordCount: $builders — call Sessions.local")
    val confSets = sites(mainCode, "conf\\.set\\(", Set("graft/Sessions.scala"))
    assert(confSets.isEmpty,
      s"session conf writes in src/main outside Sessions: $confSets — scope them with Sessions.withConf")
  }

  test("unpartitioned windows in src/main are Physical.globalOrder's or say why they are bounded") {
    // an unpartitioned window sorts its whole input in one task: a side
    // that grows with the data is ordered by globalOrder or globalRanks,
    // and any other such window carries a `// bounded:` reason on its line
    val window = "Window\\.orderBy\\(|Window\\.partitionBy\\(\\)".r
    val found = mainCode.toSeq.flatMap { case (f, code) =>
      val helper = Seq("def globalOrder(", "def globalRanks(").flatMap(defLines(code, _)).toSet
      code.indices.filter(i => window.findFirstIn(code(i)).isDefined &&
        !helper.contains(i) && !code(i).contains("// bounded:")).map(i => s"$f: ${code(i)}")
    }.sorted
    assert(found.isEmpty,
      s"unpartitioned windows outside Physical.globalOrder and globalRanks with no bounded: reason: ${found.mkString("; ")}")
  }

  test("test temp dirs are made only by SparkTestSession.tempDir") {
    // one helper deletes every test dir when the JVM exits
    val create = "createTempDirectory\\(".r
    val found = codeUnder("src").collect {
      case (f, code) if f != "test/scala/graft/SparkTestSession.scala" &&
        code.exists(create.findFirstIn(_).isDefined) => f
    }.toSeq.sorted
    assert(found.isEmpty, s"createTempDirectory outside SparkTestSession.tempDir: ${found.mkString(", ")}")
  }

  test("planner strategies are put on a session only by OneShuffleCount.install") {
    // one install path: GraftExtensions injects the strategy and the CLI
    // calls install; any other `extraStrategies =` fails here
    val owner = "main/scala/graft/plans/OneShuffleCount.scala"
    val assign = "extraStrategies\\s*=(?!=)".r
    val sites = codeUnder("src").toSeq.flatMap { case (f, code) =>
      val helper = if (f == owner) defLines(code, "def install(").toSet else Set.empty[Int]
      code.indices.filter(i => assign.findFirstIn(code(i)).isDefined).map(i => (helper(i), s"$f: ${code(i)}"))
    }
    assert(sites.exists(_._1), s"no strategy assignment found in $owner's install")
    val found = sites.filterNot(_._1).map(_._2).sorted
    assert(found.isEmpty, s"extraStrategies assigned outside OneShuffleCount.install: ${found.mkString("; ")}")
  }
}
