package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole forked test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = Sessions.local(4)

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  val sf01 = "/root/testdata/sf0.1"

  /** A new directory under the temp root named `prefix…`, deleted with
    * its contents when the JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile))
    dir
  }

  /** Lines of each `part-*` file in `dir`, in filename order — the
    * "concatenate the reducer outputs" view both sink suites assert on. */
  def partLines(dir: String): Seq[Seq[String]] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
      .map(p => java.nio.file.Files.readAllLines(p).asScala.toSeq)
  }
}
