package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** VERDICT r08 task 1: synthesize an sf1-shaped fixture (default 10×
  * sf0.1) so the FULL registry can be benched at the next scale step —
  * converting the "100 TB-safe by plan shape" claims into measured
  * per-query growth curves (tools/scale_growth.py flags superlinear
  * per-row cost vs sf0.1).
  *
  * Scaling model = TPC-H's: fact and entity tables grow linearly with
  * SF (customer/supplier/part/orders/lineitem/events/documents/
  * embeddings replicated `copies`× with stride-shifted keys — foreign
  * keys shift by the SAME stride as their referenced primary key, so
  * per-copy join selectivity and fan-out match the original); region/
  * nation stay fixed like the spec's 5/25-row dims. Distinct-key
  * cardinality thus grows `copies`×, which is the direction that
  * stresses shuffles and state.
  *
  * Text and embeddings are lightly PERTURBED per copy (an appended
  * copy token / a small first-component offset) so replicas are not
  * byte-identical — they land as NEAR-duplicates, which is exactly
  * what a scaled corpus contains; the dedup/LSH families therefore see
  * `copies`-sized near-dup clusters (bounded by the 64-doc bucket cap)
  * rather than an artificial exact-dup degeneracy. Queries whose
  * OUTPUT grows superlinearly because of this (pair emitters) are
  * expected and called out in the growth report, not hidden.
  *
  *   sbt "Test/runMain graft.ScaleFixture [copies=10] [src=/root/testdata/sf0.1] [out=/tmp/graft_sf1] [tables=all]"
  *
  * The optional 4th arg (comma-separated table names) writes only the
  * named tables — e.g. `200 /root/testdata/sf0.1 /tmp/graft_docs200
  * documents` builds the r17 doc-only past-the-cap-ceiling fixture
  * (1M docs) without replicating a 1.2B-row lineitem alongside it.
  */
object ScaleFixture {

  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1

  /** Replicate `copies`×, shifting each (key → stride) pair per copy. */
  private def replicate(src: DataFrame, copies: Int,
                        shifts: Map[String, Long],
                        perturb: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
    (0 until copies).map { i =>
      val shifted = shifts.foldLeft(src) { case (d, (k, s)) =>
        d.withColumn(k, col(k) + lit(i * s))
      }
      perturb(shifted, i)
    }.reduce(_.unionAll(_))

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val srcDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(2).getOrElse("/tmp/graft_sf1")
    val spark = Sessions.local(Sessions.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    val wanted = args.lift(3).filter(_ != "all")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def read(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      if (wanted.exists(!_.contains(t))) return
      val out = s"$outDir/$t.parquet"
      if (!new java.io.File(out).exists()) {
        df.write.mode("overwrite").parquet(out)
        System.err.println(s"[scalefixture] wrote $t")
      } else System.err.println(s"[scalefixture] $t exists, skipped")
    }

    // fixed dims (TPC-H: region/nation do not scale with SF)
    write(read("region"), "region")
    write(read("nation"), "nation")

    val cust = read("customer"); val cStride = stride(cust, "c_custkey")
    val supp = read("supplier"); val sStride = stride(supp, "s_suppkey")
    val part = read("part");     val pStride = stride(part, "p_partkey")
    val ord = read("orders");    val oStride = stride(ord, "o_orderkey")
    val ev = read("events")
    val evStride = stride(ev, "event_id")
    val uStride = stride(ev, "user_id")
    val docs = read("documents")
    val emb = read("embeddings")
    // doc_id and vec_id are the SAME key domain (multimodal joins on
    // doc_id = vec_id), so both shift by one shared stride
    val dStride = math.max(stride(docs, "doc_id"), stride(emb, "vec_id"))

    write(replicate(cust, copies, Map("c_custkey" -> cStride)), "customer")
    write(replicate(supp, copies, Map("s_suppkey" -> sStride)), "supplier")
    write(replicate(part, copies, Map("p_partkey" -> pStride)), "part")
    write(replicate(ord, copies,
      Map("o_orderkey" -> oStride, "o_custkey" -> cStride)), "orders")
    write(replicate(read("lineitem"), copies,
      Map("l_orderkey" -> oStride, "l_partkey" -> pStride, "l_suppkey" -> sStride)),
      "lineitem")
    write(replicate(ev, copies,
      Map("event_id" -> evStride, "user_id" -> uStride)), "events")
    write(replicate(docs, copies, Map("doc_id" -> dStride),
      perturb = (d, i) =>
        if (i == 0) d
        else d.withColumn("text", concat(col("text"), lit(s" xqzcopy$i")))
          .withColumn("n_chars", col("n_chars") + lit(9 + s"$i".length))),
      "documents")
    write(replicate(emb, copies, Map("vec_id" -> dStride),
      perturb = (d, i) =>
        if (i == 0) d
        else d.withColumn("embedding",
          concat(
            transform(slice(col("embedding"), 1, 1),
              x => x + lit(i * 1e-3f)),
            slice(col("embedding"), lit(2), size(col("embedding")))))),
      "embeddings")

    val counts = graft.sources.Tables.names
      .filter(t => wanted.forall(_.contains(t))).map { t =>
        t -> spark.read.parquet(s"$outDir/$t.parquet").count()
      }
    System.err.println(s"[scalefixture] $outDir rows: " +
      counts.map { case (t, n) => s"$t=$n" }.mkString(", "))
    spark.stop()
  }
}
