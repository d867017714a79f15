package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** One-order-of-magnitude scale step for the bench: replicate an sf
  * directory `factor`× with FK-CONSISTENT key offsets, so every join
  * key still resolves and every per-key group count stays realistic
  * (each replica is a disjoint key universe — group sizes match the
  * source, group COUNTS scale by `factor`, which is how a real corpus
  * grows).
  *
  * Document text is token-salted per replica (`tok` → `tokrN`), so
  * replicas are NOT near-duplicates of each other: without the salt,
  * every dup-group would grow `factor`× and the near-dup pair space
  * `factor²`× — a quadratic blowup no real 10× corpus has. With it,
  * dedup/LSH workloads scale linearly like everything else.
  *
  * Bench-only scaffolding: correctness is gated at sf0.01 against
  * DuckDB; this data exists to measure how the plans behave across a
  * 10× data step (the scale-claims check the round-4 verdict asked
  * for). Output is directory-parquet under `dstDir`, `_DONE`-gated so
  * generation (not timed) runs once per source fingerprint.
  */
object BenchData {

  def ensureScaled(spark: SparkSession, srcDir: String, dstDir: String,
      factor: Int): Unit = {
    val done = Paths.get(s"$dstDir/_DONE")
    if (Files.exists(done)) return
    def src(t: String): DataFrame = {
      val p = Paths.get(s"$srcDir/$t.parquet")
      // a scaled source dir holds directory-parquet; driver testdata
      // single files — the reader takes both
      graft.io.Parquet.read(spark, p.toString)
    }
    // key-domain offsets: next power of 10 above the max, so offset
    // arithmetic is readable in any debug dump
    def domain(df: DataFrame, c: String): Long = {
      val mx = df.agg(max(col(c))).head().getLong(0)
      var d = 10L
      while (d <= mx) d *= 10
      d
    }
    lazy val dOrder = domain(src("orders"), "o_orderkey")
    lazy val dCust = domain(src("customer"), "c_custkey")
    lazy val dSupp = domain(src("supplier"), "s_suppkey")
    lazy val dPart = domain(src("part"), "p_partkey")
    lazy val dEvent = domain(src("events"), "event_id")
    lazy val dUser = domain(src("events"), "user_id")
    lazy val dDoc = domain(src("documents"), "doc_id")
    lazy val dVec = domain(src("embeddings"), "vec_id")

    def rep(df: DataFrame, offsets: (String, Long)*): DataFrame = {
      val wide = df.crossJoin(
        spark.range(0, factor).select(col("id").as("rep__")))
      val shifted = offsets.foldLeft(wide) { case (d, (c, off)) =>
        d.withColumn(c, col(c) + col("rep__") * lit(off))
      }
      shifted
    }
    def write(df: DataFrame, t: String): Unit =
      df.drop("rep__").write.mode("overwrite")
        .parquet(s"$dstDir/$t.parquet")

    write(rep(src("lineitem"), "l_orderkey" -> dOrder,
      "l_partkey" -> dPart, "l_suppkey" -> dSupp), "lineitem")
    write(rep(src("orders"), "o_orderkey" -> dOrder,
      "o_custkey" -> dCust), "orders")
    write(rep(src("customer"), "c_custkey" -> dCust)
      .withColumn("c_name", concat(col("c_name"), lit("#"), col("rep__"))),
      "customer")
    write(rep(src("supplier"), "s_suppkey" -> dSupp)
      .withColumn("s_name", concat(col("s_name"), lit("#"), col("rep__"))),
      "supplier")
    write(rep(src("part"), "p_partkey" -> dPart), "part")
    write(rep(src("events"), "event_id" -> dEvent, "user_id" -> dUser),
      "events")
    // salt every token with the replica id — replicas stop being
    // near-dups of each other (see scaladoc)
    write(rep(src("documents"), "doc_id" -> dDoc)
      .withColumn("text", regexp_replace(col("text"),
        lit("([A-Za-z0-9]+)"), concat(lit("$1r"), col("rep__")))),
      "documents")
    write(rep(src("embeddings"), "vec_id" -> dVec), "embeddings")
    write(src("region").withColumn("rep__", lit(0L)), "region")
    write(src("nation").withColumn("rep__", lit(0L)), "nation")
    Files.createDirectories(done.getParent)
    Files.writeString(done, s"factor=$factor src=$srcDir tables=all\n")
  }
}
