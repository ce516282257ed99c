package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.sources.Fixtures

/**
 * Synthesizes a LARGER-SF fixture directory from an existing one for
 * spot benchmarks — measurement tooling for the optimization rounds
 * (like [[Profile]]/[[ExplainDump]]; no query or test depends on it).
 *
 * Motivation (VERDICT r21): at sf0.1 every query's wall is dominated by
 * fixed per-query overhead — the 8-core bench run matches the 32-core
 * run across the whole suite — so §2.6 parallelism work (the Par.widen
 * pins and their volume gates) is structurally invisible in the primary
 * bench. A spot run at ~10x the rows is the only honest way to show a
 * volume-gated pin engage and pay off.
 *
 * Scaling rule: `factor` shifted copies of `documents` and `customer`
 * (ids offset by 10M per copy; texts get a per-copy suffix token so
 * near-dup/edit-distance structure is preserved WITHIN each copy
 * instead of creating cross-copy exact-duplicate cliques whose pair
 * count would grow quadratically in `factor`); every other table is
 * copied verbatim. Deterministic — no RNG.
 *
 * Usage: runMain graft.tools.SpotScale <srcDir> <dstDir> <factor>
 */
object SpotScale {
  private val Offset = 10000000L

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: SpotScale <srcDir> <dstDir> <factor>")
    val Array(src, dst, factorS) = args.take(3)
    val factor = factorS.toIntOption.getOrElse(throw
      new IllegalArgumentException(s"factor must be an integer: '$factorS'"))
    require(factor >= 1, "factor >= 1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val scaled = Map(
      "documents" -> { i: Int =>
        Fixtures.table(spark, src, "documents").select(
          (col("doc_id") + lit(i * Offset)).as("doc_id"),
          concat(col("text"), lit(s" copy$i")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      },
      "customer" -> { i: Int =>
        Fixtures.table(spark, src, "customer").select(
          (col("c_custkey") + lit(i * Offset)).as("c_custkey"),
          concat(col("c_name"), lit(s" c$i")).as("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      })
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    for (t <- tables) {
      scaled.get(t) match {
        case Some(copy) =>
          (0 until factor).map(copy).reduce(_ union _)
            .write.mode("overwrite").parquet(s"$dst/$t.parquet")
        case None =>
          // verbatim byte copy — a read/write round-trip would rewrite
          // TIMESTAMP(NANOS) columns (events.ts) as plain longs
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$src/$t.parquet"),
            java.nio.file.Paths.get(s"$dst/$t.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      println(s"[spotscale] $t -> $dst/$t.parquet")
    }
    spark.stop()
  }
}
