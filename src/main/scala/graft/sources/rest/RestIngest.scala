package graft.sources.rest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * Convenience wrappers over [[PaginatedJsonSource]].
 *
 * `read` returns the raw one-JSON-object-per-row frame — lazy, so every
 * action over it pages the live API again. `readJson` materializes it to
 * a typed table via Spark's JSON inference — the union-of-keys /
 * missing-keys-null semantics of `pd.DataFrame(all_objs)` (reference:
 * omnichannel_to_bq.py:48,61; SURVEY.md §2.1-S4). Ragged pages (different
 * key sets per page) land as one wide schema with nulls, which is exactly
 * the reference behavior.
 *
 * Fetch-once contract of `readJson`: like the reference's single
 * `all_objs` pass, the feed is read exactly ONCE per call, as three eager
 * jobs at frame construction — (1) page every stripe into an eager
 * `localCheckpoint` of the raw strings (the only REST pass), (2) infer
 * the schema over that checkpoint, (3) parse into an eager
 * `localCheckpoint` of the typed rows. Every later action on the returned
 * frame (normalize, sort sampling, `isEmpty`, count, write) reads the
 * typed rows from executor storage, so one job loads ONE snapshot of the
 * feed, never a mix of reads. Failure mode: local checkpoints truncate
 * lineage, so an executor lost after the fetch fails the next job loudly
 * (checkpoint block not found) — it never silently re-fetches a feed
 * that may have moved. Rerun the job. `persist` is not used because a
 * cache evicted or unpersisted mid-job recomputes by re-reading the API.
 */
object RestIngest {

  def read(spark: SparkSession, options: Map[String, String]): DataFrame =
    spark.read.format(classOf[PaginatedJsonSource].getName)
      .options(options).load()

  def readJson(spark: SparkSession, options: Map[String, String]): DataFrame = {
    import spark.implicits._
    // EAGER by repo law (RepoLawsSpec): each checkpoint materializes on
    // this thread, at construction
    val raw = read(spark, options)
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK)
    spark.read.json(raw.as[String])
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK)
  }
}
