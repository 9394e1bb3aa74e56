package graft.ops

import org.apache.spark.sql.DataFrame

/**
 * Staged-input materialization behind the [[Artifacts]] fingerprint
 * marker — the [[JoinStrategies.writeBucketedOnce]] ruling (VERDICT r10
 * #5) applied to the streaming rows' bounded-replay inputs: staging a
 * replay directory is input PREPARATION, not the operator under test,
 * and re-paying the range-partition + sort + parquet write per bench
 * sample times the copy, not the streaming replay it feeds.
 *
 * Validity is the same metadata-only contract as every other artifact:
 * (params, canonicalized staging plan, input file paths/sizes/mtimes).
 * A regenerated fixture, a different scale factor (the caller's
 * SF-keyed stage dir), or ANY change to the staging transformation
 * (coalesce count, range partitioning, union shape) re-fingerprints and
 * rebuilds — the staged bytes can never go stale silently. Publication
 * is the atomic temp-dir + rename of [[Artifacts.ensureBuilt]], so a
 * crashed build is invisible to the next run. Nothing is read back: the
 * replay reads the staged directory itself.
 */
object Staging {

  /** Write `df` as parquet to `path` ONCE per (staging plan, input
    * files, `params`); later calls with a matching fingerprint reuse
    * the staged directory untouched. The write preserves `df`'s
    * partitioning and intra-partition order (the replay harnesses
    * stage time-sorted part files so `maxFilesPerTrigger = 1` drains
    * them as ordered micro-batches). */
  def writeParquetOnce(df: DataFrame, path: String,
      params: String = ""): Unit = {
    val fp = Artifacts.fingerprint(df, s"stage-v1|$params")
    Artifacts.ensureBuilt(df.sparkSession, path, fp)(df)
  }
}
