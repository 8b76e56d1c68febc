package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.Shims

/** Size-coalesced writes for state/index appends (guide §2 AQE
  * coalescing, §6 output file sizing).
  *
  * A per-batch index append or cache-state delta is usually orders of
  * magnitude smaller than the input it was derived from, but the write
  * stage inherits the session's shuffle-partition count, and AQE's
  * `parallelismFirst` default refuses to coalesce below the session
  * parallelism — so a KB-scale append writes one near-empty parquet file
  * PER SHUFFLE PARTITION, paying task-commit latency on the write and a
  * per-file open on every later index read, compounding per batch.
  *
  * [[sizeCoalesced]] re-binds the frame to a cloned session whose AQE
  * coalesces the final pre-write shuffle by SIZE instead
  * (`parallelismFirst=false`): a small append writes one file, a
  * genuinely large one still writes one task per advisory partition size
  * (64 MB default) — size-derived, not a core-count tune, so the 100 TB
  * shape is unchanged. The ANALYZED plan is re-wrapped verbatim, which
  * preserves file-listing snapshots and (lazy) localCheckpoint nodes the
  * caller's read-before-append ordering may depend on. No effect on
  * plans without an exchange (their layout is the upstream partitioning,
  * which the caller controls).
  *
  * The setting acts only where AQE is on. The cache's state writes use
  * the same discipline, but the incremental executor commits warm state
  * under its own confs (`stateConfs`: AQE off, a fixed shuffle-partition
  * count), which override it there: a warm full put is written with one
  * file per shuffle partition. `ParquetQueryCache.putAppend` turns AQE
  * back on for its segment write, so an append segment is one file.
  */
object SizedWrites {
  def sizeCoalesced(df: DataFrame): DataFrame =
    Shims.withIsolatedConf(df.sparkSession,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")(
      iso => Shims.ofRows(iso, Shims.queryExecution(df).analyzed))
}
