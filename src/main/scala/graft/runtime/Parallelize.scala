package graft.runtime

import org.apache.spark.sql.{Column, DataFrame}

/** Scan-parallelism repair for per-row-HEAVY operators (r18, guide §2.5
  * "input skew: repartition immediately after the read").
  *
  * The bench-scale fixture tables are single small parquet files — one
  * input split — so operators whose cost is per-row compute rather than
  * bytes (codec encode/decode in the media generators, per-gram md5 in
  * winnowing, trigram exploding in the LM scorers) were running their
  * ENTIRE workload in one task: q_ext_media_video spent 4.0 s of its
  * 4.1 s wall in a single task on a 32-core host; q_ext_fingerprint_winnow
  * and q_ext_lm_quality* likewise ran serial (task time ≈ wall).
  *
  * [[fanOut]] hash-repartitions the (narrow — ids only, or ids + normalized
  * text) input to the session's default parallelism BEFORE the heavy
  * projection, and ONLY when the plan currently has fewer partitions than
  * that: a real corpus scan at cluster scale arrives in thousands of
  * splits and must not pay an extra payload shuffle here, so the helper
  * is a no-op exactly where the guide says a repartition would be wrong.
  * Keyed (hash) repartitioning, never round-robin: deterministic under
  * task retry (guide §2.5's SPARK-38388 caveat), and when the key is the
  * operator's downstream grouping key the exchange is REUSED by the
  * group-by (same key, same partition count), so at matched
  * shuffle-partition counts this adds parallelism without adding a
  * net shuffle.
  */
object Parallelize {

  /** `df` hash-distributed over the session's default parallelism by
    * `keys` when its physical plan has fewer partitions than that;
    * unchanged otherwise. Row-wise-independent downstream compute only
    * (results must not depend on co-location or intra-partition order
    * beyond the per-key grouping the hash preserves). A streaming frame
    * comes back unchanged: it has no RDD to size, and each micro-batch's
    * partitioning is the source's and the state store's to decide.
    */
  def fanOut(df: DataFrame, keys: Column*): DataFrame = {
    require(keys.nonEmpty, "fanOut needs at least one distribution key")
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.isStreaming || df.rdd.getNumPartitions >= target) df
    else df.repartition(target, keys: _*)
  }
}
