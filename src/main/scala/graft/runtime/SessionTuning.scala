package graft.runtime

import org.apache.spark.sql.SparkSession

/** Engine-wide session tuning shared by every entry point (Bench, Verify,
  * Soak, dev harnesses). STATIC SQL confs — they must be set on the
  * builder BEFORE the SparkContext exists; spark.conf.set after the fact
  * is silently ignored for these keys, which is why they live here and
  * not in [[Sources.bootstrap]] (runtime confs).
  *
  * - `spark.sql.codegen.cache.maxEntries` 100 → 2048 (r18, measured):
  *   Spark's generated-class cache is a 100-entry LRU shared by the whole
  *   JVM. Any pipeline with more than ~100 distinct codegen units —
  *   the 90-window microbatch backfill, the multi-trigger ingest sinks,
  *   a 181-query bench session — thrashes it and pays Janino compilation
  *   INSIDE task execution on every pass (local mode: compile-on-first-
  *   compute runs in the task thread). Measured at sf0.1:
  *   q_incr_microbatch 5.75 s → 3.02 s (executor task time 26.5 s →
  *   3.8 s), q_ext_ingest_neardup task time 15.9 s → 3.9 s, with no
  *   result change (codegen config cannot affect values). The cache is
  *   JVM-scoped and data-scale-independent: a 100 TB cluster run thrashes
  *   identically on every executor for the same plan count, so the
  *   production value is the same as the local one. 2048 bounds the
  *   metaspace cost (generated classes are KBs each) while covering every
  *   pipeline this engine ships. The r18 A/B behind both codegen confs
  *   is recorded in OPTIMIZATION_r18.md.
  *
  * - `spark.sql.codegen.useIdInClassName` true → false (r18): with the
  *   default, the codegen STAGE ID is embedded in the generated class
  *   name, so two textually identical stages from different queries (or
  *   the same query re-planned across Bench passes with different stage
  *   ids) produce different sources and miss the cache. The id exists
  *   for debuggability of stack traces only; dropping it makes the cache
  *   key the actual code. Same correctness argument as above.
  */
object SessionTuning {
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.codegen.cache.maxEntries", "2048")
      .config("spark.sql.codegen.useIdInClassName", "false")
      // AQE coalescing's floor on post-shuffle partition size (default
      // 1 MB) serializes every compute-dense small shuffle: a pair-verify
      // self-join or banded candidate join over a sub-MB exchange
      // coalesces to ONE task regardless of parallelismFirst, while its
      // cost is per-row compute (token-set intersection, hamming
      // verify), not bytes. 64 KB keeps such stages wide. The floor only
      // binds when totalBytes/parallelism is below it, so a large
      // shuffle's partitions sit at the advisory size and never see this
      // conf; what it does to small shuffles is measured, not guaranteed
      // — the full-suite bench total rose with it at 32 cores
      // (144 → 167 s) while it fell at 8, so the value is still under A/B.
      // Env-overridable for that A/B (SPARK_GRAFT_AQE_MIN_PARTITION).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"))
}
