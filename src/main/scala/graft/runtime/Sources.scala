package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source-table registry — the engine's analog of dbt's `source()` resolver
  * (reference: `models/sources.yml:3-18` declares schema.table names only;
  * resolution happens at compile time). Here a "catalog" is a directory of
  * parquet tables; `table(name)` is the single scan entry point so every
  * model/operator reads through one seam (testable, swappable for a real
  * catalog/metastore on a cluster).
  *
  * Each table resolves ONCE per instance: the first `table(name)` runs
  * Spark's parquet schema inference (one single-task job per call) and
  * pins the file listing; later calls return the same frame. One
  * instance is therefore one snapshot of the catalog — `Graft.run`
  * builds one per run, so a run sees the files present when it starts
  * and the next run sees newly landed ones.
  *
  * Scale note: parquet scans through this seam get Catalyst predicate
  * pushdown + column pruning for free; on a real deployment the same seam
  * would hand back partitioned-table scans (date-partitioned, see
  * Materializer) so incremental watermark filters become partition pruning.
  */
final class Sources(spark: SparkSession, val dir: String) {

  private val resolved = scala.collection.mutable.HashMap[String, DataFrame]()

  def table(name: String): DataFrame =
    resolved.synchronized(resolved.getOrElseUpdate(name, read(name)))

  private def read(name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  def region: DataFrame    = table("region")
  def nation: DataFrame    = table("nation")
  def customer: DataFrame  = table("customer")
  def supplier: DataFrame  = table("supplier")
  def part: DataFrame      = table("part")
  def orders: DataFrame    = table("orders")
  def lineitem: DataFrame  = table("lineitem")
  def events: DataFrame    = table("events")
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** A persisted vector index registered in this catalog (built by
    * `Graft.index(corpus, s"$dir/<name>.vecindex", profile)`) — the
    * `ref()` seam for models that consume an ANN index rather than a
    * table.
    */
  def index(name: String): graft.ext.VectorIndex =
    graft.ext.VectorIndex.load(spark, s"$dir/$name.vecindex")
}

object Sources {
  def apply(spark: SparkSession, dir: String): Sources = {
    bootstrap(spark)
    new Sources(spark, dir)
  }

  /** One-time session preparation for reading the fixture catalog. The
    * fixture `events` table stores ts as parquet TIMESTAMP(NANOS), which
    * Spark 4 refuses by default (PARQUET_TYPE_ILLEGAL). Public escape
    * hatch: read nanos as long, then convert to TimestampType (µs) —
    * truncation is lossless here (fixture values are µs-grained,
    * TESTDATA.md seed=42). Idempotent (setting an already-true conf is a
    * no-op). NOTE: this intentionally overrides an explicit
    * `nanosAsLong=false` — the fixture catalog is unreadable without the
    * flag, so every entry point that reads through Sources requires it.
    * (An unset-only guard is impossible here: the key is a registered
    * SQLConf, so `conf.getOption` always resolves its default.)
    */
  def bootstrap(spark: SparkSession): SparkSession = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(key).contains("true")) spark.conf.set(key, "true")
    // Write timestamps as INT64 micros, not the legacy INT96 default:
    // INT96 carries no usable min/max statistics and no predicate
    // pushdown, which silently disables row-group skipping on every
    // time-clustered table the engine writes (measured in
    // ClusteringSpec). Micros is also what the fixture data and DuckDB
    // round-trip losslessly.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    if (!spark.conf.getOption(tsKey).contains("TIMESTAMP_MICROS"))
      spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    // Fixture timestamps are parquet µs with isAdjustedToUTC=false (a
    // pyarrow naive-timestamp write); Spark 4's default NTZ inference
    // maps them to TIMESTAMP_NTZ, a type the engine's epoch arithmetic
    // (unix_micros, long casts) rejects. The session runs UTC, so the
    // naive wall clock IS the instant: read them as ordinary TIMESTAMP,
    // matching how DuckDB's oracle (naive TIMESTAMP) reads the same
    // files — both engines then agree on every derived value.
    val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
    if (!spark.conf.getOption(ntzKey).contains("false"))
      spark.conf.set(ntzKey, "false")
    spark
  }
}
