package graft.runtime

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Focused contract spec for [[Parallelize.fanOut]] — the scan-parallelism
  * repair the r18/r19 optimization rounds threaded through every
  * per-row-heavy operator (media generators, winnowing, gram instances,
  * CDC chunking, the a10 moment battery). The contract has three legs:
  * it widens narrow plans, it is a NO-OP on plans already at or above
  * session parallelism (the property that makes it scale-safe — a wide
  * cluster scan must never pay an extra payload shuffle), and it cannot
  * change results (hash partitioning only relocates rows).
  */
class ParallelizeSpec extends SparkSpec {

  test("fanOut widens a single-partition plan to session parallelism") {
    val narrow = spark.range(0, 1000).coalesce(1).toDF("id")
    assert(narrow.rdd.getNumPartitions == 1)
    val wide = Parallelize.fanOut(narrow, col("id"))
    assert(wide.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("fanOut is a no-op on plans already at or above parallelism") {
    val target = spark.sparkContext.defaultParallelism
    val alreadyWide = spark.range(0, 1000, 1, target * 2).toDF("id")
    val out = Parallelize.fanOut(alreadyWide, col("id"))
    // returns the SAME frame — no repartition node added at all
    assert(out eq alreadyWide)
  }

  test("fanOut returns a streaming frame unchanged instead of touching its RDD") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val df = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long].toDF().toDF("id")
    assert(df.isStreaming)
    assert(Parallelize.fanOut(df, col("id")) eq df)
  }

  test("fanOut relocates rows without changing them (keyed, deterministic)") {
    val narrow = spark.range(0, 5000).coalesce(1)
      .select(col("id"), (col("id") * 37 % 101).as("v"))
    val base = narrow.collect().map(_.toSeq).sortBy(_.toString)
    val fanned = Parallelize.fanOut(narrow, col("id"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(fanned.toSeq == base.toSeq)
    // hash partitioning is a pure function of the key: a second run
    // lands every row in the same partition (retry determinism,
    // SPARK-38388 — the reason fanOut never uses round-robin)
    val p1 = Parallelize.fanOut(narrow, col("id"))
      .select(col("id"), org.apache.spark.sql.functions.spark_partition_id().as("p"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val p2 = Parallelize.fanOut(narrow, col("id"))
      .select(col("id"), org.apache.spark.sql.functions.spark_partition_id().as("p"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(p1 == p2)
  }

  test("r19 fanOut call sites produce identical rows to a serial plan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "de", "omicron pi rho sigma tau upsilon phi chi psi omega"),
      (4L, "fr", "one two"),
      (5L, "fr", "")
    ).toDF("doc_id", "lang", "text")
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    // chunkContentDefined and dupSpanStats both fan out internally; the
    // fan-out must be invisible in the result whatever the input's
    // partitioning (1 partition vs already-wide)
    val narrow = docs.coalesce(1)
    val wide = docs.repartition(spark.sparkContext.defaultParallelism * 2,
      col("doc_id"))
    assert(sorted(graft.ext.CorpusOps.chunkContentDefined(narrow)) ==
      sorted(graft.ext.CorpusOps.chunkContentDefined(wide)))
    assert(sorted(graft.ext.DedupOps.dupSpanStats(narrow, n = 3)) ==
      sorted(graft.ext.DedupOps.dupSpanStats(wide, n = 3)))
  }
}
