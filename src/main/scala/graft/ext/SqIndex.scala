package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Scalar quantization (SQ8 — the FAISS `ScalarQuantizer` family,
  * and the third leg of the quantized-ANN story next to [[PqIndex]] and
  * [[IvfPqIndex]]): each DIMENSION is affinely mapped to an 8-bit code,
  * so a vector stores as `dims` bytes — 8× smaller than float64 — while
  * staying independently decodable per dimension. Where PQ buys ~32×
  * compression by quantizing whole subspaces to shared centroids (and
  * pays codebook-residual error that needs a refine stage), SQ8's error
  * is bounded per dimension by half a quantization step
  * ((max−min)/255/2) — far gentler, which is why it is the standard
  * first rung: big enough memory win to keep a code table resident,
  * small enough error that ADC rankings barely move.
  *
  *  - TRAIN — per-dimension [min, max] over the (L2-normalized) corpus.
  *    One aggregate: `posexplode` then per-position min/max, which
  *    map-side-combines to dims·partitions rows before the single
  *    shuffle. min/max commute, so training is EXACT and
  *    order-independent — no sample, no RNG; the 2·dims doubles ARE the
  *    whole model (contrast PQ's sampled Lloyd).
  *  - ENCODE — one map-only pass: code_d = round((v_d − min_d)/step_d),
  *    clamped to [0, 255]; a zero-width dimension encodes 0.
  *  - SEARCH — asymmetric: the query keeps exact values, each corpus
  *    code contributes dot(q, dequant(code)) where
  *    dequant(code)_d = min_d + code_d·step_d — evaluated from broadcast
  *    literal min/step arrays against the CODE scan, so the corpus-wide
  *    pass never reads a vector. Top-k by the usual per-query window;
  *    [[topKRefined]] re-ranks the shortlist exactly, sharing
  *    [[PqIndex]]'s bounded-broadcast discipline.
  *
  * Storage honesty: the in-plan code column is `array<int>` (Spark has
  * no byte-array arithmetic); the 1-byte-per-dim claim is about the
  * SAVED code table, where parquet's bit-packing stores the 0..255
  * values in single bytes.
  */
final class SqIndex private (
    @transient private val codes: DataFrame,
    val vmin: Array[Double], val vmax: Array[Double]) {

  def dims: Int = vmin.length

  /** Per-dimension quantization step ((max−min)/255; 0 for a
    * degenerate constant dimension).
    */
  val step: Array[Double] =
    vmin.indices.map(d => (vmax(d) - vmin(d)) / 255.0).toArray

  private def dequantExpr(codeCol: Column): Column = {
    val lo = typedLit(vmin.toSeq)
    val st = typedLit(step.toSeq)
    transform(codeCol, (c, i) =>
      element_at(lo, i + lit(1)) + c * element_at(st, i + lit(1)))
  }

  /** (query_id, qv, corpus_id, sim): every query × code dequantized
    * score — shared tail of [[topK]] and [[topKRefined]].
    */
  private def adcScores(queries: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val q = SimilarityOps.normalized(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("v").as("qv"))
    codes.join(broadcast(q), col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("qv"), col("corpus_id"),
        SimilarityOps.dotFast(col("qv"), dequantExpr(col("code"))).as("sim"))
  }

  private def topPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("corpus_id"))))
      .filter(col("rank") <= k)

  /** Approximate top-k per query from the code scan alone. */
  def topK(queries: DataFrame, k: Int,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    topPerQuery(adcScores(queries, idCol, vecCol), k)
      .select("query_id", "corpus_id", "sim", "rank")

  /** Dequantized shortlist → exact re-rank of |Q|·shortlist vectors,
    * [[PqIndex.topKRefined]]'s shape: the corpus-wide pass reads codes,
    * only shortlisted rows fetch their true vector; the candidate side
    * broadcasts only while the shortlist keeps it small by construction.
    */
  def topKRefined(queries: DataFrame, corpus: DataFrame, k: Int, shortlist: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cand = topPerQuery(adcScores(queries, idCol, vecCol), shortlist)
      .select(col("query_id"), col("qv"), col("corpus_id"))
    val cv = SimilarityOps.normalized(corpus, idCol, vecCol)
      .select(col("id").as("corpus_id"), col("v").as("cv"))
    val candSide =
      if (shortlist <= PqIndex.maxBroadcastShortlist) broadcast(cand) else cand
    val exact = cv.join(candSide, Seq("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        SimilarityOps.dotFast(col("qv"), col("cv")).as("sim"))
    topPerQuery(exact, k).select("query_id", "corpus_id", "sim", "rank")
  }

  /** The code table (corpus_id, code array<int>) — diagnostics/spec seam. */
  private[ext] def codeTable: DataFrame = codes

  /** Persist codes + per-dimension params; reopen with [[SqIndex.load]]. */
  def save(path: String): Unit = {
    val spark = codes.sparkSession
    codes.write.mode("overwrite").parquet(s"$path/codes")
    import spark.implicits._
    vmin.indices.map(d => (d, vmin(d), vmax(d))).toDF("d", "lo", "hi")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }
}

object SqIndex {

  private[ext] def encodeExpr(vCol: Column, vmin: Array[Double],
                              step: Array[Double]): Column = {
    val lo = typedLit(vmin.toSeq)
    val st = typedLit(step.toSeq)
    transform(vCol, (x, i) => {
      val s = element_at(st, i + lit(1))
      when(s === 0d, lit(0)).otherwise(
        least(lit(255), greatest(lit(0),
          round((x - element_at(lo, i + lit(1))) / s).cast("int"))))
    })
  }

  /** Exact per-dimension [min, max] over the corpus, then a map-only
    * encode pass. Deterministic with no sample (see class doc).
    */
  def train(corpus: DataFrame,
            idCol: String = "vec_id", vecCol: String = "embedding"): SqIndex = {
    val c = SimilarityOps.normalized(corpus, idCol, vecCol)
    val mm = c.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("lo"), max("x").as("hi"))
      .orderBy("d").collect()
    require(mm.nonEmpty, "SQ training requires a non-empty corpus")
    val vmin = mm.map(_.getDouble(1))
    val vmax = mm.map(_.getDouble(2))
    val step = vmin.indices.map(d => (vmax(d) - vmin(d)) / 255.0).toArray
    new SqIndex(
      c.select(col("id").as("corpus_id"),
        encodeExpr(col("v"), vmin, step).as("code")), vmin, vmax)
  }

  /** Maintenance report from [[append]]. SQ8's drift signal is direct:
    * a value outside the trained per-dimension [min, max] CLAMPS to
    * code 0/255, where quantization error stops being bounded by half a
    * step — so the fraction of clamped values in the appended batch
    * measures exactly how much the trained ranges have stopped
    * describing the data. In-distribution batches clamp ~nothing
    * (training min/max covered the corpus); a drifted batch clamps
    * proportionally to its mass outside the box.
    */
  final case class AppendReport(appended: Long, clampedFraction: Double,
      retrainRecommended: Boolean)

  /** Incrementally extend a PERSISTED index: encode `batch` with the
    * EXISTING per-dimension ranges (map-only, O(batch) — min/max are
    * never recomputed, the code table never rewrites) and append the
    * codes. When `retrainRecommended` fires (clamped-value fraction
    * above `maxClampedFraction`), schedule [[SqIndex.train]]+[[save]];
    * training is one exact min/max aggregate, so retrains are cheap —
    * the threshold is about WRITE amplification (re-encoding the
    * corpus), not training cost. Ids are assumed unique across
    * index ∪ batch; single-writer per index dir.
    */
  def append(spark: org.apache.spark.sql.SparkSession, path: String,
             batch: DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding",
             maxClampedFraction: Double = 0.01): AppendReport = {
    val idx = load(spark, path)
    val lo = typedLit(idx.vmin.toSeq)
    val hi = typedLit(idx.vmax.toSeq)
    val c = SimilarityOps.normalized(batch, idCol, vecCol)
      .select(col("id").as("corpus_id"), col("v"))
    c.cache()
    try {
      // clamped = value strictly outside the trained box (a zero-width
      // dimension encodes 0 by contract and is not drift)
      val m = c.agg(
          count(lit(1)).as("n"),
          avg(aggregate(zip_with(col("v"), sequence(lit(0), lit(idx.dims - 1)),
              (x, d) => when(x < element_at(lo, d + lit(1)) ||
                x > element_at(hi, d + lit(1)), 1).otherwise(0)),
            lit(0), (acc, b) => acc + b).cast("double") / idx.dims).as("cf"))
        .collect().head
      val appended = m.getLong(0)
      val clamped = if (m.isNullAt(1)) 0.0 else m.getDouble(1)
      if (appended > 0L)
        c.select(col("corpus_id"),
            encodeExpr(col("v"), idx.vmin, idx.step).as("code"))
          .write.mode("append").parquet(s"$path/codes")
      AppendReport(appended, clamped,
        retrainRecommended = appended > 0L && clamped > maxClampedFraction)
    } finally c.unpersist()
  }

  /** Reopen a persisted index: params are driver-collected (dims rows),
    * the code table is the parquet scan — no re-encode.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): SqIndex = {
    graft.functions.VectorFunctions.register(spark)
    val params = spark.read.parquet(s"$path/params").orderBy("d").collect()
    new SqIndex(spark.read.parquet(s"$path/codes"),
      params.map(_.getDouble(1)), params.map(_.getDouble(2)))
  }
}
