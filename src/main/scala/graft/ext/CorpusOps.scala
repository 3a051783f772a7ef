package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Corpus-curation operators (charter, SURVEY §0(c)) — the
  * selection/quality passes a training-data pipeline runs between dedup
  * and tokenization: repetition quality signals, deterministic
  * stratified sampling, per-key quotas.
  *
  * Scale design: every operator here is one partial-aggregable shuffle
  * or a pure map-side filter — nothing quadratic, nothing driver-side.
  */
object CorpusOps {

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.3 family),
    * token-level: `top_token_fraction` (occurrences of the most frequent
    * token / all tokens) and `dup_token_fraction` (occurrences of tokens
    * appearing ≥ 2 times / all tokens). High values mark boilerplate and
    * keyword-stuffing pages that length/stopword heuristics miss.
    *
    * Integer counts end-to-end with one double division per signal, so
    * the DuckDB mirror is exact. Two aggregations, but the first groups
    * by (doc_id, token) — partial aggregation collapses each doc's
    * tokens map-side, so the shuffle carries per-doc type counts, not
    * raw tokens.
    */
  def repetitionSignals(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(TextOps.tokens(col(textCol))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        (max(col("c")).cast("double") / sum(col("c"))).as("top_token_fraction"),
        (sum(when(col("c") > 1, col("c")).otherwise(0)).cast("double") /
          sum(col("c"))).as("dup_token_fraction"))

  /** Deterministic stratified sampling by content hash: keep a document
    * iff the first hex byte of md5(text) sorts ≤ the stratum's cut
    * (two lowercase hex chars, "00".."ff" ≈ rate/256; absent stratum =
    * keep nothing). Hash-gated sampling is how a pipeline downsamples an
    * over-represented language/domain REPRODUCIBLY: the decision is a
    * pure function of content, so reruns, retries, and different
    * partitionings select the identical subset — no RNG state anywhere.
    * Map-side only; the md5 prunes to a 2-char comparison per row.
    */
  def stratifiedHashSample(docs: DataFrame, cuts: Map[String, String],
                           strataCol: String = "lang",
                           textCol: String = "text"): DataFrame = {
    require(cuts.values.forall(c => c.length == 2 && c.matches("[0-9a-f]{2}")),
      s"cuts must be 2-char lowercase hex: $cuts")
    val cutExpr = cuts.foldLeft(lit(null).cast("string")) { case (acc, (k, cut)) =>
      when(col(strataCol) === k, lit(cut)).otherwise(acc)
    }
    // NULL cut (unlisted stratum) compares NULL → filter drops the row
    docs.filter(substring(md5(col(textCol)), 1, 2) <= cutExpr)
  }

  /** Quality-WEIGHTED deterministic sampling: keep a doc iff its
    * content-hash fraction (first 4 md5 hex chars / 65536 — uniform on a
    * 16-bit lattice, no RNG) is below its per-doc `weight` — so a
    * weight-0.9 doc survives with probability ~0.9 and a weight-0.1 doc
    * ~0.1, reproducible across runs and engines. The quality-weighted
    * mixing step between scoring and training that the flat
    * ([[stratifiedHashSample]]) and quota ([[capPerKey]]) samplers can't
    * express. Weights are compared as IEEE doubles: identical expression
    * shape on both engines means identical bits, and the 16-bit hash
    * lattice makes an exact tie measure-zero-in-practice (absent by
    * assertion on the fixture). Empty/NULL text is dropped (no content
    * to hash).
    */
  def weightedHashSample(docs: DataFrame, weight: Column,
                         textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull && length(col(textCol)) > 0 &&
      (conv(substring(md5(col(textCol)), 1, 4), 16, 10).cast("double") / 65536.0)
        < weight)

  /** Leakage-safe train/val/test split: assign by near-dup CLUSTER, not
    * by document. Splitting docs independently leaks — a near-duplicate
    * pair straddling train/test hands the model its own eval answers —
    * so the unit of assignment is the connected component of the
    * caller's near-dup pair graph ([[DedupOps.connectedComponents]]):
    * every doc hashes its component ROOT, and the whole cluster lands
    * in one split. Docs in no pair root to themselves. Cuts follow the
    * [[stratifiedHashSample]] convention — 2-hex-char boundaries on
    * md5(root): ≤ valCut → "val", ≤ testCut → "test", else "train"
    * (≈ valCut/256 and (testCut−valCut)/256 of CLUSTERS respectively).
    * Deterministic: pure function of content-derived roots, no RNG —
    * re-runs, retries, and corpus repartitionings produce the identical
    * split.
    *
    * Scale: CC is the iterative min-label pass (O(log d) rounds); the
    * root join is one shuffle on doc id; the assignment itself is a
    * map-side md5-prefix comparison.
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       valCut: String = "0c", testCut: String = "19",
                       idCol: String = "doc_id"): DataFrame = {
    require(Seq(valCut, testCut).forall(_.matches("[0-9a-f]{2}")) && valCut <= testCut,
      s"cuts must be 2-char lowercase hex with valCut <= testCut: $valCut, $testCut")
    val cc = DedupOps.connectedComponents(pairs)
      .withColumnRenamed("node", idCol).withColumnRenamed("root", "__root0")
    val rooted = docs.join(cc, Seq(idCol), "left")
      .withColumn("__root", coalesce(col("__root0"), col(idCol)))
    val hx = substring(md5(col("__root").cast("string")), 1, 2)
    rooted.withColumn("split",
        when(hx <= valCut, "val").when(hx <= testCut, "test").otherwise("train"))
      .drop("__root0", "__root")
  }

  /** Per-key quota (the Common-Crawl per-domain cap): keep at most `n`
    * rows per key under a caller-supplied TOTAL order (include a unique
    * tiebreak — and prefer integer order columns: a float computed
    * independently by two engines can flip rows at the quota boundary).
    * One hash shuffle on the key; the window sort is per-key.
    */
  def capPerKey(docs: DataFrame, keys: Seq[Column], order: Seq[Column],
                n: Int): DataFrame =
    graft.ops.Dedup.topNPerKey(docs, keys, order, n)

  /** Shared tail of the rebalancing samplers: md5-ordered take of each
    * key's quota (the [[stratifiedHashSample]] determinism convention —
    * pure content function, no RNG, repartition-invariant; doc id as the
    * unique tiebreak). `quotaDf` is (keyCol, __quota) — key-count-sized,
    * broadcast.
    */
  private def takePerKeyQuota(docs: DataFrame, quotaDf: DataFrame, keyCol: String,
                              textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(md5(col(textCol)), col(idCol))
    docs.join(broadcast(quotaDf), Seq(keyCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__quota"))
      .drop("__rn", "__quota")
  }

  /** Per-key quota sampling against a CALLER-SUPPLIED quota map (keys
    * absent from the map are dropped). The mechanism under
    * [[budgetSample]] and [[temperatureQuotas]]: deterministic md5-order
    * take of `quotas(k)` rows per key.
    */
  def quotaSample(docs: DataFrame, quotas: Map[String, Long],
                  keyCol: String = "lang", textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    takePerKeyQuota(docs, quotas.toSeq.toDF(keyCol, "__quota"),
      keyCol, textCol, idCol)
  }

  /** Budget-PROPORTIONAL downsample: quota_k = (budget · n_k) DIV N in
    * pure INTEGER arithmetic (exact and engine-portable — a float
    * normalization would flip quota boundaries by an ulp between
    * engines), then the deterministic md5-order take. Floor division
    * means up to (#keys − 1) rows under budget — the standard
    * largest-floor trade. The count/quota frame is key-count-sized and
    * broadcast; the take is one key shuffle.
    */
  def budgetSample(docs: DataFrame, budget: Long, keyCol: String = "lang",
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(budget >= 0, s"budget must be non-negative: $budget")
    // "__tot", not "__N": column resolution is case-insensitive, so a
    // name differing from "__n" only by case would REPLACE it
    val quotaDf = docs.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__tot", sum(col("__n")).over(Window.partitionBy()))
      .select(col(keyCol), expr(s"($budget * __n) DIV __tot").as("__quota"))
    takePerKeyQuota(docs, quotaDf, keyCol, textCol, idCol)
  }

  /** XLM-R-style temperature rebalancing quotas (Conneau et al. 2020,
    * arXiv:1911.02116 §3.1): quota_k = ⌊budget · n_k^α / Σ n^α⌋ — α < 1
    * flattens the key distribution, upweighting low-resource languages
    * relative to their corpus share; α = 1 degenerates to
    * [[budgetSample]]'s proportional split. Driver-side by design (the
    * per-key count table is tiny and the irrational powers make the
    * arithmetic non-portable for an engine-vs-engine oracle — the
    * SELECTION under a fixed quota map stays exactly deterministic via
    * [[quotaSample]]). The power sum folds in sorted key order so the
    * result is stable across runs.
    */
  def temperatureQuotas(docs: DataFrame, alpha: Double, budget: Long,
                        keyCol: String = "lang"): Map[String, Long] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1]: $alpha")
    val counts = docs.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val pw = counts.map { case (k, n) => (k, math.pow(n.toDouble, alpha)) }
    val s = pw.sortBy(_._1).map(_._2).sum
    pw.map { case (k, p) => k -> math.floor(budget * p / s).toLong }.toMap
  }

  /** Fixed-size token chunking with overlap — the split a pipeline runs
    * before tokenizer/packing so no training sequence crosses a document
    * boundary. Emits (doc_id, chunk_idx, chunk_text, chunk_tokens):
    * chunk i covers tokens [i·stride, i·stride + size) with
    * stride = size − overlap; the last chunk may be short; a document
    * shorter than `size` yields exactly one chunk. Pure Column
    * expressions (sequence → transform → posexplode) — map-side,
    * chunk count per row is data-proportional, no shuffle.
    */
  // hex digit → value as a Column expression (no engine-specific
  // conv(): a 16-branch CASE both engines evaluate identically)
  private def hexNibble(c: Column): Column =
    (0 until 16).foldLeft(lit(-1)) { (acc, v) => when(c === f"$v%x", v).otherwise(acc) }

  /** Deterministic shard assignment for training output: shard =
    * (first md5 byte of the key) mod `numShards`. A pure function of
    * the key, so re-runs and retries land every row in the same shard —
    * the property that lets a training job resume against a partially
    * written corpus. Map-side; pair with [[writeSharded]] to lay the
    * corpus out as one directory per shard.
    */
  def assignShards(docs: DataFrame, numShards: Int,
                   keyCol: String = "doc_id"): DataFrame = {
    require(numShards > 0 && numShards <= 256, s"need 1..256 shards: $numShards")
    val hx = md5(col(keyCol).cast("string"))
    docs.withColumn("shard",
      (hexNibble(substring(hx, 1, 1)) * 16 + hexNibble(substring(hx, 2, 1))) % numShards)
  }

  /** CONTENT-DEFINED chunking (the Rabin/CDC family used by
    * dedup-friendly storage and crawl-snapshot pipelines): a chunk
    * boundary falls after token i wherever the k-gram ENDING at i
    * hashes at or below `cutHex` (2 lowercase hex chars ≈ rate/256 —
    * the [[stratifiedHashSample]] convention), so boundaries are a pure
    * LOCAL function of content. The property fixed-size chunking lacks:
    * inserting or deleting tokens shifts boundaries only within k
    * tokens of the edit — every chunk past the edit's k-gram window
    * keeps identical CONTENT (fixed-size re-frames everything
    * downstream), which is what lets chunk-level dedup absorb
    * re-crawled documents with local edits. Emits the
    * (doc_id, chunk_idx, chunk_text, chunk_tokens) shape of
    * [[chunkTokens]]; expected chunk length ≈ 256/(cut+1) tokens.
    * Production CDC adds min/max chunk bounds via a sequential scan;
    * this form keeps the decision local so reruns and the oracle select
    * identical boundaries. Chunking itself is per-row; the only
    * exchange is [[graft.runtime.Parallelize.fanOut]]'s hash
    * repartition on `doc_id` when the input is narrower than the
    * session's parallelism, which moves whole documents and so cannot
    * change a boundary.
    */
  def chunkContentDefined(docs: DataFrame, k: Int = 3, cutHex: String = "07",
                          textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(cutHex.matches("[0-9a-f]{2}"), s"cutHex must be 2-char lowercase hex: $cutHex")
    val toks = col("__toks")
    val n = size(toks)
    // boundary positions i in [k, n-1]; position n never opens a chunk
    // (the tail always closes at n). Guarded: Spark's sequence DESCENDS
    // when the upper bound is below the lower one.
    val bnds = when(n - 1 < k, array().cast("array<int>"))
      .otherwise(filter(sequence(lit(k), n - 1), i =>
        substring(md5(concat_ws(" ", slice(toks, i - (k - 1), lit(k)))), 1, 2) <= cutHex))
    // per-token md5 makes this compute-bound, not byte-bound: repair scan
    // parallelism on narrow inputs (guide §2.5; no-op on wide scans)
    graft.runtime.Parallelize.fanOut(
        docs.select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__toks")),
        col("doc_id"))
      .select(col("doc_id"),
        posexplode(zip_with(
          concat(array(lit(1)), transform(bnds, b => b + 1)),
          concat(bnds, array(n)),
          (s, e) => slice(toks, s, greatest(e - s + 1, lit(0))))))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        concat_ws(" ", col("col")).as("chunk_text"),
        size(col("col")).cast("bigint").as("chunk_tokens"))
  }

  /** Packed-stream sequence assignment (the GPT-style training pack:
    * concatenate the token stream, slice fixed windows — no padding):
    * each chunk's `bin` is the window its START offset falls in within
    * its shard's deterministic stream order, `bin_offset` the position
    * inside that window. Sequences may cross bin boundaries — that is
    * the packed-stream contract; the loader reads bins as contiguous
    * windows of the shard stream. Integer arithmetic throughout
    * (DIV/MOD on the running token sum, never a double at 100 TB
    * stream offsets).
    *
    * Scale: the running sum is a window per SHARD (one shuffle on the
    * shard key, each shard's prefix-sum independent) — the global-order
    * single-partition window a naive pack would need is exactly what
    * sharding removes. Order within shard is caller-supplied and must
    * be deterministic (doc_id, chunk_idx).
    */
  def packSequences(chunks: DataFrame, budgetTokens: Long,
                    shardCol: String = "shard",
                    orderCols: Seq[String] = Seq("doc_id", "chunk_idx"),
                    tokensCol: String = "chunk_tokens"): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    val w = Window.partitionBy(col(shardCol)).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks.withColumn("__start", sum(col(tokensCol)).over(w) - col(tokensCol))
      .withColumn("bin", expr(s"CAST(__start DIV $budgetTokens AS BIGINT)"))
      .withColumn("bin_offset", expr(s"CAST(__start % $budgetTokens AS BIGINT)"))
      .drop("__start")
  }

  /** Hash-sharded corpus layout: one `shard=K` parquet directory per
    * shard, each internally splittable — the write-side partitioning a
    * training loader consumes shard-by-shard. The shuffle-free write:
    * partitionBy routes rows by the (map-side) shard column without a
    * repartition, so each task writes up to `numShards` files; callers
    * wanting exactly one file per shard repartition on `shard` first
    * and trade one shuffle for file count.
    */
  def writeSharded(docs: DataFrame, numShards: Int, path: String,
                   keyCol: String = "doc_id"): Unit =
    assignShards(docs, numShards, keyCol)
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  def chunkTokens(docs: DataFrame, chunkSize: Int, overlap: Int,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize: chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    // tokenize in a separate projection: the per-chunk lambda re-evaluates
    // captured subtrees, so an inlined split would re-run per chunk
    val toks = col("__toks")
    // number of chunks = 1 + ceil(max(0, n - chunkSize) / stride), via
    // integer arithmetic: 1 + floor((max(0, n - chunkSize) + stride - 1) / stride)
    val nChunks = lit(1) +
      floor((greatest(size(toks) - chunkSize, lit(0)) + (stride - 1)) / stride).cast("int")
    docs.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1), i =>
          slice(toks, i * stride + 1, lit(chunkSize)))))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        concat_ws(" ", col("col")).as("chunk_text"),
        size(col("col")).cast("bigint").as("chunk_tokens"))
  }
}
