package graftbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.ext.{DedupOps, IndexProfile, SimilarityOps, VectorIndex}

/** The corpus_curate ops of [[Corpus]]: batch curation passes over fresh
  * seeded shards (exact dedup → MinHash pairs + connected-components
  * dedup → duplicated span scrub → edit-distance pairs), and kNN query
  * batches against a `VectorIndex` built in setup. No writes, no events.
  */
final class Curate(spark: SparkSession, seed: Long, sz: Sizes, tracer: Tracer) {
  import spark.implicits._

  val Threshold = 0.8
  val MaxEdit = 20
  val K = 10
  /** The default profile with its exact-search floor lowered below the
    * corpus size, so the same IVF rung `balanced` picks above 50k rows
    * serves the searches at a corpus the run's time budget can build.
    */
  val Profile: IndexProfile = IndexProfile.balanced.copy(exactFloor = 2000L)
  /** Recall floor of the ANN rung against exact search (declared). */
  val RecallFloor = 0.9
  private var dir: Path = _
  private var index: VectorIndex = _
  private var shard = 0
  private var query = 0
  // per checked pass: (shard, survivors, edit pairs)
  private val outputs = mutable.ArrayBuffer[(Int, Set[Long], Set[(Long, Long, Long)])]()
  private val pairsFound = mutable.ArrayBuffer[Long]()

  private def vectors(rows: Seq[(Long, Array[Float])]): DataFrame =
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")

  def setup(d: Path): Unit = {
    dir = d
    // the corpus lands as parquet first: a local relation would ride
    // inside every plan that touches it
    val corpusPath = d.resolve("vectors").toString
    vectors(Inputs.corpusVectors(seed, sz.indexVectors)).write.parquet(corpusPath)
    index = VectorIndex.build(spark.read.parquet(corpusPath),
      d.resolve("index").toString, Profile)
  }

  /** One pass (its outputs kept for the checks) and one query batch. */
  def warmUp(): Unit = {
    val s = nextShard()
    pass(s, shardFrame(s), capture = true); knn()()
  }

  /** Persist + count: every step's output is computed exactly once and
    * in full, in traced and untraced runs alike.
    */
  private def force(name: String, df: DataFrame, held: mutable.Buffer[DataFrame]): (DataFrame, Long) =
    tracer.span(name) {
      val p = df.persist(StorageLevel.MEMORY_ONLY)
      held += p
      (p, p.count())
    }

  /** A pass over the next shard; the shard is generated untimed. */
  def pass(): () => Unit = {
    val s = nextShard()
    val docs = shardFrame(s)
    () => pass(s, docs, capture = false)
  }

  /** The next query batch. */
  def knn(): () => Unit = {
    val q = vectors(Inputs.queryBatch(seed, query, sz.queryBatch)); query += 1
    () => tracer.span("index.search")(index.search(q, K).collect())
  }

  private def nextShard(): Int = { shard += 1; shard - 1 }

  private def shardFrame(s: Int): DataFrame =
    Inputs.curateShard(seed, s, sz.shardDocs)
      .map(x => (x.id, x.text, x.lang)).toDF("doc_id", "text", "lang")

  private def pass(s: Int, docs: DataFrame, capture: Boolean): Unit = {
    val held = mutable.ArrayBuffer[DataFrame]()
    try {
      val (exact, _) = force("dedup.exact", DedupOps.dedupExact(docs), held)
      val (pairs, nPairs) = force("dedup.minhash", DedupOps.minHashNearDupPairs(exact, Threshold), held)
      val (kept, _) = force("dedup.cc", DedupOps.dedupNearDupsCC(exact, pairs), held)
      val (scrubbed, _) = force("dedup.scrub", DedupOps.scrubDupSpans(kept), held)
      val clean = scrubbed.join(kept.select("doc_id", "lang"), "doc_id")
        .withColumnRenamed("clean_text", "text")
      val (edits, _) = force("dedup.edit", DedupOps.editDistancePairs(clean, MaxEdit), held)
      pairsFound += nPairs
      if (capture)
        outputs += ((s, kept.select("doc_id").as[Long].collect().toSet,
          edits.select("doc_a", "doc_b", "dist").as[(Long, Long, Long)].collect().toSet))
    } finally held.foreach(_.unpersist(blocking = true))
  }

  /** Checks the warm-up pass's outputs (the same code the timed passes
    * run, on shard 0) and the index's recall.
    */
  def checks(): Seq[(String, Boolean)] = {
    val perPass = outputs.toSeq.flatMap { case (s, kept, edits) =>
      val docs = Inputs.curateShard(seed, s, sz.shardDocs)
      def idsOf(p: Inputs.Kind => Boolean) = docs.filter(d => p(d.kind)).map(_.id)
      val typoPairs = docs.collect { case Inputs.Doc(id, _, _, Inputs.TypoOf(src)) => (src, id) }.toSet
      Seq(
        s"curate.shard$s.originals_kept" -> idsOf {
          case Inputs.Original | Inputs.TypoOf(_) => true
          case _ => false
        }.forall(kept),
        s"curate.shard$s.exact_dups_removed" -> idsOf(_.isInstanceOf[Inputs.ExactOf]).forall(!kept(_)),
        s"curate.shard$s.near_dups_removed" -> idsOf(_.isInstanceOf[Inputs.NearOf]).forall(!kept(_)),
        s"curate.shard$s.edit_pairs" -> (edits.map(e => (e._1, e._2)) == typoPairs &&
          edits.forall(_._3 <= MaxEdit)))
    }
    perPass :+ ("knn.recall_floor" -> (recall() >= RecallFloor))
  }

  private var recallCache: Option[Double] = None

  /** Recall@K of the index against `SimilarityOps.bruteForceTopK` over
    * two query batches not used by the timed loop.
    */
  def recall(): Double = recallCache.getOrElse {
    val q = vectors(Inputs.queryBatch(seed, 1000000, 64))
    val corpus = vectors(Inputs.corpusVectors(seed, sz.indexVectors))
    val exact = SimilarityOps.bruteForceTopK(corpus, q, K)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val got = index.search(q, K).select(col("query_id"), col("corpus_id"))
      .as[(Long, Long)].collect().toSet
    val r = exact.count(got).toDouble / math.max(exact.size, 1)
    recallCache = Some(r)
    r
  }

  def spaceBytes(scratch: Path): (Long, Long) =
    (Workload.dirBytes(dir.resolve("index")),
      Workload.onceBytes(vectors(Inputs.corpusVectors(seed, sz.indexVectors)), scratch, "vectors_once"))

  def layers(ops: Seq[(Int, OpSample)], tracer: Tracer): Map[String, Double] = {
    val c = Set("curate")
    Map(
      "dedup.exact_s" -> tracer.perOp("dedup.exact", ops, c),
      "dedup.minhash_s" -> tracer.perOp("dedup.minhash", ops, c),
      "dedup.cc_s" -> tracer.perOp("dedup.cc", ops, c),
      "dedup.scrub_s" -> tracer.perOp("dedup.scrub", ops, c),
      "dedup.edit_s" -> tracer.perOp("dedup.edit", ops, c),
      "dedup.pairs_found" -> (if (pairsFound.isEmpty) 0.0 else pairsFound.sum.toDouble / pairsFound.size),
      "index.recall" -> recall())
  }
}
