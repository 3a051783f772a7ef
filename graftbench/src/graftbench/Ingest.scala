package graftbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.runtime.{BucketedFragmentStore, FragmentedTable, KeyedFragmentStore}
import graft.streaming.StreamingOps

/** The corpus store as the sink sees it, with each call timed as a
  * `store.*` span (traced run only; the untraced run hands the sink the
  * bare table).
  */
final class TimedStore(inner: FragmentedTable, tracer: Tracer) extends KeyedFragmentStore {
  private def compaction(folded: => Boolean): Boolean = {
    val f = tracer.span("store.compact")(folded)
    if (f) tracer.span("store.compaction")(())
    f
  }
  def keyColumn: String = inner.keyColumn
  def read(): Option[DataFrame] = tracer.span("store.read")(inner.read())
  def readWhere(pred: Column): Option[DataFrame] = tracer.span("store.read")(inner.readWhere(pred))
  def upsert(batch: DataFrame): Unit = tracer.span("store.upsert")(inner.upsert(batch))
  override def upsertLight(batch: DataFrame): Unit =
    tracer.span("store.upsert")(inner.upsertLight(batch))
  def deleteKeys(keys: DataFrame): Unit = inner.deleteKeys(keys)
  def deleteWhere(pred: Column): Unit = inner.deleteWhere(pred)
  def compactTiered(tierFactor: Double): Boolean = compaction(inner.compactTiered(tierFactor))
  def maybeCompact(maxLive: Int, tierFactor: Double): Boolean =
    compaction(inner.maybeCompact(maxLive, tierFactor))
  def compactIfOver(maxLive: Int): Boolean = compaction(inner.compactIfOver(maxLive))
  def compact(): Unit = compaction { inner.compact(); true }
}

/** The corpus_ingest ops of [[Corpus]]: streaming near-dup ingest
  * through the banded sink on fragment stores, one trigger
  * (`processAllAvailable`) per op, and pruned key-range reads on the same
  * corpus store between triggers.
  */
final class Ingest(spark: SparkSession, seed: Long, sz: Sizes, tracer: Tracer) {
  import spark.implicits._
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val Threshold = 0.8
  private var dir: Path = _
  private var corpus: FragmentedTable = _
  private var input: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private var batch = 0
  private var firstTimedId = 0L
  private val progress = mutable.ArrayBuffer[Map[String, Long]]()
  private val reads = mutable.ArrayBuffer[(Double, Int)]() // (scan ratio, live fragments)
  private var writtenOnceAtStart = 0L

  private def docIds(b: Int): Long = sz.seedDocs.toLong + b.toLong * sz.batchDocs

  def setup(d: Path): Unit = {
    dir = d
    val store = d.resolve("store").toString
    corpus = new FragmentedTable(spark, store, "docs", "doc_id")
    val sigs = BucketedFragmentStore(spark, store, "docsigs", "doc_id", buckets = 4)
    val bands = BucketedFragmentStore(spark, store, "docbands", "__bk", buckets = 8,
      routeCol = Some("band_key"))
    val sinkStore: KeyedFragmentStore =
      if (tracer.enabled) new TimedStore(corpus, tracer) else corpus
    input = MemoryStream[(Long, String)]
    query = StreamingOps.corpusIngestNearDupBandedSink(
        input.toDF().toDF("doc_id", "text"), sinkStore, sigs, bands,
        threshold = Threshold, compactEvery = sz.compactEvery.toLong)
      .option("checkpointLocation", d.resolve("checkpoint").toString)
      .start()
    // the seed corpus is the stream's batch 0, so ingest batch b is
    // stream batch b + 1
    input.addData(Inputs.seedCorpus(seed, sz.seedDocs).map(x => (x.id, x.text)))
    query.processAllAvailable()
  }

  /** One discarded read; the seed corpus's trigger was the trigger's
    * warm-up.
    */
  def warmUp(): Unit = read(-1)()

  /** One trigger over the next batch; the batch is generated untimed. */
  def trigger(): () => Unit = {
    val rows = Inputs.ingestBatch(seed, batch, sz.batchDocs, sz.seedDocs)
      .map(x => (x.id, x.text))
    batch += 1
    () => {
      input.addData(rows)
      tracer.span("streaming.trigger")(query.processAllAvailable())
    }
  }

  /** Op i's read: a key range of ~1% of the ids ingested so far. */
  def read(i: Int): () => Unit = {
    val r = Inputs.rng(seed, 9, i)
    val hi = docIds(batch)
    val lo = (r.nextDouble() * hi * 0.99).toLong
    val pred = col("doc_id") >= lo && col("doc_id") < lo + math.max(hi / 100, 1L)
    () => {
      val (df, report) = tracer.span("store.read")(corpus.readWhereReport(pred))
      df.foreach(_.collect())
      if (tracer.enabled)
        reads += ((report.scanned.toDouble / math.max(report.total, 1), report.total))
    }
  }

  /** Traced run, after a trigger: its `StreamingQueryProgress`. */
  def observe(): Unit = {
    import scala.jdk.CollectionConverters._
    // the trigger's progress is posted as it finishes (a batch can
    // report twice; the entry with addBatch is the one that ran it)
    def ran = query.recentProgress
      .find(p => p.batchId == batch && p.durationMs.containsKey("addBatch"))
    val deadline = System.nanoTime() + 5000000000L
    var p = ran
    while (p.isEmpty && System.nanoTime() < deadline) { Thread.sleep(5); p = ran }
    p.foreach(x => progress += x.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap)
  }

  private def ids(): Set[Long] =
    corpus.read().map(_.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)

  def checks(): Seq[(String, Boolean)] = {
    val live = ids()
    val sent = (0 until batch).flatMap(b => Inputs.ingestBatch(seed, b, sz.batchDocs, sz.seedDocs))
    val (origs, dups) = sent.partition(_.kind == Inputs.Original)
    Seq(
      "ingest.originals_kept" -> (origs.forall(d => live(d.id)) &&
        (0L until sz.seedDocs).forall(live)),
      "ingest.exact_dups_removed" -> dups.filter(_.kind.isInstanceOf[Inputs.ExactOf]).forall(d => !live(d.id)),
      "ingest.near_dups_removed" -> dups.filter(_.kind.isInstanceOf[Inputs.NearOf]).forall(d => !live(d.id)))
  }

  def survivorRatio(): Double = {
    val live = ids()
    val timedIds = firstTimedId until docIds(batch)
    timedIds.count(live).toDouble / math.max(timedIds.size, 1)
  }

  def spaceBytes(scratch: Path): (Long, Long) = {
    val store = dir.resolve("store").toString
    val sigs = BucketedFragmentStore(spark, store, "docsigs", "doc_id", buckets = 4)
    val bands = BucketedFragmentStore(spark, store, "docbands", "__bk", buckets = 8,
      routeCol = Some("band_key"))
    val once = Seq(corpus.read(), sigs.read(), bands.read()).flatten.zipWithIndex
      .map { case (df, k) => Workload.onceBytes(df, scratch, s"once$k") }.sum
    (Workload.dirBytes(dir.resolve("store")), once)
  }

  def layers(ops: Seq[(Int, OpSample)], tracer: Tracer): Map[String, Double] = {
    val triggers = ops.map(_._2).filter(_.kind == "ingest")
    val nT = math.max(triggers.size, 1).toDouble
    def dur(k: String) = progress.map(_.getOrElse(k, 0L)).sum / 1e3 / math.max(progress.size, 1)
    val storeBytes = triggers.flatMap(_.counts).flatMap(_.writes)
      .filter(_._1.startsWith("docs__")).map(_._3).sum.toDouble
    val live = corpus.read().map(df => Workload.onceBytes(df, dir, "once_live")).getOrElse(0L)
    val addedOnce = (live - writtenOnceAtStart).toDouble
    Map(
      "streaming.addbatch_s" -> dur("addBatch"),
      "streaming.wal_s" -> (dur("walCommit") + dur("commitOffsets")),
      "store.read_s" -> tracer.perOp("store.read", ops, Set("read")),
      "store.upsert_s" -> tracer.perOp("store.upsert", ops, Set("ingest")),
      "store.compact_s" -> tracer.perOp("store.compact", ops, Set("ingest")),
      "store.compactions" -> tracer.countPerOp("store.compaction", ops, Set("ingest")),
      "store.live_fragments" -> (if (reads.isEmpty) 0.0 else reads.map(_._2).sum.toDouble / reads.size),
      "store.scan_ratio" -> (if (reads.isEmpty) 0.0 else reads.map(_._1).sum / reads.size),
      "store.write_amp" -> (if (addedOnce > 0) storeBytes / addedOnce else 0.0),
      "ingest.survivor_ratio" -> survivorRatio())
  }

  /** Baseline for write amplification: the live corpus written once,
    * taken when the timed loop starts.
    */
  def beginTimed(): Unit = {
    firstTimedId = docIds(batch)
    reads.clear()
    if (tracer.enabled)
      writtenOnceAtStart = corpus.read().map(df => Workload.onceBytes(df, dir, "once_live")).getOrElse(0L)
  }

  def close(): Unit = {
    if (query != null) { query.stop(); query.awaitTermination() }
    query = null
  }
}
