package graft.streaming

import graft.SparkSpec
import graft.runtime.FragmentedTable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The stateful ingest sinks over FragmentedTable: identical dedup /
  * quarantine / side-table semantics to their Materializer-backed
  * counterparts (StreamingSpec), with the O(batch) write profile
  * gated directly — each trigger adds at most one corpus fragment
  * whose ROWS are the batch's survivors, never a corpus rewrite.
  */
class FragmentedSinkSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-fsink").toString

  /** Row count of the newest fragment dir of `table` under `dir` —
    * the per-trigger write the O(batch) gate bounds.
    */
  private def newestFragmentRows(dir: String, table: String): Long = {
    val frags = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(s"${table}__frag_"))
    assert(frags.nonEmpty, s"no fragments for $table in $dir")
    spark.read.parquet(frags.maxBy(_.lastModified()).getPath).count()
  }

  test("ingest sink runs unchanged against a BUCKETED store; writes stay O(batch)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = freshDir()
    val bs = graft.runtime.BucketedFragmentStore(spark, dir, "corpus", "doc_id",
      buckets = 4)
    def corpus: Set[Long] = bs.read()
      .map(_.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.corpusIngestFragmentedSink(
      in.toDF().toDF("doc_id", "text"), bs, compactEvery = 2L).start()
    try {
      in.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      q.processAllAvailable()
      // within-batch content dedup keeps the lowest id per text
      assert(corpus == Set(1L, 2L), corpus.toString)
      val afterFirst = bs.fragmentCounts().sum
      // batch 2: one dup of the corpus, one novel; then the cadence
      // tier-folds per bucket
      in.addData((11L, "beta"), (12L, "gamma"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 12L), corpus.toString)
      assert(bs.fragmentCounts().sum <= afterFirst + 1,
        s"per-trigger writes must be O(batch): ${bs.fragmentCounts()}")
      // replay: everything dedups, no fragment written
      val before = bs.fragmentCounts().sum
      in.addData((11L, "beta"), (12L, "gamma"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 12L))
      assert(bs.fragmentCounts().sum == before, "replay must not write")
    } finally q.stop()
  }

  test("key-deletion sink: O(batch) tombstones, replay writes nothing, unknown keys dropped") {
    implicit val sqlCtx = spark.sqlContext
    val dir = freshDir()
    val frag = new FragmentedTable(spark, dir, "corpus", "doc_id")
    frag.upsert(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text"))
    def corpus: Set[Long] = frag.read()
      .map(_.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)
    val in = MemoryStream[Long]
    val q = StreamingOps.keyDeletionFragmentedSink(
      in.toDF().toDF("doc_id"), frag, compactEvery = 3L).start()
    try {
      // trigger 0: delete 2 and a key the corpus never held
      in.addData(2L, 99L)
      q.processAllAvailable()
      assert(corpus == Set(1L, 3L, 4L), corpus.toString)
      assert(frag.fragmentCount() == 2, "one tombstone fragment per trigger")
      assert(newestFragmentRows(dir, "corpus") == 1L,
        "tombstone fragment must hold only the LIVE requested keys")
      // trigger 1: replay — 2 is already tombstoned (not live): no write
      in.addData(2L)
      q.processAllAvailable()
      assert(corpus == Set(1L, 3L, 4L))
      assert(frag.fragmentCount() == 2, "replay must not write a fragment")
      // trigger 2: real delete + compaction cadence (batchId 2 % 3 == 2)
      in.addData(3L)
      q.processAllAvailable()
      assert(corpus == Set(1L, 4L), corpus.toString)
      assert(frag.fragmentCount() <= 2, "cadence fold must bound fragments")
      // deleted keys stay deleted across a full fold; bytes purge
      frag.compact()
      assert(corpus == Set(1L, 4L))
      assert(!frag.read().get.columns.contains(FragmentedTable.DeletedCol))
    } finally q.stop()
  }

  test("key-deletion sink with an ANN index: corpus delete ⇒ index delete in one trigger") {
    implicit val sqlCtx = spark.sqlContext
    val dir = freshDir()
    val frag = new FragmentedTable(spark, dir, "corpus", "doc_id")
    frag.upsert(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text"))
    // embeddings keyed by the SAME doc_id; exact rung (brute) so the
    // post-delete search answer is fully determined
    val emb = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0.9f, 0.1f, 0f)),
      (3L, Array(0f, 1f, 0f)), (4L, Array(0f, 0f, 1f)))
      .toDF("doc_id", "embedding")
    val idx = graft.ext.VectorIndex.build(emb, s"$dir/annidx",
      graft.ext.IndexProfile.exact, idCol = "doc_id")
    val in = MemoryStream[Long]
    val q = StreamingOps.keyDeletionFragmentedSink(
      in.toDF().toDF("doc_id"), frag, compactEvery = 0L, index = Some(idx)).start()
    try {
      // doc 2 is doc 1's nearest neighbor before the delete
      val query = Seq((100L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
      assert(idx.search(query, 1).select("corpus_id").as[Long].head() == 1L)
      // delete 2 (live) and 99 (never held): only 2 tombstones anywhere
      in.addData(2L, 99L)
      q.processAllAvailable()
      assert(frag.read().get.select("doc_id").as[Long].collect().toSet
        == Set(1L, 3L, 4L))
      assert(idx.deletedCount() == 1L, "live key must tombstone the index too")
      val got = idx.search(query, 3).select("corpus_id").as[Long].collect().toSet
      assert(!got.contains(2L), s"deleted id surfaced from the index: $got")
      assert(got == Set(1L, 3L, 4L), got.toString)
      // replay: 2 is no longer live in the corpus — neither side writes
      in.addData(2L)
      q.processAllAvailable()
      assert(idx.deletedCount() == 1L, "replayed delete must not re-tombstone")
    } finally q.stop()
  }

  test("near-dup fragmented sink: sink semantics ≡ Materializer sink; writes ∝ batch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = freshDir()
    val frag = new FragmentedTable(spark, dir, "nd", "doc_id")
    val sigs = new FragmentedTable(spark, dir, "nd__sigs", "doc_id")
    def corpus: Set[Long] = frag.read()
      .map(_.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)
    def sigIds: Set[Long] = sigs.read()
      .map(_.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.corpusIngestNearDupFragmentedSink(
      in.toDF().toDF("doc_id", "text"), frag, sigs, threshold = 0.8).start()
    try {
      // batch 1 incl. an empty-text doc (tombstone path)
      in.addData((1L, "a b c d e f g h i j"), (2L, "x y z w v u t s r q"), (9L, ""))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 9L), corpus.toString)
      assert(frag.fragmentCount() == 1)
      // batch 2: 11 near-dups MATERIALIZED doc 1 via the side-table; 12 novel
      in.addData((11L, "a b c d e f g h i j k"), (12L, "p1 p2 p3 p4 p5 p6"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 9L, 12L), corpus.toString)
      assert(sigIds == Set(1L, 2L, 9L),
        s"side-table lags one trigger, tombstoning the empty doc: $sigIds")
      // O(batch) gate: trigger 2 wrote ONE fragment holding ONLY the
      // survivor (doc 12) — a corpus rewrite would be 4 rows
      assert(frag.fragmentCount() == 2, "one fragment per appending trigger")
      assert(newestFragmentRows(dir, "nd") == 1L,
        "fragment must hold the batch survivors, not the corpus")
      // replay: absorbed, NO new corpus fragment; repair signs doc 12
      in.addData((11L, "a b c d e f g h i j k"), (12L, "p1 p2 p3 p4 p5 p6"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 9L, 12L), corpus.toString)
      assert(frag.fragmentCount() == 2, "replay must not write a corpus fragment")
      assert(sigIds == Set(1L, 2L, 9L, 12L), sigIds.toString)
    } finally q.stop()
  }

  test("banded near-dup sink: survivors ≡ un-banded sink; sigs+bands land in-trigger; replay absorbed") {
    implicit val sqlCtx = spark.sqlContext
    import graft.runtime.BucketedFragmentStore
    val dirA = freshDir(); val dirB = freshDir()
    // A: the r10 un-banded sink (the semantics oracle)
    val fragA = new FragmentedTable(spark, dirA, "nd", "doc_id")
    val sigsA = new FragmentedTable(spark, dirA, "nd__sigs", "doc_id")
    // B: the banded sink under test
    val fragB = new FragmentedTable(spark, dirB, "nd", "doc_id")
    val sigB = BucketedFragmentStore(spark, dirB, "nd__sigs", "doc_id", buckets = 4)
    val bandB = BucketedFragmentStore(spark, dirB, "nd__sigbands", "__bk",
      buckets = 8, routeCol = Some("band_key"))
    def ids(t: graft.runtime.KeyedFragmentStore): Set[Long] = t.read()
      .map(_.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)
    val inA = MemoryStream[(Long, String)]
    val inB = MemoryStream[(Long, String)]
    val qA = StreamingOps.corpusIngestNearDupFragmentedSink(
      inA.toDF().toDF("doc_id", "text"), fragA, sigsA, threshold = 0.8).start()
    val qB = StreamingOps.corpusIngestNearDupBandedSink(
      inB.toDF().toDF("doc_id", "text"), fragB, sigB, bandB,
      threshold = 0.8).start()
    def both(rows: (Long, String)*): Unit = {
      inA.addData(rows: _*); qA.processAllAvailable()
      inB.addData(rows: _*); qB.processAllAvailable()
    }
    try {
      both((1L, "a b c d e f g h i j"), (2L, "x y z w v u t s r q"), (9L, ""))
      assert(ids(fragB) == ids(fragA) && ids(fragB) == Set(1L, 2L, 9L))
      // banded sink signs ITS OWN survivors in-trigger (no one-trigger lag)
      assert(ids(sigB) == Set(1L, 2L, 9L), ids(sigB).toString)
      // empty text tokenizes to [""] — a degenerate but REAL signature
      // (same in both sinks), so doc 9 bands like any other
      assert(bandB.read().get.select("doc_id").as[Long].collect().toSet
        == Set(1L, 2L, 9L))
      // near-dup of doc 1 dropped, novel doc kept — identical on both
      both((11L, "a b c d e f g h i j k"), (12L, "p1 p2 p3 p4 p5 p6"))
      assert(ids(fragB) == ids(fragA) && ids(fragB) == Set(1L, 2L, 9L, 12L))
      assert(ids(sigB) == Set(1L, 2L, 9L, 12L))
      // exact replay: absorbed by content, nothing new anywhere
      val fragsBefore = fragB.fragmentCount()
      both((11L, "a b c d e f g h i j k"), (12L, "p1 p2 p3 p4 p5 p6"))
      assert(ids(fragB) == Set(1L, 2L, 9L, 12L))
      assert(fragB.fragmentCount() == fragsBefore,
        "replay must not write a corpus fragment")
      // band rows: every signed doc carries exactly `bands` rows
      val perDoc = bandB.read().get.groupBy("doc_id").count()
        .select("count").as[Long].collect()
      assert(perDoc.nonEmpty && perDoc.forall(_ == 8L), perDoc.toSeq.toString)
    } finally { qA.stop(); qB.stop() }
  }

  test("banded near-dup sink: construction repair heals a sig-less corpus and a band-less sig table") {
    implicit val sqlCtx = spark.sqlContext
    import graft.runtime.BucketedFragmentStore
    val dir = freshDir()
    val frag = new FragmentedTable(spark, dir, "mig", "doc_id")
    // migration scenario: a corpus ingested by an un-banded deployment
    frag.upsert(Seq((1L, "a b c d e f g h i j"), (2L, "m n o p q r s t u v"))
      .toDF("doc_id", "text"))
    val sigS = BucketedFragmentStore(spark, dir, "mig__sigs", "doc_id", buckets = 4)
    val bandS = BucketedFragmentStore(spark, dir, "mig__sigbands", "__bk",
      buckets = 8, routeCol = Some("band_key"))
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.corpusIngestNearDupBandedSink(
      in.toDF().toDF("doc_id", "text"), frag, sigS, bandS, threshold = 0.8).start()
    try {
      // construction repaired BOTH side tables from the pre-existing corpus
      assert(sigS.read().get.select("doc_id").as[Long].collect().toSet
        == Set(1L, 2L))
      assert(bandS.read().get.select("doc_id").as[Long].collect().toSet
        == Set(1L, 2L))
      // so a near-dup of the MIGRATED corpus is dropped on trigger 1
      in.addData((21L, "a b c d e f g h i j k"), (22L, "fresh1 fresh2 fresh3"))
      q.processAllAvailable()
      assert(frag.read().get.select("doc_id").as[Long].collect().toSet
        == Set(1L, 2L, 22L))
    } finally q.stop()
    // crash-gap scenario: sigs written, bands lost (the sig-before-band
    // order's only gap) — a NEW sink construction re-bands exactly the gap
    bandS.deleteKeys(bandS.read().get.select("__bk", "band_key"))
    assert(bandS.read().get.count() == 0)
    StreamingOps.repairNearDupSideTables(frag, sigS, bandS)
    assert(bandS.read().get.select("doc_id").as[Long].collect().toSet
      == Set(1L, 2L, 22L), "repair must re-band the signed rows")
  }

  test("banded near-dup sink: nearDupForget deletes across the triple; forgotten content re-ingests") {
    implicit val sqlCtx = spark.sqlContext
    import graft.runtime.BucketedFragmentStore
    val dir = freshDir()
    val frag = new FragmentedTable(spark, dir, "fg", "doc_id")
    val sigS = BucketedFragmentStore(spark, dir, "fg__sigs", "doc_id", buckets = 4)
    val bandS = BucketedFragmentStore(spark, dir, "fg__sigbands", "__bk",
      buckets = 8, routeCol = Some("band_key"))
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.corpusIngestNearDupBandedSink(
      in.toDF().toDF("doc_id", "text"), frag, sigS, bandS, threshold = 0.8).start()
    try {
      in.addData((1L, "a b c d e f g h i j"), (2L, "z1 z2 z3 z4 z5"))
      q.processAllAvailable()
      // near-dup of 1 is dropped while 1 lives
      in.addData((11L, "a b c d e f g h i j k"))
      q.processAllAvailable()
      assert(frag.read().get.select("doc_id").as[Long].collect().toSet
        == Set(1L, 2L))
      // forget doc 1 across all three tables
      StreamingOps.nearDupForget(frag, sigS, bandS, Seq(1L).toDF("doc_id"))
      assert(frag.read().get.select("doc_id").as[Long].collect().toSet == Set(2L))
      assert(sigS.read().get.select("doc_id").as[Long].collect().toSet == Set(2L))
      assert(bandS.read().get.select("doc_id").as[Long].collect().toSet == Set(2L),
        "band rows of the forgotten doc must tombstone out")
      // the forgotten content's near-dup now re-ingests (witness gone)
      in.addData((11L, "a b c d e f g h i j k"))
      q.processAllAvailable()
      assert(frag.read().get.select("doc_id").as[Long].collect().toSet
        == Set(2L, 11L), "no ghost witness may survive the forget")
    } finally q.stop()
  }

  test("nearDupForget: routed-bucket regime above maxIsin matches the literal regime") {
    implicit val sqlCtx = spark.sqlContext
    import graft.runtime.BucketedFragmentStore
    val dir = freshDir()
    val frag = new FragmentedTable(spark, dir, "fgr", "doc_id")
    val sigS = BucketedFragmentStore(spark, dir, "fgr__sigs", "doc_id", buckets = 4)
    val bandS = BucketedFragmentStore(spark, dir, "fgr__sigbands", "__bk",
      buckets = 8, routeCol = Some("band_key"))
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.corpusIngestNearDupBandedSink(
      in.toDF().toDF("doc_id", "text"), frag, sigS, bandS, threshold = 0.8).start()
    try {
      in.addData((1L, "a b c d e f g h i j"), (2L, "z1 z2 z3 z4 z5"),
        (3L, "q1 q2 q3 q4 q5 q6"))
      q.processAllAvailable()
      // 3 keys > maxIsin=1 forces sigStore.readRouted; absent key 99
      // rides along (a GDPR batch routinely names never-ingested docs)
      StreamingOps.nearDupForget(frag, sigS, bandS,
        Seq(1L, 3L, 99L).toDF("doc_id"), maxIsin = 1)
      assert(frag.read().get.select("doc_id").as[Long].collect().toSet == Set(2L))
      assert(sigS.read().get.select("doc_id").as[Long].collect().toSet == Set(2L))
      assert(bandS.read().get.select("doc_id").as[Long].collect().toSet == Set(2L),
        "band rows must tombstone out in the routed regime too")
      // witness gone: the forgotten content's near-dup re-ingests
      in.addData((11L, "a b c d e f g h i j k"))
      q.processAllAvailable()
      assert(frag.read().get.select("doc_id").as[Long].collect().toSet
        == Set(2L, 11L))
    } finally q.stop()
  }

  test("facade embed sink: cluster-fallback replay regime (maxIsin=0) matches the point-probe") {
    import graft.ext.VectorFixtures.synthVec
    implicit val sqlCtx = spark.sqlContext
    val dir = freshDir()
    val frag = new FragmentedTable(spark, dir, "vvecs_fb", "vec_id")
    val idxPath = s"$dir/vvecs_fb.vecindex"
    def corpus: Set[Long] = frag.read()
      .map(_.select("vec_id").as[Long].collect().toSet).getOrElse(Set.empty)
    val in = MemoryStream[(Long, Seq[Float])]
    // maxIsin = 0: every non-empty batch exceeds the literal budget, so
    // the replay probe always takes the broadcast-semi-join fallback —
    // behavior must match the point-probe regime the sibling test pins
    val q = StreamingOps.corpusIngestEmbedVectorIndexSink(
      in.toDF().toDF("vec_id", "embedding"), frag, idxPath,
      graft.ext.IndexProfile(exactFloor = 0L), threshold = 0.99,
      maxIsin = 0).start()
    try {
      in.addData((1L, synthVec(1)), (2L, synthVec(2)))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L), corpus.toString)
      // replayed id absorbed by the fallback anti-join; novel id kept
      in.addData((1L, synthVec(1)), (3L, synthVec(60)))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 3L), corpus.toString)
      // full-trigger replay: nothing re-enters
      in.addData((1L, synthVec(1)), (3L, synthVec(60)))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 3L), corpus.toString)
    } finally q.stop()
  }

  test("banded near-dup sink: forget crash between deletes + repair resurrects; RETRIED forget completes") {
    // nearDupForget's scaladoc contract: a crash after the band delete
    // but before the sig/corpus deletes leaves the doc fully live, a
    // restart's repair re-inserts the half-deleted band rows (correct —
    // the doc was never durably forgotten), and the caller's obligation
    // is to RE-ISSUE the forget until one call returns. This pins all
    // three legs: the half-state, the resurrection, and the retry.
    implicit val sqlCtx = spark.sqlContext
    import graft.runtime.BucketedFragmentStore
    val dir = freshDir()
    val frag = new FragmentedTable(spark, dir, "fc", "doc_id")
    val sigS = BucketedFragmentStore(spark, dir, "fc__sigs", "doc_id", buckets = 4)
    val bandS = BucketedFragmentStore(spark, dir, "fc__sigbands", "__bk",
      buckets = 8, routeCol = Some("band_key"))
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.corpusIngestNearDupBandedSink(
      in.toDF().toDF("doc_id", "text"), frag, sigS, bandS, threshold = 0.8).start()
    try {
      in.addData((1L, "a b c d e f g h i j"), (2L, "z1 z2 z3 z4 z5"))
      q.processAllAvailable()
      // CRASH SIMULATION: replay exactly nearDupForget's first delete
      // (band rows, derived from the stored signatures) and stop there
      val sigRows = sigS.readWhere(col("doc_id") === 1L).get
      val bandRows = graft.ext.IngestOps.bandRowsOf(sigRows, 8, 4)
      bandS.deleteKeys(bandRows.select(col("__bk"), col("band_key")))
      assert(bandS.read().get.filter(col("doc_id") === 1L).isEmpty,
        "half-state: band rows gone while sig + corpus rows live")
      // restart-path repair: doc 1 is still live in corpus+sigs, so the
      // anti-join correctly re-bands it — the forget has NOT happened
      StreamingOps.repairNearDupSideTables(frag, sigS, bandS)
      assert(!bandS.read().get.filter(col("doc_id") === 1L).isEmpty,
        "repair must re-insert band rows for a still-live doc")
      // ... and the resurrected witness still suppresses near-dups
      in.addData((11L, "a b c d e f g h i j k"))
      q.processAllAvailable()
      assert(frag.read().get.select("doc_id").as[Long].collect().toSet
        == Set(1L, 2L), "resurrected doc must keep suppressing its near-dups")
      // the contract: re-issue the SAME forget; the retry completes the triple
      StreamingOps.nearDupForget(frag, sigS, bandS, Seq(1L).toDF("doc_id"))
      assert(frag.read().get.select("doc_id").as[Long].collect().toSet == Set(2L))
      assert(sigS.read().get.select("doc_id").as[Long].collect().toSet == Set(2L))
      assert(bandS.read().get.select("doc_id").as[Long].collect().toSet == Set(2L),
        "retried forget must clear all three tables")
      // a later repair finds nothing to resurrect
      StreamingOps.repairNearDupSideTables(frag, sigS, bandS)
      assert(bandS.read().get.select("doc_id").as[Long].collect().toSet == Set(2L),
        "post-forget repair must not resurrect the forgotten doc")
    } finally q.stop()
  }

  test("near-dup fragmented sink: compaction cadence folds both tables to one fragment") {
    implicit val sqlCtx = spark.sqlContext
    val dir = freshDir()
    val frag = new FragmentedTable(spark, dir, "ndc", "doc_id")
    val sigs = new FragmentedTable(spark, dir, "ndc__sigs", "doc_id")
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.corpusIngestNearDupFragmentedSink(
      in.toDF().toDF("doc_id", "text"), frag, sigs, threshold = 0.8,
      compactEvery = 2L).start()
    try {
      in.addData((1L, "a b c d e"), (2L, "f g h i j"))
      q.processAllAvailable()
      in.addData((3L, "k l m n o"))
      q.processAllAvailable() // batchId 1 → compacts
      in.addData((4L, "p q r s t"))
      q.processAllAvailable()
      assert(frag.read().get.select("doc_id").as[Long].collect().toSet
        == Set(1L, 2L, 3L, 4L))
      assert(frag.fragmentCount() == 2, // 1 compacted + 1 post-compaction
        s"compaction failed to bound fragments: ${frag.fragmentCount()}")
      assert(sigs.fragmentCount() <= 2)
    } finally q.stop()
  }

  test("embed fragmented sink: cosine absorption ≡ Materializer sink; replay writes nothing") {
    import graft.ext.VectorFixtures.synthVec
    def jig(base: Seq[Float], eps: Float): Seq[Float] =
      base.zipWithIndex.map { case (v, d) => if (d == 0) v + eps else v }
    implicit val sqlCtx = spark.sqlContext
    val dir = freshDir()
    val frag = new FragmentedTable(spark, dir, "vecs", "vec_id")
    def corpus: Set[Long] = frag.read()
      .map(_.select("vec_id").as[Long].collect().toSet).getOrElse(Set.empty)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.corpusIngestEmbedFragmentedSink(
      in.toDF().toDF("vec_id", "embedding"), frag, threshold = 0.99).start()
    try {
      in.addData((1L, synthVec(1)), (2L, synthVec(2)), (3L, jig(synthVec(1), 0.01f)))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L), corpus.toString)
      in.addData((11L, jig(synthVec(1), 0.01f)), (12L, synthVec(50)))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 12L), corpus.toString)
      assert(frag.fragmentCount() == 2)
      assert(newestFragmentRows(dir, "vecs") == 1L,
        "fragment must hold the surviving vector only")
      in.addData((11L, jig(synthVec(1), 0.01f)), (12L, synthVec(50)))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 12L), corpus.toString)
      assert(frag.fragmentCount() == 2, "replay must not write a fragment")
    } finally q.stop()
  }

  // the indexed embed sink, parameterized over rungs: one screen →
  // append → drift-maintain loop for every VectorIndex rung. With 64-dim
  // vectors the "sq" budget (1000 B) holds SQ8 codes (n·d) but not full
  // vectors (n·d·8) for 2 ≤ n ≤ 15, so that profile picks SQ8 throughout
  for ((rung, profile) <- Seq(
      "ivf" -> graft.ext.IndexProfile(exactFloor = 0L),
      "sq" -> graft.ext.IndexProfile(exactFloor = 0L, memoryBudgetBytes = 1000L),
      "hnsw" -> graft.ext.IndexProfile(serving = true, exactFloor = 0L))) {
    test(s"facade indexed embed sink [$rung]: screened ingest, O(batch) index appends, crash repair, maintain") {
      import graft.ext.VectorFixtures.synthVec
      def jig(base: Seq[Float], eps: Float): Seq[Float] =
        base.zipWithIndex.map { case (v, d) => if (d == 0) v + eps else v }
      implicit val sqlCtx = spark.sqlContext
      val dir = freshDir()
      val frag = new FragmentedTable(spark, dir, s"vvecs_$rung", "vec_id")
      val idxPath = s"$dir/vvecs_$rung.vecindex"
      def corpus: Set[Long] = frag.read()
        .map(_.select("vec_id").as[Long].collect().toSet).getOrElse(Set.empty)
      def idx = graft.ext.VectorIndex.load(spark, idxPath)
      def indexIds: Set[Long] =
        idx.corpusFrame.select("vec_id").as[Long].collect().toSet
      val in = MemoryStream[(Long, Seq[Float])]
      // compactEvery = 1: repair rides the compaction cadence since r12
      // (the per-trigger corpus-vs-index anti-join was an O(corpus)
      // cost the embed soak measured as a latency ramp) — every-trigger
      // ticks keep this spec's crash-state heal observable on the very
      // next trigger, as before
      val q = StreamingOps.corpusIngestEmbedVectorIndexSink(
        in.toDF().toDF("vec_id", "embedding"), frag, idxPath, profile,
        threshold = 0.99, compactEvery = 1L).start()
      try {
        // bootstrap: the first survivors select and build the rung
        in.addData((1L, synthVec(1)), (2L, synthVec(2)), (3L, jig(synthVec(1), 0.01f)))
        q.processAllAvailable()
        assert(corpus == Set(1L, 2L), corpus.toString)
        assert(idx.kind == rung, s"profile must select $rung, got ${idx.kind}")
        assert(indexIds == Set(1L, 2L))
        // near-dup of the MATERIALIZED corpus screened via the index;
        // novel vector appends O(batch) to corpus AND index
        in.addData((11L, jig(synthVec(1), 0.01f)), (12L, synthVec(50)))
        q.processAllAvailable()
        assert(corpus == Set(1L, 2L, 12L), corpus.toString)
        assert(indexIds == Set(1L, 2L, 12L), "index must stay in sync with the corpus")
        // replay: id-absorbed, index does not grow
        in.addData((11L, jig(synthVec(1), 0.01f)), (12L, synthVec(50)))
        q.processAllAvailable()
        assert(corpus == Set(1L, 2L, 12L) && indexIds == Set(1L, 2L, 12L))
        // crash state: corpus gained a row the index never saw — the
        // next trigger's repair appends exactly the gap
        frag.upsert(Seq((7L, synthVec(7))).toDF("vec_id", "embedding"))
        in.addData((13L, synthVec(60)))
        q.processAllAvailable()
        assert(indexIds == Set(1L, 2L, 7L, 12L, 13L), indexIds.toString)
        // the healed index actually screens a near-dup of the
        // once-unindexed vector
        in.addData((17L, synthVec(7)))
        q.processAllAvailable()
        assert(corpus == Set(1L, 2L, 7L, 12L, 13L), corpus.toString)
        // scheduled maintenance (retrain/compact) preserves screening
        idx.maintain()
        in.addData((27L, synthVec(7)), (28L, synthVec(70)))
        q.processAllAvailable()
        assert(corpus == Set(1L, 2L, 7L, 12L, 13L, 28L), corpus.toString)
        // delete-then-reingest BEFORE any purge: the append guard would
        // reject the still-tombstoned id — the sink must purge
        // (maintain) and re-append, never die on the rejected append
        frag.deleteKeys(Seq(12L).toDF("vec_id"))
        idx.delete(Seq((12L, synthVec(50))).toDF("vec_id", "embedding"))
        assert(!indexIds.contains(12L))
        in.addData((12L, synthVec(50)))
        q.processAllAvailable()
        assert(corpus.contains(12L), "re-ingested id must re-enter the corpus")
        assert(indexIds.contains(12L),
          "resurrection must purge + re-append, not kill the query")
        assert(idx.deletedCount() == 0L, "the resurrect purge clears tombstones")
        // drift: one-hot vectors lie outside the trained distribution
        // (for SQ8, 1/64 of each vector's values clamp — over the 1%
        // bound), so the sink maintains the index in the trigger
        def oneHot(d: Int): Seq[Float] = (0 until 64).map(i => if (i == d) 1.0f else 0.0f)
        val maintainsBefore = graft.ext.VectorIndex.maintainCount(idxPath)
        in.addData((21L, oneHot(0)), (22L, oneHot(1)))
        q.processAllAvailable()
        val grown = Set(1L, 2L, 7L, 12L, 13L, 28L, 21L, 22L)
        assert(corpus == grown, corpus.toString)
        assert(indexIds == grown, indexIds.toString)
        if (rung == "sq")
          assert(graft.ext.VectorIndex.maintainCount(idxPath) == maintainsBefore + 1,
            "SQ8 clamp drift must retrain inside the trigger")
        // the maintained index covers the drifted corpus: appending a
        // vector from it asks for no further maintenance (for SQ8: the
        // widened ranges clamp nothing — before the retrain it clamped)
        assert(!idx.append(Seq((99L, oneHot(0))).toDF("vec_id", "embedding"))
          .maintenanceRecommended)
        // crash state at its extreme: the whole index dir is lost — the
        // next trigger rebuilds it over the full corpus, on the same rung
        graft.runtime.Fs.deleteRecursive(java.nio.file.Paths.get(idxPath))
        in.addData((31L, synthVec(80)))
        q.processAllAvailable()
        assert(idx.kind == rung, s"rebuild must re-select $rung, got ${idx.kind}")
        assert(indexIds == grown + 31L, indexIds.toString)
        assert(corpus == grown + 31L, corpus.toString)
      } finally q.stop()
    }
  }

  test("quarantine fragmented sink: dead-letter + dedup ≡ Materializer sink; both O(batch)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = freshDir()
    val frag = new FragmentedTable(spark, dir, "qc", "doc_id")
    val rej = new FragmentedTable(spark, dir, "qc__rejects", "doc_id")
    def corpus: Set[Long] = frag.read()
      .map(_.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)
    def rejects: Map[Long, String] = rej.read()
      .map(_.select("doc_id", "reject_reason").as[(Long, String)].collect().toMap)
      .getOrElse(Map.empty)
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.corpusIngestQuarantineFragmentedSink(
      in.toDF().toDF("doc_id", "text"), frag, rej, Seq(
        "text_not_null" -> col("text").isNotNull,
        "text_min_len" -> (length(col("text")) >= 5))).start()
    try {
      in.addData((1L, "alpha beta"), (2L, null: String), (3L, "abc"), (4L, "gamma delta"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 4L), corpus.toString)
      assert(rejects == Map(2L -> "text_not_null", 3L -> "text_min_len"), rejects.toString)
      // replay: corpus absorbed (no new fragment), rejects last-writer-win
      // on their own ids (one new fragment, identical merged view)
      in.addData((1L, "alpha beta"), (2L, null: String), (3L, "abc"), (4L, "gamma delta"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 4L), corpus.toString)
      assert(rejects == Map(2L -> "text_not_null", 3L -> "text_min_len"), rejects.toString)
      assert(frag.fragmentCount() == 1, "replayed valid rows must not write a fragment")
      // a FIXED doc re-ingests: id 3 valid now, upserts into the corpus
      in.addData((3L, "abc now long enough"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 3L, 4L), corpus.toString)
      assert(newestFragmentRows(dir, "qc") == 1L)
    } finally q.stop()
  }

  test("routed quarantine sink with media checks: corrupt blobs land in rejects with the failing validator's name, none reach the corpus") {
    // VERDICT r13 task 5: codec validation composed into the quarantine
    // ingest — a multimodal corpus row (text + media blob) whose blob
    // fails magic sniff / demux / decode must dead-letter with the
    // FIRST failing check's name instead of silently featurizing as
    // NULLs downstream; valid rows continue into the routed dedup.
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.MultimodalOps
    val dir = freshDir()
    val frag = new FragmentedTable(spark, dir, "mc", "doc_id")
    val rej = new FragmentedTable(spark, dir, "mc__rejects", "doc_id")
    val fpStore = graft.runtime.BucketedFragmentStore(spark, dir, "mc__fps",
      "fp", buckets = 2)
    // fixture: MultimodalOps.mixedMediaClass picks the class (0 wav /
    // 1 gif video / 2 png → valid; 3 unknown magic / 4 truncated avi /
    // 5 truncated wav → corrupt); text rides along as the dedup-key
    // column. Expected sets derive from the same class function.
    val rows = MultimodalOps.withGeneratedMixedMedia(
        spark.range(0, 12).select(col("id").as("doc_id")))
      .withColumn("text", concat(lit("media doc "), col("doc_id")))
      .select("doc_id", "text", "media")
      .as[(Long, String, Array[Byte])].collect().sortBy(_._1)
    val cls = (0L until 12L).map(id => id -> MultimodalOps.mixedMediaClass(id)).toMap
    val expCorpus = cls.filter(_._2 <= 2).keySet
    val expReasons = cls.collect {
      case (id, 3L) => id -> "known_container"
      case (id, c) if c >= 4L => id -> "media_decodes"
    }
    val in = MemoryStream[(Long, String, Array[Byte])]
    val q = StreamingOps.corpusIngestQuarantineRoutedSink(
      in.toDF().toDF("doc_id", "text", "media"), frag, rej,
      MultimodalOps.mediaChecks(), fpStore).start()
    def ids(t: FragmentedTable): Set[Long] = t.read()
      .map(_.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)
    try {
      in.addData(rows.take(6).toSeq); q.processAllAvailable()
      in.addData(rows.drop(6).toSeq); q.processAllAvailable()
      assert(ids(frag) == expCorpus,
        s"only decodable media in the corpus: ${ids(frag)} vs $expCorpus")
      val reasons = rej.read().get.select("doc_id", "reject_reason")
        .as[(Long, String)].collect().toMap
      assert(reasons == expReasons, s"$reasons vs $expReasons")
      // replay: rejects re-upsert their own ids (identical rows), valid
      // rows content-dedup — nothing changes anywhere
      in.addData(rows.take(6).toSeq); q.processAllAvailable()
      assert(ids(frag) == expCorpus)
      assert(ids(rej) == expReasons.keySet)
    } finally q.stop()
  }

  test("routed quarantine sink: survivors+rejects ≡ un-routed sink; fp probe is point-read; crash-gap repair heals at construction") {
    implicit val sqlCtx = spark.sqlContext
    import graft.runtime.BucketedFragmentStore
    val dirA = freshDir(); val dirB = freshDir()
    val checks = Seq(
      "text_not_null" -> col("text").isNotNull,
      "text_min_len" -> (length(col("text")) >= 5))
    // A: the corpus-scan sink (the semantics oracle)
    val fragA = new FragmentedTable(spark, dirA, "qc", "doc_id")
    val rejA = new FragmentedTable(spark, dirA, "qc__rejects", "doc_id")
    // B: the routed sink under test
    val fragB = new FragmentedTable(spark, dirB, "qc", "doc_id")
    val rejB = new FragmentedTable(spark, dirB, "qc__rejects", "doc_id")
    val fpStore = BucketedFragmentStore(spark, dirB, "qc__fps", "fp", buckets = 4)
    def ids(t: FragmentedTable): Set[Long] = t.read()
      .map(_.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)
    def rejMap(t: FragmentedTable): Map[Long, String] = t.read()
      .map(_.select("doc_id", "reject_reason").as[(Long, String)].collect().toMap)
      .getOrElse(Map.empty)
    val inA = MemoryStream[(Long, String)]
    val inB = MemoryStream[(Long, String)]
    val qA = StreamingOps.corpusIngestQuarantineFragmentedSink(
      inA.toDF().toDF("doc_id", "text"), fragA, rejA, checks).start()
    val qB = StreamingOps.corpusIngestQuarantineRoutedSink(
      inB.toDF().toDF("doc_id", "text"), fragB, rejB, checks, fpStore).start()
    def both(rows: (Long, String)*): Unit = {
      inA.addData(rows: _*); qA.processAllAvailable()
      inB.addData(rows: _*); qB.processAllAvailable()
    }
    try {
      both((1L, "alpha beta"), (2L, null: String), (3L, "abc"), (4L, "gamma delta"))
      assert(ids(fragB) == ids(fragA) && ids(fragB) == Set(1L, 4L))
      assert(rejMap(rejB) == rejMap(rejA))
      // fp store carries exactly the live corpus fingerprints
      assert(fpStore.read().get.count() == 2)
      // cross-trigger exact dup (new id, same text) dropped via the
      // POINT probe; novel doc kept — identical on both
      both((11L, "alpha beta"), (12L, "epsilon zeta eta"))
      assert(ids(fragB) == ids(fragA) && ids(fragB) == Set(1L, 4L, 12L))
      // replay absorbed, no corpus fragment written
      val fragsBefore = fragB.fragmentCount()
      both((11L, "alpha beta"), (12L, "epsilon zeta eta"))
      assert(ids(fragB) == Set(1L, 4L, 12L))
      assert(fragB.fragmentCount() == fragsBefore,
        "replay must not write a corpus fragment")
      // null-text rows carry null fps and never poison the probe
      assert(rejMap(rejB).get(2L).contains("text_not_null"))
    } finally { qA.stop(); qB.stop() }
    // CRASH GAP: corpus gained a row the fp store never saw (died
    // between the two upserts) — a NEW sink's construction repair
    // backfills, and a content duplicate of that row is then dropped
    import spark.implicits._
    fragB.upsert(Seq((21L, "orphan fingerprint row")).toDF("doc_id", "text"))
    val inB2 = MemoryStream[(Long, String)]
    val qB2 = StreamingOps.corpusIngestQuarantineRoutedSink(
      inB2.toDF().toDF("doc_id", "text"), fragB, rejB, checks, fpStore).start()
    try {
      inB2.addData((22L, "orphan fingerprint row"), (23L, "fresh content here"))
      qB2.processAllAvailable()
      assert(ids(fragB) == Set(1L, 4L, 12L, 21L, 23L),
        "repair must backfill the gap so the duplicate is dropped")
    } finally qB2.stop()
  }
}
