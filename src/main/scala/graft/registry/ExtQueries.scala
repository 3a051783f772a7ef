package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{CorpusOps, DedupOps, DriftOps, HnswIndex, IndexProfile, IngestOps, IvfIndex, IvfPqIndex, LmOps, MultimodalOps, PqIndex, RecallOps, RelevanceOps, SimilarityOps, SketchOps, SqIndex, StructGate, TextOps, VectorIndex}
import graft.runtime.Sources

/** [EXT] charter queries: dedup / similarity / text analysis over the
  * `documents` and `embeddings` fixtures, JSON extraction over
  * `events.props` (SURVEY §0(c), §7 ext/).
  *
  * Oracle-backed where DuckDB can express the same computation
  * deterministically; the MinHash/SimHash/LSH queries are registered
  * WITHOUT oracles (hash-function internals aren't portable SQL) and are
  * instead property-tested against their exact counterparts in
  * `graft.ext.ExtOpsSpec` (LSH precision is 1.0 by construction — every
  * candidate is verified exactly — so the specs check recall).
  *
  * Pairwise queries run on the deterministic `doc_id % 10 = 0` subset:
  * the fixture corpus has a ~60-word vocabulary, making every doc
  * collide with every doc in a token index — the O(n²) worst case that
  * real Zipfian corpora don't exhibit (see DedupOps scale notes).
  */
object ExtQueries {

  type Q = (SparkSession, String) => DataFrame

  private def docsSub(s: SparkSession, dir: String): DataFrame =
    Sources(s, dir).documents.filter(col("doc_id") % 10 === 0)

  // One persisted index per (session, dir) and index family, trained and
  // saved ONCE, so the warm rows time the load->probe path alone — the
  // number that matters at scale — instead of retraining per call. Dirs
  // are bounded by the number of distinct sfDirs and reclaimed at exit.
  //
  // The map registers the COMPUTATION (a holder whose lazy `path` runs
  // train+save), not the finished path: under concurrent first calls the
  // losing threads block on the winner's lazy-val monitor until the save
  // completes, so no caller can observe a partial index. The temp dir is
  // recorded on the holder BEFORE training so a JVM exit mid-train still
  // reclaims it; a failed train deletes its temp dir and rethrows but
  // the holder STAYS registered — Scala lazy vals re-run a failed
  // initializer, so blocked losers (and later calls) retry inside this
  // same, still-tracked holder; deregistering here would orphan a
  // loser's successful retry from the shutdown hook.
  //
  // Keyed by (session, dir): the persisted parquet is re-readable by any
  // session, but the holder's train ran against the keying session — a
  // fresh session must train (and pay for) its own index rather than
  // inherit a path whose lifecycle another session owns. Entries whose
  // session has been STOPPED are evicted on the next lookup: their
  // frames can no longer run, and keeping them would pin the dead
  // session's object graph for the JVM lifetime.
  //
  // ONE implementation for all three index families (IVF, PQ, IVF-PQ) —
  // a per-family copy of this lifecycle drifted once already; the only
  // thing that varies is the train-and-save closure.
  private final class IndexDirCache(tmpPrefix: String,
                                    trainAndSave: (SparkSession, String, String) => Unit) {
    private final class Holder(s: SparkSession, dir: String) {
      @volatile var tmpDir: String = _
      lazy val path: String = {
        val p = java.nio.file.Files.createTempDirectory(tmpPrefix).toString
        tmpDir = p
        try { trainAndSave(s, dir, p); p }
        catch {
          case e: Throwable =>
            tmpDir = null
            graft.runtime.Fs.deleteRecursive(java.nio.file.Paths.get(p))
            throw e
        }
      }
    }
    private val holders =
      scala.collection.mutable.LinkedHashMap[(SparkSession, String), Holder]()
    private lazy val cleanup = sys.addShutdownHook {
      holders.synchronized(holders.values.toList)
        .flatMap(h => Option(h.tmpDir))
        .foreach(d => graft.runtime.Fs.deleteRecursive(java.nio.file.Paths.get(d)))
    }
    def pathFor(s: SparkSession, dir: String): String = {
      cleanup
      holders.synchronized {
        holders.keys.filter(_._1.sparkContext.isStopped).toList.foreach { k =>
          holders.remove(k).flatMap(h => Option(h.tmpDir))
            .foreach(d => graft.runtime.Fs.deleteRecursive(java.nio.file.Paths.get(d)))
        }
        holders.getOrElseUpdate((s, dir), new Holder(s, dir))
      }.path
    }
  }

  private val ivfIndexCache = new IndexDirCache("graft_ivfidx_",
    (s, dir, p) => IvfIndex.train(Sources(s, dir).embeddings, nlist = 16).save(p))
  // unified front door (Graft.index / VectorIndex): one exact-profile
  // build (oracle-comparable) and one serving-profile build (graph rung,
  // recall-gated) — the registered routing VERDICT r8 asked for
  private val autoExactIndexCache = new IndexDirCache("graft_autoexact_",
    (s, dir, p) => { VectorIndex.build(Sources(s, dir).embeddings, p,
      IndexProfile.exact); () })
  private val autoServingIndexCache = new IndexDirCache("graft_autoserve_",
    (s, dir, p) => { VectorIndex.build(Sources(s, dir).embeddings, p,
      IndexProfile(serving = true, exactFloor = 100L)); () })
  // deletion lifecycle through the facade: build the IVF rung (full
  // probe ⇒ exact) on the < 400 slice, tombstone vec_id % 7 == 3, then
  // append the >= 400 tail WHILE the tombstones are live — the
  // registered search proves deleted ids never surface and later
  // appends stay searchable, hash-matched against the exact oracle
  // over exactly the surviving corpus
  private val autoDeleteIndexCache = new IndexDirCache("graft_autodel_",
    (s, dir, p) => {
      val e = Sources(s, dir).embeddings
      val idx = VectorIndex.build(e.filter(col("vec_id") < 400), p,
        IndexProfile(exactFloor = 100L, nprobe = 4096))
      idx.delete(e.filter(col("vec_id") % 7 === 3 && col("vec_id") < 400))
      idx.append(e.filter(col("vec_id") >= 400))
      ()
    })
  private val pqIndexCache = new IndexDirCache("graft_pqidx_",
    (s, dir, p) => PqIndex.train(Sources(s, dir).embeddings).save(p))
  private val ivfPqIndexCache = new IndexDirCache("graft_ivfpqidx_",
    (s, dir, p) => IvfPqIndex.train(Sources(s, dir).embeddings).save(p))
  private val sqIndexCache = new IndexDirCache("graft_sqidx_",
    (s, dir, p) => SqIndex.train(Sources(s, dir).embeddings).save(p))
  private val hnswIndexCache = new IndexDirCache("graft_hnswidx_",
    (s, dir, p) => HnswIndex.train(Sources(s, dir).embeddings, m = 8,
      efConstruction = 64, nShards = 4).save(p))

  // image→ANN bridge (VERDICT r12 task 6): the decoded-raster feature
  // vectors of the q_ext_media_features_real path — real PNG encode →
  // real codec decode → 16-bin luminance histogram — standardized to
  // the index schema and fed to the SAME VectorIndex facade the
  // embedding rows use. Visual similarity search is then just k-NN
  // over this column: both halves were already green, this is the join.
  private def mediaFeatureVecs(s: SparkSession, dir: String): DataFrame =
    MultimodalOps.decodeFeatures(
      MultimodalOps.withGeneratedPng(Sources(s, dir).documents))
      .select(col("doc_id").as("vec_id"), col("features").as("embedding"))
  private val mediaKnnExactCache = new IndexDirCache("graft_mediaknn_",
    (s, dir, p) => { VectorIndex.build(mediaFeatureVecs(s, dir), p,
      IndexProfile.exact); () })
  private val mediaKnnServingCache = new IndexDirCache("graft_mediaserve_",
    (s, dir, p) => { VectorIndex.build(mediaFeatureVecs(s, dir), p,
      IndexProfile(serving = true, exactFloor = 100L)); () })

  // package-visible: RecallSpec measures raw recall on the same
  // persisted indexes the gate rows probe
  private[graft] def ivfIndex(s: SparkSession, dir: String): IvfIndex =
    IvfIndex.load(s, ivfIndexCache.pathFor(s, dir))
  private[graft] def pqIndex(s: SparkSession, dir: String): PqIndex =
    PqIndex.load(s, pqIndexCache.pathFor(s, dir))
  private[graft] def ivfPqIndex(s: SparkSession, dir: String): IvfPqIndex =
    IvfPqIndex.load(s, ivfPqIndexCache.pathFor(s, dir))
  private[graft] def sqIndex(s: SparkSession, dir: String): SqIndex =
    SqIndex.load(s, sqIndexCache.pathFor(s, dir))
  private[graft] def hnswIndex(s: SparkSession, dir: String): HnswIndex =
    HnswIndex.load(s, hnswIndexCache.pathFor(s, dir))

  // Cold-path temp dirs: one per q_ext_knn_ivf CALL (the query times the
  // full train+save+load lifecycle), APPEND-ONLY and reclaimed at JVM
  // exit — a returned frame lazily reads its saved index, so no call may
  // delete an earlier call's dir (an eager replace-on-repeat would pull
  // the index out from under a still-referenced frame, or out from under
  // a concurrent call's in-flight train). Growth is one small dir per
  // cold build — the explicit cost the cold row exists to measure.
  // shared by every per-invocation store dir in this registry (cold ANN
  // builds, the routed-ingest fp/band warehouses): repeated bench/verify
  // runs must not accumulate orphaned stores under /tmp (ADVICE r14)
  private val ivfColdDirs = scala.collection.mutable.ListBuffer[String]()
  private lazy val ivfColdCleanup = sys.addShutdownHook {
    ivfColdDirs.synchronized(ivfColdDirs.toList)
      .foreach(d => graft.runtime.Fs.deleteRecursive(java.nio.file.Paths.get(d)))
  }

  // Fragment-store with zone maps: documents banded by n_chars into
  // three fragments plus a NEWER overwrite fragment (every 10th doc's
  // n_chars bumped by 100000 — the overwrite is what makes the read a
  // real last-writer-wins merge, not a filtered union). Built once per
  // (session, fixture dir) under the same lifecycle cache the ANN
  // indexes use.
  private val fragStoreCache = new IndexDirCache("graft_fragstore_",
    (s, dir, p) => {
      val q = Sources(s, dir).documents
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val frag = new graft.runtime.FragmentedTable(s, p, "docs", "doc_id")
      frag.upsert(q.filter(col("n_chars") < 200))
      frag.upsert(q.filter(col("n_chars") >= 200 && col("n_chars") < 350))
      frag.upsert(q.filter(col("n_chars") >= 350))
      frag.upsert(q.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + lit(100000L)))
    })

  // Fragment-store with tombstone deletes: full corpus upserted, the
  // src0/src1 sources deleted (O(keys) tombstone fragments), every 4th
  // doc re-upserted with bumped n_chars (resurrecting its share of the
  // deleted sources), with a tiered fold in between — whether the fold
  // absorbs the base (purging) or only the run (marker-retaining)
  // depends on fragment bytes at this sf; BOTH are content-preserving
  // and the oracle pins the result either way (the deterministic
  // marker-retaining case is FragmentDeleteSpec's).
  private val fragDeleteStoreCache = new IndexDirCache("graft_fragdel_",
    (s, dir, p) => {
      val q = Sources(s, dir).documents
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val frag = new graft.runtime.FragmentedTable(s, p, "docs", "doc_id")
      frag.upsert(q)
      frag.deleteKeys(q.filter(col("source").isin("src0", "src1")).select("doc_id"))
      frag.compactTiered()
      frag.upsert(q.filter(col("doc_id") % 4 === 0)
        .withColumn("n_chars", col("n_chars") + lit(50000L)))
    })

  // Hash-bucketed fragment store: the sharded layout (per-bucket
  // manifests + compaction, driver-side bucket routing on key
  // equality). Same delete + resurrect algebra as the flat store so the
  // oracle is a pure replay: delete every 7th doc, resurrect every 14th
  // with bumped n_chars.
  private val fragBucketStoreCache = new IndexDirCache("graft_fragbkt_",
    (s, dir, p) => {
      val q = Sources(s, dir).documents
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val bs = graft.runtime.BucketedFragmentStore(s, p, "docs", "doc_id",
        buckets = 4)
      bs.upsert(q)
      bs.deleteKeys(q.filter(col("doc_id") % 7 === 0).select("doc_id"))
      // re-shard 4 → 16 with the resurrection upsert INTERLEAVED
      // mid-migration: half the old buckets are drained when it lands,
      // so its rows route across both generations — the registered
      // read then gates that re-sharding is content-preserving (same
      // oracle as before) AND that post-commit key routing prunes
      bs.rebucketStart(16)
      bs.rebucketStep(); bs.rebucketStep()
      bs.upsert(q.filter(col("doc_id") % 14 === 0)
        .withColumn("n_chars", col("n_chars") + lit(1000L)))
      while (bs.rebucketStep()) ()
    })

  /** Measurement-family tags for Bench's per-row canary normalization
    * (VERDICT r17 finding #1 — an explicit registry, not a
    * name-substring match). Family `"media"` = the row's plan decodes
    * or validates binary media (ImageIO or the deterministic fake
    * codecs), so its wall-clock rides the decode-canary axis on top of
    * the host cpu/io axes. Rows absent here are text/relational: host
    * factor only. BenchLinesSpec pins both directions of the scoping.
    */
  val families: Map[String, String] = Seq(
    "q_ext_media_audio", "q_ext_media_audio_formats",
    "q_ext_media_audio_neardup", "q_ext_media_decode_real",
    "q_ext_media_features", "q_ext_media_features_real",
    "q_ext_media_formats", "q_ext_media_frames",
    "q_ext_media_ingest_compose", "q_ext_media_ingest_neardup",
    "q_ext_media_knn", "q_ext_media_meta", "q_ext_media_neardup",
    "q_ext_media_quarantine", "q_ext_media_resize",
    "q_ext_media_resize_real", "q_ext_media_video",
    "q_ext_media_video_formats", "q_ext_media_video_neardup",
    "q_ext_recall_media_knn").map(_ -> "media").toMap

  val queries: Map[String, Q] = Map(
    // Bucket-routed point read: the key IN-list conjunct hashes its
    // literals on the driver and probes at most one bucket per value —
    // the require turns the routing into part of the gate; the rest of
    // the predicate filters within the probed buckets. The oracle
    // replays the delete + resurrection algebra over the base table.
    "q_ext_frag_bucketed" -> ((s, dir) => {
      val p = fragBucketStoreCache.pathFor(s, dir)
      val bs = graft.runtime.BucketedFragmentStore.open(s, p, "docs", "doc_id")
      val ids = Seq(0L, 3L, 7L, 14L)  // resurrected, plain, deleted, resurrected
      val (res, rep) = bs.readWhereReport(
        col("doc_id").isin(ids: _*) && col("lang").isNotNull)
      require(rep.probed.size < bs.buckets,
        s"bucket routing pruned nothing: $rep")
      res.map(_.filter(lit(true))).getOrElse(
        Sources(s, dir).documents.select(
          col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .filter(lit(false)))
    }),
    // Tombstone-deleted fragment read: live keys are (not deleted) OR
    // (resurrected by the newer upsert); the DuckDB oracle replays the
    // delete + resurrection algebraically over the base table.
    "q_ext_frag_delete" -> ((s, dir) => {
      val p = fragDeleteStoreCache.pathFor(s, dir)
      new graft.runtime.FragmentedTable(s, p, "docs", "doc_id")
        .readWhere(col("lang") === "en").get
    }),
    // Zone-map pruned fragment read (FragmentedTable.readWhere): the
    // predicate disproves the two low bands from their manifest stats,
    // so only the high band and the overwrite fragment are scanned in
    // full — the require turns "pruning actually happened" into part of
    // the oracle gate, while the DuckDB oracle replays the LWW overwrite
    // with a CASE and pins the merged VALUES.
    "q_ext_frag_skip" -> ((s, dir) => {
      val p = fragStoreCache.pathFor(s, dir)
      val (res, rep) = new graft.runtime.FragmentedTable(s, p, "docs", "doc_id")
        .readWhereReport(col("n_chars") >= lit(350L) && col("lang") === "en")
      require(rep.scanned < rep.total, s"zone maps pruned nothing: $rep")
      res.get
    }),
    "q_ext_text_features" -> ((s, dir) =>
      Sources(s, dir).documents.select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("token_count"),
        TextOps.roughTokenCount(col("text")).as("rough_tokens"),
        TextOps.stopwordRatio(col("text")).as("stopword_ratio"),
        TextOps.punctRatio(col("text")).as("punct_ratio"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.fingerprint(col("text")).as("fp"))),
    "q_ext_langid" -> ((s, dir) =>
      Sources(s, dir).documents.select(
        col("doc_id"), col("lang"), TextOps.langId(col("text")).as("lang_pred"))),
    // Gopher-family repetition signals: integer token-type counts, one
    // double division per signal at the end.
    "q_ext_quality_repetition" -> ((s, dir) =>
      CorpusOps.repetitionSignals(Sources(s, dir).documents)),
    // PII scrub: the fixture corpus carries no PII, so the gate PLANTS a
    // deterministic email + phone on every third doc (mirrored in the
    // oracle) — the hash match then proves the redactor fired on every
    // plant and altered nothing else; residual_pii pins zero leftovers.
    "q_ext_pii_redact" -> ((s, dir) => {
      val planted = Sources(s, dir).documents.withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact u"), col("doc_id"),
            lit("@example.com or 555-123-4567")))
          .otherwise(col("text")))
      planted.select(col("doc_id"),
        (col("doc_id") % 3 === 0).as("planted"),
        md5(TextOps.redactPii(col("text"))).as("redacted_md5"),
        (size(regexp_extract_all(TextOps.redactPii(col("text")),
          lit(TextOps.EmailPattern), lit(0))) +
          size(regexp_extract_all(TextOps.redactPii(col("text")),
            lit(TextOps.PhonePattern), lit(0)))).as("residual_pii"))
    }),
    // benchmark decontamination: corpus docs sharing any 3-gram with the
    // benchmark slice (doc_id % 97 = 0 stands in for an eval suite)
    "q_ext_contamination" -> ((s, dir) => {
      val docs = Sources(s, dir).documents
      DedupOps.contaminationCheck(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), k = 3)
    }),
    // reproducible stratified downsampling: per-language md5-prefix cuts
    // (en ~16%, zh ~6%, fr ~100%, …) — content-hash gating, no RNG
    "q_ext_sample_stratified" -> ((s, dir) =>
      CorpusOps.stratifiedHashSample(Sources(s, dir).documents,
        Map("en" -> "28", "de" -> "7f", "fr" -> "ff", "es" -> "3f", "zh" -> "0f"))
        .select("doc_id", "lang")),
    // quality-weighted sampling: survival probability = the composite
    // quality score, realized by a deterministic 16-bit content-hash
    // lattice — both engines compute the identical IEEE score and hash
    // fraction, so the kept set is exact
    "q_ext_sample_weighted" -> ((s, dir) =>
      CorpusOps.weightedHashSample(Sources(s, dir).documents,
        TextOps.qualityScore(col("text"))).select("doc_id", "lang")),
    // per-key quota: keep the 20 longest docs per language (integer
    // order + unique tiebreak — floats at a quota boundary are the
    // cross-engine hazard, see CorpusOps.capPerKey)
    "q_ext_cap_per_lang" -> ((s, dir) =>
      CorpusOps.capPerKey(Sources(s, dir).documents,
        keys = Seq(col("lang")),
        order = Seq(TextOps.tokenCount(col("text")).desc, col("doc_id")),
        n = 20)
        .select("doc_id", "lang")),
    // budget-proportional rebalance to 300 docs: per-lang quotas in pure
    // INTEGER arithmetic ((B·n) DIV N — a float normalization would flip
    // quota boundaries between engines), md5-order take per lang. The
    // α<1 temperature variant shares this mechanism via quotaSample with
    // driver-derived quotas (CorpusOpsSpec pins it on perfect squares).
    "q_ext_sample_budget" -> ((s, dir) =>
      CorpusOps.budgetSample(Sources(s, dir).documents, budget = 300)
        .select("doc_id", "lang")),
    // deterministic training-shard assignment (md5-byte mod 8) — the
    // write-side routing writeSharded lays out as shard=K directories
    "q_ext_shard_assign" -> ((s, dir) =>
      CorpusOps.assignShards(Sources(s, dir).documents, numShards = 8)
        .select("doc_id", "shard")),
    // fixed-size token chunking, 32-token windows overlapping by 8 — the
    // pre-tokenizer split; map-side posexplode, chunk count proportional
    // to doc length, no shuffle
    // content-defined chunking: boundaries where the trailing 3-gram
    // hashes ≤ 07 (≈ 1/32 rate) — the insertion-robust complement to
    // the fixed-size split below; robustness property spec-gated
    "q_ext_chunk_cdc" -> ((s, dir) =>
      CorpusOps.chunkContentDefined(Sources(s, dir).documents)),
    "q_ext_chunk_tokens" -> ((s, dir) =>
      CorpusOps.chunkTokens(Sources(s, dir).documents, chunkSize = 32, overlap = 8)),
    // packed-stream assignment over non-overlapping 64-token chunks:
    // shard by doc hash (all of a doc's chunks stay contiguous in one
    // shard stream), then per-shard prefix-sum binning at 256 tokens
    "q_ext_pack_sequences" -> ((s, dir) =>
      CorpusOps.packSequences(
          CorpusOps.assignShards(
            CorpusOps.chunkTokens(Sources(s, dir).documents,
              chunkSize = 64, overlap = 0),
            numShards = 8),
          budgetTokens = 256)
        .select(col("shard"), col("doc_id"), col("chunk_idx"),
          col("chunk_tokens"), col("bin"), col("bin_offset"))),
    // exact per-language length quantiles (interpolated percentile is
    // one correctly-rounded expression per group — engine-portable)
    "q_ext_length_quantiles" -> ((s, dir) =>
      Sources(s, dir).documents.groupBy(col("lang"))
        .agg(percentile(col("n_chars"), lit(0.25)).as("p25"),
          percentile(col("n_chars"), lit(0.5)).as("p50"),
          percentile(col("n_chars"), lit(0.9)).as("p90"),
          count(lit(1)).as("docs"))),
    // the SCALE-path variant: percentile_approx (Greenwald-Khanna
    // sketch, mergeable — no per-group full sort at 100 TB) gated by
    // the a1_approx pattern: the hash-compared output is a flag per
    // quantile asserting the sketch value lands inside the EXACT
    // (p−0.05, p+0.05) quantile band, which the oracle asserts TRUE —
    // the sketch's rank-error contract (≤ n/accuracy ≪ 0.05·n) made
    // portable across engines whose sketches differ
    "q_ext_length_quantiles_approx" -> ((s, dir) => {
      val ps = Seq(25, 50, 90)
      val aggs = ps.flatMap { p =>
        Seq(percentile_approx(col("n_chars"), lit(p / 100.0), lit(10000)).as(s"a$p"),
          percentile(col("n_chars"), lit((p - 5) / 100.0)).as(s"lo$p"),
          percentile(col("n_chars"), lit((p + 5) / 100.0)).as(s"hi$p"))
      } :+ count(lit(1)).as("docs")
      Sources(s, dir).documents.groupBy(col("lang"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("lang") +: ps.map(p =>
          (col(s"a$p") >= col(s"lo$p") && col(s"a$p") <= col(s"hi$p"))
            .as(s"within_p$p")) :+ col("docs"): _*)
    }),
    // the COMPOSED curation pipeline — scrub → quality/length filter →
    // exact dedup → stratified downsample, the end-to-end pass a user
    // runs nightly, hash-gated as ONE query so the stage seams (does
    // dedup see scrubbed text? does sampling hash the deduped corpus?)
    // are verified, not just each stage alone. All stages are map-side
    // except dedup's single fingerprint shuffle.
    "q_ext_curation_pipeline" -> ((s, dir) => {
      val scrubbed = Sources(s, dir).documents
        .select(col("doc_id"), col("lang"), TextOps.redactPii(col("text")).as("text"))
      val filtered = scrubbed.filter(
        TextOps.tokenCount(col("text")).between(5, 5000) &&
          TextOps.qualityScore(col("text")) >= 0.5)
      val deduped = DedupOps.dedupExact(filtered)
      CorpusOps.stratifiedHashSample(deduped,
        Map("en" -> "9f", "de" -> "ff", "fr" -> "ff", "es" -> "ff", "zh" -> "3f"))
        .select(col("doc_id"), col("lang"), md5(col("text")).as("content_md5"))
    }),
    "q_ext_exact_dedup" -> ((s, dir) =>
      DedupOps.exactDupGroups(Sources(s, dir).documents)),
    // the dedup APPLICATIONS: the corpus a training pipeline consumes.
    // Exact: keep the lowest id per content fingerprint. Near-dup: drop
    // the higher id of every verified Jaccard pair (greedy one-pass).
    // The fixture corpus has no exact duplicates, so the exact gate
    // PLANTS them (every 7th doc re-appears under a shifted id) — the
    // keep-lowest policy is then observable, not vacuous: output must be
    // exactly the original rows, never a planted id. The shift is
    // max(doc_id)+1 (mirrored in the oracle) so planted ids can never
    // collide with real ones at any scale factor.
    "q_ext_dedup_corpus" -> ((s, dir) => {
      val docs = Sources(s, dir).documents.select("doc_id", "lang", "text")
      val off = docs.agg(max("doc_id")).head.getLong(0) + 1
      val planted = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + off)
      DedupOps.dedupExact(docs.unionByName(planted))
        .select(col("doc_id"), col("lang"), md5(col("text")).as("content_md5"))
    }),
    // ROUTED exact-dedup ingest — the corpus-independent exact path the
    // routed quarantine sink runs (r12): the even-id half persists its
    // content fingerprints into a REAL fp-keyed BucketedFragmentStore,
    // and the odd-id half is screened by POINT-PROBING exactly its own
    // batch's fingerprints (bucket routing + key-pushdown scan — I/O ∝
    // batch, never corpus). Output is identical to appendDedupExact
    // over the same halves, which is what the SQL mirror computes.
    "q_ext_ingest_exact_routed" -> ((s, dir) => {
      val docs = Sources(s, dir).documents.select("doc_id", "lang", "text")
      ivfColdCleanup
      val wh = java.nio.file.Files.createTempDirectory("graft-fpq").toString
      ivfColdDirs.synchronized { ivfColdDirs += wh }
      val fpStore = graft.runtime.BucketedFragmentStore(s, wh, "fps", "fp",
        buckets = 4)
      fpStore.upsert(docs.filter(col("doc_id") % 2 === 0)
        .select(TextOps.fingerprint(col("text")).as("fp")).na.drop().distinct())
      val out = IngestOps.appendDedupExactRouted(
          fps => fpStore.readWhere(col("fp").isin(fps: _*)),
          docs.filter(col("doc_id") % 2 =!= 0))
        .select(col("doc_id"), col("lang"), md5(col("text")).as("content_md5"))
      out
    }),
    // SimHash ROUTED text ingest (VERDICT r14 task 5) — the cheap
    // 8-bytes-per-doc first rung: the base docs' 64-bit SimHash
    // signatures persist as hamming band rows (bandRowsOfSigs through a
    // band_key-routed store) and the incoming batch point-probes them
    // (appendDedupSimHashRouted). Incoming = a whitespace
    // re-serialization of every base doc (byte-distinct, token-set
    // identical → SimHash hamming 0 → DROPPED; absent from output) plus
    // one md5-token synthetic doc per base doc (decorrelated token set,
    // never within the hamming-3 verify radius → KEPT). Survivors are
    // construction-stated; planted small-hamming falsifiability rides
    // IngestSpec.
    "q_ext_ingest_simhash_routed" -> ((s, dir) => {
      val docs = docsSub(s, dir).select("doc_id", "text")
      ivfColdCleanup
      val wh = java.nio.file.Files.createTempDirectory("graft-shq").toString
      ivfColdDirs.synchronized { ivfColdDirs += wh }
      val bandStore = graft.runtime.BucketedFragmentStore(s, wh, "shbands",
        "__bk", buckets = 4, routeCol = Some("band_key"))
      bandStore.upsert(IngestOps.bandRowsOfSigs(DedupOps.simHash(docs), bands = 8))
      val twins = docs.select((col("doc_id") * 10 + 1).as("doc_id"),
        regexp_replace(col("text"), " ", "  ").as("text"))
      val novel = docs.select((col("doc_id") * 10 + 2).as("doc_id"),
        concat_ws(" ", (0 to 7).map(i =>
          md5(concat(col("doc_id").cast("string"), lit(s"#$i")))): _*).as("text"))
      IngestOps.appendDedupSimHashRouted(
          keys => bandStore.readRouted(keys),
          twins.unionByName(novel), maxDist = 3)
        .select(col("doc_id"))
    }),
    "q_ext_dedup_neardup_corpus" -> ((s, dir) => {
      val docs = docsSub(s, dir)
      DedupOps.removeNearDups(docs, DedupOps.jaccardPairs(docs, 0.9))
        .select(col("doc_id"), col("lang"), md5(col("text")).as("content_md5"))
    }),
    // the cluster-representative policy over the same verified pairs:
    // exactly one survivor (min id) per connected component.
    "q_ext_dedup_cc_corpus" -> ((s, dir) => {
      val docs = docsSub(s, dir)
      DedupOps.dedupNearDupsCC(docs, DedupOps.jaccardPairs(docs, 0.9))
        .select(col("doc_id"), col("lang"), md5(col("text")).as("content_md5"))
    }),
    // the embedding-cosine near-dup APPLICATION: the corpus with the
    // higher id of every cosine-similar pair removed (the same greedy
    // policy as the token path, driven by vector pairs).
    "q_ext_dedup_embed_corpus" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      DedupOps.removeNearDups(e, SimilarityOps.cosinePairs(e, 0.35),
        idCol = "vec_id", dropCol = "vec_b")
        .select(col("vec_id"), size(col("embedding")).as("dims"))
    }),
    // corpus-level reporting rollup: per-language doc/token/quality/
    // distinct-content statistics — the one-shuffle summary a pipeline
    // publishes after each ingest (partial-aggregable except the exact
    // distinct, which is the declared oracle-parity choice here).
    "q_ext_corpus_stats" -> ((s, dir) =>
      Sources(s, dir).documents.groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(TextOps.tokenCount(col("text"))).as("total_tokens"),
          avg(TextOps.qualityScore(col("text"))).as("avg_quality"),
          countDistinct(TextOps.fingerprint(col("text"))).as("distinct_contents"))),
    "q_ext_jaccard_pairs" -> ((s, dir) =>
      DedupOps.jaccardPairs(docsSub(s, dir), 0.9)),
    // EXACT prefix-filtered variant: provably the same pairs (it shares
    // q_ext_jaccard_pairs' oracle) from a fraction of the candidates —
    // each doc indexes only its globally-rarest n−⌈0.9n⌉+1 tokens. At
    // fixture scale the df-rank overhead outweighs the candidate savings
    // (the naive join is already tiny); the crossover is where posting
    // lists explode — ExtOpsSpec's planted-hot-token corpus shows the
    // candidate set collapsing 435 → 1 with zero metric change.
    "q_ext_jaccard_pairs_prefix" -> ((s, dir) =>
      DedupOps.jaccardPairsPrefix(docsSub(s, dir), 0.9)),
    // document-frequency pruning ON: tokens in > 80% of the corpus are
    // dropped before the self-join (threshold relaxed to 0.8 so the
    // pruned metric still yields pairs on the fixture's flat vocabulary).
    "q_ext_jaccard_pairs_pruned" -> ((s, dir) =>
      DedupOps.jaccardPairs(docsSub(s, dir), 0.8, maxDocFreqRatio = Some(0.8))),
    // order-SENSITIVE n-gram similarity: bigram-shingle Jaccard. The
    // fixture's word soup has no ordered near-dups (max bigram J ≈
    // 0.095), so the gate scores the top similarity band (≥ 0.08) —
    // it verifies the shingle tokenization + metric end-to-end; the
    // semantic near-dup use of shingles is spec'd via MinHash shingleK.
    "q_ext_jaccard_bigram_pairs" -> ((s, dir) =>
      DedupOps.shingleJaccardPairs(docsSub(s, dir), 0.08, k = 2)),
    // df-pruning on the SHINGLE path (the variant real web dedup runs —
    // a boilerplate header k-gram repeated corpus-wide is a quadratic
    // join key without it): bigrams in > 10% of the subset are dropped
    // before the self-join, same floor(ratio · N) as the word-token
    // pruned gate; Jaccard exact over the pruned gram sets.
    "q_ext_jaccard_bigram_pairs_pruned" -> ((s, dir) =>
      DedupOps.shingleJaccardPairs(docsSub(s, dir), 0.08, k = 2,
        maxDocFreqRatio = Some(0.1))),
    // Near-dup-aware ingest composition, bench-visible: odd-id subset
    // half arrives against the even-id half. LSH recall stays by
    // contract (exactmode twin below); the driver hash-checks the
    // structural gate — survivors only from the batch with distinct
    // texts, and every rejected doc has a re-derived exact-Jaccard
    // witness in corpus ∪ batch. Semantics also spec-gated in
    // IngestSpec.
    "q_ext_ingest_neardup" -> ((s, dir) => {
      val docs = docsSub(s, dir)
      val existing = docs.filter(col("doc_id") % 20 === 0)
      val incoming = docs.filter(col("doc_id") % 20 =!= 0)
      // The gate re-tokenizes the pool itself: reusing the production
      // pipeline's signature tokens was MEASURED SLOWER here
      // (dev/gate_ab_r13.json — at this row's scale the cost is
      // job/stage count and verify volume, not tokenize work), so the
      // lazy production op + the gate's own pinned tokenize is the
      // fast shape.
      StructGate.ingestNearDupGate(
        IngestOps.appendDedupNearDup(existing, incoming, threshold = 0.9),
        pool = docs, incoming = incoming, threshold = 0.9,
        tokensOf = TextOps.distinctTokens _)
    }),
    // EXACT-mode oracle for the near-dup ingest composition (the
    // q_ext_knn_pq_exactmode pattern): identical dedup-then-check recipe
    // with the LSH candidate stage replaced by exhaustive verified
    // Jaccard, so this row hash-matches a plain DuckDB mirror and gates
    // every non-LSH seam of the composition (exact dedup, within-batch
    // removal, cross-corpus drop policy). The LSH row above remains the
    // production datapoint.
    "q_ext_ingest_neardup_exactmode" -> ((s, dir) => {
      val docs = docsSub(s, dir)
      IngestOps.appendDedupNearDupExhaustive(
          docs.filter(col("doc_id") % 20 === 0),
          docs.filter(col("doc_id") % 20 =!= 0),
          threshold = 0.9)
        .select(col("doc_id"), col("lang"))
    }),
    // LM-likelihood quality scoring: every doc scored by how typical its
    // char trigrams are of the reference slice (doc_id % 97 — the same
    // stand-in slice the contamination gate uses)
    "q_ext_lm_quality" -> ((s, dir) => {
      val docs = Sources(s, dir).documents
      LmOps.trigramLogLikelihood(docs, docs.filter(col("doc_id") % 97 === 0))
    }),
    // bigram-CONDITIONAL LM quality (P(c3|c1c2), prefix-marginal
    // contexts): the better-separating filter, same broadcast shape,
    // same reference slice — oracle-gated like the unigram row
    "q_ext_lm_quality_cond" -> ((s, dir) => {
      val docs = Sources(s, dir).documents
      LmOps.conditionalTrigramLogLikelihood(docs, docs.filter(col("doc_id") % 97 === 0))
    }),
    // Leakage-safe split: train/val/test assigned by near-dup CLUSTER
    // (connected components of the verified jaccard pairs), so no
    // near-dup pair ever straddles a split boundary; singleton docs
    // root to themselves. Deterministic md5-prefix cuts on the root.
    "q_ext_split_leakage_safe" -> ((s, dir) => {
      val docs = docsSub(s, dir)
      CorpusOps.leakageSafeSplit(docs, DedupOps.jaccardPairs(docs, 0.9))
        .select(col("doc_id"), col("split"))
    }),
    // Incremental ingest dedup: the odd-id half of the corpus arrives as
    // a new batch and dedups against the already-ingested even-id half.
    // Bloom-routed (corpus never repartitions — see IngestOps) but
    // EXACTLY the anti-join result, so it takes a plain DuckDB oracle.
    // expectedItems is set far below the corpus size on purpose: a
    // saturated, collision-heavy filter routes MORE rows through the
    // exact-verify path and the result must not change.
    "q_ext_ingest_dedup" -> ((s, dir) => {
      val docs = Sources(s, dir).documents
      IngestOps.appendDedupExact(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          expectedItems = 256)
        .select(col("doc_id"), col("lang"))
    }),
    // duplicated-SPAN family (Lee et al. 2022 substring dedup, reduced
    // to gram-index joins): per-doc span stats on the FULL documents
    // table — the op is linear (fan-in counts, no pair join), so no
    // docsSub subsetting is needed even though the pair queries use it.
    "q_ext_dup_span_stats" -> ((s, dir) =>
      DedupOps.dupSpanStats(Sources(s, dir).documents, n = 5)),
    "q_ext_scrub_dup_spans" -> ((s, dir) =>
      DedupOps.scrubDupSpans(Sources(s, dir).documents, n = 5)
        // compare md5 of the rebuilt text, not 50k raw strings
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          length(col("clean_text")).cast("bigint").as("clean_len"))),
    // per-doc top-5 characteristic terms by division-exact smoothed
    // rarity (see RelevanceOps determinism contract)
    "q_ext_top_terms" -> ((s, dir) =>
      RelevanceOps.topTermsByRarity(Sources(s, dir).documents, k = 5)),
    // winnowing document fingerprints (rolling-hash fingerprinting,
    // SIGMOD'03): per-doc digest of the SELECTED fingerprint set —
    // n_fps + md5 over the sorted fingerprints, so the oracle proves the
    // exact selection, not just counts
    "q_ext_fingerprint_winnow" -> ((s, dir) =>
      DedupOps.winnowFingerprints(Sources(s, dir).documents)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fps"),
          md5(concat_ws("|", sort_array(collect_list(col("fp"))))).as("fps_md5"))),
    // the dedup APPLICATION: pairs sharing ≥ 5 winnowed fingerprints on
    // the docsSub subset — fully oracle-portable (md5 k-gram hashes)
    "q_ext_winnow_neardup" -> ((s, dir) =>
      DedupOps.winnowNearDupPairs(docsSub(s, dir), minShared = 5)),
    // the PRODUCTION mode: codegen'd xxhash64 gram hashes — per-gram md5
    // is the measured hot cost of the oracle row (~3× the rest of the
    // row at sf0.1) and the winnowing guarantee is hash-agnostic. The
    // hash VALUES are non-portable, so the driver checks the per-doc
    // structural gate instead: the doc set is exactly the ≥ k-char
    // normalized docs, n_grams is re-derived portably, and the selected
    // fingerprint count respects the winnowing bounds 1 ≤ n_fps ≤
    // n_grams (distinct VALUES can collapse below any position-based
    // lower bound when gram text repeats, so 1 is the sharp floor).
    // The selection robustness property stays spec-gated for BOTH hash
    // modes in ExtOpsSpec.
    "q_ext_fingerprint_winnow_fast" -> ((s, dir) => {
      val docs = Sources(s, dir).documents
      val fps = DedupOps.winnowFingerprints(docs, fastHash = true)
        .groupBy("doc_id").agg(count(lit(1)).as("n_fps"))
      docs.select(col("doc_id"),
          (length(TextOps.normalizeWs(col("text"))) - 4).cast("long").as("n_grams"))
        .filter(col("n_grams") >= 1)
        .join(fps, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          (col("n_fps").isNotNull && col("n_fps") >= 1 &&
            col("n_fps") <= col("n_grams")).as("fp_bounds_ok"))
    }),
    // MinHash-LSH near-dup pairs, structurally gated: the banded
    // candidates are exact-Jaccard verified before emission, so the
    // gate re-derives every pair's jaccard from portable token sets
    // and every flag must verify; recall rides q_ext_recall_minhash
    "q_ext_minhash_neardup" -> ((s, dir) => {
      val docs = docsSub(s, dir)
      StructGate.jaccardPairGate(DedupOps.minHashNearDupPairs(docs, 0.9),
        docs, 0.9, tokensOf = TextOps.distinctTokens _)
    }),
    // SimHash pairs, structurally gated: hamming re-derived from fresh
    // signatures and bounded by maxDist; recall rides q_ext_recall_simhash
    "q_ext_simhash_neardup" -> ((s, dir) => {
      val docs = docsSub(s, dir)
      StructGate.hammingPairGate(
        DedupOps.simHashNearDupPairs(docs, maxDist = 3), docs, maxDist = 3)
    }),
    // Measured-recall rows (RecallOps.recallGate): ORACLE-GATED —
    // (metric, recall_floor, meets_floor) against a constant-true DuckDB
    // oracle, so a recall collapse flips a CORRECTNESS row, not just a
    // spec. The floors here are COLLAPSE detectors pinned with margin
    // below the sf0.01 gate scale's measured values; the tighter
    // measured floors stay in RecallSpec at fixture SF (raw recall is a
    // hash-non-portable double, so it rides the spec, not the hash
    // compare).
    "q_ext_recall_minhash" -> ((s, dir) =>
      RecallOps.recallGate("minhash_lsh_j0.9_32x8",
        DedupOps.jaccardPairs(docsSub(s, dir), 0.9),
        DedupOps.minHashNearDupPairs(docsSub(s, dir), 0.9),
        Seq("doc_a", "doc_b"), floor = 0.9)),
    "q_ext_recall_simhash" -> ((s, dir) =>
      RecallOps.recallGate("simhash_h3_4x16",
        DedupOps.simHashNearDupPairsExhaustive(docsSub(s, dir), maxDist = 3),
        DedupOps.simHashNearDupPairs(docsSub(s, dir), maxDist = 3),
        // the 4×16-chunk pigeonhole at maxDist<=3 is a mathematical
        // GUARANTEE, not an operating point: the floor is exactly 1.0
        Seq("doc_a", "doc_b"), floor = 1.0)),
    // sign-LSH cosine: recall over the WHOLE ≥0.35 band is dominated by
    // near-threshold pairs the 4×8 operating point intentionally trades
    // away (P(catch) ≈ 1-(1-p⁸)⁴, p = 1-θ/π — low at sim 0.35, → 1 as
    // sim → 1); the second row measures the band above the fixture's
    // 90th sim percentile (the fixture's max pairwise sim is ≈0.51, so
    // a true near-dup band does not exist in it — the ≥0.9-band recall
    // contract is pinned on planted twins in ExtOpsSpec instead). Both
    // numbers measured, both registered.
    "q_ext_recall_knn_lsh" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      val found = SimilarityOps.lshCosinePairs(e, 0.35)
      RecallOps.recallGate("sign_lsh_cos0.35_4x8",
          SimilarityOps.cosinePairs(e, 0.35), found, Seq("vec_a", "vec_b"),
          floor = 0.02)
        .unionByName(RecallOps.recallGate("sign_lsh_cos0.35_4x8_band0.45",
          SimilarityOps.cosinePairs(e, 0.45),
          found.filter(col("sim") >= 0.45), Seq("vec_a", "vec_b"),
          floor = 0.0))
    }),
    // ANN recall@3 for the three production probe shapes, measured
    // against the brute-force top-k on the same queries — the number
    // their no-oracle rows promise (IVF cell-boundary misses, PQ
    // quantization-shortlist misses, IVF-PQ both compounded)
    "q_ext_recall_knn_ivf_probe" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      val q = e.filter(col("vec_id") < 20)
      RecallOps.recallGate("ivf_k3_probe4of16",
        SimilarityOps.bruteForceTopK(e, q, k = 3),
        ivfIndex(s, dir).topK(q, k = 3, nprobe = 4),
        Seq("query_id", "corpus_id"), floor = 0.25,
        expectExactPairs = Some(60L))
    }),
    "q_ext_recall_knn_pq" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      val q = e.filter(col("vec_id") < 20)
      RecallOps.recallGate("pq_refine_k3_shortlist64",
        SimilarityOps.bruteForceTopK(e, q, k = 3),
        pqIndex(s, dir).topKRefined(q, e, k = 3, shortlist = 64),
        Seq("query_id", "corpus_id"), floor = 0.4,
        expectExactPairs = Some(60L))
    }),
    "q_ext_recall_knn_ivfpq" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      val q = e.filter(col("vec_id") < 20)
      RecallOps.recallGate("ivfpq_k3_probe4of16_shortlist32",
        SimilarityOps.bruteForceTopK(e, q, k = 3),
        ivfPqIndex(s, dir).topKRefined(q, e, k = 3, nprobe = 4, shortlist = 32),
        Seq("query_id", "corpus_id"), floor = 0.2,
        expectExactPairs = Some(60L))
    }),
    "q_ext_recall_knn_sq" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      val q = e.filter(col("vec_id") < 20)
      RecallOps.recallGate("sq8_refine_k3_shortlist32",
        SimilarityOps.bruteForceTopK(e, q, k = 3),
        sqIndex(s, dir).topKRefined(q, e, k = 3, shortlist = 32),
        Seq("query_id", "corpus_id"), floor = 0.8,
        expectExactPairs = Some(60L))
    }),
    "q_ext_knn_brute" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      SimilarityOps.bruteForceTopK(e, e.filter(col("vec_id") < 20), k = 3)
    }),
    // UNIFIED FRONT DOOR (Graft.index / VectorIndex): the exact profile
    // selects the brute rung at any corpus size, so the registered query
    // routes build → persist → load → search through the facade and
    // still hash-matches the shared exact top-3 oracle
    "q_ext_knn_auto" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      VectorIndex.load(s, autoExactIndexCache.pathFor(s, dir))
        .search(e.filter(col("vec_id") < 20), k = 3)
    }),
    // ANN deletion, driver-gated: the facade's IVF rung at full probe
    // is exact, so after delete + append the top-3 must hash-match the
    // brute answer over the post-delete corpus — any tombstoned id
    // surfacing (or any appended id missing) fails the oracle
    "q_ext_knn_after_delete" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      VectorIndex.load(s, autoDeleteIndexCache.pathFor(s, dir))
        .search(e.filter(col("vec_id") < 20), k = 3)
    }),
    // facade recall gate: the serving profile selects the HNSW rung
    // (graph fan-out), measured against brute over the facade's own
    // stored corpus — same driver-gated meets_floor discipline as the
    // direct-API recall rows
    "q_ext_recall_knn_auto" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      VectorIndex.load(s, autoServingIndexCache.pathFor(s, dir))
        .recallGate(e.filter(col("vec_id") < 20), k = 3, floor = 0.5,
          expectExactPairs = Some(60L))
    }),
    // HNSW graph rung (shard-and-merge, HnswIndex): production probe.
    // Graph navigation is approximate by contract, so the neighbor SET
    // rides the measured-recall row below; what the driver hash-checks
    // HERE is the structural gate over the production result itself
    // (StructGate.topKGate): exactly k ranks per query, ids resolve in
    // the corpus, no self-matches, sims re-derived exact, rank order
    // consistent — r9's "structural oracles for the no_oracle rows".
    "q_ext_knn_hnsw" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      val q = e.filter(col("vec_id") < 20)
      StructGate.topKGate(hnswIndex(s, dir).topK(q, k = 3, ef = 64), q, e)
    }),
    "q_ext_recall_knn_hnsw" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      val q = e.filter(col("vec_id") < 20)
      RecallOps.recallGate("hnsw_k3_ef64_4shard",
        SimilarityOps.bruteForceTopK(e, q, k = 3),
        hnswIndex(s, dir).topK(q, k = 3, ef = 64),
        Seq("query_id", "corpus_id"), floor = 0.5,
        expectExactPairs = Some(60L))
    }),
    // drift instrument (DriftOps): the even/odd doc halves stand in for
    // two crawl snapshots; per-lang doc/length movement, vocab Jaccard,
    // token entropies, and JS divergence — all ratios of exact counts
    "q_ext_corpus_drift" -> ((s, dir) => {
      val d = Sources(s, dir).documents
      DriftOps.corpusDrift(d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1))
    }),
    // retrieval-quality instrument (EvalOps): per-query recall@3 / MRR@3 /
    // nDCG@3 of the exact top-3 run against a cosine ≥ 0.3 binary
    // relevance set — queries with more relevant docs than k cannot reach
    // recall 1, so the row exercises every non-trivial branch of the
    // metric math; the ground-truth scan is the metric's definition, not
    // an index cost
    "q_ext_retrieval_metrics" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      val q = e.filter(col("vec_id") < 50)
      graft.ext.EvalOps.retrievalMetrics(
        SimilarityOps.bruteForceTopK(e, q, k = 3),
        graft.ext.EvalOps.relevantByCosine(e, q, threshold = 0.3), k = 3)
    }),
    "q_ext_cosine_pairs" -> ((s, dir) =>
      SimilarityOps.cosinePairs(Sources(s, dir).embeddings, 0.35)),
    // sign-LSH cosine pairs, structurally gated: emitted pairs are
    // exact-verified by construction (precision 1.0), so every flag —
    // re-derived sims, threshold, ordering, id resolution, pair
    // distinctness — must verify; the pair-set recall rides its
    // measured-recall row
    "q_ext_knn_lsh" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      StructGate.cosinePairGate(SimilarityOps.lshCosinePairs(e, 0.35), e, 0.35)
    }),
    // The two exact IVF rows now time DISTINCT lifecycle phases:
    //  - q_ext_knn_ivf is the COLD path — train + save + load + probe a
    //    fresh throwaway index on every call, so the bench row isolates
    //    the one-time index-build cost a deployment pays per (re)ingest;
    //  - q_ext_knn_ivf_probe is the WARM path — load the session's
    //    persisted index (trained once, holder-cached) and probe with NO
    //    train and NO corpus reshuffle (plan asserted in ExtOpsSpec) —
    //    the steady-state per-query number.
    // Both run nprobe = nlist (probe every cell), so both are EXACT
    // top-k and hash-match the brute-force DuckDB oracle.
    "q_ext_knn_ivf" -> ((s, dir) => {
      ivfColdCleanup
      val p = java.nio.file.Files.createTempDirectory("graft_ivfcold_").toString
      ivfColdDirs.synchronized { ivfColdDirs += p }
      IvfIndex.train(Sources(s, dir).embeddings, nlist = 16).save(p)
      val idx = IvfIndex.load(s, p)
      idx.topK(Sources(s, dir).embeddings.filter(col("vec_id") < 20),
        k = 3, nprobe = idx.nlist)
    }),
    "q_ext_knn_ivf_probe" -> ((s, dir) => {
      val idx = ivfIndex(s, dir)
      idx.topK(Sources(s, dir).embeddings.filter(col("vec_id") < 20),
        k = 3, nprobe = idx.nlist)
    }),
    // The number that sells IVF: the same probe at nprobe = 4 of 16 —
    // O(N·nprobe/nlist) work per query. Approximate by design, so the
    // neighbor set rides its recall row; the driver hash-checks the
    // structural gate over the production probe (see q_ext_knn_hnsw).
    "q_ext_knn_ivf_probe_approx" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      val q = e.filter(col("vec_id") < 20)
      StructGate.topKGate(ivfIndex(s, dir).topK(q, k = 3, nprobe = 4), q, e)
    }),
    // Product quantization (PqIndex): the MEMORY side of the ANN story —
    // the corpus-wide scan reads m-byte codes, never vectors.
    //  - exactmode sets shortlist = everything, so the ADC stage passes
    //    every candidate to the exact re-rank and the result must
    //    hash-match the same brute-force oracle as the IVF rows — the
    //    refine seam (normalize + dot + window) is proven bit-exact;
    //  - q_ext_knn_pq is the production shape: 64-of-N ADC shortlist
    //    from the code scan, exact re-rank of |Q|·64 rows. No oracle
    //    (approximate by design); recall floors are spec-gated in
    //    PqIndexSpec on clustered AND adversarial-uniform corpora.
    "q_ext_knn_pq_exactmode" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      pqIndex(s, dir).topKRefined(e.filter(col("vec_id") < 20), e,
        k = 3, shortlist = Int.MaxValue)
    }),
    "q_ext_knn_pq" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      val q = e.filter(col("vec_id") < 20)
      StructGate.topKGate(
        pqIndex(s, dir).topKRefined(q, e, k = 3, shortlist = 64), q, e)
    }),
    // Scalar quantization (SqIndex): the first rung of the quantized-ANN
    // ladder — 8× compression from per-dimension 8-bit codes, error
    // bounded by half a quantization step per dim (SqIndexSpec), so ADC
    // rankings barely move where PQ's codebook residual scrambles them.
    //  - exactmode: unbounded shortlist ⇒ the exact re-rank sees every
    //    candidate and must hash-match the brute-force oracle;
    //  - q_ext_knn_sq is the production shape: 32-of-N dequantized
    //    shortlist from the code scan, exact re-rank of |Q|·32 rows.
    //    No oracle (approximate by design); recall floors in SqIndexSpec
    //    and the measured datapoint in q_ext_recall_knn_sq.
    "q_ext_knn_sq_exactmode" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      sqIndex(s, dir).topKRefined(e.filter(col("vec_id") < 20), e,
        k = 3, shortlist = Int.MaxValue)
    }),
    "q_ext_knn_sq" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      val q = e.filter(col("vec_id") < 20)
      StructGate.topKGate(
        sqIndex(s, dir).topKRefined(q, e, k = 3, shortlist = 32), q, e)
    }),
    // IVF-PQ (the full composition a 100 TB ANN runs: probe pruning ×
    // residual code compression):
    //  - exactmode probes every cell with an unbounded refine, so the
    //    result must hash-match the brute-force oracle (probe + residual
    //    ADC + refine seams all proven exact end-to-end);
    //  - q_ext_knn_ivfpq is the production shape — 4-of-16 probe,
    //    32-candidate ADC shortlist from the cid-partitioned code scan,
    //    exact re-rank of |Q|·32 rows. No oracle (approximate by
    //    design); recall and reconstruction-error gates in IvfPqSpec.
    "q_ext_knn_ivfpq_exactmode" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      val idx = ivfPqIndex(s, dir)
      idx.topKRefined(e.filter(col("vec_id") < 20), e,
        k = 3, nprobe = idx.nlist, shortlist = Int.MaxValue)
    }),
    "q_ext_knn_ivfpq" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      val q = e.filter(col("vec_id") < 20)
      StructGate.topKGate(
        ivfPqIndex(s, dir).topKRefined(q, e, k = 3, nprobe = 4, shortlist = 32),
        q, e)
    }),
    // SemDeDup-style semantic dedup: cluster-local near-dup pairs →
    // greedy drop. Cell-boundary recall stays approximate by contract
    // (exactmode twin + SemDedupSpec); the driver hash-checks the
    // structural gate — kept is a distinct subset of the corpus and
    // every dropped id has a re-derived exact-cosine witness with a
    // smaller id, so nothing was dropped without cause.
    "q_ext_dedup_semantic" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      val pairs = SimilarityOps.semanticNearDupPairs(e, threshold = 0.35)
      StructGate.semanticDedupGate(
        DedupOps.removeNearDups(e, pairs, idCol = "vec_id", dropCol = "vec_b"),
        corpus = e, pairs = pairs, threshold = 0.35)
    }),
    // EXACT-mode oracle for the SemDeDup composition (the *_exactmode
    // pattern): nlist = 1 puts the whole corpus in ONE cell, so the
    // cluster-local pair search IS the global all-pairs and the
    // quantize→within-cell-pairs→greedy-drop seams hash-match a plain
    // DuckDB mirror. The nlist=16 row above stays production.
    "q_ext_dedup_semantic_exactmode" -> ((s, dir) => {
      val e = Sources(s, dir).embeddings
      DedupOps.removeNearDups(e,
          SimilarityOps.semanticNearDupPairs(e, threshold = 0.35, nlist = 1),
          idCol = "vec_id", dropCol = "vec_b")
        .select(col("vec_id"), col("label"))
    }),
    // Misra-Gries heavy hitters: MG candidates re-counted exactly and
    // integer-thresholded — equals the exhaustive group-by answer by the
    // no-false-negative guarantee (30 of ~1000s of tokens at sf0.01)
    "q_ext_heavy_hitters" -> ((s, dir) =>
      SketchOps.heavyHitters(
        Sources(s, dir).documents
          .select(explode(TextOps.tokens(col("text"))).as("t")),
        col("t"), 64)),
    // length-band blocking + THRESHOLD Levenshtein verify (the
    // high-precision pair verifier next to the recall-path families):
    // 2160 candidates from 124750 possible pairs at sf0.01, 42 verified
    // at dist ≤ 60. The oracle re-derives the same blocks and filters
    // full levenshtein ≤ 60 — proving the -1-past-threshold kernel
    // agrees with the unbounded distance everywhere it claims a match.
    "q_ext_edit_distance" -> ((s, dir) =>
      DedupOps.editDistancePairs(Sources(s, dir).documents, maxDist = 60)),
    "q_ext_json_extract" -> ((s, dir) =>
      Sources(s, dir).events
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .filter(col("k") > 50)),
    "q_ext_media_meta" -> ((s, dir) =>
      MultimodalOps.withFakeMedia(Sources(s, dir).documents).select(
        col("doc_id"),
        md5(col("media")).as("media_md5"),
        length(col("media")).as("media_bytes"),
        col("media_meta.format").as("format"),
        col("media_meta.width").as("width"),
        col("media_meta.height").as("height"))),
    // codec = None: this fixture's blobs are text bytes BY CONSTRUCTION
    // (the byte-fallback gate) — attempting an image sniff per row would
    // be pure waste, and a future fixture text starting with an image
    // magic prefix must not silently reroute the oracle-compared bins
    "q_ext_media_features" -> ((s, dir) =>
      MultimodalOps.decodeFeatures(
        MultimodalOps.withFakeMedia(Sources(s, dir).documents), codec = None)
        .select(col("doc_id"), col("media_bytes"),
          round(element_at(col("features"), 1), 6).as("bin0"),
          round(element_at(col("features"), 3), 6).as("bin2"),
          round(element_at(col("features"), 8), 6).as("bin7"))),
    // the REAL-decode gate: blobs are genuine PNGs generated from a
    // deterministic pixel function of doc_id; the engine must round-trip
    // them through actual PNG encode → javax.imageio decode → luminance
    // histogram, while the oracle computes the same statistics
    // ANALYTICALLY from the generator formula — a hash match proves the
    // codec recovers every pixel bit-exactly.
    "q_ext_media_decode_real" -> ((s, dir) =>
      MultimodalOps.decodeImage(
        MultimodalOps.withGeneratedPng(Sources(s, dir).documents))
        .select(col("doc_id"), col("decoded_width"), col("decoded_height"),
          round(element_at(col("features"), 1), 6).as("bin0"),
          round(element_at(col("features"), 6), 6).as("bin5"),
          round(element_at(col("features"), 16), 6).as("bin15"))),
    // decodeFeatures through the REAL codec route (its default): the
    // generated-PNG blobs decode, so features are luminance histograms
    // over ACTUAL pixels — the oracle recomputes them analytically from
    // the generator formula, proving the feature entry point runs on
    // decoded pixels, not payload bytes (VERDICT r9 task 7). The
    // text-byte fixture row above keeps exercising the byte fallback.
    "q_ext_media_features_real" -> ((s, dir) =>
      MultimodalOps.decodeFeatures(
        MultimodalOps.withGeneratedPng(Sources(s, dir).documents))
        .select(col("doc_id"),
          round(element_at(col("features"), 1), 6).as("bin0"),
          round(element_at(col("features"), 6), 6).as("bin5"),
          round(element_at(col("features"), 16), 6).as("bin15"))),
    // frame sampler gate: 4 evenly-spaced 64-byte slices per blob,
    // fingerprinted as md5 over the '|'-joined hex of each frame — a
    // scalar digest the DuckDB oracle reproduces by slicing hex(blob)
    // (2 hex chars = 1 byte, so byte offsets double and multibyte text
    // can't skew a character-based substring).
    // hex(frame) is COALESCEd to '' so a NULL blob (4 NULL slices) joins
    // to "|||" exactly like the oracle's empty-hex slices — concat_ws
    // would otherwise SKIP the nulls and hash "" instead.
    "q_ext_media_frames" -> ((s, dir) =>
      MultimodalOps.sampleFrames(
        MultimodalOps.withFakeMedia(Sources(s, dir).documents), n = 4)
        .select(col("doc_id"),
          size(col("frames")).as("n_frames"),
          md5(concat_ws("|",
            transform(col("frames"), f => coalesce(hex(f), lit(""))))).as("frames_md5"))),
    // resize gate: metadata must carry the target dims and the payload the
    // stride-k decimation (k = area ratio from the ORIGINAL metadata dims,
    // which the fixture derives from doc_id — letting DuckDB reproduce the
    // stride without reading the struct). Digest = md5 over hex, as above.
    "q_ext_media_resize" -> ((s, dir) =>
      MultimodalOps.resizeStub(
        MultimodalOps.withFakeMedia(Sources(s, dir).documents), targetW = 64, targetH = 64)
        .select(col("doc_id"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          length(col("media")).as("resized_bytes"),
          md5(hex(col("media"))).as("resized_md5"))),
    // the REAL-resize gate: generated PNGs → ImageIoCodec nearest-
    // neighbor resample to 16×12 (pinned kernel: dst (x,y) reads src
    // (⌊x·w/16⌋, ⌊y·h/12⌋)) → PNG re-encode → REAL decode of the
    // resized payload → luminance histogram. The oracle recomputes every
    // resampled pixel analytically from the generator formula + the
    // pinned mapping, so a hash match proves the resample touched
    // exactly the intended source pixels and the codec round-tripped
    // them bit-exactly. (The byte-decimation resize STUB row above stays
    // for payloads the JDK can't decode — wav/video containers.)
    "q_ext_media_resize_real" -> ((s, dir) =>
      MultimodalOps.decodeImage(
        MultimodalOps.resizeImage(
          MultimodalOps.withGeneratedPng(Sources(s, dir).documents),
          targetW = 16, targetH = 12))
        .select(col("doc_id"), col("decoded_width"), col("decoded_height"),
          round(element_at(col("features"), 1), 6).as("bin0"),
          round(element_at(col("features"), 6), 6).as("bin5"),
          round(element_at(col("features"), 16), 6).as("bin15"))),
    // codec-format BREADTH gate (r10 task 6): the same real-decode
    // contract across two MORE in-JVM formats — BMP (lossless RGB, so
    // the PNG analytic oracle applies verbatim) and GIF (indexed
    // 256-gray palette: LZW is lossless over indexed data and getRGB
    // reads palette entries with no colorspace conversion, so pixel i's
    // luminance is EXACTLY the generator's low byte). One row per
    // (doc, format); a hash match proves the codec seam's format
    // dispatch decodes each container bit-exactly, not just PNG.
    // JPEG (lossy) rides MultimodalSpec with dims + tolerance bounds.
    "q_ext_media_formats" -> ((s, dir) => {
      val docs = Sources(s, dir).documents.select("doc_id")
      MultimodalOps.decodeImage(
        MultimodalOps.withGeneratedImages(docs, "bmp")
          .unionByName(MultimodalOps.withGeneratedImages(docs, "gif")))
        .select(col("doc_id"), col("media_meta.format").as("format"),
          col("decoded_width"), col("decoded_height"),
          round(element_at(col("features"), 1), 6).as("bin0"),
          round(element_at(col("features"), 6), 6).as("bin5"),
          round(element_at(col("features"), 16), 6).as("bin15"))
    }),
    // REAL audio codec seam (VERDICT r11 task 4): genuine WAV encode
    // (RIFF written by javax.sound itself) → WavCodec decode → amplitude
    // statistics, all integer-analytic by the square-wave construction
    // (every sample ±A ⇒ rms = A, peak = A, mean = 0 over whole
    // periods) — the corrupt-payload fallback rides MultimodalSpec.
    "q_ext_media_audio" -> ((s, dir) =>
      MultimodalOps.decodeAudio(
        MultimodalOps.withGeneratedWav(Sources(s, dir).documents.select("doc_id")))
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("rms"), 6).as("rms"), col("peak"),
          round(col("mean"), 6).as("mean"))),
    // REAL multi-frame video seam: genuine animated-GIF encode (multi-
    // frame sequence written by javax.imageio itself) → GifVideoCodec
    // demux (frame count from the container directory) + per-frame LZW
    // decode of ONLY the sampled frames (first + last under the pinned
    // n=2 rule) → per-frame luminance bins. Fully analytic: frame f is
    // the generator sequence's disjoint window at offset f·w·h and the
    // indexed-gray palette makes luminance exactly the sample byte —
    // a hash match proves demux, frame addressing, and per-frame pixel
    // recovery bit-for-bit. Corrupt-payload fallback rides MultimodalSpec.
    "q_ext_media_video" -> ((s, dir) =>
      MultimodalOps.sampleFrameStats(
        MultimodalOps.withGeneratedGifVideo(
          Sources(s, dir).documents.select("doc_id")), n = 2)
        .select(col("doc_id"), col("n_frames"), col("frame_idx"),
          col("decoded_width"), col("decoded_height"),
          round(element_at(col("features"), 1), 6).as("bin0"),
          round(element_at(col("features"), 6), 6).as("bin5"),
          round(element_at(col("features"), 16), 6).as("bin15"))),
    // PERCEPTUAL image near-dup (VERDICT r11 task 3): each doc's
    // block-fixture image is encoded THREE ways (PNG, BMP, JPEG —
    // different bytes, same picture, invisible to byte-exact dedup),
    // perceptual-hashed through real decode (withGeneratedBlockImages
    // guarantees the three dHash identically: lossless twins
    // bit-exactly, JPEG because block structure confines its error
    // inside the gradient margin), banded SimHash-style into candidate
    // pairs, and collapsed. The oracle is fully ANALYTIC: DuckDB
    // recomputes every expected hash bit from the md5 block formula, so
    // a hash match proves generator → real codec round-trip → luma box
    // filter → gradient-sign extraction bit-for-bit, plus the collapse
    // (3 variants → exactly 1 survivor per doc, n_survivors=0 or 2
    // would hash-mismatch).
    "q_ext_media_neardup" -> ((s, dir) => {
      val docs = docsSub(s, dir).select("doc_id")
      val variants = Seq("png" -> 1, "bmp" -> 2, "jpeg" -> 3).map { case (f, k) =>
        MultimodalOps.withGeneratedBlockImages(docs, f)
          .select((col("doc_id") * 10 + k).as("doc_id"), col("media"))
      }.reduce(_.unionByName(_))
      val hashed = MultimodalOps.perceptualHash(variants)
      val pairs = DedupOps.hammingNearDupPairsFromSigs(
        hashed, maxDist = 6, bands = 8, sigCol = "phash")
      val surv = DedupOps.removeNearDups(hashed.select("doc_id"), pairs)
        .select(((col("doc_id") - lit(1)) / 10).cast("long").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_survivors"))
      val pngHash = hashed.filter(col("doc_id") % 10 === 1)
        .select(((col("doc_id") - lit(1)) / 10).cast("long").as("doc_id"),
          lpad(bin(col("phash")), 64, "0").as("phash_bits"))
      docs.join(pngHash, Seq("doc_id"), "left")
        .join(surv, Seq("doc_id"), "left")
        .select(col("doc_id"), col("phash_bits"), lit(3).as("n_variants"),
          coalesce(col("n_survivors"), lit(0)).as("n_survivors"))
    }),
    // VIDEO-level perceptual near-dup (VERDICT r12 task 5) folded with
    // the second real container (task 8): each doc's block animation is
    // encoded THREE byte-distinct ways — GIF, palette-permuted GIF (a
    // pure re-encode: different palette table + LZW stream, identical
    // decode), and MJPEG-in-AVI (different container AND lossy frames,
    // routed by magic bytes through AutoVideoCodec) — then demuxed,
    // per-sampled-frame dHashed (n=2: first + last), folded to a doc
    // signature, banded on (sample rank, hash chunk), verified on max
    // aligned hamming, and collapsed. Fully analytic oracle: each dHash
    // cell is exactly one md5-derived 8×8 block (72×64 vs the 9×8
    // grid), so DuckDB recomputes every frame-0 hash bit and the
    // collapse count (3 encodings → exactly 1 survivor per doc;
    // distinct docs are md5-decorrelated, aligned frames far apart).
    "q_ext_media_video_neardup" -> ((s, dir) => {
      val docs = docsSub(s, dir).select("doc_id")
      val variants = Seq("gif" -> 1, "gif-perm" -> 2, "avi" -> 3).map { case (c, k) =>
        MultimodalOps.withGeneratedBlockVideo(docs, c)
          .select((col("doc_id") * 10 + k).as("doc_id"), col("media"))
      }.reduce(_.unionByName(_))
      val hashed = MultimodalOps.videoFrameHashes(variants, n = 2)
      val pairs = DedupOps.frameSigNearDupPairs(hashed, maxDist = 6, bands = 8)
      val surv = DedupOps.removeNearDups(hashed.select("doc_id"), pairs)
        .select(((col("doc_id") - lit(1)) / 10).cast("long").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_survivors"))
      val gifSig = hashed.filter(col("doc_id") % 10 === 1)
        .select(((col("doc_id") - lit(1)) / 10).cast("long").as("doc_id"),
          col("n_frames"),
          lpad(bin(element_at(col("sig"), 1)), 64, "0").as("sig0_bits"))
      docs.join(gifSig, Seq("doc_id"), "left")
        .join(surv, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_frames"), col("sig0_bits"),
          lit(3).as("n_variants"),
          coalesce(col("n_survivors"), lit(0)).as("n_survivors"))
    }),
    // Per-container decode proof for the video dispatch seam (VERDICT
    // r12 task 8): the SAME block animation through BOTH containers,
    // each demuxed + frame-decoded by its own codec via the magic-byte
    // router, with every sampled frame's dHash recomputed analytically
    // by the oracle — a hash match per container proves GIF LZW and
    // AVI RIFF-walk + JPEG recover the same picture bit-for-bit at the
    // gradient-sign level. Corrupt/truncated fallback rides
    // MultimodalSpec.
    "q_ext_media_video_formats" -> ((s, dir) => {
      val docs = docsSub(s, dir).select("doc_id")
      Seq("gif", "avi").map { c =>
        MultimodalOps.videoFrameHashes(
          MultimodalOps.withGeneratedBlockVideo(docs, c)
            .select(col("doc_id"), lit(c).as("container"), col("media")),
          n = 2)
      }.reduce(_.unionByName(_))
        .select(col("doc_id"), col("container"), col("n_frames"),
          col("decoded_width"), col("decoded_height"),
          lpad(bin(element_at(col("sig"), 1)), 64, "0").as("f0_bits"),
          lpad(bin(element_at(col("sig"), 2)), 64, "0").as("flast_bits"))
    }),
    // AUDIO-level perceptual near-dup (VERDICT r13 task 3) folded with
    // the container seam (task 4): each doc's md5-derived square-wave
    // clip is encoded FOUR byte-distinct ways — WAV (little-endian
    // RIFF), AIFF (big-endian FORM), AU (big-endian .snd), and a
    // REQUANTIZED WAV with every amplitude exactly halved — then
    // decoded through AutoAudioCodec's magic-byte dispatch, folded to a
    // 64-bit window-envelope delta-sign signature, banded, verified on
    // hamming, and collapsed. Fully analytic oracle: window w's mean
    // |sample| is EXACTLY its md5-derived amplitude (square wave, whole
    // periods), so DuckDB recomputes every signature bit and the
    // collapse count (4 encodings → exactly 1 survivor per doc;
    // distinct docs are md5-decorrelated).
    "q_ext_media_audio_neardup" -> ((s, dir) => {
      val docs = docsSub(s, dir).select("doc_id")
      val variants = Seq("wav" -> 1, "aiff" -> 2, "au" -> 3, "wav-half" -> 4)
        .map { case (c, k) =>
          MultimodalOps.withGeneratedAudioVariants(docs, c)
            .select((col("doc_id") * 10 + k).as("doc_id"), col("media"))
        }.reduce(_.unionByName(_))
      val sigs = MultimodalOps.audioWindowSig(variants)
      val pairs = DedupOps.hammingNearDupPairsFromSigs(sigs, maxDist = 6, bands = 8)
      val surv = DedupOps.removeNearDups(sigs.select("doc_id"), pairs)
        .select(((col("doc_id") - lit(1)) / 10).cast("long").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_survivors"))
      val wavSig = sigs.filter(col("doc_id") % 10 === 1)
        .select(((col("doc_id") - lit(1)) / 10).cast("long").as("doc_id"),
          col("n_samples"),
          lpad(bin(col("sig")), 64, "0").as("sig_bits"))
      docs.join(wavSig, Seq("doc_id"), "left")
        .join(surv, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_samples"), col("sig_bits"),
          lit(4).as("n_variants"),
          coalesce(col("n_survivors"), lit(0)).as("n_survivors"))
    }),
    // Per-container decode proof for the audio dispatch seam (VERDICT
    // r13 task 4 — the q_ext_media_video_formats discipline on audio):
    // the SAME clip through all three containers, each decoded by its
    // own magic-validated codec via AutoAudioCodec, with the envelope
    // signature recomputed analytically per container — a hash match
    // proves RIFF/FORM/.snd parsing and both endiannesses recover every
    // sample's magnitude ordering bit-for-bit. Corrupt/truncated/
    // wrong-magic fallback rides MultimodalSpec.
    "q_ext_media_audio_formats" -> ((s, dir) => {
      val docs = docsSub(s, dir).select("doc_id")
      Seq("wav", "aiff", "au").map { c =>
        MultimodalOps.audioWindowSig(
          MultimodalOps.withGeneratedAudioVariants(docs, c)
            .select(col("doc_id"), lit(c).as("container"), col("media")))
      }.reduce(_.unionByName(_))
        .select(col("doc_id"), col("container"), col("sample_rate"),
          col("n_samples"), lpad(bin(col("sig")), 64, "0").as("sig_bits"))
    }),
    // Media-validation quarantine routing (VERDICT r13 task 5): the
    // mixed valid/corrupt fixture through the SAME first-failing-check
    // rule every quarantine sink applies (IngestOps.rejectReason ∘
    // MultimodalOps.mediaChecks — real codec probes, not metadata
    // trust). The oracle states each row's expected route/reason from
    // the fixture's construction (doc_id mod 6 picks the class), so a
    // hash match proves the validators fire exactly on the constructed
    // corruptions — magic sniff, demux walk, and decode each catching
    // their own class. The streaming composition (corrupt blobs →
    // __rejects fragments) rides StreamingSpec.
    "q_ext_media_quarantine" -> ((s, dir) => {
      val media = MultimodalOps.withGeneratedMixedMedia(
        docsSub(s, dir).select("doc_id"))
      media.withColumn("reject_reason",
          IngestOps.rejectReason(MultimodalOps.mediaChecks()))
        .select(col("doc_id"),
          when(col("reject_reason").isNull, lit("corpus"))
            .otherwise(lit("rejects")).as("route"),
          col("reject_reason"))
    }),
    // Incremental MEDIA ingest against a persisted perceptual-signature
    // index — appendDedupNearDupRoutedCounted's corpus-independent shape for
    // the media modality: the existing corpus is each doc's PNG render
    // persisted as hamming band rows (bandRowsOfSigs through a
    // band_key-routed store, probed by readRouted); the incoming batch
    // is a BMP re-encode of every existing picture (byte-distinct,
    // pixel-identical — hamming 0) plus one genuinely new md5-
    // decorrelated picture per doc. Survivors must be EXACTLY the new
    // pictures — the oracle states them from the construction.
    "q_ext_media_ingest_neardup" -> ((s, dir) => {
      val docs = docsSub(s, dir).select("doc_id")
      def sigsOf(ids: DataFrame, fmt: String) =
        MultimodalOps.perceptualHash(
          MultimodalOps.withGeneratedBlockImages(ids, fmt))
          .select(col("doc_id"), col("phash").as("sig"))
      ivfColdCleanup
      val wh = java.nio.file.Files.createTempDirectory("graft-mband").toString
      ivfColdDirs.synchronized { ivfColdDirs += wh }
      val bandStore = graft.runtime.BucketedFragmentStore(s, wh, "mbands",
        "__bk", buckets = 4, routeCol = Some("band_key"))
      bandStore.upsert(IngestOps.bandRowsOfSigs(sigsOf(docs, "png"), bands = 8))
      val twins = sigsOf(docs, "bmp")
        .select((col("doc_id") * 10 + 1).as("doc_id"), col("sig"))
      val novel = sigsOf(docs.select((col("doc_id") + 3).as("doc_id")), "png")
        .select(((col("doc_id") - 3) * 10 + 2).as("doc_id"), col("sig"))
      IngestOps.appendDedupHammingRouted(
          keys => bandStore.readRouted(keys),
          twins.unionByName(novel), maxDist = 6)
        .select(col("doc_id"))
    }),
    // The END-TO-END media ingest composition (VERDICT r14 task 1):
    // quarantine → hamming-routed near-dup → route, through
    // IngestOps.mediaIngestBatch — the EXACT code corpusIngestMediaSink
    // runs per trigger (equivalence by construction). The incoming
    // batch exercises every path against a persisted PNG corpus index:
    // BMP re-encodes (+1: valid, hamming-0 against the store → DROPPED,
    // absent from output), novel pictures (+2 → corpus), XX-junk
    // (+3 → known_container), truncated WAV (+4: valid RIFF/WAVE magic,
    // body cut → media_decodes), NULL payloads (+5 → media_present).
    // Every route is construction-stated, so the oracle needs no codec.
    "q_ext_media_ingest_compose" -> ((s, dir) => {
      val docs = docsSub(s, dir).select("doc_id")
      def pics(ids: DataFrame, fmt: String) =
        MultimodalOps.withGeneratedBlockImages(ids, fmt)
          .select(col("doc_id"), col("media"))
      ivfColdCleanup
      val wh = java.nio.file.Files.createTempDirectory("graft-mcomp").toString
      ivfColdDirs.synchronized { ivfColdDirs += wh }
      val bandStore = graft.runtime.BucketedFragmentStore(s, wh, "mbands",
        "__bk", buckets = 4, routeCol = Some("band_key"))
      bandStore.upsert(IngestOps.bandRowsOfSigs(
        MultimodalOps.perceptualHash(pics(docs, "png"))
          .select(col("doc_id"), col("phash").as("sig")), bands = 8))
      val twins = pics(docs, "bmp")
        .select((col("doc_id") * 10 + 1).as("doc_id"), col("media"))
      val novel = pics(docs.select((col("doc_id") + 3).as("doc_id")), "png")
        .select(((col("doc_id") - 3) * 10 + 2).as("doc_id"), col("media"))
      val junk = docs.select((col("doc_id") * 10 + 3).as("doc_id"))
        .select(col("doc_id"), concat(lit("XX".getBytes("UTF-8")),
          unhex(md5(col("doc_id").cast("string")))).as("media"))
      val cutWav = MultimodalOps.withGeneratedAudioVariants(
          docs.select((col("doc_id") * 10 + 4).as("doc_id")), "wav")
        .select(col("doc_id"), expr("substring(media, 1, 16)").as("media"))
      val nulls = docs.select((col("doc_id") * 10 + 5).as("doc_id"),
        lit(null).cast("binary").as("media"))
      val r = IngestOps.mediaIngestBatch(
        keys => bandStore.readRouted(keys),
        Seq(twins, novel, junk, cutWav, nulls).reduce(_.unionByName(_)),
        maxDist = 6)
      r.survivors.select(col("doc_id"), lit("corpus").as("route"))
        .unionByName(r.rejects.select(col("doc_id"),
          col("reject_reason").as("route")))
    }),
    // VISUAL similarity search (VERDICT r12 task 6): decoded-raster
    // feature vectors indexed through the VectorIndex facade (exact
    // profile → brute rung) and queried k-NN — image in, nearest
    // pictures out. Fully analytic oracle: the PNG generator's
    // luminance histograms are DuckDB-recomputable (the features_real
    // CTE), so the exact cosine top-3 per query image is too.
    "q_ext_media_knn" -> ((s, dir) => {
      val q = mediaFeatureVecs(s, dir).filter(col("vec_id") < 20)
      VectorIndex.load(s, mediaKnnExactCache.pathFor(s, dir)).search(q, k = 3)
    }),
    // measured recall of the SERVING profile (HNSW rung) over the same
    // visual-feature corpus, vs brute force on its stored corpus —
    // the q_ext_recall_knn_auto discipline applied to the image bridge
    "q_ext_recall_media_knn" -> ((s, dir) => {
      val q = mediaFeatureVecs(s, dir).filter(col("vec_id") < 20)
      VectorIndex.load(s, mediaKnnServingCache.pathFor(s, dir))
        .recallGate(q, k = 3, floor = 0.4, expectExactPairs = Some(60L))
    }),
  )

  // ---- DuckDB mirrors ------------------------------------------------------

  private val toksSql = """regexp_split_to_array(trim(text), '\s+')"""
  private val dtoksSql = s"list_distinct($toksSql)"

  private val stopRatioSql =
    s"""CAST(len(list_filter($toksSql, t -> t IN ('the','a','an','of','and','to','in','is','it','that'))) AS DOUBLE) / len($toksSql)"""

  // empty-string guard mirrors TextOps.punctRatio (ANSI division)
  private val punctRatioSql =
    """CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\-]', '', 'g')) AS DOUBLE) / length(text) END"""

  private def markerScore(words: Seq[String]): String =
    s"len(list_intersect($dtoksSql, [${words.map(w => s"'$w'").mkString(",")}]))"

  // shared by the text-features oracle and the corpus-stats rollup
  private val qualitySql =
    s"""0.5 * least(1.0, CAST(len($toksSql) AS DOUBLE) / 100.0)
       |    + 0.3 * (CASE WHEN $stopRatioSql BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.0 END)
       |    + 0.2 * (1.0 - $punctRatioSql)""".stripMargin

  private val fingerprintSql =
    """md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))"""

  // Shared by the video mirrors: the 72 block grays of one frame from
  // the md5 formula (17·(2·(digest[0] mod 8) + gx mod 2), digest over
  // "<id>:<frame>:<gx>:<gy>" — `keyPrefix` supplies "<id>:<frame>"),
  // and the dHash gradient bits over such a 72-cell list rendered the
  // way java's two's-complement bin() does (MSB first: string position
  // p carries bit 63−p = gy·8+gx, comparing cells gy·9+gx+1 and +2,
  // 1-based). Same derivation as the q_ext_media_neardup image mirror.
  private def blockVsSql(keyPrefix: String): String =
    s"""list_transform(range(72), c ->
       |    17 * (2 * ((strpos('0123456789abcdef',
       |            substr(md5($keyPrefix || ':' || (c % 9) || ':' || (c // 9)), 2, 1)) - 1) % 8)
       |          + (c % 9) % 2))""".stripMargin

  private def dhashBitsSql(vs: String): String =
    s"""list_aggregate(list_transform(range(64), p ->
       |    CASE WHEN $vs[CAST((63 - p) // 8 * 9 + (63 - p) % 8 + 1 AS INT)]
       |            < $vs[CAST((63 - p) // 8 * 9 + (63 - p) % 8 + 2 AS INT)]
       |         THEN '1' ELSE '0' END), 'string_agg', '')""".stripMargin

  // Audio mirrors: window w's amplitude is u·(1 + (first md5 byte of
  // "id:w" mod 8)), and a whole-period square-wave window's mean
  // |sample| IS that amplitude — so the envelope's 64 delta-sign bits
  // (bit b: amp[b] < amp[b+1], 0-based; rendered MSB-first the way
  // java's two's-complement bin() does, string position p = bit 63−p)
  // are recomputable without decoding a single byte.
  private val audioAmpsSql: String =
    """list_transform(range(65), w ->
      |    34 * (1 + (strpos('0123456789abcdef',
      |            substr(md5(doc_id || ':' || w), 2, 1)) - 1) % 8))""".stripMargin

  private def audioSigBitsSql(amps: String): String =
    s"""list_aggregate(list_transform(range(64), p ->
       |    CASE WHEN $amps[CAST(63 - p + 1 AS INT)] < $amps[CAST(63 - p + 2 AS INT)]
       |         THEN '1' ELSE '0' END), 'string_agg', '')""".stripMargin

  // Shared by every token-Jaccard oracle (pairs, pruned pairs, greedy
  // near-dup corpus, CC near-dup corpus): the docsSub → tokenize →
  // size → shared-count CTE block, written once so a tokenization or
  // threshold tweak cannot desynchronize them. `pruned` mirrors
  // DedupOps.jaccardPairs(maxDocFreqRatio = 0.8): drop tokens whose
  // posting list exceeds floor(0.8 · |docs|) BEFORE sizes/shared, the
  // identical floor-of-double both engines compute.
  private def jaccardCtes(pruned: Boolean): String = {
    val tokCte =
      if (!pruned) s"tok AS (SELECT doc_id, unnest($dtoksSql) AS t FROM docs)"
      else
        s"""tok0 AS (SELECT doc_id, unnest($dtoksSql) AS t FROM docs),
          |hot AS (SELECT t FROM tok0 GROUP BY t
          |  HAVING count(*) > CAST(floor(0.8 * (SELECT count(*) FROM docs)) AS BIGINT)),
          |tok AS (SELECT * FROM tok0 WHERE t NOT IN (SELECT t FROM hot))""".stripMargin
    s"""docs AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
      |$tokCte,
      |sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
      |shared AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
      |  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id GROUP BY 1, 2
      |)""".stripMargin
  }

  // Positional 5-gram CTEs for the duplicated-span family: parallel
  // unnest zips each gram with its 0-based start index; the Spark side
  // keys grams by md5 (fixed-width shuffle keys) while this mirror
  // joins on the raw gram string — identical semantics, the fingerprint
  // is a pure re-keying. Docs under 5 tokens emit no grams.
  private val spanGramCtes =
    s"""toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, unnest(range(len(t) - 4)) AS i,
      |         unnest(list_transform(range(len(t) - 4),
      |                i -> array_to_string(t[i+1:i+5], ' '))) AS g
      |  FROM toks WHERE len(t) >= 5),
      |gc AS (SELECT g, count(*) AS c FROM grams GROUP BY 1)""".stripMargin

  // Bigram-shingle mirror of jaccardCtes, shared by the plain and
  // df-pruned bigram gates: tokenize → adjacent-pair grams (short-doc
  // fallback mirroring DedupOps.shingles) → optional floor(0.1 · N)
  // hot-gram prune → sizes/shared. One text, so a shingle or prune
  // tweak cannot desynchronize the two gates.
  private def bigramCtes(pruned: Boolean): String = {
    val gramCtes =
      s"""docs AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
        |base AS (SELECT doc_id, $toksSql AS toks FROM docs),
        |sh AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 2
        |    THEN list_transform(range(len(toks)-1), i -> toks[i+1] || ' ' || toks[i+2])
        |    ELSE [array_to_string(toks, ' ')] END) AS grams FROM base)""".stripMargin
    val tokCte =
      if (!pruned) "tok AS (SELECT doc_id, unnest(grams) AS t FROM sh)"
      else
        """tok0 AS (SELECT doc_id, unnest(grams) AS t FROM sh),
          |hot AS (SELECT t FROM tok0 GROUP BY t
          |  HAVING count(*) > CAST(floor(0.1 * (SELECT count(*) FROM docs)) AS BIGINT)),
          |tok AS (SELECT * FROM tok0 WHERE t NOT IN (SELECT t FROM hot))""".stripMargin
    s"""$gramCtes,
      |$tokCte,
      |sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
      |shared AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
      |  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id GROUP BY 1, 2
      |)""".stripMargin
  }

  // Shared by q_ext_knn_brute AND both IVF queries: at nprobe = nlist IVF
  // probes every cell, so all three compute the identical exact top-3.
  private val knnExactSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |         list_cosine_similarity(q.v, c.v) AS sim
      |  FROM (SELECT * FROM e WHERE vec_id < 20) q
      |  JOIN e c ON q.vec_id != c.vec_id
      |),
      |ranked AS (
      |  SELECT query_id, corpus_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rank
      |  FROM scored
      |)
      |SELECT query_id, corpus_id, sim, rank FROM ranked WHERE rank <= 3""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_ext_frag_bucketed" ->
      """SELECT doc_id, lang, source,
        |  CASE WHEN doc_id % 14 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |FROM documents
        |WHERE doc_id IN (0, 3, 7, 14)
        |  AND (doc_id % 7 <> 0 OR doc_id % 14 = 0)
        |  AND lang IS NOT NULL""".stripMargin,
    "q_ext_frag_delete" ->
      // visible = never-deleted OR resurrected by the later %4 upsert,
      // whose rows carry the bumped n_chars
      """SELECT doc_id, lang, source,
        |  CASE WHEN doc_id % 4 = 0 THEN n_chars + 50000 ELSE n_chars END AS n_chars
        |FROM documents
        |WHERE (source NOT IN ('src0', 'src1') OR doc_id % 4 = 0)
        |  AND lang = 'en'""".stripMargin,
    "q_ext_frag_skip" ->
      // replay of the fragment store's last-writer-wins state: the
      // overwrite batch (doc_id % 10 = 0, n_chars + 100000) supersedes
      // the banded base rows, then the engine's readWhere predicate
      """SELECT doc_id, lang, source,
        |  CASE WHEN doc_id % 10 = 0 THEN n_chars + 100000 ELSE n_chars END AS n_chars
        |FROM documents
        |WHERE CASE WHEN doc_id % 10 = 0 THEN n_chars + 100000 ELSE n_chars END >= 350
        |  AND lang = 'en'""".stripMargin,
    "q_ext_text_features" ->
      (s"""SELECT doc_id,
         |  len($toksSql) AS token_count,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS rough_tokens,
         |  $stopRatioSql AS stopword_ratio,
         |  $punctRatioSql AS punct_ratio,
         |  $qualitySql AS quality,
         |  $fingerprintSql AS fp
         |FROM documents""".stripMargin),
    "q_ext_dedup_embed_corpus" ->
      ("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |drops AS (
         |  SELECT DISTINCT b.vec_id FROM e a JOIN e b ON a.vec_id < b.vec_id
         |  WHERE list_cosine_similarity(a.v, b.v) >= 0.35
         |)
         |SELECT vec_id, len(embedding) AS dims FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin),
    // one cell ⇒ within-cell pairs ≡ global all-pairs — same drop set as
    // the embed-corpus dedup, projected to (vec_id, label)
    "q_ext_dedup_semantic_exactmode" ->
      ("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |drops AS (
         |  SELECT DISTINCT b.vec_id FROM e a JOIN e b ON a.vec_id < b.vec_id
         |  WHERE list_cosine_similarity(a.v, b.v) >= 0.35
         |)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin),
    "q_ext_corpus_stats" ->
      (s"""SELECT lang, count(*) AS docs,
         |  CAST(sum(len($toksSql)) AS BIGINT) AS total_tokens,
         |  avg($qualitySql) AS avg_quality,
         |  count(DISTINCT $fingerprintSql) AS distinct_contents
         |FROM documents GROUP BY 1""".stripMargin),
    "q_ext_langid" ->
      (s"""SELECT doc_id, lang,
         |  CASE
         |    WHEN position('的' IN text) > 0 OR position('是' IN text) > 0
         |         OR position('了' IN text) > 0 THEN 'zh'
         |    WHEN ${markerScore(Seq("the", "and", "of", "to", "a"))} >= ${markerScore(Seq("der", "die", "und", "ist", "das"))}
         |     AND ${markerScore(Seq("the", "and", "of", "to", "a"))} >= ${markerScore(Seq("le", "la", "et", "les", "des"))}
         |     AND ${markerScore(Seq("the", "and", "of", "to", "a"))} >= ${markerScore(Seq("el", "que", "los", "por", "una"))}
         |     AND ${markerScore(Seq("the", "and", "of", "to", "a"))} > 0 THEN 'en'
         |    WHEN ${markerScore(Seq("der", "die", "und", "ist", "das"))} >= ${markerScore(Seq("le", "la", "et", "les", "des"))}
         |     AND ${markerScore(Seq("der", "die", "und", "ist", "das"))} >= ${markerScore(Seq("el", "que", "los", "por", "una"))}
         |     AND ${markerScore(Seq("der", "die", "und", "ist", "das"))} > 0 THEN 'de'
         |    WHEN ${markerScore(Seq("le", "la", "et", "les", "des"))} >= ${markerScore(Seq("el", "que", "los", "por", "una"))}
         |     AND ${markerScore(Seq("le", "la", "et", "les", "des"))} > 0 THEN 'fr'
         |    WHEN ${markerScore(Seq("el", "que", "los", "por", "una"))} > 0 THEN 'es'
         |    ELSE 'und'
         |  END AS lang_pred
         |FROM documents""".stripMargin),
    "q_ext_quality_repetition" ->
      (s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
         |tf AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST(max(c) AS DOUBLE) / sum(c) AS top_token_fraction,
         |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c) AS dup_token_fraction
         |FROM tf GROUP BY 1""".stripMargin),
    "q_ext_pii_redact" ->
      ("""WITH planted AS (
         |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
         |    THEN text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com or 555-123-4567'
         |    ELSE text END AS text
         |  FROM documents
         |),
         |red AS (
         |  SELECT doc_id,
         |    regexp_replace(
         |      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS rtext
         |  FROM planted
         |)
         |SELECT doc_id, doc_id % 3 = 0 AS planted, md5(rtext) AS redacted_md5,
         |  len(regexp_extract_all(rtext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
         |    + len(regexp_extract_all(rtext, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS residual_pii
         |FROM red""".stripMargin),
    // 3-gram shingles with the same short-doc fallback as DedupOps.shingles
    "q_ext_contamination" ->
      (s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, list_distinct(
         |  CASE WHEN len(toks) >= 3
         |    THEN list_transform(range(len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))
         |    ELSE [array_to_string(toks, ' ')] END) AS grams FROM base),
         |bench AS (SELECT DISTINCT unnest(grams) AS t FROM sh WHERE doc_id % 97 = 0),
         |corpus AS (SELECT doc_id, unnest(grams) AS t FROM sh WHERE doc_id % 97 != 0)
         |SELECT doc_id, count(*) AS shared_kgrams
         |FROM corpus WHERE t IN (SELECT t FROM bench) GROUP BY 1""".stripMargin),
    "q_ext_sample_weighted" ->
      (s"""SELECT doc_id, lang FROM documents
         |WHERE text IS NOT NULL AND length(text) > 0
         |  AND CAST((4096 * (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1)
         |          + 256 * (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1)
         |          + 16 * (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1)
         |          + (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1)) AS DOUBLE) / 65536.0
         |    < (0.5 * least(1.0, CAST(len($toksSql) AS DOUBLE) / 100.0)
         |       + 0.3 * (CASE WHEN $stopRatioSql BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.0 END)
         |       + 0.2 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\-]', '', 'g')) AS DOUBLE) / length(text)))""".stripMargin),
    "q_ext_sample_stratified" ->
      ("""SELECT doc_id, lang FROM documents
         |WHERE substr(md5(text), 1, 2) <= CASE lang
         |  WHEN 'en' THEN '28' WHEN 'de' THEN '7f' WHEN 'fr' THEN 'ff'
         |  WHEN 'es' THEN '3f' WHEN 'zh' THEN '0f' END""".stripMargin),
    "q_ext_cap_per_lang" ->
      (s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, ROW_NUMBER() OVER (
         |    PARTITION BY lang ORDER BY len($toksSql) DESC, doc_id) AS rn
         |  FROM documents
         |) WHERE rn <= 20""".stripMargin),
    "q_ext_sample_budget" ->
      ("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |t AS (SELECT sum(n) AS tot FROM c),
         |q AS (SELECT lang, (300 * n) // tot AS quota FROM c CROSS JOIN t),
         |r AS (SELECT doc_id, lang, ROW_NUMBER() OVER (
         |    PARTITION BY lang ORDER BY md5(text), doc_id) AS rn FROM documents)
         |SELECT doc_id, lang FROM r JOIN q USING (lang) WHERE rn <= quota""".stripMargin),
    "q_ext_shard_assign" ->
      ("""SELECT doc_id,
         |  (16 * (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
         |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 8 AS shard
         |FROM documents""".stripMargin),
    // chunk i covers 1-based token positions [i·24+1, i·24+32], clamped
    // at the end like Spark's slice; // is DuckDB integer division,
    // mirroring floor() over Spark's double division
    "q_ext_pack_sequences" ->
      (s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |n AS (SELECT doc_id, toks,
         |  1 + (greatest(len(toks) - 64, 0) + 63) // 64 AS nchunks FROM base),
         |ch AS (SELECT doc_id, unnest(range(nchunks)) AS i, toks FROM n),
         |chunks AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  CAST(len(toks[i*64+1 : i*64+64]) AS BIGINT) AS chunk_tokens FROM ch),
         |sharded AS (SELECT *,
         |  (16 * (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
         |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 8 AS shard
         |  FROM chunks),
         |packed AS (SELECT *,
         |  sum(chunk_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx
         |    ROWS UNBOUNDED PRECEDING) - chunk_tokens AS strt
         |  FROM sharded)
         |SELECT shard, doc_id, chunk_idx, chunk_tokens,
         |  CAST(strt // 256 AS BIGINT) AS bin,
         |  CAST(strt % 256 AS BIGINT) AS bin_offset
         |FROM packed""".stripMargin),
    "q_ext_length_quantiles" ->
      ("""SELECT lang,
         |  quantile_cont(n_chars, 0.25) AS p25,
         |  quantile_cont(n_chars, 0.5) AS p50,
         |  quantile_cont(n_chars, 0.9) AS p90,
         |  count(*) AS docs
         |FROM documents GROUP BY 1""".stripMargin),
    // the flag contract: a violated sketch bound flips a flag to FALSE
    // and fails the hash — a real gate, portable across engines
    "q_ext_length_quantiles_approx" ->
      ("""SELECT lang, TRUE AS within_p25, TRUE AS within_p50,
         |  TRUE AS within_p90, count(*) AS docs
         |FROM documents GROUP BY 1""".stripMargin),
    // boundaries = positions whose trailing 3-gram md5 prefix <= '07';
    // chunk (start, end) pairs rebuilt from the boundary list
    "q_ext_chunk_cdc" ->
      (s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |b AS (SELECT doc_id, toks,
         |  list_filter(range(3, len(toks)),
         |    i -> substr(md5(array_to_string(toks[i-2:i], ' ')), 1, 2) <= '07') AS bnds
         |  FROM base),
         |c AS (SELECT doc_id, toks,
         |  list_prepend(1, list_transform(bnds, b -> b + 1)) AS starts,
         |  list_append(bnds, len(toks)) AS ends FROM b),
         |ch AS (SELECT doc_id, unnest(range(len(starts))) AS ci, toks, starts, ends FROM c)
         |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
         |  array_to_string(toks[starts[ci+1]:ends[ci+1]], ' ') AS chunk_text,
         |  CAST(greatest(ends[ci+1] - starts[ci+1] + 1, 0) AS BIGINT) AS chunk_tokens
         |FROM ch""".stripMargin),
    "q_ext_chunk_tokens" ->
      (s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |n AS (SELECT doc_id, toks,
         |  1 + (greatest(len(toks) - 32, 0) + 23) // 24 AS nchunks FROM base),
         |ch AS (SELECT doc_id, unnest(range(nchunks)) AS i, toks FROM n)
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk_text,
         |  CAST(len(toks[i*24+1 : i*24+32]) AS BIGINT) AS chunk_tokens
         |FROM ch""".stripMargin),
    // stage-for-stage mirror of the composed pipeline; toksSql/qualitySql
    // reference column `text`, so re-binding them inside CTEs over the
    // scrubbed text applies them to the right stage automatically
    "q_ext_curation_pipeline" ->
      (s"""WITH scrubbed AS (
         |  SELECT doc_id, lang,
         |    regexp_replace(
         |      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g') AS text
         |  FROM documents
         |),
         |filtered AS (
         |  SELECT * FROM scrubbed
         |  WHERE len($toksSql) BETWEEN 5 AND 5000 AND ($qualitySql) >= 0.5
         |),
         |deduped AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text, ROW_NUMBER() OVER (
         |      PARTITION BY $fingerprintSql ORDER BY doc_id) AS rn
         |    FROM filtered
         |  ) WHERE rn = 1
         |)
         |SELECT doc_id, lang, md5(text) AS content_md5 FROM deduped
         |WHERE substr(md5(text), 1, 2) <= CASE lang
         |  WHEN 'en' THEN '9f' WHEN 'de' THEN 'ff' WHEN 'fr' THEN 'ff'
         |  WHEN 'es' THEN 'ff' WHEN 'zh' THEN '3f' END""".stripMargin),
    "q_ext_exact_dedup" ->
      ("""SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
         |  min(doc_id) AS keep_id, count(*) AS n
         |FROM documents GROUP BY 1""".stripMargin),
    "q_ext_dedup_corpus" ->
      ("""WITH all_docs AS (
         |  SELECT doc_id, lang, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), lang, text
         |  FROM documents WHERE doc_id % 7 = 0
         |)
         |SELECT doc_id, lang, md5(text) AS content_md5 FROM (
         |  SELECT doc_id, lang, text, ROW_NUMBER() OVER (
         |    PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
         |    ORDER BY doc_id) AS rn
         |  FROM all_docs
         |) WHERE rn = 1""".stripMargin),
    // Routed exact-ingest mirror: survivors = incoming minus in-batch
    // fingerprint dups (lowest id wins) minus fingerprints the existing
    // half holds; null-text rows carry a null fp and are KEPT (join
    // semantics never match null keys — the engine contract).
    "q_ext_ingest_exact_routed" ->
      (s"""WITH inc AS (SELECT * FROM documents WHERE doc_id % 2 <> 0),
         |keep AS (SELECT $fingerprintSql AS fp, min(doc_id) AS keep_id
         |         FROM inc GROUP BY 1),
         |batch AS (SELECT i.*, k.fp FROM inc i JOIN keep k
         |          ON $fingerprintSql IS NOT DISTINCT FROM k.fp
         |          AND i.doc_id = k.keep_id),
         |exfp AS (SELECT DISTINCT $fingerprintSql AS fp FROM documents
         |         WHERE doc_id % 2 = 0 AND text IS NOT NULL)
         |SELECT doc_id, lang, md5(text) AS content_md5
         |FROM batch
         |WHERE fp IS NULL OR fp NOT IN (SELECT fp FROM exfp)""".stripMargin),
    // SimHash-routed mirror: survivors stated from the construction —
    // whitespace re-serializations (+1) are SimHash hamming-0 against
    // the stored base signatures (dropped, absent), md5-token synthetic
    // docs (+2) never verify within hamming 3 (kept).
    "q_ext_ingest_simhash_routed" ->
      ("""SELECT doc_id * 10 + 2 AS doc_id
         |FROM documents WHERE doc_id % 10 = 0""".stripMargin),
    "q_ext_dedup_neardup_corpus" ->
      (s"""WITH ${jaccardCtes(pruned = false)},
         |drops AS (
         |  SELECT DISTINCT doc_b FROM shared
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE CAST(s AS DOUBLE) / (sa.n + sb.n - s) >= 0.9
         |)
         |SELECT doc_id, lang, md5(text) AS content_md5 FROM docs
         |WHERE doc_id NOT IN (SELECT doc_b FROM drops)""".stripMargin),
    "q_ext_jaccard_pairs" ->
      (s"""WITH ${jaccardCtes(pruned = false)}
         |SELECT doc_a, doc_b, CAST(s AS DOUBLE) / (sa.n + sb.n - s) AS jaccard
         |FROM shared
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE CAST(s AS DOUBLE) / (sa.n + sb.n - s) >= 0.9""".stripMargin),
    // the prefix-filtered path is EXACT — identical result set, so it
    // faces the identical oracle text as the naive inverted-index join
    "q_ext_jaccard_pairs_prefix" ->
      (s"""WITH ${jaccardCtes(pruned = false)}
         |SELECT doc_a, doc_b, CAST(s AS DOUBLE) / (sa.n + sb.n - s) AS jaccard
         |FROM shared
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE CAST(s AS DOUBLE) / (sa.n + sb.n - s) >= 0.9""".stripMargin),
    "q_ext_jaccard_pairs_pruned" ->
      (s"""WITH ${jaccardCtes(pruned = true)}
         |SELECT doc_a, doc_b, CAST(s AS DOUBLE) / (sa.n + sb.n - s) AS jaccard
         |FROM shared
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE CAST(s AS DOUBLE) / (sa.n + sb.n - s) >= 0.8""".stripMargin),
    // bigram shingles: adjacent-token pairs, with the < 2-token doc
    // fallback (whole run as one shingle) mirroring DedupOps.shingles
    "q_ext_jaccard_bigram_pairs" ->
      (s"""WITH ${bigramCtes(pruned = false)}
         |SELECT doc_a, doc_b, CAST(s AS DOUBLE) / (sa.n + sb.n - s) AS jaccard
         |FROM shared
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE CAST(s AS DOUBLE) / (sa.n + sb.n - s) >= 0.08""".stripMargin),
    "q_ext_jaccard_bigram_pairs_pruned" ->
      (s"""WITH ${bigramCtes(pruned = true)}
         |SELECT doc_a, doc_b, CAST(s AS DOUBLE) / (sa.n + sb.n - s) AS jaccard
         |FROM shared
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE CAST(s AS DOUBLE) / (sa.n + sb.n - s) >= 0.08""".stripMargin),
    "q_ext_lm_quality" ->
      ("""WITH nt AS (SELECT doc_id,
         |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM documents),
         |rtg AS (SELECT unnest(list_transform(range(length(t) - 2),
         |    i -> substr(t, i + 1, 3))) AS g
         |  FROM nt WHERE doc_id % 97 = 0 AND length(t) >= 3),
         |rc AS (SELECT g, count(*) AS c FROM rtg GROUP BY 1),
         |nv AS (SELECT COALESCE(sum(c), 0) AS n, count(*) AS v FROM rc),
         |dtg AS (SELECT doc_id, unnest(list_transform(range(length(t) - 2),
         |    i -> substr(t, i + 1, 3))) AS g
         |  FROM nt WHERE length(t) >= 3)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         |  avg(ln(CAST(COALESCE(rc.c, 0) + 1 AS DOUBLE) / (nv.n + nv.v + 1))) AS logprob
         |FROM dtg LEFT JOIN rc USING (g) CROSS JOIN nv
         |GROUP BY 1""".stripMargin),
    // conditional form: contexts are the PREFIX MARGINAL of the trigram
    // table (sum over third chars), V = distinct third characters
    "q_ext_lm_quality_cond" ->
      ("""WITH nt AS (SELECT doc_id,
         |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM documents),
         |rtg AS (SELECT unnest(list_transform(range(length(t) - 2),
         |    i -> substr(t, i + 1, 3))) AS g
         |  FROM nt WHERE doc_id % 97 = 0 AND length(t) >= 3),
         |rc AS (SELECT g, count(*) AS c FROM rtg GROUP BY 1),
         |pc AS (SELECT substr(g, 1, 2) AS p, sum(c) AS cp FROM rc GROUP BY 1),
         |vv AS (SELECT count(DISTINCT substr(g, 3, 1)) AS v FROM rc),
         |dtg AS (SELECT doc_id, unnest(list_transform(range(length(t) - 2),
         |    i -> substr(t, i + 1, 3))) AS g
         |  FROM nt WHERE length(t) >= 3)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         |  avg(ln(CAST(COALESCE(rc.c, 0) + 1 AS DOUBLE) /
         |      (COALESCE(pc.cp, 0) + vv.v))) AS logprob
         |FROM dtg LEFT JOIN rc USING (g)
         |LEFT JOIN pc ON pc.p = substr(dtg.g, 1, 2)
         |CROSS JOIN vv
         |GROUP BY 1""".stripMargin),
    // same recursive min-reachability component derivation as the CC
    // dedup oracle, projected to the md5-prefix split assignment
    "q_ext_split_leakage_safe" ->
      (s"""WITH RECURSIVE ${jaccardCtes(pruned = false)},
         |pairs AS (SELECT doc_a, doc_b FROM shared
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE CAST(s AS DOUBLE) / (sa.n + sb.n - s) >= 0.9),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(node, reach) AS (
         |  SELECT doc_id, doc_id FROM docs
         |  UNION
         |  SELECT w.node, e.b FROM walk w JOIN edges e ON e.a = w.reach),
         |comp AS (SELECT node, min(reach) AS root FROM walk GROUP BY node)
         |SELECT d.doc_id,
         |  CASE WHEN substr(md5(CAST(c.root AS VARCHAR)), 1, 2) <= '0c' THEN 'val'
         |       WHEN substr(md5(CAST(c.root AS VARCHAR)), 1, 2) <= '19' THEN 'test'
         |       ELSE 'train' END AS split
         |FROM docs d JOIN comp c ON d.doc_id = c.node""".stripMargin),
    "q_ext_ingest_dedup" ->
      // NOT EXISTS with an equality predicate, not NOT IN: the op keeps
      // null-fingerprint rows (null keys never match an anti-join —
      // IngestSpec), while NOT IN under three-valued logic would return
      // zero rows on a single NULL existing-side fingerprint and drop
      // NULL incoming ones. The keep join is null-SAFE (IS NOT DISTINCT
      // FROM) because dedupExact groups null fingerprints like any other
      // key. Both latent on the fixture (no null text) — encoded so the
      // oracle states the same contract the op and its spec do.
      (s"""WITH ex AS (SELECT $fingerprintSql AS fp FROM documents WHERE doc_id % 2 = 0),
         |inc AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
         |keep AS (SELECT $fingerprintSql AS bfp, min(doc_id) AS keep_id
         |         FROM inc GROUP BY 1)
         |SELECT i.doc_id, i.lang FROM inc i
         |JOIN keep k ON $fingerprintSql IS NOT DISTINCT FROM k.bfp AND i.doc_id = k.keep_id
         |WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.fp = $fingerprintSql)""".stripMargin),
    // exact-mode mirror of the near-dup ingest composition: exact dedup
    // (keep-lowest per normalized fingerprint) → within-batch exhaustive
    // Jaccard removal (drop the higher id of every ≥0.9 pair) → drop
    // batch docs with a ≥0.9 match anywhere in the existing half
    "q_ext_ingest_neardup_exactmode" ->
      (s"""WITH docs AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
         |ex AS (SELECT * FROM docs WHERE doc_id % 20 = 0),
         |inc AS (SELECT * FROM docs WHERE doc_id % 20 <> 0),
         |keep AS (SELECT $fingerprintSql AS fp, min(doc_id) AS keep_id
         |         FROM inc GROUP BY 1),
         |batch0 AS (SELECT i.* FROM inc i JOIN keep k
         |           ON $fingerprintSql IS NOT DISTINCT FROM k.fp AND i.doc_id = k.keep_id),
         |btok AS (SELECT doc_id, unnest($dtoksSql) AS t FROM batch0),
         |bsizes AS (SELECT doc_id, count(*) AS n FROM btok GROUP BY 1),
         |bshared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
         |            FROM btok a JOIN btok b ON a.t = b.t AND a.doc_id < b.doc_id
         |            GROUP BY 1, 2),
         |bdrop AS (SELECT DISTINCT doc_b FROM bshared
         |          JOIN bsizes sa ON doc_a = sa.doc_id
         |          JOIN bsizes sb ON doc_b = sb.doc_id
         |          WHERE CAST(s AS DOUBLE) / (sa.n + sb.n - s) >= 0.9),
         |batch AS (SELECT * FROM batch0
         |          WHERE doc_id NOT IN (SELECT doc_b FROM bdrop)),
         |etok AS (SELECT doc_id, unnest($dtoksSql) AS t FROM ex),
         |esizes AS (SELECT doc_id, count(*) AS n FROM etok GROUP BY 1),
         |xtok AS (SELECT doc_id, unnest($dtoksSql) AS t FROM batch),
         |xsizes AS (SELECT doc_id, count(*) AS n FROM xtok GROUP BY 1),
         |xshared AS (SELECT a.doc_id AS ex_id, b.doc_id AS in_id, count(*) AS s
         |            FROM etok a JOIN xtok b ON a.t = b.t GROUP BY 1, 2),
         |xdrop AS (SELECT DISTINCT in_id FROM xshared
         |          JOIN esizes sa ON ex_id = sa.doc_id
         |          JOIN xsizes sb ON in_id = sb.doc_id
         |          WHERE CAST(s AS DOUBLE) / (sa.n + sb.n - s) >= 0.9)
         |SELECT doc_id, lang FROM batch
         |WHERE doc_id NOT IN (SELECT in_id FROM xdrop)""".stripMargin),
    "q_ext_fingerprint_winnow" ->
      ("""WITH nt AS (SELECT doc_id,
         |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM documents),
         |g AS (SELECT doc_id, list_transform(range(length(t) - 4),
         |    i -> md5(substr(t, i + 1, 5))) AS h
         |  FROM nt WHERE length(t) >= 5),
         |sel AS (SELECT doc_id, list_distinct(
         |    CASE WHEN len(h) <= 4 THEN [list_min(h)]
         |    ELSE list_transform(range(len(h) - 3), i -> list_min(h[i+1:i+4])) END) AS fps
         |  FROM g)
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
         |  md5(array_to_string(list_sort(fps), '|')) AS fps_md5
         |FROM sel""".stripMargin),
    "q_ext_winnow_neardup" ->
      ("""WITH docs AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
         |nt AS (SELECT doc_id,
         |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM docs),
         |g AS (SELECT doc_id, list_transform(range(length(t) - 4),
         |    i -> md5(substr(t, i + 1, 5))) AS h
         |  FROM nt WHERE length(t) >= 5),
         |sel AS (SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(h) <= 4 THEN [list_min(h)]
         |    ELSE list_transform(range(len(h) - 3), i -> list_min(h[i+1:i+4])) END)) AS fp
         |  FROM g)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS shared_fps
         |FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin),
    "q_ext_dup_span_stats" ->
      (s"""WITH $spanGramCtes
         |SELECT grams.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN gc.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams
         |FROM grams JOIN gc USING (g)
         |GROUP BY 1""".stripMargin),
    "q_ext_scrub_dup_spans" ->
      (s"""WITH $spanGramCtes,
         |pos AS (SELECT doc_id, unnest(range(len(t))) AS p, unnest(t) AS w FROM toks),
         |dupinst AS (SELECT doc_id, i FROM grams JOIN gc USING (g) WHERE c > 1),
         |cover AS (SELECT DISTINCT doc_id, i + o AS p
         |  FROM dupinst CROSS JOIN generate_series(0, 4) AS gs(o)),
         |kept AS (SELECT pos.doc_id, pos.p, pos.w FROM pos LEFT JOIN cover
         |  ON pos.doc_id = cover.doc_id AND pos.p = cover.p WHERE cover.p IS NULL)
         |SELECT d.doc_id, md5(coalesce(k.ct, '')) AS clean_md5,
         |  CAST(length(coalesce(k.ct, '')) AS BIGINT) AS clean_len
         |FROM documents d LEFT JOIN
         |  (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS ct FROM kept GROUP BY 1) k
         |  USING (doc_id)""".stripMargin),
    "q_ext_top_terms" ->
      (s"""WITH pos AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM pos GROUP BY 1, 2),
         |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT doc_id, term, tf, df,
         |  CAST(tf * (n + 1) AS DOUBLE) / (df + 1) AS score
         |FROM tf JOIN dft USING (term) CROSS JOIN n
         |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) <= 5""".stripMargin),
    // CC policy: component = min id reachable over the verified near-dup
    // graph (recursive min-reachability walk, seeded with every doc so
    // isolated docs are their own root); keep docs that root themselves.
    "q_ext_dedup_cc_corpus" ->
      (s"""WITH RECURSIVE ${jaccardCtes(pruned = false)},
         |pairs AS (SELECT doc_a, doc_b FROM shared
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE CAST(s AS DOUBLE) / (sa.n + sb.n - s) >= 0.9),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(node, reach) AS (
         |  SELECT doc_id, doc_id FROM docs
         |  UNION
         |  SELECT w.node, e.b FROM walk w JOIN edges e ON e.a = w.reach),
         |comp AS (SELECT node, min(reach) AS root FROM walk GROUP BY node)
         |SELECT d.doc_id, d.lang, md5(d.text) AS content_md5
         |FROM docs d JOIN comp c ON d.doc_id = c.node
         |WHERE c.root = d.doc_id""".stripMargin),
    "q_ext_knn_brute" -> knnExactSql,
    // ---- structural oracles for the approximate rows (r9 task 3):
    // the gate rows project the production result to invariant columns
    // whose correct values the oracle KNOWS — per-(query, rank) flags
    // for the ANN rows, whole-frame flags for the pair/dedup rows
    "q_ext_knn_hnsw" -> StructGate.topKGateOracle(k = 3, maxQueryId = 20),
    "q_ext_knn_ivf_probe_approx" -> StructGate.topKGateOracle(k = 3, maxQueryId = 20),
    "q_ext_knn_pq" -> StructGate.topKGateOracle(k = 3, maxQueryId = 20),
    "q_ext_knn_sq" -> StructGate.topKGateOracle(k = 3, maxQueryId = 20),
    "q_ext_knn_ivfpq" -> StructGate.topKGateOracle(k = 3, maxQueryId = 20),
    "q_ext_knn_lsh" -> StructGate.pairGateOracle("sim_exact"),
    "q_ext_minhash_neardup" -> StructGate.pairGateOracle("jaccard_exact"),
    "q_ext_simhash_neardup" ->
      StructGate.pairGateOracle("hamming_exact", boundFlag = "maxdist_ok"),
    "q_ext_ingest_neardup" ->
      """SELECT true AS survivors_nonempty, true AS survivors_distinct_text,
        |  true AS survivors_from_incoming, true AS dropped_have_witness""".stripMargin,
    "q_ext_dedup_semantic" ->
      """SELECT true AS kept_nonempty, true AS kept_ids_distinct,
        |  true AS kept_in_corpus, true AS drops_match_pairs,
        |  true AS pairs_verified""".stripMargin,
    // fast-hash winnowing: values are non-portable, so the oracle pins
    // the doc set, the portable gram count, and the selection bounds
    "q_ext_fingerprint_winnow_fast" ->
      """WITH nt AS (SELECT doc_id,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM documents)
        |SELECT doc_id, CAST(length(t) - 4 AS BIGINT) AS n_grams,
        |  true AS fp_bounds_ok
        |FROM nt WHERE length(t) >= 5""".stripMargin,
    // exact top-3 over the corpus AS IT STANDS after the registered
    // delete (vec_id % 7 = 3 of the < 400 build slice) and the >= 400
    // append — query vectors keep the full < 20 set (a deleted id may
    // still QUERY; it just can't be an answer)
    "q_ext_knn_after_delete" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE NOT (vec_id % 7 = 3 AND vec_id < 400)
        |),
        |q AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id < 20
        |),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |         list_cosine_similarity(q.v, c.v) AS sim
        |  FROM q JOIN e c ON q.vec_id != c.vec_id
        |),
        |ranked AS (
        |  SELECT query_id, corpus_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, corpus_id, sim, rank FROM ranked WHERE rank <= 3""".stripMargin,
    // facade exact profile = the brute rung: same result set by routing
    "q_ext_knn_auto" -> knnExactSql,
    "q_ext_corpus_drift" ->
      (s"""WITH a AS (SELECT * FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL),
         |b AS (SELECT * FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL),
         |ta AS (SELECT lang, t, count(*) AS c FROM a, unnest($toksSql) u(t) GROUP BY 1, 2),
         |tb AS (SELECT lang, t, count(*) AS c FROM b, unnest($toksSql) u(t) GROUP BY 1, 2),
         |tot AS (SELECT coalesce(ta.lang, tb.lang) AS lang, coalesce(ta.t, tb.t) AS t,
         |               coalesce(ta.c, 0) AS ca, coalesce(tb.c, 0) AS cb
         |        FROM ta FULL JOIN tb ON ta.lang = tb.lang AND ta.t = tb.t),
         |sums AS (SELECT lang, sum(ca) AS na, sum(cb) AS nb,
         |                sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS n_both,
         |                count(*) AS n_union
         |         FROM tot GROUP BY 1),
         |ent AS (
         |  SELECT t.lang,
         |    -sum(CASE WHEN t.ca > 0 THEN (t.ca / s.na) * log2(t.ca / s.na) ELSE 0 END) AS entropy_a,
         |    -sum(CASE WHEN t.cb > 0 THEN (t.cb / s.nb) * log2(t.cb / s.nb) ELSE 0 END) AS entropy_b,
         |    sum(CASE WHEN t.ca > 0 THEN 0.5 * (t.ca / s.na) * log2((t.ca / s.na) / (0.5 * t.ca / s.na + 0.5 * t.cb / s.nb)) ELSE 0 END)
         |      + sum(CASE WHEN t.cb > 0 THEN 0.5 * (t.cb / s.nb) * log2((t.cb / s.nb) / (0.5 * t.ca / s.na + 0.5 * t.cb / s.nb)) ELSE 0 END) AS js_divergence
         |  FROM tot t JOIN sums s USING (lang) GROUP BY 1),
         |docs AS (
         |  SELECT lang,
         |    CAST(count(*) FILTER (WHERE half = 'a') AS BIGINT) AS docs_a,
         |    CAST(count(*) FILTER (WHERE half = 'b') AS BIGINT) AS docs_b,
         |    avg(CASE WHEN half = 'a' THEN length(text) END) AS mean_len_a,
         |    avg(CASE WHEN half = 'b' THEN length(text) END) AS mean_len_b
         |  FROM (SELECT lang, text, 'a' AS half FROM a UNION ALL SELECT lang, text, 'b' FROM b)
         |  GROUP BY 1)
         |SELECT d.lang, d.docs_a, d.docs_b, d.mean_len_a, d.mean_len_b,
         |  CAST(s.n_both AS DOUBLE) / s.n_union AS vocab_jaccard,
         |  e.entropy_a, e.entropy_b, e.js_divergence
         |FROM docs d JOIN sums s USING (lang) JOIN ent e USING (lang)""".stripMargin),
    "q_ext_retrieval_metrics" ->
      ("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT * FROM e WHERE vec_id < 50),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |         list_cosine_similarity(q.v, c.v) AS sim
         |  FROM q JOIN e c ON q.vec_id != c.vec_id),
         |retrieved AS (
         |  SELECT query_id, corpus_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rank
         |  FROM scored QUALIFY rank <= 3),
         |rel AS (SELECT query_id, corpus_id FROM scored WHERE sim >= 0.3),
         |relcount AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
         |hits AS (
         |  SELECT r.query_id,
         |    count(x.corpus_id) AS n_hits,
         |    coalesce(1.0 / min(CASE WHEN x.corpus_id IS NOT NULL THEN r.rank END), 0.0) AS mrr,
         |    coalesce(sum(CASE WHEN x.corpus_id IS NOT NULL THEN 1.0/log2(r.rank + 1) END), 0.0) AS dcg
         |  FROM retrieved r LEFT JOIN rel x
         |    ON r.query_id = x.query_id AND r.corpus_id = x.corpus_id
         |  GROUP BY 1),
         |idcg AS (
         |  SELECT rc.query_id, sum(1.0/log2(s.i + 1)) AS idcg
         |  FROM relcount rc JOIN range(1, 4) s(i) ON s.i <= least(3, rc.n_rel)
         |  GROUP BY 1)
         |SELECT h.query_id, rc.n_rel,
         |  CAST(h.n_hits AS DOUBLE) / rc.n_rel AS recall_at_k,
         |  h.mrr, h.dcg / i.idcg AS ndcg
         |FROM hits h JOIN relcount rc USING (query_id) JOIN idcg i USING (query_id)""".stripMargin),
    "q_ext_knn_ivf" -> knnExactSql,
    "q_ext_knn_ivf_probe" -> knnExactSql,
    // PQ with shortlist = everything re-ranks every candidate exactly —
    // same result set as brute force, same oracle
    "q_ext_knn_pq_exactmode" -> knnExactSql,
    // IVF-PQ at nprobe = nlist + unbounded refine: every cell probed,
    // every candidate exactly re-ranked — same oracle
    "q_ext_knn_ivfpq_exactmode" -> knnExactSql,
    "q_ext_knn_sq_exactmode" -> knnExactSql,
    "q_ext_cosine_pairs" ->
      ("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       list_cosine_similarity(a.v, b.v) AS sim
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.v, b.v) >= 0.35""".stripMargin),
    "q_ext_heavy_hitters" ->
      (s"""WITH toks AS (SELECT unnest($toksSql) AS t FROM documents),
         |n AS (SELECT count(*) AS n FROM toks)
         |SELECT t, count(*) AS c FROM toks, n
         |GROUP BY t, n.n HAVING count(*) * 65 > n.n""".stripMargin),
    // unbounded levenshtein filtered to <= 60 mirrors the threshold
    // kernel's "-1 past maxDist" contract on every claimed match
    "q_ext_edit_distance" ->
      ("""WITH d AS (SELECT doc_id, text, lang, length(text) // 32 AS blk
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
         |FROM d a JOIN d b ON a.lang = b.lang AND a.blk = b.blk
         |  AND a.doc_id < b.doc_id
         |WHERE levenshtein(a.text, b.text) <= 60""".stripMargin),
    "q_ext_json_extract" ->
      ("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         |FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50""".stripMargin),
    "q_ext_media_meta" ->
      ("""SELECT doc_id,
         |  md5(text) AS media_md5,
         |  octet_length(CAST(text AS BLOB)) AS media_bytes,
         |  (['jpeg','png','wav'])[CAST(doc_id % 3 + 1 AS INT)] AS format,
         |  CAST((doc_id % 8 + 1) * 64 AS INT) AS width,
         |  CAST((doc_id % 6 + 1) * 64 AS INT) AS height
         |FROM documents""".stripMargin),
    // The stub decoder's 16-bin byte histogram bins each byte by its HIGH
    // NIBBLE (bin = byte div 16, since 256/16 bins of width 16) — which in
    // SQL is the first hex digit of each byte pair in hex(blob). DuckDB
    // counts matching odd-position hex chars per bin; deterministic integer
    // math, so the partition-local decode path gets a real oracle. The blob
    // is COALESCEd to empty so a NULL text yields n=0 / bins 0.0 exactly
    // like the Spark stub (fakeDecodeFeatures returns 0L + zeros on NULL).
    "q_ext_media_features" ->
      ("""WITH h AS (
         |  SELECT doc_id, hex(COALESCE(CAST(text AS BLOB), ''::BLOB)) AS hx,
         |         octet_length(COALESCE(CAST(text AS BLOB), ''::BLOB)) AS n
         |  FROM documents
         |)
         |SELECT doc_id, n AS media_bytes,
         |  round(CASE WHEN n = 0 THEN 0.0 ELSE
         |    CAST(len(list_filter(range(n), i -> substr(hx, CAST(2*i+1 AS INT), 1) = '0')) AS DOUBLE) / n END, 6) AS bin0,
         |  round(CASE WHEN n = 0 THEN 0.0 ELSE
         |    CAST(len(list_filter(range(n), i -> substr(hx, CAST(2*i+1 AS INT), 1) = '2')) AS DOUBLE) / n END, 6) AS bin2,
         |  round(CASE WHEN n = 0 THEN 0.0 ELSE
         |    CAST(len(list_filter(range(n), i -> substr(hx, CAST(2*i+1 AS INT), 1) = '7')) AS DOUBLE) / n END, 6) AS bin7
         |FROM h""".stripMargin),
    // Analytic mirror of the real-decode gate: regenerate each pixel's
    // 24-bit RGB from (doc_id*31 + i) * 2654435769, integer ITU-601
    // luma, 16 bins — all integer math, so the doubles divide out
    // bit-identically to the decoded histogram. The multiplicand is
    // reduced mod 2^24 BEFORE the multiply: the extracted bits 0-23
    // depend only on (doc_id*31 + i) mod 2^24 (2^24 divides both the
    // engine's 2^64 wrap and this modulus), and the bounded product
    // (< 2^24 · 2654435769 ≈ 2^56) keeps DuckDB's CHECKED BIGINT
    // arithmetic from overflowing at large doc_id, where the engine's
    // Long would wrap silently and the unbounded oracle would abort.
    "q_ext_media_decode_real" ->
      ("""WITH d AS (
         |  SELECT doc_id,
         |    CAST((doc_id % 8 + 1) * 8 AS INT) AS w,
         |    CAST((doc_id % 6 + 1) * 8 AS INT) AS h
         |  FROM documents
         |),
         |lum AS (
         |  SELECT doc_id, w, h,
         |    list_transform(range(w*h), i ->
         |      (299 * (((((doc_id*31 + i) % 16777216) * 2654435769) >> 16) & 255)
         |     + 587 * (((((doc_id*31 + i) % 16777216) * 2654435769) >> 8) & 255)
         |     + 114 * ((((doc_id*31 + i) % 16777216) * 2654435769) & 255)) // 1000 // 16) AS bins
         |  FROM d
         |)
         |SELECT doc_id, w AS decoded_width, h AS decoded_height,
         |  round(CAST(len(list_filter(bins, v -> v = 0)) AS DOUBLE) / (w*h), 6) AS bin0,
         |  round(CAST(len(list_filter(bins, v -> v = 5)) AS DOUBLE) / (w*h), 6) AS bin5,
         |  round(CAST(len(list_filter(bins, v -> v = 15)) AS DOUBLE) / (w*h), 6) AS bin15
         |FROM lum""".stripMargin),
    // Analytic mirror of the decodeFeatures real-codec route: identical
    // luminance CTE as the decode gate, projected to bins only (the PNG
    // byte length is encoder-dependent, so media_bytes is not pinned)
    "q_ext_media_features_real" ->
      ("""WITH d AS (
         |  SELECT doc_id,
         |    CAST((doc_id % 8 + 1) * 8 AS INT) AS w,
         |    CAST((doc_id % 6 + 1) * 8 AS INT) AS h
         |  FROM documents
         |),
         |lum AS (
         |  SELECT doc_id, w, h,
         |    list_transform(range(w*h), i ->
         |      (299 * (((((doc_id*31 + i) % 16777216) * 2654435769) >> 16) & 255)
         |     + 587 * (((((doc_id*31 + i) % 16777216) * 2654435769) >> 8) & 255)
         |     + 114 * ((((doc_id*31 + i) % 16777216) * 2654435769) & 255)) // 1000 // 16) AS bins
         |  FROM d
         |)
         |SELECT doc_id,
         |  round(CAST(len(list_filter(bins, v -> v = 0)) AS DOUBLE) / (w*h), 6) AS bin0,
         |  round(CAST(len(list_filter(bins, v -> v = 5)) AS DOUBLE) / (w*h), 6) AS bin5,
         |  round(CAST(len(list_filter(bins, v -> v = 15)) AS DOUBLE) / (w*h), 6) AS bin15
         |FROM lum""".stripMargin),
    // Analytic mirror of the real-RESIZE gate: the pinned nearest
    // kernel maps resized pixel i (row-major over 16×12: x = i % 16,
    // y = i ∕ 16) to source index (⌊y·h/12⌋·w + ⌊x·w/16⌋), whose RGB
    // the generator formula yields directly — same mod-2^24 bounding as
    // the decode gate. DuckDB's // is left-associative; parens pin the
    // ⌊x·w/16⌋ = (x*w)//16 (multiply-then-floor) order the kernel uses.
    "q_ext_media_resize_real" ->
      ("""WITH d AS (
         |  SELECT doc_id,
         |    CAST((doc_id % 8 + 1) * 8 AS INT) AS w,
         |    CAST((doc_id % 6 + 1) * 8 AS INT) AS h
         |  FROM documents
         |),
         |px AS (
         |  SELECT doc_id,
         |    list_transform(range(192), i ->
         |      ((doc_id*31 + (((i // 16) * h) // 12) * w + (((i % 16) * w) // 16))
         |        % 16777216) * 2654435769) AS pxs
         |  FROM d
         |),
         |lum AS (
         |  SELECT doc_id, list_transform(pxs, p ->
         |    (299 * ((p >> 16) & 255) + 587 * ((p >> 8) & 255)
         |     + 114 * (p & 255)) // 1000 // 16) AS bins
         |  FROM px
         |)
         |SELECT doc_id, 16 AS decoded_width, 12 AS decoded_height,
         |  round(CAST(len(list_filter(bins, v -> v = 0)) AS DOUBLE) / 192, 6) AS bin0,
         |  round(CAST(len(list_filter(bins, v -> v = 5)) AS DOUBLE) / 192, 6) AS bin5,
         |  round(CAST(len(list_filter(bins, v -> v = 15)) AS DOUBLE) / 192, 6) AS bin15
         |FROM lum""".stripMargin),
    // Format-breadth mirror: BMP reuses the RGB luminance CTE (lossless
    // 24-bit, identical to the PNG gate); GIF's indexed-gray pixels make
    // luminance exactly the generator's low byte, so its bins are
    // (formula & 255) // 16 with no 299/587/114 arithmetic at all.
    "q_ext_media_formats" ->
      ("""WITH d AS (
         |  SELECT doc_id,
         |    CAST((doc_id % 8 + 1) * 8 AS INT) AS w,
         |    CAST((doc_id % 6 + 1) * 8 AS INT) AS h
         |  FROM documents
         |),
         |bmp AS (
         |  SELECT doc_id, 'bmp' AS format, w, h,
         |    list_transform(range(w*h), i ->
         |      (299 * (((((doc_id*31 + i) % 16777216) * 2654435769) >> 16) & 255)
         |     + 587 * (((((doc_id*31 + i) % 16777216) * 2654435769) >> 8) & 255)
         |     + 114 * ((((doc_id*31 + i) % 16777216) * 2654435769) & 255)) // 1000 // 16) AS bins
         |  FROM d
         |),
         |gif AS (
         |  SELECT doc_id, 'gif' AS format, w, h,
         |    list_transform(range(w*h), i ->
         |      ((((doc_id*31 + i) % 16777216) * 2654435769) & 255) // 16) AS bins
         |  FROM d
         |),
         |u AS (SELECT * FROM bmp UNION ALL SELECT * FROM gif)
         |SELECT doc_id, format, w AS decoded_width, h AS decoded_height,
         |  round(CAST(len(list_filter(bins, v -> v = 0)) AS DOUBLE) / (w*h), 6) AS bin0,
         |  round(CAST(len(list_filter(bins, v -> v = 5)) AS DOUBLE) / (w*h), 6) AS bin5,
         |  round(CAST(len(list_filter(bins, v -> v = 15)) AS DOUBLE) / (w*h), 6) AS bin15
         |FROM u""".stripMargin),
    // Audio mirror: the square-wave fixture makes every statistic a
    // closed-form integer expression of doc_id — no per-sample work and
    // no transcendental portability risk.
    "q_ext_media_audio" ->
      ("""SELECT doc_id,
         |  8000 AS sample_rate, 1 AS channels,
         |  CAST((doc_id % 4 + 1) * 800 AS BIGINT) AS n_samples,
         |  round(CAST((doc_id % 4 + 1) * 800 AS DOUBLE) / 8, 6) AS duration_ms,
         |  round(CAST((doc_id % 5 + 1) * 4000 AS DOUBLE), 6) AS rms,
         |  CAST((doc_id % 5 + 1) * 4000 AS INT) AS peak,
         |  0.0 AS mean
         |FROM documents""".stripMargin),
    // Video mirror: frame f of doc d is the QUADRATIC sample sequence's
    // window at offset f·w·h (x = d·31 + f·w·h + i; luminance = bits
    // 16–23 of (x² mod 2²⁴)·φ — quadratic because a linear sequence's
    // low byte is window-uniform and couldn't catch frame-addressing
    // bugs), sampled frames are {0, m−1} under the pinned n=2 rule
    // (m ≥ 2 always). x ≤ ~10^7 so x² fits BIGINT; mod-2^24 before the
    // φ multiply keeps the product under 2^56.
    "q_ext_media_video" ->
      ("""WITH d AS (
         |  SELECT doc_id,
         |    CAST((doc_id % 8 + 1) * 8 AS INT) AS w,
         |    CAST((doc_id % 6 + 1) * 8 AS INT) AS h,
         |    CAST((doc_id % 5 + 2) AS INT) AS m
         |  FROM documents
         |),
         |f AS (
         |  SELECT doc_id, w, h, m, unnest([0, m - 1]) AS frame_idx FROM d
         |),
         |lum AS (
         |  SELECT doc_id, w, h, m, frame_idx,
         |    list_transform(range(w*h), i ->
         |      (((((doc_id*31 + frame_idx*w*h + i) * (doc_id*31 + frame_idx*w*h + i))
         |         % 16777216) * 2654435769) >> 16 & 255) // 16) AS bins
         |  FROM f
         |)
         |SELECT doc_id, m AS n_frames, CAST(frame_idx AS INT) AS frame_idx,
         |  w AS decoded_width, h AS decoded_height,
         |  round(CAST(len(list_filter(bins, v -> v = 0)) AS DOUBLE) / (w*h), 6) AS bin0,
         |  round(CAST(len(list_filter(bins, v -> v = 5)) AS DOUBLE) / (w*h), 6) AS bin5,
         |  round(CAST(len(list_filter(bins, v -> v = 15)) AS DOUBLE) / (w*h), 6) AS bin15
         |FROM lum""".stripMargin),
    // Perceptual near-dup mirror: the block generator's luma formula is
    // md5-derived (portable), so DuckDB recomputes all 72 block values
    // per doc and from them every expected dHash gradient bit. The
    // Spark side's phash renders as java's 64-char two's-complement
    // binary string (MSB first), so list position p (0-based) carries
    // bit 63-p; bit b = gy*8+gx compares block (gx,gy) with (gx+1,gy),
    // i.e. 1-based list indices gy*9+gx+1 and gy*9+gx+2. Block value:
    // 17 * (2*(low_hex_digit(md5('id:gx:gy')) % 8) + gx % 2) — the
    // first BYTE of the digest mod 8 is its second hex digit mod 8.
    // The collapse claim is analytic too: 3 encodings of one picture
    // hash identically and distinct docs sit ≥ hamming 7 apart
    // (md5-decorrelated; probe-measured floor 12), so survivors are
    // exactly one per doc.
    "q_ext_media_neardup" ->
      ("""WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
         |v AS (
         |  SELECT doc_id, list_transform(range(72), c ->
         |    17 * (2 * ((strpos('0123456789abcdef',
         |            substr(md5(doc_id || ':' || (c % 9) || ':' || (c // 9)), 2, 1)) - 1) % 8)
         |          + (c % 9) % 2)) AS vs
         |  FROM d
         |)
         |SELECT doc_id,
         |  list_aggregate(list_transform(range(64), p ->
         |    CASE WHEN vs[CAST((63 - p) // 8 * 9 + (63 - p) % 8 + 1 AS INT)]
         |            < vs[CAST((63 - p) // 8 * 9 + (63 - p) % 8 + 2 AS INT)]
         |         THEN '1' ELSE '0' END), 'string_agg', '') AS phash_bits,
         |  3 AS n_variants, 1 AS n_survivors
         |FROM v""".stripMargin),
    // Video near-dup mirror: frame 0's dHash bits re-derived from the
    // md5 block formula exactly like the image mirror (each 9×8 grid
    // cell IS one 8×8 block of the 72×64 frame), with the frame index
    // in the digest key. Collapse is analytic: three encodings of one
    // animation sign identically (lossless GIF twins bit-exactly, AVI's
    // JPEG inside the 17-step gradient margin), distinct docs are
    // md5-decorrelated — so survivors are exactly one per doc.
    "q_ext_media_video_neardup" ->
      (s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
         |v AS (SELECT doc_id, ${blockVsSql("doc_id || ':0'")} AS vs FROM d)
         |SELECT doc_id, CAST(doc_id % 5 + 2 AS INT) AS n_frames,
         |  ${dhashBitsSql("vs")} AS sig0_bits,
         |  3 AS n_variants, 1 AS n_survivors
         |FROM v""".stripMargin),
    // Per-container mirror: both containers decode the same analytic
    // picture, so each carries the same recomputed first/last-frame
    // hash bits; last frame = m−1 under the pinned n=2 sampling rule.
    "q_ext_media_video_formats" ->
      (s"""WITH d AS (SELECT doc_id, CAST(doc_id % 5 + 2 AS INT) AS m
         |           FROM documents WHERE doc_id % 10 = 0),
         |dc AS (SELECT doc_id, m, unnest(['gif','avi']) AS container FROM d),
         |b AS (SELECT doc_id, m, container,
         |  ${blockVsSql("doc_id || ':0'")} AS v0,
         |  ${blockVsSql("doc_id || ':' || (m - 1)")} AS vl
         |  FROM dc)
         |SELECT doc_id, container, m AS n_frames,
         |  72 AS decoded_width, 64 AS decoded_height,
         |  ${dhashBitsSql("v0")} AS f0_bits,
         |  ${dhashBitsSql("vl")} AS flast_bits
         |FROM b""".stripMargin),
    // Audio near-dup mirror: signature bits from the md5 amplitude
    // formula; collapse is analytic (four encodings of one clip — three
    // containers + the exactly-halved requantization — share every
    // envelope comparison; distinct docs are md5-decorrelated).
    "q_ext_media_audio_neardup" ->
      (s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
         |a AS (SELECT doc_id, $audioAmpsSql AS amps FROM d)
         |SELECT doc_id,
         |  CAST(65 * (doc_id % 4 + 1) * 16 AS BIGINT) AS n_samples,
         |  ${audioSigBitsSql("amps")} AS sig_bits,
         |  4 AS n_variants, 1 AS n_survivors
         |FROM a""".stripMargin),
    // Per-container audio mirror: all three containers decode the same
    // clip, so each carries the same recomputed envelope signature.
    "q_ext_media_audio_formats" ->
      (s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
         |dc AS (SELECT doc_id, unnest(['wav','aiff','au']) AS container FROM d),
         |a AS (SELECT doc_id, container, $audioAmpsSql AS amps FROM dc)
         |SELECT doc_id, container, 8000 AS sample_rate,
         |  CAST(65 * (doc_id % 4 + 1) * 16 AS BIGINT) AS n_samples,
         |  ${audioSigBitsSql("amps")} AS sig_bits
         |FROM a""".stripMargin),
    // Quarantine mirror: route/reason stated from the fixture's
    // construction ((doc_id // 10 + doc_id) mod 6 picks the corruption
    // class — MultimodalOps.mixedMediaClass) — the Spark side must
    // DERIVE the same answer by really validating the bytes (magic
    // sniff, demux walk, codec decode).
    "q_ext_media_quarantine" ->
      ("""WITH d AS (SELECT doc_id, (doc_id // 10 + doc_id) % 6 AS cls
         |           FROM documents WHERE doc_id % 10 = 0)
         |SELECT doc_id,
         |  CASE WHEN cls >= 3 THEN 'rejects' ELSE 'corpus' END AS route,
         |  CASE WHEN cls = 3 THEN 'known_container'
         |       WHEN cls >= 4 THEN 'media_decodes' END AS reject_reason
         |FROM d""".stripMargin),
    // Media-ingest mirror: survivors stated from the construction —
    // lossless re-encodes hash identically (hamming 0, dropped against
    // the stored index), md5-decorrelated new pictures never band-match
    // within the verify radius (kept).
    "q_ext_media_ingest_neardup" ->
      ("""SELECT doc_id * 10 + 2 AS doc_id
         |FROM documents WHERE doc_id % 10 = 0""".stripMargin),
    // Composition mirror: every incoming row's route stated from the
    // construction — re-encodes (+1) hamming-drop against the stored
    // index and are ABSENT, novel pictures (+2) survive to the corpus,
    // and the three corruption classes reject with their exact
    // first-failing check name.
    "q_ext_media_ingest_compose" ->
      ("""WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0)
         |SELECT doc_id * 10 + 2 AS doc_id, 'corpus' AS route FROM d
         |UNION ALL SELECT doc_id * 10 + 3, 'known_container' FROM d
         |UNION ALL SELECT doc_id * 10 + 4, 'media_decodes' FROM d
         |UNION ALL SELECT doc_id * 10 + 5, 'media_present' FROM d""".stripMargin),
    // sampleFrames slices bytes at offset floor(len*i/n), width 64; on the
    // hex string that is substr(hx, 2*floor(n*i/4)+1, 128). floor (not a
    // bare INT cast) mirrors Spark's truncating double→int cast — DuckDB's
    // cast rounds to nearest.
    "q_ext_media_frames" ->
      ("""WITH m AS (
         |  SELECT doc_id, hex(COALESCE(CAST(text AS BLOB), ''::BLOB)) AS hx,
         |         octet_length(COALESCE(CAST(text AS BLOB), ''::BLOB)) AS n
         |  FROM documents
         |)
         |SELECT doc_id, 4 AS n_frames,
         |  md5(list_aggregate(
         |    list_transform(range(4),
         |      i -> substr(hx, 2 * CAST(floor(n * i / 4) AS INT) + 1, 128)),
         |    'string_agg', '|')) AS frames_md5
         |FROM m""".stripMargin),
    // resizeStub keeps bytes at indices 0, k, 2k, … (k = (w/64)*(h/64)
    // from the doc_id-derived fixture dims), i.e. ceil(n/k) bytes; on the
    // hex string that is the 2-char slice at 2·k·i. string_agg of an empty
    // list is NULL — COALESCE to '' to match Spark's md5 of an empty hex.
    "q_ext_media_resize" ->
      ("""WITH m AS (
         |  SELECT doc_id, hex(COALESCE(CAST(text AS BLOB), ''::BLOB)) AS hx,
         |         octet_length(COALESCE(CAST(text AS BLOB), ''::BLOB)) AS n,
         |         CAST((doc_id % 8 + 1) * (doc_id % 6 + 1) AS BIGINT) AS k
         |  FROM documents
         |)
         |SELECT doc_id, 64 AS width, 64 AS height,
         |  CAST((n + k - 1) // k AS INT) AS resized_bytes,
         |  md5(COALESCE(list_aggregate(
         |    list_transform(range((n + k - 1) // k),
         |      i -> substr(hx, CAST(2 * k * i AS INT) + 1, 2)),
         |    'string_agg', ''), '')) AS resized_md5
         |FROM m""".stripMargin),
    // q_ext_minhash_neardup / q_ext_simhash_neardup / q_ext_knn_lsh:
    // intentionally no oracle (non-portable hash internals); see
    // ExtOpsSpec property tests against the exact counterparts, plus the
    // REGISTERED measured-recall rows (q_ext_recall_*) below.
    // q_ext_knn_ivf_probe_approx: no oracle (approximate at nprobe=4 by
    // design); recall spec-gated in ExtOpsSpec on the persisted index.
    //
    // recall-gate rows: CONSTANT-TRUE oracles. The Spark side measures
    // recall against the exact counterpart and reports (metric,
    // recall_floor, meets_floor); DuckDB pins what the row must say when
    // the operating point is healthy. A recall collapse (or an exact-side
    // regression emptying the ground truth) flips meets_floor and the
    // hash compare fails — the driver-level gate VERDICT r7 asked for.
    "q_ext_recall_minhash" ->
      "SELECT 'minhash_lsh_j0.9_32x8' AS metric, CAST(0.9 AS DOUBLE) AS recall_floor, TRUE AS meets_floor",
    "q_ext_recall_simhash" ->
      "SELECT 'simhash_h3_4x16' AS metric, CAST(1.0 AS DOUBLE) AS recall_floor, TRUE AS meets_floor",
    "q_ext_recall_knn_lsh" ->
      """SELECT 'sign_lsh_cos0.35_4x8' AS metric, CAST(0.02 AS DOUBLE) AS recall_floor, TRUE AS meets_floor
        |UNION ALL
        |SELECT 'sign_lsh_cos0.35_4x8_band0.45', CAST(0.0 AS DOUBLE), TRUE""".stripMargin,
    "q_ext_recall_knn_ivf_probe" ->
      "SELECT 'ivf_k3_probe4of16' AS metric, CAST(0.25 AS DOUBLE) AS recall_floor, TRUE AS meets_floor",
    "q_ext_recall_knn_pq" ->
      "SELECT 'pq_refine_k3_shortlist64' AS metric, CAST(0.4 AS DOUBLE) AS recall_floor, TRUE AS meets_floor",
    "q_ext_recall_knn_ivfpq" ->
      "SELECT 'ivfpq_k3_probe4of16_shortlist32' AS metric, CAST(0.2 AS DOUBLE) AS recall_floor, TRUE AS meets_floor",
    "q_ext_recall_knn_sq" ->
      "SELECT 'sq8_refine_k3_shortlist32' AS metric, CAST(0.8 AS DOUBLE) AS recall_floor, TRUE AS meets_floor",
    "q_ext_recall_knn_hnsw" ->
      "SELECT 'hnsw_k3_ef64_4shard' AS metric, CAST(0.5 AS DOUBLE) AS recall_floor, TRUE AS meets_floor",
    "q_ext_recall_knn_auto" ->
      "SELECT 'auto_hnsw' AS metric, CAST(0.5 AS DOUBLE) AS recall_floor, TRUE AS meets_floor",
    // Visual-feature exact top-3: identical luminance/feature CTEs as
    // the features_real mirror, lifted to 16-dim vectors and ranked by
    // cosine — the image→ANN bridge's analytic ground truth.
    "q_ext_media_knn" ->
      ("""WITH d AS (
         |  SELECT doc_id,
         |    CAST((doc_id % 8 + 1) * 8 AS INT) AS w,
         |    CAST((doc_id % 6 + 1) * 8 AS INT) AS h
         |  FROM documents
         |),
         |lum AS (
         |  SELECT doc_id, w, h,
         |    list_transform(range(w*h), i ->
         |      (299 * (((((doc_id*31 + i) % 16777216) * 2654435769) >> 16) & 255)
         |     + 587 * (((((doc_id*31 + i) % 16777216) * 2654435769) >> 8) & 255)
         |     + 114 * ((((doc_id*31 + i) % 16777216) * 2654435769) & 255)) // 1000 // 16) AS bins
         |  FROM d
         |),
         |v AS (
         |  SELECT doc_id,
         |    list_transform(range(16), b ->
         |      CAST(len(list_filter(bins, x -> x = b)) AS DOUBLE) / (w*h)) AS fv
         |  FROM lum
         |),
         |scored AS (
         |  SELECT q.doc_id AS query_id, c.doc_id AS corpus_id,
         |         list_cosine_similarity(q.fv, c.fv) AS sim
         |  FROM (SELECT * FROM v WHERE doc_id < 20) q
         |  JOIN v c ON q.doc_id != c.doc_id
         |),
         |ranked AS (
         |  SELECT query_id, corpus_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, corpus_id, sim, rank FROM ranked WHERE rank <= 3""".stripMargin),
    "q_ext_recall_media_knn" ->
      "SELECT 'auto_hnsw' AS metric, CAST(0.4 AS DOUBLE) AS recall_floor, TRUE AS meets_floor",
  )
}
