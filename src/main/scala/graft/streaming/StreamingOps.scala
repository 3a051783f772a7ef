package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout}
import org.apache.spark.sql.Row
import graft.runtime.Materializer

/** Structured Streaming surface. The reference is batch-incremental only
  * (dbt rerun + watermark + upsert, SURVEY §2.10); these operators are
  * the streaming upgrade path of its two stateful shapes, so the same
  * model semantics can run continuously instead of by rerun:
  *
  *  - A1 daily dual-count agg → watermarked 1-day-window streaming agg.
  *    Exact COUNT(DISTINCT) is unsupported over streams (and is the
  *    100 TB pain point anyway, SURVEY §2.5) → approx_count_distinct,
  *    mirroring Aggs.dualCountApprox.
  *  - W1 last-paid-touch attribution → running argmax per user with
  *    mapGroupsWithState: state is ONE row per user (the current best
  *    touch), so state size is bounded by |users|, not |events|.
  *
  * The sink glue reuses the batch Materializer upsert per micro-batch —
  * the streaming and batch paths materialize identically.
  */
object StreamingOps {

  /** Guard for the streaming day-window models: `window(ts, "1 day")`
    * aligns to epoch (UTC) days while the batch models group on
    * session-timezone `to_date`, so the two surfaces coincide only when
    * the session timezone IS UTC. Accepts any fixed zero-offset zone id
    * ("UTC", "Etc/UTC", "GMT", "+00:00") — it is the offset rules that
    * matter, not the spelling.
    */
  private[streaming] def requireUtcSession(spark: SparkSession): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val rules = java.time.ZoneId.of(tz).getRules
    require(rules.isFixedOffset &&
      rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0,
      s"streaming day windows align to UTC but the session timezone is '$tz'; " +
        "set spark.sql.session.timeZone=UTC to match the batch to_date grouping")
  }

  /** Streaming A1: per-(day, app) visit counts with a late-data bound.
    * Update mode; pair with `upsertSink` for incremental materialization.
    */
  def dailyTraffic(events: DataFrame, delay: String = "1 day"): DataFrame =
    events
      .withWatermark("collector_tstamp", delay)
      .groupBy(window(col("collector_tstamp"), "1 day").as("w"), col("app_id"))
      .agg(count(lit(1)).as("total_visits"),
        approx_count_distinct("domain_userid").as("unique_visitors"))
      .select(to_date(col("w.start")).as("event_date"), col("app_id"),
        col("total_visits"), col("unique_visitors"))

  // paid-touch first (1), then latest timestamp, then highest event id —
  // the W1 window order (lead_activities_agg.sql:48-54) as an Ordering
  private val touchPriority: Ordering[TouchEvent] = (a: TouchEvent, b: TouchEvent) => {
    val byRank = Integer.compare(a.paidRank, b.paidRank)
    if (byRank != 0) byRank
    else {
      val byTs = java.lang.Long.compare(b.tstampMicros, a.tstampMicros)
      if (byTs != 0) byTs else b.eventId.compareTo(a.eventId)
    }
  }

  /** Generic per-key running argmin under `priority`: state is ONE row
    * per key; each micro-batch folds its rows into the stored best and
    * emits the key's current winner (update semantics).
    */
  private[streaming] def runningBest[T](ds: Dataset[T])(key: T => String)
      (priority: Ordering[T])
      (implicit te: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    implicit val se: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    ds.groupByKey(key)
      .mapGroupsWithState[T, T](GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[T], state: GroupState[T]) =>
          val best = (state.getOption.iterator ++ it).min(priority)
          state.update(best)
          best
      }
  }

  /** Streaming W1: per-user running argmax ("current last touch"). Each
    * micro-batch folds its events into the stored best; output is the
    * user's current attribution row (update semantics).
    */
  def lastTouch(events: Dataset[TouchEvent]): Dataset[TouchEvent] = {
    import events.sparkSession.implicits._
    runningBest(events)(_.domainUserid)(touchPriority)
  }

  /** One live leaderboard row: key's current rank-`rank` entry. */
  case class RankedRow(key: String, id: Long, ord: Double, rank: Long)

  /** Streaming top-k leaderboard: per-key running top-k under (ord DESC,
    * id ASC) — the continuous form of [[graft.ops.Aggs.topKPerKey]],
    * folding each micro-batch into the SAME bounded O(k) buffer the
    * batch aggregator merges (one code path, so stream ≡ batch is a
    * property of construction, and spec-gated anyway). Each trigger
    * emits the touched keys' current FULL top-k (update semantics):
    * upsert downstream on (key, rank) — ranks only ever fill in or
    * improve — and the table is the live leaderboard. State per key is
    * k pairs, independent of history length.
    */
  def topKLeaderboard(rows: Dataset[(String, Double, Long)], k: Int): Dataset[RankedRow] = {
    val session = rows.sparkSession
    import session.implicits._
    val agg = new graft.ops.Aggs.TopK(k)
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Double, Long)], RankedRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, Double, Long)],
         state: GroupState[Seq[(Double, Long)]]) =>
          val incoming = it.foldLeft(agg.zero)((b, r) => agg.reduce(b, (r._2, r._3)))
          val merged = agg.merge(state.getOption.getOrElse(agg.zero), incoming)
          state.update(merged)
          merged.iterator.zipWithIndex.map { case ((v, id), i) =>
            RankedRow(key, id, v, i + 1L)
          }
      }
  }


  /** Cadence maintenance for the fragmented sinks: a tiered fold every
    * tick (I/O ∝ the recent run), with a bounded-read-amplification
    * backstop — if a manifest still exceeds [[CadenceMaxLive]] fragments
    * after the tiered fold (e.g. the tier policy keeps declining because
    * the newest fragment is tiny next to its predecessor), a full fold
    * restores the bound rather than letting amplification grow
    * unchecked between manual maintenance.
    */
  val CadenceMaxLive = 8

  private def cadenceFold(s: graft.runtime.KeyedFragmentStore): Unit = {
    s.compactTiered()
    // backstop WITHOUT a second tier pass — this tick already paid one
    s.compactIfOver(CadenceMaxLive)
    ()
  }

  /** Sink glue: every micro-batch runs the batch upsert-by-key path, so
    * a streaming model materializes exactly like its batch rerun.
    */
  def upsertSink(df: DataFrame, mat: Materializer, model: String,
                 uniqueKey: String): DataStreamWriter[Row] =
    df.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, _: Long) =>
        mat.materialize(model, uniqueKey)(_ => batch)
        ()
    }

  /** Continuous corpus ingest — the end-to-end streaming front door:
    * each micro-batch is exact-deduped WITHIN itself (keep-lowest) and
    * against the ALREADY-INGESTED corpus (Bloom-routed,
    * [[graft.ext.IngestOps.appendDedupExact]] — the corpus is scanned,
    * never repartitioned), then its survivors land as one new fragment
    * of the fragment store `frag` (O(batch) writes — the cost profile
    * a high-frequency ingest of a large corpus needs; open one over a
    * warehouse with `mat.fragmented(model, "doc_id")`). foreachBatch is
    * the stream↔external-table bridge: restarts re-dedup against
    * whatever actually landed, so a REPLAYED micro-batch dedups against
    * its own previous append and writes nothing.
    *
    * `compactEvery` > 0 TIER-folds the newest small-fragment run every
    * Nth micro-batch (keyed on batchId, so a replay repeats at most one
    * compaction) — per-cadence I/O stays proportional to the recent
    * batches, the settled base fragment is never rewritten on cadence
    * ([[graft.runtime.FragmentedTable.compactTiered]]); the O(corpus)
    * full fold remains an explicit maintenance call.
    *
    * Contrast [[dedupExactStream]]: that holds the fingerprint set as
    * STREAMING STATE (exact, but state grows with the corpus and dies
    * with the checkpoint); this holds it in the table itself —
    * unbounded corpus, restart-safe, at the cost of a corpus scan per
    * micro-batch (amortized by the Bloom route).
    */
  def corpusIngestFragmentedSink(docs: DataFrame,
                                 frag: graft.runtime.KeyedFragmentStore,
                                 compactEvery: Long = 0L): DataStreamWriter[Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val survivors = frag.read() match {
          case None        => graft.ext.DedupOps.dedupExact(batch)
          case Some(prior) => graft.ext.IngestOps.appendDedupExact(prior, batch)
        }
        if (!survivors.isEmpty) frag.upsert(survivors)
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          cadenceFold(frag)
        ()
    }

  /** Streaming KEY DELETION against a [[graft.runtime.FragmentedTable]]
    * corpus — the right-to-be-forgotten shape: a stream of deletion
    * requests (one key column matching the store's upsert key) lands as
    * one O(batch) tombstone fragment per trigger; the corpus is never
    * rewritten, and the usual `compactEvery` cadence folds tombstones
    * into the run (the FULL fold purges them physically —
    * FragmentedTable.deleteKeys). Requests are semi-joined against the
    * LIVE merge first, so a replayed trigger (its keys already
    * tombstoned, hence not live) writes nothing, and requests for keys
    * the corpus never held are dropped rather than materialized as
    * useless tombstones. A delete racing AHEAD of its key's ingest is
    * therefore a no-op by design — deletion applies to the corpus as
    * of the trigger, not to future arrivals.
    *
    * With an `index` over the same corpus, each trigger's live keys are
    * ALSO tombstoned there ([[graft.ext.VectorIndex.delete]]) — corpus
    * delete ⇒ index delete in one call, so a forgotten document stops
    * being retrievable in the same trigger that tombstones its text.
    * The index tombstone is O(keys) and replay-safe for the same reason
    * the fragment side is: a redelivered trigger's keys are no longer
    * live in the corpus, so both deletes skip. Index purge rides the
    * index's own [[graft.ext.VectorIndex.maintain]] cadence, not this
    * sink's.
    */
  def keyDeletionFragmentedSink(requests: DataFrame,
                                frag: graft.runtime.KeyedFragmentStore,
                                compactEvery: Long = 0L,
                                index: Option[graft.ext.VectorIndex] = None): DataStreamWriter[Row] =
    requests.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        frag.read().foreach { cur =>
          val live = batch.select(col(frag.keyColumn)).distinct()
            .join(cur.select(frag.keyColumn), Seq(frag.keyColumn), "left_semi")
          if (!live.isEmpty) {
            // index FIRST: if the trigger dies between the two deletes,
            // the replayed batch still sees the keys live in the corpus
            // and retries BOTH; the reverse order would tombstone the
            // corpus, make the replay's live set empty, and lose the
            // index tombstone forever. index.delete is idempotent, so
            // the double-apply case is absorbed.
            index.foreach(_.delete(live, idCol = frag.keyColumn))
            frag.deleteKeys(live)
          }
        }
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          cadenceFold(frag)
        ()
    }

  /** [[corpusIngestFragmentedSink]] with a DEAD-LETTER split: each
    * micro-batch is validated against `checks` (name → predicate that
    * must HOLD; a NULL predicate result counts as failing, the dbt-test
    * convention) BEFORE dedup. Rows failing any check land in
    * `rejectsFrag` (conventionally `<model>__rejects`) carrying the
    * FIRST failing check's name as `reject_reason`; only valid rows
    * continue into the exact-dedup ingest. Both stores commit as
    * O(batch) fragments. Replay stays idempotent on both sides: a
    * redelivered batch's rejects upsert their own doc_ids into their
    * previous fragment's keys (last-writer-wins, identical rows), and
    * its valid rows content-dedup to an empty survivor set that writes
    * nothing. The quarantine is a queryable TABLE, not a log line — ops
    * inspect it, fix upstream, re-ingest (fixed ids upsert into the
    * corpus), expire it. Same one-stream-per-model and
    * unique-ids-within-a-batch contracts as the other ingest sinks;
    * `compactEvery` folds read amplification on the usual cadence.
    */
  def corpusIngestQuarantineFragmentedSink(docs: DataFrame,
                                           frag: graft.runtime.KeyedFragmentStore,
                                           rejectsFrag: graft.runtime.KeyedFragmentStore,
                                           checks: Seq[(String, org.apache.spark.sql.Column)],
                                           compactEvery: Long = 0L): DataStreamWriter[Row] = {
    require(checks.nonEmpty, "at least one validity check required")
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val marked = batch.withColumn("reject_reason",
          graft.ext.IngestOps.rejectReason(checks))
        val rejects = marked.filter(col("reject_reason").isNotNull)
        if (!rejects.isEmpty) rejectsFrag.upsert(rejects)
        val valid = marked.filter(col("reject_reason").isNull).drop("reject_reason")
        val survivors = frag.read() match {
          case None        => graft.ext.DedupOps.dedupExact(valid)
          case Some(prior) => graft.ext.IngestOps.appendDedupExact(prior, valid)
        }
        if (!survivors.isEmpty) frag.upsert(survivors)
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
          cadenceFold(frag); cadenceFold(rejectsFrag)
        }
        ()
    }
  }

  /** [[corpusIngestQuarantineFragmentedSink]] with the cross-corpus
    * exact-dedup check made CORPUS-INDEPENDENT: instead of re-scanning
    * the merged corpus per trigger (the Bloom build inside
    * [[graft.ext.IngestOps.appendDedupExact]] — measured at sf1 as a
    * 2.9 → 4.0 s/trigger ramp over the first 60 soak triggers), the
    * corpus's content fingerprints persist ONCE in a fingerprint-keyed
    * [[graft.runtime.BucketedFragmentStore]] (`fp` = md5 of
    * whitespace-normalized text, routing = key) and each trigger
    * point-probes exactly its own batch's fingerprints
    * ([[graft.ext.IngestOps.appendDedupExactRouted]]) — per-trigger
    * corpus-side I/O ∝ batch, flat as the corpus grows.
    *
    * Crash/repair discipline mirrors the banded near-dup sink: the
    * corpus is TRUTH and the fp store an index — survivors commit to
    * the corpus FIRST, then their fingerprints; a crash in between
    * leaves the store lagging, which construction-time repair (one
    * O(corpus) anti-join, paid once) backfills, and a replayed trigger
    * re-upserts identical rows that last-writer-wins absorbs. Same
    * validate → dead-letter → dedup split, reject-reason convention,
    * and O(batch) fragment commits as the un-routed sink (survivor
    * equivalence spec-gated).
    */
  def corpusIngestQuarantineRoutedSink(docs: DataFrame,
                                       frag: graft.runtime.KeyedFragmentStore,
                                       rejectsFrag: graft.runtime.KeyedFragmentStore,
                                       checks: Seq[(String, org.apache.spark.sql.Column)],
                                       fpStore: graft.runtime.BucketedFragmentStore,
                                       compactEvery: Long = 0L): DataStreamWriter[Row] = {
    require(checks.nonEmpty, "at least one validity check required")
    require(fpStore.keyColumn == "fp" && fpStore.routeCol == "fp",
      s"fpStore must be keyed AND routed by 'fp', got key '${fpStore.keyColumn}' route '${fpStore.routeCol}'")
    // one-time repair: fingerprints of corpus rows the store is missing
    // (crash gap, migration from the un-routed sink, fresh store over an
    // existing corpus)
    frag.read().foreach { corpus =>
      val corpusFps = corpus
        .select(graft.ext.TextOps.fingerprint(col("text")).as("fp"))
        .na.drop().distinct()
      val missing = fpStore.read() match {
        case None     => corpusFps
        case Some(ps) => corpusFps.join(ps.select("fp"), Seq("fp"), "left_anti")
      }
      if (!missing.isEmpty) fpStore.upsert(missing)
    }
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val marked = batch.withColumn("reject_reason",
          graft.ext.IngestOps.rejectReason(checks))
        val rejects = marked.filter(col("reject_reason").isNotNull)
        // batch-sized per-trigger fragments: ONE task, ONE file, no
        // zone-map job (the L0 trade — see upsertLight; folds level
        // them into stats-bearing runs at the cadence)
        if (!rejects.isEmpty) rejectsFrag.upsertLight(rejects.coalesce(1))
        val valid = marked.filter(col("reject_reason").isNull).drop("reject_reason")
        // The probe switches regimes WITH the dedup (ADVICE r13: the
        // maxIsinFps switch bounded only the second filter while this
        // closure still embedded the full literal list in the probe
        // plan): micro-batches keep the isin — it pushes into the
        // parquet scan — and large batches take the routed bucket
        // union, whose matching appendDedupExactRouted's semi-join
        // regime performs without any literal list.
        val survivors = graft.ext.IngestOps.appendDedupExactRouted(
          fps =>
            if (fps.size <= graft.ext.IngestOps.DefaultMaxIsin)
              fpStore.readWhere(col("fp").isin(fps: _*))
            else fpStore.readRouted(fps),
          valid)
        // finally: a failing commit must not leak the trigger's pinned
        // lineage across in-process query restarts (ADVICE r15)
        try {
          if (!survivors.isEmpty) {
            // corpus first (truth), then the index — see the scaladoc
            frag.upsert(survivors.coalesce(1))
            val fps = survivors
              .select(graft.ext.TextOps.fingerprint(col("text")).as("fp"))
              .na.drop().distinct()
            if (!fps.isEmpty) fpStore.upsert(fps.coalesce(1))
          }
        } finally { survivors.unpersist(false); () }
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
          cadenceFold(frag); cadenceFold(rejectsFrag)
          fpStore.maybeCompact(2)
          ()
        }
        ()
    }
  }

  /** [[corpusIngestFragmentedSink]] with NEAR-dup awareness: each
    * micro-batch additionally drops rows whose verified near-duplicate
    * already lives in the corpus store `frag`. Same table-is-the-state
    * restart/idempotency story: a replayed batch's rows are near-dups
    * of their own previous append and are absorbed.
    *
    * The corpus's MinHash signatures live in the `sigsFrag` side-table
    * (conventionally `<model>__sigs`; schema =
    * [[graft.ext.IngestOps.minHashSigsOf]]) this sink maintains
    * alongside the corpus, so per-batch signature COMPUTE is ∝ batch —
    * the corpus text is never re-tokenized or re-hashed per trigger
    * (that was the r6 full-corpus-recompute seam; the check itself is
    * [[graft.ext.IngestOps.appendDedupNearDupIndexed]], which cannot
    * touch corpus text by construction). Each trigger runs two steps:
    *
    *   1. REPAIR: sign corpus rows missing from the side-table (id-only
    *      anti-join; normally the previous batch's append, the crash gap
    *      after an interrupted trigger) and upsert them. Self-healing, so
    *      the two tables need no cross-table atomic commit.
    *   2. CHECK+APPEND: dedup the batch against the (now complete)
    *      side-table, append survivors to the corpus. Their signatures
    *      land at the next trigger's repair.
    *
    * BOTH tables commit as O(batch) fragments — per-trigger WRITE is the
    * surviving batch (corpus) plus the newly-signed rows (side-table),
    * never a table rewrite. The repair anti-join still READS the merged
    * corpus and side-table ids (the LSM read-amplification trade
    * `compactEvery` bounds). The sink assumes ONE ingest stream per
    * model (the usual topology — a streaming query owns its sink
    * tables); `hotShingles` is a PINNED stopword-shingle list baked into
    * stored signatures, so it must stay constant for a table's lifetime.
    * A replaced doc_id with CHANGED text is out of contract (the repair
    * anti-join is id-keyed); corpus ingest appends new ids.
    */
  def corpusIngestNearDupFragmentedSink(docs: DataFrame,
                                        frag: graft.runtime.KeyedFragmentStore,
                                        sigsFrag: graft.runtime.KeyedFragmentStore,
                                        threshold: Double,
                                        numHashes: Int = 32, bands: Int = 8,
                                        shingleK: Int = 1,
                                        hotShingles: Seq[String] = Nil,
                                        compactEvery: Long = 0L): DataStreamWriter[Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        // 1. REPAIR: sign corpus rows missing from the side-table (the
        // previous trigger's append, the whole corpus on migration, or
        // the crash gap) — self-healing, so the two fragment tables need
        // no cross-table atomic commit. TOMBSTONE docs that yield no
        // signature (empty/whitespace text, or every shingle hot):
        // without a side-table row the id-keyed anti-join would classify
        // them "unsigned" and re-tokenize them on EVERY trigger forever.
        // An empty-toks row carries no dedup signal and is filtered out
        // of the check (appendDedupNearDupIndexed) — it exists only so
        // the repair converges.
        frag.read().foreach { corpus =>
          val unsigned = sigsFrag.read() match {
            case None     => corpus
            case Some(ps) =>
              corpus.join(ps.select("doc_id"), Seq("doc_id"), "left_anti")
          }
          if (!unsigned.isEmpty) {
            val signed = graft.ext.IngestOps.minHashSigsOf(unsigned, numHashes,
              shingleK, hotShingles = hotShingles)
            val tomb = unsigned.select(col("doc_id"))
              .join(signed.select("doc_id"), Seq("doc_id"), "left_anti")
              .select(col("doc_id"),
                array().cast("array<string>").as("toks"),
                array().cast("array<bigint>").as("sig"))
            sigsFrag.upsert(signed.unionByName(tomb))
          }
        }
        // 2. CHECK+APPEND against the (now complete) side-table; the
        // survivors' own signatures land at the next trigger's repair.
        val exS = sigsFrag.read().getOrElse(
          graft.ext.IngestOps.minHashSigsOf(batch.limit(0), numHashes,
            shingleK, hotShingles = hotShingles))
        val survivors = graft.ext.IngestOps.appendDedupNearDupIndexed(exS, batch,
          threshold, numHashes, bands, shingleK, hotShingles = hotShingles)
        if (!survivors.isEmpty) frag.upsert(survivors)
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
          cadenceFold(frag); cadenceFold(sigsFrag)
        }
        ()
    }

  /** The BANDED near-dup ingest — [[corpusIngestNearDupFragmentedSink]]
    * with the per-trigger corpus-side cost made CORPUS-INDEPENDENT,
    * closing the one unbounded per-trigger curve the r10 soak measured
    * (ingest latency 6.4→8.7 s over 200 triggers from the O(corpus)
    * map-side signature scan). Three structural changes:
    *
    *   1. **Banding is persisted, not recomputed.** Signatures band
    *      ONCE at sign time into `bandStore` — a
    *      [[graft.runtime.BucketedFragmentStore]] routed by `band_key`
    *      ([[graft.ext.IngestOps.bandRowsOf]] rows) — so a trigger
    *      never re-hashes or even re-reads the corpus signature table:
    *      [[graft.runtime.BucketedFragmentStore.readRouted]] unions
    *      only the buckets the batch's band keys hash into
    *      (≤ min(batch·bands, buckets)), and candidate toks come from
    *      key-routed point reads of `sigStore`, bounded by the
    *      candidate count. With a `rebucketBytesPerBucket` cadence
    *      keeping buckets bounded, per-trigger probe I/O is
    *      ∝ batch·bands — flat as the corpus grows.
    *   2. **Repair runs at construction, not per trigger.** The old
    *      per-trigger id anti-join (itself O(corpus ids)) is now a
    *      one-time migration/crash-recovery pass
    *      ([[repairNearDupSideTables]]); in steady state each trigger
    *      writes its own survivors' signatures and band rows (sigs
    *      BEFORE bands, so a band row always has its verify row), and a
    *      replayed trigger self-heals: its rows, unsigned by the crash,
    *      re-survive the check and re-write identical rows that
    *      last-writer-wins absorbs.
    *   3. **Deletion goes through [[nearDupForget]]** (band rows route
    *      by band_key, so tombstoning them needs the stored signature —
    *      the helper recomputes the rows from `sigStore` and deletes
    *      across all three tables in the crash-safe order).
    *
    * Same LSH operating point, verified-Jaccard metric, pinned
    * `hotShingles`, one-stream-per-model, and append-only-id contracts
    * as the un-banded sink; the survivor set is identical (spec-gated
    * against it).
    */
  def corpusIngestNearDupBandedSink(docs: DataFrame,
                                    frag: graft.runtime.KeyedFragmentStore,
                                    sigStore: graft.runtime.BucketedFragmentStore,
                                    bandStore: graft.runtime.BucketedFragmentStore,
                                    threshold: Double,
                                    numHashes: Int = 32, bands: Int = 8,
                                    shingleK: Int = 1,
                                    hotShingles: Seq[String] = Nil,
                                    compactEvery: Long = 0L,
                                    rebucketBytesPerBucket: Long = 0L,
                                    rebucketMinBytesPerBucket: Long = 0L): DataStreamWriter[Row] = {
    require(bandStore.routeCol == "band_key",
      s"bandStore must route on band_key, not '${bandStore.routeCol}'")
    // the large-batch probe regime (> DefaultMaxIsin) switches the exact
    // sig read to sigStore.readRouted(docIds) — which prunes buckets by
    // sigStore.routeCol. A store routed on anything but doc_id would
    // silently probe the wrong buckets, miss candidates, and ADMIT
    // near-duplicates (only above the isin threshold, so micro-batch
    // tests never see it). Fail fast instead (ADVICE r14).
    require(sigStore.routeCol == "doc_id",
      s"sigStore must route on doc_id, not '${sigStore.routeCol}'")
    repairNearDupSideTables(frag, sigStore, bandStore, numHashes, bands,
      shingleK, hotShingles)
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        // already pinned by the routed append: three stores consume the
        // survivor set without re-running the banded probe; the probe's
        // own signature pass is handed back pinned, so the side-store
        // writes never re-tokenize the survivors — and the counts the
        // pinning paid for drive every branch below with zero extra jobs
        val r = graft.ext.IngestOps.appendDedupNearDupRoutedCounted(
          // superset probe: zero-shuffle raw band read — stale/deleted
          // band rows only add candidates the exact sig verify rejects
          keys => bandStore.readRoutedSuperset(keys),
          // exact LWW merge (signatures are truth). Micro-batches keep
          // the isin literal — it pushes into the parquet scan, so the
          // verify's collect is candidate-bounded; above the literal
          // threshold switch to the routed bucket union so a large
          // candidate set never bloats the probe PLAN (ADVICE r13 —
          // the maxIsinFps regime rule applied at the probe site; the
          // cluster-side verify regime does its own id matching)
          ids =>
            if (ids.size <= graft.ext.IngestOps.DefaultMaxIsin)
              sigStore.readWhere(col("doc_id").isin(ids: _*))
            else sigStore.readRouted(ids),
          batch, threshold, numHashes, bands, shingleK,
          hotShingles = hotShingles)
        val pinned = r.survivors; val signed = r.sigs
        // finally (ADVICE r15): a failing commit must not leak the
        // trigger's pinned blocks across in-process query restarts
        try { if (r.nSurvivors > 0) {
          // batch-sized fragments write as ONE task → ONE file per
          // bucket: un-coalesced, each upsert staged a part-file per
          // shuffle partition, so every fragment carried ~`partitions`
          // tiny parquet files and every later probe/fold paid the
          // per-file footer-open cost ~8× (the r13 profiling lever:
          // trigger latency is job/file-count-dominated at this scale).
          // Coalesce of a pinned frame is narrow — no shuffle. Drains,
          // folds and rebuckets (store-sized) stay parallel.
          //
          // Zone-map policy (measured, r13): stores whose reads are
          // KEY-PRUNED keep write-time stats (corpus readWhere probes,
          // sigStore's per-trigger toks point read — stat-less L0
          // fragments made those scan every live fragment, visible as
          // point_scan climbing 0→8 in the soak); ONLY the band store
          // writes light (upsertLight, no stats job) because its sole
          // read path is readRoutedSuperset, which never consults zone
          // maps by design.
          frag.upsert(pinned.coalesce(1))
          // signature-less survivors (all-hot-shingle docs) need
          // convergence tombstones; when every survivor signed — the
          // overwhelmingly common trigger — skip the anti-join + union
          // entirely
          val withTombs =
            if (r.nSigs == r.nSurvivors) signed
            else signed.unionByName(pinned.select(col("doc_id"))
              .join(signed.select("doc_id"), Seq("doc_id"), "left_anti")
              .select(col("doc_id"),
                array().cast("array<string>").as("toks"),
                array().cast("array<bigint>").as("sig")))
          // sigs BEFORE bands: a stored band row must always find its
          // verify row; the reverse crash order would leave candidates
          // that silently drop out of the verify join
          sigStore.upsert(withTombs.coalesce(1))
          if (r.nSigs > 0)
            bandStore.upsertLight(graft.ext.IngestOps.bandRowsOf(signed, bands,
              numHashes / bands).coalesce(1))
        } }
        // release the trigger's pinned blocks — a per-trigger block left
        // persisted is a leak a 200-trigger soak measures as a latency
        // ramp (cleanup is otherwise GC-driven and a large idle heap
        // never collects)
        finally r.unpersistAll()
        if (compactEvery > 0) {
          // STAGGERED maintenance (r13): each store folds once per
          // compactEvery triggers, but at a DIFFERENT phase — the
          // all-in-one tick was a 3–5 s spike every cycle that aliased
          // whole soak checkpoint windows ±1.5 s; spreading it keeps
          // every trigger near the mean with identical amortized work
          // and identical per-bucket fragment-bound dynamics.
          // Per-bucket bound of 2 so a due tick tier-folds each active
          // bucket's recent run (the unbanded sink's flat-table
          // behavior, per bucket) while buckets under the bound cost a
          // manifest read only. A laxer bound lets probe plans grow
          // ~frags-per-bucket × buckets × 3 probes between folds —
          // measured as a 3→10 s per-trigger ramp in the A/B sink
          // bench.
          val phase = batchId % compactEvery
          if (phase == compactEvery - 1) cadenceFold(frag)
          if (phase == (compactEvery / 2) % compactEvery) {
            sigStore.maybeCompact(2)
            if (rebucketBytesPerBucket > 0L) {
              // the optional floor arms the HALVING trigger too, so a
              // delete-heavy stream reclaims bucket count live
              // (hysteresis floor <= max/4 enforced by the store)
              sigStore.maybeRebucket(rebucketBytesPerBucket,
                rebucketMinBytesPerBucket)
              ()
            }
          }
          if (phase == (compactEvery / 4) % compactEvery) {
            bandStore.maybeCompact(2)
            if (rebucketBytesPerBucket > 0L) {
              bandStore.maybeRebucket(rebucketBytesPerBucket,
                rebucketMinBytesPerBucket)
              ()
            }
          }
        }
        ()
    }
  }

  /** One-time (construction / migration / crash-recovery) repair of the
    * banded sink's side tables: sign corpus rows the signature store is
    * missing, then band signed rows the band store is missing. Both
    * passes are id anti-joins — O(corpus), paid once, never per
    * trigger. Idempotent.
    */
  def repairNearDupSideTables(frag: graft.runtime.KeyedFragmentStore,
                              sigStore: graft.runtime.BucketedFragmentStore,
                              bandStore: graft.runtime.BucketedFragmentStore,
                              numHashes: Int = 32, bands: Int = 8,
                              shingleK: Int = 1,
                              hotShingles: Seq[String] = Nil): Unit = {
    frag.read().foreach { corpus =>
      val unsigned = sigStore.read() match {
        case None     => corpus
        case Some(ps) =>
          corpus.join(ps.select("doc_id"), Seq("doc_id"), "left_anti")
      }
      if (!unsigned.isEmpty) {
        val signed = graft.ext.IngestOps.minHashSigsOf(unsigned, numHashes,
          shingleK, hotShingles = hotShingles)
        val tomb = unsigned.select(col("doc_id"))
          .join(signed.select("doc_id"), Seq("doc_id"), "left_anti")
          .select(col("doc_id"),
            array().cast("array<string>").as("toks"),
            array().cast("array<bigint>").as("sig"))
        sigStore.upsert(signed.unionByName(tomb))
      }
    }
    sigStore.read().foreach { sigs =>
      val signed = sigs.filter(size(col("toks")) > 0)
      val unbanded = bandStore.read() match {
        case None     => signed
        case Some(bs) =>
          signed.join(bs.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      }
      if (!unbanded.isEmpty)
        bandStore.upsert(graft.ext.IngestOps.bandRowsOf(unbanded, bands,
          numHashes / bands))
    }
  }

  /** End-to-end MEDIA ingest sink (VERDICT r14 task 1): quarantine →
    * hamming-routed perceptual near-dup → corpus + band-store commit —
    * the media counterpart of [[corpusIngestQuarantineRoutedSink]] +
    * [[corpusIngestNearDupBandedSink]], composed from
    * [[graft.ext.IngestOps.mediaIngestBatch]] (the SAME code the
    * oracle-gated batch row runs). Input rows are `(doc_id, media
    * binary)`; corrupt blobs land in `rejectsFrag` with the exact
    * first-failing reason (`media_present` / `known_container` /
    * `media_decodes`); valid media is decoded EXACTLY ONCE per trigger
    * (validation emits the signature — the r14 double-decode finding);
    * survivors whose 64-bit perceptual signature hamming-verifies
    * within `maxDist` against the persisted [[graft.ext.IngestOps.bandRowsOfSigs]]
    * store are dropped, the rest commit.
    *
    * State tables, and why only TWO side tables (not the text triple):
    * the 8-byte signature rides IN the corpus row and IN each band row,
    * so there is no separate signature store to keep in sync — the
    * corpus is truth, the band store is the only index.
    *
    * Crash/repair discipline: survivors commit to the corpus FIRST,
    * then their band rows; a crash in between leaves the band store
    * lagging, which construction-time repair (one O(corpus) anti-join
    * over ids, NO re-decode — the stored `sig` column re-bands
    * deterministically) backfills; a replayed trigger's rows are
    * hamming-0 duplicates of their own previous append and are
    * absorbed. Probe cost per trigger: batch-side banding, one id-sized
    * band-key collect, one routed point probe (I/O ∝ matching band
    * values), a candidate-bounded `bit_count(xor)` verify — the corpus
    * never rescans. Same one-stream-per-model and
    * unique-ids-within-a-batch contracts as every ingest sink;
    * deletions go through [[sigBandForget]].
    */
  def corpusIngestMediaSink(docs: DataFrame,
                            frag: graft.runtime.KeyedFragmentStore,
                            rejectsFrag: graft.runtime.KeyedFragmentStore,
                            bandStore: graft.runtime.BucketedFragmentStore,
                            maxDist: Int,
                            bands: Int = 8,
                            compactEvery: Long = 0L): DataStreamWriter[Row] = {
    require(bandStore.routeCol == "band_key",
      s"bandStore must route on band_key, not '${bandStore.routeCol}'")
    require(maxDist <= bands - 1,
      s"$bands-chunk pigeonhole only guarantees recall for maxDist <= ${bands - 1}")
    repairSigBandStore(frag, bandStore, bands)
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val r = graft.ext.IngestOps.mediaIngestBatch(
          keys => bandStore.readRouted(keys), batch, maxDist, bands)
        // release the trigger's pinned lineage only AFTER both commits —
        // an earlier ancestor unpersist cascades into the survivor cache
        // and re-decodes the batch per commit (the decode-once claim) —
        // but ALWAYS release (ADVICE r15: a failing commit outside
        // try/finally leaked the pinned batch with its full media
        // payloads, accumulating across in-process query restarts)
        try {
          // batch-sized fragments commit as ONE task → ONE file (the L0
          // trade every sink here makes); rejects write light — their
          // only read path is ops inspection, never a key-pruned probe
          if (!r.rejects.isEmpty) rejectsFrag.upsertLight(r.rejects.coalesce(1))
          if (!r.survivors.isEmpty) {
            // corpus first (truth), then the band index — see scaladoc
            frag.upsert(r.survivors.coalesce(1))
            val bandRows = graft.ext.IngestOps.bandRowsOfSigs(
              r.survivors.select("doc_id", "sig"), bands)
            // plain upsert (stats-bearing): the probe is readRouted —
            // exact LWW point reads, the zone-mapped shape
            if (!bandRows.isEmpty) bandStore.upsert(bandRows.coalesce(1))
          }
        } finally r.unpersistAll()
        if (compactEvery > 0) {
          // staggered maintenance, the banded sink's pattern
          val phase = batchId % compactEvery
          if (phase == compactEvery - 1) { cadenceFold(frag); cadenceFold(rejectsFrag) }
          if (phase == (compactEvery / 2) % compactEvery) {
            bandStore.maybeCompact(2)
            ()
          }
        }
        ()
    }
  }

  /** One-time (construction / migration / crash-recovery) repair of a
    * sig-banded sink's band store ([[corpusIngestMediaSink]] and
    * [[corpusIngestSimHashBandedSink]] share it — any corpus carrying a
    * 64-bit `sig` column): the band rows the store is missing,
    * recomputed from the corpus's STORED `sig` column — one O(corpus)
    * anti-join, zero re-decode/re-tokenize, paid once.
    *
    * Granularity is the band ROW (`__bk` = "chunk:doc"), not the doc
    * (ADVICE r15): [[graft.runtime.BucketedFragmentStore.upsert]]
    * adopts per bucket, so a kill -9 mid-upsert can leave a doc with a
    * PARTIAL band-row set. A doc-granularity repair skipped any doc
    * with ≥1 surviving band row, and the doc's own replay hamming-0
    * drops against that surviving row — the missing chunk rows were
    * never rewritten and pigeonhole recall (`maxDist ≤ bands-1` needs
    * all `bands` chunks indexed) silently degraded forever. Anti-join
    * on `__bk` backfills exactly the missing chunk rows; re-upserting
    * an existing `__bk` is LWW-idempotent. NULL-sig corpus rows
    * (signal-less media) produce no band rows, matching their ingest
    * behavior. Idempotent.
    */
  def repairSigBandStore(frag: graft.runtime.KeyedFragmentStore,
                           bandStore: graft.runtime.BucketedFragmentStore,
                           bands: Int = 8): Unit =
    frag.read().foreach { corpus =>
      val signed = corpus.select("doc_id", "sig").filter(col("sig").isNotNull)
      // Steady-state cheapness (ADVICE r16): expanding the FULL corpus
      // to band rows costs a bands× blowup + shuffle anti-join on every
      // construction and cadence invocation, even when nothing is
      // missing. Pre-filter to the docs that can actually need repair:
      // a doc with exactly `bands` stored band rows is complete (__bk =
      // "chunk:doc" is store-unique and a doc's sig — hence its band
      // keys — is immutable by the route contract, so count == bands ⟺
      // every chunk row present). The count is one grouped pass over
      // the band store's doc_id column; only the incomplete docs' rows
      // are expanded and anti-joined. Nothing-missing repairs now cost
      // a grouped scan instead of a corpus-wide blowup.
      val needy = bandStore.read() match {
        case None     => signed
        case Some(bs) =>
          val complete = bs.groupBy(col("doc_id"))
            .agg(count(lit(1)).as("__band_n"))
            .filter(col("__band_n") === bands).select("doc_id")
          signed.join(complete, Seq("doc_id"), "left_anti")
      }
      if (!needy.isEmpty) {
        val expected = graft.ext.IngestOps.bandRowsOfSigs(needy, bands)
        val missing = bandStore.read() match {
          case None     => expected
          case Some(bs) =>
            expected.join(bs.select("__bk"), Seq("__bk"), "left_anti")
        }
        if (!missing.isEmpty) bandStore.upsert(missing)
      }
    }

  /** TEXT ingest through the cheap SimHash rung (VERDICT r14 task 5,
    * sink form): per trigger, sign the batch with the 64-bit
    * distinct-token SimHash and drop rows whose signature
    * hamming-verifies within `maxDist` against the persisted
    * [[graft.ext.IngestOps.bandRowsOfSigs]] store
    * ([[graft.ext.IngestOps.appendDedupSimHashRoutedCounted]]);
    * survivors commit corpus-FIRST (with the `sig` column riding — 8
    * bytes/doc is the ENTIRE dedup state), then their band rows. This
    * is the toks-store-free first rung for crawl-scale text: catches
    * re-crawls, re-serializations (hamming 0 under any whitespace
    * change) and ≤`maxDist`-ish token edits at ~1/40th the per-doc
    * state of [[corpusIngestNearDupBandedSink]], which remains the
    * precise Jaccard-verified second rung. Same crash discipline as
    * the media sink (shared [[repairSigBandStore]] construction repair
    * from the stored sig column and [[sigBandForget]] deletion);
    * replayed triggers are hamming-0 dups of their own previous append
    * and are absorbed.
    */
  def corpusIngestSimHashBandedSink(docs: DataFrame,
                                    frag: graft.runtime.KeyedFragmentStore,
                                    bandStore: graft.runtime.BucketedFragmentStore,
                                    maxDist: Int = 3,
                                    bands: Int = 8,
                                    compactEvery: Long = 0L): DataStreamWriter[Row] = {
    require(bandStore.routeCol == "band_key",
      s"bandStore must route on band_key, not '${bandStore.routeCol}'")
    require(maxDist <= bands - 1,
      s"$bands-chunk pigeonhole only guarantees recall for maxDist <= ${bands - 1}")
    repairSigBandStore(frag, bandStore, bands)
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val r = graft.ext.IngestOps.appendDedupSimHashRoutedCounted(
          keys => bandStore.readRouted(keys), batch, maxDist, bands)
        // finally: a failing commit must not leak the trigger's pinned
        // lineage across in-process query restarts (ADVICE r15)
        try {
          if (!r.survivors.isEmpty) {
            frag.upsert(r.survivors.coalesce(1))
            val bandRows = graft.ext.IngestOps.bandRowsOfSigs(
              r.survivors.select("doc_id", "sig"), bands)
            if (!bandRows.isEmpty) bandStore.upsert(bandRows.coalesce(1))
          }
        } finally r.unpersistAll()
        if (compactEvery > 0) {
          val phase = batchId % compactEvery
          if (phase == compactEvery - 1) cadenceFold(frag)
          if (phase == (compactEvery / 2) % compactEvery) {
            bandStore.maybeCompact(2)
            ()
          }
        }
        ()
    }
  }

  /** Right-to-be-forgotten for a sig-banded sink's corpus + band pair
    * (shared by [[corpusIngestMediaSink]] and
    * [[corpusIngestSimHashBandedSink]]).
    * Band rows route by `band_key`, which encodes the signature's chunk
    * values — so their tombstones are recomputed from the corpus's
    * stored `sig` column (banding is deterministic, no re-decode)
    * BEFORE the corpus rows go. Order: bands first, corpus last — a
    * crash mid-way leaves the corpus row live, every retry re-finds its
    * sig and the delete re-applies; the reverse order would strand the
    * sig needed to address the band rows. Same caller-must-retry
    * contract, repair interplay, and tombstones-shadow-not-erase
    * retention note as [[nearDupForget]] — pair forgets with a
    * compaction cadence where erasure is mandated. Idempotent.
    */
  def sigBandForget(frag: graft.runtime.KeyedFragmentStore,
                  bandStore: graft.runtime.BucketedFragmentStore,
                  keys: DataFrame,
                  bands: Int = 8,
                  maxIsin: Int = graft.ext.IngestOps.DefaultMaxIsin): Unit = {
    val ks = keys.select(col("doc_id")).distinct().persist()
    try {
      // isin-regime switch (VERDICT r15 task 3, collect bounded r17):
      // a forget batch is request-bounded, but the guard is mechanical
      // like every other probe site — below `maxIsin` the literal list
      // pushes into the fragment scan; above it, a 10⁵-key GDPR batch
      // would bloat the probe PLAN, so switch to the broadcast-semi-join
      // cluster fallback (O(corpus) scan, literal-free plan). The
      // collect is LIMIT-bounded so the regime DECISION never lands the
      // full key set in driver memory (VERDICT r16 finding #1 — the
      // embed replay probe's idiom): at or below `maxIsin` the limited
      // result IS the complete set and drives the literal probe; one
      // row over means fallback, decided without materializing the
      // rest. Regime equality is pinned by MediaSinkSpec across a tiny
      // threshold.
      val ids = ks.limit(maxIsin + 1).collect().map(_.get(0)).toSeq
      val corpusHits =
        if (ids.size <= maxIsin)
          frag.readWhere(col("doc_id").isin(ids: _*))
        else frag.read().map(_.join(broadcast(ks), Seq("doc_id"), "left_semi"))
      corpusHits.foreach { corpusRows =>
          val bandRows = graft.ext.IngestOps.bandRowsOfSigs(
            corpusRows.select("doc_id", "sig")
              .join(broadcast(ks), Seq("doc_id"), "left_semi"), bands)
          if (!bandRows.isEmpty)
            bandStore.deleteKeys(bandRows.select(col("__bk"), col("band_key")))
        }
      frag.deleteKeys(ks)
    } finally { ks.unpersist(false); () }
  }

  /** Right-to-be-forgotten for the banded sink's table triple: delete
    * `keys` from the corpus, signature store, and band store in one
    * call. Band rows route by `band_key`, so their tombstones need the
    * stored signatures — recomputed here from `sigStore` (banding is
    * deterministic) BEFORE the signature rows go. Order: bands, sigs,
    * corpus — a crash mid-way leaves the corpus row live and every
    * retry finds it, so the delete re-applies; the reverse order would
    * orphan band rows whose signatures are already gone.
    *
    * '''API CONTRACT — the caller MUST retry until this method returns
    * normally.''' This is a right-to-be-forgotten surface and a single
    * crashed invocation deletes NOTHING durably: a crash after the band
    * delete but before the sig/corpus deletes leaves the doc fully live
    * in the corpus, and the next sink restart's
    * [[repairNearDupSideTables]] — correctly — re-derives and re-inserts
    * the just-deleted band rows from the still-live signature/corpus
    * rows. That is the designed behavior (repair must heal exactly this
    * half-state for docs that were never forgotten), which is why the
    * forget obligation sits with the caller: re-issue the same key set
    * until one call completes, after which every table in the triple has
    * the tombstone and no repair can resurrect the doc. Idempotent —
    * retrying a completed forget is a no-op. Gated by
    * FragmentedSinkSpec's crash-between-deletes case.
    *
    * '''RETENTION — tombstones shadow, they do not erase.''' A completed
    * forget makes the doc invisible to every merged read, but its bytes
    * (doc_id + MinHash band keys) stay in the fragment files until a
    * physical compaction folds with purge — and the banded sink's probe
    * reads via [[graft.runtime.BucketedFragmentStore.readRoutedSuperset]],
    * which by design resurfaces tombstone-shadowed rows (correctness
    * holds: the exact sig-store verify drops such candidates; but the
    * forgotten doc's derived band rows remain live-READABLE there). With
    * `compactEvery = 0` that residue is indefinite. Deployments with a
    * deletion-erasure obligation must pair forgets with a compaction
    * cadence (`compactEvery > 0`, or a scheduled
    * [[graft.runtime.BucketedFragmentStore.compact]] / targeted purge of
    * the affected buckets) so forgotten bytes leave disk within the
    * mandated window.
    */
  def nearDupForget(frag: graft.runtime.KeyedFragmentStore,
                    sigStore: graft.runtime.BucketedFragmentStore,
                    bandStore: graft.runtime.BucketedFragmentStore,
                    keys: DataFrame,
                    numHashes: Int = 32, bands: Int = 8,
                    maxIsin: Int = graft.ext.IngestOps.DefaultMaxIsin): Unit = {
    val ks = keys.select(col("doc_id")).distinct().persist()
    try {
      // isin-regime switch (VERDICT r15 task 3, collect bounded r17):
      // mirror of the ingest verify closure's rule — small forget
      // batches push the literal into the scan, large ones take the
      // routed bucket union (the sig store is doc_id-routed, same as
      // the ingest probe at the appendDedupNearDupRoutedCounted call
      // site). The collect is LIMIT-bounded so the regime DECISION
      // never lands the full key set in driver memory (VERDICT r16
      // finding #1), and the over-threshold routing derives its bucket
      // set DISTRIBUTIVELY from the keys frame (readRoutedFrame: the
      // only collect there is the distinct bucket-pair set, bounded by
      // the bucket count) instead of from a driver-side id list.
      // Regime equality is pinned by FragmentedSinkSpec across a tiny
      // threshold.
      val ids = ks.limit(maxIsin + 1).collect().map(_.get(0)).toSeq
      val sigHits =
        if (ids.size <= maxIsin)
          sigStore.readWhere(col("doc_id").isin(ids: _*))
        else sigStore.readRoutedFrame(ks)
      sigHits.foreach { sigRows =>
          val bandRows = graft.ext.IngestOps.bandRowsOf(
            sigRows.join(broadcast(ks), Seq("doc_id"), "left_semi"),
            bands, numHashes / bands)
          if (!bandRows.isEmpty)
            bandStore.deleteKeys(bandRows.select(col("__bk"), col("band_key")))
        }
      sigStore.deleteKeys(ks)
      frag.deleteKeys(ks)
    } finally { ks.unpersist(false); () }
  }

  /** EMBEDDING-modality continuous ingest: the
    * [[corpusIngestFragmentedSink]] bridge for vector corpora — each
    * micro-batch drops vectors whose cosine similarity to the corpus
    * store `frag` reaches `threshold` (within-batch greedy removal
    * first), then appends survivors as one new fragment
    * ([[graft.ext.IngestOps.appendDedupEmbeddings]]: the batch
    * broadcasts into the merged corpus read — exact screening, no corpus
    * shuffle). Replay idempotency is the table's: a redelivered vector
    * is a cosine-1.0 duplicate of its own previous fragment and survives
    * nothing. For large batches swap the exact screen for the indexed
    * probe ([[corpusIngestEmbedVectorIndexSink]]).
    */
  def corpusIngestEmbedFragmentedSink(vecs: DataFrame,
                                      frag: graft.runtime.KeyedFragmentStore,
                                      threshold: Double,
                                      compactEvery: Long = 0L): DataStreamWriter[Row] =
    vecs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val survivors = frag.read() match {
          case None => graft.ext.DedupOps.removeNearDups(batch,
            graft.ext.SimilarityOps.cosinePairs(batch, threshold),
            idCol = "vec_id", dropCol = "vec_b")
          case Some(prior) =>
            graft.ext.IngestOps.appendDedupEmbeddings(prior, batch, threshold)
        }
        if (!survivors.isEmpty) frag.upsert(survivors)
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          cadenceFold(frag)
        ()
    }

  /** The INDEXED scale path of [[corpusIngestEmbedFragmentedSink]] —
    * "swap the exact screen for an index probe when batches grow large",
    * wired end-to-end over the unified ANN front door
    * ([[graft.ext.VectorIndex]]). The rung comes from `profile`: brute,
    * IVF, SQ8 (an ADC scan over the code table with an exact refine of
    * only |batch|·shortlist candidates), IVF-PQ or HNSW all get the same
    * streaming maintenance loop through this one sink. Per trigger:
    * within-batch exact screen, id-level replay absorption, the rung's
    * `search(k=1)` near-dup check at `threshold`, O(batch) `append` of
    * survivors to BOTH the fragment corpus and the index, and — when the
    * rung's drift report fires (SQ8: clamped values outside the trained
    * ranges) — an in-place `maintain()` (retrain/compact, the scheduled
    * O(corpus) trade every rung documents).
    *
    * The rung is SELECTED AT BOOTSTRAP from the first surviving batch
    * (pass an explicit `exactFloor`/`serving` to pin it); a later FULL
    * `maintain()` re-selects it against the grown corpus. Approximate
    * rungs screen approximately: a true near-dup the probe misses
    * survives ingestion (recall gated per rung; raise the profile's
    * `shortlist` / `nprobe` to buy it back). Crash repair: a corpus ahead of the index
    * (died between `frag.upsert` and the index append) is healed by an
    * id-anti-join append of exactly the unindexed rows; a lost index
    * rebuilds from the merged corpus. Same single-writer topology;
    * `indexPath` is owned by this sink.
    */
  def corpusIngestEmbedVectorIndexSink(vecs: DataFrame,
                                       frag: graft.runtime.KeyedFragmentStore,
                                       indexPath: String,
                                       profile: graft.ext.IndexProfile,
                                       threshold: Double,
                                       compactEvery: Long = 0L,
                                       maxIsin: Int = graft.ext.IngestOps.DefaultMaxIsin): DataStreamWriter[Row] = {
    // Repair runs at CONSTRUCTION and then only on the compaction
    // cadence — not per trigger. The r12 embed soak measured the
    // per-trigger form (corpus↔indexedIds anti-join, O(corpus)) as a
    // 3.9 → 4.8 s latency ramp over its first 80 sf1 triggers. Under
    // the single-writer topology a corpus-ahead-of-index gap can only
    // arise from a crash (healed here, at restart) or an out-of-band
    // corpus write (healed at the next cadence tick); within a healthy
    // stream the trigger body keeps the pair in sync by construction.
    repairEmbedIndexGap(frag, indexPath, profile)
    vecs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import graft.ext.VectorIndex
        def idxExists = new java.io.File(s"$indexPath/kind").exists()
        val cadenceTick =
          compactEvery > 0 && batchId % compactEvery == compactEvery - 1
        if (cadenceTick) repairEmbedIndexGap(frag, indexPath, profile)
        val batchDeduped = graft.ext.DedupOps.removeNearDups(batch,
          graft.ext.SimilarityOps.cosinePairs(batch, threshold),
          idCol = "vec_id", dropCol = "vec_b").persist()
        val survivors =
          if (frag.read().isEmpty) batchDeduped
          else {
            // id-level replay absorption as a POINT PROBE: batch ids are
            // bounded by contract, so collect them and key-probe the
            // corpus (bucket routing + key-pushdown scan — I/O ∝ batch)
            // instead of anti-joining the whole corpus per trigger.
            // The collect is LIMIT-bounded to decide the regime
            // (VERDICT r15 task 3): at or below DefaultMaxIsin the
            // result IS the full id set and drives the literal probe;
            // one row over means a huge batch, which switches to the
            // broadcast-semi-join cluster fallback so the probe plan
            // never embeds 10⁵ literals. Regime equality is pinned by
            // StreamingSpec across a tiny `maxIsin`.
            val batchIds = batchDeduped.select(col("vec_id"))
              .where(col("vec_id").isNotNull).distinct()
              .limit(maxIsin + 1).collect().map(_.get(0)).toSeq
            val fresh =
              if (batchIds.isEmpty) batchDeduped
              else if (batchIds.size <= maxIsin) {
                val liveIds: Seq[Any] =
                  frag.readWhere(col("vec_id").isin(batchIds: _*)) match {
                    case None => Nil
                    case Some(hit) => hit.select(col("vec_id"))
                      .collect().map(_.get(0)).toSeq
                  }
                // NULL vec_id rows pass (isin's three-valued negation
                // would silently drop them) — parity with the corpus
                // anti-join and appendDedupExactRouted's null-keep rule
                if (liveIds.isEmpty) batchDeduped
                else batchDeduped.filter(
                  col("vec_id").isNull || !col("vec_id").isin(liveIds: _*))
              } else frag.read() match {
                // cluster fallback: O(corpus) scan, literal-free plan —
                // live ids come off a broadcast semi-join, and the
                // anti-join keeps NULL vec_id rows by join semantics
                // (no equality match → row kept)
                case None => batchDeduped
                case Some(corpus) =>
                  val live = corpus.select(col("vec_id")).join(
                    broadcast(batchDeduped.select(col("vec_id"))
                      .where(col("vec_id").isNotNull).distinct()),
                    Seq("vec_id"), "left_semi")
                  batchDeduped.join(live, Seq("vec_id"), "left_anti")
              }
            if (!idxExists) {
              frag.read().foreach(c =>
                VectorIndex.build(c, indexPath, profile))
              ()
            }
            val idx = VectorIndex.load(spark, indexPath)
            val hits = idx.search(fresh, k = 1)
              .filter(col("sim") >= threshold)
              .select(col("query_id").as("vec_id")).distinct()
            fresh.join(broadcast(hits), Seq("vec_id"), "left_anti")
        }
        // finally (ADVICE r15): a failing commit must not leak the
        // trigger's pinned batch across in-process query restarts
        try { if (!survivors.isEmpty) {
          // pin the batch: the survivors plan embeds index state (the
          // tombstone anti-join inside search) whose files a resurrect
          // maintain below DELETES — the index append re-executes the
          // plan, so its lineage must not reach back to removed files.
          // Also saves re-running the whole dedup screen per consumer.
          val pinned = survivors.localCheckpoint()
          frag.upsert(pinned.coalesce(1))
          if (!idxExists) { VectorIndex.build(pinned, indexPath, profile); () }
          else {
            val idx = VectorIndex.load(spark, indexPath)
            // RESURRECTION: a survivor whose id is still tombstoned in
            // the index (deleted, then re-ingested before any purge)
            // cannot append — the rung tables still hold its old row.
            // The corpus upsert above already committed it, so purge
            // NOW (maintain clears the tombstones) and then append the
            // whole batch; appending around it instead would leave the
            // id live-in-corpus but unsearchable until some later
            // maintain.
            val resurrecting = idx.deletedIds.exists(d =>
              !pinned.select(col("vec_id")).join(d, Seq("vec_id"), "left_semi")
                .isEmpty)
            if (resurrecting) idx.maintain()
            // drift OR deletion pressure: both resolve to the scheduled
            // maintain (purge = false — the serving rung answers it
            // with logarithmic segment merges and only escalates to the
            // O(corpus) compact under deletion pressure; every other
            // rung retrains exactly as before). The pressure probe
            // costs a tombstone read + corpus count, so it rides the
            // compaction cadence, not every trigger.
            if (idx.append(pinned).maintenanceRecommended ||
                (cadenceTick && idx.maintenanceDue())) idx.maintain(purge = false)
          }
        } } finally { batchDeduped.unpersist(false); () }
        if (cadenceTick) cadenceFold(frag)
        ()
    }
  }

  /** Heal a corpus-ahead-of-index gap for the facade embed sink: build
    * the index from the corpus when missing, else append exactly the
    * unindexed rows (id anti-join against the FULL indexed id set —
    * a tombstoned-but-unpurged id is present, and "repairing" it via
    * append would be rejected). One O(corpus) pass; called at sink
    * construction and on the compaction cadence, never per trigger.
    */
  private def repairEmbedIndexGap(frag: graft.runtime.KeyedFragmentStore,
                                  indexPath: String,
                                  profile: graft.ext.IndexProfile): Unit =
    frag.read().foreach { corpus =>
      import graft.ext.VectorIndex
      if (!new java.io.File(s"$indexPath/kind").exists()) {
        VectorIndex.build(corpus, indexPath, profile); ()
      } else {
        val repair = VectorIndex.load(corpus.sparkSession, indexPath)
        val unindexed = corpus.join(repair.indexedIds, Seq("vec_id"), "left_anti")
        if (!unindexed.isEmpty) { repair.append(unindexed); () }
      }
    }

  /** Streaming exact dedup — the ingest front door: emit each content
    * fingerprint's FIRST-SEEN row, drop every later duplicate, across
    * micro-batch boundaries (state holds one entry per distinct
    * fingerprint — the same cardinality the batch dedup shuffles, held
    * as state instead). Append semantics. NB the batch [[graft.ext.DedupOps.dedupExact]]
    * keeps the LOWEST id per fingerprint; a stream has no retrospect, so
    * first-seen is the streaming analog — they coincide exactly when
    * arrival order is id order (the usual append-only ingest).
    *
    * Unbounded corpora should bound the state with
    * [[dedupExactStreamBounded]]: dedup is then exact only within the
    * watermark horizon — the standard trade once "all history" no longer
    * fits state.
    */
  def dedupExactStream(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("__fp", graft.ext.TextOps.fingerprint(col(textCol)))
      .dropDuplicates("__fp")
      .drop("__fp")

  /** Watermark-bounded variant: exact within `delay` of the max seen
    * `tsCol`; state entries expire past the horizon.
    */
  def dedupExactStreamBounded(docs: DataFrame, tsCol: String, delay: String,
                              textCol: String = "text"): DataFrame =
    docs.withColumn("__fp", graft.ext.TextOps.fingerprint(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming funnel progress — sequential pattern matching per user
    * with HONEST out-of-order handling: an event may only advance the
    * user's stage machine once the watermark guarantees nothing earlier
    * can still arrive. Each trigger buffers its events in state; events
    * at-or-below the current watermark are drained in event-time order
    * through the machine (stage k+1 requires its event strictly after
    * the stage-k time and within `windowMicros` of it — exactly
    * [[graft.ext.EventOps.funnelCounts]]'s contract); later events stay
    * buffered. An event-time timeout set to the newest buffered event
    * guarantees a final drain even if the user never appears again.
    *
    * `delay` is the allowed-lateness contract, enforced by the runtime
    * BEFORE this operator: an event arriving more than `delay` behind
    * the stream's max event time is dropped by the watermark, exactly
    * as in every other stateful path here — choose `delay` at least the
    * maximum expected disorder, because within it ordering is fully
    * repaired and beyond it events never reach the machine
    * (StreamingSpec pins batch-equivalence under whole-stream shuffling
    * with a delay spanning the disorder).
    *
    * Emits one row per stage ADVANCE (append semantics — an advance,
    * once emitted, can never be retracted because only watermark-mature
    * events drive it). State per user is the stage machine plus only
    * the not-yet-mature buffer — bounded by the user's events inside
    * the watermark delay, not history.
    */
  def funnelProgress(events: Dataset[FunnelEvent], stages: Seq[String],
                     windowMicros: Long,
                     delay: String = "10 seconds"): Dataset[FunnelAdvance] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val session = events.sparkSession
    import session.implicits._

    def drain(key: Long, st: FunnelState, wmMicros: Long):
        (FunnelState, List[FunnelAdvance]) = {
      val (mature, pending) = st.buffer.partition(_._1 <= wmMicros)
      var stage = st.stage
      var stageTs = st.stageTs
      val out = scala.collection.mutable.ListBuffer[FunnelAdvance]()
      mature.sortBy(identity).foreach { case (ts, tpe) =>
        if (stage < 0) {
          if (tpe == stages.head) {
            stage = 0; stageTs = ts
            out += FunnelAdvance(key, 0, stages.head, ts)
          }
        } else if (stage + 1 < stages.length && tpe == stages(stage + 1) &&
            ts > stageTs && ts - stageTs <= windowMicros) {
          stage += 1; stageTs = ts
          out += FunnelAdvance(key, stage, stages(stage), ts)
        }
      }
      (FunnelState(pending, stage, stageTs), out.toList)
    }

    events
      .withWatermark("ts", delay)
      .groupByKey(_.userId)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val prior = state.getOption.getOrElse(FunnelState(Nil, -1, 0L))
          val buffered = prior.copy(
            buffer = prior.buffer ++ it.map(e => (unixMicrosOf(e.ts), e.eventType)))
          val wm = state.getCurrentWatermarkMs() * 1000L
          val (next, out) = drain(key, buffered, wm)
          state.update(next)
          // a timer at the newest buffered event fires once the watermark
          // passes it, draining stragglers without another arrival
          next.buffer.map(_._1).maxOption.foreach { newest =>
            state.setTimeoutTimestamp(newest / 1000L + 1L)
          }
          out.iterator
      }
  }

  private def unixMicrosOf(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  /** Stream-STREAM windowed attribution join: every (purchase, click)
    * pair for the same user with the click inside `[purchase.ts −
    * lookback, purchase.ts]` — two live streams joined on key + an
    * event-time range, the Structured Streaming feature the rest of the
    * matrix (stream-static enrich, stateful aggs, session windows,
    * state machines) doesn't exercise. The time-range condition is what
    * BOUNDS the join state: each side holds only rows the other side's
    * watermark could still match (purchases expire after `delay`,
    * clicks after `delay` + lookback — Spark derives both from the
    * range predicate), so state is ∝ rate · window, never history.
    * Inner-join rows emit as soon as both inputs arrive; late rows past
    * `delay` are dropped by the usual allowed-lateness contract.
    *
    * `purchases` must carry (user_id, event_id, ts); `clicks`
    * (user_id, event_id, ts). Emits (purchase_id, click_id, user_id,
    * lag_us ≥ 0).
    */
  def attributionPairsStream(purchases: DataFrame, clicks: DataFrame,
                             lookbackMinutes: Int,
                             delay: String = "10 minutes",
                             joinType: String = "inner"): DataFrame = {
    val p = purchases
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
      .withWatermark("ts", delay)
    val c = clicks
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", delay)
    // left_outer: an unmatched purchase emits its null-click row only
    // once BOTH watermarks prove no future click can still match — the
    // runtime's state-expiry semantics, which is exactly when "this
    // purchase had no attributable click" becomes a fact
    p.join(c,
        col("user_id") === col("c_user_id") &&
          col("c_ts") <= col("ts") &&
          col("c_ts") >= col("ts") - expr(s"INTERVAL $lookbackMinutes MINUTES"),
        joinType)
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_micros(col("ts")) - unix_micros(col("c_ts"))).as("lag_us"))
  }

  /** Streaming sessionization: the continuous form of
    * [[graft.ext.EventOps.sessionSummary]] via `session_window` — Spark
    * merges per-key event windows that overlap within `gapMinutes`, ACROSS
    * micro-batches, and finalizes a session once the watermark passes its
    * close (append mode), so state is bounded by OPEN sessions only, not
    * history. Emits the batch rollup's columns minus `session_idx` (a
    * stream cannot number a user's sessions 1..k without total history;
    * the (start, end) pair is the session identity here).
    *
    * Boundary convention: `session_window` merges on gap < threshold
    * (half-open event windows), the batch op on gap <= threshold — the
    * two differ ONLY for an event landing exactly `gapMinutes` after its
    * predecessor, measure-zero at µs resolution (the fixtures contain no
    * such tie; SessionStreamSpec pins fixture equivalence).
    */
  def sessionRollup(events: DataFrame, gapMinutes: Int, delay: String = "1 hour",
                    userCol: String = "user_id", tsCol: String = "ts",
                    typeCol: String = "event_type"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), s"$gapMinutes minutes"), col(userCol))
      .agg(
        min(unix_micros(col(tsCol))).as("session_start_us"),
        max(unix_micros(col(tsCol))).as("session_end_us"),
        count(lit(1)).as("n_events"),
        sum(when(col(typeCol) === "purchase", 1L).otherwise(0L)).as("n_purchases"))
      .select(col(userCol), col("session_start_us"), col("session_end_us"),
        col("n_events"), col("n_purchases"))
}

/** One attribution-relevant event (typed for the stateful path). */
case class TouchEvent(domainUserid: String, eventId: String, paidRank: Int,
                      tstampMicros: Long, mktCampaign: String)

/** One funnel-relevant event (typed for the stateful funnel path). */
case class FunnelEvent(userId: Long, ts: java.sql.Timestamp, eventType: String)

/** Stage machine + not-yet-watermark-mature buffer for one user. */
case class FunnelState(buffer: List[(Long, String)], stage: Int, stageTs: Long)

/** One emitted stage advancement. */
case class FunnelAdvance(userId: Long, stageIdx: Int, stage: String, tsMicros: Long)
