package graft.runtime

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Paths}

/** Incremental materialization (SURVEY §2.10, S4/S5 + A4).
  *
  * Reproduces dbt's `materialized='incremental', unique_key='id'`
  * delete+insert strategy (reference config blocks:
  * traffic_daily_agg.sql:2-6, traffic_pages_agg.sql:1-5,
  * lead_activities_agg.sql:2-6):
  *
  *  1. First run (no prior output) → full build, plain write (CTAS).
  *  2. Subsequent runs → model fn receives the prior output (for its
  *     high-watermark filters, Filters.watermark) and produces the fresh
  *     batch; rows whose `id` matches an existing row REPLACE it, others
  *     append: `prior left_anti fresh on id` ∪ fresh.
  *
  * Parquet has no MERGE, so each run writes a fresh VERSIONED dir
  * (`<model>__v_<uuid>` — two concurrent materializes of one model can
  * never clobber each other's in-flight bytes) and COMMITS it through a
  * MANIFEST POINTER: `<model>.current` is a one-line file naming the
  * live version dir, replaced by an atomic same-directory rename. Every
  * read path resolves the pointer first, so there is NO window in which
  * the table "does not exist" — the minimal table-format commit
  * (single-table Iceberg-style), closing the cross-process reader seam
  * the previous rename-the-live-dir swap left open. Commit order inside
  * the swap monitor: (a) GC version dirs that are neither the published
  * version nor the new one (plus stale pointer temp files); (b) publish
  * the pointer. A crash at any point leaves either the old pointer
  * naming an intact dir (the new dir is an orphan the next commit GCs)
  * or the new pointer naming the new dir — never a dangling pointer.
  * The superseded version therefore survives at least one materialize
  * cycle: an uncoordinated cross-process reader that resolved it keeps
  * a full cycle to finish its scan (vs the sub-ms rename window
  * before); in-process readers pin tables with [[withSwapLock]] and
  * race nothing. Readers never GC.
  *
  * TIME TRAVEL: each commit also appends to a `<model>.versions` log
  * (seq → version dir, atomically rewritten in the commit window), and
  * the `keepVersions` knob widens GC's retention window past the
  * default 2, making [[history]]/[[readVersion]]/[[changesBetween]]
  * the single-table analog of Iceberg snapshot reads + a CDC change
  * feed: any retained commit is readable, and the key-level diff
  * between two commits is one full-outer join ([[ChangeFeed]]).
  *
  * STORED SCHEMA: [[commitVersion]] writes the version's schema
  * (`_graft_schema.json`, nullability relaxed the way Spark's file
  * source relaxes it on read) into the version dir BEFORE the pointer
  * flip, and every read of a version goes through [[readTable]] with it
  * as the user schema — so re-reading a table this class wrote costs no
  * parquet schema-inference job (the same trick [[FragmentedTable]]
  * plays with its manifest DDL). The leading underscore keeps Spark's
  * file listing from treating it as data. A version dir without the
  * file (windowed commits, or one written before the file existed)
  * reads by inference.
  *
  * [[materializeByDatePartition]] and the microbatch surface commit
  * through [[commitWindowedVersion]]: ordinary pointer-flip versions
  * whose partition entries are symlinks into a `<model>__windata`
  * store, so per-run data cost stays O(touched windows) while readers
  * get the same immutable-version guarantees as keyed upserts.
  *
  * [[materialize]] is serialized PER MODEL for its whole run — in-JVM
  * via a WRITER mutex per (canonical warehouse dir, model) (JVM-GLOBAL
  * companion registry, so even two Materializer instances on one
  * warehouse serialize) and cross-PROCESS via a blocking OS file lock
  * (`FileChannel.lock` on `<model>.lock`, gated by a per-key
  * ReentrantLock so same-thread nesting rides the hold count and
  * same-JVM threads block instead of tripping
  * OverlappingFileLockException). That is dbt's own contract (a model
  * never runs concurrently with itself), and it is what makes
  * concurrent callers SERIALIZABLE: each build reads the previous
  * winner's table as its prior instead of racing its prior scan against
  * another writer's commit. A SEPARATE swap monitor guards only the
  * commit window and [[withSwapLock]] readers — so a reader
  * pinning this table (a downstream streaming model) waits out a
  * pointer flip, never a multi-second build. Lock order everywhere:
  * writer mutex → file lock → swap monitor. The anti-join form shuffles
  * both sides by `id` once, which AQE sizes.
  */
final class Materializer(spark: SparkSession, baseDir: String,
                         keepVersions: Int = 2,
                         auditMode: PlanAudit.Mode = PlanAudit.Mode.Off) {
  require(keepVersions >= 2,
    s"keepVersions must be >= 2 (new + the version readers may still scan): $keepVersions")

  /** Scale lint on every frame this materializer is about to write
    * ([[PlanAudit.Mode]]): both model surfaces (DataFrame API and SQL
    * text) and every materialization strategy funnel through here. Runs
    * BEFORE any bytes land, so [[PlanAudit.Mode.Enforce]] refuses the
    * whole run — no version dir, no pointer flip — and a retry after
    * the fix starts clean.
    */
  private def auditGate(model: String, result: DataFrame): Unit =
    auditMode match {
      case PlanAudit.Mode.Off => ()
      case mode =>
        val report = PlanAudit.audit(result)
        val high = report.highSeverity
        if (high.nonEmpty) {
          val msg = s"plan audit refused model '$model': " +
            s"${high.size} high-severity finding(s)\n${report.render}"
          if (mode == PlanAudit.Mode.Enforce)
            throw new PlanAudit.PlanAuditException(msg, report)
          else org.slf4j.LoggerFactory.getLogger(classOf[Materializer])
            .warn(msg)
        }
    }

  /** Directory of the model's CURRENT table: the manifest-resolved
    * version dir. Safe to hand to `spark.read.parquet`; becomes stale
    * only after TWO subsequent materializes (see class doc). Throws if
    * the model was never committed.
    */
  def outPath(model: String): String =
    currentVersion(model).map(v => s"$baseDir/$v").getOrElse(
      throw new IllegalStateException(s"no committed table $model in $baseDir"))

  private def pointerPath(model: String): java.nio.file.Path =
    Paths.get(baseDir, model + ".current")

  /** Version-dir NAME the manifest currently publishes, if any. */
  private def currentVersion(model: String): Option[String] = {
    val p = pointerPath(model)
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  /** All of this model's version-dir names on disk (published, new,
    * or crash orphans). The `__v_` separator keeps prefix-sharing model
    * names (`m` vs `m__sigs`) from matching each other's versions.
    */
  private def versionDirs(model: String): Seq[String] =
    Option(new java.io.File(baseDir).list()).toSeq.flatten
      .filter(_.startsWith(model + "__v_"))

  // ── version log: the commit history behind time travel ──────────────
  // `<model>.versions` holds one "<seq> <dirName>" line per commit,
  // ascending; rewritten (temp + atomic rename) inside the swap monitor
  // at each commit, so it always lists exactly the RETAINED versions.
  // A reader in another process sees the old or the new log, never a
  // torn one. Seq numbers are monotone across rewrites (next = max + 1).
  private def logPath(model: String): java.nio.file.Path =
    Paths.get(baseDir, model + ".versions")

  private def readLog(model: String): Seq[(Long, String)] = {
    val p = logPath(model)
    if (!Files.exists(p)) Seq.empty
    else Files.readString(p).linesIterator.flatMap { line =>
      line.split(" ", 2) match {
        case Array(s, d) if s.forall(_.isDigit) && d.nonEmpty => Some((s.toLong, d))
        case _ => None
      }
    }.toSeq.sortBy(_._1)
  }

  private def writeLog(model: String, entries: Seq[(Long, String)]): Unit = {
    val tmp = Paths.get(baseDir,
      model + ".versions__tmp_" + java.util.UUID.randomUUID().toString)
    Files.writeString(tmp, entries.map { case (s, d) => s"$s $d" }.mkString("", "\n", "\n"))
    Files.move(tmp, logPath(model),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Committed versions still readable on disk, ascending by sequence
    * number. The retention window is `keepVersions` (constructor knob,
    * default 2 = the classic keep-one-generation contract); models
    * committed before the version log existed surface their history from
    * the first post-upgrade commit.
    */
  def history(model: String): Seq[(Long, String)] =
    readLog(model).filter { case (_, d) => Files.exists(Paths.get(baseDir, d, "_SUCCESS")) }

  /** Time travel: the model's table as of commit `seq` (from
    * [[history]]). Throws if that version was never committed or has
    * aged out of the retention window.
    */
  def readVersion(model: String, seq: Long): DataFrame =
    history(model).find(_._1 == seq) match {
      case Some((_, d)) => readTable(s"$baseDir/$d")
      case None => throw new IllegalArgumentException(
        s"version $seq of $model is not retained (have: " +
          s"${history(model).map(_._1).mkString(",")}; keepVersions=$keepVersions)")
    }

  /** Roll the model back to retained commit `seq`: the old version's
    * rows re-commit as a NEW version through the standard seam, so
    * history stays linear (the rollback is itself a commit, Iceberg's
    * rollback-as-new-snapshot convention), every GC/retention/pointer
    * invariant holds unchanged, and a later rollback-of-the-rollback is
    * just another commit. Costs one table rewrite — the same price as
    * any materialize on this layout. Throws (before any write) if `seq`
    * is not retained.
    */
  def rollback(model: String, seq: Long): DataFrame =
    writerLockFor(model).synchronized { withFileLock(model) {
      commitVersion(model, readVersion(model, seq))
    } }

  /** Key-level change feed between two retained commits — see
    * [[ChangeFeed.diff]] for the contract (insert/update rows carry the
    * post-image, delete rows the pre-image).
    */
  def changesBetween(model: String, fromSeq: Long, toSeq: Long,
                     uniqueKey: String): DataFrame =
    ChangeFeed.diff(readVersion(model, fromSeq), readVersion(model, toSeq), uniqueKey)

  /** Atomically replace the manifest pointer (write temp + rename —
    * readers see the old or the new content, never a partial file).
    */
  private def publishPointer(model: String, version: String): Unit = {
    val tmp = Paths.get(baseDir,
      model + ".current__tmp_" + java.util.UUID.randomUUID().toString)
    Files.writeString(tmp, version)
    Files.move(tmp, pointerPath(model),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // Two JVM-global lock levels per (canonical dir, model), shared by all
  // instances on one warehouse:
  //  - the WRITER mutex serializes whole materialize runs (dbt's
  //    model-never-runs-concurrently-with-itself contract);
  //  - the SWAP monitor guards only the pointer flip, so withSwapLock
  //    READERS wait microseconds for a swap, never minutes for a build.
  // Lock ORDER is writer → OS file lock → swap, everywhere.
  // The canonical key resolves symlinks (toRealPath): two aliases of one
  // warehouse must share monitors, or they would meet unsynchronized at
  // the same physical lock file and throw OverlappingFileLockException.
  private lazy val canonicalBase: String = {
    val p = Paths.get(baseDir)
    Files.createDirectories(p)
    p.toRealPath().toString
  }
  private def writerLockFor(model: String): Object =
    Materializer.writerLocks.computeIfAbsent(s"$canonicalBase/$model", _ => new Object)
  private def lockFor(model: String): Object =
    Materializer.swapLocks.computeIfAbsent(s"$canonicalBase/$model", _ => new Object)

  /** Run `f` holding the model's cross-process lock file (blocking OS
    * lock). A per-key ReentrantLock gates the acquisition: a nested call
    * on the SAME thread rides the held OS lock via the hold count, while
    * a second THREAD blocks on the gate — `FileChannel.lock` on a file
    * this JVM already holds would throw OverlappingFileLockException
    * rather than block, so the JVM-level gate must win before the
    * OS-level lock is touched.
    */
  private def withFileLock[T](model: String)(f: => T): T = {
    val gate = Materializer.fileLockGates.computeIfAbsent(
      s"$canonicalBase/$model", _ => new java.util.concurrent.locks.ReentrantLock())
    gate.lock()
    try {
      if (gate.getHoldCount > 1) f  // nested on this thread: OS lock already held
      else {
        Files.createDirectories(Paths.get(baseDir))
        val ch = java.nio.channels.FileChannel.open(
          Paths.get(s"$baseDir/$model.lock"),
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
        try { val l = ch.lock(); try f finally l.release() } finally ch.close()
      }
    } finally gate.unlock()
  }

  /** Run `f` holding the model's swap lock: no commit of this model can
    * interleave. Use to pin the table across a read that must not see a
    * mid-commit state (force the scan — collect/localCheckpoint — INSIDE
    * `f`; a lazy plan escapes the lock). Reads inside `f` take no other
    * lock, so a concurrent writer (writer mutex → file lock → this
    * monitor) only waits for `f` to finish.
    */
  def withSwapLock[T](model: String)(f: => T): T =
    lockFor(model).synchronized(f)

  def exists(model: String): Boolean =
    currentVersion(model).exists(v => Files.exists(Paths.get(baseDir, v, "_SUCCESS")))

  def readPrior(model: String): Option[DataFrame] =
    if (exists(model)) Some(readTable(outPath(model))) else None

  /** A version dir's table: read under its stored schema when the commit
    * recorded one (no inference job), by parquet schema inference
    * otherwise.
    */
  private def readTable(dir: String): DataFrame = {
    val stored = Paths.get(dir, Materializer.SchemaFile)
    if (!Files.exists(stored)) spark.read.parquet(dir)
    else spark.read.schema(DataType.fromJson(Files.readString(stored)).asInstanceOf[StructType])
      .parquet(dir)
  }

  /** [[FragmentedTable]] handle for `table` in this warehouse — the
    * O(batch)-per-upsert layout the streaming ingest sinks default to.
    * Same baseDir, so a deployment keeps one warehouse path for both
    * layouts; names must not collide with a Materializer model's.
    */
  def fragmented(table: String, uniqueKey: String): FragmentedTable =
    new FragmentedTable(spark, baseDir, table, uniqueKey)

  /** [[BucketedFragmentStore]] handle in this warehouse — the sharded
    * layout for corpora whose manifests / compaction / point lookups
    * need per-bucket bounds. Creates with `buckets` shards or validates
    * against the stored count on reopen.
    */
  def bucketedFragments(table: String, uniqueKey: String,
                        buckets: Int = 16): BucketedFragmentStore =
    BucketedFragmentStore(spark, baseDir, table, uniqueKey, buckets)

  /** Run one model incrementally. `build` receives the prior output (None
    * on first run) and returns the fresh batch, keyed by `uniqueKey`.
    * `onSchemaChange` is dbt's schema-drift knob ([[SchemaEvolution]]);
    * the default matches dbt's (`ignore`: batch-added columns are not
    * written, a batch-removed column errors) — and is indistinguishable
    * from the historical behavior while schemas agree.
    *
    * `incrementalPredicates` is dbt's merge-scan bound of the same name:
    * when set, ONLY prior rows matching every predicate participate in
    * the key match — rows outside the window bypass the anti-join
    * entirely (no shuffle for them; on a MERGE-capable store they would
    * not be touched at all). The standard use is a recency window
    * (`col("d") >= cutoff`) on a table whose old keys never recur. The
    * trade is dbt's own, documented there too: if a fresh batch DOES
    * carry a key whose prior row sits outside the window, that key
    * duplicates — the caller's promise is that it cannot happen.
    * Predicates that evaluate NULL count as outside the window.
    */
  def materialize(model: String, uniqueKey: String,
                  onSchemaChange: SchemaChange = SchemaChange.Ignore,
                  incrementalPredicates: Seq[org.apache.spark.sql.Column] = Nil)
                 (build: Option[DataFrame] => DataFrame): DataFrame =
    // SERIALIZED per model for the WHOLE run on the WRITER mutex (in-JVM)
    // + OS file lock (cross-process) — dbt's own contract: a model never
    // runs concurrently with itself. Serialization is what makes
    // concurrent callers' upserts apply in SOME order (each build reads
    // the previous winner's table as its prior) instead of racing the
    // prior scan against another writer's swap renames. The SWAP monitor
    // is taken only around the renames, so withSwapLock readers (e.g. a
    // downstream streaming model pinning this table) wait out a rename,
    // not a build.
    writerLockFor(model).synchronized { withFileLock(model) {
      val prior = readPrior(model)
      val fresh = build(prior)
      prior match {
        case None => commitVersion(model, fresh)
        case Some(old) =>
          val (oldA, freshA) = SchemaEvolution.align(old, fresh, onSchemaChange)
          // The fresh batch feeds the commit plan twice — pruned to the
          // key column for the anti-join and in full for the union.
          // Pinning it (persist across the one commit write) was
          // implemented and MEASURED SLOWER in r18: cached subplans are
          // excluded from AQE re-optimization by default
          // (canChangeCachedPlanOutputPartitioning=false), so the fresh
          // build lost its runtime broadcast-join conversions and
          // partition coalescing and paid columnar cache serialization
          // on top — q_model_daily_incr 2.50 s → 5.82 s, task time
          // 3.0 s → 37.4 s. The recompute is the cheaper evil: the key
          // branch is column-pruned to the key's own lineage, and both
          // branches plan under full AQE.
          //
          // Key multiplicity is irrelevant to a left_anti join, so the
          // key branch carries NO distinct() — the pre-r18 distinct cost
          // an exchange + aggregate per upsert (r18, plan-verified).
          val keys = freshA.select(uniqueKey)
          // NB: a using-join puts the key column first — re-select in
          // the aligned target column order so the output schema is
          // run-stable.
          val merged = incrementalPredicates match {
            case Nil => oldA.join(keys, Seq(uniqueKey), "left_anti")
            case ps =>
              val p = ps.reduce(_ && _)
              // exact complement split: in-window = p IS TRUE joins,
              // everything else (false OR null) passes through join-free
              oldA.filter(not(coalesce(p, lit(false))))
                .unionByName(oldA.filter(p).join(keys, Seq(uniqueKey), "left_anti"))
          }
          commitVersion(model,
            merged.unionByName(freshA)
              .select(freshA.columns.map(col).toIndexedSeq: _*))
      }
    } }

  /** dbt's `table` materialization: every run is a full refresh (CTAS)
    * — the prior output is never read, rows it had and the fresh build
    * lacks are GONE. Same serialization + versioned-commit seam as
    * [[materialize]]; this is the whole-table rewrite whose cost the
    * incremental strategies exist to avoid, correct whenever the model
    * is cheap or non-additive.
    */
  def materializeTable(model: String)(build: => DataFrame): DataFrame =
    writerLockFor(model).synchronized { withFileLock(model) {
      commitVersion(model, build)
    } }

  /** dbt's `incremental` WITHOUT a unique_key — the append strategy:
    * the fresh batch unions onto the prior with no key matching at all
    * (an event-log model, where every batch row is a new fact). Same
    * serialization + commit seam as [[materialize]]; the only difference
    * is the merge: prior ∪ fresh, no anti-join, so the rewrite never
    * shuffles — at scale the per-run cost is a read + append-style write
    * rather than a keyed merge.
    */
  def materializeAppend(model: String)
                       (build: Option[DataFrame] => DataFrame): DataFrame =
    writerLockFor(model).synchronized { withFileLock(model) {
      val prior = readPrior(model)
      val fresh = build(prior)
      val result = prior match {
        case None => fresh
        case Some(old) =>
          old.select(fresh.columns.map(col).toIndexedSeq: _*).unionByName(fresh)
      }
      commitVersion(model, result)
    } }

  /** Write `result` as a fresh version dir and flip the pointer to it —
    * the single commit seam every table-rewriting operation shares.
    * Must be called holding the model's writer mutex + file lock.
    */
  private def commitVersion(model: String,
                            result: DataFrame): DataFrame = {
    auditGate(model, result)
    // unique per invocation: even a writer that somehow bypasses the
    // locks (a crashed run's successor) can never clobber in-flight bytes
    val newName = model + "__v_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val newDir = s"$baseDir/$newName"
    try {
      result.write.mode(SaveMode.Overwrite).parquet(newDir)
      Files.writeString(Paths.get(newDir, Materializer.SchemaFile),
        FragmentedTable.relaxNullable(result.schema).json)
      publishCommit(model, newName)
    } catch {
      // a failed write must not orphan its version dir
      case e: Throwable => deleteRecursive(Paths.get(newDir)); throw e
    }
    readTable(outPath(model))
  }

  /** Publish a fully-written version dir: GC superseded state, advance
    * the log, flip the pointer — the swap-monitor tail of every commit
    * (shared by whole-dir [[commitVersion]] and the symlink-assembled
    * windowed commits).
    */
  private def publishCommit(model: String, newName: String): Unit =
    lockFor(model).synchronized {
      val prev = currentVersion(model)
      val log = readLog(model)
      val newSeq = (log.map(_._1) :+ 0L).max + 1
      // GC everything this commit supersedes BEFORE the pointer flip:
      // version dirs outside the retention window (crash orphans +
      // aged-out history) and stale pointer/log temps.
      // The retention window is the newest keepVersions-1 LOGGED
      // versions plus the new dir; `prev` is kept regardless (it is
      // what uncoordinated readers may still be scanning — normally
      // it IS the newest logged version, so this is a no-op).
      val keep = log.sortBy(-_._1).take(keepVersions - 1).map(_._2).toSet ++
        prev + newName
      versionDirs(model)
        .filterNot(keep)
        .foreach(n => deleteRecursive(Paths.get(baseDir, n)))
      Option(new java.io.File(baseDir).list()).toSeq.flatten
        .filter(n => n.startsWith(model + ".current__tmp_") ||
          n.startsWith(model + ".versions__tmp_"))
        .foreach(n => Files.deleteIfExists(Paths.get(baseDir, n)))
      writeLog(model, log.filter { case (_, d) => keep(d) } :+ ((newSeq, newName)))
      publishPointer(model, newName)
      gcWindowData(model)
    }

  /** Key-level deletion through the standard versioned commit — the
    * GDPR / right-to-be-forgotten maintenance op a long-lived corpus
    * table needs: rows matching `predicate` are REMOVED from the
    * current version; nothing else changes. Because it is an ordinary
    * commit, the whole observability surface composes for free:
    * [[changesBetween]] reports each removed row as a `delete` carrying
    * its pre-image, [[readVersion]] still serves retained PRE-deletion
    * commits (true erasure of history = let retention age them out, or
    * set `keepVersions` to the minimum), and readers mid-scan on the
    * superseded version finish undisturbed. Cost is one filtered
    * rewrite — O(table) like any upsert; on a date-partitioned model
    * prefer rebuilding the affected windows via the microbatch surface.
    * No-op commit is avoided: deleting zero rows returns the current
    * table unchanged (no new version).
    */
  def deleteWhere(model: String, predicate: org.apache.spark.sql.Column): DataFrame =
    writerLockFor(model).synchronized { withFileLock(model) {
      val cur = readPrior(model).getOrElse(
        throw new IllegalStateException(s"deleteWhere: no table $model"))
      // retain via NOT(coalesce(pred, false)), not !pred: a NULL-valued
      // predicate (e.g. equality on a null column) marks a row as
      // UNAFFECTED — SQL DELETE semantics, and the same treatment the
      // no-op guard and incrementalPredicates already give NULL rows.
      if (cur.filter(predicate).isEmpty) cur
      else commitVersion(model, cur.filter(not(coalesce(predicate, lit(false)))))
    } }

  /** Distributed-key-set form of [[deleteWhere]]: remove every row whose
    * `keyCol` appears in `keys` (anti-join — the key set can be another
    * table, e.g. an erasure-request feed, without driver collection).
    */
  def deleteKeys(model: String, keyCol: String, keys: DataFrame): DataFrame =
    writerLockFor(model).synchronized { withFileLock(model) {
      val cur = readPrior(model).getOrElse(
        throw new IllegalStateException(s"deleteKeys: no table $model"))
      val k = keys.select(col(keys.columns.head).as(keyCol)).distinct()
      if (cur.join(k, Seq(keyCol), "left_semi").isEmpty) cur
      else commitVersion(model, cur.join(k, Seq(keyCol), "left_anti"))
    } }

  /** Scale-path variant: per-partition versioned overwrite on a date
    * column instead of the whole-table anti-join rewrite. Valid when the
    * model's `unique_key` is date-functional (true for traffic_daily_agg
    * — id embeds spend_date — NOT for traffic_pages_agg, whose
    * cross-date id collisions need the anti-join form): an incremental
    * batch carries complete recomputations of the dates it touches, so
    * swapping those partitions IS delete+insert-by-key, while untouched
    * dates never rewrite. At 100 TB this turns the upsert from O(table)
    * to O(batch) and makes the watermark filter real partition pruning
    * on re-read. Commits go through [[flipWindows]]' per-partition
    * version store, so a reader mid-rebuild never observes a missing or
    * half-written partition (dynamic-overwrite semantics: only the
    * partitions the build PRODUCED flip; a date absent from the output
    * is left alone).
    */
  def materializeByDatePartition(model: String, dateCol: String)
                                (build: Option[DataFrame] => DataFrame): DataFrame = {
    val prior = readPrior(model)
    val fresh = build(prior)
    writerLockFor(model).synchronized { withFileLock(model) {
      auditGate(model, fresh)
      val staging = stagingDir(model)
      fresh.write.mode(SaveMode.Overwrite).partitionBy(dateCol)
        .parquet(staging.toString)
      commitWindowedVersion(model, dateCol, staging, clearAbsent = Nil)
    } }
    readTable(outPath(model))
  }

  /** dbt 1.9's MICROBATCH incremental strategy: the model is built one
    * event-time window (a daily batch) at a time, and each rebuilt
    * window's rows REPLACE that window's date partition in the target —
    * never a keyed merge. A run processes the current batch plus
    * `lookback` preceding batches (late-arriving facts inside the
    * lookback horizon are absorbed by rebuilding their whole window from
    * source), and a first run backfills every window from `begin`.
    * `asOf` — the current batch day — is CALLER-supplied, like the
    * Snapshots run stamp: runs are reproducible, oracles pinnable, and
    * historical reruns possible, with no wall clock in the engine.
    *
    * `buildWindow(lo, hi)` builds the model for event dates in
    * [lo, hi) — the model filters its INPUTS to the window (dbt injects
    * exactly this filter into each `ref`/`source` read), which at scale
    * is partition pruning on the source scan, so per-run cost is
    * ∝ (lookback+1) windows, never the table. The framework additionally
    * CLAMPS the output to the window, so one batch can never leak rows
    * into a partition another batch owns.
    *
    * Delta from dbt, on purpose: dbt executes one INSERT per batch; this
    * fuses a run's windows into ONE delete+append job (each window's
    * content still derives only from its own `buildWindow` call, and
    * Spark schedules the fused scan once instead of (lookback+1) times).
    * [[rebuildMicrobatchWindow]] is the per-batch surface for targeted
    * backfills and failed-batch retries. Like
    * [[materializeByDatePartition]] this commits through
    * [[commitWindowedVersion]] — per-partition versioned data behind an
    * atomic pointer flip, so readers mid-rebuild never see a missing or
    * partial window, and a crash before publish loses only the
    * uncommitted staging bytes (the retry rebuilds those windows).
    * Unlike dynamic partition overwrite, the explicit per-window clear
    * gives dbt's true insert_overwrite semantics: a window that
    * rebuilds to ZERO rows ends up empty, not stale.
    */
  def materializeMicrobatch(model: String, eventDateCol: String,
                            begin: java.time.LocalDate,
                            asOf: java.time.LocalDate,
                            lookback: Int = 1)
      (buildWindow: (java.time.LocalDate, java.time.LocalDate) => DataFrame): DataFrame = {
    require(!asOf.isBefore(begin), s"asOf $asOf precedes begin $begin")
    require(lookback >= 0, s"lookback must be non-negative: $lookback")
    writerLockFor(model).synchronized { withFileLock(model) {
      val start = readPrior(model) match {
        case None => begin
        case Some(t) =>
          Option(t.agg(max(col(eventDateCol))).head.getDate(0)) match {
            case None => begin // table exists but is empty: full backfill
            case Some(hw) =>
              val lb = hw.toLocalDate.minusDays(lookback.toLong)
              if (lb.isBefore(begin)) begin else lb
          }
      }
      val days = Iterator.iterate(start)(_.plusDays(1))
        .takeWhile(!_.isAfter(asOf)).toSeq
      // historical rerun earlier than (high-watermark − lookback): no
      // window to rebuild. Return the table unchanged rather than let
      // writeWindows crash on an empty reduce — the targeted surface
      // for true historical rebuilds is rebuildMicrobatchWindow.
      if (days.isEmpty) readTable(outPath(model))
      else writeWindows(model, eventDateCol, days)(buildWindow)
    } }
  }

  /** Rebuild exactly one microbatch window — dbt's per-batch retry /
    * targeted-backfill surface (`dbt retry`, `--event-time-start`).
    * Same delete+append seam as a [[materializeMicrobatch]] run.
    */
  def rebuildMicrobatchWindow(model: String, eventDateCol: String,
                              day: java.time.LocalDate)
      (buildWindow: (java.time.LocalDate, java.time.LocalDate) => DataFrame): DataFrame =
    writerLockFor(model).synchronized { withFileLock(model) {
      writeWindows(model, eventDateCol, Seq(day))(buildWindow)
    } }

  private def writeWindows(model: String, eventDateCol: String,
                           days: Seq[java.time.LocalDate])
      (buildWindow: (java.time.LocalDate, java.time.LocalDate) => DataFrame): DataFrame = {
    val frames = days.map { d =>
      val (lo, hi) = (java.sql.Date.valueOf(d), java.sql.Date.valueOf(d.plusDays(1)))
      buildWindow(d, d.plusDays(1))
        .filter(col(eventDateCol) >= lit(lo) && col(eventDateCol) < lit(hi))
    }
    val batch = frames.reduce(_ unionByName _)
    auditGate(model, batch)
    val staging = stagingDir(model)
    batch.write.mode(SaveMode.Overwrite)
      .partitionBy(eventDateCol).parquet(staging.toString)
    // a window rebuilt to ZERO rows writes no staging partition — its
    // live partition must CLEAR (insert_overwrite, not dynamic
    // overwrite: empty means empty, never stale)
    commitWindowedVersion(model, eventDateCol, staging,
      clearAbsent = days.map(d => s"$eventDateCol=$d"))
    readTable(outPath(model))
  }

  /** Fresh staging dir for one partitioned write, next to the version
    * dirs (same filesystem, so partition moves are renames). An orphan
    * from a crashed run holds only uncommitted bytes —
    * [[commitWindowedVersion]] GCs every `__stage_` sibling of the
    * model it commits.
    */
  private def stagingDir(model: String): java.nio.file.Path =
    Paths.get(baseDir, model + "__stage_" +
      java.util.UUID.randomUUID().toString.replace("-", ""))

  private def windataDir(model: String): java.nio.file.Path =
    Paths.get(baseDir, model + "__windata")

  /** The PER-PARTITION manifest commit for the partitioned layouts
    * (microbatch + date-partition overwrite) — the same pointer-flip
    * crash story as keyed upserts, at O(touched windows) data cost.
    * Real partition data lives once in `<model>__windata/` (each
    * rebuilt window as an immutable `<part>__v<seq>` dir); every commit
    * assembles a NEW version dir of `date=` SYMLINKS — rebuilt windows
    * point at their fresh windata dirs, untouched windows carry forward
    * their previous real target (resolved depth-1, never link chains) —
    * stamps `_SUCCESS`, and publishes through the ordinary
    * [[publishCommit]] pointer flip. So:
    *
    *   - a reader resolves the pointer to an IMMUTABLE version dir:
    *     nothing it lists ever flips or half-appears underneath it —
    *     no missing partitions, no partial windows, closing the
    *     fixed-dir reader-during-rebuild seam VERDICT r7 named;
    *   - superseded windata dirs survive until every retained version
    *     referencing them ages out ([[gcWindowData]] mark-and-sweep at
    *     each commit) — the class's usual keep-one-generation window;
    *   - time travel/rollback/change feed compose for FREE: a windowed
    *     commit is an ordinary logged version, and a retained old
    *     version still resolves its (possibly superseded) windows;
    *   - untouched windows cost one symlink each per commit — metadata,
    *     not data; partition discovery parses the link NAMES, so
    *     `date=` pruning is unchanged.
    *
    * Crash before publish → staging/windata/version-dir orphans holding
    * only uncommitted bytes, GC'd by the next commit. `clearAbsent`
    * lists partitions whose ABSENCE from staging means "rebuilt to zero
    * rows": they are dropped from the new version (empty means empty —
    * insert_overwrite, not dynamic overwrite).
    */
  private def commitWindowedVersion(model: String, dateCol: String,
                                    staging: java.nio.file.Path,
                                    clearAbsent: Seq[String]): Unit = {
    import java.nio.file.Files
    val windata = windataDir(model)
    Files.createDirectories(windata)
    val newName = model + "__v_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val newDir = Paths.get(baseDir, newName)
    try {
      Files.createDirectories(newDir)
      def nextSeq(part: String): Int =
        Option(windata.toFile.list()).toSeq.flatten
          .filter(_.startsWith(part + "__v"))
          .map(_.substring(part.length + 3).toInt)
          .maxOption.getOrElse(0) + 1
      val written = Option(staging.toFile.list()).toSeq.flatten
        .filter(_.startsWith(dateCol + "=")).sorted
      // rebuilt windows: move bytes into windata, link from the version
      written.foreach { part =>
        val real = windata.resolve(s"${part}__v${nextSeq(part)}")
        Files.move(staging.resolve(part), real)
        Files.createSymbolicLink(newDir.resolve(part), real.toAbsolutePath)
      }
      // untouched windows: carry the previous version's targets forward
      currentVersion(model).map(v => Paths.get(baseDir, v)).foreach { pd =>
        val entries = Option(pd.toFile.list()).toSeq.flatten
        // a prior KEYED commit has root data files, not date= dirs —
        // carrying nothing forward would silently shrink the table to
        // this run's windows, so refuse loudly instead
        require(!entries.exists(_.startsWith("part-")),
          s"model '$model' was last committed as a plain keyed table; " +
            "windowed (microbatch/date-partition) commits cannot carry its " +
            "rows forward — rebuild it fully or use a different model name")
        entries
          .filter(n => n.startsWith(dateCol + "=") &&
            !written.contains(n) && !clearAbsent.contains(n))
          .foreach { part =>
            Files.createSymbolicLink(newDir.resolve(part),
              pd.resolve(part).toRealPath().toAbsolutePath)
          }
      }
      Files.createFile(newDir.resolve("_SUCCESS"))
      publishCommit(model, newName)
    } catch {
      case e: Throwable => deleteRecursive(newDir); throw e
    }
    Fs.deleteRecursive(staging)
    // GC crashed runs' staging orphans (committed ones were just deleted)
    Option(Paths.get(baseDir).toFile.list()).toSeq.flatten
      .filter(_.startsWith(s"${model}__stage_"))
      .foreach(n => Fs.deleteRecursive(Paths.get(baseDir, n)))
  }

  /** Mark-and-sweep for `<model>__windata`: a real window dir is live
    * while ANY on-disk version dir's symlink references it. References compare by windata
    * entry NAME (every link this class creates targets this model's
    * windata, and names are unique there): comparing full paths would
    * mis-match whenever the warehouse is reached through a symlinked
    * component (toRealPath-resolved targets vs the logical listing
    * path) and delete live data. Runs inside the swap monitor at each
    * commit, AFTER superseded version dirs were deleted — so windata
    * retention follows version retention exactly. No-op for models
    * without windowed commits.
    */
  private def gcWindowData(model: String): Unit = {
    import java.nio.file.Files
    val windata = windataDir(model)
    if (!Files.isDirectory(windata)) return
    val referenced: Set[String] = versionDirs(model).map(Paths.get(baseDir, _)).flatMap { vd =>
      Option(vd.toFile.list()).toSeq.flatten.map(vd.resolve)
        .filter(Files.isSymbolicLink(_))
        .map(p => Files.readSymbolicLink(p).getFileName.toString)
    }.toSet
    Option(windata.toFile.list()).toSeq.flatten
      .filterNot(referenced)
      .foreach(n => Fs.deleteRecursive(windata.resolve(n)))
  }

  private def deleteRecursive(p: java.nio.file.Path): Unit = Fs.deleteRecursive(p)
}

object Materializer {
  /** Per-version stored schema (JSON), written by every whole-dir commit. */
  private[runtime] val SchemaFile = "_graft_schema.json"

  // JVM-global monitors, keyed by canonical "warehouse/model": all
  // Materializer instances over one warehouse serialize on the same
  // objects (per-instance maps would let two instances race the renames
  // and deadlock-by-exception on the shared OS file lock). writerLocks
  // serialize whole materialize runs; swapLocks guard only the pointer
  // flip (+ withSwapLock readers).
  private val writerLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private val swapLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  // per-key gates serializing OS-file-lock acquisition inside one JVM
  // (ReentrantLock: same-thread nesting via hold count, cross-thread
  // blocking); lock ORDER everywhere is writer → gate/OS → swap
  private val fileLockGates =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()
}
