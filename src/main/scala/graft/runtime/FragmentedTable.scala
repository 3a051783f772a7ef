package graft.runtime

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Attribute, AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or => COr}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.net.{URLDecoder, URLEncoder}

/** LSM-style upsert table: the O(batch)-per-upsert alternative to the
  * Materializer's whole-table rewrite (parquet has no MERGE, so the
  * Materializer re-writes the table per upsert — fine for model-sized
  * outputs, the wrong cost for a high-frequency ingest of a 100 TB
  * corpus). Each upsert writes ONLY its batch as a new FRAGMENT dir and
  * appends it to an atomically-replaced manifest; reads merge fragments
  * with last-writer-wins per key (newest fragment's row for a key wins —
  * upsert semantics); [[compact]] folds the merge back to one fragment
  * when read amplification has grown. The classic LSM trade, explicit:
  *   write O(batch) + manifest flip; read O(live fragments) until the
  *   next compaction; compaction O(table) for the full fold, or O(run)
  *   for [[compactTiered]]'s partial fold of the newest small fragments.
  *
  * Each manifest entry also carries a ZONE MAP: per-column min / max /
  * null-count / row-count collected from the fragment's own bytes at
  * write time (one O(batch) aggregate per upsert). [[readWhere]] uses
  * the zone maps to skip fragments that provably contain no matching
  * row — the fragment-level analogue of parquet row-group skipping, and
  * the piece that makes a selective probe of a 100 TB fragment store
  * read O(matching fragments), not O(table). Pruning under
  * last-writer-wins needs care (a skipped NEWER fragment must not let a
  * superseded row resurface); see [[readWhere]] for the winner-aware
  * plan that keeps it exact.
  *
  * Commit protocol mirrors the Materializer's manifest pointer: fragment
  * bytes land fully before the manifest names them (a crash in between
  * leaves an orphan dir the next compaction GCs, never a torn table);
  * the manifest is replaced by a same-directory atomic rename, so a
  * reader resolves either the old or the new fragment list, never a
  * partial one. Fragment order IS commit order (manifest line order);
  * within one fragment a key appears at most once (the upsert dedups its
  * own batch by keeping the LAST row per key, matching "later write
  * wins" inside a batch too). Writers are serialized per table in-JVM;
  * like the Materializer, cross-process concurrent WRITERS are out of
  * scope (single-writer-per-table topology), while cross-process readers
  * are safe through the manifest.
  */
final class FragmentedTable(spark: SparkSession, baseDir: String,
                            table: String, uniqueKey: String)
    extends KeyedFragmentStore {
  import FragmentedTable._

  /** The upsert key column (for callers composing joins against it). */
  def keyColumn: String = uniqueKey

  private val lock = FragmentedTable.lockFor(s"${Paths.get(baseDir).toAbsolutePath}#$table")
  private def manifestPath = Paths.get(baseDir, s"$table.fragments")

  private def readEntries(): Seq[FragEntry] =
    if (!Files.exists(manifestPath)) Nil
    else new String(Files.readAllBytes(manifestPath), "UTF-8")
      .linesIterator.filter(_.nonEmpty).map(FragEntry.parse).toSeq

  private def publishManifest(frags: Seq[FragEntry]): Unit = {
    val tmp = Paths.get(baseDir, s"$table.fragments__tmp_" +
      java.util.UUID.randomUUID().toString.replace("-", ""))
    Files.write(tmp, (frags.map(_.render).mkString("\n") + "\n").getBytes("UTF-8"))
    Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Write a fragment dir and collect its zone map from the bytes just
    * written (exact for what readers will see, and cheaper than
    * re-evaluating the batch's lineage).
    */
  private def writeFragment(batch: DataFrame): FragEntry = {
    val name = s"${table}__frag_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    batch.write.mode(SaveMode.ErrorIfExists).parquet(s"$baseDir/$name")
    // read back under the WRITER's schema, nullability relaxed to what
    // any parquet read may legally produce: skips the per-write footer
    // schema-inference job while keeping the zone map computed from the
    // bytes readers will see
    val back = spark.read
      .schema(FragmentedTable.relaxNullable(batch.schema))
      .parquet(s"$baseDir/$name")
    FragEntry(name, Some(ZoneMap.collect(back)), Some(back.schema.toDDL))
  }

  /** Append `batch` as a new fragment: keys present in older fragments
    * are superseded on read, new keys appear. Contract (same as the
    * Materializer's upsert): at most one row per key within a batch — a
    * DataFrame carries no "later row" order, so an in-batch conflict has
    * no well-defined winner and must be resolved by the producer (the
    * ingest paths all dedup per batch before upserting).
    */
  def upsert(batch: DataFrame): Unit = lock.synchronized {
    require(!batch.columns.contains(DeletedCol),
      s"$DeletedCol is reserved for tombstone fragments")
    publishManifest(readEntries() :+ writeFragment(batch))
  }

  /** [[upsert]] minus the zone-map job — the LSM L0 trade for
    * high-frequency BATCH-SIZED appends: the fragment lands with
    * `stats = None` (readers keep stat-less fragments in every scan
    * set — pruning loss only, never correctness) and the writer-known
    * schema DDL, so the write costs exactly ONE Spark job. The next
    * fold/compaction absorbs the fragment into a stats-bearing run,
    * exactly like L0 files leveling into indexed runs. Measured: the
    * per-upsert ZoneMap job was one of three ~350 ms fixed-cost jobs
    * per trigger in the banded sink's write path. Not for large or
    * long-lived fragments — those want their zone maps at write time.
    */
  override def upsertLight(batch: DataFrame): Unit = lock.synchronized {
    require(!batch.columns.contains(DeletedCol),
      s"$DeletedCol is reserved for tombstone fragments")
    val name = s"${table}__frag_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    batch.write.mode(SaveMode.ErrorIfExists).parquet(s"$baseDir/$name")
    publishManifest(readEntries() :+ FragEntry(name, None,
      Some(FragmentedTable.relaxNullable(batch.schema).toDDL)))
  }

  /** Register an ALREADY-WRITTEN parquet dir as this table's newest
    * fragment by MOVING it into place (same filesystem), with its zone
    * map supplied by the caller (e.g. computed in one grouped pass over
    * many buckets' staging output — [[BucketedFragmentStore]]). The
    * commit protocol is unchanged: bytes are in place before the
    * manifest names them.
    */
  private[runtime] def adopt(srcDir: Path, stats: Option[ZoneMap],
                             schema: Option[StructType]): Unit =
    lock.synchronized {
      val name = s"${table}__frag_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      Files.move(srcDir, Paths.get(baseDir, name))
      publishManifest(readEntries() :+
        FragEntry(name, stats, schema.map(_.toDDL)))
    }

  /** Tombstone delete: O(batch of keys), the LSM answer to key-level
    * deletion (Materializer.deleteWhere pays a table rewrite; a 100 TB
    * fragment store cannot). Writes ONE fragment holding only the key
    * column plus the reserved `__graft_deleted` marker; on read the
    * tombstone is just the newest "version" of its key, and a tombstone
    * winner removes the key from the merge. Re-upserting the key later
    * resurrects it (the new fragment out-ranks the tombstone). Partial
    * folds RETAIN surviving tombstones (an older base fragment outside
    * the fold may still hold the key); only the full [[compact]] — by
    * then the table's sole fragment — physically purges them.
    */
  def deleteKeys(keys: DataFrame): Unit = lock.synchronized {
    val tomb = keys.select(qcol(uniqueKey)).distinct()
      .withColumn(DeletedCol, lit(true))
    publishManifest(readEntries() :+ writeFragment(tomb))
  }

  /** [[deleteKeys]] for every CURRENT row matching `pred` (evaluated
    * against the live merge at call time).
    */
  def deleteWhere(pred: Column): Unit =
    read().foreach(df => deleteKeys(df.filter(pred).select(qcol(uniqueKey))))

  /** Last-writer-wins merge of manifest entries tagged with their GLOBAL
    * manifest position (so a partial fragment list still ranks versions
    * by true commit order). `purgeTombstones = false` (partial folds)
    * keeps tombstone WINNERS as marker rows — dropping them would
    * resurrect the key from fragments outside the fold.
    */
  private def merged(entries: Seq[(FragEntry, Int)],
                     purgeTombstones: Boolean = true,
                     frame: FragEntry => DataFrame = defaultFrame): DataFrame = {
    // single live fragment (every post-compact read): a key appears at
    // most once per fragment, so every row is its own winner — skip the
    // union + per-key window shuffle entirely
    if (entries.size == 1) {
      val df = frame(entries.head._1)
      return if (!df.columns.contains(DeletedCol)) df
      else if (purgeTombstones)
        df.filter(!coalesce(col(DeletedCol), lit(false))).drop(DeletedCol)
      else df
    }
    val unioned = entries.map { case (e, i) =>
      frame(e).withColumn("__frag_seq", lit(i))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val hasDel = unioned.columns.contains(DeletedCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qcol(uniqueKey)).orderBy(col("__frag_seq").desc)
    val winners = unioned
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__frag_seq")
    if (!hasDel) winners
    else if (purgeTombstones)
      winners.filter(!coalesce(col(DeletedCol), lit(false))).drop(DeletedCol)
    else winners
  }

  /** The merged table: per key, the row from the NEWEST fragment that
    * contains it. One union + one per-key argmax over the live
    * fragments — the read amplification [[compact]] exists to bound.
    * Empty (no upserts yet) → None.
    */
  def read(): Option[DataFrame] = {
    val entries = readEntries()
    if (entries.isEmpty) None else Some(merged(entries.zipWithIndex))
  }

  /** [[read]] but KEEPING tombstone winners as marker rows (the
    * `DeletedCol` column present iff any live fragment carries it) —
    * the migration drain's read: a bucket being moved wholesale must
    * carry its deletions along, or a crash-replayed drain would
    * resurrect a deleted key from the copy an earlier attempt already
    * adopted into the target (same rule as the partial fold's
    * `purgeTombstones = false`).
    */
  private[runtime] def readKeepTombstones(): Option[DataFrame] = {
    val entries = readEntries()
    if (entries.isEmpty) None
    else Some(merged(entries.zipWithIndex, purgeTombstones = false))
  }

  /** ZERO-SHUFFLE superset read: the raw union of the live fragments
    * with tombstone MARKER rows removed but NOT applied — superseded key
    * versions and tombstone-shadowed rows RESURFACE. For index-probe
    * callers only (the banded LSH candidate read), where a superset is
    * part of the read contract because every candidate is re-verified
    * against an exactly-merged store downstream; never correct for a
    * caller that treats rows as current truth.
    */
  private[runtime] def readSuperset(): Option[DataFrame] = {
    val entries = readEntries()
    if (entries.isEmpty) return None
    val unioned = entries.map(defaultFrame)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    Some(if (unioned.columns.contains(DeletedCol))
      unioned.filter(!coalesce(col(DeletedCol), lit(false))).drop(DeletedCol)
    else unioned)
  }

  /** A fragment's DataFrame. The manifest-carried DDL (written from the
    * fragment's own read-back schema, so it matches the bytes exactly)
    * is passed as the user schema: parquet then skips footer-read
    * schema inference, which otherwise costs one Spark JOB per fragment
    * per read — measured (r12) as the dominant term of a banded ingest
    * trigger's ~90 jobs. Unparseable DDL
    * (none is expected — toDDL round-trips) falls back to inference.
    */
  private def defaultFrame(e: FragEntry): DataFrame = {
    val path = s"$baseDir/${e.name}"
    e.schema match {
      case Some(st) => spark.read.schema(st).parquet(path)
      case None     => spark.read.parquet(path)
    }
  }

  /** First-wins union schema over the live fragments (manifest DDL
    * when present, footer read otherwise), minus the tombstone marker;
    * None on an empty table.
    */
  private[runtime] def tableSchema(): Option[StructType] = {
    val entries = readEntries()
    if (entries.isEmpty) return None
    val seen = scala.collection.mutable.LinkedHashMap[String, StructField]()
    entries.foreach { e =>
      e.schema.getOrElse(defaultFrame(e).schema).fields
        .filterNot(_.name == DeletedCol)
        .foreach(f => if (!seen.contains(f.name)) seen(f.name) = f)
    }
    Some(StructType(seen.values.toSeq))
  }

  /** The key column's stored type, reading ONE fragment's footer (for
    * callers that route on the key — [[BucketedFragmentStore]]).
    */
  private[runtime] def keyDataType(): Option[org.apache.spark.sql.types.DataType] =
    columnDataType(uniqueKey)

  /** Any stored column's type from one fragment's footer — the bucketed
    * store's route-column variant of [[keyDataType]].
    */
  private[runtime] def columnDataType(name: String): Option[org.apache.spark.sql.types.DataType] =
    readEntries().headOption.flatMap(e =>
      e.schema.getOrElse(defaultFrame(e).schema).fields
        .find(_.name.equalsIgnoreCase(name)).map(_.dataType))

  /** `read().filter(pred)`, but fragments whose zone map proves they
    * contain no matching row are skipped. Exactness argument:
    *
    *  - Conjuncts referencing ONLY the unique key prune outright: every
    *    version of a key carries the same key value, so a fragment with
    *    no key in the predicate's range holds no version of any
    *    qualifying key — skipping it can neither lose a winner nor let a
    *    superseded row resurface, and keys outside the range fail `pred`
    *    in whatever version survives the merge.
    *  - Conjuncts on OTHER columns cannot prune the MERGE (a newer
    *    fragment whose rows all fail `pred` still supersedes older
    *    versions that might pass it). So winners — (key, newest seq) —
    *    are computed over every key-live fragment reading ONLY the key
    *    column (parquet column pruning makes that the cheap part), and
    *    full rows are read just from fragments whose zone map intersects
    *    the whole predicate; a winning row in a skipped fragment fails
    *    `pred` by the zone proof, so dropping it equals filtering it.
    *
    * The residual `.filter(pred)` always runs, so predicate forms the
    * zone probe doesn't understand (it handles =, <=>, <, <=, >, >=,
    * IN, IS [NOT] NULL, AND, OR over column-vs-literal) degrade to
    * un-pruned correctness, never to wrong answers. String bounds are
    * compared only when pure ASCII (where Java and UTF8String orders
    * agree); anything else conservatively keeps the fragment.
    */
  def readWhere(pred: Column): Option[DataFrame] = readWhereReport(pred)._1

  def readWhereReport(pred: Column): (Option[DataFrame], PruneReport) = {
    val entries = readEntries().zipWithIndex
    if (entries.isEmpty) return (None, PruneReport(0, 0, 0))
    // one DataFrame per fragment per CALL — every later use (schema
    // pass, winner scan, row scan) shares it, so a fragment's file
    // listing/footer work is paid once, not once per role
    val frameOf = scala.collection.mutable.Map[String, DataFrame]()
    def frame(e: FragEntry): DataFrame =
      frameOf.getOrElseUpdate(e.name, defaultFrame(e))
    // the TABLE schema is the first-wins union over every live fragment
    // (fragments may differ — schema evolution null-fills on read); any
    // pruned read must be padded back to it, both so the predicate
    // resolves columns that only exist in pruned-away fragments and so
    // the result schema equals the unpruned read's
    val tableFields: Seq[StructField] = {
      val seen = scala.collection.mutable.LinkedHashMap[String, StructField]()
      entries.foreach { case (e, _) =>
        // manifest-carried schema when present: zero file listings for
        // fragments the predicate will prune anyway
        e.schema.getOrElse(frame(e).schema).fields
          .filterNot(_.name == DeletedCol)
          .foreach(f => if (!seen.contains(f.name)) seen(f.name) = f)
      }
      seen.values.toSeq
    }
    def pad(df: DataFrame): DataFrame = {
      val present = df.columns.toSet
      val full = tableFields.foldLeft(df) { (acc, f) =>
        if (present(f.name)) acc
        else acc.withColumn(f.name, lit(null).cast(f.dataType))
      }
      full.select(tableFields.map(f => qcol(f.name)): _*)
    }
    def emptyResult: DataFrame = {
      val e = entries.find(x => !isTombstone(x._1)).getOrElse(entries.head)._1
      pad(frame(e).filter(lit(false))).filter(pred)
    }
    // opaque conjuncts (None) still filter at execution time but can
    // never justify skipping a fragment
    val conjunctsAligned = org.apache.spark.sql.GraftColumnBridge
      .predicateConjuncts(pred)
    val conjuncts = conjunctsAligned.flatten
    val keyConj =
      conjuncts.filter(c => c.deterministic && ZoneProbe.refsOnly(c, uniqueKey))
    // non-deterministic conjuncts (e.g. `pk > rand()`) must NOT be pushed
    // below the merge: evaluated per-fragment they can drop the newest
    // version of a key while an older version survives and wins —
    // resurrecting a superseded row the post-merge filter could never
    // produce. They still filter once, above the merge, via `.filter(pred)`.
    // key-only conjuncts PUSH BELOW the winner merge: a key-pure
    // predicate holds for every version of a key or none, so filtering
    // each fragment first removes all versions of non-matching keys
    // (tombstones included — they carry the key) and no versions of
    // matching ones; the merge over the survivors is the merge over the
    // matching keys. This is what turns a point probe of a large bucket
    // into a parquet scan with the key filter PUSHED (row-group
    // skipping) instead of a whole-bucket shuffle through the window.
    val keyPush: Option[Column] = {
      val cols = conjunctsAligned
        .zip(org.apache.spark.sql.GraftColumnBridge.conjunctColumns(pred))
        .collect {
          case (Some(e), c)
              if e.deterministic && ZoneProbe.refsOnly(e, uniqueKey) => c
        }
      cols.reduceOption(_ && _)
    }
    def pushed(e: FragEntry): DataFrame =
      keyPush.fold(frame(e))(frame(e).filter)
    val keyLive = entries.filter { case (e, _) => ZoneProbe.mayMatch(e.stats, keyConj) }
    val report0 = PruneReport(entries.size, keyLive.size, 0)
    if (keyLive.isEmpty) return (Some(emptyResult), report0)
    // a tombstone fragment carries no data columns, so non-key conjuncts
    // can never disprove it from its zone map (missing column = keep) —
    // tombstones stay in the candidate set and remove their keys below
    val candidates = keyLive.filter { case (e, _) => ZoneProbe.mayMatch(e.stats, conjuncts) }
    val report = report0.copy(scanned = candidates.size)
    if (candidates.size == keyLive.size)
      return (Some(pad(merged(keyLive, frame = pushed)).filter(pred)), report)
    if (candidates.isEmpty) return (Some(emptyResult), report)
    // winners over key-live fragments, key column only
    val winners = keyLive.map { case (e, i) =>
      pushed(e)
        .select(qcol(uniqueKey).as("__w_key")).withColumn("__w_seq", lit(i))
    }.reduce(_ unionByName _)
      .groupBy(col("__w_key")).agg(max(col("__w_seq")).as("__max_seq"))
    val rows = candidates.map { case (e, i) =>
      pushed(e).withColumn("__frag_seq", lit(i))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    // resolve the key via qcol like every other path — raw Dataset.apply
    // would parse a dotted key column as a nested-field reference
    val keyed = rows.withColumn("__r_key", qcol(uniqueKey))
    val joined = keyed.join(winners,
        keyed("__r_key") <=> winners("__w_key") &&
          keyed("__frag_seq") === winners("__max_seq"))
      .drop("__w_key", "__max_seq", "__frag_seq", "__r_key")
    val out = pad(if (joined.columns.contains(DeletedCol))
        joined.filter(!coalesce(col(DeletedCol), lit(false))).drop(DeletedCol)
      else joined)
      .filter(pred)
    (Some(out), report)
  }

  /** Live fragment count — the read-amplification signal a maintenance
    * cadence compacts on.
    */
  def fragmentCount(): Int = readEntries().size

  /** On-disk bytes of the live fragments (fs metadata only, no data
    * read) — the volume signal re-sharding cadences size on.
    */
  private[runtime] def liveBytes(): Long =
    readEntries().map(e => dirBytes(Paths.get(baseDir, e.name))).sum

  /** Fold the merge back to ONE fragment: write the merged rows as a new
    * fragment, flip the manifest to name only it, then GC every
    * unreferenced fragment dir (superseded fragments AND crash orphans).
    * Readers that resolved the old manifest keep intact dirs until this
    * GC — the same keep-until-superseded window as the Materializer;
    * no-op on an empty table.
    */
  def compact(): Unit = compact(readerGrace = false)

  /** [[compact]] with an opt-in ONE-GENERATION reader grace:
    * `readerGrace = true` RETIRES the superseded fragment dirs (listed
    * in a `<table>.retired` sidecar, same atomic-rename protocol)
    * instead of deleting them, so a cross-process reader that resolved
    * the pre-fold manifest can finish its scan; the retired generation
    * is swept at the NEXT fold (either mode). Crash orphans — dirs no
    * manifest and no retired list ever named — are swept immediately in
    * both modes. The default stays immediate GC: minimal storage, with
    * the keep-until-superseded window documented above.
    */
  def compact(readerGrace: Boolean): Unit = lock.synchronized {
    val entries = readEntries()
    if (entries.nonEmpty) {
      // the full fold sees every fragment, so tombstones have nothing
      // left to shadow: purge them physically
      val entry = writeFragment(merged(entries.zipWithIndex))
      publishManifest(Seq(entry))
      retireAndGc(superseded = entries.map(_.name).toSet - entry.name,
        live = Set(entry.name), readerGrace)
    }
  }

  /** Size-tiered PARTIAL compaction: fold only the newest contiguous run
    * of small fragments, leaving the large base alone — the standard LSM
    * answer to [[compact]]'s O(table) rewrite. A steady trickle of
    * upserts otherwise forces a choice between unbounded read
    * amplification and re-writing the whole (at scale: 100 TB) table on
    * every cadence tick; tiered folding keeps per-compaction I/O ∝ the
    * run of recent batches, with the full fold reserved for occasional
    * deep maintenance.
    *
    * Policy: walk newest → oldest accumulating the run; extend while the
    * next older fragment is no bigger than `tierFactor` × the bytes
    * accumulated so far (so a big settled fragment terminates the run).
    * A run of ≥ 2 fragments is merged last-writer-wins WITHIN the run
    * and the result replaces the run at its manifest position — global
    * order, and therefore global LWW, is unchanged (the merged fragment
    * is still newer than everything it didn't absorb, and within-run
    * winners were already resolved). Returns true if a fold happened.
    */
  def compactTiered(tierFactor: Double = 4.0): Boolean =
    compactTiered(tierFactor, readerGrace = false)

  /** [[compactTiered]] with the same opt-in reader grace as the
    * two-argument `compact`.
    */
  def compactTiered(tierFactor: Double, readerGrace: Boolean): Boolean =
    lock.synchronized {
      val entries = readEntries()
      if (entries.size < 2) return false
      val sizes = entries.map(e => dirBytes(Paths.get(baseDir, e.name)))
      var runStart = entries.size - 1
      var runBytes = sizes(runStart)
      while (runStart > 0 && sizes(runStart - 1) <= tierFactor * runBytes) {
        runStart -= 1
        runBytes += sizes(runStart)
      }
      if (runStart >= entries.size - 1) return false
      val run = entries.zipWithIndex.drop(runStart)
      // a fold that absorbs the OLDEST fragment sees the whole table and
      // may purge tombstones; a partial fold must keep them as marker
      // rows, or keys still present in the un-folded base would resurrect
      val entry = writeFragment(merged(run, purgeTombstones = runStart == 0))
      publishManifest(entries.take(runStart) :+ entry)
      retireAndGc(superseded = run.map(_._1.name).toSet,
        live = entries.take(runStart).map(_.name).toSet + entry.name, readerGrace)
      true
    }

  /** Compact only when read amplification crossed `maxLive` fragments:
    * tiered first (cheap), full fold only if the tier policy could not
    * shrink below the bound (e.g. many same-sized fragments). The
    * maintenance entry point for sink cadences.
    */
  def maybeCompact(maxLive: Int, tierFactor: Double = 4.0): Boolean = lock.synchronized {
    if (fragmentCount() <= maxLive) false
    else {
      compactTiered(tierFactor)
      if (fragmentCount() > maxLive) compact()
      true
    }
  }

  def compactIfOver(maxLive: Int): Boolean = lock.synchronized {
    if (fragmentCount() <= maxLive) false
    else { compact(); true }
  }

  private def retiredPath = Paths.get(baseDir, s"$table.retired")

  private def readRetired(): Set[String] =
    if (!Files.exists(retiredPath)) Set.empty
    else new String(Files.readAllBytes(retiredPath), "UTF-8")
      .linesIterator.filter(_.nonEmpty).toSet

  private def writeRetired(names: Set[String]): Unit =
    if (names.isEmpty) Files.deleteIfExists(retiredPath)
    else {
      val tmp = Paths.get(baseDir, s"$table.retired__tmp_" +
        java.util.UUID.randomUUID().toString.replace("-", ""))
      Files.write(tmp, (names.mkString("\n") + "\n").getBytes("UTF-8"))
      Files.move(tmp, retiredPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      ()
    }

  /** Post-fold cleanup: the PREVIOUS retired generation and crash
    * orphans always go; this fold's superseded dirs either go too
    * (default) or become the new retired generation (readerGrace).
    */
  private def retireAndGc(superseded: Set[String], live: Set[String],
                          readerGrace: Boolean): Unit = {
    val keep = if (readerGrace) superseded else Set.empty[String]
    writeRetired(keep)
    Option(new java.io.File(baseDir).list()).toSeq.flatten
      .filter(n => n.startsWith(s"${table}__frag_") && !live(n) && !keep(n))
      .foreach(n => Fs.deleteRecursive(Paths.get(baseDir, n)))
  }
}

object FragmentedTable {

  /** `schema` with every field, array element, and map value marked
    * nullable — the RELAXATION of the writer's schema that is safe as a
    * parquet user schema regardless of how the writer's nullability
    * flags mapped to required/optional in the file (claiming nullable
    * over non-null bytes is always legal; the reverse is not). Used by
    * the fragment read-backs so zone-map collection skips the footer
    * schema-inference job.
    */
  private[runtime] def relaxNullable(schema: StructType): StructType =
    relaxDt(schema).asInstanceOf[StructType]

  private def relaxDt(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f =>
        f.copy(dataType = relaxDt(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(relaxDt(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(relaxDt(m.keyType), relaxDt(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Zone-map prune report: of `total` live fragments, `keyLive`
    * survived the key-predicate probe (and were read at least for their
    * key column) and `scanned` survived the full-predicate probe (and
    * were read in full). `total - keyLive` fragments were not touched at
    * all.
    */
  final case class PruneReport(total: Int, keyLive: Int, scanned: Int)

  /** Backtick-quoted column reference safe for ANY column name —
    * embedded backticks escape by doubling, per the SQL identifier
    * rules, so a name like a`b resolves instead of failing to parse.
    */
  private[runtime] def qcol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** Reserved marker column carried only by tombstone fragments
    * ([[FragmentedTable.deleteKeys]]); rejected in upsert batches.
    */
  val DeletedCol = "__graft_deleted"

  /** A fragment whose zone map tracks the tombstone marker holds only
    * deletions (the marker column exists only in tombstone fragments).
    */
  private[runtime] def isTombstone(e: FragEntry): Boolean =
    e.stats.exists(_.cols.keys.exists(_.equalsIgnoreCase(DeletedCol)))

  // JVM-global writer serialization per (warehouse, table), mirroring the
  // Materializer's registry
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(key: String): Object =
    locks.computeIfAbsent(key, _ => new Object)

  private def dirBytes(p: Path): Long = {
    val f = p.toFile
    if (!f.exists) 0L
    else Option(f.listFiles).toSeq.flatten
      .map(c => if (c.isDirectory) dirBytes(c.toPath) else c.length).sum
  }

  /** One manifest line: fragment dir name, optional zone map, optional
    * schema DDL (URL-encoded) — the schema in the MANIFEST means a
    * pruned read resolves the table's union schema with zero file
    * listings; only fragments that actually scan touch the filesystem.
    * Legacy manifests (bare names, or name+stats) parse with the
    * missing parts as None and render back unchanged — an old table
    * keeps working, just without pruning / with footer-read schema
    * until its fragments are rewritten by compaction.
    */
  final case class FragEntry(name: String, stats: Option[ZoneMap],
                             schemaDdl: Option[String] = None) {
    def render: String = (stats, schemaDdl) match {
      case (None, None)       => name
      case (Some(z), None)    => s"$name\t${z.render}"
      case (zOpt, Some(ddl))  =>
        val zs = zOpt.map(_.render).getOrElse("")
        s"$name\t$zs\t${java.net.URLEncoder.encode(ddl, "UTF-8")}"
    }
    /** Parsed schema, None when absent or unparseable (fall back to a
      * footer read).
      */
    def schema: Option[StructType] = schemaDdl.flatMap(d =>
      scala.util.Try(StructType.fromDDL(d)).toOption)
  }
  object FragEntry {
    def parse(line: String): FragEntry = line.split('\t') match {
      case Array(n)    => FragEntry(n, None)
      case Array(n, z) => FragEntry(n, ZoneMap.parse(z))
      case Array(n, z, d) =>
        FragEntry(n, if (z.isEmpty) None else ZoneMap.parse(z),
          scala.util.Try(java.net.URLDecoder.decode(d, "UTF-8")).toOption)
      case other       => FragEntry(other.head, None)
    }
  }

  /** Per-column fragment statistics. min/max are None when the column
    * has no non-null value in the fragment; values are stored in a
    * type-tagged canonical string form (numerics as decimal strings,
    * dates as epoch days, timestamps as epoch micros, strings verbatim).
    */
  final case class ColStats(typ: String, min: Option[String],
                            max: Option[String], nulls: Long)

  final case class ZoneMap(rows: Long, cols: Map[String, ColStats]) {
    private def enc(s: String) = URLEncoder.encode(s, "UTF-8")
    // Present bounds carry a '=' marker so Some("") and None stay
    // distinguishable across the manifest round-trip ('=' never appears
    // in URLEncoder output, so legacy unmarked values can't collide).
    private def encB(b: Option[String]) = b.map("=" + enc(_)).getOrElse("")
    def render: String = {
      val colStr = cols.toSeq.sortBy(_._1).map { case (n, c) =>
        Seq(enc(n), c.typ, encB(c.min), encB(c.max), c.nulls.toString).mkString("|")
      }.mkString("\u0001")
      s"$rows\u0001$colStr"
    }
  }

  object ZoneMap {
    private def dec(s: String) = URLDecoder.decode(s, "UTF-8")
    // Inverse of encB; accepts legacy unmarked values (where "" is
    // ambiguous — cmpProbe declines on that inconsistency, see below).
    private def decB(s: String): Option[String] =
      if (s.isEmpty) None
      else if (s.charAt(0) == '=') Some(dec(s.substring(1)))
      else Some(dec(s))

    def parse(s: String): Option[ZoneMap] = try {
      val parts = s.split('\u0001')
      val rows = parts.head.toLong
      val cols = parts.tail.filter(_.nonEmpty).map { cs =>
        val Array(n, t, mn, mx, nulls) = cs.split('|')
        dec(n) -> ColStats(t, decB(mn), decB(mx), nulls.toLong)
      }.toMap
      Some(ZoneMap(rows, cols))
    } catch { case scala.util.control.NonFatal(_) => None }

    /** Type tag for a column we know how to probe; None → column is not
      * tracked (always a potential match).
      */
    private[runtime] def tagOf(dt: DataType): Option[String] = dt match {
      case ByteType | ShortType | IntegerType | LongType => Some("long")
      case FloatType | DoubleType                        => Some("double")
      case _: DecimalType                                => Some("decimal")
      case StringType                                    => Some("string")
      case DateType                                      => Some("date")
      case TimestampType                                 => Some("timestamp")
      // NTZ micros live in a different domain than instant micros; a
      // distinct tag keeps cross-type predicates from pruning
      case TimestampNTZType                              => Some("timestamp_ntz")
      case BooleanType                                   => Some("boolean")
      case _                                             => None
    }

    private def canonical(tag: String, v: Any): String = (tag, v) match {
      case ("date", d: java.sql.Date)           => DateTimeUtils.fromJavaDate(d).toString
      case ("date", d: java.time.LocalDate)     => DateTimeUtils.localDateToDays(d).toString
      case ("timestamp", t: java.sql.Timestamp) => DateTimeUtils.fromJavaTimestamp(t).toString
      case ("timestamp", t: java.time.Instant)  => DateTimeUtils.instantToMicros(t).toString
      case ("timestamp_ntz", t: java.time.LocalDateTime) =>
        DateTimeUtils.localDateTimeToMicros(t).toString
      case (_, x)                               => x.toString
    }

    /** Tracked (name, tag) columns plus the min/max/non-null aggregate
      * columns for them — names are backtick-quoted so dotted columns
      * aren't parsed as nested paths; a name CONTAINING a backtick is
      * left untracked (unquotable) rather than failing the write.
      */
    private[runtime] def aggPlan(schema: StructType,
        exclude: Set[String] = Set.empty): (Seq[(String, String)], Seq[Column]) = {
      val tracked = schema.fields
        .filterNot(f => exclude(f.name))
        .flatMap(f => tagOf(f.dataType).map(f.name -> _)).toSeq
      val aggs = Seq(count(lit(1)).as("__zm_rows")) ++ tracked.flatMap { case (n, _) =>
        Seq(min(qcol(n)).as(s"__zm_min_$n"), max(qcol(n)).as(s"__zm_max_$n"),
          count(qcol(n)).as(s"__zm_nn_$n"))
      }
      (tracked, aggs)
    }

    private[runtime] def fromRow(row: org.apache.spark.sql.Row,
                                 tracked: Seq[(String, String)]): ZoneMap = {
      val rows = row.getAs[Long]("__zm_rows")
      val cols = tracked.map { case (n, tag) =>
        val mn = Option(row.getAs[Any](s"__zm_min_$n")).map(canonical(tag, _))
        val mx = Option(row.getAs[Any](s"__zm_max_$n")).map(canonical(tag, _))
        val nn = row.getAs[Long](s"__zm_nn_$n")
        n -> ColStats(tag, mn, mx, rows - nn)
      }.toMap
      ZoneMap(rows, cols)
    }

    /** One aggregate over the fragment: per tracked column min, max,
      * non-null count; plus total rows. O(fragment), map-side partial.
      */
    def collect(df: DataFrame): ZoneMap = {
      val (tracked, aggs) = aggPlan(df.schema)
      fromRow(df.agg(aggs.head, aggs.tail: _*).collect()(0), tracked)
    }
  }

  /** The conservative zone-map probe: proves "no row in this fragment
    * can satisfy the conjunct", or declines. Every decline keeps the
    * fragment, so imprecision costs I/O, never correctness.
    */
  private[runtime] object ZoneProbe {

    def splitConjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
      case other      => Seq(other)
    }

    // UnresolvedAttribute.name backtick-quotes parts containing dots, so
    // compare on the raw single name part; multi-part references (nested
    // fields) decline pruning — a zone map only tracks top-level columns
    private def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.size == 1 => Some(a.nameParts.head)
      case a: AttributeReference                           => Some(a.name)
      case _                                               => None
    }

    /** Does `e` reference only the column `name` (case-insensitive) —
      * and at least one column at all? Literal-only conjuncts are not
      * key conjuncts.
      */
    def refsOnly(e: Expression, name: String): Boolean = {
      val refs = collectRefs(e)
      refs.nonEmpty && refs.forall(_.equalsIgnoreCase(name))
    }

    private def collectRefs(e: Expression): Seq[String] = e match {
      // multi-part names (nested-field references) are marked so they
      // can never equal a top-level key column name in refsOnly
      case a: UnresolvedAttribute =>
        if (a.nameParts.size == 1) Seq(a.nameParts.head)
        else Seq("\u0000nested:" + a.nameParts.mkString("."))
      case a: AttributeReference  => Seq(a.name)
      case other                  => other.children.flatMap(collectRefs)
    }

    def mayMatch(stats: Option[ZoneMap], conjuncts: Seq[Expression]): Boolean =
      stats match {
        case None    => true
        case Some(z) => conjuncts.forall(c => probe(z, c))
      }

    /** true = the fragment MAY contain a row satisfying `c`. */
    private def probe(z: ZoneMap, c: Expression): Boolean = c match {
      case COr(l, r)  => probe(z, l) || probe(z, r)
      case CAnd(l, r) => probe(z, l) && probe(z, r)

      case EqualTo(a, Literal(v, dt))   => cmpProbe(z, a, v, dt, eqP = true, ltP = false, gtP = false)
      case EqualTo(Literal(v, dt), a)   => cmpProbe(z, a, v, dt, eqP = true, ltP = false, gtP = false)
      case EqualNullSafe(a, Literal(v, dt)) =>
        if (v == null) attrName(a).forall(n => nullsOf(z, n).forall(_ > 0))
        else cmpProbe(z, a, v, dt, eqP = true, ltP = false, gtP = false)
      case EqualNullSafe(Literal(v, dt), a) =>
        if (v == null) attrName(a).forall(n => nullsOf(z, n).forall(_ > 0))
        else cmpProbe(z, a, v, dt, eqP = true, ltP = false, gtP = false)

      case GreaterThan(a, Literal(v, dt))        => cmpProbe(z, a, v, dt, eqP = false, ltP = false, gtP = true)
      case GreaterThan(Literal(v, dt), a)        => cmpProbe(z, a, v, dt, eqP = false, ltP = true, gtP = false)
      case GreaterThanOrEqual(a, Literal(v, dt)) => cmpProbe(z, a, v, dt, eqP = true, ltP = false, gtP = true)
      case GreaterThanOrEqual(Literal(v, dt), a) => cmpProbe(z, a, v, dt, eqP = true, ltP = true, gtP = false)
      case LessThan(a, Literal(v, dt))           => cmpProbe(z, a, v, dt, eqP = false, ltP = true, gtP = false)
      case LessThan(Literal(v, dt), a)           => cmpProbe(z, a, v, dt, eqP = false, ltP = false, gtP = true)
      case LessThanOrEqual(a, Literal(v, dt))    => cmpProbe(z, a, v, dt, eqP = true, ltP = true, gtP = false)
      case LessThanOrEqual(Literal(v, dt), a)    => cmpProbe(z, a, v, dt, eqP = true, ltP = false, gtP = true)

      case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case Literal(v, dt) =>
          cmpProbe(z, a, v, dt, eqP = true, ltP = false, gtP = false)
        }
      case IsNull(a)    => attrName(a).forall(n => nullsOf(z, n).forall(_ > 0))
      case IsNotNull(a) => attrName(a).forall(n => nonNullsOf(z, n).forall(_ > 0))
      case _            => true
    }

    private def nullsOf(z: ZoneMap, name: String): Option[Long] =
      z.cols.collectFirst { case (n, c) if n.equalsIgnoreCase(name) => c.nulls }
    private def nonNullsOf(z: ZoneMap, name: String): Option[Long] =
      z.cols.collectFirst { case (n, c) if n.equalsIgnoreCase(name) => z.rows - c.nulls }

    /** Probe `attr <cmp> literal` against the column's [min, max]:
      * the comparison may hold in the fragment iff the requested
      * relation (any union of eq / lt / gt, from the caller's flags,
      * where lt means "some column value < literal" etc.) intersects
      * the bound interval. Declines (returns true) when the column is
      * untracked, the literal's type family differs from the column's,
      * or values aren't comparable conservatively (non-ASCII strings).
      */
    private def cmpProbe(z: ZoneMap, attrE: Expression, v: Any, dt: DataType,
                         eqP: Boolean, ltP: Boolean, gtP: Boolean): Boolean = {
      val name = attrName(attrE).getOrElse(return true)
      val cs = z.cols.collectFirst {
        case (n, c) if n.equalsIgnoreCase(name) => c
      }.getOrElse(return true)
      if (v == null) return false // null comparison never satisfies
      // Absent bounds prune ONLY when the null count independently
      // confirms the column is all-null in this fragment; otherwise the
      // bounds are inconsistent (e.g. a legacy manifest that conflated
      // an empty-string min with "no value") and we must decline.
      if (cs.min.isEmpty || cs.max.isEmpty) return cs.nulls < z.rows
      val litTag = ZoneMap.tagOf(dt).getOrElse(return true)
      if (compat(cs.typ, litTag).isEmpty) return true
      val (mnC, mxC) = cmpValues(cs.typ, litTag, cs.min.get, cs.max.get, v)
        .getOrElse(return true)
      // relation possible within [min, max]?
      (eqP && mnC <= 0 && mxC >= 0) || // min<=v<=max → some value may equal v
      (ltP && mnC < 0)  ||             // min < v → some value < v
      (gtP && mxC > 0)                 // max > v → some value > v
    }

    /** Are column tag and literal tag the same comparison family? */
    private def compat(colTag: String, litTag: String): Option[Unit] = {
      def numeric(t: String) = t == "long" || t == "double" || t == "decimal"
      if (colTag == litTag) Some(())
      else if (numeric(colTag) && numeric(litTag)) Some(())
      else None
    }

    /** (compare(min, v), compare(max, v)) in the column's domain, or
      * None when not conservatively comparable.
      */
    private def cmpValues(colTag: String, litTag: String,
                          mn: String, mx: String, v: Any): Option[(Int, Int)] = try {
      def ascii(s: String) = s.forall(_ < 128)
      colTag match {
        case "long" | "double" | "decimal" | "date" | "timestamp" | "timestamp_ntz" =>
          // dates/timestamps are epoch days / micros in both the stats
          // and the Literal's internal form — plain numeric compare
          val lv = BigDecimal(v.toString)
          Some((BigDecimal(mn).compare(lv), BigDecimal(mx).compare(lv)))
        case "string" =>
          val sv = v.toString
          if (ascii(mn) && ascii(mx) && ascii(sv))
            Some((mn.compareTo(sv), mx.compareTo(sv)))
          else None
        case "boolean" =>
          val bv = v.toString.toBoolean
          Some((mn.toBoolean.compareTo(bv), mx.toBoolean.compareTo(bv)))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
