package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets

/** Benchmark entry point. Runs every registered query against
  * `SPARK_GRAFT_SF_DIR` and emits ONE machine-readable JSON line:
  *   - printed to stdout (sbt run is forked with StdoutOutput, so the
  *     line arrives unprefixed), and
  *   - written to `bench_out.json` in the working directory, so the
  *     driver can read it even if the console stream is decorated.
  *
  * Queries are timed with a `noop`-format write, not `count()`: count
  * lets Catalyst prune every column and skip the projection work, so a
  * scan-shaped query would bench as nearly free. The noop sink fully
  * evaluates every output row/column and discards it.
  *
  * Each query runs THREE passes and the reported number is the min:
  * single-pass numbers swung up to 4× run-to-run with no code change
  * (r2 `q_ext_knn_lsh`), which made per-round deltas unattributable.
  * Best-of-N damps GC/compilation noise while still paying all real
  * work (shuffles, I/O) in every pass. Two noise instruments ride in
  * the JSON so a contention-inflated reading SELF-IDENTIFIES instead
  * of costing an idle re-measure rebuttal (the r5–r9 pattern):
  *   - `"spread"`: per-row (max-min)/min across the passes — a row
  *     whose own passes disagree ran on a noisy host, whatever its min;
  *   - `"host"`: 1-minute load average at start and end plus the host
  *     CPU count — load near or above the CPU count means every number
  *     in the file shared its cores.
  * The flag criterion lives in BASELINE.md: treat a cross-round delta
  * as real only if the row's spread is small and the host stamps show
  * an idle machine; otherwise re-measure before concluding anything.
  * Since r11 the artifact SELF-ADJUDICATES (VERDICT r10 task 4):
  *   - `host`, `spread`, and `flags` are emitted BEFORE the `queries`
  *     map, so a tail-truncated capture keeps the noise instruments
  *     for exactly the rows whose timings survived;
  *   - when a reference timing file exists (`SPARK_GRAFT_BENCH_REF`,
  *     default `dev/bench_ref.json` — written at each round's idle
  *     closure), every row whose min exceeds 1.3× its reference gets a
  *     flag applying BASELINE.md's criterion mechanically:
  *     `contention` (host load1 > max(2, cpus/8) at either stamp —
  *     taints the file), `subsecond` (min under 1 s: warmup-dominated,
  *     judge on absolute delta), `noisy` (the row's own spread > 0.5),
  *     else `real`. A flagged-`real` row is a genuine regression
  *     candidate; the others are self-identified measurement artifacts.
  *     Since r12 a second compact `{"metric":"summary",...}` line is
  *     printed AFTER the main line so a tail-only stdout capture keeps
  *     the instruments (BENCH_r11 lost them to head-ordering alone).
  *
  * Failures are NOT swallowed: a query that throws is recorded under
  * the `"errors"` map in the output JSON (name -> exception
  * class+message) and excluded from the per-query timings, so a
  * regression cannot masquerade as a speedup.
  *
  * Every timed row also carries its Spark breakdown for the min pass in
  * the main line's `"layers"` map (jobs, stages, tasks, executor task
  * time, shuffle and input MB, frame-build time, `par_eff`;
  * [[BenchLines.layerFields]]), so "where did the time go" is answered
  * by the artifact itself: many small jobs and one shuffle-bound job
  * read the same in a single number but not here.
  */
object Bench {

  /** The registered sf1 (10× bench scale) robustness tier — the
    * pair/ANN/span families whose cost can scale super-linearly, i.e.
    * exactly the rows where a 10× scale-up exposes planner cliffs the
    * sf0.1 contract can't see (SURVEY §6's sweep, promoted from a
    * one-off script to a harness mode; VERDICT r8 ask #5). Activate
    * with `SPARK_GRAFT_SF=1`; the input is `dev/make_sf1.py`'s
    * shape-preserving 10× synthesis (replica-unique tokens keep the
    * pair count ∝ 10×, not 100×), default dir /tmp/sf1.
    */
  private val sf1Rows: Set[String] = Set(
    "q_ext_jaccard_pairs", "q_ext_jaccard_pairs_pruned",
    "q_ext_jaccard_pairs_prefix", "q_ext_jaccard_bigram_pairs",
    "q_ext_jaccard_bigram_pairs_pruned", "q_ext_minhash_neardup",
    "q_ext_simhash_neardup", "q_ext_winnow_neardup", "q_ext_edit_distance",
    "q_ext_dedup_cc_corpus", "q_ext_dedup_neardup_corpus",
    "q_ext_dedup_embed_corpus", "q_ext_dedup_semantic",
    "q_ext_dup_span_stats", "q_ext_scrub_dup_spans", "q_ext_cosine_pairs",
    "q_ext_knn_brute", "q_ext_knn_lsh", "q_ext_knn_ivf",
    "q_ext_knn_ivf_probe", "q_ext_knn_ivf_probe_approx", "q_ext_knn_pq",
    "q_ext_knn_sq", "q_ext_knn_ivfpq",
    // fragment-store family: store build + pruned/bucket-routed reads
    // must stay flat-ish as the corpus scales 10×
    "q_ext_frag_skip", "q_ext_frag_delete", "q_ext_frag_bucketed",
    // r11 additions (VERDICT r10 task 3): the ingest compositions, the
    // structurally-gated rows not already above (gate shape must not
    // cliff at 10× — the r10 witness join did exactly that), and the
    // six full model families so SQL-surface/model scale cliffs become
    // round artifacts
    "q_ext_ingest_dedup", "q_ext_ingest_neardup", "q_ext_ingest_neardup_exactmode",
    "q_ext_knn_hnsw", "q_ext_knn_auto", "q_ext_knn_after_delete",
    "q_ext_knn_pq_exactmode", "q_ext_knn_sq_exactmode",
    "q_model_daily_incr", "q_model_pages_incr", "q_model_leads_incr",
    "q_model_daily_sql_incr", "q_model_pages_sql_incr", "q_model_leads_sql_incr",
    // r12 additions (VERDICT r11 task 7): the real-codec media family —
    // 10× docs means 10× encode/decode work, so a per-partition decode
    // memory cliff or codec-path scale bomb becomes a round artifact
    "q_ext_media_decode_real", "q_ext_media_resize_real", "q_ext_media_formats",
    "q_ext_media_neardup", "q_ext_media_audio", "q_ext_media_video",
    // r12: the corpus-independent exact-ingest point probe — its whole
    // claim is flatness at scale, so it runs at the 10× tier
    "q_ext_ingest_exact_routed",
    // r13: the video family (multi-container encode + demux + sampled
    // decode + banded signature collapse) — per-partition decode and
    // band-join shape must hold at 10× docs — and the image→ANN bridge
    // (decode + index build amortized by the cache, 10× search fan-in)
    "q_ext_media_video_neardup", "q_ext_media_video_formats",
    "q_ext_media_knn",
    // r14: the audio family (3-container encode + dispatch-validated
    // decode + banded envelope collapse) and the media quarantine
    // (per-row codec validation) — per-partition decode cost and the
    // band-join shape must hold at 10× docs
    "q_ext_media_audio_neardup", "q_ext_media_audio_formats",
    "q_ext_media_quarantine", "q_ext_media_ingest_neardup",
    // r15: the end-to-end media ingest composition (decode-once
    // validate → quarantine → hamming-routed dedup) — per-row decode
    // cost and the band probe shape must hold at 10× docs
    "q_ext_media_ingest_compose",
    // r15: the simhash-routed text tier — flatness at 10x is its claim
    "q_ext_ingest_simhash_routed",
    // r16 additions (VERDICT r15 task 6): make_sf1 now replicates the
    // EVENTS table 10× (id offsets ≡ 0 mod lcm(3..13) keep every
    // RefShapes modulo-derived domain byte-identical per replica), so
    // the model families' FULL builds — the dbt-equivalent headline
    // surface — and the event-derived analytics rows finally run on a
    // genuinely 10× input instead of a hard-linked sf0.1 one. The
    // _incr rows above predate this and measured gate shape only.
    "q_model_daily", "q_model_pages", "q_model_leads",
    "q_model_daily_sql", "q_model_pages_sql", "q_model_leads_sql",
    "q_ext_sessionize", "q_ext_sessionize_sql", "q_ext_funnel",
    "q_ext_retention", "q_ext_session_window", "q_ext_sliding_window",
    "q_ext_interval_join", "q_ext_asof_attrib", "q_ext_locf",
    "q_ext_interpolate",
    // the reference-mandated global ROW_NUMBER (single-partition window,
    // PlanAudit-flagged) — the one known scale cliff worth a 10× number
    "q_w2_global_id",
    // r17: its shipped scale-safe twin — the contrast number (md5 hash
    // id, no global exchange) must stay flat where the quirk cliffs
    "q_w2_scale_safe",
    // r18: the watermarked model-3 twin next to its faithful row — the
    // designed contrast pair for the rescan-all-events cost profile:
    // the [EXT] twin's batch-2 events scan is watermark-pruned, so it
    // must stay flat at 10× history where the faithful row grows
    // linearly with it
    "q_model_leads_incr_watermarked")

  /** Host-throughput canary (VERDICT r14 task 3): a fixed, deterministic,
    * Spark-free, single-threaded 64-bit-mix loop (splitmix64 finalizer)
    * timed at artifact start and end. Guest load averages demonstrably
    * cannot see the VM's deliverable per-core throughput decaying (the
    * four r14 idle closures read 147.8→186.7 s with UNIFORM per-row
    * drift and load stamps under the bound every time) — the canary
    * turns that host sag into a normalizable number: flag logic divides
    * each row's ratio-to-reference by the canary ratio (this run's
    * canary / the reference run's canary) before classifying `real`.
    * Single-threaded on purpose: per-core throughput is what steals
    * uniformly from every row; an all-core canary would confound with
    * scheduler noise. Min of 2 timed passes after a JIT warmup pass so
    * the number is the loop's floor, not its compilation.
    */
  private def canarySec(): Double = {
    def pass(n: Long): Long = {
      var acc = 0L; var i = 0L
      while (i < n) {
        var z = i + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        acc ^= z ^ (z >>> 31)
        i += 1
      }
      acc
    }
    // quiesce: a warm Spark JVM keeps background GC/cleaner threads busy
    // enough to inflate a 1 s single-thread loop ~13% (measured); drain
    // before timing so the canary reads the HOST, not the JVM's backlog
    System.gc(); Thread.sleep(200)
    val n = 1200000000L
    var sink = pass(n / 16) // JIT warmup, result consumed below
    val t = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); sink ^= pass(n); (System.nanoTime() - t0) / 1e9
    }.min
    if (sink == 42L) println("[bench] canary sink") // defeat dead-code elim
    math.round(t * 10000.0) / 10000.0
  }

  /** I/O-throughput canary (VERDICT r15 task 7): the CPU canary is
    * pure-compute by design and therefore BLIND to storage-path
    * contention — page-cache pressure, dirty-writeback throttling,
    * neighbor I/O — which steals from parquet-scan/write-heavy rows
    * while the splitmix64 loop reads normal. This second normalizer
    * writes a fixed 256 MB (8 MB chunks), fsyncs once, reads it back,
    * and deletes — against the WORKING directory, the same filesystem
    * the bench's store writes land on. Min of 2 timed passes after a
    * warmup pass (page cache + JIT). Flag normalization divides by the
    * max of the two canary ratios (BASELINE.md rule 3a): a host sagging
    * on either axis discounts every row before `real` classification.
    * Neither canary sees allocator/GC contention inside OTHER JVMs
    * sharing the host — that confound class still needs a re-measure.
    */
  private def ioCanarySec(): Double = {
    // The canary file lands under java.io.tmpdir, NOT the process CWD
    // (ADVICE r16): the bench's actual storage traffic — Spark shuffle
    // spill (spark.local.dir defaults to java.io.tmpdir), the sink
    // rows' fragment stores (Files.createTempDirectory), and the sf1
    // tier's input under /tmp — rides the tmpdir mount, so a CWD file
    // could normalize against a different device. The read-only
    // testdata mount is never writable, so sfDir itself is not an
    // option at sf0.1. try/finally so a throwing pass can't leak the
    // 256 MB temp file.
    val path = Paths.get(System.getProperty("java.io.tmpdir"),
      s"bench_io_canary_${ProcessHandle.current().pid()}.tmp")
    val chunk = new Array[Byte](8 << 20)
    java.util.Arrays.fill(chunk, 0x5A.toByte)
    def pass(): Double = {
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(path,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE,
        StandardOpenOption.TRUNCATE_EXISTING)
      try {
        var i = 0
        while (i < 32) { ch.write(java.nio.ByteBuffer.wrap(chunk)); i += 1 }
        ch.force(false)
      } finally ch.close()
      var acc = 0L
      val in = java.nio.channels.FileChannel.open(path, StandardOpenOption.READ)
      try {
        val buf = java.nio.ByteBuffer.allocate(8 << 20)
        var n = in.read(buf)
        while (n >= 0) { acc += n; buf.clear(); n = in.read(buf) }
      } finally in.close()
      if (acc == 42L) println("[bench] io canary sink") // defeat DCE
      (System.nanoTime() - t0) / 1e9
    }
    try {
      pass() // page-cache/JIT warmup
      val t = (1 to 2).map(_ => pass()).min
      math.round(t * 10000.0) / 10000.0
    } finally { Files.deleteIfExists(path); () }
  }

  /** Decode-axis canary (VERDICT r16 task 1): a fixed in-memory ImageIO
    * decode loop — PNG + JPEG round-trips of a deterministic 256×256
    * RGB image, encoded ONCE outside the timed window. The CPU and I/O
    * canaries are demonstrably blind to this axis: the media decode
    * family flagged `real` on byte-unchanged code in r13, r15, and
    * twice in r16, each exonerated by a manual cool-host A/B —
    * ImageIO throughput varies with host-day JIT/allocator behavior
    * that neither a splitmix64 loop nor a 256 MB write+read sees. The
    * resulting factor folds into flag normalization for MEDIA-family
    * rows only (name contains "media"): a decode-axis sag must not
    * discount text rows it cannot have touched. Same protocol as the
    * siblings: GC quiesce, JIT warmup pass, min of 3 timed passes.
    */
  private def decodeCanarySec(): Double = {
    import java.awt.image.BufferedImage
    javax.imageio.ImageIO.setUseCache(false) // in-memory: this times DECODE, not disk
    val img = new BufferedImage(256, 256, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 256) {
      var x = 0
      while (x < 256) {
        var z = ((y.toLong << 32) | x.toLong) + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        img.setRGB(x, y, ((z ^ (z >>> 31)) & 0xFFFFFF).toInt)
        x += 1
      }
      y += 1
    }
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val png = enc("png")
    val jpg = enc("jpg")
    def pass(n: Int): Long = {
      var acc = 0L; var i = 0
      while (i < n) {
        val p = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
        val j = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
        acc += p.getRGB(i % 256, 7).toLong + j.getRGB(11, i % 256).toLong
        i += 1
      }
      acc
    }
    System.gc(); Thread.sleep(200)
    var sink = pass(20) // JIT warmup, result consumed below
    val n = 400 // ~0.6 s per pass on this class of host (150 read 0.22 s)
    val t = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); sink ^= pass(n); (System.nanoTime() - t0) / 1e9
    }.min
    if (sink == 42L) println("[bench] decode canary sink") // defeat DCE
    math.round(t * 10000.0) / 10000.0
  }

  /** The per-row Spark breakdown: one listener, registered for the whole
    * run, whose counters [[take]] reads and resets after draining the
    * listener bus — so each pass's snapshot holds exactly the events that
    * pass caused, with no sleep-and-hope delay. Drains happen outside the
    * timed window.
    */
  private final class RowProbe(sc: org.apache.spark.SparkContext) extends SparkListener {
    private var jobs, stages, tasks, runMs, shufR, shufW, input = 0L
    sc.addSparkListener(this)

    def take(buildS: Double, wallS: Double): BenchLines.RowLayers = {
      org.apache.spark.GraftListenerBus.drain(sc)
      synchronized {
        val out = BenchLines.RowLayers(buildS, wallS, jobs, stages, tasks,
          runMs, shufR, shufW, input)
        jobs = 0; stages = 0; tasks = 0; runMs = 0; shufR = 0; shufW = 0; input = 0
        out
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        runMs += m.executorRunTime
        shufR += m.shuffleReadMetrics.totalBytesRead
        shufW += m.shuffleWriteMetrics.bytesWritten
        input += m.inputMetrics.bytesRead
      }
    }
  }

  def main(args: Array[String]): Unit = {
    // PRE-FLIGHT idle certification (VERDICT r12 #2): an 11-minute pass
    // matrix on a loaded host produces a timing artifact the round then
    // has to disown — so check BEFORE pass 1, not after. Poll until the
    // host is under BASELINE.md rule 3's bound (load1 ≤ max(2, cpus/8)),
    // up to a wait budget; closure runs set
    // SPARK_GRAFT_BENCH_REQUIRE_IDLE=1 to hard-refuse instead of
    // proceeding contended (driver runs keep best-effort semantics — a
    // missing BENCH_r{N}.json is worse than a stamped-contended one).
    locally {
      def load1(): Double =
        java.lang.management.ManagementFactory.getOperatingSystemMXBean
          .getSystemLoadAverage
      val bound = math.max(2.0, Runtime.getRuntime.availableProcessors / 8.0)
      // malformed value → default, never a NumberFormatException: a
      // crashed preflight IS the missing-artifact outcome this guard
      // exists to avoid (ADVICE r13). getSystemLoadAverage returns -1
      // on unsupported platforms, which passes every bound — acceptable:
      // no load signal beats no artifact.
      val waitBudgetSec = sys.env.get("SPARK_GRAFT_BENCH_IDLE_WAIT")
        .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(600)
      val deadline = System.nanoTime() + waitBudgetSec * 1000000000L
      var l = load1()
      while (l > bound && System.nanoTime() < deadline) {
        println(f"[bench] preflight: load1 $l%.2f > bound $bound%.1f — waiting for idle")
        Thread.sleep(15000)
        l = load1()
      }
      if (l > bound) {
        println(f"[bench] preflight: still contended after ${waitBudgetSec}s (load1 $l%.2f > $bound%.1f)")
        if (sys.env.get("SPARK_GRAFT_BENCH_REQUIRE_IDLE").contains("1")) {
          println("[bench] preflight: SPARK_GRAFT_BENCH_REQUIRE_IDLE=1 — refusing to run")
          sys.exit(2)
        }
      }
    }
    val sf1 = sys.env.get("SPARK_GRAFT_SF").contains("1")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      if (sf1) "/tmp/sf1" else "/root/testdata/sf0.1")
    if (sf1) require(new java.io.File(s"$sfDir/documents.parquet").exists(),
      s"sf1 tier input missing at $sfDir — generate it with: python3 dev/make_sf1.py $sfDir")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.runtime.SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.runtime.Sources.bootstrap(spark)
    // JVM/codegen/scan-path warmup so the first timed query doesn't absorb
    // ~5s of one-time init (measured); touches no benchmark query's plan.
    spark.range(100000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/region.parquet").write.format("noop").mode("overwrite").save()

    // Between-rows hygiene (r6 verdict): one session serves every row
    // while holders accumulate broadcasts, cached relations, and cleaner
    // backlog — late-run rows were drifting up on byte-unchanged code.
    // Clearing cached relations / stray persisted RDDs and nudging the
    // ContextCleaner (GC-driven) BETWEEN rows keeps each row's number a
    // function of its own plan. Runs outside the timed window; passes
    // within a row stay warm so min-of-2 semantics are unchanged.
    def hygiene(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    // Dev-only row subset (comma-separated names); absent = full bench,
    // which is the driver contract. The sf1 tier pins its registered
    // row set unless an explicit subset narrows it further.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
      .orElse(if (sf1) Some(sf1Rows) else None)
    def load1(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val nPasses = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(3)
    val canaryStart = canarySec()
    val ioCanaryStart = ioCanarySec()
    val decodeCanaryStart = decodeCanarySec()
    val loadStart = load1()
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val spreads = scala.collection.mutable.LinkedHashMap[String, Double]()
    val layers = scala.collection.mutable.LinkedHashMap[String, BenchLines.RowLayers]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val probe = new RowProbe(spark.sparkContext)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val passes = (1 to nPasses).map { _ =>
          probe.take(0.0, 0.0) // drop what earlier work left on the bus
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val built = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t1 = System.nanoTime()
          probe.take((built - t0) / 1e9, (t1 - t0) / 1e9)
        }
        val best = passes.minBy(_.wallS)
        val walls = passes.map(_.wallS)
        timings(name) = best.wallS
        layers(name) = best
        spreads(name) = math.round(
          (walls.max - walls.min) / walls.min * 1000.0) / 1000.0
      } catch {
        case e: Throwable =>
          errors(name) = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
      }
      hygiene()
    }
    spark.sparkContext.removeSparkListener(probe)
    // SETTLE before the end stamp (r16, amended r17 per ADVICE): load1
    // is a ~1-minute EWMA, so the bench's OWN local[32] final rows
    // leave it elevated for tens of seconds after the work stops — the
    // r16 closure read load1_end 4.28 (> the 4.0 bound) on a host whose
    // canaries were healthy and whose 5 flags all re-measured clean,
    // stamping an honest run `contended`. 30 s of idle decays self-load
    // by ~40% (e^-0.5) while genuine NEIGHBOR load, which persists,
    // still reads through. BUT the settle also decays real neighbor
    // load that happens to end with the run's final rows — so BOTH
    // stamps are recorded (raw at work-stop, settled after 30 s) and
    // the settled value is only APPLIED to the contended verdict when
    // both host-wide canary pairs are clean (no mid-run throughput
    // decay on either axis); a run whose canaries sagged keeps the raw
    // stamp. Adjudication always sees both numbers in the host JSON.
    // The canaries run after the stamps (single-threaded, negligible
    // EWMA contribution).
    val loadEndRaw = load1()
    Thread.sleep(30000)
    val loadEndSettled = load1()
    val canaryEnd = canarySec()
    val ioCanaryEnd = ioCanarySec()
    val decodeCanaryEnd = decodeCanarySec()
    // all THREE canary pairs gate the settled stamp (ADVICE r17): a
    // mid-run decode-axis sag is host evidence too — ImageIO rides the
    // same cores as the neighbors — so a decode-only sag keeps the raw
    // stamp exactly like a cpu/io sag; the stricter criterion can only
    // keep MORE honest runs stamped contended, never fewer.
    val canariesClean =
      canaryEnd <= 1.15 * canaryStart && ioCanaryEnd <= 1.15 * ioCanaryStart &&
        decodeCanaryEnd <= 1.15 * decodeCanaryStart
    val loadEnd = if (canariesClean) loadEndSettled else loadEndRaw
    val hostCpus = Runtime.getRuntime.availableProcessors
    val host = s"""{"load1_start":$loadStart,"load1_end":$loadEnd,""" +
      s""""load1_end_raw":$loadEndRaw,"load1_end_settled":$loadEndSettled,""" +
      s""""canaries_clean":$canariesClean,""" +
      s""""cpus":$hostCpus,"passes":$nPasses,""" +
      s""""canary_start":$canaryStart,"canary_end":$canaryEnd,""" +
      s""""io_canary_start":$ioCanaryStart,"io_canary_end":$ioCanaryEnd,""" +
      s""""decode_canary_start":$decodeCanaryStart,"decode_canary_end":$decodeCanaryEnd}"""
    // per-row verdicts vs a reference run (BASELINE.md's criterion,
    // applied mechanically so a truncated driver tail needs no closure
    // file as rebuttal)
    // sf-aware default (VERDICT r16 task 4): the sf1 tier adjudicates
    // against its own checked-in reference (dev/bench_sf1_ref.json, a
    // clean post-spine-fix tier run) instead of silently declining on
    // the sf0.1 ref's sf mismatch — tier comparisons are mechanical,
    // not hand-reconstructed.
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF",
      if (sf1) "dev/bench_sf1_ref.json" else "dev/bench_ref.json")
    val (refTimes: Map[String, Double], refCanary: Option[Double],
         refIoCanary: Option[Double], refDecodeCanary: Option[Double]) = {
      val p = Paths.get(refPath)
      if (!Files.exists(p)) (Map.empty[String, Double], None, None, None)
      else {
        // A dead adjudicator must be VISIBLE (ADVICE r11): when the ref
        // file exists but yields zero usable timings — regex drift, sf
        // mismatch, malformed body — say why instead of silently
        // degrading to "no reference present".
        val loaded = scala.util.Try[Either[String, (Map[String, Double], Option[Double], Option[Double], Option[Double])]] {
          val body = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
          // the ref run's own canary readings (absent in pre-r15 refs →
          // normalization off, factor 1.0; io pair absent in pre-r16
          // refs → the io normalizer alone stays off; decode pair
          // absent in pre-r17 refs → the decode normalizer alone stays
          // off)
          def num(field: String): Option[Double] =
            (""""""" + field + """"\s*:\s*([0-9.eE+-]+)""").r
              .findFirstMatchIn(body).flatMap(m =>
                scala.util.Try(m.group(1).toDouble).toOption)
          // min of the pair: a genuinely decayed host inflates BOTH
          // readings, while warm-JVM one-sided noise (measured ~15% on
          // the end reading) only inflates one
          def minPair(a: Option[Double], b: Option[Double]): Option[Double] =
            (a, b) match {
              case (Some(x), Some(y)) if x > 0 && y > 0 => Some(math.min(x, y))
              case _ => None
            }
          val cRef = minPair(num("canary_start"), num("canary_end"))
          val ioRef = minPair(num("io_canary_start"), num("io_canary_end"))
          val dcRef = minPair(num("decode_canary_start"), num("decode_canary_end"))
          // a reference from a DIFFERENT scale factor flags everything
          // (sf1 rows are 10× the sf0.1 reference by design): only
          // adjudicate same-sf runs
          val refSf = """"sf"\s*:\s*"([^"]*)"""".r
            .findFirstMatchIn(body).map(_.group(1))
          if (!refSf.contains(sfDir))
            Left(s"sf mismatch: ref has ${refSf.getOrElse("<none>")}, run is $sfDir")
          else {
            val m = """"queries"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(body)
            val parsed = m.map(_.group(1).split(",").flatMap { kv =>
              kv.split(":") match {
                case Array(k, v) => scala.util.Try(
                  k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toDouble).toOption
                case _ => None
              }
            }.toMap).getOrElse(Map.empty[String, Double])
            if (parsed.isEmpty) Left("no parsable \"queries\" map in ref file")
            else Right((parsed, cRef, ioRef, dcRef))
          }
        }.fold(e => Left(s"unreadable: ${e.getClass.getSimpleName}: ${e.getMessage}"), identity)
        loaded match {
          case Right(mc) => mc
          case Left(reason) =>
            println(s"[bench] reference file $refPath present but UNUSED ($reason) — flag adjudication is OFF this run")
            (Map.empty[String, Double], None, None, None)
        }
      }
    }
    // host-throughput normalization (VERDICT r14 task 3, widened r16
    // task 7): this run's deliverable throughput relative to the
    // reference run's, from TWO canary pairs — per-core compute
    // (splitmix64 loop) and storage path (256 MB write+fsync+read).
    // factor > 1 means THIS host delivers less than the host the
    // reference was measured on; every row's ratio-to-ref is divided by
    // the MAX of the two ratios before the 1.3× criterion applies, so
    // uniform host sag on either axis stops masquerading as uniform
    // regression. Clamped to ≥ 1.0 per axis: a FASTER host must not
    // excuse a slower row. Confound classes NEITHER canary normalizes
    // (BASELINE.md rule 3a): allocator/GC pressure inside other JVMs,
    // scheduler latency spikes — those still require a cool-host
    // re-measure to adjudicate.
    val thisCanary = math.min(canaryStart, canaryEnd)
    val thisIoCanary = math.min(ioCanaryStart, ioCanaryEnd)
    val thisDecodeCanary = math.min(decodeCanaryStart, decodeCanaryEnd)
    val cpuFactor = refCanary match {
      case Some(rc) if rc > 0 => math.max(1.0, thisCanary / rc)
      case _ => 1.0
    }
    val ioFactor = refIoCanary match {
      case Some(rc) if rc > 0 => math.max(1.0, thisIoCanary / rc)
      case _ => 1.0
    }
    // decode-axis factor (VERDICT r16 task 1): applied to MEDIA-family
    // rows only — ImageIO throughput drift is real on those rows and
    // meaningless on text rows, so folding it into the global factor
    // would loosen every row's criterion to excuse one family's axis.
    val decodeFactor = refDecodeCanary match {
      case Some(rc) if rc > 0 => math.max(1.0, thisDecodeCanary / rc)
      case _ => 1.0
    }
    val hostFactor = math.max(cpuFactor, ioFactor)
    def rowFactor(name: String): Double =
      BenchLines.rowFactor(name, SparkEntry.queryFamilies, hostFactor, decodeFactor)
    if (refCanary.isDefined || refIoCanary.isDefined || refDecodeCanary.isDefined)
      println(f"[bench] canary: cpu ${thisCanary}%.3fs vs ref ${refCanary.getOrElse(-1.0)}%.3fs (factor $cpuFactor%.3f), " +
        f"io ${thisIoCanary}%.3fs vs ref ${refIoCanary.getOrElse(-1.0)}%.3fs (factor $ioFactor%.3f), " +
        f"decode ${thisDecodeCanary}%.3fs vs ref ${refDecodeCanary.getOrElse(-1.0)}%.3fs (factor $decodeFactor%.3f, media rows only) " +
        f"-> host factor $hostFactor%.3f")
    // BASELINE.md's criterion, verbatim: (3) loaded host taints the file;
    // (2) spread only judges rows at/above 1 s (sub-second rows are
    // warmup-dominated — judged on absolute deltas, flagged as such).
    // The idleness threshold is load1 > max(2, cpus/8), NOT load >= cpus
    // (VERDICT r11 #2): on a 32-cpu host a load of 4.6 demonstrably
    // inflated model rows 1.3× while still reading "idle" under the old
    // rule — `< cpus` certifies only "not fully saturated", which is far
    // too lax to certify a timing as attributable.
    val contended =
      math.max(loadStart, loadEnd) > math.max(2.0, hostCpus / 8.0)
    // the criterion applies to the HOST-NORMALIZED time (t / rowFactor):
    // a row is flagged only if it is slow even after discounting measured
    // throughput sag on the axes that can touch it (cpu/io for every
    // row; the decode axis additionally for media rows). Factors are 1.0
    // when the ref predates canaries or the host is at/above ref
    // throughput.
    val flags = timings.toSeq.flatMap { case (name, t) =>
      refTimes.get(name).collect {
        case ref if ref > 0 && t / rowFactor(name) > 1.3 * ref =>
          val spread = spreads.getOrElse(name, 0.0)
          val verdict =
            if (contended) "contention"
            else if (t < 1.0) "subsecond"
            else if (spread > 0.5) "noisy"
            else "real"
          println(f"[bench] flag $name: $t%.2fs vs ref $ref%.2fs " +
            f"(${t / ref}%.1fx raw, ${t / rowFactor(name) / ref}%.1fx normalized at factor ${rowFactor(name)}%.3f) " +
            f"spread=$spread%.3f -> $verdict")
          BenchLines.Flag(name, t, ref, spread, verdict)
      }
    }
    // flagged rows WITH magnitudes (VERDICT r14 task 7), ranked so the
    // verdicts a human must adjudicate come first: real, then noisy,
    // then contention, then subsecond; within a verdict, worst
    // ratio-to-ref first. The MAIN line (file-backed, no truncation
    // risk) carries the full array; the stdout summary line carries a
    // CAPPED prefix (VERDICT r15 finding #1: a ~19-flag contended run
    // grew the summary past the driver's 2000-byte tail window and
    // truncated away the run's total/host/canary — the r14 fix for one
    // lost magnitude cost the whole run's summary).
    val total = timings.values.sum
    val run = BenchLines.Run(
      total = total, sf = sfDir, host = host, contended = contended,
      hostFactor = hostFactor, decodeFactor = decodeFactor,
      ref = if (refTimes.isEmpty) "" else refPath, flags = flags,
      errors = errors.toSeq, spreads = spreads.toSeq, timings = timings.toSeq,
      layers = layers.toSeq, cpus = cpus.toInt)
    val line = BenchLines.mainLine(run)
    // Tail-safety, for real this time (VERDICT r11 finding #1): the r10
    // fix put the instruments BEFORE the queries map, but the driver
    // keeps the TAIL of stdout — BENCH_r11.json lost host/flags/spread.
    // So a SECOND, compact summary line goes out LAST: any tail capture
    // keeps it, and it carries everything except the per-row maps.
    // Since r16 the flagged array here is capped (real-first) with an
    // explicit flagged_dropped count, and a THIRD size-bounded line
    // follows so even a pathological flag storm cannot starve the tail
    // window of the run's totals.
    val summaryLine = BenchLines.summaryLine(run)
    // The LAST line is the guaranteed carrier (VERDICT r15 task 1): a
    // fixed-field, byte-bounded digest of everything adjudication needs
    // — total, host stamps, canary pair, contended verdict, flag counts,
    // and the single worst real-verdict row. BenchLinesSpec pins the
    // byte budget against worst-case field magnitudes.
    val tailLine = BenchLines.tailLine(
      total = total, rows = timings.size, errorsCount = errors.size,
      contended = contended, hostFactor = hostFactor,
      decodeFactor = decodeFactor,
      canaryStart = canaryStart, canaryEnd = canaryEnd,
      ioCanaryStart = ioCanaryStart, ioCanaryEnd = ioCanaryEnd,
      decodeCanaryStart = decodeCanaryStart, decodeCanaryEnd = decodeCanaryEnd,
      loadStart = loadStart, loadEnd = loadEnd, loadEndRaw = loadEndRaw,
      flagCounts = flags.groupBy(_.verdict).map { case (k, v) => k -> v.size },
      worstReal = BenchLines.ranked(flags).headOption.filter(_.verdict == "real")
        .map(f => (f.row, f.value, f.ref, f.spread)))
    Files.write(
      Paths.get("bench_out.json"),
      (line + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
    println(line)
    println(summaryLine)
    println(tailLine)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
