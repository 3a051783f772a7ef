package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.Graft

/** The benchmark process: one workload, one seed, one run.
  *
  * {{{
  * graftbench.Main --workload corpus --seed 7 --seconds 10 --trace 0 \
  *   --work <scratch dir> [--spans <file>] [--smoke]
  * graftbench.Main --dump-inputs <dir> --seed 7
  * }}}
  *
  * Prints a settings line, then the result object as the LAST stdout
  * line. Exits non-zero, printing no result, when the run cannot be
  * measured as specified.
  */
object Main {

  /** Engine env knobs that override defaults: a run with any of them set
    * would not measure what users get.
    */
  val OverrideKnobs = Seq("SPARK_GRAFT_AQE_MIN_PARTITION", "SPARK_GRAFT_CODEGEN_CACHE",
    "SPARK_GRAFT_CODEGEN_CLASS_ID")

  val Workloads = Seq("warehouse_refresh", "corpus")
  /** Fewest timed cycles per run, whatever `--seconds` says. */
  val MinCycles = 1
  val OpKinds = Seq("refresh", "refresh_sql", "ingest", "read", "curate", "knn")
  val SparkMetrics = Seq(
    "wall_p50_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.one_task_stages" -> "count", "spark.executor_run_s" -> "s",
    "spark.par_eff" -> "ratio", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.input_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.driver_gap_s" -> "s", "spark.codegen_compiles" -> "count",
    "catalyst.plan_s" -> "s", "trace.overhead_s" -> "s")
  val LayerMetrics = Seq(
    "sources.events_scans" -> "count", "sources.events_read_mb" -> "MB",
    "materializer.daily_write_s" -> "s", "materializer.pages_write_s" -> "s",
    "materializer.leads_write_s" -> "s", "materializer.written_mb" -> "MB",
    "materializer.rewrite_ratio" -> "ratio",
    "streaming.addbatch_s" -> "s", "streaming.wal_s" -> "s",
    "store.read_s" -> "s", "store.upsert_s" -> "s", "store.compact_s" -> "s",
    "store.compactions" -> "1/op", "store.live_fragments" -> "count",
    "store.scan_ratio" -> "ratio", "store.write_amp" -> "ratio",
    "ingest.survivor_ratio" -> "ratio",
    "dedup.exact_s" -> "s", "dedup.minhash_s" -> "s", "dedup.cc_s" -> "s",
    "dedup.scrub_s" -> "s", "dedup.edit_s" -> "s", "dedup.pairs_found" -> "count",
    "index.recall" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val overridden = OverrideKnobs.filter(sys.env.contains)
    if (overridden.nonEmpty) {
      System.err.println(s"refusing to run: ${overridden.mkString(", ")} set " +
        "(the benchmark measures the engine's defaults)")
      sys.exit(2)
    }
    val seed = opts.getOrElse("seed", sys.error("--seed is required")).toLong
    opts.get("dump-inputs") match {
      case Some(dir) => dumpInputs(Paths.get(dir), seed); return
      case None => ()
    }
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload),
      s"--workload must be one of ${Workloads.mkString(", ")}, not '$workload'")
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") match {
      case "0" => false
      case "1" => true
      case t => sys.error(s"--trace must be 0 or 1, not '$t'")
    }
    val sizes = if (opts.contains("smoke")) Sizes.smoke else Sizes.full
    val work = Paths.get(opts.getOrElse("work", sys.error("--work is required")))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Graft.session(master = s"local[$cores]")
    try {
      val result = run(spark, workload, seed, seconds, trace, sizes, work, cores,
        opts.get("spans").map(Paths.get(_)))
      println(result)
    } finally spark.stop()
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val out = mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"unexpected argument '$a'")
      if (a == "--smoke") { out("smoke") = "1"; i += 1 }
      else {
        require(i + 1 < args.length, s"$a needs a value")
        out(a.drop(2)) = args(i + 1); i += 2
      }
    }
    out.toMap
  }

  /** Driver heap in use right after a forced full collection (MB): the
    * least of three collections 100 ms apart, so objects Spark's cleaner
    * releases only after a collection has run are gone.
    */
  def liveHeapMb(): Double =
    (0 until 3).map { _ =>
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      Thread.sleep(100)
      used
    }.min

  /** Waits (at most 5 s) until the JIT compiled for under 20 ms in the
    * last 250 ms, so compilation left over from the warm-up does not
    * compete with the first timed ops.
    */
  def jitQuiesce(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = jit.getTotalCompilationTime
    var busy = true
    while (busy && System.nanoTime() < deadline) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      busy = now - last >= 20
      last = now
    }
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
          trace: Boolean, sz: Sizes, work: Path, cores: Int,
          spansOut: Option[Path]): String = {
    val tracer = new Tracer(trace)
    val w: Workload = workload match {
      case "warehouse_refresh" => new Warehouse(spark, seed, sz, tracer)
      case "corpus" => new Corpus(spark, seed, sz, tracer)
    }
    // set-up runs from process start to the first timed op: JVM and
    // session start, inputs and initial build, the first live-heap
    // checkpoint, the discarded warm-up ops, then a wait for the JIT to
    // drain its compile queue. The checkpoint precedes the warm-up: its
    // full collections hand Spark's ContextCleaner every dead shuffle and
    // broadcast of the build at once, and that cleanup must not land in
    // the first timed ops.
    val build = timed(w.setup(work.resolve("state")))
    val heap = mutable.ArrayBuffer(liveHeapMb())
    val warmUp = timed(w.warmUp())
    val settle = timed(jitQuiesce())
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val probe = if (trace) Some(new Probe(spark)) else None
    w.beginTimed()

    val samples = mutable.ArrayBuffer[(Int, OpSample)]()
    var failed = 0
    val cycle = w.order.size
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    // whole cycles only, so every op kind is sampled in its fixed share,
    // and at least MinCycles of them
    while (System.nanoTime() < deadline || i % cycle != 0 || i < MinCycles * cycle) {
      val kind = w.order(i % cycle)
      val body = w.prepare(i, kind)
      probe.foreach { p => p.drain(); p.take() }
      tracer.beginOp(i, kind)
      val c0 = Probe.codegenCompiles()
      val s0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val ok = try { body(); true } catch {
        case e: Exception =>
          System.err.println(s"op $i ($kind) failed: $e"); e.printStackTrace(); false
      }
      val wall = (System.nanoTime() - n0) / 1e9
      val s1 = System.currentTimeMillis()
      val compiles = Probe.codegenCompiles() - c0
      tracer.endOp()
      val o0 = System.nanoTime()
      val counts = probe.map { p => p.drain(); p.take() }
      if (trace && ok) w.observe(i, kind)
      val overhead = if (trace) (System.nanoTime() - o0) / 1e9 else 0.0
      if (ok) samples += ((i, OpSample(kind, s0, s1, wall, compiles, counts, overhead)))
      else failed += 1
      i += 1
    }
    heap += liveHeapMb()
    probe.foreach(_.close())

    val c0 = System.nanoTime()
    val checks = w.checks()
    checks.filterNot(_._2).foreach { case (n, _) => System.err.println(s"check failed: $n") }
    val (onDisk, once) = w.spaceBytes(work.resolve("scratch"))
    val checksS = (System.nanoTime() - c0) / 1e9
    val walls = samples.map(_._2).groupBy(_.kind).map { case (k, v) => k -> v.map(_.wallS).toSeq }
    // per cycle whose ops all completed: the summed walls of each role
    val whole = samples.groupBy(_._1 / cycle).values.filter(_.size == cycle).toSeq
    def perCycle(kinds: Set[String]): Seq[Double] =
      whole.map(_.collect { case (_, o) if kinds(o.kind) => o.wallS }.sum)
    val (primary, secondary) = (perCycle(w.primary), perCycle(w.secondary))
    val quality = checks.count(_._2).toDouble / checks.size
    val correct = checks.forall(_._2) && failed == 0

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("primary_p50_s", Stats.median(primary), "s"),
        ("secondary_p50_s", Stats.median(secondary), "s"),
        ("quality", quality, "ratio"),
        ("ok_ratio", (i - failed).toDouble / i, "ratio"),
        ("space_amp", onDisk.toDouble / once, "ratio"),
        ("live_heap_mb", heap.max, "MB"))
      else {
        val layer = w.layers(samples.toSeq, tracer)
        val perKind = OpKinds.flatMap { k =>
          val got = sparkMetrics(samples.map(_._2).filter(_.kind == k).toSeq, cores)
          SparkMetrics.map { case (m, u) => (s"$k.$m", got.getOrElse(m, 0.0), u) }
        }
        perKind ++ LayerMetrics.map { case (m, u) => (m, layer.getOrElse(m, 0.0), u) }
      }
    spansOut.foreach(tracer.writeJsonl)
    w.close()

    val tails = walls.toSeq.sortBy(_._1).map { case (k, v) =>
      val t = Stats.tailPercentile(v.size)
        .map(p => s""""p$p": ${num(Stats.quantile(v, p / 100.0))}""").getOrElse(""""p": null""")
      s""""$k": {"n": ${v.size}, "p50": ${num(Stats.median(v))}, $t, """ +
        s""""walls": [${v.map(num).mkString(", ")}]}"""
    }
    println(s"""{"settings": {"workload": "$workload", "seed": $seed, "seconds": $seconds, """ +
      s""""trace": $trace, "master": "${spark.sparkContext.master}", "cores": $cores, """ +
      s""""shuffle_partitions": "${spark.conf.get("spark.sql.shuffle.partitions")}", """ +
      s""""aqe_min_partition_size": "${spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")}", """ +
      s""""codegen_cache_entries": "${spark.conf.get("spark.sql.codegen.cache.maxEntries")}", """ +
      s""""max_heap_mb": ${Runtime.getRuntime.maxMemory / 1000000}, """ +
      s""""build_s": ${num(build)}, "warm_up_s": ${num(warmUp)}, "jit_settle_s": ${num(settle)}, """ +
      s""""checks_s": ${num(checksS)}, "jvm_s": ${num(ManagementFactory.getRuntimeMXBean.getUptime / 1e3)}, """ +
      s""""cycles": ${whole.size}, "primary_walls": [${primary.map(num).mkString(", ")}], """ +
      s""""secondary_walls": [${secondary.map(num).mkString(", ")}], """ +
      s""""ops": {${tails.mkString(", ")}}, """ +
      s""""checks": {${checks.map { case (n, ok) => s""""$n": $ok""" }.mkString(", ")}}}}""")
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $i, "failed": $failed, "metrics": {${body.mkString(", ")}}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** Per-op Spark metrics of one op kind, averaged over its ops. */
  def sparkMetrics(ops: Seq[OpSample], cores: Int): Map[String, Double] =
    if (ops.isEmpty) Map.empty
    else {
      val n = ops.size.toDouble
      val cs = ops.flatMap(_.counts)
      def mean(f: SparkCounts => Long) = cs.map(f).sum / n
      val wall = ops.map(_.wallS).sum
      val gaps = ops.zip(cs).map { case (o, c) => Stats.uncovered(o.startMs, o.endMs, c.taskIntervals) }
      Map(
        "wall_p50_s" -> Stats.median(ops.map(_.wallS)),
        "spark.jobs" -> mean(_.jobs), "spark.stages" -> mean(_.stages),
        "spark.tasks" -> mean(_.tasks), "spark.one_task_stages" -> mean(_.oneTaskStages),
        "spark.executor_run_s" -> mean(_.executorRunMs) / 1e3,
        "spark.par_eff" -> cs.map(_.executorRunMs).sum / 1e3 / (wall * cores),
        "spark.shuffle_read_mb" -> mean(_.shuffleReadBytes) / 1e6,
        "spark.shuffle_write_mb" -> mean(_.shuffleWriteBytes) / 1e6,
        "spark.input_mb" -> mean(_.inputBytes) / 1e6,
        "spark.spill_mb" -> mean(_.spillBytes) / 1e6,
        "spark.driver_gap_s" -> gaps.sum / 1e3 / n,
        "spark.codegen_compiles" -> ops.map(_.compiles).sum / n,
        "catalyst.plan_s" -> mean(_.planMs) / 1e3,
        "trace.overhead_s" -> ops.map(_.overheadS).sum / n)
    }

  /** Writes every generator's output for `seed` as text files, so two
    * seeds' inputs can be compared byte for byte.
    */
  def dumpInputs(dir: Path, seed: Long): Unit = {
    Files.createDirectories(dir)
    def write(name: String, lines: Iterable[String]): Unit =
      Files.writeString(dir.resolve(name), lines.mkString("", "\n", "\n"))
    val sz = Sizes.smoke
    write("events.txt", (0 until 3).flatMap(d =>
      Inputs.eventsForDay(seed, d, sz.eventsPerDay, sz.users).map(_.toString)))
    write("seed_corpus.txt", Inputs.seedCorpus(seed, sz.seedDocs).map(_.toString))
    write("ingest.txt", (0 until 3).flatMap(b =>
      Inputs.ingestBatch(seed, b, sz.batchDocs, sz.seedDocs).map(_.toString)))
    write("curate.txt", Inputs.curateShard(seed, 0, sz.shardDocs).map(_.toString))
    write("vectors.txt", Inputs.corpusVectors(seed, 200).map { case (id, v) => s"$id ${v.mkString(",")}" })
    write("queries.txt", Inputs.queryBatch(seed, 0, sz.queryBatch).map { case (id, v) => s"$id ${v.mkString(",")}" })
  }
}
