package graft

/** Builders for the size-sensitive pieces of `graft.Bench`'s output
  * protocol. Factored out of the `main` so their byte budgets are
  * unit-testable (BenchLinesSpec) — twice in a row a driver round lost
  * its primary perf evidence to stdout tail truncation (BENCH_r14: one
  * flagged row's magnitude; BENCH_r15: the entire summary head — total,
  * host stamps, canary pair, `contended` — because the r14 fix put every
  * flagged row's magnitudes into the summary line and a ~19-flag
  * contended run outgrew the driver's 2000-byte tail window).
  *
  * The protocol is three stdout lines, least-durable first:
  *   1. `{"metric":"total",...}` — everything, including the per-row
  *      maps (timings, spreads, and each row's Spark breakdown in
  *      `"layers"`, see [[layerFields]]); also written to
  *      `bench_out.json` (file-backed, safe).
  *   2. `{"metric":"summary",...}` — per-row maps dropped, flagged
  *      array CAPPED at [[SummaryFlagCap]] (real-verdict rows first)
  *      with an explicit `flagged_dropped` count.
  *   3. `{"metric":"tail",...}` — fixed-field digest built here, byte
  *      budget [[TailByteBudget]], printed LAST so any tail capture ≥
  *      ~500 bytes keeps the run's totals no matter how many rows
  *      flagged.
  */
object BenchLines {

  /** Max flagged-row entries carried verbatim in the summary line.
    * 8 entries ≈ 8×130 B ≈ 1 kB — inside a 2000-byte tail window even
    * with the rest of the summary around it, and real verdicts sort
    * first so what is dropped is the subsecond/noise tail.
    */
  val SummaryFlagCap = 8

  /** Byte budget for the final tail line, asserted by BenchLinesSpec
    * against worst-case field magnitudes. 620 B (raised from 500 in
    * r17 for the decode-canary pair, the decode factor, and the raw
    * end-load stamp) leaves ≥ 1380 B of a 2000-byte tail window for
    * the summary line above it.
    */
  val TailByteBudget = 620

  /** Ranking for the capped summary array and the worst-real pick:
    * verdicts a human must adjudicate first.
    */
  def verdictRank(verdict: String): Int = verdict match {
    case "real"       => 0
    case "noisy"      => 1
    case "contention" => 2
    case "subsecond"  => 3
    case _            => 4
  }

  /** Per-row measurement factor: every row is normalized by the
    * host-wide cpu/io factor; rows the registry tags family `"media"`
    * additionally ride the decode-canary axis (ImageIO throughput
    * drift is real on decode-bound plans and meaningless elsewhere).
    * The scoping is the EXPLICIT registry tag ([[SparkEntry
    * .queryFamilies]]), not a name-substring match (VERDICT r17
    * finding #1): a decode-bound row named without "media" would
    * silently escape a substring rule, and a text row that happens to
    * contain the word would get a loosened criterion.
    */
  def rowFactor(name: String, families: Map[String, String],
                hostFactor: Double, decodeFactor: Double): Double =
    if (families.get(name).contains("media")) math.max(hostFactor, decodeFactor)
    else hostFactor

  /** One row's Spark breakdown over its min pass, in the listener's
    * units: `buildS` is frame construction (the query function's call,
    * including any eager work it does), `wallS` the whole pass.
    */
  final case class RowLayers(
      buildS: Double, wallS: Double, jobs: Long, stages: Long, tasks: Long,
      executorRunMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      inputBytes: Long)

  /** A row whose min exceeded 1.3× its reference, with its magnitudes. */
  final case class Flag(row: String, value: Double, ref: Double,
                        spread: Double, verdict: String)

  /** Everything the main and summary lines report. `host` is the
    * already-encoded host-stamp object; `flags` are in row order; `cpus`
    * is the run's Spark core count (the `par_eff` denominator).
    */
  final case class Run(
      total: Double, sf: String, host: String, contended: Boolean,
      hostFactor: Double, decodeFactor: Double, ref: String,
      flags: Seq[Flag], errors: Seq[(String, String)],
      spreads: Seq[(String, Double)], timings: Seq[(String, Double)],
      layers: Seq[(String, RowLayers)], cpus: Int)

  /** Flags in adjudication order: verdict rank, then worst
    * ratio-to-reference first.
    */
  def ranked(flags: Seq[Flag]): Seq[Flag] =
    flags.sortBy(f => (verdictRank(f.verdict), -(f.value / math.max(f.ref, 1e-9))))

  /** One row's layer fields. `par_eff` is executor task time over the
    * pass's core-seconds (wall × cpus): a serial chain of one-task
    * stages reads about 1/cpus, a task storm many tasks at low par_eff.
    */
  def layerFields(l: RowLayers, cpus: Int): String = {
    def mb(b: Long) = r3(b / 1048576.0)
    val coreS = l.wallS * cpus
    val parEff = if (coreS > 0) r4(l.executorRunMs / 1000.0 / coreS) else 0.0
    s"""{"jobs":${l.jobs},"stages":${l.stages},"tasks":${l.tasks},""" +
    s""""executor_run_s":${r3(l.executorRunMs / 1000.0)},""" +
    s""""shuffle_read_mb":${mb(l.shuffleReadBytes)},""" +
    s""""shuffle_write_mb":${mb(l.shuffleWriteBytes)},""" +
    s""""input_mb":${mb(l.inputBytes)},"build_s":${r3(l.buildS)},""" +
    s""""par_eff":$parEff}"""
  }

  private def jmap[V](m: Seq[(String, V)])(enc: V => String): String =
    m.map { case (k, v) => jstr(k) + ":" + enc(v) }.mkString("{", ",", "}")

  private def flaggedArray(flags: Seq[Flag]): String =
    flags.map { f =>
      s"""{"row":${jstr(f.row)},"value":${f.value},"ref":${f.ref},""" +
      s""""spread":${f.spread},"verdict":${jstr(f.verdict)}}"""
    }.mkString("[", ",", "]")

  private def flagsMap(flags: Seq[Flag]): String =
    jmap(flags.map(f => f.row -> f.verdict))(jstr)

  /** The full line. Field order is deliberate: the noise instruments and
    * verdicts come BEFORE the (large) per-row maps, so a truncated
    * capture keeps them for exactly the rows whose timings survived.
    */
  def mainLine(r: Run): String =
    s"""{"metric":"total","value":${r.total},"unit":"sec","sf":${jstr(r.sf)},""" +
    s""""host":${r.host},"host_factor":${r.hostFactor},"decode_factor":${r.decodeFactor},""" +
    s""""ref":${jstr(r.ref)},"flags":${flagsMap(r.flags)},""" +
    s""""flagged":${flaggedArray(ranked(r.flags))},""" +
    s""""errors":${jmap(r.errors)(jstr)},"spread":${jmap(r.spreads)(_.toString)},""" +
    s""""queries":${jmap(r.timings)(_.toString)},""" +
    s""""layers":${jmap(r.layers)(layerFields(_, r.cpus))}}"""

  /** The compact line printed after the main one: per-row maps dropped,
    * flagged array capped at [[SummaryFlagCap]] (real verdicts first)
    * with an explicit `flagged_dropped` count.
    */
  def summaryLine(r: Run): String = {
    val flagged = ranked(r.flags)
    s"""{"metric":"summary","total":${r.total},"sf":${jstr(r.sf)},""" +
    s""""host":${r.host},"contended":${r.contended},"host_factor":${r.hostFactor},""" +
    s""""decode_factor":${r.decodeFactor},"ref":${jstr(r.ref)},""" +
    s""""flags":${flagsMap(r.flags)},""" +
    s""""flagged":${flaggedArray(flagged.take(SummaryFlagCap))},""" +
    s""""flagged_dropped":${math.max(0, flagged.size - SummaryFlagCap)},""" +
    s""""errors_count":${r.errors.size},""" +
    s""""spread_max":${if (r.spreads.isEmpty) 0.0 else r.spreads.map(_._2).max}}"""
  }

  private def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0
  private def r4(v: Double): Double = math.round(v * 10000.0) / 10000.0

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => "\\u%04x".format(c.toInt)
      case c             => c.toString
    } + "\""

  /** The final, guaranteed-to-survive stdout line. Fixed fields only;
    * doubles rounded (3–4 decimals is far beyond timing resolution);
    * the single worst real-verdict row inlined with its magnitudes
    * (row name truncated defensively — registered names are ≤ 40
    * chars, the cap only guards a future rename).
    *
    * @param flagCounts verdict -> count (missing verdicts omitted)
    * @param worstReal  (row, value, ref, spread) of the highest-ratio
    *                   real-verdict flag, if any
    */
  def tailLine(
      total: Double, rows: Int, errorsCount: Int, contended: Boolean,
      hostFactor: Double, decodeFactor: Double,
      canaryStart: Double, canaryEnd: Double,
      ioCanaryStart: Double, ioCanaryEnd: Double,
      decodeCanaryStart: Double, decodeCanaryEnd: Double,
      loadStart: Double, loadEnd: Double, loadEndRaw: Double,
      flagCounts: Map[String, Int],
      worstReal: Option[(String, Double, Double, Double)]): String = {
    val counts = Seq("real", "noisy", "contention", "subsecond")
      .flatMap(v => flagCounts.get(v).map(n => s"""${jstr(v)}:$n"""))
      .mkString("{", ",", "}")
    val worst = worstReal.map { case (row, value, ref, spread) =>
      s"""{"row":${jstr(row.take(48))},"value":${r3(value)},""" +
      s""""ref":${r3(ref)},"spread":${r3(spread)}}"""
    }.getOrElse("null")
    s"""{"metric":"tail","total":${r3(total)},"rows":$rows,""" +
    s""""errors_count":$errorsCount,"contended":$contended,""" +
    s""""host_factor":${r4(hostFactor)},"decode_factor":${r4(decodeFactor)},""" +
    s""""canary_start":${r4(canaryStart)},"canary_end":${r4(canaryEnd)},""" +
    s""""io_canary_start":${r4(ioCanaryStart)},"io_canary_end":${r4(ioCanaryEnd)},""" +
    s""""dc_start":${r4(decodeCanaryStart)},"dc_end":${r4(decodeCanaryEnd)},""" +
    s""""load1_start":${r3(loadStart)},"load1_end":${r3(loadEnd)},""" +
    s""""load1_end_raw":${r3(loadEndRaw)},""" +
    s""""flag_counts":$counts,"worst_real":$worst}"""
  }
}
