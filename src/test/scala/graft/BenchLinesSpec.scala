package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Pins the bench output protocol's tail-safety properties (VERDICT r15
  * task 1): the final stdout line must fit the byte budget under
  * worst-case field magnitudes, and must parse as JSON, so a driver
  * that keeps only a ~2000-byte stdout tail always recovers the run's
  * total, host stamps, canary pair, and contended verdict — BENCH_r15
  * lost all of those to an unbounded flagged array.
  */
class BenchLinesSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private def worstCaseTail(worstReal: Option[(String, Double, Double, Double)]) =
    BenchLines.tailLine(
      total = 123456.789123, rows = 99999, errorsCount = 99999,
      contended = false, hostFactor = 123.456789, decodeFactor = 123.456789,
      canaryStart = 123.456789, canaryEnd = 123.456789,
      ioCanaryStart = 123.456789, ioCanaryEnd = 123.456789,
      decodeCanaryStart = 123.456789, decodeCanaryEnd = 123.456789,
      loadStart = 12345.6789, loadEnd = 12345.6789, loadEndRaw = 12345.6789,
      flagCounts = Map("real" -> 99999, "noisy" -> 99999,
        "contention" -> 99999, "subsecond" -> 99999),
      worstReal = worstReal)

  test("tail line fits the byte budget at worst-case magnitudes") {
    // a 200-char row name (no registered name is near that — the cap
    // inside tailLine truncates defensively) with extreme magnitudes
    val line = worstCaseTail(Some(("q_" + "x" * 200, 99999.999999, 99999.999999, 99.999)))
    assert(line.getBytes("UTF-8").length <= BenchLines.TailByteBudget,
      s"tail line is ${line.getBytes("UTF-8").length} bytes: $line")
  }

  test("tail line parses as JSON and carries the adjudication fields") {
    val line = worstCaseTail(Some(("q_ext_ingest_neardup", 8.18, 5.37, 0.173)))
    val node = mapper.readTree(line)
    assert(node.get("metric").asText == "tail")
    for (f <- Seq("total", "rows", "errors_count", "contended", "host_factor",
                  "decode_factor", "canary_start", "canary_end",
                  "io_canary_start", "io_canary_end",
                  "dc_start", "dc_end",
                  "load1_start", "load1_end", "load1_end_raw",
                  "flag_counts", "worst_real"))
      assert(node.has(f), s"missing field $f in $line")
    assert(node.get("worst_real").get("row").asText == "q_ext_ingest_neardup")
  }

  test("tail line with no real flag emits worst_real null and still parses") {
    val line = worstCaseTail(None)
    val node = mapper.readTree(line)
    assert(node.get("worst_real").isNull)
    assert(line.getBytes("UTF-8").length <= BenchLines.TailByteBudget)
  }

  test("tail line escapes hostile row names without breaking JSON") {
    val line = worstCaseTail(Some(("q_\"evil\\name\n", 1.0, 1.0, 0.0)))
    val node = mapper.readTree(line)
    assert(node.get("worst_real").get("row").asText == "q_\"evil\\name\n")
  }

  test("main line carries each row's layer map; summary and tail lines carry none of it") {
    val layerKeys = Seq("jobs", "stages", "tasks", "executor_run_s", "shuffle_read_mb",
      "shuffle_write_mb", "input_mb", "build_s", "par_eff")
    val names = (1 to 200).map(i => f"q_row_$i%03d")
    val run = BenchLines.Run(
      total = 12345.678, sf = "/data/sf0.1", host = """{"cpus":4}""",
      contended = false, hostFactor = 1.0, decodeFactor = 1.0, ref = "ref.json",
      flags = names.take(20).map(n => BenchLines.Flag(n, 9.5, 1.0, 0.01, "real")),
      errors = Nil, spreads = names.map(_ -> 0.05), timings = names.map(_ -> 2.0),
      layers = names.map(_ -> BenchLines.RowLayers(buildS = 0.25, wallS = 2.0,
        jobs = 12, stages = 30, tasks = 99999, executorRunMs = 6000,
        shuffleReadBytes = 3L << 20, shuffleWriteBytes = 1L << 20,
        inputBytes = 5L << 20)),
      cpus = 4)

    val main = mapper.readTree(BenchLines.mainLine(run))
    assert(main.get("metric").asText == "total")
    val layers = main.get("layers")
    assert(layers.size == names.size)
    for (n <- names; k <- layerKeys) assert(layers.get(n).has(k), s"row $n lacks $k")
    val row = layers.get("q_row_001")
    assert(row.get("jobs").asLong == 12 && row.get("stages").asLong == 30)
    assert(row.get("executor_run_s").asDouble == 6.0)
    assert(row.get("shuffle_read_mb").asDouble == 3.0 && row.get("input_mb").asDouble == 5.0)
    assert(row.get("build_s").asDouble == 0.25)
    // 6 s of task time over 2 s × 4 cores
    assert(row.get("par_eff").asDouble == 0.75)
    assert(main.get("flagged").size == 20)

    val summaryText = BenchLines.summaryLine(run)
    val summary = mapper.readTree(summaryText)
    assert(summary.get("metric").asText == "summary")
    for (k <- "layers" +: "queries" +: layerKeys)
      assert(!summaryText.contains("\"" + k + "\""), s"summary line carries $k")
    assert(summary.get("flagged").size == BenchLines.SummaryFlagCap)
    assert(summary.get("flagged_dropped").asInt == 20 - BenchLines.SummaryFlagCap)

    val tail = worstCaseTail(Some(("q_row_001", 9.5, 1.0, 0.01)))
    for (k <- "layers" +: layerKeys)
      assert(!tail.contains("\"" + k + "\""), s"tail line carries $k")
    assert(tail.getBytes("UTF-8").length <= BenchLines.TailByteBudget)
  }

  test("verdict ranking puts real first, unknown last") {
    val ranked = Seq("subsecond", "real", "unknown", "noisy", "contention")
      .sortBy(BenchLines.verdictRank)
    assert(ranked == Seq("real", "noisy", "contention", "subsecond", "unknown"))
  }

  // VERDICT r17 task 5: decode-axis scoping is the registry tag, not a
  // name-substring match — both failure directions of the old rule pinned.
  test("a decode-family row NOT named media normalizes on the decode axis") {
    val fams = Map("q_ext_frames_decode" -> "media")
    assert(BenchLines.rowFactor("q_ext_frames_decode", fams,
      hostFactor = 1.0, decodeFactor = 2.0) == 2.0)
  }

  test("an untagged row whose name contains 'media' does NOT ride the decode axis") {
    assert(BenchLines.rowFactor("q_text_media_mentions", Map.empty[String, String],
      hostFactor = 1.1, decodeFactor = 3.0) == 1.1)
  }

  test("host factor still floors the media family (decode cannot excuse cpu sag)") {
    val fams = Map("q_ext_media_meta" -> "media")
    assert(BenchLines.rowFactor("q_ext_media_meta", fams,
      hostFactor = 1.5, decodeFactor = 1.2) == 1.5)
  }

  test("the registry's family tags cover exactly the registered queries") {
    val fams = SparkEntry.queryFamilies
    val qs = SparkEntry.queries.keySet
    assert(fams.keySet.subsetOf(qs),
      s"family tags for unregistered rows: ${fams.keySet -- qs}")
    // every row currently decode-bound is media-named AND tagged — a new
    // media-substring row added without a tag fails here, forcing the
    // author to decide its family explicitly instead of silently
    // inheriting no normalization
    val mediaNamed = qs.filter(_.contains("media"))
    assert(mediaNamed.subsetOf(fams.keySet),
      s"media-named rows missing a family tag: ${mediaNamed -- fams.keySet}")
  }
}
