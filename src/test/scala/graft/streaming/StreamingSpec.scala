package graft.streaming

import graft.SparkSpec
import graft.runtime.Materializer
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming semantics: windowed agg updates across micro-batches and
  * the stateful last-touch argmax folds new batches into stored state.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("dailyTraffic streaming agg accumulates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, String)]
    val events = in.toDF().toDF("collector_tstamp", "app_id", "domain_userid")
    val q = StreamingOps.dailyTraffic(events).writeStream
      .format("memory").queryName("daily_out").outputMode("update").start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), "app0", "u1"),
        (ts("2024-01-01 11:00:00"), "app0", "u2"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 12:00:00"), "app0", "u1"))
      q.processAllAvailable()
      val out = spark.table("daily_out")
        .groupBy("event_date", "app_id").agg(max("total_visits").as("tv"))
        .as[(java.sql.Date, String, Long)].collect()
        .map { case (d, a, t) => (d, a) -> t }.toMap
      assert(out((java.sql.Date.valueOf("2024-01-01"), "app0")) == 3L)
    } finally q.stop()
  }

  test("sessionRollup merges a session across micro-batches, splits past the gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long, Long, String)]
    val events = in.toDF().toDF("ts", "user_id", "event_id", "event_type")
    val q = StreamingOps.sessionRollup(events, 30, delay = "1 minute").writeStream
      .format("memory").queryName("sess_out").outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), 1L, 1L, "view"),
        (ts("2024-01-01 10:10:00"), 1L, 2L, "purchase"))
      q.processAllAvailable()
      // batch 2 EXTENDS the open session (10:20 is within 30 min of 10:10),
      // then starts a second one at 12:00
      in.addData((ts("2024-01-01 10:20:00"), 1L, 3L, "view"),
        (ts("2024-01-01 12:00:00"), 1L, 4L, "view"))
      q.processAllAvailable()
      // far-future sentinel advances the watermark so every session closes
      in.addData((ts("2030-01-01 00:00:00"), -999L, 99L, "view"))
      q.processAllAvailable()
      val got = spark.table("sess_out").filter(col("user_id") =!= -999L)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val base = 1704103200000000L // 2024-01-01 10:00:00 UTC µs
      assert(got == Set(
        (1L, base, base + 1200000000L, 3L, 1L),
        (1L, base + 7200000000L, base + 7200000000L, 1L, 0L)))
    } finally q.stop()
  }

  test("sessionRollup over the fixture equals the batch sessionSummary") {
    implicit val sqlCtx = spark.sqlContext
    val fixture = graft.runtime.Sources(spark, "/root/testdata/sf0.001").events
      .select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
    val rows = fixture.as[(java.sql.Timestamp, Long, Long, String)].collect()

    val in = MemoryStream[(java.sql.Timestamp, Long, Long, String)]
    val events = in.toDF().toDF("ts", "user_id", "event_id", "event_type")
    val q = StreamingOps.sessionRollup(events, 30, delay = "1 minute").writeStream
      .format("memory").queryName("sess_fix_out").outputMode("append").start()
    try {
      in.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData((ts("2030-01-01 00:00:00"), -999L, -1L, "view"))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("sess_fix_out").filter(col("user_id") =!= -999L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val batch = graft.ext.EventOps.sessionSummary(fixture, 30)
      .select(col("user_id"), col("session_start_us"), col("session_end_us"),
        col("n_events"), col("n_purchases"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream/batch diverge: only-stream=${(streamed -- batch).take(3)} " +
        s"only-batch=${(batch -- streamed).take(3)}")
  }

  test("stream-stream attribution join over the fixture equals the batch pairs") {
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.runtime.Sources(spark, "/root/testdata/sf0.001").events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    def side(t: String): Array[(Long, java.sql.Timestamp, Long)] =
      ev.filter(col("event_type") === t)
        .select("user_id", "ts", "event_id")
        .as[(Long, java.sql.Timestamp, Long)].collect()

    val pIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val cIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    def df(in: MemoryStream[(Long, java.sql.Timestamp, Long)]) =
      in.toDF().toDF("user_id", "ts", "event_id")
    // 45-day lateness spans the whole fixture month: no row is dropped,
    // so the inner join must produce the complete pair set
    val q = StreamingOps.attributionPairsStream(df(pIn), df(cIn),
        lookbackMinutes = 60, delay = "45 days").writeStream
      .format("memory").queryName("attrib_out").outputMode("append").start()
    try {
      // clicks arrive in two batches AFTER the purchases they match
      pIn.addData(side("purchase").toIndexedSeq: _*)
      q.processAllAvailable()
      val (c1, c2) = side("click").splitAt(side("click").length / 2)
      cIn.addData(c1.toIndexedSeq: _*); q.processAllAvailable()
      cIn.addData(c2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("attrib_out")
      .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("pus"), col("event_id").as("pid"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("cus"), col("event_id").as("cid"))
    val batch = purchases.join(clicks, "user_id")
      .filter(col("cus") <= col("pus") && col("cus") >= col("pus") - 3600000000L)
      .select("pid", "cid").as[(Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream ${streamed.size} pairs vs batch ${batch.size}")
  }

  test("outer stream-stream join: unmatched purchase emits nulls after expiry") {
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val cIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    def df(in: MemoryStream[(Long, java.sql.Timestamp, Long)]) =
      in.toDF().toDF("user_id", "ts", "event_id")
    val q = StreamingOps.attributionPairsStream(df(pIn), df(cIn),
        lookbackMinutes = 60, delay = "1 minute", joinType = "left_outer")
      .writeStream.format("memory").queryName("attrib_outer_out")
      .outputMode("append").start()
    try {
      // user 1's purchase has a click inside the hour; user 2's has none
      pIn.addData((1L, ts("2024-01-01 10:00:00"), 101L),
        (2L, ts("2024-01-01 10:00:00"), 102L))
      cIn.addData((1L, ts("2024-01-01 09:30:00"), 201L))
      q.processAllAvailable()
      // advance BOTH watermarks far past the join window so the runtime
      // can prove purchase 102 will never match and emit its null row
      pIn.addData((-999L, ts("2024-01-02 00:00:00"), 998L))
      cIn.addData((-999L, ts("2024-01-02 00:00:00"), 999L))
      q.processAllAvailable()
      pIn.addData((-999L, ts("2024-01-03 00:00:00"), 996L))
      cIn.addData((-999L, ts("2024-01-03 00:00:00"), 997L))
      q.processAllAvailable()

      val got = spark.table("attrib_outer_out").filter(col("user_id") > 0)
        .select("purchase_id", "click_id").as[(Long, Option[Long])].collect().toSet
      assert(got.contains((101L, Some(201L))), s"matched pair missing: $got")
      assert(got.contains((102L, None)), s"expired unmatched purchase missing: $got")
    } finally q.stop()
  }

  test("funnelProgress: out-of-order arrival, watermark-gated advances, timer drain") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[FunnelEvent]
    // 10-min allowed lateness: the cross-batch disorder below is 50 s,
    // so every event stays inside the watermark and ordering is repaired
    val q = StreamingOps.funnelProgress(in.toDS(), Seq("A", "B", "C"),
        100L * 1000000L, delay = "10 minutes").writeStream
      .format("memory").queryName("funnel_out").outputMode("append").start()
    try {
      // user 1's B arrives BEFORE its A (out of order across batches);
      // user 2's B is outside the 100 s window
      in.addData(FunnelEvent(1L, ts("2024-01-01 00:00:50"), "B"),
        FunnelEvent(2L, ts("2024-01-01 00:00:00"), "A"))
      q.processAllAvailable()
      in.addData(FunnelEvent(1L, ts("2024-01-01 00:00:00"), "A"),
        FunnelEvent(1L, ts("2024-01-01 00:02:10"), "C"),
        FunnelEvent(2L, ts("2024-01-01 00:03:20"), "B"))
      q.processAllAvailable()
      // sentinel advances the watermark past every buffered event so the
      // event-time timers drain the stage machines
      in.addData(FunnelEvent(-999L, ts("2024-01-01 01:00:00"), "A"))
      q.processAllAvailable()
      in.addData(FunnelEvent(-999L, ts("2024-01-01 02:00:00"), "A"))
      q.processAllAvailable()

      val got = spark.table("funnel_out").filter(col("userId") =!= -999L)
        .as[FunnelAdvance].collect()
        .groupBy(_.userId).view.mapValues(_.map(a => (a.stageIdx, a.stage)).toSet).toMap
      // user 1: A@0 then B@50 chain despite reversed arrival; C@130 is
      // 80 s after B → inside the window
      assert(got(1L) == Set((0, "A"), (1, "B"), (2, "C")))
      // user 2: B 200 s after A → never advances past stage 0
      assert(got(2L) == Set((0, "A")))
    } finally q.stop()
  }

  test("funnelProgress over the fixture equals the batch funnelCounts") {
    implicit val sqlCtx = spark.sqlContext
    val stages = Seq("signup", "view", "click", "purchase")
    val windowUs = 24L * 3600L * 1000000L
    val fixture = graft.runtime.Sources(spark, "/root/testdata/sf0.001").events
    val rows = fixture.select(col("user_id"), col("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)].collect()
      .map { case (u, t, e) => FunnelEvent(u, t, e) }
    // deliver in a scrambled order, split across two micro-batches
    val scrambled = new scala.util.Random(13).shuffle(rows.toSeq)
    val (b1, b2) = scrambled.splitAt(scrambled.length / 2)

    val in = MemoryStream[FunnelEvent]
    // the shuffle scatters a month of events arbitrarily across two
    // batches — the allowed lateness must span that whole disorder
    val q = StreamingOps.funnelProgress(in.toDS(), stages, windowUs,
        delay = "45 days").writeStream
      .format("memory").queryName("funnel_fix_out").outputMode("append").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(FunnelEvent(-999L, ts("2030-01-01 00:00:00"), "signup"))
      q.processAllAvailable()
      in.addData(FunnelEvent(-999L, ts("2030-01-02 00:00:00"), "signup"))
      q.processAllAvailable()
    } finally q.stop()

    // stream advances → per-stage user counts must equal the batch funnel
    val streamedCounts = spark.table("funnel_fix_out")
      .filter(col("userId") =!= -999L)
      .groupBy("stageIdx").agg(countDistinct("userId").as("users"))
      .as[(Int, Long)].collect().toMap
    val batchCounts = graft.ext.EventOps.funnelCounts(fixture, stages, windowUs)
      .select("stage_idx", "users").as[(Int, Long)].collect()
      .filter(_._2 > 0).toMap
    assert(streamedCounts == batchCounts,
      s"stream $streamedCounts vs batch $batchCounts")
  }

  test("upsertSink materializes micro-batches identically to the batch rerun") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_streamsink_").toString
    val mat = new Materializer(spark, dir)

    val in = MemoryStream[(java.sql.Timestamp, String, String)]
    val events = in.toDF().toDF("collector_tstamp", "app_id", "domain_userid")
    // default 1-day delay: batch 1 reaches Jan-2 09:00, so its watermark
    // (Jan-1 09:00) keeps the Jan-1 window open for batch 2's late event
    val agg = StreamingOps.dailyTraffic(events)
      .withColumn("id", concat_ws("-", col("event_date"), col("app_id")))
    val q = StreamingOps.upsertSink(agg, mat, "stream_daily", "id").start()

    val batch1 = Seq((ts("2024-01-01 10:00:00"), "app0", "u1"),
      (ts("2024-01-01 11:00:00"), "app0", "u2"),
      (ts("2024-01-02 09:00:00"), "app1", "u3"))
    val batch2 = Seq((ts("2024-01-01 12:00:00"), "app0", "u1"),
      (ts("2024-01-02 10:00:00"), "app1", "u4"))
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()

    // batch rerun over the full input: the same daily agg, computed once
    val expected = (batch1 ++ batch2)
      .toDF("collector_tstamp", "app_id", "domain_userid")
      .groupBy(to_date(col("collector_tstamp")).as("event_date"), col("app_id"))
      .agg(count(lit(1)).as("total_visits"),
        approx_count_distinct("domain_userid").as("unique_visitors"))
      .withColumn("id", concat_ws("-", col("event_date"), col("app_id")))
      .collect().map(_.toSeq.map(String.valueOf)).toSet

    val got = mat.readPrior("stream_daily").get
      .select("event_date", "app_id", "total_visits", "unique_visitors", "id")
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(got == expected, s"streamed $got\nvs batch $expected")
  }

  test("streaming lead enrichment equals the batch LeadActivitiesAgg on the same slice") {
    implicit val sqlCtx = spark.sqlContext
    import graft.model.LeadActivitiesAgg

    // atomic-shaped events: u1 gets an organic touch then an (older) paid
    // touch — paid must win the attribution; u2 organic only; one bot and
    // one non-page_view event must be gated out; u9 never appears. "U1"
    // is a CASE-VARIANT user, distinct from u1 in every join but LOWERed
    // to the same value in the output — its rows must survive u1's
    // attribution updates (the raw-key upsert seam).
    val events = Seq(
      ("e1", "u1", "page_view", "Mozilla/5.0", "search", null, "MSrcA", "rsrcA", "CampX", "termX", "MedA", "/p/1", ts("2024-01-04 10:00:00")),
      ("e2", "u1", "page_view", "Mozilla/5.0", "cpc", "net1", "MSrcB", "rsrcB", "CampA", "termA", "MedB", "/p/2", ts("2024-01-03 09:00:00")),
      ("e3", "u2", "page_view", "Mozilla/5.0", "email", null, null, "rsrcC", "CampC", null, null, "/p/3", ts("2024-01-06 08:00:00")),
      ("e4", "u1", "page_view", "MegaBot/2.1", "cpc", "net2", "MSrcD", "rsrcD", "CampD", "termD", "MedD", "/p/4", ts("2024-01-07 07:00:00")),
      ("e5", "u2", "signup", "Mozilla/5.0", "cpc", "net3", "MSrcE", "rsrcE", "CampE", "termE", "MedE", "/p/5", ts("2024-01-08 06:00:00")),
      ("e6", "U1", "page_view", "Mozilla/5.0", "email", null, "MSrcF", "rsrcF", "CampF", null, "MedF", "/p/6", ts("2024-01-05 10:00:00")))
      .toDF("event_id", "domain_userid", "event", "useragent", "refr_medium",
        "mkt_network", "mkt_source", "refr_source", "mkt_campaign", "mkt_term",
        "mkt_medium", "page_urlpath", "collector_tstamp")

    val leads = Seq(
      ("u1", "L1", java.sql.Date.valueOf("2024-01-10")),
      ("u1", "L2", java.sql.Date.valueOf("2024-01-11")),
      ("u2", "L3", java.sql.Date.valueOf("2024-01-12")),
      ("U1", "L4", java.sql.Date.valueOf("2024-01-14")),
      ("u9", "L9", java.sql.Date.valueOf("2024-01-13")))
      .toDF("domain_userid", "lead_id", "date")
      .withColumn("company_domain", lit("DomA")).withColumn("company_id", lit("1"))
      .withColumn("person_id", lit("P1")).withColumn("lead_generator_id", lit("3"))
      .withColumn("lead_generator_name", lit("GenA")).withColumn("lead_source_ehr_id", lit("7"))
      .withColumn("old_stage_id", lit("2")).withColumn("old_stage_name", lit("Stage-2"))
      .withColumn("new_stage_id", lit("1")).withColumn("new_stage_name", lit("Stage-1"))
      .withColumn("pipeline_id", lit("0")).withColumn("pipeline_name", lit("Pipe0"))
      .withColumn("product_id", lit("5")).withColumn("product_name", lit("ProdA"))
      .withColumn("product_price", lit(9.5)).withColumn("product_sku", lit("SKU-5"))

    // model-1-shaped spend slice: u1's paid touch (CampA on Jan-3) matches
    val daily = Seq(
      (java.sql.Date.valueOf("2024-01-03"), "CampA", 10.0, 5L, "unique"),
      (java.sql.Date.valueOf("2024-01-06"), "CampZ", 99.0, 3L, "unique"))
      .toDF("spend_date", "col_4", "spend", "traffic", "col_1")

    val expected = LeadActivitiesAgg.build(events, leads, daily)
    val cols = expected.columns
    val expectedRows = expected.collect().map(_.toSeq.map(String.valueOf)).toSet

    val mat = new Materializer(spark,
      java.nio.file.Files.createTempDirectory("graft_leadstream_").toString)
    LeadEnrichment.seed(spark, leads, daily, mat, "lead_stream")

    // stream the touches in two batches, organic-first so batch 2 must
    // OVERWRITE u1's attribution (and therefore its surrogate ids) while
    // leaving the untouched case-variant U1's rows intact
    val touches = LeadEnrichment.toLeadTouches(events).collect()
    assert(touches.length == 4, s"event gate should keep 4 touches: ${touches.toSeq}")
    val (batch2, batch1) = touches.partition(_.paidRank == 1)
    val in = MemoryStream[LeadTouch]
    val q = LeadEnrichment.sink(
      LeadEnrichment.lastTouch(in.toDS()), leads, daily, mat, "lead_stream").start()
    try {
      in.addData(batch1.toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(batch2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    val got = mat.readPrior("lead_stream").get
      .select(cols.map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(got == expectedRows,
      s"missing=${(expectedRows -- got).take(3)}\nextra=${(got -- expectedRows).take(3)}")
  }

  test("streaming daily model equals the batch AtScale TrafficDailyAgg on the same slice") {
    implicit val sqlCtx = spark.sqlContext
    import graft.model.{Profile, TrafficDailyAgg}

    val eventCols = Seq("collector_tstamp", "event", "useragent", "app_id",
      "domain_userid", "refr_medium", "mkt_network", "mkt_source", "refr_source",
      "mkt_campaign", "mkt_term")
    // paid (cpc+net), organic (search, no network), a second paid user in
    // the SAME group arriving in batch 2 (forces an in-place id upsert
    // with an updated HLL sketch), plus gated rows: bot UA, non-page_view,
    // internal referrer, and an unclassifiable medium (NULL traffic_type)
    val batch1 = Seq(
      (ts("2024-01-01 10:00:00"), "page_view", "Mozilla/5.0", "app0", "u1", "cpc", "net1", "MSrcA", "rsrcA", "CampA", "termA"),
      (ts("2024-01-01 11:00:00"), "page_view", "Mozilla/5.0", "app0", "u2", "search", null, null, "rsrcB", null, "termB"),
      (ts("2024-01-01 12:00:00"), "page_view", "MegaBot/2.1", "app0", "u3", "cpc", "net1", "MSrcA", "rsrcA", "CampA", "termA"),
      (ts("2024-01-01 13:00:00"), "signup", "Mozilla/5.0", "app0", "u4", "cpc", "net1", "MSrcA", "rsrcA", "CampA", "termA"))
    val batch2 = Seq(
      (ts("2024-01-01 14:00:00"), "page_view", "Mozilla/5.0", "app0", "u5", "cpc", "net1", "MSrcA", "rsrcA", "CampA", "termA"),
      (ts("2024-01-02 09:00:00"), "page_view", "Mozilla/5.0", "app1", "u1", "cpc", "net2", "MSrcB", "rsrcB", "CampB", null),
      (ts("2024-01-02 10:00:00"), "page_view", "Mozilla/5.0", "app1", "u6", "internal", null, null, null, null, null),
      (ts("2024-01-02 11:00:00"), "page_view", "Mozilla/5.0", "app1", "u7", "affiliate", null, "MSrcC", null, null, null))
    val spends = Seq(
      ("c1", "DomA", ts("2024-01-01 00:00:00"), "CampA", 12.5),
      ("c1", "DomA", ts("2024-01-02 00:00:00"), "CampZ", 99.0))
      .toDF("company_id", "company_domain", "spend_date", "campaign_name", "spend")

    val allEvents = (batch1 ++ batch2).toDF(eventCols: _*)
    val expected = TrafficDailyAgg.build(allEvents, spends, profile = Profile.AtScale)
    val cols = expected.columns
    val expectedRows = expected.collect().map(_.toSeq.map(String.valueOf)).toSet
    // 3 surviving groups (paid app0, organic app0, paid app1) × 2 branches
    assert(expectedRows.size == 6, s"unexpected batch target: $expectedRows")

    val mat = new Materializer(spark,
      java.nio.file.Files.createTempDirectory("graft_dailystream_").toString)
    val in = MemoryStream[(java.sql.Timestamp, String, String, String, String,
      String, String, String, String, String, String)]
    // 30-day delay: nothing in this slice is ever late enough to drop
    val q = DailyTrafficModel.stream(in.toDF().toDF(eventCols: _*), spends,
      mat, "daily_stream", delay = "30 days").start()
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val got = mat.readPrior("daily_stream").get
      .select(cols.map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(got == expectedRows,
      s"missing=${(expectedRows -- got).take(3)}\nextra=${(got -- expectedRows).take(3)}")
  }

  test("streaming daily model over the FIXTURE events equals the batch AtScale build") {
    import graft.model.{Profile, RefShapes, TrafficDailyAgg}
    import graft.runtime.Sources
    val dir = "/root/testdata/sf0.001"
    val batchEvents = RefShapes.eventsRef(Sources(spark, dir).events)
    val spends = RefShapes.campaignSpendsRef(Sources(spark, dir).events)
    val expected = TrafficDailyAgg.build(batchEvents, spends, profile = Profile.AtScale)
    val cols = expected.columns
    val expectedRows = expected.collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(expectedRows.size > 50, s"fixture slice too small: ${expectedRows.size}")

    // the same parquet through the streaming file source: raw schema,
    // Sources.table's ts normalization (nanos-LONG fixtures convert,
    // native-timestamp fixtures pass through), same RefShapes mapping —
    // pure per-row exprs lift onto the stream as-is
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file source wants a directory: expose the fixture file through
    // a temp dir symlink (read-only — nothing is written to the fixture)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_eventsdir_")
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val rawStream = spark.readStream.schema(rawSchema).parquet(streamDir.toString)
    val streamEvents = RefShapes.eventsRef(
      if (rawSchema("ts").dataType == org.apache.spark.sql.types.LongType)
        rawStream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else rawStream)
    val mat = new Materializer(spark,
      java.nio.file.Files.createTempDirectory("graft_dailyfix_").toString)
    val q = DailyTrafficModel.stream(streamEvents, spends, mat,
      "daily_stream_fixture", delay = "3650 days").start()
    try q.processAllAvailable() finally q.stop()

    val got = mat.readPrior("daily_stream_fixture").get
      .select(cols.map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(got == expectedRows,
      s"missing=${(expectedRows -- got).take(3)}\nextra=${(got -- expectedRows).take(3)}")
  }

  test("daily model stream restarts from its checkpoint and still equals the batch build") {
    import graft.model.{Profile, RefShapes, TrafficDailyAgg}
    import graft.runtime.Sources
    val dir = "/root/testdata/sf0.001"
    val rawBatch = Sources(spark, dir).events
    val expected = TrafficDailyAgg.build(RefShapes.eventsRef(rawBatch),
      RefShapes.campaignSpendsRef(rawBatch), profile = Profile.AtScale)
    val cols = expected.columns
    val expectedRows = expected.collect().map(_.toSeq.map(String.valueOf)).toSet

    // split the fixture into two replayable parquet files: the file
    // source + checkpoint give exactly-once delivery across a restart
    val streamDir = java.nio.file.Files.createTempDirectory("graft_restart_src_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_restart_ckpt_").toString
    rawBatch.filter(col("event_id") % 2 === 0)
      .write.parquet(s"$streamDir/half=a")
    val rawSchema = spark.read.parquet(s"$streamDir/half=a").schema
    val spends = RefShapes.campaignSpendsRef(rawBatch)
    val mat = new Materializer(spark,
      java.nio.file.Files.createTempDirectory("graft_restart_out_").toString)

    def startQuery() = {
      val raw = spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "*.parquet").parquet(s"$streamDir/half=*")
      DailyTrafficModel.stream(RefShapes.eventsRef(raw), spends, mat,
        "daily_restart", delay = "3650 days")
        .option("checkpointLocation", ckpt).start()
    }

    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // new data lands while the query is DOWN; the restarted query must
    // resume from the checkpoint, fold the new file into the SAME agg
    // state, and upsert the affected ids in place
    rawBatch.filter(col("event_id") % 2 === 1)
      .write.parquet(s"$streamDir/half=b")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val got = mat.readPrior("daily_restart").get
      .select(cols.map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(got == expectedRows,
      s"missing=${(expectedRows -- got).take(3)}\nextra=${(got -- expectedRows).take(3)}")
  }

  test("streaming pages model equals the batch AtScale TrafficPagesAgg on the same slice") {
    implicit val sqlCtx = spark.sqlContext
    import graft.model.{Profile, TrafficPagesAgg}

    val eventCols = Seq("collector_tstamp", "event", "useragent", "refr_medium",
      "app_id", "domain_userid", "page_urlpath")
    // two pages on two days; /p/1's day-1 group is touched again in batch
    // 2 (same user — total increments, unique must NOT) plus gated rows:
    // bot, non-page_view, internal referrer, NULL path
    val batch1 = Seq(
      (ts("2024-01-01 10:00:00"), "page_view", "Mozilla/5.0", "search", "app0", "u1", "/p/1"),
      (ts("2024-01-01 11:00:00"), "page_view", "Mozilla/5.0", "search", "app0", "u2", "/p/1"),
      (ts("2024-01-01 12:00:00"), "page_view", "Mozilla/5.0", "search", "app0", "u1", "/p/2"),
      (ts("2024-01-01 13:00:00"), "page_view", "MegaBot/2.1", "search", "app0", "u3", "/p/1"),
      (ts("2024-01-01 14:00:00"), "signup", "Mozilla/5.0", "search", "app0", "u4", "/p/1"))
    val batch2 = Seq(
      (ts("2024-01-01 15:00:00"), "page_view", "Mozilla/5.0", "search", "app0", "u1", "/p/1"),
      (ts("2024-01-02 09:00:00"), "page_view", "Mozilla/5.0", "search", "app0", "u5", "/p/2"),
      (ts("2024-01-02 10:00:00"), "page_view", "Mozilla/5.0", "internal", "app0", "u6", "/p/3"),
      (ts("2024-01-02 11:00:00"), "page_view", "Mozilla/5.0", "search", "app0", "u7", null))

    val allEvents = (batch1 ++ batch2).toDF(eventCols: _*)
    val expected = TrafficPagesAgg.build(allEvents, profile = Profile.AtScale)
    val cols = expected.columns
    val expectedRows = expected.collect().map(_.toSeq.map(String.valueOf)).toSet
    // 3 surviving (date, path) groups × 2 pivot branches
    assert(expectedRows.size == 6, s"unexpected batch target: $expectedRows")

    val mat = new Materializer(spark,
      java.nio.file.Files.createTempDirectory("graft_pagestream_").toString)
    val in = MemoryStream[(java.sql.Timestamp, String, String, String, String, String, String)]
    val q = PageTrafficModel.stream(in.toDF().toDF(eventCols: _*),
      mat, "pages_stream", delay = "30 days").start()
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val got = mat.readPrior("pages_stream").get
      .select(cols.map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(got == expectedRows,
      s"missing=${(expectedRows -- got).take(3)}\nextra=${(got -- expectedRows).take(3)}")
  }

  test("lastTouch keeps the best touch across batches (paid beats later organic)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TouchEvent]
    val q = StreamingOps.lastTouch(in.toDS()).writeStream
      .format("memory").queryName("touch_out").outputMode("update").start()
    try {
      in.addData(TouchEvent("u1", "5", 2, 1000L, "campA"))
      q.processAllAvailable()
      in.addData(TouchEvent("u1", "7", 1, 500L, "campB"))   // paid, older
      q.processAllAvailable()
      in.addData(TouchEvent("u1", "9", 2, 2000L, "campC"))  // organic, newer
      q.processAllAvailable()
      val rows = spark.table("touch_out").as[TouchEvent].collect()
      // latest state row for u1 must still be the paid touch (eventId 7)
      assert(rows.last.eventId == "7", rows.mkString(","))
    } finally q.stop()
  }

  test("topKLeaderboard: upserted table equals the batch aggregator after all batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val mat = new graft.runtime.Materializer(spark,
      java.nio.file.Files.createTempDirectory("lb_stream").toString)
    val in = MemoryStream[(String, Double, Long)]
    val ranked = StreamingOps.topKLeaderboard(in.toDS(), k = 2).toDF()
      .withColumn("row_id", concat_ws("#", col("key"), col("rank")))
    val q = StreamingOps.upsertSink(ranked, mat, "lb", "row_id").start()
    try {
      in.addData(("a", 5.0, 1L), ("a", 3.0, 2L))
      q.processAllAvailable()
      in.addData(("a", 4.0, 3L), ("b", 7.0, 10L))
      q.processAllAvailable()
      in.addData(("b", 7.0, 11L))   // tie on ord: lower id outranks
      q.processAllAvailable()
      val table = mat.readPrior("lb").get
        .select("key", "id", "ord", "rank")
        .as[(String, Long, Double, Long)].collect().toSet
      val all = Seq(("a", 5.0, 1L), ("a", 3.0, 2L), ("a", 4.0, 3L),
        ("b", 7.0, 10L), ("b", 7.0, 11L)).toDF("key", "v", "vid")
      val batch = graft.ops.Aggs.topKPerKey(all, Seq(col("key")), col("v"), col("vid"), k = 2)
        .select("key", "id", "ord", "rank")
        .as[(String, Long, Double, Long)].collect().toSet
      assert(table == batch, s"stream $table != batch $batch")
      assert(table == Set(("a", 1L, 5.0, 1L), ("a", 3L, 4.0, 2L),
        ("b", 10L, 7.0, 1L), ("b", 11L, 7.0, 2L)), table.toString)
    } finally q.stop()
  }

  test("streaming exact dedup drops duplicates across micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = StreamingOps.dedupExactStream(docs).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      in.addData((1L, "alpha beta"), (2L, "gamma delta"),
        (3L, "ALPHA   beta"))        // same fingerprint as doc 1 (ws+case canon)
      q.processAllAvailable()
      in.addData((4L, "alpha beta"), // cross-batch duplicate of doc 1
        (5L, "epsilon zeta"))
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("doc_id").as[Long].collect().toSet
      // first-seen per fingerprint: 3 collapses into 1 within the batch,
      // 4 collapses ACROSS batches (the state the batch path lacks)
      assert(got == Set(1L, 2L, 5L), got.toString)
      // first-seen ≡ batch dedupExact (keep-lowest) when arrival order is
      // id order — the documented coincidence
      val batch = graft.ext.DedupOps.dedupExact(Seq(
        (1L, "alpha beta"), (2L, "gamma delta"), (3L, "ALPHA   beta"),
        (4L, "alpha beta"), (5L, "epsilon zeta")).toDF("doc_id", "text"))
        .select("doc_id").as[Long].collect().toSet
      assert(batch == got, s"streaming first-seen diverged from batch keep-lowest: $batch vs $got")
    } finally q.stop()
  }

  test("watermark-bounded streaming dedup stays exact inside the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = in.toDF().toDF("doc_id", "ingest_ts", "text")
    val q = StreamingOps.dedupExactStreamBounded(docs, "ingest_ts", "1 hour").writeStream
      .format("memory").queryName("dedup_wm_out").outputMode("append").start()
    try {
      in.addData((1L, ts("2024-01-01 10:00:00"), "alpha beta"),
        (2L, ts("2024-01-01 10:10:00"), "gamma delta"))
      q.processAllAvailable()
      // within the 1-hour horizon of doc 1: must still dedup
      in.addData((3L, ts("2024-01-01 10:30:00"), "alpha beta"))
      q.processAllAvailable()
      val got = spark.table("dedup_wm_out").select("doc_id").as[Long].collect().toSet
      assert(got == Set(1L, 2L), got.toString)
    } finally q.stop()
  }

  test("fragmented ingest sink: O(batch) fragments, cross-batch dedup, replay writes nothing") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_frag").toString
    val frag = new graft.runtime.FragmentedTable(spark, dir, "fc", "doc_id")
    def corpus: Set[Long] = frag.read()
      .map(_.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.corpusIngestFragmentedSink(
      in.toDF().toDF("doc_id", "text"), frag).start()
    try {
      in.addData((1L, "alpha beta"), (2L, "gamma"), (3L, "ALPHA   beta"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L), corpus.toString)
      assert(frag.fragmentCount() == 1)
      in.addData((4L, "alpha beta"), (5L, "delta"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 5L), corpus.toString)
      assert(frag.fragmentCount() == 2, "second trigger must add exactly one fragment")
      // redelivered batch: every row dedups against its own previous
      // append → empty survivor set → NO new fragment
      in.addData((4L, "alpha beta"), (5L, "delta"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 5L), corpus.toString)
      assert(frag.fragmentCount() == 2, "replay must not write a fragment")
    } finally q.stop()
  }

  test("quarantine ingest sink: invalid rows dead-letter with a reason, valid rows dedup; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val mat = new graft.runtime.Materializer(spark,
      java.nio.file.Files.createTempDirectory("ingest_quar").toString)
    def corpus: Set[Long] = mat.fragmented("qc", "doc_id").read()
      .map(_.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)
    def rejects: Map[Long, String] = mat.fragmented("qc__rejects", "doc_id").read()
      .map(_.select("doc_id", "reject_reason").as[(Long, String)].collect().toMap)
      .getOrElse(Map.empty)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.corpusIngestQuarantineFragmentedSink(
      in.toDF().toDF("doc_id", "text"), mat.fragmented("qc", "doc_id"),
      mat.fragmented("qc__rejects", "doc_id"), Seq(
        // order matters: a null text fails text_not_null FIRST even
        // though the length predicate is also (null →) failing
        "text_not_null" -> org.apache.spark.sql.functions.col("text").isNotNull,
        "text_min_len" ->
          (org.apache.spark.sql.functions.length(
            org.apache.spark.sql.functions.col("text")) >= 5))).start()
    try {
      in.addData((1L, "alpha beta"), (2L, null: String), (3L, "abc"), (4L, "gamma delta"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 4L), corpus.toString)
      assert(rejects == Map(2L -> "text_not_null", 3L -> "text_min_len"), rejects.toString)
      // replayed batch (at-least-once): both tables idempotent
      in.addData((1L, "alpha beta"), (2L, null: String), (3L, "abc"), (4L, "gamma delta"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 4L), corpus.toString)
      assert(rejects == Map(2L -> "text_not_null", 3L -> "text_min_len"), rejects.toString)
      // a FIXED doc re-ingests: id 3 now valid upserts into the corpus
      // (and stays in rejects until expired — the documented contract)
      in.addData((3L, "abc now long enough"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 3L, 4L), corpus.toString)
    } finally q.stop()
  }

  test("near-dup corpus ingest sink: cross-batch near-duplicates absorbed by the table") {
    implicit val sqlCtx = spark.sqlContext
    val mat = new graft.runtime.Materializer(spark,
      java.nio.file.Files.createTempDirectory("ingest_nd_stream").toString)
    def corpus: Set[Long] = mat.fragmented("nd", "doc_id").read()
      .map(_.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)
    def sigIds: Set[Long] = mat.fragmented("nd__sigs", "doc_id").read()
      .map(_.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.corpusIngestNearDupFragmentedSink(
      in.toDF().toDF("doc_id", "text"), mat.fragmented("nd", "doc_id"),
      mat.fragmented("nd__sigs", "doc_id"), threshold = 0.8).start()
    try {
      // doc 9 is EMPTY text: no shingles, no signature — it must still
      // land in the corpus, get a convergence TOMBSTONE in the side-table
      // (else the repair anti-join re-tokenizes it every trigger), and
      // never affect candidate generation
      in.addData((1L, "a b c d e f g h i j"), (2L, "x y z w v u t s r q"), (9L, ""))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 9L), corpus.toString)
      // batch 2: 11 is a near-dup (10/11) of MATERIALIZED doc 1; 12 novel.
      // The check runs against the __sigs SIDE-TABLE, which batch 2's
      // repair step has just brought up to batch 1's corpus — the corpus
      // text is never re-signatured (appendDedupNearDupIndexed takes no
      // corpus frame at all).
      in.addData((11L, "a b c d e f g h i j k"), (12L, "p1 p2 p3 p4 p5 p6"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 9L, 12L), corpus.toString)
      assert(sigIds == Set(1L, 2L, 9L),
        s"side-table should lag one trigger and tombstone the empty doc: $sigIds")
      // redelivered batch (at-least-once source): idempotent — 11 and 12
      // are absorbed by the table; the repair step signs 12
      in.addData((11L, "a b c d e f g h i j k"), (12L, "p1 p2 p3 p4 p5 p6"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 9L, 12L), corpus.toString)
      assert(sigIds == Set(1L, 2L, 9L, 12L), sigIds.toString)
    } finally q.stop()
  }

  test("near-dup sink candidates come from the signature side-table, not corpus text") {
    // poison-pill proof of the r7 side-table contract: plant a signature
    // row whose doc has NO corpus-text counterpart. If the next batch's
    // near-dup of that planted content is dropped, the decision can only
    // have come from the stored signatures — re-signaturing the corpus
    // text could never have produced it. (The repair step only ADDS
    // missing ids, so the plant survives it.)
    implicit val sqlCtx = spark.sqlContext
    val mat = new graft.runtime.Materializer(spark,
      java.nio.file.Files.createTempDirectory("ingest_nd_poison").toString)
    def corpus: Set[Long] = mat.fragmented("nd", "doc_id").read()
      .map(_.select("doc_id").as[Long].collect().toSet).getOrElse(Set.empty)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.corpusIngestNearDupFragmentedSink(
      in.toDF().toDF("doc_id", "text"), mat.fragmented("nd", "doc_id"),
      mat.fragmented("nd__sigs", "doc_id"), threshold = 0.8).start()
    try {
      in.addData((1L, "a b c d e f g h i j"))
      q.processAllAvailable()
      assert(corpus == Set(1L), corpus.toString)
      val plant = Seq((999L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")).toDF("doc_id", "text")
      mat.fragmented("nd__sigs", "doc_id")
        .upsert(graft.ext.IngestOps.minHashSigsOf(plant))
      // 21 is a 10/11 near-dup of the PLANTED signature only; 22 novel
      in.addData((21L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11"), (22L, "z1 z2 z3 z4"))
      q.processAllAvailable()
      assert(corpus == Set(1L, 22L), corpus.toString)
    } finally q.stop()
  }

  test("embedding corpus ingest sink: cosine near-dups of the live table absorbed") {
    import graft.ext.VectorFixtures.synthVec
    def jig(base: Seq[Float], eps: Float): Seq[Float] =
      base.zipWithIndex.map { case (v, d) => if (d == 0) v + eps else v }
    implicit val sqlCtx = spark.sqlContext
    val mat = new graft.runtime.Materializer(spark,
      java.nio.file.Files.createTempDirectory("ingest_emb_stream").toString)
    def corpus: Set[Long] = mat.fragmented("vecs", "vec_id").read()
      .map(_.select("vec_id").as[Long].collect().toSet).getOrElse(Set.empty)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamingOps.corpusIngestEmbedFragmentedSink(
      in.toDF().toDF("vec_id", "embedding"), mat.fragmented("vecs", "vec_id"),
      threshold = 0.99).start()
    try {
      // batch 1: 3 is an in-batch jiggle of 1 → collapsed
      in.addData((1L, synthVec(1)), (2L, synthVec(2)), (3L, jig(synthVec(1), 0.01f)))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L), corpus.toString)
      // batch 2: 11 near-dups MATERIALIZED vec 1; 12 novel
      in.addData((11L, jig(synthVec(1), 0.01f)), (12L, synthVec(50)))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 12L), corpus.toString)
      // redelivered batch (at-least-once source): absorbed by the table
      in.addData((11L, jig(synthVec(1), 0.01f)), (12L, synthVec(50)))
      q.processAllAvailable()
      assert(corpus == Set(1L, 2L, 12L), corpus.toString)
    } finally q.stop()
  }

  test("streaming contamination: stream-static broadcast join flags in-flight docs") {
    // the decontamination check runs at the ingest front door too: the
    // eval suite is a STATIC frame (broadcast), the corpus is the
    // stream; per-doc counts are a stateful agg read in complete mode
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val q = graft.ext.DedupOps.contaminationCheck(
        in.toDF().toDF("doc_id", "text"), bench, k = 3)
      .writeStream.format("memory").queryName("contam_out")
      .outputMode("complete").start()
    try {
      in.addData((1L, "the quick brown fox runs far"))
      q.processAllAvailable()
      in.addData((2L, "completely unrelated words only"),
        (3L, "quick brown fox jumps elsewhere"))
      q.processAllAvailable()
      val got = spark.table("contam_out").as[(Long, Long)].collect().toMap
      // identical to the batch semantics: clean doc 2 absent
      assert(got == Map(1L -> 2L, 3L -> 2L), got.toString)
    } finally q.stop()
  }

  test("stateless curation front door: quality/langid/redact/fingerprint stream ≡ batch") {
    // the per-document curation battery is pure Column logic, so the
    // SAME expressions run unchanged under readStream — the ingest
    // front door a streaming pipeline puts before the stateful dedup.
    // Gate: streamed output rows are byte-identical to the batch run.
    import graft.ext.TextOps
    implicit val sqlCtx = spark.sqlContext
    def curate(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality"),
      TextOps.langId(col("text")).as("lang_pred"),
      md5(TextOps.redactPii(col("text"))).as("redacted_md5"),
      TextOps.fingerprint(col("text")).as("fp"))
    val rows = Seq(
      (1L, "the cat and the dog went to the house"),
      (2L, "contact us at someone@example.com or 555-123-4567 today"),
      (3L, "der hund und die katze"),
      (4L, ""))
    val in = MemoryStream[(Long, String)]
    val q = curate(in.toDF().toDF("doc_id", "text")).writeStream
      .format("memory").queryName("curate_out").outputMode("append").start()
    try {
      in.addData(rows.take(2): _*); q.processAllAvailable()
      in.addData(rows.drop(2): _*); q.processAllAvailable()
      val streamed = spark.table("curate_out")
        .as[(Long, Double, String, String, String)].collect().toSet
      val batch = curate(rows.toDF("doc_id", "text"))
        .as[(Long, Double, String, String, String)].collect().toSet
      assert(streamed == batch,
        s"stream/batch divergence: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
      // and the PII plant actually got scrubbed in-stream
      assert(streamed.map(_._1).contains(2L))
    } finally q.stop()
  }
}
