package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft
import graft.model.{LeadActivitiesAgg, RefShapes, TrafficDailyAgg, TrafficPagesAgg}
import graft.ops.Filters
import graft.runtime.{Dag, Fs, Materializer, Sources}

/** Model-level golden queries: the three reference pipelines run
  * end-to-end over fixture-derived reference-shaped inputs
  * (graft.model.RefShapes), hash-compared against a LITERAL DuckDB
  * translation of the reference SQL (Jinja stripped, first-run /
  * full-refresh semantics, NVL→COALESCE).
  *
  * The derivation CTEs below mirror RefShapes expression-for-expression;
  * any edit must be applied in both places.
  */
object ModelQueries {

  type Q = (SparkSession, String) => DataFrame

  // Each incremental row writes a temp warehouse whose tables its returned
  // frame reads lazily, so the dir must outlive the call. ONE shutdown
  // hook reclaims them all at JVM exit; within a session, a repeat run of
  // the same row eagerly deletes (and replaces) that row's previous dir,
  // so long-lived sessions don't accumulate dirs per invocation.
  private val tmpDirs =
    scala.collection.mutable.LinkedHashMap[String, java.nio.file.Path]()
  private lazy val cleanupHook =
    sys.addShutdownHook(tmpDirs.synchronized(tmpDirs.values.foreach(Fs.deleteRecursive)))

  /** A fresh temp warehouse for `row`, replacing the row's previous one. */
  private def tempWarehouse(s: SparkSession, row: String): Materializer = {
    cleanupHook
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_")
    tmpDirs.synchronized {
      tmpDirs.remove(row).foreach(Fs.deleteRecursive)
      tmpDirs(row) = dir
    }
    new Materializer(s, dir.toString)
  }

  /** Two `dbt run`s of the production model nodes through [[Dag]]: run 1
    * builds `model` and its refs over the [[batch1]] slice of `events` (a
    * full build — no prior table); run 2 re-runs only `model` over all
    * events, its refs `View` nodes that read their materialized tables,
    * as `dbt run --select <model>` does. Returns the model's post-swap
    * table, so the oracle hash checks the nodes' incremental seams and
    * the Materializer's upsert/swap.
    */
  private def incrRun(s: SparkSession, dir: String, row: String, model: String)(
      nodes: DataFrame => Seq[Dag.Node]): DataFrame = {
    val mat = tempWarehouse(s, row)
    val events = Sources(s, dir).events
    val first = nodes(events.filter(batch1(model)))
    val refs = first.find(_.name == model).get.deps
    new Dag(mat, first.filter(n => n.name == model || refs.contains(n.name))).run()
    val tables = refs.map(d => Dag.Node(d, Dag.Mat.View, Nil, (_, _) => mat.readPrior(d).get))
    new Dag(mat, nodes(events).filter(_.name == model) ++ tables).run()(model)
  }

  /** Run 1's slice of fixture `events`: every reference source derives
    * from it (RefShapes: spends ← purchases, leads ← signups, date =
    * to_date(ts)), so one filter cuts them all at 2024-01-15. For the
    * leads model only its lead source (the signups) is cut.
    */
  private def batch1(model: String): Column = {
    val afterCut = to_date(col("ts")) > lit(java.sql.Date.valueOf("2024-01-15"))
    if (model == "lead_activities_agg") !(col("event_type") === "signup" && afterCut)
    else !afterCut
  }

  // the A5 debug block still runs in the leads node; its lines are dropped
  private val quiet: String => Unit = _ => ()

  /** An incremental model row: [[incrRun]] over [[Graft.models]]. */
  private[registry] def incrRow(row: String, model: String, sql: Boolean): (String, Q) =
    row -> ((s, dir) => incrRun(s, dir, row, model)(Graft.models(_, sql, quiet)))

  val queries: Map[String, Q] = Map(
    "q_model_pages" -> ((s, dir) =>
      TrafficPagesAgg.build(RefShapes.eventsRef(Sources(s, dir).events))),
    "q_model_daily" -> ((s, dir) => {
      val ev = Sources(s, dir).events
      TrafficDailyAgg.build(RefShapes.eventsRef(ev), RefShapes.campaignSpendsRef(ev))
    }),
    "q_model_leads" -> ((s, dir) => {
      val ev = Sources(s, dir).events
      val daily = TrafficDailyAgg.build(RefShapes.eventsRef(ev), RefShapes.campaignSpendsRef(ev))
      LeadActivitiesAgg.build(RefShapes.eventsRef(ev),
        RefShapes.leadStageChangeEventsRef(ev), daily)
    }),
    // model 2 run incrementally in two batches: run 2's global ROW_NUMBER
    // restarts at 1 and OVERWRITES run 1's lowest ids via upsert-by-id —
    // the reference's id-collision quirk (SURVEY §2.10), replicated and
    // oracle-checked.
    incrRow("q_model_pages_incr", "traffic_pages_agg", sql = false),
    // model 1 incrementally: events and spends watermark independently on
    // max(spend_date) of the prior output, so a spend row dated ≤ wm that
    // arrives later is silently dropped (SURVEY §2.10) — faithfully.
    incrRow("q_model_daily_incr", "traffic_daily_agg", sql = false),
    // model 3 incrementally: only the LEAD scan is watermarked (on
    // max(activity_date)); the events scan rescans fully every run — the
    // reference's cost-profile quirk (SURVEY §2.10), replicated. Run 2
    // reads model 1's materialized table through the hidden edge, as dbt
    // does — model 1 is not rebuilt.
    incrRow("q_model_leads_incr", "lead_activities_agg", sql = false),
    // [EXT] the scale-sane twin of q_model_leads_incr (VERDICT r17 task
    // 4): incremental runs watermark the EVENTS scan too — date >
    // max(activity_date) of the prior output, the same scalar the leads
    // scan already uses — where the faithful row rescans every event
    // every run (the reference's single most expensive behavior: linear
    // in history, 23.1 s at sf1 and growing). The semantic delta, by
    // construction: a lead whose last touch PREDATES the watermark
    // loses attribution in the incremental batch (NULL event columns) —
    // full-history attribution is exactly what the rescan buys. The
    // DuckDB oracle mirrors the watermarked semantics, so this is
    // pinned as its own contract, not as an approximation of the
    // faithful row. First (full-refresh) run is identical to the
    // faithful row's. The production nodes with this leads build
    // swapped in.
    "q_model_leads_incr_watermarked" -> ((s, dir) =>
      incrRun(s, dir, "q_model_leads_incr_watermarked", "lead_activities_agg") { events =>
        Graft.models(events, sql = false, quiet).map {
          case n if n.name == "lead_activities_agg" => n.copy(build = (refs, prior) => {
            val wm = Filters.watermark(prior, "activity_date")
            val evWm = wm.fold(events)(d => events.filter(to_date(col("ts")) > lit(d)))
            LeadActivitiesAgg.buildSince(RefShapes.eventsRef(evWm),
              RefShapes.leadStageChangeEventsRef(events), refs("traffic_daily_agg"), wm)
          })
          case n => n
        }
      }),
    // dbt 1.9's MICROBATCH incremental strategy through the production
    // per-window delete+append writer: phase 1 backfills Jan 1-14 from an
    // early source snapshot MISSING the "late" facts (event_id % 7 = 0
    // inside the Jan 13-14 windows — deterministic, no arrival-time
    // column needed); phase 2 advances to the source's max day with
    // lookback 1, so its rebuild horizon starts at Jan 13 (hw − 1) and
    // re-reads the now-complete source, absorbing exactly the late rows.
    // The final table must equal the one-shot full rollup — the oracle is
    // the plain GROUP BY over ALL events, which only holds if the
    // window-sliced rebuilds compose losslessly.
    "q_incr_microbatch" -> ((s, dir) => {
      val mat = tempWarehouse(s, "q_incr_microbatch")
      val ev = Sources(s, dir).events.withColumn("event_date", to_date(col("ts")))
      def win(src: DataFrame)(lo: java.time.LocalDate, hi: java.time.LocalDate): DataFrame =
        src.filter(col("event_date") >= lit(java.sql.Date.valueOf(lo)) &&
                   col("event_date") < lit(java.sql.Date.valueOf(hi)))
          .groupBy("event_date", "event_type")
          .agg(count(lit(1)).as("n_events"),
               countDistinct(col("user_id")).as("n_users"))
      val begin = java.time.LocalDate.parse("2024-01-01")
      val cut = java.time.LocalDate.parse("2024-01-14")
      val asOf = ev.agg(max(col("event_date"))).head.getDate(0).toLocalDate
      val late = col("event_id") % 7 === 0 &&
        col("event_date").between(
          lit(java.sql.Date.valueOf("2024-01-13")),
          lit(java.sql.Date.valueOf("2024-01-14")))
      mat.materializeMicrobatch("microbatch_daily", "event_date", begin, cut)(
        win(ev.filter(!late)))
      mat.materializeMicrobatch("microbatch_daily", "event_date", begin, asOf,
        lookback = 1)(win(ev))
        // the partitioned read puts the partition column last — pin order
        .select("event_date", "event_type", "n_events", "n_users")
    }),
  )

  // ---- fixture → reference-shape derivation (mirror of RefShapes) ---------

  private val eventsRefCte =
    """events_ref AS (
      |  SELECT
      |    CAST(event_id AS VARCHAR) AS event_id,
      |    ts AS collector_tstamp,
      |    'u' || CAST(user_id AS VARCHAR) AS domain_userid,
      |    'app' || CAST(user_id % 3 AS VARCHAR) AS app_id,
      |    CASE WHEN event_type IN ('click','view') THEN 'page_view' ELSE event_type END AS event,
      |    CASE WHEN event_id % 11 = 0 THEN 'MegaBot/2.1'
      |         WHEN event_id % 11 = 1 THEN 'WebSpider/1.0'
      |         WHEN event_id % 11 = 2 THEN 'site-Crawler/3'
      |         ELSE 'Mozilla/5.0 (X11; Linux x86_64)' END AS useragent,
      |    CASE WHEN event_id % 13 = 0 THEN 'internal' WHEN event_id % 13 = 1 THEN 'cpc'
      |         WHEN event_id % 13 = 2 THEN 'ppc' WHEN event_id % 13 = 3 THEN 'paidsearch'
      |         WHEN event_id % 13 = 4 THEN 'display' WHEN event_id % 13 = 5 THEN 'social'
      |         WHEN event_id % 13 = 6 THEN 'search' WHEN event_id % 13 = 7 THEN 'email'
      |         WHEN event_id % 13 = 8 THEN '' WHEN event_id % 13 = 9 THEN 'unknown'
      |         WHEN event_id % 13 = 10 THEN 'paid' WHEN event_id % 13 = 11 THEN 'referral'
      |         ELSE NULL END AS refr_medium,
      |    CASE WHEN event_id % 5 = 0 THEN NULL WHEN event_id % 5 = 1 THEN ''
      |         ELSE 'net' || CAST(event_id % 5 AS VARCHAR) END AS mkt_network,
      |    CASE WHEN event_id % 7 = 0 THEN NULL
      |         ELSE 'MSrc' || CAST(event_id % 7 AS VARCHAR) END AS mkt_source,
      |    CASE WHEN event_id % 4 = 0 THEN NULL
      |         ELSE 'rsrc' || CAST(event_id % 4 AS VARCHAR) END AS refr_source,
      |    CASE WHEN event_id % 6 = 0 THEN NULL
      |         ELSE 'Camp-' || CAST(event_id % 6 AS VARCHAR) END AS mkt_campaign,
      |    CASE WHEN event_id % 8 = 0 THEN NULL
      |         ELSE 'term' || CAST(event_id % 8 AS VARCHAR) END AS mkt_term,
      |    CASE WHEN event_id % 9 = 0 THEN NULL
      |         ELSE 'Med' || CAST(event_id % 9 AS VARCHAR) END AS mkt_medium,
      |    CASE WHEN event_id % 17 = 0 THEN NULL
      |         ELSE '/p/' || CAST(event_id % 50 AS VARCHAR) END AS page_urlpath
      |  FROM events
      |)""".stripMargin

  private val spendsRefCte =
    """campaign_spends_ref AS (
      |  SELECT
      |    CAST(user_id % 7 AS VARCHAR) AS company_id,
      |    'app' || CAST(user_id % 3 AS VARCHAR) AS company_domain,
      |    ts AS spend_date,
      |    CASE WHEN event_id % 4 = 0 THEN 'unknown'
      |         WHEN event_id % 4 = 1 THEN 'term' || CAST(event_id % 8 AS VARCHAR)
      |         ELSE 'Camp-' || CAST(event_id % 6 AS VARCHAR) END AS campaign_name,
      |    CASE WHEN event_id % 10 = 0 THEN NULL
      |         ELSE CAST(event_id % 97 AS DOUBLE) / 4 END AS spend
      |  FROM events WHERE event_type = 'purchase' AND event_id % 2 = 0
      |)""".stripMargin

  private val leadsRefCte =
    """leads_ref AS (
      |  SELECT
      |    'Dom' || CAST(user_id % 20 AS VARCHAR) AS company_domain,
      |    CAST(user_id % 7 AS VARCHAR) AS company_id,
      |    'u' || CAST(user_id AS VARCHAR) AS domain_userid,
      |    'L' || CAST(event_id AS VARCHAR) AS lead_id,
      |    'P' || CAST(user_id AS VARCHAR) AS person_id,
      |    CAST(ts AS DATE) AS date,
      |    CAST(event_id % 5 AS VARCHAR) AS lead_generator_id,
      |    CASE WHEN event_id % 5 = 0 THEN NULL
      |         ELSE 'Gen' || CAST(event_id % 5 AS VARCHAR) END AS lead_generator_name,
      |    CAST(event_id % 11 AS VARCHAR) AS lead_source_ehr_id,
      |    CASE WHEN event_id % 12 = 0 THEN NULL
      |         ELSE CAST(event_id % 4 AS VARCHAR) END AS new_stage_id,
      |    CASE WHEN event_id % 15 = 0 THEN NULL
      |         ELSE 'Stage-' || CAST(event_id % 4 AS VARCHAR) END AS new_stage_name,
      |    CASE WHEN event_id % 10 = 0 THEN NULL
      |         ELSE CAST(event_id % 4 AS VARCHAR) END AS old_stage_id,
      |    CASE WHEN event_id % 10 = 0 THEN NULL
      |         ELSE 'Stage-' || CAST((event_id + 3) % 4 AS VARCHAR) END AS old_stage_name,
      |    CASE WHEN event_id % 18 = 0 THEN NULL
      |         ELSE CAST(event_id % 3 AS VARCHAR) END AS pipeline_id,
      |    CASE WHEN event_id % 21 = 0 THEN NULL
      |         ELSE 'Pipe' || CAST(event_id % 3 AS VARCHAR) END AS pipeline_name,
      |    CAST(event_id % 30 AS VARCHAR) AS product_id,
      |    'Prod ' || CAST(event_id % 30 AS VARCHAR) AS product_name,
      |    CAST(event_id % 500 AS DOUBLE) + 0.5 AS product_price,
      |    'SKU-' || CAST(event_id % 30 AS VARCHAR) AS product_sku
      |  FROM events WHERE event_type = 'signup' AND event_id % 3 = 0
      |)""".stripMargin

  // ---- literal model translations (reference SQL, Jinja stripped) ---------

  private def sk(cols: String*): String =
    "md5(concat_ws('-', " + cols.map(c =>
      s"coalesce(CAST($c AS VARCHAR), '_dbt_utils_surrogate_key_null')").mkString(", ") + "))"

  private val botGate =
    """useragent NOT ILIKE '%bot%'
      |      AND useragent NOT ILIKE '%spider%'
      |      AND useragent NOT ILIKE '%crawl%'""".stripMargin

  /** traffic_daily_agg.sql:8-130 as prefixed CTEs ending in
    * `<p>combined_traffic`; evWhere/spWhere inject the incremental
    * watermark filters (empty = first run).
    */
  private def dailyCtes(p: String, evWhere: String, spWhere: String): String =
    s"""${p}filtered_events AS (
      |  SELECT CAST(collector_tstamp AS DATE) AS event_date, app_id, domain_userid,
      |         refr_medium, mkt_source, refr_source, mkt_network, mkt_campaign, mkt_term
      |  FROM events_ref
      |  WHERE event = 'page_view' AND refr_medium != 'internal'
      |      AND $botGate$evWhere
      |),
      |${p}classified_events AS (
      |  SELECT event_date, app_id, domain_userid,
      |    CASE
      |      WHEN (refr_medium IN ('cpc','ppc','paidsearch','display','social','search','email','','unknown')
      |            AND COALESCE(mkt_network, '') <> '') OR (refr_medium = 'paid') THEN 'paid'
      |      WHEN refr_medium IN ('display','social','search','email','','unknown')
      |           AND refr_medium <> 'paid' AND COALESCE(mkt_network, '') = '' THEN 'organic'
      |      ELSE NULL
      |    END AS traffic_type,
      |    mkt_source, refr_source, mkt_network, mkt_campaign, mkt_term
      |  FROM ${p}filtered_events
      |),
      |${p}event_traffic AS (
      |  SELECT event_date, app_id, traffic_type,
      |    CASE WHEN traffic_type = 'paid' THEN COALESCE(mkt_source, refr_source, mkt_network, 'unknown')
      |         WHEN traffic_type = 'organic' THEN COALESCE(mkt_source, refr_source, 'unknown')
      |         ELSE NULL END AS col_3,
      |    CASE WHEN traffic_type = 'paid' THEN COALESCE(mkt_campaign, 'unknown')
      |         WHEN traffic_type = 'organic' THEN COALESCE(mkt_term, mkt_campaign, 'unknown')
      |         ELSE NULL END AS col_4,
      |    COUNT(*) AS total_visits,
      |    COUNT(DISTINCT domain_userid) AS unique_visitors
      |  FROM ${p}classified_events
      |  WHERE traffic_type IS NOT NULL
      |  GROUP BY event_date, app_id, traffic_type, col_3, col_4
      |),
      |${p}campaign_spend_data AS (
      |  SELECT cs.company_id, cs.company_domain, CAST(cs.spend_date AS DATE) AS spend_date,
      |         cs.campaign_name, cs.spend
      |  FROM campaign_spends_ref cs
      |  WHERE cs.spend IS NOT NULL$spWhere
      |),
      |${p}combined_traffic AS (
      |  SELECT 999 AS company_id, et.app_id AS company_domain, et.event_date AS spend_date,
      |         et.total_visits AS traffic, COALESCE(csd.spend, 0) AS spend,
      |         'all' AS col_1, et.traffic_type AS col_2, et.col_3, et.col_4,
      |         CAST(NULL AS VARCHAR) AS col_5, CAST(NULL AS VARCHAR) AS col_6
      |  FROM ${p}event_traffic et
      |  LEFT JOIN ${p}campaign_spend_data csd
      |    ON et.col_4 = csd.campaign_name AND et.event_date = csd.spend_date
      |       AND et.traffic_type = 'paid'
      |  UNION ALL
      |  SELECT 999 AS company_id, et.app_id AS company_domain, et.event_date AS spend_date,
      |         et.unique_visitors AS traffic, COALESCE(csd.spend, 0) AS spend,
      |         'unique' AS col_1, et.traffic_type AS col_2, et.col_3, et.col_4,
      |         CAST(NULL AS VARCHAR) AS col_5, CAST(NULL AS VARCHAR) AS col_6
      |  FROM ${p}event_traffic et
      |  LEFT JOIN ${p}campaign_spend_data csd
      |    ON et.col_4 = csd.campaign_name AND et.event_date = csd.spend_date
      |       AND et.traffic_type = 'paid'
      |)""".stripMargin

  private def dailyFinal(p: String): String =
    s"""SELECT ${sk("company_domain", "spend_date", "col_1", "col_2", "col_3", "col_4")} AS id,
      |  company_id, company_domain, spend_date, traffic, spend,
      |  col_1, col_2, col_3, col_4, col_5, col_6
      |FROM ${p}combined_traffic""".stripMargin

  /** lead_activities_agg.sql:33-184 as prefixed CTEs (the m3_ base name
    * avoids collision with model-1 CTEs; the prefix lets the incremental
    * oracle run the model per batch). leadsWhere injects the incremental
    * watermark on the lead scan — the events scan is NEVER watermarked
    * (reference quirk, SURVEY §2.10).
    */
  private def leadsCtes(p: String, leadsWhere: String,
                        evWhere: String = ""): String =
    s"""${p}m3_filtered_events AS (
      |  SELECT domain_userid, event_id, mkt_medium, mkt_source, mkt_campaign,
      |    CAST(collector_tstamp AS DATE) AS visit_date, page_urlpath, refr_medium,
      |    mkt_network, collector_tstamp,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY domain_userid
      |      ORDER BY
      |        CASE WHEN (refr_medium IN ('cpc','ppc','paidsearch','display','social','search','email','','unknown')
      |                   AND COALESCE(mkt_network, '') <> '') OR refr_medium = 'paid' THEN 1
      |             ELSE 2 END,
      |        collector_tstamp DESC, event_id DESC
      |    ) AS rn
      |  FROM events_ref
      |  WHERE event = 'page_view' AND $botGate
      |      AND refr_medium <> 'internal'$evWhere
      |),
      |${p}latest_events AS (
      |  SELECT domain_userid, event_id, mkt_medium, mkt_source, mkt_campaign,
      |         visit_date, page_urlpath
      |  FROM ${p}m3_filtered_events WHERE rn = 1
      |),
      |${p}lead_activities AS (
      |  SELECT DISTINCT company_domain, company_id, domain_userid, lead_id, person_id,
      |    date AS activity_date, lead_generator_id, lead_generator_name,
      |    lead_source_ehr_id, new_stage_id, new_stage_name, old_stage_id,
      |    old_stage_name, pipeline_id, pipeline_name, product_id, product_name,
      |    product_price, product_sku
      |  FROM leads_ref$leadsWhere
      |),
      |${p}traffic_spend AS (
      |  SELECT DISTINCT spend_date, LOWER(col_4) AS mkt_campaign,
      |    CAST(spend AS DOUBLE) / NULLIF(traffic, 0) AS spend_per_visit, col_1
      |  FROM traffic_daily_agg
      |  WHERE spend IS NOT NULL AND traffic > 0 AND col_4 IS NOT NULL AND col_1 = 'unique'
      |),
      |${p}enriched_activities AS (
      |  SELECT la.company_id, LOWER(la.company_domain) AS company_name,
      |    LOWER(la.domain_userid) AS domain_userid, le.event_id,
      |    LOWER(le.mkt_medium) AS mkt_medium, LOWER(le.mkt_source) AS mkt_source,
      |    LOWER(le.mkt_campaign) AS mkt_campaign, le.visit_date,
      |    LOWER(le.page_urlpath) AS page_urlpath,
      |    COALESCE(ts.spend_per_visit, 0) AS mkt_spend,
      |    la.activity_date, la.lead_source_ehr_id, la.lead_generator_id,
      |    LOWER(la.lead_generator_name) AS lead_generator_name,
      |    la.old_stage_id, LOWER(la.old_stage_name) AS old_stage_name,
      |    la.new_stage_id, LOWER(la.new_stage_name) AS new_stage_name,
      |    la.pipeline_id, LOWER(la.pipeline_name) AS pipeline_name,
      |    la.product_id, LOWER(la.product_sku) AS product_sku,
      |    LOWER(la.product_name) AS product_name,
      |    CAST(la.product_price AS VARCHAR) AS product_price
      |  FROM ${p}lead_activities la
      |  LEFT JOIN ${p}latest_events le ON la.domain_userid = le.domain_userid
      |  LEFT JOIN ${p}traffic_spend ts
      |    ON LOWER(le.mkt_campaign) = ts.mkt_campaign
      |       AND le.visit_date = ts.spend_date AND ts.col_1 = 'unique'
      |)""".stripMargin

  private def leadsFinal(p: String): String =
    s"""SELECT ${sk("company_id", "domain_userid", "event_id", "activity_date", "new_stage_id")} AS id,
      |  company_id, company_name, domain_userid, event_id, mkt_medium, mkt_source,
      |  mkt_campaign, visit_date, page_urlpath, mkt_spend, activity_date,
      |  lead_source_ehr_id, lead_generator_id, lead_generator_name, old_stage_id,
      |  old_stage_name, new_stage_id, new_stage_name, pipeline_id, pipeline_name,
      |  product_id, product_sku, product_name, product_price
      |FROM ${p}enriched_activities
      |WHERE new_stage_id IS NOT NULL AND new_stage_name IS NOT NULL
      |  AND pipeline_id IS NOT NULL AND pipeline_name IS NOT NULL""".stripMargin

  /** traffic_pages_agg.sql:7-78 as prefixed CTEs ending in `<p>final` —
    * prefixing lets the incremental oracle run the model twice (per
    * batch) in one query.
    */
  private def pagesCtes(p: String, extraWhere: String): String =
    s"""${p}filtered_events AS (
      |  SELECT CAST(collector_tstamp AS DATE) AS event_date, app_id, domain_userid, page_urlpath
      |  FROM events_ref
      |  WHERE event = 'page_view' AND refr_medium != 'internal'
      |      AND $botGate
      |      AND page_urlpath IS NOT NULL$extraWhere
      |),
      |${p}page_traffic AS (
      |  SELECT event_date AS date, app_id AS company_domain, page_urlpath,
      |         COUNT(*) AS total_visits, COUNT(DISTINCT domain_userid) AS unique_visits
      |  FROM ${p}filtered_events GROUP BY 1, 2, 3
      |),
      |${p}labeled_visits AS (
      |  SELECT company_domain, date, page_urlpath, 'all' AS type, total_visits AS traffic
      |  FROM ${p}page_traffic
      |  UNION ALL
      |  SELECT company_domain, date, page_urlpath, 'unique' AS type, unique_visits AS traffic
      |  FROM ${p}page_traffic
      |),
      |${p}final AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY date, company_domain, page_urlpath, type) AS id,
      |         1 AS company_id, company_domain, date, type, page_urlpath, traffic
      |  FROM ${p}labeled_visits
      |)""".stripMargin

  private val pagesSelect =
    "SELECT id, date, type, page_urlpath, traffic, company_id, company_domain FROM "

  val oracle: Map[String, String] = Map(
    // the microbatch run must converge to the one-shot full rollup
    "q_incr_microbatch" ->
      ("""SELECT CAST(ts AS DATE) AS event_date, event_type,
         |  count(*) AS n_events, count(DISTINCT user_id) AS n_users
         |FROM events GROUP BY 1, 2""".stripMargin),
    "q_model_pages" ->
      s"WITH $eventsRefCte,\n${pagesCtes("", "")}\n$pagesSelect final",
    "q_model_pages_incr" ->
      (s"WITH $eventsRefCte,\n" +
       pagesCtes("b1_", "\n      AND CAST(collector_tstamp AS DATE) <= DATE '2024-01-15'") + ",\n" +
       pagesCtes("b2_", "\n      AND CAST(collector_tstamp AS DATE) > " +
         "(SELECT COALESCE(MAX(date), DATE '1900-01-01') FROM b1_final)") + "\n" +
       s"$pagesSelect b1_final WHERE id NOT IN (SELECT id FROM b2_final)\n" +
       s"UNION ALL\n$pagesSelect b2_final"),
    "q_model_daily" ->
      s"WITH $eventsRefCte,\n$spendsRefCte,\n${dailyCtes("", "", "")}\n${dailyFinal("")}",
    "q_model_daily_incr" ->
      (s"WITH $eventsRefCte,\n$spendsRefCte,\n" +
       dailyCtes("b1_",
         "\n      AND CAST(collector_tstamp AS DATE) <= DATE '2024-01-15'",
         "\n      AND CAST(cs.spend_date AS DATE) <= DATE '2024-01-15'") + ",\n" +
       s"b1_daily AS (\n${dailyFinal("b1_")}\n),\n" +
       "wm AS (SELECT COALESCE(MAX(spend_date), DATE '1900-01-01') AS w FROM b1_daily),\n" +
       dailyCtes("b2_",
         "\n      AND CAST(collector_tstamp AS DATE) > (SELECT w FROM wm)",
         "\n      AND CAST(cs.spend_date AS DATE) > (SELECT w FROM wm)") + ",\n" +
       s"b2_daily AS (\n${dailyFinal("b2_")}\n)\n" +
       "SELECT * FROM b1_daily WHERE id NOT IN (SELECT id FROM b2_daily)\n" +
       "UNION ALL SELECT * FROM b2_daily"),
    "q_model_leads" ->
      (s"WITH $eventsRefCte,\n$spendsRefCte,\n$leadsRefCte,\n${dailyCtes("", "", "")},\n" +
       s"traffic_daily_agg AS (\n${dailyFinal("")}\n),\n${leadsCtes("", "")}\n${leadsFinal("")}"),
    "q_model_leads_incr" ->
      (s"WITH $eventsRefCte,\n$spendsRefCte,\n$leadsRefCte,\n${dailyCtes("", "", "")},\n" +
       s"traffic_daily_agg AS (\n${dailyFinal("")}\n),\n" +
       leadsCtes("b1_", "\n  WHERE date <= DATE '2024-01-15'") + ",\n" +
       s"b1_leads AS (\n${leadsFinal("b1_")}\n),\n" +
       "lwm AS (SELECT COALESCE(MAX(activity_date), DATE '1900-01-01') AS w FROM b1_leads),\n" +
       leadsCtes("b2_", "\n  WHERE date > (SELECT w FROM lwm)") + ",\n" +
       s"b2_leads AS (\n${leadsFinal("b2_")}\n)\n" +
       "SELECT * FROM b1_leads WHERE id NOT IN (SELECT id FROM b2_leads)\n" +
       "UNION ALL SELECT * FROM b2_leads"),
    // [EXT] watermarked twin: batch 2's events scan carries the same
    // `> lwm` predicate the Spark side pushes into the parquet scan
    "q_model_leads_incr_watermarked" ->
      (s"WITH $eventsRefCte,\n$spendsRefCte,\n$leadsRefCte,\n${dailyCtes("", "", "")},\n" +
       s"traffic_daily_agg AS (\n${dailyFinal("")}\n),\n" +
       leadsCtes("b1_", "\n  WHERE date <= DATE '2024-01-15'") + ",\n" +
       s"b1_leads AS (\n${leadsFinal("b1_")}\n),\n" +
       "lwm AS (SELECT COALESCE(MAX(activity_date), DATE '1900-01-01') AS w FROM b1_leads),\n" +
       leadsCtes("b2_", "\n  WHERE date > (SELECT w FROM lwm)",
         "\n      AND CAST(collector_tstamp AS DATE) > (SELECT w FROM lwm)") + ",\n" +
       s"b2_leads AS (\n${leadsFinal("b2_")}\n)\n" +
       "SELECT * FROM b1_leads WHERE id NOT IN (SELECT id FROM b2_leads)\n" +
       "UNION ALL SELECT * FROM b2_leads"),
  )
}
