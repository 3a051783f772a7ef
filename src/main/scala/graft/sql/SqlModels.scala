package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.RefShapes
import graft.runtime.Sources

/** SQL front-end — the reference audience's native surface. The reference
  * ships its models as SQL (`models/<name>.sql`) with three Jinja seams:
  * `source('schema','table')`, `{{ this }}`, and `is_incremental()`. This
  * module re-expresses each model in Spark SQL dialect over registered
  * temp views, resolving those seams the way dbt's compile step does:
  *
  *   - `source(s, t)`  → view `s_t` (registered by [[registerCatalog]])
  *   - `{{ this }}`    → a caller-registered prior-output view, read
  *                       through [[incrementalWhere]]
  *   - `is_incremental()` → the `*Where` parameters (empty = first run /
  *                       full refresh, mirroring the stripped Jinja block)
  *
  * Dialect deltas from the reference's Redshift SQL, all
  * semantics-preserving: variadic `NVL` → `COALESCE` (2-arg NVL is kept —
  * Spark has it), `::DATE` → `CAST(AS DATE)`, untyped `NULL` projections →
  * `CAST(NULL AS STRING)` (Spark refuses void columns in parquet),
  * `::float` → `CAST(AS DOUBLE)` (matches the oracle-green Scala path).
  * `NOT ILIKE` and ordinal/alias GROUP BY parse natively in Spark 4.
  *
  * Catalyst treats `spark.sql(...)` and the DataFrame API identically
  * after analysis, so everything the Scala model objects earn (pushdown,
  * pruning, broadcast, AQE) applies here too — with one documented
  * exception: the reference's daily model writes its spend join twice,
  * once per UNION branch (traffic_daily_agg.sql:106-129); this SQL keeps
  * that literal shape (the front-end's job is the reference text), while
  * `TrafficDailyAgg.build` is the join-once optimized form.
  */
object SqlModels {

  /** dbt `source('schema','table')` → temp-view name. */
  def sourceView(schema: String, table: String): String = s"${schema}_$table"

  /** Register the catalog a reference user expects: every fixture table
    * under its own name, plus the three reference-shaped source views
    * (`atomic_events`, `public_campaign_spends`,
    * `public_lead_stage_change_events`) derived via RefShapes — the SQL
    * analog of `models/sources.yml:3-18`. Idempotent (replace-on-register).
    */
  def registerCatalog(spark: SparkSession, dir: String): Unit = {
    val src = Sources(spark, dir)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => src.table(t).createOrReplaceTempView(t))
    registerSourceViews(src)
    registered.put(spark, dir)
  }

  /** Only the three reference-shaped source views, from `src`'s
    * `events` — everything the three model SQL texts read besides
    * `{{ this }}` and the hidden-edge view, so the DAG's SQL surface
    * resolves one source table instead of the whole catalog. A session
    * whose catalog was registered for another dir loses its
    * [[ensureCatalog]] memo: its views no longer all come from one dir.
    */
  def registerSourceViews(src: Sources): Unit = {
    val events = src.events
    RefShapes.eventsRef(events)
      .createOrReplaceTempView(sourceView("atomic", "events"))
    RefShapes.campaignSpendsRef(events)
      .createOrReplaceTempView(sourceView("public", "campaign_spends"))
    RefShapes.leadStageChangeEventsRef(events)
      .createOrReplaceTempView(sourceView("public", "lead_stage_change_events"))
    val spark = events.sparkSession
    if (registered.get(spark) != src.dir) registered.remove(spark)
  }

  // last catalog registration per session — [[ensureCatalog]]'s memo.
  // Weak keys: a retired session must not be pinned by the memo.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Idempotent fast path of [[registerCatalog]] (r18): re-registering
    * the 13-view catalog re-builds and re-ANALYZES the RefShapes
    * expression trees (createOrReplaceTempView stores the analyzed
    * plan) on every call — pure catalog-metadata work, ~0.2-0.3 s per
    * call at 32 cores, paid by every SQL-surface query invocation.
    * This skips the rebuild when THIS session already registered THIS
    * dir. No data or results are cached — the views are lazy scans,
    * recomputed from parquet by every downstream action; callers that
    * may have REPLACED individual views out from under the catalog
    * (tests do) keep using [[registerCatalog]] directly.
    */
  def ensureCatalog(spark: SparkSession, dir: String): Unit =
    if (registered.get(spark) != dir) registerCatalog(spark, dir)

  /** The `is_incremental()` high-watermark predicate against a
    * `{{ this }}` view (traffic_pages_agg.sql:20-24 and siblings):
    * `AND <dateExpr> > (SELECT COALESCE(MAX(<wmCol>), DATE '1900-01-01') FROM <thisView>)`.
    */
  def incrementalWhere(dateExpr: String, wmCol: String, thisView: String): String =
    s"\n      AND $dateExpr > (SELECT COALESCE(MAX($wmCol), DATE '1900-01-01') FROM $thisView)"

  // Per-model seam resolutions — the single source for each model's
  // watermark wiring, shared by the registry's gated incremental queries
  // (SqlQueries) and the DAG run's SQL surface (Graft.run(sql = true)).

  /** Pages seam (traffic_pages_agg.sql:20-24): one watermark on `date`. */
  def pagesIncrementalWhere(thisView: String): String =
    incrementalWhere("CAST(collector_tstamp AS DATE)", "date", thisView)

  /** Daily seams (traffic_daily_agg.sql:25-27 + :87-89): events and
    * spends watermark INDEPENDENTLY on max(spend_date) of `{{ this }}`.
    */
  def dailyIncrementalWheres(thisView: String): (String, String) =
    (incrementalWhere("DATE(collector_tstamp)", "spend_date", thisView),
      incrementalWhere("DATE(cs.spend_date)", "spend_date", thisView))

  /** Leads seam (lead_activities_agg.sql:99-101): the lead scan alone
    * watermarks on max(activity_date); its CTE has no base WHERE, so the
    * seam is a full WHERE clause rather than incrementalWhere's AND form.
    */
  def leadsIncrementalWhere(thisView: String): String =
    s"\n  WHERE date > (SELECT COALESCE(MAX(activity_date), DATE '1900-01-01') FROM $thisView)"

  private val botGate =
    """useragent NOT ILIKE '%bot%'
      |      AND useragent NOT ILIKE '%spider%'
      |      AND useragent NOT ILIKE '%crawl%'""".stripMargin

  /** dbt_utils.generate_surrogate_key (Keys.surrogateKey in the DataFrame
    * path): cast→sentinel-null→'-'-join→md5.
    */
  private def sk(cols: String*): String =
    "md5(concat_ws('-', " + cols.map(c =>
      s"coalesce(CAST($c AS STRING), '_dbt_utils_surrogate_key_null')").mkString(", ") + "))"

  /** Model 2 — `traffic_pages_agg.sql:7-78` in Spark SQL.
    * @param eventsWhere extra scan predicate (incremental seam; "" = full refresh)
    */
  def trafficPagesAggSql(eventsWhere: String = ""): String =
    s"""WITH filtered_events AS (
      |  SELECT
      |    CAST(collector_tstamp AS DATE) AS event_date,
      |    app_id,
      |    domain_userid,
      |    page_urlpath
      |  FROM ${sourceView("atomic", "events")}
      |  WHERE event = 'page_view'
      |      AND refr_medium != 'internal'
      |      AND $botGate
      |      AND page_urlpath IS NOT NULL$eventsWhere
      |),
      |page_traffic AS (
      |  SELECT event_date AS date, app_id AS company_domain, page_urlpath,
      |         COUNT(*) AS total_visits, COUNT(DISTINCT domain_userid) AS unique_visits
      |  FROM filtered_events
      |  GROUP BY 1, 2, 3
      |),
      |labeled_visits AS (
      |  SELECT company_domain, date, page_urlpath, 'all' AS type, total_visits AS traffic
      |  FROM page_traffic
      |  UNION ALL
      |  SELECT company_domain, date, page_urlpath, 'unique' AS type, unique_visits AS traffic
      |  FROM page_traffic
      |),
      |final_rows AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY date, company_domain, page_urlpath, type) AS BIGINT) AS id,
      |         1 AS company_id, company_domain, date, type, page_urlpath, traffic
      |  FROM labeled_visits
      |)
      |SELECT id, date, type, page_urlpath, traffic, company_id, company_domain
      |FROM final_rows""".stripMargin

  /** Model 1 — `traffic_daily_agg.sql:8-145` in Spark SQL, keeping the
    * reference's literal twice-written spend join.
    * @param eventsWhere / @param spendsWhere incremental seams
    */
  def trafficDailyAggSql(eventsWhere: String = "", spendsWhere: String = ""): String =
    s"""WITH filtered_events AS (
      |  SELECT DATE(collector_tstamp) AS event_date, app_id, domain_userid,
      |         refr_medium, mkt_source, refr_source, mkt_network, mkt_campaign, mkt_term
      |  FROM ${sourceView("atomic", "events")}
      |  WHERE event = 'page_view'
      |      AND refr_medium != 'internal'
      |      AND $botGate$eventsWhere
      |),
      |classified_events AS (
      |  SELECT event_date, app_id, domain_userid,
      |    CASE
      |      WHEN (refr_medium IN ('cpc', 'ppc', 'paidsearch', 'display', 'social', 'search', 'email', '', 'unknown')
      |            AND NVL(mkt_network, '') <> '') OR (refr_medium = 'paid') THEN 'paid'
      |      WHEN refr_medium IN ('display', 'social', 'search', 'email', '', 'unknown')
      |           AND refr_medium <> 'paid' AND NVL(mkt_network, '') = '' THEN 'organic'
      |      ELSE NULL
      |    END AS traffic_type,
      |    mkt_source, refr_source, mkt_network, mkt_campaign, mkt_term
      |  FROM filtered_events
      |),
      |event_traffic AS (
      |  SELECT event_date, app_id, traffic_type,
      |    CASE WHEN traffic_type = 'paid' THEN COALESCE(mkt_source, refr_source, mkt_network, 'unknown')
      |         WHEN traffic_type = 'organic' THEN COALESCE(mkt_source, refr_source, 'unknown')
      |         ELSE NULL END AS col_3,
      |    CASE WHEN traffic_type = 'paid' THEN COALESCE(mkt_campaign, 'unknown')
      |         WHEN traffic_type = 'organic' THEN COALESCE(mkt_term, mkt_campaign, 'unknown')
      |         ELSE NULL END AS col_4,
      |    COUNT(*) AS total_visits,
      |    COUNT(DISTINCT domain_userid) AS unique_visitors
      |  FROM classified_events
      |  WHERE traffic_type IS NOT NULL
      |  GROUP BY event_date, app_id, traffic_type, col_3, col_4
      |),
      |campaign_spend_data AS (
      |  SELECT cs.company_id, cs.company_domain, DATE(cs.spend_date) AS spend_date,
      |         cs.campaign_name, cs.spend
      |  FROM ${sourceView("public", "campaign_spends")} cs
      |  WHERE cs.spend IS NOT NULL$spendsWhere
      |),
      |combined_traffic AS (
      |  SELECT 999 AS company_id, et.app_id AS company_domain, et.event_date AS spend_date,
      |         et.total_visits AS traffic, NVL(csd.spend, 0) AS spend,
      |         'all' AS col_1, et.traffic_type AS col_2, et.col_3, et.col_4,
      |         CAST(NULL AS STRING) AS col_5, CAST(NULL AS STRING) AS col_6
      |  FROM event_traffic et
      |  LEFT JOIN campaign_spend_data csd
      |    ON et.col_4 = csd.campaign_name AND et.event_date = csd.spend_date
      |       AND et.traffic_type = 'paid'
      |  UNION ALL
      |  SELECT 999 AS company_id, et.app_id AS company_domain, et.event_date AS spend_date,
      |         et.unique_visitors AS traffic, NVL(csd.spend, 0) AS spend,
      |         'unique' AS col_1, et.traffic_type AS col_2, et.col_3, et.col_4,
      |         CAST(NULL AS STRING) AS col_5, CAST(NULL AS STRING) AS col_6
      |  FROM event_traffic et
      |  LEFT JOIN campaign_spend_data csd
      |    ON et.col_4 = csd.campaign_name AND et.event_date = csd.spend_date
      |       AND et.traffic_type = 'paid'
      |)
      |SELECT ${sk("company_domain", "spend_date", "col_1", "col_2", "col_3", "col_4")} AS id,
      |  company_id, company_domain, spend_date, traffic, spend,
      |  col_1, col_2, col_3, col_4, col_5, col_6
      |FROM combined_traffic""".stripMargin

  /** Model 3 — `lead_activities_agg.sql:33-184` in Spark SQL. Reads
    * model 1's output through `source('public_public','traffic_daily_agg')`
    * (the reference's hidden DAG edge, sources.yml:12) — the caller
    * registers that view via [[runLeads]].
    * @param leadsWhere incremental seam (the events scan is NEVER
    *   watermarked — reference quirk, lead_activities_agg.sql:56-62)
    */
  def leadActivitiesAggSql(leadsWhere: String = ""): String =
    s"""WITH filtered_events AS (
      |  SELECT domain_userid, event_id, mkt_medium, mkt_source, mkt_campaign,
      |    CAST(collector_tstamp AS DATE) AS visit_date, page_urlpath, refr_medium,
      |    mkt_network, collector_tstamp,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY domain_userid
      |      ORDER BY
      |        CASE WHEN (refr_medium IN ('cpc', 'ppc', 'paidsearch', 'display', 'social', 'search', 'email', '', 'unknown')
      |                   AND NVL(mkt_network, '') <> '') OR refr_medium = 'paid' THEN 1
      |             ELSE 2 END,
      |        collector_tstamp DESC, event_id DESC
      |    ) AS rn
      |  FROM ${sourceView("atomic", "events")}
      |  WHERE event = 'page_view'
      |      AND $botGate
      |      AND refr_medium <> 'internal'
      |),
      |latest_events AS (
      |  SELECT domain_userid, event_id, mkt_medium, mkt_source, mkt_campaign,
      |         visit_date, page_urlpath
      |  FROM filtered_events WHERE rn = 1
      |),
      |lead_activities AS (
      |  SELECT DISTINCT company_domain, company_id, domain_userid, lead_id, person_id,
      |    date AS activity_date, lead_generator_id, lead_generator_name,
      |    lead_source_ehr_id, new_stage_id, new_stage_name, old_stage_id,
      |    old_stage_name, pipeline_id, pipeline_name, product_id, product_name,
      |    product_price, product_sku
      |  FROM ${sourceView("public", "lead_stage_change_events")}$leadsWhere
      |),
      |traffic_spend AS (
      |  SELECT DISTINCT spend_date, LOWER(col_4) AS mkt_campaign,
      |    CAST(spend AS DOUBLE) / NULLIF(traffic, 0) AS spend_per_visit, col_1
      |  FROM ${sourceView("public_public", "traffic_daily_agg")}
      |  WHERE spend IS NOT NULL AND traffic > 0 AND col_4 IS NOT NULL AND col_1 = 'unique'
      |),
      |enriched_activities AS (
      |  SELECT la.company_id, LOWER(la.company_domain) AS company_name,
      |    LOWER(la.domain_userid) AS domain_userid, le.event_id,
      |    LOWER(le.mkt_medium) AS mkt_medium, LOWER(le.mkt_source) AS mkt_source,
      |    LOWER(le.mkt_campaign) AS mkt_campaign, le.visit_date,
      |    LOWER(le.page_urlpath) AS page_urlpath,
      |    NVL(ts.spend_per_visit, 0) AS mkt_spend,
      |    la.activity_date, la.lead_source_ehr_id, la.lead_generator_id,
      |    LOWER(la.lead_generator_name) AS lead_generator_name,
      |    la.old_stage_id, LOWER(la.old_stage_name) AS old_stage_name,
      |    la.new_stage_id, LOWER(la.new_stage_name) AS new_stage_name,
      |    la.pipeline_id, LOWER(la.pipeline_name) AS pipeline_name,
      |    la.product_id, LOWER(la.product_sku) AS product_sku,
      |    LOWER(la.product_name) AS product_name,
      |    CAST(la.product_price AS STRING) AS product_price
      |  FROM lead_activities la
      |  LEFT JOIN latest_events le ON la.domain_userid = le.domain_userid
      |  LEFT JOIN traffic_spend ts
      |    ON LOWER(le.mkt_campaign) = ts.mkt_campaign
      |       AND le.visit_date = ts.spend_date AND ts.col_1 = 'unique'
      |)
      |SELECT ${sk("company_id", "domain_userid", "event_id", "activity_date", "new_stage_id")} AS id,
      |  company_id, company_name, domain_userid, event_id, mkt_medium, mkt_source,
      |  mkt_campaign, visit_date, page_urlpath, mkt_spend, activity_date,
      |  lead_source_ehr_id, lead_generator_id, lead_generator_name, old_stage_id,
      |  old_stage_name, new_stage_id, new_stage_name, pipeline_id, pipeline_name,
      |  product_id, product_sku, product_name, product_price
      |FROM enriched_activities
      |WHERE new_stage_id IS NOT NULL AND new_stage_name IS NOT NULL
      |  AND pipeline_id IS NOT NULL AND pipeline_name IS NOT NULL""".stripMargin

  /** Run model 2 through the SQL surface (catalog must be registered). */
  def runPages(spark: SparkSession, eventsWhere: String = ""): DataFrame =
    spark.sql(trafficPagesAggSql(eventsWhere))

  /** Run model 1 through the SQL surface. */
  def runDaily(spark: SparkSession, eventsWhere: String = "",
               spendsWhere: String = ""): DataFrame =
    spark.sql(trafficDailyAggSql(eventsWhere, spendsWhere))

  /** Run model 3 through the SQL surface: builds model 1 first, registers
    * it under the hidden-edge source name, then runs the leads SQL —
    * exactly dbt's implicit dependency resolution.
    */
  def runLeads(spark: SparkSession, leadsWhere: String = ""): DataFrame = {
    runDaily(spark).createOrReplaceTempView(
      sourceView("public_public", "traffic_daily_agg"))
    spark.sql(leadActivitiesAggSql(leadsWhere))
  }
}
