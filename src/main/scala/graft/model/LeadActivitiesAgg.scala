package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Classify, Dedup, Filters, Joins, Keys}

/** Model 3 — lead stage-change events enriched with last-touch
  * attribution and spend-per-visit. Faithful re-expression of
  * `lead_activities_agg.sql:1-184`:
  * events → W1 attribution window (paid-touch first, then latest) → rn=1
  * ∥ leads → DISTINCT ∥ model-1 output → unique-slice spend-per-visit →
  * leads LEFT JOIN last-touch on user LEFT JOIN spend on
  * (LOWER(campaign), date) → LOWER-normalized 25-col projection →
  * surrogate key → 4-column NOT NULL gate.
  *
  * Faithfully preserved quirks (SURVEY §2.10): the events scan is NOT
  * watermarked (only leads are, :99-101 vs :56-62 — full rescan every
  * run); the J3 spend join fans out when traffic_spend holds multiple
  * spend_per_visit values per (campaign, date).
  *
  * Scale notes: W1 is one hash shuffle on domain_userid (AQE handles hot
  * users); latest_events is 1 row/user so the J2 join cannot fan out;
  * traffic_spend is dimension-sized → broadcast both joins; the events
  * side never shuffles for the joins.
  */
object LeadActivitiesAgg {

  /** @param events `atomic.events` shape; @param leads
    * `lead_stage_change_events` shape; @param trafficDaily model-1 output
    * (the DAG edge hidden as a source in the reference, sources.yml:12).
    */
  def build(events: DataFrame, leads: DataFrame, trafficDaily: DataFrame,
            prior: Option[DataFrame] = None): DataFrame =
    buildSince(events, leads, trafficDaily, Filters.watermark(prior, "activity_date"))

  /** [[build]] with the leads watermark already collected from the prior
    * output (`None` on a full build) — for callers that need it too.
    */
  private[graft] def buildSince(events: DataFrame, leads: DataFrame, trafficDaily: DataFrame,
                                wm: Option[java.sql.Date]): DataFrame =
    enrich(leadActivitiesOf(leads, wm), latestEventsOf(events), trafficSpendOf(trafficDaily))

  /** filtered_events + W1 window (:33-62) → latest_events (:64-75): one
    * best-touch row per user. The streaming surface produces the same
    * shape incrementally (graft.streaming.LeadEnrichment).
    */
  private[graft] def latestEventsOf(events: DataFrame): DataFrame = {
    val filtered = events.filter(
      col("event") === "page_view" &&
      Filters.botFilter(col("useragent")) &&
      col("refr_medium") =!= "internal")
      .select(
        col("domain_userid"), col("event_id"), col("mkt_medium"), col("mkt_source"),
        col("mkt_campaign"), to_date(col("collector_tstamp")).as("visit_date"),
        col("page_urlpath"), col("refr_medium"), col("mkt_network"), col("collector_tstamp"))

    Dedup.topOnePerKey(filtered,
      keys = Seq(col("domain_userid")),
      order = Seq(
        Classify.paidTouchRank(col("refr_medium"), col("mkt_network")),
        col("collector_tstamp").desc,
        col("event_id").desc))
      .select("domain_userid", "event_id", "mkt_medium", "mkt_source",
        "mkt_campaign", "visit_date", "page_urlpath")
  }

  /** lead_activities (:77-102) — DISTINCT + incremental watermark on
    * leads only.
    */
  private[graft] def leadActivitiesOf(leads: DataFrame, wm: Option[java.sql.Date]): DataFrame =
    Filters.watermarkFilter(
      leads.select(
        col("company_domain"), col("company_id"), col("domain_userid"), col("lead_id"),
        col("person_id"), col("date").as("activity_date"), col("lead_generator_id"),
        col("lead_generator_name"), col("lead_source_ehr_id"), col("new_stage_id"),
        col("new_stage_name"), col("old_stage_id"), col("old_stage_name"),
        col("pipeline_id"), col("pipeline_name"), col("product_id"), col("product_name"),
        col("product_price"), col("product_sku")),
      "activity_date", wm).distinct()

  /** traffic_spend (:104-115) — unique slice of model-1 output. */
  private[graft] def trafficSpendOf(trafficDaily: DataFrame): DataFrame =
    trafficDaily
      .filter(col("spend").isNotNull && col("traffic") > 0 &&
        col("col_4").isNotNull && col("col_1") === "unique")
      .select(
        col("spend_date"),
        lower(col("col_4")).as("mkt_campaign"),
        (col("spend").cast("double") / nullif(col("traffic"), lit(0))).as("spend_per_visit"),
        col("col_1"))
      .distinct()

  /** enriched_activities (:117-150) + surrogate key (:152-155) + NOT NULL
    * gate (:181-184): the join/projection tail shared verbatim by the
    * batch build and the streaming micro-batch path, so both surfaces
    * materialize identical rows from identical stage inputs.
    *
    * @param keepRawUserAs when set, the RAW (pre-LOWER) lead user id is
    *   appended under this name. The projection lowers `domain_userid`,
    *   which is lossy: two case-variant users collapse to one value, so
    *   a keyed delete+insert on the lowered column would cross users.
    *   The streaming upsert keys on this raw column instead; the batch
    *   path leaves it None (projection unchanged, oracle-identical).
    */
  private[graft] def enrich(leadActivities: DataFrame, latestEvents: DataFrame,
                            trafficSpend: DataFrame,
                            keepRawUserAs: Option[String] = None): DataFrame = {
    val enriched = Joins.leftOn(
      Joins.leftOn(leadActivities.as("la"), latestEvents.as("le"),
        col("la.domain_userid") === col("le.domain_userid"), smallRight = false),
      trafficSpend.as("ts"),
      lower(col("le.mkt_campaign")) === col("ts.mkt_campaign") &&
        col("le.visit_date") === col("ts.spend_date") &&
        col("ts.col_1") === lit("unique"),
      smallRight = true)
      .select((Seq(
        col("la.company_id"),
        lower(col("la.company_domain")).as("company_name"),
        lower(col("la.domain_userid")).as("domain_userid"),
        col("le.event_id"),
        lower(col("le.mkt_medium")).as("mkt_medium"),
        lower(col("le.mkt_source")).as("mkt_source"),
        lower(col("le.mkt_campaign")).as("mkt_campaign"),
        col("le.visit_date"),
        lower(col("le.page_urlpath")).as("page_urlpath"),
        coalesce(col("ts.spend_per_visit"), lit(0)).as("mkt_spend"),
        col("la.activity_date"),
        col("la.lead_source_ehr_id"),
        col("la.lead_generator_id"),
        lower(col("la.lead_generator_name")).as("lead_generator_name"),
        col("la.old_stage_id"),
        lower(col("la.old_stage_name")).as("old_stage_name"),
        col("la.new_stage_id"),
        lower(col("la.new_stage_name")).as("new_stage_name"),
        col("la.pipeline_id"),
        lower(col("la.pipeline_name")).as("pipeline_name"),
        col("la.product_id"),
        lower(col("la.product_sku")).as("product_sku"),
        lower(col("la.product_name")).as("product_name"),
        col("la.product_price").cast("string").as("product_price"))
        ++ keepRawUserAs.map(n => col("la.domain_userid").as(n))): _*)

    // surrogate key over the LOWERed projection (:152-155) + NOT NULL gate (:181-184)
    val outCols = Seq("id", "company_id", "company_name", "domain_userid", "event_id",
      "mkt_medium", "mkt_source", "mkt_campaign", "visit_date", "page_urlpath",
      "mkt_spend", "activity_date", "lead_source_ehr_id", "lead_generator_id",
      "lead_generator_name", "old_stage_id", "old_stage_name", "new_stage_id",
      "new_stage_name", "pipeline_id", "pipeline_name", "product_id",
      "product_sku", "product_name", "product_price") ++ keepRawUserAs
    Filters.notNullGate(
      enriched.withColumn("id", Keys.surrogateKey(
        col("company_id"), col("domain_userid"), col("event_id"),
        col("activity_date"), col("new_stage_id"))),
      Seq("new_stage_id", "new_stage_name", "pipeline_id", "pipeline_name"))
      .select(outCols.map(col): _*)
  }
}
