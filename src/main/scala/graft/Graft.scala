package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{LeadActivitiesAgg, RefShapes, TrafficDailyAgg, TrafficPagesAgg}
import graft.ops.Filters
import graft.runtime.{Dag, Materializer, Sources}
import graft.sql.SqlModels

/** Library front door — what a reference (dbt) user calls after
  * switching: one object that builds a correctly-configured session and
  * runs the warehouse build.
  *
  * {{{
  * val spark = Graft.session()                  // confs + extensions wired
  * Graft.run(spark, sourceDir, warehouseDir)    // = `dbt run` (DataFrame surface)
  * Graft.run(spark, sourceDir, warehouseDir, sql = true)   // SQL surface
  * }}}
  *
  * Everything the facade touches is the same seam the gated queries use
  * (Sources / Materializer / Dag), so the front door cannot drift from
  * the verified paths.
  */
object Graft {

  /** A session wired the way the engine expects: AQE on (skew joins and
    * runtime coalescing are part of the scale design), the engine's
    * native functions + optimizer rule injected, and — off `local[*]`
    * defaults — shuffle parallelism set to the machine's cores rather
    * than the stock 200 (on a cluster, pass the executor-core total).
    * Respects an existing session's context when one is already running
    * (getOrCreate semantics).
    */
  def session(master: String = "local[*]",
              shufflePartitions: Option[Int] = None): SparkSession = {
    val parallelism = shufflePartitions
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val s = graft.runtime.SessionTuning.tuned(SparkSession.builder()
      .master(master)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", parallelism))
      .withExtensions(new GraftExtensions())
      .getOrCreate()
    Sources.bootstrap(s)
    s
  }

  /** Unified ANN front door: build the profile-selected index rung
    * (brute / IVF / SQ8 / IVF-PQ / HNSW) over `corpus` at `path` —
    * rung choice, persistence, `search`/`append`/`maintain`, and the
    * measured-recall gate all behind one handle
    * ([[graft.ext.VectorIndex]]). Reopen with [[loadIndex]]; a catalog
    * index registered under `<name>.vecindex` resolves through
    * [[graft.runtime.Sources.index]].
    */
  def index(corpus: DataFrame, path: String,
            profile: graft.ext.IndexProfile = graft.ext.IndexProfile.balanced)
      : graft.ext.VectorIndex =
    graft.ext.VectorIndex.build(corpus, path, profile)

  /** Reopen an index built by [[index]]. */
  def loadIndex(spark: SparkSession, path: String): graft.ext.VectorIndex =
    graft.ext.VectorIndex.load(spark, path)

  /** Static scale review of a query's physical plan: the checklist
    * every engine operator passes in its plan-shape specs, as a library
    * call for USER pipelines — cartesian/nested-loop joins,
    * single-partition windows, shuffle joins with a broadcast-sized
    * side, pushable filters above scans that won't use them, opaque
    * UDFs, plus shuffle/broadcast/scan counts
    * ([[graft.runtime.PlanAudit]]).
    *
    * The same checklist can gate WRITES: construct the
    * [[graft.runtime.Materializer]] with
    * `auditMode = PlanAudit.Mode.Enforce` and any model whose plan
    * carries a high-severity finding REFUSES to materialize (nothing
    * written) on both the DataFrame and SQL surfaces;
    * `PlanAudit.Mode.Log` records structured findings and writes
    * anyway. Default is `Off` — the audit stays opt-in.
    */
  def audit(df: org.apache.spark.sql.Dataset[_]): graft.runtime.PlanAudit.Report =
    graft.runtime.PlanAudit.audit(df)

  /** The reference user's `dbt run`: materialize all three models in
    * dependency order into `warehouseDir` — traffic_daily_agg and
    * traffic_pages_agg concurrently, then lead_activities_agg ([[Dag]]) —
    * incremental on re-run (the Materializer reads each model's prior
    * table for the watermark seam). One [[Sources]] per run: the run
    * reads the source files present when it starts. `sql = true` drives the run through the SQL surface
    * instead of the DataFrame builders; both give the same rows and
    * schemas.
    */
  def run(spark: SparkSession, sourceDir: String, warehouseDir: String,
          sql: Boolean = false): Map[String, DataFrame] = {
    Sources.bootstrap(spark)
    new Dag(new Materializer(spark, warehouseDir),
      models(Sources(spark, sourceDir).events, sql)).run()
  }

  /** The reference's three models as [[Dag]] nodes over the fixture
    * `events` frame, each an incremental upsert on `id` (SURVEY §2.10).
    * All three reference sources derive from `events` (RefShapes), so a
    * filter on `events` is a filter on every source — the registry's
    * two-run incremental rows build their first run from a slice of it.
    * The reference hides the traffic_daily_agg → lead_activities_agg
    * dependency by reading model 1's output *as a source*
    * (sources.yml:12 + lead_activities_agg.sql:110), so dbt would not
    * order them; here it is a declared dep, and model 3 receives model
    * 1's freshly materialized output.
    *
    * `sql = true` builds each model from its SQL text (the three
    * reference source views registered from `events` —
    * [[SqlModels.registerSourceViews]] — the `{{ this }}` seam resolved
    * to the prior table through a temp view, the hidden edge through the
    * `public_public.traffic_daily_agg` source view); otherwise from the
    * DataFrame builders.
    *
    * @param log sink for the A5 debug lines (default: stdout).
    */
  private[graft] def models(events: DataFrame, sql: Boolean,
                            log: String => Unit = m => println(m)): Seq[Dag.Node] = {
    val spark = events.sparkSession
    val eventsRef = RefShapes.eventsRef(events)
    def node(name: String, deps: String*)(
        build: (Map[String, DataFrame], Option[DataFrame]) => DataFrame) =
      Dag.Node(name, Dag.Mat.Incremental("id"), deps, build)
    // `{{ this }}`: the prior table as a temp view, or no seam on a full build
    def seam[T](prior: Option[DataFrame], view: String, full: T)(where: String => T): T =
      prior.fold(full) { p => p.createOrReplaceTempView(view); where(view) }
    if (!sql) Seq(
      node("traffic_daily_agg") { (_, prior) =>
        TrafficDailyAgg.build(eventsRef, RefShapes.campaignSpendsRef(events), prior)
      },
      node("traffic_pages_agg") { (_, prior) => TrafficPagesAgg.build(eventsRef, prior) },
      node("lead_activities_agg", "traffic_daily_agg") { (refs, prior) =>
        val wm = Filters.watermark(prior, "activity_date")
        logLeadDebugCounts(events, eventsRef, wm, log)
        LeadActivitiesAgg.buildSince(eventsRef, RefShapes.leadStageChangeEventsRef(events),
          refs("traffic_daily_agg"), wm)
      })
    else {
      SqlModels.registerSourceViews(events)
      Seq(
        node("traffic_daily_agg") { (_, prior) =>
          val (ev, sp) = seam(prior, "graft_dag_this_daily", ("", ""))(
            SqlModels.dailyIncrementalWheres)
          SqlModels.runDaily(spark, ev, sp)
        },
        node("traffic_pages_agg") { (_, prior) =>
          SqlModels.runPages(spark,
            seam(prior, "graft_dag_this_pages", "")(SqlModels.pagesIncrementalWhere))
        },
        node("lead_activities_agg", "traffic_daily_agg") { (refs, prior) =>
          refs("traffic_daily_agg").createOrReplaceTempView(
            SqlModels.sourceView("public_public", "traffic_daily_agg"))
          logLeadDebugCounts(events, eventsRef, Filters.watermark(prior, "activity_date"), log)
          spark.sql(SqlModels.leadActivitiesAggSql(
            seam(prior, "graft_dag_this_leads", "")(SqlModels.leadsIncrementalWhere)))
        })
    }
  }

  /** A5 — the reference's compile-time `run_query` debug block
    * (lead_activities_agg.sql:9-31): immediately before model 3 runs, dbt
    * executes two scalar count queries on the driver and logs them —
    * (a) the lead-source input count, watermarked on `date >
    * max(activity_date)` of the prior output when incremental, and
    * (b) COUNT(DISTINCT domain_userid) over the bot-/internal-filtered
    * page_view events. Both scalars come back in ONE driver action,
    * mirroring dbt's pre-run scalars; neither feeds the pipeline
    * (logging only). `wm` is the leads watermark the caller collected
    * from the prior output (None on a full build).
    */
  private def logLeadDebugCounts(events: DataFrame, eventsRef: DataFrame,
                                 wm: Option[java.sql.Date], log: String => Unit): Unit = {
    val leadsSrc = RefShapes.leadStageChangeEventsRef(events)
    // a union concatenates its children's partitions in order and each
    // global aggregate is one row, so row 0 is the lead count
    val Array(leadCount, eventUserCount) = Filters.watermarkFilter(leadsSrc, "date", wm)
      .agg(count(lit(1)))
      .union(eventsRef
        .filter(col("event") === "page_view" &&
          Filters.botFilter(col("useragent")) &&
          col("refr_medium") =!= "internal")
        .agg(countDistinct(col("domain_userid"))))
      .collect().map(_.getLong(0))
    log(s"Lead activities input count: $leadCount")
    log(s"Unique domain_userid in events: $eventUserCount")
  }
}
