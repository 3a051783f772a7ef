package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.model.LeadActivitiesAgg
import graft.runtime.Materializer

/** The streaming analog of `Graft.run`: all three reference models
  * maintained CONTINUOUSLY off one `atomic.events` source, writing the
  * same tables batch dbt-runs would (reference model names), through
  * the same production Materializer.
  *
  *  - model 1 `traffic_daily_agg`  — DailyTrafficModel (windowed 5-key
  *    dual-count agg + spend join tail, id-keyed upsert)
  *  - model 2 `traffic_pages_agg`  — PageTrafficModel (AtScale id)
  *  - model 3 `lead_activities_agg` — LeadEnrichment last-touch state,
  *    with the HIDDEN ref() EDGE live: its enrichment re-reads model
  *    1's materialized table at every micro-batch
  *    (`LeadEnrichment.sinkWithSpend`), pinned against mid-swap reads
  *    by the Materializer's per-model swap lock and forced to a
  *    localCheckpoint INSIDE the lock so no lazy scan escapes it.
  *
  * Consistency model of the edge: eventually consistent while upstream
  * is in motion — each touch re-enriches its user with the
  * then-current daily table — and exactly the batch DAG's answer once
  * upstream is quiescent (asserted in StreamingDagSpec). Bring-up
  * order is the caller's choice: `startLeads()` is separate so a
  * deployment (or a deterministic test) can quiesce upstream first;
  * starting everything at once is equally safe, just looser until the
  * streams settle.
  */
final class StreamingDag(spark: SparkSession, events: DataFrame,
                         spends: DataFrame, leads: DataFrame,
                         mat: Materializer, delay: String = "1 day") {

  import StreamingDag._

  /** Model 1, started on construction. */
  val daily: StreamingQuery =
    DailyTrafficModel.stream(events, spends, mat, DailyModel, delay).start()

  /** Model 2, started on construction. */
  val pages: StreamingQuery =
    PageTrafficModel.stream(events, mat, PagesModel, delay).start()

  // model 3's table is seeded immediately (every lead present with NULL
  // attribution — the batch left-join-miss shape) so readers see the
  // full lead population even before the touch stream starts. Untouched
  // users never join spend (their attribution is NULL), so seeding
  // against an empty daily table is exact.
  LeadEnrichment.seed(spark, leads, emptyDaily(spark), mat, LeadsModel)

  /** Start model 3's touch stream. Its spend dimension is re-derived
    * from the CURRENT daily table each micro-batch, scanned to
    * completion inside the swap lock so a concurrent daily upsert
    * cannot flip the table mid-read.
    */
  def startLeads(): StreamingQuery = {
    val touches = LeadEnrichment.lastTouch(LeadEnrichment.toLeadTouches(events))
    val spendNow: () => DataFrame = () => mat.withSwapLock(DailyModel) {
      mat.readPrior(DailyModel)
        .map(d => LeadActivitiesAgg.trafficSpendOf(d).localCheckpoint())
        .getOrElse(LeadActivitiesAgg.trafficSpendOf(emptyDaily(spark)))
    }
    LeadEnrichment.sinkWithSpend(touches, leads, spendNow, mat, LeadsModel).start()
  }
}

object StreamingDag {

  val DailyModel = "traffic_daily_agg"
  val PagesModel = "traffic_pages_agg"
  val LeadsModel = "lead_activities_agg"

  /** Zero-row frame in model 1's output shape (the pre-first-batch
    * fallback for the ref edge and the seed).
    */
  private[streaming] def emptyDaily(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("id", StringType),
        StructField("company_id", IntegerType),
        StructField("company_domain", StringType),
        StructField("spend_date", DateType),
        StructField("traffic", LongType),
        StructField("spend", DoubleType)) ++
        (1 to 6).map(i => StructField(s"col_$i", StringType))))
}
