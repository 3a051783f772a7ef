package graft.sql

import graft.SparkSpec
import graft.model.{LeadActivitiesAgg, RefShapes, TrafficDailyAgg, TrafficPagesAgg}
import graft.runtime.Sources
import org.apache.spark.sql.DataFrame

/** The SQL front-end must be row-identical to the DataFrame builders on
  * the same inputs — both are translations of the same reference SQL.
  */
class SqlModelsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // multiset (row -> count), not Set: exact-duplicate multiplicity
  // differences between the SQL and DataFrame paths must fail
  private def rows(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
      .groupBy(identity).map { case (k, v) => k -> v.length }

  private lazy val catalog = { SqlModels.registerSourceViews(Sources(spark, dir).events); true }

  test("pages model via spark.sql matches TrafficPagesAgg.build") {
    assert(catalog)
    val sqlR = SqlModels.runPages(spark)
    val dfR = TrafficPagesAgg.build(RefShapes.eventsRef(Sources(spark, dir).events))
    assert(sqlR.columns.toSeq == dfR.columns.toSeq)
    assert(rows(sqlR) == rows(dfR))
    assert(sqlR.count() > 0)
  }

  test("daily model via spark.sql matches TrafficDailyAgg.build") {
    assert(catalog)
    val ev = Sources(spark, dir).events
    val sqlR = SqlModels.runDaily(spark)
    val dfR = TrafficDailyAgg.build(RefShapes.eventsRef(ev), RefShapes.campaignSpendsRef(ev))
    assert(sqlR.columns.toSeq == dfR.columns.toSeq)
    assert(rows(sqlR) == rows(dfR))
  }

  test("leads model via spark.sql matches LeadActivitiesAgg.build (hidden DAG edge)") {
    assert(catalog)
    val ev = Sources(spark, dir).events
    val sqlR = SqlModels.runLeads(spark)
    val daily = TrafficDailyAgg.build(RefShapes.eventsRef(ev), RefShapes.campaignSpendsRef(ev))
    val dfR = LeadActivitiesAgg.build(RefShapes.eventsRef(ev),
      RefShapes.leadStageChangeEventsRef(ev), daily)
    assert(sqlR.columns.toSeq == dfR.columns.toSeq)
    assert(rows(sqlR) == rows(dfR))
  }

  test("incremental seam: watermarked SQL rescan returns only post-{{this}} dates") {
    assert(catalog)
    // Prior = everything up to the cutoff; the incremental scan must only
    // see strictly-later event dates (traffic_pages_agg.sql:20-24).
    val cut = "\n      AND CAST(collector_tstamp AS DATE) <= DATE '2024-01-15'"
    SqlModels.runPages(spark, cut).createOrReplaceTempView("this_pages_prior")
    val incr = SqlModels.runPages(spark,
      SqlModels.incrementalWhere("CAST(collector_tstamp AS DATE)", "date", "this_pages_prior"))
    val minIncr = incr.agg(org.apache.spark.sql.functions.min("date")).collect()(0).getDate(0)
    assert(minIncr.toString > "2024-01-15")
  }
}
