package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sql.SqlModels

/** SQL-front-end golden queries: the three reference models run through
  * `spark.sql(...)` over the three reference source views
  * (graft.sql.SqlModels) instead of the DataFrame builders — same inputs,
  * same semantics, so they hash-check against the SAME DuckDB oracles as
  * the q_model_* DataFrame queries. Each model also runs two-batch
  * incremental through the production SQL-surface DAG nodes
  * (`Graft.models(sql = true)`, [[ModelQueries.incrRow]]), whose `{{ this }}`
  * seams cover all three reference watermark shapes (pages: single
  * watermark; daily: independent dual watermarks; leads: leads-only
  * watermark + full events rescan) — the reference's complete incremental
  * contract in its native surface.
  */
object SqlQueries {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "q_model_pages_sql" -> ((s, dir) => {
      SqlModels.ensureCatalog(s, dir)
      SqlModels.runPages(s)
    }),
    "q_model_daily_sql" -> ((s, dir) => {
      SqlModels.ensureCatalog(s, dir)
      SqlModels.runDaily(s)
    }),
    "q_model_leads_sql" -> ((s, dir) => {
      SqlModels.ensureCatalog(s, dir)
      SqlModels.runLeads(s)
    }),
    ModelQueries.incrRow("q_model_pages_sql_incr", "traffic_pages_agg", sql = true),
    ModelQueries.incrRow("q_model_daily_sql_incr", "traffic_daily_agg", sql = true),
    ModelQueries.incrRow("q_model_leads_sql_incr", "lead_activities_agg", sql = true),
  )

  val oracle: Map[String, String] = Map(
    "q_model_pages_sql" -> ModelQueries.oracle("q_model_pages"),
    "q_model_daily_sql" -> ModelQueries.oracle("q_model_daily"),
    "q_model_leads_sql" -> ModelQueries.oracle("q_model_leads"),
    "q_model_pages_sql_incr" -> ModelQueries.oracle("q_model_pages_incr"),
    "q_model_daily_sql_incr" -> ModelQueries.oracle("q_model_daily_incr"),
    "q_model_leads_sql_incr" -> ModelQueries.oracle("q_model_leads_incr"),
  )
}
