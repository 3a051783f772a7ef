package graftbench

import java.nio.file.Path
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import graft.Graft
import graft.runtime.Materializer

/** warehouse_refresh — the reference user's daily `dbt run`: each op
  * lands one more day of events, then runs an incremental `Graft.run`,
  * alternating the DataFrame and SQL surfaces on the same warehouse.
  */
final class Warehouse(spark: SparkSession, seed: Long, sz: Sizes, tracer: Tracer)
    extends Workload {
  import spark.implicits._

  val order = Seq("refresh", "refresh_sql")
  val primary = Set("refresh")
  val secondary = Set("refresh_sql")
  private val models = Seq("traffic_daily_agg", "traffic_pages_agg", "lead_activities_agg")
  private var src: Path = _
  private var wh: Path = _
  private var nextDay = 0
  // traced run: rows changed by each refresh, over the three models
  private val changed = scala.collection.mutable.ArrayBuffer[Long]()

  /** Lands days [from, until) as one parquet file of the events table. */
  private def land(from: Int, until: Int): Unit =
    (from until until).flatMap(d => Inputs.eventsForDay(seed, d, sz.eventsPerDay, sz.users))
      .toDS().coalesce(1)
      .write.mode("append").parquet(src.resolve("events.parquet").toString)

  private def refresh(sql: Boolean): Unit =
    tracer.span(if (sql) "graft.run_sql" else "graft.run") {
      Graft.run(spark, src.toString, wh.toString, sql = sql)
    }

  /** The SQL surface registers the whole source catalog, so every
    * catalog table must exist; only `events` feeds the three models, so
    * the others are empty parquet files (their schema alone), written
    * without a Spark job.
    */
  private val OtherTables = Seq(
    "region" -> "int32 r_regionkey, binary r_name (STRING)",
    "nation" -> "int32 n_nationkey, binary n_name (STRING), int32 n_regionkey",
    "customer" -> ("int64 c_custkey, binary c_name (STRING), int32 c_nationkey, " +
      "double c_acctbal, binary c_mktsegment (STRING)"),
    "supplier" -> "int64 s_suppkey, binary s_name (STRING), int32 s_nationkey, double s_acctbal",
    "part" -> ("int64 p_partkey, binary p_name (STRING), binary p_brand (STRING), " +
      "binary p_type (STRING), int32 p_size, double p_retailprice"),
    "orders" -> ("int64 o_orderkey, int64 o_custkey, binary o_orderstatus (STRING), " +
      "double o_totalprice, int64 o_orderdate (TIMESTAMP(MICROS,true)), " +
      "binary o_orderpriority (STRING)"),
    "lineitem" -> ("int64 l_orderkey, int64 l_partkey, int64 l_suppkey, int32 l_linenumber, " +
      "double l_quantity, double l_extendedprice, double l_discount, double l_tax, " +
      "binary l_returnflag (STRING), binary l_linestatus (STRING), " +
      "int64 l_shipdate (TIMESTAMP(MICROS,true))"),
    "documents" -> ("int64 doc_id, binary text (STRING), binary lang (STRING), " +
      "binary source (STRING), int64 n_chars"),
    "embeddings" -> ("int64 vec_id, " +
      "group embedding (LIST) { repeated group list { optional float element; } }, int32 label"))

  /** `fields`: comma-separated parquet fields, each optional (a group
    * field takes no `;`).
    */
  private def writeEmpty(table: String, fields: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(fields.split(", ")
      .map(f => s"optional $f" + (if (f.endsWith("}")) "" else ";"))
      .mkString(s"message $table { ", " ", " }"))
    val file = new HPath(src.resolve(s"$table.parquet").toUri)
    ExampleParquetWriter.builder(file).withType(schema).build().close()
  }

  def setup(dir: Path): Unit = {
    src = dir.resolve("sources"); wh = dir.resolve("warehouse")
    OtherTables.foreach { case (t, fields) => writeEmpty(t, fields) }
    land(0, sz.historyDays)
    nextDay = sz.historyDays
    Graft.run(spark, src.toString, wh.toString)
  }

  def prepare(i: Int, kind: String): () => Unit = {
    land(nextDay, nextDay + 1); nextDay += 1
    val sql = kind == "refresh_sql"
    () => refresh(sql)
  }

  override def observe(i: Int, kind: String): Unit = {
    val mat = new Materializer(spark, wh.toString)
    changed += models.map { m =>
      val h = mat.history(m).map(_._1)
      if (h.size < 2) 0L
      else mat.changesBetween(m, h(h.size - 2), h.last, "id").count()
    }.sum
  }

  private def current(m: String): DataFrame =
    new Materializer(spark, wh.toString).readPrior(m).getOrElse(
      sys.error(s"model $m was never materialized"))

  /** Rows as a multiset, for equality of two builds (one action). */
  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty

  /** The lead-side columns: everything but the last-touch enrichment. */
  private val LeadCols = Seq("company_id", "company_name", "domain_userid", "activity_date",
    "lead_source_ehr_id", "lead_generator_id", "lead_generator_name", "old_stage_id",
    "old_stage_name", "new_stage_id", "new_stage_name", "pipeline_id", "pipeline_name",
    "product_id", "product_sku", "product_name", "product_price")

  /** dbt schema tests on every model, then the incremental warehouse
    * against a one-shot full build over the same events. The reference's
    * declared semantics make two models differ from a full build on
    * purpose, so those compare what the semantics keep equal:
    *  - traffic_pages_agg numbers each run's rows from 1 (W2), so new
    *    rows overwrite the oldest ids: every row must be a full-build row
    *    (id aside), and the newest day must be complete;
    *  - lead_activities_agg enriches a lead with the last touch as of
    *    the run that first saw it (and fans it out per matching spend):
    *    the set of lead-side rows must be equal.
    */
  def checks(): Seq[(String, Boolean)] = {
    val schemaTests = models.flatMap { m =>
      val df = current(m)
      // the reference's spend join fans a lead out once per distinct
      // spend-per-visit of its campaign-day, every copy under one id
      val key = if (m == models(2)) Seq("id", "mkt_spend") else Seq("id")
      Seq(s"$m.${key.mkString("_")}_unique" -> graft.ops.Checks.unique(df, key),
        s"$m.id_not_null" -> graft.ops.Checks.notNull(df, "id"))
    }
    val keys = graft.ops.Checks.summary(schemaTests).collect()
      .map(r => r.getString(0) -> (r.getLong(1) == 0L)).toSeq
    val fullWh = wh.resolveSibling("warehouse_full")
    Graft.run(spark, src.toString, fullWh.toString)
    val mat = new Materializer(spark, fullWh.toString)
    def full(m: String) = mat.readPrior(m).get
    val pagesInc = current(models(1)).drop("id")
    val pagesFull = full(models(1)).drop("id")
    val newest = pagesFull.agg(max("date")).head().getDate(0)
    def onNewest(df: DataFrame) = df.filter(col("date") === newest)
    val out = keys ++ Seq(
      "traffic_daily_agg.equals_full" -> same(current(models(0)), full(models(0))),
      "traffic_pages_agg.rows_in_full" -> pagesInc.exceptAll(pagesFull).isEmpty,
      "traffic_pages_agg.newest_day_equals_full" -> same(onNewest(pagesInc), onNewest(pagesFull)),
      "lead_activities_agg.leads_equal_full" ->
        same(current(models(2)).select(LeadCols.map(col): _*).distinct(),
          full(models(2)).select(LeadCols.map(col): _*).distinct()))
    graft.runtime.Fs.deleteRecursive(fullWh)
    out
  }

  def spaceBytes(scratch: Path): (Long, Long) =
    (Workload.dirBytes(wh), models.map(m => Workload.onceBytes(current(m), scratch, m)).sum)

  def layers(ops: Seq[(Int, OpSample)], tracer: Tracer): Map[String, Double] = {
    val refreshes = ops.map(_._2).filter(s => s.kind.startsWith("refresh"))
    val n = math.max(refreshes.size, 1).toDouble
    val counts = refreshes.flatMap(_.counts)
    def writesOf(m: String) = counts.flatMap(_.writes).filter(_._1.startsWith(m + "__v_"))
    val written = counts.flatMap(_.writes).filter(w => models.exists(m => w._1.startsWith(m + "__v_")))
    val rowsWritten = written.map(_._4).sum.toDouble
    val rowsChanged = changed.sum.toDouble
    Map(
      "sources.events_scans" -> counts.map(_.eventsScans).sum / n,
      "sources.events_read_mb" -> counts.map(_.eventsScanBytes).sum / 1e6 / n,
      "materializer.daily_write_s" -> writesOf(models(0)).map(_._2).sum / 1e9 / n,
      "materializer.pages_write_s" -> writesOf(models(1)).map(_._2).sum / 1e9 / n,
      "materializer.leads_write_s" -> writesOf(models(2)).map(_._2).sum / 1e9 / n,
      "materializer.written_mb" -> written.map(_._3).sum / 1e6 / n,
      "materializer.rewrite_ratio" -> (if (rowsChanged > 0) rowsWritten / rowsChanged else 0.0))
  }
}
