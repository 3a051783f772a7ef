package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.runtime.{ChangeFeed, Freshness, Snapshots, Sources}

/** Per-operator query registry for SURVEY §2's relational inventory,
  * phrased over the driver fixtures (FIXTURES.md §C mapping). Every entry
  * has a DuckDB oracle with IDENTICAL column names/types (driver compare
  * sorts columns by name and hashes values).
  *
  * Determinism rules applied throughout:
  *  - windows carry total orders (unique tie-break columns);
  *  - no raw-double arithmetic whose result depends on aggregation order
  *    (min/max/count only, or per-row IEEE ops which are bit-deterministic);
  *  - count/floor results cast to bigint on both sides;
  *  - raw nanosecond timestamps are never emitted (dates / strings instead).
  */
object CoreQueries {

  type Q = (SparkSession, String) => DataFrame

  private def src(s: SparkSession, dir: String) = Sources(s, dir)

  // ---- S1/P1: scan + project + rename + cast ------------------------------
  private val s1Scan: Q = (s, dir) =>
    src(s, dir).events.select(
      col("event_id"),
      to_date(col("ts")).as("event_date"),
      col("event_type"),
      col("user_id"))

  // ---- P3-P7: filter gauntlet (equality, !=, NOT ILIKE, NOT NULL, >) ------
  private val pFilters: Q = (s, dir) =>
    src(s, dir).events
      .filter(col("event_type") === "click")
      .filter(col("event_type") =!= "internal")
      .filter(Filters.notIlikeAny(col("props"), Seq("%\"k\": 1%")))
      .filter(col("props").isNotNull && col("value") > 50.0)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))

  // ---- F1-F10: scalar function battery ------------------------------------
  private val fScalars: Q = (s, dir) =>
    src(s, dir).events.select(
      col("event_id"),
      lower(col("event_type")).as("etype_lc"),
      coalesce(nullif(col("event_type"), lit("error")), lit("unknown"), lit("x")).as("etype_nz"),
      to_date(col("ts")).as("event_date"),
      col("user_id").cast("string").as("user_str"),
      floor(col("value")).cast("bigint").as("value_floor"),
      (col("value") / nullif(col("user_id").cast("double"), lit(0.0))).as("per_user"),
      when(col("event_type").isin("click", "view"), "web")
        .when(col("event_type") === "purchase", "commerce")
        .otherwise(lit(null).cast("string")).as("kind"))

  // ---- F11: dbt_utils-compatible surrogate key -----------------------------
  private val f11Key: Q = (s, dir) =>
    src(s, dir).events.select(
      col("event_id"),
      Keys.surrogateKey(col("event_type"), to_date(col("ts")), col("user_id")).as("id"))

  // ---- A1: dual count agg ---------------------------------------------------
  private def dualCountAgg(s: SparkSession, dir: String): DataFrame =
    Aggs.dualCount(
      src(s, dir).events,
      Seq(to_date(col("ts")).as("event_date"), col("event_type")),
      col("user_id"))

  private val a1Dual: Q = dualCountAgg

  // ---- A2: 3-key group (positional-style) ----------------------------------
  private val a2Group3: Q = (s, dir) =>
    src(s, dir).events
      .groupBy(
        to_date(col("ts")).as("event_date"),
        col("event_type"),
        (col("user_id") % 4).as("bucket"))
      .agg(count(lit(1)).as("total_visits"), countDistinct(col("user_id")).as("unique_visitors"))

  // ---- A3: SELECT DISTINCT --------------------------------------------------
  private val a3Distinct: Q = (s, dir) =>
    src(s, dir).events
      .filter(col("value") > 100.0)
      .select(col("user_id"), col("event_type"))
      .distinct()

  // ---- W1: top-1-per-key attribution dedup ---------------------------------
  private val w1Top1: Q = (s, dir) => {
    val prep = src(s, dir).events.select("user_id", "event_id", "event_type", "ts")
    Dedup.topOnePerKey(
      prep,
      keys = Seq(col("user_id")),
      order = Seq(
        when(col("event_type") === "purchase", 1).otherwise(2),
        col("ts").desc,
        col("event_id").desc))
      .select("user_id", "event_id", "event_type")
  }

  // ---- W2: global sequential id over an aggregate --------------------------
  private val w2GlobalId: Q = (s, dir) =>
    Ids.globalRowNumber(
      Pivot.byUnion(dualCountAgg(s, dir), Seq("event_date", "event_type"),
        "col_1", "traffic", "total_visits", "unique_visitors"),
      order = Seq(col("event_date"), col("event_type"), col("col_1")))

  // ---- W2 scale-safe twin (VERDICT r16 task 5): the same pivot pipeline
  // with `Ids.scaleSafeId` — a deterministic md5 over the ordering keys —
  // in place of the reference's single-partition global ROW_NUMBER. This
  // is the shipped 100 TB answer to the W2 quirk: no global sort, no
  // single-partition exchange (PlanShapeSpec asserts PlanAudit finds no
  // unpartitioned window in this plan), ids stable across incremental
  // runs by construction. Oracle-pinned: md5/concat_ws is portable SQL.
  private val w2ScaleSafe: Q = (s, dir) =>
    Ids.scaleSafeId(
      Pivot.byUnion(dualCountAgg(s, dir), Seq("event_date", "event_type"),
        "col_1", "traffic", "total_visits", "unique_visitors"),
      keyCols = Seq(col("event_date"), col("event_type"), col("col_1")))

  // ---- J1: left join with constant predicate in ON -------------------------
  private val j1LeftConstOn: Q = (s, dir) => {
    val t = dualCountAgg(s, dir)
    val sp = src(s, dir).events
      .filter(col("event_type") === "click")
      .groupBy(to_date(col("ts")).as("spend_date"))
      .agg(min(col("value")).as("spend"))
    Joins.leftOn(t, sp,
      t("event_date") === sp("spend_date") && t("event_type") === lit("purchase"))
      .select(t("event_date"), t("event_type"), t("total_visits"), sp("spend"))
  }

  // ---- J2: left equi-join, single key --------------------------------------
  private val j2LeftSingle: Q = (s, dir) => {
    val o = src(s, dir).orders
    val c = src(s, dir).customer
    Joins.leftOn(o, c, o("o_custkey") === c("c_custkey"))
      .select(o("o_orderkey"), c("c_name"), c("c_mktsegment"))
  }

  // ---- J3: left join on expression key --------------------------------------
  private val j3LeftExprKey: Q = (s, dir) => {
    val o = src(s, dir).orders
    val dim = s.createDataFrame(Seq(
      ("o", "open"), ("p", "pending"), ("f", "finished")))
      .toDF("status_lc", "status_name")
    Joins.leftOn(o, dim, lower(o("o_orderstatus")) === dim("status_lc"))
      .select(o("o_orderkey"), dim("status_name"))
  }

  // ---- U1/U2: all/unique long-format pivot ----------------------------------
  private val u1PivotUnion: Q = (s, dir) =>
    Pivot.byUnion(dualCountAgg(s, dir), Seq("event_date", "event_type"),
      "col_1", "traffic", "total_visits", "unique_visitors")

  private val u2PivotExplode: Q = (s, dir) =>
    Pivot.byExplode(dualCountAgg(s, dir), Seq("event_date", "event_type"),
      "col_1", "traffic", "total_visits", "unique_visitors")

  // ---- S4/A4/P10: incremental upsert semantics in one batch ----------------
  private val incrUpsert: Q = (s, dir) => {
    val cut = java.sql.Date.valueOf("2024-01-15")
    def batch(f: DataFrame => DataFrame): DataFrame = {
      val e = f(src(s, dir).events.withColumn("event_date", to_date(col("ts"))))
      e.groupBy("event_date", "event_type")
        .agg(count(lit(1)).as("total_visits"))
        .withColumn("id", Keys.surrogateKey(col("event_date"), col("event_type")))
    }
    val b1 = batch(_.filter(col("event_date") <= lit(cut)))
    val b2 = batch(_.filter(col("event_date") > lit(cut)))
    b1.join(b2.select("id"), Seq("id"), "left_anti").unionByName(b2)
  }

  // ---- A1-approx: HLL count-distinct with an oracle-checkable rsd bound ----
  // The approx value itself is engine-specific (Spark HLL++ vs DuckDB HLL),
  // so the hash-compared output is the exact per-group counts plus a
  // `within_bound` flag gating |approx - exact| <= max(1, 5%·exact); the
  // oracle asserts TRUE for every group. A violated bound flips the flag
  // and fails the hash — a real gate on the rsd contract, portable across
  // engines.
  private val a1Approx: Q = (s, dir) => {
    val exact = dualCountAgg(s, dir)
    val approx = Aggs.dualCountApprox(
      src(s, dir).events,
      Seq(to_date(col("ts")).as("event_date"), col("event_type")),
      col("user_id"), uniqueName = "approx_unique", rsd = 0.01)
    exact.join(approx.select("event_date", "event_type", "approx_unique"),
        Seq("event_date", "event_type"))
      .select(col("event_date"), col("event_type"), col("total_visits"),
        (abs(col("approx_unique") - col("unique_visitors")) <=
          greatest(lit(1.0), col("unique_visitors") * 0.05)).as("within_bound"))
  }

  // ---- W4: time-RANGE window frame ----------------------------------------
  // Rolling 7-day-preceding count/sum per user — the VALUE-based frame
  // family W3's ROWS battery doesn't touch: the frame holds every row
  // whose epoch-µs order key lies within 604800000000 of the current
  // row's, so ts-tied peers enter together in both engines and the
  // output never depends on tie order. sum over floor(value) — Spark
  // truncates double→bigint casts where DuckDB rounds them, so the floor
  // is taken explicitly BEFORE the cast on both sides.
  private val w4RangeFrame: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-604800000000L, Window.currentRow)
    src(s, dir).events.select(
      col("event_id"), col("user_id"),
      count(lit(1)).over(w).as("n_7d"),
      sum(floor(col("value")).cast("long")).over(w).as("val_7d"))
  }

  // ---- A8: arbitrary GROUPING SETS -----------------------------------------
  // Marginals-only lattice ((region), (segment)) — the shape neither
  // ROLLUP nor CUBE produces (both force the (region, segment) base
  // cells). Spark 4's native Dataset.groupingSets; gid bits mirror
  // GROUPING(r)*2 + GROUPING(seg) as in A6.
  private val a8GroupingSets: Q = (s, dir) => {
    val src0 = src(s, dir)
    src0.customer
      .join(broadcast(src0.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(src0.region), col("n_regionkey") === col("r_regionkey"))
      .groupingSets(Seq(Seq(col("r_name")), Seq(col("c_mktsegment"))),
        col("r_name"), col("c_mktsegment"))
      .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("customers"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        col("gid"), col("customers"))
  }

  // ---- A9: persisted-sketch distinct rollup (Datasketches HLL) -------------
  // The 100 TB distinct-count pattern dualCountApprox can't give: daily
  // (date, type) sketch partials are VALUES (write them out once), and
  // the per-type rollup unions ~30 stored sketches per group instead of
  // re-scanning raw events. Gate follows the a1_approx flag pattern —
  // exact counts ride the hash, the estimate must land within
  // max(1, 5%·exact) or the flag flips and the hash fails.
  private val a9SketchRollup: Q = (s, dir) => {
    val daily = Aggs.sketchTable(src(s, dir).events,
      Seq(to_date(col("ts")).as("event_date"), col("event_type")), col("user_id"))
    val rolled = Aggs.sketchRollup(daily, Seq(col("event_type")), col("sketch"))
    src(s, dir).events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_uniques"))
      .join(rolled, Seq("event_type"))
      .select(col("event_type"), col("exact_uniques"),
        (abs(col("approx_uniques") - col("exact_uniques")) <=
          greatest(lit(1.0), col("exact_uniques") * 0.05)).as("within_bound"))
  }

  // ---- J-salted: skew-mitigated join, row-identical to the plain join ------
  // Hot key 0 holds ~28% of the big side (every event_id % 4 == 0 plus the
  // natural % 25 == 0 stripe); the oracle is the UNSALTED join aggregated,
  // so the hash check IS the row-identity assertion.
  private val jSaltedSkew: Q = (s, dir) => {
    val e = src(s, dir).events.select(
      col("event_id"),
      when(col("event_id") % 4 === 0, lit(0L))
        .otherwise(col("event_id") % 25).as("k"))
    val n = src(s, dir).nation
      .select(col("n_nationkey").cast("bigint").as("k"), col("n_name"))
    Joins.saltedJoin(e, n, Seq("k"), "inner", salt = 8)
      .groupBy("n_name")
      .agg(count(lit(1)).as("cnt"), sum(col("event_id")).as("id_sum"))
  }

  // ---- J4/J5: semi and anti join (EXISTS / NOT EXISTS) ---------------------
  // Both against the urgent-order subset so each direction has a non-empty,
  // non-total result (1297 / 203 customers at sf0.01).
  private val j4Semi: Q = (s, dir) => {
    val c = src(s, dir).customer
    val urgent = src(s, dir).orders.filter(col("o_orderpriority") === "1-URGENT")
    Joins.semiOn(c, urgent, c("c_custkey") === urgent("o_custkey"))
      .select("c_custkey", "c_name", "c_mktsegment")
  }

  private val j5Anti: Q = (s, dir) => {
    val c = src(s, dir).customer
    val urgent = src(s, dir).orders.filter(col("o_orderpriority") === "1-URGENT")
    Joins.antiOn(c, urgent, c("c_custkey") === urgent("o_custkey"))
      .select("c_custkey", "c_name", "c_mktsegment")
  }

  // ---- W3: ranking-function battery ----------------------------------------
  // Two windows over one partition key: (date, key) — a total order — for
  // the positional functions, date-only for the peer-group functions
  // (rank over a total order degenerates to row_number, so peers must be
  // real). The (date, key) sort satisfies the date-only ordering as a
  // prefix, so both windows share one exchange+sort. cume_dist and
  // percent_rank are single correctly-rounded IEEE divisions of integers
  // — bit-portable, unlike accumulated doubles.
  private val w3Battery: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wPeer = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
    src(s, dir).orders.select(
      col("o_orderkey"), col("o_custkey"),
      row_number().over(wOrd).cast("long").as("rn"),
      ntile(4).over(wOrd).cast("long").as("quartile"),
      coalesce(lag(col("o_orderkey"), 1).over(wOrd), lit(-1L)).as("prev_order"),
      coalesce(lead(col("o_orderkey"), 1).over(wOrd), lit(-1L)).as("next_order"),
      rank().over(wPeer).cast("long").as("rnk"),
      dense_rank().over(wPeer).cast("long").as("drnk"),
      cume_dist().over(wPeer).as("cd"),
      percent_rank().over(wPeer).as("pr"))
  }

  // ---- A6: ROLLUP with grouping indicator ----------------------------------
  // Subtotal lattice over the region-segment rollup; rolled-up cells are
  // disambiguated by grouping_id (bit order: first rollup column most
  // significant, same as GROUPING(r)*2+GROUPING(seg)), and the NULL
  // grouping placeholders are coalesced to 'ALL' so the compare never
  // rides on engine null-sort/render conventions.
  private val a6Rollup: Q = (s, dir) => {
    val src0 = src(s, dir)
    src0.customer
      .join(broadcast(src0.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(src0.region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("c_mktsegment"))
      .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("customers"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        col("gid"), col("customers"))
  }

  // ---- J6: FULL OUTER join ------------------------------------------------
  // Daily event counts vs daily order counts: the fixture date domains
  // are almost disjoint (events 2024, orders 1995-2001), so BOTH
  // unmatched directions carry real rows (30 left-only, 2399 right-only
  // at sf0.01). The USING-style join coalesces the key; counts coalesce
  // to 0 so the output is non-null end to end.
  private val j6FullOuter: Q = (s, dir) => {
    val e = src(s, dir).events
      .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("n_events"))
    val o = src(s, dir).orders
      .groupBy(to_date(col("o_orderdate")).as("d")).agg(count(lit(1)).as("n_orders"))
    e.join(o, Seq("d"), "full_outer")
      .select(col("d"), coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
  }

  // ---- A7: INTERSECT / EXCEPT set operators --------------------------------
  // High-value clickers vs high-value purchasers (value > 99 keeps the
  // sets partial: 104 intersect / 27 except at sf0.01), tagged and
  // unioned into one frame. Spark's intersect/except are set-distinct
  // by contract, mirrored exactly by SQL INTERSECT/EXCEPT.
  private val a7SetOps: Q = (s, dir) => {
    val ev = src(s, dir).events
    def hi(t: String) = ev
      .filter(col("event_type") === t && col("value") > 99)
      .select("user_id").distinct()
    val clicks = hi("click")
    val purchases = hi("purchase")
    clicks.intersect(purchases).withColumn("op", lit("intersect"))
      .unionByName(clicks.except(purchases).withColumn("op", lit("except")))
  }

  // CUBE adds the column-marginal cells ROLLUP omits (segment totals
  // across all regions): 25 + 5 + 5 + 1 = 36 rows
  private val a6Cube: Q = (s, dir) => {
    val src0 = src(s, dir)
    src0.customer
      .join(broadcast(src0.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(src0.region), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("c_mktsegment"))
      .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("customers"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        col("gid"), col("customers"))
  }

  // ---- S5: SCD2 snapshot (the third dbt materialization) -------------------
  // Two pinned snapshot runs over "each user's latest event type": state
  // at the Jan-15 cut stamped 2024-02-01, full state stamped 2024-03-01.
  // Users whose latest type changed carry a closed + an open row; open
  // rows render valid_to as the 9999-12-31 sentinel so both engines emit
  // non-null DATEs.
  private val s5SnapshotScd2: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ev = src(s, dir).events
    def latest(f: DataFrame => DataFrame) = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      f(ev).withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select("user_id", "event_type")
    }
    val s1 = latest(_.filter(to_date(col("ts")) <= lit(java.sql.Date.valueOf("2024-01-15"))))
    val s2 = latest(identity)
    val run1 = Snapshots.step(None, s1, "user_id", Seq("event_type"),
      java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    val run2 = Snapshots.step(Some(run1), s2, "user_id", Seq("event_type"),
      java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
    run2.select(col("user_id"), col("event_type"),
      to_date(col(Snapshots.ValidFrom)).as("valid_from"),
      coalesce(to_date(col(Snapshots.ValidTo)),
        lit(java.sql.Date.valueOf("9999-12-31"))).as("valid_to"))
  }

  // ---- S5b: timestamp-strategy snapshot (dbt's other change detector) ------
  // Same two pinned states as S5 but change detection by the record's
  // OWN updated_at advancing (no payload compare): every user whose
  // latest event moved past the Jan-15 cut closes + re-opens — even
  // when the latest event TYPE is unchanged, the rows check-strategy
  // would keep. Validity stamps come from the data (event ts as µs),
  // open rows render valid_to as -1 so both engines emit non-null
  // BIGINTs.
  private val s5bSnapshotTs: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ev = src(s, dir).events
    def latest(f: DataFrame => DataFrame) = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      f(ev).withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select("user_id", "event_type", "ts")
    }
    val s1 = latest(_.filter(to_date(col("ts")) <= lit(java.sql.Date.valueOf("2024-01-15"))))
    val s2 = latest(identity)
    val run1 = Snapshots.stepByTimestamp(None, s1, "user_id", "ts")
    val run2 = Snapshots.stepByTimestamp(Some(run1), s2, "user_id", "ts")
    run2.select(col("user_id"), col("event_type"),
      unix_micros(col(Snapshots.ValidFrom)).as("valid_from_us"),
      coalesce(unix_micros(col(Snapshots.ValidTo)), lit(-1L)).as("valid_to_us"))
  }

  // ---- S6: key-level change feed (CDC between table states) ----------------
  // Two sliding-window states of a per-(user, type) activity rollup,
  // diffed by key: the overlap days make updates, window-entering keys
  // inserts, window-leaving keys deletes (594/11/6 at sf0.01) — all
  // three change classes exercised through ChangeFeed's full-outer
  // hash-diff, mirrored by a literal FULL JOIN + CASE in DuckDB.
  private val s6ChangeFeed: Q = (s, dir) => {
    val ev = src(s, dir).events
    def state(from: String, to: String) = ev
      .filter(to_date(col("ts")).between(
        lit(java.sql.Date.valueOf(from)), lit(java.sql.Date.valueOf(to))))
      .groupBy(concat(col("user_id"), lit("|"), col("event_type")).as("id"))
      .agg(count(lit(1)).as("n"))
    ChangeFeed.diff(state("2024-01-01", "2024-01-10"),
      state("2024-01-08", "2024-01-17"), "id")
  }

  // ---- DQ: the dbt schema-test battery -------------------------------------
  // Four passing checks over real fixture invariants plus one REAL
  // failure (documents.lang carries es/fr/zh beyond the declared set) —
  // the summary frame must report both zeros and the true count.
  private val dqChecks: Q = (s, dir) => {
    val src0 = src(s, dir)
    Checks.summary(Seq(
      "events_id_unique" -> Checks.unique(src0.events, Seq("event_id")),
      "events_user_not_null" -> Checks.notNull(src0.events, "user_id"),
      "events_type_accepted" -> Checks.acceptedValues(src0.events, "event_type",
        Seq("view", "click", "purchase", "signup", "error")),
      "lineitem_order_fk" -> Checks.relationships(
        src0.lineitem, "l_orderkey", src0.orders, "o_orderkey"),
      "documents_lang_accepted" -> Checks.acceptedValues(src0.documents, "lang",
        Seq("en", "de"))))
  }

  // ---- source freshness (dbt `source freshness`) ---------------------------
  // Three sources against one pinned asOf, thresholds chosen so every
  // status branch appears: events is ~1 day old (warn at 12 h, pass at
  // 3 d), orders' newest o_orderdate is decades stale (error at 30 d).
  private val srcFreshness: Q = (s, dir) => {
    val src0 = src(s, dir)
    val asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    Freshness.summary(Seq(
      Freshness.check(src0.events, "ts", "events_12h", asOf,
        12L * 3600, 7L * 86400),
      Freshness.check(src0.events, "ts", "events_3d", asOf,
        3L * 86400, 7L * 86400),
      Freshness.check(src0.orders, "o_orderdate", "orders_30d", asOf,
        86400L, 30L * 86400)))
      // registry convention: never emit raw timestamps (tz-awareness
      // differs across engines) — epoch seconds instead
      .select(col("src"), col("max_loaded_at").cast("long").as("max_loaded_epoch"),
        col("age_s"), col("status"))
  }

  // ---- U3/U4: native wide pivot + unpivot (melt) ---------------------------
  // U1/U2 cover the union-based LONG pivot the reference writes by hand;
  // these exercise Spark's native wide pivot (explicit value list — an
  // unlisted list adds a driver-side distinct pass and makes the output
  // schema data-dependent) and its inverse unpivot, round-tripping
  // per-day type counts.
  // na.fill(0): Spark renders an EMPTY pivot cell as NULL where a SQL
  // FILTER count renders 0 — every (day, type) cell happens to be
  // populated at sf0.01, but the zero-fill removes the dependence on
  // that fixture accident
  private def wideCounts(s: SparkSession, dir: String): DataFrame =
    src(s, dir).events
      .groupBy(to_date(col("ts")).as("event_date"))
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)

  private val u3PivotWide: Q = (s, dir) => wideCounts(s, dir)

  private val u4Unpivot: Q = (s, dir) =>
    wideCounts(s, dir).unpivot(
      Array(col("event_date")),
      Array(col("view"), col("click"), col("purchase"), col("signup"), col("error")),
      "event_type", "n")

  // ---- A10/A11: statistical aggregates + ordered-set string agg ----------
  // Cross-engine float discipline for the moment battery: l_quantity is
  // integer-valued, so every raw power sum both engines accumulate is an
  // exact integer in double (< 2^53) regardless of partitioning; the
  // remaining per-group divisions/ratios are correctly rounded from
  // near-identical accumulations — both engines land within ~1e-12
  // relative, far inside the comparator's 1e-9. Definitional deltas are
  // mirrored in the ORACLE, not here: DuckDB's skewness/kurtosis are
  // sample-bias-corrected (G1/G2) while Spark's are population (g1/g2),
  // so the oracle uses kurtosis_pop and converts skewness by
  // (n-2)/sqrt(n(n-1)).
  // The moment battery is compute-bound (a dozen imperative buffers +
  // exact median per row) on a single-row-group scan: project the three
  // live columns (group key, quantity, price) plus l_orderkey, the fanOut
  // distribution key, and repair scan parallelism so partial aggregation
  // runs wide (guide §2.5; fanOut is a no-op on wide scans, where
  // l_orderkey rides along unused, and the partial aggregates make the
  // exchange carry rows, not work).
  private val a10Stats: Q = (s, dir) =>
    graft.runtime.Parallelize.fanOut(
        src(s, dir).lineitem
          .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
            col("l_orderkey")),
        col("l_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        stddev_samp(col("l_quantity")).as("sd_qty"),
        var_samp(col("l_quantity")).as("var_qty"),
        stddev_pop(col("l_quantity")).as("sdp_qty"),
        var_pop(col("l_quantity")).as("varp_qty"),
        corr(col("l_quantity"), col("l_extendedprice")).as("corr_qp"),
        covar_samp(col("l_quantity"), col("l_extendedprice")).as("cov_qp"),
        covar_pop(col("l_quantity"), col("l_extendedprice")).as("covp_qp"),
        regr_slope(col("l_extendedprice"), col("l_quantity")).as("slope_pq"),
        regr_intercept(col("l_extendedprice"), col("l_quantity")).as("icept_pq"),
        skewness(col("l_quantity")).as("skew_qty"),
        kurtosis(col("l_quantity")).as("kurt_qty"),
        median(col("l_quantity")).as("median_qty"))

  // listagg is the ORDERED-SET aggregate (WITHIN GROUP) — the ordering
  // clause only exists on the SQL surface, so the query runs through
  // spark.sql; the ORDER BY carries a total order (c_name is unique), so
  // the concatenation is deterministic on both engines. The %-sample
  // keeps cells short; the count gate pins group membership separately
  // from the concatenation.
  private val a11Listagg: Q = (s, dir) => {
    src(s, dir).customer.createOrReplaceTempView("customer_listagg")
    s.sql("""
      SELECT c_mktsegment,
        listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name) AS names,
        count(*) AS n
      FROM customer_listagg WHERE c_custkey % 50 = 0
      GROUP BY c_mktsegment""")
  }

  // ---- F12-F14 + J7: collections HOFs, null semantics, datetime, <=> ------
  // Collection higher-order functions (transform/filter/aggregate +
  // slice/sort/distinct) over the whitespace token array. HOF lambdas are
  // interpreted per element (the VecDot lesson) — fine for a correctness
  // battery over ~100-token docs; hot paths use codegen'd expressions.
  private val f12Collections: Q = (s, dir) =>
    src(s, dir).documents
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        size(filter(col("toks"), t => length(t) > 3)).cast("long").as("n_long"),
        aggregate(col("toks"), lit(0L), (a, t) => a + length(t)).as("len_sum"),
        array_join(slice(transform(col("toks"), t => upper(t)), 1, 3), "-").as("upper3"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
        element_at(sort_array(col("toks")), 1).as("first_sorted"))

  // Three-valued-logic battery: NULLIF manufactures NULLs, count skips
  // them, IS DISTINCT FROM treats NULL as a comparable value, COALESCE
  // restores a default — the SQL null calculus on one deterministic row.
  private val f13NullSemantics: Q = (s, dir) =>
    src(s, dir).orders
      .select(col("o_orderpriority"),
        nullif(col("o_orderstatus"), lit("O")).as("st"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_all"),
        count(col("st")).as("n_nonopen"),
        sum(when(not(col("st") <=> lit("F")), 1).otherwise(0)).cast("long")
          .as("n_distinct_f"),
        coalesce(max(col("st")), lit("none")).as("max_st"))

  // Datetime function battery: month truncation, end-of-month, calendar
  // month arithmetic (both engines clamp to month end), day diffs from an
  // epoch, quarters — every output a date or exact integer.
  private val f14Datetime: Q = (s, dir) =>
    src(s, dir).orders
      .select(col("o_orderdate").cast("date").as("d"))
      .groupBy(date_trunc("month", col("d")).cast("date").as("month"))
      .agg(
        min(last_day(col("d"))).as("eom"),
        max(add_months(col("d"), 2)).as("plus2m"),
        sum(datediff(col("d"), lit(java.sql.Date.valueOf("1992-01-01")))).cast("long")
          .as("days_since"),
        max(quarter(col("d"))).cast("long").as("q"),
        count(lit(1)).as("n"))

  // Null-safe equality join (<=>): the NULL key-group joins ITSELF —
  // plain equality would drop it. Both sides pre-aggregate to ≤26 rows,
  // so the semantics gate never rides on join fan-out.
  private val j7NullSafe: Q = (s, dir) => {
    val keyed = src(s, dir).events.select(
      when(col("event_type") === "error", lit(null))
        .otherwise(col("user_id") % 25).as("k"),
      col("event_id"))
    val a = keyed.groupBy(col("k")).agg(count(lit(1)).as("n_a"))
    val b = keyed.groupBy(col("k").as("kb"))
      .agg(sum(col("event_id")).cast("long").as("id_sum"))
    a.join(b, col("k") <=> col("kb")).select("k", "n_a", "id_sum")
  }

  // ---- A7b/F15/F16: multiset set ops, try_* error calculus, VARIANT -------
  // INTERSECT ALL / EXCEPT ALL: bag semantics — min(multiplicities) /
  // left-minus-right copies — where the distinct forms (q_a7_setops)
  // collapse duplicates. Output grouped to (op, user, copies) so the gate
  // pins the multiplicities themselves without multiset row ordering.
  private val a7bSetOpsAll: Q = (s, dir) => {
    val ev = src(s, dir).events
    def hi(t: String) = ev
      .filter(col("event_type") === t && col("value") > 99)
      .select("user_id")
    val clicks = hi("click")
    val purchases = hi("purchase")
    clicks.intersectAll(purchases).withColumn("op", lit("intersect_all"))
      .unionByName(clicks.exceptAll(purchases).withColumn("op", lit("except_all")))
      .groupBy(col("op"), col("user_id"))
      .agg(count(lit(1)).as("copies"))
  }

  // try_* error calculus: division by a manufactured zero yields NULL
  // (not an error), an unparseable cast yields NULL (counted as 0 by
  // count), a parseable one participates. div_sum stays DOUBLE — casting
  // a fraction-carrying sum to BIGINT would put the gate on a truncation
  // boundary two engines may land either side of.
  private val f15Try: Q = (s, dir) =>
    src(s, dir).orders
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(try_divide(col("o_orderkey"), nullif(col("o_orderkey") % 3, lit(0))))
          .as("div_sum"),
        count(expr("try_cast(nullif(o_orderstatus, 'O') AS INT)")).as("bad_casts"),
        sum(expr("try_cast(substr(CAST(o_orderkey AS STRING), 1, 2) AS BIGINT)"))
          .cast("long").as("prefix_sum"))

  // Spark 4 VARIANT path: parse_json once into the binary variant form,
  // typed extraction via variant_get (missing path → NULL) — the
  // semi-structured surface next to q_ext_json_extract's string-path
  // get_json_object; the oracle reads the same JSON with DuckDB's
  // extractors, so the gate pins the VALUES, not the encoding.
  private val f16Variant: Q = (s, dir) =>
    src(s, dir).events
      .select(col("event_id"),
        variant_get(parse_json(col("props")), "$.k", "bigint").as("k"),
        variant_get(parse_json(col("props")), "$.tag", "string").as("tag"))
      .filter(col("k") > 90)

  // ---- W5: top-k per key via the bounded-buffer aggregator ----------------
  // The scale form of the W1/W2 window family for k > 1: per-key O(k)
  // state, map-side partial merge, only k candidates per key per
  // partition cross the shuffle (vs ROW_NUMBER sorting every group row).
  // Output is row-identical to the window form; the oracle IS the window
  // form, so the equivalence is hash-gated at fixture scale, not just
  // spec scale. value ties break on event_id; doubles pass through
  // per-row (bit-deterministic, no accumulation).
  private val w5TopKAgg: Q = (s, dir) =>
    Aggs.topKPerKey(src(s, dir).events,
      Seq(col("user_id")), col("value"), col("event_id"), k = 3)
      .select(col("user_id"), col("id").as("event_id"),
        col("ord").as("value"), col("rank"))

  // ---- A12/U5: FILTER + multi-DISTINCT aggregates, SQL-surface PIVOT ------
  // Three surfaces in one row: the FILTER (WHERE) aggregate modifier,
  // MULTIPLE distinct aggregates over different columns (planned through
  // an Expand — each input row fans out once per distinct group, the
  // operator multi-distinct requires), and GROUP BY ALL inference.
  private val a12FilterDistinct: Q = (s, dir) => {
    src(s, dir).lineitem.createOrReplaceTempView("lineitem_a12")
    s.sql("""
      SELECT l_returnflag,
        count(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
        CAST(sum(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_dq,
        count(DISTINCT l_partkey) AS n_parts,
        count(DISTINCT l_suppkey) AS n_supps
      FROM lineitem_a12 GROUP BY ALL""")
  }

  // The SQL PIVOT clause next to the DataFrame pivot (q_u3): values
  // aliased so both engines emit identical column names; empty cells
  // coalesced to 0 because Spark's pivot leaves a no-rows cell NULL
  // where DuckDB's count yields 0.
  private val u5PivotSql: Q = (s, dir) => {
    src(s, dir).events.createOrReplaceTempView("events_u5")
    s.sql("""
      SELECT d, coalesce(view, 0) AS view, coalesce(click, 0) AS click,
        coalesce(purchase, 0) AS purchase, coalesce(signup, 0) AS signup,
        coalesce(error, 0) AS error
      FROM (SELECT CAST(ts AS DATE) AS d, event_type FROM events_u5)
      PIVOT (count(*) FOR event_type IN
        ('view' AS view, 'click' AS click, 'purchase' AS purchase,
         'signup' AS signup, 'error' AS error))""")
  }

  val queries: Map[String, Q] = Map(
    "q_a12_filter_distinct" -> a12FilterDistinct,
    "q_u5_pivot_sql"    -> u5PivotSql,
    "q_w5_topk_agg"     -> w5TopKAgg,
    "q_a7b_setops_all"  -> a7bSetOpsAll,
    "q_f15_try"         -> f15Try,
    "q_f16_variant"     -> f16Variant,
    "q_f12_collections" -> f12Collections,
    "q_f13_null_semantics" -> f13NullSemantics,
    "q_f14_datetime"    -> f14Datetime,
    "q_j7_nullsafe"     -> j7NullSafe,
    "q_a10_stats"       -> a10Stats,
    "q_a11_listagg"     -> a11Listagg,
    "q_u3_pivot_wide"   -> u3PivotWide,
    "q_u4_unpivot"      -> u4Unpivot,
    "q_dq_checks"       -> dqChecks,
    "q_src_freshness"   -> srcFreshness,
    "q_s5_snapshot_scd2" -> s5SnapshotScd2,
    "q_a6_cube"         -> a6Cube,
    "q_j6_full_outer"   -> j6FullOuter,
    "q_a7_setops"       -> a7SetOps,
    "q_a6_rollup"       -> a6Rollup,
    "q_j4_semi"         -> j4Semi,
    "q_j5_anti"         -> j5Anti,
    "q_w3_battery"      -> w3Battery,
    "q_s5b_snapshot_ts" -> s5bSnapshotTs,
    "q_s6_change_feed"  -> s6ChangeFeed,
    "q_w4_range_frame"  -> w4RangeFrame,
    "q_a8_grouping_sets" -> a8GroupingSets,
    "q_a9_sketch_rollup" -> a9SketchRollup,
    "q_a1_dual_count_approx" -> a1Approx,
    "q_j_salted_skew"   -> jSaltedSkew,
    "q_s1_scan_project" -> s1Scan,
    "q_p_filters"       -> pFilters,
    "q_f_scalars"       -> fScalars,
    "q_f11_surrogate_key" -> f11Key,
    "q_a1_dual_count"   -> a1Dual,
    "q_a2_group3"       -> a2Group3,
    "q_a3_distinct"     -> a3Distinct,
    "q_w1_top1_per_key" -> w1Top1,
    "q_w2_global_id"    -> w2GlobalId,
    "q_w2_scale_safe"   -> w2ScaleSafe,
    "q_j1_left_const_on" -> j1LeftConstOn,
    "q_j2_left_single"  -> j2LeftSingle,
    "q_j3_left_expr_key" -> j3LeftExprKey,
    "q_u1_pivot_union"  -> u1PivotUnion,
    "q_u2_pivot_explode" -> u2PivotExplode,
    "q_incr_upsert"     -> incrUpsert,
  )

  private val dualCountSql =
    "SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS total_visits, " +
    "count(DISTINCT user_id) AS unique_visitors FROM events GROUP BY 1, 2"

  private val pivotSql =
    s"WITH a AS ($dualCountSql) " +
    "SELECT event_date, event_type, 'all' AS col_1, total_visits AS traffic FROM a " +
    "UNION ALL " +
    "SELECT event_date, event_type, 'unique' AS col_1, unique_visitors AS traffic FROM a"

  val oracle: Map[String, String] = Map(
    "q_u3_pivot_wide" ->
      ("""SELECT CAST(ts AS DATE) AS event_date,
         |  count(*) FILTER (WHERE event_type = 'view') AS view,
         |  count(*) FILTER (WHERE event_type = 'click') AS click,
         |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
         |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
         |  count(*) FILTER (WHERE event_type = 'error') AS error
         |FROM events GROUP BY 1""".stripMargin),
    "q_u4_unpivot" ->
      ("""WITH w AS (
         |  SELECT CAST(ts AS DATE) AS event_date,
         |    count(*) FILTER (WHERE event_type = 'view') AS view,
         |    count(*) FILTER (WHERE event_type = 'click') AS click,
         |    count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
         |    count(*) FILTER (WHERE event_type = 'signup') AS signup,
         |    count(*) FILTER (WHERE event_type = 'error') AS error
         |  FROM events GROUP BY 1
         |)
         |SELECT event_date, event_type, n
         |FROM w UNPIVOT (n FOR event_type IN (view, click, purchase, signup, error))""".stripMargin),
    "q_src_freshness" ->
      ("""WITH f AS (
         |  SELECT 'events_12h' AS src, max(ts) AS max_loaded_at,
         |    43200 AS warn_s, 604800 AS err_s FROM events
         |  UNION ALL SELECT 'events_3d', max(ts), 259200, 604800 FROM events
         |  UNION ALL SELECT 'orders_30d', CAST(max(o_orderdate) AS TIMESTAMP),
         |    86400, 2592000 FROM orders
         |), a AS (
         |  SELECT src, max_loaded_at, warn_s, err_s,
         |    CAST(floor(epoch(TIMESTAMP '2024-02-01 00:00:00')) AS BIGINT)
         |      - CAST(floor(epoch(max_loaded_at)) AS BIGINT) AS age_s
         |  FROM f
         |)
         |SELECT src,
         |  CAST(floor(epoch(max_loaded_at)) AS BIGINT) AS max_loaded_epoch,
         |  age_s,
         |  CASE WHEN max_loaded_at IS NULL OR age_s > err_s THEN 'error'
         |       WHEN age_s > warn_s THEN 'warn' ELSE 'pass' END AS status
         |FROM a""".stripMargin),
    "q_dq_checks" ->
      ("""SELECT 'events_id_unique' AS check, CAST((SELECT count(*) FROM (
         |  SELECT event_id FROM events GROUP BY 1 HAVING count(*) > 1)) AS BIGINT) AS violations
         |UNION ALL SELECT 'events_user_not_null',
         |  (SELECT count(*) FROM events WHERE user_id IS NULL)
         |UNION ALL SELECT 'events_type_accepted',
         |  (SELECT count(*) FROM events WHERE event_type IS NOT NULL
         |   AND event_type NOT IN ('view', 'click', 'purchase', 'signup', 'error'))
         |UNION ALL SELECT 'lineitem_order_fk',
         |  (SELECT count(*) FROM lineitem l LEFT JOIN orders o
         |   ON l.l_orderkey = o.o_orderkey
         |   WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL)
         |UNION ALL SELECT 'documents_lang_accepted',
         |  (SELECT count(*) FROM documents WHERE lang IS NOT NULL
         |   AND lang NOT IN ('en', 'de'))""".stripMargin),
    "q_s5_snapshot_scd2" ->
      ("""WITH s1 AS (
         |  SELECT user_id, event_type FROM events
         |  WHERE CAST(ts AS DATE) <= DATE '2024-01-15'
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
         |), s2 AS (
         |  SELECT user_id, event_type FROM events
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
         |)
         |SELECT s1.user_id, s1.event_type,
         |  DATE '2024-02-01' AS valid_from,
         |  CASE WHEN s2.event_type != s1.event_type THEN DATE '2024-03-01'
         |       ELSE DATE '9999-12-31' END AS valid_to
         |FROM s1 JOIN s2 USING (user_id)
         |UNION ALL
         |SELECT s2.user_id, s2.event_type,
         |  DATE '2024-03-01' AS valid_from,
         |  DATE '9999-12-31' AS valid_to
         |FROM s2 LEFT JOIN s1 USING (user_id)
         |WHERE s1.user_id IS NULL OR s1.event_type != s2.event_type""".stripMargin),
    "q_a6_cube" ->
      ("""SELECT COALESCE(r.r_name, 'ALL') AS region,
         |  COALESCE(c.c_mktsegment, 'ALL') AS segment,
         |  CAST(GROUPING(r.r_name) * 2 + GROUPING(c.c_mktsegment) AS BIGINT) AS gid,
         |  count(*) AS customers
         |FROM customer c
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY CUBE (r.r_name, c.c_mktsegment)""".stripMargin),
    "q_j6_full_outer" ->
      ("""WITH e AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n_events
         |  FROM events GROUP BY 1),
         |o AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders
         |  FROM orders GROUP BY 1)
         |SELECT COALESCE(e.d, o.d) AS d,
         |  CAST(COALESCE(e.n_events, 0) AS BIGINT) AS n_events,
         |  CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders
         |FROM e FULL OUTER JOIN o ON e.d = o.d""".stripMargin),
    "q_a7_setops" ->
      ("""WITH c AS (SELECT DISTINCT user_id FROM events
         |  WHERE event_type = 'click' AND value > 99),
         |p AS (SELECT DISTINCT user_id FROM events
         |  WHERE event_type = 'purchase' AND value > 99)
         |SELECT user_id, 'intersect' AS op
         |FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
         |UNION ALL
         |SELECT user_id, 'except' AS op
         |FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)""".stripMargin),
    "q_a6_rollup" ->
      ("""SELECT COALESCE(r.r_name, 'ALL') AS region,
         |  COALESCE(c.c_mktsegment, 'ALL') AS segment,
         |  CAST(GROUPING(r.r_name) * 2 + GROUPING(c.c_mktsegment) AS BIGINT) AS gid,
         |  count(*) AS customers
         |FROM customer c
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY ROLLUP (r.r_name, c.c_mktsegment)""".stripMargin),
    "q_j4_semi" ->
      ("SELECT c_custkey, c_name, c_mktsegment FROM customer c " +
       "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
       "AND o.o_orderpriority = '1-URGENT')"),
    "q_j5_anti" ->
      ("SELECT c_custkey, c_name, c_mktsegment FROM customer c " +
       "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
       "AND o.o_orderpriority = '1-URGENT')"),
    "q_w3_battery" ->
      ("""SELECT o_orderkey, o_custkey,
         |  CAST(row_number() OVER wo AS BIGINT) AS rn,
         |  CAST(ntile(4) OVER wo AS BIGINT) AS quartile,
         |  CAST(COALESCE(lag(o_orderkey) OVER wo, -1) AS BIGINT) AS prev_order,
         |  CAST(COALESCE(lead(o_orderkey) OVER wo, -1) AS BIGINT) AS next_order,
         |  CAST(rank() OVER wp AS BIGINT) AS rnk,
         |  CAST(dense_rank() OVER wp AS BIGINT) AS drnk,
         |  cume_dist() OVER wp AS cd,
         |  percent_rank() OVER wp AS pr
         |FROM orders
         |WINDOW wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
         |       wp AS (PARTITION BY o_custkey ORDER BY o_orderdate)""".stripMargin),
    "q_a1_dual_count_approx" ->
      ("SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS total_visits, " +
       "TRUE AS within_bound FROM events GROUP BY 1, 2"),
    "q_s5b_snapshot_ts" ->
      ("""WITH s1 AS (
         |  SELECT user_id, event_type, ts FROM events
         |  WHERE CAST(ts AS DATE) <= DATE '2024-01-15'
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
         |), s2 AS (
         |  SELECT user_id, event_type, ts FROM events
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
         |)
         |SELECT s1.user_id, s1.event_type,
         |  epoch_us(s1.ts) AS valid_from_us,
         |  CASE WHEN s2.ts > s1.ts THEN epoch_us(s2.ts) ELSE -1 END AS valid_to_us
         |FROM s1 JOIN s2 USING (user_id)
         |UNION ALL
         |SELECT s2.user_id, s2.event_type, epoch_us(s2.ts) AS valid_from_us,
         |  -1 AS valid_to_us
         |FROM s2 LEFT JOIN s1 USING (user_id)
         |WHERE s1.user_id IS NULL OR s2.ts > s1.ts""".stripMargin),
    "q_s6_change_feed" ->
      ("""WITH s1 AS (
         |  SELECT user_id || '|' || event_type AS id, count(*) AS n
         |  FROM events
         |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-10'
         |  GROUP BY 1
         |), s2 AS (
         |  SELECT user_id || '|' || event_type AS id, count(*) AS n
         |  FROM events
         |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-17'
         |  GROUP BY 1
         |), d AS (
         |  SELECT COALESCE(s2.id, s1.id) AS id,
         |    CASE WHEN s1.id IS NULL OR s2.id IS NOT NULL THEN s2.n ELSE s1.n END AS n,
         |    CASE WHEN s1.id IS NULL THEN 'insert'
         |         WHEN s2.id IS NULL THEN 'delete'
         |         WHEN s1.n != s2.n THEN 'update' END AS _change_type
         |  FROM s1 FULL OUTER JOIN s2 ON s1.id = s2.id
         |)
         |SELECT * FROM d WHERE _change_type IS NOT NULL""".stripMargin),
    "q_w4_range_frame" ->
      ("""SELECT event_id, user_id,
         |  count(*) OVER w AS n_7d,
         |  CAST(sum(CAST(floor(value) AS BIGINT)) OVER w AS BIGINT) AS val_7d
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin),
    "q_a8_grouping_sets" ->
      ("""SELECT COALESCE(r.r_name, 'ALL') AS region,
         |  COALESCE(c.c_mktsegment, 'ALL') AS segment,
         |  CAST(GROUPING(r.r_name) * 2 + GROUPING(c.c_mktsegment) AS BIGINT) AS gid,
         |  count(*) AS customers
         |FROM customer c
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY GROUPING SETS ((r.r_name), (c.c_mktsegment))""".stripMargin),
    "q_a9_sketch_rollup" ->
      ("SELECT event_type, count(DISTINCT user_id) AS exact_uniques, " +
       "TRUE AS within_bound FROM events GROUP BY 1"),
    "q_a12_filter_distinct" ->
      ("""SELECT l_returnflag,
         |  count(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
         |  CAST(sum(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_dq,
         |  count(DISTINCT l_partkey) AS n_parts,
         |  count(DISTINCT l_suppkey) AS n_supps
         |FROM lineitem GROUP BY ALL""".stripMargin),
    "q_u5_pivot_sql" ->
      ("""PIVOT (SELECT CAST(ts AS DATE) AS d, event_type FROM events)
         |ON event_type IN ('view', 'click', 'purchase', 'signup', 'error')
         |USING count(*)
         |GROUP BY d""".stripMargin),
    "q_w5_topk_agg" ->
      ("""SELECT user_id, event_id, value, rank FROM (
         |  SELECT user_id, event_id, value,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
         |  FROM events WHERE value IS NOT NULL
         |) WHERE rank <= 3""".stripMargin),
    "q_a7b_setops_all" ->
      ("""WITH c AS (SELECT user_id FROM events WHERE event_type = 'click' AND value > 99),
         |     p AS (SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 99),
         |     i AS (SELECT user_id FROM c INTERSECT ALL SELECT user_id FROM p),
         |     e AS (SELECT user_id FROM c EXCEPT ALL SELECT user_id FROM p)
         |SELECT 'intersect_all' AS op, user_id, count(*) AS copies FROM i GROUP BY user_id
         |UNION ALL
         |SELECT 'except_all' AS op, user_id, count(*) AS copies FROM e GROUP BY user_id""".stripMargin),
    "q_f15_try" ->
      ("""SELECT o_orderpriority,
         |  sum(o_orderkey / NULLIF(o_orderkey % 3, 0)) AS div_sum,
         |  count(TRY_CAST(NULLIF(o_orderstatus, 'O') AS INT)) AS bad_casts,
         |  CAST(sum(TRY_CAST(substr(CAST(o_orderkey AS VARCHAR), 1, 2) AS BIGINT)) AS BIGINT) AS prefix_sum
         |FROM orders GROUP BY 1""".stripMargin),
    "q_f16_variant" ->
      ("""SELECT event_id,
         |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         |  json_extract_string(props, '$.tag') AS tag
         |FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90""".stripMargin),
    "q_f12_collections" ->
      ("""WITH base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_toks,
         |  CAST(len(list_filter(toks, t -> length(t) > 3)) AS BIGINT) AS n_long,
         |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS len_sum,
         |  array_to_string(list_transform(toks, t -> upper(t))[1:3], '-') AS upper3,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
         |  list_sort(toks)[1] AS first_sorted
         |FROM base""".stripMargin),
    "q_f13_null_semantics" ->
      ("""WITH x AS (SELECT o_orderpriority, NULLIF(o_orderstatus, 'O') AS st FROM orders)
         |SELECT o_orderpriority,
         |  count(*) AS n_all,
         |  count(st) AS n_nonopen,
         |  CAST(sum(CASE WHEN st IS DISTINCT FROM 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct_f,
         |  coalesce(max(st), 'none') AS max_st
         |FROM x GROUP BY 1""".stripMargin),
    "q_f14_datetime" ->
      ("""WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d FROM orders)
         |SELECT CAST(date_trunc('month', d) AS DATE) AS month,
         |  CAST(min(last_day(d)) AS DATE) AS eom,
         |  CAST(max(d + INTERVAL 2 MONTH) AS DATE) AS plus2m,
         |  CAST(sum(datediff('day', DATE '1992-01-01', d)) AS BIGINT) AS days_since,
         |  CAST(max(quarter(d)) AS BIGINT) AS q,
         |  count(*) AS n
         |FROM o GROUP BY 1""".stripMargin),
    "q_j7_nullsafe" ->
      ("""WITH k AS (SELECT CASE WHEN event_type = 'error' THEN NULL
         |    ELSE user_id % 25 END AS k, event_id FROM events),
         |a AS (SELECT k, count(*) AS n_a FROM k GROUP BY 1),
         |b AS (SELECT k AS kb, CAST(sum(event_id) AS BIGINT) AS id_sum FROM k GROUP BY 1)
         |SELECT a.k, a.n_a, b.id_sum
         |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.kb""".stripMargin),
    // population-moment mirrors: kurtosis_pop directly; skewness converted
    // from DuckDB's sample G1 to Spark's population g1 by (n-2)/sqrt(n(n-1))
    "q_a10_stats" ->
      ("""SELECT l_returnflag,
         |  stddev_samp(l_quantity) AS sd_qty,
         |  var_samp(l_quantity) AS var_qty,
         |  stddev_pop(l_quantity) AS sdp_qty,
         |  var_pop(l_quantity) AS varp_qty,
         |  corr(l_quantity, l_extendedprice) AS corr_qp,
         |  covar_samp(l_quantity, l_extendedprice) AS cov_qp,
         |  covar_pop(l_quantity, l_extendedprice) AS covp_qp,
         |  regr_slope(l_extendedprice, l_quantity) AS slope_pq,
         |  regr_intercept(l_extendedprice, l_quantity) AS icept_pq,
         |  skewness(l_quantity) * (count(*) - 2) / sqrt(count(*) * (count(*) - 1.0)) AS skew_qty,
         |  kurtosis_pop(l_quantity) AS kurt_qty,
         |  quantile_cont(l_quantity, 0.5) AS median_qty
         |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    "q_a11_listagg" ->
      ("""SELECT c_mktsegment,
         |  string_agg(c_name, ',' ORDER BY c_name) AS names,
         |  count(*) AS n
         |FROM customer WHERE c_custkey % 50 = 0
         |GROUP BY c_mktsegment""".stripMargin),
    "q_j_salted_skew" ->
      ("WITH e AS (SELECT event_id, CASE WHEN event_id % 4 = 0 THEN 0 " +
       "ELSE event_id % 25 END AS k FROM events) " +
       "SELECT n.n_name, count(*) AS cnt, CAST(sum(e.event_id) AS BIGINT) AS id_sum " +
       "FROM e JOIN nation n ON e.k = n.n_nationkey GROUP BY n.n_name"),
    "q_s1_scan_project" ->
      "SELECT event_id, CAST(ts AS DATE) AS event_date, event_type, user_id FROM events",
    "q_p_filters" ->
      ("SELECT event_id, user_id, event_type, value FROM events " +
       "WHERE event_type = 'click' AND event_type <> 'internal' " +
       "AND props NOT ILIKE '%\"k\": 1%' AND props IS NOT NULL AND value > 50.0"),
    "q_f_scalars" ->
      ("SELECT event_id, lower(event_type) AS etype_lc, " +
       "coalesce(nullif(event_type, 'error'), 'unknown', 'x') AS etype_nz, " +
       "CAST(ts AS DATE) AS event_date, CAST(user_id AS VARCHAR) AS user_str, " +
       "CAST(floor(value) AS BIGINT) AS value_floor, " +
       "value / nullif(CAST(user_id AS DOUBLE), 0.0) AS per_user, " +
       "CASE WHEN event_type IN ('click', 'view') THEN 'web' " +
       "WHEN event_type = 'purchase' THEN 'commerce' ELSE NULL END AS kind FROM events"),
    "q_f11_surrogate_key" ->
      ("SELECT event_id, md5(concat_ws('-', " +
       "coalesce(CAST(event_type AS VARCHAR), '_dbt_utils_surrogate_key_null'), " +
       "coalesce(CAST(CAST(ts AS DATE) AS VARCHAR), '_dbt_utils_surrogate_key_null'), " +
       "coalesce(CAST(user_id AS VARCHAR), '_dbt_utils_surrogate_key_null'))) AS id FROM events"),
    "q_a1_dual_count" -> dualCountSql,
    "q_a2_group3" ->
      ("SELECT CAST(ts AS DATE) AS event_date, event_type, user_id % 4 AS bucket, " +
       "count(*) AS total_visits, count(DISTINCT user_id) AS unique_visitors " +
       "FROM events GROUP BY 1, 2, 3"),
    "q_a3_distinct" ->
      "SELECT DISTINCT user_id, event_type FROM events WHERE value > 100.0",
    "q_w1_top1_per_key" ->
      ("WITH ranked AS (SELECT user_id, event_id, event_type, " +
       "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY " +
       "CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END, ts DESC, event_id DESC) AS rn " +
       "FROM events) SELECT user_id, event_id, event_type FROM ranked WHERE rn = 1"),
    "q_w2_global_id" ->
      (s"WITH p AS ($pivotSql) " +
       "SELECT event_date, event_type, col_1, traffic, " +
       "ROW_NUMBER() OVER (ORDER BY event_date, event_type, col_1) AS id FROM p"),
    "q_w2_scale_safe" ->
      (s"WITH p AS ($pivotSql) " +
       "SELECT event_date, event_type, col_1, traffic, md5(concat_ws('-', " +
       "coalesce(CAST(event_date AS VARCHAR), '_dbt_utils_surrogate_key_null'), " +
       "coalesce(CAST(event_type AS VARCHAR), '_dbt_utils_surrogate_key_null'), " +
       "coalesce(CAST(col_1 AS VARCHAR), '_dbt_utils_surrogate_key_null'))) AS id FROM p"),
    "q_j1_left_const_on" ->
      (s"WITH t AS ($dualCountSql), " +
       "sp AS (SELECT CAST(ts AS DATE) AS spend_date, min(value) AS spend FROM events " +
       "WHERE event_type = 'click' GROUP BY 1) " +
       "SELECT t.event_date, t.event_type, t.total_visits, sp.spend " +
       "FROM t LEFT JOIN sp ON t.event_date = sp.spend_date AND t.event_type = 'purchase'"),
    "q_j2_left_single" ->
      ("SELECT o.o_orderkey, c.c_name, c.c_mktsegment FROM orders o " +
       "LEFT JOIN customer c ON o.o_custkey = c.c_custkey"),
    "q_j3_left_expr_key" ->
      ("SELECT o.o_orderkey, d.status_name FROM orders o LEFT JOIN " +
       "(VALUES ('o', 'open'), ('p', 'pending'), ('f', 'finished')) " +
       "AS d(status_lc, status_name) ON lower(o.o_orderstatus) = d.status_lc"),
    "q_u1_pivot_union" -> pivotSql,
    "q_u2_pivot_explode" -> pivotSql,
    "q_incr_upsert" ->
      ("WITH e AS (SELECT CAST(ts AS DATE) AS event_date, event_type FROM events), " +
       "b1 AS (SELECT event_date, event_type, count(*) AS total_visits, " +
       "md5(concat_ws('-', coalesce(CAST(event_date AS VARCHAR), '_dbt_utils_surrogate_key_null'), " +
       "coalesce(CAST(event_type AS VARCHAR), '_dbt_utils_surrogate_key_null'))) AS id " +
       "FROM e WHERE event_date <= DATE '2024-01-15' GROUP BY 1, 2), " +
       "b2 AS (SELECT event_date, event_type, count(*) AS total_visits, " +
       "md5(concat_ws('-', coalesce(CAST(event_date AS VARCHAR), '_dbt_utils_surrogate_key_null'), " +
       "coalesce(CAST(event_type AS VARCHAR), '_dbt_utils_surrogate_key_null'))) AS id " +
       "FROM e WHERE event_date > DATE '2024-01-15' GROUP BY 1, 2) " +
       "SELECT * FROM b1 WHERE NOT EXISTS (SELECT 1 FROM b2 WHERE b2.id = b1.id) " +
       "UNION ALL SELECT * FROM b2"),
  )
}
