package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._
import graft.sources.TableCatalog

/** Data-quality auditing and behavioral analytics tier: constraint audits
  * (uniqueness / referential integrity / domain rules), weekly
  * retention-churn accounting, reset-bounded running balances, day-of-week
  * seasonality, Benford first-digit screening, and sessionized funnel
  * conversion.
  *
  * These are the checks and reports an ETL platform runs ON its tables —
  * the reference's variance check (etl_service.py's rows-delta alarm) is
  * the seed of this tier; each operator here is the corpus-scale version
  * of a question a pipeline owner actually asks ("is my FK still intact",
  * "did this week's cohort stick", "does this amount column look
  * fabricated").
  */
object Audit {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    TableCatalog.load(spark, dir, name)

  // --------------------------------------------------------------- q110
  /** Constraint audit across the star schema: primary-key uniqueness,
    * referential integrity along customer→orders→lineitem, and domain
    * rules, one (check, table, total, violations) row each.
    *
    * Scale shape: ONE scan per audited table — all of a table's checks
    * (pk uniqueness, null-safe FK probe, not-null, domain ranges) ride a
    * single aggregate over that scan, with the FK side broadcast as keys
    * only; the six report rows then unfold from the three one-row
    * aggregates. FK semantics are standard SQL: a NULL foreign key is a
    * not-null finding, NOT a referential violation (also what the
    * oracle's `NOT IN` computes). Totals are reported beside violations
    * because "0 violations over 0 rows" and "0 over 600k" are very
    * different healths. */
  def q110QualityAudit(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer")
    val orders = t(spark, dir, "orders")
    val lineitem = t(spark, dir, "lineitem")

    def unfold(agg: DataFrame, table: String,
               checks: Seq[(String, String)]): DataFrame =
      agg.select(col("n_total"), explode(array(checks.map {
          case (name, violCol) => struct(lit(name).as("check_name"),
            col(violCol).as("n_violations"))
        }: _*)).as("c"))
        .select(col("c.check_name"), lit(table).as("table_name"),
          col("n_total"), col("c.n_violations"))

    val custAgg = customer.agg(
      count(lit(1)).as("n_total"),
      (count(lit(1)) - countDistinct(col("c_custkey"))).as("pk_dupes"))
    val ordAgg = orders
      .join(broadcast(customer.select(col("c_custkey")).distinct()
        .withColumn("hit", lit(1L))),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(
        count(lit(1)).as("n_total"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("pk_dupes"),
        coalesce(sum(when(col("o_custkey").isNotNull && col("hit").isNull,
          1L).otherwise(0L)), lit(0L)).as("fk_misses"),
        coalesce(sum(when(col("o_custkey").isNull ||
          col("o_orderdate").isNull, 1L).otherwise(0L)), lit(0L))
          .as("nulls"))
    val liAgg = lineitem
      .join(broadcast(orders.select(col("o_orderkey")).distinct()
        .withColumn("hit", lit(1L))),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(
        count(lit(1)).as("n_total"),
        coalesce(sum(when(col("l_orderkey").isNotNull && col("hit").isNull,
          1L).otherwise(0L)), lit(0L)).as("fk_misses"),
        coalesce(sum(when(col("l_quantity") <= 0 ||
          col("l_extendedprice") <= 0 || col("l_discount") < 0 ||
          col("l_discount") > 1, 1L).otherwise(0L)), lit(0L))
          .as("domain_viols"))

    unfold(custAgg, "customer", Seq("pk_customer_unique" -> "pk_dupes"))
      .unionByName(unfold(ordAgg, "orders", Seq(
        "pk_orders_unique" -> "pk_dupes",
        "fk_orders_customer" -> "fk_misses",
        "not_null_orders" -> "nulls")))
      .unionByName(unfold(liAgg, "lineitem", Seq(
        "fk_lineitem_orders" -> "fk_misses",
        "domain_lineitem_ranges" -> "domain_viols")))
      .orderBy("check_name")
  }

  // --------------------------------------------------------------- q111
  /** Weekly retention/churn ledger over event-active users: per week, how
    * many users were active, how many were new (first-ever week), retained
    * (also active the immediately previous week), and lapsed (not active
    * the immediately following week — the final week lapses everyone by
    * definition, consistently in both engines).
    *
    * Scale shape: everything runs on the distinct (user, week) frame —
    * |users|·|weeks| at most, shuffled once by user for the lag/lead pass
    * and once by week for the final count; the raw event table is touched
    * only by the initial distinct. */
  def q111WeeklyChurn(spark: SparkSession, dir: String): DataFrame = {
    val uw = t(spark, dir, "events")
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("week"))
    val flagged = uw
      .withColumn("prev_week", lag(col("week"), 1).over(w))
      .withColumn("next_week", lead(col("week"), 1).over(w))
      .withColumn("is_new", when(col("prev_week").isNull, 1L).otherwise(0L))
      .withColumn("is_retained",
        when(datediff(col("week"), col("prev_week")) === 7, 1L).otherwise(0L))
      .withColumn("is_lapsed",
        when(col("next_week").isNull ||
          datediff(col("next_week"), col("week")) =!= 7, 1L).otherwise(0L))
    flagged.groupBy(col("week"))
      .agg(count(lit(1)).as("n_active"),
        sum(col("is_new")).as("n_new"),
        sum(col("is_retained")).as("n_retained"),
        sum(col("is_lapsed")).as("n_lapsed"))
      .orderBy("week")
  }

  // --------------------------------------------------------------- q112
  /** Running balance with resets: per user, the cumulative event value
    * since that user's latest 'signup' event (signup rows restart the
    * balance at their own value). The classic gaps-and-islands pattern as
    * two stacked windows — a reset-group id (running count of signups),
    * then a running sum within (user, reset_group). Both windows share
    * the SAME user-keyed shuffle and total (ts, event_id) order, so the
    * whole query is one exchange; values accumulate in exact decimal in
    * a deterministic order, making the running sum engine-stable. */
  def q112BalanceResets(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val byGroup = Window.partitionBy(col("user_id"), col("reset_group"))
      .orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
      .withColumn("reset_group",
        sum(when(col("event_type") === "signup", 1L).otherwise(0L))
          .over(byUser))
      .withColumn("balance",
        sum(col("value").cast("decimal(18,4)")).over(byGroup)
          .cast("double"))
      .select("event_id", "user_id", "ts", "reset_group", "balance")
      .orderBy("user_id", "ts", "event_id")
  }

  // --------------------------------------------------------------- q113
  /** Day-of-week seasonality of order volume and revenue: per ISO weekday,
    * order count, exact-decimal revenue, share of total, and a seasonality
    * index (count vs the uniform-week expectation). The whole report is a
    * 7-row post-aggregate; the share/index divisions never see the fact
    * table. */
  def q113DowSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val perDow = t(spark, dir, "orders")
      .groupBy(weekday(col("o_orderdate")).cast("long").as("iso_weekday"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("revenue"))
    val total = perDow.agg(sum(col("n_orders")).as("n_all"))
    perDow.crossJoin(broadcast(total))
      .withColumn("share",
        round(col("n_orders").cast("double") / col("n_all").cast("double"),
          6))
      .withColumn("season_idx",
        round(col("n_orders").cast("double") * 7.0 /
          col("n_all").cast("double"), 4))
      .select("iso_weekday", "n_orders", "revenue", "share", "season_idx")
      .orderBy("iso_weekday")
  }

  // --------------------------------------------------------------- q114
  /** Benford first-digit screen on extended price: observed first
    * significant digit distribution vs Benford's log10(1 + 1/d)
    * expectation — the standard fabricated-amounts tripwire. The digit is
    * derived through exact integer cents (round → bigint → string head),
    * never through float log/pow, so the bucketing is engine-exact; the
    * 9-row share/expectation math happens post-aggregate. */
  def q114BenfordDigits(spark: SparkSession, dir: String): DataFrame = {
    val digits = t(spark, dir, "lineitem")
      .select(substring(
        round(col("l_extendedprice") * 100).cast("bigint").cast("string"),
        1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("n_all"))
    digits.crossJoin(broadcast(total))
      .withColumn("share",
        round(col("n").cast("double") / col("n_all").cast("double"), 6))
      .withColumn("benford_expected",
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
      .select("digit", "n", "share", "benford_expected")
      .orderBy("digit")
  }

  // --------------------------------------------------------------- q115
  /** Sessionized funnel: sessions are user activity islands separated by
    * >30 min of silence (lag + running count — the same single user-keyed
    * exchange as q112); within each session the view→click→purchase
    * progression uses q66's conditional-min trick (strictly-increasing
    * stage timestamps). One row of corpus-level session conversion
    * counters. */
  def q115SessionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sessions = t(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("new_session",
        when(lag(col("ts"), 1).over(byUser).isNull, 1L)
          .otherwise(when(
            unix_micros(col("ts").cast("timestamp")) -
              unix_micros(lag(col("ts"), 1).over(byUser)
                .cast("timestamp")) > 1800L * 1000000L, 1L)
            .otherwise(0L)))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
    val perSession = sessions
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts")))
          .as("t_purchase"))
    perSession.agg(
      count(lit(1)).as("n_sessions"),
      coalesce(sum(when(col("t_view").isNotNull, 1L).otherwise(0L)), lit(0L))
        .as("n_with_view"),
      coalesce(sum(when(col("t_click") > col("t_view"), 1L).otherwise(0L)),
        lit(0L)).as("n_view_click"),
      coalesce(sum(when(col("t_click") > col("t_view") &&
        col("t_purchase") > col("t_click"), 1L).otherwise(0L)), lit(0L))
        .as("n_full_funnel"))
  }

  // --------------------------------------------------------------- q118
  /** Entity resolution end-to-end: fuzzy-match customer names (edit
    * distance ≤ 1 via deletion-neighborhood blocking —
    * [[Dedup.editDistancePairs]]), resolve match-graph components to a
    * canonical id ([[Dedup.connectedComponents]]), and emit every customer
    * with its canonical survivor. The full dedup pipeline a master-data
    * system runs: block → score → cluster → survivorship (min-id rule).
    * The oracle recomputes it INDEPENDENTLY — brute-force O(n²)
    * levenshtein join + recursive-CTE reachability — so the compare
    * certifies blocking completeness AND clustering equivalence, not just
    * arithmetic. */
  def q118EntityResolution(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer")
    val pairs = Dedup.editDistancePairs(customer, "c_name", "c_custkey")
      .select(col("id_a"), col("id_b"))
    val clusters = Dedup.connectedComponents(pairs)
    customer.select(col("c_custkey"), col("c_name"))
      .join(clusters, col("c_custkey") === col("id"), "left")
      .select(col("c_custkey"), col("c_name"),
        coalesce(col("cluster_root"), col("c_custkey")).as("canonical_id"))
      .orderBy("c_custkey")
  }

  // --------------------------------------------------------------- q119
  /** Equi-depth histogram via percentile BOUNDARIES applied map-side —
    * never a per-group ntile sort. The previous ntile(10) form partitioned
    * a window by the 3-value return flag: at 100× every flag's third of
    * the fact table sorts in ONE task. Here the only per-group state is
    * the boundary aggregate (9 doubles/group after map-side partials) and
    * bin assignment is a broadcast join + counted comparison against the
    * 9 boundaries — q68's fixed-width shape with data-driven widths.
    *
    * Boundary rule (mirrored verbatim in the DuckDB oracle): interior
    * deciles of price as EXACT type-7 interpolated percentiles on DOUBLE,
    * rounded to 6dp; a row lands in bin 1 + count(boundaries < price).
    * Interpolation of 2dp prices at tenth-fractions has ≤3 true decimals,
    * so the 6dp round absorbs last-ulp engine differences without ever
    * sitting on a rounding edge. Ties at a boundary share a bin, so bin
    * counts are equal-depth up to tie mass (exact ntile's equal counts
    * are precisely what forces the non-scalable global sort).
    *
    * `exact=false` swaps the boundary aggregate for `approx_percentile`
    * (q70's rationale: O(1/accuracy) mergeable sketch state instead of
    * O(distinct values)) — the 100 TB default; sketch internals are
    * engine-specific, so the oracle-checked registry entry keeps the
    * exact aggregate. */
  def equiDepthHistogram(li: DataFrame, exact: Boolean = true): DataFrame = {
    val qs = (1 to 9).map(_ / 10.0).mkString("array(", ",", ")")
    val boundExpr =
      if (exact) s"percentile(cast(l_extendedprice as double), $qs)"
      else s"approx_percentile(cast(l_extendedprice as double), $qs, 10000)"
    val bounds = li.groupBy(col("l_returnflag"))
      .agg(expr(s"transform($boundExpr, b -> round(b, 6))").as("bounds"))
    li.join(broadcast(bounds), "l_returnflag")
      .withColumn("bin",
        (size(filter(col("bounds"), b => col("l_extendedprice") > b)) + 1)
          .cast("long"))
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      .orderBy("l_returnflag", "bin")
  }

  def q119EquidepthHistogram(spark: SparkSession, dir: String): DataFrame =
    equiDepthHistogram(t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice")))

  // --------------------------------------------------------------- q120
  /** Ordered string aggregation (LISTAGG/string_agg surface): per
    * (returnflag, linestatus), the three smallest DISTINCT order keys as
    * a comma-joined string — via the bounded
    * [[graft.functions.TopKMin]] aggregate. State is ≤3 longs per group
    * with map-side partials, so the whole query is ONE exchange of six
    * tiny states: no pre-`distinct` exchange, no row_number window whose
    * 6-value partition key would sort a sixth of the distinct-key frame
    * in one task at 100×. The listagg itself concatenates exactly k
    * elements — string state stays bounded by construction. */
  def q120OrderedListagg(spark: SparkSession, dir: String): DataFrame = {
    val top3 = udaf(new graft.functions.TopKMin(3))
    t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(top3(col("l_orderkey")).as("top_keys"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // --------------------------------------------------------------- q124
  /** Top navigation paths: the ten most common 3-step event-type
    * sequences across user streams (q102's Markov matrix generalized one
    * order up — the "how do users actually move" report). Two stacked
    * lags ride the SAME user-keyed window exchange; the path frame is at
    * most |types|³ rows after aggregation, and the top-k fuses. */
  def q124EventPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("t1", lag(col("event_type"), 2).over(w))
      .withColumn("t2", lag(col("event_type"), 1).over(w))
      .filter(col("t1").isNotNull)
      .select(concat_ws(">", col("t1"), col("t2"), col("event_type"))
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  // --------------------------------------------------------------- q128
  /** Key-skew profile — the diagnostic that decides whether a join needs
    * salting ([[Skew.saltedJoin]]) before it ships. One aggregate over
    * the fact table (map-side partial on the key), then the heavy-hitter
    * head: top-10 keys with their row share and skew factor
    * (count ÷ mean-per-key). The global totals ride a 1-row broadcast
    * cross join, so the whole profile is one shuffle of |keys| rows —
    * at 100 TB the per-key count frame is what any groupBy already pays,
    * and the top-10 head is a fused limit, never a full sort spill. A
    * skew factor near 1 says hash partitioning balances; >>1 names the
    * exact keys to salt and sizes the salt factor. */
  def q128KeySkewProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir, "lineitem")
      .groupBy(col("l_suppkey").as("key")).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("total"),
      count(lit(1)).as("n_keys"))
    counts.orderBy(col("n").desc, col("key")).limit(10)
      .crossJoin(broadcast(totals))
      .select(col("key"), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("share"),
        round(col("n").cast("double") * col("n_keys") / col("total"), 6)
          .as("skew"))
      .orderBy(col("n").desc, col("key"))
  }

  // ------------------------------------------------------------ registry

  // --------------------------------------------------------------- q154
  /** Activity-burst (bot/abuse) detection: each user's maximum event
    * count inside any trailing `windowUs`-microsecond window, flagged
    * above `minEvents` — the rate-limit audit a pipeline runs before
    * trusting event-derived signals (a crawler or replay bot poisons
    * funnels, attribution, and session stats alike).
    *
    * Scale shape: the sliding count is a RANGE-framed window over each
    * user's time-sorted events — the one user-keyed sort/exchange every
    * per-user sequence op pays, state bounded by a user's events inside
    * the time window — then a per-user max aggregate. No self-join, no
    * global order; integer microsecond bounds are bit-stable. */
  def burstDetect(events: DataFrame, windowUs: Long,
                  minEvents: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-windowUs, 0)
    events
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("c", count(lit(1)).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("c")).as("max_burst"))
      .withColumn("is_burst", col("max_burst") >= minEvents)
  }

  /** q154 entry: ≥5 events inside any trailing 6 h window. */
  def q154BurstDetect(spark: SparkSession, dir: String): DataFrame =
    burstDetect(t(spark, dir, "events"), 21600000000L, 5)
      .orderBy("user_id")

  // --------------------------------------------------------------- q157
  /** Z-order layout audit: interleave (l_partkey, l_suppkey) into a
    * Morton key ([[Layout.zorderKey2]] — the clustering key
    * [[Layout.writeZOrdered]] files data by) and report, per top-6-bit
    * curve bucket, the row count and BOTH dimensions' min/max. The
    * bounded per-bucket ranges on the two keys at once are exactly the
    * parquet min/max statistics a Z-ordered layout gives every file —
    * i.e. this query MEASURES the pruning power the writer buys.
    *
    * Scale shape: the key is a pure codegen'd bitwise fold in the scan;
    * one 64-group aggregate with map-side combine. The oracle replicates
    * the interleave bit-for-bit in SQL (integer ops only). */
  def q157ZorderStats(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
    // min/max rescale each dimension to a uniform 8-bit range first —
    // zorderKey2's scaladoc demands it for skewed/narrow domains, and it
    // keeps the curve meaningful at every scale factor. Integer inputs →
    // identical IEEE divide+floor in any engine.
    val mm = li.agg(min(col("l_partkey")).as("amin"),
      max(col("l_partkey")).as("amax"),
      min(col("l_suppkey")).as("bmin"),
      max(col("l_suppkey")).as("bmax"))
    def scale8(v: Column, lo: Column, hi: Column): Column =
      floor(((v - lo) * 256).cast("double") /
        (hi - lo + 1).cast("double")).cast("long")
    li.crossJoin(broadcast(mm))
      .withColumn("zkey", graft.ops.Layout.zorderKey2(
        scale8(col("l_partkey"), col("amin"), col("amax")),
        scale8(col("l_suppkey"), col("bmin"), col("bmax")), bits = 8))
      .withColumn("bucket", shiftright(col("zkey"), 10))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).as("part_lo"),
        max(col("l_partkey")).as("part_hi"),
        min(col("l_suppkey")).as("supp_lo"),
        max(col("l_suppkey")).as("supp_hi"))
      .orderBy("bucket")
  }

  // --------------------------------------------------------------- q167
  /** Single-pass typed column profile — the building block of the q167
    * drift audit below (the single-snapshot numeric profile report is
    * [[Insights.profileTable]]/q71; this variant adds normalized
    * min/max renderings for EVERY type and an approx-distinct scale
    * mode, because drift comparison needs string-comparable extrema).
    *
    * Scale shape: ONE scan. All per-column (count, min, max) aggregates
    * ride a single map-side-combined pass; the multi-column exact
    * COUNT(DISTINCT) plans as Spark's standard Expand (one row per
    * profiled column) + two-phase aggregate — data ×|cols|, the price of
    * exactness. `exact=false` swaps in `approx_count_distinct` (HLL++,
    * one pass, NO Expand) — the 100 TB default; the oracle-checked
    * registry entry keeps the exact form. The final per-column rows
    * unfold from the single 1-row aggregate with a literal-array explode
    * — no second scan, no union of per-column subplans (a naive
    * UNION-per-column profile scans the table |cols| times).
    *
    * Renderings are engine-portable by construction: integers/strings
    * cast verbatim; doubles via C-style `%.2f` (half-even vs half-up
    * printf differences need an EXACT decimal tie, which a stored binary
    * double of a non-representable decimal can never be); timestamps via
    * an explicit 6-digit-microsecond pattern. */
  def columnProfile(df: DataFrame, cols: Seq[(String, Column => Column)],
                    exact: Boolean = true): DataFrame = {
    // min/max aggregate RAW; the string renderings run in a separate
    // projection over the 1-row aggregate output. Rendering inside the
    // aggregate's own result projection put Iso8601TimestampFormatter
    // calls into the agg operator's generated code, which Janino fails
    // to compile — the whole fact-side stage then silently fell back to
    // interpreted execution (measured: the fallback cost more than a
    // second scan saved).
    val aggs = count(lit(1)).as("_n") +: cols.zipWithIndex.flatMap {
      case ((name, _), i) =>
        val c = col(name)
        Seq(
          count(c).as(s"_c$i"),
          (if (exact) countDistinct(c) else approx_count_distinct(c))
            .as(s"_d$i"),
          min(c).as(s"_rmn$i"),
          max(c).as(s"_rmx$i"))
    }
    val renders = col("_n") +: cols.zipWithIndex.flatMap {
      case ((_, render), i) =>
        Seq(col(s"_c$i"), col(s"_d$i"),
          render(col(s"_rmn$i")).cast("string").as(s"_mn$i"),
          render(col(s"_rmx$i")).cast("string").as(s"_mx$i"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*).select(renders: _*)
    val rows = cols.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("col_name"), col("_n").as("n_rows"),
        (col("_n") - col(s"_c$i")).as("n_nulls"),
        col(s"_d$i").cast("long").as("n_distinct"),
        col(s"_mn$i").as("min_s"), col(s"_mx$i").as("max_s"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Column-level profile DRIFT between two snapshots of the same feed —
    * the schema-drift alarm an ETL platform runs when yesterday's load
    * is replaced by today's: per column, row counts, the null-rate
    * delta, the distinct-cardinality ratio, and whether the value range
    * moved. Complements q165 (row-level snapshot diff — WHICH rows
    * changed) and q149 (value-distribution drift on one column) with the
    * table-wide "did a column silently go sparse / constant / out of
    * range" report.
    *
    * Scale shape: one single-pass profile per snapshot (see
    * [[columnProfile]]), then a |cols|-row join — the fact tables are
    * never joined or shuffled, only profiled. */
  def profileDrift(oldDf: DataFrame, newDf: DataFrame,
                   cols: Seq[(String, Column => Column)],
                   exact: Boolean = true): DataFrame = {
    val po = columnProfile(oldDf, cols, exact)
    val pn = columnProfile(newDf, cols, exact)
    po.select(col("col_name"), col("n_rows").as("n_old"),
        col("n_nulls").as("nl_old"), col("n_distinct").as("d_old"),
        col("min_s").as("mn_old"), col("max_s").as("mx_old"))
      .join(pn.select(col("col_name"), col("n_rows").as("n_new"),
        col("n_nulls").as("nl_new"), col("n_distinct").as("d_new"),
        col("min_s").as("mn_new"), col("max_s").as("mx_new")), "col_name")
      .select(col("col_name"), col("n_old"), col("n_new"),
        round(col("nl_new").cast("double") / col("n_new") -
          col("nl_old").cast("double") / col("n_old"), 6)
          .as("null_rate_delta"),
        round(col("d_new").cast("double") / col("d_old"), 6)
          .as("distinct_ratio"),
        (col("mn_old") =!= col("mn_new") || col("mx_old") =!= col("mx_new"))
          .as("range_changed"))
  }

  /** Profile drift when both snapshots live in ONE frame, told apart by
    * a tag expression — the common "old and new load share the feed
    * table" case. One fact scan total: the slim (tag, profiled columns)
    * projection is localCheckpointed off a single scan and feeds BOTH
    * profile aggregates; the old-vs-new alignment is a conditional
    * aggregate over the 2·|cols|-row profile frame.
    *
    * Why two aggregates instead of one multi-countDistinct pass: Spark
    * plans k exact distinct aggregates as an Expand — every input row
    * replicated k+1 times, with all the plain aggregates stacked on the
    * widened frame (measured 3.1 s at sf0.1 where this split runs
    * 0.8 s). Here (a) the plain metrics (count / nulls / min / max per
    * side) run as ONE no-Expand grouped aggregate, and (b) distinct
    * counts run over a stacked (side, column, xxhash64(value)) frame —
    * 6 narrow rows per input row, map-side-deduped — so cardinality is
    * counted without ever widening the fact. Distinctness by 64-bit
    * hash is exact up to hash collisions (P ≈ n²/2⁶⁴ — immaterial at
    * any profile-worthy cardinality; the same contract as the engine's
    * gram-hash joins).
    *
    * Contract: both snapshots non-empty (an empty side has no group row
    * and surfaces as NULL counts, exactly like a missing feed should).
    *
    * @param exact `true` counts distincts over the FULL hash stack
    *   (every row's hash reaches the aggregate; still distinct-by-
    *   xxhash64, NOT distinct-by-value — a 64-bit collision under-counts
    *   by the n²/2⁶⁴ contract above, which an oracle comparing true
    *   COUNT(DISTINCT) would surface as a mismatch with no other
    *   symptom); `false` swaps in approx_count_distinct (HLL++) on the
    *   same hashes — the 100 TB default. */
  def profileDriftTagged(df: DataFrame, isNew: Column,
                         cols: Seq[(String, Column => Column)],
                         exact: Boolean = true): DataFrame = {
    val names = cols.map(_._1)
    val slim = df
      .select(isNew.as("_new") +: names.map(col): _*)
      .localCheckpoint()
    // (a) plain per-side metrics — no distinct, no Expand; raw min/max
    // in the aggregate, renders in a post-aggregate projection over the
    // 2-row frame (rendering inside the agg's generated code failed
    // Janino compilation and dropped the whole fact stage to
    // interpreted execution)
    val aggs = count(lit(1)).as("_n") +: cols.zipWithIndex.flatMap {
      case ((name, _), i) =>
        val c = col(name)
        Seq(count(c).as(s"_c$i"), min(c).as(s"_rmn$i"),
          max(c).as(s"_rmx$i"))
    }
    val renders = Seq(col("_new"), col("_n")) ++ cols.zipWithIndex.flatMap {
      case ((_, render), i) =>
        Seq(col(s"_c$i"),
          render(col(s"_rmn$i")).cast("string").as(s"_mn$i"),
          render(col(s"_rmx$i")).cast("string").as(s"_mx$i"))
    }
    val two = slim.groupBy(col("_new")).agg(aggs.head, aggs.tail: _*)
      .select(renders: _*)
    // (b) per-side distinct counts over the hash stack
    val hashes = array(names.map(nm =>
      when(col(nm).isNotNull, xxhash64(col(nm)))): _*)
    val stacked = slim.select(col("_new"), posexplode(hashes))
      .filter(col("col").isNotNull)
    val distincts =
      if (exact)
        stacked.groupBy(col("_new"), col("pos"), col("col"))
          .agg(count(lit(1)))
          .groupBy(col("_new"), col("pos"))
          .agg(count(lit(1)).as("_d"))
      else
        stacked.groupBy(col("_new"), col("pos"))
          .agg(approx_count_distinct(col("col")).as("_d"))
    val rows = cols.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("col_name"), lit(i).as("_idx"),
        col("_n").as("n_rows"),
        (col("_n") - col(s"_c$i")).as("n_nulls"),
        col(s"_mn$i").as("min_s"), col(s"_mx$i").as("max_s"))
    }
    val prof = two.select(col("_new"), explode(array(rows: _*)).as("p"))
      .select(col("_new"), col("p.*"))
      .join(distincts.select(col("_new"), col("pos").as("_idx"),
        col("_d")), Seq("_new", "_idx"), "left")
      // a column all-NULL on one side has no stack rows: 0 distincts
      .withColumn("n_distinct", coalesce(col("_d"), lit(0L)))
    def side(isNewSide: Boolean, c: String) =
      max(when(col("_new") === isNewSide, col(c)))
    prof.groupBy(col("col_name"))
      .agg(
        side(false, "n_rows").as("n_old"),
        side(true, "n_rows").as("n_new"),
        round(side(true, "n_nulls").cast("double") / side(true, "n_rows") -
          side(false, "n_nulls").cast("double") / side(false, "n_rows"), 6)
          .as("null_rate_delta"),
        round(side(true, "n_distinct").cast("double") /
          side(false, "n_distinct"), 6).as("distinct_ratio"),
        (side(false, "min_s") =!= side(true, "min_s") ||
          side(false, "max_s") =!= side(true, "max_s")).as("range_changed"))
  }

  /** q167 entry: orders split at 1999-01-01 as the old/new snapshots —
    * both sides of one table, so the one-pass tagged profile applies
    * (plan-asserted single scan; the former two-frame form scanned the
    * fact twice). */
  def q167ProfileDrift(spark: SparkSession, dir: String): DataFrame = {
    val ident: Column => Column = c => c.cast("string")
    val dbl: Column => Column = c => format_string("%.2f", c)
    val tsr: Column => Column =
      c => date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    val specs = Seq(
      "o_orderkey" -> ident, "o_custkey" -> ident,
      "o_orderstatus" -> ident, "o_totalprice" -> dbl,
      "o_orderdate" -> tsr, "o_orderpriority" -> ident)
    val o = t(spark, dir, "orders")
    val cut = lit("1999-01-01").cast("timestamp")
    profileDriftTagged(o, col("o_orderdate") >= cut, specs)
      .orderBy("col_name")
  }

  // --------------------------------------------------------------- q169
  /** K-anonymity audit over a quasi-identifier set: group the table by
    * the attributes an attacker could link externally (here nation ×
    * market segment × coarse balance band) and flag equivalence classes
    * smaller than k — the rows a release of this table would expose.
    * The training-data angle is the same as the PII scrub (q50): before
    * a corpus ships, governance asks "how re-identifiable is it".
    *
    * Scale shape: one hash aggregate with map-side partials; the result
    * frame is bounded by the QI-domain product (|nations|×|segments|×
    * |bands|), never by rows, so the at-risk flag is a pure projection
    * over a tiny frame. Generalization (coarser bands) is the caller's
    * lever: band width IS the k-anonymity/utility trade-off. */
  def kAnonymityAudit(df: DataFrame, qi: Seq[Column], k: Int): DataFrame =
    df.groupBy(qi: _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", col("n") < k)

  /** q169 entry: customer QI = (nation, segment, 5000-wide balance band),
    * k=5. */
  def q169KAnonymity(spark: SparkSession, dir: String): DataFrame =
    kAnonymityAudit(
        t(spark, dir, "customer").select(col("c_nationkey"),
          col("c_mktsegment"),
          floor(col("c_acctbal") / 5000.0).cast("long").as("bal_band")),
        Seq(col("c_nationkey"), col("c_mktsegment"), col("bal_band")),
        k = 5)
      .orderBy("c_nationkey", "c_mktsegment", "bal_band")

  // --------------------------------------------------------------- q178
  /** Laplace-noised group counts — the differential-privacy release
    * mechanism (sensitivity-1 counts + Laplace(1/ε) noise, here ε=0.5),
    * the release-side complement of the q169 k-anonymity audit: q169
    * measures who is exposed by exact counts, this is the standard way
    * NOT to release exact counts. Noise is derived from a SEEDED md5
    * inverse-CDF draw so the release is reproducible and oracle-testable;
    * real DP requires the draw to be secret and single-use — the seed is
    * the test harness's concession, swapped for a secure source in
    * production (documented, not hidden). True counts ride along as the
    * in-query ground truth (q100/q173's validate-the-mechanism pattern)
    * and are dropped from a real release.
    *
    * Scale shape: one hash aggregate (the same frame as q169), then
    * pure per-row arithmetic — the noise draw is a projection, no second
    * pass, no collect. The (hexhead+0.5)/2³² uniform is strictly inside
    * (0,1), so ln never sees 0; the draw rounds to 6 dp before release
    * to absorb last-ulp libm differences across engines. */
  def dpNoisyCounts(df: DataFrame, keys: Seq[String],
                    epsilon: Double): DataFrame = {
    val b = 1.0 / epsilon
    val seed = concat_ws(":",
      lit("dp") +: keys.map(k => col(k).cast("string")): _*)
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("v",
        (conv(substring(md5(seed), 1, 8), 16, 10).cast("double") + 0.5) /
          4294967296.0 - 0.5)
      .withColumn("noise",
        round(lit(-b) * signum(col("v")) *
          log(lit(1.0) - lit(2.0) * abs(col("v"))), 6))
      .withColumn("released",
        greatest(lit(0L), round(col("n") + col("noise")).cast("long")))
      .drop("v")
  }

  /** q178 entry: ε=0.5 noisy release of the (nation, segment) counts. */
  def q178DpNoisyCounts(spark: SparkSession, dir: String): DataFrame =
    dpNoisyCounts(t(spark, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), epsilon = 0.5)
      .orderBy("c_nationkey", "c_mktsegment")

  // --------------------------------------------------------------- q176
  /** Zero-clamped running balance (inventory semantics): per user, a
    * running total that can never go below zero — each withdrawal draws
    * only what's there. q112's reset-bounded balance is window-
    * expressible because its reset points are DATA (signup rows); the
    * clamp is not: max(0, ·) applies at EVERY step, so the fold is
    * non-associative and no prefix-sum window can express it. This is
    * the one operator family that is genuinely sequential per key.
    *
    * Scale shape — the spill-safe Spark form of "sequential per key":
    * one hash repartition on user_id, an EXTERNAL sort within partitions
    * on (user, ts, id), then a single forward pass with O(1) state (two
    * longs), resetting at each key change. No per-group in-memory
    * buffering (a groupByKey+flatMapGroups fold would materialize each
    * user's history on the heap); a 100 TB key's history streams through
    * the sorted iterator. Deltas are integer CENTS, so the fold is
    * exact and engine-portable. */
  def clampedBalance(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_type") === "click",
          round(col("value") * 100).cast("long"))
          .when(col("event_type") === "purchase",
            -round(col("value") * 100).cast("long"))
          .otherwise(0L).as("delta"))
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
      // the narrow projection after the sort is exchange-free, so the
      // partition-local (user, ts, id) order reaches the fold intact
      .select(col("user_id"), col("event_id"), col("delta"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var cur = Long.MinValue
        var bal = 0L
        it.map { case (uid, eid, delta) =>
          if (uid != cur) { cur = uid; bal = 0L }
          bal = math.max(0L, bal + delta)
          (uid, eid, bal)
        }
      }
      .toDF("user_id", "event_id", "bal_cents")
  }

  /** q176 entry: clicks deposit, purchases draw, floors at zero. */
  def q176ClampedBalance(spark: SparkSession, dir: String): DataFrame =
    clampedBalance(t(spark, dir, "events"))
      .orderBy("user_id", "event_id")

  // --------------------------------------------------------------- q190
  /** Partition-layout advisor: for each CANDIDATE partition key, the
    * numbers that decide whether `PARTITIONED BY (candidate)` is a good
    * idea at scale — value count (too few ⇒ no pruning, too many ⇒
    * small-file explosion), the largest partition's row share, and the
    * max/avg skew ratio (one hot partition serializes every write and
    * straggles every scan). The verdict encodes the standard contract:
    * 8–10 000 values and skew < 10.
    *
    * Scale shape: ALL candidates are profiled in ONE fact pass — each
    * row explodes into (candidate, value) pairs (×|candidates|, the
    * declared cost), one hash aggregate counts pairs map-side-combined,
    * and the per-candidate rollup runs on the tiny (candidate, value)
    * frame. Compare k separate GROUP BYs: k fact scans.
    *
    * Determinism: integer counts; the skew ratio multiplies before its
    * ONE divide so both engines evaluate identically. */
  def partitionAdvisor(df: DataFrame,
                       candidates: Seq[(String, Column)]): DataFrame = {
    val pairs = df.select(explode(array(candidates.map { case (n, c) =>
      struct(lit(n).as("cand"), c.cast("string").as("v"))
    }: _*)).as("p")).select(col("p.cand").as("cand"), col("p.v").as("v"))
    pairs
      .groupBy(col("cand"), col("v"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("cand"))
      .agg(count(lit(1)).as("n_values"),
        sum(col("c")).as("n_rows"),
        max(col("c")).as("max_rows"))
      .select(col("cand"), col("n_values"), col("n_rows"),
        col("max_rows"),
        round((col("max_rows") * col("n_values")).cast("double") /
          col("n_rows"), 6).as("skew"))
      .withColumn("verdict",
        when(col("n_values") < 8, "too_few")
          .when(col("n_values") > 10000, "too_many")
          .when((col("max_rows") * col("n_values")).cast("double") /
            col("n_rows") >= 10.0, "skewed")
          .otherwise("good"))
      .orderBy("cand")
  }

  /** q190 entry: candidate keys for partitioning lineitem — flag,
    * status, ship month, and a 64-way supplier bucket. */
  def q190PartitionAdvisor(spark: SparkSession, dir: String): DataFrame =
    partitionAdvisor(t(spark, dir, "lineitem"), Seq(
      "returnflag" -> col("l_returnflag"),
      "linestatus" -> col("l_linestatus"),
      "ship_month" -> date_format(col("l_shipdate"), "yyyy-MM"),
      "supp_bucket" -> pmod(col("l_suppkey"), lit(64))))

  /** Simulated file inventory for the q229/q230 layout audits: lineitem
    * as a ship-month-partitioned table of 8 files per partition (supplier
    * buckets), each with its row count and probe-column min/max — the
    * metadata frame a real lakehouse reads from its manifest, derived
    * here from the data in ONE aggregate (map-side combined) and
    * localCheckpointed (q133's precedent) so q230's self-join sides —
    * and any reuse — never re-scan the facts. */
  private def fileInventory(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("part"),
        pmod(col("l_suppkey"), lit(8L)).as("file_id"))
      .agg(count(lit(1)).as("size_rows"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      .localCheckpoint(true)

  // --------------------------------------------------------------- q229
  /** q229 entry: merge-group plan for the simulated inventory at a
    * 1500-row target — see [[Layout.compactionPlan]]. */
  def q229CompactionPlan(spark: SparkSession, dir: String): DataFrame =
    Layout.compactionPlan(fileInventory(spark, dir),
      "part", "file_id", "size_rows", target = 1500L)

  // --------------------------------------------------------------- q230
  /** q230 entry: overlap-depth audit of the simulated inventory on the
    * price column — see [[Layout.clusteringDepth]]. Supplier-bucketed
    * "files" all span nearly the full price range, so depths sit near
    * n_files: exactly the unclustered layout the metric exists to flag
    * (and [[Layout.writeZOrdered]] exists to fix). */
  def q230ClusteringDepth(spark: SparkSession, dir: String): DataFrame =
    Layout.clusteringDepth(fileInventory(spark, dir),
      "part", "file_id", "lo", "hi")

  // --------------------------------------------------------------- q201
  /** Partition content checksums — the reproducibility manifest: for
    * each partition key, the row count and an ORDER-INDEPENDENT additive
    * digest of the rows' content hashes. Two pipeline runs (or a primary
    * and its replica) diff by comparing |partitions| manifest rows
    * instead of re-reading the data; q165's row-level snapshot diff then
    * runs only on the partitions whose checksums moved.
    *
    * Scale shape: the digest is a SUM of per-row 52-bit md5 slices —
    * commutative and associative, so it partial-aggregates map-side and
    * merges across any partitioning; nothing sorts, nothing
    * collect_lists a partition's rows. This additivity is the whole
    * design: a per-file manifest rolls up to a per-partition manifest
    * rolls up to a table digest by plain addition (the Iceberg/Delta
    * manifest idea, expressed as a query).
    *
    * Determinism: rows serialize with a \u0001 field separator —
    * WITHOUT one, ("12","3") and ("1","23") would share a digest; md5
    * is engine-portable; the 52-bit slice fits a long exactly; sums
    * ride decimal(38,0). Collision note: additive 52-bit sums are a
    * CHANGE detector, not a cryptographic commitment — the contract
    * matches how manifests are used. */
  def partitionChecksums(df: DataFrame, partCol: Column,
                         contentCols: Seq[Column]): DataFrame = {
    val rowDigest = conv(substring(
      md5(concat_ws("\u0001", contentCols: _*)), 1, 13), 16, 10)
      .cast("long")
    df.groupBy(partCol.as("part"))
      .agg(count(lit(1)).as("n_rows"),
        sum(rowDigest.cast("decimal(38,0)")).as("checksum"))
      .orderBy("part")
  }

  /** q201 entry: lineitem manifest by ship month over the full row
    * content. The digest is re-emitted as its exact decimal STRING: the
    * additive sum exceeds 2^53, so any float64 step in a downstream
    * consumer's canonicalization would corrupt the integer — a string
    * survives every hash/compare path bit-exactly. */
  def q201PartitionChecksums(spark: SparkSession, dir: String): DataFrame =
    partitionChecksums(t(spark, dir, "lineitem"),
      date_format(col("l_shipdate"), "yyyy-MM"),
      Seq(col("l_orderkey").cast("string"),
        col("l_linenumber").cast("string"),
        col("l_partkey").cast("string"),
        round(col("l_extendedprice") * 100).cast("long").cast("string"),
        col("l_returnflag")))
      .withColumn("checksum", col("checksum").cast("string"))

  // --------------------------------------------------------------- q233
  /** q233 entry: the compaction EXECUTOR closing q229's planner loop,
    * verified the reference's way (write, then validate —
    * services/jcap_pa_etl_service.py:341-349's backup-and-verify
    * discipline, applied to layout maintenance). A real partitioned
    * parquet fixture is written small-file-fragmented (12-way
    * repartition × lang partitions, docs capped at id < 400 — q172's
    * fixed-fixture contract, so the probe cost never grows with the
    * corpus), its per-partition content manifest is materialized, then
    * [[Layout.compactPartitioned]] rewrites each partition's merge
    * groups into single files and swaps them in. Emitted per partition:
    * the post-compaction row count and content checksum (which the
    * oracle pins against the source rows — byte-level content identity
    * through the rewrite), `checksum_match` vs the pre-compaction
    * manifest, and `compacted_ok` (strictly fewer files). */
  def q233CompactionExecute(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q233_table"
    q233Fixture(spark, dir, fixture)
    q233Cycle(spark, fixture)
  }

  private def q233Fixture(spark: SparkSession, dir: String,
                          fixture: String): Unit =
    t(spark, dir, "documents").filter(col("doc_id") < 400)
      .repartition(12, col("doc_id"))
      .write.partitionBy("lang").mode("overwrite").parquet(fixture)

  private def q233Cycle(spark: SparkSession, fixture: String): DataFrame = {
    def manifest(df: DataFrame): DataFrame =
      partitionChecksums(df, col("lang"),
        Seq(col("doc_id").cast("string"), col("text"), col("source"),
          col("n_chars").cast("string")))
    // materialize BEFORE the rewrite: a lazy frame would re-read the
    // compacted files and vacuously match
    val before = manifest(TableCatalog.readParquet(spark, fixture))
      .select(col("part"), col("n_rows").as("rows_before"),
        col("checksum").as("sum_before"))
      .localCheckpoint(true)
    val summary = Layout.compactPartitioned(spark, fixture,
      targetBytes = 512L * 1024)
      .select(substring_index(col("part_dir"), "=", -1).as("part"),
        col("files_before"), col("files_after"))
    manifest(TableCatalog.readParquet(spark, fixture))
      .join(before, "part")
      .join(summary, "part")
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        (col("checksum") === col("sum_before") &&
          col("n_rows") === col("rows_before")).as("checksum_match"),
        (col("files_after") < col("files_before")).as("compacted_ok"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q238
  /** q238 entry: the RE-CLUSTERING executor closing q230's audit loop —
    * the layout-tier twin of q233 (plan → rewrite → verify). A real
    * parquet fixture is written round-robin fragmented (16-way, events
    * capped at event_id < 8000 — q172's fixed-fixture contract), its
    * overlap depth on user_id measured from ACTUAL per-file min/max
    * stats ([[Layout.clusteringDepth]] — round-robin gives every file
    * the full range, depth ≈ file count), and its content manifest
    * materialized. [[Layout.reclusterZOrdered]] then rewrites the table
    * Z-ordered on (user_id, minute-of-day) and swaps it in crash-safely.
    * Emitted per user bucket: the post-rewrite row count and content
    * checksum (pinned by the oracle against the SOURCE rows — content
    * identity through the rewrite), `checksum_match` vs the
    * pre-rewrite manifest, and `clustered_ok` (the re-measured overlap
    * depth strictly improved). The spec recomputes both depths raw —
    * the independence probe behind the boolean. */
  def q238ReclusterExecute(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q238_table"
    q238Fixture(spark, dir, fixture)
    q238Cycle(spark, fixture)
  }

  private def q238Fixture(spark: SparkSession, dir: String,
                          fixture: String): Unit =
    t(spark, dir, "events").filter(col("event_id") < 8000)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .repartition(16).write.mode("overwrite").parquet(fixture)

  private def q238Cycle(spark: SparkSession, fixture: String): DataFrame = {
    def manifest(df: DataFrame): DataFrame =
      partitionChecksums(df, pmod(col("user_id"), lit(8L)),
        Seq(col("event_id").cast("string"), col("user_id").cast("string"),
          col("event_type")))
    def maxDepth(): Long =
      Layout.clusteringDepth(
        TableCatalog.readParquet(spark, fixture)
          .groupBy(input_file_name().as("f"))
          .agg(min(col("user_id")).as("lo"), max(col("user_id")).as("hi"))
          .withColumn("part", lit("t")),
        "part", "f", "lo", "hi")
        .select(col("max_depth")).head.getLong(0)
    // materialize BEFORE the rewrite (q233's discipline: a lazy frame
    // would re-read the re-clustered files and vacuously match)
    val before = manifest(TableCatalog.readParquet(spark, fixture))
      .select(col("part"), col("n_rows").as("rows_before"),
        col("checksum").as("sum_before"))
      .localCheckpoint(true)
    val depthBefore = maxDepth()
    Layout.reclusterZOrdered(spark, fixture, col("user_id"),
      (hour(col("ts")) * 60 + minute(col("ts"))).cast("long"),
      files = 16)
    val depthAfter = maxDepth()
    manifest(TableCatalog.readParquet(spark, fixture))
      .join(before, "part")
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        (col("checksum") === col("sum_before") &&
          col("n_rows") === col("rows_before")).as("checksum_match"),
        lit(depthAfter < depthBefore).as("clustered_ok"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q239
  /** q239 entry: the full audit→select→fix→verify maintenance cycle on
    * REAL parquet footer metadata — what q229/q230 simulated, run end to
    * end. A hive-partitioned fixture (events capped at event_id < 8000,
    * partitioned by event_type, 8 round-robin files per partition) is
    * audited via [[Layout.parquetColumnStats]] (footers only, no data
    * scan), every partition whose mean overlap depth clears the floor is
    * rewritten Z-ordered in place
    * ([[Layout.reclusterWorstPartitions]] — bounded concurrent
    * per-partition swaps), and the fix is verified two ways: content
    * identity via the checksum manifest (pinned by the oracle against
    * the SOURCE rows) and per-partition depth improvement re-measured
    * from the rewritten files' footers. All five partitions are
    * round-robin by construction, so `reclustered` is TRUE for every
    * row — the worst-k SELECTION behavior (only the bad partition of a
    * mixed table rewritten) is spec-verified where it can be asserted
    * deterministically. */
  def q239FooterReclusterWorst(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q239_table"
    q239Fixture(spark, dir, fixture)
    q239Cycle(spark, fixture)
  }

  private def q239Fixture(spark: SparkSession, dir: String,
                          fixture: String): Unit =
    t(spark, dir, "events").filter(col("event_id") < 8000)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .repartition(8, col("event_id"))
      .write.partitionBy("event_type").mode("overwrite").parquet(fixture)

  private def q239Cycle(spark: SparkSession, fixture: String): DataFrame = {
    def manifest(df: DataFrame): DataFrame =
      partitionChecksums(df, col("event_type"),
        Seq(col("event_id").cast("string"), col("user_id").cast("string")))
    // partition VALUES come back through hive's path escaping — decode
    // the dir fragment driver-side (the frames are metadata-sized, one
    // row per partition) so the manifest join never silently drops a
    // partition whose value hive escaped; no UDF, no fragile
    // string-split on '='
    def decodedDepths(df: DataFrame, depthAs: String): DataFrame = {
      val rows = df.select(col("part_dir"), col("max_depth")).collect()
        .map { r =>
          val pd = r.getString(0)
          (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(pd.substring(pd.indexOf('=') + 1)),
            r.getLong(1))
        }.toSeq
      import spark.implicits._
      rows.toDF("part", depthAs)
    }
    // materialize BEFORE the rewrite (q233's discipline)
    val before = manifest(TableCatalog.readParquet(spark, fixture))
      .select(col("part"), col("n_rows").as("rows_before"),
        col("checksum").as("sum_before"))
      .localCheckpoint(true)
    val audit = Layout.reclusterWorstPartitions(spark, fixture,
      keyA = "user_id",
      keyB = (hour(col("ts")) * 60 + minute(col("ts"))).cast("long"),
      files = 8, maxPartitions = 100, minAvgDepth = 1.0)
    val auditRows = audit
      .select(col("part_dir"), col("max_depth"), col("reclustered"))
      .collect().map { r =>
        val pd = r.getString(0)
        (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(pd.substring(pd.indexOf('=') + 1)),
          r.getLong(1), r.getBoolean(2))
      }.toSeq
    import spark.implicits._
    val beforeDepth = auditRows
      .toDF("part", "depth_before", "was_reclustered")
    val after = decodedDepths(
      Layout.footerClusteringDepth(spark, fixture, "user_id"),
      "depth_after")
    manifest(TableCatalog.readParquet(spark, fixture))
      .join(before, "part").join(beforeDepth, "part").join(after, "part")
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        (col("checksum") === col("sum_before") &&
          col("n_rows") === col("rows_before")).as("checksum_match"),
        col("was_reclustered").as("reclustered"),
        // strict improvement where improvement is POSSIBLE: a partition
        // already at the depth floor (one row-group) cannot go lower
        (col("depth_after") < col("depth_before") ||
          col("depth_before") <= 1).as("depth_improved"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q240
  /** q240 entry: the unified OPTIMIZE maintenance verb
    * ([[Layout.optimizeTable]]) over a mixed-health table — one footer
    * inventory drives a per-partition decision (compact / re-cluster /
    * skip) and one bounded-concurrent execution pass applies it. The
    * fixture engineers all three treatments deterministically from the
    * events table: partition `rr` is round-robin fragmented (overlap
    * depth ≈ file count → re-cluster), `sm` is clustered on user_id but
    * shattered into 8 tiny files (byte pressure → compact), `ok` is one
    * healthy file (→ skip). Emitted per partition: row count and content
    * checksum (pinned by the oracle against the SOURCE rows — content
    * identity through whichever rewrite ran), the action taken (pinned
    * by the oracle — the decision itself is cross-checked, not just the
    * rewrite), `checksum_match` vs the pre-maintenance manifest, and
    * `action_ok` (re-cluster: footer-re-measured depth strictly
    * improved; compact: strictly fewer files; skip: file count
    * untouched). */
  def q240OptimizeTable(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q240_table"
    q240Fixture(spark, dir, fixture)
    q240Cycle(spark, fixture)
  }

  private def q240Fixture(spark: SparkSession, dir: String,
                          fixture: String): Unit = {
    val ev = t(spark, dir, "events").filter(col("event_id") < 9000)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"),
        when(pmod(col("event_id"), lit(3)) === 0, lit("rr"))
          .when(pmod(col("event_id"), lit(3)) === 1, lit("sm"))
          .otherwise(lit("ok")).as("grp"))
    // rr: round-robin → every file spans the full user range, depth ≈ 8
    ev.filter(col("grp") === "rr").repartition(8)
      .write.partitionBy("grp").mode("overwrite").parquet(fixture)
    // sm: range-clustered on user_id (depth ≤ 2) but 8 small files
    ev.filter(col("grp") === "sm")
      .repartitionByRange(8, col("user_id")).sortWithinPartitions("user_id")
      .write.partitionBy("grp").mode("append").parquet(fixture)
    // ok: one healthy file
    ev.filter(col("grp") === "ok").coalesce(1)
      .write.partitionBy("grp").mode("append").parquet(fixture)
  }

  private def q240Cycle(spark: SparkSession, fixture: String): DataFrame = {
    def manifest(df: DataFrame): DataFrame =
      partitionChecksums(df, col("grp"),
        Seq(col("event_id").cast("string"), col("user_id").cast("string")))
    def decode(pd: String): String =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(pd.substring(pd.indexOf('=') + 1))
    def depths(): Map[String, Long] =
      Layout.footerClusteringDepth(spark, fixture, "user_id")
        .select(col("part_dir"), col("max_depth")).collect()
        .map(r => decode(r.getString(0)) -> r.getLong(1)).toMap
    // materialize BEFORE the rewrite (q233's discipline)
    val before = manifest(TableCatalog.readParquet(spark, fixture))
      .select(col("part"), col("n_rows").as("rows_before"),
        col("checksum").as("sum_before"))
      .localCheckpoint(true)
    val depthBefore = depths()
    val summary = Layout.optimizeTable(spark, fixture, keyA = "user_id",
      keyB = (hour(col("ts")) * 60 + minute(col("ts"))).cast("long"),
      files = 8, targetBytes = 1L << 30, minAvgDepth = 3.0)
    val depthAfter = depths()
    // per-action verification, driver-side over the metadata-sized
    // summary (one row per partition)
    val acts = summary
      .select(col("part_dir"), col("action"), col("files_before"),
        col("files_after")).collect().map { r =>
        val part = decode(r.getString(0))
        val action = r.getString(1)
        val ok = action match {
          case "recluster" => depthAfter(part) < depthBefore(part)
          case "compact" => r.getLong(3) < r.getLong(2)
          case _ => r.getLong(3) == r.getLong(2)
        }
        (part, action, ok)
      }.toSeq
    import spark.implicits._
    val actDf = acts.toDF("part", "action", "action_ok")
    manifest(TableCatalog.readParquet(spark, fixture))
      .join(before, "part").join(actDf, "part")
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        (col("checksum") === col("sum_before") &&
          col("n_rows") === col("rows_before")).as("checksum_match"),
        col("action"), col("action_ok"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q242
  /** q242 entry: the READER-SAFE maintenance path
    * ([[graft.ops.TableManifest]]) under the content-identity gate — the
    * manifest-pointer twin of q233/q238's swap-managed cycles. A fresh
    * manifested table is published from the events slice (8-file
    * generation), its content manifest materialized THROUGH THE POINTER,
    * then rewritten in place (reader-safe compaction to one file — the
    * commit is one atomic manifest rename, never a directory swap).
    * Emitted per user bucket: the post-rewrite row count and content
    * checksum read through the new generation (pinned by the oracle
    * against the SOURCE rows), `checksum_match` vs the pre-rewrite
    * manifest, and `rewrite_ok` (the pointer ADVANCED to a new
    * generation AND the new generation holds exactly the planned one
    * file — the protocol claims, whose crash/concurrency halves the
    * TableManifestSpec proves). */
  def q242ManifestRewrite(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q242_table"
    val fs = new org.apache.hadoop.fs.Path(fixture)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(fixture), true)
    val ev = t(spark, dir, "events").filter(col("event_id") < 6000)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    val g1 = TableManifest.publish(spark, fixture, ev.repartition(8))
    def manifest(df: DataFrame): DataFrame =
      partitionChecksums(df, pmod(col("user_id"), lit(8L)),
        Seq(col("event_id").cast("string"), col("user_id").cast("string"),
          col("event_type")))
    // materialize BEFORE the rewrite (q233's discipline), reading
    // through the pointer like any client would
    val before = manifest(TableManifest.read(spark, fixture))
      .select(col("part"), col("n_rows").as("rows_before"),
        col("checksum").as("sum_before"))
      .localCheckpoint(true)
    val g2 = TableManifest.rewrite(spark, fixture)(df => df.coalesce(1))
    val after = TableManifest.read(spark, fixture)
    val rewriteOk = g2 != g1 &&
      TableManifest.currentGeneration(spark, fixture).contains(g2) &&
      after.inputFiles.length == 1
    manifest(after)
      .join(before, "part")
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        (col("checksum") === col("sum_before") &&
          col("n_rows") === col("rows_before")).as("checksum_match"),
        lit(rewriteOk).as("rewrite_ok"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q243
  /** q243 entry: TIME TRAVEL through the manifest log
    * ([[graft.ops.TableManifest.readVersion]]) under the content-identity
    * gate. A manifested table is published from the events slice
    * (version 1), then rewritten dropping the click rows (version 2 — a
    * schema-stable transform a maintenance or correction pass would
    * make). BOTH retained versions are then read back explicitly and
    * emitted per event type: row count and content checksum, each pinned
    * by the oracle against the SOURCE rows — version 1's content must
    * still be byte-reconstructible AFTER the rewrite superseded it
    * (retention keeps the previous version's generation set alive; the
    * TableManifestSpec time-travel test proves the window and the loud
    * eviction error independently). `history_retained` asserts the
    * version list is exactly (1, 2). */
  def q243TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q243_table"
    q243Fixture(spark, dir, fixture)
    q243Cycle(spark, fixture)
  }

  /** q243's fixture: the two-version table (publish, then a rewrite
    * that drops the clicks) — built once per JVM as a bench template
    * (the q233/q239 benchForm discipline: the bench times the
    * TIME-TRAVEL reads, not the two Spark writes that build their
    * subject). */
  private def q243Fixture(spark: SparkSession, dir: String,
                          tpl: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tpl)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val ev = t(spark, dir, "events").filter(col("event_id") < 6000)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    TableManifest.publish(spark, tpl, ev.repartition(4))
    TableManifest.rewrite(spark, tpl)(df =>
      df.filter(col("event_type") =!= "click").coalesce(1))
  }

  /** q243's timed operator: the version walk and BOTH versions'
    * time-travel reads with their checksum readouts. */
  private def q243Cycle(spark: SparkSession, fixture: String): DataFrame = {
    val vs = TableManifest.versions(spark, fixture)
    val retained = vs == Seq(1L, 2L)
    def shape(df: DataFrame, v: Long): DataFrame =
      partitionChecksums(df, col("event_type"),
        Seq(col("event_id").cast("string"), col("user_id").cast("string"),
          col("event_type")))
        .select(lit(v).as("version"), col("part").as("event_type"),
          col("n_rows"), col("checksum").cast("string").as("checksum"))
    shape(TableManifest.readVersion(spark, fixture, 1L), 1L)
      .unionByName(shape(TableManifest.readVersion(spark, fixture, 2L), 2L))
      .withColumn("history_retained", lit(retained))
      .orderBy("version", "event_type")
  }

  // --------------------------------------------------------------- q244
  /** q244 entry: EXACTLY-ONCE INGEST through the manifest's batch
    * watermark ([[graft.ops.TableManifest.append]]) under the
    * content-identity gate — the batch-parity twin of the
    * TableManifestSpec streaming-replay test (which drives the same path
    * from a REAL torn foreachBatch checkpoint). Three micro-batches of
    * the events slice are appended with their batch ids; batch 1 is then
    * RE-OFFERED twice — once immediately (the crash-between-sink-and-
    * checkpoint replay) and once after a compaction rewrite collapsed
    * the log (the watermark must survive compaction, or maintenance
    * between batches re-opens the door to double-append). The final
    * table is read through the pointer and emitted per event type: row
    * count and content checksum pinned by the oracle against the SOURCE
    * rows — any replayed append would break both. `exactly_once`
    * asserts each fresh batch committed and each replay skipped. */
  def q244ExactlyOnceIngest(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q244_table"
    val fs = new org.apache.hadoop.fs.Path(fixture)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(fixture), true)
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    def slice(lo: Long, hi: Long): DataFrame =
      ev.filter(col("event_id") >= lo && col("event_id") < hi)
    TableManifest.publish(spark, fixture, ev.limit(0).coalesce(1))
    val c0 = TableManifest.append(spark, fixture, slice(0, 2000), Some(0L))
    val c1 = TableManifest.append(spark, fixture, slice(2000, 4000), Some(1L))
    val r1 = TableManifest.append(spark, fixture, slice(2000, 4000), Some(1L))
    TableManifest.rewrite(spark, fixture)(_.repartition(4))
    val r2 = TableManifest.append(spark, fixture, slice(2000, 4000), Some(1L))
    val c2 = TableManifest.append(spark, fixture, slice(4000, 6000), Some(2L))
    val exactlyOnce = c0.isDefined && c1.isDefined && c2.isDefined &&
      r1.isEmpty && r2.isEmpty &&
      TableManifest.lastBatchId(spark, fixture).contains(2L)
    partitionChecksums(TableManifest.read(spark, fixture), col("event_type"),
      Seq(col("event_id").cast("string"), col("user_id").cast("string"),
        col("event_type")))
      .select(col("part").as("event_type"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(exactlyOnce).as("exactly_once"))
      .orderBy("event_type")
  }

  // --------------------------------------------------------------- q245
  /** q245 entry: reader-safe OPTIMIZE through the manifest
    * ([[graft.ops.TableManifest.optimizeManifested]]) — q240's
    * metadata-priced maintenance verb re-expressed on the pointer
    * protocol, where execution needs no maintenance window. An ingest
    * is simulated the way it actually fragments: a published base plus
    * two appended micro-batches (three generations, 12 data files);
    * the optimize decision is priced from the generation listing and
    * compacts through ONE atomic commit; a SECOND optimize must then
    * decide `skip` and commit nothing (idempotence — the decision, not
    * just the rewrite, is under the gate). Emitted per user bucket:
    * post-optimize row count and content checksum read through the new
    * generation (oracle-pinned against the SOURCE rows),
    * `checksum_match` vs the pre-optimize manifest, the two decisions,
    * and `files_ok` (the new generation holds exactly the planned file
    * count AND the skip committed no version). */
  def q245OptimizeManifested(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q245_table"
    val fs = new org.apache.hadoop.fs.Path(fixture)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(fixture), true)
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    TableManifest.publish(spark, fixture,
      ev.filter(col("event_id") < 4000).repartition(8))
    TableManifest.append(spark, fixture,
      ev.filter(col("event_id") >= 4000 && col("event_id") < 5000)
        .repartition(2), batchId = Some(0L))
    TableManifest.append(spark, fixture,
      ev.filter(col("event_id") >= 5000 && col("event_id") < 6000)
        .repartition(2), batchId = Some(1L))
    def manifest(df: DataFrame): DataFrame =
      partitionChecksums(df, pmod(col("user_id"), lit(8L)),
        Seq(col("event_id").cast("string"), col("user_id").cast("string"),
          col("event_type")))
    val before = manifest(TableManifest.read(spark, fixture))
      .select(col("part"), col("n_rows").as("rows_before"),
        col("checksum").as("sum_before"))
      .localCheckpoint(true)
    // generous target: 12 small files collapse to the 1-file plan
    val (action, gen) =
      TableManifest.optimizeManifested(spark, fixture, 1L << 30)
    val versionsAfter = TableManifest.versions(spark, fixture).last
    val (action2, gen2) =
      TableManifest.optimizeManifested(spark, fixture, 1L << 30)
    val after = TableManifest.read(spark, fixture)
    val filesOk = gen.isDefined && after.inputFiles.length == 1 &&
      gen2.isEmpty &&
      TableManifest.versions(spark, fixture).last == versionsAfter
    manifest(after)
      .join(before, "part")
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        (col("checksum") === col("sum_before") &&
          col("n_rows") === col("rows_before")).as("checksum_match"),
        lit(action).as("action"), lit(action2).as("reoptimize_action"),
        lit(filesOk).as("files_ok"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q246
  /** q246 entry: the manifested CDC-UPSERT sink
    * ([[graft.ops.TableManifest.upsertSink]]) under the content-identity
    * gate — the reader-safe, versioned successor of the swap-based
    * upsert snapshot, batch-parity form. Three micro-batches of change
    * events upsert the latest-row-per-user snapshot through the
    * manifest; batch 1 is RE-OFFERED (the torn-checkpoint replay) and
    * must skip via the watermark — observed as the head version NOT
    * advancing — rather than lean on merge idempotence. The final
    * snapshot must hold exactly the total-order winner per user across
    * ALL batches (per-key latest is associative, so the incremental
    * merges must agree with the oracle's one-shot window), emitted per
    * user bucket: row count and content checksum over (user, winning
    * event id, type), pinned by DuckDB from the source. */
  def q246UpsertSink(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q246_table"
    val fs = new org.apache.hadoop.fs.Path(fixture)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(fixture), true)
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    def slice(lo: Long, hi: Long): DataFrame =
      ev.filter(col("event_id") >= lo && col("event_id") < hi)
    TableManifest.publish(spark, fixture, ev.limit(0).coalesce(1))
    val sink = TableManifest.upsertSink(fixture,
      keyCols = Seq("user_id"), tsCol = "ts", tieCol = "event_id")
    sink(slice(0, 2000), 0L)
    sink(slice(2000, 4000), 1L)
    val head = TableManifest.versions(spark, fixture).last
    sink(slice(2000, 4000), 1L) // torn-checkpoint replay: must skip
    val replaySkipped =
      TableManifest.versions(spark, fixture).last == head
    sink(slice(4000, 6000), 2L)
    val exactlyOnce = replaySkipped &&
      TableManifest.lastBatchId(spark, fixture).contains(2L)
    partitionChecksums(TableManifest.read(spark, fixture),
      pmod(col("user_id"), lit(8L)),
      Seq(col("user_id").cast("string"), col("event_id").cast("string"),
        col("event_type")))
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(exactlyOnce).as("exactly_once"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q247
  /** q247 entry: the BUCKETED incremental CDC-upsert sink
    * ([[graft.ops.TableManifest.upsertSinkBucketed]]) — q246's
    * semantics at the scale shape r10's verdict named as the biggest
    * remaining gap: a micro-batch rewrites ONLY the key-buckets it
    * touches (O(touched buckets + batch) data cost), never the whole
    * snapshot. Batch 0 seeds the latest-row-per-user table (boots the
    * 16-bucket layout); batch 1 is a SPARSE slice (one user in 97) that
    * must carry the untouched buckets' generation directories forward
    * BY NAME — `incremental` asserts ≥1 generation survived by
    * reference and no more generations were replaced than buckets the
    * batch touched (a regression to full-snapshot rewrites fails it;
    * the byte-identity of carried generations is proven in
    * TableManifestSpec). Batch 1 is then RE-OFFERED (torn-checkpoint
    * replay) and must skip via the per-writer watermark — the head
    * version must not advance. Content: the total-order winner per
    * user across both delivered batches, count + checksum pinned by
    * DuckDB from the source. */
  def q247UpsertBucketed(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q247_table"
    val fs = new org.apache.hadoop.fs.Path(fixture)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(fixture), true)
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val b0 = ev.filter(col("event_id") < 4000)
    val b1 = ev.filter(col("event_id") >= 4000 && col("event_id") < 6000 &&
      pmod(col("user_id"), lit(97L)) === 0)
    TableManifest.publish(spark, fixture, ev.limit(0).coalesce(1))
    val sink = TableManifest.upsertSinkBucketed(fixture,
      keyCols = Seq("user_id"), tsCol = "ts", tieCol = "event_id",
      numBuckets = 16)
    sink(b0, 0L)
    val prevGens = TableManifest.currentGenerations(spark, fixture)
    sink(b1, 1L)
    val nowGens = TableManifest.currentGenerations(spark, fixture)
    val carried = nowGens.toSet.intersect(prevGens.toSet).size
    val touchedCnt = b1
      .select(pmod(xxhash64(col("user_id")), lit(16L)).as("b"))
      .distinct().count()
    val head = TableManifest.versions(spark, fixture).last
    sink(b1, 1L) // torn-checkpoint replay: must skip outright
    val replaySkipped = TableManifest.versions(spark, fixture).last == head
    val incremental = carried >= 1 &&
      (prevGens.size - carried) <= touchedCnt
    val exactlyOnce = replaySkipped &&
      TableManifest.lastBatchId(spark, fixture).contains(1L)
    partitionChecksums(TableManifest.read(spark, fixture),
      pmod(col("user_id"), lit(8L)),
      Seq(col("user_id").cast("string"), col("event_id").cast("string"),
        col("event_type")))
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(exactlyOnce).as("exactly_once"),
        lit(incremental).as("incremental"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q248
  /** q248 entry: STATS-PRUNED read through the manifest
    * ([[graft.ops.TableManifest.readPruned]]) — Iceberg's
    * manifests-carry-stats idea closing the loop between the footer-
    * stats tier and the log tier. Orders are published range-clustered
    * on `o_orderdate` with the per-file (min,max) inventory recorded
    * IN THE MANIFEST at commit time; a one-year predicate then
    * resolves its file set from ONE manifest parse — the `pruned`
    * boolean asserts strictly fewer files were handed to Spark than
    * the table holds (the skipped files are never listed, opened, or
    * footer-read), `meta_only` asserts the pruned scan reads exactly
    * the manifest-resolved file set (file lists ride the commit JSON,
    * so nothing is listed to find them), and
    * the content checksum pins that pruning lost nothing: the oracle
    * recomputes the same year from the raw source. Bounds ride the
    * parquet stats surface (DATE = epoch days). */
  def q248StatsPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q248_table"
    q248Fixture(spark, dir, fixture)
    q248Cycle(spark, fixture)
  }

  /** q248's fixture: the range-clustered stats-carrying table — built
    * once per JVM as a bench template (the q233/q239 benchForm
    * discipline: the bench times the PRUNED READ, not the clustered
    * write that builds its subject). */
  private def q248Fixture(spark: SparkSession, dir: String,
                          tpl: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tpl)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    TableManifest.publish(spark, tpl,
      o.repartitionByRange(8, col("o_orderdate")),
      statsCol = Some("o_orderdate"))
  }

  /** q248's timed operator: the metadata pruning decision, the pruned
    * scan, and the checksum readout. */
  private def q248Cycle(spark: SparkSession, fixture: String): DataFrame = {
    // o_orderdate is TIMESTAMP_NTZ — its parquet stats surface is epoch
    // MICROS (a DATE column's would be epoch days)
    def micros(d: String): Double =
      java.time.LocalDate.parse(d).toEpochDay.toDouble * 86400e6
    val (lo, hi) = (micros("1995-01-01"), micros("1996-01-01") - 1)
    val info =
      TableManifest.prunedFilesInfo(spark, fixture, "o_orderdate", lo, hi)
    val pruned = info.files.nonEmpty && info.files.size < info.total
    val scan = TableManifest.readPruned(spark, fixture, "o_orderdate", lo, hi)
    val metaOnly = scan.inputFiles.sorted.sameElements(info.files.map(_._1).sorted)
    partitionChecksums(
      scan
        .filter(col("o_orderdate").between(
          lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
          lit("1995-12-31 23:59:59.999999").cast("timestamp_ntz"))),
      pmod(col("o_custkey"), lit(8L)),
      Seq(col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
        col("o_orderdate").cast("string")))
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(pruned).as("pruned"), lit(metaOnly).as("meta_only"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q249
  /** q249 entry: bucket-pruned POINT READ over the bucketed CDC table
    * ([[graft.ops.TableManifest.readKeyBuckets]]) — the query-side
    * payoff of q247's layout: a k-key lookup hashes its keys with the
    * same pmod(xxhash64) the writer bucketed by and opens ONLY those
    * buckets' generations (min(k, numBuckets) of them), never the
    * table. The fixture is q247's winner-per-user snapshot (seed batch
    * 0–4000, update batch 4000–6000); the lookup set is the FIVE
    * smallest user ids in the window — deterministic at every scale,
    * and sparse enough that 5 keys can never cover all 16 buckets (a
    * one-in-k modulus grows with the user population and covered every
    * bucket at sf0.1 — caught in review before it shipped);
    * `bucket_pruned` asserts the scan's TABLE-generation input files
    * (the keys-side source scan is filtered out by the `_gen-` prefix)
    * came from strictly fewer generations than the table holds (a
    * regression to read-everything fails it), and the content checksum
    * pins that the pruned lookup returned exactly the oracle's winners
    * for those keys. */
  def q249PointRead(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q249_table"
    val fs = new org.apache.hadoop.fs.Path(fixture)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(fixture), true)
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    TableManifest.publish(spark, fixture, ev.limit(0).coalesce(1))
    TableManifest.upsertBucketed(spark, fixture,
      ev.filter(col("event_id") < 4000),
      Seq("user_id"), "ts", "event_id", numBuckets = 16, Some(0L))
    TableManifest.upsertBucketed(spark, fixture,
      ev.filter(col("event_id") >= 4000 && col("event_id") < 6000),
      Seq("user_id"), "ts", "event_id", numBuckets = 16, Some(1L))
    val keys = ev.filter(col("event_id") < 6000)
      .select(col("user_id")).distinct()
      .orderBy(col("user_id")).limit(5)
    val hit = TableManifest.readKeyBuckets(spark, fixture,
      Seq("user_id"), keys)
    val totalGens = TableManifest.currentGenerations(spark, fixture).size
    // count TABLE generations only: inputFiles unions every file source
    // in the plan, and the keys-side events scan must not inflate the
    // opened-generation count
    val openedGens = hit.inputFiles.map { f =>
      new java.net.URI(f).getPath.split("/").takeRight(2).head
    }.filter(_.startsWith("_gen-")).toSet.size
    val bucketPruned = openedGens > 0 && openedGens < totalGens
    partitionChecksums(hit, pmod(col("user_id"), lit(8L)),
      Seq(col("user_id").cast("string"), col("event_id").cast("string"),
        col("event_type")))
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(bucketPruned).as("bucket_pruned"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q250
  /** q250 entry: incremental CDC TAIL over the manifest log
    * ([[graft.ops.TableManifest.tailAppends]]) — consume exactly the
    * generations committed after a version cursor, O(new data) per
    * poll with no consumer state beyond the version number. Three
    * event slices append; the tail cursor is taken AFTER the first, so
    * the tailed frame must hold exactly slices 2–3 — a drop fails the
    * count, a re-delivery of slice 1 fails count AND checksum (the
    * oracle recomputes slices 2–3 from the source). `tail_exact`
    * carries the engine's cursor bookkeeping claims: an empty poll at
    * the head returns the same cursor, and the final cursor equals the
    * head version. */
  def q250TailAppends(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q250_table"
    q250Fixture(spark, dir, fixture)
    q250Cycle(spark, fixture)
  }

  /** q250's fixture: the three-append source log — built once per JVM
    * as a bench template (the q243/q248/q252 read-verb discipline: the
    * bench times the TAIL POLLS, which read committed log windows and
    * are indifferent to when the appends landed). */
  private def q250Fixture(spark: SparkSession, dir: String,
                          tpl: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tpl)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    def slice(lo: Long, hi: Long): DataFrame =
      ev.filter(col("event_id") >= lo && col("event_id") < hi)
    TableManifest.publish(spark, tpl, ev.limit(0).coalesce(1))
    // the consumed prefix stops at 400 so the TAILED window is
    // non-empty at every gate scale (sf0.001 holds 1000 events)
    TableManifest.append(spark, tpl, slice(0, 400), Some(0L))
    TableManifest.append(spark, tpl, slice(400, 2000), Some(1L))
    TableManifest.append(spark, tpl, slice(2000, 6000), Some(2L))
  }

  /** q250's timed operator: the tail walk over the committed log —
    * the two-append window poll and the at-head empty poll, with the
    * cursor claims and the window's checksum readout. The registered
    * form's FIRST poll (the consumed prefix, when the head was still
    * at version 2) discarded its frame and contributed only the cursor
    * value; against the fully-committed template that cursor is the
    * first append's version, pinned here as the constant the original
    * asserted it to be — the registered/oracle form keeps the live
    * interleaved walk and its full claim set. */
  private def q250Cycle(spark: SparkSession, fixture: String): DataFrame = {
    val cursor = 2L // the consumed prefix: version 2 = the first append
    val (tail, cursor2) = TableManifest.tailAppends(spark, fixture, cursor)
    val (empty, cursor3) = TableManifest.tailAppends(spark, fixture, cursor2)
    val tailExact = cursor2 == 4L && cursor3 == cursor2 &&
      empty.isEmpty &&
      TableManifest.versions(spark, fixture).last == cursor2
    partitionChecksums(tail, col("event_type"),
      Seq(col("event_id").cast("string"), col("user_id").cast("string"),
        col("event_type")))
      .select(col("part").as("event_type"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(tailExact).as("tail_exact"))
      .orderBy("event_type")
  }

  // --------------------------------------------------------------- q251
  /** q251 entry: MERGE-ON-READ delta upsert
    * ([[graft.ops.TableManifest.upsertBucketedDelta]] /
    * [[graft.ops.TableManifest.compactDeltas]]) — the r11 verdict's top
    * item: q247's copy-on-write path rewrites every TOUCHED bucket, so
    * a micro-batch with uniformly SPREAD keys (this fixture's second
    * batch: every user in a 2000-event window) degenerates to an
    * O(table) rewrite per batch; the delta path commits the batch as
    * bucket-tagged DELTA generations — zero base reads, O(batch)
    * writes — and readers resolve winners through the manifest-carried
    * merge rule. `mor` asserts the structural claim (every pre-batch
    * generation carried BY NAME, every new generation delta-tagged;
    * byte-identity of carried generations is proven in
    * TableManifestSpec), the replayed batch must skip via the
    * per-writer watermark, and `folded` asserts compactDeltas retired
    * every delta, cleared the merge rule, and left content IDENTICAL
    * (pre-fold vs post-fold checksums compared engine-side). Content:
    * the total-order winner per user across both batches, pinned by
    * DuckDB from the source. */
  def q251DeltaUpsert(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q251_table"
    q251Fixture(spark, dir, fixture)
    q251Cycle(spark, dir, fixture)
  }

  /** q251's bench fixture: the BOOTED merge-on-read table (empty-seed
    * publish + batch-0 CoW migration) built once per JVM as a template —
    * the operator under measurement is the DELTA path (spread batch,
    * replay skip, fold), not the boot writes (the q233/q239 benchForm
    * discipline). */
  private def q251Fixture(spark: SparkSession, dir: String,
                          tpl: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tpl)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    TableManifest.publish(spark, tpl, ev.limit(0).coalesce(1))
    val sink = TableManifest.upsertSinkDelta(tpl,
      keyCols = Seq("user_id"), tsCol = "ts", tieCol = "event_id",
      numBuckets = 16)
    sink(ev.filter(col("event_id") < 4000), 0L) // boot: CoW migration
  }

  /** q251's timed operator over a booted fixture: the spread DELTA
    * batch, the torn-checkpoint replay skip, the fold, and the
    * checksum readouts. */
  private def q251Cycle(spark: SparkSession, dir: String,
                        fixture: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val b1 = ev.filter(col("event_id") >= 4000 && col("event_id") < 6000)
    val sink = TableManifest.upsertSinkDelta(fixture,
      keyCols = Seq("user_id"), tsCol = "ts", tieCol = "event_id",
      numBuckets = 16)
    val prevGens = TableManifest.currentGenerations(spark, fixture)
    sink(b1, 1L) // the spread batch: DELTA commit, zero base reads
    val nowGens = TableManifest.currentGenerations(spark, fixture)
    val newGens = nowGens.filterNot(prevGens.contains)
    val mor = prevGens.forall(nowGens.contains) &&
      newGens.forall(TableManifest.isDeltaGen)
    val head = TableManifest.versions(spark, fixture).last
    sink(b1, 1L) // torn-checkpoint replay: must skip outright
    val replaySkipped = TableManifest.versions(spark, fixture).last == head
    def checksums(): Array[org.apache.spark.sql.Row] =
      partitionChecksums(TableManifest.read(spark, fixture),
        pmod(col("user_id"), lit(8L)),
        Seq(col("user_id").cast("string"), col("event_id").cast("string"),
          col("event_type")))
        .orderBy("part").collect()
    val preFold = checksums()
    TableManifest.compactDeltas(spark, fixture)
    // post-fold resolution runs ONCE: the folded comparison and the
    // returned frame share the same collected rows (the q257/q263
    // review pattern) — the merged read + checksum aggregation is the
    // verb's priciest action and ran twice back-to-back before
    val postFrame = partitionChecksums(TableManifest.read(spark, fixture),
      pmod(col("user_id"), lit(8L)),
      Seq(col("user_id").cast("string"), col("event_id").cast("string"),
        col("event_type")))
      .orderBy("part")
    val postRows = postFrame.collect()
    val folded = !TableManifest.currentGenerations(spark, fixture)
      .exists(TableManifest.isDeltaGen) &&
      postRows.sameElements(preFold)
    val exactlyOnce = replaySkipped &&
      TableManifest.lastBatchId(spark, fixture).contains(1L)
    spark.createDataFrame(java.util.Arrays.asList(postRows: _*),
        postFrame.schema)
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(exactlyOnce).as("exactly_once"),
        lit(mor).as("mor"), lit(folded).as("folded"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q252
  /** q252 entry: PARTITION-VALUE pruned read through the manifest
    * ([[graft.ops.TableManifest.appendPartitioned]] /
    * [[graft.ops.TableManifest.readPartitions]]) — Iceberg's
    * partition-spec idea over the generation log: two ingest batches
    * land one generation PER event_type with the value recorded in
    * the commit JSON, and a two-type query then opens ONLY those
    * types' generations — the pruning decision runs on ONE manifest
    * parse, before any file or footer is touched, composing with
    * q248's file-inventory tier. `part_pruned` asserts the scan's
    * generation inputs are exactly the asked values' generations plus
    * the unvalued seed (conservative by design — pruning is never a
    * correctness input); content checksums pin that pruning lost
    * nothing against DuckDB recomputing the same types from the raw
    * source. */
  def q252PartitionedRead(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q252_table"
    q252Fixture(spark, dir, fixture)
    q252Cycle(spark, fixture)
  }

  /** q252's fixture: the partition-valued table (seed publish + two
    * per-value ingest batches) — built once per JVM as a bench
    * template (the q233/q239 benchForm discipline: the bench times the
    * PARTITION-PRUNED READ, not the three writes that build its
    * subject). */
  private def q252Fixture(spark: SparkSession, dir: String,
                          tpl: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tpl)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    TableManifest.publish(spark, tpl, ev.limit(0).coalesce(1))
    TableManifest.appendPartitioned(spark, tpl,
      ev.filter(col("event_id") < 3000), "event_type", Some(0L))
    TableManifest.appendPartitioned(spark, tpl,
      ev.filter(col("event_id") >= 3000 && col("event_id") < 6000),
      "event_type", Some(1L))
  }

  /** q252's timed operator: the value-pruned read with its
    * generation-open witness and checksum readout. The expected
    * generation set is recomputed from the MANIFEST's recorded
    * partition values (valued generations matching the wanted values,
    * plus the unvalued seed, which a value read must conservatively
    * open) — the same set the registered form derives from the two
    * appends' return values. */
  private def q252Cycle(spark: SparkSession, fixture: String): DataFrame = {
    val want = Seq("click", "purchase")
    val hit = TableManifest.readPartitions(spark, fixture,
      "event_type", want)
      .filter(col("event_type").isin(want: _*))
    val snap = TableManifest.resolveHead(spark, fixture).get.snap
    val expectedGens = snap.generations.filter(g =>
      snap.parts.get(g).fold(true)(want.contains)).toSet
    val openedGens = hit.inputFiles.map { f =>
      new java.net.URI(f).getPath.split("/").takeRight(2).head
    }.filter(_.startsWith("_gen-")).toSet
    val totalGens = TableManifest.currentGenerations(spark, fixture).size
    val partPruned = openedGens == expectedGens &&
      openedGens.size < totalGens
    partitionChecksums(hit, col("event_type"),
      Seq(col("event_id").cast("string"), col("user_id").cast("string"),
        col("event_type")))
      .select(col("part").as("event_type"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(partPruned).as("part_pruned"))
      .orderBy("event_type")
  }

  // --------------------------------------------------------------- q253
  /** q253 entry: ROW-LEVEL DELETE through the manifest
    * ([[graft.ops.TableManifest.deleteRows]]) — the GDPR verb as a
    * table mutation: purging every order of the one-in-thirteen
    * customer set costs one tombstone generation (key rows only — no
    * data read, no data rewritten), readers apply the rule at resolve
    * time, and the pre-delete version stays TIME-TRAVEL-readable
    * inside the retention window (`time_travel_ok` pins both counts).
    * A later append RE-ADDS one deleted customer's orders (the
    * structural seq ordering: tombstones only kill rows committed at
    * or before them) — the oracle recomputes exactly that set from the
    * raw source. `folded` asserts the rewrite fold retired the
    * tombstone, cleared the rule, and left content IDENTICAL
    * (checksums compared engine-side across the fold). */
  def q253RowDeletes(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q253_table"
    q253Fixture(spark, dir, fixture)
    q253Cycle(spark, dir, fixture)
  }

  /** q253's bench fixture: the published source table, built once per
    * JVM as a template — the operator under measurement is the delete/
    * re-add/fold lifecycle, not the initial publish write (the
    * q233/q239 benchForm discipline). */
  private def q253Fixture(spark: SparkSession, dir: String,
                          tpl: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tpl)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    TableManifest.publish(spark, tpl, o)
  }

  /** q253's timed operator over a published fixture: tombstone delete,
    * re-add append, time-travel verification, fold, checksum readouts. */
  private def q253Cycle(spark: SparkSession, dir: String,
                        fixture: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    // ONE source aggregate serves both harness scalars (the full count
    // for the time-travel claim, the min deleted key for the re-add):
    // min over the filtered keys equals min over their distinct set,
    // so the two former actions fuse into a single scan
    val srcStats = o.agg(count(lit(1)).as("n"),
      min(when(pmod(col("o_custkey"), lit(13L)) === 0, col("o_custkey")))
        .as("m")).head
    val fullCount = srcStats.getLong(0)
    val minDel = srcStats.getLong(1)
    val v1 = TableManifest.versions(spark, fixture).last
    val delKeys = o.filter(pmod(col("o_custkey"), lit(13L)) === 0)
      .select("o_custkey").distinct()
    TableManifest.deleteRows(spark, fixture, delKeys, Seq("o_custkey"),
      batchId = Some(0L))
    TableManifest.append(spark, fixture,
      o.filter(col("o_custkey") === minDel), Some(1L))
    val timeTravelOk =
      TableManifest.readVersion(spark, fixture, v1).count() == fullCount
    def checksums(): Array[org.apache.spark.sql.Row] =
      partitionChecksums(TableManifest.read(spark, fixture),
        pmod(col("o_orderkey"), lit(8L)),
        Seq(col("o_orderkey").cast("string"),
          col("o_custkey").cast("string"),
          col("o_orderdate").cast("string")))
        .orderBy("part").collect()
    val preFold = checksums()
    TableManifest.rewrite(spark, fixture)(_.coalesce(4))
    // post-fold resolution runs ONCE: the folded comparison and the
    // returned frame share the same collected rows (the q257/q263
    // review pattern) instead of two back-to-back full reads
    val postFrame = partitionChecksums(TableManifest.read(spark, fixture),
      pmod(col("o_orderkey"), lit(8L)),
      Seq(col("o_orderkey").cast("string"),
        col("o_custkey").cast("string"),
        col("o_orderdate").cast("string")))
      .orderBy("part")
    val postRows = postFrame.collect()
    val folded = !TableManifest.currentGenerations(spark, fixture)
      .exists(TableManifest.isTombstoneGen) &&
      postRows.sameElements(preFold)
    spark.createDataFrame(java.util.Arrays.asList(postRows: _*),
        postFrame.schema)
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(timeTravelOk).as("time_travel_ok"),
        lit(folded).as("folded"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q254
  /** q254 entry: manifest-to-manifest CDC RELAY
    * ([[graft.ops.TableManifest.relayChanges]] over an append-only
    * source) — manifested tables as stream INPUTS, closing the loop
    * with the manifested sinks: each poll delivers exactly the source
    * versions committed since the cursor, one destination commit per
    * source version, and the cursor lives in the DESTINATION's
    * per-writer watermark (batch id = source version), so the relay
    * needs no external checkpoint — a restart with zero state resumes
    * exactly where the destination manifest says. Three event slices
    * land on the source across two polls (the second poll covers TWO
    * source versions); `relay_exact` asserts the
    * idempotence and cursor claims (an at-head re-poll commits
    * nothing; the destination watermark equals the source head) and
    * `resync_loud` that a maintenance rewrite on the source surfaces
    * the rewritten-history error through the relay instead of
    * silently double-delivering. Content: the destination's rows,
    * pinned by DuckDB recomputing the slices from the raw source. */
  def q254ManifestRelay(spark: SparkSession, dir: String): DataFrame = {
    val src = s"${Relational.scratch}/q254_src"
    val dst = s"${Relational.scratch}/q254_dst"
    val conf = spark.sessionState.newHadoopConf()
    Seq(src, dst).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).delete(p, true)
    }
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    def slice(lo: Long, hi: Long): DataFrame =
      ev.filter(col("event_id") >= lo && col("event_id") < hi)
    TableManifest.publish(spark, src, ev.limit(0).coalesce(1))
    TableManifest.publish(spark, dst, TableManifest.read(spark, src))
    TableManifest.append(spark, src, slice(0, 2000), Some(0L))
    TableManifest.relayChanges(spark, src, dst)
    TableManifest.append(spark, src, slice(2000, 4000), Some(1L))
    TableManifest.append(spark, src, slice(4000, 6000), Some(2L))
    val c1 = TableManifest.relayChanges(spark, src, dst)
    val vDst = TableManifest.versions(spark, dst).last
    val c2 = TableManifest.relayChanges(spark, src, dst) // at-head re-poll
    val relayExact = c1 == c2 &&
      TableManifest.versions(spark, dst).last == vDst &&
      TableManifest.lastBatchId(spark, dst, "relay")
        .contains(TableManifest.versions(spark, src).last)
    TableManifest.rewrite(spark, src)(df => df)
    val resyncLoud =
      try { TableManifest.relayChanges(spark, src, dst); false }
      catch { case e: IllegalStateException =>
        e.getMessage.toLowerCase.contains("resync") }
    partitionChecksums(TableManifest.read(spark, dst), col("event_type"),
      Seq(col("event_id").cast("string"), col("user_id").cast("string"),
        col("event_type")))
      .select(col("part").as("event_type"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(relayExact).as("relay_exact"),
        lit(resyncLoud).as("resync_loud"))
      .orderBy("event_type")
  }

  // --------------------------------------------------------------- q255
  /** q255 entry: COLUMN MAPPING
    * ([[graft.ops.TableManifest.enableColumnMapping]] /
    * `renameColumn` / `dropColumn`) — Iceberg/Delta column ids over
    * the manifest: renames and drops are METADATA-ONLY commits
    * (`metadata_only` asserts every pre-evolution generation survived
    * BY NAME), reads select BY ID so the renamed `order_date` serves
    * the old files' `o_orderdate` values with zero data rewritten,
    * and `o_custkey` — dropped, then RE-ADDED by a later append —
    * binds a FRESH id: the evens (old generation) read NULL under the
    * re-added name while the odds (new generation) carry values. The
    * oracle recomputes exactly that split from the raw source; a
    * resurrection of the dropped values fails the checksums. */
  def q255ColumnMapping(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q255_table"
    q255Fixture(spark, dir, fixture)
    q255Cycle(spark, dir, fixture)
  }

  /** q255's fixture: the pre-mapping published table (the even
    * orderkeys) — built once per JVM as a bench template; the mapping
    * lifecycle mutates, so each timed pass runs on a filesystem copy
    * (the q233/q239 benchFixture discipline). */
  private def q255Fixture(spark: SparkSession, dir: String,
                          tpl: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tpl)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    TableManifest.publish(spark, tpl,
      o.filter(pmod(col("o_orderkey"), lit(2L)) === 0))
  }

  /** q255's timed operator: the mapping enable, the metadata-only
    * rename and drop, the post-mapping append, and the mapped read
    * with its checksum readout. */
  private def q255Cycle(spark: SparkSession, dir: String,
                        fixture: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val gens0 = TableManifest.currentGenerations(spark, fixture)
    TableManifest.enableColumnMapping(spark, fixture)
    TableManifest.renameColumn(spark, fixture, "o_orderdate", "order_date")
    TableManifest.dropColumn(spark, fixture, "o_custkey")
    TableManifest.append(spark, fixture,
      o.filter(pmod(col("o_orderkey"), lit(2L)) === 1)
        .select(col("o_orderkey"), col("o_orderdate").as("order_date"),
          col("o_custkey")),
      Some(0L))
    val metadataOnly = gens0.forall(
      TableManifest.currentGenerations(spark, fixture).contains)
    partitionChecksums(TableManifest.read(spark, fixture),
      pmod(col("o_orderkey"), lit(8L)),
      Seq(col("o_orderkey").cast("string"),
        coalesce(col("o_custkey").cast("string"), lit("null")),
        col("order_date").cast("string")))
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(metadataOnly).as("metadata_only"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q256
  /** q256 entry: ONE-PASS MAINTENANCE over a manifested CDC table
    * ([[graft.ops.TableManifest.maintainManifested]]) — the nightly
    * verb composing the round's storage tier: a merge-on-read CDC
    * table (boot + spread delta batch) with a GDPR purge (one-in-31
    * users tombstoned) is folded, compacted to the byte target, and
    * log-bounded in one idempotent call. `folded_clean` asserts no
    * delta or tombstone generation survived, the log shrank to the
    * window, and content was IDENTICAL across the pass (checksums
    * compared engine-side); the oracle recomputes the surviving
    * winner-per-user set from the raw source — a resurrection of a
    * purged user or a lost delta fails counts AND checksums. */
  def q256Maintain(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q256_table"
    q256Fixture(spark, dir, fixture)
    q256Cycle(spark, fixture)
  }

  /** q256's bench fixture: the merge-on-read CDC table carrying deltas
    * AND a GDPR tombstone, built once per JVM as a template — the
    * operator under measurement is the one-pass MAINTENANCE call, not
    * the CDC ingest that builds the table (the q233/q239 benchForm
    * discipline). */
  private def q256Fixture(spark: SparkSession, dir: String,
                          tpl: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tpl)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    TableManifest.publish(spark, tpl, ev.limit(0).coalesce(1))
    val sink = TableManifest.upsertSinkDelta(tpl,
      keyCols = Seq("user_id"), tsCol = "ts", tieCol = "event_id",
      numBuckets = 16)
    sink(ev.filter(col("event_id") < 4000), 0L)
    sink(ev.filter(col("event_id") >= 4000 && col("event_id") < 6000), 1L)
    TableManifest.deleteRows(spark, tpl,
      ev.filter(col("event_id") < 6000)
        .filter(pmod(col("user_id"), lit(31L)) === 0)
        .select("user_id").distinct(),
      Seq("user_id"), batchId = Some(2L))
  }

  /** q256's timed operator over the CDC fixture: pre-maintenance
    * checksums, the one-pass maintain call, the clean-fold assertions,
    * and the content readout. */
  private def q256Cycle(spark: SparkSession, fixture: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(fixture)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def checksums(): Array[org.apache.spark.sql.Row] =
      partitionChecksums(TableManifest.read(spark, fixture),
        pmod(col("user_id"), lit(8L)),
        Seq(col("user_id").cast("string"), col("event_id").cast("string"),
          col("event_type")))
        .orderBy("part").collect()
    val before = checksums()
    TableManifest.maintainManifested(spark, fixture,
      targetBytes = 64L << 20, keepVersions = 8)
    val gens = TableManifest.currentGenerations(spark, fixture)
    val manifests = fs.listStatus(new org.apache.hadoop.fs.Path(fixture))
      .count(_.getPath.getName.startsWith("_graft_manifest-"))
    // post-maintenance resolution runs ONCE: the identity comparison
    // and the returned frame share the same collected rows (the
    // q257/q263 review pattern) instead of two back-to-back full reads
    val postFrame = partitionChecksums(TableManifest.read(spark, fixture),
      pmod(col("user_id"), lit(8L)),
      Seq(col("user_id").cast("string"), col("event_id").cast("string"),
        col("event_type")))
      .orderBy("part")
    val postRows = postFrame.collect()
    val foldedClean = !gens.exists(TableManifest.isDeltaGen) &&
      !gens.exists(TableManifest.isTombstoneGen) &&
      manifests <= 10 && postRows.sameElements(before)
    spark.createDataFrame(java.util.Arrays.asList(postRows: _*),
        postFrame.schema)
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(foldedClean).as("folded_clean"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q257
  /** q257 entry: the OP-CODED CDC changefeed relay
    * ([[graft.ops.TableManifest.relayChanges]] /
    * [[graft.ops.TableManifest.tailChangeBatches]]) — the r12 verdict's
    * top item: the appends-only tail throws on the engine's own
    * newest table shapes; the changefeed instead CLASSIFIES each source
    * version (plain commit → insert, delta or merge-live commit →
    * upsert post-image, tombstone commit → delete) and mirrors it with
    * the matching destination verb, exactly-once via per-version batch
    * ids in the destination watermark. The source is driven through
    * all three shapes — append, history-preserving delta upsert
    * ([[graft.ops.TableManifest.upsertDelta]]), row delete, then a
    * post-delete upsert window that re-adds the purged users — across
    * two polls. `relay_exact` carries the cursor claims (an at-head
    * re-poll commits nothing; the destination watermark equals the
    * source head) and `resync_loud` that a maintenance rewrite on the
    * source still surfaces the rewritten-history error, never silence.
    * Content: the destination's winner-per-user state, pinned by
    * DuckDB recomputing the same delete-then-re-add state from raw. */
  def q257ChangefeedRelay(spark: SparkSession, dir: String): DataFrame = {
    val src = s"${Relational.scratch}/q257_src"
    val dst = s"${Relational.scratch}/q257_dst"
    val conf = spark.sessionState.newHadoopConf()
    Seq(src, dst).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).delete(p, true)
    }
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    def slice(lo: Long, hi: Long): DataFrame =
      ev.filter(col("event_id") >= lo && col("event_id") < hi)
    TableManifest.publish(spark, src, ev.limit(0).coalesce(1))
    TableManifest.publish(spark, dst, ev.limit(0).coalesce(1))
    // poll window 1: a plain append, then a merge-on-read delta upsert
    TableManifest.append(spark, src, slice(0, 3000), Some(0L))
    TableManifest.upsertDelta(spark, src, slice(3000, 5000),
      Seq("user_id"), "ts", "event_id", numBuckets = 16,
      batchId = Some(1L))
    val h1 = TableManifest.relayChanges(spark, src, dst)
    // poll window 2: a GDPR delete, then an upsert re-adding the users
    TableManifest.deleteRows(spark, src,
      slice(0, 5000).filter(pmod(col("user_id"), lit(7L)) === 0)
        .select("user_id").distinct(),
      Seq("user_id"), batchId = Some(2L))
    TableManifest.upsertDelta(spark, src, slice(5000, 6000),
      Seq("user_id"), "ts", "event_id", numBuckets = 16,
      batchId = Some(3L))
    val h2 = TableManifest.relayChanges(spark, src, dst)
    val dstHead = TableManifest.versions(spark, dst).last
    val h3 = TableManifest.relayChanges(spark, src, dst)
    val relayExact = h1 < h2 && h3 == h2 &&
      TableManifest.versions(spark, dst).last == dstHead &&
      TableManifest.lastBatchId(spark, dst, "relay").contains(h2) &&
      h2 == TableManifest.versions(spark, src).last
    // destination and source must resolve the SAME state — the dst
    // winner resolution runs ONCE (a review pass found the collected
    // comparison pass and the returned frame re-running the identical
    // aggregation back-to-back; the result builds from the collected
    // rows instead)
    val srcSums = partitionChecksums(TableManifest.read(spark, src),
      pmod(col("user_id"), lit(8L)),
      Seq(col("user_id").cast("string"), col("event_id").cast("string"),
        col("event_type"))).orderBy("part").collect()
    val dstFrame = partitionChecksums(TableManifest.read(spark, dst),
      pmod(col("user_id"), lit(8L)),
      Seq(col("user_id").cast("string"), col("event_id").cast("string"),
        col("event_type"))).orderBy("part")
    val dstRows = dstFrame.collect()
    val mirrored = dstRows.sameElements(srcSums)
    val resyncLoud =
      try {
        TableManifest.rewrite(spark, src)(df => df.coalesce(2))
        TableManifest.relayChanges(spark, src, dst)
        false
      } catch { case e: IllegalStateException =>
        e.getMessage.contains("REWRITTEN")
      }
    spark.createDataFrame(java.util.Arrays.asList(dstRows: _*),
        dstFrame.schema)
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(relayExact && mirrored).as("relay_exact"),
        lit(resyncLoud).as("resync_loud"))
      .orderBy("part")
  }

  /** q257's timed operator for the bench form: a fresh destination
    * catching up on the fully-mutated source (all four op-coded
    * versions in ONE relay poll), the at-head re-poll, and the
    * src/dst mirror checksums — the relay operator itself, not the six
    * Spark writes that build the source (the q263 benchForm
    * discipline; the source template is q263's, the same four-version
    * shape). The registered/oracle form keeps the two-window delivery
    * and the rewrite-resync claim. */
  private def q257Cycle(spark: SparkSession, src: String): DataFrame = {
    val dst = s"${Relational.scratch}/q257_bench_dst"
    val p = new org.apache.hadoop.fs.Path(dst)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    TableManifest.publish(spark, dst,
      TableManifest.read(spark, src).limit(0).coalesce(1))
    val h2 = TableManifest.relayChanges(spark, src, dst) // catch-up
    val dstHead = TableManifest.versions(spark, dst).last
    val h3 = TableManifest.relayChanges(spark, src, dst) // at-head re-poll
    val relayExact = h3 == h2 &&
      TableManifest.versions(spark, dst).last == dstHead &&
      TableManifest.lastBatchId(spark, dst, "relay").contains(h2) &&
      h2 == TableManifest.versions(spark, src).last
    val srcSums = partitionChecksums(TableManifest.read(spark, src),
      pmod(col("user_id"), lit(8L)),
      Seq(col("user_id").cast("string"), col("event_id").cast("string"),
        col("event_type"))).orderBy("part").collect()
    val dstFrame = partitionChecksums(TableManifest.read(spark, dst),
      pmod(col("user_id"), lit(8L)),
      Seq(col("user_id").cast("string"), col("event_id").cast("string"),
        col("event_type"))).orderBy("part")
    val dstRows = dstFrame.collect()
    val mirrored = dstRows.sameElements(srcSums)
    spark.createDataFrame(java.util.Arrays.asList(dstRows: _*),
        dstFrame.schema)
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(relayExact && mirrored).as("relay_exact"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q258
  /** q258 entry: METADATA-ONLY PARTITION DROP
    * ([[graft.ops.TableManifest.dropPartitions]]) — the retention/GDPR
    * verb for value-partitioned tables: dropping every 'click'
    * generation is ONE manifest commit (no tombstone scan, no data
    * read or write — `meta_only` asserts every surviving generation
    * pre-existed and none was added), the pre-drop version stays
    * time-travel-readable inside the retention window
    * (`time_travel_ok` pins its full count), and an incremental
    * consumer sees the drop as the LOUD rewritten-history signal, not
    * silence (`drop_loud`). Content: the survivors, recomputed by
    * DuckDB from the raw source. */
  def q258PartitionDrop(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q258_table"
    q258Fixture(spark, dir, fixture)
    q258Cycle(spark, fixture)
  }

  /** q258's fixture: the partition-valued table (q252's shape) — built
    * once per JVM as a bench template; the drop mutates, so each timed
    * pass runs on a filesystem copy. */
  private def q258Fixture(spark: SparkSession, dir: String,
                          tpl: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tpl)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    TableManifest.publish(spark, tpl, ev.limit(0).coalesce(1))
    TableManifest.appendPartitioned(spark, tpl,
      ev.filter(col("event_id") < 3000), "event_type", Some(0L))
    TableManifest.appendPartitioned(spark, tpl,
      ev.filter(col("event_id") >= 3000 && col("event_id") < 6000),
      "event_type", Some(1L))
  }

  /** q258's timed operator: the metadata-only drop with its
    * generation/time-travel/loud-tail witnesses and the survivor
    * checksum readout. */
  private def q258Cycle(spark: SparkSession, fixture: String): DataFrame = {
    val preVersion = TableManifest.versions(spark, fixture).last
    val preGens = TableManifest.currentGenerations(spark, fixture).toSet
    val preCount = TableManifest.read(spark, fixture).count()
    val dropped = TableManifest.dropPartitions(spark, fixture,
      "event_type", Seq("click"), Some(2L)).get.toSet
    val nowGens = TableManifest.currentGenerations(spark, fixture).toSet
    val metaOnly = dropped.nonEmpty && nowGens == preGens -- dropped
    val timeTravelOk =
      TableManifest.readVersion(spark, fixture, preVersion).count() ==
        preCount
    val dropLoud =
      try { TableManifest.tailAppends(spark, fixture, preVersion); false }
      catch { case e: IllegalStateException =>
        e.getMessage.contains("REWRITTEN")
      }
    partitionChecksums(TableManifest.read(spark, fixture),
      col("event_type"),
      Seq(col("event_id").cast("string"), col("user_id").cast("string"),
        col("event_type")))
      .select(col("part").as("event_type"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(metaOnly).as("meta_only"),
        lit(timeTravelOk).as("time_travel_ok"),
        lit(dropLoud).as("drop_loud"))
      .orderBy("event_type")
  }

  // --------------------------------------------------------------- q259
  /** q259 entry: SQL DML over manifested tables
    * ([[graft.sources.TableCatalog.dmlManifested]]) — the r12 verdict's
    * "SELECT-through-pointer only" gap closed: the whole lifecycle runs
    * through handed-down SQL strings. INSERT INTO … SELECT lands the
    * even orderkeys as one appended generation; MERGE INTO … VERSION BY
    * upserts the multiples of three (the shared multiples of six
    * resolve to ONE row through the winner rule, not a duplicate);
    * DELETE FROM … WHERE … IN (subquery) tombstones the one-in-13
    * customers. `dml_ok` carries the per-statement affected-row counts;
    * content is the final SELECT through [[graft.sources.TableCatalog.sqlManifested]],
    * pinned by DuckDB recomputing the surviving set from raw. */
  def q259SqlDml(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q259_table"
    val fs = new org.apache.hadoop.fs.Path(fixture)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(fixture), true)
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    TableManifest.publish(spark, fixture, o.limit(0).coalesce(1))
    TableCatalog.registerManifested(spark, "q259_orders", fixture)
    o.createOrReplaceTempView("q259_src")
    val ins = TableCatalog.dmlManifested(spark,
      "INSERT INTO q259_orders SELECT o_orderkey, o_custkey, " +
        "o_orderdate FROM q259_src WHERE o_orderkey % 2 = 0")
    val mrg = TableCatalog.dmlManifested(spark,
      "MERGE INTO q259_orders USING (SELECT o_orderkey, o_custkey, " +
        "o_orderdate FROM q259_src WHERE o_orderkey % 3 = 0) " +
        "ON o_orderkey VERSION BY o_orderdate, o_custkey BUCKETS 8")
    val del = TableCatalog.dmlManifested(spark,
      "DELETE FROM q259_orders WHERE o_custkey IN " +
        "(SELECT o_custkey FROM q259_src WHERE o_custkey % 13 = 0)")
    // the three per-statement expectations fuse into ONE source
    // aggregate (they were three separate scans of the same frame):
    // count-distinct over the conditional key equals the distinct count
    // of the filtered keys, nulls excluded by count semantics
    val expect = o.agg(
      count(when(col("o_orderkey") % 2 === 0, lit(1))).as("i"),
      count(when(col("o_orderkey") % 3 === 0, lit(1))).as("m"),
      countDistinct(when(col("o_custkey") % 13 === 0, col("o_custkey")))
        .as("d")).head
    val expectIns = expect.getLong(0)
    val expectMrg = expect.getLong(1)
    val expectDel = expect.getLong(2)
    val dmlOk =
      ins.head.getString(0) == "insert" && ins.head.getLong(2) == expectIns &&
      mrg.head.getString(0) == "merge" && mrg.head.getLong(2) == expectMrg &&
      del.head.getString(0) == "delete" && del.head.getLong(2) == expectDel
    partitionChecksums(
      TableCatalog.sqlManifested(spark,
        "SELECT o_orderkey, o_custkey, o_orderdate FROM q259_orders"),
      pmod(col("o_orderkey"), lit(8L)),
      Seq(col("o_orderkey").cast("string"),
        col("o_custkey").cast("string"),
        col("o_orderdate").cast("string")))
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(dmlOk).as("dml_ok"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q260
  /** q260 entry: TYPE WIDENING under column mapping
    * ([[graft.ops.TableManifest]]'s mapped read) — schema evolution's
    * missing half after q255's rename/drop: the evens publish with
    * NARROW physical types (int customer key, float price), the odds
    * append post-mapping with the natural wide types (long, double),
    * and the read resolves each column to the WIDEST value-exact type
    * with old generations cast losslessly — int→long and float→double
    * along the documented lattice, never a lossy long→double coercion
    * (that pair fails loudly; spec'd). `widened` asserts the resolved
    * read schema. Content: every order with the evens' price routed
    * through the same float narrowing DuckDB applies (CAST AS REAL), so
    * the checksums pin bit-exact value preservation across the widening. */
  def q260TypeWidening(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q260_table"
    q260Fixture(spark, dir, fixture)
    q260Cycle(spark, dir, fixture)
  }

  /** q260's fixture: the narrow-typed published table (int customer
    * key, float price) — built once per JVM as a bench template; the
    * widening lifecycle mutates (mapping enable + wide append), so
    * each timed pass runs on a filesystem copy. */
  private def q260Fixture(spark: SparkSession, dir: String,
                          tpl: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tpl)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    TableManifest.publish(spark, tpl,
      o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_custkey", col("o_custkey").cast("int"))
        .withColumn("o_totalprice", col("o_totalprice").cast("float")))
  }

  /** q260's timed operator: the mapping enable, the wide append, and
    * the widened read with its schema witness and checksum readout. */
  private def q260Cycle(spark: SparkSession, dir: String,
                        fixture: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    TableManifest.enableColumnMapping(spark, fixture)
    TableManifest.append(spark, fixture,
      o.filter(col("o_orderkey") % 2 =!= 0))
    val out = TableManifest.read(spark, fixture)
    val widened =
      out.schema("o_custkey").dataType ==
        org.apache.spark.sql.types.LongType &&
      out.schema("o_totalprice").dataType ==
        org.apache.spark.sql.types.DoubleType
    partitionChecksums(out, pmod(col("o_orderkey"), lit(8L)),
      Seq(col("o_orderkey").cast("string"),
        col("o_custkey").cast("string"),
        round(col("o_totalprice") * 100).cast("long").cast("string")))
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(widened).as("widened"))
      .orderBy("part")
  }

  // --------------------------------------------------------------- q261
  /** q261 entry: TRANSFORM (hidden) partitioning
    * ([[graft.ops.TableManifest.appendPartitioned]] with a `day(ts)`
    * spec + [[graft.ops.TableManifest.readPartitionRange]]) — Iceberg's
    * hidden-partitioning idea over the generation log: two ingest
    * batches land one generation PER DAY with the ISO day recorded in
    * the commit JSON (the transform never materializes in the data),
    * and a raw two-day time-range query then opens ONLY those days'
    * generations — the pruning decision is one manifest parse, lexical
    * on the ISO rendering. `part_pruned` asserts the scan's generation
    * inputs are exactly the in-range days' generations plus the
    * unvalued seed; content checksums pin that pruning lost nothing
    * against DuckDB recomputing the same days from the raw source. */
  def q261TransformPartition(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q261_table"
    q261Fixture(spark, dir, fixture)
    q261Cycle(spark, fixture)
  }

  /** q261's fixture: the day(ts)-partitioned table — built once per
    * JVM as a bench template (the read-verb benchForm discipline). */
  private def q261Fixture(spark: SparkSession, dir: String,
                          tpl: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tpl)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    TableManifest.publish(spark, tpl, ev.limit(0).coalesce(1))
    TableManifest.appendPartitioned(spark, tpl,
      ev.filter(col("event_id") < 3000), "day(ts)", Some(0L))
    TableManifest.appendPartitioned(spark, tpl,
      ev.filter(col("event_id") >= 3000 && col("event_id") < 6000),
      "day(ts)", Some(1L))
  }

  /** q261's timed operator: the raw time-range read pruned off the
    * manifest-recorded day values, with the generation-open witness
    * (expected set recomputed from the manifest: valued generations in
    * range plus the unvalued seed) and the checksum readout. */
  private def q261Cycle(spark: SparkSession, fixture: String): DataFrame = {
    val (lo, hi) = ("2024-01-01", "2024-01-02")
    val hit = TableManifest.readPartitionRange(spark, fixture,
      "day(ts)", lo, hi)
      .filter(date_format(col("ts"), "yyyy-MM-dd").between(lo, hi))
    val snap = TableManifest.resolveHead(spark, fixture).get.snap
    val expectGens = snap.generations.filter(g =>
      snap.parts.get(g).fold(true)(v => v >= lo && v <= hi)).toSet
    val openedGens = hit.inputFiles.map { f =>
      new java.net.URI(f).getPath.split("/").takeRight(2).head
    }.filter(_.startsWith("_gen-")).toSet
    val totalGens = TableManifest.currentGenerations(spark, fixture).size
    val partPruned = openedGens == expectGens &&
      openedGens.size < totalGens
    partitionChecksums(hit, date_format(col("ts"), "yyyy-MM-dd"),
      Seq(col("event_id").cast("string"), col("user_id").cast("string"),
        col("event_type")))
      .select(col("part").as("day"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(partPruned).as("part_pruned"))
      .orderBy("day")
  }

  // --------------------------------------------------------------- q262
  /** q262 entry: MULTI-COLUMN (composite) hidden partitioning
    * ([[graft.ops.TableManifest.appendPartitioned]] with an
    * `event_type,day(ts)` field list + exact-value
    * [[graft.ops.TableManifest.readPartitions]]) — Iceberg-style
    * multi-field specs over the generation log: two ingest batches land
    * one generation PER (type, day) PAIR with the URL-encoded composite
    * recorded in the commit JSON, and an exact three-pair query opens
    * ONLY those pairs' generations — the decision is one manifest
    * parse, no listing, no footer. `pair_pruned` asserts the scan's
    * generation inputs are exactly the asked pairs' generations (from
    * BOTH batches) plus the unvalued seed; content checksums pin that
    * pruning lost nothing against DuckDB recomputing the same pairs
    * from the raw source. */
  def q262MulticolPartition(spark: SparkSession, dir: String): DataFrame = {
    val fixture = s"${Relational.scratch}/q262_table"
    q262Fixture(spark, dir, fixture)
    q262Cycle(spark, fixture)
  }

  /** q262's fixture: the composite-partitioned table — built once per
    * JVM as a bench template (the read-verb benchForm discipline). */
  private def q262Fixture(spark: SparkSession, dir: String,
                          tpl: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tpl)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .filter(col("event_id") < 6000 &&
        col("ts").cast("date") <= lit("2024-01-04").cast("date"))
    TableManifest.publish(spark, tpl, ev.limit(0).coalesce(1))
    val spec = "event_type,day(ts)"
    TableManifest.appendPartitioned(spark, tpl,
      ev.filter(col("event_id") < 3000), spec, Some(0L))
    TableManifest.appendPartitioned(spark, tpl,
      ev.filter(col("event_id") >= 3000), spec, Some(1L))
  }

  /** q262's timed operator: the exact-pair composite read, with the
    * generation-open witness (expected set recomputed from the
    * manifest: valued generations matching the wanted pairs plus the
    * unvalued seed) and the checksum readout. */
  private def q262Cycle(spark: SparkSession, fixture: String): DataFrame = {
    val spec = "event_type,day(ts)"
    val pairs = Seq("click/2024-01-01", "view/2024-01-02",
      "signup/2024-01-04")
    val hit = TableManifest.readPartitions(spark, fixture, spec, pairs)
      // the partition columns are in the data — the row predicate
      // applies on top, as for any pruned read
      .filter(concat_ws("|", col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd")).isin(
        pairs.map(_.replace('/', '|')): _*))
    val snap = TableManifest.resolveHead(spark, fixture).get.snap
    val expectGens = snap.generations.filter(g =>
      snap.parts.get(g).fold(true)(pairs.contains)).toSet
    val openedGens = hit.inputFiles.map { f =>
      new java.net.URI(f).getPath.split("/").takeRight(2).head
    }.filter(_.startsWith("_gen-")).toSet
    val totalGens = TableManifest.currentGenerations(spark, fixture).size
    val pairPruned = openedGens == expectGens &&
      openedGens.size < totalGens
    partitionChecksums(hit,
      concat_ws("|", col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd")),
      Seq(col("event_id").cast("string"), col("user_id").cast("string"),
        col("event_type")))
      .select(col("part").as("pair"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(pairPruned).as("pair_pruned"))
      .orderBy("pair")
  }

  // --------------------------------------------------------------- q263
  /** q263 entry: the STREAMING changefeed applied end-to-end —
    * `readStream.format("graft-manifest").option("changefeed", "true")`
    * over a source driven through append + merge-on-read delta upsert +
    * GDPR delete + post-delete re-add, with `foreachBatch` applying
    * each op-coded version to a destination manifest table under the
    * SOURCE VERSION as its batch id: exactly-once end to end with no
    * state beyond the engine checkpoint and the destination's
    * per-writer watermark, across TWO engine restarts and one idle
    * restart (the stream delivers each version once; a replayed batch
    * replay-skips at the destination). `stream_exact` pins the
    * engine-side claims: destination content checksums equal the
    * source's, and the idle restart commits nothing. Content: the
    * destination's winner-per-user state, pinned by DuckDB recomputing
    * the same delete-then-re-add state from raw (q257's relay oracle,
    * reached through the STREAM instead of the batch poll). */
  def q263ChangefeedStream(spark: SparkSession, dir: String): DataFrame = {
    val src = s"${Relational.scratch}/q263_src"
    val dst = s"${Relational.scratch}/q263_dst"
    val ckpt = s"${Relational.scratch}/q263_ckpt"
    val conf = spark.sessionState.newHadoopConf()
    Seq(src, dst, ckpt).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).delete(p, true)
    }
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    def slice(lo: Long, hi: Long): DataFrame =
      ev.filter(col("event_id") >= lo && col("event_id") < hi)
    TableManifest.publish(spark, src, ev.limit(0).coalesce(1))
    TableManifest.publish(spark, dst, ev.limit(0).coalesce(1))
    def runStream(): Unit = {
      val q = spark.readStream.format("graft-manifest")
        .option("changefeed", "true").load(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        // the engine's own sink verb: each op-coded version applied
        // with the matching manifest verb under the source version as
        // batch id — relayChanges' exactly-once, through the STREAM
        .foreachBatch(TableManifest.changefeedSink(dst,
          Seq("user_id"), "ts", "event_id", numBuckets = 16))
        .start()
      try { q.processAllAvailable(); q.stop(); q.awaitTermination() }
      catch { case e: Throwable => q.stop(); throw e }
    }
    // window 1: a plain append, then a merge-on-read delta upsert
    TableManifest.append(spark, src, slice(0, 3000), Some(0L))
    TableManifest.upsertDelta(spark, src, slice(3000, 5000),
      Seq("user_id"), "ts", "event_id", numBuckets = 16,
      batchId = Some(1L))
    runStream()
    // window 2 (engine restart): a GDPR delete, then a re-adding upsert
    TableManifest.deleteRows(spark, src,
      slice(0, 5000).filter(pmod(col("user_id"), lit(7L)) === 0)
        .select("user_id").distinct(),
      Seq("user_id"), batchId = Some(2L))
    TableManifest.upsertDelta(spark, src, slice(5000, 6000),
      Seq("user_id"), "ts", "event_id", numBuckets = 16,
      batchId = Some(3L))
    runStream()
    // idle restart: the checkpointed offset is at the head — nothing
    // delivered, nothing committed
    val dstHead = TableManifest.versions(spark, dst).last
    runStream()
    val idleExact = TableManifest.versions(spark, dst).last == dstHead
    // dst winner resolution runs ONCE: the comparison collects, and
    // the returned frame builds from the collected rows (q263 is the
    // surface's heaviest row — a review pass found the duplicate pass)
    val srcSums = partitionChecksums(TableManifest.read(spark, src),
      pmod(col("user_id"), lit(8L)),
      Seq(col("user_id").cast("string"), col("event_id").cast("string"),
        col("event_type"))).orderBy("part").collect()
    val dstFrame = partitionChecksums(TableManifest.read(spark, dst),
      pmod(col("user_id"), lit(8L)),
      Seq(col("user_id").cast("string"), col("event_id").cast("string"),
        col("event_type"))).orderBy("part")
    val dstRows = dstFrame.collect()
    val mirrored = dstRows.sameElements(srcSums)
    spark.createDataFrame(java.util.Arrays.asList(dstRows: _*),
        dstFrame.schema)
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(idleExact && mirrored).as("stream_exact"))
      .orderBy("part")
  }

  /** q263's bench fixture: the fully-mutated SOURCE table (append +
    * delta upsert + delete + re-add across four versions) built once
    * per JVM as a template — the bench form then times the streaming
    * OPERATOR (a catch-up lifecycle applying all four op-coded
    * versions + an idle restart), not the six Spark writes that build
    * the source (the q233/q239 benchForm discipline). */
  private def q263Fixture(spark: SparkSession, dir: String,
                          tpl: String): Unit = {
    // the template DIRECTORY outlives the per-JVM template map — a
    // fresh JVM's rebuild must start clean, not replay its commits
    // against the previous JVM's table (watermark regression)
    val p = new org.apache.hadoop.fs.Path(tpl)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    def slice(lo: Long, hi: Long): DataFrame =
      ev.filter(col("event_id") >= lo && col("event_id") < hi)
    TableManifest.publish(spark, tpl, ev.limit(0).coalesce(1))
    TableManifest.append(spark, tpl, slice(0, 3000), Some(0L))
    TableManifest.upsertDelta(spark, tpl, slice(3000, 5000),
      Seq("user_id"), "ts", "event_id", numBuckets = 16,
      batchId = Some(1L))
    TableManifest.deleteRows(spark, tpl,
      slice(0, 5000).filter(pmod(col("user_id"), lit(7L)) === 0)
        .select("user_id").distinct(),
      Seq("user_id"), batchId = Some(2L))
    TableManifest.upsertDelta(spark, tpl, slice(5000, 6000),
      Seq("user_id"), "ts", "event_id", numBuckets = 16,
      batchId = Some(3L))
  }

  /** The timed operator for q263's bench form: fresh destination +
    * checkpoint, ONE catch-up stream lifecycle consuming the source's
    * four op-coded versions through [[graft.ops.TableManifest.changefeedSink]],
    * one idle restart, then the destination checksum readout. */
  private def q263Cycle(spark: SparkSession, src: String): DataFrame = {
    val dst = s"${Relational.scratch}/q263_bench_dst"
    val ckpt = s"${Relational.scratch}/q263_bench_ckpt"
    val conf = spark.sessionState.newHadoopConf()
    Seq(dst, ckpt).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).delete(p, true)
    }
    TableManifest.publish(spark, dst,
      TableManifest.read(spark, src).limit(0).coalesce(1))
    def runStream(): Unit = {
      val q = spark.readStream.format("graft-manifest")
        .option("changefeed", "true").load(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(TableManifest.changefeedSink(dst,
          Seq("user_id"), "ts", "event_id", numBuckets = 16))
        .start()
      try { q.processAllAvailable(); q.stop(); q.awaitTermination() }
      catch { case e: Throwable => q.stop(); throw e }
    }
    runStream() // catch-up: all four versions in one lifecycle
    val dstHead = TableManifest.versions(spark, dst).last
    runStream() // idle restart
    val idleExact = TableManifest.versions(spark, dst).last == dstHead
    partitionChecksums(TableManifest.read(spark, dst),
      pmod(col("user_id"), lit(8L)),
      Seq(col("user_id").cast("string"), col("event_id").cast("string"),
        col("event_type")))
      .select(col("part"), col("n_rows"),
        col("checksum").cast("string").as("checksum"),
        lit(idleExact).as("stream_exact"))
      .orderBy("part")
  }

  // ------------------------------------------------------- bench forms
  /** Once-per-JVM fixture templates for the maintenance-cycle bench
    * forms: the registered q233/q238/q239/q240 forms WRITE their fixture
    * then run the cycle, so the driver bench was timing the fixture
    * write too (harness, not operator). The bench form builds the
    * template on first use, then serves each timed pass a fresh
    * filesystem COPY (milliseconds, vs the Spark write's seconds) — the
    * q40/q142 benchForm discipline applied to the layout tier: the
    * oracle run keeps the full registered form, the bench times
    * audit + rewrite + verify. */
  private val benchTemplates =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def benchFixture(spark: SparkSession, name: String, dir: String)
                          (build: String => Unit): String = {
    // template keyed by (query, data dir): a JVM benching two scales
    // must never serve one scale's fixture to the other
    val tpl = s"${Relational.scratch}/bench_tpl_${name}_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    benchTemplates.computeIfAbsent(tpl, { _ => build(tpl); tpl })
    val run = s"${Relational.scratch}/bench_run_$name"
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(run).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(run), true)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(tpl), fs,
      new org.apache.hadoop.fs.Path(run), false, true, conf)
    run
  }

  /** [[benchFixture]] without the per-pass copy, for READ-ONLY cycles
    * (time travel, pruned reads): the cycle never mutates the table,
    * so every timed pass may read the template directly. */
  private def benchTemplate(spark: SparkSession, name: String, dir: String)
                           (build: String => Unit): String = {
    val tpl = s"${Relational.scratch}/bench_tpl_${name}_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    benchTemplates.computeIfAbsent(tpl, { _ => build(tpl); tpl })
    tpl
  }

  /** Bench-only forms (see [[graft.SparkEntry.benchForm]]): the
    * maintenance cycle over a template-copied fixture. */
  val benchForm: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q233_compaction_execute" -> ((s: SparkSession, dir: String) =>
      q233Cycle(s, benchFixture(s, "q233", dir)(q233Fixture(s, dir, _)))),
    "q238_recluster_execute" -> ((s: SparkSession, dir: String) =>
      q238Cycle(s, benchFixture(s, "q238", dir)(q238Fixture(s, dir, _)))),
    "q239_footer_recluster_worst" -> ((s: SparkSession, dir: String) =>
      q239Cycle(s, benchFixture(s, "q239", dir)(q239Fixture(s, dir, _)))),
    "q240_optimize_table" -> ((s: SparkSession, dir: String) =>
      q240Cycle(s, benchFixture(s, "q240", dir)(q240Fixture(s, dir, _)))),
    "q263_changefeed_stream" -> ((s: SparkSession, dir: String) =>
      q263Cycle(s, benchFixture(s, "q263", dir)(q263Fixture(s, dir, _)))),
    // the storage-workflow verbs join the same discipline (opt round 1):
    // fixture build excluded from the timed window, operator cycle timed
    "q251_delta_upsert" -> ((s: SparkSession, dir: String) =>
      q251Cycle(s, dir, benchFixture(s, "q251", dir)(q251Fixture(s, dir, _)))),
    "q253_row_deletes" -> ((s: SparkSession, dir: String) =>
      q253Cycle(s, dir, benchFixture(s, "q253", dir)(q253Fixture(s, dir, _)))),
    "q256_maintain" -> ((s: SparkSession, dir: String) =>
      q256Cycle(s, benchFixture(s, "q256", dir)(q256Fixture(s, dir, _)))),
    // q257 relays the SAME four-version source shape q263 streams over —
    // the template is shared (one build per JVM serves both rows)
    "q257_changefeed_relay" -> ((s: SparkSession, dir: String) =>
      q257Cycle(s, benchFixture(s, "q263", dir)(q263Fixture(s, dir, _)))),
    // the read-verb rows (opt round 1): time travel, stats-pruned and
    // partition-pruned reads time the READ, not the table build
    "q243_time_travel" -> ((s: SparkSession, dir: String) =>
      q243Cycle(s, benchTemplate(s, "q243", dir)(q243Fixture(s, dir, _)))),
    "q248_stats_pruned_read" -> ((s: SparkSession, dir: String) =>
      q248Cycle(s, benchTemplate(s, "q248", dir)(q248Fixture(s, dir, _)))),
    "q252_partitioned_read" -> ((s: SparkSession, dir: String) =>
      q252Cycle(s, benchTemplate(s, "q252", dir)(q252Fixture(s, dir, _)))),
    "q250_tail_appends" -> ((s: SparkSession, dir: String) =>
      q250Cycle(s, benchTemplate(s, "q250", dir)(q250Fixture(s, dir, _)))),
    "q261_transform_partition" -> ((s: SparkSession, dir: String) =>
      q261Cycle(s, benchTemplate(s, "q261", dir)(q261Fixture(s, dir, _)))),
    "q262_multicol_partition" -> ((s: SparkSession, dir: String) =>
      q262Cycle(s, benchTemplate(s, "q262", dir)(q262Fixture(s, dir, _)))),
    // mutating lifecycles over a published base: per-pass template copy
    "q255_column_mapping" -> ((s: SparkSession, dir: String) =>
      q255Cycle(s, dir, benchFixture(s, "q255", dir)(q255Fixture(s, dir, _)))),
    "q258_partition_drop" -> ((s: SparkSession, dir: String) =>
      q258Cycle(s, benchFixture(s, "q258", dir)(q258Fixture(s, dir, _)))),
    "q260_type_widening" -> ((s: SparkSession, dir: String) =>
      q260Cycle(s, dir, benchFixture(s, "q260", dir)(q260Fixture(s, dir, _)))))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q201_partition_checksums" -> q201PartitionChecksums _,
    "q233_compaction_execute" -> q233CompactionExecute _,
    "q238_recluster_execute" -> q238ReclusterExecute _,
    "q239_footer_recluster_worst" -> q239FooterReclusterWorst _,
    "q240_optimize_table" -> q240OptimizeTable _,
    "q242_manifest_rewrite" -> q242ManifestRewrite _,
    "q243_time_travel" -> q243TimeTravel _,
    "q244_exactly_once_ingest" -> q244ExactlyOnceIngest _,
    "q245_optimize_manifested" -> q245OptimizeManifested _,
    "q246_upsert_sink" -> q246UpsertSink _,
    "q247_upsert_bucketed" -> q247UpsertBucketed _,
    "q248_stats_pruned_read" -> q248StatsPrunedRead _,
    "q249_point_read" -> q249PointRead _,
    "q250_tail_appends" -> q250TailAppends _,
    "q251_delta_upsert" -> q251DeltaUpsert _,
    "q252_partitioned_read" -> q252PartitionedRead _,
    "q253_row_deletes" -> q253RowDeletes _,
    "q254_manifest_relay" -> q254ManifestRelay _,
    "q255_column_mapping" -> q255ColumnMapping _,
    "q256_maintain" -> q256Maintain _,
    "q257_changefeed_relay" -> q257ChangefeedRelay _,
    "q258_partition_drop" -> q258PartitionDrop _,
    "q259_sql_dml" -> q259SqlDml _,
    "q260_type_widening" -> q260TypeWidening _,
    "q261_transform_partition" -> q261TransformPartition _,
    "q262_multicol_partition" -> q262MulticolPartition _,
    "q263_changefeed_stream" -> q263ChangefeedStream _,
    "q190_partition_advisor" -> q190PartitionAdvisor _,
    "q229_compaction_plan" -> q229CompactionPlan _,
    "q230_clustering_depth" -> q230ClusteringDepth _,
    "q154_burst_detect" -> q154BurstDetect _,
    "q167_profile_drift" -> q167ProfileDrift _,
    "q169_k_anonymity" -> q169KAnonymity _,
    "q176_clamped_balance" -> q176ClampedBalance _,
    "q178_dp_noisy_counts" -> q178DpNoisyCounts _,
    "q157_zorder_stats" -> q157ZorderStats _,
    "q110_quality_audit" -> q110QualityAudit _,
    "q111_weekly_churn" -> q111WeeklyChurn _,
    "q112_balance_resets" -> q112BalanceResets _,
    "q113_dow_seasonality" -> q113DowSeasonality _,
    "q114_benford_digits" -> q114BenfordDigits _,
    "q115_session_funnel" -> q115SessionFunnel _,
    "q118_entity_resolution" -> q118EntityResolution _,
    "q119_equidepth_histogram" -> q119EquidepthHistogram _,
    "q120_ordered_listagg" -> q120OrderedListagg _,
    "q124_event_paths" -> q124EventPaths _,
    "q128_key_skew_profile" -> q128KeySkewProfile _)

  /** The 8-bit Morton interleave as pure-integer SQL, mirroring
    * [[Layout.zorderKey2]](bits=8) term by term over the rescaled
    * columns `sa`/`sb`. */
  private val zorderSqlExpr: String = {
    val a = "(sa & 255)"
    val b = "(sb & 255)"
    (0 until 8).map { i =>
      s"((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " | ", ")")
  }

  /** q118's oracle: the label-propagation rounds are generated (24
    * identical blocks) — see the entry's comment in [[oracle]]. */
  private def q118OracleSql: String = {
    val rounds = (1 to 24).map { i =>
      val p = s"l${i - 1}"
      s"""l$i AS MATERIALIZED (
         |  SELECT c.id, least(c.l, j.l, coalesce(nm.ml, c.l)) AS l
         |  FROM $p c
         |  JOIN $p j ON j.id = c.l
         |  LEFT JOIN (SELECT e.b AS id, MIN(c2.l) AS ml
         |             FROM e JOIN $p c2 ON c2.id = e.a GROUP BY e.b) nm
         |    ON nm.id = c.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH n AS MATERIALIZED (SELECT c_custkey, c_name FROM customer
       |           WHERE len(c_name) > 0),
       |k AS MATERIALIZED (SELECT c_custkey, unnest(list_append(
       |        list_transform(range(1, len(c_name) + 1),
       |          i -> substr(c_name, 1, CAST(i - 1 AS INTEGER))
       |               || substr(c_name, CAST(i + 1 AS INTEGER))),
       |        c_name)) AS dk
       |      FROM n),
       |cand AS MATERIALIZED (SELECT DISTINCT a.c_custkey AS id_a,
       |                b.c_custkey AS id_b
       |         FROM k a JOIN k b USING (dk)
       |         WHERE a.c_custkey < b.c_custkey),
       |pairs AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c
       |  JOIN n a ON a.c_custkey = c.id_a
       |  JOIN n b ON b.c_custkey = c.id_b
       |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
       |e AS MATERIALIZED (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs),
       |l0 AS MATERIALIZED (
       |  SELECT a AS id, least(a, MIN(b)) AS l FROM e GROUP BY a),
       |$rounds
       |SELECT c.c_custkey, c.c_name,
       |       COALESCE(l24.l, c.c_custkey) AS canonical_id
       |FROM customer c LEFT JOIN l24 ON c.c_custkey = l24.id
       |ORDER BY c.c_custkey""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // q201: identical row serialization, identical 52-bit md5 slice,
    // exact decimal sum — order-independent on both sides. The sum is
    // emitted as its exact VARCHAR rendering (it exceeds 2^53; a float
    // step anywhere in comparison tooling would corrupt the integer).
    "q201_partition_checksums" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS part,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(l_orderkey AS VARCHAR),
        |             CAST(l_linenumber AS VARCHAR),
        |             CAST(l_partkey AS VARCHAR),
        |             CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                  AS VARCHAR),
        |             l_returnflag)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum
        |FROM lineitem
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q233: content identity through the compaction rewrite — the
    // checksum the oracle computes from the SOURCE rows must equal the
    // one the engine computes from the COMPACTED files (q201's digest
    // recipe); the match/fewer-files booleans are in-engine claims
    // q238: content identity through the Z-order rewrite — the checksum
    // the oracle computes from the SOURCE rows must equal the one the
    // engine computes from the RE-CLUSTERED files (q201's digest
    // recipe); the match/depth booleans are in-engine claims whose raw
    // values LayoutSpec recomputes (independence probe)
    "q238_recluster_execute" ->
      """SELECT CAST(user_id % 8 AS BIGINT) AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS checksum_match, TRUE AS clustered_ok
        |FROM events WHERE event_id < 8000
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q239: content identity through the footer-audited partial rewrite;
    // the reclustered/depth booleans are in-engine claims whose raw
    // values LayoutSpec recomputes (footer stats vs data, depth probe)
    "q239_footer_recluster_worst" ->
      """SELECT event_type AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR))),
        |             1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS checksum_match, TRUE AS reclustered,
        |       TRUE AS depth_improved
        |FROM events WHERE event_id < 8000
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q240: content identity through the MIXED maintenance pass, plus the
    // DECISION itself — the action column is pinned per partition (the
    // fixture engineers rr/sm/ok to need recluster/compact/skip
    // deterministically), so a wrong decision hash-mismatches even when
    // the rewrite preserves content; match/action booleans are in-engine
    // claims whose raw values LayoutSpec recomputes
    "q240_optimize_table" ->
      """SELECT part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR))),
        |             1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS checksum_match,
        |       CASE WHEN part = 'rr' THEN 'recluster'
        |            WHEN part = 'sm' THEN 'compact'
        |            ELSE 'skip' END AS action,
        |       TRUE AS action_ok
        |FROM (SELECT CASE WHEN event_id % 3 = 0 THEN 'rr'
        |                  WHEN event_id % 3 = 1 THEN 'sm'
        |                  ELSE 'ok' END AS part, event_id, user_id
        |      FROM events WHERE event_id < 9000)
        |GROUP BY part ORDER BY part""".stripMargin,
    // q242: content identity through the READER-SAFE manifest rewrite —
    // the checksum the oracle computes from the SOURCE rows must equal
    // the one the engine reads THROUGH THE POINTER from the new
    // generation; the match/protocol booleans are in-engine claims whose
    // crash/concurrency semantics TableManifestSpec proves
    "q242_manifest_rewrite" ->
      """SELECT CAST(user_id % 8 AS BIGINT) AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS checksum_match, TRUE AS rewrite_ok
        |FROM events WHERE event_id < 6000
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q243: TIME TRAVEL — version 1's rows must be byte-reconstructible
    // from the retained manifest AFTER the rewrite superseded it; the
    // oracle recomputes both versions' content straight from the source
    // (v2 = v1 minus clicks); history_retained is an in-engine claim
    // whose window semantics TableManifestSpec proves
    "q243_time_travel" ->
      """WITH src AS (SELECT event_id, user_id, event_type FROM events
        |             WHERE event_id < 6000),
        |     shaped AS (
        |  SELECT CAST(1 AS BIGINT) AS version, event_type,
        |         COUNT(*) AS n_rows,
        |         CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |               CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
        |               event_type)), 1, 13)) AS BIGINT)
        |             AS DECIMAL(38,0))) AS VARCHAR) AS checksum
        |  FROM src GROUP BY event_type
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT) AS version, event_type,
        |         COUNT(*) AS n_rows,
        |         CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |               CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
        |               event_type)), 1, 13)) AS BIGINT)
        |             AS DECIMAL(38,0))) AS VARCHAR) AS checksum
        |  FROM src WHERE event_type <> 'click' GROUP BY event_type)
        |SELECT version, event_type, n_rows, checksum,
        |       TRUE AS history_retained
        |FROM shaped ORDER BY version, event_type""".stripMargin,
    // q244: EXACTLY-ONCE INGEST — three appended batches with batch 1
    // re-offered twice (once across a compaction); any replayed append
    // would double batch 1's counts AND checksums, so the oracle's
    // single-copy recompute from the source pins the semantics;
    // exactly_once is an in-engine claim whose replay mechanics the
    // TableManifestSpec streaming-replay test proves from a real torn
    // checkpoint
    "q244_exactly_once_ingest" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS exactly_once
        |FROM events WHERE event_id < 6000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q245: reader-safe OPTIMIZE through the manifest — content identity
    // after the compaction commit, pinned from the source; the
    // action/idempotence/file-count booleans are in-engine claims whose
    // protocol halves TableManifestSpec proves
    "q245_optimize_manifested" ->
      """SELECT CAST(user_id % 8 AS BIGINT) AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS checksum_match, 'compact' AS action,
        |       'skip' AS reoptimize_action, TRUE AS files_ok
        |FROM events WHERE event_id < 6000
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q246: manifested CDC upsert — the incremental per-batch merges
    // must land exactly the oracle's ONE-SHOT total-order winner per
    // user (per-key latest is associative); a replayed batch id must
    // change nothing (the watermark skip TableManifestSpec drives from
    // a real torn checkpoint)
    "q246_upsert_sink" ->
      """WITH w AS (SELECT user_id, event_id, event_type,
        |                  row_number() OVER (PARTITION BY user_id
        |                    ORDER BY ts DESC, event_id DESC) AS rn
        |           FROM events WHERE event_id < 6000)
        |SELECT CAST(user_id % 8 AS BIGINT) AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(user_id AS VARCHAR), CAST(event_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS exactly_once
        |FROM w WHERE rn = 1
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q247: BUCKETED incremental CDC upsert — same one-shot total-order
    // winner semantics as q246 over the two delivered batches (seed +
    // the sparse one-user-in-97 slice); a replayed batch id must change
    // nothing, and `incremental` is the engine's claim that untouched
    // bucket generations survived BY REFERENCE (byte-identity proven in
    // TableManifestSpec; a regression to full-snapshot rewrites fails
    // the boolean, a content error fails the checksums)
    "q247_upsert_bucketed" ->
      """WITH w AS (SELECT user_id, event_id, event_type,
        |                  row_number() OVER (PARTITION BY user_id
        |                    ORDER BY ts DESC, event_id DESC) AS rn
        |           FROM events
        |           WHERE event_id < 4000
        |              OR (event_id >= 4000 AND event_id < 6000
        |                  AND user_id % 97 = 0))
        |SELECT CAST(user_id % 8 AS BIGINT) AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(user_id AS VARCHAR), CAST(event_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS exactly_once, TRUE AS incremental
        |FROM w WHERE rn = 1
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q248: stats-pruned manifested read — content identity of the
    // one-year window recomputed from the raw source; `pruned` is the
    // engine's claim that the file set came from manifest-recorded
    // metadata and was strictly smaller than the table, `meta_only`
    // that the pruned scan's input files are exactly that set
    "q248_stats_pruned_read" ->
      """SELECT CAST(o_custkey % 8 AS BIGINT) AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
        |             CAST(o_orderdate AS VARCHAR))), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS pruned, TRUE AS meta_only
        |FROM orders
        |WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q249: bucket-pruned point read — the winners for the one-in-31
    // user set recomputed by DuckDB straight from the source window;
    // `bucket_pruned` is the engine's claim the scan opened strictly
    // fewer generations than the table holds (TableManifestSpec pins
    // the opened set to the touched buckets)
    "q249_point_read" ->
      """WITH w AS (SELECT user_id, event_id, event_type,
        |                  row_number() OVER (PARTITION BY user_id
        |                    ORDER BY ts DESC, event_id DESC) AS rn
        |           FROM events WHERE event_id < 6000)
        |SELECT CAST(user_id % 8 AS BIGINT) AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(user_id AS VARCHAR), CAST(event_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS bucket_pruned
        |FROM w WHERE rn = 1
        |  AND user_id IN (SELECT DISTINCT user_id FROM events
        |                  WHERE event_id < 6000
        |                  ORDER BY user_id LIMIT 5)
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q250: incremental CDC tail — exactly slices 2-3 from the source
    // (a dropped generation fails the counts, a re-delivered slice 1
    // fails counts AND checksums); tail_exact is the engine's cursor
    // bookkeeping claim, proven against rewrites/truncation in
    // TableManifestSpec
    "q250_tail_appends" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS tail_exact
        |FROM events WHERE event_id >= 400 AND event_id < 6000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q251: merge-on-read delta upsert — same one-shot total-order
    // winner semantics as q246 over the two delivered batches (a
    // dropped delta row or a phantom pre-merge duplicate fails the
    // checksums); `mor`/`folded` are the engine's structural claims
    // (deltas only, byte-identical carried bases, fold identity),
    // proven byte-level in TableManifestSpec
    "q251_delta_upsert" ->
      """WITH w AS (SELECT user_id, event_id, event_type,
        |                  row_number() OVER (PARTITION BY user_id
        |                    ORDER BY ts DESC, event_id DESC) AS rn
        |           FROM events WHERE event_id < 6000)
        |SELECT CAST(user_id % 8 AS BIGINT) AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(user_id AS VARCHAR), CAST(event_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS exactly_once, TRUE AS mor, TRUE AS folded
        |FROM w WHERE rn = 1
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q252: partition-value pruned read — the two asked event types
    // recomputed from the raw source (a dropped generation fails the
    // counts, an extra type fails the checksums); `part_pruned` is the
    // engine's claim the scan opened exactly those values' generations
    // plus the unvalued seed, pinned structurally in TableManifestSpec
    "q252_partitioned_read" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS part_pruned
        |FROM events
        |WHERE event_id < 6000 AND event_type IN ('click', 'purchase')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q253: row-level delete — the surviving set recomputed from the
    // raw source: every order of a non-thirteenth customer, plus the
    // re-added minimum deleted customer's orders (a resurrection of
    // any OTHER deleted customer fails counts AND checksums; a lost
    // re-add likewise); time_travel_ok/folded are the engine's claims,
    // pinned structurally in TableManifestSpec
    "q253_row_deletes" ->
      """SELECT CAST(o_orderkey % 8 AS BIGINT) AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
        |             CAST(o_orderdate AS VARCHAR))), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS time_travel_ok, TRUE AS folded
        |FROM orders
        |WHERE o_custkey % 13 <> 0
        |   OR o_custkey = (SELECT min(o_custkey) FROM orders
        |                   WHERE o_custkey % 13 = 0)
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q254: manifest CDC relay — the destination must hold exactly the
    // relayed slices (a double-delivery fails counts AND checksums, a
    // dropped version fails counts); relay_exact/resync_loud are the
    // engine's cursor and loudness claims; a restart through a REAL
    // stream is driven in GraftManifestSourceSpec
    "q254_manifest_relay" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS relay_exact, TRUE AS resync_loud
        |FROM events WHERE event_id < 6000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q255: column mapping — evens published pre-evolution read NULL
    // under the dropped-then-re-added o_custkey (fresh id — the old
    // values must NOT resurrect) while odds appended post-evolution
    // carry it; order_date serves the old files' o_orderdate through
    // the metadata-only rename; metadata_only is the engine's claim
    // that evolution commits carried every generation by name
    "q255_column_mapping" ->
      """SELECT CAST(o_orderkey % 8 AS BIGINT) AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(o_orderkey AS VARCHAR),
        |             CASE WHEN o_orderkey % 2 = 0 THEN 'null'
        |                  ELSE CAST(o_custkey AS VARCHAR) END,
        |             CAST(o_orderdate AS VARCHAR))), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS metadata_only
        |FROM orders
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q256: one-pass maintenance — the surviving winner-per-user set
    // after a delta-upserted window and a one-in-31 purge, recomputed
    // from the raw source; folded_clean is the engine's claim (no
    // deltas/tombstones remain, log bounded, content identical across
    // the pass — the idempotence half is spec'd)
    "q256_maintain" ->
      """WITH w AS (SELECT user_id, event_id, event_type,
        |                  row_number() OVER (PARTITION BY user_id
        |                    ORDER BY ts DESC, event_id DESC) AS rn
        |           FROM events WHERE event_id < 6000)
        |SELECT CAST(user_id % 8 AS BIGINT) AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(user_id AS VARCHAR), CAST(event_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS folded_clean
        |FROM w WHERE rn = 1 AND user_id % 31 <> 0
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q257: op-coded changefeed relay — the destination must hold the
    // source's exact post-delete, post-re-add winner state (a dropped
    // op, a double-delivered version, or a mis-ordered delete/upsert
    // pair fails counts AND checksums); relay_exact/resync_loud are
    // the engine's cursor and loudness claims, the mirror equality is
    // ALSO asserted engine-side against the live source. The winner
    // rule applies only when some upsert ROW exists (`up.c > 0`): an
    // EMPTY upsertDelta is the engine's documented no-op — it pins no
    // merge rule — so at a scale where both upsert slices are empty
    // (sf0.001's 1000-event table) the mirrored state is the plain
    // append-minus-deletes, not winner-per-user.
    "q257_changefeed_relay" ->
      """WITH base AS (
        |  SELECT user_id, event_id, ts, event_type FROM events
        |  WHERE event_id < 6000
        |    AND (user_id % 7 <> 0 OR event_id >= 5000)),
        |up AS (SELECT COUNT(*) AS c FROM events
        |       WHERE event_id >= 3000 AND event_id < 6000),
        |w AS (SELECT user_id, event_id, event_type,
        |             row_number() OVER (PARTITION BY user_id
        |               ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM base)
        |SELECT CAST(user_id % 8 AS BIGINT) AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(user_id AS VARCHAR), CAST(event_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS relay_exact, TRUE AS resync_loud
        |FROM w, up WHERE rn = 1 OR up.c = 0
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q258: metadata-only partition drop — the survivors recomputed
    // from the raw source (a lingering click generation fails counts
    // AND checksums; an over-drop fails counts); meta_only/
    // time_travel_ok/drop_loud are the engine's structural claims,
    // spec'd in TableManifestChangefeedSpec
    "q258_partition_drop" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS meta_only, TRUE AS time_travel_ok,
        |       TRUE AS drop_loud
        |FROM events
        |WHERE event_id < 6000 AND event_type <> 'click'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q259: SQL DML lifecycle — evens inserted, multiples of three
    // merged (shared multiples of six resolve to ONE winner row, so a
    // duplicate fails counts), one-in-13 customers tombstoned (a
    // resurrected order fails counts AND checksums); dml_ok carries
    // the per-statement affected-row counts
    "q259_sql_dml" ->
      """SELECT CAST(o_orderkey % 8 AS BIGINT) AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
        |             CAST(o_orderdate AS VARCHAR))), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS dml_ok
        |FROM orders
        |WHERE (o_orderkey % 2 = 0 OR o_orderkey % 3 = 0)
        |  AND o_custkey % 13 <> 0
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q260: type widening under column mapping — every order, with the
    // evens' price routed through the SAME float narrowing the engine
    // fixture applied (CAST AS REAL → back to DOUBLE is bit-exact in
    // both engines) and their customer key through int32: a lossy or
    // shifted value anywhere across the widened read fails the
    // checksums; `widened` is the engine's resolved-schema claim
    "q260_type_widening" ->
      """SELECT CAST(o_orderkey % 8 AS BIGINT) AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
        |             CAST(CAST(round(
        |               CASE WHEN o_orderkey % 2 = 0
        |                    THEN CAST(CAST(o_totalprice AS REAL) AS DOUBLE)
        |                    ELSE o_totalprice END * 100) AS BIGINT)
        |               AS VARCHAR))), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS widened
        |FROM orders
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q261: transform (hidden) partitioning — the two asked DAYS
    // recomputed from the raw source's timestamps (a dropped day
    // generation fails counts, an extra day fails grouping); the
    // engine's part_pruned claim pins the generation-open set
    "q261_transform_partition" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS part_pruned
        |FROM events
        |WHERE event_id < 6000
        |  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01'
        |                           AND DATE '2024-01-02'
        |GROUP BY 1 ORDER BY day""".stripMargin,
    // q262: multi-column (composite) partitioning — the three asked
    // (type, day) pairs recomputed from the raw source (a pruned-out
    // pair fails grouping, a lost row fails counts/checksums); the
    // engine's pair_pruned claim pins the generation-open set
    "q262_multicol_partition" ->
      """SELECT concat(event_type, '|',
        |              strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS pair,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS pair_pruned
        |FROM events
        |WHERE event_id < 6000 AND CAST(ts AS DATE) <= DATE '2024-01-04'
        |  AND ((event_type = 'click' AND CAST(ts AS DATE) = DATE '2024-01-01')
        |    OR (event_type = 'view' AND CAST(ts AS DATE) = DATE '2024-01-02')
        |    OR (event_type = 'signup' AND CAST(ts AS DATE) = DATE '2024-01-04'))
        |GROUP BY 1 ORDER BY pair""".stripMargin,
    // q263: the streaming changefeed reaches the SAME final state as
    // q257's batch relay (winner-per-user of the delete-then-re-add
    // choreography) — recomputed from raw; stream_exact carries the
    // engine's idle-restart + src≡dst equality claims. Winner rule
    // conditioned on `up.c > 0` exactly as q257's oracle: an empty
    // upsertDelta pins no merge rule (the engine's no-op contract).
    "q263_changefeed_stream" ->
      """WITH base AS (
        |  SELECT user_id, event_id, ts, event_type FROM events
        |  WHERE event_id < 6000
        |    AND (user_id % 7 <> 0 OR event_id >= 5000)),
        |up AS (SELECT COUNT(*) AS c FROM events
        |       WHERE event_id >= 3000 AND event_id < 6000),
        |w AS (SELECT user_id, event_id, event_type,
        |             row_number() OVER (PARTITION BY user_id
        |               ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM base)
        |SELECT CAST(user_id % 8 AS BIGINT) AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(user_id AS VARCHAR), CAST(event_id AS VARCHAR),
        |             event_type)), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS stream_exact
        |FROM w, up WHERE rn = 1 OR up.c = 0
        |GROUP BY 1 ORDER BY part""".stripMargin,
    "q233_compaction_execute" ->
      """SELECT lang AS part, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(CAST(concat('0x', substr(md5(concat_ws(chr(1),
        |             CAST(doc_id AS VARCHAR), text, source,
        |             CAST(n_chars AS VARCHAR))), 1, 13)) AS BIGINT)
        |           AS DECIMAL(38,0))) AS VARCHAR) AS checksum,
        |       TRUE AS checksum_match, TRUE AS compacted_ok
        |FROM documents WHERE doc_id < 400
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // q190: the stacked one-pass profile re-expressed as a UNION of
    // per-candidate GROUP BYs — an independent formulation; integer
    // counts, multiply-before-the-one-divide skew.
    // q229/q230: the simulated inventory (ship-month × supplier-bucket
    // "files") replays exactly; all-integer plan arithmetic (q225's div
    // recipe), decimal min/max comparisons, bounded avg — hash-exact.
    "q229_compaction_plan" ->
      """WITH inv AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS part,
        |         l_suppkey % 8 AS file_id, COUNT(*) AS size_rows
        |  FROM lineitem GROUP BY 1, 2),
        |g AS (
        |  SELECT part, size_rows,
        |         SUM(size_rows) OVER (PARTITION BY part ORDER BY file_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum
        |  FROM inv),
        |pg AS (
        |  SELECT part, (cum - size_rows) // 1500 AS grp,
        |         COUNT(*) AS gf, CAST(SUM(size_rows) AS BIGINT) AS gs,
        |         CAST(SUM(CASE WHEN size_rows * 4 < 1500
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS gsmall
        |  FROM g GROUP BY 1, 2)
        |SELECT part, CAST(SUM(gf) AS BIGINT) AS n_files,
        |       CAST(SUM(gs) AS BIGINT) AS total_size,
        |       COUNT(*) AS n_groups,
        |       CAST(SUM(gsmall) AS BIGINT) AS small_files,
        |       MAX(gs) AS max_group_size
        |FROM pg GROUP BY part ORDER BY part""".stripMargin,
    "q230_clustering_depth" ->
      """WITH inv AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS part,
        |         l_suppkey % 8 AS f,
        |         MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |  FROM lineitem GROUP BY 1, 2),
        |d AS (
        |  SELECT a.part, a.f, COUNT(*) AS depth
        |  FROM inv a JOIN inv b ON a.part = b.part
        |                       AND b.lo <= a.lo AND a.lo <= b.hi
        |  GROUP BY 1, 2)
        |SELECT part, COUNT(*) AS n_files, MAX(depth) AS max_depth,
        |       round(AVG(depth), 6) AS avg_depth
        |FROM d GROUP BY part ORDER BY part""".stripMargin,
    "q190_partition_advisor" ->
      """WITH pv AS (
        |  SELECT 'returnflag' AS cand, l_returnflag AS v FROM lineitem
        |  UNION ALL
        |  SELECT 'linestatus', l_linestatus FROM lineitem
        |  UNION ALL
        |  SELECT 'ship_month', strftime(l_shipdate, '%Y-%m')
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'supp_bucket', CAST(l_suppkey % 64 AS VARCHAR)
        |  FROM lineitem),
        |c AS (
        |  SELECT cand, v, COUNT(*) AS c FROM pv GROUP BY 1, 2),
        |s AS (
        |  SELECT cand, COUNT(*) AS n_values,
        |         CAST(SUM(c) AS BIGINT) AS n_rows,
        |         CAST(MAX(c) AS BIGINT) AS max_rows
        |  FROM c GROUP BY 1)
        |SELECT cand, n_values, n_rows, max_rows,
        |       round(CAST(max_rows * n_values AS DOUBLE) / n_rows, 6)
        |         AS skew,
        |       CASE WHEN n_values < 8 THEN 'too_few'
        |            WHEN n_values > 10000 THEN 'too_many'
        |            WHEN CAST(max_rows * n_values AS DOUBLE) / n_rows
        |                 >= 10.0 THEN 'skewed'
        |            ELSE 'good' END AS verdict
        |FROM s ORDER BY cand""".stripMargin,
    // q167: the oracle is the NAIVE per-column UNION profile (6 scans per
    // snapshot) the engine's single-pass profile replaces; renderings
    // match by construction (VARCHAR cast for integers/strings, printf
    // %.2f for doubles, 6-digit-microsecond strftime for timestamps).
    "q167_profile_drift" ->
      """WITH old_t AS (
        |  SELECT * FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1999-01-01'),
        |new_t AS (
        |  SELECT * FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1999-01-01'),
        |po AS (
        |  SELECT 'o_orderkey' AS col_name, COUNT(*) AS n,
        |         COUNT(*) - COUNT(o_orderkey) AS nl,
        |         COUNT(DISTINCT o_orderkey) AS d,
        |         CAST(MIN(o_orderkey) AS VARCHAR) AS mn,
        |         CAST(MAX(o_orderkey) AS VARCHAR) AS mx FROM old_t
        |  UNION ALL SELECT 'o_custkey', COUNT(*),
        |    COUNT(*) - COUNT(o_custkey), COUNT(DISTINCT o_custkey),
        |    CAST(MIN(o_custkey) AS VARCHAR),
        |    CAST(MAX(o_custkey) AS VARCHAR) FROM old_t
        |  UNION ALL SELECT 'o_orderstatus', COUNT(*),
        |    COUNT(*) - COUNT(o_orderstatus),
        |    COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus),
        |    MAX(o_orderstatus) FROM old_t
        |  UNION ALL SELECT 'o_totalprice', COUNT(*),
        |    COUNT(*) - COUNT(o_totalprice), COUNT(DISTINCT o_totalprice),
        |    printf('%.2f', MIN(o_totalprice)),
        |    printf('%.2f', MAX(o_totalprice)) FROM old_t
        |  UNION ALL SELECT 'o_orderdate', COUNT(*),
        |    COUNT(*) - COUNT(o_orderdate), COUNT(DISTINCT o_orderdate),
        |    strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S.%f'),
        |    strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S.%f') FROM old_t
        |  UNION ALL SELECT 'o_orderpriority', COUNT(*),
        |    COUNT(*) - COUNT(o_orderpriority),
        |    COUNT(DISTINCT o_orderpriority), MIN(o_orderpriority),
        |    MAX(o_orderpriority) FROM old_t),
        |pn AS (
        |  SELECT 'o_orderkey' AS col_name, COUNT(*) AS n,
        |         COUNT(*) - COUNT(o_orderkey) AS nl,
        |         COUNT(DISTINCT o_orderkey) AS d,
        |         CAST(MIN(o_orderkey) AS VARCHAR) AS mn,
        |         CAST(MAX(o_orderkey) AS VARCHAR) AS mx FROM new_t
        |  UNION ALL SELECT 'o_custkey', COUNT(*),
        |    COUNT(*) - COUNT(o_custkey), COUNT(DISTINCT o_custkey),
        |    CAST(MIN(o_custkey) AS VARCHAR),
        |    CAST(MAX(o_custkey) AS VARCHAR) FROM new_t
        |  UNION ALL SELECT 'o_orderstatus', COUNT(*),
        |    COUNT(*) - COUNT(o_orderstatus),
        |    COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus),
        |    MAX(o_orderstatus) FROM new_t
        |  UNION ALL SELECT 'o_totalprice', COUNT(*),
        |    COUNT(*) - COUNT(o_totalprice), COUNT(DISTINCT o_totalprice),
        |    printf('%.2f', MIN(o_totalprice)),
        |    printf('%.2f', MAX(o_totalprice)) FROM new_t
        |  UNION ALL SELECT 'o_orderdate', COUNT(*),
        |    COUNT(*) - COUNT(o_orderdate), COUNT(DISTINCT o_orderdate),
        |    strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S.%f'),
        |    strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S.%f') FROM new_t
        |  UNION ALL SELECT 'o_orderpriority', COUNT(*),
        |    COUNT(*) - COUNT(o_orderpriority),
        |    COUNT(DISTINCT o_orderpriority), MIN(o_orderpriority),
        |    MAX(o_orderpriority) FROM new_t)
        |SELECT col_name, po.n AS n_old, pn.n AS n_new,
        |       round(CAST(pn.nl AS DOUBLE) / pn.n
        |             - CAST(po.nl AS DOUBLE) / po.n, 6) AS null_rate_delta,
        |       round(CAST(pn.d AS DOUBLE) / po.d, 6) AS distinct_ratio,
        |       (po.mn <> pn.mn OR po.mx <> pn.mx) AS range_changed
        |FROM po JOIN pn USING (col_name)
        |ORDER BY col_name""".stripMargin,
    // q169: integer-domain grouping; the band divide is the identical
    // IEEE double divide+floor in both engines.
    "q169_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |       CAST(floor(c_acctbal / 5000.0) AS BIGINT) AS bal_band,
        |       COUNT(*) AS n, COUNT(*) < 5 AS at_risk
        |FROM customer
        |GROUP BY 1, 2, 3
        |ORDER BY c_nationkey, c_mktsegment, bal_band""".stripMargin,
    // q178: the md5 inverse-CDF draw is replicated term by term; the
    // (hexhead+0.5)/2³² uniform is exact double arithmetic in both
    // engines, and the 6-dp round on the draw absorbs libm ln ulps.
    "q178_dp_noisy_counts" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2),
        |d AS (
        |  SELECT *,
        |    (CAST(CAST(concat('0x', substr(md5(concat('dp', ':',
        |       CAST(c_nationkey AS VARCHAR), ':', c_mktsegment)), 1, 8))
        |       AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 - 0.5 AS v
        |  FROM g),
        |r AS (
        |  SELECT c_nationkey, c_mktsegment, n,
        |         round(-2.0 * sign(v) * ln(1.0 - 2.0 * abs(v)), 6)
        |           AS noise
        |  FROM d)
        |SELECT c_nationkey, c_mktsegment, n, noise,
        |       greatest(CAST(0 AS BIGINT),
        |                CAST(round(n + noise) AS BIGINT)) AS released
        |FROM r ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    // q176: the oracle replays each user's prefix with an O(n²)-per-user
    // list_reduce — an INDEPENDENT formulation of the same clamped fold;
    // integer cents keep it exact. The init 0 is prepended so the fold's
    // accumulator starts at an empty balance.
    "q176_clamped_balance" ->
      """WITH d AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN event_type = 'click'
        |         THEN CAST(round(value * 100) AS BIGINT)
        |         WHEN event_type = 'purchase'
        |         THEN -CAST(round(value * 100) AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS delta,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |l AS (SELECT user_id, list(delta ORDER BY rn) AS ds
        |      FROM d GROUP BY user_id)
        |SELECT d.user_id, d.event_id,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT), ds[1:d.rn]),
        |                   (acc, x) -> greatest(CAST(0 AS BIGINT),
        |                                        acc + x)) AS bal_cents
        |FROM d JOIN l USING (user_id)
        |ORDER BY d.user_id, d.event_id""".stripMargin,
    // q157: min/max 8-bit rescale (identical IEEE divide+floor), then
    // the interleave replicated bit-for-bit with integer ops.
    "q157_zorder_stats" ->
      s"""WITH mm AS (
         |  SELECT MIN(l_partkey) AS amin, MAX(l_partkey) AS amax,
         |         MIN(l_suppkey) AS bmin, MAX(l_suppkey) AS bmax
         |  FROM lineitem),
         |s AS (
         |  SELECT l_partkey, l_suppkey,
         |    CAST(floor(CAST((l_partkey - amin) * 256 AS DOUBLE)
         |               / CAST(amax - amin + 1 AS DOUBLE)) AS BIGINT)
         |      AS sa,
         |    CAST(floor(CAST((l_suppkey - bmin) * 256 AS DOUBLE)
         |               / CAST(bmax - bmin + 1 AS DOUBLE)) AS BIGINT)
         |      AS sb
         |  FROM lineitem CROSS JOIN mm),
         |z AS (
         |  SELECT l_partkey, l_suppkey,
         |         $zorderSqlExpr >> 10 AS bucket
         |  FROM s)
         |SELECT bucket, COUNT(*) AS n,
         |       MIN(l_partkey) AS part_lo, MAX(l_partkey) AS part_hi,
         |       MIN(l_suppkey) AS supp_lo, MAX(l_suppkey) AS supp_hi
         |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin,
    // q154: integer-microsecond RANGE frame — identical window semantics
    // (inclusive [t-6h, t], peers share counts) in both engines.
    "q154_burst_detect" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events),
        |b AS (
        |  SELECT user_id,
        |         COUNT(*) OVER (PARTITION BY user_id ORDER BY us
        |           RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)
        |           AS c
        |  FROM e)
        |SELECT user_id, COUNT(*) AS n_events,
        |       CAST(MAX(c) AS BIGINT) AS max_burst,
        |       MAX(c) >= 5 AS is_burst
        |FROM b GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q110_quality_audit" ->
      """WITH checks AS (
        |  SELECT 'pk_orders_unique' AS check_name, 'orders' AS table_name,
        |         (SELECT COUNT(*) FROM orders) AS n_total,
        |         (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
        |           AS n_violations
        |  UNION ALL
        |  SELECT 'pk_customer_unique', 'customer',
        |         (SELECT COUNT(*) FROM customer),
        |         (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer)
        |  UNION ALL
        |  SELECT 'fk_orders_customer', 'orders',
        |         (SELECT COUNT(*) FROM orders),
        |         (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
        |            (SELECT c_custkey FROM customer))
        |  UNION ALL
        |  SELECT 'fk_lineitem_orders', 'lineitem',
        |         (SELECT COUNT(*) FROM lineitem),
        |         (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN
        |            (SELECT o_orderkey FROM orders))
        |  UNION ALL
        |  SELECT 'domain_lineitem_ranges', 'lineitem',
        |         (SELECT COUNT(*) FROM lineitem),
        |         (SELECT COUNT(*) FROM lineitem
        |          WHERE l_quantity <= 0 OR l_extendedprice <= 0
        |             OR l_discount < 0 OR l_discount > 1)
        |  UNION ALL
        |  SELECT 'not_null_orders', 'orders',
        |         (SELECT COUNT(*) FROM orders),
        |         (SELECT COUNT(*) FROM orders
        |          WHERE o_custkey IS NULL OR o_orderdate IS NULL))
        |SELECT check_name, table_name, n_total,
        |       CAST(n_violations AS BIGINT) AS n_violations
        |FROM checks ORDER BY check_name""".stripMargin,
    "q111_weekly_churn" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |         CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events),
        |f AS (
        |  SELECT week,
        |         lag(week) OVER (PARTITION BY user_id ORDER BY week)
        |           AS prev_week,
        |         lead(week) OVER (PARTITION BY user_id ORDER BY week)
        |           AS next_week
        |  FROM uw)
        |SELECT week, COUNT(*) AS n_active,
        |       CAST(SUM(CASE WHEN prev_week IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_new,
        |       CAST(SUM(CASE WHEN date_diff('day', prev_week, week) = 7
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |       CAST(SUM(CASE WHEN next_week IS NULL
        |                       OR date_diff('day', week, next_week) <> 7
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_lapsed
        |FROM f GROUP BY week ORDER BY week""".stripMargin,
    "q112_balance_resets" ->
      """WITH g AS (
        |  SELECT event_id, user_id, ts, value,
        |         SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS reset_group
        |  FROM events)
        |SELECT event_id, user_id, ts,
        |       CAST(reset_group AS BIGINT) AS reset_group,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4)))
        |              OVER (PARTITION BY user_id, reset_group
        |                    ORDER BY ts, event_id
        |                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS balance
        |FROM g ORDER BY user_id, ts, event_id""".stripMargin,
    "q113_dow_seasonality" ->
      s"""WITH d AS (
         |  SELECT CAST(isodow(o_orderdate) - 1 AS BIGINT) AS iso_weekday,
         |         COUNT(*) AS n_orders,
         |         ${dsumSql("o_totalprice")} AS revenue
         |  FROM orders GROUP BY 1)
         |SELECT iso_weekday, n_orders, revenue,
         |       round(CAST(n_orders AS DOUBLE) /
         |             CAST((SELECT SUM(n_orders) FROM d) AS DOUBLE), 6)
         |         AS share,
         |       round(CAST(n_orders AS DOUBLE) * 7.0 /
         |             CAST((SELECT SUM(n_orders) FROM d) AS DOUBLE), 4)
         |         AS season_idx
         |FROM d ORDER BY iso_weekday""".stripMargin,
    "q114_benford_digits" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100, 0)
        |           AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
        |         COUNT(*) AS n
        |  FROM lineitem GROUP BY 1)
        |SELECT digit, n,
        |       round(CAST(n AS DOUBLE) /
        |             CAST((SELECT SUM(n) FROM d) AS DOUBLE), 6) AS share,
        |       round(log10(1.0 + 1.0 / digit), 6) AS benford_expected
        |FROM d ORDER BY digit""".stripMargin,
    "q115_session_funnel" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |                   > 1800000000 THEN 1
        |              ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         SUM(new_session) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id
        |                                ROWS UNBOUNDED PRECEDING)
        |           AS session_id
        |  FROM s),
        |p AS (
        |  SELECT user_id, session_id,
        |         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |         MIN(CASE WHEN event_type = 'purchase' THEN ts END)
        |           AS t_purchase
        |  FROM g GROUP BY 1, 2)
        |SELECT COUNT(*) AS n_sessions,
        |       COALESCE(CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1
        |                               ELSE 0 END) AS BIGINT), 0)
        |         AS n_with_view,
        |       COALESCE(CAST(SUM(CASE WHEN t_click > t_view THEN 1
        |                               ELSE 0 END) AS BIGINT), 0)
        |         AS n_view_click,
        |       COALESCE(CAST(SUM(CASE WHEN t_click > t_view
        |                                AND t_purchase > t_click THEN 1
        |                               ELSE 0 END) AS BIGINT), 0)
        |         AS n_full_funnel
        |FROM p""".stripMargin,
    // q118: deletion-neighborhood candidates + levenshtein verify
    // (q97's upgraded oracle — equivalence argument and the brute-force
    // independence check documented there) + UNROLLED min-label
    // propagation with pointer jumping instead of recursive transitive
    // closure: the name graph at sf0.1 is ONE 15,000-node component
    // (avg degree 35), so `reach` enumerates component² ≈ 225M (node,
    // ancestor) pairs and never finishes; 24 materialized rounds of
    // l(id) := min(l(id), l(l(id)), min over neighbors l) converge for
    // any diameter ≤ 2^24 at ~262k-row joins per round (3.1 s at
    // sf0.1), and divergence shows as a loud gate mismatch, never a
    // silent wrong answer. Validated row-identical to a union-find
    // replay at both sf0.01 and sf0.1 when introduced.
    "q118_entity_resolution" -> q118OracleSql,
    "q119_equidepth_histogram" ->
      // same boundary rule as the engine: exact type-7 deciles on DOUBLE
      // rounded to 6dp, bin = 1 + count(boundaries < price)
      """WITH bd AS (
        |  SELECT l_returnflag,
        |         list_transform(
        |           quantile_cont(CAST(l_extendedprice AS DOUBLE),
        |             [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |           b -> round(b, 6)) AS bounds
        |  FROM lineitem GROUP BY 1),
        |b AS (
        |  SELECT l.l_returnflag,
        |         1 + len(list_filter(bd.bounds,
        |                             x -> l.l_extendedprice > x)) AS bin,
        |         l.l_extendedprice
        |  FROM lineitem l JOIN bd USING (l_returnflag))
        |SELECT l_returnflag, CAST(bin AS BIGINT) AS bin, COUNT(*) AS n,
        |       MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |FROM b GROUP BY 1, 2 ORDER BY l_returnflag, bin""".stripMargin,
    "q120_ordered_listagg" ->
      """WITH d AS (
        |  SELECT DISTINCT l_returnflag, l_linestatus, l_orderkey
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, l_linestatus, l_orderkey,
        |         row_number() OVER (PARTITION BY l_returnflag, l_linestatus
        |                            ORDER BY l_orderkey) AS rn
        |  FROM d)
        |SELECT l_returnflag, l_linestatus,
        |       string_agg(CAST(l_orderkey AS VARCHAR), ','
        |                  ORDER BY l_orderkey) AS top_keys
        |FROM r WHERE rn <= 3
        |GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q124_event_paths" ->
      """WITH s AS (
        |  SELECT lag(event_type, 2) OVER w AS t1,
        |         lag(event_type, 1) OVER w AS t2,
        |         event_type AS t3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT t1 || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n
        |FROM s WHERE t1 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,
    "q128_key_skew_profile" ->
      """WITH c AS (
        |  SELECT l_suppkey AS key, COUNT(*) AS n
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |             COUNT(*) AS n_keys FROM c)
        |SELECT key, CAST(n AS BIGINT) AS n,
        |       round(CAST(n AS DOUBLE) / total, 6) AS share,
        |       round(CAST(n AS DOUBLE) * n_keys / total, 6) AS skew
        |FROM (SELECT key, n FROM c ORDER BY n DESC, key LIMIT 10), t
        |ORDER BY n DESC, key""".stripMargin)
}
