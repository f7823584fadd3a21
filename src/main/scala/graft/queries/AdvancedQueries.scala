package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

import graft.operators.{AsOfJoin, SkewJoin}
import graft.runtime.Tables

/** Operators beyond the reference's surface that a native engine would
  * ship: point-in-time (as-of) join, explicit skew salting, exact
  * distributed percentiles, time-range sliding windows, and the
  * rank-function family. All oracle-checked — the as-of against DuckDB's
  * native ASOF JOIN, the salted join against the plain join it must be
  * indistinguishable from, the rest against their ANSI-SQL twins.
  */
object AdvancedQueries extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // For every error event: the user's most recent purchase at or before
    // the error (the feature-store "latest prior signal" lookup).
    "qa01_asof_join" -> ((s, d) => {
      val e = CoreQueries.events(s, d)
      val errors = e.filter(F.col("event_type") === "error")
        .select("user_id", "event_id", "ts", "value")
      val purchases = e.filter(F.col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      AsOfJoin.leftAsOf(errors, purchases, Seq("user_id"), "ts", "ts", Seq("value"))
        .select(
          F.col("event_id"), F.col("user_id"), F.col("ts"), F.col("value"),
          F.col("asof_ts"), F.col("asof_value"))
        .orderBy("event_id")
    }),

    // Per-key top-k via the custom TypedImperativeAggregate: bounded
    // k-heaps reduced map-side BEFORE the shuffle — must equal the
    // window row_number formulation (q14's oracle).
    "qa03_topk_aggregate" -> ((s, d) => {
      Tables.load(s, d, "orders")
        .join(F.broadcast(Tables.load(s, d, "customer")),
          F.col("o_custkey") === F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(F.call_function("topk_rows",
          F.struct(F.col("o_totalprice"), F.col("o_orderkey")), F.lit(3)).as("top"))
        .select(F.col("c_nationkey"), F.posexplode(F.col("top")))
        .select(
          F.col("c_nationkey"),
          (F.col("pos") + 1).cast("int").as("rn"),
          F.col("col.o_orderkey").as("o_orderkey"),
          F.col("col.o_totalprice").as("o_totalprice"))
        .orderBy("c_nationkey", "rn")
    }),

    // Custom band-join operator (LogicalPlan+Strategy+SparkPlan): error
    // events paired with same-user purchases within ±10 minutes.
    "qa04_band_join" -> ((s, d) => {
      val e = CoreQueries.events(s, d)
      val errors = e.filter(F.col("event_type") === "error")
        .select(F.col("user_id"), F.col("event_id").as("e_id"), F.col("ts").as("e_ts"))
      val purchases = e.filter(F.col("event_type") === "purchase")
        .select(F.col("user_id").as("r_user_id"), F.col("event_id").as("p_id"),
          F.col("ts").as("p_ts"))
      graft.plans.BandJoin.join(errors, purchases,
          "user_id", "r_user_id", "e_ts", "p_ts", bandUs = 10L * 60 * 1000000)
        .select("e_id", "p_id", "user_id", "e_ts", "p_ts")
        .orderBy("e_id", "p_id")
    }),

    // Constraint-check gate: referential integrity, PK uniqueness, and a
    // range expectation, summarized as one row per check in one job.
    "qa05_integrity_checks" -> ((s, d) => {
      import graft.operators.DataQuality
      val customer = Tables.load(s, d, "customer")
      val orders = Tables.load(s, d, "orders")
      val lineitem = Tables.load(s, d, "lineitem")
      DataQuality.violationCounts(Seq(
        "dup_custkey" -> DataQuality.duplicateKeys(customer, Seq("c_custkey")),
        "orphan_lineitems" -> DataQuality.fkViolations(lineitem, "l_orderkey", orders, "o_orderkey"),
        "orphan_orders" -> DataQuality.fkViolations(orders, "o_custkey", customer, "c_custkey"),
        "qty_range_1_45" -> DataQuality.rangeViolations(lineitem, "l_quantity", 1, 45)))
        .orderBy("check_name")
    }),

    // Exact distributed percentiles (quartiles + median) per group —
    // `percentile` is Spark's exact (sort-based, linearly interpolated)
    // aggregate, the same "continuous quantile" definition DuckDB's
    // quantile_cont implements. One shuffle on the group key; partials
    // merge value→count maps, so aggregate state is O(distinct values
    // per group) — exactness has a memory price at 100 TB, where the
    // bounded-state path is percentile_approx/approxQuantile (error
    // contracts spec'd in SketchSpec). This query is the exactness tier.
    "qa06_percentiles" -> ((s, d) => {
      Tables.load(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
          F.count(F.lit(1)).as("n"),
          F.round(F.percentile(F.col("o_totalprice"), F.lit(0.25)), 2).as("p25"),
          F.round(F.percentile(F.col("o_totalprice"), F.lit(0.5)), 2).as("p50"),
          F.round(F.percentile(F.col("o_totalprice"), F.lit(0.75)), 2).as("p75"))
        .orderBy("o_orderpriority")
    }),

    // The BOUNDED-STATE percentile tier (qa06's 100 TB path),
    // driver-checked as an error-contract row: percentile_approx at
    // accuracy 100 guarantees rank error <= 1%, so the sketch median must
    // land inside the exact [p40, p60] bracket (10x margin) per group.
    // Spark computes both tiers and emits the verdict bit; the oracle
    // recomputes the group census and asserts the contract holds — a
    // sketch regression beyond its bound reds the row.
    "qa14_approx_percentile_gate" -> ((s, d) => {
      Tables.load(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
          F.count(F.lit(1)).as("n"),
          F.percentile_approx(F.col("o_totalprice"), F.lit(0.5), F.lit(100)).as("__apx"),
          F.percentile(F.col("o_totalprice"), F.lit(0.4)).as("__lo"),
          F.percentile(F.col("o_totalprice"), F.lit(0.6)).as("__hi"))
        .select(F.col("o_orderpriority"), F.col("n"),
          (F.col("__apx") >= F.col("__lo") && F.col("__apx") <= F.col("__hi"))
            .cast("int").as("ok"))
        .orderBy("o_orderpriority")
    }),

    // Time-RANGE sliding window: per-user trailing-1-hour event count and
    // value sum at every event — the batch twin of the streaming sliding
    // window (WindowedAggs), expressed as a rangeBetween frame over the
    // microsecond epoch. Key-partitioned (never a single-partition
    // window); the frame is evaluated by one pass over each user's
    // sorted events.
    "qa07_sliding_window" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-3600L * 1000000, 0)
      CoreQueries.events(s, d)
        .withColumn("ts_us", F.unix_micros(F.col("ts")))
        .withColumn("n_1h", F.count(F.lit(1)).over(w))
        .withColumn("sum_1h", F.round(F.sum("value").over(w), 2))
        .select("event_id", "user_id", "n_1h", "sum_1h")
        .orderBy("event_id")
    }),

    // Rank-function family over a total per-group order: ntile quartile
    // buckets, percent_rank, cume_dist, and the first/last frame values.
    // Tie-broken by the unique key so every engine computes the same
    // assignment.
    "qa08_rank_family" -> ((s, d) => {
      val w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, d, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .withColumn("quartile", F.ntile(4).over(w))
        .withColumn("pct_rank", F.round(F.percent_rank().over(w), 6))
        .withColumn("cume", F.round(F.cume_dist().over(w), 6))
        .withColumn("nation_min_bal", F.first("c_acctbal").over(w))
        .withColumn("nation_max_bal", F.last("c_acctbal").over(wFull))
        .orderBy("c_custkey")
    }),

    // Argmax (max_by) per key: the latest event's payload per user via ONE
    // ordered-struct max — a single partial-aggregated pass, where the
    // row_number-window formulation would sort every row. Spark's max_by
    // is tie-nondeterministic; lexicographic struct max with the unique
    // key inside the struct is engine-portable.
    "qa09_argmax" -> ((s, d) => {
      CoreQueries.events(s, d)
        .groupBy("user_id")
        .agg(F.max(F.struct(F.col("ts"), F.col("event_id"), F.col("value"))).as("m"))
        .select(
          F.col("user_id"), F.col("m.ts").as("last_ts"),
          F.col("m.event_id").as("last_event_id"),
          F.round(F.col("m.value"), 2).as("last_value"))
        .orderBy("user_id")
    }),

    // Explicit GROUPING SETS beyond CUBE/ROLLUP (q25/q26): exactly the
    // requested grains in one pass, with GROUPING() disambiguating a
    // rollup null from a data null.
    "qa10_grouping_sets" -> ((s, d) => {
      val e = CoreQueries.events(s, d)
        .withColumn("hod", F.hour(F.col("ts")))
      e.groupingSets(
          Seq(Seq(F.col("event_type"), F.col("hod")), Seq(F.col("event_type")), Seq()),
          F.col("event_type"), F.col("hod"))
        .agg(F.count(F.lit(1)).as("n"), F.round(F.sum("value"), 2).as("total_value"),
          F.grouping(F.col("event_type")).as("__g_et"),
          F.grouping(F.col("hod")).as("__g_hod"))
        .select(
          F.when(F.col("__g_et") === 1, F.lit("<all>"))
            .otherwise(F.col("event_type")).as("event_type"),
          F.when(F.col("__g_hod") === 1, F.lit("<all>"))
            .otherwise(F.col("hod").cast("string")).as("hod"),
          F.col("n"), F.col("total_value"))
        .orderBy("event_type", "hod")
    }),

    // Fuzzy self-join (entity resolution): part pairs whose names are
    // within edit distance 1, candidates from PassJoin-style pigeonhole
    // segment blocking (equi-join, never a cross join), verified with
    // exact levenshtein on the candidate set only.
    "qa11_fuzzy_join" -> ((s, d) => {
      import graft.operators.StringMatch
      val p = Tables.load(s, d, "part").select("p_partkey", "p_name")
      StringMatch.fuzzyJoinPairs(p, "p_partkey", "p_name", maxDist = 1)
        .select(
          F.col("a_id"), F.col("b_id"),
          F.col("a_str").as("a_name"), F.col("b_str").as("b_name"), F.col("dist"))
        .orderBy("a_id", "b_id")
    }),

    // IQR outlier detection per group (the classic training-data anomaly
    // filter): per-type quartiles via the exact percentile aggregate,
    // broadcast back onto the stream of rows, emit values outside
    // 1.5×IQR. Two passes over events but only ONE shuffle (the tiny
    // per-type quartile relation broadcasts).
    "qa12_outliers" -> ((s, d) => {
      val e = CoreQueries.events(s, d)
      val bounds = e.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.25)).as("q1"),
        F.percentile(F.col("value"), F.lit(0.75)).as("q3"))
        .select(
          F.col("event_type"),
          (F.col("q1") - F.lit(1.5) * (F.col("q3") - F.col("q1"))).as("lo"),
          (F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1"))).as("hi"))
      e.join(F.broadcast(bounds), "event_type")
        .filter(F.col("value") < F.col("lo") || F.col("value") > F.col("hi"))
        .select(
          F.col("event_id"), F.col("event_type"),
          F.round(F.col("value"), 2).as("value"),
          F.round(F.col("lo"), 6).as("lo"), F.round(F.col("hi"), 6).as("hi"))
        .orderBy("event_id")
    }),

    // Pairwise correlation matrix in ONE aggregate pass (EDA / feature
    // selection): every corr() is a partial-aggregable moment, so the
    // whole matrix costs a single scan + a 1-row reduce, not a job per
    // pair.
    "qa13_correlations" -> ((s, d) => {
      val li = Tables.load(s, d, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = for {
        (a, i) <- cols.zipWithIndex; (b, j) <- cols.zipWithIndex if i < j
      } yield F.round(F.corr(F.col(a), F.col(b)), 6).as(s"${a}__$b")
      li.agg(aggs.head, aggs.tail: _*)
    }),

    // Salted fact⋈dim join — must produce exactly the plain-join rollup.
    "qa02_salted_join" -> ((s, d) => {
      val orders = Tables.load(s, d, "orders")
      val customer = Tables.load(s, d, "customer")
        .withColumnRenamed("c_custkey", "o_custkey")
      SkewJoin.saltedEquiJoin(orders, customer, Seq("o_custkey"), "o_orderkey", 8)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).as("n_orders"),
          F.round(F.sum("o_totalprice"), 2).as("revenue"))
        .orderBy("c_mktsegment")
    }),

    // EXACT heavy hitters through the Misra–Gries scale path: pass 1 a
    // k=64 MG sketch (≤ 64 counters cross the shuffle, never the
    // vocabulary), pass 2 an exact recount of the ≤ 64 candidates. With
    // k+1 > 1/minShare the result equals DuckDB's plain GROUP BY/HAVING
    // at EVERY corpus size — the sketch is the plan, not the answer.
    "qa15_heavy_hitters" -> ((s, d) => {
      import graft.operators.Sketches
      val words = Tables.load(s, d, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).as("word"))
      Sketches.exactHeavyHitters(words, "word", k = 64, minShare = 0.02)
        .orderBy("word")
    }),

    // HLL sketch rollups under the qa14-style contract gate: per-lang
    // distinct-doc sketches plus their mergeToGrain global rollup, each
    // emitting ok=1 iff the estimate lands within 5% of the exact count
    // (lgK=12 → ±1.6% at 1σ; 5% is the 3σ envelope). The hashed payload
    // is the EXACT count and the gate — engine-stable — while the
    // estimate itself stays spec-gated (SketchSpec owns the error law).
    "qa16_hll_contract" -> ((s, d) => {
      import graft.operators.Sketches
      val docs = Tables.load(s, d, "documents").select("lang", "doc_id")
      val pre = Sketches.distinctSketchRollup(docs, Seq("lang"), "doc_id")
      val perLang = pre
        .join(docs.groupBy("lang").agg(F.count_distinct(F.col("doc_id")).as("nd")), Seq("lang"))
        .select(F.col("lang"), F.col("nd"),
          (F.abs(F.col("approx_distinct") - F.col("nd"))
            <= F.ceil(F.col("nd") * 0.05)).cast("int").as("ok"))
      val global = Sketches.mergeToGrain(pre, Nil)
        .crossJoin(docs.agg(F.count_distinct(F.col("doc_id")).as("nd"))) // 1×1 scalar attach
        .select(F.lit("<all>").as("lang"), F.col("nd"),
          (F.abs(F.col("approx_distinct") - F.col("nd"))
            <= F.ceil(F.col("nd") * 0.05)).cast("int").as("ok"))
      perLang.unionByName(global).orderBy("lang")
    }),

    // CDC latest-state compaction: collapse an event stream to the last
    // row per key (ts DESC, id DESC tiebreak) — the read-side compaction
    // step of every CDC mirror, and what Merge.mergeInPlace's source
    // preparation runs when a batch carries several versions of one key.
    // One window shuffle on the key; no self-join, no global sort.
    "qa17_cdc_compact" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc, F.col("event_id").desc)
      Tables.load(s, d, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") === 1)
        .select(F.col("user_id"), F.col("event_id"), F.col("event_type"),
          graft.functions.TextFunctions.scaledLong(F.col("value"), 2).as("value_c"))
        .orderBy("user_id")
    })
  )

  def oracle: Map[String, String] = Map(
    "qa01_asof_join" ->
      """SELECT a.event_id, a.user_id, a.ts, a.value, b.ts AS asof_ts, b.value AS asof_value
         FROM (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'error') a
         ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') b
           ON a.user_id = b.user_id AND a.ts >= b.ts
         ORDER BY a.event_id""",
    "qa03_topk_aggregate" ->
      """SELECT c_nationkey, rn, o_orderkey, o_totalprice FROM (
           SELECT c_nationkey, o_orderkey, o_totalprice,
           CAST(row_number() OVER (PARTITION BY c_nationkey
             ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
           FROM orders JOIN customer ON o_custkey = c_custkey)
         WHERE rn <= 3 ORDER BY c_nationkey, rn""",
    "qa04_band_join" ->
      """SELECT a.event_id AS e_id, b.event_id AS p_id, a.user_id,
         a.ts AS e_ts, b.ts AS p_ts
         FROM events a JOIN events b
           ON a.user_id = b.user_id
          AND a.event_type = 'error' AND b.event_type = 'purchase'
          AND b.ts BETWEEN a.ts - INTERVAL 10 MINUTE AND a.ts + INTERVAL 10 MINUTE
         ORDER BY e_id, p_id""",
    "qa02_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "qa14_approx_percentile_gate" ->
      """SELECT o_orderpriority, count(*) AS n, CAST(1 AS INT) AS ok
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "qa15_heavy_hitters" ->
      """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY word
         HAVING count(*) >= ceil(0.02 * (
           SELECT count(*) FROM (SELECT unnest(string_split(text, ' ')) FROM documents)))
         ORDER BY word""",
    "qa16_hll_contract" ->
      """SELECT lang, count(DISTINCT doc_id) AS nd, CAST(1 AS INT) AS ok
         FROM documents GROUP BY lang
         UNION ALL
         SELECT '<all>' AS lang, count(DISTINCT doc_id) AS nd, CAST(1 AS INT) AS ok
         FROM documents
         ORDER BY lang""",
    "qa17_cdc_compact" ->
      """SELECT user_id, event_id, event_type,
           CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS value_c
         FROM (SELECT *, row_number() OVER (
                 PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    "qa06_percentiles" ->
      """SELECT o_orderpriority, count(*) AS n,
         round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
         round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
         round(quantile_cont(o_totalprice, 0.75), 2) AS p75
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "qa07_sliding_window" ->
      """SELECT event_id, user_id,
         count(*) OVER w AS n_1h,
         round(sum(value) OVER w, 2) AS sum_1h
         FROM (SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "qa12_outliers" ->
      """SELECT event_id, e.event_type, round(value, 2) AS value,
         round(lo, 6) AS lo, round(hi, 6) AS hi
         FROM events e JOIN (
           SELECT event_type,
             quantile_cont(value, 0.25) - 1.5 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) AS lo,
             quantile_cont(value, 0.75) + 1.5 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) AS hi
           FROM events GROUP BY event_type) b USING (event_type)
         WHERE value < lo OR value > hi
         ORDER BY event_id""",
    "qa13_correlations" ->
      """SELECT
         round(corr(l_quantity, l_extendedprice), 6) AS l_quantity__l_extendedprice,
         round(corr(l_quantity, l_discount), 6) AS l_quantity__l_discount,
         round(corr(l_quantity, l_tax), 6) AS l_quantity__l_tax,
         round(corr(l_extendedprice, l_discount), 6) AS l_extendedprice__l_discount,
         round(corr(l_extendedprice, l_tax), 6) AS l_extendedprice__l_tax,
         round(corr(l_discount, l_tax), 6) AS l_discount__l_tax
         FROM lineitem""",
    "qa11_fuzzy_join" ->
      """SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
         a.p_name AS a_name, b.p_name AS b_name,
         CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
         FROM part a JOIN part b
           ON a.p_name < b.p_name
          AND abs(length(a.p_name) - length(b.p_name)) <= 1
         WHERE levenshtein(a.p_name, b.p_name) = 1
         ORDER BY a_id, b_id""",
    "qa09_argmax" ->
      """SELECT user_id, ts AS last_ts, event_id AS last_event_id,
         round(value, 2) AS last_value
         FROM (SELECT user_id, ts, event_id, value,
           row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    "qa10_grouping_sets" ->
      """SELECT CASE WHEN g_et = 1 THEN '<all>' ELSE event_type END AS event_type,
         CASE WHEN g_hod = 1 THEN '<all>' ELSE CAST(hod AS VARCHAR) END AS hod,
         n, total_value
         FROM (
           SELECT event_type, hod,
             count(*) AS n, round(sum(value), 2) AS total_value,
             GROUPING(event_type) AS g_et, GROUPING(hod) AS g_hod
           FROM (SELECT event_type, EXTRACT(hour FROM ts) AS hod, value FROM events)
           GROUP BY GROUPING SETS ((event_type, hod), (event_type), ()))
         ORDER BY event_type, hod""",
    "qa08_rank_family" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
         CAST(ntile(4) OVER w AS INTEGER) AS quartile,
         round(percent_rank() OVER w, 6) AS pct_rank,
         round(cume_dist() OVER w, 6) AS cume,
         first_value(c_acctbal) OVER w AS nation_min_bal,
         last_value(c_acctbal) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nation_max_bal
         FROM customer
         WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
         ORDER BY c_custkey""",
    "qa05_integrity_checks" ->
      """SELECT 'dup_custkey' AS check_name, count(*) AS n_violations
           FROM (SELECT c_custkey FROM customer GROUP BY c_custkey HAVING count(*) > 1)
         UNION ALL
         SELECT 'orphan_lineitems', count(*) FROM lineitem l
           WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
         UNION ALL
         SELECT 'orphan_orders', count(*) FROM orders o
           WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
         UNION ALL
         SELECT 'qty_range_1_45', count(*) FROM lineitem
           WHERE l_quantity < 1 OR l_quantity > 45
         ORDER BY check_name"""
  )
}
