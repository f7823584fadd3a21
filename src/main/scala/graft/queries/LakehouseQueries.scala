package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.operators.Par

/** The 9 gold analytical views' query shapes
  * (`sql/gold_layer_views_delta.sql`) exercised on the driver's `events`
  * table, oracle-checked: events.event_type='error' plays the is_fraud
  * flag, `value` plays transaction_amount, user_id plays the merchant.
  *
  * (The same view SQL runs verbatim over the fraud star schema via
  * `GoldViews` — covered by LakehouseSpec; these twins put the view
  * semantics under the DuckDB hash gate.)
  */
object LakehouseQueries extends QueryPack {

  private def ev(s: SparkSession, d: String): DataFrame = CoreQueries.events(s, d)

  private val err = "CASE WHEN event_type = 'error' THEN 1 ELSE 0 END"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // daily_summary shape: full multi-metric day rollup with conditional
    // sums, null-safe CASE aggregates, and the guarded fraud-rate ratio.
    "ql01_daily_summary" -> ((s, d) => {
      val e = ev(s, d).withColumn("is_err", (F.col("event_type") === "error").cast("int"))
      e.groupBy(F.date_trunc("day", F.col("ts")).as("report_date"))
        .agg(
          F.count(F.lit(1)).as("total_events"),
          F.count(F.when(F.col("is_err") === 1, F.lit(1))).as("error_events"),
          F.count(F.when(F.col("is_err") === 0, F.lit(1))).as("normal_events"),
          F.round(F.avg("value"), 4).as("avg_value"),
          F.round(F.max("value"), 2).as("max_value"),
          F.round(F.min("value"), 2).as("min_value"),
          F.round(F.sum("value"), 2).as("total_value"),
          F.round(F.coalesce(F.sum(F.when(F.col("is_err") === 1, F.col("value"))), F.lit(0.0)), 2)
            .as("error_value"),
          F.round(F.coalesce(F.avg(F.when(F.col("value") >= 100, F.col("value"))), F.lit(0.0)), 4)
            .as("avg_high_value"))
        .withColumn("error_rate",
          F.round(F.col("error_events").cast("double") / F.col("total_events"), 6))
        .withColumn("avg_error_value",
          F.when(F.col("error_events") > 0,
            F.round(F.col("error_value") / F.col("error_events"), 4)).otherwise(0.0))
        .orderBy("report_date")
    }),

    // merchant_analysis shape: two-key rollup + HAVING + top-100 by rate.
    "ql02_entity_analysis" -> ((s, d) => {
      val e = ev(s, d)
      e.groupBy("user_id")
        .agg(
          F.count(F.lit(1)).as("total_events"),
          F.count(F.when(F.col("event_type") === "error", F.lit(1))).as("error_events"),
          F.round(F.avg("value"), 4).as("avg_value"))
        .filter(F.col("total_events") > 5)
        .withColumn("error_rate",
          F.round(F.col("error_events").cast("double") / F.col("total_events"), 6))
        .orderBy(F.col("error_rate").desc, F.col("user_id"))
        .limit(100)
    }),

    // time_period_analysis shape: bucketed time-of-day × weekend rollup.
    "ql03_time_period" -> ((s, d) => {
      val e = ev(s, d)
        .withColumn("time_period",
          F.when(F.hour(F.col("ts")).between(6, 11), "Morning")
            .when(F.hour(F.col("ts")).between(12, 17), "Afternoon")
            .when(F.hour(F.col("ts")).between(18, 22), "Evening")
            .otherwise("Night"))
        .withColumn("is_weekend", F.dayofweek(F.col("ts")).isin(1, 7).cast("int"))
      e.groupBy("time_period", "is_weekend")
        .agg(
          F.count(F.lit(1)).as("total_events"),
          F.count(F.when(F.col("event_type") === "error", F.lit(1))).as("error_events"),
          F.round(F.avg("value"), 4).as("avg_value"))
        .withColumn("error_rate",
          F.round(F.col("error_events").cast("double") / F.col("total_events"), 6))
        .orderBy("time_period", "is_weekend")
    }),

    // state_summary shape: stream table ⋈ broadcast dim, rollup by the
    // dim attribute (events.user_id plays the customer FK).
    "ql05_segment_summary" -> ((s, d) => {
      val e = ev(s, d)
      val c = graft.runtime.Tables.load(s, d, "customer")
      e.join(F.broadcast(c), e("user_id") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          F.count(F.lit(1)).as("total_events"),
          F.count(F.when(F.col("event_type") === "error", F.lit(1))).as("error_events"),
          F.round(F.avg("value"), 4).as("avg_value"))
        .withColumn("error_rate",
          F.round(F.col("error_events").cast("double") / F.col("total_events"), 6))
        .orderBy("c_mktsegment")
    }),

    // fraud_patterns shape: filtered-population rollup (errors only).
    "ql06_error_patterns" -> ((s, d) => {
      ev(s, d).filter(F.col("event_type") === "error")
        .withColumn("value_bin",
          F.when(F.col("value") < 50, 1).when(F.col("value") < 150, 2)
            .when(F.col("value") < 300, 3).otherwise(4))
        .groupBy("value_bin")
        .agg(
          F.count(F.lit(1)).as("error_count"),
          F.round(F.avg("value"), 4).as("avg_error_value"),
          F.round(F.avg(F.hour(F.col("ts"))), 4).as("avg_hour"),
          F.count(F.when(F.dayofweek(F.col("ts")).isin(1, 7), F.lit(1))).as("weekend_errors"))
        .orderBy("value_bin")
    }),

    // General MERGE (update + delete + insert clauses) as a content
    // transform — graft.layers.Merge.merge against a DuckDB full-outer
    // reconstruction. Source: 10%-sampled price updates (flag 'U'), a
    // delete clause on matched 'F' targets, and offset-keyed inserts.
    "ql07_merge_upsert" -> ((s, d) => {
      val o = graft.runtime.Tables.load(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val updates = o.filter(F.col("o_orderkey") % 10 === 0)
        .select(F.col("o_orderkey"),
          (F.col("o_totalprice") * 1.1).as("o_totalprice"),
          F.lit("U").as("o_orderstatus"))
      val inserts = o.filter(F.col("o_orderkey") % 97 === 0)
        .select((F.col("o_orderkey") + 100000000L).as("o_orderkey"),
          F.col("o_totalprice"), F.lit("N").as("o_orderstatus"))
      graft.layers.Merge.merge(o, updates.unionByName(inserts),
          Seq("o_orderkey"),
          deleteWhen = Some(F.col("t.o_orderstatus") === "F"))
        .select(F.col("o_orderkey"),
          graft.functions.TextFunctions.scaledLong(F.col("o_totalprice"), 2)
            .as("price_c"),
          F.col("o_orderstatus"))
        .orderBy("o_orderkey")
    }),

    // SCD Type 2 dimension maintenance — close-out + new-version +
    // no-op + brand-new-key + history passthrough, all in one batch.
    "ql08_scd2" -> ((s, d) => {
      val c = graft.runtime.Tables.load(s, d, "customer")
      val cur = c.select(F.col("c_custkey"),
        F.col("c_mktsegment"),
        F.to_date(F.lit("2020-01-01")).as("valid_from"),
        F.lit(null).cast("date").as("valid_to"),
        F.lit(true).as("is_current"))
      val hist = c.filter(F.col("c_custkey") % 5 === 0)
        .select(F.col("c_custkey"), F.lit("OLD").as("c_mktsegment"),
          F.to_date(F.lit("2019-01-01")).as("valid_from"),
          F.to_date(F.lit("2020-01-01")).as("valid_to"),
          F.lit(false).as("is_current"))
      val dim = cur.unionByName(hist)
      val updates = c.filter(F.col("c_custkey") % 7 === 0)
        .select(F.col("c_custkey"),
          F.when(F.col("c_custkey") % 14 === 0, F.col("c_mktsegment"))
            .otherwise(F.concat(F.col("c_mktsegment"), F.lit("_V2")))
            .as("c_mktsegment"))
        .unionByName(c.filter(F.col("c_custkey") % 31 === 0)
          .select((F.col("c_custkey") + 1000000L).as("c_custkey"),
            F.lit("NEW").as("c_mktsegment")))
      graft.layers.Merge.scd2(dim, updates, "c_custkey",
          F.to_date(F.lit("2024-06-01")))
        // string/int payload: a Spark DATE round-trips to python date
        // objects while DuckDB emits datetime64 — format both sides
        // (QueryPack parity rules)
        .select(F.col("c_custkey"), F.col("c_mktsegment"),
          F.date_format(F.col("valid_from"), "yyyy-MM-dd").as("valid_from"),
          F.date_format(F.col("valid_to"), "yyyy-MM-dd").as("valid_to"),
          F.col("is_current").cast("int").as("is_current"))
        .orderBy("c_custkey", "valid_from", "is_current")
    }),

    // Change data feed between two table states (Delta CDF's
    // table_changes analog): the two states are derived deterministically
    // from orders — %5=0 keys deleted, %5=4 keys inserted, %3=0 survivors
    // get a mutated o_custkey (update pre+post images), the rest are
    // unchanged and emit nothing. All-integer/string payload.
    "ql09_snapshot_diff" -> ((s, d) => {
      val o = graft.runtime.Tables.load(s, d, "orders")
      val before = o.filter(F.col("o_orderkey") % 5 =!= 4)
        .select(F.col("o_orderkey"), F.col("o_custkey"), F.col("o_orderstatus"))
      val after = o.filter(F.col("o_orderkey") % 5 =!= 0)
        .select(F.col("o_orderkey"),
          F.when(F.col("o_orderkey") % 3 === 0, F.col("o_custkey") + 1000000L)
            .otherwise(F.col("o_custkey")).as("o_custkey"),
          F.col("o_orderstatus"))
      graft.layers.Merge.diff(before, after, Seq("o_orderkey"))
        .orderBy("o_orderkey", "change_type")
    }),

    // Change-feed-DRIVEN incremental view maintenance, oracle-gated end to
    // end (the consumer side of ql09's feed): three versions of an
    // orders-derived base table — deletes, inserts, measure updates, and
    // a GROUP-MIGRATING update (o_orderpriority rewritten, so the
    // preimage must leave one group and the postimage enter another).
    // The summary is bootstrapped at v0 and advanced ONLY by applying
    // Merge.diff feeds (v0→v1, v1→v2), never rescanning a later version;
    // the oracle aggregates the FINAL state directly — a hash match
    // proves feed application ≡ rebuild. Integer measures keep the
    // incremental sums bit-exact across engines (QueryPack taxonomy).
    "ql10_incremental_view" -> ((s, d) => {
      val o = graft.runtime.Tables.load(s, d, "orders")
      val v0 = IvmFixture.version(o, 0, withBucket = false)
      val v1 = IvmFixture.version(o, 1, withBucket = false)
      val v2 = IvmFixture.version(o, 2, withBucket = false)
      val grp = Seq("o_orderstatus", "o_orderpriority")
      val view0 = graft.layers.IncrementalView.summarize(v0, grp, Seq("price"))
      val view1 = graft.layers.IncrementalView.applyChanges(view0,
        graft.layers.Merge.diff(v0, v1, Seq("o_orderkey")), grp, Seq("price"))
      graft.layers.IncrementalView.applyChanges(view1,
        graft.layers.Merge.diff(v1, v2, Seq("o_orderkey")), grp, Seq("price"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // Incremental MIN/MAX maintenance through the bounded synopsis
    // (IncrementalView.applyChangesExtremes): same three base versions as
    // ql10 — deletes, inserts, measure updates, group migrations — but the
    // view now carries price_min/price_max kept current by feed
    // application over a k=2 synopsis. k=2 is deliberately tight so some
    // groups EXHAUST under the %7 deletes and take the group-targeted
    // rescan path while most answer from the synopsis; either way the
    // hash must equal DuckDB's min/max over the final state, which is
    // exactly the "delete under min without a full rescan" contract.
    // The feeds are WRITER-SIDE (IvmFixture.feeds — pushed-filter scans,
    // no full-outer state diff; row-for-row ≡ Merge.diff by
    // IncrementalFeedSpec), the change-set provenance a real maintenance
    // cadence has via Merge.scd2WithFeed; the diff-path composition
    // stays end-to-end proven by ql10.
    "ql11_incremental_minmax" -> ((s, d) => {
      val o = graft.runtime.Tables.load(s, d, "orders")
      val v1 = IvmFixture.version(o, 1, withBucket = false)
      val v2 = IvmFixture.version(o, 2, withBucket = false)
      val grp = Seq("o_orderstatus", "o_orderpriority")
      val iv = graft.layers.IncrementalView
      val sum0 = iv.summarize(IvmFixture.version(o, 0, withBucket = false), grp, Seq("price"))
      val aux0 = iv.bootstrapExtremes(IvmFixture.version(o, 0, withBucket = false), grp, "price", 2)
      // each feed drives BOTH the summable apply and the synopsis apply,
      // and the sum chain is consumed again downstream — materialize the
      // feeds once (change-set-sized), mirroring refresh's feed cache.
      // The two feed materializations are INDEPENDENT actions (both read
      // only `orders`), as are the v0→v1 synopsis apply and the v1→v2
      // summable apply once sum1 exists — overlap each independent pair
      // (round-16, guide §2.6: this chain is ~8 serialized tiny actions
      // of pure driver/stage latency, plan-identical across rounds)
      val (f01, f12) = IvmFixture.feeds(o, withBucket = false)
      val (d01, d12) = Par.both(f01.localCheckpoint(), f12.localCheckpoint())
      // the advanced summaries are view-sized (18 rows) but their lineage
      // reaches back through the feeds to the base scans — each is
      // consumed by the synopsis apply AND the next application, so
      // materialize them too (refresh reads them from snapshots instead)
      val sum1 = iv.applyChanges(sum0, d01, grp, Seq("price")).localCheckpoint()
      val ((aux1, _), sum2) = Par.both(
        iv.applyChangesExtremes(aux0, d01, sum1, v1, grp, "price", 2),
        iv.applyChanges(sum1, d12, grp, Seq("price")).localCheckpoint())
      val (aux2, _) = iv.applyChangesExtremes(aux1, d12, sum2, v2, grp, "price", 2)
      iv.withExtremes(sum2, aux2, grp, "price")
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // Incremental DISTINCT-count maintenance: same three versions and
    // feeds as ql10/ql11, but the view now carries an exact
    // count(distinct price_bucket) kept current by maintaining the
    // (group, value) row-count summary one level down — a value drops out
    // of the distinct count exactly when its LAST instance is deleted,
    // which the summable n_rows>0 filter decides with no rescan. The
    // bucket is deliberately coarse (floor(price/1000)) so deletes land
    // on multi-instance values (count unchanged) AND last-instance values
    // (count drops), and the +5000 measure update moves rows BETWEEN
    // buckets; hash must equal DuckDB's count(distinct) over the final
    // state. All-BIGINT payloads (QueryPack taxonomy).
    "ql12_incremental_distinct" -> ((s, d) => {
      val o = graft.runtime.Tables.load(s, d, "orders")
      val v0 = IvmFixture.version(o, 0, withBucket = true)
      val grp = Seq("o_orderstatus", "o_orderpriority")
      val iv = graft.layers.IncrementalView
      val sum0 = iv.summarize(v0, grp, Seq("price"))
      val aux0 = iv.summarize(v0, grp :+ "price_bucket", Nil)
      // writer-side feeds, same provenance story as ql11; the two feed
      // materializations and the two v0→v1 applies are independent
      // action pairs — overlap each (round-16, guide §2.6, see ql11)
      val (f01, f12) = IvmFixture.feeds(o, withBucket = true)
      val (d01, d12) = Par.both(f01.localCheckpoint(), f12.localCheckpoint())
      val (sum1, aux1) = Par.both(
        iv.applyChanges(sum0, d01, grp, Seq("price")).localCheckpoint(),
        iv.applyChanges(aux0, d01, grp :+ "price_bucket", Nil).localCheckpoint())
      val sum2 = iv.applyChanges(sum1, d12, grp, Seq("price"))
      val aux2 = iv.applyChanges(aux1, d12, grp :+ "price_bucket", Nil)
      iv.withDistinctCount(sum2, aux2, grp, "price_bucket")
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // FACT-SCALE insert-only view maintenance
    // (IncrementalView.refreshFromAppends): the events fact table arrives
    // as three partitioned APPENDS (split by event time — the Hwm
    // contract), and the per-event-type summary view — counts, integer
    // value sums, exact min/max through the synopsis, exact distinct
    // users — is advanced purely from rows above the committed
    // high-water mark: the adapter never snapshots or diffs the fact,
    // each refresh scans only the new slice (pushed ts filter). The
    // oracle aggregates the final state directly; a hash match proves
    // three HWM-fed refreshes ≡ a rebuild. floor(value) is a single IEEE
    // op over the raw double — safe across engines (QueryPack taxonomy);
    // caller-owned versions 0/1/2 mirror the foreachBatch epoch
    // discipline a standing stream would use.
    "ql13_incremental_appends" -> ((s, d) => {
      val iv = graft.layers.IncrementalView
      val fact = ev(s, d).select(F.col("event_type"), F.col("user_id"),
        F.floor(F.col("value")).cast("long").as("v"), F.col("ts"))
      val viewPath = Scratch.dir("graft-ql13-") + "/view"
      def cut(lit: String) = fact.filter(F.col("ts") < F.to_timestamp(F.lit(lit)))
      Seq(cut("2024-01-11"), cut("2024-01-21"), fact)
        .zipWithIndex.foreach { case (state, n) =>
          iv.refreshFromAppends(s, state, viewPath, "ts",
            Seq("event_type"), Seq("v"), minMaxCol = Some("v"),
            distinctCol = Some("user_id"), version = Some(n.toLong))
        }
      graft.layers.Snapshots.read(s, viewPath).orderBy("event_type")
    }),

    // ZONE-MAP DATA SKIPPING over the atomic batch protocol
    // (AtomicAppend `_STATS` + the pruning reader + z-order clustered
    // compaction — the per-file-stats role of Delta's `_delta_log`): the
    // events fact arrives as three time-sliced appends (each spanning
    // the full user/value domain), gets folded into 8 z-range batches
    // clustered on (user_id, value), and is then read through
    // `read(path, predicate)` — which drops every batch whose zone map
    // proves the selective 2-column predicate empty BEFORE any scan.
    // The oracle aggregates the same filter over the raw table directly:
    // a hash match proves the pruned read ≡ a full filter (skipping is
    // sound), while DataSkippingSpec pins that batches actually skip.
    // All-BIGINT measures; value >= 100.0 is a raw IEEE compare, safe
    // across engines (QueryPack taxonomy). ProtocolAudit tripwires
    // (round-14, after the r13 driver red here): if the fold drifted
    // content or the pruned read diverges from the full filter IN THIS
    // ENVIRONMENT, fail with kept/skipped ids + per-batch stats in the
    // message instead of an undiagnosable hash mismatch.
    "ql14_data_skipping" -> ((s, d) => {
      val aa = graft.layers.AtomicAppend
      val base = Scratch.dir("graft-ql14-") + "/events"
      val fact = ev(s, d).select("event_id", "ts", "user_id", "event_type", "value")
      val cols = Seq("ts", "user_id", "value")
      def cut(c: org.apache.spark.sql.Column) = fact.filter(c)
      val day11 = F.to_timestamp(F.lit("2024-01-11"))
      val day21 = F.to_timestamp(F.lit("2024-01-21"))
      // one overlapped landing, serial visibility — identical content and
      // commit history to three sequential appends (round-16, guide §2.6)
      aa.appendAll(base, Seq(
        (cut(F.col("ts") < day11), 0L),
        (cut(F.col("ts") >= day11 && F.col("ts") < day21), 1L),
        (cut(F.col("ts") >= day21), 2L)), statsCols = cols)
      aa.compactClustered(s, base, Seq("user_id", "value"), numBatches = 8,
        statsCols = cols)
      val pred = F.col("user_id") >= 3L && F.col("user_id") < 9L &&
        F.col("value") >= 100.0
      if (graft.layers.ProtocolAudit.inGate) {
        graft.layers.ProtocolAudit.assertTableContent(s, base, fact, "ql14")
        graft.layers.ProtocolAudit.assertPrunedReadSound(s, base, pred, "ql14")
      }
      aa.read(s, base, pred)
        .groupBy("event_type")
        .agg(
          F.count(F.lit(1)).as("n_events"),
          F.countDistinct("user_id").as("n_users"),
          F.sum(F.floor(F.col("value")).cast("long")).as("sum_v"))
        .orderBy("event_type")
    }),

    // BLOOM-FILTER point-lookup skipping (AtomicAppend `_BLOOM`
    // sidecars): the needle-in-haystack shape zone maps structurally
    // cannot prune — a SCRAMBLED high-cardinality key (odd-multiplier
    // hash of event_id, injective below the prime modulus) spans the
    // full min/max range in every arrival batch, so only membership
    // proves absence. Three keyed lookups through `read(path, pred)`
    // open only the batches whose filters say "might contain"
    // (BloomSkipSpec pins the skip counts; the scrambling multiplier is
    // odd and the ids sit far below the modulus, so key IN (k(11),
    // k(4567), k(8887)) ≡ event_id IN (11, 4567, 8887) — which is the
    // oracle's filter over the raw table). Exact integer payloads.
    "ql15_bloom_lookup" -> ((s, d) => {
      val aa = graft.layers.AtomicAppend
      val base = Scratch.dir("graft-ql15-") + "/events"
      val keyed = ev(s, d).select(
        F.col("event_id"), F.col("ts"), F.col("user_id"), F.col("event_type"),
        F.col("value"),
        (F.col("event_id") * F.lit(2654435761L) % F.lit(999999937L)).as("event_key"))
      val day11 = F.to_timestamp(F.lit("2024-01-11"))
      val day21 = F.to_timestamp(F.lit("2024-01-21"))
      aa.appendAll(base, Seq(
        (keyed.filter(F.col("ts") < day11), 0L),
        (keyed.filter(F.col("ts") >= day11 && F.col("ts") < day21), 1L),
        (keyed.filter(F.col("ts") >= day21), 2L)),
        statsCols = Seq("ts"), bloomCols = Seq("event_key"))
      def k(id: Long) = id * 2654435761L % 999999937L
      aa.read(s, base, F.col("event_key").isin(k(11), k(4567), k(8887)))
        .select(F.col("event_id"), F.col("event_type"), F.col("user_id"),
          F.floor(F.col("value")).cast("long").as("v"))
        .orderBy("event_id")
    }),

    // INSERT-ONLY CHANGE FEED over the commit log
    // (AtomicAppend.changesBetween — Delta CDF's role for batch tables):
    // the events fact lands as four ts-sliced appends with a COMPACTION
    // in the middle of the consumed window; the feed from the first
    // commit must be exactly the rows of the three later appends — the
    // logged commit KIND is what stops the fold from re-emitting the
    // whole table (a naive id-diff across it would double everything).
    // The oracle filters the raw table to the same ts range; a hash
    // match proves the feed is content-exact across the fold.
    "ql16_change_feed" -> ((s, d) => {
      val aa = graft.layers.AtomicAppend
      val base = Scratch.dir("graft-ql16-") + "/events"
      val fact = ev(s, d).select("event_id", "ts", "user_id", "event_type", "value")
      def day(n: Int) = F.to_timestamp(F.lit(f"2024-01-$n%02d"))
      aa.appendAll(base, Seq(
        (fact.filter(F.col("ts") < day(8)), 0L), // v0
        (fact.filter(F.col("ts") >= day(8) && F.col("ts") < day(15)), 1L), // v1
        (fact.filter(F.col("ts") >= day(15) && F.col("ts") < day(22)), 2L))) // v2
      aa.compact(s, base) // v3: content-preserving fold mid-window
      aa.append(fact.filter(F.col("ts") >= day(22)), base, batchId = Some(9L)) // v4
      val latest = aa.versions(s, base).last
      // ProtocolAudit tripwires (round-14, after the r13 driver red
      // here): prove the fold preserved the table and the feed is
      // content-exact IN THIS ENVIRONMENT — a divergence fails with the
      // commit history (kinds included) + per-batch counts in the
      // message instead of an undiagnosable hash mismatch.
      if (graft.layers.ProtocolAudit.inGate) {
        graft.layers.ProtocolAudit.assertTableContent(s, base, fact, "ql16")
        graft.layers.ProtocolAudit.assertFeedExact(s, base, 0L, latest,
          fact.filter(F.col("ts") >= day(8)), "ql16")
      }
      aa.changesBetween(s, base, 0L, latest)
        .groupBy("event_type")
        .agg(
          F.count(F.lit(1)).as("n_events"),
          F.countDistinct("user_id").as("n_users"),
          F.sum(F.floor(F.col("value")).cast("long")).as("sum_v"),
          F.min("event_id").as("min_id"),
          F.max("event_id").as("max_id"))
        .orderBy("event_type")
    }),

    // ADD-COLUMN SCHEMA EVOLUTION through the append gate (Delta
    // mergeSchema's role; `silver_job.py:204-227` is the reference's
    // ad-hoc variant): a narrow batch lands, a wider batch (one new
    // BIGINT column) appends after it, the logged table schema evolves,
    // and the read binds EVERY batch under the evolved schema —
    // pre-evolution rows null-fill the new column. The oracle
    // reconstructs the same table as a UNION ALL with explicit NULL
    // backfill; count(bonus)/sum(bonus) prove the null-fill semantics
    // exactly (nulls excluded from both, in both engines). All-BIGINT.
    "ql17_schema_evolution" -> ((s, d) => {
      val aa = graft.layers.AtomicAppend
      val base = Scratch.dir("graft-ql17-") + "/events"
      val fact = ev(s, d).select(F.col("event_id"), F.col("ts"),
        F.col("user_id"), F.col("event_type"),
        F.floor(F.col("value")).cast("long").as("v"))
      val day15 = F.to_timestamp(F.lit("2024-01-15"))
      val narrow = fact.filter(F.col("ts") < day15)
        .select("event_id", "user_id", "event_type", "v")
      val wide = fact.filter(F.col("ts") >= day15)
        .select(F.col("event_id"), F.col("user_id"), F.col("event_type"),
          F.col("v"), (F.col("user_id") * 7L + F.col("event_id") % 13L).as("bonus"))
      aa.append(narrow, base, batchId = Some(0L))
      aa.append(wide, base, batchId = Some(1L)) // ADD-COLUMN: + bonus
      aa.read(s, base)
        .groupBy("event_type")
        .agg(
          F.count(F.lit(1)).as("n_events"),
          F.sum("v").as("sum_v"),
          F.count(F.col("bonus")).as("n_bonus"),
          F.sum("bonus").as("sum_bonus"))
        .orderBy("event_type")
    }),

    // COPY-ON-WRITE DELETE through the batch protocol (Delta DELETE's
    // role): three ts-sliced appends land with (user_id, value) zone
    // maps, a z-order fold tightens the ranges, then deleteWhere removes
    // a selective two-column slice — the SAME pruning that serves reads
    // picks the write set, so only the matching z-range batches rewrite
    // (RewriteSpec pins the untouched ids). The oracle applies SQL
    // DELETE semantics directly (keep rows where the predicate is not
    // true); the ProtocolAudit tripwire proves the rewritten table ≡
    // that filter IN THIS ENVIRONMENT before the payload aggregates.
    "ql18_delete_where" -> ((s, d) => {
      val aa = graft.layers.AtomicAppend
      val base = Scratch.dir("graft-ql18-") + "/events"
      val fact = ev(s, d).select("event_id", "ts", "user_id", "event_type", "value")
      val cols = Seq("user_id", "value")
      val day11 = F.to_timestamp(F.lit("2024-01-11"))
      val day21 = F.to_timestamp(F.lit("2024-01-21"))
      aa.appendAll(base, Seq(
        (fact.filter(F.col("ts") < day11), 0L),
        (fact.filter(F.col("ts") >= day11 && F.col("ts") < day21), 1L),
        (fact.filter(F.col("ts") >= day21), 2L)), statsCols = cols)
      aa.compactClustered(s, base, Seq("user_id", "value"), numBatches = 8,
        statsCols = cols)
      val pred = F.col("user_id") >= 3L && F.col("user_id") < 7L &&
        F.col("value") >= 200.0
      aa.deleteWhere(s, base, pred)
      if (graft.layers.ProtocolAudit.inGate)
        graft.layers.ProtocolAudit.assertTableContent(s, base,
          fact.filter(!F.coalesce(pred, F.lit(false))), "ql18")
      aa.read(s, base)
        .groupBy("event_type")
        .agg(
          F.count(F.lit(1)).as("n_events"),
          F.countDistinct("user_id").as("n_users"),
          F.sum(F.floor(F.col("value")).cast("long")).as("sum_v"))
        .orderBy("event_type")
    }),

    // COPY-ON-WRITE UPDATE (Delta UPDATE's role): flag high-value events
    // in place — matching rows get event_type rewritten, FALSE/NULL rows
    // pass through — then aggregate BY the rewritten column so the
    // update's effect is the payload. The oracle computes the same
    // transform as a CASE projection over the raw table.
    "ql19_update_where" -> ((s, d) => {
      val aa = graft.layers.AtomicAppend
      val base = Scratch.dir("graft-ql19-") + "/events"
      val fact = ev(s, d).select("event_id", "ts", "user_id", "event_type", "value")
      val day15 = F.to_timestamp(F.lit("2024-01-15"))
      aa.appendAll(base, Seq(
        (fact.filter(F.col("ts") < day15), 0L),
        (fact.filter(F.col("ts") >= day15), 1L)), statsCols = Seq("value"))
      aa.updateWhere(s, base, F.col("value") >= 400.0,
        Map("event_type" -> F.lit("flagged")))
      if (graft.layers.ProtocolAudit.inGate)
        graft.layers.ProtocolAudit.assertTableContent(s, base,
          fact.withColumn("event_type",
            F.when(F.col("value") >= 400.0, "flagged").otherwise(F.col("event_type"))),
          "ql19")
      aa.read(s, base)
        .groupBy("event_type")
        .agg(
          F.count(F.lit(1)).as("n_events"),
          F.sum(F.floor(F.col("value")).cast("long")).as("sum_v"))
        .orderBy("event_type")
    }),

    // ROW-LEVEL CHANGE DATA FEED (Delta CDF's `table_changes` role, the
    // full-fidelity sibling of ql16's insert-only feed): three appends,
    // a copy-on-write UPDATE, then a DELETE — and the feed over the full
    // window (-1 → latest) replays every change tagged with its
    // _change_type. The payload aggregates the feed per change_type, so
    // a wrong preimage, a missed postimage, or a re-emitted fold row all
    // hash-diverge. The oracle rebuilds the same feed relationally:
    // inserts = the raw rows, update pre/post = the UPDATE's match set
    // before/after assignment, deletes = the DELETE's match set over the
    // post-update image (the engine's feed must reflect the same
    // ordering of the two rewrites). cents = scaledLong(value, 2) —
    // one IEEE multiply + floor, the QueryPack fixed-point contract, so
    // every measure is BIGINT end to end.
    "ql20_change_feed_rows" -> ((s, d) => {
      val aa = graft.layers.AtomicAppend
      val base = Scratch.dir("graft-ql20-") + "/events"
      def phase[T](tag: String)(body: => T): T =
        if (sys.env.contains("GRAFT_PHASE_TIMING")) {
          val t0 = System.nanoTime(); val r = body
          System.err.println(f"[ql20-phase] $tag ${(System.nanoTime()-t0)/1e9}%.2fs")
          r
        } else body
      val fact = ev(s, d).select(
        F.col("event_id"), F.col("ts"), F.col("user_id"), F.col("event_type"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").as("cents"))
      val cols = Seq("user_id", "cents")
      val day11 = F.to_timestamp(F.lit("2024-01-11"))
      val day21 = F.to_timestamp(F.lit("2024-01-21"))
      phase("appends") {
        aa.appendAll(base, Seq(
          (fact.filter(F.col("ts") < day11), 0L),
          (fact.filter(F.col("ts") >= day11 && F.col("ts") < day21), 1L),
          (fact.filter(F.col("ts") >= day21), 2L)), statsCols = cols)
      }
      phase("update") {
        aa.updateWhere(s, base,
          F.col("event_type") === "click" && F.col("cents") < 5000L,
          Map("cents" -> (F.col("cents") + 7L)))
      }
      phase("delete") {
        aa.deleteWhere(s, base, F.col("user_id") % 10L === 3L)
      }
      val latest = aa.versions(s, base).last
      aa.changeFeed(s, base, -1L, latest)
        .groupBy(F.col("_change_type").as("change_type"))
        .agg(
          F.count(F.lit(1)).as("n_rows"),
          F.sum("cents").as("sum_cents"),
          F.countDistinct("user_id").as("n_users"),
          F.countDistinct("event_id").as("n_ids"))
        .orderBy("change_type")
    }),

    // MERGE-ON-READ DELETE (Delta deletion vectors' role): the first
    // delete writes POSITIONS only (no batch rewrites — the mask is a
    // broadcast anti-join on parquet _metadata), the clustered fold then
    // MATERIALIZES the mask and resets it, a second delete masks the
    // clustered batches, and the payload reads through batch pruning AND
    // the live mask at once. The oracle is the equivalent sequential
    // filter; ProtocolAudit proves content equality IN THIS ENVIRONMENT
    // before the payload aggregates, so a divergence names the batch.
    "ql21_mor_delete" -> ((s, d) => {
      val aa = graft.layers.AtomicAppend
      val base = Scratch.dir("graft-ql21-") + "/events"
      val fact = ev(s, d).select("event_id", "ts", "user_id", "event_type", "value")
      val cols = Seq("user_id", "value")
      val day11 = F.to_timestamp(F.lit("2024-01-11"))
      val day21 = F.to_timestamp(F.lit("2024-01-21"))
      aa.appendAll(base, Seq(
        (fact.filter(F.col("ts") < day11), 0L),
        (fact.filter(F.col("ts") >= day11 && F.col("ts") < day21), 1L),
        (fact.filter(F.col("ts") >= day21), 2L)), statsCols = cols)
      aa.deleteWhereMergeOnRead(s, base, F.col("user_id") % 7L === 2L)
      aa.compactClustered(s, base, Seq("user_id", "value"), numBatches = 8,
        statsCols = cols)
      aa.deleteWhereMergeOnRead(s, base, F.col("value") >= 300.0)
      val kept = !(F.col("user_id") % 7L === 2L) && !(F.col("value") >= 300.0)
      if (graft.layers.ProtocolAudit.inGate)
        graft.layers.ProtocolAudit.assertTableContent(s, base,
          fact.filter(kept), "ql21")
      aa.read(s, base, F.col("user_id") >= 3L && F.col("user_id") < 60L)
        .groupBy("event_type")
        .agg(
          F.count(F.lit(1)).as("n_events"),
          F.countDistinct("user_id").as("n_users"),
          F.sum(F.floor(F.col("value")).cast("long")).as("sum_v"))
        .orderBy("event_type")
    }),

    // MERGE INTO through the batch protocol (Delta MERGE's role): the
    // target is a per-user summary appended in three user-ranged batches
    // (tight zone maps + blooms on the key), the source is a later date
    // slice whose keys map to [50,99] evens (updates) or +10000 (inserts)
    // — so key pruning rewrites ONLY the middle batch while the other two
    // survive by identity, and unmatched keys insert. The payload is the
    // WHOLE merged table; the oracle is DuckDB's full-outer
    // reconstruction with source-wins coalesce. All-BIGINT measures.
    "ql22_merge_into" -> ((s, d) => {
      val aa = graft.layers.AtomicAppend
      val base = Scratch.dir("graft-ql22-") + "/users"
      val day21 = F.to_timestamp(F.lit("2024-01-21"))
      val target = ev(s, d).filter(F.col("ts") < day21)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.floor(F.col("value")).cast("long")).as("sv"))
      aa.appendAll(base, Seq(
        (target.filter(F.col("user_id") < 50L), 0L),
        (target.filter(F.col("user_id") >= 50L && F.col("user_id") < 100L), 1L),
        (target.filter(F.col("user_id") >= 100L), 2L)),
        statsCols = Seq("user_id"), bloomCols = Seq("user_id"))
      val source = ev(s, d).filter(F.col("ts") >= day21)
        .withColumn("user_id",
          F.when(F.col("user_id") >= 50L && F.col("user_id") < 100L &&
            F.col("user_id") % 2L === 0L, F.col("user_id"))
            .otherwise(F.col("user_id") + 10000L))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.floor(F.col("value")).cast("long")).as("sv"))
      aa.mergeInto(s, base, source, Seq("user_id"))
      aa.read(s, base)
        .select("user_id", "n", "sv")
        .orderBy("user_id")
    }),

    // MULTI-WRITER OPTIMISTIC COMMITS (OccTable — Delta's optimistic
    // commit protocol role): the events fact lands through the OCC path
    // — each commit an atomic create-if-absent _VLOG entry, visibility
    // resolved at the adopted log tip, no manifest — as three ts-sliced
    // appends, an optimistic fold, and a post-fold append (a commit that
    // must rebase its live set over the fold's). The payload reads the
    // tip; the oracle aggregates the raw table — a hash match proves the
    // OCC commit chain is content-exact end to end, including the two
    // racing appends below. Conflict aborts (a fold whose sources were
    // replaced) stay OccTableSpec's: forcing one needs a scripted
    // interleaving, which a query cannot stage.
    "ql23_occ_commits" -> ((s, d) => {
      val occ = graft.layers.OccTable
      val base = Scratch.dir("graft-ql23-") + "/events"
      occ.create(s, base)
      val fact = ev(s, d).select("event_id", "ts", "user_id", "event_type", "value")
      val day11 = F.to_timestamp(F.lit("2024-01-11"))
      val day21 = F.to_timestamp(F.lit("2024-01-21"))
      // the first two appends run as genuinely CONCURRENT writers —
      // exactly the multi-writer contention the OCC protocol exists for
      // (claimBatchId + CAS commit loop; OccFuzzSpec's surface). Final
      // content is the union either way; only the interleaving of the
      // two commit log entries varies, which no reader observes.
      Par.both(
        occ.append(fact.filter(F.col("ts") < day11), base, statsCols = Seq("user_id")),
        occ.append(fact.filter(F.col("ts") >= day11 && F.col("ts") < day21), base,
          statsCols = Seq("user_id")))
      occ.compact(s, base)
      occ.append(fact.filter(F.col("ts") >= day21), base, statsCols = Seq("user_id"))
      occ.read(s, base)
        .groupBy("event_type")
        .agg(
          F.count(F.lit(1)).as("n_events"),
          F.countDistinct("user_id").as("n_users"),
          F.sum(F.floor(F.col("value")).cast("long")).as("sum_v"))
        .orderBy("event_type")
    }),

    // latest_metrics shape: single-row global metrics + alert ladder.
    "ql04_latest_metrics" -> ((s, d) => {
      ev(s, d).agg(
          F.count(F.lit(1)).as("total_events"),
          F.count(F.when(F.col("event_type") === "error", F.lit(1))).as("errors_detected"),
          F.round(F.avg("value"), 4).as("avg_value"),
          F.max("ts").as("last_update"))
        .withColumn("error_rate",
          F.round(F.col("errors_detected").cast("double") / F.col("total_events"), 6))
        .withColumn("alert_level",
          F.when(F.col("error_rate") > 0.25, "HIGH")
            .when(F.col("error_rate") > 0.15, "MEDIUM")
            .otherwise("LOW"))
    })
  )

  def oracle: Map[String, String] = Map(
    "ql01_daily_summary" ->
      s"""SELECT report_date, total_events, error_events, normal_events, avg_value,
         max_value, min_value, total_value, error_value, avg_high_value,
         round(CAST(error_events AS DOUBLE) / total_events, 6) AS error_rate,
         CASE WHEN error_events > 0 THEN round(error_value / error_events, 4) ELSE 0.0 END AS avg_error_value
         FROM (
           SELECT date_trunc('day', ts) AS report_date,
             count(*) AS total_events,
             count(CASE WHEN event_type = 'error' THEN 1 END) AS error_events,
             count(CASE WHEN event_type <> 'error' THEN 1 END) AS normal_events,
             round(avg(value), 4) AS avg_value,
             round(max(value), 2) AS max_value,
             round(min(value), 2) AS min_value,
             round(sum(value), 2) AS total_value,
             round(coalesce(sum(CASE WHEN event_type = 'error' THEN value END), 0), 2) AS error_value,
             round(coalesce(avg(CASE WHEN value >= 100 THEN value END), 0), 4) AS avg_high_value
           FROM events GROUP BY 1)
         ORDER BY report_date""",
    "ql02_entity_analysis" ->
      """SELECT user_id, total_events, error_events, avg_value,
         round(CAST(error_events AS DOUBLE) / total_events, 6) AS error_rate
         FROM (
           SELECT user_id, count(*) AS total_events,
             count(CASE WHEN event_type = 'error' THEN 1 END) AS error_events,
             round(avg(value), 4) AS avg_value
           FROM events GROUP BY user_id HAVING count(*) > 5)
         ORDER BY error_rate DESC, user_id LIMIT 100""",
    "ql03_time_period" ->
      """SELECT time_period, is_weekend, total_events, error_events, avg_value,
         round(CAST(error_events AS DOUBLE) / total_events, 6) AS error_rate
         FROM (
           SELECT CASE WHEN EXTRACT(hour FROM ts) BETWEEN 6 AND 11 THEN 'Morning'
                       WHEN EXTRACT(hour FROM ts) BETWEEN 12 AND 17 THEN 'Afternoon'
                       WHEN EXTRACT(hour FROM ts) BETWEEN 18 AND 22 THEN 'Evening'
                       ELSE 'Night' END AS time_period,
             CAST(EXTRACT(dow FROM ts) IN (0, 6) AS INTEGER) AS is_weekend,
             count(*) AS total_events,
             count(CASE WHEN event_type = 'error' THEN 1 END) AS error_events,
             round(avg(value), 4) AS avg_value
           FROM events GROUP BY 1, 2)
         ORDER BY time_period, is_weekend""",
    "ql05_segment_summary" ->
      """SELECT c_mktsegment, total_events, error_events, avg_value,
         round(CAST(error_events AS DOUBLE) / total_events, 6) AS error_rate
         FROM (
           SELECT c_mktsegment, count(*) AS total_events,
             count(CASE WHEN event_type = 'error' THEN 1 END) AS error_events,
             round(avg(value), 4) AS avg_value
           FROM events JOIN customer ON user_id = c_custkey
           GROUP BY c_mktsegment)
         ORDER BY c_mktsegment""",
    "ql07_merge_upsert" ->
      """WITH src AS (
           SELECT o_orderkey AS k, o_totalprice * 1.1 AS p, 'U' AS st
           FROM orders WHERE o_orderkey % 10 = 0
           UNION ALL
           SELECT o_orderkey + 100000000, o_totalprice, 'N'
           FROM orders WHERE o_orderkey % 97 = 0),
         m AS (
           SELECT coalesce(s.k, t.o_orderkey) AS o_orderkey,
             CASE WHEN s.k IS NOT NULL THEN s.p ELSE t.o_totalprice END AS price,
             CASE WHEN s.k IS NOT NULL THEN s.st ELSE t.o_orderstatus END AS status,
             (s.k IS NOT NULL AND t.o_orderkey IS NOT NULL
               AND t.o_orderstatus = 'F') AS del
           FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.k)
         SELECT o_orderkey,
           CAST(floor(price * 1e2 + 0.5) AS BIGINT) AS price_c,
           status AS o_orderstatus
         FROM m WHERE NOT coalesce(del, FALSE)
         ORDER BY o_orderkey""",
    "ql08_scd2" ->
      """WITH cur AS (
           SELECT c_custkey AS k, c_mktsegment AS seg,
             DATE '2020-01-01' AS vf, CAST(NULL AS DATE) AS vt, TRUE AS cu
           FROM customer),
         hist AS (
           SELECT c_custkey AS k, 'OLD' AS seg, DATE '2019-01-01' AS vf,
             DATE '2020-01-01' AS vt, FALSE AS cu
           FROM customer WHERE c_custkey % 5 = 0),
         upd AS (
           SELECT c_custkey AS k,
             CASE WHEN c_custkey % 14 = 0 THEN c_mktsegment
                  ELSE c_mktsegment || '_V2' END AS seg
           FROM customer WHERE c_custkey % 7 = 0
           UNION ALL
           SELECT c_custkey + 1000000, 'NEW' FROM customer WHERE c_custkey % 31 = 0),
         j AS (
           SELECT coalesce(cur.k, upd.k) AS k, cur.seg AS dseg, upd.seg AS useg,
             cur.k IS NOT NULL AS hasd, upd.k IS NOT NULL AS hasu, cur.vf AS vf
           FROM cur FULL OUTER JOIN upd ON cur.k = upd.k),
         outp AS (
           SELECT k, seg, vf, vt, cu FROM hist
           UNION ALL
           SELECT k, dseg, vf, DATE '2024-06-01', FALSE FROM j
           WHERE hasd AND hasu AND dseg IS DISTINCT FROM useg
           UNION ALL
           SELECT k, useg, DATE '2024-06-01', CAST(NULL AS DATE), TRUE FROM j
           WHERE hasu AND (NOT hasd OR dseg IS DISTINCT FROM useg)
           UNION ALL
           SELECT k, dseg, vf, CAST(NULL AS DATE), TRUE FROM j
           WHERE hasd AND (NOT hasu OR NOT (dseg IS DISTINCT FROM useg)))
         SELECT k AS c_custkey, seg AS c_mktsegment,
           strftime(vf, '%Y-%m-%d') AS valid_from,
           strftime(vt, '%Y-%m-%d') AS valid_to,
           CAST(cu AS INT) AS is_current
         FROM outp ORDER BY c_custkey, valid_from, is_current""",
    "ql09_snapshot_diff" ->
      """WITH b AS (SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS s
           FROM orders WHERE o_orderkey % 5 <> 4),
         a AS (SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 3 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS c,
             o_orderstatus AS s
           FROM orders WHERE o_orderkey % 5 <> 0),
         j AS (SELECT b.k AS bk, b.c AS bc, b.s AS bs, a.k AS ak, a.c AS ac, a.s AS asx
           FROM b FULL OUTER JOIN a ON b.k = a.k)
         SELECT k AS o_orderkey, c AS o_custkey, s AS o_orderstatus, change_type FROM (
           SELECT ak AS k, ac AS c, asx AS s, 'insert' AS change_type FROM j WHERE bk IS NULL
           UNION ALL
           SELECT bk, bc, bs, 'delete' FROM j WHERE ak IS NULL
           UNION ALL
           SELECT bk, bc, bs, 'update_preimage' FROM j
           WHERE bk IS NOT NULL AND ak IS NOT NULL
             AND (bc IS DISTINCT FROM ac OR bs IS DISTINCT FROM asx)
           UNION ALL
           SELECT ak, ac, asx, 'update_postimage' FROM j
           WHERE bk IS NOT NULL AND ak IS NOT NULL
             AND (bc IS DISTINCT FROM ac OR bs IS DISTINCT FROM asx))
         ORDER BY o_orderkey, change_type""",
    "ql10_incremental_view" ->
      """SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(price) AS BIGINT) AS price_sum
         FROM (
           SELECT o_orderstatus,
             CASE WHEN o_orderkey % 17 = 0 THEN 'MIGRATED'
                  ELSE o_orderpriority END AS o_orderpriority,
             CAST(floor(o_totalprice) AS BIGINT)
               + CASE WHEN o_orderkey % 11 = 0 THEN 5000 ELSE 0 END
               + CASE WHEN o_orderkey % 13 = 0 THEN 77 ELSE 0 END AS price
           FROM orders WHERE o_orderkey % 7 <> 3)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "ql11_incremental_minmax" ->
      """SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(price) AS BIGINT) AS price_sum,
           CAST(min(price) AS BIGINT) AS price_min,
           CAST(max(price) AS BIGINT) AS price_max
         FROM (
           SELECT o_orderstatus,
             CASE WHEN o_orderkey % 17 = 0 THEN 'MIGRATED'
                  ELSE o_orderpriority END AS o_orderpriority,
             CAST(floor(o_totalprice) AS BIGINT)
               + CASE WHEN o_orderkey % 11 = 0 THEN 5000 ELSE 0 END
               + CASE WHEN o_orderkey % 13 = 0 THEN 77 ELSE 0 END AS price
           FROM orders WHERE o_orderkey % 7 <> 3)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "ql12_incremental_distinct" ->
      """SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(price) AS BIGINT) AS price_sum,
           CAST(count(DISTINCT price_bucket) AS BIGINT) AS price_bucket_distinct
         FROM (
           SELECT o_orderstatus,
             CASE WHEN o_orderkey % 17 = 0 THEN 'MIGRATED'
                  ELSE o_orderpriority END AS o_orderpriority,
             price,
             CAST(floor(price / 1000) AS BIGINT) AS price_bucket
           FROM (
             SELECT o_orderkey, o_orderstatus, o_orderpriority,
               CAST(floor(o_totalprice) AS BIGINT)
                 + CASE WHEN o_orderkey % 11 = 0 THEN 5000 ELSE 0 END
                 + CASE WHEN o_orderkey % 13 = 0 THEN 77 ELSE 0 END AS price
             FROM orders WHERE o_orderkey % 7 <> 3))
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "ql13_incremental_appends" ->
      """SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(v) AS BIGINT) AS v_sum,
           CAST(min(v) AS BIGINT) AS v_min,
           CAST(max(v) AS BIGINT) AS v_max,
           CAST(count(DISTINCT user_id) AS BIGINT) AS user_id_distinct
         FROM (SELECT event_type, user_id,
                 CAST(floor(value) AS BIGINT) AS v
               FROM events)
         GROUP BY 1 ORDER BY 1""",
    "ql14_data_skipping" ->
      """SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_v
         FROM events
         WHERE user_id >= 3 AND user_id < 9 AND value >= 100.0
         GROUP BY event_type ORDER BY event_type""",
    "ql16_change_feed" ->
      """SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_v,
           min(event_id) AS min_id,
           max(event_id) AS max_id
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-08'
         GROUP BY event_type ORDER BY event_type""",
    "ql17_schema_evolution" ->
      """SELECT event_type,
           count(*) AS n_events,
           CAST(sum(v) AS BIGINT) AS sum_v,
           count(bonus) AS n_bonus,
           CAST(sum(bonus) AS BIGINT) AS sum_bonus
         FROM (
           SELECT event_type, CAST(floor(value) AS BIGINT) AS v,
             CAST(NULL AS BIGINT) AS bonus
           FROM events WHERE ts < TIMESTAMP '2024-01-15'
           UNION ALL
           SELECT event_type, CAST(floor(value) AS BIGINT),
             user_id * 7 + event_id % 13
           FROM events WHERE ts >= TIMESTAMP '2024-01-15')
         GROUP BY event_type ORDER BY event_type""",
    "ql18_delete_where" ->
      """SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_v
         FROM events
         WHERE NOT (user_id >= 3 AND user_id < 7 AND value >= 200.0)
         GROUP BY event_type ORDER BY event_type""",
    "ql19_update_where" ->
      """SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_v
         FROM (
           SELECT CASE WHEN value >= 400.0 THEN 'flagged'
                       ELSE event_type END AS event_type, value
           FROM events)
         GROUP BY event_type ORDER BY event_type""",
    "ql22_merge_into" ->
      """WITH t AS (
           SELECT user_id, count(*) AS n,
             CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sv
           FROM events WHERE ts < TIMESTAMP '2024-01-21' GROUP BY user_id),
         s AS (
           SELECT CASE WHEN user_id >= 50 AND user_id < 100 AND user_id % 2 = 0
                       THEN user_id ELSE user_id + 10000 END AS user_id,
             count(*) AS n,
             CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sv
           FROM events WHERE ts >= TIMESTAMP '2024-01-21' GROUP BY 1)
         SELECT coalesce(s.user_id, t.user_id) AS user_id,
           coalesce(s.n, t.n) AS n,
           coalesce(s.sv, t.sv) AS sv
         FROM t FULL OUTER JOIN s ON t.user_id = s.user_id
         ORDER BY user_id""",
    "ql21_mor_delete" ->
      """SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_v
         FROM events
         WHERE user_id >= 3 AND user_id < 60
           AND NOT (user_id % 7 = 2) AND NOT (value >= 300.0)
         GROUP BY event_type ORDER BY event_type""",
    "ql20_change_feed_rows" ->
      """WITH t AS (
           SELECT event_id, user_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events),
         u AS (SELECT * FROM t WHERE event_type = 'click' AND cents < 5000),
         t2 AS (
           SELECT event_id, user_id, event_type,
             CASE WHEN event_type = 'click' AND cents < 5000
                  THEN cents + 7 ELSE cents END AS cents
           FROM t),
         d AS (SELECT * FROM t2 WHERE user_id % 10 = 3),
         feed AS (
           SELECT 'insert' AS change_type, event_id, user_id, cents FROM t
           UNION ALL
           SELECT 'update_preimage', event_id, user_id, cents FROM u
           UNION ALL
           SELECT 'update_postimage', event_id, user_id, cents + 7 FROM u
           UNION ALL
           SELECT 'delete', event_id, user_id, cents FROM d)
         SELECT change_type,
           count(*) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT event_id) AS n_ids
         FROM feed
         GROUP BY change_type ORDER BY change_type""",
    "ql23_occ_commits" ->
      """SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_v
         FROM events
         GROUP BY event_type ORDER BY event_type""",
    "ql15_bloom_lookup" ->
      """SELECT event_id, event_type, user_id,
           CAST(floor(value) AS BIGINT) AS v
         FROM events
         WHERE event_id IN (11, 4567, 8887)
         ORDER BY event_id""",
    "ql06_error_patterns" ->
      """SELECT CASE WHEN value < 50 THEN 1 WHEN value < 150 THEN 2
                    WHEN value < 300 THEN 3 ELSE 4 END AS value_bin,
         count(*) AS error_count,
         round(avg(value), 4) AS avg_error_value,
         round(avg(EXTRACT(hour FROM ts)), 4) AS avg_hour,
         count(CASE WHEN EXTRACT(dow FROM ts) IN (0, 6) THEN 1 END) AS weekend_errors
         FROM events WHERE event_type = 'error'
         GROUP BY 1 ORDER BY value_bin""",
    "ql04_latest_metrics" ->
      """SELECT total_events, errors_detected, avg_value, last_update,
         round(CAST(errors_detected AS DOUBLE) / total_events, 6) AS error_rate,
         CASE WHEN round(CAST(errors_detected AS DOUBLE) / total_events, 6) > 0.25 THEN 'HIGH'
              WHEN round(CAST(errors_detected AS DOUBLE) / total_events, 6) > 0.15 THEN 'MEDIUM'
              ELSE 'LOW' END AS alert_level
         FROM (
           SELECT count(*) AS total_events,
             count(CASE WHEN event_type = 'error' THEN 1 END) AS errors_detected,
             round(avg(value), 4) AS avg_value,
             max(ts) AS last_update
           FROM events)"""
  )
}
