package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.{Ingest, Sinks, Tables}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a
  * named query over the driver testdata, with a DuckDB-ANSI oracle twin in
  * [[oracleSql]] where the semantics are SQL-expressible. Queries whose
  * output depends on engine-internal hashing (xxhash64 signatures, LSH
  * bucketing, sketches, binary payload processing) are registered without
  * an oracle → the driver records a rows-only check; their correctness is
  * asserted in the ScalaTest suite instead (recall vs brute force,
  * tolerance vs exact twins).
  *
  * Determinism contract (what makes the driver's value-hash compare work):
  *   - every query output is fully ordered by a unique key, and the oracle
  *     SQL carries the same ORDER BY;
  *   - every fractional aggregate is an exact DECIMAL sum (order-
  *     independent) divided/rounded in double — never a raw double sum;
  *   - computed integer columns are LONG on the Spark side to match
  *     DuckDB's BIGINT defaults.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val t = Tables(spark, "/root/testdata/sf0.001")
    Relational
      .revenueByNation(t.lineitem, t.orders, t.customer, t.nation, t.region)
      .orderBy("n_name", "r_name")
  }

  /** Per-data-dir tag for session-cached table names (indexes, merges,
    * bucketed prep): md5 of the full path, so two dirs can never share
    * a tag the way `hashCode` could in principle collide — a collision
    * would silently probe the wrong corpus's index.
    */
  private def dirTag(d: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Queries whose FIRST call builds session-cached state (a persisted
    * index, a merges table, bucketed prep, a corpus-state family) that
    * later calls reuse — so run 1 is build-inclusive and NOT comparable
    * to the warm runs. [[graft.Bench]] pins run 1 separately in
    * `first_call`, gives these queries one extra run so their warm
    * estimate averages over as many comparable samples as every other
    * query's, and its box-noise retry guard must NOT min-merge a warm
    * rerun into the build-inclusive first reading. Membership requires
    * only that run 1 does extra one-time table prep; queries like q170/
    * q172 that re-run their whole operator every call (delta, compact)
    * still belong — their run 1 additionally builds the v1 state.
    */
  val buildOnFirstCall: Set[String] = Set(
    "q34_ann_topk_lsh", "q48_bucketed_join", "q51_ann_topk_ivf",
    "q129_neardup_probe", "q130_exact_probe", "q132_simhash_probe",
    "q135_bpe_vocab", "q136_bloom_probe", "q140_bpe_encode",
    "q142_semantic_probe", "q144_pack_bpe", "q146_packed_export",
    "q147_chunk_encoded", "q149_classifier_store", "q150_lm_store",
    "q156_quantile_store", "q162_winnow_probe",
    "q170_corpus_delta", "q172_corpus_compact", "q173_reconcile_audit",
    "q174_retrain_pressure", "q175_corpus_retrain",
    "q178_vacuum_policy")

  private def annQueries(t: Tables): DataFrame =
    t.embeddings.filter(col("vec_id") < 5)

  /** One roundtrip-tmp tag per JVM: concurrent harnesses (separate JVMs)
    * stay isolated, while repeated runs inside one JVM (bench min-of-2)
    * OVERWRITE their dirs instead of accumulating a copy per call.
    */
  private lazy val rtTag: Long = System.nanoTime()

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.2 projections / filters + §2.5 sorts / limits -------------
    "q01_scan_filter_project" -> ((s, d) =>
      Relational.scanFilterProject(Tables(s, d).lineitem)
        .orderBy("l_orderkey", "l_linenumber")),
    "q10_top_orders_by_price" -> ((s, d) =>
      Relational.topOrdersByPrice(Tables(s, d).orders)),
    "q15_order_scalar_features" -> ((s, d) =>
      Relational.orderScalarFeatures(Tables(s, d).orders)
        .orderBy("o_orderkey")),
    "q18_sample_lineitem" -> ((s, d) =>
      Relational.sampleLineitem(Tables(s, d).lineitem)
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- §2.4 aggregations --------------------------------------------
    "q02_pricing_summary" -> ((s, d) =>
      Relational.pricingSummary(Tables(s, d).lineitem)
        .orderBy("l_returnflag", "l_linestatus")),
    "q03_extrema_by_key" -> ((s, d) =>
      Relational.extremaByKey(Tables(s, d).lineitem)
        .orderBy("l_returnflag")),
    "q04_avg_balance_by_nation" -> ((s, d) =>
      Relational.avgBalanceByNation(Tables(s, d).customer)
        .orderBy("c_nationkey")),
    "q11_distinct_part_count" -> ((s, d) =>
      Relational.distinctPartCount(Tables(s, d).lineitem)),

    // ---- §2.3 joins ---------------------------------------------------
    "q05_revenue_by_brand" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.revenueByBrand(t.lineitem, t.part).orderBy("p_brand")
    }),
    "q06_revenue_by_nation" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.revenueByNation(t.lineitem, t.orders, t.customer, t.nation,
        t.region).orderBy("n_name", "r_name")
    }),
    "q08_segment_balance_gap" -> ((s, d) =>
      Relational.segmentBalanceGap(Tables(s, d).customer)
        .orderBy("c_nationkey")),
    "q09_segment_balance_pivot" -> ((s, d) =>
      Relational.segmentBalancePivot(Tables(s, d).customer)
        .orderBy("c_nationkey")),

    // ---- §2.5 windows -------------------------------------------------
    "q07_top_orders_per_priority" -> ((s, d) =>
      Relational.topOrdersPerPriority(Tables(s, d).orders)
        .orderBy("o_orderpriority", "rn")),
    "q17_user_running_value" -> ((s, d) =>
      Relational.userRunningValue(Tables(s, d).events)
        .orderBy("user_id", "event_seq")),

    // ---- §2.6 set operations ------------------------------------------
    "q12_nations_intersect" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.nationsIntersect(t.customer, t.supplier).orderBy("nationkey")
    }),
    "q13_nations_except" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.nationsExcept(t.customer, t.supplier).orderBy("nationkey")
    }),
    "q14_nations_union" -> ((s, d) => {
      val t = Tables(s, d)
      Relational.nationsUnion(t.customer, t.supplier).orderBy("nationkey")
    }),

    // ---- event-time aggregation (T7 batch analogue) -------------------
    "q16_events_hourly" -> ((s, d) =>
      Relational.eventsHourly(Tables(s, d).events)
        .orderBy("hour", "event_type")),

    // ---- word-count family (A1/A5/A6/A7) ------------------------------
    "q19_word_count" -> ((s, d) =>
      TextOps.wordCount(Tables(s, d).documents).orderBy("word")),
    "q20_word_length_count" -> ((s, d) =>
      TextOps.wordLengthCount(Tables(s, d).documents).orderBy("word_len")),
    "q21_avg_word_length_by_initial" -> ((s, d) =>
      TextOps.avgWordLengthByInitial(Tables(s, d).documents)
        .orderBy("initial")),
    "q22_inverted_index" -> ((s, d) =>
      TextOps.invertedIndex(Tables(s, d).documents).orderBy("word")),
    "q54_tf_idf" -> ((s, d) =>
      TextOps.tfIdf(Tables(s, d).documents).orderBy("doc_id", "word")),
    "q56_collocations" -> ((s, d) =>
      TextOps.collocations(Tables(s, d).documents).orderBy("w1", "w2")),
    "q57_bm25" -> ((s, d) =>
      TextOps.bm25(Tables(s, d).documents).orderBy("doc_id", "word")),

    // ---- text analysis ------------------------------------------------
    "q23_quality_features" -> ((s, d) =>
      TextAnalysis.qualityFeatures(Tables(s, d).documents).orderBy("doc_id")),
    "q24_token_stats_by_lang" -> ((s, d) =>
      TextAnalysis.tokenStatsByLang(Tables(s, d).documents).orderBy("lang")),
    "q25_corpus_stats" -> ((s, d) =>
      TextAnalysis.corpusStats(Tables(s, d).documents)
        .orderBy("lang", "source")),
    "q26_fingerprints" -> ((s, d) =>
      TextAnalysis.fingerprints(Tables(s, d).documents).orderBy("doc_id")),
    "q27_language_id" -> ((s, d) =>
      TextAnalysis.languageId(Tables(s, d).documents).orderBy("doc_id")),

    // ---- dedup --------------------------------------------------------
    "q28_exact_dup_groups" -> ((s, d) =>
      Dedup.exactGroups(Tables(s, d).documents).orderBy("fp")),
    "q29_exact_dedup" -> ((s, d) =>
      Dedup.exactDedup(Tables(s, d).documents).orderBy("doc_id")),
    "q30_dup_stats" -> ((s, d) =>
      Dedup.dupStats(Tables(s, d).documents)),
    "q31_minhash_dup_pairs" -> ((s, d) =>
      Dedup.minhashDupPairs(Tables(s, d).documents, threshold = 0.7,
        k = 64, bands = 32).orderBy("doc_a", "doc_b")),
    "q32_simhash_dup_pairs" -> ((s, d) =>
      Dedup.simhashDupPairs(Tables(s, d).documents, portable = true)
        .orderBy("doc_a", "doc_b")),

    // ---- curation pipeline (quality → language → dedup, one pass) -----
    "q52_curate" -> ((s, d) =>
      Curation.curate(Tables(s, d).documents).orderBy("doc_id")),
    "q53_curation_funnel" -> ((s, d) =>
      Curation.curationFunnel(Tables(s, d).documents).orderBy("verdict")),

    // ---- similarity search over embeddings ----------------------------
    "q33_ann_topk_exact" -> ((s, d) => {
      val t = Tables(s, d)
      Similarity.bruteForceTopK(t.embeddings, annQueries(t))
        .orderBy("q_id", "rnk")
    }),
    "q34_ann_topk_lsh" -> ((s, d) => {
      val t = Tables(s, d)
      // 16 x 4-bit tables: sized for this corpus's near-random geometry
      // (expected recall ~0.87 at top-10); see SimilaritySpec. The index
      // is built ONCE per (session, data dir) and probed thereafter — the
      // persisted-index path whose query latency excludes the build. The
      // table name carries the dir so a session serving several data dirs
      // never probes the wrong corpus's index. PORTABLE signature family
      // (md5-derived integer planes over the 10⁻⁶-quantized vector) so
      // the DuckDB oracle replays the bucket structure exactly — the
      // native fused-codegen planes stay the production default and are
      // recall/subset-gated in SimilaritySpec.
      val idx = s"graft_lsh_index_${dirTag(d)}"
      if (!s.catalog.tableExists(idx))
        Similarity.buildLshIndex(t.embeddings, idx, bits = 4, tables = 16,
          portable = true)
      Similarity.queryLshIndex(s, idx, annQueries(t), bits = 4,
          tables = 16, portable = true)
        .orderBy("q_id", "rnk")
    }),
    "q35_cosine_dup_pairs" -> ((s, d) =>
      Similarity.cosineDupPairs(Tables(s, d).embeddings)
        .orderBy("id_a", "id_b")),
    "q50_label_centroids" -> ((s, d) =>
      Similarity.labelCentroidComponents(Tables(s, d).embeddings)
        .orderBy("label", "pos")),
    "q51_ann_topk_ivf" -> ((s, d) => {
      val t = Tables(s, d)
      // persisted-index path: train + assign once per (session, data
      // dir), then the probe reads only the nprobe cells' partitions
      val tag = dirTag(d)
      val (idx, cents) = (s"graft_ivf_index_$tag", s"graft_ivf_cents_$tag")
      if (!s.catalog.tableExists(idx))
        Similarity.buildIvfIndex(t.embeddings, idx, cents)
      Similarity.queryIvfIndex(s, idx, cents, annQueries(t), nprobe = 5)
        .orderBy("q_id", "rnk")
    }),

    // ---- sketches (A11–A13) with exact twins --------------------------
    "q36_sketch_distinct" -> ((s, d) =>
      Sketches.distinctCounts(Tables(s, d).lineitem)),
    // PORTABLE sketch family (md5/integer — the q32/q34 pattern): the
    // DuckDB oracle replays the full cell/bit tables, so these are
    // rows+schema+hash gated, not rows-only. The native sketch objects
    // (df.stat.countMinSketch / bloomFilter) stay the production
    // default and are property-gated against the exact twins in
    // SketchesSpec.
    "q37_cms_frequencies" -> ((s, d) =>
      Sketches.cmsFrequenciesPortable(s, Tables(s, d).lineitem,
        "l_returnflag", Seq("A", "N", "R")).orderBy("key")),
    "q38_exact_frequencies" -> ((s, d) =>
      Sketches.exactFrequencies(Tables(s, d).lineitem, "l_returnflag",
        Seq("A", "N", "R")).orderBy("key")),
    "q39_bloom_membership" -> ((s, d) =>
      Sketches.bloomMembershipPortable(s, Tables(s, d).lineitem,
        "l_returnflag", Seq("A", "N", "R", "X", "Z"))
        .orderBy("candidate")),

    // ---- multimodal plumbing ------------------------------------------
    "q40_media_features" -> ((s, d) =>
      Multimodal.mediaFeatures(s, Tables(s, d).documents).orderBy("doc_id")),
    "q41_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(
        Multimodal.attachBinary(Tables(s, d).documents))
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame")).cast("long").as("frame_len"))
        .orderBy("doc_id", "frame_idx")),

    // ---- ingest layer through the correctness gate (S1–S9/K1–K3) ------
    // round trips: engine-written file -> engine-read file -> aggregate;
    // the oracle is the same aggregate straight off the parquet, so any
    // value/row corruption in the sink or source fails the hash compare
    "q42_csv_roundtrip" -> ((s, d) => {
      val src = Tables(s, d).lineitem
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      val dir =
        s"${System.getProperty("java.io.tmpdir")}/graft_rt_csv_$rtTag"
      Sinks.writeCsv(src, dir)
      Ingest.readCsv(s, dir, src.schema)
        .groupBy("l_returnflag")
        .agg(
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
            .as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double")
            .as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    }),
    "q43_fixedwidth_roundtrip" -> ((s, d) => {
      // format orders as fixed-width records in flight, parse them back
      // with the positional parser, aggregate — S3 without touching disk.
      // lpad/rpad/concat stay inside whole-stage codegen; format_string
      // (java.util.Formatter per row) was 3x slower at sf0.1. NOTE:
      // lpad-with-zeros assumes non-negative values (TPC-H prices are);
      // a signed field needs the sign hoisted before the padding
      val lines = Tables(s, d).orders.select(
        concat(
          lpad(col("o_orderkey").cast("string"), 8, "0"),
          lpad(col("o_totalprice").cast("decimal(14,2)").cast("string"),
            15, "0"),
          rpad(col("o_orderpriority"), 15, " ")).as("value"))
      Ingest.parseFixedWidth(lines, Seq(
        Ingest.FixedField("o_orderkey", 0, 8, "long"),
        Ingest.FixedField("o_totalprice", 8, 23, "double"),
        Ingest.FixedField("o_orderpriority", 23, 38)))
        .groupBy("o_orderpriority")
        .agg(
          sum(col("o_totalprice").cast("decimal(14,2)")).cast("double")
            .as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    }),
    "q44_json_roundtrip" -> ((s, d) => {
      val src = Tables(s, d).nation
      val dir =
        s"${System.getProperty("java.io.tmpdir")}/graft_rt_json_$rtTag"
      Sinks.writeJson(src, dir)
      Ingest.readJson(s, dir, Some(src.schema))
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"))
        .orderBy("n_regionkey")
    }),

    // ---- P11 / U1 / semi-structured ----------------------------------
    "q45_row_index" -> ((s, d) =>
      Relational.withRowIndex(
        Tables(s, d).orders.select("o_orderkey", "o_totalprice")
          .orderBy("o_orderkey"))
        .orderBy("row_idx")),
    "q46_typed_avg" -> ((s, d) => {
      val words = Tables(s, d).documents.select(
        explode(TextAnalysis.tokens(col("text"))).as("word"))
      words
        .select(substring(col("word"), 1, 1).as("initial"),
          length(col("word")).cast("long").as("len"))
        .groupBy("initial")
        .agg(
          udaf(graft.functions.LongAvg,
            org.apache.spark.sql.Encoders.scalaLong)(col("len"))
            .as("avg_len"),
          count(lit(1)).as("cnt"))
        .orderBy("initial")
    }),
    "q47_event_prop_stats" -> ((s, d) =>
      Relational.eventPropStats(Tables(s, d).events)
        .orderBy("event_type")),
    "q55_sessionize" -> ((s, d) =>
      Relational.sessionize(Tables(s, d).events)
        .orderBy("user_id", "session_id")),

    // W1 heap variant through the gate: same oracle as q07
    "q49_topk_heap" -> ((s, d) =>
      Relational.topOrdersPerPriorityHeap(Tables(s, d).orders)
        .orderBy("o_orderpriority", "rn")),

    // K5/J2 through the gate: write both sides as co-bucketed managed
    // tables, join them WITHOUT a shuffle (bucket-local sort-merge), and
    // aggregate — the oracle is the same join+agg straight off parquet
    "q48_bucketed_join" -> ((s, d) => {
      val t = Tables(s, d)
      // the bucketed tables are built ONCE per (session, data dir) — the
      // write is table prep, the operator under test is the shuffle-free
      // bucket-local join. Names carry the dir so a session serving
      // several data dirs never joins the wrong corpus's buckets.
      val tag = dirTag(d)
      val (ordersB, liB) = (s"graft_orders_b_$tag", s"graft_lineitem_agg_b_$tag")
      if (!s.catalog.tableExists(ordersB))
        Sinks.saveTablePartitioned(t.orders, ordersB,
          bucketBy = Some((8, Seq("o_orderkey"))), sortBy = Seq("o_orderkey"))
      if (!s.catalog.tableExists(liB))
        Sinks.saveTablePartitioned(
          t.lineitem.groupBy("l_orderkey")
            .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("order_qty"),
              count(lit(1)).as("n_items")),
          liB,
          bucketBy = Some((8, Seq("l_orderkey"))), sortBy = Seq("l_orderkey"))
      s.table(ordersB)
        .join(s.table(liB),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          sum("order_qty").cast("double").as("sum_qty"),
          sum("n_items").as("n_items"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // ---- training-data assembly ops ------------------------------------
    // decontamination: does a training doc share 5-grams with the eval
    // set? Benchmark = every 29th doc (deterministic slice of the corpus)
    "q62_benchmark_overlap" -> ((s, d) => {
      val docs = Tables(s, d).documents
      Dedup.benchmarkOverlap(
        docs.filter(col("doc_id") % 29 =!= 0),
        docs.filter(col("doc_id") % 29 === 0))
        .orderBy("doc_id")
    }),
    "q63_repetition_signals" -> ((s, d) =>
      TextAnalysis.repetitionSignals(Tables(s, d).documents)
        .orderBy("doc_id")),
    "q64_pack_sequences" -> ((s, d) =>
      Relational.packSequences(Tables(s, d).documents, budgetTokens = 2048)
        .orderBy("doc_id")),
    "q65_stratified_mix" -> ((s, d) =>
      Relational.stratifiedSampleDeterministic(
        Tables(s, d).documents.select("doc_id", "lang", "source"),
        "lang", Map("en" -> 0.5, "zh" -> 0.25), "doc_id")
        .orderBy("doc_id")),
    // exact form through the oracle; the approx_percentile sketch is the
    // 100 TB path and is tolerance-tested against this in TextSpec
    "q66_token_quantiles" -> ((s, d) =>
      TextAnalysis.tokenQuantiles(Tables(s, d).documents, exact = true)
        .orderBy("lang")),
    "q67_funnel" -> ((s, d) =>
      Relational.funnel(Tables(s, d).events,
        Seq("view", "click", "purchase")).orderBy("step")),

    "q73_cohort_retention" -> ((s, d) =>
      Relational.cohortRetention(Tables(s, d).events)
        .orderBy("cohort_day", "day_offset")),
    // near-dup cluster resolution over q31's pair list: every doc in a
    // pair mapped to its component's minimum doc_id
    "q74_dup_components" -> ((s, d) =>
      Dedup.dupComponents(
        Dedup.minhashDupPairs(Tables(s, d).documents, threshold = 0.7,
          k = 64, bands = 32))
        .orderBy("doc_id")),

    // ---- OLAP surface widening -----------------------------------------
    // rollup subtotals; NULL grouping slots relabeled 'ALL' for a stable
    // cross-engine representation (data itself has no nulls in the keys)
    "q68_rollup_subtotals" -> ((s, d) =>
      Tables(s, d).lineitem
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
            .as("sum_qty"),
          count(lit(1)).as("cnt"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("cnt"))
        .orderBy("returnflag", "linestatus")),
    // salting must be TRANSPARENT: the oracle is the plain unsalted agg
    "q69_salted_agg" -> ((s, d) =>
      Skew.saltedSumCount(
        Tables(s, d).lineitem.select(col("l_returnflag"),
          col("l_quantity").cast("decimal(12,2)").as("q")),
        "l_returnflag", "q")
        .select(col("l_returnflag"),
          col("sum_value").cast("double").as("sum_qty"), col("cnt"))
        .orderBy("l_returnflag")),
    // customers with NO high-value order (threshold keeps the result
    // non-empty on the synthetic data, where every customer has orders)
    "q70_anti_join" -> ((s, d) => {
      val t = Tables(s, d)
      t.customer
        .join(t.orders.filter(col("o_totalprice") > 300000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_nationkey").orderBy("c_custkey")
    }),
    "q71_semi_join" -> ((s, d) => {
      val t = Tables(s, d)
      t.supplier
        .join(t.lineitem, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_nationkey").orderBy("s_suppkey")
    }),
    "q72_full_outer" -> ((s, d) => {
      val t = Tables(s, d)
      val c = t.customer.groupBy(col("c_nationkey").as("ck"))
        .agg(count(lit(1)).as("n_cust"))
      val sp = t.supplier.groupBy(col("s_nationkey").as("sk"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(sp, col("ck") === col("sk"), "full_outer")
        .select(
          coalesce(col("ck"), col("sk")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    }),

    // ---- S11: the spark.sql STRING surface over registered views ------
    // same semantics as the DataFrame twins (q06/q19/q07), authored as
    // SQL text against Tables.registerAll's catalog — proves §3.2 ≡ §3.3
    // through the hard gate, not just SqlParitySpec
    "q58_sql_revenue_by_nation" -> ((s, d) => {
      Tables(s, d).registerAll()
      s.sql("""
        WITH rev AS (
          SELECT l_orderkey,
            sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS order_rev,
            count(*) AS n_items
          FROM lineitem GROUP BY l_orderkey)
        SELECT n_name, r_name,
          CAST(sum(order_rev) AS DOUBLE) AS revenue,
          CAST(sum(n_items) AS BIGINT) AS n_items,
          count(*) AS n_orders
        FROM orders
        JOIN rev ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY n_name, r_name
        ORDER BY n_name, r_name""")
    }),
    "q60_sql_word_count" -> ((s, d) => {
      Tables(s, d).registerAll()
      // LATERAL VIEW explode — the SQL spelling of the flatMap tokenize
      // (303-spark-sql/README.md:96-129 lifecycle over a temp view)
      s.sql("""
        SELECT word, count(*) AS cnt
        FROM documents
        LATERAL VIEW explode(filter(split(text, '\\s+'), x -> x != ''))
          t AS word
        GROUP BY word ORDER BY word""")
    }),
    "q61_sql_top_orders" -> ((s, d) => {
      Tables(s, d).registerAll()
      s.sql("""
        SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
            CAST(row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
          FROM orders) ranked
        WHERE rn <= 3
        ORDER BY o_orderpriority, rn""")
    }),

    // the native Catalyst expression itself through the gate, via SQL
    // text: cosine_similarity is injected by GraftExtensions (the Verify/
    // Bench sessions set spark.sql.extensions), and the result must
    // hash-match DuckDB's dot-product arithmetic — same oracle as q33
    "q75_sql_cosine_topk" -> ((s, d) => {
      Tables(s, d).registerAll()
      s.sql("""
        WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
                   FROM embeddings WHERE vec_id < 5),
        sc AS (SELECT q_id, vec_id,
                 round(cosine_similarity(q_emb, embedding), 6) AS sim
               FROM embeddings CROSS JOIN q),
        r AS (SELECT q_id, vec_id, sim,
                CAST(row_number() OVER (PARTITION BY q_id
                  ORDER BY sim DESC, vec_id) AS BIGINT) AS rnk
              FROM sc)
        SELECT q_id, vec_id, sim, rnk FROM r WHERE rnk <= 10
        ORDER BY q_id, rnk""")
    }),

    // ---- S1/S2/S6/S8 through the gate: text sink → text scan →
    // in-flight CSV parse (from_csv) → aggregate; the oracle is the same
    // aggregate straight off parquet, so any line-level corruption in
    // writeText/readText/parseCsvColumn fails the hash compare
    "q59_textline_roundtrip" -> ((s, d) => {
      val base = Tables(s, d).customer
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val dir =
        s"${System.getProperty("java.io.tmpdir")}/graft_rt_text_$rtTag"
      Sinks.writeText(base.select(concat_ws("|",
        col("c_custkey"), col("c_nationkey"), col("c_acctbal")).as("value")),
        dir)
      val lines = Ingest.readText(s, dir, minPartitions = 4)
      Ingest.parseCsvColumn(lines, col("value"), base.schema, delimiter = "|")
        .select("parsed.*")
        .groupBy("c_nationkey")
        .agg(
          sum(col("c_acctbal").cast("decimal(12,2)")).cast("double")
            .as("sum_bal"),
          count(lit(1)).as("cnt"))
        .orderBy("c_nationkey")
    }),

    // ---- temporal joins (beyond the reference's equi-join-only §2.3) --
    // as-of join via one tagged-union window sweep; oracle = DuckDB's
    // native ASOF LEFT JOIN — two independent implementations of the
    // same semantics must hash-match
    "q76_asof_join" -> ((s, d) =>
      Temporal.viewsWithLastPurchase(Tables(s, d).events)
        .orderBy("user_id", "event_id")),
    // the forward direction: earliest purchase at-or-after each view
    "q88_asof_forward" -> ((s, d) =>
      Temporal.viewsWithNextPurchase(Tables(s, d).events)
        .orderBy("user_id", "event_id")),
    // interval join via bucket-explode + equi-join; oracle = the naive
    // range-predicate join DuckDB can afford at sf0.01
    "q77_interval_join" -> ((s, d) =>
      Temporal.purchaseWindowViews(Tables(s, d).events)
        .orderBy("purchase_id")),

    // ---- window-analytics breadth (lag/delta/rank/moving avg) ---------
    "q78_event_windows" -> ((s, d) =>
      Relational.userEventWindows(Tables(s, d).events)
        .orderBy("user_id", "event_seq")),

    // ---- OLAP: cube (all 2^k subtotal combinations; q68 is rollup) ----
    "q79_cube_subtotals" -> ((s, d) =>
      Tables(s, d).lineitem
        .cube("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
            .as("sum_qty"),
          count(lit(1)).as("cnt"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("cnt"))
        .orderBy("returnflag", "linestatus")),

    // ---- OLAP: unpivot/melt — the inverse of q09's pivot --------------
    "q80_unpivot_segments" -> ((s, d) =>
      Relational.segmentBalancePivot(Tables(s, d).customer)
        .unpivot(
          Array(col("c_nationkey")),
          Array(col("building_avg"), col("automobile_avg")),
          "segment", "avg_bal")
        .orderBy("c_nationkey", "segment")),

    // ---- PII redaction (curation-pipeline compliance pass) ------------
    // corpus is PII-free word salad, so the oracle's real job is proving
    // the Java-regex and RE2 pattern semantics agree byte-for-byte;
    // behavior on PII-laden text is asserted in TemporalSpec
    "q81_redact_pii" -> ((s, d) =>
      TextAnalysis.redactPii(Tables(s, d).documents)
        .orderBy("doc_id")),

    // ---- incremental dedup: a "new batch" (doc_id % 5 = 0) screened
    // against the existing corpus (the rest) — the per-crawl dedup
    // shape; survivors = new docs whose fingerprint is unseen ---------
    "q89_incremental_dedup" -> ((s, d) => {
      val docs = Tables(s, d).documents
      Dedup.incrementalExactDedup(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // ---- deterministic per-group reservoir sample (bounded-heap, no
    // per-group sort; md5 priority = engine-independent randomness) ----
    "q87_reservoir_sample" -> ((s, d) =>
      Relational.reservoirSamplePerGroup(Tables(s, d).events,
        "event_type", "event_id", k = 10)
        .orderBy("event_type", "rn")),

    // ---- sliding-window document chunking (the RAG/pretraining
    // chunker: 64-token windows every 48 tokens, overlap 16) -----------
    "q85_chunk_documents" -> ((s, d) =>
      TextOps.chunkDocuments(Tables(s, d).documents, 64, 48)
        .orderBy("doc_id", "chunk_id")),

    // ---- per-group z-score feature scaling ----------------------------
    "q86_standardize" -> ((s, d) =>
      Relational.standardizeByGroup(Tables(s, d).events)
        .select("event_id", "event_type", "value", "z")
        .orderBy("event_id")),

    // ---- OLAP: explicit grouping sets via the SQL surface (each-key
    // subtotals + grand total — the shape rollup/cube can't express) ----
    "q84_grouping_sets" -> ((s, d) => {
      Tables(s, d).registerAll()
      s.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                 AS sum_qty,
               count(*) AS cnt
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY returnflag, linestatus""")
    }),

    // ---- optimizer-rule surface: q05's query optimized by the
    // PartialAggPushdown rule (forced, since sf0.01 sides broadcast) —
    // the REWRITTEN plan must still hash-match q05's oracle. The force
    // flag is scoped to this query by materializing the optimized plan
    // before resetting it (QueryExecution caches the result).
    "q83_agg_pushdown" -> ((s, d) => {
      val t = Tables(s, d)
      val df = Relational.revenueByBrand(t.lineitem, t.part)
        .orderBy("p_brand")
      s.conf.set("spark.graft.aggPushdown.force", "true")
      try {
        val pushed = graft.plans.PartialAggPushdown
          .pushedBelowJoin(df.queryExecution.optimizedPlan)
        if (!pushed)
          // loud but non-fatal: the answer is correct either way; this
          // flags a session wired without the GraftExtensions rule
          System.err.println(
            "[graft] q83_agg_pushdown: rewrite did NOT fire in this session")
        df
      } finally s.conf.unset("spark.graft.aggPushdown.force")
    }),

    // ---- int8 embedding quantization (the 4x vector-storage path) -----
    // the gate emits the code vector as a CSV string: the driver's
    // value-hash compare is only proven over scalar cells, and the
    // stringified codes are exactly as strict a check
    "q82_quantize_embeddings" -> ((s, d) =>
      Similarity.quantizeEmbeddings(Tables(s, d).embeddings)
        .select(
          col("vec_id"),
          col("scale"),
          concat_ws(",", transform(col("qvec"), _.cast("string")))
            .as("qvec_csv"))
        .orderBy("vec_id")),

    // ---- URL/domain screen: crawl docs carry deterministic synthetic
    // URLs (source spreads over 3 registered domains, every 7th doc
    // plain http), parsed back by the operator and screened against a
    // blocklist — the pre-content filter of a web-corpus pipeline ------
    "q90_url_screen" -> ((s, d) => {
      val docs = Tables(s, d).documents.withColumn("url",
        concat(
          when(col("doc_id") % 7 === 0, lit("http")).otherwise(lit("https")),
          lit("://"), col("source"), lit(".example"), col("doc_id") % 3,
          lit(".com/"), col("lang"), lit("/doc/"), col("doc_id")))
      Web.domainScreen(docs, Seq("example2.com"))
        .select("doc_id", "url", "host", "registered_domain", "path_depth",
          "is_https", "blocked")
        .orderBy("doc_id")
    }),

    // ---- chunk-level exact dedup (boilerplate spans shared ACROSS
    // distinct docs; 32-token non-overlapping chunks) -------------------
    "q91_dedup_chunks" -> ((s, d) =>
      Dedup.dedupChunks(Tables(s, d).documents, chunkTokens = 32)
        .orderBy("doc_id", "chunk_id")),

    // ---- ORC roundtrip through sink+scan, same contract as q42-q44 ----
    "q92_orc_roundtrip" -> ((s, d) => {
      val src = Tables(s, d).orders
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_rt_orc_$rtTag"
      Sinks.writeOrc(src, dir)
      Ingest.readOrc(s, dir)
        .groupBy("o_orderstatus")
        .agg(
          sum(col("o_totalprice").cast("decimal(14,2)")).cast("double")
            .as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")
    }),

    // ---- per-language percentile length pruning (drop each language's
    // shortest decile — distribution-relative Gopher length rule) -------
    "q93_length_prune" -> ((s, d) =>
      Curation.lengthPrune(Tables(s, d).documents, dropBelow = 0.1)
        .orderBy("doc_id")),

    // the skew-proof sketch-threshold twin of q93: per-language
    // approx-percentile cut broadcast back, no per-language sort
    "q96_length_prune_approx" -> ((s, d) =>
      Curation.lengthPruneApprox(Tables(s, d).documents, dropBelow = 0.1)
        .orderBy("doc_id")),

    // ---- per-user EWMA of event values (deterministic ordered fold;
    // cross-engine bit-reproducible, unlike pow()-weight double sums) ---
    "q94_user_ewma" -> ((s, d) =>
      Temporal.ewma(Tables(s, d).events, Seq("user_id"), "ts", "event_id",
        "value", alpha = 0.2)
        .orderBy("user_id")),

    // ---- k-means document-embedding clustering (rows-only: the oracle
    // cannot run 5 Lloyd iterations; determinism + objective descent +
    // nearest-centroid fixpoint are asserted in SimilaritySpec) ---------
    "q95_kmeans" -> ((s, d) =>
      Similarity.kMeans(Tables(s, d).embeddings, k = 8, iters = 5)
        .orderBy("vec_id")),

    // ---- Z-order (Morton) clustering value: interleave user and
    // time-bucket bits so one sort key yields tight min/max stats on
    // BOTH dimensions (multi-dim data skipping; LocalitySpec measures
    // the actual row-group pruning win) ---------------------------------
    "q97_zorder" -> ((s, d) => {
      val ev = Tables(s, d).events
      val x = pmod(col("user_id"), lit(1024L))
      // floor-div + pmod on BOTH engines: trunc-div (`div`) and sign-
      // following `%` would diverge from DuckDB on negative ids or
      // pre-1970 timestamps
      val y = pmod(floor(unix_timestamp(col("ts")) / lit(3600.0)),
        lit(1024L))
      ev.select(col("event_id"), x.as("zx"), y.as("zy"),
          Locality.zValue(Seq(x, y), bits = 10).as("zval"))
        .orderBy("event_id")
    }),

    // ---- Hilbert-curve clustering index over the same (user, hour)
    // plane as q97 — the seam-free layout whose contiguous index ranges
    // cover even tighter boxes than the Z-curve ------------------------
    "q98_hilbert" -> ((s, d) => {
      val ev = Tables(s, d).events
      val x = pmod(col("user_id"), lit(1024L))
      val y = pmod(floor(unix_timestamp(col("ts")) / lit(3600.0)),
        lit(1024L))
      Locality.withHilbert(
        ev.select(col("event_id"), x.as("zx"), y.as("zy")),
        col("zx"), col("zy"), bits = 10)
        .orderBy("event_id")
    }),

    // ---- weighted sample: Efraimidis–Spirakis priorities over the md5
    // uniform, so high-value events are proportionally more likely —
    // the quality-weighted training-mix sampler ------------------------
    "q99_weighted_sample" -> ((s, d) =>
      Relational.weightedSamplePerGroup(Tables(s, d).events,
        "event_type", "event_id", "value", k = 10)
        .orderBy("event_type", "rn")),

    // ---- EXACT Jaccard similarity join via prefix filtering — the
    // deterministic-recall counterpart to q31's MinHash/LSH (same output
    // contract, exhaustive by construction) ----------------------------
    "q100_exact_jaccard_pairs" -> ((s, d) =>
      Dedup.exactJaccardPairs(Tables(s, d).documents, threshold = 0.7)
        .orderBy("doc_a", "doc_b")),

    // ---- temperature-scaled source mixing weights (w ∝ n^0.7): the
    // multi-corpus reweighting table that feeds the stratified /
    // weighted samplers ------------------------------------------------
    "q101_mixing_weights" -> ((s, d) =>
      Relational.mixingWeights(Tables(s, d).documents, "source",
        alpha = 0.7, budget = 100000L)
        .orderBy("source")),

    // ---- canonical-doc resolution: q74's clusters + per-cluster best
    // selection (max n_chars, ties to lowest doc_id) — filter(keep=1)
    // IS the near-dup-deduplicated corpus ------------------------------
    "q102_canonical_docs" -> ((s, d) => {
      val docs = Tables(s, d).documents
      Dedup.resolveCanonical(docs,
        Dedup.dupComponents(Dedup.minhashDupPairs(docs, threshold = 0.7,
          k = 64, bands = 32)))
        .orderBy("doc_id")
    }),

    // ---- training-export sharding: content-addressed global shuffle
    // (md5 order) + round-robin shard ids — deterministic across runs,
    // engines, and input layouts ---------------------------------------
    "q103_shuffle_shard" -> ((s, d) =>
      Relational.shuffleShard(
        Tables(s, d).documents.select("doc_id", "source"),
        "doc_id", nShards = 8)
        .orderBy("doc_id")),

    // ---- budgeted corpus assembly: best docs first (n_chars as the
    // score) until the global token budget is spent — distributed
    // prefix sum, deterministic cut ------------------------------------
    "q104_budget_select" -> ((s, d) =>
      Relational.budgetSelect(
        Tables(s, d).documents.select(
          col("doc_id"), col("n_chars"),
          size(TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tokens")),
        "n_chars", "n_tokens", budget = 15000L)
        .orderBy("doc_id")),

    // ---- per-dimension embedding stats: the per-channel quantization
    // calibration scan (order-independent aggregates — deterministic) --
    "q105_dimension_stats" -> ((s, d) =>
      Similarity.dimensionStats(Tables(s, d).embeddings)
        .select(col("dim").cast("long").as("dim"), col("min_val"),
          col("max_val"), col("abs_max"))
        .orderBy("dim")),

    // ---- per-channel int8 quantization (absmax/127 per dimension) ----
    "q106_quantize_per_dim" -> ((s, d) =>
      Similarity.quantizePerDim(Tables(s, d).embeddings)
        .select(
          col("vec_id"),
          concat_ws(",", transform(col("qvec"), _.cast("string")))
            .as("qvec_csv"))
        .orderBy("vec_id")),

    // ---- incremental corpus stats: two disjoint batches aggregated
    // separately then MERGED (monoid algebra) — the oracle computes the
    // same stats in one direct scan, proving the merge path exact ------
    "q107_incremental_stats" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val even = Relational.groupStats(
        docs.filter(col("doc_id") % 2 === 0), Seq("source", "lang"),
        "n_chars")
      val odd = Relational.groupStats(
        docs.filter(col("doc_id") % 2 =!= 0), Seq("source", "lang"),
        "n_chars")
      Relational.mergeStats(even, odd, Seq("source", "lang"))
        .select(col("source"), col("lang"), col("n"),
          col("sum_v").cast("double").as("sum_v"),
          col("min_v"), col("max_v"),
          round(col("sum_v").cast("double") / col("n"), 4).as("avg_v"))
        .orderBy("source", "lang")
    }),

    // ---- snapshot diff: crawl v2 derived deterministically from v1
    // (drop %17, edit %13, add %19 under shifted ids) and classified by
    // content fingerprint ----------------------------------------------
    "q108_snapshot_diff" -> ((s, d) => {
      val docs = Tables(s, d).documents
      Dedup.snapshotDiff(docs, crawlV2(docs)).orderBy("doc_id")
    }),

    // ---- SCD2 history over three deterministic crawl snapshots:
    // validity runs of the content fingerprint per doc_id --------------
    "q109_scd2_history" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val v2 = crawlV2(docs)
      val v3 = crawlV3(v2, docs)
      def snap(df: DataFrame, v: Int) = df.select(
        col("doc_id"), lit(v.toLong).as("version"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      Temporal.scd2History(
        snap(docs, 1).unionByName(snap(v2, 2)).unionByName(snap(v3, 3)),
        "doc_id", "version", "fp", latestVersion = 3)
        .orderBy("doc_id", "valid_from")
    }),

    // ---- MERGE: apply the v1→v2 changeset (deletes %17, edits %13,
    // adds %19) to the base corpus; oracle derives v2 independently ----
    "q110_merge_changeset" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val payload = Seq("text", "lang", "source", "n_chars")
      val deletes = docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id") +: payload.map(p =>
          lit(null).cast(docs.schema(p).dataType).as(p)): _*)
        .withColumn("op", lit("delete"))
      val edits = docs
        .filter(col("doc_id") % 13 === 0 && col("doc_id") % 17 =!= 0)
        .withColumn("text", concat(col("text"), lit(" edited v2")))
        .withColumn("op", lit("upsert"))
      val adds = docs.filter(col("doc_id") % 19 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("op", lit("upsert"))
      Relational.mergeChangeset(
        docs, deletes.unionByName(edits).unionByName(adds), "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // ---- single-pass column profile (contract audit) over portable
    // types; nullable derived column exercises the null counters -------
    "q111_column_profile" -> ((s, d) => {
      val audited = Tables(s, d).orders
        .withColumn("cust_bucket", nullif(col("o_custkey") % 5, lit(0)))
      Quality.profileColumns(audited,
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "cust_bucket"))
        .orderBy("column_name")
    }),

    // ---- referential-integrity audit with deterministically crippled
    // parents (orphans where custkey%97=0 / orderkey%113=0) plus one
    // clean constraint as the zero-violation case -----------------------
    "q112_fk_violations" -> ((s, d) => {
      val t = Tables(s, d)
      Quality.fkViolations(Seq(
        ("lineitem_orderkey", t.lineitem, "l_orderkey",
          t.orders.filter(col("o_orderkey") % 113 =!= 0), "o_orderkey"),
        ("lineitem_partkey", t.lineitem, "l_partkey", t.part, "p_partkey"),
        ("orders_custkey", t.orders, "o_custkey",
          t.customer.filter(col("c_custkey") % 97 =!= 0), "c_custkey")))
        .orderBy("constraint_name")
    }),

    // ---- leakage-safe split: whole sources assigned to train/val/test
    // by hashed group key — a pure projection, zero shuffle ------------
    "q113_group_split" -> ((s, d) =>
      Curation.groupSplit(
        Tables(s, d).documents.select("doc_id", "source"), "source")
        .orderBy("doc_id")),

    // ---- vocabulary fit: top-20 token vocab, per-source OOV rates ----
    "q114_vocab_coverage" -> ((s, d) =>
      TextOps.vocabCoverage(Tables(s, d).documents, vocabSize = 20)
        .orderBy("source")),

    // ---- conjunctive term search (AND of postings) -------------------
    "q115_search_conjunctive" -> ((s, d) =>
      TextOps.searchDocuments(
        Tables(s, d).documents, Seq("join", "hash", "row"))
        .orderBy("doc_id")),

    // ---- per-source distribution shift: entropy + KL vs corpus -------
    "q116_source_shift" -> ((s, d) =>
      TextAnalysis.sourceShift(Tables(s, d).documents).orderBy("source")),

    // ---- asymmetric containment: short doc quoted inside a long one --
    "q117_containment_pairs" -> ((s, d) =>
      Dedup.containmentPairs(Tables(s, d).documents, threshold = 0.8)
        .orderBy("doc_a", "doc_b")),

    // ---- PageRank over the symmetrized customer–supplier graph ------
    "q118_pagerank" -> ((s, d) => {
      val t = Tables(s, d)
      val e0 = t.orders
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c:"), col("o_custkey")).as("src"),
          concat(lit("s:"), col("l_suppkey")).as("dst"))
        .distinct()
      val edges = e0.union(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pageRank(edges, iters = 5, damping = 0.85).orderBy("node")
    }),

    // ---- fuzzy catalog linkage: part names within edit distance 3 ----
    "q119_fuzzy_name_pairs" -> ((s, d) =>
      TextOps.fuzzyPairs(Tables(s, d).part, "p_name", threshold = 3)
        .orderBy("left", "right")),

    // ---- shingle novelty: share of a doc's phrases seen nowhere else -
    "q120_novelty_scores" -> ((s, d) =>
      Dedup.noveltyScores(Tables(s, d).documents).orderBy("doc_id")),

    // ---- categorical association: chi-square + Cramér's V -----------
    "q121_lang_source_assoc" -> ((s, d) =>
      Quality.association(Tables(s, d).documents, "lang", "source")),

    // ---- HITS: buyer hubs / vendor authorities on the directed graph -
    "q122_hits" -> ((s, d) => {
      val t = Tables(s, d)
      val edges = t.orders
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c:"), col("o_custkey")).as("src"),
          concat(lit("s:"), col("l_suppkey")).as("dst"))
        .distinct()
      Graph.hits(edges, iters = 5).orderBy("kind", "node")
    }),

    // ---- eval contamination: near-dup pairs straddling the split ----
    "q123_leakage_audit" -> ((s, d) =>
      Curation.leakageAudit(Tables(s, d).documents, threshold = 0.7)
        .orderBy("split_lo", "split_hi")),

    // ---- degree histogram of the customer–supplier graph ------------
    "q124_degree_histogram" -> ((s, d) => {
      val t = Tables(s, d)
      val edges = t.orders
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c:"), col("o_custkey")).as("src"),
          concat(lit("s:"), col("l_suppkey")).as("dst"))
        .distinct()
      Graph.degreeHistogram(edges).orderBy("direction", "degree")
    }),

    // ---- per-source score calibration via percent-rank ---------------
    "q125_calibrated_scores" -> ((s, d) =>
      Curation.calibrateScores(
        Tables(s, d).documents.select("doc_id", "source", "n_chars"),
        "source", "n_chars").orderBy("doc_id")),

    // ---- containment prune: quoted docs collapse into wrappers -------
    "q126_containment_prune" -> ((s, d) =>
      Curation.containmentPrune(Tables(s, d).documents, threshold = 0.8)
        .orderBy("doc_id")),

    // ---- corpus-fluency: mean bigram log-prob under the corpus model -
    "q127_fluency_scores" -> ((s, d) =>
      TextAnalysis.fluencyScores(Tables(s, d).documents).orderBy("doc_id")),

    // ---- trailing-24h rolling stats per user (time-RANGE frame) ------
    "q128_rolling_stats" -> ((s, d) =>
      Temporal.rollingStats(Tables(s, d).events).orderBy("event_id")),

    // ---- persisted near-dup index probe: the per-crawl dedup shape
    // with the corpus band-bucket table built ONCE (the q34/q51
    // build-once/probe-many pattern) — a batch pays only for its own
    // signatures plus the bucketed probe. b=32 (r=2) puts detection at
    // J=0.7 above 1-1e-9, so the probe is exhaustive vs the all-pairs
    // oracle, like q31.
    "q129_neardup_probe" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val idx = s"graft_neardup_index_${dirTag(d)}"
      if (!s.catalog.tableExists(idx))
        Dedup.buildNearDupIndex(corpus, idx, ngram = 3, k = 64, bands = 32)
      Dedup.probeNearDupIndex(batch, corpus, idx, threshold = 0.7,
        ngram = 3, k = 64, bands = 32)
        .orderBy("new_id", "corpus_id")
    }),

    // ---- persisted fingerprint index probe: q89's per-crawl exact
    // dedup with the corpus side replaced by the stored 16-byte
    // fingerprint set (built once, anti-joined per batch) — same
    // oracle, the probe must answer identically
    "q130_exact_probe" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val idx = s"graft_fp_index_${dirTag(d)}"
      if (!s.catalog.tableExists(idx))
        Dedup.buildFingerprintIndex(docs.filter(col("doc_id") % 5 =!= 0), idx)
      Dedup.probeFingerprintIndex(docs.filter(col("doc_id") % 5 === 0), idx)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // ---- deterministic heavy hitters over the token stream: Misra-
    // Gries candidates (bounded buffers, no distinct-key shuffle) +
    // exact recount at threshold ceil(N/128). minShare = 1/128 is
    // binary-exact, so the threshold integer matches DuckDB's.
    "q131_heavy_hitters" -> ((s, d) => {
      val toks = Tables(s, d).documents
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      Sketches.heavyHitters(toks, "tok", minShare = 1.0 / 128)
        .orderBy("value")
    }),

    // ---- persisted simhash index probe: the third persisted-dedup
    // family (exact q130, MinHash q129) — signatures ride in the index,
    // so the probe reads zero corpus text. Portable sketch so the
    // oracle replays the identical pipeline.
    "q132_simhash_probe" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val idx = s"graft_simhash_index_${dirTag(d)}"
      if (!s.catalog.tableExists(idx))
        Dedup.buildSimhashIndex(docs.filter(col("doc_id") % 5 =!= 0), idx,
          portable = true)
      Dedup.probeSimhashIndex(docs.filter(col("doc_id") % 5 === 0), idx,
        portable = true)
        .orderBy("new_id", "corpus_id")
    }),

    // ---- BPE tokenizer training: 8 byte-pair merges learned on the
    // corpus word-frequency vocabulary, (count DESC, lhs, rhs) argmax
    // per round — partition-order independent by the total-order
    // tie-break. The oracle replays every round as chained CTEs.
    "q133_bpe_train" -> ((s, d) => {
      import s.implicits._
      Bpe.trainMerges(Tables(s, d).documents, numMerges = 8)
        .map(m => (m.rank, m.lhs, m.rhs)).toDF("rank", "lhs", "rhs")
        .orderBy("rank")
    }),

    // ---- token accounting under the trained merges: per-language doc
    // and token totals — the production replacement for the whitespace
    // token counts the budget operators (q64/q66/q104) approximate with
    "q134_bpe_token_stats" -> ((s, d) => {
      val docs = Tables(s, d).documents
      Bpe.tokenStatsByLang(docs, Bpe.trainMerges(docs, numMerges = 8))
        .orderBy("lang")
    }),

    // ---- persisted-merges path: train once into a spec-guarded table
    // (the index-family build/load contract), load, and publish the
    // learned vocabulary report — top tokens by corpus occurrence count
    "q135_bpe_vocab" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val tbl = s"graft_bpe_merges_${dirTag(d)}"
      if (!s.catalog.tableExists(tbl))
        Bpe.buildMergesTable(docs, tbl, numMerges = 8)
      Bpe.vocabReport(docs, Bpe.loadMerges(s, tbl), topN = 50)
    }),

    // ---- bloom tier over the fingerprint index: per-crawl exact dedup
    // where the batch rows that are DEFINITELY new skip the anti-join
    // entirely (per-row might_contain filter, no shuffle) and only the
    // bloom residue verifies against the stored set. Same oracle shape
    // as q130 — the tier must answer exactly what the plain probe does.
    "q136_bloom_probe" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val bloom = s"graft_bloom_index_${dirTag(d)}"
      val fpIdx = s"graft_fp7_index_${dirTag(d)}"
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      if (!s.catalog.tableExists(fpIdx))
        Dedup.buildFingerprintIndex(corpus, fpIdx)
      if (!s.catalog.tableExists(bloom))
        Dedup.buildBloomIndex(corpus, bloom, fpIdx)
      Dedup.probeBloomIndex(docs.filter(col("doc_id") % 7 === 0),
          bloom, fpIdx)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // ---- SemDeDup-style semantic dedup: k-means cells, then drop any
    // vector with a smaller-id cluster-mate at cosine >= 0.95 — the
    // embedding tier above lexical dedup. Oracle replays the full
    // Lloyd chain (the q95 CTEs) plus the within-cell pair rule.
    "q137_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(Tables(s, d).embeddings, k = 8, iters = 5)
        .orderBy("vec_id")),

    // ---- duplicated-passage extraction: maximal token runs whose
    // 8-token windows all recur in >= 2 distinct docs — localized
    // boilerplate/syndication, the cut-the-passage complement to the
    // drop-the-document dedup tiers
    "q138_duplicated_spans" -> ((s, d) =>
      Dedup.duplicatedSpanRuns(Tables(s, d).documents, window = 8)
        .orderBy("doc_id", "start_tok")),

    // ---- the removal twin: every doc with its duplicated runs cut
    // out, plus the count of tokens removed — C4-style boilerplate
    // stripping as a corpus transform
    "q139_strip_spans" -> ((s, d) =>
      Dedup.stripDuplicatedSpans(Tables(s, d).documents, window = 8)
        .orderBy("doc_id")),

    // ---- corpus encoding under the trained merges: per-doc token-ID
    // sequences with frequency-ranked ids — the training-data export
    // step; oracle replays training + the ranked-vocab join. The
    // oracle-facing shape is ARRAY-FREE (the driver's pandas compare
    // lexsorts result columns and cannot hash an array cell): the id
    // sequence is carried as an md5 digest of the space-joined ids,
    // which pins every position and value without an array column.
    "q140_bpe_encode" -> ((s, d) => {
      val docs = Tables(s, d).documents
      // persisted-merges path (the q135 table, shared): training cost is
      // q133's to measure — this query times ENCODING the corpus
      val tbl = s"graft_bpe_merges_${dirTag(d)}"
      if (!s.catalog.tableExists(tbl))
        Bpe.buildMergesTable(docs, tbl, numMerges = 8)
      Bpe.encodeDocs(docs, Bpe.loadMerges(s, tbl))
        .select(col("doc_id"), col("n_tokens"),
          md5(array_join(transform(col("ids"), _.cast("string")), " "))
            .as("ids_digest"))
        .orderBy("doc_id")
    }),

    // ---- crawl-frontier URL canonicalization + dedup: synthetic URLs
    // vary case/ports/tracking-params/param-order/trailing-slash/
    // fragments within a doc_id%50 group; distinct raw forms must
    // collapse to one canonical per (group, non-default-port) cell
    "q141_url_canonical" -> ((s, d) => {
      val dd = col("doc_id")
      val g = dd % 50
      val scheme = when(g % 2 === 0, lit("https")).otherwise(lit("http"))
      val host = when(dd % 3 === 0,
        concat(lit("WWW.EXAMPLE"), g, lit(".COM")))
        .otherwise(concat(lit("www.example"), g, lit(".com")))
      val port = when(dd % 7 === 0, lit(":8080"))
        .otherwise(when(dd % 4 === 0,
          when(g % 2 === 0, lit(":443")).otherwise(lit(":80")))
          .otherwise(lit("")))
      val slash = when(dd % 5 === 0, lit("/")).otherwise(lit(""))
      val query = when(dd % 3 === 0,
        concat(lit("?utm_source=x"), dd, lit("&b=2&a=1")))
        .otherwise(when(dd % 3 === 1, lit("?a=1&b=2"))
          .otherwise(concat(lit("?b=2&a=1&fbclid=z"), dd)))
      val frag = when(dd % 6 === 0, concat(lit("#f"), dd)).otherwise(lit(""))
      val docs = Tables(s, d).documents.withColumn("url",
        concat(scheme, lit("://"), host, port, lit("/p/"), g, slash,
          query, frag))
      Web.canonicalUrlDedup(docs).orderBy("canonical_url")
    }),

    // ---- incremental semantic dedup: the embedding-tier probe of the
    // persisted-index family — batch vectors screened against the IVF
    // corpus index's probed cells at cosine >= 0.95, nprobe=2 for
    // boundary recall. Oracle replays quantizer training + assignment
    // with q51's tie-break conventions.
    "q142_semantic_probe" -> ((s, d) => {
      val t = Tables(s, d)
      val corpus = t.embeddings.filter(col("vec_id") % 5 =!= 0)
      val tag = dirTag(d)
      val (idx, cents) =
        (s"graft_sem_index_$tag", s"graft_sem_cents_$tag")
      if (!s.catalog.tableExists(idx))
        Similarity.buildIvfIndex(corpus, idx, cents)
      Similarity.probeSemanticIndex(s,
          t.embeddings.filter(col("vec_id") % 5 === 0), idx, cents,
          threshold = 0.95, nprobe = 2)
        .orderBy("vec_id")
    }),

    // ---- in-engine trainable quality classifier: logistic regression
    // by full-batch GD over bounded 4-dp features, decimal-quantized
    // gradients — the oracle replays the whole training trajectory as
    // chained CTEs (the k-means/PageRank scheme)
    "q143_quality_classifier" -> ((s, d) =>
      Classifier.qualityClassifier(Tables(s, d).documents)
        .orderBy("doc_id")),

    // ---- sequence packing under REAL tokenizer accounting: the q64
    // two-pass prefix-sum pack, sized by the trained BPE merges (the
    // persisted q135 table) instead of whitespace counts
    "q144_pack_bpe" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val tbl = s"graft_bpe_merges_${dirTag(d)}"
      if (!s.catalog.tableExists(tbl))
        Bpe.buildMergesTable(docs, tbl, numMerges = 8)
      Relational.packSized(
          Bpe.docTokenCounts(docs, Bpe.loadMerges(s, tbl)),
          budgetTokens = 512)
        .orderBy("doc_id")
    }),

    // ---- the 100-TB span path: q138 with hashSpans=true — the df
    // aggregate and self-join shuffle 8-byte xxhash64 keys instead of
    // window-token span strings. A 64-bit collision can only merge two
    // spans' df counts (a spurious dup window, never a lost one), and
    // at oracle scale the corpus is collision-free, so the EXACT-span
    // oracle (q138's SQL verbatim) is the gate: the hash path must
    // answer exactly what the string path answers.
    "q145_dup_spans_hashed" -> ((s, d) =>
      Dedup.duplicatedSpanRuns(Tables(s, d).documents, window = 8,
          hashSpans = true)
        .orderBy("doc_id", "start_tok")),

    // ---- the trainer-facing export: each pack bin's documents
    // concatenated (doc_id order) into one EOS-separated token-id
    // training sequence — encode-once (the persisted tokenized-corpus
    // table, built per session like the ANN/dedup indexes) →
    // packSized → sequence assembly; this query times the EXPORT, the
    // recurring cost. Array-free oracle shape (the q140 digest
    // convention); the oracle replays the whole encode chain inline.
    "q146_packed_export" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val tag = dirTag(d)
      val tbl = s"graft_bpe_merges_$tag"
      if (!s.catalog.tableExists(tbl))
        Bpe.buildMergesTable(docs, tbl, numMerges = 8)
      val encT = s"graft_bpe_encoded_$tag"
      if (!s.catalog.tableExists(encT))
        Bpe.buildEncodedTable(docs, tbl, encT)
      Bpe.packedSequencesFrom(Bpe.readEncodedTable(s, encT, tbl),
          budgetTokens = 512)
        .select(col("bin_id"), col("n_docs"), col("n_tokens"),
          md5(array_join(transform(col("input_ids"), _.cast("string")),
            " ")).as("ids_digest"),
          md5(array_join(transform(col("doc_lens"), _.cast("string")),
            " ")).as("lens_digest"))
        .orderBy("bin_id")
    }),

    // ---- context-window chunking of the encoded corpus: the pre-pass
    // that makes over-long documents packable (the packer never splits
    // a doc). Every chunk <= 32 tokens, chunks concatenate back to the
    // document exactly; digest oracle per chunk.
    "q147_chunk_encoded" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val tag = dirTag(d)
      val tbl = s"graft_bpe_merges_$tag"
      if (!s.catalog.tableExists(tbl))
        Bpe.buildMergesTable(docs, tbl, numMerges = 8)
      val encT = s"graft_bpe_encoded_$tag"
      if (!s.catalog.tableExists(encT))
        Bpe.buildEncodedTable(docs, tbl, encT)
      Bpe.chunkEncoded(Bpe.readEncodedTable(s, encT, tbl), maxTokens = 32)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("n_tokens"),
          md5(array_join(transform(col("ids"), _.cast("string")), " "))
            .as("ids_digest"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // ---- CCNet-style cross-corpus LM filter: add-1-smoothed bigram
    // model trained on the reference split (doc_id % 5 != 0), every
    // candidate (doc_id % 5 == 0) scored by mean negative log prob —
    // lower = more reference-like
    "q148_cross_perplexity" -> ((s, d) => {
      val docs = Tables(s, d).documents
      TextAnalysis.crossPerplexity(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0))
        .orderBy("doc_id")
    }),

    // ---- persisted-weights classifier scoring: train ONCE into a
    // weights table, score from it — must answer exactly what the
    // inline train+score (q143) answers, so q143's oracle is the gate
    "q149_classifier_store" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val tbl = s"graft_clf_weights_${dirTag(d)}"
      if (!s.catalog.tableExists(tbl))
        Classifier.buildClassifierTable(docs, tbl, iters = 8)
      Classifier.scoreWithTable(docs, tbl).orderBy("doc_id")
    }),

    // ---- persisted reference LM: the CCNet reference model as a
    // build-once bucketed artifact; scoring a crawl joins the stored
    // counts without re-reading reference text. Must answer exactly
    // what the inline q148 answers — its oracle is the gate.
    "q150_lm_store" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val tbl = s"graft_lm_${dirTag(d)}"
      if (!s.catalog.tableExists(tbl))
        TextAnalysis.buildLmTable(docs.filter(col("doc_id") % 5 =!= 0),
          tbl)
      TextAnalysis.crossPerplexityWithTable(
          docs.filter(col("doc_id") % 5 === 0), tbl)
        .orderBy("doc_id")
    }),

    // ---- CCNet perplexity split: head/middle/tail terciles per lang
    // over the reference-LM nll (ntile over the total (nll, doc_id)
    // order; unscorable docs bucketed outside the window — see the
    // operator's NULLS FIRST/LAST scaladoc note)
    "q151_perplexity_buckets" -> ((s, d) => {
      val docs = Tables(s, d).documents
      TextAnalysis.perplexityBuckets(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0))
        .orderBy("doc_id")
    }),

    // ---- DSIR-style importance weights: mean per-bigram log-ratio
    // between a curated target reference and a raw-pool reference
    "q152_importance_weights" -> ((s, d) => {
      val docs = Tables(s, d).documents
      TextAnalysis.importanceWeights(
        targetRef = docs.filter(col("doc_id") % 5 === 1),
        rawRef = docs.filter(col("doc_id") % 5 === 2 ||
          col("doc_id") % 5 === 3),
        candidates = docs.filter(col("doc_id") % 5 === 0))
        .orderBy("doc_id")
    }),

    // ---- portable HLL (the q37/q39 pattern closing the sketch family):
    // per-returnflag distinct-order estimates DuckDB replays register
    // by register; native HLL++ (q36) stays the production default
    "q153_hll_portable" -> ((s, d) =>
      Sketches.hllEstimatePortable(Tables(s, d).lineitem,
        "l_orderkey", "l_returnflag").orderBy("key")),

    // ---- content-addressed sampling (P10's reproducible twin): keep a
    // row iff md5 of its KEY falls under the fraction — stable across
    // runs, engines, cluster layouts, and re-crawls, unlike RNG q18
    "q154_hash_sample" -> ((s, d) =>
      Relational.hashSample(Tables(s, d).lineitem,
        concat_ws("_", col("l_orderkey"), col("l_linenumber")), 0.1)
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- mergeable integer-histogram quantiles: per-lang n_chars
    // p50/p90/p99 from a ~1k-bucket constant-state sketch (exact twin
    // rides along, locking the 2^-4 relative-error bound in the oracle)
    "q155_quantile_sketch" -> ((s, d) =>
      Sketches.histogramQuantiles(Tables(s, d).documents,
        "n_chars", "lang").orderBy("key", "p")),

    // ---- persisted quantile store: build the histogram on the even-id
    // half, FOLD the odd-id half in, then answer per-group quantiles
    // straight off the store — because histograms merge by exact
    // bucket-wise sum, the folded store must answer IDENTICALLY to
    // q155's whole-corpus inline run, so q155's SQL is the gate for the
    // entire build→append→probe path
    "q156_quantile_store" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val tbl = s"graft_hist_${dirTag(d)}"
      if (!s.catalog.tableExists(tbl)) {
        Sketches.buildHistogramStore(
          docs.filter(col("doc_id") % 2 === 0), "n_chars", "lang", tbl)
        Sketches.appendHistogramStore(
          docs.filter(col("doc_id") % 2 === 1), tbl)
      }
      Sketches.histogramQuantilesViaStore(docs, "n_chars", "lang", tbl)
        .orderBy("key", "p")
    }),

    // ---- winnowing (MOSS) fingerprints: k-gram hashes → rightmost min
    // per w-window; any shared token run ≥ w+k−1 shares a fingerprint.
    // md5-mod-2^30 hashes + integer packing → DuckDB replays the whole
    // relation bit for bit
    "q157_winnow_fingerprints" -> ((s, d) =>
      Dedup.winnowingFingerprints(Tables(s, d).documents)
        .orderBy("doc_id", "pos", "fp")),

    // ---- the MOSS match step: pairs sharing ≥ 2 distinct fingerprints
    // via the posting-list join, after the df ≤ 64 boilerplate cut
    "q158_winnow_matches" -> ((s, d) =>
      Dedup.winnowingMatches(Tables(s, d).documents)
        .orderBy("doc_a", "doc_b")),

    // ---- HLL inclusion–exclusion corpus overlap: per-lang estimated
    // |train ∩ held-out| text overlap from registers alone — the
    // decontamination triage that never joins the corpora (exact twin
    // rides along)
    "q159_hll_overlap" -> ((s, d) => {
      val docs = Tables(s, d).documents
      Sketches.hllOverlapPortable(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0),
        "text", "lang").orderBy("key")
    }),

    // ---- deterministic training-mix construction: per-lang
    // content-addressed fractions in one shuffle-free scan (es absent
    // from the mix → dropped, the allowlist semantics)
    "q160_mixture_sample" -> ((s, d) =>
      Relational.mixtureSample(Tables(s, d).documents, col("doc_id"),
          col("lang"),
          Map("en" -> 0.5, "fr" -> 0.25, "de" -> 0.75, "zh" -> 0.1))
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // ---- token-budget mixture: per-lang token TARGETS → derived
    // fractions f = min(1, budget/total), unbiased hash membership
    // (fr budget exceeds its mass → the f=1 branch; es absent → dropped)
    "q161_token_budget_mix" -> ((s, d) =>
      Relational.tokenBudgetMix(Tables(s, d).documents, col("doc_id"),
          col("lang"), size(TextAnalysis.tokens(col("text"))),
          Map("en" -> 3000L, "de" -> 2000L, "zh" -> 400L,
            "fr" -> 10000000L))
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // ---- temperature mixture (α = 0.5): √-share flattening —
    // low-resource langs keep proportionally more of the budget; every
    // group participates (no allowlist)
    "q163_temperature_mix" -> ((s, d) =>
      Relational.temperatureMix(Tables(s, d).documents, col("doc_id"),
          col("lang"), size(TextAnalysis.tokens(col("text"))), 20000L)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // ---- winnowing fingerprint index probe: shared-passage
    // containment of a crawl batch against the persisted corpus index —
    // contamination screening that never touches corpus text
    "q162_winnow_probe" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val idx = s"graft_winnow_index_${dirTag(d)}"
      if (!s.catalog.tableExists(idx))
        Dedup.buildWinnowIndex(docs.filter(col("doc_id") % 5 =!= 0), idx)
      Dedup.probeWinnowIndex(docs.filter(col("doc_id") % 5 === 0), idx)
        .orderBy("new_id", "corpus_id")
    }),

    // ---- END-TO-END corpus build: the composition proof. One call
    // chains curate (q52) → canonical near-dup resolution (q31/q74/
    // q102) → temperature mix (q163) → BPE train-on-selection + encode
    // (q133/q140) → context-window chunk (q147) → fixed-budget pack
    // (q144) → content-addressed shard (q103); one row per training
    // chunk with its token-stream digest, bin, and shard. The oracle
    // replays the ENTIRE chain as one CTE pipeline built from the same
    // parameterized fragments the per-stage oracles use.
    "q164_corpus_build" -> ((s, d) =>
      Pipeline.corpusBuild(Tables(s, d).documents)
        .orderBy("doc_id", "chunk_idx")),

    // ---- triangle counting over the NEAR-DUP pair graph (the q31
    // minhash pairs): per-doc triangle density separates tight clone
    // clusters (cliques — every pair similar) from chain-shaped drift
    // (A~B~C but A≁C), the signal canonical-doc resolution is blind
    // to. The supplier co-occurrence graph was rejected here: at sf0.1
    // it saturates to near-complete (~C(1000,3) triangles — output-
    // bound by construction, not an operator cost). The operator's
    // degree orientation caps oriented out-degree at O(√m), so the
    // wedge join survives hub nodes where naive Σ deg² explodes.
    "q165_triangle_counts" -> ((s, d) => {
      val edges = Dedup.minhashDupPairs(Tables(s, d).documents,
          threshold = 0.7, k = 64, bands = 32)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      Graph.triangleCounts(edges).orderBy("node")
    }),

    // ---- community detection: synchronous label propagation (fixed
    // rounds, most-frequent-neighbor-label argmax with min-label
    // tie-break) over the same supplier co-occurrence graph ----------
    "q167_communities" -> ((s, d) => {
      val pairs = Tables(s, d).lineitem
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val edges = pairs.as("x")
        .join(pairs.as("y"), col("x.ok") === col("y.ok"))
        .filter(col("x.sk") =!= col("y.sk"))
        .select(col("x.sk").as("src"), col("y.sk").as("dst"))
      Graph.labelPropagation(edges, iters = 4).orderBy("node")
    }),

    // ---- XML roundtrip (Spark 4's NATIVE xml source — no external
    // package): write → schema'd read → aggregate; values must survive
    // the text serialization exactly (Double via Java toString is
    // round-trip exact; the oracle aggregates the parquet base)
    "q166_xml_roundtrip" -> ((s, d) => {
      val src = Tables(s, d).supplier
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      val dir =
        s"${System.getProperty("java.io.tmpdir")}/graft_rt_xml_$rtTag"
      Sinks.writeXml(src, dir)
      Ingest.readXml(s, dir, schema = Some(src.schema))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast("decimal(12,2)")).cast("double")
            .as("sum_bal"))
        .orderBy("s_nationkey")
    }),

    // ---- semi-structured VARIANT path (Spark 4): parse_json once →
    // variant_get fields — the parse-once/extract-many scale shape
    "q168_variant_props" -> ((s, d) =>
      Relational.eventPropStatsVariant(Tables(s, d).events)
        .orderBy("event_type")),

    // ---- cluster-safe train/val/test split: the split unit is the
    // NEAR-DUP COMPONENT, not the document — a near-duplicate of a
    // train doc can never land in test (the leakage q123 audits is
    // impossible by construction here). Composition of q74's
    // components with q113's content-addressed group split; singleton
    // docs are their own component (the oracle's coalesce twin).
    "q169_cluster_safe_split" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val comp = docs.select("doc_id")
        .join(Dedup.dupComponents(Dedup.minhashDupPairs(docs,
          threshold = 0.7, k = 64, bands = 32)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
      Curation.groupSplit(comp, "component").orderBy("doc_id")
    }),

    // ---- INCREMENTAL corpus maintenance: build(v1) persists its state
    // family (snapshot/standing/band-index/frozen mix/frozen
    // tokenizer), then the crawlV2 delta folds in at cost ∝ the
    // CHANGED SLICE — diff exits unchanged docs before any text work,
    // the standing screen is a bucketed index probe, mix membership
    // and tokenizer are frozen (no corpus rescan, no retrain), and new
    // bins append strictly above v1's max_bin. Output = tombstones +
    // delta chunks; the oracle replays build(v1) AND the delta chain.
    // The spec commit marker gates reuse: Bench re-runs skip the v1
    // rebuild (fresh warehouse per JVM, so never stale across runs).
    "q170_corpus_delta" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val p = s"graft_corpus_state_${dirTag(d)}"
      if (!s.catalog.tableExists(graft.sources.IndexSpec.specTable(p)))
        Pipeline.corpusBuildWithState(docs, p)
      Pipeline.corpusDelta(crawlV2(docs), docs, p)
        .orderBy("doc_id", "op", "chunk_idx")
    }),

    // ---- q164 at an adversarial second parameter point (see the
    // oracle comment): same composition, every knob moved — including
    // a merge count past the default and a non-power-of-two shard
    // count — so the determinism machinery is proven parameter-
    // independent, not tuned to one constant set
    "q171_corpus_build_sweep" -> ((s, d) =>
      Pipeline.corpusBuild(Tables(s, d).documents,
          mixBudgetTokens = 9000L, chunkTokens = 24, packTokens = 384L,
          numMerges = 12, nShards = 5)
        .orderBy("doc_id", "chunk_idx")),

    // ---- the OPERATIONAL LOOP closed: fold a crawl delta into the v1
    // chunk relation ([[Pipeline.applyCorpusDelta]]), then
    // [[Pipeline.compactCorpus]] squashes the folded view into a fresh
    // doc_id-bucketed table — bins re-packed contiguous from 0, chunk
    // content untouched, spec.max_bin reset so later deltas append
    // above the COMPACTED space instead of growing the bin range
    // forever. Own state prefix (compaction ADVANCES the spec, which
    // must not disturb q170's placement); the v1 chunk table doubles
    // as the within-JVM rebuild guard. Re-run-stable by construction:
    // post-compaction bin/shard placement depends only on the folded
    // chunk CONTENT, never on where the delta's bins happened to land.
    "q172_corpus_compact" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val p = s"graft_corpus_cstate_${dirTag(d)}"
      val v1Table = s"${p}_v1chunks"
      if (!s.catalog.tableExists(v1Table))
        graft.sources.Sinks.saveTable(
          Pipeline.corpusBuildWithState(docs, p), v1Table)
      val folded = Pipeline.applyCorpusDelta(s.table(v1Table),
        Pipeline.corpusDelta(crawlV2(docs), docs, p))
      Pipeline.compactCorpus(folded, p, s"${p}_compacted")
        .orderBy("doc_id", "chunk_idx")
    }),

    // ---- the suppressed-content audit (the [[Pipeline.reconcileDelta]]
    // fp tier): crawl docs whose content the corpus no longer carries —
    // unchanged against the snapshot, not standing, fingerprint on no
    // standing doc. Read-only against q170's state family (shares the
    // marker-guarded v1 build); fp rows only, never text — the
    // rebuild-pressure metric a delta-maintained corpus watches.
    "q173_reconcile_audit" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val p = s"graft_corpus_state_${dirTag(d)}"
      if (!s.catalog.tableExists(graft.sources.IndexSpec.specTable(p)))
        Pipeline.corpusBuildWithState(docs, p)
      Pipeline.reconcileCandidates(docs, p).orderBy("doc_id")
    }),

    // ---- the RETRAIN-PRESSURE audit ([[Pipeline.retrainPressure]]):
    // after a COMMITTED crawlV2 delta, how far have the FROZEN
    // decisions drifted from the standing corpus they now govern —
    // frozen vs freshly-derived mix thresholds per group, plus the
    // frozen tokenizer's fertility and OOV over the standing text.
    // Own prefix (the commit ADVANCES state — never point a committing
    // query at q170's). Re-runs are stable: the second commit diffs an
    // unchanged crawl (noop), so the audit reads the same fixpoint.
    "q174_retrain_pressure" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val p = s"graft_corpus_astate_${dirTag(d)}"
      if (!s.catalog.tableExists(graft.sources.IndexSpec.specTable(p)))
        Pipeline.corpusBuildWithState(docs, p)
      val v2 = crawlV2(docs)
      Pipeline.corpusDelta(v2, docs, p, commit = true)
      Pipeline.retrainPressure(v2, p).orderBy("lang")
    }),

    // ---- state RETRAIN as a new generation
    // ([[Pipeline.retrainState]]): after the committed crawlV2 delta,
    // re-derive mix thresholds + tokenizer + token-id space ON the
    // standing corpus and re-encode/re-pack every standing doc from
    // bin 0 — the full decision refresh that previously required a
    // rebuild. Deterministic at any generation number (re-runs train
    // g+1 with identical content), so the oracle replays it once.
    "q175_corpus_retrain" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val p = s"graft_corpus_rstate_${dirTag(d)}"
      if (!s.catalog.tableExists(graft.sources.IndexSpec.specTable(p)))
        Pipeline.corpusBuildWithState(docs, p)
      val v2 = crawlV2(docs)
      Pipeline.corpusDelta(v2, docs, p, commit = true)
      Pipeline.retrainState(v2, p).orderBy("doc_id", "chunk_idx")
    }),

    // ---- IVF REBUILD-PRESSURE audit ([[Similarity.ivfRebuildPressure]]):
    // the semantic index's member of the drift trio (content q173,
    // decisions q174, quantizer here). Quantizer trained on 3/4 of the
    // corpus, the held-out quarter APPENDED under the frozen centroids
    // (appendIvfIndex's documented drift case), then the per-cell
    // audit: occupancy, member-to-centroid cosine, and the frozen
    // centroid's cosine to the cell's current mean. Rebuilt from
    // scratch every call (overwrite + one append) so re-runs compare
    // identical computations; own tables — q51's index must never see
    // this append.
    "q176_ivf_rebuild_pressure" -> ((s, d) => {
      val t = Tables(s, d)
      val tag = dirTag(d)
      val (idx, cents) =
        (s"graft_ivf_audit_idx_$tag", s"graft_ivf_audit_cents_$tag")
      val base = t.embeddings.filter(col("vec_id") % 4 =!= 3)
      val appended = t.embeddings.filter(col("vec_id") % 4 === 3)
      Similarity.buildIvfIndexQuantized(base, idx, cents)
      Similarity.appendIvfIndex(s, appended, idx, cents)
      Similarity.ivfRebuildPressure(s, idx, cents).orderBy("cell")
    }),

    // ---- index VACUUM through the crash-ordered swap
    // ([[Dedup.fingerprintIndex]] compact): build over the full corpus,
    // vacuum to the live (2/3) fingerprint set, return the swapped-in
    // table itself. End-to-end oracle over the post-swap relation —
    // this gate fails loudly on the whole stale-metadata bug class
    // (a swap whose renamed table reads empty, or whose superseded
    // generation's drop deletes live partitions). Rebuilt every call
    // (overwrite + vacuum), so re-runs compare identical computations.
    "q177_fp_index_vacuum" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val idx = s"graft_fp_vac_${dirTag(d)}"
      Dedup.buildFingerprintIndex(docs, idx)
      Dedup.fingerprintIndex().compact(s, idx,
        TextAnalysis.fingerprints(docs.filter(col("doc_id") % 3 =!= 0))
          .select("fp"))
      s.table(idx).orderBy("fp")
    }),

    // ---- the index-vacuum POLICY gated end to end: a state family
    // built over the v1 crawl plus companion fp/simhash indexes, ONE
    // committed crawlV2 delta (tombstones + survivors), then a single
    // [[Pipeline.vacuumIndexes]] call that derives every keep-set from
    // the STANDING state and runs each family's crash-ordered swap —
    // the q177 one-offs wired to the maintenance cadence, composed
    // with a real commit. The oracle replays the fp leg exactly: the
    // v1 index's distinct fp set semi-joined to the committed standing
    // corpus's fingerprints (committedStateCtes' standingdocs — the
    // same relation the policy's snapshot⋉standing cut produces; note
    // crawlV2 re-adds removed docs' TEXT under shifted ids, so a
    // re-added twin legitimately keeps its v1 fp alive — the semi-join
    // form is exact where a stnow-only replay would not be). The
    // simhash and band legs run in the same call; their fresh-build
    // equivalences are PipelineSpec-gated. Own state prefix (the build
    // + commit advance it — q170's placement must not move); a re-run
    // re-vacuums idempotently and reads identical rows.
    "q178_vacuum_policy" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val p = s"graft_vacpol_${dirTag(d)}"
      if (!s.catalog.tableExists(graft.sources.IndexSpec.specTable(p))) {
        Pipeline.corpusBuildWithState(docs, p)
        Dedup.buildFingerprintIndex(docs, s"${p}_fpidx")
        Dedup.buildSimhashIndex(docs, s"${p}_shidx")
        Pipeline.corpusDelta(crawlV2(docs), docs, p, commit = true)
      }
      Pipeline.vacuumIndexes(s, p,
        fingerprintIndex = Some(s"${p}_fpidx"),
        simhashIndex = Some(s"${p}_shidx"))
      s.table(s"${p}_fpidx").orderBy("fp")
    })
  )

  /** Deterministic synthetic "second crawl" shared by q108/q109/q110:
    * drop ids %17, append an edit marker to ids %13, re-add ids %19
    * under shifted ids — every mutation class the snapshot/merge
    * operators must classify.
    */
  private def crawlV2(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" edited v2")))
          .otherwise(col("text")))
      .unionByName(
        docs.filter(col("doc_id") % 19 === 0).select(
          (col("doc_id") + 100000L).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")))

  /** Third crawl for the SCD2 history: mutates [[crawlV2]] (drop %23,
    * edit %11) and re-adds ids %29 from v1 under a second id shift.
    */
  private def crawlV3(v2: DataFrame, docs: DataFrame): DataFrame =
    v2.filter(col("doc_id") % 23 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" edited v3")))
          .otherwise(col("text")))
      .unionByName(
        docs.filter(col("doc_id") % 29 === 0).select(
          (col("doc_id") + 200000L).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")))

  // ---------------------------------------------------------------------
  // DuckDB oracle twins. Table names refer to the driver's parquet views.
  // ---------------------------------------------------------------------

  /** Shared DuckDB fragment: whitespace tokens of a text column. */
  private val Toks = """list_filter(string_split_regex(text, '\s+'), x -> x <> '')"""
  private val Fp = """md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"""
  private val DiscPrice =
    """CAST(l_extendedprice AS DECIMAL(12,2)) * (1.00 - CAST(l_discount AS DECIMAL(4,2)))"""

  def oracleSql: Map[String, String] = Map(
    "q01_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity > 45.0 ORDER BY l_orderkey, l_linenumber""",

    "q02_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
          CAST(sum($DiscPrice) AS DOUBLE) AS sum_disc_price,
          round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
          round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
          count(*) AS count_order
          FROM lineitem GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""",

    "q03_extrema_by_key" ->
      """SELECT l_returnflag, max(l_extendedprice) AS max_price,
         min(l_extendedprice) AS min_price, count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q04_avg_balance_by_nation" ->
      """SELECT c_nationkey,
         round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_bal,
         count(*) AS cnt
         FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",

    "q05_revenue_by_brand" ->
      s"""SELECT p_brand,
          CAST(sum($DiscPrice) AS DOUBLE) AS revenue,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          count(*) AS cnt
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY p_brand ORDER BY p_brand""",

    "q06_revenue_by_nation" ->
      s"""WITH rev AS (
            SELECT l_orderkey, sum($DiscPrice) AS order_rev, count(*) AS n_items
            FROM lineitem GROUP BY l_orderkey)
          SELECT n_name, r_name,
            CAST(sum(order_rev) AS DOUBLE) AS revenue,
            CAST(sum(n_items) AS BIGINT) AS n_items,
            count(*) AS n_orders
          FROM orders
          JOIN rev ON o_orderkey = l_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY n_name, r_name ORDER BY n_name, r_name""",

    "q07_top_orders_per_priority" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3
         ORDER BY o_orderpriority, rn""",

    "q08_segment_balance_gap" ->
      """WITH b AS (
           SELECT c_nationkey,
             round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS building_avg
           FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey),
         a AS (
           SELECT c_nationkey,
             round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS automobile_avg
           FROM customer WHERE c_mktsegment = 'AUTOMOBILE' GROUP BY c_nationkey)
         SELECT b.c_nationkey, building_avg, automobile_avg,
           round(building_avg - automobile_avg, 4) AS gap
         FROM b JOIN a ON b.c_nationkey = a.c_nationkey
         ORDER BY b.c_nationkey""",

    // the pivot form must agree with the join form — same oracle
    "q09_segment_balance_pivot" ->
      """WITH b AS (
           SELECT c_nationkey,
             round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS building_avg
           FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey),
         a AS (
           SELECT c_nationkey,
             round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS automobile_avg
           FROM customer WHERE c_mktsegment = 'AUTOMOBILE' GROUP BY c_nationkey)
         SELECT b.c_nationkey, building_avg, automobile_avg,
           round(building_avg - automobile_avg, 4) AS gap
         FROM b JOIN a ON b.c_nationkey = a.c_nationkey
         ORDER BY b.c_nationkey""",

    "q10_top_orders_by_price" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "q11_distinct_part_count" ->
      """SELECT count(DISTINCT l_partkey) AS distinct_parts,
         count(*) AS total_rows FROM lineitem""",

    "q12_nations_intersect" ->
      """SELECT * FROM (
           SELECT DISTINCT c_nationkey AS nationkey FROM customer
           INTERSECT
           SELECT DISTINCT s_nationkey FROM supplier) ORDER BY nationkey""",

    "q13_nations_except" ->
      """SELECT * FROM (
           SELECT DISTINCT c_nationkey AS nationkey FROM customer
           EXCEPT
           SELECT DISTINCT s_nationkey FROM supplier) ORDER BY nationkey""",

    "q14_nations_union" ->
      """SELECT * FROM (
           SELECT c_nationkey AS nationkey FROM customer
           UNION
           SELECT s_nationkey FROM supplier) ORDER BY nationkey""",

    "q15_order_scalar_features" ->
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS BIGINT) AS order_year,
         CAST(month(o_orderdate) AS BIGINT) AS order_month,
         round(o_totalprice * 1.2, 2) AS price_usd,
         lower(o_orderpriority) AS priority_lower,
         CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS priority_rank,
         o_orderstatus || '-' || o_orderpriority AS status_priority,
         CAST(floor(o_totalprice) AS BIGINT) AS price_floor
         FROM orders ORDER BY o_orderkey""",

    "q16_events_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour, event_type,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "q17_user_running_value" ->
      """SELECT user_id, event_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS event_seq
         FROM events ORDER BY user_id, event_seq""",

    "q19_word_count" ->
      s"""SELECT word, count(*) AS cnt FROM (
            SELECT unnest($Toks) AS word FROM documents)
          GROUP BY word ORDER BY word""",

    "q20_word_length_count" ->
      s"""SELECT CAST(length(word) AS BIGINT) AS word_len, count(*) AS cnt
          FROM (SELECT unnest($Toks) AS word FROM documents)
          GROUP BY 1 ORDER BY 1""",

    "q21_avg_word_length_by_initial" ->
      s"""SELECT substring(word, 1, 1) AS initial,
          round(CAST(sum(length(word)) AS DOUBLE) / count(*), 4) AS avg_len,
          count(*) AS cnt
          FROM (SELECT unnest($Toks) AS word FROM documents)
          GROUP BY 1 ORDER BY 1""",

    "q22_inverted_index" ->
      s"""WITH pairs AS (
            SELECT DISTINCT word, doc_id FROM (
              SELECT doc_id, unnest($Toks) AS word FROM documents)),
          r AS (
            SELECT word, doc_id,
              row_number() OVER (PARTITION BY word ORDER BY doc_id) AS rn
            FROM pairs)
          SELECT word,
            string_agg(CASE WHEN rn <= 100 THEN CAST(doc_id AS VARCHAR) END,
              ',' ORDER BY doc_id) AS postings,
            count(*) AS n_docs
          FROM r GROUP BY word ORDER BY word""",

    "q54_tf_idf" ->
      s"""WITH w AS (SELECT doc_id, unnest($Toks) AS word FROM documents),
          tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
          dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n FROM documents)
          SELECT doc_id, word, tf.tf,
            round(tf.tf * (ln(CAST(n.n + 1 AS DOUBLE) / (dfq.df + 1)) + 1), 6)
              AS tf_idf
          FROM tf JOIN dfq USING (word) CROSS JOIN n
          ORDER BY doc_id, word""",

    "q57_bm25" ->
      s"""WITH w AS (SELECT doc_id, unnest($Toks) AS word FROM documents),
          tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
          dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1),
          dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n FROM documents),
          avg AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl)
          SELECT tf.doc_id, tf.word, tf.tf,
            round(
              ln((CAST(n.n AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
              * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
                 / (CAST(tf.tf AS DOUBLE)
                    + 1.2 * ((1.0 - 0.75)
                      + 0.75 * (CAST(dl.dl AS DOUBLE) / avg.avgdl)))), 6)
              AS bm25
          FROM tf
          JOIN dl ON tf.doc_id = dl.doc_id
          JOIN dfq ON tf.word = dfq.word
          CROSS JOIN n CROSS JOIN avg
          ORDER BY tf.doc_id, tf.word""",

    "q56_collocations" ->
      s"""WITH t AS (SELECT $Toks AS toks FROM documents),
          b AS (SELECT unnest(list_transform(
              generate_series(1, greatest(len(toks) - 1, 0)),
              i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t),
          pc AS (SELECT string_split(bigram, ' ')[1] AS w1,
              string_split(bigram, ' ')[2] AS w2,
              count(*) AS pair_count
            FROM b GROUP BY bigram),
          uc AS (SELECT unnest(toks) AS word FROM t),
          u AS (SELECT word, count(*) AS c FROM uc GROUP BY 1),
          nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM u),
          nb AS (SELECT CAST(sum(pair_count) AS BIGINT) AS n_big FROM pc)
          SELECT w1, w2, pair_count,
            round(ln((CAST(pair_count AS DOUBLE) * n_uni * n_uni)
              / (CAST(n_big AS DOUBLE) * a.c * b2.c)), 6) AS pmi
          FROM pc
          JOIN u a ON pc.w1 = a.word
          JOIN u b2 ON pc.w2 = b2.word
          CROSS JOIN nu CROSS JOIN nb
          WHERE pair_count >= 5
          ORDER BY w1, w2""",

    "q23_quality_features" ->
      s"""WITH t AS (SELECT doc_id, text, $Toks AS toks FROM documents)
          SELECT doc_id,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            CASE WHEN len(toks) > 0 THEN
              round(CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
                / CAST(len(toks) AS DOUBLE), 4) END AS avg_token_len,
            CASE WHEN len(toks) > 0 THEN
              round(CAST(len(list_filter(toks,
                x -> lower(x) IN ('the','a','an','and','of','to','in','is'))) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE), 4) END AS stopword_ratio,
            CASE WHEN length(text) > 0 THEN
              round((CAST(length(text) AS DOUBLE)
                - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
                / CAST(length(text) AS DOUBLE), 4) END AS punct_ratio,
            CASE WHEN length(text) > 0 THEN
              round((CAST(length(text) AS DOUBLE)
                - length(regexp_replace(text, '[A-Z]', '', 'g')))
                / CAST(length(text) AS DOUBLE), 4) END AS upper_ratio
          FROM t ORDER BY doc_id""",

    "q24_token_stats_by_lang" ->
      s"""WITH t AS (SELECT lang, CAST(len($Toks) AS BIGINT) AS n,
            length(text) AS lc FROM documents)
          SELECT lang,
            CAST(sum(n) AS BIGINT) AS total_tokens,
            round(CAST(sum(n) AS DOUBLE) / count(*), 4) AS avg_tokens_per_doc,
            CAST(sum(CAST(ceil(CAST(lc AS DOUBLE) / 4.0) AS BIGINT)) AS BIGINT)
              AS approx_bpe_tokens,
            count(*) AS n_docs
          FROM t GROUP BY lang ORDER BY lang""",

    "q25_corpus_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
         round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY lang, source ORDER BY lang, source""",

    "q26_fingerprints" ->
      s"""SELECT doc_id, $Fp AS fp,
          CAST(length(text) AS BIGINT) AS text_len
          FROM documents ORDER BY doc_id""",

    "q27_language_id" ->
      """WITH t AS (SELECT doc_id, lang,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
         FROM documents),
         s AS (SELECT doc_id, lang,
           len(list_filter(toks, x -> x IN ('the','and','of','is'))) AS s_en,
           len(list_filter(toks, x -> x IN ('el','la','de','que'))) AS s_es,
           len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS s_fr,
           len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS s_de,
           len(list_filter(toks, x -> x IN ('的','是','了','在'))) AS s_zh
         FROM t)
         SELECT doc_id, lang AS labeled_lang,
           CASE WHEN m = 0 THEN 'unknown'
                WHEN s_en = m THEN 'en' WHEN s_es = m THEN 'es'
                WHEN s_fr = m THEN 'fr' WHEN s_de = m THEN 'de'
                ELSE 'zh' END AS predicted_lang,
           CAST(m AS BIGINT) AS marker_hits
         FROM (SELECT *, greatest(s_en, s_es, s_fr, s_de, s_zh) AS m FROM s)
         ORDER BY doc_id""",

    "q28_exact_dup_groups" ->
      s"""SELECT $Fp AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
          FROM documents GROUP BY 1 ORDER BY 1""",

    "q29_exact_dedup" ->
      s"""SELECT doc_id, lang, source, n_chars FROM (
            SELECT doc_id, lang, source, n_chars,
              row_number() OVER (PARTITION BY $Fp ORDER BY doc_id) AS rn
            FROM documents) WHERE rn = 1 ORDER BY doc_id""",

    "q30_dup_stats" ->
      s"""SELECT count(*) AS n_docs,
          count(DISTINCT $Fp) AS n_unique,
          count(*) - count(DISTINCT $Fp) AS n_dups
          FROM documents""",

    // oracle for the LSH path is the exact brute-force Jaccard answer; the
    // banding parameters (k=64, b=32, r=2) put detection probability at
    // J=0.7 above 1 - 1e-9, so LSH recall is 1.0 on the oracle data
    "q31_minhash_dup_pairs" -> bruteForceJaccardOracle(threshold = 0.7),

    // full replay of the portable simhash pipeline: md5-60-bit token
    // hashes → ±1 bit-sum sketch → four 15-bit chunks → bounded buckets
    // → xor/bit_count Hamming verify. Every step is engine-neutral
    // integer arithmetic, so the pair set matches exactly.
    "q32_simhash_dup_pairs" ->
      s"""WITH toks AS (
            SELECT doc_id, unnest(list_distinct($Toks)) AS tok
            FROM documents),
          th AS (
            SELECT doc_id,
              ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
            FROM toks),
          bs AS (
            SELECT doc_id, i, sum((h >> i) & 1) AS c, count(*) AS n
            FROM th CROSS JOIN (SELECT unnest(range(60)) AS i) bits
            GROUP BY doc_id, i),
          sig0 AS (
            SELECT doc_id,
              CAST(sum(CASE WHEN 2 * c > n THEN (1::BIGINT << i)
                            ELSE 0 END) AS BIGINT) AS simhash
            FROM bs GROUP BY doc_id),
          sig AS (
            SELECT d.doc_id, coalesce(s.simhash, 0)::BIGINT AS simhash
            FROM documents d LEFT JOIN sig0 s USING (doc_id)),
          ch AS (
            SELECT doc_id, simhash, i AS chunk_idx,
              (simhash >> (i * 15)) & 32767 AS chunk
            FROM sig CROSS JOIN (SELECT unnest(range(4)) AS i) t),
          bd AS (
            SELECT doc_id, simhash, chunk_idx, chunk FROM (
              SELECT *, count(*) OVER (PARTITION BY chunk_idx, chunk) AS bn
              FROM ch) WHERE bn <= 1000),
          pr AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM bd a JOIN bd b USING (chunk_idx, chunk)
            WHERE a.doc_id < b.doc_id)
          SELECT doc_a, doc_b, hamming FROM pr
          WHERE hamming <= 3 ORDER BY doc_a, doc_b""",

    "q75_sql_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
           FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         s AS (SELECT q_id, vec_id,
           round(list_dot_product(q_emb, emb)
             / (sqrt(list_dot_product(q_emb, q_emb))
                * sqrt(list_dot_product(emb, emb))), 6) AS sim
           FROM q CROSS JOIN c),
         r AS (SELECT q_id, vec_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
             AS rnk FROM s)
         SELECT q_id, vec_id, sim, rnk FROM r WHERE rnk <= 10
         ORDER BY q_id, rnk""",

    "q33_ann_topk_exact" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
           FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         s AS (SELECT q_id, vec_id,
           round(list_dot_product(q_emb, emb)
             / (sqrt(list_dot_product(q_emb, q_emb))
                * sqrt(list_dot_product(emb, emb))), 6) AS sim
           FROM q CROSS JOIN c),
         r AS (SELECT q_id, vec_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
             AS rnk FROM s)
         SELECT q_id, vec_id, sim, rnk FROM r WHERE rnk <= 10
         ORDER BY q_id, rnk""",

    // full replay of the portable multi-table sign-LSH ANN pipeline:
    // per-(plane, dim) integer weights from md5 hex (the Spark literals
    // use the same formula), dot products over the 10⁻⁶-quantized
    // vectors in exact BIGINT arithmetic (order-free sums — no IEEE
    // caveat), bucket join on (tbl, sig), then the q33 cosine/rank tail
    // over the candidate set. 16 tables × 4 bits = 64 planes, dim 64.
    "q34_ann_topk_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         qv AS (SELECT vec_id,
           list_transform(emb, x -> CAST(round(x * 1000000) AS BIGINT))
             AS v FROM e),
         vd AS (SELECT vec_id, d, v[CAST(d + 1 AS INT)] AS x
           FROM qv CROSS JOIN (SELECT unnest(range(64)) AS d) dd),
         pw AS (SELECT p, d,
           ('0x' || substr(md5('plane_' || p || '_' || d), 1, 15))::BIGINT
             % 2000001 - 1000000 AS w
           FROM (SELECT unnest(range(64)) AS p) pp
           CROSS JOIN (SELECT unnest(range(64)) AS d) dd),
         dots AS (SELECT vd.vec_id, pw.p, sum(vd.x * pw.w) AS dp
           FROM vd JOIN pw USING (d) GROUP BY vd.vec_id, pw.p),
         sigs AS (SELECT vec_id, p // 4 AS tbl,
           CAST(sum(CASE WHEN dp > 0 THEN (1::BIGINT << CAST(p % 4 AS INT))
                         ELSE 0 END) AS BIGINT) AS sig
           FROM dots GROUP BY vec_id, p // 4),
         cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id
           FROM sigs q JOIN sigs c USING (tbl, sig)
           WHERE q.vec_id < 5),
         s AS (SELECT cand.q_id, cand.vec_id,
           round(list_dot_product(qe.emb, ce.emb)
             / (sqrt(list_dot_product(qe.emb, qe.emb))
                * sqrt(list_dot_product(ce.emb, ce.emb))), 6) AS sim
           FROM cand JOIN e qe ON qe.vec_id = cand.q_id
                     JOIN e ce ON ce.vec_id = cand.vec_id),
         r AS (SELECT q_id, vec_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
             AS rnk FROM s)
         SELECT q_id, vec_id, sim, rnk FROM r WHERE rnk <= 10
         ORDER BY q_id, rnk""",

    // brute-force replay of the multi-table sign-LSH pair pipeline: at
    // (θ=0.95, 8 bits, 32 tables) a true pair escapes the candidate step
    // with probability ~2e-8, so the LSH output equals the exhaustive
    // pair set and the all-pairs oracle is sound on any corpus.
    "q35_cosine_dup_pairs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.emb, b.emb)
             / (sqrt(list_dot_product(a.emb, a.emb))
                * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos
           FROM e a JOIN e b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, cos FROM p WHERE cos >= 0.95
         ORDER BY id_a, id_b""",

    // the fake decoder is deterministic byte math (md5 + mean byte +
    // len/64 frames), so DuckDB replays it exactly: per-byte values come
    // from hex(encode(text)) pairs, and floor(x*10000 + 0.5)/10000 is
    // Scala's math.round semantics for the 4-dp mean.
    "q40_media_features" ->
      """WITH b AS (SELECT doc_id, text, encode(text) AS p FROM documents),
         h AS (SELECT doc_id, octet_length(p) AS n,
           md5(text) AS content_md5, hex(p) AS hx FROM b),
         s AS (SELECT doc_id, n, content_md5,
           CASE WHEN n > 0 THEN
             CAST(list_sum(list_transform(range(n),
               i -> ('0x' || substr(hx, CAST(i*2+1 AS INT), 2))::BIGINT))
               AS DOUBLE) / n
           ELSE 0.0 END AS mean_raw
           FROM h)
         SELECT doc_id, CAST(n AS BIGINT) AS n_bytes, content_md5,
           floor(mean_raw * 10000 + 0.5) / 10000 AS mean_byte,
           CAST(n // 64 + 1 AS INT) AS frame_count
         FROM s ORDER BY doc_id""",

    // frame lengths are pure arithmetic over the byte length: frame i
    // covers bytes [i*64, min(n, (i+1)*64)), kept when i % stride = 0
    // and non-empty.
    "q41_frame_sample" ->
      """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n
           FROM documents),
         f AS (SELECT doc_id, n,
           unnest(range(greatest(CAST(ceil(n / 64.0) AS INT), 1))) AS fi
           FROM b)
         SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(least(64, n - fi * 64) AS BIGINT) AS frame_len
         FROM f WHERE fi % 4 = 0 AND n - fi * 64 > 0
         ORDER BY doc_id, frame_idx""",

    // ONE copy of the curation gate chain (shared with q164's
    // composition) — two hand-synced copies would let the stage and
    // the pipeline silently gate different corpora
    "q52_curate" ->
      s"""WITH ${curateCtesFor("documents", "")}
         SELECT doc_id, lang, source, n_chars, n_tokens, predicted_lang
         FROM cur ORDER BY doc_id""",

    "q53_curation_funnel" ->
      """WITH t AS (SELECT
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
         FROM documents),
         f AS (SELECT CAST(len(toks) AS BIGINT) AS n_tokens,
           len(list_filter(toks, x -> x IN ('the','and','of','is'))) AS s_en,
           len(list_filter(toks, x -> x IN ('el','la','de','que'))) AS s_es,
           len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS s_fr,
           len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS s_de,
           len(list_filter(toks, x -> x IN ('的','是','了','在'))) AS s_zh
         FROM t),
         p AS (SELECT *, greatest(s_en, s_es, s_fr, s_de, s_zh) AS m FROM f),
         l AS (SELECT n_tokens,
           CASE WHEN m = 0 THEN 'unknown'
                WHEN s_en = m THEN 'en' WHEN s_es = m THEN 'es'
                WHEN s_fr = m THEN 'fr' WHEN s_de = m THEN 'de'
                ELSE 'zh' END AS predicted_lang
         FROM p)
         SELECT CASE
             WHEN n_tokens NOT BETWEEN 30 AND 120 THEN 'drop_length'
             WHEN predicted_lang NOT IN ('en', 'unknown') THEN 'drop_lang'
             ELSE 'keep' END AS verdict,
           count(*) AS n_docs
         FROM l GROUP BY 1 ORDER BY 1""",

    "q50_label_centroids" ->
      """SELECT label, pos,
         round(CAST(sum(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6)
           AS c
         FROM (SELECT label, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos FROM embeddings)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // full IVF replay: the quantizer is the (oracle-gated, q50) label
    // centroid set cast to FLOAT exactly as the persisted index stores
    // it; cell assignment and probe order are argmax cosine with the
    // same higher-cell tiebreak as the Spark greatest(struct) /
    // reverse(array_sort) forms; final scoring mirrors rankTopK's
    // round-to-6dp-then-rank contract.
    "q51_ann_topk_ivf" ->
      """WITH cc AS (
           SELECT label, pos,
             CAST(CAST(round(CAST(sum(CAST(v AS DECIMAL(20,10))) AS DOUBLE)
                 / count(*), 6) AS FLOAT) AS DOUBLE) AS c
           FROM (SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS pos FROM embeddings)
           GROUP BY 1, 2),
         cents AS (
           SELECT label AS cell, list(c ORDER BY pos) AS cvec
           FROM cc GROUP BY 1),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         assigned AS (
           SELECT vec_id, emb, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_dot_product(emb, cvec)
                 / (sqrt(list_dot_product(emb, emb))
                    * sqrt(list_dot_product(cvec, cvec))) DESC,
               cell DESC) AS crnk
           FROM e CROSS JOIN cents),
         corpus AS (SELECT vec_id, emb, cell FROM assigned WHERE crnk = 1),
         q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 5),
         probe AS (
           SELECT q_id, q_emb, cell,
             row_number() OVER (PARTITION BY q_id ORDER BY
               list_dot_product(q_emb, cvec)
                 / (sqrt(list_dot_product(q_emb, q_emb))
                    * sqrt(list_dot_product(cvec, cvec))) DESC,
               cell DESC) AS prnk
           FROM q CROSS JOIN cents),
         probed AS (SELECT q_id, q_emb, cell FROM probe WHERE prnk <= 5),
         s AS (SELECT q_id, vec_id,
             round(list_dot_product(q_emb, emb)
               / (sqrt(list_dot_product(q_emb, q_emb))
                  * sqrt(list_dot_product(emb, emb))), 6) AS sim
           FROM probed JOIN corpus USING (cell)),
         r AS (SELECT q_id, vec_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY sim DESC, vec_id) AS BIGINT) AS rnk FROM s)
         SELECT q_id, vec_id, sim, rnk FROM r WHERE rnk <= 10
         ORDER BY q_id, rnk""",

    // portable CMS replay: the identical Kirsch–Mitzenmacher cell table
    // (depth 5 x width 272; bucket_i = (h1 + i*h2) mod 272 over the two
    // 60-bit sub-words of ONE md5, h2 forced odd), then min-over-rows
    // per probed key — integer arithmetic end to end, the q32/q34 pattern
    "q37_cms_frequencies" ->
      """WITH rs AS (SELECT unnest(range(5)) AS row_i),
         v AS (SELECT CAST(l_returnflag AS VARCHAR) AS v FROM lineitem
               WHERE l_returnflag IS NOT NULL),
         hw AS (SELECT ('0x' || substr(md5('cms_' || v), 1, 15))::BIGINT AS h1,
             (('0x' || substr(md5('cms_' || v), 16, 15))::BIGINT | 1) AS h2
           FROM v),
         cells AS (SELECT row_i, (h1 + row_i * h2) % 272 AS bucket,
             count(*) AS cell
           FROM hw CROSS JOIN rs GROUP BY 1, 2),
         probes AS (SELECT k.key, rs.row_i,
             ((('0x' || substr(md5('cms_' || k.key), 1, 15))::BIGINT
               + rs.row_i * (('0x' || substr(md5('cms_' || k.key), 16, 15))::BIGINT | 1))
               % 272) AS bucket
           FROM (VALUES ('A'), ('N'), ('R')) k(key) CROSS JOIN rs)
         SELECT p.key,
           CAST(min(coalesce(c.cell, 0)) AS BIGINT) AS estimate
         FROM probes p LEFT JOIN cells c
           ON c.row_i = p.row_i AND c.bucket = p.bucket
         GROUP BY p.key ORDER BY key""",

    "q38_exact_frequencies" ->
      """SELECT l_returnflag AS key, count(*) AS cnt FROM lineitem
         WHERE l_returnflag IN ('A', 'N', 'R')
         GROUP BY 1 ORDER BY 1""",

    // portable bloom replay: each value sets 7 bits of 9586 via
    // Kirsch–Mitzenmacher (pos_j = (h1 + j*h2) mod 9586 from ONE md5);
    // a candidate might be contained iff all 7 of its positions are set
    "q39_bloom_membership" ->
      """WITH js AS (SELECT unnest(range(7)) AS j),
         v AS (SELECT CAST(l_returnflag AS VARCHAR) AS v FROM lineitem
               WHERE l_returnflag IS NOT NULL),
         hw AS (SELECT ('0x' || substr(md5('bloom_' || v), 1, 15))::BIGINT AS h1,
             (('0x' || substr(md5('bloom_' || v), 16, 15))::BIGINT | 1) AS h2
           FROM v),
         bits AS (SELECT DISTINCT (h1 + j * h2) % 9586 AS pos
           FROM hw CROSS JOIN js),
         probes AS (SELECT DISTINCT c.candidate,
             ((('0x' || substr(md5('bloom_' || c.candidate), 1, 15))::BIGINT
               + js.j * (('0x' || substr(md5('bloom_' || c.candidate), 16, 15))::BIGINT | 1))
               % 9586) AS pos
           FROM (VALUES ('A'), ('N'), ('R'), ('X'), ('Z')) c(candidate)
           CROSS JOIN js)
         SELECT p.candidate, count(b.pos) = count(*) AS might_contain
         FROM probes p LEFT JOIN bits b ON b.pos = p.pos
         GROUP BY p.candidate ORDER BY candidate""",

    "q42_csv_roundtrip" ->
      """SELECT l_returnflag,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
         count(*) AS cnt
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "q43_fixedwidth_roundtrip" ->
      """SELECT o_orderpriority,
         CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price,
         count(*) AS cnt
         FROM orders GROUP BY 1 ORDER BY 1""",

    "q44_json_roundtrip" ->
      """SELECT n_regionkey, count(*) AS n_nations FROM nation
         GROUP BY 1 ORDER BY 1""",

    "q45_row_index" ->
      """SELECT o_orderkey, o_totalprice,
         CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT)
           AS row_idx
         FROM orders ORDER BY row_idx""",

    "q46_typed_avg" ->
      s"""SELECT substring(word, 1, 1) AS initial,
          round(CAST(sum(length(word)) AS DOUBLE) / count(*), 4) AS avg_len,
          count(*) AS cnt
          FROM (SELECT unnest($Toks) AS word FROM documents)
          GROUP BY 1 ORDER BY 1""",

    "q49_topk_heap" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3
         ORDER BY o_orderpriority, rn""",

    "q55_sessionize" ->
      """WITH g AS (
           SELECT user_id, event_id, ts, value,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ts, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
           FROM g)
         SELECT user_id, session_id, count(*) AS n_events,
           round(CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS DOUBLE) / 1e6, 3)
             AS duration_sec,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
         FROM s GROUP BY 1, 2 ORDER BY 1, 2""",

    "q48_bucketed_join" ->
      """WITH la AS (
           SELECT l_orderkey,
             sum(CAST(l_quantity AS DECIMAL(12,2))) AS order_qty,
             count(*) AS n_items
           FROM lineitem GROUP BY l_orderkey)
         SELECT o_orderpriority,
           CAST(sum(order_qty) AS DOUBLE) AS sum_qty,
           CAST(sum(n_items) AS BIGINT) AS n_items,
           count(*) AS n_orders
         FROM orders JOIN la ON o_orderkey = l_orderkey
         GROUP BY 1 ORDER BY 1""",

    "q62_benchmark_overlap" ->
      s"""WITH sh AS (
            SELECT doc_id, list_distinct(list_transform(
              generate_series(1, greatest(len(toks) - 4, 0)),
              i -> array_to_string(toks[i:i+4], ' '))) AS sh
            FROM (SELECT doc_id, $Toks AS toks FROM documents)),
          bg AS (SELECT DISTINCT unnest(sh) AS gram FROM sh
                 WHERE doc_id % 29 = 0),
          cg AS (SELECT doc_id, unnest(sh) AS gram FROM sh
                 WHERE doc_id % 29 <> 0),
          h AS (SELECT doc_id, count(*) AS n_overlap
                FROM cg JOIN bg USING (gram) GROUP BY 1)
          SELECT d.doc_id, coalesce(h.n_overlap, 0) AS n_overlap,
            coalesce(h.n_overlap, 0) > 0 AS contaminated
          FROM (SELECT doc_id FROM documents WHERE doc_id % 29 <> 0) d
          LEFT JOIN h USING (doc_id) ORDER BY doc_id""",

    "q63_repetition_signals" ->
      s"""WITH t AS (SELECT doc_id, text, $Toks AS toks FROM documents),
          g AS (SELECT doc_id, text, toks,
              CASE WHEN len(toks) >= 2 THEN list_transform(
                generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1]) ELSE [] END AS grams
            FROM t),
          b AS (SELECT doc_id, unnest(grams) AS gram FROM g),
          bc AS (SELECT doc_id, gram, count(*) AS c FROM b GROUP BY 1, 2),
          mx AS (SELECT doc_id, max(c) AS mx FROM bc GROUP BY 1)
          SELECT g.doc_id,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            CASE WHEN len(toks) > 0 THEN
              round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                / len(toks), 4) END AS dup_token_ratio,
            CASE WHEN len(grams) > 0 THEN
              round(CAST(mx.mx AS DOUBLE) / len(grams), 4)
              END AS top_bigram_ratio,
            CASE WHEN length(text) > 0 THEN
              round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                AS DOUBLE) / length(text), 4) END AS symbol_ratio
          FROM g LEFT JOIN mx ON g.doc_id = mx.doc_id
          ORDER BY g.doc_id""",

    "q64_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($Toks) AS BIGINT) AS n_tokens
            FROM documents),
          c AS (SELECT doc_id, n_tokens,
            coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
            FROM t)
          SELECT doc_id, n_tokens, CAST(prev // 2048 AS BIGINT) AS bin_id
          FROM c ORDER BY doc_id""",

    "q65_stratified_mix" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT <
           CASE lang WHEN 'en' THEN 32768 WHEN 'zh' THEN 16384
                ELSE 65536 END
         ORDER BY doc_id""",

    "q66_token_quantiles" ->
      s"""SELECT lang, count(*) AS n_docs,
          round(quantile_cont(n, 0.5), 4) AS p50_tokens,
          round(quantile_cont(n, 0.9), 4) AS p90_tokens,
          round(quantile_cont(n, 0.99), 4) AS p99_tokens,
          max(n) AS max_tokens
          FROM (SELECT lang, CAST(len($Toks) AS BIGINT) AS n FROM documents)
          GROUP BY lang ORDER BY lang""",

    // transitive closure of the exact-Jaccard pair list (small by
    // construction: only true near-dup pairs), then min per node
    "q74_dup_components" ->
      s"""$DupComponentsCte
          SELECT doc_id, component FROM comp ORDER BY doc_id""",

    "q73_cohort_retention" ->
      """WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
           FROM events GROUP BY 1),
         e AS (SELECT user_id, CAST(ts AS DATE) AS event_day FROM events)
         SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
           CAST(date_diff('day', cohort_day, event_day) AS BIGINT)
             AS day_offset,
           count(DISTINCT user_id) AS n_users
         FROM e JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q68_rollup_subtotals" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           count(*) AS cnt
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY 1, 2""",

    "q69_salted_agg" ->
      """SELECT l_returnflag,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         count(*) AS cnt
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "q70_anti_join" ->
      """SELECT c_custkey, c_nationkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
         ORDER BY c_custkey""",

    "q71_semi_join" ->
      """SELECT s_suppkey, s_nationkey FROM supplier
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
         ORDER BY s_suppkey""",

    "q72_full_outer" ->
      """WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
           FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
           FROM supplier GROUP BY 1)
         SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
           coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
         FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
         ORDER BY 1""",

    "q67_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e
           JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e
           JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
             count(*) AS n_users FROM s1
           UNION ALL SELECT 2, 'click', count(*) FROM s2
           UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
         ORDER BY step""",

    // the SQL-authored surface reuses the DataFrame twins' oracles: same
    // semantics, different authoring path — both must hash-match DuckDB
    "q58_sql_revenue_by_nation" ->
      s"""WITH rev AS (
            SELECT l_orderkey, sum($DiscPrice) AS order_rev, count(*) AS n_items
            FROM lineitem GROUP BY l_orderkey)
          SELECT n_name, r_name,
            CAST(sum(order_rev) AS DOUBLE) AS revenue,
            CAST(sum(n_items) AS BIGINT) AS n_items,
            count(*) AS n_orders
          FROM orders
          JOIN rev ON o_orderkey = l_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY n_name, r_name ORDER BY n_name, r_name""",

    "q60_sql_word_count" ->
      s"""SELECT word, count(*) AS cnt FROM (
            SELECT unnest($Toks) AS word FROM documents)
          GROUP BY word ORDER BY word""",

    "q61_sql_top_orders" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3
         ORDER BY o_orderpriority, rn""",

    "q59_textline_roundtrip" ->
      """SELECT c_nationkey,
         CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal,
         count(*) AS cnt
         FROM customer GROUP BY 1 ORDER BY 1""",

    "q47_event_prop_stats" ->
      """SELECT event_type,
         CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k,
         CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
           AS max_k,
         count(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k
         FROM events GROUP BY 1 ORDER BY 1""",

    // DuckDB's native ASOF JOIN vs the engine's tagged-union window
    // sweep: two independent algorithms for the same semantics.
    // Timestamps compare in epoch-µs on both sides (Spark stores µs;
    // epoch_us truncates DuckDB's ns identically).
    "q76_asof_join" ->
      """WITH v AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'view'),
         p AS (SELECT user_id, ts, value FROM events
           WHERE event_type = 'purchase')
         SELECT v.user_id, v.event_id, epoch_us(v.ts) AS view_us,
           coalesce(epoch_us(p.ts), -1) AS purchase_us,
           coalesce(p.value, 0.0) AS purchase_value
         FROM v ASOF LEFT JOIN p
           ON v.user_id = p.user_id AND v.ts >= p.ts
         ORDER BY v.user_id, v.event_id""",

    "q88_asof_forward" ->
      """WITH v AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'view'),
         p AS (SELECT user_id, ts, value FROM events
           WHERE event_type = 'purchase')
         SELECT v.user_id, v.event_id, epoch_us(v.ts) AS view_us,
           coalesce(epoch_us(p.ts), -1) AS next_purchase_us,
           coalesce(p.value, 0.0) AS next_purchase_value
         FROM v ASOF LEFT JOIN p
           ON v.user_id = p.user_id AND v.ts <= p.ts
         ORDER BY v.user_id, v.event_id""",

    "q77_interval_join" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id,
           epoch_us(ts) AS p_us FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, epoch_us(ts) AS v_us, value FROM events
           WHERE event_type = 'view')
         SELECT p.purchase_id, p.user_id,
           count(v.v_us) AS n_views,
           coalesce(CAST(sum(CAST(v.value AS DECIMAL(18,2))) AS DOUBLE), 0.0)
             AS sum_view_value
         FROM p LEFT JOIN v ON v.user_id = p.user_id
           AND v.v_us >= p.p_us AND v.v_us < p.p_us + 3600000000
         GROUP BY 1, 2 ORDER BY 1""",

    "q78_event_windows" ->
      """SELECT user_id, event_id,
           row_number() OVER w AS event_seq,
           lag(value) OVER w AS prev_value,
           value - lag(value) OVER w AS delta,
           rank() OVER (PARTITION BY user_id ORDER BY value DESC)
             AS val_rank,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS mov_avg5
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, event_seq""",

    "q79_cube_subtotals" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           count(*) AS cnt
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY 1, 2""",

    // melt of q09's pivot: one output row per (nation, segment-column)
    "q80_unpivot_segments" ->
      """WITH b AS (SELECT c_nationkey,
             round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / count(*), 4) AS building_avg
           FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY 1),
         a AS (SELECT c_nationkey,
             round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / count(*), 4) AS automobile_avg
           FROM customer WHERE c_mktsegment = 'AUTOMOBILE' GROUP BY 1),
         j AS (SELECT b.c_nationkey, building_avg, automobile_avg
           FROM b JOIN a USING (c_nationkey))
         SELECT c_nationkey, segment, avg_bal FROM (
           SELECT c_nationkey, 'building_avg' AS segment,
             building_avg AS avg_bal FROM j
           UNION ALL
           SELECT c_nationkey, 'automobile_avg', automobile_avg FROM j)
         ORDER BY c_nationkey, segment""",

    "q81_redact_pii" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_email,
           CAST(len(regexp_extract_all(text,
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(text,
             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
           CAST(len(regexp_extract_all(text,
             '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g'),
             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g'),
             '\+?[0-9][0-9()\- ]{6,}[0-9]', '[PHONE]', 'g') AS redacted
         FROM documents ORDER BY doc_id""",

    "q89_incremental_dedup" ->
      s"""WITH newb AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
          corp AS (SELECT DISTINCT $Fp AS fp FROM documents
            WHERE doc_id % 5 <> 0)
          SELECT doc_id, n_chars FROM newb
          WHERE NOT EXISTS (SELECT 1 FROM corp WHERE corp.fp = $Fp)
          ORDER BY doc_id""",

    // md5 of the same string is identical in both engines; 13 hex chars
    // = 52 bits, exact in double and in BIGINT, so both sides rank the
    // same priorities
    // event_id as VARCHAR: the operator carries ids as strings so any
    // id type (numeric key, document URI) samples identically
    "q87_reservoir_sample" ->
      """SELECT event_type, CAST(event_id AS VARCHAR) AS event_id, rn FROM (
           SELECT event_type, event_id,
             row_number() OVER (PARTITION BY event_type ORDER BY
               ('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'graft'),
                 1, 13))::BIGINT) AS rn
           FROM events) WHERE rn <= 10
         ORDER BY event_type, rn""",

    // DuckDB list_slice is 1-based with an INCLUSIVE end index, so
    // end = start + chunkTokens − 1 mirrors Spark's slice(start, length)
    "q85_chunk_documents" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
          n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks
            FROM t WHERE len(toks) > 0),
          c AS (SELECT doc_id, toks, n_toks,
            unnest(generate_series(0, CAST((n_toks - 1) // 48 AS BIGINT)))
              AS chunk_id
            FROM n)
          SELECT doc_id, chunk_id,
            array_to_string(list_slice(toks,
              CAST(chunk_id * 48 + 1 AS INT),
              CAST(chunk_id * 48 + 64 AS INT)), ' ') AS chunk_text,
            least(64, n_toks - chunk_id * 48) AS n_chunk_tokens
          FROM c ORDER BY doc_id, chunk_id""",

    "q86_standardize" ->
      """WITH s AS (
           SELECT event_type,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value AS DECIMAL(18,2))
               * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2,
             count(value) AS n
           FROM events GROUP BY 1),
         st AS (SELECT event_type, s1 / n AS mu,
             sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS sigma
           FROM s)
         SELECT event_id, e.event_type, value,
           CASE WHEN value IS NOT NULL AND sigma = 0 THEN 0.0
                ELSE round((value - mu) / sigma, 4) END AS z
         FROM events e JOIN st USING (event_type)
         ORDER BY event_id""",

    "q84_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           count(*) AS cnt
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY 1, 2""",

    // same oracle as q05: the pushdown rewrite is answer-preserving
    "q83_agg_pushdown" ->
      s"""SELECT p_brand,
          CAST(sum($DiscPrice) AS DOUBLE) AS revenue,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          count(*) AS cnt
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY p_brand ORDER BY p_brand""",

    // float→double cast, abs/max fold, and x/scale division are all
    // IEEE-exact, and both engines round half away from zero — so the
    // int8 codes hash-match bit-for-bit
    "q82_quantize_embeddings" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         s AS (SELECT vec_id, emb,
           list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
           FROM e)
         SELECT vec_id, scale,
           array_to_string(
             CASE WHEN scale = 0
               THEN list_transform(emb, x -> CAST(CAST(0 AS TINYINT) AS VARCHAR))
               ELSE list_transform(emb,
                 x -> CAST(CAST(round(x / scale) AS TINYINT) AS VARCHAR))
             END, ',') AS qvec_csv
         FROM s ORDER BY vec_id""",

    // host/path via split_part (clean synthetic URLs, so string splitting
    // agrees with Spark's java.net.URI parse; messy-URL semantics —
    // ports, userinfo, query strings — are asserted in WebSpec)
    "q90_url_screen" ->
      """WITH u AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 7 = 0 THEN 'http' ELSE 'https' END)
               || '://' || source || '.example' || (doc_id % 3) || '.com/'
               || lang || '/doc/' || doc_id AS url
           FROM documents),
         p AS (SELECT doc_id, url,
             lower(split_part(split_part(url, '://', 2), '/', 1)) AS host,
             split_part(url, '://', 2) AS hp
           FROM u)
         SELECT doc_id, url, host,
           regexp_extract(host, '([^.]+[.][^.]+)$', 1) AS registered_domain,
           CAST(len(list_filter(
             string_split(substr(hp, len(host) + 1), '/'), x -> x <> ''))
             AS BIGINT) AS path_depth,
           url LIKE 'https://%' AS is_https,
           regexp_extract(host, '([^.]+[.][^.]+)$', 1) = 'example2.com'
             AS blocked
         FROM p ORDER BY doc_id""",

    // chunking CTE as in q85 (stride = size = 32, no overlap); grouping
    // by the raw chunk text equals the engine's md5-fingerprint grouping
    // because the fingerprint's whitespace normalization is the identity
    // on space-joined tokens
    "q91_dedup_chunks" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
          n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks
            FROM t WHERE len(toks) > 0),
          c AS (SELECT doc_id, toks, n_toks,
            unnest(generate_series(0, CAST((n_toks - 1) // 32 AS BIGINT)))
              AS chunk_id
            FROM n),
          ch AS (SELECT doc_id, chunk_id,
            array_to_string(list_slice(toks,
              CAST(chunk_id * 32 + 1 AS INT),
              CAST(chunk_id * 32 + 32 AS INT)), ' ') AS chunk_text,
            least(32, n_toks - chunk_id * 32) AS n_chunk_tokens
            FROM c)
          SELECT doc_id, chunk_id, n_chunk_tokens,
            row_number() OVER (PARTITION BY chunk_text
              ORDER BY doc_id, chunk_id) = 1 AS kept,
            count(*) OVER (PARTITION BY chunk_text) AS n_copies
          FROM ch ORDER BY doc_id, chunk_id""",

    "q92_orc_roundtrip" ->
      """SELECT o_orderstatus,
         CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price,
         count(*) AS cnt
         FROM orders GROUP BY 1 ORDER BY 1""",

    // percent_rank = (rank-1)/(n-1) in both engines; ties share a rank,
    // and the filter runs on the unrounded value in both
    "q93_length_prune" ->
      s"""WITH t AS (SELECT doc_id, lang,
            CAST(len($Toks) AS BIGINT) AS n_toks FROM documents),
          p AS (SELECT doc_id, lang, n_toks,
            percent_rank() OVER (PARTITION BY lang ORDER BY n_toks) AS pr
            FROM t)
          SELECT doc_id, lang, n_toks, round(pr, 4) AS len_pr
          FROM p WHERE pr >= 0.1 ORDER BY doc_id""",

    // quantile_disc is DuckDB's exact discrete quantile; Spark's
    // percentile_approx at accuracy 10000 stores every distinct value at
    // this corpus size, so both return the identical data value — the
    // sketch-vs-exact gap only opens beyond the accuracy budget
    "q96_length_prune_approx" ->
      s"""WITH t AS (SELECT doc_id, lang,
            CAST(len($Toks) AS BIGINT) AS n_toks FROM documents),
          c AS (SELECT lang, CAST(quantile_disc(n_toks, 0.1) AS BIGINT)
            AS len_cut FROM t GROUP BY 1)
          SELECT doc_id, lang, n_toks, len_cut
          FROM t JOIN c USING (lang) WHERE n_toks >= len_cut
          ORDER BY doc_id""",

    // list(... ORDER BY) + list_reduce folds left-to-right seeded with
    // the first element — the exact double-precision recursion the
    // engine's sort_array + aggregate fold runs, so values match
    // bit-for-bit before the defensive round
    "q94_user_ewma" ->
      """SELECT user_id, count(*) AS n_obs,
           round(list_reduce(
             list_transform(list(value ORDER BY ts, event_id),
               x -> CAST(x AS DOUBLE)),
             (acc, x) -> 0.2 * x + 0.8 * acc), 4) AS ewma
         FROM events WHERE value IS NOT NULL
         GROUP BY user_id ORDER BY user_id""",

    "q95_kmeans" -> kMeansOracle(k = 8, iters = 5),

    // same bit-interleave as Locality.zValue: bit b of zx lands at 2b,
    // bit b of zy at 2b+1 — spelled out as shift/mask/add terms DuckDB
    // evaluates with the same exact integer semantics. Hour bucket via
    // explicit floor (see ZySql — DuckDB's // truncates, and
    // CAST(epoch(ts) AS BIGINT) would ROUND fractional seconds). Both
    // coordinates are pmod-wrapped (+1024 twin) so negative ids /
    // pre-1970 timestamps stay in [0, 1024) on both engines.
    "q97_zorder" ->
      s"""WITH t AS (SELECT event_id,
            CAST($ZxSql AS BIGINT) AS zx,
            CAST($ZySql AS BIGINT) AS zy
          FROM events)
          SELECT event_id, zx, zy,
            CAST(${zInterleaveSql("zx", "zy", 10)} AS BIGINT) AS zval
          FROM t ORDER BY event_id""",

    // chained-CTE replay of Locality.withHilbert: one CTE per bit step
    // of the public-domain xy2d fold (quadrant select, full-grid
    // reflect, axis swap) — pure integer CASE arithmetic, so the state
    // stays in lockstep with the Spark projection chain at every step
    "q98_hilbert" -> hilbertOracle(bits = 10),

    // same A-ES key as the Spark side: u = (52 md5 bits + 1) / 2^52,
    // key = round(ln(u)/weight, 6) ranked DESC with the string id as
    // tiebreak — the rounding is what makes the rank order engine-proof
    "q99_weighted_sample" ->
      """SELECT event_type, CAST(event_id AS VARCHAR) AS event_id, rn FROM (
           SELECT event_type, event_id,
             row_number() OVER (PARTITION BY event_type ORDER BY
               round(ln((('0x' || substr(md5(CAST(event_id AS VARCHAR)
                   || 'graft'), 1, 13))::BIGINT + 1)
                 / 4503599627370496.0) / value, 6) DESC,
               CAST(event_id AS VARCHAR)) AS rn
           FROM events WHERE value > 0 AND event_id IS NOT NULL)
         WHERE rn <= 10 ORDER BY event_type, rn""",

    // the all-pairs ground truth IS the oracle here: prefix filtering
    // never drops a qualifying pair, so the exact join must reproduce
    // the brute-force answer verbatim — the SAME oracle gates q31, so a
    // shared helper keeps the two ground truths in lockstep
    "q100_exact_jaccard_pairs" -> bruteForceJaccardOracle(threshold = 0.7),

    // DECIMAL(30,15) normalizer sum matches the Spark side exactly, so
    // the rounded weights agree bit-for-bit regardless of window
    // summation order
    "q101_mixing_weights" ->
      """WITH c AS (SELECT source, count(*) AS n_docs
           FROM documents GROUP BY 1),
         w AS (SELECT source, n_docs,
           round(pow(n_docs, 0.7) /
             CAST(sum(CAST(pow(n_docs, 0.7) AS DECIMAL(30,15))) OVER ()
               AS DOUBLE), 6) AS weight
           FROM c)
         SELECT source, n_docs, weight,
           CAST(floor(weight * 100000) AS BIGINT) AS expected_docs
         FROM w ORDER BY source""",

    // q74's clusters + per-cluster argmax(score) with min-doc_id
    // tiebreak, singletons self-canonical — max-then-filter spells the
    // same choice Spark's lexicographic struct max makes
    "q102_canonical_docs" ->
      s"""$DupComponentsCte,
          wc AS (
            SELECT d.doc_id,
              coalesce(c.component, d.doc_id) AS component,
              CAST(d.n_chars AS BIGINT) AS score
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
          best AS (SELECT component, max(score) AS best_score
                   FROM wc GROUP BY 1),
          canon AS (
            SELECT wc.component, min(wc.doc_id) AS canonical_id
            FROM wc JOIN best ON wc.component = best.component
              AND wc.score = best.best_score
            GROUP BY 1)
          SELECT wc.doc_id, wc.component, canon.canonical_id,
            CAST(wc.doc_id = canon.canonical_id AS BIGINT) AS keep
          FROM wc JOIN canon ON wc.component = canon.component
          ORDER BY wc.doc_id""",

    // row_number over the md5 total order replays the distributed
    // zipWithIndex; doc_id breaks (impossible) md5 ties on both engines
    "q103_shuffle_shard" ->
      """WITH r AS (
           SELECT doc_id, source,
             CAST(row_number() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
               AS BIGINT) AS shuffle_rank
           FROM documents)
         SELECT doc_id, source, shuffle_rank, shuffle_rank % 8 AS shard
         FROM r ORDER BY doc_id""",

    // running sum INCLUDING the current row (ROWS UNBOUNDED PRECEDING),
    // (score desc, doc_id) total order = the same deterministic cut the
    // distributed prefix sum makes
    "q104_budget_select" ->
      s"""WITH t AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
              CAST(len($Toks) AS BIGINT) AS n_tokens
            FROM documents),
          s AS (
            SELECT doc_id, score, n_tokens,
              CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
            FROM t)
          SELECT doc_id, score, n_tokens, cum_tokens
          FROM s WHERE cum_tokens <= 15000 ORDER BY doc_id""",

    // 0-based dim to match posexplode; min/max are order-independent so
    // raw doubles hash-match (no summation-order hazard to round away)
    "q105_dimension_stats" ->
      """SELECT CAST(i - 1 AS BIGINT) AS dim,
           min(v) AS min_val, max(v) AS max_val,
           greatest(abs(min(v)), abs(max(v))) AS abs_max
         FROM (SELECT unnest(CAST(embedding AS DOUBLE[])) AS v,
                      generate_subscripts(embedding, 1) AS i
               FROM embeddings)
         GROUP BY i ORDER BY dim""",

    // same absmax/127 per-channel scale, same round(x/scale) as q82
    "q106_quantize_per_dim" ->
      """WITH x AS (
           SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
             generate_subscripts(embedding, 1) AS i
           FROM embeddings),
         s AS (SELECT i, greatest(abs(min(v)), abs(max(v))) / 127.0
                 AS scale
               FROM x GROUP BY i),
         q AS (SELECT x.vec_id, x.i,
                 CASE WHEN s.scale = 0 THEN CAST(0 AS TINYINT)
                      ELSE CAST(round(x.v / s.scale) AS TINYINT) END AS qv
               FROM x JOIN s USING (i))
         SELECT vec_id,
           string_agg(CAST(qv AS VARCHAR), ',' ORDER BY i) AS qvec_csv
         FROM q GROUP BY vec_id ORDER BY vec_id""",

    // direct single-scan stats — the merge-path twin must agree exactly
    // (DECIMAL sums make the monoid merge bit-deterministic)
    "q107_incremental_stats" ->
      """SELECT source, lang, count(n_chars) AS n,
           CAST(sum(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) AS sum_v,
           min(n_chars) AS min_v, max(n_chars) AS max_v,
           round(CAST(sum(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE)
             / count(n_chars), 4) AS avg_v
         FROM documents GROUP BY source, lang ORDER BY source, lang""",

    // same v2 derivation, same normalized fingerprint ($Fp), classified
    // through a full-outer join keyed on doc_id
    "q108_snapshot_diff" ->
      s"""WITH newd AS (
            SELECT doc_id,
              CASE WHEN doc_id % 13 = 0 THEN text || ' edited v2'
                   ELSE text END AS text
            FROM documents WHERE doc_id % 17 <> 0
            UNION ALL
            SELECT doc_id + 100000, text FROM documents
            WHERE doc_id % 19 = 0),
          o AS (SELECT doc_id, $Fp AS fp FROM documents),
          n AS (SELECT doc_id, $Fp AS fp FROM newd)
          SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
            CASE WHEN o.fp IS NULL THEN 'added'
                 WHEN n.fp IS NULL THEN 'removed'
                 WHEN o.fp <> n.fp THEN 'changed'
                 ELSE 'unchanged' END AS status
          FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
          ORDER BY doc_id""",

    // three snapshot CTEs ($CrawlV2Sql/$CrawlV3Sql mirror crawlV2/V3),
    // then the same lag + running-sum run detection over (doc_id, version)
    "q109_scd2_history" ->
      s"""WITH $CrawlV2Sql, $CrawlV3Sql,
          snap AS (
            SELECT doc_id, CAST(1 AS BIGINT) AS version, $Fp AS fp
            FROM documents
            UNION ALL SELECT doc_id, 2, $Fp FROM v2
            UNION ALL SELECT doc_id, 3, $Fp FROM v3),
          marked AS (
            SELECT doc_id, version, fp,
              CASE WHEN lag(fp) OVER w IS NULL
                     OR lag(fp) OVER w <> fp
                     OR lag(version) OVER w <> version - 1
                   THEN 1 ELSE 0 END AS new_run
            FROM snap
            WINDOW w AS (PARTITION BY doc_id ORDER BY version)),
          runs AS (
            SELECT doc_id, version, fp,
              sum(new_run) OVER (PARTITION BY doc_id ORDER BY version
                ROWS UNBOUNDED PRECEDING) AS run
            FROM marked)
          SELECT doc_id,
            min(version) AS valid_from, max(version) AS valid_to,
            min(fp) AS state,
            CAST(CASE WHEN max(version) = 3 THEN 1 ELSE 0 END AS BIGINT)
              AS is_current
          FROM runs GROUP BY doc_id, run ORDER BY doc_id, valid_from""",

    // independent path to the merged snapshot: derive v2 directly
    // (the Spark side folds a delete/edit/add changeset into v1)
    "q110_merge_changeset" ->
      s"""WITH $CrawlV2Sql
          SELECT doc_id, lang, source, n_chars, $Fp AS fp
          FROM v2 ORDER BY doc_id""",

    "q111_column_profile" ->
      s"""WITH audited AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
              nullif(o_custkey % 5, 0) AS cust_bucket
            FROM orders),
          cells AS (
            SELECT 'o_orderkey' AS column_name,
              CAST(o_orderkey AS VARCHAR) AS v FROM audited
            UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR)
              FROM audited
            UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM audited
            UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM audited
            UNION ALL SELECT 'cust_bucket', CAST(cust_bucket AS VARCHAR)
              FROM audited)
          SELECT column_name, count(*) AS n_rows,
            count(*) - count(v) AS n_null,
            count(DISTINCT v) AS n_distinct,
            min(v) AS min_str, max(v) AS max_str
          FROM cells GROUP BY column_name ORDER BY column_name""",

    "q112_fk_violations" ->
      """SELECT * FROM (
           SELECT 'lineitem_orderkey' AS constraint_name,
             count(*) AS n_violations, min(CAST(k AS BIGINT)) AS sample_key
           FROM (SELECT l_orderkey AS k FROM lineitem
             WHERE l_orderkey IS NOT NULL AND l_orderkey NOT IN
               (SELECT o_orderkey FROM orders WHERE o_orderkey % 113 <> 0))
           UNION ALL
           SELECT 'lineitem_partkey', count(*), min(CAST(k AS BIGINT))
           FROM (SELECT l_partkey AS k FROM lineitem
             WHERE l_partkey IS NOT NULL AND l_partkey NOT IN
               (SELECT p_partkey FROM part))
           UNION ALL
           SELECT 'orders_custkey', count(*), min(CAST(k AS BIGINT))
           FROM (SELECT o_custkey AS k FROM orders
             WHERE o_custkey IS NOT NULL AND o_custkey NOT IN
               (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0)))
         ORDER BY constraint_name""",

    // hex md5 prefixes compare like the 32-bit ints they spell; cuts are
    // floor(cum_fraction * 2^32) in hex (0.8 → cccccccc, 0.9 → e6666666)
    "q113_group_split" ->
      """SELECT doc_id, source,
           CASE WHEN substr(md5(source), 1, 8) < 'cccccccc' THEN 'train'
                WHEN substr(md5(source), 1, 8) < 'e6666666' THEN 'val'
                ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""",

    "q114_vocab_coverage" ->
      s"""WITH toks AS (
            SELECT source, unnest($Toks) AS word FROM documents),
          vocab AS (
            SELECT word FROM (
              SELECT word, count(*) AS cnt FROM toks GROUP BY word)
            ORDER BY cnt DESC, word LIMIT 20)
          SELECT t.source, count(*) AS n_tokens,
            count(*) - count(v.word) AS n_oov,
            round(CAST(count(*) - count(v.word) AS DOUBLE) / count(*), 6)
              AS oov_rate
          FROM toks t LEFT JOIN vocab v ON t.word = v.word
          GROUP BY t.source ORDER BY t.source""",

    "q115_search_conjunctive" ->
      s"""SELECT doc_id FROM documents
          WHERE list_contains($Toks, 'join')
            AND list_contains($Toks, 'hash')
            AND list_contains($Toks, 'row')
          ORDER BY doc_id""",

    // per-word log terms quantized to DECIMAL(30,12) then summed exactly
    // (order-independent), mirroring the Spark side; see sourceShift
    "q116_source_shift" ->
      s"""WITH sw AS (
            SELECT source, word, count(*) AS c
            FROM (SELECT source, unnest($Toks) AS word FROM documents)
            GROUP BY source, word),
          ps AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s,
                   count(*) AS d_s FROM sw GROUP BY source),
          pw AS (SELECT word, CAST(sum(c) AS BIGINT) AS c_w
                 FROM sw GROUP BY word),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tot FROM sw),
          agg AS (
            SELECT sw.source,
              sum(CAST(CAST(sw.c AS DOUBLE) * ln(
                    (CAST(sw.c AS DOUBLE) * CAST(n_tot AS DOUBLE)) /
                    (CAST(pw.c_w AS DOUBLE) * CAST(ps.n_s AS DOUBLE)))
                  AS DECIMAL(30,12))) AS kl_sum,
              sum(CAST(CAST(sw.c AS DOUBLE) * ln(CAST(sw.c AS DOUBLE))
                  AS DECIMAL(30,12))) AS h_sum
            FROM sw JOIN pw USING (word) JOIN ps USING (source)
              CROSS JOIN tot
            GROUP BY sw.source)
          SELECT ps.source, ps.n_s AS n_tokens, ps.d_s AS n_distinct,
            round(ln(CAST(ps.n_s AS DOUBLE)) -
              CAST(h_sum AS DOUBLE) / CAST(ps.n_s AS DOUBLE), 6)
              AS entropy,
            round(CAST(kl_sum AS DOUBLE) / CAST(ps.n_s AS DOUBLE), 6)
              AS kl_vs_corpus
          FROM agg JOIN ps USING (source) ORDER BY ps.source""",

    // brute-force directed-containment ground truth (all ordered pairs);
    // the Spark side's prefix filter is a complete candidate generator,
    // so the two must agree exactly
    "q117_containment_pairs" ->
      s"""WITH sh AS (
            SELECT doc_id,
              list_distinct(list_transform(
                generate_series(1, greatest(len(toks) - 2, 0)),
                i -> array_to_string(toks[i:i+2], ' '))) AS sh
            FROM (SELECT doc_id, $Toks AS toks FROM documents)),
          p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / CAST(len(a.sh) AS DOUBLE), 4) AS containment
            FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
            WHERE len(a.sh) > 0)
          SELECT doc_a, doc_b, containment FROM p
          WHERE containment >= 0.8 ORDER BY doc_a, doc_b""",

    "q118_pagerank" -> pageRankOracle(iters = 5),

    // all-pairs ground truth over the (tiny) distinct-name set; the
    // Spark side's q-gram count filter is complete, so exact agreement
    "q119_fuzzy_name_pairs" ->
      """WITH p AS (SELECT DISTINCT p_name AS s FROM part)
         SELECT a.s AS "left", b.s AS "right",
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
         FROM p a JOIN p b ON a.s < b.s
         WHERE levenshtein(a.s, b.s) <= 3
         ORDER BY "left", "right"""",

    "q120_novelty_scores" ->
      s"""WITH sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
              generate_series(1, greatest(len(toks) - 2, 0)),
              i -> array_to_string(toks[i:i+2], ' ')))) AS tok
            FROM (SELECT doc_id, $Toks AS toks FROM documents)),
          dfreq AS (SELECT tok, count(*) AS df FROM sh GROUP BY tok),
          per_doc AS (
            SELECT sh.doc_id, count(*) AS n_shingles,
              CAST(sum(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel
            FROM sh JOIN dfreq USING (tok) GROUP BY sh.doc_id)
          SELECT d.doc_id,
            coalesce(p.n_shingles, 0) AS n_shingles,
            coalesce(p.n_novel, 0) AS n_novel,
            CASE WHEN p.n_shingles > 0 THEN
              round(CAST(p.n_novel AS DOUBLE) /
                CAST(p.n_shingles AS DOUBLE), 6) END AS novelty_rate
          FROM documents d LEFT JOIN per_doc p USING (doc_id)
          ORDER BY d.doc_id""",

    // zero-cell-free chi-square: N·Σ_obs O²/(R·C) − N, per-cell terms
    // quantized to DECIMAL(30,12); greatest(...,0) clamps float noise
    // before sqrt exactly like the Spark side
    "q121_lang_source_assoc" ->
      """WITH cells AS (
           SELECT lang, source, count(*) AS o
           FROM documents GROUP BY lang, source),
         rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt
                FROM cells GROUP BY lang),
         ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct
                FROM cells GROUP BY source),
         tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   count(DISTINCT lang) AS r,
                   count(DISTINCT source) AS c FROM cells),
         s AS (SELECT sum(CAST(
                 (CAST(o AS DOUBLE) * CAST(o AS DOUBLE)) /
                 (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
               AS DECIMAL(30,12))) AS s
               FROM cells JOIN rt USING (lang) JOIN ct USING (source))
         SELECT n, r AS n_rows, c AS n_cols, (r-1)*(c-1) AS dof,
           round(greatest(CAST(n AS DOUBLE)*CAST(s AS DOUBLE)
             - CAST(n AS DOUBLE), CAST(0 AS DOUBLE)), 6) AS chi2,
           CASE WHEN least(r-1, c-1) > 0 THEN
             round(sqrt(greatest(CAST(n AS DOUBLE)*CAST(s AS DOUBLE)
                 - CAST(n AS DOUBLE), CAST(0 AS DOUBLE)) /
               (CAST(n AS DOUBLE) * CAST(least(r-1, c-1) AS DOUBLE))), 6)
           END AS cramers_v
         FROM s CROSS JOIN tot""",

    "q122_hits" -> hitsOracle(iters = 5),

    // brute-force Jaccard pairs (q100's ground truth) joined against the
    // md5-threshold split assignment (q113's CASE), rolled up per
    // unordered split pair
    "q123_leakage_audit" ->
      s"""WITH sh AS (
            SELECT doc_id,
              list_distinct(list_transform(
                generate_series(1, greatest(len(toks) - 2, 0)),
                i -> array_to_string(toks[i:i+2], ' '))) AS sh
            FROM (SELECT doc_id, $Toks AS toks FROM documents)),
          pairs AS (
            SELECT doc_a, doc_b FROM (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / CAST(len(list_distinct(list_concat(a.sh, b.sh)))
                    AS DOUBLE), 4) AS jaccard
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            WHERE jaccard >= 0.7),
          sp AS (
            SELECT doc_id,
              CASE WHEN substr(md5(source), 1, 8) < 'cccccccc' THEN 'train'
                   WHEN substr(md5(source), 1, 8) < 'e6666666' THEN 'val'
                   ELSE 'test' END AS split
            FROM documents)
          SELECT least(sa.split, sb.split) AS split_lo,
            greatest(sa.split, sb.split) AS split_hi,
            count(*) AS n_pairs,
            least(sa.split, sb.split) <> greatest(sa.split, sb.split)
              AS crosses_boundary
          FROM pairs
          JOIN sp sa ON pairs.doc_a = sa.doc_id
          JOIN sp sb ON pairs.doc_b = sb.doc_id
          GROUP BY split_lo, split_hi
          ORDER BY split_lo, split_hi""",

    "q124_degree_histogram" ->
      """WITH e AS (
           SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
             's:' || CAST(l_suppkey AS VARCHAR) AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         o AS (SELECT src, count(*) AS degree FROM e GROUP BY src),
         i AS (SELECT dst, count(*) AS degree FROM e GROUP BY dst)
         SELECT 'out' AS direction, degree, count(*) AS n_nodes
         FROM o GROUP BY degree
         UNION ALL
         SELECT 'in' AS direction, degree, count(*) AS n_nodes
         FROM i GROUP BY degree
         ORDER BY direction, degree""",

    "q125_calibrated_scores" ->
      """SELECT doc_id, source, n_chars,
           round(percent_rank() OVER (
             PARTITION BY source ORDER BY n_chars), 6) AS calibrated
         FROM documents ORDER BY doc_id""",

    // directed-containment ground truth + the larger-wins / equal-size-
    // lowest-id-wins drop rule, replayed over every document
    "q126_containment_prune" ->
      s"""WITH sh AS (
            SELECT doc_id,
              list_distinct(list_transform(
                generate_series(1, greatest(len(toks) - 2, 0)),
                i -> array_to_string(toks[i:i+2], ' '))) AS sh
            FROM (SELECT doc_id, $Toks AS toks FROM documents)),
          p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              len(a.sh) AS na, len(b.sh) AS nb,
              round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / CAST(len(a.sh) AS DOUBLE), 4) AS containment
            FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
            WHERE len(a.sh) > 0),
          dropped AS (
            SELECT DISTINCT doc_a AS doc_id FROM p
            WHERE containment >= 0.8 AND
              (nb > na OR (nb = na AND doc_b < doc_a)))
          SELECT d.doc_id,
            CAST(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
              AS keep
          FROM documents d LEFT JOIN dropped dr USING (doc_id)
          ORDER BY d.doc_id""",

    // bag-semantics bigram explode, MLE conditional c(w1w2)/c(w1·),
    // per-occurrence log terms quantized to DECIMAL(30,12)
    "q127_fluency_scores" ->
      s"""WITH base AS (SELECT doc_id, $Toks AS toks FROM documents),
          bg0 AS (
            SELECT doc_id, unnest(list_transform(
              generate_series(1, greatest(len(toks) - 1, 0)),
              i -> {'w1': toks[i], 'w2': toks[i+1]})) AS s
            FROM base),
          bg AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bg0),
          cnt AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
          pref AS (SELECT w1, CAST(sum(c) AS BIGINT) AS p
                   FROM cnt GROUP BY w1),
          per_doc AS (
            SELECT bg.doc_id, count(*) AS n_bigrams,
              sum(CAST(round(ln(CAST(cnt.c AS DOUBLE)
                / CAST(pref.p AS DOUBLE)) * 1000000000) AS BIGINT)) AS s
            FROM bg JOIN cnt USING (w1, w2) JOIN pref USING (w1)
            GROUP BY bg.doc_id)
          SELECT d.doc_id,
            coalesce(p.n_bigrams, 0) AS n_bigrams,
            CASE WHEN p.n_bigrams > 0 THEN
              round(CAST(p.s AS DOUBLE) / 1000000000.0 /
                CAST(p.n_bigrams AS DOUBLE), 6) END AS fluency
          FROM documents d LEFT JOIN per_doc p USING (doc_id)
          ORDER BY d.doc_id""",

    // epoch_us//1000000 floors like Spark's timestamp->long cast
    // (DuckDB's epoch() ROUNDS — the recorded cross-engine pitfall);
    // in-frame values quantized to DECIMAL(20,6), summed exactly; the
    // avg is the RAW division (exact decimal in → one IEEE division
    // out is bit-deterministic; round() would not be — see rollingStats)
    "q128_rolling_stats" ->
      """SELECT event_id, user_id,
           epoch_us(ts) // 1000000 AS sec,
           count(*) OVER w AS n_win,
           CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE)
             / CAST(count(*) OVER w AS DOUBLE) AS avg_win
         FROM events
         WINDOW w AS (PARTITION BY user_id
           ORDER BY (epoch_us(ts) // 1000000)
           RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    // all-pairs batch x corpus trigram-Jaccard ground truth — the
    // directed twin of q31's oracle; the persisted-index probe promises
    // the same answer set as an inline incremental near-dup pass
    "q129_neardup_probe" ->
      s"""WITH sh AS (
            SELECT doc_id,
              list_distinct(list_transform(
                generate_series(1, greatest(len(toks) - 2, 0)),
                i -> array_to_string(toks[i:i+2], ' '))) AS sh
            FROM (SELECT doc_id, $Toks AS toks FROM documents)),
          p AS (
            SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
              round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / CAST(len(list_distinct(list_concat(a.sh, b.sh)))
                  AS DOUBLE), 4) AS jaccard
            FROM sh a JOIN sh b
              ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0)
          SELECT new_id, corpus_id, jaccard FROM p
          WHERE jaccard >= 0.7 ORDER BY new_id, corpus_id""",

    // q89's oracle verbatim: the persisted-index probe promises the
    // same answer as the inline corpus anti-join
    "q130_exact_probe" ->
      s"""WITH newb AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
          corp AS (SELECT DISTINCT $Fp AS fp FROM documents
            WHERE doc_id % 5 <> 0)
          SELECT doc_id, n_chars FROM newb
          WHERE NOT EXISTS (SELECT 1 FROM corp WHERE corp.fp = $Fp)
          ORDER BY doc_id""",

    // exact heavy-hitter ground truth: the sketch pass only proposes
    // candidates; the answer is defined by this exact count + threshold
    "q131_heavy_hitters" ->
      s"""WITH toks AS (
            SELECT unnest($Toks) AS value FROM documents),
          tot AS (SELECT count(*) AS n FROM toks)
          SELECT value, count(*) AS n_occurrences
          FROM toks, tot
          GROUP BY value, tot.n
          HAVING count(*) >= ceil(tot.n / 128.0)
          ORDER BY value""",

    // q32's portable-simhash replay, directed: batch chunks (unbounded)
    // probe corpus chunks (maxBucket-bounded) — the persisted-index
    // probe's exact semantics
    "q132_simhash_probe" ->
      s"""WITH toks AS (
            SELECT doc_id, unnest(list_distinct($Toks)) AS tok
            FROM documents),
          th AS (
            SELECT doc_id,
              ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
            FROM toks),
          bs AS (
            SELECT doc_id, i, sum((h >> i) & 1) AS c, count(*) AS n
            FROM th CROSS JOIN (SELECT unnest(range(60)) AS i) bits
            GROUP BY doc_id, i),
          sig0 AS (
            SELECT doc_id,
              CAST(sum(CASE WHEN 2 * c > n THEN (1::BIGINT << i)
                            ELSE 0 END) AS BIGINT) AS simhash
            FROM bs GROUP BY doc_id),
          sig AS (
            SELECT d.doc_id, coalesce(s.simhash, 0)::BIGINT AS simhash
            FROM documents d LEFT JOIN sig0 s USING (doc_id)),
          ch AS (
            SELECT doc_id, simhash, i AS chunk_idx,
              (simhash >> (i * 15)) & 32767 AS chunk
            FROM sig CROSS JOIN (SELECT unnest(range(4)) AS i) t),
          corp AS (
            SELECT doc_id, simhash, chunk_idx, chunk FROM (
              SELECT *, count(*) OVER (PARTITION BY chunk_idx, chunk) AS bn
              FROM ch WHERE doc_id % 5 <> 0) WHERE bn <= 1000),
          newb AS (
            SELECT doc_id, simhash, chunk_idx, chunk FROM ch
            WHERE doc_id % 5 = 0),
          pr AS (
            SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id,
              CAST(bit_count(xor(n.simhash, c.simhash)) AS INT) AS hamming
            FROM newb n JOIN corp c USING (chunk_idx, chunk))
          SELECT new_id, corpus_id, hamming FROM pr
          WHERE hamming <= 3 ORDER BY new_id, corpus_id""",

    // full replay of the BPE training loop: one CTE stage per merge
    // round (pair-count aggregate, total-order argmax, one padded-
    // string replace), same chained-round pattern as the k-means and
    // PageRank oracles
    "q133_bpe_train" ->
      s"""${bpeTrainCtes(8)}
          ${(1 to 8).map(k =>
            s"SELECT $k AS rank, lhs, rhs FROM merge_$k")
            .mkString(" UNION ALL ")}
          ORDER BY rank""",

    "q134_bpe_token_stats" ->
      s"""${bpeTrainCtes(8)},
          wtc AS (
            SELECT word, len(string_split(trim(rep), '  ')) AS tc
            FROM vocab_8),
          docwords AS (
            SELECT lang,
              unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
            FROM documents),
          tok AS (
            SELECT d.lang, CAST(sum(w.tc) AS BIGINT) AS sum_tokens
            FROM docwords d JOIN wtc w USING (word) GROUP BY d.lang),
          nd AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
                 FROM documents GROUP BY lang)
          SELECT lang, n_docs, sum_tokens,
            round(CAST(sum_tokens AS DOUBLE) / n_docs, 4) AS avg_tokens
          FROM tok JOIN nd USING (lang) ORDER BY lang""",

    // the persisted-table path promises the same answer as retraining:
    // replay training, apply to the vocabulary, weight by word freq
    "q135_bpe_vocab" ->
      s"""${bpeTrainCtes(8)}
          SELECT tok AS token, CAST(sum(freq) AS BIGINT) AS total_count
          FROM (SELECT unnest(string_split(trim(rep), '  ')) AS tok, freq
                FROM vocab_8)
          GROUP BY tok ORDER BY total_count DESC, token LIMIT 50""",

    // the bloom tier promises EXACTLY the plain index probe's answer
    // (no false negatives + residue verified), so the oracle is q130's
    // inline anti-join on the %7 split
    "q136_bloom_probe" ->
      s"""WITH newb AS (SELECT * FROM documents WHERE doc_id % 7 = 0),
          corp AS (SELECT DISTINCT $Fp AS fp FROM documents
            WHERE doc_id % 7 <> 0)
          SELECT doc_id, n_chars FROM newb
          WHERE NOT EXISTS (SELECT 1 FROM corp WHERE corp.fp = $Fp)
          ORDER BY doc_id""",

    // the q95 Lloyd-replay CTEs + the within-cluster pair rule: dup_of
    // is the smallest smaller-id cluster-mate at 6-dp cosine >= 0.95
    "q137_semantic_dedup" ->
      s"""WITH ${kMeansCtes(8, 5)},
          asg AS MATERIALIZED (
            SELECT vec_id, emb, cluster FROM assign_final),
          dup AS (
            SELECT a.vec_id, min(b.vec_id) AS dup_of
            FROM asg a JOIN asg b
              ON a.cluster = b.cluster AND b.vec_id < a.vec_id
            WHERE round(list_dot_product(a.emb, b.emb)
              / (sqrt(list_dot_product(a.emb, a.emb))
                 * sqrt(list_dot_product(b.emb, b.emb))), 6) >= 0.95
            GROUP BY a.vec_id)
          SELECT s.vec_id, CAST(s.cluster AS BIGINT) AS cluster,
            (d.dup_of IS NULL) AS keep, d.dup_of
          FROM asg s LEFT JOIN dup d USING (vec_id)
          ORDER BY s.vec_id""",

    // positional 8-token windows, distinct-doc df, gaps-and-islands
    // merge (i - row_number), run text re-sliced from the token list
    "q138_duplicated_spans" ->
      s"""WITH ${dupSpanCtes(8)}
          SELECT r.doc_id, r.start_tok, r.end_tok,
            array_to_string(t.toks[r.start_tok:r.end_tok], ' ')
              AS span_text
          FROM runs r JOIN t USING (doc_id)
          ORDER BY doc_id, start_tok""",

    // the run intervals explode to covered positions; uncovered tokens
    // reassemble in order; a fully-duplicated doc keeps an empty text
    "q139_strip_spans" ->
      s"""WITH ${dupSpanCtes(8)},
          t0 AS MATERIALIZED (
            SELECT doc_id, $Toks AS toks FROM documents),
          cov AS (
            SELECT doc_id, unnest(range(start_tok, end_tok + 1)) AS pos
            FROM runs),
          tokp AS (
            SELECT doc_id, unnest(toks) AS tok,
              generate_subscripts(toks, 1) AS pos
            FROM t0),
          kept AS (
            SELECT k.doc_id, string_agg(k.tok, ' ' ORDER BY k.pos) AS text,
              count(*) AS n_kept
            FROM (
              SELECT w.doc_id, w.pos, w.tok
              FROM tokp w LEFT JOIN cov
                ON cov.doc_id = w.doc_id AND cov.pos = w.pos
              WHERE cov.pos IS NULL) k
            GROUP BY k.doc_id)
          SELECT t0.doc_id, coalesce(kept.text, '') AS text,
            (len(t0.toks) - coalesce(kept.n_kept, 0)) AS n_cut
          FROM t0 LEFT JOIN kept USING (doc_id)
          ORDER BY doc_id""",

    // replay training (bpeTrainCtes), rank the token vocabulary by
    // (count DESC, token), then assemble each doc's id sequence by
    // (word position, token position)
    "q140_bpe_encode" ->
      s"""${bpeTrainCtes(8)},
          ${bpeEncodeCtes}
          SELECT d.doc_id,
            CAST(coalesce(len(e.ids), 0) AS BIGINT) AS n_tokens,
            md5(array_to_string(coalesce(e.ids, CAST([] AS BIGINT[])), ' '))
              AS ids_digest
          FROM documents d LEFT JOIN enc e USING (doc_id)
          ORDER BY d.doc_id""",

    // the same synthetic URLs rebuilt from doc_id, canonicalized with
    // regexp-only machinery (DuckDB has no parse_url) — both engines
    // must land on the identical canonical string per group
    "q141_url_canonical" ->
      """WITH raw AS (
           SELECT doc_id, concat(
             CASE WHEN (doc_id % 50) % 2 = 0 THEN 'https' ELSE 'http' END,
             '://',
             CASE WHEN doc_id % 3 = 0
               THEN concat('WWW.EXAMPLE', doc_id % 50, '.COM')
               ELSE concat('www.example', doc_id % 50, '.com') END,
             CASE WHEN doc_id % 7 = 0 THEN ':8080'
                  WHEN doc_id % 4 = 0 THEN
                    (CASE WHEN (doc_id % 50) % 2 = 0
                       THEN ':443' ELSE ':80' END)
                  ELSE '' END,
             '/p/', doc_id % 50,
             CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
             CASE WHEN doc_id % 3 = 0
                THEN concat('?utm_source=x', doc_id, '&b=2&a=1')
                WHEN doc_id % 3 = 1 THEN '?a=1&b=2'
                ELSE concat('?b=2&a=1&fbclid=z', doc_id) END,
             CASE WHEN doc_id % 6 = 0
                THEN concat('#f', doc_id) ELSE '' END) AS url
           FROM documents),
         parts AS (
           SELECT doc_id,
             lower(regexp_extract(url,
               '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1)) AS scheme,
             regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS auth,
             regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS rawpath,
             regexp_extract(url, '[?]([^#]*)', 1) AS query
           FROM raw),
         canon AS (
           SELECT doc_id, concat(
             scheme, '://',
             lower(regexp_replace(auth, ':[0-9]+$', '')),
             CASE WHEN prt = '' THEN ''
                  WHEN scheme = 'http'  AND prt = '80'  THEN ''
                  WHEN scheme = 'https' AND prt = '443' THEN ''
                  ELSE concat(':', prt) END,
             CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
                  ELSE regexp_replace(rawpath, '/+$', '') END,
             CASE WHEN qq = '' THEN '' ELSE concat('?', qq) END)
             AS canonical_url
           FROM (
             SELECT *,
               regexp_extract(auth, ':([0-9]+)$', 1) AS prt,
               array_to_string(list_sort(list_filter(
                 string_split(query, '&'),
                 p -> p <> '' AND NOT regexp_matches(p,
                   '^(utm_[^=]*|gclid|fbclid|ref)='))), '&') AS qq
             FROM parts))
         SELECT canonical_url, min(doc_id) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_copies
         FROM canon GROUP BY canonical_url
         ORDER BY canonical_url""",

    // q51's quantizer-replay CTEs trained on the corpus split, then the
    // cell-pruned dup screen instead of top-k: min corpus id at 6-dp
    // cosine >= 0.95 within each batch vector's 2 probed cells
    "q142_semantic_probe" ->
      """WITH cc AS (
           SELECT label, pos,
             CAST(CAST(round(CAST(sum(CAST(v AS DECIMAL(20,10))) AS DOUBLE)
                 / count(*), 6) AS FLOAT) AS DOUBLE) AS c
           FROM (SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS pos
                 FROM embeddings WHERE vec_id % 5 <> 0)
           GROUP BY 1, 2),
         cents AS (
           SELECT label AS cell, list(c ORDER BY pos) AS cvec
           FROM cc GROUP BY 1),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         assigned AS (
           SELECT vec_id, emb, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_dot_product(emb, cvec)
                 / (sqrt(list_dot_product(emb, emb))
                    * sqrt(list_dot_product(cvec, cvec))) DESC,
               cell DESC) AS crnk
           FROM (SELECT * FROM e WHERE vec_id % 5 <> 0) CROSS JOIN cents),
         corpus AS (SELECT vec_id, emb, cell FROM assigned WHERE crnk = 1),
         q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
           WHERE vec_id % 5 = 0),
         probe AS (
           SELECT q_id, q_emb, cell,
             row_number() OVER (PARTITION BY q_id ORDER BY
               list_dot_product(q_emb, cvec)
                 / (sqrt(list_dot_product(q_emb, q_emb))
                    * sqrt(list_dot_product(cvec, cvec))) DESC,
               cell DESC) AS prnk
           FROM q CROSS JOIN cents),
         probed AS (SELECT q_id, q_emb, cell FROM probe WHERE prnk <= 2),
         hits AS (
           SELECT q_id, min(c.vec_id) AS dup_of
           FROM probed p JOIN corpus c USING (cell)
           WHERE round(list_dot_product(p.q_emb, c.emb)
             / (sqrt(list_dot_product(p.q_emb, p.q_emb))
                * sqrt(list_dot_product(c.emb, c.emb))), 6) >= 0.95
           GROUP BY q_id)
         SELECT q.q_id AS vec_id, (h.dup_of IS NULL) AS keep, h.dup_of
         FROM q LEFT JOIN hits h USING (q_id)
         ORDER BY vec_id""",

    "q143_quality_classifier" -> logisticOracle(iters = 8),

    // the persisted-weights path must answer exactly what the inline
    // train+score answers: q143's full training-replay oracle verbatim
    "q149_classifier_store" -> logisticOracle(iters = 8),

    // q134's per-word BPE token counts, per-doc sums, then q64's
    // prefix-sum pack at budget 512
    "q144_pack_bpe" ->
      s"""${bpeTrainCtes(8)},
          wtc AS (
            SELECT word, len(string_split(trim(rep), '  ')) AS tc
            FROM vocab_8),
          dw AS (
            SELECT doc_id,
              unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
            FROM documents),
          dt AS (
            SELECT d.doc_id, CAST(sum(w.tc) AS BIGINT) AS n
            FROM dw d JOIN wtc w USING (word) GROUP BY d.doc_id),
          t AS (
            SELECT d.doc_id, CAST(coalesce(dt.n, 0) AS BIGINT) AS n_tokens
            FROM documents d LEFT JOIN dt USING (doc_id)),
          c AS (
            SELECT doc_id, n_tokens,
              coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS prev
            FROM t)
          SELECT doc_id, n_tokens, CAST(prev // 512 AS BIGINT) AS bin_id
          FROM c ORDER BY doc_id""",

    // the hash-keyed span path must answer exactly what the exact-span
    // path answers (collisions can only add spurious windows, and the
    // oracle corpus is collision-free): q138's exact-span SQL verbatim
    "q145_dup_spans_hashed" ->
      s"""WITH ${dupSpanCtes(8)}
          SELECT r.doc_id, r.start_tok, r.end_tok,
            array_to_string(t.toks[r.start_tok:r.end_tok], ' ')
              AS span_text
          FROM runs r JOIN t USING (doc_id)
          ORDER BY doc_id, start_tok""",

    // encode (q140's chain), weight each doc n_tokens + 1 (its EOS),
    // q144's prefix-sum pack at budget 512, then flatten each bin's
    // EOS-terminated sequences in doc_id order and digest
    "q146_packed_export" ->
      s"""${bpeTrainCtes(8)},
          ${bpeEncodeCtes},
          t AS (
            SELECT d.doc_id,
              coalesce(e.ids, CAST([] AS BIGINT[])) AS ids,
              CAST(coalesce(len(e.ids), 0) + 1 AS BIGINT) AS w
            FROM documents d LEFT JOIN enc e USING (doc_id)),
          c AS (
            SELECT doc_id, ids, w,
              coalesce(sum(w) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS prev
            FROM t),
          b AS (
            SELECT doc_id, list_append(ids, 0::BIGINT) AS ids_eos,
              CAST(prev // 512 AS BIGINT) AS bin_id
            FROM c),
          g AS (
            SELECT bin_id, CAST(count(*) AS BIGINT) AS n_docs,
              flatten(list(ids_eos ORDER BY doc_id)) AS seq,
              list(len(ids_eos) ORDER BY doc_id) AS lens
            FROM b GROUP BY bin_id)
          SELECT bin_id, n_docs, CAST(len(seq) AS BIGINT) AS n_tokens,
            md5(array_to_string(seq, ' ')) AS ids_digest,
            md5(array_to_string(lens, ' ')) AS lens_digest
          FROM g ORDER BY bin_id""",

    // encode (q140's chain), then per-doc 32-token slices — the q41
    // frame-sample pattern over token lists instead of bytes
    "q147_chunk_encoded" ->
      s"""${bpeTrainCtes(8)},
          ${bpeEncodeCtes},
          t AS (
            SELECT d.doc_id,
              coalesce(e.ids, CAST([] AS BIGINT[])) AS ids
            FROM documents d LEFT JOIN enc e USING (doc_id)),
          ci AS (
            SELECT doc_id, ids,
              unnest(range(greatest(
                CAST(ceil(len(ids) / 32.0) AS INT), 1))) AS i
            FROM t),
          ch AS (
            SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
              ids[i * 32 + 1 : i * 32 + 32] AS cids
            FROM ci)
          SELECT doc_id, chunk_idx,
            CAST(len(cids) AS BIGINT) AS n_tokens,
            md5(array_to_string(cids, ' ')) AS ids_digest
          FROM ch ORDER BY doc_id, chunk_idx""",

    // q127's bigram idiom with the count tables trained on the
    // reference split, LEFT joins (absent counts read 0), add-1
    // smoothing over the reference unigram vocabulary V
    "q148_cross_perplexity" ->
      s"""WITH refd AS (
            SELECT doc_id, $Toks AS toks FROM documents
            WHERE doc_id % 5 <> 0),
          vv AS (
            SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
            FROM (SELECT unnest(toks) AS w FROM refd)),
          rb0 AS (
            SELECT doc_id, unnest(list_transform(
              generate_series(1, greatest(len(toks) - 1, 0)),
              i -> {'w1': toks[i], 'w2': toks[i+1]})) AS s
            FROM refd),
          rb AS (SELECT s.w1 AS w1, s.w2 AS w2 FROM rb0),
          cnt AS (SELECT w1, w2, count(*) AS c FROM rb GROUP BY w1, w2),
          pref AS (SELECT w1, CAST(sum(c) AS BIGINT) AS p
                   FROM cnt GROUP BY w1),
          cand AS (
            SELECT doc_id, $Toks AS toks FROM documents
            WHERE doc_id % 5 = 0),
          cb0 AS (
            SELECT doc_id, unnest(list_transform(
              generate_series(1, greatest(len(toks) - 1, 0)),
              i -> {'w1': toks[i], 'w2': toks[i+1]})) AS s
            FROM cand),
          cb AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM cb0),
          per_doc AS (
            SELECT cb.doc_id, count(*) AS n_bigrams,
              sum(CAST(round(ln(
                (CAST(coalesce(cnt.c, 0) AS DOUBLE) + 1.0) /
                (CAST(coalesce(pref.p, 0) AS DOUBLE) + (SELECT v FROM vv)))
                * 1000000000) AS BIGINT)) AS s
            FROM cb LEFT JOIN cnt USING (w1, w2)
                    LEFT JOIN pref USING (w1)
            GROUP BY cb.doc_id)
          SELECT d.doc_id,
            coalesce(p.n_bigrams, 0) AS n_bigrams,
            CASE WHEN p.n_bigrams > 0 THEN
              round(-CAST(p.s AS DOUBLE) / 1000000000.0 /
                CAST(p.n_bigrams AS DOUBLE), 6) END AS nll
          FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
          LEFT JOIN per_doc p USING (doc_id)
          ORDER BY d.doc_id""",

    // the persisted-LM path must answer exactly what the inline
    // reference-trained scoring answers: q148's SQL verbatim
    "q150_lm_store" ->
      s"""WITH refd AS (
            SELECT doc_id, $Toks AS toks FROM documents
            WHERE doc_id % 5 <> 0),
          vv AS (
            SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
            FROM (SELECT unnest(toks) AS w FROM refd)),
          rb0 AS (
            SELECT doc_id, unnest(list_transform(
              generate_series(1, greatest(len(toks) - 1, 0)),
              i -> {'w1': toks[i], 'w2': toks[i+1]})) AS s
            FROM refd),
          rb AS (SELECT s.w1 AS w1, s.w2 AS w2 FROM rb0),
          cnt AS (SELECT w1, w2, count(*) AS c FROM rb GROUP BY w1, w2),
          pref AS (SELECT w1, CAST(sum(c) AS BIGINT) AS p
                   FROM cnt GROUP BY w1),
          cand AS (
            SELECT doc_id, $Toks AS toks FROM documents
            WHERE doc_id % 5 = 0),
          cb0 AS (
            SELECT doc_id, unnest(list_transform(
              generate_series(1, greatest(len(toks) - 1, 0)),
              i -> {'w1': toks[i], 'w2': toks[i+1]})) AS s
            FROM cand),
          cb AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM cb0),
          per_doc AS (
            SELECT cb.doc_id, count(*) AS n_bigrams,
              sum(CAST(round(ln(
                (CAST(coalesce(cnt.c, 0) AS DOUBLE) + 1.0) /
                (CAST(coalesce(pref.p, 0) AS DOUBLE) + (SELECT v FROM vv)))
                * 1000000000) AS BIGINT)) AS s
            FROM cb LEFT JOIN cnt USING (w1, w2)
                    LEFT JOIN pref USING (w1)
            GROUP BY cb.doc_id)
          SELECT d.doc_id,
            coalesce(p.n_bigrams, 0) AS n_bigrams,
            CASE WHEN p.n_bigrams > 0 THEN
              round(-CAST(p.s AS DOUBLE) / 1000000000.0 /
                CAST(p.n_bigrams AS DOUBLE), 6) END AS nll
          FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
          LEFT JOIN per_doc p USING (doc_id)
          ORDER BY d.doc_id""",

    // CCNet split: q148's scoring pipeline (via lmScoreCtes), lang
    // joined back, ntile(3) over the total (nll, doc_id) order per
    // lang; NULL-nll docs bucketed outside the window (Spark sorts
    // ascending NULLS FIRST, DuckDB NULLS LAST — in-window NULLs would
    // shift every tercile boundary between engines)
    "q151_perplexity_buckets" ->
      s"""WITH ${lmScoreCtes("", "doc_id % 5 <> 0", "doc_id % 5 = 0")},
          lj AS (
            SELECT s.doc_id, dd.lang, s.n_bigrams, s.nll
            FROM scored s JOIN documents dd USING (doc_id)),
          t AS (
            SELECT doc_id, lang, n_bigrams, nll,
              ntile(3) OVER (PARTITION BY lang
                ORDER BY nll ASC, doc_id ASC) AS b
            FROM lj WHERE nll IS NOT NULL)
          SELECT doc_id, lang, n_bigrams, nll,
            CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS bucket
          FROM t
          UNION ALL
          SELECT doc_id, lang, n_bigrams, nll, 'unscored' AS bucket
          FROM lj WHERE nll IS NULL
          ORDER BY doc_id""",

    // DSIR-style importance log-ratio: the SAME candidates scored
    // against two different reference splits (two full lmScoreCtes
    // pipelines), differenced on the 6-dp-quantized nll columns
    "q152_importance_weights" ->
      s"""WITH ${lmScoreCtes("t_", "doc_id % 5 = 1", "doc_id % 5 = 0")},
          ${lmScoreCtes("r_", "doc_id % 5 = 2 OR doc_id % 5 = 3",
            "doc_id % 5 = 0")}
          SELECT t.doc_id, t.n_bigrams,
            t.nll AS nll_target, r.nll AS nll_raw,
            round(r.nll - t.nll, 6) AS log_ratio
          FROM t_scored t JOIN r_scored r USING (doc_id)
          ORDER BY t.doc_id""",

    // portable HLL replay: the identical md5-derived register relation
    // (j = H%1024, rank = 61 - len(bin(H'))), indicator sum kept as the
    // EXACT integer S = sum 2^(61-r) (+ 2^61 per empty register, HUGEINT
    // — never IEEE addition), then the same fixed double chain for
    // alpha*m^2*2^61/S and Flajolet's linear-counting branch
    "q153_hll_portable" ->
      """WITH v AS (
           SELECT CAST(l_returnflag AS VARCHAR) AS key,
                  CAST(l_orderkey AS VARCHAR) AS v
           FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL),
         h AS (SELECT key,
             ('0x' || substr(md5('hllj_0_' || v), 1, 15))::BIGINT
               % 1024 AS j,
             61 - length(bin(
               ('0x' || substr(md5('hllw_0_' || v), 1, 15))::BIGINT))
               AS rho
           FROM v),
         regs AS (SELECT key, j, max(rho) AS r FROM h GROUP BY key, j),
         agg AS (SELECT key, count(*) AS n_set,
             sum(CAST(pow(2, 61 - r) AS DECIMAL(38,0))) AS s_present
           FROM regs GROUP BY key),
         tot AS (SELECT key, n_set,
             CAST(s_present AS HUGEINT)
               + (1024 - n_set)::HUGEINT
                 * 2305843009213693952::HUGEINT AS s_total
           FROM agg),
         raws AS (SELECT key, n_set,
             CAST(0.7213 AS DOUBLE)
               / (CAST(1.0 AS DOUBLE)
                  + CAST(1.079 AS DOUBLE) / CAST(1024.0 AS DOUBLE))
               * CAST(1048576.0 AS DOUBLE)
               * CAST(2305843009213693952.0 AS DOUBLE)
               / CAST(s_total AS DOUBLE) AS raw
           FROM tot),
         ex AS (SELECT CAST(l_returnflag AS VARCHAR) AS key,
             count(DISTINCT l_orderkey) AS exact_distinct
           FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1)
         SELECT r.key, CAST(n_set AS BIGINT) AS n_set,
           round(CASE WHEN n_set < 1024
                       AND raw <= CAST(2560.0 AS DOUBLE)
             THEN CAST(1024.0 AS DOUBLE)
               * ln(CAST(1024.0 AS DOUBLE) / CAST(1024 - n_set AS DOUBLE))
             ELSE raw END, 4) AS estimate,
           exact_distinct
         FROM raws r JOIN ex USING (key)
         ORDER BY key""",

    // content-addressed sample: membership is md5(salt || key) % 1e6
    // under floor(fraction * 1e6) — a pure function of the key, so the
    // oracle replays the exact row set
    "q154_hash_sample" ->
      """SELECT l_orderkey, l_linenumber
         FROM lineitem
         WHERE ('0x' || substr(md5('smp_' ||
                 (CAST(l_orderkey AS VARCHAR) || '_' ||
                  CAST(l_linenumber AS VARCHAR))), 1, 15))::BIGINT
               % 1000000 < 100000
         ORDER BY l_orderkey, l_linenumber""",

    // integer-histogram quantiles: identical bit-length binning
    // (bl = len(bin(v)), shift = max(bl-5, 0), idx = v div 2^shift),
    // cumulative walk over the bucket relation, rank = ceil(p*n/100) by
    // integer division, exact twin = value at that rank in sort order
    "q155_quantile_sketch" -> quantileSketchSql,

    // the persisted store path (build on half, fold the other half in,
    // probe the store) must answer exactly what the inline whole-corpus
    // run answers — histogram merge is an exact bucket-wise sum, so
    // q155's SQL verbatim is the gate
    "q156_quantile_store" -> quantileSketchSql,

    // winnowing: replay the k-gram hash, the packed rightmost-min
    // window selection, and the decode — the full fingerprint relation
    "q157_winnow_fingerprints" ->
      s"""WITH $winnowCtes
          SELECT doc_id, pos, fp FROM wfp
          ORDER BY doc_id, pos, fp""",

    // the match step over the same replayed fingerprints: df ≤ 64 cut,
    // posting-list self-join, shared-distinct-hash count ≥ 2
    "q158_winnow_matches" ->
      s"""WITH $winnowCtes,
          dfp AS (SELECT DISTINCT doc_id, fp FROM wfp),
          keepfp AS (
            SELECT fp FROM dfp GROUP BY fp HAVING count(*) <= 64),
          pr AS (SELECT d.doc_id, d.fp FROM dfp d JOIN keepfp USING (fp))
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 count(*) AS n_shared
          FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2
          HAVING count(*) >= 2
          ORDER BY doc_a, doc_b""",

    // HLL overlap: replay q153's register→estimate chain for A, B, and
    // the register-wise-max union, then inclusion–exclusion in
    // DECIMAL(38,6); the exact distinct-text intersection rides along
    "q159_hll_overlap" ->
      s"""WITH va AS (
            SELECT CAST(lang AS VARCHAR) AS key,
                   CAST(text AS VARCHAR) AS v
            FROM documents
            WHERE doc_id % 3 <> 0
              AND text IS NOT NULL AND lang IS NOT NULL),
          vb AS (
            SELECT CAST(lang AS VARCHAR) AS key,
                   CAST(text AS VARCHAR) AS v
            FROM documents
            WHERE doc_id % 3 = 0
              AND text IS NOT NULL AND lang IS NOT NULL),
          ${hllEstCtes("a", "va")},
          ${hllEstCtes("b", "vb")},
          uregs AS (
            SELECT key, j, max(r) AS r
            FROM (SELECT key, j, r FROM aregs
                  UNION ALL SELECT key, j, r FROM bregs)
            GROUP BY key, j),
          uest AS (${hllEstFromRegsSql("uregs")}),
          ex AS (
            SELECT key, count(*) AS exact_overlap
            FROM (SELECT DISTINCT key, v FROM va) xa
            JOIN (SELECT DISTINCT key, v FROM vb) xb USING (key, v)
            GROUP BY key)
          SELECT a.key, a.estimate AS est_a, b.estimate AS est_b,
            u.estimate AS est_union,
            CAST(greatest(CAST(0 AS DECIMAL(38,6)),
              CAST(a.estimate AS DECIMAL(38,6))
                + CAST(b.estimate AS DECIMAL(38,6))
                - CAST(u.estimate AS DECIMAL(38,6))) AS DOUBLE)
              AS overlap_est,
            coalesce(ex.exact_overlap, 0) AS exact_overlap
          FROM aest a JOIN best b USING (key) JOIN uest u USING (key)
          LEFT JOIN ex USING (key)
          ORDER BY a.key""",

    // mixture sample: the q154 membership predicate with a per-lang
    // threshold (langs outside the mix map to 0 → dropped)
    "q160_mixture_sample" ->
      """SELECT doc_id, lang
         FROM documents
         WHERE ('0x' || substr(md5('smp_' ||
                 CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
               < CASE lang WHEN 'en' THEN 500000 WHEN 'fr' THEN 250000
                           WHEN 'de' THEN 750000 WHEN 'zh' THEN 100000
                           ELSE 0 END
         ORDER BY doc_id""",

    // token-budget mix: derive per-lang thresholds from the replayed
    // token totals (min(1, budget/T) in double, floor to integer
    // micro-units), then the q154 membership predicate
    "q161_token_budget_mix" ->
      s"""WITH w AS (
            SELECT doc_id, lang, len($Toks) AS w
            FROM documents),
          tot AS (SELECT lang, sum(w) AS t FROM w GROUP BY lang),
          th AS (
            SELECT lang,
              CAST(floor(least(1.0,
                CASE WHEN t > 0 THEN
                  CAST(CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 2000
                                 WHEN 'zh' THEN 400 WHEN 'fr' THEN 10000000
                                 ELSE 0 END AS DOUBLE) / t
                ELSE 1.0 END) * 1000000) AS BIGINT) AS thresh
            FROM tot)
          SELECT d.doc_id, d.lang
          FROM documents d JOIN th USING (lang)
          WHERE ('0x' || substr(md5('smp_' ||
                  CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
                < thresh
          ORDER BY d.doc_id""",

    // temperature mix: √T shares in integer micro-units (sqrt is
    // IEEE-correctly-rounded in both engines; the Σ is exact over
    // longs), budget·s/ss/t threshold chain left-associated exactly as
    // the engine computes it, then the q154 membership predicate
    "q163_temperature_mix" ->
      s"""WITH w AS (
            SELECT doc_id, lang, len($Toks) AS w
            FROM documents),
          tot AS (SELECT lang, sum(w) AS t FROM w GROUP BY lang),
          sv AS (
            SELECT lang, t,
              CAST(round(sqrt(CAST(t AS DOUBLE)) * 1000000) AS BIGINT)
                AS s
            FROM tot),
          ssv AS (SELECT sum(s) AS ss FROM sv),
          th AS (
            SELECT lang,
              CAST(floor(least(1.0,
                CASE WHEN t > 0 THEN
                  CAST(20000 AS DOUBLE) * s / ss / t
                ELSE 1.0 END) * 1000000) AS BIGINT) AS thresh
            FROM sv, ssv)
          SELECT d.doc_id, d.lang
          FROM documents d JOIN th USING (lang)
          WHERE ('0x' || substr(md5('smp_' ||
                  CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
                < thresh
          ORDER BY d.doc_id""",

    // winnowing index probe: replay both sides' fingerprints, the
    // posting-list join, the matched-rows df ≤ 64 cut, and the shared
    // count ≥ 2
    "q162_winnow_probe" ->
      s"""WITH corp AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
          bat AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
          ${winnowCtesFor("corp", "c")},
          ${winnowCtesFor("bat", "b")},
          cd AS (SELECT DISTINCT doc_id AS corpus_id, fp FROM cwfp),
          bd AS (SELECT DISTINCT doc_id AS new_id, fp FROM bwfp),
          dfc AS (
            SELECT fp, count(*) AS df FROM cd GROUP BY fp)
          SELECT b.new_id, c.corpus_id, count(*) AS n_shared
          FROM bd b JOIN cd c USING (fp) JOIN dfc USING (fp)
          WHERE dfc.df <= 64
          GROUP BY 1, 2
          HAVING count(*) >= 2
          ORDER BY new_id, corpus_id""",

    // the full corpus-build composition: curate CTEs (q52, c_ prefix)
    // → brute-force-Jaccard components over the CURATED corpus (q102's
    // gate pattern; minhash ≡ exact at these parameters per q31) →
    // canonical keep set → temperature mix (q163 verbatim over the
    // canonical corpus) → BPE train/encode on the SELECTION (q133/q140
    // fragments) → 32-token chunks (q147's slice convention) →
    // 512-budget prefix-sum pack (q144) → md5-order bin shard (q103)
    "q164_corpus_build" ->
      corpusBuildOracle(budget = 20000L, chunk = 32, pack = 512L,
        merges = 8, shards = 8),

    // the q164 chain at an ADVERSARIAL second parameter point (smaller
    // budget, narrower context window, different pack budget, MORE
    // merges, non-power-of-two shard count): proves the determinism
    // machinery — content-addressed thresholds, the ckey bound, the
    // DECIMAL threshold replay, the digest conventions — is not tuned
    // to one constant set
    "q171_corpus_build_sweep" ->
      corpusBuildOracle(budget = 9000L, chunk = 24, pack = 384L,
        merges = 12, shards = 5),

    // triangle counting replay over the exact-Jaccard pair graph
    // (minhash ≡ exact at these parameters, the q31 gate): the oracle
    // enumerates each triangle once at its id-canonical orientation
    // (x < y < z) — the engine's degree orientation finds the same
    // triangle set (orientation only changes WHERE a triangle is
    // counted, never whether), so per-node counts are identical
    "q165_triangle_counts" ->
      s"""WITH ${jaccardPairsCtes("documents")},
         und AS MATERIALIZED (
           SELECT DISTINCT doc_a AS a, doc_b AS b FROM p),
         deg AS (
           SELECT node, count(*) AS deg
           FROM (SELECT a AS node FROM und
                 UNION ALL SELECT b FROM und)
           GROUP BY node),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM und e1
           JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
           JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
         corners AS (
           SELECT x AS node FROM tri
           UNION ALL SELECT y FROM tri
           UNION ALL SELECT z FROM tri),
         tc AS (SELECT node, count(*) AS triangles FROM corners
                GROUP BY node)
         SELECT d.node,
           CAST(coalesce(tc.triangles, 0) AS BIGINT) AS triangles
         FROM deg d LEFT JOIN tc USING (node)
         ORDER BY node""",

    // cluster-safe split replay: q74's component closure + q113's md5
    // threshold CASE over the component key
    "q169_cluster_safe_split" ->
      s"""$DupComponentsCte,
          wc AS (
            SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
          SELECT doc_id, component,
            CASE WHEN substr(md5(CAST(component AS VARCHAR)), 1, 8)
                   < 'cccccccc' THEN 'train'
                 WHEN substr(md5(CAST(component AS VARCHAR)), 1, 8)
                   < 'e6666666' THEN 'val'
                 ELSE 'test' END AS split
          FROM wc ORDER BY doc_id""",

    // variant-path replay: the extraction result is the same integer
    // whichever engine path produced it. The oracle mirrors the
    // engine's LENIENT contract (try_parse_json null-skips malformed
    // props; non-integer $.k extracts null) via a json_valid guard +
    // TRY_CAST — a dataset exercising the lenient path must MISMATCH
    // on divergence, not crash the replay
    "q168_variant_props" ->
      """SELECT event_type, count(k) AS n,
         CAST(sum(k) AS BIGINT) AS sum_k,
         min(k) AS min_k, max(k) AS max_k
         FROM (SELECT event_type,
             CASE WHEN json_valid(props) THEN
               TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
             END AS k
           FROM events)
         GROUP BY 1 ORDER BY 1""",

    // label propagation replay: the identical fixed rounds — neighbor
    // label histogram, (count DESC, label ASC) argmax — all integer,
    // so the trajectory is in lockstep round for round
    "q167_communities" -> lpOracle(iters = 4),

    // xml roundtrip: the oracle aggregates the parquet base — matching
    // means the write→read text serialization preserved every value
    "q166_xml_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n_suppliers,
         CAST(sum(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
         FROM supplier GROUP BY 1 ORDER BY 1""",

    // incremental corpus delta: the oracle replays build(v1) — the
    // ENTIRE q164 chain, to reconstruct the frozen state (thresholds
    // mth, tokenizer vocab_8/ids, standing canondocs, snapshot ofp,
    // max_bin) — then the delta chain over crawlV2: fingerprint diff,
    // curate the changed slice, exact screen vs non-tombstoned
    // snapshot fps, exact-Jaccard screen vs still-standing canonical
    // docs (≡ the engine's LSH probe at these parameters, the q31/q89
    // equivalence), canonical resolution WITHIN the delta, frozen-mix
    // membership, frozen-vocab encode (merge replay on NEW words),
    // chunk, pack offset past v1's max bin, shard the new bins. Output
    // = tombstones (sentinel chunk fields) + delta chunks.
    "q170_corpus_delta" ->
      s"""WITH RECURSIVE
          ${curateCtesFor("documents", "c_")},
          curdocs AS MATERIALIZED (SELECT d.* FROM documents d
            JOIN c_cur USING (doc_id)),
          ${dupComponentsCtesFor("curdocs")},
          wc AS (
            SELECT d.doc_id,
              coalesce(c.component, d.doc_id) AS component,
              CAST(d.n_chars AS BIGINT) AS score
            FROM curdocs d LEFT JOIN comp c ON d.doc_id = c.doc_id),
          best AS (SELECT component, max(score) AS best_score
                   FROM wc GROUP BY 1),
          canon AS (
            SELECT wc.component, min(wc.doc_id) AS canonical_id
            FROM wc JOIN best ON wc.component = best.component
              AND wc.score = best.best_score
            GROUP BY 1),
          canondocs AS MATERIALIZED (
            SELECT d.* FROM curdocs d
            JOIN wc ON d.doc_id = wc.doc_id
            JOIN canon ON wc.component = canon.component
            WHERE d.doc_id = canon.canonical_id),
          ${mixThresholdCtes("canondocs", 20000L, "")},
          seldocs AS MATERIALIZED (
            SELECT d.* FROM canondocs d JOIN mth USING (lang)
            WHERE ('0x' || substr(md5('smp_' ||
                    CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
                  < thresh),
          ${bpeTrainCtesFor(8, "seldocs")},
          ${bpeEncodeCtesFor("seldocs")},
          encall AS (
            SELECT d.doc_id,
              coalesce(e.ids, CAST([] AS BIGINT[])) AS ids
            FROM seldocs d LEFT JOIN enc e USING (doc_id)),
          ch AS (
            SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
              ids[(ci*32+1):(ci*32+32)] AS cids
            FROM (SELECT doc_id, ids,
                unnest(generate_series(0,
                  CAST(greatest(ceil(len(ids)/32.0) - 1, 0) AS BIGINT)))
                  AS ci
              FROM encall)),
          chn AS MATERIALIZED (
            SELECT doc_id, chunk_idx,
              CAST(len(cids) AS BIGINT) AS n_tokens,
              doc_id * 100000 + chunk_idx AS ckey
            FROM ch),
          pk AS (
            SELECT ckey,
              CAST(coalesce(sum(n_tokens) OVER (ORDER BY ckey
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // 512 AS BIGINT) AS bin_id
            FROM chn),
          v1mb AS (SELECT CAST(coalesce(max(bin_id), -1) AS BIGINT)
                     AS mb FROM pk),
          $CrawlV2Sql,
          nfp AS MATERIALIZED (SELECT doc_id, $Fp AS fp FROM v2),
          ofp AS MATERIALIZED (
            SELECT doc_id, $Fp AS fp FROM documents),
          tomb AS MATERIALIZED (
            SELECT o.doc_id FROM ofp o
            LEFT JOIN nfp n ON o.doc_id = n.doc_id
            WHERE n.doc_id IS NULL OR n.fp <> o.fp),
          deltadocs AS MATERIALIZED (
            SELECT v.doc_id, v.text, v.lang, v.source, v.n_chars
            FROM v2 v JOIN nfp n ON v.doc_id = n.doc_id
            LEFT JOIN ofp o ON o.doc_id = n.doc_id
            WHERE o.doc_id IS NULL OR o.fp <> n.fp),
          ${curateCtesFor("deltadocs", "dc_")},
          keptfp AS MATERIALIZED (
            SELECT DISTINCT fp FROM ofp
            WHERE NOT EXISTS (SELECT 1 FROM tomb t
                              WHERE t.doc_id = ofp.doc_id)),
          dx AS MATERIALIZED (
            SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
            FROM deltadocs d
            JOIN dc_cur USING (doc_id)
            JOIN dc_t t ON d.doc_id = t.doc_id
            WHERE NOT EXISTS (SELECT 1 FROM keptfp k
                              WHERE k.fp = t.fp)),
          stnow AS MATERIALIZED (
            SELECT doc_id FROM canondocs
            WHERE NOT EXISTS (SELECT 1 FROM tomb t
                              WHERE t.doc_id = canondocs.doc_id)),
          dxsh AS MATERIALIZED (
            SELECT doc_id,
              list_distinct(list_transform(
                generate_series(1, greatest(len(toks) - 2, 0)),
                i -> array_to_string(toks[i:i+2], ' '))) AS sh
            FROM (SELECT doc_id, $Toks AS toks FROM dx)),
          xhit AS MATERIALIZED (
            SELECT DISTINCT d.doc_id
            FROM dxsh d
            JOIN sh s
              ON round(CAST(len(list_intersect(d.sh, s.sh)) AS DOUBLE)
                / CAST(len(list_distinct(list_concat(d.sh, s.sh)))
                  AS DOUBLE), 4) >= 0.7
            JOIN stnow st ON st.doc_id = s.doc_id),
          ds2 AS MATERIALIZED (
            SELECT * FROM dx
            WHERE NOT EXISTS (SELECT 1 FROM xhit x
                              WHERE x.doc_id = dx.doc_id)),
          ${dupComponentsCtesFor("ds2", "dd_")},
          ddwc AS (
            SELECT d.doc_id,
              coalesce(c.component, d.doc_id) AS component,
              CAST(d.n_chars AS BIGINT) AS score
            FROM ds2 d LEFT JOIN dd_comp c ON d.doc_id = c.doc_id),
          ddbest AS (SELECT component, max(score) AS best_score
                     FROM ddwc GROUP BY 1),
          ddcanon AS (
            SELECT ddwc.component, min(ddwc.doc_id) AS canonical_id
            FROM ddwc JOIN ddbest ON ddwc.component = ddbest.component
              AND ddwc.score = ddbest.best_score
            GROUP BY 1),
          dsurv AS MATERIALIZED (
            SELECT d.* FROM ds2 d
            JOIN ddwc ON d.doc_id = ddwc.doc_id
            JOIN ddcanon ON ddwc.component = ddcanon.component
            WHERE d.doc_id = ddcanon.canonical_id),
          dsel AS MATERIALIZED (
            SELECT d.* FROM dsurv d JOIN mth USING (lang)
            WHERE ('0x' || substr(md5('smp_' ||
                    CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
                  < thresh),
          ${bpeFrozenEncodeCtesFor(8, "dsel", "d_")},
          d_encall AS (
            SELECT d.doc_id,
              coalesce(e.ids, CAST([] AS BIGINT[])) AS ids
            FROM dsel d LEFT JOIN d_enc e USING (doc_id)),
          d_ch AS (
            SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
              ids[(ci*32+1):(ci*32+32)] AS cids
            FROM (SELECT doc_id, ids,
                unnest(generate_series(0,
                  CAST(greatest(ceil(len(ids)/32.0) - 1, 0) AS BIGINT)))
                  AS ci
              FROM d_encall)),
          d_chn AS MATERIALIZED (
            SELECT doc_id, chunk_idx,
              CAST(len(cids) AS BIGINT) AS n_tokens,
              md5(array_to_string(cids, ' ')) AS ids_digest,
              doc_id * 100000 + chunk_idx AS ckey
            FROM d_ch),
          d_pk AS (
            SELECT ckey,
              (SELECT mb + 1 FROM v1mb)
                + CAST(coalesce(sum(n_tokens) OVER (ORDER BY ckey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    // 512 AS BIGINT) AS bin_id
            FROM d_chn),
          d_bs AS (
            SELECT bin_id,
              (row_number() OVER (
                ORDER BY md5(CAST(bin_id AS VARCHAR)), bin_id) - 1) % 8
                AS shard
            FROM (SELECT DISTINCT bin_id FROM d_pk))
          SELECT * FROM (
            SELECT 'del' AS op, doc_id,
              CAST(-1 AS BIGINT) AS chunk_idx,
              CAST(0 AS BIGINT) AS n_tokens, '' AS ids_digest,
              CAST(-1 AS BIGINT) AS bin_id, CAST(-1 AS BIGINT) AS shard
            FROM tomb
            UNION ALL
            SELECT 'add', c.doc_id, c.chunk_idx, c.n_tokens,
              c.ids_digest, p.bin_id, CAST(b.shard AS BIGINT)
            FROM d_chn c JOIN d_pk p USING (ckey)
            JOIN d_bs b USING (bin_id))
          ORDER BY doc_id, op, chunk_idx""",

    // full replay of q172: build(v1) chunks WITH digests, the delta's
    // surviving chunks (same chain as q170 through d_chn — the delta's
    // own bin placement is irrelevant: compaction re-packs from chunk
    // content), fold = tombstone anti-join + union, then the re-pack =
    // ckey-ordered prefix sum from bin 0 + content-addressed shards —
    // the same pack/shard SQL as the q164 build, applied to the folded
    // set
    "q172_corpus_compact" ->
      s"""WITH RECURSIVE
          ${curateCtesFor("documents", "c_")},
          curdocs AS MATERIALIZED (SELECT d.* FROM documents d
            JOIN c_cur USING (doc_id)),
          ${dupComponentsCtesFor("curdocs")},
          wc AS (
            SELECT d.doc_id,
              coalesce(c.component, d.doc_id) AS component,
              CAST(d.n_chars AS BIGINT) AS score
            FROM curdocs d LEFT JOIN comp c ON d.doc_id = c.doc_id),
          best AS (SELECT component, max(score) AS best_score
                   FROM wc GROUP BY 1),
          canon AS (
            SELECT wc.component, min(wc.doc_id) AS canonical_id
            FROM wc JOIN best ON wc.component = best.component
              AND wc.score = best.best_score
            GROUP BY 1),
          canondocs AS MATERIALIZED (
            SELECT d.* FROM curdocs d
            JOIN wc ON d.doc_id = wc.doc_id
            JOIN canon ON wc.component = canon.component
            WHERE d.doc_id = canon.canonical_id),
          ${mixThresholdCtes("canondocs", 20000L, "")},
          seldocs AS MATERIALIZED (
            SELECT d.* FROM canondocs d JOIN mth USING (lang)
            WHERE ('0x' || substr(md5('smp_' ||
                    CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
                  < thresh),
          ${bpeTrainCtesFor(8, "seldocs")},
          ${bpeEncodeCtesFor("seldocs")},
          encall AS (
            SELECT d.doc_id,
              coalesce(e.ids, CAST([] AS BIGINT[])) AS ids
            FROM seldocs d LEFT JOIN enc e USING (doc_id)),
          ch AS (
            SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
              ids[(ci*32+1):(ci*32+32)] AS cids
            FROM (SELECT doc_id, ids,
                unnest(generate_series(0,
                  CAST(greatest(ceil(len(ids)/32.0) - 1, 0) AS BIGINT)))
                  AS ci
              FROM encall)),
          chn AS MATERIALIZED (
            SELECT doc_id, chunk_idx,
              CAST(len(cids) AS BIGINT) AS n_tokens,
              md5(array_to_string(cids, ' ')) AS ids_digest,
              doc_id * 100000 + chunk_idx AS ckey
            FROM ch),
          $CrawlV2Sql,
          nfp AS MATERIALIZED (SELECT doc_id, $Fp AS fp FROM v2),
          ofp AS MATERIALIZED (
            SELECT doc_id, $Fp AS fp FROM documents),
          tomb AS MATERIALIZED (
            SELECT o.doc_id FROM ofp o
            LEFT JOIN nfp n ON o.doc_id = n.doc_id
            WHERE n.doc_id IS NULL OR n.fp <> o.fp),
          deltadocs AS MATERIALIZED (
            SELECT v.doc_id, v.text, v.lang, v.source, v.n_chars
            FROM v2 v JOIN nfp n ON v.doc_id = n.doc_id
            LEFT JOIN ofp o ON o.doc_id = n.doc_id
            WHERE o.doc_id IS NULL OR o.fp <> n.fp),
          ${curateCtesFor("deltadocs", "dc_")},
          keptfp AS MATERIALIZED (
            SELECT DISTINCT fp FROM ofp
            WHERE NOT EXISTS (SELECT 1 FROM tomb t
                              WHERE t.doc_id = ofp.doc_id)),
          dx AS MATERIALIZED (
            SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
            FROM deltadocs d
            JOIN dc_cur USING (doc_id)
            JOIN dc_t t ON d.doc_id = t.doc_id
            WHERE NOT EXISTS (SELECT 1 FROM keptfp k
                              WHERE k.fp = t.fp)),
          stnow AS MATERIALIZED (
            SELECT doc_id FROM canondocs
            WHERE NOT EXISTS (SELECT 1 FROM tomb t
                              WHERE t.doc_id = canondocs.doc_id)),
          dxsh AS MATERIALIZED (
            SELECT doc_id,
              list_distinct(list_transform(
                generate_series(1, greatest(len(toks) - 2, 0)),
                i -> array_to_string(toks[i:i+2], ' '))) AS sh
            FROM (SELECT doc_id, $Toks AS toks FROM dx)),
          xhit AS MATERIALIZED (
            SELECT DISTINCT d.doc_id
            FROM dxsh d
            JOIN sh s
              ON round(CAST(len(list_intersect(d.sh, s.sh)) AS DOUBLE)
                / CAST(len(list_distinct(list_concat(d.sh, s.sh)))
                  AS DOUBLE), 4) >= 0.7
            JOIN stnow st ON st.doc_id = s.doc_id),
          ds2 AS MATERIALIZED (
            SELECT * FROM dx
            WHERE NOT EXISTS (SELECT 1 FROM xhit x
                              WHERE x.doc_id = dx.doc_id)),
          ${dupComponentsCtesFor("ds2", "dd_")},
          ddwc AS (
            SELECT d.doc_id,
              coalesce(c.component, d.doc_id) AS component,
              CAST(d.n_chars AS BIGINT) AS score
            FROM ds2 d LEFT JOIN dd_comp c ON d.doc_id = c.doc_id),
          ddbest AS (SELECT component, max(score) AS best_score
                     FROM ddwc GROUP BY 1),
          ddcanon AS (
            SELECT ddwc.component, min(ddwc.doc_id) AS canonical_id
            FROM ddwc JOIN ddbest ON ddwc.component = ddbest.component
              AND ddwc.score = ddbest.best_score
            GROUP BY 1),
          dsurv AS MATERIALIZED (
            SELECT d.* FROM ds2 d
            JOIN ddwc ON d.doc_id = ddwc.doc_id
            JOIN ddcanon ON ddwc.component = ddcanon.component
            WHERE d.doc_id = ddcanon.canonical_id),
          dsel AS MATERIALIZED (
            SELECT d.* FROM dsurv d JOIN mth USING (lang)
            WHERE ('0x' || substr(md5('smp_' ||
                    CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
                  < thresh),
          ${bpeFrozenEncodeCtesFor(8, "dsel", "d_")},
          d_encall AS (
            SELECT d.doc_id,
              coalesce(e.ids, CAST([] AS BIGINT[])) AS ids
            FROM dsel d LEFT JOIN d_enc e USING (doc_id)),
          d_ch AS (
            SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
              ids[(ci*32+1):(ci*32+32)] AS cids
            FROM (SELECT doc_id, ids,
                unnest(generate_series(0,
                  CAST(greatest(ceil(len(ids)/32.0) - 1, 0) AS BIGINT)))
                  AS ci
              FROM d_encall)),
          d_chn AS MATERIALIZED (
            SELECT doc_id, chunk_idx,
              CAST(len(cids) AS BIGINT) AS n_tokens,
              md5(array_to_string(cids, ' ')) AS ids_digest,
              doc_id * 100000 + chunk_idx AS ckey
            FROM d_ch),
          folded AS MATERIALIZED (
            SELECT doc_id, chunk_idx, n_tokens, ids_digest, ckey
            FROM chn
            WHERE NOT EXISTS (SELECT 1 FROM tomb t
                              WHERE t.doc_id = chn.doc_id)
            UNION ALL
            SELECT doc_id, chunk_idx, n_tokens, ids_digest, ckey
            FROM d_chn),
          cpk AS (
            SELECT ckey,
              CAST(coalesce(sum(n_tokens) OVER (ORDER BY ckey
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // 512 AS BIGINT) AS bin_id
            FROM folded),
          cbs AS (
            SELECT bin_id,
              (row_number() OVER (
                ORDER BY md5(CAST(bin_id AS VARCHAR)), bin_id) - 1) % 8
                AS shard
            FROM (SELECT DISTINCT bin_id FROM cpk))
          SELECT f.doc_id, f.chunk_idx, f.n_tokens, f.ids_digest,
            p.bin_id, CAST(b.shard AS BIGINT) AS shard
          FROM folded f JOIN cpk p USING (ckey) JOIN cbs b USING (bin_id)
          ORDER BY doc_id, chunk_idx""",

    // suppressed-content audit replay: standing = the v1 build's
    // canonical curated docs; a candidate is any crawl doc not standing
    // whose fingerprint no standing doc carries (against the SAME crawl
    // the snapshot was committed from, every doc is "unchanged")
    "q173_reconcile_audit" ->
      s"""WITH RECURSIVE
          ${curateCtesFor("documents", "c_")},
          curdocs AS MATERIALIZED (SELECT d.* FROM documents d
            JOIN c_cur USING (doc_id)),
          ${dupComponentsCtesFor("curdocs")},
          wc AS (
            SELECT d.doc_id,
              coalesce(c.component, d.doc_id) AS component,
              CAST(d.n_chars AS BIGINT) AS score
            FROM curdocs d LEFT JOIN comp c ON d.doc_id = c.doc_id),
          best AS (SELECT component, max(score) AS best_score
                   FROM wc GROUP BY 1),
          canon AS (
            SELECT wc.component, min(wc.doc_id) AS canonical_id
            FROM wc JOIN best ON wc.component = best.component
              AND wc.score = best.best_score
            GROUP BY 1),
          canondocs AS MATERIALIZED (
            SELECT d.* FROM curdocs d
            JOIN wc ON d.doc_id = wc.doc_id
            JOIN canon ON wc.component = canon.component
            WHERE d.doc_id = canon.canonical_id),
          standingfp AS MATERIALIZED (SELECT $Fp AS fp FROM canondocs),
          crawlfp AS (SELECT doc_id, $Fp AS fp FROM documents)
          SELECT a.doc_id FROM crawlfp a
          WHERE NOT EXISTS (SELECT 1 FROM canondocs c
                            WHERE c.doc_id = a.doc_id)
            AND NOT EXISTS (SELECT 1 FROM standingfp s
                            WHERE s.fp = a.fp)
          ORDER BY doc_id""",

    // retrain-pressure replay: the committed-delta state (v1 decisions
    // + delta survivors → standingdocs, the shared committedStateCtes
    // chain), then per lang: word volume, the FROZEN tokenizer's token
    // count over the standing words (merge replay, the q170 frozen
    // convention — only `a_wt` is referenced, so the replay's
    // error()-on-OOV encode CTE is never evaluated and OOV is COUNTED
    // via the LEFT JOIN against the frozen `ids` instead), and frozen
    // (`mth`) vs fresh (`r_mth`, re-derived on standingdocs) mix
    // thresholds
    "q174_retrain_pressure" ->
      s"""WITH RECURSIVE
          $committedStateCtes,
          af AS MATERIALIZED (
            SELECT lang, word, count(*) AS freq
            FROM (SELECT lang,
                    unnest(regexp_extract_all(lower(text), '[a-z]+'))
                      AS word
                  FROM standingdocs)
            GROUP BY lang, word),
          ${bpeFrozenEncodeCtesFor(8, "standingdocs", "a_")},
          atok AS (
            SELECT lang, CAST(sum(freq) AS BIGINT) AS n_tokens,
              CAST(coalesce(sum(CASE WHEN i.id IS NULL THEN freq END),
                0) AS BIGINT) AS oov_tokens
            FROM (SELECT f.lang, f.freq, unnest(w.toks) AS token
                  FROM af f JOIN a_wt w USING (word))
            LEFT JOIN ids i USING (token)
            GROUP BY lang),
          awrd AS (SELECT lang, CAST(sum(freq) AS BIGINT) AS n_words
                   FROM af GROUP BY lang),
          adoc AS (SELECT lang, count(*) AS n_docs
                   FROM standingdocs GROUP BY lang),
          ${mixThresholdCtes("standingdocs", 20000L, "r_")}
          SELECT d.lang, d.n_docs,
            coalesce(w.n_words, 0) AS n_words,
            coalesce(t.n_tokens, 0) AS n_tokens,
            coalesce(t.oov_tokens, 0) AS oov_tokens,
            coalesce(m.thresh, -1) AS frozen_thresh,
            r.thresh AS fresh_thresh
          FROM adoc d
          LEFT JOIN awrd w USING (lang)
          LEFT JOIN atok t USING (lang)
          LEFT JOIN mth m USING (lang)
          LEFT JOIN r_mth r USING (lang)
          ORDER BY lang""",

    // retrain replay: the same committed-delta state, then the FULL
    // build tail re-derived ON the standing corpus — fresh thresholds
    // (r_mth), fresh selection, fresh BPE train/encode (r_-prefixed,
    // the v2 generation's id space), chunk, pack from bin 0, shard —
    // exactly Pipeline.retrainState's contract
    "q175_corpus_retrain" ->
      s"""WITH RECURSIVE
          $committedStateCtes,
          ${mixThresholdCtes("standingdocs", 20000L, "r_")},
          rseldocs AS MATERIALIZED (
            SELECT d.* FROM standingdocs d JOIN r_mth USING (lang)
            WHERE ('0x' || substr(md5('smp_' ||
                    CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
                  < thresh),
          ${bpeTrainCtesFor(8, "rseldocs", "r_")},
          ${bpeEncodeCtesFor("rseldocs", 8, "r_")},
          r_encall AS (
            SELECT d.doc_id,
              coalesce(e.ids, CAST([] AS BIGINT[])) AS ids
            FROM rseldocs d LEFT JOIN r_enc e USING (doc_id)),
          r_ch AS (
            SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
              ids[(ci*32+1):(ci*32+32)] AS cids
            FROM (SELECT doc_id, ids,
                unnest(generate_series(0,
                  CAST(greatest(ceil(len(ids)/32.0) - 1, 0) AS BIGINT)))
                  AS ci
              FROM r_encall)),
          r_chn AS MATERIALIZED (
            SELECT doc_id, chunk_idx,
              CAST(len(cids) AS BIGINT) AS n_tokens,
              md5(array_to_string(cids, ' ')) AS ids_digest,
              doc_id * 100000 + chunk_idx AS ckey
            FROM r_ch),
          r_pk AS (
            SELECT ckey,
              CAST(coalesce(sum(n_tokens) OVER (ORDER BY ckey
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // 512 AS BIGINT) AS bin_id
            FROM r_chn),
          r_bs AS (
            SELECT bin_id,
              (row_number() OVER (
                ORDER BY md5(CAST(bin_id AS VARCHAR)), bin_id) - 1) % 8
                AS shard
            FROM (SELECT DISTINCT bin_id FROM r_pk))
          SELECT c.doc_id, c.chunk_idx, c.n_tokens, c.ids_digest,
            p.bin_id, CAST(b.shard AS BIGINT) AS shard
          FROM r_chn c JOIN r_pk p USING (ckey)
          JOIN r_bs b USING (bin_id)
          ORDER BY doc_id, chunk_idx""",

    // IVF rebuild-pressure replay, exact end to end — the q34
    // quantized-BIGINT discipline throughout: centroids from the 3/4
    // base slice as floor-of-mean over 10⁻⁶-quantized components
    // (order-free integer sums; the decimal-avg q51 form has a latent
    // float→DECIMAL cast fragility the audit cannot tolerate — see
    // Similarity.quantizedLabelCentroids), published as
    // float(m / 10⁶); frozen-centroid assignment as q51 (sim DESC /
    // cell DESC argmax — the greatest(struct) tie-break). The
    // assignment argmax is DELIBERATELY the one raw-double step in the
    // chain: it must reproduce the production index's own cell
    // assignment (buildIvfIndex routes on raw-double cosine), so
    // quantizing it here would audit a partition the index doesn't
    // have. It is safe cross-engine because both sides fold the same
    // float-valued inputs (float embeddings, float-published
    // centroids) left-to-right in IEEE double — identical sequential
    // folds, no reordering — so the two engines compute bit-identical
    // doubles, not merely close ones; the audit's
    // integer dots and norms via per-dimension explode, one double
    // sqrt/divide per value, exact DECIMAL mean of the 6-dp cosines,
    // floor-of-mean quantized drift vector (floor has no cross-engine
    // tie cases)
    "q176_ivf_rebuild_pressure" ->
      """WITH base AS (
           SELECT * FROM embeddings WHERE vec_id % 4 != 3),
         cc AS (
           SELECT label, pos,
             CAST(CAST(CAST(floor(
                 CAST(sum(CAST(round(v * 1000000) AS BIGINT)) AS DOUBLE)
                 / count(*)) AS BIGINT) / 1000000.0 AS FLOAT) AS DOUBLE)
               AS c
           FROM (SELECT label, CAST(unnest(embedding) AS DOUBLE) AS v,
                 generate_subscripts(embedding, 1) AS pos FROM base)
           GROUP BY 1, 2),
         cents AS (
           SELECT label AS cell, list(c ORDER BY pos) AS cvec
           FROM cc GROUP BY 1),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         assigned AS (
           SELECT vec_id, emb, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_dot_product(emb, cvec)
                 / (sqrt(list_dot_product(emb, emb))
                    * sqrt(list_dot_product(cvec, cvec))) DESC,
               cell DESC) AS crnk
           FROM e CROSS JOIN cents),
         corpus AS (SELECT vec_id, emb, cell FROM assigned WHERE crnk = 1),
         vd AS (
           SELECT vec_id, cell,
             CAST(round(x * 1000000) AS BIGINT) AS x, d
           FROM (SELECT vec_id, cell, unnest(emb) AS x,
                 generate_subscripts(emb, 1) AS d FROM corpus)),
         cd AS (
           SELECT cell, CAST(round(c * 1000000) AS BIGINT) AS c, d
           FROM (SELECT cell, unnest(cvec) AS c,
                 generate_subscripts(cvec, 1) AS d FROM cents)),
         dots AS (
           SELECT vec_id, cell,
             sum(x * c) AS dp, sum(x * x) AS nx, sum(c * c) AS nc
           FROM vd JOIN cd USING (cell, d) GROUP BY 1, 2),
         wc AS (
           SELECT cell,
             round(CAST(dp AS DOUBLE)
               / (sqrt(CAST(nx AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))),
               6) AS cos
           FROM dots),
         stats AS (
           SELECT cell, count(*) AS n_vecs,
             round(CAST(sum(CAST(round(cos * 1000000) AS BIGINT))
                 AS DOUBLE) / 1000000.0 / count(*), 6) AS mean_cos,
             min(cos) AS min_cos
           FROM wc GROUP BY 1),
         mvd AS (
           SELECT cell, d,
             CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS m
           FROM vd GROUP BY 1, 2),
         mdots AS (
           SELECT cell,
             sum(m * c) AS dp, sum(m * m) AS nm, sum(c * c) AS nc
           FROM mvd JOIN cd USING (cell, d) GROUP BY 1),
         dr AS (
           SELECT cell,
             round(CAST(dp AS DOUBLE)
               / (sqrt(CAST(nm AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))),
               6) AS drift_cos
           FROM mdots)
         SELECT cell, n_vecs, mean_cos, min_cos, drift_cos
         FROM stats JOIN dr USING (cell)
         ORDER BY cell""",

    // fp-index vacuum replay: the vacuumed index IS the intersection of
    // the full corpus's distinct fingerprint set with the live (2/3)
    // set — which, kept ⊆ corpus, reduces to the live set itself. The
    // value of the oracle is the Spark side: it must produce this
    // through the actual build + crash-ordered swap machinery.
    "q177_fp_index_vacuum" ->
      s"""SELECT DISTINCT $Fp AS fp FROM documents
          WHERE doc_id % 3 <> 0
          ORDER BY fp""",

    // vacuum-policy replay: the v1 fp index's distinct hash set cut to
    // the COMMITTED standing corpus's fingerprints — exactly the
    // semi-join the policy's fp leg runs against the snapshot. The
    // standing set is the full committed-delta replay
    // (committedStateCtes), so this oracle prices the whole
    // build → commit → policy-vacuum composition, not just the swap.
    "q178_vacuum_policy" ->
      s"""WITH RECURSIVE
          $committedStateCtes,
          v1fp AS (SELECT DISTINCT $Fp AS fp FROM documents),
          stfp AS (SELECT DISTINCT $Fp AS fp FROM standingdocs)
          SELECT fp FROM v1fp
          WHERE EXISTS (SELECT 1 FROM stfp WHERE stfp.fp = v1fp.fp)
          ORDER BY fp"""
  )

  /** DuckDB replay of [[graft.operators.Graph.labelPropagation]] over
    * the supplier co-occurrence graph: `iters` chained rounds of the
    * neighbor-label histogram + (count DESC, label ASC) argmax.
    */
  private def lpOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""cnt_$i AS (
            SELECT u.node, l.label, count(*) AS c
            FROM und u JOIN lab_${i - 1} l ON u.nbr = l.node
            GROUP BY 1, 2),
          lab_$i AS MATERIALIZED (
            SELECT node, label FROM (
              SELECT node, label,
                row_number() OVER (PARTITION BY node
                  ORDER BY c DESC, label) AS rn
              FROM cnt_$i)
            WHERE rn = 1)"""
    }.mkString(",\n")
    s"""WITH os AS (
          SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
          FROM lineitem),
        und AS MATERIALIZED (
          SELECT DISTINCT a.sk AS node, b.sk AS nbr
          FROM os a JOIN os b ON a.ok = b.ok AND a.sk <> b.sk),
        lab_0 AS (
          SELECT DISTINCT node, node AS label FROM und),
        $rounds
        SELECT CAST(node AS BIGINT) AS node,
          CAST(label AS BIGINT) AS label
        FROM lab_$iters ORDER BY node"""
  }

  /** q153's register build + estimate chain as CTEs parameterized by a
    * (key, v) source relation: emits `<p>h`, `<p>regs`, `<p>est` —
    * `<p>est` is (key, estimate). Mirrors
    * [[graft.operators.Sketches.hllRegistersPortable]] +
    * `hllEstimateFromRegs` exactly.
    */
  private def hllEstCtes(p: String, src: String): String =
    s"""${p}h AS (SELECT key,
           ('0x' || substr(md5('hllj_0_' || v), 1, 15))::BIGINT
             % 1024 AS j,
           61 - length(bin(
             ('0x' || substr(md5('hllw_0_' || v), 1, 15))::BIGINT))
             AS rho
         FROM $src),
       ${p}regs AS (SELECT key, j, max(rho) AS r FROM ${p}h
         GROUP BY key, j),
       ${p}est AS (${hllEstFromRegsSql(s"${p}regs")})"""

  /** The (key, estimate) SELECT over an existing register relation —
    * the SQL twin of `Sketches.hllEstimateFromRegs` (exact HUGEINT
    * indicator sum, harmonic-mean estimate, linear-counting branch,
    * 4-dp round).
    */
  private def hllEstFromRegsSql(regs: String): String =
    s"""SELECT key,
          round(CASE WHEN n_set < 1024
                      AND raw <= CAST(2560.0 AS DOUBLE)
            THEN CAST(1024.0 AS DOUBLE)
              * ln(CAST(1024.0 AS DOUBLE) / CAST(1024 - n_set AS DOUBLE))
            ELSE raw END, 4) AS estimate
        FROM (SELECT key, n_set,
            CAST(0.7213 AS DOUBLE)
              / (CAST(1.0 AS DOUBLE)
                 + CAST(1.079 AS DOUBLE) / CAST(1024.0 AS DOUBLE))
              * CAST(1048576.0 AS DOUBLE)
              * CAST(2305843009213693952.0 AS DOUBLE)
              / CAST(s_total AS DOUBLE) AS raw
          FROM (SELECT key, n_set,
              CAST(s_present AS HUGEINT)
                + (1024 - n_set)::HUGEINT
                  * 2305843009213693952::HUGEINT AS s_total
            FROM (SELECT key, count(*) AS n_set,
                sum(CAST(pow(2, 61 - r) AS DECIMAL(38,0))) AS s_present
              FROM $regs GROUP BY key)))"""

  /** Winnowing fingerprint replay (k=4, w=5) as CTEs ending in
    * `<p>wfp`(doc_id, pos, fp) over source relation `src` (which must
    * expose doc_id and text) — mirrors [[Dedup.winnowingFingerprints]]'
    * md5-mod-2³⁰ k-gram hash and the v = h·2²⁰ + (2²⁰−1−pos)
    * rightmost-min packing exactly (pure 64-bit integer arithmetic,
    * engine-identical).
    */
  private def winnowCtesFor(src: String, p: String): String =
    s"""${p}tokp AS (
         SELECT doc_id, unnest($Toks) AS tok,
                generate_subscripts($Toks, 1) - 1 AS pos
         FROM $src),
       ${p}kg AS (
         SELECT doc_id, pos,
           tok || ' ' || lead(tok, 1) OVER win || ' ' ||
             lead(tok, 2) OVER win || ' ' || lead(tok, 3) OVER win
             AS kgram
         FROM ${p}tokp WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
       ${p}pk AS (
         SELECT doc_id, pos,
           (('0x' || substr(md5('wfp_' || kgram), 1, 15))::BIGINT
              % 1073741824) * 1048576 + (1048575 - pos) AS v
         FROM ${p}kg WHERE kgram IS NOT NULL),
       ${p}winsel AS (
         SELECT doc_id, pos,
           min(v) OVER win5 AS minv,
           count(*) OVER win5 AS n_in
         FROM ${p}pk
         WINDOW win5 AS (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)),
       ${p}wfp AS (
         SELECT DISTINCT doc_id, 1048575 - (minv % 1048576) AS pos,
                minv // 1048576 AS fp
         FROM ${p}winsel WHERE n_in = 5 OR pos = 0)"""

  private val winnowCtes: String = winnowCtesFor("documents", "")

  private val quantileSketchSql: String =
      """WITH vals AS (
           SELECT CAST(lang AS VARCHAR) AS key,
                  CAST(n_chars AS BIGINT) AS v
           FROM documents
           WHERE n_chars IS NOT NULL AND lang IS NOT NULL
             AND n_chars >= 0),
         hist AS (
           SELECT key, bl, sh, idx, count(*) AS cnt
           FROM (SELECT key, bl, sh, v // (1::BIGINT << sh) AS idx
                 FROM (SELECT key, v, length(bin(v)) AS bl,
                         greatest(length(bin(v)) - 5, 0) AS sh
                       FROM vals))
           GROUP BY key, bl, sh, idx),
         cum AS (
           SELECT key, bl, idx, idx * (1::BIGINT << sh) AS lo,
                  sum(cnt) OVER (PARTITION BY key
                                 ORDER BY bl, idx) AS cum
           FROM hist),
         totals AS (SELECT key, count(*) AS n FROM vals GROUP BY key),
         ranks AS (
           SELECT key, n, p, (p * n + 99) // 100 AS rank
           FROM totals
           CROSS JOIN (SELECT unnest([50, 90, 99]::BIGINT[]) AS p)),
         est AS (
           SELECT r.key, r.p, r.n, min(c.lo) AS est
           FROM ranks r JOIN cum c
             ON r.key = c.key AND c.cum >= r.rank
           GROUP BY r.key, r.p, r.n),
         ranked AS (
           SELECT key, v,
                  row_number() OVER (PARTITION BY key ORDER BY v) AS rn
           FROM vals),
         exact AS (
           SELECT r.key, r.p, k.v AS exact
           FROM ranks r JOIN ranked k
             ON r.key = k.key AND k.rn = r.rank)
         SELECT e.key, e.p, CAST(e.n AS BIGINT) AS n,
                CAST(e.est AS BIGINT) AS est, x.exact
         FROM est e JOIN exact x ON e.key = x.key AND e.p = x.p
         ORDER BY e.key, e.p"""

  /** q148's add-k bigram scoring pipeline as prefixed CTEs ending in
    * `<p>scored(doc_id, n_bigrams, nll)` — the q151/q152 oracles score
    * the same candidates against different reference splits, so the
    * pipeline is generated per (prefix, reference filter) pair instead
    * of hand-copied.
    */
  private def lmScoreCtes(p: String, refWhere: String,
      candWhere: String): String =
    s"""${p}refd AS (
          SELECT doc_id, $Toks AS toks FROM documents
          WHERE $refWhere),
        ${p}vv AS (
          SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
          FROM (SELECT unnest(toks) AS w FROM ${p}refd)),
        ${p}rb0 AS (
          SELECT doc_id, unnest(list_transform(
            generate_series(1, greatest(len(toks) - 1, 0)),
            i -> {'w1': toks[i], 'w2': toks[i+1]})) AS s
          FROM ${p}refd),
        ${p}rb AS (SELECT s.w1 AS w1, s.w2 AS w2 FROM ${p}rb0),
        ${p}cnt AS (
          SELECT w1, w2, count(*) AS c FROM ${p}rb GROUP BY w1, w2),
        ${p}pref AS (
          SELECT w1, CAST(sum(c) AS BIGINT) AS p
          FROM ${p}cnt GROUP BY w1),
        ${p}cand AS (
          SELECT doc_id, $Toks AS toks FROM documents
          WHERE $candWhere),
        ${p}cb0 AS (
          SELECT doc_id, unnest(list_transform(
            generate_series(1, greatest(len(toks) - 1, 0)),
            i -> {'w1': toks[i], 'w2': toks[i+1]})) AS s
          FROM ${p}cand),
        ${p}cb AS (
          SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM ${p}cb0),
        ${p}per_doc AS (
          SELECT ${p}cb.doc_id, count(*) AS n_bigrams,
            sum(CAST(round(ln(
              (CAST(coalesce(${p}cnt.c, 0) AS DOUBLE) + 1.0) /
              (CAST(coalesce(${p}pref.p, 0) AS DOUBLE) +
                (SELECT v FROM ${p}vv))) * 1000000000) AS BIGINT)) AS s
          FROM ${p}cb LEFT JOIN ${p}cnt USING (w1, w2)
                  LEFT JOIN ${p}pref USING (w1)
          GROUP BY ${p}cb.doc_id),
        ${p}scored AS (
          SELECT d.doc_id,
            coalesce(pd.n_bigrams, 0) AS n_bigrams,
            CASE WHEN pd.n_bigrams > 0 THEN
              round(-CAST(pd.s AS DOUBLE) / 1000000000.0 /
                CAST(pd.n_bigrams AS DOUBLE), 6) END AS nll
          FROM (SELECT doc_id FROM documents WHERE $candWhere) d
          LEFT JOIN ${p}per_doc pd USING (doc_id))"""

  /** DuckDB replay of [[graft.operators.Classifier.qualityClassifier]]:
    * the q23 feature expressions (4-dp rounded, null-coalesced, capped
    * into [0,1]), then one gradient-aggregate + weight-update CTE pair
    * per GD round — per-row gradient contributions 10⁻⁶-quantized to
    * BIGINT and summed exactly (the q176 discipline; terms are bounded
    * by 1 so the integer sum has ~9·10¹² rows of headroom), margins
    * spelled strictly left-to-right, lr fixed at 1.0 (the Spark side's
    * `lr * g` is then bit-exact `g`). `f` and each weight row are
    * MATERIALIZED (each is
    * referenced twice per round — inlining would re-expand the whole
    * prior chain, the HITS-oracle lesson).
    */
  private def logisticOracle(iters: Int): String = {
    val margin =
      "((((b + x_stop * w1) + x_upper * w2) + x_len * w3) + x_tlen * w4)"
    val rounds = (1 to iters).map { i =>
      s"""g$i AS (
            SELECT sum(CAST(round(r * 1000000) AS BIGINT)) AS g0,
              sum(CAST(round(r * x_stop * 1000000) AS BIGINT)) AS g1,
              sum(CAST(round(r * x_upper * 1000000) AS BIGINT)) AS g2,
              sum(CAST(round(r * x_len * 1000000) AS BIGINT)) AS g3,
              sum(CAST(round(r * x_tlen * 1000000) AS BIGINT)) AS g4,
              count(*) AS n
            FROM (
              SELECT (1.0 / (1.0 + exp(-$margin)))
                  - CAST(label AS DOUBLE) AS r,
                x_stop, x_upper, x_len, x_tlen
              FROM f CROSS JOIN w${i - 1})),
          w$i AS MATERIALIZED (
            SELECT b - CAST(g0 AS DOUBLE) / 1000000.0 / n AS b,
              w1 - CAST(g1 AS DOUBLE) / 1000000.0 / n AS w1,
              w2 - CAST(g2 AS DOUBLE) / 1000000.0 / n AS w2,
              w3 - CAST(g3 AS DOUBLE) / 1000000.0 / n AS w3,
              w4 - CAST(g4 AS DOUBLE) / 1000000.0 / n AS w4
            FROM g$i CROSS JOIN w${i - 1})"""
    }.mkString(",\n")
    s"""WITH f AS MATERIALIZED (
          SELECT doc_id,
            coalesce(CASE WHEN len(toks) > 0 THEN
              round(CAST(len(list_filter(toks,
                x -> lower(x) IN ('the','a','an','and','of','to','in','is')))
                  AS DOUBLE) / CAST(len(toks) AS DOUBLE), 4) END, 0.0)
              AS x_stop,
            coalesce(CASE WHEN length(text) > 0 THEN
              round((CAST(length(text) AS DOUBLE)
                - length(regexp_replace(text, '[A-Z]', '', 'g')))
                / CAST(length(text) AS DOUBLE), 4) END, 0.0) AS x_upper,
            least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS x_len,
            least(coalesce(CASE WHEN len(toks) > 0 THEN
              round(CAST(list_aggregate(list_transform(toks,
                x -> length(x)), 'sum') AS DOUBLE)
                / CAST(len(toks) AS DOUBLE), 4) END, 0.0) / 10.0, 1.0)
              AS x_tlen,
            CAST((coalesce(CASE WHEN len(toks) > 0 THEN
              round(CAST(len(list_filter(toks,
                x -> lower(x) IN ('the','a','an','and','of','to','in','is')))
                  AS DOUBLE) / CAST(len(toks) AS DOUBLE), 4) END, 0.0)
                >= 0.06 AND len(toks) >= 40) AS INT) AS label
          FROM (SELECT doc_id, text, $Toks AS toks FROM documents)),
        w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3,
          0.0 AS w4),
        $rounds
        SELECT doc_id, label, score, (score >= 0.5) AS keep FROM (
          SELECT f.doc_id, CAST(f.label AS BIGINT) AS label,
            round(1.0 / (1.0 + exp(-(
              (((b + f.x_stop * w1) + f.x_upper * w2)
                + f.x_len * w3) + f.x_tlen * w4))), 6) AS score
          FROM f CROSS JOIN w$iters)
        ORDER BY doc_id"""
  }

  /** DuckDB replay of [[graft.operators.Graph.hits]]: two chained CTEs
    * per round (authority update then hub update), per-edge
    * contributions quantized to DECIMAL(30,12), exact-decimal L1
    * normalizers, one IEEE division per node — the same
    * deterministic-trajectory scheme as [[pageRankOracle]].
    */
  private def hitsOracle(iters: Int): String = {
    // each CTE is referenced once (the L1 normalizer is a window total,
    // not a scalar subquery) and MATERIALIZED besides — a doubly-
    // referenced inlined CTE would re-expand the whole prior chain per
    // use, 4^iters plans deep
    val rounds = (1 to iters).map { i =>
      s"""a$i AS MATERIALIZED (
            SELECT node, CAST(raw AS DOUBLE) /
              CAST(sum(raw) OVER () AS DOUBLE) AS score
            FROM (
              SELECT e.dst AS node,
                sum(CAST(h.score AS DECIMAL(30,12))) AS raw
              FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY e.dst)),
          h$i AS MATERIALIZED (
            SELECT node, CAST(raw AS DOUBLE) /
              CAST(sum(raw) OVER () AS DOUBLE) AS score
            FROM (
              SELECT e.src AS node,
                sum(CAST(a.score AS DECIMAL(30,12))) AS raw
              FROM e JOIN a$i a ON e.dst = a.node GROUP BY e.src))"""
    }.mkString(",\n")
    s"""WITH e AS (
          SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
            's:' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        h0 AS (
          SELECT DISTINCT src AS node, CAST(1 AS DOUBLE) AS score FROM e),
        $rounds
        SELECT node, 'hub' AS kind, round(score, 8) AS score FROM h$iters
        UNION ALL
        SELECT node, 'auth' AS kind, round(score, 8) AS score FROM a$iters
        ORDER BY kind, node"""
  }

  /** DuckDB replay of [[graft.operators.Graph.pageRank]] on the
    * symmetrized customer–supplier graph: one CTE per power-iteration
    * round (fixed rounds, like the k-means oracle), per-edge
    * contributions quantized to DECIMAL(30,12) and summed exactly so
    * both engines walk the identical trajectory. The damping constants
    * mirror the Scala arithmetic op-for-op ((1 − 0.85) computed in
    * DOUBLE, not a decimal literal — the two differ in the last ulp).
    */
  private def pageRankOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
            SELECT n.node,
              base.b + CAST(0.85 AS DOUBLE) *
                coalesce(CAST(s.m AS DOUBLE), CAST(0 AS DOUBLE)) AS rank
            FROM nodes n CROSS JOIN base
            LEFT JOIN (
              SELECT wd.dst AS node,
                sum(CAST(r.rank / CAST(wd.od AS DOUBLE)
                    AS DECIMAL(30,12))) AS m
              FROM wd JOIN r${i - 1} r ON wd.src = r.node
              GROUP BY wd.dst) s USING (node))"""
    }.mkString(",\n")
    s"""WITH e0 AS (
          SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
            's:' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT src, dst FROM e0
              UNION ALL SELECT dst AS src, src AS dst FROM e0),
        deg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
        wd AS (SELECT e.src, e.dst, deg.od FROM e JOIN deg USING (src)),
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        nv_t AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM nodes),
        base AS (
          SELECT (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) /
            CAST(nv AS DOUBLE) AS b FROM nv_t),
        r0 AS (
          SELECT node, CAST(1 AS DOUBLE) / CAST(nv AS DOUBLE) AS rank
          FROM nodes CROSS JOIN nv_t),
        $rounds
        SELECT node, round(rank, 8) AS rank
        FROM r$iters ORDER BY node"""
  }

  /** DuckDB twins of [[crawlV2]]/[[crawlV3]] as named CTE fragments. */
  private val CrawlV2Sql =
    """v2 AS (
         SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN text || ' edited v2'
                ELSE text END AS text,
           lang, source, n_chars
         FROM documents WHERE doc_id % 17 <> 0
         UNION ALL
         SELECT doc_id + 100000, text, lang, source, n_chars
         FROM documents WHERE doc_id % 19 = 0)"""
  private val CrawlV3Sql =
    """v3 AS (
         SELECT doc_id,
           CASE WHEN doc_id % 11 = 0 THEN text || ' edited v3'
                ELSE text END AS text
         FROM v2 WHERE doc_id % 23 <> 0
         UNION ALL
         SELECT doc_id + 200000, text FROM documents
         WHERE doc_id % 29 = 0)"""

  /** Brute-force trigram-Jaccard pair oracle — gates both the MinHash/
    * LSH path (q31) and the exact prefix-filter join (q100): the two
    * operators promise the same answer set and must validate against the
    * same ground truth.
    */
  private def bruteForceJaccardOracle(threshold: Double): String =
    s"""WITH sh AS (
          SELECT doc_id,
            list_distinct(list_transform(
              generate_series(1, greatest(len(toks) - 2, 0)),
              i -> array_to_string(toks[i:i+2], ' '))) AS sh
          FROM (SELECT doc_id, $Toks AS toks FROM documents)),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4)
              AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, jaccard FROM p
        WHERE jaccard >= $threshold ORDER BY doc_a, doc_b"""

  /** DuckDB replay of [[graft.operators.Locality.withHilbert]] over the
    * q97/q98 (user % 1024, hour-bucket % 1024) plane: CTE `h_i` holds the
    * (x, y, d) state after consuming bit i, exactly mirroring the Spark
    * side's per-step projection columns.
    */
  private def hilbertOracle(bits: Int): String = {
    val m = (1L << bits) - 1
    val steps = (0 until bits).reverse.map { i =>
      val s = 1L << i
      s"""h_$i AS (
            SELECT event_id, zx, zy,
              CASE WHEN ry = 0 THEN
                (CASE WHEN rx = 1 THEN $m - y ELSE y END)
              ELSE x END AS x,
              CASE WHEN ry = 0 THEN
                (CASE WHEN rx = 1 THEN $m - x ELSE x END)
              ELSE y END AS y,
              d + ${s * s} * xor(3 * rx, ry) AS d
            FROM (
              SELECT event_id, zx, zy, x, y, d,
                CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
                CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
              FROM h_${i + 1}))"""
    }.mkString(",\n")
    s"""WITH h_$bits AS (
          SELECT event_id,
            CAST($ZxSql AS BIGINT) AS zx,
            CAST($ZySql AS BIGINT) AS zy,
            CAST($ZxSql AS BIGINT) AS x,
            CAST($ZySql AS BIGINT) AS y,
            CAST(0 AS BIGINT) AS d
          FROM events),
        $steps
        SELECT event_id, zx, zy, CAST(d AS BIGINT) AS hval
        FROM h_0 ORDER BY event_id"""
  }

  /** Shared q97/q98 coordinate fragments: pmod twins of the Spark side,
    * exact for negative inputs too. DuckDB's `//` TRUNCATES toward zero
    * (it is not floor division), so the hour bucket floors explicitly in
    * double — exact here because a microsecond (1e-6 s) can never sit
    * within one ulp of an integer boundary at epoch magnitudes.
    */
  /** Shared q74/q102 prefix: exact-Jaccard dup edges (same rounded
    * predicate as q31, so the edge list is identical at the threshold
    * boundary) + recursive transitive closure, ending in a `comp`
    * relation (doc_id, component = min doc_id of the cluster).
    */
  /** q52's curation chain parameterized by source relation and a
    * CTE-name prefix (the composition WITH already uses t/f/p/l/k/d
    * lookalikes elsewhere) — emits `<p>t..<p>d` and `<p>cur`, the
    * kept-docs relation (doc_id, lang, source, n_chars, n_tokens,
    * predicted_lang). Mirrors [[graft.operators.Curation.curate]]
    * exactly (q52's gated chain).
    */
  private def curateCtesFor(src: String, p: String): String =
    s"""${p}t AS (SELECT doc_id, lang, source, n_chars,
           list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         FROM $src),
         ${p}f AS (SELECT doc_id, lang, source, n_chars, fp,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           len(list_filter(toks, x -> x IN ('the','and','of','is'))) AS s_en,
           len(list_filter(toks, x -> x IN ('el','la','de','que'))) AS s_es,
           len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS s_fr,
           len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS s_de,
           len(list_filter(toks, x -> x IN ('的','是','了','在'))) AS s_zh
         FROM ${p}t),
         ${p}p AS (SELECT *, greatest(s_en, s_es, s_fr, s_de, s_zh) AS m
           FROM ${p}f),
         ${p}l AS (SELECT doc_id, lang, source, n_chars, fp, n_tokens,
           CASE WHEN m = 0 THEN 'unknown'
                WHEN s_en = m THEN 'en' WHEN s_es = m THEN 'es'
                WHEN s_fr = m THEN 'fr' WHEN s_de = m THEN 'de'
                ELSE 'zh' END AS predicted_lang
         FROM ${p}p),
         ${p}k AS (SELECT * FROM ${p}l
           WHERE n_tokens BETWEEN 30 AND 120
             AND predicted_lang IN ('en', 'unknown')),
         ${p}d AS (SELECT *,
           row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
           FROM ${p}k),
         ${p}cur AS (SELECT doc_id, lang, source, n_chars, n_tokens,
           predicted_lang FROM ${p}d WHERE rn = 1)"""

  private def DupComponentsCte: String =
    "WITH RECURSIVE " + dupComponentsCtesFor("documents")

  /** The exact-Jaccard near-dup pair relation `p(doc_a, doc_b)` (with
    * its shingle CTE `sh`) — the oracle twin of
    * [[graft.operators.Dedup.minhashDupPairs]] at threshold 0.7,
    * shared by the components chain and the q165 triangle oracle.
    */
  private def jaccardPairsCtes(src: String, cp: String = ""): String =
    // sh/p carry AS MATERIALIZED deliberately: DuckDB inlines CTEs by
    // default and both are multiply referenced downstream — inlined,
    // consumers re-execute the full shingle + all-pairs-Jaccard chain
    // down to the parquet scan (observed as fd exhaustion when composed
    // into q164's long chain). `cp` prefixes the CTE names so two pair
    // relations can coexist in one chain (the q170 delta oracle runs
    // the v1 closure AND a delta-slice closure).
    s"""${cp}sh AS MATERIALIZED (
          SELECT doc_id,
            list_distinct(list_transform(
              generate_series(1, greatest(len(toks) - 2, 0)),
              i -> array_to_string(toks[i:i+2], ' '))) AS sh
          FROM (SELECT doc_id, $Toks AS toks FROM $src)),
        ${cp}p AS MATERIALIZED (
          SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / CAST(len(list_distinct(list_concat(a.sh, b.sh)))
                  AS DOUBLE), 4) AS jaccard
            FROM ${cp}sh a JOIN ${cp}sh b ON a.doc_id < b.doc_id)
          WHERE jaccard >= 0.7)"""

  /** [[DupComponentsCte]] without the WITH prefix and parameterized by
    * the corpus relation (must carry doc_id, text) — the q164
    * composition clusters its CURATED corpus, not `documents`.
    */
  private def dupComponentsCtesFor(src: String, cp: String = ""): String =
    // e is MATERIALIZED for the same reason as sh/p: it feeds the
    // RECURSIVE reach, and inlined it would re-execute per iteration
    s"""${jaccardPairsCtes(src, cp)},
        ${cp}e AS MATERIALIZED (
          SELECT doc_a AS a, doc_b AS b FROM ${cp}p
          UNION SELECT doc_b, doc_a FROM ${cp}p),
        ${cp}reach(a, b) AS (
          SELECT a, b FROM ${cp}e
          UNION
          SELECT r.a, e.b FROM ${cp}reach r JOIN ${cp}e e ON r.b = e.a),
        ${cp}nodes AS (SELECT DISTINCT a FROM ${cp}e),
        ${cp}comp AS (
          SELECT a AS doc_id, least(a, min(b)) AS component
          FROM (SELECT a, b FROM ${cp}reach
                UNION SELECT a, a FROM ${cp}nodes)
          GROUP BY a)"""

  private val ZxSql = "((user_id % 1024) + 1024) % 1024"
  private val ZySql =
    "((CAST(floor(CAST(floor(epoch_us(ts) / 1000000.0) AS BIGINT) " +
      "/ 3600.0) AS BIGINT) % 1024) + 1024) % 1024"

  /** SQL spelling of a 2-D Morton interleave over `bits` bits. */
  private def zInterleaveSql(x: String, y: String, bits: Int): String =
    (0 until bits).flatMap { b =>
      Seq(s"((($x >> $b) & 1) << ${2 * b})",
        s"((($y >> $b) & 1) << ${2 * b + 1})")
    }.mkString(" + ")

  /** DuckDB replay of [[graft.operators.Similarity.kMeans]]: seeds are
    * the k lowest-vec_id vectors, then `iters` chained Lloyd rounds —
    * each an argmin-assignment CTE (distance tie → lower cluster id)
    * feeding a quantized-BIGINT per-(cluster, dim) mean CTE (the q176
    * discipline: round(v·10⁶) summed order-free as BIGINT,
    * floor-of-mean, published as m/10⁶ in DOUBLE), empty clusters
    * carried over by LEFT JOIN — and a final assignment pass. Distances
    * fold left-to-right (list_dot_product of the diff list with itself ==
    * Spark's aggregate/zip_with fold, the same IEEE add sequence as
    * q33/q75) over bit-identical centroid doubles, so all `iters`
    * rounds stay in lockstep and the final (cluster, dist2) assignment
    * hash-matches.
    */
  /** DuckDB replay of [[graft.operators.Bpe.trainMerges]]: `vocab_0` is
    * the `[a-z]+` word-frequency vocabulary with each word in the padded
    * representation `" h  e  l  l  o "`; each round k aggregates
    * adjacent-pair counts, takes the (count DESC, lhs, rhs) argmax into
    * one-row `merge_k`, and rewrites `vocab_k` with the single plain
    * `replace` that — thanks to every token owning its own padding —
    * equals BPE's leftmost-greedy merge-all pass (see Bpe.scala's
    * determinism contract). Produces CTEs `vocab_0..vocab_n` and
    * `merge_1..merge_n` for the caller's SELECT.
    */
  /** The corpus-encoding CTE chain shared by the q140/q146 oracles
    * (appended after [[bpeTrainCtes]]'s `vocab_<n>`): ranked token ids
    * by (count DESC, token), per-doc id sequences assembled by
    * (word position, token position) into `enc(doc_id, ids)`.
    */
  private val bpeEncodeCtes: String = bpeEncodeCtesFor("documents")

  /** [[bpeEncodeCtes]] parameterized by the corpus relation the doc
    * side reads — the q164 composition encodes the SELECTED corpus,
    * not `documents` — and by the trained vocab round `n` (the q171
    * parameter sweep trains a different merge count).
    */
  private def bpeEncodeCtesFor(src: String, n: Int = 8,
      cp: String = ""): String =
    s"""${cp}wt AS MATERIALIZED (
            SELECT word, freq, string_split(trim(rep), '  ') AS toks
            FROM ${cp}vocab_$n),
          ${cp}tc AS (
            SELECT tok AS token, sum(freq) AS cnt
            FROM (SELECT unnest(toks) AS tok, freq FROM ${cp}wt)
            GROUP BY tok),
          ${cp}ids AS (
            SELECT token,
              row_number() OVER (ORDER BY cnt DESC, token) AS id
            FROM ${cp}tc),
          ${cp}dw AS (
            SELECT doc_id, unnest(words) AS word,
              generate_subscripts(words, 1) AS wpos
            FROM (SELECT doc_id,
                regexp_extract_all(lower(text), '[a-z]+') AS words
              FROM $src)),
          ${cp}dt AS (
            SELECT d.doc_id, d.wpos, unnest(w.toks) AS token,
              generate_subscripts(w.toks, 1) AS tpos
            FROM ${cp}dw d JOIN ${cp}wt w USING (word)),
          ${cp}enc AS (
            SELECT doc_id, list(id ORDER BY wpos, tpos) AS ids
            FROM (SELECT t.doc_id, t.wpos, t.tpos, i.id
                  FROM ${cp}dt t JOIN ${cp}ids i USING (token))
            GROUP BY doc_id)"""

  private def bpeTrainCtes(n: Int): String =
    "WITH " + bpeTrainCtesFor(n, "documents")

  /** [[bpeTrainCtes]] without the WITH prefix and parameterized by the
    * training-corpus relation — the q164 composition trains the
    * tokenizer on its mixed selection inside a larger CTE chain.
    */
  private def bpeTrainCtesFor(n: Int, src: String,
      cp: String = ""): String = {
    val rounds = (1 to n).map { k =>
      s"""${cp}pairs_$k AS (
            SELECT t[i] AS lhs, t[i + 1] AS rhs, sum(freq) AS cnt
            FROM (SELECT unnest(generate_series(1, len(t) - 1)) AS i,
                    t, freq
                  FROM (SELECT string_split(trim(rep), '  ') AS t, freq
                        FROM ${cp}vocab_${k - 1}))
            GROUP BY lhs, rhs),
          ${cp}merge_$k AS (
            SELECT lhs, rhs FROM ${cp}pairs_$k
            ORDER BY cnt DESC, lhs, rhs LIMIT 1),
          ${cp}vocab_$k AS (
            SELECT word, freq,
              replace(rep, ' ' || lhs || '  ' || rhs || ' ',
                      ' ' || lhs || rhs || ' ') AS rep
            FROM ${cp}vocab_${k - 1} CROSS JOIN ${cp}merge_$k)"""
    }.mkString(",\n")
    s"""${cp}vocab_0 AS (
          SELECT word, count(*) AS freq,
            regexp_replace(word, '(.)', ' \\1 ', 'g') AS rep
          FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
                  AS word
                FROM $src)
          GROUP BY word),
        $rounds"""
  }

  /** The full q164 corpus-build replay parameterized by every build
    * knob — curate → components → canonical resolution → temperature
    * mix at `budget` → BPE train (`merges`) + encode → `chunk`-token
    * windows → `pack`-token bins → `shards` shards. One generator
    * serves q164 (the default point) and q171 (the adversarial sweep
    * point), so the two oracles cannot drift from each other.
    */
  private def corpusBuildOracle(budget: Long, chunk: Int, pack: Long,
      merges: Int, shards: Int): String =
    s"""WITH RECURSIVE
        ${curateCtesFor("documents", "c_")},
        curdocs AS MATERIALIZED (SELECT d.* FROM documents d
          JOIN c_cur USING (doc_id)),
        ${dupComponentsCtesFor("curdocs")},
        wc AS (
          SELECT d.doc_id,
            coalesce(c.component, d.doc_id) AS component,
            CAST(d.n_chars AS BIGINT) AS score
          FROM curdocs d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        best AS (SELECT component, max(score) AS best_score
                 FROM wc GROUP BY 1),
        canon AS (
          SELECT wc.component, min(wc.doc_id) AS canonical_id
          FROM wc JOIN best ON wc.component = best.component
            AND wc.score = best.best_score
          GROUP BY 1),
        canondocs AS MATERIALIZED (
          SELECT d.* FROM curdocs d
          JOIN wc ON d.doc_id = wc.doc_id
          JOIN canon ON wc.component = canon.component
          WHERE d.doc_id = canon.canonical_id),
        ${mixThresholdCtes("canondocs", budget, "")},
        seldocs AS MATERIALIZED (
          SELECT d.* FROM canondocs d JOIN mth USING (lang)
          WHERE ('0x' || substr(md5('smp_' ||
                  CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
                < thresh),
        ${bpeTrainCtesFor(merges, "seldocs")},
        ${bpeEncodeCtesFor("seldocs", merges)},
        encall AS (
          SELECT d.doc_id,
            coalesce(e.ids, CAST([] AS BIGINT[])) AS ids
          FROM seldocs d LEFT JOIN enc e USING (doc_id)),
        ch AS (
          SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
            ids[(ci*$chunk+1):(ci*$chunk+$chunk)] AS cids
          FROM (SELECT doc_id, ids,
              unnest(generate_series(0,
                CAST(greatest(ceil(len(ids)/$chunk.0) - 1, 0) AS BIGINT)))
                AS ci
            FROM encall)),
        chn AS MATERIALIZED (
          SELECT doc_id, chunk_idx,
            CAST(len(cids) AS BIGINT) AS n_tokens,
            md5(array_to_string(cids, ' ')) AS ids_digest,
            doc_id * 100000 + chunk_idx AS ckey
          FROM ch),
        pk AS (
          SELECT ckey,
            CAST(coalesce(sum(n_tokens) OVER (ORDER BY ckey
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // $pack AS BIGINT) AS bin_id
          FROM chn),
        bs AS (
          SELECT bin_id,
            (row_number() OVER (
              ORDER BY md5(CAST(bin_id AS VARCHAR)), bin_id) - 1)
              % $shards AS shard
          FROM (SELECT DISTINCT bin_id FROM pk))
        SELECT c.doc_id, c.chunk_idx, c.n_tokens, c.ids_digest,
          p.bin_id, CAST(b.shard AS BIGINT) AS shard
        FROM chn c JOIN pk p USING (ckey) JOIN bs b USING (bin_id)
        ORDER BY doc_id, chunk_idx"""

  /** FROZEN-tokenizer encode chain for the q170 delta oracle: tokenize
    * `src`'s words by REPLAYING the already-trained `merge_1..merge_n`
    * CTEs (the padded-rep single-`replace` fold — exactly
    * [[graft.operators.Bpe.tokens]], so words the training corpus never
    * saw tokenize identically), then assemble ids from the TRAINING
    * vocabulary's `ids` CTE — the frozen id space
    * ([[graft.operators.Bpe.encodeDocsFrozen]]'s contract, including
    * its failure mode: a token absent from the frozen vocab hits a
    * LEFT JOIN + `error()` here, mirroring the engine's raise_error,
    * so both sides fail LOUDLY rather than one silently shortening
    * its id sequence). Emits
    * `<cp>wt`/`<cp>dw`/`<cp>dt`/`<cp>enc`; requires `merge_k` and `ids`
    * upstream (from [[bpeTrainCtesFor]] + [[bpeEncodeCtesFor]]).
    */
  private def bpeFrozenEncodeCtesFor(n: Int, src: String,
      cp: String): String = {
    val folds = (1 to n).map { k =>
      s"""${cp}rep_$k AS (
            SELECT word,
              replace(rep, ' ' || m.lhs || '  ' || m.rhs || ' ',
                      ' ' || m.lhs || m.rhs || ' ') AS rep
            FROM ${cp}rep_${k - 1} CROSS JOIN merge_$k m)"""
    }.mkString(",\n")
    s"""${cp}rep_0 AS (
          SELECT DISTINCT word,
            regexp_replace(word, '(.)', ' \\1 ', 'g') AS rep
          FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
                  AS word
                FROM $src)),
        $folds,
        ${cp}wt AS MATERIALIZED (
          SELECT word, string_split(trim(rep), '  ') AS toks
          FROM ${cp}rep_$n),
        ${cp}dw AS (
          SELECT doc_id, unnest(words) AS word,
            generate_subscripts(words, 1) AS wpos
          FROM (SELECT doc_id,
              regexp_extract_all(lower(text), '[a-z]+') AS words
            FROM $src)),
        ${cp}dt AS (
          SELECT d.doc_id, d.wpos, unnest(w.toks) AS token,
            generate_subscripts(w.toks, 1) AS tpos
          FROM ${cp}dw d JOIN ${cp}wt w USING (word)),
        ${cp}enc AS (
          SELECT doc_id, list(id ORDER BY wpos, tpos) AS ids
          FROM (SELECT t.doc_id, t.wpos, t.tpos,
                  CASE WHEN i.id IS NULL THEN
                    error('frozen-vocab replay: unseen token ' || t.token)
                  ELSE i.id END AS id
                FROM ${cp}dt t LEFT JOIN ids i USING (token))
          GROUP BY doc_id)"""
  }

  /** Temperature-mix threshold CTEs over `src` at `budget`,
    * name-prefixed by `cp` — the mw→mth chain of [[corpusBuildOracle]]
    * factored out so the q174/q175 oracles can derive a SECOND
    * threshold set (fresh, over the standing corpus) alongside the
    * frozen one without CTE-name collisions. Emits `<cp>mth(lang,
    * thresh)`.
    */
  private def mixThresholdCtes(src: String, budget: Long,
      cp: String): String =
    s"""${cp}mw AS (SELECT doc_id, lang, len($Toks) AS w FROM $src),
        ${cp}mtot AS (SELECT lang, sum(w) AS t FROM ${cp}mw
          GROUP BY lang),
        ${cp}msv AS (
          SELECT lang, t,
            CAST(round(sqrt(CAST(t AS DOUBLE)) * 1000000) AS BIGINT)
              AS s
          FROM ${cp}mtot),
        ${cp}mssv AS (SELECT sum(s) AS ss FROM ${cp}msv),
        ${cp}mth AS (
          SELECT lang,
            CAST(floor(least(1.0,
              CASE WHEN t > 0 THEN
                CAST($budget AS DOUBLE) * s / ss / t
              ELSE 1.0 END) * 1000000) AS BIGINT) AS thresh
          FROM ${cp}msv, ${cp}mssv)"""

  /** Replay of the COMMITTED-delta state shared by the q174/q175
    * oracles: the v1 build's decisions (curate → canonical corpus
    * `canondocs` → frozen mix `mth` → frozen tokenizer
    * `merge_1..merge_8`/`ids` trained on `seldocs`) followed by the
    * crawlV2 delta chain through its SURVIVORS `dsurv` (the q170
    * chain minus the chunk emission — standing membership is decided
    * before the frozen mix), ending with `standingdocs`: the
    * committed standing corpus carrying v2 text — exactly the state
    * `Pipeline.retrainPressure`/`retrainState` run against after
    * `corpusDelta(crawlV2, commit = true)`.
    */
  private val committedStateCtes: String =
    s"""${curateCtesFor("documents", "c_")},
        curdocs AS MATERIALIZED (SELECT d.* FROM documents d
          JOIN c_cur USING (doc_id)),
        ${dupComponentsCtesFor("curdocs")},
        wc AS (
          SELECT d.doc_id,
            coalesce(c.component, d.doc_id) AS component,
            CAST(d.n_chars AS BIGINT) AS score
          FROM curdocs d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        best AS (SELECT component, max(score) AS best_score
                 FROM wc GROUP BY 1),
        canon AS (
          SELECT wc.component, min(wc.doc_id) AS canonical_id
          FROM wc JOIN best ON wc.component = best.component
            AND wc.score = best.best_score
          GROUP BY 1),
        canondocs AS MATERIALIZED (
          SELECT d.* FROM curdocs d
          JOIN wc ON d.doc_id = wc.doc_id
          JOIN canon ON wc.component = canon.component
          WHERE d.doc_id = canon.canonical_id),
        ${mixThresholdCtes("canondocs", 20000L, "")},
        seldocs AS MATERIALIZED (
          SELECT d.* FROM canondocs d JOIN mth USING (lang)
          WHERE ('0x' || substr(md5('smp_' ||
                  CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
                < thresh),
        ${bpeTrainCtesFor(8, "seldocs")},
        ${bpeEncodeCtesFor("seldocs")},
        $CrawlV2Sql,
        nfp AS MATERIALIZED (SELECT doc_id, $Fp AS fp FROM v2),
        ofp AS MATERIALIZED (
          SELECT doc_id, $Fp AS fp FROM documents),
        tomb AS MATERIALIZED (
          SELECT o.doc_id FROM ofp o
          LEFT JOIN nfp n ON o.doc_id = n.doc_id
          WHERE n.doc_id IS NULL OR n.fp <> o.fp),
        deltadocs AS MATERIALIZED (
          SELECT v.doc_id, v.text, v.lang, v.source, v.n_chars
          FROM v2 v JOIN nfp n ON v.doc_id = n.doc_id
          LEFT JOIN ofp o ON o.doc_id = n.doc_id
          WHERE o.doc_id IS NULL OR o.fp <> n.fp),
        ${curateCtesFor("deltadocs", "dc_")},
        keptfp AS MATERIALIZED (
          SELECT DISTINCT fp FROM ofp
          WHERE NOT EXISTS (SELECT 1 FROM tomb t
                            WHERE t.doc_id = ofp.doc_id)),
        dx AS MATERIALIZED (
          SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
          FROM deltadocs d
          JOIN dc_cur USING (doc_id)
          JOIN dc_t t ON d.doc_id = t.doc_id
          WHERE NOT EXISTS (SELECT 1 FROM keptfp k
                            WHERE k.fp = t.fp)),
        stnow AS MATERIALIZED (
          SELECT doc_id FROM canondocs
          WHERE NOT EXISTS (SELECT 1 FROM tomb t
                            WHERE t.doc_id = canondocs.doc_id)),
        dxsh AS MATERIALIZED (
          SELECT doc_id,
            list_distinct(list_transform(
              generate_series(1, greatest(len(toks) - 2, 0)),
              i -> array_to_string(toks[i:i+2], ' '))) AS sh
          FROM (SELECT doc_id, $Toks AS toks FROM dx)),
        xhit AS MATERIALIZED (
          SELECT DISTINCT d.doc_id
          FROM dxsh d
          JOIN sh s
            ON round(CAST(len(list_intersect(d.sh, s.sh)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(d.sh, s.sh)))
                AS DOUBLE), 4) >= 0.7
          JOIN stnow st ON st.doc_id = s.doc_id),
        ds2 AS MATERIALIZED (
          SELECT * FROM dx
          WHERE NOT EXISTS (SELECT 1 FROM xhit x
                            WHERE x.doc_id = dx.doc_id)),
        ${dupComponentsCtesFor("ds2", "dd_")},
        ddwc AS (
          SELECT d.doc_id,
            coalesce(c.component, d.doc_id) AS component,
            CAST(d.n_chars AS BIGINT) AS score
          FROM ds2 d LEFT JOIN dd_comp c ON d.doc_id = c.doc_id),
        ddbest AS (SELECT component, max(score) AS best_score
                   FROM ddwc GROUP BY 1),
        ddcanon AS (
          SELECT ddwc.component, min(ddwc.doc_id) AS canonical_id
          FROM ddwc JOIN ddbest ON ddwc.component = ddbest.component
            AND ddwc.score = ddbest.best_score
          GROUP BY 1),
        dsurv AS MATERIALIZED (
          SELECT d.* FROM ds2 d
          JOIN ddwc ON d.doc_id = ddwc.doc_id
          JOIN ddcanon ON ddwc.component = ddcanon.component
          WHERE d.doc_id = ddcanon.canonical_id),
        standingdocs AS MATERIALIZED (
          SELECT v.* FROM v2 v
          JOIN (SELECT doc_id FROM stnow
                UNION SELECT doc_id FROM dsurv) st USING (doc_id))"""

  /** The duplicated-span CTE chain shared by the q138/q139 oracles:
    * positional `w`-token windows, distinct-doc df, gaps-and-islands
    * merge into maximal `runs(doc_id, start_tok, end_tok)`; `t` holds
    * each window-eligible doc's token list.
    */
  private def dupSpanCtes(w: Int): String =
    s"""t AS MATERIALIZED (
          SELECT doc_id, $Toks AS toks FROM documents
          WHERE len($Toks) >= $w),
        pos AS (
          SELECT doc_id, unnest(range(1, len(toks) - $w + 2)) AS i
          FROM t),
        wnd AS MATERIALIZED (
          SELECT p.doc_id, p.i,
            array_to_string(t.toks[p.i:p.i + ${w - 1}], ' ') AS span
          FROM pos p JOIN t USING (doc_id)),
        df AS (
          SELECT span FROM wnd
          GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
        dup AS (
          SELECT w.doc_id, w.i FROM wnd w JOIN df USING (span)),
        isl AS (
          SELECT doc_id, i,
            i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g
          FROM dup),
        runs AS (
          SELECT doc_id, min(i) AS start_tok, max(i) + ${w - 1} AS end_tok
          FROM isl GROUP BY doc_id, g)"""

  /** The k-means training-replay CTE chain (see [[kMeansOracle]]),
    * shared with the semantic-dedup oracle: everything up through
    * `assign_final(vec_id, emb, cluster, d2)`.
    */
  private def kMeansCtes(k: Int, iters: Int): String = {
    def assign(name: String, cents: String) =
      s"""$name AS (
            SELECT vec_id, emb, cluster, d2 FROM (
              SELECT vec_id, emb, cluster, d2,
                row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster)
                  AS rn
              FROM (
                SELECT vec_id, emb, cluster,
                  list_dot_product(diff, diff) AS d2
                FROM (
                  SELECT e.vec_id, e.emb, c.cluster,
                    list_transform(range(1, len(e.emb) + 1),
                      j -> e.emb[j] - c.cent[j]) AS diff
                  FROM emb e CROSS JOIN $cents c)))
            WHERE rn = 1)"""
    val rounds = (1 to iters).map { i =>
      s"""${assign(s"assign_$i", s"cents_${i - 1}")},
          upd_$i AS (
            SELECT cluster, pos,
              CAST(floor(CAST(sum(CAST(round(v * 1000000) AS BIGINT))
                  AS DOUBLE) / count(*)) AS BIGINT) / 1000000.0 AS val
            FROM (SELECT a.cluster, unnest(a.emb) AS v,
                    generate_subscripts(a.emb, 1) AS pos
                  FROM assign_$i a)
            GROUP BY cluster, pos),
          cents_$i AS (
            SELECT p.cluster, coalesce(u.cent, p.cent) AS cent
            FROM cents_${i - 1} p LEFT JOIN (
              SELECT cluster, list(val ORDER BY pos) AS cent
              FROM upd_$i GROUP BY cluster) u USING (cluster))"""
    }.mkString(",\n")
    s"""emb AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
        cents_0 AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
            AS cluster, emb AS cent
          FROM (SELECT vec_id, emb FROM emb ORDER BY vec_id LIMIT $k)),
        $rounds,
        ${assign("assign_final", s"cents_$iters")}"""
  }

  private def kMeansOracle(k: Int, iters: Int): String =
    s"""WITH ${kMeansCtes(k, iters)}
        SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
          round(d2, 6) AS dist2
        FROM assign_final ORDER BY vec_id"""
}
