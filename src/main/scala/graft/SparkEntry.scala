package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{BinnedQuantiles, Bpe, Bucketing, CorpusShuffle, Decontaminate, Dedup, Flatten, IncrementalAgg, Monitoring, Multimodal, Outliers, QuotaSample, RangeJoin, Scd2, SketchRollup, Similarity, Skew, SnapshotDiff, TrainingShards, Upsert}
import graft.functions.{MoneyMode, Pii, Text, Vectors, Web}
import org.apache.spark.sql.types.DecimalType
import graft.Tables._

/** The gate contract — see SURVEY.md §7.
  *
  * Every [[SparkEntry.Gate]] in [[SparkEntry.gates]] is one operator from
  * SURVEY.md §2 (or an LLM-pipeline extension): an idiomatic Spark plan
  * over the parquet test tables, declared together with the
  * equivalent ANSI SQL that DuckDB runs on the same parquet for the
  * hash-compare gate. `Verify`, `Bench`, `Explain` and `Profile` iterate
  * that one list.
  *
  * Determinism rules applied throughout:
  *  - every result has an explicit ORDER BY (both sides) — no reliance on
  *    engine row order;
  *  - double aggregates are round()ed (2-4 dp) so summation order across
  *    partitions cannot flip the hash;
  *  - counts are cast to BIGINT on both sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Referential-integrity orphan check (SURVEY §2 J2+A8,
    * ref shopify_etl.py:718-734) over lineitem→orders. */
  def entry(spark: SparkSession): DataFrame =
    q03_orphan_lineitems(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- parity

  /** A5/A9 hash aggregate with partial map-side combine (TPC-H Q1 shape).
    * ref: per-day metric aggregation fetch_youtube_data.py:29-35 +
    * uniqueness counts shopify_etl.py:592-618. */
  def q01_pricing_summary(s: SparkSession, d: String): DataFrame =
    pricingSummary(lineitem(s, d), MoneyMode.Dbl)

  /** The same pricing summary under either money policy (functions.Money):
    * Dbl is the reference-parity shape (rounded floating aggregates, avg);
    * Dec casts money to DECIMAL(18,2) and aggregates exactly — no rounding
    * anywhere, no avg (decimal division scale/rounding is engine-specific
    * and would reintroduce an engine-dependent step into the exact mode).
    * Dec results cross the query boundary as STRING at pinned scale
    * (DECIMAL(38,2) → "123.40"): the aggregation stays exact fixed-point,
    * but the OUTPUT representation is canonical text, because decimal
    * value hashing is serializer-lane-dependent (round 2's q42 failed the
    * driver hash gate on representation while every value compared equal;
    * both Spark and DuckDB print decimals with scale-pinned trailing
    * zeros, so text is the stable cross-engine form). */
  def pricingSummary(li: DataFrame, mode: MoneyMode): DataFrame = {
    val qty = mode.cast(col("l_quantity"))
    val price = mode.cast(col("l_extendedprice"))
    val disc = mode.cast(col("l_discount"))
    val grouped = li.groupBy(col("l_returnflag"), col("l_linestatus"))
    val sorted = mode match {
      case MoneyMode.Dbl =>
        grouped.agg(
          round(sum(qty), 2).as("sum_qty"),
          round(sum(price), 2).as("sum_base_price"),
          round(sum(price * (lit(1.0) - disc)), 2).as("sum_disc_price"),
          round(avg(qty), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
      case MoneyMode.Dec =>
        grouped.agg(
          sum(qty).cast(DecimalType(38, 2)).cast("string").as("sum_qty"),
          sum(price).cast(DecimalType(38, 2)).cast("string").as("sum_base_price"),
          sum(price * (mode.cast(lit(1)) - disc)).cast(DecimalType(38, 4)).cast("string").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }
    sorted.orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** DECIMAL money mode of q01 — exact fixed-point aggregation, gated by
    * its own oracle running the identical decimal arithmetic in DuckDB. */
  def q42_pricing_summary_dec(s: SparkSession, d: String): DataFrame =
    pricingSummary(lineitem(s, d), MoneyMode.Dec)

  /** Sketch-based distinct counting (HyperLogLog), hash-gated through a
    * tolerance formulation the oracle CAN check exactly: the query emits
    * the exact distinct count plus a boolean `within_2pct` comparing the
    * sketch estimate against it — DuckDB asserts the same exact count and
    * a literal TRUE, so an estimator drifting out of tolerance breaks the
    * hash. lgK=16 (rsd ≈ 0.41%) keeps 2% at ~5 sigma.
    *
    * Datasketches `hll_sketch_agg`, NOT `approx_count_distinct` (r17):
    * Spark's HLL++ at rsd 0.005 declares one aggregation-buffer
    * ATTRIBUTE per sketch word (~11k LongType columns), and the
    * generated buffer row-writer blows whole-stage codegen up into a
    * ~50 s driver-side compile with multi-MB task binaries — measured
    * 6.6 s for this query cold and 63.7 s for q63's three-sketch
    * variant, pure driver time. The Datasketches sketch is one BINARY
    * buffer at the same precision class, so planning/codegen are
    * normal-sized; only the tolerance boolean consumes the estimate,
    * and it stays true by the same ~5-sigma margin. */
  def q43_approx_distinct(s: SparkSession, d: String): DataFrame =
    orders(s, d).agg(
      countDistinct(col("o_custkey")).as("exact_custs"),
      (abs(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"), lit(16)))
          .cast("double") -
          countDistinct(col("o_custkey")).cast("double")) /
        countDistinct(col("o_custkey")).cast("double") <= 0.02).as("within_2pct"))

  /** Int8 embedding quantization (functions.Vectors): per-vector symmetric
    * scale, round-to-int codes, reconstruction-error stats. The oracle
    * replays the whole quantize→dequantize→error pipeline in SQL, so the
    * scale math, rounding mode, and error bound are all hash-gated. Scale
    * is aliased to an attribute before the per-element lambdas (HOF
    * duplication trap). */
  def q45_int8_quantize(s: SparkSession, d: String): DataFrame = {
    val withScale = embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("e"),
        Vectors.int8Scale(col("embedding")).as("scale"))
    val withErr = withScale
      .select(col("vec_id"), col("scale"),
        aggregate(
          zip_with(col("e"),
            Vectors.int8Dequantize(Vectors.int8Quantize(col("e"), col("scale")), col("scale")),
            (x, y) => abs(x.cast("double") - y)),
          lit(0.0), (acc, v) => greatest(acc, v)).as("max_err"))
    withErr.agg(
      count(lit(1)).as("n_vectors"),
      round(avg(col("max_err")), 6).as("avg_max_err"),
      round(max(col("max_err")), 6).as("max_max_err"),
      round(avg(col("scale")), 6).as("avg_scale"))
  }

  /** Sequence packing — group documents into ~budget-token shards, the
    * batching op of a training-data pipeline. Docs are split into pack
    * groups by key hash (packing parallelizes per group — a GLOBAL
    * running sum would funnel the corpus through one task), then binned
    * by the running token count's start offset within the group:
    * contiguous docs share a pack until the budget boundary passes. Pack
    * stats are emitted per (group, pack). Deterministic: no RNG, stable
    * doc order. */
  def q46_sequence_packing(s: SparkSession, d: String, budget: Int = 2000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    documents(s, d)
      .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("g"),
        Text.tokenCount(col("text")).as("toks"))
      .withColumn("running", sum(col("toks")).over(w))
      .withColumn("pack", floor((col("running") - col("toks")) / budget.toDouble).cast("long"))
      .groupBy(col("g"), col("pack"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).cast("long").as("pack_tokens"),
        max(col("toks")).cast("long").as("max_doc_tokens"))
      .orderBy(col("g"), col("pack"))
  }

  /** Weighted mixture sampling — upweight/downweight sources when mixing a
    * training set, with a reproducible hash predicate (companion to q40's
    * stratified sampler; rates per SOURCE here, expressed in percent).
    * Knuth multiplicative hashing of the key decorrelates the predicate
    * from raw id ranges; identical arithmetic runs in the oracle. The key
    * is reduced mod a prime BEFORE the multiply so the product stays
    * within 2^63 for any 64-bit id — Spark would wrap silently where the
    * oracle's BIGINT overflow errors, so the arithmetic must never
    * overflow in either engine. */
  def q47_weighted_mix(s: SparkSession, d: String): DataFrame = {
    val pct = when(col("source") === "web", 75)
      .when(col("source") === "books", 50)
      .when(col("source") === "wiki", 90)
      .otherwise(25)
    documents(s, d)
      .filter(graft.functions.Mix.keepPredicate(col("doc_id"), pct))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("mixed_docs"),
        sum(Text.tokenCount(col("text"))).cast("long").as("mixed_tokens"))
      .orderBy(col("source"))
  }

  /** Pivot (long→wide conditional aggregation): revenue per priority ×
    * order status. Status values are pinned explicitly — the two-arg
    * pivot needs no driver-side distinct scan, the scale-correct form. */
  def q44_pivot(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum(col("o_totalprice")), 2))
      .orderBy(col("o_orderpriority"))

  /** O1 top-1 by timestamp (checkpoint read, ref shopify_etl.py:174-180).
    * Catalyst plans TakeOrderedAndProject — no full sort at scale. */
  def q02_latest_event(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(1)

  /** J2+A8 left-anti referential integrity: lineitems with no parent order.
    * ref: shopify_etl.py:718-734. */
  def q03_orphan_lineitems(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("invalid_refs"))

  /** J3 star-schema join: revenue per region. Dimension sides are broadcast
    * (region/nation/customer are tiny vs lineitem at any SF). */
  def q04_star_revenue(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"))

  /** A1/A2 deterministic first-wins dedup (ref shopify_etl.py:339-347,
    * 496-516): one row per (user_id, event_type), earliest event_id wins. */
  def q05_dedup_first_wins(s: SparkSession, d: String): DataFrame =
    Dedup.firstWinsAgg(events(s, d), Seq("user_id", "event_type"), "event_id", Seq("value"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 2).as("value"))
      .orderBy(col("event_id"))

  /** A4 SELECT DISTINCT * (ref shopify_etl.py:571-576) on a projection. */
  def q06_distinct(s: SparkSession, d: String): DataFrame =
    Dedup.distinctRows(
      orders(s, d).select(col("o_orderstatus"), col("o_orderpriority")))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  /** A5/A6 uniqueness verification: COUNT(*) vs COUNT(DISTINCT key)
    * (ref shopify_etl.py:592-618). */
  def q07_uniqueness_check(s: SparkSession, d: String): DataFrame =
    orders(s, d).agg(
      count(lit(1)).as("total_rows"),
      countDistinct(col("o_orderkey")).as("unique_keys"),
      countDistinct(col("o_custkey"), col("o_orderstatus")).as("unique_cust_status"))

  /** A7 group-by-count duplicates report (ref shopify_etl.py:463-481). */
  def q08_dup_report(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .orderBy(col("user_id"))

  /** A9/T-window daily rollup (ref fetch_youtube_data.py:29-35 day
    * dimension): per-day event counts and value sums. */
  def q09_daily_rollup(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"),
        round(avg(col("value")), 4).as("avg_value"))
      .orderBy(col("day"))

  /** F1/P5/T3 incremental window: events inside the 1-hour late-data buffer
    * before max(ts) (ref shopify_etl.py:191-205 intended semantics). */
  def q10_incremental_buffer(s: SparkSession, d: String): DataFrame = {
    val maxTs = events(s, d).agg(max(col("ts")).as("max_ts"))
    events(s, d)
      .crossJoin(broadcast(maxTs))
      .filter(col("ts") >= col("max_ts") - expr("INTERVAL 1 HOUR"))
      .agg(count(lit(1)).as("recent_events"))
  }

  /** P1/F5/F6/F8/F9/F2 normalization projection: string-cast ids, coalesce
    * defaults, boolean→categorical banding, month formatting
    * (ref shopify_etl.py:350-364,419). */
  def q11_normalize_projection(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
      col("o_orderkey").cast("string").as("order_id"),
      col("o_custkey").cast("string").as("customer_id"),
      coalesce(col("o_orderstatus"), lit("")).as("financial_status"),
      round(col("o_totalprice"), 2).as("total_price"),
      when(col("o_totalprice") > 150000.0, lit("high")).otherwise(lit("normal")).as("value_band"),
      date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .orderBy(col("order_id"))

  /** J1 MERGE upsert semantics (ref shopify_etl.py:558-590): final table =
    * even keys, update batch = keys divisible by 3 with repriced rows;
    * matched rows fully replaced, unmatched kept, new inserted. */
  def q12_merge_upsert(s: SparkSession, d: String): DataFrame = {
    // Raw doubles pass through both engines bit-identically; arithmetic on
    // them (e.g. *1.05 then round) does not — keep the merge payload exact.
    val base = orders(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), lit("old").as("status"),
        col("o_totalprice").as("total_price"))
    val updates = orders(s, d).filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), lit("new").as("status"),
        col("o_totalprice").as("total_price"))
    Upsert.merge(base, updates, Seq("o_orderkey")).orderBy(col("o_orderkey"))
  }

  /** F4/F10 regexp extract + JSON field extraction over events.props
    * (ref shopify_etl.py:436-445 Link-header regex; :112 json). */
  def q13_regexp_json(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        get_json_object(col("props"), "$.k").as("k_json"),
        regexp_extract(col("props"), "([0-9]+)", 1).as("k_re"))
      .groupBy(col("k_json"), col("k_re"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("k_json"), col("k_re"))

  /** F2-ish string/aggregate mix over documents, grouped by language. */
  def q14_doc_summary(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(upper(col("lang")).as("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang"))

  /** M1 flatten family: nested docs (built here from lineitem via
    * collect_list/struct) exploded back flat — the reference's central
    * normalize move (P1-P4 + explodes, ref shopify_etl.py:350-426). The
    * roundtrip invariant makes it oracle-checkable against plain lineitem. */
  def q15_explode_roundtrip(s: SparkSession, d: String): DataFrame = {
    val nested = lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_quantity"), col("l_extendedprice"))).as("items"))
    nested.select(col("l_orderkey"), explode(col("items")).as("item"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("item.l_quantity")), 2).as("sum_qty"))
  }

  /** Text quality scoring per source (training-data pipeline op). */
  def q16_text_quality(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), Text.qualityScore(col("text")).as("q"),
        Text.tokenCount(col("text")).as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("q")), 4).as("avg_quality"),
        round(avg(col("n_tok")), 4).as("avg_tokens"))
      .orderBy(col("source"))

  /** Token counting (whitespace + lexer-regex) per document. */
  def q17_token_counts(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        Text.tokenCount(col("text")).as("ws_tokens"),
        Text.lexTokenCount(col("text")).as("lex_tokens"),
        Text.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Exact dedup via content fingerprint (hash-groupBy — the O(n) exact
    * dedup that precedes any fuzzy pass at scale). */
  def q18_fingerprint_dedup(s: SparkSession, d: String): DataFrame =
    documents(s, d).agg(
      count(lit(1)).as("total_docs"),
      countDistinct(md5(col("text"))).as("distinct_fp"),
      (count(lit(1)) - countDistinct(md5(col("text")))).as("exact_dups"))

  /** Language-ID heuristic (stopword votes, deterministic tie-break)
    * cross-tabbed against the labeled lang. */
  def q19_langid(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"), Text.langGuess(col("text")).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))

  /** MinHash+LSH candidate generation verified by exact shingle Jaccard —
    * the production fuzzy-dedup pipeline shape (sketch candidates → exact
    * scoring on candidates only). The oracle computes exact 3-shingle
    * Jaccard over ALL pairs (gram-collision join), so the gate proves the
    * banding missed no J >= 0.6 pair AND every emitted score is exact.
    * (LSH banding itself is not ANSI-SQL-expressible; this containment
    * formulation is — and it is the stronger claim.) */
  def q20_minhash_neardup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // maxBucket = 0: the oracle-gated variant disables the bucket-occupancy
    // cap so the gate tests the ALGORITHM — with a cap, a hotter fixture
    // could silently drop true pairs and fail (or mask) the containment
    // gate. Production callers keep the cap (ADVICE r2).
    val cand = Similarity.minhashNearDup(docs, "doc_id", "text", 0.5, maxBucket = 0)
    Similarity.scoreCandidatesJaccard(cand, docs, "doc_id",
        // hashed shingle sets: Jaccard-identical to the oracle's string
        // shingles w.h.p., no per-shingle string materialization
        sub => sub.select(col("doc_id"), Text.tokens(col("text")).as("_w"))
          .select(col("doc_id"), Similarity.shingleHashesOf(col("_w"), 3).as("g")))
      .filter(col("jaccard") >= 0.6)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SimHash near-dup candidates gated on the theorem subset: identical
    * distinct-token sets imply identical 64-bit sketches (Hamming 0), which
    * the 4-chunk pigeonhole join finds unconditionally — so candidates ∩
    * {token-set-equal} must equal exactly the token-set-equal pairs, which
    * the oracle computes directly. Any missed chunk-join pair or spurious
    * Hamming breaks the hash. */
  def q21_simhash_neardup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // maxBucket = 0: cap disabled inside the gated query (see q20 note)
    val cand = Similarity.simhashNearDup(docs, "doc_id", "text", 3, maxBucket = 0)
    Similarity.candidateFeatures(cand, docs, "doc_id",
        sub => sub.select(col("doc_id"),
          md5(to_json(array_sort(array_distinct(split(col("text"), " ")))))))
      .filter(col("__fa") === col("__fb"))
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact word-bigram Jaccard over a deterministic sample, grouped by
    * source — the verification stage of fuzzy dedup. */
  def q22_jaccard_pairs(s: SparkSession, d: String): DataFrame =
    Similarity.jaccardPairs(
      documents(s, d).filter(col("doc_id") % 10 === 0),
      "doc_id", "text", "source", 2, 0.05)
      .orderBy(col("source"), col("id_a"), col("id_b"))

  /** Brute-force cosine top-k ANN (correctness baseline; embeddings are
    * L2-normalized so cosine ≡ dot). */
  def q23_ann_bruteforce(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity.annBruteForce(
      emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** LSH-bucketed ANN gated by planted-duplicate self-retrieval: each query
    * is a corpus vector re-labeled (+1e6), so its twin shares every
    * hyperplane bucket by construction and must surface at rank 1 with the
    * exact brute-force score — which the oracle computes by brute force.
    * Runs the full LSH path (sketch, bucket join, exact rescoring, top-k);
    * general-recall characteristics are asserted in SimilaritySpec. */
  def q24_ann_lsh(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val planted = emb.filter(col("vec_id") < 8)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.annLsh(planted, emb, "vec_id", "embedding", 1)
      .orderBy(col("query_id"))
  }

  /** Embedding column statistics per label (norms ≡ 1 checks the data is
    * L2-normalized; exercises double-fold vector math). */
  def q25_embedding_stats(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("label"),
        Vectors.dot(col("embedding"), col("embedding")).as("norm_sq"),
        col("embedding")(0).cast("double").as("first_dim"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("norm_sq")), 6).as("avg_norm_sq"),
        round(avg(col("first_dim")), 6).as("avg_first_dim"))
      .orderBy(col("label"))

  /** Multimodal plumbing: opaque binary payload + byte accounting per
    * source (decode itself is stubbed — see operators.Multimodal). */
  def q26_multimodal_bytes(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), col("text").cast("binary").as("payload"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_media"),
        sum(length(col("payload"))).cast("long").as("total_bytes"))
      .orderBy(col("source"))

  /** S4/S5-shaped daily multi-metric rollup: the per-day metric family the
    * reference pulls pre-aggregated from the YouTube Analytics API
    * (ref fetch_youtube_data.py:29-46), computed by the engine itself via
    * conditional aggregation. */
  def q29_daily_metrics(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        count(when(col("event_type") === "view", 1)).as("views"),
        count(when(col("event_type") === "click", 1)).as("clicks"),
        count(when(col("event_type") === "signup", 1)).as("signups"),
        count(when(col("event_type") === "purchase", 1)).as("purchases"),
        round(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)), 2)
          .as("revenue"))
      .orderBy(col("day"))

  /** One SQL text, two engines: the query IS its own oracle. Exercises the
    * engine's ANSI SQL surface (via [[Catalog]] temp views) on a TPC-H
    * Q3-shaped join+agg+top-k. */
  val q28Sql: String =
    """SELECT o_orderkey,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       o_orderpriority
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
         AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
       GROUP BY o_orderkey, o_orderpriority
       ORDER BY revenue DESC, o_orderkey
       LIMIT 10"""

  def q28_sql_topk(s: SparkSession, d: String): DataFrame = {
    Catalog.registerViews(s, d)
    s.sql(q28Sql)
  }

  /** Char-trigram profile language ID (broadcast-join design). The oracle
    * replays the full scoring in SQL — the seed profile is inlined as
    * VALUES, trigrams re-derived, per-doc argmax re-computed — so every
    * prediction and score is hash-gated, not just the distribution. */
  def q27_langid_trigram(s: SparkSession, d: String): DataFrame =
    graft.operators.LangId.predict(documents(s, d), "doc_id", "text")
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n"), round(avg(col("score")), 4).as("avg_score"))
      .orderBy(col("pred_lang"))

  /** Embedding-cosine near-dup, scale path: hyperplane-LSH bucket-collision
    * candidates (symmetric (table,bucket) hash self-join — no cross product
    * anywhere in the plan) + exact dot rescore on candidates only. The
    * ORACLE is the exact all-pairs form on the same sample, so the gate
    * enforces observed 100% recall of the LSH parameters (2 bits × 32
    * tables ⇒ per-pair miss < 1e-7 at cosine 0.4) on top of score
    * exactness. [[Similarity.cosineNearDup]] (crossJoin) survives only as
    * the oracle-equivalent baseline, never in a gated plan. */
  def q30_cosine_neardup(s: SparkSession, d: String): DataFrame =
    Similarity.cosineNearDupLsh(
      embeddings(s, d).filter(col("vec_id") % 4 === 0),
      // gate parameters, NOT the operator defaults: the exhaustive-recall
      // oracle at the low 0.4 threshold needs 2-bit tables (per-pair miss
      // < 1e-7) and no cap on this bounded sample; production callers keep
      // the selective 8-bit default + cap (see cosineNearDupLsh scaladoc)
      "vec_id", "embedding", 0.4, nBits = 2, nTables = 32, maxBucket = 0)
      .orderBy(col("id_a"), col("id_b"))

  /** IVF-partitioned ANN gated by planted-duplicate self-retrieval (same
    * construction as q24, disjoint query set): an identical vector is
    * assigned to the same cell as its twin by the deterministic coarse
    * quantizer, so the first probed cell always contains it and rank 1
    * must match the brute-force oracle exactly. */
  def q32_ann_ivf(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val planted = emb.filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.annIvf(planted, emb, "vec_id", "embedding", 1)
      .orderBy(col("query_id"))
  }

  /** As-of join (sort-merge AsOfJoinExec, see operators.AsOfJoin): each
    * event gets the latest order of the same key at-or-before its
    * timestamp. */
  def q31_asof_join(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_id"), col("user_id"), col("ts"))
    val o = orders(s, d)
    graft.operators.AsOfJoin.asOf(
      e, o,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTs = "ts", rightTs = "o_orderdate",
      rightCols = Seq("o_orderkey", "o_orderdate"),
      rightTiebreak = Seq("o_orderkey"))
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("last_orderkey"),
        col("o_orderdate").as("last_orderdate"))
      .orderBy(col("event_id"))
  }

  /** Window-function family: per-customer running revenue + previous order
    * price (lag). Deterministic frame: the sort key (o_orderdate,
    * o_orderkey) is unique, so RANGE and ROWS frames agree across engines. */
  def q33_running_total(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(s, d)
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_total"),
        round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Grouping sets via ROLLUP: subtotals per status, per (status, priority),
    * and grand total. NULL-indicator subtotal rows ordered NULLS FIRST
    * explicitly on both engines (their defaults differ). */
  def q34_rollup(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** Top-3 terms per source: explode + groupBy + deterministic per-group
    * top-k — the term-frequency profile op of a text pipeline. */
  /** Top-3 terms per source via the bounded TopKTermsAggregator — `source`
    * has ~5 values, so a window partitioned by it would funnel each
    * source's ENTIRE term list through one task at corpus scale; the
    * aggregator keeps O(k) map-side state instead and shuffles k rows per
    * group. Same (cnt desc, word asc) order as the window formulation. */
  def q35_top_terms(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(graft.functions.TopK.topTerms(3)(col("word"), col("cnt")).as("tk"))
      .select(col("source"), explode(col("tk")).as("ts"))
      .select(col("source"), col("ts._1").as("word"), col("ts._2").as("cnt"))
      .orderBy(col("source"), col("word"))

  /** Numeric histogram: fixed-width binning of order totals. */
  def q36_histogram(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(floor(col("o_totalprice") / 25000.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))
      .orderBy(col("bin"))

  /** Exact interpolated percentiles per group (Spark `percentile` and
    * DuckDB `quantile_cont` share the linear-interpolation definition). */
  def q37_percentiles(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.95)"), 2).as("p95"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))

  /** CUBE grouping sets (all subtotal combinations). */
  def q38_cube(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 4).as("avg_total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** Edit-distance (Levenshtein) near-pair extraction: candidates from the
    * banded-minhash sketch join, exact Levenshtein ONLY on candidates, keep
    * pairs with normalized edit similarity >= 0.75. No all-pairs join
    * exists in the gated plan — the ORACLE computes the brute-force
    * all-pairs form on the same sample, so the gate enforces that the
    * candidate stage missed nothing (qualifying pairs here sit at word
    * 3-shingle Jaccard ≈ 0.97, where a 16-band × 4-row minhash collision
    * is a near-certainty: miss ≈ (1-0.97⁴)¹⁶ < 1e-14) as well as exact
    * distances. Levenshtein is O(len²) per pair — precisely why it must
    * never run on more than the candidate set at corpus scale. */
  def q39_edit_distance(s: SparkSession, d: String): DataFrame = {
    val sample = documents(s, d).filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
    val cand = Similarity.minhashNearDup(sample, "doc_id", "text",
      threshold = 0.5, k = 3, maxBucket = 0).select("id_a", "id_b")
    val ta = sample.select(col("doc_id").as("id_a"), col("text").as("text_a"))
    val tb = sample.select(col("doc_id").as("id_b"), col("text").as("text_b"))
    cand.join(ta, "id_a").join(tb, "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("text_a"), col("text_b")).cast("long").as("edit_dist"),
        round(lit(1.0) - levenshtein(col("text_a"), col("text_b")).cast("double") /
          greatest(length(col("text_a")), length(col("text_b"))).cast("double"), 4)
          .as("edit_sim"))
      .filter(col("edit_sim") >= 0.75)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Deterministic stratified sampling — the data-mixing op of a training
    * pipeline: per-language keep-rates applied via a reproducible key-hash
    * predicate (no RNG state; same rows survive on every run/cluster).
    * Rates here: en/zh 80%, es/de 50%, fr 20% of each stratum. */
  def q40_stratified_sample(s: SparkSession, d: String): DataFrame = {
    val rate = when(col("lang").isin("en", "zh"), 8)
      .when(col("lang").isin("es", "de"), 5)
      .otherwise(2)
    documents(s, d)
      .filter(pmod(col("doc_id"), lit(10)) < rate)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("sampled_docs"),
        sum(col("n_chars")).cast("long").as("sampled_chars"))
      .orderBy(col("lang"))
  }

  /** Winnowing-fingerprint near-dup candidates verified by exact
    * char-16-gram Jaccard (k = 16 matches the fingerprint gram size). The
    * oracle computes the exact metric over all pairs via a gram-collision
    * join, so the gate proves the winnowed fingerprints missed no J >= 0.3
    * pair and each emitted score is exact. (The rolling hash + windowed-min
    * selection is not ANSI-SQL-expressible; the containment formulation
    * is.) minShared = 4 measured with 0 misses and margin at sf0.01. */
  def q41_winnow_neardup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val cand = Similarity.winnowNearDup(docs, "doc_id", "text",
      k = 16, w = 8, minShared = 4, maxBucket = 0) // cap disabled in the gated query (see q20 note)
    Similarity.scoreCandidatesJaccard(cand, docs, "doc_id",
        // native rolling-hash gram sets (graft.plans.CharGramHashes, CHAR
        // windows — the oracle's substr slides over characters, and byte
        // windows would shift set sizes on non-ASCII text): Jaccard-
        // identical to the distinct 16-char substrings w.h.p., without
        // materializing len(text) substrings per doc
        sub => sub.select(col("doc_id"),
          call_function("char_gram_hashes",
            Text.normalize(col("text")), lit(16), lit(true), lit(true)).as("g")))
      .filter(col("jaccard") >= 0.3)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** PII scrub gate (functions.Pii): emails/phones are PLANTED
    * deterministically into the synthetic corpus (which contains neither —
    * measured zero '@' and zero digit-hyphen runs), so detection counts,
    * the redaction fingerprint, and the recall-biased phone pattern's
    * false-positive envelope are all pinned by the oracle, which replays
    * the identical planting + RE2-safe patterns in DuckDB. */
  def q48_pii(s: SparkSession, d: String): DataFrame = {
    val idStr = col("doc_id").cast("string")
    val planted = documents(s, d).select(col("doc_id"), col("source"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact user"), idStr, lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(lit(" call 555-"), lpad(idStr, 4, "0"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(13)) === 0,
          concat(lit(" fax +1-415-"), lpad(idStr, 3, "0"), lit("-"),
            lpad(idStr, 4, "0"))).otherwise(lit(""))).as("text"))
    planted
      .select(col("source"),
        Pii.emailCount(col("text")).as("ec"),
        Pii.phoneCount(col("text")).as("pc"),
        Pii.redact(col("text")).as("red"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ec") + col("pc") > 0, 1).otherwise(0)).cast("long").as("docs_with_pii"),
        sum(col("ec")).cast("long").as("emails"),
        sum(col("pc")).cast("long").as("phones"),
        sum(length(col("red"))).cast("long").as("redacted_chars"),
        min(md5(col("red"))).as("redaction_fp"))
      .orderBy(col("source"))
  }

  /** Benchmark-decontamination gate (operators.Decontaminate): the eval
    * fixture is built IN-QUERY as the 12-token substring (tokens 5..16) of
    * every 25th corpus doc, so known 8-gram overlaps exist by construction
    * — those docs (and their near-dups sharing the run) must flag. Gates
    * the per-source contaminated/clean partition; the oracle replays the
    * exact token-8-gram intersection on gram STRINGS (set-equivalent to
    * the broadcast hashed-gram semi join w.h.p., same equivalence as
    * q20's oracle). */
  def q49_decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val evalDocs = documents(s, d)
      .filter(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(Text.tokens(col("text")), 5, 12), " ").as("text"))
    val cont = Decontaminate.contaminated(docs, evalDocs, "doc_id", "text", n = 8)
      .groupBy(col("source")).agg(count(lit(1)).as("hits"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(cont, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("hits"), lit(0L)).cast("long").as("contaminated"),
        (col("n_docs") - coalesce(col("hits"), lit(0L))).cast("long").as("clean"))
      .orderBy(col("source"))
  }

  /** Range-join gate (operators.RangeJoin): per-order promotional windows
    * [o_orderdate, +1..7 days) derived from every 100th order, matched
    * against ALL order dates as points through the banded equi join; the
    * oracle runs the plain inequality join. The plan-shape assertion (hash
    * join on _rj_bucket, no BroadcastNestedLoop) lives in RangeJoinSpec.
    * Midnight-stamped points sit exactly on bucket boundaries, so the
    * inclusive-start/exclusive-end edges are load-bearing here. */
  def q50_range_join(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val iv = o.filter(pmod(col("o_orderkey"), lit(100)) === 0)
      .select(col("o_orderkey").as("iv_id"), col("o_orderdate").as("iv_start"),
        expr("timestampadd(DAY, CAST(CAST(o_orderkey / 100 AS BIGINT) % 7 + 1 AS INT), o_orderdate)")
          .as("iv_end"))
    val pts = o.select(col("o_orderkey").as("pt_id"),
      col("o_orderdate").as("pt_ts"), col("o_totalprice"))
    RangeJoin.pointInInterval(pts, "pt_ts", iv, "iv_start", "iv_end")
      .groupBy(col("iv_id"))
      .agg(count(lit(1)).as("n_points"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("iv_id"))
  }

  /** Context-window chunking gate (functions.Text.chunkTokensOf): every
    * doc cut into 64-token windows advancing by 32 (50% overlap). Gates
    * chunk counts and the summed per-chunk token count per source — the
    * overlap arithmetic (every token in ≥1 chunk, no empty chunk) is what
    * the totals pin; the per-doc invariants are property-tested in
    * TextSpec. Token arrays are pre-aliased attributes before every HOF
    * (the O(len²) re-evaluation trap — see chunkTokensOf's scaladoc). */
  def q51_chunk_tokens(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), Text.tokens(col("text")).as("w"))
      .select(col("source"), Text.chunkTokensOf(col("w"), size = 64, stride = 32).as("chunks"))
      .select(col("source"), size(col("chunks")).as("n_chunks"),
        aggregate(transform(col("chunks"), c => size(split(c, " "))),
          lit(0L), (acc, x) => acc + x.cast("long")).as("chunk_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chunks")).cast("long").as("total_chunks"),
        max(col("n_chunks")).cast("long").as("max_chunks"),
        sum(col("chunk_toks")).cast("long").as("chunk_tokens"))
      .orderBy(col("source"))

  /** Media-header decode gate: planted JPEG/WAV/non-container byte
    * literals run through the REAL plans.MediaHeader parser (marker walk /
    * RIFF chunk walk); the oracle pins the expected header fields as
    * literals — the payloads are constants, so their correct decode is a
    * known constant (same gate style as q43's literal-TRUE tolerance).
    * JPEG: 8×6 SOF0 baseline frame. WAV: PCM, 2 ch, 8 kHz, block align 4,
    * 16-byte data chunk ⇒ 4 sample frames. "Hello" must fall through to
    * octet-stream with zeroed fields, not fail the scan. */
  def q52_media_header(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val jpegHex = "ffd8" + "ffc00011" + "08" + "0006" + "0008" + "03" +
      "010011" + "020011" + "030011" + "ffd9"
    val wavHex = "52494646" + "34000000" + "57415645" +
      "666d7420" + "10000000" + "0100" + "0200" + "401f0000" + "007d0000" +
      "0400" + "1000" + "64617461" + "10000000" + ("00" * 16)
    val txtHex = "48656c6c6f"
    Seq((1L, jpegHex), (2L, wavHex), (3L, txtHex)).toDF("media_id", "hex")
      .select(col("media_id"), Multimodal.decodeMeta(unhex(col("hex"))).as("m"))
      .select(col("media_id"), col("m.mime").as("mime"),
        col("m.width").as("width"), col("m.height").as("height"),
        col("m.n_frames").as("n_frames"),
        col("m.sample_rate").as("sample_rate"), col("m.channels").as("channels"))
      .orderBy(col("media_id"))
  }

  /** Monitoring alert probes (operators.Monitoring, ref
    * monitoring-guide.md:43-53): per-day run stats derived from the event
    * stream (records = rows, violations = 'error' events, exec metric =
    * the day's summed value as a duration proxy), evaluated against
    * trailing-window baselines. Thresholds are tightened vs the
    * reference's defaults (25%/50%/5%) so this uniform synthetic feed
    * exercises BOTH polarities of every alert; the operator's defaults
    * remain the reference's. */
  def q53_monitoring_alerts(s: SparkSession, d: String): DataFrame = {
    val runs = events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("records"),
        count(when(col("event_type") === "error", 1)).as("violations"),
        round(sum(col("value")), 2).as("exec_sec"))
    Monitoring.alerts(runs, "day", "exec_sec", "records", "violations",
        execOverFrac = 0.05, recordUnderFrac = 0.97, integrityFrac = 0.20)
      .orderBy(col("day"))
  }

  /** Repetition-based quality filter (functions.Text.repetitionRatio +
    * bigramRepetitionRatioOf): the boilerplate/copy-paste gate of corpus
    * prep — unigram repetition catches word-level loops, the bigram ratio
    * catches repeated PHRASES the unigram ratio misses. Both ratios are
    * computed in the scan projection off one pre-aliased token array (the
    * O(len²) HOF trap the bigram function's scaladoc documents); the
    * thresholds (bigram ≤ 0.05, unigram ≤ 0.55) split this corpus
    * mid-distribution so the gate exercises both keep and drop paths. */
  def q54_repetition_filter(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), Text.tokens(col("text")).as("w"))
      .select(col("source"), Text.repetitionRatioOf(col("w")).as("ur"),
        Text.bigramRepetitionRatioOf(col("w")).as("br"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("ur")), 4).as("avg_unigram_rep"),
        round(avg(col("br")), 4).as("avg_bigram_rep"),
        round(max(col("br")), 4).as("max_bigram_rep"),
        sum(when(col("br") <= 0.05 && col("ur") <= 0.55, 1).otherwise(0))
          .cast("long").as("kept_docs"))
      .orderBy(col("source"))

  /** Gap-based sessionization, batch form (streaming.Sessionize
    * .batchSessions): the ANSI-expressible analog of the
    * flatMapGroupsWithState streaming sessionizer, gated end-to-end — lag
    * flags 24 h gaps, a running sum numbers sessions, one aggregate per
    * (user, session). The oracle replays the identical window program. */
  def q55_sessionize(s: SparkSession, d: String): DataFrame =
    graft.streaming.Sessionize.batchSessions(
      events(s, d).filter(col("user_id") < 100)
        .select(col("user_id"), col("ts"), col("value")),
      "user_id", "ts", "value", gap = "24 hours")
      .orderBy(col("user_id"), col("session_start"))

  /** BPE-style merge-pair statistics — the per-round statistic a byte-pair
    * tokenizer trainer computes: counts of ADJACENT CHARACTER pairs inside
    * words, global top-10 (TakeOrderedAndProject, no full sort). The
    * inner transform runs over a post-explode word ATTRIBUTE, so the
    * per-pair substring never re-evaluates the source row (HOF trap). */
  def q56_bpe_pairs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(Text.tokens(col("text"))).as("x"))
      .filter(length(col("x")) >= 2)
      .select(explode(
        expr("transform(sequence(1, char_length(x) - 1), i -> substring(x, i, 2))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(10)

  /** Unigram-LM quality scoring (the simplified shape of CCNet-style LM
    * filtering): token frequencies trained over the corpus itself, each
    * doc scored by its mean log10 token probability, sources summarized
    * with a keep count at a mid-distribution threshold. Two passes over
    * the corpus by design — train then score, the standard shape. The
    * token→logp join is a plain shuffle join: a web corpus's distinct
    * vocabulary grows with corpus size (Heaps' law — billions of rows at
    * 100 TB), so it must NOT be broadcast-hinted; AQE still downgrades to
    * broadcast at runtime when the trained table is actually small (as
    * here). Only the single-row grand total broadcasts unconditionally. */
  def q57_lm_quality(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(col("doc_id"), col("source"),
      explode(Text.tokens(col("text"))).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = freq.agg(sum(col("c")).as("s"))
    val logp = freq.crossJoin(broadcast(total))
      .select(col("tok"), log10(col("c").cast("double") / col("s").cast("double")).as("lp"))
    val perDoc = toks.join(logp, Seq("tok"))
      .groupBy(col("doc_id"), col("source"))
      .agg(round(avg(col("lp")), 4).as("doc_lp"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("doc_lp")), 4).as("avg_doc_lp"),
        round(min(col("doc_lp")), 4).as("min_doc_lp"),
        sum(when(col("doc_lp") >= -1.477, 1).otherwise(0)).cast("long").as("kept_docs"))
      .orderBy(col("source"))
  }

  /** Two-phase salted aggregation gate (operators.Skew.saltedAgg): the
    * hot-key mitigation must be RESULT-IDENTICAL to the direct groupBy for
    * algebraic aggregates — which is exactly what the oracle (a plain
    * GROUP BY) enforces. l_returnflag has 3 values over all of lineitem:
    * precisely the funnel-one-key-into-one-task shape salting exists for. */
  def q58_salted_agg(s: SparkSession, d: String): DataFrame =
    Skew.saltedAgg(
      lineitem(s, d).select(col("l_returnflag"), col("l_quantity")),
      "l_returnflag", salt = 16,
      partials = Seq((sum(col("l_quantity")), "p_qty"), (count(lit(1)), "p_n")),
      finals = Seq(
        (round(sum(col("p_qty")), 2), "sum_qty"),
        (sum(col("p_n")).cast("long"), "n_rows")))
      .orderBy(col("l_returnflag"))

  /** Salted equi-join gate (operators.Skew.saltedJoin): big side salted,
    * small side replicated salt×, join on (key, salt) — result must equal
    * the plain inner join, which the oracle runs. */
  def q59_salted_join(s: SparkSession, d: String): DataFrame = {
    val big = lineitem(s, d).select(col("l_suppkey").as("suppkey"), col("l_quantity"))
    val small = supplier(s, d).select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    Skew.saltedJoin(big, small, "suppkey", salt = 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("s_nationkey"))
  }

  /** Frame-sampling gate (operators.Multimodal.sampleFrames): evenly
    * spaced frame indices, at most maxFrames per media row, ceil stride
    * (floor would emit up to 2×maxFrames-1). Metadata is synthesized from
    * orders so the oracle can replay the exact stride arithmetic with
    * generate_series; zero-frame payloads must be dropped, not exploded. */
  def q60_frame_sampling(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val meta = orders(s, d).filter(pmod(col("o_orderkey"), lit(50)) === 0)
      .select(col("o_orderkey").as("id"), lit(0L).as("byteLen"),
        lit("audio/wav").as("mime"), lit(0).as("width"), lit(0).as("height"),
        pmod(col("o_orderkey"), lit(1000)).cast("long").as("nFrames"),
        lit(8000).as("sampleRate"), lit(2).as("channels"))
      .as[Multimodal.MediaMeta]
    Multimodal.sampleFrames(meta, maxFrames = 10)
      .groupBy(col("id"), col("nFrames").as("n_frames"))
      .agg(count(lit(1)).as("n_sampled"), max(col("frame_idx")).as("max_idx"))
      .orderBy(col("id"))
  }

  /** Approximate-quantile tolerance gate (same formulation as q43's HLL
    * gate): the query emits the exact interpolated percentiles plus
    * booleans asserting the sketch estimates (approx_percentile, 1e4
    * accuracy) sit within 1%; the oracle asserts the same exact values and
    * literal TRUEs, so estimator drift breaks the hash. */
  def q61_approx_quantile(s: SparkSession, d: String): DataFrame =
    orders(s, d).agg(
      round(expr("percentile(o_totalprice, 0.5)"), 2).as("exact_p50"),
      round(expr("percentile(o_totalprice, 0.95)"), 2).as("exact_p95"),
      (abs(expr("approx_percentile(o_totalprice, 0.5, 10000)") -
          expr("percentile(o_totalprice, 0.5)")) /
        expr("percentile(o_totalprice, 0.5)") <= 0.01).as("p50_within_1pct"),
      (abs(expr("approx_percentile(o_totalprice, 0.95, 10000)") -
          expr("percentile(o_totalprice, 0.95)")) /
        expr("percentile(o_totalprice, 0.95)") <= 0.01).as("p95_within_1pct"))

  /** Near-dup cluster formation (Similarity.dedupClusters) — pairwise
    * matches (q20's exact-verified Jaccard ≥ 0.6 pairs) become connected
    * components; each component keeps its min-id representative. This is
    * the step that turns a pair list into an actual deduplicated corpus.
    * The oracle recomputes the same exact pair set and closes it with a
    * recursive CTE, so both the pair recall AND the component structure
    * are hash-gated. */
  def q62_dedup_clusters(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = verifiedDupPairs(s, d)
    Similarity.dedupClusters(pairs, docs.select(col("doc_id")), "doc_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") >= 2)
      .select(col("label").as("cluster_rep"), col("cluster_size"))
      .orderBy(col("cluster_rep"))
  }

  /** q62's cluster formation through [[Similarity.dedupClustersLogRounds]]
    * — the O(log n)-round large-star/small-star contraction (Kiveris et
    * al. SoCC'14) that replaces label propagation when component
    * diameter is adversarial (pathological boilerplate chains). Same
    * pair generation, same oracle: the two formulations must be
    * result-identical on the corpus, and the equivalence is additionally
    * property-tested on random graphs in SimilaritySpec. */
  def q70_dedup_clusters_ls(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = verifiedDupPairs(s, d)
    Similarity.dedupClustersLogRounds(pairs, docs.select(col("doc_id")), "doc_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") >= 2)
      .select(col("label").as("cluster_rep"), col("cluster_size"))
      .orderBy(col("cluster_rep"))
  }

  /** Column-statistics profiling (ANALYZE-style) — the stats-collection
    * pass a warehouse runs before planning and a data pipeline runs for
    * drift monitoring: per column row/null/distinct counts, min/max, and
    * an HLL-estimate tolerance bit (q43's pattern). ONE scan, ONE
    * aggregate for every column's stats together — never a pass per
    * column. Numeric and string min/max ride separate typed columns, so
    * no cross-engine numeric-to-string formatting lane is opened. */
  def q63_column_stats(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    def nulls(c: String) = sum(when(col(c).isNull, 1).otherwise(0)).cast("long")
    // Datasketches HLL (lgK=16, rsd ≈ 0.41%) instead of HLL++ at rsd
    // 0.005 — q43's codegen rationale ×3: three wide-buffer sketches
    // declared ~33k aggregation-buffer attributes in ONE HashAggregate
    // and the generated row-writer took ~50 s of driver-side compile
    // (9.6 MiB task binaries; measured 63.7 s cold in Verify, the
    // single heaviest gate of the sf0.01 sweep). The double column
    // rides through a null-preserving xxhash64 (the sketch supports
    // int/long/string/binary): distinct cardinality is preserved w.h.p.
    // — the shingle-hash contract — and only the ±2% boolean consumes
    // the estimate.
    def within2(c: String) = {
      val domain = o.schema(c).dataType match {
        case org.apache.spark.sql.types.DoubleType =>
          when(col(c).isNotNull, xxhash64(col(c)))
        case _ => col(c)
      }
      abs(hll_sketch_estimate(hll_sketch_agg(domain, lit(16))).cast("double") -
          countDistinct(col(c)).cast("double")) /
        countDistinct(col(c)).cast("double") <= 0.02
    }
    val agg = o.agg(
      count(lit(1)).as("n"),
      nulls("o_custkey").as("nn_ck"), countDistinct(col("o_custkey")).as("nd_ck"),
      within2("o_custkey").as("ok_ck"),
      round(min(col("o_custkey")), 2).as("mn_ck"), round(max(col("o_custkey")), 2).as("mx_ck"),
      nulls("o_totalprice").as("nn_tp"), countDistinct(col("o_totalprice")).as("nd_tp"),
      within2("o_totalprice").as("ok_tp"),
      round(min(col("o_totalprice")), 2).as("mn_tp"), round(max(col("o_totalprice")), 2).as("mx_tp"),
      nulls("o_orderstatus").as("nn_os"), countDistinct(col("o_orderstatus")).as("nd_os"),
      within2("o_orderstatus").as("ok_os"),
      min(col("o_orderstatus")).as("mn_os"), max(col("o_orderstatus")).as("mx_os"))
    agg.select(explode(array(
        struct(lit("o_custkey").as("column_name"), col("n").as("n_rows"),
          col("nn_ck").as("n_nulls"), col("nd_ck").as("n_distinct"),
          col("ok_ck").as("approx_within_2pct"),
          col("mn_ck").cast("double").as("min_num"), col("mx_ck").cast("double").as("max_num"),
          lit(null).cast("string").as("min_str"), lit(null).cast("string").as("max_str")),
        struct(lit("o_totalprice").as("column_name"), col("n").as("n_rows"),
          col("nn_tp").as("n_nulls"), col("nd_tp").as("n_distinct"),
          col("ok_tp").as("approx_within_2pct"),
          col("mn_tp").cast("double").as("min_num"), col("mx_tp").cast("double").as("max_num"),
          lit(null).cast("string").as("min_str"), lit(null).cast("string").as("max_str")),
        struct(lit("o_orderstatus").as("column_name"), col("n").as("n_rows"),
          col("nn_os").as("n_nulls"), col("nd_os").as("n_distinct"),
          col("ok_os").as("approx_within_2pct"),
          lit(null).cast("double").as("min_num"), lit(null).cast("double").as("max_num"),
          col("mn_os").as("min_str"), col("mx_os").as("max_str")))).as("r"))
      .select(col("r.*"))
      .orderBy(col("column_name"))
  }

  /** One bucketed-table-pair write per (catalog, sf-dir) per JVM: the
    * POINT of bucketing is pay-the-shuffle-once-at-write, joins cheap
    * forever after, so re-bucketing inside every q64 invocation would
    * make the gate's bench number measure the write, not the
    * exchange-free join it showcases (VERDICT r5). The key carries the
    * session's SharedState identity (a second SparkSession with a fresh
    * in-memory catalog must re-write — catalog metadata died with its
    * predecessor) and the source dir (a bench and a verify at different
    * SFs never share a stale table); BOTH tables are written under the
    * one compute() so concurrent invocations cannot interleave a d1
    * lineitem table with a d2 orders table. */
  /** q62 and q70 gate two CLUSTERING formulations (label propagation vs
    * log-rounds contraction) over the SAME exact-verified near-dup pair
    * set; recomputing the candidate generation + Jaccard verify inside
    * each made the suite's two heaviest gates pay identical ~2-3 s of
    * pair work twice per sweep, conflating pair-gen cost with the
    * clustering deltas the gates exist to compare (VERDICT r7 item 1b).
    * Memoized per (session SharedState identity, sf dir) — the
    * [[ensureQ64Tables]] pattern — and persisted, so within one process
    * the pairs materialize once and each gate's marginal cost is its own
    * clustering. A cached frame from a stopped/replaced session is
    * detected by session identity and recomputed. In production the
    * equivalent is writing the verified pair table once and running both
    * formulations from it — the memo IS the recommended usage, not a
    * bench trick. */
  private val dupPairsCache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def verifiedDupPairs(s: SparkSession, d: String): DataFrame = {
    val key = String.valueOf(System.identityHashCode(s.sharedState)) + "|" + d
    val cached = dupPairsCache.get(key)
    if (cached != null && (cached.sparkSession.sharedState eq s.sharedState)) cached
    else dupPairsCache.synchronized {
      val again = dupPairsCache.get(key)
      if (again != null && (again.sparkSession.sharedState eq s.sharedState)) again
      else {
        val docs = documents(s, d)
        val cand = Similarity.minhashNearDup(docs, "doc_id", "text", 0.5, maxBucket = 0)
        val pairs = Similarity.scoreCandidatesJaccard(cand, docs, "doc_id",
            sub => sub.select(col("doc_id"), Text.tokens(col("text")).as("_w"))
              .select(col("doc_id"), Similarity.shingleHashesOf(col("_w"), 3).as("g")))
          .filter(col("jaccard") >= 0.6)
          .select("id_a", "id_b")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pairs.count() // materialize inside the lock: one computation total
        dupPairsCache.put(key, pairs)
        pairs
      }
    }
  }

  private val bucketedReady = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val bucketedLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def ensureQ64Tables(s: SparkSession, d: String): Unit = {
    // map key = catalog identity, value = the dir whose data the tables
    // currently hold: switching dirs (and switching BACK) re-writes,
    // because the writes overwrite the same catalog table names. The
    // tableExists check backstops identity-hash reuse (a GC'd SharedState's
    // address can be handed to a fresh catalog that holds no tables).
    // Serialization is a per-key monitor rather than compute()'s own
    // locking because the READY mark must be REMOVED before the writes
    // start: compute() keeps the previous mapping when the remapping
    // function throws, so a write failure after q64_li committed (with
    // the NEW dir's data) would leave a mapping still naming the OLD dir
    // — a later call with that old dir would see prev==d plus both
    // tables present and silently skip the rewrite, joining mixed-dir
    // tables. With remove-first, any failure leaves NO mapping and the
    // next call rewrites both tables unconditionally.
    val key = String.valueOf(System.identityHashCode(s.sharedState))
    val lock = bucketedLocks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      if (bucketedReady.get(key) != d || !s.catalog.tableExists("q64_li") ||
          !s.catalog.tableExists("q64_o")) {
        bucketedReady.remove(key)
        Bucketing.writeBucketed(
          lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice")),
          "q64_li", "l_orderkey", 8)
        Bucketing.writeBucketed(
          orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
          "q64_o", "o_orderkey", 8)
        bucketedReady.put(key, d)
      }
    }
  }

  /** Co-located bucketed join gate (operators.Bucketing): both sides
    * written bucketed+sorted on the join key — the pay-the-shuffle-once-
    * at-write strategy for repeatedly-joined warehouse facts — then joined
    * through the catalog with no exchange on either side (plan asserted in
    * BucketingSpec). The gate hashes the RESULT against the plain-join
    * oracle: bucketed layout must change the plan, never the answer. */
  def q64_bucketed_join(s: SparkSession, d: String): DataFrame = {
    ensureQ64Tables(s, d)
    Bucketing.readTable(s, "q64_li")
      .join(Bucketing.readTable(s, "q64_o"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** FLAGSHIP composite gate: the full [[CorpusPipeline.curate]] flow —
    * language filter → quality/repetition floor → PII scrub →
    * decontamination → near-dup cluster dedup — hash-gated END TO END.
    * The oracle replays every stage's already-proven formulation (q27's
    * langid CTE, q16's quality formula, q54's bigram ratio, q48's
    * redaction, q49's gram intersection, q62's recursive closure) over
    * the identical planted input, so the COMPOSITION is verified, not
    * just the parts: stage order, column threading, and the redaction/
    * decontamination interaction all sit under the hash. */
  def q65_corpus_curation(s: SparkSession, d: String): DataFrame = {
    // deterministic half-corpus: the gate needs the COMPOSITION, not the
    // volume (CorpusPipelineSpec curates the full table); the oracle's
    // all-pairs dedup replay is quadratic, so the sample keeps both sides
    // proportionate to what they verify
    val docs = documents(s, d).filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id"),
      concat(col("text"), when(pmod(col("doc_id"), lit(10)) === 0,
        concat(lit(" mail u"), col("doc_id").cast("string"), lit("@ex.com")))
        .otherwise(lit(""))).as("text"),
      col("source"))
    val evalDocs = documents(s, d).filter(pmod(col("doc_id"), lit(40)) === 0)
      .select((col("doc_id") + 500000L).as("doc_id"),
        array_join(slice(Text.tokens(col("text")), 3, 12), " ").as("text"))
    val (curated, _) = CorpusPipeline.curate(docs, evalDocs, "doc_id", "text",
      // gate parameters: the oracle replays exact all-pairs recall, so the
      // production bucket cap is disabled here (q30/q62's documented trade)
      CorpusPipeline.Config(dedupMaxBucket = 0), report = false)
    curated.groupBy(col("source"))
      .agg(count(lit(1)).as("n_curated"),
        sum(length(col("text"))).cast("long").as("curated_chars"),
        min(md5(col("text"))).as("content_fp"))
      .orderBy(col("source"))
  }

  /** Invented boilerplate sentence for q66's planted mega-bucket: passes
    * every pre-dedup curation stage (LangId predicts 'en', quality 0.65,
    * bigram repetition 0, no PII patterns, no corpus-derived eval gram)
    * and shares NO word 3-shingle with the corpus vocabulary, so its
    * minhash band buckets contain exactly the planted copies. */
  private val q66BoilerText =
    "this standard disclosure notice accompanies every bulk export bundle " +
    "and describes retention policy review obligations for downstream " +
    "archival partners including quarterly audit summaries prepared under " +
    "the coastal registry framework with additional provenance checkpoints " +
    "documented separately"

  /** Capped PRODUCTION dedup path, end to end (VERDICT r5 next-round #1):
    * [[CorpusPipeline.curate]] under the DEFAULT Config — dedupMaxBucket
    * = 1000 ENGAGED, unlike q65/q30/q62 whose all-pairs oracles require
    * cap-disabled runs. The fixture plants a 1200-copy boilerplate
    * mega-bucket on top of the half-corpus: identical text ⇒ identical
    * signatures ⇒ every one of its 16 band buckets holds exactly the
    * 1200 copies > cap ⇒ [[Similarity.capBuckets]] MUST prune them all,
    * so the boilerplate survives curation uncollapsed (a mega-bucket
    * carries no pair signal at corpus scale — exact dedup upstream is
    * the tool for verbatim copies), while the corpus's own near-dup
    * pairs keep meeting in their selective small buckets (max possible
    * occupancy = sample size << cap) and still collapse to one
    * representative. The oracle replays the cap rule's provable
    * consequence: pair formation excludes the planted ids, everything
    * else is q65's exact replay. */
  def q66_capped_curation(s: SparkSession, d: String): DataFrame = {
    val corpus = documents(s, d).filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id"), col("text"), col("source"))
    val boiler = s.range(1200).select((col("id") + 800000L).as("doc_id"),
      lit(q66BoilerText).as("text"), lit("boilerplate").as("source"))
    val evalDocs = documents(s, d).filter(pmod(col("doc_id"), lit(40)) === 0)
      .select((col("doc_id") + 500000L).as("doc_id"),
        array_join(slice(Text.tokens(col("text")), 3, 12), " ").as("text"))
    val (curated, _) = CorpusPipeline.curate(
      corpus.unionByName(boiler), evalDocs, "doc_id", "text",
      CorpusPipeline.Config(), report = false) // DEFAULT config: cap = 1000
    curated.groupBy(col("source"))
      .agg(count(lit(1)).as("n_curated"),
        sum(length(col("text"))).cast("long").as("curated_chars"),
        min(md5(col("text"))).as("content_fp"))
      .orderBy(col("source"))
  }

  /** q67's raw-order NDJSON fixture (FIXTURES.md §A.1): two "pages"
    * covering the whole normalization matrix — duplicate order id across
    * pages (A1 first-wins), customer missing / id-less / partial (P2
    * presence guards + ""/false defaults), accepts_marketing true / false
    * / absent (P4), shipping_address missing / partial (P3), discount
    * codes missing code or amount (F9), line items with missing
    * product/variant ids (F6 NULL decision) and duplicate composite keys
    * both valid (deduped) and null-keyed (bypass) (A3). Written to a
    * fixed path so the DuckDB oracle reads the SAME bytes via read_json
    * — the reference's tolerant-ingest semantics land under one hash. */
  private val q67FixtureDir = "/tmp/graft_fixture_q67"

  private val q67Page00 =
    """{"id":1001,"created_at":"2024-03-01T10:00:00+00:00","updated_at":"2024-03-02T11:30:00+00:00","processed_at":"2024-03-01T10:00:05+00:00","subtotal_price":"95.00","total_price":"103.50","total_tax":"8.50","financial_status":"paid","fulfillment_status":"fulfilled","currency":"USD","source_name":"web","customer":{"id":501,"email":"a@b.co","created_at":"2023-01-01T00:00:00+00:00","first_name":"Ada","last_name":"L","phone":"+1555","verified_email":true,"accepts_marketing":true},"line_items":[{"product_id":9001,"variant_id":8001,"name":"Widget","price":"47.50","quantity":2,"vendor":"Acme"},{"product_id":9001,"variant_id":8001,"name":"Widget dup","price":"47.50","quantity":9,"vendor":"Acme"},{"product_id":9002,"variant_id":8002,"name":"Gadget","price":"5.00","quantity":1,"vendor":"Bolt"}],"shipping_address":{"first_name":"Ada","last_name":"L","address1":"1 Main St","city":"Springfield","province":"IL","country":"US","zip":"62701"},"discount_codes":[{"code":"SAVE10","amount":"10.00"}]}
      |{"id":1002,"created_at":"2024-03-02T09:00:00+00:00","updated_at":"2024-03-02T09:05:00+00:00","processed_at":"2024-03-02T09:00:01+00:00","subtotal_price":"20.00","total_price":"20.00","total_tax":"0.00","currency":"USD","line_items":[{"name":"Mystery","price":"10.00","quantity":1,"vendor":"Acme"},{"name":"Mystery","price":"10.00","quantity":1,"vendor":"Acme"}]}
      |{"id":1003,"created_at":"2024-03-03T08:00:00+00:00","updated_at":"2024-03-03T08:30:00+00:00","processed_at":"2024-03-03T08:00:02+00:00","subtotal_price":"50.00","total_price":"55.00","total_tax":"5.00","financial_status":"pending","currency":"EUR","source_name":"pos","customer":{"id":502},"line_items":[{"product_id":9003,"variant_id":8003,"name":"Doohickey","price":"50.00","quantity":1,"vendor":"Acme"}],"shipping_address":{"first_name":"Bo","city":"Lyon","country":"FR"},"discount_codes":[{"code":"X"},{"amount":"2.50"}]}
      |{"id":1004,"created_at":"2024-03-04T12:00:00+00:00","updated_at":"2024-03-04T12:30:00+00:00","processed_at":"2024-03-04T12:00:03+00:00","subtotal_price":"10.00","total_price":"11.00","total_tax":"1.00","financial_status":"paid","fulfillment_status":"partial","currency":"USD","source_name":"web","customer":{"email":"ghost@x.io","accepts_marketing":true},"line_items":[{"product_id":9004,"variant_id":8004,"name":"Whatsit","price":"10.00","quantity":1,"vendor":"Cog"}]}
      |""".stripMargin

  private val q67Page01 =
    """{"id":1001,"created_at":"2024-03-01T10:00:00+00:00","updated_at":"2024-03-05T00:00:00+00:00","processed_at":"2024-03-01T10:00:05+00:00","subtotal_price":"999.00","total_price":"999.00","total_tax":"0.00","financial_status":"refunded","currency":"USD","source_name":"web","customer":{"id":501,"email":"changed@b.co","created_at":"2023-01-01T00:00:00+00:00","first_name":"Ada","last_name":"L","phone":"+1555","verified_email":false,"accepts_marketing":false},"line_items":[{"product_id":9009,"variant_id":8009,"name":"Late","price":"999.00","quantity":1,"vendor":"Late"}]}
      |{"id":1005,"created_at":"2024-03-05T10:00:00+00:00","updated_at":"2024-03-05T10:30:00+00:00","processed_at":"2024-03-05T10:00:05+00:00","subtotal_price":"30.00","total_price":"33.00","total_tax":"3.00","financial_status":"paid","fulfillment_status":"fulfilled","currency":"GBP","source_name":"api","customer":{"id":503,"email":"c@d.eu","created_at":"2023-06-01T12:00:00+00:00","first_name":"Cy","last_name":"D","phone":"","verified_email":false,"accepts_marketing":false},"line_items":[{"product_id":9005,"name":"NoVariant","price":"30.00","quantity":1,"vendor":"Acme"},{"product_id":9005,"name":"NoVariant","price":"30.00","quantity":2,"vendor":"Acme"}],"shipping_address":{"first_name":"Cy","last_name":"D","address1":"2 High St","city":"Leeds","province":"","country":"GB","zip":"LS1"},"discount_codes":[]}
      |{"id":1006,"created_at":"2024-03-06T10:00:00+00:00","updated_at":"2024-03-06T10:30:00+00:00","processed_at":"2024-03-06T10:00:05+00:00","subtotal_price":"0.00","total_price":"0.00","total_tax":"0.00","financial_status":"paid","fulfillment_status":"fulfilled","currency":"USD","source_name":"web","customer":{"id":504,"email":"e@f.gh","created_at":"2023-07-01T00:00:00+00:00","first_name":"Evi","last_name":"F","phone":"+4477","verified_email":true,"accepts_marketing":true},"line_items":[],"shipping_address":{"first_name":"Evi","last_name":"F","address1":"3 Low Rd","city":"Hull","province":"","country":"GB","zip":"HU1"}}
      |{"id":1007,"created_at":"2024-03-07T10:00:00+00:00","updated_at":"2024-03-07T10:30:00+00:00","processed_at":"2024-03-07T10:00:05+00:00","subtotal_price":"60.00","total_price":"60.00","total_tax":"0.00","financial_status":"paid","fulfillment_status":"","currency":"USD","source_name":"web","line_items":[{"product_id":9007,"variant_id":8007,"name":"First","price":"60.00","quantity":1,"vendor":"Acme"},{"product_id":9007,"variant_id":8007,"name":"Second","price":"60.00","quantity":5,"vendor":"Acme"}]}
      |""".stripMargin

  /** Canonical cross-engine cell forms shared by the fixture gates
    * (q67/q69): money as integer cents, timestamps as formatted text
    * (q42's representation lesson). The DuckDB oracles mirror these
    * expressions exactly — one shared definition per form, so a future
    * change cannot drift between gates. */
  private def centsOf(c: org.apache.spark.sql.Column) =
    round(c * 100, 0).cast("long").cast("string")
  private def fmtTs(c: org.apache.spark.sql.Column) =
    coalesce(date_format(c, "yyyy-MM-dd HH:mm:ss"), lit("NULL"))

  private def q67WriteFixture(): Unit = {
    // clean slate: Spark reads the whole directory while the oracle globs
    // '*.ndjson' — a stale file (older fixture revision, other tooling)
    // would make the two engines read different row sets
    val dir = new java.io.File(q67FixtureDir)
    if (dir.exists) dir.listFiles().foreach(_.delete())
    java.nio.file.Files.createDirectories(dir.toPath)
    java.nio.file.Files.writeString(dir.toPath.resolve("page_00.ndjson"), q67Page00)
    java.nio.file.Files.writeString(dir.toPath.resolve("page_01.ndjson"), q67Page01)
  }

  /** Flatten/normalization matrix gate (VERDICT r5 next-round #2): raw
    * nested order NDJSON → A1 first-wins across pages →
    * [[graft.operators.Flatten]].customers / shippingAddresses /
    * marketingConsent / discountCodes / lineItemsOrdered →
    * [[graft.operators.Dedup.compositeKeyDedup]] — one tall
    * (entity, key, row-fingerprint) frame, so every presence guard,
    * ""/false/0 default, NULL-id decision, and null-bypass dedup row
    * sits under the oracle hash. Money crosses as integer cents and
    * timestamps as formatted strings: both engines then hash identical
    * canonical text (q42's representation lesson). */
  def q67_flatten_matrix(s: SparkSession, d: String): DataFrame = {
    q67WriteFixture()
    val raw = graft.sources.PagedNdjsonSource.read(s, q67FixtureDir, Schemas.rawOrder)
    val fw = Dedup.firstWins(raw, Seq("id"), "_arrival_order")
    val cust = Flatten.customers(fw).select(lit("customers").as("entity"),
      col("customer_id").as("k"),
      md5(concat(col("email"), lit("|"), fmtTs(col("created_at")),
        lit("|"), col("first_name"), lit("|"), col("last_name"), lit("|"),
        col("phone"), lit("|"),
        col("verified_email").cast("int").cast("string"))).as("fp"))
    val cons = Flatten.marketingConsent(fw).select(lit("marketing_consent").as("entity"),
      col("customer_id").as("k"),
      md5(concat(col("email_consent"), lit("|"), col("sms_consent"))).as("fp"))
    val ship = Flatten.shippingAddresses(fw).select(lit("shipping_addresses").as("entity"),
      col("order_id").as("k"),
      md5(concat(col("first_name"), lit("|"), col("last_name"), lit("|"),
        col("address1"), lit("|"), col("city"), lit("|"), col("province"),
        lit("|"), col("country"), lit("|"), col("zip"))).as("fp"))
    val disc = Flatten.discountCodes(fw).select(lit("discount_codes").as("entity"),
      col("order_id").as("k"),
      md5(concat(col("code"), lit("|"), centsOf(col("amount")))).as("fp"))
    val li = Dedup.compositeKeyDedup(Flatten.lineItemsOrdered(fw),
        Seq("order_id", "product_id", "variant_id"), "__pos")
      .select(lit("line_items").as("entity"), col("order_id").as("k"),
        md5(concat(coalesce(col("product_id"), lit("NULL")), lit("|"),
          coalesce(col("variant_id"), lit("NULL")), lit("|"),
          col("product_name"), lit("|"), centsOf(col("price")), lit("|"),
          col("quantity").cast("string"), lit("|"), col("vendor"))).as("fp"))
    cust.unionByName(cons).unionByName(ship).unionByName(disc).unionByName(li)
      .orderBy(col("entity"), col("k"), col("fp"))
  }

  /** NDJSON stage/load roundtrip gate (VERDICT r5 next-round #8, S6/S7/
    * U1/U2): a deterministic orders slice (plus an UNDECLARED extra
    * field) is exported as chunked NDJSON ([[graft.sources.Sinks
    * .writeNdjsonChunks]]), two syntactically-malformed lines are
    * planted, and the directory is reloaded with the declared schema via
    * [[graft.sources.Sinks.loadNdjsonToStaging]] (PERMISSIVE: the junk
    * lines land as all-null rows — the auditable-not-fatal tolerance the
    * reference gets from ignore_unknown_values, shopify_etl.py:134).
    * The gate hashes per-status aggregates of the reloaded staging table
    * (the corrupt rows form their own '__corrupt' group) plus the
    * dead-letter reader's split counts; DuckDB replays by reading the
    * same staged bytes with read_json(ignore_errors), whose failed lines
    * null out identically. Only SYNTACTICALLY broken lines are planted:
    * on a type-mismatched field Spark's PERMISSIVE nulls the whole
    * record while DuckDB nulls just the field — a real cross-engine
    * tolerance divergence this gate deliberately keeps out of the hash. */
  def q68_ndjson_roundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val base = "/tmp/graft_fixture_q68"
    val pages = s"$base/pages"
    val staging = s"$base/staging"
    // clean slate: the load is an APPEND (U1) — without it, re-runs of the
    // gate would accumulate batches and the hash would drift
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val slice = orders(s, d).filter(pmod(col("o_orderkey"), lit(50)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        lit("undeclared").as("extra_field"))
    graft.sources.Sinks.writeNdjsonChunks(slice.repartition(1), pages, chunkSize = 100)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(pages, "zz_malformed.ndjson"),
      "this line is not json\n{{{ also not json }}}\n")
    val declared = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType)))
    graft.sources.Sinks.loadNdjsonToStaging(s, pages, declared, staging)
    val perStatus = s.read.parquet(staging)
      .groupBy(coalesce(col("o_orderstatus"), lit("__corrupt")).as("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice")) * 100, 0).cast("long").as("sum_cents"),
        countDistinct(col("o_orderkey")).as("n_keys"))
    // the dead-letter reader must split the same directory identically:
    // good rows = typed, dead rows = the planted junk (quarantined, not
    // silently vanished) — pinned as two more groups under the same hash.
    // Counting both sides pays the shared lazy parse twice (the cost
    // readWithDeadLetter's scaladoc warns bulk callers about) — accepted
    // here: the fixture is bounded and the gate wants the reader's OWN
    // split, not a re-derivation of it.
    val (good, dead) =
      graft.sources.PagedNdjsonSource.readWithDeadLetter(s, pages, declared)
    val split = toSplitDf(s, Seq(
      ("__dead_letter_rows", dead.count()),
      ("__good_rows", good.count())))
    perStatus.unionByName(split).orderBy(col("o_orderstatus"))
  }

  /** (label, n, nullable cents, keys) rows → a frame shaped like q68's
    * per-status aggregate, for the split-count union. */
  private def toSplitDf(s: SparkSession, rows: Seq[(String, Long)]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderstatus",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sum_cents",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("n_keys",
        org.apache.spark.sql.types.LongType, nullable = false)))
    s.createDataFrame(java.util.List.of(rows.map { case (k, n) =>
      org.apache.spark.sql.Row(k, n, null, 0L)
    }: _*), schema)
  }

  /** q69's two-round fixture: round A (two pages, with a cross-page
    * duplicate the in-round first-wins must drop) establishes the
    * warehouse; round B updates order 2001 (new totals, changed customer
    * email, flipped consent, an updated and an added line item, changed
    * shipping, a second discount code) and inserts order 2004 — so the
    * final tables exercise MERGE's update-matched, insert-unmatched, and
    * never-delete semantics per key family. */
  private val q69RoundA0 =
    """{"id":2001,"created_at":"2024-04-01T10:00:00+00:00","updated_at":"2024-04-01T10:30:00+00:00","processed_at":"2024-04-01T10:00:05+00:00","subtotal_price":"95.00","total_price":"103.50","total_tax":"8.50","financial_status":"paid","fulfillment_status":"fulfilled","currency":"USD","source_name":"web","customer":{"id":601,"email":"a@one.co","created_at":"2023-01-01T00:00:00+00:00","first_name":"Ann","last_name":"One","phone":"+1","verified_email":true,"accepts_marketing":true},"line_items":[{"product_id":9001,"variant_id":8001,"name":"Widget","price":"47.50","quantity":2,"vendor":"Acme"},{"product_id":9002,"variant_id":8002,"name":"Gadget","price":"5.00","quantity":1,"vendor":"Bolt"}],"shipping_address":{"first_name":"Ann","last_name":"One","address1":"1 Main St","city":"Springfield","province":"IL","country":"US","zip":"62701"},"discount_codes":[{"code":"SAVE10","amount":"10.00"}]}
      |{"id":2002,"created_at":"2024-04-01T11:00:00+00:00","updated_at":"2024-04-01T11:30:00+00:00","processed_at":"2024-04-01T11:00:05+00:00","subtotal_price":"20.00","total_price":"20.00","total_tax":"0.00","currency":"USD","line_items":[{"product_id":9003,"variant_id":8003,"name":"Thing","price":"20.00","quantity":1,"vendor":"Cog"}]}
      |""".stripMargin
  private val q69RoundA1 =
    """{"id":2001,"created_at":"2024-04-01T10:00:00+00:00","updated_at":"2024-04-01T10:45:00+00:00","processed_at":"2024-04-01T10:00:05+00:00","subtotal_price":"777.00","total_price":"777.00","total_tax":"0.00","financial_status":"decoy","currency":"USD","source_name":"web","customer":{"id":601,"email":"decoy@one.co","created_at":"2023-01-01T00:00:00+00:00","first_name":"Ann","last_name":"One","phone":"+1","verified_email":true,"accepts_marketing":true},"line_items":[{"product_id":9099,"variant_id":8099,"name":"Decoy","price":"777.00","quantity":1,"vendor":"Decoy"}]}
      |{"id":2003,"created_at":"2024-04-01T12:00:00+00:00","updated_at":"2024-04-01T12:30:00+00:00","processed_at":"2024-04-01T12:00:05+00:00","subtotal_price":"40.00","total_price":"44.00","total_tax":"4.00","financial_status":"pending","fulfillment_status":"","currency":"EUR","source_name":"pos","customer":{"id":602,"email":"b@two.eu","created_at":"2023-02-01T00:00:00+00:00","first_name":"Bea","last_name":"Two","phone":"+33","verified_email":false,"accepts_marketing":false},"line_items":[{"product_id":9004,"variant_id":8004,"name":"Other","price":"40.00","quantity":1,"vendor":"Acme"}],"shipping_address":{"first_name":"Bea","last_name":"Two","address1":"2 Rue","city":"Lyon","province":"","country":"FR","zip":"69001"}}
      |""".stripMargin
  private val q69RoundB0 =
    """{"id":2001,"created_at":"2024-04-01T10:00:00+00:00","updated_at":"2024-04-02T09:00:00+00:00","processed_at":"2024-04-01T10:00:05+00:00","subtotal_price":"110.00","total_price":"120.00","total_tax":"10.00","financial_status":"paid","fulfillment_status":"shipped","currency":"USD","source_name":"web","customer":{"id":601,"email":"b@one.co","created_at":"2023-01-01T00:00:00+00:00","first_name":"Ann","last_name":"One","phone":"+1","verified_email":true,"accepts_marketing":false},"line_items":[{"product_id":9001,"variant_id":8001,"name":"Widget","price":"47.50","quantity":5,"vendor":"Acme"},{"product_id":9010,"variant_id":8010,"name":"Addon","price":"15.00","quantity":1,"vendor":"Acme"}],"shipping_address":{"first_name":"Ann","last_name":"One","address1":"9 New Ave","city":"Chicago","province":"IL","country":"US","zip":"60601"},"discount_codes":[{"code":"NEWCODE","amount":"5.00"}]}
      |{"id":2004,"created_at":"2024-04-02T08:00:00+00:00","updated_at":"2024-04-02T08:30:00+00:00","processed_at":"2024-04-02T08:00:05+00:00","subtotal_price":"60.00","total_price":"66.00","total_tax":"6.00","financial_status":"paid","fulfillment_status":"fulfilled","currency":"USD","source_name":"api","customer":{"id":603,"email":"c@three.io","created_at":"2023-03-01T00:00:00+00:00","first_name":"Cal","last_name":"Three","phone":"+44","verified_email":true,"accepts_marketing":true},"line_items":[{"product_id":9005,"variant_id":8005,"name":"Late","price":"60.00","quantity":1,"vendor":"Bolt"}],"shipping_address":{"first_name":"Cal","last_name":"Three","address1":"3 Way","city":"Leeds","province":"","country":"GB","zip":"LS2"}}
      |""".stripMargin

  /** End-to-end incremental lifecycle gate (VERDICT r5 next-round #6,
    * T1-T6 + §3.1): [[graft.streaming.Incremental.runBatchTwin]] runs the
    * stream's exact per-round body — arrival-ordered page read, in-round
    * first-wins dedup, flatten, keyed MERGE upsert per table — over two
    * sync rounds into a fresh warehouse, and the gate hashes every row
    * of all six FINAL tables (the lifecycle's real output, read back
    * from the store's parquet). IncrementalSpec proves the streaming
    * query writes the identical warehouse on a batches≡rounds fixture,
    * so the oracle row covers the reference's primary lifecycle. */
  def q69_incremental_lifecycle(s: SparkSession, d: String): DataFrame = {
    val base = "/tmp/graft_fixture_q69"
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    def write(rel: String, content: String): Unit = {
      val path = java.nio.file.Paths.get(base, rel)
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.writeString(path, content)
    }
    write("roundA/page_00.ndjson", q69RoundA0)
    write("roundA/page_01.ndjson", q69RoundA1)
    write("roundB/page_00.ndjson", q69RoundB0)
    graft.streaming.Incremental.runBatchTwin(
      s, Seq(s"$base/roundA", s"$base/roundB"), s"$base/warehouse")

    def t(name: String) = s.read.parquet(s"$base/warehouse/$name")
    val ords = t("orders").select(lit("orders").as("entity"),
      col("order_id").as("k"),
      md5(concat(fmtTs(col("created_at")), lit("|"), fmtTs(col("updated_at")),
        lit("|"), fmtTs(col("processed_at")), lit("|"),
        centsOf(col("subtotal_price")), lit("|"), centsOf(col("total_tax")),
        lit("|"), centsOf(col("total_price")), lit("|"),
        col("financial_status"), lit("|"), col("fulfillment_status"),
        lit("|"), col("currency"), lit("|"), col("source_name"), lit("|"),
        coalesce(col("customer_id"), lit("NULL")))).as("fp"))
    // Key segments carry an explicit NULL sentinel: bare concat_ws SKIPS
    // null columns, which both diverges from the oracle's NULL-propagating
    // `||` and collides (1, NULL, 3) with (1, 3, NULL) into one key
    // (ADVICE r6 #4). With every segment coalesced, concat_ws ≡ concat.
    def seg(c: org.apache.spark.sql.Column) =
      coalesce(c.cast("string"), lit("NULL"))
    val lis = t("line_items").select(lit("line_items").as("entity"),
      concat_ws("/", seg(col("order_id")), seg(col("product_id")),
        seg(col("variant_id"))).as("k"),
      md5(concat(col("product_name"), lit("|"), centsOf(col("price")), lit("|"),
        col("quantity").cast("string"), lit("|"), col("vendor"))).as("fp"))
    val custs = t("customers").select(lit("customers").as("entity"),
      col("customer_id").as("k"),
      md5(concat(col("email"), lit("|"), fmtTs(col("created_at")), lit("|"),
        col("first_name"), lit("|"), col("last_name"), lit("|"), col("phone"),
        lit("|"), col("verified_email").cast("int").cast("string"))).as("fp"))
    val ships = t("shipping_addresses").select(lit("shipping_addresses").as("entity"),
      col("order_id").as("k"),
      md5(concat(col("first_name"), lit("|"), col("last_name"), lit("|"),
        col("address1"), lit("|"), col("city"), lit("|"), col("province"),
        lit("|"), col("country"), lit("|"), col("zip"))).as("fp"))
    val discs = t("discount_codes").select(lit("discount_codes").as("entity"),
      concat_ws("/", seg(col("order_id")), seg(col("code"))).as("k"),
      md5(centsOf(col("amount"))).as("fp"))
    val cons = t("marketing_consent").select(lit("marketing_consent").as("entity"),
      col("customer_id").as("k"),
      md5(concat(col("email_consent"), lit("|"), col("sms_consent"))).as("fp"))
    ords.unionByName(lis).unionByName(custs).unionByName(ships)
      .unionByName(discs).unionByName(cons)
      .orderBy(col("entity"), col("k"), col("fp"))
  }

  /** CDC snapshot diff gate ([[graft.operators.SnapshotDiff]]): two
    * deterministic snapshots derived from `orders` — the "old" state drops
    * every 11th key; the "new" state drops every 13th key, reprices every
    * 5th (+10%, exact integer cents arithmetic so both engines agree bit
    * for bit) and flips every 17th status to 'R' — then one full-outer
    * diff classifies insert/update/delete and drops unchanged rows. The
    * oracle replays the same derivation with a FULL JOIN + IS DISTINCT
    * FROM. Money stays in integer cents end-to-end: `(cents * 11) div 10`
    * avoids the double-rounding lane a `price * 1.1` would open. */
  def q71_snapshot_diff(s: SparkSession, d: String): DataFrame = {
    val ords = orders(s, d)
    val baseCents = round(col("o_totalprice") * 100, 0).cast("long")
    val olds = ords.filter(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        baseCents.as("cents"))
    val news = ords.filter(col("o_orderkey") % 13 =!= 0)
      .withColumn("base_cents", baseCents)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 17 === 0, lit("R"))
          .otherwise(col("o_orderstatus")).as("status"),
        when(col("o_orderkey") % 5 === 0, expr("(base_cents * 11) div 10"))
          .otherwise(col("base_cents")).as("cents"))
    SnapshotDiff.diff(olds, news, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("change_type"),
        col("old_status"), col("new_status"),
        col("old_cents"), col("new_cents"))
      .orderBy(col("o_orderkey"))
  }

  /** SCD2 history gate ([[graft.operators.Scd2]]): each customer's order
    * status stream becomes a type-2 dimension — consecutive identical
    * statuses collapse into one validity interval, `valid_to` is the next
    * segment's start (null = current), tie-broken by order key so
    * same-day changes are reproducible. Oracle: the same lag-collapse +
    * lead-interval formulation as DuckDB window SQL. */
  def q72_scd2_history(s: SparkSession, d: String): DataFrame =
    Scd2.fromChangeLog(
      orders(s, d).select(col("o_custkey").as("cust_key"),
        col("o_orderdate"), col("o_orderkey"),
        col("o_orderstatus").as("status")),
      key = "cust_key", ts = "o_orderdate", tieBreak = "o_orderkey",
      attrs = Seq("status"))
      // is_current disambiguates same-day A,B,A alternations (two rows
      // sharing (key, valid_from, status)); valid_to breaks the remaining
      // tie where a later change re-closes one of those alternating
      // segments (both is_current=0, different valid_to). After valid_to
      // any still-tied rows are full-row duplicates, so this ORDER BY is
      // total for hashing purposes. Null valid_to implies is_current=1,
      // already ordered before valid_to compares, so engine null-ordering
      // differences never apply.
      .orderBy(col("cust_key"), col("valid_from"), col("status"),
        col("is_current"), col("valid_to"))

  /** Domain-level web filtering gate ([[graft.functions.Web]]): the
    * CCNet/RefinedWeb curation stage — URL → host → registrable domain,
    * a blocklist anti-join (the blocked frame stays a join side, not an
    * `isin` literal, so a million-domain blocklist works unchanged; AQE
    * broadcasts it while it is small), then per-domain corpus stats.
    * URLs are synthesized deterministically from (source, doc_id) since
    * the test corpus carries no URL column; both engines build the same
    * string, so the gated logic is the extraction + filter + rollup. */
  def q73_domain_stats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d).withColumn("url",
      concat(lit("https://"), col("source"), lit(".example.com/p/"),
        col("doc_id").cast("string")))
    val hosts = docs.withColumn("host", Web.urlHost(col("url")))
    val blocked = Seq("src3.example.com", "src7.example.com").toDF("host")
    hosts.join(blocked, Seq("host"), "left_anti")
      .groupBy(col("host").as("domain"),
        Web.registrableDomain(col("host")).as("registrable"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("domain"))
  }

  /** Deterministic corpus shuffle gate ([[graft.operators.CorpusShuffle]]):
    * the audit view of the md5-permutation — per-shard occupancy and key
    * boundaries, identical for any engine that can compute md5. The
    * ORDERED output path (range partition + per-partition sort, no global
    * window) is plan- and determinism-asserted in CorpusShuffleSpec;
    * hashing the full permutation ORDER cross-engine is redundant with
    * the per-shard min/max/count the oracle already pins. */
  def q74_corpus_shuffle(s: SparkSession, d: String): DataFrame =
    CorpusShuffle.shardStats(documents(s, d), "doc_id", "42")
      .orderBy(col("shard"))

  /** Duplicate n-gram span gate ([[Similarity.dupGramStats]]): per-doc
    * duplicated-8-gram counts with an EXACT integer threshold
    * (`n_dup * 5 >= n_grams` ≡ fraction ≥ 0.2 with no float boundary);
    * the reported fraction is rounded only for display. Oracle replays
    * with string grams — hashed vs string grams agree w.h.p. (q20/q22
    * precedent). */
  def q75_dup_ngram_spans(s: SparkSession, d: String): DataFrame =
    Similarity.dupGramStats(documents(s, d), "doc_id", "text", 8)
      .filter(col("n_dup") * 5 >= col("n_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams").cast("double"), 4)
          .as("dup_fraction"))
      .orderBy(col("doc_id"))

  /** Incremental-rollup maintenance gate ([[graft.operators.IncrementalAgg]]):
    * a pre-cutoff state table and a post-cutoff delta batch are each
    * reduced to mergeable partials (cnt/sum/min/max), folded at daily
    * granularity, RE-aggregated to the coarser per-type granularity from
    * partials alone, and finished — history never rescanned. The oracle
    * recomputes the same measures directly from all raw rows, so the
    * gate proves state ⊕ delta ⊕ coarsen ≡ full recompute. */
  def q76_incremental_rollup(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(to_date(col("ts")).as("day"),
      col("event_type"), col("value"))
    val cutoff = lit(java.sql.Date.valueOf("2024-01-21"))
    // null-safe split: a null ts/day row must land in exactly one side
    // (delta), or the advertised state ⊕ delta ≡ full-recompute identity
    // would silently exclude it while the oracle's full scan counts it
    val state = IncrementalAgg.partialState(
      ev.filter(col("day") < cutoff), Seq("day", "event_type"), "value")
    val delta = IncrementalAgg.partialState(
      ev.filter(col("day").isNull || col("day") >= cutoff),
      Seq("day", "event_type"), "value")
    val daily = IncrementalAgg.mergeStates(Seq("day", "event_type"), state, delta)
    IncrementalAgg.finish(
      IncrementalAgg.mergeStates(Seq("event_type"), daily), Seq("event_type"))
      .orderBy(col("event_type"))
  }

  /** Mergeable distinct-sketch gate ([[graft.operators.SketchRollup]]):
    * per-day HLL sketches of user_id, unioned to a corpus estimate. The
    * gate pins (a) the algebraic invariant est(union(daily sketches)) ≡
    * est(one-shot sketch) EXACTLY — register merge is pointwise max, so
    * the two paths are equal, not merely close — and (b) the estimate
    * within 5% of the exact count (HLL lgK=12 ⇒ ~1.6% rsd). Estimates
    * themselves are engine-specific and stay OUT of the hashed output;
    * the three single-row frames combine via bounded crossJoins
    * (single-row each — the q07/Pipeline precedent). */
  def q77_sketch_distinct(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(to_date(col("ts")).as("day"), col("user_id"))
    val merged = SketchRollup.unionEstimate(
      SketchRollup.distinctSketches(ev, Seq("day"), "user_id"))
    val oneshot = ev.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est_one"))
    val exact = ev.agg(countDistinct(col("user_id")).as("exact_distinct"))
    merged.crossJoin(oneshot).crossJoin(exact)
      .select(col("exact_distinct"), col("n_rows"),
        (col("est_distinct") === col("est_one")).as("merge_consistent"),
        (abs(col("est_distinct").cast("double") - col("exact_distinct").cast("double")) /
          col("exact_distinct").cast("double") <= 0.05).as("within_tolerance"))
  }

  /** Training-shard build COMPOSITE gate ([[graft.operators.TrainingShards]]):
    * weighted mix (q47's reproducible hash predicate) → md5 shuffle
    * placement (q74's permutation) → within-shard sequence packing in
    * shuffle order (q46's running-sum binning) → shard/pack manifest.
    * The oracle replays all four stages in one SQL program, so the
    * COMPOSITION is verified end-to-end — the q65 pattern applied to
    * the shard-build side of the pipeline. 16 shards / 256-token budget
    * are gate parameters sized to the fixture (multiple packs per shard
    * at sf0.01); production defaults are 256 shards and a real context
    * budget. */
  def q78_training_shards(s: SparkSession, d: String): DataFrame = {
    val rates = when(col("source") === "web", 75)
      .when(col("source") === "books", 50)
      .when(col("source") === "wiki", 90)
      .otherwise(25)
    TrainingShards.manifest(
      TrainingShards.plan(documents(s, d), "doc_id", "text",
        rates, seed = "77", budgetTokens = 256, shardChars = 1))
      .orderBy(col("shard"), col("pack"))
  }

  /** Deterministic fixed-quota sampling gate ([[graft.operators.QuotaSample]]):
    * exactly 10 docs per language by smallest md5(seed,id), via the
    * bounded [[graft.functions.BottomKAggregator]] (O(n) map-side state
    * per stratum). The oracle replays the row_number formulation this
    * aggregator replaces — proving the bounded path selects the
    * identical sample. */
  def q79_quota_sample(s: SparkSession, d: String): DataFrame =
    QuotaSample.perGroup(documents(s, d), "lang", "doc_id", 10, "s9")
      .orderBy(col("lang"), col("doc_id_str"))

  /** Z-order layout gate ([[graft.functions.ZOrder]]): Morton-interleave
    * of (custkey, order-day) buckets, rolled up per 2^20-wide z-range —
    * each range's min/max in BOTH dimensions lands under the hash, which
    * IS the file-pruning property z-ordering exists for (a z-range spans
    * a bounded rectangle; a lexicographic sort bounds only its leading
    * column). The oracle replays the bit-spread arithmetic — plain
    * integer ops, identical in any engine. */
  def q80_zorder_stats(s: SparkSession, d: String): DataFrame = {
    val z = orders(s, d).select(
      (col("o_custkey") % 65536).as("xa"),
      (datediff(col("o_orderdate"), lit("1990-01-01")).cast("long") % 65536).as("xb"))
      .withColumn("zv", graft.functions.ZOrder.interleave16(col("xa"), col("xb")))
    z.groupBy(expr("zv div 1048576").cast("long").as("z_bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("xa")).cast("long").as("min_cust"),
        max(col("xa")).cast("long").as("max_cust"),
        min(col("xb")).cast("long").as("min_day"),
        max(col("xb")).cast("long").as("max_day"))
      .orderBy(col("z_bucket"))
  }

  /** Mergeable binned-quantile gate ([[graft.operators.BinnedQuantiles]]):
    * the histogram state is built as TWO delta halves (even/odd keys)
    * and merged — so the gate proves both the interpolation closed form
    * AND state mergeability against an oracle that bins the whole table
    * directly. The companion to q76 for the non-distributive measure
    * (percentiles) its cnt/sum/min/max state cannot carry; q37 keeps
    * the exact-from-rows formulation. */
  def q81_binned_quantiles(s: SparkSession, d: String): DataFrame = {
    val ords = orders(s, d).select(col("o_orderstatus").as("status"),
      col("o_orderkey"), col("o_totalprice"))
    // the halves must PARTITION the table: a bare `% 2 === 0` / `=!= 0`
    // pair drops null-key rows from BOTH sides (each predicate is null),
    // so the null side is pinned into the first half explicitly
    def half(pred: org.apache.spark.sql.Column) = BinnedQuantiles.binState(
      ords.filter(pred), Seq("status"), "o_totalprice", 0.0, 6000.0, 100)
    val evenOrNull = coalesce(col("o_orderkey") % 2 === 0, lit(true))
    val state = BinnedQuantiles.merge(Seq("status"),
      half(evenOrNull), half(!evenOrNull))
    BinnedQuantiles.quantiles(state, Seq("status"),
      Seq("p50_est" -> 0.5, "p95_est" -> 0.95), 0.0, 6000.0)
      .orderBy(col("status"))
  }

  /** Per-group z-score outlier gate ([[graft.operators.Outliers]]):
    * documents whose length is > 1.5 sample-stddevs from their SOURCE's
    * mean. Threshold margin verified against the fixture (closest |z|
    * is 0.006 away — five orders of magnitude above cross-engine double
    * drift), and the reported z is rounded; the filter runs on the
    * unrounded value in both engines identically. */
  def q82_zscore_outliers(s: SparkSession, d: String): DataFrame =
    Outliers.beyond(documents(s, d), "source", "n_chars", 1.5)
      .select(col("source"), col("doc_id"), col("n_chars"),
        round(col("_z"), 4).as("z"))
      .orderBy(col("source"), col("doc_id"))

  /** Exact-substring span REMOVAL gate ([[Similarity.removeDupSpans]] —
    * the second half of Lee et al. 2022, completing q75's detect half):
    * every token position whose 8-gram occurs more than once in the
    * corpus is cut, and the gate hashes the CLEANED text, so the merged
    * intervals, the cut arithmetic and the rebuild all must agree with
    * the oracle's 1-based SQL replay bit for bit. Hashed grams vs the
    * oracle's string grams agree w.h.p. (q20/q22/q75 precedent). */
  def q83_dup_span_removal(s: SparkSession, d: String): DataFrame =
    Similarity.removeDupSpans(documents(s, d), "doc_id", "text", 8)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy(col("doc_id"))

  /** BPE merges memoized per (session, sf dir) — q84 gates the merge
    * table and q85 gates the tokenizer apply; training (8 driver-
    * coordinated rounds of vocabulary aggregates) runs once per process
    * for both, the [[verifiedDupPairs]] pattern. */
  private val bpeCache = new java.util.concurrent.ConcurrentHashMap[String, Seq[Bpe.Merge]]()
  private def bpeMerges(s: SparkSession, d: String): Seq[Bpe.Merge] = {
    val key = String.valueOf(System.identityHashCode(s.sharedState)) + "|" + d
    val cached = bpeCache.get(key)
    if (cached != null) cached
    else bpeCache.synchronized {
      val again = bpeCache.get(key)
      if (again != null) again
      else {
        val merges = Bpe.train(Bpe.wordVocab(documents(s, d), "text"), rounds = BpeRounds)
        bpeCache.put(key, merges)
        merges
      }
    }
  }

  /** BPE vocabulary-induction gate ([[graft.operators.Bpe.train]]): the
    * 8-round merge table itself — each round's argmax pair, its merged
    * symbol and its weighted occurrence count. The oracle unrolls the
    * SAME 8 rounds as generated SQL (scalar-subquery best pair + the
    * identical double-separator `replace` rewrite), so pair counting,
    * tie-breaking AND the greedy merge application all gate bit for bit.
    * The merge list is driver-side by construction (8 rows — the q62
    * convergence-loop precedent for bounded driver coordination). */
  def q84_bpe_merges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeMerges(s, d).toDF()
      .select(col("rank").as("merge_rank"), col("lft"), col("rgt"),
        col("merged"), col("cnt").as("pair_cnt"))
      .orderBy(col("merge_rank"))
  }

  /** BPE tokenizer-apply gate ([[graft.operators.Bpe.applyMerges]]): the
    * learned merges applied to the corpus as a pure expression chain (8
    * codegen'd `replace`s in the scan projection — no join against the
    * training state), rolled up per source. The oracle tokenizes by
    * joining its own trained final sequences per distinct word — a
    * DIFFERENT formulation that must agree exactly, which is what makes
    * the gate meaningful: expression-chain apply ≡ trained-state lookup
    * for every in-vocabulary word. */
  def q85_bpe_tokenize(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMerges(s, d)
    documents(s, d)
      .select(col("source"), explode(Text.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1 && !col("w").contains("|"))
      .select(col("source"), Bpe.tokenCountOf(Bpe.applyMerges(col("w"), merges)).as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("nt")).as("n_bpe_tokens"),
        round(sum(col("nt")).cast("double") / count(lit(1)), 4).as("avg_tokens_per_word"))
      .orderBy(col("source"))
  }

  /** PSL registrable-domain gate ([[Web.withRegistrableDomain]] — the
    * public-suffix-list lookup q73's naive last-two-labels variant
    * documents as its own gap): URLs are synthesized over SIX suffixes
    * including multi-label public suffixes (.co.uk, .com.au, .ac.uk,
    * .k12.ma.us) that the naive rule groups wrong, plus a truly
    * unlisted TLD (.test — NOT in the snapshot, unlike .xyz which is)
    * so the PSL default rule (`*` → last label) is oracle-gated, not
    * just unit-tested. The oracle replays the
    * longest-match lookup against the SAME snapshot rendered as VALUES
    * rows ([[Web.pslValues]] — the LangId profile precedent). */
  def q86_psl_domains(s: SparkSession, d: String): DataFrame = {
    val sufs = array(Seq("example.com", "example.co.uk", "sample.com.au",
      "demo.ac.uk", "campus.k12.ma.us", "site.test").map(lit): _*)
    val docs = documents(s, d).withColumn("url",
      concat(lit("https://"), col("source"), lit("."),
        element_at(sufs, (col("doc_id") % 6 + 1).cast("int")),
        lit("/p/"), col("doc_id").cast("string")))
    val hosts = docs.withColumn("host", Web.urlHost(col("url")))
    Web.withRegistrableDomain(hosts, "host", "registrable")
      .groupBy(col("registrable"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("registrable"))
  }

  /** Stream-maintained quantile gate ([[BinnedQuantiles.foldIntoStore]]
    * — the generalized [[IncrementalAgg]] fold protocol carrying a
    * histogram state): three day-batches fold through a REAL
    * [[graft.operators.ParquetTableStore]] (batch 1 deliberately folded
    * TWICE — the at-least-once replay the marker protocol must no-op,
    * or the doubled bin counts shift every estimate), then quantiles
    * derive from the stored state alone. The oracle recomputes the same
    * binned estimates from the full events scan — streamed-state ≡
    * batch-recompute, end to end through the store. */
  def q87_quantiles_maintained(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(to_date(col("ts")).as("day"),
      col("event_type"), col("value"))
    val c1 = lit(java.sql.Date.valueOf("2024-01-11"))
    val c2 = lit(java.sql.Date.valueOf("2024-01-21"))
    // fold construction fixture-cached per JVM (the q138 pattern):
    // deterministic folds incl. the replay; the readout runs per call
    val wh = graft.QueryFixtures.cachedDir(s"q87:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      def fold(batch: DataFrame, id: Long): Unit =
        BinnedQuantiles.foldIntoStore(store, "vq", batch, Seq("event_type"),
          "value", 0.0, 5.0, 100, id, epoch = "q87")
      fold(ev.filter(col("day") < c1), 0L)
      fold(ev.filter(col("day") >= c1 && col("day") < c2), 1L)
      fold(ev.filter(col("day") >= c1 && col("day") < c2), 1L) // replay: must no-op
      fold(ev.filter(col("day").isNull || col("day") >= c2), 2L)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    BinnedQuantiles.quantiles(
      store.read("vq").get.drop("_last_batch", "_epoch"),
      Seq("event_type"), Seq("p50_est" -> 0.5, "p95_est" -> 0.95), 0.0, 5.0)
      .orderBy(col("event_type"))
  }

  /** Stored-index IVF gate ([[graft.operators.IvfIndex]]): build the
    * index into a real [[graft.operators.ParquetTableStore]] (trained
    * centroids + cell-partitioned inverted lists + fingerprint meta),
    * then PROBE it with q32's planted-duplicate queries — rank-1
    * self-retrieval must match the brute-force oracle exactly, same as
    * q32, but with the corpus assignment paid at build time and the
    * probe touching only probed cells. */
  def q88_ann_ivf_indexed(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    // fixture-cached build (QueryFixtures: once per JVM; Verify still
    // builds cold — VERDICT r14 item 5); the attest below runs per call
    val wh = graft.QueryFixtures.cachedDir(s"q88:$d") { dir =>
      graft.operators.IvfIndex.build(new graft.operators.ParquetTableStore(s, dir),
        "ix", emb, "vec_id", "embedding")
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    graft.operators.IvfIndex.verifyFresh(store, "ix", emb, "vec_id")
    val planted = emb.filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.operators.IvfIndex.probe(store, "ix", planted, "vec_id", "embedding", 1)
      .orderBy(col("query_id"))
  }

  /** Incremental fuzzy dedup from a STORED MinHash-LSH index: the corpus
    * half (even doc_ids) is sketched once into warehouse tables; the
    * ingest batch (odd doc_ids) probes those tables — only the batch is
    * sketched at probe time. Candidates are exact-rescored per the q20
    * protocol, and the oracle computes exact 3-shingle Jaccard over ALL
    * corpus×batch pairs, so the gate proves the stored-bucket join
    * missed no J >= 0.6 cross pair AND every emitted score is exact.
    * maxBucket = 0 inside the gated variant (q20 policy). */
  def q89_incremental_neardup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val wh = graft.QueryFixtures.cachedDir(s"q89:$d") { dir =>
      graft.operators.MinHashIndex.build(
        new graft.operators.ParquetTableStore(s, dir), "ix", corpus,
        "doc_id", "text")
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    graft.operators.MinHashIndex.verifyFresh(store, "ix", corpus, "doc_id")
    val cand = graft.operators.MinHashIndex
      .probe(store, "ix", batch, "doc_id", "text", 0.5, maxBucket = 0)
      .select(col("corpus_id").as("id_a"), col("batch_id").as("id_b"))
    Similarity.scoreCandidatesJaccard(cand, docs, "doc_id",
        sub => sub.select(col("doc_id"), Text.tokens(col("text")).as("_w"))
          .select(col("doc_id"), Similarity.shingleHashesOf(col("_w"), 3).as("g")))
      .filter(col("jaccard") >= 0.6)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact heavy hitters at sketch cost: a Misra–Gries candidate pass
    * (O(capacity) state — never a vocabulary-sized shuffle) + exact count
    * of candidates only; the MG bound makes the composition exact, so the
    * oracle is plain GROUP BY + HAVING share > 1/(capacity+1). The term
    * stream is the decimal magnitude of l_partkey — the fixture's columns
    * are uniform by construction, and magnitude-of-a-uniform-key is the
    * deterministic skew (shares ≈ 0.50/0.45/0.05) that makes the gate
    * discriminating: vocab 4 > capacity 2, so MG decrements fire
    * constantly, yet exactly two terms clear the 1/3 share bar. */
  def q90_heavy_hitters(s: SparkSession, d: String): DataFrame =
    graft.operators.HeavyHitters.exact(
      lineitem(s, d).select(
        length(col("l_partkey").cast("string")).cast("string").as("term")),
      "term", capacity = 2)
      .orderBy(col("term"))

  /** SemDeDup (Abbas et al. 2023) over the embedding table ∪ planted
    * twins: coarse k-means cells bound the pair space, then the paper's
    * keep rule (drop a vector iff a better-ranked cluster-mate sits
    * within tau; rank = centroid-similarity asc, id asc — semantic
    * outliers survive). The gated variant passes DETERMINISTIC seed
    * centroids (first 8 vectors by id), so the oracle replays the whole
    * computation — assignment argmax, within-cell pairs, ranks,
    * dominance — with no recall caveat anywhere. Twins (cos = 1.0) must
    * drop in favor of their originals via the id tie-break; every other
    * verdict is replayed too, so kept rows are verified as strongly as
    * dropped ones. */
  def q91_semdedup(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val cents = Similarity.ivfSeedCentroids(emb, "vec_id", "embedding", 8)
    graft.operators.SemDeDup.verdicts(corpus, "vec_id", "embedding", cents, 0.45)
      .select(col("id"), col("cell").cast("long").as("cell"),
        col("centroid_sim"), col("dropped"))
      .orderBy(col("id"))
  }

  /** PQ-compressed ANN (Jégou et al. 2011) gated by planted-duplicate
    * retrieval: each query is a corpus vector re-labeled, whose twin's
    * codes minimize the query's own ADC lookup sums by construction —
    * the ADC shortlist must surface it, and the exact re-rank must
    * return it at rank 1 with the exact brute-force score the oracle
    * computes. Runs the full compressed path: per-subspace Lloyd
    * training, one-aggregate encoding, LUT build, codes-only scoring,
    * bounded exact refine. */
  def q92_ann_pq(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    // iterations = 3: same rationale as q96 — the twin-containment gate
    // holds under any trained codebook. Codebook + codes are memoized
    // per JVM (small materialized frames: m×ksub rows and one codes row
    // per corpus vector) so repeated bench passes pay only the ADC scan.
    val (codebook, codes) = graft.QueryFixtures.memo(s, s"q92:$d") {
      val cb = graft.operators.Checkpoints.materialize(
        graft.operators.ProductQuantizer.train(emb, "vec_id",
          "embedding", 64, iterations = 3))
      val cd = graft.operators.Checkpoints.materialize(
        graft.operators.ProductQuantizer.encode(emb, "vec_id", "embedding",
          64, cb))
      (cb, cd)
    }
    val planted = emb.filter(col("vec_id") >= 16 && col("vec_id") < 24)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.operators.ProductQuantizer.searchAdc(
        planted, codes, emb, "vec_id", "embedding", codebook, 64, topK = 1)
      .orderBy(col("query_id"))
  }

  /** Time travel through a manifest-versioned table
    * ([[graft.operators.VersionedTable]] — immutable data dirs +
    * atomic-rename manifests, the lakehouse-format core): v0 is an early
    * order-book snapshot, v1 the current book with planted repricings
    * and deletions; the gate reads v0 BY VERSION and v1 BY TIMESTAMP
    * (asOf), diffs them with [[graft.operators.SnapshotDiff]], and
    * rolls up the change log. The oracle rebuilds both snapshots from
    * the raw orders table and replays the diff — so version resolution,
    * snapshot isolation, and the CDC semantics are all under the same
    * hash. */
  def q93_time_travel(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_q93_vt").toString
    val vt = new graft.operators.VersionedTable(s, root, "orders_book")
    val ord = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"))
    vt.commit(ord.filter(col("o_orderkey") % 7 =!= 0), ts = 1000L)
    vt.commit(ord.filter(col("o_orderkey") % 89 =!= 3)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 97 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice"))), ts = 2000L)
    val diff = graft.operators.SnapshotDiff.diff(
      vt.read(Some(0)), vt.asOf(2500L), Seq("o_orderkey"))
    diff.groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(coalesce(col("new_o_totalprice"), lit(0.0)) -
          coalesce(col("old_o_totalprice"), lit(0.0))), 2).as("delta_value"))
      .orderBy(col("change_type"))
  }

  /** BM25 lexical retrieval ([[graft.operators.Bm25]]): three fixed
    * queries (≤ 2 terms each — two-operand double addition is
    * commutative, so per-doc score sums are order-independent and the
    * oracle's row_number ranking matches exactly). The oracle replays
    * the whole probabilistic-relevance computation — tf, dl, df, N,
    * avgdl, the Lucene idf, the saturation term — with identical
    * literal arithmetic. */
  def q94_bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val queries = Seq((1L, "spark"), (1L, "join"), (2L, "window"),
      (2L, "sort"), (3L, "customer")).toDF("query_id", "term")
    graft.operators.Bm25.search(documents(s, d), "doc_id", "text", queries, 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Leakage-safe group-aware split ([[graft.operators.GroupSplit]]):
    * documents split train/val/test by SOURCE — every row of a source
    * lands in one split (the leakage guard), assignment is a pure
    * md5-threshold expression (no shuffle, corpus-growth-stable), and
    * the oracle replays the exact hex-threshold arithmetic, so the
    * per-(split, source) rollup pins both the atomicity and the
    * assignment itself. */
  def q95_group_split(s: SparkSession, d: String): DataFrame =
    graft.operators.GroupSplit.assign(documents(s, d), "source", "sp8",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("split"), col("source"))

  /** IVF-ADC composite ([[graft.operators.IvfPq]] — FAISS's IndexIVFPQ +
    * refine from this repo's own halves): planted twins must survive the
    * coarse probe (partition-pruned cells), the compressed ADC scan
    * (codes + LUT only), and the bounded exact refine, surfacing at
    * rank 1 with the exact brute-force score the oracle computes. */
  def q96_ann_ivfpq(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    // iterations = 3: the gate's containment claim is iteration-count-
    // independent (twins quantize with their originals under ANY trained
    // codebook); 3 rounds converge on this corpus and halve the gate's
    // training share of the bench. Fixture-cached (once per JVM).
    val wh = graft.QueryFixtures.cachedDir(s"q96:$d") { dir =>
      graft.operators.IvfPq.build(new graft.operators.ParquetTableStore(s, dir),
        "ix", emb, "vec_id", "embedding", 64, iterations = 3)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    graft.operators.IvfIndex.verifyFresh(store, "ix", emb, "vec_id")
    val planted = emb.filter(col("vec_id") >= 24 && col("vec_id") < 32)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.operators.IvfPq.probe(store, "ix", planted, "vec_id", "embedding",
        64, topK = 1)
      .orderBy(col("query_id"))
  }

  /** Hybrid retrieval via reciprocal-rank fusion
    * ([[graft.operators.HybridRank]]): BM25 top-20 (q94's machinery)
    * fused with brute-force-cosine top-20 over the embedding table —
    * both constituent rankings AND the fusion arithmetic replay exactly
    * in the oracle, so the gate pins the end-to-end hybrid pipeline,
    * not just the combiner. */
  def q97_hybrid_rrf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lexQ = Seq((1L, "spark"), (1L, "join"), (2L, "window"),
      (2L, "sort"), (3L, "customer")).toDF("query_id", "term")
    val lex = graft.operators.Bm25.search(documents(s, d), "doc_id", "text", lexQ, 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val emb = embeddings(s, d)
    val qVecs = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 1000001L).as("vec_id"), col("embedding"))
    val sem = Similarity.annBruteForce(qVecs, emb, "vec_id", "embedding", 20)
      .select((col("query_id") - 1000000L).as("query_id"),
        col("neighbor_id").as("doc_id"), col("rank"))
    graft.operators.HybridRank.rrf(Seq(lex, sem), k = 60, topK = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Capstone #3 — the end-to-end pretraining data build, four gated
    * primitives composed and hash-gated as ONE program: quality floor
    * (scan-projection predicate) → exact dedup (min-id per md5
    * fingerprint) → leakage-safe group split keeping the train side
    * ([[graft.operators.GroupSplit]], q95) → deterministic shard/pack
    * plan + manifest ([[graft.operators.TrainingShards]], q78). The
    * oracle replays all four stages in one SQL program, so the
    * composition — which stage feeds which, in what order — is under
    * the hash, not just each stage alone. */
  def q98_data_build(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val filtered = docs.filter(col("n_chars") >= 250 &&
      Text.tokenCount(col("text")) >= 45)
    val deduped = filtered
      .groupBy(md5(col("text")).as("_fp"))
      .agg(min_by(struct(col("doc_id"), col("source"), col("text")),
        col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
        col("r.text").as("text"))
    val train = graft.operators.GroupSplit.assign(deduped, "source", "sp8",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
      .filter(col("split") === "train")
    val planned = graft.operators.TrainingShards.plan(
      train, "doc_id", "text", lit(100), seed = "b8",
      budgetTokens = 512, shardChars = 1)
    graft.operators.TrainingShards.manifest(planned)
      .orderBy(col("shard"), col("pack"))
  }

  /** Hard-negative mining ([[graft.operators.ContrastivePairs]], the
    * DPR recipe): planted-twin queries with their originals as labeled
    * positives; the miner must return the positive at rank 0 and the
    * top-3 retrieval-ranked negatives AFTER excluding the positive
    * itself and any false negative (cos(neg, pos) ≥ 0.45). Both
    * truncations (searchDepth before filtering, kNegatives after) are
    * replayed by the oracle, so the mining contract — not just the
    * retrieval — is under the hash. */
  def q99_hard_negatives(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 8)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val positives = emb.filter(col("vec_id") < 8)
      .select((col("vec_id") + 1000000L).as("query_id"),
        col("vec_id").as("pos_id"))
    graft.operators.ContrastivePairs.mine(queries, positives, emb,
        "vec_id", "embedding", kNegatives = 3, falseNegTau = 0.45,
        searchDepth = 20)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Count-min point-frequency estimates ([[graft.operators.CountMin]]):
    * the (j, cell, cnt) relational sketch built over every lineitem
    * partkey, probed for the %97 sample, with exact counts alongside.
    * Hex-string cells make the WHOLE sketch — build and probe — ANSI-
    * replayable, so the oracle reproduces the estimates bit-for-bit
    * (not just bounds), and the exact column pins the one-sided
    * guarantee in the same frame. */
  def q100_countmin_freq(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_partkey").cast("string").as("term"))
    val st = graft.operators.CountMin.state(li, "term")
    val queries = lineitem(s, d).filter(col("l_partkey") % 97 === 0)
      .select(col("l_partkey").cast("string").as("term")).distinct()
    val est = graft.operators.CountMin.estimate(st, queries, "term")
    val exact = li.groupBy(col("term")).agg(count(lit(1)).as("exact"))
    est.join(exact, Seq("term"), "left").na.fill(0L, Seq("exact"))
      .orderBy(col("term"))
  }

  /** EXACT all-pairs near-dup join ([[graft.operators.SetSimJoin]], the
    * All-Pairs prefix filter of Bayardo et al. WWW'07): same task as q20
    * (3-gram Jaccard ≥ 0.6 over documents) but with GUARANTEED candidate
    * completeness instead of LSH's probabilistic recall — so unlike
    * q20/q41, this gate's exact brute-force oracle carries no
    * data-dependent recall caveat at all (COVERAGE.md's long-standing
    * note): correct code passes on ANY fixture. The pair set must equal
    * q20's on this corpus, pinning the two formulations to each other. */
  def q101_allpairs_jaccard(s: SparkSession, d: String): DataFrame =
    graft.operators.SetSimJoin.allPairsJaccard(documents(s, d), "doc_id",
        "text", n = 3, threshold = 0.6)
      .orderBy(col("id_a"), col("id_b"))

  /** Directed containment join ([[graft.operators.SetSimJoin]]): probe
    * docs are 40%-token prefixes of every 20th document — excerpts whose
    * trigram sets are SUBSETS of their source's, so containment = 1.0
    * while symmetric Jaccard ≈ 0.4 misses them entirely (the
    * quote/excerpt/boilerplate-wrapper detection case). The oracle
    * replays the truncation arithmetic AND the full all-pairs containment
    * computation; the probe-side prefix filter is exact, so again no
    * recall caveat. */
  def q102_containment(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val probes = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        array_join(slice(split(col("text"), " "), lit(1),
          ceil(size(split(col("text"), " ")) * 0.4).cast("int")), " ").as("text"))
    graft.operators.SetSimJoin.containmentJoin(probes, docs, "doc_id", "text",
        n = 3, threshold = 0.8)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Declarative data-quality battery ([[graft.operators.DataChecks]],
    * the Deequ pattern): seven constraints over lineitem — completeness,
    * joint-key uniqueness, two range checks, a pattern check, row-count
    * bounds, and referential integrity into orders — with every
    * scan-expressible metric computed in ONE aggregate over ONE scan
    * (spec-asserted) and the FK as one left-anti join. The fixture's
    * planted duplicates make the uniqueness row FAIL and the quantity
    * range check catch real out-of-bound rows, so the gate pins failing
    * metrics, not just green paths; the oracle replays every metric and
    * verdict. */
  def q103_quality_report(s: SparkSession, d: String): DataFrame = {
    import graft.operators.DataChecks._
    graft.operators.DataChecks.report(lineitem(s, d), Seq(
      Completeness("l_returnflag", 0.99),
      Uniqueness(Seq("l_orderkey", "l_linenumber")),
      InRange("l_discount", 0.0, 0.1),
      InRange("l_quantity", 1.0, 40.0),
      MatchesPattern("l_returnflag", "^[ARN]$", 1.0),
      RowCountBetween(1000L, 10000000000L),
      ForeignKey("l_orderkey", orders(s, d), "o_orderkey")))
  }

  /** Deterministic weighted sampling without replacement
    * ([[graft.operators.WeightedSample]], Efraimidis–Spirakis A-Res):
    * top-50 documents by ln(u)/n_chars priority where u is a seeded
    * md5 fraction — longer docs proportionally likelier, yet the whole
    * draw (hash, 2^52 fraction, log priority, ranking, id tie-break) is
    * replayed by the oracle's row_number formulation. The engine plans
    * the bounded O(k) aggregator, not the oracle's full sort. */
  def q104_weighted_sample(s: SparkSession, d: String): DataFrame =
    graft.operators.WeightedSample.sample(documents(s, d), "doc_id",
        "n_chars", k = 50, seed = "ws8")
      .orderBy(col("rank"))

  /** Join-size estimation from count-min inner products
    * ([[graft.operators.CountMin.joinSizeEstimate]]) — the planner-side
    * question ("how big is lineitem ⋈ σ(part) on partkey? does partkey
    * need skew handling?") answered from two counter-sized sketch tables
    * WITHOUT rescanning either side, next to the exact sizes that pin
    * the one-sided guarantee (est ≥ exact for both the filtered
    * equi-join and the F2 self-join moment). The oracle rebuilds both
    * sketches, both inner products and both exact sizes — every number
    * bit-for-bit. */
  def q105_join_size(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_partkey").cast("string").as("term"))
    val pr = part(s, d).filter(col("p_size") > 25)
      .select(col("p_partkey").cast("string").as("term"))
    // the lineitem state feeds three estimator references: materialize
    // so its scan+aggregate runs once
    val stR = graft.operators.Checkpoints.materialize(
      graft.operators.CountMin.state(li, "term"))
    val stS = graft.operators.CountMin.state(pr, "term")
    val est = graft.operators.CountMin.joinSizeEstimate(stR, stS)
    val estF2 = graft.operators.CountMin.joinSizeEstimate(stR, stR)
      .select(col("est_join_size").as("est_self_size"))
    val exact = li.join(pr, Seq("term")).agg(count(lit(1)).as("exact_join_size"))
    val exactF2 = li.groupBy(col("term")).agg(count(lit(1)).as("_c"))
      .agg(sum(col("_c") * col("_c")).as("exact_self_size"))
    est.crossJoin(exact).crossJoin(estF2).crossJoin(exactF2)
  }

  /** Bigram-LM quality scoring ([[graft.operators.BigramLm]], the CCNet
    * perplexity signal with replayable add-one smoothing): model
    * self-trained on the corpus, every ≥2-token doc scored by mean
    * log₁₀ P(w₂|w₁), rolled up per source. Complements q57's unigram
    * scorer with transition probabilities; the oracle replays training
    * (bigram counts, derived left counts, vocab size) AND scoring
    * arithmetic end to end. */
  def q106_bigram_lm(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val model = graft.operators.BigramLm.train(docs, "text")
    graft.operators.BigramLm.scoreDocs(docs, "doc_id", "text", model,
        keep = Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("doc_lp")), 4).as("avg_doc_lp"),
        round(min(col("doc_lp")), 4).as("min_doc_lp"),
        sum(col("n_bigrams")).as("n_bigrams"))
      .orderBy(col("source"))
  }

  /** Damped PageRank ([[graft.operators.PageRank]]) over a cyclic
    * trade graph derived from the fixtures: customer → supplier edges
    * for every distinct order line, supplier → customer back-edges for
    * returned lines ('R') — the link-authority computation web curation
    * ranks domains with, in the engine's iterative-join shape. Supplier
    * ids are offset into a disjoint node space. Three iterations with
    * dangling-mass redistribution; the oracle UNROLLS all three
    * (the q84 BPE precedent) over the same edge construction. */
  def q107_pagerank(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val l = lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val j = o.join(l, col("o_orderkey") === col("l_orderkey"))
    // ONE scan + ONE distinct for the whole edge set (r17, guide §2.3/
    // §2.4): the former e1.distinct ∪ e2.distinct → .distinct shape ran
    // the o⋈l join twice (one branch per edge direction) and paid three
    // distinct exchanges for one deduplicated union — exploding each
    // joined row into its 1-2 directed edges yields the identical edge
    // SET through a single partial-aggregating exchange
    val cust = col("o_custkey")
    val supp = col("l_suppkey") + 1000000L
    val fwd = struct(cust.as("src"), supp.as("dst"))
    val back = struct(supp.as("src"), cust.as("dst"))
    val edges = j.select(explode(
        when(col("l_returnflag") === "R", array(fwd, back))
          .otherwise(array(fwd))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
    graft.operators.PageRank.run(edges, "src", "dst", damping = 0.85, iters = 3)
      .select(col("node"), round(col("rank"), 6).as("rank"))
      .orderBy(col("node"))
  }

  /** Ordered-step conversion funnel ([[graft.operators.Funnel]]) over
    * the event stream: view → click → purchase, 72 h attribution
    * window anchored at funnel entry. ONE exchange for all three steps
    * (per-user step-timestamp arrays + an `array_min(filter(...))`
    * recurrence in the aggregate projection) where the textbook
    * formulation — and the oracle — chains k aggregate+join rounds;
    * the gate pins the two shapes equal. */
  def q108_funnel(s: SparkSession, d: String): DataFrame =
    graft.operators.Funnel.report(events(s, d), "user_id", "event_type",
      "ts", Seq("view", "click", "purchase"), horizonHours = Some(72))

  /** Weekly cohort retention ([[graft.operators.Retention]]): users
    * grouped by first-event day, activity in week offsets from that
    * personal start. Three hash aggregates, no windows; the
    * (cohort, offset) grid output is tiny by construction. Oracle
    * replays first-touch, distinct user-days, offset arithmetic and
    * the ratio. */
  def q109_retention(s: SparkSession, d: String): DataFrame =
    graft.operators.Retention.cohortWeekly(events(s, d), "user_id", "ts")
      .orderBy(col("cohort_day"), col("week_offset"))

  /** PSI distribution-drift report ([[graft.operators.Drift]]):
    * current = the high-value order segment vs reference = all orders,
    * over one genuinely shifted column (o_totalprice — the filter
    * column itself) and one stable one (o_custkey). One scan + one
    * hash aggregate per side for both columns (explode into (col, bin)
    * pairs); reference-derived equi-width bins, Laplace-smoothed
    * shares. The oracle replays stats, binning, the full bin grid,
    * smoothing and the Σ(pc−pr)·ln(pc/pr) arithmetic. */
  def q110_drift_psi(s: SparkSession, d: String): DataFrame = {
    val ref = orders(s, d)
    val cur = ref.filter(col("o_totalprice") >= 250000)
    graft.operators.Drift.psiReport(ref, cur,
        Seq("o_totalprice", "o_custkey"), bins = 10)
      .orderBy(col("column_name"))
  }

  /** k-anonymity audit ([[graft.operators.Anonymity]]) on customer
    * quasi-identifiers (nation, market segment, account-balance
    * bucket) at k = 5 — the release gate run next to PII scrubbing.
    * One aggregate over one scan + a 1-row rollup; the oracle replays
    * bucketing, group sizes and every verdict column. */
  def q111_k_anonymity(s: SparkSession, d: String): DataFrame = {
    val qi = customer(s, d).select(col("c_nationkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / 2000.0).as("bal_bucket"))
    graft.operators.Anonymity.report(qi,
      Seq("c_nationkey", "c_mktsegment", "bal_bucket"), k = 5)
  }

  /** Bloom-pruned semi join ([[graft.operators.BloomPrune]]): lineitem
    * probed against the 2%-selective p_size = 50 part slice. The bloom
    * builds as one DISTRIBUTED aggregate over the build keys (no
    * driver collect), broadcasts as a 1-row frame, and drops probe
    * rows in the scan projection BEFORE the join exchange — the
    * runtime-filter pattern under caller control, exact because the
    * real semi join still runs behind the prune. Oracle is the plain
    * EXISTS semi join the operator must be bit-identical to. */
  def q112_bloom_semijoin(s: SparkSession, d: String): DataFrame = {
    val build = part(s, d).filter(col("p_size") === 50)
    graft.operators.BloomPrune.semiJoin(lineitem(s, d), "l_partkey",
        build, "p_partkey", estimatedItems = 100000)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Entity resolution ([[graft.operators.EntityResolution]]):
    * nation-blocked candidate pairs, exact Levenshtein ≤ 1 match
    * scoring, star-contraction transitive closure, min-id
    * survivorship — the blocking → score → closure composite, each
    * stage machinery the engine proves elsewhere (capBuckets, q39's
    * candidate-only edit distance, q70's log-round components). The
    * oracle replays blocking, every Levenshtein verdict and the full
    * closure (recursive CTE), and the roll-up. maxBlock is set far
    * above any gate-SF nation block (sf0.1: ~600) because the oracle
    * replays blocking UNCAPPED — a binding cap would diverge the two
    * sides; the cap path itself is spec-gated. */
  def q113_entity_resolution(s: SparkSession, d: String): DataFrame =
    graft.operators.EntityResolution.clusters(customer(s, d),
        "c_custkey", "c_name", Seq("c_nationkey"),
        maxEditDist = 1, maxBlock = 100000)
      .orderBy(col("entity_rep"))

  /** Triangle count + global clustering coefficient
    * ([[graft.operators.Triangles]]) over the co-purchase graph (parts
    * co-occurring in an order). Degree-oriented wedge generation
    * (Suri & Vassilvitskii WWW'11) removes wedge skew STRUCTURALLY —
    * out-degree bounded O(√E) regardless of hub degree — where the
    * naive formulation explodes at a celebrity node. The oracle counts
    * the same triangles via the orientation-free id-ordered three-way
    * join, so the gate also proves the two formulations equivalent. */
  def q114_triangles(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val edges = li.select(col("o"), col("p").as("src"))
      .join(li.select(col("o"), col("p").as("dst")), Seq("o"))
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"))
    graft.operators.Triangles.globalCount(edges, "src", "dst")
  }

  /** Pairwise association rules ([[graft.operators.MarketBasket]])
    * over order baskets: support / confidence / lift for every part
    * pair co-purchased ≥ 3 times, both rule directions. The oracle
    * replays distinct baskets, item and pair counts, and all three
    * measures. */
  def q115_basket_rules(s: SparkSession, d: String): DataFrame =
    graft.operators.MarketBasket.rules(lineitem(s, d),
        "l_orderkey", "l_partkey", minCount = 3, minConfidence = 0.0)
      .orderBy(col("item_a"), col("item_b"))

  /** Perceptual-hash dedup groups ([[graft.operators.Multimodal
    * .aHashBits]]): 64-bit average hash over each payload's leading
    * block — exact integer bit arithmetic (byte·64 > Σ), built
    * entirely from codegen'd builtins — grouped on hash equality, the
    * image-dedup baseline of the multimodal family (the Hamming-banded
    * fuzzy variant is spec-gated with planted twins). The oracle
    * recomputes every bit of every hash through DuckDB's string/list
    * lane. */
  def q116_phash_groups(s: SparkSession, d: String): DataFrame =
    graft.operators.Multimodal.withBlob(documents(s, d), "doc_id", "text")
      .select(col("id"),
        graft.operators.Multimodal.aHashBits(col("payload")).as("phash"))
      .groupBy(col("phash"))
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("min_doc"),
        max(col("id")).as("max_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("phash"))

  /** Exact phrase search ([[graft.operators.PhraseSearch]]) over a
    * positional index: one corpus join + one aggregate for the whole
    * query batch via the p−q alignment trick (a k-term phrase needs
    * NO k−1 posting self-joins), postings pre-filtered to the query
    * vocabulary by broadcast semi-join so the index tail never
    * shuffles. Includes a repeated-term phrase — the case naive
    * position intersection miscounts. Oracle replays postings, query
    * offsets, the alignment grouping and the length gate. */
  def q117_phrase_search(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val queries = Seq(
      ("q1", "window window"), ("q2", "slow hash batch"),
      ("q3", "data merge group"), ("q4", "the fast key"))
      .toDF("query_id", "phrase")
    graft.operators.PhraseSearch.search(documents(s, d), "doc_id", "text",
        queries, "query_id", "phrase")
      .orderBy(col("query_id"))
  }

  /** Exponential time-decay scoring ([[graft.operators.Decay]]):
    * per-event-type trending scores with a 7-day half-life as of a
    * fixed instant — recency weighting as a pure function of
    * (data, asOf), integer event-time arithmetic, one aggregate. The
    * oracle replays the microsecond ages, the pow weights and both
    * decayed sums. */
  def q118_decay_scores(s: SparkSession, d: String): DataFrame =
    graft.operators.Decay.scores(events(s, d), "event_type", "ts", "value",
        asOfMicros = 1706745600000000L, // 2024-02-01 00:00:00 UTC
        halfLifeHours = 168.0)
      .orderBy(col("key"))

  /** First-order event-transition matrix
    * ([[graft.operators.Transitions]]): Markov journey structure over
    * (ts, event_id)-total-ordered per-user sequences — lag window
    * partitioned by user (the sessionization shape, no global sort),
    * vocabulary-sized everything after. Oracle replays the lag, the
    * counts and row-normalized probabilities. */
  def q119_transitions(s: SparkSession, d: String): DataFrame =
    graft.operators.Transitions.matrix(events(s, d), "user_id",
        "event_type", "ts", "event_id")
      .orderBy(col("from_type"), col("to_type"))

  /** Leakage-safe k-fold assignment ([[GroupSplit.foldColumn]]): every
    * user's events land wholly in one of 5 folds via the md5-mod
    * expression — growth-stable, shuffle-free in the scan projection,
    * q95's contract extended to cross-validation. The oracle replays
    * the md5 hex→integer→mod arithmetic digit by digit. */
  def q120_kfold(s: SparkSession, d: String): DataFrame =
    graft.operators.GroupSplit.assignFolds(
        events(s, d).filter(col("user_id").isNotNull),
        "user_id", seed = "cv-r8", k = 5)
      .groupBy(col("fold"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("fold"))

  /** Jaro-Winkler record matching
    * ([[graft.operators.EntityResolution.matchPairsJw]], the
    * [[graft.plans.JaroWinkler]] native expression): nation-blocked
    * customer pairs at raw similarity ≥ 0.98 — q113's pipeline with
    * linkage's standard transposition-tolerant scorer. The oracle is
    * DuckDB's own jaro_winkler_similarity over the same blocking,
    * pinning the expression value-identical to an independent
    * implementation. maxBlock sits far above any gate-SF nation block
    * (q113's rationale: the oracle replays blocking UNCAPPED, so a
    * binding cap would diverge the two sides; the cap path is
    * spec-gated). */
  def q121_jw_match(s: SparkSession, d: String): DataFrame =
    graft.operators.EntityResolution.matchPairsJw(customer(s, d),
        "c_custkey", "c_name", Seq("c_nationkey"),
        minSim = 0.98, maxBlock = 100000)
      .orderBy(col("id_a"), col("id_b"))

  /** Deletion-neighborhood exact distance-1 matching
    * ([[graft.operators.EntityResolution.matchPairsDeletion1]]): the
    * SymSpell-family candidate generator — every distance-≤1 pair
    * provably shares a single-deletion variant, so the variant
    * hash-join replaces BOTH the blocking key (no recall trade at
    * all) and the quadratic block self-join (O(n·L) variants instead
    * of O(Σ block²) pairs). The oracle is the UNBLOCKED brute-force
    * all-pairs scan — completeness itself is under the hash. */
  def q122_deletion_neighborhood(s: SparkSession, d: String): DataFrame =
    graft.operators.EntityResolution.matchPairsDeletion1(customer(s, d),
        "c_custkey", "c_name")
      .select(col("id_a"), col("id_b"),
        col("edit_dist").cast("bigint").as("edit_dist"))
      .orderBy(col("id_a"), col("id_b"))

  /** A/B experiment readout ([[graft.operators.Experiment]]): synthetic
    * parity-of-user-id variants, conversion = any purchase event,
    * two-proportion pooled z-test — two hash aggregates + a 1-row
    * min_by/max_by combine, nothing driver-side. Oracle replays
    * assignment, conversion flags, both rates and the z arithmetic. */
  def q123_ab_readout(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).filter(col("user_id").isNotNull)
    val assignments = ev.select(col("user_id"),
      when(pmod(col("user_id"), lit(2)) === 0, lit("A")).otherwise(lit("B"))
        .as("variant"))
    val conversions = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"))
    graft.operators.Experiment.abReadout(assignments, "user_id", "variant",
      conversions, "user_id")
  }

  /** Last-touch attribution ([[graft.operators.Attribution]] over the
    * custom as-of-join exec): each purchase credited to the user's
    * latest click within 72 h. The oracle replays the latest-touch
    * selection (correlated max), the window verdict and the lag
    * arithmetic; rolled up by verdict. */
  def q124_attribution(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
    graft.operators.Attribution.lastTouch(purchases, clicks,
        "user_id", "ts", "ts", windowHours = 72)
      .groupBy(col("attributed"))
      .agg(count(lit(1)).as("n_conversions"),
        round(avg(col("lag_minutes")), 4).as("avg_lag_min"),
        round(max(col("lag_minutes")), 4).as("max_lag_min"))
      .orderBy(col("attributed"))
  }

  /** Trailing 7-CALENDAR-day moving average + week-over-week growth of
    * daily purchase revenue — the time-series smoothing/monitoring
    * pair. The frame is a RANGE over day-number (not ROWS) and the
    * week-ago baseline is an exact dn−7 self-join (not lag(7)), so an
    * ingest gap — exactly what the sibling q126 detects — cannot
    * silently stretch "7 days" across more calendar time or compare
    * days that are not a week apart. The window runs over the
    * PRE-AGGREGATED day-grain frame (one row per day): the global sort
    * touches a calendar-sized frame, never the event stream. */
  def q125_moving_average(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 2).as("revenue"))
      .withColumn("_dn", unix_date(col("day")))
    val w7 = Window.orderBy(col("_dn")).rangeBetween(-6, 0)
    val weekAgo = daily.select((col("_dn") + 7).as("_dn"),
      col("revenue").as("_prev"))
    daily
      .withColumn("ma7", round(avg(col("revenue")).over(w7), 4))
      .join(weekAgo, Seq("_dn"), "left")
      .select(col("day"), col("revenue"), col("ma7"),
        when(col("_prev") > 0,
          round(col("revenue") / col("_prev") - 1.0, 4)).as("wow_growth"))
      .orderBy(col("day"))
  }

  /** Calendar gap detection — the data-completeness probe that catches
    * a silently missing ingest day: distinct observed days anti-joined
    * against the generated min→max calendar. The fixture plants gaps
    * by excluding a deterministic weekday slice; at scale the only
    * event-sized work is one distinct-day aggregate (calendar frames
    * are date-ranged, not data-sized). */
  def q126_day_gaps(s: SparkSession, d: String): DataFrame = {
    val obs = events(s, d)
      .filter(dayofmonth(col("ts")) % 7 =!= 3)
      .select(to_date(col("ts")).as("day"))
    val days = obs.distinct()
    val bounds = days.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    bounds
      .select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 DAY"))).as("day"))
      .join(days, Seq("day"), "left_anti")
      .orderBy(col("day"))
      .select(col("day").as("missing_day"))
  }

  /** Least-squares trend of the daily revenue series: slope, intercept
    * and R² from the five sufficient sums (n, Σx, Σy, Σxy, Σx², Σy²)
    * over the day-grain pre-aggregate — one event-sized hash aggregate
    * then calendar-sized arithmetic. x is CENTERED to day offsets
    * (dn − min dn) before the sums: raw epoch-day x ≈ 2·10⁴ squares
    * into ~10¹⁰ sums whose nΣx² − (Σx)² difference is catastrophic
    * cancellation territory; offsets keep every intermediate exact in
    * double. The oracle replays the centering and all five sums. */
  def q127_trend(s: SparkSession, d: String): DataFrame = {
    // materialized: `lo` and the sums both read it — without this the
    // event-sized rollup would run twice (the q129 joint-frame pattern)
    val daily = graft.operators.Checkpoints.materialize(events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 2).as("y"))
      .withColumn("_dn", unix_date(col("day"))))
    val lo = daily.agg(min(col("_dn")).as("_lo"))
    val sums = daily.crossJoin(broadcast(lo))
      .select((col("_dn") - col("_lo")).cast("double").as("x"), col("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val denY = col("n") * col("syy") - col("sy") * col("sy")
    sums.select(col("n").as("n_days"),
      when(den > 0, round(num / den, 6)).as("slope"),
      when(den > 0, round((col("sy") - num / den * col("sx")) / col("n"), 4))
        .as("intercept"),
      when(den > 0 && denY > 0, round(num * num / (den * denY), 6)).as("r2"))
  }

  /** TF-IDF keyword extraction: top-3 scoring terms per sampled
    * document (tf × smooth idf, sklearn's ln((1+N)/(1+df))+1). The
    * corpus-sized work is two hash aggregates (per-doc tf restricted
    * to the sampled docs, df over ALL docs); ranking is a window over
    * the SAMPLED-doc term frame only — grain-bounded, never
    * corpus-sized (the window-on-pre-aggregate discipline). Ties break
    * by term; the oracle replays tf, df, N, the idf arithmetic and the
    * rank. */
  def q128_tfidf_keywords(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // canonical tokenizer (Text.tokens — what Bm25/the corpus stack
    // use; an inline split would silently diverge from them), and the
    // token frame materialized: df and tf both aggregate it, and each
    // reference would otherwise re-pay the scan + floored repartition
    // + explode. nDocs reads the raw load (one count, no repartition).
    val toks = graft.operators.Checkpoints.materialize(documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.Text.tokens(col("text"))).as("term"))
      .filter(col("term") =!= ""))
    val nDocs = load(s, d, "documents")
      .agg(countDistinct(col("doc_id")).as("nd"))
    val df_ = toks.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val tf = toks.filter(col("doc_id") % 50 === 0)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val scored = tf.join(df_, Seq("term")).crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"),
        (col("tf") * (log((lit(1.0) + col("nd")) / (lit(1.0) + col("df")))
          + lit(1.0))).as("_score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("_score").desc, col("term"))
    scored.withColumn("_rk", row_number().over(w)).filter(col("_rk") <= 3)
      .select(col("doc_id"), col("_rk").as("rank"), col("term"),
        round(col("_score"), 6).as("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Column-dependency profiling via mutual information: MI, both
    * entropies and the normalized MI/√(H·H) between order status and
    * priority — the data-exploration probe for "are these columns
    * redundant?". Joint and marginal distributions are one hash
    * aggregate each over the same grouped frame; everything after is
    * category-sized. The oracle replays every probability and log
    * term. */
  def q129_mutual_information(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
      .filter(col("o_orderstatus").isNotNull && col("o_orderpriority").isNotNull)
      .select(col("o_orderstatus").as("x"), col("o_orderpriority").as("y"))
    val joint = graft.operators.Checkpoints.materialize(
      o.groupBy(col("x"), col("y")).agg(count(lit(1)).as("nxy")))
    val n = joint.agg(sum(col("nxy")).cast("double").as("n"))
    val mx = joint.groupBy(col("x")).agg(sum(col("nxy")).as("nx"))
    val my = joint.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
    val terms = joint.join(mx, Seq("x")).join(my, Seq("y"))
      .crossJoin(broadcast(n))
      .select(
        (col("nxy") / col("n") *
          log(col("nxy") * col("n") / (col("nx") * col("ny")))).as("mi_t"))
    val hx = mx.crossJoin(broadcast(n))
      .agg(sum(-col("nx") / col("n") * log(col("nx") / col("n"))).as("hx"))
    val hy = my.crossJoin(broadcast(n))
      .agg(sum(-col("ny") / col("n") * log(col("ny") / col("n"))).as("hy"))
    terms.agg(sum(col("mi_t")).as("_mi"))
      .crossJoin(hx).crossJoin(hy)
      .select(round(col("_mi"), 6).as("mi"),
        round(col("hx"), 6).as("h_x"), round(col("hy"), 6).as("h_y"),
        when(col("hx") > 0 && col("hy") > 0,
          round(col("_mi") / sqrt(col("hx") * col("hy")), 6)).as("nmi"))
  }

  /** Stream-maintained decay scores ([[graft.operators.Decay]] state
    * path): the event stream split into two month-halves, each folded
    * to mergeable floating-reference state, MERGED (re-anchor to the
    * later reference — multiplication distributes over the sums), and
    * read as of q118's instant. The oracle is q118's full-recompute
    * SQL verbatim: maintained ≡ batch sits under the hash (the q87
    * pattern). */
  def q130_decay_maintained(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val st = graft.operators.Decay.merge(
      graft.operators.Decay.state(ev.filter(dayofmonth(col("ts")) <= 15),
        "event_type", "ts", "value", 168.0),
      graft.operators.Decay.state(ev.filter(dayofmonth(col("ts")) > 15),
        "event_type", "ts", "value", 168.0),
      168.0)
    graft.operators.Decay.scoresFromState(st, 1706745600000000L, 168.0)
      .orderBy(col("key"))
  }

  /** Stream-maintained heavy hitters ([[graft.operators.HeavyHitters]]
    * state path — the last mergeable state to gain the generalized
    * fold): q90's term stream split into three l_orderkey-residue
    * batches folded through a REAL store (batch 1 deliberately replayed
    * — the marker protocol must no-op it, or candidate counts double
    * and the cut rule evicts a true heavy hitter), then the EXACT set
    * derived from the stored summary alone plus one candidate-
    * restricted count scan. The PODS'12 merge rule preserves the
    * n/(capacity+1) undercount bound across the fold tree, so the
    * oracle stays q90's direct GROUP BY + HAVING — maintained ≡
    * one-shot under the hash. */
  def q131_heavy_hitters_maintained(s: SparkSession, d: String): DataFrame = {
    val terms = lineitem(s, d).select(
      length(col("l_partkey").cast("string")).cast("string").as("term"),
      col("l_orderkey"))
    val wh = graft.QueryFixtures.cachedDir(s"q131:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      def fold(batch: DataFrame, id: Long): Unit =
        graft.operators.HeavyHitters.foldIntoStore(store, "hh",
          batch, "term", capacity = 2, id, epoch = "q131")
      fold(terms.filter(col("l_orderkey") % 3 === 0), 0L)
      fold(terms.filter(col("l_orderkey") % 3 === 1), 1L)
      fold(terms.filter(col("l_orderkey") % 3 === 1), 1L) // replay: must no-op
      fold(terms.filter(col("l_orderkey") % 3 === 2), 2L)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    graft.operators.HeavyHitters.exactFromState(
      store.read("hh").get.drop("_last_batch", "_epoch"),
      terms.select(col("term")), "term", capacity = 2)
      .orderBy(col("term"))
  }

  /** PIXEL-path perceptual hash (closes the r8 "aHash hashes payload
    * bytes, not pixels" item): 64 real 32×32 grayscale PNGs are
    * authored from an integer pixel formula (driver-side, bounded —
    * the fixture build), then DECODED (JDK ImageIO via the
    * `media_gray8x8` expression), block-mean downscaled to the 8×8
    * luma block and bit-hashed, all distributed and all in exact
    * integer arithmetic. PNG because it is lossless: decoded pixels ≡
    * authored pixels, so the DuckDB oracle regenerates the pixels from
    * the same formula and replays the downscale (4×4 block sums / 16)
    * and every hash bit with no decoder at all — JPEG rides the
    * identical code path but its quantized pixels exist only JVM-side,
    * so it is spec-gated (MultimodalSpec) rather than oracle-gated.
    * Four undecodable payloads ride along and must hash to null (the
    * one-bad-blob-cannot-kill-the-scan contract). */
  def q132_phash_pixels(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows: Seq[(Long, Array[Byte])] = (0 until 64).map { id =>
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val r = img.getRaster
      for (y <- 0 until 32; x <- 0 until 32)
        r.setSample(x, y, 0, ((id % 8) * 31 + x * 7 + y * 13) % 256)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      (id.toLong, bos.toByteArray)
    } ++ (64 until 68).map(id => (id.toLong, Array[Byte](1, 2, 3)))
    rows.toDF("id", "payload")
      .select(col("id"),
        graft.operators.Multimodal.aHashBitsPixels(col("payload")).as("phash"))
      .filter(col("phash").isNotNull)
      .groupBy(col("phash"))
      .agg(count(lit(1)).as("n_imgs"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
      .orderBy(col("phash"))
  }

  /** Per-group exact heavy hitters ([[graft.operators.HeavyHitters
    * .exactPerGroup]] — q90's composition with NO driver collect:
    * candidates stay a frame, the restriction is a (group, term)
    * semi-join, the share bar is a join against per-group totals, so
    * group cardinality can be warehouse-sized). Groups are the three
    * l_returnflag populations, terms q90's decimal-magnitude stream;
    * each group independently clears the 1/3 bar for the same two
    * magnitudes but with group-sized counts, and the oracle is the
    * per-group GROUP BY + HAVING the sketch path replaces. */
  def q133_heavy_hitters_grouped(s: SparkSession, d: String): DataFrame =
    graft.operators.HeavyHitters.exactPerGroup(
      lineitem(s, d).select(col("l_returnflag").as("grp"),
        length(col("l_partkey").cast("string")).cast("string").as("term")),
      "grp", "term", capacity = 2)
      .orderBy(col("grp"), col("term"))

  /** SQ8 compressed-scan ANN ([[graft.operators.ScalarQuantizer]] —
    * int8 codes + per-vector scale, FAISS QT_8bit re-expressed as
    * columns): planted twins probe the quantized corpus, integer dots
    * rescale once per pair. No training anywhere, so unlike the PQ
    * gates the oracle replays EVERY code and EVERY reconstructed
    * score exactly (round-half-away shared by both engines) — the
    * strongest contract in the compressed family. */
  def q134_ann_sq8(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val codes = graft.operators.ScalarQuantizer.encode(emb, "vec_id", "embedding")
    val planted = emb.filter(col("vec_id") >= 32 && col("vec_id") < 40)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.operators.ScalarQuantizer.search(planted, codes, "vec_id",
        "embedding", 1)
      .orderBy(col("query_id"))
  }

  /** Stream-maintained PER-GROUP heavy hitters (q131's fold × q133's
    * grouped exactness): three l_orderkey-residue batches fold
    * per-returnflag MG summaries through a real store (batch 1
    * replayed — must no-op), then the exact per-group sets derive from
    * the stored state with no driver collect. The PODS'12 bound holds
    * within each group independently across the fold tree, so the
    * oracle is q133's per-group GROUP BY + HAVING verbatim. */
  def q135_heavy_hitters_grouped_maintained(s: SparkSession, d: String): DataFrame = {
    val terms = lineitem(s, d).select(col("l_returnflag").as("grp"),
      length(col("l_partkey").cast("string")).cast("string").as("term"),
      col("l_orderkey"))
    val wh = graft.QueryFixtures.cachedDir(s"q135:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      def fold(batch: DataFrame, id: Long): Unit =
        graft.operators.HeavyHitters.foldIntoStorePerGroup(store, "hhg",
          batch, "grp", "term", capacity = 2, id, epoch = "q135")
      fold(terms.filter(col("l_orderkey") % 3 === 0), 0L)
      fold(terms.filter(col("l_orderkey") % 3 === 1), 1L)
      fold(terms.filter(col("l_orderkey") % 3 === 1), 1L) // replay: must no-op
      fold(terms.filter(col("l_orderkey") % 3 === 2), 2L)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    graft.operators.HeavyHitters.exactFromStatePerGroup(
      store.read("hhg").get.drop("_last_batch", "_epoch"),
      terms.select(col("grp"), col("term")), "grp", "term", capacity = 2)
      .orderBy(col("grp"), col("term"))
  }

  /** IVF-SQ composite ([[graft.operators.IvfSq]] — partition-pruned
    * coarse probe × int8 compressed scan × bounded exact refine, the
    * middle point of the stored-ANN memory/recall curve between q88's
    * full floats and q96's PQ codes): planted twins must survive all
    * three stages and surface at rank 1 with the exact brute-force
    * score — q88's oracle shape over a fresh planted range. */
  def q136_ann_ivfsq(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q136:$d") { dir =>
      graft.operators.IvfSq.build(new graft.operators.ParquetTableStore(s, dir),
        "ix", emb, "vec_id", "embedding", iterations = 3)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    graft.operators.IvfIndex.verifyFresh(store, "ix", emb, "vec_id")
    val planted = emb.filter(col("vec_id") >= 40 && col("vec_id") < 48)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.operators.IvfSq.probe(store, "ix", planted, "vec_id", "embedding", 1)
      .orderBy(col("query_id"))
  }

  /** Stream-maintained weighted reservoir ([[graft.operators
    * .WeightedSample]] state path — A-Res reservoirs merge exactly,
    * and the seeded-hash priority makes the maintained sample
    * INDISTINGUISHABLE from the batch draw, not merely statistically
    * valid): q104's corpus split into three doc_id-residue batches
    * folded through a real store (batch 1 replayed — the marker must
    * no-op it), then the sample read from the stored reservoir alone.
    * Oracle: q104's full-scan A-Res replay VERBATIM. */
  def q137_weighted_sample_maintained(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q137:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      def fold(batch: DataFrame, id: Long): Unit =
        graft.operators.WeightedSample.foldIntoStore(store, "ws", batch,
          "doc_id", "n_chars", k = 50, seed = "ws8", id, epoch = "q137")
      fold(docs.filter(col("doc_id") % 3 === 0), 0L)
      fold(docs.filter(col("doc_id") % 3 === 1), 1L)
      fold(docs.filter(col("doc_id") % 3 === 1), 1L) // replay: must no-op
      fold(docs.filter(col("doc_id") % 3 === 2), 2L)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    graft.operators.WeightedSample.sampleFromState(
      store.read("ws").get.drop("_last_batch", "_epoch"), "doc_id")
      .orderBy(col("rank"))
  }

  /** Incrementally-appended IVF index ([[graft.operators.IvfIndex
    * .append]] — FAISS's `add` vs `train` split: batches assign against
    * the FROZEN stored quantizer and merge only their touched cell
    * partitions): build over a third of the corpus, append the other
    * two thirds in batches (one replayed — keyed upsert + frozen
    * assignment must make it a no-op), attest freshness against the
    * FULL corpus, then probe planted twins. Oracle: q88's exact-scan
    * rank-1 shape verbatim over a fresh planted range — the appended
    * index must answer exactly like an index built over everything. */
  def q138_ann_ivf_append(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    // the whole build→append→replay→append lifecycle IS the fixture:
    // deterministic given (data, params), cached once per JVM (Verify
    // and the specs still run it cold); the attest + probe run per call
    val wh = graft.QueryFixtures.cachedDir(s"q138:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      graft.operators.IvfIndex.build(store, "ix",
        emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding")
      def app(r: Int): Unit = graft.operators.IvfIndex.append(store, "ix",
        emb.filter(col("vec_id") % 3 === r), "vec_id", "embedding")
      app(1)
      app(1) // replay: must no-op
      app(2)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    graft.operators.IvfIndex.verifyFresh(store, "ix", emb, "vec_id")
    val planted = emb.filter(col("vec_id") >= 16 && col("vec_id") < 24)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.operators.IvfIndex.probe(store, "ix", planted, "vec_id", "embedding", 1)
      .orderBy(col("query_id"))
  }

  /** Stream-maintained PER-GROUP weighted reservoir ([[graft.operators
    * .WeightedSample]] grouped state path — the balanced per-language
    * mixture staying current per ingest micro-batch): q104's fold
    * protocol with the reservoir PARTITIONED by language, three
    * doc_id-residue batches through a real store with a deliberate
    * replay, then the mixture read from state alone. Oracle: the
    * per-group A-Res replay (row_number PARTITIONED by lang) — the
    * maintained mixture is bit-equal to the one-shot per-group draw. */
  def q139_weighted_sample_grouped_maintained(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q139:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      def fold(batch: DataFrame, id: Long): Unit =
        graft.operators.WeightedSample.foldIntoStorePerGroup(store, "wsg", batch,
          "lang", "doc_id", "n_chars", k = 10, seed = "wg9", id, epoch = "q139")
      fold(docs.filter(col("doc_id") % 3 === 0), 0L)
      fold(docs.filter(col("doc_id") % 3 === 1), 1L)
      fold(docs.filter(col("doc_id") % 3 === 1), 1L) // replay: must no-op
      fold(docs.filter(col("doc_id") % 3 === 2), 2L)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    graft.operators.WeightedSample.perGroupFromState(
      store.read("wsg").get.drop("_last_batch", "_epoch"), "lang", "doc_id")
      .orderBy(col("lang"), col("rank"))
  }

  /** Incrementally-appended BM25 index ([[graft.operators.Bm25Index]]
    * — the third index on the shared build/append/probe/staleness
    * protocol): build postings over a third of the corpus, append the
    * other two thirds (one batch replayed — keyed upsert + recomputed
    * fingerprint must no-op it), attest freshness against the FULL
    * corpus, then search from the stored index. BM25 stats are
    * corpus-global (N/avgdl/df), so the gate proves the appends
    * maintained them exactly: the oracle is q94's full-corpus scoring
    * replay VERBATIM over fresh 2-term queries — the appended index is
    * bit-equal to one-shot search over everything. */
  def q140_bm25_indexed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q140:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      graft.operators.Bm25Index.build(store, "bx",
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
      def app(r: Int): Unit = graft.operators.Bm25Index.append(store, "bx",
        docs.filter(col("doc_id") % 3 === r), "doc_id", "text", batchId = r)
      app(1)
      app(1) // replay (same segment id): must no-op
      app(2)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    graft.operators.Bm25Index.verifyFresh(store, "bx", docs, "doc_id")
    val queries = Seq((1L, "spark"), (1L, "sort"), (2L, "customer"),
      (2L, "join"), (3L, "window")).toDF("query_id", "term")
    graft.operators.Bm25Index.search(store, "bx", queries, 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Closed-form OLS in one pass ([[graft.operators.LinearFit]] —
    * normal-equation moments as ONE hash aggregate over the fact
    * table, (p+1)×(p+1) driver solve, R²/RMSE from the same pass via
    * SSE = Σy² − wᵀ(Xᵀy)): predict l_extendedprice from quantity and
    * discount points. The oracle replays the full train — the same
    * moment sums, Cramer's-rule 3×3 solve, and fit metrics — in SQL;
    * the discount feature is pre-scaled ×100 so the normal matrix stays
    * well-conditioned (the operator's documented contract). */
  def q141_linear_fit(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .withColumn("disc_pct", col("l_discount") * 100)
    val m = graft.operators.LinearFit.fit(li,
      Seq("l_quantity", "disc_pct"), "l_extendedprice")
    s.range(1).select(
      lit(m.n).as("n"),
      lit(math.rint(m.weights(0) * 1e4) / 1e4).as("w_intercept"),
      lit(math.rint(m.weights(1) * 1e4) / 1e4).as("w_quantity"),
      lit(math.rint(m.weights(2) * 1e4) / 1e4).as("w_disc_pct"),
      lit(math.rint(m.r2 * 1e4) / 1e4).as("r2"),
      lit(math.rint(m.rmse * 1e2) / 1e2).as("rmse"))
  }

  /** KMV/theta sketch set algebra ([[graft.operators.KmvSketch]] — the
    * distinct sketch that, unlike HLL, INTERSECTS): the lineitem
    * partkey population folded through a real store in three residue
    * batches (one replayed), the filtered-part population sketched
    * one-shot, then solo estimates + theta-combined |A∩B| / |A∪B| /
    * Jaccard next to the exact answers. Every number is deterministic
    * (seeded 52-bit md5 minima), so the oracle replays the hashes, the
    * k-minima, θ, the estimator and the set algebra bit-for-bit. */
  def q142_kmv_set_sketch(s: SparkSession, d: String): DataFrame = {
    val k = 256
    val li = lineitem(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q142:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      def fold(batch: DataFrame, id: Long): Unit =
        graft.operators.KmvSketch.foldIntoStore(store, "ka", batch,
          "l_partkey", k, seed = "km9", id, epoch = "q142")
      fold(li.filter(col("l_orderkey") % 3 === 0), 0L)
      fold(li.filter(col("l_orderkey") % 3 === 1), 1L)
      fold(li.filter(col("l_orderkey") % 3 === 1), 1L) // replay: must no-op
      fold(li.filter(col("l_orderkey") % 3 === 2), 2L)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    val stA = store.read("ka").get.drop("_last_batch", "_epoch")
    val pr = part(s, d).filter(col("p_size") > 25)
    val stB = graft.operators.KmvSketch.state(pr, "p_partkey", k, "km9")
    val solo = graft.operators.KmvSketch.estimateFromState(stA, k)
      .select(col("n_est").as("n_est_a"))
      .crossJoin(graft.operators.KmvSketch.estimateFromState(stB, k)
        .select(col("n_est").as("n_est_b")))
    val sets = graft.operators.KmvSketch.setEstimates(stA, stB, k)
      .select("est_inter", "est_union", "jaccard")
    val exact = li.select(col("l_partkey")).distinct()
      .join(pr.select(col("p_partkey").as("l_partkey")), Seq("l_partkey"))
      .agg(count(lit(1)).as("exact_inter"))
      .crossJoin(li.agg(count_distinct(col("l_partkey")).as("exact_a")))
      .crossJoin(pr.agg(count_distinct(col("p_partkey")).as("exact_b")))
    solo.crossJoin(sets).crossJoin(exact)
  }

  /** Stream-maintained linear model ([[graft.operators.LinearFit]]
    * state path — the normal-equation moments are plain sums, so the
    * TRAINED MODEL folds like any other mergeable state): q141's
    * lineitem train split into three orderkey-residue batches folded
    * through a real store (one replayed — the marker must no-op it),
    * then the model solved from the stored moments alone. Oracle:
    * q141's full-scan train replay VERBATIM — a model maintained per
    * ingest micro-batch is the model trained on everything. */
  def q143_linear_fit_maintained(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).withColumn("disc_pct", col("l_discount") * 100)
    val wh = graft.QueryFixtures.cachedDir(s"q143:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      def fold(batch: DataFrame, id: Long): Unit =
        graft.operators.LinearFit.foldIntoStore(store, "lm", batch,
          Seq("l_quantity", "disc_pct"), "l_extendedprice", id, epoch = "q143")
      fold(li.filter(col("l_orderkey") % 3 === 0), 0L)
      fold(li.filter(col("l_orderkey") % 3 === 1), 1L)
      fold(li.filter(col("l_orderkey") % 3 === 1), 1L) // replay: must no-op
      fold(li.filter(col("l_orderkey") % 3 === 2), 2L)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    val m = graft.operators.LinearFit.fitFromState(
      store.read("lm").get.drop("_last_batch", "_epoch"),
      Seq("l_quantity", "disc_pct"))
    s.range(1).select(
      lit(m.n).as("n"),
      lit(math.rint(m.weights(0) * 1e4) / 1e4).as("w_intercept"),
      lit(math.rint(m.weights(1) * 1e4) / 1e4).as("w_quantity"),
      lit(math.rint(m.weights(2) * 1e4) / 1e4).as("w_disc_pct"),
      lit(math.rint(m.r2 * 1e4) / 1e4).as("r2"),
      lit(math.rint(m.rmse * 1e2) / 1e2).as("rmse"))
  }

  /** Per-group closed-form OLS ([[graft.operators.LinearFit
    * .fitPerGroup]] — one model per stratum from one grouped moment
    * aggregate + a group-cardinality-bounded driver solve): q141's
    * price model fitted separately per l_returnflag. The oracle runs
    * the grouped Cramer solve — the per-group moment sums and all
    * three models' weights and metrics replayed in one GROUP BY. */
  def q144_linear_fit_grouped(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).withColumn("disc_pct", col("l_discount") * 100)
    val st = graft.operators.LinearFit.statePerGroup(li, "l_returnflag",
      Seq("l_quantity", "disc_pct"), "l_extendedprice")
    graft.operators.LinearFit.fitPerGroup(st, "l_returnflag",
        Seq("l_quantity", "disc_pct"))
      .select(col("l_returnflag"), col("n"),
        round(element_at(col("w"), 1), 4).as("w_intercept"),
        round(element_at(col("w"), 2), 4).as("w_quantity"),
        round(element_at(col("w"), 3), 4).as("w_disc_pct"),
        round(col("r2"), 4).as("r2"),
        round(col("rmse"), 2).as("rmse"))
      .orderBy(col("l_returnflag"))
  }

  /** Incrementally-appended IVF-SQ index ([[graft.operators.IvfSq
    * .append]] — q138's frozen-quantizer append composed with
    * segment-partitioned SQ codes; the crash-order argument holds
    * under append because the cells append, whose last step rewrites
    * the fingerprint, runs LAST): build over a third, append the rest
    * (one batch replayed under its own segment id), attest freshness
    * of the full union, probe planted twins. Oracle: q88's exact-scan
    * rank-1 shape verbatim over a fresh range. */
  def q145_ann_ivfsq_append(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q145:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      graft.operators.IvfSq.build(store, "ix",
        emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
        iterations = 3)
      def app(r: Int): Unit = graft.operators.IvfSq.append(store, "ix",
        emb.filter(col("vec_id") % 3 === r), "vec_id", "embedding", batchId = r)
      app(1)
      app(1) // replay (same segment id): must no-op
      app(2)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    graft.operators.IvfIndex.verifyFresh(store, "ix", emb, "vec_id")
    val planted = emb.filter(col("vec_id") >= 48 && col("vec_id") < 56)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.operators.IvfSq.probe(store, "ix", planted, "vec_id", "embedding", 1)
      .orderBy(col("query_id"))
  }

  /** Incrementally-appended IVF-PQ index ([[graft.operators.IvfPq
    * .append]] — FAISS's add-vs-train split applied to BOTH quantizers:
    * the batch encodes against the FROZEN stored codebook and assigns
    * against the FROZEN coarse centroids; codes land in the batch's own
    * segment). Build over a third, append the rest with a replay,
    * attest freshness, probe planted twins. Oracle: q88's exact-scan
    * rank-1 shape verbatim over a fresh range. */
  def q146_ann_ivfpq_append(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q146:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      graft.operators.IvfPq.build(store, "ix",
        emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", 64,
        iterations = 3)
      def app(r: Int): Unit = graft.operators.IvfPq.append(store, "ix",
        emb.filter(col("vec_id") % 3 === r), "vec_id", "embedding", 64,
        batchId = r)
      app(1)
      app(1) // replay (same segment id): must no-op
      app(2)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    graft.operators.IvfIndex.verifyFresh(store, "ix", emb, "vec_id")
    val planted = emb.filter(col("vec_id") >= 56 && col("vec_id") < 64)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.operators.IvfPq.probe(store, "ix", planted, "vec_id", "embedding",
        64, topK = 1)
      .orderBy(col("query_id"))
  }

  /** Trained multinomial Naive Bayes text classifier ([[graft
    * .operators.NaiveBayes]] — the fastText-shaped language/quality
    * filter: per-class token counts + Laplace smoothing, one training
    * aggregate, broadcast model-sized scoring, no window, no driver
    * loop): train on even doc_ids, classify the odd half, emit the
    * integer-exact CONFUSION MATRIX. The oracle replays the whole
    * thing — token counts, priors, smoothing floors, per-doc
    * log-likelihood sums, argmax with class-asc ties — in SQL. */
  def q147_naive_bayes(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val st = graft.operators.NaiveBayes.state(
      docs.filter(col("doc_id") % 2 === 0), "lang", "text")
    graft.operators.NaiveBayes.confusion(st,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "lang", "text")
      .orderBy(col("class"), col("predicted"))
  }

  /** Stream-maintained classifier ([[graft.operators.NaiveBayes]]
    * fold path — the training state is nothing but counts, so the
    * MODEL folds): q147's training half split into three residue
    * batches through a real store (one replayed), then the SAME
    * evaluation. Oracle: q147's verbatim — a classifier maintained
    * per micro-batch is the classifier trained on everything. */
  def q148_naive_bayes_maintained(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val train = docs.filter(col("doc_id") % 2 === 0)
    val wh = graft.QueryFixtures.cachedDir(s"q148:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      def fold(batch: DataFrame, id: Long): Unit =
        graft.operators.NaiveBayes.foldIntoStore(store, "nb", batch,
          "lang", "text", id, epoch = "q148")
      fold(train.filter(col("doc_id") % 6 === 0), 0L)
      fold(train.filter(col("doc_id") % 6 === 2), 1L)
      fold(train.filter(col("doc_id") % 6 === 2), 1L) // replay: must no-op
      fold(train.filter(col("doc_id") % 6 === 4), 2L)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    graft.operators.NaiveBayes.confusion(
        store.read("nb").get.drop("_last_batch", "_epoch"),
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "lang", "text")
      .orderBy(col("class"), col("predicted"))
  }

  /** Index delete + in-place edit recipe ([[graft.operators.Bm25Index
    * .delete]]/[[graft.operators.Bm25Index.upsertDocs]] — the MERGE
    * matched→UPDATE arm for an index whose postings must be deleted, not
    * overwritten): build a third, append a third, then upsert a batch
    * mixing EDITED already-indexed docs (delete + re-append), brand-new
    * docs and unchanged re-sends — replayed once (must no-op end to
    * end). The postings delete is partition-pruned to the segments
    * holding the ids; the meta fingerprint is recomputed last, and the
    * freshness attest runs against the EDITED corpus. Oracle: q140's
    * full-corpus BM25 replay VERBATIM over the edited corpus — delete +
    * re-append must be bit-equal to one-shot indexing of the final
    * state, including df for the token only edits introduced. */
  def q149_bm25_delete_upsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val edited = docs.withColumn("text",
      when(col("doc_id") % 10 === 4, concat(col("text"), lit(" graftedit")))
        .otherwise(col("text")))
    val wh = graft.QueryFixtures.cachedDir(s"q149:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      graft.operators.Bm25Index.build(store, "bx",
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
      graft.operators.Bm25Index.append(store, "bx",
        docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", batchId = 1)
      // batch 2: the remaining third (new) + every edited doc (changed
      // text for the already-indexed ones -> delete + re-append)
      val batch2 = edited.filter(col("doc_id") % 3 === 2 || col("doc_id") % 10 === 4)
      graft.operators.Bm25Index.upsertDocs(store, "bx", batch2,
        "doc_id", "text", batchId = 2)
      graft.operators.Bm25Index.upsertDocs(store, "bx", batch2,
        "doc_id", "text", batchId = 2) // replay: must no-op
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    graft.operators.Bm25Index.verifyFresh(store, "bx", edited, "doc_id")
    val queries = Seq((1L, "spark"), (1L, "graftedit"), (2L, "customer"),
      (2L, "join"), (3L, "window")).toDF("query_id", "term")
    graft.operators.Bm25Index.search(store, "bx", queries, 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Stored-index delete for the ANN family ([[graft.operators.IvfSq
    * .delete]] — codes first, cells + fingerprint last): build a third,
    * append the rest, DELETE every vec_id ≡ 3 (mod 7) (takedown/expiry),
    * re-run the delete (must no-op), attest freshness + codes≡cells
    * parity against the surviving corpus, then probe twins of SURVIVORS
    * (rank-1 self-retrieval) and twins of DELETED vectors — the latter
    * with nProbe = nCells so the probe is exhaustive over the index and
    * the oracle's exact scan over the remaining corpus is the provable
    * answer: the deleted vector must NOT come back, its nearest survivor
    * must. Oracle: q88's exact-scan rank-1 shape over embeddings minus
    * the deleted ids. */
  def q150_ann_ivfsq_delete(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q150:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      graft.operators.IvfSq.build(store, "ix",
        emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
        iterations = 3)
      def app(r: Int): Unit = graft.operators.IvfSq.append(store, "ix",
        emb.filter(col("vec_id") % 3 === r), "vec_id", "embedding", batchId = r)
      app(1)
      app(2)
      val doomed = emb.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
      graft.operators.IvfSq.delete(store, "ix", doomed, "vec_id")
      graft.operators.IvfSq.delete(store, "ix", doomed, "vec_id") // replay: no-op
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    val remaining = emb.filter(col("vec_id") % 7 =!= 3)
    graft.operators.IvfSq.verifyFresh(store, "ix", remaining, "vec_id")
    val planted = emb.filter(col("vec_id") >= 30 && col("vec_id") < 40)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val survivors = planted.filter((col("vec_id") - 1000000L) % 7 =!= 3)
    val deletedTwins = planted.filter((col("vec_id") - 1000000L) % 7 === 3)
    graft.operators.IvfSq.probe(store, "ix", survivors,
        "vec_id", "embedding", topK = 1)
      .unionByName(graft.operators.IvfSq.probe(store, "ix", deletedTwins,
        "vec_id", "embedding", topK = 1, nProbe = 16))
      .orderBy(col("query_id"))
  }

  /** Per-group KMV/theta sketch ([[graft.operators.KmvSketch
    * .statePerGroup]] — the per-stratum distinct sketch, completing the
    * fold family's per-group symmetry): the lineitem partkey population
    * sketched PER RETURNFLAG through a real store in three residue
    * batches (one replayed), then the per-group estimates next to the
    * exact per-group distinct counts. Deterministic end to end (seeded
    * 52-bit md5 minima per group), so the oracle replays the grouped
    * hashes, k-minima, θ and estimator bit-for-bit. */
  def q151_kmv_grouped(s: SparkSession, d: String): DataFrame = {
    val k = 128
    val li = lineitem(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q151:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      def fold(batch: DataFrame, id: Long): Unit =
        graft.operators.KmvSketch.foldIntoStorePerGroup(store, "kg", batch,
          "l_returnflag", "l_partkey", k, seed = "kg1", id, epoch = "q151")
      fold(li.filter(col("l_orderkey") % 3 === 0), 0L)
      fold(li.filter(col("l_orderkey") % 3 === 1), 1L)
      fold(li.filter(col("l_orderkey") % 3 === 1), 1L) // replay: must no-op
      fold(li.filter(col("l_orderkey") % 3 === 2), 2L)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    val st = store.read("kg").get.drop("_last_batch", "_epoch")
    val est = graft.operators.KmvSketch.estimatePerGroup(st, "l_returnflag", k)
    val exact = li.filter(col("l_partkey").isNotNull)
      .groupBy(col("l_returnflag"))
      .agg(count_distinct(col("l_partkey")).as("exact_n"))
    est.join(exact, Seq("l_returnflag")).orderBy(col("l_returnflag"))
  }

  /** Measured recall@k contract for the compressed ANN variants
    * ([[graft.operators.IvfIndex]]/[[graft.operators.IvfSq]]/
    * [[graft.operators.IvfPq]] vs the exact brute-force scan): recall@10
    * of each probe against [[Similarity.annBruteForce]]'s exact top-10,
    * asserted against per-variant floors — the SQ8-vs-PQ recall/memory
    * tradeoff as a NUMBER (RecallSpec pins the exact values per fixture;
    * this gate pins the ordering and floors at every driver SF). The
    * recall computation collects only query-bounded frames (|queries| ×
    * 10 rows per side). The emitted booleans are the contract the
    * oracle can state independently: floors met, compression ordered
    * ivf ≥ sq ≥ pq, probes non-empty. */
  def q152_ann_recall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = embeddings(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q152:$d") { dir =>
      val q152store = new graft.operators.ParquetTableStore(s, dir)
      // two builds, not three: the float-IVF probe reads the SQ index's
      // own IVF trio (same tables, same trained quantizer — IvfSq.build
      // IS IvfIndex.build plus the codes), so "ivf" needs no build
      graft.operators.IvfSq.build(q152store, "sq", emb, "vec_id", "embedding",
        nCells = 16, iterations = 5)
      graft.operators.IvfPq.build(q152store, "pq", emb, "vec_id", "embedding",
        dim = 64, nCells = 16, m = 8, ksub = 16, iterations = 5)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    val queries = emb.filter(col("vec_id") % 31 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id"), col("neighbor_id")).as[(Long, Long)]
        .collect().groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    // the four readouts are INDEPENDENT jobs over a read-only store
    // (exact truth + three probe variants): submitted concurrently
    // (guide §2.6 — Spark's scheduler happily interleaves jobs, and
    // each job's scheduling gaps and straggler tails back-fill the
    // others' idle cores). Each result is a deterministic collect, so
    // the readout is byte-identical to the sequential form.
    import scala.concurrent.{Await, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContextExecutorService =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val (exact, gotIvf, gotSq, gotPq) = try {
      val fE = Future(sets(Similarity.annBruteForce(queries, emb,
        "vec_id", "embedding", 10)))
      val fI = Future(sets(graft.operators.IvfIndex.probe(store, "sq",
        queries, "vec_id", "embedding", topK = 10, nProbe = 8)))
      val fS = Future(sets(graft.operators.IvfSq.probe(store, "sq",
        queries, "vec_id", "embedding", topK = 10, nProbe = 8, shortlist = 32)))
      val fP = Future(sets(graft.operators.IvfPq.probe(store, "pq",
        queries, "vec_id", "embedding", dim = 64, topK = 10, m = 8, ksub = 16,
        nProbe = 8, shortlist = 32)))
      import scala.concurrent.duration.Duration
      (Await.result(fE, Duration.Inf), Await.result(fI, Duration.Inf),
        Await.result(fS, Duration.Inf), Await.result(fP, Duration.Inf))
    } finally pool.shutdown()
    def recall(got: Map[Long, Set[Long]]): Double = {
      val per = exact.map { case (q, truth) =>
        got.getOrElse(q, Set.empty[Long]).intersect(truth).size.toDouble / truth.size
      }
      per.sum / per.size
    }
    val rIvf = recall(gotIvf)
    val rSq = recall(gotSq)
    val rPq = recall(gotPq)
    // ordering tolerance 0.02 (ADVICE r10): ivf >= sq is empirical on a
    // fixture, not structural — SQ's quantized shortlist can legitimately
    // admit a ground-truth neighbor the float scan's top-10 over the same
    // probed pool excludes, so an innocuous fixture or quantizer change
    // must not flip this gate; the floors remain the hard contract
    // pq floor raised 0.35 -> 0.45 in r12: mean-anchored residual
    // encoding (FAISS by_residual — IvfPq's object doc) lifted the
    // measured 32-bit-code recall@10 at nProbe=8/shortlist=32 to 0.535
    // on this sf0.01 fixture (0.576 -> 0.635 on RecallSpec's sf0.001
    // fixture, like for like); RecallSpec also pins the 64-bit quality
    // point (0.735/0.829)
    val floors = Map("ivf" -> 0.60, "ivf_sq" -> 0.60, "ivf_pq" -> 0.45)
    Seq(
      ("ivf", floors("ivf"), rIvf >= floors("ivf"), rIvf >= rSq - 0.02),
      ("ivf_pq", floors("ivf_pq"), rPq >= floors("ivf_pq"), rSq >= rPq - 0.02),
      ("ivf_sq", floors("ivf_sq"), rSq >= floors("ivf_sq"), rIvf >= rSq - 0.02)
    ).toDF("variant", "floor", "meets_floor", "compression_ordered")
      .orderBy(col("variant"))
  }

  /** In-place vector updates on a stored compressed index
    * ([[graft.operators.IvfSq.upsertVectors]] — q149's edit recipe for
    * the ANN family): build over the ORIGINAL corpus, re-deliver every
    * vec_id ≡ 2 (mod 9) with its embedding REVERSED (a same-id changed
    * vector — the case plain append must reject: stale codes would keep
    * steering shortlists), upsert (delete changed ∪ moved, re-encode,
    * append), replay the upsert (must no-op end to end), attest
    * freshness + codes≡cells parity against the EDITED corpus, then
    * probe twins of edited AND unedited vectors with nProbe = nCells so
    * the exhaustive probe is oracle-provable. Oracle: q88's exact-scan
    * rank-1 shape over the CASE-edited corpus — each edited twin must
    * retrieve its id AT THE NEW VECTOR, not the stale one. */
  def q153_ann_vector_upsert(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q153:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      graft.operators.IvfSq.build(store, "ix", emb, "vec_id", "embedding",
        iterations = 3)
      val editedBatch = emb.filter(col("vec_id") % 9 === 2)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      graft.operators.IvfSq.upsertVectors(store, "ix", editedBatch,
        "vec_id", "embedding", batchId = 1)
      graft.operators.IvfSq.upsertVectors(store, "ix", editedBatch,
        "vec_id", "embedding", batchId = 1) // replay: must no-op
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    val editedCorpus = emb.select(col("vec_id"),
      when(col("vec_id") % 9 === 2, reverse(col("embedding")))
        .otherwise(col("embedding")).as("embedding"))
    graft.operators.IvfSq.verifyFresh(store, "ix", editedCorpus, "vec_id")
    val planted = editedCorpus.filter(col("vec_id") >= 0 && col("vec_id") < 30)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.operators.IvfSq.probe(store, "ix", planted, "vec_id", "embedding",
        topK = 1, nProbe = 16)
      .orderBy(col("query_id"))
  }

  /** Stored-index HYBRID retrieval — the q97 fusion served from the
    * warehouse instead of one-shot scans: a [[graft.operators.Bm25Index]]
    * built in two segments and a [[graft.operators.IvfIndex]] built +
    * appended under the frozen quantizer, both attested fresh, probed for
    * the SAME query batch as q97 and fused with
    * [[graft.operators.HybridRank.rrf]]. The semantic probe runs at
    * nProbe = nCells, so it is exhaustive over the index and exactly the
    * brute-force ranking; the lexical search is bit-equal to the one-shot
    * scorer by q140's contract. Oracle: q97's full replay VERBATIM —
    * BM25 arithmetic, exact cosine ranking, and the RRF fusion — i.e.
    * index lifecycle (build/append/attest) composes into retrieval
    * without changing a single fused rank. */
  def q154_hybrid_indexed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val emb = embeddings(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q154:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      graft.operators.Bm25Index.build(store, "hx",
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      graft.operators.Bm25Index.append(store, "hx",
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", batchId = 1)
      graft.operators.IvfIndex.build(store, "hv",
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        iterations = 3)
      graft.operators.IvfIndex.append(store, "hv",
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    graft.operators.Bm25Index.verifyFresh(store, "hx", docs, "doc_id")
    graft.operators.IvfIndex.verifyFresh(store, "hv", emb, "vec_id")
    val lexQ = Seq((1L, "spark"), (1L, "join"), (2L, "window"),
      (2L, "sort"), (3L, "customer")).toDF("query_id", "term")
    val lex = graft.operators.Bm25Index.search(store, "hx", lexQ, 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val qVecs = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 1000001L).as("vec_id"), col("embedding"))
    val sem = graft.operators.IvfIndex.probe(store, "hv", qVecs,
        "vec_id", "embedding", topK = 20, nProbe = 16)
      .select((col("query_id") - 1000000L).as("query_id"),
        col("neighbor_id").as("doc_id"), col("rank"))
    graft.operators.HybridRank.rrf(Seq(lex, sem), k = 60, topK = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Classifier readout — per-group ROC-AUC
    * ([[graft.operators.BinaryMetrics.aucRocPerGroup]], the Mann–Whitney
    * midrank formulation over the GROUPED score distribution): how well
    * document length separates English from the other languages, per
    * source. Every per-score term is exact in double arithmetic, so the
    * oracle replays the whole readout — per-score class counts, the
    * running negatives-below mass, the midrank sum and the single final
    * division — bit-for-bit in SQL. */
  def q155_auc_readout(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .withColumn("is_en", col("lang") === "en")
    graft.operators.BinaryMetrics.aucRocPerGroup(
        docs, Seq("source"), "n_chars", "is_en")
      .orderBy(col("source"))
  }

  /** Zone-map data skipping ([[graft.operators.ZoneMaps]] — the
    * Delta/Iceberg file-stats manifest over the store's own parquet
    * tables): lineitem written range-clustered by l_orderkey, a one-scan
    * zones manifest built over it, then a range read that consults the
    * manifest and opens ONLY admitted files (ZoneMapsSpec pins that the
    * plan actually skips files; this gate pins exactness). Oracle: the
    * plain range filter + rollup — pruned ≡ unpruned is the contract. */
  def q156_zonemap_scan(s: SparkSession, d: String): DataFrame = {
    val wh = graft.QueryFixtures.cachedDir(s"q156:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      store.replace("li_zoned", lineitem(s, d)
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")))
      graft.operators.ZoneMaps.build(store, "li_zoned",
        Seq("l_orderkey", "l_extendedprice"))
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    store.readWhere("li_zoned",
        graft.operators.ZonePred.between("l_orderkey", 1000L, 3000L))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Classifier readout #2 — per-group average precision
    * ([[graft.operators.BinaryMetrics.averagePrecisionPerGroup]], the
    * step-interpolated PR-AUC, tie-safe because thresholds sit at
    * DISTINCT scores): same prediction task as q155. The un-normalized
    * term sum runs in an ORDERED window (score descending) instead of an
    * unordered aggregate, so both engines add in the identical order and
    * the replay is IEEE-identical, not just close. */
  def q157_ap_readout(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .withColumn("is_en", col("lang") === "en")
    graft.operators.BinaryMetrics.averagePrecisionPerGroup(
        docs, Seq("source"), "n_chars", "is_en")
      .orderBy(col("source"))
  }

  /** Unicode text normalization ([[graft.functions.Text.normalizeText]]
    * over the native [[graft.plans.NfcNormalize]] expression): crawl-dirt
    * planted onto the corpus by doc_id residue — a decomposed e+U+0301
    * (must COMPOSE to é), a NUL + zero-width space (control/format chars
    * must become spaces), NBSP runs and tab padding (must collapse) —
    * then the full cleanup pass. The oracle replays the plant with
    * chr() arithmetic and the cleanup with utf8proc's `nfc_normalize` +
    * the same RE2-safe character classes, so BOTH engines' Unicode
    * tables are under the hash, not just the regex plumbing. */
  def q158_text_normalize(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val planted = docs.withColumn("t",
      when(col("doc_id") % 7 === 1, concat(lit("cafe\u0301 "), col("text")))
        // BEL, not NUL: DuckDB's utf8proc-backed nfc_normalize is
        // C-string based and TRUNCATES at an embedded NUL (found by the
        // oracle diff) - the planted control char must be one both
        // engines carry through their normalizers
        .when(col("doc_id") % 7 === 2,
          concat(col("text"), lit("\u0007x\u200B")))
        .when(col("doc_id") % 7 === 3,
          concat(col("text"), lit("a\u00A0\u00A0b \t ")))
        .otherwise(col("text")))
    planted
      .select(col("doc_id"), Text.normalizeText(col("t")).as("norm"))
      .withColumn("n_len", length(col("norm")).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Fuzzy (paraphrase) decontamination
    * ([[graft.operators.Decontaminate.fuzzyHits]] — the leak channel the
    * exact n-gram recipe can't see): the eval set is built FROM corpus
    * docs with a replayable perturbation (an appended answer tail), so
    * every true (corpus, eval) near-dup pair is known to the oracle by
    * construction. Candidates via cross-side MinHash banding (corpus
    * bands × broadcast eval bands — the corpus never self-joins), then
    * exact 3-shingle Jaccard on the candidate set, threshold 0.8.
    * Oracle: the perturbation + the EXACT all-pairs corpus×eval Jaccard
    * replayed (no banding) — the gate passing IS the measured
    * no-LSH-miss statement at this threshold on these fixtures (the
    * q20/q62 convention; hashes are fixed, so the outcome is
    * deterministic per fixture). */
  def q159_fuzzy_decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val evalDocs = docs
      .filter(col("doc_id") % 37 === 5 && col("n_chars") >= 150)
      .select((col("doc_id") + 900000L).as("doc_id"),
        concat(col("text"), lit(" benchmark answer tail")).as("text"))
    graft.operators.Decontaminate.fuzzyHits(
        docs, evalDocs, "doc_id", "text", threshold = 0.8)
      .orderBy(col("doc_id"), col("eval_id"))
  }

  /** Quality-ranked survivorship
    * ([[Similarity.clusterSurvivorsBest]]): q62's near-dup components,
    * but the survivor is the LONGEST member (n_chars, ties → smallest
    * id) instead of the min-id accident — the best-copy rule a
    * production curation pass actually wants. Oracle: q62's
    * recursive-CTE closure with the argmax replayed as a window. */
  def q160_cluster_survivors(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = verifiedDupPairs(s, d)
    Similarity.clusterSurvivorsBest(pairs,
        docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars")
      .filter(col("cluster_size") >= 2)
      .orderBy(col("label"))
  }

  /** Stream-maintained classifier readout
    * ([[graft.operators.BinaryMetrics]] fold path — the per-score class
    * counts are the sufficient statistic for BOTH metrics and they are
    * plain sums, so the READOUT folds): the q155/q157 prediction task
    * split into three residue batches through a real store (one
    * replayed, must no-op), then AUC and AP read from the state with
    * zero data touch. Oracle: the one-shot q155 + q157 replays joined —
    * a readout maintained per micro-batch is the readout of
    * everything. */
  def q161_readout_maintained(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).withColumn("is_en", col("lang") === "en")
    val wh = graft.QueryFixtures.cachedDir(s"q161:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      def fold(b: DataFrame, id: Long): Unit =
        graft.operators.BinaryMetrics.foldIntoStore(store, "bm", b,
          Seq("source"), "n_chars", "is_en", id, epoch = "q161")
      fold(docs.filter(col("doc_id") % 3 === 0), 0L)
      fold(docs.filter(col("doc_id") % 3 === 1), 1L)
      fold(docs.filter(col("doc_id") % 3 === 1), 1L) // replay: must no-op
      fold(docs.filter(col("doc_id") % 3 === 2), 2L)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    val st = store.read("bm").get.drop("_last_batch", "_epoch")
    graft.operators.BinaryMetrics.aucFromState(st, Seq("source"))
      .join(graft.operators.BinaryMetrics.apFromState(st, Seq("source"))
        .select(col("source"), col("ap")), Seq("source"))
      .orderBy(col("source"))
  }

  /** Release-audit triple ([[graft.operators.Anonymity]] — k-anonymity
    * was q111; this adds l-DIVERSITY (attribute disclosure: a size-50
    * class that is all one language leaks everything, Machanavajjhala
    * TKDD'07 — both distinct and entropy forms, the latter via the
    * shuffle-free closed form ln n − Σc·ln c / n) and t-CLOSENESS
    * (skew disclosure: per-class sensitive distribution vs the global
    * one as total variation, Li ICDE'07). Oracle: the per-cell counts,
    * the entropy closed form, the full class × value grid with
    * absent-value mass, every rounding site and every verdict replayed
    * in SQL. */
  def q162_privacy_audit(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .withColumn("len_bucket", floor(col("n_chars") / 200).cast("long"))
    val qi = Seq("source", "len_bucket")
    val div = graft.operators.Anonymity.diversityReport(docs, qi, "lang", 3L)
    val clo = graft.operators.Anonymity.closenessReport(docs, qi, "lang", 0.3)
    div.crossJoin(clo.select(col("max_tvd"), col("groups_beyond_t"),
      col("t_close")))
  }

  /** The 64-bit residual-PQ QUALITY operating point under the oracle gate
    * (VERDICT r12 item 6): q152 pins the compression-maximal 32-bit codes
    * (m=8); this gate pins m=16 × ksub=16 — the knob a recall-seeking
    * user actually turns, worth turning only because mean-anchored
    * residual encoding makes added bits spend on within-cell detail
    * ([[graft.operators.IvfPq]]'s object doc; the raw-encoded r11 cut
    * plateaued near 0.58 regardless of bitrate). Same protocol as q152:
    * recall@10 vs the exact brute-force scan, floors + refine ordering
    * emitted as booleans the oracle states independently. Floors sit
    * under the measured sf0.01 values — 0.712 (shortlist 32) / 0.806
    * (shortlist 64), via the PqQualityPoint tool, r13 — to absorb only
    * genuine regressions; RecallSpec pins the sf0.001 fixture's values
    * (0.735/0.829). */
  def q163_ann_pq_quality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = embeddings(s, d)
    // the m=16 codebook build (k-means × 16 subspaces) dominated the
    // bench's most expensive gate (52 s driver, VERDICT r14) — cached
    // once per JVM; the probes and the brute-force truth run per call
    val wh = graft.QueryFixtures.cachedDir(s"q163:$d") { dir =>
      graft.operators.IvfPq.build(new graft.operators.ParquetTableStore(s, dir),
        "pq16", emb, "vec_id", "embedding",
        dim = 64, nCells = 16, m = 16, ksub = 16, iterations = 5)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    val queries = emb.filter(col("vec_id") % 31 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id"), col("neighbor_id")).as[(Long, Long)]
        .collect().groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    // exact truth + the two refine operating points are independent
    // read-only jobs — overlapped (guide §2.6), q152's pattern; the
    // collects are deterministic so recalls are unchanged
    import scala.concurrent.{Await, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContextExecutorService =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    def probeAt(shortlist: Int): Map[Long, Set[Long]] =
      sets(graft.operators.IvfPq.probe(store, "pq16", queries,
        "vec_id", "embedding", dim = 64, topK = 10, m = 16, ksub = 16,
        nProbe = 8, shortlist = shortlist))
    val (exact, got32, got64) = try {
      val fE = Future(sets(Similarity.annBruteForce(queries, emb,
        "vec_id", "embedding", 10)))
      val f32 = Future(probeAt(32))
      val f64 = Future(probeAt(64))
      import scala.concurrent.duration.Duration
      (Await.result(fE, Duration.Inf), Await.result(f32, Duration.Inf),
        Await.result(f64, Duration.Inf))
    } finally pool.shutdown()
    def recall(got: Map[Long, Set[Long]]): Double = {
      val per = exact.map { case (q, truth) =>
        got.getOrElse(q, Set.empty[Long]).intersect(truth).size.toDouble / truth.size
      }
      per.sum / per.size
    }
    val r32 = recall(got32)
    val r64 = recall(got64)
    // refine ordering carries the same 0.02 empirical tolerance as q152's
    // compression ordering: a larger refine budget must not lose recall
    // beyond fixture noise. Floors raised 0.60/0.70 → 0.67/0.76 in r14
    // (q152's raise-once-stable discipline, VERDICT r13 item 5): the
    // measured values held at 0.712/0.806 across r13's runs, and the old
    // floors left a ~15% window a real PQ-quality regression could hide
    // in.
    val floors = Map("shortlist_32" -> 0.67, "shortlist_64" -> 0.76)
    Seq(
      ("shortlist_32", floors("shortlist_32"),
        r32 >= floors("shortlist_32"), r64 >= r32 - 0.02),
      ("shortlist_64", floors("shortlist_64"),
        r64 >= floors("shortlist_64"), r64 >= r32 - 0.02)
    ).toDF("operating_point", "floor", "meets_floor", "refine_ordered")
      .orderBy(col("operating_point"))
  }

  /** Zone-map ROUTED reads — the store's DEFAULT read path consulting the
    * manifest ([[graft.operators.ParquetTableStore.readWhere]] with a
    * range and a point, VERDICT r12 item 3: "the manifest only pays if the
    * common path uses it"): a range-clustered lineitem with a stats
    * manifest on the cluster key and a per-file bloom on the unclustered
    * l_partkey, read three ways — routed range (stats admission), routed
    * point (bloom admission), and a routed range AFTER a compaction made
    * the manifest stale and the scheduled maintenance pass
    * ([[graft.operators.IndexMaintenance.maintain]] "table" family)
    * healed it. Each readout is collected BEFORE the rewrite (the
    * admitted-file read resolves names eagerly — ZoneMapsSpec pins the
    * file-skip; this gate pins exactness through the maintain→read
    * composition). Oracle: the three plain filters. */
  def q164_zonemap_routed_read(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // mutating gate (compact + heal leg) → a fresh writable COPY of the
    // cached base per call. The copy is a warehouse RELOCATION, which
    // r15's root-relative manifest keys make a supported operation
    // (ZoneMapsSpec pins it) — so every bench pass of this gate also
    // exercises the relocated-manifest read path end to end.
    val wh = graft.QueryFixtures.freshCopy(s"q164_base:$d") { dir =>
      val st0 = new graft.operators.ParquetTableStore(s, dir)
      st0.replace("li_zoned", lineitem(s, d)
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")))
      graft.operators.ZoneMaps.build(st0, "li_zoned", Seq("l_orderkey"),
        bloomCols = Seq("l_partkey"))
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    def readout(df: DataFrame, tag: String): (String, Long, Option[Double]) = {
      val r = df.agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty")).head()
      (tag, r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    }
    import graft.operators.ZonePred
    val range = ZonePred.between("l_orderkey", 500L, 1500L)
    val viaRange = readout(store.readWhere("li_zoned", range), "range_orderkey")
    val viaPoint = readout(
      store.readWhere("li_zoned", ZonePred.Point("l_partkey", 1L)), "point_partkey")
    // rewrite -> manifest stale -> the scheduled pass heals -> routed
    // read works again (without the maintain, readWhere fails LOUD here)
    store.compact("li_zoned", targetFiles = 4)
    graft.operators.IndexMaintenance.maintain(store, "li_zoned", "table")
    val healed = readout(store.readWhere("li_zoned", range), "range_after_heal")
    Seq(viaRange, viaPoint, healed).toDF("probe", "n", "sum_qty")
      .orderBy(col("probe"))
  }

  /** Shared READ-ONLY zone fixture for q165/q169/q173 (identical
    * construction: range-clustered lineitem + a stats manifest on the
    * cluster key + a per-file bloom on the unclustered l_partkey) —
    * built once per JVM; the three gates read it through the one routed
    * read with three tree shapes (AND, OR, AND of an OR) and never
    * mutate it (q164/q170, which rewrite, keep their own warehouses). */
  private def zonedLineitem(s: SparkSession, d: String): String =
    graft.QueryFixtures.cachedDir(s"zoned_lineitem:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      store.replace("li_zoned", lineitem(s, d)
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")))
      graft.operators.ZoneMaps.build(store, "li_zoned", Seq("l_orderkey"),
        bloomCols = Seq("l_partkey"))
    }

  /** Conjunctive zone-map-routed read
    * ([[graft.operators.ParquetTableStore.readWhere]] over a
    * [[graft.operators.ZonePred.And]] — the compound-filter shape real
    * reads have): ONE manifest consult admits only the files
    * surviving BOTH covered predicates (l_orderkey range via min/max
    * stats ∧ l_partkey equality via the per-file bloom — the admitted
    * set is the intersection), while the l_quantity range — a column
    * the manifest carries nothing for — rides along as a plain residual
    * over the admitted files. Oracle: the whole conjunction as one
    * WHERE clause; pruned ≡ unpruned is the contract, as in q156/q164. */
  def q165_zonemap_compound(s: SparkSession, d: String): DataFrame = {
    val store = new graft.operators.ParquetTableStore(s, zonedLineitem(s, d))
    import graft.operators.ZonePred
    store.readWhere("li_zoned", ZonePred.And(Seq(
        ZonePred.between("l_orderkey", 500L, 3000L),
        ZonePred.between("l_quantity", 10.0, 40.0),
        ZonePred.Point("l_partkey", 817L))))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("rev"))
      .orderBy(col("l_returnflag"))
  }

  /** FILTERED ANN ([[graft.operators.IvfIndex.probeFiltered]] — the
    * metadata-predicate vector search, FAISS `IDSelector`): top-1 over
    * ONLY the corpus vectors whose vec_id ≡ 0 (mod 3), probed
    * exhaustively (nProbe = nCells) so the answer is oracle-provable.
    * Queries are twins of the first 30 corpus vectors — two thirds of
    * them twin a DISALLOWED vector, so their true filtered neighbor is
    * some OTHER allowed vector the oracle must agree on exactly; a
    * post-hoc filter (rank, then drop disallowed) would return nothing
    * for those queries instead. Oracle: q153's exact-scan rank-1 shape
    * with the predicate inside the candidate CTE. */
  def q166_ann_filtered(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q166:$d") { dir =>
      graft.operators.IvfIndex.build(new graft.operators.ParquetTableStore(s, dir),
        "fx", emb, "vec_id", "embedding", nCells = 16, iterations = 3)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    val allowed = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    val queries = emb.filter(col("vec_id") < 30)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.operators.IvfIndex.probeFiltered(store, "fx", queries,
        "vec_id", "embedding", allowed, topK = 1, nProbe = 16)
      .orderBy(col("query_id"))
  }

  /** FILTERED ANN over the COMPRESSED IVF-SQ index
    * ([[graft.operators.IvfSq.probeFiltered]], VERDICT r13 item 2):
    * q166's protocol — twins of the first 30 corpus vectors, two thirds
    * twinning DISALLOWED vectors, allowed = vec_id ≡ 0 (mod 3) — at the
    * exhaustive operating point (nProbe = nCells AND shortlist = the
    * allowed candidate count, so the SQ shortlist cannot drop an allowed
    * candidate and the exact refine makes the ranking brute-force-
    * identical). The part q166 cannot cover: the allowed semi-join must
    * land BEFORE the shortlist cut — FilteredAnnSpec pins the selective-
    * filter recall collapse a post-shortlist filter suffers; this gate
    * pins hash-exactness of the filter-then-shortlist composition
    * against the filtered brute-force oracle. */
  def q167_ann_filtered_sq(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q167:$d") { dir =>
      graft.operators.IvfSq.build(new graft.operators.ParquetTableStore(s, dir),
        "fsq", emb, "vec_id", "embedding", nCells = 16, iterations = 3)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    val allowed = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    val queries = emb.filter(col("vec_id") < 30)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.operators.IvfSq.probeFiltered(store, "fsq", queries,
        "vec_id", "embedding", allowed, topK = 1, nProbe = 16,
        shortlist = allowedMod3Count(s, d))
      .orderBy(col("query_id"))
  }

  /** |{vec_id ≡ 0 (mod 3)}| for the q167/q168 exhaustive shortlist —
    * memoized per JVM (VERDICT r14 nit 3: the per-gate `allowed.count()`
    * was an extra action per bench pass). */
  private def allowedMod3Count(s: SparkSession, d: String): Int =
    graft.QueryFixtures.memo(s, s"allowed_mod3:$d")(
      embeddings(s, d).filter(col("vec_id") % 3 === 0).count().toInt)

  /** FILTERED ANN over the COMPRESSED IVF-PQ (residual-ADC) index
    * ([[graft.operators.IvfPq.probeFiltered]]): same protocol and
    * exhaustive operating point as q167 — here the stakes are higher
    * because the ADC shortlist is the only stage that sees compressed
    * scores, so a disallowed twin taking a shortlist slot is
    * unrecoverable by any refine budget; the filter-first composition
    * must still be brute-force-identical. */
  def q168_ann_filtered_pq(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q168:$d") { dir =>
      graft.operators.IvfPq.build(new graft.operators.ParquetTableStore(s, dir),
        "fpq", emb, "vec_id", "embedding",
        dim = 64, nCells = 16, m = 8, ksub = 16, iterations = 3)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    val allowed = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    val queries = emb.filter(col("vec_id") < 30)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.operators.IvfPq.probeFiltered(store, "fpq", queries,
        "vec_id", "embedding", allowed, dim = 64, topK = 1, m = 8,
        ksub = 16, nProbe = 16, shortlist = allowedMod3Count(s, d))
      .orderBy(col("query_id"))
  }

  /** Disjunctive zone-map-routed read
    * ([[graft.operators.ParquetTableStore.readWhere]] over a
    * [[graft.operators.ZonePred.Or]], VERDICT r13 item 4): an OR of two covered ranges and a covered bloom point —
    * ONE manifest consult admits the UNION of the per-predicate
    * admissions (a file survives when ANY disjunct can match there),
    * the whole disjunction re-applies as the residual. Oracle: the OR
    * as one plain WHERE; pruned ≡ unpruned, q165's contract flipped
    * from intersection to union. */
  def q169_zonemap_disjunctive(s: SparkSession, d: String): DataFrame = {
    val store = new graft.operators.ParquetTableStore(s, zonedLineitem(s, d))
    import graft.operators.ZonePred
    store.readWhere("li_zoned", ZonePred.Or(Seq(
        ZonePred.between("l_orderkey", 500L, 1200L),
        ZonePred.between("l_orderkey", 4000L, 4600L),
        ZonePred.Point("l_partkey", 817L))))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("rev"))
      .orderBy(col("l_returnflag"))
  }

  /** Zone-map admission on the v2/SQL read path
    * ([[graft.operators.ParquetTableStore.sqlTable]] +
    * [[graft.sources.v2.GraftScanBuilder]]'s filter pushdown, VERDICT
    * r13 item 3 — "at 100 TB the common path is SQL"): three `spark.sql`
    * reads over a range-clustered store table with a stats+bloom
    * manifest. Leg 1: a compound WHERE prunes the planned file list
    * (the `pruned` boolean asserts planned < total — the inputFiles
    * analogue for a v2 scan). Leg 2: the table is REWRITTEN and the
    * manifest left stale — the SQL path must fall back TRANSPARENTLY to
    * the full listing (pruned = false) with the identical answer (the
    * documented stale contract: loud on the routed store API, invisible
    * on SQL). Leg 3: the scheduled maintenance heals the manifest and
    * pruning returns. Oracle: the same WHERE over plain parquet, plus
    * the three pruning booleans stated independently. */
  def q170_zonemap_sql(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // mutating gate (the stale leg rewrites the table) → fresh writable
    // COPY of the cached base per call; the copy doubles as a live
    // warehouse-relocation exercise (q164's note — root-relative keys)
    val wh = graft.QueryFixtures.freshCopy(s"q170_base:$d") { dir =>
      val st0 = new graft.operators.ParquetTableStore(s, dir)
      st0.replace("li_sql", lineitem(s, d).select(col("l_orderkey"),
          col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_returnflag"))
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")))
      graft.operators.ZoneMaps.build(st0, "li_sql", Seq("l_orderkey"),
        bloomCols = Seq("l_partkey"))
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    def cluster(parts: Int): Unit = store.replace("li_sql",
      store.read("li_sql").get
        .repartitionByRange(parts, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")))
    val fq = store.sqlTable("li_sql")
    def leg(tag: String): (String, Long, Option[Double], Boolean) = {
      val df = s.sql(s"SELECT count(*) AS n, round(sum(l_quantity), 2) " +
        s"AS sum_qty FROM $fq WHERE l_orderkey BETWEEN 500 AND 1500 " +
        "AND l_partkey <> 0")
      val planned = graft.sources.v2.GraftParquetTable.plannedDataFiles(df)
      val total = store.read("li_sql").get.inputFiles.length
      val r = df.head()
      (tag, r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        planned.exists(_ < total))
    }
    val pruned = leg("sql_pruned")
    // rewrite WITHOUT healing: SQL must fall back, silently and exactly
    cluster(4)
    val stale = leg("sql_stale_fallback")
    // the scheduled pass heals the manifest; pruning returns
    graft.operators.IndexMaintenance.maintain(store, "li_sql", "table")
    val healed = leg("sql_after_heal")
    Seq(pruned, stale, healed).toDF("probe", "n", "sum_qty", "pruned")
      .orderBy(col("probe"))
  }

  /** FILTERED BM25 — the metadata-predicate TEXT search completing the
    * filtered-retrieval family (q166/q167/q168 cover the vector side):
    * [[graft.operators.Bm25Index.searchFiltered]] restricts candidates
    * to allowed doc ids BEFORE the top-k while every corpus statistic
    * (N, avgdl, per-term df) stays GLOBAL — Lucene's filter-query
    * semantics: the filter narrows which docs can be RETURNED, never
    * what a score MEANS, so a doc's score is identical under any
    * filter and rankings stay comparable for fusion. The oracle states
    * that split independently: df/N/avgdl over ALL documents, the
    * candidate predicate only inside the contributions CTE. */
  def q171_bm25_filtered(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q171:$d") { dir =>
      graft.operators.Bm25Index.build(new graft.operators.ParquetTableStore(s, dir),
        "bf", docs, "doc_id", "text")
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    val allowed = docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"))
    val queries = Seq((1L, "spark"), (1L, "sort"), (2L, "customer"),
      (2L, "join"), (3L, "window")).toDF("query_id", "term")
    graft.operators.Bm25Index.searchFiltered(store, "bf", queries, allowed,
        "doc_id", 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** FILTERED HYBRID retrieval — the full filtered-RAG read path
    * composed end to end: the SAME metadata predicate (id ≡ 0 mod 3)
    * restricts BOTH arms — [[graft.operators.Bm25Index.searchFiltered]]
    * (lexical, global statistics) and
    * [[graft.operators.IvfIndex.probeFiltered]] (semantic, exhaustive
    * at nProbe = nCells) — BEFORE each arm's top-k, and
    * [[graft.operators.HybridRank.rrf]] fuses the two ALLOWED-ONLY rank
    * lists. Filtering before fusion is semantics, not placement: RRF
    * contributions are 1/(k + rank), so a post-fusion filter would keep
    * the disallowed docs' rank slots in both arms and deflate every
    * allowed doc's fused score below what the allowed-only ranking
    * gives. Oracle: q154's two-arm replay with the predicate inside
    * each arm's candidate CTE. */
  def q172_hybrid_filtered(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val emb = embeddings(s, d)
    val wh = graft.QueryFixtures.cachedDir(s"q172:$d") { dir =>
      val store = new graft.operators.ParquetTableStore(s, dir)
      graft.operators.Bm25Index.build(store, "hx", docs, "doc_id", "text")
      graft.operators.IvfIndex.build(store, "hv", emb, "vec_id", "embedding",
        iterations = 3)
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    val allowedDocs = docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"))
    val allowedVecs = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    val lexQ = Seq((1L, "spark"), (1L, "join"), (2L, "window"),
      (2L, "sort"), (3L, "customer")).toDF("query_id", "term")
    val lex = graft.operators.Bm25Index.searchFiltered(store, "hx", lexQ,
        allowedDocs, "doc_id", 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val qVecs = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 1000001L).as("vec_id"), col("embedding"))
    val sem = graft.operators.IvfIndex.probeFiltered(store, "hv", qVecs,
        "vec_id", "embedding", allowedVecs, topK = 20, nProbe = 16)
      .select((col("query_id") - 1000000L).as("query_id"),
        col("neighbor_id").as("doc_id"), col("rank"))
    graft.operators.HybridRank.rrf(Seq(lex, sem), k = 60, topK = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** MIXED boolean-tree routed read
    * ([[graft.operators.ParquetTableStore.readWhere]], VERDICT r14
    * item 6): the `a AND (b OR c)` shape the flat AND and flat OR reads
    * of q165 and q169 cannot express — a covered orderkey range ANDed with (a bloom point OR a
    * second orderkey range). ONE manifest consult evaluates the composed
    * admission (the range admission intersected with the union of the
    * two disjunct admissions — the SQL path's recursive `admitOf`
    * composition, now on the store API); the WHOLE tree re-applies as
    * the residual, so pruned ≡ plain. Oracle: the tree as one WHERE
    * clause — q169's contract over a mixed tree. */
  def q173_zonemap_mixed(s: SparkSession, d: String): DataFrame = {
    val store = new graft.operators.ParquetTableStore(s, zonedLineitem(s, d))
    import graft.operators.ZonePred
    store.readWhere("li_zoned", ZonePred.And(Seq(
        ZonePred.between("l_orderkey", 500L, 4600L),
        ZonePred.Or(Seq(ZonePred.Point("l_partkey", 817L),
          ZonePred.between("l_orderkey", 4000L, 4600L))))))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("rev"))
      .orderBy(col("l_returnflag"))
  }

  /** CLUSTERING compaction ([[graft.operators.ParquetTableStore
    * .compactSorted]] wired into the scheduled "table" maintenance pass,
    * VERDICT r15 item 2): a long-lived appended table decays — each
    * interleaved-key batch widens every file's [min, max] interval until
    * zone admission degenerates to admit-all (correct, never fast), and
    * the plain round-robin `compact` would make that PERMANENT. The gate
    * stages exactly that decayed layout (8 round-robin files, each
    * spanning the full l_orderkey range — the routed read admits ALL of
    * them), runs one maintenance tick with `clusterCols` set (file count
    * 8 > maxDataFiles 4 → sorted rewrite, then the same tick's heal
    * rebuilds the manifest over the new layout), and reads again: the
    * identical routed range now admits STRICTLY FEWER files — while both
    * legs return the byte-identical aggregate, because pruning is I/O,
    * never semantics (q164's contract). Oracle: the plain WHERE's
    * aggregate with the two admits-fewer booleans stated independently
    * (q170's boolean pattern). Reference analog: BigQuery re-clusters
    * tables transparently as data arrives — `README.md:13`'s "efficient
    * querying"; Delta's OPTIMIZE ZORDER is the same maintenance. */
  def q174_zonemap_cluster_compact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // mutating gate (the tick rewrites the table) → fresh writable COPY
    // of the interleaved base per call (q164's relocation note applies)
    val wh = graft.QueryFixtures.freshCopy(s"q174_base:$d") { dir =>
      val st0 = new graft.operators.ParquetTableStore(s, dir)
      st0.replace("li_il", lineitem(s, d).repartition(8))
      graft.operators.ZoneMaps.build(st0, "li_il", Seq("l_orderkey"))
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    val range = graft.operators.ZonePred.between("l_orderkey", 500L, 1500L)
    def leg(tag: String): (String, Long, Option[Double], Boolean) = {
      val (admitted, total) = graft.operators.ZoneMaps.planFiles(
        store, "li_il", range)
      val r = store.readWhere("li_il", range)
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty")).head()
      (tag, r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        admitted.size < total)
    }
    val before = leg("a_interleaved")
    val rep = graft.operators.IndexMaintenance.maintainTable(store, "li_il",
      Seq.empty, clusterCols = Seq("l_orderkey"), maxDataFiles = 4)
    require(rep.data.exists(_.compacted),
      "the tick must have run the sorted rewrite (8 files > threshold 4)")
    val after = leg("b_clustered")
    Seq(before, after).toDF("probe", "n", "sum_qty", "admits_fewer")
      .orderBy(col("probe"))
  }

  /** Z-ORDER clustering compaction on the DEPTH trigger
    * ([[graft.operators.ParquetTableStore.compactZOrder]] +
    * [[graft.operators.ZoneMaps.clusteringDepth]] — q174's two gaps
    * closed in one gate): (1) a lexicographic sort clusters only its
    * leading column — file min/max on the second span the full range
    * and reads filtered on it prune nothing; sorting by the Morton
    * interleave (Delta's OPTIMIZE ZORDER) bounds every file's
    * RECTANGLE, so selective routed reads on EITHER dimension admit
    * fewer files. (2) The rewrite fires on the manifest-derived decay
    * metric (depth ≈ fileCount on this interleaved base > the 4.0
    * threshold), not on file count — the file-count proxy would sleep
    * through a few-files-but-fully-interleaved table, which is exactly
    * this layout (8 files). Both dimensions read before and after; all
    * four aggregates hash-equal to the plain WHEREs (pruning is I/O,
    * never semantics), the admits-fewer booleans state the layout
    * claim. */
  def q175_zonemap_zorder(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // mutating gate (the tick rewrites the table) → fresh writable COPY
    val wh = graft.QueryFixtures.freshCopy(s"q175_base:$d") { dir =>
      val st0 = new graft.operators.ParquetTableStore(s, dir)
      st0.replace("li_z", lineitem(s, d).repartition(8))
      graft.operators.ZoneMaps.build(st0, "li_z",
        Seq("l_orderkey", "l_partkey"))
    }
    val store = new graft.operators.ParquetTableStore(s, wh)
    // okey probe 500-700, not q174's 500-1500 — see the oracle-side
    // comment: 500-1500 is two thirds of sf0.001's entire key space,
    // where the z-order admits-fewer claim is legitimately false
    val dims = Seq(("okey", "l_orderkey", 500L, 700L),
      ("pkey", "l_partkey", 1L, 40L))
    def leg(layout: String): Seq[(String, Long, Option[Double], Boolean)] =
      dims.map { case (dim, c, lo, hi) =>
        val range = graft.operators.ZonePred.between(c, lo, hi)
        val (admitted, total) = graft.operators.ZoneMaps.planFiles(
          store, "li_z", range)
        val r = store.readWhere("li_z", range)
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity")), 2).as("sum_qty")).head()
        (s"${layout}_$dim", r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          admitted.size < total)
      }
    val before = leg("a_interleaved")
    val rep = graft.operators.IndexMaintenance.maintainTable(store, "li_z",
      Seq.empty, clusterCols = Seq("l_orderkey", "l_partkey"),
      zOrder = true, maxClusterDepth = 4.0)
    require(rep.clusterDepth.exists(_ > 4.0) && rep.data.exists(_.compacted),
      s"the interleaved base must trigger the depth rule: $rep")
    val after = leg("b_zorder")
    (before ++ after).toDF("probe", "n", "sum_qty", "admits_fewer")
      .orderBy(col("probe"))
  }

  // ------------------------------------------------------------- registry

  /** One gate: `plan` builds the result from an sf directory, and
    * `oracleSql` is the ANSI SQL that DuckDB runs on the same parquet. */
  final case class Gate(name: String, plan: (SparkSession, String) => DataFrame,
                        oracleSql: String)

  /** The gates whose name contains any of the comma-separated substrings
    * of `filter` (every gate when None), in name order. Fails when a
    * filter matches no gate, so a typo never runs an empty sweep. */
  def select(filter: Option[String]): Seq[Gate] = filter.fold(gates) { f =>
    val subs = f.split(',').toSeq
    val hit = gates.filter(g => subs.exists(g.name.contains))
    require(hit.nonEmpty, s"no gate name contains any of '$f'")
    hit
  }

  /** Every gate, sorted by name. Lazy: the oracle helpers below read
    * vals declared after this one. */
  lazy val gates: Seq[Gate] = Seq(
    Gate("q01_pricing_summary", q01_pricing_summary,
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    Gate("q02_latest_event", q02_latest_event,
      """SELECT event_id, ts, user_id, event_type FROM events
         ORDER BY ts DESC, event_id DESC LIMIT 1"""),
    Gate("q03_orphan_lineitems", q03_orphan_lineitems,
      """SELECT count(*) AS invalid_refs FROM lineitem l
         LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE o.o_orderkey IS NULL"""),
    Gate("q04_star_revenue", q04_star_revenue,
      """SELECT r_name,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name"""),
    Gate("q05_dedup_first_wins", q05_dedup_first_wins,
      """SELECT event_id, user_id, event_type, round(value, 2) AS value FROM (
           SELECT event_id, user_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
           FROM events) t WHERE rn = 1 ORDER BY event_id"""),
    Gate("q06_distinct", q06_distinct,
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
         ORDER BY o_orderstatus, o_orderpriority"""),
    Gate("q07_uniqueness_check", q07_uniqueness_check,
      """SELECT count(*) AS total_rows,
         count(DISTINCT o_orderkey) AS unique_keys,
         count(DISTINCT (o_custkey, o_orderstatus)) AS unique_cust_status
         FROM orders"""),
    Gate("q08_dup_report", q08_dup_report,
      """SELECT user_id, count(*) AS cnt FROM events
         GROUP BY user_id HAVING count(*) > 1 ORDER BY user_id"""),
    Gate("q09_daily_rollup", q09_daily_rollup,
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
         round(sum(value), 2) AS total_value,
         round(avg(value), 4) AS avg_value
         FROM events GROUP BY CAST(ts AS DATE) ORDER BY day"""),
    Gate("q10_incremental_buffer", q10_incremental_buffer,
      """SELECT count(*) AS recent_events FROM events
         WHERE ts >= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)"""),
    Gate("q11_normalize_projection", q11_normalize_projection,
      """SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
         CAST(o_custkey AS VARCHAR) AS customer_id,
         coalesce(o_orderstatus, '') AS financial_status,
         round(o_totalprice, 2) AS total_price,
         CASE WHEN o_totalprice > 150000.0 THEN 'high' ELSE 'normal' END AS value_band,
         strftime(o_orderdate, '%Y-%m') AS order_month
         FROM orders ORDER BY order_id"""),
    Gate("q12_merge_upsert", q12_merge_upsert,
      """WITH base AS (
           SELECT o_orderkey, 'old' AS status, o_totalprice AS total_price
           FROM orders WHERE o_orderkey % 2 = 0),
         upd AS (
           SELECT o_orderkey, 'new' AS status, o_totalprice AS total_price
           FROM orders WHERE o_orderkey % 3 = 0)
         SELECT * FROM base b WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = b.o_orderkey)
         UNION ALL SELECT * FROM upd
         ORDER BY o_orderkey"""),
    Gate("q13_regexp_json", q13_regexp_json,
      """SELECT json_extract_string(props, '$.k') AS k_json,
         regexp_extract(props, '([0-9]+)', 1) AS k_re,
         count(*) AS cnt
         FROM events GROUP BY k_json, k_re ORDER BY k_json, k_re"""),
    Gate("q14_doc_summary", q14_doc_summary,
      """SELECT upper(lang) AS lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         round(avg(n_chars), 4) AS avg_chars,
         min(doc_id) AS first_doc
         FROM documents GROUP BY upper(lang) ORDER BY lang"""),
    Gate("q15_explode_roundtrip", q15_explode_roundtrip,
      """SELECT count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem"""),
    Gate("q16_text_quality", q16_text_quality,
      """WITH t AS (
           SELECT source,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
             CAST(len(list_filter(string_split(text, ' '),
               w -> w IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE) AS sw,
             CAST(length(text) AS DOUBLE) AS n_chars
           FROM documents)
         SELECT source, count(*) AS n_docs,
           round(avg(round(
             least(1.0, sw / n_tok * 2.0) * 0.4
             + (CASE WHEN n_chars / n_tok BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.3
             + (CASE WHEN n_tok >= 20 THEN 1.0 ELSE n_tok / 20.0 END) * 0.3, 4)), 4) AS avg_quality,
           round(avg(n_tok), 4) AS avg_tokens
         FROM t GROUP BY source ORDER BY source"""),
    Gate("q17_token_counts", q17_token_counts,
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS lex_tokens,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
         FROM documents ORDER BY doc_id"""),
    Gate("q18_fingerprint_dedup", q18_fingerprint_dedup,
      """SELECT count(*) AS total_docs,
         count(DISTINCT md5(text)) AS distinct_fp,
         count(*) - count(DISTINCT md5(text)) AS exact_dups
         FROM documents"""),
    Gate("q19_langid", q19_langid,
      """WITH t AS (
           SELECT lang,
             len(list_filter(string_split(text,' '), w -> w IN ('the','a','and','of','to','in','is','it'))) AS en,
             len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','que','y','en','un','por'))) AS es,
             len(list_filter(string_split(text,' '), w -> w IN ('der','die','und','den','von','zu','das','mit'))) AS de,
             len(list_filter(string_split(text,' '), w -> w IN ('le','les','des','et','du','une','dans','pour'))) AS fr
           FROM documents)
         SELECT lang,
           CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
                WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
                WHEN de >= fr AND de > 0 THEN 'de'
                WHEN fr > 0 THEN 'fr'
                ELSE 'und' END AS pred_lang,
           count(*) AS n
         FROM t GROUP BY 1, 2 ORDER BY lang, pred_lang"""),
    Gate("q20_minhash_neardup", q20_minhash_neardup,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS g
           FROM toks),
         sz AS (SELECT doc_id, len(g) AS n FROM sh),
         e AS (SELECT doc_id, unnest(g) AS gram FROM sh),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         j AS (SELECT id_a, id_b,
                 round(CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE), 4) AS jaccard
               FROM pr JOIN sz sa ON sa.doc_id = pr.id_a
                       JOIN sz sb ON sb.doc_id = pr.id_b)
         SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.6
         ORDER BY id_a, id_b"""),
    Gate("q21_simhash_neardup", q21_simhash_neardup,
      """WITH k AS (SELECT doc_id,
             md5(to_json(list_sort(list_distinct(string_split(text, ' '))))) AS key
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM k a JOIN k b ON a.key = b.key AND a.doc_id < b.doc_id
         ORDER BY id_a, id_b"""),
    Gate("q22_jaccard_pairs", q22_jaccard_pairs,
      """WITH g AS (
           SELECT doc_id, source,
             list_distinct(list_transform(
               generate_series(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS grams
           FROM documents WHERE doc_id % 10 = 0)
         SELECT source, id_a, id_b, jaccard FROM (
           SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
             round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                   CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 4) AS jaccard
           FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id) t
         WHERE jaccard >= 0.05
         ORDER BY source, id_a, id_b"""),
    Gate("q23_ann_bruteforce", q23_ann_bruteforce,
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank <= 5 ORDER BY query_id, rank"""),
    Gate("q24_ann_lsh", q24_ann_lsh,
      """WITH q AS (SELECT vec_id + 1000000 AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank = 1 ORDER BY query_id"""),
    Gate("q25_embedding_stats", q25_embedding_stats,
      """SELECT label, count(*) AS n_vecs,
         round(avg(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))), 6) AS avg_norm_sq,
         round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS avg_first_dim
         FROM embeddings GROUP BY label ORDER BY label"""),
    Gate("q26_multimodal_bytes", q26_multimodal_bytes,
      """SELECT source, count(*) AS n_media,
         CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes
         FROM documents GROUP BY source ORDER BY source"""),
    Gate("q27_langid_trigram", q27_langid_trigram,
      s"""WITH profile AS (
           SELECT p.lang, p.tg, CAST(p.w AS DOUBLE) AS w
           FROM (VALUES $langProfileValues) p(lang, tg, w)),
         d AS (SELECT doc_id,
                 ' ' || trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) || ' ' AS padded
               FROM documents),
         hd AS (SELECT doc_id,
                  length(regexp_replace(padded, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS han,
                  length(regexp_replace(padded, '\\s', '', 'g')) AS nws
                FROM d),
         t AS (SELECT doc_id,
                 unnest(list_transform(generate_series(1, length(padded) - 2),
                   i -> substr(padded, i, 3))) AS tg
               FROM d),
         sc AS (SELECT doc_id, lang, sum(w) AS score
                FROM t JOIN profile USING (tg) GROUP BY doc_id, lang),
         best AS (SELECT doc_id, lang, score,
                    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
                  FROM sc),
         pred AS (SELECT hd.doc_id,
                    CASE WHEN hd.han > 0 AND hd.han * 2 >= hd.nws THEN 'zh'
                         ELSE coalesce(b.lang, 'und') END AS pred_lang,
                    CASE WHEN hd.han > 0 AND hd.han * 2 >= hd.nws THEN CAST(hd.han AS DOUBLE)
                         ELSE coalesce(b.score, 0.0) END AS score
                  FROM hd LEFT JOIN (SELECT doc_id, lang, score FROM best WHERE rn = 1) b
                    USING (doc_id))
         SELECT pred_lang, count(*) AS n, round(avg(score), 4) AS avg_score
         FROM pred GROUP BY pred_lang ORDER BY pred_lang"""),
    Gate("q28_sql_topk", q28_sql_topk, q28Sql),
    Gate("q29_daily_metrics", q29_daily_metrics,
      """SELECT CAST(ts AS DATE) AS day,
         count(CASE WHEN event_type = 'view' THEN 1 END) AS views,
         count(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
         count(CASE WHEN event_type = 'signup' THEN 1 END) AS signups,
         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
         round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2) AS revenue
         FROM events GROUP BY CAST(ts AS DATE) ORDER BY day"""),
    Gate("q30_cosine_neardup", q30_cosine_neardup,
      """WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0)
         SELECT id_a, id_b, cosine FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_sum(list_transform(generate_series(1, 64),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), 4) AS cosine
           FROM v a JOIN v b ON a.vec_id < b.vec_id) t
         WHERE cosine >= 0.4
         ORDER BY id_a, id_b"""),
    Gate("q31_asof_join", q31_asof_join,
      """SELECT event_id, user_id, last_orderkey, last_orderdate FROM (
           SELECT e.event_id, e.user_id,
             o.o_orderkey AS last_orderkey, o.o_orderdate AS last_orderdate,
             row_number() OVER (PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) AS rn
           FROM events e
           LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) t
         WHERE rn = 1 ORDER BY event_id"""),
    Gate("q32_ann_ivf", q32_ann_ivf,
      """WITH q AS (SELECT vec_id + 1000000 AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id >= 8 AND vec_id < 16),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank = 1 ORDER BY query_id"""),
    Gate("q33_running_total", q33_running_total,
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey), 2) AS running_total,
         round(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey), 2) AS prev_price
         FROM orders WHERE o_custkey < 100
         ORDER BY o_custkey, o_orderkey"""),
    Gate("q34_rollup", q34_rollup,
      """SELECT o_orderstatus, o_orderpriority,
         count(*) AS n, round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),
    Gate("q35_top_terms", q35_top_terms,
      """SELECT source, word, cnt FROM (
           SELECT source, word, count(*) AS cnt,
             row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, word) AS rn
           FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents) t
           GROUP BY source, word) r
         WHERE rn <= 3 ORDER BY source, word"""),
    Gate("q36_histogram", q36_histogram,
      """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
         count(*) AS n,
         round(min(o_totalprice), 2) AS lo,
         round(max(o_totalprice), 2) AS hi
         FROM orders GROUP BY 1 ORDER BY bin"""),
    Gate("q37_percentiles", q37_percentiles,
      """SELECT o_orderstatus,
         round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
         round(quantile_cont(o_totalprice, 0.95), 2) AS p95,
         count(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    Gate("q38_cube", q38_cube,
      """SELECT o_orderstatus, o_orderpriority,
         count(*) AS n, round(avg(o_totalprice), 4) AS avg_total
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),
    Gate("q39_edit_distance", q39_edit_distance,
      """WITH s AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
                 round(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
                   CAST(greatest(length(a.text), length(b.text)) AS DOUBLE), 4) AS edit_sim
               FROM s a JOIN s b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, edit_dist, edit_sim FROM p
         WHERE edit_sim >= 0.75 ORDER BY id_a, id_b"""),
    Gate("q40_stratified_sample", q40_stratified_sample,
      """SELECT lang, count(*) AS sampled_docs,
         CAST(sum(n_chars) AS BIGINT) AS sampled_chars
         FROM documents
         WHERE doc_id % 10 < (CASE WHEN lang IN ('en','zh') THEN 8
                                   WHEN lang IN ('es','de') THEN 5
                                   ELSE 2 END)
         GROUP BY lang ORDER BY lang"""),
    Gate("q41_winnow_neardup", q41_winnow_neardup,
      """WITH d AS (SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
           FROM documents),
         g16 AS (SELECT doc_id,
             CASE WHEN length(t) >= 16
                  THEN list_distinct(list_transform(generate_series(1, length(t) - 15),
                         i -> substr(t, i, 16)))
                  ELSE [] END AS g
           FROM d),
         sz AS (SELECT doc_id, len(g) AS n FROM g16),
         e AS (SELECT doc_id, unnest(g) AS gram FROM g16),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         j AS (SELECT id_a, id_b,
                 round(CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE), 4) AS jaccard
               FROM pr JOIN sz sa ON sa.doc_id = pr.id_a
                       JOIN sz sb ON sb.doc_id = pr.id_b)
         SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.3
         ORDER BY id_a, id_b"""),
    Gate("q42_pricing_summary_dec", q42_pricing_summary_dec,
      """SELECT l_returnflag, l_linestatus,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_qty,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_base_price,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
              AS DECIMAL(38,4)) AS VARCHAR) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    Gate("q43_approx_distinct", q43_approx_distinct,
      """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
         TRUE AS within_2pct
         FROM orders"""),
    Gate("q44_pivot", q44_pivot,
      """SELECT o_orderpriority,
         round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
         round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
         round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    Gate("q45_int8_quantize", q45_int8_quantize,
      """WITH s AS (
           SELECT vec_id, embedding,
             greatest(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))), 1e-12) / 127.0 AS scale
           FROM embeddings),
         e AS (
           SELECT vec_id, scale,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE) -
                        round(CAST(x AS DOUBLE) / scale) * scale))) AS max_err
           FROM s)
         SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(max_err), 6) AS avg_max_err,
           round(max(max_err), 6) AS max_max_err,
           round(avg(scale), 6) AS avg_scale
         FROM e"""),
    Gate("q46_sequence_packing", (s, d) => q46_sequence_packing(s, d),
      """WITH t AS (
           SELECT doc_id, doc_id % 8 AS g,
             len(string_split(text, ' ')) AS toks
           FROM documents),
         r AS (
           SELECT g, doc_id, toks,
             sum(toks) OVER (PARTITION BY g ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
           FROM t),
         p AS (
           SELECT g, CAST(floor((running - toks) / 2000.0) AS BIGINT) AS pack,
             toks FROM r)
         SELECT g, pack, count(*) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS pack_tokens,
           CAST(max(toks) AS BIGINT) AS max_doc_tokens
         FROM p GROUP BY g, pack ORDER BY g, pack"""),
    Gate("q47_weighted_mix", q47_weighted_mix,
      """SELECT source, count(*) AS mixed_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS mixed_tokens
         FROM documents
         WHERE ((doc_id % 100000007) * 2654435761) % 100 <
           CASE WHEN source = 'web' THEN 75 WHEN source = 'books' THEN 50
                WHEN source = 'wiki' THEN 90 ELSE 25 END
         GROUP BY source ORDER BY source"""),
    Gate("q48_pii", q48_pii,
      s"""WITH planted AS (
           SELECT source,
             text ||
             CASE WHEN doc_id % 7 = 0
                  THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                  ELSE '' END ||
             CASE WHEN doc_id % 11 = 0
                  THEN ' call 555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
                  ELSE '' END ||
             CASE WHEN doc_id % 13 = 0
                  THEN ' fax +1-415-' || lpad(CAST(doc_id AS VARCHAR), 3, '0') ||
                       '-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
                  ELSE '' END AS text
           FROM documents),
         m AS (SELECT source,
             len(regexp_extract_all(text, '${Pii.emailPattern}')) AS ec,
             len(regexp_extract_all(text, '${Pii.phonePattern}')) AS pc,
             regexp_replace(regexp_replace(text, '${Pii.emailPattern}', '<EMAIL>', 'g'),
               '${Pii.phonePattern}', '<PHONE>', 'g') AS red
           FROM planted)
         SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN ec + pc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
           CAST(sum(ec) AS BIGINT) AS emails,
           CAST(sum(pc) AS BIGINT) AS phones,
           CAST(sum(length(red)) AS BIGINT) AS redacted_chars,
           min(md5(red)) AS redaction_fp
         FROM m GROUP BY source ORDER BY source"""),
    Gate("q49_decontaminate", q49_decontaminate,
      """WITH dt AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
         ev AS (SELECT array_to_string((string_split(text, ' '))[5:16], ' ') AS etext
                FROM documents WHERE doc_id % 25 = 0),
         evw AS (SELECT string_split(etext, ' ') AS w FROM ev),
         evg AS (SELECT DISTINCT unnest(CASE WHEN len(w) >= 8
                   THEN list_transform(generate_series(1, len(w) - 7),
                          i -> array_to_string(w[i:i+7], ' '))
                   ELSE [array_to_string(w, ' ')] END) AS gram FROM evw),
         dg AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 8
                  THEN list_transform(generate_series(1, len(w) - 7),
                         i -> array_to_string(w[i:i+7], ' '))
                  ELSE [array_to_string(w, ' ')] END) AS gram FROM dt),
         hit AS (SELECT DISTINCT doc_id FROM dg JOIN evg USING (gram))
         SELECT d.source, count(*) AS n_docs,
           CAST(count(h.doc_id) AS BIGINT) AS contaminated,
           CAST(count(*) - count(h.doc_id) AS BIGINT) AS clean
         FROM dt d LEFT JOIN hit h USING (doc_id)
         GROUP BY d.source ORDER BY d.source"""),
    Gate("q50_range_join", q50_range_join,
      """WITH iv AS (
           SELECT o_orderkey AS iv_id, o_orderdate AS iv_start,
             o_orderdate + to_days(CAST(CAST(o_orderkey / 100 AS BIGINT) % 7 + 1 AS INT)) AS iv_end
           FROM orders WHERE o_orderkey % 100 = 0)
         SELECT iv.iv_id, count(*) AS n_points,
           round(sum(o.o_totalprice), 2) AS revenue
         FROM orders o JOIN iv
           ON o.o_orderdate >= iv.iv_start AND o.o_orderdate < iv.iv_end
         GROUP BY iv.iv_id ORDER BY iv.iv_id"""),
    Gate("q51_chunk_tokens", q51_chunk_tokens,
      """WITH t AS (SELECT source, string_split(text, ' ') AS w FROM documents),
         c AS (SELECT source,
             list_transform(
               generate_series(0, greatest(CAST(ceil(len(w) / 32.0) AS INT), 1) - 1),
               i -> len(w[i*32+1 : i*32+64])) AS cl
           FROM t)
         SELECT source, count(*) AS n_docs,
           CAST(sum(len(cl)) AS BIGINT) AS total_chunks,
           CAST(max(len(cl)) AS BIGINT) AS max_chunks,
           CAST(sum(list_sum(cl)) AS BIGINT) AS chunk_tokens
         FROM c GROUP BY source ORDER BY source"""),
    Gate("q52_media_header", q52_media_header,
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 'image/jpeg', 8, 6, CAST(1 AS BIGINT), 0, 0),
           (CAST(2 AS BIGINT), 'audio/wav', 0, 0, CAST(4 AS BIGINT), 8000, 2),
           (CAST(3 AS BIGINT), 'application/octet-stream', 0, 0, CAST(0 AS BIGINT), 0, 0))
           t(media_id, mime, width, height, n_frames, sample_rate, channels)
         ORDER BY media_id"""),
    Gate("q53_monitoring_alerts", q53_monitoring_alerts,
      """WITH r AS (
           SELECT CAST(ts AS DATE) AS day, count(*) AS records,
             count(CASE WHEN event_type = 'error' THEN 1 END) AS violations,
             round(sum(value), 2) AS exec_sec
           FROM events GROUP BY 1),
         w AS (SELECT day, records, violations, exec_sec,
             avg(exec_sec) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS eb,
             avg(records)  OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS rb
           FROM r)
         SELECT day, records, violations, exec_sec,
           coalesce(exec_sec > 1.05 * eb, false) AS exec_time_alert,
           coalesce(records < 0.97 * rb, false) AS record_count_alert,
           coalesce(violations > 0.20 * records, false) AS integrity_alert
         FROM w ORDER BY day"""),
    Gate("q54_repetition_filter", q54_repetition_filter,
      """WITH t AS (SELECT source, string_split(text, ' ') AS w FROM documents),
         b AS (SELECT source, w,
             CASE WHEN len(w) >= 2
                  THEN list_transform(generate_series(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1])
                  ELSE w END AS bg
           FROM t),
         r AS (SELECT source,
             round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 4) AS ur,
             round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4) AS br
           FROM b)
         SELECT source, count(*) AS n_docs,
           round(avg(ur), 4) AS avg_unigram_rep,
           round(avg(br), 4) AS avg_bigram_rep,
           round(max(br), 4) AS max_bigram_rep,
           CAST(sum(CASE WHEN br <= 0.05 AND ur <= 0.55 THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_docs
         FROM r GROUP BY source ORDER BY source"""),
    Gate("q55_sessionize", q55_sessionize,
      """WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id < 100),
         l AS (SELECT user_id, ts, value,
             CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                       > 86400000000
                  THEN 1 ELSE 0 END AS brk
           FROM e),
         s AS (SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sess
           FROM l)
         SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events, round(sum(value), 2) AS total_value
         FROM s GROUP BY user_id, sess
         ORDER BY user_id, session_start"""),
    Gate("q56_bpe_pairs", q56_bpe_pairs,
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS x FROM documents),
         p AS (SELECT unnest(list_transform(generate_series(1, length(x) - 1),
                 i -> substr(x, i, 2))) AS pair
               FROM w WHERE length(x) >= 2)
         SELECT pair, count(*) AS cnt FROM p GROUP BY pair
         ORDER BY cnt DESC, pair LIMIT 10"""),
    Gate("q57_lm_quality", q57_lm_quality,
      """WITH t AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
                    FROM documents),
         f AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
         tot AS (SELECT sum(c) AS s FROM f),
         sc AS (SELECT doc_id, source,
                  round(avg(log10(CAST(c AS DOUBLE) / (SELECT s FROM tot))), 4) AS doc_lp
                FROM t JOIN f USING (tok) GROUP BY doc_id, source)
         SELECT source, count(*) AS n_docs,
           round(avg(doc_lp), 4) AS avg_doc_lp,
           round(min(doc_lp), 4) AS min_doc_lp,
           CAST(sum(CASE WHEN doc_lp >= -1.477 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs
         FROM sc GROUP BY source ORDER BY source"""),
    Gate("q58_salted_agg", q58_salted_agg,
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    Gate("q59_salted_join", q59_salted_join,
      """SELECT s.s_nationkey, count(*) AS n_items,
         round(sum(l.l_quantity), 2) AS sum_qty
         FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
         GROUP BY s.s_nationkey ORDER BY s.s_nationkey"""),
    Gate("q60_frame_sampling", q60_frame_sampling,
      """WITH m AS (SELECT o_orderkey AS id, CAST(o_orderkey % 1000 AS BIGINT) AS nf
                    FROM orders WHERE o_orderkey % 50 = 0),
         f AS (SELECT id, nf,
                 unnest(generate_series(0, nf - 1,
                   greatest(CAST(ceil(nf / 10.0) AS BIGINT), 1))) AS frame_idx
               FROM m WHERE nf > 0)
         SELECT id, nf AS n_frames, count(*) AS n_sampled,
           max(frame_idx) AS max_idx
         FROM f GROUP BY id, nf ORDER BY id"""),
    Gate("q61_approx_quantile", q61_approx_quantile,
      """SELECT round(quantile_cont(o_totalprice, 0.5), 2) AS exact_p50,
         round(quantile_cont(o_totalprice, 0.95), 2) AS exact_p95,
         TRUE AS p50_within_1pct, TRUE AS p95_within_1pct
         FROM orders"""),
    Gate("q62_dedup_clusters", q62_dedup_clusters,
      """WITH RECURSIVE
         toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS g
           FROM toks),
         sz AS (SELECT doc_id, len(g) AS n FROM sh),
         e AS (SELECT doc_id, unnest(g) AS gram FROM sh),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         p AS (SELECT id_a, id_b
               FROM pr JOIN sz sa ON sa.doc_id = pr.id_a
                       JOIN sz sb ON sb.doc_id = pr.id_b
               WHERE round(CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE), 4) >= 0.6),
         edges AS (SELECT id_a AS id, id_b AS nb FROM p
                   UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT id, nb FROM edges
           UNION
           SELECT reach.id, e2.nb FROM reach JOIN edges e2 ON e2.id = reach.r),
         labels AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id)
         SELECT label AS cluster_rep, count(*) AS cluster_size
         FROM labels GROUP BY label HAVING count(*) >= 2
         ORDER BY cluster_rep"""),
    Gate("q63_column_stats", q63_column_stats,
      """SELECT 'o_custkey' AS column_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT o_custkey) AS n_distinct, TRUE AS approx_within_2pct,
           round(CAST(min(o_custkey) AS DOUBLE), 2) AS min_num,
           round(CAST(max(o_custkey) AS DOUBLE), 2) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_orderstatus), TRUE,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           min(o_orderstatus), max(o_orderstatus)
         FROM orders
         UNION ALL
         SELECT 'o_totalprice', count(*),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_totalprice), TRUE,
           round(min(o_totalprice), 2), round(max(o_totalprice), 2),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
         FROM orders
         ORDER BY column_name"""),
    Gate("q64_bucketed_join", q64_bucketed_join,
      """SELECT o.o_orderpriority, count(*) AS n_items,
         round(sum(l.l_extendedprice), 2) AS revenue
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"""),
    Gate("q65_corpus_curation", q65_corpus_curation,
      s"""WITH RECURSIVE
         pl AS (SELECT doc_id, source,
             text || CASE WHEN doc_id % 10 = 0
                          THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@ex.com'
                          ELSE '' END AS text
           FROM documents WHERE doc_id % 2 = 0),
         pad AS (SELECT doc_id,
                   ' ' || trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) || ' ' AS padded
                 FROM pl),
         hd AS (SELECT doc_id,
                  length(regexp_replace(padded, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS han,
                  length(regexp_replace(padded, '\\s', '', 'g')) AS nws
                FROM pad),
         tg AS (SELECT doc_id,
                  unnest(list_transform(generate_series(1, length(padded) - 2),
                    i -> substr(padded, i, 3))) AS tg
                FROM pad),
         prof AS (SELECT p.lang, p.tg, CAST(p.w AS DOUBLE) AS w
                  FROM (VALUES $langProfileValues) p(lang, tg, w)),
         sc AS (SELECT doc_id, lang, sum(w) AS score
                FROM tg JOIN prof USING (tg) GROUP BY doc_id, lang),
         best AS (SELECT doc_id, lang,
                    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
                  FROM sc),
         pred AS (SELECT hd.doc_id,
                    CASE WHEN hd.han > 0 AND hd.han * 2 >= hd.nws THEN 'zh'
                         ELSE coalesce(b.lang, 'und') END AS pred_lang
                  FROM hd LEFT JOIN (SELECT doc_id, lang FROM best WHERE rn = 1) b
                    USING (doc_id)),
         lk AS (SELECT pl.doc_id, pl.source, pl.text FROM pl JOIN pred USING (doc_id)
                WHERE pred.pred_lang IN ('en','es','de','fr','zh')),
         qw AS (SELECT doc_id, source, text, string_split(text, ' ') AS w FROM lk),
         qf AS (SELECT doc_id, source, text FROM qw
                WHERE round(
                    least(1.0, CAST(len(list_filter(w,
                      x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
                      / len(w) * 2.0) * 0.4
                    + (CASE WHEN CAST(length(text) AS DOUBLE) / len(w) BETWEEN 2.0 AND 12.0
                            THEN 1.0 ELSE 0.0 END) * 0.3
                    + (CASE WHEN len(w) >= 20 THEN 1.0
                            ELSE CAST(len(w) AS DOUBLE) / 20.0 END) * 0.3, 4) >= 0.3
                  AND round(1.0 -
                    CAST(len(list_distinct(CASE WHEN len(w) >= 2
                      THEN list_transform(generate_series(1, len(w) - 1),
                             i -> w[i] || ' ' || w[i+1])
                      ELSE w END)) AS DOUBLE) /
                    len(CASE WHEN len(w) >= 2
                      THEN list_transform(generate_series(1, len(w) - 1),
                             i -> w[i] || ' ' || w[i+1])
                      ELSE w END), 4) <= 0.2),
         rd AS (SELECT doc_id, source,
             regexp_replace(regexp_replace(text, '${Pii.emailPattern}', '<EMAIL>', 'g'),
               '${Pii.phonePattern}', '<PHONE>', 'g') AS text
           FROM qf),
         ev AS (SELECT array_to_string((string_split(text, ' '))[3:14], ' ') AS etext
                FROM documents WHERE doc_id % 40 = 0),
         evw AS (SELECT string_split(etext, ' ') AS w FROM ev),
         evg AS (SELECT DISTINCT unnest(CASE WHEN len(w) >= 8
                   THEN list_transform(generate_series(1, len(w) - 7),
                          i -> array_to_string(w[i:i+7], ' '))
                   ELSE [array_to_string(w, ' ')] END) AS gram FROM evw),
         dgr AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 8
                   THEN list_transform(generate_series(1, len(w) - 7),
                          i -> array_to_string(w[i:i+7], ' '))
                   ELSE [array_to_string(w, ' ')] END) AS gram
                 FROM (SELECT doc_id, string_split(text, ' ') AS w FROM rd)),
         hit AS (SELECT DISTINCT doc_id FROM dgr JOIN evg USING (gram)),
         dc AS (SELECT rd.doc_id, rd.source, rd.text FROM rd
                LEFT JOIN hit USING (doc_id) WHERE hit.doc_id IS NULL),
         toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM dc),
         sh AS (SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS g
           FROM toks),
         sz AS (SELECT doc_id, len(g) AS n FROM sh),
         eg AS (SELECT doc_id, unnest(g) AS gram FROM sh),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM eg a JOIN eg b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         p AS (SELECT id_a, id_b
               FROM pr JOIN sz sa ON sa.doc_id = pr.id_a
                       JOIN sz sb ON sb.doc_id = pr.id_b
               WHERE round(CAST(shared AS DOUBLE) /
                 CAST(sa.n + sb.n - shared AS DOUBLE), 4) >= 0.6),
         edges AS (SELECT id_a AS id, id_b AS nb FROM p
                   UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT id, nb FROM edges
           UNION
           SELECT reach.id, e2.nb FROM reach JOIN edges e2 ON e2.id = reach.r),
         lbl AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id),
         keep AS (SELECT t.doc_id FROM toks t LEFT JOIN lbl ON lbl.id = t.doc_id
                  WHERE lbl.id IS NULL OR lbl.label = t.doc_id)
         SELECT dc.source, count(*) AS n_curated,
           CAST(sum(length(dc.text)) AS BIGINT) AS curated_chars,
           min(md5(dc.text)) AS content_fp
         FROM dc JOIN keep USING (doc_id)
         GROUP BY dc.source ORDER BY dc.source"""),

    // q66: q65's exact stage replay over (half-corpus + 1200 planted
    // boilerplate copies), with ONE divergence — pair formation excludes
    // the planted ids (doc_id >= 800000). That is the cap rule's provable
    // consequence, replayed: the planted docs are identical, so every one
    // of their 16 minhash band buckets holds exactly the 1200 copies,
    // 1200 > dedupMaxBucket = 1000, and capBuckets prunes all of them —
    // no planted doc can emit a candidate pair. Corpus buckets can never
    // engage the cap here (max occupancy = 250-doc sample < 1000), so the
    // corpus side remains the plain all-pairs replay. The exclusion also
    // keeps the oracle's gram self-join from exploding through 1200
    // identical gram sets.
    Gate("q66_capped_curation", q66_capped_curation,
      s"""WITH RECURSIVE
         pl AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 2 = 0
                UNION ALL
                SELECT 800000 + i AS doc_id, 'boilerplate' AS source,
                  'this standard disclosure notice accompanies every bulk export bundle and describes retention policy review obligations for downstream archival partners including quarterly audit summaries prepared under the coastal registry framework with additional provenance checkpoints documented separately' AS text
                FROM generate_series(0, 1199) t(i)),
         pad AS (SELECT doc_id,
                   ' ' || trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) || ' ' AS padded
                 FROM pl),
         hd AS (SELECT doc_id,
                  length(regexp_replace(padded, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS han,
                  length(regexp_replace(padded, '\\s', '', 'g')) AS nws
                FROM pad),
         tg AS (SELECT doc_id,
                  unnest(list_transform(generate_series(1, length(padded) - 2),
                    i -> substr(padded, i, 3))) AS tg
                FROM pad),
         prof AS (SELECT p.lang, p.tg, CAST(p.w AS DOUBLE) AS w
                  FROM (VALUES $langProfileValues) p(lang, tg, w)),
         sc AS (SELECT doc_id, lang, sum(w) AS score
                FROM tg JOIN prof USING (tg) GROUP BY doc_id, lang),
         best AS (SELECT doc_id, lang,
                    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
                  FROM sc),
         pred AS (SELECT hd.doc_id,
                    CASE WHEN hd.han > 0 AND hd.han * 2 >= hd.nws THEN 'zh'
                         ELSE coalesce(b.lang, 'und') END AS pred_lang
                  FROM hd LEFT JOIN (SELECT doc_id, lang FROM best WHERE rn = 1) b
                    USING (doc_id)),
         lk AS (SELECT pl.doc_id, pl.source, pl.text FROM pl JOIN pred USING (doc_id)
                WHERE pred.pred_lang IN ('en','es','de','fr','zh')),
         qw AS (SELECT doc_id, source, text, string_split(text, ' ') AS w FROM lk),
         qf AS (SELECT doc_id, source, text FROM qw
                WHERE round(
                    least(1.0, CAST(len(list_filter(w,
                      x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
                      / len(w) * 2.0) * 0.4
                    + (CASE WHEN CAST(length(text) AS DOUBLE) / len(w) BETWEEN 2.0 AND 12.0
                            THEN 1.0 ELSE 0.0 END) * 0.3
                    + (CASE WHEN len(w) >= 20 THEN 1.0
                            ELSE CAST(len(w) AS DOUBLE) / 20.0 END) * 0.3, 4) >= 0.3
                  AND round(1.0 -
                    CAST(len(list_distinct(CASE WHEN len(w) >= 2
                      THEN list_transform(generate_series(1, len(w) - 1),
                             i -> w[i] || ' ' || w[i+1])
                      ELSE w END)) AS DOUBLE) /
                    len(CASE WHEN len(w) >= 2
                      THEN list_transform(generate_series(1, len(w) - 1),
                             i -> w[i] || ' ' || w[i+1])
                      ELSE w END), 4) <= 0.2),
         rd AS (SELECT doc_id, source,
             regexp_replace(regexp_replace(text, '${Pii.emailPattern}', '<EMAIL>', 'g'),
               '${Pii.phonePattern}', '<PHONE>', 'g') AS text
           FROM qf),
         ev AS (SELECT array_to_string((string_split(text, ' '))[3:14], ' ') AS etext
                FROM documents WHERE doc_id % 40 = 0),
         evw AS (SELECT string_split(etext, ' ') AS w FROM ev),
         evg AS (SELECT DISTINCT unnest(CASE WHEN len(w) >= 8
                   THEN list_transform(generate_series(1, len(w) - 7),
                          i -> array_to_string(w[i:i+7], ' '))
                   ELSE [array_to_string(w, ' ')] END) AS gram FROM evw),
         dgr AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 8
                   THEN list_transform(generate_series(1, len(w) - 7),
                          i -> array_to_string(w[i:i+7], ' '))
                   ELSE [array_to_string(w, ' ')] END) AS gram
                 FROM (SELECT doc_id, string_split(text, ' ') AS w FROM rd)),
         hit AS (SELECT DISTINCT doc_id FROM dgr JOIN evg USING (gram)),
         dc AS (SELECT rd.doc_id, rd.source, rd.text FROM rd
                LEFT JOIN hit USING (doc_id) WHERE hit.doc_id IS NULL),
         toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM dc),
         sh AS (SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS g
           FROM toks),
         sz AS (SELECT doc_id, len(g) AS n FROM sh),
         eg AS (SELECT doc_id, unnest(g) AS gram FROM sh WHERE doc_id < 800000),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM eg a JOIN eg b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         p AS (SELECT id_a, id_b
               FROM pr JOIN sz sa ON sa.doc_id = pr.id_a
                       JOIN sz sb ON sb.doc_id = pr.id_b
               WHERE round(CAST(shared AS DOUBLE) /
                 CAST(sa.n + sb.n - shared AS DOUBLE), 4) >= 0.6),
         edges AS (SELECT id_a AS id, id_b AS nb FROM p
                   UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT id, nb FROM edges
           UNION
           SELECT reach.id, e2.nb FROM reach JOIN edges e2 ON e2.id = reach.r),
         lbl AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id),
         keep AS (SELECT t.doc_id FROM toks t LEFT JOIN lbl ON lbl.id = t.doc_id
                  WHERE lbl.id IS NULL OR lbl.label = t.doc_id)
         SELECT dc.source, count(*) AS n_curated,
           CAST(sum(length(dc.text)) AS BIGINT) AS curated_chars,
           min(md5(dc.text)) AS content_fp
         FROM dc JOIN keep USING (doc_id)
         GROUP BY dc.source ORDER BY dc.source"""),

    // q67: DuckDB reads the SAME fixture NDJSON bytes (written by the
    // Spark query before the oracle runs) and replays the normalization
    // matrix. First-wins = min filename per id (pages have sortable names,
    // ids unique within a page); composite dedup = min array position per
    // (order_id, product_id, variant_id) among all-keys-present rows,
    // null-key rows kept unconditionally (A3's bypass).
    Gate("q67_flatten_matrix", q67_flatten_matrix,
      """WITH raw AS (
           SELECT * FROM read_json('/tmp/graft_fixture_q67/*.ndjson',
             format='newline_delimited', filename=true,
             columns={id:'BIGINT', created_at:'VARCHAR', updated_at:'VARCHAR', processed_at:'VARCHAR',
               subtotal_price:'VARCHAR', total_price:'VARCHAR', total_tax:'VARCHAR',
               financial_status:'VARCHAR', fulfillment_status:'VARCHAR', currency:'VARCHAR', source_name:'VARCHAR',
               customer:'STRUCT(id BIGINT, email VARCHAR, created_at VARCHAR, first_name VARCHAR, last_name VARCHAR, phone VARCHAR, verified_email BOOLEAN, accepts_marketing BOOLEAN)',
               line_items:'STRUCT(product_id BIGINT, variant_id BIGINT, name VARCHAR, price VARCHAR, quantity BIGINT, vendor VARCHAR)[]',
               shipping_address:'STRUCT(first_name VARCHAR, last_name VARCHAR, address1 VARCHAR, city VARCHAR, province VARCHAR, country VARCHAR, zip VARCHAR)',
               discount_codes:'STRUCT(code VARCHAR, amount VARCHAR)[]'})),
         fw AS (SELECT * FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY filename) AS rn FROM raw)
                WHERE rn = 1),
         cust AS (SELECT CAST(customer.id AS VARCHAR) AS k,
             md5(coalesce(customer.email, '') || '|' ||
                 coalesce(strftime(CAST(customer.created_at AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'), 'NULL') || '|' ||
                 coalesce(customer.first_name, '') || '|' ||
                 coalesce(customer.last_name, '') || '|' ||
                 coalesce(customer.phone, '') || '|' ||
                 CAST(CAST(coalesce(customer.verified_email, false) AS INT) AS VARCHAR)) AS fp
           FROM fw WHERE customer IS NOT NULL AND customer.id IS NOT NULL),
         cons AS (SELECT CAST(customer.id AS VARCHAR) AS k,
             md5((CASE WHEN customer.accepts_marketing THEN 'yes' ELSE 'no' END) || '|') AS fp
           FROM fw WHERE customer IS NOT NULL AND customer.id IS NOT NULL),
         ship AS (SELECT CAST(id AS VARCHAR) AS k,
             md5(coalesce(shipping_address.first_name, '') || '|' ||
                 coalesce(shipping_address.last_name, '') || '|' ||
                 coalesce(shipping_address.address1, '') || '|' ||
                 coalesce(shipping_address.city, '') || '|' ||
                 coalesce(shipping_address.province, '') || '|' ||
                 coalesce(shipping_address.country, '') || '|' ||
                 coalesce(shipping_address.zip, '')) AS fp
           FROM fw WHERE shipping_address IS NOT NULL),
         disc AS (SELECT CAST(id AS VARCHAR) AS k,
             md5(coalesce(dc.code, '') || '|' ||
                 CAST(CAST(round(coalesce(CAST(dc.amount AS DOUBLE), 0.0) * 100, 0) AS BIGINT) AS VARCHAR)) AS fp
           FROM (SELECT id, unnest(discount_codes) AS dc FROM fw)),
         li AS (SELECT CAST(id AS VARCHAR) AS order_id, pos,
             CAST(line_items[pos].product_id AS VARCHAR) AS product_id,
             CAST(line_items[pos].variant_id AS VARCHAR) AS variant_id,
             coalesce(line_items[pos].name, '') AS product_name,
             round(coalesce(CAST(line_items[pos].price AS DOUBLE), 0.0) * 100, 0) AS price_cents,
             coalesce(line_items[pos].quantity, 0) AS quantity,
             coalesce(line_items[pos].vendor, '') AS vendor
           FROM fw, unnest(generate_series(1, len(line_items))) AS t(pos)),
         lid AS (SELECT * FROM (
                   SELECT *, row_number() OVER (
                     PARTITION BY order_id, product_id, variant_id ORDER BY pos) AS rn
                   FROM li WHERE product_id IS NOT NULL AND variant_id IS NOT NULL)
                 WHERE rn = 1
                 UNION ALL
                 SELECT *, 0 AS rn FROM li
                 WHERE product_id IS NULL OR variant_id IS NULL),
         lifp AS (SELECT order_id AS k,
             md5(coalesce(product_id, 'NULL') || '|' ||
                 coalesce(variant_id, 'NULL') || '|' ||
                 product_name || '|' ||
                 CAST(CAST(price_cents AS BIGINT) AS VARCHAR) || '|' ||
                 CAST(quantity AS VARCHAR) || '|' || vendor) AS fp
           FROM lid)
         SELECT entity, k, fp FROM (
           SELECT 'customers' AS entity, k, fp FROM cust
           UNION ALL SELECT 'marketing_consent', k, fp FROM cons
           UNION ALL SELECT 'shipping_addresses', k, fp FROM ship
           UNION ALL SELECT 'discount_codes', k, fp FROM disc
           UNION ALL SELECT 'line_items', k, fp FROM lifp)
         ORDER BY entity, k, fp"""),

    // q68: DuckDB re-reads the staged NDJSON the Spark query wrote
    // (part-* chunk files + the planted junk file; the glob list skips
    // _SUCCESS and CRC artifacts) with the SAME declared schema.
    // ignore_errors turns each syntactically-broken line into an all-null
    // row — exactly Spark's PERMISSIVE record-nulling — so the '__corrupt'
    // group and the dead-letter split both fall out of the same read.
    Gate("q68_ndjson_roundtrip", q68_ndjson_roundtrip,
      """WITH loaded AS (
           SELECT * FROM read_json(
             ['/tmp/graft_fixture_q68/pages/part-*.json',
              '/tmp/graft_fixture_q68/pages/zz_malformed.ndjson'],
             format='newline_delimited', ignore_errors=true,
             columns={o_orderkey:'BIGINT', o_orderstatus:'VARCHAR', o_totalprice:'DOUBLE'})),
         per_status AS (
           SELECT coalesce(o_orderstatus, '__corrupt') AS o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS sum_cents,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
           FROM loaded GROUP BY 1),
         corrupt_n AS (
           SELECT CAST(count(*) AS BIGINT) AS n FROM loaded WHERE o_orderkey IS NULL
             AND o_orderstatus IS NULL AND o_totalprice IS NULL)
         SELECT o_orderstatus, n_rows, sum_cents, n_keys FROM per_status
         UNION ALL SELECT '__dead_letter_rows', n, NULL, 0 FROM corrupt_n
         UNION ALL SELECT '__good_rows',
           (SELECT CAST(count(*) AS BIGINT) FROM loaded) - n, NULL, 0 FROM corrupt_n
         ORDER BY o_orderstatus"""),

    // q69: replay the two-round incremental lifecycle from the same
    // fixture NDJSON the gate wrote. Per round: first-wins per id (min
    // filename — ids unique within a page), flatten. Merge: a round-B row
    // wins on its table's key, round-A rows without a B match survive
    // (MERGE updates matched, inserts unmatched, never deletes).
    Gate("q69_incremental_lifecycle", q69_incremental_lifecycle,
      """WITH rawA AS (
           SELECT * FROM read_json('/tmp/graft_fixture_q69/roundA/*.ndjson',
             format='newline_delimited', filename=true,
             columns={id:'BIGINT', created_at:'VARCHAR', updated_at:'VARCHAR', processed_at:'VARCHAR',
               subtotal_price:'VARCHAR', total_price:'VARCHAR', total_tax:'VARCHAR',
               financial_status:'VARCHAR', fulfillment_status:'VARCHAR', currency:'VARCHAR', source_name:'VARCHAR',
               customer:'STRUCT(id BIGINT, email VARCHAR, created_at VARCHAR, first_name VARCHAR, last_name VARCHAR, phone VARCHAR, verified_email BOOLEAN, accepts_marketing BOOLEAN)',
               line_items:'STRUCT(product_id BIGINT, variant_id BIGINT, name VARCHAR, price VARCHAR, quantity BIGINT, vendor VARCHAR)[]',
               shipping_address:'STRUCT(first_name VARCHAR, last_name VARCHAR, address1 VARCHAR, city VARCHAR, province VARCHAR, country VARCHAR, zip VARCHAR)',
               discount_codes:'STRUCT(code VARCHAR, amount VARCHAR)[]'})),
         rawB AS (
           SELECT * FROM read_json('/tmp/graft_fixture_q69/roundB/*.ndjson',
             format='newline_delimited', filename=true,
             columns={id:'BIGINT', created_at:'VARCHAR', updated_at:'VARCHAR', processed_at:'VARCHAR',
               subtotal_price:'VARCHAR', total_price:'VARCHAR', total_tax:'VARCHAR',
               financial_status:'VARCHAR', fulfillment_status:'VARCHAR', currency:'VARCHAR', source_name:'VARCHAR',
               customer:'STRUCT(id BIGINT, email VARCHAR, created_at VARCHAR, first_name VARCHAR, last_name VARCHAR, phone VARCHAR, verified_email BOOLEAN, accepts_marketing BOOLEAN)',
               line_items:'STRUCT(product_id BIGINT, variant_id BIGINT, name VARCHAR, price VARCHAR, quantity BIGINT, vendor VARCHAR)[]',
               shipping_address:'STRUCT(first_name VARCHAR, last_name VARCHAR, address1 VARCHAR, city VARCHAR, province VARCHAR, country VARCHAR, zip VARCHAR)',
               discount_codes:'STRUCT(code VARCHAR, amount VARCHAR)[]'})),
         fwA AS (SELECT * FROM (
                   SELECT *, row_number() OVER (PARTITION BY id ORDER BY filename) AS rn
                   FROM rawA) WHERE rn = 1),
         fwB AS (SELECT * FROM (
                   SELECT *, row_number() OVER (PARTITION BY id ORDER BY filename) AS rn
                   FROM rawB) WHERE rn = 1),
         oA AS (SELECT CAST(id AS VARCHAR) AS k,
             md5(coalesce(strftime(CAST(created_at AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'), 'NULL') || '|' ||
                 coalesce(strftime(CAST(updated_at AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'), 'NULL') || '|' ||
                 coalesce(strftime(CAST(processed_at AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'), 'NULL') || '|' ||
                 CAST(CAST(round(coalesce(CAST(subtotal_price AS DOUBLE), 0.0) * 100, 0) AS BIGINT) AS VARCHAR) || '|' ||
                 CAST(CAST(round(coalesce(CAST(total_tax AS DOUBLE), 0.0) * 100, 0) AS BIGINT) AS VARCHAR) || '|' ||
                 CAST(CAST(round(coalesce(CAST(total_price AS DOUBLE), 0.0) * 100, 0) AS BIGINT) AS VARCHAR) || '|' ||
                 coalesce(financial_status, '') || '|' || coalesce(fulfillment_status, '') || '|' ||
                 coalesce(currency, '') || '|' || coalesce(source_name, '') || '|' ||
                 coalesce(CAST(customer.id AS VARCHAR), 'NULL')) AS fp
           FROM fwA),
         oB AS (SELECT CAST(id AS VARCHAR) AS k,
             md5(coalesce(strftime(CAST(created_at AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'), 'NULL') || '|' ||
                 coalesce(strftime(CAST(updated_at AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'), 'NULL') || '|' ||
                 coalesce(strftime(CAST(processed_at AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'), 'NULL') || '|' ||
                 CAST(CAST(round(coalesce(CAST(subtotal_price AS DOUBLE), 0.0) * 100, 0) AS BIGINT) AS VARCHAR) || '|' ||
                 CAST(CAST(round(coalesce(CAST(total_tax AS DOUBLE), 0.0) * 100, 0) AS BIGINT) AS VARCHAR) || '|' ||
                 CAST(CAST(round(coalesce(CAST(total_price AS DOUBLE), 0.0) * 100, 0) AS BIGINT) AS VARCHAR) || '|' ||
                 coalesce(financial_status, '') || '|' || coalesce(fulfillment_status, '') || '|' ||
                 coalesce(currency, '') || '|' || coalesce(source_name, '') || '|' ||
                 coalesce(CAST(customer.id AS VARCHAR), 'NULL')) AS fp
           FROM fwB),
         liA AS (SELECT coalesce(CAST(id AS VARCHAR), 'NULL') || '/' ||
                   coalesce(CAST(line_items[pos].product_id AS VARCHAR), 'NULL') || '/' ||
                   coalesce(CAST(line_items[pos].variant_id AS VARCHAR), 'NULL') AS k,
             md5(coalesce(line_items[pos].name, '') || '|' ||
                 CAST(CAST(round(coalesce(CAST(line_items[pos].price AS DOUBLE), 0.0) * 100, 0) AS BIGINT) AS VARCHAR) || '|' ||
                 CAST(coalesce(line_items[pos].quantity, 0) AS VARCHAR) || '|' ||
                 coalesce(line_items[pos].vendor, '')) AS fp
           FROM fwA, unnest(generate_series(1, len(line_items))) AS t(pos)),
         liB AS (SELECT coalesce(CAST(id AS VARCHAR), 'NULL') || '/' ||
                   coalesce(CAST(line_items[pos].product_id AS VARCHAR), 'NULL') || '/' ||
                   coalesce(CAST(line_items[pos].variant_id AS VARCHAR), 'NULL') AS k,
             md5(coalesce(line_items[pos].name, '') || '|' ||
                 CAST(CAST(round(coalesce(CAST(line_items[pos].price AS DOUBLE), 0.0) * 100, 0) AS BIGINT) AS VARCHAR) || '|' ||
                 CAST(coalesce(line_items[pos].quantity, 0) AS VARCHAR) || '|' ||
                 coalesce(line_items[pos].vendor, '')) AS fp
           FROM fwB, unnest(generate_series(1, len(line_items))) AS t(pos)),
         cA AS (SELECT CAST(customer.id AS VARCHAR) AS k,
             md5(coalesce(customer.email, '') || '|' ||
                 coalesce(strftime(CAST(customer.created_at AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'), 'NULL') || '|' ||
                 coalesce(customer.first_name, '') || '|' || coalesce(customer.last_name, '') || '|' ||
                 coalesce(customer.phone, '') || '|' ||
                 CAST(CAST(coalesce(customer.verified_email, false) AS INT) AS VARCHAR)) AS fp
           FROM fwA WHERE customer IS NOT NULL AND customer.id IS NOT NULL),
         cB AS (SELECT CAST(customer.id AS VARCHAR) AS k,
             md5(coalesce(customer.email, '') || '|' ||
                 coalesce(strftime(CAST(customer.created_at AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'), 'NULL') || '|' ||
                 coalesce(customer.first_name, '') || '|' || coalesce(customer.last_name, '') || '|' ||
                 coalesce(customer.phone, '') || '|' ||
                 CAST(CAST(coalesce(customer.verified_email, false) AS INT) AS VARCHAR)) AS fp
           FROM fwB WHERE customer IS NOT NULL AND customer.id IS NOT NULL),
         shA AS (SELECT CAST(id AS VARCHAR) AS k,
             md5(coalesce(shipping_address.first_name, '') || '|' ||
                 coalesce(shipping_address.last_name, '') || '|' ||
                 coalesce(shipping_address.address1, '') || '|' ||
                 coalesce(shipping_address.city, '') || '|' ||
                 coalesce(shipping_address.province, '') || '|' ||
                 coalesce(shipping_address.country, '') || '|' ||
                 coalesce(shipping_address.zip, '')) AS fp
           FROM fwA WHERE shipping_address IS NOT NULL),
         shB AS (SELECT CAST(id AS VARCHAR) AS k,
             md5(coalesce(shipping_address.first_name, '') || '|' ||
                 coalesce(shipping_address.last_name, '') || '|' ||
                 coalesce(shipping_address.address1, '') || '|' ||
                 coalesce(shipping_address.city, '') || '|' ||
                 coalesce(shipping_address.province, '') || '|' ||
                 coalesce(shipping_address.country, '') || '|' ||
                 coalesce(shipping_address.zip, '')) AS fp
           FROM fwB WHERE shipping_address IS NOT NULL),
         dA AS (SELECT coalesce(CAST(id AS VARCHAR), 'NULL') || '/' || coalesce(dc.code, 'NULL') AS k,
             md5(CAST(CAST(round(coalesce(CAST(dc.amount AS DOUBLE), 0.0) * 100, 0) AS BIGINT) AS VARCHAR)) AS fp
           FROM (SELECT id, unnest(discount_codes) AS dc FROM fwA)),
         dB AS (SELECT coalesce(CAST(id AS VARCHAR), 'NULL') || '/' || coalesce(dc.code, 'NULL') AS k,
             md5(CAST(CAST(round(coalesce(CAST(dc.amount AS DOUBLE), 0.0) * 100, 0) AS BIGINT) AS VARCHAR)) AS fp
           FROM (SELECT id, unnest(discount_codes) AS dc FROM fwB)),
         mcA AS (SELECT CAST(customer.id AS VARCHAR) AS k,
             md5((CASE WHEN customer.accepts_marketing THEN 'yes' ELSE 'no' END) || '|') AS fp
           FROM fwA WHERE customer IS NOT NULL AND customer.id IS NOT NULL),
         mcB AS (SELECT CAST(customer.id AS VARCHAR) AS k,
             md5((CASE WHEN customer.accepts_marketing THEN 'yes' ELSE 'no' END) || '|') AS fp
           FROM fwB WHERE customer IS NOT NULL AND customer.id IS NOT NULL)
         SELECT entity, k, fp FROM (
           SELECT 'orders' AS entity, k, fp FROM oB
           UNION ALL SELECT 'orders', k, fp FROM oA WHERE NOT EXISTS (SELECT 1 FROM oB WHERE oB.k = oA.k)
           UNION ALL SELECT 'line_items', k, fp FROM liB
           UNION ALL SELECT 'line_items', k, fp FROM liA WHERE NOT EXISTS (SELECT 1 FROM liB WHERE liB.k = liA.k)
           UNION ALL SELECT 'customers', k, fp FROM cB
           UNION ALL SELECT 'customers', k, fp FROM cA WHERE NOT EXISTS (SELECT 1 FROM cB WHERE cB.k = cA.k)
           UNION ALL SELECT 'shipping_addresses', k, fp FROM shB
           UNION ALL SELECT 'shipping_addresses', k, fp FROM shA WHERE NOT EXISTS (SELECT 1 FROM shB WHERE shB.k = shA.k)
           UNION ALL SELECT 'discount_codes', k, fp FROM dB
           UNION ALL SELECT 'discount_codes', k, fp FROM dA WHERE NOT EXISTS (SELECT 1 FROM dB WHERE dB.k = dA.k)
           UNION ALL SELECT 'marketing_consent', k, fp FROM mcB
           UNION ALL SELECT 'marketing_consent', k, fp FROM mcA WHERE NOT EXISTS (SELECT 1 FROM mcB WHERE mcB.k = mcA.k))
         ORDER BY entity, k, fp"""),

    // q70: byte-identical oracle to q62 — star contraction and label
    // propagation must produce the same clusters, and the oracle's
    // recursive closure is formulation-independent.
    Gate("q70_dedup_clusters_ls", q70_dedup_clusters_ls,
      """WITH RECURSIVE
         toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS g
           FROM toks),
         sz AS (SELECT doc_id, len(g) AS n FROM sh),
         e AS (SELECT doc_id, unnest(g) AS gram FROM sh),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         p AS (SELECT id_a, id_b
               FROM pr JOIN sz sa ON sa.doc_id = pr.id_a
                       JOIN sz sb ON sb.doc_id = pr.id_b
               WHERE round(CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE), 4) >= 0.6),
         edges AS (SELECT id_a AS id, id_b AS nb FROM p
                   UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT id, nb FROM edges
           UNION
           SELECT reach.id, e2.nb FROM reach JOIN edges e2 ON e2.id = reach.r),
         labels AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id)
         SELECT label AS cluster_rep, count(*) AS cluster_size
         FROM labels GROUP BY label HAVING count(*) >= 2
         ORDER BY cluster_rep"""),

    // q71: CDC diff of two derived snapshots — FULL JOIN + IS DISTINCT
    // FROM mirrors SnapshotDiff's null-safe compare; cents arithmetic is
    // integer end-to-end so repricing is bit-exact across engines.
    Gate("q71_snapshot_diff", q71_snapshot_diff,
      """WITH olds AS (
           SELECT o_orderkey AS k, o_orderstatus AS status,
                  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
           FROM orders WHERE o_orderkey % 11 <> 0),
         news AS (
           SELECT o_orderkey AS k,
                  CASE WHEN o_orderkey % 17 = 0 THEN 'R' ELSE o_orderstatus END AS status,
                  CASE WHEN o_orderkey % 5 = 0
                       THEN (CAST(round(o_totalprice * 100, 0) AS BIGINT) * 11) // 10
                       ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT) END AS cents
           FROM orders WHERE o_orderkey % 13 <> 0)
         SELECT coalesce(o.k, n.k) AS o_orderkey,
                CASE WHEN o.k IS NULL THEN 'insert'
                     WHEN n.k IS NULL THEN 'delete' ELSE 'update' END AS change_type,
                o.status AS old_status, n.status AS new_status,
                o.cents AS old_cents, n.cents AS new_cents
         FROM olds o FULL JOIN news n ON o.k = n.k
         WHERE o.k IS NULL OR n.k IS NULL
            OR o.status IS DISTINCT FROM n.status
            OR o.cents IS DISTINCT FROM n.cents
         ORDER BY o_orderkey"""),

    // q72: SCD2 — lag-collapse consecutive identical statuses, lead() for
    // the validity interval; (ts, orderkey) ordering matches the Spark
    // window's tie-break exactly.
    Gate("q72_scd2_history", q72_scd2_history,
      """WITH log AS (SELECT o_custkey AS k, o_orderdate AS ts,
                             o_orderkey AS tie, o_orderstatus AS v FROM orders),
         d AS (SELECT k, ts, tie, v,
                      lag(v) OVER (PARTITION BY k ORDER BY ts, tie) AS pv FROM log),
         c AS (SELECT k, ts, tie, v FROM d WHERE pv IS NULL OR pv <> v),
         h AS (SELECT k, v, ts AS valid_from,
                      lead(ts) OVER (PARTITION BY k ORDER BY ts, tie) AS valid_to
               FROM c)
         SELECT k AS cust_key, v AS status, valid_from, valid_to,
                CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
         FROM h ORDER BY cust_key, valid_from, status, is_current, valid_to"""),

    // q73: domain extraction + blocklist + per-domain rollup; URLs built
    // identically on both engines from (source, doc_id).
    Gate("q73_domain_stats", q73_domain_stats,
      """WITH docs AS (SELECT doc_id, lang, n_chars,
                  'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url
           FROM documents),
         ext AS (SELECT *, lower(regexp_extract(url, '^https?://(?:[^/?#]*@)?([^/:?#@]+)', 1)) AS host
                 FROM docs),
         nb AS (SELECT * FROM ext
                WHERE host NOT IN ('src3.example.com', 'src7.example.com'))
         SELECT host AS domain,
                regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS registrable,
                count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                count(DISTINCT lang) AS n_langs
         FROM nb GROUP BY 1, 2 ORDER BY domain"""),

    // q74: md5 permutation audit — per-shard occupancy and key
    // boundaries; md5 is engine-independent by construction.
    Gate("q74_corpus_shuffle", q74_corpus_shuffle,
      """WITH h AS (SELECT doc_id, md5('42/' || CAST(doc_id AS VARCHAR)) AS hk
                    FROM documents)
         SELECT substr(hk, 1, 2) AS shard, count(*) AS n_docs,
                min(hk) AS min_key, max(hk) AS max_key
         FROM h GROUP BY 1 ORDER BY shard"""),

    // q75: duplicate 8-gram spans with string grams (hashed-gram
    // equivalence w.h.p., q20/q22 precedent); integer threshold — no
    // float boundary in the filter.
    Gate("q75_dup_ngram_spans", q75_dup_ngram_spans,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(w) >= 8
                      THEN list_distinct(list_transform(generate_series(1, len(w) - 7),
                             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
                                  w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]))
                      ELSE [array_to_string(w, ' ')] END AS grams
               FROM toks),
         e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         dfc AS (SELECT gram, count(*) AS df FROM e GROUP BY 1),
         per AS (SELECT e.doc_id, count(*) AS n_grams,
                        sum(CASE WHEN dfc.df > 1 THEN 1 ELSE 0 END) AS n_dup
                 FROM e JOIN dfc ON e.gram = dfc.gram GROUP BY 1)
         SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                CAST(n_dup AS BIGINT) AS n_dup,
                round(CAST(n_dup AS DOUBLE) / n_grams, 4) AS dup_fraction
         FROM per WHERE n_dup * 5 >= n_grams ORDER BY doc_id"""),

    // q76: direct full recompute — the merged-partials path must equal it.
    Gate("q76_incremental_rollup", q76_incremental_rollup,
      """SELECT event_type, count(value) AS n, round(sum(value), 2) AS total,
                round(sum(value) / count(value), 4) AS avg,
                min(value) AS lo, max(value) AS hi
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // q77: estimates are engine-specific, so the gate hashes the exact
    // count + the invariants (merged ≡ one-shot; within 5% of exact).
    Gate("q77_sketch_distinct", q77_sketch_distinct,
      """SELECT count(DISTINCT user_id) AS exact_distinct,
                count(*) AS n_rows,
                TRUE AS merge_consistent,
                TRUE AS within_tolerance
         FROM events"""),

    // q78: the full mix→shuffle→pack→manifest composition replayed in one
    // SQL program (q47 predicate + q74 md5 placement + q46 running-sum
    // packing, ordered by the shuffle key).
    Gate("q78_training_shards", q78_training_shards,
      """WITH mixed AS (
           SELECT doc_id, len(string_split(text, ' ')) AS toks,
                  md5('77/' || CAST(doc_id AS VARCHAR)) AS hk
           FROM documents
           WHERE ((doc_id % 100000007) * 2654435761) % 100 <
                 CASE WHEN source = 'web' THEN 75 WHEN source = 'books' THEN 50
                      WHEN source = 'wiki' THEN 90 ELSE 25 END),
         sh AS (SELECT *, substr(hk, 1, 1) AS shard FROM mixed),
         r AS (SELECT shard, hk, doc_id, toks,
                 sum(toks) OVER (PARTITION BY shard ORDER BY hk, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
               FROM sh),
         p AS (SELECT shard, CAST(floor((running - toks) / 256.0) AS BIGINT) AS pack,
                      toks, hk FROM r)
         SELECT shard, pack, count(*) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS pack_tokens,
                min(hk) AS pack_start
         FROM p GROUP BY shard, pack ORDER BY shard, pack"""),

    // q79: the row_number formulation the bounded aggregator replaces —
    // identical sort key string, so the sample must match exactly.
    Gate("q79_quota_sample", q79_quota_sample,
      """SELECT lang, CAST(doc_id AS VARCHAR) AS doc_id_str FROM (
           SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
             ORDER BY md5('s9/' || CAST(doc_id AS VARCHAR)) || '/' || CAST(doc_id AS VARCHAR)) AS rn
           FROM documents) t
         WHERE rn <= 10 ORDER BY lang, doc_id_str"""),

    // q80: Morton bit-spread replayed as plain integer arithmetic.
    Gate("q80_zorder_stats", q80_zorder_stats,
      """WITH base AS (SELECT o_custkey % 65536 AS xa,
             datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) % 65536 AS xb
           FROM orders),
         s1 AS (SELECT xa, xb, (xa | (xa << 8)) & 16711935 AS a1,
                       (xb | (xb << 8)) & 16711935 AS b1 FROM base),
         s2 AS (SELECT xa, xb, (a1 | (a1 << 4)) & 252645135 AS a2,
                       (b1 | (b1 << 4)) & 252645135 AS b2 FROM s1),
         s3 AS (SELECT xa, xb, (a2 | (a2 << 2)) & 858993459 AS a3,
                       (b2 | (b2 << 2)) & 858993459 AS b3 FROM s2),
         s4 AS (SELECT xa, xb, (a3 | (a3 << 1)) & 1431655765 AS az,
                       (b3 | (b3 << 1)) & 1431655765 AS bz FROM s3),
         z AS (SELECT xa, xb, az | (bz << 1) AS zv FROM s4)
         SELECT CAST(zv // 1048576 AS BIGINT) AS z_bucket, count(*) AS n,
                CAST(min(xa) AS BIGINT) AS min_cust, CAST(max(xa) AS BIGINT) AS max_cust,
                CAST(min(xb) AS BIGINT) AS min_day, CAST(max(xb) AS BIGINT) AS max_day
         FROM z GROUP BY 1 ORDER BY z_bucket"""),

    // q81: direct binning + the same interpolation closed form — the
    // merged-halves state must reproduce it exactly.
    Gate("q81_binned_quantiles", q81_binned_quantiles,
      """WITH binned AS (
           SELECT o_orderstatus AS status,
                  least(greatest(CAST(floor(o_totalprice / 6000.0) AS BIGINT), 0), 99) AS bin,
                  count(*) AS cnt
           FROM orders
           WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
           GROUP BY 1, 2),
         j AS (SELECT status, bin, cnt,
                 coalesce(sum(cnt) OVER (PARTITION BY status ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
                 sum(cnt) OVER (PARTITION BY status) AS total
               FROM binned)
         SELECT status,
           round(min(CASE WHEN cb + cnt >= 0.5 * total AND cb < 0.5 * total
                THEN (bin + (0.5 * total - cb) / cnt) * 6000.0 END), 4) AS p50_est,
           round(min(CASE WHEN cb + cnt >= 0.95 * total AND cb < 0.95 * total
                THEN (bin + (0.95 * total - cb) / cnt) * 6000.0 END), 4) AS p95_est,
           CAST(min(total) AS BIGINT) AS n
         FROM j GROUP BY status ORDER BY status"""),

    // q82: per-source moments + z filter on the unrounded value; both
    // engines use SAMPLE stddev.
    Gate("q82_zscore_outliers", q82_zscore_outliers,
      """WITH s AS (SELECT source, avg(n_chars) AS m, stddev(n_chars) AS sd
                    FROM documents GROUP BY source)
         SELECT d.source, d.doc_id, d.n_chars,
                round((d.n_chars - s.m) / s.sd, 4) AS z
         FROM documents d JOIN s ON d.source = s.source
         WHERE s.sd > 0 AND abs((d.n_chars - s.m) / s.sd) > 1.5
         ORDER BY d.source, d.doc_id"""),

    // q83: exact-substring span removal replayed 1-based with string
    // grams: positional grams → occurrence>1 → covered positions
    // (pos..pos+7, clamped) → anti-join rebuild. Docs with no duplicated
    // position keep their ORIGINAL text on both engines (no
    // tokenize/rejoin roundtrip on the untouched majority).
    Gate("q83_dup_span_removal", q83_dup_span_removal,
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
         pg AS (SELECT doc_id, p.pos,
                  CASE WHEN len(w) >= 8
                       THEN w[p.pos] || ' ' || w[p.pos+1] || ' ' || w[p.pos+2] || ' ' ||
                            w[p.pos+3] || ' ' || w[p.pos+4] || ' ' || w[p.pos+5] || ' ' ||
                            w[p.pos+6] || ' ' || w[p.pos+7]
                       ELSE array_to_string(w, ' ') END AS gram,
                  len(w) AS lw
                FROM toks,
                  LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 7, 1))) AS pos) p),
         occ AS (SELECT gram FROM pg GROUP BY gram HAVING count(*) > 1),
         dup AS (SELECT pg.doc_id, pg.pos, pg.lw FROM pg JOIN occ USING (gram)),
         cov AS (SELECT DISTINCT doc_id, c.cp
                 FROM dup, LATERAL (SELECT unnest(generate_series(pos, least(pos + 7, lw))) AS cp) c),
         nd AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id),
         kept AS (SELECT t.doc_id, p.pos, t.w[p.pos] AS tok
                  FROM toks t
                  JOIN nd ON t.doc_id = nd.doc_id,
                  LATERAL (SELECT unnest(generate_series(1, len(t.w))) AS pos) p
                  WHERE NOT EXISTS (SELECT 1 FROM cov
                                    WHERE cov.doc_id = t.doc_id AND cov.cp = p.pos)),
         cl AS (SELECT doc_id, coalesce(string_agg(tok, ' ' ORDER BY pos), '') AS clean_text
                FROM kept GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
                CAST(coalesce(nd.n_removed, 0) AS BIGINT) AS n_removed,
                md5(CASE WHEN nd.doc_id IS NULL THEN t.text
                         ELSE coalesce(cl.clean_text, '') END) AS clean_md5
         FROM toks t
         LEFT JOIN nd ON t.doc_id = nd.doc_id
         LEFT JOIN cl ON t.doc_id = cl.doc_id
         ORDER BY t.doc_id"""),

    // q84/q85: BPE training replayed by UNROLLING the 8 rounds as
    // generated SQL (see bpeOracleRounds) — scalar-subquery argmax per
    // round plus the identical double-separator replace rewrite.
    Gate("q84_bpe_merges", q84_bpe_merges, bpeOracleMerges),
    Gate("q85_bpe_tokenize", q85_bpe_tokenize, bpeOracleTokenize),

    // q86: PSL longest-match registrable domain against the same
    // snapshot (VALUES rows); candidates per rule length, scalar-max
    // lookup, default rule = last label.
    Gate("q86_psl_domains", q86_psl_domains,
      s"""WITH psl(sfx, nl) AS (SELECT * FROM (VALUES ${Web.pslValues})),
         docs AS (SELECT doc_id, source, n_chars,
                   'https://' || source || '.' ||
                   (['example.com','example.co.uk','sample.com.au','demo.ac.uk','campus.k12.ma.us','site.test'])[CAST(doc_id % 6 AS INT) + 1]
                   || '/p/' || CAST(doc_id AS VARCHAR) AS url
                  FROM documents),
         h AS (SELECT *, lower(regexp_extract(url, '^https?://(?:[^/?#]*@)?([^/:?#@]+)', 1)) AS host
               FROM docs),
         l AS (SELECT *, string_split(host, '.') AS w FROM h),
         m AS (SELECT *, coalesce((SELECT max(p.nl) FROM psl p
                 WHERE p.sfx IN (
                   CASE WHEN len(w) >= 1 THEN array_to_string(w[len(w):len(w)], '.') END,
                   CASE WHEN len(w) >= 2 THEN array_to_string(w[len(w)-1:len(w)], '.') END,
                   CASE WHEN len(w) >= 3 THEN array_to_string(w[len(w)-2:len(w)], '.') END)), 1) AS mm
               FROM l),
         r AS (SELECT *, CASE WHEN length(host) = 0 THEN NULL
                              WHEN len(w) > mm THEN array_to_string(w[len(w)-mm:len(w)], '.')
                              ELSE NULL END AS registrable FROM m)
         SELECT registrable, count(*) AS n_docs,
                count(DISTINCT host) AS n_hosts,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM r GROUP BY registrable ORDER BY registrable"""),

    // q87: the store-folded histogram state must equal a full
    // recompute — the oracle bins the whole events table directly
    // (q81's estimator shape at lo=0, width=5, 100 bins).
    Gate("q87_quantiles_maintained", q87_quantiles_maintained,
      """WITH binned AS (
           SELECT event_type,
                  least(greatest(CAST(floor(value / 5.0) AS BIGINT), 0), 99) AS bin,
                  count(*) AS cnt
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(value)
           GROUP BY 1, 2),
         j AS (SELECT event_type, bin, cnt,
                 coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
                 sum(cnt) OVER (PARTITION BY event_type) AS total
               FROM binned)
         SELECT event_type,
           round(min(CASE WHEN cb + cnt >= 0.5 * total AND cb < 0.5 * total
                THEN (bin + (0.5 * total - cb) / cnt) * 5.0 END), 4) AS p50_est,
           round(min(CASE WHEN cb + cnt >= 0.95 * total AND cb < 0.95 * total
                THEN (bin + (0.95 * total - cb) / cnt) * 5.0 END), 4) AS p95_est,
           CAST(min(total) AS BIGINT) AS n
         FROM j GROUP BY event_type ORDER BY event_type"""),

    // q88: identical semantics to q32 (planted-duplicate rank-1 ⊆ brute
    // force) — the Spark side answers from the STORED index instead of
    // re-assigning the corpus; the oracle is the same exact scan.
    Gate("q88_ann_ivf_indexed", q88_ann_ivf_indexed,
      """WITH q AS (SELECT vec_id + 1000000 AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id >= 8 AND vec_id < 16),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank = 1 ORDER BY query_id"""),

    // q89: q20's exact-Jaccard replay restricted to corpus×batch pairs —
    // the Spark side answers candidate generation from the STORED bucket
    // table (only the batch is sketched), so containment of the exact
    // >= 0.6 cross-pair set proves the stored-index join loses nothing
    // vs re-sketching the corpus.
    Gate("q89_incremental_neardup", q89_incremental_neardup,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS g
           FROM toks),
         sz AS (SELECT doc_id, len(g) AS n FROM sh),
         e AS (SELECT doc_id, unnest(g) AS gram FROM sh),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM e a JOIN e b ON a.gram = b.gram
                WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
                GROUP BY 1, 2),
         j AS (SELECT id_a, id_b,
                 round(CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE), 4) AS jaccard
               FROM pr JOIN sz sa ON sa.doc_id = pr.id_a
                       JOIN sz sb ON sb.doc_id = pr.id_b)
         SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.6
         ORDER BY id_a, id_b"""),

    // q90: the MG + candidate-exact-count composition is EXACT (every
    // term with share > 1/(capacity+1) is provably a candidate), so the
    // oracle is the direct GROUP BY + HAVING it replaces at scale.
    Gate("q90_heavy_hitters", q90_heavy_hitters,
      """WITH t AS (SELECT CAST(length(CAST(l_partkey AS VARCHAR)) AS VARCHAR) AS term
                    FROM lineitem),
         c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
         n AS (SELECT count(*) AS total FROM t)
         SELECT term, cnt FROM c, n WHERE cnt * 3 > total ORDER BY term"""),

    // q91: full replay of SemDeDup with deterministic seed centroids —
    // assignment argmax (dot desc, cell asc), within-cell dominance
    // (centroid-sim asc, id asc; cos >= tau), every verdict checked.
    Gate("q91_semdedup", q91_semdedup,
      """WITH corpus AS (
           SELECT vec_id AS id, embedding AS v FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000 AS id, embedding AS v
           FROM embeddings WHERE vec_id < 20),
         cent AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell,
                  embedding AS cv
           FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
         dots AS (
           SELECT c.id, ct.cell,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(c.v[i] AS DOUBLE) * ct.cv[i])) AS cd
           FROM corpus c CROSS JOIN cent ct),
         asg AS (
           SELECT id, cell, cd FROM (
             SELECT id, cell, cd,
               row_number() OVER (PARTITION BY id ORDER BY cd DESC, cell ASC) AS rn
             FROM dots) t
           WHERE rn = 1),
         pv AS (
           SELECT a.id, a.cell, a.cd, c.v
           FROM asg a JOIN corpus c ON a.id = c.id),
         dom AS (
           SELECT DISTINCT b.id
           FROM pv a JOIN pv b ON a.cell = b.cell
             AND (a.cd < b.cd OR (a.cd = b.cd AND a.id < b.id))
             AND list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(a.v[i] AS DOUBLE) * b.v[i])) >= 0.45)
         SELECT p.id, p.cell, round(p.cd, 4) AS centroid_sim,
                (d.id IS NOT NULL) AS dropped
         FROM pv p LEFT JOIN dom d ON p.id = d.id
         ORDER BY p.id"""),

    // q92: q24/q88's planted-twin protocol for the PQ-compressed path —
    // the oracle is the exact brute-force scan; the Spark side must
    // reach the same rank-1 exact scores through codes-only ADC
    // shortlisting + bounded exact refine.
    Gate("q92_ann_pq", q92_ann_pq,
      """WITH q AS (SELECT vec_id + 1000000 AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id >= 16 AND vec_id < 24),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank = 1 ORDER BY query_id"""),

    // q93: both versions rebuilt from the raw table, diff replayed with
    // FULL JOIN + IS DISTINCT FROM (q71's shape) — version resolution
    // and snapshot isolation sit under the same hash as the CDC rollup.
    Gate("q93_time_travel", q93_time_travel,
      """WITH o0 AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey % 7 <> 0),
         o1 AS (
           SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 89 <> 3),
         d AS (
           SELECT coalesce(o0.o_orderkey, o1.o_orderkey) AS k,
             o0.o_totalprice AS oldp, o1.o_totalprice AS newp,
             CASE WHEN o0.o_orderkey IS NULL THEN 'insert'
                  WHEN o1.o_orderkey IS NULL THEN 'delete'
                  ELSE 'update' END AS change_type
           FROM o0 FULL JOIN o1 ON o0.o_orderkey = o1.o_orderkey
           WHERE o0.o_orderkey IS NULL OR o1.o_orderkey IS NULL
             OR o0.o_totalprice IS DISTINCT FROM o1.o_totalprice
             OR o0.o_orderstatus IS DISTINCT FROM o1.o_orderstatus)
         SELECT change_type, count(*) AS n,
           round(sum(coalesce(newp, 0) - coalesce(oldp, 0)), 2) AS delta_value
         FROM d GROUP BY change_type ORDER BY change_type"""),

    // q94: full replay of BM25 — tf/dl/df/N/avgdl, Lucene idf, the
    // saturation term — with the same literal arithmetic ((1.2 + 1),
    // (1 - 0.75 + ...)) so both engines run identical IEEE ops.
    Gate("q94_bm25", q94_bm25,
      """WITH tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
           GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         nn AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         q(query_id, term) AS (VALUES
           (1, 'spark'), (1, 'join'), (2, 'window'), (2, 'sort'), (3, 'customer')),
         dfs AS (SELECT term, count(*) AS df FROM tf
                 WHERE term IN (SELECT term FROM q) GROUP BY 1),
         c AS (
           SELECT q.query_id, tf.doc_id,
             ln(1 + (nn.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
               (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / nn.avgdl)) AS contrib
           FROM tf JOIN q ON tf.term = q.term
                   JOIN dfs ON tf.term = dfs.term
                   JOIN dl ON tf.doc_id = dl.doc_id
                   CROSS JOIN nn),
         sc AS (SELECT query_id, doc_id, sum(contrib) AS score FROM c GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
               FROM sc)
         SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
                doc_id, round(score, 4) AS score
         FROM r WHERE rank <= 10 ORDER BY query_id, rank"""),

    // q95: the md5 hex-threshold assignment replayed exactly —
    // thresholds are floor(cum·2^32) as 8 lowercase hex digits
    // (0.75 → c0000000, 0.875 → e0000000), and lowercase hex compares
    // lexicographically as numbers.
    Gate("q95_group_split", q95_group_split,
      """WITH a AS (
           SELECT *, CASE
             WHEN substr(md5('sp8/' || coalesce(source, ' NULL')), 1, 8) < 'c0000000' THEN 'train'
             WHEN substr(md5('sp8/' || coalesce(source, ' NULL')), 1, 8) < 'e0000000' THEN 'val'
             ELSE 'test' END AS split
           FROM documents)
         SELECT split, source, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM a GROUP BY split, source ORDER BY split, source"""),

    // q96: the planted-twin protocol through the FULL compressed
    // pipeline (coarse probe → ADC codes scan → exact refine); the
    // oracle stays the exact brute-force scan.
    Gate("q96_ann_ivfpq", q96_ann_ivfpq,
      """WITH q AS (SELECT vec_id + 1000000 AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id >= 24 AND vec_id < 32),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank = 1 ORDER BY query_id"""),

    // q97: BOTH rankings (BM25 top-20, cosine top-20) and the RRF
    // arithmetic replayed — 1.0/(60+rank) per list, summed per doc,
    // ties broken (fused desc, doc asc) in both engines.
    Gate("q97_hybrid_rrf", q97_hybrid_rrf,
      """WITH tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
           GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         nn AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         q(query_id, term) AS (VALUES
           (1, 'spark'), (1, 'join'), (2, 'window'), (2, 'sort'), (3, 'customer')),
         dfs AS (SELECT term, count(*) AS df FROM tf
                 WHERE term IN (SELECT term FROM q) GROUP BY 1),
         c AS (
           SELECT q.query_id, tf.doc_id,
             ln(1 + (nn.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
               (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / nn.avgdl)) AS contrib
           FROM tf JOIN q ON tf.term = q.term
                   JOIN dfs ON tf.term = dfs.term
                   JOIN dl ON tf.doc_id = dl.doc_id
                   CROSS JOIN nn),
         sc AS (SELECT query_id, doc_id, sum(contrib) AS score FROM c GROUP BY 1, 2),
         lr AS (SELECT query_id, doc_id, rank FROM (
                  SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
                  FROM sc) t WHERE rank <= 20),
         eq AS (SELECT vec_id + 1000001 AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id < 3),
         ec AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         es AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM ec CROSS JOIN eq WHERE neighbor_id <> query_id),
         sr AS (SELECT query_id - 1000000 AS query_id, neighbor_id AS doc_id, rank FROM (
                  SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
                  FROM es) t WHERE rank <= 20),
         u AS (
           SELECT query_id, doc_id, 1.0 / (60 + rank) AS contrib FROM lr
           UNION ALL
           SELECT query_id, doc_id, 1.0 / (60 + rank) FROM sr),
         f AS (SELECT query_id, doc_id, sum(contrib) AS fused FROM u GROUP BY 1, 2),
         fr AS (SELECT query_id, doc_id, fused,
                  row_number() OVER (PARTITION BY query_id ORDER BY fused DESC, doc_id ASC) AS rank
                FROM f)
         SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
                doc_id, round(fused, 4) AS fused
         FROM fr WHERE rank <= 10 ORDER BY query_id, rank"""),

    // q98: all four stages — quality floor, min-id-per-md5 dedup, the
    // q95 split arithmetic, the q78 shard/pack replay — in ONE SQL
    // program, so the composition itself is under the hash.
    Gate("q98_data_build", q98_data_build,
      """WITH f AS (
           SELECT doc_id, source, text FROM documents
           WHERE n_chars >= 250 AND len(string_split(text, ' ')) >= 45),
         g AS (SELECT md5(text) AS fp, min(doc_id) AS mid FROM f GROUP BY 1),
         d2 AS (SELECT f.* FROM f
                JOIN g ON md5(f.text) = g.fp AND f.doc_id = g.mid),
         tr AS (SELECT * FROM d2
                WHERE substr(md5('sp8/' || coalesce(source, ' NULL')), 1, 8) < 'c0000000'),
         mixed AS (
           SELECT doc_id, len(string_split(text, ' ')) AS toks,
                  md5('b8/' || CAST(doc_id AS VARCHAR)) AS hk
           FROM tr
           WHERE ((doc_id % 100000007) * 2654435761) % 100 < 100),
         sh AS (SELECT *, substr(hk, 1, 1) AS shard FROM mixed),
         r AS (SELECT shard, hk, doc_id, toks,
                 sum(toks) OVER (PARTITION BY shard ORDER BY hk, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
               FROM sh),
         p AS (SELECT shard, CAST(floor((running - toks) / 512.0) AS BIGINT) AS pack,
                      toks, hk FROM r)
         SELECT shard, pack, count(*) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS pack_tokens,
                min(hk) AS pack_start
         FROM p GROUP BY shard, pack ORDER BY shard, pack"""),

    // q99: both truncations replayed — top-searchDepth by UNROUNDED
    // retrieval score first (annBruteForce's contract), then the
    // false-negative filter, then top-kNegatives by the ROUNDED score
    // (the frame the miner re-ranks) with id tie-break.
    Gate("q99_hard_negatives", q99_hard_negatives,
      """WITH q AS (SELECT vec_id + 1000000 AS query_id, vec_id AS pos_id,
                           embedding AS qv
                    FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s),
         topd AS (SELECT query_id, neighbor_id, round(score, 4) AS rscore
                  FROM r WHERE rank <= 20),
         n0 AS (
           SELECT t.query_id, t.neighbor_id, t.rscore
           FROM topd t
           JOIN q ON t.query_id = q.query_id
           JOIN c nv ON t.neighbor_id = nv.neighbor_id
           JOIN (SELECT vec_id AS pos_id, embedding AS pvv
                 FROM embeddings WHERE vec_id < 8) p ON q.pos_id = p.pos_id
           WHERE t.neighbor_id <> q.pos_id
             AND list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(nv.cv[i] AS DOUBLE) * p.pvv[i])) < 0.45),
         n1 AS (
           SELECT query_id, neighbor_id, rscore,
             row_number() OVER (PARTITION BY query_id ORDER BY rscore DESC, neighbor_id ASC) AS nrank
           FROM n0),
         pos AS (
           SELECT q.query_id, 'positive' AS role, CAST(0 AS BIGINT) AS rank,
             q.pos_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, 64),
               i -> CAST(q.qv[i] AS DOUBLE) * p.pvv[i])), 4) AS score
           FROM q JOIN (SELECT vec_id AS pos_id, embedding AS pvv
                        FROM embeddings WHERE vec_id < 8) p
             ON q.pos_id = p.pos_id),
         neg AS (
           SELECT query_id, 'negative' AS role, CAST(nrank AS BIGINT) AS rank,
                  neighbor_id, rscore AS score
           FROM n1 WHERE nrank <= 3)
         SELECT query_id, role, rank, neighbor_id, score
         FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg) u
         ORDER BY query_id, rank"""),

    // q100: the whole sketch replayed — d×16^3 hex-string cells built
    // from md5('<j>/<term>'), probed with min-over-rows — plus the
    // exact counts in the same frame (est >= exact is the guarantee).
    Gate("q100_countmin_freq", q100_countmin_freq,
      """WITH t AS (SELECT CAST(l_partkey AS VARCHAR) AS term FROM lineitem),
         js AS (SELECT unnest(generate_series(0, 3)) AS j),
         cells AS (
           SELECT j, substr(md5(CAST(j AS VARCHAR) || '/' || term), 1, 3) AS cell,
                  count(*) AS cnt
           FROM t CROSS JOIN js GROUP BY 1, 2),
         q AS (SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS term
               FROM lineitem WHERE l_partkey % 97 = 0),
         probes AS (
           SELECT term, j, substr(md5(CAST(j AS VARCHAR) || '/' || term), 1, 3) AS cell
           FROM q CROSS JOIN js),
         est AS (
           SELECT p.term, min(coalesce(c.cnt, 0)) AS est
           FROM probes p LEFT JOIN cells c ON p.j = c.j AND p.cell = c.cell
           GROUP BY 1),
         ex AS (SELECT term, count(*) AS exact FROM t GROUP BY 1)
         SELECT e.term, e.est, coalesce(x.exact, 0) AS exact
         FROM est e LEFT JOIN ex x ON e.term = x.term
         ORDER BY e.term"""),

    // q101: brute-force all-pairs truth — the prefix filter is exact, so
    // the engine must reproduce this with NO recall caveat. Threshold is
    // applied to the UNROUNDED Jaccard (the completeness theorem covers
    // true J >= t), rounding only the output.
    Gate("q101_allpairs_jaccard", q101_allpairs_jaccard,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS g
           FROM toks),
         sz AS (SELECT doc_id, len(g) AS n FROM sh),
         e AS (SELECT doc_id, unnest(g) AS gram FROM sh),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         j AS (SELECT id_a, id_b,
                 CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE) AS jr
               FROM pr JOIN sz sa ON sa.doc_id = pr.id_a
                       JOIN sz sb ON sb.doc_id = pr.id_b)
         SELECT id_a, id_b, round(jr, 4) AS jaccard FROM j WHERE jr >= 0.6
         ORDER BY id_a, id_b"""),

    // q102: the probe truncation arithmetic (40% token prefix) AND the
    // directed containment |A∩B|/|A| are both replayed; threshold on the
    // unrounded ratio, like q101.
    Gate("q102_containment", q102_containment,
      """WITH d AS (SELECT doc_id, text FROM documents),
         probe0 AS (SELECT doc_id + 2000000 AS doc_id,
             array_to_string((string_split(text, ' '))[1:CAST(ceil(len(string_split(text, ' ')) * 0.4) AS INT)], ' ') AS text
           FROM d WHERE doc_id % 20 = 0),
         tp AS (SELECT doc_id, string_split(text, ' ') AS w FROM probe0),
         tc AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
         shp AS (SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS g
           FROM tp),
         shc AS (SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS g
           FROM tc),
         szp AS (SELECT doc_id, len(g) AS n FROM shp),
         ep AS (SELECT doc_id, unnest(g) AS gram FROM shp),
         ec AS (SELECT doc_id, unnest(g) AS gram FROM shc),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM ep a JOIN ec b ON a.gram = b.gram GROUP BY 1, 2),
         c AS (SELECT id_a, id_b, CAST(shared AS DOUBLE) / CAST(sp.n AS DOUBLE) AS cr
               FROM pr JOIN szp sp ON sp.doc_id = pr.id_a)
         SELECT id_a, id_b, round(cr, 4) AS containment FROM c WHERE cr >= 0.8
         ORDER BY id_a, id_b"""),

    // q103: every metric AND verdict replayed — ratios as double division
    // of exact counts (identical IEEE result in both engines), counts as
    // doubles, thresholds compared unrounded like the engine.
    Gate("q103_quality_report", q103_quality_report,
      """SELECT chk, target, metric, passed FROM (
           SELECT 'completeness' AS chk, 'l_returnflag' AS target,
             round(CAST(count(l_returnflag) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS metric,
             CAST(count(l_returnflag) AS DOUBLE) / CAST(count(*) AS DOUBLE) >= 0.99 AS passed
           FROM lineitem
           UNION ALL
           SELECT 'uniqueness', 'l_orderkey,l_linenumber',
             round(CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6),
             CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS DOUBLE) / CAST(count(*) AS DOUBLE) = 1.0
           FROM lineitem
           UNION ALL
           SELECT 'in_range', 'l_discount',
             round(CAST(count(*) FILTER (l_discount < 0.0 OR l_discount > 0.1) AS DOUBLE), 6),
             count(*) FILTER (l_discount < 0.0 OR l_discount > 0.1) = 0
           FROM lineitem
           UNION ALL
           SELECT 'in_range', 'l_quantity',
             round(CAST(count(*) FILTER (l_quantity < 1.0 OR l_quantity > 40.0) AS DOUBLE), 6),
             count(*) FILTER (l_quantity < 1.0 OR l_quantity > 40.0) = 0
           FROM lineitem
           UNION ALL
           SELECT 'pattern', 'l_returnflag',
             round(CAST(count(*) FILTER (regexp_matches(l_returnflag, '^[ARN]$')) AS DOUBLE) /
               CAST(count(l_returnflag) AS DOUBLE), 6),
             CAST(count(*) FILTER (regexp_matches(l_returnflag, '^[ARN]$')) AS DOUBLE) /
               CAST(count(l_returnflag) AS DOUBLE) >= 1.0
           FROM lineitem
           UNION ALL
           SELECT 'row_count', '*', round(CAST(count(*) AS DOUBLE), 6),
             count(*) >= 1000 AND count(*) <= 10000000000
           FROM lineitem
           UNION ALL
           SELECT 'foreign_key', 'l_orderkey',
             round(CAST((SELECT count(*) FROM lineitem l LEFT JOIN orders o
                         ON l.l_orderkey = o.o_orderkey
                         WHERE o.o_orderkey IS NULL AND l.l_orderkey IS NOT NULL) AS DOUBLE), 6),
             (SELECT count(*) FROM lineitem l LEFT JOIN orders o
              ON l.l_orderkey = o.o_orderkey
              WHERE o.o_orderkey IS NULL AND l.l_orderkey IS NOT NULL) = 0
         ) ORDER BY chk, target"""),

    // q104: the full A-Res draw replayed — md5 hex fraction over 2^52
    // (every intermediate exact in a double), ln(u)/w priority, ranking
    // with id tie-break. Selection compares unrounded priorities; the
    // output key is rounded.
    Gate("q104_weighted_sample", q104_weighted_sample,
      """WITH p AS (
           SELECT doc_id,
             ln((CAST(('0x' || substr(md5('ws8/' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1)
                / 4503599627370496.0) / CAST(n_chars AS DOUBLE) AS k
           FROM documents
           WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
         r AS (SELECT doc_id, k,
                 CAST(row_number() OVER (ORDER BY k DESC, doc_id ASC) AS INT) AS rank
               FROM p)
         SELECT rank, doc_id, round(k, 6) AS key FROM r WHERE rank <= 50
         ORDER BY rank"""),

    // q105: both sketches (q100's geometry), both inner products with the
    // absent-hash-row zero guard, and both exact sizes replayed.
    Gate("q105_join_size", q105_join_size,
      """WITH t AS (SELECT CAST(l_partkey AS VARCHAR) AS term FROM lineitem),
         p AS (SELECT CAST(p_partkey AS VARCHAR) AS term FROM part WHERE p_size > 25),
         js AS (SELECT unnest(generate_series(0, 3)) AS j),
         cr AS (SELECT j, substr(md5(CAST(j AS VARCHAR) || '/' || term), 1, 3) AS cell,
                  count(*) AS cnt
                FROM t CROSS JOIN js GROUP BY 1, 2),
         cs AS (SELECT j, substr(md5(CAST(j AS VARCHAR) || '/' || term), 1, 3) AS cell,
                  count(*) AS cnt
                FROM p CROSS JOIN js GROUP BY 1, 2),
         ip AS (SELECT cr.j, sum(cr.cnt * cs.cnt) AS ip
                FROM cr JOIN cs ON cr.j = cs.j AND cr.cell = cs.cell GROUP BY 1),
         e1 AS (SELECT CASE WHEN count(*) < 4 THEN CAST(0 AS BIGINT)
                            ELSE CAST(min(ip) AS BIGINT) END AS est_join_size FROM ip),
         ips AS (SELECT a.j, sum(a.cnt * b.cnt) AS ip
                 FROM cr a JOIN cr b ON a.j = b.j AND a.cell = b.cell GROUP BY 1),
         e2 AS (SELECT CASE WHEN count(*) < 4 THEN CAST(0 AS BIGINT)
                            ELSE CAST(min(ip) AS BIGINT) END AS est_self_size FROM ips),
         x1 AS (SELECT count(*) AS exact_join_size FROM t JOIN p USING (term)),
         x2 AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_self_size
                FROM (SELECT count(*) AS c FROM t GROUP BY term))
         SELECT e1.est_join_size, x1.exact_join_size, e2.est_self_size, x2.exact_self_size
         FROM e1, x1, e2, x2"""),

    // q106: training AND scoring replayed — bigram counts, left counts
    // derived from them, exact vocab size, add-one smoothing, mean log10
    // per doc (4dp), per-source rollup.
    Gate("q106_bigram_lm", q106_bigram_lm,
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
         bgl AS (SELECT doc_id, source,
                   list_transform(generate_series(1, len(w) - 1),
                     i -> w[i] || ' ' || w[i+1]) AS bs
                 FROM toks WHERE len(w) >= 2),
         bg AS (SELECT doc_id, source, unnest(bs) AS b FROM bgl),
         cb AS (SELECT b, count(*) AS cb FROM bg GROUP BY b),
         cl AS (SELECT string_split(b, ' ')[1] AS l, CAST(sum(cb) AS BIGINT) AS cl
                FROM cb GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS v
               FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
         sc AS (SELECT doc_id, source, count(*) AS nb,
                  round(avg(log10((cb.cb + 1.0) /
                    (cl.cl + (SELECT v FROM v)))), 4) AS doc_lp
                FROM bg JOIN cb USING (b)
                        JOIN cl ON string_split(bg.b, ' ')[1] = cl.l
                GROUP BY doc_id, source)
         SELECT source, count(*) AS n_docs,
           round(avg(doc_lp), 4) AS avg_doc_lp,
           round(min(doc_lp), 4) AS min_doc_lp,
           CAST(sum(nb) AS BIGINT) AS n_bigrams
         FROM sc GROUP BY source ORDER BY source"""),

    // q107: three damped iterations unrolled over the replayed edge
    // construction — contributions, dangling redistribution, uniform
    // start all under the hash.
    Gate("q107_pagerank", q107_pagerank, pagerankOracle),

    // q108: the k-sequential-joins formulation of the same recurrence —
    // min ts of step 1, then earliest step-2 ts ≥ t1 within the 72 h
    // entry-anchored window, then earliest step-3 ts ≥ t2 within the
    // same window; counts + both conversion ratios replayed
    Gate("q108_funnel", q108_funnel,
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL
              GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
              JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND e.ts >= s1.t1
                AND e.ts <= s1.t1 + INTERVAL 72 HOUR GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
              JOIN s2 ON e.user_id = s2.user_id
              JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
                AND e.ts <= s1.t1 + INTERVAL 72 HOUR GROUP BY 1),
         c AS (SELECT (SELECT count(*) FROM s1) AS u1,
                      (SELECT count(*) FROM s2) AS u2,
                      (SELECT count(*) FROM s3) AS u3)
         SELECT * FROM (
           SELECT 1 AS step_idx, 'view' AS step, u1 AS users,
                  CASE WHEN u1 > 0 THEN round(CAST(u1 AS DOUBLE) / u1, 4) END AS conv_vs_first,
                  CASE WHEN u1 > 0 THEN round(CAST(u1 AS DOUBLE) / u1, 4) END AS conv_vs_prev
           FROM c
           UNION ALL
           SELECT 2, 'click', u2,
                  CASE WHEN u1 > 0 THEN round(CAST(u2 AS DOUBLE) / u1, 4) END,
                  CASE WHEN u1 > 0 THEN round(CAST(u2 AS DOUBLE) / u1, 4) END
           FROM c
           UNION ALL
           SELECT 3, 'purchase', u3,
                  CASE WHEN u1 > 0 THEN round(CAST(u3 AS DOUBLE) / u1, 4) END,
                  CASE WHEN u2 > 0 THEN round(CAST(u3 AS DOUBLE) / u2, 4) END
           FROM c)
         ORDER BY step_idx"""),

    // q109: first-touch day per user, distinct activity days, personal
    // week offsets, cohort sizes and the retention ratio — all replayed
    Gate("q109_retention", q109_retention,
      """WITH e AS (SELECT user_id, ts FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
               FROM e GROUP BY 1),
         sz AS (SELECT cohort_day, count(*) AS cohort_size FROM f GROUP BY 1),
         a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM e),
         w AS (SELECT DISTINCT a.user_id, f.cohort_day,
                 CAST(floor(date_diff('day', f.cohort_day, a.day) / 7.0) AS BIGINT) AS week_offset
               FROM a JOIN f ON a.user_id = f.user_id)
         SELECT w.cohort_day, w.week_offset, count(*) AS active_users,
                sz.cohort_size,
                round(CAST(count(*) AS DOUBLE) / sz.cohort_size, 4) AS retention
         FROM w JOIN sz ON w.cohort_day = sz.cohort_day
         GROUP BY w.cohort_day, w.week_offset, sz.cohort_size
         ORDER BY w.cohort_day, w.week_offset"""),

    // q110: reference stats, equi-width binning with end-bin clamping,
    // the FULL bin grid (empty bins carry smoothed terms), Laplace
    // shares and the PSI sum — all replayed
    Gate("q110_drift_psi", q110_drift_psi,
      """WITH refs AS (SELECT * FROM orders),
         curs AS (SELECT * FROM orders WHERE o_totalprice >= 250000),
         stats AS (
           SELECT 'o_totalprice' AS col, CAST(min(o_totalprice) AS DOUBLE) AS mn,
                  CAST(max(o_totalprice) AS DOUBLE) AS mx FROM refs
           UNION ALL
           SELECT 'o_custkey', CAST(min(o_custkey) AS DOUBLE),
                  CAST(max(o_custkey) AS DOUBLE) FROM refs),
         vr AS (SELECT 'o_totalprice' AS col, CAST(o_totalprice AS DOUBLE) AS x
                FROM refs WHERE o_totalprice IS NOT NULL
                UNION ALL
                SELECT 'o_custkey', CAST(o_custkey AS DOUBLE)
                FROM refs WHERE o_custkey IS NOT NULL),
         vc AS (SELECT 'o_totalprice' AS col, CAST(o_totalprice AS DOUBLE) AS x
                FROM curs WHERE o_totalprice IS NOT NULL
                UNION ALL
                SELECT 'o_custkey', CAST(o_custkey AS DOUBLE)
                FROM curs WHERE o_custkey IS NOT NULL),
         br AS (SELECT v.col,
                  CASE WHEN s.mn IS NULL OR s.mx = s.mn THEN 0
                       ELSE CAST(greatest(least(floor((v.x - s.mn) /
                              ((s.mx - s.mn) / 10.0)), 9), 0) AS BIGINT)
                  END AS bin, count(*) AS cnt
                FROM vr v JOIN stats s ON v.col = s.col GROUP BY 1, 2),
         bc AS (SELECT v.col,
                  CASE WHEN s.mn IS NULL OR s.mx = s.mn THEN 0
                       ELSE CAST(greatest(least(floor((v.x - s.mn) /
                              ((s.mx - s.mn) / 10.0)), 9), 0) AS BIGINT)
                  END AS bin, count(*) AS cnt
                FROM vc v JOIN stats s ON v.col = s.col GROUP BY 1, 2),
         grid AS (SELECT s.col, t.b FROM (SELECT DISTINCT col FROM stats) s
                  CROSS JOIN range(10) t(b)),
         j AS (SELECT g.col, g.b, coalesce(br.cnt, 0) AS cr,
                 coalesce(bc.cnt, 0) AS cc
               FROM grid g
               LEFT JOIN br ON br.col = g.col AND br.bin = g.b
               LEFT JOIN bc ON bc.col = g.col AND bc.bin = g.b),
         tot AS (SELECT col, CAST(sum(cr) AS BIGINT) AS nr,
                   CAST(sum(cc) AS BIGINT) AS nc FROM j GROUP BY 1),
         terms AS (SELECT j.col,
                     (CAST(cr AS DOUBLE) + 0.5) / (nr + 5.0) AS pr,
                     (CAST(cc AS DOUBLE) + 0.5) / (nc + 5.0) AS pc,
                     nr, nc
                   FROM j JOIN tot ON j.col = tot.col)
         SELECT col AS column_name,
                round(sum((pc - pr) * ln(pc / pr)), 4) AS psi,
                nr AS n_ref, nc AS n_cur
         FROM terms GROUP BY col, nr, nc ORDER BY column_name"""),

    // q111: quasi-identifier bucketing, equivalence-class sizes and
    // every verdict column replayed
    Gate("q111_k_anonymity", q111_k_anonymity,
      """WITH q AS (SELECT c_nationkey, c_mktsegment,
                CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_bucket
              FROM customer),
         g AS (SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS n
               FROM q GROUP BY 1, 2, 3)
         SELECT count(*) AS n_groups,
                CAST(sum(n) AS BIGINT) AS n_rows,
                min(n) AS min_group_size,
                CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_k,
                CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_below_k,
                round(CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE) /
                  CAST(sum(n) AS DOUBLE), 4) AS at_risk_pct,
                min(n) >= 5 AS k_anonymous
         FROM g"""),

    // q112: the unpruned semi join the bloom-pruned plan must be
    // bit-identical to
    Gate("q112_bloom_semijoin", q112_bloom_semijoin,
      """SELECT l_returnflag, count(*) AS n_items,
                round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem l
         WHERE EXISTS (SELECT 1 FROM part p
                       WHERE p.p_partkey = l.l_partkey AND p.p_size = 50)
         GROUP BY 1 ORDER BY 1"""),

    // q113: blocking, every Levenshtein verdict, the transitive closure
    // (q62's recursive-reach pattern) and the survivor roll-up replayed
    Gate("q113_entity_resolution", q113_entity_resolution,
      """WITH RECURSIVE
         c AS (SELECT c_custkey AS id, c_name AS name, c_nationkey AS blk
               FROM customer
               WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL
                 AND c_nationkey IS NOT NULL),
         p AS (SELECT a.id AS id_a, b.id AS id_b
               FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id
               WHERE levenshtein(a.name, b.name) <= 1),
         edges AS (SELECT id_a AS id, id_b AS nb FROM p
                   UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT id, nb FROM edges
           UNION
           SELECT reach.id, e2.nb FROM reach JOIN edges e2 ON e2.id = reach.r),
         labels AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id)
         SELECT label AS entity_rep, count(*) AS n_records,
                min(name) AS first_name, max(name) AS last_name
         FROM labels JOIN c ON labels.id = c.id
         GROUP BY label HAVING count(*) >= 2
         ORDER BY entity_rep"""),

    // q114: the orientation-free formulation — id-ordered (a<b<c)
    // three-way join — of the count the degree-oriented plan produces
    Gate("q114_triangles", q114_triangles,
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                     FROM lineitem),
         pe AS (SELECT DISTINCT a.p AS a, b.p AS b
                FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
         deg AS (SELECT node, count(*) AS deg FROM (
                   SELECT a AS node FROM pe UNION ALL SELECT b FROM pe)
                 GROUP BY 1),
         tri AS (SELECT count(*) AS n_triangles
                 FROM pe e1
                 JOIN pe e2 ON e2.a = e1.a AND e2.b > e1.b
                 JOIN pe e3 ON e3.a = e1.b AND e3.b = e2.b)
         SELECT (SELECT count(*) FROM deg) AS n_nodes,
                (SELECT count(*) FROM pe) AS n_edges,
                (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) FROM deg)
                  AS n_wedges,
                n_triangles,
                CASE WHEN (SELECT sum(deg * (deg - 1) / 2) FROM deg) > 0
                     THEN round(3.0 * n_triangles /
                       (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT)
                        FROM deg), 6)
                     ELSE 0.0 END AS global_clustering
         FROM tri"""),

    // q115: distinct baskets, item counts, pair counts and all three
    // rule measures replayed; both directions from each pair
    Gate("q115_basket_rules", q115_basket_rules,
      """WITH bi AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                     FROM lineitem
                     WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
         n AS (SELECT CAST(count(DISTINCT basket) AS DOUBLE) AS n FROM bi),
         ic AS (SELECT item, count(*) AS c FROM bi GROUP BY 1),
         pc AS (SELECT a.item AS ia, b.item AS ib, count(*) AS cab
                FROM bi a JOIN bi b
                  ON a.basket = b.basket AND a.item < b.item
                GROUP BY 1, 2 HAVING count(*) >= 3),
         att AS (SELECT pc.ia, pc.ib, pc.cab, ca.c AS ca, cb.c AS cb, n.n
                 FROM pc JOIN ic ca ON ca.item = pc.ia
                         JOIN ic cb ON cb.item = pc.ib
                         CROSS JOIN n),
         rules AS (
           SELECT ia AS item_a, ib AS item_b, cab, ca AS c_a, cb AS c_b, n
           FROM att
           UNION ALL
           SELECT ib, ia, cab, cb, ca, n FROM att)
         SELECT item_a, item_b, cab AS pair_count,
                round(cab / n, 6) AS support,
                round(CAST(cab AS DOUBLE) / c_a, 6) AS confidence,
                round(n * cab / (c_a * c_b), 6) AS lift
         FROM rules
         WHERE CAST(cab AS DOUBLE) / c_a >= 0.0
         ORDER BY item_a, item_b"""),

    // q116: every bit of every hash recomputed — hex lane, zero-pad,
    // integer mean comparison (byte·64 > Σ), grouping
    Gate("q116_phash_groups", q116_phash_groups,
      """WITH p AS (SELECT doc_id,
                rpad(hex(CAST(text AS BLOB)), 128, '0') AS hx
              FROM documents),
         b AS (SELECT doc_id,
                 list_transform(range(0, 64), i ->
                   16 * (strpos('0123456789ABCDEF',
                          substr(hx, CAST(2 * i + 1 AS INT), 1)) - 1)
                      + (strpos('0123456789ABCDEF',
                          substr(hx, CAST(2 * i + 2 AS INT), 1)) - 1)) AS bytes
               FROM p),
         h AS (SELECT doc_id,
                 array_to_string(list_transform(bytes, x ->
                   CASE WHEN x * 64 > list_sum(bytes)
                        THEN '1' ELSE '0' END), '') AS phash
               FROM b)
         SELECT phash, count(*) AS n_docs, min(doc_id) AS min_doc,
                max(doc_id) AS max_doc
         FROM h GROUP BY 1 HAVING count(*) >= 2 ORDER BY phash"""),

    // q117: postings with 0-based positions, query offsets, the p−q
    // alignment grouping and the hits = length gate, all replayed
    Gate("q117_phrase_search", q117_phrase_search,
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w
                       FROM documents),
         post AS (SELECT doc_id,
                    unnest(list_transform(generate_series(1, len(w)),
                      i -> {'pos': i - 1, 'term': w[i]})) AS pt
                  FROM docs),
         p2 AS (SELECT doc_id, CAST(pt.pos AS BIGINT) AS pos, pt.term AS term
                FROM post WHERE pt.term <> ''),
         qs AS (SELECT * FROM (VALUES
                  ('q1', 'window window'), ('q2', 'slow hash batch'),
                  ('q3', 'data merge group'), ('q4', 'the fast key'))
                v(query_id, phrase)),
         qt AS (SELECT query_id,
                  unnest(list_transform(
                    generate_series(1, len(string_split(phrase, ' '))),
                    i -> {'q': i - 1,
                          'term': string_split(phrase, ' ')[i]})) AS s
                FROM qs),
         q2 AS (SELECT query_id, CAST(s.q AS BIGINT) AS q, s.term
                FROM qt WHERE s.term <> ''),
         qlen AS (SELECT query_id, count(*) AS len FROM q2 GROUP BY 1),
         occ AS (SELECT q.query_id, p.doc_id, p.pos - q.q AS start,
                   count(*) AS hits
                 FROM p2 p JOIN q2 q ON p.term = q.term GROUP BY 1, 2, 3),
         res AS (SELECT occ.* FROM occ
                 JOIN qlen ON occ.query_id = qlen.query_id
                 WHERE start >= 0 AND hits = len)
         SELECT query_id, count(DISTINCT doc_id) AS n_docs,
                count(*) AS n_occurrences, min(doc_id) AS first_doc
         FROM res GROUP BY 1 ORDER BY query_id"""),

    // q118: microsecond ages, pow(0.5, age/halfLife) weights and both
    // decayed sums replayed with identical literal arithmetic
    Gate("q118_decay_scores", q118_decay_scores,
      """WITH e AS (SELECT event_type AS key, ts, value FROM events
              WHERE event_type IS NOT NULL AND ts IS NOT NULL
                AND epoch_us(ts) <= 1706745600000000),
         w AS (SELECT key, value,
                 pow(0.5, (CAST(1706745600000000 - epoch_us(ts) AS DOUBLE)
                   / 3600000000.0) / 168.0) AS w
               FROM e)
         SELECT key, round(sum(w), 4) AS decayed_count,
                round(sum(w * value), 4) AS decayed_sum,
                count(*) AS n_events
         FROM w GROUP BY key ORDER BY key"""),

    // q119: the (ts, event_id)-ordered lag, transition counts and
    // row-normalized probabilities replayed
    Gate("q119_transitions", q119_transitions,
      """WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND event_id IS NOT NULL),
         p AS (SELECT event_type AS to_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS from_type
               FROM e),
         c AS (SELECT from_type, to_type, count(*) AS n FROM p
               WHERE from_type IS NOT NULL AND to_type IS NOT NULL
               GROUP BY 1, 2),
         t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
         SELECT c.from_type, c.to_type, c.n,
                round(CAST(c.n AS DOUBLE) / t.tot, 6) AS prob
         FROM c JOIN t ON c.from_type = t.from_type
         ORDER BY c.from_type, c.to_type"""),

    // q120: the md5 → 8-hex-digit integer → mod-k fold arithmetic
    // replayed digit by digit (16^i place values are double-exact)
    Gate("q120_kfold", q120_kfold,
      """WITH u AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
         f AS (SELECT user_id,
                 CAST(CAST(list_sum(list_transform(range(0, 8), i ->
                     (strpos('0123456789abcdef',
                        substr(substr(md5('cv-r8/' || CAST(user_id AS VARCHAR)), 1, 8),
                          CAST(i + 1 AS INT), 1)) - 1)
                     * (16 ** CAST(7 - i AS INT)))) AS BIGINT) % 5 AS INT)
                   AS fold
               FROM u)
         SELECT fold, count(DISTINCT user_id) AS n_users, count(*) AS n_rows
         FROM f GROUP BY 1 ORDER BY fold"""),

    // q121: DuckDB's own Jaro-Winkler over the same blocking — an
    // INDEPENDENT implementation pinning the native expression
    Gate("q121_jw_match", q121_jw_match,
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                round(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS jw_sim
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
         WHERE a.c_custkey IS NOT NULL AND a.c_name IS NOT NULL
           AND a.c_nationkey IS NOT NULL AND b.c_name IS NOT NULL
           AND jaro_winkler_similarity(a.c_name, b.c_name) >= 0.98
         ORDER BY id_a, id_b"""),

    // q122: the UNBLOCKED brute-force all-pairs truth — the deletion-
    // neighborhood candidate set must lose nothing against it
    Gate("q122_deletion_neighborhood", q122_deletion_neighborhood,
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                levenshtein(a.c_name, b.c_name) AS edit_dist
         FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
         WHERE a.c_name IS NOT NULL AND b.c_name IS NOT NULL
           AND levenshtein(a.c_name, b.c_name) <= 1
         ORDER BY id_a, id_b"""),

    // q123: assignment, conversion flags, per-variant rates and the
    // pooled two-proportion z replayed
    Gate("q123_ab_readout", q123_ab_readout,
      """WITH a AS (SELECT DISTINCT user_id,
                CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant
              FROM events WHERE user_id IS NOT NULL),
         c AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         j AS (SELECT a.variant, a.user_id,
                 (c.user_id IS NOT NULL) AS conv
               FROM a LEFT JOIN c ON a.user_id = c.user_id),
         s AS (SELECT variant, count(*) AS n,
                 sum(CASE WHEN conv THEN 1 ELSE 0 END) AS k
               FROM j GROUP BY 1),
         one AS (SELECT min(variant) AS variant_a, max(variant) AS variant_b,
                   CAST(arg_min(n, variant) AS BIGINT) AS n_a,
                   CAST(arg_max(n, variant) AS BIGINT) AS n_b,
                   CAST(arg_min(k, variant) AS BIGINT) AS conv_a,
                   CAST(arg_max(k, variant) AS BIGINT) AS conv_b
                 FROM s)
         SELECT variant_a, variant_b, n_a, n_b, conv_a, conv_b,
                round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
                round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
                CASE WHEN pp > 0 AND pp < 1
                     THEN round((CAST(conv_a AS DOUBLE) / n_a
                               - CAST(conv_b AS DOUBLE) / n_b)
                       / sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b)), 4)
                END AS z,
                coalesce(CASE WHEN pp > 0 AND pp < 1
                     THEN abs((CAST(conv_a AS DOUBLE) / n_a
                             - CAST(conv_b AS DOUBLE) / n_b)
                       / sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b))) > 1.96
                END, false) AS significant
         FROM (SELECT *,
                 CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pp
               FROM one)"""),

    // q124: the correlated latest-touch selection, window verdict and
    // microsecond lag arithmetic replayed, rolled up by verdict.
    // Null-keyed conversions stay in (attributed=false, null lag) — the
    // correlated max() finds no touch for them, matching lastTouch's
    // every-conversion-comes-back contract
    Gate("q124_attribution", q124_attribution,
      """WITH conv AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'),
         t AS (SELECT DISTINCT user_id, ts FROM events
               WHERE event_type = 'click'
                 AND user_id IS NOT NULL AND ts IS NOT NULL),
         m AS (SELECT c.event_id, c.ts,
                 (SELECT max(t.ts) FROM t
                  WHERE t.user_id = c.user_id AND t.ts <= c.ts) AS touch_ts
               FROM conv c),
         v AS (SELECT event_id,
                 (touch_ts IS NOT NULL AND
                  epoch_us(ts) - epoch_us(touch_ts) <= 72 * 3600 * 1000000::BIGINT)
                   AS attributed,
                 CASE WHEN touch_ts IS NOT NULL AND
                        epoch_us(ts) - epoch_us(touch_ts)
                          <= 72 * 3600 * 1000000::BIGINT
                      THEN round((epoch_us(ts) - epoch_us(touch_ts)) / 6e7, 4)
                 END AS lag_minutes
               FROM m)
         SELECT attributed, count(*) AS n_conversions,
                round(avg(lag_minutes), 4) AS avg_lag_min,
                round(max(lag_minutes), 4) AS max_lag_min
         FROM v GROUP BY 1 ORDER BY attributed"""),

    // q125: day rollup, the calendar-true RANGE-over-day-number frame
    // and the exact dn-7 week-ago self-join replayed
    Gate("q125_moving_average", q125_moving_average,
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                round(sum(value), 2) AS revenue
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
         dn AS (SELECT day, revenue,
                  CAST(day - DATE '1970-01-01' AS BIGINT) AS dnum
                FROM daily),
         ma AS (SELECT day, dnum, revenue,
                  round(avg(revenue) OVER (ORDER BY dnum
                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
                FROM dn)
         SELECT ma.day, ma.revenue, ma.ma7,
                CASE WHEN p.revenue > 0
                     THEN round(ma.revenue / p.revenue - 1.0, 4)
                END AS wow_growth
         FROM ma LEFT JOIN dn p ON p.dnum = ma.dnum - 7
         ORDER BY ma.day"""),

    // q126: the planted weekday gaps against the generated calendar
    Gate("q126_day_gaps", q126_day_gaps,
      """WITH obs AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
                      WHERE day(ts) % 7 <> 3),
         b AS (SELECT min(day) AS lo, max(day) AS hi FROM obs),
         cal AS (SELECT CAST(unnest(generate_series(lo, hi,
                   INTERVAL 1 DAY)) AS DATE) AS day FROM b)
         SELECT cal.day AS missing_day FROM cal
         LEFT JOIN obs ON cal.day = obs.day
         WHERE obs.day IS NULL ORDER BY missing_day"""),

    // q127: centering and all five sufficient sums replayed
    Gate("q127_trend", q127_trend,
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                round(sum(value), 2) AS y
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
         dn AS (SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS d, y
                FROM daily),
         lo AS (SELECT min(d) AS lo FROM dn),
         s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
               FROM (SELECT CAST(d - lo AS DOUBLE) AS x, y
                     FROM dn CROSS JOIN lo))
         SELECT CAST(n AS BIGINT) AS n_days,
                CASE WHEN n * sxx - sx * sx > 0
                     THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                END AS slope,
                CASE WHEN n * sxx - sx * sx > 0
                     THEN round((sy - (n * sxy - sx * sy) /
                       (n * sxx - sx * sx) * sx) / n, 4)
                END AS intercept,
                CASE WHEN n * sxx - sx * sx > 0
                      AND n * syy - sy * sy > 0
                     THEN round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
                       ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                END AS r2
         FROM s"""),

    // q128: tf, df, N, the smooth-idf arithmetic and the
    // (score desc, term) rank replayed
    Gate("q128_tfidf_keywords", q128_tfidf_keywords,
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                       FROM documents),
         tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
         dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tk
                WHERE doc_id % 50 = 0 GROUP BY 1, 2),
         sc AS (SELECT tf.doc_id, tf.term,
                  tf.tf * (ln((1.0 + nd.nd) / (1.0 + dft.df)) + 1.0) AS score
                FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN nd),
         r AS (SELECT doc_id, term, score,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, term) AS rk
               FROM sc)
         SELECT doc_id, CAST(rk AS INT) AS rank, term,
                round(score, 6) AS score
         FROM r WHERE rk <= 3 ORDER BY doc_id, rank"""),

    // q129: every probability and log term of MI, both entropies and
    // the normalization replayed
    Gate("q129_mutual_information", q129_mutual_information,
      """WITH o AS (SELECT o_orderstatus AS x, o_orderpriority AS y
              FROM orders
              WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL),
         j AS (SELECT x, y, count(*) AS nxy FROM o GROUP BY 1, 2),
         n AS (SELECT CAST(sum(nxy) AS DOUBLE) AS n FROM j),
         mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM j GROUP BY 1),
         my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM j GROUP BY 1),
         mi AS (SELECT sum(nxy / n.n * ln(nxy * n.n / (nx * ny))) AS mi
                FROM j JOIN mx ON j.x = mx.x JOIN my ON j.y = my.y
                CROSS JOIN n),
         hx AS (SELECT sum(-(nx / n.n) * ln(nx / n.n)) AS hx
                FROM mx CROSS JOIN n),
         hy AS (SELECT sum(-(ny / n.n) * ln(ny / n.n)) AS hy
                FROM my CROSS JOIN n)
         SELECT round(mi.mi, 6) AS mi, round(hx.hx, 6) AS h_x,
                round(hy.hy, 6) AS h_y,
                CASE WHEN hx.hx > 0 AND hy.hy > 0
                     THEN round(mi.mi / sqrt(hx.hx * hy.hy), 6)
                END AS nmi
         FROM mi, hx, hy"""),

    // q130: q118's full-recompute oracle VERBATIM — maintained-state
    // reads must be indistinguishable from the batch path under the hash
    Gate("q130_decay_maintained", q130_decay_maintained,
      """WITH e AS (SELECT event_type AS key, ts, value FROM events
              WHERE event_type IS NOT NULL AND ts IS NOT NULL
                AND epoch_us(ts) <= 1706745600000000),
         w AS (SELECT key, value,
                 pow(0.5, (CAST(1706745600000000 - epoch_us(ts) AS DOUBLE)
                   / 3600000000.0) / 168.0) AS w
               FROM e)
         SELECT key, round(sum(w), 4) AS decayed_count,
                round(sum(w * value), 4) AS decayed_sum,
                count(*) AS n_events
         FROM w GROUP BY key ORDER BY key"""),

    // q131: q90's oracle VERBATIM — the fold-maintained MG summary plus
    // one candidate-restricted exact count must be indistinguishable
    // from the direct GROUP BY + HAVING (the PODS'12 merge rule keeps
    // every >1/(capacity+1)-share term a candidate across the fold tree)
    Gate("q131_heavy_hitters_maintained", q131_heavy_hitters_maintained,
      """WITH t AS (SELECT CAST(length(CAST(l_partkey AS VARCHAR)) AS VARCHAR) AS term
                    FROM lineitem),
         c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
         n AS (SELECT count(*) AS total FROM t)
         SELECT term, cnt FROM c, n WHERE cnt * 3 > total ORDER BY term"""),

    // q132: the oracle regenerates the authored pixels from the same
    // integer formula and replays the ENTIRE pixel path analytically —
    // 4×4 block sums, /16 integer mean, v·64 > Σ bits, grouping —
    // PNG's losslessness is what makes decoded ≡ authored exact. The
    // four undecodable payloads (ids 64-67) are absent here because
    // they must hash to null and be filtered on the Spark side.
    Gate("q132_phash_pixels", q132_phash_pixels,
      """WITH ids AS (SELECT unnest(generate_series(0, 63)) AS id),
         blocks AS (SELECT id, list_transform(range(0, 64), b ->
             list_sum(list_transform(range(0, 16), p ->
               ((id % 8) * 31 + ((b % 8) * 4 + (p % 4)) * 7
                 + ((b // 8) * 4 + (p // 4)) * 13) % 256)) // 16) AS vals
           FROM ids),
         h AS (SELECT id, array_to_string(list_transform(vals, v ->
               CASE WHEN v * 64 > list_sum(vals) THEN '1' ELSE '0' END),
               '') AS phash
             FROM blocks)
         SELECT phash, count(*) AS n_imgs, min(id) AS min_id,
                max(id) AS max_id
         FROM h GROUP BY 1 ORDER BY phash"""),

    // q133: q90's oracle grouped — per-group direct GROUP BY + HAVING
    // against the per-group within-group share bar
    Gate("q133_heavy_hitters_grouped", q133_heavy_hitters_grouped,
      """WITH t AS (SELECT l_returnflag AS grp,
                CAST(length(CAST(l_partkey AS VARCHAR)) AS VARCHAR) AS term
              FROM lineitem),
         c AS (SELECT grp, term, count(*) AS cnt FROM t GROUP BY 1, 2),
         n AS (SELECT grp, count(*) AS total FROM t GROUP BY 1)
         SELECT c.grp, c.term, c.cnt FROM c JOIN n ON c.grp = n.grp
         WHERE c.cnt * 3 > n.total ORDER BY c.grp, c.term"""),

    // q134: the whole SQ8 pipeline replayed — per-vector max-abs scale,
    // round-half-away int8 codes, integer dots, the single double
    // rescale — identical literal arithmetic in both engines
    Gate("q134_ann_sq8", q134_ann_sq8,
      """WITH q0 AS (SELECT vec_id + 1000000 AS query_id, embedding AS v
                     FROM embeddings WHERE vec_id >= 32 AND vec_id < 40),
         c0 AS (SELECT vec_id AS neighbor_id, embedding AS v FROM embeddings),
         qe AS (SELECT query_id,
                  list_max(list_transform(v, x -> abs(CAST(x AS DOUBLE)))) AS s,
                  v FROM q0),
         qc AS (SELECT query_id, s,
                  list_transform(v, x -> CASE WHEN s > 0
                    THEN CAST(round(CAST(x AS DOUBLE) / s * 127) AS BIGINT)
                    ELSE 0 END) AS codes
                FROM qe),
         ce AS (SELECT neighbor_id,
                  list_max(list_transform(v, x -> abs(CAST(x AS DOUBLE)))) AS s,
                  v FROM c0),
         cc AS (SELECT neighbor_id, s,
                  list_transform(v, x -> CASE WHEN s > 0
                    THEN CAST(round(CAST(x AS DOUBLE) / s * 127) AS BIGINT)
                    ELSE 0 END) AS codes
                FROM ce),
         sc AS (SELECT query_id, neighbor_id,
                  CAST(list_sum(list_transform(generate_series(1, 64),
                    i -> qc.codes[i] * cc.codes[i])) AS DOUBLE)
                    * (qc.s * cc.s / 16129.0) AS score
                FROM qc, cc WHERE neighbor_id <> query_id),
         r AS (SELECT query_id, neighbor_id, score,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, neighbor_id ASC) AS rank
               FROM sc)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
                round(score, 4) AS score
         FROM r WHERE rank = 1 ORDER BY query_id"""),

    // q135: q133's per-group oracle VERBATIM — the per-group fold tree
    // preserves each group's MG bound, so maintained ≡ one-shot
    Gate("q135_heavy_hitters_grouped_maintained", q135_heavy_hitters_grouped_maintained,
      """WITH t AS (SELECT l_returnflag AS grp,
                CAST(length(CAST(l_partkey AS VARCHAR)) AS VARCHAR) AS term
              FROM lineitem),
         c AS (SELECT grp, term, count(*) AS cnt FROM t GROUP BY 1, 2),
         n AS (SELECT grp, count(*) AS total FROM t GROUP BY 1)
         SELECT c.grp, c.term, c.cnt FROM c JOIN n ON c.grp = n.grp
         WHERE c.cnt * 3 > n.total ORDER BY c.grp, c.term"""),

    // q136: q88's planted-twin rank-1 oracle over a fresh planted range
    // — the IVF-SQ probe's refined scores are exact dots, so the
    // exact-scan oracle applies verbatim
    Gate("q136_ann_ivfsq", q136_ann_ivfsq,
      """WITH q AS (SELECT vec_id + 1000000 AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id >= 40 AND vec_id < 48),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank = 1 ORDER BY query_id"""),

    // q137: q104's full A-Res replay VERBATIM -- the fold-maintained
    // reservoir must be indistinguishable from the batch draw (seeded-
    // hash priorities are a pure function of id, reservoirs merge
    // exactly, the marker no-ops the replayed batch)
    Gate("q137_weighted_sample_maintained", q137_weighted_sample_maintained,
      """WITH p AS (
           SELECT doc_id,
             ln((CAST(('0x' || substr(md5('ws8/' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1)
                / 4503599627370496.0) / CAST(n_chars AS DOUBLE) AS k
           FROM documents
           WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
         r AS (SELECT doc_id, k,
                 CAST(row_number() OVER (ORDER BY k DESC, doc_id ASC) AS INT) AS rank
               FROM p)
         SELECT rank, doc_id, round(k, 6) AS key FROM r WHERE rank <= 50
         ORDER BY rank"""),

    // q138: q88's planted-twin rank-1 exact-scan oracle over a fresh
    // range — the build+append+append index must answer exactly like an
    // index built over the whole corpus at once
    Gate("q138_ann_ivf_append", q138_ann_ivf_append,
      """WITH q AS (SELECT vec_id + 1000000 AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id >= 16 AND vec_id < 24),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank = 1 ORDER BY query_id"""),

    // q139: q104's A-Res replay PARTITIONED by lang — the fold-maintained
    // per-group reservoir must equal the one-shot per-group draw
    Gate("q139_weighted_sample_grouped_maintained", q139_weighted_sample_grouped_maintained,
      """WITH p AS (
           SELECT lang, doc_id,
             ln((CAST(('0x' || substr(md5('wg9/' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1)
                / 4503599627370496.0) / CAST(n_chars AS DOUBLE) AS k
           FROM documents
           WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
         r AS (SELECT lang, doc_id, k,
                 CAST(row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id ASC) AS INT) AS rank
               FROM p)
         SELECT lang, rank, doc_id, round(k, 6) AS key FROM r WHERE rank <= 10
         ORDER BY lang, rank"""),

    // q140: q94's full-corpus BM25 replay VERBATIM over fresh 2-term
    // queries — the build+append+append index must score bit-equal to a
    // one-shot search over everything (N/avgdl/df maintained exactly)
    Gate("q140_bm25_indexed", q140_bm25_indexed,
      """WITH tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
           GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         nn AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         q(query_id, term) AS (VALUES
           (1, 'spark'), (1, 'sort'), (2, 'customer'), (2, 'join'), (3, 'window')),
         dfs AS (SELECT term, count(*) AS df FROM tf
                 WHERE term IN (SELECT term FROM q) GROUP BY 1),
         c AS (
           SELECT q.query_id, tf.doc_id,
             ln(1 + (nn.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
               (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / nn.avgdl)) AS contrib
           FROM tf JOIN q ON tf.term = q.term
                   JOIN dfs ON tf.term = dfs.term
                   JOIN dl ON tf.doc_id = dl.doc_id
                   CROSS JOIN nn),
         sc AS (SELECT query_id, doc_id, sum(contrib) AS score FROM c GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
               FROM sc)
         SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
                doc_id, round(score, 4) AS score
         FROM r WHERE rank <= 10 ORDER BY query_id, rank"""),

    // q141: the whole closed-form train replayed — moment sums, 3x3
    // Cramer solve of the normal equations, and the same-pass fit
    // metrics (SSE = Syy - w.(X'y), SST = Syy - Sy^2/n)
    Gate("q141_linear_fit", q141_linear_fit,
      """WITH f AS (
           SELECT CAST(l_quantity AS DOUBLE) AS x1,
                  CAST(l_discount * 100 AS DOUBLE) AS x2,
                  CAST(l_extendedprice AS DOUBLE) AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
             AND l_extendedprice IS NOT NULL),
         s AS (
           SELECT count(*) AS n,
             sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
             sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
             sum(x1*y) AS s1y, sum(x2*y) AS s2y, sum(y*y) AS syy
           FROM f),
         w AS (
           SELECT n, sy, s1y, s2y, syy,
             n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
             sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y) AS d0,
             n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2) AS d1,
             n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2) AS d2
           FROM s),
         m AS (
           SELECT n, d0/det AS w0, d1/det AS w1, d2/det AS w2,
             greatest(0, syy - (d0/det*sy + d1/det*s1y + d2/det*s2y)) AS sse,
             greatest(0, syy - sy*sy/n) AS sst
           FROM w)
         SELECT CAST(n AS BIGINT) AS n,
           round(w0, 4) AS w_intercept, round(w1, 4) AS w_quantity,
           round(w2, 4) AS w_disc_pct,
           round(CASE WHEN sst = 0 THEN 0 ELSE greatest(0, 1 - sse/sst) END, 4) AS r2,
           round(sqrt(sse/n), 2) AS rmse
         FROM m"""),

    // q142: the whole sketch replayed — seeded 52-bit md5 minima per
    // population, theta = k-th minimum (or 2^52 when unsaturated), the
    // (k-1)*2^52/theta estimator, and the theta-combined set algebra at
    // the common cut, next to the exact distinct counts
    Gate("q142_kmv_set_sketch", q142_kmv_set_sketch,
      """WITH ha AS (SELECT DISTINCT
             CAST(('0x' || substr(md5('km9/' || CAST(l_partkey AS VARCHAR)), 1, 13)) AS BIGINT) AS h
           FROM lineitem WHERE l_partkey IS NOT NULL),
         hb AS (SELECT DISTINCT
             CAST(('0x' || substr(md5('km9/' || CAST(p_partkey AS VARCHAR)), 1, 13)) AS BIGINT) AS h
           FROM part WHERE p_size > 25 AND p_partkey IS NOT NULL),
         ka AS (SELECT h FROM ha ORDER BY h LIMIT 256),
         kb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
         th AS (SELECT
             CASE WHEN (SELECT count(*) FROM ka) < 256 THEN 4503599627370496.0
                  ELSE CAST((SELECT max(h) FROM ka) AS DOUBLE) END AS ta,
             CASE WHEN (SELECT count(*) FROM kb) < 256 THEN 4503599627370496.0
                  ELSE CAST((SELECT max(h) FROM kb) AS DOUBLE) END AS tb),
         cm AS (SELECT ta, tb, least(ta, tb) AS tc FROM th),
         cnt AS (SELECT
             (SELECT count(*) FROM ka, cm WHERE h < ta) AS ra,
             (SELECT count(*) FROM kb, cm WHERE h < tb) AS rb,
             (SELECT count(*) FROM ka, cm WHERE h < tc) AS ca,
             (SELECT count(*) FROM kb, cm WHERE h < tc) AS cb,
             (SELECT count(*) FROM ka JOIN kb USING (h), cm WHERE h < tc) AS ci
           FROM cm),
         ex AS (SELECT
             (SELECT count(DISTINCT l_partkey) FROM lineitem) AS exact_a,
             (SELECT count(DISTINCT p_partkey) FROM part WHERE p_size > 25) AS exact_b,
             (SELECT count(*) FROM
               (SELECT DISTINCT l_partkey FROM lineitem) l
               JOIN (SELECT p_partkey FROM part WHERE p_size > 25) p
               ON l.l_partkey = p.p_partkey) AS exact_inter)
         SELECT
           round(CAST(ra AS DOUBLE) * 4503599627370496.0 / ta, 4) AS n_est_a,
           round(CAST(rb AS DOUBLE) * 4503599627370496.0 / tb, 4) AS n_est_b,
           round(CAST(ci AS DOUBLE) * 4503599627370496.0 / tc, 4) AS est_inter,
           round(CAST(ca + cb - ci AS DOUBLE) * 4503599627370496.0 / tc, 4) AS est_union,
           round(CASE WHEN ca + cb - ci = 0 THEN 0.0
                      ELSE CAST(ci AS DOUBLE) / (ca + cb - ci) END, 4) AS jaccard,
           CAST(exact_a AS BIGINT) AS exact_a, CAST(exact_b AS BIGINT) AS exact_b,
           CAST(exact_inter AS BIGINT) AS exact_inter
         FROM cnt, cm, ex"""),
    // q143: q141's full-scan train replay VERBATIM -- the fold-maintained
    // moments must solve to the same model as training on everything
    Gate("q143_linear_fit_maintained", q143_linear_fit_maintained,
      """WITH f AS (
           SELECT CAST(l_quantity AS DOUBLE) AS x1,
                  CAST(l_discount * 100 AS DOUBLE) AS x2,
                  CAST(l_extendedprice AS DOUBLE) AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
             AND l_extendedprice IS NOT NULL),
         s AS (
           SELECT count(*) AS n,
             sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
             sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
             sum(x1*y) AS s1y, sum(x2*y) AS s2y, sum(y*y) AS syy
           FROM f),
         w AS (
           SELECT n, sy, s1y, s2y, syy,
             n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
             sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y) AS d0,
             n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2) AS d1,
             n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2) AS d2
           FROM s),
         m AS (
           SELECT n, d0/det AS w0, d1/det AS w1, d2/det AS w2,
             greatest(0, syy - (d0/det*sy + d1/det*s1y + d2/det*s2y)) AS sse,
             greatest(0, syy - sy*sy/n) AS sst
           FROM w)
         SELECT CAST(n AS BIGINT) AS n,
           round(w0, 4) AS w_intercept, round(w1, 4) AS w_quantity,
           round(w2, 4) AS w_disc_pct,
           round(CASE WHEN sst = 0 THEN 0 ELSE greatest(0, 1 - sse/sst) END, 4) AS r2,
           round(sqrt(sse/n), 2) AS rmse
         FROM m"""),

    // q144: q141's Cramer solve GROUPED -- per-returnflag moment sums
    // and all three models replayed in one GROUP BY
    Gate("q144_linear_fit_grouped", q144_linear_fit_grouped,
      """WITH f AS (
           SELECT l_returnflag AS rf,
                  CAST(l_quantity AS DOUBLE) AS x1,
                  CAST(l_discount * 100 AS DOUBLE) AS x2,
                  CAST(l_extendedprice AS DOUBLE) AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
             AND l_extendedprice IS NOT NULL),
         s AS (
           SELECT rf, count(*) AS n,
             sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
             sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
             sum(x1*y) AS s1y, sum(x2*y) AS s2y, sum(y*y) AS syy
           FROM f GROUP BY rf),
         w AS (
           SELECT rf, n, sy, s1y, s2y, syy,
             n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
             sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y) AS d0,
             n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2) AS d1,
             n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2) AS d2
           FROM s),
         m AS (
           SELECT rf, n, d0/det AS w0, d1/det AS w1, d2/det AS w2,
             greatest(0, syy - (d0/det*sy + d1/det*s1y + d2/det*s2y)) AS sse,
             greatest(0, syy - sy*sy/n) AS sst
           FROM w)
         SELECT rf AS l_returnflag, CAST(n AS BIGINT) AS n,
           round(w0, 4) AS w_intercept, round(w1, 4) AS w_quantity,
           round(w2, 4) AS w_disc_pct,
           round(CASE WHEN sst = 0 THEN 0 ELSE greatest(0, 1 - sse/sst) END, 4) AS r2,
           round(sqrt(sse/n), 2) AS rmse
         FROM m ORDER BY l_returnflag"""),

    // q145: q88's planted-twin rank-1 exact-scan oracle over a fresh
    // range -- the build+append+append IVF-SQ index must answer exactly
    // like one built over the whole corpus
    Gate("q145_ann_ivfsq_append", q145_ann_ivfsq_append,
      """WITH q AS (SELECT vec_id + 1000000 AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id >= 48 AND vec_id < 56),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank = 1 ORDER BY query_id"""),

    // q146: same contract for the IVF-PQ append (frozen codebook +
    // frozen coarse centroids)
    Gate("q146_ann_ivfpq_append", q146_ann_ivfpq_append,
      """WITH q AS (SELECT vec_id + 1000000 AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id >= 56 AND vec_id < 64),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank = 1 ORDER BY query_id"""),
    // q147: the whole NB train + eval replayed -- token counts, priors,
    // Laplace floors, per-doc log-likelihood sums, argmax with class-asc
    // ties, and the integer-exact confusion matrix
    Gate("q147_naive_bayes", q147_naive_bayes,
      """WITH tr AS (SELECT lang AS class, text FROM documents
                     WHERE doc_id % 2 = 0 AND lang IS NOT NULL AND text IS NOT NULL),
         tok AS (SELECT class, unnest(string_split(text, ' ')) AS term FROM tr),
         tc AS (SELECT class, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
         dc AS (SELECT class, count(*) AS n_docs FROM tr GROUP BY 1),
         tot AS (SELECT class, sum(cnt) AS total FROM tc GROUP BY 1),
         cst AS (SELECT (SELECT count(DISTINCT term) FROM tc) AS v,
                        (SELECT sum(n_docs) FROM dc) AS all_docs),
         pc AS (SELECT dc.class,
                  ln(CAST(n_docs AS DOUBLE)) - ln(CAST(all_docs AS DOUBLE)) AS logprior,
                  ln(1.0) - ln(CAST(total AS DOUBLE) + 1.0 * v) AS logfloor,
                  CAST(total AS DOUBLE) + 1.0 * v AS den
                FROM dc JOIN tot ON dc.class = tot.class CROSS JOIN cst),
         pt AS (SELECT tc.class, term,
                  ln(CAST(cnt AS DOUBLE) + 1.0) - ln(den) AS logp
                FROM tc JOIN pc ON tc.class = pc.class),
         te AS (SELECT doc_id, lang, text FROM documents
                WHERE doc_id % 2 = 1 AND doc_id IS NOT NULL AND text IS NOT NULL),
         tt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM te),
         sc AS (SELECT t.doc_id, pc.class, pc.logprior,
                  sum(coalesce(pt.logp, pc.logfloor)) AS loglik
                FROM tt t CROSS JOIN pc
                LEFT JOIN pt ON pt.class = pc.class AND pt.term = t.term
                GROUP BY t.doc_id, pc.class, pc.logprior),
         scs AS (SELECT doc_id, class, logprior + loglik AS score FROM sc),
         best AS (SELECT doc_id, max(score) AS score FROM scs GROUP BY 1),
         pred AS (SELECT s.doc_id, min(s.class) AS predicted
                  FROM scs s JOIN best b ON s.doc_id = b.doc_id AND s.score = b.score
                  GROUP BY 1)
         SELECT te.lang AS class, p.predicted, CAST(count(*) AS BIGINT) AS n
         FROM pred p JOIN te ON p.doc_id = te.doc_id
         GROUP BY 1, 2 ORDER BY class, predicted"""),

    // q148: q147's replay VERBATIM -- the fold-maintained count state
    // must classify identically to training on everything
    Gate("q148_naive_bayes_maintained", q148_naive_bayes_maintained,
      """WITH tr AS (SELECT lang AS class, text FROM documents
                     WHERE doc_id % 2 = 0 AND lang IS NOT NULL AND text IS NOT NULL),
         tok AS (SELECT class, unnest(string_split(text, ' ')) AS term FROM tr),
         tc AS (SELECT class, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
         dc AS (SELECT class, count(*) AS n_docs FROM tr GROUP BY 1),
         tot AS (SELECT class, sum(cnt) AS total FROM tc GROUP BY 1),
         cst AS (SELECT (SELECT count(DISTINCT term) FROM tc) AS v,
                        (SELECT sum(n_docs) FROM dc) AS all_docs),
         pc AS (SELECT dc.class,
                  ln(CAST(n_docs AS DOUBLE)) - ln(CAST(all_docs AS DOUBLE)) AS logprior,
                  ln(1.0) - ln(CAST(total AS DOUBLE) + 1.0 * v) AS logfloor,
                  CAST(total AS DOUBLE) + 1.0 * v AS den
                FROM dc JOIN tot ON dc.class = tot.class CROSS JOIN cst),
         pt AS (SELECT tc.class, term,
                  ln(CAST(cnt AS DOUBLE) + 1.0) - ln(den) AS logp
                FROM tc JOIN pc ON tc.class = pc.class),
         te AS (SELECT doc_id, lang, text FROM documents
                WHERE doc_id % 2 = 1 AND doc_id IS NOT NULL AND text IS NOT NULL),
         tt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM te),
         sc AS (SELECT t.doc_id, pc.class, pc.logprior,
                  sum(coalesce(pt.logp, pc.logfloor)) AS loglik
                FROM tt t CROSS JOIN pc
                LEFT JOIN pt ON pt.class = pc.class AND pt.term = t.term
                GROUP BY t.doc_id, pc.class, pc.logprior),
         scs AS (SELECT doc_id, class, logprior + loglik AS score FROM sc),
         best AS (SELECT doc_id, max(score) AS score FROM scs GROUP BY 1),
         pred AS (SELECT s.doc_id, min(s.class) AS predicted
                  FROM scs s JOIN best b ON s.doc_id = b.doc_id AND s.score = b.score
                  GROUP BY 1)
         SELECT te.lang AS class, p.predicted, CAST(count(*) AS BIGINT) AS n
         FROM pred p JOIN te ON p.doc_id = te.doc_id
         GROUP BY 1, 2 ORDER BY class, predicted"""),

    // q149: q140's full-corpus BM25 replay VERBATIM over the EDITED
    // corpus (docs % 10 = 4 carry an appended token) — the
    // delete + re-append path must index bit-equal to one-shot over the
    // final text, including df('graftedit') = the edited population
    Gate("q149_bm25_delete_upsert", q149_bm25_delete_upsert,
      """WITH ed AS (SELECT doc_id,
             CASE WHEN doc_id % 10 = 4 THEN text || ' graftedit' ELSE text END AS text
           FROM documents),
         tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM ed) t
           GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         nn AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         q(query_id, term) AS (VALUES
           (1, 'spark'), (1, 'graftedit'), (2, 'customer'), (2, 'join'), (3, 'window')),
         dfs AS (SELECT term, count(*) AS df FROM tf
                 WHERE term IN (SELECT term FROM q) GROUP BY 1),
         c AS (
           SELECT q.query_id, tf.doc_id,
             ln(1 + (nn.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
               (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / nn.avgdl)) AS contrib
           FROM tf JOIN q ON tf.term = q.term
                   JOIN dfs ON tf.term = dfs.term
                   JOIN dl ON tf.doc_id = dl.doc_id
                   CROSS JOIN nn),
         sc AS (SELECT query_id, doc_id, sum(contrib) AS score FROM c GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
               FROM sc)
         SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
                doc_id, round(score, 4) AS score
         FROM r WHERE rank <= 10 ORDER BY query_id, rank"""),

    // q150: q88's exact-scan rank-1 shape over the corpus MINUS the
    // deleted ids — the deleted vector must never come back; the planted
    // twin (survivors) or nearest survivor (deleted twins, probed
    // exhaustively) must
    Gate("q150_ann_ivfsq_delete", q150_ann_ivfsq_delete,
      """WITH q AS (SELECT vec_id + 1000000 AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id >= 30 AND vec_id < 40),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
               WHERE vec_id % 7 <> 3),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank = 1 ORDER BY query_id"""),

    // q151: q142's sketch replay PARTITION BY the group — per-group
    // seeded 52-bit md5 minima, per-group theta (2^52 when unsaturated),
    // the (retained)*2^52/theta estimator, next to the exact per-group
    // distinct counts
    Gate("q151_kmv_grouped", q151_kmv_grouped,
      """WITH h AS (SELECT DISTINCT l_returnflag AS g,
             CAST(('0x' || substr(md5('kg1/' || CAST(l_partkey AS VARCHAR)), 1, 13)) AS BIGINT) AS h
           FROM lineitem WHERE l_partkey IS NOT NULL),
         r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM h),
         k AS (SELECT g, h, rn FROM r WHERE rn <= 128),
         t AS (SELECT g, CASE WHEN count(*) < 128 THEN 4503599627370496.0
                              ELSE CAST(max(h) AS DOUBLE) END AS th
               FROM k GROUP BY g),
         c AS (SELECT k.g, count(*) AS ret FROM k JOIN t ON k.g = t.g
               WHERE CAST(k.h AS DOUBLE) < t.th GROUP BY k.g),
         e AS (SELECT l_returnflag AS g, CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_n
               FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1)
         SELECT t.g AS l_returnflag,
           round(c.ret * 4503599627370496.0 / t.th, 4) AS n_est, e.exact_n
         FROM t JOIN c ON t.g = c.g JOIN e ON t.g = e.g
         ORDER BY l_returnflag"""),

    // q152: the contract stated independently — recall floors met and
    // the compression ordering holds for every variant (the measured
    // values live in RecallSpec + NOTES; the gate hashes the booleans)
    Gate("q152_ann_recall", q152_ann_recall,
      """SELECT variant, floor, meets_floor, compression_ordered
         FROM (VALUES
           ('ivf',    0.60, TRUE, TRUE),
           ('ivf_pq', 0.45, TRUE, TRUE),
           ('ivf_sq', 0.60, TRUE, TRUE))
           v(variant, floor, meets_floor, compression_ordered)
         ORDER BY variant"""),

    // q153: q88's exact-scan rank-1 shape over the CASE-edited corpus —
    // the upserted index must answer for the NEW vectors (reversed
    // embeddings for vec_id % 9 = 2), with queries planted from the
    // edited corpus itself
    Gate("q153_ann_vector_upsert", q153_ann_vector_upsert,
      """WITH ec AS (SELECT vec_id,
             CASE WHEN vec_id % 9 = 2 THEN list_reverse(embedding)
                  ELSE embedding END AS embedding
           FROM embeddings),
         q AS (SELECT vec_id + 1000000 AS query_id, embedding AS qv
               FROM ec WHERE vec_id >= 0 AND vec_id < 30),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM ec),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank = 1 ORDER BY query_id"""),

    // q154: q97's full replay VERBATIM — the stored Bm25Index search is
    // bit-equal to the one-shot scorer (q140's contract) and the
    // nProbe=nCells IvfIndex probe is exhaustive, i.e. exactly the
    // brute-force ranking — so build/append/attest composes into fusion
    // without moving a single fused rank
    Gate("q154_hybrid_indexed", q154_hybrid_indexed,
      """WITH tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
           GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         nn AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         q(query_id, term) AS (VALUES
           (1, 'spark'), (1, 'join'), (2, 'window'), (2, 'sort'), (3, 'customer')),
         dfs AS (SELECT term, count(*) AS df FROM tf
                 WHERE term IN (SELECT term FROM q) GROUP BY 1),
         c AS (
           SELECT q.query_id, tf.doc_id,
             ln(1 + (nn.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
               (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / nn.avgdl)) AS contrib
           FROM tf JOIN q ON tf.term = q.term
                   JOIN dfs ON tf.term = dfs.term
                   JOIN dl ON tf.doc_id = dl.doc_id
                   CROSS JOIN nn),
         sc AS (SELECT query_id, doc_id, sum(contrib) AS score FROM c GROUP BY 1, 2),
         lr AS (SELECT query_id, doc_id, rank FROM (
                  SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
                  FROM sc) t WHERE rank <= 20),
         eq AS (SELECT vec_id + 1000001 AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id < 3),
         ec AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         es AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM ec CROSS JOIN eq WHERE neighbor_id <> query_id),
         sr AS (SELECT query_id - 1000000 AS query_id, neighbor_id AS doc_id, rank FROM (
                  SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
                  FROM es) t WHERE rank <= 20),
         u AS (
           SELECT query_id, doc_id, 1.0 / (60 + rank) AS contrib FROM lr
           UNION ALL
           SELECT query_id, doc_id, 1.0 / (60 + rank) FROM sr),
         f AS (SELECT query_id, doc_id, sum(contrib) AS fused FROM u GROUP BY 1, 2),
         fr AS (SELECT query_id, doc_id, fused,
                  row_number() OVER (PARTITION BY query_id ORDER BY fused DESC, doc_id ASC) AS rank
                FROM f)
         SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
                doc_id, round(fused, 4) AS fused
         FROM fr WHERE rank <= 10 ORDER BY query_id, rank"""),

    // q155: the Mann–Whitney midrank readout replayed — per-score class
    // counts, the strictly-below negatives mass, the midrank sum (exact
    // in double: integers and halves), one final division
    Gate("q155_auc_readout", q155_auc_readout,
      """WITH c AS (SELECT source, n_chars AS s,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos,
             sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS neg
           FROM documents
           WHERE n_chars IS NOT NULL AND lang IS NOT NULL
           GROUP BY 1, 2),
         r AS (SELECT *, coalesce(sum(neg) OVER (PARTITION BY source ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
               FROM c),
         a AS (SELECT source,
                 CAST(sum(pos) AS BIGINT) AS n_pos,
                 CAST(sum(neg) AS BIGINT) AS n_neg,
                 sum(pos * (CAST(neg_below AS DOUBLE) + CAST(neg AS DOUBLE) / 2.0)) AS u
               FROM r GROUP BY 1)
         SELECT source, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN round(u / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
                ELSE NULL END AS auc
         FROM a ORDER BY source"""),

    // q156: pruned ≡ unpruned — the manifest-admitted read must equal the
    // plain range filter (the skipping itself is plan-asserted in
    // ZoneMapsSpec; fixture layouts are not the oracle's business)
    Gate("q156_zonemap_scan", q156_zonemap_scan,
      """SELECT l_returnflag, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem
         WHERE l_orderkey >= 1000 AND l_orderkey <= 3000
         GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // q157: the step-interpolated AP replayed — per-score counts, the
    // descending cumulative tp/fp, each term's two divisions, and the
    // ORDERED running term sum (identical addition order in both
    // engines ⇒ IEEE-identical), one final normalization
    Gate("q157_ap_readout", q157_ap_readout,
      """WITH c AS (SELECT source, n_chars AS s,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos,
             sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS neg
           FROM documents
           WHERE n_chars IS NOT NULL AND lang IS NOT NULL
           GROUP BY 1, 2),
         w AS (SELECT source, s, pos, neg,
             sum(pos) OVER win AS tp, sum(neg) OVER win AS fp
           FROM c
           WINDOW win AS (PARTITION BY source ORDER BY s DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         r AS (SELECT source, tp, fp,
             sum(CAST(pos AS DOUBLE) *
                 (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))) OVER win2 AS ap_run
           FROM w
           WINDOW win2 AS (PARTITION BY source ORDER BY s DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         a AS (SELECT source, CAST(max(tp) AS BIGINT) AS n_pos,
                 CAST(max(fp) AS BIGINT) AS n_neg, max(ap_run) AS apu
               FROM r GROUP BY 1)
         SELECT source, n_pos, n_neg,
           CASE WHEN n_pos > 0
                THEN round(apu / CAST(n_pos AS DOUBLE), 6)
                ELSE NULL END AS ap
         FROM a ORDER BY source"""),

    // q158: the plant rebuilt with chr() arithmetic, the cleanup with
    // utf8proc's nfc_normalize + the same RE2-safe character classes —
    // both engines' Unicode tables under the hash (769 = U+0301
    // combining acute, 7 = BEL, 8203 = U+200B ZWSP, 160 = NBSP, 9 = TAB)
    Gate("q158_text_normalize", q158_text_normalize,
      """WITH p AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 1 THEN 'cafe' || chr(769) || ' ' || text
                WHEN doc_id % 7 = 2 THEN text || chr(7) || 'x' || chr(8203)
                WHEN doc_id % 7 = 3 THEN text || 'a' || chr(160) || chr(160)
                                           || 'b ' || chr(9) || ' '
                ELSE text END AS t
           FROM documents),
         n AS (SELECT doc_id,
           trim(regexp_replace(regexp_replace(nfc_normalize(t),
             '[\p{Cc}\p{Cf}]', ' ', 'g'), '[\s\x{00A0}]+', ' ', 'g')) AS norm
           FROM p)
         SELECT doc_id, norm, CAST(length(norm) AS BIGINT) AS n_len
         FROM n ORDER BY doc_id"""),

    // q159: the perturbed eval set rebuilt, then the EXACT all-pairs
    // corpus×eval 3-shingle Jaccard (no banding) — the engine's banded
    // candidates + exact verify must emit the identical pair set
    Gate("q159_fuzzy_decontaminate", q159_fuzzy_decontaminate,
      """WITH ev AS (SELECT doc_id + 900000 AS eval_id,
             text || ' benchmark answer tail' AS text
           FROM documents WHERE doc_id % 37 = 5 AND n_chars >= 150),
         tc AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         te AS (SELECT eval_id, string_split(text, ' ') AS w FROM ev),
         sc AS (SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS g
           FROM tc),
         se AS (SELECT eval_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS g
           FROM te),
         ec AS (SELECT doc_id, unnest(g) AS gram FROM sc),
         ee AS (SELECT eval_id, unnest(g) AS gram FROM se),
         nc AS (SELECT doc_id, len(g) AS n FROM sc),
         ne AS (SELECT eval_id, len(g) AS n FROM se),
         pr AS (SELECT c.doc_id, e.eval_id, count(*) AS shared
                FROM ec c JOIN ee e ON c.gram = e.gram GROUP BY 1, 2),
         j AS (SELECT pr.doc_id, pr.eval_id,
                 round(CAST(shared AS DOUBLE) /
                   CAST(nc.n + ne.n - shared AS DOUBLE), 4) AS jaccard
               FROM pr JOIN nc ON nc.doc_id = pr.doc_id
                       JOIN ne ON ne.eval_id = pr.eval_id)
         SELECT CAST(doc_id AS BIGINT) AS doc_id,
                CAST(eval_id AS BIGINT) AS eval_id, jaccard
         FROM j WHERE jaccard >= 0.8 ORDER BY doc_id, eval_id"""),

    // q160: q62's recursive closure with the best-copy argmax replayed —
    // survivor = longest member, ties to the smallest id
    Gate("q160_cluster_survivors", q160_cluster_survivors,
      """WITH RECURSIVE
         toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS g
           FROM toks),
         sz AS (SELECT doc_id, len(g) AS n FROM sh),
         e AS (SELECT doc_id, unnest(g) AS gram FROM sh),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         p AS (SELECT id_a, id_b
               FROM pr JOIN sz sa ON sa.doc_id = pr.id_a
                       JOIN sz sb ON sb.doc_id = pr.id_b
               WHERE round(CAST(shared AS DOUBLE) / CAST(sa.n + sb.n - shared AS DOUBLE), 4) >= 0.6),
         edges AS (SELECT id_a AS id, id_b AS nb FROM p
                   UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT id, nb FROM edges
           UNION
           SELECT reach.id, e2.nb FROM reach JOIN edges e2 ON e2.id = reach.r),
         labels AS (SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id),
         s AS (SELECT l.label, d.doc_id, d.n_chars,
                 row_number() OVER (PARTITION BY l.label
                   ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk,
                 count(*) OVER (PARTITION BY l.label) AS csize
               FROM labels l JOIN documents d ON d.doc_id = l.id)
         SELECT label, doc_id AS survivor_id, CAST(csize AS BIGINT) AS cluster_size
         FROM s WHERE rk = 1 AND csize >= 2 ORDER BY label"""),

    // q161: the q155 AUC replay and the q157 AP replay joined — the
    // fold-maintained state must read out to the one-shot metrics
    Gate("q161_readout_maintained", q161_readout_maintained,
      """WITH c AS (SELECT source, n_chars AS s,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos,
             sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS neg
           FROM documents
           WHERE n_chars IS NOT NULL AND lang IS NOT NULL
           GROUP BY 1, 2),
         r AS (SELECT *, coalesce(sum(neg) OVER (PARTITION BY source ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
               FROM c),
         a AS (SELECT source,
                 CAST(sum(pos) AS BIGINT) AS n_pos,
                 CAST(sum(neg) AS BIGINT) AS n_neg,
                 sum(pos * (CAST(neg_below AS DOUBLE) + CAST(neg AS DOUBLE) / 2.0)) AS u
               FROM r GROUP BY 1),
         w AS (SELECT source, s, pos, neg,
             sum(pos) OVER win AS tp, sum(neg) OVER win AS fp
           FROM c
           WINDOW win AS (PARTITION BY source ORDER BY s DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         r2 AS (SELECT source, tp, fp,
             sum(CAST(pos AS DOUBLE) *
                 (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))) OVER win2 AS ap_run
           FROM w
           WINDOW win2 AS (PARTITION BY source ORDER BY s DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         a2 AS (SELECT source, CAST(max(tp) AS BIGINT) AS np2, max(ap_run) AS apu
                FROM r2 GROUP BY 1)
         SELECT a.source, a.n_pos, a.n_neg,
           CASE WHEN a.n_pos > 0 AND a.n_neg > 0
                THEN round(a.u / (CAST(a.n_pos AS DOUBLE) * CAST(a.n_neg AS DOUBLE)), 6)
                ELSE NULL END AS auc,
           CASE WHEN a2.np2 > 0
                THEN round(a2.apu / CAST(a2.np2 AS DOUBLE), 6)
                ELSE NULL END AS ap
         FROM a JOIN a2 ON a.source = a2.source ORDER BY a.source"""),

    // q162: cells → per-class distinct/entropy (ln n − Σc·ln c / n) →
    // diversity verdicts; global dist + full class × value grid (absent
    // values carry their global mass) → TVD → closeness verdicts. The
    // verdicts compare the ROUNDED minima/maxima, same as the engine.
    Gate("q162_privacy_audit", q162_privacy_audit,
      """WITH cells AS (SELECT source,
             CAST(floor(n_chars / 200) AS BIGINT) AS len_bucket,
             lang AS s, count(*) AS cnt
           FROM documents GROUP BY 1, 2, 3),
         cls AS (SELECT source, len_bucket, sum(cnt) AS n,
                   count(*) AS nd,
                   ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt) AS ent
                 FROM cells GROUP BY 1, 2),
         div AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
                   CAST(min(nd) AS BIGINT) AS min_distinct,
                   round(min(ent), 6) AS min_entropy,
                   CAST(sum(CASE WHEN nd < 3 THEN 1 ELSE 0 END) AS BIGINT)
                     AS groups_below_l,
                   min(nd) >= 3 AS l_diverse,
                   round(min(ent), 6) >= ln(3) AS entropy_l_diverse
                 FROM cls),
         g AS (SELECT s, sum(cnt) AS gq FROM cells GROUP BY 1),
         tot AS (SELECT sum(cnt) AS total FROM cells),
         grid AS (SELECT c.source, c.len_bucket,
                    abs(CAST(coalesce(x.cnt, 0) AS DOUBLE) / c.n -
                        CAST(g.gq AS DOUBLE) / tot.total) AS term
                  FROM cls c CROSS JOIN g CROSS JOIN tot
                  LEFT JOIN cells x ON x.source IS NOT DISTINCT FROM c.source
                    AND x.len_bucket IS NOT DISTINCT FROM c.len_bucket
                    AND x.s IS NOT DISTINCT FROM g.s),
         tv AS (SELECT source, len_bucket, sum(term) / 2.0 AS tvd
                FROM grid GROUP BY 1, 2),
         clo AS (SELECT round(max(tvd), 6) AS max_tvd,
                   CAST(sum(CASE WHEN tvd > 0.3 THEN 1 ELSE 0 END) AS BIGINT)
                     AS groups_beyond_t,
                   round(max(tvd), 6) <= 0.3 AS t_close
                 FROM tv)
         SELECT div.*, clo.* FROM div CROSS JOIN clo"""),

    // q163: the 64-bit PQ quality point's contract stated independently —
    // floors met and the refine ordering holds at both shortlist budgets
    // (the measured values live in RecallSpec + NOTES; the gate hashes
    // the booleans, the q152 convention)
    Gate("q163_ann_pq_quality", q163_ann_pq_quality,
      """SELECT operating_point, floor, meets_floor, refine_ordered
         FROM (VALUES
           ('shortlist_32', 0.67, TRUE, TRUE),
           ('shortlist_64', 0.76, TRUE, TRUE))
           v(operating_point, floor, meets_floor, refine_ordered)
         ORDER BY operating_point"""),

    // q164: the routed reads are row-identical to the plain filters —
    // range on the clustered key, point on the bloom key, and the same
    // range again after compaction + scheduled manifest heal (data
    // unchanged throughout, so the healed row equals the range row)
    Gate("q164_zonemap_routed_read", q164_zonemap_routed_read,
      """WITH r AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      round(sum(l_quantity), 2) AS sum_qty
                    FROM lineitem WHERE l_orderkey BETWEEN 500 AND 1500),
         p AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 round(sum(l_quantity), 2) AS sum_qty
               FROM lineitem WHERE l_partkey = 1)
         SELECT 'point_partkey' AS probe, n, sum_qty FROM p
         UNION ALL
         SELECT 'range_after_heal', n, sum_qty FROM r
         UNION ALL
         SELECT 'range_orderkey', n, sum_qty FROM r
         ORDER BY probe"""),

    // q165: the conjunction as one plain WHERE — covered predicates
    // (orderkey stats, partkey bloom) and the uncovered quantity
    // residual must compose to exactly the unpruned answer
    Gate("q165_zonemap_compound", q165_zonemap_compound,
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 2) AS rev
         FROM lineitem
         WHERE l_orderkey BETWEEN 500 AND 3000
           AND l_partkey = 817
           AND l_quantity BETWEEN 10 AND 40
         GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // q166: the exact filtered ranking — candidates restricted to the
    // allowed subset INSIDE the CTE, so a query twinning a disallowed
    // vector must retrieve its best ALLOWED neighbor, rank-1 exact
    Gate("q166_ann_filtered", q166_ann_filtered,
      """WITH q AS (SELECT vec_id + 1000000 AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 30),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv
               FROM embeddings WHERE vec_id % 3 = 0),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank = 1 ORDER BY query_id"""),

    // q167/q168: the compressed families must produce the SAME exact
    // filtered ranking as q166's uncompressed one at their exhaustive
    // operating point (nProbe = nCells, shortlist = allowed count —
    // filter-then-shortlist means no allowed candidate can be dropped,
    // and the exact refine restores brute-force scores), so the oracle
    // is q166's filtered brute-force verbatim
    Gate("q167_ann_filtered_sq", q167_ann_filtered_sq,
      """WITH q AS (SELECT vec_id + 1000000 AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 30),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv
               FROM embeddings WHERE vec_id % 3 = 0),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank = 1 ORDER BY query_id"""),

    Gate("q168_ann_filtered_pq", q168_ann_filtered_pq,
      """WITH q AS (SELECT vec_id + 1000000 AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 30),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv
               FROM embeddings WHERE vec_id % 3 = 0),
         s AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (
           SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 4) AS score
         FROM r WHERE rank = 1 ORDER BY query_id"""),

    // q169: the disjunction as one plain WHERE — the union admission
    // (two covered ranges OR a covered bloom point) must compose to
    // exactly the unpruned answer, q165's contract with OR semantics
    Gate("q169_zonemap_disjunctive", q169_zonemap_disjunctive,
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 2) AS rev
         FROM lineitem
         WHERE (l_orderkey BETWEEN 500 AND 1200)
            OR (l_orderkey BETWEEN 4000 AND 4600)
            OR l_partkey = 817
         GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // q170: the same WHERE three ways on the v2/SQL path — pruned
    // (fresh manifest), stale fallback (rewritten table, manifest not
    // yet healed: full listing, identical answer), and healed (pruning
    // returns). The booleans state the documented pruning contract; the
    // n/sum pairs are all the one plain filter
    Gate("q170_zonemap_sql", q170_zonemap_sql,
      """WITH r AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      round(sum(l_quantity), 2) AS sum_qty
                    FROM lineitem
                    WHERE l_orderkey BETWEEN 500 AND 1500 AND l_partkey <> 0)
         SELECT 'sql_after_heal' AS probe, n, sum_qty, TRUE AS pruned FROM r
         UNION ALL
         SELECT 'sql_pruned', n, sum_qty, TRUE FROM r
         UNION ALL
         SELECT 'sql_stale_fallback', n, sum_qty, FALSE FROM r
         ORDER BY probe"""),

    // q171: q140's BM25 replay with the Lucene filter-query split
    // stated independently — df/N/avgdl computed over ALL documents,
    // the allowed predicate applied ONLY to which docs may score (the
    // contributions CTE): a doc's score is identical under any filter
    Gate("q171_bm25_filtered", q171_bm25_filtered,
      """WITH tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
           GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         nn AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         q(query_id, term) AS (VALUES
           (1, 'spark'), (1, 'sort'), (2, 'customer'), (2, 'join'), (3, 'window')),
         dfs AS (SELECT term, count(*) AS df FROM tf
                 WHERE term IN (SELECT term FROM q) GROUP BY 1),
         c AS (
           SELECT q.query_id, tf.doc_id,
             ln(1 + (nn.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
               (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / nn.avgdl)) AS contrib
           FROM tf JOIN q ON tf.term = q.term
                   JOIN dfs ON tf.term = dfs.term
                   JOIN dl ON tf.doc_id = dl.doc_id
                   CROSS JOIN nn
           WHERE tf.doc_id % 3 = 0),
         sc AS (SELECT query_id, doc_id, sum(contrib) AS score FROM c GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
               FROM sc)
         SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
                doc_id, round(score, 4) AS score
         FROM r WHERE rank <= 10 ORDER BY query_id, rank"""),

    // q172: q154's two-arm hybrid replay with the allowed predicate
    // applied INSIDE each arm's candidate CTE (before each arm's rank),
    // never after the fusion — RRF contributions are 1/(k + rank), so a
    // post-fusion filter would keep disallowed docs' rank slots and
    // deflate every allowed doc's fused score; BM25 statistics stay
    // corpus-global per the q171 contract
    Gate("q172_hybrid_filtered", q172_hybrid_filtered,
      """WITH tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
           GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         nn AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         q(query_id, term) AS (VALUES
           (1, 'spark'), (1, 'join'), (2, 'window'), (2, 'sort'), (3, 'customer')),
         dfs AS (SELECT term, count(*) AS df FROM tf
                 WHERE term IN (SELECT term FROM q) GROUP BY 1),
         c AS (
           SELECT q.query_id, tf.doc_id,
             ln(1 + (nn.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
               (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / nn.avgdl)) AS contrib
           FROM tf JOIN q ON tf.term = q.term
                   JOIN dfs ON tf.term = dfs.term
                   JOIN dl ON tf.doc_id = dl.doc_id
                   CROSS JOIN nn
           WHERE tf.doc_id % 3 = 0),
         sc AS (SELECT query_id, doc_id, sum(contrib) AS score FROM c GROUP BY 1, 2),
         lr AS (SELECT query_id, doc_id, rank FROM (
                  SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
                  FROM sc) t WHERE rank <= 20),
         eq AS (SELECT vec_id + 1000001 AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id < 3),
         ec AS (SELECT vec_id AS neighbor_id, embedding AS cv
                FROM embeddings WHERE vec_id % 3 = 0),
         es AS (
           SELECT query_id, neighbor_id,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS score
           FROM ec CROSS JOIN eq WHERE neighbor_id <> query_id),
         sr AS (SELECT query_id - 1000000 AS query_id, neighbor_id AS doc_id, rank FROM (
                  SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
                  FROM es) t WHERE rank <= 20),
         u AS (
           SELECT query_id, doc_id, 1.0 / (60 + rank) AS contrib FROM lr
           UNION ALL
           SELECT query_id, doc_id, 1.0 / (60 + rank) FROM sr),
         f AS (SELECT query_id, doc_id, sum(contrib) AS fused FROM u GROUP BY 1, 2),
         fr AS (SELECT query_id, doc_id, fused,
                  row_number() OVER (PARTITION BY query_id ORDER BY fused DESC, doc_id ASC) AS rank
                FROM f)
         SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
                doc_id, round(fused, 4) AS fused
         FROM fr WHERE rank <= 10 ORDER BY query_id, rank"""),

    // q173: the mixed a AND (b OR c) tree as ONE plain WHERE — pruned ≡
    // plain is the whole contract (q169's, over a nested tree)
    Gate("q173_zonemap_mixed", q173_zonemap_mixed,
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 2) AS rev
         FROM lineitem
         WHERE l_orderkey BETWEEN 500 AND 4600
           AND (l_partkey = 817 OR l_orderkey BETWEEN 4000 AND 4600)
         GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // q174: both legs return the plain WHERE's aggregate (pruning is
    // I/O, never semantics); the admits-fewer booleans state the layout
    // claim — the interleaved table admits ALL files, the sorted-
    // compacted one strictly fewer (q170's boolean pattern)
    Gate("q174_zonemap_cluster_compact", q174_zonemap_cluster_compact,
      """WITH r AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      round(sum(l_quantity), 2) AS sum_qty
                    FROM lineitem
                    WHERE l_orderkey BETWEEN 500 AND 1500)
         SELECT 'a_interleaved' AS probe, n, sum_qty, FALSE AS admits_fewer FROM r
         UNION ALL
         SELECT 'b_clustered', n, sum_qty, TRUE FROM r
         ORDER BY probe"""),

    // q175: both dimensions' aggregates are the plain WHEREs' at both
    // layouts; the booleans state the z-order claim — the interleaved
    // base prunes NEITHER dimension, the z-ordered layout prunes BOTH
    // (a lexicographic sort would leave the second dimension at FALSE).
    // okey probe is 500-700, NOT q174's 500-1500 (r17 inherited-state
    // fix): at sf0.001 the whole l_orderkey space is [0, 1499], so a
    // 500-1500 probe covers two thirds of the range and a z-ordered
    // 8-file layout (only TWO okey slabs — the Morton bits alternate
    // with l_partkey) legitimately admits every file: the hardcoded
    // TRUE was false at that SF (it held at sf0.01/sf0.1 where the
    // same probe is 17%/1.7% of the space). 500-700 sits inside one
    // okey slab at every SF, so the admits-fewer claim is layout-true
    // scale-independently.
    Gate("q175_zonemap_zorder", q175_zonemap_zorder,
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      round(sum(l_quantity), 2) AS sum_qty
                    FROM lineitem
                    WHERE l_orderkey BETWEEN 500 AND 700),
            b AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      round(sum(l_quantity), 2) AS sum_qty
                    FROM lineitem
                    WHERE l_partkey BETWEEN 1 AND 40)
         SELECT 'a_interleaved_okey' AS probe, n, sum_qty, FALSE AS admits_fewer FROM a
         UNION ALL
         SELECT 'a_interleaved_pkey', n, sum_qty, FALSE FROM b
         UNION ALL
         SELECT 'b_zorder_okey', n, sum_qty, TRUE FROM a
         UNION ALL
         SELECT 'b_zorder_pkey', n, sum_qty, TRUE FROM b
         ORDER BY probe"""),
  ).sortBy(_.name)

  /** The q84/q85 oracle's training replay: DuckDB cannot iterate a
    * data-dependent merge loop in one recursive CTE (no aggregation in
    * the recursive term), so the K rounds are UNROLLED — each round is
    * four CTEs (symbol arrays, weighted pair counts, argmax with the
    * count-desc-then-lexicographic tie-break, replace rewrite), chained
    * s0 → s1 → … → sK. Generated programmatically so the round count
    * stays a single constant shared with [[bpeMerges]]. */
  private val BpeRounds = 8
  private def bpeOracleRounds: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""         y$r AS MATERIALIZED (SELECT cnt, list_filter(string_split(seq, '||'), x -> x <> '') AS sy
                  FROM s${r - 1}),
         p$r AS MATERIALIZED (SELECT sy[i.g] AS la, sy[i.g + 1] AS rb, sum(cnt) AS total
                 FROM y$r, LATERAL (SELECT unnest(generate_series(1, len(sy) - 1)) AS g) i
                 GROUP BY 1, 2),
         b$r AS MATERIALIZED (SELECT la, rb, total FROM p$r ORDER BY total DESC, la, rb LIMIT 1),
         s$r AS MATERIALIZED (SELECT word, cnt,
                   replace(seq,
                     '|' || (SELECT la FROM b$r) || '||' || (SELECT rb FROM b$r) || '|',
                     '|' || (SELECT la FROM b$r) || (SELECT rb FROM b$r) || '|') AS seq
                 FROM s${r - 1})"""
    }.mkString(",\n")
    s"""WITH v AS MATERIALIZED (SELECT tok AS word, count(*) AS cnt
                FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) u
                WHERE length(tok) >= 1 AND tok NOT LIKE '%|%'
                GROUP BY tok),
         s0 AS MATERIALIZED (SELECT word, cnt,
                  '||' || array_to_string(list_transform(generate_series(1, length(word)),
                            i -> substr(word, i, 1)), '||') || '||' AS seq
                FROM v),
$rounds"""
  }

  private def bpeOracleMerges: String = {
    val unions = (1 to BpeRounds).map { r =>
      s"""SELECT $r AS merge_rank, la AS lft, rb AS rgt, la || rb AS merged,
                CAST(total AS BIGINT) AS pair_cnt FROM b$r"""
    }.mkString("\n         UNION ALL\n         ")
    s"""$bpeOracleRounds
         SELECT * FROM (
         $unions
         ) ORDER BY merge_rank"""
  }

  private def bpeOracleTokenize: String =
    s"""$bpeOracleRounds
         SELECT d.source, count(*) AS n_words,
                CAST(sum(len(f.sy)) AS BIGINT) AS n_bpe_tokens,
                round(CAST(sum(len(f.sy)) AS DOUBLE) / count(*), 4) AS avg_tokens_per_word
         FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents) d
         JOIN (SELECT word, list_filter(string_split(seq, '||'), x -> x <> '') AS sy
               FROM s$BpeRounds) f
           ON d.tok = f.word
         GROUP BY d.source ORDER BY d.source"""

  /** The q107 oracle: damped PageRank with the iteration count UNROLLED
    * (the [[bpeOracleRounds]] precedent — each round is a
    * dangling-mass CTE, a contribution CTE, and a rank CTE chained
    * r0 → r1 → … → rK over the same edge construction as the engine). */
  private val PageRankIters = 3
  private def pagerankOracle: String = {
    val rounds = (1 to PageRankIters).map { k =>
      s"""         d$k AS (SELECT coalesce(sum(CASE WHEN od.node IS NULL THEN r.rank ELSE 0 END), 0) AS dm
                 FROM r${k - 1} r LEFT JOIN od ON r.node = od.node),
         c$k AS (SELECT e.dst AS node, sum(r.rank / od.outdeg) AS contrib
                 FROM e JOIN r${k - 1} r ON e.src = r.node JOIN od ON e.src = od.node
                 GROUP BY 1),
         r$k AS (SELECT nodes.node,
                   (1 - 0.85) / (SELECT n FROM n) +
                   0.85 * (coalesce(c$k.contrib, 0) + (SELECT dm FROM d$k) / (SELECT n FROM n)) AS rank
                 FROM nodes LEFT JOIN c$k ON nodes.node = c$k.node)"""
    }.mkString(",\n")
    s"""WITH e AS (
           SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           UNION
           SELECT DISTINCT l.l_suppkey + 1000000 AS src, o.o_custkey AS dst
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           WHERE l.l_returnflag = 'R'),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         od AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY 1),
         r0 AS (SELECT node, 1.0 / (SELECT n FROM n) AS rank FROM nodes),
$rounds
         SELECT node, round(rank, 6) AS rank FROM r$PageRankIters ORDER BY node"""
  }

  /** The LangId trigram profile rendered as SQL VALUES rows — the oracle
    * runs the exact same profile the Spark operator broadcasts. */
  private def langProfileValues: String =
    graft.operators.LangId.profileRows
      .sortBy(r => (r._1, r._2))
      .map { case (lang, tg, w) => s"('$lang', '$tg', $w)" }
      .mkString(", ")
}
