package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Text, Vectors}

/** Near-duplicate detection and similarity search for the training-data
  * pipeline. All operators are candidate-generation-by-shuffle-key designs:
  * nothing here ever materializes the O(n²) pair space, which is the only
  * shape that survives 100 TB.
  *
  *  - MinHash+LSH: shingle → 64-perm signature → banded bucket join.
  *  - SimHash: 64-bit sketch → 16-bit chunk join (Hamming ≤ 3 ⇒ some chunk
  *    equal by pigeonhole over 4 chunks).
  *  - n-gram Jaccard: exact verification on candidate pairs only.
  *  - ANN: brute-force top-k as correctness baseline; hyperplane-LSH
  *    bucketed variant as the scale path.
  */
object Similarity {

  // ------------------------------------------------------------- MinHash

  val MinhashPerms = 64
  val MinhashBands = 16 // 16 bands × 4 rows

  /** Word k-shingles of the text column (distinct per doc). */
  def shingles(text: Column, k: Int): Column = {
    val w = Text.tokens(text)
    array_distinct(
      when(size(w) >= k,
        transform(sequence(lit(0), size(w) - k),
          i => concat_ws(" ", slice(w, i + 1, lit(k)))))
        .otherwise(array(concat_ws(" ", w))))
  }

  /** 64-bit hashes of the word k-shingles, from a token-ARRAY attribute —
    * set-equivalent to [[shingles]] (same distinct/intersect structure
    * w.h.p.) without materializing any joined shingle string: each position
    * hashes its k tokens directly. Docs with fewer than k words fall back to
    * one hash of the space-joined tokens, mirroring shingles()' fallback
    * (and matching xxhash64-of-string for that case). Pass an ALIASED
    * attribute for `w`, never an inline tokens expression — the lambda body
    * references it k times per position, and a non-attribute reference is
    * re-evaluated on each (the O(len²) HOF trap — LangId.scala). */
  def shingleHashesOf(w: Column, k: Int): Column =
    array_distinct(
      when(size(w) >= k,
        transform(sequence(lit(0), size(w) - k),
          i => xxhash64((1 to k).map(j => element_at(w, i + lit(j))): _*)))
        .otherwise(array(xxhash64(concat_ws(" ", w)))))

  /** (id, signature array[64]) — ZERO shuffles: the one-pass native
    * [[graft.plans.MinhashSig]] expression computes all 64 permutation
    * minima inside the scan projection. Permutation j is xxhash64(h0, j)
    * where h0 is the shingle's hash (hash-combined from its k tokens, no
    * shingle string ever materialized) — value-identical to exploding
    * [[shingleHashesOf]] into 64 min aggregates (see the PropertiesSpec
    * equivalence property), without moving ~len(doc) rows per document
    * through an aggregation. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 3): DataFrame =
    docs.select(col(idCol),
      call_function("minhash_sig",
        Text.tokens(col(textCol)), lit(k), lit(MinhashPerms)).as("sig"))

  /** Drop groups of `keys` whose occupancy exceeds `cap` (no-op for cap <= 0).
    * Sketch-bucket joins are quadratic *per bucket*: one pathological bucket
    * (boilerplate text, zero vectors) of size m emits m² candidate rows into
    * a single task. The guard prunes such buckets before the join — standard
    * practice in LSH dedup at corpus scale, where a mega-bucket carries no
    * signal anyway (its members pair up through their other, selective
    * buckets). Implemented as a count-over-window on the bucket keys, NOT a
    * groupBy+semi-join: the aggregate branch would re-run the (expensive)
    * sketch stage a second time, while the window keeps one pipeline and its
    * hash-partitioning on `keys` is exactly what the candidate join needs
    * next, so no extra exchange is introduced (measured: window cap +0.5 s,
    * semi-join cap +1.0 s on q20 at sf0.1). */
  def capBuckets(df: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    if (cap <= 0) df
    else df.withColumn("__bc",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__bc") <= cap)
      .drop("__bc")

  /** Candidate pairs from banded LSH + estimated Jaccard (fraction of equal
    * signature components). Returns (id_a, id_b, est_jaccard) with
    * id_a < id_b, est_jaccard >= threshold.
    *
    * The expensive shingle→64-min-agg signature stage is materialized ONCE
    * via an eager localCheckpoint and every later reference (band explode,
    * the two estimate joins) reads the materialized rows. The band explode
    * carries only (id, band, bh) — measured: carrying the 64×8-byte sig
    * array through the explode instead makes [[capBuckets]]'s window sort
    * those heavy rows and costs +1.4 s at sf0.1, and relying on
    * ReuseExchange to dedup three lazy references is fragile across plan
    * changes. Multi-band collisions dedup on the small (id_a, id_b) rows
    * BEFORE the estimate joins, so each candidate pair is scored once.
    *
    * `maxBucket` guards the quadratic bucket join (see [[capBuckets]]);
    * <= 0 disables. */
  /** array<struct<band,bh>> of LSH band hashes over a signature column —
    * the bucket keys of the banded candidate join, shared by the batch
    * near-dup and the streaming bucket-store filter. */
  def bandHashes(sig: Column): Column = {
    val rows = MinhashPerms / MinhashBands
    array((0 until MinhashBands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until rows).map(r => sig(b * rows + r)) :+ lit(b): _*).as("bh"))
    }: _*)
  }

  /** Analytic LSH parameter planner (the MMDS ch.3 S-curve analysis,
    * Leskovec/Rajaraman/Ullman): for an `nPerms`-component signature,
    * banding into (b bands × r rows) captures a pair of true Jaccard s
    * with probability p(s) = 1 − (1 − s^r)^b. Among the divisor pairs
    * b·r = nPerms this picks the one minimizing
    *
    *   ∫₀ᵗ p(s) ds  +  fnWeight · ∫ₜ¹ (1 − p(s)) ds
    *
    * — expected false-positive candidate mass plus (weighted) expected
    * false-negative mass under a uniform similarity prior. fnWeight > 1
    * biases toward recall (dedup pipelines usually prefer paying extra
    * exact-verification over silently missing near-dups); the integrals
    * are Simpson-evaluated, driver-side, microseconds. Returns
    * (bands, rows). The engine's fixed 16×4 default IS this planner's
    * answer for nPerms = 64 at threshold 0.5 (spec-pinned); callers
    * tuning other thresholds feed this into their own banding. */
  def lshPlan(nPerms: Int, threshold: Double,
              fnWeight: Double = 1.0): (Int, Int) = {
    require(nPerms >= 2, s"nPerms must be >= 2: $nPerms")
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0,1): $threshold")
    require(fnWeight > 0, s"fnWeight must be > 0: $fnWeight")
    def p(s: Double, b: Int, r: Int) = 1.0 - math.pow(1.0 - math.pow(s, r), b)
    def simpson(f: Double => Double, lo: Double, hi: Double): Double = {
      if (hi <= lo) return 0.0
      val n = 512 // even; f is smooth on [0,1]
      val h = (hi - lo) / n
      val s = (1 until n).map(i =>
        f(lo + i * h) * (if (i % 2 == 1) 4.0 else 2.0)).sum
      (f(lo) + f(hi) + s) * h / 3.0
    }
    def cost(br: (Int, Int)): Double = {
      val (b, r) = br
      simpson(s => p(s, b, r), 0.0, threshold) +
        fnWeight * simpson(s => 1.0 - p(s, b, r), threshold, 1.0)
    }
    (1 to nPerms).filter(nPerms % _ == 0).map(b => (b, nPerms / b)).minBy(cost)
  }

  def minhashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     threshold: Double, k: Int = 3,
                     maxBucket: Int = 1000): DataFrame = {
    val sigs = Checkpoints.materialize(minhashSignatures(docs, idCol, textCol, k))
    val banded = capBuckets(
      sigs.select(col(idCol), explode(bandHashes(col("sig"))).as("bs"))
        .select(col(idCol), col("bs.band").as("band"), col("bs.bh").as("bh")),
      Seq("band", "bh"), maxBucket)
    val a = banded.select(col(idCol).as("id_a"), col("band"), col("bh"))
    val b = banded.select(col(idCol).as("id_b"), col("band"), col("bh"))
    val pairs = a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    pairs
      .join(sigs.select(col(idCol).as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          eq => eq)).cast("double") / lit(MinhashPerms.toDouble), 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the word set: per distinct-word-hash bit, vote ±1;
    * sign of the vote sum is the sketch bit. ZERO shuffles — the one-pass
    * native [[graft.plans.Simhash64]] expression votes inside the scan
    * projection; value-identical to the explode → 64 bit-vote sums
    * formulation (PropertiesSpec equivalence property). */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      call_function("simhash64", Text.tokens(col(textCol))).as("simhash"))

  /** Near-dup pairs with Hamming(simhash) <= maxDist, candidates via 16-bit
    * chunk equality (4 chunks; dist<=3 guarantees >=1 equal chunk).
    * `maxBucket` bounds per-(chunk-position, value) occupancy — the 16-bit
    * bucket space is only 4×65536 slots, so occupancy grows quadratically
    * with corpus size and a guard is mandatory at scale (see [[capBuckets]]);
    * <= 0 disables. */
  def simhashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     maxDist: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val sk = simhash(docs, idCol, textCol)
    val chunked = capBuckets(
      sk.select(col(idCol), col("simhash"),
        explode(array((0 until 4).map(c =>
          struct(lit(c).as("c"),
            shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL).as("chunk"))): _*)).as("cc"))
        .select(col(idCol), col("simhash"), col("cc.c").as("c"), col("cc.chunk").as("chunk")),
      Seq("c", "chunk"), maxBucket)
    val a = chunked.select(col(idCol).as("id_a"), col("simhash").as("sh_a"), col("c"), col("chunk"))
    val b = chunked.select(col(idCol).as("id_b"), col("simhash").as("sh_b"), col("c"), col("chunk"))
    a.join(b, Seq("c", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // ----------------------------------------------------------- winnowing

  /** Near-dup candidates via winnowing fingerprints (rolling-hash document
    * fingerprinting — graft.plans.WinnowFingerprint): docs sharing >=
    * `minShared` selected fingerprints pair up. Shared-fingerprint count is
    * a hash join on the fingerprint value — any substring of length
    * >= k+w-1 common to two docs guarantees a shared fingerprint. */
  def winnowNearDup(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 16, w: Int = 8, minShared: Int = 4,
                    maxBucket: Int = 1000): DataFrame = {
    // maxBucket: a fingerprint shared by m docs emits m² join rows — small k
    // makes fingerprints hot (common k-grams win the window-min everywhere;
    // measured: k=8 at sf0.1 took 194 s vs 2 s for k=16). The cap bounds the
    // damage the same way as the minhash/simhash band guards.
    val fps = capBuckets(
      docs.select(col(idCol),
        explode(call_function("winnow_fingerprint",
          Text.normalize(col(textCol)), lit(k), lit(w))).as("fp")),
      Seq("fp"), maxBucket)
    val a = fps.select(col(idCol).as("id_a"), col("fp"))
    val b = fps.select(col(idCol).as("id_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  // ------------------------------------------- exact n-gram Jaccard verify

  /** Exact word-n-gram Jaccard for candidate pairs joined on a cheap key
    * (here: same `groupCol`), bounded by a deterministic sample predicate.
    * This is the verification stage run on LSH candidates at scale — the
    * sampled self-join here exists to exercise/benchmark the exact math. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   groupCol: String, n: Int, threshold: Double): DataFrame = {
    // hashed gram sets: Jaccard-identical to string shingles w.h.p., ~10×
    // lighter through the group self-join shuffle
    val grams = docs
      .select(col(idCol), col(groupCol), Text.tokens(col(textCol)).as("_w"))
      .select(col(idCol), col(groupCol),
        shingleHashesOf(col("_w"), n).as("grams"))
    val a = grams.select(col(idCol).as("id_a"), col(groupCol),
      col("grams").as("grams_a"))
    val b = grams.select(col(idCol).as("id_b"), col(groupCol),
      col("grams").as("grams_b"))
    a.join(b, Seq(groupCol))
      .filter(col("id_a") < col("id_b"))
      .select(col(groupCol), col("id_a"), col("id_b"),
        round(size(array_intersect(col("grams_a"), col("grams_b"))).cast("double") /
          size(array_union(col("grams_a"), col("grams_b"))).cast("double"), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Join each candidate pair with a per-doc feature computed ONLY for the
    * docs that appear in some pair — the verify stage in its 100 TB shape.
    * The (small, bounded-by-design) candidate-pair set is materialized once
    * via an eager localCheckpoint so the sketch pipeline that produced it is
    * never re-run; its doc ids become a broadcast semi-join filter; and
    * `features` (the expensive per-doc array/key derivation) runs ONLY on
    * that filtered subset, never over the full corpus. Without this shape, a
    * verify join against corpus-wide feature arrays doubles the query
    * (measured: winnowing verify 3.2 s → 1.8 s at sf0.1).
    *
    * `features` maps the candidate-doc subset to a two-column (id, feature)
    * frame — a function, not a Column, so callers can alias intermediates
    * (e.g. normalized text) to an attribute once instead of duplicating a
    * regexp inside a per-element lambda (the O(len²) trap — LangId.scala).
    * Returns cand's columns plus `__fa`/`__fb`. Materialization durability
    * follows [[Checkpoints]] (`graft.checkpoint.dir` ⇒ reliable). */
  def candidateFeatures(cand: DataFrame, docs: DataFrame, idCol: String,
                        features: DataFrame => DataFrame): DataFrame = {
    // The pairs frame is byte-tiny but its CONSUMER is compute-dense (one
    // array intersect/union per pair), so the materialized RDD must not
    // inherit AQE's byte-based coalescing: a 193k-pair set behind a
    // distinct() checkpoints as ONE partition and the whole verify
    // serializes onto one core (measured 2.5 s single-task stage on q101
    // at sf0.1). The explicit hash repartition is exempt from AQE
    // coalescing (guide §2.5 — the q113/q114 fix applied at the shared
    // verify entry point); key-hash, not round-robin, so assignment is
    // deterministic without the sort-before-repartition pass.
    val p = cand.sparkSession.sessionState.conf.numShufflePartitions
    val pairs = Checkpoints.materialize(
      cand.repartition(p, col("id_a"), col("id_b")))
    val ids = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol))).distinct()
    // f is joined twice (id_a side, id_b side): checkpoint it too, or the
    // corpus parquet scan + broadcast build + feature derivation behind it
    // run once per side.
    val f = Checkpoints.materialize(
      features(docs.join(broadcast(ids), Seq(idCol), "left_semi")))
    val Array(fid, fc) = f.columns
    pairs
      .join(f.select(col(fid).as("id_a"), col(fc).as("__fa")), "id_a")
      .join(f.select(col(fid).as("id_b"), col(fc).as("__fb")), "id_b")
  }

  /** Exact Jaccard over per-doc gram arrays, restricted to candidate pairs
    * (see [[candidateFeatures]]). Returns (id_a, id_b, jaccard·4dp). */
  def scoreCandidatesJaccard(cand: DataFrame, docs: DataFrame, idCol: String,
                             grams: DataFrame => DataFrame): DataFrame =
    candidateFeatures(cand.select("id_a", "id_b"), docs, idCol, grams)
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("__fa"), col("__fb"))).cast("double") /
          size(array_union(col("__fa"), col("__fb"))).cast("double"), 4)
          .as("jaccard"))

  /** Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine >= threshold).
    * This brute-force form is the oracle-checkable baseline on a bounded
    * sample; at scale candidates come from [[annLsh]]-style bucket joins
    * first and this exact scoring runs only on candidates. */
  def cosineNearDup(vectors: DataFrame, idCol: String, vecCol: String,
                    threshold: Double): DataFrame = {
    val a = vectors.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = vectors.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Vectors.dotNative(col("va"), col("vb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Scale path for [[cosineNearDup]]: candidate pairs come from multi-table
    * hyperplane-LSH bucket collisions — a symmetric self EQUI join on
    * (table, bucket), hash-joinable and AQE-splittable, never a cross
    * product — and the exact dot product runs only on the deduped candidate
    * pairs. Per qualifying pair the miss probability is (1-p^bits)^tables
    * with p = 1-θ/π (θ the pair's angle; Gaussian planes, so the bound
    * holds for EVERY pair — see [[graft.plans.GraftHash.gauss]]).
    *
    * The DEFAULTS (8 bits → 256 buckets/table, 24 tables, cap 1000) are
    * the corpus-scale shape for the near-DUPLICATE regime: at cosine 0.9
    * the per-pair miss is (1-0.856⁸)²⁴ ≈ 3e-4 while bucket occupancy
    * stays n/256 per table — a 2-bit table would pour n/4 of the corpus
    * into one bucket and the self-join would emit ~(n/4)² rows from a
    * single task. Lower `nBits` (and disable the cap) ONLY for bounded
    * inputs where a low threshold demands near-total recall — q30's gate
    * does exactly that (2 bits × 32 tables, miss < 1e-7 at cosine 0.4, on
    * a fixed sample) because its oracle enforces exhaustive recall. */
  def cosineNearDupLsh(vectors: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, nBits: Int = 8, nTables: Int = 24,
                       maxBucket: Int = 1000): DataFrame = {
    val bk = vectors.select(col(idCol).as("id"),
      posexplode(Vectors.lshSketch(col(vecCol), nBits, nTables)).as(Seq("t", "bkt")))
    val capped = capBuckets(bk, Seq("t", "bkt"), maxBucket)
    val pairs = capped.select(col("id").as("id_a"), col("t"), col("bkt"))
      .join(capped.select(col("id").as("id_b"), col("t"), col("bkt")), Seq("t", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val va = vectors.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val vb = vectors.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    pairs.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        round(Vectors.dotNative(col("va"), col("vb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Connected components over a near-dup PAIR set — the final step of
    * fuzzy dedup: pairwise matches become clusters, each cluster keeps one
    * representative (the minimum id). Label propagation to fixpoint: each
    * round every node takes the min label over itself and its neighbors;
    * rounds needed = cluster diameter, and near-dup clusters are
    * shallow (they form around shared content, not long chains), so the
    * loop converges in a handful of rounds. Each round is one shuffle on
    * the node id; labels are localCheckpointed per round so the plan does
    * not recompute the whole history. At extreme graph scale
    * [[dedupClustersLogRounds]] (alternating large-star/small-star,
    * Kiveris et al. SoCC'14) drops in behind the same signature with an
    * O(log n) round bound. The driver-side loop
    * condition reads ONE count per round — no data is collected.
    * Exceeding `maxRounds` without a fixpoint THROWS: truncated
    * propagation would silently split clusters and let duplicates
    * survive dedup. */
  def dedupClusters(pairs: DataFrame, nodes: DataFrame, idCol: String,
                    maxRounds: Int = 20): DataFrame = {
    val edges = Checkpoints.materialize(
      pairs.select(col("id_a").as("id"), col("id_b").as("nb"))
        .union(pairs.select(col("id_b").as("id"), col("id_a").as("nb"))))
    // Only edge-INCIDENT nodes can ever change label, and at corpus scale
    // they are a small fraction of the corpus — iterating the full node
    // set would re-join and re-checkpoint corpus-sized frames every round
    // for rows that cannot move. Singletons (label = id) union in once at
    // the end, untouched by the loop.
    val touched = Checkpoints.materialize(edges.select(col("id")).distinct())
    var labels = Checkpoints.materialize(touched.select(col("id"), col("id").as("label")))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val viaNeighbors = edges.join(labels.withColumnRenamed("id", "nb"), "nb")
        .groupBy(col("id")).agg(min(col("label")).as("nb_label"))
      // carry the previous label through the materialization so the
      // convergence check is a filter on the CHECKPOINTED rows — not an
      // extra join-and-scan of two label frames per round
      val next = Checkpoints.materialize(
        labels.join(viaNeighbors, Seq("id"), "left")
          .select(col("id"), col("label").as("__old"),
            least(col("label"), coalesce(col("nb_label"), col("label"))).as("label")))
      converged = next.filter(col("label") =!= col("__old")).isEmpty
      // bound the materialization footprint at two frames: the previous
      // round's labels are dead once `next` exists and convergence is read.
      // Checkpoints.release (not Dataset.unpersist, which leaves the
      // localCheckpoint's block-backed RDD persisted) actually frees them.
      Checkpoints.release(labels)
      labels = next.drop("__old")
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"dedupClusters did not converge in $maxRounds rounds: a component's " +
        "diameter exceeds the bound, and truncated propagation would SILENTLY " +
        "split clusters (duplicates would survive dedup). Raise maxRounds, or " +
        "switch to dedupClustersLogRounds (log-round star contraction, same " +
        "signature and result — equivalence property-tested).")
    val singletons = nodes.select(col(idCol).as("id"))
      .join(touched, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    labels.unionByName(singletons)
  }

  /** Quality-ranked survivorship over near-dup clusters: one survivor
    * per connected component — the HIGHEST-scoring member (ties →
    * smallest id), where [[dedupClusters]]' min-id convention keeps an
    * arbitrary copy. Production curation keeps the best copy of a
    * duplicate family (longest / highest quality score), so the
    * survivor choice is a ranking, not an accident of id assignment.
    * Two hash aggregates over the (id, label) frame joined to the
    * scores — a two-stage argmax (per-cluster best score, then the
    * null-safe min id among the members at that score), chosen over a
    * max_by-on-(score, −id) struct because id negation only exists for
    * numeric ids (string/UUID ids would coerce to null and tie-break
    * nondeterministically, or throw under ANSI). No window, nothing
    * cluster-count-sized on the driver. Returns one row per component
    * over ALL nodes (singletons survive as themselves with size 1):
    * (label, survivor_id, cluster_size). */
  def clusterSurvivorsBest(pairs: DataFrame, nodes: DataFrame,
                           idCol: String, scoreCol: String,
                           maxRounds: Int = 20): DataFrame = {
    val labels = dedupClusters(pairs, nodes.select(col(idCol)), idCol,
      maxRounds)
    val scored = labels
      .join(nodes.select(col(idCol).as("id"), col(scoreCol).as("_sc")), "id")
    // two-stage argmax instead of max_by over (score, −id): id negation
    // only exists for numerics — string/UUID ids would coerce to null
    // and the tie-break would silently go nondeterministic (or throw
    // under ANSI). Stage 1: per-cluster best score; stage 2: min id
    // among the members AT the best (null-safe, so an all-null-score
    // cluster still keeps its min-id member instead of vanishing).
    val best = scored.groupBy(col("label"))
      .agg(max(col("_sc")).as("_best"), count(lit(1)).as("cluster_size"))
    scored.join(best, "label")
      .filter(col("_sc") <=> col("_best"))
      .groupBy(col("label"), col("cluster_size"))
      .agg(min(col("id")).as("survivor_id"))
      .select(col("label"), col("survivor_id"), col("cluster_size"))
  }

  /** The corpus after best-copy dedup: every row whose id survived
    * [[clusterSurvivorsBest]] — duplicates collapse to their
    * highest-scoring member, singletons pass through. */
  def dedupKeepBest(docs: DataFrame, pairs: DataFrame, idCol: String,
                    scoreCol: String, maxRounds: Int = 20): DataFrame =
    docs.join(
      clusterSurvivorsBest(pairs, docs, idCol, scoreCol, maxRounds)
        .select(col("survivor_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Connected components in O(log n) rounds — the alternating
    * large-star/small-star algorithm (public: Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) that [[dedupClusters]]
    * documents as its extreme-scale drop-in: label propagation needs
    * diameter-many rounds, so a pathological chain-shaped component
    * (adversarial boilerplate that links A~B~C~... pairwise) would blow
    * its round bound, while star contraction collapses any component in
    * logarithmically many rounds regardless of shape.
    *
    *  - large-star: per node u, connect every neighbor v > u to
    *    m = min(N(u) ∪ u);
    *  - small-star: per node u, connect every neighbor v <= u (and u)
    *    to m.
    *
    * Each half-round is ONE groupBy shuffle on the node id plus a join
    * back to the (checkpointed) edge set; convergence = the edge set
    * reaching a fixpoint where every edge points directly at its
    * component minimum. Returns (id, label) over ALL `nodes`, exactly
    * like [[dedupClusters]] (equivalence property-tested). */
  def dedupClustersLogRounds(pairs: DataFrame, nodes: DataFrame, idCol: String,
                             maxRounds: Int = 30): DataFrame = {
    // symmetric, self-loop-free, deduped edge set
    var edges = Checkpoints.materialize(
      pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .union(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
        .filter(col("u") =!= col("v")).distinct())
    val touched = Checkpoints.materialize(edges.select(col("u").as("id")).distinct())

    def star(e: DataFrame, large: Boolean): DataFrame = {
      // large-star reasons over the FULL neighborhood, so the canonical
      // (larger -> smaller) set is symmetrized first; small-star operates
      // on exactly the canonical orientation (paper's formulation)
      val in =
        if (large) e.union(e.select(col("v").as("u"), col("u").as("v")))
        else e
      // m(u) = min over N(u) and u itself (u is a grouping column)
      val mins = in.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      val joined = in.join(mins, "u")
      val emitted =
        if (large)
          // connect strictly-larger neighbors to the min
          joined.filter(col("v") > col("u"))
            .select(col("v").as("u"), col("m").as("v"))
        else
          // connect smaller neighbors AND u itself to the min
          joined.select(col("v").as("u"), col("m").as("v"))
            .union(mins.select(col("u"), col("m").as("v")))
      // canonical output: directed u -> v with u > v, no self-loops,
      // deduped — the fixpoint is each node pointing at its component min
      emitted.filter(col("u") =!= col("v")).distinct()
    }

    var round = 0
    var converged = false
    // both frames are deduped, so |next| = |edges| plus next∖edges = ∅
    // implies set equality — ONE anti-join action per round instead of
    // two (the second anti-join was ~a third of each round's wall time;
    // the count on a just-materialized frame is a local scan). The
    // count also carries across rounds: each round pays one count, not
    // two.
    var edgeCount = edges.count()
    while (!converged && round < maxRounds) {
      val next = Checkpoints.materialize(star(star(edges, large = true), large = false))
      val nextCount = next.count()
      converged = nextCount == edgeCount &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      Checkpoints.release(edges)
      edges = next
      edgeCount = nextCount
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"dedupClustersLogRounds did not converge in $maxRounds rounds " +
        "(log-bounded contraction should need ~log2(n); raise maxRounds)")
    // at fixpoint every edge is (node > min) -> component min
    val labels = edges.groupBy(col("u")).agg(min(col("v")).as("label"))
      .select(col("u").as("id"), col("label"))
    val mins = edges.select(col("v").as("id")).distinct()
      .join(labels, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    val singletons = nodes.select(col(idCol).as("id"))
      .join(touched, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    labels.unionByName(mins).unionByName(singletons)
  }

  // ----------------------------------------------------------------- ANN

  /** Bounded top-k of (neighbor_id, score) per query via the
    * [[graft.functions.TopKAggregator]]: O(k) map-side state per group
    * instead of a full per-group sort+shuffle — same (score desc, id asc)
    * order as the window formulation, so results are identical. */
  private[operators] def takeTopK(scored: DataFrame, topK: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopK.topK(topK)(col("neighbor_id"), col("score")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "ns")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("ns._1").as("neighbor_id"), round(col("ns._2"), 4).as("score"))

  /** Brute-force cosine top-k: every query row against every candidate.
    * Correctness baseline — the LSH variant below is the scale path. */
  def annBruteForce(queries: DataFrame, candidates: DataFrame, idCol: String,
                    vecCol: String, topK: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.dotNative(col("qv"), col("cv")).as("score"))
    takeTopK(scored, topK)
  }

  /** Deterministic seed centroids for the IVF coarse quantizer: the first
    * `nCells` candidate vectors by id. Seed numbering happens on the
    * driver: nCells (<= dozens) rows are a bounded collect, and it keeps
    * the keyless-window single-partition shuffle out of the plan entirely
    * (a foldable partition key would be optimized away and WindowExec
    * would still coalesce to 1 partition). */
  def ivfSeedCentroids(candidates: DataFrame, idCol: String, vecCol: String,
                       nCells: Int): DataFrame = {
    val spark = candidates.sparkSession
    val seedRows = candidates
      .orderBy(col(idCol)).limit(nCells)
      .select(col(vecCol)).collect()
    val centroidSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("centroid",
        candidates.schema(vecCol).dataType, nullable = false)))
    spark.createDataFrame(
      java.util.List.of(seedRows.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(i, r.get(0))
      }: _*), centroidSchema)
  }

  /** Offline k-means (spherical Lloyd) refinement of the IVF coarse
    * quantizer (VERDICT r2 item 7). Each iteration: broadcast the current
    * centroids, assign every vector to its max-dot cell, recompute each
    * centroid as the L2-normalized element-wise mean of its members (the
    * spherical variant — assignment uses dot products on normalized
    * embeddings, so centroids must stay on the sphere). Cells that lose
    * all members keep their previous centroid.
    *
    * 100 TB shape: the per-iteration cost is one scan + one (cell, dim)
    * aggregation — no pair space; centroids themselves are tiny and live
    * on the driver between iterations. Train on a bounded sample of the
    * corpus (pass a sampled frame), as every production IVF build does;
    * the trained frame feeds [[annIvf]]'s `centroids` parameter. */
  def trainIvfCentroids(candidates: DataFrame, idCol: String, vecCol: String,
                        nCells: Int = 16, iterations: Int = 5): DataFrame = {
    val floatVecs = candidates.schema(vecCol).dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)
    var centroids = ivfSeedCentroids(candidates, idCol, vecCol, nCells)
    // materialized ONCE for the loop (r17, guide §2.4/§5): every
    // lloydStep crossJoins this frame, so a lazy `vecs` re-runs the
    // caller's whole candidate pipeline (scan + repartition + any
    // projection) once per iteration. The checkpoint preserves rows and
    // partitioning exactly, so each iteration's aggregation sees
    // bit-identical input — trained centroids unchanged.
    val vecs = Checkpoints.materialize(
      candidates.select(col(idCol).as("_tid"), col(vecCol).as("v")))
    try {
      for (_ <- 1 to iterations)
        centroids = lloydStep(vecs, centroids, floatVecs)
      centroids
    } finally Checkpoints.release(vecs)
  }

  /** One spherical Lloyd iteration: assign (broadcast argmax), recompute
    * (normalized per-cell mean), keep the previous centroid for emptied
    * cells. Returns a locally-checkpointed nCells-row frame. */
  private def lloydStep(vecs: DataFrame, centroids: DataFrame,
                        floatVecs: Boolean): DataFrame = {
    // argmax centroid per vector as a HASH aggregate (max_by over a
    // lexicographic (cd, -cell) struct = cd desc, cell asc tie-break),
    // not a row_number window: the window partitions by vector id, so it
    // sort-shuffles the full n×nCells expansion every iteration, while
    // max_by combines map-side and ships one row per vector (the same
    // argmax-as-aggregate move as Dedup.firstWinsAgg).
    val assigned = vecs.crossJoin(broadcast(centroids))
      .select(col("_tid"), col("v"), col("cell"),
        Vectors.dotNative(col("v"), col("centroid")).as("cd"))
      .groupBy(col("_tid"))
      .agg(max_by(struct(col("cell"), col("v")),
        struct(col("cd"), (-col("cell")).as("nc"))).as("b"))
      .select(col("_tid"), col("b.v").as("v"), col("b.cell").as("cell"))
    // element-wise mean per cell: (cell, dim) partial aggregation
    val means = assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("p", "x")))
      .groupBy(col("cell"), col("p")).agg(avg(col("x")).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("p"), col("m")))),
        s => s.getField("m")).as("raw"))
    val norm = sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x))
    val unit = transform(col("raw"), x =>
      if (floatVecs) (x / norm).cast("float") else x / norm)
    val refreshed = means.select(col("cell"), unit.as("trained"))
    // keep the previous centroid for cells that lost every member
    centroids.as("c")
      .join(refreshed.as("r"), Seq("cell"), "left")
      .select(col("cell"), coalesce(col("trained"), col("centroid")).as("centroid"))
      .localCheckpoint() // tiny (nCells rows); cut the per-iteration lineage
  }

  /** [[trainIvfCentroids]]' production loop: iterate Lloyd until the
    * largest spherical centroid movement, max over cells of
    * (1 − ⟨old, new⟩), falls below `eps` — k-means' standard
    * stop-when-centroids-stop rule, read as ONE driver scalar per round
    * from the nCells-row centroid frames (the data is never collected).
    * Lloyd monotonically improves the quantization objective over a
    * finite partition space, so it reaches a fixed point; `maxIters`
    * bounds the k-means cycling pathology and near-tie float jitter
    * with the engine's loud-error convention (a silently half-trained
    * quantizer would skew every downstream cell assignment). At a fixed
    * point the assignment is stable, so one extra [[trainIvfCentroids]]
    * round leaves the result unchanged — the spec's equivalence check
    * against the fixed-K contract.
    *
    * eps floor: with float32 vectors the normalization itself leaves
    * ‖c‖² ≈ 1 ± 1e-7, so 1 − ⟨c, c⟩ of a BIT-IDENTICAL centroid already
    * reads ~1e-7 — eps below ~1e-6 is unreachable on float columns
    * (double columns can go tighter). The 1e-6 default stays above that
    * quantization floor. */
  def trainIvfCentroidsToConvergence(candidates: DataFrame, idCol: String,
                                     vecCol: String, nCells: Int = 16,
                                     eps: Double = 1e-6,
                                     maxIters: Int = 30): DataFrame = {
    require(eps > 0, s"eps must be > 0: $eps")
    require(maxIters >= 1, "maxIters must be >= 1")
    val floatVecs = candidates.schema(vecCol).dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)
    var centroids = ivfSeedCentroids(candidates, idCol, vecCol, nCells)
    // materialized once for the loop — see trainIvfCentroids
    val vecs = Checkpoints.materialize(
      candidates.select(col(idCol).as("_tid"), col(vecCol).as("v")))
    var round = 0
    var shift = Double.MaxValue
    try while (shift >= eps && round < maxIters) {
      val next = lloydStep(vecs, centroids, floatVecs)
      shift = next.as("b").join(centroids.as("a"), Seq("cell"))
        .agg(max(lit(1.0) -
          Vectors.dotNative(col("a.centroid"), col("b.centroid"))).as("s"))
        .head().getDouble(0)
      centroids = next
      round += 1
    } finally Checkpoints.release(vecs)
    if (shift >= eps) throw new IllegalStateException(
      s"Lloyd did not converge in $maxIters rounds (last max centroid " +
        s"shift $shift >= eps $eps): a half-trained quantizer would " +
        "silently skew every cell assignment. Raise maxIters or loosen eps.")
    centroids
  }

  /** IVF (inverted-file) ANN: candidates are partitioned into `nCells`
    * Voronoi cells of a coarse quantizer; a query probes only its `nProbe`
    * nearest cells. Cell id is a shuffle/join key, so search cost is
    * (nProbe/nCells) of the corpus per query instead of all of it.
    *
    * `trainedCentroids`: pass [[trainIvfCentroids]] output for k-means
    * cells; default is the deterministic seed quantizer (the offline
    * training step changes only how centroids are produced, not the
    * search plan). */
  def annIvf(queries: DataFrame, candidates: DataFrame, idCol: String,
             vecCol: String, topK: Int, nCells: Int = 16, nProbe: Int = 4,
             trainedCentroids: Option[DataFrame] = None): DataFrame = {
    val centroids = trainedCentroids.getOrElse(
      ivfSeedCentroids(candidates, idCol, vecCol, nCells))

    // assignment: top-n centroid dots per vector (normalized => nearest),
    // as hash aggregates rather than a row_number window — the window
    // partitions by vector id and sort-shuffles the whole n×nCells
    // expansion; max_by / TopKAggregator combine map-side and ship one
    // bounded row per vector (same ordering: cd desc, cell asc).
    def assign(df: DataFrame, id: String, n: Int): DataFrame = {
      val scored = df.crossJoin(broadcast(centroids))
        .select(col(id), col("v"), col("cell"),
          Vectors.dotNative(col("v"), col("centroid")).as("cd"))
      if (n == 1)
        scored.groupBy(col(id))
          .agg(max_by(struct(col("cell"), col("v")),
            struct(col("cd"), (-col("cell")).as("nc"))).as("b"))
          .select(col(id), col("b.v").as("v"), col("b.cell").as("cell"))
      else
        // v is constant within the group (it IS the group's vector);
        // TopKAggregator keeps the nProbe best (cd desc, cell asc) cells
        // in an O(n) map-side buffer.
        scored.groupBy(col(id))
          .agg(first(col("v")).as("v"),
            graft.functions.TopK.topK(n)(col("cell").cast("long"), col("cd")).as("tk"))
          .select(col(id), col("v"), explode(col("tk")).as("cs"))
          .select(col(id), col("v"), col("cs._1").cast("int").as("cell"))
    }

    val cAssigned = assign(
      candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("v")),
      "neighbor_id", 1)
      .select(col("neighbor_id"), col("v").as("cv"), col("cell"))
    val qAssigned = assign(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("v")),
      "query_id", nProbe)
      .select(col("query_id"), col("v").as("qv"), col("cell"))

    // No dedup: a candidate is assigned to exactly ONE cell (n=1 argmax,
    // unique by the cell-asc tie-break) and qAssigned has one row per
    // (query, probed cell), so each (query, candidate) pair joins at most
    // once — a distinct here would shuffle the scored frame (the widest
    // in the query) for nothing. Same finding as IvfIndex.probeMembers
    // (r10 100x smoke: 4.8x).
    val scored = cAssigned.join(broadcast(qAssigned), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.dotNative(col("qv"), col("cv")).as("score"))
    takeTopK(scored, topK)
  }

  /** Duplicate n-gram span statistics — the distributed shape of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499): a corpus
    * suffix array is inherently sequential, so the Spark formulation
    * counts, per document, how many of its DISTINCT word n-grams occur
    * in at least one other document. A document whose grams are mostly
    * corpus-duplicated is a boilerplate/copy candidate even when no
    * single whole-doc fingerprint matches (the case MinHash-style
    * whole-doc sketches miss: long shared spans inside otherwise
    * distinct pages).
    *
    * Grams are hashed ([[shingleHashesOf]] — xxhash64-combined tokens,
    * no gram string materialized), value-identical to string shingles
    * w.h.p., the same precedent as q20/q22's oracles. Scale shape:
    * explode distinct grams (≤ len(doc) rows/doc) → one gram-keyed hash
    * agg for document frequency → gram-keyed attach join (NOT
    * broadcast-hinted: the gram vocabulary grows with the corpus —
    * Heaps' law, q57's policy; AQE downgrades to broadcast when it is
    * actually small) → one doc-keyed agg. Every stage is a hash
    * shuffle on a key with bounded per-key load (a gram's join fan-out
    * is its df — linear in corpus size, never quadratic). */
  def dupGramStats(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val grams = docs
      .select(col(idCol), graft.functions.Text.tokens(col(textCol)).as("_w"))
      .select(col(idCol), explode(shingleHashesOf(col("_w"), n)).as("gram"))
    // grams are distinct per doc (shingleHashesOf array_distincts), so a
    // plain count per gram IS the document frequency
    val dfCounts = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    grams.join(dfCounts, Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup"))
  }

  /** POSITIONAL word n-gram hashes — [[shingleHashesOf]] without the
    * distinct: element j covers tokens [j, j+k-1] (0-based), so a gram's
    * array index IS its span start, which the span-removal path needs.
    * Short docs (< k tokens) fall back to one whole-text gram covering
    * the full doc, mirroring shingleHashesOf's fallback. */
  private[operators] def positionalShingleHashes(w: Column, k: Int): Column =
    when(size(w) >= k,
      transform(sequence(lit(0), size(w) - k),
        i => xxhash64((1 to k).map(j => element_at(w, i + lit(j))): _*)))
      .otherwise(array(xxhash64(concat_ws(" ", w))))

  /** Duplicated-SPAN removal — the second half of exact-substring dedup
    * (Lee et al. 2022, arXiv:2107.06499, the "ExactSubstr" variant):
    * where [[dupGramStats]] only COUNTS corpus-duplicated grams per doc,
    * this cuts them out. Every position whose word n-gram occurs more
    * than once in the corpus (other docs AND self-repeats — Lee et al.
    * dedups any repeated substring, hence positional occurrences here vs
    * dupGramStats' per-doc-distinct document frequency) is marked; the
    * token intervals [p, p+n-1] those positions cover are merged and cut;
    * the remainder is re-joined into `clean_text`.
    *
    * Output: idCol, n_tokens (original), n_removed (covered token
    * count), clean_text. Docs with nothing duplicated pass through with
    * their ORIGINAL text (no tokenize/rejoin roundtrip is applied to the
    * untouched majority).
    *
    * Scale shape: positional-gram explode (≤ len rows/doc) → one
    * gram-keyed occurrence agg → gram-keyed attach join (NOT broadcast —
    * gram vocabulary grows with the corpus, Heaps'-law policy; the
    * occ>1 filter runs BEFORE the join so only duplicated grams move) →
    * one doc-keyed agg of ONLY the duplicated positions → doc-keyed left
    * join back to the docs. The rebuild itself is local per-row HOF
    * arithmetic, linear in doc length: covered positions flatten to a
    * hash-set `array_except` against the position range (no per-token
    * interval scan), and kept tokens are O(1) `element_at` lookups. A
    * fully-boilerplate doc degrades to clean_text = "" rather than being
    * dropped — dropping is the caller's policy decision. */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame = {
    val toks = docs.select(col(idCol), col(textCol),
      graft.functions.Text.tokens(col(textCol)).as("_w"))
    val posGrams = toks.select(col(idCol),
      posexplode(positionalShingleHashes(col("_w"), n)).as(Seq("pos", "gram")))
    val occ = posGrams.groupBy("gram").agg(count(lit(1)).as("occ"))
    val dupPos = posGrams
      .join(occ.filter(col("occ") > 1).select("gram"), Seq("gram"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("pos"))).as("_dps"))
    val len = size(col("_w"))
    toks.join(dupPos, Seq(idCol), "left")
      // staged as real attributes so each is computed once per row
      // (referenced twice below; CollapseProject keeps multiply-referenced
      // non-trivial expressions staged)
      .withColumn("_covered",
        when(col("_dps").isNull, array().cast("array<int>"))
          .otherwise(array_distinct(flatten(transform(col("_dps"),
            p => sequence(p, least(p + lit(n - 1), len - 1)))))))
      .select(col(idCol),
        len.cast("long").as("n_tokens"),
        size(col("_covered")).cast("long").as("n_removed"),
        when(col("_dps").isNull, col(textCol))
          .otherwise(concat_ws(" ",
            transform(
              array_except(sequence(lit(0), len - 1), col("_covered")),
              i => element_at(col("_w"), i + 1))))
          .as("clean_text"))
  }

  /** Multi-table LSH ANN: `nTables` independent hyperplane hash tables of
    * `nBits` each; a candidate is any vector sharing a bucket with the query
    * in ANY table (standard recall amplification: P = 1-(1-p^b)^L). Exact
    * dot product runs only on the deduped candidate pairs — candidate
    * generation is a hash join on (table, bucket), never a cross product. */
  def annLsh(queries: DataFrame, candidates: DataFrame, idCol: String,
             vecCol: String, topK: Int, nBits: Int = 6, nTables: Int = 12): DataFrame = {
    // Native one-pass sketch (graft.plans.VecLshSketch): posexplode gives
    // (table, bucket) shuffle keys directly.
    val qb = queries.select(col(idCol).as("query_id"),
      posexplode(Vectors.lshSketch(col(vecCol), nBits, nTables)).as(Seq("t", "bkt")))
    val cb = candidates.select(col(idCol).as("neighbor_id"),
      posexplode(Vectors.lshSketch(col(vecCol), nBits, nTables)).as(Seq("t", "bkt")))
    val pairs = cb.join(broadcast(qb), Seq("t", "bkt"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = pairs
      .join(c, "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Vectors.dotNative(col("qv"), col("cv")).as("score"))
    takeTopK(scored, topK)
  }
}
