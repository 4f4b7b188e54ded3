package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import AnnKit._

/** Round-4 training-corpus operators (SURVEY.md §2.13): benchmark
  * decontamination, context-window sequence packing, deterministic
  * k-means over quantized embeddings, and per-language TF-IDF terms.
  *
  * Shared design rule with §2.12: NO rand(), no float accumulation across
  * rows — every cross-row reduction is exact integer math (or a division
  * of exact integers), so both engines select and rank identical rows.
  */
object LlmScale extends OpModule {

  // ── llm_decontaminate ─────────────────────────────────────────────────

  /** Benchmark decontamination: for every held-out "eval" document
    * (doc_id ≡ 7 mod 20), the fraction of its distinct word 8-grams that
    * appear anywhere in the training split (all other docs). An eval doc
    * with containment ≥ 0.8 is flagged contaminated — the train/test
    * overlap gate every LLM data pipeline runs before training.
    *
    * Scale shape: grams travel as 8-byte xxhash64 values (the oracle
    * keeps strings — counts agree unless 64-bit collision); the
    * membership probe is a LEFT SEMI join that shuffles on the gram
    * hash, never materializing pairs. At 100 TB the train-gram set is
    * built once per corpus snapshot and the probe side is tiny (eval
    * sets are thousands of docs), so the semi join broadcasts the EVAL
    * grams and streams the train grams past them map-side; a bloom
    * filter over train grams (one bit per gram) is the lossy fast path
    * when even one shuffle of the train side is too much.
    */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val grams8 = "array_distinct(xx_ngram_hashes(toks, 8))"
    // the gram-hash tree is the expensive subtree and has THREE readers
    // (train explode, eval explode, eval counts): the repartition pins it
    // under one exchange, so ReusedExchange hashes the corpus once — the
    // same barrier pattern as dedupNear/dedupNgram (2.3 GB/TB of array
    // shuffle buys 2 fewer corpus-wide hash passes)
    val docs = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("gs", expr(grams8))
      .select(col("doc_id"), col("gs"))
      .repartition(col("doc_id"))
    // explode_outer, NOT explode: InferFiltersFromGenerate turns a plain
    // explode into a `size(gs) > 0 AND isnotnull(gs)` pre-filter that
    // Catalyst pushes to the scan — where it re-evaluates the whole gram
    // tree twice per row in an interpreted Filter (measured 3.5 s → 1 s
    // at sf0.1). The outer variant infers nothing; empty docs surface as
    // one null gram dropped by a cheap post-explode filter.
    val isEval = pmod(col("doc_id"), lit(20)) === 7
    val evalDocs = docs.where(isEval)
      .select(col("doc_id"), col("gs"), size(col("gs")).as("n_grams"))
    val trainGrams = docs.where(!isEval)
      .select(explode_outer(col("gs")).as("g"))
      .where(col("g").isNotNull).distinct()
    val hits = evalDocs.select(col("doc_id"), explode_outer(col("gs")).as("g"))
      .where(col("g").isNotNull)
      .join(trainGrams, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    evalDocs.select(col("doc_id"), col("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("containment",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(col("n_hit").cast("double") / col("n_grams"), 4)))
      .withColumn("contaminated", col("containment") >= 0.8)
  }

  // ── llm_decontaminate_bloom ───────────────────────────────────────────

  /** The bloom fast path llm_decontaminate's header promises: identical
    * eval-side semantics, but train-gram membership goes through Spark's
    * own bloom-filter sketch (BloomFilterAggregate / might_contain — the
    * machinery behind injected runtime filters) instead of the exact
    * LEFT SEMI join. The train side never shuffles a gram: each
    * partition folds its grams into a local sketch and only the
    * fixed-size bitmaps merge (no pre-distinct needed — inserts are
    * idempotent), then the probe is a map-side `bloom_might_contain`
    * over the eval grams — zero joins anywhere in the main plan, which
    * the spec pins. One-sided error: false POSITIVES only, so bloom
    * containment ≥ exact containment per doc and the contaminated set is
    * a superset — the conservative direction for decontamination (never
    * ship a contaminated eval doc as clean). The agreement spec
    * quantifies the FP inflation against the exact op.
    *
    * Sketch sizing is MEASURED, not assumed (round 8; r7 hard-coded
    * 10⁶): expected-items = Σ max(tokens−7, 0) over train docs — the
    * raw 8-gram occurrence count, a one-split-only pre-pass that never
    * hashes a gram and upper-bounds the distinct count (conservative
    * direction: a bigger sketch only lowers fpp). The sketch allocates
    * 16 bits/item from that estimate (fpp ≈ 5·10⁻⁴, comfortably inside
    * the ≤1% inflation guarantee; the engine's default 8 bits/item
    * measured 1.7% at sf0.001), capped by the engine's
    * runtime.bloomFilter.maxNumBits (2²⁶) — so the sketch grows with
    * the corpus instead of silently saturating. The r7 literal was
    * correct at fixture scale and ~10⁶× undersized at 100 TB, exactly
    * the failure the guarantee cannot survive. The chosen estimate
    * rides every output row (`sketch_items`) as the audit.
    * At 100 TB train grams are ~10¹² — a single bloom wants ~1 TB, so
    * the production shape shards the sketch by gram-hash prefix (each
    * executor holds one shard, probes route by the same prefix) or
    * accepts higher fpp; every false positive only ever *removes* a
    * suspect eval doc. The exact LEFT SEMI op remains the
    * oracle-checked entry; this twin is gated rows-only by design. */
  private[graft] def bloomExpectedItems(s: SparkSession, d: String): Long = {
    val isEval = pmod(col("doc_id"), lit(20)) === 7
    val r = Tables.documents(s, d).where(!isEval)
      .select(greatest(size(split(col("text"), " ")) - 7, lit(0))
        .cast("long").as("ng"))
      .agg(sum(col("ng"))).head()
    math.max(1024L, if (r.isNullAt(0)) 0L else r.getLong(0))
  }

  def decontaminateBloom(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val expectedItems = bloomExpectedItems(s, d)
    val grams8 = "array_distinct(xx_ngram_hashes(toks, 8))"
    val docs = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("gs", expr(grams8))
      .select(col("doc_id"), col("gs"))
    val isEval = pmod(col("doc_id"), lit(20)) === 7
    val evalDocs = docs.where(isEval)
      .select(col("doc_id"), col("gs"), size(col("gs")).as("n_grams"))
    // raw gram stream, straight into the sketch — no distinct, no
    // repartition: the one aggregate's partial phase IS the build
    docs.where(!isEval)
      .select(explode_outer(col("gs")).as("g"))
      .where(col("g").isNotNull)
      .createOrReplaceTempView("graft_decon_train_g")
    evalDocs.select(col("doc_id"), explode_outer(col("gs")).as("g"))
      .where(col("g").isNotNull)
      .createOrReplaceTempView("graft_decon_eval_g")
    // scalar subquery: the sketch builds once, broadcasts into the
    // probe's filter (the same plan shape as an injected runtime filter)
    val hits = s.sql(
      s"""SELECT doc_id, count(*) AS n_hit FROM graft_decon_eval_g
        |WHERE bloom_might_contain(
        |  (SELECT bloom_agg(g, CAST($expectedItems AS BIGINT),
        |                    CAST(${math.min(16L * expectedItems, 1L << 26)} AS BIGINT))
        |   FROM graft_decon_train_g), g)
        |GROUP BY doc_id""".stripMargin)
    evalDocs.select(col("doc_id"), col("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("containment",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(col("n_hit").cast("double") / col("n_grams"), 4)))
      .withColumn("contaminated", col("containment") >= 0.8)
      .withColumn("sketch_items", lit(expectedItems))
  }

  // ── llm_pack_sequences ────────────────────────────────────────────────

  /** Sequence packing: fill fixed-capacity training windows (C=128
    * tokens) with documents, per language, in deterministic doc_id order.
    * Bin assignment is exclusive-cumsum div C — ONE window pass, no
    * sequential fill loop, so it parallelizes per language partition at
    * any scale (the recurrence-free approximation of first-fit used by
    * streaming packers: a doc starting before a boundary may overflow its
    * bin; overflow bins are truncated at training time and accounted
    * here). Output is the per-language packing audit: bins, fill rate,
    * overflow bins, wasted slack.
    */
  private val C = 128
  def packSequences(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bins = Tables.documents(s, d)
      .withColumn("nt", least(size(split(col("text"), " ")), lit(C)))
      .withColumn("cum", sum(col("nt")).over(w))
      .withColumn("bin", floor((col("cum") - col("nt")).cast("double") / C).cast("long"))
      .groupBy(col("lang"), col("bin"))
      .agg(sum(col("nt")).as("tok"))
    bins.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_bins"),
        sum(col("tok")).as("total_tokens"),
        count(when(col("tok") > C, 1)).as("n_overflow_bins"),
        sum(when(col("tok") < C, lit(C) - col("tok")).otherwise(lit(0L)))
          .as("total_waste"))
      .withColumn("fill_rate",
        round(col("total_tokens").cast("double") / (col("n_bins") * C), 4))
  }

  /** Context-length packing ABLATION — llm_pack_sequences' audit swept
    * across the candidate training windows C ∈ {64, 128, 256, 512}: the
    * fill-rate / overflow / waste trade IS how a training team picks a
    * context length (short contexts waste less slack but overflow more
    * document boundaries; long contexts invert it). One corpus scan
    * explodes each doc into the four cap rows BEFORE the window, so the
    * whole sweep is a single shuffle carrying |caps|× rows instead of
    * four sequential jobs — at 100 TB the scan dominates and the
    * ablation rides it ~free. Same exclusive-cumsum div C bin math as
    * the base op (recurrence-free, parallel per (lang, cap) partition);
    * fill rate reported in exact integer basis points. */
  def packSweep(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("cap")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bins = Tables.documents(s, d)
      .withColumn("ntoks", size(split(col("text"), " ")))
      .withColumn("cap", explode(array(Seq(64, 128, 256, 512).map(lit): _*)))
      .withColumn("nt", least(col("ntoks"), col("cap")))
      .withColumn("cum", sum(col("nt")).over(w))
      .withColumn("bin",
        floor((col("cum") - col("nt")).cast("double") / col("cap")).cast("long"))
      .groupBy(col("cap"), col("lang"), col("bin"))
      .agg(sum(col("nt")).as("tok"))
    bins.groupBy(col("cap"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("tok")).cast("bigint").as("total_tokens"),
        count(when(col("tok") > col("cap"), 1)).as("n_overflow_bins"),
        sum(when(col("tok") < col("cap"), col("cap") - col("tok"))
          .otherwise(lit(0L))).cast("bigint").as("total_waste"))
      .withColumn("fill_rate_bp",
        expr("CAST((total_tokens * 10000) DIV (n_bins * cap) AS BIGINT)"))
  }

  // ── llm_kmeans ────────────────────────────────────────────────────────

  /** Deterministic k-means (2 unrolled Lloyd iterations) over embeddings
    * quantized to exact integers (q = round(x·10⁶)): distances are exact
    * BIGINT sums of squares, centroid updates are floor(sum/count) —
    * every assignment and tie-break (min cluster id) is
    * engine-independent, so DuckDB runs the SAME algorithm to the same
    * result, no float-accumulation drift. |x| < 0.6 and dim=64 keep
    * q ≤ 6·10⁵, per-pair distance ≤ 64·(1.2·10⁶)² ≈ 9·10¹³ — long-safe.
    *
    * K SCALES WITH THE CORPUS: K = max(4, N div 128), so the expected
    * cluster width is capped near 128 and llm_semdedup's within-cluster
    * pair space Σ|cluster|² ≈ N·128 stays LINEAR in corpus size — a
    * fixed K would leave it at N²/K, quadratic (real SemDeDup runs
    * thousands of clusters for the same reason). The one driver-side
    * count() that sizes K is metadata-only on parquet and is what any
    * clustering library does to pick K.
    *
    * Shape per iteration: centroid tables broadcast as arrays and each
    * embedding row computes its distances in in-order integer folds,
    * then argmin's via min(struct(dist, cid)) in a single hash
    * aggregate — never the N·K·dim per-dimension explosion (measured
    * 37.9 s → 3 s at the 10× probe once K scaled with N), and no
    * per-vector window sort. At 100 TB the only shuffle is that
    * aggregate; iterations stay O(rounds), exactly how MLlib schedules
    * Lloyd (which also ships centroid arrays to executors).
    *
    * ASSIGN IS HIERARCHICAL (round 7): with K ∝ N a brute argmin is
    * N·K ≈ N²/128 distance evaluations per round — fine to ~10⁷
    * vectors, quadratic beyond. So `assign` routes supercell-first
    * (K₁ = ⌊√K⌋ mini-Lloyd'd supercells, then exact argmin within the
    * chosen supercell's fine cells — N·2√K work, the FAISS IVF-HNSW/IMI
    * recipe); see the block comment in lloydBuild. The brute evaluator
    * survives only in the agreement/eval ops: llm_kmeans_twolevel
    * scores hierarchy-vs-brute on the final lattice, llm_ann_recall the
    * ANN analogue. All downstream consumers (semdedup's pair bound,
    * annIvfKmeans' inverted file) read the same hierarchical a2.
    *
    * Fixture-scale cost, stated honestly: at K=15 (sf0.1) the
    * hierarchy's ~25 extra tiny-job barriers (mini-Lloyd seeds, cell
    * assigns, counts) cost more than the brute argmin they replace —
    * bench ~3.2 s vs the old 1.5 s. The crossover is around K≈30 and
    * the asymptotics are what the operator is FOR: the 1×/10×/30× probe
    * measures 9.6/11.4/13.1 s across 30× data with distance evals
    * growing ×162 (N·2√K, within 3 % of model) vs brute's ×936
    * (SCALE.md). A K-gated brute path would be faster on the fixture
    * but would leave the hierarchical oracle unexercised at sf0.01 —
    * the wrong trade for a correctness gate.
    */
  private[graft] def kFor(n: Long): Long = math.max(4L, n / 128L)

  /** Lloyd runs ONCE per (session, sf-dir): llm_kmeans and llm_semdedup
    * share the identical assignment, so whichever runs first pays the
    * iteration cost and the other reads the checkpointed result — the
    * staged-fixture pattern (cf. the bucketed-join tables), applied to a
    * derived computation. `dims` is a plan over qv, not a checkpoint. */
  private[graft] val lloydMemo =
    new Memo[(SparkSession, String), (DataFrame, DataFrame, DataFrame, DataFrame)](
      this, "lloyd_lattice")({ case (qv, _, a2, c2) => Seq(qv, a2, c2) })

  /** Drop every memo this module declares (Bench calls this between
    * repeat passes so every timed pass re-pays the shared computation
    * exactly once); each memo unpersists the checkpoints it owns. */
  def resetLloydMemo(): Unit = MemoUtil.reset(this)

  /** Frozen v1 base frames of a STREAMED graph store, checkpointed once
    * per (session, store dir) instead of once per micro-batch (r17
    * review): the base is immutable across the stream by construction. */
  private val streamBaseMemo =
    new Memo[(SparkSession, String), (DataFrame, DataFrame, DataFrame)](
      this, "persisted_stores")({ case (a, _, v) => Seq(a, v) })

  /** Drop every store memo keyed on `dir` — sink_stream_graph's store is
    * fresh per invocation, so its walk/serve/base memo entries can never
    * be reused once the invocation's result has drained; the caller
    * registers this via MemoUtil.onDrain so the blocks free at the same
    * safe point as per-query scratch. */
  private[graft] def releaseFreshStoreMemos(dir: String): Unit = {
    Seq(storeHeadMemo, storeServeMemo, storeFilteredMemo)
      .foreach(_.releaseWhere(_._2 == dir))
    streamBaseMemo.releaseWhere(_._2 == dir)
  }

  /** Head-resolved graph-store frames + the width-8 walk over them,
    * memoized per (session, store dir, raw `_HEAD` string) — r17: the
    * filtered and unfiltered disk serves (and the pre/post phases when
    * the head is already swept) each re-read the head dirs and re-ran
    * an identical 6-hop walk. The head string IS the edge-set version
    * (every commit flips it), so keying on it is exactly as fresh as
    * re-reading; a sweep changes the string and misses the memo by
    * construction. Values are memo-lifecycle checkpoints, freed by
    * resetLloydMemo like every other family memo. */
  private val storeHeadMemo = new Memo[(SparkSession, String, String),
      (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame)](
      this, "persisted_stores")({ case (a, e, v, b, vis) => Seq(a, e, v, b, vis) })

  /** Memoized unfiltered disk-serve RESULT per (session, dir, head). */
  private val storeServeMemo =
    Memo.frame[(SparkSession, String, String)](this, "persisted_stores")

  /** Memoized filtered-serve parts (aware preds, filtered truth) per
    * (session, dir, head). */
  private val storeFilteredMemo =
    new Memo[(SparkSession, String, String), (DataFrame, DataFrame)](
      this, "persisted_stores")({ case (a, e) => Seq(a, e) })

  /** Memoized IVF-store serve result per (session, dir, head) — r17:
    * llm_ann_store_asof and llm_ann_index_persisted serve overlapping
    * logged heads (asof's v3/v4 ARE persisted's pre/post phases), each
    * previously recomputing the full probe + truth chain. */
  private val ivfServeMemo =
    Memo.frame[(SparkSession, String, String)](this, "persisted_stores")

  /** Memoized split machinery (grown corpus/members, seeds, routing) —
    * shared by llm_ann_ivf_rebalance and its _recall row so the
    * 2-means seeding runs once per (session, sf-dir). */
  private val ivfSplitMemo =
    new Memo[(SparkSession, String), (DataFrame, DataFrame, DataFrame, DataFrame)](
      this, "lloyd_lattice")({ case (_, _, seeds, routed) => Seq(seeds, routed) })

  /** Memoized navigable-graph index (adjacency, entry sample, lattice) —
    * the shared expensive subtree of llm_ann_graph, llm_ann_graph_sweep
    * and llm_ann_graph_filtered (the lloydMemo pattern): the graph is
    * built once per (session, sf-dir); whichever op runs first pays it
    * (ADVICE r13: the pair owned the registry's two largest floors and
    * duplicated ~4 s of identical construction). The third frame is
    * lloydMemo's qv: borrowed, so this memo never frees it. */
  private[graft] val graphMemo =
    new Memo[(SparkSession, String), (DataFrame, DataFrame, DataFrame)](
      this, "lloyd_lattice")({ case (adj, entries, _) => Seq(adj, entries) })

  /** Memoized width-8 walk: (final beam, visited scored set) — the
    * sweep's beam-8 row and llm_ann_graph_filtered reuse llm_ann_graph's
    * walk instead of re-running the same 6 hops. */
  private val beam8Memo =
    new Memo[(SparkSession, String), (DataFrame, DataFrame)](
      this, "lloyd_lattice")({ case (beam, visited) => Seq(beam, visited) })

  /** Memoized RETIRED-graph walk, keyed on the tombstone slice (VERDICT
    * r15 task 7): llm_ann_graph_delete's fresh build + width-8 walk over
    * the tombstone-filtered adjacency is paid once per (session, dir,
    * slice) instead of per call. */
  private val deleteWalkMemo =
    Memo.frame[(SparkSession, String, String)](this, "lloyd_lattice")

  /** Memoized persisted IVF index (centroids, assignments) — the
    * "trained artifact" llm_ann_ivf_incremental ingests a delta against;
    * built from the shared Lloyd lattice, checkpointed on the memo
    * lifecycle so the incremental op's index-side work never re-runs. */
  private val ivfIndexMemo =
    new Memo[(SparkSession, String), (DataFrame, DataFrame)](
      this, "lloyd_lattice")({ case (cent, asg) => Seq(cent, asg) })

  /** Memoized PQ ADC top-3 (qid, rank, cand_id, adist) — the shared
    * expensive subtree of llm_ann_pq and llm_ann_pq_recall (the
    * staged-fixture pattern, cf. lloyd): whichever runs first pays the
    * codebook train + encode + ADC ranking once per (session, sf-dir);
    * Bench resets this with the Lloyd memo between timing passes. */
  private val pqMemo =
    Memo.frame[(SparkSession, String)](this, "lloyd_lattice")

  /** Memoized residual-IVFPQ ADC top-3 — the shared expensive subtree
    * of llm_ann_pq_residual and llm_ann_pq_residual_recall (the pqMemo
    * pattern applied to the IVFADC construction). */
  private val pqResidualMemo =
    Memo.frame[(SparkSession, String)](this, "lloyd_lattice")

  /** Memoized EXACT brute top-3 on the 10⁶ quantized lattice (qid <
    * 10, squared distance, (dist, cand_id) total order) — the ground
    * truth BOTH recall evals compare against (llm_ann_pq_recall and
    * llm_ann_pq_residual_recall rank the same original-space lattice),
    * so the 10-query × corpus brute pass runs once per (session,
    * sf-dir) instead of once per eval. */
  private val exactTop3Memo =
    Memo.frame[(SparkSession, String)](this, "lloyd_lattice")

  private def exactQTop3(s: SparkSession, d: String): DataFrame =
    exactTop3Memo((s, d)) {
      graft.GraftExtensions.register(s)
      val qvec = Tables.embeddings(s, d).select(col("vec_id"), lattice().as("qv"))
      exact(qvec, evalQueries(qvec)).localCheckpoint()
    }

  /** Shared Lloyd pipeline (quantized vectors + per-dimension form +
    * round-2 assignment + round-2 centroids) for llm_kmeans /
    * llm_semdedup / llm_ann_ivf_kmeans / llm_kmeans_twolevel — all must
    * walk the identical lattice so their oracles replay one algorithm.
    * Returns (qv, dims, a2, c2); qv, a2, and c2 are checkpointed (the
    * chains otherwise re-execute per reader — c2 alone had FOUR readers
    * across the family, each re-paying a dims⋈a2 corpus pass). */
  private[graft] def lloyd(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    lloydMemo((s, d))(lloydBuild(s, d))

  private def lloydBuild(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    graft.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, d)
    val k = kFor(emb.count())
    // localCheckpoint: every unrolled Lloyd stage (seed join, two
    // assigns, two recenters, final join) reads the quantized corpus
    // against a different centroid set, so without a lineage cut it is
    // re-scanned and re-quantized per stage — same multi-reader rule as
    // the dedup signature tables (MLlib caches the equivalent RDD).
    // qv holds the vector FORM (one array row per vector — what assign
    // folds over); dims re-derives the per-dimension form map-side from
    // the same checkpoint for the recenter aggregates.
    val qv = emb.select(col("vec_id"), lattice().as("qv")).localCheckpoint()
    val dims = qv
      .select(col("vec_id"), posexplode(col("qv")))
      .select(col("vec_id"), col("pos").as("dim"), col("col").as("q"))
    // seed from the first K DISTINCT embeddings (min vec_id per distinct
    // vector), not the first K ids: duplicate vectors — guaranteed in any
    // deduplicating corpus — would otherwise collapse several seeds onto
    // one point and every row would tie-break into cluster 0 (observed at
    // the 10× clone probe). The distinct-vector search is bounded to a
    // deterministic id prefix of 64·K — at 100 TB seeding never
    // deduplicates the whole corpus by vector, it samples a bounded
    // slice. The seed set is ≤K rows; the global row_number is over that
    // tiny set only.
    val seeds = emb.where(col("vec_id") < 64 * k)
      .groupBy(col("embedding")).agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"),
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).as("cid"))
      .where(col("cid") < k)
    val c0 = dims.join(broadcast(seeds), "vec_id")
      .select(col("cid"), col("dim"), col("q").as("c"))

    // HIERARCHICAL (supercell-first) assignment — since round 7 this IS
    // the assign path, not a sibling demonstration: K ∝ N makes the
    // brute argmin N·K ≈ N²/128 distance folds per round, quadratic at
    // 100 TB. Instead the K centroids are themselves mini-Lloyd'd into
    // K₁ = max(2, ⌊√K⌋) supercells (seed = K₁ smallest cids, one
    // recenter, reassign — K·K₁ folds over broadcast-sized tables), and
    // each point routes nearest-supercell-first (K₁ folds) then exact
    // argmin over only that supercell's fine cells (≈K/K₁ folds) —
    // N·2√K total, the FAISS IMI / IVF-HNSW recipe. Every distance,
    // recenter, and (dist, id) tie-break stays exact BIGINT, so DuckDB
    // replays the identical hierarchy (hierCtes below is this function
    // transcribed). Phase 1 only considers supercells that still own at
    // least one fine cell after the reassign — a cell-less supercell
    // would otherwise orphan the points it attracts (assignment must
    // stay TOTAL: semdedup/annIvf consume a2 as a partition).
    // Boundary points may route to a different-but-close cluster than
    // brute argmin would pick — the accepted IMI approximation; the
    // brute evaluator survives only inside the agreement/eval ops
    // (kmeansTwoLevel scores it at ~full agreement, annRecall the ANN
    // analogue). Intermediate K-row checkpoints are freed once the
    // round-2 lattice is materialized.
    val scratch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def assign(centIn: DataFrame): DataFrame =
      hierarchicalAssign(qv, centIn, scratch)
    def recenter(asg: DataFrame): DataFrame =
      dims.join(asg, "vec_id")
        .groupBy(col("cluster"), col("dim"))
        .agg(floor(sum(col("q")).cast("double") / count(lit(1))).cast("long").as("c"))
        .select(col("cluster").as("cid"), col("dim"), col("c"))

    val a2 = assign(recenter(assign(c0))).localCheckpoint()
    // round-2 centroids in per-dim form — the shared "report" lattice
    // every consumer derives from (kmeans output, annIvfKmeans inverted
    // file, twolevel fine cells); K·64 rows, checkpointed so no consumer
    // re-pays the dims⋈a2 corpus join
    val c2 = recenter(a2).localCheckpoint() // (cid, dim, c)
    scratch.foreach(MemoUtil.dropCheckpoint) // intra-build K-row tables
    (qv, dims, a2, c2)
  }

  /** One hierarchical (supercell-first) assignment pass — THE assign
    * path of the shared Lloyd (see lloydBuild's block comment for the
    * full rationale). Exposed private[graft] so the plan-shape spec can
    * pin the routing topology: the brute regression (qv × all-K-cells
    * NLJ) has no `scid` anywhere, so the phase-2 equi join on scid is
    * the structural witness that points route through supercells.
    *
    * The K-row mini-Lloyd (seed → recenter → reassign over the fine
    * cells) runs DRIVER-SIDE on the collected per-dim centroid table:
    * phase 2 must broadcast the full fine-cell array table anyway, so
    * the driver already materializes this exact payload per assign —
    * collecting it first adds no new scale constraint, and it collapses
    * what round 7 ran as ~10 tiny barrier jobs per pass (2 checkpoints,
    * a count, 2 cell-assign broadcast rounds, the supercell recenter)
    * into ONE job that executes the centroid lineage. All arithmetic is
    * the same exact BIGINT lattice (squared distances, (dist, id)
    * argmin ties, floor(sum/count) recenters), so the DuckDB hierCtes
    * transcription is unchanged. The N-scale phases stay distributed:
    * nearest-live-supercell (K₁ folds/point) then exact argmin over the
    * routed supercell's cells, both via broadcast joins against the
    * driver-built local relations. `scratch` is kept for API
    * compatibility (this pass no longer checkpoints anything). */
  private[graft] def hierarchicalAssign(qv: DataFrame, centIn: DataFrame,
      scratch: scala.collection.mutable.ArrayBuffer[DataFrame]): DataFrame = {
    val sess = qv.sparkSession
    import sess.implicits._
    // ONE job: executes centIn's lineage (round 2: the whole round-1
    // assign) exactly once. K·64 (cid, dim, c) rows — broadcast-sized
    // by the op's own contract.
    val centRows = centIn.select(col("cid"), col("dim"), col("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val nd = centRows.iterator.map(_._2).max + 1
    val byCell: Array[(Int, Array[Long])] = centRows.groupBy(_._1).iterator
      .map { case (cid, rs) =>
        val cv = new Array[Long](nd)
        rs.foreach { case (_, d, c) => cv(d) = c }
        (cid, cv)
      }.toArray.sortBy(_._1)
    def sq(a: Array[Long], b: Array[Long]): Long = {
      var i = 0; var acc = 0L
      while (i < nd) { val dl = a(i) - b(i); acc += dl * dl; i += 1 }
      acc
    }
    val k1 = math.max(2, math.floor(math.sqrt(byCell.length.toDouble)).toInt)
    // seed supercells = the K₁ smallest cids (scid = rank), one recenter,
    // one reassign — identical stages to the r7 DataFrame form
    val sc0: Array[(Int, Array[Long])] =
      byCell.take(k1).zipWithIndex.map { case ((_, cv), i) => (i, cv) }
    // ascending-scid scan with strict < keeps the smaller scid on ties —
    // the min(struct(dist, scid)) order
    def cellAssign(sup: Array[(Int, Array[Long])]): Array[(Int, Int)] =
      byCell.map { case (cid, cv) =>
        var best = -1; var bd = Long.MaxValue
        sup.foreach { case (scid, sv) =>
          val d0 = sq(cv, sv); if (d0 < bd) { bd = d0; best = scid }
        }
        (cid, best)
      }
    val cellMap = byCell.toMap
    val s1: Array[(Int, Array[Long])] = cellAssign(sc0)
      .groupBy(_._2).iterator.map { case (scid, members) =>
        val sums = new Array[Long](nd)
        members.foreach { case (cid, _) =>
          val cv = cellMap(cid); var i = 0
          while (i < nd) { sums(i) += cv(i); i += 1 }
        }
        (scid, sums.map(x => math.floor(x.toDouble / members.length).toLong))
      }.toArray.sortBy(_._1)
    val f2 = cellAssign(s1) // final fine-cell → supercell map
    val live = f2.iterator.map(_._2).toSet
    val superArr = s1.filter(p => live(p._1)) // live supercells only
    val superDf = superArr.toSeq.toDF("scid", "sv")
    val fineDf = f2.toSeq.map { case (cid, scid) => (scid, cid, cellMap(cid)) }
      .toDF("scid", "cid", "cv")
    // phase 1: nearest live supercell per point (K₁ folds each)
    val p1 = qv.crossJoin(broadcast(superDf))
      .select(col("vec_id"), col("qv"), col("scid"),
        expr("squared_distance(qv, sv)").as("dist"))
      .groupBy(col("vec_id"), col("qv"))
      .agg(min(struct(col("dist"), col("scid"))).as("m"))
      .select(col("vec_id"), col("qv"), col("m.scid").as("scid"))
    // phase 2: exact argmin over the chosen supercell's fine cells only
    p1.join(broadcast(fineDf), "scid")
      .select(col("vec_id"), col("cid"),
        expr("squared_distance(qv, cv)").as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cluster"))
  }

  /** Centroids collapse to K array rows (ascending-dim order) for the
    * assign broadcast — shared by the Lloyd rounds and annIvfKmeans so
    * the array layout feeding squared_distance cannot diverge. */
  private def centroidArrays(cent: DataFrame): DataFrame =
    cent.groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("cv"))

  def kmeans(s: SparkSession, d: String): DataFrame = {
    val (_, _, a2, c2) = lloyd(s, d)
    a2.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("min_vec_id"))
      .join(c2.groupBy(col("cid").as("cluster"))
        .agg(sum(col("c")).as("centroid_sum")), "cluster")
  }

  // ── llm_semdedup ──────────────────────────────────────────────────────

  /** SemDeDup-style semantic deduplication: k-means clusters bucket the
    * corpus, then candidate pairs form ONLY within a cluster — and since
    * K = max(4, N div 128) scales with the corpus (see lloyd), the
    * pairwise phase is Σ|cluster|² ≈ N·128, LINEAR in corpus size, which
    * is the entire point of the method at 100 TB (boundary pairs across
    * clusters are the accepted miss, exactly as in the paper's
    * formulation — real SemDeDup runs thousands of clusters). The
    * similarity test is division- and sqrt-free: embeddings re-quantize
    * to 10³ integers and cos ≥ 0.7 becomes dot > 0 ∧ dot²·10⁴ ≥
    * 4900·‖a‖²·‖b‖² — every product bounded < 2⁶³ (|q| ≤ 600, dim 64),
    * so both engines select the identical pair set. A vector is dropped
    * when a similar smaller-id neighbor exists in its cluster. */
  def semdedup(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val (_, _, a2, _) = lloyd(s, d)
    // signature table read by both sides of the pair self-join →
    // checkpoint once (the ≥2-reader rule; the quantize tree would
    // otherwise re-evaluate per alias). Norms and pair dots run through
    // the native dot_long kernel — the interpreted HOF fold cost ~3× the
    // pair phase at the 10× probe.
    val sig = MemoUtil.scratch(Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))")
          .as("q"))
      .join(a2, "vec_id")
      .select(col("vec_id"), col("cluster"), col("q"),
        expr("dot_long(q, q)").as("nn"))
      .localCheckpoint())
    val dups = sig.as("x").join(sig.as("y"),
        col("x.cluster") === col("y.cluster")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("y.vec_id").as("vec_id"),
        expr("dot_long(x.q, y.q)").as("dot"),
        col("x.nn").as("na"), col("y.nn").as("nb"))
      .where(col("dot") > 0 &&
        col("dot") * col("dot") * lit(10000L) >=
          lit(4900L) * col("na") * col("nb"))
      .select(col("vec_id")).distinct()
    sig.select(col("vec_id"), col("cluster"))
      .join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dup").isNull.as("keep"))
  }

  // ── llm_ann_ivf_kmeans ────────────────────────────────────────────────

  /** IVF approximate nearest neighbor with a LEARNED coarse quantizer —
    * the FAISS IVFFlat shape: the shared Lloyd assignment (see lloyd) IS
    * the inverted file, its K = max(4, N div 128) round-2 centroids are
    * the coarse cells, each query probes its nprobe=2 nearest centroids
    * by exact integer distance, and candidates rank by exact squared
    * distance WITHIN the probed cells only (self excluded, top-3, ties
    * broken by candidate id — a total order both engines walk
    * identically; llm_ann_ivf next door is the same machinery with
    * data-independent sign-bit cells). Cost shape at 100 TB: centroids
    * broadcast (K rows), the probe choice touches queries × K, and the
    * candidate join is an EQUI-JOIN on cluster id against the inverted
    * file — per-query work is nprobe·(N/K) ≈ nprobe·128 exact distances
    * regardless of corpus size, the whole point of IVF. Distances stay
    * long-safe (q ≤ 6·10⁵·1.2 ⇒ dist ≤ 64·(1.2·10⁶)² < 2⁶³). */
  def annIvfKmeans(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    // qvec is lloyd's CHECKPOINTED quantized corpus (identical 10⁶
    // lattice) — both readers below hit the materialized blocks instead
    // of re-scanning and re-quantizing the parquet per reader
    val (qvec, _, a2, c2) = lloyd(s, d)
    // round-2 centroids (the memoized shared lattice — identical to
    // llm_kmeans' reported centroids), collapsed to sorted arrays by the
    // same helper the Lloyd rounds broadcast through
    val cent = centroidArrays(c2).select(col("cid").as("cluster"), col("cv"))
    topK(qvec.join(a2, "vec_id")
      .join(broadcast(probes(evalQueries(qvec), cent, 2)), "cluster")
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"), col("cluster"),
        expr("squared_distance(qv, qq)").as("dist")), 3, "rank")
      .select(col("qid"), col("rank"), col("cand_id"), col("cluster"),
        col("dist"))
  }

  // ── llm_ann_ivf_incremental ───────────────────────────────────────────

  /** INCREMENTAL IVF index maintenance — the daily-ingest shape of a
    * vector corpus (the text side's llm_dedup_incremental discipline,
    * applied to the vector index): when a delta embedding shard
    * arrives, the trained IVF artifact is NOT retrained — each new
    * vector is assigned to its nearest EXISTING round-2 centroid in ONE
    * broadcast pass (K-row centroid side), and the op emits the
    * refreshed per-vector assignment plus the per-cell growth audit
    * (n_base from the persisted inverted file, n_cell_delta counted
    * over the shard). Index × index work never re-runs: the artifact
    * (centroid arrays + the inverted-file assignment) lives on the
    * ivfIndexMemo lifecycle, and the spec pins that a warm-index call
    * plans ZERO file scans of the embeddings parquet — the corpus is
    * touched only through the checkpointed lattice that synthesizes
    * the shard (a production delta arrives as its own files).
    *
    * The delta shard is synthesized deterministically so DuckDB replays
    * it: every vector with vec_id ≡ 3 (mod 17) re-arrives as a new
    * vector (id + 10⁶) nudged +1000 lattice units on dim 0 — near its
    * source but not identical, so the routing is real. All distances
    * exact BIGINT, (dist, cluster) argmin tie-break — the family's
    * total order. At 100 TB: the delta pass is O(|delta|·K) distance
    * folds (centroids broadcast — the same K-row bound every IVF op
    * here carries), the growth audit is one map-side-combined count
    * over the persisted assignment; nothing rescans or reshuffles the
    * indexed corpus. */
  /** The persisted IVF artifact: K centroid arrays (checkpointed on
    * the memo lifecycle — the "index on disk") + the inverted file.
    * Shared by every maintenance/serving op so the index is built
    * once per session. */
  private def ivfIndex(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val (_, _, a2, c2) = lloyd(s, d)
    ivfIndexMemo((s, d))(
      (centroidArrays(c2).select(col("cid").as("cluster"), col("cv"))
        .localCheckpoint(), a2))
  }

  /** The deterministic synthetic delta shard every maintenance op
    * ingests (DuckDB replays it): vec_id ≡ 3 (mod 17) re-arrives as
    * id + 10⁶ nudged +1000 lattice units on dim 0 — near its source
    * but not identical, so the routing is real. */
  private def ivfDeltaShard(qv: DataFrame): DataFrame =
    qv.where(col("vec_id") % 17 === 3)
      .select((col("vec_id") + lit(1000000L)).as("new_id"),
        expr("transform(qv, (x, i) -> x + IF(i = 0, 1000L, 0L))").as("dv"))

  /** One O(|delta|·K) broadcast assignment of a delta shard against
    * the persisted centroids — the no-retrain ingest pass. */
  private def ivfDeltaAssign(delta: DataFrame,
                             cent: DataFrame): DataFrame = {
    val wA = Window.partitionBy(col("new_id"))
      .orderBy(col("cdist").asc, col("cluster").asc)
    delta.crossJoin(broadcast(cent))
      .select(col("new_id"), col("cluster"),
        expr("squared_distance(dv, cv)").as("cdist"))
      .withColumn("rn", row_number().over(wA)).where(col("rn") === 1)
      .select(col("new_id"), col("cluster"), col("cdist"))
  }

  def annIvfIncremental(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val (qv, _, _, _) = lloyd(s, d)
    val (cent, invFile) = ivfIndex(s, d)
    val asg = ivfDeltaAssign(ivfDeltaShard(qv), cent)
    val base = invFile.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_base"))
    val grown = Window.partitionBy(col("cluster"))
    // LEFT join + coalesce (ADVICE r14): a delta vector routed to a
    // cluster with zero base members must still appear in the ingest
    // audit (n_base 0), not silently vanish from it
    asg.join(base, Seq("cluster"), "left")
      .withColumn("n_base", coalesce(col("n_base"), lit(0L)))
      .withColumn("n_cell_delta", count(lit(1)).over(grown))
      .select(col("new_id"), col("cluster"), col("cdist"),
        col("n_base"), col("n_cell_delta"))
  }

  // ── llm_ann_ivf_rebalance ─────────────────────────────────────────────

  /** IVF CELL-SPLIT REBALANCE — the third leg of the vector-index
    * maintenance triad (incremental ASSIGN routes new vectors into
    * cells; the graph op GRAFTS; this op handles the consequence:
    * cells that grow hot under ingest serve ever-larger candidate
    * lists, eroding the nprobe·(N/K) bound — FAISS/Milvus rebalance by
    * splitting them). The heaviest 3 cells of the POST-INGEST
    * assignment (base inverted file ∪ the incremental shard's
    * assignments, (size desc, cid) total order) each split by a
    * deterministic local 2-means seeding: seed A = the cell's min
    * vec_id, seed B = the member farthest from A ((dist desc, id)
    * argmax — the classic farthest-point heuristic), members route to
    * the nearer seed (ties to A). All distances exact BIGINT on the
    * shared lattice, so DuckDB replays the identical split. Output:
    * per (cell, subcell) membership audit (n, key checksum, parent
    * size) — the artifact a rebalance job commits beside the updated
    * centroids.
    *
    * At 100 TB: candidate cells come from a |K|-row size aggregate
    * (driver-bounded); each split touches ONLY its own cell's members
    * (two broadcast-seed distance passes over ~|cell| rows) — the
    * rebalance cost is O(split cells' mass), never an index rebuild,
    * and the lloyd/ingest work rides the memo. */
  /** The shared split machinery behind the rebalance pair: grown
    * corpus + membership (base ∪ incremental shard), the 3 heaviest
    * post-ingest cells, their farthest-point 2-means seeds, and every
    * split member ROUTED to its nearer seed. Returns
    * (allVec(vec_id, qv), members(vec_id, cluster),
    *  seeds(cluster, a_id, b_id),
    *  routed(cluster, vec_id, n_parent, subcell)) — routed and seeds
    * checkpointed (multi-reader: the audit aggregate AND the
    * post-split serving probe read them). */
  private def ivfSplit(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    ivfSplitMemo((s, d))(ivfSplitBuild(s, d))

  private def ivfSplitBuild(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    graft.GraftExtensions.register(s)
    val (qv, _, a2, _) = lloyd(s, d)
    val deltaVec = ivfDeltaShard(qv)
      .select(col("new_id").as("vec_id"), col("dv").as("qv"))
    val allVec = qv.unionByName(deltaVec)
    val members = a2.select(col("vec_id"), col("cluster"))
      .unionByName(annIvfIncremental(s, d)
        .select(col("new_id").as("vec_id"), col("cluster")))
    val top3 = members.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_parent"))
      .orderBy(col("n_parent").desc, col("cluster").asc).limit(3)
    val tm = MemoUtil.scratch(members.join(broadcast(top3), "cluster")
      .join(allVec, "vec_id")
      .select(col("cluster"), col("vec_id"), col("qv"), col("n_parent"))
      .localCheckpoint())
    val seedA = tm.groupBy(col("cluster")).agg(min(col("vec_id")).as("a_id"))
    val dA = MemoUtil.scratch(tm.join(broadcast(seedA), "cluster")
      .join(allVec.select(col("vec_id").as("a_id"), col("qv").as("av")),
        "a_id")
      .select(col("cluster"), col("vec_id"), col("qv"), col("n_parent"),
        expr("squared_distance(qv, av)").as("d_a"))
      .localCheckpoint())
    val wB = Window.partitionBy(col("cluster"))
      .orderBy(col("d_a").desc, col("vec_id").asc)
    val seedB = dA.withColumn("rn", row_number().over(wB))
      .where(col("rn") === 1)
      .select(col("cluster"), col("vec_id").as("b_id"))
    // seeds/routed live on the MEMO lifecycle (dropped in
    // resetLloydMemo, like beam8Memo) — NOT per-query scratch, which
    // would unpersist them between the two ops that share this build
    val seeds = seedA.join(seedB, "cluster").localCheckpoint()
    val routed = dA.join(broadcast(seedB), "cluster")
      .join(allVec.select(col("vec_id").as("b_id"), col("qv").as("bv")),
        "b_id")
      .select(col("cluster"), col("vec_id"), col("n_parent"), col("d_a"),
        expr("squared_distance(qv, bv)").as("d_b"))
      .withColumn("subcell",
        when(col("d_a") <= col("d_b"), lit(0)).otherwise(lit(1)))
      .select(col("cluster"), col("vec_id"), col("n_parent"),
        col("subcell"))
      .localCheckpoint()
    (allVec, members, seeds, routed)
  }

  def annIvfRebalance(s: SparkSession, d: String): DataFrame = {
    val (_, _, _, routed) = ivfSplit(s, d)
    routed
      .groupBy(col("cluster"), col("subcell"), col("n_parent"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("vec_id")).cast("bigint").as("key_sum"))
      .select(col("cluster"), col("subcell"), col("n_members"),
        col("key_sum"), col("n_parent"))
  }

  // ── llm_ann_ivf_incremental_recall ────────────────────────────────────

  /** SERVING QUALITY OF THE MAINTAINED INDEX (VERDICT r14 task 1): the
    * incremental-ingest op proves the ROUTE is cheap; this row proves
    * the routed index still SERVES — the one claim a production vector
    * store must measure after every ingest wave. The GROWN inverted
    * file (base assignments ∪ the delta shard's no-retrain
    * assignments) is probed nprobe=2 over the post-ingest cells for a
    * mixed query set — 5 base vectors (vec_id < 5) AND 6 delta vectors
    * (the shard members with source id < 100) — and recall@3 is scored
    * against the exact brute top-3 over the grown corpus. Delta
    * vectors therefore face retrieval in BOTH directions: as queries
    * (a freshly ingested vector must find its neighborhood) and as
    * neighbors (the nudged source/copy pair sit ~10¹² apart on a
    * lattice whose typical inter-vector distance is ~6·10¹², so each
    * is the other's nearest neighbor — `twin_in_top3` audits exactly
    * that retrievability, NULL for queries with no twin). At 100 TB:
    * probes broadcast (11 queries × K centroids), candidates are an
    * equi-join on cell id against the grown inverted file
    * (nprobe·(N/K) per query), and the brute truth side is the
    * per-query-linear spot-check every recall row pays. */
  def annIvfIncrementalRecall(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val (qv, _, a2, _) = lloyd(s, d)
    val (cent, _) = ivfIndex(s, d)
    val delta = ivfDeltaShard(qv)
    val asg = ivfDeltaAssign(delta, cent)
    // grown corpus + grown inverted file (two readers each → one
    // checkpoint; qv itself is lloyd's checkpointed lattice)
    val gvec = MemoUtil.scratch(qv.select(col("vec_id"), col("qv"))
      .unionByName(delta.select(col("new_id").as("vec_id"),
        col("dv").as("qv")))
      .localCheckpoint())
    val ginv = a2.select(col("vec_id"), col("cluster"))
      .unionByName(asg.select(col("new_id").as("vec_id"), col("cluster")))
    val isQ = col("vec_id") < 5 ||
      (col("vec_id") >= 1000000L && col("vec_id") < 1000100L)
    val q = gvec.where(isQ)
      .select(col("vec_id").as("qid"), col("qv").as("qq"))
    val ivf3 = MemoUtil.scratch(topK(gvec.join(ginv, "vec_id")
      .join(broadcast(probes(q, cent, 2)), "cluster")
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        expr("squared_distance(qv, qq)").as("dist")), 3)
      .select(col("qid"), col("cand_id"))
      .localCheckpoint())
    // twin audit: the delta copy of a base query / the source of a
    // delta query, served or not (NULL when the query has no twin)
    val twinOf = when(col("qid") >= 1000000L, col("qid") - 1000000L)
      .when(col("qid") % 17 === 3, col("qid") + 1000000L)
    val tw = ivf3.groupBy(col("qid"))
      .agg(max(when(col("cand_id") === twinOf, 1).otherwise(0))
        .cast("int").as("tw_raw"))
    recall(exact(gvec, q), ivf3)
      .join(tw, "qid")
      .select(col("qid"), col("n_hit"), recallAt3,
        when(twinOf.isNotNull, col("tw_raw")).as("twin_in_top3"))
  }

  // ── llm_ann_ivf_rebalance_recall ──────────────────────────────────────

  /** POST-REBALANCE ROUTING (VERDICT r14 task 1, second half): after
    * the heaviest-3 cells split, their members must still be FOUND —
    * through the new sub-cells, under the same nprobe=2 budget. The
    * post-split index replaces each split cell with two seed-centered
    * sub-cells (coarse centroid = the 2-means seed vector; unsplit
    * cells keep their trained centroid; cell keys are
    * cluster·4 / cluster·4+1+subcell so the probe tie-break stays a
    * total order) and re-homes the membership accordingly. Queries are
    * the min-id member of EACH sub-cell — split-cell residents by
    * construction, the exact ids a broken split would orphan — scored
    * recall@3 against the brute truth over the grown corpus. At 100 TB
    * the probe set stays K+3 broadcast rows and candidates stay an
    * equi-join on cell id; the query side is the ≤6-row audit sample a
    * rebalance job re-checks before committing its new centroids. */
  def annIvfRebalanceRecall(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val (allVecRaw, members, seeds, routed) = ivfSplit(s, d)
    val allVec = MemoUtil.scratch(allVecRaw.localCheckpoint())
    val (_, _, _, c2) = lloyd(s, d)
    val splitC = routed.select(col("cluster")).distinct()
    val unsplitCells = centroidArrays(c2)
      .select(col("cid").as("cluster"), col("cv"))
      .join(splitC, Seq("cluster"), "left_anti")
      .select((col("cluster").cast("long") * 4).as("cell"), col("cv"))
    val seedCells = seeds
      .select(col("cluster"), col("a_id").as("sid"), lit(0).as("subcell"))
      .unionByName(seeds.select(col("cluster"), col("b_id").as("sid"),
        lit(1).as("subcell")))
      .join(allVec.select(col("vec_id").as("sid"), col("qv").as("cv")),
        "sid")
      .select((col("cluster").cast("long") * 4 + 1 +
        col("subcell").cast("long")).as("cell"), col("cv"))
    val cells = MemoUtil.scratch(
      unsplitCells.unionByName(seedCells).localCheckpoint())
    val unsplitMem = members.join(splitC, Seq("cluster"), "left_anti")
      .select(col("vec_id"), (col("cluster").cast("long") * 4).as("cell"))
    val splitMem = routed.select(col("vec_id"),
      (col("cluster").cast("long") * 4 + 1 +
        col("subcell").cast("long")).as("cell"))
    val memAll = unsplitMem.unionByName(splitMem)
    val q = MemoUtil.scratch(routed.groupBy(col("cluster"), col("subcell"))
      .agg(min(col("vec_id")).as("qid"))
      .join(allVec.select(col("vec_id").as("qid"), col("qv").as("qq")),
        "qid")
      .select(col("qid"), col("qq"), col("cluster").as("parent_cluster"),
        col("subcell"))
      .localCheckpoint())
    val qq = q.select(col("qid"), col("qq"))
    val ivf3 = topK(allVec.join(memAll, "vec_id")
      .join(broadcast(probes(qq, cells, 2, "cell")), "cell")
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        expr("squared_distance(qv, qq)").as("dist")), 3)
      .select(col("qid"), col("cand_id"))
    recall(exact(allVec, qq), ivf3)
      .join(q.select(col("qid"), col("parent_cluster"), col("subcell")),
        "qid")
      .select(col("qid"), col("parent_cluster"), col("subcell"),
        col("n_hit"), recallAt3)
  }

  // ── llm_ann_ivf_delete ────────────────────────────────────────────────

  /** VECTOR DELETE — the missing fourth leg of the maintenance family
    * (VERDICT r14 task 2, the GDPR/unlearning shape): a deterministic
    * key slice (vec_id ≡ 5 mod 23) is TOMBSTONED, not rewritten — the
    * inverted file keeps its postings and searches anti-join the
    * delete sidecar at serving time, exactly the lakehouse
    * equality-delete discipline (sink_merge_mor's MOR read path,
    * applied to vector postings). Centroids do NOT move (a tombstone
    * never retrains the quantizer — the physical sweep belongs to the
    * next rebalance/compaction, spec-pinned: folding the sidecar
    * empties it and re-filtering removes zero rows). Output per query:
    * recall@3 against the brute truth over SURVIVORS, plus
    * `n_excluded` — the tombstoned postings the probed cells would
    * have served, the rows the anti-join suppressed. Deleted ids
    * provably never surface (spec-asserted over every top-k). At
    * 100 TB: the sidecar is a key-slice broadcast; the serving
    * anti-join rides the existing cell-keyed candidate join; nothing
    * rescans or rewrites the index between sweeps. */
  /** The serving pieces behind llm_ann_ivf_delete — package-private so
    * the spec asserts tombstone absence on the actual SERVED lists:
    * (served top-3 (qid, cand_id), per-query excluded-posting audit). */
  private[graft] def ivfDeleteParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    graft.GraftExtensions.register(s)
    val (qvec, _, _, _) = lloyd(s, d)
    val (cent, invFile) = ivfIndex(s, d)
    val probe = probes(evalQueries(qvec), cent, 2)
    val surv = invFile.where(col("vec_id") % 23 =!= 5)
    val d3 = topK(qvec.join(surv.select(col("vec_id"), col("cluster")),
        "vec_id")
      .join(broadcast(probe), "cluster")
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        expr("squared_distance(qv, qq)").as("dist")), 3)
      .select(col("qid"), col("cand_id"))
    val excl = invFile.where(col("vec_id") % 23 === 5)
      .join(broadcast(probe.select(col("qid"), col("cluster"))),
        "cluster")
      .where(col("vec_id") =!= col("qid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_excluded"))
    (d3, excl)
  }

  def annIvfDelete(s: SparkSession, d: String): DataFrame = {
    val (d3, excl) = ivfDeleteParts(s, d)
    val (qvec, _, _, _) = lloyd(s, d)
    recall(exact(qvec.where(col("vec_id") % 23 =!= 5), evalQueries(qvec)), d3)
      .join(excl, Seq("qid"), "left")
      .select(col("qid"), col("n_hit"), recallAt3,
        coalesce(col("n_excluded"), lit(0L)).as("n_excluded"))
  }

  // ── llm_ann_index_persisted ───────────────────────────────────────────

  /** THE VECTOR INDEX AS A TABLE — the whole maintenance story
    * persisted to DISK under the repo's lakehouse commit discipline
    * (r15; closes the "the index artifact is memoized in-JVM" gap): a
    * versioned index STORE whose TableLog head (README "Stores")
    * names the posting dirs and delete sidecars a reader serves from —
    * exactly how Milvus/Lance/an Iceberg-backed vector table commits.
    *
    *   v1  centroids/ + postings/ + vectors/        (the trained build)
    *   v2  + postings_d1/ + vectors_d1/             (the delta commit —
    *        no-retrain assignments, appended, never rewriting v1 files)
    *   v3  + deletes/                               (the tombstone
    *        commit — a SIDECAR, postings untouched)
    *   v4  postings2/ (= (postings ∪ d1) ∖ deletes) (the compaction
    *        SWEEP — sidecar folded, flip drops the delete dirs)
    *
    * The op SERVES twice — against the pre-sweep head (anti-joining the
    * sidecar at read time, the MOR shape) and against the post-sweep
    * head (plain scans, the COW result) — and emits both phases:
    * row-identical output IS the sweep-correctness proof, and the
    * DuckDB oracle replays one serving and expects it twice. Queries
    * and candidate vectors come from the STORE's own vector files (a
    * real store owns its vectors), never the source parquet. At
    * 100 TB: every commit is an append or a sidecar plus one atomic
    * pointer flip; the sweep cost is one pass over live postings;
    * serving reads are cell-keyed equi-joins against disk postings —
    * the serving economics of llm_ann_ivf_kmeans unchanged. */
  /** Once-per-JVM staged v1 IVF artifact (centroids / postings /
    * vectors parquet dirs) — the template ivfStoreDir and every
    * sink_stream_vector invocation file-copy instead of re-running the
    * same three Spark writes (r17, the graphV1Template twin). */
  private def ivfV1Template(s: SparkSession, d: String): String = {
    graft.GraftExtensions.register(s)
    StageUtil.staged("ivfv1", d) { base =>
      val (qv, _, a2, c2) = lloyd(s, d)
      c2.write.parquet(s"$base/centroids")
      a2.select(col("vec_id"), col("cluster"))
        .write.parquet(s"$base/postings")
      qv.select(col("vec_id"), col("qv")).write.parquet(s"$base/vectors")
    }
  }

  /** Instantiate a store at `dst` as a file copy of every dataset dir
    * of a staged v1 template (ivfV1Template, graphV1Template). */
  private def copyTemplate(tpl: String, dst: String): Unit =
    new java.io.File(tpl).listFiles().filter(_.isDirectory).foreach { sub =>
      StageUtil.copyDir(sub.toPath, java.nio.file.Paths.get(dst, sub.getName))
    }

  private[graft] def ivfStoreDir(s: SparkSession, d: String): String = {
    graft.GraftExtensions.register(s)
    StageUtil.staged("ivfstore", d) { base =>
      val (qv, _, a2, _) = lloyd(s, d)
      // v1: the trained artifact (file-copied from the per-JVM template)
      copyTemplate(ivfV1Template(s, d), base)
      TableLog.publish(base, "postings;vectors;")
      // v2: the delta commit — appended dirs, v1 files untouched
      val (cent, _) = ivfIndex(s, d)
      val delta = ivfDeltaShard(qv)
      ivfDeltaAssign(delta, cent)
        .select(col("new_id").as("vec_id"), col("cluster"))
        .write.parquet(s"$base/postings_d1")
      delta.select(col("new_id").as("vec_id"), col("dv").as("qv"))
        .write.parquet(s"$base/vectors_d1")
      TableLog.publish(base, "postings,postings_d1;vectors,vectors_d1;")
      // v3: the tombstone commit — a sidecar, postings untouched
      a2.select(col("vec_id")).where(col("vec_id") % 23 === 5)
        .write.parquet(s"$base/deletes")
      TableLog.publish(base, "postings,postings_d1;vectors,vectors_d1;deletes")
    }
  }

  /** A store head payload — `;`-separated segments, each a
    * `,`-separated dir list — as its first n segments (absent ones
    * empty). Shared by the IVF and graph stores. */
  private[graft] def headSegments(payload: String, n: Int): Seq[Seq[String]] = {
    val parts = payload.split(';')
    Seq.tabulate(n)(i => parts.lift(i).toSeq.flatMap(_.split(',')).filter(_.nonEmpty))
  }

  /** The union of a head segment's dataset dirs under the store `dir`. */
  private def storeRead(s: SparkSession, dir: String,
                        ps: Seq[String]): DataFrame =
    ps.map(p => Tables.read(s, s"$dir/$p")).reduce(_ unionByName _)

  /** head = "postDirs;vecDirs;delDirs" (comma-separated each). */
  private[graft] def ivfStoreHead(dir: String)
      : (Seq[String], Seq[String], Seq[String]) = {
    val Seq(posts, vecs, dels) = headSegments(TableLog.head(dir), 3)
    (posts, vecs, dels)
  }

  /** The compaction sweep: fold live postings minus tombstones into
    * postings2/, flip the head to drop the sidecar. Idempotent — an
    * already-swept head (no delete dirs) is a no-op. */
  private[graft] def ivfStoreSweep(s: SparkSession, dir: String): Unit = {
    val (posts, vecs, dels) = ivfStoreHead(dir)
    if (dels.nonEmpty) {
      storeRead(s, dir, posts).join(storeRead(s, dir, dels), Seq("vec_id"), "left_anti")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/postings2")
      TableLog.publish(dir, s"postings2;${vecs.mkString(",")};")
    }
  }

  /** One head-resolved serving pass: probes nprobe=2 against the disk
    * centroids, candidates from the head's postings anti-joined with
    * its delete sidecars, recall@3 vs exact truth over the live
    * vectors. Everything reads THE STORE — no source parquet. */
  private def ivfStoreServe(s: SparkSession, dir: String): DataFrame =
    ivfStoreServeHead(s, dir, TableLog.head(dir))

  /** Head-resolved IVF serve, memoized per (session, dir, RAW head
    * string) and eagerly checkpointed inside the build (r17): asof's
    * logged v3/v4 serves and index_persisted's pre/post phases resolve
    * overlapping heads — each distinct head now pays its probe + truth
    * chain once per bench pass. The eager checkpoint also preserves the
    * pre-sweep-reads-the-sidecar guarantee the per-call checkpoints
    * used to provide. */
  private def ivfStoreServeHead(s: SparkSession, dir: String,
      headRaw: String): DataFrame =
      ivfServeMemo((s, dir, headRaw)) {
    ivfStoreServeHeadBuild(s, dir, headRaw).localCheckpoint()
  }

  private def ivfStoreServeHeadBuild(s: SparkSession, dir: String,
      headRaw: String): DataFrame = {
    val Seq(posts, vecDirs, dels) = headSegments(headRaw, 3)
    val inv0 = storeRead(s, dir, posts)
    val inv = if (dels.isEmpty) inv0
      else inv0.join(storeRead(s, dir, dels), Seq("vec_id"), "left_anti")
    val vecsAll = storeRead(s, dir, vecDirs)
    // live vectors: a store's vector files are swept lazily — liveness
    // is defined by the postings, so truth anti-joins the same sidecar
    val live = if (dels.isEmpty)
        vecsAll.join(inv0.select(col("vec_id")), Seq("vec_id"), "left_semi")
      else vecsAll.join(inv.select(col("vec_id")), Seq("vec_id"),
        "left_semi")
    val cents = centroidArrays(Tables.read(s, s"$dir/centroids"))
      .select(col("cid").as("cluster"), col("cv"))
    val q = evalQueries(vecsAll)
    val ivf3 = topK(vecsAll.join(inv, "vec_id")
      .join(broadcast(probes(q, cents, 2)), "cluster")
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        expr("squared_distance(qv, qq)").as("dist")), 3)
      .select(col("qid"), col("cand_id"))
    recall(exact(live, q), ivf3).select(col("qid"), col("n_hit"), recallAt3)
  }

  /** TIME TRAVEL over the index store (r16; closes the r15 nit "the
    * store keeps no commit LOG, so it cannot answer 'serve as of
    * v2'"): every store commit is a TableLog publish, logged before
    * the head flips — scan_time_travel's versions
    * discipline applied to the vector index — and this op serves the
    * SAME query set through EVERY logged version: v1 the trained base
    * (delta vectors absent from the corpus and the truth), v2 the
    * grown index, v3 the MOR view (sidecar anti-joined), v4 the swept
    * head. v3 ≡ v4 row-for-row is the sweep proof replayed through the
    * log; v1 vs v2 makes the ingest VISIBLE in history. At 100 TB the
    * resolution is a |commits|-row driver read; each serve keeps the
    * store's cell-keyed economics — old versions cost the same to
    * serve as the head, which is the point of immutable commits. */
  def annStoreAsof(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val dir = ivfStoreDir(s, d)
    ivfStoreSweep(s, dir) // idempotent: ensures the v4 entry is logged
    TableLog.versions(dir).map { case (v, head) =>
      ivfStoreServeHead(s, dir, head)
        .select(lit(v.toInt).as("version"), col("qid"), col("n_hit"),
          col("recall_at_3"))
    }.reduce(_ unionByName _)
  }

  def annIndexPersisted(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val dir = ivfStoreDir(s, d)
    // serve BEFORE the sweep (MOR read: sidecar anti-joined), then
    // sweep, then serve the swept head (plain scans) — equal rows are
    // the sweep-correctness proof (on a replayed invocation the store
    // is already swept and both phases read the same — still equal)
    // materialized BEFORE the sweep flips the head (inside the
    // head-keyed serve memo) — the pre phase genuinely reads the
    // sidecar'd artifacts
    val pre = ivfStoreServe(s, dir)
      .select(lit("pre_sweep").as("phase"), col("qid"), col("n_hit"),
        col("recall_at_3"))
    ivfStoreSweep(s, dir)
    val post = ivfStoreServe(s, dir)
      .select(lit("post_sweep").as("phase"), col("qid"), col("n_hit"),
        col("recall_at_3"))
    pre.unionByName(post)
  }

  // ── sink_stream_vector (helpers; the op registers in StreamIO) ───────

  /** STREAMING MAINTENANCE OF THE PERSISTED VECTOR STORE (VERDICT r15
    * task 5 — "the streaming and vector-store stories don't compose"):
    * a foreachBatch consumer folds each micro-batch of new embeddings
    * into the `_HEAD`-versioned IVF store as a DELTA COMMIT — the
    * continuous-ingest shape every production vector DB runs. Per
    * batch: assignment against the PERSISTED centroids (the
    * no-retrain ivfDeltaAssign pass, O(|batch|·K) broadcast folds),
    * vectors_sN + postings_sN appended (v1 files never rewritten),
    * one head flip — a TableLog batch commit, replay-idempotent
    * (README "Stores"; postings' _SUCCESS marks the generation, and
    * vectors land before postings, so a marker implies complete data). The
    * drained store must serve the same top-3 as a batch rebuild of the
    * same corpus — exactly what the DuckDB oracle replays. */
  private[graft] def streamVectorStoreInit(s: SparkSession, d: String,
                                           dir: String): Unit = {
    graft.GraftExtensions.register(s)
    // fresh store = file copy of the per-JVM v1 template (r17) — the
    // identical artifact the three Spark writes produced per invocation
    copyTemplate(ivfV1Template(s, d), dir)
    TableLog.publish(dir, "postings;vectors;")
  }

  /** The ingest topic: the deterministic delta shard split into two
    * parity files — two REAL offset-tracked micro-batches under
    * maxFilesPerTrigger=1. Staged once per JVM. */
  private[graft] def streamVectorTopic(s: SparkSession, d: String): String = {
    graft.GraftExtensions.register(s)
    stageDeltaTopic("vecstream", d)(ivfDeltaShard(lloyd(s, d)._1))
  }

  /** Stage a (new_id, dv) delta shard once per JVM as a two-file topic:
    * the even and odd new_id halves, one parquet file each, so a
    * maxFilesPerTrigger=1 stream reads it as two micro-batches. Returns
    * the topic dir. */
  private def stageDeltaTopic(prefix: String, d: String)
                             (delta: => DataFrame): String =
    StageUtil.staged(prefix, d) { base =>
      val shard = delta
      Seq(0, 1).foreach { b =>
        shard.where(col("new_id") % 2 === b).coalesce(1)
          .write.parquet(s"$base/b$b")
        StageUtil.stageTopic(java.nio.file.Paths.get(base, s"b$b"),
          java.nio.file.Paths.get(base, "topic"), s"d$b")
      }
    } + "/topic"

  /** One micro-batch's delta commit into the store at `dir`. */
  private[graft] def streamVectorCommit(s: SparkSession, dir: String,
                                        batch: DataFrame, id: Long): Unit = {
    val pGen = s"postings_s$id"
    val vGen = s"vectors_s$id"
    def adopt(head: String): Option[String] = {
      val Seq(posts, vecs, _) = headSegments(head, 3)
      Option.when(!posts.contains(pGen))(
        s"${(posts :+ pGen).mkString(",")};${(vecs :+ vGen).mkString(",")};")
    }
    // a replay re-issues the flip of a written generation (README
    // "Stores"), never rewrites it
    TableLog.commitBatch(dir, pGen, adopt) { _ =>
      if (!batch.isEmpty) {
        val cents = centroidArrays(Tables.read(s, s"$dir/centroids"))
          .select(col("cid").as("cluster"), col("cv"))
        val delta = batch.select(col("new_id"), col("dv"))
        // vectors FIRST, postings second: postings' _SUCCESS is the
        // replay marker, so its existence implies the vectors landed.
        // Overwrite, not ErrorIfExists (ADVICE r16): a crash after the
        // vectors write starts but before postings' _SUCCESS lands
        // leaves a partial vectors_sN dir with no marker — the replayed
        // batch takes this branch again and must be able to REDO the
        // generation, not fail permanently on 'path already exists'
        delta.select(col("new_id").as("vec_id"), col("dv").as("qv"))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$vGen")
        ivfDeltaAssign(delta, cents)
          .select(col("new_id").as("vec_id"), col("cluster"))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$pGen")
      }
    }
  }

  /** Head-resolved top-3 serving over the drained store: nprobe=2
    * against the disk centroids, candidates from the union postings —
    * the readout the oracle replays as a batch rebuild. */
  private[graft] def streamVectorServe(s: SparkSession,
                                       dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val (posts, vecDirs, _) = ivfStoreHead(dir)
    val inv = storeRead(s, dir, posts)
    val vecsAll = MemoUtil.scratch(storeRead(s, dir, vecDirs).localCheckpoint())
    val cents = centroidArrays(Tables.read(s, s"$dir/centroids"))
      .select(col("cid").as("cluster"), col("cv"))
    topK(vecsAll.join(inv, "vec_id")
      .join(broadcast(probes(evalQueries(vecsAll), cents, 2)), "cluster")
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        expr("squared_distance(qv, qq)").as("dist")), 3, "rank")
      .select(col("qid"), col("rank"), col("cand_id"))
  }

  /** The batch-rebuild replay of the streamed store (referenced from
    * StreamIO's oracle map): base inverted file ∪ the delta assigned
    * against the SAME centroids, nprobe=2 serving, top-3 — streaming
    * ingestion changes commit granularity, never serving results. */
  private[graft] lazy val streamVectorOracle: String =
    lloydCtes + annIvfCtes + """,
      |delta AS MATERIALIZED (
      |  SELECT vec_id + 1000000 AS new_id, dim,
      |    q + CASE WHEN dim = 0 THEN 1000 ELSE 0 END AS q
      |  FROM dims WHERE vec_id % 17 = 3),
      |dcent AS (
      |  SELECT delta.new_id, c2.cluster,
      |    CAST(sum((delta.q - c2.c) * (delta.q - c2.c)) AS BIGINT)
      |      AS cdist
      |  FROM delta JOIN c2 USING (dim) GROUP BY 1, 2),
      |asg AS MATERIALIZED (
      |  SELECT new_id, cluster FROM (
      |    SELECT new_id, cluster, row_number() OVER (
      |      PARTITION BY new_id ORDER BY cdist ASC, cluster ASC) AS rn
      |    FROM dcent) WHERE rn = 1),
      |gdims AS MATERIALIZED (
      |  SELECT vec_id, dim, q FROM dims
      |  UNION ALL SELECT new_id, dim, q FROM delta),
      |ginv AS MATERIALIZED (
      |  SELECT vec_id, cluster FROM a2
      |  UNION ALL SELECT new_id AS vec_id, cluster FROM asg),
      |qp AS (
      |  SELECT g.vec_id AS qid, c2.cluster,
      |    sum((g.q - c2.c) * (g.q - c2.c)) AS cdist
      |  FROM gdims g JOIN c2 USING (dim)
      |  WHERE g.vec_id < 10 GROUP BY 1, 2),
      |pp AS (
      |  SELECT qid, cluster FROM (
      |    SELECT qid, cluster, row_number() OVER (PARTITION BY qid
      |      ORDER BY cdist ASC, cluster ASC) AS rn FROM qp)
      |  WHERE rn <= 2),
      |cnd AS (
      |  SELECT p.qid, gi.vec_id AS cand_id,
      |    CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS dist
      |  FROM pp p
      |  JOIN ginv gi ON gi.cluster = p.cluster AND gi.vec_id != p.qid
      |  JOIN gdims dq ON dq.vec_id = p.qid
      |  JOIN gdims dc ON dc.vec_id = gi.vec_id AND dc.dim = dq.dim
      |  GROUP BY 1, 2)
      |SELECT qid, CAST(rn AS INT) AS rank, cand_id FROM (
      |  SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
      |    ORDER BY dist ASC, cand_id ASC) AS rn FROM cnd)
      |WHERE rn <= 3""".stripMargin

  // ── llm_ann_recall ────────────────────────────────────────────────────

  /** ANN quality evaluation as a first-class operator: recall@3 of the
    * learned-quantizer IVF (annIvfKmeans) against the exact brute-force
    * top-3 — the measurement that justifies an approximate index before
    * pointing it at a corpus. The exact side is the shared `exactQTop3`
    * memo (the 10 query vectors broadcast over the quantized corpus,
    * N·10 integer distance folds — the documented brute-force baseline
    * shape, paid once for every recall row on the lattice); the IVF
    * side reuses the shared Lloyd memo. Distances, ranks, and hit
    * counts are exact integers; recall is the only division and rounds
    * once. At 100 TB this runs
    * over a sampled query set exactly as written — the brute-force side
    * is per-query linear, which is what makes spot-check evaluation
    * affordable while the index serves the full load. */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val ivf3 = annIvfKmeans(s, d).select(col("qid"), col("cand_id"))
    recall(exactQTop3(s, d), ivf3).select(col("qid"), col("n_hit"), recallAt3)
  }

  /** Recall-vs-nprobe SWEEP — the tuning curve behind llm_ann_recall's
    * single point (an IVF deployment picks nprobe by exactly this
    * measurement: recall@3 and candidate-evaluation cost at nprobe ∈
    * {1, 2, 4}): probe ranks are computed ONCE over all K centroids,
    * the candidate distances once over the nprobe=4 superset (then
    * checkpointed — each sweep level filters and re-ranks the
    * materialized rows instead of re-joining the corpus), and each
    * level reports exact hit counts against the exact top-3 plus its
    * exact candidate count — the cost the extra recall buys, made a
    * number. Monotonicity (recall and cost both non-decreasing in
    * nprobe) is spec-asserted.
    *
    * At-scale: identical economics to llm_ann_ivf_kmeans with nprobe=4
    * — per-query work ≈ 4·(N/K) — plus the brute exact side that every
    * recall evaluation pays on its sampled query set (the shared
    * `exactQTop3` memo). */
  def annRecallSweep(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val (qvec, _, a2, c2) = lloyd(s, d)
    val cent = centroidArrays(c2).select(col("cid").as("cluster"), col("cv"))
    val cands = MemoUtil.scratch(qvec.join(a2, "vec_id")
      .join(broadcast(probes(evalQueries(qvec), cent, 4)), "cluster")
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"), col("pr"),
        expr("squared_distance(qv, qq)").as("dist"))
      .localCheckpoint())
    val exact3 = exactQTop3(s, d)
    Seq(1, 2, 4).map { np =>
      val ivf3 = topK(cands.where(col("pr") <= np), 3, "rank")
        .select(col("qid"), col("cand_id"))
      val nCand = cands.where(col("pr") <= np)
        .agg(count(lit(1)).as("n_candidates"))
      hits(exact3, ivf3)
        .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(nCand))
        .select(lit(np).as("nprobe"), col("n_hits"), col("n_truth"),
          expr("n_hits * 10000L div n_truth").as("recall_bp"),
          col("n_candidates"))
    }.reduce(_.union(_))
  }

  // ── llm_ann_filtered ──────────────────────────────────────────────────

  /** FILTERED ANN — top-k under a metadata predicate (label = 3, ~10 %
    * selective), the production retrieval shape every vector store must
    * answer ("nearest docs IN this language / tenant / date range").
    * Both standard strategies run against ONE shared candidate pass and
    * are scored against the exact FILTERED brute top-3:
    *
    *  - `prefilter`: the predicate pushes BELOW the rank — top-3 among
    *    the probed cells' label-3 candidates. Recall tracks the
    *    unfiltered index (the filtered truth lives in the same cells);
    *    cost is the same cell scan with a cheap residual predicate.
    *  - `postfilter`: rank first (3× overfetch, top-9 unfiltered),
    *    filter after — what a filter-blind index forces. At 10 %
    *    selectivity the expected filtered yield of 9 candidates is ~1,
    *    so the strategy returns SHORT lists and recall collapses; the
    *    overfetch needed to fix it (~k/selectivity) is the measured
    *    argument for filter-aware indexes at 100 TB.
    *
    * Per (strategy, qid): returned count, hits vs filtered truth, truth
    * size, recall in exact basis points. Provable per-qid invariants
    * (spec-pinned): postfilter's returned set is a PREFIX of
    * prefilter's (same order key, subset pool), so pre n_hit ≥ post
    * n_hit and pre n_ret ≥ post n_ret. Cells, distances, ranks and
    * tie-breaks are the shared exact-integer Lloyd lattice, so DuckDB
    * replays the whole comparison. */
  def annFiltered(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val (qvec, _, a2, c2) = lloyd(s, d)
    val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val cent = centroidArrays(c2).select(col("cid").as("cluster"), col("cv"))
    // one candidate pass over the probed cells, label attached — both
    // strategies re-rank these materialized rows
    val cand = MemoUtil.scratch(qvec.join(a2, "vec_id")
      .join(labels, "vec_id")
      .join(broadcast(probes(evalQueries(qvec), cent, 2)), "cluster")
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"), col("label"),
        expr("squared_distance(qv, qq)").as("dist"))
      .localCheckpoint())
    val pre = topK(cand.where(col("label") === 3), 3)
      .select(lit("prefilter").as("strategy"), col("qid"), col("cand_id"))
    val post = topK(topK(cand, 9).where(col("label") === 3), 3, "rn2")
      .select(lit("postfilter").as("strategy"), col("qid"), col("cand_id"))
    // exact FILTERED brute truth: 10 broadcast queries × one corpus pass
    val ex3 = exact(qvec.join(labels, "vec_id").where(col("label") === 3),
      evalQueries(qvec))
    filtered(pre.unionByName(post), ex3, "prefilter", "postfilter")
  }

  // ── llm_kmeans_twolevel ───────────────────────────────────────────────

  /** Two-level coarse quantizer AGREEMENT EVALUATION. Since round 7 the
    * hierarchical assign is llm_kmeans's own path (lloydBuild), so this
    * op's job is the measurement that justifies it: replay the
    * hierarchy once more on the final round-2 lattice and score it
    * against the brute argmin — the only place the brute evaluator
    * still runs. Mechanics:
    * the K round-2 fine centroids are themselves clustered into
    * K₁ = max(2, ⌊√K⌋) supercells by a mini-Lloyd over just K rows
    * (seed = first K₁ fine cells, one recenter, reassign — the identical
    * integer lattice discipline as the corpus-level Lloyd), and each
    * point then assigns hierarchically: nearest supercell first (K₁
    * distance folds), exact argmin over only that supercell's fine cells
    * second (≈K/K₁ folds). Per-point work drops from K to K₁ + |cell|
    * ≈ 2√K — the FAISS IMI / IVF-HNSW recipe — while every distance,
    * recenter, and tie-break stays exact BIGINT so DuckDB replays the
    * identical hierarchy.
    *
    * The output is the evaluation that justifies the substitution: per
    * supercell, how many points the hierarchical assignment routes
    * identically to the brute-force argmin over all K fine cells
    * (agreement is the quantizer-quality analogue of llm_ann_recall),
    * plus the exact distance-evaluation counts both ways. Disagreements
    * are points near supercell boundaries — the accepted IMI
    * approximation, made visible as a number instead of a caveat.
    *
    * Scale shape: both centroid tables broadcast (K and K₁ rows); the
    * per-point phases are map-side folds over broadcast arrays feeding
    * one hash aggregate each — no shuffle grows with K. At 100 TB the
    * brute comparison side runs on a sampled slice exactly like
    * llm_ann_recall's exact side; here the fixture is small enough to
    * score every point. */
  def kmeansTwoLevel(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val (qv, _, _, c2) = lloyd(s, d)
    val k = kFor(Tables.embeddings(s, d).count())
    val k1 = math.max(2L, math.floor(math.sqrt(k.toDouble)).toLong)
    // round-2 fine centroids come from the shared memo (identical
    // lattice to llm_kmeans's report and annIvfKmeans's inverted file),
    // used in both forms: per-dim rows for the mini-Lloyd recenter,
    // sorted arrays for the distance folds. The K-row array table is
    // checkpointed — it has four readers below (mini-Lloyd seed/assign
    // ×2, point fine phase, brute phase).
    val fine = MemoUtil.scratch(centroidArrays(c2).localCheckpoint())
    // mini-Lloyd over the K fine-centroid vectors: seed supercells from
    // the K₁ smallest fine cids, recenter once, reassign — K·K₁ integer
    // folds total, trivial at any corpus size because K rows broadcast
    val superSeeds = fine.select(col("cid"),
        (row_number().over(Window.orderBy(col("cid"))) - 1).as("scid"))
      .where(col("scid") < k1)
    val sc0 = c2.join(broadcast(superSeeds), "cid")
      .select(col("scid").as("cid"), col("dim"), col("c"))
    def assignFine(superCent: DataFrame): DataFrame =
      fine.crossJoin(broadcast(centroidArrays(superCent)
          .select(col("cid").as("scid"), col("cv").as("sv"))))
        .select(col("cid"), col("scid"),
          expr("squared_distance(cv, sv)").as("dist"))
        .groupBy(col("cid"))
        .agg(min(struct(col("dist"), col("scid"))).as("m"))
        .select(col("cid"), col("m.scid").as("scid"))
    val f1 = assignFine(sc0)
    val s1 = c2.join(broadcast(f1), "cid")
      .groupBy(col("scid"), col("dim"))
      .agg(floor(sum(col("c")).cast("double") / count(lit(1))).cast("long")
        .as("c"))
      .select(col("scid").as("cid"), col("dim"), col("c"))
    val f2 = MemoUtil.scratch(assignFine(s1).localCheckpoint()) // fine cell → supercell map
    val superArr = centroidArrays(s1)
      .select(col("cid").as("scid"), col("cv").as("sv"))
    // phase 1: nearest supercell per point (K₁ folds each)
    val p1 = qv.crossJoin(broadcast(superArr))
      .select(col("vec_id"), col("qv"), col("scid"),
        expr("squared_distance(qv, sv)").as("dist"))
      .groupBy(col("vec_id"), col("qv"))
      .agg(min(struct(col("dist"), col("scid"))).as("m"))
      .select(col("vec_id"), col("qv"), col("m.scid").as("scid"))
    // phase 2: exact argmin over the chosen supercell's fine cells only
    val cells = fine.join(broadcast(f2), "cid")
    val tl = p1.join(broadcast(cells), "scid")
      .select(col("vec_id"), col("scid"), col("cid"),
        expr("squared_distance(qv, cv)").as("dist"))
      .groupBy(col("vec_id"), col("scid"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"),
        count(lit(1)).as("n_probed"))
      .select(col("vec_id"), col("scid"), col("m.cid").as("tl_cluster"),
        col("n_probed"))
    // brute argmin over ALL K fine cells — the reference assignment the
    // hierarchy is scored against (a round-3 assign in lloyd's terms)
    val brute = qv.crossJoin(broadcast(fine))
      .select(col("vec_id"),
        expr("squared_distance(qv, cv)").as("dist"), col("cid"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("b_cluster"))
    tl.join(brute, "vec_id")
      .groupBy(col("scid"))
      .agg(count(lit(1)).as("n_points"),
        sum(when(col("tl_cluster") === col("b_cluster"), 1L).otherwise(0L))
          .as("n_agree"),
        (sum(col("n_probed")) + count(lit(1)) * lit(k1)).as("tl_evals"),
        (count(lit(1)) * lit(k)).as("brute_evals"))
      .join(f2.groupBy(col("scid")).agg(count(lit(1)).as("n_cells")), "scid")
      .select(col("scid"), col("n_cells"), col("n_points"), col("n_agree"),
        col("tl_evals"), col("brute_evals"),
        round(col("n_agree") / col("n_points").cast("double"), 4)
          .as("agree_frac"))
  }

  // ── llm_dedup_substring ───────────────────────────────────────────────

  /** Substring-level duplicate detection (the Lee et al. 2022 /
    * RefinedWeb pass that doc-level dedup misses): an 8-token gram is
    * DUPLICATED when it occurs more than once across the whole corpus
    * (within-doc repeats count); per document, duplicated gram positions
    * merge into maximal duplicated SPANS (two grams at p₁ < p₂ overlap
    * or touch iff p₂ ≤ p₁ + 8 — classic gaps-and-islands over the
    * position order), and the output reports span count, duplicated
    * token coverage, and the keep gate dup_tokens·2 ≤ n_tokens decided
    * on exact integers. Scale shape: one gram explode into a global
    * (gh, count) hash aggregate (map-side combined), a LEFT SEMI probe
    * back, and one per-doc window pass over duplicated positions only —
    * never over all grams. Grams carry xxhash64 longs, not strings
    * (8 bytes vs ~50 chars through both shuffles; the oracle keeps
    * string keys — collision odds are the dedup_near precedent). */
  def dedupSubstring(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val K = 8
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("t"))
    val base = toks.select(col("doc_id"), size(col("t")).as("n_tokens"))
    // (doc, position, gram-hash) — read twice (dup detection + probe) →
    // checkpoint once, the ≥2-reader rule
    val grams = MemoUtil.scratch(toks.where(size(col("t")) >= K)
      .select(col("doc_id"),
        posexplode(expr(s"xx_ngram_hashes(t, $K)")))
      .select(col("doc_id"), col("pos").as("p"), col("col").as("gh"))
      .localCheckpoint())
    val dup = grams.groupBy(col("gh")).agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select(col("gh"))
    val dp = grams.join(dup, Seq("gh"), "left_semi")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val spans = dp
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(w) > K, 1).otherwise(0))
      .withColumn("isl", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg((max(col("p")) - min(col("p")) + K).as("covered"),
        count(lit(1)).as("np"))
    val per = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("np")).as("n_dup_grams"),
        sum(col("covered")).as("dup_tokens"))
    base.join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(
            coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens").cast("double"), 4))
          .as("frac_dup"),
        (coalesce(col("dup_tokens"), lit(0L)) * 2 <= col("n_tokens"))
          .as("keep"))
  }

  // ── llm_gram_matrix ───────────────────────────────────────────────────

  /** Exact integer Gram matrix + column sums over the embedding corpus —
    * the one-pass sufficient statistics for covariance/PCA prep
    * (cov_ij = (gram − s_i·s_j/n)/n, normalized downstream in whatever
    * precision the consumer wants; the ENGINE output stays exact BIGINT
    * so the gate never meets a rounded quotient). Embeddings quantize to
    * 10³ (|q| ≤ 600 ⇒ products ≤ 3.6·10⁵ — the running sum is long-safe
    * past 10¹² rows). The whole computation is ONE typed-Aggregator pass
    * (graft.functions.GramMatrixLong): each partition folds its rows
    * into a single flat D²+D+1 buffer map-side (tight j ≥ i JVM loop, no
    * allocation) and the shuffle carries |partitions| 33 KB buffers —
    * the per-dimension-pair explode alternative would shuffle N·D²/2
    * rows (~41 G at sf0.1×10³). Output is the upper triangle as (i, j,
    * s_i, s_j, gram, n) rows. */
  def gramMatrix(s: SparkSession, d: String): DataFrame = {
    val gram = udaf(graft.functions.GramMatrixLong)
    Tables.embeddings(s, d)
      .select(expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))")
        .as("q"))
      .agg(gram(col("q")).as("g"))
      .select(col("g._3").as("n"), col("g._2").as("sums"),
        posexplode(col("g._1")))
      .select(col("n"), col("sums"),
        expr("pos div 64").as("i"), expr("cast(pos % 64 as bigint)").as("j"),
        col("col").as("gram"))
      .where(col("j") >= col("i"))
      .select(col("i"), col("j"),
        expr("element_at(sums, cast(i + 1 as int))").as("s_i"),
        expr("element_at(sums, cast(j + 1 as int))").as("s_j"),
        col("gram"), col("n"))
  }

  // ── llm_pca_power ─────────────────────────────────────────────────────

  /** Deterministic power iteration on the EXACT covariance sufficient
    * statistics — the PCA step llm_gram_matrix's one-pass aggregator
    * exists to feed: M = n·G − s·sᵀ (the n²-scaled covariance, exact
    * BIGINT from the distributed gram/sum/count statistics), then 3
    * power rounds toward the dominant eigenvector — the top principal
    * direction of the embedding cloud (whitening, drift axes, and
    * low-rank compression all start here). The iteration runs
    * DRIVER-SIDE on the D×D matrix (D² = 4096 values, bounded by
    * construction, independent of corpus size — the llm_kmeans K-row
    * mini-Lloyd precedent); the corpus-sized work is the one gram
    * pass. Integer lattice: v normalizes to L∞ = 10³ per round with a
    * SIGN-PRESERVING truncating division (sign(w)·(|w|·10³ div max|w|)
    * — floor and truncation disagree on negatives, so both engines use
    * the same nonnegative-operand form), every M·v entry stays under
    * 2⁶³ by construction (|M| ≤ n·Σq², |v| ≤ 10³, D = 64). Output per
    * dim: eigenvector component (10³ fixed point) and its absolute
    * loading share in exact basis points. */
  def pcaPower(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gram = udaf(graft.functions.GramMatrixLong)
    val g = Tables.embeddings(s, d)
      .select(expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))")
        .as("q"))
      .agg(gram(col("q")).as("g"))
      .select(col("g._1").as("flat"), col("g._2").as("sums"),
        col("g._3").as("n"))
      .collect().head
    val flat = g.getSeq[Long](0); val sums = g.getSeq[Long](1)
    val n = g.getLong(2); val D = sums.length
    // the aggregator fills the upper triangle only — symmetrize
    val m = Array.tabulate(D, D)((i, j) =>
      n * flat(math.min(i, j) * D + math.max(i, j)) - sums(i) * sums(j))
    var v = Array.fill(D)(1000L)
    (1 to 3).foreach { _ =>
      val w = Array.tabulate(D)(i =>
        (0 until D).foldLeft(0L)((a, j) => a + m(i)(j) * v(j)))
      val mx = w.map(math.abs).max
      v = w.map(x =>
        if (mx == 0L) 0L else math.signum(x) * (math.abs(x) * 1000L / mx))
    }
    val sumAbs = v.map(math.abs).sum
    v.zipWithIndex.map { case (vf, i) =>
      (i.toLong, vf, math.abs(vf) * 10000L / sumAbs)
    }.toSeq.toDF("dim", "v_fp", "share_bp")
  }

  // ── llm_repetition_filter ─────────────────────────────────────────────

  /** Gopher-style repetition gates (the MassiveText quality rules,
    * adapted to the fixture's token stream): per document —
    *   frac_top_2gram — share of tokens covered by the single most
    *     frequent word 2-gram (count·2 / n_tokens);
    *   frac_dup_5gram — share of tokens covered by 5-grams occurring
    *     more than once (Σ_{c>1} c·5 / n_tokens; overlapping coverage
    *     over-counts, exactly as in the paper's occurrence form);
    *   keep — both under the Gopher thresholds (0.20 / 0.30), decided on
    *     EXACT INTEGERS (top2·10 ≤ n, dup5·50 ≤ 3n) so no rounded
    *     double ever gates a row; the reported fractions round once.
    * Scale shape: a repetition metric is a PER-DOCUMENT property, so no
    * distributed aggregate is needed at all — each row sorts its own
    * gram-hash array (xxhash64 of the gram text: long sorts/compares
    * instead of multi-word string keys; within-doc 64-bit collisions are
    * the same accepted odds as llm_decontaminate's membership grams) and
    * counts runs in-row: top2 is the longest run, dup5 the number of
    * elements with an equal neighbor (= Σ_{c>1} c). Zero shuffles, state
    * bounded by one document's gram count — the previous two exploded
    * (doc_id, gram) hash aggregates shuffled every gram twice and ran
    * 5× slower at sf0.1 (7.5 s → 1.4 s). */
  def repetitionFilter(s: SparkSession, d: String): DataFrame = {
    // longest run in a sorted long array, as one in-order fold
    def maxRun(arr: String): String =
      s"""aggregate($arr,
         |  named_struct('prev', cast(null as bigint), 'run', 0L, 'best', 0L),
         |  (a, x) -> named_struct(
         |    'prev', x,
         |    'run', IF(a.prev IS NOT NULL AND x = a.prev, a.run + 1L, 1L),
         |    'best', greatest(a.best,
         |      IF(a.prev IS NOT NULL AND x = a.prev, a.run + 1L, 1L))),
         |  a -> a.best)""".stripMargin
    // #elements of a sorted long array that have an equal neighbor
    // (size < 2 guard: sequence(1, 0) would DESCEND, not come up empty)
    def dupCovered(arr: String): String =
      s"""CASE WHEN size($arr) < 2 THEN 0L ELSE
         |cast(size(filter(sequence(1, size($arr)), i ->
         |  (i > 1 AND element_at($arr, i) = element_at($arr, i - 1)) OR
         |  (i < size($arr) AND element_at($arr, i) = element_at($arr, i + 1))))
         |as bigint) END""".stripMargin
    graft.GraftExtensions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("t"))
      .select(col("doc_id"), size(col("t")).as("n_tokens"),
        expr("array_sort(xx_ngram_hashes(t, 2))").as("g2s"),
        expr("array_sort(xx_ngram_hashes(t, 5))").as("g5s"))
      .select(col("doc_id"), col("n_tokens"),
        expr(maxRun("g2s")).as("top2"),
        expr(dupCovered("g5s")).as("dup5"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(col("top2") * 2 / col("n_tokens").cast("double"), 4))
          .as("frac_top_2gram"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(col("dup5") * 5 / col("n_tokens").cast("double"), 4))
          .as("frac_dup_5gram"),
        (col("top2") * 10 <= col("n_tokens")
          && col("dup5") * 50 <= col("n_tokens") * 3).as("keep"))
  }

  // ── llm_url_normalize ─────────────────────────────────────────────────

  /** URL canonicalization dedup — the CommonCrawl-style first pass that
    * collapses scheme/host case, default ports, trailing slashes,
    * tracking parameters, and query-parameter order before any content
    * hashing. The fixture synthesizes four messy variants per logical
    * URL (doc_id div 4) so the collapse is verifiable: canonicalization
    * is pure per-row string work (regexp host/path/query split, lowercase
    * host, strip :443 and trailing '/', drop utm_* params, sort the
    * rest), then one hash aggregate on the canonical form. At 100 TB
    * this is a map-side transform plus a single shuffle on the canonical
    * key — the dedup group is the unit the crawler dedups on. */
  def urlNormalize(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.documents(s, d)
      .select(col("doc_id"), expr("doc_id div 4").as("g"),
        expr("doc_id % 4").as("v"))
      .select(col("doc_id"), concat(
        when(col("v") === 0, lit("HTTPS://Example.COM"))
          .otherwise(lit("https://example.com")),
        when(col("v") === 1, lit(":443")).otherwise(lit("")),
        lit("/site/"), (col("g") % 7).cast("string"),
        lit("/page/"), col("g").cast("string"),
        when(col("v") === 2, lit("/")).otherwise(lit("")),
        when(col("v") === 0,
          concat(lit("?b=2&a="), (col("g") % 9).cast("string")))
          .when(col("v") === 1,
            concat(lit("?a="), (col("g") % 9).cast("string"), lit("&b=2")))
          .when(col("v") === 2,
            concat(lit("?b=2&a="), (col("g") % 9).cast("string"),
              lit("&utm_campaign=x")))
          .otherwise(concat(lit("?utm_source=feed&b=2&a="),
            (col("g") % 9).cast("string")))).as("url"))
    val canon = raw.select(col("doc_id"), col("url"), concat(
      lit("https://"),
      regexp_replace(
        lower(regexp_extract(col("url"), "^[hH][tT][tT][pP][sS]?://([^/]+)", 1)),
        ":443$", ""),
      regexp_replace(
        regexp_extract(col("url"), "^[a-zA-Z]+://[^/]+([^?]*)", 1), "/$", ""),
      lit("?"),
      array_join(array_sort(filter(
        split(regexp_extract(col("url"), "\\?(.*)$", 1), "&"),
        x => substring(x, 1, 4) =!= "utm_")), "&")).as("curl"))
    canon.groupBy(col("curl"))
      .agg(count(lit(1)).as("n_variants"),
        min(col("doc_id")).as("canonical_doc"),
        countDistinct(col("url")).as("n_distinct_raw"))
      .select(col("curl").as("canonical_url"), col("n_variants"),
        col("canonical_doc"), col("n_distinct_raw"))
  }

  // ── llm_dataset_card ──────────────────────────────────────────────────

  /** Dataset-card generator: the one-table corpus datasheet (docs,
    * languages, sources, token mass, short-doc and exact-dup ratios,
    * mean length) emitted as (metric, value) rows — the audit artifact a
    * training-data release ships with. Two aggregates total: one over
    * the table, one over text groups for the dup ratio; every metric is
    * an exact integer before the final ratio division. */
  def datasetCard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      sum(size(split(col("text"), " "))).cast("long").as("n_tokens"),
      sum(when(col("n_chars") < 200, 1L).otherwise(0L)).as("n_short"))
    val dups = docs.groupBy(col("text")).agg(count(lit(1)).as("c"))
      .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup_docs"),
        count(lit(1)).as("n_unique_texts"))
    base.crossJoin(dups).select(expr(
      """stack(7,
        |  'n_docs', cast(n_docs as double),
        |  'n_langs', cast(n_langs as double),
        |  'n_sources', cast(n_sources as double),
        |  'n_tokens', cast(n_tokens as double),
        |  'short_doc_ratio', round(n_short / cast(n_docs as double), 4),
        |  'dup_doc_ratio', round(n_dup_docs / cast(n_docs as double), 4),
        |  'mean_doc_tokens', round(n_tokens / cast(n_docs as double), 4)
        |) AS (metric, value)""".stripMargin))
  }

  // ── llm_bpe_train ─────────────────────────────────────────────────────

  /** Three ITERATIONS of BPE tokenizer training — the real merge loop,
    * not just the first pair census (llm_bpe_stats): each round counts
    * every adjacent symbol pair over the weighted word-TYPE table,
    * elects the global argmax under the (count desc, pair) total order,
    * and APPLIES the merge greedily left-to-right in every word before
    * the next round recounts — so round 2 can elect a pair containing a
    * round-1 merged symbol, which is the whole point of BPE. Output:
    * one row per merge (iteration, lhs, rhs, merged, pair_count).
    *
    * Words are symbol STRINGS joined by '|' (words containing a literal
    * '|' are excluded, documented); the greedy merge is a left fold —
    * if the accumulated string's last token equals lhs and the incoming
    * symbol equals rhs, appending rhs WITHOUT a separator forms the
    * merged token in place. The identical fold runs in the oracle
    * (list_reduce over a prepended '' accumulator), so both engines
    * compute the same non-overlapping greedy semantics even on
    * self-adjacent pairs ("aaaa" under (a,a) → "aa|aa").
    *
    * Scale shape: the corpus collapses to word types ONCE (the
    * bpe_stats trick — pair work explodes types, never the token
    * stream); each round is one vocab-sized aggregate + a 1-row
    * broadcast into a per-row fold, checkpointed so round r never
    * replays round r−1's fold. At a 100 TB corpus the type table is
    * ~10⁷ rows — the loop is a driver-paced sequence of small shuffles,
    * exactly how distributed BPE/WordPiece trainers run. */
  def bpeTrain(s: SparkSession, d: String): DataFrame = {
    val wc = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "" && !col("w").contains("|"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .where(length(col("w")) >= 2)
    var syms = MemoUtil.scratch(
      wc.select(col("c"), expr("concat_ws('|', split(w, ''))").as("s"))
        .localCheckpoint())
    val merges = (1 to 3).map { it =>
      val pairs = syms
        .select(col("c"), expr("split(s, '\\\\|')").as("a"))
        .select(col("c"), explode(expr(
          """transform(sequence(1, size(a) - 1),
            |  j -> struct(element_at(a, j) AS pa,
            |              element_at(a, j + 1) AS pb))""".stripMargin))
          .as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("c")).as("cnt"))
      // global argmax as a 1-ROW AGGREGATE: min over struct(-cnt, pa,
      // pb) — lexicographic struct order reproduces (cnt desc, pa, pb)
      // with the same binary string comparator the window used, but
      // map-side partials replace the keyless-window single-task sort
      // over the (web-scale-large) pair census (VERDICT r10 watch item)
      val top = pairs
        .agg(min(struct((-col("cnt")).as("nc"), col("pa"), col("pb")))
          .as("m"))
        .select(col("m.pa").as("pa"), col("m.pb").as("pb"),
          (-col("m.nc")).as("cnt"))
      syms = MemoUtil.scratch(
        syms.crossJoin(broadcast(top))
          .select(col("c"), expr(
            """aggregate(split(s, '\\|'), '', (acc, x) ->
              |  CASE WHEN acc = '' THEN x
              |       WHEN regexp_extract(acc, '([^|]*)$', 1) = pa
              |            AND x = pb THEN concat(acc, pb)
              |       ELSE concat(acc, '|', x) END)""".stripMargin).as("s"))
          .localCheckpoint())
      top.select(lit(it).as("iteration"), col("pa").as("lhs"),
        col("pb").as("rhs"), concat(col("pa"), col("pb")).as("merged"),
        col("cnt").as("pair_count"))
    }
    merges.reduce(_ union _)
  }

  // ── llm_bpe_apply ─────────────────────────────────────────────────────

  /** ENCODE the corpus under the llm_bpe_train tokenizer — the apply
    * half every trained merge table exists for: re-derive the same 3
    * merges over the same weighted word-type table (identical election
    * and greedy fold, so the tokenizer is byte-identical to the train
    * op's), then encode every word occurrence and report the
    * per-language compression audit — word/char/token masses, words
    * that actually compressed, and tokens-per-char in basis points
    * (char-split count is the pre-merge token baseline). This is the
    * acceptance dashboard for a tokenizer build: a language whose
    * ratio_bp stays ~10000 is not served by the learned merges (the
    * vocabulary was trained past it).
    *
    * All reductions are exact integers; the symbol counts come from the
    * same split primitive on both engines (never length(), which
    * disagrees cross-engine on grapheme vs code-unit counting for CJK).
    *
    * Scale shape: identical to bpe_train (corpus collapses to word
    * types once; each round is a vocab-sized aggregate + a broadcast
    * 1-row merge into a per-type fold) plus ONE (lang, word) aggregate
    * over the corpus and a type-keyed join — encoding cost lives on the
    * type table, the corpus pays only its own collapse, exactly how a
    * production tokenizer applies (type-level memo, stream lookup). */
  def bpeApply(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "" && !col("w").contains("|"))
    val lw = words.groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("n"))
    val wc = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .where(length(col("w")) >= 2)
    var syms = MemoUtil.scratch(
      wc.select(col("w"), col("c"),
          expr("concat_ws('|', split(w, ''))").as("s"))
        .localCheckpoint())
    (1 to 3).foreach { _ =>
      val pairs = syms
        .select(col("c"), expr("split(s, '\\\\|')").as("a"))
        .select(col("c"), explode(expr(
          """transform(sequence(1, size(a) - 1),
            |  j -> struct(element_at(a, j) AS pa,
            |              element_at(a, j + 1) AS pb))""".stripMargin))
          .as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("c")).as("cnt"))
      // same 1-row min(struct) argmax as bpeTrain's election (identical
      // comparator, so the tokenizer stays byte-identical to train's)
      val top = pairs
        .agg(min(struct((-col("cnt")).as("nc"), col("pa"), col("pb")))
          .as("m"))
        .select(col("m.pa").as("pa"), col("m.pb").as("pb"))
      syms = MemoUtil.scratch(
        syms.crossJoin(broadcast(top))
          .select(col("w"), col("c"), expr(
            """aggregate(split(s, '\\|'), '', (acc, x) ->
              |  CASE WHEN acc = '' THEN x
              |       WHEN regexp_extract(acc, '([^|]*)$', 1) = pa
              |            AND x = pb THEN concat(acc, pb)
              |       ELSE concat(acc, '|', x) END)""".stripMargin).as("s"))
          .localCheckpoint())
    }
    val enc = syms.select(col("w"),
      expr("cast(size(split(s, '\\\\|')) as bigint)").as("n_syms"))
    lw.join(enc, Seq("w"), "left")
      .select(col("lang"), col("n"),
        coalesce(col("n_syms"), lit(1L)).as("n_syms"),
        expr("cast(size(split(w, '')) as bigint)").as("n_chars"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_chars")).as("chars_before"),
        sum(col("n") * col("n_syms")).as("toks_after"),
        sum(when(col("n_syms") < col("n_chars"), col("n"))
          .otherwise(lit(0L))).as("words_compressed"))
      .select(col("lang"), col("n_words"), col("chars_before"),
        col("toks_after"), col("words_compressed"),
        expr("(toks_after * 10000) div chars_before").as("ratio_bp"))
  }

  // ── llm_bpe_stats ─────────────────────────────────────────────────────

  /** Tokenizer-training statistics: the first BPE merge round — corpus
    * frequency of every adjacent character pair, weighted by word
    * frequency. Word counting collapses the corpus FIRST (the classic
    * trick: pair counts explode word TYPES, not word occurrences — at
    * 100 TB the type table is orders of magnitude smaller than the token
    * stream), then each type of length L emits its L−1 pairs. Words of
    * length 1 are guarded out: sequence(1, 0) DESCENDS in Spark and
    * would emit phantom windows. Top-20 by (count desc, pair). */
  def bpeStats(s: SparkSession, d: String): DataFrame = {
    val wc = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .where(length(col("w")) >= 2)
    wc.select(col("c"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("c")).as("cnt"), count(lit(1)).as("n_contexts"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)
  }

  // ── llm_rlhf_pairs ────────────────────────────────────────────────────

  /** Preference-pair construction (RLHF data prep): per (source, lang)
    * slice, the best- and worst-scoring documents become a
    * (chosen, rejected) pair with its score margin. The quality signal
    * is mean token length at fixed-point 10⁴ — an exact integer ratio,
    * so the argmax/argmin (row_number over score desc/asc with doc_id
    * tie-break) selects identical rows on both engines. Slices where
    * every document ties collapse to chosen = rejected and are dropped.
    * Scale: one aggregate over tokens plus two window passes over the
    * per-doc score table — the pair table is |slices| rows. */
  def rlhfPairs(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("source"), col("lang"), col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy(col("source"), col("lang"), col("doc_id"))
      .agg(count(lit(1)).as("n"), sum(length(col("tok"))).as("sl"))
      .select(col("source"), col("lang"), col("doc_id"),
        expr("(sl * 10000) div n").as("score_fp"))
    val wBest = Window.partitionBy(col("source"), col("lang"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
    val wWorst = Window.partitionBy(col("source"), col("lang"))
      .orderBy(col("score_fp").asc, col("doc_id").asc)
    val best = scored.withColumn("rn", row_number().over(wBest))
      .where(col("rn") === 1)
      .select(col("source"), col("lang"), col("doc_id").as("chosen_doc"),
        col("score_fp").as("chosen_score_fp"))
    val worst = scored.withColumn("rn", row_number().over(wWorst))
      .where(col("rn") === 1)
      .select(col("source"), col("lang"), col("doc_id").as("rejected_doc"),
        col("score_fp").as("rejected_score_fp"))
    best.join(worst, Seq("source", "lang"))
      .where(col("chosen_doc") =!= col("rejected_doc"))
      .select(col("source"), col("lang"), col("chosen_doc"),
        col("rejected_doc"), col("chosen_score_fp"),
        col("rejected_score_fp"),
        (col("chosen_score_fp") - col("rejected_score_fp")).as("margin_fp"))
  }

  // ── llm_tfidf ─────────────────────────────────────────────────────────

  /** Per-language characteristic terms: top-5 tokens by TF-IDF where TF
    * counts within the language slice and IDF = ln(N_docs/doc_freq) over
    * the whole corpus. Ranking is on the ROUNDED score with the token as
    * a unique tie-break — the one double in the pipeline (ln) is a
    * per-row scalar both engines compute from identical exact inputs.
    * Scale: two hash aggregates (token×doc distinct, token×lang counts)
    * and a broadcast of the tiny doc-count; the explode is map-side. */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs
      .select(col("lang"), col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
    val nDocs = docs.agg(count(lit(1)).as("n")) // 1 row → broadcast
    val dfreq = toks.select(col("tok"), col("doc_id")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("doc_freq"))
    val tf = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("tok").asc)
    tf.join(dfreq, "tok").crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n").cast("double") / col("doc_freq")), 4))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("lang"), col("rank"), col("tok"), col("tf"),
        col("doc_freq"), col("score"))
  }

  // ── llm_perplexity_proxy ──────────────────────────────────────────────

  /** Unigram-LM perplexity proxy (the CCNet-style quality signal): score
    * every document by the mean negative log-probability of its tokens
    * under the corpus's own unigram distribution — fluent text made of
    * common tokens scores low, token salad scores high.
    *
    * Determinism discipline: ln(p) is a per-row scalar from exact inputs
    * (both engines see identical doubles), but SUMMING doubles across a
    * document is accumulation-order-dependent — so each token's log-prob
    * is quantized to fixed-point (round(ln·10⁶) as BIGINT) and the
    * per-doc reduction is an EXACT integer sum; only the final mean
    * returns to double. Same pattern as the k-means distances: floats
    * decide nothing across rows.
    *
    * Scale shape: one token-count aggregate (the "model", reused across
    * every scoring run), a broadcast of the tiny total, and one
    * map-side explode + (doc_id) aggregate for scoring. */
  def perplexityProxy(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
    val total = toks.agg(count(lit(1)).as("n_total")) // 1 row → broadcast
    val lm = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    toks.join(lm, "tok").crossJoin(broadcast(total))
      .withColumn("nlp_fp",
        round(-log(col("cnt").cast("double") / col("n_total")) * 1e6, 0)
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("nlp_fp")).as("nlp_sum"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("nlp_sum").cast("double") / col("n_tokens") / 1e6, 4)
          .as("mean_nll"))
  }

  // ── llm_domain_mix ────────────────────────────────────────────────────

  /** Domain-mixture accounting: per-source token mass, corpus share, and
    * the fixed-point repetition weight that rebalances every source to a
    * uniform token target (the data-scheduler input: weight > 1 means
    * upsample/repeat, < 1 means subsample — applied downstream with the
    * same hash gate as llm_sample_stratified). Weights are integer
    * fixed-point ((target·10⁴) div n_tokens), shares round once at the
    * end — the mix table is tiny (one row per source) and exact. */
  def domainMix(s: SparkSession, d: String): DataFrame = {
    val perSource = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("n_tokens"))
    val totals = perSource.agg(
      sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(totals))
      .withColumn("target", expr("total_tokens div n_sources"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("total_tokens"), 4)
          .as("token_share"),
        expr("(target * 10000) div n_tokens").as("weight_fp"),
        (col("n_tokens") > col("target")).as("over_represented"))
  }

  /** TEMPERATURE-scaled sampling mix (r12) — the multilingual
    * rebalancing formula (XLM-R/mT5 lineage): q_i ∝ p_i^α with α=1/2,
    * boosting low-resource sources without drowning high-resource ones
    * (llm_domain_mix's uniform target is the α→0 extreme; α=1 is
    * proportional). α=1/2 is deliberately the one exponent whose pow
    * is IEEE-correctly-rounded on both engines (sqrt) — and even that
    * double touches exactly ONE per-row scalar: sqrt(n_i) quantizes to
    * 10⁶ fixed point immediately, so the normalization sum, both share
    * computations, the up/down-sample weight, and the token budget
    * re-allocation are exact integers (the div-of-divs rounding IS the
    * spec, replayed identically by the oracle). weight_bp > 10⁴ ⇒
    * upsample. One aggregate + a broadcast 1-row total → |sources|
    * rows; at 100 TB this is free beside the corpus scan it shares
    * with domain_mix. */
  def mixTemperature(s: SparkSession, d: String): DataFrame = {
    val perSource = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("n_tokens"))
      .withColumn("s_fp",
        expr("CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)"))
    val totals = perSource.agg(
      sum(col("n_tokens")).as("total_tokens"),
      sum(col("s_fp")).as("total_s"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("(n_tokens * 10000) div total_tokens").as("p_bp"),
        expr("(s_fp * 10000) div total_s").as("q_bp"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("p_bp"), col("q_bp"),
        expr("CASE WHEN p_bp = 0 THEN CAST(-1 AS BIGINT) " +
          "ELSE (q_bp * 10000) div p_bp END").as("weight_bp"),
        (col("q_bp") > col("p_bp")).as("upsampled"))
  }

  // ── llm_cooccur ───────────────────────────────────────────────────────

  /** Token co-occurrence PMI: the top-20 token pairs most over-represented
    * in the same documents relative to independence. Presence sets are
    * DISTINCT (doc, token); pairs materialize only per document with the
    * a < b canonical order, so the pair space is bounded by the per-doc
    * distinct-token count squared — never vocabulary². The association
    * score travels as the exact fixed-point ratio c_ab·N·10⁶ div (c_a·c_b)
    * (monotone with PMI, pure integer); the reported pmi is ln() of that
    * same exact ratio — a per-row scalar, never accumulated. Scale: two
    * hash aggregates plus one doc-keyed self-join of the collapsed
    * presence sets; a frequency floor prunes the pair tail before ranking. */
  def cooccur(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pres = MemoUtil.scratch(docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "").distinct()
      .localCheckpoint())
    val nDocs = docs.agg(count(lit(1)).as("n"))
    val cnt = pres.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val pairs = pres.as("p1").join(pres.as("p2"),
        col("p1.doc_id") === col("p2.doc_id")
          && col("p1.tok") < col("p2.tok"))
      .groupBy(col("p1.tok").as("a"), col("p2.tok").as("b"))
      .agg(count(lit(1)).as("c_ab"))
    pairs
      .join(cnt.select(col("tok").as("a"), col("c").as("c_a")), "a")
      .join(cnt.select(col("tok").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(nDocs))
      .where(col("c_ab") >= 3 && col("c_ab") * 20 >= col("n"))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        expr("(c_ab * n * 1000000) div (c_a * c_b)").as("score_fp"),
        round(log(col("c_ab") * col("n") /
          (col("c_a") * col("c_b")).cast("double")), 4).as("pmi"))
      .orderBy(col("score_fp").desc, col("a"), col("b"))
      .limit(20)
  }

  // ── llm_inverted_index ────────────────────────────────────────────────

  /** Inverted index build: token → document-frequency, total term count,
    * and the top-5 postings "doc_id:tf" ranked by (tf desc, doc_id). The
    * posting list is CAPPED per token before stringification — the full
    * per-token explode-then-collect would concentrate the entire corpus
    * on the hottest tokens (the classic inverted-index skew); rank-then-
    * filter keeps every partition's state bounded at k. Output postings
    * are a comma-joined scalar so the gate can hash them. */
  def invertedIndex(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("tok"))
      .orderBy(col("tf").desc, col("doc_id").asc)
    val stats = tf.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
    val top = tf.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .groupBy(col("tok"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rank"),
          concat_ws(":", col("doc_id"), col("tf")).as("post")))),
        x => x.getField("post")), ",").as("postings"))
    stats.join(top, "tok")
      .select(col("tok"), col("df"), col("total_tf"), col("postings"))
  }

  /** OPQ-style ROTATION ablation for product quantization — the r11
    * stretch item: PQ's error is dominated by its hottest subspace, and
    * OPQ's fix is an orthogonal rotation that balances energy across
    * subspaces before quantizing. The learned-rotation half is a PCA
    * problem; the STRUCTURED half — used as OPQ's initializer and as
    * the standard fast rotation in practice — is the Hadamard
    * transform, which is exactly replayable in integer arithmetic:
    * H[j][k] = (−1)^popcount(j&k), applied WITHOUT the 1/8
    * normalization so every rotated coordinate stays an exact BIGINT
    * (energies scale by 64; the cross-variant error comparison divides
    * the rotated totals by 64 once, on positive values, where trunc
    * and floor division agree). The input is the fixture embedding on
    * a 10² lattice with a DETERMINISTIC anisotropic scaling (dim j
    * × (8+j), exact integers) — the energy-decay profile real (PCA-ordered)
    * embeddings exhibit and the profile that makes plain PQ's
    * subspace 7 ~60× hotter than subspace 0. Per (variant, subspace):
    * min/max, exact energy, and the quantization error of a uniform
    * 256-level per-subspace grid (the fixed-bit-budget stand-in for a
    * codebook — same bits, same adaptivity granularity as PQ's
    * per-subspace codebooks). The readout: rotation flattens the
    * subspace energy profile and cuts the normalized total grid error
    * — the OPQ premise, measured. One zero-shuffle map over the corpus
    * (each vector's rotation is the codegen'd `fwht64` 6-stage
    * butterfly — 64·6 adds, not the 64×64 matrix fold) + a 16-row
    * aggregate; scan-bound at any N. */
  /** The anisotropic lattice shared by llm_ann_opq and
    * llm_ann_opq_recall: 10²-quantized embedding with dim j scaled by
    * (8+j) — the PCA-ordered energy-decay profile that makes plain PQ's
    * last subspace ~60× hotter than its first. */
  private def opqBase(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), expr(
      """transform(sequence(0, 63), j ->
        |  cast(round(cast(element_at(embedding, j + 1) as double)
        |             * 100.0, 0) as bigint) * (8 + j))"""
        .stripMargin).as("v"))

  def annOpq(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val base = opqBase(s, d)
    // fwht64 (custom codegen'd Expression): the 6-stage butterfly. The
    // SQL-HOF matrix spelling (64×64 interpreted multiply-adds per row)
    // measured ~285 s at the 10× probe tier; the kernel computes the
    // identical H[j][k] = (−1)^popcount(j&k) product at scan cost.
    val had = base.select(col("vec_id"), expr("fwht64(v)").as("v"))
    val both = base.select(lit("plain").as("variant"), col("v"))
      .unionByName(had.select(lit("hadamard").as("variant"), col("v")))
    val dims = both
      .select(col("variant"), posexplode(col("v")).as(Seq("j", "x")))
      .withColumn("m", expr("CAST(j DIV 8 AS INT)"))
    val stats = dims.groupBy(col("variant"), col("m"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"),
        sum(expr("x * x")).as("energy"))
    dims.join(broadcast(stats), Seq("variant", "m"))
      .withColumn("step", greatest(lit(1L), expr("(mx - mn) DIV 255")))
      .withColumn("q", least(lit(255L), expr("(x - mn) DIV step")))
      .withColumn("recon", expr("mn + q * step + step DIV 2"))
      .groupBy(col("variant"), col("m"), col("mn"), col("mx"),
        col("energy"))
      .agg(sum(expr("(x - recon) * (x - recon)")).as("grid_err"))
      // rotated coordinates carry 64× the energy (unnormalized H):
      // normalize once, on positive totals, for cross-variant reads
      .select(col("variant"), col("m"), col("mn"), col("mx"),
        expr("CAST(IF(variant = 'hadamard', energy DIV 64, energy) AS BIGINT)")
          .as("energy_n"),
        expr("CAST(IF(variant = 'hadamard', grid_err DIV 64, grid_err) AS BIGINT)")
          .as("grid_err_n"))
  }

  /** OPQ recall — the END-TO-END eval for llm_ann_opq's ablation: train
    * the FULL PQ index (the shared `pqTop3From` construction — 2 Lloyd
    * rounds per subspace, encode, ADC rank) TWICE on the same
    * anisotropic lattice, once raw ('plain') and once Hadamard-rotated
    * ('hadamard', the codegen'd fwht64), and score both against the
    * exact brute top-3 in the plain space. The rotation is orthogonal
    * (H·Hᵀ = 64·I scales every distance uniformly), so exact ranking is
    * IDENTICAL in both spaces and one ground truth judges both indexes
    * — the measured question is whether balancing subspace energy lets
    * the same 8×16-codeword budget rank better. MEASURED ANSWER on this
    * fixture: a wash (7/30 hits both variants at sf0.001 AND sf0.01,
    * with genuinely different per-query splits) — TRAINED per-subspace
    * codebooks already absorb a pure per-dimension SCALE anisotropy
    * (each subspace gets its 16 codewords regardless of energy), unlike
    * llm_ann_opq's fixed uniform grids, where the same rotation cuts
    * error. That spread — rotation fixes fixed-grid quantizers and
    * correlated/rank-deficient subspaces, not scale-only anisotropy
    * under adaptive codebooks — is exactly the published OPQ boundary,
    * and an eval that can't report a null result can't be trusted when
    * it reports a win. Same bounded shapes as every recall row; the
    * oracle replays BOTH train chains via the prefix-parameterized
    * `pqTrainCtesFor` and the rotation via the explicit H matrix. */
  def annOpqRecall(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val base = MemoUtil.scratch(opqBase(s, d)
      .withColumnRenamed("v", "qv").localCheckpoint())
    val rot = base.select(col("vec_id"), expr("fwht64(qv)").as("qv"))
    val exact3 = MemoUtil.scratch(
      exact(base, evalQueries(base)).localCheckpoint())
    def recallOf(qvec: DataFrame, label: String): DataFrame =
      recall(exact3, pqTop3From(qvec).select(col("qid"), col("cand_id")))
        .select(lit(label).as("variant"), col("qid"), col("n_hit"), recallAt3)
    recallOf(base, "plain").unionByName(recallOf(rot, "hadamard"))
  }

  // ── llm_ann_pq ────────────────────────────────────────────────────────

  /** Product-quantization ANN with asymmetric distance computation — the
    * FAISS IVFPQ memory half, beside llm_ann_ivf_kmeans' routing half.
    * The 64-dim vectors split into M=8 subspaces of 8 dims; each
    * subspace learns its own K=16-codeword codebook (seed = the first
    * ≤16 vectors' subvectors, one exact-integer Lloyd round: assign →
    * floor recenter → re-assign-to-encode), and every corpus vector is
    * thereafter M one-byte codes — 8 bytes instead of 256, the 32×
    * compression that lets a 100 TB corpus's index live in executor
    * memory. Queries never decompress: per query a K·M distance TABLE
    * to the codewords is computed once (exact BIGINT on the 10⁶
    * lattice), and each candidate's approximate distance is Σ_m
    * table[m, code_m] — M integer lookups, no vector arithmetic. Top-3
    * per query ranks by (adist, cand_id), a total order both engines
    * walk identically; the output carries the exact 64-dim distance
    * beside the ADC estimate so the approximation error is visible
    * per row (llm_ann_recall's honesty rule).
    *
    * Determinism: every distance, recenter, and argmin tie-break
    * ((dist, j) min-struct) is exact BIGINT — DuckDB replays the whole
    * construction (seeding included) to the identical codes and ranks.
    * Clone-probe caveat: duplicate vectors among the first 16 ids would
    * collapse seeds onto one point; tie-breaks keep the result
    * deterministic (production seeds sample distinct codes — the lloyd
    * seeding note applies).
    *
    * Scale shape: codebooks are M·K=128 broadcast rows; training and
    * encoding are map-side folds over the broadcast codebook feeding one
    * hash aggregate each (N·M·K 8-dim folds); the ADC join is codes ×
    * broadcast distance tables (N·M·|queries| rows, map-side). Nothing
    * shuffles with N except the final per-query aggregates. At 100 TB
    * the candidate set first prunes through IVF cells (the op next
    * door) and ADC re-ranks inside the probed cells.
    *
    * The construction through the ADC top-3 is memoized per (session,
    * sf-dir) and eagerly checkpointed: llm_ann_pq (exact re-rank) and
    * llm_ann_pq_recall (recall eval) both consume exactly this ranking,
    * and re-training the codebooks per query would waste a full
    * construction. Bench resets the memo with the Lloyd memo between
    * timing passes. */
  private def pqTop3(s: SparkSession, d: String): DataFrame =
    pqMemo((s, d)) {
      // quantized vector form — single reader (the subvector derivation;
      // the exact re-rank lives in annPq now), so no lineage cut needed
      pqTop3From(Tables.embeddings(s, d).select(col("vec_id"), lattice().as("qv")))
        .localCheckpoint()
    }

  /** The full PQ construction (train 2 rounds → encode → per-query ADC
    * tables → top-3) over ANY (vec_id, qv[64]) lattice table — shared
    * by the 10⁶-lattice index (pqTop3/llm_ann_pq*) and the OPQ recall
    * variants (llm_ann_opq_recall trains it on the anisotropic lattice
    * and its Hadamard rotation). Caller owns checkpoint/memo lifecycle. */
  private def pqTop3From(qvec: DataFrame): DataFrame = {
    val M = 8; val Kc = 16
    // subvector form (vec_id, m, sv[8]); readers: seeds, assign, recenter,
    // encode, distance tables — the multi-reader lineage-cut rule
    val sub = MemoUtil.scratch(qvec
      .select(col("vec_id"), posexplode(
        expr(s"transform(sequence(0, ${M - 1}), m -> slice(qv, m * 8 + 1, 8))")))
      .select(col("vec_id"), col("pos").as("m"), col("col").as("sv"))
      .localCheckpoint())
    val seeds = qvec.where(col("vec_id") < Kc)
      .select(col("vec_id"),
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).as("j"))
    val c0 = sub.join(broadcast(seeds), "vec_id")
      .select(col("m"), col("j"), col("sv").as("cv"))
    // argmin codeword per (vector, subspace) over a broadcast codebook
    def encodeWith(cb: DataFrame): DataFrame =
      sub.join(broadcast(cb), "m")
        .select(col("vec_id"), col("m"), col("j"),
          expr("squared_distance(sv, cv)").as("dist"))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("dist"), col("j"))).as("mm"))
        .select(col("vec_id"), col("m"), col("mm.j").as("code"))
    val a1 = encodeWith(c0)
    // floor(sum/count) recenter per (m, j, local-dim), back to arrays
    val c1 = sub.join(a1.withColumnRenamed("code", "j"), Seq("vec_id", "m"))
      .select(col("m"), col("j"), posexplode(col("sv")))
      .groupBy(col("m"), col("j"), col("pos"))
      .agg(floor(sum(col("col")).cast("double") / count(lit(1)))
        .cast("long").as("c"))
      .groupBy(col("m"), col("j"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cv"))
    val codes = encodeWith(c1)
    // per-query distance tables to the trained codewords (Q·M·K rows)
    val dtab = sub.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("m"), col("sv").as("qsv"))
      .join(broadcast(c1), "m")
      .select(col("qid"), col("m"), col("j"),
        expr("squared_distance(qsv, cv)").as("dt"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("adist").asc, col("cand_id").asc)
    codes
      .join(broadcast(dtab),
        codes("m") === dtab("m") && codes("code") === dtab("j"))
      .where(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id").as("cand_id"))
      .agg(sum(col("dt")).as("adist"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= 3)
  }

  def annPq(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val qvec = Tables.embeddings(s, d).select(col("vec_id"), lattice().as("qv"))
    // exact 64-dim distance beside the estimate (30-row probe side)
    pqTop3(s, d)
      .join(qvec.select(col("vec_id").as("qid"), col("qv").as("qq")), "qid")
      .join(qvec.select(col("vec_id").as("cand_id"), col("qv").as("cq")),
        "cand_id")
      .select(col("qid"), col("rank"), col("cand_id"), col("adist"),
        expr("squared_distance(qq, cq)").as("exact_dist"))
  }

  /** PQ recall@3 — the eval harness that justifies llm_ann_pq's 32×
    * compression, mirroring llm_ann_recall's role for the IVF index (an
    * approximate structure ships with its measured recall or it doesn't
    * ship). The ADC top-3 comes from the full PQ construction (annPq);
    * the exact side broadcasts the 10 query vectors over the quantized
    * corpus — per-query linear brute force, the affordable spot-check
    * shape at any corpus size. Hit counting and ranks are exact
    * integers; recall divides once and rounds once. */
  def annPqRecall(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val pq3 = pqTop3(s, d).select(col("qid"), col("cand_id"))
    recall(exactQTop3(s, d), pq3).select(col("qid"), col("n_hit"), recallAt3)
  }

  /** Matryoshka (MRL-style) truncated-dimension retrieval eval: rank by
    * squared distance over ONLY the first 8 of 64 dimensions and score
    * recall@3 against the full-dimension exact top-3 (the shared
    * `exactQTop3` ground truth every recall eval in the family uses).
    * This is the measurement behind the embedding-truncation trade
    * every large retrieval deployment makes — 8× less vector I/O,
    * memory, and dot-product work per candidate IF the head dimensions
    * carry the ranking signal — in the same harness as the PQ/IVF
    * recall rows, so the accuracy-per-byte options sit side by side.
    * The truncated pass is the SAME bounded shape as the exact one
    * (10 broadcast queries × one corpus scan over 8-long slices);
    * arithmetic on the 10⁶-quantized integer lattice, (dist, cand_id)
    * total order — deterministic, oracle-replayed. */
  def annMatryoshka(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val tvec = Tables.embeddings(s, d)
      .select(col("vec_id"), lattice("slice(embedding, 1, 8)").as("tv"))
    val q = tvec.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("tv").as("tq"))
    val trunc3 = exact(tvec, q, "squared_distance(tv, tq)")
    recall(exactQTop3(s, d), trunc3).select(col("qid"), col("n_hit"), recallAt3)
  }

  /** GRAPH-TRAVERSAL ANN (the HNSW/NSW family's representative): a
    * deterministic bounded-degree neighbor graph + fixed-width beam
    * search, scored recall@3 against the shared exact brute top-3 like
    * every other index in the family. The state-of-the-art serving
    * indexes (HNSW, DiskANN/Vamana, NSG) all share this skeleton —
    * precompute a navigable sparse graph, answer queries by greedy/beam
    * walk — and unlike IVF/PQ the per-query DISTANCE-EVAL work is
    * bounded by beam·degree·hops, never N or N/cells.
    *
    * Construction (exact-integer, (dist, id) tie-broken — the house
    * style, so DuckDB replays the identical graph):
    *  - PROXIMITY edges: candidates are same-Lloyd-cell pairs (the
    *    memoized shared lattice — cells are genuine 64-dim proximity,
    *    |cell| ≈ 128 so candidate mass is ~128·N like llm_semdedup)
    *    UNION pairs within ±8 ranks of a deterministic 1-D curve (sum
    *    of the first 4 lattice dims; the value-bucketed equi-join on
    *    rank div 8 with a ±1 bucket explode — catches neighbors the
    *    cell boundary splits). Per node: top-4 by exact distance,
    *    symmetrized, re-capped at 8.
    *  - NAVIGATION edges, the HNSW-long-link ingredient: the curve
    *    successor both ways (connectivity by construction — the graph
    *    contains a Hamiltonian path) and geometric FINGERS at rank
    *    offsets ±{16, 64, 256, 1024, 4096, 16384} (Kleinberg
    *    small-world links at every scale, so greedy descent crosses
    *    the corpus in O(log N) hops). Out-degree ≤ 8 + 2 + 12 = 22.
    *  - the global curve rank is computed the DISTRIBUTED way:
    *    range-repartition on (proj, id), per-partition row_number
    *    (keyed window), plus broadcast per-partition prefix offsets —
    *    never one global window partition.
    *
    * Search: entry = the best-of-16 RANK-SPREAD nodes per query (ranks
    * 1, 1+⌈N/16⌉, … — a fixed sample covering the curve), then 6 beam
    * hops: expand the beam's out-edges, score ONLY the expanded
    * candidates (≤ beam·degree new evals per hop), keep the best 8 of
    * beam ∪ expansion — monotone, so the final beam dominates the
    * entry. Per query: ≤ 16 + 6·8·22 ≈ 1100 distance evals at ANY
    * corpus size — the bounded-work property the tier row shows
    * (IVF's per-query candidates are nprobe·N/cells ∝ N/√N-ish; the
    * graph's are constant). In Spark each hop is one hash join of the
    * tiny (qid, node) frontier against the checkpointed lattice (a
    * production server replaces that scan with point lookups into its
    * vector store; the eval COUNT is the portable claim). Recall@3 is
    * scored against the memoized exact ground truth. */
  def annGraph(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val pred = beamTop3(annGraphBeam8(s, d)._1)
    recall(exactQTop3(s, d), pred).select(col("qid"), col("n_hit"), recallAt3)
  }

  /** BEAM-WIDTH ablation for the graph index — the sibling of
    * llm_ann_recall_sweep's nprobe curve: the SAME graph, the SAME 6
    * hops, beams 2/4/8, each scored against the shared exact top-3.
    * A graph index's accuracy knob is the beam (HNSW's efSearch), and
    * its cost is EXACTLY proportional: per query ≤ 16 + 6·beam·22
    * distance evals (the evals_bound column — a literal function of
    * the knob, unlike IVF where cost depends on data-dependent cell
    * sizes). The measured curve is what a deployment reads to pick
    * its latency/recall point. */
  def annGraphSweep(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val (adj, entries, qv) = annGraphAdjacency(s, d)
    val ex = exactQTop3(s, d)
    // beam 8 reuses llm_ann_graph's memoized prediction set verbatim —
    // the sweep's widest row IS that op's search (ADVICE r13)
    Seq(2, 4, 8).map { b =>
      val pred = if (b == 8) beamTop3(annGraphBeam8(s, d)._1)
                 else beamTop3(annGraphSearchFull(adj, entries, qv, b)._1)
      hits(ex, pred)
        .agg(count(lit(1)).as("k"), count(col("hit")).as("n_hit"))
        .select(lit(b).as("beam"),
          lit(16 + 6 * b * 22).as("evals_bound"), col("n_hit"), recallAt3)
    }.reduce(_ unionByName _)
  }

  /** FILTERED graph ANN — the production serving shape (VERDICT r13
    * task 8): answer "nearest neighbors WHERE label = 3" from the graph
    * index, comparing the two strategies a serving stack actually
    * chooses between:
    *  - `postfilter`: run the plain width-8 walk, then keep matching
    *    nodes from the FINAL beam — the naive composition; when the
    *    filter is selective the 8-node beam may hold < 3 matches, so
    *    recall collapses (the same failure llm_ann_filtered measures
    *    on IVF).
    *  - `aware`: the SAME walk and the SAME frontier (filtering the
    *    beam itself would disconnect the traversal — non-matching hubs
    *    still route), but the result re-ranks every node the walk
    *    SCORED (entry sample + all hop expansions, ≤ 16 + 6·8·22 rows
    *    per query — the visited set the shared search already
    *    materializes), filtered to matches. Non-matching nodes are
    *    skipped in the OUTPUT without shrinking the frontier — the
    *    filter-during-search trade (Weaviate/Qdrant's allow-list
    *    filtering, HNSW's filtered ef) at beam granularity.
    * Both score against the exact FILTERED brute top-3 (10 broadcast
    * queries × one label-filtered corpus pass). Rides the memoized
    * beam-8 walk — the marginal cost is two ≤1100-row/query re-ranks
    * plus the truth pass, corpus-linear like every recall row. */
  def annGraphFiltered(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val (_, _, qv) = annGraphAdjacency(s, d)
    val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val (beam, visited) = annGraphBeam8(s, d)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc, col("node").asc)
    def strat(src: DataFrame, name: String): DataFrame =
      src.join(labels, src("node") === labels("vec_id"))
        .where(col("label") === 3)
        .select(col("qid"), col("node"), col("dist"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
        .select(lit(name).as("strategy"), col("qid"),
          col("node").as("cand_id"))
    val aware = strat(visited, "aware")
    val post = strat(beam, "postfilter")
    // exact FILTERED brute truth: label-3 corpus × 10 broadcast queries
    val ex3 = MemoUtil.scratch(exact(qv.join(labels, "vec_id")
      .where(col("label") === 3), evalQueries(qv)).localCheckpoint())
    filtered(aware.unionByName(post), ex3, "aware", "postfilter")
  }

  /** The memoized width-8 walk: (final beam, visited) — both eagerly
    * checkpointed so the tiny results survive the per-query scratch
    * drop between the three ops that share them. */
  private def annGraphBeam8(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    beam8Memo((s, d)) {
      val (adj, entries, qv) = annGraphAdjacency(s, d)
      val (beam, visited) = annGraphSearchFull(adj, entries, qv, 8)
      (beam.localCheckpoint(), visited.localCheckpoint())
    }

  /** Top-3 (qid, cand_id) readout of a final beam — the prediction set
    * every graph recall row scores. */
  private def beamTop3(beam: DataFrame): DataFrame = {
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc, col("node").asc)
    beam.withColumn("c", row_number().over(wq))
      .where(col("c") <= 3).select(col("qid"), col("node").as("cand_id"))
  }

  /** The beam walk over the 10 eval vectors (qid < 10), shared by
    * llm_ann_graph at width 8 and the sweep: annGraphSearchBatch with
    * the eval queries as its query side. */
  private def annGraphSearchFull(adj: DataFrame, entries: DataFrame,
                                 qv: DataFrame, width: Int)
      : (DataFrame, DataFrame) =
    annGraphSearchBatch(adj, entries, qv, evalQueries(qv), width)

  // ── llm_ann_graph_incremental ─────────────────────────────────────────

  /** INCREMENTAL GRAPH-INDEX MAINTENANCE — the graft half of the
    * vector-ingest story (llm_ann_ivf_incremental routes a delta shard
    * into IVF cells; this op attaches the same shard to the navigable
    * GRAPH — the HNSW insert shape): each new vector runs the standard
    * width-8 beam search against the FROZEN persisted graph
    * (efConstruction > M, the HNSW construction rule) and attaches to
    * its beam's 4 nearest nodes — the edges a server would add (plus
    * symmetric back-edges) to serve the new vector. The whole shard
    * searches the SAME frozen snapshot (batch grafting), which is what
    * makes the op deterministic and oracle-replayable: every search is
    * independent, so DuckDB replays the identical chain with the delta
    * dims as the query relation. Per new vector the work is the
    * bounded beam (≤ 16 + 6·8·22 distance evals — constant in corpus
    * size, the graph family's defining property), so ingest cost is
    * O(|delta|), never a rebuild; index × index work never re-runs
    * (the adjacency rides graphMemo). Output: the attachment edge
    * list (new_id, rank 1..4, dst, exact dist). */
  /** The synthesized ingest shard shared by the incremental graft and
    * the persisted store's v2 commit: every 17th base vector, nudged
    * +1000 on dim 0, re-keyed +10⁶ — the same shard the IVF ingest
    * family routes. */
  private def graphDelta(qv: DataFrame): DataFrame =
    qv.where(col("vec_id") % 17 === 3)
      .select((col("vec_id") + lit(1000000L)).as("qid"),
        expr("transform(qv, (x, i) -> x + IF(i = 0, 1000L, 0L))").as("qq"))

  def annGraphIncremental(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val (adj, entries, qv) = annGraphAdjacency(s, d)
    val delta = graphDelta(qv)
    val (beam, _) = annGraphSearchBatch(adj, entries, qv, delta, 8)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc, col("node").asc)
    beam.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 4)
      .select(col("qid").as("new_id"), col("rank"),
        col("node").as("dst"), col("dist"))
  }

  // ── llm_ann_graph_delete ──────────────────────────────────────────────

  /** GRAPH-NODE RETIREMENT — the delete leg of the graph index
    * (VERDICT r14 task 2's adjacency half; llm_ann_ivf_delete is the
    * postings half): the same tombstone slice (vec_id ≡ 5 mod 23)
    * retires its nodes from the FROZEN graph — every adjacency edge
    * touching a tombstone is dropped and tombstoned entry points are
    * skipped, which is exactly the logical view a server holds between
    * compactions (HNSW deletions mark nodes and filter them from
    * traversal; the physical edge rewrite waits for the sweep,
    * spec-pinned to empty the sidecar). The width-8 walk then runs on
    * the RETIRED graph — tombstones can never be visited, so they can
    * never be served (spec-asserted over the beam) — and recall@3 is
    * scored against the brute truth over SURVIVORS. Retirement costs
    * the walk nothing structurally: the curve successors and fingers
    * provide alternate routes around retired nodes (recall stays near
    * the base row's — measured, not assumed). At 100 TB the retired
    * adjacency is the same O(N·degree) edge list filtered by a
    * broadcast key slice; per-query work stays the family's constant
    * ≤ 16 + 6·8·22 evals. */
  /** The retired-graph served top-3 — package-private so the spec
    * asserts tombstone absence on the actual prediction lists. */
  private[graft] def annGraphDeletePred(s: SparkSession,
                                        d: String): DataFrame =
    // memo keyed on the tombstone slice (VERDICT r15 task 7): the
    // retired walk legitimately cannot ride beam8Memo — the graph
    // changed — but it IS deterministic per (session, dir, slice), so
    // later delete-family consumers (and a replayed bench pass) pay
    // the fresh build + walk once, not per call
    deleteWalkMemo((s, d, "mod23eq5")) {
      graft.GraftExtensions.register(s)
      val (adj, entries, qv) = annGraphAdjacency(s, d)
      val adjd = adj.where(col("src") % 23 =!= 5 && col("dst") % 23 =!= 5)
      val entd = entries.where(col("vec_id") % 23 =!= 5)
      beamTop3(annGraphSearchFull(adjd, entd, qv, 8)._1).localCheckpoint()
    }

  def annGraphDelete(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val (_, _, qv) = annGraphAdjacency(s, d)
    val pred = annGraphDeletePred(s, d)
    recall(exact(qv.where(col("vec_id") % 23 =!= 5), evalQueries(qv)), pred)
      .select(col("qid"), col("n_hit"), recallAt3)
  }

  // ── llm_ann_graph_persisted ───────────────────────────────────────────

  /** THE GRAPH INDEX AS A TABLE — the versioned-disk-store discipline
    * llm_ann_index_persisted gave the IVF family (VERDICT r15 task 1:
    * "the graph store is the missing second tenant"), applied to the
    * navigable graph: adjacency, entry lists, vectors, and the
    * retirement sidecar live as parquet dirs named by a TableLog head
    * (README "Stores"), so a server restart loses NOTHING —
    * the width-8 walk serves straight from disk with zero rebuild
    * (spec-asserted via the Lloyd build counter).
    *
    *   v1  adjacency/ + entries/ + vectors/        (the built graph)
    *   v2  + adjacency_d1/ + vectors_d1/           (the graft commit —
    *        the incremental shard's attachment edges, both directions,
    *        APPENDED; v1 files never rewritten)
    *   v3  + tombstones/                           (retirement — a
    *        SIDECAR; adjacency untouched)
    *   v4  adjacency2/ + entries2/                 (the edge-sweep
    *        compaction: tombstone-incident edges dropped, entries
    *        filtered, flip drops the sidecar)
    *
    * Serving resolves the head and walks width-8 over the head's edge
    * set — pre-sweep with the sidecar anti-joined on BOTH edge ends
    * (the MOR read: retired nodes are unreachable by construction of
    * the walk), post-sweep over the folded adjacency2 (the COW read).
    * Liveness for the truth pass is GRAPH-defined (a vector is live iff
    * the head's edge set still routes to it — `distinct src`), the
    * graph analogue of the IVF store's postings-defined liveness, so
    * the two phases are row-identical by construction: that equality IS
    * the sweep-correctness proof, and the DuckDB oracle replays one
    * serving and expects it twice. Vectors sweep lazily (the IVF-store
    * convention — vector files are the big immutable payload; liveness
    * never reads them as truth). At 100 TB: every commit is an append
    * or a sidecar plus one pointer flip; the sweep is one pass over the
    * edge list (O(N·degree)); per-query serving work stays the family's
    * constant ≤ 16 + 6·8·22 distance evals against point lookups. */
  /** Once-per-JVM staged v1 graph artifact (adjacency / entries /
    * vectors parquet dirs) — the TEMPLATE every fresh graph-store
    * instantiation file-copies (r17): graphStoreDir and each
    * sink_stream_graph invocation previously re-ran the same three
    * Spark writes of the identical memoized frames; the write now runs
    * once per JVM and instantiation is a flat file copy. */
  private def graphV1Template(s: SparkSession, d: String): String = {
    graft.GraftExtensions.register(s)
    StageUtil.staged("graphv1", d) { base =>
      val (adj, entries, qv) = annGraphAdjacency(s, d)
      adj.write.parquet(s"$base/adjacency")
      entries.write.parquet(s"$base/entries")
      qv.select(col("vec_id"), col("qv")).write.parquet(s"$base/vectors")
    }
  }

  private[graft] def graphStoreDir(s: SparkSession, d: String): String = {
    graft.GraftExtensions.register(s)
    StageUtil.staged("graphstore", d) { base =>
      val (_, _, qv) = annGraphAdjacency(s, d)
      // v1: the built graph (file-copied from the per-JVM template)
      copyTemplate(graphV1Template(s, d), base)
      TableLog.publish(base, "adjacency;entries;vectors;")
      // v2: the graft commit — the incremental shard's attachment
      // edges (forward + symmetric back-edges) and its vectors,
      // appended as new dirs
      val att = annGraphIncremental(s, d)
      att.select(col("new_id").as("src"), col("dst"))
        .unionByName(att.select(col("dst").as("src"),
          col("new_id").as("dst")))
        .write.parquet(s"$base/adjacency_d1")
      graphDelta(qv).select(col("qid").as("vec_id"), col("qq").as("qv"))
        .write.parquet(s"$base/vectors_d1")
      TableLog.publish(base,
        "adjacency,adjacency_d1;entries;vectors,vectors_d1;")
      // v3: the retirement commit — a sidecar, adjacency untouched
      qv.select(col("vec_id")).where(col("vec_id") % 23 === 5)
        .write.parquet(s"$base/tombstones")
      TableLog.publish(base,
        "adjacency,adjacency_d1;entries;vectors,vectors_d1;tombstones")
    }
  }

  /** head = "adjDirs;entryDirs;vecDirs;delDirs" (comma-separated each). */
  private[graft] def graphStoreHead(dir: String)
      : (Seq[String], Seq[String], Seq[String], Seq[String]) = {
    val Seq(adjs, ents, vecs, dels) = headSegments(TableLog.head(dir), 4)
    (adjs, ents, vecs, dels)
  }

  /** Resolve the current head ONCE into checkpointed frames + the
    * width-8 walk over them (storeHeadMemo — see its doc): returns
    * (adj sidecar-filtered, entries filtered, vecsAll, beam, visited),
    * every frame an eager memo-lifecycle checkpoint, so each distinct
    * head pays one head read + one walk per bench pass no matter how
    * many serves (filtered, unfiltered, pre/post) consume it. */
  private def graphStoreWalk(s: SparkSession, dir: String,
                             raw: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    graft.GraftExtensions.register(s)
    // `raw` is read ONCE by the caller and passed through (ADVICE r17:
    // a head flip between the serve-memo read and a second read here
    // would cache a new-head walk under the old head's key), mirroring
    // ivfStoreServeHead's single-read shape
    storeHeadMemo((s, dir, raw)) {
      val Seq(adjs, ents, vecDirs, dels) = headSegments(raw, 4)
      val adj0 = storeRead(s, dir, adjs)
      val ent0 = storeRead(s, dir, ents)
      // checkpoint only COMPUTED frames (r18): a tombstone-free head's
      // adjacency/entries/vectors are plain parquet unions over immutable
      // store dirs — materializing those into the block manager is a
      // copy job that buys nothing (the multi-hop readers re-scan tiny
      // columnar files instead of cached blocks). The sidecar-filtered
      // frames stay checkpointed: the anti-joins are real compute the
      // walk would otherwise redo per hop.
      val vecsAll =
        if (vecDirs.size > 1) storeRead(s, dir, vecDirs).localCheckpoint()
        else storeRead(s, dir, vecDirs)
      val (adj, ent) =
        if (dels.isEmpty) (adj0, ent0)
        else {
          val tomb = storeRead(s, dir, dels)
          (adj0
            .join(tomb.select(col("vec_id").as("src")), Seq("src"),
              "left_anti")
            .join(tomb.select(col("vec_id").as("dst")), Seq("dst"),
              "left_anti")
            .select(col("src"), col("dst")).localCheckpoint(),
            ent0.join(tomb, Seq("vec_id"), "left_anti").localCheckpoint())
        }
      val (beam, visited) = annGraphSearchFull(adj, ent, vecsAll, 8)
      // BOTH results eager: the memo outlives the building query, but
      // the walk's intra-loop lazy checkpoints are per-query SCRATCH —
      // a lazily-deferred memo value would reference hop RDDs whose
      // blocks the harness drops at the next drain point
      (adj, ent, vecsAll, beam.localCheckpoint(),
        visited.localCheckpoint())
    }
  }

  /** The edge-sweep compaction: drop every tombstone-incident edge
    * (both directions), filter the entry sample, flip the head to drop
    * the sidecar. Idempotent — an already-swept head is a no-op. */
  private[graft] def graphStoreSweep(s: SparkSession, dir: String): Unit = {
    val (adjs, ents, vecs, dels) = graphStoreHead(dir)
    if (dels.nonEmpty) {
      val tomb = storeRead(s, dir, dels)
      storeRead(s, dir, adjs)
        .join(tomb.select(col("vec_id").as("src")), Seq("src"), "left_anti")
        .join(tomb.select(col("vec_id").as("dst")), Seq("dst"), "left_anti")
        .select(col("src"), col("dst"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/adjacency2")
      storeRead(s, dir, ents)
        .join(tomb, Seq("vec_id"), "left_anti")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/entries2")
      TableLog.publish(dir, s"adjacency2;entries2;${vecs.mkString(",")};")
    }
  }

  /** One head-resolved serving pass: the width-8 walk over the head's
    * (sidecar-filtered) edge set and entry sample, recall@3 vs exact
    * truth over the GRAPH-live vectors. Everything reads THE STORE — no
    * source parquet, no lattice rebuild. */
  private[graft] def graphStoreServe(s: SparkSession,
                                     dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    // memoized per (session, dir, head) and eagerly checkpointed INSIDE
    // the memo build — callers that sweep after a serve (the pre/post
    // proof phases) rely on the pre read having physically happened
    // against the sidecar'd head, exactly as the previous per-call
    // localCheckpoint guaranteed
    val rawHead = TableLog.head(dir)
    storeServeMemo((s, dir, rawHead)) {
      val (adj, _, vecsAll, beam, _) = graphStoreWalk(s, dir, rawHead)
      val pred = beamTop3(beam)
      // graph-defined liveness: a vector is live iff the head's edge set
      // still routes to it (the IVF store's postings-defined liveness,
      // translated) — identical pre- and post-sweep by construction
      val live = vecsAll.join(
        adj.select(col("src").as("vec_id")).distinct(),
        Seq("vec_id"), "left_semi")
      recall(exact(live, evalQueries(vecsAll)), pred)
        .select(col("qid"), col("n_hit"), recallAt3)
        .localCheckpoint()
    }
  }

  /** FILTERED serve from the persisted store (VERDICT r16 task 6 —
    * "the metadata-filtered walk still runs against the in-memory
    * family"): llm_ann_graph_filtered's production strategy — the
    * plain width-8 walk with the result re-ranked from the VISITED set
    * under `label = 3` — run entirely against the `_HEAD` disk store,
    * pre- and post-sweep. The walk, frontier, and visited set are the
    * store family's (head-resolved edge set, sidecar anti-joined
    * pre-sweep); only the OUTPUT is label-filtered, so non-matching
    * hubs still route. Truth is the label-filtered brute top-3 over
    * the GRAPH-live vectors (the store's liveness rule), so pre ≡ post
    * row-for-row — serving parity between the MOR and COW reads for
    * the filtered path, which closes the last memo-vs-disk serving
    * asymmetry. Delta nodes carry no label row and drop from the
    * filtered output by the same inner join the oracle replays. Cost
    * over the unfiltered serve: one ≤16+6·8·22-row/query re-rank plus
    * the filtered truth pass. */
  /** (aware prediction list, filtered exact truth) over the current
    * head — split out so the spec can assert label/tombstone/delta
    * absence on the actual served candidates. */
  private def graphStoreFilteredParts(s: SparkSession, d: String,
                                      dir: String)
      : (DataFrame, DataFrame) = {
    graft.GraftExtensions.register(s)
    // memoized per (session, dir, head), both parts eagerly checkpointed
    // inside the build (the pre-sweep read must physically happen before
    // a caller sweeps) — and the walk itself rides graphStoreWalk, so a
    // head served by BOTH the filtered and unfiltered paths pays one
    // walk, not two
    val rawHead = TableLog.head(dir)
    storeFilteredMemo((s, dir, rawHead)) {
      val (adj, _, vecsAll, _, visited) = graphStoreWalk(s, dir, rawHead)
      val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val aware = topK(visited
        .join(labels, visited("node") === labels("vec_id"))
        .where(col("label") === 3)
        .select(col("qid"), col("node").as("cand_id"), col("dist")), 3)
        .select(col("qid"), col("cand_id"))
      val live = vecsAll.join(
        adj.select(col("src").as("vec_id")).distinct(),
        Seq("vec_id"), "left_semi")
      val ex3 = exact(live.join(labels, "vec_id").where(col("label") === 3),
        evalQueries(vecsAll))
      (aware.localCheckpoint(), ex3.localCheckpoint())
    }
  }

  private[graft] def graphStoreServeFilteredPred(s: SparkSession,
      d: String, dir: String): DataFrame =
    graphStoreFilteredParts(s, d, dir)._1

  private[graft] def graphStoreServeFiltered(s: SparkSession, d: String,
                                             dir: String): DataFrame = {
    val (aware, ex3) = graphStoreFilteredParts(s, d, dir)
    filtered(aware, ex3)
  }

  def annGraphPersistedFiltered(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val dir = graphStoreDir(s, d)
    // the filtered parts are materialized inside the head-keyed memo, so
    // the pre phase has physically read the sidecar'd head before the
    // sweep flips it — no extra per-call checkpoint needed
    val pre = graphStoreServeFiltered(s, d, dir)
      .select(lit("pre_sweep").as("phase"), col("qid"), col("n_ret"),
        col("n_hit"), col("n_truth"), col("recall_bp"))
    graphStoreSweep(s, dir)
    val post = graphStoreServeFiltered(s, d, dir)
      .select(lit("post_sweep").as("phase"), col("qid"), col("n_ret"),
        col("n_hit"), col("n_truth"), col("recall_bp"))
    pre.unionByName(post)
  }

  def annGraphPersisted(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val dir = graphStoreDir(s, d)
    // serve BEFORE the sweep (MOR read: sidecar anti-joined on both
    // edge ends) — the serve result is materialized inside the
    // head-keyed memo before the head flips — then sweep and serve the
    // folded head (COW read); equal rows are the proof
    val pre = graphStoreServe(s, dir)
      .select(lit("pre_sweep").as("phase"), col("qid"), col("n_hit"),
        col("recall_at_3"))
    graphStoreSweep(s, dir)
    val post = graphStoreServe(s, dir)
      .select(lit("post_sweep").as("phase"), col("qid"), col("n_hit"),
        col("recall_at_3"))
    pre.unionByName(post)
  }

  // ── sink_stream_graph (helpers; the op registers in StreamIO) ────────

  /** STREAMING MAINTENANCE OF THE PERSISTED GRAPH STORE (VERDICT r16
    * task 5 — sink_stream_vector's twin for the graph family): a
    * foreachBatch consumer folds each micro-batch of new vectors into
    * the `_HEAD` graph store as a GRAFT COMMIT — per batch, every new
    * vector beam-searches the store's PERSISTED BASE adjacency (the
    * frozen-snapshot rule that makes batch grafting deterministic,
    * llm_ann_graph_incremental's construction — so the stream's union
    * of commits is bit-equal to a one-shot graft of the full shard,
    * which is exactly what the oracle replays), attaches to its beam's
    * 4 nearest with symmetric back-edges, and the edges + vectors land
    * as appended generations under one head flip — a TableLog batch
    * commit (README "Stores"): vectors first, adjacency's _SUCCESS
    * marks the generation. The drained
    * store serves through graphStoreServe — the same head-resolved
    * walk every store consumer uses. At 100 TB: per-batch cost is
    * O(|batch|) bounded beams (≤ 16 + 6·8·22 evals each) + two
    * appends + a pointer flip; the base graph is never rewritten. */
  private[graft] def streamGraphStoreInit(s: SparkSession, d: String,
                                          dir: String): Unit = {
    graft.GraftExtensions.register(s)
    // fresh store = file copy of the per-JVM v1 template (r17) — the
    // identical artifact the three Spark writes produced per invocation
    copyTemplate(graphV1Template(s, d), dir)
    TableLog.publish(dir, "adjacency;entries;vectors;")
  }

  /** The ingest topic: the graft shard split into two parity files —
    * two REAL offset-tracked micro-batches under maxFilesPerTrigger=1. */
  private[graft] def streamGraphTopic(s: SparkSession, d: String): String = {
    graft.GraftExtensions.register(s)
    stageDeltaTopic("graphstream", d)(graphDelta(annGraphAdjacency(s, d)._3)
      .select(col("qid").as("new_id"), col("qq").as("dv")))
  }

  /** One micro-batch's graft commit into the store at `dir`. */
  private[graft] def streamGraphCommit(s: SparkSession, dir: String,
                                       batch: DataFrame, id: Long): Unit = {
    val aGen = s"adjacency_s$id"
    val vGen = s"vectors_s$id"
    def adopt(head: String): Option[String] = {
      val Seq(adjs, ents, vecs, dels) = headSegments(head, 4)
      Option.when(!adjs.contains(aGen))(
        s"${(adjs :+ aGen).mkString(",")};${ents.mkString(",")};" +
          s"${(vecs :+ vGen).mkString(",")};${dels.mkString(",")}")
    }
    TableLog.commitBatch(dir, aGen, adopt) { _ =>
      if (!batch.isEmpty) {
        graft.GraftExtensions.register(s)
        // the FROZEN base snapshot (v1 dirs are immutable): every batch
        // searches the same graph, so stream ≡ one-shot graft. The base
        // frames checkpoint ONCE per store (r17) — the 6-hop walk
        // otherwise re-scanned the vector/adjacency parquet on every
        // hop's score join, once per micro-batch
        val (adjBase, entBase, vecBase) =
          streamBaseMemo((s, dir)) {
            (Tables.read(s, s"$dir/adjacency").localCheckpoint(),
              Tables.read(s, s"$dir/entries"),
              Tables.read(s, s"$dir/vectors").localCheckpoint())
          }
        // vectors FIRST, adjacency second: adjacency's _SUCCESS is the
        // replay marker, so its existence implies the vectors landed;
        // Overwrite lets a replayed batch redo a torn generation
        batch.select(col("new_id").as("vec_id"), col("dv").as("qv"))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$vGen")
        val queries = batch.select(col("new_id").as("qid"),
          col("dv").as("qq"))
        val (beam, _) = annGraphSearchBatch(adjBase, entBase, vecBase, queries, 8)
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("dist").asc, col("node").asc)
        val att = beam.withColumn("rank", row_number().over(w))
          .where(col("rank") <= 4)
          .select(col("qid").as("new_id"), col("node").as("dst"))
        att.select(col("new_id").as("src"), col("dst"))
          .unionByName(att.select(col("dst").as("src"),
            col("new_id").as("dst")))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$aGen")
      }
    }
  }

  /** The batch-rebuild replay (referenced from StreamIO's oracle map):
    * one-shot graft attachments over the frozen base, walk over the
    * grafted edge set with store dims, recall vs graph-live truth —
    * streaming ingestion changes commit granularity, never serving. */
  private[graft] lazy val streamGraphOracle: String =
    annGraphBuildCtes +
      """ddim AS MATERIALIZED (
        |  SELECT vec_id + 1000000 AS vec_id, dim,
        |    q + CASE WHEN dim = 0 THEN 1000 ELSE 0 END AS q
        |  FROM dims WHERE vec_id % 17 = 3),
        |""".stripMargin + annGraphChainCtes("g", 8, "ddim") +
      """att AS MATERIALIZED (
        |  SELECT qid AS new_id, node AS dst FROM (
        |    SELECT qid, node,
        |      row_number() OVER (PARTITION BY qid ORDER BY dist, node) AS c
        |    FROM gb6) WHERE c <= 4),
        |adj2 AS MATERIALIZED (
        |  SELECT src, dst FROM adj
        |  UNION SELECT new_id, dst FROM att
        |  UNION SELECT dst, new_id FROM att),
        |sdim AS MATERIALIZED (
        |  SELECT vec_id, dim, q FROM dims
        |  UNION ALL SELECT vec_id, dim, q FROM ddim),
        |""".stripMargin +
      annGraphChainCtes("v", 8, "qdim", "adj2", "ent", "sdim") +
      """pred AS (
        |  SELECT qid, node AS cand_id FROM (
        |    SELECT qid, node,
        |      row_number() OVER (PARTITION BY qid ORDER BY dist, node) AS c
        |    FROM vb6) WHERE c <= 3),
        |lsrc AS MATERIALIZED (SELECT DISTINCT src AS vec_id FROM adj2),
        |exd AS MATERIALIZED (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM qdim dq JOIN sdim dc
        |    ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dc.vec_id IN (SELECT vec_id FROM lsrc)
        |  GROUP BY 1, 2),
        |ex3 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn
        |    FROM exd) WHERE rn <= 3)
        |SELECT e.qid, CAST(count(p.cand_id) AS BIGINT) AS n_hit,
        |  round(count(p.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3
        |FROM ex3 e LEFT JOIN pred p USING (qid, cand_id)
        |GROUP BY e.qid""".stripMargin

  /** The 6-hop, width-`width` beam walk for an ARBITRARY query set
    * (qid, qq) over a prebuilt graph: monotone — each hop keeps the best
    * `width` of beam ∪ expansion, so the final beam dominates the entry
    * sample. The entry cross carries the ≤16-row entry sample as its
    * broadcast side (the query side SCALES with the shard and streams),
    * and the per-hop score joins are plain equi-joins with no broadcast
    * pin, so Spark shuffles them once the shard outgrows a broadcast.
    * Returns (final beam, VISITED) — visited is every (qid, node, dist)
    * the walk ever scored (entry sample + all hop expansions, ≤ 16 +
    * 6·width·22 rows per query), the set the filter-aware variant
    * re-ranks: a filtered result can draw on everything the walk
    * evaluated, not just the surviving beam, without widening the
    * frontier. Callers that need only the beam never run visited's
    * union. */
  private[graft] def annGraphSearchBatch(adj: DataFrame, entries: DataFrame,
                                         qv: DataFrame, queries: DataFrame,
                                         width: Int): (DataFrame, DataFrame) = {
    // FUSED hop mechanics (r18, guide §2.4): the beam rides between hops
    // as ONE ROW PER QUERY holding a sorted (dist, node) struct array —
    // the per-hop `union + distinct() + row_number window` pair of
    // shuffles collapses into a single groupBy(qid) whose
    // sort_array → array_distinct → slice reproduces the window's
    // (dist ASC, node ASC) top-`width` EXACTLY (struct sort is
    // lexicographic by field order; equal (dist, node) pairs are the
    // only duplicates possible since dist is a function of (qid, node)).
    // The query vector qq rides the beam row (max over one repeated
    // value — first() is nondeterministic by contract), so the per-hop
    // score join against `queries` disappears too. Per hop: explode,
    // the adj equi-join, the qv score equi-join, ONE aggregate — no
    // sorts, no distinct exchange, and the per-query state is
    // width-bounded at any corpus size. Intra-loop lineage cuts stay
    // LAZY (r17, guide §1.2/§2.4): each hop's beam and expansion feed
    // two consumers, the consumer's single action materializes the
    // whole chain as one job.
    val topW = slice(array_distinct(sort_array(
      collect_list(struct(col("dist"), col("node"))))), 1, width)
    def scored(cands: DataFrame): DataFrame =
      cands.join(qv, cands("node") === qv("vec_id"))
        .select(col("qid"), col("qq"), col("node"),
          expr("squared_distance(qv, qq)").as("dist"))
    def merged(cands: DataFrame): DataFrame = MemoUtil.scratch(cands
      .groupBy(col("qid"))
      .agg(max(col("qq")).as("qq"), topW.as("beam"))
      .localCheckpoint(false))
    val entryScored = MemoUtil.scratch(scored(queries
        .crossJoin(broadcast(entries.select(col("vec_id").as("node"))))
        .where(col("node") =!= col("qid"))).localCheckpoint(false))
    var visited = entryScored.select(col("qid"), col("node"), col("dist"))
    var beamA = merged(entryScored)
    for (_ <- 1 to 6) {
      // no per-hop distinct on the expansion (r17): duplicate (qid, node)
      // candidates are bounded by beam·degree, cost one extra scored row
      // each, and both downstream consumers re-dedup (the beam merge via
      // array_distinct, visited via its final distinct)
      val expanded = beamA
        .select(col("qid"), col("qq"), explode(col("beam.node")).as("node"))
        .join(adj, col("node") === col("src"))
        .select(col("qid"), col("qq"), col("dst").as("node"))
        .where(col("node") =!= col("qid"))
      val sc = MemoUtil.scratch(scored(expanded).localCheckpoint(false))
      visited = visited.unionByName(
        sc.select(col("qid"), col("node"), col("dist")))
      val carried = beamA
        .select(col("qid"), col("qq"), explode(col("beam")).as("b"))
        .select(col("qid"), col("qq"), col("b.node").as("node"),
          col("b.dist").as("dist"))
      beamA = merged(carried.unionByName(sc))
    }
    val beam = beamA.select(col("qid"), explode(col("beam")).as("b"))
      .select(col("qid"), col("b.node").as("node"), col("b.dist").as("dist"))
    (beam, visited.distinct())
  }

  /** The (adjacency, entry sample, quantized lattice) behind
    * llm_ann_graph — package-private so LlmScaleSpec asserts the
    * bounded-degree, connectivity, and entry invariants on the graph
    * itself. Checkpointed scratch (multi-reader: 6 beam hops + spec). */
  private[graft] def annGraphAdjacency(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) =
    graphMemo((s, d))(annGraphAdjacencyBuild(s, d))

  private def annGraphAdjacencyBuild(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    graft.GraftExtensions.register(s)
    val (qv, _, a2, _) = lloyd(s, d)
    val pj = qv.select(col("vec_id"),
      expr("qv[0] + qv[1] + qv[2] + qv[3]").as("proj"))
    // distributed global rank: range-partition the total order, rank
    // within partitions (keyed window), add broadcast prefix offsets —
    // |partitions|-row driver metadata, no single global window
    val parted = pj.repartitionByRange(32, col("proj"), col("vec_id"))
      .withColumn("pid", spark_partition_id())
    val partedCk = MemoUtil.scratch(parted.localCheckpoint())
    val counts = partedCk.groupBy(col("pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, n) =>
      val o = (pid, acc); acc += n; o
    }.toSeq
    val total = acc
    import s.implicits._
    val offDf = broadcast(offsets.toDF("pid", "off"))
    val wp = Window.partitionBy(col("pid"))
      .orderBy(col("proj").asc, col("vec_id").asc)
    val rk = MemoUtil.scratch(partedCk
      .withColumn("lrn", row_number().over(wp))
      .join(offDf, "pid")
      .select(col("vec_id"), (col("lrn") + col("off")).as("rn"))
      .localCheckpoint())
    // proximity candidates: same Lloyd cell ∪ ±8 curve ranks (the
    // bucketed equi-join — every qualifying pair meets exactly once)
    val cellPairs = a2.select(col("vec_id").as("src"), col("cluster"))
      .join(a2.select(col("vec_id").as("dst"), col("cluster")), "cluster")
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val right = rk.select(col("vec_id").as("dst"), col("rn").as("drn"),
      expr("rn DIV 8").as("bk"))
    val winPairs = rk
      .withColumn("bo", explode(lit(Array(-1, 0, 1))))
      .select(col("vec_id").as("src"), col("rn").as("srn"),
        (expr("rn DIV 8") + col("bo")).as("bk"))
      .join(right, "bk")
      .where(col("src") =!= col("dst") &&
        abs(col("srn") - col("drn")) <= 8)
      .select(col("src"), col("dst"))
    val pairs = cellPairs.unionByName(winPairs).distinct()
      .join(qv.select(col("vec_id").as("src"), col("qv").as("sv")), "src")
      .join(qv.select(col("vec_id").as("dst"), col("qv").as("dv")), "dst")
      .select(col("src"), col("dst"),
        expr("squared_distance(sv, dv)").as("dist"))
    val wsrc = Window.partitionBy(col("src"))
      .orderBy(col("dist").asc, col("dst").asc)
    val knn4 = pairs.withColumn("c", row_number().over(wsrc))
      .where(col("c") <= 4).select(col("src"), col("dst"), col("dist"))
    val sym = knn4.unionByName(
      knn4.select(col("dst").as("src"), col("src").as("dst"), col("dist")))
      .distinct()
    val capped = sym.withColumn("c", row_number().over(wsrc))
      .where(col("c") <= 8).select(col("src"), col("dst"))
    // navigation: curve successor (connectivity) + geometric fingers
    val succ = rk.as("a").join(rk.as("b"),
        col("b.rn") === col("a.rn") + 1)
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
    val fingersFwd = rk
      .withColumn("st", explode(lit(Array(16L, 64L, 256L, 1024L, 4096L,
        16384L))))
      .select(col("vec_id").as("src"), (col("rn") + col("st")).as("trn"))
      .join(rk.select(col("vec_id").as("dst"), col("rn").as("trn")), "trn")
      .select(col("src"), col("dst"))
    def bothWays(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    // memo-lifecycle checkpoints (NOT scratch — Verify drops scratch
    // after every query, and the memoized graph must survive into the
    // sweep/filtered ops): adj and entries are freed by resetLloydMemo
    val adj =
      capped.unionByName(bothWays(succ)).unionByName(bothWays(fingersFwd))
        .distinct().localCheckpoint()
    // fixed entry sample: ranks 1, 1+⌈N/16⌉, … — ≤16 nodes spread
    // across the curve, so no query starts more than N/32 ranks from
    // its region before the fingers shortcut the rest
    val stride = math.max(1L, (total + 15L) / 16L)
    val entries = rk.where((col("rn") - 1) % stride === 0)
      .select(col("vec_id")).localCheckpoint()
    (adj, entries, qv)
  }

  /** Per-dimension SCALAR quantization (SQ8) retrieval eval — the third
    * leg of the accuracy-per-byte trio beside truncation
    * (llm_ann_matryoshka) and codebooks (llm_ann_pq_recall): compress
    * each dimension independently to 8 bits on a uniform [min, max]
    * grid learned from ONE 64-row corpus aggregate (the FAISS
    * ScalarQuantizer / Lucene int8 HNSW trade — 4× smaller vectors, no
    * codebook training, distances decompress-free). Search is
    * ASYMMETRIC like ADC: the query stays exact, candidates rank by
    * their reconstructed (dequantized) lattice points; recall@3 scores
    * against the shared `exactQTop3` full-precision ground truth. The
    * grid math is the same max(1, range div 255) integer step as
    * llm_ann_opq's ablation grid, so the two rows read together: OPQ
    * measures WHERE the grid error concentrates, SQ8 measures what that
    * error costs in ranking. One 64-row min/max aggregate (map-side
    * combined) broadcast back as a sorted struct array, one zero-shuffle
    * reconstruct map, then the bounded 10-query broadcast brute pass
    * every recall row uses — corpus-linear, never a pair space. */
  def annSq8(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val qv = Tables.embeddings(s, d).select(col("vec_id"), lattice().as("qv"))
    val rng = qv
      .select(posexplode(col("qv")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .select(col("dim"), col("mn"),
        greatest(lit(1L), expr("(mx - mn) DIV 255")).as("step"))
      .groupBy()
      .agg(expr("array_sort(collect_list(struct(dim, mn, step)))").as("r"))
    // reconstruct: mn + min(255, (x - mn) div step)·step + step div 2 —
    // x ≥ mn so every division operand is nonnegative (trunc ≡ floor)
    val recon = qv.crossJoin(broadcast(rng))
      .select(col("vec_id"), expr(
        """transform(sequence(0, 63), i ->
          |  element_at(r, i + 1).mn
          |  + least(255L, (element_at(qv, i + 1) - element_at(r, i + 1).mn)
          |                DIV element_at(r, i + 1).step)
          |    * element_at(r, i + 1).step
          |  + element_at(r, i + 1).step DIV 2)""".stripMargin).as("rv"))
    val sq3 = exact(recon, evalQueries(qv), "squared_distance(rv, qq)")
    recall(exactQTop3(s, d), sq3).select(col("qid"), col("n_hit"), recallAt3)
  }

  /** ColBERT-style LATE-INTERACTION retrieval (MaxSim) — the scoring
    * family between single-vector ANN (one dot per candidate, loses
    * token locality) and cross-encoders (a model call per pair,
    * unaffordable as a first stage): every vector is viewed as 8 token
    * vectors of 8 dims (contiguous slices of the 64-dim lattice — the
    * multi-vector layout ColBERT/PLAID store), and
    * score(q, d) = Σ_i max_j ⟨q_tok_i, d_tok_j⟩ — each query token
    * matches its best document token independently, which is what lets
    * late interaction reward partial/aligned matches a pooled vector
    * averages away. Top-3 candidates per query by (score DESC, id ASC),
    * exact BIGINT lattice dots (8-dim dot ≤ 8·(2·10⁶)² < 2⁶³). Shape:
    * 10 broadcast queries × ONE corpus scan with the 8×8 dot/max/sum
    * fold fused per row (512 mults, zero shuffle before the bounded
    * top-3 window) — per-candidate work is 8× a plain dot, the
    * documented MaxSim cost, never a token-pair shuffle (exploding
    * tokens would shuffle 64 rows per (q, d) pair for the same fold).
    * In production the first-stage ANN rows prune candidates and this
    * op is the re-rank pass over their union. */
  def colbertMaxsim(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val qv = Tables.embeddings(s, d).select(col("vec_id"), lattice().as("qv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("maxsim").desc, col("cand_id").asc)
    qv.crossJoin(broadcast(evalQueries(qv)))
      .where(col("vec_id") =!= col("qid"))
      // maxsim8 (custom codegen'd Expression): the 8×8×8 dot/max/sum
      // fold fused in one native loop — the three-deep SQL-HOF spelling
      // interprets boxed lambdas per element
      .select(col("qid"), col("vec_id").as("cand_id"),
        expr("maxsim8(qq, qv)").as("maxsim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("cand_id"), col("maxsim"))
  }

  /** RESIDUAL IVFPQ (the full FAISS IVFADC shape, r11 — closing the ANN
    * family after flat PQ): a coarse quantizer (the deterministic 8-bit
    * sign cells, llm_ann_ivf's stand-in for trained coarse centroids)
    * partitions the corpus; every vector is re-expressed as the
    * RESIDUAL against its cell's integer centroid; PQ trains on the
    * residuals (residuals are tighter than raw vectors around zero, so
    * the same 16-codeword budget quantizes finer — the reason every
    * production IVFPQ encodes residuals); search probes the query's own
    * cell plus its 8 hamming-1 neighbors, computes the query's residual
    * AGAINST EACH PROBED CELL's centroid (IVFADC: the distance table is
    * per (query, cell)), and ADC-ranks only candidates living in probed
    * cells — per-query work is nprobe·(N/cells), never a corpus pass.
    * A candidate matches through exactly one probed cell (its own), so
    * no dedup step exists. All arithmetic exact integers; every argmin
    * is (dist ASC, id ASC); centroid means floor like the PQ recenter.
    * The oracle replays coarse cells → residuals → the SHARED
    * pqTrainCtes → per-cell distance tables → ADC top-3. */
  /** Quantized-vector + coarse-cell base table for the residual
    * pipeline — cheap one-scan derivation, rebuilt per consumer (the
    * expensive construction below is what memoizes). */
  private def pqResidualBase(s: SparkSession, d: String): DataFrame = {
    val cellE =
      """aggregate(transform(sequence(0, 7),
        |  i -> IF(element_at(embedding, i + 1) > 0, shiftleft(1, i), 0)),
        |0, (a, x) -> a + x)""".stripMargin
    Tables.embeddings(s, d).select(col("vec_id"), lattice().as("qv"),
      expr(cellE).as("cell"))
  }

  private def pqResidualTop3(s: SparkSession, d: String): DataFrame =
    pqResidualMemo((s, d)) {
    graft.GraftExtensions.register(s)
    val M = 8
    val base = pqResidualBase(s, d)
    // per-cell integer centroid (floor mean per dim, the PQ recenter
    // discipline) — |cells| ≤ 256 rows of 64 longs → broadcast
    val cent = base.select(col("cell"), posexplode(col("qv")))
      .groupBy(col("cell"), col("pos"))
      .agg(floor(sum(col("col")).cast("double") / count(lit(1)))
        .cast("long").as("c"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cv"))
    // residual subvectors (vec_id, cell, m, sv[8]) — multi-reader
    // (train, encode), so one lineage cut
    val rsub = MemoUtil.scratch(base.join(broadcast(cent), "cell")
      .select(col("vec_id"), col("cell"),
        expr("zip_with(qv, cv, (a, b) -> a - b)").as("rv"))
      .select(col("vec_id"), col("cell"), posexplode(
        expr(s"transform(sequence(0, ${M - 1}), m -> slice(rv, m * 8 + 1, 8))")))
      .select(col("vec_id"), col("cell"), col("pos").as("m"), col("col").as("sv"))
      .localCheckpoint())
    // seed numbering: orderBy().limit(16) plans TakeOrderedAndProject
    // (distributed top-k), so the row_number window ranks ≤16 rows —
    // the bm25 limit-beneath-the-window discipline, not a keyless
    // window over the scan (PlanLintSpec gates that class)
    val seeds = base.where(col("vec_id") < 16)
      .select(col("vec_id")).orderBy(col("vec_id")).limit(16)
      .select(col("vec_id"),
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).as("j"))
    val c0 = rsub.join(broadcast(seeds), "vec_id")
      .select(col("m"), col("j"), col("sv").as("cv"))
    def encodeWith(cb: DataFrame): DataFrame =
      rsub.join(broadcast(cb), "m")
        .select(col("vec_id"), col("m"), col("j"),
          expr("squared_distance(sv, cv)").as("dist"))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("dist"), col("j"))).as("mm"))
        .select(col("vec_id"), col("m"), col("mm.j").as("code"))
    val a1 = encodeWith(c0)
    val c1 = rsub.join(a1.withColumnRenamed("code", "j"), Seq("vec_id", "m"))
      .select(col("m"), col("j"), posexplode(col("sv")))
      .groupBy(col("m"), col("j"), col("pos"))
      .agg(floor(sum(col("col")).cast("double") / count(lit(1)))
        .cast("long").as("c"))
      .groupBy(col("m"), col("j"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cv"))
    val codes = encodeWith(c1)
    // probes: own cell + 8 flips; query residual PER PROBED CELL (inner
    // join cent: an empty probed cell has no candidates either)
    val probes = base.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("qv").as("qq"), explode(expr(
        "array_union(array(cell), transform(sequence(0, 7), j -> int(cell ^ shiftleft(1, j))))"))
        .as("pcell"))
    val qres = probes
      .join(broadcast(cent.withColumnRenamed("cell", "pcell")), "pcell")
      .select(col("qid"), col("pcell"), posexplode(expr(
        s"transform(sequence(0, ${M - 1}), m -> slice(zip_with(qq, cv, (a, b) -> a - b), m * 8 + 1, 8))")))
      .select(col("qid"), col("pcell"), col("pos").as("m"), col("col").as("rq"))
    // per-(query, cell) codeword distance tables: ≤ 10·9·8·16 rows
    val dtab = qres.join(broadcast(c1), "m")
      .select(col("qid"), col("pcell"), col("m").as("tm"), col("j"),
        expr("squared_distance(rq, cv)").as("dt"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("adist").asc, col("cand_id").asc)
    codes.select(col("vec_id").as("cand_id"), col("m"), col("code"))
      .join(base.select(col("vec_id").as("cand_id"), col("cell").as("ccell")),
        "cand_id")
      .join(broadcast(dtab),
        col("m") === col("tm") && col("code") === col("j")
          && col("ccell") === col("pcell"))
      .where(col("cand_id") =!= col("qid"))
      .groupBy(col("qid"), col("cand_id"))
      .agg(sum(col("dt")).as("adist"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= 3)
      .localCheckpoint()
    }

  def annPqResidual(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val base = pqResidualBase(s, d)
    // exact original-space distance beside the estimate (30-row side)
    pqResidualTop3(s, d)
      .join(base.select(col("vec_id").as("qid"), col("qv").as("qq2")), "qid")
      .join(base.select(col("vec_id").as("cand_id"), col("qv").as("cq2")),
        "cand_id")
      .select(col("qid"), col("rank"), col("cand_id"),
        col("adist").cast("long").as("adist"),
        expr("squared_distance(qq2, cq2)").as("exact_dist"))
  }

  /** Residual-PQ recall@3 (VERDICT r11 task 8 — every approximate
    * index in the repo ships with its measured recall): the IVFADC
    * top-3 vs the exact brute top-3 in the ORIGINAL quantized space —
    * so the readout charges the index for BOTH loss sources, the
    * residual-PQ distance approximation and coarse-cell misses (a true
    * neighbor living outside the 9 probed cells can never be found —
    * the honesty llm_ann_recall established for the IVF index). Same
    * brute shape as llm_ann_pq_recall: 10 broadcast query vectors over
    * one corpus pass; rides the memoized IVFADC construction. */
  def annPqResidualRecall(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val r3 = pqResidualTop3(s, d).select(col("qid"), col("cand_id"))
    recall(exactQTop3(s, d), r3).select(col("qid"), col("n_hit"), recallAt3)
  }


  /** Per-cluster topic labeling over the shared Lloyd clustering (the
    * "what IS each embedding cluster" readout every corpus-exploration
    * pipeline runs after k-means — cluster ids alone are useless to a
    * curator): documents join their round-2 cluster assignment, and
    * each cluster's top-3 terms rank by DOCUMENT-FREQUENCY LIFT —
    * (df_in_cluster / docs_in_cluster) / (df_total / docs_total) in
    * 10⁶ fixed point, computed as one exact integer expression (a
    * PMI-style concentration score; ln-idf degenerates to all-zero on
    * a small shared vocabulary, measured, while lift stays ordered).
    * Ties break (tf desc, tok asc) — a total order. df ≥ 2 inside the
    * cluster gates singleton noise.
    *
    * At-scale: rides the memoized Lloyd assignment (no second
    * clustering pass); the (cluster, tok, doc) distinct and the two
    * df aggregates partial map-side; the per-term global df table
    * joins term-keyed; ranking is one window over K·|vocab| rows —
    * corpus size enters only through the one token scan. */
  def clusterTopics(s: SparkSession, d: String): DataFrame = {
    val (_, _, a2, _) = lloyd(s, d)
    val docTok = Tables.documents(s, d)
      .join(a2, col("doc_id") === col("vec_id"))
      .select(col("cluster"), col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
    val perDoc = docTok.select(col("cluster"), col("doc_id"), col("tok"))
      .distinct()
    val dfc = perDoc.groupBy(col("cluster"), col("tok"))
      .agg(count(lit(1)).as("df_c"))
    val dft = perDoc.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df_tot"))
    val sizes = a2.groupBy(col("cluster")).agg(count(lit(1)).as("n_docs_c"))
    val tot = a2.agg(count(lit(1)).as("n_docs"))
    val tf = docTok.groupBy(col("cluster"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("lift_fp").desc, col("tf").desc, col("tok"))
    dfc.where(col("df_c") >= 2)
      .join(dft, "tok")
      .join(broadcast(sizes), "cluster")
      .crossJoin(broadcast(tot))
      .join(tf, Seq("cluster", "tok"))
      .withColumn("lift_fp",
        expr("df_c * n_docs * 1000000L div (n_docs_c * df_tot)"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("cluster"), col("rank"), col("tok"), col("tf"),
        col("df_c"), col("lift_fp"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_ann_pq" -> annPq _,
    "llm_ann_pq_recall" -> annPqRecall _,
    "llm_ann_matryoshka" -> annMatryoshka _,
    "llm_ann_sq8" -> annSq8 _,
    "llm_colbert_maxsim" -> colbertMaxsim _,
    "llm_ann_pq_residual" -> annPqResidual _,
    "llm_ann_pq_residual_recall" -> annPqResidualRecall _,
    "llm_cooccur" -> cooccur _,
    "llm_inverted_index" -> invertedIndex _,
    "llm_domain_mix" -> domainMix _,
    "llm_mix_temperature" -> mixTemperature _,
    "llm_perplexity_proxy" -> perplexityProxy _,
    "llm_decontaminate" -> decontaminate _,
    "llm_decontaminate_bloom" -> decontaminateBloom _,
    "llm_pack_sequences" -> packSequences _,
    "llm_pack_sweep" -> packSweep _,
    "llm_ann_opq" -> annOpq _,
    "llm_ann_opq_recall" -> annOpqRecall _,
    "llm_kmeans" -> kmeans _,
    "llm_cluster_topics" -> clusterTopics _,
    "llm_kmeans_twolevel" -> kmeansTwoLevel _,
    "llm_semdedup" -> semdedup _,
    "llm_bpe_stats" -> bpeStats _,
    "llm_bpe_train" -> bpeTrain _,
    "llm_bpe_apply" -> bpeApply _,
    "llm_pca_power" -> pcaPower _,
    "llm_rlhf_pairs" -> rlhfPairs _,
    "llm_url_normalize" -> urlNormalize _,
    "llm_dataset_card" -> datasetCard _,
    "llm_repetition_filter" -> repetitionFilter _,
    "llm_tfidf" -> tfidf _,
    "llm_ann_ivf_kmeans" -> annIvfKmeans _,
    "llm_ann_ivf_incremental" -> annIvfIncremental _,
    "llm_ann_ivf_incremental_recall" -> annIvfIncrementalRecall _,
    "llm_ann_ivf_rebalance" -> annIvfRebalance _,
    "llm_ann_ivf_rebalance_recall" -> annIvfRebalanceRecall _,
    "llm_ann_ivf_delete" -> annIvfDelete _,
    "llm_ann_index_persisted" -> annIndexPersisted _,
    "llm_ann_store_asof" -> annStoreAsof _,
    "llm_gram_matrix" -> gramMatrix _,
    "llm_dedup_substring" -> dedupSubstring _,
    "llm_ann_recall" -> annRecall _,
    "llm_ann_filtered" -> annFiltered _,
    "llm_ann_recall_sweep" -> annRecallSweep _,
    "llm_ann_graph" -> annGraph _,
    "llm_ann_graph_sweep" -> annGraphSweep _,
    "llm_ann_graph_filtered" -> annGraphFiltered _,
    "llm_ann_graph_incremental" -> annGraphIncremental _,
    "llm_ann_graph_delete" -> annGraphDelete _,
    "llm_ann_graph_persisted" -> annGraphPersisted _,
    "llm_ann_graph_persisted_filtered" -> annGraphPersistedFiltered _
  )

  /** Hierarchical-assign CTE block, prefix `p`: per-dim centroid table
    * `cent` (cid, dim, c) → `aOut` (vec_id, cluster). A line-for-line
    * transcription of lloydBuild's `assign`: mini-Lloyd the K cells into
    * K₁ = max(2, ⌊√K⌋) supercells (seed = K₁ smallest cids, one
    * recenter, reassign), route each point nearest-LIVE-supercell-first,
    * then exact argmin over that supercell's fine cells. All arithmetic
    * BIGINT, all argmins (dist ASC, id ASC). */
  private def hierCtes(p: String, cent: String, aOut: String): String =
    s""",
      |${p}k1 AS (
      |  SELECT greatest(2, CAST(floor(sqrt(count(DISTINCT cid)::DOUBLE))
      |    AS BIGINT)) AS k1 FROM $cent),
      |${p}ss AS (
      |  SELECT cid, scid FROM (
      |    SELECT cid, (row_number() OVER (ORDER BY cid) - 1) AS scid
      |    FROM (SELECT DISTINCT cid FROM $cent))
      |  WHERE scid < (SELECT k1 FROM ${p}k1)),
      |${p}s0 AS (
      |  SELECT s.scid, c.dim, c.c FROM $cent c JOIN ${p}ss s USING (cid)),
      |${p}fd1 AS (
      |  SELECT c.cid, s.scid, sum((c.c - s.c) * (c.c - s.c)) AS dist
      |  FROM $cent c JOIN ${p}s0 s USING (dim) GROUP BY 1, 2),
      |${p}fa1 AS (
      |  SELECT cid, scid FROM (
      |    SELECT cid, scid, row_number() OVER (PARTITION BY cid
      |      ORDER BY dist ASC, scid ASC) AS rn FROM ${p}fd1) WHERE rn = 1),
      |${p}s1 AS MATERIALIZED (
      |  SELECT f.scid, c.dim,
      |    CAST(floor(sum(c.c)::DOUBLE / count(*)) AS BIGINT) AS c
      |  FROM $cent c JOIN ${p}fa1 f USING (cid) GROUP BY 1, 2),
      |${p}fd2 AS (
      |  SELECT c.cid, s.scid, sum((c.c - s.c) * (c.c - s.c)) AS dist
      |  FROM $cent c JOIN ${p}s1 s USING (dim) GROUP BY 1, 2),
      |${p}fa2 AS MATERIALIZED (
      |  SELECT cid, scid FROM (
      |    SELECT cid, scid, row_number() OVER (PARTITION BY cid
      |      ORDER BY dist ASC, scid ASC) AS rn FROM ${p}fd2) WHERE rn = 1),
      |${p}pd AS (
      |  SELECT d.vec_id, s.scid, sum((d.q - s.c) * (d.q - s.c)) AS dist
      |  FROM dims d JOIN ${p}s1 s USING (dim)
      |  WHERE s.scid IN (SELECT DISTINCT scid FROM ${p}fa2)
      |  GROUP BY 1, 2),
      |${p}pa AS (
      |  SELECT vec_id, scid FROM (
      |    SELECT vec_id, scid, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist ASC, scid ASC) AS rn FROM ${p}pd) WHERE rn = 1),
      |${p}pf AS (
      |  SELECT p.vec_id, f.cid, sum((d.q - c.c) * (d.q - c.c)) AS dist
      |  FROM ${p}pa p
      |  JOIN ${p}fa2 f USING (scid)
      |  JOIN dims d ON d.vec_id = p.vec_id
      |  JOIN $cent c ON c.cid = f.cid AND c.dim = d.dim
      |  GROUP BY 1, 2),
      |$aOut AS MATERIALIZED (
      |  SELECT vec_id, cid AS cluster FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist ASC, cid ASC) AS rn FROM ${p}pf) WHERE rn = 1)""".stripMargin

  /** Shared oracle CTE chain replaying `lloyd` (corpus-scaled K → dims →
    * seeds → two hierarchical assign/recenter rounds → a2), used by
    * llm_kmeans / llm_semdedup / the ann/twolevel chains. */
  private val lloydCtes: String =
    """WITH nk AS MATERIALIZED (
      |  SELECT greatest(4, count(*) // 128) AS k FROM embeddings),
      |dims AS MATERIALIZED (
      |  SELECT vec_id, i - 1 AS dim,
      |    CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS q
      |  FROM embeddings, range(1, 65) r(i)),
      |seeds AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id,
      |      (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid
      |    FROM (SELECT min(vec_id) AS vec_id FROM embeddings
      |          WHERE vec_id < 64 * (SELECT k FROM nk)
      |          GROUP BY embedding))
      |  WHERE cid < (SELECT k FROM nk)),
      |c0 AS MATERIALIZED (
      |  SELECT s.cid, d.dim, d.q AS c
      |  FROM dims d JOIN seeds s USING (vec_id))""".stripMargin +
      hierCtes("r1", "c0", "a1") + """,
      |c1 AS MATERIALIZED (
      |  SELECT a1.cluster AS cid, dims.dim,
      |    CAST(floor(sum(dims.q)::DOUBLE / count(*)) AS BIGINT) AS c
      |  FROM dims JOIN a1 USING (vec_id) GROUP BY a1.cluster, dims.dim)""".stripMargin +
      hierCtes("r2", "c1", "a2")

  /** IVF probe/candidate CTE chain (round-2 centroids → nprobe=2 probes
    * → in-cell candidate distances), shared by the llm_ann_ivf_kmeans
    * and llm_ann_recall oracles. Appends to lloydCtes. */
  private val annIvfCtes: String =
    """,
      |c2 AS MATERIALIZED (
      |  SELECT a2.cluster, dims.dim,
      |    CAST(floor(sum(dims.q)::DOUBLE / count(*)) AS BIGINT) AS c
      |  FROM dims JOIN a2 USING (vec_id) GROUP BY a2.cluster, dims.dim),
      |qd AS (
      |  SELECT d.vec_id AS qid, c2.cluster,
      |    sum((d.q - c2.c) * (d.q - c2.c)) AS cdist
      |  FROM dims d JOIN c2 USING (dim)
      |  WHERE d.vec_id < 10
      |  GROUP BY 1, 2),
      |pr AS (
      |  SELECT qid, cluster FROM (
      |    SELECT qid, cluster,
      |      row_number() OVER (PARTITION BY qid
      |                         ORDER BY cdist ASC, cluster ASC) AS rn
      |    FROM qd) WHERE rn <= 2),
      |cd AS (
      |  SELECT pr.qid, a2.vec_id AS cand_id, pr.cluster,
      |    CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS dist
      |  FROM pr
      |  JOIN a2 ON a2.cluster = pr.cluster AND a2.vec_id != pr.qid
      |  JOIN dims dq ON dq.vec_id = pr.qid
      |  JOIN dims dc ON dc.vec_id = a2.vec_id AND dc.dim = dq.dim
      |  GROUP BY 1, 2, 3)""".stripMargin

  /** The PQ construction CTE chain (shared by llm_ann_pq and
    * llm_ann_pq_recall): quantize → subspace split → seed → one Lloyd
    * round → encode → distance tables → ADC top-3 (`t3`). */
  /** PQ training replay (seeds → one Lloyd round → codes), referencing
    * a `dims` CTE of (vec_id, dim, m, q) — shared verbatim between the
    * raw-vector pipeline (llm_ann_pq, dims = quantized embeddings) and
    * the residual pipeline (llm_ann_pq_residual, dims = coarse-cell
    * residuals): the training math is identical, only the vector space
    * differs. */
  /** The PQ training replay (seed → assign → recenter → re-encode) over
    * an arbitrary dims relation, CTE names prefixed so two independent
    * trainings can live in one WITH (llm_ann_opq_recall trains plain +
    * rotated side by side). The un-prefixed `pqTrainCtes` below is the
    * verbatim text the pq/residual oracle chains have shared since r8. */
  private def pqTrainCtesFor(p: String, dims: String): String =
    s"""${p}seeds AS (
       |  SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1) AS j
       |  FROM (SELECT DISTINCT vec_id FROM $dims WHERE vec_id < 16)),
       |${p}c0 AS MATERIALIZED (
       |  SELECT s.j, d.m, d.dim, d.q AS c
       |  FROM $dims d JOIN ${p}seeds s USING (vec_id)),
       |${p}d1 AS (
       |  SELECT d.vec_id, d.m, c.j, sum((d.q - c.c) * (d.q - c.c)) AS dist
       |  FROM $dims d JOIN ${p}c0 c ON c.m = d.m AND c.dim = d.dim
       |  GROUP BY 1, 2, 3),
       |${p}a1 AS MATERIALIZED (
       |  SELECT vec_id, m, j FROM (
       |    SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist ASC, j ASC) AS rn FROM ${p}d1) WHERE rn = 1),
       |${p}c1 AS MATERIALIZED (
       |  SELECT a.m, a.j, d.dim,
       |    CAST(floor(sum(d.q)::DOUBLE / count(*)) AS BIGINT) AS c
       |  FROM $dims d JOIN ${p}a1 a ON a.vec_id = d.vec_id AND a.m = d.m
       |  GROUP BY 1, 2, 3),
       |${p}d2 AS (
       |  SELECT d.vec_id, d.m, c.j, sum((d.q - c.c) * (d.q - c.c)) AS dist
       |  FROM $dims d JOIN ${p}c1 c ON c.m = d.m AND c.dim = d.dim
       |  GROUP BY 1, 2, 3),
       |${p}codes AS MATERIALIZED (
       |  SELECT vec_id, m, j AS code FROM (
       |    SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist ASC, j ASC) AS rn FROM ${p}d2) WHERE rn = 1)""".stripMargin

  private val pqTrainCtes: String = pqTrainCtesFor("", "dims")

  /** Residual-IVFPQ replay through the ADC top-3 (`rt3`) — coarse sign
    * cells → per-cell floor-mean centroid → residual dims → the SHARED
    * pqTrainCtes (identical training text) → per-(query, probed-cell)
    * distance tables → top-3 over candidates in probed cells only.
    * Shared verbatim by llm_ann_pq_residual (exact-space re-rank tail)
    * and llm_ann_pq_residual_recall (brute-top-3 recall tail). */
  private lazy val pqResidualCtes: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_reduce(list_prepend(0::BIGINT,
      |      [CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i)
      |            ELSE 0 END for i in range(0, 8)]),
      |      (a, x) -> a + x) AS cell
      |  FROM embeddings),
      |dims0 AS MATERIALIZED (
      |  SELECT e.vec_id, i - 1 AS dim, (i - 1) // 8 AS m,
      |    CAST(round(e.embedding[i]::DOUBLE * 1000000) AS BIGINT) AS q,
      |    c.cell
      |  FROM embeddings e JOIN cells c USING (vec_id), range(1, 65) r(i)),
      |cent AS MATERIALIZED (
      |  SELECT cell, dim,
      |    CAST(floor(sum(q)::DOUBLE / count(*)) AS BIGINT) AS c
      |  FROM dims0 GROUP BY 1, 2),
      |dims AS MATERIALIZED (
      |  SELECT d.vec_id, d.dim, d.m, d.q - ct.c AS q
      |  FROM dims0 d JOIN cent ct ON ct.cell = d.cell AND ct.dim = d.dim),
      |""".stripMargin + pqTrainCtes + """,
      |probes AS (
      |  SELECT vec_id AS qid,
      |    unnest(list_distinct(list_prepend(cell,
      |      [xor(cell, 1::BIGINT << jj) for jj in range(0, 8)]))) AS pcell
      |  FROM cells WHERE vec_id < 10),
      |qres AS MATERIALIZED (
      |  SELECT p.qid, p.pcell, d.dim, d.m, d.q - ct.c AS rq
      |  FROM probes p
      |  JOIN dims0 d ON d.vec_id = p.qid
      |  JOIN cent ct ON ct.cell = p.pcell AND ct.dim = d.dim),
      |rdtab AS MATERIALIZED (
      |  SELECT q.qid, q.pcell, q.m, c.j,
      |    sum((q.rq - c.c) * (q.rq - c.c)) AS dt
      |  FROM qres q JOIN c1 c ON c.m = q.m AND c.dim = q.dim
      |  GROUP BY 1, 2, 3, 4),
      |rad AS (
      |  SELECT t.qid, k.vec_id AS cand_id, CAST(sum(t.dt) AS BIGINT) AS adist
      |  FROM codes k
      |  JOIN cells kc ON kc.vec_id = k.vec_id
      |  JOIN rdtab t ON t.m = k.m AND t.j = k.code AND t.pcell = kc.cell
      |  WHERE k.vec_id != t.qid
      |  GROUP BY 1, 2),
      |rt3 AS MATERIALIZED (
      |  SELECT qid, cand_id, adist, rank FROM (
      |    SELECT qid, cand_id, adist,
      |      CAST(row_number() OVER (PARTITION BY qid
      |        ORDER BY adist ASC, cand_id ASC) AS INTEGER) AS rank
      |    FROM rad) WHERE rank <= 3)""".stripMargin

  private val pqCtes: String =
    """WITH dims AS MATERIALIZED (
      |  SELECT vec_id, i - 1 AS dim, (i - 1) // 8 AS m,
      |    CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS q
      |  FROM embeddings, range(1, 65) r(i)),
      |""".stripMargin + pqTrainCtes + """,
      |dtab AS (
      |  SELECT d.vec_id AS qid, d.m, c.j, sum((d.q - c.c) * (d.q - c.c)) AS dt
      |  FROM dims d JOIN c1 c ON c.m = d.m AND c.dim = d.dim
      |  WHERE d.vec_id < 10
      |  GROUP BY 1, 2, 3),
      |ad AS (
      |  SELECT t.qid, k.vec_id AS cand_id,
      |         CAST(sum(t.dt) AS BIGINT) AS adist
      |  FROM codes k JOIN dtab t ON t.m = k.m AND t.j = k.code
      |  WHERE k.vec_id != t.qid
      |  GROUP BY 1, 2),
      |top AS (
      |  SELECT qid, cand_id, adist,
      |    CAST(row_number() OVER (PARTITION BY qid
      |                       ORDER BY adist ASC, cand_id ASC) AS INTEGER)
      |      AS rank
      |  FROM ad),
      |t3 AS (SELECT * FROM top WHERE rank <= 3)""".stripMargin

  /** One BPE oracle round: pair census + argmax + greedy fold. All
    * round CTEs are MATERIALIZED — DuckDB inlines plain CTEs and each
    * round references its predecessor twice (the graph_kcore lesson). */
  private def bpeRound(i: Int): String = {
    val prev = s"sy${i - 1}"
    s"""p$i AS MATERIALIZED (
       |  SELECT s.pa AS pa, s.pb AS pb, CAST(sum(c) AS BIGINT) AS cnt
       |  FROM (
       |    SELECT c, unnest([{'pa': a[j], 'pb': a[j+1]}
       |                      for j in range(1, len(a))]) AS s
       |    FROM (SELECT c, string_split(s, '|') AS a FROM $prev))
       |  GROUP BY 1, 2),
       |t$i AS MATERIALIZED (
       |  SELECT pa, pb, cnt FROM p$i ORDER BY cnt DESC, pa, pb LIMIT 1),
       |sy$i AS MATERIALIZED (
       |  SELECT c, list_reduce(list_prepend('', string_split(y.s, '|')),
       |    (acc, x) -> CASE WHEN acc = '' THEN x
       |      WHEN regexp_extract(acc, '([^|]*)$$', 1) = t.pa AND x = t.pb
       |        THEN acc || t.pb
       |      ELSE acc || '|' || x END) AS s
       |  FROM $prev y, t$i t)""".stripMargin
  }

  private val bpeTrainSql =
    """WITH wc AS (
      |  SELECT w, count(*) AS c FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w != '' AND NOT contains(w, '|')
      |  GROUP BY w HAVING length(w) >= 2),
      |sy0 AS MATERIALIZED (
      |  SELECT c, array_to_string(string_split(w, ''), '|') AS s FROM wc),
      |""".stripMargin +
      (1 to 3).map(bpeRound).mkString(",\n") +
      """
        |SELECT 1 AS iteration, pa AS lhs, pb AS rhs, pa || pb AS merged,
        |       cnt AS pair_count FROM t1
        |UNION ALL SELECT 2, pa, pb, pa || pb, cnt FROM t2
        |UNION ALL SELECT 3, pa, pb, pa || pb, cnt FROM t3""".stripMargin

  /** bpeRound twin that CARRIES the word key through the fold (the
    * apply op needs word → final symbols; election is identical). */
  private def bpeApplyRound(i: Int): String = {
    val prev = s"ay${i - 1}"
    s"""q$i AS MATERIALIZED (
       |  SELECT s.pa AS pa, s.pb AS pb, CAST(sum(c) AS BIGINT) AS cnt
       |  FROM (
       |    SELECT c, unnest([{'pa': a[j], 'pb': a[j+1]}
       |                      for j in range(1, len(a))]) AS s
       |    FROM (SELECT c, string_split(s, '|') AS a FROM $prev))
       |  GROUP BY 1, 2),
       |u$i AS MATERIALIZED (
       |  SELECT pa, pb FROM q$i ORDER BY cnt DESC, pa, pb LIMIT 1),
       |ay$i AS MATERIALIZED (
       |  SELECT w, c, list_reduce(list_prepend('', string_split(y.s, '|')),
       |    (acc, x) -> CASE WHEN acc = '' THEN x
       |      WHEN regexp_extract(acc, '([^|]*)$$', 1) = t.pa AND x = t.pb
       |        THEN acc || t.pb
       |      ELSE acc || '|' || x END) AS s
       |  FROM $prev y, u$i t)""".stripMargin
  }

  private val bpeApplySql =
    """WITH wr AS (
      |  SELECT lang, w FROM (
      |    SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w != '' AND NOT contains(w, '|')),
      |lw AS (SELECT lang, w, count(*) AS n FROM wr GROUP BY 1, 2),
      |wc AS (
      |  SELECT w, count(*) AS c FROM wr
      |  GROUP BY w HAVING length(w) >= 2),
      |ay0 AS MATERIALIZED (
      |  SELECT w, c, array_to_string(string_split(w, ''), '|') AS s
      |  FROM wc),
      |""".stripMargin +
      (1 to 3).map(bpeApplyRound).mkString(",\n") +
      """,
        |enc AS (
        |  SELECT w, CAST(len(string_split(s, '|')) AS BIGINT) AS n_syms
        |  FROM ay3),
        |per AS (
        |  SELECT lang, n, coalesce(e.n_syms, 1) AS n_syms,
        |    CAST(len(string_split(lw.w, '')) AS BIGINT) AS n_chars
        |  FROM lw LEFT JOIN enc e ON lw.w = e.w)
        |SELECT lang, CAST(sum(n) AS BIGINT) AS n_words,
        |  CAST(sum(n * n_chars) AS BIGINT) AS chars_before,
        |  CAST(sum(n * n_syms) AS BIGINT) AS toks_after,
        |  CAST(sum(CASE WHEN n_syms < n_chars THEN n ELSE 0 END) AS BIGINT)
        |    AS words_compressed,
        |  (CAST(sum(n * n_syms) AS BIGINT) * 10000)
        |    // CAST(sum(n * n_chars) AS BIGINT) AS ratio_bp
        |FROM per GROUP BY lang""".stripMargin

  /** One power round over the exact n²-covariance m: matvec, L∞ max,
    * sign-preserving truncating renormalization to 10³. */
  private def pcaRound(k: Int): String = {
    val prev = if (k == 1) "pv0" else s"pv${k - 1}"
    s"""pw$k AS MATERIALIZED (
       |  SELECT m.i, CAST(sum(m.mv * v.v) AS BIGINT) AS w
       |  FROM m JOIN $prev v ON v.i = m.j GROUP BY m.i),
       |pmx$k AS MATERIALIZED (SELECT max(abs(w)) AS mx FROM pw$k),
       |pv$k AS MATERIALIZED (
       |  SELECT i, CASE WHEN mx = 0 THEN 0
       |    ELSE (CASE WHEN w < 0 THEN -1 WHEN w > 0 THEN 1 ELSE 0 END)
       |         * ((abs(w) * 1000) // mx) END AS v
       |  FROM pw$k, pmx$k)""".stripMargin
  }

  private val pcaPowerSql =
    """WITH q AS (
      |  SELECT vec_id, i - 1 AS dim,
      |    CAST(round(embedding[i]::DOUBLE * 1000) AS BIGINT) AS q
      |  FROM embeddings, range(1, 65) r(i)),
      |g AS (
      |  SELECT a.dim AS i, b.dim AS j, CAST(sum(a.q * b.q) AS BIGINT) AS gram
      |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
      |s AS (SELECT dim, CAST(sum(q) AS BIGINT) AS s FROM q GROUP BY dim),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
      |m AS MATERIALIZED (
      |  SELECT g.i, g.j, n * gram - si.s * sj.s AS mv
      |  FROM g JOIN s si ON si.dim = g.i JOIN s sj ON sj.dim = g.j, nn),
      |pv0 AS (SELECT dim AS i, 1000::BIGINT AS v FROM s),
      |""".stripMargin +
      (1 to 3).map(pcaRound).mkString(",\n") +
      """,
        |tot AS (SELECT CAST(sum(abs(v)) AS BIGINT) AS t FROM pv3)
        |SELECT i AS dim, v AS v_fp, (abs(v) * 10000) // t AS share_bp
        |FROM pv3, tot""".stripMargin

  /** llm_ann_graph replayed line-for-line over the SAME lloyd lattice
    * CTEs the kmeans-family oracles use: cell ∪ ±8-curve candidates →
    * top-4 + symmetrize + cap-8 + curve/finger navigation edges →
    * the rank-spread 16-entry sample → 6 unrolled beam hops (AS
    * MATERIALIZED — the iterative-CTE discipline) → recall vs the
    * exact brute top-3. */
  private val annGraphBuildCtes: String = {
    val prefix = lloydCtes +
      """,
        |pj AS MATERIALIZED (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN dim < 4 THEN q ELSE 0 END) AS BIGINT) AS proj
        |  FROM dims GROUP BY 1),
        |rk AS MATERIALIZED (
        |  SELECT vec_id, row_number() OVER (ORDER BY proj, vec_id) AS rn
        |  FROM pj),
        |cnd AS MATERIALIZED (
        |  SELECT a.vec_id AS src, b.vec_id AS dst
        |  FROM a2 a JOIN a2 b
        |    ON b.cluster = a.cluster AND a.vec_id != b.vec_id
        |  UNION
        |  SELECT a.vec_id, b.vec_id
        |  FROM rk a JOIN rk b
        |    ON b.rn BETWEEN a.rn - 8 AND a.rn + 8 AND a.vec_id != b.vec_id),
        |pdist AS MATERIALIZED (
        |  SELECT p.src, p.dst,
        |    CAST(sum((da.q - db.q) * (da.q - db.q)) AS BIGINT) AS dist
        |  FROM cnd p
        |  JOIN dims da ON da.vec_id = p.src
        |  JOIN dims db ON db.vec_id = p.dst AND db.dim = da.dim
        |  GROUP BY 1, 2),
        |knn AS MATERIALIZED (
        |  SELECT src, dst, dist FROM (
        |    SELECT src, dst, dist,
        |      row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS c
        |    FROM pdist) WHERE c <= 4),
        |sym AS (
        |  SELECT src, dst, dist FROM knn
        |  UNION
        |  SELECT dst, src, dist FROM knn),
        |cap AS (
        |  SELECT src, dst FROM (
        |    SELECT src, dst,
        |      row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS c
        |    FROM sym) WHERE c <= 8),
        |succ AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst
        |  FROM rk a JOIN rk b ON b.rn = a.rn + 1),
        |fing AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst
        |  FROM rk a
        |  CROSS JOIN (VALUES (16), (64), (256), (1024), (4096),
        |              (16384)) f(st)
        |  JOIN rk b ON b.rn = a.rn + f.st),
        |adj AS MATERIALIZED (
        |  SELECT src, dst FROM cap
        |  UNION SELECT src, dst FROM succ
        |  UNION SELECT dst, src FROM succ
        |  UNION SELECT src, dst FROM fing
        |  UNION SELECT dst, src FROM fing),
        |qdim AS MATERIALIZED (
        |  SELECT vec_id, dim, q FROM dims WHERE vec_id < 10),
        |ent AS (
        |  SELECT vec_id FROM rk
        |  WHERE (rn - 1) % (SELECT (count(*) + 15) // 16 FROM pj) = 0),
        |""".stripMargin
    prefix
  }

  /** One width-`w` beam chain, CTE names prefixed `p`: entry b0 capped
    * at w, then 6 expand→score→re-cap hops. `qdim` names the query-side
    * per-dim relation — `qdim` (the 10 eval queries) for the recall
    * rows, the synthesized delta dims for the incremental graft. */
  private def annGraphChainCtes(p: String, w: Int,
                                qdim: String = "qdim",
                                adjT: String = "adj",
                                entT: String = "ent",
                                cdim: String = "dims"): String = {
    val b0 =
      s"""${p}b0 AS MATERIALIZED (
         |  SELECT qid, node, dist FROM (
         |    SELECT qid, node, dist,
         |      row_number() OVER (PARTITION BY qid ORDER BY dist, node) AS c
         |    FROM (
         |      SELECT dq.vec_id AS qid, e.vec_id AS node,
         |        CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS dist
         |      FROM $entT e
         |      JOIN $cdim dc ON dc.vec_id = e.vec_id
         |      JOIN $qdim dq ON dq.dim = dc.dim AND dq.vec_id != e.vec_id
         |      GROUP BY 1, 2)) WHERE c <= $w),
         |""".stripMargin
    val hops = (1 to 6).map { h =>
      s"""${p}e$h AS MATERIALIZED (
         |  SELECT DISTINCT b.qid, a.dst AS node
         |  FROM ${p}b${h - 1} b JOIN $adjT a ON a.src = b.node
         |  WHERE a.dst != b.qid),
         |${p}s$h AS MATERIALIZED (
         |  SELECT e.qid, e.node,
         |    CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS dist
         |  FROM ${p}e$h e
         |  JOIN $qdim dq ON dq.vec_id = e.qid
         |  JOIN $cdim dc ON dc.vec_id = e.node AND dc.dim = dq.dim
         |  GROUP BY 1, 2),
         |${p}b$h AS MATERIALIZED (
         |  SELECT qid, node, dist FROM (
         |    SELECT qid, node, dist,
         |      row_number() OVER (PARTITION BY qid ORDER BY dist, node) AS c
         |    FROM (SELECT qid, node, dist FROM ${p}b${h - 1}
         |          UNION SELECT qid, node, dist FROM ${p}s$h))
         |  WHERE c <= $w),
         |""".stripMargin
    }.mkString
    b0 + hops
  }

  private val annGraphExactCtes: String =
    """exd AS MATERIALIZED (
      |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
      |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
      |  FROM qdim dq JOIN dims dc
      |    ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
      |  GROUP BY 1, 2),
      |ex3 AS MATERIALIZED (
      |  SELECT qid, cand_id FROM (
      |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
      |      ORDER BY dist ASC, cand_id ASC) AS rn
      |    FROM exd) WHERE rn <= 3)
      |""".stripMargin

  private lazy val annGraphOracleFull: String =
    annGraphBuildCtes + annGraphChainCtes("", 8) +
      """pred AS (
        |  SELECT qid, node AS cand_id FROM (
        |    SELECT qid, node,
        |      row_number() OVER (PARTITION BY qid ORDER BY dist, node) AS c
        |    FROM b6) WHERE c <= 3),
        |""".stripMargin + annGraphExactCtes +
      """SELECT e.qid, CAST(count(p.cand_id) AS BIGINT) AS n_hit,
        |  round(count(p.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3
        |FROM ex3 e LEFT JOIN pred p USING (qid, cand_id)
        |GROUP BY e.qid""".stripMargin

  /** The sweep: three chains over ONE shared graph build + ground
    * truth, scored per width. */
  private lazy val annGraphSweepOracle: String =
    annGraphBuildCtes +
      annGraphChainCtes("w2", 2) + annGraphChainCtes("w4", 4) +
      annGraphChainCtes("w8", 8) +
      """preds AS (
        |  SELECT 2 AS beam, qid, node FROM (
        |    SELECT qid, node, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist, node) AS c FROM w2b6) WHERE c <= 3
        |  UNION ALL
        |  SELECT 4, qid, node FROM (
        |    SELECT qid, node, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist, node) AS c FROM w4b6) WHERE c <= 3
        |  UNION ALL
        |  SELECT 8, qid, node FROM (
        |    SELECT qid, node, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist, node) AS c FROM w8b6) WHERE c <= 3),
        |""".stripMargin + annGraphExactCtes +
      """SELECT b.beam, 16 + 6 * b.beam * 22 AS evals_bound,
        |  CAST(count(p.node) AS BIGINT) AS n_hit,
        |  round(count(p.node) / count(*)::DOUBLE, 4) AS recall_at_3
        |FROM (VALUES (2), (4), (8)) b(beam)
        |CROSS JOIN ex3 e
        |LEFT JOIN preds p
        |  ON p.beam = b.beam AND p.qid = e.qid AND p.node = e.cand_id
        |GROUP BY b.beam""".stripMargin

  /** Filtered graph ANN replay: the width-8 chain (b6 = final beam,
    * s1..s6 = hop scores) + the uncapped entry scores rebuild the
    * VISITED set; both strategies re-rank it / the final beam under
    * label = 3, scored against the label-filtered brute top-3. */
  private lazy val annGraphFilteredOracle: String =
    annGraphBuildCtes + annGraphChainCtes("", 8) +
      """vis AS MATERIALIZED (
        |  SELECT qid, node, dist FROM (
        |    SELECT dq.vec_id AS qid, e.vec_id AS node,
        |      CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS dist
        |    FROM ent e
        |    JOIN dims dc ON dc.vec_id = e.vec_id
        |    JOIN qdim dq ON dq.dim = dc.dim AND dq.vec_id != e.vec_id
        |    GROUP BY 1, 2)
        |  UNION SELECT qid, node, dist FROM s1
        |  UNION SELECT qid, node, dist FROM s2
        |  UNION SELECT qid, node, dist FROM s3
        |  UNION SELECT qid, node, dist FROM s4
        |  UNION SELECT qid, node, dist FROM s5
        |  UNION SELECT qid, node, dist FROM s6),
        |lab AS MATERIALIZED (SELECT vec_id, label FROM embeddings),
        |aware AS (
        |  SELECT qid, node AS cand_id FROM (
        |    SELECT v.qid, v.node,
        |      row_number() OVER (PARTITION BY v.qid
        |        ORDER BY v.dist, v.node) AS c
        |    FROM vis v JOIN lab l ON l.vec_id = v.node
        |    WHERE l.label = 3) WHERE c <= 3),
        |post AS (
        |  SELECT qid, node AS cand_id FROM (
        |    SELECT b.qid, b.node,
        |      row_number() OVER (PARTITION BY b.qid
        |        ORDER BY b.dist, b.node) AS c
        |    FROM b6 b JOIN lab l ON l.vec_id = b.node
        |    WHERE l.label = 3) WHERE c <= 3),
        |fexd AS MATERIALIZED (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM qdim dq JOIN dims dc
        |    ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dc.vec_id IN (SELECT vec_id FROM lab WHERE label = 3)
        |  GROUP BY 1, 2),
        |fex3 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn
        |    FROM fexd) WHERE rn <= 3),
        |ftruth AS (
        |  SELECT qid, CAST(count(*) AS BIGINT) AS n_truth
        |  FROM fex3 GROUP BY 1),
        |appr AS (
        |  SELECT 'aware' AS strategy, qid, cand_id FROM aware
        |  UNION ALL
        |  SELECT 'postfilter' AS strategy, qid, cand_id FROM post),
        |fhits AS (
        |  SELECT a.strategy, a.qid, CAST(count(*) AS BIGINT) AS n_ret,
        |    CAST(count(e.cand_id) AS BIGINT) AS n_hit
        |  FROM appr a LEFT JOIN fex3 e
        |    ON e.qid = a.qid AND e.cand_id = a.cand_id
        |  GROUP BY 1, 2)
        |SELECT s.strategy, t.qid,
        |  CAST(coalesce(h.n_ret, 0) AS BIGINT) AS n_ret,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  t.n_truth,
        |  CAST(coalesce(h.n_hit, 0) * 10000 // t.n_truth AS BIGINT)
        |    AS recall_bp
        |FROM (VALUES ('aware'), ('postfilter')) s(strategy)
        |CROSS JOIN ftruth t
        |LEFT JOIN fhits h ON h.strategy = s.strategy AND h.qid = t.qid""".stripMargin

  def oracle: Map[String, String] = Map(
    "llm_ann_graph" -> annGraphOracleFull,
    "llm_ann_graph_sweep" -> annGraphSweepOracle,
    "llm_ann_graph_filtered" -> annGraphFilteredOracle,
    // the graft replay: the same build CTEs, the chain parameterized on
    // the delta dims (every insert searches the FROZEN graph, so the
    // batch is one independent chain), top-4 attachments per new node
    "llm_ann_graph_incremental" ->
      (annGraphBuildCtes +
        """ddim AS MATERIALIZED (
          |  SELECT vec_id + 1000000 AS vec_id, dim,
          |    q + CASE WHEN dim = 0 THEN 1000 ELSE 0 END AS q
          |  FROM dims WHERE vec_id % 17 = 3),
          |""".stripMargin + annGraphChainCtes("g", 8, "ddim") +
        """att AS (
          |  SELECT qid AS new_id, node AS dst, dist,
          |    row_number() OVER (PARTITION BY qid
          |      ORDER BY dist, node) AS rank
          |  FROM gb6)
          |SELECT new_id, CAST(rank AS INT) AS rank, dst, dist
          |FROM att WHERE rank <= 4""".stripMargin),
    // node retirement: the same build, the walk re-chained over the
    // tombstone-filtered adjacency/entries, truth over survivors
    "llm_ann_graph_delete" ->
      (annGraphBuildCtes +
        """adjd AS MATERIALIZED (
          |  SELECT src, dst FROM adj
          |  WHERE src % 23 != 5 AND dst % 23 != 5),
          |entd AS (SELECT vec_id FROM ent WHERE vec_id % 23 != 5),
          |""".stripMargin +
        annGraphChainCtes("t", 8, "qdim", "adjd", "entd") +
        """pred AS (
          |  SELECT qid, node AS cand_id FROM (
          |    SELECT qid, node,
          |      row_number() OVER (PARTITION BY qid ORDER BY dist, node) AS c
          |    FROM tb6) WHERE c <= 3),
          |exd AS MATERIALIZED (
          |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
          |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
          |  FROM qdim dq JOIN dims dc
          |    ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
          |  WHERE dc.vec_id % 23 != 5
          |  GROUP BY 1, 2),
          |ex3 AS MATERIALIZED (
          |  SELECT qid, cand_id FROM (
          |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
          |      ORDER BY dist ASC, cand_id ASC) AS rn
          |    FROM exd) WHERE rn <= 3)
          |SELECT e.qid, CAST(count(p.cand_id) AS BIGINT) AS n_hit,
          |  round(count(p.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3
          |FROM ex3 e LEFT JOIN pred p USING (qid, cand_id)
          |GROUP BY e.qid""".stripMargin),
    // the persisted store's serving replay: frozen-graph graft chain →
    // attachment edges (v2), tombstone-filtered union adjacency (v3 MOR
    // view ≡ v4 swept adjacency2), the width-8 walk re-chained over it
    // with store dims (base ∪ delta) as the candidate relation, truth
    // over the GRAPH-live vectors; both phases read the same rows
    "llm_ann_graph_persisted" ->
      (annGraphBuildCtes +
        """ddim AS MATERIALIZED (
          |  SELECT vec_id + 1000000 AS vec_id, dim,
          |    q + CASE WHEN dim = 0 THEN 1000 ELSE 0 END AS q
          |  FROM dims WHERE vec_id % 17 = 3),
          |""".stripMargin + annGraphChainCtes("g", 8, "ddim") +
        """att AS MATERIALIZED (
          |  SELECT qid AS new_id, node AS dst FROM (
          |    SELECT qid, node,
          |      row_number() OVER (PARTITION BY qid ORDER BY dist, node) AS c
          |    FROM gb6) WHERE c <= 4),
          |tomb AS (SELECT vec_id FROM pj WHERE vec_id % 23 = 5),
          |adj2 AS MATERIALIZED (
          |  SELECT src, dst FROM (
          |    SELECT src, dst FROM adj
          |    UNION SELECT new_id, dst FROM att
          |    UNION SELECT dst, new_id FROM att)
          |  WHERE src NOT IN (SELECT vec_id FROM tomb)
          |    AND dst NOT IN (SELECT vec_id FROM tomb)),
          |entd2 AS (
          |  SELECT vec_id FROM ent
          |  WHERE vec_id NOT IN (SELECT vec_id FROM tomb)),
          |sdim AS MATERIALIZED (
          |  SELECT vec_id, dim, q FROM dims
          |  UNION ALL SELECT vec_id, dim, q FROM ddim),
          |""".stripMargin +
        annGraphChainCtes("v", 8, "qdim", "adj2", "entd2", "sdim") +
        """pred AS (
          |  SELECT qid, node AS cand_id FROM (
          |    SELECT qid, node,
          |      row_number() OVER (PARTITION BY qid ORDER BY dist, node) AS c
          |    FROM vb6) WHERE c <= 3),
          |lsrc AS MATERIALIZED (SELECT DISTINCT src AS vec_id FROM adj2),
          |exd AS MATERIALIZED (
          |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
          |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
          |  FROM qdim dq JOIN sdim dc
          |    ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
          |  WHERE dc.vec_id IN (SELECT vec_id FROM lsrc)
          |  GROUP BY 1, 2),
          |ex3 AS MATERIALIZED (
          |  SELECT qid, cand_id FROM (
          |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
          |      ORDER BY dist ASC, cand_id ASC) AS rn
          |    FROM exd) WHERE rn <= 3),
          |one AS MATERIALIZED (
          |  SELECT e.qid, CAST(count(p.cand_id) AS BIGINT) AS n_hit,
          |    round(count(p.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3
          |  FROM ex3 e LEFT JOIN pred p USING (qid, cand_id)
          |  GROUP BY e.qid)
          |SELECT 'pre_sweep' AS phase, qid, n_hit, recall_at_3 FROM one
          |UNION ALL
          |SELECT 'post_sweep', qid, n_hit, recall_at_3 FROM one""".stripMargin),
    // filtered serve from the store: the same store chain (grafted +
    // tombstone-filtered adjacency, store dims), visited set re-ranked
    // under label = 3, truth = label-filtered brute over GRAPH-live
    // vectors; pre ≡ post by the sweep-equivalence construction
    "llm_ann_graph_persisted_filtered" ->
      (annGraphBuildCtes +
        """ddim AS MATERIALIZED (
          |  SELECT vec_id + 1000000 AS vec_id, dim,
          |    q + CASE WHEN dim = 0 THEN 1000 ELSE 0 END AS q
          |  FROM dims WHERE vec_id % 17 = 3),
          |""".stripMargin + annGraphChainCtes("g", 8, "ddim") +
        """att AS MATERIALIZED (
          |  SELECT qid AS new_id, node AS dst FROM (
          |    SELECT qid, node,
          |      row_number() OVER (PARTITION BY qid ORDER BY dist, node) AS c
          |    FROM gb6) WHERE c <= 4),
          |tomb AS (SELECT vec_id FROM pj WHERE vec_id % 23 = 5),
          |adj2 AS MATERIALIZED (
          |  SELECT src, dst FROM (
          |    SELECT src, dst FROM adj
          |    UNION SELECT new_id, dst FROM att
          |    UNION SELECT dst, new_id FROM att)
          |  WHERE src NOT IN (SELECT vec_id FROM tomb)
          |    AND dst NOT IN (SELECT vec_id FROM tomb)),
          |entd2 AS (
          |  SELECT vec_id FROM ent
          |  WHERE vec_id NOT IN (SELECT vec_id FROM tomb)),
          |sdim AS MATERIALIZED (
          |  SELECT vec_id, dim, q FROM dims
          |  UNION ALL SELECT vec_id, dim, q FROM ddim),
          |""".stripMargin +
        annGraphChainCtes("v", 8, "qdim", "adj2", "entd2", "sdim") +
        """vvis AS MATERIALIZED (
          |  SELECT qid, node, dist FROM (
          |    SELECT dq.vec_id AS qid, e.vec_id AS node,
          |      CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS dist
          |    FROM entd2 e
          |    JOIN sdim dc ON dc.vec_id = e.vec_id
          |    JOIN qdim dq ON dq.dim = dc.dim AND dq.vec_id != e.vec_id
          |    GROUP BY 1, 2)
          |  UNION SELECT qid, node, dist FROM vs1
          |  UNION SELECT qid, node, dist FROM vs2
          |  UNION SELECT qid, node, dist FROM vs3
          |  UNION SELECT qid, node, dist FROM vs4
          |  UNION SELECT qid, node, dist FROM vs5
          |  UNION SELECT qid, node, dist FROM vs6),
          |lab AS MATERIALIZED (SELECT vec_id, label FROM embeddings),
          |aware AS (
          |  SELECT qid, node AS cand_id FROM (
          |    SELECT v.qid, v.node,
          |      row_number() OVER (PARTITION BY v.qid
          |        ORDER BY v.dist, v.node) AS c
          |    FROM vvis v JOIN lab l ON l.vec_id = v.node
          |    WHERE l.label = 3) WHERE c <= 3),
          |lsrc AS MATERIALIZED (SELECT DISTINCT src AS vec_id FROM adj2),
          |fexd AS MATERIALIZED (
          |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
          |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
          |  FROM qdim dq JOIN sdim dc
          |    ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
          |  WHERE dc.vec_id IN (SELECT vec_id FROM lsrc)
          |    AND dc.vec_id IN (SELECT vec_id FROM lab WHERE label = 3)
          |  GROUP BY 1, 2),
          |fex3 AS MATERIALIZED (
          |  SELECT qid, cand_id FROM (
          |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
          |      ORDER BY dist ASC, cand_id ASC) AS rn
          |    FROM fexd) WHERE rn <= 3),
          |ftruth AS (
          |  SELECT qid, CAST(count(*) AS BIGINT) AS n_truth
          |  FROM fex3 GROUP BY 1),
          |fhits AS (
          |  SELECT a.qid, CAST(count(*) AS BIGINT) AS n_ret,
          |    CAST(count(e.cand_id) AS BIGINT) AS n_hit
          |  FROM aware a LEFT JOIN fex3 e
          |    ON e.qid = a.qid AND e.cand_id = a.cand_id
          |  GROUP BY 1),
          |one AS MATERIALIZED (
          |  SELECT t.qid,
          |    CAST(coalesce(h.n_ret, 0) AS BIGINT) AS n_ret,
          |    CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
          |    t.n_truth,
          |    CAST(coalesce(h.n_hit, 0) * 10000 // t.n_truth AS BIGINT)
          |      AS recall_bp
          |  FROM ftruth t LEFT JOIN fhits h ON h.qid = t.qid)
          |SELECT 'pre_sweep' AS phase, qid, n_ret, n_hit, n_truth,
          |  recall_bp FROM one
          |UNION ALL
          |SELECT 'post_sweep', qid, n_ret, n_hit, n_truth, recall_bp
          |FROM one""".stripMargin),
    "llm_cluster_topics" ->
      (lloydCtes + """,
        |dt AS (
        |  SELECT a2.cluster AS cluster, d.doc_id,
        |    unnest(string_split(d.text, ' ')) AS tok
        |  FROM documents d JOIN a2 ON d.doc_id = a2.vec_id),
        |pd AS (SELECT DISTINCT cluster, doc_id, tok FROM dt),
        |dfc AS (
        |  SELECT cluster, tok, CAST(count(*) AS BIGINT) AS df_c
        |  FROM pd GROUP BY 1, 2),
        |dft AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS df_tot
        |  FROM (SELECT DISTINCT doc_id, tok FROM pd) GROUP BY 1),
        |sz AS (
        |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs_c
        |  FROM a2 GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM a2),
        |tfx AS (
        |  SELECT cluster, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM dt GROUP BY 1, 2),
        |sc AS (
        |  SELECT dfc.cluster, dfc.tok, tfx.tf, dfc.df_c,
        |    (dfc.df_c * (SELECT n_docs FROM tot) * 1000000)
        |      // (sz.n_docs_c * dft.df_tot) AS lift_fp
        |  FROM dfc
        |  JOIN dft ON dfc.tok = dft.tok
        |  JOIN sz ON dfc.cluster = sz.cluster
        |  JOIN tfx ON dfc.cluster = tfx.cluster AND dfc.tok = tfx.tok
        |  WHERE dfc.df_c >= 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY cluster
        |    ORDER BY lift_fp DESC, tf DESC, tok) AS rank
        |  FROM sc)
        |SELECT cluster, CAST(rank AS INT) AS rank, tok, tf, df_c,
        |  CAST(lift_fp AS BIGINT) AS lift_fp
        |FROM r WHERE rank <= 3""".stripMargin),
    "llm_bpe_train" -> bpeTrainSql,
    "llm_bpe_apply" -> bpeApplySql,
    "llm_pca_power" -> pcaPowerSql,
    "llm_dedup_substring" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '')
        |    AS t
        |  FROM documents),
        |base AS (SELECT doc_id, len(t) AS n_tokens FROM t),
        |g AS (
        |  SELECT doc_id, u.p, u.gs FROM (
        |    SELECT doc_id,
        |      unnest([{'p': i - 1, 'gs': array_to_string(t[i:i+7], ' ')}
        |              for i in range(1, len(t) - 6)]) AS u
        |    FROM t WHERE len(t) >= 8)),
        |dup AS (SELECT gs FROM g GROUP BY gs HAVING count(*) > 1),
        |dp AS (SELECT g.doc_id, g.p FROM g JOIN dup USING (gs)),
        |isl0 AS (
        |  SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 8
        |         THEN 1 ELSE 0 END AS brk
        |  FROM dp),
        |isl1 AS (
        |  SELECT doc_id, p,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY p
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS isl
        |  FROM isl0),
        |spans AS (
        |  SELECT doc_id, isl, max(p) - min(p) + 8 AS covered, count(*) AS np
        |  FROM isl1 GROUP BY 1, 2),
        |per AS (
        |  SELECT doc_id, count(*) AS n_dup_spans,
        |         CAST(sum(np) AS BIGINT) AS n_dup_grams,
        |         CAST(sum(covered) AS BIGINT) AS dup_tokens
        |  FROM spans GROUP BY 1)
        |SELECT b.doc_id, b.n_tokens,
        |  coalesce(p.n_dup_spans, 0) AS n_dup_spans,
        |  coalesce(p.n_dup_grams, 0) AS n_dup_grams,
        |  coalesce(p.dup_tokens, 0) AS dup_tokens,
        |  CASE WHEN b.n_tokens = 0 THEN 0.0
        |       ELSE round(coalesce(p.dup_tokens, 0) / b.n_tokens::DOUBLE, 4)
        |  END AS frac_dup,
        |  (coalesce(p.dup_tokens, 0) * 2 <= b.n_tokens) AS keep
        |FROM base b LEFT JOIN per p USING (doc_id)""".stripMargin,
    "llm_gram_matrix" ->
      """WITH q AS (
        |  SELECT vec_id, i - 1 AS dim,
        |    CAST(round(embedding[i]::DOUBLE * 1000) AS BIGINT) AS q
        |  FROM embeddings, range(1, 65) r(i)),
        |g AS (
        |  SELECT a.dim AS i, b.dim AS j,
        |    CAST(sum(a.q * b.q) AS BIGINT) AS gram
        |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.dim >= a.dim
        |  GROUP BY 1, 2),
        |s AS (SELECT dim, CAST(sum(q) AS BIGINT) AS s FROM q GROUP BY dim),
        |n AS (SELECT count(*) AS n FROM embeddings)
        |SELECT g.i, g.j, si.s AS s_i, sj.s AS s_j, g.gram, n.n
        |FROM g
        |JOIN s si ON si.dim = g.i
        |JOIN s sj ON sj.dim = g.j, n""".stripMargin,
    // replays the full PQ construction: 10⁶ quantization → per-subspace
    // seeding from the first ≤16 ids → one exact-integer Lloyd round →
    // encode → per-query codeword distance tables → ADC top-3 → exact
    // re-rank column. All argmins (dist ASC, id ASC).
    "llm_ann_pq" ->
      (pqCtes + """,
        |ex AS (
        |  SELECT t.qid, t.cand_id,
        |    CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS exact_dist
        |  FROM t3 t
        |  JOIN dims dq ON dq.vec_id = t.qid
        |  JOIN dims dc ON dc.vec_id = t.cand_id AND dc.dim = dq.dim
        |  GROUP BY 1, 2)
        |SELECT t.qid, t.rank, t.cand_id, t.adist, e.exact_dist
        |FROM t3 t JOIN ex e
        |  ON e.qid = t.qid AND e.cand_id = t.cand_id""".stripMargin),
    // residual IVFPQ: coarse sign cells → per-cell floor-mean centroid
    // → residual dims → the SHARED pqTrainCtes (identical training
    // text) → per-(query, probed-cell) distance tables → ADC top-3
    // over candidates in probed cells only → exact-space re-rank col
    "llm_ann_pq_residual" ->
      (pqResidualCtes + """,
         |rex AS (
         |  SELECT t.qid, t.cand_id,
         |    CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS exact_dist
         |  FROM rt3 t
         |  JOIN dims0 dq ON dq.vec_id = t.qid
         |  JOIN dims0 dc ON dc.vec_id = t.cand_id AND dc.dim = dq.dim
         |  GROUP BY 1, 2)
         |SELECT t.qid, t.rank, t.cand_id, t.adist, e.exact_dist
         |FROM rt3 t JOIN rex e
         |  ON e.qid = t.qid AND e.cand_id = t.cand_id""".stripMargin),
    // residual-PQ recall@3 vs the exact brute top-3 in the ORIGINAL
    // space (dims0) — charges both ADC error and coarse-cell misses
    "llm_ann_pq_residual_recall" ->
      (pqResidualCtes + """,
         |bex AS (
         |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
         |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
         |  FROM dims0 dq
         |  JOIN dims0 dc ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
         |  WHERE dq.vec_id < 10
         |  GROUP BY 1, 2),
         |bex3 AS (
         |  SELECT qid, cand_id FROM (
         |    SELECT qid, cand_id,
         |      row_number() OVER (PARTITION BY qid
         |                         ORDER BY dist ASC, cand_id ASC) AS rn
         |    FROM bex) WHERE rn <= 3)
         |SELECT e.qid, CAST(count(t.cand_id) AS BIGINT) AS n_hit,
         |       round(count(t.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3
         |FROM bex3 e LEFT JOIN rt3 t USING (qid, cand_id)
         |GROUP BY e.qid""".stripMargin),
    // PQ recall@3 vs the exact brute top-3 — same PQ CTE chain, same
    // brute shape as llm_ann_recall's IVF side
    // truncated-dim recall vs the full-dim exact top-3 — both brute
    // passes replayed on the shared 10⁶ lattice
    "llm_ann_matryoshka" ->
      """WITH dims AS MATERIALIZED (
        |  SELECT vec_id, i - 1 AS dim,
        |    CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS q
        |  FROM embeddings, range(1, 65) r(i)),
        |ex AS (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM dims dq
        |  JOIN dims dc ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id < 10
        |  GROUP BY 1, 2),
        |ex3 AS (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id,
        |      row_number() OVER (PARTITION BY qid
        |                         ORDER BY dist ASC, cand_id ASC) AS rn
        |    FROM ex) WHERE rn <= 3),
        |tr AS (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM dims dq
        |  JOIN dims dc ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id < 10 AND dq.dim < 8
        |  GROUP BY 1, 2),
        |tr3 AS (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id,
        |      row_number() OVER (PARTITION BY qid
        |                         ORDER BY dist ASC, cand_id ASC) AS rn
        |    FROM tr) WHERE rn <= 3)
        |SELECT e.qid, CAST(count(t.cand_id) AS BIGINT) AS n_hit,
        |       round(count(t.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3
        |FROM ex3 e LEFT JOIN tr3 t USING (qid, cand_id)
        |GROUP BY e.qid""".stripMargin,
    // per-dim SQ8 recall vs the full-precision exact top-3 — same grid
    // math as llm_ann_opq (max(1, range // 255) step), asymmetric rank
    "llm_ann_sq8" ->
      """WITH dims AS MATERIALIZED (
        |  SELECT vec_id, i - 1 AS dim,
        |    CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS q
        |  FROM embeddings, range(1, 65) r(i)),
        |rng AS MATERIALIZED (
        |  SELECT dim, min(q) AS mn,
        |    greatest(1, (max(q) - min(q)) // 255) AS step
        |  FROM dims GROUP BY 1),
        |rec AS MATERIALIZED (
        |  SELECT d.vec_id, d.dim,
        |    r.mn + least(255, (d.q - r.mn) // r.step) * r.step
        |         + r.step // 2 AS rq
        |  FROM dims d JOIN rng r USING (dim)),
        |ex AS (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM dims dq
        |  JOIN dims dc ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id < 10
        |  GROUP BY 1, 2),
        |ex3 AS (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id,
        |      row_number() OVER (PARTITION BY qid
        |                         ORDER BY dist ASC, cand_id ASC) AS rn
        |    FROM ex) WHERE rn <= 3),
        |sq AS (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.rq) * (dq.q - dc.rq)) AS dist
        |  FROM dims dq
        |  JOIN rec dc ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id < 10
        |  GROUP BY 1, 2),
        |sq3 AS (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id,
        |      row_number() OVER (PARTITION BY qid
        |                         ORDER BY dist ASC, cand_id ASC) AS rn
        |    FROM sq) WHERE rn <= 3)
        |SELECT e.qid, CAST(count(t.cand_id) AS BIGINT) AS n_hit,
        |       round(count(t.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3
        |FROM ex3 e LEFT JOIN sq3 t USING (qid, cand_id)
        |GROUP BY e.qid""".stripMargin,
    // MaxSim: token t of vector v = dims [8t, 8t+8); per (q, cand,
    // qtok, dtok) dot via the k-aligned join, max over dtok, sum over
    // qtok — the same fold the Spark HOF fuses per row
    "llm_colbert_maxsim" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT vec_id, (i - 1) // 8 AS tok, (i - 1) % 8 AS k,
        |    CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS q
        |  FROM embeddings, range(1, 65) r(i)),
        |dots AS (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    dq.tok AS qi, dc.tok AS dj, sum(dq.q * dc.q) AS dot
        |  FROM toks dq
        |  JOIN toks dc ON dq.k = dc.k AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id < 10
        |  GROUP BY 1, 2, 3, 4),
        |mx AS (
        |  SELECT qid, cand_id, qi, max(dot) AS m
        |  FROM dots GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT qid, cand_id, CAST(sum(m) AS BIGINT) AS maxsim
        |  FROM mx GROUP BY 1, 2)
        |SELECT qid, rank, cand_id, maxsim FROM (
        |  SELECT qid, cand_id, maxsim,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY maxsim DESC, cand_id ASC) AS BIGINT) AS rank
        |  FROM sc) WHERE rank <= 3""".stripMargin,
    "llm_ann_pq_recall" ->
      (pqCtes + """,
        |ex AS (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM dims dq
        |  JOIN dims dc ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id < 10
        |  GROUP BY 1, 2),
        |ex3 AS (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id,
        |      row_number() OVER (PARTITION BY qid
        |                         ORDER BY dist ASC, cand_id ASC) AS rn
        |    FROM ex) WHERE rn <= 3)
        |SELECT e.qid, CAST(count(t.cand_id) AS BIGINT) AS n_hit,
        |       round(count(t.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3
        |FROM ex3 e LEFT JOIN t3 t USING (qid, cand_id)
        |GROUP BY e.qid""".stripMargin),
    "llm_ann_ivf_kmeans" ->
      (lloydCtes + annIvfCtes + """
        |SELECT qid, rank, cand_id, cluster, dist FROM (
        |  SELECT qid, cand_id, cluster, dist,
        |    row_number() OVER (PARTITION BY qid
        |                       ORDER BY dist ASC, cand_id ASC) AS rank
        |  FROM cd) WHERE rank <= 3""".stripMargin),
    "llm_ann_ivf_incremental" ->
      (lloydCtes + annIvfCtes + """,
        |delta AS MATERIALIZED (
        |  SELECT vec_id + 1000000 AS new_id, dim,
        |    q + CASE WHEN dim = 0 THEN 1000 ELSE 0 END AS q
        |  FROM dims WHERE vec_id % 17 = 3),
        |dcent AS (
        |  SELECT delta.new_id, c2.cluster,
        |    CAST(sum((delta.q - c2.c) * (delta.q - c2.c)) AS BIGINT)
        |      AS cdist
        |  FROM delta JOIN c2 USING (dim) GROUP BY 1, 2),
        |asg AS MATERIALIZED (
        |  SELECT new_id, cluster, cdist FROM (
        |    SELECT new_id, cluster, cdist, row_number() OVER (
        |      PARTITION BY new_id ORDER BY cdist ASC, cluster ASC) AS rn
        |    FROM dcent) WHERE rn = 1),
        |nb AS (
        |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_base
        |  FROM a2 GROUP BY 1)
        |SELECT a.new_id, a.cluster, a.cdist,
        |  coalesce(nb.n_base, 0) AS n_base,
        |  CAST(count(*) OVER (PARTITION BY a.cluster) AS BIGINT)
        |    AS n_cell_delta
        |FROM asg a LEFT JOIN nb USING (cluster)""".stripMargin),
    "llm_ann_ivf_incremental_recall" ->
      (lloydCtes + annIvfCtes + """,
        |delta AS MATERIALIZED (
        |  SELECT vec_id + 1000000 AS new_id, dim,
        |    q + CASE WHEN dim = 0 THEN 1000 ELSE 0 END AS q
        |  FROM dims WHERE vec_id % 17 = 3),
        |dcent AS (
        |  SELECT delta.new_id, c2.cluster,
        |    CAST(sum((delta.q - c2.c) * (delta.q - c2.c)) AS BIGINT)
        |      AS cdist
        |  FROM delta JOIN c2 USING (dim) GROUP BY 1, 2),
        |asg AS MATERIALIZED (
        |  SELECT new_id, cluster FROM (
        |    SELECT new_id, cluster, row_number() OVER (
        |      PARTITION BY new_id ORDER BY cdist ASC, cluster ASC) AS rn
        |    FROM dcent) WHERE rn = 1),
        |gdims AS MATERIALIZED (
        |  SELECT vec_id, dim, q FROM dims
        |  UNION ALL SELECT new_id, dim, q FROM delta),
        |ginv AS MATERIALIZED (
        |  SELECT vec_id, cluster FROM a2
        |  UNION ALL SELECT new_id AS vec_id, cluster FROM asg),
        |qids AS (
        |  SELECT DISTINCT vec_id AS qid FROM gdims
        |  WHERE vec_id < 5 OR (vec_id >= 1000000 AND vec_id < 1000100)),
        |qdg AS (
        |  SELECT g.vec_id AS qid, c2.cluster,
        |    sum((g.q - c2.c) * (g.q - c2.c)) AS cdist
        |  FROM gdims g JOIN c2 USING (dim)
        |  WHERE g.vec_id IN (SELECT qid FROM qids)
        |  GROUP BY 1, 2),
        |prg AS (
        |  SELECT qid, cluster FROM (
        |    SELECT qid, cluster, row_number() OVER (PARTITION BY qid
        |      ORDER BY cdist ASC, cluster ASC) AS rn
        |    FROM qdg) WHERE rn <= 2),
        |cdg AS (
        |  SELECT p.qid, gi.vec_id AS cand_id,
        |    CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS dist
        |  FROM prg p
        |  JOIN ginv gi ON gi.cluster = p.cluster AND gi.vec_id != p.qid
        |  JOIN gdims dq ON dq.vec_id = p.qid
        |  JOIN gdims dc ON dc.vec_id = gi.vec_id AND dc.dim = dq.dim
        |  GROUP BY 1, 2),
        |i3 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn
        |    FROM cdg) WHERE rn <= 3),
        |exg AS (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM gdims dq JOIN gdims dc
        |    ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id IN (SELECT qid FROM qids)
        |  GROUP BY 1, 2),
        |e3 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn
        |    FROM exg) WHERE rn <= 3),
        |tw AS (
        |  SELECT qid, CAST(max(CASE WHEN cand_id =
        |      CASE WHEN qid >= 1000000 THEN qid - 1000000
        |           WHEN qid % 17 = 3 THEN qid + 1000000 END
        |    THEN 1 ELSE 0 END) AS INT) AS tw_raw
        |  FROM i3 GROUP BY 1)
        |SELECT e.qid, CAST(count(i.cand_id) AS BIGINT) AS n_hit,
        |  round(count(i.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3,
        |  CASE WHEN e.qid >= 1000000 OR e.qid % 17 = 3
        |       THEN tw.tw_raw END AS twin_in_top3
        |FROM e3 e JOIN tw USING (qid)
        |LEFT JOIN i3 i USING (qid, cand_id)
        |GROUP BY e.qid, tw.tw_raw""".stripMargin),
    "llm_ann_index_persisted" ->
      (lloydCtes + annIvfCtes + """,
        |delta AS MATERIALIZED (
        |  SELECT vec_id + 1000000 AS new_id, dim,
        |    q + CASE WHEN dim = 0 THEN 1000 ELSE 0 END AS q
        |  FROM dims WHERE vec_id % 17 = 3),
        |dcent AS (
        |  SELECT delta.new_id, c2.cluster,
        |    CAST(sum((delta.q - c2.c) * (delta.q - c2.c)) AS BIGINT)
        |      AS cdist
        |  FROM delta JOIN c2 USING (dim) GROUP BY 1, 2),
        |asg AS MATERIALIZED (
        |  SELECT new_id, cluster FROM (
        |    SELECT new_id, cluster, row_number() OVER (
        |      PARTITION BY new_id ORDER BY cdist ASC, cluster ASC) AS rn
        |    FROM dcent) WHERE rn = 1),
        |gdims AS MATERIALIZED (
        |  SELECT vec_id, dim, q FROM dims
        |  UNION ALL SELECT new_id, dim, q FROM delta),
        |ginv AS MATERIALIZED (
        |  SELECT vec_id, cluster FROM a2
        |  UNION ALL SELECT new_id AS vec_id, cluster FROM asg),
        |gd AS MATERIALIZED (
        |  SELECT vec_id, dim, q FROM gdims
        |  WHERE NOT (vec_id % 23 = 5 AND vec_id < 1000000)),
        |gid AS MATERIALIZED (
        |  SELECT vec_id, cluster FROM ginv
        |  WHERE NOT (vec_id % 23 = 5 AND vec_id < 1000000)),
        |qp AS (
        |  SELECT g.vec_id AS qid, c2.cluster,
        |    sum((g.q - c2.c) * (g.q - c2.c)) AS cdist
        |  FROM gdims g JOIN c2 USING (dim)
        |  WHERE g.vec_id < 10 GROUP BY 1, 2),
        |pp AS (
        |  SELECT qid, cluster FROM (
        |    SELECT qid, cluster, row_number() OVER (PARTITION BY qid
        |      ORDER BY cdist ASC, cluster ASC) AS rn FROM qp)
        |  WHERE rn <= 2),
        |cnd AS (
        |  SELECT p.qid, gi.vec_id AS cand_id,
        |    CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS dist
        |  FROM pp p
        |  JOIN gid gi ON gi.cluster = p.cluster AND gi.vec_id != p.qid
        |  JOIN gdims dq ON dq.vec_id = p.qid
        |  JOIN gdims dc ON dc.vec_id = gi.vec_id AND dc.dim = dq.dim
        |  GROUP BY 1, 2),
        |i3 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn FROM cnd)
        |  WHERE rn <= 3),
        |ext AS (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM gdims dq JOIN gd dc
        |    ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id < 10
        |  GROUP BY 1, 2),
        |e3 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn FROM ext)
        |  WHERE rn <= 3),
        |one AS MATERIALIZED (
        |  SELECT e.qid, CAST(count(i.cand_id) AS BIGINT) AS n_hit,
        |    round(count(i.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3
        |  FROM e3 e LEFT JOIN i3 i USING (qid, cand_id)
        |  GROUP BY e.qid)
        |SELECT 'pre_sweep' AS phase, qid, n_hit, recall_at_3 FROM one
        |UNION ALL
        |SELECT 'post_sweep', qid, n_hit, recall_at_3 FROM one""".stripMargin),
    // time travel through the store's commit log: v1 serves the base
    // index (delta absent from corpus AND truth), v2 the grown index,
    // v3 the MOR view, v4 the swept head ≡ v3 — each version replayed
    // as its own serve over the shared probe ranks (`pr`)
    "llm_ann_store_asof" ->
      (lloydCtes + annIvfCtes + """,
        |delta AS MATERIALIZED (
        |  SELECT vec_id + 1000000 AS new_id, dim,
        |    q + CASE WHEN dim = 0 THEN 1000 ELSE 0 END AS q
        |  FROM dims WHERE vec_id % 17 = 3),
        |dcent AS (
        |  SELECT delta.new_id, c2.cluster,
        |    CAST(sum((delta.q - c2.c) * (delta.q - c2.c)) AS BIGINT)
        |      AS cdist
        |  FROM delta JOIN c2 USING (dim) GROUP BY 1, 2),
        |asg AS MATERIALIZED (
        |  SELECT new_id, cluster FROM (
        |    SELECT new_id, cluster, row_number() OVER (
        |      PARTITION BY new_id ORDER BY cdist ASC, cluster ASC) AS rn
        |    FROM dcent) WHERE rn = 1),
        |gdims AS MATERIALIZED (
        |  SELECT vec_id, dim, q FROM dims
        |  UNION ALL SELECT new_id, dim, q FROM delta),
        |ginv AS MATERIALIZED (
        |  SELECT vec_id, cluster FROM a2
        |  UNION ALL SELECT new_id AS vec_id, cluster FROM asg),
        |gd AS MATERIALIZED (
        |  SELECT vec_id, dim, q FROM gdims
        |  WHERE NOT (vec_id % 23 = 5 AND vec_id < 1000000)),
        |gid AS MATERIALIZED (
        |  SELECT vec_id, cluster FROM ginv
        |  WHERE NOT (vec_id % 23 = 5 AND vec_id < 1000000)),
        |cnd1 AS (
        |  SELECT p.qid, gi.vec_id AS cand_id,
        |    CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS dist
        |  FROM pr p
        |  JOIN a2 gi ON gi.cluster = p.cluster AND gi.vec_id != p.qid
        |  JOIN dims dq ON dq.vec_id = p.qid
        |  JOIN dims dc ON dc.vec_id = gi.vec_id AND dc.dim = dq.dim
        |  GROUP BY 1, 2),
        |i31 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn FROM cnd1)
        |  WHERE rn <= 3),
        |ex1 AS (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM dims dq JOIN dims dc
        |    ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id < 10 GROUP BY 1, 2),
        |e31 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn FROM ex1)
        |  WHERE rn <= 3),
        |one1 AS MATERIALIZED (
        |  SELECT e.qid, CAST(count(i.cand_id) AS BIGINT) AS n_hit,
        |    round(count(i.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3
        |  FROM e31 e LEFT JOIN i31 i USING (qid, cand_id)
        |  GROUP BY e.qid),
        |cnd2 AS (
        |  SELECT p.qid, gi.vec_id AS cand_id,
        |    CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS dist
        |  FROM pr p
        |  JOIN ginv gi ON gi.cluster = p.cluster AND gi.vec_id != p.qid
        |  JOIN dims dq ON dq.vec_id = p.qid
        |  JOIN gdims dc ON dc.vec_id = gi.vec_id AND dc.dim = dq.dim
        |  GROUP BY 1, 2),
        |i32 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn FROM cnd2)
        |  WHERE rn <= 3),
        |ex2 AS (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM dims dq JOIN gdims dc
        |    ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id < 10 GROUP BY 1, 2),
        |e32 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn FROM ex2)
        |  WHERE rn <= 3),
        |one2 AS MATERIALIZED (
        |  SELECT e.qid, CAST(count(i.cand_id) AS BIGINT) AS n_hit,
        |    round(count(i.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3
        |  FROM e32 e LEFT JOIN i32 i USING (qid, cand_id)
        |  GROUP BY e.qid),
        |cnd3 AS (
        |  SELECT p.qid, gi.vec_id AS cand_id,
        |    CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS dist
        |  FROM pr p
        |  JOIN gid gi ON gi.cluster = p.cluster AND gi.vec_id != p.qid
        |  JOIN dims dq ON dq.vec_id = p.qid
        |  JOIN gdims dc ON dc.vec_id = gi.vec_id AND dc.dim = dq.dim
        |  GROUP BY 1, 2),
        |i33 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn FROM cnd3)
        |  WHERE rn <= 3),
        |ex3a AS (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM dims dq JOIN gd dc
        |    ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id < 10 GROUP BY 1, 2),
        |e33 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn FROM ex3a)
        |  WHERE rn <= 3),
        |one3 AS MATERIALIZED (
        |  SELECT e.qid, CAST(count(i.cand_id) AS BIGINT) AS n_hit,
        |    round(count(i.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3
        |  FROM e33 e LEFT JOIN i33 i USING (qid, cand_id)
        |  GROUP BY e.qid)
        |SELECT CAST(1 AS INT) AS version, qid, n_hit, recall_at_3
        |FROM one1
        |UNION ALL SELECT 2, qid, n_hit, recall_at_3 FROM one2
        |UNION ALL SELECT 3, qid, n_hit, recall_at_3 FROM one3
        |UNION ALL SELECT 4, qid, n_hit, recall_at_3 FROM one3""".stripMargin),
    "llm_ann_ivf_delete" ->
      (lloydCtes + annIvfCtes + """,
        |survq AS MATERIALIZED (
        |  SELECT vec_id, cluster FROM a2 WHERE vec_id % 23 != 5),
        |cdd AS (
        |  SELECT pr.qid, s.vec_id AS cand_id,
        |    CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS dist
        |  FROM pr
        |  JOIN survq s ON s.cluster = pr.cluster AND s.vec_id != pr.qid
        |  JOIN dims dq ON dq.vec_id = pr.qid
        |  JOIN dims dc ON dc.vec_id = s.vec_id AND dc.dim = dq.dim
        |  GROUP BY 1, 2),
        |d3 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn FROM cdd)
        |  WHERE rn <= 3),
        |excl AS (
        |  SELECT pr.qid, CAST(count(*) AS BIGINT) AS n_excluded
        |  FROM pr JOIN a2 ON a2.cluster = pr.cluster AND a2.vec_id != pr.qid
        |  WHERE a2.vec_id % 23 = 5
        |  GROUP BY 1),
        |exs AS (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM dims dq JOIN dims dc
        |    ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id < 10 AND dc.vec_id % 23 != 5
        |  GROUP BY 1, 2),
        |e3 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn FROM exs)
        |  WHERE rn <= 3)
        |SELECT e.qid, CAST(count(i.cand_id) AS BIGINT) AS n_hit,
        |  round(count(i.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3,
        |  coalesce(x.n_excluded, 0) AS n_excluded
        |FROM e3 e
        |LEFT JOIN d3 i ON i.qid = e.qid AND i.cand_id = e.cand_id
        |LEFT JOIN excl x ON x.qid = e.qid
        |GROUP BY e.qid, x.n_excluded""".stripMargin),
    "llm_ann_ivf_rebalance" ->
      (lloydCtes + annIvfCtes + """,
        |delta AS MATERIALIZED (
        |  SELECT vec_id + 1000000 AS new_id, dim,
        |    q + CASE WHEN dim = 0 THEN 1000 ELSE 0 END AS q
        |  FROM dims WHERE vec_id % 17 = 3),
        |dcent AS (
        |  SELECT delta.new_id, c2.cluster,
        |    CAST(sum((delta.q - c2.c) * (delta.q - c2.c)) AS BIGINT)
        |      AS cdist
        |  FROM delta JOIN c2 USING (dim) GROUP BY 1, 2),
        |asg AS MATERIALIZED (
        |  SELECT new_id, cluster FROM (
        |    SELECT new_id, cluster, row_number() OVER (
        |      PARTITION BY new_id ORDER BY cdist ASC, cluster ASC) AS rn
        |    FROM dcent) WHERE rn = 1),
        |mem AS MATERIALIZED (
        |  SELECT vec_id, cluster FROM a2
        |  UNION ALL SELECT new_id, cluster FROM asg),
        |szs AS (
        |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_parent
        |  FROM mem GROUP BY 1),
        |top3 AS (
        |  SELECT cluster, n_parent FROM (
        |    SELECT cluster, n_parent, row_number() OVER (
        |      ORDER BY n_parent DESC, cluster ASC) AS rn
        |    FROM szs) WHERE rn <= 3),
        |alldim AS MATERIALIZED (
        |  SELECT vec_id, dim, q FROM dims
        |  UNION ALL SELECT new_id, dim, q FROM delta),
        |tm AS MATERIALIZED (
        |  SELECT m.vec_id, m.cluster, t.n_parent
        |  FROM mem m JOIN top3 t USING (cluster)),
        |sa AS (SELECT cluster, min(vec_id) AS a_id FROM tm GROUP BY 1),
        |da AS MATERIALIZED (
        |  SELECT t.cluster, t.vec_id,
        |    CAST(sum((x.q - a.q) * (x.q - a.q)) AS BIGINT) AS d_a
        |  FROM tm t JOIN sa s USING (cluster)
        |  JOIN alldim x ON x.vec_id = t.vec_id
        |  JOIN alldim a ON a.vec_id = s.a_id AND a.dim = x.dim
        |  GROUP BY 1, 2),
        |sb AS (
        |  SELECT cluster, vec_id AS b_id FROM (
        |    SELECT cluster, vec_id, row_number() OVER (PARTITION BY cluster
        |      ORDER BY d_a DESC, vec_id ASC) AS rn FROM da) WHERE rn = 1),
        |db AS MATERIALIZED (
        |  SELECT t.cluster, t.vec_id,
        |    CAST(sum((x.q - b.q) * (x.q - b.q)) AS BIGINT) AS d_b
        |  FROM tm t JOIN sb s USING (cluster)
        |  JOIN alldim x ON x.vec_id = t.vec_id
        |  JOIN alldim b ON b.vec_id = s.b_id AND b.dim = x.dim
        |  GROUP BY 1, 2)
        |SELECT t.cluster,
        |  CASE WHEN da.d_a <= db.d_b THEN 0 ELSE 1 END AS subcell,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(t.vec_id) AS BIGINT) AS key_sum, t.n_parent
        |FROM tm t
        |JOIN da ON da.cluster = t.cluster AND da.vec_id = t.vec_id
        |JOIN db ON db.cluster = t.cluster AND db.vec_id = t.vec_id
        |GROUP BY 1, 2, 5""".stripMargin),
    "llm_ann_ivf_rebalance_recall" ->
      (lloydCtes + annIvfCtes + """,
        |delta AS MATERIALIZED (
        |  SELECT vec_id + 1000000 AS new_id, dim,
        |    q + CASE WHEN dim = 0 THEN 1000 ELSE 0 END AS q
        |  FROM dims WHERE vec_id % 17 = 3),
        |dcent AS (
        |  SELECT delta.new_id, c2.cluster,
        |    CAST(sum((delta.q - c2.c) * (delta.q - c2.c)) AS BIGINT)
        |      AS cdist
        |  FROM delta JOIN c2 USING (dim) GROUP BY 1, 2),
        |asg AS MATERIALIZED (
        |  SELECT new_id, cluster FROM (
        |    SELECT new_id, cluster, row_number() OVER (
        |      PARTITION BY new_id ORDER BY cdist ASC, cluster ASC) AS rn
        |    FROM dcent) WHERE rn = 1),
        |mem AS MATERIALIZED (
        |  SELECT vec_id, cluster FROM a2
        |  UNION ALL SELECT new_id, cluster FROM asg),
        |szs AS (
        |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_parent
        |  FROM mem GROUP BY 1),
        |top3 AS (
        |  SELECT cluster, n_parent FROM (
        |    SELECT cluster, n_parent, row_number() OVER (
        |      ORDER BY n_parent DESC, cluster ASC) AS rn
        |    FROM szs) WHERE rn <= 3),
        |alldim AS MATERIALIZED (
        |  SELECT vec_id, dim, q FROM dims
        |  UNION ALL SELECT new_id, dim, q FROM delta),
        |tm AS MATERIALIZED (
        |  SELECT m.vec_id, m.cluster, t.n_parent
        |  FROM mem m JOIN top3 t USING (cluster)),
        |sa AS (SELECT cluster, min(vec_id) AS a_id FROM tm GROUP BY 1),
        |da AS MATERIALIZED (
        |  SELECT t.cluster, t.vec_id,
        |    CAST(sum((x.q - a.q) * (x.q - a.q)) AS BIGINT) AS d_a
        |  FROM tm t JOIN sa s USING (cluster)
        |  JOIN alldim x ON x.vec_id = t.vec_id
        |  JOIN alldim a ON a.vec_id = s.a_id AND a.dim = x.dim
        |  GROUP BY 1, 2),
        |sb AS (
        |  SELECT cluster, vec_id AS b_id FROM (
        |    SELECT cluster, vec_id, row_number() OVER (PARTITION BY cluster
        |      ORDER BY d_a DESC, vec_id ASC) AS rn FROM da) WHERE rn = 1),
        |db AS MATERIALIZED (
        |  SELECT t.cluster, t.vec_id,
        |    CAST(sum((x.q - b.q) * (x.q - b.q)) AS BIGINT) AS d_b
        |  FROM tm t JOIN sb s USING (cluster)
        |  JOIN alldim x ON x.vec_id = t.vec_id
        |  JOIN alldim b ON b.vec_id = s.b_id AND b.dim = x.dim
        |  GROUP BY 1, 2),
        |routed AS MATERIALIZED (
        |  SELECT t.cluster, t.vec_id,
        |    CASE WHEN da.d_a <= db.d_b THEN 0 ELSE 1 END AS subcell
        |  FROM tm t
        |  JOIN da ON da.cluster = t.cluster AND da.vec_id = t.vec_id
        |  JOIN db ON db.cluster = t.cluster AND db.vec_id = t.vec_id),
        |cellsdim AS MATERIALIZED (
        |  SELECT CAST(c2.cluster AS BIGINT) * 4 AS cell, c2.dim, c2.c
        |  FROM c2 WHERE c2.cluster NOT IN (SELECT cluster FROM top3)
        |  UNION ALL
        |  SELECT CAST(s.cluster AS BIGINT) * 4 + 1, a.dim, a.q
        |  FROM sa s JOIN alldim a ON a.vec_id = s.a_id
        |  UNION ALL
        |  SELECT CAST(s.cluster AS BIGINT) * 4 + 2, b.dim, b.q
        |  FROM sb s JOIN alldim b ON b.vec_id = s.b_id),
        |memall AS MATERIALIZED (
        |  SELECT vec_id, CAST(cluster AS BIGINT) * 4 AS cell FROM mem
        |  WHERE cluster NOT IN (SELECT cluster FROM top3)
        |  UNION ALL
        |  SELECT vec_id, CAST(cluster AS BIGINT) * 4 + 1 + subcell
        |  FROM routed),
        |qs AS MATERIALIZED (
        |  SELECT cluster AS parent_cluster, subcell, min(vec_id) AS qid
        |  FROM routed GROUP BY 1, 2),
        |pdq AS (
        |  SELECT q.qid, cd.cell, sum((a.q - cd.c) * (a.q - cd.c)) AS cdist
        |  FROM qs q
        |  JOIN alldim a ON a.vec_id = q.qid
        |  JOIN cellsdim cd ON cd.dim = a.dim
        |  GROUP BY 1, 2),
        |prb AS (
        |  SELECT qid, cell FROM (
        |    SELECT qid, cell, row_number() OVER (PARTITION BY qid
        |      ORDER BY cdist ASC, cell ASC) AS rn FROM pdq) WHERE rn <= 2),
        |cnd2 AS (
        |  SELECT p.qid, m.vec_id AS cand_id,
        |    CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS dist
        |  FROM prb p JOIN memall m ON m.cell = p.cell AND m.vec_id != p.qid
        |  JOIN alldim dq ON dq.vec_id = p.qid
        |  JOIN alldim dc ON dc.vec_id = m.vec_id AND dc.dim = dq.dim
        |  GROUP BY 1, 2),
        |i3 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn FROM cnd2)
        |  WHERE rn <= 3),
        |exr AS (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM alldim dq JOIN alldim dc
        |    ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id IN (SELECT qid FROM qs)
        |  GROUP BY 1, 2),
        |e3 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn FROM exr)
        |  WHERE rn <= 3)
        |SELECT e.qid, q.parent_cluster, q.subcell,
        |  CAST(count(i.cand_id) AS BIGINT) AS n_hit,
        |  round(count(i.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3
        |FROM e3 e
        |JOIN qs q ON q.qid = e.qid
        |LEFT JOIN i3 i ON i.qid = e.qid AND i.cand_id = e.cand_id
        |GROUP BY 1, 2, 3""".stripMargin),
    "llm_ann_recall_sweep" ->
      (lloydCtes + annIvfCtes + """,
        |prk AS (
        |  SELECT qid, cluster, row_number() OVER (PARTITION BY qid
        |    ORDER BY cdist ASC, cluster ASC) AS pr
        |  FROM qd),
        |cand AS MATERIALIZED (
        |  SELECT p.qid, a2.vec_id AS cand_id, p.pr,
        |    CAST(sum((dq.q - dc.q) * (dq.q - dc.q)) AS BIGINT) AS dist
        |  FROM prk p
        |  JOIN a2 ON a2.cluster = p.cluster AND a2.vec_id != p.qid
        |  JOIN dims dq ON dq.vec_id = p.qid
        |  JOIN dims dc ON dc.vec_id = a2.vec_id AND dc.dim = dq.dim
        |  WHERE p.pr <= 4
        |  GROUP BY 1, 2, 3),
        |exd AS MATERIALIZED (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM dims dq
        |  JOIN dims dc ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id < 10
        |  GROUP BY 1, 2),
        |ex3 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn
        |    FROM exd) WHERE rn <= 3),
        |iv AS (
        |  SELECT np, qid, cand_id FROM (
        |    SELECT n.np, c.qid, c.cand_id,
        |      row_number() OVER (PARTITION BY n.np, c.qid
        |        ORDER BY c.dist ASC, c.cand_id ASC) AS rank
        |    FROM cand c CROSS JOIN (VALUES (1), (2), (4)) n(np)
        |    WHERE c.pr <= n.np) WHERE rank <= 3),
        |nc AS (
        |  SELECT n.np, CAST(count(*) AS BIGINT) AS n_candidates
        |  FROM cand c CROSS JOIN (VALUES (1), (2), (4)) n(np)
        |  WHERE c.pr <= n.np GROUP BY 1),
        |hits AS (
        |  SELECT n.np, CAST(count(i.cand_id) AS BIGINT) AS n_hits,
        |    CAST(count(*) AS BIGINT) AS n_truth
        |  FROM (VALUES (1), (2), (4)) n(np)
        |  CROSS JOIN ex3 e
        |  LEFT JOIN iv i ON i.np = n.np AND i.qid = e.qid
        |    AND i.cand_id = e.cand_id
        |  GROUP BY 1)
        |SELECT h.np AS nprobe, h.n_hits, h.n_truth,
        |  h.n_hits * 10000 // h.n_truth AS recall_bp, nc.n_candidates
        |FROM hits h JOIN nc USING (np)""".stripMargin),
    "llm_ann_recall" ->
      (lloydCtes + annIvfCtes + """,
        |iv AS (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id,
        |      row_number() OVER (PARTITION BY qid
        |                         ORDER BY dist ASC, cand_id ASC) AS rank
        |    FROM cd) WHERE rank <= 3),
        |ex AS (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM dims dq
        |  JOIN dims dc ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id < 10
        |  GROUP BY 1, 2),
        |ex3 AS (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id,
        |      row_number() OVER (PARTITION BY qid
        |                         ORDER BY dist ASC, cand_id ASC) AS rn
        |    FROM ex) WHERE rn <= 3)
        |SELECT e.qid, CAST(count(i.cand_id) AS BIGINT) AS n_hit,
        |       round(count(i.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3
        |FROM ex3 e LEFT JOIN iv i USING (qid, cand_id)
        |GROUP BY e.qid""".stripMargin),
    // filtered ANN: the shared cd candidates carry labels; both
    // strategies and the FILTERED brute truth replay exactly
    "llm_ann_filtered" ->
      (lloydCtes + annIvfCtes + """,
        |lab AS (SELECT vec_id, label FROM embeddings),
        |cf AS MATERIALIZED (
        |  SELECT c.qid, c.cand_id, c.dist, l.label
        |  FROM cd c JOIN lab l ON l.vec_id = c.cand_id),
        |pre AS (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn
        |    FROM cf WHERE label = 3) WHERE rn <= 3),
        |post AS (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn2
        |    FROM (
        |      SELECT qid, cand_id, dist, label,
        |        row_number() OVER (PARTITION BY qid
        |          ORDER BY dist ASC, cand_id ASC) AS rn
        |      FROM cf)
        |    WHERE rn <= 9 AND label = 3) WHERE rn2 <= 3),
        |exf AS MATERIALIZED (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM dims dq
        |  JOIN dims dc ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id < 10
        |    AND dc.vec_id IN (SELECT vec_id FROM lab WHERE label = 3)
        |  GROUP BY 1, 2),
        |ex3f AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY dist ASC, cand_id ASC) AS rn
        |    FROM exf) WHERE rn <= 3),
        |truth AS (
        |  SELECT qid, CAST(count(*) AS BIGINT) AS n_truth
        |  FROM ex3f GROUP BY 1),
        |appr AS (
        |  SELECT 'prefilter' AS strategy, qid, cand_id FROM pre
        |  UNION ALL
        |  SELECT 'postfilter' AS strategy, qid, cand_id FROM post),
        |hits AS (
        |  SELECT a.strategy, a.qid, CAST(count(*) AS BIGINT) AS n_ret,
        |    CAST(count(e.cand_id) AS BIGINT) AS n_hit
        |  FROM appr a LEFT JOIN ex3f e
        |    ON e.qid = a.qid AND e.cand_id = a.cand_id
        |  GROUP BY 1, 2)
        |SELECT s.strategy, t.qid,
        |  CAST(coalesce(h.n_ret, 0) AS BIGINT) AS n_ret,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  t.n_truth,
        |  CAST(coalesce(h.n_hit, 0) * 10000 // t.n_truth AS BIGINT)
        |    AS recall_bp
        |FROM (VALUES ('prefilter'), ('postfilter')) s(strategy)
        |CROSS JOIN truth t
        |LEFT JOIN hits h ON h.strategy = s.strategy AND h.qid = t.qid""".stripMargin),
    "llm_repetition_filter" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '')
        |    AS t
        |  FROM documents),
        |base AS (SELECT doc_id, len(t) AS n_tokens FROM t),
        |g2 AS (
        |  SELECT doc_id, max(c) AS top2 FROM (
        |    SELECT doc_id, g, count(*) AS c FROM (
        |      SELECT doc_id,
        |        unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS g
        |      FROM t WHERE len(t) >= 2)
        |    GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |g5 AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup5
        |  FROM (
        |    SELECT doc_id, g, count(*) AS c FROM (
        |      SELECT doc_id,
        |        unnest([array_to_string(t[i:i+4], ' ')
        |                for i in range(1, len(t) - 3)]) AS g
        |      FROM t WHERE len(t) >= 5)
        |    GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  CASE WHEN b.n_tokens = 0 THEN 0.0
        |       ELSE round(coalesce(g2.top2, 0) * 2 / b.n_tokens::DOUBLE, 4)
        |  END AS frac_top_2gram,
        |  CASE WHEN b.n_tokens = 0 THEN 0.0
        |       ELSE round(coalesce(g5.dup5, 0) * 5 / b.n_tokens::DOUBLE, 4)
        |  END AS frac_dup_5gram,
        |  (coalesce(g2.top2, 0) * 10 <= b.n_tokens
        |   AND coalesce(g5.dup5, 0) * 50 <= 3 * b.n_tokens) AS keep
        |FROM base b
        |LEFT JOIN g2 USING (doc_id)
        |LEFT JOIN g5 USING (doc_id)""".stripMargin,
    "llm_kmeans_twolevel" ->
      (lloydCtes + """,
        |c2 AS MATERIALIZED (
        |  SELECT a2.cluster AS cid, dims.dim,
        |    CAST(floor(sum(dims.q)::DOUBLE / count(*)) AS BIGINT) AS c
        |  FROM dims JOIN a2 USING (vec_id) GROUP BY 1, 2),
        |nk1 AS (
        |  SELECT greatest(2, CAST(floor(sqrt(k::DOUBLE)) AS BIGINT)) AS k1
        |  FROM nk),
        |sseed AS (
        |  SELECT cid, scid FROM (
        |    SELECT cid, (row_number() OVER (ORDER BY cid) - 1)::INT AS scid
        |    FROM (SELECT DISTINCT cid FROM c2))
        |  WHERE scid < (SELECT k1 FROM nk1)),
        |sc0 AS (SELECT s.scid, c2.dim, c2.c FROM c2 JOIN sseed s USING (cid)),
        |fd1 AS (
        |  SELECT c2.cid, sc0.scid,
        |    sum((c2.c - sc0.c) * (c2.c - sc0.c)) AS dist
        |  FROM c2 JOIN sc0 USING (dim) GROUP BY 1, 2),
        |fa1 AS (
        |  SELECT cid, scid FROM (
        |    SELECT cid, scid, row_number() OVER (PARTITION BY cid
        |      ORDER BY dist ASC, scid ASC) AS rn FROM fd1) WHERE rn = 1),
        |sc1 AS (
        |  SELECT fa1.scid, c2.dim,
        |    CAST(floor(sum(c2.c)::DOUBLE / count(*)) AS BIGINT) AS c
        |  FROM c2 JOIN fa1 USING (cid) GROUP BY 1, 2),
        |fd2 AS (
        |  SELECT c2.cid, sc1.scid,
        |    sum((c2.c - sc1.c) * (c2.c - sc1.c)) AS dist
        |  FROM c2 JOIN sc1 USING (dim) GROUP BY 1, 2),
        |fa2 AS (
        |  SELECT cid, scid FROM (
        |    SELECT cid, scid, row_number() OVER (PARTITION BY cid
        |      ORDER BY dist ASC, scid ASC) AS rn FROM fd2) WHERE rn = 1),
        |pd AS (
        |  SELECT dims.vec_id, sc1.scid,
        |    sum((dims.q - sc1.c) * (dims.q - sc1.c)) AS dist
        |  FROM dims JOIN sc1 USING (dim) GROUP BY 1, 2),
        |pa AS (
        |  SELECT vec_id, scid FROM (
        |    SELECT vec_id, scid, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dist ASC, scid ASC) AS rn FROM pd) WHERE rn = 1),
        |pf AS (
        |  SELECT pa.vec_id, pa.scid, fa2.cid,
        |    sum((dims.q - c2.c) * (dims.q - c2.c)) AS dist
        |  FROM pa JOIN fa2 USING (scid)
        |  JOIN dims ON dims.vec_id = pa.vec_id
        |  JOIN c2 ON c2.cid = fa2.cid AND c2.dim = dims.dim
        |  GROUP BY 1, 2, 3),
        |tl AS (
        |  SELECT vec_id, scid, cid AS tl_cluster, cnt AS n_probed FROM (
        |    SELECT vec_id, scid, cid,
        |      count(*) OVER (PARTITION BY vec_id) AS cnt,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY dist ASC, cid ASC) AS rn
        |    FROM pf) WHERE rn = 1),
        |bd AS (
        |  SELECT dims.vec_id, c2.cid,
        |    sum((dims.q - c2.c) * (dims.q - c2.c)) AS dist
        |  FROM dims JOIN c2 USING (dim) GROUP BY 1, 2),
        |ba AS (
        |  SELECT vec_id, cid AS b_cluster FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dist ASC, cid ASC) AS rn FROM bd) WHERE rn = 1),
        |cc AS (SELECT scid, count(*) AS n_cells FROM fa2 GROUP BY 1)
        |SELECT tl.scid, cc.n_cells, count(*) AS n_points,
        |  CAST(sum(CASE WHEN tl.tl_cluster = ba.b_cluster
        |               THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
        |  CAST(sum(tl.n_probed) + count(*) * (SELECT k1 FROM nk1)
        |       AS BIGINT) AS tl_evals,
        |  CAST(count(*) * (SELECT k FROM nk) AS BIGINT) AS brute_evals,
        |  round(sum(CASE WHEN tl.tl_cluster = ba.b_cluster
        |                THEN 1 ELSE 0 END) / count(*)::DOUBLE, 4)
        |    AS agree_frac
        |FROM tl JOIN ba USING (vec_id) JOIN cc ON cc.scid = tl.scid
        |GROUP BY 1, 2""".stripMargin),
    "llm_semdedup" ->
      (lloydCtes + """,
        |q3 AS (
        |  SELECT vec_id, i - 1 AS dim,
        |    CAST(round(embedding[i]::DOUBLE * 1000) AS BIGINT) AS q
        |  FROM embeddings, range(1, 65) r(i)),
        |nrm AS (
        |  SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS nn
        |  FROM q3 GROUP BY vec_id),
        |prs AS (
        |  SELECT a.vec_id AS ida, b.vec_id AS idb,
        |         CAST(sum(qa.q * qb.q) AS BIGINT) AS dot
        |  FROM a2 a JOIN a2 b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  JOIN q3 qa ON qa.vec_id = a.vec_id
        |  JOIN q3 qb ON qb.vec_id = b.vec_id AND qb.dim = qa.dim
        |  GROUP BY 1, 2),
        |sim AS (
        |  SELECT DISTINCT prs.idb AS vec_id
        |  FROM prs
        |  JOIN nrm na ON prs.ida = na.vec_id
        |  JOIN nrm nb ON prs.idb = nb.vec_id
        |  WHERE dot > 0
        |    AND dot * dot * 10000 >= 4900 * na.nn * nb.nn)
        |SELECT a2.vec_id, a2.cluster, sim.vec_id IS NULL AS keep
        |FROM a2 LEFT JOIN sim ON a2.vec_id = sim.vec_id""".stripMargin),
    "llm_bpe_stats" ->
      """WITH wc AS (
        |  SELECT w, count(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w != '' GROUP BY w),
        |p AS (
        |  -- constant range + length filter: DuckDB's range() cannot take
        |  -- lateral column parameters; 32 safely exceeds any fixture word
        |  SELECT substr(w, CAST(i AS INT), 2) AS pair, c
        |  FROM wc, range(1, 32) r(i)
        |  WHERE len(w) >= 2 AND i <= len(w) - 1)
        |SELECT pair, CAST(sum(c) AS BIGINT) AS cnt,
        |       count(*) AS n_contexts
        |FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,
    "llm_rlhf_pairs" ->
      """WITH toks AS (
        |  SELECT source, lang, doc_id,
        |         unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sc AS (
        |  SELECT source, lang, doc_id,
        |    CAST((CAST(sum(len(tok)) AS BIGINT) * 10000) // count(*)
        |         AS BIGINT) AS score_fp
        |  FROM toks WHERE tok != '' GROUP BY 1, 2, 3),
        |b AS (
        |  SELECT source, lang, doc_id AS chosen_doc,
        |         score_fp AS chosen_score_fp
        |  FROM (SELECT *, row_number() OVER (PARTITION BY source, lang
        |          ORDER BY score_fp DESC, doc_id ASC) AS rn FROM sc)
        |  WHERE rn = 1),
        |w AS (
        |  SELECT source, lang, doc_id AS rejected_doc,
        |         score_fp AS rejected_score_fp
        |  FROM (SELECT *, row_number() OVER (PARTITION BY source, lang
        |          ORDER BY score_fp ASC, doc_id ASC) AS rn FROM sc)
        |  WHERE rn = 1)
        |SELECT b.source, b.lang, chosen_doc, rejected_doc,
        |       chosen_score_fp, rejected_score_fp,
        |       chosen_score_fp - rejected_score_fp AS margin_fp
        |FROM b JOIN w USING (source, lang)
        |WHERE chosen_doc != rejected_doc""".stripMargin,
    "llm_url_normalize" ->
      """WITH raw AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents),
        |u AS (
        |  SELECT doc_id,
        |    (CASE WHEN v = 0 THEN 'HTTPS://Example.COM'
        |          ELSE 'https://example.com' END)
        |    || (CASE WHEN v = 1 THEN ':443' ELSE '' END)
        |    || '/site/' || (g % 7) || '/page/' || g
        |    || (CASE WHEN v = 2 THEN '/' ELSE '' END)
        |    || (CASE WHEN v = 0 THEN '?b=2&a=' || (g % 9)
        |             WHEN v = 1 THEN '?a=' || (g % 9) || '&b=2'
        |             WHEN v = 2 THEN '?b=2&a=' || (g % 9) || '&utm_campaign=x'
        |             ELSE '?utm_source=feed&b=2&a=' || (g % 9) END) AS url
        |  FROM raw),
        |c AS (
        |  SELECT doc_id, url,
        |    'https://'
        |    || regexp_replace(lower(regexp_extract(url,
        |         '^[hH][tT][tT][pP][sS]?://([^/]+)', 1)), ':443$', '')
        |    || regexp_replace(regexp_extract(url,
        |         '^[a-zA-Z]+://[^/]+([^?]*)', 1), '/$', '')
        |    || '?' || array_to_string(list_sort(list_filter(
        |         string_split(regexp_extract(url, '\?(.*)$', 1), '&'),
        |         x -> substr(x, 1, 4) != 'utm_')), '&') AS curl
        |  FROM u)
        |SELECT curl AS canonical_url, count(*) AS n_variants,
        |       min(doc_id) AS canonical_doc,
        |       count(DISTINCT url) AS n_distinct_raw
        |FROM c GROUP BY curl""".stripMargin,
    "llm_dataset_card" ->
      """WITH b AS (
        |  SELECT count(*) AS n_docs,
        |         count(DISTINCT lang) AS n_langs,
        |         count(DISTINCT source) AS n_sources,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |           AS n_tokens,
        |         CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_short
        |  FROM documents),
        |dd AS (
        |  SELECT CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
        |           AS n_dup_docs
        |  FROM (SELECT text, count(*) AS c FROM documents GROUP BY text))
        |SELECT u.* FROM b, dd, LATERAL (
        |  SELECT 'n_docs' AS metric, n_docs::DOUBLE AS value
        |  UNION ALL SELECT 'n_langs', n_langs::DOUBLE
        |  UNION ALL SELECT 'n_sources', n_sources::DOUBLE
        |  UNION ALL SELECT 'n_tokens', n_tokens::DOUBLE
        |  UNION ALL SELECT 'short_doc_ratio',
        |    round(n_short / n_docs::DOUBLE, 4)
        |  UNION ALL SELECT 'dup_doc_ratio',
        |    round(n_dup_docs / n_docs::DOUBLE, 4)
        |  UNION ALL SELECT 'mean_doc_tokens',
        |    round(n_tokens / n_docs::DOUBLE, 4)
        |) u""".stripMargin,
    "llm_cooccur" ->
      """WITH pres AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE tok != ''),
        |n AS (SELECT count(*) AS n FROM documents),
        |cnt AS (SELECT tok, count(*) AS c FROM pres GROUP BY tok),
        |pairs AS (
        |  SELECT p1.tok AS a, p2.tok AS b, count(*) AS c_ab
        |  FROM pres p1 JOIN pres p2
        |    ON p1.doc_id = p2.doc_id AND p1.tok < p2.tok
        |  GROUP BY 1, 2)
        |SELECT a, b, c_ab, ca.c AS c_a, cb.c AS c_b,
        |       (c_ab * n.n * 1000000) // (ca.c * cb.c) AS score_fp,
        |       round(ln((c_ab * n.n) / (ca.c * cb.c)::DOUBLE), 4) AS pmi
        |FROM pairs
        |JOIN cnt ca ON pairs.a = ca.tok
        |JOIN cnt cb ON pairs.b = cb.tok
        |CROSS JOIN n
        |WHERE c_ab >= 3 AND c_ab * 20 >= n.n
        |ORDER BY score_fp DESC, a, b LIMIT 20""".stripMargin,
    "llm_inverted_index" ->
      """WITH tf AS (
        |  SELECT tok, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE tok != ''
        |  GROUP BY tok, doc_id),
        |stats AS (
        |  SELECT tok, count(*) AS df,
        |         CAST(sum(tf) AS BIGINT) AS total_tf
        |  FROM tf GROUP BY tok),
        |ranked AS (
        |  SELECT tok, doc_id, tf, row_number() OVER (
        |    PARTITION BY tok ORDER BY tf DESC, doc_id ASC) AS rank
        |  FROM tf),
        |top AS (
        |  SELECT tok, string_agg(doc_id || ':' || tf, ',' ORDER BY rank)
        |    AS postings
        |  FROM ranked WHERE rank <= 5 GROUP BY tok)
        |SELECT s.tok, s.df, s.total_tf, t.postings
        |FROM stats s JOIN top t ON s.tok = t.tok""".stripMargin,
    "llm_domain_mix" ->
      """WITH ps AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |             count(*) AS n_sources FROM ps)
        |SELECT ps.source, ps.n_docs, ps.n_tokens,
        |  round(ps.n_tokens::DOUBLE / t.total_tokens, 4) AS token_share,
        |  ((t.total_tokens // t.n_sources) * 10000) // ps.n_tokens
        |    AS weight_fp,
        |  ps.n_tokens > (t.total_tokens // t.n_sources) AS over_represented
        |FROM ps, t""".stripMargin,
    // sqrt is IEEE-correctly-rounded on both engines; everything after
    // the one per-row quantize is exact integer div-of-divs
    "llm_mix_temperature" ->
      """WITH ps AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |q AS (
        |  SELECT *, CAST(round(sqrt(n_tokens::DOUBLE) * 1e6) AS BIGINT)
        |    AS s_fp FROM ps),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |             CAST(sum(s_fp) AS BIGINT) AS total_s FROM q),
        |b AS (
        |  SELECT q.source, q.n_docs, q.n_tokens,
        |    (q.n_tokens * 10000) // t.total_tokens AS p_bp,
        |    (q.s_fp * 10000) // t.total_s AS q_bp
        |  FROM q, t)
        |SELECT source, n_docs, n_tokens, p_bp, q_bp,
        |  CASE WHEN p_bp = 0 THEN CAST(-1 AS BIGINT)
        |       ELSE (q_bp * 10000) // p_bp END AS weight_bp,
        |  q_bp > p_bp AS upsampled
        |FROM b""".stripMargin,
    "llm_perplexity_proxy" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |toks AS (SELECT * FROM tk WHERE tok != ''),
        |total AS (SELECT count(*) AS n_total FROM toks),
        |lm AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |scored AS (
        |  SELECT t.doc_id,
        |    CAST(round(-ln(lm.cnt::DOUBLE / total.n_total) * 1000000)
        |         AS BIGINT) AS nlp_fp
        |  FROM toks t JOIN lm USING (tok) CROSS JOIN total)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(CAST(sum(nlp_fp) AS BIGINT)::DOUBLE / count(*) / 1000000, 4)
        |    AS mean_nll
        |FROM scored GROUP BY doc_id""".stripMargin,
    "llm_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 8 THEN
        |      list_distinct([array_to_string(t[i:i+7], ' ')
        |                     for i in range(1, len(t) - 6)])
        |    ELSE [] END AS gs
        |  FROM toks),
        |ev AS (SELECT doc_id, gs, len(gs) AS n_grams FROM g
        |       WHERE doc_id % 20 = 7),
        |tr AS (SELECT DISTINCT unnest(gs) AS gram FROM g
        |       WHERE doc_id % 20 != 7),
        |hit AS (
        |  SELECT e.doc_id, count(*) AS n_hit
        |  FROM (SELECT doc_id, unnest(gs) AS gram FROM ev) e
        |  JOIN tr USING (gram) GROUP BY e.doc_id)
        |SELECT ev.doc_id, ev.n_grams,
        |  coalesce(hit.n_hit, 0) AS n_hit,
        |  CASE WHEN ev.n_grams = 0 THEN 0.0
        |       ELSE round(coalesce(hit.n_hit, 0)::DOUBLE / ev.n_grams, 4)
        |  END AS containment,
        |  (CASE WHEN ev.n_grams = 0 THEN 0.0
        |        ELSE round(coalesce(hit.n_hit, 0)::DOUBLE / ev.n_grams, 4)
        |   END) >= 0.8 AS contaminated
        |FROM ev LEFT JOIN hit ON ev.doc_id = hit.doc_id""".stripMargin,
    "llm_pack_sequences" ->
      s"""WITH d AS (
        |  SELECT lang, doc_id,
        |    least(len(string_split(text, ' ')), $C) AS nt
        |  FROM documents),
        |b AS (
        |  SELECT lang, nt,
        |    CAST(floor((sum(nt) OVER (PARTITION BY lang ORDER BY doc_id
        |                 ROWS UNBOUNDED PRECEDING) - nt)::DOUBLE / $C)
        |         AS BIGINT) AS bin
        |  FROM d),
        |bins AS (
        |  SELECT lang, bin, CAST(sum(nt) AS BIGINT) AS tok
        |  FROM b GROUP BY lang, bin)
        |SELECT lang,
        |  count(*) AS n_bins,
        |  CAST(sum(tok) AS BIGINT) AS total_tokens,
        |  count(*) FILTER (WHERE tok > $C) AS n_overflow_bins,
        |  CAST(sum(CASE WHEN tok < $C THEN $C - tok ELSE 0 END) AS BIGINT)
        |    AS total_waste,
        |  round(sum(tok)::DOUBLE / (count(*) * $C), 4) AS fill_rate
        |FROM bins GROUP BY lang""".stripMargin,
    // identical lattice, H[j][k] = (−1)^popcount(j&k), same grid math
    // both train chains replayed via the prefix-parameterized CTEs over
    // the shared anisotropic lattice; the rotation is the explicit
    // H[j][k] = (−1)^popcount(j&k) matrix; one plain-space ground truth
    // judges both (orthogonality: H scales every distance by 64)
    "llm_ann_opq_recall" ->
      ("""WITH base AS MATERIALIZED (
        |  SELECT vec_id,
        |    [CAST(round(embedding[j + 1] * 100.0, 0) AS BIGINT)
        |      * (8 + j) for j in range(0, 64)] AS v
        |  FROM embeddings),
        |rotv AS MATERIALIZED (
        |  SELECT vec_id,
        |    [CAST(list_sum([v[j + 1] * (CASE WHEN
        |        bit_count(CAST(j AS BIGINT) & CAST(k AS BIGINT)) % 2 = 0
        |        THEN 1 ELSE -1 END) for j in range(0, 64)]) AS BIGINT)
        |     for k in range(0, 64)] AS v
        |  FROM base),
        |dims AS MATERIALIZED (
        |  SELECT vec_id, i - 1 AS dim, (i - 1) // 8 AS m, v[i] AS q
        |  FROM base, range(1, 65) r(i)),
        |rdims AS MATERIALIZED (
        |  SELECT vec_id, i - 1 AS dim, (i - 1) // 8 AS m, v[i] AS q
        |  FROM rotv, range(1, 65) r(i)),
        |""".stripMargin
        + pqTrainCtesFor("", "dims") + ",\n"
        + pqTrainCtesFor("r_", "rdims") + """,
        |ex AS (
        |  SELECT dq.vec_id AS qid, dc.vec_id AS cand_id,
        |    sum((dq.q - dc.q) * (dq.q - dc.q)) AS dist
        |  FROM dims dq
        |  JOIN dims dc ON dq.dim = dc.dim AND dc.vec_id != dq.vec_id
        |  WHERE dq.vec_id < 10
        |  GROUP BY 1, 2),
        |ex3 AS MATERIALIZED (
        |  SELECT qid, cand_id FROM (
        |    SELECT qid, cand_id,
        |      row_number() OVER (PARTITION BY qid
        |                         ORDER BY dist ASC, cand_id ASC) AS rn
        |    FROM ex) WHERE rn <= 3),
        |dtab AS (
        |  SELECT d.vec_id AS qid, d.m, c.j,
        |    sum((d.q - c.c) * (d.q - c.c)) AS dt
        |  FROM dims d JOIN c1 c ON c.m = d.m AND c.dim = d.dim
        |  WHERE d.vec_id < 10 GROUP BY 1, 2, 3),
        |pt3 AS (
        |  SELECT qid, cand_id FROM (
        |    SELECT t.qid, k.vec_id AS cand_id,
        |      row_number() OVER (PARTITION BY t.qid
        |        ORDER BY sum(t.dt) ASC, k.vec_id ASC) AS rn
        |    FROM codes k JOIN dtab t ON t.m = k.m AND t.j = k.code
        |    WHERE k.vec_id != t.qid
        |    GROUP BY t.qid, k.vec_id) WHERE rn <= 3),
        |rdtab AS (
        |  SELECT d.vec_id AS qid, d.m, c.j,
        |    sum((d.q - c.c) * (d.q - c.c)) AS dt
        |  FROM rdims d JOIN r_c1 c ON c.m = d.m AND c.dim = d.dim
        |  WHERE d.vec_id < 10 GROUP BY 1, 2, 3),
        |rt3 AS (
        |  SELECT qid, cand_id FROM (
        |    SELECT t.qid, k.vec_id AS cand_id,
        |      row_number() OVER (PARTITION BY t.qid
        |        ORDER BY sum(t.dt) ASC, k.vec_id ASC) AS rn
        |    FROM r_codes k JOIN rdtab t ON t.m = k.m AND t.j = k.code
        |    WHERE k.vec_id != t.qid
        |    GROUP BY t.qid, k.vec_id) WHERE rn <= 3)
        |SELECT 'plain' AS variant, e.qid,
        |  CAST(count(t.cand_id) AS BIGINT) AS n_hit,
        |  round(count(t.cand_id) / count(*)::DOUBLE, 4) AS recall_at_3
        |FROM ex3 e LEFT JOIN pt3 t USING (qid, cand_id) GROUP BY e.qid
        |UNION ALL
        |SELECT 'hadamard', e.qid, CAST(count(t.cand_id) AS BIGINT),
        |  round(count(t.cand_id) / count(*)::DOUBLE, 4)
        |FROM ex3 e LEFT JOIN rt3 t USING (qid, cand_id)
        |GROUP BY e.qid""".stripMargin),
    "llm_ann_opq" ->
      """WITH base AS (
        |  SELECT vec_id,
        |    [CAST(round(embedding[j + 1] * 100.0, 0) AS BIGINT)
        |      * (8 + j) for j in range(0, 64)] AS v
        |  FROM embeddings),
        |had AS (
        |  SELECT vec_id,
        |    [CAST(list_sum([v[j + 1] * (CASE WHEN
        |        bit_count(CAST(j AS BIGINT) & CAST(k AS BIGINT)) % 2 = 0
        |        THEN 1 ELSE -1 END) for j in range(0, 64)]) AS BIGINT)
        |     for k in range(0, 64)] AS v
        |  FROM base),
        |b2 AS (
        |  SELECT 'plain' AS variant, v FROM base
        |  UNION ALL SELECT 'hadamard', v FROM had),
        |dims AS (
        |  SELECT variant, CAST((t.j - 1) // 8 AS INT) AS m, v[t.j] AS x
        |  FROM b2 CROSS JOIN range(1, 65) t(j)),
        |stats AS (
        |  SELECT variant, m, min(x) AS mn, max(x) AS mx,
        |    CAST(sum(x * x) AS BIGINT) AS energy
        |  FROM dims GROUP BY variant, m),
        |e AS (
        |  SELECT d.variant, d.m, s.mn, s.mx, s.energy,
        |    greatest(1, (s.mx - s.mn) // 255) AS step, d.x
        |  FROM dims d JOIN stats s ON d.variant = s.variant AND d.m = s.m),
        |r AS (
        |  SELECT variant, m, mn, mx, energy, x,
        |    mn + least(255, (x - mn) // step) * step + step // 2 AS recon
        |  FROM e)
        |SELECT variant, m, mn, mx,
        |  CAST(CASE WHEN variant = 'hadamard' THEN energy // 64
        |       ELSE energy END AS BIGINT) AS energy_n,
        |  CAST(CASE WHEN variant = 'hadamard'
        |       THEN sum((x - recon) * (x - recon)) // 64
        |       ELSE sum((x - recon) * (x - recon)) END AS BIGINT)
        |    AS grid_err_n
        |FROM r GROUP BY variant, m, mn, mx, energy""".stripMargin,
    // same exclusive-cumsum bin math per (lang, cap); integer bp fill
    "llm_pack_sweep" ->
      """WITH caps AS (SELECT unnest([64, 128, 256, 512]) AS cap),
        |d AS (
        |  SELECT lang, doc_id, len(string_split(text, ' ')) AS ntoks
        |  FROM documents),
        |e AS (
        |  SELECT caps.cap, d.lang, d.doc_id, least(d.ntoks, caps.cap) AS nt
        |  FROM d CROSS JOIN caps),
        |b AS (
        |  SELECT cap, lang, nt,
        |    CAST(floor((sum(nt) OVER (PARTITION BY lang, cap ORDER BY doc_id
        |                 ROWS UNBOUNDED PRECEDING) - nt)::DOUBLE / cap)
        |         AS BIGINT) AS bin
        |  FROM e),
        |bins AS (
        |  SELECT cap, lang, bin, CAST(sum(nt) AS BIGINT) AS tok
        |  FROM b GROUP BY cap, lang, bin)
        |SELECT cap, CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(sum(tok) AS BIGINT) AS total_tokens,
        |  CAST(count(*) FILTER (WHERE tok > cap) AS BIGINT)
        |    AS n_overflow_bins,
        |  CAST(sum(CASE WHEN tok < cap THEN cap - tok ELSE 0 END) AS BIGINT)
        |    AS total_waste,
        |  CAST((sum(tok) * 10000) // (count(*) * cap) AS BIGINT)
        |    AS fill_rate_bp
        |FROM bins GROUP BY cap""".stripMargin,
    "llm_kmeans" ->
      (lloydCtes + """,
        |c2 AS MATERIALIZED (
        |  SELECT a2.cluster AS cid, dims.dim,
        |    CAST(floor(sum(dims.q)::DOUBLE / count(*)) AS BIGINT) AS c
        |  FROM dims JOIN a2 USING (vec_id) GROUP BY a2.cluster, dims.dim),
        |m AS (
        |  SELECT cluster, count(*) AS n_members, min(vec_id) AS min_vec_id
        |  FROM a2 GROUP BY cluster),
        |cs AS (
        |  SELECT cid AS cluster, CAST(sum(c) AS BIGINT) AS centroid_sum
        |  FROM c2 GROUP BY cid)
        |SELECT m.cluster, m.n_members, m.min_vec_id, cs.centroid_sum
        |FROM m JOIN cs USING (cluster)""".stripMargin),
    "llm_tfidf" ->
      """WITH toks AS (
        |  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tk AS (SELECT * FROM toks WHERE tok != ''),
        |n AS (SELECT count(*) AS n FROM documents),
        |dfreq AS (
        |  SELECT tok, count(*) AS doc_freq FROM (
        |    SELECT DISTINCT tok, doc_id FROM tk) GROUP BY tok),
        |tf AS (
        |  SELECT lang, tok, count(*) AS tf FROM tk GROUP BY lang, tok),
        |scored AS (
        |  SELECT tf.lang, tf.tok, tf.tf, dfreq.doc_freq,
        |    round(tf.tf * ln(n.n::DOUBLE / dfreq.doc_freq), 4) AS score
        |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n)
        |SELECT lang, rank, tok, tf, doc_freq, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |             ORDER BY score DESC, tok ASC) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin
  )
}
