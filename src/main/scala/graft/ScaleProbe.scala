package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.StageUtil

/** 10× scale probe for the text/embedding operator family (the README's
  * "would this survive a scale-up" evidence, reproducible per round).
  *
  * Stages the clone tier of a fixture dir (`cloneTier`, 10 copies by
  * default), then times each probe op with `Probe.timed` via the same
  * `SparkEntry.queries` entries the gate runs. A probe op is healthy
  * when its runtime scales with its OUTPUT/WORK (pairs verified, chunks
  * produced), never with candidate pairs².
  *
  * Run: `sbt "runMain graft.ScaleProbe [copies] [op,op,...]"` (env
  * SPARK_GRAFT_SF_DIR, default sf0.1, and SPARK_GRAFT_CPUS); the op list
  * filters by op name or row label for targeted re-measurement.
  */
object ScaleProbe {
  private val k = col("k")

  /** `df`'s rows once per clone k in [0, copies). */
  private def cloned(df: DataFrame, copies: Int): DataFrame =
    df.withColumn("k", explode(lit((0 until copies).toArray)))

  /** Stage `tables` (name → rows) as `<dir>/<name>.parquet` in one dir
    * keyed by `tag` and `src` under `StageUtil.root`: built once per JVM,
    * wiped when the JVM exits. */
  private def staged(spark: SparkSession, tag: String, src: String)(
      tables: => Seq[(String, DataFrame)]): String =
    StageUtil.staged(s"probe_$tag", src) { dir =>
      tables.foreach { case (t, df) => df.write.parquet(s"$dir/$t.parquet") }
    }

  /** The clone tier of fixture dir `src`: every table below holds each
    * source row once per clone k, ids scaled (id·copies+k) or shifted by
    * k times a fixed offset, each written as 32 files. Documents gain a
    * clone suffix token ` v<k>` for k>0: clones of one source form a true
    * near-dup cluster (3-shingle Jaccard ≈ (n-2)/(n+2) ≈ 0.93 ≥ τ=0.8,
    * C(copies,2) verified pairs per source doc). Embeddings are cloned
    * unchanged. lineitem offsets both keys per clone, so the co-supply
    * graph becomes `copies` DISJOINT clones: node and edge counts grow
    * ×copies at fixed per-node degree, and superlinear growth would
    * expose a Σdeg²-shaped shuffle. events/orders/customer give every
    * clone its own user and customer space (k·10⁷) with timestamps and
    * nationkey unchanged, so per-entity history stays fixed and lateral
    * joins stay consistent; supplier follows lineitem's k·10⁶.
    * A file of 1 part serializes every downstream map stage, hence
    * `repartition(32)`. perfbench/inputs.py `_clone_sql` mirrors
    * documents, embeddings and lineitem row for row. */
  private[graft] def cloneTier(spark: SparkSession, src: String, copies: Int): String = {
    def scaled(c: String) = (col(c) * copies + k).as(c)
    def shifted(c: String, by: Long) = (col(c) + k * lit(by)).as(c)
    val tables: Seq[(String, DataFrame => DataFrame)] = Seq(
      "documents" -> (_.select(scaled("doc_id"),
        when(k === 0, col("text"))
          .otherwise(concat(col("text"), lit(" v"), k)).as("text"),
        col("lang"), col("source"), col("n_chars"))),
      "embeddings" -> (_.select(scaled("vec_id"), col("label"), col("embedding"))),
      "lineitem" -> (_.withColumns(Map("l_orderkey" -> scaled("l_orderkey"),
        "l_suppkey" -> shifted("l_suppkey", 1000000L))).drop("k")),
      "events" -> (Tables.normalizeTs(_).select(scaled("event_id"), col("ts"),
        shifted("user_id", 10000000L), col("event_type"), col("value"), col("props"))),
      "orders" -> (_.select(scaled("o_orderkey"), shifted("o_custkey", 10000000L),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))),
      "customer" -> (_.withColumn("c_custkey", shifted("c_custkey", 10000000L)).drop("k")),
      "supplier" -> (_.withColumn("s_suppkey", shifted("s_suppkey", 1000000L)).drop("k")))
    staged(spark, s"clone$copies", src)(tables.map { case (t, f) =>
      t -> f(cloned(Tables.read(spark, s"$src/$t.parquet"), copies)).repartition(32)
    })
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus(32))

    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // scale tier: 10× default; 1×/10×/30× build the asymptotics table in
    // SCALE.md (sub-quadratic claims need two growth measurements, not
    // one)
    val copies = args.headOption.getOrElse("10").toInt
    val out = cloneTier(spark, src, copies)

    val probes = (
      // pair-quadratic-by-construction op: gated OUT at ≥30× (output
      // pairs grow ×copies² on the clone corpus; 1×/10× are the
      // documented tiers — see the llm_lsh_autorewrite comment below)
      (if (copies < 30) Seq("llm_lsh_autorewrite",
        // same gate for the TEXT-side rescue (r12): clone families are
        // true near-dups (J≈0.93), so verified pairs grow ×copies² by
        // construction — and unlike dedupNear the generic rewrite ships
        // the shingle arrays through the ×16 band explode (the
        // documented safety-net-vs-engineered-pipeline trade)
        "llm_lsh_autorewrite_jaccard",
        // spatial radius join (r12): clones scatter uniformly into the
        // SAME 10⁴×10⁴ area (density ×copies, area fixed), so close
        // pairs grow ×copies² BY CONSTRUCTION — the 1×/10× tiers
        // document that output-mass growth; 30× would aggregate ~250 M
        // directed pairs for a 450 k-row readout
        "join_spatial_radius",
        // spatial kNN (r12): same ×copies² candidate-pair generation as
        // the radius join (the WindowGroupLimit prunes post-shuffle
        // mass, not the pair-filter work), so same 30× gate
        "join_spatial_knn",
        // optimizer-rescued naive radius join (r13): the rewritten plan
        // IS join_spatial_radius's cell equi-join, so the same
        // ×copies²-output gate applies
        "join_spatial_autorewrite") else Seq.empty)
    ) ++ Seq(
      // incremental shard-vs-index dedup: cost must track the NEW side
      // (B·collisions) — the clone corpus inflates index collisions per
      // new doc ~10×, runtime must follow verified matches, not corpus²
      "llm_dedup_incremental",
      // cluster maintenance: staged labels + O(matches) assignment —
      // growth must track the new shard's matches, like the pair op
      "llm_cluster_incremental",
      "llm_dedup_exact", "llm_dedup_near", "llm_dedup_cluster",
      "llm_dedup_simhash", "llm_dedup_ngram", "llm_fingerprint",
      "llm_chunk", "llm_quality_filter", "llm_sample_stratified",
      "llm_text_stats", "llm_token_count", "udtf_ngrams",
      "llm_embed_quantize", "llm_similarity_topk", "llm_ann_ivf",
      "curation_e2e",
      "llm_decontaminate", "llm_pack_sequences", "llm_kmeans", "llm_tfidf",
      "llm_perplexity_proxy",
      // adaptive-K semdedup (20 k vectors → K=156, pair space stays
      // ≈ N·128), sign-cell LSH embedding dedup, Gopher repetition gates
      "llm_semdedup", "llm_dedup_embed", "llm_repetition_filter",
      // learned-quantizer IVF: per-query candidate work must stay
      // ≈ nprobe·(N/K), i.e. flat, as N and K grow together
      "llm_ann_ivf_kmeans",
      // substring dedup: window pass only over duplicated positions —
      // the clone corpus makes EVERY gram duplicated, the worst case
      "llm_dedup_substring",
      // one-pass Gram aggregator: cost is N·D²/2 multiply-adds map-side,
      // shuffle stays |partitions| flat buffers at any N
      "llm_gram_matrix",
      // containment: the clone corpus is its worst case — every family
      // shares nearly all 8-grams (df≈10 per gram, under the T=64 cap),
      // so the postings join carries the full family pair fan-out;
      // healthy = scales with verified family pairs, never corpus²
      "llm_dedup_containment",
      // two-level quantizer: assign work per point is K₁+|cell| ≈ 2√K —
      // must grow ~√10 per decade, not the brute ×10 (K∝N)
      "llm_kmeans_twolevel",
      // importance sampling: emitted multiset ≈ corpus-sized (token mass
      // conserved), growth must track emitted rows
      "llm_sample_importance",
      // product quantization: training/encode are N·M·K broadcast folds,
      // ADC is N·M·|queries| lookups — growth must stay ~linear in N
      // (codebook size is fixed, unlike the K∝N kmeans family)
      "llm_ann_pq",
      // shard layout: one map-side pass + a 16-row aggregate — linear
      "llm_shard_layout",
      // graph family over 10 disjoint graph clones: healthy = ~linear in
      // edges (sorted-adjacency merges), never Σdeg² shuffle rows;
      // components crosses the union-find gate (2^20 edges) between the
      // 1× and 10× tiers — the tier table shows both regimes
      "graph_pagerank", "graph_triangles", "graph_jaccard",
      "graph_components",
      // BFS: rounds = seed eccentricity (flat across disjoint clones —
      // the seeds' component doesn't grow); per-round cost is
      // frontier-sized joins, so growth tracks the adjacency build
      "graph_bfs",
      // events/orders family over the disjoint-entity clones: sessionize
      // is the one-shuffle window+agg chain (linear in rows, state per
      // user fixed); ewma/drift collapse to the hourly/bucket series
      // first (aggregate growth is bounded by the series, not the rows);
      // the two snapshot+delta ops must track delta + touched entities,
      // never the full re-window/re-aggregate
      "ts_sessionize", "ts_ewma", "dq_drift", "mv_incremental",
      "dim_scd2_incremental",
      // CUSUM windows run over the collapsed hourly series — row growth
      // lands entirely in the collapse's map-side combine, so growth
      // must be scan-bound; embedding drift's explode partial-aggregates
      // to |labels|·2·D rows before the shuffle at any N
      "ts_changepoint", "llm_embedding_drift",
      // PIT join over the cloned orders: the window build and the keyed
      // probe must both grow ~linearly in rows (per-customer history
      // fixed); PQ recall must stay query-bound (10 broadcast queries ×
      // linear corpus pass) as N grows
      "join_pit", "llm_ann_pq_recall",
      // single-aggregate audits: growth must be the scan, nothing else
      // (skew's frequency table is key-sized; stats' multi-distinct
      // expands map-side; the split is one map-side hash)
      "dq_skew", "maintenance_stats", "llm_split_holdout",
      // the flagship hash aggregate (r13, for the 100× tier): pure
      // map-side-combined groupBy — the canonical scan-bound row
      "agg_hash",
      // round-9 retrieval/curriculum family over the clone corpus: bm25
      // is two token aggregates + a broadcast 5-term query (scan-bound);
      // vocab coverage is one (lang, tok) aggregate + a 500-row
      // broadcast; curriculum's ntile replication shuffles the per-doc
      // rows once by rare_bp; winnow postings are df≤50-capped, so pair
      // fan-out tracks the engineered clone families, never corpus²
      "llm_bm25", "llm_vocab_coverage", "llm_curriculum",
      "llm_dedup_winnow",
      // robust-stats pair: both collapse raw events to the hourly series
      // first (the ts_gapfill rule) — growth must be scan-bound; the
      // completeness profile is one expand-based aggregate (×5 partial
      // rows map-side, 1 output row per column)
      "ts_anomaly_mad", "ts_rolling_corr", "dq_completeness",
      // blocklist screening is per-row HOF work (scan-bound); freshness
      // is two map-side aggregate passes + a 1-row broadcast
      "llm_safety_filter", "dq_freshness",
      // degree histogram reads the memoized adjacency (1 row/node);
      // 2hop is seed-bounded (10 seeds × local Σdeg) — must stay ~flat
      // in graph size beyond the shared adjacency build
      "graph_degree_dist", "graph_2hop",
      // assortativity: one explode + equi-join on node id + one global
      // aggregate — must track the edge count
      "graph_assortativity",
      // release audit: one full-outer diff join on doc_id + a 3-row
      // split aggregate — must track the snapshot size like dataset_diff
      "llm_lineage_audit",
      // progressive peel: rounds × (degree agg + two semi-joins) with a
      // shrinking frontier — growth must track the adjacency build
      "graph_kcore",
      // both collapse to the hourly series first (the ts_gapfill rule) /
      // one user-keyed window + |types|² aggregate — scan-bound
      "ts_acf", "ts_transitions",
      // one map-side token count into a |sources|-row aggregate — scan
      "llm_epoch_plan",
      // 10 broadcast anchors × one cosine pass — query-bound linear
      "llm_hard_negatives",
      // three vocab-sized census+fold rounds — growth tracks the word-
      // TYPE table (clone suffix tokens widen it ~linearly), not corpus
      "llm_bpe_train",
      // bpe encode: same rounds + one (lang, word) corpus collapse and
      // a type-keyed join — must stay scan-bound like the trainer
      "llm_bpe_apply",
      // hybrid fusion: one pass of the universe × the broadcast 10
      // queries, shuffled once by qid into the session's partition
      // count; the per-query windows run after it on ≤ 10 keys —
      // growth must be that one pair pass
      "llm_hybrid_rrf",
      // leakage audit rides the memoized LSH pair table (~450× pairs on
      // the clone corpus) + one map-side split tag — growth must track
      // the verified pairs, like llm_dedup_near itself
      "llm_cross_split_leakage",
      // backtest: collapse to the hourly series, then a series-sized
      // 24h self-join — clone rows land in the collapse's map-side
      // combine, the join stays |series| at any N
      "ts_backtest",
      // downsampler: collapse-first + one series-sized window — scan
      "ts_lttb",
      // PCA: corpus cost is the one gram pass (flat partial buffers);
      // the D×D power rounds are constant work at any N
      "llm_pca_power",
      // variant path extraction is per-row scan work
      "fn_variant",
      // packing is one window over the memoized fused table's top-5
      // rows (token counts included) after the fused build's one pair
      // pass — no corpus rescan
      "llm_rag_pack",
      // CDC chunking: the clone corpus is its best case (every chunk
      // ×copies duplicated) — one shingle pass + one chunk-key
      // aggregate, growth must be scan-bound with stored_bp collapsing
      "llm_dedup_cdc",
      // interval overlap: sessions grow with the entity clones, the
      // window table stays |days| — the day-bucket equi-join must
      // track the sessionize build, never sessions × windows
      "join_interval_overlap",
      // line dedup (r10): one content-partitioned row_number window over
      // the exploded segments + one doc-keyed reassembly — growth must
      // track segment rows; the clone corpus makes EVERY segment a
      // ×copies duplicate class (hot content keys), the worst case
      "llm_dedup_line",
      // boilerplate extraction (r10): pure per-row regex+HOF work —
      // must be scan-bound at any N
      "llm_html_extract",
      // ignore-nulls fill (r10): one per-user sort partition over the
      // disjoint-entity event clones — linear rows, flat per-user state
      "win_ignore_nulls",
      // novelty probe (r10): train collapses to the distinct gram set,
      // probe is one gram-keyed join — must track gram mass like
      // llm_decontaminate, never train x test
      "llm_ngram_novelty",
      // batch transformWithState over the disjoint-entity event clones:
      // RocksDB keyed state at 10x/30x the keys — growth must be ~linear
      // in rows with per-key state fixed (3-slot list / |types| map)
      "stream_tws_list", "stream_tws_map",
      // watermarked stream-stream joins over the cloned topic (real
      // micro-batches): state is O(join-window x rate) per side — growth
      // must track rows through the batch schedule, never pairs
      "join_stream_stream", "join_stream_semi",
      // r10-closing cohort (r11 tier rows): every one must be scan-bound
      // — a bitmap agg, three SQL-surface demos over orders/lineitem,
      // per-row AES, TakeOrdered-with-offset, two join-matrix rows
      "agg_bitmap", "sql_exec_immediate", "sql_parameterized",
      "sql_scripting", "sql_sugar", "sql_udf", "sql_udtf",
      "sql_identifier", "scan_cached", "fn_aes",
      "sort_offset",
      "join_nullsafe", "join_lateral",
      // r11 newcomers: phash rides one codegen'd scan + the 16-bit
      // block join (clone suffixes shift segment boundaries, so clone
      // pairs mostly DON'T collide — growth must track rows + planted
      // renditions); session close is a real two-batch micro-batch run
      // whose state is one (n, last) pair per user clone
      "llm_dedup_phash", "stream_session_close",
      // chained dedup→window (r13): ONE query, TWO watermark-bounded
      // stores — dedup state ≤ delay-window keys, window state ≤ open
      // windows; growth through the doubled+sentinel topic must be
      // ~linear in rows like the single-operator streaming twins
      "stream_chained_stateful",
      // lsh_autorewrite over clones: every vector is duplicated
      // ×copies UNCHANGED, so same-cell output pairs grow ×copies² BY
      // CONSTRUCTION (they are all true cos=1 dups) — the probe checks
      // runtime tracks that output mass, like llm_dedup_near's clone
      // families; ENFORCED skip at ≥30× below (ADVICE r11: the comment
      // alone didn't gate it — an unfiltered 30× run executed the
      // 45×-pair query)
      // residual IVFPQ: training is two corpus passes over residual
      // subvectors + broadcast codebooks; search is 10 queries ×
      // nprobe·(N/cells) candidates — growth must track the corpus
      // passes like llm_ann_pq, never a pair space
      "llm_ann_pq_residual",
      // residual-PQ recall (r12): rides the memoized IVFADC top-3; the
      // added cost is the 10-query broadcast brute pass — linear in N
      "llm_ann_pq_residual_recall",
      // trained quality classifier (r12 SURVEY row): feature build is
      // one token scan → ≤65 rows/doc; each of the 4 rounds touches the
      // checkpointed feature table twice against a 65-row broadcast —
      // growth must be corpus-linear, flat-ish per pass
      "llm_quality_classifier",
      // classifier-as-gate + hold-out eval (r12): both ride the memoized
      // (features, weights) — marginal cost is one margin pass + a
      // |langs|-row (resp. 1-row) aggregate / one train-split retrain
      "llm_quality_gate", "llm_quality_holdout",
      // temperature mix (r12): one map-side-combined source aggregate +
      // a broadcast 1-row total — scan-bound like llm_domain_mix
      "llm_mix_temperature",
      // semantic decontamination (r12): train side shuffles once on the
      // cell key, the ~N/20 eval probe side broadcasts — growth must
      // track probed-cell candidate mass (clone families inflate shared
      // cells), never eval×corpus
      "llm_decontaminate_semantic",
      // URL-canonicalization dedup (r12): per-row codegen'd string fold
      // + ONE map-side-combined hash aggregate on the canonical key —
      // must be scan-bound at any N (the exact-dedup economics)
      "llm_dedup_url",
      // phash binaryFile front door (r12): the staged slice is fixed at
      // 50 files per tier dir, so the probe checks the scan+hash path
      // stays flat (the corpus-growth story lives in llm_dedup_phash)
      "llm_dedup_phash_frontdoor",
      // brute top-k rescued into the IVF probe form (r12): candidates
      // per query are nprobe·(N/cells) — linear in N, top-3 output fixed
      "llm_lsh_autorewrite_topk",
      // the staged-topic batch pipeline (VERDICT r11 task 6): the r11
      // StageUtil fix made clone-tier part-file staging real — probe it
      // under tiers to confirm growth tracks the cloned topic rows
      "pipeline_curation",
      // rendition closure over the phash pairs: StarContraction rounds
      // over pair edges — growth must track the pair mass (the clone
      // families), like llm_dedup_cluster over the LSH pairs
      "llm_dedup_phash_cluster",
      // exact heavy hitters (r12): pass 1 is bounded Misra-Gries state
      // (2K counters/partition, constant in N); pass 2 recounts only the
      // broadcast candidates — growth must be scan-bound, two linear
      // passes, with the singleton tail never reaching a shuffle
      "agg_heavy_hitters",
      // Count-Min sketch (r12): every occurrence folds into ≤4096
      // map-side-combined cells + a broadcast 80-row probe join —
      // growth must be scan-bound (the per-token char fold is the
      // only per-row cost that grows)
      "agg_cms_freq",
      // bitmap intersection (r12): partials are 4 KB per (status,
      // bucket); clone custkeys spread disjoint ranges so bucket count
      // grows ~linearly — the bucket-aligned join must track partial
      // mass, never raw order rows
      "agg_bitmap_intersect",
      // AQE skew split (r12): the planted hot key's ×20000 replication
      // is FIXED while the scan grows with the clones — wall must be
      // scan-bound, and the split keeps the hot partition off the
      // critical path at every tier
      "join_skew_aqe",
      // sorted-layout pruning (r12): stages the tier's OWN sorted copy
      // (keyed by dir) then reads the fixed [100,300] slice — staging
      // is the linear cost, the pruned read stays near-flat
      "scan_rowgroup_prune",
      // rolling median (r12): one raw-event shuffle to hourly buckets,
      // then |types|×|hours| window rows with a bounded 10-row frame —
      // scan-bound like ts_ewma
      "ts_rolling_median",
      // text normalization (r12): zero-shuffle per-row map with the
      // ASCII isNormalized fast path — pure scan bound
      "llm_text_normalize",
      // streaming CMS face (r12): cells ≤4096 at any tier; the probe's
      // exact top-20 is the only vocabulary-sized aggregate
      "stream_cms",
      // matryoshka recall (r12): rides the memoized exact top-3; the
      // marginal cost is the truncated brute pass — 10 broadcast
      // queries × one corpus scan over 8-long slices, linear in N
      "llm_ann_matryoshka",
      // OPQ rotation ablation (r12): each vector's rotation is the
      // codegen'd fwht64 butterfly inside one zero-shuffle map, then a
      // 16-row grid-error aggregate — growth must be pure scan-bound
      "llm_ann_opq",
      // SQ8 recall (r12): one 64-row min/max aggregate + a zero-shuffle
      // reconstruct map + the 10-query broadcast brute pass — linear in
      // N like every recall row
      "llm_ann_sq8",
      // OPQ end-to-end recall (r12): TWO full PQ trainings (each two
      // corpus passes vs broadcast ≤16-row codebooks) + one brute pass
      // — 5 corpus-linear passes total, growth must track llm_ann_pq ×2
      "llm_ann_opq_recall",
      // graph-traversal ANN (r13): build is the lloyd lattice + ~128·N
      // cell-pair distances + the ±8 curve window (linear in N, like
      // llm_semdedup's pair space); the SEARCH is the point — ≤ 16 +
      // 6·8·22 distance evals per query at ANY corpus size, so growth
      // beyond the shared build must be near-flat
      "llm_ann_graph",
      // beam sweep (r13): three chains over ONE shared graph build —
      // the marginal cost per width is the flat bounded search
      "llm_ann_graph_sweep",
      // late-interaction MaxSim (r12): 10 broadcast queries × one
      // corpus scan with the codegen'd maxsim8 fold fused per row —
      // per-candidate work is a fixed 512 multiply-adds, output top-3
      "llm_colbert_maxsim",
      // uncertainty sampling (r12): rides the memoized (features,
      // weights) margin pass; the per-lang bottom-5 is WindowGroupLimit
      // (K per map task pre-shuffle) — scan-bound, output ≤ 5·|langs|
      "llm_uncertainty_sample",
      // equi-depth histogram (r12): two histogram passes (1024-cell
      // planner metadata) + one keyed-window boundary extraction over
      // ~n/1024-row bucket slices + one bucketing aggregate — three
      // scan-bound passes, output fixed at 8 rows
      "agg_histogram_equidepth",
      // Benford audit (r12): one scan map-side combined to 9 digit
      // rows + broadcast lookups — pure scan bound
      "dq_benford",
      // cumulative distinct curve (r12): ONE (type, user)→min(day)
      // map-side-combinable shuffle, then a |types|×|days| window —
      // the clone tiers multiply users ×copies, so the first-seen
      // table grows linearly and the series stays bounded
      "ts_cume_distinct",
      // dynamic partition overwrite (r12): the probe's first call pays
      // the one-time two-write staging (full table + delta — linear in
      // rows); the registered read-back aggregate is scan-bound
      "sink_dynamic_overwrite",
      // COW merge (r13): first call pays target staging (linear) + the
      // touched-partition rewrite (O(touched) — the delta hits 2/5
      // partitions at every tier); the read-back audit is scan-bound
      "sink_merge_cow",
      // MOR merge (r13): the commit is O(delta) appends at any tier;
      // the registered read pays the anti-join reconstruction — both
      // sides scan-bound, base never rewritten
      "sink_merge_mor",
      // versioned manifests (r13): v1/v2 staging is linear; the two
      // snapshot summaries are scans and the CDC read touches only the
      // differing files (fixed [100,400] range → near-flat diff side)
      "scan_time_travel",
      // snapshot expiry + GC (r13): staging linear; the vacuum itself
      // is |expired files| driver deletes planned from the manifest
      // DIFF (never a directory listing) — flat; readout is one scan
      "maintenance_vacuum",
      // OLS trend forecast (r12): one hourly shuffle (map-side
      // combined) + a |types|-row sufficient-stats fold — scan-bound
      "ts_forecast_linear",
      // DAU/WAU stickiness (r12): one (user, day) dedup shuffle + a
      // ≤7× bounded support explode + a second keyed dedup — clone
      // users are disjoint so activity rows grow ×copies, both dedups
      // stay linear; the quadratic sliding-distinct never appears
      "ts_active_users",
      // as-of with tolerance (r12): the same single ordered union+window
      // pass as join_asof (user-keyed, per-entity history fixed under
      // clones) — the tolerance is a post-match filter, never a range
      // join predicate, so growth must match join_asof's linear shape
      "join_asof_tolerance",
      // gate ablation (r12): three gate scans + doc-keyed equi-joins +
      // one global fold — scan-bound, output fixed at 4 rows
      "llm_gate_ablation",
      // deterministic walks (r12): rides the memoized adjacency; the
      // marginal cost is 3 keyed joins from 20 walkers — near-flat
      // beyond the shared adjacency build
      "graph_walk",
      // exact two-phase quantiles (r12): pass 1 is a 1024-cell map-side-
      // combined histogram (fixed size at any N), pass 2 TakeOrders only
      // inside the target buckets (~N/1024 rows each) — growth must be
      // the two scans, with the rank-extraction sort never exceeding a
      // bucket; the single-pass percentile() it replaces buffers O(N)
      // in one reducer state
      "agg_quantile_bucketed",
      // bloom point lookups (r12): staging the scattered+bloom layout is
      // the linear cost; the probed read must stay near-flat — row
      // groups read track the 5 probe keys, never the table
      "scan_bloom_prune",
      // fixed-K reservoir (r12): WindowGroupLimit keeps K per map task
      // before the shuffle, so the exchange carries K·partitions rows
      // per stratum at any N — wall must be scan-bound
      "llm_sample_reservoir",
      // LSH recall eval (r12): the audit sample is FIXED (128 docs + 32
      // renditions) — only the TakeOrdered doc selection touches the
      // growing corpus, so wall must stay near-flat at any tier
      "llm_dedup_near_recall",
      // packing ablation (r12): the four cap rows ride ONE scan+shuffle
      // — wall must track llm_pack_sequences' scan-bound growth, not 4×
      "llm_pack_sweep",
      // streaming-quantile face (r12): cells fixed at ≤512 rows at any
      // tier (additive histogram); rank location reads the cell domain
      "stream_quantile",
      // fertility audit (r12): zero-shuffle per-doc fold + |langs|-row
      // aggregate — pure scan bound
      "llm_tokenizer_fertility",
      // streaming reservoir (r12): K-slot ListState per type at any N;
      // each row folds in O(K) — wall must be the event scan
      "stream_reservoir",
      // range rescue (r12): rewritten plan = the bucketed equi-join;
      // clone events grow the point side ~linearly while intervals stay
      // the fixture's 1 % order slice — wall must track matched pairs
      // (each interval's fixed 400-id window), never points×intervals
      "join_range_autorewrite",
      // manifest pruning (r12): staging + the one read-back manifest
      // pass are the linear cost; the planned slice reads only the
      // overlapping files — near-flat like the other layout probes
      "scan_manifest_prune",
      // personalized pagerank (r12): rides the memoized adjacency; each
      // round is one node-sized join+aggregate like graph_pagerank, but
      // the rank table starts seed-sized and grows with the walk
      // frontier — wall must track the reached neighborhood
      "graph_ppr",
      // grouped quantiles (r12): two scans + one target-bucket slice
      // pass regardless of group count — growth must be the scans, with
      // the |groups|·1024 histogram collect flat planner metadata
      "agg_quantile_grouped",
      // gate-uniformity audit (r12): one scan into ≤16·|langs| cells —
      // pure scan bound
      "dq_hash_uniformity",
      // AQP stratum estimates (r13): two map-side-combined aggregates
      // over one table — pure scan bound at any N
      "agg_sample_block",
      // MV rollup rescue (r13): the first call pays the 42-row MV
      // staging (one corpus scan); the REWRITTEN query then reads 42
      // rows at any tier — the one op whose query cost must be
      // near-ZERO beyond staging (that is the entire point of the MV)
      "agg_mv_autorewrite",
      // weighted shortest paths (r13): edge build is the co-supply
      // self-join (tracks pair mass like the graph family); the 6
      // relax rounds are edge-sized join+min-agg each — growth must be
      // ~linear in edges; seeds live in clone 0, the other clones'
      // nodes all report -1 without costing extra rounds
      "graph_sssp",
      // filtered ANN (r13): one probed-cell candidate pass with labels
      // + the 10-query FILTERED brute truth — both corpus-linear like
      // llm_ann_recall; the strategy re-ranks touch ≤ 9 rows/query
      "llm_ann_filtered",
      // dynamic file pruning (r13): tier staging (range-cluster by ts
      // + manifest) is the linear cost, the monitoring aggregate is
      // scan-bound, and the pruned detail read must stay near-flat —
      // the hot hours cover a FIXED time slice of a growing corpus
      "scan_manifest_dpp",
      // CBO reorder (r13): first call pays CREATE+ANALYZE over the
      // cloned catalog tables (linear scans); the reordered join's
      // intermediate is dimension-pruned at any tier — wall must track
      // the fact scan, never the big-big intermediate
      "join_cbo_reorder",
      // chained join→agg (r13): one streaming query, three stores —
      // join state is O(window × rate) per side, window state ≤ open
      // hours; growth through the sentineled topic must be ~linear in
      // rows like join_stream_stream
      "stream_chained_join_agg",
      // streaming CDC apply (r13): first call pays base staging
      // (linear) + two COW triggers (each O(touched partitions)); the
      // read-back audit is scan-bound
      "sink_stream_upsert",
      // partition-spec evolution (r13): the two epoch writes are the
      // linear staging cost; the straddling query reads 2 dirs per
      // epoch at any tier — near-flat like the other layout probes
      "scan_partition_evolution",
      // stale-MV compensation (r13): the MV staging is the one-time
      // 80%-scan; the registered read is the 6-row MV + the ~20% delta
      // aggregate — growth must track the delta slice, never the corpus
      "agg_mv_stale_compensate",
      // MOR log compaction (r13): staging linear; the compactor reads
      // ONLY the log's partitions (2/5 at any tier) and the post-
      // compaction read is two pruned plain scans, zero joins — both
      // scan-bound with the log gone
      "maintenance_mor_compact",
      // write-audit-publish (r13): v1 + two branch writes are the
      // linear staging; each audit is one aggregate over its branch;
      // the published readout is a scan — all scan-bound
      "sink_wap",
      // position-delete MOR (r13): the commit pays the partition-pruned
      // position-finding scan (the writer-side trade), the read the
      // (file,pos) anti-join — both scan-bound, base never rewritten
      "sink_merge_positional",
      // column mapping (r13): data staged once; a mapping version is a
      // ≤3-row sidecar, both reads are scans (v2 reads one column
      // FEWER — the drop is negative marginal cost)
      "scan_column_mapping",
      // row lineage (r13): v1/v2 staging linear; the CDC reads only the
      // manifest-diff files (fixed [100,400] key range → near-flat
      // diff side at any tier, like scan_time_travel)
      "scan_row_lineage",
      // exchange reuse (r13): ONE customer-agg shuffle feeds both
      // segment branches — wall must track one aggregate, not two
      // (the reuse claim, plan-pinned in JoinsSpec)
      "join_exchange_reuse",
      // AQE coalesce (r13): the filtered rollup is scan-bound; the
      // coalescer only merges post-shuffle partitions (less task
      // overhead, same work)
      "agg_aqe_coalesce",
      // AQE broadcast demotion (r13): wall must track the fact scan —
      // the runtime broadcast keeps the corpus-sized shuffle off the
      // plan at every tier
      "join_broadcast_aqe",
      // schema drift audit (r13): staging is a FIXED <100-key slice at
      // any tier; the audit is two footer reads — near-flat (the
      // footer-metadata claim, measured)
      "dq_schema_drift",
      // interval range frame (r13): clone users are disjoint, so the
      // user_id<100 readout slice is fixed while the scan+filter grows
      // linearly — wall must be scan-bound with flat window input
      "win_frame_interval",
      // retrieval metrics (r13): rides the memoized fused table; the
      // marginal cost is the 10-query broadcast truth pass — corpus-
      // linear like every recall/eval row
      "llm_retrieval_metrics",
      // secondary index (r13): the build pass is the linear staging
      // cost; the lookup reads the small index + the posting files
      // (5 keys × ≤16 postings at any tier) — near-flat beyond staging
      "scan_secondary_index",
      // backfill planner (r13): staging + the T2 cycle are linear; the
      // registered readout re-reads the |months|-partition target —
      // the planner itself is two fingerprint aggregates (scan-bound)
      "pipeline_backfill",
      // z-order pruning (r13): dual-layout staging is the linear cost;
      // the box read touches the zonemap-overlapping files only —
      // near-flat like the other layout probes
      "scan_zorder_prune",
      // watermark detection (r13): zero-shuffle per-doc HOF scoring +
      // a 2-row aggregate — pure scan-bound (the llm_repetition_filter
      // shape with a pair-hash fold)
      "llm_watermark_detect",
      // Mann-Kendall (r13): raw events collapse to the hourly series
      // FIRST, so the O(series²) pair join is bounded by the time
      // range (~260k sign evals per type) at ANY corpus size
      "ts_trend_test",
      // PK-FK join elimination (r13): the rewritten plan is ONE fact
      // scan + filter — wall must track the fact scan and sit UNDER
      // the joined control at every tier
      "join_eliminate_autorewrite",
      // distinct elimination (r13): the rewritten plan is a bare pruned
      // scan — zero shuffles at any tier
      "agg_distinct_autorewrite",
      // parquet encryption (r13): the encrypted+control staging writes
      // are the linear cost; the registered decrypt read is the same
      // vectorized scan plus per-page AES-GCM — scan-bound
      "scan_encrypted",
      // forward as-of (r13): the same single ordered union+window pass
      // as join_asof with the frame flipped — linear in rows, flat
      // per-user state under the disjoint entity clones
      "join_asof_forward",
      // incremental IVF (r14): rides the shared lloyd build; the
      // registered delta pass is O(|delta|·K) broadcast folds + one
      // map-side cell count — must track the lloyd family's growth,
      // with the marginal (post-memo) cost near-linear in |delta|
      "llm_ann_ivf_incremental",
      // filtered graph ANN (r14): rides the memoized graph walk; the
      // marginal cost is two ≤1100-row/query re-ranks + the
      // label-filtered brute truth pass — corpus-linear
      "llm_ann_graph_filtered",
      // streaming manifest-CDC consumer (r14): staging (3 commits) is
      // the linear cost; the drain reads ONLY the two commits' changed
      // files across two micro-batches — the O(changed files) claim
      "source_manifest_stream",
      // WAP orphan sweep (r14): staging linear; the sweep is |branch
      // files| driver deletes planned from the refs/published diff —
      // flat; readout one scan
      "maintenance_vacuum_orphans",
      // index refresh (r14): staging + the COW commit are the linear
      // cost; the refresh scans ONLY rewritten files and the lookup
      // reads ≤ |keys|·|postings| planned files — near-flat beyond
      // staging
      "scan_index_refresh",
      // graph graft (r14): rides the memoized graph build; the shard's
      // beam walks are |delta| independent bounded searches (≤ 16 +
      // 6·8·22 evals each), so marginal growth must track |delta| —
      // per-insert work flat in corpus size like llm_ann_graph's search
      "llm_ann_graph_incremental",
      // AS OF resolution (r14): |commits|-row driver lookup + three
      // snapshot scans — scan-bound like scan_time_travel
      "scan_time_travel_asof",
      // CDC-driven MV (r14): bootstrap is one snapshot aggregate; each
      // drained commit folds O(changed files' rows) map-side into a
      // |buckets|-row merge — maintenance must track the commits, never
      // re-scan the table
      "sink_cdc_mv",
      // eager aggregation (r14): the rewritten join probes |customers|
      // fk partials instead of |orders| facts — wall must track the
      // fact scan + map-side partial, with the join side key-spaced
      "join_aggpush_autorewrite",
      // IVF rebalance (r14): candidates from a |K|-row size aggregate;
      // each split touches only its own cell's members (two broadcast-
      // seed passes over ~|cell| rows) — cost is the split cells' mass,
      // never the index
      "llm_ann_ivf_rebalance",
      // calibration (r14): rides the memoized (features, weights);
      // marginal cost is one margin pass + a 16-row bin aggregate —
      // corpus-linear like the classifier family
      "llm_quality_calibration",
      // maintained-index recall (r15): rides the memoized index; the
      // marginal cost is the 11-query probe over grown cells
      // (nprobe·(N/K) candidates per query) + the per-query-linear
      // brute truth — the recall-row shape, corpus-linear
      "llm_ann_ivf_incremental_recall",
      // post-rebalance routing (r15): rides ivfSplit's memoized
      // members; the probe side is (K+3) broadcast cells × 6 anchor
      // queries + the bounded truth pass — corpus-linear via the truth
      "llm_ann_ivf_rebalance_recall",
      // vector delete (r15): the tombstone anti-join is a key-slice
      // filter on the candidate join — same cost shape as
      // llm_ann_ivf_kmeans + the survivor truth pass
      "llm_ann_ivf_delete",
      // graph retirement (r15): one fresh width-8 walk over the
      // filtered adjacency (bounded evals/query) + survivor truth —
      // must track llm_ann_graph's growth
      "llm_ann_graph_delete",
      // DSv2 aggregate pushdown (r15): the connector answers from its
      // closed form — the plan moves 10 rows at ANY `rows` option, the
      // flattest row in the suite (generated source: probed at fixed
      // size across tiers, the claim is plan shape not data growth)
      "scan_agg_pushdown",
      // ADD COLUMN evolution (r15): staging + the one-partition COW
      // rewrite are the linear cost; the mapping read null-fills at
      // the scan — scan-bound like scan_column_mapping
      "sink_merge_evolve",
      // persisted index store (r15): the build + delta + sweep writes
      // are the linear cost; each serving phase is the cell-keyed
      // candidate equi-join over disk postings + the bounded truth —
      // the llm_ann_ivf_kmeans economics read from parquet
      "llm_ann_index_persisted",
      // persisted GRAPH store (r16): graph build + graft + store writes
      // are the linear cost; each serving phase is the bounded width-8
      // walk (≤ 16 + 6·8·22 evals/query) + the graph-live truth pass,
      // read from disk — must track llm_ann_graph's growth
      "llm_ann_graph_persisted",
      // optimistic concurrency (r16): staging + three COW rewrites are
      // the linear cost; each publish is a |files|-row driver set-diff
      // under the lock — commit-time work flat in table size
      "sink_merge_occ",
      // key-grouped DSv2 scan (r16): generated source probed at fixed
      // size — the claim is plan shape (zero exchanges), wall flat
      "scan_keygrouped",
      // limit/topN pushdown (r16): 12 rows move at ANY `rows` option —
      // flat by construction like scan_agg_pushdown
      "scan_limit_pushdown",
      // runtime filtering (r16): the DPP-filtered scan reads only the
      // ranges holding probed keys — flat candidate mass on the fixed
      // generated table, the claim is the pruned partition count
      "scan_runtime_filter",
      // streaming vector-store maintenance (r16): store init (lloyd +
      // v1 writes) is the linear cost; each micro-batch commit is
      // O(|batch|·K) broadcast folds + an append + a pointer flip, and
      // the drained serve is the IVF family's probe shape
      "sink_stream_vector",
      // row-id CDC classification (r16): staging (now 4 commits)
      // linear; the drain reads ONLY changed files and the I/U/D
      // pairing is a commit-sized (version, row_id) equi-join — never
      // table-sized
      "source_cdc_updates",
      // store time travel (r16): rides the staged store; four serves,
      // each the cell-keyed equi-join + bounded truth of the persisted
      // family — must track llm_ann_index_persisted's growth
      "llm_ann_store_asof",
      // row-id MERGE apply (r16): bootstrap + per-commit merges are
      // |table|-row generations keyed on the lineage id; the changed
      // side is commit-sized — growth must track the snapshot scans
      "sink_cdc_apply",
      // reported statistics (r16): the claim is the static plan (the
      // 50-row connector slice is the broadcast BUILD side); wall must
      // track the events scan — the dim side is constant
      "scan_stats_report",
      // writer-vs-compactor OCC (r17): staging (two folds + MOR reads
      // + COW rewrites) is the linear cost; each publish is the same
      // |files|-row set-diff plus a |log|-line filter under the lock —
      // growth must track sink_merge_occ's
      "maintenance_compact_occ",
      // serializable OCC (r17): two branch stagings over one shared
      // base write; the read-set validation adds one |files|-row
      // manifest predicate per publish — commit-time work stays flat,
      // growth tracks the doubled staging scans
      "sink_merge_occ_serializable",
      // clustered DSv2 write (r17): one range exchange + sort + write
      // of the orders projection — must track sink_custom's growth;
      // the ranges sidecar is |files| lines of driver metadata
      "sink_clustered_write",
      // connector-stats CBO reorder (r17): fixed generated tables at
      // any tier (the claim is the flipped plan) — wall flat like
      // scan_keygrouped
      "scan_colstats_cbo",
      // filtered store serve (r17): two graphStoreServe-shaped phases
      // + the label-filtered re-rank (≤ 1100 rows/query) — must track
      // llm_ann_graph_persisted's growth
      "llm_ann_graph_persisted_filtered",
      // streaming graph-store maintenance (r17): store init (graph
      // build + v1 writes) is the linear cost; each micro-batch is
      // O(|batch|) bounded beams + an append + a flip; the drained
      // serve is the store walk — growth tracks sink_stream_vector's
      "sink_stream_graph")
    // optional comma-separated op filter for targeted re-measurement
    val only = args.drop(1).headOption.map(_.split(",").map(_.trim).toSet)
    println(f"${"op"}%-32s ${"sec"}%8s ${"rows"}%10s")
    def probe(name: String, dir: String, label: String): Unit =
      if (only.forall(f => f.contains(name) || f.contains(label)))
        Probe.timed(label)(SparkEntry.queries(name)(spark, dir))
    probes.foreach(n => probe(n, out, n))
    // RocksDB state tier (r14, VERDICT r13 task 7): the chained
    // multi-stateful topologies re-run with the RocksDB provider —
    // the at-scale state backend (off-heap, incremental checkpoints)
    // the suite's HDFS-provider default documents it would flip to.
    // Healthy = same correctness rows, growth still ~linear in rows
    // through the batch schedule, with a flat per-store open overhead
    // (the measured RocksDB boot cost the streamSession doc cites).
    Seq("stream_chained_stateful", "stream_chained_join_agg").foreach { n =>
      if (only.forall(f => f.contains(n) || f.contains(s"${n}_rocksdb"))) {
        spark.conf.set("spark.graft.stream.rocksdb", "true")
        try probe(n, out, s"${n}_rocksdb")
        finally spark.conf.unset("spark.graft.stream.rocksdb")
      }
    }
    // exact distance-eval accounting for the hierarchical assign claim:
    // tl = N·K₁ + Σ|chosen cell| (must grow ~N·√K), brute = N·K (the
    // retired quadratic). Printed per tier so SCALE.md's 1×/10×/30×
    // table carries measured counts, not an argued asymptotic.
    if (only.forall(f => f.contains("llm_kmeans_twolevel"))) {
      val acc = SparkEntry.queries("llm_kmeans_twolevel")(spark, out)
        .agg(sum(col("n_points")), sum(col("tl_evals")),
          sum(col("brute_evals"))).head()
      println(s"[evals] points=${acc.getLong(0)} " +
        s"hierarchical=${acc.getLong(1)} brute=${acc.getLong(2)} " +
        f"ratio=${acc.getLong(1).toDouble / acc.getLong(2)}%.3f")
    }
    // INTERLEAVED-id graph layout: same `copies` disjoint clones, but
    // clone k's node ids are s·copies+k, so every community's id range
    // spans the whole keyspace — the dense path's range-overlap prune is
    // structurally useless here (every pair of communities overlaps).
    // This is the fixture that proves the sparse inverted-index regime:
    // jaccard must stay ~flat on it, because candidates come from shared
    // witness postings, which never cross disjoint clones.
    val outI = staged(spark, s"interleaved$copies", src)(Seq("lineitem" ->
      cloned(Tables.read(spark, s"$src/lineitem.parquet"), copies)
        .withColumns(Map("l_orderkey" -> (col("l_orderkey") * copies + k),
          "l_suppkey" -> (col("l_suppkey") * copies + k)))
        .drop("k").repartition(32)))
    // triangles first: it warms the interleaved dir's adjacency memo, so
    // the jaccard row below is the MARGINAL candidate-generation cost
    // (comparable to the clustered row, which reuses the main dir's
    // memo) rather than adjacency-build + candidates
    probe("graph_triangles", outI, "graph_tri_interleave")
    probe("graph_jaccard", outI, "graph_jaccard_interleave")
    // UPSAMPLE-heavy importance mix: keep one source whole, thin every
    // other source to ~1 doc in 12 — the uniform-token target then hands
    // the thinned sources weights ≫ 1, so the op exercises its
    // explode-into-repeats half (the shape no keep-gate expresses), and
    // emitted rows ≈ corpus-sized stay the linear-growth witness.
    if (only.forall(_.contains("importance_upsample"))) {
      val outU = staged(spark, "upsample", out) {
        val docs = Tables.read(spark, s"$out/documents.parquet")
        val first = docs.select(min(col("source"))).head().getString(0)
        Seq("documents" -> docs.where(col("source") === first || col("doc_id") % 12 === 0))
      }
      probe("llm_sample_importance", outU, "importance_upsample")
    }
    // HOT-KEY heavy-hitter tier (r13, VERDICT task 8): every document
    // gains a run of one boilerplate token sized to its own length, so
    // ~half of ALL token occurrences are a single key — the worst skew
    // an aggregate shuffle can face. agg_heavy_hitters must stay
    // scan-bound here because its recount collapses the hot key
    // MAP-SIDE (partial aggregation): the shuffle carries
    // ≤ cands×partitions rows whatever the distribution (the measured
    // spec twin lives in AggregatesSpec).
    if (only.forall(_.contains("hh_hotkey"))) {
      val outH = staged(spark, "hotkey", out)(Seq("documents" ->
        Tables.read(spark, s"$out/documents.parquet")
          .withColumn("text",
            concat(col("text"), lit(" "), expr(
              "array_join(transform(sequence(1, greatest(1, " +
                "size(filter(split(text, ' '), x -> x != '')))), " +
                "i -> 'thehotkey'), ' ')")))))
      probe("agg_heavy_hitters", outH, "hh_hotkey")
    }
    // SKEWED-vocabulary ngram tier: every clone carries the same 12-token
    // boilerplate suffix, so its 4-gram shingles have df = N — the regime
    // the rarest-first flagship exists for. Reported per ordering WITHOUT
    // running the candidate join: max prefix posting length and
    // Σ C(df,2) candidate-pair mass (the cost the ordering controls —
    // under hash order the boilerplate grams land in ~half the prefixes,
    // a quadratic mass no one should execute to prove).
    if (only.forall(_.exists(_.startsWith("ngram_skew")))) {
      val boiler = " this document is provided as is without warranty of " +
        "any kind either express or implied"
      val outS = staged(spark, s"skew$copies", src)(Seq("documents" ->
        cloned(Tables.read(spark, s"$src/documents.parquet"), copies)
          .select(
            (col("doc_id") * copies + k).as("doc_id"),
            when(k === 0, concat(col("text"), lit(boiler)))
              .otherwise(concat(col("text"), lit(" v"), k, lit(boiler)))
              .as("text"),
            col("lang"), col("source"), col("n_chars"))))
      Seq(true, false).foreach { rarest =>
        val t0 = System.nanoTime()
        val (maxPost, pairMass) =
          operators.LlmExtended.ngramPrefixStats(spark, outS, rarest)
        val tag = if (rarest) "ngram_skew_rarest" else "ngram_skew_hash"
        println(f"$tag%-32s ${(System.nanoTime() - t0) / 1e9}%8.3f " +
          f"max_posting=$maxPost%d pair_mass=$pairMass%d")
      }
    }
    spark.stop()
  }
}
