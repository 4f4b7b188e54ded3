package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-curation operators (round 3 of SURVEY.md §2.12): the steps a
  * training-data pipeline runs AFTER near-dup detection and raw scoring —
  * cluster the duplicate pairs and pick survivors, chunk documents to a
  * context window, scrub PII, apply hard quality gates, hit a target
  * language mix with deterministic sampling, and quantize embeddings.
  *
  * At-scale design notes per operator live on each method; the common
  * thread is determinism without rand() (hash-gated sampling, exact
  * integer math) so every run — and every engine — selects the same rows.
  */
object LlmCuration extends OpModule {

  /** Connected components over the verified near-dup pairs, then survivor
    * selection (min doc_id per component) — pairs alone don't dedup a
    * corpus; transitive closure does (A~B, B~C must collapse to ONE
    * survivor even though A~C was never compared).
    *
    * Implementation is the shared alternating large-star/small-star
    * contraction (StarContraction.scala — Kiveris et al., "Connected
    * Components in MapReduce and Beyond"; round 8 factored the loop out
    * so graph_components runs the identical engine): min-rooted stars
    * in O(log n) rounds where min-label propagation needs O(diameter) —
    * the difference between 3 and 30 barriers on a web-scale dup graph.
    */
  def dedupCluster(s: SparkSession, d: String): DataFrame = {
    // the LSH pair hunt is the expensive part and must not re-run per
    // iteration; pairs arrive canonical (doc_a < doc_b)
    val edges0 = LlmOps.dedupNear(s, d)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .localCheckpoint()
    val res = StarContraction.contract(edges0)
    // the result plan reads the fixpoint (and possibly the input, on a
    // 1-round fixture) lazily — free at the harness's next safe point
    MemoUtil.scratch(edges0)
    res.live.foreach(MemoUtil.scratch)
    // fixpoint edges are (member, root) stars; roots get their self-row
    StarContraction.labels(res.stars)
      .select(col("id").as("doc_id"), col("cc").as("cluster_id"),
        (col("id") === col("cc")).as("is_survivor"))
  }

  /** Rendition grouping over the BINARY modality (r11): connected
    * components over llm_dedup_phash's perceptual near-dup pairs, then
    * survivor selection — the multimodal twin of llm_dedup_cluster.
    * Pairs alone don't dedup an image corpus: the same photo saved
    * thrice (original, brightness-shifted, re-encoded) forms a chain
    * whose transitive closure must collapse to ONE kept rendition.
    * Same shared StarContraction engine (O(log n) rounds), same
    * min-id survivor policy; the oracle chains the phash pair replay
    * into the recursive-reach closure (pairs/edges MATERIALIZED —
    * DuckDB inlines plain CTEs per reference). */
  def dedupPhashCluster(s: SparkSession, d: String): DataFrame = {
    val edges0 = LlmExtended.dedupPhash(s, d)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .localCheckpoint()
    val res = StarContraction.contract(edges0)
    MemoUtil.scratch(edges0)
    res.live.foreach(MemoUtil.scratch)
    StarContraction.labels(res.stars)
      .select(col("id").as("doc_id"), col("cc").as("cluster_id"),
        (col("id") === col("cc")).as("is_survivor"))
  }

  /** Context-window chunking: overlapping token windows (W=32, stride
    * S=24 → 8-token overlap), the prep step before tokenization at a
    * fixed model context. Pure per-row explode — no shuffle at all; at
    * 100 TB this runs entirely map-side and the output partitioning
    * inherits the input's. */
  private val W = 32
  private val S = 24
  def chunk(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("starts", expr(
        s"""transform(
           |  sequence(0, CASE WHEN size(toks) <= $W THEN 0
           |               ELSE cast(ceil((size(toks) - $W) / $S.0D) as int) END),
           |  j -> j * $S)""".stripMargin))
      .select(col("doc_id"), col("toks"), explode(col("starts")).as("start"))
      .select(
        col("doc_id"), col("start"),
        size(expr(s"slice(toks, start + 1, $W)")).as("n_chunk_tokens"),
        concat_ws(" ", expr(s"slice(toks, start + 1, $W)")).as("chunk_text"))

  /** PII scrubbing: regex redaction of emails and phone numbers, with
    * per-row match counts for audit. The fixture corpus carries no PII,
    * so both engines first append a deterministic synthetic contact
    * string — the redaction then provably bites. Per-row regex, fully
    * codegen'd, no shuffle. */
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhonePat = "\\+\\d-\\d{3}-\\d{4}"
  def piiScrub(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("txt", concat(
        col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("txt"), lit(EmailPat), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("txt"), lit(PhonePat), lit(0))).as("n_phones"),
        regexp_replace(
          regexp_replace(col("txt"), EmailPat, "<EMAIL>"),
          PhonePat, "<PHONE>").as("scrubbed"))

  /** Hard quality gate (Gopher/C4-style rejection rules): token count
    * bounds, mean-word-length bounds, symbol ratio, stopword presence.
    * Emits keep + the FIRST failed rule for funnel accounting. Per-row
    * arithmetic, no shuffle; at 100 TB this is the cheapest pass in the
    * pipeline and runs fused with the scan. */
  def qualityFilter(s: SparkSession, d: String): DataFrame = {
    val stops = Seq("the", "and", "of", "der", "die", "und", "le", "la",
      "et", "el", "y", "de", "的", "了", "是")
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("nt", size(col("toks")))
      .withColumn("mean_wl", round(
        (length(col("text")) - (col("nt") - 1)).cast("double") / col("nt"), 4))
      // empty text would divide by zero: Spark yields NULL, DuckDB (with
      // IEEE float ops) NaN — guard so both engines emit 0.0 and the doc
      // is rejected by an explicit first rule rather than passing because
      // every NULL comparison was skipped.
      .withColumn("sym_ratio",
        when(length(col("text")) === 0, lit(0.0)).otherwise(round(
          length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).cast("double")
            / length(col("text")), 4)))
      .withColumn("has_stop",
        arrays_overlap(col("toks"), array(stops.map(lit): _*)))
      .withColumn("reason",
        when(length(col("text")) === 0, "empty")
          .when(col("nt") < 10 || col("nt") > 5000, "n_tokens")
          .when(col("mean_wl") < 2.0 || col("mean_wl") > 12.0, "mean_word_len")
          .when(col("sym_ratio") >= 0.3, "symbol_ratio")
          .when(!col("has_stop"), "no_stopword")
          .otherwise(null))
      .select(col("doc_id"), col("nt").as("n_tokens"), col("mean_wl"),
        col("sym_ratio"), col("has_stop"), col("reason").isNull.as("keep"),
        col("reason"))
  }

  /** TRAINED quality classifier (r11) — the model-based filtering step
    * every production corpus runs beside the hard gates (fastText-style
    * linear classifiers filter CommonCrawl for CCNet/GPT-3/Llama): a
    * linear model over HASHED bag-of-words features distills the
    * heuristic teacher (`llm_quality_filter`'s keep gate supplies the
    * weak labels — exactly how such classifiers are bootstrapped when
    * no human labels exist). Training is the FULL-BATCH perceptron, the
    * one linear-classifier update that is exact-integer end to end (no
    * sigmoid/exp, so no cross-engine float drift): per round, every doc
    * with y·(w·x) ≤ 0 contributes y·x to the weight update, computed as
    * ONE doc-keyed margin aggregate plus ONE fid-keyed delta aggregate
    * over the shared sparse feature table. w₀ = 0 makes round 1 the
    * closed-form class-mean direction Σy·x.
    *
    * At 100 TB: features build once (one scan → ≤65 (doc, fid) rows per
    * doc, localCheckpoint'd for the 2T+1 reads); each round touches the
    * compact feature table twice with the 65-row weight table BROADCAST
    * — the standard distributed full-batch training shape (rounds are
    * barriers, never driver loops over rows). Inference is one
    * broadcast-join pass — the property that makes a linear filter
    * affordable where an LLM judge is not. All arithmetic BIGINT-exact:
    * counts × weights stay < 2⁶³ (|w| ≤ T·Σcnt ≈ 4·10⁶ at any SF here;
    * web-scale would rescale to per-mille token frequencies first).
    * Output: per-doc teacher label, final margin, prediction, agreement
    * — the audit a pipeline reads before trusting the cheap model. */
  private val ClfD = 64
  private val ClfT = 4

  /** Memoized (feature table, full-corpus trained weights) — shared by
    * llm_quality_classifier (audit) and llm_quality_gate (funnel):
    * whichever runs first pays the feature build + the 2T training
    * passes once per (session, sf-dir); Bench resets this with the
    * Lloyd memo between timing passes (the lloyd/pq memo pattern). The
    * feature table also carries the masked-Knuth split bucket so
    * llm_quality_holdout derives its train/val sides from the same
    * checkpoint without a rebuild. */
  private val clfFeatsMemo =
    Memo.frame[(SparkSession, String)](this, "classifier")
  private val clfWtMemo =
    Memo.frame[(SparkSession, String)](this, "classifier")
  def resetClfMemo(): Unit = MemoUtil.reset(this)

  /** The shared sparse feature table (doc_id, fid, cnt, y, b): hashed
    * bag-of-words dims + bias, teacher label y, split bucket b — one
    * scan, ≤65 rows per doc, localCheckpoint'd for the 2T+1 reads. */
  private def clfFeatsBuild(s: SparkSession, d: String): DataFrame = {
    // poly-31 word hash mod 1e9+7 (the simhash/shingle char fold) → D
    // hashed dims + a bias feature fid=D with cnt=1 per doc
    val wordHash =
      "aggregate(split(w, ''), 0L, (h, c) -> (h * 31 + ascii(c)) % 1000000007)"
    val labels = qualityFilter(s, d).select(col("doc_id"),
      when(col("keep"), lit(1L)).otherwise(lit(-1L)).as("y"))
    val termFeats = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), (expr(wordHash) % ClfD).cast("int").as("fid"))
      .groupBy(col("doc_id"), col("fid"))
      .agg(count(lit(1)).as("cnt"))
    val bias = Tables.documents(s, d)
      .select(col("doc_id"), lit(ClfD).as("fid"), lit(1L).as("cnt"))
    termFeats.unionAll(bias)
      .join(labels, "doc_id")
      .withColumn("h", knuth32(col("doc_id")))
      .withColumn("b", expr("(h * 20) div 4294967296"))
      .drop("h")
      .localCheckpoint()
  }

  /** Per-doc margins of `feats` under broadcast weights `wts`. */
  private def clfMargins(feats: DataFrame, wts: DataFrame): DataFrame =
    feats.join(broadcast(wts), Seq("fid"), "left")
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(col("cnt") * coalesce(col("w"), lit(0L))).as("margin"))

  /** Full-batch perceptron over `feats` (T rounds from w₀ = 0) — the
    * exact-integer training loop shared by the three classifier ops.
    * Each round: w' = w + Σ_{y·margin ≤ 0} y·x — the mis set is
    * doc-keyed (equi-join back to features), the delta a ≤65-row
    * aggregate, the merge a 65×65 full join; localCheckpoint keeps
    * round plans flat instead of T-deep. Returns checkpointed wT; the
    * caller owns its lifecycle (memo or per-query scratch). */
  private def perceptron(feats: DataFrame, T: Int): DataFrame = {
    def step(wts: DataFrame): DataFrame = {
      val mis = clfMargins(feats, wts).where(col("y") * col("margin") <= 0L)
        .select(col("doc_id"))
      val delta = feats.join(mis, "doc_id")
        .groupBy(col("fid")).agg(sum(col("y") * col("cnt")).as("dw"))
      val merged = wts.withColumnRenamed("w", "w0")
        .join(delta, Seq("fid"), "full")
        .select(col("fid"),
          (coalesce(col("w0"), lit(0L)) + coalesce(col("dw"), lit(0L))).as("w"))
        .localCheckpoint()
      MemoUtil.dropCheckpoint(wts)
      merged
    }
    val w0 = feats.select(col("fid")).distinct()
      .select(col("fid"), lit(0L).as("w")).localCheckpoint()
    (1 to T).foldLeft(w0)((w, _) => step(w))
  }

  /** Features and full-corpus weights memoize SEPARATELY (r18):
    * llm_quality_holdout consumes only the feature table (it trains its
    * own split-restricted weights) but ran FIRST of the family in
    * registry order, so the tupled memo made it pay the full-corpus
    * perceptron it then discarded — a whole training attributed to a
    * query that never reads the result. The full weights now build when
    * their first real consumer runs; per-pass family totals are
    * unchanged (every pass still trains each of the two weight sets
    * exactly once). */
  private def clfFeats(s: SparkSession, d: String): DataFrame =
    clfFeatsMemo((s, d))(clfFeatsBuild(s, d))

  private def clfTrained(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val feats = clfFeats(s, d)
    (feats, clfWtMemo((s, d))(perceptron(feats, ClfT)))
  }

  def qualityClassifier(s: SparkSession, d: String): DataFrame = {
    val (feats, wT) = clfTrained(s, d)
    clfMargins(feats, wT)
      .select(col("doc_id"), col("y").as("label"), col("margin"),
        (col("margin") > 0L).as("pred"),
        ((col("margin") > 0L) === (col("y") === 1L)).as("agree"))
  }

  /** The classifier AS A CURATION GATE (VERDICT r11 task 4):
    * llm_quality_classifier trains and audits against its own labels —
    * the production step is INFERENCE feeding the keep/drop funnel.
    * Per language: doc count, rule-gate keeps, model-gate keeps, the
    * agreement split (both-keep / rule-only / model-only), the first
    * disagreeing doc id (the review queue's entry point), and the
    * disagreement share in exact basis points — the audit a team reads
    * before swapping the hard-rule gate for the cheap model. At 100 TB:
    * scoring is the one broadcast-join margin pass over the memoized
    * feature table (no re-training — the trained weight table is the
    * shared 65-row broadcast), the funnel a |langs|-row aggregate. */
  /** CLASSIFIER CALIBRATION — the reliability table a model gate ships
    * with (the sklearn calibration_curve / reliability-diagram audit):
    * per score bin, how often does the teacher rule actually keep? A
    * well-ordered model shows keep-rate rising with margin; a flat
    * curve means the gate's threshold is arbitrary. Binning is
    * SCALE-FREE and sign-safe: margins shift by the corpus minimum
    * (non-negative, so truncating and flooring division agree — the
    * Spark-div-vs-DuckDB-// trap), then split into 16 equal-width
    * integer bins from a 1-row (min, width) broadcast. Rides the
    * memoized (features, weights); marginal cost is one margin pass +
    * a ≤16-row aggregate. Output: (bin, n_docs, n_keep, keep_bp,
    * lo/hi margin bounds). */
  def qualityCalibration(s: SparkSession, d: String): DataFrame = {
    val (feats, wT) = clfTrained(s, d)
    val mf = clfMargins(feats, wT)
    val bs = mf.agg(min(col("margin")).as("mn"), max(col("margin")).as("mx"))
      .select(col("mn"),
        expr("greatest(1L, (mx - mn) DIV 16 + 1)").as("bw"))
    mf.crossJoin(broadcast(bs))
      .select(col("y"), col("margin"),
        least(lit(15L), expr("(margin - mn) DIV bw")).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_keep"),
        min(col("margin")).as("margin_lo"),
        max(col("margin")).as("margin_hi"))
      .withColumn("keep_bp", expr("n_keep * 10000L div n_docs"))
  }

  def qualityGate(s: SparkSession, d: String): DataFrame = {
    val (feats, wT) = clfTrained(s, d)
    val scored = clfMargins(feats, wT)
      .select(col("doc_id"), (col("y") === 1L).as("rule_keep"),
        (col("margin") > 0L).as("model_keep"))
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(scored, "doc_id")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("rule_keep"), 1L).otherwise(0L)).as("n_rule_keep"),
        sum(when(col("model_keep"), 1L).otherwise(0L)).as("n_model_keep"),
        sum(when(col("rule_keep") && col("model_keep"), 1L).otherwise(0L))
          .as("n_both_keep"),
        sum(when(col("rule_keep") && !col("model_keep"), 1L).otherwise(0L))
          .as("n_rule_only"),
        sum(when(!col("rule_keep") && col("model_keep"), 1L).otherwise(0L))
          .as("n_model_only"),
        min(when(col("rule_keep") =!= col("model_keep"), col("doc_id")))
          .as("example_disagree"))
      .select(col("lang"), col("n_docs"), col("n_rule_keep"),
        col("n_model_keep"), col("n_both_keep"), col("n_rule_only"),
        col("n_model_only"), col("example_disagree"),
        expr("(n_rule_only + n_model_only) * 10000 div n_docs")
          .as("disagree_bp"))
  }

  /** UNCERTAINTY SAMPLING off the trained classifier — the active-
    * learning selection every labeling budget runs on: the docs nearest
    * the decision boundary (smallest |margin|) are where the model is
    * least sure and a human label is worth most, so the next annotation
    * batch is the bottom-K by |margin| per language (stratified — an
    * unstratified pick drains the budget into the dominant language).
    * Output per (lang, rank): doc id, signed margin, teacher label,
    * model prediction — the batch handed to annotators plus the
    * disagreement context reviewers want beside it. At 100 TB: scoring
    * rides the memoized (features, weights) broadcast-join pass, and
    * the per-lang bottom-K is a rank-≤-K window — Spark's
    * WindowGroupLimit keeps K rows per map task BEFORE the shuffle, so
    * the exchange carries ≤ K·partitions rows per language, never the
    * corpus (the llm_sample_reservoir economics). Ties break on doc_id
    * for engine-agnostic determinism. */
  def uncertaintySample(s: SparkSession, d: String): DataFrame = {
    val (feats, wT) = clfTrained(s, d)
    val w = Window.partitionBy(col("lang"))
      .orderBy(abs(col("margin")).asc, col("doc_id").asc)
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(clfMargins(feats, wT), "doc_id")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("lang"), col("rank"), col("doc_id"), col("margin"),
        col("y").as("label"), (col("margin") > 0L).as("pred"))
  }

  /** HOLD-OUT evaluation for the classifier (VERDICT r11 task 5): the
    * classifier op scores the documents it trained on — the blind spot
    * every eval pipeline closes with a held-out split. Training runs
    * ONLY on the masked-Knuth train buckets (b < 18, llm_split_holdout's
    * gate — leakage-free by construction), the val bucket (b = 18)
    * scores under the frozen weights, and the readout is the confusion
    * matrix plus precision/recall/agreement in exact basis points
    * (teacher labels as ground truth; -1 sentinel when a denominator is
    * empty). Same economics as the classifier — the split tag is a
    * column of the shared checkpointed feature table, so train/val are
    * filters, not rebuilds. */
  def qualityHoldout(s: SparkSession, d: String): DataFrame = {
    val feats = clfFeats(s, d)
    val wTrain = perceptron(feats.where(col("b") < 18), ClfT)
    val scored = clfMargins(feats.where(col("b") === 18), wTrain)
      .select(col("y"), (col("margin") > 0L).as("pred"))
    val out = scored.agg(
        count(lit(1)).as("n_val"),
        sum(when(col("pred") && col("y") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && col("y") === -1L, 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("y") === 1L, 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && col("y") === -1L, 1L).otherwise(0L)).as("tn"))
      .select(col("n_val"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("CASE WHEN tp + fp = 0 THEN CAST(-1 AS BIGINT) " +
          "ELSE tp * 10000 div (tp + fp) END").as("precision_bp"),
        expr("CASE WHEN tp + fn = 0 THEN CAST(-1 AS BIGINT) " +
          "ELSE tp * 10000 div (tp + fn) END").as("recall_bp"),
        expr("(tp + tn) * 10000 div n_val").as("agree_bp"))
    MemoUtil.scratch(wTrain)
    out
  }

  /** Deterministic stratified sampling to a per-language cap (the target-
    * mix step: downsample over-represented languages, keep the rest).
    * The keep decision is a HASH GATE, not rand(): a row is kept iff
    * (doc_id * knuth) mod 2^32 < floor(rate * 2^32) — reproducible across
    * runs, engines, and retries, which is what makes the sample auditable
    * at 100 TB (a re-run selects byte-identical training data). The
    * per-stratum counts are a broadcast dim; the fact side never
    * shuffles. At real scale the multiplicative hash becomes xxhash64 —
    * same gate shape (DuckDB has no xxhash64 twin, hence Knuth here). */
  /** (id·2654435761) mod 2³² — the shared sampling/split/shard gate —
    * computed WITHOUT 64-bit overflow for any long id: the naive
    * (id & 0xFFFFFFFF)·K product exceeds 2⁶³ once id ≥ ~3.47e9 (≈2³¹·⁷;
    * Spark wraps, still correct mod 2³², but an ANSI engine — the DuckDB
    * oracle included — raises Out of Range, so the two sides would
    * diverge exactly where a 100 TB id space lives). Split the masked id
    * into 16-bit halves: a·K ≡ lo16·K + (hi16·K mod 2¹⁶)·2¹⁶ (mod 2³²),
    * and every intermediate stays < 2⁴⁸. The oracle SQLs use the same
    * split form, so both engines are total over the full long range. */
  private[graft] def knuth32(id: Column): Column = {
    val K = 2654435761L
    pmod(
      id.bitwiseAND(lit(65535L)) * lit(K) +
        pmod(shiftright(id, 16).bitwiseAND(lit(65535L)) * lit(K),
          lit(65536L)) * lit(65536L),
      lit(4294967296L))
  }

  private val Cap = 100
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    docs.join(broadcast(counts), "lang")
      .withColumn("rate", least(lit(1.0), lit(Cap + 0.0) / col("cnt")))
      .withColumn("h", knuth32(col("doc_id")))
      .where(col("h") < floor(col("rate") * lit(4294967296.0)).cast("long"))
      .groupBy(col("lang"))
      .agg(max(col("cnt")).as("n_total"),
        count(lit(1)).as("n_sampled"),
        sum(col("doc_id")).as("id_sum"))
  }

  /** Deterministic fixed-K per-stratum sample — the "reservoir" shape
    * (exactly K rows per language for eval sets / human review / prompt
    * seeds), where llm_sample_stratified's RATE gate yields a binomial
    * count. rand()-based reservoirs are irreproducible and order-
    * dependent; here the reservoir is "the K smallest [[knuth32]] hash
    * values per stratum" — a uniform without-replacement draw that any
    * engine (and any retry) reselects byte-identically, and that needs
    * no sequential pass. The rank filter plans as WindowGroupLimit
    * (Spark 4's top-k window rewrite, asserted in LlmCurationSpec):
    * each map task keeps only its local top-K BEFORE the shuffle, so
    * the exchange carries ≤ K·partitions rows per stratum, never the
    * corpus — the same economics as win_topk_pergroup. At 100 TB the
    * hash becomes xxhash64 (same shape; Knuth here for the DuckDB
    * twin), and K·|strata| output rows are a driver-safe audit set. */
  private val ResK = 20
  def sampleReservoir(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("h", knuth32(col("doc_id")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= ResK)
      .select(col("lang"), col("rk"), col("doc_id"), col("h"))
  }

  /** Pre-flight uniformity audit of the [[knuth32]] sampling gate — the
    * check a team runs BEFORE trusting a deterministic hash gate with a
    * 100 TB keep/drop decision: a multiplicative hash over a structured
    * id space (sequential, strided, sharded-with-gaps) can alias, and a
    * biased gate silently skews every downstream sample, split, and
    * shard. One scan folds each doc into its 16-way hash bucket
    * (top 4 bits of the 2³² gate value); per language the audit reports
    * the bucket min/max and the max absolute deviation from the uniform
    * expectation in exact basis points (dev·160000 div n, since the
    * expected cell is n/16). Deviation scales like √(16/n) under a fair
    * gate, so thresholds belong to the caller; the spec pins the
    * fixture's gate within a loose envelope and proves a PLANTED biased
    * gate (id mod 16 on sequential ids) maxes the readout. */
  def dqHashUniformity(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bkt", shiftright(knuth32(col("doc_id")), 28))
      .groupBy(col("lang"), col("bkt")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).cast("bigint").as("n_docs"),
        count(lit(1)).as("n_buckets"),
        min(col("c")).cast("bigint").as("c_min"),
        max(col("c")).cast("bigint").as("c_max"))
      // an EMPTY bucket never reaches the groupBy — when fewer than 16
      // buckets appear, the worst cell is 0, not c_min
      .withColumn("dev_bp", expr(
        "CAST(greatest(c_max * 16 - n_docs, " +
          "n_docs - IF(n_buckets = 16, c_min, 0L) * 16) " +
          "* 10000 DIV n_docs AS BIGINT)"))

  /** int8 embedding quantization (min/max affine per vector) — 4× memory
    * cut for ANN serving. Output is the quantization params + an exact
    * integer checksum of the quantized codes (the gate can't hash array
    * columns). Per-row HOFs over an attribute-bound min/max — cheap
    * lambda bodies, the expensive tree (the embedding) is the collection
    * argument. */
  def embedQuantize(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("mn", expr("cast(array_min(embedding) as double)"))
      .withColumn("mx", expr("cast(array_max(embedding) as double)"))
      .select(
        col("vec_id"),
        (round(col("mn"), 4) + lit(0.0)).as("v_min"),
        (round(col("mx"), 4) + lit(0.0)).as("v_max"),
        size(col("embedding")).as("n_dims"),
        expr(
          """CASE WHEN mx > mn THEN
            |  aggregate(
            |    transform(embedding,
            |      x -> cast(round((cast(x as double) - mn) * 255.0D / (mx - mn), 0) as bigint) - 128L),
            |    0L, (a, q) -> a + q)
            |ELSE 0L END""".stripMargin).as("q_checksum"))

  /** Embedding-table health audit — the vector-side dq_constraints: a
    * similarity/ANN pipeline silently degrades on dimension drift, NaN
    * components, zero/near-zero vectors (cosine undefined), and dead
    * components, none of which the scalar DQ suite sees. ONE pass over
    * the table folds each vector to a flat stat row (dim, exact norm²
    * on the 10³ quantization grid — the gram_matrix grid — NaN and
    * zero-component counts) and a 1-row aggregate reports: vector
    * count, distinct dims + min/max (schema conformance), NaN/zero
    * component mass, zero and near-zero (‖v‖ < 0.1 ⇔ norm² < 10⁴)
    * vector counts, and min/max/mean norm² — the gate a vector-index
    * build reads before accepting a new embedding snapshot.
    *
    * All reductions exact integers. At 100 TB: per-row fold is
    * map-side, the shuffle carries |partitions| partial rows. */
  def dqEmbeddingHealth(s: SparkSession, d: String): DataFrame =
    embeddingHealthOf(Tables.embeddings(s, d))

  /** Audit body over any (.. embedding: array<float> ..) frame — split
    * out so the spec can plant dirty vectors (NaN / zero / tiny /
    * ragged) that the clean fixture never produces. */
  private[graft] def embeddingHealthOf(emb: DataFrame): DataFrame =
    emb
      .select(
        size(col("embedding")).as("dim"),
        // NaN components contribute 0 to the norm (they report under
        // nan_components; an ANSI cast of NaN would throw)
        expr("""aggregate(
          |  transform(embedding,
          |    x -> if(isnan(cast(x as double)), 0L,
          |            cast(round(cast(x as double) * 1000) as bigint))),
          |  0L, (a, q) -> a + q * q)""".stripMargin).as("norm2"),
        expr("""cast(size(filter(embedding,
          |  x -> isnan(cast(x as double)))) as bigint)""".stripMargin)
          .as("n_nan"),
        // NaN guard: non-ANSI cast sends NaN -> 0, which must count as
        // a NaN component (reported above), never as a zero component
        expr("""cast(size(filter(embedding,
          |  x -> (not isnan(cast(x as double)))
          |    and cast(round(cast(x as double) * 1000) as bigint) = 0))
          |  as bigint)""".stripMargin).as("n_zero_comp"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("dim")).as("n_dims_distinct"),
        min(col("dim")).as("dim_min"),
        max(col("dim")).as("dim_max"),
        sum(col("n_nan")).as("nan_components"),
        sum(col("n_zero_comp")).as("zero_components"),
        sum(when(col("norm2") === 0, 1L).otherwise(0L)).as("n_zero_vecs"),
        sum(when(col("norm2") < 10000L, 1L).otherwise(0L))
          .as("n_tiny_vecs"),
        min(col("norm2")).as("norm2_min"),
        max(col("norm2")).as("norm2_max"),
        sum(col("norm2")).as("norm2_mass"))
      .select(col("n_vecs"), col("n_dims_distinct"), col("dim_min"),
        col("dim_max"), col("nan_components"), col("zero_components"),
        col("n_zero_vecs"), col("n_tiny_vecs"), col("norm2_min"),
        col("norm2_max"), expr("norm2_mass div n_vecs").as("norm2_mean"))

  /** Deterministic holdout split — the train/val/test partition every
    * training pipeline cuts FIRST, made leakage-free by construction:
    * the split is a pure function of doc_id (masked Knuth hash, the
    * sampling-gate idiom), so re-runs, retries, engines, and future
    * ingests of the same id land in the same split — no rand(), no
    * state to persist, no way for one document to appear in two splits.
    * Bucket = (h·20) div 2³² ∈ [0,20): 18 buckets train / 1 val / 1
    * test = a 90/5/5 cut on exact integer thresholds (no float rate ×
    * 2³² rounding). Output per split: doc count, exact id checksum,
    * char mass — the audit a data card records; buckets partition the
    * hash range, so the three rows partition the corpus structurally.
    *
    * At-scale: one map-side hash + a 3-group aggregate — no shuffle
    * until the 3-row result; the same gate shape extends to per-source
    * stratified holdouts by adding the stratum to the group key. */
  def splitHoldout(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("h", knuth32(col("doc_id")))
      .withColumn("b", expr("(h * 20) div 4294967296"))
      .withColumn("split",
        when(col("b") < 18, "train")
          .when(col("b") === 18, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("char_mass"))

  /** Cross-split near-duplicate leakage audit — the check
    * llm_split_holdout's structural guarantee does NOT give: the split
    * is leakage-free at the document level (no doc in two splits), but
    * a near-duplicate of a test document sitting in train leaks the
    * test set anyway (Lee et al. 2022's eval-contamination finding at
    * the near-dup level; llm_decontaminate covers a designated
    * EXTERNAL benchmark — this audits the corpus's own holdout). Every
    * verified near-dup pair (the memoized MinHash/LSH + exact-verify
    * table, shared with llm_dedup_near/cluster) is tagged with both
    * endpoints' splits (the same masked-Knuth gate as the split op);
    * the audit rolls up per (split_a, split_b): pair count, leakage
    * flag (splits differ), strongest pair, example doc, and the
    * combination's share of all near-dup pairs in exact basis points.
    * A release gate reads the is_leakage rows — those documents must be
    * quarantined from train before the split ships.
    *
    * Scale shape: the pair table is LSH-bounded (never all-pairs) and
    * tiny relative to the corpus; the split tag is one map-side hash on
    * the corpus, the two tag joins key on doc_id (pair side broadcasts
    * at scale), and everything after is |splits|² rows. */
  def crossSplitLeakage(s: SparkSession, d: String): DataFrame = {
    val pairs = LlmOps.dedupNear(s, d)
    val sp = Tables.documents(s, d)
      .withColumn("h", knuth32(col("doc_id")))
      .withColumn("b", expr("(h * 20) div 4294967296"))
      .select(col("doc_id"),
        when(col("b") < 18, "train").when(col("b") === 18, "val")
          .otherwise("test").as("split"))
    val tagged = pairs
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        "doc_b")
    val tot = tagged.agg(count(lit(1)).as("n_total"))
    tagged.groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"),
        max(col("jaccard")).as("max_jaccard"),
        min(col("doc_a")).as("example_a"))
      .crossJoin(broadcast(tot))
      .select(col("split_a"), col("split_b"),
        (col("split_a") =!= col("split_b")).as("is_leakage"),
        col("n_pairs"), col("max_jaccard"), col("example_a"),
        expr("(n_pairs * 10000) div n_total").as("share_bp"))
  }

  /** Embedding-space dataset drift between two corpus snapshots — the
    * vector-side companion to dq_drift's scalar PSI: a retrain decision
    * needs "did the representation of label k MOVE", which value
    * histograms can't see. Snapshots are the deterministic vec_id
    * parity split (stand-in for two ingest dates); per (label, side)
    * the centroid is computed in exact fixed point: each component
    * quantizes to round(x·10⁴) + 10⁵ BEFORE any cross-row sum (the
    * shift keeps every summand, sum, and the per-dim mean NONNEGATIVE,
    * so Spark's truncating div and DuckDB's flooring // agree; the
    * shift cancels in the centroid difference), and the reported
    * L2 shift is sqrt of an exact BIGINT sum of squared per-dim
    * centroid deltas — sqrt is correctly rounded IEEE on both engines,
    * then round(·,6) absorbs nothing but the display.
    *
    * At-scale: the per-dim explode is map-side combinable — the
    * shuffle after partial aggregation carries |labels|·|sides|·D
    * rows, never N·D; the pivot and the final per-label fold run on
    * that tiny grid. Magnitude bound: per-(label,side,dim) sums are
    * n·2·10⁵ ≤ 2⁶³ past n = 10¹³ vectors. The parity split
    * generalizes to any snapshot predicate (ingest date, shard range)
    * without changing the plan shape. */
  def embeddingDrift(s: SparkSession, d: String): DataFrame = {
    val S = 10000L
    val OFF = 100000L
    val cent = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        (round(col("x").cast("double") * S, 0).cast("long") + OFF).as("qx"),
        (col("vec_id") % 2 === 0).as("ref"))
      .groupBy(col("label"), col("ref"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("qx")).as("sq"))
      .withColumn("c", expr("sq div n") - OFF)
    cent.groupBy(col("label"), col("dim"))
      .agg(
        max(when(col("ref"), col("c"))).as("c_ref"),
        max(when(!col("ref"), col("c"))).as("c_cur"),
        max(when(col("ref"), col("n"))).as("n_ref"),
        max(when(!col("ref"), col("n"))).as("n_cur"))
      .groupBy(col("label"))
      .agg(
        max(col("n_ref")).as("n_ref"),
        max(col("n_cur")).as("n_cur"),
        sum((col("c_ref") - col("c_cur")) * (col("c_ref") - col("c_cur")))
          .as("shift_fp"))
      .select(col("label"), col("n_ref"), col("n_cur"),
        col("shift_fp").cast("long").as("shift_fp"),
        round(sqrt(col("shift_fp").cast("double")) / S, 6).as("l2_shift"))
  }

  /** Flagship macro: the whole curation pipeline as ONE dataflow —
    * quality gate → exact dedup (min-id per text among kept) → near-dup
    * pairwise drop (the non-minimal member of every verified pair) →
    * per-language stratified sample → context-window chunk accounting.
    * Output is the per-language funnel: doc counts surviving each stage
    * plus the final chunk count. Everything stays declarative, so
    * Catalyst fuses the stage flags into a handful of joins over the
    * (small) survivor sets — the corpus is scanned, not re-shuffled,
    * per stage. The chunk count is computed arithmetically (no explode):
    * accounting needs sizes, not rows. */
  def curationE2e(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val quality = qualityFilter(s, d).select(col("doc_id"), col("keep"))
    val exactSurv = docs.join(quality.where(col("keep")), "doc_id")
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val dropSet = LlmOps.dedupNear(s, d)
      .select(col("doc_b").as("doc_id")).distinct()
    val nearSurv = exactSurv.join(dropSet, Seq("doc_id"), "left_anti")
    val flagged = docs
      .join(quality, "doc_id")
      .join(exactSurv.withColumn("s1", lit(1)), Seq("doc_id"), "left")
      .join(nearSurv.withColumn("s2", lit(1)), Seq("doc_id"), "left")
    val counts = flagged.where(col("s2") === 1)
      .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    val sampled = flagged.where(col("s2") === 1)
      .join(broadcast(counts), "lang")
      .withColumn("rate", least(lit(1.0), lit(Cap + 0.0) / col("cnt")))
      .withColumn("h", knuth32(col("doc_id")))
      .where(col("h") < floor(col("rate") * lit(4294967296.0)).cast("long"))
      .withColumn("nt", size(split(col("text"), " ")))
      .withColumn("n_chunks", expr(
        s"CASE WHEN nt <= $W THEN 1L ELSE cast(ceil((nt - $W) / $S.0D) as long) + 1L END"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_chunks")).as("n_chunks"))
    flagged.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("keep"), 1)).as("n_quality"),
        count(col("s1")).as("n_exact_dedup"),
        count(col("s2")).as("n_near_dedup"))
      .join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("n_quality"),
        col("n_exact_dedup"), col("n_near_dedup"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"))
  }

  /** Gate ABLATION — the attribution table a curation team reads before
    * touching any filter: for each hard gate (quality rules, repetition,
    * safety lexicon), how many documents it drops IN TOTAL and how many
    * it drops UNIQUELY (kept by both other gates — the marginal value a
    * gate would lose if removed; a gate with near-zero unique drops is
    * redundant with its peers, one with huge unique drops deserves a
    * manual audit before anyone tunes it). Plus the 'any' row (docs
    * dropped at all / dropped by exactly one gate) and the global
    * survivor count. Pure composition: the three registered gates'
    * keep/action columns joined doc-keyed, one global aggregate, a
    * 4-row unpivot — the per-doc flags never leave the executors.
    * Docs a gate never scored (safety skips token-less docs) count as
    * dropped by it — a gate that cannot score a doc cannot vouch for
    * it. */
  def gateAblation(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val q = qualityFilter(s, d).select(col("doc_id"), col("keep").as("qk"))
    val r = LlmScale.repetitionFilter(s, d)
      .select(col("doc_id"), col("keep").as("rk"))
    val sa = Retrieval.safetyFilter(s, d)
      .select(col("doc_id"), (col("action") =!= lit("drop")).as("sk"))
    val f = docs.join(q, Seq("doc_id"), "left")
      .join(r, Seq("doc_id"), "left")
      .join(sa, Seq("doc_id"), "left")
      .select(coalesce(col("qk"), lit(false)).as("q"),
        coalesce(col("rk"), lit(false)).as("r"),
        coalesce(col("sk"), lit(false)).as("s"))
    val agg = f.agg(
      count(lit(1)).as("n_docs"),
      count(when(!col("q"), 1)).as("dq"),
      count(when(!col("r"), 1)).as("dr"),
      count(when(!col("s"), 1)).as("ds"),
      count(when(!col("q") && col("r") && col("s"), 1)).as("uq"),
      count(when(col("q") && !col("r") && col("s"), 1)).as("ur"),
      count(when(col("q") && col("r") && !col("s"), 1)).as("us"),
      count(when(!(col("q") && col("r") && col("s")), 1)).as("dany"),
      count(when((!col("q")).cast("int") + (!col("r")).cast("int")
        + (!col("s")).cast("int") === 1, 1)).as("uany"),
      count(when(col("q") && col("r") && col("s"), 1)).as("pass"))
    agg.select(explode(array(
        struct(lit("quality").as("gate"), col("dq").as("n_drop"),
          col("uq").as("n_drop_unique")),
        struct(lit("repetition").as("gate"), col("dr").as("n_drop"),
          col("ur").as("n_drop_unique")),
        struct(lit("safety").as("gate"), col("ds").as("n_drop"),
          col("us").as("n_drop_unique")),
        struct(lit("any").as("gate"), col("dany").as("n_drop"),
          col("uany").as("n_drop_unique")))).as("x"),
        col("n_docs"), col("pass").as("n_pass_all"))
      .select(col("x.gate").as("gate"), col("x.n_drop").as("n_drop"),
        col("x.n_drop_unique").as("n_drop_unique"),
        col("n_docs"), col("n_pass_all"))
  }

  /** Corpus snapshot diff — the dataset-versioning audit every managed
    * training corpus runs between releases: one full-outer join on
    * doc_id classifies every document as added / removed / modified /
    * unchanged. The v2 snapshot derives deterministically from v1 (every
    * 20th doc dropped, every 7th surviving text revised, five synthetic
    * additions) so both engines diff identical inputs. Change detection
    * compares xxhash64 CONTENT DIGESTS, not text: at 100 TB the diff
    * join carries 16-byte (id, digest) rows per side while the oracle
    * compares the raw strings — digest-collision odds are the
    * dedup_near precedent. One shuffle per side on the join key; a
    * bucketed-by-doc_id snapshot layout makes the release-over-release
    * diff shuffle-free (the join_bucketed pattern). */
  def datasetDiff(s: SparkSession, d: String): DataFrame = {
    val v1 = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"))
    val v2 = v1.where(pmod(col("doc_id"), lit(20)) =!= 3)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 2,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")).as("text"),
        col("lang"))
      .union(s.range(1, 6)
        .select((col("id") + 3000000000L).as("doc_id"),
          lit("synthetic doc v2").as("text"), lit("en").as("lang")))
    v1.as("a").join(v2.as("b"),
        col("a.doc_id") === col("b.doc_id"), "full_outer")
      .select(
        coalesce(col("a.doc_id"), col("b.doc_id")).as("doc_id"),
        coalesce(col("a.lang"), col("b.lang")).as("lang"),
        when(col("b.doc_id").isNull, "removed")
          .when(col("a.doc_id").isNull, "added")
          .when(expr("xxhash64(a.text) = xxhash64(b.text)"), "unchanged")
          .otherwise("modified").as("status"))
  }

  /** Importance-sampling MATERIALIZATION: llm_domain_mix computes the
    * data-scheduler weights (uniform token target, 10⁴ fixed point);
    * this op turns them into the actual training-epoch multiset — each
    * doc emits ⌊w⌋ copies plus one more iff its hash gate clears the
    * fractional part. Over-represented sources downsample (w < 1 → a
    * keep-gate, llm_sample_stratified's shape), under-represented ones
    * UPSAMPLE (w > 1 → explode into ⌊w⌋(+1) repeats) — the repetition
    * half no keep-gate can express. The gate is the same Knuth
    * multiplicative hash as the stratified sampler (doc_id·2654435761
    * mod 2³², compared in exact integers: h·10⁴ < frac_fp·2³²), so the
    * emitted multiset is engine- and retry-identical, and the per-source
    * audit pins it with an exact (doc_id·copy) checksum.
    *
    * Scale shape: weights are an S-row broadcast; the explode emits
    * Σ n_s·w_s ≈ N rows total (the epoch is corpus-sized by
    * construction — uniform target conserves token mass), map-side with
    * no shuffle until the audit aggregate. At 100 TB the emitted rows
    * stream straight into the pack_sequences writer; nothing here
    * buffers a source in memory. */
  def sampleImportance(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).as("nt"))
    val perSource = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val totals = perSource.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    val w = perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"),
        expr("((total_tokens div n_sources) * 10000) div n_tokens")
          .as("weight_fp"))
    val emitted = docs.join(broadcast(w.drop("n_docs")), "source")
      .withColumn("h", knuth32(col("doc_id")))
      .withColumn("copies",
        expr("weight_fp div 10000")
          + when(col("h") * lit(10000L)
              < pmod(col("weight_fp"), lit(10000L)) * lit(4294967296L), 1L)
            .otherwise(0L))
      .where(col("copies") > 0)
      .select(col("source"), col("doc_id"),
        explode(sequence(lit(1L), col("copies"))).as("copy"))
    val audit = emitted.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs_emitted"),
        count(lit(1)).as("n_emitted"),
        sum(col("doc_id") * col("copy")).as("checksum"))
    w.join(audit, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("weight_fp"),
        coalesce(col("n_docs_emitted"), lit(0L)).as("n_docs_emitted"),
        coalesce(col("n_emitted"), lit(0L)).as("n_emitted"),
        expr("(coalesce(n_emitted, 0) * 10000) div n_docs")
          .as("realized_fp"),
        coalesce(col("checksum"), lit(0L)).as("checksum"))
  }

  /** Training-shard LAYOUT audit — the last stage of a curation
    * pipeline, where the surviving corpus is written as S balanced
    * shards for dataloader workers. Assignment is the masked Knuth
    * multiplicative hash's TOP 4 bits (multiplicative hashing's
    * uniformity lives in the high bits; the low bits cycle), so shard
    * membership is deterministic, engine-identical, and stable across
    * re-runs — the property that makes a resumed training job read the
    * same shard contents. Per shard: doc count, token mass, id range,
    * exact id checksum (the cheap cross-run shard-integrity check), and
    * fill in basis points of the ideal S-way split (tok·S·10⁴ div
    * total — exact integer; headroom to ~10¹⁴ tokens, widen to decimal
    * beyond).
    *
    * Scale shape: one map-side pass computes (shard, token count) per
    * doc, one S×-row aggregate, and the 16-row totals cross-join back
    * broadcast — the physical write this audits is a single
    * repartition(S, shard) + per-shard streaming write, the one
    * unavoidable full shuffle of a corpus export, paid exactly once. */
  def shardLayout(s: SparkSession, d: String): DataFrame = {
    val S = 16
    val per = Tables.documents(s, d)
      .withColumn("h", knuth32(col("doc_id")))
      .withColumn("shard", expr("cast(h div 268435456 as int)"))
      .withColumn("nt", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tok_mass"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        sum(col("doc_id")).as("id_sum"))
    val tot = per.agg(sum(col("tok_mass")).as("tot"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("tok_mass"),
        col("min_id"), col("max_id"), col("id_sum"),
        expr(s"(tok_mass * $S * 10000) div tot").as("fill_bp"))
  }

  /** Dataset-release LINEAGE audit — the governance rollup a managed
    * training corpus publishes per snapshot: "what changed since the
    * last release, and is this version safe to train on". One row per
    * holdout split of the NEW version, joining the three audit surfaces
    * this module already maintains: the diff classification
    * (llm_dataset_diff's digest full-outer join), the deterministic
    * split gate (llm_split_holdout's knuth32 buckets), and card-style
    * integrity columns (doc count, exact id checksum, char mass — the
    * cross-run shard-integrity idiom of llm_shard_layout). Derived
    * verdict columns are exact integers: split_bp (split's share of the
    * release, basis points) and churn_bp ((added+removed+modified)·10⁴
    * div the split's PREVIOUS size) feed a releasable flag
    * (churn < 20%, split nonempty) — the automated gate a retrain
    * pipeline reads before pointing at the new snapshot. Because the
    * split is a pure function of doc_id, no document can change split
    * between versions (leakage-freedom is structural, not audited-after
    * -the-fact); the id_sum column is what a downstream consumer
    * re-computes to prove it read the exact released membership.
    *
    * Scale shape: ONE full-outer join on doc_id carrying (id, digest)
    * rows per side — identical to llm_dataset_diff's 100 TB shape
    * (bucketed snapshot layouts make it shuffle-free) — then a map-side
    * split assign and a 3-row aggregate; totals broadcast back. Nothing
    * here is wider than the diff itself. */
  def lineageAudit(s: SparkSession, d: String): DataFrame = {
    val v1 = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // v2 derives deterministically from v1 exactly as llm_dataset_diff
    // (drop every 20th, revise every 7th survivor, add five synthetic)
    val v2 = v1.where(pmod(col("doc_id"), lit(20)) =!= 3)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 2,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")).as("text"))
      .union(s.range(1, 6)
        .select((col("id") + 3000000000L).as("doc_id"),
          lit("synthetic doc v2").as("text")))
    val diff = v1.as("a").join(v2.as("b"),
        col("a.doc_id") === col("b.doc_id"), "full_outer")
      .select(
        coalesce(col("a.doc_id"), col("b.doc_id")).as("doc_id"),
        col("b.text").as("text2"),
        when(col("b.doc_id").isNull, "removed")
          .when(col("a.doc_id").isNull, "added")
          .when(expr("xxhash64(a.text) = xxhash64(b.text)"), "unchanged")
          .otherwise("modified").as("status"))
    val per = diff
      .withColumn("h", knuth32(col("doc_id")))
      .withColumn("b", expr("(h * 20) div 4294967296"))
      .withColumn("split",
        when(col("b") < 18, "train")
          .when(col("b") === 18, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(
        count(when(col("status") =!= "removed", 1)).as("n_docs"),
        sum(when(col("status") =!= "removed", col("doc_id"))).as("id_sum"),
        sum(when(col("status") =!= "removed", length(col("text2"))))
          .cast("long").as("char_mass"),
        count(when(col("status") === "added", 1)).as("n_added"),
        count(when(col("status") === "removed", 1)).as("n_removed"),
        count(when(col("status") === "modified", 1)).as("n_modified"),
        count(when(col("status") === "unchanged", 1)).as("n_unchanged"))
    val tot = per.agg(sum(col("n_docs")).as("tot"))
    per.crossJoin(broadcast(tot))
      .select(lit("v2").as("version"), col("split"),
        col("n_docs"), col("id_sum"), col("char_mass"),
        col("n_added"), col("n_removed"), col("n_modified"),
        col("n_unchanged"),
        expr("(n_docs * 10000) div tot").as("split_bp"),
        expr("""((n_added + n_removed + n_modified) * 10000)
                 div nullif(n_removed + n_modified + n_unchanged, 0)""")
          .as("churn_bp"))
      .withColumn("releasable",
        col("churn_bp").isNotNull && col("churn_bp") < 2000 &&
          col("n_docs") > 0)
  }

  /** Token-budget epoch planning under temperature-scaled source mixing
    * (α = ½): given a training budget B = 2× the corpus token mass,
    * allocate per-source token quotas ∝ √(tokens) — the standard
    * temperature upweighting of small sources (uniform at α = 0, raw
    * proportions at α = 1) — capped at 2 epochs per source (the
    * data-constrained repeat ceiling), with the realized epochs and
    * budget utilization as exact-integer audit columns. This is the
    * "how many passes over each source does the run actually make"
    * sheet that sits between llm_domain_mix (target proportions) and
    * llm_sample_importance (row-level resampling).
    *
    * Numeric discipline: √tokens is a per-row scalar from an exact
    * BIGINT, quantized to round(√c·10⁶) BIGINT BEFORE the cross-row
    * sum (SURVEY §5.4 — floats decide nothing across rows); weights
    * land in basis points, so alloc = B·w_bp div 10⁴ bounds every
    * product by B·10⁴ ~ 5·10¹⁷ even at a 2.5·10¹³-token (100 TB)
    * corpus. Scale shape: one map-side token count into a |sources|-row
    * aggregate; the two 1-row totals broadcast back — nothing after
    * the first aggregate touches corpus-sized data. */
  def epochPlan(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .select(col("source"),
        size(expr("filter(split(text, ' '), t -> t != '')"))
          .cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tokens"))
      .withColumn("q",
        round(sqrt(col("tokens").cast("double")) * 1e6, 0).cast("long"))
    val tot = per.agg(sum(col("q")).as("qsum"),
      sum(col("tokens")).as("ctot")) // 1 row → broadcast
    val planned = per.crossJoin(broadcast(tot))
      .withColumn("weight_bp", expr("q * 10000 div qsum"))
      .withColumn("budget", col("ctot") * 2)
      .withColumn("alloc_tokens", expr("budget * weight_bp div 10000"))
      .withColumn("final_tokens",
        least(col("alloc_tokens"), col("tokens") * 2))
      .withColumn("capped", col("alloc_tokens") > col("tokens") * 2)
    val used = planned.agg(sum(col("final_tokens")).as("used")) // 1 row
    planned.crossJoin(broadcast(used))
      .select(col("source"), col("n_docs"), col("tokens"),
        col("weight_bp"), col("alloc_tokens"), col("final_tokens"),
        expr("final_tokens * 10000 div tokens").as("epochs_bp"),
        col("capped"),
        expr("used * 10000 div budget").as("util_bp"))
  }

  /** HTML → clean-text extraction (the C4/trafilatura stage that sits
    * BEFORE every text-quality op when the corpus arrives as crawled
    * pages): per document a deterministic HTML page is staged inline —
    * title, nav bar, cookie banner, the doc text as 10-word <p>
    * paragraphs, a copyright footer (the fixture documents are plain
    * text, so the page is synthesized from them; on a real crawl the
    * html column IS the input and only the extractor half runs) — and
    * the EXTRACTOR then recovers the content: block-close tags become
    * line breaks, all remaining tags strip to nothing, and each line
    * passes the C4 boilerplate gates (non-empty; no cookie/copyright/
    * nav-separator markers; ≥ 5 words). Kept lines rejoin in document
    * order. Output per doc: raw/kept/dropped line counts and the clean
    * text with its length.
    *
    * At-scale: pure per-row HOF + regex work — zero shuffle, fully
    * parallel over pages; the regexes are RE2-safe (no backtracking
    * blowup on adversarial pages). The only content loss vs the source
    * text is the final sub-5-word paragraph, by design (C4 drops short
    * lines; the spec test pins exactly that delta). */
  def htmlExtract(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("nch", expr("cast(ceil(size(ws) / 10.0) as int)"))
      .withColumn("html", concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title></head><body><nav>Home | About | Contact</nav>" +
          "<div class=\"cookie\">This site uses cookie consent tracking. Accept?</div>"),
        expr("array_join(transform(sequence(0, nch - 1), " +
          "i -> concat('<p>', array_join(slice(ws, i * 10 + 1, 10), ' '), '</p>')), '')"),
        lit("<footer>© 2024 Example Corp. All rights reserved.</footer>" +
          "</body></html>")))
      // extractor: block closes → newline, strip every other tag
      .withColumn("lines", split(
        regexp_replace(
          regexp_replace(col("html"), "</(p|div|nav|footer|title)>", "\n"),
          "<[^>]*>", ""),
        "\n"))
      .withColumn("kept", expr(
        """filter(lines, l -> length(trim(l)) > 0
          |  AND NOT contains(l, '©')
          |  AND NOT contains(lower(l), 'cookie')
          |  AND NOT contains(l, ' | ')
          |  AND size(split(trim(l), ' ')) >= 5)""".stripMargin))
      .select(col("doc_id"),
        size(col("lines")).as("n_lines_raw"),
        size(col("kept")).as("n_kept"),
        (size(col("lines")) - size(col("kept"))).as("n_dropped"),
        expr("array_join(transform(kept, l -> trim(l)), ' ')").as("clean_text"),
        length(expr("array_join(transform(kept, l -> trim(l)), ' ')"))
          .as("clean_nchars"))

  /** Corpus-wide EXACT LINE dedup (C4's line-level pass — the cheap
    * hash stage that runs before MinHash/substring dedup and removes
    * verbatim repeated lines like navigation text or license blocks
    * that appear across thousands of pages): every "line" keeps its
    * FIRST occurrence (ordered by doc_id, then position) and every
    * later verbatim copy anywhere in the corpus is dropped; surviving
    * lines rejoin per document in original order. The fixture documents
    * are single-line, so a "line" here is a fixed 8-word segment —
    * documented stand-in, same plan shape as newline splitting.
    *
    * At-scale: the segment explode is per-row; the first-occurrence
    * choice is ONE row_number window partitioned by the segment text —
    * i.e. a single shuffle hash-partitioned on content, exactly how a
    * 100 TB line-dedup shards (content-addressed, no skew: identical
    * lines colocate, and a pathological mega-dup line caps at one
    * partition's row list which AQE would split). Reassembly is one
    * shuffle back on doc_id. No all-pairs anything. */
  def dedupLine(s: SparkSession, d: String): DataFrame = {
    val segs = Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("nch", expr("cast(ceil(size(ws) / 8.0) as int)"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, nch - 1), " +
          "i -> array_join(slice(ws, i * 8 + 1, 8), ' '))")))
      .withColumnRenamed("pos", "seg_idx")
      .withColumnRenamed("col", "seg")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg")).orderBy(col("doc_id"), col("seg_idx"))
    segs
      .withColumn("rk", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"),
        expr("array_join(transform(array_sort(" +
          "collect_list(CASE WHEN rk = 1 THEN struct(seg_idx, seg) END))," +
          " x -> x.seg), ' ')").as("clean_text"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        (col("n_segs") - col("n_kept")).as("n_dropped"),
        col("clean_text"), length(col("clean_text")).as("clean_nchars"))
  }

  /** T5-style span corruption (the denoising-objective data prep:
    * replace ~15% of tokens with numbered sentinel tokens, emit the
    * masked spans as the target sequence): the corpus is blocked into
    * 8-word windows; a block is masked iff the shared knuth32 gate over
    * (doc_id·64 + block) lands in the BOTTOM quarter of the 32-bit
    * range (h < 2³⁰, i.e. the high two bits are 00 — judged on high
    * bits, not h mod 4: K is ≡1 mod 4, so h mod 4 ≡ id mod 4 and the
    * low bits are NOT mixed), and a masked block loses its
    * first ≤3 words to `<extra_id_k>` with k numbered in document
    * order. Deterministic across runs/engines — a re-run regenerates
    * byte-identical training pairs, which is what makes the objective
    * auditable. All per-row HOF work: zero shuffle, scan-bound at any
    * corpus size. */
  def spanCorruption(s: SparkSession, d: String): DataFrame = {
    val K = 2654435761L
    // h(x) in HOF-lambda form (16-bit split so it is overflow-total;
    // x ≥ 0 here so plain % matches both engines)
    def h(x: String) =
      s"((($x & 65535) * $K + ((($x >> 16) & 65535) * $K) % 65536 * 65536)" +
        " % 4294967296)"
    Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("nw", size(col("ws")))
      .withColumn("nb", expr("cast(ceil(nw / 8.0) as int)"))
      .withColumn("flags", expr(
        s"transform(sequence(0, nb - 1), b -> ${h("(doc_id * 64 + b)")} * 4 div 4294967296 = 0)"))
      .withColumn("corrupted", expr(
        """array_join(flatten(transform(sequence(0, nb - 1), b ->
          |  IF(element_at(flags, b + 1),
          |    concat(
          |      array(concat('<extra_id_',
          |        cast(size(filter(slice(flags, 1, b), f -> f)) as string),
          |        '>')),
          |      slice(ws, b * 8 + 4, 5)),
          |    slice(ws, b * 8 + 1, 8)))), ' ')""".stripMargin))
      .withColumn("targets", expr(
        """array_join(flatten(transform(sequence(0, nb - 1), b ->
          |  IF(element_at(flags, b + 1),
          |    concat(
          |      array(concat('<extra_id_',
          |        cast(size(filter(slice(flags, 1, b), f -> f)) as string),
          |        '>')),
          |      slice(ws, b * 8 + 1, 3)),
          |    slice(ws, 1, 0)))), ' ')""".stripMargin))
      .withColumn("n_masked", expr(
        """size(flatten(transform(sequence(0, nb - 1), b ->
          |  IF(element_at(flags, b + 1), slice(ws, b * 8 + 1, 3),
          |    slice(ws, 1, 0)))))""".stripMargin))
      .select(col("doc_id"), col("nw").as("n_words"),
        expr("size(filter(flags, f -> f))").as("n_spans"),
        col("n_masked"),
        expr("n_masked * 10000L div nw").as("mask_bp"),
        col("corrupted"), col("targets"))
  }

  /** SFT conversation assembly (the chat-format prep stage: normalize a
    * raw interaction log into alternating-role conversations and gate
    * which ones are usable training dialogues): each user's events in
    * time order map to chat roles (click/signup/purchase → user,
    * view/error → assistant), CONSECUTIVE same-role messages merge into
    * one turn (the standard chat normalization — alternation holds by
    * construction afterwards), and the per-conversation audit reports
    * the gates an SFT pipeline filters on: starts with a user turn,
    * ends with an assistant turn, ≥ 2 turns. Merged-turn content is the
    * comma-joined event types (position-ordered — deterministic).
    *
    * At-scale: one per-user window pass (runs via lag + running sum —
    * gaps-and-islands) and one per-turn aggregate, both keyed on the
    * high-cardinality user id; no joins, no driver work. */
  def chatFormat(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val msgs = Tables.events(s, d)
      .withColumn("role",
        when(col("event_type").isin("click", "signup", "purchase"), "user")
          .otherwise("assistant"))
      .withColumn("new_run",
        when(lag(col("role"), 1).over(w).isNull
          || lag(col("role"), 1).over(w) =!= col("role"), 1L).otherwise(0L))
      .withColumn("turn_id", sum(col("new_run")).over(wRun))
    val turns = msgs
      .groupBy(col("user_id"), col("turn_id"))
      .agg(first(col("role")).as("role"), count(lit(1)).as("n_msgs"),
        expr("array_join(transform(array_sort(" +
          "collect_list(struct(ts, event_id, event_type))), " +
          "x -> x.event_type), ',')").as("content"))
    turns
      .groupBy(col("user_id"))
      .agg(
        sum(col("n_msgs")).as("n_msgs"),
        count(lit(1)).as("n_turns"),
        min(when(col("turn_id") === 1, col("role"))).as("first_role"),
        max(when(col("turn_id") === 1, col("content"))).as("first_turn"),
        // the max-turn_id row's role, as an argmax over (-turn_id, role)
        expr("min(struct(-turn_id, role)).role").as("last_role"))
      .select(col("user_id"), col("n_msgs"), col("n_turns"),
        col("first_role"), col("last_role"), col("first_turn"),
        (col("first_role") === "user" && col("last_role") === "assistant"
          && col("n_turns") >= 2).as("usable"))
  }


  /** N-gram novelty of the test split vs the training split (the
    * memorization/contamination readout the Gopher/PaLM analyses run:
    * what fraction of a held-out document's word 4-grams never occur
    * anywhere in train — low novelty means the "held-out" text is
    * effectively memorizable from train even when no document leaked):
    * train = the same masked-Knuth split gate as llm_split_holdout
    * (b < 18), test = b = 19; the train side collapses to the DISTINCT
    * gram set, each test gram OCCURRENCE probes it with one left join,
    * and the per-doc audit reports total/novel gram counts and exact
    * novelty basis points.
    *
    * At-scale: identical economics to llm_decontaminate — the train
    * side is one distinct-aggregate (map-side combined) keyed by gram,
    * the probe is a gram-keyed equi-join (semi-join shape), and
    * nothing ever shuffles raw documents; output is 1 row per test
    * doc. */
  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("h", knuth32(col("doc_id")))
      .withColumn("b", expr("(h * 20) div 4294967296"))
      .withColumn("ws", split(col("text"), " "))
      .withColumn("nw", size(col("ws")))
      .where(col("nw") >= 4)
    def grams(df: DataFrame) = df.select(col("doc_id"), explode(expr(
      "transform(sequence(0, nw - 4), i -> array_join(slice(ws, i + 1, 4), ' '))"))
      .as("gram"))
    val train = grams(docs.where(col("b") < 18))
      .select(col("gram")).distinct().withColumn("seen", lit(1))
    grams(docs.where(col("b") === 19))
      .join(train, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("n_novel * 10000 div n_grams").as("novelty_bp"))
  }

  /** WATERMARK DETECTION — the filter a modern pretraining pipeline
    * runs to keep WATERMARKED LLM OUTPUT out of the training mix
    * (Kirchenbauer-style greenlist watermarks: the generator biases
    * each next token toward a "green" half of the vocabulary seeded by
    * the previous token's hash, so watermarked text shows a green-pair
    * fraction far above the ~50% a natural text produces). Detection
    * is hash-only — no model: per document, the fraction of adjacent
    * token pairs whose pair hash lands green, flagged at ≥ 90% with a
    * ≥ 33-token minimum (real detectors also need length; here it also
    * bounds the deterministic false-flag rate — a 32-pair natural doc
    * needs 29+ green pairs to flag, p ≈ 10⁻⁶).
    *
    * The corpus under test plants genuinely watermarked text: every
    * doc_id % 50 == 0 document's text is replaced by a 64-token
    * sequence GENERATED under the same greenlist rule (driver-side,
    * deterministic — each step takes the first vocab word whose pair
    * is green), so the op detects real watermark structure, not a
    * label. Hashes are the house poly-31 word fold mod 1e9+7 and the
    * Knuth multiplier pair-mix mod 2³² — both engines replay them
    * literally (no engine-hash coupling). One zero-shuffle scan per
    * doc + a 2-row aggregate: scan-bound at any corpus size. */
  private[graft] lazy val watermarkPlanted: String = {
    def ph(w: String): Long =
      w.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % 1000000007L)
    def green(a: Long, b: Long): Boolean =
      ((a * 2654435761L + b) % 4294967296L) % 2 == 0
    val vocab = (0 until 16).map(i => s"wm$i")
    val out = scala.collection.mutable.ArrayBuffer("wm0")
    while (out.length < 64) {
      val prev = ph(out.last)
      out += vocab.find(w => green(prev, ph(w))).getOrElse(
        // 16 candidates all red has p = 2^-16 per step; the generator
        // is deterministic, so this branch either never fires or the
        // planted bp is still ≥ 9843 — the 9000 flag threshold holds
        vocab.head)
    }
    out.mkString(" ")
  }

  def watermarkDetect(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"),
        when(col("doc_id") % 50 === 0, lit(watermarkPlanted))
          .otherwise(col("text")).as("text"))
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .where(size(col("toks")) >= 33)
      .withColumn("hs", expr(
        """transform(toks, w -> aggregate(split(w, ''), 0L,
          |  (h, c) -> (h * 31 + ascii(c)) % 1000000007))""".stripMargin))
      .withColumn("n_pairs", (size(col("hs")) - 1).cast("long"))
      .withColumn("n_green", expr(
        """size(filter(sequence(1, size(hs) - 1),
          |  i -> ((hs[i-1] * 2654435761 + hs[i]) % 4294967296) % 2 = 0))"""
          .stripMargin).cast("long"))
      .withColumn("green_bp", expr("n_green * 10000 div n_pairs"))
      .withColumn("flagged", col("green_bp") >= 9000)
    scored.groupBy(col("flagged"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("bigint").as("docid_sum"),
        min(col("green_bp")).as("min_bp"),
        max(col("green_bp")).as("max_bp"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_watermark_detect" -> watermarkDetect _,
    "llm_span_corruption" -> spanCorruption _,
    "llm_ngram_novelty" -> ngramNovelty _,
    "llm_chat_format" -> chatFormat _,
    "llm_html_extract" -> htmlExtract _,
    "llm_dedup_line" -> dedupLine _,
    "llm_epoch_plan" -> epochPlan _,
    "llm_lineage_audit" -> lineageAudit _,
    "llm_shard_layout" -> shardLayout _,
    "llm_sample_importance" -> sampleImportance _,
    "curation_e2e" -> curationE2e _,
    "llm_gate_ablation" -> gateAblation _,
    "llm_dataset_diff" -> datasetDiff _,
    "llm_dedup_cluster" -> dedupCluster _,
    "llm_dedup_phash_cluster" -> dedupPhashCluster _,
    "llm_chunk" -> chunk _,
    "llm_pii_scrub" -> piiScrub _,
    "llm_quality_classifier" -> qualityClassifier _,
    "llm_quality_calibration" -> qualityCalibration _,
    "llm_quality_gate" -> qualityGate _,
    "llm_quality_holdout" -> qualityHoldout _,
    "llm_uncertainty_sample" -> uncertaintySample _,
    "llm_quality_filter" -> qualityFilter _,
    "llm_sample_stratified" -> sampleStratified _,
    "llm_sample_reservoir" -> sampleReservoir _,
    "dq_hash_uniformity" -> dqHashUniformity _,
    "llm_embed_quantize" -> embedQuantize _,
    "llm_embedding_drift" -> embeddingDrift _,
    "llm_split_holdout" -> splitHoldout _,
    "llm_cross_split_leakage" -> crossSplitLeakage _,
    "dq_embedding_health" -> dqEmbeddingHealth _
  )

  // shared by llm_quality_filter and the curation_e2e macro's CTE chain
  private val qualityFilterSql =
    """WITH q AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS toks,
      |    len(string_split(text, ' ')) AS nt
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, text, nt,
      |    round((length(text) - (nt - 1))::DOUBLE / nt, 4) AS mean_wl,
      |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
      |      round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))::DOUBLE
      |            / length(text), 4) END AS sym_ratio,
      |    len(list_intersect(toks, ['the','and','of','der','die','und','le',
      |      'la','et','el','y','de','的','了','是'])) > 0 AS has_stop
      |  FROM q),
      |r AS (
      |  SELECT *,
      |    CASE WHEN length(text) = 0 THEN 'empty'
      |         WHEN nt < 10 OR nt > 5000 THEN 'n_tokens'
      |         WHEN mean_wl < 2.0 OR mean_wl > 12.0 THEN 'mean_word_len'
      |         WHEN sym_ratio >= 0.3 THEN 'symbol_ratio'
      |         WHEN NOT has_stop THEN 'no_stopword'
      |         ELSE NULL END AS reason
      |  FROM m)
      |SELECT doc_id, nt AS n_tokens, mean_wl, sym_ratio, has_stop,
      |       reason IS NULL AS keep, reason
      |FROM r""".stripMargin

  /** One perceptron round in the classifier oracles: margins under w_t,
    * then w_{t+1} = w_t + Σ_{y·margin ≤ 0} y·x. MATERIALIZED per round —
    * DuckDB inlines plain CTEs per reference, and w_{t+1} references w_t
    * twice (the kcore-peel lesson). `rel` is the training feature
    * relation — `feats` for the full-corpus ops, `tfeats` for the
    * hold-out's train-bucket side. */
  private def clfRoundCtes(t: Int, rel: String = "feats"): String =
    s"""m$t AS MATERIALIZED (
       |  SELECT f.doc_id, f.y,
       |    CAST(sum(f.cnt * coalesce(w.w, 0)) AS BIGINT) AS margin
       |  FROM $rel f LEFT JOIN w$t w USING (fid) GROUP BY 1, 2),
       |w${t + 1} AS MATERIALIZED (
       |  SELECT coalesce(w.fid, d.fid) AS fid,
       |    coalesce(w.w, 0) + coalesce(d.dw, 0) AS w
       |  FROM w$t w FULL JOIN (
       |    SELECT f.fid, CAST(sum(f.y * f.cnt) AS BIGINT) AS dw
       |    FROM $rel f JOIN m$t m USING (doc_id)
       |    WHERE m.y * m.margin <= 0 GROUP BY 1) d ON d.fid = w.fid)""".stripMargin

  /** teach → labels → hashed-BoW features: the shared head of the
    * three classifier oracles (classifier / gate / holdout). */
  private lazy val clfFeatsCtes: String =
    s"""WITH teach AS MATERIALIZED (
       |$qualityFilterSql
       |),
       |labs AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN keep THEN 1::BIGINT ELSE -1::BIGINT END AS y
       |  FROM teach),
       |feats AS MATERIALIZED (
       |  SELECT f.doc_id, f.fid, f.cnt, l.y FROM (
       |    SELECT doc_id, fid, CAST(count(*) AS BIGINT) AS cnt FROM (
       |      SELECT doc_id,
       |        list_reduce(list_prepend(0::BIGINT,
       |          [ascii(c)::BIGINT for c in string_split(w, '')]),
       |          (h, c) -> (h * 31 + c) % 1000000007) % 64 AS fid
       |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |            FROM documents))
       |    GROUP BY 1, 2
       |    UNION ALL SELECT doc_id, 64 AS fid, 1::BIGINT FROM documents) f
       |  JOIN labs l USING (doc_id)),
       |""".stripMargin

  def oracle: Map[String, String] = Map(
    // full detection replay: same planted literal, same poly-31 word
    // fold, same Knuth pair mix — 1-based list indexing mirrors the
    // Spark side's 0-based subscripts pair-for-pair
    "llm_watermark_detect" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 50 = 0 THEN '$watermarkPlanted'
         |         ELSE text END AS text
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id,
         |    [w for w in string_split(text, ' ') if w != ''] AS toks
         |  FROM t),
         |ph AS (
         |  SELECT doc_id, list_transform(toks, w ->
         |    list_reduce(list_prepend(0::BIGINT,
         |      [ascii(c)::BIGINT for c in string_split(w, '')]),
         |      (h, c) -> (h * 31 + c) % 1000000007)) AS hs
         |  FROM tok WHERE len(toks) >= 33),
         |g AS (
         |  SELECT doc_id, CAST(len(hs) - 1 AS BIGINT) AS n_pairs,
         |    CAST(len([i for i in range(2, len(hs) + 1)
         |              if ((hs[i-1] * 2654435761 + hs[i]) % 4294967296)
         |                 % 2 = 0]) AS BIGINT) AS n_green
         |  FROM ph),
         |b AS (
         |  SELECT doc_id, n_green * 10000 // n_pairs AS green_bp FROM g)
         |SELECT green_bp >= 9000 AS flagged,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS docid_sum,
         |  CAST(min(green_bp) AS BIGINT) AS min_bp,
         |  CAST(max(green_bp) AS BIGINT) AS max_bp
         |FROM b GROUP BY 1""".stripMargin,
    "llm_quality_calibration" ->
      (clfFeatsCtes +
        """w1 AS MATERIALIZED (
          |  SELECT fid, CAST(sum(y * cnt) AS BIGINT) AS w
          |  FROM feats GROUP BY 1),
          |""".stripMargin
        + clfRoundCtes(1) + ",\n" + clfRoundCtes(2) + ",\n" + clfRoundCtes(3)
        + """,
          |mf AS MATERIALIZED (
          |  SELECT f.doc_id, f.y,
          |    CAST(sum(f.cnt * coalesce(w.w, 0)) AS BIGINT) AS margin
          |  FROM feats f LEFT JOIN w4 w USING (fid) GROUP BY 1, 2),
          |bs AS (
          |  SELECT min(margin) AS mn,
          |    greatest(1, (max(margin) - min(margin)) // 16 + 1) AS bw
          |  FROM mf),
          |binned AS (
          |  SELECT least(15, (m.margin - b.mn) // b.bw) AS bin,
          |    m.y, m.margin
          |  FROM mf m CROSS JOIN bs b)
          |SELECT CAST(bin AS BIGINT) AS bin,
          |  CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_keep,
          |  CAST(min(margin) AS BIGINT) AS margin_lo,
          |  CAST(max(margin) AS BIGINT) AS margin_hi,
          |  CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 10000 // count(*)
          |    AS BIGINT) AS keep_bp
          |FROM binned GROUP BY 1""".stripMargin),
    "llm_quality_classifier" ->
      (clfFeatsCtes +
        """w1 AS MATERIALIZED (
          |  SELECT fid, CAST(sum(y * cnt) AS BIGINT) AS w
          |  FROM feats GROUP BY 1),
          |""".stripMargin
        + clfRoundCtes(1) + ",\n" + clfRoundCtes(2) + ",\n" + clfRoundCtes(3)
        + """,
          |mf AS (
          |  SELECT f.doc_id, f.y,
          |    CAST(sum(f.cnt * coalesce(w.w, 0)) AS BIGINT) AS margin
          |  FROM feats f LEFT JOIN w4 w USING (fid) GROUP BY 1, 2)
          |SELECT doc_id, y AS label, margin, margin > 0 AS pred,
          |       (margin > 0) = (y = 1) AS agree
          |FROM mf""".stripMargin),
    // the same perceptron CTE chain feeding the per-language funnel:
    // rule gate (teacher label) vs model gate (final-margin sign)
    "llm_quality_gate" ->
      (clfFeatsCtes +
        """w1 AS MATERIALIZED (
          |  SELECT fid, CAST(sum(y * cnt) AS BIGINT) AS w
          |  FROM feats GROUP BY 1),
          |""".stripMargin
        + clfRoundCtes(1) + ",\n" + clfRoundCtes(2) + ",\n" + clfRoundCtes(3)
        + """,
          |mf AS MATERIALIZED (
          |  SELECT f.doc_id, f.y,
          |    CAST(sum(f.cnt * coalesce(w.w, 0)) AS BIGINT) AS margin
          |  FROM feats f LEFT JOIN w4 w USING (fid) GROUP BY 1, 2),
          |tag AS (
          |  SELECT d.lang, m.doc_id, m.y = 1 AS rule_keep,
          |         m.margin > 0 AS model_keep
          |  FROM mf m JOIN documents d USING (doc_id)),
          |fun AS (
          |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(sum(CASE WHEN rule_keep THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_rule_keep,
          |    CAST(sum(CASE WHEN model_keep THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_model_keep,
          |    CAST(sum(CASE WHEN rule_keep AND model_keep THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_both_keep,
          |    CAST(sum(CASE WHEN rule_keep AND NOT model_keep THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_rule_only,
          |    CAST(sum(CASE WHEN NOT rule_keep AND model_keep THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_model_only,
          |    min(CASE WHEN rule_keep != model_keep THEN doc_id END)
          |      AS example_disagree
          |  FROM tag GROUP BY 1)
          |SELECT lang, n_docs, n_rule_keep, n_model_keep, n_both_keep,
          |  n_rule_only, n_model_only, example_disagree,
          |  (n_rule_only + n_model_only) * 10000 // n_docs AS disagree_bp
          |FROM fun""".stripMargin),
    // uncertainty sampling: the same verbatim training chain to the
    // final margins, then bottom-5 |margin| per language
    "llm_uncertainty_sample" ->
      (clfFeatsCtes +
        """w1 AS MATERIALIZED (
          |  SELECT fid, CAST(sum(y * cnt) AS BIGINT) AS w
          |  FROM feats GROUP BY 1),
          |""".stripMargin
        + clfRoundCtes(1) + ",\n" + clfRoundCtes(2) + ",\n" + clfRoundCtes(3)
        + """,
          |mf AS MATERIALIZED (
          |  SELECT f.doc_id, f.y,
          |    CAST(sum(f.cnt * coalesce(w.w, 0)) AS BIGINT) AS margin
          |  FROM feats f LEFT JOIN w4 w USING (fid) GROUP BY 1, 2),
          |rk AS (
          |  SELECT d.lang, m.doc_id, m.margin, m.y,
          |    row_number() OVER (PARTITION BY d.lang
          |      ORDER BY abs(m.margin) ASC, m.doc_id ASC) AS rank
          |  FROM mf m JOIN documents d USING (doc_id))
          |SELECT lang, rank, doc_id, margin, y AS label,
          |  margin > 0 AS pred
          |FROM rk WHERE rank <= 5""".stripMargin),
    // hold-out: train ONLY on the masked-Knuth train buckets (b < 18,
    // llm_split_holdout's gate), score the val bucket (b = 18) under
    // the frozen w4 — the same round CTEs over the tfeats relation
    "llm_quality_holdout" ->
      (clfFeatsCtes +
        """splitb AS MATERIALIZED (
          |  SELECT doc_id,
          |    ((((doc_id & 65535) * 2654435761)
          |      + ((((doc_id >> 16) & 65535) * 2654435761) % 65536)
          |        * 65536) % 4294967296 * 20) // 4294967296 AS b
          |  FROM documents),
          |tfeats AS MATERIALIZED (
          |  SELECT f.doc_id, f.fid, f.cnt, f.y
          |  FROM feats f JOIN splitb s USING (doc_id) WHERE s.b < 18),
          |vfeats AS MATERIALIZED (
          |  SELECT f.doc_id, f.fid, f.cnt, f.y
          |  FROM feats f JOIN splitb s USING (doc_id) WHERE s.b = 18),
          |w1 AS MATERIALIZED (
          |  SELECT fid, CAST(sum(y * cnt) AS BIGINT) AS w
          |  FROM tfeats GROUP BY 1),
          |""".stripMargin
        + clfRoundCtes(1, "tfeats") + ",\n" + clfRoundCtes(2, "tfeats")
        + ",\n" + clfRoundCtes(3, "tfeats")
        + """,
          |vm AS (
          |  SELECT f.doc_id, f.y,
          |    CAST(sum(f.cnt * coalesce(w.w, 0)) AS BIGINT) AS margin
          |  FROM vfeats f LEFT JOIN w4 w USING (fid) GROUP BY 1, 2),
          |cm AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_val,
          |    CAST(sum(CASE WHEN margin > 0 AND y = 1 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS tp,
          |    CAST(sum(CASE WHEN margin > 0 AND y = -1 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS fp,
          |    CAST(sum(CASE WHEN margin <= 0 AND y = 1 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS fn,
          |    CAST(sum(CASE WHEN margin <= 0 AND y = -1 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS tn
          |  FROM vm)
          |SELECT n_val, tp, fp, fn, tn,
          |  CASE WHEN tp + fp = 0 THEN CAST(-1 AS BIGINT)
          |       ELSE tp * 10000 // (tp + fp) END AS precision_bp,
          |  CASE WHEN tp + fn = 0 THEN CAST(-1 AS BIGINT)
          |       ELSE tp * 10000 // (tp + fn) END AS recall_bp,
          |  (tp + tn) * 10000 // n_val AS agree_bp
          |FROM cm""".stripMargin),
    "llm_ngram_novelty" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    ((((doc_id & 65535) * 2654435761)
        |      + ((((doc_id >> 16) & 65535) * 2654435761) % 65536)
        |        * 65536) % 4294967296 * 20) // 4294967296 AS b,
        |    string_split(text, ' ') AS ws,
        |    len(string_split(text, ' ')) AS nw
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 4),
        |gr AS (
        |  SELECT doc_id, b,
        |    unnest(list_transform(range(0, nw - 3), i ->
        |      array_to_string(ws[i + 1 : i + 4], ' '))) AS gram
        |  FROM g),
        |train AS (SELECT DISTINCT gram FROM gr WHERE b < 18),
        |test AS (SELECT doc_id, gram FROM gr WHERE b = 19)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN tr.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  (CAST(sum(CASE WHEN tr.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    * 10000) // CAST(count(*) AS BIGINT) AS novelty_bp
        |FROM test t LEFT JOIN train tr ON t.gram = tr.gram
        |GROUP BY t.doc_id""".stripMargin,
    // same blocked knuth32-high-bit gate, slices, and sentinel
    // numbering; COALESCE('') because array_to_string over an empty
    // flatten is NULL in DuckDB where Spark's array_join gives ''
    "llm_span_corruption" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |    len(string_split(text, ' ')) AS nw,
        |    CAST(ceil(len(string_split(text, ' ')) / 8.0) AS INT) AS nb
        |  FROM documents),
        |f AS (
        |  SELECT *, list_transform(range(0, nb), b ->
        |    ((((doc_id * 64 + b) & 65535) * 2654435761
        |      + ((((doc_id * 64 + b) >> 16) & 65535) * 2654435761)
        |        % 65536 * 65536)
        |     % 4294967296) * 4 // 4294967296 = 0) AS flags
        |  FROM w),
        |c AS (
        |  SELECT *,
        |    array_to_string(flatten(list_transform(range(0, nb), b ->
        |      CASE WHEN flags[b + 1] THEN
        |        list_concat(
        |          ['<extra_id_' ||
        |            CAST(len(list_filter(flags[1:b], x -> x)) AS VARCHAR)
        |            || '>'],
        |          ws[b*8+4 : b*8+8])
        |      ELSE ws[b*8+1 : b*8+8] END)), ' ') AS corrupted,
        |    COALESCE(array_to_string(flatten(list_transform(range(0, nb),
        |      b -> CASE WHEN flags[b + 1] THEN
        |        list_concat(
        |          ['<extra_id_' ||
        |            CAST(len(list_filter(flags[1:b], x -> x)) AS VARCHAR)
        |            || '>'],
        |          ws[b*8+1 : b*8+3])
        |      ELSE [] END)), ' '), '') AS targets,
        |    len(flatten(list_transform(range(0, nb), b ->
        |      CASE WHEN flags[b + 1] THEN ws[b*8+1 : b*8+3]
        |      ELSE [] END))) AS n_masked
        |  FROM f)
        |SELECT doc_id, CAST(nw AS INT) AS n_words,
        |  CAST(len(list_filter(flags, x -> x)) AS INT) AS n_spans,
        |  CAST(n_masked AS INT) AS n_masked,
        |  CAST(n_masked * 10000 // nw AS BIGINT) AS mask_bp,
        |  corrupted, targets
        |FROM c""".stripMargin,
    // same role map, gaps-and-islands run merge, and per-turn ordered
    // string fold; arg_max replays Spark's (-turn_id, role) argmax
    "llm_chat_format" ->
      """WITH m AS (
        |  SELECT event_id, ts, user_id, event_type,
        |    CASE WHEN event_type IN ('click', 'signup', 'purchase')
        |         THEN 'user' ELSE 'assistant' END AS role
        |  FROM events),
        |r AS (
        |  SELECT *, CASE WHEN lag(role) OVER w IS NULL
        |      OR lag(role) OVER w <> role THEN 1 ELSE 0 END AS new_run
        |  FROM m WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |n AS (
        |  SELECT *, sum(new_run) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS turn_id
        |  FROM r),
        |t AS (
        |  SELECT user_id, turn_id, min(role) AS role,
        |    CAST(count(*) AS BIGINT) AS n_msgs,
        |    string_agg(event_type, ',' ORDER BY ts, event_id) AS content
        |  FROM n GROUP BY 1, 2),
        |a AS (
        |  SELECT user_id, CAST(sum(n_msgs) AS BIGINT) AS n_msgs,
        |    CAST(count(*) AS BIGINT) AS n_turns,
        |    min(CASE WHEN turn_id = 1 THEN role END) AS first_role,
        |    arg_max(role, turn_id) AS last_role,
        |    max(CASE WHEN turn_id = 1 THEN content END) AS first_turn
        |  FROM t GROUP BY 1)
        |SELECT user_id, n_msgs, n_turns, first_role, last_role, first_turn,
        |  (first_role = 'user' AND last_role = 'assistant'
        |    AND n_turns >= 2) AS usable
        |FROM a""".stripMargin,
    // synthesis half mirrors the op exactly (same page template), then
    // the extractor replays: block-close tags -> newline, tag strip,
    // per-line boilerplate gates, trim + rejoin
    "llm_html_extract" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |    CAST(ceil(len(string_split(text, ' ')) / 10.0) AS INT) AS nch
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id ||
        |    '</title></head><body><nav>Home | About | Contact</nav>' ||
        |    '<div class="cookie">This site uses cookie consent tracking. Accept?</div>' ||
        |    list_aggregate(list_transform(range(0, nch), i ->
        |      '<p>' || array_to_string(ws[i*10+1 : i*10+10], ' ') || '</p>'),
        |      'string_agg', '') ||
        |    '<footer>\u00a9 2024 Example Corp. All rights reserved.</footer></body></html>'
        |      AS html
        |  FROM w),
        |l AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(
        |      regexp_replace(html, '</(p|div|nav|footer|title)>', chr(10), 'g'),
        |      '<[^>]*>', '', 'g'), chr(10)) AS lines
        |  FROM h),
        |k AS (
        |  SELECT doc_id, lines,
        |    list_filter(lines, x -> length(trim(x)) > 0
        |      AND NOT contains(x, '\u00a9')
        |      AND NOT contains(lower(x), 'cookie')
        |      AND NOT contains(x, ' | ')
        |      AND len(string_split(trim(x), ' ')) >= 5) AS kept
        |  FROM l)
        |SELECT doc_id, CAST(len(lines) AS INT) AS n_lines_raw,
        |  CAST(len(kept) AS INT) AS n_kept,
        |  CAST(len(lines) - len(kept) AS INT) AS n_dropped,
        |  array_to_string(list_transform(kept, x -> trim(x)), ' ')
        |    AS clean_text,
        |  CAST(length(array_to_string(list_transform(kept, x -> trim(x)), ' '))
        |    AS INT) AS clean_nchars
        |FROM k""".stripMargin,
    // first-occurrence choice replayed with the identical window; the
    // COALESCEs ([] list + '' text: DuckDB's array_to_string([]) is NULL)
    // match Spark's empty collect_list for docs whose
    // every segment is a verbatim copy of an earlier doc
    "llm_dedup_line" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |    CAST(ceil(len(string_split(text, ' ')) / 8.0) AS INT) AS nch
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, i AS seg_idx,
        |    array_to_string(ws[i*8+1 : i*8+8], ' ') AS seg
        |  FROM w, LATERAL (SELECT unnest(range(0, nch)) AS i) r),
        |rk AS (
        |  SELECT *, row_number()
        |    OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rk
        |  FROM s),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        |    CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    COALESCE(list({'seg_idx': seg_idx, 'seg': seg})
        |      FILTER (WHERE rk = 1), []) AS keeps
        |  FROM rk GROUP BY doc_id)
        |, txt AS (
        |  SELECT doc_id, n_segs, n_kept,
        |    COALESCE(array_to_string(
        |      list_transform(list_sort(keeps), x -> x.seg), ' '), '')
        |      AS clean_text
        |  FROM agg)
        |SELECT doc_id, n_segs, n_kept, n_segs - n_kept AS n_dropped,
        |  clean_text, CAST(length(clean_text) AS INT) AS clean_nchars
        |FROM txt""".stripMargin,
    "llm_epoch_plan" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(list_filter(string_split(text, ' '),
        |      x -> x != ''))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |q AS (
        |  SELECT *, CAST(round(sqrt(CAST(tokens AS DOUBLE)) * 1e6, 0)
        |    AS BIGINT) AS q
        |  FROM per),
        |tot AS (
        |  SELECT CAST(sum(q) AS BIGINT) AS qsum,
        |         CAST(sum(tokens) AS BIGINT) AS ctot FROM q),
        |p AS (
        |  SELECT source, n_docs, tokens,
        |    q * 10000 // qsum AS weight_bp,
        |    ctot * 2 AS budget,
        |    (ctot * 2) * (q * 10000 // qsum) // 10000 AS alloc_tokens
        |  FROM q, tot),
        |f AS (
        |  SELECT *, least(alloc_tokens, tokens * 2) AS final_tokens,
        |    alloc_tokens > tokens * 2 AS capped
        |  FROM p),
        |u AS (SELECT CAST(sum(final_tokens) AS BIGINT) AS used FROM f)
        |SELECT source, n_docs, tokens, weight_bp, alloc_tokens,
        |  final_tokens, final_tokens * 10000 // tokens AS epochs_bp,
        |  capped, used * 10000 // budget AS util_bp
        |FROM f, u""".stripMargin,
    // replays the v2 derivation + raw-text diff (vs the engine's digest
    // compare — the dedup_near collision precedent), split-form knuth
    // gate, and exact-integer verdict columns
    "llm_lineage_audit" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 2 THEN text || ' rev2' ELSE text END
        |      AS text
        |  FROM v1 WHERE doc_id % 20 != 3
        |  UNION ALL
        |  SELECT 3000000000 + i AS doc_id, 'synthetic doc v2' AS text
        |  FROM range(1, 6) r(i)),
        |d AS (
        |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, b.text AS text2,
        |    CASE WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN a.text = b.text THEN 'unchanged'
        |         ELSE 'modified' END AS status
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id),
        |sp AS (
        |  SELECT *, CASE WHEN bkt < 18 THEN 'train'
        |                 WHEN bkt = 18 THEN 'val'
        |                 ELSE 'test' END AS split
        |  FROM (SELECT *, (h * 20) // 4294967296 AS bkt FROM (
        |    SELECT *, (((doc_id & 65535) * 2654435761)
        |               + ((((doc_id >> 16) & 65535) * 2654435761) % 65536)
        |                 * 65536) % 4294967296 AS h FROM d))),
        |per AS (
        |  SELECT split,
        |    CAST(count(CASE WHEN status != 'removed' THEN 1 END) AS BIGINT)
        |      AS n_docs,
        |    CAST(sum(CASE WHEN status != 'removed' THEN doc_id END)
        |      AS BIGINT) AS id_sum,
        |    CAST(sum(CASE WHEN status != 'removed' THEN length(text2) END)
        |      AS BIGINT) AS char_mass,
        |    CAST(count(CASE WHEN status = 'added' THEN 1 END) AS BIGINT)
        |      AS n_added,
        |    CAST(count(CASE WHEN status = 'removed' THEN 1 END) AS BIGINT)
        |      AS n_removed,
        |    CAST(count(CASE WHEN status = 'modified' THEN 1 END) AS BIGINT)
        |      AS n_modified,
        |    CAST(count(CASE WHEN status = 'unchanged' THEN 1 END) AS BIGINT)
        |      AS n_unchanged
        |  FROM sp GROUP BY split),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot FROM per),
        |sel AS (
        |  SELECT 'v2' AS version, p.split, p.n_docs, p.id_sum, p.char_mass,
        |    p.n_added, p.n_removed, p.n_modified, p.n_unchanged,
        |    CAST((p.n_docs * 10000) // t.tot AS BIGINT) AS split_bp,
        |    CAST(((p.n_added + p.n_removed + p.n_modified) * 10000)
        |         // nullif(p.n_removed + p.n_modified + p.n_unchanged, 0)
        |      AS BIGINT) AS churn_bp
        |  FROM per p, t)
        |SELECT *, (churn_bp IS NOT NULL AND churn_bp < 2000 AND n_docs > 0)
        |         AS releasable
        |FROM sel""".stripMargin,
    "llm_shard_layout" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CAST(((((doc_id & 65535) * 2654435761)
        |           + ((((doc_id >> 16) & 65535) * 2654435761) % 65536)
        |             * 65536) % 4294967296)
        |         // 268435456 AS INTEGER) AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |per AS (
        |  SELECT shard, count(*) AS n_docs,
        |         CAST(sum(nt) AS BIGINT) AS tok_mass,
        |         min(doc_id) AS min_id, max(doc_id) AS max_id,
        |         CAST(sum(doc_id) AS BIGINT) AS id_sum
        |  FROM sh GROUP BY shard),
        |t AS (SELECT CAST(sum(tok_mass) AS BIGINT) AS tot FROM per)
        |SELECT p.shard, p.n_docs, p.tok_mass, p.min_id, p.max_id, p.id_sum,
        |       CAST((p.tok_mass * 16 * 10000) // t.tot AS BIGINT) AS fill_bp
        |FROM per p, t""".stripMargin,
    "llm_sample_importance" ->
      """WITH docs AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS nt
        |  FROM documents),
        |ps AS (
        |  SELECT source, count(*) AS n_docs, sum(nt) AS n_tokens
        |  FROM docs GROUP BY source),
        |t AS (SELECT sum(n_tokens) AS total_tokens, count(*) AS n_sources
        |      FROM ps),
        |w AS (
        |  SELECT source, n_docs,
        |    CAST(((t.total_tokens // t.n_sources) * 10000) // n_tokens
        |         AS BIGINT) AS weight_fp
        |  FROM ps, t),
        |em AS (
        |  SELECT d.source, d.doc_id,
        |    unnest(range(1, CAST(
        |      weight_fp // 10000
        |      + CASE WHEN ((((d.doc_id & 65535) * 2654435761)
        |                    + ((((d.doc_id >> 16) & 65535) * 2654435761)
        |                       % 65536) * 65536) % 4294967296) * 10000
        |                  < (weight_fp % 10000) * 4294967296
        |             THEN 1 ELSE 0 END AS BIGINT) + 1)) AS copy
        |  FROM docs d JOIN w USING (source)),
        |agg AS (
        |  SELECT source, count(DISTINCT doc_id) AS n_docs_emitted,
        |    count(*) AS n_emitted,
        |    CAST(sum(doc_id * copy) AS BIGINT) AS checksum
        |  FROM em GROUP BY source)
        |SELECT w.source, w.n_docs, w.weight_fp,
        |  coalesce(agg.n_docs_emitted, 0) AS n_docs_emitted,
        |  coalesce(agg.n_emitted, 0) AS n_emitted,
        |  CAST((coalesce(agg.n_emitted, 0) * 10000) // w.n_docs AS BIGINT)
        |    AS realized_fp,
        |  coalesce(agg.checksum, 0) AS checksum
        |FROM w LEFT JOIN agg USING (source)""".stripMargin,
    "llm_dataset_diff" ->
      """WITH v1 AS (SELECT doc_id, text, lang FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 2 THEN text || ' rev2' ELSE text END
        |      AS text,
        |    lang
        |  FROM v1 WHERE doc_id % 20 != 3
        |  UNION ALL
        |  SELECT 3000000000 + i, 'synthetic doc v2', 'en'
        |  FROM range(1, 6) t(i))
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  coalesce(a.lang, b.lang) AS lang,
        |  CASE WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN a.text = b.text THEN 'unchanged'
        |       ELSE 'modified' END AS status
        |FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id""".stripMargin,
    // the macro chains the already-hash-matched stage oracles as CTEs
    "curation_e2e" ->
      s"""WITH q AS (
         |$qualityFilterSql
         |),
         |kept AS (
         |  SELECT d.doc_id, d.lang, d.text FROM documents d
         |  JOIN q ON q.doc_id = d.doc_id WHERE q.keep),
         |ex AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text),
         |pairs AS (
         |${LlmOps.oracle("llm_dedup_near")}
         |),
         |dropset AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
         |near AS (SELECT doc_id FROM ex
         |         WHERE doc_id NOT IN (SELECT doc_id FROM dropset)),
         |c AS (SELECT d.lang, count(*) AS cnt FROM near n
         |      JOIN documents d ON d.doc_id = n.doc_id GROUP BY d.lang),
         |samp AS (
         |  SELECT d.lang, len(string_split(d.text, ' ')) AS nt
         |  FROM near n
         |  JOIN documents d ON d.doc_id = n.doc_id
         |  JOIN c ON c.lang = d.lang
         |  WHERE (((d.doc_id & 65535) * 2654435761)
         |         + ((((d.doc_id >> 16) & 65535) * 2654435761) % 65536)
         |           * 65536) % 4294967296
         |        < floor(least(CAST(1.0 AS DOUBLE), CAST($Cap.0 AS DOUBLE) / c.cnt)
         |                * 4294967296.0)::BIGINT),
         |sagg AS (
         |  SELECT lang, count(*) AS n_sampled,
         |    CAST(sum(CASE WHEN nt <= $W THEN 1
         |                  ELSE ceil((nt - $W) / $S.0)::INT + 1 END) AS BIGINT)
         |      AS n_chunks
         |  FROM samp GROUP BY lang),
         |base AS (
         |  SELECT d.lang, count(*) AS n_docs,
         |    count(*) FILTER (WHERE q.keep) AS n_quality,
         |    count(*) FILTER (WHERE d.doc_id IN (SELECT doc_id FROM ex))
         |      AS n_exact_dedup,
         |    count(*) FILTER (WHERE d.doc_id IN (SELECT doc_id FROM near))
         |      AS n_near_dedup
         |  FROM documents d JOIN q ON q.doc_id = d.doc_id
         |  GROUP BY d.lang)
         |SELECT b.lang, b.n_docs, b.n_quality, b.n_exact_dedup,
         |       b.n_near_dedup,
         |       coalesce(s.n_sampled, 0) AS n_sampled,
         |       coalesce(s.n_chunks, 0) AS n_chunks
         |FROM base b LEFT JOIN sagg s ON b.lang = s.lang""".stripMargin,
    // transitive closure via recursive CTE over the SAME pair set the
    // LSH path emits (llm_dedup_near's oracle, already hash-matched)
    "llm_dedup_cluster" ->
      s"""WITH RECURSIVE pairs AS (
         |${LlmOps.oracle("llm_dedup_near")}
         |),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id,
         |       least(a, min(b)) AS cluster_id,
         |       least(a, min(b)) = a AS is_survivor
         |FROM reach GROUP BY a""".stripMargin,
    "llm_dedup_phash_cluster" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |${LlmExtended.oracle("llm_dedup_phash")}
         |),
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id,
         |       least(a, min(b)) AS cluster_id,
         |       least(a, min(b)) = a AS is_survivor
         |FROM reach GROUP BY a""".stripMargin,
    "llm_chunk" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |st AS (
         |  SELECT doc_id, toks,
         |    unnest([j * $S for j in range(0,
         |      CASE WHEN len(toks) <= $W THEN 1
         |           ELSE ceil((len(toks) - $W) / $S.0)::INT + 1 END)]) AS start
         |  FROM t)
         |SELECT doc_id, start,
         |  len(list_slice(toks, start + 1, start + $W)) AS n_chunk_tokens,
         |  array_to_string(list_slice(toks, start + 1, start + $W), ' ')
         |    AS chunk_text
         |FROM st""".stripMargin,
    "llm_pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com or +1-555-'
        |      || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(txt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(txt, '\+\d-\d{3}-\d{4}')) AS n_phones,
        |  regexp_replace(
        |    regexp_replace(txt,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+\d-\d{3}-\d{4}', '<PHONE>', 'g') AS scrubbed
        |FROM p""".stripMargin,
    "llm_quality_filter" -> qualityFilterSql,
    // the three gate oracles replayed verbatim as derived tables, then
    // the same flag fold — composition must equal the composed parts
    "llm_gate_ablation" ->
      (s"""WITH qf AS (SELECT * FROM ($qualityFilterSql)),
        |rf AS (SELECT * FROM (${LlmScale.oracle("llm_repetition_filter")})),
        |sf AS (SELECT * FROM (${Retrieval.oracle("llm_safety_filter")})),
        |f AS (
        |  SELECT coalesce(qf.keep, false) AS q,
        |         coalesce(rf.keep, false) AS r,
        |         coalesce(sf.action != 'drop', false) AS s
        |  FROM documents d
        |  LEFT JOIN qf ON qf.doc_id = d.doc_id
        |  LEFT JOIN rf ON rf.doc_id = d.doc_id
        |  LEFT JOIN sf ON sf.doc_id = d.doc_id),
        |c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(*) FILTER (WHERE NOT q) AS BIGINT) AS dq,
        |    CAST(count(*) FILTER (WHERE NOT r) AS BIGINT) AS dr,
        |    CAST(count(*) FILTER (WHERE NOT s) AS BIGINT) AS ds,
        |    CAST(count(*) FILTER (WHERE NOT q AND r AND s) AS BIGINT) AS uq,
        |    CAST(count(*) FILTER (WHERE q AND NOT r AND s) AS BIGINT) AS ur,
        |    CAST(count(*) FILTER (WHERE q AND r AND NOT s) AS BIGINT) AS us,
        |    CAST(count(*) FILTER (WHERE NOT (q AND r AND s)) AS BIGINT) AS dany,
        |    CAST(count(*) FILTER (WHERE (NOT q)::INT + (NOT r)::INT
        |      + (NOT s)::INT = 1) AS BIGINT) AS uany,
        |    CAST(count(*) FILTER (WHERE q AND r AND s) AS BIGINT) AS pass
        |  FROM f)
        |SELECT 'quality' AS gate, dq AS n_drop, uq AS n_drop_unique,
        |       n_docs, pass AS n_pass_all FROM c
        |UNION ALL
        |SELECT 'repetition', dr, ur, n_docs, pass FROM c
        |UNION ALL
        |SELECT 'safety', ds, us, n_docs, pass FROM c
        |UNION ALL
        |SELECT 'any', dany, uany, n_docs, pass FROM c""".stripMargin),
    // same gate hash, 16-way top-bit buckets, exact-integer deviation
    "dq_hash_uniformity" ->
      """WITH h AS (
        |  SELECT lang,
        |    ((((doc_id & 65535) * 2654435761)
        |      + ((((doc_id >> 16) & 65535) * 2654435761) % 65536)
        |        * 65536) % 4294967296) // 268435456 AS bkt
        |  FROM documents),
        |b AS (
        |  SELECT lang, bkt, CAST(count(*) AS BIGINT) AS c
        |  FROM h GROUP BY lang, bkt),
        |g AS (
        |  SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_buckets,
        |    CAST(min(c) AS BIGINT) AS c_min,
        |    CAST(max(c) AS BIGINT) AS c_max
        |  FROM b GROUP BY lang)
        |SELECT lang, n_docs, n_buckets, c_min, c_max,
        |  CAST(greatest(c_max * 16 - n_docs,
        |    n_docs - (CASE WHEN n_buckets = 16 THEN c_min ELSE 0 END) * 16)
        |    * 10000 // n_docs AS BIGINT) AS dev_bp
        |FROM g""".stripMargin,
    // same split-multiply Knuth gate (overflow-safe on both engines)
    "llm_sample_reservoir" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    (((doc_id & 65535) * 2654435761)
        |     + ((((doc_id >> 16) & 65535) * 2654435761) % 65536)
        |       * 65536) % 4294967296 AS h
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, h,
        |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
        |  FROM h)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, h
        |FROM r WHERE rk <= 20""".stripMargin,
    "llm_sample_stratified" ->
      s"""WITH c AS (
        |  SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        |g AS (
        |  SELECT d.lang, d.doc_id, c.cnt,
        |    least(CAST(1.0 AS DOUBLE), CAST($Cap.0 AS DOUBLE) / c.cnt) AS rate,
        |    (((d.doc_id & 65535) * 2654435761)
        |     + ((((d.doc_id >> 16) & 65535) * 2654435761) % 65536)
        |       * 65536) % 4294967296 AS h
        |  FROM documents d JOIN c ON d.lang = c.lang)
        |SELECT lang, max(cnt) AS n_total, count(*) AS n_sampled,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM g
        |WHERE h < floor(rate * 4294967296.0)::BIGINT
        |GROUP BY lang""".stripMargin,
    "dq_embedding_health" ->
      """WITH per AS (
        |  SELECT len(embedding) AS dim,
        |    list_reduce(list_prepend(0::BIGINT,
        |      [CAST(round(x::DOUBLE * 1000) AS BIGINT)
        |       * CAST(round(x::DOUBLE * 1000) AS BIGINT)
        |       for x in embedding]),
        |      (a, b) -> a + b) AS norm2,
        |    CAST(len(list_filter(embedding, x -> isnan(x::DOUBLE)))
        |      AS BIGINT) AS n_nan,
        |    CAST(len(list_filter(embedding,
        |      x -> (NOT isnan(x::DOUBLE))
        |        AND CAST(round(x::DOUBLE * 1000) AS BIGINT) = 0))
        |      AS BIGINT) AS n_zero_comp
        |  FROM embeddings)
        |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(count(DISTINCT dim) AS BIGINT) AS n_dims_distinct,
        |  min(dim) AS dim_min, max(dim) AS dim_max,
        |  CAST(sum(n_nan) AS BIGINT) AS nan_components,
        |  CAST(sum(n_zero_comp) AS BIGINT) AS zero_components,
        |  CAST(sum(CASE WHEN norm2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero_vecs,
        |  CAST(sum(CASE WHEN norm2 < 10000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_tiny_vecs,
        |  CAST(min(norm2) AS BIGINT) AS norm2_min,
        |  CAST(max(norm2) AS BIGINT) AS norm2_max,
        |  CAST(sum(norm2) AS BIGINT) // count(*) AS norm2_mean
        |FROM per""".stripMargin,
    // the pair CTE is the exhaustive all-pairs near-dup oracle (shared
    // with llm_dedup_near); the split gate is llm_split_holdout's
    "llm_cross_split_leakage" ->
      (s"""WITH pairs AS MATERIALIZED (
         |${LlmOps.oracleNearPairs}
         |),
         |""".stripMargin +
       """sp AS (
         |  SELECT doc_id,
         |    CASE WHEN b < 18 THEN 'train'
         |         WHEN b = 18 THEN 'val' ELSE 'test' END AS split
         |  FROM (
         |    SELECT doc_id,
         |      (((((doc_id & 65535) * 2654435761)
         |         + ((((doc_id >> 16) & 65535) * 2654435761) % 65536)
         |           * 65536) % 4294967296) * 20) // 4294967296 AS b
         |    FROM documents)),
         |tagged AS (
         |  SELECT p.*, a.split AS split_a, b.split AS split_b
         |  FROM pairs p
         |  JOIN sp a ON p.doc_a = a.doc_id
         |  JOIN sp b ON p.doc_b = b.doc_id),
         |tot AS (SELECT count(*) AS n_total FROM tagged)
         |SELECT split_a, split_b, split_a != split_b AS is_leakage,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  max(jaccard) AS max_jaccard,
         |  CAST(min(doc_a) AS BIGINT) AS example_a,
         |  (CAST(count(*) AS BIGINT) * 10000) // (SELECT n_total FROM tot)
         |    AS share_bp
         |FROM tagged GROUP BY 1, 2""".stripMargin),
    "llm_split_holdout" ->
      """WITH g AS (
        |  SELECT doc_id, n_chars,
        |    ((((doc_id & 65535) * 2654435761)
        |      + ((((doc_id >> 16) & 65535) * 2654435761) % 65536)
        |        * 65536) % 4294967296) AS h
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_chars, (h * 20) // 4294967296 AS b FROM g)
        |SELECT CASE WHEN b < 18 THEN 'train'
        |            WHEN b = 18 THEN 'val' ELSE 'test' END AS split,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       CAST(sum(n_chars) AS BIGINT) AS char_mass
        |FROM b GROUP BY 1""".stripMargin,
    // fixed-point centroids with a nonneg shift (div ≡ //), exact BIGINT
    // squared-delta sum, IEEE sqrt; dims enumerated 0..63 (fixture dim
    // is 64 on every row — FIXTURES.md)
    "llm_embedding_drift" ->
      """WITH q AS (
        |  SELECT label, d.d AS dim,
        |    CAST(round(embedding[d.d + 1]::DOUBLE * 10000) AS BIGINT)
        |      + 100000 AS qx,
        |    vec_id % 2 = 0 AS ref
        |  FROM embeddings, (SELECT unnest(range(64)) AS d) d),
        |cent AS (
        |  SELECT label, ref, dim, CAST(count(*) AS BIGINT) AS n,
        |         (CAST(sum(qx) AS BIGINT) // CAST(count(*) AS BIGINT))
        |           - 100000 AS c
        |  FROM q GROUP BY 1, 2, 3),
        |sides AS (
        |  SELECT label, dim,
        |         max(CASE WHEN ref THEN c END) AS c_ref,
        |         max(CASE WHEN NOT ref THEN c END) AS c_cur,
        |         max(CASE WHEN ref THEN n END) AS n_ref,
        |         max(CASE WHEN NOT ref THEN n END) AS n_cur
        |  FROM cent GROUP BY 1, 2)
        |SELECT label, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
        |       CAST(sum((c_ref - c_cur) * (c_ref - c_cur)) AS BIGINT)
        |         AS shift_fp,
        |       round(sqrt(CAST(sum((c_ref - c_cur) * (c_ref - c_cur))
        |         AS BIGINT)::DOUBLE) / 10000, 6) AS l2_shift
        |FROM sides GROUP BY 1""".stripMargin,
    "llm_embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    list_min(embedding)::DOUBLE AS mn,
        |    list_max(embedding)::DOUBLE AS mx
        |  FROM embeddings)
        |SELECT vec_id,
        |  0.0 + round(mn, 4) AS v_min,
        |  0.0 + round(mx, 4) AS v_max,
        |  len(embedding) AS n_dims,
        |  CASE WHEN mx > mn THEN
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(embedding,
        |        x -> round((x::DOUBLE - mn) * 255.0 / (mx - mn))::BIGINT - 128)),
        |      (a, q) -> a + q)
        |  ELSE 0 END AS q_checksum
        |FROM e""".stripMargin
  )
}
