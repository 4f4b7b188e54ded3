package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus retrieval + curriculum operators (round 9): BM25 ranking,
  * tokenizer-vocabulary coverage, winnowing near-dup fingerprints, and
  * curriculum staging — the "which documents do we retrieve / train on
  * first / index under which vocabulary" quartet a training-data
  * pipeline runs beside the dedup/quality family.
  *
  * Numeric discipline (SURVEY §5.4): the only doubles are per-row
  * scalars computed from exact integer inputs (ln / division), and any
  * CROSS-ROW reduction over them is quantized to fixed-point BIGINT
  * first (the llm_perplexity_proxy pattern) — floats decide nothing
  * across rows. Every ranking key is a (score, id) total order.
  */
object Retrieval extends OpModule {

  private val tokens = (s: SparkSession, d: String) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")

  /** BM25 (Okapi) document ranking for a deterministic query-term set —
    * the lexical-retrieval scorer behind every "find training docs
    * matching this probe set" query (and the re-rank stage the ANN
    * family's embedding recall pairs with). Query terms are derived
    * from the corpus itself (top-5 informative tokens: document
    * frequency ≤ N/4, ranked by df desc then token — a total order),
    * so the op is self-contained and the oracle replays the selection.
    *
    * Per (doc, term): idf = ln(1 + (N − df + ½)/(df + ½)) (the
    * Robertson–Sparck Jones form, always positive), tf normalized by
    * k1 = 1.2, b = 0.75 with exact-rational length norm dl·N/total
    * (avgdl never materializes as a rounded double). Each term's
    * contribution quantizes to round(c·10⁶) BIGINT; the per-doc score
    * is an EXACT integer sum over ≤ 5 terms; top-20 by
    * (score_fp desc, doc_id).
    *
    * Scale shape: one token-explode aggregate for df (the "index
    * build", shared shape with llm_tfidf), the 5-term query table
    * broadcasts, tf is one (doc, term) hash aggregate over the
    * semi-joined explode — the corpus shuffles once, keyed (doc, term).
    * Both rankings (the 5-term query election over the vocabulary and
    * the final top-20 over the per-doc scores) are orderBy().limit(k)
    * — TakeOrderedAndProject keeps a k-row heap PER PARTITION and
    * merges k·partitions rows on one task, vs a keyless row_number
    * window that sorts the whole input through one task (VERDICT r10's
    * only scale finding; PlanLintSpec now gates the class). `rank`
    * derives from a window over the ALREADY-LIMITED k rows. */
  def bm25(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(s, d)
    val docs = Tables.documents(s, d)
    val nDocs = docs.agg(count(lit(1)).as("n_docs")) // 1 row → broadcast
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val total = toks.agg(count(lit(1)).as("total")) // 1 row → broadcast
    val dfreq = toks.select(col("tok"), col("doc_id")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val qterms = dfreq.crossJoin(broadcast(nDocs))
      .where(col("df") * 4 <= col("n_docs"))
      .select(col("tok"), col("df"))
      .orderBy(col("df").desc, col("tok")).limit(5)
    val tf = toks.join(broadcast(qterms.select(col("tok"))), "tok")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val scored = tf
      .join(broadcast(qterms), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(total))
      // identical literal-for-literal formula in the oracle: every
      // operand is exact (BIGINT or an exactly-representable literal),
      // so both engines evaluate the same IEEE doubles
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))))
      .withColumn("denom",
        col("tf") + lit(1.2) * (lit(0.25)
          + lit(0.75) * (col("dl") * col("n_docs")).cast("double")
            / col("total")))
      .withColumn("c_fp",
        round(col("idf") * col("tf") * lit(2.2) / col("denom") * 1e6, 0)
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("c_fp")).as("score_fp"))
    // distributed top-20 (TakeOrderedAndProject); the rank window runs
    // over the 20-row result only — bounded by the limit beneath it
    val top = scored.orderBy(col("score_fp").desc, col("doc_id")).limit(20)
    val w = Window.orderBy(col("score_fp").desc, col("doc_id"))
    top
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"), col("n_terms"), col("score_fp"),
        round(col("score_fp") / 1e6, 6).as("score"))
  }

  /** Tokenizer-vocabulary coverage: fix the vocabulary to the top-500
    * tokens by corpus frequency (count desc, token — total order) and
    * report, per language, the out-of-vocabulary token mass — the
    * accept/reject dashboard for a vocab size choice (high OOV in a
    * language means its text will fragment into bytes/unks). All
    * integers: oov_bp = n_oov·10⁴ div n_tokens.
    *
    * Scale shape: one (lang, tok) hash aggregate over the exploded
    * corpus — the corpus shuffles ONCE, keyed by (lang, tok), never by
    * lang alone (no low-cardinality collapse); the global token ranking
    * runs over the aggregated vocabulary (|V| rows, not corpus rows)
    * and the 500-row vocab broadcasts back. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val lt = tokens(s, d)
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
    // top-500 via orderBy().limit() (TakeOrderedAndProject): |V| is
    // web-scale large, so even the aggregated-domain ranking avoids the
    // single-task keyless-window sort (VERDICT r10 watch item)
    val vocab = lt.groupBy(col("tok")).agg(sum(col("cnt")).as("gcnt"))
      .orderBy(col("gcnt").desc, col("tok")).limit(500)
      .select(col("tok"))
    lt.join(broadcast(vocab.withColumn("in_vocab", lit(true))),
        Seq("tok"), "left")
      .groupBy(col("lang"))
      .agg(
        sum(col("cnt")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("cnt")).otherwise(0L))
          .as("n_oov"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
          .as("n_oov_types"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 10000 div n_tokens").as("oov_bp"),
        col("n_oov_types"))
  }

  /** Winnowing fingerprint near-dup candidates (the MOSS algorithm):
    * per document, hash every word 3-shingle POSITIONALLY
    * (poly_shingles_seq — the order-preserving twin of the dedup
    * family's poly_shingles), take the minimum over each window of
    * w = 4 consecutive shingle hashes, and keep the distinct window
    * minima as the document's fingerprints. Guarantee: any shared
    * substring of ≥ w + 2 words contributes at least one shared
    * fingerprint, at ~1/w the postings volume of full shingle
    * inversion — the storage/recall dial full-ngram dedup lacks.
    * Documents shorter than one window keep their single minimum.
    *
    * Candidate pairs share ≥ 2 fingerprints; postings are capped at
    * df ≤ 50 (the stopgram guard: a fingerprint half the corpus shares
    * is boilerplate, and pairs it would witness are re-witnessed by
    * their rarer neighbors); top-25 by (n_shared desc, a, b).
    *
    * Scale shape: fingerprints are per-row map-side work; the postings
    * aggregate shuffles (fp, doc) once; the cap bounds every posting
    * list, so the pair join's fan-out is Σ min(df,50)² over fps —
    * never all-pairs (the LSH-band discipline, VERDICT r8). */
  def dedupWinnow(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val fps = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 3)
      .withColumn("hs", expr("poly_shingles_seq(toks)"))
      .withColumn("ws",
        when(size(col("hs")) >= 4,
          expr("transform(sequence(0, size(hs) - 4)," +
            " i -> array_min(slice(hs, i + 1, 4)))"))
          .otherwise(array(expr("array_min(hs)"))))
      .select(col("doc_id"), explode(array_distinct(col("ws"))).as("fp"))
    val post = fps.groupBy(col("fp")).agg(count(lit(1)).as("pdf"))
      .where(col("pdf") >= 2 && col("pdf") <= 50)
      .select(col("fp"))
    val bounded = fps.join(post, "fp")
    val pairs = bounded.as("a")
      .join(bounded.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2)
    // distributed top-25 (TakeOrderedAndProject, not a keyless window:
    // the surviving pair set grows with the corpus even under the df
    // cap — VERDICT r10); rank windows over the 25-row result only
    val top = pairs.orderBy(col("n_shared").desc, col("a"), col("b"))
      .limit(25)
    val w = Window.orderBy(col("n_shared").desc, col("a"), col("b"))
    top.withColumn("rank", row_number().over(w))
      .select(col("rank"), col("a"), col("b"), col("n_shared"))
  }

  /** Curriculum staging: order documents by a rarity-based difficulty
    * proxy (occurrence share of rare tokens — df·20 ≤ N — in basis
    * points) and cut the corpus into 5 curriculum stages with EXACT
    * ntile semantics, reported as a per-stage audit (count, id
    * checksum, difficulty range, token mass). Easy-to-hard data
    * ordering is the standard curriculum / annealed-mixture input.
    *
    * The stage assignment replays ntile(5) ORDER BY (rare_bp, doc_id)
    * WITHOUT a keyless window (the #1 window scale bug — a global
    * ntile pulls the corpus through one task): rare_bp has a tiny
    * domain (0..10⁴), so the global position of a row is its
    * bp-bucket's cumulative offset (a broadcast-size histogram) plus
    * its row_number within the bucket — one shuffle keyed by rare_bp,
    * then pure per-row arithmetic replicates ntile's first-(n mod k)-
    * groups-get-ceil(n/k) split exactly (oracle: plain ntile). */
  def curriculum(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(s, d)
    val docs = Tables.documents(s, d)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfreq = toks.select(col("tok"), col("doc_id")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val rare = dfreq.crossJoin(broadcast(nDocs))
      .where(col("df") * 20 <= col("n_docs")).select(col("tok"))
    val perDoc = toks
      .join(broadcast(rare.withColumn("is_rare", lit(true))),
        Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("is_rare"), 1L).otherwise(0L)).as("n_rare"))
      .withColumn("rare_bp", expr("n_rare * 10000 div n_tok"))
    // tiny bp histogram → exclusive cumulative offsets (broadcast back)
    val hist = perDoc.groupBy(col("rare_bp")).agg(count(lit(1)).as("bn"))
    val hw = Window.orderBy(col("rare_bp"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hist
      .withColumn("off", coalesce(sum(col("bn")).over(hw), lit(0L)))
      .select(col("rare_bp"), col("off"))
    val rw = Window.partitionBy(col("rare_bp")).orderBy(col("doc_id"))
    perDoc
      .withColumn("rn", row_number().over(rw))
      .join(broadcast(offsets), "rare_bp")
      .crossJoin(broadcast(perDoc.agg(count(lit(1)).as("n"))))
      .withColumn("pos", col("off") + col("rn") - 1) // 0-based global position
      // ntile(k): first (n mod k) stages take ceil(n/k) = q+1 rows
      .withColumn("stage",
        expr("""CASE WHEN pos < (n % 5) * (n div 5 + 1)
               |  THEN pos div (n div 5 + 1) + 1
               |  ELSE (pos - (n % 5) * (n div 5 + 1)) div (n div 5)
               |       + (n % 5) + 1 END""".stripMargin).cast("int"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        min(col("rare_bp")).as("min_bp"),
        max(col("rare_bp")).as("max_bp"),
        sum(col("n_tok")).as("token_mass"))
  }

  /** Blocklist-based safety screening: per document, the occurrence
    * rate of flagged lexicon terms in basis points, tiered into
    * keep / flag / drop actions — the wordlist prefilter every curation
    * pipeline runs before (much costlier) model-based safety scoring.
    * The lexicon is a FIXED literal list (like llm_pii_scrub's
    * patterns); on the synthetic corpus only "slow" occurs, which
    * exercises all three action tiers. Zero-shuffle per-row HOFs (the
    * llm_repetition_filter shape): each doc filters its own token
    * array; thresholds are exact integer basis points. */
  def safetyFilter(s: SparkSession, d: String): DataFrame = {
    val lexicon = "array('slow','crash','leak','unsafe','broken')"
    Tables.documents(s, d)
      .withColumn("toks",
        expr("filter(split(text, ' '), t -> t != '')"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"), col("lang"),
        size(col("toks")).cast("long").as("n_tok"),
        size(expr(s"filter(toks, t -> array_contains($lexicon, t))"))
          .cast("long").as("n_flagged"))
      .withColumn("rate_bp", expr("n_flagged * 10000 div n_tok"))
      .withColumn("action",
        when(col("rate_bp") >= 400, "drop")
          .when(col("rate_bp") >= 150, "flag")
          .otherwise("keep"))
  }

  /** Hard-negative mining for contrastive / embedding training: for
    * each anchor vector (the vec_id < 10 query set the similarity
    * family shares), the top-5 most-similar vectors of a DIFFERENT
    * label — maximally confusable non-matches, the negatives that
    * actually move a contrastive loss (random negatives are too easy).
    * Same-label candidates are excluded BEFORE scoring (they are
    * positives, not negatives), so the op is llm_similarity_topk with
    * the label-disagreement gate pushed into the scan.
    *
    * Scale shape: the 10-anchor query table broadcasts; candidates
    * stream through one codegen'd cosine per (anchor, candidate) with
    * the label filter applied in the same stage (no shuffle before the
    * per-anchor top-5 window over ≤ N·10 scored rows — and the window
    * input is pre-reduced by TopKPerGroup-style partial sort at scale
    * via the rank filter). At 100 TB the brute pass upgrades to the
    * IVF-bucketed candidate generation (llm_ann_ivf) with the label
    * gate unchanged — the mining semantics stay identical. */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, d)
    val anchors = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qe"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid"))
    emb.select(col("vec_id").as("cid"), col("label").as("clabel"),
        col("embedding").as("ce"))
      .crossJoin(broadcast(anchors))
      .where(col("clabel") =!= col("qlabel"))
      .select(col("qid"), col("qlabel"), col("cid"), col("clabel"),
        // + 0.0 canonicalizes -0.0 for near-orthogonal pairs
        (round(expr("cosine_sim(qe, ce)"), 4) + lit(0.0)).as("cos"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
  }

  /** Hybrid retrieval via reciprocal-rank fusion (RRF, Cormack et al.) —
    * the standard two-tower RAG/search shape: a LEXICAL arm
    * (idf-weighted distinct-token overlap, the BM25 family) and a
    * SEMANTIC arm (embedding cosine, the ANN family) each rank the
    * candidate universe per query, and the fused score is
    * Σ 1/(60 + rank) over the lists a candidate appears in — rank
    * fusion needs no score calibration between arms, which is why
    * production hybrid search fuses ranks, not scores. Queries are the
    * 10 probe docs that carry BOTH text and an embedding; the universe
    * is the text∩embedding id join. Each arm contributes its top-50
    * list; fusion is exact integer (10⁹ div (60+r), floor-div on
    * nonnegatives agrees across engines), missing-list membership
    * contributes 0, and the fused top-5 ranks on (rrf_fp desc, id) — a
    * total order. Per-arm determinism: cosine rounds to 4 decimals
    * (+0.0 canonicalizes −0.0) and idf quantizes to 10⁶ BIGINT per
    * token BEFORE the per-(query, doc) sum — no float crosses a row
    * boundary unquantized.
    *
    * One pass builds it: the universe crosses the broadcast 10-query
    * side, and each (query, doc) pair carries its cosine, the doc's
    * token count nt and the distinct tokens it shares with the query.
    * The pairs repartition once by qid; every later step keys on qid or
    * a superset, so none adds an exchange. Per qid: n_docs is the pair
    * count (the self pair included, so it is |universe|); a shared
    * token's df is the number of pairs sharing it, which equals its
    * corpus df because the query is one of those docs; lex_fp sums the
    * positive idf_fp of a pair's shared tokens (a pair sharing none is
    * not in the lexical arm); then the r_sem and r_lex windows and the
    * RRF rank. Doc and vector ids are unique in every fixture and clone
    * tier; the (qid, id) grouping relies on it, and nt rides it.
    *
    * Scale shape: one broadcast-nested-loop pass of |universe|·10 pair
    * rows, each carrying one shared-token array, is the only shuffle.
    * The arrays explode after it, and the windows and the (qid, id)
    * aggregate run there too — the per-token work, |universe|·10 pairs
    * times their shared-token count. The shuffle asks for an explicit
    * partition count (spark.sql.shuffle.partitions, the count
    * repartition(col) asks for): AQE leaves an explicit count alone,
    * while it folds repartition(col)'s sub-MB shuffle into one
    * partition and so runs the per-token work in one task. At 4
    * partitions the 10 qids hash 4/4/2/0, so 3 tasks share it; the
    * stage spreads over at most 10 tasks whatever the count. The build
    * runs 5 jobs (the two doc⋈embedding broadcasts, the query
    * broadcast, the qid shuffle, the checkpoint) where the two-arm plan
    * ran 18. At 100 TB each arm swaps in its index-accelerated twin
    * (llm_ann_ivf candidates; df-capped postings) with the fusion
    * stage — the part this op owns — unchanged. */
  /** The memo holds every query's candidate table, the rows with
    * r_sem ≤ 50 or r_lex ≤ 50 (≤ 100 per query; an arm's columns are
    * null past its top-50), built once per (session, sf-dir) and
    * checkpointed. Three registered queries read it through the
    * rank ≤ 5 filter: llm_hybrid_rrf, and llm_rag_pack and
    * llm_retrieval_metrics in one partition (fusedTop5), so each of
    * those two runs one job. Bench resets the memo between passes (the
    * dedupNear staged-computation pattern). */
  private val fusedMemo =
    Memo.frame[(SparkSession, String)](this, "fused_retrieval")

  def resetFusedMemo(): Unit = MemoUtil.reset(this)

  private def candidates(s: SparkSession, d: String): DataFrame =
    fusedMemo((s, d))(candidateBuild(s, d).localCheckpoint())

  def hybridRrf(s: SparkSession, d: String): DataFrame =
    candidates(s, d).where(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("id"), col("rrf_fp"),
        col("r_sem"), col("r_lex"), col("cos"), col("lex_fp"))

  /** The fused top-5 rows in one partition, which satisfies every
    * per-qid window and aggregate: a reader runs one job, no exchange. */
  private def fusedTop5(s: SparkSession, d: String): DataFrame =
    candidates(s, d).where(col("rank") <= 5).coalesce(1)

  private def candidateBuild(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val uni = Tables.documents(s, d)
      .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("id"), col("embedding"),
        expr("array_distinct(filter(split(text, ' '), x -> x != ''))")
          .as("toks"),
        expr("cast(size(filter(split(text, ' '), x -> x != '')) as bigint)")
          .as("nt"))
    val qs = uni.where(col("id") < 10)
      .select(col("id").as("qid"), col("embedding").as("qe"),
        col("toks").as("qtoks"))
    val byQ = Window.partitionBy(col("qid"))
    def rankedBy(score: String) =
      row_number().over(byQ.orderBy(col(score).desc, col("id")))
    def inTop50(r: String, c: String) = when(col(r) <= 50, col(c))
    def rrf(r: String) =
      coalesce(expr(s"cast(1000000000 as bigint) div (60 + $r)"), lit(0L))
    uni.crossJoin(broadcast(qs))
      .select(col("qid"), col("id"), col("nt"),
        // + 0.0 canonicalizes -0.0 for near-orthogonal pairs
        (round(expr("cosine_sim(qe, embedding)"), 4) + lit(0.0)).as("cos"),
        array_intersect(col("qtoks"), col("toks")).as("shared"))
      // an explicit count: AQE may coalesce repartition(col) to one task
      .repartition(s.sessionState.conf.numShufflePartitions, col("qid"))
      .withColumn("n_docs", count(lit(1)).over(byQ))
      .withColumn("tok", explode_outer(col("shared")))
      .withColumn("df",
        count(col("tok")).over(Window.partitionBy(col("qid"), col("tok"))))
      .withColumn("idf_fp", when(col("tok").isNotNull,
        round(log(col("n_docs").cast("double") / col("df")) * 1e6, 0)
          .cast("long")))
      .where(col("id") =!= col("qid"))
      .groupBy(col("qid"), col("id"), col("cos"), col("nt"))
      .agg(sum(when(col("idf_fp") > 0, col("idf_fp"))).as("lex_fp"))
      .withColumn("r_sem", rankedBy("cos"))
      // lex_fp desc puts the nulls last, so the non-null ranks are exact
      .withColumn("r_lex", when(col("lex_fp").isNotNull, rankedBy("lex_fp")))
      .where(col("r_sem") <= 50 || col("r_lex") <= 50)
      .select(col("qid"), col("id"), col("nt"),
        inTop50("r_sem", "r_sem").as("r_sem"),
        inTop50("r_lex", "r_lex").as("r_lex"),
        inTop50("r_sem", "cos").as("cos"),
        inTop50("r_lex", "lex_fp").as("lex_fp"))
      .withColumn("rrf_fp", rrf("r_sem") + rrf("r_lex"))
      .withColumn("rank", rankedBy("rrf_fp"))
  }

  /** RETRIEVAL QUALITY METRICS — the eval loop every retrieval system
    * ships with: MRR, hits@k, and nDCG@k of a RANKER against a graded
    * TRUTH set, here the fused hybrid ranking (llm_hybrid_rrf's
    * memoized top-5) scored against the exact semantic top-3 (the same
    * rounded-cosine (cos desc, id) total order the semantic arm ranks
    * by, computed over the FULL universe — a truth doc the fusion
    * dropped below rank 5 must count against it; the memoized candidate
    * table keeps every r_sem ≤ 50 row, so its r_sem ≤ 3 rows are that
    * truth). The readout measures how
    * much of the exact semantic relevance the rank fusion retains
    * after the lexical arm perturbs it — the ablation a hybrid-search
    * rollout reads before flipping the fusion on.
    *
    * Determinism: reciprocal rank is exact fixed-point (10⁶ div rank —
    * ranks are small integers, floor-div agrees across engines);
    * nDCG@5's ≤5-term 1/log₂(rank+1) sum and the constant IDCG₃ are
    * computed from the same literal expressions on both engines and
    * rounded to 6 decimals after the division. first_rel_rank is 0
    * when no truth doc appears in the top-5 (both engines).
    *
    * Scale shape: the memoized candidate table keeps one row per
    * (qid, id), so a top-5 row is relevant when its own r_sem ≤ 3; the
    * eval is one filter and aggregate of that table's ≤ 5 rows per
    * query in one partition (one job, no corpus pass). At 100 TB the
    * eval runs on a sampled query panel exactly like this 10-query one;
    * the metric algebra is size-independent. */
  def retrievalMetrics(s: SparkSession, d: String): DataFrame = {
    val rel = col("r_sem") <= 3
    fusedTop5(s, d)
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_ranked"),
        sum(when(rel, 1).otherwise(0)).cast("bigint").as("hits"),
        min(when(rel, col("rank"))).as("fr"),
        sum(when(rel,
          lit(1.0) / log2(col("rank").cast("double") + 1.0))).as("dcg"))
      .select(col("qid"), col("n_ranked"), col("hits"),
        coalesce(col("fr"), lit(0)).cast("bigint").as("first_rel_rank"),
        coalesce(expr("CAST(1000000 AS BIGINT) div fr"), lit(0L))
          .as("rr_fp"),
        round(coalesce(col("dcg"), lit(0.0)) /
          expr("1.0/log2(2.0D) + 1.0/log2(3.0D) + 1.0/log2(4.0D)"), 6)
          .as("ndcg3"))
  }

  /** Budgeted context packing over the fused retrieval — the last step
    * of a RAG pipeline: given each query's fused ranking
    * (llm_hybrid_rrf's memoized top-5), admit documents in rank order
    * while the cumulative token count stays within the context budget
    * (B = 256; prefix-greedy — cumulative sums are monotone, so the
    * admit set is exactly the ranks whose running total fits, the
    * deterministic packing an inference server reproduces). Per query:
    * candidates, packed count, tokens used, fill in exact basis points
    * of the budget, and the first rank dropped — the audit that decides
    * whether the budget or the retrieval depth is the binding
    * constraint.
    *
    * Scale shape: the fused table is k-bounded per query at any corpus
    * size and carries each candidate's token count, so the pack is one
    * ordered window over ≤ k rows per query in one partition (one job,
    * no join). */
  def ragPack(s: SparkSession, d: String): DataFrame = {
    val B = 256L
    val w = Window.partitionBy(col("qid")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fusedTop5(s, d)
      .withColumn("cum", sum(col("nt")).over(w))
      .withColumn("packed", col("cum") <= B)
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("packed"), 1L).otherwise(0L)).as("n_packed"),
        sum(when(col("packed"), col("nt")).otherwise(0L)).as("tokens_used"),
        min(when(!col("packed"), col("rank"))).as("first_dropped_rank"))
      .select(col("qid"), col("n_candidates"), col("n_packed"),
        col("tokens_used"),
        expr(s"(tokens_used * 10000) div $B").as("fill_bp"),
        col("first_dropped_rank"))
  }

  /** Content-defined chunking dedup audit (the FastCDC/rsync family —
    * the storage-dedup standard, and the chunk-granularity twin of
    * llm_dedup_substring's fixed 8-gram spans): chunk boundaries are
    * CONTENT-defined — cut where the positional rolling shingle hash
    * ≡ 0 (mod 16) — so an insertion early in a document shifts only
    * the chunk it lands in, and every repeated passage re-produces the
    * SAME chunks wherever it appears (fixed-width chunking would
    * re-align every boundary after the edit). Chunks key by
    * (length, hash sum, first hash, last hash) — order-sensitive
    * endpoints + mass, collision-safe in practice and identical on
    * both engines. The 1-row audit is the storage economics: total vs
    * distinct chunks, duplicated classes, the hottest chunk, gram
    * mass vs stored mass, and stored_bp — the fraction a chunk store
    * actually persists.
    *
    * Scale shape: one positional-shingle pass (codegen'd kernel), one
    * per-doc window for the cut cumsum, one (chunk-key) hash aggregate
    * — the corpus shuffles once keyed by chunk signature, exactly the
    * production chunk-store ingest. Avg chunk ≈ 16 grams by the mask
    * width; widen the mask for bigger chunks, same shape. */
  /** Per-doc content-defined chunks over any (doc_id, text) frame —
    * split out so the spec can plant a shifted duplicate passage. */
  private[graft] def cdcChunksOf(s: SparkSession, docs: DataFrame)
      : DataFrame = {
    graft.GraftExtensions.register(s)
    val pos = docs
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"),
        posexplode(expr("poly_shingles_seq(toks)")).as(Seq("p", "h")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    pos
      .withColumn("cut", when(pmod(col("h"), lit(16L)) === 0, 1L)
        .otherwise(0L))
      .withColumn("cid", sum(col("cut"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("sh"),
        expr("min_by(h, p)").as("hfirst"), expr("max_by(h, p)").as("hlast"))
  }

  def dedupCdc(s: SparkSession, d: String): DataFrame = {
    val classes = cdcChunksOf(s, Tables.documents(s, d))
      .groupBy(col("n"), col("sh"), col("hfirst"), col("hlast"))
      .agg(count(lit(1)).as("copies"))
    classes.agg(
        sum(col("copies")).as("total_chunks"),
        count(lit(1)).as("distinct_chunks"),
        sum(when(col("copies") > 1, 1L).otherwise(0L)).as("dup_classes"),
        max(col("copies")).as("max_copies"),
        sum(col("n") * col("copies")).as("gram_mass"),
        sum(col("n")).as("stored_gram_mass"))
      .select(col("total_chunks"), col("distinct_chunks"),
        col("dup_classes"), col("max_copies"), col("gram_mass"),
        col("stored_gram_mass"),
        expr("(stored_gram_mass * 10000) div gram_mass").as("stored_bp"))
  }

  /** Per-document keyword extraction: the top-3 tokens by TF·IDF within
    * each document — the tag/metadata generator behind faceted corpus
    * browsing and the cheap doc-level topic proxy retrieval pipelines
    * attach before embedding. Differs from llm_tfidf (corpus-level
    * per-LANGUAGE characteristic terms): this ranks WITHIN each doc.
    *
    * idf quantizes per token to round(ln(N/df)·10⁶) BIGINT (ln of an
    * exact integer ratio — identical IEEE both engines); score = tf·idf_fp
    * is then exact, and the per-doc ranking is the (score_fp desc, tok)
    * total order. Corpus-wide tokens (df = N, idf 0) never rank.
    *
    * Scale shape: one (doc, tok) hash aggregate for tf (map-side
    * partial), the df table is vocabulary-bounded so the idf join keys
    * on tok (broadcastable in production), and the per-doc top-3 window
    * partitions on doc_id — per-partition heaps, no global sort. */
  def keywordExtract(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(s, d)
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = toks.select(col("tok"), col("doc_id")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val idf = dfreq.crossJoin(broadcast(nDocs))
      .select(col("tok"),
        round(log(col("n_docs").cast("double") / col("df")) * 1e6, 0)
          .cast("long").as("idf_fp"))
      .where(col("idf_fp") > 0)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_fp").desc, col("tok"))
    tf.join(idf, "tok")
      .withColumn("score_fp", col("tf") * col("idf_fp"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("tok"), col("tf"),
        col("score_fp"))
  }

  /** Held-out bigram language-model scoring with stupid backoff (the
    * CCNet/KenLM-style quality signal): train bigram + unigram counts
    * on the even-doc_id half of the corpus, score every held-out doc's
    * bigrams with P = c₂(a,b)/c₁(a), backing off to 0.4·c₁(b)/T for
    * unseen bigrams and 0.2/T for OOV continuations. Reports per-doc
    * bigram count, backoff/OOV rates, and the negative log-likelihood
    * — the "how surprising is this document to a model of the rest of
    * the corpus" filter (high NLL = junk or gold, both worth routing).
    * Differs from llm_perplexity_proxy (within-corpus unigram proxy):
    * real train/held-out split, order-sensitive bigram statistics, and
    * an explicit backoff chain.
    *
    * Numeric discipline: every ln runs on an exact integer ratio and
    * quantizes per ROW to round(·10⁶) BIGINT; per-doc reductions are
    * exact integer sums, and nll_fp divides the POSITIVE sum (Spark
    * `div` truncates toward zero, DuckDB `//` floors — they only agree
    * on non-negatives, so the negation happens before the division).
    *
    * Scale shape: the count tables are vocabulary-bounded (c₂ ≤ |V|²
    * observed, c₁ ≤ |V|) — the scoring join keys on the bigram and
    * partial-aggregates per doc map-side; at production vocabulary
    * sizes c₁ broadcasts and c₂ is the one shuffled build side. */
  def ngramLm(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("t", expr("filter(split(text, ' '), x -> x != '')"))
      .where(size(col("t")) >= 2)
    val bg = docs.select(col("doc_id"),
        explode(expr("transform(sequence(1, size(t) - 1)," +
          " i -> named_struct('a', element_at(t, i)," +
          " 'b', element_at(t, i + 1)))")).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val trainToks = docs.where(col("doc_id") % 2 === 0)
      .select(explode(col("t")).as("tok"))
    val c2 = bg.where(col("doc_id") % 2 === 0)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
    val c1 = trainToks.groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val tot = trainToks.agg(count(lit(1)).as("t_total")) // 1 row → broadcast
    bg.where(col("doc_id") % 2 === 1)
      .join(c2, Seq("a", "b"), "left")
      .join(c1.withColumnRenamed("tok", "a").withColumnRenamed("c1", "ca"),
        Seq("a"), "left")
      .join(c1.withColumnRenamed("tok", "b").withColumnRenamed("c1", "cb"),
        Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("term_fp",
        round(when(col("c2").isNotNull, log(col("c2") / col("ca")))
          .when(col("cb").isNotNull,
            log(lit(0.4) * col("cb") / col("t_total")))
          .otherwise(log(lit(0.2) / col("t_total"))) * 1e6, 0)
          .cast("long"))
      .withColumn("bo",
        when(col("c2").isNull && col("cb").isNotNull, 1L).otherwise(0L))
      .withColumn("oov", when(col("cb").isNull, 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bo")).as("n_backoff"),
        sum(col("oov")).as("n_oov"),
        sum(col("term_fp")).as("ll_fp"))
      .withColumn("nll_fp", expr("(0 - ll_fp) div n_bigrams"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_ngram_lm" -> ngramLm _,
    "llm_keyword_extract" -> keywordExtract _,
    "llm_hard_negatives" -> hardNegatives _,
    "llm_hybrid_rrf" -> hybridRrf _,
    "llm_retrieval_metrics" -> retrievalMetrics _,
    "llm_rag_pack" -> ragPack _,
    "llm_dedup_cdc" -> dedupCdc _,
    "llm_bm25" -> bm25 _,
    "llm_vocab_coverage" -> vocabCoverage _,
    "llm_dedup_winnow" -> dedupWinnow _,
    "llm_curriculum" -> curriculum _,
    "llm_safety_filter" -> safetyFilter _
  )

  /** Shared oracle preamble: exploded non-empty tokens. */
  private val tokCte =
    """WITH tk AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |toks AS (SELECT * FROM tk WHERE tok != '')""".stripMargin

  /** Char-fold poly-31 hash mod 1e9+7 — the naive DuckDB twin of the
    * native shingle hash (same helper as LlmExtended's oracles). */
  private def duckPoly(v: String): String =
    s"""list_reduce(list_prepend(0::BIGINT,
       |  [ascii(c)::BIGINT for c in string_split($v, '')]),
       |  (h, c) -> (h * 31 + c) % 1000000007)""".stripMargin

  /** Exact-double cosine between two float lists — the DuckDB twin of
    * the codegen'd cosine_sim (same form as the hard_negatives oracle). */
  private def duckCos(a: String, b: String): String =
    s"""round(
       |  list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(range(1, len($a) + 1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |    (x, y) -> x + y)
       |  / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
       |       list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |       (x, y) -> x + y))
       |     * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
       |         list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |         (x, y) -> x + y))), 4)""".stripMargin

  /** Full fused-retrieval replay — shared by the llm_hybrid_rrf oracle
    * and (as a CTE) llm_rag_pack's. */
  private lazy val hybridSql: String =
      s"""WITH uni AS (
         |  SELECT doc_id AS id, text, embedding
         |  FROM documents JOIN embeddings ON doc_id = vec_id),
         |q AS (SELECT id AS qid, text AS qtext, embedding AS qe
         |      FROM uni WHERE id < 10),
         |sem AS (
         |  SELECT qid, id, cos,
         |    row_number() OVER (PARTITION BY qid
         |                       ORDER BY cos DESC, id) AS r_sem
         |  FROM (
         |    SELECT q.qid, u.id,
         |      0.0 + ${duckCos("q.qe", "u.embedding")} AS cos
         |    FROM q CROSS JOIN uni u WHERE u.id != q.qid)
         |  QUALIFY r_sem <= 50),
         |tk AS (
         |  SELECT id, unnest(list_distinct(
         |    list_filter(string_split(text, ' '), x -> x != ''))) AS tok
         |  FROM uni),
         |nd AS (SELECT count(*) AS n_docs FROM uni),
         |dfreq AS (SELECT tok, count(*) AS df FROM tk GROUP BY 1),
         |idf AS (
         |  SELECT tok, CAST(round(ln(n_docs / df) * 1e6) AS BIGINT) AS idf_fp
         |  FROM dfreq, nd
         |  WHERE CAST(round(ln(n_docs / df) * 1e6) AS BIGINT) > 0),
         |qt AS (
         |  SELECT t.id AS qid, t.tok, i.idf_fp
         |  FROM tk t JOIN idf i USING (tok) WHERE t.id < 10),
         |lex AS (
         |  SELECT qid, id, lex_fp,
         |    row_number() OVER (PARTITION BY qid
         |                       ORDER BY lex_fp DESC, id) AS r_lex
         |  FROM (
         |    SELECT qt.qid, t.id, CAST(sum(qt.idf_fp) AS BIGINT) AS lex_fp
         |    FROM tk t JOIN qt ON t.tok = qt.tok
         |    WHERE t.id != qt.qid
         |    GROUP BY 1, 2)
         |  QUALIFY r_lex <= 50),
         |fused AS (
         |  SELECT coalesce(s.qid, l.qid) AS qid, coalesce(s.id, l.id) AS id,
         |    s.cos, s.r_sem, l.lex_fp, l.r_lex,
         |    coalesce(1000000000::BIGINT // (60 + s.r_sem), 0)
         |      + coalesce(1000000000::BIGINT // (60 + l.r_lex), 0) AS rrf_fp
         |  FROM sem s FULL JOIN lex l ON s.qid = l.qid AND s.id = l.id)
         |SELECT qid,
         |  CAST(row_number() OVER (PARTITION BY qid
         |                          ORDER BY rrf_fp DESC, id) AS INTEGER)
         |    AS rank,
         |  id, rrf_fp, r_sem, r_lex, cos, lex_fp
         |FROM fused
         |QUALIFY rank <= 5""".stripMargin

  def oracle: Map[String, String] = Map(
    "llm_hybrid_rrf" -> hybridSql,
    // the fused chain replayed as a CTE + the full-universe semantic
    // truth + the metric algebra, literal-for-literal
    "llm_retrieval_metrics" ->
      (s"""WITH fused5 AS MATERIALIZED (
         |${hybridSql}
         |),
         |uni2 AS (
         |  SELECT doc_id AS id, embedding
         |  FROM documents JOIN embeddings ON doc_id = vec_id),
         |q2 AS (SELECT id AS qid, embedding AS qe FROM uni2 WHERE id < 10),
         |truth AS (
         |  SELECT qid, id FROM (
         |    SELECT q2.qid, u.id,
         |      row_number() OVER (PARTITION BY q2.qid
         |        ORDER BY (0.0 + ${duckCos("q2.qe", "u.embedding")}) DESC,
         |                 u.id) AS rt
         |    FROM q2 CROSS JOIN uni2 u WHERE u.id != q2.qid)
         |  WHERE rt <= 3),
         |""".stripMargin +
       """j AS (
         |  SELECT f.qid, f.rank,
         |    CASE WHEN t.id IS NOT NULL THEN 1 ELSE 0 END AS rel
         |  FROM fused5 f
         |  LEFT JOIN truth t ON f.qid = t.qid AND f.id = t.id)
         |SELECT qid, CAST(count(*) AS BIGINT) AS n_ranked,
         |  CAST(sum(rel) AS BIGINT) AS hits,
         |  CAST(coalesce(min(CASE WHEN rel = 1 THEN rank END), 0) AS BIGINT)
         |    AS first_rel_rank,
         |  CAST(coalesce(1000000 // min(CASE WHEN rel = 1 THEN rank END), 0)
         |    AS BIGINT) AS rr_fp,
         |  round(coalesce(sum(CASE WHEN rel = 1
         |                          THEN 1.0/log2(rank + 1.0) END), 0.0)
         |    / (1.0/log2(2.0) + 1.0/log2(3.0) + 1.0/log2(4.0)), 6) AS ndcg3
         |FROM j GROUP BY qid""".stripMargin),
    "llm_rag_pack" ->
      (s"""WITH fused5 AS MATERIALIZED (
         |${hybridSql}
         |),
         |""".stripMargin +
       """nt AS (
         |  SELECT doc_id AS id,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
         |      AS BIGINT) AS nt
         |  FROM documents),
         |c AS (
         |  SELECT f.qid, f.rank, f.id, nt.nt,
         |    sum(nt.nt) OVER (PARTITION BY f.qid ORDER BY f.rank) AS cum
         |  FROM fused5 f JOIN nt USING (id)),
         |p AS (SELECT *, cum <= 256 AS packed FROM c)
         |SELECT qid, CAST(count(*) AS BIGINT) AS n_candidates,
         |  CAST(sum(CASE WHEN packed THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_packed,
         |  CAST(sum(CASE WHEN packed THEN nt ELSE 0 END) AS BIGINT)
         |    AS tokens_used,
         |  (CAST(sum(CASE WHEN packed THEN nt ELSE 0 END) AS BIGINT)
         |    * 10000) // 256 AS fill_bp,
         |  CAST(min(CASE WHEN NOT packed THEN rank END) AS INTEGER)
         |    AS first_dropped_rank
         |FROM p GROUP BY qid""".stripMargin),
    "llm_dedup_cdc" ->
      (s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sq AS (
         |  SELECT doc_id,
         |    [${duckPoly("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")}
         |     for i in range(1, len(t) - 1)] AS hs
         |  FROM t WHERE len(t) >= 3),
         |""".stripMargin +
       """pos AS (
         |  SELECT doc_id, u.p, u.h FROM (
         |    SELECT doc_id,
         |      unnest([{'p': i - 1, 'h': hs[i]}
         |              for i in range(1, len(hs) + 1)]) AS u
         |    FROM sq)),
         |ch AS (
         |  SELECT doc_id, p, h,
         |    sum(CASE WHEN h % 16 = 0 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY p
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cid
         |  FROM pos),
         |chunks AS (
         |  SELECT doc_id, cid, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(h) AS BIGINT) AS sh,
         |    min_by(h, p) AS hfirst, max_by(h, p) AS hlast
         |  FROM ch GROUP BY 1, 2),
         |cls AS (
         |  SELECT n, sh, hfirst, hlast, count(*) AS copies
         |  FROM chunks GROUP BY 1, 2, 3, 4)
         |SELECT CAST(sum(copies) AS BIGINT) AS total_chunks,
         |  CAST(count(*) AS BIGINT) AS distinct_chunks,
         |  CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS dup_classes,
         |  CAST(max(copies) AS BIGINT) AS max_copies,
         |  CAST(sum(n * copies) AS BIGINT) AS gram_mass,
         |  CAST(sum(n) AS BIGINT) AS stored_gram_mass,
         |  (CAST(sum(n) AS BIGINT) * 10000)
         |    // CAST(sum(n * copies) AS BIGINT) AS stored_bp
         |FROM cls""".stripMargin),
    "llm_ngram_lm" ->
      """WITH tr AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x != '') AS t
        |  FROM documents),
        |tt AS (SELECT doc_id, t FROM tr WHERE len(t) >= 2),
        |bg AS (
        |  SELECT doc_id, unnest(t[1:len(t)-1]) AS a, unnest(t[2:len(t)]) AS b
        |  FROM tt),
        |c2 AS (
        |  SELECT a, b, count(*) AS c2 FROM bg
        |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |tk AS (SELECT unnest(t) AS tok FROM tt WHERE doc_id % 2 = 0),
        |c1 AS (SELECT tok, count(*) AS c1 FROM tk GROUP BY 1),
        |tot AS (SELECT count(*) AS t_total FROM tk),
        |terms AS (
        |  SELECT g.doc_id,
        |    CAST(round(CASE
        |      WHEN c2.c2 IS NOT NULL THEN ln(c2.c2 / ca.c1)
        |      WHEN cb.c1 IS NOT NULL THEN ln(0.4 * cb.c1 / t_total)
        |      ELSE ln(0.2 / t_total) END * 1e6) AS BIGINT) AS term_fp,
        |    CASE WHEN c2.c2 IS NULL AND cb.c1 IS NOT NULL
        |      THEN 1 ELSE 0 END AS bo,
        |    CASE WHEN cb.c1 IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM bg g
        |  LEFT JOIN c2 ON g.a = c2.a AND g.b = c2.b
        |  LEFT JOIN c1 ca ON g.a = ca.tok
        |  LEFT JOIN c1 cb ON g.b = cb.tok
        |  CROSS JOIN tot
        |  WHERE g.doc_id % 2 = 1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(bo) AS BIGINT) AS n_backoff,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  CAST(sum(term_fp) AS BIGINT) AS ll_fp,
        |  CAST((0 - sum(term_fp)) // count(*) AS BIGINT) AS nll_fp
        |FROM terms GROUP BY doc_id""".stripMargin,
    "llm_keyword_extract" -> (tokCte +
      """,
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |idf AS (
        |  SELECT tok,
        |    CAST(round(ln(n_docs / df) * 1e6) AS BIGINT) AS idf_fp
        |  FROM dfreq, nd
        |  WHERE CAST(round(ln(n_docs / df) * 1e6) AS BIGINT) > 0),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf, tf.tf * i.idf_fp AS score_fp,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |                       ORDER BY tf.tf * i.idf_fp DESC, tf.tok)
        |      AS rank
        |  FROM tf JOIN idf i USING (tok))
        |SELECT doc_id, rank, tok, tf, score_fp
        |FROM scored WHERE rank <= 3""".stripMargin),
    "llm_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, label AS qlabel, embedding AS qe
        |  FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.qid, q.qlabel, e.vec_id AS cid, e.label AS clabel,
        |    0.0 + round(
        |      list_reduce(list_prepend(0.0::DOUBLE,
        |        list_transform(range(1, len(q.qe) + 1),
        |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |        (a, x) -> a + x)
        |      / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |           list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |           (a, x) -> a + x))
        |         * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |             list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |             (a, x) -> a + x))), 4) AS cos
        |  FROM q CROSS JOIN embeddings e
        |  WHERE e.label != q.qlabel)
        |SELECT qid, qlabel, cid, clabel, cos,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
        |FROM scored
        |QUALIFY rn <= 5""".stripMargin,
    "llm_bm25" -> (tokCte +
      """,
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS total FROM toks),
        |dfreq AS (
        |  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |qterms AS (
        |  SELECT tok, df,
        |         row_number() OVER (ORDER BY df DESC, tok) AS qrank
        |  FROM dfreq, nd WHERE df * 4 <= n_docs QUALIFY qrank <= 5),
        |tf AS (
        |  SELECT t.doc_id, t.tok, count(*) AS tf
        |  FROM toks t JOIN qterms q ON t.tok = q.tok GROUP BY 1, 2),
        |scored AS (
        |  SELECT tf.doc_id, count(*) AS n_terms,
        |    CAST(sum(CAST(round(
        |      ln(1.0 + (n_docs - q.df + 0.5) / (q.df + 0.5))
        |        * tf.tf * 2.2
        |        / (tf.tf + 1.2 * (0.25
        |             + 0.75 * CAST(dl.dl * n_docs AS DOUBLE) / total))
        |      * 1e6) AS BIGINT)) AS BIGINT) AS score_fp
        |  FROM tf
        |  JOIN qterms q ON tf.tok = q.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN nd CROSS JOIN tot
        |  GROUP BY 1)
        |SELECT row_number() OVER (ORDER BY score_fp DESC, doc_id) AS rank,
        |       doc_id, n_terms, score_fp,
        |       round(score_fp / 1e6, 6) AS score
        |FROM scored QUALIFY rank <= 20""".stripMargin),
    "llm_vocab_coverage" -> (tokCte +
      """,
        |lt AS (
        |  SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |vocab AS (
        |  SELECT tok, sum(cnt) AS gcnt,
        |         row_number() OVER (ORDER BY sum(cnt) DESC, tok) AS vrank
        |  FROM lt GROUP BY tok QUALIFY vrank <= 500)
        |SELECT lang,
        |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN cnt ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN cnt ELSE 0 END) * 10000
        |    // sum(cnt) AS BIGINT) AS oov_bp,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov_types
        |FROM lt LEFT JOIN vocab v USING (tok)
        |GROUP BY lang""".stripMargin),
    "llm_dedup_winnow" ->
      (s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sq AS (
         |  SELECT doc_id,
         |    [${duckPoly("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")}
         |     for i in range(1, len(t) - 1)] AS hs
         |  FROM t WHERE len(t) >= 3),
         |wins AS (
         |  SELECT doc_id,
         |    CASE WHEN len(hs) >= 4
         |      THEN [list_min(hs[i:i+3]) for i in range(1, len(hs) - 2)]
         |      ELSE [list_min(hs)] END AS ws
         |  FROM sq),
         |fps AS (
         |  SELECT DISTINCT doc_id, unnest(ws) AS fp FROM wins),
         |post AS (
         |  SELECT fp FROM fps GROUP BY fp
         |  HAVING count(*) BETWEEN 2 AND 50),
         |pairs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_shared
         |  FROM fps a
         |  JOIN post p ON a.fp = p.fp
         |  JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT row_number() OVER (ORDER BY n_shared DESC, a, b) AS rank,
         |       a, b, n_shared
         |FROM pairs QUALIFY rank <= 25""".stripMargin),
    "llm_curriculum" -> (tokCte +
      """,
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |dfreq AS (
        |  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |rare AS (SELECT tok FROM dfreq, nd WHERE df * 20 <= n_docs),
        |perdoc AS (
        |  SELECT t.doc_id, count(*) AS n_tok,
        |    CAST(sum(CASE WHEN r.tok IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_rare
        |  FROM toks t LEFT JOIN rare r ON t.tok = r.tok
        |  GROUP BY 1),
        |staged AS (
        |  SELECT doc_id, n_tok, n_rare * 10000 // n_tok AS rare_bp,
        |    ntile(5) OVER (ORDER BY n_rare * 10000 // n_tok, doc_id)
        |      AS stage
        |  FROM perdoc)
        |SELECT stage, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(min(rare_bp) AS BIGINT) AS min_bp,
        |  CAST(max(rare_bp) AS BIGINT) AS max_bp,
        |  CAST(sum(n_tok) AS BIGINT) AS token_mass
        |FROM staged GROUP BY stage""".stripMargin),
    "llm_safety_filter" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang,
        |    CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['slow','crash','leak','unsafe','broken'], x)))
        |      AS BIGINT) AS n_flagged
        |  FROM t WHERE len(toks) > 0)
        |SELECT doc_id, lang, n_tok, n_flagged,
        |  n_flagged * 10000 // n_tok AS rate_bp,
        |  CASE WHEN n_flagged * 10000 // n_tok >= 400 THEN 'drop'
        |       WHEN n_flagged * 10000 // n_tok >= 150 THEN 'flag'
        |       ELSE 'keep' END AS action
        |FROM m""".stripMargin
  )
}
