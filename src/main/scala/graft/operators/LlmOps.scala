package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** LLM-training-data pipeline operators (SURVEY.md §2.10) over the
  * `documents` and `embeddings` fixtures: exact + near deduplication,
  * similarity search, text statistics, and the multimodal envelope.
  *
  * At-scale design (the 100 TB story these must survive):
  *  - exact dedup groups on sha2(text) — a fixed 32-byte shuffle key
  *    instead of megabyte documents; the min-id winner rule makes the
  *    survivor deterministic.
  *  - near dedup is MinHash + LSH banding: signatures are O(k) per doc
  *    regardless of length, banding shuffles each doc b times on small
  *    band keys, and ONLY in-bucket candidates are exact-verified. The
  *    all-pairs O(n²) comparison never happens; cost is O(collisions).
  *  - similarity top-k broadcasts the (small) query set; candidate
  *    embeddings stream through map-side cosine with an in-order double
  *    fold (bit-reproducible), and the final top-k per query is a window
  *    over qid — k·|queries| rows survive. The bucketed/IVF variant for
  *    huge candidate sets is `llm_ann_ivf` (LlmExtended).
  *  - text stats are per-row O(1)/O(len) column expressions, fully
  *    codegen'd, no shuffle at all.
  */
object LlmOps extends OpModule {

  // ── shared text machinery ─────────────────────────────────────────────

  /** Distinct word 3-shingles of `text` (the near-dup unit). Guarded:
    * Spark's sequence(1, n) DESCENDS when n < 1, so short docs must short
    * circuit to an empty array. */
  private val shinglesExpr =
    """CASE WHEN size(toks) >= 3 THEN
      |  array_distinct(transform(sequence(1, size(toks) - 2),
      |    i -> concat_ws(' ', slice(toks, i, 3))))
      |ELSE array() END""".stripMargin

  private[graft] def withShingles(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(col("text"), " "))
      .withColumn("shingles", expr(shinglesExpr))

  /** MinHash signature (k=32): per-shingle xxhash64 base hashes, then
    * k seeded re-hashes, min per seed. */
  private val K = 32
  private val RowsPerBand = 2
  private val Bands = K / RowsPerBand

  /** Adds `sig` from an existing column of per-shingle hashes — the ONE
    * construction point for the signature (dedupNear feeds its sorted
    * `hs` column; the string-shingle path below wraps this for specs). */
  /** Reference HOF formulation of the signature (the equivalence witness
    * the spec asserts the native minhash_sig kernel against). */
  private[graft] def sigHofExpr(hashCol: String): String = {
    val sigCols = (0 until K).map(i =>
      s"array_min(transform($hashCol, x -> xxhash64(x, ${i}L)))")
    s"array(${sigCols.mkString(", ")})"
  }

  private[graft] def signatureFromHashes(
      docs: DataFrame, hashCol: String): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    docs.withColumn("sig", expr(s"minhash_sig($hashCol, $K)"))
  }

  private[graft] def withSignature(docs: DataFrame): DataFrame =
    signatureFromHashes(
      docs.withColumn("base_h", expr("transform(shingles, s -> xxhash64(s))")),
      "base_h")

  /** LSH bands: hash r consecutive signature entries per band; a pair of
    * docs is a candidate iff some band hash collides. */
  private val bandsExpr =
    s"""transform(sequence(0, ${Bands - 1}),
       |  j -> named_struct('band', j,
       |    'bh', xxhash64(element_at(sig, 2*j + 1), element_at(sig, 2*j + 2))))""".stripMargin

  // ── §2.10 operators ───────────────────────────────────────────────────

  /** Exact dedup: group by content hash, keep the lowest doc_id.
    * 8 duplicate texts exist at sf0.1 (FIXTURES.md) — n_copies=2 rows. */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))

  /** Near dedup: MinHash(32) → LSH(16 bands × 2 rows) candidates →
    * exact shingle-Jaccard verification at τ=0.8. Output = verified
    * near-duplicate pairs. Recall: a pair at J≥0.8 escapes all 16 bands
    * with probability (1−0.8²)¹⁶ ≈ 8e-8 — the exact-verify step then
    * makes precision 1, so the output equals the all-pairs oracle. */
  /** Verified near-dup pairs are consumed by THREE registered queries
    * (llm_dedup_near, llm_dedup_cluster's edge set, curation_e2e's drop
    * set) — the LSH hunt runs once per (session, sf-dir) and the tiny
    * pair table is checkpointed, the staged-computation pattern shared
    * with LlmScale.lloyd and Analytics.coSupplyAdjacency. Bench resets
    * the memo between repeat passes. */
  private val nearMemo = Memo.frame[(SparkSession, String)](this, "lsh_pairs")

  /** Drop the memoized pair table (Bench calls this between passes). */
  def resetNearMemo(): Unit = MemoUtil.reset(this)

  def dedupNear(s: SparkSession, d: String): DataFrame =
    nearMemo((s, d))(dedupNearBuild(s, d).localCheckpoint())

  /** Empirical MinHash/LSH RECALL evaluation — the text-side twin of
    * llm_ann_recall: before trusting a banding configuration at 100 TB,
    * measure its collision curve on a bounded audit sample. The sample
    * is the 128 lowest-id docs (≥10 tokens) plus 32 planted RENDITIONS
    * (doc k truncated to its first (nt·(32+k)) div 64 tokens, k=0..31 —
    * exact integer math both engines replay), which sweeps true Jaccard
    * across the mid-range the fixture's organic pairs don't populate.
    * Every pair gets: exact J over distinct token-3-gram poly-31 hashes
    * (the CMS fold — DuckDB-replayable, unlike production xxhash64),
    * a 16-perm MinHash signature (affine perms (2i+3)·h + (5i+7) mod p),
    * and a 4-band × 4-row LSH collision bit. Output per J-decile:
    * pair count, band-hit count (empirical recall ≈ 1−(1−J⁴)⁴ — the
    * S-curve the banding design picks), and the summed signature
    * matches (estimator bias readout: E[matches] = 16·J). At scale the
    * audit sample stays FIXED (like the 10-query ANN probes) — cost is
    * O(sample²) with sample ≪ corpus, never corpus²; the bounded
    * 160-row broadcast side is the pinned-BNLJ precedent. */
  def dedupNearRecall(s: SparkSession, d: String): DataFrame = {
    val P = 1000000007L
    val base = Tables.documents(s, d)
      .withColumn("t", split(col("text"), " "))
      .where(size(col("t")) >= 10)
      .orderBy(col("doc_id")).limit(128)
      .select(col("doc_id"), col("t"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
    val rend = base.orderBy(col("doc_id")).limit(32)
      .withColumn("k", row_number().over(w) - 1)
      .withColumn("nt", size(col("t")))
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        expr("slice(t, 1, greatest(3, CAST((nt * (32 + k)) DIV 64 AS INT)))")
          .as("t"))
    val grams = base.unionByName(rend).withColumn("gh", expr(
      s"""sort_array(array_distinct(transform(
         |  sequence(1, size(t) - 2),
         |  i -> aggregate(
         |    split(concat(element_at(t, i), ' ', element_at(t, i + 1), ' ',
         |                 element_at(t, i + 2)), ''),
         |    0L, (h, c) -> (h * 31 + ascii(c)) % ${P}L))))""".stripMargin))
    val sigs = grams.withColumn("sig", array((0 until 16).map(i =>
        expr(s"aggregate(gh, ${P}L, (m, h) -> " +
          s"least(m, (h * ${2 * i + 3}L + ${5 * i + 7}L) % ${P}L))")): _*))
      .select(col("doc_id"), col("gh"), col("sig"))
    sigs.as("a").crossJoin(broadcast(sigs.as("b")))
      .where(col("a.doc_id") < col("b.doc_id"))
      .withColumn("i", size(array_intersect(col("a.gh"), col("b.gh"))))
      .withColumn("u", size(col("a.gh")) + size(col("b.gh")) - col("i"))
      .withColumn("m", expr("zip_with(a.sig, b.sig, (x, y) -> IF(x = y, 1, 0))"))
      .withColumn("band_hit", expr(
        """IF(exists(sequence(0, 3),
          |   j -> aggregate(slice(m, 4 * j + 1, 4), 0,
          |        (acc, x) -> acc + x) = 4), 1, 0)""".stripMargin))
      .groupBy(expr("CAST((i * 10) DIV u AS INT)").as("j_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("band_hit")).cast("bigint").as("n_band_hits"),
        sum(expr("aggregate(m, 0, (acc, x) -> acc + x)")).cast("bigint")
          .as("sum_sig_matches"))
  }

  private def dedupNearBuild(s: SparkSession, d: String): DataFrame = {
    val tau = 0.8
    graft.GraftExtensions.register(s)
    // localCheckpoint: the shingle table has three readers (signature
    // path + verification joins) — materializing it once replaces three
    // corpus-wide shingle passes with one (production persists it to
    // storage). It carries SORTED xxhash64 values, not strings: 8 bytes
    // per shingle instead of ~25 chars (3× smaller checkpoint+broadcast),
    // the MinHash mins are order-invariant so the signature is unchanged,
    // and the sorted order feeds the native merge-count verify kernel.
    // Intersection counts equal the string-set counts unless two distinct
    // shingles collide in 64 bits (P < 1e-10 at this vocabulary; the
    // oracle keeps string keys — same precedent as dedupNgram).
    // native kernel: hash-then-distinct equals the string-shingle
    // distinct-then-hash (same 64-bit collision caveat as above)
    val base = MemoUtil.scratch(Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        sort_array(expr("array_distinct(xx_ngram_hashes(toks, 3))")).as("hs"))
      .localCheckpoint())
    val docs = signatureFromHashes(base, "hs")
      .select(col("doc_id"), col("sig"))
    // The band join carries ONLY (doc_id, band, bh): each doc explodes
    // into 16 8-byte band rows, so the candidate-hunt shuffle is O(16·id)
    // per doc regardless of document size. The shingle ARRAYS re-join by
    // doc_id afterwards — shuffled once per join side instead of 16× per
    // doc through the band explode (measured 21.6 s → dominated by a
    // ~3.6 GB array shuffle at the 10× probe when arrays rode the bands).
    // The repartition makes both self-join sides the same exchange
    // subtree (ReusedExchange → signatures hashed once).
    val bands = docs.repartition(col("doc_id"))
      .select(col("doc_id"), explode(expr(bandsExpr)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bh"))
    val cands = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val sh = base.select(col("doc_id"), col("hs"))
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("sb")), "doc_b")
      // size filter (output-invariant): J(A,B) ≤ min/max of the set
      // sizes, so J ≥ τ requires |A| ≥ τ·|B| and |B| ≥ τ·|A| — prunes
      // candidates BEFORE the O(|A|+|B|) intersection
      .where(size(col("sa")).cast("double") >= lit(tau) * size(col("sb"))
        && size(col("sb")).cast("double") >= lit(tau) * size(col("sa")))
      // native two-pointer merge over the sorted hash arrays — no
      // per-pair hash-set or output-array allocation
      .withColumn("i", expr("sorted_intersect_count(sa, sb)"))
      .withColumn("u", size(col("sa")) + size(col("sb")) - col("i"))
      .where(col("i").cast("double") / col("u") >= tau)
      .select(col("doc_a"), col("doc_b"),
        round(col("i").cast("double") / col("u"), 4).as("jaccard"))
  }

  /** INCREMENTAL near-dedup — the production shape dedupNear's
    * full-corpus pass doesn't exercise: a NEW shard (doc_id ≡ 0 mod 10,
    * the daily crawl delta) dedups against the EXISTING corpus index
    * (everything else), and index×index pairs are never generated — the
    * candidate join is new-bands × index-bands only, so a shard of size
    * B against a corpus of size N costs O(B·collisions), not the
    * O(N·collisions) a re-dedup of the whole corpus pays. The index IS
    * a persisted artifact (staged parquet, below) and the new shard's
    * bands broadcast: the corpus streams past the shard map-side, never
    * shuffling itself. Same MinHash(32)/LSH(16×2) machinery and exact
    * sorted-merge verification as dedupNear, so recall/precision carry
    * over; the all-pairs new×index oracle is exhaustive. Per new doc:
    * dup verdict, match count, best match (max jaccard, min index id). */
  /** The corpus index is a STAGED ARTIFACT (round 8; r7 recomputed it
    * per run): shingle arrays + band table for the non-shard corpus are
    * written to parquet ONCE per corpus snapshot and every subsequent
    * ingest reads them back — the production economics, where the index
    * lives on storage and is updated per ingest, never rebuilt. Keyed by
    * (path, snapshot fingerprint): parquet part names are UUID-fresh per
    * rewrite, so the name/mtime/length fold detects any corpus rewrite
    * (the LlmOpsSpec fixture dir is rewritten between tests). The
    * fingerprint goes into the staging prefix. */
  private def corpusVersion(d: String): String = {
    val f = new java.io.File(s"$d/documents.parquet")
    val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq(f))
    java.lang.Long.toHexString(kids
      .map(k => k.getName.hashCode.toLong ^ k.lastModified() ^ (k.length << 13))
      .foldLeft(f.lastModified())(_ ^ _))
  }

  private[graft] def stagedDedupIndex(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    graft.GraftExtensions.register(s)
    val dir = StageUtil.staged(s"graft_dedup_index_${corpusVersion(d)}", d) { base =>
      val isNew = pmod(col("doc_id"), lit(10)) === 0
      Tables.documents(s, d).where(!isNew)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          sort_array(expr("array_distinct(xx_ngram_hashes(toks, 3))")).as("hs"))
        .write.mode("overwrite").parquet(s"$base/shingles")
      // bands derive from the WRITTEN shingles — the index is consistent
      // by construction (both tables come from one corpus snapshot)
      signatureFromHashes(Tables.read(s, s"$base/shingles"), "hs")
        .select(col("doc_id"), col("sig"))
        .select(col("doc_id"), explode(expr(bandsExpr)).as("b"))
        .select(col("doc_id"), col("b.band"), col("b.bh"))
        .write.mode("overwrite").parquet(s"$base/bands")
    }
    (Tables.read(s, s"$dir/bands"), Tables.read(s, s"$dir/shingles"))
  }

  /** One shard ingest against the staged index: only the DELTA is
    * shingled/banded (one localCheckpoint job whose scan carries the
    * shard predicate); the index sides are parquet reads of the staged
    * artifact, so a second ingest's cost is independent of how many
    * ingests ran before — the result plan contains NO documents scan
    * (spec-asserted). Returns (delta shingle table, verified matches) —
    * dedupIncremental reports per-doc best matches from it,
    * clusterIncremental assigns cluster labels. */
  private def ingestVerified(s: SparkSession, d: String,
      shardPred: org.apache.spark.sql.Column)
      : (DataFrame, DataFrame, DataFrame) = {
    val tau = 0.8
    graft.GraftExtensions.register(s)
    val (idxBands, idxSh) = stagedDedupIndex(s, d)
    // delta shingles read twice (signatures + verify side) — the
    // dedupNearBuild lineage-cut rule, routed through the scratch registry
    val base = MemoUtil.scratch(Tables.documents(s, d).where(shardPred)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        sort_array(expr("array_distinct(xx_ngram_hashes(toks, 3))")).as("hs"))
      .localCheckpoint())
    val newBands = signatureFromHashes(base, "hs")
      .select(col("doc_id"), col("sig"))
      .select(col("doc_id"), explode(expr(bandsExpr)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bh"))
    val cands = idxBands.as("x")
      .join(broadcast(newBands.as("y")),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("y.doc_id").as("doc_n"), col("x.doc_id").as("doc_i"))
      .dropDuplicates("doc_n", "doc_i")
    val verified = cands
      .join(base.select(col("doc_id").as("doc_n"), col("hs").as("sa")), "doc_n")
      .join(idxSh.select(col("doc_id").as("doc_i"), col("hs").as("sb")), "doc_i")
      .where(size(col("sa")).cast("double") >= lit(tau) * size(col("sb"))
        && size(col("sb")).cast("double") >= lit(tau) * size(col("sa")))
      .withColumn("i", expr("sorted_intersect_count(sa, sb)"))
      .withColumn("u", size(col("sa")) + size(col("sb")) - col("i"))
      .where(col("i").cast("double") / col("u") >= tau)
      .select(col("doc_n"), col("doc_i"),
        round(col("i").cast("double") / col("u"), 4).as("jaccard"))
    (base, newBands, verified)
  }

  private[graft] def ingestShard(s: SparkSession, d: String,
      shardPred: org.apache.spark.sql.Column): DataFrame = {
    val (base, _, verified) = ingestVerified(s, d, shardPred)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_n"))
      .orderBy(col("jaccard").desc, col("doc_i").asc)
    val best = verified
      .withColumn("n_matches", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("doc_n"))))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_n"), col("doc_i"), col("jaccard"), col("n_matches"))
    base.select(col("doc_id"))
      .join(best, col("doc_id") === col("doc_n"), "left")
      .select(col("doc_id"),
        col("doc_n").isNotNull.as("is_dup"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("doc_i"), lit(-1L)).as("match_id"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"))
  }

  def dedupIncremental(s: SparkSession, d: String): DataFrame =
    ingestShard(s, d, pmod(col("doc_id"), lit(10)) === 0)

  /** Index CLUSTER LABELS as the third staged artifact beside the band
    * and shingle tables: the index-internal near-dup closure (candidate
    * self-join over the staged bands, exact verify over the staged
    * shingles, then the shared star contraction — the same engine as
    * llm_dedup_cluster) is computed once per corpus snapshot and written
    * to parquet; docs in no verified pair label themselves. This is the
    * production layout — cluster membership lives WITH the index and is
    * updated per ingest, never re-derived from the corpus. */
  private[graft] def stagedIndexLabels(s: SparkSession, d: String): DataFrame = {
    val (idxBands, idxSh) = stagedDedupIndex(s, d)
    val dir = StageUtil.staged(s"graft_dedup_labels_${corpusVersion(d)}", d) { base =>
      val tau = 0.8
      val cands = idxBands.as("x").join(idxBands.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      val edges = cands
        .join(idxSh.select(col("doc_id").as("doc_a"), col("hs").as("sa")), "doc_a")
        .join(idxSh.select(col("doc_id").as("doc_b"), col("hs").as("sb")), "doc_b")
        .where(size(col("sa")).cast("double") >= lit(tau) * size(col("sb"))
          && size(col("sb")).cast("double") >= lit(tau) * size(col("sa")))
        .withColumn("i", expr("sorted_intersect_count(sa, sb)"))
        .withColumn("u", size(col("sa")) + size(col("sb")) - col("i"))
        .where(col("i").cast("double") / col("u") >= tau)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
        .localCheckpoint()
      val res = StarContraction.contract(edges)
      idxSh.select(col("doc_id"))
        .join(StarContraction.labels(res.stars)
          .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cc"), col("doc_id")).as("cluster_id"))
        .write.mode("overwrite").parquet(s"$base/labels")
      (edges +: res.live).foreach(MemoUtil.dropCheckpoint)
    }
    Tables.read(s, s"$dir/labels")
  }

  /** INCREMENTAL cluster maintenance — the step after dedupIncremental
    * in a production ingest: each new-shard doc is ASSIGNED a cluster
    * from its verified index matches (min matched cluster id — the
    * survivor-selection order dedupCluster uses), unmatched docs open
    * their own cluster, and docs whose matches span ≥2 existing
    * clusters are flagged `is_merge` — the evidence that those index
    * clusters are transitively one, which a production pipeline applies
    * at the next index compaction rather than rewriting labels inline
    * (the audit, not the rewrite, is the ingest-time product). Cost per
    * ingest is O(matches): both the label table and the band index are
    * staged artifacts, the delta never touches the corpus. The oracle
    * replays the whole construction from the exhaustive pair set: an
    * index-restricted recursive closure labels the index, then new docs
    * aggregate over their new×index pairs. */
  def clusterIncremental(s: SparkSession, d: String): DataFrame = {
    val (base, _, matches) =
      ingestVerified(s, d, pmod(col("doc_id"), lit(10)) === 0)
    val labels = stagedIndexLabels(s, d)
    val asg = matches
      .join(labels.withColumnRenamed("doc_id", "doc_i"), "doc_i")
      .groupBy(col("doc_n"))
      .agg(min(col("cluster_id")).as("cluster_id"),
        countDistinct(col("cluster_id")).as("n_clusters_touched"),
        count(lit(1)).as("n_matches"))
    base.select(col("doc_id"))
      .join(asg, col("doc_id") === col("doc_n"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("n_clusters_touched"), lit(0L)).as("n_clusters_touched"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        (coalesce(col("n_clusters_touched"), lit(0L)) >= 2).as("is_merge"))
  }

  /** INDEX COMPACTION — applies what clusterIncremental only audits:
    * the post-ingest labeling of the WHOLE corpus (index + new shard),
    * composed incrementally and provably equal to a batch re-closure.
    * Construction: staged index labels + per-new-doc provisional labels
    * (min matched cluster, else self) define a quotient; every pair
    * that crosses two provisional labels (new×index matches, plus the
    * delta's broadcast-sized new×new self-join — the only pair space
    * clusterIncremental doesn't need) becomes a CLUSTER-graph edge, and
    * the shared star contraction collapses that tiny quotient graph.
    * Quotient connectivity equals document connectivity (every pair
    * either stays inside one provisional label or contributes its edge)
    * and labels are min-member ids, so min-composition over merged
    * clusters is the global min member — which is why the ORACLE can be
    * the full batch closure over ALL pairs, every doc output: the
    * incremental state and the batch recompute must hash-match. At
    * 100 TB the contraction input is cluster-level (bounded by merge
    * evidence, not corpus size); nothing rescans the corpus beyond the
    * delta. */
  def clusterCompact(s: SparkSession, d: String): DataFrame = {
    val tau = 0.8
    val shardPred = pmod(col("doc_id"), lit(10)) === 0
    val (base, newBands, matches) = ingestVerified(s, d, shardPred)
    val labels = stagedIndexLabels(s, d) // (doc_id, cluster_id)
    // new×new pairs: delta-only band self-join + exact verify
    val nnCands = newBands.as("x").join(broadcast(newBands.as("y")),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val nnPairs = nnCands
      .join(base.select(col("doc_id").as("doc_a"), col("hs").as("sa")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("hs").as("sb")), "doc_b")
      .where(size(col("sa")).cast("double") >= lit(tau) * size(col("sb"))
        && size(col("sb")).cast("double") >= lit(tau) * size(col("sa")))
      .withColumn("i", expr("sorted_intersect_count(sa, sb)"))
      .withColumn("u", size(col("sa")) + size(col("sb")) - col("i"))
      .where(col("i").cast("double") / col("u") >= tau)
      .select(col("doc_a"), col("doc_b"))
    // provisional labels: index docs carry staged labels, new docs the
    // min matched cluster (or themselves)
    val matchLbl = matches
      .join(labels.withColumnRenamed("doc_id", "doc_i"), "doc_i")
      .groupBy(col("doc_n")).agg(min(col("cluster_id")).as("mcl"))
    // least(own, matched): a new doc with a smaller id than everything
    // it matches IS the merged cluster's minimum — labels are min-member
    // ids, so the quotient must let the new doc win (Spark's least
    // skips nulls, covering the unmatched case)
    val newLbl = base.select(col("doc_id"))
      .join(matchLbl, col("doc_id") === col("doc_n"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), col("mcl")).as("plabel"))
    val all = labels.select(col("doc_id"), col("cluster_id").as("plabel"))
      .union(newLbl)
    // cluster-graph edges: one per pair whose endpoints sit in different
    // provisional labels
    val e1 = matches
      .join(labels.withColumnRenamed("doc_id", "doc_i"), "doc_i")
      .join(newLbl.withColumnRenamed("doc_id", "doc_n")
        .withColumnRenamed("plabel", "np"), "doc_n")
      .select(col("np").as("a"), col("cluster_id").as("b"))
    val e2 = nnPairs
      .join(newLbl.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("plabel", "pa"), "doc_a")
      .join(newLbl.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("plabel", "pb"), "doc_b")
      .select(col("pa").as("a"), col("pb").as("b"))
    val cedges = e1.union(e2).where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint()
    val cres = StarContraction.contract(cedges)
    val clbl = StarContraction.labels(cres.stars) // (id = plabel, cc)
    (cedges +: cres.live).foreach(MemoUtil.scratch)
    all.join(clbl.withColumnRenamed("id", "plabel"), Seq("plabel"), "left")
      .select(col("doc_id"),
        coalesce(col("cc"), col("plabel")).as("cluster_id"))
  }

  /** Brute-force cosine top-k: 10 query vectors against all embeddings.
    * Dot/norm folds are in-order double accumulation (bit-identical to
    * the oracle's list_reduce); ranking is on the rounded score with a
    * unique candidate tiebreaker. */
  def similarityTopk(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, d)
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cands = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cands.crossJoin(broadcast(queries))
      .where(col("cid") =!= col("qid"))
      // native codegen'd Expression (graft.functions.CosineSimilarity):
      // same in-order double accumulation as the HOF formulation, ~10×
      // less per-row overhead in the hot cross-join loop
      .select(col("qid"), col("cid"),
        // + 0.0 canonicalizes -0.0 for near-orthogonal pairs
        (round(expr("cosine_sim(qe, ce)"), 4) + lit(0.0)).as("cos"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
  }

  /** Per-document text statistics: token count, distinct tokens,
    * type-token ratio, average token length — all O(len) arithmetic, no
    * array fold needed for the average (total chars = len - spaces). */
  def textStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"), col("lang"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        round(size(array_distinct(col("toks"))).cast("double")
          / size(col("toks")), 4).as("ttr"),
        round((length(col("text")) - (size(col("toks")) - 1)).cast("double")
          / size(col("toks")), 4).as("avg_token_len"))

  /** Multimodal envelope: kind + text + binary payload + typed metadata
    * in one struct column — construct, filter by kind, project through.
    * The blob here is the utf-8 encoding of the text (a real pipeline
    * would carry image/audio bytes; the envelope and the operations on
    * it are identical). */
  def multimodal(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), struct(
        lit("text").as("kind"),
        col("text"),
        encode(col("text"), "UTF-8").as("blob"),
        map(lit("lang"), col("lang"), lit("source"), col("source")).as("meta")
      ).as("media"))
      .where(col("media.kind") === "text")
      .select(
        col("doc_id"),
        col("media.kind").as("kind"),
        octet_length(col("media.blob")).as("n_bytes"),
        element_at(col("media.meta"), "lang").as("lang"),
        element_at(col("media.meta"), "source").as("source"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_dedup_exact" -> dedupExact _,
    "llm_dedup_near" -> dedupNear _,
    "llm_dedup_near_recall" -> dedupNearRecall _,
    "llm_dedup_incremental" -> dedupIncremental _,
    "llm_cluster_incremental" -> clusterIncremental _,
    "llm_cluster_compact" -> clusterCompact _,
    "llm_similarity_topk" -> similarityTopk _,
    "llm_text_stats" -> textStats _,
    "llm_multimodal" -> multimodal _
  )

  // the exhaustive all-pairs near-dup SELECT — its own oracle entry,
  // and the pair CTE the cluster_incremental closure composes over
  private[operators] val oracleNearPairs: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                   for i in range(1, len(t) - 1)]) AS s
      |  FROM toks),
      |ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, len(s) AS n FROM sh)
      |SELECT da AS doc_a, db AS doc_b,
      |       round(i::DOUBLE / (sa.n + sb.n - i), 4) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = da
      |JOIN sizes sb ON sb.doc_id = db
      |WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8""".stripMargin

  def oracle: Map[String, String] = Map(
    "llm_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,
    // exact all-pairs Jaccard via shingle equi-join (the oracle is the
    // exhaustive computation the LSH path approximates-with-verify)
    "llm_dedup_near" -> oracleNearPairs,
    // identical poly-31 gram fold, affine perms, and integer bucket math
    // — the whole recall curve replays exactly
    "llm_dedup_near_recall" ->
      """WITH raw AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 10
        |  ORDER BY doc_id LIMIT 128),
        |rk AS (
        |  SELECT doc_id, t, row_number() OVER (ORDER BY doc_id) - 1 AS k
        |  FROM (SELECT * FROM raw ORDER BY doc_id LIMIT 32)),
        |rend AS (
        |  SELECT doc_id + 10000000 AS doc_id,
        |    t[1:greatest(3, (len(t) * (32 + k)) // 64)] AS t
        |  FROM rk),
        |alld AS (
        |  SELECT doc_id, t FROM raw
        |  UNION ALL SELECT doc_id, t FROM rend),
        |g AS (
        |  SELECT doc_id, list_sort(list_distinct([
        |      list_reduce(list_prepend(0::BIGINT,
        |        [ascii(c)::BIGINT for c in
        |         string_split(t[i] || ' ' || t[i+1] || ' ' || t[i+2], '')]),
        |        (h, c) -> (h * 31 + c) % 1000000007)
        |      for i in range(1, len(t) - 1)])) AS gh
        |  FROM alld),
        |sg AS (
        |  SELECT doc_id, gh,
        |    [list_min(list_transform(gh,
        |       h -> (h * (2*i + 3) + (5*i + 7)) % 1000000007))
        |     for i in range(0, 16)] AS sig
        |  FROM g),
        |p AS (
        |  SELECT len(list_intersect(a.gh, b.gh)) AS i,
        |    len(a.gh) + len(b.gh) - len(list_intersect(a.gh, b.gh)) AS u,
        |    [CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END
        |     for i in range(1, 17)] AS m
        |  FROM sg a JOIN sg b ON a.doc_id < b.doc_id),
        |q AS (
        |  SELECT (i * 10) // u AS j_bucket, list_sum(m) AS matches,
        |    CASE WHEN list_max([
        |      CASE WHEN m[4*j+1] + m[4*j+2] + m[4*j+3] + m[4*j+4] = 4
        |           THEN 1 ELSE 0 END for j in range(0, 4)]) = 1
        |      THEN 1 ELSE 0 END AS band_hit
        |  FROM p)
        |SELECT CAST(j_bucket AS INT) AS j_bucket,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(band_hit) AS BIGINT) AS n_band_hits,
        |  CAST(sum(matches) AS BIGINT) AS sum_sig_matches
        |FROM q GROUP BY j_bucket""".stripMargin,
    // the FULL batch closure over all pairs, every doc output — the
    // strongest statement an incremental construction can make: the
    // composed (staged labels + delta + quotient contraction) state
    // must equal a from-scratch recompute
    "llm_cluster_compact" ->
      s"""WITH RECURSIVE pairs AS (
         |${oracleNearPairs}
         |),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT d.doc_id,
         |       coalesce(least(d.doc_id, m.mn), d.doc_id) AS cluster_id
         |FROM documents d
         |LEFT JOIN (SELECT a, min(b) AS mn FROM reach GROUP BY a) m
         |  ON d.doc_id = m.a""".stripMargin,
    // index-restricted recursive closure labels the index, then new
    // docs aggregate over their exhaustive new×index pairs — replays
    // the staged-labels + assignment construction end to end
    "llm_cluster_incremental" ->
      s"""WITH RECURSIVE pairs AS (
         |${oracleNearPairs}
         |),
         |idx_edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  WHERE doc_a % 10 != 0 AND doc_b % 10 != 0
         |  UNION SELECT doc_b, doc_a FROM pairs
         |  WHERE doc_a % 10 != 0 AND doc_b % 10 != 0),
         |reach(a, b) AS (
         |  SELECT a, b FROM idx_edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN idx_edges e ON r.b = e.a),
         |idx_labels AS (
         |  SELECT d.doc_id,
         |    coalesce(least(d.doc_id, m.mn), d.doc_id) AS cluster_id
         |  FROM documents d
         |  LEFT JOIN (SELECT a, min(b) AS mn FROM reach GROUP BY a) m
         |    ON d.doc_id = m.a
         |  WHERE d.doc_id % 10 != 0),
         |new_matches AS (
         |  SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS doc_n,
         |         CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS doc_i
         |  FROM pairs
         |  WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)),
         |asg AS (
         |  SELECT n.doc_n, min(l.cluster_id) AS cluster_id,
         |         count(DISTINCT l.cluster_id) AS n_clusters_touched,
         |         count(*) AS n_matches
         |  FROM new_matches n JOIN idx_labels l ON l.doc_id = n.doc_i
         |  GROUP BY n.doc_n)
         |SELECT d.doc_id,
         |       coalesce(a.cluster_id, d.doc_id) AS cluster_id,
         |       coalesce(a.n_clusters_touched, 0) AS n_clusters_touched,
         |       coalesce(a.n_matches, 0) AS n_matches,
         |       coalesce(a.n_clusters_touched, 0) >= 2 AS is_merge
         |FROM documents d LEFT JOIN asg a ON a.doc_n = d.doc_id
         |WHERE d.doc_id % 10 = 0""".stripMargin,
    // exhaustive new×index pairs — the incremental LSH path's oracle
    // (same recall argument as llm_dedup_near's all-pairs oracle)
    "llm_dedup_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |                   for i in range(1, len(t) - 1)]) AS s
        |  FROM toks),
        |exn AS (SELECT doc_id, unnest(s) AS shingle FROM sh
        |        WHERE doc_id % 10 = 0),
        |exi AS (SELECT doc_id, unnest(s) AS shingle FROM sh
        |        WHERE doc_id % 10 != 0),
        |inter AS (
        |  SELECT n.doc_id AS dn, i.doc_id AS di, count(*) AS i
        |  FROM exn n JOIN exi i ON n.shingle = i.shingle
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |ver AS (
        |  SELECT dn, di,
        |    round(i::DOUBLE / (sa.n + sb.n - i), 4) AS jaccard
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = dn
        |  JOIN sizes sb ON sb.doc_id = di
        |  WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8),
        |ranked AS (
        |  SELECT dn, di, jaccard,
        |    row_number() OVER (PARTITION BY dn
        |      ORDER BY jaccard DESC, di ASC) AS rn,
        |    count(*) OVER (PARTITION BY dn) AS nm
        |  FROM ver)
        |SELECT nd.doc_id,
        |  (b.dn IS NOT NULL) AS is_dup,
        |  coalesce(b.nm, 0) AS n_matches,
        |  coalesce(b.di, -1) AS match_id,
        |  coalesce(b.jaccard, 0.0) AS jaccard
        |FROM (SELECT doc_id FROM sh WHERE doc_id % 10 = 0) nd
        |LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) b
        |  ON nd.doc_id = b.dn""".stripMargin,
    "llm_similarity_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS cid,
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
        |  WHERE e.vec_id != q.qid)
        |SELECT qid, cid, cos,
        |       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
        |FROM scored
        |QUALIFY rn <= 5""".stripMargin,
    "llm_text_stats" ->
      """SELECT doc_id, lang,
        | len(string_split(text, ' ')) AS n_tokens,
        | len(list_distinct(string_split(text, ' '))) AS n_distinct,
        | round(len(list_distinct(string_split(text, ' ')))::DOUBLE
        |       / len(string_split(text, ' ')), 4) AS ttr,
        | round((length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
        |       / len(string_split(text, ' ')), 4) AS avg_token_len
        |FROM documents""".stripMargin,
    "llm_multimodal" ->
      """SELECT doc_id, 'text' AS kind,
        | octet_length(encode(text)) AS n_bytes,
        | lang, source
        |FROM documents""".stripMargin
  )
}
