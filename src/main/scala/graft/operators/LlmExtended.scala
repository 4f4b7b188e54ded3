package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Extended LLM-training-data operators beyond SURVEY §2.10: SimHash and
  * n-gram dedup variants, embedding near-dup, IVF-style ANN, language ID,
  * quality scoring, token counting, fingerprinting, and the multimodal
  * decode plumbing. Every op is oracle-checked — the algorithms are
  * deterministic, so DuckDB runs the SAME algorithm, not a reference
  * approximation.
  *
  * Cross-engine hashing: Spark's xxhash64 has no DuckDB twin, so ops
  * whose ORACLE needs the hash values use a polynomial rolling hash
  * (h·m + ascii(c)) mod 1e9+7 — wrap-free in 64-bit, identical in both
  * engines. MinHash (LlmOps) keeps xxhash64 because its oracle checks
  * the verified OUTPUT pairs, not the hashes.
  */
object LlmExtended extends OpModule {

  // ── shared text/hash machinery ────────────────────────────────────────

  /** 32-bit SimHash from two 16-bit halves (poly-31 and poly-37 hash
    * families): bit b set iff the majority of shingle hashes have bit b
    * set.
    *
    * Plan-shape caution (the 25× bug this formulation avoids): a
    * higher-order function evaluates its COLLECTION argument once, but
    * anything referenced inside a LAMBDA BODY is re-evaluated on every
    * lambda invocation once CollapseProject inlines it. The original
    * per-bit `filter(h1, ...)` form put the whole char-fold hash tree
    * inside 32 lambda bodies (measured 247 s at sf0.1). Here every
    * expensive subtree appears only as a collection argument: one fold
    * accumulates all 16 bit-majority counters per half, and the bit
    * selection is a zip_with OVER the counter array. */
  private[graft] val simhashExpr = {
    def half(hs: String, shift: Int) =
      s"""aggregate(
         |  zip_with(
         |    aggregate($hs, array_repeat(0, 16),
         |      (acc, x) -> zip_with(acc, sequence(0, 15),
         |        (c, b) -> c + IF((shiftright(x, b) & 1) = 1, 1, -1))),
         |    sequence(0, 15),
         |    (c, b) -> IF(c > 0, shiftleft(1L, b + $shift), 0L)),
         |  0L, (a, x) -> a + x)""".stripMargin
    s"${half("h1", 0)} + ${half("h2", 16)}"
  }

  /** Rolling composition of the poly-31 hash over word 3-shingles:
    * because poly hashes concatenate as h(a||b) = (h(a)·31^len(b) + h(b))
    * mod M, each WORD is char-folded once — h(w) and 31^len(w) in a
    * single pass — and every shingle hash is then four modular
    * multiply-adds over the word summaries. The naive per-shingle char
    * fold re-hashes each character ~3× (consecutive shingles overlap by
    * two words); this is algebraically IDENTICAL (same values bit for
    * bit — the oracle keeps the naive formulation) at ~1/3 the char
    * work. All products stay < M² ≈ 1e18 < 2^63: overflow-free.
    * An empty word (consecutive spaces in text) must compose as the
    * IDENTITY (h=0, p=1): split('', '') yields [''] and one fold step
    * over ascii('')=0 would give p=31 — an extra ×31 factor the
    * oracle's direct char fold doesn't have. Guarded explicitly. */
  private val wordHashExpr =
    """transform(toks, w -> IF(w = '', named_struct('h', 0L, 'p', 1L),
      |  aggregate(split(w, ''),
      |  named_struct('h', 0L, 'p', 1L),
      |  (s, c) -> named_struct(
      |    'h', (s.h * 31 + ascii(c)) % 1000000007,
      |    'p', (s.p * 31) % 1000000007))))""".stripMargin

  /** h1[i] = poly-31 hash of shingle i, composed from word summaries:
    * start from h(w_i), append ' ' then w_{i+1}, then ' ' then w_{i+2}.
    *
    * CRITICAL plan shape: the word-summary array must NOT be a separate
    * projection referenced inside the index lambda — CollapseProject
    * inlines the whole char-fold tree into the lambda body and
    * re-evaluates it for every element_at (measured 277 s at sf0.1, a
    * 30× regression). Instead the word-hash tree is wrapped in a
    * single-element array and bound as a LAMBDA VARIABLE (`wh`): a
    * higher-order function evaluates its collection argument exactly
    * once per row, and lambda-variable references are free. */
  /** Reference HOF formulation, superseded in the query paths by the
    * native `poly_shingles` expression (graft.functions.PolyShingles —
    * one primitive pass per row instead of ~6 interpreted lambda evals
    * per character); kept as the equivalence witness the spec asserts
    * the native kernel against, bit for bit, on the real corpus. */
  private[graft] val shingleHashExpr =
    s"""CASE WHEN size(toks) >= 3 THEN
       |  array_distinct(element_at(transform(array($wordHashExpr),
       |    wh -> transform(sequence(1, size(toks) - 2),
       |      i -> (((((element_at(wh, i).h * 31 + 32) % 1000000007)
       |              * element_at(wh, i + 1).p + element_at(wh, i + 1).h) % 1000000007
       |              * 31 + 32) % 1000000007
       |              * element_at(wh, i + 2).p + element_at(wh, i + 2).h) % 1000000007)),
       |    1))
       |ELSE array() END""".stripMargin

  /** 64-bit fingerprint carried as TWO 32-bit halves (fp_lo, fp_hi):
    * a single 64-bit value would put majority bits in the sign position,
    * where `1 << 63` literals and arithmetic right shifts behave
    * differently across engines — two non-negative halves sidestep that
    * entirely. Bit width matters at scale: 8-bit LSH blocks over a
    * 32-bit fingerprint give 256 bucket values, so candidate pairs grow
    * O(N²/256) — measured 19M candidate pairs at the 10× probe. 16-bit
    * blocks over 64 bits give 65 536 values per family (Manku et al.,
    * "Detecting Near-Duplicates for Web Crawling": wider fingerprints +
    * wider blocks are how simhash survives web scale).
    *
    * Hash families: h2/h3/h4 derive from h1 by multiplicative mixing
    * instead of extra char folds (one fold total; products stay < 2^63:
    * h1 < 1e9+7, constants < 3.3e9). 2654435761 = Knuth; the other two
    * are the xxhash/Murmur-style odd primes. */
  /** The whole fingerprint derives inside ONE lambda with the shingle
    * hashes bound as a lambda variable (`h1`): naming h1 as a column and
    * deriving h2/h3/h4 from it lets CollapseProject inline the full
    * char-fold tree into every reference — 4 corpus-wide hash passes per
    * row (lambda trees are excluded from codegen subexpression
    * elimination, so CSE does not save you). As a lambda variable every
    * h1 reference is free; the native simhash32 folds
    * (graft.functions.SimHash32, bit-identical to simhashExpr,
    * spec-asserted) then run as primitive loops. The consumer splits the
    * struct ABOVE a repartition so the extraction cannot collapse back
    * into two copies of the tree. */
  private def withSimhash(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(col("text"), " "))
      .withColumn("fps", expr(
        s"""element_at(transform(array(poly_shingles(toks)),
           |  h1 -> named_struct(
           |    'lo', simhash32(h1,
           |            transform(h1, x -> (x * 2654435761L) % 1000000007)),
           |    'hi', simhash32(
           |            transform(h1, x -> (x * 2246822519L) % 1000000007),
           |            transform(h1, x -> (x * 3266489917L) % 1000000007)))),
           |1)""".stripMargin))

  // cosine similarity: graft.functions.CosineSimilarity (registered as
  // cosine_sim via GraftExtensions) — in-order double accumulation,
  // bit-identical to the oracles' list_reduce formulation

  // ── dedup variants ────────────────────────────────────────────────────

  /** SimHash near-dup: 64-bit fingerprints (two 32-bit halves), 4×16-bit
    * block LSH (pigeonhole: any pair at hamming ≤ 3 shares at least one
    * clean 16-bit block), exact hamming verify ≤ 3. At 100 TB:
    * fingerprints are 8 bytes/doc, blocks shuffle 4 small keys per doc,
    * and the 65 536-value bucket space keeps candidate pairs
    * O(N²/65 536) — the 8-bit/32-bit variant measured 19M candidate
    * pairs at the 10× probe, this one ~75k. */
  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    // the struct splits ABOVE the repartition: below it the fps tree is
    // computed once, above it fp_lo/fp_hi are free field reads of the
    // shuffled struct (CollapseProject does not merge across an
    // exchange). The repartition also gives the self-join two IDENTICAL
    // exchange subtrees → ReusedExchange computes fingerprints once.
    val docs = withSimhash(Tables.documents(s, d))
      .select(col("doc_id"), col("fps"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        col("fps.lo").as("fp_lo"), col("fps.hi").as("fp_hi"))
    val blocks = docs
      .select(col("doc_id"), col("fp_lo"), col("fp_hi"), posexplode(array(
        (0 until 4).map { j =>
          val half = if (j < 2) col("fp_lo") else col("fp_hi")
          shiftright(half, 16 * (j % 2)).bitwiseAND(lit(65535))
        }: _*)))
      .select(col("doc_id"), col("fp_lo"), col("fp_hi"),
        col("pos").as("blk"), col("col").as("bv"))
    blocks.as("x").join(blocks.as("y"),
        col("x.blk") === col("y.blk") && col("x.bv") === col("y.bv")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        (bit_count(col("x.fp_lo").bitwiseXOR(col("y.fp_lo")))
          + bit_count(col("x.fp_hi").bitwiseXOR(col("y.fp_hi"))))
          .cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= 3)
  }

  /** Perceptual-hash (dHash) near-dup over the BINARY modality — the
    * image twin of llm_dedup_simhash, completing the multimodal family
    * beyond decode plumbing (VERDICT r10 task 4): each blob is
    * "resized" to a 9×8 grid by integer downsampling (72 equal byte
    * segments, pixel = segment mean at 10⁴ fixed point — the
    * deterministic stand-in for a grayscale resize; a production
    * pipeline decodes real image bytes in llm_media_decode's
    * mapPartitions seat and feeds the SAME hash kernel), then the
    * classic difference hash: bit (r,c) set iff pixel(r,c+1) >
    * pixel(r,c) — 8 comparisons × 8 rows = 64 bits in two 32-bit
    * halves. Blobs are the utf-8 envelope bytes (the llm_multimodal
    * contract: byte operations are identical whatever the codec).
    *
    * Candidate generation is 4×16-bit block LSH exactly like simhash:
    * hamming ≤ 3 over 4 blocks pigeonholes one exact block, so the
    * equi-join on (block, value) is LOSSLESS for the accepted radius
    * and the oracle may replay all-pairs-with-hamming directly. All
    * arithmetic is exact-integer and engine-identical: the codegen'd
    * DHash72 kernel on the Spark side, the same formula from hex
    * digits in the DuckDB replay (no float resize anywhere).
    *
    * Scale shape: one primitive O(len) codegen pass per row (DHash72 —
    * the HOF formulation is a CollapseProject trap: every bit
    * comparison re-inlines the pixel array, measured minutes at
    * sf0.01), one (block, value) shuffle for candidates, never
    * all-pairs; docs shorter than 72 bytes have no 9×8 downsample and
    * are excluded by contract (a real image decode always yields ≥ 9×8
    * pixels). */
  def dedupPhash(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    // the halves split ABOVE the repartition (the dedupSimhash layout):
    // below it dhash72 runs once per row; above it ph_hi/ph_lo are free
    // field reads of the shuffled array, and the self-join's two
    // identical exchange subtrees collapse to one ReusedExchange
    // the fixture corpus has no binary near-dups below sf0.1 (exact
    // text dups only appear there), so a bounded slice derives a
    // deterministic RE-ENCODED RENDITION per doc — every byte +1 (a
    // brightness shift; fixture text is such that each pixel mean moves
    // by exactly 10⁴, so every dHash comparison — and the hash — is
    // UNCHANGED): the invariance that makes a perceptual hash a dedup
    // key where an exact hash fails. The oracle replays the derivation.
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val variants = base.where(col("doc_id") < 500)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        expr("""concat_ws('', transform(
          |  filter(split(text, ''), c -> c != ''),
          |  c -> chr(ascii(c) + 1)))""".stripMargin).as("text"))
    val docs = base.unionByName(variants)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      .where(octet_length(col("blob")) >= 72)
      .select(col("doc_id"), expr("dhash72(blob)").as("ph"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        element_at(col("ph"), 1).as("ph_hi"),
        element_at(col("ph"), 2).as("ph_lo"))
    val blocks = docs
      .select(col("doc_id"), col("ph_hi"), col("ph_lo"), posexplode(array(
        (0 until 4).map { j =>
          val half = if (j < 2) col("ph_hi") else col("ph_lo")
          shiftright(half, 16 * (j % 2)).bitwiseAND(lit(65535))
        }: _*)))
      .select(col("doc_id"), col("ph_hi"), col("ph_lo"),
        col("pos").as("blk"), col("col").as("bv"))
    blocks.as("x").join(blocks.as("y"),
        col("x.blk") === col("y.blk") && col("x.bv") === col("y.bv")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        (bit_count(col("x.ph_hi").bitwiseXOR(col("y.ph_hi")))
          + bit_count(col("x.ph_lo").bitwiseXOR(col("y.ph_lo"))))
          .cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= 3)
  }

  /** The binaryFile FRONT DOOR for the perceptual hash (VERDICT r11
    * task 3): llm_dedup_phash synthesizes its blobs in-plane from
    * `documents`; this registers the full media path a production
    * pipeline runs — stage (fixture-only) → DISTRIBUTED binaryFile scan
    * (one row per file, splittable across executors) → codegen'd
    * dhash72 over the raw `content` bytes → the 4×16-bit block LSH
    * keys. Output is the per-file index state (doc_id, byte length,
    * fingerprint halves, block, block value) rather than pairs: the
    * 50-file fixture slice has no planted renditions, and the LSH block
    * table IS what a 100 TB ingest writes before the bucket join. The
    * oracle never sees the staged files — it replays the round trip
    * from `documents` itself (the scan_binaryfile contract), then the
    * identical integer dhash from hex digits, so the CORRECTNESS row
    * spans stage → binary scan → hash → LSH end to end. */
  def dedupPhashFrontdoor(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val files = s.read.format("binaryFile").option("pathGlobFilter", "*.txt")
      .load(Scans.stagedBinDir(s, d))
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.txt$", 1)
          .cast("long").as("doc_id"),
        col("length"), col("content"))
      .where(col("length") >= 72) // dhash contract: 9×8 needs ≥72 bytes
      .select(col("doc_id"), col("length"), expr("dhash72(content)").as("ph"))
      .select(col("doc_id"), col("length"),
        element_at(col("ph"), 1).as("ph_hi"),
        element_at(col("ph"), 2).as("ph_lo"))
    files
      .select(col("doc_id"), col("length"), col("ph_hi"), col("ph_lo"),
        posexplode(array(
          (0 until 4).map { j =>
            val half = if (j < 2) col("ph_hi") else col("ph_lo")
            shiftright(half, 16 * (j % 2)).bitwiseAND(lit(65535))
          }: _*)))
      .select(col("doc_id"), col("length"), col("ph_hi"), col("ph_lo"),
        col("pos").cast("int").as("blk"), col("col").as("bv"))
  }

  /** URL-canonicalization dedup (r12) — the crawl-index dedup every
    * web-corpus pipeline runs BEFORE content dedup: the same page
    * arrives under syntactic URL variants (scheme/host case, default
    * ports, trailing slashes, tracking params, fragments), and folding
    * them costs one per-row string pass where content dedup costs a
    * shingle index. The fixture has no URL column, so each doc derives
    * a deterministic raw URL with planted variant noise (4 variants per
    * group of 4 doc_ids: clean / upper-case+:443+trailing-slash /
    * utm-param / http+:80+utm+fragment — the first three MUST fold to
    * one canonical https URL, the http one must stay distinct: scheme
    * is identity, not noise). Canonicalization = strip fragment,
    * lowercase scheme+authority, strip default port per scheme, strip
    * the trailing path slash (non-root), drop utm_* params, SORT the
    * surviving query params (order is transport noise). Output per
    * canonical URL: doc count, min-id survivor, exact id checksum,
    * merged flag.
    *
    * At 100 TB: canonicalization is fully codegen'd per-row string
    * work fused with the scan; the dedup is ONE hash aggregate on the
    * canonical key (map-side combined — variant groups collapse before
    * the shuffle, the exact-dedup economics). The oracle replays the
    * identical derivation and folding rules. */
  def dedupUrl(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .selectExpr("doc_id", "doc_id div 4 AS g", "pmod(doc_id, 4) AS v")
      .selectExpr("doc_id",
        """CASE v
          | WHEN 0 THEN concat('https://example.org/articles/', g, '?id=', g)
          | WHEN 1 THEN concat('HTTPS://EXAMPLE.ORG:443/articles/', g, '/?id=', g)
          | WHEN 2 THEN concat('https://example.org/articles/', g,
          |                    '?utm_source=feed&id=', g)
          | ELSE concat('http://example.org:80/articles/', g, '?id=', g,
          |             '&utm_campaign=x#frag')
          |END AS url""".stripMargin)
      .withColumn("nofrag", regexp_replace(col("url"), "#.*$", ""))
      .withColumn("pfx",
        lower(regexp_extract(col("nofrag"), "^((?i)https?://[^/?#]*)", 1)))
      .withColumn("rest", expr("substring(nofrag, length(pfx) + 1)"))
      .withColumn("pfx2", expr(
        """CASE WHEN startswith(pfx, 'https://') AND endswith(pfx, ':443')
          |       THEN left(pfx, length(pfx) - 4)
          |     WHEN startswith(pfx, 'http://') AND endswith(pfx, ':80')
          |       THEN left(pfx, length(pfx) - 3)
          |     ELSE pfx END""".stripMargin))
      .withColumn("path", expr("regexp_extract(rest, '^[^?]*', 0)"))
      .withColumn("q", expr(
        "CASE WHEN instr(rest, '?') > 0 THEN substring(rest, instr(rest, '?') + 1) ELSE '' END"))
      .withColumn("q2", expr(
        "array_join(array_sort(filter(split(q, '&'), x -> NOT startswith(x, 'utm_') AND x != '')), '&')"))
      .withColumn("canonical_url", expr(
        """concat(pfx2,
          |  CASE WHEN length(path) > 1 AND endswith(path, '/')
          |       THEN left(path, length(path) - 1) ELSE path END,
          |  CASE WHEN q2 = '' THEN '' ELSE concat('?', q2) END)""".stripMargin))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("survivor_id"),
        sum(col("doc_id")).as("id_sum"))
      .withColumn("is_merged", col("n_docs") > 1)

  /** Exact n-gram (word 4-shingle) Jaccard similarity join at τ=0.5 —
    * the exhaustive exact path (vs MinHash's approximate-then-verify),
    * implemented as an SSJoin-style prefix-filtered equi-join: only
    * shingle-prefix collisions generate candidates (provably lossless),
    * size-filtered, then verified on the full sorted hash arrays. Cost
    * is O(prefix collisions), never all-pairs.
    *
    * The CANONICAL prefix ordering is PPJoin's df-ascending
    * (rarest-first) order (round 8; r7 carried it as a twin): at 100 TB
    * vocabulary skew is the norm — boilerplate shingles shared by
    * millions of docs would otherwise form hot prefix postings whose
    * posting-list self-join is the quadratic term — and rarest-first
    * provably keeps high-df grams out of prefixes. The fixture's
    * df-uniform vocabulary makes the inline df pass look like pure
    * overhead (~1.3 s here); that inversion is a fixture artifact the
    * skewed-vocabulary ScaleProbe tier measures the other way. A
    * production deployment amortizes the df pass by maintaining the
    * gram-frequency index incrementally per ingest. */
  def dedupNgram(s: SparkSession, d: String): DataFrame =
    dedupNgramImpl(s, d, rarestFirst = true)

  /** Hash-order twin (the r7 flagship ordering), spec-only since r9 —
    * not a registered query: prefix = plain slice of the hash-sorted
    * array, zero extra passes. The OUTPUT is provably identical (any
    * consistent global order satisfies the prefix theorem), only the
    * candidate space differs; LlmExtendedSpec's equivalence test pins
    * the pair sets equal, which is the whole job — re-benching an
    * output-identical twin bought nothing for 0.66 s/round. */
  def dedupNgramHash(s: SparkSession, d: String): DataFrame =
    dedupNgramImpl(s, d, rarestFirst = false)

  /** Exhaustive ngram-Jaccard oracle (no prefix notion — replays both
    * the hash-prefix flagship and the rarest-first twin). */
  private val ngramOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
      |                   for i in range(1, len(t) - 2)]) AS s
      |  FROM toks),
      |ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
      |         count(*) AS i
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4)
      |SELECT doc_a, doc_b, round(i::DOUBLE / (na + nb - i), 4) AS jaccard
      |FROM inter WHERE i::DOUBLE / (na + nb - i) >= 0.5""".stripMargin

  private val ngramTau = 0.5

  private def ngramSignatures(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("hs",
        expr("sort_array(array_distinct(xx_ngram_hashes(toks, 4)))"))
      .select(col("doc_id"), col("hs"), size(col("hs")).as("n"))
  }

  private def prefixTable(sh: DataFrame, rarestFirst: Boolean): DataFrame = {
    val tau = ngramTau
    if (!rarestFirst) {
      // explode_outer + null filter, NOT explode: the inferred
      // `size(slice(hs,1,p)) > 0` pre-filter of a plain explode pushes
      // to the scan and re-evaluates the whole shingle-hash tree per row
      // in an interpreted Filter (same pathology measured 3.5× on
      // llm_decontaminate; see LlmScale.decontaminate)
      sh.withColumn("p", col("n") - expr(s"cast(ceil($tau * n) as int)") + 1)
        .select(col("doc_id"), col("n"),
          explode_outer(expr("slice(hs, 1, p)")).as("g"))
        .where(col("g").isNotNull)
    } else {
      val allg = sh.select(col("doc_id"), col("n"), explode(col("hs")).as("g"))
      val dfreq = allg.groupBy(col("g")).agg(count(lit(1)).as("df"))
      allg.join(dfreq, "g")
        .groupBy(col("doc_id"))
        .agg(max(col("n")).as("n"),
          slice(array_sort(collect_list(struct(col("df"), col("g")))),
            lit(1),
            (max(col("n")) - ceil(lit(tau) * max(col("n"))) + 1).cast("int"))
            .as("pre"))
        .select(col("doc_id"), col("n"), explode(col("pre")).as("pg"))
        .select(col("doc_id"), col("n"), col("pg.g").as("g"))
    }
  }

  /** Probe hook (ScaleProbe's skewed-vocabulary tier): prefix posting
    * statistics under an ordering WITHOUT running the candidate join —
    * (max posting length, Σ C(df,2) candidate-pair mass). The pair mass
    * IS the cost the ordering controls: under a skewed vocabulary the
    * hash order lets boilerplate grams into prefixes (hot postings →
    * quadratic mass) while df-ascending provably excludes them. */
  private[graft] def ngramPrefixStats(
      s: SparkSession, d: String, rarestFirst: Boolean): (Long, Long) = {
    val sh = ngramSignatures(s, d).localCheckpoint()
    val r = prefixTable(sh, rarestFirst)
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")), sum(expr("c * (c - 1) div 2"))).head()
    MemoUtil.dropCheckpoint(sh)
    (r.getLong(0), r.getLong(1))
  }

  private def dedupNgramImpl(
      s: SparkSession, d: String, rarestFirst: Boolean): DataFrame = {
    graft.GraftExtensions.register(s)
    val tau = 0.5
    // shingles are carried as SORTED xxhash64 values: an 8-byte element
    // instead of a ~25-char string (intersection counts unchanged unless
    // two distinct shingles collide in 64 bits, P < 1e-10 at this
    // vocabulary; the oracle keeps string keys), and the ascending sort
    // IS the consistent global order prefix filtering needs.
    // localCheckpoint: the signature table is MATERIALIZED once — it has
    // three readers (prefix explode, ha/hb verification joins) and the
    // constraint `isnotnull(n)` inferred from the size-filter join
    // otherwise pushes an interpreted re-evaluation of the whole hash
    // tree into the scan Filter (measured: 3 full hash passes → 1). The
    // production twin persists the signature table to storage (reliable,
    // survives executor loss) — same one-pass economics.
    val sh = MemoUtil.scratch(ngramSignatures(s, d).localCheckpoint())
    // prefix filter (SSJoin/PPJoin, output-invariant): if J(x,y) ≥ τ
    // then |x∩y| ≥ τ·|x|, so under ANY global total order on grams the
    // first n − ⌈τ·n⌉ + 1 elements of x must contain an intersection
    // member (else the non-members preceding it alone would cap the
    // intersection below τ·n) — and symmetrically for y. Only PREFIXES
    // explode and join; candidates verify on the full arrays afterwards.
    // For τ=0.5 this halves the explode and quarters the candidate pairs.
    //
    // Prefix ORDER: the flagship uses the hash-ascending order the
    // arrays already carry (prefix = slice, zero extra passes); the
    // rarest-first twin re-orders each doc's grams by (document
    // frequency ASC, hash ASC) — PPJoin's canonical refinement — via
    // one df aggregate over gram mass and a per-doc aggregate with a
    // map-side array_sort of ≤n (df, g) structs (no window sort). Both
    // are one consistent global total order, so both prefixes satisfy
    // the theorem and the verified OUTPUT is identical; the VERIFY
    // arrays stay hash-sorted for the two-pointer kernel either way.
    val ex = prefixTable(sh, rarestFirst).repartition(col("g"))
    // size filter (also output-invariant): J ≥ τ bounds the size ratio
    val cands = ex.as("a").join(ex.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id")
          && col("a.n").cast("double") >= lit(tau) * col("b.n")
          && col("b.n").cast("double") >= lit(tau) * col("a.n"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val full = sh.select(col("doc_id"), col("hs"))
    // verification kernel: hs is sorted+distinct by construction, so the
    // intersection size is the native two-pointer merge
    // (graft.functions.SortedIntersectCount) — no per-pair hash-set or
    // output-array allocation, stays in whole-stage codegen
    graft.GraftExtensions.register(s)
    cands
      .join(full.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(full.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(col("ha")).as("na"), size(col("hb")).as("nb"),
        expr("sorted_intersect_count(ha, hb)").as("i"))
      .where(col("i").cast("double") / (col("na") + col("nb") - col("i")) >= tau)
      .select(col("doc_a"), col("doc_b"),
        round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4)
          .as("jaccard"))
  }

  /** Asymmetric CONTAINMENT dedup — the doc-inside-doc case symmetric
    * Jaccard misses entirely: a short document quoted whole inside a
    * long one has |A∩B|/|A∪B| ≈ |A|/|B| (arbitrarily low) but
    * C(A→B) = |G(A)∩G(B)| / |G(A)| ≈ 1. Grams are distinct word
    * 8-shingles (the dedup_substring / decontaminate granularity),
    * carried as xxhash64 longs; the oracle keeps strings.
    *
    * Scale shape — the postings self-join is bounded by a STOPGRAM cap:
    * the gram universe drops grams appearing in more than T=64
    * documents (boilerplate — navigation chrome, licenses — which is
    * noise for containment anyway, exactly the stop-shingle rule of the
    * near-dup literature), so each gram's pair fan-out is ≤ T and the
    * whole join is Σ min(df,T)² ≤ T·Σdf — LINEAR in corpus gram mass,
    * with the worst skew key structurally removed rather than salted.
    * Both numerator and denominator range over the capped universe, so
    * the decision gate shared·5 ≥ n_grams·4 (C ≥ 0.8) is exact integer
    * math on identically-defined sets in both engines. Candidate
    * containers additionally pass the SIZE GATE |G(B)| ≥ 0.8·|G(A)|
    * (implied by C ≥ 0.8, so the contained verdict is invariant; pairs
    * that could never pass die inside the join condition). Per doc the
    * output keeps the best PLAUSIBLE container (max shared, min id,
    * size-eligible) — N rows, not a pair table. */
  def dedupContainment(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val T = 64
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    // explode_outer + null filter (not explode): the inferred non-empty
    // pre-filter of a plain explode re-evaluates the gram-hash tree in
    // an interpreted scan Filter (see dedupNgram above)
    val g = MemoUtil.scratch(docs
      .select(col("doc_id"),
        explode_outer(expr("array_distinct(xx_ngram_hashes(toks, 8))"))
          .as("gh"))
      .where(col("gh").isNotNull)
      .localCheckpoint()) // hash tree has 2 readers: df build + universe
    val dfreq = g.groupBy(col("gh")).agg(count(lit(1)).as("df"))
    // capped universe, df carried so the pair join can also skip
    // unshareable df=1 grams; 3 readers (base counts, both join sides)
    val uni = MemoUtil.scratch(g.join(dfreq.where(col("df") <= T), "gh")
      .localCheckpoint())
    val ng = uni.groupBy(col("doc_id")).agg(count(lit(1)).as("ng"))
    // SIZE GATE (round 7): shared ≤ |G(B)|, so C(A→B) ≥ 0.8 forces
    // |G(B)| ≥ 0.8·|G(A)| — a container candidate smaller than that can
    // never pass the contained gate. Pruning those pairs IN the join
    // condition kills them before the pair aggregate shuffles, and the
    // `contained` verdict is invariant under it; the report columns
    // (best_id/shared/containment) now mean "best PLAUSIBLE container"
    // — a candidate that could at least in principle contain the doc —
    // which is the number a curation pipeline acts on. The oracle
    // carries the identical gate. Posting rows pick up their own doc's
    // gram count through a broadcast-sized join (N rows).
    val pairSide = uni.where(col("df") >= 2).join(broadcast(ng), "doc_id")
    val shared = pairSide.as("a").join(pairSide.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") =!= col("b.doc_id")
          && col("b.ng") * 5 >= col("a.ng") * 4)
      .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .agg(count(lit(1)).as("shared"))
    val wBest = Window.partitionBy(col("ida"))
      .orderBy(col("shared").desc, col("idb").asc)
    val best = shared.withColumn("rn", row_number().over(wBest))
      .where(col("rn") === 1)
      .select(col("ida").as("doc_id"), col("idb").as("best_id"),
        col("shared"))
    docs.select(col("doc_id"))
      .join(ng.withColumnRenamed("ng", "n_grams"), Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("best_id"),
        coalesce(col("shared"), lit(0L)).as("shared"))
      .select(col("doc_id"), col("n_grams"), col("best_id"), col("shared"),
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(col("shared") / col("n_grams").cast("double"), 4))
          .as("containment"),
        (col("n_grams") > 0 && col("shared") * 5 >= col("n_grams") * 4)
          .as("contained"))
  }

  /** Embedding-cosine near-dup at τ=0.5, LSH-BUCKETED: candidate pairs
    * form only where the two vectors' 8-bit sign cells (signs of the
    * first 8 dimensions) sit within hamming distance 1 — each vector
    * probes its own cell plus the 8 one-bit flips, the join is an
    * EQUI-JOIN on the cell key (never a crossJoin), and candidates
    * verify with the exact codegen'd cosine. A pair (a, b), a < b,
    * matches through exactly one probe of a, so the candidate set is
    * duplicate-free by construction. Near-dups disagree only on dims
    * near zero, so the 1-bit slack absorbs noise sign-flips; a pair
    * differing in ≥ 2 of the first 8 signs is the accepted LSH miss —
    * the same recall trade llm_dedup_near's band join makes for text.
    * At 100 TB both sides shuffle once on the cell key and no pair
    * space materializes beyond same-bucket candidates. The oracle
    * replays the identical bucketing. */
  def dedupEmbed(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val cellExpr =
      """aggregate(transform(sequence(0, 7),
        |  i -> IF(element_at(embedding, i + 1) > 0, shiftleft(1, i), 0)),
        |0, (a, x) -> a + x)""".stripMargin
    val emb = Tables.embeddings(s, d).withColumn("cell", expr(cellExpr))
    val probes = emb.select(col("vec_id").as("ida"), col("embedding").as("ea"),
      explode(expr(
        "array_union(array(cell), transform(sequence(0, 7), j -> int(cell ^ shiftleft(1, j))))"))
        .as("probe"))
    val cands = emb.select(col("vec_id").as("idb"), col("embedding").as("eb"),
      col("cell"))
    probes.join(cands, col("probe") === col("cell") && col("ida") < col("idb"))
      .withColumn("cos", expr("cosine_sim(ea, eb)"))
      .where(col("cos") >= 0.5)
      .select(col("ida"), col("idb"), round(col("cos"), 4).as("cos"))
  }

  /** SEMANTIC decontamination (r12) — the embedding-space twin of
    * llm_decontaminate: n-gram containment only catches verbatim/near-
    * verbatim benchmark leaks, but a paraphrased eval item leaks
    * through an embedding neighborhood (the Phi/GSM8k-style
    * contamination audits run exactly this check). Eval set = vec_id ≡
    * 7 mod 20 (the llm_decontaminate split convention on the vector
    * table); every eval vector probes its sign cell + the 8 hamming-1
    * flips, candidates restrict to probed-cell train vectors, exact
    * codegen'd cosine at τ=0.35 flags semantic overlap (τ is the
    * benchmark-specific knob — measured here: the random-pair bulk
    * sits near 0.21 at p90, so 0.35 separates structure from noise).
    * Output: one row PER EVAL VECTOR (zero-hit rows included — the
    * release gate needs the clean set too): hit count, max cosine,
    * best train id ((cos DESC, tid ASC) argmax), contaminated flag.
    *
    * At 100 TB: the train side shuffles once on the cell key; the eval
    * side is tiny (eval sets are thousands of rows) and BROADCASTS its
    * 9-probe explosion — per-eval work is probed-cell candidates, the
    * same economics as llm_decontaminate's broadcast-eval semi-join,
    * never eval×corpus. */
  def decontaminateSemantic(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val cellExpr =
      """aggregate(transform(sequence(0, 7),
        |  i -> IF(element_at(embedding, i + 1) > 0, shiftleft(1, i), 0)),
        |0, (a, x) -> a + x)""".stripMargin
    val emb = Tables.embeddings(s, d).withColumn("cell", expr(cellExpr))
    val isEval = pmod(col("vec_id"), lit(20)) === 7
    val evalProbes = emb.where(isEval)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(expr(
          "array_union(array(cell), transform(sequence(0, 7), j -> int(cell ^ shiftleft(1, j))))"))
          .as("probe"))
    val train = emb.where(!isEval)
      .select(col("vec_id").as("tid"), col("embedding").as("te"), col("cell"))
    val hits = train.join(broadcast(evalProbes), col("cell") === col("probe"))
      .select(col("qid"), col("tid"),
        (round(expr("cosine_sim(qe, te)"), 4) + lit(0.0)).as("cos"))
      .where(col("cos") >= 0.35)
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_hits"), max(col("cos")).as("max_cos"),
        min(struct((-col("cos")).as("nc"), col("tid"))).as("bm"))
      .select(col("qid"), col("n_hits"), col("max_cos"),
        col("bm.tid").as("best_train_id"))
    emb.where(isEval).select(col("vec_id").as("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("max_cos"), col("best_train_id"),
        (coalesce(col("n_hits"), lit(0L)) > 0L).as("contaminated"))
  }

  /** The derived session the three LSH rewrite ops plan on: the graft
    * functions registered, the rules installed, the opt-in flag on. */
  private def lshSession(s0: SparkSession): SparkSession = {
    val s = GraftSession.derived(s0, GraftSession.partitionsOf(s0),
      graft.plans.CosineLshRewrite.Flag -> "true")
    graft.GraftExtensions.register(s)
    graft.GraftExtensions.installOptimizations(s)
    s
  }

  /** llm_dedup_embed written the way a USER writes it — a brute-force
    * cosine-threshold self-join with no join key — and rescued by the
    * CosineLshRewrite optimizer rule (plans/CosineLshRewrite.scala, the
    * SURVEY §4.3 `Rule[LogicalPlan]` row): with
    * `spark.graft.lsh.rewrite.enabled=true` the optimizer rewrites the
    * would-be BroadcastNestedLoopJoin into the sign-cell-bucketed
    * equi-join dedupEmbed hand-writes, so the registered plan shuffles
    * once on the cell key instead of materializing N² pairs. Runs on a
    * derived session: the opt-in flag and the extra optimizer rule must
    * not leak into sibling queries that legitimately plan bounded
    * nested loops over cosine scores. Oracle: the identical bucketed
    * replay as llm_dedup_embed — the rewrite IS that algorithm, and
    * CustomSurfaceSpec asserts the plan shape both with and without the
    * flag. */
  def lshAutoRewrite(s0: SparkSession, d: String): DataFrame = {
    val s = lshSession(s0)
    val emb = Tables.embeddings(s, d)
    val a = emb.select(col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("idb"), col("embedding").as("eb"))
    a.join(b, col("ida") < col("idb") && expr("cosine_sim(ea, eb)") >= 0.5)
      .select(col("ida"), col("idb"),
        round(expr("cosine_sim(ea, eb)"), 4).as("cos"))
  }

  /** llm_ann_ivf written the way a USER writes it — brute-force cosine
    * TOP-K: a keyless query×corpus join ranked per query by
    * `row_number() OVER (PARTITION BY qid ORDER BY cos DESC)` and cut at
    * k=3 — and rescued by CosineLshRewrite's SECOND shape (VERDICT r11
    * task 2): with the opt-in flag the optimizer injects the probe=cell
    * equi key into the keyless join (query side explodes its 9 probes,
    * candidate side keeps its own cell), leaving the window + rank
    * filter untouched, so the registered plan is EXACTLY the IVF probe
    * form annIvf hand-writes — same candidates, same rounding, same
    * (cos DESC, cid ASC) tie-break — and the oracle is llm_ann_ivf's
    * verbatim. Derived session for the same isolation reason as
    * lshAutoRewrite. */
  def lshAutoRewriteTopk(s0: SparkSession, d: String): DataFrame = {
    val s = lshSession(s0)
    val emb = Tables.embeddings(s, d)
    val q = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    q.join(c, col("cid") =!= col("qid")) // keyless: would plan BNLJ
      .select(col("qid"), col("cid"),
        (round(expr("cosine_sim(qe, ce)"), 4) + lit(0.0)).as("cos"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
  }

  /** llm_dedup_near written the way a USER writes it — a brute-force
    * set-Jaccard threshold self-join over shingle-hash arrays with no
    * join key — and rescued by the JaccardLshRewrite optimizer rule
    * (the TEXT-side MinHash twin VERDICT r11 named as the remaining
    * §4.3 gap): with the shared opt-in flag the optimizer rewrites the
    * would-be BNLJ (N² pairs × a sort-merge Jaccard each) into the
    * 16-band MinHash equi-join dedupNear hand-writes — both sides
    * pos-explode byte-identical band keys, a first-matching-band
    * conjunct restores exactly-once pair multiplicity, and the original
    * exact predicate verifies survivors. Oracle: llm_dedup_near's
    * all-pairs SQL verbatim (the banding catches every true pair at
    * τ=0.8 — miss probability (1−τ²)¹⁶ ≈ 8e-8 — and verification makes
    * precision 1, so the rescued output equals the exact answer).
    * Derived session for the same flag-isolation reason as
    * lshAutoRewrite; CustomSurfaceSpec asserts the plan has no
    * BNLJ/Cartesian under the flag and row-equality vs llm_dedup_near. */
  def lshAutoRewriteJaccard(s0: SparkSession, d: String): DataFrame = {
    val s = lshSession(s0)
    val base = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        expr("array_distinct(xx_ngram_hashes(toks, 3))").as("hs"))
    val a = base.select(col("doc_id").as("doc_a"), col("hs").as("sa"))
    val b = base.select(col("doc_id").as("doc_b"), col("hs").as("sb"))
    a.join(b, col("doc_a") < col("doc_b")
        && expr("jaccard_sim(sa, sb)") >= 0.8)
      .select(col("doc_a"), col("doc_b"),
        round(expr("jaccard_sim(sa, sb)"), 4).as("jaccard"))
  }

  /** IVF-style approximate nearest neighbor: coarse cells from the sign
    * bits of the first 8 dimensions (deterministic stand-in for k-means
    * centroids), probe = own cell + its 8 hamming-1 neighbors, exact
    * cosine top-3 within the probed cells only. The oracle runs the SAME
    * algorithm — this checks the bucketing machinery, while the spec
    * measures recall against exact top-k. */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val cellExpr =
      """aggregate(transform(sequence(0, 7),
        |  i -> IF(element_at(embedding, i + 1) > 0, shiftleft(1, i), 0)),
        |0, (a, x) -> a + x)""".stripMargin
    val emb = Tables.embeddings(s, d).withColumn("cell", expr(cellExpr))
    val cands = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      col("cell"))
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(expr(
          "array_union(array(cell), transform(sequence(0, 7), j -> int(cell ^ shiftleft(1, j))))"))
          .as("probe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cands.join(broadcast(queries), col("cell") === col("probe"))
      .where(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        (round(expr("cosine_sim(qe, ce)"), 4) + lit(0.0)).as("cos"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
  }

  // ── text analysis ─────────────────────────────────────────────────────

  /** Marker-token language ID (n-gram heuristic). The fixture corpus is a
    * synthetic shared-vocabulary bag, so predictions mostly land on the
    * marker defaults — the point is the deterministic classifier shape
    * (per-language marker hits → argmax with fixed priority); the spec
    * exercises it on real multilingual snippets. */
  def langId(s: SparkSession, d: String): DataFrame = {
    val markers = Map(
      "en" -> Seq("the", "and", "a", "of", "to", "in"),
      "de" -> Seq("der", "die", "das", "und", "ist"),
      "es" -> Seq("el", "los", "las", "que", "y"),
      "fr" -> Seq("le", "les", "des", "et", "est"))
    def hits(lang: String): String = {
      val lits = markers(lang).map(m => s"'$m'").mkString(", ")
      s"size(array_intersect(toks, array($lits)))"
    }
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("h_en", expr(hits("en")))
      .withColumn("h_de", expr(hits("de")))
      .withColumn("h_es", expr(hits("es")))
      .withColumn("h_fr", expr(hits("fr")))
      .withColumn("pred", expr(
        """CASE
          |  WHEN text RLIKE '[\\u4e00-\\u9fff]' THEN 'zh'
          |  WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr AND h_en > 0 THEN 'en'
          |  WHEN h_de >= h_es AND h_de >= h_fr AND h_de > 0 THEN 'de'
          |  WHEN h_es >= h_fr AND h_es > 0 THEN 'es'
          |  WHEN h_fr > 0 THEN 'fr'
          |  ELSE 'und' END""".stripMargin))
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        col("pred").as("predicted_lang"),
        (col("pred") === col("lang")).cast("int").as("agree"))
  }

  /** Composite quality score: length band, token-length band, type-token
    * ratio, alphabetic ratio — equal weights, pure per-row arithmetic. */
  def qualityScore(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("avg_len",
        (length(col("text")) - (col("n_tok") - 1)).cast("double") / col("n_tok"))
      .withColumn("ttr",
        size(array_distinct(col("toks"))).cast("double") / col("n_tok"))
      .withColumn("alpha_ratio",
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
          / length(col("text")))
      .select(
        col("doc_id"),
        round(
          (when(col("n_tok").between(20, 200), 0.25).otherwise(0.0)
            + when(col("avg_len").between(3.0, 10.0), 0.25).otherwise(0.0)
            + col("ttr") * 0.25
            + col("alpha_ratio") * 0.25), 4).as("quality"),
        col("n_tok"), round(col("ttr"), 4).as("ttr"),
        round(col("alpha_ratio"), 4).as("alpha_ratio"))

  /** Canonical text normalization — the step that runs BEFORE every
    * hash in a real pipeline, because "café" composed (U+00E9) and
    * decomposed (e + U+0301) are different bytes to every dedup
    * signature, join key, and exact-match gate in the engine: NFD →
    * strip combining marks (\p{Mn}) → NFC → lowercase → collapse
    * whitespace runs → trim. Unicode normalization is the custom
    * `unicode_normalize` Expression (Spark has NO builtin for it; the
    * JDK normalizer short-circuits on already-normalized input, so the
    * ASCII hot path allocates nothing). Pure per-row map — zero
    * shuffle, scan-bound at any corpus size. Cross-engine contract:
    * the fixture is ASCII where every step is identity-or-lower, and
    * the oracle's nfc_normalize/strip_accents reduce to the same; the
    * non-ASCII semantics (JDK vs DuckDB-ICU, both UAX #15) are pinned
    * against JDK-computed goldens in LlmExtendedSpec instead. */
  def textNormalize(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    Tables.documents(s, d)
      .withColumn("nfd", expr("unicode_normalize(text, 'NFD')"))
      .withColumn("stripped", regexp_replace(col("nfd"), "\\p{Mn}", ""))
      .withColumn("nfc", expr("unicode_normalize(stripped, 'NFC')"))
      .withColumn("norm",
        trim(regexp_replace(lower(col("nfc")), "\\s+", " ")))
      .select(col("doc_id"), col("norm"),
        (col("norm") =!= col("text")).as("changed"))
  }

  /** Token counting three ways: whitespace split, regex word tokens, and
    * a chars/4 subword estimate (the BPE rule of thumb). */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      regexp_count(col("text"), lit("[a-z0-9]+")).as("re_tokens"),
      ceil(length(col("text")).cast("double") / 4).cast("long")
        .as("subword_est"))

  /** Tokenizer FERTILITY by language — the multilingual-bias audit a
    * tokenizer ships with (fertility = subword tokens per whitespace
    * word; a language whose fertility runs 2× pays 2× the context
    * budget and 2× the inference cost for the same content — the
    * standard argument for rebalancing vocab or training data): one
    * zero-shuffle scan folds each doc to (lang, words, regex tokens,
    * chars), a |langs|-row aggregate closes it. Ratios in exact integer
    * basis points (the llm_token_count regex stands in for the BPE
    * tokenizer at fixture scale; the real tokenizer slots into the same
    * per-row fold). */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"),
        size(split(col("text"), " ")).as("ws"),
        regexp_count(col("text"), lit("[a-z0-9]+")).as("re"),
        length(col("text")).as("ch"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).cast("bigint").as("ws_tokens"),
        sum(col("re")).cast("bigint").as("re_tokens"),
        sum(col("ch")).cast("bigint").as("n_chars"))
      .withColumn("fertility_bp",
        expr("CAST((re_tokens * 10000) DIV ws_tokens AS BIGINT)"))
      .withColumn("chars_per_tok_bp",
        expr("CAST((n_chars * 10000) DIV re_tokens AS BIGINT)"))

  /** Rolling-hash document fingerprint: min poly-hash over word
    * 3-shingles (winnowing with window = whole doc). Identical docs share
    * fingerprints; n_same_fp surfaces collision clusters. */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    // same rolling word-hash composition as SimHash (hash each word
    // once, compose shingle hashes algebraically); min is unaffected
    // by the distinct step so the shared expression is reused as-is
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("fp", expr("array_min(poly_shingles(toks))"))
      .select(col("doc_id"), col("fp"),
        count(lit(1)).over(w).as("n_same_fp"))
  }

  // ── multimodal decode plumbing ────────────────────────────────────────

  /** Media decode over binary payloads via mapPartitions — the partition-
    * parallel batch shape a real codec plugs into. STUB: no image/audio
    * libraries exist in this environment, so the "decode" derives
    * deterministic features from the bytes (frame count from length,
    * head-byte mean as a stand-in for pixel stats); the Spark-side
    * plumbing — binary column in, typed feature row out, executed inside
    * the partition iterator — is the real thing. */
  def mediaDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          // STUB decode: a real implementation would run the codec here.
          val nBytes = bytes.length.toLong
          val nFrames = nBytes / 40
          // unsigned byte values: JVM bytes are signed, so & 0xFF keeps
          // multilingual (>= 0x80) payloads consistent with the oracle's
          // byte-level view
          val head = bytes.take(16)
          val headMean =
            if (head.isEmpty) 0.0
            else head.map(b => (b & 0xFF).toDouble).sum / head.length
          (id, nBytes, nFrames, headMean)
        }
      }
      .toDF("doc_id", "n_bytes", "n_frames", "head_mean")
      .select(col("doc_id"), col("n_bytes"), col("n_frames"),
        round(col("head_mean"), 4).as("head_mean"))
  }

  /** UDTF surface (§2.11): corpus bigram frequencies computed THROUGH
    * the native `ngrams` Generator (graft.functions.NGrams) — the table-
    * function extension path (injectFunction → generator planning →
    * GenerateExec), not explode-over-transform. The trailing global
    * window runs over the tiny aggregated vocabulary, not the corpus. */
  def udtfNgrams(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("gram"))
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .selectExpr("doc_id", "ngrams(toks, 2) AS (pos, gram)")
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("n_docs"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 20)
  }

  private lazy val dedupEmbedOracleSql: String =
    s"""WITH cells AS (
       |  SELECT vec_id, embedding,
       |    list_reduce(list_prepend(0::BIGINT,
       |      [CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i)
       |            ELSE 0 END for i in range(0, 8)]),
       |      (a, x) -> a + x) AS cell
       |  FROM embeddings),
       |probes AS (
       |  SELECT vec_id AS ida, embedding AS ea,
       |    unnest(list_distinct(list_prepend(cell,
       |      [xor(cell, 1::BIGINT << j) for j in range(0, 8)]))) AS probe
       |  FROM cells)
       |SELECT p.ida, c.vec_id AS idb,
       |  round(${duckCos("p.ea", "c.embedding")}, 4) AS cos
       |FROM probes p JOIN cells c ON c.cell = p.probe AND p.ida < c.vec_id
       |WHERE ${duckCos("p.ea", "c.embedding")} >= 0.5""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "udtf_ngrams" -> udtfNgrams _,
    "llm_dedup_simhash" -> dedupSimhash _,
    "llm_dedup_phash" -> dedupPhash _,
    "llm_dedup_phash_frontdoor" -> dedupPhashFrontdoor _,
    "llm_dedup_ngram" -> dedupNgram _,
    "llm_dedup_url" -> dedupUrl _,
    "llm_decontaminate_semantic" -> decontaminateSemantic _,
    "llm_lsh_autorewrite_topk" -> lshAutoRewriteTopk _,
    "llm_lsh_autorewrite_jaccard" -> lshAutoRewriteJaccard _,
    "llm_text_normalize" -> textNormalize _,
    // dedupNgramHash is NOT registered (r9): rarest-first is the one
    // canonical ordering (measured: 159 vs 5,000 max posting, 23k vs 75M
    // candidate mass on the skewed-vocabulary tier — SCALE.md); the
    // hash-order twin survives as the candidate-losslessness WITNESS in
    // LlmExtendedSpec ("hash-order twin replays the rarest-first
    // flagship") rather than as a second registered op re-benching the
    // same output 0.66 s/round.
    "llm_dedup_containment" -> dedupContainment _,
    "llm_dedup_embed" -> dedupEmbed _,
    "llm_lsh_autorewrite" -> lshAutoRewrite _,
    "llm_ann_ivf" -> annIvf _,
    "llm_lang_id" -> langId _,
    "llm_quality_score" -> qualityScore _,
    "llm_token_count" -> tokenCount _,
    "llm_tokenizer_fertility" -> tokenizerFertility _,
    "llm_fingerprint" -> fingerprint _,
    "llm_media_decode" -> mediaDecode _
  )

  // DuckDB twins of the shared machinery
  private val shCte =
    """WITH toks AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, text,
      |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                   for i in range(1, len(t) - 1)]) AS s
      |  FROM toks)""".stripMargin

  private def duckPoly(v: String, m: Int): String =
    s"""list_reduce(list_prepend(0::BIGINT,
       |  [ascii(c)::BIGINT for c in string_split($v, '')]),
       |  (h, c) -> (h * $m + c) % 1000000007)""".stripMargin

  private def duckCos(a: String, b: String): String =
    s"""(list_reduce(list_prepend(0.0::DOUBLE,
       |  list_transform(range(1, len($a) + 1),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |  (p, x) -> p + x)
       |/ (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
       |     list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |     (p, x) -> p + x))
       |   * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
       |       list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |       (p, x) -> p + x))))""".stripMargin

  /** dHash replay from hex digits (base → bytes → 72-segment pixel
    * means → difference hash halves → 4×16-bit LSH block keys) over a
    * preceding `corpus(doc_id, text)` CTE — shared verbatim between the
    * in-plane pair op (llm_dedup_phash) and the binaryFile front door
    * (llm_dedup_phash_frontdoor): the hash formula is ONE text, the two
    * ops differ only in corpus and final projection. */
  private val phashReplayCtes: String =
    """base AS (
      |  SELECT doc_id, upper(hex(encode(text))) AS hx,
      |         octet_length(encode(text)) AS len
      |  FROM corpus WHERE octet_length(encode(text)) >= 72),
      |bt AS (
      |  SELECT doc_id, len,
      |    [strpos('0123456789ABCDEF', substring(hx, 2 * i - 1, 1)) * 16
      |     + strpos('0123456789ABCDEF', substring(hx, 2 * i, 1)) - 17
      |     for i in range(1, len + 1)] AS bytes
      |  FROM base),
      |pxt AS (
      |  SELECT doc_id,
      |    [list_reduce(list_prepend(0::BIGINT,
      |        list_slice(bytes, (g * len) // 72 + 1, ((g + 1) * len) // 72)),
      |      (a, x) -> a + x) * 10000
      |     // (((g + 1) * len) // 72 - (g * len) // 72)
      |     for g in range(0, 72)] AS px
      |  FROM bt),
      |ph AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(0::BIGINT,
      |      [CASE WHEN px[(b // 8) * 9 + (b % 8) + 2] >
      |                 px[(b // 8) * 9 + (b % 8) + 1]
      |            THEN (1::BIGINT << b) ELSE 0::BIGINT END
      |       for b in range(0, 32)]), (a, x) -> a + x) AS ph_hi,
      |    list_reduce(list_prepend(0::BIGINT,
      |      [CASE WHEN px[(b // 8 + 4) * 9 + (b % 8) + 2] >
      |                 px[(b // 8 + 4) * 9 + (b % 8) + 1]
      |            THEN (1::BIGINT << b) ELSE 0::BIGINT END
      |       for b in range(0, 32)]), (a, x) -> a + x) AS ph_lo
      |  FROM pxt),
      |blk AS (
      |  SELECT doc_id, ph_hi, ph_lo, unnest([0, 1, 2, 3]) AS b
      |  FROM ph),
      |blkv AS (
      |  SELECT doc_id, ph_hi, ph_lo, b,
      |    CASE b WHEN 0 THEN ph_hi % 65536 WHEN 1 THEN ph_hi // 65536
      |           WHEN 2 THEN ph_lo % 65536 ELSE ph_lo // 65536 END AS bv
      |  FROM blk)""".stripMargin

  /** IVF probe replay — shared verbatim by llm_ann_ivf (the hand-
    * written probe form) and llm_lsh_autorewrite_topk (the brute top-k
    * spelling the optimizer rewrites INTO that form). */
  private lazy val annIvfOracleSql: String =
    s"""WITH cells AS (
       |  SELECT vec_id, embedding,
       |    list_reduce(list_prepend(0::BIGINT,
       |      [CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i)
       |            ELSE 0 END for i in range(0, 8)]),
       |      (a, x) -> a + x) AS cell
       |  FROM embeddings),
       |probes AS (
       |  SELECT vec_id AS qid, embedding AS qe,
       |    unnest(list_distinct(list_prepend(cell,
       |      [xor(cell, 1::BIGINT << j) for j in range(0, 8)]))) AS probe
       |  FROM cells WHERE vec_id < 10),
       |scored AS (
       |  SELECT p.qid, c.vec_id AS cid,
       |    0.0 + round(${duckCos("p.qe", "c.embedding")}, 4) AS cos
       |  FROM probes p JOIN cells c ON c.cell = p.probe
       |  WHERE c.vec_id != p.qid)
       |SELECT qid, cid, cos,
       |       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |FROM scored QUALIFY rn <= 3""".stripMargin

  def oracle: Map[String, String] = Map(
    "llm_dedup_containment" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '')
        |    AS t
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, u AS gs FROM (
        |    SELECT doc_id,
        |      unnest([array_to_string(t[i:i+7], ' ')
        |              for i in range(1, len(t) - 6)]) AS u
        |    FROM t WHERE len(t) >= 8)),
        |df AS (SELECT gs, count(*) AS df FROM g GROUP BY gs),
        |uni AS (
        |  SELECT g.doc_id, g.gs, df.df
        |  FROM g JOIN df USING (gs) WHERE df.df <= 64),
        |ng AS (SELECT doc_id, count(*) AS ng FROM uni GROUP BY 1),
        |pr AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS shared
        |  FROM uni a JOIN uni b
        |    ON a.gs = b.gs AND a.doc_id != b.doc_id
        |  JOIN ng na ON na.doc_id = a.doc_id
        |  JOIN ng nb ON nb.doc_id = b.doc_id
        |  WHERE a.df >= 2 AND nb.ng * 5 >= na.ng * 4
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT ida, idb, shared FROM (
        |    SELECT ida, idb, shared, row_number() OVER (PARTITION BY ida
        |      ORDER BY shared DESC, idb ASC) AS rn FROM pr) WHERE rn = 1),
        |base AS (
        |  SELECT t.doc_id, coalesce(u.n, 0)::BIGINT AS n_grams
        |  FROM t LEFT JOIN (SELECT doc_id, count(*) AS n FROM uni
        |                    GROUP BY 1) u USING (doc_id))
        |SELECT base.doc_id, base.n_grams, best.idb AS best_id,
        |  coalesce(best.shared, 0)::BIGINT AS shared,
        |  CASE WHEN base.n_grams = 0 THEN 0.0
        |       ELSE round(coalesce(best.shared, 0)
        |                  / base.n_grams::DOUBLE, 4) END AS containment,
        |  (base.n_grams > 0
        |   AND coalesce(best.shared, 0) * 5 >= base.n_grams * 4)
        |    AS contained
        |FROM base LEFT JOIN best ON best.ida = base.doc_id""".stripMargin,
    "llm_dedup_simhash" -> (shCte +
      s"""
         |, hashes0 AS (
         |  SELECT doc_id,
         |    [${duckPoly("g", 31)} for g in s] AS h1
         |  FROM sh),
         |hashes AS (
         |  SELECT doc_id, h1,
         |    [(x * 2654435761) % 1000000007 for x in h1] AS h2,
         |    [(x * 2246822519) % 1000000007 for x in h1] AS h3,
         |    [(x * 3266489917) % 1000000007 for x in h1] AS h4
         |  FROM hashes0),
         |fps AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(0::BIGINT,
         |      [CASE WHEN len(list_filter(h1, x -> (x >> b) & 1 = 1)) * 2 > len(h1)
         |            THEN (1::BIGINT << b) ELSE 0 END for b in range(0, 16)]),
         |      (a, x) -> a + x)
         |    + list_reduce(list_prepend(0::BIGINT,
         |      [CASE WHEN len(list_filter(h2, x -> (x >> b) & 1 = 1)) * 2 > len(h2)
         |            THEN (1::BIGINT << (b + 16)) ELSE 0 END for b in range(0, 16)]),
         |      (a, x) -> a + x) AS fp_lo,
         |    list_reduce(list_prepend(0::BIGINT,
         |      [CASE WHEN len(list_filter(h3, x -> (x >> b) & 1 = 1)) * 2 > len(h3)
         |            THEN (1::BIGINT << b) ELSE 0 END for b in range(0, 16)]),
         |      (a, x) -> a + x)
         |    + list_reduce(list_prepend(0::BIGINT,
         |      [CASE WHEN len(list_filter(h4, x -> (x >> b) & 1 = 1)) * 2 > len(h4)
         |            THEN (1::BIGINT << (b + 16)) ELSE 0 END for b in range(0, 16)]),
         |      (a, x) -> a + x) AS fp_hi
         |  FROM hashes)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       bit_count(xor(a.fp_lo, b.fp_lo)::BIT)
         |         + bit_count(xor(a.fp_hi, b.fp_hi)::BIT) AS hamming
         |FROM fps a JOIN fps b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp_lo, b.fp_lo)::BIT)
         |        + bit_count(xor(a.fp_hi, b.fp_hi)::BIT) <= 3""".stripMargin),
    "llm_dedup_ngram" -> ngramOracleSql,
    // all-pairs replay is exact: hamming ≤ 3 over 4 16-bit blocks
    // pigeonholes one identical block, so the LSH block join is
    // lossless for the accepted radius (the simhash argument)
    "llm_dedup_phash" ->
      ("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    array_to_string([chr(ord(c) + 1)
        |                     for c in string_split(text, '')], '')
        |  FROM documents WHERE doc_id < 500),
        |""".stripMargin + phashReplayCtes + """
        |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  CAST(bit_count(xor(x.ph_hi, y.ph_hi)::BIT)
        |     + bit_count(xor(x.ph_lo, y.ph_lo)::BIT) AS BIGINT) AS hamming
        |FROM blkv x JOIN blkv y
        |  ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.ph_hi, y.ph_hi)::BIT)
        |    + bit_count(xor(x.ph_lo, y.ph_lo)::BIT) <= 3""".stripMargin),
    // front door: the oracle replays the staged slice from `documents`
    // itself (doc_id < 50, the scan_binaryfile fixture contract) through
    // the IDENTICAL hash replay, emitting the per-file LSH index rows
    "llm_dedup_phash_frontdoor" ->
      ("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 50),
        |""".stripMargin + phashReplayCtes + """
        |SELECT v.doc_id, CAST(b0.len AS BIGINT) AS length,
        |       v.ph_hi, v.ph_lo, CAST(v.b AS INTEGER) AS blk, v.bv
        |FROM blkv v JOIN base b0 USING (doc_id)""".stripMargin),
    // identical URL derivation + canonicalization rules; DuckDB idioms
    // for the same ops (starts_with/ends_with/strpos, list_* HOFs);
    // COALESCE('') because array_to_string over the emptied param list
    // is NULL in DuckDB where Spark's array_join gives ''
    "llm_dedup_url" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents),
        |u AS (
        |  SELECT doc_id, CASE v
        |    WHEN 0 THEN 'https://example.org/articles/' || g || '?id=' || g
        |    WHEN 1 THEN 'HTTPS://EXAMPLE.ORG:443/articles/' || g || '/?id=' || g
        |    WHEN 2 THEN 'https://example.org/articles/' || g
        |                || '?utm_source=feed&id=' || g
        |    ELSE 'http://example.org:80/articles/' || g || '?id=' || g
        |         || '&utm_campaign=x#frag' END AS url
        |  FROM d),
        |n AS (
        |  SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM u),
        |p AS (
        |  SELECT doc_id, nofrag,
        |    lower(regexp_extract(nofrag, '^((?i)https?://[^/?#]*)', 1)) AS pfx
        |  FROM n),
        |r AS (
        |  SELECT doc_id, pfx, substring(nofrag, length(pfx) + 1) AS rest
        |  FROM p),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN starts_with(pfx, 'https://') AND ends_with(pfx, ':443')
        |           THEN left(pfx, length(pfx) - 4)
        |         WHEN starts_with(pfx, 'http://') AND ends_with(pfx, ':80')
        |           THEN left(pfx, length(pfx) - 3)
        |         ELSE pfx END AS pfx2,
        |    regexp_extract(rest, '^[^?]*', 0) AS path,
        |    CASE WHEN strpos(rest, '?') > 0
        |         THEN substring(rest, strpos(rest, '?') + 1) ELSE '' END AS q
        |  FROM r),
        |c AS (
        |  SELECT doc_id, pfx2
        |    || (CASE WHEN length(path) > 1 AND ends_with(path, '/')
        |             THEN left(path, length(path) - 1) ELSE path END)
        |    || (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END) AS canonical_url
        |  FROM (
        |    SELECT *, COALESCE(array_to_string(list_sort(list_filter(
        |      string_split(q, '&'),
        |      x -> NOT starts_with(x, 'utm_') AND x != '')), '&'), '') AS q2
        |    FROM s))
        |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS survivor_id,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       count(*) > 1 AS is_merged
        |FROM c GROUP BY 1""".stripMargin,
    "llm_dedup_embed" -> dedupEmbedOracleSql,
    // the rewrite rule PRODUCES the bucketed algorithm, so the rewritten
    // brute-force spelling shares llm_dedup_embed's oracle verbatim
    "llm_lsh_autorewrite" -> dedupEmbedOracleSql,
    "llm_ann_ivf" -> annIvfOracleSql,
    // same sign-cell bucketing as the IVF/dedup_embed replays; every
    // eval vector keeps its row (LEFT joins), argmax by (cos DESC, tid)
    "llm_decontaminate_semantic" ->
      (s"""WITH cells AS (
          |  SELECT vec_id, embedding,
          |    list_reduce(list_prepend(0::BIGINT,
          |      [CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i)
          |            ELSE 0 END for i in range(0, 8)]),
          |      (a, x) -> a + x) AS cell
          |  FROM embeddings),
          |pr AS (
          |  SELECT vec_id AS qid, embedding AS qe,
          |    unnest(list_distinct(list_prepend(cell,
          |      [xor(cell, 1::BIGINT << j) for j in range(0, 8)]))) AS probe
          |  FROM cells WHERE vec_id % 20 = 7),
          |h AS (
          |  SELECT * FROM (
          |    SELECT p.qid, t.vec_id AS tid,
          |      0.0 + round(${duckCos("p.qe", "t.embedding")}, 4) AS cos
          |    FROM pr p JOIN cells t
          |      ON t.cell = p.probe AND t.vec_id % 20 != 7)
          |  WHERE cos >= 0.35),
          |agg AS (
          |  SELECT qid, CAST(count(*) AS BIGINT) AS n_hits,
          |         max(cos) AS max_cos
          |  FROM h GROUP BY 1),
          |best AS (
          |  SELECT qid, tid FROM (
          |    SELECT qid, tid, row_number() OVER (PARTITION BY qid
          |      ORDER BY cos DESC, tid ASC) AS rn FROM h) WHERE rn = 1)
          |SELECT c.vec_id AS qid,
          |  COALESCE(a.n_hits, 0::BIGINT) AS n_hits, a.max_cos,
          |  b.tid AS best_train_id,
          |  COALESCE(a.n_hits, 0) > 0 AS contaminated
          |FROM cells c
          |LEFT JOIN agg a ON a.qid = c.vec_id
          |LEFT JOIN best b ON b.qid = c.vec_id
          |WHERE c.vec_id % 20 = 7""".stripMargin),
    // the top-k rewrite PRODUCES the IVF probe algorithm, so the brute
    // rank-per-query spelling shares llm_ann_ivf's oracle verbatim
    "llm_lsh_autorewrite_topk" -> annIvfOracleSql,
    // the Jaccard rescue verifies exactly, so the brute threshold
    // spelling shares llm_dedup_near's all-pairs oracle verbatim
    "llm_lsh_autorewrite_jaccard" -> LlmOps.oracle("llm_dedup_near"),
    // ASCII fixture: both engines' unicode steps reduce to
    // lower+collapse; non-ASCII pinned in LlmExtendedSpec goldens
    "llm_text_normalize" ->
      """WITH n AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(lower(nfc_normalize(strip_accents(text))),
        |         '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, norm, (norm != text) AS changed FROM n""".stripMargin,
    "llm_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang, text,
        |    len(list_intersect(toks, ['the','and','a','of','to','in'])) AS h_en,
        |    len(list_intersect(toks, ['der','die','das','und','ist'])) AS h_de,
        |    len(list_intersect(toks, ['el','los','las','que','y'])) AS h_es,
        |    len(list_intersect(toks, ['le','les','des','et','est'])) AS h_fr
        |  FROM t)
        |SELECT doc_id, lang AS labeled_lang,
        |  CASE
        |    WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
        |    WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr AND h_en > 0 THEN 'en'
        |    WHEN h_de >= h_es AND h_de >= h_fr AND h_de > 0 THEN 'de'
        |    WHEN h_es >= h_fr AND h_es > 0 THEN 'es'
        |    WHEN h_fr > 0 THEN 'fr'
        |    ELSE 'und' END AS predicted_lang,
        |  CASE WHEN (CASE
        |    WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
        |    WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr AND h_en > 0 THEN 'en'
        |    WHEN h_de >= h_es AND h_de >= h_fr AND h_de > 0 THEN 'de'
        |    WHEN h_es >= h_fr AND h_es > 0 THEN 'es'
        |    WHEN h_fr > 0 THEN 'fr'
        |    ELSE 'und' END) = lang THEN 1 ELSE 0 END AS agree
        |FROM h""".stripMargin,
    "llm_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |m AS (
        |  SELECT doc_id, text, len(toks) AS n_tok,
        |    (length(text) - (len(toks) - 1))::DOUBLE / len(toks) AS avg_len,
        |    len(list_distinct(toks))::DOUBLE / len(toks) AS ttr,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
        |      / length(text) AS alpha_ratio
        |  FROM t)
        |SELECT doc_id,
        |  round(
        |    (CASE WHEN n_tok BETWEEN 20 AND 200 THEN 0.25 ELSE 0.0 END)
        |    + (CASE WHEN avg_len BETWEEN 3.0 AND 10.0 THEN 0.25 ELSE 0.0 END)
        |    + ttr * 0.25 + alpha_ratio * 0.25, 4) AS quality,
        |  n_tok, round(ttr, 4) AS ttr,
        |  round(alpha_ratio, 4) AS alpha_ratio
        |FROM m""".stripMargin,
    "llm_token_count" ->
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS ws_tokens,
        | len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens,
        | CAST(ceil(length(text)::DOUBLE / 4) AS BIGINT) AS subword_est
        |FROM documents""".stripMargin,
    // same per-doc fold as llm_token_count, closed per language in bp
    "llm_tokenizer_fertility" ->
      """WITH d AS (
        |  SELECT lang,
        |    len(string_split(text, ' ')) AS ws,
        |    len(regexp_extract_all(text, '[a-z0-9]+')) AS re,
        |    length(text) AS ch
        |  FROM documents),
        |g AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(ws) AS BIGINT) AS ws_tokens,
        |    CAST(sum(re) AS BIGINT) AS re_tokens,
        |    CAST(sum(ch) AS BIGINT) AS n_chars
        |  FROM d GROUP BY lang)
        |SELECT lang, n_docs, ws_tokens, re_tokens, n_chars,
        |  CAST((re_tokens * 10000) // ws_tokens AS BIGINT) AS fertility_bp,
        |  CAST((n_chars * 10000) // re_tokens AS BIGINT) AS chars_per_tok_bp
        |FROM g""".stripMargin,
    "llm_fingerprint" -> (shCte +
      s"""
         |, fps AS (
         |  SELECT doc_id,
         |    list_min([${duckPoly("g", 31)} for g in s]) AS fp
         |  FROM sh)
         |SELECT doc_id, fp,
         |       count(*) OVER (PARTITION BY fp) AS n_same_fp
         |FROM fps""".stripMargin),
    "udtf_ngrams" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ')
        |                         for i in range(1, len(toks))]) AS gram
        |  FROM t WHERE len(toks) >= 2),
        |c AS (SELECT gram, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
        |      FROM g GROUP BY gram)
        |SELECT gram, cnt, n_docs,
        |       row_number() OVER (ORDER BY cnt DESC, gram) AS rn
        |FROM c QUALIFY rn <= 20""".stripMargin,
    "llm_media_decode" ->
      """WITH h AS (
        | SELECT doc_id, octet_length(encode(text)) AS nb,
        |   hex(encode(text)) AS hx,
        |   least(octet_length(encode(text)), 16) AS nh
        | FROM documents)
        |SELECT doc_id,
        | nb AS n_bytes,
        | nb // 40 AS n_frames,
        | round(
        |   list_reduce(list_prepend(0.0::DOUBLE,
        |     [(strpos('0123456789ABCDEF', hx[2*i-1]) - 1) * 16.0
        |        + (strpos('0123456789ABCDEF', hx[2*i]) - 1)
        |      for i in range(1, nh + 1)]),
        |     (a, x) -> a + x)
        |   / greatest(nh, 1), 4) AS head_mean
        |FROM h""".stripMargin
  )
}
