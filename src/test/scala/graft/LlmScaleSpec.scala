package graft

import org.apache.spark.sql.functions._

import graft.operators.{Aggregates, Analytics, LlmScale}

/** Invariant tests for the round-4 corpus ops (+ dim_scd2 / agg_mode).
  * The DuckDB gate proves value equality; these assert the semantic
  * properties the gate can't see (coverage, monotonicity, determinism).
  */
class LlmScaleSpec extends SparkSpec {
  import spark.implicits._

  test("decontaminate: eval split is ids ≡ 7 (mod 20), containment bounded") {
    val out = LlmScale.decontaminate(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 20 == 7)
      val (n, hit) = (r.getAs[Int]("n_grams"), r.getAs[Long]("n_hit"))
      assert(hit >= 0 && hit <= n, s"hits $hit outside [0, $n]")
      val c = r.getAs[Double]("containment")
      assert(c >= 0.0 && c <= 1.0)
      assert(r.getAs[Boolean]("contaminated") == (c >= 0.8))
    }
    // every eval doc appears exactly once, even gram-less short docs
    val nEval = Tables.documents(spark, sf)
      .where(pmod($"doc_id", lit(20)) === 7).count()
    assert(out.length.toLong == nEval)
  }

  test("decontaminate_bloom: one-sided vs exact, joinless probe plan") {
    val exact = LlmScale.decontaminate(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hit"), r.getAs[Boolean]("contaminated"))).toMap
    val bloomDf = LlmScale.decontaminateBloom(spark, sf)
    val bloom = bloomDf.collect()
    // same eval universe, one row per eval doc
    assert(bloom.map(_.getAs[Long]("doc_id")).toSet == exact.keySet)
    var fpHits = 0L; var totalGrams = 0L
    bloom.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (exHit, exCont) = exact(id)
      val bHit = r.getAs[Long]("n_hit")
      // bloom errs one way only: false positives, never negatives
      assert(bHit >= exHit, s"doc $id: bloom $bHit < exact $exHit")
      assert(bHit <= r.getAs[Int]("n_grams").toLong)
      if (exCont) assert(r.getAs[Boolean]("contaminated"),
        s"doc $id: exact-contaminated doc must stay flagged under bloom")
      fpHits += bHit - exHit
      totalGrams += r.getAs[Int]("n_grams").toLong
    }
    // measured-size sketch vs fixture-scale gram counts: fp inflation ≤ 1%
    assert(fpHits <= math.max(1L, totalGrams / 100),
      s"bloom false-positive hits $fpHits exceed 1% of $totalGrams probes")
    // the audit column carries the measured estimate on every row
    val est = bloom.head.getAs[Long]("sketch_items")
    assert(est >= 1024L && bloom.forall(_.getAs[Long]("sketch_items") == est))
    // the scale claim: the probe is map-side — no join anywhere in the
    // main plan (the sketch arrives via scalar subquery, not a join)
    bloomDf.queryExecution.toRdd.count()
    // the only join allowed is the report-assembly join on doc_id; gram
    // membership itself must never become a join (that's the exact op)
    val gramJoins = collectFinal(bloomDf) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if !(j.leftKeys ++ j.rightKeys).mkString.contains("doc_id") => j
    }
    assert(gramJoins.isEmpty,
      s"bloom probe must not join on grams: ${gramJoins.map(_.nodeName)}")
  }

  test("decontaminate_bloom: sketch estimate scales with the corpus") {
    // 10 disjoint-id clones of the fixture corpus → the measured
    // expected-items estimate must scale ~10×, where the r7 literal
    // stayed flat and silently saturated
    val dir = "/tmp/graft-test-bloomsize"
    val base = Tables.documents(spark, sf)
    val top = base.agg(max($"doc_id")).head().getLong(0) + 1
    (0 until 10).map(i => base.withColumn("doc_id", $"doc_id" + lit(i * top)))
      .reduce(_ union _)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val one = LlmScale.bloomExpectedItems(spark, sf)
    val ten = LlmScale.bloomExpectedItems(spark, dir)
    // clone ids shift the eval split (id mod 20), so tolerate slack well
    // inside an order of magnitude while refuting flatness
    assert(ten > 5 * one && ten < 20 * one,
      s"estimate must track corpus size: 1x=$one 10x=$ten")
  }

  test("pack_sequences: token conservation and per-bin slack accounting") {
    val out = LlmScale.packSequences(spark, sf).collect()
    val expected = Tables.documents(spark, sf)
      .groupBy($"lang")
      .agg(sum(least(size(split($"text", " ")), lit(128))).as("tok"))
      .as[(String, Long)].collect().toMap
    assert(out.map(_.getAs[String]("lang")).toSet == expected.keySet)
    out.foreach { r =>
      val lang = r.getAs[String]("lang")
      val (bins, tok, waste) = (r.getAs[Long]("n_bins"),
        r.getAs[Long]("total_tokens"), r.getAs[Long]("total_waste"))
      assert(tok == expected(lang), s"$lang: token count drifted")
      // underfull bins account their slack; overflow bins carry excess,
      // so tokens + waste covers at least the full bin capacity
      assert(tok + waste >= bins * 128, s"$lang: slack accounting broken")
      // tolerance, not re-rounding: Spark round() is HALF_UP while
      // math.rint is half-even — exact .5 ties at the 5th decimal differ
      assert(math.abs(r.getAs[Double]("fill_rate")
        - tok.toDouble / (bins * 128)) <= 5.1e-5)
    }
  }

  test("pack_sweep: one row per cap, conservation at every cap, waste falls as caps shrink") {
    val out = LlmScale.packSweep(spark, sf).collect()
      .map(r => r.getAs[Int]("cap") -> r).toMap
    assert(out.keySet == Set(64, 128, 256, 512))
    val nDocs = Tables.documents(spark, sf).count()
    out.foreach { case (cap, r) =>
      val (bins, tok, waste, bp) = (r.getAs[Long]("n_bins"),
        r.getAs[Long]("total_tokens"), r.getAs[Long]("total_waste"),
        r.getAs[Long]("fill_rate_bp"))
      // truncation cap binds per doc: total tokens exactly equals the
      // per-cap truncated corpus mass
      val expected = Tables.documents(spark, sf)
        .agg(sum(least(size(split($"text", " ")), lit(cap))))
        .as[Long].head()
      assert(tok == expected, s"cap $cap: token mass drifted")
      assert(tok + waste >= bins * cap, s"cap $cap: slack accounting broken")
      assert(bp == tok * 10000 / (bins * cap), s"cap $cap: bp math")
      assert(bins <= nDocs, s"cap $cap: more bins than docs")
    }
    // the C=128 row must reconcile with the base op's per-lang audit
    val base = LlmScale.packSequences(spark, sf).collect()
    assert(out(128).getAs[Long]("total_tokens")
      == base.map(_.getAs[Long]("total_tokens")).sum)
    assert(out(128).getAs[Long]("n_bins")
      == base.map(_.getAs[Long]("n_bins")).sum)
  }

  test("kmeans: partition of all vectors, deterministic across runs") {
    val run1 = LlmScale.kmeans(spark, sf).collect()
      .map(r => (r.getAs[Int]("cluster"), r.getAs[Long]("n_members"),
        r.getAs[Long]("min_vec_id"), r.getAs[Long]("centroid_sum"))).sorted
    val nVec = Tables.embeddings(spark, sf).count()
    assert(run1.map(_._2).sum == nVec, "assignments must partition the corpus")
    assert(run1.forall(c => c._1 >= 0 && c._1 < 4))
    assert(run1.forall(_._2 > 0))
    val run2 = LlmScale.kmeans(spark, sf).collect()
      .map(r => (r.getAs[Int]("cluster"), r.getAs[Long]("n_members"),
        r.getAs[Long]("min_vec_id"), r.getAs[Long]("centroid_sum"))).sorted
    assert(run1.toSeq == run2.toSeq, "exact integer k-means must be deterministic")
  }

  test("kmeans_twolevel: covers corpus, exact accounting, deterministic") {
    val n = Tables.embeddings(spark, sf).count()
    val k = LlmScale.kFor(n)
    val k1 = math.max(2L, math.floor(math.sqrt(k.toDouble)).toLong)
    val rows = LlmScale.kmeansTwoLevel(spark, sf).collect()
    // every point routes through exactly one supercell
    assert(rows.map(_.getAs[Long]("n_points")).sum == n)
    // supercell ids come from the mini-Lloyd seed prefix: [0, K₁)
    assert(rows.forall(r => {
      val s = r.getAs[Int]("scid"); s >= 0 && s < k1
    }))
    rows.foreach { r =>
      val (np, na) = (r.getAs[Long]("n_points"), r.getAs[Long]("n_agree"))
      assert(na >= 0 && na <= np)
      // brute side scores every point against all K fine cells
      assert(r.getAs[Long]("brute_evals") == np * k)
      // hierarchical side: K₁ supercell folds + the chosen cell's fine
      // cells — bounded by K₁ + n_cells of that supercell per point
      assert(r.getAs[Long]("tl_evals") ==
        np * k1 + np * r.getAs[Long]("n_cells"))
      assert(math.abs(r.getAs[Double]("agree_frac")
        - na.toDouble / np) <= 5.1e-5)
    }
    // boundary disagreements are the accepted IMI loss; the hierarchy
    // must still route the clear majority identically to brute force
    val agree = rows.map(_.getAs[Long]("n_agree")).sum.toDouble / n
    assert(agree >= 0.6, s"two-level agreement collapsed: $agree")
    val again = LlmScale.kmeansTwoLevel(spark, sf).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(again.toSeq == rows.map(_.toSeq).sortBy(_.toString).toSeq,
      "integer lattice must make the hierarchy deterministic")
  }

  test("repetition_filter: hand-checked metrics, exact integer gates") {
    val dir = "/tmp/graft-test-llmscale-rep"
    Seq(
      (1L, "a b a b a b", "en", "web", 11L),
      (2L, "a b c d e f g h i j k l", "en", "web", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmScale.repetitionFilter(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // "a b a b a b": top 2-gram "a b" occurs 3× → coverage 6/6 = 1.0
    // (overlap over-counts by design); no repeated 5-gram; fails the gate
    val r1 = out(1L)
    assert(r1.getAs[Int]("n_tokens") == 6)
    assert(math.abs(r1.getAs[Double]("frac_top_2gram") - 1.0) < 1e-9)
    assert(r1.getAs[Double]("frac_dup_5gram") == 0.0)
    assert(!r1.getAs[Boolean]("keep"))
    // 12 distinct tokens: top2 = 1 → 2/12 = 0.1667, passes both gates
    val r2 = out(2L)
    assert(math.abs(r2.getAs[Double]("frac_top_2gram") - 0.1667) < 1e-9)
    assert(r2.getAs[Boolean]("keep"))
    // fixture-wide: one verdict per doc; coverage fractions stay within
    // the overlap-over-count envelopes (≤2 for 2-grams, ≤5 for 5-grams)
    val rows = LlmScale.repetitionFilter(spark, sf).collect()
    assert(rows.length.toLong == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val ft = r.getAs[Double]("frac_top_2gram")
      val fd = r.getAs[Double]("frac_dup_5gram")
      assert(ft >= 0.0 && ft <= 2.0 && fd >= 0.0 && fd <= 5.0,
        s"coverage fractions out of envelope: $ft / $fd")
    }
  }

  test("K scales with the corpus: semdedup pair space is provably linear") {
    // K = max(4, N div 128) caps expected cluster width near 128, so the
    // within-cluster pair budget Σ|cluster|² ≈ N·128 grows LINEARLY with
    // corpus size (a fixed K leaves it at N²/K — quadratic)
    assert(LlmScale.kFor(500L) == 4L,   "fixture scale keeps the K=4 oracle")
    assert(LlmScale.kFor(2000L) == 15L, "bench scale must exceed 4 clusters")
    assert(LlmScale.kFor(1L << 30) == (1L << 30) / 128,
      "K must keep tracking N")
    Seq(1000L, 100000L, 10000000L, 1L << 30).foreach { n =>
      assert(n.toDouble / LlmScale.kFor(n) <= 256.0,
        s"expected cluster width for N=$n exceeds the 2·128 envelope")
    }
    // the shared assignment honors the bound: cluster ids live in [0, K)
    val n = Tables.embeddings(spark, sf).count()
    val k = LlmScale.kFor(n)
    val ids = LlmScale.semdedup(spark, sf)
      .select($"cluster").distinct().collect().map(_.getAs[Int]("cluster"))
    assert(ids.forall(c => c >= 0 && c < k),
      s"cluster ids ${ids.toSeq.sorted} escape [0, $k)")
  }

  test("tfidf: exactly top-5 per language, ranked by (score desc, token)") {
    val out = LlmScale.tfidf(spark, sf).collect()
      .groupBy(_.getAs[String]("lang"))
    out.foreach { case (lang, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("rank"))
      assert(byRank.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length),
        s"$lang: ranks must be contiguous from 1")
      assert(rows.length <= 5)
      val scores = byRank.map(r =>
        (-r.getAs[Double]("score"), r.getAs[String]("tok"))).toSeq
      assert(scores == scores.sorted,
        s"$lang: rank order must follow (score desc, tok asc)")
    }
  }

  test("dim_scd2: one open version per key, ranges chain without gaps") {
    val out = Analytics.dimScd2(spark, sf).collect()
      .groupBy(_.getAs[Long]("o_custkey"))
    out.foreach { case (ck, rows) =>
      val byV = rows.sortBy(_.getAs[Int]("version"))
      assert(byV.map(_.getAs[Int]("version")).toSeq == (1 to rows.length),
        s"cust $ck: versions must be contiguous")
      assert(byV.count(_.getAs[Boolean]("is_current")) == 1,
        s"cust $ck: exactly one current version")
      assert(byV.last.getAs[Boolean]("is_current"))
      byV.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Any]("valid_to") == b.getAs[Any]("valid_from"),
            s"cust $ck: effective ranges must chain")
        case _ => ()
      }
    }
  }

  test("perplexity proxy: every doc scored, mean NLL inside the unigram bounds") {
    val out = LlmScale.perplexityProxy(spark, sf).collect()
    // docs with ≥1 NON-EMPTY token (split always yields at least [""],
    // so size(split(...)) > 0 would be vacuously true)
    val nDocs = Tables.documents(spark, sf)
      .where(expr("exists(split(text, ' '), t -> t != '')")).count()
    assert(out.length.toLong == nDocs)
    // a doc's mean NLL is bounded by the most/least frequent token's NLL
    val toks = Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("tok")).where($"tok" =!= "")
    val total = toks.count().toDouble
    val counts = toks.groupBy($"tok").count()
      .agg(min($"count"), max($"count")).head()
    val (lo, hi) = (-math.log(counts.getLong(1) / total),
      -math.log(counts.getLong(0) / total))
    out.foreach { r =>
      val nll = r.getAs[Double]("mean_nll")
      assert(nll >= lo - 1e-4 && nll <= hi + 1e-4,
        s"doc ${r.getLong(0)}: mean_nll $nll outside [$lo, $hi]")
    }
  }

  test("domain mix: shares sum to one, weights rebalance toward the target") {
    val out = LlmScale.domainMix(spark, sf).collect()
    val shareSum = out.map(_.getAs[Double]("token_share")).sum
    assert(math.abs(shareSum - 1.0) < out.length * 5e-5,
      s"token shares must sum to ~1, got $shareSum")
    out.foreach { r =>
      val w = r.getAs[Long]("weight_fp")
      assert(w > 0)
      // over-represented sources must be downweighted and vice versa
      assert(r.getAs[Boolean]("over_represented") == (w < 10000)
        || w == 10000)
    }
  }

  test("no hash-tree recompute at the scan: similarity-join DataFilters stay cheap") {
    // regression guard for the InferFiltersFromGenerate trap: a plain
    // explode over a computed gram array pushes size(<tree>) > 0 to the
    // FileScan, re-evaluating the whole hash tree per row, interpreted
    import org.apache.spark.sql.execution.FileSourceScanExec
    Seq(
      graft.operators.LlmScale.decontaminate(spark, sf),
      graft.operators.LlmExtended.dedupNgram(spark, sf),
      graft.operators.LlmOps.dedupNear(spark, sf)
    ).foreach { df =>
      val scanFilters = collectFinal(df) {
        case sc: FileSourceScanExec => sc.dataFilters.map(_.sql).mkString(";")
      }
      scanFilters.foreach { f =>
        assert(!f.contains("xxhash64") && !f.toLowerCase.contains("lambda"),
          s"hash tree leaked into a scan filter: $f")
      }
    }
  }

  test("cooccur: pairs canonical, counts consistent, ranked by exact ratio") {
    val rows = operators.LlmScale.cooccur(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      assert(r.getAs[String]("a") < r.getAs[String]("b"), "a < b canonical")
      val (cab, ca, cb) = (r.getAs[Long]("c_ab"), r.getAs[Long]("c_a"),
        r.getAs[Long]("c_b"))
      assert(cab <= ca && cab <= cb, "pair count bounded by marginals")
    }
    // descending by the fixed-point score (the PMI ranking key)
    val scores = rows.map(_.getAs[Long]("score_fp")).toSeq
    assert(scores == scores.sorted.reverse, "sorted by score_fp desc")
  }

  test("inverted index: postings capped at 5 and df bounds the posting count") {
    val rows = operators.LlmScale.invertedIndex(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val posts = r.getAs[String]("postings").split(",")
      val df = r.getAs[Long]("df")
      assert(posts.length <= 5 && posts.length == math.min(df, 5L).toInt)
      assert(r.getAs[Long]("total_tf") >= df, "each posting doc has tf >= 1")
      // postings are doc:tf with tf descending
      val tfs = posts.map(_.split(":")(1).toLong).toSeq
      assert(tfs == tfs.sorted.reverse, "postings ranked by tf desc")
    }
  }

  test("semdedup: partition preserved, kept set has one survivor per dup group") {
    val out = operators.LlmScale.semdedup(spark, sf).cache()
    try {
      val n = Tables.embeddings(spark, sf).count()
      assert(out.count() == n, "one verdict per vector")
      // within every cluster at least one vector survives
      val clusters = out.groupBy($"cluster")
        .agg(count(lit(1)).as("n"), sum(when($"keep", 1L).otherwise(0L)).as("k"))
        .collect()
      clusters.foreach(r => assert(r.getAs[Long]("k") >= 1,
        s"cluster ${r.get(0)} lost all members"))
      // identical vectors (exact clones) must collapse: the clone with the
      // smallest id keeps, others drop — check via exact-duplicate groups
      val dupGroups = Tables.embeddings(spark, sf)
        .groupBy($"embedding").agg(count(lit(1)).as("c"), min($"vec_id").as("m"))
        .where($"c" > 1)
      val survivorsAmongClones = dupGroups
        .join(out, dupGroups("m") === out("vec_id"))
        .where(!$"keep").count()
      assert(survivorsAmongClones == 0,
        "min-id member of every clone group must be kept")
    } finally out.unpersist()
  }

  test("ann_ivf_kmeans: per-query top-3 within probed cells, exact & ordered") {
    val out = operators.LlmScale.annIvfKmeans(spark, sf).collect()
    // every query with ≥3 reachable candidates reports exactly 3 ranks
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    assert(byQ.nonEmpty && byQ.keySet.forall(_ < 10))
    byQ.foreach { case (qid, rows) =>
      val ranks = rows.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"q$qid ranks not contiguous")
      // distances ascend with rank, never include the query itself
      val ordered = rows.sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Long]("dist")).toSeq
      assert(ordered == ordered.sorted, s"q$qid distances out of order")
      assert(rows.forall(_.getAs[Long]("cand_id") != qid))
      // a probed list is the query's own cell ⇒ rank-1 distance is ≤ the
      // distance to any same-cell neighbor; with exact clones in the
      // fixture a zero distance must win rank 1 when present
      if (ordered.contains(0L)) assert(ordered.head == 0L)
    }
    // candidates only come from ≤2 cells per query
    byQ.foreach { case (qid, rows) =>
      assert(rows.map(_.getAs[Int]("cluster")).distinct.size <= 2,
        s"q$qid probed more than nprobe=2 cells")
    }
  }

  test("ann_pq: ADC top-3 ordered per query, estimate bounded, deterministic") {
    val out = operators.LlmScale.annPq(spark, sf).collect()
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    assert(byQ.nonEmpty && byQ.keySet.forall(_ < 10))
    byQ.foreach { case (qid, rows) =>
      val ranks = rows.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"q$qid ranks not contiguous")
      // approximate distances ascend with rank; the query never ranks
      val ordered = rows.sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Long]("adist")).toSeq
      assert(ordered == ordered.sorted, s"q$qid adist out of order")
      assert(rows.forall(_.getAs[Long]("cand_id") != qid))
      // both distance columns are squared metrics — non-negative
      assert(rows.forall(r => r.getAs[Long]("adist") >= 0L &&
        r.getAs[Long]("exact_dist") >= 0L))
    }
    // deterministic end to end (codebooks, codes, tables, ranks)
    val again = operators.LlmScale.annPq(spark, sf).collect()
    assert(out.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("gram_matrix: upper triangle complete, diagonal PSD, partition-invariant") {
    val out = operators.LlmScale.gramMatrix(spark, sf).collect()
    assert(out.length == 64 * 65 / 2, "upper triangle of a 64x64 matrix")
    val n = Tables.embeddings(spark, sf).count()
    out.foreach { r =>
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("i") <= r.getAs[Long]("j"))
    }
    // diagonal entries are sums of squares — never negative
    out.filter(r => r.getAs[Long]("i") == r.getAs[Long]("j"))
      .foreach(r => assert(r.getAs[Long]("gram") >= 0L))
    // the aggregation must commute with partitioning (map-side partials):
    // recompute one cell from first principles
    val q = Tables.embeddings(spark, sf).select(expr(
      "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))")
      .as("q"))
    val expected = q.select(
        (expr("element_at(q, 1)") * expr("element_at(q, 2)")).as("p"),
        expr("element_at(q, 1)").as("a"))
      .agg(sum(col("p")).as("g01"), sum(col("a")).as("s0")).head()
    val cell = out.find(r => r.getAs[Long]("i") == 0 && r.getAs[Long]("j") == 1).get
    assert(cell.getAs[Long]("gram") == expected.getAs[Long]("g01"))
    assert(cell.getAs[Long]("s_i") == expected.getAs[Long]("s0"))
  }

  test("dedup_substring: every doc reported, exact-dup docs fully covered") {
    val out = operators.LlmScale.dedupSubstring(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(out.length.toLong == nDocs, "one row per document")
    out.foreach { r =>
      val (n, spans, grams, dup) = (r.getAs[Int]("n_tokens"),
        r.getAs[Long]("n_dup_spans"), r.getAs[Long]("n_dup_grams"),
        r.getAs[Long]("dup_tokens"))
      assert(dup >= 0 && dup <= n, s"coverage $dup outside [0, $n]")
      assert(grams >= spans, "each span holds >= 1 duplicated gram")
      assert((spans == 0) == (dup == 0))
      assert(r.getAs[Boolean]("keep") == (dup * 2 <= n))
    }
    // clone semantics on a controlled corpus (the tiny SFs carry no exact
    // duplicates): a text occurring twice is duplicated END TO END (one
    // span covering all tokens); a doc sharing only its 10-token prefix
    // with another gets exactly that prefix as its single span; a
    // fully-unique doc reports zero coverage
    val dir = java.nio.file.Files.createTempDirectory("graft_substr").toString
    val words = (0 until 30).map(i => s"w$i")
    val prefix = (0 until 10).map(i => s"p$i").mkString(" ")
    Seq(
      (0L, words.take(20).mkString(" ")),
      (1L, words.take(20).mkString(" ")),                 // exact clone of 0
      (2L, prefix + " " + (0 until 12).map(i => s"a$i").mkString(" ")),
      (3L, prefix + " " + (0 until 12).map(i => s"b$i").mkString(" ")),
      (4L, (0 until 15).map(i => s"u$i").mkString(" "))   // fully unique
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val tiny = operators.LlmScale.dedupSubstring(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_dup_spans"), r.getAs[Long]("dup_tokens"))).toMap
    assert(tiny(0L) == (1L, 20L) && tiny(1L) == (1L, 20L),
      "exact clones must be covered end to end by one span")
    assert(tiny(2L) == (1L, 10L) && tiny(3L) == (1L, 10L),
      "shared 10-token prefix must be exactly the one duplicated span")
    assert(tiny(4L) == (0L, 0L), "unique doc must report zero coverage")
  }

  test("ann_ivf_kmeans plan guard: corpus joins the probes by EQUI cluster key") {
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    // the only non-equi join allowed is the 10-query × K-centroid probe
    // selection (a broadcast NLJ over rows bounded by queries·K); the
    // CORPUS side must reach the probes through an equi join on the
    // cluster id — an NLJ or cartesian against the inverted file is the
    // all-pairs regression this guard pins
    val df = operators.LlmScale.annIvfKmeans(spark, sf)
    df.queryExecution.toRdd.count()
    val nlj = collectFinal(df) {
      case p: BroadcastNestedLoopJoinExec => p
      case p: CartesianProductExec        => p
    }
    assert(nlj.size <= 1,
      s"only the probe-selection NLJ is allowed, found ${nlj.size}")
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    val equiOnCluster = collectFinal(df) {
      case p: BroadcastHashJoinExec
        if p.leftKeys.exists(_.toString.contains("cluster")) => p
      case p: ShuffledHashJoinExec
        if p.leftKeys.exists(_.toString.contains("cluster")) => p
      case p: SortMergeJoinExec
        if p.leftKeys.exists(_.toString.contains("cluster")) => p
    }
    assert(equiOnCluster.nonEmpty,
      "the corpus must reach the probes through an equi join on cluster id")
  }

  test("kmeans plan guard: assign routes supercell-first through an scid equi join") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    // replay one hierarchical assign over the memoized round-2 lattice —
    // the same code path lloydBuild runs (a2/c2 are checkpointed, so the
    // assign topology is invisible in llm_kmeans' own executed plan)
    val (qv, _, _, c2) = operators.LlmScale.lloyd(spark, sf)
    val scratch =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val asg = operators.LlmScale.hierarchicalAssign(qv, c2, scratch)
    try {
      asg.queryExecution.toRdd.count()
      // structural witness of the hierarchy: points reach fine cells
      // through an equi join on the routed supercell id. The brute
      // O(N·K) regression (qv × all-K-cells) has no scid anywhere.
      val scidJoin = collectFinal(asg) {
        case p: BroadcastHashJoinExec
          if (p.leftKeys ++ p.rightKeys).mkString.contains("scid") => p
        case p: ShuffledHashJoinExec
          if (p.leftKeys ++ p.rightKeys).mkString.contains("scid") => p
        case p: SortMergeJoinExec
          if (p.leftKeys ++ p.rightKeys).mkString.contains("scid") => p
      }
      assert(scidJoin.nonEmpty,
        "assign must route points to fine cells via an scid equi join " +
          "(brute all-cells argmin reintroduced?)")
      // and the assignment stays TOTAL — every vector lands in a cluster
      assert(asg.count() == qv.count())
    } finally scratch.foreach(operators.MemoUtil.dropCheckpoint)
    // behavioral witness from the agreement op's exact accounting: the
    // per-point hierarchical work is k1 + |chosen cell| ≤ k1 + K, and
    // the asymptotic win (2√K ≪ K) is ScaleProbe's to measure — at
    // fixture scale K=4, K₁=2 the hierarchy legitimately costs MORE
    // (k1 + probed ≥ K), so only the accounting bound is pinned here
    val n = Tables.embeddings(spark, sf).count()
    val k = operators.LlmScale.kFor(n)
    val k1 = math.max(2L, math.floor(math.sqrt(k.toDouble)).toLong)
    val tl = operators.LlmScale.kmeansTwoLevel(spark, sf)
      .agg(sum(col("tl_evals")), sum(col("brute_evals"))).head()
    assert(tl.getLong(0) <= n * (k1 + k),
      s"hierarchical evals ${tl.getLong(0)} exceed the N·(K₁+K) ceiling")
    assert(tl.getLong(1) == n * k, "brute side must evaluate all K cells")
  }

  test("ann_recall: one row per query, recall in [0,1], exact thirds") {
    val out = operators.LlmScale.annRecall(spark, sf).collect()
    assert(out.map(_.getAs[Long]("qid")).toSet.forall(_ < 10))
    out.foreach { r =>
      val (hit, rec) = (r.getAs[Long]("n_hit"), r.getAs[Double]("recall_at_3"))
      assert(hit >= 0 && hit <= 3)
      assert(rec >= 0.0 && rec <= 1.0)
      // recall is n_hit/k rounded once — re-derive to pin the division
      assert(math.abs(rec - math.rint(hit / 3.0 * 10000) / 10000) < 5.1e-5)
    }
  }

  test("ann_pq_recall: one row per query, recall in [0,1], exact thirds") {
    val out = operators.LlmScale.annPqRecall(spark, sf).collect()
    assert(out.length == 10)
    out.foreach { r =>
      val (hit, rec) = (r.getAs[Long]("n_hit"), r.getAs[Double]("recall_at_3"))
      assert(hit >= 0 && hit <= 3)
      assert(rec >= 0.0 && rec <= 1.0)
      assert(math.abs(rec - math.rint(hit / 3.0 * 10000) / 10000) < 5.1e-5)
    }
    // no recall floor asserted (mirrors the IVF recall spec): unit-scale
    // gaussian noise is ANN's adversarial case — at sf0.001 the 32×
    // compression measurably recovers only a fraction of exact
    // neighbors, and REPORTING that honestly is this op's entire job
  }

  test("ann_graph: bounded degree, connected curve, spread entries, bounded beam work") {
    import org.apache.spark.sql.functions.{col, count => fcount, lit, max => fmax}
    val (adj, entries, qv) = operators.LlmScale.annGraphAdjacency(spark, sf)
    val n = qv.count()
    // bounded out-degree: <= 8 capped knn + 2 curve + 12 fingers
    val maxDeg = adj.groupBy(col("src")).agg(fcount(lit(1)).as("d"))
      .agg(fmax(col("d"))).collect().head.getLong(0)
    assert(maxDeg <= 22, s"out-degree must stay bounded, got $maxDeg")
    // every node has edges, and |E| <= 22N (the O(N) index-size claim)
    assert(adj.select(col("src")).distinct().count() == n)
    assert(adj.count() <= 22 * n)
    // entry sample: <= 16 nodes
    val ne = entries.count()
    assert(ne >= 1 && ne <= 16, s"entry sample must be <=16, got $ne")
    // beam work bound: the search touches <= 16 + hops*beam*deg distinct
    // candidates per query — the recall row itself proves the search
    // ran; here the structural bound is the graph's degree cap above
    val out = operators.LlmScale.annGraph(spark, sf).collect()
    assert(out.length == 10)
    out.foreach { r =>
      val (hit, rec) = (r.getAs[Long]("n_hit"), r.getAs[Double]("recall_at_3"))
      assert(hit >= 0 && hit <= 3)
      assert(rec >= 0.0 && rec <= 1.0)
      assert(math.abs(rec - math.rint(hit / 3.0 * 10000) / 10000) < 5.1e-5)
    }
    // unlike the compression evals, the graph search walks EXACT
    // distances over real proximity edges — a collapse to ~zero recall
    // means the navigation broke (the r13 curve-only draft measured
    // 0.03 mean; cells + fingers measured 0.67 at sf0.01), so pin a
    // conservative floor rather than no floor
    val mean = out.map(_.getAs[Double]("recall_at_3")).sum / out.length
    assert(mean >= 0.3, s"graph-ANN mean recall collapsed: $mean")
  }

  test("ann_graph_sweep: recall monotone in beam, bounds literal, width-8 equals the flagship") {
    val rows = operators.LlmScale.annGraphSweep(spark, sf).collect()
      .map(r => (r.getAs[Int]("beam"), r.getAs[Int]("evals_bound"),
        r.getAs[Long]("n_hit"), r.getAs[Double]("recall_at_3")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(2, 4, 8))
    rows.foreach { case (b, ev, hit, rec) =>
      // the cost column is a LITERAL function of the knob — the graph
      // index's defining property vs IVF's data-dependent cell sizes
      assert(ev == 16 + 6 * b * 22)
      assert(hit >= 0 && hit <= 30 && rec >= 0.0 && rec <= 1.0)
    }
    // a wider beam never discards a narrower beam's candidates' rank
    // slots for worse ones at the FINAL cap... monotonicity can break
    // per-query in adversarial graphs, but the aggregate curve must
    // not collapse: width 8 >= width 2
    assert(rows.last._3 >= rows.head._3,
      s"beam-8 recall must dominate beam-2: $rows")
    // the width-8 arm IS llm_ann_graph's search — totals agree
    val flag = operators.LlmScale.annGraph(spark, sf).collect()
      .map(_.getAs[Long]("n_hit")).sum
    assert(rows.last._3 == flag, s"sweep w8 ${rows.last._3} vs flagship $flag")
  }

  test("url_normalize: four messy variants collapse to one canonical form") {
    val rows = operators.LlmScale.urlNormalize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cu = r.getAs[String]("canonical_url")
      assert(cu == cu.toLowerCase, s"canonical not lowercase: $cu")
      assert(!cu.contains(":443") && !cu.contains("utm_"), s"residue in $cu")
      assert(r.getAs[Long]("n_variants") == 4L, "doc_id div 4 grouping")
      // params sorted: a= before b=
      val q = cu.split("\\?")(1)
      assert(q.startsWith("a=") && q.contains("&b=2"), s"params unsorted: $q")
    }
  }

  test("dataset card: ratios in [0,1] and token mean consistent") {
    val m = operators.LlmScale.datasetCard(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("n_docs") > 0)
    assert(m("short_doc_ratio") >= 0 && m("short_doc_ratio") <= 1)
    assert(m("dup_doc_ratio") >= 0 && m("dup_doc_ratio") <= 1)
    assert(math.abs(m("mean_doc_tokens") - m("n_tokens") / m("n_docs")) < 1e-3)
  }

  test("bpe_stats: pair mass bounded by corpus char mass, hand case agrees") {
    val rows = operators.LlmScale.bpeStats(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getAs[String]("pair").length == 2)
      assert(r.getAs[Long]("cnt") >= r.getAs[Long]("n_contexts"),
        "corpus count >= type-position count")
    }
    // cross-check the top pair against a direct substring recount
    val top = rows.head.getString(0)
    val recount = Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("w")).where($"w" =!= "")
      .select(expr(
        s"cast(size(regexp_extract_all(w, '(?=(${top}))', 1)) as bigint)")
        .as("k"))
      .agg(sum($"k")).head().getLong(0)
    assert(rows.head.getAs[Long]("cnt") == recount,
      s"top pair '$top' count mismatch: ${rows.head.getAs[Long]("cnt")} vs $recount")
  }

  test("rlhf_pairs: one pair per slice, positive margin, members from slice") {
    val rows = operators.LlmScale.rlhfPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    val keys = rows.map(r => (r.getString(0), r.getString(1)))
    assert(keys.distinct.length == keys.length, "at most one pair per slice")
    rows.foreach { r =>
      assert(r.getAs[Long]("margin_fp") > 0, "chosen strictly beats rejected")
      assert(r.getAs[Long]("chosen_doc") != r.getAs[Long]("rejected_doc"))
    }
  }

  test("agg_mode: reported mode frequency is the group maximum") {
    val out = Aggregates.aggMode(spark, sf).collect()
    val maxN = Tables.orders(spark, sf)
      .groupBy($"o_orderstatus", $"o_orderpriority").count()
      .groupBy($"o_orderstatus").agg(max($"count").as("m"))
      .as[(String, Long)].collect().toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("mode_n") == maxN(r.getAs[String]("o_orderstatus")))
    }
  }

  test("llm_bpe_train: three merges match an independent in-memory BPE") {
    import spark.implicits._
    val out = LlmScale.bpeTrain(spark, sf).collect()
      .map(r => (r.getAs[Int]("iteration"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_count"))).sortBy(_._1)
    assert(out.map(_._1).sameElements(Array(1, 2, 3)))
    out.foreach { case (_, l, r, m, c) => assert(m == l + r && c > 0) }
    // reference BPE on the collected word-count table
    var vocab: Seq[(Vector[String], Long)] = Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("w"))
      .where($"w" =!= "" && !$"w".contains("|") && length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect().toSeq
      .map { case (w, c) => (w.split("").toVector, c) }
    val want = (1 to 3).map { _ =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.zip(syms.tail).foreach(p =>
          counts(p) = counts.getOrElse(p, 0L) + c)
      }
      val ((pa, pb), cnt) = counts.toSeq
        .minBy { case ((a, b), n) => (-n, a, b) }
      vocab = vocab.map { case (syms, c) =>
        val merged = syms.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == pa && x == pb)
            acc.init :+ (pa + pb)
          else acc :+ x
        }
        (merged, c)
      }
      (pa, pb, cnt)
    }
    out.zip(want).foreach { case ((_, l, r, _, c), (pa, pb, cnt)) =>
      assert(l == pa && r == pb && c == cnt)
    }
  }

  test("ann_opq: Hadamard rotation balances subspace energy and cuts grid error") {
    val rows = LlmScale.annOpq(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getAs[Long]("energy_n"), r.getAs[Long]("grid_err_n"))).toMap
    assert(rows.keySet == (for (v <- Seq("plain", "hadamard"); m <- 0 to 7)
      yield (v, m)).toSet)
    def profile(v: String) = (0 to 7).map(m => rows((v, m)))
    val (pe, he) = (profile("plain").map(_._1), profile("hadamard").map(_._1))
    // the anisotropic input makes plain subspaces badly unbalanced; the
    // rotation flattens them (measured ~32× → ~1.03× at sf0.001)
    assert(pe.max > 10 * pe.min, s"plain profile unexpectedly flat: $pe")
    assert(he.max < 2 * he.min, s"rotation failed to balance: $he")
    // rotation preserves total energy (Parseval, exactly — up to the
    // //64 normalization's truncation)
    assert(math.abs(pe.sum - he.sum) <= 64L * 8,
      s"energy not conserved: ${pe.sum} vs ${he.sum}")
    // and the balanced profile quantizes better on the same bit budget
    val (pg, hg) = (profile("plain").map(_._2).sum,
      profile("hadamard").map(_._2).sum)
    assert(hg < pg, s"rotated grid error $hg must undercut plain $pg")
  }

  test("ann_opq_recall: two live indexes, one ground truth, independent per-query splits") {
    val rows = LlmScale.annOpqRecall(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rows.keySet == (for (v <- Seq("plain", "hadamard"); q <- 0L until 10L)
      yield (v, q)).toSet, "2 variants × 10 queries")
    rows.values.foreach { case (nh, rec) =>
      assert(nh >= 0 && nh <= 3 && rec >= 0.0 && rec <= 1.0)
    }
    def hits(v: String) = (0L until 10L).map(q => rows((v, q))._1)
    val (p, h) = (hits("plain"), hits("hadamard"))
    // both indexes are functional (a broken chain reads 0 everywhere)
    assert(p.sum >= 3, s"plain index dead: $p")
    assert(h.sum >= 3, s"rotated index dead: $h")
    // and genuinely independent: the per-query splits must differ even
    // when the totals tie (the documented null result) — identical
    // vectors would mean the rotation never reached the trained chain
    assert(p != h, "variants must train independent codebooks")
  }

  test("ann_sq8: 10 query rows, recall in [0,1], grid reconstruction near-lossless on the lattice") {
    val rows = LlmScale.annSq8(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows.keySet == (0L until 10L).toSet)
    rows.values.foreach(r => assert(r >= 0.0 && r <= 1.0))
    // 8 bits per dim on the fixture's per-dim ranges leaves grid cells
    // far smaller than typical inter-point gaps — SQ8's selling point is
    // near-exact ranking at 4× compression, so mean recall must be high
    val mean = rows.values.sum / rows.size
    assert(mean >= 0.8, s"SQ8 recall collapsed: $rows")
  }

  test("colbert_maxsim: top-3 per query, scores ordered, dominates the pooled aligned dot") {
    val out = LlmScale.colbertMaxsim(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 30, s"10 queries × top-3, got ${out.length}")
    out.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._2).sorted.toSeq == Seq(1, 2, 3))
      val byRank = rs.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"scores must be non-increasing by rank for qid $qid")
      // ties broken by cand_id: equal scores must order ascending
      rs.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) if a._4 == b._4 =>
          assert(a._3 < b._3, s"tie must break on cand_id for qid $qid")
        case _ => ()
      }
    }
  }

  test("llm_pca_power: matches a dense local replay, rayleigh climbs per round") {
    import spark.implicits._
    val out = LlmScale.pcaPower(spark, sf).collect()
      .map(r => r.getAs[Long]("dim") ->
        (r.getAs[Long]("v_fp"), r.getAs[Long]("share_bp"))).toMap
    assert(out.size == 64)
    // dense replay from the raw embeddings on the identical lattice
    val emb = Tables.embeddings(spark, sf).select($"embedding")
      .as[Seq[Float]].collect()
      .map(_.map(x => math.round(x.toDouble * 1000)).toArray)
    val n = emb.length.toLong; val D = 64
    val g = Array.ofDim[Long](D, D); val s = new Array[Long](D)
    emb.foreach { q =>
      var i = 0
      while (i < D) {
        var j = i
        while (j < D) { g(i)(j) += q(i) * q(j); j += 1 }
        s(i) += q(i); i += 1
      }
    }
    def mAt(i: Int, j: Int) =
      n * g(math.min(i, j))(math.max(i, j)) - s(i) * s(j)
    var v = Array.fill(D)(1000L)
    val rayleighs = (1 to 3).map { _ =>
      val w = Array.tabulate(D)(i =>
        (0 until D).foldLeft(0L)((a, j) => a + mAt(i, j) * v(j)))
      val mx = w.map(math.abs).max
      v = w.map(x =>
        if (mx == 0L) 0L else math.signum(x) * (math.abs(x) * 1000L / mx))
      // rayleigh on the NORMALIZED iterate, doubles from exact ints
      val w2 = Array.tabulate(D)(i =>
        (0 until D).foldLeft(0L)((a, j) => a + mAt(i, j) * v(j)))
      val num = (0 until D).map(i => v(i).toDouble * w2(i)).sum
      val den = (0 until D).map(i => v(i).toDouble * v(i)).sum
      num / den
    }
    val sumAbs = v.map(math.abs).sum
    (0 until D).foreach { i =>
      assert(out(i.toLong) == ((v(i), math.abs(v(i)) * 10000L / sumAbs)),
        s"dim $i")
    }
    // power iteration climbs the quotient (strictly until convergence)
    assert(rayleighs(0) <= rayleighs(1) + math.abs(rayleighs(1)) * 1e-12
      && rayleighs(1) <= rayleighs(2) + math.abs(rayleighs(2)) * 1e-12,
      s"rayleigh not monotone: $rayleighs")
    assert(rayleighs(2) > 0, "dominant eigenvalue of a covariance is positive")
  }

  test("llm_bpe_apply: per-language masses match an independent in-memory encode") {
    import spark.implicits._
    val out = LlmScale.bpeApply(spark, sf).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("chars_before"),
          r.getAs[Long]("toks_after"), r.getAs[Long]("words_compressed"),
          r.getAs[Long]("ratio_bp"))).toMap
    val occurrences = Tables.documents(spark, sf)
      .select($"lang", explode(split($"text", " ")).as("w"))
      .where($"w" =!= "" && !$"w".contains("|"))
      .as[(String, String)].collect()
    // reference tokenizer: 3 BPE rounds on the len>=2 word-type table
    var types: Map[String, Vector[String]] = occurrences.map(_._2).distinct
      .filter(_.length >= 2).map(w => w -> w.split("").toVector).toMap
    val typeCounts = occurrences.groupBy(_._2).view.mapValues(_.length.toLong)
    (1 to 3).foreach { _ =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      types.foreach { case (w, syms) =>
        syms.zip(syms.tail).foreach(p =>
          counts(p) = counts.getOrElse(p, 0L) + typeCounts(w))
      }
      val ((pa, pb), _) = counts.toSeq
        .minBy { case ((a, b), n) => (-n, a, b) }
      types = types.map { case (w, syms) =>
        w -> syms.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == pa && x == pb)
            acc.init :+ (pa + pb)
          else acc :+ x
        }
      }
    }
    val want = occurrences.groupBy(_._1).map { case (lang, ws) =>
      val chars = ws.map(_._2.split("").length.toLong).sum
      val toks = ws.map { case (_, w) =>
        types.get(w).map(_.size.toLong).getOrElse(1L) }.sum
      val comp = ws.count { case (_, w) =>
        types.get(w).exists(_.size < w.split("").length) }.toLong
      lang -> ((ws.length.toLong, chars, toks, comp, toks * 10000 / chars))
    }
    assert(out == want, s"got $out\nwant $want")
    // the merges actually compress: total token mass strictly shrinks
    assert(out.values.map(_._3).sum < out.values.map(_._2).sum)
  }

  test("llm_cluster_topics: lift accounting is exact and ranks are total-ordered") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.LlmScale.clusterTopics(spark, sf).collect()
    assert(out.nonEmpty, "clusters must surface topic terms")
    val byCluster = out.groupBy(_.getAs[Int]("cluster"))
    byCluster.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length))
      // ranks honour (lift desc, tf desc, tok asc)
      val ordered = rs.sortBy(_.getAs[Int]("rank"))
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          val ka = (-a.getAs[Long]("lift_fp"), -a.getAs[Long]("tf"),
            a.getAs[String]("tok"))
          val kb = (-b.getAs[Long]("lift_fp"), -b.getAs[Long]("tf"),
            b.getAs[String]("tok"))
          assert(Ordering[(Long, Long, String)].lteq(ka, kb))
        case _ => ()
      }
      rs.foreach(r => assert(r.getAs[Long]("df_c") >= 2))
    }
  }

  test("ann_recall_sweep: recall and cost are monotone in nprobe, nprobe=2 matches llm_ann_recall") {
    val rows = graft.operators.LlmScale.annRecallSweep(spark, sf).collect()
      .map(r => r.getAs[Int]("nprobe") -> r).toMap
    assert(rows.keySet == Set(1, 2, 4))
    val byNp = Seq(1, 2, 4).map(rows)
    byNp.sliding(2).foreach { case Seq(a, b) =>
      assert(a.getAs[Long]("recall_bp") <= b.getAs[Long]("recall_bp"))
      assert(a.getAs[Long]("n_candidates") <= b.getAs[Long]("n_candidates"))
    }
    byNp.foreach { r =>
      assert(r.getAs[Long]("n_truth") == 30L) // 10 queries x top-3
      assert(r.getAs[Long]("recall_bp")
        == r.getAs[Long]("n_hits") * 10000 / 30)
    }
    // the sweep's nprobe=2 level IS llm_ann_recall's total
    val single = graft.operators.LlmScale.annRecall(spark, sf).collect()
      .map(_.getAs[Long]("n_hit")).sum
    assert(rows(2).getAs[Long]("n_hits") == single)
  }

  test("residual IVFPQ: candidates only from probed cells, ranks dense, residual codes reconstruct tighter than raw") {
    import org.apache.spark.sql.functions._
    GraftExtensions.register(spark)
    val out = operators.LlmScale.annPqResidual(spark, sf).collect()
    assert(out.nonEmpty)
    // dense ranks 1..k per query, adist non-negative and non-decreasing
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to rs.length))
      val ad = byRank.map(_.getLong(3))
      assert(ad.forall(_ >= 0L) && (ad, ad.tail).zipped.forall(_ <= _))
    }
    // IVF restriction: every (query, candidate) pair shares a probed
    // cell, i.e. their sign cells are within hamming distance 1
    val cellE =
      """aggregate(transform(sequence(0, 7),
        |  i -> IF(element_at(embedding, i + 1) > 0, shiftleft(1, i), 0)),
        |0, (a, x) -> a + x)""".stripMargin
    val cells = Tables.embeddings(spark, sf)
      .select($"vec_id", expr(cellE).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      val h = Integer.bitCount(cells(r.getLong(0)) ^ cells(r.getLong(2)))
      assert(h <= 1, s"candidate outside probed cells: hamming $h")
    }
    // the reason residual PQ exists: per-subvector spread around the
    // quantization targets is tighter for residuals than raw vectors —
    // total squared distance of vectors to their CELL centroid (what PQ
    // must then encode) is strictly below the raw-vector energy around
    // the global mean at any K>1 coarse split that separates signs
    val q = Tables.embeddings(spark, sf).select($"vec_id",
      expr("transform(embedding, x -> cast(round(cast(x as double) * 1e6, 0) as bigint))").as("qv"),
      expr(cellE).as("cell"))
    val dimsByCell = q.select($"cell", posexplode($"qv"))
      .groupBy($"cell", $"pos")
      .agg(sum($"col").as("s"), count(lit(1)).as("n"),
        sum($"col" * $"col").as("ss"))
    // Σ(x-mean)² = Σx² - (Σx)²/n, per (cell, dim) vs per dim alone
    val resEnergy = dimsByCell
      .agg(sum($"ss" - ($"s" * $"s").cast("double") / $"n")).head.getDouble(0)
    val rawEnergy = q.select(posexplode($"qv"))
      .groupBy($"pos")
      .agg(sum($"col").as("s"), count(lit(1)).as("n"),
        sum($"col" * $"col").as("ss"))
      .agg(sum($"ss" - ($"s" * $"s").cast("double") / $"n")).head.getDouble(0)
    assert(resEnergy < rawEnergy,
      f"residual energy $resEnergy%.3e must undercut raw $rawEnergy%.3e")
  }

  test("ann_filtered: prefilter dominates postfilter per query, postfilter returns short lists") {
    val rows = graft.operators.LlmScale.annFiltered(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == 20, "2 strategies x 10 queries")
    rows.foreach { case (st, qid, nRet, nHit, nTruth, bp) =>
      assert(nTruth == 3, s"$st qid=$qid: filtered truth must be top-3")
      assert(nHit <= nRet && nRet <= 3, s"$st qid=$qid: 0<=hit<=ret<=3")
      assert(bp == nHit * 10000 / 3, s"$st qid=$qid: exact bp recall")
    }
    val byQid = rows.groupBy(_._2)
    byQid.foreach { case (qid, rs) =>
      val pre = rs.find(_._1 == "prefilter").get
      val post = rs.find(_._1 == "postfilter").get
      // postfilter's returned set is a PREFIX of prefilter's (same
      // order key over a subset pool) — counts must dominate
      assert(pre._3 >= post._3, s"qid=$qid: pre n_ret >= post n_ret")
      assert(pre._4 >= post._4, s"qid=$qid: pre n_hit >= post n_hit")
    }
    val preRet = rows.filter(_._1 == "prefilter").map(_._3).sum
    val postRet = rows.filter(_._1 == "postfilter").map(_._3).sum
    val preHit = rows.filter(_._1 == "prefilter").map(_._4).sum
    val postHit = rows.filter(_._1 == "postfilter").map(_._4).sum
    // the measured phenomenon the op exists to show: at ~10 %
    // selectivity a 3x overfetch cannot fill k=3 — postfilter returns
    // short lists and loses recall, prefilter fills every list
    assert(preRet == 30, s"prefilter must fill every top-3 (got $preRet)")
    assert(postRet < 30, s"postfilter must return short lists (got $postRet)")
    assert(preHit > postHit,
      s"prefilter recall must exceed postfilter ($preHit vs $postHit)")
  }

  test("ann_ivf_incremental: delta assignment matches local brute argmin, warm index plans zero file scans") {
    import org.apache.spark.sql.functions.col
    // warm the persisted artifact first — the incremental op must then
    // touch ONLY checkpointed index/lattice tables (the delta-vs-index
    // discipline: index x index work never re-runs)
    val (qv, _, a2, c2) = operators.LlmScale.lloyd(spark, sf)
    val df = operators.LlmScale.annIvfIncremental(spark, sf)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.isEmpty,
      s"warm-index incremental plan must not rescan any parquet, got ${scans.size}")
    val rows = df.collect().map(r => (r.getAs[Long]("new_id"),
      r.getAs[Int]("cluster"), r.getAs[Long]("cdist"),
      r.getAs[Long]("n_base"), r.getAs[Long]("n_cell_delta")))
    // one output row per delta vector, ids unique
    val nDelta = qv.where(col("vec_id") % 17 === 3).count()
    assert(rows.length.toLong == nDelta && nDelta > 0)
    assert(rows.map(_._1).distinct.length == rows.length)
    // local brute replay: nearest round-2 centroid by (dist, cluster)
    // over the perturbed source vector — O(|delta|*K) like the op
    val cent: Map[Int, Array[Long]] = c2.collect()
      .map(r => (r.getAs[Int]("cid"), r.getAs[Int]("dim"), r.getAs[Long]("c")))
      .groupBy(_._1).map { case (cid, rs) =>
        val v = new Array[Long](64); rs.foreach { case (_, d, q) => v(d) = q }
        cid -> v
      }
    val src: Map[Long, Array[Long]] = qv.where(col("vec_id") % 17 === 3)
      .collect().map { r =>
        val v = r.getAs[Seq[Long]]("qv").toArray
        v(0) += 1000L
        r.getAs[Long]("vec_id") + 1000000L -> v
      }.toMap
    rows.foreach { case (id, cl, cd, _, _) =>
      val dv = src(id)
      val (bestCl, bestD) = cent.toSeq.map { case (cid, cv) =>
        var i = 0; var acc = 0L
        while (i < 64) { val dl = dv(i) - cv(i); acc += dl * dl; i += 1 }
        (cid, acc)
      }.minBy { case (cid, dist) => (dist, cid) }
      assert(cl == bestCl && cd == bestD,
        s"id=$id: op=($cl,$cd) brute=($bestCl,$bestD)")
    }
    // growth audit: n_base is the persisted inverted file's cell count,
    // n_cell_delta the shard's — both replayed from the memoized tables
    val baseCounts = a2.groupBy(col("cluster")).count().collect()
      .map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("count")).toMap
    val deltaCounts = rows.groupBy(_._2).view.mapValues(_.length.toLong)
    rows.foreach { case (id, cl, _, nb, ncd) =>
      assert(nb == baseCounts(cl), s"id=$id n_base")
      assert(ncd == deltaCounts(cl), s"id=$id n_cell_delta")
    }
  }

  test("ann_ivf_rebalance: top-3 post-ingest cells split completely into two non-empty subcells") {
    import org.apache.spark.sql.functions.col
    val rows = operators.LlmScale.annIvfRebalance(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val byCluster = rows.groupBy(_._1)
    assert(byCluster.size == 3, s"exactly 3 cells split: ${byCluster.keys}")
    byCluster.foreach { case (c, rs) =>
      // both subcells present and non-empty; membership conserved
      assert(rs.map(_._2).sorted.toSeq == Seq(0, 1), s"cell $c subcells")
      assert(rs.map(_._3).sum == rs.head._5,
        s"cell $c: subcell sizes must sum to the parent size")
      assert(rs.forall(_._3 > 0), s"cell $c: no empty subcell")
    }
    // the chosen cells are the POST-INGEST heaviest three ((size desc,
    // cid) order) — recomputed locally from the base + delta assignment
    val (_, _, a2, _) = operators.LlmScale.lloyd(spark, sf)
    val base = a2.groupBy(col("cluster")).count().collect()
      .map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("count")).toMap
    val delta = operators.LlmScale.annIvfIncremental(spark, sf)
      .groupBy(col("cluster")).count().collect()
      .map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("count")).toMap
    val sizes = (base.keySet ++ delta.keySet).map(c =>
      c -> (base.getOrElse(c, 0L) + delta.getOrElse(c, 0L))).toSeq
    val want = sizes.sortBy { case (c, n) => (-n, c) }.take(3).map(_._1).toSet
    assert(byCluster.keySet == want,
      s"split set ${byCluster.keySet} must be the heaviest three $want")
  }

  test("ann_ivf_incremental_recall: mixed query set, twins retrieved both directions, warm index plans zero file scans") {
    operators.LlmScale.lloyd(spark, sf) // warm the lattice + artifact
    operators.LlmScale.annIvfIncremental(spark, sf).collect()
    val df = operators.LlmScale.annIvfIncrementalRecall(spark, sf)
    import org.apache.spark.sql.execution.FileSourceScanExec
    assert(df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.isEmpty, "warm-index recall plan must not rescan any parquet")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getInt(3))))
    val (base, delta) = rows.partition(_._1 < 1000000L)
    assert(base.length == 5 && delta.length == 6,
      s"5 base + 6 delta queries, got ${base.length}+${delta.length}")
    rows.foreach { case (qid, nHit, rec, _) =>
      assert(nHit >= 0 && nHit <= 3, s"qid=$qid")
      val want = nHit match {
        case 0 => 0.0; case 1 => 0.3333; case 2 => 0.6667; case _ => 1.0
      }
      assert(rec == want, s"qid=$qid recall=$rec for n_hit=$nHit")
    }
    // twin retrievability, BOTH directions: every delta query serves its
    // nudged source (the pair sit ~10^12 apart on a lattice whose
    // typical inter-vector distance is ~6*10^12) and base query 3 — the
    // one base query with a delta copy — serves that copy; the other
    // base queries have no twin (NULL)
    delta.foreach { case (qid, _, _, tw) =>
      assert(tw.contains(1), s"delta qid=$qid must serve its source") }
    base.foreach { case (qid, _, _, tw) =>
      if (qid == 3L) assert(tw.contains(1), "query 3 must serve its copy")
      else assert(tw.isEmpty, s"qid=$qid has no twin")
    }
  }

  test("ann_ivf_rebalance_recall: every sub-cell's anchor member is still served through the split index") {
    val rows = operators.LlmScale.annIvfRebalanceRecall(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getDouble(4)))
    assert(rows.length == 6, s"3 split cells x 2 subcells: ${rows.length}")
    val parents = operators.LlmScale.annIvfRebalance(spark, sf)
      .select("cluster").distinct().collect().map(_.getInt(0)).toSet
    assert(rows.map(_._2).toSet == parents,
      "anchors must come from the split cells themselves")
    rows.groupBy(_._2).foreach { case (c, rs) =>
      assert(rs.map(_._3).sorted.toSeq == Seq(0, 1),
        s"cell $c: one anchor per subcell")
    }
    rows.foreach { case (qid, _, _, nHit, rec) =>
      assert(nHit >= 0 && nHit <= 3, s"qid=$qid")
      val want = nHit match {
        case 0 => 0.0; case 1 => 0.3333; case 2 => 0.6667; case _ => 1.0
      }
      assert(rec == want, s"qid=$qid recall=$rec for n_hit=$nHit")
    }
    // the split must leave its members ROUTABLE: the anchors' true
    // neighborhoods are still found through the sub-cells under the
    // same nprobe=2 budget (a broken split orphans exactly these ids)
    assert(rows.map(_._4).sum >= rows.length,
      s"average post-split recall must stay >= 1/3: ${rows.toSeq}")
  }

  test("ann_ivf_delete: tombstones never served, untouched top-3 identical, sweep folds the sidecar") {
    import org.apache.spark.sql.functions.col
    val served = operators.LlmScale.ivfDeleteParts(spark, sf)._1
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(served.nonEmpty && served.forall(_._2 % 23 != 5),
      "no tombstoned id may surface in any served top-k")
    // where the live index served no tombstone, the delete path serves
    // the IDENTICAL list — the anti-join only suppresses, never reorders
    val baseBy = operators.LlmScale.annIvfKmeans(spark, sf)
      .select(col("qid"), col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val servedBy = served.groupBy(_._1)
    baseBy.foreach { case (qid, bs) =>
      if (bs.forall(_._2 % 23 != 5))
        assert(servedBy(qid).map(_._2).toSet == bs.map(_._2).toSet,
          s"qid=$qid: survivor-only top-3 must be unchanged by the delete")
    }
    // the sidecar suppressed real postings somewhere in the probed cells
    val out = operators.LlmScale.annIvfDelete(spark, sf).collect()
    assert(out.length == 10)
    assert(out.map(_.getLong(3)).sum > 0,
      "the probed cells must contain suppressed tombstoned postings")
    // sweep at the next compaction: folding the sidecar into the
    // postings drops exactly the tombstoned rows, and re-applying the
    // sidecar afterwards matches nothing — it has emptied
    val (_, _, a2, _) = operators.LlmScale.lloyd(spark, sf)
    val nAll = a2.count()
    val nTomb = a2.where(col("vec_id") % 23 === 5).count()
    val swept = a2.where(col("vec_id") % 23 =!= 5)
    assert(nTomb > 0 && swept.count() == nAll - nTomb)
    assert(swept.where(col("vec_id") % 23 === 5).count() == 0,
      "no outstanding tombstone after the sweep — the sidecar is empty")
  }

  test("ann_index_persisted: disk store commits by pointer flip, sweep folds sidecar, phases serve identically") {
    import org.apache.spark.sql.functions.col
    val dir = operators.LlmScale.ivfStoreDir(spark, sf)
    // build left the store at v3: postings + delta postings + sidecar
    // (a replayed session may already be swept — then the head is v4
    // and the sweep below is a no-op; both states must serve equally)
    val (posts0, vecs0, dels0) = operators.LlmScale.ivfStoreHead(dir)
    assert(vecs0 == Seq("vectors", "vectors_d1"))
    val out = operators.LlmScale.annIndexPersisted(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // the op ran the sweep: head now names the folded postings only
    val (posts1, _, dels1) = operators.LlmScale.ivfStoreHead(dir)
    assert(posts1 == Seq("postings2") && dels1.isEmpty,
      s"sweep must fold the sidecar and drop it from the head: $posts1/$dels1")
    // swept postings = (postings ∪ d1) minus tombstones, exactly
    val liveN = spark.read.parquet(s"$dir/postings")
      .unionByName(spark.read.parquet(s"$dir/postings_d1"))
      .where(!(col("vec_id") % 23 === 5 && col("vec_id") < 1000000L))
      .count()
    assert(spark.read.parquet(s"$dir/postings2").count() == liveN)
    assert(spark.read.parquet(s"$dir/postings2")
      .where(col("vec_id") % 23 === 5 && col("vec_id") < 1000000L)
      .count() == 0, "no tombstone survives the sweep")
    // the two phases serve ROW-IDENTICAL results — the sweep proof
    val (pre, post) = out.partition(_._1 == "pre_sweep")
    assert(pre.length == 10 && post.length == 10)
    assert(pre.map(t => (t._2, t._3, t._4)).toSet ==
      post.map(t => (t._2, t._3, t._4)).toSet,
      "pre- and post-sweep serving must be identical")
    // idempotence: a second sweep is a no-op, a second op run equal
    operators.LlmScale.ivfStoreSweep(spark, dir)
    assert(operators.LlmScale.ivfStoreHead(dir)._1 == Seq("postings2"))
    val again = operators.LlmScale.annIndexPersisted(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(again == out.toSet, "replayed serving must be unchanged")
  }

  test("ann_store_asof: the commit log resolves every version, the sweep proof replays through it, replay stable") {
    val dir = operators.LlmScale.ivfStoreDir(spark, sf)
    operators.LlmScale.ivfStoreSweep(spark, dir)
    val log = operators.TableLog.versions(dir)
    assert(log.map(_._1) == Seq(1, 2, 3, 4), s"four logged commits: $log")
    // the log's last entry IS the current head — AS OF latest ≡ the
    // plain head read
    assert(log.last._2 == operators.TableLog.head(dir))
    // intermediate heads resolve dirs that still exist on disk —
    // immutable commits, nothing a later version deleted
    log.foreach { case (_, h) =>
      operators.LlmScale.headSegments(h, 3).flatten.foreach(sub => assert(
        new java.io.File(s"$dir/$sub").isDirectory, s"missing $sub"))
    }
    val out = operators.LlmScale.annStoreAsof(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byV = out.groupBy(_._1)
    assert(byV.keySet == Set(1, 2, 3, 4) &&
      byV.values.forall(_.length == 10), s"4 versions x 10 queries")
    def rows(v: Int) = byV(v).map(t => (t._2, t._3, t._4)).toSet
    assert(rows(3) == rows(4),
      "v3 (MOR) and v4 (swept) must serve identically through the log")
    out.foreach { case (v, qid, nHit, rec) =>
      val want = nHit match {
        case 0 => 0.0; case 1 => 0.3333; case 2 => 0.6667; case _ => 1.0
      }
      assert(nHit >= 0 && nHit <= 3 && rec == want, s"v$v qid=$qid")
    }
    // a second resolution serves the identical history
    val again = operators.LlmScale.annStoreAsof(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(again == out.toSet, "time travel must be replay-stable")
  }

  test("ann_graph_delete: retired nodes unreachable, edge sweep reconciles, recall near the live graph") {
    import org.apache.spark.sql.functions.col
    val pred = operators.LlmScale.annGraphDeletePred(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pred.nonEmpty && pred.forall(_._2 % 23 != 5),
      "a retired node must be unreachable, hence never served")
    // retirement sweep: dropped edges are exactly the tombstone-incident
    // ones (both directions), counted independently
    val (adj, _, _) = operators.LlmScale.annGraphAdjacency(spark, sf)
    val nAdj = adj.count()
    val nTouch = adj.where(col("src") % 23 === 5 ||
      col("dst") % 23 === 5).count()
    val retired = adj.where(col("src") % 23 =!= 5 && col("dst") % 23 =!= 5)
    assert(nTouch > 0 && retired.count() == nAdj - nTouch)
    // the curve successors + fingers route around retired nodes: recall
    // against the survivor truth stays near the live graph's own row
    val del = operators.LlmScale.annGraphDelete(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(del.length == 10)
    val live = operators.LlmScale.annGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val dAvg = del.map(_._2).sum / del.length
    val lAvg = live.map(_._2).sum / live.length
    assert(dAvg >= lAvg - 0.35,
      s"retirement must not collapse recall: $dAvg vs live $lAvg")
  }

  test("ann_graph_persisted: versioned disk store, pointer-flip commits, sweep serve ≡ MOR serve, zero-rebuild cold serving") {
    import org.apache.spark.sql.functions.col
    val dir = operators.LlmScale.graphStoreDir(spark, sf)
    // the build leaves the store at v3 (a replayed session may already
    // be swept — then the op's sweep below is a no-op; both must serve
    // equally); the vector dirs never change across the sweep
    val (_, _, vecs0, _) = operators.LlmScale.graphStoreHead(dir)
    assert(vecs0 == Seq("vectors", "vectors_d1"))
    val out = operators.LlmScale.annGraphPersisted(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // the op ran the sweep: head names the folded dirs, sidecar gone
    val (adjs1, ents1, _, dels1) = operators.LlmScale.graphStoreHead(dir)
    assert(adjs1 == Seq("adjacency2") && ents1 == Seq("entries2") &&
      dels1.isEmpty, s"swept head: $adjs1/$ents1/$dels1")
    // swept edges = (adjacency ∪ d1) minus tombstone-incident, exactly —
    // recomputed here from the raw store files, independently of the op
    val tomb = spark.read.parquet(s"$dir/tombstones").collect()
      .map(_.getLong(0)).toSet
    assert(tomb.nonEmpty && tomb.forall(_ % 23 == 5))
    val union = spark.read.parquet(s"$dir/adjacency")
      .unionByName(spark.read.parquet(s"$dir/adjacency_d1"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = union.filter { case (a, b) => !tomb(a) && !tomb(b) }.toSet
    val swept = spark.read.parquet(s"$dir/adjacency2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(swept == want,
      "adjacency2 must be exactly the tombstone-swept edge union")
    // the v2 graft is genuinely in the served graph: attachment edges
    // survive in both directions
    assert(swept.exists(_._1 >= 1000000L) && swept.exists(_._2 >= 1000000L),
      "delta attachment edges must survive the sweep both ways")
    assert(swept.forall { case (a, b) => !tomb(a) && !tomb(b) })
    // the two phases serve ROW-IDENTICAL results — the sweep proof
    val (pre, post) = out.partition(_._1 == "pre_sweep")
    assert(pre.length == 10 && post.length == 10)
    assert(pre.map(t => (t._2, t._3, t._4)).toSet ==
      post.map(t => (t._2, t._3, t._4)).toSet,
      "pre- and post-sweep serving must be identical")
    // the graph store shares the commit-LOG discipline (r16): four
    // logged versions, last entry ≡ the current head, every logged
    // head's dirs still on disk — immutable commits, time-travel-ready
    val log = operators.TableLog.versions(dir)
    assert(log.map(_._1) == Seq(1, 2, 3, 4), s"graph store log: $log")
    assert(log.last._2.trim ==
      "adjacency2;entries2;vectors,vectors_d1;",
      s"log tail must be the swept head: ${log.last}")
    log.foreach { case (_, h) =>
      h.split(';').flatMap(_.split(',')).filter(_.nonEmpty).foreach(sub =>
        assert(new java.io.File(s"$dir/$sub").isDirectory,
          s"logged dir must persist: $sub"))
    }
    // ZERO-REBUILD serving: drop every in-JVM memo (the fresh-session
    // state), then serve again from the disk store alone — rows
    // unchanged and the Lloyd pipeline never re-runs (the build counter
    // is the rebuild detector)
    operators.LlmScale.resetLloydMemo()
    val builds0 = operators.LlmScale.lloydMemo.builds
    val cold = operators.LlmScale.graphStoreServe(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(operators.LlmScale.lloydMemo.builds == builds0,
      "serving from the persisted store must not rebuild the lattice")
    assert(cold == post.map(t => (t._2, t._3, t._4)).toSet,
      "a memo-cold session must serve the identical rows from disk")
  }

  test("ann_graph_persisted_filtered: label-filtered serve from the disk store, pre ≡ post, tombstones and unlabeled delta nodes never served") {
    import org.apache.spark.sql.functions.col
    val dir = operators.LlmScale.graphStoreDir(spark, sf)
    val out = operators.LlmScale.annGraphPersistedFiltered(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val (pre, post) = out.partition(_._1 == "pre_sweep")
    assert(pre.nonEmpty && pre.length == post.length)
    assert(pre.map(t => (t._2, t._3, t._4, t._5, t._6)).toSet ==
      post.map(t => (t._2, t._3, t._4, t._5, t._6)).toSet,
      "filtered serving must be identical across the sweep")
    // the served candidate lists themselves: only label-3 nodes, never
    // a tombstone, never an unlabeled delta node — checked on the
    // actual predictions, not the recall readout
    val served = operators.LlmScale
      .graphStoreServeFilteredPred(spark, sf, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(served.nonEmpty)
    val labels = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val tombs = spark.read.parquet(s"$dir/tombstones").collect()
      .map(_.getLong(0)).toSet
    served.foreach { case (_, cand) =>
      assert(!tombs(cand), s"tombstoned candidate served: $cand")
      assert(labels.get(cand).contains(3),
        s"candidate $cand must carry label 3")
      assert(cand < 1000000L,
        s"unlabeled delta node served: $cand (delta nodes must drop)")
    }
    // at most 3 served per query, n_ret in the readout matches
    served.groupBy(_._1).foreach { case (_, cs) => assert(cs.length <= 3) }
  }

  test("ann_graph_incremental: 4 real attachments per new node, never worse than a direct entry hop") {
    import org.apache.spark.sql.functions.col
    val (_, _, qv) = operators.LlmScale.annGraphAdjacency(spark, sf)
    val baseIds = qv.select("vec_id").collect().map(_.getLong(0)).toSet
    val rows = operators.LlmScale.annGraphIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val nDelta = baseIds.count(_ % 17 == 3)
    assert(rows.length == 4 * nDelta && nDelta > 0,
      s"every delta node must attach with exactly 4 edges: ${rows.length}")
    rows.groupBy(_._1).foreach { case (id, es) =>
      // ranks dense 1..4, distances monotone under the (dist, dst) order
      assert(es.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4), s"id=$id ranks")
      val ord = es.sortBy(_._2).map(e => (e._4, e._3)).toSeq
      assert(ord == ord.sorted, s"id=$id: attachment order must follow dist")
      // attachments are existing graph nodes, never other delta nodes
      es.foreach(e => assert(baseIds.contains(e._3), s"id=$id dst=${e._3}"))
    }
    // the walk's monotonicity: every rank-1 attachment is at least as
    // close as the best RAW ENTRY node (the beam starts at the entry
    // sample and only improves)
    val entryIds = operators.LlmScale.annGraphAdjacency(spark, sf)._2
      .collect().map(_.getLong(0)).toSet
    val vecs = qv.collect()
      .map(r => r.getLong(0) -> r.getAs[Seq[Long]]("qv").toArray).toMap
    def sq(a: Array[Long], b: Array[Long]): Long = {
      var i = 0; var acc = 0L
      while (i < a.length) { val dl = a(i) - b(i); acc += dl * dl; i += 1 }
      acc
    }
    rows.filter(_._2 == 1).foreach { case (id, _, _, dist) =>
      val dv = vecs(id - 1000000L).clone(); dv(0) += 1000L
      val bestEntry = entryIds.map(e => sq(dv, vecs(e))).min
      assert(dist <= bestEntry,
        s"id=$id: beam result $dist must dominate the entry sample $bestEntry")
    }
  }

  test("ann_graph_filtered: aware dominates postfilter, postfilter returns short lists") {
    val rows = graft.operators.LlmScale.annGraphFiltered(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == 20, "2 strategies x 10 queries")
    rows.foreach { case (st, qid, nRet, nHit, nTruth, bp) =>
      assert(nTruth == 3, s"$st qid=$qid: filtered truth must be top-3")
      assert(nHit <= nRet && nRet <= 3, s"$st qid=$qid: 0<=hit<=ret<=3")
      assert(bp == nHit * 10000 / 3, s"$st qid=$qid: exact bp recall")
    }
    rows.groupBy(_._2).foreach { case (qid, rs) =>
      val aw = rs.find(_._1 == "aware").get
      val po = rs.find(_._1 == "postfilter").get
      // the final beam is a subset of the visited set, both strategies
      // rank matches by the same (dist, node) order — aware dominates
      assert(aw._3 >= po._3, s"qid=$qid: aware n_ret >= post n_ret")
      assert(aw._4 >= po._4, s"qid=$qid: aware n_hit >= post n_hit")
    }
    val awRet = rows.filter(_._1 == "aware").map(_._3).sum
    val poRet = rows.filter(_._1 == "postfilter").map(_._3).sum
    // the phenomenon: an 8-node beam at ~10% label selectivity cannot
    // fill k=3 after the fact, while the ~1100-node visited pool can
    assert(awRet == 30, s"aware must fill every top-3 (got $awRet)")
    assert(poRet < 30, s"postfilter must return short lists (got $poRet)")
  }
}
