package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse-retrieval and language-model scoring operators for
  * training-data pipelines: BM25 ranking (the standard quality/relevance
  * retrieval primitive, Robertson & Zaragoza 2009) and unigram-LM
  * negative log-likelihood (the CCNet-style "perplexity" filtering
  * signal, Wenzek et al. 2020 — CCNet buckets documents by LM perplexity
  * and keeps the low-perplexity head).
  *
  * 100 TB shape (both operators): the corpus is touched by map-only
  * tokenize/explode passes; everything model-sized (query-term document
  * frequencies, the unigram vocabulary) is aggregated down first, pinned,
  * and BROADCAST back — the corpus itself never shuffles token-level
  * rows, only per-doc partial aggregates move.
  */
object Retrieval {

  /** BM25 scores of every document against a bag of query terms,
    * top-k by score. Uses the Lucene/standard formulation:
    *
    *   idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    *   score(d) = sum_t idf(t) * tf / (tf + k1 * (1 - b + b * dl/avgdl))
    *
    * Plan shape: one map-only pass computes per-doc length; the token
    * explode is filtered to the query terms BEFORE the (doc, term)
    * aggregate, so the shuffle carries only query-term hits (a few rows
    * per doc, not the token stream). df/avgdl/N are tiny aggregates that
    * ride broadcasts into the scoring join.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val toks = TextAnalysis.tokens(col(textCol))
    // per-doc length; pinned once, reused by the scoring join and avgdl
    val dl = docs.select(col(idCol).as("doc_id"),
        size(toks).cast("long").as("dl"))
      .localCheckpoint(true)
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("tot_dl"))
    // (doc, term) -> tf, restricted to the query terms pre-shuffle
    val tf = docs.select(col(idCol).as("doc_id"), explode(toks).as("w"))
      .filter(col("w").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("__avgdl", col("tot_dl").cast("double") / col("n_docs"))
      .withColumn("__idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("__s", col("__idf") * col("tf") /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("__avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("__s")), 6).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
    scored.orderBy(col("bm25").desc, col("doc_id")).limit(k)
  }

  /** Hybrid (sparse + dense) retrieval — the standard RAG shape: BM25
    * shortlists `candidates` documents lexically, each candidate joins
    * its embedding, and the final order blends the two signals:
    * `score = alpha * bm25/max(bm25) + (1-alpha) * cosine`
    * (max-normalizing BM25 puts both terms on [0,1]-ish scale; cosine
    * is already bounded). alpha=1 is pure lexical, alpha=0 pure dense
    * over the lexical candidates.
    *
    * Scale shape: the corpus is touched only by the BM25 pass
    * (query-term-filtered pre-shuffle); the dense side reads
    * |candidates| embedding rows through one equi-join (broadcast-sized
    * — candidates is the top-k frontier, not the corpus), and the
    * normalization window runs over that same tiny frame. Deterministic:
    * every stage carries the (score desc, id) tie-break and all blended
    * arithmetic rounds to 6 dp from identically-rounded inputs, so the
    * order is engine-reproducible.
    */
  def hybridSearch(docs: DataFrame, idCol: String, textCol: String,
      emb: DataFrame, eIdCol: String, vecCol: String,
      queryTerms: Seq[String], queryVec: Seq[Float], k: Int,
      alpha: Double = 0.5, candidates: Int = 50): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, "alpha must be in [0,1]")
    val bm = bm25TopK(docs, idCol, textCol, queryTerms, candidates)
    val joined = bm.join(
        emb.select(col(eIdCol).as("doc_id"), col(vecCol).as("__v")),
        Seq("doc_id"))
      .withColumn("cosine",
        round(graft.functions.vec_cosine(col("__v"),
          graft.functions.lit_vec(queryVec)), 6))
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    joined
      .withColumn("bm25_norm", round(col("bm25") / max(col("bm25")).over(w), 6))
      .withColumn("score",
        round(lit(alpha) * col("bm25_norm") + lit(1.0 - alpha) * col("cosine"), 6))
      .select(col("doc_id"), col("bm25"), col("cosine"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Pseudo-relevance feedback (RM3-lite, Lavrenko & Croft 2001 /
    * Abdul-Jaleel et al. 2004 simplified to an unweighted union):
    * run BM25, treat the top `fbDocs` results as relevant, pick the
    * `fbTerms` most frequent terms across them (original query terms
    * excluded; ties break on the term), and re-rank with the expanded
    * bag. The classic vocabulary-mismatch fix — docs phrased
    * differently than the query still surface through the expansion
    * terms the feedback set shares. Returns the final top-k plus an
    * `expanded` column carrying the expansion terms used (same list on
    * every row — the audit trail of what the query became).
    *
    * Scale shape: two [[bm25TopK]] passes (each one query-term-filtered
    * corpus explode + candidate-sized top-k) with a feedback-doc term
    * count in between — the explode there touches `fbDocs` documents,
    * not the corpus, and the expansion pick is a tiny top-N. The
    * expansion terms are collected to the driver (bounded by
    * `fbTerms`) because the second pass's pre-shuffle term filter
    * needs them as literals.
    */
  def bm25Prf(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, fbDocs: Int = 10, fbTerms: Int = 5,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 1, "need fbDocs >= 1 and fbTerms >= 1")
    require(fbTerms <= 64, s"fbTerms bounds the driver collect; $fbTerms > 64")
    val fb = bm25TopK(docs, idCol, textCol, queryTerms, fbDocs, k1, b)
      .select(col("doc_id").as(idCol))
    val expansion = docs.join(fb, Seq(idCol), "left_semi")
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .filter(!col("w").isin(queryTerms: _*))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(fbTerms)
      .collect().map(_.getString(0)).toSeq // bounded: fbTerms rows
    val expandedBag = (queryTerms ++ expansion).distinct
    bm25TopK(docs, idCol, textCol, expandedBag, k, k1, b)
      .withColumn("expanded",
        typedLit(expansion.sorted)) // deterministic column order
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    * over any number of ranked lists:
    *
    *   rrf(d) = Σ_lists 1 / (rrfK + rank_list(d))
    *
    * summed over the lists that rank d at all — rank-based fusion
    * needs no score normalization, which is why it is the default way
    * to combine lexical and dense retrieval (scores live on different
    * scales; ranks don't). Each input frame must carry `idCol` and a
    * 1-based `rank` column. rrfK = 60 is the paper's constant.
    *
    * Scale shape: the inputs are top-N frontiers (candidate-sized by
    * construction, not corpora); fusion is one union + one tiny
    * groupBy. 6-dp rounding keeps the fused order engine-reproducible
    * (adjacent ranks differ by ≥ 1/(rrfK+r)² ≈ 2.6e-4 at r=60 — far
    * above the rounding grain).
    */
  def rrfFusion(rankings: Seq[DataFrame], idCol: String, k: Int,
      rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFusion needs at least one ranking")
    require(rrfK >= 1, s"rrfK must be >= 1, got $rrfK")
    rankings
      .map(r => r.select(col(idCol), col("rank").cast("long").as("rank")))
      .reduce(_.unionByName(_))
      .groupBy(col(idCol))
      .agg(round(sum(lit(1.0) / (lit(rrfK) + col("rank"))), 6).as("rrf"),
        count(lit(1)).as("n_lists"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
  }

  /** [[rrfFusion]] of the two standard hybrid-retrieval lists: BM25
    * top-`candidates` (lexical) and exact cosine top-`candidates`
    * (dense). Returns (doc_id, bm25_rank, cosine_rank, n_lists, rrf) —
    * a null rank means the doc reached the fused top-k from one list
    * alone. The unpartitioned rank windows run over candidate-sized
    * frames (bounded by `candidates`, never the corpus); the dense
    * side is the exact brute-force scan ([[Similarity.topK]]) — swap
    * in `Similarity.ivfTopK` ranks via [[rrfFusion]] directly for the
    * ANN scale path.
    */
  def hybridRrf(docs: DataFrame, idCol: String, textCol: String,
      emb: DataFrame, eIdCol: String, vecCol: String,
      queryTerms: Seq[String], queryVec: Seq[Float], k: Int,
      rrfK: Int = 60, candidates: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bm = bm25TopK(docs, idCol, textCol, queryTerms, candidates)
      .select(col("doc_id"), row_number()
        .over(Window.orderBy(col("bm25").desc, col("doc_id"))).as("rank"))
      .localCheckpoint(true) // candidate-sized; fusion + rank join
    val dn = Similarity.topK(emb, eIdCol, vecCol, queryVec, candidates)
      .select(col(eIdCol).as("doc_id"), row_number()
        .over(Window.orderBy(col("sim").desc, col(eIdCol))).as("rank"))
      .localCheckpoint(true)
    rrfFusion(Seq(bm, dn), "doc_id", k, rrfK)
      .join(bm.withColumnRenamed("rank", "bm25_rank"), Seq("doc_id"), "left")
      .join(dn.withColumnRenamed("rank", "cosine_rank"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("bm25_rank"), col("cosine_rank"),
        col("n_lists"), col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  /** Maximal Marginal Relevance diversification (Carbonell & Goldstein,
    * SIGIR 1998): greedily re-rank a top-`candidates` cosine frontier so
    * each pick trades relevance against redundancy with what is already
    * selected:
    *
    *   mmr(c) = λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)
    *
    * (max over the empty set = 0, so the first pick is the most
    * relevant candidate). Returns (rank, doc_id, rel, mmr) for k picks.
    * The dedup-aware cousin of [[Similarity.topK]]: a near-duplicate of
    * a selected doc scores its redundancy away instead of filling the
    * result with copies.
    *
    * Scale shape: the GREEDY IS INHERENTLY SEQUENTIAL in k, so it runs
    * on the driver over the candidate frontier — a BOUNDED collect
    * (`candidates` rows + `candidates²/2` pairwise sims, both sized by
    * the parameter, never the corpus; 50 candidates = 1,225 pairs).
    * The corpus is touched only by the distributed top-k scan and the
    * candidate-pruned pairwise cross (both rounded to 6 dp in-plan, so
    * the driver folds pure arithmetic and an external engine replays
    * the selection bit-for-bit).
    */
  def mmrDiversify(emb: DataFrame, idCol: String, vecCol: String,
      queryVec: Seq[Float], k: Int, lambda: Double = 0.7,
      candidates: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]")
    require(candidates >= k, s"need candidates >= k")
    require(candidates <= 4096,
      s"candidates bounds the driver collect; $candidates > 4096")
    val spark = emb.sparkSession
    import spark.implicits._
    val cand = Similarity.topK(emb, idCol, vecCol, queryVec, candidates)
      .withColumnRenamed("sim", "rel")
      .localCheckpoint(true) // candidate-sized; rel collect + vec join
    val rel = cand.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val vecs = emb
      .join(cand.select(col(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val sims = vecs.as("a")
      .crossJoin(vecs.as("b"))
      .filter(col("a.__id") < col("b.__id"))
      .select(col("a.__id"), col("b.__id"),
        round(graft.functions.vec_cosine(col("a.__v"), col("b.__v")), 6)
          .as("__sim"))
      .collect() // bounded: candidates^2 / 2 rows
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def sim(a: Long, b: Long): Double =
      if (a < b) sims((a, b)) else sims((b, a))
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val remaining = scala.collection.mutable.TreeSet.empty[Long] ++ rel.keys
    val picked = Seq.newBuilder[(Int, Long, Double, Double)]
    var rank = 1
    while (rank <= math.min(k, rel.size)) {
      val selected = picked.result().map(_._2)
      // argmax by (mmr desc, id asc) — TreeSet iteration is id-asc, so
      // strict > keeps the lowest id among ties
      var bestId = -1L; var bestMmr = Double.NegativeInfinity
      remaining.foreach { c =>
        val red = if (selected.isEmpty) 0.0
          else selected.map(s => sim(c, s)).max
        val m = round6(lambda * rel(c) - (1.0 - lambda) * red)
        if (m > bestMmr) { bestMmr = m; bestId = c }
      }
      remaining -= bestId
      picked += ((rank, bestId, rel(bestId), bestMmr))
      rank += 1
    }
    picked.result().toDF("rank", "doc_id", "rel", "mmr")
  }

  /** Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty,
    * SIGIR 2001 — the LMIR.DIR baseline):
    *
    *   score(q,d) = Σ_{t∈q, cf(t)>0} ln(1 + tf(t,d) / (μ·cf(t)/|C|))
    *              + |q_seen| · ln(μ / (dl + μ))
    *
    * the rank-equivalent decomposition of Σ ln p(t|d) under
    * p(t|d) = (tf + μ·p(t|C)) / (dl + μ): only matched terms pay the
    * first sum, every doc pays the length prior, and query terms with
    * zero collection frequency drop (their p is 0 under any μ —
    * standard LMIR practice). Complements [[bm25TopK]]: QL favors
    * short focused docs via the explicit length prior rather than
    * BM25's b-knob.
    *
    * Scale shape: [[bm25TopK]]'s exactly — one map-only length pass
    * (pinned), the token explode filtered to query terms BEFORE the
    * (doc, term) shuffle, collection frequencies a ≤|q|-row broadcast.
    * Scoring left-joins term hits onto the length frame, so docs with
    * no hits still rank by the length prior (the correct QL order).
    */
  def queryLikelihoodTopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, mu: Double = 2000.0): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(mu > 0.0, s"mu must be positive, got $mu")
    val toks = TextAnalysis.tokens(col(textCol))
    val dl = docs.select(col(idCol).as("doc_id"),
        size(toks).cast("long").as("dl"))
      .localCheckpoint(true)
    val tf = docs.select(col(idCol).as("doc_id"), explode(toks).as("w"))
      .filter(col("w").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true) // hit-sized; cf + the scoring join both
                             // read it — unpinned, the corpus token
                             // explode would execute twice
    // collection frequency of the query terms (≤ |q| rows) + |C|;
    // n_seen = query terms the collection contains at all
    val cf = tf.groupBy(col("w")).agg(sum(col("tf")).as("cf"))
    val stats = dl.agg(sum(col("dl")).as("tot"))
      .crossJoin(cf.agg(count(lit(1)).as("n_seen")))
    val matched = tf.join(broadcast(cf), Seq("w"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(sum(log(lit(1.0) +
        col("tf") / (lit(mu) * col("cf") / col("tot")))).as("__m"),
        count(lit(1)).as("n_terms_hit"))
    dl.join(matched, Seq("doc_id"), "left")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        coalesce(col("n_terms_hit"), lit(0L)).as("n_terms_hit"),
        round(coalesce(col("__m"), lit(0.0)) +
          col("n_seen") * log(lit(mu) / (col("dl") + lit(mu))), 6).as("ql"))
      .orderBy(col("ql").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-document unigram-LM negative log-likelihood (mean -ln p(w),
    * nats/token) against a model fit on the corpus itself, add-one
    * smoothed — CCNet's filtering signal with the corpus standing in for
    * the reference LM. Low = head (keep), high = tail (drop/bucket).
    * Returns (doc_id, n_tokens, nll) for docs with >= 1 token.
    */
  def unigramNll(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val words = docs.select(col(idCol).as("doc_id"), explode(toks).as("w"))
    // vocabulary-sized model, pinned so totals + scoring read the agg,
    // never the corpus subtree (the q67/DSIR device)
    val vocab = words.groupBy(col("w")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val totals = vocab.agg(sum(col("n")).as("tot"), count(lit(1)).as("v"))
    words
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .join(broadcast(vocab), Seq("w"))
      .crossJoin(broadcast(totals))
      .withColumn("__lp",
        col("c") * log((col("n") + 1).cast("double") / (col("tot") + col("v"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        round(-sum(col("__lp")) / sum(col("c")), 6).as("nll"))
  }

  /** Per-document interpolated bigram-LM negative log-likelihood
    * (mean -ln p over bigram positions, nats/bigram) against a model fit
    * on the corpus itself:
    *
    *   p(w2 | w1) = lambda * c(w1,w2)/c(w1,·) + (1-lambda) * (n(w2)+1)/(tot+V)
    *
    * — the next step up from [[unigramNll]] on the CCNet perplexity
    * ladder (Jelinek-Mercer interpolation with an add-one-smoothed
    * unigram backoff; every observed bigram has c >= 1 so the first term
    * is well-defined and p is never 0). Docs need >= 2 tokens.
    *
    * 100 TB shape: the bigram stream is a MAP-ONLY zip of adjacent
    * tokens (slice + arrays_zip — no positional self-join, no window
    * shuffle); the corpus shuffles once into (doc, w1, w2) counts, which
    * are pinned and re-aggregated into the model frames. The unigram
    * vocabulary (Heaps-law bounded) rides a broadcast; the bigram/context
    * model joins are left to AQE, which broadcasts while the model fits
    * and degrades to shuffle joins beyond — the right call at every
    * scale, since the bigram vocabulary grows with the corpus.
    */
  def bigramNll(docs: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.8): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"lambda must be in (0,1), got $lambda")
    val base = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    val words = base.select(col("doc_id"), explode(col("toks")).as("w"))
    val vocab = words.groupBy(col("w")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val totals = vocab.agg(sum(col("n")).as("tot"), count(lit(1)).as("v"))
    val docBi = base.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("toks"), lit(1), size(col("toks")) - 1).as("w1"),
        slice(col("toks"), lit(2), size(col("toks")) - 1).as("w2"))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // model re-aggs + scoring read this, not the corpus
    val bigrams = docBi.groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("cb"))
      .localCheckpoint(true)
    val contexts = bigrams.groupBy(col("w1")).agg(sum(col("cb")).as("cw"))
    // bigram/context model joins are NOT broadcast-hinted: the bigram
    // vocabulary grows with the corpus (millions of rows already at
    // sf0.1) — AQE picks broadcast while the model fits and shuffle
    // beyond, which is the right call at every scale. The unigram vocab
    // is Heaps-law bounded and safe to pin on a broadcast.
    docBi
      .join(bigrams, Seq("w1", "w2"))
      .join(contexts, Seq("w1"))
      .join(broadcast(vocab.withColumnRenamed("w", "w2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("__p",
        lit(lambda) * (col("cb").cast("double") / col("cw")) +
          lit(1.0 - lambda) * ((col("n") + 1).cast("double") / (col("tot") + col("v"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        round(-sum(col("c") * log(col("__p"))) / sum(col("c")), 6).as("nll"))
  }

  /** round-half-up to 6 dp — identical in Spark and DuckDB for the
    * non-negative values tuned here (the Classify weight device). */
  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** EM-tuned Jelinek-Mercer interpolation weight (deleted
    * interpolation — Jelinek & Mercer 1980; Chen & Goodman 1999 §2.4):
    * fit [[bigramNll]]'s model frames on `train`, then iterate on
    * HELD-OUT bigrams the responsibility update
    *
    *   r_i = λ·pml_i / (λ·pml_i + (1-λ)·pbo_i)
    *   λ'  = Σ c_i·r_i / Σ c_i
    *
    * where pml = c(w1,w2)/c(w1,·) from the train counts (0 when the
    * bigram or its context is unseen) and pbo is the add-one unigram
    * backoff (n(w2)+1)/(tot+V) — exactly the two mixture components
    * [[bigramNll]] scores with, so the tuned λ maximizes held-out
    * likelihood for THAT scorer. Returns the λ trace
    * (λ0, λ1, …, λ_iterations); feed the last into `bigramNll`.
    *
    * Determinism across engines/partitionings (the q123 device, made
    * exact): per-row responsibilities round to 12 dp and sum as
    * DECIMAL (order-independent, no float accumulation drift), and λ
    * rounds to 6 dp per iteration — an oracle replaying the same
    * algebra reproduces every trace element bit-for-bit. λ can reach
    * 0 only if NO held-out bigram is seen in train (the bigram term
    * carries no held-out evidence); callers then have no business
    * interpolating.
    *
    * 100 TB shape: one shuffle each for the train model frames and
    * the held-out counts; the scored frame (held-out bigram types ×
    * two doubles) pins once and each EM iteration is ONE aggregate
    * over it returning two cells — iterations cost no extra shuffle
    * and driver state is a single double.
    */
  def tuneJmLambda(train: DataFrame, trainTextCol: String,
      heldout: DataFrame, heldoutTextCol: String,
      iterations: Int = 5, lambda0: Double = 0.5): Seq[Double] = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(lambda0 > 0.0 && lambda0 < 1.0,
      s"lambda0 must be in (0,1), got $lambda0")
    val tbase = train.select(TextAnalysis.tokens(col(trainTextCol)).as("toks"))
    val vocab = tbase.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val totals = vocab.agg(sum(col("n")).as("tot"), count(lit(1)).as("v"))
    val tbi = tbase.filter(size(col("toks")) >= 2)
      .select(explode(arrays_zip(
        slice(col("toks"), lit(1), size(col("toks")) - 1).as("w1"),
        slice(col("toks"), lit(2), size(col("toks")) - 1).as("w2"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      .localCheckpoint(true)
    val tctx = tbi.groupBy(col("w1")).agg(sum(col("cb")).as("cw"))
    val hbi = ngramPairs(heldout.select(col(heldoutTextCol)), Nil,
        heldoutTextCol, 2)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val scored = hbi
      .join(tbi, Seq("w1", "w2"), "left")
      .join(tctx, Seq("w1"), "left")
      .join(broadcast(vocab.withColumnRenamed("w", "w2")), Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .select(col("c"),
        when(col("cb").isNotNull, col("cb").cast("double") / col("cw"))
          .otherwise(lit(0.0)).as("pml"),
        ((coalesce(col("n"), lit(0L)) + 1).cast("double") /
          (col("tot") + col("v"))).as("pbo"))
      .localCheckpoint(true) // every EM iteration re-aggregates this pin
    var lam = lambda0
    val trace = Seq.newBuilder[Double]
    trace += lam
    for (_ <- 1 to iterations) {
      val r = (lit(lam) * col("pml")) /
        (lit(lam) * col("pml") + lit(1.0 - lam) * col("pbo"))
      val row = scored.agg(
        sum(col("c").cast("decimal(18,0)") *
          round(r, 12).cast("decimal(14,12)")).as("rsum"),
        sum(col("c")).as("csum")).head()
      require(!row.isNullAt(1) && row.getLong(1) > 0L,
        "tuneJmLambda: held-out corpus has no bigrams")
      // clamp below 1.0: when held-out bigrams are near-fully covered
      // with tiny pbo, the responsibility sum can round UP to csum and
      // the 6-dp update to exactly 1.0 — at which point the next
      // iteration's pml=0 rows compute r = 0/0 = NULL, which the
      // decimal sum drops while csum still counts them (a silently
      // wrong update, not an error). 0.999999 is the largest value
      // round6 preserves, mirroring the documented λ=0 degenerate.
      lam = math.min(
        round6(row.getDecimal(0).doubleValue / row.getLong(1)), 0.999999)
      trace += lam
    }
    trace.result()
  }

  /** Per-document INTERPOLATED KNESER-NEY bigram NLL — the smoothing
    * family behind KenLM and therefore behind the published CCNet
    * perplexity filter (Chen & Goodman 1999, interpolated form with a
    * fixed absolute discount D):
    *
    *   p(w2 | w1) = max(c(w1,w2) - D, 0) / c(w1,·)
    *              + (D · N1+(w1,·) / c(w1,·)) · N1+(·,w2) / B
    *
    * where N1+(w1,·) = distinct continuations of w1, N1+(·,w2) =
    * distinct contexts preceding w2 (the CONTINUATION count — KN's
    * insight: "how many contexts does this word complete" beats raw
    * frequency for backoff mass), and B = distinct bigram types. Unlike
    * [[bigramNll]]'s Jelinek-Mercer mix with a frequency-based unigram,
    * rare-but-versatile words keep probability mass and fixed-context
    * collocations ("Francisco") lose it. Scoring the corpus against its
    * own model: every scored bigram has c >= 1 > D, so both terms are
    * positive and p is never 0. Docs need >= 2 tokens.
    *
    * 100 TB shape: identical to [[bigramNll]] — map-only bigram zip,
    * one corpus shuffle into pinned (doc, w1, w2) counts, model frames
    * re-aggregated from the pin; the two continuation-count frames are
    * per-word (Heaps-bounded) and the bigram-model joins are left to
    * AQE (broadcast while they fit, shuffle beyond).
    *
    * Bigram face of [[knNgramNll]] (one shared kernel, round-11
    * column names preserved); every scored bigram is seen in the
    * self-model, so the kernel's backoff branches are inert here.
    */
  def knBigramNll(docs: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame =
    knNgramNll(docs, idCol, textCol, 2, discount)
      .withColumnRenamed("n_ngrams", "n_bigrams")

  /** (keep-cols..., w1..wn) full-history n-gram stream off a text
    * column — the shared map-only extraction (slice + arrays_zip, no
    * positional self-join) of every n-gram-LM face. w_n is the scored
    * word, w_1..w_{n-1} its history; docs with < n tokens emit
    * nothing.
    */
  private[graft] def ngramPairs(df: DataFrame, keep: Seq[String],
      textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"ngram order must be >= 2, got $n")
    val ks = keep.map(col)
    // no "size(__toks) >= n" filter: predicate pushdown substitutes the
    // alias below the projection, so the filter re-tokenized every row
    // (two regex splits per doc — guide §4.4's double-eval, measured as
    // the family's hot path). The slice length clamps at 0 instead:
    // a short doc's slices are all empty, arrays_zip of empties is
    // empty, and the explode emits nothing — row-identical output,
    // ONE tokenize.
    df
      .select(ks :+ TextAnalysis.tokens(col(textCol)).as("__toks"): _*)
      .select(ks :+ explode(arrays_zip(
        (1 to n).map(i => slice(col("__toks"), lit(i),
          greatest(size(col("__toks")) - (n - 1), lit(0)))
          .as(s"w$i")): _*)).as("__p"): _*)
      .select(ks ++ (1 to n).map(i => col(s"__p.w$i").as(s"w$i")): _*)
  }

  /** (keep-cols..., w1..wn) PADDED n-gram stream: one row per token
    * position, history slots before the doc start carried as NULL —
    * so every lower-order gram stream is a column-subset of this one
    * frame (the k+1-gram stream = rows where w_{n-k} is non-null,
    * projected to the last k+1 columns). One explode pass feeds every
    * order's model counts.
    */
  private[graft] def paddedNgrams(df: DataFrame, keep: Seq[String],
      textCol: String, n: Int): DataFrame = {
    val ks = keep.map(col)
    // same shape as [[ngramPairs]]: no size filter (it re-tokenized
    // every row via predicate pushdown — a token-free doc's slices are
    // already empty at length size(__toks) = 0, so the explode drops
    // it), and the scan fan-out above the tokenize
    val base = df
      .select(ks :+ TextAnalysis.tokens(col(textCol)).as("__toks"): _*)
    val pad = concat(array_repeat(lit(null).cast("string"), n - 1),
      col("__toks"))
    base.select(ks :+ explode(arrays_zip(
        (1 to n).map(i => slice(pad, lit(i),
          size(col("__toks"))).as(s"w$i")): _*)).as("__p"): _*)
      .select(ks ++ (1 to n).map(i => col(s"__p.w$i").as(s"w$i")): _*)
  }

  /** THE pinned order-n interpolated-KN model (Chen & Goodman 1999,
    * recursive backoff):
    *
    *  - `top`: raw n-gram counts c(w1..wn) — highest order scores on
    *    real counts;
    *  - `topCtx`: per-history mass c(w1..w_{n-1},·) and distinct-
    *    continuation count N1+(w1..w_{n-1},·);
    *  - `cont(k)` for k = n-1 .. 2: CONTINUATION counts — order-k
    *    grams counted by their distinct one-word LEFT extensions in
    *    the (k+1)-gram TYPE stream (a_k(g) = N1+(·g), the KN insight:
    *    "how many contexts does this gram complete" replaces raw
    *    frequency below the top order), plus the per-context sums and
    *    distinct-continuation counts the discount needs;
    *  - `precede`: the continuation unigram N1+(·w) from bigram types;
    *  - `btypes`: distinct bigram types B (the continuation-unigram
    *    denominator), a bounded driver literal (one count at build; a
    *    scalar crossJoin per consumer would re-enter the
    *    iteration-stats hazard PageRank documents).
    *
    * All frames derive from ONE padded explode pass over the corpus
    * ([[paddedNgrams]] → type counts), pinned so every order's re-agg
    * reads the model-sized type frame, never the corpus. Shared by the
    * batch and streaming scoring faces so the smoothing can never
    * drift between them; fails fast on a bigram-free reference (the
    * unk mass 1/(2B) would otherwise divide by zero). Order 2
    * reproduces the round-11 bigram model exactly (empty `cont`).
    */
  /** Per-order modified-KN discount triple (Chen & Goodman 1999 §3,
    * the KenLM estimator): D1/D2/D3+ applied to events of count 1 / 2 /
    * >= 3, estimated from that order's count-of-counts. */
  final case class KnDiscount(d1: Double, d2: Double, d3: Double)

  /** `mods` is LAZY (forced by the modified-discount faces and by
    * [[saveKnModel]], never by single-discount scoring): each triple
    * costs one count-of-counts aggregate per order over the pinned
    * model frames — measurable at order 5 — and the classic faces
    * don't read it. */
  final case class KnModel(order: Int, top: DataFrame,
      topCtx: DataFrame, cont: List[(Int, DataFrame, DataFrame)],
      precede: DataFrame, btypes: Long,
      private val modsThunk: () => Map[Int, KnDiscount] =
        () => Map.empty) {
    lazy val mods: Map[Int, KnDiscount] = modsThunk()
  }

  /** Build a [[KnModel]] from a pinned padded-type frame
    * (w1..w_order nullable, `__c` = corpus occurrences of the padded
    * tuple). Factored out so the self-scoring face can derive the
    * model from the SAME pinned frame it scores with (one corpus
    * shuffle total).
    */
  /** Count class markers shared by the context aggregations: how many
    * continuations of a context occur exactly once / twice / three-plus
    * times — the N1/N2/N3+ the modified-KN backoff weight needs
    * (single-discount scoring ignores them; they ride the same shuffle
    * for free). */
  private def classCounts(cnt: Column, p: String): Seq[Column] = Seq(
    sum(when(cnt === 1L, 1L).otherwise(0L)).as(s"${p}1"),
    sum(when(cnt === 2L, 1L).otherwise(0L)).as(s"${p}2"),
    sum(when(cnt >= 3L, 1L).otherwise(0L)).as(s"${p}3"))

  /** Chen-Goodman modified-KN discount triple from one order's
    * count-of-counts (n_k = types occurring exactly k times): Y =
    * n1/(n1+2n2), D1 = 1-2Y n2/n1, D2 = 2-3Y n3/n2, D3+ = 3-4Y n4/n3 —
    * the KenLM estimator. A degenerate estimate falls back to the
    * caller's fixed discount: an nk of 0 makes a formula undefined,
    * and a NON-POSITIVE estimate (skewed count-of-counts) would zero a
    * class's discount — fatal, because a context whose continuations
    * all sit in that class then carries zero backoff weight and an
    * unseen event there gets p = 0 (the SRILM out-of-range warning,
    * made a hard fallback). Estimates cap at the class value so the
    * discounted numerator max(c-D,0) never goes negative; with every
    * discount > 0 the backoff weight is > 0 for every seen context and
    * p > 0 everywhere. One 4-cell aggregate over a model-sized type
    * frame — a bounded driver scalar, the btypes device. */
  private def estimateDiscounts(counts: DataFrame, cntCol: String,
      fallback: Double): KnDiscount = {
    val r = counts.agg(
      sum(when(col(cntCol) === 1L, 1L).otherwise(0L)),
      sum(when(col(cntCol) === 2L, 1L).otherwise(0L)),
      sum(when(col(cntCol) === 3L, 1L).otherwise(0L)),
      sum(when(col(cntCol) === 4L, 1L).otherwise(0L))).head()
    def g(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    val (n1, n2, n3, n4) = (g(0), g(1), g(2), g(3))
    def pick(nk: Long, raw: => Double, hi: Double) =
      if (nk > 0L && raw > 0.0) math.min(raw, hi) else fallback
    val y =
      if (n1 + 2L * n2 > 0L) n1.toDouble / (n1.toDouble + 2.0 * n2.toDouble)
      else 0.0
    KnDiscount(
      pick(n1, 1.0 - 2.0 * y * n2.toDouble / n1.toDouble, 1.0),
      pick(n2, 2.0 - 3.0 * y * n3.toDouble / n2.toDouble, 2.0),
      pick(n3, 3.0 - 4.0 * y * n4.toDouble / n3.toDouble, 3.0))
  }

  private[graft] def knModelFromTypes(types: DataFrame, order: Int,
      pruneMinTopCount: Long = 1L,
      fallbackDiscount: Double = 0.75): KnModel = {
    require(pruneMinTopCount >= 1, "pruneMinTopCount must be >= 1")
    val topFull = types.filter(col("w1").isNotNull)
      .groupBy((1 to order).map(i => col(s"w$i")): _*)
      .agg(sum(col("__c")).as("cb"))
      .localCheckpoint(true)
    // context mass/continuation counts come from the UNPRUNED stream:
    // a pruned gram then scores exactly like an unseen one (discounted
    // term gone, full backoff weight) — the standard count-pruning
    // trade (KenLM's --prune): p sums slightly below 1 for pruned
    // contexts, NLL of pruned events rises, frequent events are
    // bit-identical to the unpruned model. Top order only — that is
    // where n-gram type counts stop being Heaps-bounded at order 4+.
    // Modified-KN discounts estimate from the unpruned counts too
    // (KenLM's order: discounts before pruning).
    val topCtxAggs = sum(col("cb")).as("cw") +:
      count(lit(1)).as("nfollow") +: classCounts(col("cb"), "nf")
    val topCtx = topFull.groupBy((1 to order - 1).map(i => col(s"w$i")): _*)
      .agg(topCtxAggs.head, topCtxAggs.tail: _*)
      .localCheckpoint(true)
    val top =
      if (pruneMinTopCount > 1L) topFull.filter(col("cb") >= pruneMinTopCount)
      else topFull
    val cont = ((order - 1) to 2 by -1).map { k =>
      val from = order - k // leftmost column of the (k+1)-gram window
      val raw = types.filter(col(s"w$from").isNotNull)
        .select((from to order).map(i => col(s"w$i")): _*)
      // rows of `types` are distinct full-width tuples; a projection
      // below full width re-introduces duplicates and must re-distinct
      val kp1Types = if (from == 1) raw else raw.distinct()
      val grams = kp1Types
        .groupBy((from + 1 to order).map(i => col(s"w$i")): _*)
        .agg(count(lit(1)).as(s"a$k"))
        .localCheckpoint(true)
      val ctxAggs = sum(col(s"a$k")).as(s"ad$k") +:
        count(lit(1)).as(s"anf$k") +: classCounts(col(s"a$k"), s"an${k}_")
      val ctx = grams
        .groupBy((from + 1 to order - 1).map(i => col(s"w$i")): _*)
        .agg(ctxAggs.head, ctxAggs.tail: _*)
        .localCheckpoint(true)
      (k, grams, ctx)
    }.toList
    // lazy: forced only by the modified faces / saveKnModel — the
    // count-of-counts aggregates read the pinned frames captured here
    val modsThunk = () =>
      Map(order -> estimateDiscounts(topFull, "cb", fallbackDiscount)) ++
        cont.map { case (k, grams, _) =>
          k -> estimateDiscounts(grams, s"a$k", fallbackDiscount) }
    val biRaw = types.filter(col(s"w${order - 1}").isNotNull)
      .select(col(s"w${order - 1}"), col(s"w$order"))
    val biTypes = (if (order == 2) biRaw else biRaw.distinct())
      .localCheckpoint(true)
    val bt = biTypes.count()
    require(bt > 0,
      "KN model: reference corpus has no bigrams (every doc < 2 tokens)")
    val precede = biTypes.groupBy(col(s"w$order"))
      .agg(count(lit(1)).as("nprec"))
      .localCheckpoint(true)
    KnModel(order, top, topCtx, cont, precede, bt, modsThunk)
  }

  /** `pruneMinTopCount`: drop top-order grams occurring fewer times
    * (KenLM's count pruning — the 100 TB rail for order >= 4, where
    * top-order type counts grow near-linearly with the corpus while
    * every lower-order frame stays Heaps-bounded). Pruned grams back
    * off exactly like unseen ones; 1 (default) = exact model. */
  def knModel(ref: DataFrame, refTextCol: String,
      order: Int = 2, pruneMinTopCount: Long = 1L): KnModel = {
    require(order >= 2 && order <= 6,
      s"KN order must be in [2,6], got $order")
    val types = paddedNgrams(ref, Nil, refTextCol, order)
      .groupBy((1 to order).map(i => col(s"w$i")): _*)
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    knModelFromTypes(types, order, pruneMinTopCount)
  }

  /** Persist a [[KnModel]] as parquet — the train-once / score-many
    * economics CCNet actually runs (the LM trains on Wikipedia ONCE
    * and scores every crawl snapshot; [[knModel]]'s localCheckpointed
    * frames are session-lifetime only, so without this every scoring
    * run would repay the reference pass). One subdirectory per model
    * frame plus a 1-row `manifest` (order, btypes) — the persisted-
    * index device the ANN side uses (`Similarity.writeIndex`). Loaded
    * frames are parquet-backed and need no re-pin.
    */
  def saveKnModel(m: KnModel, path: String): Unit = {
    val spark = m.top.sparkSession
    import spark.implicits._
    m.top.write.mode("overwrite").parquet(s"$path/top")
    m.topCtx.write.mode("overwrite").parquet(s"$path/topctx")
    m.cont.foreach { case (k, g, cx) =>
      g.write.mode("overwrite").parquet(s"$path/cont$k")
      cx.write.mode("overwrite").parquet(s"$path/contctx$k")
    }
    m.precede.write.mode("overwrite").parquet(s"$path/precede")
    // per-order modified-KN discount triples (estimated at build from
    // the UNPRUNED counts — they cannot be recomputed from a pruned
    // persisted model, so they persist alongside the frames)
    m.mods.toSeq.map { case (k, d) => (k, d.d1, d.d2, d.d3) }
      .toDF("k", "d1", "d2", "d3")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/discounts")
    Seq((m.order, m.btypes)).toDF("order", "btypes")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/manifest")
  }

  def loadKnModel(spark: org.apache.spark.sql.SparkSession,
      path: String): KnModel = {
    val mf = spark.read.parquet(s"$path/manifest").head()
    val order = mf.getInt(0); val btypes = mf.getLong(1)
    val cont = ((order - 1) to 2 by -1).map(k =>
      (k, spark.read.parquet(s"$path/cont$k"),
        spark.read.parquet(s"$path/contctx$k"))).toList
    // models persisted before the modified-KN face have no discounts
    // dir; they load fine and the single-discount faces work unchanged
    // (the modified faces reject them with a clear message)
    val mods =
      if (new org.apache.hadoop.fs.Path(s"$path/discounts").getFileSystem(
          spark.sparkContext.hadoopConfiguration)
          .exists(new org.apache.hadoop.fs.Path(s"$path/discounts")))
        spark.read.parquet(s"$path/discounts").collect()
          .map(r => r.getInt(0) ->
            KnDiscount(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
          .toMap
      else Map.empty[Int, KnDiscount]
    KnModel(order, spark.read.parquet(s"$path/top"),
      spark.read.parquet(s"$path/topctx"), cont,
      spark.read.parquet(s"$path/precede"), btypes, () => mods)
  }

  /** Interpolated-KN probability over the LEFT-joined model columns —
    * the recursion p_k = max(cnt_k - D, 0)/denom_k + D·N1+_k/denom_k ·
    * p_{k-1} unrolled bottom-up into ONE column expression, shared
    * verbatim by every scoring face (batch self, batch reference,
    * streaming). Unseen events back off deterministically at every
    * level: gram unseen -> discounted term 0; context unseen at order
    * k -> p_k = p_{k-1} (full backoff); word unseen everywhere ->
    * 1/(2B) unk mass (the role of KenLM's <unk> probability). Order 2
    * reproduces the round-11 expression bit-for-bit.
    */
  private[graft] def knProbability(order: Int, discount: Double,
      btypes: Double): Column = {
    val p1 = when(col("nprec").isNotNull,
        col("nprec").cast("double") / lit(btypes))
      .otherwise(lit(0.5 / btypes))
    val mid = (2 until order).foldLeft(p1) { (prev, k) =>
      when(col(s"ad$k").isNotNull,
        greatest(coalesce(col(s"a$k"), lit(0L)) - lit(discount), lit(0.0)) /
          col(s"ad$k") +
          (lit(discount) * col(s"anf$k") / col(s"ad$k")) * prev)
        .otherwise(prev)
    }
    when(col("cw").isNotNull,
      greatest(coalesce(col("cb"), lit(0L)) - lit(discount), lit(0.0)) /
        col("cw") +
        (lit(discount) * col("nfollow") / col("cw")) * mid)
      .otherwise(mid)
  }

  /** MODIFIED interpolated-KN probability (Chen & Goodman 1999 §3 —
    * the estimator KenLM actually ships): the same recursion as
    * [[knProbability]] with the single D replaced per level by the
    * count-class discount D(c) ∈ {0, D1, D2, D3+} and the backoff
    * weight by γ(h) = (D1·N1(h·) + D2·N2(h·) + D3+·N3+(h·)) / c(h·),
    * each level's triple estimated from ITS OWN count-of-counts
    * ([[estimateDiscounts]] — continuation counts estimate their own
    * discounts, exactly as C&G prescribe for the lower orders). The
    * continuation-unigram bottom and the 1/(2B) unk mass are shared
    * with the single-discount face unchanged (C&G also discount the
    * unigram level; keeping the bottom shared means the two estimators
    * differ ONLY in the discount scheme — one knob, cleanly
    * oracle-replayable).
    */
  private[graft] def knProbabilityMod(order: Int,
      mods: Map[Int, KnDiscount], btypes: Double): Column = {
    require((2 to order).forall(mods.contains),
      "model carries no modified-KN discounts for every order " +
        "(persisted before the modified face? re-train or re-save)")
    def disc(cnt: Column, d: KnDiscount): Column =
      when(cnt >= 3L, lit(d.d3)).when(cnt === 2L, lit(d.d2))
        .when(cnt === 1L, lit(d.d1)).otherwise(lit(0.0))
    def gamma(d: KnDiscount, n1: Column, n2: Column, n3: Column,
        denom: Column): Column =
      (lit(d.d1) * n1 + lit(d.d2) * n2 + lit(d.d3) * n3) / denom
    val p1 = when(col("nprec").isNotNull,
        col("nprec").cast("double") / lit(btypes))
      .otherwise(lit(0.5 / btypes))
    val mid = (2 until order).foldLeft(p1) { (prev, k) =>
      val d = mods(k)
      val a = coalesce(col(s"a$k"), lit(0L))
      when(col(s"ad$k").isNotNull,
        greatest(a - disc(a, d), lit(0.0)) / col(s"ad$k") +
          gamma(d, col(s"an${k}_1"), col(s"an${k}_2"), col(s"an${k}_3"),
            col(s"ad$k")) * prev)
        .otherwise(prev)
    }
    val dTop = mods(order)
    val cb = coalesce(col("cb"), lit(0L))
    when(col("cw").isNotNull,
      greatest(cb - disc(cb, dTop), lit(0.0)) / col("cw") +
        gamma(dTop, col("nf1"), col("nf2"), col("nf3"), col("cw")) * mid)
      .otherwise(mid)
  }

  /** LEFT-join a full-history gram frame (w1..wn + any carry columns)
    * against every [[KnModel]] level and attach the `__p` probability
    * column — the single scoring kernel behind the batch and streaming
    * faces. Model joins are AQE-sized (broadcast while they fit,
    * shuffle beyond — the right call at every scale, since gram
    * vocabularies grow with the reference corpus).
    */
  private[graft] def knScoreJoin(grams: DataFrame, m: KnModel,
      discount: Double, modified: Boolean = false): DataFrame = {
    val n = m.order
    // single-discount scoring never reads the class-count columns —
    // project them off BEFORE the joins so the context exchanges carry
    // the round-11 width (the modified face pays for what it uses)
    def ctxCols(keys: Seq[String], used: Seq[String], all: DataFrame) =
      if (modified) all else all.select((keys ++ used).map(col): _*)
    val topCtxF = ctxCols((1 to n - 1).map(i => s"w$i"),
      Seq("cw", "nfollow"), m.topCtx)
    val top = grams
      .join(m.top, (1 to n).map(i => s"w$i"), "left")
      .join(topCtxF, (1 to n - 1).map(i => s"w$i"), "left")
    val withCont = m.cont.foldLeft(top) { case (acc, (k, g, cx)) =>
      val from = n - k
      val cxF = ctxCols((from + 1 to n - 1).map(i => s"w$i"),
        Seq(s"ad$k", s"anf$k"), cx)
      acc.join(g, (from + 1 to n).map(i => s"w$i"), "left")
        .join(cxF, (from + 1 to n - 1).map(i => s"w$i"), "left")
    }
    withCont.join(m.precede, Seq(s"w$n"), "left")
      .withColumn("__p",
        if (modified) knProbabilityMod(n, m.mods, m.btypes.toDouble)
        else knProbability(n, discount, m.btypes.toDouble))
  }

  /** Per-document order-n interpolated Kneser-Ney NLL, self-scored
    * (model fit on `docs` itself) — [[knBigramNll]] generalized to the
    * KenLM/CCNet deployment order (5-gram there; trigram the useful
    * minimum). Returns (doc_id, n_ngrams, nll) for docs with >= order
    * tokens; scoring positions are the full-history n-gram positions
    * (no sentence-start padding — a modeling choice kept deliberately
    * oracle-replayable).
    *
    * 100 TB shape: ONE corpus shuffle into the pinned per-doc padded
    * tuple counts; the model's every order re-aggregates from that pin
    * (never the corpus); scoring left-joins the model frames AQE-sized
    * and re-aggregates per doc. Self-scoring means every top-order
    * gram is seen, so p is never 0 by construction.
    */
  def knNgramNll(docs: DataFrame, idCol: String, textCol: String,
      order: Int = 3, discount: Double = 0.75): DataFrame =
    knNgramNllSelf(docs, idCol, textCol, order, discount, modified = false)

  /** [[knNgramNll]] under MODIFIED Kneser-Ney discounting (Chen &
    * Goodman's three count-class discounts per order, estimated from
    * each order's own count-of-counts — see [[knProbabilityMod]]).
    * Same plan shape; the class-count columns already ride the model's
    * context aggregations. */
  def knNgramNllMod(docs: DataFrame, idCol: String, textCol: String,
      order: Int = 3): DataFrame =
    knNgramNllSelf(docs, idCol, textCol, order, 0.75, modified = true)

  private def knNgramNllSelf(docs: DataFrame, idCol: String,
      textCol: String, order: Int, discount: Double,
      modified: Boolean): DataFrame = {
    require(order >= 2 && order <= 6,
      s"KN order must be in [2,6], got $order")
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0,1), got $discount")
    val docPad = paddedNgrams(
        docs.select(col(idCol).as("doc_id"), col(textCol)),
        Seq("doc_id"), textCol, order)
      .groupBy(col("doc_id") +: (1 to order).map(i => col(s"w$i")): _*)
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // model re-aggs + scoring read this pin
    val types = docPad
      .groupBy((1 to order).map(i => col(s"w$i")): _*)
      .agg(sum(col("c")).as("__c"))
      .localCheckpoint(true)
    val m = knModelFromTypes(types, order)
    knScoreJoin(docPad.filter(col("w1").isNotNull), m, discount, modified)
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_ngrams"),
        round(-sum(col("c") * log(col("__p"))) / sum(col("c")), 6).as("nll"))
  }

  /** Order-n KN scoring against a model trained on a separate
    * REFERENCE corpus — CCNet's actual filter (LM trained on
    * Wikipedia, perplexity computed on the crawl), which self-scoring
    * cannot express because unseen mass never arises there. Unseen
    * events back off explicitly and deterministically at every level
    * ([[knProbability]]); p is never 0, so every doc with >= order
    * tokens scores finitely, and a bigram-free reference fails fast at
    * model build. Returns (doc_id, n_ngrams, n_unseen, nll) where
    * n_unseen counts positions whose top-order gram is absent from the
    * reference. Scale shape: the model frames come from one padded
    * pass over the reference ([[knModel]], reusable across scoring
    * runs — see save/load) and are AQE-joined; scoring is the same
    * map-only gram zip + one shuffle as the self-scoring path.
    */
  def knNgramNllAgainst(docs: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String,
      order: Int = 3, discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0,1), got $discount")
    val m = knModel(ref, refTextCol, order)
    knNgramNllAgainstModel(docs, idCol, textCol, m, discount)
  }

  /** Score against an already-built [[KnModel]] (the train-once /
    * score-many economics — see [[saveKnModel]]/[[loadKnModel]]). */
  def knNgramNllAgainstModel(docs: DataFrame, idCol: String,
      textCol: String, m: KnModel, discount: Double = 0.75): DataFrame =
    knNgramNllAgainstModelImpl(docs, idCol, textCol, m, discount,
      modified = false)

  /** [[knNgramNllAgainstModel]] under MODIFIED Kneser-Ney discounting —
    * the estimator KenLM ships, so this is the closest face to the
    * published CCNet deployment. The model must carry its build-time
    * discount triples ([[KnModel.mods]] — any model built or persisted
    * by this version does). */
  def knNgramNllModAgainstModel(docs: DataFrame, idCol: String,
      textCol: String, m: KnModel): DataFrame =
    knNgramNllAgainstModelImpl(docs, idCol, textCol, m, 0.75,
      modified = true)

  /** [[knNgramNllAgainst]]'s modified-discount sibling: train on `ref`,
    * score `docs`, three count-class discounts per order. */
  def knNgramNllModAgainst(docs: DataFrame, idCol: String,
      textCol: String, ref: DataFrame, refTextCol: String,
      order: Int = 3): DataFrame =
    knNgramNllModAgainstModel(docs, idCol, textCol,
      knModel(ref, refTextCol, order))

  private def knNgramNllAgainstModelImpl(docs: DataFrame, idCol: String,
      textCol: String, m: KnModel, discount: Double,
      modified: Boolean): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0,1), got $discount")
    val docGrams = ngramPairs(
        docs.select(col(idCol).as("doc_id"), col(textCol)),
        Seq("doc_id"), textCol, m.order)
      .groupBy(col("doc_id") +: (1 to m.order).map(i => col(s"w$i")): _*)
      .agg(count(lit(1)).as("c"))
    knScoreJoin(docGrams, m, discount, modified)
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_ngrams"),
        sum(when(col("cb").isNull, col("c")).otherwise(0L))
          .as("n_unseen"),
        round(-sum(col("c") * log(col("__p"))) / sum(col("c")), 6).as("nll"))
  }

  /** Bigram face of [[knNgramNllAgainst]] (the round-11 surface,
    * column names preserved). */
  def knBigramNllAgainst(docs: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String,
      discount: Double = 0.75): DataFrame =
    knNgramNllAgainst(docs, idCol, textCol, ref, refTextCol, 2, discount)
      .withColumnRenamed("n_ngrams", "n_bigrams")

  /** CCNet's head/middle/tail split: bucket documents by their
    * perplexity-proxy score (the [[unigramNll]] output) against corpus
    * quantile cutoffs — head = lowest-NLL quarter (keep), tail = highest
    * (drop/downsample). Returns (doc_id, n_tokens, nll, bucket) with
    * bucket in {head, middle, tail}: nll <= q25 -> head, nll > q75 ->
    * tail. Wenzek et al. 2020 split at 1/3s against an external LM; the
    * quantile device is the same.
    *
    * Scale shape: scoring is [[unigramNll]]'s one-shuffle plan; the
    * cutoffs are a single global aggregate over the per-doc scores
    * (`exact = false`, the 100 TB default, uses the mergeable
    * approx_percentile sketch — constant memory; `exact = true` is for
    * oracle parity) broadcast back into a map-side bucket assignment.
    */
  /** Shared head/middle/tail assignment over any per-doc scored frame
    * carrying an `nll` column: corpus quantile cutoffs (`exact = false`,
    * the 100 TB default, uses the mergeable approx_percentile sketch —
    * constant memory; `exact = true` is for oracle parity) broadcast
    * back into a map-side bucket column.
    */
  private def nllBuckets(scored: DataFrame, exact: Boolean): DataFrame = {
    val pct: Double => org.apache.spark.sql.Column =
      if (exact) p => expr(s"percentile(nll, $p)")
      else p => expr(s"approx_percentile(nll, $p, 10000)").cast("double")
    val cuts = scored.agg(pct(0.25).as("__q25"), pct(0.75).as("__q75"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("nll") <= col("__q25"), "head")
          .when(col("nll") > col("__q75"), "tail")
          .otherwise("middle"))
  }

  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
      exact: Boolean = false): DataFrame =
    nllBuckets(unigramNll(docs, idCol, textCol).localCheckpoint(true), exact)
      .select(col("doc_id"), col("n_tokens"), col("nll"), col("bucket"))

  /** THE published CCNet shape end to end: head/middle/tail split of a
    * corpus by its perplexity against a REFERENCE-trained order-n KN
    * model (Wenzek et al. 2020 train a 5-gram KenLM on Wikipedia,
    * score the crawl, and keep by perplexity band — [[perplexityBuckets]]
    * approximates the signal with a self-fit unigram model; this face
    * composes the real one from [[knModel]]/[[loadKnModel]] +
    * [[knNgramNllAgainstModel]] + the same quantile bucketing).
    * Returns (doc_id, n_ngrams, n_unseen, nll, bucket) for docs with
    * >= order tokens; one corpus scoring pass, one bounded cutoff
    * aggregate, map-side assignment.
    */
  def knPerplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
      m: KnModel, discount: Double = 0.75,
      exact: Boolean = false): DataFrame =
    nllBuckets(
      knNgramNllAgainstModel(docs, idCol, textCol, m, discount)
        .localCheckpoint(true), exact)
      .select(col("doc_id"), col("n_ngrams"), col("n_unseen"),
        col("nll"), col("bucket"))

  /** Per-document out-of-vocabulary rate against the corpus top-`vocabSize`
    * token vocabulary (count desc, token asc tie-break — deterministic at
    * the boundary). The standard "does this doc look like the corpus the
    * tokenizer was trained on" signal; high OOV = noise/other-language/
    * garbled encoding. Returns (doc_id, n_tokens, n_oov, oov_rate) for
    * docs with >= 1 token.
    *
    * 100 TB shape: one shuffle into (doc, token) counts, pinned; the
    * vocabulary is a TakeOrdered over the token re-agg (never a global
    * sort) and rides a broadcast into the membership join.
    */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 1000): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val docw = docs.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val vocab = docw.groupBy(col("w")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("w")) // TakeOrderedAndProject, not a sort
      .limit(vocabSize)
      .select(col("w"), lit(1).as("__in"))
    docw.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("__in").isNull, col("c")).otherwise(lit(0L))).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }

  /** Top-k characteristic terms per document by smoothed TF-IDF
    * (tf * (ln((N+1)/(df+1)) + 1), the sklearn-style smooth idf), ties
    * broken by term asc. The cheap per-doc keyword/topic signal used for
    * corpus exploration and mixture reporting. Returns
    * (doc_id, rank, term, tfidf).
    *
    * 100 TB shape: one shuffle into (doc, term) counts; document
    * frequencies are a term-keyed re-agg broadcast back; the per-doc
    * top-k is a window over the doc-keyed counts — each doc's term list
    * is vocabulary-bounded, so no skew concern.
    */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val docw = docs.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfreq = docw.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("__s").desc, col("term"))
    docw.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("__s", col("tf") *
        (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1.0))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), round(col("__s"), 6).as("tfidf"))
  }
}
