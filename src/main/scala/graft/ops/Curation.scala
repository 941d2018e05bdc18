package graft.ops

import graft.util.Canon._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus curation + retrieval scoring — the operators a training-data
  * pipeline runs AFTER cleaning/dedup to decide what to keep, what to
  * upsample, and how to find things in the corpus (SURVEY §2.9's scale
  * mandate, BASELINE.json:6):
  *
  *  - `text_bm25_search`: BM25-ranked keyword retrieval (Robertson–Spärck
  *    Jones probabilistic relevance, the Okapi BM25 formula) — the lexical
  *    search every corpus-provenance / contamination-audit surface serves
  *    next to the embedding ANN family.
  *  - `sim_rrf_fusion`: Reciprocal Rank Fusion of the lexical (BM25) and
  *    dense (cosine) top-20 lists — the hybrid-search merge, rank-only so
  *    no score calibration crosses retrievers.
  *  - `pipeline_dsir_weights`: Data Selection via Importance Resampling
  *    (Xie et al. 2023): per-document log importance weight between a
  *    target-domain hashed-unigram LM and the raw-corpus LM — the
  *    principled "pick raw documents that look like the target domain"
  *    curation step.
  *  - `pipeline_mix_temperature`: temperature-scaled source mixing
  *    (the multilingual-sampling rule of Conneau & Lample 2019, α < 1
  *    upsamples the tail) — turns per-source token shares into the
  *    sampling weights a data loader consumes.
  *  - `embed_covariance` / `embed_pca_variance`: the embedding-space
  *    covariance spectrum (explained-variance PCA audit) — the collapse /
  *    anisotropy check run before trusting an embedding column for
  *    semantic dedup or ANN.
  *
  * Determinism contract (Canon rules): every cross-engine number is either
  * an exact integer aggregate or a pure IEEE expression over exact
  * integers, with ln/pow appearing only through the 1e6-scaled-integer
  * `li` step or a scaled `floor(pow·1e9 + 0.5)` — the accepted last-ulp
  * posture documented in PLANS.md (text_entropy / sample_weighted
  * precedent). Float SUMS never cross an engine boundary: per-term BM25
  * partials, DSIR per-bucket contributions, covariance products, and
  * temperature weights are all summed as BIGINTs.
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame
  import TextDedup.{normText, normSql, toks}

  /** The oracle twin of `Canon.ln6`. */
  private def liSql(x: String): String =
    s"CAST(floor(ln(CAST($x AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"

  // ------------------------------------------------------------ BM25 search
  /** The fixed search query the registry entry scores (three corpus terms
    * with distinct document frequencies). `Graft.bm25Search` takes any
    * term set; the oracle needs a literal. */
  private val QueryTerms = Seq("hash", "join", "stream")

  /** Okapi BM25 (k1 = 1.2, b = 0.75) top-15 for a fixed 3-term query.
    *
    * score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl)),
    * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1).
    *
    * Scale shape: ONE corpus scan; the explode is filtered to the query
    * terms BEFORE the (doc, term) aggregate, so shuffled volume is ∝
    * matching postings, not corpus tokens; df and the (N, total-token)
    * stats are tiny broadcast frames; top-15 is a TakeOrdered. This is the
    * sharded term-at-a-time plan a distributed BM25 serves — no inverted
    * index materialization needed for batch scoring (text_inverted_index
    * covers the index itself).
    *
    * Determinism: idf rides as a 1e6-scaled integer; the per-term fraction
    * is a fixed-shape IEEE expression over exact integers (products and
    * divisions are correctly rounded, so identical operand order ⇒
    * identical doubles on both engines); each per-term score is floored
    * back to a scaled BIGINT so the per-document SUM is exact-integer —
    * float addition order never matters. */
  private[graft] def bm25Core(docs: DataFrame, terms: Seq[String]): DataFrame =
    bm25Scored(docs, terms)
      .withColumn("bm25", r4(col("score_scaled").cast("double") / 1e6))
      .orderBy(desc("score_scaled"), asc("doc_id")).limit(15)
      .select(col("doc_id"), col("n_terms"), col("bm25"))

  /** The BM25 scoring plan minus presentation: (doc_id, score_scaled,
    * n_terms) for every document matching ≥1 query term — shared by
    * `text_bm25_search` (top-15 with the unscaled score) and
    * `sim_rrf_fusion` (rank list for fusion). */
  private[graft] def bm25Scored(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val base = docs.select(col("doc_id"), toks(normText).as("tk"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(size(col("tk")).cast("long")).as("n_tokens"))
    val tf = base
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("n_tokens").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf_s",
        ln6((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5)) + lit(1.0)))
      .withColumn("frac",
        (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))))
      .withColumn("sc",
        floor(col("idf_s").cast("double") * col("frac") + 0.5).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("sc")).as("score_scaled"), count(lit(1)).as("n_terms"))
  }
  private val textBm25Search: Q = (s, d) =>
    bm25Core(tbl(s, d, "documents"), QueryTerms)

  // ------------------------------------------------- hybrid retrieval (RRF)
  /** Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of the
    * lexical and dense retrieval lists — the standard hybrid-search merge
    * every RAG / corpus-provenance stack runs (Elasticsearch, Vespa, Milvus
    * all ship exactly this formula): for one request (the three BM25 query
    * terms + document 0's embedding as the dense query, doc 0 itself
    * excluded as the query), take the lexical top-20 by BM25 and the dense
    * top-20 by exact cosine, then score every candidate
    * rrf(d) = Σ_lists 1/(60 + rank_list(d)), absent list ⇒ 0 contribution.
    *
    * Determinism: ranks are integers from already-deterministic orderings
    * (scaled-BIGINT BM25; the bit-identical codegen cosine), and the RRF
    * sum rides as Σ 1e9 div (60+rank) — exact integer division, no floats
    * cross the engines. Absent ranks emit 0, not NULL (the comparer's
    * pandas path would lift a nullable int column to float).
    *
    * Scale shape: each list is a TakeOrdered top-20 over its own
    * already-scale-safe plan (BM25 = one corpus scan with postings-bounded
    * shuffle; dense = one broadcast-query scan — at 100 TB the served ANN
    * index, sim_ivfpq_served, substitutes for the exact scan). The fusion
    * itself joins two ≤20-row frames — constant work regardless of corpus
    * size, which is the operational point of RRF: no score calibration
    * across heterogeneous retrievers, only ranks. */
  private val simRrfFusion: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val lexW = Window.orderBy(desc("score_scaled"), asc("doc_id"))
    val lex = bm25Scored(tbl(s, d, "documents"), QueryTerms)
      .where(col("doc_id") =!= 0L)
      .orderBy(desc("score_scaled"), asc("doc_id")).limit(20)
      .withColumn("lex_rank", row_number().over(lexW).cast("long"))
      .select(col("doc_id").as("id"), col("lex_rank"))
    val e = tbl(s, d, "embeddings")
    val q = e.where(col("vec_id") === 0L).select(col("embedding").as("qe"))
    val denseW = Window.orderBy(desc("cos_raw"), asc("vec_id"))
    val dense = e.where(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .withColumn("cos_raw", TextDedup.cosineGen(col("embedding"), col("qe")))
      .orderBy(desc("cos_raw"), asc("vec_id")).limit(20)
      .withColumn("dense_rank", row_number().over(denseW).cast("long"))
      .select(col("vec_id").as("id"), col("dense_rank"))
    lex.join(dense, Seq("id"), "full_outer")
      .withColumn("lex_rank", coalesce(col("lex_rank"), lit(0L)))
      .withColumn("dense_rank", coalesce(col("dense_rank"), lit(0L)))
      .withColumn("rrf_scaled",
        when(col("lex_rank") > 0, expr("1000000000 div (60 + lex_rank)"))
          .otherwise(lit(0L)) +
        when(col("dense_rank") > 0, expr("1000000000 div (60 + dense_rank)"))
          .otherwise(lit(0L)))
      .orderBy(desc("rrf_scaled"), asc("id")).limit(10)
      .select(col("id").as("doc_id"), col("lex_rank"), col("dense_rank"),
        col("rrf_scaled"))
  }

  // ------------------------------------------------ classifier TRAINING
  /** Distributed BATCH-PERCEPTRON training of the hashed-unigram linear
    * classifier (lang = en vs rest) — the missing half of
    * `pipeline_domain_classifier`, which only SCORES with fixed weights:
    * production curation stacks TRAIN their quality/domain classifiers on
    * the corpus itself (fastText-style), and at 100 TB that training must
    * be a distributed fixpoint, not a driver loop over rows. Three
    * unrolled epochs of the batch update
    *   w ← w + Σ_{misclassified} y·x,  bias ← bias + Σ y
    * over B = 256 hashed-feature counts (the DSIR/tbucket feature space).
    * Epoch cost = two passes over the (doc, bucket, cnt) frame: a
    * map-side score against the ≤256-long broadcast model + one bucket
    * aggregate of the error mass. ONLY the model (256 weights + bias +
    * two scalars) ever reaches the driver — the kmeans contract.
    *
    * Everything is exact BIGINT arithmetic (counts × integer weights), so
    * the whole trainer replays as unrolled DuckDB CTEs and the output —
    * per-epoch error count, post-update L1 weight mass, bias — is
    * hash-gated. Error counts on the synthetic corpus need not reach 0
    * (lang is not linearly separable from hashed counts there); the
    * CONVERGENCE mechanics are pinned on a separable corpus in
    * CurationSpec. */
  /** The shared trainer core: 3 batch-perceptron epochs over the hashed
    * feature frame; returns the checkpointed features, the final model,
    * and the per-epoch stats rows. */
  private def trainCore(s: SparkSession, d: String):
      (DataFrame, Array[Long], Long, Seq[(Int, Long, Long, Long)]) =
    trainPerceptronCore(tbl(s, d, "documents"), col("lang") === "en")

  /** Generalized entry (Graft.trainPerceptron): any frame carrying
    * (doc_id, text) plus a boolean positive-class predicate. */
  private[graft] def trainPerceptronCore(docs: DataFrame, pos: Column):
      (DataFrame, Array[Long], Long, Seq[(Int, Long, Long, Long)]) = {
    val B = 256
    val feats = docs
      .select(col("doc_id"),
        when(pos, 1L).otherwise(-1L).as("y"),
        explode(toks(normText)).as("term"))
      .withColumn("b", tbucket(col("term")))
      .groupBy(col("doc_id"), col("y"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val w = Array.fill(B)(0L)
    var bias = 0L
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    for (epoch <- 1 to 3) {
      val wl = typedLit(w.toSeq)
      val errs = feats
        .withColumn("wb", element_at(wl, (col("b") + 1).cast("int")))
        .groupBy(col("doc_id"), col("y"))
        .agg(sum(col("cnt") * col("wb")).as("dot"))
        .where(col("y") * (col("dot") + lit(bias)) <= 0)
        .select(col("doc_id"), col("y"))
        .localCheckpoint(true)
      val m = errs.agg(count(lit(1)).as("ne"),
        coalesce(sum(col("y")), lit(0L)).as("db")).head()
      val upd = feats.join(errs.withColumnRenamed("y", "ey"), Seq("doc_id"))
        .groupBy(col("b")).agg(sum(col("ey") * col("cnt")).as("dw"))
        .collect() // ≤ B rows — model-sized, never corpus-sized
      upd.foreach(r => w(r.getLong(0).toInt) += r.getLong(1))
      bias += m.getLong(1)
      out += ((epoch, m.getLong(0), w.map(math.abs).sum, bias))
    }
    (feats, w, bias, out.toSeq)
  }

  private lazy val pipelineTrainClassifier: Q = (s, d) => {
    import s.implicits._
    trainCore(s, d)._4.toDF("epoch", "n_errors", "w_l1", "bias")
      .orderBy("epoch")
  }

  /** Confusion-matrix EVALUATION of the trained perceptron on the corpus
    * it was fit on (training-set fit quality — the number a curation team
    * reads before trusting the gate; a held-out eval is this plan plus
    * split_group_hash on doc_id): one more scoring pass under the final
    * (w, bias), exact-integer confusion counts, precision/recall as the
    * only (mirrored, r4) floats. Tie rule: score ≤ 0 predicts the
    * negative class — identical WHERE shape on both engines. */
  private lazy val pipelineClassifierEval: Q = (s, d) => {
    val (feats, w, bias, _) = trainCore(s, d)
    val wl = typedLit(w.toSeq)
    feats
      .withColumn("wb", element_at(wl, (col("b") + 1).cast("int")))
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(col("cnt") * col("wb")).as("dot"))
      .select(col("y"), (col("dot") + lit(bias) > 0).as("pos"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1L && col("pos"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") =!= 1L && col("pos"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 1L && !col("pos"), 1L).otherwise(0L)).as("fn"),
        sum(when(col("y") =!= 1L && !col("pos"), 1L).otherwise(0L)).as("tn"))
      .select(col("n_docs"), col("tp"), col("fp"), col("fn"), col("tn"),
        r4(when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
          .as("precision"),
        r4(when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn")).cast("double")))
          .as("recall"))
  }

  /** The trainer oracle's CTE chain: three epochs unrolled over the same
    * (doc, bucket, cnt) frame — w_e and the per-epoch error sets derived
    * exactly as the engine computes them (all BIGINT). Shared by the
    * trainer and eval oracles. */
  private def trainCtes: String = {
    val feats = s"""dtc AS (
            SELECT doc_id, lang, ${tbucketSql("term")} AS b
            FROM (SELECT doc_id, lang, unnest(string_split($normSql, ' '))
                    AS term FROM documents)),
          feats AS (SELECT doc_id,
                           CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
                           b, CAST(count(*) AS BIGINT) AS cnt
                    FROM dtc GROUP BY 1, 2, 3),
          e1 AS (SELECT DISTINCT doc_id, y FROM feats),
          m1 AS (SELECT CAST(count(*) AS BIGINT) AS ne,
                        CAST(coalesce(sum(y), 0) AS BIGINT) AS db FROM e1),
          w1 AS (SELECT b, CAST(sum(y * cnt) AS BIGINT) AS wv
                 FROM feats GROUP BY b)"""
    def epoch(e: Int, prevW: String, biasExpr: String): String =
      s""",
          s$e AS (SELECT f.doc_id, f.y,
                         CAST(sum(f.cnt * $prevW.wv) AS BIGINT)
                           + ($biasExpr) AS sc
                  FROM feats f JOIN $prevW ON f.b = $prevW.b GROUP BY 1, 2),
          e$e AS (SELECT doc_id, y FROM s$e WHERE y * sc <= 0),
          m$e AS (SELECT CAST(count(*) AS BIGINT) AS ne,
                         CAST(coalesce(sum(y), 0) AS BIGINT) AS db FROM e$e),
          u$e AS (SELECT f.b, CAST(sum(f.y * f.cnt) AS BIGINT) AS dw
                  FROM feats f JOIN e$e USING (doc_id) GROUP BY f.b),
          w$e AS (SELECT $prevW.b, $prevW.wv + coalesce(u$e.dw, 0) AS wv
                  FROM $prevW LEFT JOIN u$e ON $prevW.b = u$e.b)"""
    s"""$feats${epoch(2, "w1", "SELECT db FROM m1")}${epoch(3, "w2",
        "(SELECT db FROM m1) + (SELECT db FROM m2)")}"""
  }

  private def trainClassifierSql: String =
    s"""WITH $trainCtes
        SELECT 1 AS epoch, (SELECT ne FROM m1) AS n_errors,
               (SELECT CAST(sum(abs(wv)) AS BIGINT) FROM w1) AS w_l1,
               (SELECT db FROM m1) AS bias
        UNION ALL
        SELECT 2, (SELECT ne FROM m2),
               (SELECT CAST(sum(abs(wv)) AS BIGINT) FROM w2),
               (SELECT db FROM m1) + (SELECT db FROM m2)
        UNION ALL
        SELECT 3, (SELECT ne FROM m3),
               (SELECT CAST(sum(abs(wv)) AS BIGINT) FROM w3),
               (SELECT db FROM m1) + (SELECT db FROM m2) + (SELECT db FROM m3)
        ORDER BY epoch"""

  /** Eval oracle: one more scoring pass under (w3, final bias) + exact
    * confusion counts; precision/recall the only mirrored floats. */
  private def classifierEvalSql: String =
    s"""WITH $trainCtes,
        sc4 AS (SELECT f.doc_id, f.y,
                       CAST(sum(f.cnt * w3.wv) AS BIGINT)
                         + ((SELECT db FROM m1) + (SELECT db FROM m2)
                            + (SELECT db FROM m3)) AS sc
                FROM feats f JOIN w3 ON f.b = w3.b GROUP BY 1, 2),
        conf AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                        CAST(sum(CASE WHEN y = 1 AND sc > 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS tp,
                        CAST(sum(CASE WHEN y <> 1 AND sc > 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS fp,
                        CAST(sum(CASE WHEN y = 1 AND sc <= 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS fn,
                        CAST(sum(CASE WHEN y <> 1 AND sc <= 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS tn
                 FROM sc4)
        SELECT n_docs, tp, fp, fn, tn,
               CASE WHEN tp + fp > 0 THEN
                 floor((CAST(tp AS DOUBLE)/CAST(tp + fp AS DOUBLE))*10000 + 0.5)/10000.0
               END AS precision,
               CASE WHEN tp + fn > 0 THEN
                 floor((CAST(tp AS DOUBLE)/CAST(tp + fn AS DOUBLE))*10000 + 0.5)/10000.0
               END AS recall
        FROM conf"""

  // ----------------------------------------------------------- DSIR weights
  /** Portable hashed-feature bucket for a TERM (string): degree-7
    * polynomial over the codepoints of the first 8 chars (space-padded),
    * mod 256 — the cross-engine stand-in for `xxhash64(term) % B` (DuckDB
    * cannot replay xxhash64; hbucket only takes integer keys). Collisions
    * are the POINT: DSIR's hashed n-gram models bound the model at B
    * buckets regardless of vocabulary size. Max value 127·Σ31^i < 2^63. */
  private val P31 = Array(1L, 31L, 961L, 29791L, 923521L, 28629151L,
    887503681L, 27512614111L)
  private def tbucket(c: Column): Column = {
    val p = rpad(c, 8, " ")
    (1 to 8).map(i => ascii(substring(p, i, 1)).cast("long") * lit(P31(i - 1)))
      .reduce(_ + _) % 256
  }
  private def tbucketSql(t: String): String = {
    val terms = (1 to 8)
      .map(i =>
        s"CAST(ascii(substr(rpad($t, 8, ' '), $i, 1)) AS BIGINT) * ${P31(i - 1)}")
      .mkString(" + ")
    s"($terms) % 256"
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): rank raw documents by
    * log p_target(doc) − log p_raw(doc) under add-1-smoothed
    * hashed-unigram LMs (B = 256 buckets; target = the `en` slice). Top-25
    * most target-like documents, the selection DSIR resamples from.
    *
    * log w(doc) = Σ_b n_doc(b)·[ln(ct(b)+1) − ln(cr(b)+1)]
    *              + n_toks·[ln(Nr+B) − ln(Nt+B)]
    *
    * Scale shape: token→bucket is a map-side expression; the two LM tables
    * are ≤ B rows (broadcast); the per-document weight is one equi-join on
    * the bucket key plus an exact BIGINT aggregate keyed by doc — at
    * 100 TB this is a narrow two-pass plan whose only wide state is 256
    * rows. Determinism: both ln terms ride as 1e6-scaled integers (li);
    * everything after is exact integer arithmetic. */
  /** Full per-document DSIR weight frame (doc_id, lang, n_toks,
    * logw_scaled) — dsirCore's top-25 display and pipeline_dsir_ess both
    * read this. */
  private[graft] def dsirAll(docs: DataFrame, targetLang: String): DataFrame = {
    val B = 256
    // dtoks feeds FOUR aggregates with different grouping keys (db, per,
    // raw, tgt) — without a checkpoint the scan+explode+hash subtree would
    // re-execute once per aggregate (review finding r8b)
    val dtoks = docs
      .select(col("doc_id"), col("lang"), explode(toks(normText)).as("t"))
      .withColumn("b", tbucket(col("t")))
      .localCheckpoint(true)
    val db = dtoks.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_toks"))
    val per = dtoks.groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("n_db"))
    val raw = dtoks.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tgt = dtoks.where(col("lang") === targetLang)
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    // raw is a superset of every bucket any document populates; a bucket
    // the target never hits smooths to ct = 0 (add-1 ⇒ ln6(1) = 0)
    val model = raw.join(tgt, Seq("b"), "left")
      .withColumn("wt", ln6(coalesce(col("ct"), lit(0L)) + 1) - ln6(col("cr") + 1))
      .select(col("b"), col("wt"))
    val norms = raw.agg(sum(col("cr")).as("nr"))
      .crossJoin(tgt.agg(sum(col("ct")).as("nt")))
      .select((ln6(col("nr") + B) - ln6(col("nt") + B)).as("kadj"))
    per.join(broadcast(model), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_db") * col("wt")).as("wsum"))
      .join(db, "doc_id")
      .crossJoin(broadcast(norms))
      .withColumn("logw_scaled", col("wsum") + col("n_toks") * col("kadj"))
      .select(col("doc_id"), col("lang"), col("n_toks"), col("logw_scaled"))
  }
  private[graft] def dsirCore(docs: DataFrame, targetLang: String): DataFrame =
    dsirAll(docs, targetLang)
      .orderBy(desc("logw_scaled"), asc("doc_id")).limit(25)
      .select(col("doc_id"), col("lang"), col("n_toks"),
        r4(col("logw_scaled").cast("double") / 1e6).as("logw"))

  /** Effective sample size of the DSIR importance weights — Kong's ESS =
    * (Σw)²/Σw², the one-row diagnostic that says how much of the corpus
    * the importance resample REALLY draws from (ESS ≈ n ⇒ weights are
    * flat, the target adds little signal; ESS ≪ n ⇒ the resample
    * concentrates on a sliver and variance explodes).
    *
    * ESS is invariant under scaling all weights by a constant, so the MAX
    * log-weight is subtracted before exponentiating (the standard
    * log-sum-exp shift): without it, a corpus whose best doc has
    * logw > ~41 would overflow the scaled-BIGINT carrier and wrap
    * silently (review finding r8b). After the shift w = exp(logw−max) ≤ 1
    * rides as a 1e6-scaled BIGINT (one libm exp per doc, the accepted
    * last-ulp posture), and both sums accumulate as DECIMAL(38,0) — exact
    * at ANY corpus size (the agg_corr_matrix posture); DuckDB's
    * sum(BIGINT) is already 128-bit. The final (Σw)²/Σw² is evaluated in
    * doubles from the exact sums — identical cross-engine. */
  private[graft] def essCore(weights: DataFrame): DataFrame = {
    val mx = weights.agg(max(col("logw_scaled")).as("mx"))
    val w = weights.crossJoin(broadcast(mx))
      .withColumn("wi",
        floor(exp((col("logw_scaled") - col("mx")).cast("double") / 1e6)
          * 1e6 + 0.5).cast("long"))
    w.agg(count(lit(1)).as("n_docs"),
        sum(dec38(col("wi"))).as("sw"),
        sum(dec38(col("wi") * col("wi"))).as("sw2"))
      .withColumn("ess",
        (col("sw").cast("double") * col("sw").cast("double"))
          / col("sw2").cast("double"))
      .select(col("n_docs"), r4(col("ess")).as("ess"),
        r4(col("ess") / col("n_docs").cast("double")).as("ess_frac"))
  }
  private val pipelineDsirEss: Q = (s, d) =>
    essCore(dsirAll(tbl(s, d, "documents"), "en"))
  private val pipelineDsirWeights: Q = (s, d) =>
    dsirCore(tbl(s, d, "documents"), "en")

  // ----------------------------------------------- temperature source mixing
  /** Temperature-scaled source mixing (α = 0.3): q_s ∝ p_s^α where p_s is
    * the source's token share — the sampling rule that upsamples tail
    * sources (boost > 1) without flattening the mixture entirely. Output:
    * per source, its token share, its mixing weight, and the resulting
    * up/down-sampling boost q_s/p_s a data loader applies.
    *
    * Shape: one scan → per-source token agg (#sources rows), the rest is
    * arithmetic on a broadcast-sized frame. Determinism: p_s is an exact
    * int ratio; pow(p, 0.3) is one libm call (accepted last-ulp posture,
    * PLANS.md pow/exp paragraph) floored to a 1e9-scaled BIGINT so the
    * normalizing SUM is exact-integer — the Σ q_t denominator can never
    * drift with aggregation order. */
  /** Shared temperature-weight frame: per source (n_tokens, tot, p, ws)
    * plus the broadcast Σws — the single definition both the mix-weight
    * display and the epoch plan fold from, so the two ops can never
    * disagree about the mixture they describe. */
  private def tempWeights(docs: DataFrame, alpha: Double): DataFrame = {
    val perSrc = docs.groupBy(col("source"))
      .agg(sum(size(toks(normText)).cast("long")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("tot"))
    val ws = perSrc.crossJoin(broadcast(tot))
      .withColumn("p", col("n_tokens").cast("double") / col("tot").cast("double"))
      .withColumn("ws",
        floor(pow(col("p"), lit(alpha)) * 1e9 + 0.5).cast("long"))
    val wtot = ws.agg(sum(col("ws")).as("wtot"))
    ws.crossJoin(broadcast(wtot))
  }

  private[graft] def mixTemperatureCore(docs: DataFrame, alpha: Double): DataFrame =
    tempWeights(docs, alpha)
      .withColumn("mix_weight", col("ws").cast("double") / col("wtot").cast("double"))
      .select(col("source"), col("n_tokens"), r4(col("p")).as("p"),
        r4(col("mix_weight")).as("mix_weight"),
        r4(col("mix_weight") / col("p")).as("boost"))
      .orderBy("source")
  private val pipelineMixTemperature: Q = (s, d) =>
    mixTemperatureCore(tbl(s, d, "documents"), 0.3)

  /** Data-loader epoch plan under a token budget: with budget = half the
    * corpus tokens and the α=0.3 temperature mixture, how many tokens each
    * source contributes and how many EPOCHS of it the loader will see
    * (epochs > 1 ⇒ the source repeats — the repetition accounting the
    * data-constrained-scaling literature tracks). planned_tokens =
    * floor(budget · q_s + 0.5) with q_s the exact-integer mix share; the
    * one double product keeps every operand exact (budget < 2^53 tokens),
    * so the plan is engine- and partitioning-invariant at any corpus
    * size — no BIGINT product of budget × scaled-weight ever forms. */
  private[graft] def epochPlanCore(docs: DataFrame, alpha: Double): DataFrame =
    tempWeights(docs, alpha)
      .withColumn("budget", expr("tot div 2"))
      .withColumn("planned_tokens",
        floor(col("budget").cast("double")
          * (col("ws").cast("double") / col("wtot").cast("double")) + 0.5)
          .cast("long"))
      .withColumn("epochs",
        r4(col("planned_tokens").cast("double") / col("n_tokens").cast("double")))
      .select(col("source"), col("n_tokens"), col("planned_tokens"),
        col("epochs"))
      .orderBy("source")
  private val pipelineEpochPlan: Q = (s, d) =>
    epochPlanCore(tbl(s, d, "documents"), 0.3)

  // ------------------------------------------------------- embedding PCA
  /** Exact-integer covariance sufficient statistics over the embedding
    * column: per-coordinate sums Sx(i) and upper-triangle product sums
    * Sxy(i,j) on 1e4-scaled BIGINT coordinates, plus n. cov(i,j) =
    * (n·Sxy − Sx·Sy) / (n²·1e8) — every aggregate is an exact integer, so
    * the matrix is bit-identical at any partitioning.
    *
    * Scale shape: the d(d+1)/2 products are generated MAP-SIDE per row
    * (nested transform over the slice — no self-join, unlike the oracle's
    * replay), then one partial-aggregated groupBy on (i,j): shuffled
    * volume is ≤ #partitions·d², never n·d². Headroom: |x|≲4 scaled 1e4 ⇒
    * products ≲ 1.6e9; BIGINT sums overflow only past ~5e9 rows — at that
    * scale production switches the two sum aggregates to DECIMAL(38,0)
    * (same plan, wider accumulator). */
  /** Typed vector-accumulator aggregate for the covariance sufficient
    * statistics: ONE buffer of [n, d, Sx(d), Sxy(d(d+1)/2)] per partition,
    * filled by a tight JIT'd loop — replaces the original
    * n·d(d+1)/2-row Generate + hash-agg (measured 2.4 s → map-side only;
    * the shuffle now carries 32 flat ~17 KB buffers instead of
    * partitions·d² agg rows). Integer sums are identical to the explode
    * plan, so the DuckDB oracle and partition-invariance are untouched —
    * this is the "custom aggregate as the scale path" pattern: built-ins
    * CAN express the moments, but only at d² generated rows per input
    * row. */
  private object CovMomentsAgg extends org.apache.spark.sql.expressions
      .Aggregator[Seq[Long], Array[Long], Array[Long]] {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(b: Array[Long], xs: Seq[Long]): Array[Long] = {
      if (xs == null || xs.isEmpty) return b // covCore pre-filters; belt+braces
      val x = xs.toArray
      val d = x.length
      if (b.length != 0 && b(1) != d)
        throw new IllegalArgumentException(
          s"covariance requires a fixed embedding dimension: saw $d after ${b(1)}")
      val buf =
        if (b.length == 0) {
          val nb = new Array[Long](2 + d + d * (d + 1) / 2); nb(1) = d; nb
        } else b
      buf(0) += 1L
      var i = 0
      while (i < d) { buf(2 + i) += x(i); i += 1 }
      var idx = 2 + d
      i = 0
      while (i < d) {
        val xi = x(i); var j = i
        while (j < d) { buf(idx) += xi * x(j); idx += 1; j += 1 }
        i += 1
      }
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (a.length == 0) b
      else if (b.length == 0) a
      else {
        if (a(1) != b(1))
          throw new IllegalArgumentException(
            s"covariance requires a fixed embedding dimension: ${a(1)} vs ${b(1)}")
        var i = 0
        while (i < a.length) { if (i != 1) a(i) += b(i); i += 1 }
        a
      }
    def finish(r: Array[Long]): Array[Long] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  private[graft] def covCore(e: DataFrame): DataFrame = {
    // rows with a NULL vector, an empty vector, or any NULL/NaN coordinate
    // (floor(NaN) casts to a NULL element) are excluded up front — n then
    // counts exactly the rows that contributed moments. Ragged dimensions
    // across the surviving rows fail fast inside the Aggregator.
    val sc = e.select(expr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT))")
      .as("xs"))
      .where(col("xs").isNotNull && size(col("xs")) > 0 &&
        expr("NOT exists(xs, x -> x IS NULL)"))
    val covU = udaf(CovMomentsAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    // decode the flat moment buffer [n, d, Sx…, Sxy…] into (i, j, num, n)
    // rows with num = n·Sxy(i,j) − Sx(i)·Sx(j); a one-row projection, d²
    // structs total
    val dE = "CAST(m[1] AS INT)"
    sc.agg(covU(col("xs")).as("m"))
      .where(size(col("m")) > 0)
      .select(explode(expr(
        s"""flatten(transform(sequence(0, $dE - 1), i ->
              transform(sequence(i, $dE - 1), j ->
                named_struct(
                  'i', CAST(i AS BIGINT), 'j', CAST(j AS BIGINT),
                  'num', m[0] * m[2 + $dE + i * $dE - (i * (i - 1)) div 2
                                  + (j - i)]
                         - m[2 + i] * m[2 + j],
                  'n', m[0]))))""")).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.num").as("num"),
        col("t.n").as("n"))
  }
  /** Display projection over covCore's exact-integer moments. */
  private[graft] def covDisplay(m: DataFrame): DataFrame =
    m.select(col("i"), col("j"),
        r4(col("num").cast("double")
          / (col("n").cast("double") * col("n").cast("double")) / lit(1.0e8))
          .as("cov"))
      .orderBy("i", "j")
  private val embedCovariance: Q = (s, d) =>
    covDisplay(covCore(tbl(s, d, "embeddings")))

  /** Cyclic Jacobi eigensolver for a symmetric d×d matrix (textbook
    * rotation sweep; Golub & Van Loan §8.5). Deterministic: fixed sweep
    * order, fixed convergence threshold, driver-side over d² doubles. */
  private[graft] def jacobiEigenvalues(a0: Array[Array[Double]]): Array[Double] = {
    val d = a0.length
    val a = a0.map(_.clone())
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-18) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            // θ = 0 (equal diagonal) still needs the full 45° rotation —
            // signum(0) = 0 would silently skip it and never converge
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - sn * akq
              a(k)(q) = sn * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - sn * aqk
              a(q)(k) = sn * apk + c * aqk
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { off = math.max(off, math.abs(a(i)(j))); j += 1 }
        i += 1
      }
      sweep += 1
    }
    (0 until d).map(i => a(i)(i)).sortBy(-_).toArray
  }

  /** PCA explained-variance spectrum of the embedding column: top-10
    * eigenvalues of the covariance matrix with explained-variance ratios —
    * the anisotropy / effective-dimension audit (an embedding table whose
    * first component eats most of the variance is collapsed; ANN recall
    * and semantic dedup both degrade).
    *
    * The distributed work is exactly covCore (exact-integer sufficient
    * statistics); only the d×d matrix (bounded: d = 64 here, d² doubles)
    * crosses to the driver for the Jacobi solve — the same
    * "aggregate-then-solve-small" split embed_kmeans uses. Self-verified
    * (CurationSpec): Σλ = trace, λ descending and ≥ 0 (PSD), top-λ matches
    * an independent power-iteration estimate. No DuckDB oracle — the
    * rotation sweep is not SQL-expressible; the covariance INPUT is the
    * oracle-checked embed_covariance. */
  private val embedPcaVariance: Q = (s, d) =>
    pcaCore(s, tbl(s, d, "embeddings"), 10)

  /** Closed-form 2-D PCA — the oracle-able companion to embed_pca_variance
    * (the embed_kmeans_slice precedent: remove the iterative float solve
    * instead of shrinking tolerance). Over dims (1, 2) the covariance
    * eigendecomposition is the quadratic formula, so the whole spectrum is
    * ONE fixed op sequence over exact integers: moments (n, Σx, Σy, Σxx,
    * Σyy, Σxy) fold as BIGINTs of 1e4-scaled components; the covariance
    * numerators A = n·Σxx − Σx², C, B are exact BIGINTs (≤ ~7·10¹² at this
    * fixture — BIGINT-safe); λ± = ((A+C) ± sqrt((A−C)² + 4B²)) / 2 is
    * computed in doubles where every multiply/add/sqrt/divide is a single
    * correctly-rounded IEEE op over exactly-representable inputs — bit-
    * identical cross-engine, no rotation sweep, no fold-order float sums.
    * Emits per-component eigenvalue (de-scaled), explained-variance ratio,
    * and the trace check. One corpus scan, one 6-ary agg. */
  private val embedPca2d: Q = (s, d) => {
    val m = tbl(s, d, "embeddings")
      .select(
        floor(expr("CAST(element_at(embedding, 1) AS DOUBLE)") * 10000 + 0.5)
          .cast("long").as("x"),
        floor(expr("CAST(element_at(embedding, 2) AS DOUBLE)") * 10000 + 0.5)
          .cast("long").as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"), sum(col("x") * col("y")).as("sxy"))
    val den = (col("n") * (col("n") - 1L)).cast("double") * 1.0e8
    val a = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val c = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val b = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val disc = sqrt((a - c) * (a - c) + lit(4.0) * b * b)
    val l1 = (a + c + disc) / 2.0
    val l2 = (a + c - disc) / 2.0
    m.select(col("n"),
        explode(array(
          struct(lit(1L).as("component"), (l1 / den).as("ev"),
            (l1 / (a + c)).as("evr")),
          struct(lit(2L).as("component"), (l2 / den).as("ev"),
            (l2 / (a + c)).as("evr")))).as("p"))
      .select(col("p.component").as("component"), col("n").as("n_vecs"),
        r4(col("p.ev")).as("eigenvalue"), r4(col("p.evr")).as("evr"))
      .orderBy("component")
  }
  private[graft] def pcaCore(s: SparkSession, e: DataFrame, topK: Int): DataFrame = {
    val rows = covCore(e).collect()
    if (rows.isEmpty) {
      // empty input ⇒ empty spectrum, not an empty.max crash (review r8b)
      import s.implicits._
      return Seq.empty[(Int, Double, Double, Double)]
        .toDF("component", "eigenvalue_x100", "evr", "cum_evr")
    }
    val dim = rows.map(_.getLong(1)).max.toInt + 1
    val cov = Array.ofDim[Double](dim, dim)
    var n = 1L
    rows.foreach { r =>
      val i = r.getLong(0).toInt; val j = r.getLong(1).toInt
      n = r.getLong(3)
      val v = r.getLong(2).toDouble / (n.toDouble * n.toDouble) / 1.0e8
      cov(i)(j) = v; cov(j)(i) = v
    }
    val ev = jacobiEigenvalues(cov)
    val trace = (0 until dim).map(i => cov(i)(i)).sum
    val cums = ev.scanLeft(0.0)(_ + _).drop(1)
    val out = ev.zip(cums).zipWithIndex.take(topK).map { case ((l, c), idx) =>
      (idx + 1, l, l / trace, c / trace)
    }
    import s.implicits._
    out.toSeq.toDF("component", "eigenvalue", "evr", "cum_evr")
      .select(col("component"), r4(col("eigenvalue") * 100).as("eigenvalue_x100"),
        r4(col("evr")).as("evr"), r4(col("cum_evr")).as("cum_evr"))
  }

  // ------------------------------------------------- retrieval evaluation
  /** Label-agreement precision@5 of exact cosine search — the retrieval
    * quality metric (here the `label` column is the relevance proxy, the
    * standard eval when no human judgments exist): for each of the 10
    * fixture queries, how many of its top-5 exact neighbors share its
    * label. The exact top-k is the ANN family's recall oracle, so this
    * row set doubles as the ceiling any sim_*_ann variant is measured
    * against. Same plan as sim_cosine_topk (broadcast queries, bounded
    * WindowGroupLimit) plus one O(#queries) agg. */
  private val simEvalLabelPrecision: Q = (s, d) => {
    import TextDedup.{asQueries, bruteForce, cosQ, queryBatch, topkOf}
    val e = tbl(s, d, "embeddings")
    topkOf(bruteForce(e, asQueries(queryBatch(e), col("label").as("qlabel"))),
        cosQ, 5)
      .groupBy(col("qid"), col("qlabel"))
      .agg(sum(when(col("label") === col("qlabel"), 1L).otherwise(0L))
        .as("n_match"))
      .withColumn("prec_at_k", r4(col("n_match").cast("double") / lit(5.0)))
      .orderBy("qid")
  }

  // ------------------------------------------------------ bootstrap audit
  /** Cumulative Poisson(1) CDF × 2^32 for k = 0..4 (k ≥ 5 folds into a
    * capped weight of 5 — P < 4e-4). Computed once from JVM exp and
    * inlined as INTEGER literals into both the Spark expression and the
    * oracle SQL, so the replica weights are exact integer comparisons on
    * both engines. */
  private val PoisThresh: Array[Long] = {
    val pmf = (0 to 4).map(k => math.exp(-1.0) / (1 to k).product.toDouble)
    pmf.scanLeft(0.0)(_ + _).drop(1)
      .map(c => math.floor(c * 4294967296.0).toLong).toArray
  }

  /** Poisson-bootstrap 95% confidence interval for the mean of
    * events.value (B = 100 replicas) — the dataset-audit answer to "is
    * this month's mean shift real or noise?". Per-row replica weights are
    * Poisson(1) draws from a DETERMINISTIC hash uniform (never rand():
    * the Canon rule — the oracle replays every draw, and a re-run over
    * re-partitioned input resamples identically). Replica means are exact
    * integer rationals (Σw·cents / Σw); the CI is the nearest-rank 2.5/97.5
    * percentile of the 100 means.
    *
    * Scale shape: the replica explode is map-side (B rows per input row)
    * feeding a partial-aggregated groupBy with B=100 groups — per-partition
    * state is B accumulators regardless of n, the textbook Poisson-
    * bootstrap plan (Chamandy et al., "Estimating Uncertainty for Massive
    * Data Streams"). The percentile sort touches 100 rows. Same hash-
    * periodicity caveat as sample_weighted (u repeats mod 1000003;
    * production swaps in xxhash64 — one expression). */
  private[graft] def bootstrapCore(ev: DataFrame, B: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = ev.select(col("event_id").cast("long").as("id"),
      cents(col("value")).as("v"))
    val wts = base
      .select(col("id"), col("v"),
        explode(sequence(lit(0), lit(B - 1))).as("b"))
      .withColumn("u", expr(
        "((((id * 131 + b) % 1000003 + 1000003) % 1000003) * 2654435761) % 4294967296"))
      .withColumn("w",
        when(col("u") < PoisThresh(0), 0L)
          .when(col("u") < PoisThresh(1), 1L)
          .when(col("u") < PoisThresh(2), 2L)
          .when(col("u") < PoisThresh(3), 3L)
          .when(col("u") < PoisThresh(4), 4L)
          .otherwise(5L))
    val means = wts.groupBy(col("b"))
      .agg(sum(col("w") * col("v")).as("sw"), sum(col("w")).as("nw"))
      .where(col("nw") > 0)
      .withColumn("m", col("sw").cast("double") / col("nw").cast("double"))
    val ranked = means
      .withColumn("rn", row_number().over(Window.orderBy(col("m"))))
    val overall = base.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    // nearest-rank 2.5% / 97.5% (B = 100 ⇒ ranks 3 and 98, as the oracle)
    val loRk = math.ceil(0.025 * B).toLong.max(1L)
    val hiRk = math.ceil(0.975 * B).toLong
    ranked.where(col("rn") === loRk || col("rn") === hiRk)
      .agg(min(when(col("rn") === loRk, col("m"))).as("lo_raw"),
        min(when(col("rn") === hiRk, col("m"))).as("hi_raw"))
      .crossJoin(broadcast(overall))
      .select(col("n"),
        r4(col("sv").cast("double") / col("n").cast("double") / lit(100.0))
          .as("mean"),
        r4(col("lo_raw") / lit(100.0)).as("ci_lo"),
        r4(col("hi_raw") / lit(100.0)).as("ci_hi"))
  }
  private val aggBootstrapCi: Q = (s, d) =>
    bootstrapCore(tbl(s, d, "events"), 100)

  // ------------------------------------------------------- MMR re-ranking
  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    * from each query's top-`poolK` cosine candidates, greedily select `k`
    * maximizing λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s) — the diversity
    * re-rank every retrieval stack runs between ANN and serving, so the
    * result set isn't k near-copies of the same document.
    *
    * Scale shape: the DISTRIBUTED work is candidate generation (here the
    * exact top-poolK per query — in production the IVFADC path feeds this);
    * the greedy loop runs per query over its own ≤ poolK candidates inside
    * one task (a bounded-model UDF, the DTW/BPE posture — MMR is
    * inherently sequential in k, so this is production's shape too: rerank
    * always happens on the bounded pool, never the corpus). Candidates
    * cross into the UDF as a sort_array'd struct list, so selection order
    * is deterministic at any partitioning; ties break to the lower id. */
  private[graft] def mmrCore(s: SparkSession, corpus: DataFrame,
      queries: DataFrame, poolK: Int, k: Int, lambda: Double): DataFrame = {
    import TextDedup.{asQueries, bruteForce, cosQ, topkOf}
    val pool = topkOf(bruteForce(corpus, asQueries(queries)), cosQ, poolK)
    val agg = pool.groupBy(col("qid"), col("qe"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding"))))
        .as("cands"))
    val mmr = udf((qe: Seq[Float], ids: Seq[Long], embs: Seq[Seq[Float]]) => {
      def dot(a: Seq[Float], b: Seq[Float]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
        acc
      }
      def cos(a: Seq[Float], b: Seq[Float]): Double =
        dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      val qsim = embs.map(cos(qe, _))
      val n = ids.length
      val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
      var r = 1
      while (r <= math.min(k, n)) {
        var best = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < n) {
          if (!selected.contains(i)) {
            val div =
              if (selected.isEmpty) 0.0
              else selected.map(j => cos(embs(i), embs(j))).max
            val sc = lambda * qsim(i) - (1 - lambda) * div
            if (sc > bestScore ||
                (sc == bestScore && (best == -1 || ids(i) < ids(best)))) {
              best = i; bestScore = sc
            }
          }
          i += 1
        }
        selected += best
        out += ((r, ids(best), bestScore))
        r += 1
      }
      out.toSeq
    })
    agg.select(col("qid"),
        explode(mmr(col("qe"),
          expr("transform(cands, c -> c.vec_id)"),
          expr("transform(cands, c -> c.embedding)"))).as("sel"))
      .select(col("qid"), col("sel._1").as("rank"), col("sel._2").as("vec_id"),
        r4(col("sel._3")).as("mmr"))
      .orderBy("qid", "rank")
  }
  private val embedMmrRerank: Q = (s, d) => {
    val e = tbl(s, d, "embeddings")
    mmrCore(s, e, e.where(col("vec_id") < 3), poolK = 20, k = 5, lambda = 0.7)
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, Q] = Map(
    "text_bm25_search" -> textBm25Search,
    "sim_rrf_fusion" -> simRrfFusion,
    "pipeline_train_classifier" -> pipelineTrainClassifier,
    "pipeline_classifier_eval" -> pipelineClassifierEval,
    "pipeline_dsir_weights" -> pipelineDsirWeights,
    "pipeline_mix_temperature" -> pipelineMixTemperature,
    "embed_covariance" -> embedCovariance,
    "embed_pca_variance" -> embedPcaVariance,
    "embed_pca_2d" -> embedPca2d,
    "embed_mmr_rerank" -> embedMmrRerank,
    "sim_eval_label_precision" -> simEvalLabelPrecision,
    "agg_bootstrap_ci" -> aggBootstrapCi,
    "pipeline_dsir_ess" -> pipelineDsirEss,
    "pipeline_epoch_plan" -> pipelineEpochPlan,
  )

  /** Shared DSIR CTE block (hashed-unigram LMs + per-doc weight sums) —
    * read by both the weights oracle and the ESS oracle. */
  /** The BM25 scoring CTE chain (mirror of `bm25Scored`), ending at
    * `agg(doc_id, score_scaled, n_terms)` — shared by the
    * `text_bm25_search` and `sim_rrf_fusion` oracles. */
  private def bm25Ctes: String =
    s"""dcs AS (
            SELECT doc_id, string_split($normSql, ' ') AS tk FROM documents),
          st AS (SELECT count(*) AS n_docs,
                        CAST(sum(len(tk)) AS BIGINT) AS n_tokens FROM dcs),
          tf AS (SELECT doc_id, dl, term, count(*) AS tf
                 FROM (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
                              unnest(tk) AS term FROM dcs)
                 WHERE term IN ('hash', 'join', 'stream')
                 GROUP BY 1, 2, 3),
          dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          sc AS (SELECT doc_id,
                   CAST(floor(
                     CAST(CAST(floor(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                         / (CAST(df AS DOUBLE) + 0.5) + 1.0) * 1000000 + 0.5) AS BIGINT) AS DOUBLE)
                     * ((CAST(tf AS DOUBLE) * 2.2) /
                        (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                          (CAST(dl AS DOUBLE) /
                           (CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
                     + 0.5) AS BIGINT) AS s
                 FROM tf JOIN dfq USING (term), st),
          agg AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS score_scaled,
                         count(*) AS n_terms
                  FROM sc GROUP BY 1)"""

  private def dsirCtes: String =
    s"""dt AS (
            SELECT doc_id, lang, ${tbucketSql("term")} AS b
            FROM (SELECT doc_id, lang, unnest(string_split($normSql, ' '))
                    AS term FROM documents)),
          db AS (SELECT doc_id, lang, count(*) AS n_toks FROM dt GROUP BY 1, 2),
          per AS (SELECT doc_id, b, count(*) AS n_db FROM dt GROUP BY 1, 2),
          raw AS (SELECT b, count(*) AS cr FROM dt GROUP BY 1),
          tgt AS (SELECT b, count(*) AS ct FROM dt WHERE lang = 'en' GROUP BY 1),
          model AS (SELECT raw.b,
                           ${liSql("coalesce(ct, 0) + 1")} - ${liSql("cr + 1")} AS wt
                    FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
          norms AS (SELECT ${liSql("nr + 256")} - ${liSql("nt + 256")} AS kadj
                    FROM (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM raw),
                         (SELECT CAST(sum(ct) AS BIGINT) AS nt FROM tgt)),
          w AS (SELECT per.doc_id, CAST(sum(n_db * wt) AS BIGINT) AS wsum
                FROM per JOIN model ON per.b = model.b GROUP BY 1)"""

  /** Exact-double dot product over two float lists — the same sequential
    * accumulation order as the JVM cosine (TextDedup.cosSql precedent;
    * DuckDB's native list_cosine_similarity accumulates in float32 and
    * does NOT match). */
  private def dt(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"

  /** The greedy MMR loop unrolled as five SQL stages (k = 5 is fixed in
    * the registered query, so no recursive CTE is needed): stage r scores
    * every remaining pool candidate 0.7·qsim − (1−0.7)·max(cos to the
    * r−1 picks) and takes the argmax (ties to the smallest vec_id — the
    * UDF's explicit tie rule). Norms are hoisted (sqrt is deterministic,
    * so hoisting is bit-identical to the JVM's per-call recompute);
    * double multiply commutes bit-exactly, so pre-multiplied norm
    * products match the JVM's sqrt(aa)·sqrt(bb) factor order. */
  private val mmrOracle: String = {
    def stage(r: Int): String = {
      val prev = (1 until r).map(j => s"s$j")
      val divCols = prev.zipWithIndex.map { case (s, i) =>
        s"${dt("p.embedding", s"$s.embedding")} / (p.en * $s.en) AS d$i" }
      val div =
        if (prev.isEmpty) "0.0"
        else if (prev.size == 1) "d0"
        else s"GREATEST(${prev.indices.map(i => s"d$i").mkString(", ")})"
      val joins = prev.map(s => s"JOIN $s ON p.qid = $s.qid").mkString(" ")
      val notIn =
        if (prev.isEmpty) ""
        else s"WHERE p.vec_id NOT IN (${prev.map(s => s"$s.vec_id").mkString(", ")})"
      val candSel =
        if (prev.isEmpty) "SELECT p.qid, p.vec_id, p.embedding, p.en, p.qsim FROM pool p"
        else s"""SELECT p.qid, p.vec_id, p.embedding, p.en, p.qsim,
                        ${divCols.mkString(", ")}
                 FROM pool p $joins $notIn"""
      s"""s$r AS (
            SELECT qid, vec_id, embedding, en, score FROM (
              SELECT *, 0.7*qsim - (1.0 - 0.7)*$div AS score,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY 0.7*qsim - (1.0 - 0.7)*$div DESC, vec_id) AS rn
              FROM ($candSel))
            WHERE rn = 1)"""
    }
    val stages = (1 to 5).map(stage).mkString(",\n          ")
    val out = (1 to 5).map(r =>
      s"""SELECT qid, CAST($r AS INTEGER) AS "rank", vec_id,
                 floor(score*10000 + 0.5)/10000.0 AS mmr FROM s$r""")
      .mkString("\n          UNION ALL ")
    s"""WITH q AS (
          SELECT vec_id AS qid, embedding AS qe,
                 sqrt(${dt("embedding", "embedding")}) AS qn
          FROM embeddings WHERE vec_id < 3),
        pl AS (
          SELECT q.qid, e.vec_id, e.embedding,
                 sqrt(${dt("e.embedding", "e.embedding")}) AS en,
                 ${dt("e.embedding", "q.qe")} /
                   (sqrt(${dt("e.embedding", "e.embedding")}) * q.qn) AS qsim
          FROM embeddings e, q WHERE e.vec_id != q.qid),
        pool AS (
          SELECT qid, vec_id, embedding, en, qsim FROM (
            SELECT *, row_number() OVER (PARTITION BY qid
                        ORDER BY qsim DESC, vec_id) AS rnk FROM pl)
          WHERE rnk <= 20),
          $stages
          $out
          ORDER BY qid, "rank""""
  }

  val oracle: Map[String, String] = Map(
    "embed_mmr_rerank" -> mmrOracle,
    // Closed-form 2x2 eigendecomposition: exact BIGINT covariance
    // numerators, then the quadratic formula as the identical fixed
    // double op sequence on both engines.
    "embed_pca_2d" ->
      """WITH m AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(x*x) AS BIGINT) AS sxx,
                  CAST(sum(y*y) AS BIGINT) AS syy,
                  CAST(sum(x*y) AS BIGINT) AS sxy
           FROM (SELECT CAST(floor(CAST(embedding[1] AS DOUBLE)*10000 + 0.5)
                              AS BIGINT) AS x,
                        CAST(floor(CAST(embedding[2] AS DOUBLE)*10000 + 0.5)
                              AS BIGINT) AS y
                 FROM embeddings)),
         e AS (SELECT n,
                      CAST(n*sxx - sx*sx AS DOUBLE) AS a,
                      CAST(n*syy - sy*sy AS DOUBLE) AS c,
                      CAST(n*sxy - sx*sy AS DOUBLE) AS b,
                      CAST(n*(n-1) AS DOUBLE) * 1e8 AS den
               FROM m),
         l AS (SELECT n, den, a, c,
                      sqrt((a - c)*(a - c) + 4.0*b*b) AS disc FROM e)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS component, n AS n_vecs,
                  floor(((a + c + disc)/2.0/den)*10000 + 0.5)/10000.0
                    AS eigenvalue,
                  floor(((a + c + disc)/2.0/(a + c))*10000 + 0.5)/10000.0
                    AS evr
           FROM l
           UNION ALL
           SELECT CAST(2 AS BIGINT), n,
                  floor(((a + c - disc)/2.0/den)*10000 + 0.5)/10000.0,
                  floor(((a + c - disc)/2.0/(a + c))*10000 + 0.5)/10000.0
           FROM l)
         ORDER BY component""",
    "pipeline_train_classifier" -> trainClassifierSql,
    "pipeline_classifier_eval" -> classifierEvalSql,
    "sim_rrf_fusion" ->
      s"""WITH $bm25Ctes,
          lexr AS (SELECT doc_id AS id,
                          row_number() OVER (ORDER BY score_scaled DESC, doc_id)
                            AS lex_rank
                   FROM agg WHERE doc_id <> 0),
          lex AS (SELECT id, CAST(lex_rank AS BIGINT) AS lex_rank
                  FROM lexr WHERE lex_rank <= 20),
          qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
          dsc AS (SELECT e.vec_id,
                         ${TextDedup.cosineSql("e.embedding", "qv.qe")} AS cos_raw
                  FROM embeddings e, qv WHERE e.vec_id <> 0),
          der AS (SELECT vec_id AS id,
                         row_number() OVER (ORDER BY cos_raw DESC, vec_id)
                           AS dense_rank
                  FROM dsc),
          den AS (SELECT id, CAST(dense_rank AS BIGINT) AS dense_rank
                  FROM der WHERE dense_rank <= 20)
          SELECT COALESCE(lex.id, den.id) AS doc_id,
                 COALESCE(lex.lex_rank, 0) AS lex_rank,
                 COALESCE(den.dense_rank, 0) AS dense_rank,
                 CAST(COALESCE(1000000000 // (60 + lex.lex_rank), 0)
                    + COALESCE(1000000000 // (60 + den.dense_rank), 0)
                   AS BIGINT) AS rrf_scaled
          FROM lex FULL OUTER JOIN den ON lex.id = den.id
          ORDER BY rrf_scaled DESC, doc_id LIMIT 10""",
    "text_bm25_search" ->
      s"""WITH $bm25Ctes
          SELECT doc_id, n_terms,
                 floor(CAST(score_scaled AS DOUBLE) / 1000000.0 * 10000 + 0.5)
                   / 10000.0 AS bm25
          FROM agg ORDER BY score_scaled DESC, doc_id LIMIT 15""",
    "pipeline_dsir_weights" ->
      s"""WITH $dsirCtes
          SELECT w.doc_id, lang, n_toks,
                 floor(CAST(wsum + n_toks * kadj AS DOUBLE) / 1000000.0
                   * 10000 + 0.5) / 10000.0 AS logw
          FROM w JOIN db ON w.doc_id = db.doc_id, norms
          ORDER BY wsum + n_toks * kadj DESC, w.doc_id LIMIT 25""",
    "pipeline_dsir_ess" ->
      s"""WITH $dsirCtes,
          lw AS (SELECT wsum + n_toks * kadj AS ls
                 FROM w JOIN db ON w.doc_id = db.doc_id, norms),
          mx AS (SELECT max(ls) AS mx FROM lw),
          wi AS (SELECT CAST(floor(exp(
                     CAST(ls - mx AS DOUBLE) / 1000000.0)
                     * 1000000 + 0.5) AS BIGINT) AS wi
                 FROM lw, mx),
          ag AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                        sum(wi) AS sw, sum(wi * wi) AS sw2
                 FROM wi)
          SELECT n_docs,
                 floor(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                   / CAST(sw2 AS DOUBLE) * 10000 + 0.5) / 10000.0 AS ess,
                 floor(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                     / CAST(sw2 AS DOUBLE) / CAST(n_docs AS DOUBLE)
                   * 10000 + 0.5) / 10000.0 AS ess_frac
          FROM ag""",
    "pipeline_epoch_plan" ->
      s"""WITH src AS (
            SELECT source,
                   CAST(sum(len(string_split($normSql, ' '))) AS BIGINT)
                     AS n_tokens
            FROM documents GROUP BY 1),
          tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM src),
          ws AS (SELECT source, n_tokens, tot,
                        CAST(floor(pow(CAST(n_tokens AS DOUBLE)
                            / CAST(tot AS DOUBLE), 0.3) * 1000000000 + 0.5)
                          AS BIGINT) AS ws
                 FROM src, tot),
          wt AS (SELECT CAST(sum(ws) AS BIGINT) AS wtot FROM ws),
          pl AS (SELECT source, n_tokens,
                        CAST(floor(CAST(tot // 2 AS DOUBLE)
                            * (CAST(ws AS DOUBLE) / CAST(wtot AS DOUBLE))
                            + 0.5) AS BIGINT) AS planned_tokens
                 FROM ws, wt)
          SELECT source, n_tokens, planned_tokens,
                 floor(CAST(planned_tokens AS DOUBLE)
                     / CAST(n_tokens AS DOUBLE) * 10000 + 0.5) / 10000.0
                   AS epochs
          FROM pl ORDER BY source""",
    "pipeline_mix_temperature" ->
      s"""WITH src AS (
            SELECT source,
                   CAST(sum(len(string_split($normSql, ' '))) AS BIGINT)
                     AS n_tokens
            FROM documents GROUP BY 1),
          tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM src),
          ws AS (SELECT source, n_tokens,
                        CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS p,
                        CAST(floor(pow(CAST(n_tokens AS DOUBLE)
                            / CAST(tot AS DOUBLE), 0.3) * 1000000000 + 0.5)
                          AS BIGINT) AS ws
                 FROM src, tot),
          wt AS (SELECT CAST(sum(ws) AS BIGINT) AS wtot FROM ws)
          SELECT source, n_tokens,
                 floor(p * 10000 + 0.5) / 10000.0 AS p,
                 floor(CAST(ws AS DOUBLE) / CAST(wtot AS DOUBLE) * 10000 + 0.5)
                   / 10000.0 AS mix_weight,
                 floor(CAST(ws AS DOUBLE) / CAST(wtot AS DOUBLE) / p * 10000
                   + 0.5) / 10000.0 AS boost
          FROM ws, wt ORDER BY source""",
    "sim_eval_label_precision" ->
      s"""${TextDedup.exactTopkSql(", label AS qlabel", ", q.qlabel, e.label",
            "CROSS JOIN q WHERE e.vec_id <> q.qid")}
          SELECT qid, qlabel,
                 CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_match,
                 floor(CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                     AS DOUBLE) / 5.0 * 10000 + 0.5) / 10000.0 AS prec_at_k
          FROM ranked WHERE rank <= 5 GROUP BY 1, 2 ORDER BY qid""",
    "agg_bootstrap_ci" ->
      s"""WITH base AS (
            SELECT event_id AS id,
                   CAST(floor(value*100 + 0.5) AS BIGINT) AS v FROM events),
          rep AS (SELECT id, v, unnest(range(0, 100)) AS b FROM base),
          h AS (SELECT b, v,
                       ((((id * 131 + b) % 1000003 + 1000003) % 1000003)
                         * 2654435761) % 4294967296 AS u
                FROM rep),
          wts AS (SELECT b, v,
                         CASE WHEN u < ${PoisThresh(0)} THEN 0
                              WHEN u < ${PoisThresh(1)} THEN 1
                              WHEN u < ${PoisThresh(2)} THEN 2
                              WHEN u < ${PoisThresh(3)} THEN 3
                              WHEN u < ${PoisThresh(4)} THEN 4
                              ELSE 5 END AS w
                  FROM h),
          means AS (SELECT b, CAST(sum(w * v) AS BIGINT) AS sw,
                           CAST(sum(w) AS BIGINT) AS nw
                    FROM wts GROUP BY 1),
          rk AS (SELECT CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE) AS m,
                        row_number() OVER (
                          ORDER BY CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE))
                          AS rn
                 FROM means WHERE nw > 0),
          ovr AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(v) AS BIGINT) AS sv FROM base)
          SELECT n,
                 floor(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
                   * 10000 + 0.5) / 10000.0 AS mean,
                 floor((SELECT m FROM rk WHERE rn = 3) / 100.0
                   * 10000 + 0.5) / 10000.0 AS ci_lo,
                 floor((SELECT m FROM rk WHERE rn = 98) / 100.0
                   * 10000 + 0.5) / 10000.0 AS ci_hi
          FROM ovr""",
    "embed_covariance" ->
      """WITH sc0 AS (
            SELECT vec_id, list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT))
                     AS xs
            FROM embeddings),
          -- mirror covCore's exclusion rule exactly: NULL vector, empty
          -- vector, or any NULL/NaN coordinate (floor(NaN) -> NULL element)
          -- never contributes to n or the moments
          sc AS (SELECT vec_id, xs FROM sc0
                 WHERE xs IS NOT NULL AND len(xs) > 0
                   AND len(list_filter(xs, x -> x IS NULL)) = 0),
          e1 AS (SELECT vec_id, xs, unnest(range(0, len(xs))) AS i FROM sc),
          sums AS (SELECT i, CAST(sum(xs[i+1]) AS BIGINT) AS sx
                   FROM e1 GROUP BY 1),
          pp AS (SELECT a.i AS i, b.i AS j,
                        CAST(sum(a.xs[a.i+1] * a.xs[b.i+1]) AS BIGINT) AS sxy
                 FROM e1 a JOIN e1 b
                   ON a.vec_id = b.vec_id AND a.i <= b.i
                 GROUP BY 1, 2),
          n AS (SELECT count(*) AS n FROM sc)
          SELECT pp.i, pp.j,
                 floor(CAST(n.n * pp.sxy - s1.sx * s2.sx AS DOUBLE)
                     / (CAST(n.n AS DOUBLE) * CAST(n.n AS DOUBLE))
                     / 100000000.0 * 10000 + 0.5) / 10000.0 AS cov
          FROM pp JOIN sums s1 ON pp.i = s1.i
                  JOIN sums s2 ON pp.j = s2.i, n
          ORDER BY pp.i, pp.j""",
  )
}
