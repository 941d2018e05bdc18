package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public library facade — the surface a user programs against, as opposed
  * to the driver contract in [[graft.SparkEntry]] (which exercises the same
  * internals as fixture-bound queries).
  *
  * Usage:
  * {{{
  *   import graft.api.Graft
  *   import graft.api.functions._
  *   import graft.api.implicits._
  *
  *   df.agg(hllDistinct($"user_id"))        // sketch aggregates
  *   trades.asofJoin(quotes, "sym", "ts")   // native as-of join
  * }}}
  *
  * No set-up call: with graft on the classpath every session Spark builds
  * already holds the graft_* functions and plans the as-of join
  * ([[graft.ext.GraftExtensions]]).
  */
object Graft {

  /** The caller's (key, time, value) columns as the (user_id, bucket, v)
    * frame the per-series fits read. */
  private def seriesPoints(df: DataFrame, key: String, time: String,
      value: String): DataFrame =
    df.select(col(key).cast("long").as("user_id"), col(time).as("bucket"),
      col(value).cast("double").as("v"))

  /** Distributed Prophet-style forecast: one model per key, fit in-task
    * (per-series-fits-in-memory contract — 100 TB means more series, not
    * bigger ones). Input columns are (key: integral, time: timestamp,
    * value: numeric); output is `horizon` future hourly slots per key with
    * yhat / interval bounds / trend / weekly / daily components, keyed by
    * the CALLER's `key` and `time` column names (the internal encoder
    * names never leak into the result — ADVICE r5). */
  def forecast(df: DataFrame, key: String, time: String, value: String,
      horizon: Int,
      cfg: graft.ops.Forecast.Config = graft.ops.Forecast.DefaultConfig): DataFrame = {
    graft.ops.Forecast.fitEach(seriesPoints(df, key, time, value))(
      graft.ops.Forecast.fitPredict(_, _, horizon, cfg))
      .withColumnRenamed("user_id", key)
      .withColumnRenamed("bucket", time)
  }

  /** Prophet logistic-growth mode ([[forecast]]'s capacity-saturating
    * variant, `growth='logistic'`): per-key capacity C = 1.1·max(value),
    * the additive core fits in logit space, and forecasts map back through
    * C·σ(z) so the prediction and interval bounds stay inside (0, C).
    * Output: (key, time, yhat, yhat_lower, yhat_upper, cap, trend). */
  def forecastLogistic(df: DataFrame, key: String, time: String,
      value: String, horizon: Int,
      cfg: graft.ops.Forecast.Config = graft.ops.Forecast.DefaultConfig): DataFrame = {
    graft.ops.Forecast.fitEach(seriesPoints(df, key, time, value))(
      graft.ops.Forecast.fitPredictLogistic(_, _, horizon, cfg))
      .withColumnRenamed("user_id", key)
      .withColumnRenamed("bucket", time)
  }

  /** Prophet multiplicative-seasonality mode (`seasonality_mode=
    * 'multiplicative'`): the additive core fits ln(value), so the seasonal
    * swing scales with the level; yhat ≡ trend · seasonal_factor. Output:
    * (key, time, yhat, trend, seasonal_factor). */
  def forecastMultiplicative(df: DataFrame, key: String, time: String,
      value: String, horizon: Int,
      cfg: graft.ops.Forecast.Config = graft.ops.Forecast.DefaultConfig): DataFrame = {
    graft.ops.Forecast.fitEach(seriesPoints(df, key, time, value))(
      graft.ops.Forecast.fitPredictMultiplicative(_, _, horizon, cfg))
      .withColumnRenamed("user_id", key)
      .withColumnRenamed("bucket", time)
  }

  /** EXACT k-means cluster profile over a bounded vector slice (the
    * oracle-able Lloyd's behind embed_kmeans_slice): embeddings quantize
    * to 1e4-scaled integers, centroids stay exact rationals, assignments
    * compare order-free integer distance sums — bit-reproducible on any
    * partitioning. Returns (cluster_id, n_vecs, avg_dist). Use the
    * IVF/kmeans trainer path for corpus-scale clustering; this one is the
    * deterministic audit/profile variant (|slice| · |values| must keep
    * (count·x)² · dims inside BIGINT — ≲ 10⁵ vectors at unit-norm dims). */
  def kmeansExact(df: DataFrame, id: String, vec: String, k: Int,
      iters: Int): DataFrame =
    graft.ops.TextDedup.kmeansExactCore(
      df.select(col(id).cast("long").as("vec_id"), expr(
        s"transform($vec, e -> CAST(floor(CAST(e AS DOUBLE)*10000 + 0.5) AS BIGINT))")
        .as("xi")),
      k, iters)

  /** Bounded-error audit of approx_percentile (the sketch-guarantee gate
    * behind agg_approx_percentile_audit): recomputes each sketch value's
    * exact rank interval and emits the verdict that it intersects
    * p·n ± (ε·n + 1), ε = 1/accuracy, plus the exact discrete percentile.
    * `accuracy` should divide 10000 so the bound arithmetic stays exact. */
  def approxPercentileAudit(df: DataFrame, group: String, value: String,
      pcts: Seq[Double] = Seq(0.5, 0.9, 0.99),
      accuracy: Int = 10000): DataFrame =
    graft.ops.Relational.approxPercentileAuditCore(df, group, value,
      pcts.map(p => math.round(p * 10000)), accuracy)

  /** Full-corpus near-duplicate connected components (the engine's flagship
    * dedup pipeline): exact-collapse → vocabulary-guarded pair stage
    * (bitmask fast path / banded-LSH at open vocabulary — never all-pairs)
    * → log-diameter min-label propagation → expand. Input needs an
    * integral id column and a text column; output is one row per input doc
    * with (id, label, is_keeper) where label = the component's min id and
    * keepers are the rows a dedup run retains. Output id column keeps the
    * caller's name. */
  def neardupComponents(df: DataFrame, id: String, text: String): DataFrame =
    graft.ops.TextDedup.neardupLabelsFromDocs(
        df.select(col(id).cast("long").as("doc_id"), col(text).as("text")))
      ._1.withColumnRenamed("node", id)

  /** Build (or rebuild) the PERSISTED standing near-dedup state for a
    * corpus under `path` (three parquet tables: component labels, collapsed
    * hashed token sets, minhash band table) — the bootstrap a production
    * pipeline runs once so that every later crawl increment is labeled with
    * [[neardupIncrement]] in work ∝ increment, never ∝ corpus. */
  def neardupStateBuild(corpus: DataFrame, id: String, text: String,
      path: String): Unit =
    graft.ops.TextDedup.neardupStateWrite(
      corpus.select(col(id).cast("long").as("doc_id"), col(text).as("text")),
      path)

  /** Label an incoming increment against the standing state built by
    * [[neardupStateBuild]]: returns the FULL updated label table (corpus ∪
    * batch rows, (id, label, is_keeper)) — exactly the labels a from-scratch
    * recompute over corpus ∪ batch would produce, for work ∝ batch. Batch
    * ids must be disjoint from (and, for min-label stability, larger than)
    * the corpus ids. Re-run [[neardupStateBuild]] to fold the increment into
    * the standing state when desired. */
  def neardupIncrement(batch: DataFrame, id: String, text: String,
      path: String): DataFrame = {
    val b = batch.select(col(id).cast("long").as("doc_id"),
      col(text).as("text"))
    graft.ops.TextDedup.neardupIncrementalLabels(b,
        graft.ops.TextDedup.neardupStateRead(batch.sparkSession, path))
      ._1.withColumnRenamed("node", id)
  }

  /** Fold a labeled increment into the standing state under `path` (labels
    * overwritten with the corpus∪batch labels, the batch's genuinely new
    * collapsed sets and their bands appended) — after this, the NEXT
    * increment dedups against corpus ∪ batch exactly as if the state had
    * been rebuilt from scratch. Returns the refreshed (id, label,
    * is_keeper) table, MATERIALIZED so it survives the state overwrite;
    * note that lazy frames returned by an EARLIER [[neardupIncrement]]
    * read the state files this call replaces — consume them first (normal
    * Spark overwrite-source semantics). Together with
    * [[neardupStateBuild]] and [[neardupIncrement]] this is the complete
    * between-increments loop a standing 100 TB corpus runs per crawl. */
  def neardupStateRefresh(batch: DataFrame, id: String, text: String,
      path: String): DataFrame =
    graft.ops.TextDedup.neardupStateRefresh(
      batch.select(col(id).cast("long").as("doc_id"), col(text).as("text")),
      path).withColumnRenamed("node", id)

  /** Corpus-frequent n-gram boilerplate profile (CCNet-style cleanup
    * signal): per input row, its distinct-3-gram count, how many of those
    * 3-grams are corpus boilerplate (document frequency ≥ 1% and ≥ 2
    * docs), and the boilerplate fraction. */
  def boilerplateNgrams(df: DataFrame, id: String, text: String): DataFrame =
    graft.ops.TextDedup.boilerplateNgramsCore(
        df.select(col(id).cast("long").as("doc_id"), col(text).as("text")))
      .withColumnRenamed("doc_id", id)

  /** Inverted-index build: term → document frequency + the first
    * `postingCap`-bounded postings in id order (bounded map-side via
    * WindowGroupLimit — no unbounded stopword posting lists). Postings are
    * a canonical comma-joined string (Canon.listCol) — split on ',' to
    * recover ids. */
  def invertedIndex(df: DataFrame, id: String, text: String): DataFrame =
    graft.ops.TextDedup.invertedIndexCore(
      df.select(col(id).cast("long").as("doc_id"), col(text).as("text")))

  /** Readability / lexical-complexity profile per row (Flesch reading
    * ease, Kincaid et al. 1975): word, syllable-estimate, long-word and
    * sentence counts plus `fre_milli`, the 1e3-scaled Flesch score in
    * exact integer arithmetic — bit-identical on any partitioning. Pure
    * per-row array expressions; one codegen'd map stage at any scale. */
  def readability(df: DataFrame, id: String, text: String): DataFrame =
    graft.ops.TextDedup.readabilityCore(
        df.select(col(id).cast("long").as("doc_id"), col(text).as("text")))
      .withColumnRenamed("doc_id", id)

  /** Pairwise source-level vocabulary Jaccard — "which crawls are the
    * same material?" above document granularity. The pair stage meets on
    * the TERM key (shuffle ∝ vocabulary, never |sources|² × vocab);
    * output is the bounded #source-pairs frame with exact integer
    * intersection/size counts and a display-rounded `jacc`. */
  def sourceSimilarity(df: DataFrame, source: String,
      text: String): DataFrame =
    graft.ops.TextDedup.sourceSimilarityCore(
      df.select(col(source).as("source"), col(text).as("text")))

  /** Learn a BPE merge table from a corpus (classic Sennrich procedure on
    * the distinct-word frequency dictionary — deterministic: count desc,
    * lexicographic ties). Returns (rank, left, right, pair_count) rows,
    * the same shape as the checked-in table the apply side consumes. */
  def bpeTrain(df: DataFrame, text: String, mergeCount: Int): DataFrame =
    graft.ops.Bpe.tokenizerFitCore(df.select(col(text).as("text")), mergeCount)

  /** Gopher-style rule-based quality gate: per row, the word-count /
    * mean-word-length / stopword / top-word-repetition verdicts as separate
    * boolean columns plus the conjunctive `keep` — so a pipeline can audit
    * WHICH rule rejected a document, not just that one did. */
  def gopherRules(df: DataFrame, id: String, text: String): DataFrame =
    graft.ops.Pipeline.gopherRulesCore(
        df.select(col(id).cast("long").as("doc_id"), col(text).as("text")))
      .withColumnRenamed("doc_id", id)

  /** Per-doc INTRINSIC release-manifest verdicts (the columns a standing
    * corpus release persists between crawl increments): g (gopher cascade),
    * cont (≥80% containment of a benchmark doc's distinct tokens), q4
    * (length / trigram-repetition / language rules). Every verdict is a
    * pure function of the row plus the fixed bench set, which is what
    * makes the release composition incremental — new batches score
    * map-side, nothing standing is re-scored. `bench` carries
    * (bench_id, bst: array&lt;string&gt;) distinct-token sets. */
  def releaseIntrinsics(docs: DataFrame, bench: DataFrame): DataFrame =
    graft.ops.Pipeline.releaseIntrinsics(docs, bench)

  /** The global release TAIL over a narrow per-doc flag manifest (doc_id,
    * lang, source, tok, k1..k4): domain-mix threshold, per-stage audit
    * rows, 512-token packing, and the 16-shard manifest — the shared end
    * of both the full and incremental release compositions
    * (pipeline_release_e2e / _incremental). */
  def releaseAudit(manifest: DataFrame): DataFrame =
    graft.ops.Pipeline.releaseAuditFromFlags(manifest)

  /** Per-doc rejection attribution over the same k1..k4 flag manifest:
    * classifies each document by the FIRST release stage whose gate it
    * failed (gopher, near-dup loser, benchmark holdout / contaminated,
    * quality, mix downsample) or `0_retained`, aggregated to (reason,
    * lang, n_docs, tokens) — the "why was my document dropped" audit a
    * release operator runs after every build, at the cost of one narrow
    * grouped pass over the manifest. */
  def releaseRejectionReasons(manifest: DataFrame): DataFrame =
    graft.ops.Pipeline.rejectionReasonsFromFlags(manifest)

  /** Bootstrap the persisted release state (intrinsic manifest + bench
    * token sets + near-dedup state over gopher survivors) under `dir` —
    * run once; increments fold in via [[releaseStateRefresh]]. `docs` must
    * include the benchmark docs (ids 0–4). */
  def releaseStateWrite(docs: DataFrame, dir: String): Unit =
    graft.ops.Pipeline.releaseStateWrite(docs, dir)

  /** Fold a crawl increment into the persisted release state: manifest
    * rows append (intrinsic verdicts never re-score the standing corpus),
    * near-dedup labels/sets/bands fold incrementally — work ∝ batch.
    * Chained increments serve the identical release as a from-scratch
    * rebuild (proven in ApiSpec). */
  def releaseStateRefresh(batch: DataFrame, dir: String): Unit =
    graft.ops.Pipeline.releaseStateRefresh(batch, dir)

  /** Serve the release audit + shard manifest from persisted state alone —
    * no corpus scan; output shape ≡ pipeline_release_e2e. */
  def releaseServe(s: SparkSession, dir: String): DataFrame =
    graft.ops.Pipeline.releaseServe(s, dir)

  /** Per-series climatology skill check for the [[forecast]] model: exact
    * integer 80/20 split, holdout MAE vs the train-mean baseline on the
    * raw series and on a known injected daily signal. Output: (key,
    * n_train, n_test, naive_num, naive_num_signal, beats_signal,
    * noise_ratio4_ok) — see forecast_skill_audit for the gating use. */
  def forecastSkillCheck(df: DataFrame, key: String, time: String,
      value: String): DataFrame = {
    graft.ops.Forecast.fitEach(seriesPoints(df, key, time, value))(
      graft.ops.Forecast.skillCheck)
      .withColumnRenamed("user_id", key)
  }

  /** Unigram-LM mean-surprisal band filter (the perplexity-proxy gate a
    * quality cascade runs before any neural scorer): too-low = boilerplate,
    * too-high = gibberish; verdicts ride exact scaled-integer arithmetic. */
  def perplexityGate(df: DataFrame, id: String, text: String): DataFrame =
    graft.ops.Pipeline.perplexityGateCore(
        df.select(col(id).cast("long").as("doc_id"), col(text).as("text")))
      .withColumnRenamed("doc_id", id)

  /** PII scrubbing: digit runs → `<NUM>`, emails → `<EMAIL>`, with per-row
    * redaction counts for rate auditing. Map-side at any scale. */
  def piiScrub(df: DataFrame, id: String, payload: String): DataFrame =
    graft.ops.Pipeline.piiScrubCore(df, id, payload)

  /** Repeated-substring span stats (n-gram approximation of suffix-array
    * substring dedup, Lee et al. 2021): per row, how many of its positional
    * k-grams occur ≥2 times corpus-wide and the longest consecutive
    * duplicated run — the clip target for verbatim-memorization cleanup. */
  def substringSpans(df: DataFrame, id: String, text: String,
      k: Int = 5): DataFrame =
    graft.ops.TextDedup.substringSpansCore(
        df.select(col(id).cast("long").as("doc_id"), col(text).as("text")), k)
      .withColumnRenamed("doc_id", id)

  /** A caller's edge columns renamed to the (a, b) the graph cores read;
    * each core casts them to BIGINT itself. */
  private def graphEdges(edges: DataFrame, a: String, b: String): DataFrame =
    edges.select(col(a).as("a"), col(b).as("b"))

  /** An edge list as BIGINT (src, dst) rows, closed over both orientations
    * when `undirected`. */
  private def directedEdges(edges: DataFrame, src: String, dst: String,
      undirected: Boolean): DataFrame = {
    val e = graft.ops.Graph.longEdges(edges, src, dst)
    if (undirected) graft.ops.Graph.bothWays(e, "src", "dst")
    else e.select(col("a").as("src"), col("b").as("dst"))
  }

  /** Damped PageRank over an edge frame, ENTIRELY in exact scaled-integer
    * arithmetic (10^12 total mass, integer-division contributions and
    * damping) — results are bit-identical at any partitioning/executor
    * count, the determinism contract every graft sampler shares. Pass
    * `undirected = true` (default) to add the symmetric closure; with
    * directed edges every node must have out-degree ≥ 1 (no dangling-mass
    * redistribution is applied). Returns (node, pr_scaled) descending. */
  def pagerank(edges: DataFrame, src: String, dst: String,
      iters: Int = 5, undirected: Boolean = true): DataFrame =
    graft.ops.Graph.pagerankCore(
        directedEdges(edges, src, dst, undirected).distinct(), iters)
      .orderBy(desc("pr"), asc("node"))
      .select(col("node"), col("pr").as("pr_scaled"))

  /** Triangle census of an undirected graph given as (a, b) edges with
    * a < b: nodes, edges, wedges, triangles, global clustering. */
  def triangleCensus(edges: DataFrame, a: String, b: String): DataFrame =
    graft.ops.Graph.triangleCensusCore(graphEdges(edges, a, b))

  /** Bounded-hop BFS distances from `source` over an edge frame (frontier-
    * only expansion — per-round work ∝ frontier edges, the distributed-BFS
    * contract). Returns (node, dist) for every node reached within `hops`;
    * unreached nodes are omitted, never materialized as ∞. */
  def shortestPaths(edges: DataFrame, src: String, dst: String,
      source: Long, hops: Int = 8, undirected: Boolean = true): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    graft.ops.Graph.bfsCore(directedEdges(edges, src, dst, undirected),
        Seq(source).toDF("node"), hops)
      .orderBy("node").select(col("node"), col("d").as("dist"))
  }

  /** Connected components of an undirected (a, b) edge frame: label =
    * component-minimum node id via the adaptive min-label core (driver
    * union-find under the edge cap, distributed min-label loop above).
    * Returns (node, component) for every edge endpoint. */
  def connectedComponents(edges: DataFrame, a: String, b: String): DataFrame = {
    val e = graft.ops.Graph.longEdges(edges, a, b).localCheckpoint(true)
    graft.ops.TextDedup.componentLabels(
        graft.ops.Graph.bothWays(e, "src", "dst"), maxRounds = 20)._1
      .select(col("node"), col("label").as("component")).orderBy("node")
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007) over
    * an undirected (a, b) edge frame: `rounds` bounded simultaneous-update
    * iterations, most-frequent neighbor label per node, ties to the
    * smallest label — fully deterministic (integer seeds, no rand), so the
    * result is partition-invariant. Returns (node, community). */
  def labelPropagation(edges: DataFrame, a: String, b: String,
      rounds: Int = 3): DataFrame =
    graft.ops.Graph.lpaCore(graphEdges(edges, a, b), rounds)
      .orderBy("node").select(col("node"), col("lbl").as("community"))

  /** Resource-allocation link prediction (Zhou, Lü & Zhang 2009) over an
    * undirected (a, b) edge frame: for each non-adjacent pair, the sum of
    * 1/deg over shared neighbors, in exact 1e9-scaled integer arithmetic
    * (ra_scaled). Returns every candidate pair with its score and raw
    * common-neighbor count, unranked — compose with topkPerGroup or a
    * TakeOrdered for serving. */
  def resourceAllocation(edges: DataFrame, a: String, b: String): DataFrame =
    graft.ops.Graph.pairsAs(graft.ops.Graph.raCore(graphEdges(edges, a, b)),
      "node_a", "node_b")

  /** Adamic–Adar link prediction (Adamic & Adar 2003) over an undirected
    * (a, b) edge frame: for each non-adjacent pair, Σ 1/ln(deg) over
    * shared neighbors as a 1e12-scaled integer (aa_scaled; ln rides the
    * 1e6-scaled-integer step, PLANS.md posture). Logarithmic hub damping —
    * between commonNeighbors' none and resourceAllocation's 1/deg.
    * Unranked, like resourceAllocation — compose with a TakeOrdered. */
  def adamicAdar(edges: DataFrame, a: String, b: String): DataFrame =
    graft.ops.Graph.pairsAs(graft.ops.Graph.aaCore(graphEdges(edges, a, b)),
      "node_a", "node_b")

  /** CCNet-style perplexity terciles (Wenzek et al. 2020): head / middle /
    * tail split of each language's documents by unigram mean surprisal,
    * with per-(lang, tier) doc/token accounting and band edges. The
    * pretraining cut is tier = 'head'. Requires (id, lang, text). */
  def ccnetBucket(df: DataFrame, id: String, lang: String,
      text: String): DataFrame =
    graft.ops.Pipeline.ccnetBucketCore(
      df.select(col(id).cast("long").as("doc_id"), col(lang).as("lang"),
        col(text).as("text")))

  /** Poisson-bootstrap 95% CI for the mean of a numeric column (B
    * deterministic hash-seeded replicas — reproducible at any partitioning,
    * re-run, or engine). Returns one row (n, mean, ci_lo, ci_hi). The
    * replica explode is map-side with B accumulators per partition — safe
    * at any n. */
  def bootstrapCi(df: DataFrame, id: String, value: String,
      replicas: Int = 100): DataFrame =
    graft.ops.Curation.bootstrapCore(
      df.select(col(id).cast("long").as("event_id"),
        col(value).cast("double").as("value")),
      replicas)

  /** Jaccard-coefficient link prediction over an undirected (a, b) edge
    * frame: nc / (deg_a + deg_b − nc) for non-adjacent pairs, carried as
    * an exact integer rational (1e6-scaled) — no ln, no float, bit-exact
    * ranking. Unranked; compose with a TakeOrdered. */
  def jaccardLinkpred(edges: DataFrame, a: String, b: String): DataFrame =
    graft.ops.Graph.pairsAs(
      graft.ops.Graph.jaccardLpCore(graphEdges(edges, a, b)),
      "node_a", "node_b")

  /** MMR diversity re-ranking (Carbonell & Goldstein 1998): for each query
    * row, greedily pick `k` of its top-`poolK` cosine candidates maximizing
    * λ·sim(query,c) − (1−λ)·max sim(c, already-picked). The greedy loop is
    * per-query over a bounded pool (one task); candidate generation is the
    * distributed stage. Queries must be driver-bounded (they broadcast). */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, poolK: Int = 20, k: Int = 5,
      lambda: Double = 0.7): DataFrame = {
    def norm(df: DataFrame) = df.select(col(id).cast("long").as("vec_id"),
      col(vec).as("embedding"))
    graft.ops.Curation.mmrCore(corpus.sparkSession, norm(corpus),
      norm(queries), poolK, k, lambda)
  }

  /** Okapi BM25 keyword retrieval (k1 = 1.2, b = 0.75): top-`k` documents
    * for a term set, scored with scaled-integer idf and exact per-document
    * integer score sums (bit-stable at any partitioning). One filtered
    * corpus scan + broadcast stats — no index build needed for batch
    * scoring; pair with invertedIndex for the serving-side structure. */
  def bm25Search(df: DataFrame, id: String, text: String,
      terms: Seq[String]): DataFrame =
    graft.ops.Curation.bm25Core(
      df.select(col(id).cast("long").as("doc_id"), col(text).as("text")),
      // corpus tokens are lowercase/trim-normalized; normalize the query
      // the same way or an uppercase term silently scores zero (review r8b)
      terms.map(_.trim.toLowerCase).filter(_.nonEmpty).distinct)

  /** Reciprocal Rank Fusion (Cormack et al. 2009) of any number of ranked
    * retrieval lists: each input frame carries (`id`, `rank`) with rank
    * 1-based; the fused score is Σ_lists 1e9 div (k0 + rank) as an exact
    * BIGINT (absent list ⇒ 0 contribution), ties broken by id. Returns
    * (id, rrf_scaled) ordered best-first, limited to `topK`. Rank-only
    * fusion — no score calibration crosses heterogeneous retrievers,
    * which is why this is the standard hybrid-search merge. */
  def rrfFuse(lists: Seq[DataFrame], id: String, rank: String,
      topK: Int = 10, k0: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    // rank contract (ADVICE r14): k0 + rank must stay ≥ 1 or div yields
    // null (k0 + rank = 0) / nonsense negative scores — enforce k0 ≥ 1
    // here and rank ≥ 1 per row below; duplicate ids WITHIN one list
    // would double-count their contribution, so each list is collapsed
    // to its min (= best) rank per id before fusing.
    require(k0 >= 1, s"rrfFuse needs k0 >= 1 (got $k0)")
    // integer division: Spark's `/` on longs is double division, so route
    // through the SQL `div` operator for the exact BIGINT contract
    val contrib = lists.map(_
      .selectExpr(s"CAST($id AS BIGINT) AS id", s"CAST($rank AS BIGINT) AS r")
      .where(col("r") >= 1)
      .groupBy(col("id")).agg(min(col("r")).as("r"))
      .selectExpr("id", s"1000000000 div ($k0 + r) AS c"))
    contrib.reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(sum(col("c")).as("rrf_scaled"))
      .orderBy(desc("rrf_scaled"), asc("id")).limit(topK)
  }

  /** Distributed batch-perceptron training of a hashed-unigram linear
    * classifier (3 epochs, exact BIGINT arithmetic — only the 256-weight
    * model reaches the driver): `pos` marks the positive class. Returns
    * (weights, bias, perEpoch (epoch, nErrors, wL1, bias)). */
  def trainPerceptron(docs: DataFrame, id: String, text: String,
      pos: Column): (Array[Long], Long, Seq[(Int, Long, Long, Long)]) = {
    val (_, w, b, stats) = graft.ops.Curation.trainPerceptronCore(
      docs.select(col(id).cast("long").as("doc_id"), col(text).as("text"),
        pos.as("__pos")), col("__pos"))
    (w, b, stats)
  }

  /** DSIR importance weights (Xie et al. 2023): rank documents by
    * log p_target − log p_raw under add-1-smoothed hashed-unigram LMs
    * (256 portable hash buckets), target = the rows whose `lang` equals
    * `targetLang`. Top-25 most target-like documents with their scaled
    * log-weights — the resampling pool for target-domain curation. */
  def dsirWeights(df: DataFrame, id: String, text: String, lang: String,
      targetLang: String): DataFrame =
    graft.ops.Curation.dsirCore(
      df.select(col(id).cast("long").as("doc_id"), col(lang).as("lang"),
        col(text).as("text")),
      targetLang)

  /** Kong's effective sample size of the DSIR importance weights over the
    * WHOLE corpus: one row (n_docs, ess, ess_frac). ESS ≪ n means the
    * importance resample concentrates on a sliver of the corpus —
    * upweight variance will explode; ESS ≈ n means the target adds little
    * signal. */
  def dsirEss(df: DataFrame, id: String, text: String, lang: String,
      targetLang: String): DataFrame =
    graft.ops.Curation.essCore(graft.ops.Curation.dsirAll(
      df.select(col(id).cast("long").as("doc_id"), col(lang).as("lang"),
        col(text).as("text")),
      targetLang))

  /** Token-budgeted epoch plan: per source, the tokens the loader draws
    * under the α-temperature mixture and the implied epochs (> 1 ⇒ the
    * source repeats). Budget here is half the corpus; at call sites with
    * an absolute budget, scale the mixture weights instead. */
  def epochPlan(df: DataFrame, source: String, text: String,
      alpha: Double = 0.3): DataFrame =
    graft.ops.Curation.epochPlanCore(
      df.select(col(source).as("source"), col(text).as("text")), alpha)

  /** Temperature-scaled source mixing (α < 1 upsamples tail sources —
    * the Conneau & Lample 2019 multilingual sampling rule): per source,
    * token share p, normalized mixing weight ∝ p^α, and the boost q/p a
    * data loader applies. Exact-integer normalization (the Σ q_t
    * denominator cannot drift with aggregation order). */
  def mixTemperature(df: DataFrame, source: String, text: String,
      alpha: Double = 0.3): DataFrame =
    graft.ops.Curation.mixTemperatureCore(
      df.select(col(source).as("source"), col(text).as("text")), alpha)

  /** Embedding covariance matrix (upper triangle, exact-integer moment
    * sums over 1e4-scaled coordinates — bit-identical at any partition
    * count). The anisotropy audit input for [[pcaSpectrum]]. */
  def embeddingCovariance(df: DataFrame, id: String, vec: String): DataFrame =
    graft.ops.Curation.covDisplay(graft.ops.Curation.covCore(
      df.select(col(id).cast("long").as("vec_id"), col(vec).as("embedding"))))

  /** PCA explained-variance spectrum of an embedding column: top-`topK`
    * eigenvalues (×100, display-rounded) of the covariance matrix with
    * explained-variance ratios. Distributed work is the exact-integer
    * covariance; only the d×d matrix crosses to the driver for the Jacobi
    * solve (the aggregate-then-solve-small split embed_kmeans uses). */
  def pcaSpectrum(df: DataFrame, id: String, vec: String,
      topK: Int = 10): DataFrame =
    graft.ops.Curation.pcaCore(df.sparkSession,
      df.select(col(id).cast("long").as("vec_id"), col(vec).as("embedding")),
      topK)

  /** Bounded k-core peeling over an undirected edge frame (Montresor et
    * al.): `rounds` synchronous rounds of "drop nodes with degree < k,
    * restrict edges to survivors", returning (node, deg) for the surviving
    * subgraph — dense cores are the spam-ring / link-farm signal in a
    * crawl graph. Bounded-rounds prefix, deterministic at any
    * partitioning; per-round cost is one degree agg + two node-keyed
    * semi-joins over a monotonically shrinking edge set. */
  def kcore(edges: DataFrame, a: String, b: String, k: Int = 2,
      rounds: Int = 5): DataFrame =
    graft.ops.Graph.kcoreCore(graphEdges(edges, a, b), k, rounds)
      .select(col("n").as("node"), col("deg")).orderBy("node")

  /** Shannon entropy + Pielou evenness (H / ln K) of the row-count
    * distribution over one categorical column — "how many effective
    * sources is this corpus drawn from?". One row (axis, n_docs, k,
    * entropy, evenness); NULL evenness when k = 1. Scaled-integer ln
    * arithmetic (text_entropy posture, PLANS.md); everything past the
    * per-value count is O(k). */
  def entropyBalance(df: DataFrame, axis: String): DataFrame =
    graft.ops.Relational.entropyAxisCore(
      df.select(col(axis).as("v")), axis)

  /** Predicate-constrained exact vector search (FAISS IDSelector /
    * qdrant-filter shape): for each row of `queries`, the top-k
    * cosine neighbors among `corpus` rows sharing its `key` value —
    * "top-k among docs with lang=X". The filter IS the join (a key
    * equi-join: only matching pairs ever shuffle, never the cross
    * product); queries must be driver-bounded (they broadcast). Output
    * (qid, rank, vec_id, label, cos); self-matches by id are excluded. */
  def filteredTopk(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, key: String, k: Int = 5): DataFrame = {
    def norm(df: DataFrame) = df.select(col(id).cast("long").as("vec_id"),
      col(vec).as("embedding"), col(key).as("label"))
    graft.ops.TextDedup.simFilteredTopkCore(corpus.sparkSession,
      norm(corpus), norm(queries), k)
  }

  /** Two-sample Kolmogorov–Smirnov drift between the rows where `arm` is
    * true and the rest, over the cents-binned ECDF of `value` — the
    * distribution-shift gate between data snapshots. Returns one row
    * (n_a, n_b, ks_scaled, ks); the KS numerator is exact integer
    * cross-multiplication over bounded bins (see agg_ks_drift scaladoc),
    * so the statistic is bit-stable under any partitioning. */
  def ksDrift(df: DataFrame, arm: Column, value: Column): DataFrame =
    graft.ops.Relational.ksCore(df.select(arm.cast("boolean").as("arm"),
      graft.util.Canon.cents(value).as("bin")))

  /** χ² test of independence between two categorical columns — the
    * categorical drift/association gate next to [[ksDrift]]'s continuous
    * one. Returns one row (n_docs, dof, chi2_scaled, chi2); cell terms are
    * computed from exact integer marginals and summed as 1e6-scaled
    * integers, so the statistic is partition-invariant. Zero cells
    * contribute their full expected mass (dense marginal cross). */
  def chi2Independence(df: DataFrame, a: String, b: String): DataFrame =
    graft.ops.Relational.chi2IndependenceCore(df, a, b)

  /** Gini concentration of `weight` across rows, per `group` — the
    * corpus-balance audit ("a few giant docs or many small ones?").
    * Exact integer statistic via the rank-window folding (see
    * agg_gini_concentration scaladoc); one keyed shuffle + window. */
  def giniConcentration(df: DataFrame, group: String, id: String,
      weight: String): DataFrame =
    graft.ops.Relational.giniConcentrationCore(
        df.select(col(group).as("source"), col(id).cast("long").as("doc_id"),
          col(weight).cast("long").as("n_chars")))
      .withColumnRenamed("source", group)

  /** Greedy best-docs-under-budget curation per language: order each
    * lang's docs by (`sizeCol` desc, id), keep the longest prefix whose
    * cumulative whitespace-token count fits `budget`. Deterministic,
    * partition-invariant, O(1) window state per row. */
  def tokenBudget(df: DataFrame, lang: String, id: String, text: String,
      sizeCol: String, budget: Long): DataFrame =
    graft.ops.Pipeline.tokenBudgetCore(
        df.select(col(lang).as("lang"), col(id).cast("long").as("doc_id"),
          col(sizeCol).cast("long").as("n_chars"), col(text).as("text")),
        budget)
      .withColumnRenamed("lang", lang).withColumnRenamed("doc_id", id)

  /** Generation-over-generation corpus diff: classify every id across two
    * snapshot frames as added / removed / changed / unchanged (payload
    * inequality = changed; at 100 TB pass a digest column as `payload`)
    * and roll up (source, status, n_docs, summed weight). One full-outer
    * hash join on the id, then an O(#sources × 4) agg. */
  def snapshotDiff(old: DataFrame, nw: DataFrame, id: String,
      source: String, payload: String, weight: String): DataFrame = {
    // ids join as-is (string hash/URL ids are first-class — a long cast
    // would NULL them and misclassify every row as added+removed)
    def norm(df: DataFrame) = df.select(col(id).as("id"),
      col(source).as("source"), col(payload).as("payload"),
      col(weight).cast("long").as("weight"))
    graft.ops.Lifecycle.snapshotDiffCore(norm(old), norm(nw))
      .withColumnRenamed("source", source)
  }

  /** Exact join-size pre-flight for `left(keyL)` ⋈ `right(keyR)`: per-side
    * distinct keys, matching keys, exact output cardinality Σ|L_k|·|R_k|,
    * and worst single-key fan-out — one row. Shuffles key counts only. */
  def joinSizeAudit(left: DataFrame, keyL: String,
      right: DataFrame, keyR: String): DataFrame =
    graft.ops.Lifecycle.joinSizeAuditCore(
      left.select(col(keyL).as("k")), right.select(col(keyR).as("k")))

  /** Cohen's κ between two boolean label columns — the label-noise /
    * weak-supervision agreement audit. One row
    * (n, n11, n10, n01, n00, kappa). */
  def raterAgreement(df: DataFrame, a: Column, b: Column): DataFrame =
    graft.ops.Lifecycle.raterAgreementCore(
      df.select(a.cast("boolean").as("ra"), b.cast("boolean").as("rb")))

  /** Winsorized per-group stats of an integral measure: exact discrete
    * p05/p95 cutpoints, clamped mean, clip counts. Cutpoint frame is
    * O(#groups) and broadcast back — no full-data window. */
  def winsorize(df: DataFrame, group: String, value: String): DataFrame =
    graft.ops.Lifecycle.winsorizeCore(
        df.select(col(group).as("source"), col(value).cast("long").as("n_chars")))
      .withColumnRenamed("source", group)

  /** MinHash banding design audit over a similarity sample: for each
    * (bands, rows) split of a 16-hash budget, expected caught true/false
    * near-dup mass under P(s) = 1 − (1 − s^r)^b at threshold 0.8. `sim`
    * is any one-double-column frame of candidate-pair similarities (use
    * the blocked dedup family to produce it — never all-pairs). */
  def lshTuning(sim: DataFrame, simCol: String): DataFrame =
    graft.ops.Lifecycle.lshTuningCore(
      sim.select(col(simCol).cast("double").as("s")))

  /** BPE token count of a text column under the library's checked-in merge
    * table — trainer-token accounting as a COLUMN (the codegen'd
    * replace-cascade, no UDF), usable inside any select/agg. Applies the
    * engine's text normalization (trim, lower, whitespace collapse)
    * first, matching text_token_count_bpe / pack_sequences_bpe. */
  def bpeTokenCount(text: Column): Column =
    graft.ops.Bpe.bpeTokens(
      regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Newman–Girvan modularity of a node labeling over an undirected edge
    * frame — the community-quality audit after [[labelPropagation]].
    * Exact integer rational (4m·Σe_c − Σd_c²)/4m²; one row
    * (n_communities, n_edges, intra_edges, modularity). */
  def modularity(edges: DataFrame, a: String, b: String,
      labels: DataFrame, node: String, label: String): DataFrame =
    graft.ops.Graph.modularityCore(graphEdges(edges, a, b),
      labels.select(col(node).as("node"), col(label).as("lbl")))

  /** Per-node Watts–Strogatz local clustering coefficient for the topK
    * highest-degree nodes of an undirected edge frame — the node-level
    * cohesion audit next to the global census (spam-ring hubs ≈ 1).
    * Returns (node, deg, n_triangles, lcc). */
  def localClustering(edges: DataFrame, a: String, b: String,
      topK: Int = 20): DataFrame =
    graft.ops.Graph.localClusteringCore(graphEdges(edges, a, b), topK)

  /** Embedding dataset-health card per `group`: row count, observed
    * dimension min/max (ragged = broken encoder), mean L2 norm from exact
    * integer folds. One map-side pass + per-group agg. */
  def embeddingNormStats(df: DataFrame, group: String,
      vec: String): DataFrame = {
    val in = df.select(col(group).as("label"), col(vec).as("embedding"))
    val sess = df.sparkSession
    graft.ops.TextDedup.embedNormStatsCore(sess, in)
      .withColumnRenamed("label", group)
  }

  /** Degree assortativity (Newman r) of an undirected edge frame — the
    * hub-mixing fingerprint read before choosing graph-join skew
    * mitigations. One row (n_nodes, n_edges, assortativity). */
  def assortativity(edges: DataFrame, a: String, b: String): DataFrame =
    graft.ops.Graph.assortativityCore(graphEdges(edges, a, b))

  /** Largest-remainder (Hamilton) apportionment of `budget` sample slots
    * across the values of `group`, proportional to row counts — Σ alloc ==
    * budget exactly. Returns (group, n_docs, alloc). */
  def quotaSample(df: DataFrame, group: String, budget: Long): DataFrame =
    graft.ops.Lifecycle.quotaSampleCore(
        df.select(col(group).as("source")), budget)
      .withColumnRenamed("source", group)

  /** k-anonymity audit over a 3-column quasi-identifier tuple: groups
    * below k, rows they expose, minimum class size, exposed-row share.
    * One row out. */
  def kAnonymity(df: DataFrame, q1: Column, q2: Column, q3: Column,
      k: Int = 5): DataFrame =
    graft.ops.Lifecycle.kAnonymityCore(
      df.select(q1.as("q1"), q2.as("q2"), q3.as("q3")), k)

  /** Theil T inequality of `value` mass within each `group` — the
    * balance-audit leg that decomposes additively across subgroups.
    * Returns (group, n, total_chars, theil); rows with value <= 0 are
    * excluded. One scan + #groups-ary agg. */
  def theilInequality(df: DataFrame, group: String, value: String): DataFrame =
    graft.ops.Lifecycle.theilCore(
        df.select(col(group).as("source"), col(value).cast("long").as("x")))
      .withColumnRenamed("source", group)

  /** First-significant-digit (Benford) distribution of a positive integral
    * measure — the fabricated-vs-organic numeric forensic. Pass exact
    * integers (e.g. `cents` of a money column); non-positive rows are
    * excluded. Returns (digit, n, share). */
  def benfordAudit(df: DataFrame, value: Column): DataFrame =
    graft.ops.Lifecycle.benfordCore(df.select(value.cast("long").as("v")))

  /** Exact relational profile of the named columns: per column the row
    * count, distinct count, null count, and modal value with frequency
    * (ties to the smallest value, stringified into one shared schema).
    * One hash-agg per column over a shared pruned scan; at 100 TB swap in
    * the sketched variants (hllDistinct / heavyHitters) for one pass. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    graft.ops.Lifecycle.profileCore(df, cols)

  /** Gaps-and-islands over an activity log: per key, runs of consecutive
    * active days via the row_number-difference trick. Returns
    * (key, n_active_days, n_islands, longest_island, first_day) where
    * days count from 1970-01-01. Two keyed windows over the distinct
    * (key, day) frame — tiny relative to the log. */
  def gapsIslands(df: DataFrame, key: String, time: String): DataFrame =
    graft.ops.Windows.gapsIslandsCore(
        df.select(col(key).as("user_id"),
          datediff(to_date(col(time)), lit("1970-01-01").cast("date"))
            .cast("long").as("dayn")))
      .withColumnRenamed("user_id", key)

  /** SCD2 point-in-time snapshot of a change log: the version of every
    * (key, subKey) dimension row valid AT `asOfMs` (epoch millis).
    * Versions order by (time, id); `value` is canonicalized to exact
    * cents. One keyed window shuffle; the cut rides a one-row broadcast
    * and the validity filter is map-side. */
  def scd2PointInTime(df: DataFrame, key: String, subKey: String,
      id: String, time: String, value: String, asOfMs: Long): DataFrame = {
    val cut = df.sparkSession.range(1)
      .select(lit(asOfMs).cast("long").as("as_of_ms"))
    graft.ops.Pipeline.scd2PitCore(
        df.select(col(key).as("user_id"), col(subKey).as("event_type"),
          col(id).as("event_id"),
          graft.util.Canon.tsMs(col(time)).as("tsm"),
          graft.util.Canon.cents(col(value)).as("v_cents")),
        cut)
      .withColumnRenamed("user_id", key)
      .withColumnRenamed("event_type", subKey)
      .withColumnRenamed("event_id", id)
  }

  /** CDC changelog apply WITH tombstones: newest version per key wins and
    * a key whose final operation is a delete (`isDelete`) vanishes from
    * the snapshot — the Debezium/lakehouse tombstone contract. Returns
    * (key, last_event_id, last_cents, last_ms, n_versions, n_deletes).
    * Single keyed window shuffle. */
  def cdcApplyDeletes(df: DataFrame, key: String, id: String, time: String,
      value: String, isDelete: Column): DataFrame =
    graft.ops.Windows.cdcApplyDeletesCore(
        df.select(col(key).as("user_id"), col(id).as("event_id"),
          col(value).as("value"),
          graft.util.Canon.tsMs(col(time)).as("tsm"),
          when(isDelete, lit("D")).otherwise(lit("U")).as("op")))
      .withColumnRenamed("user_id", key)

  /** Population Stability Index between a reference and a current cohort
    * (`ref` boolean) of one frame, over caller-supplied `bucket` values —
    * the per-feature drift score with the industry 0.1 / 0.25 action
    * thresholds. Buckets empty on either side are excluded AND counted in
    * `n_dropped`. One scan + #buckets-ary agg. */
  def psiDrift(df: DataFrame, bucket: Column, ref: Column): DataFrame =
    graft.ops.Lifecycle.psiDriftCore(
      df.select(bucket.as("bucket"), ref.cast("boolean").as("is_ref")))

  /** Jensen–Shannon divergence between the `category` mixes of the `ref`
    * and non-ref cohorts — bounded [0, ln 2], symmetric, defined even for
    * one-sided categories. One scan + #categories-ary agg. */
  def jsDivergence(df: DataFrame, category: Column, ref: Column): DataFrame =
    graft.ops.Lifecycle.jsDivergenceCore(
      df.select(category.as("cat"), ref.cast("boolean").as("is_ref")))

  /** Cramér's V effect size of the association between two categorical
    * columns — the [0,1] normalization of [[chi2 independence]] that stays
    * meaningful when corpus size makes every dependence "significant". */
  def cramersV(df: DataFrame, a: String, b: String): DataFrame =
    graft.ops.Lifecycle.cramersVCore(df, a, b)

  /** Mann–Whitney U (Wilcoxon rank-sum) between the `cohort`=true and
    * =false rows of an integral metric — the nonparametric two-sample
    * drift test for heavy-tailed metrics where the t-test's normality
    * assumption fails. Returns one row of exact ×2-scaled rank integers
    * (n1, n2, u1x2, u2x2, tie_sum) plus the tie-corrected normal-approx z
    * (r4-rounded). Null metric rows must be filtered by the caller. */
  def mannWhitneyU(df: DataFrame, cohort: Column, value: Column): DataFrame =
    graft.ops.Lifecycle.mannWhitneyCore(
      df.select(cohort.cast("boolean").as("a"), value.as("v")), "a", "v")

  /** Spearman rank correlation between two integral per-row metrics, per
    * group key — the monotone-association audit (Pearson misses monotone-
    * but-nonlinear coupling). Returns (key, n, num, rho) where `num` is
    * the exact centered rank-moment numerator Σ(rx−(n+1))(ry−(n+1)) over
    * ×2-scaled average ranks (accumulated in DECIMAL(38,0), exact to
    * ~10^12-row groups) and rho its r4-rounded normalized value (null
    * when either metric is constant). */
  def spearmanCorr(df: DataFrame, key: String, x: String,
      y: String): DataFrame =
    graft.ops.Lifecycle.spearmanCore(df, key, x, y)

  /** Strict-majority vote across k boolean weak-labeler columns with
    * per-labeler agreement against the vote — the Snorkel-style label-
    * model baseline and the accuracy proxy that decides which signal to
    * drop. Returns one row per labeler (labeler, n, n_pos, n_agree,
    * agree_rate). */
  def labelVote(df: DataFrame, labelers: Seq[(String, Column)]): DataFrame =
    graft.ops.Lifecycle.labelVoteCore(
      df.select(labelers.map { case (n, c) => c.cast("boolean").as(n) }: _*),
      labelers.map(_._1))

  /** Train an IVFADC ANN index (residual product quantization behind an
    * inverted-file coarse quantizer — the train-once/serve-many similarity
    * path) over an (id: integral, embedding: array&lt;float&gt;) corpus.
    * The returned handle persists via [[AnnIndex.save]] and answers query
    * batches via [[AnnIndex.topk]]; reload later with [[annIndexLoad]].
    * None when the corpus is empty. */
  def annIndex(df: DataFrame, id: String = "vec_id",
      embedding: String = "embedding"): Option[AnnIndex] = {
    val e = df.select(col(id).cast("long").as("vec_id"),
      col(embedding).as("embedding"))
    graft.ops.TextDedup.ivfPqTrain(e).map(new AnnIndex(df.sparkSession, _))
  }

  /** Load an ANN index persisted by [[AnnIndex.save]] — bounded driver
    * traffic (the model is K centroids + M×K codewords regardless of the
    * corpus it was trained on). None if nothing is saved at `path`. */
  def annIndexLoad(s: SparkSession, path: String): Option[AnnIndex] =
    graft.ops.TextDedup.loadAnnIndex(s, path).map(new AnnIndex(s, _))
}

/** A trained (or loaded) IVFADC ANN index — see [[Graft.annIndex]]. */
final class AnnIndex private[api] (s: SparkSession,
    private val model: graft.ops.TextDedup.AnnIndexModel) {

  /** Persist as two tiny parquet tables (`path/centroids`, `path/codebooks`). */
  def save(path: String): Unit =
    graft.ops.TextDedup.saveAnnIndex(s, model, path)

  /** Top-k cosine neighbors in `corpus` for each row of the BOUNDED
    * `queries` batch (ADC builds one lookup table per query at the driver,
    * so the batch must be driver-sized; the corpus side streams through the
    * probed inverted lists only). Output: (qid, rank, vec_id, cos). */
  def topk(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      id: String = "vec_id", embedding: String = "embedding"): DataFrame = {
    def norm(df: DataFrame) = df.select(col(id).cast("long").as("vec_id"),
      col(embedding).as("embedding"))
    graft.ops.TextDedup.ivfPqQuery(s, norm(corpus), model, norm(queries), k)
  }
}

/** Column functions over the custom Catalyst surface. All resolve through
  * the session function registry, which [[graft.ext.GraftExtensions]]
  * fills in every session. */
object functions {

  /** Cosine similarity of two float-array columns (whole-stage-codegen
    * Expression, not a UDF). */
  def cosineSim(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** Mergeable HyperLogLog distinct-count aggregate (O(2^p) state). */
  def hllDistinct(c: Column): Column = call_function("graft_hll", c)

  /** EXACT mergeable distinct count for integral ids in [0, bound):
    * O(bound/8) bitset state, bitwise-OR merge — re-aggregates exactly
    * (daily → monthly actives). Use for bounded id spaces;
    * [[hllDistinct]] for open domains. Out-of-range values fail fast. */
  def bitmapDistinct(c: Column, bound: Int): Column =
    call_function("graft_bitmap_distinct", c, lit(bound))

  /** Misra–Gries heavy hitters: top frequent values with O(k) state.
    * The column must be integral (hash strings first if needed). */
  def heavyHitters(c: Column, k: Int): Column =
    call_function("graft_heavy_hitters", c, lit(k))

  /** KLL-style streaming quantile sketch (mergeable, O(k) state). */
  def kllQuantile(c: Column, q: Double, k: Int): Column =
    call_function("graft_kll_quantile", c, lit(q), lit(k))

  /** Bounded-heap k-smallest selection aggregate: folds to O(k) state
    * map-side — the scale-safe alternative to a global window rank. */
  def topkMin(payload: Column, orderKey: Column, k: Int): Column =
    call_function("graft_topk_min", payload, orderKey, lit(k))

  /** Generator: (pos, "tok_i tok_i+1") bigrams from a token array. */
  def bigrams(tokens: Column): Column = call_function("graft_bigrams", tokens)

  /** Count-Min point-frequency sketch over a non-negative integral key:
    * returns the flattened d×w counter table (Array[Long], row-major;
    * geometry in CatalystExt.CmsD/CmsW) — mergeable by vector add,
    * estimates never undercount. Look keys up with [[cmsEstimate]]. */
  def cmsSketch(key: Column): Column = call_function("graft_cms", key)

  /** Point-frequency estimate of `key` from a [[cmsSketch]] table:
    * least of the d row lookups. */
  def cmsEstimate(sketch: Column, key: Column): Column = {
    import graft.ext.CatalystExt.{CmsA, CmsB, CmsD, CmsP, CmsW}
    val lookups = (0 until CmsD).map { i =>
      val h = pmod(pmod(lit(CmsA(i)) * pmod(key, lit(CmsP)) + lit(CmsB(i)),
        lit(CmsP)), lit(CmsW.toLong))
      element_at(sketch, (lit(i * CmsW) + h + lit(1L)).cast("int"))
    }
    least(lookups: _*)
  }
}

object implicits {

  implicit class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {

    /** Backward as-of join via the native AsOfJoinExec (one exchange + sort
      * per side; no range explosion). For each probe row, the latest ref
      * row with ref.time <= probe.time on the same key. Ref columns are
      * suffixed where they collide with probe columns upstream — name them
      * distinctly for clarity. */
    def asofJoin(ref: DataFrame, key: String, time: String,
        refKey: String = null, refTime: String = null): DataFrame =
      graft.plans.AsOfJoin.join(df.sparkSession, df, ref,
        key, time, Option(refKey).getOrElse(key), Option(refTime).getOrElse(time))

    /** Exact deduplication: one surviving row per key group, chosen by the
      * smallest tie-break value. The window ordering is extended with every
      * remaining column, so the survivor is deterministic under any
      * partitioning even when tie-break values collide within a key group
      * (ADVICE r5 — row_number over a non-total order is partition-order-
      * dependent). Caveat: all non-key columns must be of orderable types
      * (maps are not). */
    def dedupExact(keys: Seq[String], tieBreak: String): DataFrame = {
      val rest = df.columns.filterNot(c => keys.contains(c) || c == tieBreak)
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(col(tieBreak).asc +: rest.map(col(_).asc): _*)
      df.withColumn("__graft_rn", row_number().over(w))
        .where(col("__graft_rn") === 1)
        .drop("__graft_rn")
    }

    /** Time-bucket resample: (key, time, value) → (key, bucket, value)
      * where `every` is a window duration like "1 hour". `how` selects the
      * aggregate: avg | sum | min | max | count. */
    def resample(key: String, time: String, value: String, every: String,
        how: String = "avg"): DataFrame = {
      val a = how match {
        case "avg" => avg(col(value))
        case "sum" => sum(col(value))
        case "min" => min(col(value))
        case "max" => max(col(value))
        case "count" => count(lit(1)).cast("double")
        case other => throw new IllegalArgumentException(s"how=$other")
      }
      df.groupBy(col(key), window(col(time), every))
        .agg(a.as(value))
        .select(col(key), col("window.start").as("bucket"), col(value))
    }

    /** Top k rows per group by `order` ascending (window rank — keeps the
      * rows themselves; for aggregate contexts where only the selection
      * matters, prefer [[functions.topkMin]], which never materializes a
      * full-group window partition). */
    def topkPerGroup(groups: Seq[String], order: Column, k: Int): DataFrame = {
      val w = Window.partitionBy(groups.map(col): _*).orderBy(order.asc)
      df.withColumn("__graft_rn", row_number().over(w))
        .where(col("__graft_rn") <= k)
        .drop("__graft_rn")
    }
  }
}
