package graft.ops

import graft.util.Canon._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-lifecycle operators — the audits a training-data platform runs
  * BETWEEN pipeline runs, when the corpus is a living artifact rather than
  * a one-shot batch (SURVEY §2.9's scale mandate, BASELINE.json:6):
  *
  *  - `pipeline_snapshot_diff`: generation-over-generation diff
  *    (added / removed / changed / unchanged per source) — the release
  *    audit run before promoting a new corpus snapshot.
  *  - `pipeline_incremental_agg`: partial-aggregate maintenance — merge a
  *    base rollup with a delta rollup and prove the merge equals a full
  *    recompute. At 100 TB this IS the ingestion path: you aggregate the
  *    new files and merge, you never rescan the corpus.
  *  - `agg_join_size_audit`: exact join-cardinality audit (Σ |L_k|·|R_k|
  *    over matching keys, max fan-out) — the pre-flight check before a
  *    petabyte join, and the ground truth a CBO's estimate is graded on.
  *  - `agg_rater_agreement`: Cohen's κ between two label sources — the
  *    label-noise audit for any weakly-supervised quality signal.
  *  - `agg_winsorize`: winsorized per-source moments with exact discrete
  *    p05/p95 cutpoints — robust stats that survive the heavy-tailed
  *    length distributions real corpora have.
  *  - `dedup_lsh_tuning`: MinHash banding design audit — for each
  *    (bands, rows) split of a fixed hash budget, the expected caught
  *    true/false near-dup mass under the S-curve P(s) = 1 − (1 − s^r)^b,
  *    evaluated on the EXACT pairwise-Jaccard distribution of a blocked
  *    candidate set. This is how b and r are chosen before a 100 TB
  *    dedup run, where a wrong split costs a full re-shuffle.
  *
  * Determinism contract (Canon rules): every cross-engine number is an
  * exact integer aggregate or a fixed-shape IEEE expression over exact
  * integers. The S-curve powers are explicit correctly-rounded multiply
  * chains (no `pow`, no `ln` — stronger than the accepted last-ulp
  * posture: bit-exact by IEEE 754 semantics alone).
  */
object Lifecycle {
  type Q = (SparkSession, String) => DataFrame
  import TextDedup.{normText, normSql, toks}

  // ------------------------------------------------------- snapshot diff
  /** Corpus release diff. The two generations are deterministic views of
    * the fixture (old = 80 % of ids with a ` [v1]` suffix on every 7th
    * doc; new = 90 % of ids, current text) so the oracle can replay them;
    * in production they are two parquet snapshot roots and the plan is
    * unchanged: one full-outer hash join on the document key, then an
    * O(#sources × 4) rollup. Change detection compares the text payload
    * directly (at 100 TB: compare xxhash64 digests instead — same join,
    * 8-byte shuffle payload; the fixture compares text so DuckDB can
    * replay without sharing a hash function). */
  /** Generic core: `old`/`nw` are (id, source, payload, weight) frames from
    * any two snapshot roots. */
  private[graft] def snapshotDiffCore(old: DataFrame, nw: DataFrame): DataFrame = {
    val o = old.select(col("id").as("o_id"), col("source").as("o_source"),
      col("payload").as("o_text"), col("weight").as("o_chars"))
    val n = nw.select(col("id").as("n_id"), col("source").as("n_source"),
      col("payload").as("n_text"), col("weight").as("nw_chars"))
    o.join(n, col("o_id") === col("n_id"), "full_outer")
      .select(coalesce(col("n_source"), col("o_source")).as("source"),
        when(col("o_id").isNull, lit("added"))
          .when(col("n_id").isNull, lit("removed"))
          // null-SAFE inequality: a payload changing to/from NULL is a real
          // change; plain =!= yields NULL there and would fall through to
          // "unchanged"
          .when(!(col("o_text") <=> col("n_text")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        coalesce(col("nw_chars"), col("o_chars")).as("chars"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("n_chars"))
      .orderBy("source", "status")
  }

  private val snapshotDiff: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
    val old = docs.where(col("doc_id") % 10 < 8)
      .select(col("doc_id").as("id"), col("source"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [v1]")))
          .otherwise(col("text")).as("payload"),
        col("n_chars").as("weight"))
    val nw = docs.where(col("doc_id") % 10 =!= 1)
      .select(col("doc_id").as("id"), col("source"),
        col("text").as("payload"), col("n_chars").as("weight"))
    snapshotDiffCore(old, nw)
  }

  // -------------------------------------------------- incremental rollup
  /** Merge-of-partials ≡ full-recompute, proven in-query: the per-(source,
    * lang) token rollup over a 70 % base plus a 30 % delta, re-aggregated,
    * full-outer-joined against the from-scratch rollup with a per-group
    * `matches_full` verdict. Counts and token sums are algebraic
    * aggregates, so the merge is exact — the property that makes
    * incremental ingestion safe. Scale shape: the corpus is scanned for
    * the partials only; the merge and the audit join run on #group-sized
    * frames. (The full recompute here exists to EMIT the proof; a
    * production run drops it and keeps the merge.) */
  private val incrementalAgg: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
      .withColumn("wc", size(toks(normText)).cast("long"))
    def rollup(df: DataFrame): DataFrame =
      df.groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("wc")).as("n_tokens"))
    val base = rollup(docs.where(col("doc_id") % 10 < 7))
    val delta = rollup(docs.where(col("doc_id") % 10 >= 7))
    val merged = base.unionByName(delta)
      .groupBy("source", "lang")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val full = rollup(docs)
      .select(col("source"), col("lang"),
        col("n_docs").as("f_docs"), col("n_tokens").as("f_tokens"))
    merged.join(full, Seq("source", "lang"), "full_outer")
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        (col("n_docs") === col("f_docs") &&
          col("n_tokens") === col("f_tokens")).as("matches_full"))
      .orderBy("source", "lang")
  }

  // ---------------------------------------------------- join-size audit
  /** Exact join-cardinality pre-flight for lineitem ⋈ orders on the order
    * key: per-side distinct-key counts, matching keys, the exact output
    * cardinality Σ cnt_l·cnt_o, and the worst single-key fan-out. Plan:
    * two partial-aggregated key-count rollups (shuffle ∝ distinct keys,
    * not rows) meeting in one equi-join, then a one-row agg — the same
    * audit at 100 TB touches each input once and shuffles only key
    * counts. This is the ground truth a cost model's estimate (and a
    * skew-salting decision) is checked against. The FULL OUTER join of
    * the two key-count frames yields every statistic in one pass — no
    * per-side recount scans. */
  /** Generic core: exact join-size audit of `left(k)` ⋈ `right(k)`.
    * NULL keys are excluded on both sides — they can never match in the
    * equi-join being audited, so counting them as distinct keys would
    * overstate the cardinalities the CBO comparison is graded on. */
  private[graft] def joinSizeAuditCore(left: DataFrame,
      right: DataFrame): DataFrame = {
    val l = left.where(col("k").isNotNull)
      .groupBy(col("k")).agg(count(lit(1)).as("cl"))
    val o = right.where(col("k").isNotNull)
      .groupBy(col("k")).agg(count(lit(1)).as("co"))
    l.join(o, Seq("k"), "full_outer")
      .agg(
        sum(when(col("cl").isNotNull, 1L).otherwise(0L)).as("n_left_keys"),
        sum(when(col("co").isNotNull, 1L).otherwise(0L)).as("n_right_keys"),
        sum(when(col("cl").isNotNull && col("co").isNotNull, 1L)
          .otherwise(0L)).as("n_match_keys"),
        coalesce(sum(col("cl") * col("co")), lit(0L)).as("join_rows"),
        max(col("cl") * col("co")).as("max_fanout"))
  }

  private val joinSizeAudit: Q = (s, d) =>
    joinSizeAuditCore(
      tbl(s, d, "lineitem").select(col("l_orderkey").as("k")),
      tbl(s, d, "orders").select(col("o_orderkey").as("k")))

  // -------------------------------------------------- rater agreement κ
  /** Cohen's κ between two deterministic binary quality raters (char-count
    * gate vs token-count gate). One corpus scan; the four confusion cells
    * are exact integer sums; κ is a fixed-shape IEEE expression over them
    * (observed agreement vs chance agreement), rounded once via r4. The
    * audit a labeling pipeline runs before trusting any weak supervision
    * source. */
  /** Generic core: κ between two boolean label columns (`ra`, `rb`).
    * Rows where EITHER label is NULL are excluded up front — otherwise n
    * would count them while the four confusion cells drop them, silently
    * deflating every probability in the κ formula. */
  private[graft] def raterAgreementCore(t: DataFrame): DataFrame =
    t.select(col("ra").cast("long").as("ra"), col("rb").cast("long").as("rb"))
      .where(col("ra").isNotNull && col("rb").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(col("ra") * col("rb")).as("n11"),
        sum(col("ra") * (lit(1) - col("rb"))).as("n10"),
        sum((lit(1) - col("ra")) * col("rb")).as("n01"),
        sum((lit(1) - col("ra")) * (lit(1) - col("rb"))).as("n00"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        r4({
          val n = col("n").cast("double")
          val po = (col("n11") + col("n00")).cast("double") / n
          val pa = (col("n11") + col("n10")).cast("double") / n
          val pb = (col("n11") + col("n01")).cast("double") / n
          val pe = pa * pb + (lit(1.0) - pa) * (lit(1.0) - pb)
          when(pe < 1.0, (po - pe) / (lit(1.0) - pe))
        }).as("kappa"))

  private val raterAgreement: Q = (s, d) =>
    raterAgreementCore(tbl(s, d, "documents").select(
      (col("n_chars") >= 240).as("ra"),
      (size(toks(normText)) >= 40).as("rb")))

  // ------------------------------------------------------- winsorization
  /** Winsorized per-source length stats. Cutpoints are EXACT discrete
    * order statistics (percentile_disc = the ceil(p·n)-th value — the
    * oracle replays that definition via row_number, not DuckDB's
    * quantile_disc, whose index rule differs on unlucky group sizes).
    * Plan: one grouped percentile pass producing an O(#sources) cutpoint
    * frame, broadcast back over the corpus scan for the clamped rollup —
    * two scans, no window over the full data. */
  /** Generic core over a (source, n_chars) frame. */
  private[graft] def winsorizeCore(docs: DataFrame): DataFrame = {
    // percentile_disc returns DOUBLE; the value is an exact order statistic
    // of a BIGINT column, so the cast back is lossless
    val cuts = docs.groupBy("source").agg(
      expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY n_chars)")
        .cast("long").as("lo"),
      expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)")
        .cast("long").as("hi"))
    docs.join(broadcast(cuts), Seq("source"))
      .select(col("source"), col("n_chars"), col("lo"), col("hi"),
        least(greatest(col("n_chars"), col("lo")), col("hi")).as("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        min(col("lo")).as("p05"), min(col("hi")).as("p95"),
        sum(col("w")).as("wsum"),
        sum((col("n_chars") < col("lo")).cast("long")).as("n_clip_lo"),
        sum((col("n_chars") > col("hi")).cast("long")).as("n_clip_hi"))
      .select(col("source"), col("n"), col("p05"), col("p95"),
        r4(col("wsum").cast("double") / col("n").cast("double"))
          .as("winsor_mean"),
        col("n_clip_lo"), col("n_clip_hi"))
      .orderBy("source")
  }

  private val winsorize: Q = (s, d) =>
    winsorizeCore(tbl(s, d, "documents").select("source", "n_chars"))

  // ------------------------------------------------------ LSH tuning
  /** Banding-parameter design audit for MinHash LSH: for each (b, r)
    * split of a 16-hash budget, the expected near-dup mass caught above
    * and below the 0.8 Jaccard threshold under P(s) = 1 − (1 − s^r)^b,
    * evaluated on the exact pairwise-similarity distribution of the
    * blocked candidate set (token equi-join — pairs with zero overlap
    * have P(0) = 0 and drop out of the sum by construction).
    *
    * Determinism: the S-curve is computed as explicit multiply chains
    * (s², s⁴, s⁸; v², …, v¹⁶) — every step is a correctly-rounded IEEE
    * multiply on identical operands, so Spark and DuckDB agree bit-for-
    * bit; each pair's probability is floored to a 1e9-scaled BIGINT
    * before summing, so aggregation order never matters. Scale shape:
    * candidates come from the same blocked join the dedup family uses
    * (never all-pairs); the 4-row config grid is a broadcast cross. */
  /** Generic core over a one-column similarity frame `sim(s: double)`. */
  private[graft] def lshTuningCore(sim: DataFrame): DataFrame = {
    val sess = sim.sparkSession
    import sess.implicits._
    val grid = Seq((2, 8), (4, 4), (8, 2), (16, 1)).toDF("b", "r")
    val sC = col("s")
    val vC = col("v")
    sim.crossJoin(broadcast(grid))
      .withColumn("sr",
        when(col("r") === 1, sC)
          .when(col("r") === 2, sC * sC)
          .when(col("r") === 4, (sC * sC) * (sC * sC))
          .otherwise(((sC * sC) * (sC * sC)) * ((sC * sC) * (sC * sC))))
      .withColumn("v", lit(1.0) - col("sr"))
      .withColumn("vb",
        when(col("b") === 2, vC * vC)
          .when(col("b") === 4, (vC * vC) * (vC * vC))
          .when(col("b") === 8, ((vC * vC) * (vC * vC)) * ((vC * vC) * (vC * vC)))
          .otherwise((((vC * vC) * (vC * vC)) * ((vC * vC) * (vC * vC))) *
            (((vC * vC) * (vC * vC)) * ((vC * vC) * (vC * vC)))))
      .withColumn("pe",
        floor((lit(1.0) - col("vb")) * 1000000000L + 0.5).cast("long"))
      .groupBy("b", "r")
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("s") >= 0.8, 1L).otherwise(0L)).as("n_true"),
        sum(when(col("s") >= 0.8, col("pe")).otherwise(0L))
          .as("exp_true_scaled"),
        sum(when(col("s") < 0.8, col("pe")).otherwise(0L))
          .as("exp_false_scaled"))
      .orderBy("b", "r")
  }

  private val lshTuning: Q = (s, d) => {
    val t = tbl(s, d, "documents").where(col("doc_id") < 60)
      .select(col("doc_id"), array_distinct(toks(normText)).as("st"))
    val tok = t.select(col("doc_id"), explode(col("st")).as("tok"))
    val pairs = tok.as("a")
      .join(tok.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    val sizes = t.select(col("doc_id"), size(col("st")).cast("long").as("n"))
    lshTuningCore(pairs
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .select((col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double")).as("s")))
  }

  // ------------------------------------------------- quota apportionment
  /** Largest-remainder (Hamilton) apportionment of a fixed sample budget
    * across sources proportional to their row counts — how an eval/sample
    * set is drawn from a multi-source corpus so that Σ alloc == budget
    * EXACTLY (naive rounding drifts by ±#sources). All arithmetic is
    * exact integers: base = ⌊B·n/T⌋ and the remainder rank uses the
    * un-divided B·n − base·T, so no float ever appears. The windows run
    * over the O(#sources) count frame (single-partition by construction —
    * the corpus-sized stage is only the per-source count rollup). */
  private[graft] def quotaSampleCore(docs: DataFrame, budget: Long): DataFrame = {
    val cnt = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val tot = cnt.agg(sum(col("n")).as("t"))
    val wRk = Window.orderBy(desc("rem"), asc("source"))
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cnt.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($budget * n) div t"))
      .withColumn("rem", expr(s"$budget * n - (($budget * n) div t) * t"))
      .withColumn("rk", row_number().over(wRk))
      .withColumn("sb", sum(col("base")).over(wAll))
      .select(col("source"), col("n").as("n_docs"),
        (col("base") + when(col("rk") <= lit(budget) - col("sb"), 1L)
          .otherwise(0L)).as("alloc"))
      .orderBy("source")
  }

  private val quotaSample: Q = (s, d) =>
    quotaSampleCore(tbl(s, d, "documents").select("source"), 1000L)

  // ------------------------------------------------------- k-anonymity
  /** k-anonymity audit over a quasi-identifier tuple: how many QI
    * equivalence classes are below k, and what share of rows they expose.
    * THE privacy gate run before releasing a training corpus with joined
    * metadata. One hash-agg over the QI key (shuffle ∝ distinct QI
    * tuples), then an O(#groups) rollup to a single row. */
  private[graft] def kAnonymityCore(qi: DataFrame, k: Int): DataFrame =
    qi.groupBy("q1", "q2", "q3").agg(count(lit(1)).as("cnt"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("cnt")).as("n_rows"),
        sum(when(col("cnt") < k, 1L).otherwise(0L)).as("n_violating_groups"),
        sum(when(col("cnt") < k, col("cnt")).otherwise(0L))
          .as("n_rows_at_risk"),
        min(col("cnt")).as("min_group"))
      .select(col("n_groups"), col("n_rows"), col("n_violating_groups"),
        col("n_rows_at_risk"), col("min_group"),
        r4(col("n_rows_at_risk").cast("double") /
          col("n_rows").cast("double")).as("risk_share"))

  private val kAnonymity: Q = (s, d) =>
    kAnonymityCore(tbl(s, d, "documents").select(col("lang").as("q1"),
      col("source").as("q2"), expr("n_chars div 100").as("q3")), 5)

  // ----------------------------------------------------- Benford audit
  /** First-significant-digit (Benford) distribution of order totals — the
    * classic fabricated-vs-organic numeric-data forensic. The digit is
    * extracted STRING-wise from the exact cent total (substring of a
    * BIGINT's decimal representation — no log10, no float), so both
    * engines bucket identically; shares divide two exact integers once.
    * One scan, one 9-ary hash agg, a broadcast one-row total. */
  /** Generic core over a one-column (v: positive BIGINT) frame. */
  private[graft] def benfordCore(vals: DataFrame): DataFrame = {
    val c = vals.where(col("v") > 0)
      .select(substring(col("v").cast("string"), 1, 1).as("digit"))
    val grouped = c.groupBy("digit").agg(count(lit(1)).as("n"))
    // total = sum over the 9-row digit frame, NOT a second corpus count —
    // the totals branch reuses the digit-agg exchange (one scan; the
    // chi2 single-scan pattern, round 9)
    val tot = grouped.agg(sum(col("n")).as("total"))
    grouped
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        r4(col("n").cast("double") / col("total").cast("double"))
          .as("share"))
      .orderBy("digit")
  }

  private val benfordAudit: Q = (s, d) =>
    benfordCore(tbl(s, d, "orders")
      .select(cents(col("o_totalprice")).as("v")))

  // --------------------------------------------------- column profiler
  /** Relational data-profiling report — per audited column: distinct
    * count, null count, and the modal value with its frequency (ties to
    * the smallest value, stringified so one schema fits every column).
    * The table-side dataset card next to pipeline_dataset_card's corpus
    * one. Exact profile = one hash-agg per column over a shared pruned
    * scan; the 100 TB variant swaps in approx_count_distinct / sketched
    * heavy-hitters in ONE pass (agg_approx_distinct / agg_heavy_hitters
    * are those operators) — this op is the exact ground truth they are
    * graded against. */
  private[graft] def profileCore(o: DataFrame, cols: Seq[String]): DataFrame = {
    val parts = cols.map { c =>
      val vals = o.select(col(c).cast("string").as("v"))
      val stats = vals.agg(count(lit(1)).as("n_rows"),
        countDistinct(col("v")).as("n_distinct"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"))
      val top = vals.where(col("v").isNotNull)
        .groupBy("v").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("v")).limit(1)
        .select(col("v").as("top_value"), col("cnt").as("top_n"))
      // LEFT join, not cross: an all-NULL column has an EMPTY top frame,
      // and a cross join would annihilate the stats row — dropping exactly
      // the column (broken ingestion) a profiler most needs to surface
      stats.join(broadcast(top), lit(true), "left")
        .select(lit(c).as("col_name"),
          col("n_rows"), col("n_distinct"), col("n_null"), col("top_value"),
          col("top_n"))
    }
    parts.reduce(_ unionByName _).orderBy("col_name")
  }

  private val profileColumns: Q = (s, d) =>
    profileCore(tbl(s, d, "orders"),
      Seq("o_orderstatus", "o_orderpriority", "o_orderkey", "o_custkey"))

  // ------------------------------------------------------- Theil index
  /** Theil T inequality of the per-document length mass within each
    * source — the third leg of the balance-audit trio (Gini concentration
    * and Shannon evenness are the other two; Theil is the one that
    * DECOMPOSES additively across subgroups, which is why corpus audits
    * report it). T = (Σ x·ln x)/S − ln(S/n), computed with per-row ln as
    * 1e6-scaled integers so the cross-row sum is exact; the two global ln
    * terms apply once per group (`Canon.ln6`, `Canon.dec38`). One scan +
    * #sources-ary agg. Generic core over a (source, x: positive BIGINT
    * mass) frame. */
  private[graft] def theilCore(t: DataFrame): DataFrame =
    t.where(col("x") > 0)
      .withColumn("xl", dec38(col("x")) * ln6(col("x")))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("xl")).as("sxl"))
      .select(col("source"), col("n"), col("sx").as("total_chars"),
        r4(col("sxl").cast("double") / col("sx").cast("double") / 1e6
          - (ln6(col("sx")) - ln6(col("n"))).cast("double") / 1e6)
          .as("theil"))
      .orderBy("source")

  private val theilIndex: Q = (s, d) =>
    theilCore(tbl(s, d, "documents")
      .select(col("source"), col("n_chars").cast("long").as("x")))

  // ------------------------------------------------- PSI drift audit
  /** Population Stability Index between two corpus generations' length
    * distributions — THE tabular-drift score model-risk teams track
    * per-feature between refreshes (KS answers "did it shift?"; PSI
    * scores BY HOW MUCH, additively per bucket, with the industry 0.1 /
    * 0.25 action thresholds). Fixture generations are the doc_id parity
    * halves; buckets are fixed-width (n_chars div 100, clamped to 10 —
    * production swaps in reference-quantile cutpoints via the winsorize
    * percentile machinery, same plan). Each bucket's (p−q)·ln(p/q) term
    * is an EXACT integer numerator (nr·Tc − nc·Tr) times a 1e6-scaled
    * ln of an exact-integer ratio; the cross-row sum is exact and the
    * two divisions apply once. Buckets empty on either side (ln
    * undefined) are excluded and REPORTED — silent drops would hide
    * exactly the novel-mass signal PSI exists to catch. One scan, one
    * 10-ary agg, one one-row rollup. Headroom: |term| ≤ n²·|ln ratio|·1e6
    * ≈ 1e17 at sf1000 — past that, scale counts to thousands (the same
    * documented swap as chi²). */
  private[graft] def psiDriftCore(b: DataFrame): DataFrame = {
    // b: (bucket, is_ref) one row per document
    val c = b.groupBy("bucket").agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("nr"),
      sum(when(!col("is_ref"), 1L).otherwise(0L)).as("nc"))
    val t = c.agg(sum(col("nr")).as("tr"), sum(col("nc")).as("tc"),
      sum(when(col("nr") === 0 || col("nc") === 0, 1L).otherwise(0L))
        .as("n_dropped"))
    // one-sided buckets contribute a zero term but are NOT filtered out of
    // the rollup: a fully-disjoint pair of cohorts must still produce the
    // audit row (n_buckets = 0, psi = NULL, n_dropped = k) — an empty
    // frame would hide exactly the total-drift case the score exists for
    val used = col("nr") > 0 && col("nc") > 0
    c.crossJoin(broadcast(t))
      .select(col("tr"), col("tc"), col("n_dropped"),
        when(used, (dec38(col("nr")) * col("tc") - dec38(col("nc")) * col("tr")) *
          ln6((dec38(col("nr")) * col("tc")).cast("double") /
            (dec38(col("nc")) * col("tr")).cast("double")))
          .otherwise(lit(0L)).as("term"),
        when(used, 1L).otherwise(0L).as("u"))
      .groupBy("tr", "tc", "n_dropped")
      .agg(sum(col("u")).as("n_buckets"), sum(col("term")).as("s"))
      .select(col("tr").as("n_ref"), col("tc").as("n_cur"),
        col("n_buckets"), col("n_dropped"),
        when(col("n_buckets") > 0,
          r4(col("s").cast("double") /
            (dec38(col("tr")) * col("tc")).cast("double") / 1e6)).as("psi"))
  }

  private val psiDrift: Q = (s, d) =>
    psiDriftCore(tbl(s, d, "documents").select(
      least(expr("n_chars div 100"), lit(9L)).as("bucket"),
      (col("doc_id") % 2 === 0).as("is_ref")))

  /** PSI over REFERENCE-decile buckets — the production PSI shape (the
    * fixed-width variant above documents the decile swap; this op IS that
    * swap): cutpoints are the exact discrete deciles of the reference
    * cohort (percentile_disc = the ceil(p·n)-th order statistic, replayed
    * by row_number in the oracle — the winsorize precedent), the bucket
    * of a row is how many cutpoints it exceeds (0..9), and the cutpoint
    * frame is ONE broadcast row — the corpus is never sorted or windowed.
    * Same exact-integer PSI fold as psiDriftCore. */
  private val psiDriftQuantile: Q = (s, d) => {
    val docs = tbl(s, d, "documents").select(
      col("n_chars").cast("long").as("x"),
      (col("doc_id") % 2 === 0).as("is_ref"))
    val cutExprs = (1 to 9).map(i =>
      expr(s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY x)")
        .cast("long").as(s"c$i"))
    val cuts = docs.where(col("is_ref")).agg(cutExprs.head, cutExprs.tail: _*)
    psiDriftCore(docs.crossJoin(broadcast(cuts))
      .select((1 to 9).map(i => (col("x") > col(s"c$i")).cast("long"))
        .reduce(_ + _).as("bucket"), col("is_ref")))
  }

  // --------------------------------------------- Jensen–Shannon drift
  /** Jensen–Shannon divergence between the categorical (lang) mixes of
    * two corpus generations — the bounded, symmetric companion to PSI
    * (JSD ∈ [0, ln 2]; defined even when a category exists on only one
    * side, exactly where PSI's buckets drop out). JSD = H(m) − (H(p) +
    * H(q))/2 with m the midpoint mix. All three entropies fold as exact
    * integer sums of count·ln6(exact-integer ratio): m's numerator is
    * a·B + b·A over the common denominator 2AB, so no per-row division
    * ever crosses engines. One scan, #langs-ary agg, one-row rollup. */
  private[graft] def jsDivergenceCore(f: DataFrame): DataFrame = {
    // f: (cat, is_ref) one row per document
    val c = f.groupBy("cat").agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("a"),
      sum(when(!col("is_ref"), 1L).otherwise(0L)).as("b"))
    val t = c.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    c.crossJoin(broadcast(t))
      .select(col("ta"), col("tb"),
        when(col("a") > 0,
          dec38(col("a")) *
            ln6(col("a").cast("double") / col("ta").cast("double")))
          .otherwise(0L).as("sp"),
        when(col("b") > 0,
          dec38(col("b")) *
            ln6(col("b").cast("double") / col("tb").cast("double")))
          .otherwise(0L).as("sq"),
        ((dec38(col("a")) * col("tb") + dec38(col("b")) * col("ta")) *
          ln6((dec38(col("a")) * col("tb") + dec38(col("b")) * col("ta"))
              .cast("double") /
            (lit(2L) * dec38(col("ta")) * col("tb")).cast("double"))).as("sm"))
      .groupBy("ta", "tb")
      .agg(count(lit(1)).as("k"), sum(col("sp")).as("sp"),
        sum(col("sq")).as("sq"), sum(col("sm")).as("sm"))
      .select(col("ta").as("n_ref"), col("tb").as("n_cur"),
        col("k").as("k_categories"),
        r4(
          (-col("sm").cast("double") /
            (lit(2L) * dec38(col("ta")) * col("tb")).cast("double") / 1e6) -
          ((-col("sp").cast("double") / col("ta").cast("double") / 1e6) +
            (-col("sq").cast("double") / col("tb").cast("double") / 1e6))
            / 2.0).as("jsd"))
  }

  private val jsDivergence: Q = (s, d) =>
    jsDivergenceCore(tbl(s, d, "documents").select(
      col("lang").as("cat"), (col("doc_id") % 2 === 0).as("is_ref")))

  // ------------------------------------------------------- Cramér's V
  /** Cramér's V over the lang × source contingency — the [0,1]-normalized
    * effect size on top of agg_chi2_independence's raw χ² (a huge corpus
    * makes ANY dependence "significant"; V says whether it is LARGE).
    * V = sqrt(χ² / (n·min(r−1, c−1))). Reuses the χ² core's exact
    * 1e6-scaled integer sum; the one division and sqrt are a fixed IEEE
    * shape over exact integers — bit-exact cross-engine, no ln. */
  private[graft] def cramersVCore(facts: DataFrame, a: String,
      b: String): DataFrame = {
    val chi = Relational.chi2IndependenceCore(facts, a, b)
    // built over the IDENTICAL cell-rollup subtree as the chi2 core's obs
    // frame, so ReuseExchange collapses the two and the corpus is scanned
    // once for the whole statistic (a bare facts.agg(countDistinct…) would
    // be a second full pass)
    val dims = facts.select(col(a).as("lang"), col(b).as("source"))
      .where(col("lang").isNotNull && col("source").isNotNull)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      .agg(countDistinct(col("lang")).as("ra"),
        countDistinct(col("source")).as("cb"))
    chi.crossJoin(broadcast(dims))
      .select(col("n_docs"), col("dof"),
        least(col("ra") - 1, col("cb") - 1).as("min_dim"),
        r4(sqrt((col("chi2_scaled").cast("double") / 1e6) /
          (col("n_docs") * least(col("ra") - 1, col("cb") - 1))
            .cast("double"))).as("cramers_v"))
  }

  private val cramersV: Q = (s, d) =>
    cramersVCore(tbl(s, d, "documents"), "lang", "source")

  // -------------------------------------------- incremental join proof
  /** Incremental JOIN maintenance proven in-query — the join-side
    * companion to pipeline_incremental_agg: a materialized fact⋈dim
    * rollup updated by joining ONLY the delta fact rows (the dim side is
    * static) must equal the from-scratch join. Inner equi-join distributes
    * over union (each fact row joins independently), so the merge is
    * exact — the property that lets a 100 TB fact table's join rollup
    * absorb a day's delta without re-shuffling the base. The delta join
    * shuffles delta-sized data only; the audit compare is O(#statuses). */
  private val incrementalJoin: Q = (s, d) => {
    val li = tbl(s, d, "lineitem")
      .select(col("l_orderkey"), cents(col("l_extendedprice")).as("c"))
    val ord = tbl(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"))
    def roll(f: DataFrame): DataFrame =
      f.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum(col("c")).as("cents"))
    val base = roll(li.where(col("l_orderkey") % 10 < 7))
    val delta = roll(li.where(col("l_orderkey") % 10 >= 7))
    val merged = base.unionByName(delta)
      .groupBy("o_orderstatus")
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("cents")).as("cents"))
    val full = roll(li)
      .select(col("o_orderstatus"), col("n_rows").as("f_rows"),
        col("cents").as("f_cents"))
    merged.join(full, Seq("o_orderstatus"), "full_outer")
      .select(col("o_orderstatus"), col("n_rows"),
        (col("cents") / 100.0).as("revenue"),
        (col("n_rows") === col("f_rows") &&
          col("cents") === col("f_cents")).as("matches_full"))
      .orderBy("o_orderstatus")
  }

  // ------------------------------------------------ weak-label voting
  /** Majority-vote label resolution across three deterministic weak
    * labelers (length ≥ 240 chars; ≥ 40 tokens; type-token ratio ≥ 0.5)
    * with per-labeler agreement against the vote — the Snorkel-style
    * label-model baseline a weak-supervision pipeline starts from, and
    * the per-labeler accuracy proxy that decides which signal to drop.
    * All three labels and the vote are map-side expressions over one
    * scan; the unpivot triples the rows BEFORE a 3-ary agg (no shuffle
    * of the corpus — the stack output feeds partial aggregation). TTR
    * compares 2·distinct ≥ total in exact integers, no division. */
  /** Generic core: `f` carries one boolean column per labeler (named by
    * `names`); the vote is a strict majority of the k labelers. */
  private[graft] def labelVoteCore(f: DataFrame,
      names: Seq[String]): DataFrame = {
    require(names.nonEmpty, "at least one labeler")
    // A NULL flag (a labeler abstaining on a NULL input) is coalesced to
    // false BEFORE voting — otherwise NULL propagates through cast(int)
    // into the vote and n_agree while an oracle's CASE WHEN treats the
    // abstention as a no-vote (the r9-ADVICE divergence class fixed for
    // agg_rater_agreement in round 8; the oracle mirrors this coalesce)
    val g = names.foldLeft(f)((df, n) =>
      df.withColumn(n, coalesce(col(n), lit(false))))
    val voted = g.withColumn("vote",
      names.map(n => col(n).cast("int")).reduce(_ + _) >= names.size / 2 + 1)
    val stackArgs = names
      .map(n => s"'$n', `$n`").mkString(", ")
    voted.select(
        expr(s"stack(${names.size}, $stackArgs) AS (labeler, flag)"),
        col("vote"))
      .groupBy("labeler")
      .agg(count(lit(1)).as("n"),
        sum(col("flag").cast("long")).as("n_pos"),
        sum((col("flag") === col("vote")).cast("long")).as("n_agree"))
      .select(col("labeler"), col("n"), col("n_pos"), col("n_agree"),
        r4(col("n_agree").cast("double") / col("n").cast("double"))
          .as("agree_rate"))
      .orderBy("labeler")
  }

  private val labelVote: Q = (s, d) =>
    labelVoteCore(
      tbl(s, d, "documents")
        .select(col("n_chars"), toks(normText).as("tk"))
        .select((col("n_chars") >= 240).as("len_240"),
          (size(col("tk")) >= 40).as("tok_40"),
          (size(array_distinct(col("tk"))).cast("long") * 2 >=
            size(col("tk")).cast("long")).as("ttr_50")),
      Seq("len_240", "tok_40", "ttr_50"))

  /** Mann–Whitney U (Wilcoxon rank-sum) between two document cohorts
    * (lang en vs fr, metric n_chars) — the NONPARAMETRIC drift test the
    * PSI/KS/t-test tier lacks: distribution-free, rank-based, robust to
    * the heavy-tailed length distributions real corpora have. All rank
    * arithmetic is exact: average ranks for ties carry a ×2 scale
    * (tie group at positions [cum−nt+1, cum] → 2·avg = 2·cum − nt + 1),
    * so rank sums, U×2 values and the tie-correction term Σ(t³−t) are
    * BIGINTs the oracle replays bit-exactly; only the final normal-approx
    * z is a float, built from those exact integers with the identical
    * expression shape on both engines (IEEE sqrt/div are correctly
    * rounded — the [[graft.util.Canon]] single-op rule, chained) and
    * r4-rounded. Scale shape: one grouped pass to the VALUE-DOMAIN frame
    * (never a corpus-wide rank window), a distributed prefix sum over it
    * ([[graft.util.Canon.chunkedCumSum]]), one scalar fold. BIGINT bound:
    * Σ(t³−t) stays exact while no single value ties > 2^21 rows; a
    * 100 TB deployment with heavier ties would move tie_sum to double. */
  private[graft] def mannWhitneyCore(t0: DataFrame, aCol: String,
      vCol: String): DataFrame = {
    val t = t0.select(col(aCol).as("a"), col(vCol).cast("long").as("v"))
    val g = t.groupBy(col("v")).agg(
      sum(when(col("a"), 1L).otherwise(0L)).as("na"),
      count(lit(1)).as("nt"))
    val c = chunkedCumSum(g, Seq(), "v", "nt", "cum")
    c.agg(
        sum(col("na")).as("n1"),
        sum(col("nt") - col("na")).as("n2"),
        sum(dec38(col("na")) * (lit(2L) * col("cum") - col("nt") + 1))
          .cast("long").as("r1x2"),
        // tie term in DECIMAL(38,0): t³ overflows BIGINT once a single
        // value ties ≳2^21 rows (a small-domain metric at corpus scale
        // hits that); exact 128-bit sums cost nothing here and the emit
        // narrows back to BIGINT at audit scales
        sum({ val ntd = col("nt").cast("decimal(12,0)")
              ntd * ntd * ntd - ntd }).cast("long").as("tie_sum"))
      .withColumn("u1x2", col("r1x2") - col("n1") * (col("n1") + 1))
      .withColumn("u2x2", lit(2L) * col("n1") * col("n2") - col("u1x2"))
      .withColumn("n", col("n1") + col("n2"))
      .withColumn("z", when(col("n1") > 0 && col("n2") > 0 && col("n") > 1,
        r4((col("u1x2") - col("n1") * col("n2")).cast("double") /
          (lit(2.0) * sqrt(
            col("n1").cast("double") * col("n2").cast("double") *
              ((col("n") + 1).cast("double") -
                col("tie_sum").cast("double") /
                  (col("n").cast("double") * (col("n") - 1).cast("double"))) /
              lit(12.0))))))
      .select("n1", "n2", "u1x2", "u2x2", "tie_sum", "z")
  }

  private val mannWhitneyU: Q = (s, d) =>
    mannWhitneyCore(
      tbl(s, d, "documents")
        .where(col("lang").isin("en", "fr") && col("n_chars").isNotNull)
        .withColumn("a", col("lang") === "en"),
      "a", "n_chars")

  /** Spearman rank correlation between two per-doc metrics (n_chars vs
    * token count) per language — the monotone-association audit
    * (ts_rolling_corr's Pearson misses monotone-but-nonlinear coupling).
    * Same exact-rank machinery as [[mannWhitneyU]]: per-variable average
    * ranks ×2 from a value-domain grouped frame + distributed prefix sum,
    * joined back on the value (value-domain-sized equi joins, never a
    * per-lang rank window — the one-task-per-key shape round 10c
    * retired), then one grouped fold of CENTERED rank moments in
    * DECIMAL(38,0) (see the inline note — raw n·Σxy moments grow as n⁴
    * and overflowed BIGINT in the ×64 corpus probe). The ×2 rank scale
    * cancels in ρ; `num` = Σ(rx−(n+1))(ry−(n+1)) is emitted as the exact
    * replayable centered numerator, ρ as its r4-rounded quotient
    * (variance factors cast to double BEFORE multiplying — the
    * documented variance-product rule). */
  private[graft] def spearmanCore(t0: DataFrame, keyCol: String,
      xCol: String, yCol: String): DataFrame = {
    // ONE evaluation of the (possibly expensive — the registry query's y
    // is a regex tokenization) metric projection: the narrow (key, x, y)
    // slice feeds FIVE plan branches (two rank frames, the group sizes,
    // the join spine, the route probes), each of which would otherwise
    // re-derive it. Measured at the ×64 corpus probe: 14.9 → 2.5 s.
    val t = t0.select(col(keyCol).as("lang"), col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
      .localCheckpoint(true)
    def ranks(v: String, out: String) = {
      val g = t.groupBy(col("lang"), col(v)).agg(count(lit(1)).as("nt"))
      chunkedCumSum(g, Seq("lang"), v, "nt", "cum")
        .select(col("lang"), col(v),
          (lit(2L) * col("cum") - col("nt") + 1).as(out))
    }
    // CENTERED deviations (dx = rx2 − (n+1); the ×2 rank mean is n+1),
    // accumulated as DECIMAL(38,0): exact 128-bit integer sums, associative
    // and partition-invariant like BIGINT, but the Σdx·dy ≤ n³ moments
    // survive group sizes to ~10^12 rows where raw moments (n·Σxy grows as
    // n⁴) overflow BIGINT at n ≈ 55k — found by the ×64 corpus probe, which
    // died on [ARITHMETIC_OVERFLOW] in ANSI mode. d18 × d18 → d37 products
    // lose nothing; only the emitted `num` narrows back to BIGINT (|Σdx·dy|
    // < 2^63 holds to n ≈ 2·10⁶ per group — the documented audit-emit
    // bound; rho stays exact far beyond it).
    val nPer = t.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val r = t.join(ranks("x", "rx"), Seq("lang", "x"))
      .join(ranks("y", "ry"), Seq("lang", "y"))
      .join(broadcast(nPer), Seq("lang"))
      .withColumn("dx", (col("rx") - col("n") - 1).cast("decimal(18,0)"))
      .withColumn("dy", (col("ry") - col("n") - 1).cast("decimal(18,0)"))
    r.groupBy(col("lang"))
      .agg(max(col("n")).as("n"),
        sum(col("dx") * col("dy")).as("cnum"),
        sum(col("dx") * col("dx")).as("d1"),
        sum(col("dy") * col("dy")).as("d2"))
      .withColumn("num", col("cnum").cast("long"))
      .withColumn("rho", when(col("d1") > 0 && col("d2") > 0,
        r4(col("cnum").cast("double") /
          sqrt(col("d1").cast("double") * col("d2").cast("double")))))
      .select("lang", "n", "num", "rho")
      .orderBy("lang")
      .withColumnRenamed("lang", keyCol)
  }

  private val spearmanCorr: Q = (s, d) =>
    spearmanCore(
      tbl(s, d, "documents")
        .select(col("lang"), col("n_chars"),
          size(toks(normText)).cast("long").as("tok")),
      "lang", "n_chars", "tok")

  /** Declarative data-quality CONSTRAINT AUDIT (the Deequ/great-expectations
    * pattern re-expressed Spark-first): a fixed suite of completeness,
    * uniqueness, set-membership, range, and referential-integrity
    * constraints evaluated over the warehouse tables, one audit row per
    * constraint — `(constraint, n_checked, n_violations, pass)`. This is
    * the gate a production platform runs before promoting a snapshot: the
    * whole suite is exact integer counting, so DuckDB replays every row.
    *
    * Scale shape: ONE aggregate pass per table computes all of that
    * table's row-local constraints (the `stack` projection fans the
    * single-row aggregate into per-constraint rows — no re-scan per
    * constraint), and each referential constraint is one left-anti
    * equi-join counted with a partial agg — the honest shuffle shape for
    * fact→fact key containment at 100 TB (AQE picks broadcast when a side
    * fits). Nothing corpus-sized converges to the driver; the audit output
    * is O(#constraints) rows. */
  private val constraintAudit: Q = (s, d) =>
    constraintAuditCore(tbl(s, d, "lineitem"), tbl(s, d, "orders"),
      tbl(s, d, "customer"))

  private[graft] def constraintAuditCore(li: DataFrame, ord: DataFrame,
      cust: DataFrame): DataFrame = {
    // coalesce: sum() over an EMPTY table is NULL on both engines — an
    // empty corpus must audit as 0 violations / pass, not NULL
    val viol = (c: org.apache.spark.sql.Column) =>
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    // lineitem row-local constraints: one scan, one agg, stacked out
    val liRows = li.agg(
        count(lit(1)).as("n"),
        viol(!(col("l_quantity") >= 1 && col("l_quantity") <= 50))
          .as("v_qty"),
        viol(!(floor(col("l_discount") * 100 + 0.5) >= 0 &&
               floor(col("l_discount") * 100 + 0.5) <= 10)).as("v_disc"),
        viol(!(col("l_extendedprice") > 0)).as("v_price"),
        viol(col("l_shipdate").isNull).as("v_ship"))
      .selectExpr("""stack(4,
        'lineitem_quantity_1_50', n, v_qty,
        'lineitem_discount_0_10pct', n, v_disc,
        'lineitem_extendedprice_positive', n, v_price,
        'lineitem_shipdate_complete', n, v_ship)
        AS (constraint, n_checked, n_violations)""")
    // orders row-local constraints (uniqueness via n - distinct keys)
    val ordRows = ord.agg(
        count(lit(1)).as("n"),
        viol(col("o_custkey").isNull).as("v_cust"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_uniq"),
        viol(!col("o_orderstatus").isin("O", "F", "P")).as("v_status"),
        viol(!(col("o_totalprice") > 0)).as("v_total"))
      .selectExpr("""stack(4,
        'orders_custkey_complete', n, v_cust,
        'orders_orderkey_unique', n, v_uniq,
        'orders_status_in_OFP', n, v_status,
        'orders_totalprice_positive', n, v_total)
        AS (constraint, n_checked, n_violations)""")
    // referential integrity: left-anti count / total count per edge
    def refRow(name: String, from: DataFrame, fk: String,
        to: DataFrame, pk: String): DataFrame = {
      val nTot = from.agg(count(lit(1)).as("n_checked"))
      val nBad = from.select(col(fk))
        .join(to.select(col(pk)), col(fk) === col(pk), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      nTot.crossJoin(broadcast(nBad))
        .select(lit(name).as("constraint"), col("n_checked"),
          col("n_violations"))
    }
    liRows.unionByName(ordRows)
      .unionByName(refRow("lineitem_orderkey_in_orders",
        li, "l_orderkey", ord, "o_orderkey"))
      .unionByName(refRow("orders_custkey_in_customer",
        ord, "o_custkey", cust, "c_custkey"))
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy("constraint")
  }

  // ---------------------------------------------------------- registry
  /** In-flight pipeline metrics via `DataFrame.observe` (CollectMetrics —
    * Spark's observability hook): the ingest gate's health counters ride
    * ON the gating pass itself, computed by the SAME scan that filters
    * (one CollectMetricsExec node in the plan — at 100 TB this is the
    * difference between monitoring for free and paying a second full
    * scan for a metrics query). The emitted rows are the observation's
    * exact integer counters plus the downstream kept-count; DuckDB
    * replays them as plain aggregates. */
  private val pipelineObserveMetrics: Q = (s, d) => {
    val obs = org.apache.spark.sql.Observation(s"gate_${d.hashCode}_" +
      System.nanoTime()) // names are once-per-session; queries re-run
    val gated = tbl(s, d, "events")
      .observe(obs,
        count(lit(1)).as("n_rows"),
        coalesce(sum(when(col("user_id").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_null_user"),
        coalesce(sum(when(!(col("value") > 0), 1L).otherwise(0L)), lit(0L))
          .as("n_bad_value"),
        coalesce(sum(cents(col("value"))), lit(0L)).as("cents_sum"))
      .where(col("value") > 0)
    val nKept = gated.count() // the one action: gate + metrics, one scan
    val m = obs.get
    import s.implicits._
    (Seq(
      ("cents_sum", m("cents_sum").asInstanceOf[Long]),
      ("n_bad_value", m("n_bad_value").asInstanceOf[Long]),
      ("n_kept", nKept),
      ("n_null_user", m("n_null_user").asInstanceOf[Long]),
      ("n_rows", m("n_rows").asInstanceOf[Long])))
      .toDF("metric", "value").orderBy("metric")
  }

  val queries: Map[String, Q] = Map(
    "pipeline_observe_metrics" -> pipelineObserveMetrics,
    "pipeline_constraint_audit" -> constraintAudit,
    "agg_mannwhitney_u" -> mannWhitneyU,
    "agg_spearman_corr" -> spearmanCorr,
    "pipeline_snapshot_diff" -> snapshotDiff,
    "pipeline_incremental_agg" -> incrementalAgg,
    "agg_join_size_audit" -> joinSizeAudit,
    "agg_rater_agreement" -> raterAgreement,
    "agg_winsorize" -> winsorize,
    "dedup_lsh_tuning" -> lshTuning,
    "pipeline_quota_sample" -> quotaSample,
    "agg_k_anonymity" -> kAnonymity,
    "agg_benford_audit" -> benfordAudit,
    "pipeline_profile_columns" -> profileColumns,
    "agg_theil_inequality" -> theilIndex,
    "agg_psi_drift" -> psiDrift,
    "agg_psi_drift_quantile" -> psiDriftQuantile,
    "agg_js_divergence" -> jsDivergence,
    "agg_cramers_v" -> cramersV,
    "pipeline_incremental_join" -> incrementalJoin,
    "pipeline_label_vote" -> labelVote,
  )

  private val r4Sql = (x: String) => s"floor(($x)*10000 + 0.5)/10000.0"

  /** Shared PSI replay: `pre` contributes extra leading CTEs (the decile
    * variant's cutpoint derivation), `bucketSel` yields (bucket, is_ref)
    * rows; the fold mirrors psiDriftCore's exact-integer terms. */
  private def psiOracle(pre: String, bucketSel: String): String =
    s"""WITH $pre b AS ($bucketSel),
          c AS (SELECT bucket,
                       CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END)
                            AS BIGINT) AS nr,
                       CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)
                            AS BIGINT) AS nc
                FROM b GROUP BY 1),
          t AS (SELECT CAST(sum(nr) AS BIGINT) AS tr,
                       CAST(sum(nc) AS BIGINT) AS tc,
                       CAST(sum(CASE WHEN nr = 0 OR nc = 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_dropped
                FROM c),
          terms AS (
            SELECT t.tr, t.tc, t.n_dropped,
                   CASE WHEN c.nr > 0 AND c.nc > 0 THEN
                     (c.nr * t.tc - c.nc * t.tr) *
                     CAST(floor(ln(CAST(c.nr * t.tc AS DOUBLE)
                                   / CAST(c.nc * t.tr AS DOUBLE)) * 1000000
                                + 0.5) AS BIGINT)
                   ELSE 0 END AS term,
                   CASE WHEN c.nr > 0 AND c.nc > 0 THEN 1 ELSE 0 END AS u
            FROM c, t)
          SELECT max(tr) AS n_ref, max(tc) AS n_cur,
                 CAST(sum(u) AS BIGINT) AS n_buckets,
                 max(n_dropped) AS n_dropped,
                 CASE WHEN sum(u) > 0 THEN
                   ${r4Sql("""CAST(sum(term) AS DOUBLE)
                     / CAST(max(tr) * max(tc) AS DOUBLE) / 1000000.0""")}
                 END AS psi
          FROM terms"""

  val oracle: Map[String, String] = Map(
    "pipeline_observe_metrics" ->
      """SELECT metric, value FROM (
           SELECT 'n_rows' AS metric, CAST(count(*) AS BIGINT) AS value
           FROM events
           UNION ALL
           SELECT 'n_null_user',
                  CAST(coalesce(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
           FROM events
           UNION ALL
           SELECT 'n_bad_value',
                  CAST(coalesce(sum(CASE WHEN NOT (value > 0) THEN 1 ELSE 0 END), 0) AS BIGINT)
           FROM events
           UNION ALL
           SELECT 'cents_sum',
                  CAST(coalesce(sum(CAST(floor(value*100 + 0.5) AS BIGINT)), 0) AS BIGINT)
           FROM events
           UNION ALL
           SELECT 'n_kept', CAST(count(*) AS BIGINT) FROM events WHERE value > 0)
         ORDER BY metric""",
    // All-integer constraint counting; NULL semantics match Spark's
    // when().otherwise(0) (3VL NOT over NULL -> no violation counted) and
    // the anti-join (NULL fk counts as a violation on both engines).
    "pipeline_constraint_audit" ->
      """WITH liagg AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(coalesce(sum(CASE WHEN NOT (l_quantity >= 1 AND l_quantity <= 50)
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_qty,
                  CAST(coalesce(sum(CASE WHEN NOT (floor(l_discount*100 + 0.5) >= 0
                                AND floor(l_discount*100 + 0.5) <= 10)
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_disc,
                  CAST(coalesce(sum(CASE WHEN NOT (l_extendedprice > 0)
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_price,
                  CAST(coalesce(sum(CASE WHEN l_shipdate IS NULL
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_ship
           FROM lineitem),
         oagg AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(coalesce(sum(CASE WHEN o_custkey IS NULL
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_cust,
                  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
                    AS v_uniq,
                  CAST(coalesce(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_status,
                  CAST(coalesce(sum(CASE WHEN NOT (o_totalprice > 0)
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_total
           FROM orders),
         rows_ AS (
           SELECT 'lineitem_quantity_1_50' AS c, n, v_qty AS v FROM liagg
           UNION ALL SELECT 'lineitem_discount_0_10pct', n, v_disc FROM liagg
           UNION ALL SELECT 'lineitem_extendedprice_positive', n, v_price
             FROM liagg
           UNION ALL SELECT 'lineitem_shipdate_complete', n, v_ship FROM liagg
           UNION ALL SELECT 'orders_custkey_complete', n, v_cust FROM oagg
           UNION ALL SELECT 'orders_orderkey_unique', n, v_uniq FROM oagg
           UNION ALL SELECT 'orders_status_in_OFP', n, v_status FROM oagg
           UNION ALL SELECT 'orders_totalprice_positive', n, v_total FROM oagg
           UNION ALL SELECT 'lineitem_orderkey_in_orders',
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
           UNION ALL SELECT 'orders_custkey_in_customer',
             (SELECT CAST(count(*) AS BIGINT) FROM orders),
             (SELECT CAST(count(*) AS BIGINT) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer cu
                                WHERE cu.c_custkey = o.o_custkey)))
         SELECT c AS "constraint", n AS n_checked, v AS n_violations,
                v = 0 AS pass
         FROM rows_ ORDER BY c""",
    // Exact-integer rank replay; only z is a float, rebuilt from the same
    // BIGINTs with the identical expression association and r4-rounded.
    "agg_mannwhitney_u" ->
      """WITH t AS (SELECT lang = 'en' AS a, n_chars AS v FROM documents
                    WHERE lang IN ('en', 'fr') AND n_chars IS NOT NULL),
          g AS (SELECT v,
                       CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT)
                         AS na,
                       CAST(count(*) AS BIGINT) AS nt
                FROM t GROUP BY v),
          c AS (SELECT na, nt,
                       CAST(sum(nt) OVER (ORDER BY v) AS BIGINT) AS cum
                FROM g),
          s AS (SELECT CAST(sum(na) AS BIGINT) AS n1,
                       CAST(sum(nt - na) AS BIGINT) AS n2,
                       CAST(sum(na * (2 * cum - nt + 1)) AS BIGINT) AS r1x2,
                       CAST(sum(nt * nt * nt - nt) AS BIGINT) AS tie_sum
                FROM c),
          u AS (SELECT n1, n2, r1x2 - n1 * (n1 + 1) AS u1x2,
                       2 * n1 * n2 - (r1x2 - n1 * (n1 + 1)) AS u2x2,
                       tie_sum, n1 + n2 AS n
                FROM s)
          SELECT n1, n2, u1x2, u2x2, tie_sum,
                 CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 THEN
                   floor(CAST(u1x2 - n1 * n2 AS DOUBLE) /
                     (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) *
                       (CAST(n + 1 AS DOUBLE) - CAST(tie_sum AS DOUBLE) /
                         (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) /
                       12.0)) * 10000 + 0.5) / 10000.0
                 END AS z
          FROM u""",
    // Per-row average ranks replayed with min-rank + tie-count windows
    // (the compact oracle form; the engine side uses the value-domain
    // grouped frame + prefix sum + join-back to avoid per-lang windows).
    "agg_spearman_corr" ->
      s"""WITH t AS (SELECT lang, n_chars AS x,
                            CAST(len(string_split($normSql, ' ')) AS BIGINT)
                              AS y
                     FROM documents),
          r AS (SELECT lang,
                       2 * rank() OVER (PARTITION BY lang ORDER BY x)
                         + count(*) OVER (PARTITION BY lang, x) - 1
                         - (count(*) OVER (PARTITION BY lang) + 1) AS dx,
                       2 * rank() OVER (PARTITION BY lang ORDER BY y)
                         + count(*) OVER (PARTITION BY lang, y) - 1
                         - (count(*) OVER (PARTITION BY lang) + 1) AS dy
                FROM t),
          s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(dx * dy) AS BIGINT) AS cnum,
                       CAST(sum(dx * dx) AS BIGINT) AS d1,
                       CAST(sum(dy * dy) AS BIGINT) AS d2
                FROM r GROUP BY lang)
          SELECT lang, n, cnum AS num,
                 CASE WHEN d1 > 0 AND d2 > 0
                 THEN floor(CAST(cnum AS DOUBLE) /
                        sqrt(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE))
                        * 10000 + 0.5) / 10000.0
                 END AS rho
          FROM s ORDER BY lang""",
    "agg_psi_drift" ->
      psiOracle("",
        """SELECT least(n_chars // 100, 9) AS bucket,
                  doc_id % 2 = 0 AS is_ref
           FROM documents"""),
    "agg_psi_drift_quantile" ->
      psiOracle(
        """d AS (SELECT CAST(n_chars AS BIGINT) AS x,
                        doc_id % 2 = 0 AS is_ref FROM documents),
           rr AS (SELECT x, row_number() OVER (ORDER BY x) AS rn,
                         count(*) OVER () AS n
                  FROM d WHERE is_ref),
           cuts AS (SELECT """ +
          (1 to 9).map(i =>
            s"""max(CASE WHEN rn = CAST(ceil(0.$i * n) AS BIGINT)
                         THEN x END) AS c$i""").mkString(", ") +
          " FROM rr),",
        // NULL x must land in a NULL bucket on both engines: Spark's
        // (x > c).cast(long) propagates NULL through the sum, so the
        // oracle's per-cut term propagates it too instead of CASE-WHEN
        // mapping it to 0 (r9 ADVICE)
        "SELECT (" +
          (1 to 9).map(i =>
            s"(CASE WHEN x > c$i THEN 1 WHEN x IS NULL THEN NULL ELSE 0 END)")
            .mkString(" + ") +
          ") AS bucket, is_ref FROM d, cuts"),
    "agg_js_divergence" ->
      s"""WITH f AS (
            SELECT lang AS cat, doc_id % 2 = 0 AS is_ref FROM documents),
          c AS (SELECT cat,
                       CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END)
                            AS BIGINT) AS a,
                       CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)
                            AS BIGINT) AS b
                FROM f GROUP BY 1),
          t AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
                       CAST(sum(b) AS BIGINT) AS tb FROM c),
          terms AS (
            SELECT t.ta, t.tb,
                   CASE WHEN c.a > 0 THEN c.a *
                     CAST(floor(ln(CAST(c.a AS DOUBLE) / CAST(t.ta AS DOUBLE))
                                * 1000000 + 0.5) AS BIGINT)
                   ELSE 0 END AS sp,
                   CASE WHEN c.b > 0 THEN c.b *
                     CAST(floor(ln(CAST(c.b AS DOUBLE) / CAST(t.tb AS DOUBLE))
                                * 1000000 + 0.5) AS BIGINT)
                   ELSE 0 END AS sq,
                   (c.a * t.tb + c.b * t.ta) *
                     CAST(floor(ln(CAST(c.a * t.tb + c.b * t.ta AS DOUBLE)
                                   / CAST(2 * t.ta * t.tb AS DOUBLE))
                                * 1000000 + 0.5) AS BIGINT) AS sm
            FROM c, t)
          SELECT max(ta) AS n_ref, max(tb) AS n_cur,
                 CAST(count(*) AS BIGINT) AS k_categories,
                 ${r4Sql("""(-CAST(sum(sm) AS DOUBLE)
                     / CAST(2 * max(ta) * max(tb) AS DOUBLE) / 1000000.0)
                   - ((-CAST(sum(sp) AS DOUBLE) / CAST(max(ta) AS DOUBLE)
                        / 1000000.0)
                      + (-CAST(sum(sq) AS DOUBLE) / CAST(max(tb) AS DOUBLE)
                          / 1000000.0)) / 2.0""")} AS jsd
          FROM terms""",
    "agg_cramers_v" ->
      s"""WITH d AS (SELECT lang, source FROM documents
                     WHERE lang IS NOT NULL AND source IS NOT NULL),
          obs AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
                  FROM d GROUP BY 1, 2),
          rt AS (SELECT lang, CAST(count(*) AS BIGINT) AS rt
                 FROM d GROUP BY 1),
          ct AS (SELECT source, CAST(count(*) AS BIGINT) AS ct
                 FROM d GROUP BY 1),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
          cells AS (
            SELECT rt.lang, ct.source, n.n, rt.rt, ct.ct,
                   coalesce(obs.o, 0) AS o
            FROM rt CROSS JOIN ct CROSS JOIN n
            LEFT JOIN obs ON obs.lang = rt.lang AND obs.source = ct.source),
          t AS (SELECT lang, source, n,
                       CAST(floor(CAST(n*o - rt*ct AS DOUBLE)
                                  * CAST(n*o - rt*ct AS DOUBLE)
                                  / CAST(n*rt*ct AS DOUBLE) * 1000000.0 + 0.5)
                            AS BIGINT) AS term
                FROM cells)
          SELECT max(n) AS n_docs,
                 CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1)
                      AS BIGINT) AS dof,
                 CAST(least(count(DISTINCT lang) - 1,
                            count(DISTINCT source) - 1) AS BIGINT) AS min_dim,
                 ${r4Sql("""sqrt((CAST(sum(term) AS DOUBLE) / 1000000.0)
                   / CAST(max(n) * least(count(DISTINCT lang) - 1,
                                         count(DISTINCT source) - 1)
                          AS DOUBLE))""")} AS cramers_v
          FROM t""",
    "pipeline_incremental_join" ->
      """WITH li AS (
            SELECT l_orderkey,
                   CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS c
            FROM lineitem),
          jb AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(c) AS BIGINT) AS cents
                 FROM li JOIN orders ON l_orderkey = o_orderkey
                 WHERE l_orderkey % 10 < 7 GROUP BY 1),
          jd AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(c) AS BIGINT) AS cents
                 FROM li JOIN orders ON l_orderkey = o_orderkey
                 WHERE l_orderkey % 10 >= 7 GROUP BY 1),
          merged AS (SELECT o_orderstatus, CAST(sum(n) AS BIGINT) AS n_rows,
                            CAST(sum(cents) AS BIGINT) AS cents
                     FROM (SELECT * FROM jb UNION ALL SELECT * FROM jd)
                     GROUP BY 1),
          fl AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS f_rows,
                        CAST(sum(c) AS BIGINT) AS f_cents
                 FROM li JOIN orders ON l_orderkey = o_orderkey GROUP BY 1)
          SELECT coalesce(merged.o_orderstatus, fl.o_orderstatus)
                   AS o_orderstatus,
                 n_rows, cents/100.0 AS revenue,
                 (n_rows = f_rows AND cents = f_cents) AS matches_full
          FROM merged FULL OUTER JOIN fl
            ON merged.o_orderstatus = fl.o_orderstatus
          ORDER BY o_orderstatus""",
    "pipeline_label_vote" ->
      s"""WITH f AS (
            SELECT coalesce(n_chars >= 240, false) AS la,
                   coalesce(len(string_split($normSql, ' ')) >= 40,
                            false) AS lb,
                   coalesce(CAST(len(list_distinct(string_split($normSql,
                                                                ' ')))
                                 AS BIGINT) * 2 >=
                              CAST(len(string_split($normSql, ' '))
                                   AS BIGINT), false) AS lc
            FROM documents),
          v AS (SELECT la, lb, lc,
                       (CASE WHEN la THEN 1 ELSE 0 END
                        + CASE WHEN lb THEN 1 ELSE 0 END
                        + CASE WHEN lc THEN 1 ELSE 0 END) >= 2 AS vote
                FROM f),
          u AS (SELECT 'len_240' AS labeler, la AS flag, vote FROM v
                UNION ALL SELECT 'tok_40', lb, vote FROM v
                UNION ALL SELECT 'ttr_50', lc, vote FROM v)
          SELECT labeler, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos,
                 CAST(sum(CASE WHEN flag = vote THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_agree,
                 ${r4Sql("""CAST(sum(CASE WHEN flag = vote THEN 1 ELSE 0 END)
                     AS DOUBLE) / CAST(count(*) AS DOUBLE)""")} AS agree_rate
          FROM u GROUP BY 1 ORDER BY 1""",
    "pipeline_quota_sample" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
          t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
          b AS (SELECT source, n, (1000 * n) // t AS base,
                       1000 * n - ((1000 * n) // t) * t AS rem
                FROM c CROSS JOIN t),
          r AS (SELECT *,
                       row_number() OVER (ORDER BY rem DESC, source) AS rk,
                       CAST(sum(base) OVER () AS BIGINT) AS sb
                FROM b)
          SELECT source, CAST(n AS BIGINT) AS n_docs,
                 CAST(base + CASE WHEN rk <= 1000 - sb THEN 1 ELSE 0 END
                   AS BIGINT) AS alloc
          FROM r ORDER BY source""",
    "agg_theil_inequality" ->
      """WITH t AS (SELECT source, CAST(n_chars AS BIGINT) AS x
                    FROM documents WHERE n_chars > 0),
          g AS (SELECT source, count(*) AS n,
                       CAST(sum(x) AS BIGINT) AS sx,
                       CAST(sum(x * CAST(floor(ln(CAST(x AS DOUBLE))
                                               * 1000000 + 0.5) AS BIGINT))
                         AS BIGINT) AS sxl
                FROM t GROUP BY 1)
          SELECT source, n, sx AS total_chars,
                 floor((CAST(sxl AS DOUBLE) / CAST(sx AS DOUBLE) / 1000000.0
                        - CAST(CAST(floor(ln(CAST(sx AS DOUBLE))
                                          * 1000000 + 0.5) AS BIGINT)
                               - CAST(floor(ln(CAST(n AS DOUBLE))
                                            * 1000000 + 0.5) AS BIGINT)
                               AS DOUBLE) / 1000000.0)
                       * 10000 + 0.5) / 10000.0 AS theil
          FROM g ORDER BY source""",
    "agg_benford_audit" ->
      """WITH c AS (SELECT substr(CAST(CAST(floor(o_totalprice*100 + 0.5)
                                        AS BIGINT) AS VARCHAR), 1, 1)
                           AS digit
                    FROM orders
                    WHERE floor(o_totalprice*100 + 0.5) > 0),
          t AS (SELECT count(*) AS total FROM c)
          SELECT digit, count(*) AS n,
                 floor((CAST(count(*) AS DOUBLE) / CAST(total AS DOUBLE))
                       * 10000 + 0.5) / 10000.0 AS share
          FROM c CROSS JOIN t GROUP BY digit, total ORDER BY digit""",
    "pipeline_profile_columns" ->
      Seq("o_orderstatus", "o_orderpriority", "o_orderkey", "o_custkey")
        .map { c =>
          s"""SELECT '$c' AS col_name, s.n_rows, s.n_distinct, s.n_null,
                     t.top_value, t.top_n
              FROM (SELECT count(*) AS n_rows,
                           count(DISTINCT v) AS n_distinct,
                           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
                             AS BIGINT) AS n_null
                    FROM (SELECT CAST($c AS VARCHAR) AS v FROM orders)) s
              LEFT JOIN (SELECT v AS top_value, count(*) AS top_n
                         FROM (SELECT CAST($c AS VARCHAR) AS v FROM orders)
                         WHERE v IS NOT NULL GROUP BY v
                         ORDER BY count(*) DESC, v LIMIT 1) t ON TRUE"""
        }.mkString("", " UNION ALL ", " ORDER BY col_name"),
    "agg_k_anonymity" ->
      """WITH g AS (SELECT lang, source, n_chars // 100 AS bucket,
                           count(*) AS cnt
                    FROM documents GROUP BY 1, 2, 3),
          a AS (SELECT count(*) AS n_groups,
                       CAST(sum(cnt) AS BIGINT) AS n_rows,
                       CAST(sum(CASE WHEN cnt < 5 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_violating_groups,
                       CAST(sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END)
                         AS BIGINT) AS n_rows_at_risk,
                       CAST(min(cnt) AS BIGINT) AS min_group
                FROM g)
          SELECT n_groups, n_rows, n_violating_groups, n_rows_at_risk,
                 min_group,
                 floor((CAST(n_rows_at_risk AS DOUBLE)
                        / CAST(n_rows AS DOUBLE)) * 10000 + 0.5) / 10000.0
                   AS risk_share
          FROM a""",
    "pipeline_snapshot_diff" ->
      """WITH old AS (
            SELECT doc_id, source,
                   CASE WHEN doc_id % 7 = 0 THEN text || ' [v1]' ELSE text END
                     AS text,
                   n_chars
            FROM documents WHERE doc_id % 10 < 8),
          nw AS (SELECT doc_id, source, text, n_chars
                 FROM documents WHERE doc_id % 10 <> 1)
          SELECT coalesce(nw.source, old.source) AS source,
                 CASE WHEN old.doc_id IS NULL THEN 'added'
                      WHEN nw.doc_id IS NULL THEN 'removed'
                      WHEN old.text IS DISTINCT FROM nw.text THEN 'changed'
                      ELSE 'unchanged' END AS status,
                 count(*) AS n_docs,
                 CAST(sum(coalesce(nw.n_chars, old.n_chars)) AS BIGINT)
                   AS n_chars
          FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id
          GROUP BY 1, 2 ORDER BY source, status""",
    "pipeline_incremental_agg" ->
      s"""WITH w AS (SELECT doc_id, source, lang,
                   CAST(len(string_split($normSql, ' ')) AS BIGINT) AS wc
              FROM documents),
          base AS (SELECT source, lang, count(*) AS n_docs,
                          CAST(sum(wc) AS BIGINT) AS n_tokens
                   FROM w WHERE doc_id % 10 < 7 GROUP BY 1, 2),
          delta AS (SELECT source, lang, count(*) AS n_docs,
                           CAST(sum(wc) AS BIGINT) AS n_tokens
                    FROM w WHERE doc_id % 10 >= 7 GROUP BY 1, 2),
          merged AS (SELECT source, lang,
                            CAST(sum(n_docs) AS BIGINT) AS n_docs,
                            CAST(sum(n_tokens) AS BIGINT) AS n_tokens
                     FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
                     GROUP BY 1, 2),
          fl AS (SELECT source, lang, count(*) AS f_docs,
                        CAST(sum(wc) AS BIGINT) AS f_tokens
                 FROM w GROUP BY 1, 2)
          SELECT merged.source, merged.lang, n_docs, n_tokens,
                 (n_docs = f_docs AND n_tokens = f_tokens) AS matches_full
          FROM merged FULL OUTER JOIN fl
            ON merged.source = fl.source AND merged.lang = fl.lang
          ORDER BY merged.source, merged.lang""",
    "agg_join_size_audit" ->
      """WITH l AS (SELECT l_orderkey AS k, count(*) AS cl
                    FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
          o AS (SELECT o_orderkey AS k, count(*) AS co
                FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1)
          SELECT CAST(sum(CASE WHEN cl IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_left_keys,
                 CAST(sum(CASE WHEN co IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_right_keys,
                 CAST(sum(CASE WHEN cl IS NOT NULL AND co IS NOT NULL
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_match_keys,
                 CAST(coalesce(sum(cl * co), 0) AS BIGINT) AS join_rows,
                 CAST(max(cl * co) AS BIGINT) AS max_fanout
          FROM l FULL OUTER JOIN o USING (k)""",
    "agg_rater_agreement" ->
      s"""WITH t AS (
            SELECT CASE WHEN n_chars >= 240 THEN 1 ELSE 0 END AS ra,
                   CASE WHEN len(string_split($normSql, ' ')) >= 40
                        THEN 1 ELSE 0 END AS rb
            -- mirror raterAgreementCore's NULL-exclusion: a row with a NULL
            -- label on either side is excluded from n AND the confusion
            -- cells (the Spark side drops NULL booleans; the CASE here
            -- would otherwise map them to 0 and keep the row)
            FROM documents
            WHERE n_chars IS NOT NULL AND text IS NOT NULL),
          c AS (SELECT count(*) AS n,
                       CAST(sum(ra * rb) AS BIGINT) AS n11,
                       CAST(sum(ra * (1 - rb)) AS BIGINT) AS n10,
                       CAST(sum((1 - ra) * rb) AS BIGINT) AS n01,
                       CAST(sum((1 - ra) * (1 - rb)) AS BIGINT) AS n00
                FROM t)
          SELECT n, n11, n10, n01, n00,
                 ${r4Sql("""CASE WHEN
                     (CAST(n11 + n10 AS DOUBLE)/CAST(n AS DOUBLE))
                       * (CAST(n11 + n01 AS DOUBLE)/CAST(n AS DOUBLE))
                     + (1.0 - CAST(n11 + n10 AS DOUBLE)/CAST(n AS DOUBLE))
                       * (1.0 - CAST(n11 + n01 AS DOUBLE)/CAST(n AS DOUBLE))
                     < 1.0
                   THEN (CAST(n11 + n00 AS DOUBLE)/CAST(n AS DOUBLE)
                         - ((CAST(n11 + n10 AS DOUBLE)/CAST(n AS DOUBLE))
                            * (CAST(n11 + n01 AS DOUBLE)/CAST(n AS DOUBLE))
                            + (1.0 - CAST(n11 + n10 AS DOUBLE)/CAST(n AS DOUBLE))
                              * (1.0 - CAST(n11 + n01 AS DOUBLE)/CAST(n AS DOUBLE))))
                        / (1.0
                           - ((CAST(n11 + n10 AS DOUBLE)/CAST(n AS DOUBLE))
                              * (CAST(n11 + n01 AS DOUBLE)/CAST(n AS DOUBLE))
                              + (1.0 - CAST(n11 + n10 AS DOUBLE)/CAST(n AS DOUBLE))
                                * (1.0 - CAST(n11 + n01 AS DOUBLE)/CAST(n AS DOUBLE))))
                   END""")} AS kappa
          FROM c""",
    "agg_winsorize" ->
      s"""WITH sel AS (
            SELECT source, n_chars,
                   row_number() OVER (PARTITION BY source ORDER BY n_chars)
                     AS rn,
                   count(*) OVER (PARTITION BY source) AS n
            FROM documents),
          cuts AS (
            SELECT source,
                   max(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
                            THEN n_chars END) AS lo,
                   max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                            THEN n_chars END) AS hi
            FROM sel GROUP BY source)
          SELECT d.source, count(*) AS n,
                 min(lo) AS p05, min(hi) AS p95,
                 ${r4Sql("CAST(sum(least(greatest(d.n_chars, lo), hi)) AS DOUBLE)" +
                   " / CAST(count(*) AS DOUBLE)")} AS winsor_mean,
                 CAST(sum(CASE WHEN d.n_chars < lo THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_clip_lo,
                 CAST(sum(CASE WHEN d.n_chars > hi THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_clip_hi
          FROM documents d JOIN cuts ON d.source = cuts.source
          GROUP BY d.source ORDER BY d.source""",
    "dedup_lsh_tuning" ->
      s"""WITH cfg(b, r) AS (SELECT * FROM (VALUES (2, 8), (4, 4), (8, 2),
                                                   (16, 1))),
          t AS (SELECT doc_id, list_distinct(string_split($normSql, ' '))
                         AS st
                FROM documents WHERE doc_id < 60),
          tok AS (SELECT doc_id, unnest(st) AS tok FROM t),
          pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
                    FROM tok a JOIN tok b
                      ON a.tok = b.tok AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
          sizes AS (SELECT doc_id, CAST(len(st) AS BIGINT) AS n FROM t),
          sim AS (SELECT CAST(inter AS DOUBLE)
                           / CAST(sa.n + sb.n - inter AS DOUBLE) AS s
                  FROM pairs JOIN sizes sa ON da = sa.doc_id
                             JOIN sizes sb ON db = sb.doc_id),
          st1 AS (SELECT b, r, s,
                         CASE r WHEN 1 THEN s WHEN 2 THEN s * s
                                WHEN 4 THEN (s * s) * (s * s)
                                ELSE ((s * s) * (s * s)) * ((s * s) * (s * s))
                         END AS sr
                  FROM sim CROSS JOIN cfg),
          st2 AS (SELECT b, r, s, 1.0 - sr AS v FROM st1),
          st3 AS (SELECT b, r, s,
                         CASE b WHEN 2 THEN v * v
                                WHEN 4 THEN (v * v) * (v * v)
                                WHEN 8 THEN ((v * v) * (v * v))
                                              * ((v * v) * (v * v))
                                ELSE (((v * v) * (v * v)) * ((v * v) * (v * v)))
                                       * (((v * v) * (v * v))
                                            * ((v * v) * (v * v)))
                         END AS vb
                  FROM st2),
          pe AS (SELECT b, r, s,
                        CAST(floor((1.0 - vb) * 1000000000 + 0.5) AS BIGINT)
                          AS pe
                 FROM st3)
          SELECT b, r, count(*) AS n_cand,
                 CAST(sum(CASE WHEN s >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_true,
                 CAST(sum(CASE WHEN s >= 0.8 THEN pe ELSE 0 END) AS BIGINT)
                   AS exp_true_scaled,
                 CAST(sum(CASE WHEN s < 0.8 THEN pe ELSE 0 END) AS BIGINT)
                   AS exp_false_scaled
          FROM pe GROUP BY b, r ORDER BY b, r""",
  )
}
