package graft

import graft.ops._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the training-pipeline operators (Pipeline.scala)
  * beyond the oracle hash-match: the properties a 100 TB dataset release
  * actually depends on.
  */
class PipelineSpec extends AnyFunSuite {
  import TestSession._

  test("pipeline_quality_ablation: cells recompute from the two gates") {
    val r = SparkEntry.queries("pipeline_quality_ablation")(spark, sf).head()
    val kg = SparkEntry.queries("pipeline_gopher_rules")(spark, sf).collect()
      .map(x => x.getLong(0) -> x.getAs[Boolean]("keep")).toMap
    val kp = SparkEntry.queries("pipeline_perplexity_gate")(spark, sf)
      .collect().map(x => x.getLong(0) -> x.getAs[Boolean]("keep")).toMap
    assert(kg.keySet == kp.keySet)
    val cells = kg.keys.toSeq.map(id => (kg(id), kp(id)))
    assert(r.getLong(0) == cells.length.toLong)
    assert(r.getLong(1) == cells.count { case (g, p) => !g && p }.toLong,
      "gopher-only cell")
    assert(r.getLong(2) == cells.count { case (g, p) => g && !p }.toLong,
      "ppl-only cell")
    assert(r.getLong(3) == cells.count { case (g, p) => !g && !p }.toLong,
      "both-gates cell")
    assert(r.getLong(4) == cells.count { case (g, p) => g && p }.toLong)
    // the four cells partition the corpus
    assert(r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4) ==
      r.getLong(0))
  }

  test("pipeline_rejection_reasons partitions the corpus and cross-foots " +
      "the e2e stage audit") {
    val rej = SparkEntry.queries("pipeline_rejection_reasons")(spark, sf)
      .collect()
    val byReason = rej.groupBy(_.getString(0))
      .map { case (r, rows) => r -> rows.map(_.getLong(2)).sum }
    val audit = SparkEntry.queries("pipeline_release_e2e")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // every doc has exactly one first-failure reason (or is retained)
    val corpus = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(byReason.values.sum == corpus)
    // each reason's doc count equals the matching stage's rows_in - rows_out
    def dropped(stage: String) = audit(stage)._1 - audit(stage)._2
    assert(byReason("1_gopher") == dropped("1_gopher"))
    assert(byReason("2_neardup") == dropped("2_neardup"))
    assert(byReason.getOrElse("3_benchmark_holdout", 0L) +
      byReason.getOrElse("3_contaminated", 0L) == dropped("3_decontaminate"))
    assert(byReason("4_quality") == dropped("4_quality"))
    assert(byReason.getOrElse("5_mix", 0L) == dropped("5_mix"))
    assert(byReason("0_retained") == audit("5_mix")._2)
  }

  test("pipeline_release_incremental equals the full e2e recompute") {
    // The oracle proves it at sf0.01; this pins the equivalence in-suite at
    // sf0.001 too (different split point, different near-dup topology), so a
    // contract drift between the incremental state path and the full
    // composition fails fast without the DuckDB gate.
    val a = SparkEntry.queries("pipeline_release_e2e")(spark, sf)
      .collect().map(_.toString).toSeq
    val b = SparkEntry.queries("pipeline_release_incremental")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("split_group_hash is leakage-free: every user in exactly one split") {
    // Recompute the per-user split assignment the query is built on and
    // assert it is a function of user_id alone.
    val ev = graft.util.Canon.events(spark, sf)
      .withColumn("b", ((col("user_id") % 1000003L) * 2654435761L)
        % 4294967296L % 100)
      .withColumn("split", when(col("b") < 80, "train")
        .when(col("b") < 90, "val").otherwise("test"))
    val leaky = ev.groupBy("user_id")
      .agg(countDistinct("split").as("k")).where(col("k") > 1).count()
    assert(leaky == 0)
    // And the three splits cover all events.
    val rep = SparkEntry.queries("split_group_hash")(spark, sf)
    val total = rep.agg(sum("n_events")).first().getLong(0)
    assert(total == ev.count())
  }

  test("sample_stratified is deterministic across runs and repartitioning") {
    val a = SparkEntry.queries("sample_stratified")(spark, sf)
      .collect().map(_.toString).toSeq
    val b = SparkEntry.queries("sample_stratified")(spark, sf)
      .repartition(13).sort("doc_id").collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("sample_fixed_k returns at most k rows per stratum") {
    val over = SparkEntry.queries("sample_fixed_k")(spark, sf)
      .groupBy("lang").count().where(col("count") > 25).count()
    assert(over == 0)
  }

  test("pack_sequences: packs overflow by less than one max document") {
    val packs = SparkEntry.queries("pack_sequences")(spark, sf).cache()
    try {
      val maxTok = spark.read.parquet(s"$sf/documents.parquet")
        .select(size(split(regexp_replace(lower(trim(col("text"))),
          "\\s+", " "), " ")).cast("long").as("tok"))
        .agg(max("tok")).first().getLong(0)
      val worst = packs.agg(max("pack_tokens")).first().getLong(0)
      assert(worst < 512 + maxTok)
      // Token mass is conserved: packs partition the corpus.
      val packed = packs.agg(sum("pack_tokens")).first().getLong(0)
      val corpus = spark.read.parquet(s"$sf/documents.parquet")
        .select(size(split(regexp_replace(lower(trim(col("text"))),
          "\\s+", " "), " ")).cast("long").as("tok"))
        .agg(sum("tok")).first().getLong(0)
      assert(packed == corpus)
    } finally packs.unpersist()
  }

  test("pack_sequences_bfd: balanced packing never truncates more than contiguous") {
    val rep = SparkEntry.queries("pack_sequences_bfd")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("tokens_dropped"), r.getAs[Long]("max_pack_tokens")))
      .toMap
    val langs = rep.keys.map(_._1).toSet
    assert(langs.nonEmpty)
    langs.foreach { lang =>
      val (dBal, mBal) = rep((lang, "balanced"))
      val (dCon, mCon) = rep((lang, "contiguous"))
      assert(dBal <= dCon, s"$lang: balanced truncates more ($dBal > $dCon)")
      assert(mBal <= mCon, s"$lang: balanced max pack larger ($mBal > $mCon)")
    }
  }

  test("chunk_documents covers every token with stride-40 starts") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        size(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "),
          " ")).cast("long").as("n"))
    val chunks = SparkEntry.queries("chunk_documents")(spark, sf)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), max("start").as("last_start"),
        max(col("start") + col("chunk_toks") - 1).as("covered"))
    val bad = chunks.join(docs, "doc_id")
      // expected chunk count = ceil((n - 1) / 40) rounded up from starts
      // 1, 41, 81, ... <= n; coverage must reach the last token.
      .where(col("n_chunks") =!= floor((col("n") - 1) / 40) + 1 ||
        col("covered") =!= col("n"))
      .count()
    assert(bad == 0)
  }

  test("mix_domains: weights in (0,1], downsample never upsamples") {
    val m = SparkEntry.queries("mix_domains")(spark, sf).collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      val w = r.getAs[Double]("weight")
      assert(w > 0.0 && w <= 1.0)
      assert(r.getAs[Long]("docs_after") <= r.getAs[Long]("docs_before"))
    }
  }

  test("pipeline_domain_classifier: argmax + tie-break hold; one doc recomputed") {
    val rows = SparkEntry.queries("pipeline_domain_classifier")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val classes = Seq("web", "code", "wiki", "news", "social")
    rows.foreach { r =>
      val scores = (0 to 4).map(c => r.getAs[Long](s"s$c"))
      assert(r.getAs[Long]("best_score") == scores.max)
      // predicted class is the FIRST argmax (smallest class id on ties)
      assert(r.getAs[String]("pred_domain") ==
        classes(scores.indexOf(scores.max)))
    }
    // recompute every class score for the first document in plain Scala
    // (independent tokenizer + arithmetic) and compare
    val doc = spark.read.parquet(s"$sf/documents.parquet")
      .orderBy("doc_id").select("text").head().getString(0)
    val tk = doc.trim.toLowerCase.replaceAll("\\s+", " ").split(" ", -1)
    def at(t: String, i: Int): Int =
      if (i < t.length) t.codePointAt(i) else 0
    val expect = (0 to 4).map { c =>
      tk.map { t =>
        val h = at(t, 0) * 961 + at(t, 1) * 31 + at(t, 2) + t.length * 7
        ((h * (2 * c + 3) + 97 * c) % 1001) - 500
      }.map(_.toLong).sum
    }
    val first = rows.minBy(_.getAs[Long]("doc_id"))
    assert((0 to 4).forall(c => first.getAs[Long](s"s$c") == expect(c)),
      s"recomputed $expect vs row $first")
  }

  test("text_readability: counts consistent, score recomputable from counts") {
    val rows = SparkEntry.queries("text_readability")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, y, lg, sn, fre) = (r.getAs[Long]("n_words"),
        r.getAs[Long]("n_syllables"), r.getAs[Long]("n_long_words"),
        r.getAs[Long]("n_sentences"), r.getAs[Long]("fre_milli"))
      assert(w >= 1 && y >= w && lg <= w)
      assert(sn == 1, "fixture text has no terminal punctuation")
      assert(fre == 206835L - 1015L * w / sn - 84600L * y / w)
    }
    // hand-recompute the first document's counts independently
    val doc = spark.read.parquet(s"$sf/documents.parquet")
      .orderBy("doc_id").select("text").head().getString(0)
    val tk = doc.trim.toLowerCase.replaceAll("\\s+", " ").split(" ", -1)
    val syll = tk.map(t =>
      math.max(1, "[aeiou]+".r.findAllIn(t).length).toLong).sum
    val first = rows.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Long]("n_words") == tk.length.toLong)
    assert(first.getAs[Long]("n_syllables") == syll)
    assert(first.getAs[Long]("n_long_words") ==
      tk.count(_.length >= 6).toLong)
  }

  test("scd2_intervals: versions chain without gaps or overlaps") {
    val h = SparkEntry.queries("scd2_intervals")(spark, sf)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type").orderBy("version")
    val broken = h
      .withColumn("next_from", lead(col("valid_from_ms"), 1).over(w))
      // each version's valid_to must equal the next version's valid_from
      .where(col("next_from").isNotNull &&
        col("valid_to_ms") =!= col("next_from"))
      .count()
    assert(broken == 0)
    // exactly one open (current) version per key
    val multiCurrent = h.where(col("is_current"))
      .groupBy("user_id", "event_type").count()
      .where(col("count") =!= 1).count()
    assert(multiCurrent == 0)
  }

  test("chunkedCumSum: many-chunk prefix sum bit-equals the single window") {
    // chunkWidth=64 forces ~8 chunks per language on the fixture — the
    // parallel two-phase scan must reproduce the one-task-per-key running
    // window EXACTLY (integer sums are associative), including on sparse
    // ids (the filtered slice) and on a key with a single row
    import org.apache.spark.sql.expressions.Window
    val toked = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("tok", size(split(lower(trim(col("text"))), "\\s+")).cast("long"))
      .select(col("lang"), col("doc_id"), col("tok"))
    for (slice <- Seq(toked, toked.where(col("doc_id") % 3 === 0),
        toked.where(col("doc_id") === 7))) {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = slice.withColumn("cum", sum(col("tok")).over(w))
        .select("lang", "doc_id", "cum").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val got = graft.util.Canon.chunkedCumSum(slice,
          Seq("lang"), "doc_id", "tok", "cum", chunkWidth = 64,
          smallCap = 0) // force the chunked path on the small fixture
        .select("lang", "doc_id", "cum").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want)
    }
  }

  test("chunkedTopK: two-phase rank equals the single-window top-k") {
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), col("doc_id"), col("n_chars"))
    val w = Window.partitionBy("lang").orderBy(desc("n_chars"), col("doc_id"))
    val want = docs.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 7)
      .select("lang", "rk", "doc_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    // chunks=5 on the small fixture still spreads rows across chunks
    val got = graft.util.Canon.chunkedTopK(docs, Seq("lang"),
        Seq(desc("n_chars"), col("doc_id")), col("doc_id"), k = 7,
        out = "rk", chunks = 5)
      .select("lang", "rk", "doc_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("chunkedCumSumBy + chunkedNtile: value-ordered forms equal the " +
      "single windows across n % k residues") {
    import org.apache.spark.sql.expressions.Window
    // per-key row counts 1..7 cover every n % k residue for k in {2,3,4};
    // duplicate v values cross chunk boundaries (width 2) to test ties
    val rows = for (g <- 1 to 7; i <- 1 to g)
      yield (s"g$g", i.toLong, ((i * 3) % 5).toLong)
    val df = spark.createDataFrame(rows).toDF("key", "id", "v")
    // value-ordered cumsum: order (desc v, id), chunk floor(-v/2)
    val w = Window.partitionBy("key").orderBy(desc("v"), col("id"))
    val wantCum = df.withColumn("cum", sum(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    val gotCum = graft.util.Canon.chunkedCumSumBy(df, Seq("key"),
        floor(-col("v").cast("double") / 2).cast("long"),
        Seq(desc("v"), col("id")), "v", "cum", smallCap = 0)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(gotCum == wantCum)
    for (k <- Seq(2, 3, 4)) {
      val wantN = df.withColumn("b", ntile(k).over(w))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(3)).toMap
      val gotN = graft.util.Canon.chunkedNtile(df, Seq("key"),
          floor(-col("v").cast("double") / 2).cast("long"),
          Seq(desc("v"), col("id")), k, "b", smallCap = 0)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(3)).toMap
      assert(gotN == wantN, s"ntile($k)")
    }
    // rank+total combined pass (chunked) vs its single-window equivalent
    val wantRT = df.withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("T", sum(col("v")).over(
        Window.partitionBy("key")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(3), r.getLong(4)))
      .toMap
    val gotRT = graft.util.Canon.chunkedRankWithTotal(df, Seq("key"),
        floor(-col("v").cast("double") / 2).cast("long"),
        Seq(desc("v"), col("id")), "v", "rk", "T", smallCap = 0)
      .select("key", "id", "rk", "T").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(gotRT == wantRT)
  }

  test("chunked helpers: NULL partition/order keys agree across both " +
      "routing sides (regression: using-columns join dropped NULL keys)") {
    // NULL partition key (a whole NULL group), NULL order key inside a
    // non-NULL group, and the (NULL, NULL) corner — the chunked path's
    // offsets join must be null-safe or these rows silently vanish while
    // the single-window route ranks them like any other group.
    import org.apache.spark.sql.expressions.Window
    val rows: Seq[(Option[String], Option[Long], Long)] = Seq(
      (Some("a"), Some(1L), 2L), (Some("a"), Some(2L), 3L),
      (Some("a"), Some(5L), 1L), (Some("a"), None, 5L),
      (None, Some(1L), 7L), (None, Some(3L), 1L), (None, None, 4L),
      (Some("b"), Some(9L), 6L))
    val df = spark.createDataFrame(rows).toDF("key", "id", "v")
      .repartition(4)
    val w = Window.partitionBy("key").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def snap(d: org.apache.spark.sql.DataFrame) =
      d.select("key", "id", "cum").collect()
        .map(r => (Option(r.get(0)), Option(r.get(1))) -> r.getLong(2)).toMap
    val want = snap(df.withColumn("cum", sum(col("v")).over(w)))
    assert(want.size == rows.size) // distinct (key,id) pairs by fixture
    // chunked route (smallCap=0 forces it; width 2 => multiple chunks)
    val gotChunked = snap(graft.util.Canon.chunkedCumSum(df, Seq("key"),
      "id", "v", "cum", chunkWidth = 2, smallCap = 0))
    // small route (default cap) on the identical input
    val gotSmall = snap(graft.util.Canon.chunkedCumSum(df, Seq("key"),
      "id", "v", "cum", chunkWidth = 2))
    assert(gotChunked == want, "chunked route diverged on NULL keys")
    assert(gotSmall == want, "single-window route diverged on NULL keys")
    // rank+total form exercises the totalOf branch of the same join
    val wantRk = df.withColumn("cum",
        row_number().over(Window.partitionBy("key").orderBy("id"))
          .cast("long"))
      .select("key", "id", "cum")
    val gotRk = graft.util.Canon.chunkedRankWithTotal(df, Seq("key"),
        floor(col("id").cast("double") / 2).cast("long"), Seq(col("id")),
        "v", "rk", "T", smallCap = 0)
      .withColumn("cum", col("rk")).select("key", "id", "cum")
    assert(snap(gotRk) == snap(wantRk),
      "chunkedRankWithTotal diverged on NULL keys")
  }

  test("release manifest cache: hit on stable key, clear frees checkpoint " +
      "blocks, rebuild is content-identical") {
    graft.ops.Pipeline.clearReleaseManifestCache()
    val m1 = graft.ops.Pipeline.releaseFlagManifest(spark, sf)
    assert(m1 eq graft.ops.Pipeline.releaseFlagManifest(spark, sf),
      "second lookup must return the cached frame")
    val rddIds = m1.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id }
    assert(rddIds.nonEmpty, "cached manifest should be a checkpoint leaf")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(rddIds.forall(persisted.contains),
      "manifest blocks persisted while cached")
    val snap1 = m1.collect().map(_.toString).sorted.toSeq
    graft.ops.Pipeline.clearReleaseManifestCache()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(rddIds.forall(id => !after.contains(id)),
      "clear must unpersist the manifest's checkpoint blocks")
    val m2 = graft.ops.Pipeline.releaseFlagManifest(spark, sf)
    assert(!(m2 eq m1))
    assert(m2.collect().map(_.toString).sorted.toSeq == snap1,
      "rebuild after clear must be content-identical")
  }

  test("stagedReleaseState: concurrent callers block until the write " +
      "completes and both read a complete state dir") {
    // fresh corpus dir => fresh state dir (the key hashes dir + stamp), so
    // this exercises the first-write path, where the old add()-gate let a
    // second caller read $dir mid-write
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage_race")
      .toString
    spark.read.parquet(s"$sf/documents.parquet")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    import scala.concurrent._
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futs = (1 to 2).map { _ => Future {
      val (dir, split) = graft.ops.Pipeline.stagedReleaseState(spark, tmp)
      (dir, split, spark.read.parquet(s"$dir/manifest").count(),
        spark.read.parquet(s"$dir/bench").count())
    } }
    val rs = Await.result(Future.sequence(futs), 10.minutes)
    assert(rs.map(_._1).distinct.size == 1, "same state dir")
    assert(rs.map(_._2).distinct.size == 1, "same split")
    assert(rs.forall(_._3 > 0) && rs.map(_._3).distinct.size == 1,
      "both callers read the same complete manifest")
    assert(rs.forall(_._4 > 0) && rs.map(_._4).distinct.size == 1,
      "both callers read the same complete bench sets")
  }

  test("forecast_skill_audit validity bound derives from Forecast config") {
    val bound = graft.ops.Forecast.P + 2
    assert(SparkEntry.oracleSql("forecast_skill_audit")
        .contains(s">= $bound "),
      "oracle SQL must interpolate the P+2 bound, not hardcode it")
    // engine side enforces the same bound inside skillCheck: a series with
    // cut just below the bound yields no audit row; at the bound it yields
    // one (both engine rule and oracle SQL now read the bound from config)
    def series(n: Int): Array[graft.ops.Forecast.Point] =
      Array.tabulate(n) { i =>
        graft.ops.Forecast.Point(1L,
          new java.sql.Timestamp(i * 3600000L), (i % 7).toDouble) }
    val nAt = bound * 5 / 4 + (if ((bound * 5 / 4) * 4 / 5 < bound) 1 else 0)
    val atCut = (nAt * 4) / 5
    assert(atCut >= bound, "fixture sizing: cut at/above bound")
    assert(graft.ops.Forecast.skillCheck(1L, series(nAt)).nonEmpty,
      "series at the bound must be audited")
    assert(graft.ops.Forecast.skillCheck(1L, series(bound)).isEmpty,
      "series whose cut lands below the bound must be excluded")
  }

  test("gopher: a null-text doc gets no rule row and is rejected in manifests") {
    import spark.implicits._
    // fixture built here: one null-text doc beside a doc that passes every
    // rule (24 words, 2+ stopwords, no word above 10%)
    val good = ("the cat and a dog of " +
      (1 to 18).map(i => s"word$i").mkString(" "))
    val docs = Seq[(Long, String)]((1L, good), (2L, null))
      .toDF("doc_id", "text")
    val rules = Pipeline.gopherRulesCore(docs).collect()
    assert(rules.map(_.getLong(0)).toSeq == Seq(1L),
      "a null-text doc must not emit a null-measure rule row")
    assert(rules.head.getAs[Boolean]("keep"))
    // the manifest verdict is false (never null) for the null-text doc, so
    // a release audit counts it in rows_in and drops it at stage 1
    val k1 = docs.select(col("doc_id"),
        Pipeline.gopherKeep(Pipeline.gopherMeasures(split(col("text"), " ")))
          .as("k1"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(k1 == Map(1L -> true, 2L -> false))
  }
}
