package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The public facade (graft.api) must be usable exactly as documented —
  * these tests program against it the way an external user would. */
class ApiSpec extends AnyFunSuite {
  import TestSession._
  import graft.api.implicits._

  test("sketch column functions agree with exact aggregates") {
    val ev = graft.util.Canon.events(spark, sf)
    val row = ev.agg(
      graft.api.functions.hllDistinct(col("user_id")).as("approx"),
      countDistinct(col("user_id")).as("exact")).head()
    val approx = row.getAs[Long]("approx")
    val exact = row.getAs[Long]("exact")
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"hll $approx vs exact $exact")
  }

  test("heavyHitters and kllQuantile column functions return sane values") {
    val ev = graft.util.Canon.events(spark, sf)
    val row = ev.agg(
      graft.api.functions.heavyHitters(col("user_id"), 5).as("hh"),
      graft.api.functions.kllQuantile(col("value"), 0.5, 64).as("med"),
      expr("percentile(value, 0.5)").as("exact_med")).head()
    val hh = row.getSeq[org.apache.spark.sql.Row](0)
    assert(hh.nonEmpty && hh.length <= 5)
    val users = ev.select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(hh.forall(r => users.contains(r.getLong(0))))
    val med = row.getDouble(1); val exact = row.getDouble(2)
    val span = ev.agg(max("value").minus(min("value"))).head().getDouble(0)
    assert(math.abs(med - exact) <= 0.1 * span, s"kll med $med vs exact $exact")
  }

  test("asofJoin through the implicit matches a window-join oracle") {
    import spark.implicits._
    val probe = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 15L, "p3"))
      .toDF("k", "t", "tag")
      .select(col("k"), timestamp_seconds(col("t")).as("t"), col("tag"))
    val ref = Seq((1L, 5L, 1.0), (1L, 12L, 2.0), (2L, 99L, 9.0))
      .toDF("rk", "rt", "v")
      .select(col("rk"), timestamp_seconds(col("rt")).as("rt"), col("v"))
    val got = probe.asofJoin(ref, "k", "t", "rk", "rt")
      .select("tag", "v").collect().map(r => (r.getString(0), r.get(1))).toMap
    assert(got("p1") == 1.0)   // latest ref at t<=10 is t=5
    assert(got("p2") == 2.0)   // latest ref at t<=20 is t=12
    assert(got("p3") == null)  // no ref row at t<=15 for k=2
  }

  test("dedupExact keeps exactly the smallest tie-break per group") {
    import spark.implicits._
    val df = Seq(("a", 3), ("a", 1), ("b", 2), ("a", 2)).toDF("g", "n")
    val out = df.dedupExact(Seq("g"), "n").collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    assert(out == Map("a" -> 1, "b" -> 2))
  }

  test("resample buckets agree with the engine's hourly grid keys") {
    val ev = graft.util.Canon.events(spark, sf)
    val api = ev.resample("user_id", "ts", "value", "1 hour")
    val fixture = SparkEntry.queries("ts_resample")(spark, sf)
    assert(api.select("user_id", "bucket").except(
      fixture.select("user_id", "bucket")).isEmpty)
    assert(fixture.select("user_id", "bucket").except(
      api.select("user_id", "bucket")).isEmpty)
  }

  test("topkPerGroup returns k rows per group in order") {
    import spark.implicits._
    val df = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9), ("b", 8)).toDF("g", "n")
    val out = df.topkPerGroup(Seq("g"), col("n"), 2)
    assert(out.count() == 4)
    assert(out.where(col("g") === "a").agg(max("n")).head().getInt(0) == 2)
  }

  test("forecast output is keyed by the caller's column names (ADVICE r5)") {
    import spark.implicits._
    val tiny = Seq((7L, 0L, 1.0)).toDF("store_id", "secs", "sales")
      .select(col("store_id"), timestamp_seconds(col("secs")).as("sold_at"),
        col("sales"))
    val fc = graft.api.Graft.forecast(tiny, "store_id", "sold_at", "sales",
      horizon = 2)
    assert(fc.columns.take(2).toSeq == Seq("store_id", "sold_at"),
      s"internal encoder names leaked: ${fc.columns.toSeq}")
  }

  test("dedupExact survivor is deterministic when tie-break values collide") {
    import spark.implicits._
    // two rows tie on n within group "a"; the extended total order must pick
    // the same survivor regardless of partitioning
    val rows = Seq(("a", 1, "x"), ("a", 1, "w"), ("a", 2, "z"), ("b", 5, "q"))
    val expected = Map("a" -> "w", "b" -> "q")
    for (parts <- Seq(1, 3, 7)) {
      val out = rows.toDF("g", "n", "payload").repartition(parts)
        .dedupExact(Seq("g"), "n")
        .collect().map(r => r.getString(0) -> r.getString(2)).toMap
      assert(out == expected, s"partitioning-dependent survivor at $parts")
    }
  }

  test("README usage example compiles and runs as documented") {
    import graft.api.functions._
    val events = graft.util.Canon.events(spark, sf)
    val trades = events.select(col("user_id").as("sym"), col("ts"), col("value"))
    val quotes = events.select(col("user_id").as("sym"),
      col("ts"), col("value").as("quote"))
    val hourly = events.resample("user_id", "ts", "value", "1 hour")
    val fc = graft.api.Graft.forecast(hourly, "user_id", "bucket", "value",
      horizon = 24)
    val capped = graft.api.Graft.forecastLogistic(hourly, "user_id", "bucket",
      "value", horizon = 24)
    val joined = trades.asofJoin(quotes, "sym", "ts")
    val stats = events.agg(hllDistinct(col("user_id")),
      kllQuantile(col("value"), 0.99, 128))
    assert(fc.columns.contains("user_id"))
    assert(capped.columns.contains("cap"))
    assert(joined.count() > 0)
    assert(stats.head() != null)
    // ANN: train once, persist, serve from the loaded index
    val embeddings = spark.read.parquet(s"$sf/embeddings.parquet")
    val queryBatch = embeddings.where(col("vec_id") < 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_readme_ann").toString
    val idx = graft.api.Graft.annIndex(embeddings).get
    idx.save(dir)
    val nbrs = graft.api.Graft.annIndexLoad(spark, dir).get
      .topk(embeddings, queryBatch, k = 5)
    assert(nbrs.columns.toSeq == Seq("qid", "rank", "vec_id", "cos"))
    assert(nbrs.count() > 0)
    // Exact k-means profile + the sketch-guarantee audit pattern
    val prof = graft.api.Graft.kmeansExact(embeddings, "vec_id", "embedding",
      k = 4, iters = 3)
    val ok = graft.api.Graft.approxPercentileAudit(events, "user_id", "value")
    assert(prof.columns.toSeq == Seq("cluster_id", "n_vecs", "avg_dist"))
    assert(ok.columns.contains("within_bound") &&
      ok.where(!col("within_bound")).count() == 0)
    // Incremental near-dedup: bootstrap, then label-and-fold an increment
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").as("id"), col("text").as("body"))
    val corpus = docs.where(col("id") < 30)
    val crawl1 = docs.where(col("id") >= 30)
    val sdir = java.nio.file.Files.createTempDirectory("graft_readme_nd").toString
    graft.api.Graft.neardupStateBuild(corpus, "id", "body", sdir)
    val labels = graft.api.Graft.neardupStateRefresh(crawl1, "id", "body", sdir)
    assert(labels.columns.toSeq == Seq("id", "label", "is_keeper"))
    assert(labels.count() == docs.count())
    // Quality gates + scrubbing cascade
    val records = events.select(col("event_id").as("rec_id"),
      col("props").as("note"))
    val gated = graft.api.Graft.gopherRules(docs, "id", "body")
    val banded = graft.api.Graft.perplexityGate(docs, "id", "body")
    val scrubbed = graft.api.Graft.piiScrub(records, "rec_id", "note")
    val spans = graft.api.Graft.substringSpans(docs, "id", "body")
    assert(gated.columns.contains("keep") && gated.count() == docs.count())
    assert(banded.columns.contains("keep") && banded.count() == docs.count())
    assert(scrubbed.columns.toSeq ==
      Seq("rec_id", "n_num", "n_email", "scrubbed"))
    assert(spans.columns.toSeq ==
      Seq("id", "n_grams", "n_dup", "dup_frac", "max_run"))
    // Graph analytics over an arbitrary edge frame
    val links = docs.where(col("id") >= 10)
      .select(col("id").as("src"), (col("id") % 10).as("dst"))
    val ranks = graft.api.Graft.pagerank(links, "src", "dst")
    val census = graft.api.Graft.triangleCensus(links, "src", "dst")
    assert(ranks.columns.toSeq == Seq("node", "pr_scaled"))
    assert(ranks.count() > 0)
    assert(census.columns.toSeq ==
      Seq("n_nodes", "n_edges", "n_wedges", "n_triangles", "clustering"))
  }

  test("neardupComponents labels a tiny corpus through the public facade") {
    import spark.implicits._
    val docs = Seq(
      (10L, "a b c d"), (11L, "a b c d e"), (12L, "x y z w"),
      (13L, "p q r s t u")).toDF("id", "body")
    val got = graft.api.Graft.neardupComponents(docs, "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // jaccard(abcd, abcde) = 4/5 ≥ 0.8 → one component; 12/13 singletons
    assert(got == Set((10L, 10L, true), (11L, 10L, false),
      (12L, 12L, true), (13L, 13L, true)))
  }

  test("neardupStateBuild + neardupIncrement equal a full recompute") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "a b c d"), (11L, "a b c d e"), (12L, "x y z w")).toDF("id", "body")
    val batch = Seq(
      (20L, "a b c d"),          // joins the 10/11 component
      (21L, "m n o p q")).toDF("id", "body") // singleton
    val dir = java.nio.file.Files
      .createTempDirectory("graft_api_nd").toString
    graft.api.Graft.neardupStateBuild(corpus, "id", "body", dir)
    val got = graft.api.Graft.neardupIncrement(batch, "id", "body", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = graft.api.Graft
      .neardupComponents(corpus.unionByName(batch), "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == full, "incremental facade labels diverge from recompute")
    assert(got(20L) == 10L && got(21L) == 21L)
  }

  test("neardupStateRefresh folds an increment; next increment still exact") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "a b c d"), (11L, "a b c d e"), (12L, "x y z w")).toDF("id", "body")
    val batch1 = Seq(
      (20L, "a b c d"), (21L, "m n o p q")).toDF("id", "body")
    val batch2 = Seq(
      (30L, "m n o p q r"),   // near-dup of 21 → joins its component
      (31L, "x y z w")).toDF("id", "body") // exact dup of 12
    val dir = java.nio.file.Files
      .createTempDirectory("graft_api_ndr").toString
    graft.api.Graft.neardupStateBuild(corpus, "id", "body", dir)
    graft.api.Graft.neardupStateRefresh(batch1, "id", "body", dir)
    val got = graft.api.Graft.neardupIncrement(batch2, "id", "body", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = graft.api.Graft.neardupComponents(
        corpus.unionByName(batch1).unionByName(batch2), "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == full,
      "increment on refreshed state diverges from full recompute")
    assert(got(30L) == 21L && got(31L) == 12L && got(20L) == 10L)
  }

  test("text-pipeline facade: boilerplate, inverted index, BPE training") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"), (2L, "the cat sat on the hat"),
      (3L, "a dog ran in the park"), (4L, "the cat sat on the rug"),
      (5L, "entirely different words here")).toDF("id", "body")
    val bp = graft.api.Graft.boilerplateNgrams(docs, "id", "body")
    assert(bp.columns.toSeq ==
      Seq("id", "n_ngrams", "n_boiler", "boiler_frac"))
    // "the cat sat" / "cat sat on" / "sat on the" appear in 3/5 docs ≥ 2
    assert(bp.where(col("n_boiler") > 0).count() == 3)
    val idx = graft.api.Graft.invertedIndex(docs, "id", "body")
    val theRow = idx.where(col("term") === "the").head()
    assert(theRow.getLong(1) == 4L && theRow.getString(2) == "1,2,3,4")
    val merges = graft.api.Graft.bpeTrain(docs, "body", mergeCount = 4)
    assert(merges.count() == 4)
    assert(merges.head().getString(1).nonEmpty)
  }

  test("quality/scrub facade: gopherRules, perplexityGate, piiScrub, substringSpans") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on a mat and a dog ran in the park with two birds " +
        "plus one frog near our old red barn today"),
      (2L, "spam spam spam spam spam spam spam spam spam spam spam spam " +
        "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (3L, "tiny doc")).toDF("id", "body")
    val g = graft.api.Graft.gopherRules(docs, "id", "body")
    assert(g.columns.head == "id")
    val byId = g.collect().map(r => r.getLong(0) ->
      (r.getBoolean(5), r.getBoolean(8), r.getBoolean(9))).toMap
    assert(byId(1L)._3, "clean doc must pass the gate")        // keep
    assert(!byId(2L)._2, "all-spam doc must fail repetition")  // r_repetition
    assert(!byId(3L)._1, "3-word doc must fail word count")    // r_word_count
    val p = graft.api.Graft.perplexityGate(docs, "id", "body")
    assert(p.columns.toSeq.take(3) == Seq("id", "n_tokens", "mean_surprisal"))
    assert(p.count() == 3)
    val recs = Seq((1L, "call 5551234 re account 889"), (2L, "no pii here"))
      .toDF("rec", "note")
    val sc = graft.api.Graft.piiScrub(recs, "rec", "note")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(3))).toMap
    assert(sc(1L) == (2L, "call <NUM> re account <NUM>"))
    assert(sc(2L) == (0L, "no pii here"))
    // doc 2 is one long repeat: every 3-gram is "spam spam spam" → all dup
    val row2 = graft.api.Graft.substringSpans(docs, "id", "body", k = 3)
      .where(col("id") === 2L).head()
    assert(row2.getLong(1) == row2.getLong(2), "all-repeat doc: n_dup == n_grams")
    assert(row2.getLong(4) == row2.getLong(1), "run spans the whole doc")
  }

  test("graph facade: pagerank centrality and triangle census on known graphs") {
    import spark.implicits._
    // star: hub 1 ↔ {2,3,4} plus a pendant pair 5–6; hub must rank first
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L)).toDF("s", "t")
    val pr = graft.api.Graft.pagerank(star, "s", "t").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(pr.head._1 == 1L, s"hub is not top-ranked: ${pr.toSeq}")
    assert(pr.map(_._2).sum <= 1000000000000L)
    val prMap = pr.toMap
    assert(prMap(5L) == prMap(6L), "symmetric pendant pair must tie exactly")
    assert(prMap(2L) == prMap(3L) && prMap(3L) == prMap(4L))
    // K3 plus one pendant edge: exactly 1 triangle, clustering 3/5
    val k3 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("x", "y")
    val c = graft.api.Graft.triangleCensus(k3, "x", "y").head()
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3)) ==
      ((4L, 4L, 5L, 1L)))
    assert(math.abs(c.getDouble(4) - 0.6) < 1e-9)
    // BFS on the path 1-2-3-4 from node 1: exact hop distances
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("x", "y")
    val dists = graft.api.Graft.shortestPaths(path, "x", "y", source = 1L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(dists == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    // hop bound is honored: hops = 1 reaches only the source's neighbors
    val near = graft.api.Graft.shortestPaths(path, "x", "y", 1L, hops = 1)
      .collect().map(_.getLong(0)).toSet
    assert(near == Set(1L, 2L))
  }

  test("graph facade: label propagation and resource allocation on known graphs") {
    import spark.implicits._
    // barbell: two 4-cliques bridged by 3–10 → communities 0 and 10
    val cliques = for {
      base <- Seq(0L, 10L); i <- 0 to 3; j <- i + 1 to 3
    } yield (base + i, base + j)
    val lab = graft.api.Graft.labelPropagation(
        (cliques :+ (3L, 10L)).toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 3L).forall(lab(_) == 0L))
    assert((10L to 13L).forall(lab(_) == 10L))
    // path 1-2-3: the only candidate pair is (1,3) via center 2 (deg 2)
    val ra = graft.api.Graft.resourceAllocation(
        Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ra.toSeq == Seq((1L, 3L, 500000000L, 1L)))
  }

  test("audit facade: chi2Independence, giniConcentration, tokenBudget") {
    import spark.implicits._
    // perfectly independent 2x2 uniform grid → chi2 = 0, dof = 1
    val ind = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("lang", "src")
    val chi = graft.api.Graft.chi2Independence(ind, "lang", "src").head()
    assert(chi.getLong(0) == 4L && chi.getLong(1) == 1L &&
      chi.getLong(2) == 0L, s"independent grid must score 0: $chi")
    // perfect dependence (lang determines src) on 2x2 → chi2 = n = 4
    val dep = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"))
      .toDF("lang", "src")
    val chiD = graft.api.Graft.chi2Independence(dep, "lang", "src").head()
    assert(chiD.getLong(2) == 4000000L, s"determined grid must score n: $chiD")
    // equal weights within a group → Gini 0; [1..4] hand-folds to 0.25
    val g = (Seq.fill(5)(100L).zipWithIndex.map { case (c, i) =>
      ("flat", i.toLong, c) } ++
      (1L to 4L).map(c => ("ramp", c, c))).toDF("grp", "id", "w")
    val gini = graft.api.Graft.giniConcentration(g, "grp", "id", "w")
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(gini("flat") == 0.0, s"equal weights must be Gini 0: $gini")
    assert(gini("ramp") == 0.25, s"1..4 folds to 0.25: $gini")
    // budget of 5 tokens keeps the longest-prefix docs only, per lang
    val docs = Seq(
      ("en", 1L, 30L, "one two three"), ("en", 2L, 20L, "four five"),
      ("en", 3L, 10L, "six seven"), ("de", 4L, 5L, "acht")).toDF(
      "language", "docid", "chars", "body")
    val kept = graft.api.Graft.tokenBudget(
        docs, "language", "docid", "body", "chars", budget = 5L)
      .collect().map(r => r.getLong(1) -> r.getLong(4)).toMap
    // en: doc1 (3 tok, cum 3) + doc2 (2 tok, cum 5) fit; doc3 would be 7
    assert(kept == Map(1L -> 3L, 2L -> 5L, 4L -> 1L), s"got $kept")
  }

  test("text facade: readability hand-trace and sourceSimilarity identity") {
    import spark.implicits._
    // "the cat sat on the mat": 6 words, 6 single-vowel-group syllables,
    // no terminal punctuation → 1 sentence (floored), no long words.
    // fre_milli = 206835 - (1015*6) div 1 - (84600*6) div 6 = 116145
    val docs = Seq((1L, "the cat sat on the mat")).toDF("id", "body")
    val r = graft.api.Graft.readability(docs, "id", "body").head()
    assert(r.getLong(1) == 6L && r.getLong(2) == 6L && r.getLong(3) == 0L &&
      r.getLong(4) == 1L && r.getLong(5) == 116145L, s"hand-trace broke: $r")
    // identical vocabularies → Jaccard exactly 1; disjoint pair absent
    val src = Seq(("c1", "alpha beta"), ("c2", "beta alpha"),
      ("c3", "gamma delta")).toDF("crawl", "body")
    val sim = graft.api.Graft.sourceSimilarity(src, "crawl", "body")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(5)))
    assert(sim.toSeq == Seq(("c1", "c2", 1.0)), s"got ${sim.toSeq}")
  }

  test("graph facade: kcore peels the chain, keeps the clique") {
    import spark.implicits._
    // path 1-2-3 peels away entirely; K4 {10..13} is a 3-core (all deg 3)
    val k4 = for (i <- 10L to 13L; j <- i + 1 to 13L) yield (i, j)
    val e = (Seq((1L, 2L), (2L, 3L)) ++ k4).toDF("x", "y")
    val c2 = graft.api.Graft.kcore(e, "x", "y").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2 == (10L to 13L).map(_ -> 3L).toMap, s"got $c2")
    // raising k above the clique degree empties the core
    assert(graft.api.Graft.kcore(e, "x", "y", k = 4).count() == 0L)
  }

  test("Graft.entropyBalance: uniform axis scores ln(k), single axis 0") {
    import spark.implicits._
    // 4 values x 25 rows: H = ln 4, evenness = 1
    val u = (0 until 100).map(i => ("v" + i % 4)).toDF("src")
    val r = graft.api.Graft.entropyBalance(u, "src").head()
    assert(r.getString(0) == "src" && r.getLong(1) == 100L &&
      r.getLong(2) == 4L)
    assert(r.getDouble(3) == math.floor(
      math.floor(math.log(4.0) * 1e6 + 0.5) / 1e6 * 1e4 + 0.5) / 1e4)
    assert(r.getDouble(4) == 1.0, s"uniform evenness must be 1: $r")
    // one value: H = 0, evenness NULL (ln 1 = 0)
    val one = Seq("a", "a", "a").toDF("src")
    val r1 = graft.api.Graft.entropyBalance(one, "src").head()
    assert(r1.getDouble(3) == 0.0 && r1.isNullAt(4))
  }

  test("Graft.filteredTopk: neighbors restricted to the key group") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f), "en"), (2L, Array(0.9f, 0.1f, 0f), "en"),
      (3L, Array(1f, 0f, 0f), "de"), (4L, Array(0f, 1f, 0f), "en"))
      .toDF("id", "emb", "lang")
    val q = corpus.where(col("id") === 1L)
    val r = graft.api.Graft.filteredTopk(corpus, q, "id", "emb", "lang", k = 2)
      .collect()
    // doc 3 is the identical vector but lives in 'de' — the filter drops
    // it; doc 2 (cos .9939) then doc 4 (cos 0) fill the k=2 window
    assert(r.map(_.getLong(2)).toSeq == Seq(2L, 4L), s"got ${r.toSeq}")
    assert(r.forall(_.getString(3) == "en"))
    assert(r.map(_.getInt(1)).toSeq == Seq(1, 2))
  }

  test("Graft.ksDrift: 0 on identical samples, 1 on disjoint ones") {
    import spark.implicits._
    // identical distributions → every cumA*nB == cumB*nA → KS = 0
    val same = (1 to 50).flatMap(i => Seq((true, i.toDouble), (false, i.toDouble)))
      .toDF("arm", "v")
    val r0 = graft.api.Graft.ksDrift(same, col("arm"), col("v")).head()
    assert(r0.getLong(2) == 0L && r0.getDouble(3) == 0.0)
    // fully separated supports → KS = 1 exactly
    val split = ((1 to 30).map(i => (true, i.toDouble)) ++
      (101 to 140).map(i => (false, i.toDouble))).toDF("arm", "v")
    val r1 = graft.api.Graft.ksDrift(split, col("arm"), col("v")).head()
    assert(r1.getLong(0) == 30L && r1.getLong(1) == 40L)
    assert(r1.getLong(2) == 1000000L && r1.getDouble(3) == 1.0)
  }

  test("curation facade: bm25Search, dsirWeights, mixTemperature, " +
    "adamicAdar, embeddingCovariance, pcaSpectrum ≡ their registry queries") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bm = graft.api.Graft.bm25Search(docs, "doc_id", "text",
      Seq("hash", "join", "stream")).collect().map(_.toString)
    assert(bm sameElements
      SparkEntry.queries("text_bm25_search")(spark, sf).collect().map(_.toString))
    val ds = graft.api.Graft.dsirWeights(docs, "doc_id", "text", "lang", "en")
      .collect().map(_.toString)
    assert(ds sameElements SparkEntry.queries("pipeline_dsir_weights")(spark, sf)
      .collect().map(_.toString))
    val mx = graft.api.Graft.mixTemperature(docs, "source", "text")
      .collect().map(_.toString)
    assert(mx sameElements SparkEntry.queries("pipeline_mix_temperature")(
      spark, sf).collect().map(_.toString))
    val es = graft.api.Graft.dsirEss(docs, "doc_id", "text", "lang", "en")
      .collect().map(_.toString)
    assert(es sameElements SparkEntry.queries("pipeline_dsir_ess")(spark, sf)
      .collect().map(_.toString))
    val ep = graft.api.Graft.epochPlan(docs, "source", "text")
      .collect().map(_.toString)
    assert(ep sameElements SparkEntry.queries("pipeline_epoch_plan")(spark, sf)
      .collect().map(_.toString))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cv = graft.api.Graft.embeddingCovariance(emb, "vec_id", "embedding")
      .collect().map(_.toString)
    assert(cv sameElements SparkEntry.queries("embed_covariance")(spark, sf)
      .collect().map(_.toString))
    val pc = graft.api.Graft.pcaSpectrum(emb, "vec_id", "embedding")
      .collect().map(_.toString)
    assert(pc sameElements SparkEntry.queries("embed_pca_variance")(spark, sf)
      .collect().map(_.toString))
    // star 5—{1,2,3} + edge 1—2 (see CurationSpec hand trace)
    import spark.implicits._
    val aa = graft.api.Graft.adamicAdar(
        Seq((5L, 1L), (5L, 2L), (5L, 3L), (1L, 2L)).toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2))
    val w5 = 1000000000000L / math.floor(math.log(3.0) * 1e6 + 0.5).toLong
    assert(aa.toSeq == Seq((1L, 3L, w5, 1L), (2L, 3L, w5, 1L)))
    val jc = graft.api.Graft.jaccardLinkpred(
        Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(jc.toSeq == Seq((1L, 3L, 1000000L, 1L)))
    val mm = graft.api.Graft.mmrRerank(emb, emb.where(col("vec_id") < 3),
      "vec_id", "embedding").collect().map(_.toString)
    assert(mm sameElements SparkEntry.queries("embed_mmr_rerank")(spark, sf)
      .collect().map(_.toString))
  }

  test("lifecycle facade methods ≡ their registry queries") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
    val normText = regexp_replace(lower(trim(col("text"))), "\\s+", " ")

    val js = graft.api.Graft.joinSizeAudit(li, "l_orderkey", ord, "o_orderkey")
      .collect().map(_.toString)
    assert(js sameElements SparkEntry.queries("agg_join_size_audit")(spark, sf)
      .collect().map(_.toString))

    val wz = graft.api.Graft.winsorize(docs, "source", "n_chars")
      .collect().map(_.toString)
    assert(wz sameElements SparkEntry.queries("agg_winsorize")(spark, sf)
      .collect().map(_.toString))

    val ra = graft.api.Graft.raterAgreement(docs,
      col("n_chars") >= 240, size(split(normText, " ")) >= 40)
      .collect().map(_.toString)
    assert(ra sameElements SparkEntry.queries("agg_rater_agreement")(spark, sf)
      .collect().map(_.toString))

    val old = docs.where(col("doc_id") % 10 < 8)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [v1]")))
          .otherwise(col("text")).as("payload"), col("n_chars"))
    val nw = docs.where(col("doc_id") % 10 =!= 1)
      .select(col("doc_id"), col("source"), col("text").as("payload"),
        col("n_chars"))
    val sd = graft.api.Graft.snapshotDiff(old, nw, "doc_id", "source",
      "payload", "n_chars").collect().map(_.toString)
    assert(sd sameElements SparkEntry.queries("pipeline_snapshot_diff")(
      spark, sf).collect().map(_.toString))
  }

  test("audit/lifecycle facade round-9 methods ≡ their registry queries") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
    val ev = graft.util.Canon.events(spark, sf)

    val th = graft.api.Graft.theilInequality(docs, "source", "n_chars")
      .collect().map(_.toString)
    assert(th sameElements SparkEntry.queries("agg_theil_inequality")(spark, sf)
      .collect().map(_.toString))

    val bf = graft.api.Graft.benfordAudit(ord,
      floor(col("o_totalprice") * 100 + 0.5)).collect().map(_.toString)
    assert(bf sameElements SparkEntry.queries("agg_benford_audit")(spark, sf)
      .collect().map(_.toString))

    val pf = graft.api.Graft.profileColumns(ord,
      Seq("o_orderstatus", "o_orderpriority", "o_orderkey", "o_custkey"))
      .collect().map(_.toString)
    assert(pf sameElements SparkEntry.queries("pipeline_profile_columns")(
      spark, sf).collect().map(_.toString))

    val gi = graft.api.Graft.gapsIslands(ev, "user_id", "ts")
      .collect().map(_.toString)
    assert(gi sameElements SparkEntry.queries("win_gaps_islands")(spark, sf)
      .collect().map(_.toString))

    val Array(mn, mx) = ev
      .agg(min(unix_millis(date_trunc("millisecond", col("ts")))),
        max(unix_millis(date_trunc("millisecond", col("ts")))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val pit = graft.api.Graft.scd2PointInTime(ev, "user_id", "event_type",
      "event_id", "ts", "value", (mn + mx) / 2).collect().map(_.toString)
    assert(pit sameElements SparkEntry.queries("scd2_point_in_time")(spark, sf)
      .collect().map(_.toString))

    val cdc = graft.api.Graft.cdcApplyDeletes(ev, "user_id", "event_id",
      "ts", "value", col("event_type") === "error").collect().map(_.toString)
    assert(cdc sameElements SparkEntry.queries("cdc_apply_deletes")(spark, sf)
      .collect().map(_.toString))
  }

  test("drift/vote facade methods ≡ their registry queries") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val normText = regexp_replace(lower(trim(col("text"))), "\\s+", " ")

    val psi = graft.api.Graft.psiDrift(docs,
      least(expr("n_chars div 100"), lit(9L)), col("doc_id") % 2 === 0)
      .collect().map(_.toString)
    assert(psi sameElements SparkEntry.queries("agg_psi_drift")(spark, sf)
      .collect().map(_.toString))

    val js = graft.api.Graft.jsDivergence(docs, col("lang"),
      col("doc_id") % 2 === 0).collect().map(_.toString)
    assert(js sameElements SparkEntry.queries("agg_js_divergence")(spark, sf)
      .collect().map(_.toString))

    val cv = graft.api.Graft.cramersV(docs, "lang", "source")
      .collect().map(_.toString)
    assert(cv sameElements SparkEntry.queries("agg_cramers_v")(spark, sf)
      .collect().map(_.toString))

    val tk = split(normText, " ")
    val lv = graft.api.Graft.labelVote(docs, Seq(
      "len_240" -> (col("n_chars") >= 240),
      "tok_40" -> (size(tk) >= 40),
      "ttr_50" -> (size(array_distinct(tk)).cast("long") * 2 >=
        size(tk).cast("long")))).collect().map(_.toString)
    assert(lv sameElements SparkEntry.queries("pipeline_label_vote")(spark, sf)
      .collect().map(_.toString))

    val mw = graft.api.Graft.mannWhitneyU(
      docs.where(col("lang").isin("en", "fr") && col("n_chars").isNotNull),
      col("lang") === "en", col("n_chars")).collect().map(_.toString)
    assert(mw sameElements SparkEntry.queries("agg_mannwhitney_u")(spark, sf)
      .collect().map(_.toString))

    val sp = graft.api.Graft.spearmanCorr(
      docs.select(col("lang"), col("n_chars"),
        size(tk).cast("long").as("tok")),
      "lang", "n_chars", "tok").collect().map(_.toString)
    assert(sp sameElements SparkEntry.queries("agg_spearman_corr")(spark, sf)
      .collect().map(_.toString))
  }

  test("functions.cmsSketch + cmsEstimate ≡ the registry CMS estimates") {
    import graft.api.functions.{cmsSketch, cmsEstimate}
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val sk = ev.agg(cmsSketch(col("user_id")).as("sk"))
    val got = ev.where(col("user_id") < 10).select("user_id").distinct()
      .crossJoin(sk)
      .select(col("user_id"), cmsEstimate(col("sk"), col("user_id")).as("est"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val reg = SparkEntry.queries("agg_cms_freq")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == reg, s"facade=$got registry=$reg")
  }

  test("Graft.connectedComponents: hand-traced two-component graph") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("x", "y")
    val got = graft.api.Graft.connectedComponents(e, "x", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)),
      got.mkString(","))
  }

  test("Graft.trainPerceptron ≡ the registry trainer on the fixture corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (_, _, stats) = graft.api.Graft.trainPerceptron(
      docs, "doc_id", "text", col("lang") === "en")
    val reg = SparkEntry.queries("pipeline_train_classifier")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(stats == reg.toSeq, s"facade=$stats registry=${reg.toSeq}")
  }

  test("Graft.rrfFuse: hand-traced fusion of two ranked lists") {
    import spark.implicits._
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "rank")
    val b = Seq((2L, 1L), (4L, 2L)).toDF("id", "rank")
    val got = graft.api.Graft.rrfFuse(Seq(a, b), "id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // 1e9 div (60+r): r=1→16393442, r=2→16129032, r=3→15873015
    assert(got.toSeq == Seq(
      (2L, 16393442L + 16129032L), (1L, 16393442L),
      (4L, 16129032L), (3L, 15873015L)), got.mkString(","))
  }

  test("Graft.lshTuning and Graft.assortativity on synthetic inputs") {
    import spark.implicits._
    val sims = Seq(0.95, 0.85, 0.5, 0.1).toDF("jaccard")
    val rows = graft.api.Graft.lshTuning(sims, "jaccard").collect()
    assert(rows.length == 4)
    def chain(x: Double, k: Int): Double = k match {
      case 1 => x; case 2 => x * x; case 4 => (x * x) * (x * x)
      case 8 => ((x * x) * (x * x)) * ((x * x) * (x * x))
      case 16 => (((x * x) * (x * x)) * ((x * x) * (x * x))) *
        (((x * x) * (x * x)) * ((x * x) * (x * x)))
    }
    for (r <- rows) {
      val (b, rr) = (r.getInt(0), r.getInt(1))
      def pe(s: Double) = math.floor(
        (1.0 - chain(1.0 - chain(s, rr), b)) * 1000000000L + 0.5).toLong
      assert(r.getLong(2) == 4L && r.getLong(3) == 2L)
      assert(r.getLong(4) == pe(0.95) + pe(0.85))
      assert(r.getLong(5) == pe(0.5) + pe(0.1))
    }

    val edges = Seq((10L, 20L), (10L, 30L), (20L, 30L), (30L, 40L))
      .toDF("src", "dst")
    val as1 = graft.api.Graft.assortativity(edges, "src", "dst")
      .collect().head
    assert(as1.getLong(0) == 4L && as1.getLong(1) == 4L)
    assert(!as1.isNullAt(2))
  }

  test("Graft.bpeTokenCount ≡ the registry's per-doc BPE counts") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val viaApi = docs.select(col("doc_id"),
      graft.api.Graft.bpeTokenCount(col("text")).as("n_bpe"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaQuery = SparkEntry.queries("text_token_count_bpe")(spark, sf)
      .select("doc_id", "n_bpe").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaApi === viaQuery)
  }

  test("Graft.localClustering and Graft.embeddingNormStats ≡ registry queries") {
    val lc = graft.api.Graft.localClustering(
      graft.ops.Graph.coocEdges(spark, "/root/testdata/sf0.01"), "a", "b")
      .collect().map(_.toString)
    assert(lc sameElements
      SparkEntry.queries("graph_local_clustering")(spark,
        "/root/testdata/sf0.01").collect().map(_.toString))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val ns = graft.api.Graft.embeddingNormStats(emb, "label", "embedding")
      .collect().map(_.toString)
    assert(ns sameElements SparkEntry.queries("embed_norm_stats")(spark, sf)
      .collect().map(_.toString))
  }

  test("Graft.forecast emits horizon rows per key") {
    val hourly = graft.util.Canon.events(spark, sf)
      .resample("user_id", "ts", "value", "1 hour")
    val keys = hourly.select("user_id").distinct().count()
    val fc = graft.api.Graft.forecast(hourly, "user_id", "bucket", "value", horizon = 12)
    // fitPredict skips series too short to fit; every emitted key has 12 rows
    val perKey = fc.groupBy("user_id").count().select("count").distinct().collect()
    assert(perKey.length == 1 && perKey.head.getLong(0) == 12L)
    assert(fc.count() > 0 && fc.count() <= keys * 12)
  }

  test("round-10 facade methods ≡ their registry queries") {
    import graft.api.Graft
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // kmeansExact ≡ embed_kmeans_slice (same slice, k, iters)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .where(col("vec_id") < 256)
    assert(rows(Graft.kmeansExact(emb, "vec_id", "embedding", 4, 3)) ==
      rows(SparkEntry.queries("embed_kmeans_slice")(spark, sf)))
    // approxPercentileAudit ≡ agg_approx_percentile_audit
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    assert(rows(Graft.approxPercentileAudit(orders, "o_orderstatus",
        "o_totalprice")) ==
      rows(SparkEntry.queries("agg_approx_percentile_audit")(spark, sf)))
    // the two Prophet modes through the facade: capacity containment /
    // multiplicative identity on the real hourly series, caller-named keys
    val hourly = graft.util.Canon.events(spark, sf)
      .resample("user_id", "ts", "value", "1 hour")
    val lg = Graft.forecastLogistic(hourly, "user_id", "bucket", "value", 6)
    assert(lg.count() > 0 &&
      lg.where(col("yhat") > col("cap") ||
        col("yhat_upper") > col("cap") || col("yhat_lower") <= 0).count() == 0)
    val ml = Graft.forecastMultiplicative(hourly, "user_id", "bucket",
      "value", 6)
    assert(ml.count() > 0 && ml.where(
      abs(col("yhat") - col("trend") * col("seasonal_factor")) >
        lit(1e-3) * greatest(lit(1.0), abs(col("yhat")))).count() == 0)
  }

  test("round-10b facade: releaseIntrinsics/releaseAudit/forecastSkillCheck") {
    import graft.api.Graft
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bench = docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("bench_id"), array_distinct(split(
        regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")).as("bst"))
    val man = Graft.releaseIntrinsics(docs, bench)
    assert(man.columns.toSeq ==
      Seq("doc_id", "lang", "source", "tok", "g", "cont", "q4"))
    assert(man.count() == docs.count())
    // audit tail over a no-dedup manifest: stage rows must be present,
    // monotone non-increasing, and conserve the input count
    val flags = man
      .withColumn("k1", col("g")).withColumn("k2", col("k1"))
      .withColumn("k3", col("k2") && col("doc_id") >= 5 && !col("cont"))
      .withColumn("k4", col("k3") && col("q4"))
      .select("doc_id", "lang", "source", "tok", "k1", "k2", "k3", "k4")
    val audit = Graft.releaseAudit(flags).collect()
    val byStage = audit.map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(byStage.keySet.count(_.startsWith("7_shard_")) > 0)
    val chain = Seq("1_gopher", "2_neardup", "3_decontaminate", "4_quality",
      "5_mix").map(byStage)
    assert(chain.zip(chain.tail).forall { case (a, b) => b <= a },
      s"stage rows_out must be non-increasing: $chain")
    assert(audit.find(_.getString(0) == "1_gopher").get.getLong(1) ==
      docs.count())
    // per-series skill diagnostics through the facade, caller-named key
    val sk = Graft.forecastSkillCheck(graft.util.Canon.events(spark, sf)
        .resample("user_id", "ts", "value", "1 hour"),
      "user_id", "bucket", "value")
    assert(sk.columns.contains("user_id") && sk.count() > 0)
    assert(sk.where(col("naive_num") <= 0L).count() == 0)
  }

  test("facade: releaseRejectionReasons matches pipeline_rejection_reasons") {
    import graft.api.Graft
    val a = Graft.releaseRejectionReasons(
        graft.ops.Pipeline.releaseFlagManifest(spark, sf))
      .collect().map(_.toString).toSeq
    val b = SparkEntry.queries("pipeline_rejection_reasons")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("release state lifecycle: two chained increments ≡ one-shot e2e") {
    // Bootstrap on the first half, fold in two quarter-increments, serve
    // from state alone (no corpus scan) — must equal the full one-shot
    // composition over the whole corpus. This is the chained-increments
    // equivalence a standing release platform depends on (the release-level
    // twin of the neardup state-refresh proof).
    import graft.ops.Pipeline
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val mx = docs.agg(max("doc_id")).head().getLong(0) + 1
    val (c1, c2) = (mx / 2, mx * 3 / 4)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_release_state").toString
    Pipeline.releaseStateWrite(docs.where(col("doc_id") < c1), dir)
    Pipeline.releaseStateRefresh(
      docs.where(col("doc_id") >= c1 && col("doc_id") < c2), dir)
    Pipeline.releaseStateRefresh(docs.where(col("doc_id") >= c2), dir)
    val served = Pipeline.releaseServe(spark, dir)
      .collect().map(_.toString).toSeq
    val e2e = SparkEntry.queries("pipeline_release_e2e")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(served == e2e)
  }
}
