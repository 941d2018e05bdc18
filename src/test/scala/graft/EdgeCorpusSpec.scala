package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Degenerate-corpus robustness for the big compositions: a 100 TB platform
  * routinely sees an EMPTY increment (a crawl slice with nothing new) and
  * near-empty slices (a single surviving doc), and the release/dedup chains
  * must return well-formed audits — not throw in the vocabulary probe, the
  * broadcast pair join, or the unguarded head() of a global aggregate.
  * These run the REGISTERED queries against a corpus written with the real
  * documents schema (sliced from the sf0.001 fixture), so every stage of
  * the composition — not a hand-built core — sees the degenerate input. */
class EdgeCorpusSpec extends AnyFunSuite {
  import TestSession._

  /** Write a documents-only testdata dir holding the given slice. */
  private def corpusDir(tag: String)(slice: org.apache.spark.sql.DataFrame
      => org.apache.spark.sql.DataFrame): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_edge_$tag"
    slice(spark.read.parquet(s"$sf/documents.parquet"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("pipeline_release_e2e on an EMPTY corpus: six all-zero stage rows") {
    val d = corpusDir("empty")(_.where(lit(false)))
    val rows = SparkEntry.queries("pipeline_release_e2e")(spark, d).collect()
    // no shards survive, so exactly the six stage-audit rows remain
    assert(rows.length == 6)
    assert(rows.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L &&
      r.getLong(3) == 0L))
  }

  test("pipeline_release_e2e on a single-doc corpus: audit stays coherent") {
    val d = corpusDir("one")(_.where(col("doc_id") === 7))
    val rows = SparkEntry.queries("pipeline_release_e2e")(spark, d).collect()
    val byStage = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // chain property: each stage's rows_in equals the previous rows_out,
    // starting from the 1-doc corpus
    assert(byStage("1_gopher")._1 == 1L)
    val order = Seq("1_gopher", "2_neardup", "3_decontaminate", "4_quality",
      "5_mix", "6_pack")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(byStage(b)._1 == byStage(a)._2, s"$b.rows_in != $a.rows_out")
    }
  }

  test("pipeline_neardup_full on EMPTY and single-doc corpora") {
    val dEmpty = corpusDir("nd_empty")(_.where(lit(false)))
    assert(SparkEntry.queries("pipeline_neardup_full")(spark, dEmpty)
      .collect().isEmpty)
    val dOne = corpusDir("nd_one")(_.where(col("doc_id") === 3))
    val one = SparkEntry.queries("pipeline_neardup_full")(spark, dOne).collect()
    assert(one.length == 1)
  }

  test("pipeline_train_classifier + eval on an EMPTY corpus: zero-doc fixpoint") {
    // an empty crawl increment must train to the zero model, not throw in
    // the epoch aggregates or the model collect
    val d = corpusDir("train_empty")(_.where(lit(false)))
    val rows = SparkEntry.queries("pipeline_train_classifier")(spark, d)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((1, 0L, 0L, 0L), (2, 0L, 0L, 0L), (3, 0L, 0L, 0L)))
    val ev = SparkEntry.queries("pipeline_classifier_eval")(spark, d).collect()
    assert(ev.length == 1 && ev(0).getLong(0) == 0L)
  }

  test("neardupLabelsFromDocs: empty input yields empty labels via the " +
      "bitmask route (vocab probe and pair join must tolerate zero sets)") {
    val empty = spark.read.parquet(s"$sf/documents.parquet")
      .where(lit(false)).select(col("doc_id"), col("text"))
    val (labels, _) = ops.TextDedup.neardupLabelsFromDocs(empty)
    assert(labels.collect().isEmpty)
  }

  test("releaseStateRefresh with an EMPTY crawl increment is a no-op: " +
      "served audit identical before and after") {
    // The realistic standing-platform edge: a crawl slice lands with
    // nothing new. The refresh must neither corrupt the near-dup state
    // nor change the served release.
    import graft.ops.Pipeline
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_release_empty_inc").toString
    Pipeline.releaseStateWrite(docs.where(col("doc_id") < 200), dir)
    val before = Pipeline.releaseServe(spark, dir)
      .collect().map(_.toString).toSeq
    Pipeline.releaseStateRefresh(docs.where(lit(false)), dir)
    val after = Pipeline.releaseServe(spark, dir)
      .collect().map(_.toString).toSeq
    assert(after == before)
    // and a real increment on top of the empty one still folds in cleanly
    Pipeline.releaseStateRefresh(
      docs.where(col("doc_id") >= 200 && col("doc_id") < 260), dir)
    val grown = Pipeline.releaseServe(spark, dir)
      .collect().map(_.toString).toSeq
    val oneShot = ops.Pipeline.queries("pipeline_release_e2e")(spark,
      corpusDir("inc_260")(_.where(col("doc_id") < 260)))
      .collect().map(_.toString).toSeq
    assert(grown == oneShot)
  }

  /** Write an embeddings-only testdata dir holding the given slice. */
  private def embeddingsDir(tag: String)(slice: org.apache.spark.sql.DataFrame
      => org.apache.spark.sql.DataFrame): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_edge_$tag"
    slice(spark.read.parquet(s"$sf/embeddings.parquet"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  // every id behind the seeded-Lloyd quantizer, whose K seeds are the K
  // lowest vec_ids: a corpus with fewer than K vectors must train fewer
  // lists, not index past the seeds
  private val ivfTopk = Seq("sim_ivf_ann", "sim_ivf_scaled", "sim_ann_filtered",
    "sim_ivfpq_ann", "sim_ivfpq_served", "sim_ann_append")

  test("IVF ids and Graft.annIndex on an EMPTY embeddings corpus: no rows") {
    val d = embeddingsDir("emb_empty")(_.where(lit(false)))
    for (id <- ivfTopk :+ "embed_kmeans" :+ "sim_mllib_lsh")
      assert(SparkEntry.queries(id)(spark, d).collect().isEmpty, id)
    // the whole-family audit reads an empty exact reference: zero rows,
    // no id checksum, and every member's 0 hits meet 0 · pct
    val audit = SparkEntry.queries("sim_ann_recall_audit")(spark, d).collect()
    assert(audit.length == 1, audit.mkString)
    assert(audit(0).getLong(0) == 0L && audit(0).isNullAt(1))
    assert((2 until audit(0).length).forall(audit(0).getBoolean))
    assert(graft.api.Graft.annIndex(
      spark.read.parquet(s"$d/embeddings.parquet")).isEmpty)
  }

  test("IVF ids and Graft.annIndex on a 3-vector corpus (fewer vectors " +
      "than lists): well-formed top-k rows") {
    val d = embeddingsDir("emb_three")(_.where(col("vec_id") < 3))
    def checkTopk(id: String, rows: Array[org.apache.spark.sql.Row]): Unit = {
      val byQ = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"))).groupBy(_._1)
      assert(byQ.keySet.subsetOf(Set(0L, 1L, 2L)), id)
      for ((q, rs) <- byQ) {
        assert(rs.map(_._2).sorted.toSeq == (1 to rs.length), s"$id ranks of $q")
        assert(rs.forall(r => r._3 != q && r._3 >= 0L && r._3 < 3L), s"$id ids of $q")
      }
    }
    for (id <- ivfTopk) {
      val rows = SparkEntry.queries(id)(spark, d).collect()
      checkTopk(id, rows)
      // these probe every list a 3-vector corpus trains: each query
      // ranks both other vectors
      if (Set("sim_ivf_ann", "sim_ivfpq_ann", "sim_ivfpq_served",
          "sim_ann_append")(id)) assert(rows.length == 6, id)
    }
    val km = SparkEntry.queries("embed_kmeans")(spark, d).collect()
    assert(km.nonEmpty && km.length <= 3 && km.map(_.getLong(1)).sum == 3L)
    val audit = SparkEntry.queries("sim_ann_recall_audit")(spark, d).collect()
    assert(audit.length == 1 && audit(0).getLong(0) == 6L &&
      audit(0).getLong(1) == 6L)
    val e = spark.read.parquet(s"$d/embeddings.parquet")
    val idx = graft.api.Graft.annIndex(e).get
    val nbrs = idx.topk(e, e).collect()
    checkTopk("AnnIndex.topk", nbrs)
    assert(nbrs.length == 6)
  }
}
