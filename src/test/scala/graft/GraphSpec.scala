package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Structural properties of the graph family that the oracle hash-match
  * can't see: conservation laws, cross-operator consistency, and a
  * brute-force triangle recount. */
class GraphSpec extends AnyFunSuite {
  import TestSession._
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("cooc cell cap: never binds on the fixture; capped == uncapped; " +
      "a synthetic hot cell is bounded to C(cap,2)") {
    import spark.implicits._
    // gate (r15): the fixture's densest cell must sit BELOW the cap, so
    // every cooc-fed oracle hash equals the uncapped replay bit-for-bit
    val audit = q("graph_cooc_cap_audit").head()
    assert(audit.getAs[Long]("cap_binds") == 0L,
      s"cap binds on fixture: max_cell=${audit.getAs[Long]("max_cell_users")}")
    // and the capped builder is literally the identity vs uncapped here
    val capped = graft.ops.Graph.coocEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = graft.ops.Graph.coocEdges(spark, sf, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped, "cap changed the fixture edge set")
    // hot cell: 1000 users in ONE (event_type, minute) cell must emit
    // exactly C(cap,2) pairs, not C(1000,2) = 499,500
    val hot = spark.range(1000).select(col("id").as("user_id"),
      lit("viral").as("event_type"),
      lit(java.sql.Timestamp.valueOf("2024-06-01 12:34:00")).as("ts"))
    val cap = graft.ops.Graph.CoocCellCap.toLong
    assert(graft.ops.Graph.coocEdgesCore(hot).count() == cap * (cap - 1) / 2)
  }

  test("graph_pagerank: integer mass is conserved up to division loss") {
    val rows = q("graph_pagerank").collect()
    val n = rows.length
    assert(n > 0)
    assert(rows.forall(_.getLong(2) > 0L), "non-positive PageRank mass")
    val total = rows.map(_.getLong(2)).sum
    // every integer division discards < 1 unit of scaled mass: the initial
    // split loses < n, each of 5 rounds loses < 1 per directed edge
    // (contribution div) + < 2 per node (the two damping divs). With
    // E ≤ n² the bound below is loose but safe at fixture sizes.
    assert(total <= 1000000000000L, s"mass grew: $total")
    val edges = 2L * 1000000 // loose directed-edge cap for sf0.001
    val lossBound = n + 5L * (edges + 2L * n)
    assert(total >= 1000000000000L - lossBound,
      s"mass lost beyond division-loss bound: $total")
    // bipartite sanity: both node kinds present, keys are original ids
    val kinds = rows.map(_.getString(0)).toSet
    assert(kinds == Set("supplier", "customer"))
  }

  test("graph_pagerank: a customer with more suppliers outranks one with fewer") {
    val pr = q("graph_pagerank").collect()
      .filter(_.getString(0) == "customer")
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    val deg = spark.read.parquet(s"$sf/lineitem.parquet")
      .join(spark.read.parquet(s"$sf/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"), col("o_custkey")).distinct()
      .groupBy("o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDeg = deg.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    val degs = byDeg.keys.toSeq.sorted
    if (degs.length >= 2) {
      // compare the MEAN pr of the highest- vs lowest-degree customers:
      // individual inversions are possible through 2-hop effects, the
      // aggregate tilt is not
      val lo = byDeg(degs.head).map(pr).map(_.toDouble)
      val hi = byDeg(degs.last).map(pr).map(_.toDouble)
      assert(hi.sum / hi.length > lo.sum / lo.length,
        "higher-degree customers do not outrank lower-degree ones on average")
    }
  }

  test("graph_triangle_count matches a brute-force recount; handshake holds") {
    val row = q("graph_triangle_count").head()
    val (nNodes, nEdges, nWedges, nTri) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    // rebuild the co-occurrence edge set exactly as the operator defines it
    val ev = graft.util.Canon.events(spark, sf)
      .select(col("user_id").as("u"), col("event_type"),
        date_trunc("minute", col("ts")).as("w")).distinct().collect()
      .map(r => (r.getLong(0), r.getString(1), r.get(2).toString))
    val cells = ev.groupBy(t => (t._2, t._3)).values
    val edges = cells.flatMap { us =>
      val ids = us.map(_._1).distinct.sorted
      for (i <- ids.indices; j <- i + 1 until ids.length)
        yield (ids(i), ids(j))
    }.toSet
    assert(edges.size.toLong == nEdges, s"${edges.size} vs $nEdges")
    val nbrs = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(nbrs.size.toLong == nNodes)
    val wedges = nbrs.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    assert(wedges == nWedges)
    val tri = edges.toSeq.map { case (a, b) =>
      nbrs(a).intersect(nbrs(b)).count(c => c > b)
    }.sum
    assert(tri.toLong == nTri, s"brute-force $tri vs operator $nTri")
  }

  test("triangle census: degree-order orientation ≡ id-order orientation") {
    import spark.implicits._
    // A wheel graph (hub 0 adjacent to all 12 rim nodes, rim a cycle) is
    // exactly the heavy-hitter shape degree ordering exists for: under id
    // order the hub sources 12 out-edges (66 wedge pairs through one
    // node); under degree order it sources none. The census — one
    // triangle per rim edge — must be identical either way.
    val wheel = ((1L to 12L).map(i => (0L, i)) ++
      (1L to 12L).map(i => (math.min(i, i % 12 + 1), math.max(i, i % 12 + 1))))
      .toDF("a", "b")
    val byDeg = graft.ops.Graph.triangleCensusCore(wheel).head()
    val byId = graft.ops.Graph.triangleCensusCore(wheel, byDegree = false).head()
    assert(byDeg == byId, s"degree-order census $byDeg != id-order $byId")
    assert(byDeg.getLong(3) == 12L, "wheel must have 12 triangles")
    assert(byDeg.getLong(0) == 13L && byDeg.getLong(1) == 24L)
    // and on a deterministic pseudo-random graph (no hand-checkable
    // answer — pure orientation-invariance)
    val rnd = (for {
      a <- 0L until 40L; b <- a + 1 until 40L
      if (a * 31 + b) * 2654435761L % 97 < 30
    } yield (a, b)).toDF("a", "b")
    val rd = graft.ops.Graph.triangleCensusCore(rnd).head()
    val ri = graft.ops.Graph.triangleCensusCore(rnd, byDegree = false).head()
    assert(rd == ri, s"degree-order census $rd != id-order $ri")
    assert(rd.getLong(3) > 0L, "fixture graph should contain triangles")
  }

  test("graph_kcore: pendant chains peel away, the triangle survives") {
    import spark.implicits._
    // path 1-2-3-4-5 fully peels within 3 rounds (endpoints first, then
    // inward); the triangle's nodes hold degree 2 through every round
    val e = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)) ++
      Seq((10L, 11L), (10L, 12L), (11L, 12L))).toDF("a", "b")
    val core = graft.ops.Graph.kcoreCore(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(10L -> 2L, 11L -> 2L, 12L -> 2L), s"got $core")
    // the registered 5-round prefix has reached the fixpoint on the
    // fixture graph: one more peel round changes nothing
    val q5 = q("graph_kcore").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q6 = graft.ops.Graph.kcoreCore(
        graft.ops.Graph.coocEdges(spark, sf), 2, 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(q5 == q6, "5-round peel has not converged on the fixture")
  }

  test("graph_degree_distribution is consistent with the triangle census") {
    val census = q("graph_triangle_count").head()
    val dist = q("graph_degree_distribution").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // handshake lemma: Σ deg·count = 2·|E|; node total matches
    assert(dist.map { case (d, c) => d * c }.sum == 2 * census.getLong(1))
    assert(dist.map(_._2).sum == census.getLong(0))
  }

  test("graph_label_propagation: barbell communities converge deterministically") {
    import spark.implicits._
    // two 4-cliques {0..3} and {10..13} joined by the single bridge 3–10:
    // hand-traced synchronous LPA (min tie-break) settles clique A on 0 and
    // clique B on 10 after 3 rounds, bridge endpoints included
    val cliques = for {
      base <- Seq(0L, 10L); i <- 0 to 3; j <- i + 1 to 3
    } yield (base + i, base + j)
    val edges = (cliques :+ (3L, 10L)).toDF("a", "b")
    def run() = graft.ops.Graph.lpaCore(edges, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lab = run()
    assert(lab.size == 8)
    assert((0L to 3L).forall(n => lab(n) == 0L), s"clique A: $lab")
    assert((10L to 13L).forall(n => lab(n) == 10L), s"clique B: $lab")
    assert(lab == run(), "LPA is not deterministic across runs")
    // fixture path: empty graph at sf0.001 → empty result, not a crash
    val fix = q("graph_label_propagation").collect()
    assert(fix.forall(r => r.getLong(0) >= 0))
  }

  test("graph_resource_allocation: degree-weighted support, non-edges only") {
    val rows = q("graph_resource_allocation").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // RA is bounded by its unweighted count: each shared neighbor adds
    // at most 1e9//1 and at least 1e9//deg_max > 0
    rows.foreach { case (_, _, ra, nc) =>
      assert(ra > 0 && ra <= nc * 1000000000L)
    }
    // top-20 ordering holds
    assert(rows.map(-_._3).sameElements(rows.map(-_._3).sorted))
    // hand-traced graph: path 1-2-3 (deg(2)=2) plus triangle 10-11-12.
    // Only (1,3) is a non-adjacent pair with a shared neighbor:
    // ra = 1e9 div 2; the triangle's wedge pairs are all real edges.
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L))
      .toDF("a", "b")
    val out = graft.ops.Graph.raCore(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 3L, 500000000L, 1L)), out.mkString(","))
  }

  test("graph_common_neighbors predicts only NON-edges with real support") {
    val preds = q("graph_common_neighbors").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // sf0.001's co-occurrence graph is empty → no wedges, no predictions;
    // the sf0.01/sf0.1 oracle gate covers the populated case
    assert(preds.forall(p => p._1 < p._2 && p._3 >= 1))
    val ev = graft.util.Canon.events(spark, sf)
      .select(col("user_id").as("u"), col("event_type"),
        date_trunc("minute", col("ts")).as("w")).distinct()
    val e2 = ev.select(col("u").as("v"), col("event_type"), col("w"))
    val edges = ev.join(e2, Seq("event_type", "w"))
      .where(col("u") < col("v"))
      .select(col("u"), col("v")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(preds.forall(p => !edges.contains((p._1, p._2))),
      "predicted a pair that is already an edge")
  }

  test("graph_modularity: exact rational on two bridged triangles") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} joined by the bridge 3-4
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L),
      (6L, 2L)).toDF("node", "lbl")
    val r = graft.ops.Graph.modularityCore(edges, labels).collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 7L && r.getLong(2) === 6L)
    // Q = (4m·e_in − Σd_c²) / 4m² = (168 − 98) / 196 = 0.357142…
    assert(r.getDouble(3) === math.floor(70.0 / 196.0 * 10000 + 0.5) / 10000.0)
    // perfect split of two disconnected triangles maximizes at Q = 0.5
    val e2 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L))
      .toDF("a", "b")
    val r2 = graft.ops.Graph.modularityCore(e2, labels).collect().head
    assert(r2.getDouble(3) === 0.5)
  }

  test("graph_local_clustering: exact lcc on star-plus-triangle") {
    import spark.implicits._
    // star center 0 with leaves 1..4, plus edge 1-2 closing one triangle
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (1L, 2L))
      .toDF("a", "b")
    val rows = graft.ops.Graph.localClusteringCore(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toMap
    // center: deg 4, 1 triangle of 6 possible pairs → lcc = 2/12
    assert(rows(0L)._1 == 4L && rows(0L)._2 == 1L)
    assert(rows(0L)._3 === math.floor(2.0 / 12.0 * 10000 + 0.5) / 10000.0)
    // nodes 1 and 2: deg 2, the one wedge is closed → lcc = 1
    assert(rows(1L)._3 === 1.0 && rows(2L)._3 === 1.0)
    // leaves 3, 4: deg 1 → lcc undefined (null)
    assert(rows(3L)._3.isNaN && rows(4L)._3.isNaN)
  }

  test("graph_modularity: registry query bounded and consistent with LPA") {
    val r = q("graph_modularity").collect().head
    if (r.getLong(1) > 0L) {
      val mod = r.getDouble(3)
      assert(mod >= -0.5 && mod <= 1.0, s"modularity $mod out of range")
      assert(r.getLong(2) <= r.getLong(1), "intra edges exceed total edges")
    } else assert(r.isNullAt(3))
  }

  test("MinKSet == slice(sort_array(collect_set),1,k) on real cells, and buffers stay O(k)") {
    // the r17 bounded aggregate must reproduce the r16 column-algebra form
    // EXACTLY (same distinct-min-k ascending truncation) on every
    // (event_type, minute) cell of real events, at a k small enough that
    // truncation actually fires
    val base = graft.util.Canon.events(spark, sf)
      .where(col("user_id").isNotNull)
      .select(col("user_id").as("u"), col("event_type"),
        date_trunc("minute", col("ts")).as("w"))
    val k = 3
    val both = base.groupBy(col("event_type"), col("w"))
      .agg(expr(s"graft_min_k_set(u, $k)").as("mk"),
        slice(sort_array(collect_set(col("u"))), 1, k).as("cs"))
    assert(both.count() > 0)
    val bad = both.where(col("mk") =!= col("cs")).count()
    assert(bad == 0, s"$bad cells where MinKSet diverges from collect_set form")
    // serialized partial state is bounded by k entries regardless of cell size
    val agg = graft.ext.CatalystExt.MinKSet(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.LongType, nullable = true), k)
    val buf = agg.createAggregationBuffer()
    (0L until 100000L).foreach { v =>
      agg.update(buf, org.apache.spark.sql.catalyst.InternalRow(199999L - v))
    }
    assert(buf.size == k && agg.serialize(buf).length == 4 + 8 * k,
      s"buffer must stay O(k): size=${buf.size}")
    // and the k smallest of the reversed-order stream survived
    val out = agg.eval(buf)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    assert(out.toSeq == Seq(100000L, 100001L, 100002L))
  }
}
