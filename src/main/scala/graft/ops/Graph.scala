package graft.ops

import graft.util.Canon._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over relationship structures the relational tables imply
  * (SURVEY §2's scale mandate applied to a new operator axis): entity
  * importance (PageRank), cohesion (triangles / clustering coefficient),
  * degree shape, and link prediction — the graph passes a data-quality /
  * entity-resolution pipeline runs next to dedup's connected components.
  *
  * Two derived graphs, both deterministic functions of the fixture tables:
  * - BUSINESS graph: supplier ↔ customer bipartite edges via
  *   lineitem ⋈ orders (who supplied whom), undirected = both directions.
  * - CO-OCCURRENCE graph: user–user edges when two users act in the same
  *   (event_type, minute) cell — the co-session graph event pipelines mine.
  *
  * Determinism contract (the Canon rule applied to iterative graph math):
  * PageRank runs ENTIRELY in scaled BIGINT arithmetic — mass starts at
  * 10^12 // n per node, each contribution is `pr div degree` (integer
  * division), damping is `(15·base)//100 + (85·Σcontrib)//100` — so every
  * iteration is an exact integer fixpoint step, identical on any engine,
  * any partitioning, any executor count. No float ever enters the loop;
  * DuckDB replays all 5 unrolled iterations bit-for-bit.
  *
  * Scale shapes: PageRank materializes its directed edge frame once
  * ([[materializeEdges]]); a graph of at most [[LocalSolveCap]] edges runs
  * the same integer recurrence on the driver: one Spark job past the edge
  * plan's shuffle stages materializes the checkpoint and brings the edges
  * back, instead of a job chain per round, and the ranks come back as one
  * partition, so the caller's sort runs in one task with no exchange.
  * Only above the cap does the
  * Pregel pattern run as DataFrame joins — the static adjacency (src, dst,
  * deg) is checkpointed once and each of the T=5 rounds is one equi-join +
  * one partial-aggregated groupBy on the node key (at 100 TB: shuffle ∝
  * edges per round, T bounded; GraphX's Pregel materializes the same
  * joins). Triangles use the compact-forward
  * orientation by (degree, id): each triangle is counted exactly once
  * under any total vertex order, and degree order bounds every node's
  * out-degree by O(√m), so a power-law hub cannot quadratically blow up
  * the two-hop wedge join. The count is order-invariant, so the DuckDB
  * oracle's simpler id-ordered replay still matches bit-for-bit
  * (GraphSpec also proves degree-order ≡ id-order census directly). */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  /** Undirected bipartite business edges, encoded on one BIGINT node axis:
    * supplier s → node 2s, customer c → node 2c+1 (parity = node type). */
  private def bizEdges(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(tbl(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey").cast("long") * 2).as("a"),
        (col("o_custkey").cast("long") * 2 + 1).as("b"))
      .distinct()

  /** An undirected edge frame as (a, b) BIGINT endpoints, read from any
    * caller's two columns: the one edge cast of the cores and facades. */
  private[graft] def longEdges(edges: DataFrame, a: String,
      b: String): DataFrame =
    edges.select(col(a).cast("long").as("a"), col(b).cast("long").as("b"))

  /** Both orientations of every (a, b) edge as (x, y) rows: the directed
    * closure PageRank, BFS and components run on as (src, dst), and the
    * symmetric neighbor list (node, neighbor) the degree, wedge and
    * label-propagation shapes read. */
  private[graft] def bothWays(e: DataFrame, x: String, y: String): DataFrame =
    e.select(col("a").as(x), col("b").as(y))
      .unionAll(e.select(col("b").as(x), col("a").as(y)))

  /** Endpoint degrees (n, deg) of an (a, b) edge frame: one count per edge
    * end, folded over the neighbor list. */
  private def degrees(e: DataFrame): DataFrame =
    bothWays(e, "n", "m").groupBy(col("n")).agg(count(lit(1)).as("deg"))

  /** Shared-neighbor wedges: every pair x < y of neighbors around one
    * center c of a (c, x, …) frame; its other columns ride along from x. */
  private def wedges(byC: DataFrame): DataFrame =
    byC.join(byC.select(col("c"), col("x").as("y")), "c")
      .where(col("x") < col("y"))

  /** Unweighted shared-neighbor counts (x, y, n_common) over x < y. */
  private def commonNeighbors(e: DataFrame): DataFrame =
    wedges(bothWays(e, "x", "c"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_common"))

  /** The (x, y) pairs that are (`how` = "left_semi") or are not
    * ("left_anti") an edge of the canonical a < b edge frame `e`. */
  private def probeEdges(pairs: DataFrame, e: DataFrame,
      how: String): DataFrame =
    pairs.join(e, pairs("x") === e("a") && pairs("y") === e("b"), how)

  /** A scored (x, y, …) pair frame with its endpoints named `a` and `b`. */
  private[graft] def pairsAs(pairs: DataFrame, a: String,
      b: String): DataFrame =
    pairs.withColumnRenamed("x", a).withColumnRenamed("y", b)

  /** The link predictors' emission: the 20 pairs with the highest `score`,
    * ties by (x, y), as (user_a, user_b, …) — a TakeOrdered, no sort. */
  private def top20(pairs: DataFrame, score: String): DataFrame =
    pairsAs(pairs.orderBy(desc(score), asc("x"), asc("y")).limit(20),
      "user_a", "user_b")

  /** Directed-edge budget of the bounded driver-local graph solves
    * (PageRank here, min-label propagation in [[TextDedup]]): 2^19 (src,
    * dst) long pairs ≈ 8 MB collected — a bounded, documented driver
    * payload like the ANN codebook collects. */
  private[graft] val LocalSolveCap: Long = 1L << 19

  /** A (src, dst) edge frame materialized once: `frame` is the checkpoint
    * the distributed loops read, `count` its exact row count, and `local`
    * the collected endpoints when the graph fits the driver. */
  private[graft] final case class MaterializedEdges(frame: DataFrame,
      count: Long, local: Option[(Array[Long], Array[Long])])

  /** The bounded-local-solve pattern shared by the iterative graph cores
    * (the AQE move, applied to iteration): checkpoint the edge frame ONCE,
    * and in the job that materializes it count every partition and bring
    * back its endpoints; when count ≤ `cap` a driver solve replaces
    * rounds whose fixed per-round job cost dominates small graphs (an
    * empty graph included: it has nothing to iterate).
    * A partition ships its rows only when it holds at most its share of
    * `cap + 1`, so the driver never receives more than `cap + 1` edges; a
    * graph under the cap whose rows sit unevenly fetches the partitions
    * over their share in a second job. An edge with a NULL endpoint keeps
    * the graph on the distributed loop — SQL's null-join semantics stay
    * the contract there, with no second copy of them on the driver. */
  private[graft] def materializeEdges(edges: DataFrame,
      cap: Long): MaterializedEdges = {
    // not eager: the scan below is the job that fills the checkpoint, and
    // SparkContext.runJob truncates the lineage when it returns
    val frame = edges.localCheckpoint(false)
    val rows = frame.select(col("src").cast("long"), col("dst").cast("long"))
      .queryExecution.toRdd
    val sc = frame.sparkSession.sparkContext
    val share = (cap + 1) / math.max(1, rows.getNumPartitions)
    val parts = sc.runJob(rows, (it: Iterator[InternalRow]) => scanEdges(it, share))
    val n = parts.map(_.n).sum
    val local = if (n > cap || parts.exists(_.nulls)) None else {
      val edgesOf = parts.map(_.edges)
      val over = parts.indices.filter(edgesOf(_).isEmpty)
      if (over.nonEmpty) over.zip(sc.runJob(rows,
          (it: Iterator[InternalRow]) => scanEdges(it, cap), over))
        .foreach { case (i, p) => edgesOf(i) = p.edges }
      Some((edgesOf.flatMap(_.get._1), edgesOf.flatMap(_.get._2)))
    }
    MaterializedEdges(frame, n, local)
  }

  /** One partition of an edge scan: its row count, whether any endpoint
    * is NULL, and its endpoints when it has no NULL and at most `budget`
    * rows. */
  private final case class EdgePart(n: Long, nulls: Boolean,
      edges: Option[(Array[Long], Array[Long])])

  private def scanEdges(it: Iterator[InternalRow], budget: Long): EdgePart = {
    val src = Array.newBuilder[Long]
    val dst = Array.newBuilder[Long]
    var n = 0L
    var nulls = false
    while (it.hasNext) {
      val r = it.next()
      n += 1
      nulls ||= r.isNullAt(0) || r.isNullAt(1)
      if (!nulls && n <= budget) { src += r.getLong(0); dst += r.getLong(1) }
    }
    EdgePart(n, nulls,
      if (nulls || n > budget) None else Some((src.result(), dst.result())))
  }

  /** Exact-integer PageRank core over a DIRECTED edge frame (src, dst) —
    * see the object doc for the arithmetic contract. Returns (node,
    * pr_scaled); nodes are everything appearing as a source (callers pass
    * the symmetric closure for undirected graphs, which also guarantees
    * every node has out-degree ≥ 1 — no dangling-mass term needed).
    * Graphs of at most `localSolveCap` edges take the driver recurrence
    * ([[pagerankLocal]]), bit-identical to the loop, as one partition. */
  private[graft] def pagerankCore(dirEdges: DataFrame, iters: Int = 5,
      localSolveCap: Long = LocalSolveCap): DataFrame = {
    val m = materializeEdges(dirEdges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")), localSolveCap)
    m.local match {
      case Some((src, dst)) =>
        pagerankLocal(dirEdges.sparkSession, src, dst, iters)
      case None => pagerankLoop(m.frame, iters)
    }
  }

  /** The loop's recurrence on the driver, over the collected edge list
    * (duplicate edges count once per row, as in the loop's join). Nodes
    * are the distinct sources; a destination that is not a source is
    * dropped with its incoming mass, as the loop's left join from `deg`
    * drops it. Long arithmetic with `Math.*Exact`, so an overflow fails
    * loudly as ANSI SQL does; JVM Long division ≡ SQL `div` on these
    * non-negative operands. One output partition: a global sort over it
    * needs no range exchange. */
  private def pagerankLocal(s: SparkSession, src: Array[Long],
      dst: Array[Long], iters: Int): DataFrame = {
    val index = scala.collection.mutable.LongMap.empty[Int]
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val si = src.map { v =>
      index.getOrElseUpdate(v, { nodes += v; nodes.length - 1 })
    }
    val di = dst.map(v => index.getOrElse(v, -1))
    val n = nodes.length
    val deg = new Array[Long](n)
    si.foreach(i => deg(i) += 1)
    val base = 1000000000000L / math.max(n, 1) // no nodes: no rows out
    val tele = Math.multiplyExact(15L, base) / 100L
    var pr = Array.fill(n)(base)
    for (_ <- 1 to iters) {
      val sums = new Array[Long](n)
      var e = 0
      while (e < si.length) {
        val d = di(e)
        if (d >= 0) sums(d) = Math.addExact(sums(d), pr(si(e)) / deg(si(e)))
        e += 1
      }
      pr = sums.map(c => Math.addExact(tele, Math.multiplyExact(85L, c) / 100L))
    }
    import s.implicits._
    nodes.toSeq.zip(pr).toDF("node", "pr").coalesce(1)
  }

  /** The distributed PageRank loop over a checkpointed (src, dst) frame —
    * the arm above [[LocalSolveCap]]. */
  private def pagerankLoop(dir: DataFrame, iters: Int): DataFrame = {
    // deg is the node frame every round re-joins — checkpoint it (and the
    // adjacency) ONCE so no iteration re-derives them
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val adj = dir.join(deg, "src").localCheckpoint(true)
    // n is one scalar — the same bounded-driver-payload pattern as the
    // adaptive solves; base/teleport become exact integer literals
    // (JVM Long division ≡ SQL `div` on positives)
    val n = deg.count()
    if (n == 0) return deg.select(col("src").as("node"), col("deg").as("pr"))
    val base = 1000000000000L / n
    val tele = (15L * base) / 100L
    // the rank table is node-sized; when it fits an executor (the n we just
    // counted — same adaptive-choice pattern as the local solves) broadcast
    // it so no round ever shuffles the EDGE table: per round the only
    // exchange left is the partial-aggregated contribution rollup. On a
    // billion-node graph the hint is skipped and both joins stay shuffles —
    // the plan GraphX's Pregel would run.
    def small(df: DataFrame) = if (n < 1000000) broadcast(df) else df
    // r18 measured-and-DECLINED: dropping the per-iteration localCheckpoint
    // (the rank chain references its predecessor exactly once, so the
    // unrolled plan grows linearly and one job tree could run all 5
    // iterations) benched SLOWER on paired isolated runs — pagerank
    // 3.16→3.74 s, LPA 1.69→2.66 s medians: each iteration's broadcast
    // then executes its whole unrolled subtree as one nested broadcast
    // job chain, losing to a cheap in-memory scan of the materialized
    // previous round. The checkpoints stay; this loop now runs only for
    // graphs above LocalSolveCap, so at bench and fixture scale the
    // whole solve is the driver recurrence instead.
    var pr = deg.select(col("src").as("node"), lit(base).as("pr"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val sums = adj
        .join(small(pr.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"), expr("pr div deg").as("ctr"))
        .groupBy(col("node")).agg(sum(col("ctr")).as("ctr_sum"))
      pr = deg.select(col("src").as("node"))
        .join(small(sums), Seq("node"), "left")
        .select(col("node"),
          (lit(tele) +
            expr("(85 * coalesce(ctr_sum, cast(0 as bigint))) div 100"))
            .as("pr"))
        .localCheckpoint(true)
    }
    pr
  }

  /** 5-iteration damped PageRank over the business graph in exact scaled
    * integers (see object doc). Output: node kind + original key, the
    * EXACT scaled mass (pr_scaled, the oracle-compared value), ranked. */
  private val graphPagerank: Q = (s, d) => {
    // no checkpoint of its own: pagerankCore materializes the closure once, and
    // the union's two bizEdges branches share their exchanges in that one
    // plan (ten paired graph-bench runs: a separate checkpoint here did not
    // pay — pagerank median 1.19 s with it, 1.12 s without)
    pagerankCore(bothWays(bizEdges(s, d), "src", "dst"))
      .orderBy(desc("pr"), asc("node"))
      .select(
        when(col("node") % 2 === 0, lit("supplier")).otherwise(lit("customer"))
          .as("kind"),
        expr("node div 2").as("key"),
        col("pr").as("pr_scaled"))
  }

  /** Per-cell user cap for [[coocEdges]] — the bound on the one quadratic
    * in the graph family's construction stage (round-14 verdict item 1).
    * A cell with k co-occurring users emits C(k,2) pairs; unbounded, one
    * viral (event_type, minute) cell with k ~ 10⁵ users at 100× scale
    * emits 10¹⁰ pairs before `distinct`. With the cap, the densest cell
    * contributes at most C(64,2) = 2,016 pairs — the same bounded-emission
    * discipline bandedVerifiedPairs applies to LSH candidates (W=3).
    * Gate: the fixture's densest cell has 6 users at sf0.1 (1 at sf0.001,
    * 3 at sf0.01 — measured), so the cap NEVER binds on test data and
    * every cooc-fed oracle hash is unchanged; `graph_cooc_cap_audit`
    * cross-checks max-cell-size < cap in BOTH engines every run, and
    * GraphSpec pins the C(cap,2) hot-cell bound on a synthetic cell
    * (the 10⁵-user measurement is in SCALING.md r15). */
  private[graft] val CoocCellCap = 64

  /** Distinct undirected user co-occurrence edges (a < b) from shared
    * (event_type, minute) activity cells. Emission is bounded per cell:
    * only the `capPerCell` smallest user ids in a cell pair up — see
    * [[CoocCellCap]].
    *
    * Round-16 revision (verdict item 4): the r15 rank-always shape was
    * measured NOT free — a same-JVM paired A/B over the sf0.1
    * kcore path read capped 1.623 s vs uncapped 1.307 s medians (n=7,
    * sentinels quiet ~0.15 s): the per-side window sort above the reused
    * exchange costs ~24%, which is exactly the r15 graph-family drift.
    * Two gate designs were measured and rejected (exact-count probe over a
    * checkpointed cell table: ~11%, fixed job latency; HLL probe over raw
    * events: ~32%, per-cell sketch partials swamp the shuffle) before the
    * builder itself was restructured: the capped path now aggregates each
    * cell ONCE (collect_set → sort_array → slice) and explodes pairs from
    * the bounded array — two shuffles vs the uncapped builder's three, no
    * window, no self-join, measured STRICTLY CHEAPER than uncapped
    * (SCALING.md r16). Truncation semantics are unchanged
    * (capPerCell smallest user ids, deterministic), emission stays
    * hard-bounded at C(cap,2) per cell, and every cooc-fed oracle hash is
    * unchanged. */
  private[graft] def coocEdges(s: SparkSession, d: String,
      capPerCell: Int = CoocCellCap): DataFrame =
    coocEdgesCore(tbl(s, d, "events"), capPerCell)

  /** The builder core over any (user_id, event_type, ts) frame —
    * GraphSpec and ScaleCurve feed it synthetic hot cells directly. */
  private[graft] def coocEdgesCore(events: DataFrame,
      capPerCell: Int = CoocCellCap): DataFrame = {
    val base = events
      .where(col("user_id").isNotNull) // null pairs with nothing (u < v is
        // never true against NULL) — drop before aggregating so nulls
        // cannot occupy cap slots
      .select(col("user_id").as("u"), col("event_type"),
        date_trunc("minute", col("ts")).as("w"))
    if (capPerCell == Int.MaxValue) {
      // the uncapped r14 builder (distinct → self-join on the cell key →
      // distinct): kept verbatim as GraphSpec's reference for the capped
      // path and as ScaleCurve's hot-cell self-join
      val b = base.distinct()
      val b2 = b.select(col("u").as("v"), col("event_type"), col("w"))
      b.join(b2, Seq("event_type", "w"))
        .where(col("u") < col("v"))
        .select(col("u").as("a"), col("v").as("b"))
        .distinct()
    } else {
      // capped production shape (r16 structure, r17 aggregate): ONE
      // aggregation per cell — graft_min_k_set (CatalystExt.MinKSet, a
      // TypedImperativeAggregate) keeps the capPerCell smallest DISTINCT
      // user ids with the bound applied in EVERY partial buffer, exactly
      // the truncation semantics of the r16
      // slice(sort_array(collect_set),1,cap) form it replaces — but cell
      // state is now O(cap) = 8·cap bytes instead of the hottest cell's
      // whole distinct-user set in one task (the documented r16 80 MB/10⁷-
      // user bound, VERDICT r16 item 3; map-side partials are capped too,
      // so the pre-shuffle combine ships ≤cap ids per cell per mapper).
      // Two shuffles total (cells, final cross-cell distinct), no window
      // sort, no self-join; capped stays cheaper-than-uncapped (SCALING.md
      // r17) and every cooc-fed oracle hash is unchanged. Emission
      // stays hard-bounded at C(cap,2) per cell.
      base.groupBy(col("event_type"), col("w"))
        .agg(expr(s"graft_min_k_set(u, $capPerCell)").as("us"))
        .where(size(col("us")) >= 2)
        .select(explode(col("us")).as("u"), col("us"))
        .select(col("u").as("a"),
          explode(expr("filter(us, x -> x > u)")).as("b"))
        .distinct()
    }
  }

  /** Global triangle census of the co-occurrence graph: nodes, edges,
    * wedges (paths of length 2), triangles (compact-forward join — each
    * triangle counted exactly once), and the global clustering coefficient
    * 3·T / wedges. All counts are exact integers; only the final
    * coefficient is a display r4.
    *
    * Orientation: by default each undirected edge is directed from its
    * lower-(degree, id) endpoint to the higher (Chiba–Nishizeki). Under
    * degree order every node's out-degree is O(√m) on ANY graph, so one
    * power-law hub cannot quadratically blow up the two-hop wedge join the
    * way plain id order can at 100 TB (round-7 verdict item 3). The
    * triangle count is invariant under any total vertex order, so the
    * DuckDB oracle's id-ordered replay still matches; `byDegree = false`
    * keeps the id-order census for the equivalence property in GraphSpec. */
  private[graft] def triangleCensusCore(edges: DataFrame,
      byDegree: Boolean = true): DataFrame = {
    val e = longEdges(edges, "a", "b").localCheckpoint(true)
    val deg = degrees(e)
    // coalesce: an EMPTY graph (no two users share a cell — true at
    // sf0.001) must yield a 0-row census, not NULLs
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("(deg * (deg - 1)) div 2")), lit(0L)).as("n_wedges"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val o = if (!byDegree) e else {
      val fwd = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      e.join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
        .select(when(fwd, col("a")).otherwise(col("b")).as("a"),
          when(fwd, col("b")).otherwise(col("a")).as("b"))
        .localCheckpoint(true) // joined three ways below — compute once
    }
    val tri = o.as("e1")
      .join(o.as("e2"), col("e1.b") === col("e2.a"))
      .join(o.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    stats.crossJoin(ne).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          r4(col("n_triangles").cast("double") * 3.0 /
            col("n_wedges").cast("double"))).as("clustering"))
  }

  private val graphTriangleCount: Q = (s, d) =>
    triangleCensusCore(coocEdges(s, d))

  /** Degree distribution of the co-occurrence graph — the first sanity
    * check on any derived graph (a power-law tail vs the near-uniform
    * synthetic shape here). degree → node count, exact integers. */
  private val graphDegreeDistribution: Q = (s, d) =>
    degrees(coocEdges(s, d))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
      .orderBy("deg")

  /** Common-neighbors link prediction over the co-occurrence graph: for
    * user pairs NOT currently connected, count shared neighbors and rank —
    * the classic first-order link predictor (Liben-Nowell & Kleinberg).
    * Wedge join on the shared-neighbor key, then an anti-join against the
    * edge set; top-20 by (count desc, pair) is a TakeOrdered, no full
    * sort. */
  private val graphCommonNeighbors: Q = (s, d) => {
    // its own checkpoint, not lpPrep's: cooc edges are already distinct
    // a < b rows, and lpPrep's distinct would add an exchange
    val e = coocEdges(s, d).localCheckpoint(true)
    top20(probeEdges(commonNeighbors(e), e, "left_anti"), "n_common")
  }

  /** Shared link-prediction preamble: canonicalize an undirected edge
    * frame to DISTINCT a < b rows (the wedge pairs are emitted x < y, so
    * the existing-edge anti-join silently misses any edge stored
    * reversed; and a caller passing the symmetric both-directions
    * representation must not double every degree and quadruple every
    * wedge count — distinct() collapses it), checkpoint it, and derive
    * the symmetric neighbor list (x, c) — node x beside its neighbor c,
    * the wedge center — and the degree table all three predictors share. */
  private def lpPrep(edges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val e = edges.select(
        least(col("a").cast("long"), col("b").cast("long")).as("a"),
        greatest(col("a").cast("long"), col("b").cast("long")).as("b"))
      .distinct().localCheckpoint(true)
    (e, bothWays(e, "x", "c"), degrees(e))
  }

  /** Resource-allocation link prediction (Zhou, Lü & Zhang 2009): for each
    * non-adjacent pair, RA(x,y) = Σ_{z ∈ Γ(x)∩Γ(y)} 1/deg(z) — common
    * neighbors weighted DOWN by their degree, so a hub shared by everyone
    * contributes almost nothing while an exclusive mutual friend dominates.
    * Consistently beats raw common-neighbor counts on real graphs, and the
    * 1/deg weight is expressible in EXACT integer arithmetic
    * (1e9 div deg — no ln, so none of Adamic–Adar's cross-engine last-ulp
    * risk flagged in ADVICE.md). Same scale shape as graph_common_neighbors:
    * the weight joins onto the neighbor list ONCE (one extra node-keyed
    * equi-join), the wedge join shuffles on the shared-neighbor key, the
    * anti-join removes existing edges, and top-20 is a TakeOrdered — no
    * global sort, nothing driver-sized. */
  private[graft] def raCore(edges: DataFrame): DataFrame = {
    val (e, byC, deg) = lpPrep(edges)
    // attach each wedge-center's weight before the wedge join so the pair
    // aggregate is a single pass (center key c = the shared neighbor)
    val pairs = wedges(byC.join(
        deg.select(col("n").as("c"), expr("1000000000 div deg").as("w")), "c"))
      .groupBy(col("x"), col("y"))
      .agg(sum(col("w")).as("ra_scaled"), count(lit(1)).as("n_common"))
    probeEdges(pairs, e, "left_anti")
  }

  private val graphResourceAllocation: Q = (s, d) =>
    top20(raCore(coocEdges(s, d)), "ra_scaled")

  /** Adamic–Adar link prediction (Adamic & Adar 2003) — the third member of
    * the classic trio next to common-neighbors and resource-allocation:
    * AA(x,y) = Σ_{z ∈ Γ(x)∩Γ(y)} 1/ln(deg z), damping shared hubs
    * LOGARITHMICALLY (between CN's no-damping and RA's 1/deg). The weight
    * runs as 10^12 div ln6(deg), the 1e6-scaled ln (Canon.ln6) — one
    * scaled-ln step then exact integer sums, the text_pmi_bigrams posture
    * (accepted last-ulp risk, PLANS.md). Centers with deg = 1 are filtered
    * BEFORE the wedge join: they cannot center a wedge anyway, and ln(1)=0
    * would zero-divide — the filter makes that explicit on both engines.
    * Scale shape is identical to raCore: one node-keyed weight join, one
    * wedge equi-join on the shared-neighbor key, one anti-join, TakeOrdered
    * top-20 — no global sort, nothing driver-sized. */
  private[graft] def aaCore(edges: DataFrame): DataFrame = {
    val (e, byC, deg) = lpPrep(edges)
    val wdeg = deg.where(col("deg") >= 2)
      .withColumn("li", ln6(col("deg")))
      .select(col("n").as("c"), expr("1000000000000 div li").as("w"))
    val pairs = wedges(byC.join(wdeg, "c"))
      .groupBy(col("x"), col("y"))
      .agg(sum(col("w")).as("aa_scaled"), count(lit(1)).as("n_common"))
    probeEdges(pairs, e, "left_anti")
  }

  private val graphAdamicAdar: Q = (s, d) =>
    top20(aaCore(coocEdges(s, d)), "aa_scaled")

  /** Jaccard-coefficient link prediction — the fourth classic predictor
    * (Liben-Nowell & Kleinberg's survey): J(x,y) = |Γx∩Γy| / |Γx∪Γy| =
    * nc / (deg x + deg y − nc). Unlike AA/RA this needs NO ln at all —
    * the score is an exact rational of three integers, carried as
    * 1e6·nc div (dx+dy−nc), so the ranking is bit-exact on any engine.
    * Same plan as commonNeighbors plus two broadcast-sized degree joins;
    * top-20 TakeOrdered. */
  private[graft] def jaccardLpCore(edges: DataFrame): DataFrame = {
    val (e, _, deg) = lpPrep(edges)
    val scored = commonNeighbors(e)
      .join(deg.select(col("n").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("deg").as("dy")), "y")
      .withColumn("j_scaled",
        expr("1000000 * n_common div (dx + dy - n_common)"))
    probeEdges(scored, e, "left_anti")
      // the USING-joins above reorder columns (y, x, …) — fix the contract
      .select(col("x"), col("y"), col("j_scaled"), col("n_common"))
  }

  private val graphJaccardLinkpred: Q = (s, d) =>
    top20(jaccardLpCore(coocEdges(s, d)), "j_scaled")

  /** Bounded-hop BFS shortest paths from the lowest-id user over the
    * co-occurrence graph (hop limit 8 ≳ the fixture diameter 7): the
    * Pregel frontier pattern as a fixed-depth join loop — each round
    * expands the CURRENT frontier only (not all reached nodes) and
    * min-merges into the distance table, so per-round shuffle is
    * ∝ frontier edges, the textbook distributed-BFS cost. Distances are
    * exact small integers; a depth-limited recursive CTE replays them.
    * Unreached nodes are omitted (not ∞) — at 100 TB you report the
    * reachable set, you don't materialize the complement. */
  private[graft] def bfsCore(dirEdges: DataFrame, sources: DataFrame,
      hops: Int): DataFrame = {
    val dir = dirEdges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).localCheckpoint(true)
    var dist = sources.select(col("node").cast("long").as("node"),
      lit(0).as("d")).localCheckpoint(true)
    var frontier = dist
    for (h <- 1 to hops) {
      val next = frontier
        .join(dir.withColumnRenamed("src", "node"), "node")
        .select(col("dst").as("node"), lit(h).as("d"))
        .join(dist.select(col("node").as("seen")),
          col("node") === col("seen"), "left_anti")
        .distinct()
        .localCheckpoint(true)
      dist = dist.unionAll(next).localCheckpoint(true)
      frontier = next
    }
    dist
  }

  private val graphShortestPaths: Q = (s, d) => {
    // checkpoint once: both the adjacency and the source-pick read e0
    val e0 = coocEdges(s, d).localCheckpoint(true)
    // empty-graph guard (sf0.001): no edges → no source → empty output
    val src = e0.agg(min(col("a")).as("node")).where(col("node").isNotNull)
    bfsCore(bothWays(e0, "src", "dst"), src, hops = 8)
      .orderBy("node").select(col("node").as("user_id"), col("d").as("dist"))
  }

  /** Connected components of the co-occurrence graph — the most basic
    * graph audit ("how many disjoint user populations are there?") and
    * the graph_* namespace face of the machinery the dedup stack already
    * runs: label = component minimum user id via the shared adaptive
    * min-label core ([[TextDedup.componentLabels]] — driver union-find
    * under the documented `localSolveCap` edge budget, the distributed
    * min-label loop with per-round localCheckpoint above it, exactly the
    * pipeline_neardup_full posture). Isolated users (no co-occurrence
    * edge) are not graph nodes and don't appear — mirrored by the
    * oracle's edge-endpoint node set. No checkpoint of its own: the two
    * directions read one reused exchange (coocEdges ends in a `distinct`)
    * inside the core's one edge checkpoint. */
  private val graphConnectedComponents: Q = (s, d) =>
    TextDedup.componentLabels(bothWays(coocEdges(s, d), "src", "dst"),
        maxRounds = 20)._1
      .select(col("node").as("user_id"), col("label").as("component"))
      .orderBy("user_id")

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007) over the co-occurrence graph, T=3 unrolled rounds: every node
    * simultaneously adopts its neighborhood's most frequent label, ties
    * broken by the SMALLEST label — with integer node-id seeds that makes
    * each round a deterministic function of the last, so the oracle replays
    * the exact fixpoint prefix round-for-round (same unrolled-iteration
    * contract as pagerank; no float, no rand, partition-invariant).
    * Per-round cost is the canonical distributed-LPA shape: one equi-join
    * of the label table onto the checkpointed symmetric adjacency, one
    * (node, label) count aggregate, and a per-node arg-max window whose
    * partition key is the node — shuffle ∝ edges, state ∝ nodes, nothing
    * driver-sized. T is fixed (bounded rounds, the production guard against
    * LPA's known oscillation) rather than run-to-convergence. */
  private[graft] def lpaCore(edges: DataFrame, rounds: Int): DataFrame = {
    val e = longEdges(edges, "a", "b").localCheckpoint(true)
    val nbr = bothWays(e, "node", "m").localCheckpoint(true)
    val byVotes = Window.partitionBy("node").orderBy(desc("c"), asc("lbl"))
    // (r18: removing the per-round checkpoint was measured and DECLINED —
    // see pagerankLoop; the unrolled single-job form benched 1.69→2.66 s.)
    var lab = nbr.select(col("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to rounds) {
      lab = nbr
        .join(lab.withColumnRenamed("node", "m"), "m")
        .groupBy(col("node"), col("lbl")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(byVotes))
        .where(col("rn") === 1)
        .select(col("node"), col("lbl"))
        .localCheckpoint(true)
    }
    lab
  }

  private val graphLabelPropagation: Q = (s, d) =>
    lpaCore(coocEdges(s, d), rounds = 3).orderBy("node")
      .select(col("node").as("user_id"), col("lbl").as("community"))

  /** Bounded k-core peeling: `rounds` synchronous rounds of "drop every
    * node with degree < k, restrict edges to survivors", then the residual
    * degree table of the surviving subgraph. The k-core is the classic
    * corpus-graph audit (dense cores = spam rings / SEO link farms in a
    * web crawl; the periphery is what a quality filter keeps), and
    * synchronous peeling is its distributed form (Montresor et al.):
    * full peeling iterates to fixpoint, so like pagerank's T=5 and LPA's
    * T=3 this ships the bounded-rounds prefix — deterministic and
    * oracle-replayable round-for-round; the fixture graph converges well
    * inside 5 rounds (KCoreSpec proves round-5 ≡ round-6 there). Each
    * round is one degree hash-agg plus two node-keyed left-semi joins —
    * shuffle ∝ surviving edges, monotonically shrinking; localCheckpoint
    * per round keeps the plan depth constant (the iterative-loop rule
    * every graft propagation shares). */
  private[graft] def kcoreCore(edges: DataFrame, k: Int = 2,
      rounds: Int = 5): DataFrame = {
    var e = longEdges(edges, "a", "b").localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val keep = degrees(e).where(col("deg") >= k).select(col("n"))
      e = e.join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b")).localCheckpoint(true)
    }
    degrees(e)
  }

  private val graphKcore: Q = (s, d) =>
    kcoreCore(coocEdges(s, d))
      .select(col("n").as("user_id"), col("deg"))
      .orderBy("user_id")

  /** Degree assortativity (Newman 2002): Pearson correlation of the degree
    * pairs at the two ends of every edge, over the symmetric edge closure
    * (so each undirected edge contributes both orientations and the
    * coefficient is exactly symmetric). Positive = hubs link to hubs;
    * social graphs are assortative, web/biological graphs disassortative —
    * the one-number structural fingerprint read before choosing skew
    * mitigations for graph joins.
    *
    * Determinism: the five moment sums are exact BIGINTs (degree ≤ n, so
    * m·Σx² fits 2^63 far beyond the fixture; at true 100 TB scale the
    * production variant centers by the mean first or carries DECIMAL(38)
    * — same plan); the final r is one fixed-shape IEEE expression over
    * them, with the variance product multiplied AS DOUBLES (the BIGINT
    * product would overflow long before the sums do). Scale shape: degree
    * table from one edge-end rollup, two broadcast-sized joins back onto
    * the edge frame, one global agg — shuffle ∝ edges, no window. */
  private[graft] def assortativityCore(edges: DataFrame): DataFrame = {
    // checkpoint: the edge frame is referenced by the neighbor list (twice
    // via the union), deg, the xy double-join, and ne — without this an
    // expensive upstream derivation (the co-occurrence self-join) would
    // re-expand per reference, like the sibling lpaCore/kcoreCore guards
    val e = longEdges(edges, "a", "b").localCheckpoint(true)
    val deg = degrees(e)
    // one (node, deg) frame joined at both ends, so the two identical
    // build sides share one broadcast exchange
    val xy = bothWays(e, "n", "m").as("w")
      .join(deg.as("dx"), col("w.n") === col("dx.n"))
      .join(deg.as("dy"), col("w.m") === col("dy.n"))
      .select(col("dx.deg").as("x"), col("dy.deg").as("y"))
    val mom = xy.agg(count(lit(1)).as("m"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(dec38(col("x")) * col("y")).as("sxy"),
      sum(dec38(col("x")) * col("x")).as("sxx"),
      sum(dec38(col("y")) * col("y")).as("syy"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val vx = dec38(col("m")) * col("sxx") - dec38(col("sx")) * col("sx")
    val vy = dec38(col("m")) * col("syy") - dec38(col("sy")) * col("sy")
    mom.crossJoin(broadcast(nn)).crossJoin(broadcast(ne))
      .select(col("n_nodes"), col("n_edges"),
        r4(when(vx > 0 && vy > 0,
          (dec38(col("m")) * col("sxy") - dec38(col("sx")) * col("sy"))
            .cast("double") /
            sqrt(vx.cast("double") * vy.cast("double"))))
          .as("assortativity"))
  }

  private val graphAssortativity: Q = (s, d) =>
    assortativityCore(coocEdges(s, d))

  /** Newman–Girvan modularity of a node labeling over an undirected edge
    * frame — the community-QUALITY audit run after LPA: how much more
    * intra-community mass the partition captures than a degree-preserving
    * random graph would. Computed as the exact integer rational
    * Q = (4m·Σe_c − Σd_c²) / 4m² (numerator/denominator both BIGINT —
    * no per-community float sums), divided once at the end. Scale shape:
    * two label joins onto the edge frame (shuffle ∝ edges), a degree
    * rollup, and O(#communities) aggregation; the three one-row stat
    * frames meet in broadcast crosses. */
  private[graft] def modularityCore(edges: DataFrame,
      labels: DataFrame): DataFrame = {
    val lab = labels.select(col("node").cast("long").as("node"), col("lbl"))
      .localCheckpoint(true)
    // restrict to the LABELED subgraph up front so m, degrees and the
    // moment sums all describe the same graph — with partial labels the
    // naive shape drops unlabeled mass from e_c and d_c but not from m,
    // biasing Q upward (the registry's LPA labels every node, so this
    // only matters for facade callers)
    val e = longEdges(edges, "a", "b")
      .join(lab.select(col("node").as("a")), Seq("a"), "left_semi")
      .join(lab.select(col("node").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b")).localCheckpoint(true)
    val mF = e.agg(count(lit(1)).as("m"))
    val ein = e
      .join(lab.select(col("node").as("a"), col("lbl").as("la")), Seq("a"))
      .join(lab.select(col("node").as("b"), col("lbl").as("lb")), Seq("b"))
      .agg(coalesce(sum(when(col("la") === col("lb"), 1L).otherwise(0L)),
        lit(0L)).as("intra_edges"))
    val s2 = degrees(e).withColumnRenamed("n", "node").join(lab, Seq("node"))
      .groupBy("lbl").agg(sum(col("deg")).as("d_c"))
      .agg(count(lit(1)).as("n_communities"),
        coalesce(sum(dec38(col("d_c")) * col("d_c")),
          dec38(lit(0L))).as("sd2"))
    ein.crossJoin(broadcast(mF)).crossJoin(broadcast(s2))
      .select(col("n_communities"), col("m").as("n_edges"),
        col("intra_edges"),
        r4(when(col("m") > 0,
          (lit(4L) * dec38(col("m")) * col("intra_edges") - col("sd2"))
            .cast("double") /
            (lit(4L) * dec38(col("m")) * col("m")).cast("double")))
          .as("modularity"))
  }

  private val graphModularity: Q = (s, d) => {
    val e = coocEdges(s, d).localCheckpoint(true)
    modularityCore(e, lpaCore(e, rounds = 3))
  }

  /** Per-node LOCAL clustering coefficient (Watts–Strogatz) for the 20
    * highest-degree nodes: lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), where
    * T(v) counts closed wedges at v. The node-level cohesion metric next
    * to the census's global coefficient — spam-ring hubs score ≈1, organic
    * hubs score low. Plan: neighbor-pair wedge join at v (u < w dedups
    * each wedge), one left-semi probe into the (a < b) edge set to close
    * it, a per-v count, then top-20 by (deg desc, node asc) TakeOrdered.
    * Wedge volume is Σ deg², the same budget every triangle/CN op here
    * pays; the exact rational makes lcc bit-stable on both engines. */
  private[graft] def localClusteringCore(edges: DataFrame,
      topK: Int = 20): DataFrame = {
    // canonicalize to a unique a<b undirected edge set up front (least/
    // greatest + distinct, self-loops dropped) so the triangle-closing
    // semi-join below — which relies on that orientation — is correct for
    // ANY input orientation, matching the tolerance of assortativityCore/
    // modularityCore. Idempotent (and ~free) on already-canonical input.
    val e = edges.select(
        least(col("a").cast("long"), col("b").cast("long")).as("a"),
        greatest(col("a").cast("long"), col("b").cast("long")).as("b"))
      .where(col("a") < col("b")).distinct().localCheckpoint(true)
    // wedges x < y around each center c, closed by an x–y edge
    val closed = probeEdges(wedges(bothWays(e, "c", "x")), e, "left_semi")
      .groupBy(col("c").as("n")).agg(count(lit(1)).as("tri"))
    degrees(e).join(closed, Seq("n"), "left")
      .select(col("n").as("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"),
        r4(when(col("deg") > 1,
          (lit(2L) * coalesce(col("tri"), lit(0L))).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"))).as("lcc"))
      .orderBy(desc("deg"), asc("node")).limit(topK)
  }

  private val graphLocalClustering: Q = (s, d) =>
    localClusteringCore(coocEdges(s, d))

  /** Cross-engine gate for [[CoocCellCap]]: the densest (event_type,
    * minute) cell's distinct-user count, the cap, and whether the cap
    * binds on this fixture (must be 0 for the cooc oracle hashes to be
    * byte-identical to the uncapped replay — both engines compute the
    * verdict independently). pairs_bound_per_cell is the worst-case
    * emission any single cell can contribute post-cap: C(64,2) = 2016. */
  private val graphCoocCapAudit: Q = (s, d) =>
    tbl(s, d, "events").where(col("user_id").isNotNull)
      .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("w"))
      .agg(countDistinct(col("user_id")).as("k"))
      .agg(max(col("k")).as("max_cell_users"), count(lit(1)).as("n_cells"))
      .select(col("max_cell_users"), col("n_cells"),
        lit(CoocCellCap.toLong).as("cap"),
        when(col("max_cell_users") > CoocCellCap, lit(1L)).otherwise(lit(0L))
          .as("cap_binds"),
        lit(CoocCellCap.toLong * (CoocCellCap - 1) / 2)
          .as("pairs_bound_per_cell"))

  val queries: Map[String, Q] = Map(
    "graph_cooc_cap_audit" -> graphCoocCapAudit,
    "graph_pagerank" -> graphPagerank,
    "graph_label_propagation" -> graphLabelPropagation,
    "graph_shortest_paths" -> graphShortestPaths,
    "graph_connected_components" -> graphConnectedComponents,
    "graph_triangle_count" -> graphTriangleCount,
    "graph_degree_distribution" -> graphDegreeDistribution,
    "graph_common_neighbors" -> graphCommonNeighbors,
    "graph_resource_allocation" -> graphResourceAllocation,
    "graph_adamic_adar" -> graphAdamicAdar,
    "graph_jaccard_linkpred" -> graphJaccardLinkpred,
    "graph_kcore" -> graphKcore,
    "graph_assortativity" -> graphAssortativity,
    "graph_modularity" -> graphModularity,
    "graph_local_clustering" -> graphLocalClustering,
  )

  /** The co-occurrence CTEs every cooc oracle opens with: `b`, the
    * distinct (user, event_type, minute) cells, and edge CTE %1$s, the
    * distinct a < b user pairs sharing a cell; %2$s is "" or
    * " MATERIALIZED". */
  private val cooc =
    """b AS%2$s (
         SELECT DISTINCT user_id AS u, event_type,
                date_trunc('minute', ts) AS w FROM events),
       %1$s AS%2$s (SELECT DISTINCT a.u AS a, b2.u AS b
         FROM b a JOIN b b2 ON a.event_type = b2.event_type AND a.w = b2.w
         WHERE a.u < b2.u)"""

  /** One k=2 peel round: survivors of the degree filter over edge set %s. */
  private val peelKeep =
    """SELECT n FROM (SELECT a AS n FROM %s UNION ALL SELECT b FROM %s)
       GROUP BY n HAVING count(*) >= 2"""
  private val peelEdge =
    """SELECT a, b FROM %s
       WHERE a IN (SELECT n FROM %s) AND b IN (SELECT n FROM %s)"""

  private val iter =
    """SELECT n2.node,
              (15 * (1000000000000 // nn.n)) // 100
                + (85 * coalesce(c.s, 0)) // 100 AS pr
       FROM (SELECT node FROM deg0) n2
       LEFT JOIN (SELECT d.dst AS node,
                         CAST(sum(p.pr // dg.deg) AS BIGINT) AS s
                  FROM dir d
                  JOIN %s p ON d.src = p.node
                  JOIN deg0 dg ON dg.node = d.src
                  GROUP BY 1) c ON n2.node = c.node, nn"""

  /** One synchronous LPA round: most-frequent neighbor label per node,
    * ties to the smallest label (row_number ordering = Spark's window). */
  private val lpaIter =
    """SELECT node, lbl FROM (
         SELECT n.node, l.lbl, count(*) AS c,
                row_number() OVER (PARTITION BY n.node
                  ORDER BY count(*) DESC, l.lbl) AS rn
         FROM nbr n JOIN %s l ON n.m = l.node
         GROUP BY n.node, l.lbl)
       WHERE rn = 1"""

  val oracle: Map[String, String] = Map(
    "graph_cooc_cap_audit" ->
      """WITH cells AS (
           SELECT event_type, date_trunc('minute', ts) AS w,
                  count(DISTINCT user_id) AS k
           FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2)
         SELECT CAST(max(k) AS BIGINT) AS max_cell_users,
                CAST(count(*) AS BIGINT) AS n_cells,
                CAST(64 AS BIGINT) AS cap,
                CAST(CASE WHEN max(k) > 64 THEN 1 ELSE 0 END AS BIGINT)
                  AS cap_binds,
                CAST(2016 AS BIGINT) AS pairs_bound_per_cell
         FROM cells""",
    "graph_local_clustering" ->
      s"""WITH ${cooc.format("e", "")},
          nbr AS (SELECT a AS v, b AS u FROM e
                  UNION ALL SELECT b, a FROM e),
          deg AS (SELECT v, count(*) AS deg FROM nbr GROUP BY 1),
          closed AS (
            SELECT n1.v, count(*) AS tri
            FROM nbr n1 JOIN nbr n2 ON n1.v = n2.v AND n1.u < n2.u
            WHERE EXISTS (SELECT 1 FROM e
                          WHERE e.a = n1.u AND e.b = n2.u)
            GROUP BY 1)
          SELECT deg.v AS node, CAST(deg AS BIGINT) AS deg,
                 CAST(coalesce(tri, 0) AS BIGINT) AS n_triangles,
                 floor((CASE WHEN deg > 1 THEN
                     CAST(2 * coalesce(tri, 0) AS DOUBLE)
                     / CAST(deg * (deg - 1) AS DOUBLE) END) * 10000 + 0.5)
                   / 10000.0 AS lcc
          FROM deg LEFT JOIN closed ON deg.v = closed.v
          ORDER BY deg DESC, node LIMIT 20""",
    "graph_modularity" ->
      s"""WITH ${cooc.format("e", "")},
          nbr AS (SELECT a AS node, b AS m FROM e
                  UNION ALL SELECT b, a FROM e),
          l0 AS (SELECT DISTINCT node, node AS lbl FROM nbr),
          l1 AS (${lpaIter.format("l0")}),
          l2 AS (${lpaIter.format("l1")}),
          l3 AS (${lpaIter.format("l2")}),
          deg AS (SELECT node, count(*) AS deg FROM nbr GROUP BY 1),
          mm AS (SELECT count(*) AS m FROM e),
          ein AS (SELECT CAST(coalesce(sum(CASE WHEN la.lbl = lb.lbl
                                             THEN 1 ELSE 0 END), 0) AS BIGINT)
                           AS intra_edges
                  FROM e JOIN l3 la ON e.a = la.node
                         JOIN l3 lb ON e.b = lb.node),
          dc AS (SELECT la.lbl, CAST(sum(deg) AS BIGINT) AS d_c
                 FROM deg JOIN l3 la ON deg.node = la.node GROUP BY 1),
          s2 AS (SELECT count(*) AS n_communities,
                        CAST(coalesce(sum(d_c * d_c), 0) AS BIGINT) AS sd2
                 FROM dc)
          SELECT n_communities, CAST(m AS BIGINT) AS n_edges, intra_edges,
                 floor((CASE WHEN m > 0 THEN
                     CAST(4 * m * intra_edges - sd2 AS DOUBLE)
                     / CAST(4 * m * m AS DOUBLE) END) * 10000 + 0.5)
                   / 10000.0 AS modularity
          FROM ein CROSS JOIN mm CROSS JOIN s2""",
    "graph_assortativity" ->
      s"""WITH ${cooc.format("e", "")},
          sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
          deg AS (SELECT a AS n, count(*) AS deg FROM sym GROUP BY 1),
          xy AS (SELECT da.deg AS x, db.deg AS y
                 FROM sym JOIN deg da ON sym.a = da.n
                          JOIN deg db ON sym.b = db.n),
          mom AS (SELECT count(*) AS m,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x * y) AS BIGINT) AS sxy,
                         CAST(sum(x * x) AS BIGINT) AS sxx,
                         CAST(sum(y * y) AS BIGINT) AS syy
                  FROM xy),
          nn AS (SELECT count(*) AS n_nodes FROM deg),
          ne AS (SELECT count(*) AS n_edges FROM e)
          SELECT n_nodes, n_edges,
                 floor((CASE WHEN (m * sxx - sx * sx) > 0
                               AND (m * syy - sy * sy) > 0
                        THEN CAST(m * sxy - sx * sy AS DOUBLE)
                             / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                                    * CAST(m * syy - sy * sy AS DOUBLE))
                        END) * 10000 + 0.5) / 10000.0 AS assortativity
          FROM mom CROSS JOIN nn CROSS JOIN ne""",
    "graph_kcore" ->
      // every CTE is MATERIALIZED: each peel round references its
      // predecessor three times (twice in the degree union, once in the
      // edge restriction), so the default inlining re-evaluates the base
      // co-occurrence self-join ~3^5 times and the oracle never finishes
      s"""WITH ${cooc.format("e0", " MATERIALIZED")},
          k1 AS MATERIALIZED (${peelKeep.format("e0", "e0")}),
          e1 AS MATERIALIZED (${peelEdge.format("e0", "k1", "k1")}),
          k2 AS MATERIALIZED (${peelKeep.format("e1", "e1")}),
          e2 AS MATERIALIZED (${peelEdge.format("e1", "k2", "k2")}),
          k3 AS MATERIALIZED (${peelKeep.format("e2", "e2")}),
          e3 AS MATERIALIZED (${peelEdge.format("e2", "k3", "k3")}),
          k4 AS MATERIALIZED (${peelKeep.format("e3", "e3")}),
          e4 AS MATERIALIZED (${peelEdge.format("e3", "k4", "k4")}),
          k5 AS MATERIALIZED (${peelKeep.format("e4", "e4")}),
          e5 AS MATERIALIZED (${peelEdge.format("e4", "k5", "k5")})
          SELECT n AS user_id, CAST(count(*) AS BIGINT) AS deg
          FROM (SELECT a AS n FROM e5 UNION ALL SELECT b FROM e5)
          GROUP BY n ORDER BY n""",
    "graph_label_propagation" ->
      s"""WITH ${cooc.format("e", "")},
          nbr AS (SELECT a AS node, b AS m FROM e
                  UNION ALL SELECT b, a FROM e),
          l0 AS (SELECT DISTINCT node, node AS lbl FROM nbr),
          l1 AS (${lpaIter.format("l0")}),
          l2 AS (${lpaIter.format("l1")}),
          l3 AS (${lpaIter.format("l2")})
          SELECT node AS user_id, lbl AS community FROM l3 ORDER BY node""",
    "graph_pagerank" ->
      s"""WITH e AS (
            SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          dir AS (SELECT a AS src, b AS dst FROM e
                  UNION ALL SELECT b, a FROM e),
          deg0 AS (SELECT src AS node, count(*) AS deg FROM dir GROUP BY 1),
          nn AS (SELECT count(*) AS n FROM deg0),
          p0 AS (SELECT node, 1000000000000 // nn.n AS pr FROM deg0, nn),
          p1 AS (${iter.format("p0")}),
          p2 AS (${iter.format("p1")}),
          p3 AS (${iter.format("p2")}),
          p4 AS (${iter.format("p3")}),
          p5 AS (${iter.format("p4")})
          SELECT CASE WHEN node % 2 = 0 THEN 'supplier'
                      ELSE 'customer' END AS kind,
                 node // 2 AS key, CAST(pr AS BIGINT) AS pr_scaled
          FROM p5 ORDER BY pr_scaled DESC, node""",
    "graph_triangle_count" ->
      s"""WITH ${cooc.format("e", "")},
          deg AS (SELECT n, count(*) AS deg FROM (
                    SELECT a AS n FROM e UNION ALL SELECT b FROM e)
                  GROUP BY 1),
          s AS (SELECT count(*) AS n_nodes,
                       CAST(coalesce(sum(deg * (deg - 1) // 2), 0)
                            AS BIGINT) AS n_wedges
                FROM deg),
          ne AS (SELECT count(*) AS n_edges FROM e),
          tri AS (SELECT count(*) AS n_triangles
                  FROM e e1 JOIN e e2 ON e1.b = e2.a
                  JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b)
          SELECT n_nodes, n_edges, n_wedges, n_triangles,
                 CASE WHEN n_wedges > 0 THEN
                   floor((CAST(n_triangles AS DOUBLE) * 3.0
                          / CAST(n_wedges AS DOUBLE)) * 10000 + 0.5)
                     / 10000.0
                 END AS clustering
          FROM s, ne, tri""",
    "graph_degree_distribution" ->
      s"""WITH ${cooc.format("e", "")},
          deg AS (SELECT n, count(*) AS deg FROM (
                    SELECT a AS n FROM e UNION ALL SELECT b FROM e)
                  GROUP BY 1)
          SELECT deg, count(*) AS n_nodes FROM deg
          GROUP BY deg ORDER BY deg""",
    "graph_connected_components" ->
      s"""WITH RECURSIVE ${cooc.format("e0", "")},
          e AS (SELECT a AS s, b AS t FROM e0 UNION ALL SELECT b, a FROM e0),
          nodes AS (SELECT DISTINCT s AS node FROM e),
          reach(node, r) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT reach.node, e.t FROM reach JOIN e ON reach.r = e.s)
          SELECT node AS user_id, CAST(min(r) AS BIGINT) AS component
          FROM reach GROUP BY node ORDER BY user_id""",
    "graph_shortest_paths" ->
      s"""WITH RECURSIVE ${cooc.format("e0", "")},
          e AS (SELECT a AS s, b AS t FROM e0 UNION ALL SELECT b, a FROM e0),
          src AS (SELECT min(a) AS m FROM e0),
          reach(node, d) AS (
            SELECT m, 0 FROM src WHERE m IS NOT NULL
            UNION
            SELECT e.t, reach.d + 1 FROM reach
            JOIN e ON reach.node = e.s WHERE reach.d < 8)
          SELECT node AS user_id, CAST(min(d) AS INT) AS dist
          FROM reach GROUP BY node ORDER BY node""",
    "graph_resource_allocation" ->
      s"""WITH ${cooc.format("e", "")},
          nbr AS (SELECT a AS n, b AS m FROM e
                  UNION ALL SELECT b, a FROM e),
          deg AS (SELECT n, count(*) AS deg FROM nbr GROUP BY 1),
          byc AS (SELECT nbr.m AS c, nbr.n AS x,
                         1000000000 // deg.deg AS w
                  FROM nbr JOIN deg ON nbr.m = deg.n),
          wdg AS (SELECT b1.x AS x, b2.x AS y,
                         CAST(sum(b1.w) AS BIGINT) AS ra_scaled,
                         count(*) AS n_common
                  FROM byc b1 JOIN byc b2 ON b1.c = b2.c
                  WHERE b1.x < b2.x GROUP BY 1, 2),
          miss AS (SELECT wdg.* FROM wdg LEFT JOIN e
                     ON wdg.x = e.a AND wdg.y = e.b
                   WHERE e.a IS NULL)
          SELECT x AS user_a, y AS user_b, ra_scaled, n_common
          FROM miss ORDER BY ra_scaled DESC, x, y LIMIT 20""",
    "graph_adamic_adar" ->
      s"""WITH ${cooc.format("e", "")},
          nbr AS (SELECT a AS n, b AS m FROM e
                  UNION ALL SELECT b, a FROM e),
          deg AS (SELECT n, count(*) AS deg FROM nbr GROUP BY 1),
          wdeg AS (SELECT n AS c,
                          1000000000000
                            // CAST(floor(ln(deg)*1000000 + 0.5) AS BIGINT)
                            AS w
                   FROM deg WHERE deg >= 2),
          byc AS (SELECT nbr.m AS c, nbr.n AS x, w
                  FROM nbr JOIN wdeg ON nbr.m = wdeg.c),
          wdg AS (SELECT b1.x AS x, b2.x AS y,
                         CAST(sum(b1.w) AS BIGINT) AS aa_scaled,
                         count(*) AS n_common
                  FROM byc b1 JOIN byc b2 ON b1.c = b2.c
                  WHERE b1.x < b2.x GROUP BY 1, 2),
          miss AS (SELECT wdg.* FROM wdg LEFT JOIN e
                     ON wdg.x = e.a AND wdg.y = e.b
                   WHERE e.a IS NULL)
          SELECT x AS user_a, y AS user_b, aa_scaled, n_common
          FROM miss ORDER BY aa_scaled DESC, x, y LIMIT 20""",
    "graph_jaccard_linkpred" ->
      s"""WITH ${cooc.format("e", "")},
          nbr AS (SELECT a AS n, b AS m FROM e
                  UNION ALL SELECT b, a FROM e),
          deg AS (SELECT n, count(*) AS deg FROM nbr GROUP BY 1),
          wdg AS (SELECT n1.n AS x, n2.n AS y, count(*) AS n_common
                  FROM nbr n1 JOIN nbr n2 ON n1.m = n2.m
                  WHERE n1.n < n2.n GROUP BY 1, 2),
          sc AS (SELECT x, y, n_common,
                        1000000 * n_common // (dx.deg + dy.deg - n_common)
                          AS j_scaled
                 FROM wdg JOIN deg dx ON wdg.x = dx.n
                          JOIN deg dy ON wdg.y = dy.n),
          miss AS (SELECT sc.* FROM sc LEFT JOIN e
                     ON sc.x = e.a AND sc.y = e.b
                   WHERE e.a IS NULL)
          SELECT x AS user_a, y AS user_b, j_scaled, n_common
          FROM miss ORDER BY j_scaled DESC, x, y LIMIT 20""",
    "graph_common_neighbors" ->
      s"""WITH ${cooc.format("e", "")},
          nbr AS (SELECT a AS n, b AS m FROM e
                  UNION ALL SELECT b, a FROM e),
          w AS (SELECT n1.n AS x, n2.n AS y, count(*) AS n_common
                FROM nbr n1 JOIN nbr n2 ON n1.m = n2.m
                WHERE n1.n < n2.n GROUP BY 1, 2),
          miss AS (SELECT w.* FROM w LEFT JOIN e
                     ON w.x = e.a AND w.y = e.b
                   WHERE e.a IS NULL)
          SELECT x AS user_a, y AS user_b, n_common
          FROM miss ORDER BY n_common DESC, x, y LIMIT 20""",
  )
}
