package graft.ops

import graft.ext.CatalystExt
import graft.util.Canon._
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** UDF / UDAF / UDTF / custom-Expression queries — SURVEY.md §2.11, driving
  * the graft.ext.CatalystExt extension points plus the public UDF surfaces.
  */
object Extensions {
  type Q = (SparkSession, String) => DataFrame

  /** Typed Aggregator (log-sum buffer → geometric mean), the user-facing
    * UDAF path; oracle twin is exp(avg(ln(x))). */
  object GeoMean extends Aggregator[Double, (Double, Long), Double] {
    override def zero: (Double, Long) = (0.0, 0L)
    override def reduce(b: (Double, Long), x: Double): (Double, Long) =
      (b._1 + math.log(x), b._2 + 1)
    override def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    override def finish(b: (Double, Long)): Double = math.exp(b._1 / b._2)
    override def bufferEncoder: Encoder[(Double, Long)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Registered Scala UDF usable from both DSL and SQL (§2.11 udf_scalar);
    * registered once per session through the public `s.udf.register`,
    * the API this id exercises. */
  private def registerHaversine(s: SparkSession): Unit =
    if (CatalystExt.missing(s, "graft_haversine"))
      s.udf.register("graft_haversine",
        udf((lat1: Double, lon1: Double, lat2: Double, lon2: Double) => {
          val r = 6371.0
          val dLat = math.toRadians(lat2 - lat1)
          val dLon = math.toRadians(lon2 - lon1)
          val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
            math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
              math.sin(dLon / 2) * math.sin(dLon / 2)
          2.0 * r * math.asin(math.sqrt(a))
        }))

  private val udfScalar: Q = (s, d) => {
    registerHaversine(s)
    tbl(s, d, "events")
      .withColumn("lat1", abs(col("value")) % 90.0)
      .withColumn("lon1", abs(col("value") * 2.0) % 180.0)
      .withColumn("lat2", (col("user_id") % 90).cast("double"))
      .withColumn("lon2", (col("event_id") % 180).cast("double"))
      .select(col("event_id"),
        r4(expr("graft_haversine(lat1, lon1, lat2, lon2)")).as("dist_km"))
      .orderBy("event_id")
  }

  private val udafAggregator: Q = (s, d) => {
    if (CatalystExt.missing(s, "graft_geomean"))
      s.udf.register("graft_geomean", udaf(GeoMean))
    tbl(s, d, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(r4(expr("graft_geomean(o_totalprice)")).as("geomean_price"))
      .orderBy("o_orderstatus")
  }

  /** Spark 4's BUILT-IN bitmap aggregate family — the native counterpart
    * to agg_bitmap_distinct's custom TypedImperativeAggregate: keys bucket
    * at 32768 bits (`bitmap_bucket_number`), each (group, bucket) folds to
    * ONE fixed-size bitmap via `bitmap_construct_agg`, and the exact
    * distinct count is the sum of `bitmap_count`s. The 100 TB property is
    * the same as the custom one: partials are bounded mergeable bitmaps,
    * so the shuffle carries O(groups × occupied-buckets × 4 KB) instead
    * of the key multiset — the textbook exact-distinct-at-scale layout,
    * here entirely in built-ins (codegen-friendly, AQE-visible). */
  private val aggBitmapNative: Q = (s, d) => {
    tbl(s, d, "orders").createOrReplaceTempView("agg_bmn_orders")
    tbl(s, d, "customer").createOrReplaceTempView("agg_bmn_customer")
    s.sql("""
      SELECT c_mktsegment, CAST(sum(cnt) AS BIGINT) AS n_cust
      FROM (
        SELECT c_mktsegment,
               bitmap_bucket_number(o_custkey) AS b,
               bitmap_count(bitmap_construct_agg(
                 bitmap_bit_position(o_custkey))) AS cnt
        FROM agg_bmn_orders JOIN agg_bmn_customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, bitmap_bucket_number(o_custkey))
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  /** SQL-defined scalar UDF (Spark 4.1 `CREATE FUNCTION ... RETURN expr`)
    * — the 100 TB counterpoint to udf_scalar's JVM closure: a SQL UDF is
    * INLINED by the analyzer (the plan shows the expression, no ScalaUDF
    * node — pinned in SqlUdfSpec), so it stays inside whole-stage
    * codegen, remains pushdown-eligible, and costs nothing at executor
    * scale. Same exact-cents charge as the pricing summary, routed
    * through the function. */
  private val udfSqlScalar: Q = (s, d) => {
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_charge_cents(
               p DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS BIGINT
             RETURN CAST(floor(p*(1.0-disc)*(1.0+tax)*100 + 0.5) AS BIGINT)""")
    tbl(s, d, "lineitem").createOrReplaceTempView("sql_udf_li")
    s.sql("""
      SELECT l_returnflag,
             sum(graft_charge_cents(l_extendedprice, l_discount, l_tax))
               AS charge_cents,
             count(*) AS n
      FROM sql_udf_li GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  /** SQL-defined TABLE function applied per row via LATERAL — the
    * declarative generator form: `RETURNS TABLE ... RETURN SELECT
    * explode(...)` inlines to the same Generate node a built-in explode
    * plans (no UDTF interpreter), so per-row expansion is codegen'd and
    * the expansion factor is the data (n_chars div 100 + 1 bucket rows
    * per document), never a driver loop. */
  private val udtfSqlLateral: Q = (s, d) => {
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_buckets(n INT)
             RETURNS TABLE(b INT) RETURN SELECT explode(sequence(0, n-1))""")
    tbl(s, d, "documents").createOrReplaceTempView("sql_tvf_docs")
    s.sql("""
      SELECT d.doc_id, t.b AS bucket
      FROM sql_tvf_docs d,
           LATERAL graft_buckets(CAST(d.n_chars DIV 100 AS INT) + 1) t
      ORDER BY doc_id, bucket""")
  }

  /** Built-in generator path: posexplode over tokens (bounded slice). */
  private val udtfGenerator: Q = (s, d) =>
    tbl(s, d, "documents").where(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(split(lower(trim(col("text"))), " "))
        .as(Seq("pos", "token")))
      .orderBy("doc_id", "pos")

  /** Custom Catalyst Generator path: graft_bigrams (CatalystExt.Bigrams). */
  private val udtfNgrams: Q = (s, d) => {
    tbl(s, d, "documents").where(col("doc_id") < 20)
      .withColumn("tk", split(lower(trim(col("text"))), " "))
      .select(col("doc_id"), expr("graft_bigrams(tk)").as(Seq("pos", "ngram")))
      .orderBy("doc_id", "pos")
  }

  /** Custom native Expression path: graft_cosine ≡ the HOF cosine (§2.11). */
  private val exprCustomCosine: Q = (s, d) => {
    val e = tbl(s, d, "embeddings")
    val q0 = e.where(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    e.crossJoin(broadcast(q0))
      .where(col("vec_id") =!= 0)
      .select(col("vec_id"),
        r4(expr("graft_cosine(embedding, qe)")).as("cos"))
      .orderBy("vec_id")
  }

  /** From-scratch HLL (TypedImperativeAggregate) vs exact distinct — rel.
    * error ≤ 2% asserted in the test suite; sketches have no DuckDB twin. */
  private val aggHllCustom: Q = (s, d) => {
    tbl(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("graft_hll(l_orderkey)").as("hll_orders"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
      .orderBy("l_returnflag")
  }

  /** The custom HLL's guarantee audit (agg_approx_percentile_audit
    * pattern): emits the exact count and the |Δ| ≤ 2%·exact verdict the
    * suite asserts, in exact scaled integers, so the from-scratch sketch
    * is gated by the DuckDB oracle (within_bound must replay true), not
    * only by the in-suite assertion. */
  private val aggHllCustomAudit: Q = (s, d) => {
    tbl(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("graft_hll(l_orderkey)").as("a"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
      .select(col("l_returnflag"), col("exact_orders"),
        (abs(col("a") - col("exact_orders")) * 100L <=
          col("exact_orders") * 2L).as("within_bound"))
      .orderBy("l_returnflag")
  }

  /** Exact bitset distinct (custom TypedImperativeAggregate, GraftBitmap):
    * active users per event type counted through a fixed 2^21-bit bitmap
    * with bitwise-OR merge — the exact mergeable counterpart of the HLL for
    * bounded id domains (at 100 TB: the daily-actives → monthly-actives
    * rollup primitive, where re-aggregating bitmaps stays exact and a
    * sketch would not). Oracle: plain COUNT(DISTINCT). */
  private val aggBitmapDistinct: Q = (s, d) => {
    tbl(s, d, "events")
      .groupBy(col("event_type"))
      .agg(expr("graft_bitmap_distinct(user_id, 2097152)").as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  /** Misra–Gries heavy hitters (custom TypedImperativeAggregate) over the
    * event-type stream — the O(k)-state frequent-items path that replaces a
    * full groupBy+sort at 100 TB. Here distinct(5) ≤ k(8), where MG is
    * provably EXACT (no counter is ever decremented), so the sketch output
    * is DuckDB-oracle-checkable against plain counts; the k < distinct
    * decrement/merge machinery and the n/(k+1) error bounds are exercised on
    * skewed synthetic data in HeavyHittersSpec. */
  private val aggHeavyHitters: Q = (s, d) => {
    val ev = tbl(s, d, "events")
      .withColumn("code", xxhash64(col("event_type")))
    val cand = ev
      .agg(expr("graft_heavy_hitters(code, 8)").as("hh"))
      .select(explode(col("hh")).as("c"))
      .select(col("c.item").as("code"), col("c.est").as("est"))
    val names = ev.select("code", "event_type").distinct()
    cand.join(names, "code")
      .select(col("event_type"), col("est"))
      .orderBy(desc("est"), asc("event_type"))
  }

  /** KLL-style quantile sketch (third custom TypedImperativeAggregate) over
    * supplier balances per nation. Group sizes here stay ≤ k(128), where the
    * sketch is provably exact (no compaction fires) and returns an actual
    * element — so the query is DuckDB-oracle-checkable vs percentile_disc;
    * the compaction/merge path and its ≤2% rank-error are exercised on 50k+
    * element synthetic streams in QuantileSketchSpec. */
  private val aggQuantileSketch: Q = (s, d) => {
    // s_suppkey <= 100 bounds every nation's group at 100 rows — the n ≤ k
    // exactness premise holds STRUCTURALLY at any scale factor (the same
    // first-100 suppliers exist at every SF), not just the tested ones
    tbl(s, d, "supplier").where(col("s_suppkey") <= 100)
      .groupBy(col("s_nationkey"))
      .agg(expr("graft_kll_quantile(s_acctbal, 0.5, 128)").as("p50_sketch"),
        expr("graft_kll_quantile(s_acctbal, 0.9, 128)").as("p90_sketch"),
        count(lit(1)).as("n"))
      .orderBy("s_nationkey")
  }

  /** Bounded top-k selection (fourth custom TypedImperativeAggregate —
    * graft_topk_min, built in round 5 for the ANN candidate stages): the
    * 25 cheapest events per type by (cents, event_id). Unlike the sketches
    * above it is EXACT at every n (k-smallest under a total order is a
    * selection), so the full update/merge machinery is DuckDB-oracle-checked
    * directly against the window-rank SQL it replaces; at 100 TB the win is
    * O(k) state per map task and a k·partitions-row shuffle instead of a
    * window partition holding every row of the group. */
  private val aggTopkSketch: Q = (s, d) => {
    tbl(s, d, "events")
      .withColumn("c", cents(col("value")).cast("double"))
      .groupBy(col("event_type"))
      .agg(expr("graft_topk_min(c, event_id, 25)").as("topk"))
      .select(col("event_type"), posexplode(col("topk")).as(Seq("pos", "e")))
      .select(col("event_type"), col("pos").cast("long").as("pos"),
        (col("e.score") / 100.0).as("value"), col("e.id").as("event_id"))
      .orderBy("event_type", "pos")
  }

  val queries: Map[String, Q] = Map(
    "agg_quantile_sketch" -> aggQuantileSketch,
    "agg_topk_sketch" -> aggTopkSketch,
    "udf_scalar" -> udfScalar,
    "udf_sql_scalar" -> udfSqlScalar,
    "udtf_sql_lateral" -> udtfSqlLateral,
    "udaf_aggregator" -> udafAggregator,
    "udtf_generator" -> udtfGenerator,
    "udtf_ngrams" -> udtfNgrams,
    "expr_custom_cosine" -> exprCustomCosine,
    "agg_hll_custom" -> aggHllCustom,
    "agg_hll_custom_audit" -> aggHllCustomAudit,
    "agg_heavy_hitters" -> aggHeavyHitters,
    "agg_bitmap_distinct" -> aggBitmapDistinct,
    "agg_bitmap_native" -> aggBitmapNative,
    "agg_cms_freq" -> aggCmsFreq,
    "fn_protobuf_decode" -> fnProtobufDecode,
    "fn_protobuf_repeated" -> fnProtobufRepeated,
    "fn_protobuf_nested" -> fnProtobufNested,
  )

  /** Count-Min point-frequency sketch over events.user_id (d=4 rows ×
    * w=64 counters — 150/1,500 distinct keys at sf0.01/0.1 hash into 64
    * buckets per row, so collisions are real at every SF): ONE scan
    * builds the 256-counter table as a TypedImperativeAggregate (O(d·w)
    * partial state per partition regardless of key cardinality, merged
    * by elementwise add — counters are linear, the property that makes
    * CMS the distributed-frequency workhorse), then the 10 probe keys
    * (user_id < 10) are estimated in plain column algebra over the
    * flattened table — est(k) = least of the d element_at lookups —
    * beside their exact counts. CMS can never UNDERcount (est ≥ exact
    * deterministically; the `no_undercount` verdict replays on both
    * engines), and `overcount` exposes the colliding mass. The portable
    * affine row hashes (CatalystExt.CmsA/B mod 2^31−1 mod 64 — the
    * tbucket precedent, deliberately not xxhash64) make the WHOLE sketch
    * DuckDB-replayable: a full-oracle sketch row, unlike the HLL that
    * only an audit can gate. */
  /** Protobuf wire-format decode as a NATIVE codegen'd Expression
    * ([[CatalystExt.ProtoGet]]) — the r16 decode-breadth stretch: landing
    * zones carry proto-framed records next to Avro, no protobuf jar ships
    * un-shaded in the image, and the wire format itself is 4 public rules.
    * Staging encodes each event row into proto bytes (Scala UDF, fixture
    * side only) with DELIBERATE obstacles: an unknown varint field before
    * and an unknown length-delimited field after the real ones (the skip
    * paths every forward-compatible reader needs), and field 1 written
    * twice (proto3 last-wins). The decode side is the native expression —
    * three typed extractions plus an absent-field probe that must be NULL —
    * and the oracle recomputes every value from the base columns, so
    * encode→decode must be value-faithful including the double's exact
    * fixed64 bit round-trip. At 100 TB the decode is a per-row scan of a
    * ~50-byte buffer inside whole-stage codegen: no UDF hop, no allocation
    * beyond the output string. */
  private lazy val fnProtobufDecode: Q = (s, d) => {
    val enc = udf(CatalystExt.protoEncodeEvent _)
    tbl(s, d, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("pb", enc(col("event_id"), col("event_type"), col("value")))
      .selectExpr("event_id",
        "graft_proto_long(pb, 1) AS p_id",
        "graft_proto_string(pb, 2) AS p_et",
        "graft_proto_double(pb, 3) AS p_val",
        "graft_proto_long(pb, 9) AS p_missing")
      .orderBy("event_id")
  }


  /** Repeated-field decode breadth (r17, VERDICT r16 item 4): field 4 is
    * written with MIXED encodings in the same buffer — two unpacked
    * wiretype-0 varints then a packed wiretype-2 run — and the native
    * [[CatalystExt.ProtoGetRepeated]] must concatenate all five values in
    * wire order (the proto3 spec requires readers accept both forms for a
    * repeated scalar). The absent-field probe must be the EMPTY array
    * (proto3: absent repeated = empty list, unlike absent scalar = NULL).
    * Every element recomputes from event_id in the oracle, so a skipped
    * occurrence, a mis-parsed packed run, or wrong ordering breaks the
    * hash. NewOpsSpec additionally pins the whole projection under
    * CODEGEN_ONLY with codegen fallback disabled.
    *
    * r18 (VERDICT r17 item 1): the output is the array's canonical
    * comma-joined string plus an emptiness verdict, NOT the raw arrays —
    * the driver's checker sorts/hashes rows via pandas, which cannot hash
    * an ndarray cell, so the id had no ground-truth verdict at all. The
    * string form pins the same decode (all five values, wire order) and
    * `p_empty_ok` pins proto3's absent-repeated = EMPTY-list (a NULL or a
    * non-empty decode both break it), and every row is now
    * checker-comparable. */
  private lazy val fnProtobufRepeated: Q = (s, d) => {
    val enc = udf(CatalystExt.protoEncodeEventEx _)
    tbl(s, d, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("pb", enc(col("event_id"), col("event_type"), col("value")))
      .selectExpr("event_id",
        "array_join(transform(graft_proto_longs(pb, 4), x -> CAST(x AS STRING)), ',') AS p_tags",
        "(graft_proto_longs(pb, 9) IS NOT NULL AND size(graft_proto_longs(pb, 9)) = 0) AS p_empty_ok")
      .orderBy("event_id")
  }

  /** Nested-message decode breadth (r17): field 5 is an embedded message
    * written TWICE (decoy first — last occurrence wins), carrying its own
    * unknown-field obstacle and an in-message decoy for inner field 1 —
    * [[CatalystExt.ProtoGetNested]] does the length-delimited hop then
    * rescans the payload with the scalar kernels. Three typed inner
    * extractions plus two absence probes (absent INNER field, absent
    * OUTER message) that must both be NULL; the inner double is the outer
    * value halved (exact in IEEE — exponent decrement), so the fixed64
    * bit round-trip is oracle-replayable. */
  private lazy val fnProtobufNested: Q = (s, d) => {
    val enc = udf(CatalystExt.protoEncodeEventEx _)
    tbl(s, d, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("pb", enc(col("event_id"), col("event_type"), col("value")))
      .selectExpr("event_id",
        "graft_proto_nested_long(pb, 5, 1) AS n_id",
        "graft_proto_nested_string(pb, 5, 2) AS n_et",
        "graft_proto_nested_double(pb, 5, 3) AS n_val",
        "graft_proto_nested_long(pb, 5, 9) AS n_missing_inner",
        "graft_proto_nested_long(pb, 6, 1) AS n_missing_outer")
      .orderBy("event_id")
  }

  private lazy val aggCmsFreq: Q = (s, d) => {
    import graft.ext.CatalystExt.{CmsA, CmsB, CmsD, CmsP, CmsW}
    val ev = tbl(s, d, "events")
    val sk = ev.agg(expr("graft_cms(user_id)").as("sk"))
    val probes = ev.where(col("user_id") < 10)
      .groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
    val ests = (0 until CmsD).map { i =>
      val h = pmod(pmod(lit(CmsA(i)) * pmod(col("user_id"), lit(CmsP))
        + lit(CmsB(i)), lit(CmsP)), lit(CmsW.toLong))
      element_at(col("sk"), (lit(i * CmsW) + h + lit(1L)).cast("int"))
    }
    probes.crossJoin(broadcast(sk))
      .withColumn("cms_est", least(ests: _*))
      .select(col("user_id"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"),
        (col("cms_est") >= col("exact_cnt")).as("no_undercount"))
      .orderBy("user_id")
  }

  /** The CMS oracle: DuckDB rebuilds each of the d counter rows as a
    * GROUP BY over the same affine hash, then takes the same least-of-d
    * lookup per probe key — the full sketch replayed, constants mirrored
    * from CatalystExt.CmsA/B. */
  private def cmsOracleSql: String = {
    import graft.ext.CatalystExt.{CmsA, CmsB, CmsD, CmsP, CmsW}
    def hx(i: Int, k: String) =
      s"((${CmsA(i)} * ($k % $CmsP) + ${CmsB(i)}) % $CmsP) % $CmsW"
    val rowCtes = (0 until CmsD).map(i =>
      s"""r$i AS (SELECT ${hx(i, "user_id")} AS b,
             CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1)""")
      .mkString(",\n          ")
    val joins = (0 until CmsD).map(i =>
      s"JOIN r$i ON r$i.b = ${hx(i, "p.user_id")}").mkString("\n            ")
    val est = (0 until CmsD).map(i => s"r$i.c").mkString("least(", ", ", ")")
    s"""WITH $rowCtes,
          probe AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
                    FROM events WHERE user_id < 10 GROUP BY 1)
        SELECT p.user_id, p.exact_cnt,
               $est AS cms_est,
               $est - p.exact_cnt AS overcount,
               $est >= p.exact_cnt AS no_undercount
        FROM probe p
            $joins
        ORDER BY p.user_id"""
  }

  private val havSql =
    """2.0 * 6371.0 * asin(sqrt(
         sin(radians(lat2 - lat1)/2)*sin(radians(lat2 - lat1)/2) +
         cos(radians(lat1))*cos(radians(lat2)) *
         sin(radians(lon2 - lon1)/2)*sin(radians(lon2 - lon1)/2)))"""

  val oracle: Map[String, String] = Map(
    "agg_cms_freq" -> cmsOracleSql,
    // every decoded field recomputed from the base columns; the absent
    // field must be NULL (typed BIGINT to match graft_proto_long)
    "fn_protobuf_decode" ->
      """SELECT event_id, event_id AS p_id, event_type AS p_et,
                value AS p_val, CAST(NULL AS BIGINT) AS p_missing
         FROM events ORDER BY event_id""",
    // all five repeated elements in wire order (2 unpacked + 3 packed),
    // as the canonical comma-joined decimal string; absent repeated field
    // = EMPTY typed list (p_empty_ok replays true), not NULL
    "fn_protobuf_repeated" ->
      """SELECT event_id,
                array_to_string([event_id % 100, (event_id * 3) % 1000,
                 event_id % 7, event_id % 11, event_id % 13], ',') AS p_tags,
                true AS p_empty_ok
         FROM events ORDER BY event_id""",
    // last nested occurrence wins (decoy first), inner values recomputed
    // from the base columns; both absence probes NULL
    "fn_protobuf_nested" ->
      """SELECT event_id,
                event_id * 7 + 3 AS n_id,
                event_type || '~n' AS n_et,
                value / 2 AS n_val,
                CAST(NULL AS BIGINT) AS n_missing_inner,
                CAST(NULL AS BIGINT) AS n_missing_outer
         FROM events ORDER BY event_id""",
    "agg_hll_custom_audit" ->
      """SELECT l_returnflag,
                count(DISTINCT l_orderkey) AS exact_orders,
                true AS within_bound
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "udf_scalar" ->
      s"""WITH t AS (
            SELECT event_id,
                   abs(value) % 90.0 AS lat1,
                   abs(value * 2.0) % 180.0 AS lon1,
                   CAST(user_id % 90 AS DOUBLE) AS lat2,
                   CAST(event_id % 180 AS DOUBLE) AS lon2
            FROM events)
          SELECT event_id, floor(($havSql)*10000 + 0.5)/10000.0 AS dist_km
          FROM t ORDER BY event_id""",
    "agg_bitmap_native" ->
      """SELECT c_mktsegment, count(DISTINCT o_custkey) AS n_cust
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "udf_sql_scalar" ->
      """SELECT l_returnflag,
                CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)*100 + 0.5) AS BIGINT)) AS BIGINT) AS charge_cents,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "udtf_sql_lateral" ->
      """SELECT doc_id,
                CAST(unnest(range(0, n_chars // 100 + 1)) AS INTEGER) AS bucket
         FROM documents ORDER BY doc_id, bucket""",
    "udaf_aggregator" ->
      """SELECT o_orderstatus,
                floor((exp(avg(ln(o_totalprice))))*10000 + 0.5)/10000.0 AS geomean_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // n ≤ k(128) per group ⇒ the KLL sketch is exact ⇒ percentile_disc
    // reproduces it
    "agg_quantile_sketch" ->
      """SELECT s_nationkey,
                percentile_disc(0.5) WITHIN GROUP (ORDER BY s_acctbal) AS p50_sketch,
                percentile_disc(0.9) WITHIN GROUP (ORDER BY s_acctbal) AS p90_sketch,
                count(*) AS n
         FROM supplier WHERE s_suppkey <= 100
         GROUP BY s_nationkey ORDER BY s_nationkey""",
    // the bitmap aggregate is exact by construction ⇒ COUNT(DISTINCT) IS its oracle
    "agg_bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
                count(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type""",
    // distinct(5) ≤ k(8) ⇒ the MG sketch is exact ⇒ plain counts reproduce it
    "agg_heavy_hitters" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS est
         FROM events GROUP BY event_type ORDER BY est DESC, event_type""",
    // exact selection ⇒ the window-rank SQL the aggregate replaces IS its oracle
    "agg_topk_sketch" ->
      """WITH r AS (
           SELECT event_type, event_id,
                  CAST(floor(value*100 + 0.5) AS BIGINT) AS c,
                  row_number() OVER (
                    PARTITION BY event_type
                    ORDER BY CAST(floor(value*100 + 0.5) AS BIGINT), event_id)
                    AS rk
           FROM events)
         SELECT event_type, CAST(rk - 1 AS BIGINT) AS pos, c/100.0 AS value,
                event_id
         FROM r WHERE rk <= 25 ORDER BY event_type, pos""",
    "udtf_generator" ->
      """WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk
                    FROM documents WHERE doc_id < 20),
          p AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS i, tk FROM t)
         SELECT doc_id, i - 1 AS pos, tk[i] AS token
         FROM p ORDER BY doc_id, pos""",
    "udtf_ngrams" ->
      """WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk
                    FROM documents WHERE doc_id < 20),
          p AS (SELECT doc_id, unnest(generate_series(1, len(tk) - 1)) AS i, tk FROM t)
         SELECT doc_id, i - 1 AS pos, tk[i] || ' ' || tk[i + 1] AS ngram
         FROM p ORDER BY doc_id, pos""",
    "expr_custom_cosine" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT vec_id,
                floor((list_sum(list_transform(list_zip(embedding, qe),
                         x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(list_zip(embedding, embedding),
                            x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(list_zip(qe, qe),
                            x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE))))))*10000 + 0.5)/10000.0 AS cos
         FROM embeddings CROSS JOIN q WHERE vec_id <> 0 ORDER BY vec_id""",
  )
}
