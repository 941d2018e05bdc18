package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** SQL-string entry point matrix (SURVEY §3 "Entry point 2", round-6
  * verdict item 4 of "What's missing"): EVERY function CatalystExt
  * registers must be callable through a plain `spark.sql(...)` string — no
  * DataFrame API, no Column helpers — and return values consistent with an
  * exact counterpart. The first test pins the registry list itself, so a
  * newly registered function that is missing from this matrix fails the
  * suite instead of shipping untested on the SQL surface. */
class SqlEntrySpec extends AnyFunSuite {
  import TestSession._

  private lazy val init: Unit = {
    // the two session-UDF registrations that normally happen inside their
    // query closures (udf_scalar / udaf_aggregator) — forced here so the
    // matrix covers the full SQL surface regardless of suite order
    SparkEntry.queries("udf_scalar")(spark, sf).head()
    SparkEntry.queries("udaf_aggregator")(spark, sf).head()
    graft.util.Canon.events(spark, sf).createOrReplaceTempView("sql_events")
    spark.read.parquet(s"$sf/embeddings.parquet")
      .createOrReplaceTempView("sql_embeddings")
    spark.read.parquet(s"$sf/orders.parquet")
      .createOrReplaceTempView("sql_orders")
  }

  private val expected = Set("graft_cosine", "graft_hll", "graft_heavy_hitters",
    "graft_kll_quantile", "graft_bigrams", "graft_topk_min",
    "graft_bitmap_distinct", "graft_haversine", "graft_geomean", "graft_cms",
    "graft_proto_long", "graft_proto_double", "graft_proto_string",
    "graft_proto_longs", "graft_proto_nested_long",
    "graft_proto_nested_double", "graft_proto_nested_string",
    "graft_min_k_set")

  test("graft_proto_*: last-wins, unknown-field skip, absent/malformed → NULL") {
    init
    val spark2 = spark; import spark2.implicits._
    // encoder writes: unknown field 7 first, field 1 TWICE (1234567890123
    // wins), string field 2, fixed64 field 3, unknown length-delimited
    // field 8 last — so every decode below crosses both skip paths
    val buf = graft.ext.CatalystExt.protoEncodeEvent(1234567890123L, "héllo", -2.5)
    val df = Seq((1, buf), (2, Array[Byte](0x08.toByte)), (3, Array.empty[Byte]))
      .toDF("i", "pb")
    val r = df.selectExpr("i",
      "graft_proto_long(pb, 1) AS l", "graft_proto_string(pb, 2) AS s",
      "graft_proto_double(pb, 3) AS d", "graft_proto_long(pb, 9) AS miss")
      .orderBy("i").collect()
    assert(r(0).getLong(1) == 1234567890123L, "last occurrence must win")
    assert(r(0).getString(2) == "héllo")
    assert(r(0).getDouble(3) == -2.5)
    assert(r(0).isNullAt(4), "absent field must be NULL")
    assert(r(1).isNullAt(1) && r(1).isNullAt(2),
      "tag with truncated payload must decode to NULL, not crash")
    assert(r(2).isNullAt(1), "empty buffer must be NULL")
    // negative int64 = 10-byte varint (the longest legal encoding)
    val neg = graft.ext.CatalystExt.protoEncodeEvent(-7L, "x", 0.0)
    assert(graft.ext.CatalystExt.protoGetLong(neg, 1).longValue() == -7L)
    // interpreted eval path agrees with the codegen'd SQL path above
    assert(graft.ext.CatalystExt.protoGetLong(buf, 1).longValue() ==
      1234567890123L)
    assert(graft.ext.CatalystExt.protoGetString(buf, 2).toString == "héllo")
  }

  test("graft_cms from SQL: counter table sums to d*N, estimates ≥ exact") {
    init
    val r = spark.sql("""
      WITH sk AS (SELECT graft_cms(user_id) AS t FROM sql_events),
           ex AS (SELECT user_id, count(*) AS c FROM sql_events
                  WHERE user_id = 0 GROUP BY user_id),
           n AS (SELECT count(*) AS n FROM sql_events)
      SELECT aggregate(t, 0L, (a, x) -> a + x) AS mass, n.n,
             ex.c AS exact0
      FROM sk, n, ex""").head()
    assert(r.getLong(0) == 4L * r.getLong(1), "total mass != d*N")
    // estimate for user 0 via the facade lookup over the SQL-built sketch
    val sk = spark.sql("SELECT graft_cms(user_id) AS t FROM sql_events")
    val est = sk.select(graft.api.functions.cmsEstimate(col("t"), lit(0L)))
      .head().getLong(0)
    assert(est >= r.getLong(2), s"cms estimate $est < exact ${r.getLong(2)}")
  }

  test("graft_proto_longs / graft_proto_nested_* from SQL: wire-order concat, hop, edge NULLs") {
    init
    val spark2 = spark; import spark2.implicits._
    val buf = graft.ext.CatalystExt.protoEncodeEventEx(42L, "ab", -3.5)
    val df = Seq((1, buf), (2, Array[Byte](0x08.toByte)), (3, Array.empty[Byte]))
      .toDF("i", "pb")
    val r = df.selectExpr("i",
      "graft_proto_longs(pb, 4) AS tags",
      "graft_proto_longs(pb, 9) AS no_tags",
      "graft_proto_nested_long(pb, 5, 1) AS nl",
      "graft_proto_nested_string(pb, 5, 2) AS ns",
      "graft_proto_nested_double(pb, 5, 3) AS nd",
      "graft_proto_nested_long(pb, 6, 1) AS no_outer")
      .orderBy("i").collect()
    // 2 unpacked then 3 packed, wire order: [42%100, 126%1000, 0, 9, 3]
    assert(r(0).getSeq[Long](1) == Seq(42L, 126L, 42L % 7, 42L % 11, 42L % 13),
      s"repeated concat in wire order: ${r(0).getSeq[Long](1)}")
    assert(r(0).getSeq[Long](2).isEmpty,
      "absent repeated field must be the EMPTY array (proto3), not NULL")
    assert(r(0).getLong(3) == 42L * 7 + 3, "last nested occurrence must win")
    assert(r(0).getString(4) == "ab~n")
    assert(r(0).getDouble(5) == -1.75)
    assert(r(0).isNullAt(6), "absent outer message must be NULL")
    // malformed buffer (truncated varint payload): NULL, never a crash
    assert(r(1).isNullAt(1) && r(1).isNullAt(3))
    // empty buffer: no occurrences at all
    assert(r(2).getSeq[Long](1).isEmpty && r(2).isNullAt(3))
  }

  test("graft_min_k_set from SQL equals the column-algebra distinct-min-k") {
    init
    val r = spark.sql("""
      SELECT event_type,
             graft_min_k_set(user_id, 5) AS mk,
             slice(sort_array(collect_set(user_id)), 1, 5) AS cs
      FROM sql_events GROUP BY event_type""").collect()
    assert(r.nonEmpty)
    r.foreach(row => assert(row.getSeq[Long](1) == row.getSeq[Long](2),
      s"${row.getString(0)}: ${row.getSeq[Long](1)} vs ${row.getSeq[Long](2)}"))
  }

  test("the registry holds exactly the functions this matrix covers") {
    init
    // SQL-defined routines (CREATE TEMPORARY FUNCTION ... RETURN, r15:
    // udf_sql_scalar / udtf_sql_lateral) are a separate category — they
    // register lazily when those ops first run in this shared session and
    // are covered by their own oracle ids + NewOpsSpec, not this matrix
    val sqlRoutines = Set("graft_charge_cents", "graft_buckets")
    // the exclusion is not a blanket pass: if either name IS registered in
    // this session, pin that it resolves to a SQL-defined routine — a future
    // accidental Scala-UDF registration under these names must not hide
    // behind the exclusion (ADVICE r15)
    sqlRoutines.foreach { fn =>
      spark.sessionState.functionRegistry
        .lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(fn))
        .foreach { info =>
          assert(info.getSource == "sql_udf",
            s"$fn must be a SQL-defined routine, but its registry source is " +
              s"'${info.getSource}' (class ${info.getClassName})")
        }
    }
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet -- sqlRoutines
    assert(registered == expected,
      s"matrix drift: registered=$registered vs covered=$expected")
  }

  test("graft_haversine from SQL: zero distance, symmetry, a known value") {
    init
    val r = spark.sql("""
      SELECT graft_haversine(0D, 0D, 0D, 0D) AS zero,
             graft_haversine(10D, 20D, 30D, 40D) AS ab,
             graft_haversine(30D, 40D, 10D, 20D) AS ba,
             graft_haversine(0D, 0D, 0D, 180D) AS anti""").head()
    assert(r.getDouble(0) == 0.0)
    assert(r.getDouble(1) == r.getDouble(2), "haversine not symmetric")
    // antipodal along the equator = half the circumference (r = 6371 km)
    assert(math.abs(r.getDouble(3) - math.Pi * 6371.0) < 1e-6)
  }

  test("graft_geomean from SQL equals exp(avg(ln(x)))") {
    init
    val rows = spark.sql("""
      SELECT o_orderstatus, graft_geomean(o_totalprice) AS gm,
             exp(avg(ln(o_totalprice))) AS want
      FROM sql_orders GROUP BY o_orderstatus""").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(
      math.abs(r.getDouble(1) - r.getDouble(2)) <= 1e-9 * r.getDouble(2),
      s"${r.getString(0)}: geomean ${r.getDouble(1)} vs ${r.getDouble(2)}"))
  }

  test("graft_cosine from SQL equals the HOF double-fold formulation") {
    init
    val rows = spark.sql("""
      SELECT a.vec_id, graft_cosine(a.embedding, b.embedding) AS c,
             aggregate(zip_with(a.embedding, b.embedding,
                         (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                       0.0D, (acc, x) -> acc + x)
               / (sqrt(aggregate(zip_with(a.embedding, a.embedding,
                           (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                         0.0D, (acc, x) -> acc + x))
                  * sqrt(aggregate(zip_with(b.embedding, b.embedding,
                           (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                         0.0D, (acc, x) -> acc + x))) AS want
      FROM sql_embeddings a JOIN sql_embeddings b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id < 20""").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(1) == r.getDouble(2),
      s"vec ${r.getLong(0)}: codegen cosine != HOF cosine (bit-exactness lost)"))
  }

  test("graft_hll from SQL tracks COUNT(DISTINCT) within 5%") {
    init
    val r = spark.sql("""
      SELECT graft_hll(user_id) AS approx, count(DISTINCT user_id) AS exact
      FROM sql_events""").head()
    val (approx, exact) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"hll $approx vs exact $exact")
  }

  test("graft_heavy_hitters from SQL honors the Misra-Gries guarantee") {
    init
    val hh = spark.sql(
      "SELECT graft_heavy_hitters(user_id, 5) AS hh FROM sql_events")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(hh.nonEmpty && hh.length <= 5)
    val ids = hh.map(_.getLong(0)).toSet
    val users = spark.sql("SELECT DISTINCT user_id FROM sql_events")
      .collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(users), "summary invented a user id")
    // the MG guarantee: every value with frequency > n/k MUST be present
    val guaranteed = spark.sql("""
      SELECT user_id FROM sql_events GROUP BY user_id
      HAVING count(*) > (SELECT count(*) FROM sql_events) / 5""")
      .collect().map(_.getLong(0)).toSet
    assert(guaranteed.subsetOf(ids),
      s"guaranteed heavy hitters ${guaranteed -- ids} missing from $ids")
  }

  test("graft_kll_quantile from SQL tracks exact percentile") {
    init
    val r = spark.sql("""
      SELECT graft_kll_quantile(value, 0.5D, 128) AS med,
             percentile(value, 0.5D) AS exact,
             max(value) - min(value) AS span
      FROM sql_events""").head()
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 0.1 * r.getDouble(2),
      s"kll ${r.getDouble(0)} vs exact ${r.getDouble(1)}")
  }

  test("graft_bigrams from SQL generates positioned bigrams") {
    init
    val got = spark.sql(
      "SELECT graft_bigrams(array('a', 'b', 'c')) AS (pos, bg)")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((0, "a b"), (1, "b c")))
  }

  test("graft_topk_min from SQL returns the exact k-smallest by key") {
    init
    val gotIds = spark.sql("""
      SELECT transform(graft_topk_min(CAST(value AS DOUBLE), event_id, 7),
                       x -> x.id) AS ids
      FROM sql_events""").head().getSeq[Long](0).toSeq
    val want = spark.sql("""
      SELECT event_id FROM sql_events
      ORDER BY CAST(value AS DOUBLE), event_id LIMIT 7""")
      .collect().map(_.getLong(0)).toSeq
    assert(gotIds == want, s"topk $gotIds vs exact $want")
  }

  test("graft_bitmap_distinct from SQL is exactly COUNT(DISTINCT)") {
    init
    val r = spark.sql("""
      SELECT graft_bitmap_distinct(user_id, 4096) AS bm,
             count(DISTINCT user_id) AS exact
      FROM sql_events""").head()
    assert(r.getLong(0) == r.getLong(1))
  }

  test("registered functions survive into grouped SQL aggregation") {
    init
    val rows = spark.sql("""
      SELECT event_type, graft_bitmap_distinct(user_id, 4096) AS bm,
             count(DISTINCT user_id) AS exact
      FROM sql_events GROUP BY event_type""").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"${r.getString(0)}: grouped bitmap ${r.getLong(1)} != ${r.getLong(2)}"))
  }
}
