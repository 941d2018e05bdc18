package graft.ops

import graft.util.Canon._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational operator surface — SURVEY.md §2.1 (scans/sources), §2.2
  * (projection/filter), §2.4 (aggregation), §2.6 (sort/limit/top-k),
  * §2.7 (set ops).
  *
  * Every query is a pure `(SparkSession, sfDir) => DataFrame`, ends in a
  * total ORDER BY over a unique key suffix (§5.3.1), and has a matching
  * ANSI-SQL oracle in [[oracle]] with identical column names.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  private val ioTmp = "/tmp/graft_io"

  // ---------------------------------------------------------------- §2.1 scans
  private val scanParquet: Q = (s, d) =>
    tbl(s, d, "lineitem").orderBy("l_orderkey", "l_linenumber")

  private val scanParquetPushdown: Q = (s, d) =>
    tbl(s, d, "lineitem")
      .where(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  private val scanCsv: Q = (s, d) => {
    val out = s"$ioTmp/csv_nation_${d.hashCode.toHexString}"
    tbl(s, d, "nation").coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    s.read.schema(schema).option("header", "true").csv(out)
      .orderBy("n_nationkey")
  }

  /** Raw-file ingestion via Spark's `binaryFile` source — the door every
    * multimodal pipeline walks through (image/audio dirs land as (path,
    * length, content) rows before any decode). Stages the first 20 docs'
    * UTF-8 bytes as individual .bin files, reads them back through
    * format("binaryFile"), and emits (doc_id parsed from the filename,
    * byte length, decoded text) — the oracle reads the SAME rows straight
    * from the documents table (octet_length over the UTF-8 encoding), so
    * the whole file round-trip must be byte-faithful. Scale shape: one
    * file = one row; at 100 TB the source lists and reads files in
    * parallel with no shuffle — the query's only sort is the bounded
    * output orderBy. */
  private val scanBinaryFile: Q = (s, d) => {
    // files are written individually (no mode("overwrite") sweep); the
    // staged dir starts empty, so no stale doc_*.bin is read back
    val out = staged(d, "documents", "bin_docs") { dir =>
      tbl(s, d, "documents").where(col("doc_id") < 20)
        .select(col("doc_id"), col("text")).collect()  // 20 bounded rows
        .foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, f"doc_${r.getLong(0)}%03d.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
    }
    s.read.format("binaryFile").load(out)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long")
          .as("doc_id"),
        col("length").as("n_bytes"),
        col("content").cast("string").as("text"))
      .orderBy("doc_id")
  }

  private val scanJson: Q = (s, d) => {
    val out = s"$ioTmp/json_region_${d.hashCode.toHexString}"
    tbl(s, d, "region").coalesce(1).write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType)))
    s.read.schema(schema).json(out).orderBy("r_regionkey")
  }

  /** XML ingestion via Spark 4's built-in xml source (one rowTag element
    * per record): stage nation as XML, read back with an EXPLICIT schema
    * — XML schema inference costs a full extra pass at 100 TB, so
    * production readers declare it (same discipline as scan_csv/json).
    * The oracle reads the same rows straight from the parquet table, so
    * the tag round-trip must be lossless. */
  private val scanXml: Q = (s, d) => {
    val out = s"$ioTmp/xml_nation_${d.hashCode.toHexString}"
    tbl(s, d, "nation").coalesce(1)
      .write.mode("overwrite").option("rowTag", "nation").format("xml")
      .save(out)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    s.read.schema(schema).option("rowTag", "nation").format("xml").load(out)
      .orderBy("n_nationkey")
  }

  /** VARIANT through parquet storage — the ingest-side half of the
    * fn_variant story: parse the semi-structured props ONCE at write
    * time, persist the VARIANT binary in parquet, and serve typed
    * extractions from the stored binary with no JSON re-parse on the
    * read path. At 100 TB this is the difference between paying the
    * parse per QUERY (string JSON column) and per INGEST (variant
    * column); the oracle recomputes the extraction from the raw JSON
    * string, so parse→store→load→get must be value-faithful. */
  /** Staging dir of [[scanParquetVariant]] — exposed so NewOpsSpec can
    * assert the STORED column type without duplicating the path scheme. */
  private[graft] def variantEventsDir(d: String): String =
    s"$ioTmp/variant_events_${d.hashCode.toHexString}"

  private val scanParquetVariant: Q = (s, d) => {
    val out = variantEventsDir(d)
    tbl(s, d, "events").selectExpr("event_id", "parse_json(props) AS v")
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .selectExpr("event_id", "variant_get(v, '$.k', 'int') AS k")
      .orderBy("event_id")
  }

  private val scanOrc: Q = (s, d) => {
    val out = s"$ioTmp/orc_supplier_${d.hashCode.toHexString}"
    tbl(s, d, "supplier").coalesce(1).write.mode("overwrite").orc(out)
    s.read.orc(out).orderBy("s_suppkey")
  }

  /** Avro ingestion through the in-repo DataSource V2 connector
    * ([[graft.sources.avro.AvroDataSource]]) — the container ships the
    * Avro 1.12 codec jars but not the spark-avro SQL connector (VERDICT
    * r15 item 1), so the read path is rebuilt on the public V2 API.
    * Stages supplier as FOUR container files via the distributed writer
    * (one file per task — the landing-zone pattern), reads them back
    * through `format("graft-avro")`, and the oracle reads the same rows
    * straight from parquet: the whole encode→decode round-trip must be
    * value-faithful across long/string/int/double. */
  private val scanAvro: Q = (s, d) => {
    val out = s"$ioTmp/avro_supplier_${d.hashCode.toHexString}"
    graft.sources.avro.AvroUtil.write(tbl(s, d, "supplier").repartition(4), out)
    s.read.format("graft-avro").load(out).orderBy("s_suppkey")
  }

  /** Split-read certification for the Avro V2 source: ONE container file,
    * read under a deliberately small `graft.avro.split.bytes` so the scan
    * plans many byte-range partitions over the same file and each reader
    * claims exactly the blocks whose sync marker falls in its range. At
    * 100 TB this is what keeps scan parallelism at the CLUSTER's width
    * rather than the producer's file count. The timestamp column rides
    * along to pin the timestamp-micros logical type end-to-end; the
    * oracle recomputes every row from parquet, so any dropped/duplicated
    * block (the classic split-read bug class) breaks the hash. */
  private val scanAvroSplit: Q = (s, d) => {
    val out = s"$ioTmp/avro_lineitem_${d.hashCode.toHexString}"
    graft.sources.avro.AvroUtil.write(
      tbl(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity",
          "l_returnflag")
        .coalesce(1), out)
    s.read.format("graft-avro")
      .option(graft.sources.avro.AvroDataSource.SplitBytesKey, 65536L)
      .load(out)
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Avro schema evolution — the landing-zone contract: files written
    * under the PRODUCER's v1 schema (doc_id, lang, n_chars) stay readable
    * under the CONSUMER's v2 reader schema, which renames `lang` →
    * `language` via an Avro alias and adds `quality int` with default 0.
    * Standard Avro schema resolution performs both; the projection also
    * drops `n_chars`, exercising the pruned-reader-schema path (Avro
    * skips the unprojected field's bytes — NewOpsSpec pins the pruned
    * ReadSchema in the plan). Oracle recomputes from parquet with the
    * renamed/defaulted columns spelled out. */
  private val scanAvroEvolution: Q = (s, d) => {
    val out = s"$ioTmp/avro_docs_${d.hashCode.toHexString}"
    graft.sources.avro.AvroUtil.write(
      tbl(s, d, "documents").select("doc_id", "lang", "n_chars")
        .repartition(2), out)
    val readerV2 = """{"type":"record","name":"doc_v2","namespace":"graft",
      "aliases":["graft_row"],
      "fields":[
        {"name":"doc_id","type":["null","long"],"default":null},
        {"name":"language","type":["null","string"],"aliases":["lang"],"default":null},
        {"name":"n_chars","type":["null","long"],"default":null},
        {"name":"quality","type":"int","default":0}]}"""
    s.read.format("graft-avro")
      .option(graft.sources.avro.AvroDataSource.ReaderSchemaKey, readerV2)
      .load(out)
      .select("doc_id", "language", "quality")
      .orderBy("doc_id")
  }

  /** Partitioned Avro landing-zone layout (r17, VERDICT r16 item 2): the
    * V2 write fans events into a TWO-LEVEL Hive-style tree
    * (`et_part=<type>/bucket=<user_id%4>`, values in the PATH not the
    * record), and the read lists recursively, rejoins the partition
    * columns as strings, and — the scale property — prunes whole
    * directories at LISTING time from the pushed partition filters:
    * `et_part='click' AND bucket<>'2'` opens only the 3 surviving click
    * buckets of the 20-dir tree (AvroSourceSpec pins that the pruned
    * partitions' files never reach `planInputPartitions`). At 100 TB
    * partition pruning IS the difference between scanning a day and
    * scanning a year; the oracle recomputes the same rows from parquet,
    * so both the layout round-trip and the pruning must be value-exact. */
  private val scanAvroPartitioned: Q = (s, d) => {
    val out = s"$ioTmp/avro_part_${d.hashCode.toHexString}"
    tbl(s, d, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type").as("et_part"),
        (col("user_id") % 4).cast("string").as("bucket"))
      .repartition(4)
      .write.format("graft-avro").mode("overwrite")
      .option(graft.sources.avro.AvroDataSource.PartitionByKey,
        "et_part,bucket")
      .save(out)
    s.read.format("graft-avro").load(out)
      .where(col("et_part") === "click" && col("bucket") =!= "2")
      .select(col("event_id"), col("user_id"), col("value"), col("et_part"),
        col("bucket"))
      .orderBy("event_id")
  }

  /** The connector's V2 WRITE path (`SupportsWrite` + `SupportsTruncate`):
    * `df.write.format("graft-avro").mode("overwrite").save` runs the full
    * job-commit protocol — each task streams its partition into one staged
    * container file, the driver commit publishes the staged files after
    * clearing the target (truncate semantics), abort discards the stage so
    * a failed write never leaves a half-visible directory. Overwrite runs
    * TWICE (stale part files from the first commit must not survive the
    * second), then the read-back must hash-match parquet exactly. */
  private val sinkAvro: Q = (s, d) => {
    val out = s"$ioTmp/avro_sink_${d.hashCode.toHexString}"
    val src = tbl(s, d, "customer")
    src.repartition(5).write.format("graft-avro").mode("overwrite").save(out)
    src.repartition(3).write.format("graft-avro").mode("overwrite").save(out)
    s.read.format("graft-avro").load(out).orderBy("c_custkey")
  }

  /** Raw text-line source — the format crawl corpora actually arrive in
    * (one record per line): stage documents as TSV lines, read back with
    * the `text` source (one `value` column), parse with split. Pushdown
    * does not apply to unstructured lines — the parse IS the query; the
    * oracle recomputes from the structured table, proving the
    * line-round-trip is lossless for in-alphabet text. */
  private val scanText: Q = (s, d) => {
    val out = s"$ioTmp/text_docs_${d.hashCode.toHexString}"
    tbl(s, d, "documents")
      .select(concat_ws("\t", col("doc_id"), col("lang"), col("text")))
      .coalesce(1).write.mode("overwrite").text(out)
    s.read.text(out)
      .select(split(col("value"), "\t", 3).as("p"))
      .select(col("p").getItem(0).cast("long").as("doc_id"),
        col("p").getItem(1).as("lang"),
        length(col("p").getItem(2)).cast("long").as("n_text_chars"))
      .orderBy("doc_id")
  }

  /** Bitwise function family (AND/OR/XOR/NOT/shifts/bit_count) — portable:
    * two's-complement integer ops are identical on both engines. */
  private val fnBitwise: Q = (s, d) =>
    tbl(s, d, "orders").select(
      col("o_orderkey"),
      (col("o_orderkey").bitwiseAND(lit(255L))).as("b_and"),
      (col("o_orderkey").bitwiseOR(lit(4096L))).as("b_or"),
      (col("o_orderkey").bitwiseXOR(col("o_custkey"))).as("b_xor"),
      bitwise_not(col("o_orderkey")).as("b_not"),
      shiftleft(col("o_orderkey"), 3).as("b_shl"),
      shiftright(col("o_orderkey"), 2).as("b_shr"),
      bit_count(col("o_orderkey")).as("b_cnt"))
      .orderBy("o_orderkey")

  // ------------------------------------------------------- §2.2 project/filter
  private val projSelect: Q = (s, d) =>
    tbl(s, d, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").as("qty"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy("l_orderkey", "l_linenumber")

  private val filterCompare: Q = (s, d) =>
    tbl(s, d, "lineitem")
      .where(col("l_quantity") < 24 &&
        col("l_shipdate") <= lit("1998-09-02").cast("timestamp") &&
        col("l_discount") >= 0.02 && col("l_tax") =!= 0.0)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate",
        "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  private val filterBoolean: Q = (s, d) =>
    tbl(s, d, "orders")
      .where(col("o_orderstatus").isin("F", "P") &&
        !col("o_totalprice").between(50000, 150000) &&
        col("o_orderpriority") =!= "5-LOW")
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey")

  private val filterLike: Q = (s, d) =>
    tbl(s, d, "part")
      .where(col("p_name").like("%bolt%") ||
        col("p_type").startsWith("SMALL") || col("p_name").endsWith("gear"))
      .select("p_partkey", "p_name", "p_type", "p_brand")
      .orderBy("p_partkey")

  private val filterNull: Q = (s, d) => {
    val rk = nullif(col("n_regionkey"), lit(2))
    tbl(s, d, "nation").select(
      col("n_nationkey"), rk.as("rk_null"),
      rk.isNull.as("is_n"), rk.isNotNull.as("is_nn"),
      (rk <=> lit(2)).as("nseq2"),
      (rk <=> lit(null).cast("int")).as("nseqnull"))
      .orderBy("n_nationkey")
  }

  private val projDistinct: Q = (s, d) =>
    tbl(s, d, "customer").select("c_mktsegment", "c_nationkey").distinct()
      .orderBy("c_mktsegment", "c_nationkey")

  // ------------------------------------------------------------ §2.4 aggregates
  /** Flagship (§7.2): TPC-H Q1 pricing summary. */
  val aggPricingSummary: Q = (s, d) => {
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    tbl(s, d, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumMoney(col("l_quantity")).as("sum_qty"),
        sumMoney(col("l_extendedprice")).as("sum_base_price"),
        sumMoney(disc).as("sum_disc_price"),
        sumMoney(disc * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        r4(sum(cents(col("l_quantity"))) / 100.0 / count(lit(1))).as("avg_qty"),
        r4(sum(cents(col("l_extendedprice"))) / 100.0 / count(lit(1))).as("avg_price"),
        r4(sum(cents(col("l_discount"))) / 100.0 / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val aggCountDistinct: Q = (s, d) =>
    tbl(s, d, "orders")
      .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy("c_mktsegment")

  private val aggApproxDistinct: Q = (s, d) =>
    tbl(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
      .orderBy("l_returnflag")

  /** HLL-guarantee audit (the agg_approx_percentile_audit pattern applied
    * to approx_count_distinct): the sketch estimate cannot hash-match an
    * oracle, but its error bound can — emit the exact distinct count plus
    * the verdict |approx − exact| ≤ 5·rsd·exact in exact scaled integers
    * (rsd = 0.01 → |Δ|·100 ≤ 5·exact, a 5σ band over the deterministic
    * hash-based sketch). The oracle replays the exact count and asserts
    * within_bound = true. */
  private val aggApproxDistinctAudit: Q = (s, d) =>
    tbl(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("a"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
      .select(col("l_returnflag"), col("exact_orders"),
        (abs(col("a") - col("exact_orders")) * 100L <=
          col("exact_orders") * 5L).as("within_bound"))
      .orderBy("l_returnflag")

  private val aggGroupingSets: Q = (s, d) => {
    tbl(s, d, "lineitem").createOrReplaceTempView("gs_li")
    tbl(s, d, "orders").createOrReplaceTempView("gs_ord")
    tbl(s, d, "customer").createOrReplaceTempView("gs_cust")
    s.sql("""
      SELECT coalesce(c_mktsegment, 'ALL') AS seg,
             coalesce(CAST(c_nationkey AS STRING), 'ALL') AS nat,
             sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100 + 0.5) AS BIGINT))/CAST(100 AS DOUBLE) AS revenue
      FROM gs_li JOIN gs_ord ON l_orderkey = o_orderkey
                 JOIN gs_cust ON o_custkey = c_custkey
      GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey), (c_mktsegment), ())
      ORDER BY seg, nat""")
  }

  private val aggRollup: Q = (s, d) =>
    tbl(s, d, "lineitem")
      .rollup(year(col("l_shipdate")).as("y"), month(col("l_shipdate")).as("m"))
      .agg(sumMoney(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("y"), asc_nulls_first("m"))

  private val aggCube: Q = (s, d) =>
    tbl(s, d, "lineitem")
      .cube(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("rf"), asc_nulls_first("ls"))

  private val aggFiltered: Q = (s, d) =>
    tbl(s, d, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        (sum(when(col("o_orderpriority") === "1-URGENT", cents(col("o_totalprice")))
          .otherwise(lit(0L))) / 100.0).as("urgent_total"),
        sum(when(col("o_orderpriority") === "5-LOW", 1L).otherwise(0L)).as("n_low"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  private val aggStats: Q = (s, d) =>
    tbl(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        r4(stddev_samp(col("l_quantity"))).as("sd_qty"),
        r4(var_samp(col("l_quantity"))).as("var_qty"),
        r4(corr(col("l_extendedprice"), col("l_quantity"))).as("corr_pq"),
        (floor(covar_samp(col("l_extendedprice"), col("l_quantity")) * 10 + 0.5) / 10.0)
          .as("cov_pq"))
      .orderBy("l_returnflag")

  /** Welch two-sample t-test (the A/B-experiment readout): purchase vs
    * click values compared in ONE conditional-aggregate pass — n/Σ/Σ² per
    * arm ride as exact cent integers, so the only float arithmetic is the
    * final mean/variance/t/df expression block, evaluated in the identical
    * order on both engines (then r4). At 100 TB this is a single
    * partial+final aggregate over the fact scan: no shuffle of raw rows,
    * no per-arm subqueries. */
  private val aggAbTtest: Q = (s, d) => {
    val ev = tbl(s, d, "events")
      .where(col("event_type").isin("purchase", "click"))
      .select((col("event_type") === "purchase").as("arm"),
        cents(col("value")).as("c"))
    val a = ev.agg(
      sum(when(col("arm"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("arm"), col("c")).otherwise(0L)).as("s1"),
      sum(when(col("arm"), dec38(col("c")) * col("c")).otherwise(0L))
        .as("q1"),
      sum(when(!col("arm"), 1L).otherwise(0L)).as("n2"),
      sum(when(!col("arm"), col("c")).otherwise(0L)).as("s2"),
      sum(when(!col("arm"), dec38(col("c")) * col("c")).otherwise(0L))
        .as("q2"))
    val m1 = col("s1").cast("double") / col("n1")
    val m2 = col("s2").cast("double") / col("n2")
    val se1 = (col("q1").cast("double") -
      col("s1").cast("double") * col("s1") / col("n1")) /
      (col("n1") - 1) / col("n1")
    val se2 = (col("q2").cast("double") -
      col("s2").cast("double") * col("s2") / col("n2")) /
      (col("n2") - 1) / col("n2")
    a.select(col("n1"), col("n2"),
      r4((m1 - m2) / 100.0).as("mean_diff"),
      r4((m1 - m2) / sqrt(se1 + se2)).as("t_stat"),
      r4((se1 + se2) * (se1 + se2) /
        (se1 * se1 / (col("n1") - 1) + se2 * se2 / (col("n2") - 1)))
        .as("df_welch"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic between the purchase and
    * click value distributions — the distribution-shift gate a training
    * pipeline runs between data snapshots (agg_ab_ttest reads the MEAN
    * shift; KS reads the whole CDF). Computed over the binned ECDF (cents
    * bins — the standard production shape, because binning bounds the
    * cumulative stage): per-bin conditional counts are one distributed
    * partial+final hash aggregate over the fact scan; the cumulative sums
    * then run over ≤ #bins rows (bounded by the metric's range, NOT by
    * corpus size — the deliberately-global window is safe by construction),
    * and the KS numerator |cumA·nB − cumB·nA| is exact integer
    * cross-multiplication, bit-identical on any engine or partitioning.
    * (Cross-products fit a long up to ~3e9 rows per arm; beyond that the
    * sums ride DECIMAL(38,0) like agg_corr_matrix's.) */
  /** KS core over an (arm: boolean, bin: long) frame — see aggKsDrift for
    * the contract; exposed for the Graft.ksDrift facade. */
  private[graft] def ksCore(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = ev.groupBy(col("bin")).agg(
      sum(when(col("arm"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("arm"), 1L).otherwise(0L)).as("cb"))
    val byBin = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = binned.select(
      sum(col("ca")).over(byBin).as("cuma"),
      sum(col("cb")).over(byBin).as("cumb"))
    // totals from the binned frame, not a second fact scan — the bin-agg
    // exchange is reused (single-scan audit, round 9)
    val tot = binned.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    cum.crossJoin(broadcast(tot))
      .agg(max(abs(col("cuma") * col("nb") - col("cumb") * col("na")))
          .as("num_max"),
        max(col("na")).as("n_a"), max(col("nb")).as("n_b"))
      .select(col("n_a"), col("n_b"),
        expr("(1000000 * num_max) div (n_a * n_b)").as("ks_scaled"),
        r4(col("num_max").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("ks"))
  }

  private val aggKsDrift: Q = (s, d) =>
    ksCore(tbl(s, d, "events")
      .where(col("event_type").isin("purchase", "click"))
      .select((col("event_type") === "purchase").as("arm"),
        cents(col("value")).as("bin")))

  /** χ² test of independence between the two categorical axes of the corpus
    * (lang × source) — the CATEGORICAL drift/association gate next to
    * agg_ks_drift's continuous one: "is language mix independent of crawl
    * source?" is the first question a corpus audit asks before mixing.
    * The dense cell grid comes from crossing the per-lang and per-source
    * marginals (bounded: #langs × #sources rows) and left-joining observed
    * counts, so ZERO cells contribute their full expected mass instead of
    * silently vanishing. Each cell's χ² term is computed in the identical
    * IEEE operand order on both engines from EXACT integer inputs
    * (n·o − rt·ct and n·rt·ct are exact in double at any realistic corpus:
    * ≤2^53 up to ~30 M docs — beyond that, scale the counts to thousands),
    * floored once to a 1e6-scaled long, then summed as integers —
    * order-insensitive, partition-invariant. One pass over the fact scan
    * for all three marginal aggregates; everything after is marginal-sized. */
  private val aggChi2Independence: Q = (s, d) =>
    chi2IndependenceCore(tbl(s, d, "documents"), "lang", "source")
  private[graft] def chi2IndependenceCore(facts: DataFrame, a: String,
      b: String): DataFrame = {
    // NULL axis values are excluded up front: a NULL-keyed cell can never
    // match the marginal equi-join below, so keeping such rows counted n
    // (and the marginals) while their cells silently scored zero — the
    // explicit filter removes that inconsistency AND makes every marginal
    // branch share one identical filtered subtree (full exchange reuse)
    val docs = facts.select(col(a).as("lang"), col(b).as("source"))
      .where(col("lang").isNotNull && col("source").isNotNull)
    val obs = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o"))
    // all three marginals derive from the CELL frame, not the corpus:
    // rt/ct/n are sums of the observed counts, so the fact table is
    // scanned exactly once and the obs exchange is reused for every
    // branch (round-9 fix — the previous four independent groupBys
    // re-scanned the corpus per marginal, visible as 4 FileScans in the
    // executed plan; at 100 TB that is 3 extra full passes)
    val rt = obs.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
    val ct = obs.groupBy(col("source")).agg(sum(col("o")).as("ct"))
    val n = obs.agg(sum(col("o")).as("n"))
    val cells = rt.crossJoin(ct).crossJoin(broadcast(n))
      .join(obs, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("n"), col("rt"), col("ct"),
        coalesce(col("o"), lit(0L)).as("o"))
    cells
      .select(col("lang"), col("source"), col("n"),
        ((dec38(col("n")) * col("o") - dec38(col("rt")) * col("ct"))
            .cast("double") *
          (dec38(col("n")) * col("o") - dec38(col("rt")) * col("ct"))
            .cast("double") /
          (dec38(col("n")) * col("rt") * col("ct")).cast("double") * 1e6)
          .as("term"))
      .agg(max(col("n")).as("n_docs"),
        ((countDistinct(col("lang")) - 1) *
          (countDistinct(col("source")) - 1)).as("dof"),
        sum(floor(col("term") + lit(0.5)).cast("long")).as("chi2_scaled"))
      .select(col("n_docs"), col("dof"), col("chi2_scaled"),
        r4(col("chi2_scaled").cast("double") / 1e6).as("chi2"))
  }

  /** Gini concentration of characters across documents, per source — the
    * corpus-balance audit ("is this crawl a few giant docs or many small
    * ones?"). G = Σ(2i − n − 1)·cᵢ / (n·Σc) over ascending cᵢ, folded as
    * 2·Σ(i·cᵢ) − (n+1)·Σc so one per-source hash aggregate finishes it
    * after the rank window. Ranks come from a per-source window ordered by
    * (n_chars, doc_id) — ties contribute the same sum under any internal
    * order (block coefficients are fixed), so the statistic is exact,
    * integer, and partition-invariant; only the display ratio is r4.
    * At 100 TB: ranks ride Canon.chunkedCumSumBy (distributed prefix sum
    * of 1s), so parallelism scales with value chunks, never one task per
    * source. */
  private val aggGiniConcentration: Q = (s, d) =>
    giniConcentrationCore(tbl(s, d, "documents"))
  private[graft] def giniConcentrationCore(docs: DataFrame): DataFrame = {
    // ranks via the value-ordered distributed prefix sum of 1s
    // (Canon.chunkedCumSumBy: chunk floor(n_chars/64) is monotone along
    // the (n_chars, doc_id) order and constant on ties) — identical
    // ranks to the per-source window without its one-task-per-source
    // sort of the corpus
    graft.util.Canon.chunkedCumSumBy(
      docs.select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("_one", lit(1L)),
      Seq("source"), floor(col("n_chars").cast("double") / 64).cast("long"),
      Seq(col("n_chars"), col("doc_id")), "_one", "i")
      .drop("_one")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (lit(2L) * sum(dec38(col("i")) * col("n_chars"))).as("a2"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        (col("a2") - dec38(col("n_docs") + 1) * col("total_chars"))
          .as("gini_num"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        expr("""(1000000 * gini_num)
              div (CAST(n_docs AS DECIMAL(38,0)) * total_chars)""")
          .cast("long").as("gini_scaled"),
        r4(col("gini_num").cast("double") /
          (dec38(col("n_docs")) * col("total_chars")).cast("double"))
          .as("gini"))
      .orderBy("source")
  }

  /** Mutual information between the two categorical corpus axes — chi2's
    * information-theoretic twin (feature-selection / drift readout: "how
    * many bits does knowing the crawl source tell you about language?").
    * I = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) folded as (1/n)·Σ o·li with
    * li = floor(ln(n·o/(rt·ct))·1e6 + 0.5) per OBSERVED cell (zero cells
    * contribute exactly 0 in the limit, so the observed-cells-only join is
    * not an approximation, unlike chi2's dense grid). Scaled-integer ln
    * posture (PLANS.md); the weighted sum is exact; one fact-scan pass for
    * all three marginals, everything after is O(#cells). Also emits the
    * normalized I/min(H(x),H(y)) uncertainty coefficient bound via the
    * marginal entropies, same arithmetic. */
  private val aggMutualInformation: Q = (s, d) => {
    // single corpus scan: the marginals and total derive from the observed
    // cell frame and share its exchange (the chi2 single-scan pattern,
    // round 9); NULL axis values are excluded up front — they can never
    // survive the marginal equi-joins, so counting them in rt/ct/n was the
    // same latent inconsistency chi2 had
    val docs = tbl(s, d, "documents")
      .select(col("lang"), col("source"))
      .where(col("lang").isNotNull && col("source").isNotNull)
    val obs = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o"))
    val rt = obs.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
    val ct = obs.groupBy(col("source")).agg(sum(col("o")).as("ct"))
    val n = obs.agg(sum(col("o")).as("n"))
    val cells = obs.join(rt, Seq("lang")).join(ct, Seq("source"))
      .crossJoin(broadcast(n))
    // the marginals fold against the shared total n: entropyFold would
    // total each marginal itself, two more broadcasts (14 → 18 jobs)
    def ent(marg: DataFrame, cnt: String): DataFrame =
      marg.crossJoin(broadcast(n)).select(col(cnt).as("c"), col("n"))
        .agg(entropySi).select(col("si").as(s"h_$cnt"))
    val mi = cells
      .select(col("n"), (dec38(col("o")) * ln6(
        (dec38(col("n")) * col("o")).cast("double") /
          (dec38(col("rt")) * col("ct")).cast("double"))).as("t"))
      .agg(max(col("n")).as("n_docs"), sum(col("t")).as("si"))
    mi.crossJoin(broadcast(ent(rt, "rt"))).crossJoin(broadcast(ent(ct, "ct")))
      .select(col("n_docs"),
        r4(col("si").cast("double") / col("n_docs").cast("double") / 1e6)
          .as("mi"),
        when(least(col("h_rt"), col("h_ct")) > 0,
          r4(col("si").cast("double") /
            least(col("h_rt"), col("h_ct")).cast("double"))).as("mi_norm"))
  }

  /** Shannon entropy + Pielou evenness of the document-count distribution
    * over each categorical corpus axis (source, lang) — the third leg of
    * the balance audit next to agg_gini_concentration (size skew) and
    * agg_chi2_independence (axis association): H answers "how many
    * effective sources is this corpus really drawn from?", evenness
    * H/ln(K) normalizes it to [0,1] for cross-corpus comparison (the
    * statistic temperature-mixing recipes tune against). Arithmetic is the
    * text_entropy posture: each ln(n/c) is a 1e6-scaled INTEGER (floor(
    * ln·1e6+0.5) — accepted last-ulp risk, PLANS.md), the weighted sum is
    * exact and partition-order-independent, and the two final divisions
    * run in identical IEEE operand order on both engines, then r4. K=1
    * axes emit NULL evenness (ln(1)=0). At 100 TB: one partial+final
    * count per axis value, then everything downstream is O(K) — the
    * marginal frame never exceeds the label-set size. */
  private val aggEntropyBalance: Q = (s, d) => {
    // both axis marginals derive from ONE (lang, source) cell rollup —
    // the cells exchange is shared via ReusedExchange, so the two-axis
    // audit costs a single corpus scan (round 9; previously one scan per
    // axis). No join is involved, so NULL axis values stay counted
    // exactly as the direct per-axis groupBy counted them.
    val cells = tbl(s, d, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    def axis(name: String) =
      entropyFromCounts(
        cells.groupBy(col(name).as("v")).agg(sum(col("o")).as("c")), name)
    axis("source").unionAll(axis("lang")).orderBy("axis")
  }
  private[graft] def entropyAxisCore(vals: DataFrame,
      label: String): DataFrame =
    entropyFromCounts(vals.groupBy(col("v")).agg(count(lit(1)).as("c")),
      label)
  private def entropyFromCounts(cnt: DataFrame, label: String): DataFrame =
    entropyFold(cnt).select(lit(label).as("axis"), col("n").as("n_docs"),
      col("k"), col("entropy"), col("evenness"))

  /** The one Shannon entropy fold over a pre-counted (keys…, c) frame, one
    * distribution per key group (a single one when no key is given): the
    * group total n = Σc and value count k join back on the keys (a one-row
    * broadcast cross join without keys), the group folds to
    * [[entropySi]], then [[entropyEmit]]. Returns (keys…, n, k, si,
    * entropy, evenness). */
  private[graft] def entropyFold(cnt: DataFrame, keys: String*): DataFrame = {
    val by = keys.map(col)
    val tot = cnt.groupBy(by: _*)
      .agg(sum(col("c")).as("n"), count(lit(1)).as("k"))
    entropyEmit(
      (if (keys.isEmpty) cnt.crossJoin(broadcast(tot)) else cnt.join(tot, keys))
        .groupBy(by: _*)
        .agg(max(col("n")).as("n"), max(col("k")).as("k"), entropySi))
  }

  /** si = Σ c·ln6(n/c) over (c, n) rows, n the group total: the entropy's
    * exact 1e6-scaled numerator, summed as DECIMAL(38,0) so it is
    * partition-order-free and cannot overflow. */
  private[graft] def entropySi: Column =
    sum(dec38(col("c")) * ln6(col("n") / col("c"))).as("si")

  /** Entropy and Pielou evenness of a folded (n, k, si) frame:
    * entropy = si/n/1e6 and evenness = H/ln k, each two divisions in the
    * same IEEE operand order as the oracle, then r4. k = 1 emits NULL
    * evenness (ln 1 = 0). */
  private[graft] def entropyEmit(folded: DataFrame): DataFrame =
    folded
      .withColumn("entropy",
        r4(col("si").cast("double") / col("n").cast("double") / 1e6))
      .withColumn("evenness", when(col("k") > 1,
        r4(col("si").cast("double") / col("n").cast("double") /
          ln6(col("k")))))

  /** Pairwise Pearson correlation matrix over the four lineitem measures in
    * ONE aggregate pass — the feature-screening readout (agg_stats does one
    * per-group pair; this is the all-pairs matrix). Every moment rides as an
    * exact integer: measures are floored to cents, per-row cross products
    * fit a long (≤1.2e14), and the sums accumulate as DECIMAL(38,0) so a
    * corpus-scale total can't silently overflow the way sum(long) would.
    * The closed-form corr block is then evaluated in the identical float
    * order on both engines (then r4). At 100 TB: one partial+final
    * aggregate over the fact scan — 15 running sums, zero shuffled rows. */
  private val aggCorrMatrix: Q = (s, d) => {
    val ms = Seq("qty" -> col("l_quantity"), "price" -> col("l_extendedprice"),
      "disc" -> col("l_discount"), "tax" -> col("l_tax"))
    val cented = tbl(s, d, "lineitem")
      .select(ms.map { case (n, c) => cents(c).as(n) }: _*)
    val pairs = for { i <- ms.indices; j <- i until ms.length }
      yield (ms(i)._1, ms(j)._1)
    val a = cented.agg(count(lit(1)).as("n"),
      ms.map { case (n, _) => sum(dec38(col(n))).as(s"s_$n") } ++
        pairs.map { case (x, y) => sum(dec38(col(x) * col(y))).as(s"q_${x}_$y") }: _*)
    def dbl(c: Column) = c.cast("double")
    // Zero-variance guard (ADVICE r6): a constant measure makes
    // n·qxx − sx² = 0 and corr 0/0 → NaN silently on both engines; nullif
    // on the denominator yields NULL instead (mirrored in the oracle SQL).
    def corrOf(x: String, y: String) = r4(
      (dbl(col("n")) * dbl(col(s"q_${x}_$y")) - dbl(col(s"s_$x")) * dbl(col(s"s_$y"))) /
        nullif(sqrt((dbl(col("n")) * dbl(col(s"q_${x}_$x")) - dbl(col(s"s_$x")) * dbl(col(s"s_$x"))) *
          (dbl(col("n")) * dbl(col(s"q_${y}_$y")) - dbl(col(s"s_$y")) * dbl(col(s"s_$y")))), lit(0.0)))
    val offDiag = pairs.filter { case (x, y) => x != y }
    val wide = a.select(offDiag.map { case (x, y) => corrOf(x, y).as(s"${x}_$y") }: _*)
    val stackArgs = offDiag
      .map { case (x, y) => s"'${x}_$y', ${x}_$y" }.mkString(", ")
    wide.select(expr(s"stack(${offDiag.length}, $stackArgs) as (pair, corr)"))
      .orderBy("pair")
  }

  private val aggPercentile: Q = (s, d) =>
    tbl(s, d, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        r4(expr("percentile(o_totalprice, 0.5)")).as("p50"),
        r4(expr("percentile(o_totalprice, 0.9)")).as("p90"))
      .orderBy("o_orderstatus")

  /** Discrete percentiles + median: percentile_disc returns an actual
    * element of the group (no interpolation → no float synthesis), so the
    * values compare bit-exactly as raw doubles. */
  private val aggPercentileDisc: Q = (s, d) =>
    tbl(s, d, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("p50_disc"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").as("p90_disc"),
        r4(expr("median(o_totalprice)")).as("med"))
      .orderBy("o_orderstatus")

  /** Scalar columns only: the driver's pandas comparer cannot lexsort
    * array<double> cells, so each quantile is projected out individually. */
  private val aggApproxPercentile: Q = (s, d) =>
    tbl(s, d, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 10000)")
          .as("approx_pcts"),
        r4(expr("percentile(o_totalprice, 0.5)")).as("exact_p50"))
      .select(
        col("o_orderstatus"),
        element_at(col("approx_pcts"), 1).as("p50_approx"),
        element_at(col("approx_pcts"), 2).as("p90_approx"),
        element_at(col("approx_pcts"), 3).as("p99_approx"),
        col("exact_p50"))
      .orderBy("o_orderstatus")

  /** Bounded-error AUDIT of the approx-percentile sketch (round-9 verdict
    * item 5): the sketch value itself cannot hash-match an oracle (its
    * exact result may depend on partition merge order), but its ERROR
    * GUARANTEE can — approx_percentile(…, acc) promises a value whose rank
    * is within ε·n of the target rank, ε = 1/acc. This query recomputes
    * the returned value's exact rank interval [rank_lt+1, rank_le] with
    * one corpus scan joined to the 9-row broadcast sketch frame and emits
    * the VERDICT (interval intersects [p·n − εn − 1, p·n + εn + 1], the
    * ±1 rank absorbing boundary conventions, in ×10000 exact integers)
    * plus the exact discrete percentile. The DuckDB oracle replays the
    * exact percentile and asserts within_bound = true — a sketch that ever
    * breaks its guarantee hash-mismatches the gate instead of hiding
    * behind "no_oracle". */
  /** The generic core (exposed through Graft.approxPercentileAudit):
    * `pcts` as ×10000 integers so the bound arithmetic stays exact. */
  private[graft] def approxPercentileAuditCore(df: DataFrame, group: String,
      value: String, ps: Seq[Long], accuracy: Int): DataFrame = {
    val o = df.select(col(group).as("g"), col(value).cast("double").as("v"))
    val pctArr = ps.map(s => s / 10000.0).mkString("array(", ", ", ")")
    val discAggs = ps.zipWithIndex.map { case (sc, i) =>
      expr(s"percentile_disc(${sc / 10000.0}) WITHIN GROUP (ORDER BY v)")
        .as(s"e$i")
    }
    val aggs = Seq(count(lit(1)).as("n"),
      expr(s"approx_percentile(v, $pctArr, $accuracy)").as("ap")) ++ discAggs
    val sk = o.groupBy("g").agg(aggs.head, aggs.tail: _*)
      .select(col("g"), col("n"), expr(
        s"stack(${ps.length}, " + ps.zipWithIndex.map { case (sc, i) =>
          s"${sc}L, ap[$i], e$i"
        }.mkString(", ") + ") AS (ps, a, e)"))
    // ε·n scaled by 10⁴: εn·10⁴ = n·(10⁴/accuracy); keep it exact by
    // requiring accuracy to divide 10⁴ (10000/accuracy is the per-row
    // scaled epsilon weight)
    val epsW = 10000L / accuracy.toLong max 1L
    o.join(broadcast(sk), "g")
      .groupBy(col("g"), col("ps"), col("n"), col("a"), col("e"))
      .agg(
        sum(when(col("v") < col("a"), 1L).otherwise(0L)).as("rlt"),
        sum(when(col("v") <= col("a"), 1L).otherwise(0L)).as("rle"))
      .select(col("g").as(group), (col("ps") / 10000.0).as("p"),
        col("n"), col("e").as("exact_disc"),
        ((col("rlt") + 1L) * 10000L <=
            col("ps") * col("n") + col("n") * epsW + 10000L &&
          col("rle") * 10000L >=
            col("ps") * col("n") - col("n") * epsW - 10000L)
          .as("within_bound"))
      .orderBy(group, "p")
  }

  private val aggApproxPercentileAudit: Q = (s, d) =>
    approxPercentileAuditCore(tbl(s, d, "orders"), "o_orderstatus",
      "o_totalprice", Seq(5000L, 9000L, 9900L), 10000)

  private val aggCollectSorted: Q = (s, d) =>
    tbl(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(concat_ws(",",
        slice(sort_array(collect_list(date_format(col("l_shipdate"), "yyyy-MM-dd"))),
          1, 3)).as("first3"))
      .orderBy("l_orderkey")

  /** grouping()/grouping_id() over ROLLUP — the correctness trap this
    * disambiguates is real at any scale: a NULL grouping column in the
    * DATA is indistinguishable from the subtotal NULL unless the query
    * carries the grouping indicator. events.user_id is nullable by
    * contract, so the rollup over it has BOTH kinds of NULL row; gid
    * tells them apart and the oracle reproduces it with DuckDB's
    * GROUPING(). */
  private val aggGroupingId: Q = (s, d) => {
    tbl(s, d, "events").createOrReplaceTempView("agg_gid_events")
    s.sql("""
      SELECT user_id, event_type,
             CAST(grouping(user_id) AS INT) AS g_user,
             CAST(grouping(event_type) AS INT) AS g_type,
             CAST(grouping_id(user_id, event_type) AS INT) AS gid,
             count(*) AS n
      FROM agg_gid_events
      GROUP BY ROLLUP(user_id, event_type)
      ORDER BY gid, user_id NULLS FIRST, event_type NULLS FIRST""")
  }

  /** ISO SQL:2023 `listagg(...) WITHIN GROUP (ORDER BY ...)` (new in
    * Spark 4) — ordered string aggregation as a single aggregate function
    * instead of agg_collect_sorted's collect_list∘sort_array∘concat_ws
    * composition. The WITHIN GROUP order makes the result deterministic
    * at any partitioning; the per-group payload (5 regions × ~5 names) is
    * bounded, which is the only way a string agg is 100 TB-safe — an
    * unbounded listagg is a driver-OOM by design and stays out of the
    * registry. */
  private val aggListagg: Q = (s, d) => {
    tbl(s, d, "nation").createOrReplaceTempView("agg_la_nation")
    s.sql("""
      SELECT n_regionkey,
             listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names,
             count(*) AS n
      FROM agg_la_nation GROUP BY n_regionkey ORDER BY n_regionkey""")
  }

  /** Deterministic first/last per key: min_by/max_by over a composite
    * (epoch-ms, event_id) STRUCT key (lexicographic) — bare first/last are
    * order-undefined and events.ts ties must break identically on both
    * engines (§5.3.4). A packed bigint key would collide once event_id
    * outgrows the multiplier; the struct is injective at any scale. The
    * DuckDB twin packs into a HUGEINT (128-bit) with a 2^64 multiplier —
    * injective AND order-preserving for every possible bigint event_id
    * ((t, 2^64−1) < (t+1, 0) stays strict, unlike a 2^63−1 multiplier
    * where (t, 2^63−1) collides with (t+1, 0)). event_id is non-negative
    * in this schema, so lexicographic struct order matches the packed
    * order; negative ids would need an unsigned-shift first. */
  private val aggFirstLast: Q = (s, d) => {
    val k = struct(unix_millis(col("ts")), col("event_id"))
    tbl(s, d, "events")
      .groupBy(col("user_id"))
      .agg(min_by(col("value"), k).as("first_value"),
        max_by(col("value"), k).as("last_value"),
        count(lit(1)).as("n"))
      .orderBy("user_id")
  }

  /** Deterministic distributed sampling: bottom-k by a cryptographic hash of
    * the key — a uniform-ish sample that is reproducible across engines and
    * runs (unlike seeded rand(), whose streams differ per engine/partition).
    * Physically a TakeOrderedAndProject: each partition keeps only its local
    * bottom-k, the driver merges k·p candidate rows — no full shuffle, the
    * sampling pattern that still works at 100 TB. */
  private val aggSampleBottomk: Q = (s, d) =>
    tbl(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        md5(col("o_orderkey").cast("string")).as("hk"))
      .orderBy(asc("hk"), asc("o_orderkey"))
      .limit(100)

  /** Fixed-width histogram: counts per 50k price bucket. */
  private val aggHistogram: Q = (s, d) =>
    tbl(s, d, "orders")
      .groupBy(floor(col("o_totalprice") / 50000.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        (sum(cents(col("o_totalprice"))) / 100.0).as("bucket_total"))
      .orderBy("bucket")

  /** Correlated scalar subquery — Catalyst decorrelates it into an
    * aggregate+join (RewriteCorrelatedScalarSubquery); the per-customer avg
    * uses the cent-sum form so the comparison is deterministic. */
  private val subCorrelatedScalar: Q = (s, d) => {
    tbl(s, d, "orders").createOrReplaceTempView("sub_ord")
    s.sql("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM sub_ord o
      WHERE o_totalprice > 1.5 * (
        SELECT sum(CAST(floor(o2.o_totalprice*100 + 0.5) AS BIGINT))/CAST(100 AS DOUBLE)
               /count(*)
        FROM sub_ord o2 WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_orderkey""")
  }

  /** LATERAL correlated table subquery — the per-row top-k join form
    * Catalyst decorrelates (DecorrelateInnerQuery) into a ranked window
    * join instead of executing the inner query per outer row: top-2
    * orders per customer by price. Exercises the SQL-string LATERAL
    * surface end to end. */
  private val subLateral: Q = (s, d) => {
    tbl(s, d, "customer").createOrReplaceTempView("sub_cust_l")
    tbl(s, d, "orders").createOrReplaceTempView("sub_ord_l")
    s.sql("""
      SELECT c_custkey, o_orderkey, o_totalprice
      FROM sub_cust_l c,
      LATERAL (SELECT o_orderkey, o_totalprice FROM sub_ord_l o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
  }

  /** IN-subquery — rewritten to a left-semi join (RewritePredicateSubquery). */
  private val subIn: Q = (s, d) => {
    tbl(s, d, "customer").createOrReplaceTempView("sub_cust")
    tbl(s, d, "orders").createOrReplaceTempView("sub_ord2")
    s.sql("""
      SELECT c_custkey, c_name FROM sub_cust
      WHERE c_custkey IN (SELECT o_custkey FROM sub_ord2 WHERE o_totalprice > 400000)
      ORDER BY c_custkey""")
  }

  /** EXISTS-subquery — rewritten to a left-semi join; the correlated
    * predicate reaches the inner scan as a pushed filter. */
  private val subExists: Q = (s, d) => {
    tbl(s, d, "customer").createOrReplaceTempView("sub_cust3")
    tbl(s, d, "orders").createOrReplaceTempView("sub_ord3")
    s.sql("""
      SELECT c_custkey, c_mktsegment FROM sub_cust3
      WHERE EXISTS (SELECT 1 FROM sub_ord3
                    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      ORDER BY c_custkey""")
  }

  /** NOT IN-subquery — the null-aware anti join path: parquet columns are
    * nullable to Spark, so it cannot reduce this to a plain anti join and
    * must plan the null-aware variant (a semantics trap naive engines get
    * wrong: one NULL in the list empties the result). */
  private val subNotIn: Q = (s, d) => {
    tbl(s, d, "part").createOrReplaceTempView("sub_part4")
    tbl(s, d, "lineitem").createOrReplaceTempView("sub_li4")
    s.sql("""
      SELECT p_partkey, p_name FROM sub_part4
      WHERE p_partkey NOT IN (SELECT l_partkey FROM sub_li4 WHERE l_quantity >= 49)
      ORDER BY p_partkey""")
  }

  /** CTE referenced twice — Spark materializes the shared aggregate once and
    * feeds the second consumer a ReusedExchange (asserted in CteReuseSpec):
    * the scan-once lever for self-referential analytics at 100 TB. */
  private val subCteReuse: Q = (s, d) => {
    tbl(s, d, "lineitem").createOrReplaceTempView("sub_li5")
    s.sql("""
      WITH rev AS (
        SELECT l_orderkey,
               sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100 + 0.5) AS BIGINT)) AS rc
        FROM sub_li5 GROUP BY l_orderkey)
      SELECT r.l_orderkey, r.rc/CAST(100 AS DOUBLE) AS revenue,
             floor(t.avg_rc/CAST(100 AS DOUBLE)*10000 + 0.5)/CAST(10000 AS DOUBLE) AS avg_revenue
      FROM rev r CROSS JOIN (SELECT sum(rc)/CAST(count(*) AS DOUBLE) AS avg_rc FROM rev) t
      WHERE r.rc > t.avg_rc * 1.5
      ORDER BY r.l_orderkey""")
  }

  /** Recursive CTE (Spark 4.1 `WITH RECURSIVE`) — binary-heap ancestor
    * walk over customer keys: each key climbs node → node div 2 to the
    * root, so chain_len = floor(log2(key)) and the path sum is exact
    * integers. The recursion is set-based: every iteration is one
    * narrow projection + filter over the previous frontier (all keys
    * step in lockstep, no driver loop), and depth is bounded by
    * log2(max key) — 100 TB of keys recurses the same ~40 rounds, each
    * a full-width shuffle-free map; only the final GROUP BY shuffles.
    * Note Spark's governance guardrail `spark.sql.cteRecursionRowLimit`
    * (default 1e6 rows over the WHOLE recursion): the fixture expands to
    * 210 k rows and fits, but production sizing must raise it —
    * a scale probe ran 10 M keys → 2.23e8 rows under a raised limit with
    * the closed form verified exactly (SCALING.md r15). */
  private val subRecursiveCte: Q = (s, d) => {
    tbl(s, d, "customer").createOrReplaceTempView("sub_rec_cust")
    // raise Spark's recursion-row guardrail (default 1e6 TOTAL rows):
    // this walk expands to ~n·(log2 n − 1) rows, which crosses 1e6 around
    // 65k keys — a regenerated/larger fixture must not abort the op
    // (review r15; a scale probe ran 2.2e8 rows under the same knob,
    // SCALING.md r15).
    // Scoped with withConfs: the raised limit must not outlive this query
    // and weaken the guardrail session-wide (ADVICE r15); recursive-CTE row
    // counting happens at execution, so the limit is forced eagerly with a
    // localCheckpoint inside the scope.
    // the PREVIOUS invocation's eager checkpoint has been consumed by now
    // (hashed/collected) — release its RDD blocks so bench loops and the
    // shared test session don't accumulate executor storage (ADVICE r16
    // item 5); the current run's checkpoint is registered below and
    // released on the NEXT call (bounded at one live checkpoint)
    lastRecursiveCheckpoint.foreach { df =>
      try df.unpersist(blocking = false) catch { case _: Exception => () }
    }
    withConfs(s, Seq("spark.sql.cteRecursionRowLimit" -> "400000000")) {
      val raw = s.sql("""
        WITH RECURSIVE anc(c_custkey, node, depth) AS (
          SELECT c_custkey, CAST(c_custkey AS BIGINT), 0 FROM sub_rec_cust
          UNION ALL
          SELECT c_custkey, node DIV 2, depth + 1 FROM anc WHERE node > 1)
        SELECT c_custkey, CAST(max(depth) AS INT) AS chain_len,
               CAST(sum(node) AS BIGINT) AS path_sum,
               count(*) AS n_nodes
        FROM anc GROUP BY c_custkey ORDER BY c_custkey""")
      // the checkpoint replaces the returned frame's plan with an RDD scan,
      // so the loop node is captured here for NewOpsSpec's shape assertion
      lastRecursivePlan = raw.queryExecution.executedPlan.toString
      val ck = raw.localCheckpoint(eager = true)
      lastRecursiveCheckpoint = Some(ck)
      ck
    }
  }

  /** The live checkpoint of the last [[subRecursiveCte]] run — held only so
    * the NEXT invocation can unpersist it (ADVICE r16: eager checkpoints
    * accumulated executor storage across bench-loop invocations). */
  @volatile private var lastRecursiveCheckpoint: Option[DataFrame] = None

  /** Pre-checkpoint physical plan of the last [[subRecursiveCte]] run —
    * test-introspection only (the op executes eagerly inside its pinned
    * conf scope, so its RETURNED plan is a checkpoint scan). */
  @volatile private[graft] var lastRecursivePlan: String = ""

  /** SQL pipe syntax (Spark 4.1 `|>`) — the pricing summary re-expressed
    * as a linear pipeline: WHERE → EXTEND (exact-cents derivation) →
    * AGGREGATE → EXTEND → SELECT → ORDER BY. Same Catalyst plan as the
    * ANSI form (pipe operators desugar before optimization — one scan,
    * one partial+final agg), so this pins the SURFACE, not a new
    * executor path; the oracle is the ANSI equivalent. */
  private val sqlPipeSyntax: Q = (s, d) => {
    tbl(s, d, "lineitem").createOrReplaceTempView("pipe_li")
    s.sql("""
      FROM pipe_li
      |> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |> EXTEND CAST(floor(l_extendedprice*(1.0-l_discount)*100 + 0.5) AS BIGINT) AS disc_cents
      |> AGGREGATE count(*) AS n,
                   sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT)) AS qty_cents,
                   sum(disc_cents) AS rev_cents
         GROUP BY l_returnflag, l_linestatus
      |> EXTEND rev_cents/CAST(100 AS DOUBLE) AS revenue
      |> SELECT l_returnflag, l_linestatus, n,
                qty_cents/CAST(100 AS DOUBLE) AS sum_qty, revenue
      |> ORDER BY l_returnflag, l_linestatus""")
  }

  /** Session variables + parameterized EXECUTE IMMEDIATE (Spark 4.1) —
    * the templated-query surface a production job server uses instead of
    * string-splicing literals: DECLARE/SET a typed session variable,
    * bind it into a `?` placeholder. The bound plan is identical to the
    * literal form (the parameter is substituted before analysis), so
    * pushdown of the o_totalprice predicate into the parquet scan is
    * preserved — templating costs nothing at 100 TB. */
  private val sqlSessionVariables: Q = (s, d) => {
    tbl(s, d, "orders").createOrReplaceTempView("sql_var_orders")
    s.sql("DECLARE OR REPLACE VARIABLE graft_cutoff DOUBLE DEFAULT 0.0")
    s.sql("SET VARIABLE graft_cutoff = 450000.0")
    s.sql("""EXECUTE IMMEDIATE
               'SELECT o_orderkey, o_custkey, o_totalprice
                FROM sql_var_orders WHERE o_totalprice > ?
                ORDER BY o_orderkey'
             USING graft_cutoff""")
  }

  /** Pivot: order counts per status × priority, explicit value list so the
    * output schema is static (the scale-safe form — dynamic pivot needs a
    * driver-side distinct pass). */
  private val aggPivot: Q = (s, d) =>
    tbl(s, d, "orders")
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .select(col("o_orderstatus"),
        coalesce(col("`1-URGENT`"), lit(0L)).as("p_urgent"),
        coalesce(col("`2-HIGH`"), lit(0L)).as("p_high"),
        coalesce(col("`3-MEDIUM`"), lit(0L)).as("p_medium"),
        coalesce(col("`4-NOT SPECIFIED`"), lit(0L)).as("p_notspec"),
        coalesce(col("`5-LOW`"), lit(0L)).as("p_low"))
      .orderBy("o_orderstatus")

  /** Unpivot/melt: wide customer metrics → long (id, metric, value). */
  private val aggUnpivot: Q = (s, d) =>
    tbl(s, d, "customer")
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_nationkey").cast("double").as("c_nationkey_d"))
      .unpivot(Array(col("c_custkey")),
        Array(col("c_acctbal"), col("c_nationkey_d")), "metric", "value")
      .orderBy("c_custkey", "metric")

  /** Mode with a deterministic tiebreak (max count, then min value). */
  private val aggMode: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val counts = tbl(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(desc("cnt"), asc("l_quantity"))
    counts.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("cnt"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------- §2.6 sort/limit/top-k
  private val sortMultikey: Q = (s, d) =>
    tbl(s, d, "customer")
      .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
      .orderBy(asc("c_mktsegment"), desc("c_acctbal"), asc("c_custkey"))

  private val sortNulls: Q = (s, d) =>
    tbl(s, d, "orders").select(
      col("o_orderkey"),
      nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("pr"),
      nullif(col("o_orderstatus"), lit("P")).as("st"))
      .orderBy(desc_nulls_last("pr"), asc_nulls_first("st"), asc("o_orderkey"))

  private val limitK: Q = (s, d) =>
    tbl(s, d, "orders").select("o_orderkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(20)

  private val topkGlobal: Q = (s, d) =>
    tbl(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(10)

  // ------------------------------------------------------------- §2.7 set ops
  private def custA(s: SparkSession, d: String) =
    tbl(s, d, "customer").where(col("c_acctbal") < 1000)
      .select("c_custkey", "c_mktsegment", "c_acctbal")
  private def custB(s: SparkSession, d: String) =
    tbl(s, d, "customer").where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select("c_custkey", "c_mktsegment", "c_acctbal")

  private val setUnionAll: Q = (s, d) =>
    custA(s, d).unionByName(custB(s, d)).orderBy("c_custkey", "c_mktsegment")
  private val setUnionDistinct: Q = (s, d) =>
    custA(s, d).union(custB(s, d)).distinct().orderBy("c_custkey", "c_mktsegment")
  private val setIntersect: Q = (s, d) =>
    tbl(s, d, "customer").select(col("c_nationkey").as("nk"))
      .intersect(tbl(s, d, "supplier").select(col("s_nationkey").as("nk")))
      .orderBy("nk")
  private val setIntersectAll: Q = (s, d) =>
    tbl(s, d, "customer").select(col("c_nationkey").as("nk"))
      .intersectAll(tbl(s, d, "supplier").select(col("s_nationkey").as("nk")))
      .orderBy("nk")
  private val setExcept: Q = (s, d) =>
    tbl(s, d, "customer").select(col("c_nationkey").as("nk"))
      .except(tbl(s, d, "supplier").select(col("s_nationkey").as("nk")))
      .orderBy("nk")
  private val setExceptAll: Q = (s, d) =>
    tbl(s, d, "customer").select(col("c_nationkey").as("nk"))
      .exceptAll(tbl(s, d, "supplier").select(col("s_nationkey").as("nk")))
      .orderBy("nk")

  // ------------------------------------------------------------------ registry
  val queries: Map[String, Q] = Map(
    "scan_parquet" -> scanParquet,
    "scan_parquet_pushdown" -> scanParquetPushdown,
    "scan_csv" -> scanCsv,
    "scan_binaryfile" -> scanBinaryFile,
    "scan_json" -> scanJson,
    "scan_orc" -> scanOrc,
    "scan_avro" -> scanAvro,
    "scan_avro_split" -> scanAvroSplit,
    "scan_avro_evolution" -> scanAvroEvolution,
    "scan_avro_partitioned" -> scanAvroPartitioned,
    "sink_avro" -> sinkAvro,
    "scan_text" -> scanText,
    "scan_xml" -> scanXml,
    "scan_parquet_variant" -> scanParquetVariant,
    "fn_bitwise" -> fnBitwise,
    "proj_select" -> projSelect,
    "filter_compare" -> filterCompare,
    "filter_boolean" -> filterBoolean,
    "filter_like" -> filterLike,
    "filter_null" -> filterNull,
    "proj_distinct" -> projDistinct,
    "agg_pricing_summary" -> aggPricingSummary,
    "agg_count_distinct" -> aggCountDistinct,
    "agg_approx_distinct" -> aggApproxDistinct,
    "agg_approx_distinct_audit" -> aggApproxDistinctAudit,
    "agg_grouping_sets" -> aggGroupingSets,
    "agg_rollup" -> aggRollup,
    "agg_cube" -> aggCube,
    "agg_filtered" -> aggFiltered,
    "agg_stats" -> aggStats,
    "agg_ab_ttest" -> aggAbTtest,
    "agg_ks_drift" -> aggKsDrift,
    "agg_chi2_independence" -> aggChi2Independence,
    "agg_gini_concentration" -> aggGiniConcentration,
    "agg_entropy_balance" -> aggEntropyBalance,
    "agg_mutual_information" -> aggMutualInformation,
    "agg_corr_matrix" -> aggCorrMatrix,
    "agg_percentile" -> aggPercentile,
    "agg_percentile_disc" -> aggPercentileDisc,
    "agg_approx_percentile" -> aggApproxPercentile,
    "agg_approx_percentile_audit" -> aggApproxPercentileAudit,
    "agg_collect_sorted" -> aggCollectSorted,
    "agg_listagg" -> aggListagg,
    "agg_grouping_id" -> aggGroupingId,
    "agg_first_last" -> aggFirstLast,
    "agg_sample_bottomk" -> aggSampleBottomk,
    "agg_pivot" -> aggPivot,
    "agg_unpivot" -> aggUnpivot,
    "agg_mode" -> aggMode,
    "sub_correlated_scalar" -> subCorrelatedScalar,
    "sub_lateral" -> subLateral,
    "sub_in" -> subIn,
    "sub_exists" -> subExists,
    "sub_not_in" -> subNotIn,
    "sub_cte_reuse" -> subCteReuse,
    "sub_recursive_cte" -> subRecursiveCte,
    "sql_pipe_syntax" -> sqlPipeSyntax,
    "sql_session_variables" -> sqlSessionVariables,
    "agg_histogram" -> aggHistogram,
    "sort_multikey" -> sortMultikey,
    "sort_nulls" -> sortNulls,
    "limit_k" -> limitK,
    "topk_global" -> topkGlobal,
    "set_union_all" -> setUnionAll,
    "set_union_distinct" -> setUnionDistinct,
    "set_intersect" -> setIntersect,
    "set_intersect_all" -> setIntersectAll,
    "set_except" -> setExcept,
    "set_except_all" -> setExceptAll,
  )

  val oracle: Map[String, String] = Map(
    "scan_parquet" ->
      "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "scan_parquet_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '2000-01-01'
         ORDER BY l_orderkey, l_linenumber""",
    "scan_csv" -> "SELECT * FROM nation ORDER BY n_nationkey",
    "scan_binaryfile" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                text
         FROM documents WHERE doc_id < 20 ORDER BY doc_id""",
    "scan_json" -> "SELECT * FROM region ORDER BY r_regionkey",
    "scan_orc" -> "SELECT * FROM supplier ORDER BY s_suppkey",
    "scan_avro" -> "SELECT * FROM supplier ORDER BY s_suppkey",
    "scan_avro_split" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity, l_returnflag
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "scan_avro_evolution" ->
      """SELECT doc_id, lang AS language, 0 AS quality
         FROM documents ORDER BY doc_id""",
    "scan_avro_partitioned" ->
      """SELECT event_id, user_id, value, event_type AS et_part,
                CAST(user_id % 4 AS VARCHAR) AS bucket
         FROM events
         WHERE event_type = 'click' AND CAST(user_id % 4 AS VARCHAR) <> '2'
         ORDER BY event_id""",
    "sink_avro" -> "SELECT * FROM customer ORDER BY c_custkey",
    "scan_xml" -> "SELECT * FROM nation ORDER BY n_nationkey",
    "scan_parquet_variant" ->
      """SELECT event_id, CAST(props->>'k' AS INTEGER) AS k
         FROM events ORDER BY event_id""",
    "scan_text" ->
      """SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_text_chars
         FROM documents ORDER BY doc_id""",
    "fn_bitwise" ->
      """SELECT o_orderkey,
                o_orderkey & 255 AS b_and,
                o_orderkey | 4096 AS b_or,
                xor(o_orderkey, o_custkey) AS b_xor,
                ~o_orderkey AS b_not,
                o_orderkey << 3 AS b_shl,
                o_orderkey >> 2 AS b_shr,
                bit_count(o_orderkey) AS b_cnt
         FROM orders ORDER BY o_orderkey""",
    "proj_select" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS qty,
                l_extendedprice*(1.0-l_discount) AS revenue
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "filter_compare" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate, l_extendedprice
         FROM lineitem
         WHERE l_quantity < 24 AND l_shipdate <= TIMESTAMP '1998-09-02'
           AND l_discount >= 0.02 AND l_tax <> 0.0
         ORDER BY l_orderkey, l_linenumber""",
    "filter_boolean" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
         FROM orders
         WHERE o_orderstatus IN ('F','P')
           AND NOT (o_totalprice BETWEEN 50000 AND 150000)
           AND o_orderpriority <> '5-LOW'
         ORDER BY o_orderkey""",
    "filter_like" ->
      """SELECT p_partkey, p_name, p_type, p_brand FROM part
         WHERE p_name LIKE '%bolt%' OR p_type LIKE 'SMALL%' OR p_name LIKE '%gear'
         ORDER BY p_partkey""",
    "filter_null" ->
      """SELECT n_nationkey, nullif(n_regionkey, 2) AS rk_null,
                nullif(n_regionkey, 2) IS NULL AS is_n,
                nullif(n_regionkey, 2) IS NOT NULL AS is_nn,
                nullif(n_regionkey, 2) IS NOT DISTINCT FROM 2 AS nseq2,
                nullif(n_regionkey, 2) IS NOT DISTINCT FROM NULL AS nseqnull
         FROM nation ORDER BY n_nationkey""",
    "proj_distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
         ORDER BY c_mktsegment, c_nationkey""",
    "agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT))/100.0 AS sum_qty,
                sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))/100.0 AS sum_base_price,
                sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100 + 0.5) AS BIGINT))/100.0 AS sum_disc_price,
                sum(CAST(floor(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)*100 + 0.5) AS BIGINT))/100.0 AS sum_charge,
                floor((sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT))/100.0/count(*))*10000 + 0.5)/10000.0 AS avg_qty,
                floor((sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))/100.0/count(*))*10000 + 0.5)/10000.0 AS avg_price,
                floor((sum(CAST(floor(l_discount*100 + 0.5) AS BIGINT))/100.0/count(*))*10000 + 0.5)/10000.0 AS avg_disc,
                count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "agg_count_distinct" ->
      """SELECT c_mktsegment, count(DISTINCT o_custkey) AS n_cust
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "agg_approx_distinct_audit" ->
      """SELECT l_returnflag,
                count(DISTINCT l_orderkey) AS exact_orders,
                true AS within_bound
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_grouping_sets" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS seg,
                coalesce(CAST(c_nationkey AS VARCHAR), 'ALL') AS nat,
                sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100 + 0.5) AS BIGINT))/100.0 AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                       JOIN customer ON o_custkey = c_custkey
         GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey), (c_mktsegment), ())
         ORDER BY seg, nat""",
    "agg_rollup" ->
      """SELECT year(l_shipdate) AS y, month(l_shipdate) AS m,
                sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT))/100.0 AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP(year(l_shipdate), month(l_shipdate))
         ORDER BY y NULLS FIRST, m NULLS FIRST""",
    "agg_cube" ->
      """SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY rf NULLS FIRST, ls NULLS FIRST""",
    "agg_filtered" ->
      """SELECT o_orderstatus,
                sum(CASE WHEN o_orderpriority = '1-URGENT'
                    THEN CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)
                    ELSE 0 END)/100.0 AS urgent_total,
                CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
                count(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_stats" ->
      """SELECT l_returnflag,
                floor((stddev_samp(l_quantity))*10000 + 0.5)/10000.0 AS sd_qty,
                floor((var_samp(l_quantity))*10000 + 0.5)/10000.0 AS var_qty,
                floor((corr(l_extendedprice, l_quantity))*10000 + 0.5)/10000.0 AS corr_pq,
                floor((covar_samp(l_extendedprice, l_quantity))*10 + 0.5)/10.0 AS cov_pq
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_ab_ttest" ->
      """WITH a AS (
           SELECT CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                  CAST(sum(CASE WHEN arm THEN c ELSE 0 END) AS BIGINT) AS s1,
                  CAST(sum(CASE WHEN arm THEN c*c ELSE 0 END) AS BIGINT) AS q1,
                  CAST(sum(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                  CAST(sum(CASE WHEN NOT arm THEN c ELSE 0 END) AS BIGINT) AS s2,
                  CAST(sum(CASE WHEN NOT arm THEN c*c ELSE 0 END) AS BIGINT) AS q2
           FROM (SELECT event_type = 'purchase' AS arm,
                        CAST(floor(value*100 + 0.5) AS BIGINT) AS c
                 FROM events WHERE event_type IN ('purchase', 'click'))),
         m AS (
           SELECT n1, n2,
                  CAST(s1 AS DOUBLE)/n1 AS m1, CAST(s2 AS DOUBLE)/n2 AS m2,
                  (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/n1)/(n1 - 1)/n1 AS se1,
                  (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)*s2/n2)/(n2 - 1)/n2 AS se2
           FROM a)
         SELECT n1, n2,
                floor(((m1 - m2)/100.0)*10000 + 0.5)/10000.0 AS mean_diff,
                floor(((m1 - m2)/sqrt(se1 + se2))*10000 + 0.5)/10000.0 AS t_stat,
                floor(((se1 + se2)*(se1 + se2)
                       / (se1*se1/(n1 - 1) + se2*se2/(n2 - 1)))*10000 + 0.5)/10000.0
                  AS df_welch
         FROM m""",
    "agg_ks_drift" ->
      """WITH ev AS (
           SELECT event_type = 'purchase' AS arm,
                  CAST(floor(value*100 + 0.5) AS BIGINT) AS bin
           FROM events WHERE event_type IN ('purchase', 'click')),
         b AS (SELECT bin,
                      CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                      CAST(sum(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT) AS cb
               FROM ev GROUP BY bin),
         c AS (SELECT CAST(sum(ca) OVER (ORDER BY bin) AS BIGINT) AS cuma,
                      CAST(sum(cb) OVER (ORDER BY bin) AS BIGINT) AS cumb
               FROM b),
         t AS (SELECT CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS na,
                      CAST(sum(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT) AS nb
               FROM ev),
         m AS (SELECT max(abs(cuma*nb - cumb*na)) AS num_max,
                      max(na) AS n_a, max(nb) AS n_b
               FROM c, t)
         SELECT n_a, n_b,
                CAST((1000000 * num_max) // (n_a * n_b) AS BIGINT) AS ks_scaled,
                floor((CAST(num_max AS DOUBLE)/CAST(n_a * n_b AS DOUBLE))*10000 + 0.5)/10000.0 AS ks
         FROM m""",
    "agg_chi2_independence" ->
      """WITH d AS (SELECT lang, source FROM documents
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
                CAST(sum(term) AS BIGINT) AS chi2_scaled,
                floor((CAST(sum(term) AS DOUBLE)/1000000.0)*10000 + 0.5)/10000.0
                  AS chi2
         FROM t""",
    "agg_gini_concentration" ->
      """WITH r AS (
           SELECT source, doc_id, n_chars,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY n_chars, doc_id) AS BIGINT) AS i
           FROM documents),
         a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(n_chars) AS BIGINT) AS total_chars,
                      CAST(2 * sum(i * n_chars) AS BIGINT) AS a2
               FROM r GROUP BY source),
         g AS (SELECT source, n_docs, total_chars,
                      a2 - (n_docs + 1) * total_chars AS gini_num
               FROM a)
         SELECT source, n_docs, total_chars,
                CAST((1000000 * gini_num) // (n_docs * total_chars)
                     AS BIGINT) AS gini_scaled,
                floor((CAST(gini_num AS DOUBLE)
                       / CAST(n_docs * total_chars AS DOUBLE))*10000 + 0.5)
                  / 10000.0 AS gini
         FROM g ORDER BY source""",
    "agg_entropy_balance" ->
      """WITH sc AS (SELECT source AS v, CAST(count(*) AS BIGINT) AS c
                     FROM documents GROUP BY 1),
          st AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                        CAST(count(*) AS BIGINT) AS k FROM sc),
          sa AS (SELECT 'source' AS axis, st.n AS n_docs, st.k AS k,
                        CAST(sum(c * CAST(floor(
                          ln(CAST(st.n AS DOUBLE)/CAST(c AS DOUBLE))*1000000
                          + 0.5) AS BIGINT)) AS BIGINT) AS si
                 FROM sc, st GROUP BY st.n, st.k),
          lc AS (SELECT lang AS v, CAST(count(*) AS BIGINT) AS c
                 FROM documents GROUP BY 1),
          lt AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                        CAST(count(*) AS BIGINT) AS k FROM lc),
          la AS (SELECT 'lang' AS axis, lt.n AS n_docs, lt.k AS k,
                        CAST(sum(c * CAST(floor(
                          ln(CAST(lt.n AS DOUBLE)/CAST(c AS DOUBLE))*1000000
                          + 0.5) AS BIGINT)) AS BIGINT) AS si
                 FROM lc, lt GROUP BY lt.n, lt.k),
          u AS (SELECT * FROM sa UNION ALL SELECT * FROM la)
          SELECT axis, n_docs, k,
                 floor(CAST(si AS DOUBLE)/CAST(n_docs AS DOUBLE)/1000000.0
                       *10000 + 0.5)/10000.0 AS entropy,
                 CASE WHEN k > 1 THEN
                   floor(CAST(si AS DOUBLE)/CAST(n_docs AS DOUBLE)
                         /floor(ln(CAST(k AS DOUBLE))*1000000 + 0.5)
                         *10000 + 0.5)/10000.0
                 END AS evenness
          FROM u ORDER BY axis""",
    "agg_mutual_information" ->
      """WITH d AS (SELECT lang, source FROM documents
                    WHERE lang IS NOT NULL AND source IS NOT NULL),
          obs AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
                  FROM d GROUP BY 1, 2),
          rt AS (SELECT lang, CAST(count(*) AS BIGINT) AS rt
                 FROM d GROUP BY 1),
          ct AS (SELECT source, CAST(count(*) AS BIGINT) AS ct
                 FROM d GROUP BY 1),
          nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
          mi AS (SELECT max(n) AS n_docs,
                        CAST(sum(o * CAST(floor(
                          ln(CAST(n*o AS DOUBLE)/CAST(rt*ct AS DOUBLE))
                          *1000000 + 0.5) AS BIGINT)) AS BIGINT) AS si
                 FROM obs JOIN rt USING (lang) JOIN ct USING (source), nn),
          hr AS (SELECT CAST(sum(rt * CAST(floor(
                   ln(CAST(n AS DOUBLE)/CAST(rt AS DOUBLE))*1000000 + 0.5)
                   AS BIGINT)) AS BIGINT) AS h_rt FROM rt, nn),
          hc AS (SELECT CAST(sum(ct * CAST(floor(
                   ln(CAST(n AS DOUBLE)/CAST(ct AS DOUBLE))*1000000 + 0.5)
                   AS BIGINT)) AS BIGINT) AS h_ct FROM ct, nn)
          SELECT n_docs,
                 floor(CAST(si AS DOUBLE)/CAST(n_docs AS DOUBLE)/1000000.0
                       *10000 + 0.5)/10000.0 AS mi,
                 CASE WHEN least(h_rt, h_ct) > 0 THEN
                   floor(CAST(si AS DOUBLE)/CAST(least(h_rt, h_ct) AS DOUBLE)
                         *10000 + 0.5)/10000.0
                 END AS mi_norm
          FROM mi, hr, hc""",
    "agg_corr_matrix" ->
      """WITH c AS (SELECT CAST(floor(l_quantity*100 + 0.5) AS BIGINT) AS qty,
                           CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS price,
                           CAST(floor(l_discount*100 + 0.5) AS BIGINT) AS disc,
                           CAST(floor(l_tax*100 + 0.5) AS BIGINT) AS tax
                    FROM lineitem),
            a AS (SELECT count(*) AS n,
                         sum(qty) AS s_qty, sum(price) AS s_price,
                         sum(disc) AS s_disc, sum(tax) AS s_tax,
                         sum(qty*qty) AS q_qty_qty, sum(qty*price) AS q_qty_price,
                         sum(qty*disc) AS q_qty_disc, sum(qty*tax) AS q_qty_tax,
                         sum(price*price) AS q_price_price,
                         sum(price*disc) AS q_price_disc,
                         sum(price*tax) AS q_price_tax,
                         sum(disc*disc) AS q_disc_disc, sum(disc*tax) AS q_disc_tax,
                         sum(tax*tax) AS q_tax_tax
                  FROM c)
         SELECT pair,
                floor(((CAST(n AS DOUBLE)*CAST(qxy AS DOUBLE)
                        - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                       / nullif(sqrt((CAST(n AS DOUBLE)*CAST(qxx AS DOUBLE)
                               - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                            * (CAST(n AS DOUBLE)*CAST(qyy AS DOUBLE)
                               - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 0.0))
                      *10000 + 0.5)/10000.0 AS corr
         FROM (
           SELECT 'qty_price' AS pair, n, q_qty_price AS qxy, s_qty AS sx,
                  s_price AS sy, q_qty_qty AS qxx, q_price_price AS qyy FROM a
           UNION ALL SELECT 'qty_disc', n, q_qty_disc, s_qty, s_disc,
                  q_qty_qty, q_disc_disc FROM a
           UNION ALL SELECT 'qty_tax', n, q_qty_tax, s_qty, s_tax,
                  q_qty_qty, q_tax_tax FROM a
           UNION ALL SELECT 'price_disc', n, q_price_disc, s_price, s_disc,
                  q_price_price, q_disc_disc FROM a
           UNION ALL SELECT 'price_tax', n, q_price_tax, s_price, s_tax,
                  q_price_price, q_tax_tax FROM a
           UNION ALL SELECT 'disc_tax', n, q_disc_tax, s_disc, s_tax,
                  q_disc_disc, q_tax_tax FROM a)
         ORDER BY pair""",
    "agg_percentile" ->
      """SELECT o_orderstatus,
                floor((quantile_cont(o_totalprice, 0.5))*10000 + 0.5)/10000.0 AS p50,
                floor((quantile_cont(o_totalprice, 0.9))*10000 + 0.5)/10000.0 AS p90
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_percentile_disc" ->
      """SELECT o_orderstatus,
                quantile_disc(o_totalprice, 0.5) AS p50_disc,
                quantile_disc(o_totalprice, 0.9) AS p90_disc,
                floor((quantile_cont(o_totalprice, 0.5))*10000 + 0.5)/10000.0 AS med
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // The sketch value never crosses engines — only its guarantee verdict
    // does: the oracle replays the exact discrete percentile (Spark's
    // ceil(p·n)-th order statistic, the established row_number replay) and
    // asserts within_bound = true; a sketch that breaks its rank bound
    // hash-mismatches here instead of hiding behind no_oracle.
    "agg_approx_percentile_audit" ->
      """WITH r AS (
           SELECT o_orderstatus, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderstatus
                                     ORDER BY o_totalprice) AS rn,
                  count(*) OVER (PARTITION BY o_orderstatus) AS n
           FROM orders),
         pcts AS (SELECT unnest([5000, 9000, 9900]) AS ps)
         SELECT o_orderstatus, ps/10000.0 AS p, CAST(max(n) AS BIGINT) AS n,
                max(CASE WHEN rn = CAST(ceil(ps/10000.0 * n) AS BIGINT)
                         THEN o_totalprice END) AS exact_disc,
                true AS within_bound
         FROM r CROSS JOIN pcts GROUP BY o_orderstatus, ps
         ORDER BY o_orderstatus, p""",
    "agg_grouping_id" ->
      """SELECT user_id, event_type,
                CAST(GROUPING(user_id) AS INTEGER) AS g_user,
                CAST(GROUPING(event_type) AS INTEGER) AS g_type,
                CAST(GROUPING(user_id) * 2 + GROUPING(event_type) AS INTEGER)
                  AS gid,
                count(*) AS n
         FROM events
         GROUP BY ROLLUP(user_id, event_type)
         ORDER BY gid, user_id NULLS FIRST, event_type NULLS FIRST""",
    "agg_listagg" ->
      """SELECT n_regionkey,
                string_agg(n_name, ',' ORDER BY n_name) AS names,
                count(*) AS n
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "agg_collect_sorted" ->
      """SELECT l_orderkey,
                array_to_string((list(strftime(l_shipdate, '%Y-%m-%d')
                      ORDER BY strftime(l_shipdate, '%Y-%m-%d')))[1:3], ',') AS first3
         FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""",
    "agg_first_last" ->
      """SELECT user_id,
                arg_min(value, CAST(epoch_ms(ts) AS HUGEINT) * 18446744073709551616 + event_id) AS first_value,
                arg_max(value, CAST(epoch_ms(ts) AS HUGEINT) * 18446744073709551616 + event_id) AS last_value,
                count(*) AS n
         FROM events GROUP BY user_id ORDER BY user_id""",
    "agg_sample_bottomk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
                md5(CAST(o_orderkey AS VARCHAR)) AS hk
         FROM orders ORDER BY hk, o_orderkey LIMIT 100""",
    "agg_histogram" ->
      """SELECT CAST(floor(o_totalprice/50000.0) AS BIGINT) AS bucket,
                count(*) AS n,
                sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))/100.0 AS bucket_total
         FROM orders GROUP BY CAST(floor(o_totalprice/50000.0) AS BIGINT)
         ORDER BY bucket""",
    "sub_correlated_scalar" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders o
         WHERE o_totalprice > 1.5 * (
           SELECT sum(CAST(floor(o2.o_totalprice*100 + 0.5) AS BIGINT))/CAST(100 AS DOUBLE)
                  /count(*)
           FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
         ORDER BY o_orderkey""",
    "sub_lateral" ->
      """WITH r AS (SELECT c_custkey, o_orderkey, o_totalprice,
                           row_number() OVER (PARTITION BY o_custkey
                                              ORDER BY o_totalprice DESC,
                                                       o_orderkey) AS rn
                    FROM customer JOIN orders ON o_custkey = c_custkey)
         SELECT c_custkey, o_orderkey, o_totalprice FROM r WHERE rn <= 2
         ORDER BY c_custkey, o_totalprice DESC, o_orderkey""",
    "sub_in" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
         ORDER BY c_custkey""",
    "sub_exists" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "sub_not_in" ->
      """SELECT p_partkey, p_name FROM part
         WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
         ORDER BY p_partkey""",
    "sub_cte_reuse" ->
      """WITH rev AS (
           SELECT l_orderkey,
                  sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100 + 0.5) AS BIGINT)) AS rc
           FROM lineitem GROUP BY l_orderkey)
         SELECT r.l_orderkey, r.rc/CAST(100 AS DOUBLE) AS revenue,
                floor(t.avg_rc/CAST(100 AS DOUBLE)*10000 + 0.5)/CAST(10000 AS DOUBLE) AS avg_revenue
         FROM rev r CROSS JOIN (SELECT sum(rc)/CAST(count(*) AS DOUBLE) AS avg_rc FROM rev) t
         WHERE r.rc > t.avg_rc * 1.5
         ORDER BY r.l_orderkey""",
    "sub_recursive_cte" ->
      """WITH RECURSIVE anc(c_custkey, node, depth) AS (
           SELECT c_custkey, CAST(c_custkey AS BIGINT), 0 FROM customer
           UNION ALL
           SELECT c_custkey, node // 2, depth + 1 FROM anc WHERE node > 1)
         SELECT c_custkey, CAST(max(depth) AS INTEGER) AS chain_len,
                CAST(sum(node) AS BIGINT) AS path_sum,
                count(*) AS n_nodes
         FROM anc GROUP BY c_custkey ORDER BY c_custkey""",
    "sql_session_variables" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders WHERE o_totalprice > 450000.0
         ORDER BY o_orderkey""",
    "sql_pipe_syntax" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT))/CAST(100 AS DOUBLE) AS sum_qty,
                sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100 + 0.5) AS BIGINT))/CAST(100 AS DOUBLE) AS revenue
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "agg_pivot" ->
      """SELECT o_orderstatus,
                CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p_urgent,
                CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p_high,
                CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p_medium,
                CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p_notspec,
                CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p_low
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_unpivot" ->
      """SELECT * FROM (
           SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS value FROM customer
           UNION ALL
           SELECT c_custkey, 'c_nationkey_d' AS metric, CAST(c_nationkey AS DOUBLE) AS value
           FROM customer)
         ORDER BY c_custkey, metric""",
    "agg_mode" ->
      """WITH counts AS (
           SELECT l_returnflag, l_quantity, count(*) AS cnt
           FROM lineitem GROUP BY l_returnflag, l_quantity),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY l_returnflag
                       ORDER BY cnt DESC, l_quantity ASC) AS rn
           FROM counts)
         SELECT l_returnflag, l_quantity AS mode_qty, cnt
         FROM ranked WHERE rn = 1 ORDER BY l_returnflag""",
    "sort_multikey" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
         ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey ASC""",
    "sort_nulls" ->
      """SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS pr,
                nullif(o_orderstatus, 'P') AS st
         FROM orders
         ORDER BY pr DESC NULLS LAST, st ASC NULLS FIRST, o_orderkey ASC""",
    "limit_k" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""",
    "topk_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "set_union_all" ->
      """SELECT * FROM (
           SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_acctbal < 1000
           UNION ALL
           SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
           WHERE c_mktsegment IN ('BUILDING','MACHINERY'))
         ORDER BY c_custkey, c_mktsegment""",
    "set_union_distinct" ->
      """SELECT * FROM (
           SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_acctbal < 1000
           UNION
           SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
           WHERE c_mktsegment IN ('BUILDING','MACHINERY'))
         ORDER BY c_custkey, c_mktsegment""",
    "set_intersect" ->
      """SELECT * FROM (
           SELECT c_nationkey AS nk FROM customer
           INTERSECT SELECT s_nationkey FROM supplier) ORDER BY nk""",
    "set_intersect_all" ->
      """SELECT * FROM (
           SELECT c_nationkey AS nk FROM customer
           INTERSECT ALL SELECT s_nationkey FROM supplier) ORDER BY nk""",
    "set_except" ->
      """SELECT * FROM (
           SELECT c_nationkey AS nk FROM customer
           EXCEPT SELECT s_nationkey FROM supplier) ORDER BY nk""",
    "set_except_all" ->
      """SELECT * FROM (
           SELECT c_nationkey AS nk FROM customer
           EXCEPT ALL SELECT s_nationkey FROM supplier) ORDER BY nk""",
  )
}
