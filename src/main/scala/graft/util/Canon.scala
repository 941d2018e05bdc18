package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Canonicalization combinators (SURVEY.md §5.3) so every oracle-checked
  * query hash-matches DuckDB bit-exactly:
  *
  *  - money: cast to DECIMAL(18,2) BEFORE aggregating — double summation is
  *    order-sensitive (~1e-3 absolute noise at 1e9 magnitude, §5.3.2).
  *  - r4: round irreducibly-float outputs (stddev/corr/ln/cosine) to 4
  *    decimals on both engines (§5.3.3).
  *  - tsMs: events.ts has shipped as ns or µs depending on testdata
  *    generation; events() normalizes both shapes to µs TimestampType
  *    first (under the UTC session zone every entry point sets), then tsMs
  *    truncates to ms on both sides before any emit/compare (§5.3.4).
  */
object Canon {
  def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Money-sum canonicalization that is bit-identical across engines.
    *
    * `CAST(double AS DECIMAL)` is NOT portable: Spark rounds the shortest
    * decimal repr of the double (java BigDecimal.valueOf, HALF_UP) while
    * DuckDB rounds the exact binary value — they disagree whenever the
    * shortest repr lands on a .xx5 boundary (measured: 0.17 drift over 32k
    * rows). Instead round to cents with pure IEEE double ops that both
    * engines evaluate identically: floor(x*100 + 0.5) → BIGINT. Sum the
    * cents exactly, divide by 100.0 at the end (exact: cent totals < 2^53).
    * DuckDB equivalent: `sum(CAST(floor(x*100 + 0.5) AS BIGINT))/100.0`.
    */
  def cents(c: Column): Column = floor(c * 100 + 0.5).cast("long")
  def sumMoney(c: Column): Column = sum(cents(c)) / 100.0

  /** The same exact-integer scale for an [[r4]]-rounded value: x·10⁴ as a
    * BIGINT, so sums and products of 4-decimal series (OLS, rolling and
    * climatology folds) are exact on both engines. The Double form is the
    * per-series JVM code's copy of the same IEEE ops.
    * DuckDB equivalent: `CAST(floor(x*10000 + 0.5) AS BIGINT)` */
  def scaled4(c: Column): Column = floor(c * 10000 + 0.5).cast("long")
  def scaled4(x: Double): Long = math.floor(x * 10000 + 0.5).toLong

  /** Portable 4-decimal rounding. NOT round(x,4): Spark's round rounds the
    * shortest decimal repr (BigDecimal HALF_UP) while DuckDB rounds the exact
    * binary value — they flip the 4th decimal on .xxxx5 boundaries (measured:
    * 168/105k rows on interpolation output). floor(x*1e4 + 0.5)/1e4 is pure
    * IEEE arithmetic, identical on both engines.
    * The Double form is the JVM code's copy of the same IEEE ops.
    * DuckDB equivalent: floor(x*10000 + 0.5)/10000.0 */
  def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000.0
  def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000.0

  /** 1e6-scaled natural log of a positive value as a BIGINT — the one
    * exact-integer carrier of every log-linear statistic (entropy, MI,
    * surprisal, PMI, Theil, PSI, BM25 idf, Adamic–Adar), so their sums are
    * exact and partition-order-free. ln is not correctly rounded in either
    * libm: a value within an ulp of a half-boundary could flip the scaled
    * integer by one (accepted last-ulp risk, PLANS.md).
    * DuckDB equivalent: `CAST(floor(ln(CAST(x AS DOUBLE))*1000000 + 0.5) AS BIGINT)` */
  def ln6(c: Column): Column = floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")

  /** Widen to DECIMAL(38,0) before a product or sum whose magnitude scales
    * superlinearly with input size (count × scaled-ln terms, degree and
    * m² moments, squared weights cross 2^63 long before the data does).
    * Exact 128-bit integer arithmetic: associative and partition-invariant
    * like BIGINT, value-identical wherever the BIGINT fold survived.
    * DuckDB equivalent: its `sum(BIGINT)` is already HUGEINT. */
  def dec38(c: Column): Column = c.cast("decimal(38,0)")
  def tsMs(c: Column): Column = date_trunc("millisecond", c)

  /** Serialize a list-valued result column to a canonical comma-joined
    * string BEFORE it leaves a query. The driver's pandas comparator sorts
    * the result frame with `sort_values`, which raises
    * `unhashable type: 'numpy.ndarray'` on any array-typed column — the
    * query then has no green CORRECTNESS row at all (round-7:
    * text_inverted_index crashed exactly this way; multimodal_struct had
    * already dodged it ad hoc with to_json). Elements are cast to string
    * first so the combinator works for array<long>/array<double> too.
    * DuckDB mirror: `array_to_string(list_col, ',')` (DuckDB casts
    * elements implicitly). Order must already be canonical (sort_array /
    * list_sort on both sides) — joining does not sort. */
  def listCol(c: Column): Column =
    array_join(transform(c, _.cast("string")), ",")

  /** Distributed PREFIX SUM over `part`-keyed streams ordered by a
    * non-negative numeric `orderCol` — the scale-safe replacement for
    * `sum(val).over(Window.partitionBy(part).orderBy(orderCol))`, whose
    * running-total frame forces ONE task per partition key (with ~3
    * languages, a 100 TB pack stage would run on 3 tasks). Classic
    * two-phase scan: chunk rows by `floor(orderCol / chunkWidth)`, cumsum
    * inside each (part, chunk) window — parallel across chunks — then add
    * each chunk's prefix offset (an aggregate of chunk TOTALS, a frame
    * with one row per chunk whose own prefix window is trivially small).
    * Integer sums are associative, so the result is BIT-IDENTICAL to the
    * single-window form (CumSumSpec asserts it with a width that forces
    * many chunks). A chunk holds ≤ chunkWidth rows, bounding skew; the
    * default 2^16 keeps the sf fixtures single-chunk (same plan cost)
    * while a corpus with billions of ids gets thousands-fold window
    * parallelism. Emits running total INCLUDING the current row. */
  def chunkedCumSum(df: DataFrame, part: Seq[String], orderCol: String,
      valCol: String, out: String, chunkWidth: Long = 1L << 16,
      routeProbe: Option[DataFrame] = None,
      smallCap: Long = SmallWindowCap): DataFrame =
    chunkedCumSumBy(df, part,
      floor(col(orderCol).cast("double") / chunkWidth).cast("long"),
      Seq(col(orderCol)), valCol, out, routeProbe, smallCap)

  /** ADAPTIVE ROUTING for the chunked window helpers (same pattern as the
    * dedup maskSetCap / local-solve caps): below `SmallWindowCap` input
    * rows the plain single window IS the better plan — measured r10c at
    * sf0.1, the chunked forms carry ~0.5-0.6 s of fixed overhead per
    * query (the offsets branch re-derives its input because column
    * pruning differentiates the two join subtrees, so ReusedExchange
    * never fires — plan-verified: 7 exchanges, 0 reused), while a ≤1M-row
    * key sorts on one task in moderate time. Above the cap the chunked
    * form's ≤2× input evaluation is amortized by chunk parallelism the
    * single window can never have. The probe is one bounded action
    * (limit(cap+1).count() — column-pruned to a row count, short-circuits
    * at cap+1 rows); callers whose input frame is itself expensive to
    * evaluate pass `routeProbe` = any CHEAP frame with at least as many
    * rows (e.g. the raw scan a derived frame aggregates from) — an upper
    * bound keeps the verdict conservative. Tests pass smallCap = 0 to
    * force the chunked path; both paths are result-identical by the
    * equality specs. */
  val SmallWindowCap: Long = 1L << 20
  private def routeSmall(df: DataFrame, routeProbe: Option[DataFrame],
      cap: Long): Boolean =
    cap > 0 &&
      routeProbe.getOrElse(df).limit((cap + 1).toInt).count() <= cap

  /** General form of [[chunkedCumSum]] for VALUE-ordered running totals
    * (e.g. a token-budget cut ordered by `desc(n_chars), doc_id`):
    * `chunkKey` must be (a) monotone NON-DECREASING along `order` and
    * (b) constant across order-equal rows — e.g. `floor(-n_chars/64)`
    * for a descending n_chars order, so ties stay inside one chunk and
    * the chunk sequence follows the sort. Unlike the id-chunked form a
    * value-keyed chunk is bounded by the VALUE distribution, not by row
    * count (a corpus where every doc has equal n_chars collapses to one
    * chunk — the same degenerate skew the single window has always had);
    * pick the width so typical chunks stay executor-sized. */
  def chunkedCumSumBy(df: DataFrame, part: Seq[String], chunkKey: Column,
      order: Seq[Column], valCol: String, out: String,
      routeProbe: Option[DataFrame] = None,
      smallCap: Long = SmallWindowCap): DataFrame =
    if (routeSmall(df, routeProbe, smallCap)) {
      import org.apache.spark.sql.expressions.Window
      df.withColumn(out, sum(col(valCol)).over(
        Window.partitionBy(part.map(col): _*).orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    } else chunkedPrefix(df, part, chunkKey, order, valCol, out,
      withTotal = false)

  /** Shared CHUNKED core of the helpers above/below (the large-input
    * path of the adaptive route). The local cumsum, the chunk total, and
    * the in-chunk row number are all window functions of ONE
    * (part, chunk) + order spec — one exchange, one sort, one WindowExec
    * per branch — and the chunk-level offsets frame derives from that
    * same shape filtered to _rn = 1. Honest plan note (measured r10c):
    * the two join branches do NOT share the exchange (column pruning
    * differentiates the subtrees, ReusedExchange never fires), so the
    * input is evaluated ≤ 2× — the accepted price at scale, where chunk
    * parallelism dominates; small inputs never reach this path. The
    * first cut aggregated offsets from the raw input with a DIFFERENT
    * plan shape, which read even worse (pack_sequences_bpe 3.6 s vs
    * 1.7 s quiet at sf0.1 — the BPE cascade evaluated on both shapes).
    * `withTotal`/`totalOf` emit per-part totals derived on the small
    * chunk-level frame, never a third input scan. */
  private def chunkedPrefix(df: DataFrame, part: Seq[String],
      chunkKey: Column, order: Seq[Column], valCol: String, out: String,
      withTotal: Boolean, totalOf: Option[(String, String)] = None)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pc = part.map(col)
    val wBase = Window.partitionBy((pc :+ col("_ck")): _*).orderBy(order: _*)
    val wAll = wBase.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wPre = Window.partitionBy(pc: _*).orderBy(col("_ck"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPart = Window.partitionBy(pc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cumd0 = df.withColumn("_ck", chunkKey.cast("long"))
      .withColumn("_lc", sum(col(valCol)).over(
        wBase.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_ct", sum(col(valCol)).over(wAll))
      .withColumn("_rn", row_number().over(wBase))
    val cumd = totalOf.foldLeft(cumd0) { case (c, (src, _)) =>
      c.withColumn("_ct2", sum(col(src)).over(wAll)) }
    val offCols = (pc :+ col("_ck") :+ col("_off")) ++
      (if (withTotal) Seq(col("_n")) else Nil) ++
      totalOf.map { case (_, outT) => col(outT) }.toSeq
    val offsets0 = cumd.where(col("_rn") === 1)
      .withColumn("_off", coalesce(sum(col("_ct")).over(wPre), lit(0L)))
    val offsets1 = if (withTotal)
      offsets0.withColumn("_n", sum(col("_ct")).over(wPart)) else offsets0
    val offsets = totalOf.foldLeft(offsets1) { case (o, (_, outT)) =>
      o.withColumn(outT, sum(col("_ct2")).over(wPart)) }.select(offCols: _*)
    // Null-safe equi-join: a using-columns join here silently DROPS rows
    // whose partition (or chunk) key is NULL, while the single-window
    // route ranks the NULL group like any other — a result divergence
    // across the SmallWindowCap routing boundary. `<=>` keys keep the
    // same shuffled equi-join plan shape and make NULL a joinable value.
    val joinKeys = part :+ "_ck"
    val offsetsR = joinKeys.foldLeft(offsets) { (o, k) =>
      o.withColumnRenamed(k, s"_r_$k") }
    val joinCond = joinKeys.map(k => col(k) <=> col(s"_r_$k"))
      .reduce(_ && _)
    cumd.join(offsetsR, joinCond)
      .withColumn(out, col("_lc") + col("_off"))
      .drop(joinKeys.map(k => s"_r_$k") ++
        Seq("_ck", "_lc", "_ct", "_rn", "_off") ++
        totalOf.map(_ => "_ct2").toSeq: _*)
  }

  /** Distributed rank (1-based, under `order`) PLUS the per-part total of
    * `totalCol`, in ONE chunked window pass — for consumers like a
    * balanced packer that need both a global rank and the key's total
    * without a second scan of an expensive input. */
  def chunkedRankWithTotal(df: DataFrame, part: Seq[String],
      chunkKey: Column, order: Seq[Column], totalCol: String,
      outRank: String, outTotal: String,
      routeProbe: Option[DataFrame] = None,
      smallCap: Long = SmallWindowCap): DataFrame =
    if (routeSmall(df, routeProbe, smallCap)) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(part.map(col): _*).orderBy(order: _*)
      df.withColumn(outRank, row_number().over(w).cast("long"))
        .withColumn(outTotal, sum(col(totalCol)).over(
          Window.partitionBy(part.map(col): _*)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    } else chunkedPrefix(df.withColumn("_one", lit(1L)), part, chunkKey,
      order, "_one", outRank, withTotal = false,
      totalOf = Some((totalCol, outTotal)))
      .drop("_one")

  /** Distributed ntile(k) per `part` key: rank via [[chunkedCumSumBy]]
    * (cumsum of 1s) + SQL-standard ntile arithmetic from (rank, per-key
    * count) — the first (n % k) tiles get ceil(n/k) rows, identical to
    * Spark's and DuckDB's `ntile` (spec-asserted across n % k residues).
    * Replaces `ntile(k).over(partitionBy(part).orderBy(order))`, which
    * sorts each key on one task. `chunkKey` contract as in
    * [[chunkedCumSumBy]]. */
  def chunkedNtile(df: DataFrame, part: Seq[String], chunkKey: Column,
      order: Seq[Column], k: Int, out: String,
      routeProbe: Option[DataFrame] = None,
      smallCap: Long = SmallWindowCap): DataFrame =
    if (routeSmall(df, routeProbe, smallCap)) {
      import org.apache.spark.sql.expressions.Window
      df.withColumn(out, ntile(k).over(
        Window.partitionBy(part.map(col): _*).orderBy(order: _*)))
    } else chunkedPrefix(df.withColumn("_one", lit(1L)), part, chunkKey,
      order, "_one", "_rk", withTotal = true)
      .drop("_one")
      .withColumn(out, expr(
        s"""CASE WHEN _rk <= (_n % $k) * (_n div $k + 1)
                 THEN (_rk - 1) div (_n div $k + 1) + 1
                 ELSE (_n % $k) +
                      (_rk - (_n % $k) * (_n div $k + 1) - 1) div (_n div $k) + 1
            END""").cast("int"))
      .drop("_rk", "_n")

  /** Distributed TOP-K per `part` key under a TOTAL `order` — the
    * scale-safe replacement for `row_number().over(partitionBy(part)
    * .orderBy(order)).where(rk <= k)`, which sorts each key's ENTIRE
    * stream on one task (with ~5 languages, a 100 TB reservoir draw runs
    * on 5 tasks). Two-phase: rank within (part, hash-chunk) and keep each
    * chunk's local top-k — the global top-k is always a subset of the
    * union of local top-ks, for ANY chunking — then re-rank the ≤
    * k·chunks survivors per key. Result (including the emitted rank) is
    * identical to the single window whenever `order` is total within a
    * key, which every caller guarantees with a doc_id tiebreak. */
  def chunkedTopK(df: DataFrame, part: Seq[String], order: Seq[Column],
      chunkBy: Column, k: Int, out: String, chunks: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pc = part.map(col)
    val wLoc = Window.partitionBy((pc :+ col("_c")): _*).orderBy(order: _*)
    val wGlob = Window.partitionBy(pc: _*).orderBy(order: _*)
    df.withColumn("_c", pmod(chunkBy, lit(chunks)))
      .withColumn("_lr", row_number().over(wLoc)).where(col("_lr") <= k)
      .withColumn(out, row_number().over(wGlob)).where(col(out) <= k)
      .drop("_c", "_lr")
  }

  /** Content stamp of a source table's parquet path — file names, sizes and
    * mtimes hashed driver-side, no Spark job. [[staged]] folds it into every
    * staged input dir name, so a session reusing /tmp/graft_io after the
    * source data changed re-stages into a fresh dir instead of silently
    * reading the stale layout (round-5 verdict item 5: the staged-dir cache
    * used to key on the path alone). */
  def srcStamp(dir: String, name: String): String =
    fileStamp(new java.io.File(s"$dir/$name.parquet"))

  /** Delete `path` and everything under it; a missing path is a no-op. */
  def deleteTree(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rec); f.delete()
    }
    rec(new java.io.File(path))
  }

  /** Staged-input writes of this JVM, one future per dir name. */
  private val stagedWrites = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[Unit]]()

  /** A derived input layout of table `table` under `d`, written once per
    * JVM into `/tmp/graft_io/<tag>_<d hash>_<srcStamp(d, table)>`, whose
    * name is returned. The first caller for a name empties the dir (a
    * leftover from an earlier JVM or a failed write) and runs `write` on
    * it; a concurrent caller with the same name blocks until that write
    * completes, so nobody reads the dir mid-write. The write runs outside
    * the map: a multi-second Spark write inside a ConcurrentHashMap mapping
    * function would lock the hash bin against unrelated names. A write
    * that throws drops its entry and rethrows, so a later call retries. */
  def staged(d: String, table: String, tag: String)(write: String => Unit)
      : String = {
    val dir = s"/tmp/graft_io/${tag}_${d.hashCode.toHexString}_" +
      srcStamp(d, table)
    val fresh = new java.util.concurrent.CompletableFuture[Unit]()
    val prev = stagedWrites.putIfAbsent(dir, fresh)
    if (prev != null) prev.join()
    else try {
      deleteTree(dir)
      new java.io.File(dir).mkdirs()
      write(dir)
      fresh.complete(())
    } catch { case e: Throwable =>
      stagedWrites.remove(dir, fresh)
      fresh.completeExceptionally(e)
      throw e
    }
    dir
  }

  private def fileStamp(root: java.io.File): String = {
    def walk(f: java.io.File): Seq[java.io.File] = {
      val kids = f.listFiles()
      if (kids == null) Seq(f) else kids.toSeq.flatMap(walk)
    }
    val sig = walk(root).filter(_.isFile)
      .sortBy(_.getPath)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(sig))
  }

  /** The confs parquet schema inference reads: a schema inferred under one
    * setting of these is not the schema of the same file under another. */
  private val ParquetInferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive")

  /** What a parquet path's inferred schema depends on: its content stamp
    * and the inference confs. None when [[fileStamp]] cannot see the path
    * (a filesystem other than the local one, or no files there). */
  private[graft] def schemaKey(s: SparkSession,
      path: String): Option[Seq[String]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val uri = p.toUri
    val scheme = Option(uri.getScheme).getOrElse(
      org.apache.hadoop.fs.FileSystem.getDefaultUri(
        s.sparkContext.hadoopConfiguration).getScheme)
    if (scheme != "file") None else {
      val root = new java.io.File(uri.getPath)
      if (!root.exists()) None
      else Some(fileStamp(root) +:
        ParquetInferenceConfs.map(c => s.conf.getOption(c).orNull))
    }
  }

  /** Inferred parquet schemas, one entry per path: the [[schemaKey]] the
    * schema was inferred under, and the schema (pending while the first
    * caller infers it). */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String,
    (Seq[String], java.util.concurrent.CompletableFuture[StructType])]()

  /** `s.read.parquet(path)` that infers the schema once per (path, content,
    * inference confs): inference reads the footers in a Spark job of its
    * own, so a query that opens its tables again would otherwise pay one
    * job per table. Later reads pass the remembered schema. A miss is
    * single-flight, as in [[staged]]: concurrent callers for the same path
    * and key wait for the first caller's inference instead of each running
    * one; an inference that throws drops its entry and rethrows. */
  private[graft] def readParquet(s: SparkSession, path: String): DataFrame =
    schemaKey(s, path) match {
      case None => s.read.parquet(path)
      case Some(key) =>
        val mine = (key, new java.util.concurrent.CompletableFuture[StructType]())
        val cur = schemas.merge(path, mine, (old, fresh) =>
          if (old._1 == key) old else fresh)
        if (cur ne mine) s.read.schema(cur._2.join()).parquet(path)
        else try {
          val df = s.read.parquet(path)
          mine._2.complete(df.schema)
          df
        } catch { case e: Throwable =>
          schemas.remove(path, mine)
          mine._2.completeExceptionally(e)
          throw e
        }
    }

  /** Run `body` with each session conf in `confs` set, then put every key
    * back exactly as it was: the old value, or unset if it was not set.
    * "Set" means listed by `conf.getAll`, not `getOption`, which also
    * answers a registered conf's default: restoring that would leave the
    * default set explicitly. The restore runs when the body throws too. A
    * caller that must leave a caller-set value alone filters it out of
    * `confs` first. Not reentrant across threads sharing one session: the
    * confs are session-wide. */
  def withConfs[T](s: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val set = s.conf.getAll
    val prior = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prior.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Load a testdata table (TESTDATA.md: one parquet per table), inferring
    * its schema once ([[readParquet]]). */
  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(s, dir) else readParquet(s, s"$dir/$name.parquet")

  /** events.ts has shipped in two physical shapes across driver testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark rejects outright —
    * [PARQUET_TYPE_ILLEGAL] — so it's read as a ns bigint via the legacy conf
    * and floor-divided to µs) and plain TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (which Spark reads as TIMESTAMP_NTZ directly).
    * Dispatch on the observed type so both generations load identically:
    * the NTZ wall-clock is reinterpreted as the same UTC instant (cast to
    * TimestampType under the UTC session zone — value-preserving), matching
    * DuckDB, whose TIMESTAMP is naive and compares wall-clock. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readParquet(s, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
}
