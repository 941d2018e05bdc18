package graft

import org.scalacheck.{Gen, Prop, Properties}

/** Randomized semantics checks for the round-9 drift/vote cores and the
  * exact-information folds (entropy, unigram surprisal) — the fixture
  * recomputes in LifecycleSpec pin one dataset; these sweep random shapes
  * (one-sided buckets, absent categories, tie votes, single-value groups,
  * one-token docs) against independent plain-Scala recomputation of the
  * SAME published formulas.
  */
object DriftProps extends Properties("drift") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters):
      org.scalacheck.Test.Parameters = p.withMinSuccessfulTests(10)

  private def li6(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong
  private def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000.0

  // (bucket 0..5, is_ref) rows — small enough that one-sided buckets and
  // fully-one-sided datasets occur regularly
  private val rowsGen: Gen[List[(Long, Boolean)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 5L), Gen.oneOf(true, false)))

  property("psiDriftCore ≡ plain-Scala recompute on random cohorts") =
    Prop.forAll(rowsGen) { rows =>
      val spark = TestSession.spark
      import spark.implicits._
      val got = ops.Lifecycle.psiDriftCore(rows.toDF("bucket", "is_ref"))
        .collect().head
      val byB = rows.groupBy(_._1).view.mapValues { rs =>
        (rs.count(_._2).toLong, rs.count(!_._2).toLong)
      }.toMap
      val tr = byB.values.map(_._1).sum; val tc = byB.values.map(_._2).sum
      val used = byB.values.filter(v => v._1 > 0 && v._2 > 0)
      val dropped = byB.size - used.size
      val ok0 = got.getLong(0) == tr && got.getLong(1) == tc &&
        got.getLong(2) == used.size.toLong && got.getLong(3) == dropped.toLong
      if (used.isEmpty) ok0 && got.isNullAt(4)
      else {
        val s = used.map { case (nr, nc) =>
          (nr * tc - nc * tr) * li6((nr * tc).toDouble / (nc * tr).toDouble)
        }.sum
        ok0 && got.getDouble(4) == r4(s.toDouble / (tr * tc).toDouble / 1e6)
      }
    }

  property("jsDivergenceCore ≡ recompute; 0 ≤ JSD ≤ ln 2 (+rounding slack)") =
    Prop.forAll(rowsGen) { rows0 =>
      // JSD needs both cohorts non-empty (a zero total is a degenerate
      // audit input); pin one row on each side
      val rows = (0L, true) :: (0L, false) :: rows0
      val spark = TestSession.spark
      import spark.implicits._
      val got = ops.Lifecycle.jsDivergenceCore(
        rows.map { case (b, r) => (s"c$b", r) }.toDF("cat", "is_ref"))
        .collect().head
      val byC = rows.groupBy(_._1).view.mapValues { rs =>
        (rs.count(_._2).toLong, rs.count(!_._2).toLong)
      }.toMap
      val ta = byC.values.map(_._1).sum; val tb = byC.values.map(_._2).sum
      val sp = byC.values.map { case (a, _) =>
        if (a > 0) a * li6(a.toDouble / ta.toDouble) else 0L }.sum
      val sq = byC.values.map { case (_, b) =>
        if (b > 0) b * li6(b.toDouble / tb.toDouble) else 0L }.sum
      val sm = byC.values.map { case (a, b) =>
        (a * tb + b * ta) * li6((a * tb + b * ta).toDouble / (2.0 * ta * tb))
      }.sum
      val want = r4(
        (-sm.toDouble / (2L * ta * tb).toDouble / 1e6) -
          ((-sp.toDouble / ta.toDouble / 1e6) +
            (-sq.toDouble / tb.toDouble / 1e6)) / 2.0)
      got.getLong(0) == ta && got.getLong(1) == tb &&
        got.getDouble(3) == want &&
        want >= -1e-4 && want <= math.log(2.0) + 1e-4
    }

  // (key 0..3, count) rows, one per distinct value: single-value groups
  // (evenness NULL) occur regularly
  private val countsGen: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 3L), Gen.choose(1L, 40L)))

  property("entropyFold ≡ plain-Scala recompute, keyed and unkeyed") =
    Prop.forAll(countsGen) { rows =>
      val spark = TestSession.spark
      import spark.implicits._
      // (n, k, si, entropy, evenness) of one count distribution
      def want(cs: Seq[Long]) = {
        val n = cs.sum
        val si = cs.map(c => c * li6(n.toDouble / c.toDouble)).sum
        (n, cs.length.toLong, BigDecimal(si),
          r4(si.toDouble / n.toDouble / 1e6),
          if (cs.length > 1) Some(r4(si.toDouble / n.toDouble / li6(cs.length)))
          else None)
      }
      def read(r: org.apache.spark.sql.Row, i: Int) =
        (r.getLong(i), r.getLong(i + 1), BigDecimal(r.getDecimal(i + 2)),
          r.getDouble(i + 3),
          if (r.isNullAt(i + 4)) None else Some(r.getDouble(i + 4)))
      val df = rows.zipWithIndex
        .map { case ((k, c), v) => (k, v.toLong, c) }.toDF("key", "v", "c")
      val keyed = ops.Relational.entropyFold(df, "key").collect()
        .map(r => r.getLong(0) -> read(r, 1)).toMap
      val whole = ops.Relational.entropyFold(df.drop("key")).collect()
      keyed == rows.groupBy(_._1).view.mapValues(g => want(g.map(_._2))).toMap &&
        whole.length == 1 && read(whole.head, 0) == want(rows.map(_._2))
    }

  // docs of 1–6 tokens over a 5-word vocabulary, in one of two langs
  private val docsGen: Gen[List[(String, List[String])]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("en", "de"),
      Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.oneOf("a", "b", "c", "d", "e")))))

  property("unigramSurprisal ≡ plain-Scala recompute on random token docs") =
    Prop.forAll(docsGen) { docs =>
      val spark = TestSession.spark
      import spark.implicits._
      val got = ops.TextDedup.unigramSurprisal(
        docs.zipWithIndex.map { case ((lang, ts), i) =>
          (i.toLong, lang, ts.mkString(" ")) }.toDF("doc_id", "lang", "text"),
        "lang").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
        .toMap
      val c = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
      val nn = c.values.sum
      got == docs.zipWithIndex.map { case ((lang, ts), i) =>
        i.toLong -> (lang, ts.length.toLong,
          ts.groupBy(identity).map { case (t, o) =>
            o.length.toLong * li6(nn.toDouble / c(t).toDouble) }.sum)
      }.toMap
    }

  property("labelVoteCore ≡ recompute for random k-labeler matrices") =
    Prop.forAll(Gen.choose(2, 4).flatMap(k =>
        Gen.zip(Gen.const(k),
          Gen.nonEmptyListOf(Gen.listOfN(k, Gen.oneOf(true, false)))))) {
      case (k, rows) =>
        val spark = TestSession.spark
        import spark.implicits._
        import org.apache.spark.sql.functions.col
        val names = (0 until k).map(i => s"l$i")
        val df = rows.map(r => (r.lift(0), r.lift(1), r.lift(2), r.lift(3)))
          .toDF("a", "b", "c", "d")
          .select(names.zipWithIndex.map { case (n, i) =>
            col(Seq("a", "b", "c", "d")(i)).as(n) }: _*)
        val got = ops.Lifecycle.labelVoteCore(df, names).collect()
          .map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
        val votes = rows.map(r => r.count(identity) >= k / 2 + 1)
        val n = rows.length.toLong
        names.zipWithIndex.forall { case (nm, i) =>
          val flags = rows.map(_(i))
          val pos = flags.count(identity).toLong
          val agree = flags.zip(votes).count(t => t._1 == t._2).toLong
          got(nm) == (n, pos, agree, r4(agree.toDouble / n.toDouble))
        }
    }
}
