package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.functions._

/** NULL/contract ScalaCheck sweep over the remaining custom expressions
  * and operators — the bug class that produced real fixes three rounds
  * running (deleteWhere r12; asof/band-join/MinHashAgg r13): each
  * primitive is pinned against a straightforward single-machine model
  * under adversarial NULL rows and NULL array elements, mirroring
  * WarehouseNullProps. */
object ExprNullProps extends Properties("exprnull") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSpark.spark

  // ---- TopKPerKey: NULL keys group, NULL sort values order as SQL ------

  private val topkGen: Gen[(List[(Option[Long], Option[Double], Long)], Int)] = for {
    n <- Gen.choose(0, 60)
    rows <- Gen.listOfN(n, for {
      k <- Gen.option(Gen.choose(0L, 3L))
      s <- Gen.option(Gen.oneOf(Gen.choose(-5.0, 5.0), Gen.oneOf(0.0, 1.0)))
    } yield (k, s))
    k <- Gen.choose(1, 4)
  } yield (rows.zipWithIndex.map { case ((key, s), i) => (key, s, i.toLong) }, k)

  property("topKPerKey == per-key sort under SQL null ordering (NULL keys are a group)") =
    Prop.forAll(topkGen) { case (rows, k) =>
      import spark.implicits._
      val df = rows.toDF("key", "score", "id")
      val got = graft.ops.Ops
        .topKPerKey(df, Seq("key"), Seq(("score", false), ("id", false)), k)
        .as[(Option[Long], Option[Double], Long)].collect().toSet
      // model: ascending with NULLS FIRST (SortOrder(Ascending) default),
      // id unique tiebreak; NULL key is its own group like groupBy
      val expected = rows.groupBy(_._1).values.flatMap { g =>
        g.sortBy { case (_, s, id) =>
          (if (s.isEmpty) 0 else 1, s.getOrElse(0.0), id)
        }.take(k)
      }.toSet
      Prop(got == expected) :| s"got=$got expected=$expected"
    }

  // ---- SimHash64: null tokens cast no vote ----------------------------

  private val toksGen: Gen[List[Option[String]]] = Gen.choose(0, 12).flatMap(n =>
    Gen.listOfN(n, Gen.option(Gen.oneOf("a", "bb", "ccc", "déjà", "", "x y"))))

  property("graft_simhash(arr) == graft_simhash(arr without nulls); no voters -> 0; NULL arr -> NULL") =
    Prop.forAll(toksGen) { toks =>
      import spark.implicits._
      graft.plans.SimHash64.register(spark)
      val df = Seq((toks, toks.flatten)).toDF("with_nulls", "dense")
        .selectExpr("graft_simhash(with_nulls) AS a", "graft_simhash(dense) AS b")
      val r = df.head()
      val nullRow = Seq(Tuple1(Option.empty[Seq[String]])).toDF("t")
        .selectExpr("graft_simhash(t) AS s").head()
      Prop(r.getLong(0) == r.getLong(1)) :| "nulls must cast no vote" &&
        Prop(toks.flatten.nonEmpty || r.getLong(0) == 0L) :| "no voters signs as 0" &&
        Prop(nullRow.isNullAt(0)) :| "NULL array yields NULL signature"
    }

  // ---- ShingleArray: model equality incl. null tokens and short docs ---

  private val shingleGen: Gen[(List[Option[String]], Int, Boolean)] = for {
    n <- Gen.choose(0, 10)
    toks <- Gen.listOfN(n, Gen.option(Gen.oneOf("a", "b", "cc", "")))
    width <- Gen.choose(1, 4)
    dist <- Gen.oneOf(true, false)
  } yield (toks, width, dist)

  property("graft_shingles == sliding-window model (nulls read as empty string)") =
    Prop.forAll(shingleGen) { case (toks, n, dist) =>
      import spark.implicits._
      graft.plans.ShingleArray.register(spark)
      val got = Seq(Tuple1(toks)).toDF("t")
        .selectExpr(s"graft_shingles(t, $n, $dist) AS g")
        .head().getSeq[String](0).toList
      val words = toks.map(_.getOrElse(""))
      val all = if (words.length < n) Nil
                else words.sliding(n).map(_.mkString(" ")).toList
      val expected = if (dist) all.distinct else all
      Prop(got == expected) :| s"got=$got expected=$expected"
    }

  // ---- BitmapAgg: nulls skipped, exact distinct, named range error -----

  private val bitmapGen: Gen[List[Option[Long]]] = Gen.choose(0, 80).flatMap(n =>
    Gen.listOfN(n, Gen.option(Gen.choose(0L, 200L))))

  property("graft_bitmap_card == COUNT(DISTINCT non-null); all-null group -> 0") =
    Prop.forAll(bitmapGen) { offs =>
      import spark.implicits._
      graft.plans.BitmapAgg.register(spark)
      val card = offs.toDF("off").repartition(4)
        .agg(expr("graft_bitmap_card(off)")).head().getLong(0)
      Prop(card == offs.flatten.distinct.size.toLong) :| s"card=$card"
    }

  property("graft_bitmap_card rejects out-of-domain offsets loudly") =
    Prop.forAll(Gen.oneOf(-1L, 65536L, 1L << 40)) { bad =>
      import spark.implicits._
      graft.plans.BitmapAgg.register(spark)
      val e = Prop.throws(classOf[Throwable]) {
        Seq(bad).toDF("off").agg(expr("graft_bitmap_card(off)")).head()
      }
      e
    }

  // ---- GeoMeanAgg: decomposed buffer == single-pass model --------------

  private val geoGen: Gen[List[(Long, Double)]] = Gen.choose(1, 40).flatMap(n =>
    Gen.listOfN(n, for {
      g <- Gen.choose(0L, 2L)
      v <- Gen.choose(0.1, 100.0)
    } yield (g, v)))

  property("GeoMeanAgg == exp(mean(ln)) per group across partitions") =
    Prop.forAll(geoGen) { rows =>
      import spark.implicits._
      val geo = udaf(graft.plans.GeoMeanAgg, org.apache.spark.sql.Encoders.scalaDouble)
      val got = rows.toDF("g", "v").repartition(4)
        .groupBy(col("g")).agg(geo(col("v")).as("m"))
        .as[(Long, Double)].collect().toMap
      val expected = rows.groupBy(_._1).map { case (g, vs) =>
        g -> math.exp(vs.map(r => math.log(r._2)).sum / vs.size)
      }
      Prop(got.keySet == expected.keySet &&
        got.forall { case (g, m) => math.abs(m - expected(g)) <= 1e-9 * expected(g) })
    }

  // ---- LevenshteinPrefilter: guard rewrite is exactly value-preserving --

  private val levGen: Gen[(List[(Option[String], Option[String])], Int)] = for {
    n <- Gen.choose(0, 30)
    pairs <- Gen.listOfN(n, for {
      a <- Gen.option(Gen.listOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString))
      b <- Gen.option(Gen.listOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    } yield (a, b))
    k <- Gen.choose(0, 4)
  } yield (pairs, k)

  private def editDistance(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  property("levenshtein<=k filter with the prefilter rule == model (NULL operands drop)") =
    Prop.forAll(levGen) { case (pairs, k) =>
      import spark.implicits._
      if (!spark.experimental.extraOptimizations.contains(graft.plans.LevenshteinPrefilter))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ graft.plans.LevenshteinPrefilter
      graft.plans.EditDistance.register(spark)
      val ids = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      // SQL 3VL: a NULL operand makes the predicate UNKNOWN -> row drops
      val expected = ids.collect {
        case (id, Some(a), Some(b)) if editDistance(a, b) <= k => id
      }.toSet
      // Spark's levenshtein and the engine's kernel both gain the guard;
      // an RDD source keeps the filter out of local-relation folding, so
      // the guarded predicate is what actually runs
      Prop.all(Seq("levenshtein", "graft_levenshtein").map { fn =>
        val df = spark.sparkContext.parallelize(ids, 2).toDF("id", "a", "b")
          .filter(expr(s"$fn(a, b) <= $k"))
        val guarded = df.queryExecution.optimizedPlan.toString.contains("abs(")
        val got = df.select(col("id")).as[Long].collect().toSet
        Prop(guarded && got == expected) :| s"$fn: guarded=$guarded got=$got expected=$expected"
      }: _*)
    }

  // ---- asof/band joins: SQL join semantics under NULL keys AND times ---
  // (the class that produced real fixes in r13; these pin the whole
  // contract against brute-force models, including the r14 finding that
  // NULL KEYS must never match — the window's grouping semantics would
  // otherwise pair NULL-key rows)

  private val asofGen: Gen[(List[(Option[Long], Option[Long], Long)],
                            List[(Option[Long], Option[Long], Long)])] = for {
    nl <- Gen.choose(0, 25)
    nr <- Gen.choose(0, 25)
    lrows <- Gen.listOfN(nl, for {
      k <- Gen.option(Gen.choose(0L, 2L)); t <- Gen.option(Gen.choose(0L, 60L))
    } yield (k, t))
    rrows <- Gen.listOfN(nr, for {
      k <- Gen.option(Gen.choose(0L, 2L)); t <- Gen.option(Gen.choose(0L, 60L))
    } yield (k, t))
  } yield (
    lrows.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) },
    // unique (k, t) on the right: equal-time right rows tie
    // non-deterministically in both engines, which is not the contract
    // under test
    rrows.distinctBy(identity).zipWithIndex
      .map { case ((k, t), i) => (k, t, 1000L + i) })

  property("asofJoin == latest-at-or-before model; NULL keys/times never match") =
    Prop.forAll(asofGen) { case (lrows, rrows) =>
      import spark.implicits._
      val left = lrows.toDF("k", "t", "lv")
      val right = rrows.toDF("k", "t", "rv")
      val got = graft.ops.Ops.asofJoin(left, right, Seq("k"), "t", "t")
        .as[(Option[Long], Option[Long], Long, Option[Long])].collect().toSet
      val expected = lrows.map { case (k, lt, lv) =>
        val rv = for {
          kk <- k; t <- lt
          best <- rrows.filter(r => r._1.contains(kk) && r._2.exists(_ <= t))
            .maxByOption(_._2.get)
        } yield best._3
        (k, lt, lv, rv)
      }.toSet
      Prop(got == expected) :| s"got=$got expected=$expected"
    }

  property("asofNearest == nearest-either-side model (backward wins ties); NULL keys/times never match") =
    Prop.forAll(asofGen) { case (lrows, rrows) =>
      import spark.implicits._
      val left = lrows.toDF("k", "t", "lv")
      val right = rrows.toDF("k", "t", "rv")
      val got = graft.ops.Ops.asofNearest(left, right, Seq("k"), "t", "t")
        .as[(Option[Long], Option[Long], Long, Option[Long], Option[Long])]
        .collect().toSet
      val expected = lrows.map { case (k, lt, lv) =>
        val best = for {
          kk <- k; t <- lt
          b <- rrows.filter(r => r._1.contains(kk) && r._2.isDefined)
            // nearest; ties prefer the backward (earlier-or-equal) match
            .minByOption(r => (math.abs(r._2.get - t), if (r._2.get <= t) 0 else 1))
        } yield (b._3, math.abs(b._2.get - t))
        (k, lt, lv, best.map(_._1), best.map(_._2))
      }.toSet
      Prop(got == expected) :| s"got=$got expected=$expected"
    }

  private val bandGen: Gen[(List[(Option[Long], Option[Long], Long)],
                            List[(Option[Long], Option[Long], Long)], Long, Long)] = for {
    (l, r) <- asofGen
    lo <- Gen.choose(0L, 10L)
    hi <- Gen.choose(0L, 10L)
  } yield (l, r, lo, hi)

  property("bandJoin == equi-join + band filter model; NULL keys/times never match") =
    Prop.forAll(bandGen) { case (lrows, rrows, lo, hi) =>
      import spark.implicits._
      val left = lrows.toDF("k", "t", "lv")
      val right = rrows.toDF("rk", "rt", "rv")
      val got = graft.ops.Ops.bandJoin(left, right,
          Seq("k"), Seq("rk"), "t", "rt", lo, hi)
        .as[(Option[Long], Option[Long], Long, Option[Long], Option[Long], Long)]
        .collect().toSet
      // l.t − lo <= r.t <= l.t + hi, non-null keys and times only
      val expected = (for {
        (lk, lt, lv) <- lrows; (rk, rt, rv) <- rrows
        kk <- lk if rk.contains(kk)
        t <- lt; u <- rt
        if t - lo <= u && u <= t + hi
      } yield (lk, lt, lv, rk, rt, rv)).toSet
      Prop(got == expected) :| s"got=$got expected=$expected"
    }

  property("saltedJoin == plain inner join (NULL keys match nothing, salts cancel)") =
    Prop.forAll(asofGen) { case (lrows, rrows) =>
      import spark.implicits._
      val big = lrows.toDF("k", "t", "lv")
      val small = rrows.map { case (k, t, v) => (k, v) }
        .distinctBy(_._1).toDF("k", "rv")
      val got = graft.ops.Ops.saltedJoin(big, small, Seq("k"), saltFactor = 4)
        .as[(Option[Long], Option[Long], Long, Long)].collect().toSet
      val expected = (for {
        (lk, lt, lv) <- lrows; (rk, rv) <- small.as[(Option[Long], Long)].collect()
        kk <- lk if rk.contains(kk)
      } yield (lk, lt, lv, rv)).toSet
      Prop(got == expected) :| s"got=$got expected=$expected"
    }

  // ---- DotProduct: density contract enforced, not prose ----------------

  property("graft_dot throws the named density error on a NULL element") =
    Prop.forAll(Gen.choose(0, 2)) { at =>
      import spark.implicits._
      graft.plans.DotProduct.register(spark)
      val v: Seq[Option[Double]] = Seq(Some(1.0), Some(2.0), Some(3.0))
      val sparse = v.updated(at, Option.empty[Double])
      val caught = try {
        Seq((sparse, v)).toDF("a", "b").selectExpr("graft_dot(a, b)").head()
        None
      } catch { case e: Throwable =>
        Some(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .exists(_.getMessage != null) && Iterator.iterate(e)(_.getCause)
          .takeWhile(_ != null).exists(c =>
            c.getMessage != null && c.getMessage.contains("graft_dot: NULL array element")))
      }
      Prop(caught.contains(true)) :| s"expected named density error, got $caught"
    }

  property("graft_dot throws the named dimension error on a length mismatch") =
    Prop.forAll(Gen.choose(1, 4), Gen.choose(1, 4)) { (la, lb) =>
      import spark.implicits._
      graft.plans.DotProduct.register(spark)
      val a = Seq.tabulate(la)(_.toDouble)
      val b = Seq.tabulate(lb)(i => (i + 1).toDouble)
      val run = try {
        Right(Seq((a, b)).toDF("a", "b").selectExpr("graft_dot(a, b) AS d")
          .head().getDouble(0))
      } catch { case e: Throwable =>
        Left(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(c =>
          c.getMessage != null && c.getMessage.contains("graft_dot: length mismatch")))
      }
      if (la == lb)
        Prop(run == Right(a.zip(b).map { case (x, y) => x * y }.foldLeft(0.0)(_ + _))) :|
          s"equal dims must score: $run"
      else
        Prop(run == Left(true)) :|
          s"mismatched dims must raise the named error, got $run"
    }

  property("graft_dot on dense vectors is unchanged by the null check") =
    Prop.forAll(Gen.listOfN(4, Gen.choose(-3.0, 3.0)),
                Gen.listOfN(4, Gen.choose(-3.0, 3.0))) { (a, b) =>
      import spark.implicits._
      graft.plans.DotProduct.register(spark)
      val got = Seq((a, b)).toDF("a", "b").selectExpr("graft_dot(a, b) AS d")
        .head().getDouble(0)
      val expected = a.zip(b).map { case (x, y) => x * y }
        .foldLeft(0.0)(_ + _)
      Prop(got == expected) :| s"got=$got expected=$expected"
    }
}
