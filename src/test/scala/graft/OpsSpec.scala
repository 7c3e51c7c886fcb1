package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Ops

class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("antiJoin keeps only unseen keys; semiJoin the complement") {
    val incoming = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val loaded = Seq(2, 2, 4).toDF("id")
    assert(Ops.antiJoin(incoming, loaded, Seq("id")).select("id")
      .as[Int].collect().sorted.toSeq == Seq(1, 3))
    assert(Ops.semiJoin(incoming, loaded, Seq("id")).select("id")
      .as[Int].collect().toSeq == Seq(2))
  }

  test("antiJoin gate makes re-loading idempotent (run twice ⇒ same warehouse)") {
    val wh = TestSpark.tempDir("graft_wh").toString + "/t"
    val batch = Seq((1, "x"), (2, "y")).toDF("id", "v")
    batch.write.mode("overwrite").parquet(wh)
    (1 to 2).foreach { _ =>
      Ops.antiJoin(batch, spark.read.parquet(wh), Seq("id"))
        .write.mode("append").parquet(wh)
    }
    assert(spark.read.parquet(wh).count() == 2)
  }

  test("dialectUnion renames and unions; fails loudly on schema drift") {
    val en = Seq((1, "a")).toDF("SOURCE_ID", "STORE_NAME")
    val es = Seq((2, "b")).toDF("ID DE OPERACIÓN EN MERCADO PAGO", "NOMBRE DE LA TIENDA")
    val u = Ops.dialectUnion(en, es, Map(
      "ID DE OPERACIÓN EN MERCADO PAGO" -> "SOURCE_ID",
      "NOMBRE DE LA TIENDA" -> "STORE_NAME"))
    assert(u.columns.toSeq == Seq("SOURCE_ID", "STORE_NAME") && u.count() == 2)
    val broken = Seq((3, "c")).toDF("UNKNOWN", "NOMBRE DE LA TIENDA")
    intercept[Exception] {
      Ops.dialectUnion(en, broken, Map("NOMBRE DE LA TIENDA" -> "STORE_NAME")).collect()
    }
  }

  test("watermarkAfter filters by max(loaded) and falls back when empty") {
    val newData = Seq(("2024-01-01", 1), ("2024-02-01", 2), ("2024-03-01", 3))
      .toDF("d", "id").withColumn("d", to_date($"d"))
    val loaded = Seq("2024-01-15").toDF("d").withColumn("d", to_date($"d"))
    assert(Ops.watermarkAfter(newData, "d", loaded, col("d"), lit(null).cast("date"))
      .select("id").as[Int].collect().sorted.toSeq == Seq(2, 3))
    val empty = loaded.filter(lit(false))
    assert(Ops.watermarkAfter(newData, "d", empty, col("d"),
      to_date(lit("2024-02-15"))).select("id").as[Int].collect().toSeq == Seq(3))
  }

  test("dedupKeepFirst keeps the min-tiebreak row per key") {
    val df = Seq((1, 10L, "a"), (1, 5L, "b"), (2, 7L, "c")).toDF("k", "t", "v")
    val out = Ops.dedupKeepFirst(df, Seq("k"), "t").orderBy("k")
      .as[(Int, Long, String)].collect().toSeq
    assert(out == Seq((1, 5L, "b"), (2, 7L, "c")))
  }

  test("incrementalAgg folded over batches equals aggregating everything at once") {
    val o = graft.schemas.Tables.orders(spark, TestSpark.sf0001)
    val batches = Seq(
      o.filter($"o_orderkey" % 3 === 0), o.filter($"o_orderkey" % 3 === 1),
      o.filter($"o_orderkey" % 3 === 2))
    val maintained = batches.foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
      (prev, b) => Some(Ops.incrementalAgg(prev, b, Seq("o_orderpriority"), "o_totalprice"))
    }.get
    val full = Ops.incrementalAgg(None, o, Seq("o_orderpriority"), "o_totalprice")
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy("o_orderpriority")
        .as[(String, Long, java.math.BigDecimal, Double, Double)].collect().toSeq
        .map { case (k, n, t, mn, mx) => (k, n, t.stripTrailingZeros, mn, mx) }
    assert(key(maintained) == key(full))
  }

  test("asofJoin attaches latest right row at-or-before left time; null when none") {
    val left = Seq((1, 10L, "p1"), (1, 20L, "p2"), (2, 5L, "p3"))
      .toDF("k", "t", "lv")
    val right = Seq((1, 8L, "x"), (1, 15L, "y"), (1, 20L, "z"), (3, 1L, "w"))
      .toDF("k", "t", "rv")
    val out = Ops.asofJoin(left, right, Seq("k"), "t", "t")
      .orderBy("k", "t").as[(Int, Long, String, String)].collect().toSeq
    assert(out == Seq((1, 10L, "p1", "x"), (1, 20L, "p2", "z"), (2, 5L, "p3", null)))
  }

  test("bandJoin (custom operator) equals equi-join + band filter, hot key included") {
    // key 1 is hot (40 x 40 candidate pairs) — the custom sweep must
    // return exactly what the quadratic form returns
    val left = ((1 to 40).map(i => (1L, i.toLong * 10, s"l$i")) ++
      Seq((2L, 100L, "l_a"), (3L, 5L, "l_b"))).toDF("k", "t", "lv")
    val right = ((1 to 40).map(i => (1L, i.toLong * 10 + 3, s"r$i")) ++
      Seq((2L, 130L, "r_a"), (4L, 5L, "r_c"))).toDF("k", "t", "rv")
    val expected = left.join(right.withColumnsRenamed(Map("k" -> "rk", "t" -> "rt")),
        $"k" === $"rk" && abs($"t" - $"rt") <= 25)
      .select($"lv", $"rv").collect().toSet
    val got = Ops.bandJoin(left, right.withColumnsRenamed(Map("k" -> "rk", "t" -> "rt")),
        Seq("k"), Seq("rk"), "t", "rt", delta = 25)
      .select($"lv", $"rv").collect().toSet
    assert(got == expected && got.nonEmpty)
    // empty band
    assert(Ops.bandJoin(left, right.withColumnsRenamed(Map("k" -> "rk", "t" -> "rt")),
      Seq("k"), Seq("rk"), "t", "rt", delta = 0).count() == 0)
    // one-sided window: only right rows AT OR BEFORE the left time
    val r2 = right.withColumnsRenamed(Map("k" -> "rk", "t" -> "rt"))
    val oneSided = Ops.bandJoin(left, r2, Seq("k"), Seq("rk"), "t", "rt",
        lo = 25, hi = 0)
      .select($"lv", $"rv").collect().toSet
    val oneSidedRef = left.join(r2, $"k" === $"rk" &&
        $"rt" >= $"t" - 25 && $"rt" <= $"t")
      .select($"lv", $"rv").collect().toSet
    assert(oneSided == oneSidedRef && oneSided.nonEmpty)
  }

  test("bandJoin emits UnsafeRows bare and NULL keys never match") {
    val left = Seq((Option(1L), 10L, "l1"), (Option.empty[Long], 10L, "lnull"),
      (Option(2L), 5L, "l2")).toDF("k", "t", "lv")
    val right = Seq((Option(1L), 12L, "r1"), (Option.empty[Long], 10L, "rnull"),
      (Option(2L), 50L, "r2")).toDF("rk", "rt", "rv")
    // No projection on top: executeCollect serializes the operator's own
    // output rows, which therefore must be UnsafeRow (ADVICE r4).
    val rows = Ops.bandJoin(left, right, Seq("k"), Seq("rk"), "t", "rt", delta = 25)
      .collect()
    // null == null would pair (lnull, rnull) under natural ordering; SQL
    // equi-join semantics say NULL keys match nothing (ADVICE r4).
    assert(rows.map(r => (r.getString(2), r.getString(5))).toSet == Set(("l1", "r1")))
  }

  test("NULL event times: asofJoin and bandJoin match nothing (SQL comparison semantics)") {
    // a NULL time compares UNKNOWN against every band/asof bound, so SQL
    // semantics demand those rows pair with nothing — left rows surface
    // with a null payload (asof is a left join), right rows vanish
    val left = Seq((1L, Option(10L), "l_t"), (1L, Option.empty[Long], "l_null"))
      .toDF("k", "t", "lv")
    val right = Seq((1L, Option(8L), "r_t"), (1L, Option.empty[Long], "r_null"))
      .toDF("k", "t", "rv")
    val asof = Ops.asofJoin(left, right, Seq("k"), "t", "t")
      .select($"lv", $"rv").as[(String, Option[String])].collect().toMap
    assert(asof == Map("l_t" -> Some("r_t"), "l_null" -> None),
      s"NULL left time must attach no payload; NULL right time must never win: $asof")
    val band = Ops.bandJoin(left,
        right.withColumnsRenamed(Map("k" -> "rk", "t" -> "rt")),
        Seq("k"), Seq("rk"), "t", "rt", delta = 25)
      .select($"lv", $"rv").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(band == Set(("l_t", "r_t")),
      s"NULL times must produce no band pairs: $band")
    val nearest = Ops.asofNearest(left, right, Seq("k"), "t", "t")
      .select($"lv", $"rv", $"dt_ms")
      .as[(String, Option[String], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(nearest == Map("l_t" -> (Some("r_t"), Some(2L)),
      "l_null" -> (None, None)),
      s"nearest: NULL times on either side must never pair: $nearest")
  }

  test("joinDelta folded over batch arrivals reproduces the one-shot join") {
    val a = Seq((1, "p1"), (2, "p2"), (3, "p3")).toDF("k", "av")
    val b = Seq((1, 10.0), (1, 11.0), (2, 20.0), (4, 40.0)).toDF("k", "bv")
    val full = a.join(b, Seq("k")).collect().toSet
    val aBatches = Seq(a.filter($"k" <= 1), a.filter($"k" > 1))
    val bBatches = Seq(b.filter($"bv" >= 15), b.filter($"bv" < 15))
    var (accA, accB) = (a.limit(0), b.limit(0))
    var seen = Set.empty[org.apache.spark.sql.Row]
    aBatches.zip(bBatches).foreach { case (dA, dB) =>
      val delta = Ops.joinDelta(accA, dA, accB, dB, Seq("k")).collect().toSet
      assert(delta.intersect(seen).isEmpty, "delta rows must never repeat")
      seen ++= delta
      accA = accA.unionByName(dA); accB = accB.unionByName(dB)
    }
    assert(seen == full)
  }

  test("asofNearest picks the closer side, ties backward, handles one-sided keys") {
    val left = Seq((1, 10L, "p1"), (1, 16L, "p2"), (2, 5L, "p3"), (3, 7L, "p4"))
      .toDF("k", "t", "lv")
    val right = Seq((1, 8L, "x"), (1, 20L, "y"), (2, 9L, "z"), (4, 1L, "w"))
      .toDF("k", "t", "rv")
    val out = Ops.asofNearest(left, right, Seq("k"), "t", "t")
      .orderBy("k", "t").as[(Int, Long, String, String, java.lang.Long)]
      .collect().toSeq
    assert(out == Seq(
      (1, 10L, "p1", "x", 2L: java.lang.Long),  // back 2 vs fwd 10
      (1, 16L, "p2", "y", 4L: java.lang.Long),  // back 8 vs fwd 4
      (2, 5L, "p3", "z", 4L: java.lang.Long),   // only forward exists
      (3, 7L, "p4", null, null)))               // no right rows for key
    // exact tie goes backward
    val tie = Ops.asofNearest(
        Seq((1, 10L, "p")).toDF("k", "t", "lv"),
        Seq((1, 8L, "b"), (1, 12L, "f")).toDF("k", "t", "rv"),
        Seq("k"), "t", "t")
      .as[(Int, Long, String, String, java.lang.Long)].collect().toSeq
    assert(tie == Seq((1, 10L, "p", "b", 2L: java.lang.Long)))
  }

  test("chunkedCumsum NULL semantics: NULL group is a group, NULL ord is unassessable, no row loss") {
    val L = (x: Long) => java.lang.Long.valueOf(x)
    val nl = null.asInstanceOf[java.lang.Long]
    // groupBy and the windows treat a NULL group as one group; the
    // join-back used to be a plain equi-join, which silently DROPPED
    // every NULL-group row from the output (a NULL `source` document
    // vanished from text_pack_sequences entirely)
    val rows = Seq(
      ("a", L(1L), L(2L)), ("a", L(2L), L(3L)),
      (null, L(1L), L(5L)), (null, L(7L), L(4L)),   // NULL group
      ("a", nl, L(9L))                               // NULL ord
    ).toDF("g", "id", "v")
    val out = Ops.chunkedCumsum(rows, "g", "id", "v", "cum", span = 4L)
      .select($"g", $"id", $"cum")
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(out == Set(
      ("a", Some(1L), Some(2L)), ("a", Some(2L), Some(5L)),
      (null, Some(1L), Some(5L)), (null, Some(7L), Some(9L)),
      // a NULL ord has no position in the order: NULL cumsum, excluded
      // from every running total ("a" still ends at 5, not 14)
      ("a", None, None)))
    // tokenShards inherits the rule: the NULL-ord doc gets a NULL shard
    // and shifts no boundary; NULL-group rows cannot occur (single group)
    val sh = Ops.tokenShards(
        Seq((L(1L), 3L), (nl, 100L), (L(2L), 3L)).toDF("doc_id", "n_tok"),
        "doc_id", "n_tok", budget = 4L)
      .select($"doc_id", $"shard").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(sh == Set((Some(1L), Some(0L)), (Some(2L), Some(0L)), (None, None)))
    // and when maxShards BINDS, the phantom doc's tokens must not consume
    // the capacity plan: 8 real docs × 1 token, budget 1 → 8 shards,
    // capped to 4 → eff 2; a NULL-ord doc with 1000 tokens must not widen
    // eff to 251 (which would collapse every real doc into shard 0)
    val docs = (1L to 8L).map(i => (L(i), 1L)) :+ ((nl, 1000L))
    val capped = Ops.tokenShards(docs.toDF("doc_id", "n_tok"),
        "doc_id", "n_tok", budget = 1L, maxShards = 4)
      .filter($"doc_id".isNotNull).select($"shard").distinct().count()
    assert(capped == 4L,
      "real docs must spread across the capped shard count; phantom tokens must not inflate the budget")
  }
}
