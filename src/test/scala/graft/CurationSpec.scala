package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Similarity, TextDedup}
import graft.queries.Pack

/** Round-9 continuation batch: KS/chi-squared drift tests, dense rerank,
  * hard-negative mining, LSH-verified fuzzy dedup, temperature mixture
  * weights, NDCG eval. Each gets an independent in-test reference
  * (the DuckDB oracle is the driver's check; these pin semantics
  * locally on hand-built inputs). */
class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf0001

  // ------------------------------------------------------------------ KS

  test("stats_ks_test matches a hand-computed ECDF max-gap and pure-integer path") {
    val rows = Pack.byName("stats_ks_test").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    // independent reference: recompute D per event_type from raw events
    val ev = graft.schemas.Tables.events(spark, sf)
      .select($"event_type", ($"user_id" % 2).as("cohort"),
        least(greatest(floor($"value").cast("long"), lit(0L)), lit(99L)).as("bucket"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = ev.groupBy(_._1)
    rows.foreach { r =>
      val et = r.getString(r.fieldIndex("event_type"))
      val xs = byType(et)
      val ref = xs.filter(_._2 == 0L).map(_._3)
      val cur = xs.filter(_._2 == 1L).map(_._3)
      assert(r.getLong(r.fieldIndex("n_ref")) == ref.length.toLong)
      assert(r.getLong(r.fieldIndex("n_cur")) == cur.length.toLong)
      val d = (0L to 99L).map { b =>
        math.abs(ref.count(_ <= b).toLong * cur.length - cur.count(_ <= b).toLong * ref.length)
      }.max
      val expected = math.rint(d.toDouble / (ref.length.toDouble * cur.length) * 1e6) / 1e6
      assert(math.abs(r.getDouble(r.fieldIndex("ks_stat")) - expected) < 1e-9, et)
    }
  }

  test("KS detects an injected location shift and passes identical cohorts") {
    // identical cohorts -> D = 0; shifted cohort -> large D
    def ks(vals0: Seq[Double], vals1: Seq[Double]): (Double, Boolean) = {
      val df = vals0.map(v => (0L, v)) ++ vals1.map(v => (1L, v))
      val d = df.toDF("u", "value")
        .select(lit("t").as("event_type"), $"u".as("user_id"), $"value",
          lit(1L).as("event_id"), lit("x").as("props"),
          current_timestamp().as("ts"))
      // reuse the declared query's arithmetic inline (bucketed integer KS)
      val b = d.select($"event_type", ($"user_id" % 2).as("cohort"),
        least(greatest(floor($"value").cast("long"), lit(0L)), lit(99L)).as("bucket"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      val r0 = b.filter(_._1 == 0L).map(_._2); val r1 = b.filter(_._1 == 1L).map(_._2)
      val dmax = (0L to 99L).map(x =>
        math.abs(r0.count(_ <= x).toLong * r1.length - r1.count(_ <= x).toLong * r0.length)).max
      val stat = dmax.toDouble / (r0.length.toDouble * r1.length)
      (stat, stat > 1.358 * math.sqrt((r0.length + r1.length) / (r0.length.toDouble * r1.length)))
    }
    val base = (0 until 400).map(i => (i % 50).toDouble)
    val (d0, f0) = ks(base, base)
    assert(d0 == 0.0 && !f0)
    val (d1, f1) = ks(base, base.map(_ + 30.0))
    assert(d1 > 0.5 && f1)
  }

  // ---------------------------------------------------------------- chi2

  test("chi-squared is ~0 on an independent table and exact on a hand 2x2") {
    // hand 2x2: O = [[10, 20], [30, 40]]; chi2 = sum (O-E)^2/E
    val o = Seq(("a", 0L, 10L), ("a", 1L, 20L), ("b", 0L, 30L), ("b", 1L, 40L))
    val n = 100.0
    val rt = Map("a" -> 30.0, "b" -> 70.0); val ct = Map(0L -> 40.0, 1L -> 60.0)
    val expected = o.map { case (t, c, obs) =>
      val e = rt(t) * ct(c) / n; (obs - e) * (obs - e) / e
    }.sum
    // reproduce the declared query's arithmetic on the same table shape
    val cells = o.toDF("event_type", "cohort", "o")
    val rtDf = cells.groupBy($"event_type").agg(sum($"o").as("r"))
    val ctDf = cells.groupBy($"cohort").agg(sum($"o").as("c"))
    val nDf = cells.agg(sum($"o").as("n"))
    val e = $"r".cast("double") * $"c" / $"n"
    val chi2 = cells.join(broadcast(rtDf), Seq("event_type"))
      .join(broadcast(ctDf), Seq("cohort")).crossJoin(broadcast(nDf))
      .select((($"o" - e) * ($"o" - e) / e).as("t"))
      .agg(sum($"t")).head.getDouble(0)
    assert(math.abs(chi2 - expected) < 1e-9)
    // declared query on fixture data: chi2 >= 0, V in [0, 1]
    val r = Pack.byName("stats_chi2_independence").fn(spark, sf).head()
    assert(r.getDouble(r.fieldIndex("chi2")) >= 0.0)
    val v = r.getDouble(r.fieldIndex("cramers_v"))
    assert(v >= 0.0 && v <= 1.0)
  }

  // ------------------------------------------------------ hard negatives

  test("hard negatives never share the query's label and match brute-filter reference") {
    val e = graft.schemas.Tables.embeddings(spark, sf)
    val got = Similarity.hardNegativeTopK(e, e.filter($"vec_id" < 5), 3).collect()
    val labels = e.select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    got.foreach { r =>
      val q = r.getLong(r.fieldIndex("qid")); val n = r.getLong(r.fieldIndex("nid"))
      assert(labels(q) != labels(n), s"q=$q n=$n share label")
      assert(labels(n) == r.getInt(r.fieldIndex("neg_label")))
    }
    // reference: full brute top-k with a big k, filtered to label mismatch
    val brute = Similarity.bruteTopK(e, e.filter($"vec_id" < 5), 500).collect()
      .map(r => (r.getLong(r.fieldIndex("qid")), r.getLong(r.fieldIndex("nid")),
        r.getDouble(r.fieldIndex("cos"))))
    val refTop = brute.groupBy(_._1).map { case (q, xs) =>
      q -> xs.filter { case (_, n, _) => labels(n) != labels(q) }
        .sortBy { case (_, n, c) => (-c, n) }.take(3).map(_._2).toSeq
    }
    got.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val ours = rs.sortBy(_.getInt(rs.head.fieldIndex("rank"))).map(_.getLong(rs.head.fieldIndex("nid"))).toSeq
      assert(ours == refTop(q), s"query $q")
    }
  }

  // ------------------------------------------------------------ fuzzy dedup

  test("LSH-verified fuzzy dedup surfaces a near-identical pair with a small distance") {
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok7", "tok7x") // one token edited -> 1 char
    val far = (0 until 40).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, far)).toDF("doc_id", "text")
    val cand = TextDedup.lshCandidatePairs(docs, "doc_id", "text",
      numHashes = 16, rowsPerBand = 4, maxBucketSize = 64)
    val t1 = docs.select($"doc_id".as("d1"), $"text".as("t1"))
    val t2 = docs.select($"doc_id".as("d2"), $"text".as("t2"))
    val v = cand.join(t1, Seq("d1")).join(t2, Seq("d2"))
      .select($"d1", $"d2", levenshtein($"t1", $"t2").as("dist"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(v.contains((1L, 2L)), s"near-dup pair not surfaced: $v")
    assert(v((1L, 2L)) == 1)
    assert(!v.keySet.exists { case (a, b) => a == 3L || b == 3L },
      "unrelated doc should not be a candidate")
  }

  test("declared fuzzy-dedup flags satisfy the integer threshold contract") {
    val rows = Pack.byName("dedup_fuzzy_levenshtein").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dup = r.getBoolean(r.fieldIndex("is_dup"))
      val ok = r.getInt(r.fieldIndex("dist")) * 10 <= r.getInt(r.fieldIndex("len_max"))
      assert(dup == ok)
    }
  }

  // ---------------------------------------------------- temperature mixture

  test("temperature weights sum to 1 and upsample rare sources") {
    val rows = Pack.byName("mixture_temperature_weights").fn(spark, sf).collect()
    assert(rows.length > 1)
    val ps = rows.map(r => (r.getDouble(r.fieldIndex("p_raw")),
      r.getDouble(r.fieldIndex("p_temp")), r.getDouble(r.fieldIndex("up_factor"))))
    assert(math.abs(ps.map(_._2).sum - 1.0) < 1e-4)
    // sqrt flattening: up_factor strictly decreases as p_raw grows
    val sorted = ps.sortBy(_._1)
    sorted.sliding(2).foreach { case Array((p1, _, u1), (p2, _, u2)) =>
      if (p2 > p1) assert(u2 <= u1, s"up_factor must fall with p: $sorted")
    }
    // w ∝ sqrt(p): ratio check on the extremes
    val (pLo, wLo, _) = sorted.head; val (pHi, wHi, _) = sorted.last
    assert(math.abs(wHi / wLo - math.sqrt(pHi / pLo)) < 1e-2)
  }

  // -------------------------------------------------------------- NDCG

  test("NDCG is 1 for a perfect ranking and <1 when a non-relevant doc intrudes") {
    def ndcg(rels: Seq[Int], nRel: Int): Double = {
      val dcg = rels.zipWithIndex.map { case (r, i) => r / (math.log(i + 2) / math.log(2)) }.sum
      val idcg = (1 to math.min(10, nRel)).map(i => 1.0 / (math.log(i + 1) / math.log(2))).sum
      dcg / idcg
    }
    assert(math.abs(ndcg(Seq.fill(10)(1), 100) - 1.0) < 1e-12)
    assert(ndcg(Seq(0, 1, 1, 1, 1, 1, 1, 1, 1, 1), 100) < 1.0)
    val rows = Pack.byName("retrieval_ndcg_eval").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getDouble(r.fieldIndex("ndcg"))
      assert(v >= 0.0 && v <= 1.0 + 1e-9)
    }
  }

  // ---------------------------------------------------------- expectations

  test("dq_expectations: rates are consistent and FK rule matches an independent anti-join") {
    val rows = Pack.byName("dq_expectations").fn(spark, sf).collect()
      .map(r => r.getString(r.fieldIndex("rule")) ->
        (r.getLong(r.fieldIndex("n_checked")), r.getLong(r.fieldIndex("n_failed")),
          r.getDouble(r.fieldIndex("pass_rate")))).toMap
    assert(rows.size == 6)
    rows.foreach { case (rule, (n, f, p)) =>
      assert(f >= 0 && f <= n, rule)
      assert(math.abs(p - math.rint((n - f).toDouble / n * 1e6) / 1e6) < 1e-12, rule)
    }
    // independent FK reference: LEFT ANTI count
    val li = graft.schemas.Tables.lineitem(spark, sf)
    val ord = graft.schemas.Tables.orders(spark, sf)
    val orphans = li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti").count()
    assert(rows("orderkey_fk_orders")._2 == orphans)
    assert(rows("orderkey_fk_orders")._1 == li.count())
  }

  test("dq_expectations flags injected violations (not vacuously green)") {
    // the declared query runs on the (clean) fixture; prove the rule
    // arithmetic catches dirt by replaying it on a dirtied frame
    val dirty = Seq[(java.lang.Double, java.lang.Double)]((5.0, 0.05), (-1.0, 0.05), (3.0, 0.5), (null, 0.02))
      .toDF("l_quantity", "l_discount")
    val agg = dirty.agg(
      sum(when($"l_quantity" <= 0, 1L).otherwise(0L)).as("neg_qty"),
      sum(when($"l_discount" < 0 || $"l_discount" > 0.1, 1L).otherwise(0L)).as("bad_disc"),
      sum(when($"l_quantity".isNull, 1L).otherwise(0L)).as("null_qty")).head
    assert(agg.getLong(0) == 1 && agg.getLong(1) == 1 && agg.getLong(2) == 1)
  }

  // ------------------------------------------------------- rolling anomaly

  test("ts_anomaly_rolling matches a hand-rolled trailing-window reference") {
    val got = Pack.byName("ts_anomaly_rolling").fn(spark, sf).collect()
      .map(r => r.getLong(r.fieldIndex("event_id")) -> r.getDouble(r.fieldIndex("z_score"))).toMap
    // reference: per user, scan the ordered history with an explicit loop
    val ev = graft.schemas.Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = scala.collection.mutable.Map[Long, Double]()
    ev.groupBy(_._2).foreach { case (_, xs) =>
      val h = xs.sortBy(_._1)
      for (i <- h.indices) {
        val frame = h.slice(math.max(0, i - 20), i).map(_._3)
        if (frame.length >= 10) {
          // BigDecimal(2dp) sums mirror the query's DECIMAL(18,2) discipline
          val sv = frame.map(v => BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
          val svv = frame.map { v =>
            val d = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP); d * d
          }.sum.toDouble
          val n = frame.length.toDouble
          val z = (h(i)._3 - sv / n) / math.sqrt((svv - sv / n * sv) / (n - 1))
          if (math.abs(z) > 3) expected(h(i)._1) = math.rint(z * 1e6) / 1e6
        }
      }
    }
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, z) => assert(math.abs(z - expected(id)) < 1e-9, s"event $id") }
  }

  // ------------------------------------------------------- cluster keep-best

  test("dedup_cluster_keep_best keeps the longest member of every cluster") {
    val keep = Pack.byName("dedup_cluster_keep_best").fn(spark, sf).collect()
    assert(keep.nonEmpty)
    // reference members from the cluster summary (same labeling machinery,
    // but the ASSERTION below checks against raw doc lengths)
    val lens = graft.schemas.Tables.documents(spark, sf).filter($"doc_id" < 128)
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    val summary = Pack.byName("dedup_cluster_summary").fn(spark, sf).collect()
      .map(r => r.getLong(r.fieldIndex("cluster_id")) ->
        r.getString(r.fieldIndex("members")).stripPrefix("[").stripSuffix("]")
          .split(",").filter(_.nonEmpty).map(_.trim.toLong).toSeq).toMap
    assert(keep.map(_.getLong(0)).toSet == summary.keySet)
    keep.foreach { r =>
      val cid = r.getLong(r.fieldIndex("cluster_id"))
      val kid = r.getLong(r.fieldIndex("keep_id"))
      val members = summary(cid)
      assert(r.getLong(r.fieldIndex("n_docs")) == members.size.toLong)
      val maxLen = members.map(lens).max
      assert(lens(kid) == maxLen, s"cluster $cid keeps $kid")
      // tie discipline: smallest id among max-length members
      assert(kid == members.filter(m => lens(m) == maxLen).min)
    }
  }

  // --------------------------------------------------- centroid assignment

  test("centroid assignment matches a driver-side argmax for sampled vectors") {
    val got = Pack.byName("emb_centroid_assign_eval").fn(spark, sf).collect()
    val n = got.map(_.getLong(1)).sum
    assert(n == graft.schemas.Tables.embeddings(spark, sf).count())
    got.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_correct")) <= r.getLong(r.fieldIndex("n")))
      val acc = r.getDouble(r.fieldIndex("accuracy"))
      assert(acc >= 0.0 && acc <= 1.0)
    }
    // independent reference: collected centroids, literal argmax per vector
    val e = graft.schemas.Tables.embeddings(spark, sf)
    val cents = e.select($"label", $"embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble)))
      .groupBy(_._1).map { case (l, xs) =>
        val dims = xs.head._2.length
        l -> (0 until dims).map(i =>
          math.rint(xs.map(_._2(i)).sum / xs.length * 1e6) / 1e6)
      }
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val vecs = e.filter($"vec_id" < 20)
      .select($"vec_id", $"label", $"embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(_.toDouble)))
    // per-label accuracy over the sample must agree with a literal argmax
    val refAssign = vecs.map { case (id, _, emb) =>
      id -> cents.toSeq.map { case (l, cv) =>
        (math.rint(dot(emb, cv) * 1e6) / 1e6, l)
      }.maxBy { case (s, l) => (s, -l) }._2
    }.toMap
    // recompute the engine's top-1 for the same sample through the query machinery
    val nd0 = graft.ext.Similarity.nativeDot(_, _)
    val byBucket = graft.ext.Similarity.centroids(e, "label")
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"i", $"mean"))).as("c"))
      .select($"label".as("pb"), transform($"c", x => x.getField("mean")).as("cvec"))
    val engine = e.filter($"vec_id" < 20).crossJoin(broadcast(byBucket))
      .select($"vec_id", $"pb", round(nd0($"embedding", $"cvec"), 6).as("score"))
    val engineTop = graft.ops.Ops.topKPerKey(engine, Seq("vec_id"),
        Seq(("score", true), ("pb", false)), 1)
      .select($"vec_id", $"pb").as[(Long, Int)].collect().toMap
    refAssign.foreach { case (id, l) => assert(engineTop(id) == l, s"vec $id") }
  }

  // --------------------------------------------------------- rolling median

  test("ts_rolling_median matches a hand-rolled discrete median and shrugs off a spike") {
    val got = Pack.byName("ts_rolling_median").fn(spark, sf).collect()
      .map(r => r.getLong(r.fieldIndex("event_id")) -> r.getDouble(r.fieldIndex("roll_med"))).toMap
    val ev = graft.schemas.Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    ev.groupBy(_._2).foreach { case (_, xs) =>
      val h = xs.sortBy(_._1)
      for (i <- h.indices) {
        val frame = h.slice(math.max(0, i - 10), i + 1).map(_._3).sorted
        val expect = frame((frame.length + 1) / 2 - 1) // discrete lower middle
        assert(got(h(i)._1) == expect, s"event ${h(i)._1}")
      }
    }
    // robustness: a 1000x spike in a frame moves the mean but not the median
    val calm = Seq(10.0, 11.0, 9.0, 10.5, 10.0, 10000.0, 9.5, 10.2, 10.8, 9.9, 10.1).sorted
    assert(calm((calm.length + 1) / 2 - 1) < 20.0)
    assert(calm.sum / calm.length > 900.0)
  }

  // ------------------------------------------------------- common neighbors

  test("common-neighbor predictions match a brute-force reference and are all non-edges") {
    // sf0.001's co-purchase graph is the complete K10 (no non-edges) — the
    // declared query legitimately returns 0 rows there; reference-check at
    // sf0.01 where 545 non-edge candidate pairs exist
    val sf01 = "/root/testdata/sf0.01"
    val got = Pack.byName("graph_common_neighbors").fn(spark, sf01).collect()
    assert(got.length == 20)
    // brute-force reference from the same edge definition
    val li = graft.schemas.Tables.lineitem(spark, sf01)
      .filter($"l_orderkey" % 20 === 0).select($"l_orderkey", $"l_suppkey")
      .as[(Long, Long)].collect()
    val edges = li.groupBy(_._1).values.flatMap { grp =>
      val ks = grp.map(_._2).distinct.sorted
      for (i <- ks.indices; j <- (i + 1) until ks.length) yield (ks(i), ks(j))
    }.toSet
    val adj = scala.collection.mutable.Map[Long, Set[Long]]().withDefaultValue(Set())
    edges.foreach { case (u, v) => adj(u) += v; adj(v) += u }
    val nodes = adj.keys.toSeq.sorted
    val cand = for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      u = nodes(i); v = nodes(j)
      if !edges.contains((u, v))
      cn = (adj(u) intersect adj(v)).size if cn > 0
    } yield (u, v, cn.toLong,
      math.rint(cn.toDouble / (adj(u).size + adj(v).size - cn) * 1e6) / 1e6)
    val refTop = cand.sortBy { case (u, v, cn, j) => (-cn, -j, u, v) }.take(20)
    val gotT = got.sortBy(_.getInt(got.head.fieldIndex("rank"))).map(r =>
      (r.getLong(r.fieldIndex("u")), r.getLong(r.fieldIndex("v")),
        r.getLong(r.fieldIndex("cn")), r.getDouble(r.fieldIndex("jaccard"))))
    assert(gotT.toSeq == refTop.toSeq)
    gotT.foreach { case (u, v, _, _) => assert(!edges.contains((u, v)), s"($u,$v) is an edge") }
  }

  // ------------------------------------------------------------------- MMR

  test("MMR diversification matches a greedy reference implementation") {
    val got = Pack.byName("retrieval_mmr_diversify").fn(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(rs.head.fieldIndex("rank")))
          .map(r => (r.getLong(r.fieldIndex("nid")), r.getDouble(r.fieldIndex("mmr")))).toSeq
      }
    assert(got.nonEmpty)
    // reference: greedy MMR over collected 6dp cosines
    val e = graft.schemas.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p * q }
      math.rint(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1e6) / 1e6
    }
    val corpusIds = e.keys.filter(id => id >= 8 && id < 500).toSeq.sorted
    (0L until 8L).filter(e.contains).foreach { q =>
      val rel = corpusIds.map(n => n -> cos(e(q), e(n))).toMap
      val cand = corpusIds.sortBy(n => (-rel(n), n)).take(10)
      val p1 = cand.maxBy(n => (rel(n), -n))
      val p2 = cand.filter(_ != p1)
        .maxBy(n => (0.7 * rel(n) - 0.3 * cos(e(n), e(p1)), -n))
      val s2score = 0.7 * rel(p2) - 0.3 * cos(e(p2), e(p1))
      val p3 = cand.filter(n => n != p1 && n != p2)
        .maxBy(n => (0.7 * rel(n) - 0.3 * math.max(cos(e(n), e(p1)), cos(e(n), e(p2))), -n))
      val s3score = 0.7 * rel(p3) - 0.3 * math.max(cos(e(p3), e(p1)), cos(e(p3), e(p2)))
      val expected = Seq((p1, rel(p1)),
        (p2, math.rint(s2score * 1e6) / 1e6), (p3, math.rint(s3score * 1e6) / 1e6))
      val g = got(q)
      assert(g.map(_._1) == expected.map(_._1), s"query $q picks")
      g.zip(expected).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-9, s"query $q score")
      }
    }
  }

  // ------------------------------------------------------------- freshness

  test("dq_freshness lag is exact epoch arithmetic; the freshest stream lags zero") {
    val rows = Pack.byName("dq_freshness").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val lags = rows.map(r => r.getLong(r.fieldIndex("secs_behind")))
    assert(lags.min == 0L, "one event_type must carry the high-water mark")
    rows.foreach { r =>
      val lag = r.getLong(r.fieldIndex("secs_behind"))
      assert(lag >= 0)
      assert(r.getBoolean(r.fieldIndex("stale")) == (lag > 86400L))
    }
    // independent reference for one type via collected timestamps
    val ref = graft.schemas.Tables.events(spark, sf)
      .groupBy($"event_type").agg(max($"ts").as("t")).collect()
      .map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    val gmax = ref.values.map(_.getTime).max
    rows.foreach { r =>
      val et = r.getString(r.fieldIndex("event_type"))
      val expect = (gmax - ref(et).getTime) / 1000L // millis -> whole seconds
      assert(r.getLong(r.fieldIndex("secs_behind")) == expect, et)
    }
  }

  // ---------------------------------------------------- importance sampling

  test("importance sampling is deterministic md5 and keeps every full-weight doc") {
    val docs = graft.schemas.Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def u16(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(4), 16)
    }
    val ref = docs.groupBy(_._2).map { case (src, xs) =>
      src -> (xs.length.toLong,
        xs.count { case (id, _, nc) => u16(id) * 200 < nc * 65536 }.toLong)
    }
    val got = Pack.byName("sample_importance").fn(spark, sf).collect()
    assert(got.map(_.getString(0)).toSet == ref.keySet)
    got.foreach { r =>
      val (n, k) = ref(r.getString(r.fieldIndex("source")))
      assert(r.getLong(r.fieldIndex("n_docs")) == n)
      assert(r.getLong(r.fieldIndex("n_kept")) == k, r.getString(0))
      // realized rate tracks the expected (weight-mean) rate
      assert(math.abs(r.getDouble(r.fieldIndex("keep_rate")) -
        r.getDouble(r.fieldIndex("expected_rate"))) < 0.25)
    }
    // every doc at or past the full-weight threshold is always kept
    docs.filter(_._3 >= 200).foreach { case (id, _, nc) =>
      assert(u16(id) * 200 < nc * 65536, s"doc $id (n_chars=$nc) must be kept")
    }
  }

  // ------------------------------------------------------ random projection

  test("random projection emits 16 components per vector; self-planes project to norm^2") {
    val rows = Pack.byName("emb_project_rp").fn(spark, sf).collect()
    val n = graft.schemas.Tables.embeddings(spark, sf).count()
    assert(rows.length == n * 16)
    val e = graft.schemas.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    // a plane vector projected onto ITS OWN plane is its squared norm
    rows.filter(r => r.getLong(0) < 16 && r.getLong(0) == r.getLong(1)).foreach { r =>
      val id = r.getLong(0)
      val expect = math.rint(dot(e(id), e(id)) * 1e6) / 1e6
      assert(math.abs(r.getDouble(r.fieldIndex("v")) - expect) < 1e-9, s"vec $id")
    }
    // spot-check arbitrary components against the driver-side fold
    rows.take(50).foreach { r =>
      val expect = math.rint(dot(e(r.getLong(0)), e(r.getLong(1))) * 1e6) / 1e6
      assert(math.abs(r.getDouble(r.fieldIndex("v")) - expect) < 1e-9)
    }
  }

  // ----------------------------------------------------------- state reader

  test("state reader surfaces checkpoint-accumulated state across two incremental runs") {
    import org.apache.spark.sql.types._
    val in = TestSpark.tempDir("cur_st11_in").toString
    val ckpt = TestSpark.tempDir("cur_st11_ck").toString
    val sch = StructType(Seq(StructField("event_id", LongType),
      StructField("event_type", StringType)))
    def run(): Unit = {
      val q = spark.readStream.schema(sch).parquet(in + "/*")
        .groupBy($"event_type").count()
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def state(): Map[String, Long] =
      spark.read.format("statestore").option("path", ckpt).load()
        .select($"key.event_type", $"value.count")
        .as[(String, Long)].collect().toMap
    Seq((1L, "a"), (2L, "a"), (3L, "a")).toDF("event_id", "event_type")
      .coalesce(1).write.parquet(in + "/b1")
    run()
    assert(state() == Map("a" -> 3L))
    Seq((4L, "a"), (5L, "b")).toDF("event_id", "event_type")
      .coalesce(1).write.parquet(in + "/b2")
    run() // same checkpoint: the second run must ACCUMULATE, not restart
    assert(state() == Map("a" -> 4L, "b" -> 1L))
  }

  // ------------------------------------------------------------- autocorr

  test("lag-1 autocorrelation matches a hand loop and is 1 for a constant-increment series") {
    def dec2(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val got = Pack.byName("ts_autocorr_lag1").fn(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val ev = graft.schemas.Tables.events(spark, sf)
      .select($"event_type", $"user_id", $"event_id", $"value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    ev.groupBy(_._1).foreach { case (et, xs) =>
      val pairs = xs.groupBy(_._2).values.flatMap { h =>
        val s = h.sortBy(_._3).map(_._4)
        s.zip(s.drop(1)) // (x = prev, y = next)
      }.toSeq
      val n = pairs.length.toDouble
      val sx = pairs.map(p => dec2(p._1)).sum.toDouble
      val sy = pairs.map(p => dec2(p._2)).sum.toDouble
      val sxx = pairs.map(p => dec2(p._1) * dec2(p._1)).sum.toDouble
      val syy = pairs.map(p => dec2(p._2) * dec2(p._2)).sum.toDouble
      val sxy = pairs.map(p => dec2(p._1) * dec2(p._2)).sum.toDouble
      val expect = math.rint((sxy - sx * sy / n)
        / math.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) * 1e6) / 1e6
      assert(got(et)._1 == pairs.length.toLong, et)
      assert(math.abs(got(et)._2 - expect) < 1e-9, et)
    }
    // sanity: x_t = x_{t-1} + c is perfectly lag-1 correlated
    val s = (1 to 50).map(_.toDouble * 2)
    val pairs = s.zip(s.drop(1))
    val n = pairs.length.toDouble
    val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    val r = (pairs.map(p => p._1 * p._2).sum - sx * sy / n) /
      math.sqrt((pairs.map(p => p._1 * p._1).sum - sx * sx / n)
        * (pairs.map(p => p._2 * p._2).sum - sy * sy / n))
    assert(math.abs(r - 1.0) < 1e-9)
  }

  // ------------------------------------------------------------ cov matrix

  test("covariance matrix matches a decimal-exact hand computation") {
    def dec2(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val li = graft.schemas.Tables.lineitem(spark, sf)
      .select($"l_quantity", $"l_extendedprice", $"l_discount").collect()
      .map(r => (dec2(r.getDouble(0)), dec2(r.getDouble(1)), dec2(r.getDouble(2))))
    val n = li.length.toDouble
    def moments(f: ((BigDecimal, BigDecimal, BigDecimal)) => BigDecimal,
                g: ((BigDecimal, BigDecimal, BigDecimal)) => BigDecimal) =
      (li.map(f).sum.toDouble, li.map(g).sum.toDouble,
        li.map(t => f(t) * f(t)).sum.toDouble, li.map(t => g(t) * g(t)).sum.toDouble,
        li.map(t => f(t) * g(t)).sum.toDouble)
    val expect = Map(
      "quantity_price" -> moments(_._1, _._2),
      "quantity_discount" -> moments(_._1, _._3),
      "price_discount" -> moments(_._2, _._3)
    ).map { case (k, (sx, sy, sxx, syy, sxy)) =>
      k -> (math.rint((sxy - sx * sy / n) / (n - 1) * 1e6) / 1e6,
        math.rint((sxy - sx * sy / n)
          / math.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) * 1e6) / 1e6)
    }
    val got = Pack.byName("stats_cov_matrix").fn(spark, sf).collect()
    assert(got.length == 3)
    got.foreach { r =>
      val (cov, corr) = expect(r.getString(r.fieldIndex("pair")))
      assert(r.getLong(r.fieldIndex("n")) == li.length.toLong)
      assert(math.abs(r.getDouble(r.fieldIndex("cov")) - cov) < 1e-9, r.getString(0))
      assert(math.abs(r.getDouble(r.fieldIndex("corr")) - corr) < 1e-9, r.getString(0))
      assert(math.abs(r.getDouble(r.fieldIndex("corr"))) <= 1.0 + 1e-9)
    }
  }

  // ----------------------------------------------------------------- TWAP

  test("TWAP matches a hand interval-weighted mean per user") {
    def dec2(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val got = Pack.byName("window_twap").fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val ev = graft.schemas.Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"value", unix_micros($"ts").as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    ev.groupBy(_._1).foreach { case (u, xs) =>
      val h = xs.sortBy(_._2)
      val iv = h.zip(h.drop(1)).map { case ((_, _, v, t0), (_, _, _, t1)) =>
        (v, math.floorDiv(t1 - t0, 1000000L)) }
      val secs = iv.map(_._2).sum
      if (secs > 0) {
        val wsum = iv.map { case (v, dt) => dec2(v) * BigDecimal(dt) }.sum.toDouble
        val (n, ts, twap) = got(u)
        assert(n == iv.length.toLong, s"user $u")
        assert(ts == secs, s"user $u")
        assert(math.abs(twap - math.rint(wsum / secs * 1e6) / 1e6) < 1e-9, s"user $u")
      } else assert(!got.contains(u))
    }
    // a constant series has TWAP equal to the constant regardless of spacing
    val iv = Seq((7.5, 10L), (7.5, 9000L), (7.5, 1L))
    val tw = iv.map { case (v, dt) => v * dt }.sum / iv.map(_._2).sum
    assert(math.abs(tw - 7.5) < 1e-12)
  }

  // -------------------------------------------------------------- keywords

  test("keyword extraction ranks match a driver-side TF-IDF reference for sampled docs") {
    val got = Pack.byName("text_keywords_topk").fn(spark, sf).collect()
      .groupBy(_.getLong(0))
    val docs = graft.schemas.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val total = docs.length.toDouble
    val tf = docs.map { case (id, t) =>
      id -> t.split(" ").groupBy(identity).map { case (w, xs) => w -> xs.length } }.toMap
    val df = docs.flatMap { case (_, t) => t.split(" ").distinct }
      .groupBy(identity).map { case (w, xs) => w -> xs.length }
    docs.take(25).foreach { case (id, _) =>
      val scored = tf(id).map { case (w, f) =>
        w -> math.rint(f * math.log((total + 1.0) / (df(w) + 1.0)) * 1e6) / 1e6 }
      val ref = scored.toSeq.sortBy { case (w, s) => (-s, w) }.take(5).map(_._1)
      val ours = got(id).sortBy(_.getInt(got(id).head.fieldIndex("rank")))
        .map(_.getString(got(id).head.fieldIndex("w"))).toSeq
      assert(ours == ref, s"doc $id")
    }
    // every doc in the corpus got keywords
    assert(got.size == docs.length)
  }

  // ------------------------------------------------------- embedding outliers

  test("embedding outlier flags equal the recomputed mean+2-sigma threshold per label") {
    val rows = Pack.byName("emb_outlier_centroid_dist").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.length == graft.schemas.Tables.embeddings(spark, sf).count())
    rows.groupBy(_._2).foreach { case (label, xs) =>
      // recompute the threshold from the REPORTED (6dp) distances — the
      // flag itself was computed on unrounded dists, so allow the
      // threshold tolerance of the rounding
      val n = xs.length.toDouble
      val sd = xs.map(_._3).sum; val sdd = xs.map(x => x._3 * x._3).sum
      val thr = sd / n + 2 * math.sqrt((sdd - sd / n * sd) / (n - 1))
      xs.foreach { case (id, _, dist, flag) =>
        if (math.abs(dist - thr) > 1e-4)
          assert(flag == (dist > thr), s"vec $id (label $label)")
      }
      // sanity: 2-sigma flags a small minority
      assert(xs.count(_._4).toDouble / n < 0.2, s"label $label")
    }
  }

  // ------------------------------------------------------------------ CUSUM

  test("CUSUM matches a hand loop on the fixture and localizes an injected mean shift") {
    def dec2(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val got = Pack.byName("ts_cusum_drift").fn(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getTimestamp(1), r.getDouble(2))).toMap
    val ev = graft.schemas.Tables.events(spark, sf)
      .select($"event_type", date_trunc("hour", $"ts").as("h"), $"value").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    ev.groupBy(_._1).foreach { case (et, xs) =>
      val buckets = xs.groupBy(_._2).map { case (h, ys) =>
        (h, ys.length.toLong, ys.map(y => dec2(y._3)).sum.toDouble)
      }.toSeq.sortBy(_._1.getTime)
      val tot = buckets.map(_._2).sum.toDouble
      val gsv = buckets.map(b => BigDecimal(b._3).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      val mean = gsv / tot
      // terms are 1e6-quantized BEFORE the running sum (the query's
      // rule-0 order-free discipline) — mirror it exactly
      var s = BigDecimal(0)
      var best: (java.sql.Timestamp, BigDecimal) = null
      buckets.foreach { case (h, n, sv) =>
        s += BigDecimal(math.floor((sv - n * mean) * 1e6 + 0.5)) / BigDecimal(1000000)
        if (best == null || s.abs > best._2.abs) best = (h, s)
      }
      assert(got(et)._1 == best._1, et)
      assert(math.abs(got(et)._2 - (math.rint(best._2.toDouble * 1e6) / 1e6)) < 1e-6, et)
    }
    // synthetic: a level shift at bucket 10 of 20 peaks the CUSUM there
    val series = (0 until 20).map(i => if (i < 10) 5.0 else 15.0)
    val m = series.sum / series.length
    val cusum = series.scanLeft(0.0)(_ + _ - m).drop(1)
    assert(cusum.zipWithIndex.maxBy { case (v, _) => math.abs(v) }._2 == 9)
  }

  // -------------------------------------------------------------------- PRF

  test("PRF expansion terms exclude query terms and scores are exact overlap counts") {
    val docs = graft.schemas.Tables.documents(spark, sf)
      .filter($"doc_id" < 500).select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ").distinct.toSet }.toMap
    // hand re-derivation of the full pipeline
    def jac(a: Set[String], b: Set[String]) =
      a.intersect(b).size.toDouble / (a.size + b.size - a.intersect(b).size)
    val corpus = docs.keys.filter(_ >= 8).toSeq.sorted
    val expect = docs.keys.filter(_ < 8).toSeq.sorted.flatMap { q =>
      val fb = corpus.filter(n => docs(q).intersect(docs(n)).nonEmpty)
        .sortBy(n => (-jac(docs(q), docs(n)), n)).take(3)
      val terms = fb.flatMap(n => docs(n).toSeq).filterNot(docs(q))
        .groupBy(identity).map { case (w, xs) => (w, xs.length) }
      val exp5 = terms.toSeq.sortBy { case (w, c) => (-c, w) }.take(5).map(_._1).toSet
      if (exp5.isEmpty) Seq()
      else corpus.map(n => (q, n, docs(n).intersect(exp5).size))
        .filter(_._3 > 0).sortBy { case (_, n, s) => (-s, n) }.take(5)
        .zipWithIndex.map { case ((qq, n, s), i) => (qq, n, s.toLong, i + 1) }
    }
    val got = Pack.byName("retrieval_prf_expansion").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.sortBy(g => (g._1, g._4)).toSeq == expect.sortBy(g => (g._1, g._4)))
  }

  // ---------------------------------------------------------------- Benford

  test("Benford digit extraction is exact on hand amounts and counts sum to the table") {
    // integer-cents first-digit reference, incl. sub-1 amounts
    val cases = Seq(123.45 -> 1, 0.05 -> 5, 999.99 -> 9, 20.00 -> 2, 0.37 -> 3)
    cases.foreach { case (v, d) =>
      val cents = math.floor(v * 100 + 0.5).toLong
      assert(cents.toString.head.asDigit == d, s"$v")
    }
    val rows = Pack.byName("stats_benford_digits").fn(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 9))
    val total = graft.schemas.Tables.lineitem(spark, sf)
      .filter($"l_extendedprice" > 0).count()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      val d = r.getInt(0)
      val expP = math.rint(math.log(1 + 1.0 / d) / math.log(10) * 1e6) / 1e6
      assert(math.abs(r.getDouble(r.fieldIndex("exp_p")) - expP) < 1e-9)
    }
    // obs probabilities sum to 1
    assert(math.abs(rows.map(_.getDouble(rows.head.fieldIndex("obs_p"))).sum - 1.0) < 1e-4)
  }

  // ------------------------------------------------------------ seasonality

  test("hour-of-day profile matches a hand histogram; concentration is 1 for uniform") {
    val got = Pack.byName("ts_seasonality_hod").fn(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getLong(2), r.getDouble(4))).toMap
    val ev = graft.schemas.Tables.events(spark, sf)
      .select($"event_type", hour($"ts").as("hod")).collect()
      .map(r => (r.getString(0), r.getInt(1)))
    ev.groupBy(_._1).foreach { case (et, xs) =>
      val hist = xs.groupBy(_._2).map { case (h, ys) => h -> ys.length }
      val mx = hist.values.max
      val peak = hist.filter(_._2 == mx).keys.min
      val (gPeak, gN, gConc) = got(et)
      assert(gPeak == peak, et)
      assert(gN == xs.length.toLong, et)
      assert(math.abs(gConc - math.rint(mx.toDouble * 24 / xs.length * 1e6) / 1e6) < 1e-9, et)
    }
    // uniform 24-hour activity has concentration exactly 1
    val uniform = (0 until 24).map(_ -> 10)
    assert(uniform.map(_._2).max.toDouble * 24 / uniform.map(_._2).sum == 1.0)
  }

  test("stats_quantile_binned brackets the exact percentile within one bin width") {
    val rows = Pack.byName("stats_quantile_binned").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val prices = graft.schemas.Tables.lineitem(spark, sf)
      .select($"l_returnflag", $"l_extendedprice")
      .as[(String, Double)].collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    rows.foreach { r =>
      val g = r.getString(r.fieldIndex("l_returnflag"))
      val xs = prices(g)
      assert(r.getLong(r.fieldIndex("n")) == xs.length.toLong)
      for ((colName, q) <- Seq(("p50_lo", 0.50), ("p95_lo", 0.95), ("p99_lo", 0.99))) {
        val exact = xs((math.ceil(q * xs.length) - 1).toInt.max(0)) // q-th order statistic
        val lo = r.getLong(r.fieldIndex(colName)).toDouble
        assert(lo <= exact && exact < lo + 100, s"$g.$colName: bin [$lo,${lo + 100}) vs exact $exact")
      }
    }
  }

  test("sample_balance_sources: min source keeps all, accept is the integer cross-multiply") {
    val rows = Pack.byName("sample_balance_sources").fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val nmin = rows.map(_._2).min
    assert(rows.forall(_._3 == nmin)) // one global target for every source
    // a source already at the target accepts every doc (u16 < 65536 always)
    rows.filter(_._2 == nmin).foreach { case (_, n, _, kept) => assert(kept == n) }
    // independent accept reference for one source
    val docs = graft.schemas.Tables.documents(spark, sf)
      .select($"source", $"doc_id").as[(String, Long)].collect()
    val (src, n, _, kept) = rows.maxBy(_._2)
    val md = java.security.MessageDigest.getInstance("MD5")
    val ref = docs.filter(_._1 == src).count { case (_, id) =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
      java.lang.Long.parseLong(hex, 16) * n < 65536L * nmin
    }
    assert(kept == ref.toLong)
  }
}
