package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Warehouse
import graft.ops.Ops
import graft.plans.GraftExtensions

/** The explicit scale tools: salted skew join, bucketed warehouse layout,
  * custom-function registration. */
class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedJoin equals the plain inner join under heavy key skew") {
    // 10k rows all sharing one hot key + a uniform tail
    val big = (1 to 10000).map(i => (if (i % 2 == 0) 1L else i.toLong, i))
      .toDF("k", "v")
    val small = Seq((1L, "hot"), (3L, "cold"), (5L, "cold")).toDF("k", "tag")
    val plain = big.join(small, Seq("k")).agg(count(lit(1)), sum($"v")).head()
    val salted = Ops.saltedJoin(big, small, Seq("k")).agg(count(lit(1)), sum($"v")).head()
    assert(salted == plain)
  }

  test("bucketed warehouse tables join without exchanging the bucketed side") {
    val loc1 = TestSpark.tempDir("graft_b1").toString
    val loc2 = TestSpark.tempDir("graft_b2").toString
    spark.sql("DROP TABLE IF EXISTS wh_orders_b")
    spark.sql("DROP TABLE IF EXISTS wh_items_b")
    val o = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "o")
    val i = Seq((1L, 10.0), (1L, 11.0), (3L, 30.0)).toDF("k", "amt")
    Warehouse.appendBucketed(o, "wh_orders_b", "k", 4, Some(loc1))
    Warehouse.appendBucketed(i, "wh_items_b", "k", 4, Some(loc2))
    val joined = spark.table("wh_orders_b").join(spark.table("wh_items_b"), Seq("k"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle either side:\n$plan")
    assert(joined.count() == 3)
    spark.sql("DROP TABLE wh_orders_b")
    spark.sql("DROP TABLE wh_items_b")
  }

  test("graft_dot is callable from SQL after registration; extension class applies cleanly") {
    val v = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(v == 11.0)
    // extension wiring for fresh sessions (spark.sql.extensions path):
    // all three native functions must inject without error
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("graft_shingles is callable from SQL; literal-argument contract enforced") {
    val r = spark.sql(
      """SELECT graft_shingles(split('a b a b c', ' '), 2, true) AS d,
        |       graft_shingles(split('a b a', ' '), 2, false) AS p""".stripMargin)
      .as[(Seq[String], Seq[String])].head()
    assert(r._1 == Seq("a b", "b a", "b c"))
    assert(r._2 == Seq("a b", "b a"))
    // n must be a literal — it selects the compiled loop
    val err = intercept[Exception] {
      spark.sql("SELECT graft_shingles(array('a'), CAST(length('xx') AS INT), true)").collect()
    }
    assert(err.getMessage.contains("INT literal"))
  }

  test("graft_minhash typed aggregate equals the wide groupBy signature form") {
    val docs = Seq((0L, "the quick brown fox"), (1L, "spark parquet engines"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("mh_docs")
    val agg = spark.sql(
      """SELECT doc_id, graft_minhash(array_distinct(split(text, ' '))) AS sig
        |FROM mh_docs GROUP BY doc_id""".stripMargin)
      .as[(Long, Seq[String])].collect().toMap
    val wide = graft.ext.TextDedup.minhashSignatures(docs, "doc_id", "text", 16)
    val wideMap = wide.collect().map(r =>
      r.getLong(0) -> (1 to 16).map(i => r.getString(i)).toSeq).toMap
    assert(agg == wideMap)
  }

  test("graft_bitmap_card equals exact count(DISTINCT) and is partition-shape-proof") {
    // ids crafted to span segments and repeat across partitions
    val ids = (0L until 500L).flatMap(i => Seq(i * 131L % 200000L)) ++
      (0L until 300L).map(i => i * 131L % 200000L) // repeats
    val df = ids.map(id => (id % 3, id)).toDF("k", "id")
    def bitmapCount(parts: Int): Map[Long, Long] = df.repartition(parts)
      .selectExpr("k", "id >> 16 AS seg", "id & 65535 AS off")
      .groupBy($"k", $"seg").agg(expr("graft_bitmap_card(off)").as("c"))
      .groupBy($"k").agg(sum($"c").as("n"))
      .as[(Long, Long)].collect().toMap
    val exact = df.groupBy($"k").agg(countDistinct($"id").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(bitmapCount(1) == exact, "single-partition bitmap must be exact")
    assert(bitmapCount(7) == exact, "OR-merge across partitions must be exact")
    // nulls are skipped INSIDE the aggregate, matching COUNT DISTINCT —
    // no pre-filter: the null id flows through as a null offset and must
    // exercise update()'s skip branch, not be removed before it
    val withNull = Seq((0L, Some(1L)), (0L, None), (0L, Some(1L))).toDF("k", "id")
    val n = withNull
      .selectExpr("k", "id >> 16 AS seg", "id & 65535 AS off")
      .groupBy($"k", $"seg").agg(expr("graft_bitmap_card(off)").as("c"))
      .agg(sum($"c")).as[Long].head()
    assert(n == 1L)
    // an out-of-range offset fails loudly — never a silently-wrong count
    val e = intercept[org.apache.spark.SparkException] {
      Seq(70000L).toDF("off").selectExpr("graft_bitmap_card(off)").collect()
    }
    assert(e.getMessage.contains("graft_bitmap_card") ||
      Option(e.getCause).exists(_.getMessage.contains("graft_bitmap_card")))
  }

  test("graft_parse_ticket generator equals the typed-flatMap parser via LATERAL VIEW") {
    val text = graft.parsers.TicketParser.render(42L, "05/03/24", 100.0, Seq(
      ("Bebidas", "Agua", 2L, 0.0, 850.50, 1701.00),
      ("Carniceria", "Lomo", 1L, 1.25, 8000.00, 10000.00)))
    Seq(text).toDF("text").createOrReplaceTempView("gen_tickets")
    val viaSql = spark.sql(
      "SELECT t.* FROM gen_tickets LATERAL VIEW graft_parse_ticket(text) t")
      .collect().map(_.toSeq).toSeq
    val direct = graft.parsers.TicketParser.parse(text)
      .map(i => Seq(i.nro_ticket, i.fecha, i.categ, i.prod, i.cant, i.peso,
        i.p_unit, i.p_total, i.total_ticket_bruto, i.total_ticket_meli))
    assert(viaSql == direct && direct.size == 2)
  }

  test("partitioned warehouse prunes partitions at the scan") {
    val loc = TestSpark.tempDir("graft_part").toString + "/t"
    val o = graft.schemas.Tables.orders(spark, TestSpark.sf0001)
      .withColumn("month", date_format($"o_orderdate", "yyyy-MM"))
    graft.io.Warehouse.appendPartitioned(o, loc, Seq("month"))
    val read = spark.read.parquet(loc).filter($"month" === "1995-03")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(month"),
      s"month filter must prune partitions, not scan rows:\n$plan")
    val expected = o.filter($"month" === "1995-03").count()
    assert(read.count() == expected && expected > 0)
  }

  test("dynamic partition overwrite replaces only the backfilled partition") {
    val loc = TestSpark.tempDir("graft_dynpart").toString + "/t"
    val o = graft.schemas.Tables.orders(spark, TestSpark.sf0001)
      .withColumn("month", date_format($"o_orderdate", "yyyy-MM"))
      .select($"o_orderkey", $"o_totalprice", $"month")
    graft.io.Warehouse.appendPartitioned(o, loc, Seq("month"))
    val before = spark.read.parquet(loc)
    val othersBefore = before.filter($"month" =!= "1995-03").count()
    val marchBefore = before.filter($"month" === "1995-03").count()
    assert(marchBefore > 0 && othersBefore > 0, "fixture needs both partitions")
    // backfill March with a corrected (halved) slice
    val fix = o.filter($"month" === "1995-03" && $"o_orderkey" % 2 === 0)
      .withColumn("o_totalprice", $"o_totalprice" * 2)
    graft.io.Warehouse.overwritePartitions(fix, loc, Seq("month"))
    val after = spark.read.parquet(loc)
    assert(after.filter($"month" =!= "1995-03").count() == othersBefore,
      "untouched partitions must survive the overwrite")
    assert(after.filter($"month" === "1995-03").count() == fix.count(),
      "the backfilled partition must contain exactly the new rows")
  }

  test("antiJoinLarge plans a shuffled anti-join when broadcast is off (big-key-set path)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val big = spark.range(1000).toDF("id")
      val loaded = spark.range(0, 1000, 2).toDF("id")
      val gated = graft.ops.Ops.antiJoinLarge(big, loaded, Seq("id"))
      gated.count()
      val plan = gated.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti") && !plan.contains("BroadcastHashJoin"),
        s"must fall back to a shuffled anti-join:\n$plan")
      assert(gated.count() == 500)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("count-min sketch overestimates-only within eps·N of exact frequencies") {
    val ev = graft.schemas.Tables.events(spark, TestSpark.sf0001)
    val cms = ev.stat.countMinSketch($"event_type", eps = 0.01, confidence = 0.99, seed = 42)
    val total = ev.count()
    val exact = ev.groupBy($"event_type").count()
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) =>
      val est = cms.estimateCount(k)
      assert(est >= n, s"CMS never underestimates: $k est=$est exact=$n")
      assert(est <= n + (0.01 * total).toLong + 1,
        s"CMS error bound: $k est=$est exact=$n total=$total")
    }
  }

  test("approx_percentile tracks the exact interpolated percentile (sketch beside exact)") {
    // the quantile-sketch analog of the HLL-beside-exact pattern: the
    // sketch has no cross-engine oracle, so the suite bounds its error
    // against the exact percentile instead
    val o = graft.schemas.Tables.orders(spark, TestSpark.sf0001)
    val r = o.agg(
      expr("percentile(o_totalprice, 0.5)").as("exact"),
      expr("approx_percentile(o_totalprice, 0.5, 1000)").as("approx")).head()
    val (exact, approx) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.05,
      s"sketch median $approx must sit within 5% of exact $exact")
  }

  test("compaction rewrites many small files into few, preserving data exactly") {
    val loc = TestSpark.tempDir("graft_compact").toString + "/t"
    val o = graft.schemas.Tables.orders(spark, TestSpark.sf0001)
    o.repartition(20).write.parquet(loc)
    o.limit(0).repartition(20).write.mode("append").parquet(loc) // empty-file debris
    def files() = new java.io.File(loc).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files() >= 20)
    val before = spark.read.parquet(loc)
      .agg(count(lit(1)), sum($"o_totalprice".cast("decimal(18,2)"))).head()
    graft.io.Warehouse.compact(spark, loc, targetFiles = 4)
    assert(files() <= 4, s"compaction must hit the target file count, got ${files()}")
    val after = spark.read.parquet(loc)
      .agg(count(lit(1)), sum($"o_totalprice".cast("decimal(18,2)"))).head()
    assert(before == after, "compaction must not change the data")
  }

  test("compaction torn between the two swap renames (table only at __precompact) " +
       "is recovered by the next run, not failed or lost") {
    val loc = TestSpark.tempDir("graft_compact_torn").toString + "/t"
    val o = graft.schemas.Tables.orders(spark, TestSpark.sf0001)
    o.repartition(8).write.parquet(loc)
    val before = spark.read.parquet(loc)
      .agg(count(lit(1)), sum($"o_totalprice".cast("decimal(18,2)"))).head()
    // Simulate a crash between rename(dir->bak) and rename(staged->dir):
    // the table's only copy sits at __precompact, plus stale staging.
    val dir = new org.apache.hadoop.fs.Path(loc)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(dir, new org.apache.hadoop.fs.Path(loc + "__precompact")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(loc + "__compacting"))
    graft.io.Warehouse.compact(spark, loc, targetFiles = 4)
    val after = spark.read.parquet(loc)
      .agg(count(lit(1)), sum($"o_totalprice".cast("decimal(18,2)"))).head()
    assert(before == after, "torn-swap recovery must preserve the table exactly")
    def files() = new java.io.File(loc).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files() <= 4)
  }

  test("topKPerKey custom operator equals the window form; plans heap, not sort") {
    val ev = graft.schemas.Tables.events(spark, TestSpark.sf0001)
      .select($"event_id", $"user_id", $"value")
    val topk = Ops.topKPerKey(ev, Seq("user_id"), Seq(("value", true), ("event_id", false)), 3)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"value".desc, $"event_id")
    val win = ev.withColumn("rn", row_number().over(w)).filter($"rn" <= 3).drop("rn")
    assert(topk.collect().toSet == win.collect().toSet,
      "custom operator must match the window row_number form exactly")
    val p = topk.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), s"custom exec node must appear:\n$p")
    assert(p.contains("Exchange hashpartitioning"), "keys must co-locate via one exchange")
    assert(!p.contains("Window") && !p.contains("Sort "),
      s"no window and no partition sort may remain:\n$p")
    // SQL metrics report like any built-in operator (driver-side metric
    // updates arrive via listener events — poll briefly)
    def find(p: org.apache.spark.sql.execution.SparkPlan): Option[graft.plans.TopKPerKeyExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          find(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => find(s.plan)
        case t: graft.plans.TopKPerKeyExec => Some(t)
        case other => other.children.iterator.map(find).collectFirst { case Some(t) => t }
      }
    val exec = find(topk.queryExecution.executedPlan).get
    val expectRows = win.count()
    val expectKeys = ev.select("user_id").distinct().count()
    val deadline = System.currentTimeMillis() + 10000
    while (exec.metrics("numOutputRows").value != expectRows &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(exec.metrics("numOutputRows").value == expectRows,
      "operator metric must count emitted rows")
    assert(exec.metrics("numKeys").value == expectKeys,
      "operator metric must count keys")
  }

  test("topKPerKey edges: empty input, k larger than groups, null sort values") {
    val empty = Seq.empty[(Long, Long, java.lang.Double)].toDF("id", "key", "score")
    assert(graft.ops.Ops.topKPerKey(empty, Seq("key"),
      Seq(("score", true), ("id", false)), 3).count() == 0)

    // nulls in the sort column must order exactly as the window form does
    val withNulls = Seq[(Long, Long, java.lang.Double)](
      (1L, 0L, 5.0), (2L, 0L, null), (3L, 0L, 7.0), (4L, 0L, null), (5L, 0L, 1.0),
      (6L, 1L, null), (7L, 1L, 2.0)
    ).toDF("id", "key", "score")
    val topk = graft.ops.Ops.topKPerKey(withNulls, Seq("key"),
      Seq(("score", true), ("id", false)), 10) // k > every group size
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"key").orderBy($"score".desc, $"id")
    val win = withNulls.withColumn("rn", row_number().over(w)).filter($"rn" <= 10).drop("rn")
    assert(topk.collect().toSet == win.collect().toSet)
    assert(topk.count() == 7, "k beyond group size keeps every row")
  }

  test("persisted centroids serve multiprobe ANN identically to the inline training pass") {
    val loc = TestSpark.tempDir("graft_cents").toString + "/t"
    val e = graft.schemas.Tables.embeddings(spark, TestSpark.sf0001)
    val q = e.filter($"vec_id" < 10)
    // train once, persist to the warehouse, reload — then serve from the table
    graft.ext.Similarity.centroids(e, "label").write.parquet(loc)
    val reloaded = Warehouse.read(spark, loc)
    val fromTable = graft.ext.Similarity
      .ivfMultiProbeTopK(e, q, reloaded, "label", k = 3, nprobe = 2)
      .orderBy($"qid", $"rank").collect().toSeq
    val inline = graft.ext.Similarity
      .ivfMultiProbeTopK(e, q, "label", k = 3, nprobe = 2)
      .orderBy($"qid", $"rank").collect().toSeq
    assert(fromTable == inline, "persisted-centroid serving must equal inline training")
    assert(fromTable.nonEmpty)
  }

  test("dynamic partition pruning: a filtered dim prunes the partitioned fact at runtime") {
    val loc = TestSpark.tempDir("graft_dpp").toString + "/fact"
    val o = graft.schemas.Tables.orders(spark, TestSpark.sf0001)
      .withColumn("month", date_format($"o_orderdate", "yyyy-MM"))
    o.write.partitionBy("month").parquet(loc)
    val fact = spark.read.parquet(loc)
    val target = o.select($"month").orderBy($"month").head().getString(0)
    // dim must be a real (non-local) relation with a surviving selective
    // filter, or the PartitionPruning rule sees nothing to propagate
    val dimLoc = TestSpark.tempDir("graft_dpp").toString + "/dim"
    Seq((target, "t"), ("9999-99", "x")).toDF("month", "tag").write.parquet(dimLoc)
    val dim = spark.read.parquet(dimLoc).filter($"tag" === "t")
    val joined = fact.join(dim, Seq("month"))
    val n = joined.count()
    assert(n == o.filter($"month" === target).count())
    val p = joined.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"fact scan must carry a dynamic pruning predicate on month:\n$p")
  }

  test("z-ordered write prunes candidate files on both keys (2-D data skipping)") {
    val o = graft.schemas.Tables.orders(spark, TestSpark.sf0001)
      .select($"o_orderkey", $"o_custkey")
    val zLoc = TestSpark.tempDir("graft_z").toString + "/t"
    val rLoc = TestSpark.tempDir("graft_z").toString + "/r"
    Warehouse.appendZOrdered(o, zLoc, "o_orderkey", "o_custkey", 16)
    o.repartition(16).write.parquet(rLoc) // hash layout: no locality at all
    def candidates(loc: String, kBox: Long, cBox: Long) =
      new java.io.File(loc).listFiles().filter(_.getName.endsWith(".parquet")).count { f =>
        val r = spark.read.parquet(f.toString)
          .agg(min($"o_orderkey"), min($"o_custkey")).head()
        r.getLong(0) <= kBox && r.getLong(1) <= cBox // file range intersects the box
      }
    val bounds = o.agg(max($"o_orderkey"), max($"o_custkey")).head()
    val (kBox, cBox) = (bounds.getLong(0) / 4, bounds.getLong(1) / 4)
    val zHit = candidates(zLoc, kBox, cBox)
    val rHit = candidates(rLoc, kBox, cBox)
    assert(rHit == 16, "hash layout must leave every file a candidate")
    assert(zHit <= 8, s"z-order must exclude most files for a 2-D box, hit $zHit/16")
    // layout must not change the data
    assert(spark.read.parquet(zLoc).count() == o.count())
  }

  test("z-ordered write: empty input is a no-op, all-NULL key fails loudly") {
    val o = graft.schemas.Tables.orders(spark, TestSpark.sf0001)
      .select($"o_orderkey", $"o_custkey")
    val loc = TestSpark.tempDir("graft_z").toString + "/t"
    Warehouse.appendZOrdered(o.filter(lit(false)), loc, "o_orderkey", "o_custkey", 4)
    assert(!new java.io.File(loc).exists(), "empty input writes nothing")
    val allNull = o.withColumn("o_custkey", lit(null).cast("long"))
    val e = intercept[IllegalArgumentException] {
      Warehouse.appendZOrdered(allNull, loc, "o_orderkey", "o_custkey", 4)
    }
    assert(e.getMessage.contains("o_custkey"), "error names the offending key")
    assert(!new java.io.File(loc).exists(), "no partial write on failure")
  }

  test("range-clustered write produces files with disjoint value ranges (data skipping)") {
    val loc = TestSpark.tempDir("graft_clust").toString + "/t"
    val o = graft.schemas.Tables.orders(spark, TestSpark.sf0001)
    graft.io.Warehouse.appendClustered(o, loc, "o_orderdate", 4)
    val files = new java.io.File(loc).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.toString)
        .agg(min(unix_micros($"o_orderdate".cast("timestamp"))),
          max(unix_micros($"o_orderdate".cast("timestamp")))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach { case Array((_, aMax), (bMin, _)) =>
      assert(aMax <= bMin, s"file ranges must be disjoint: ${ranges.toSeq}")
    }
    assert(spark.read.parquet(loc).count() == o.count())
  }
}
