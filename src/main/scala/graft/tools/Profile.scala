package graft.tools

import org.apache.spark.sql.functions._

/** Stagewise profiler for the slow bench queries: isolates construction
  * cost from parse/join/write cost so optimization goes where time is.
  * Usage: runMain graft.tools.Profile [sfDir] [names...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq()
    val spark = graft.Session.local(32)
    import spark.implicits._

    def time(n: String)(f: => Long): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime; val r = f
        ((System.nanoTime - t0) / 1e9, r)
      }
      println(f"TIME $n%-28s min ${ts.map(_._1).min}%.3f s  (runs ${ts.map(t => f"${t._1}%.2f").mkString(" ")}; rows ${ts.head._2})")
    }

    // u1 stages
    if (names.isEmpty || names.contains("u1")) {
      val texts = graft.queries.PackParsers.ticketTexts(spark, d)
      time("u1_construct_only")(texts.count())
      time("u1_construct+len")(texts.select(sum(length($"text"))).as[Long].head())
      time("u1_full") {
        texts.select($"text").as[String]
          .flatMap(graft.parsers.TicketParser.parse _).count()
      }
      val full = graft.queries.Pack.byName("u1_udtf_ticket_items").fn
      time("u1_declared")(full(spark, d).count())
      val sorted = graft.queries.PackParsers.ticketTextsSorted(spark, d)
      time("u1_sorted_construct")(sorted.select(sum(length($"text"))).as[Long].head())
      time("u1_sorted_full") {
        sorted.select($"text").as[String]
          .flatMap(graft.parsers.TicketParser.parse _).count()
      }
    }

    if (names.isEmpty || names.contains("u2")) {
      val full = graft.queries.Pack.byName("u2_udf_mail_fields").fn
      time("u2_docs_only")(graft.queries.PackParsers.mailDocs(spark, d)
        .select(sum(length($"html_body"))).as[Long].head())
      time("u2_declared")(full(spark, d).count())
    }

    if (names.isEmpty || names.contains("k3")) {
      val full = graft.queries.Pack.byName("k3_sink_warehouse_append").fn
      time("k3_declared")(full(spark, d).count())
    }

    if (names.isEmpty || names.contains("minhash")) {
      val full = graft.queries.Pack.byName("dedup_minhash_lsh").fn
      time("minhash_declared")(full(spark, d).count())
      val docs = graft.schemas.Tables.documents(spark, d)
      time("minhash_sigs_groupby") {
        graft.ext.TextDedup.minhashSignatures(docs, "doc_id", "text", 16)
          .agg(count(lit(1))).as[Long].head()
      }
      time("minhash_sigs_typedagg") {
        docs.select($"doc_id", graft.ext.TextDedup.tokens($"text").as("toks"))
          .groupBy($"doc_id")
          .agg(expr("graft_minhash(toks)").as("sig"))
          .agg(count(lit(1))).as[Long].head()
      }
    }

    if (names.isEmpty || names.contains("cc")) {
      val full = graft.queries.Pack.byName("dedup_cluster_cc").fn
      time("cc_declared")(full(spark, d).count())
      val docs = graft.schemas.Tables.documents(spark, d).filter($"doc_id" < 128)
      time("cc_pairs_only") {
        graft.ext.TextDedup.simhashPairs(
          graft.ext.TextDedup.simhash(docs, "doc_id", "text"), 12).count()
      }
    }

    if (names.isEmpty || names.contains("j5")) {
      val full = graft.queries.Pack.byName("j5_join_equi_adhoc").fn
      time("j5_declared")(full(spark, d).count())
    }

    if (names.isEmpty || names.contains("k5")) {
      val full = graft.queries.Pack.byName("k5_sink_bulk_copy").fn
      time("k5_declared")(full(spark, d).count())
    }

    if (names.isEmpty || names.contains("f6")) {
      val full = graft.queries.Pack.byName("f6_project_const_broadcast").fn
      time("f6_declared")(full(spark, d).count())
    }

    if (names.contains("dupfrac")) {
      import graft.schemas.Tables
      import graft.ext.TextDedup
      val docs = Tables.documents(spark, d)
      val g = docs.select($"doc_id",
        explode(TextDedup.shingles($"text", 3)).as("gram"))
      time("df_explode_only")(g.count())
      val w = g.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"gram")))
      time("df_window")(w.count())
      time("df_full")(TextDedup.duplicateShingleFraction(docs, "doc_id", "text", 3).count())
      val byCount = g.groupBy($"gram").agg(count(lit(1)).as("df"))
      time("df_joinback")(
        g.join(byCount, Seq("gram"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when($"df" >= 2, 1L).otherwise(0L)).as("n_dup")).count())
    }

    if (names.contains("cn")) {
      import graft.schemas.Tables
      val li = Tables.lineitem(spark, d).filter($"l_orderkey" % 20 === 0)
        .select($"l_orderkey", $"l_suppkey")
      val e0 = li.alias("a").join(li.alias("b"),
          $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_suppkey" < $"b.l_suppkey")
        .select($"a.l_suppkey".as("u"), $"b.l_suppkey".as("v")).distinct()
        .persist()
      time("cn_edges")(e0.count())
      val adj = e0.select($"u".as("x"), $"v".as("y"))
        .unionAll(e0.select($"v".as("x"), $"u".as("y"))).persist()
      time("cn_adj")(adj.count())
      val deg = adj.groupBy($"x").agg(count(lit(1)).as("d")).persist()
      time("cn_deg")(deg.count())
      val ctr = adj.join(broadcast(deg.filter($"d" <= 512)), Seq("x"))
        .select($"x", $"y")
      time("cn_ctr")(ctr.count())
      val w = ctr.alias("a").join(ctr.alias("b"),
          $"a.x" === $"b.x" && $"a.y" < $"b.y")
        .groupBy($"a.y".as("u"), $"b.y".as("v"))
        .agg(count(lit(1)).as("cn"))
      time("cn_wedge_agg")(w.count())
      val wB = ctr.alias("a").join(broadcast(ctr.alias("b")),
          $"a.x" === $"b.x" && $"a.y" < $"b.y")
        .groupBy($"a.y".as("u"), $"b.y".as("v"))
        .agg(count(lit(1)).as("cn"))
      time("cn_wedge_agg_bcast")(wB.count())
      // pair generation via per-center sorted neighbor arrays + posexplode
      val nbr = adj.groupBy($"x").agg(sort_array(collect_list($"y")).as("ys"), count(lit(1)).as("dd"))
        .filter($"dd" <= 512)
      val wA = nbr
        .select(posexplode($"ys").as(Seq("i", "u")), $"ys")
        .select($"u", explode(slice($"ys", $"i" + 2, size($"ys"))).as("v"))
        .groupBy($"u", $"v").agg(count(lit(1)).as("cn"))
      time("cn_wedge_agg_array")(wA.count())
      val wp = w.persist(); wp.count()
      val nonedge = wp.join(e0, Seq("u", "v"), "left_anti")
      time("cn_nonedge(from warm w)")(nonedge.count())
      val scored = nonedge
        .join(deg.select($"x".as("u"), $"d".as("du")), Seq("u"))
        .join(deg.select($"x".as("v"), $"d".as("dv")), Seq("v"))
        .select($"u", $"v", $"cn",
          round($"cn".cast("double") / ($"du" + $"dv" - $"cn"), 6).as("jaccard"))
      time("cn_scored(from warm w)")(scored.count())
      val top = graft.ops.Ops.topKPerKey(
        scored.withColumn("_g", lit(1)), Seq("_g"),
        Seq(("cn", true), ("jaccard", true), ("u", false), ("v", false)), 20)
      time("cn_topk(from warm w)")(top.count())
      val full = graft.queries.Pack.byName("graph_common_neighbors").fn
      time("cn_declared")(full(spark, d).count())
    }

    if (names.contains("tri")) {
      import graft.schemas.Tables
      val li = Tables.lineitem(spark, d).filter($"l_orderkey" % 10 === 0)
        .select($"l_orderkey", $"l_suppkey")
      val edges = li.alias("a").join(li.alias("b"),
          $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_suppkey" < $"b.l_suppkey")
        .select($"a.l_suppkey".as("src"), $"b.l_suppkey".as("dst"))
      time("tri_edges_raw")(edges.count())
      val canon = edges.select(least($"src", $"dst").as("u"),
          greatest($"src", $"dst").as("v"))
        .filter($"u" =!= $"v").distinct()
      time("tri_canon")(canon.count())
      val cp = canon.persist(); cp.count()
      val deg = cp.select($"u".as("x")).union(cp.select($"v".as("x")))
        .groupBy($"x").agg(count(lit(1)).as("d"))
      val withDeg = cp
        .join(deg.select($"x".as("u"), $"d".as("du")), Seq("u"))
        .join(deg.select($"x".as("v"), $"d".as("dv")), Seq("v"))
      time("tri_oriented(warm canon)")(withDeg.count())
      time("tri_declared")(graft.queries.Pack.byName("graph_triangle_count")
        .fn(spark, d).count())
    }

    if (names.contains("lp")) {
      import graft.schemas.Tables
      val li = Tables.lineitem(spark, d).filter($"l_orderkey" % 20 === 0)
        .select($"l_orderkey", $"l_suppkey")
      val e0 = li.alias("a").join(li.alias("b"),
          $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_suppkey" < $"b.l_suppkey")
        .select($"a.l_suppkey".as("src"), $"b.l_suppkey".as("dst")).distinct()
      time("lp_edges")(e0.count())
      val ep = e0.persist(); ep.count()
      val nodes = ep.select($"src".as("node")).unionAll(ep.select($"dst".as("node"))).distinct()
      val seeds = nodes.filter($"node" % 7 === 0)
        .select($"node", ($"node" % 3).as("label"))
      time("lp_seeds(warm edges)")(seeds.count())
      time("lp_1round(warm edges)")(graft.ext.Graph.labelPropagation(ep, seeds, 1).count())
      time("lp_2rounds(warm edges)")(graft.ext.Graph.labelPropagation(ep, seeds, 2).count())
      time("lp_declared")(graft.queries.Pack.byName("graph_label_propagation")
        .fn(spark, d).count())
    }

    if (names.contains("pagerank")) {
      import graft.schemas.Tables
      val edges = Tables.lineitem(spark, d).select($"l_orderkey", $"l_suppkey")
        .join(Tables.orders(spark, d).select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .select(concat(lit("c"), $"o_custkey").as("src"),
          concat(lit("s"), $"l_suppkey").as("dst"))
        .distinct()
      time("pr_edges_only")(edges.count())
      time("pr_1iter")(graft.ext.Graph.pageRank(edges, 1).count())
      time("pr_3iter")(graft.ext.Graph.pageRank(edges, 3).count())
      time("pr_5iter")(graft.ext.Graph.pageRank(edges, 5).count())
      // (pageRank force-disables AQE inside its own loop since round 10,
      // so a separate noAQE stage would time the identical configuration)
    }

    spark.stop()
  }
}
