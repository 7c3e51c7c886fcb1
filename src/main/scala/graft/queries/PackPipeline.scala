package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge.{column, expression}
import graft.Session
import graft.io.Runs
import graft.ext.{BoundedCache, Similarity, TextDedup}
import graft.schemas.Tables

/** Round-10 pipeline batch: the data-governance and curation operators a
  * production training-data platform runs beside the dedup/retrieval
  * families — k-anonymity risk profiling, asymmetric containment dedup,
  * semi-supervised label propagation, retrieval recall/MRR eval, and the
  * small-file compaction sink every long-lived warehouse table needs.
  *
  * Exactness discipline per NOTES rule 0: integer counts and ratios of
  * integers everywhere (k-anonymity, containment, recall, MRR, label
  * votes are ALL integer-derived; the only doubles are final one-step
  * divisions of exact integers, identical across engines). */
object PackPipeline {

  /** Shared (user_id, event_type, cents) arrival schema for the
    * transformWithState queries (st18/st19/st21). */
  private val twsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("event_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("cents",
      org.apache.spark.sql.types.LongType)))

  /** Shared (user_id, ts, ms) arrival schema for the event-time
    * sessionization queries (st20/st22). */
  private val tsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("ms",
      org.apache.spark.sql.types.LongType)))

  /** Shared two-drain scaffold for the live TWS queries: stage `b1`,
    * drain, stage `b2`, drain — two query RESTARTS over one checkpoint.
    * `drain` starts its stream from the [[Session.StatefulStream]]
    * session it is given. */
  private def stagedTwoDrains(s: SparkSession, in: String,
                              b1: org.apache.spark.sql.DataFrame,
                              b2: org.apache.spark.sql.DataFrame)(drain: SparkSession => Unit): Unit = {
    val ss = Session.derived(s, Session.StatefulStream)
    PackCore.stageArrival(in, b1, "b1")
    drain(ss)
    PackCore.stageArrival(in, b2, "b2")
    drain(ss)
  }

  /** st18/st21 shared streaming drive: stage `base` (event_id, user_id,
    * event_type, cents) as two arrivals split by event_id parity and
    * drain each through one checkpointed UserProfileProcessor run —
    * two query RESTARTS over the same checkpoint, so the second drain
    * proves RocksDB state recovery. */
  private def userProfileDrive(s: SparkSession, base: org.apache.spark.sql.DataFrame,
                               in: String, out: String, ckpt: String): Unit = {
    import s.implicits._
    import graft.streaming.{TwsEvent, UserProfileProcessor}
    def drain(ss: SparkSession): Unit = {
      val q = ss.readStream.schema(twsSchema).parquet(in)
        .as[TwsEvent]
        .groupByKey(_.user_id)
        .transformWithState(new UserProfileProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    stagedTwoDrains(s, in,
      base.filter(col("event_id") % 2 === 0).drop("event_id"),
      base.filter(col("event_id") % 2 =!= 0).drop("event_id"))(drain)
  }

  /** DuckDB-side sequential-double dot/cos matching Similarity.dot. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, length($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (acc,x) -> acc + x)"
  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  val queries: Seq[QDef] = Seq(

    // K-anonymity risk profile over the quasi-identifier tuple
    // (nation, market segment, account-balance band): the re-identification
    // audit a data platform runs before releasing "anonymized" records —
    // a row whose QI equivalence class has k members hides among only k
    // people. Output is the k-histogram (n classes and rows per class
    // size) with the k<5 risk flag; the release decision reads the small
    // end. Pure integers: two cascaded count aggregations, partial agg on
    // both, the k histogram is tiny however large the table. At 100 TB
    // the QI groupBy is the one shuffle; floor(bal/1000) is engine-exact
    // IEEE division.
    QDef("dq_k_anonymity",
      """WITH q AS (SELECT c_nationkey, c_mktsegment,
        |             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |             CAST(count(*) AS BIGINT) AS k
        |           FROM customer GROUP BY 1, 2, 3)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_classes,
        |       CAST(sum(k) AS BIGINT) AS n_rows,
        |       k < 5 AS risky
        |FROM q GROUP BY k ORDER BY k""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
        .agg(count(lit(1)).as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_rows"))
        .select(col("k"), col("n_classes"), col("n_rows"),
          (col("k") < 5).as("risky"))
        .orderBy(col("k"))
    },

    // Asymmetric CONTAINMENT dedup (Broder): C(A,B) = |A∩B|/|A| — the
    // "small doc swallowed by a big one" detector that symmetric Jaccard
    // misses by construction (J ≤ |A|/|B|, so a page quoted inside a
    // book scores near zero). Candidates come from the same df-capped
    // inverted-index join as dedup_ngram_jaccard (posting lists above
    // maxDf dropped BEFORE the self-join — the cap that keeps the join
    // from going quadratic on stopwords at any corpus size); each
    // undirected intersection row fans to its two directed readings.
    QDef("dedup_containment",
      """WITH t0 AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS w
        |            FROM documents WHERE doc_id < 200),
        |keep AS (SELECT w FROM t0 GROUP BY w HAVING count(*) <= 1000),
        |t AS (SELECT doc_id, w FROM t0 WHERE w IN (SELECT w FROM keep)),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY doc_id),
        |sh AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS c
        |       FROM t a JOIN t b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sized AS (SELECT sh.d1, sh.d2, sh.c, s1.n AS n1, s2.n AS n2
        |          FROM sh JOIN sz s1 ON sh.d1 = s1.doc_id
        |                  JOIN sz s2 ON sh.d2 = s2.doc_id),
        |dir AS (SELECT d1 AS src, d2 AS within, c * 1.0 / n1 AS containment FROM sized
        |        UNION ALL
        |        SELECT d2, d1, c * 1.0 / n2 FROM sized)
        |SELECT src, within, round(containment, 6) AS containment
        |FROM dir WHERE containment >= 0.8
        |ORDER BY src, within""".stripMargin) { (s, d) =>
      TextDedup.containmentPairs(
          Tables.documents(s, d).filter(col("doc_id") < 200),
          "doc_id", "text", threshold = 0.8, n = 1, maxDf = 1000)
        .orderBy(col("src"), col("within"))
    },

    // Semi-supervised label propagation over the supplier co-purchase
    // graph: a seed set (suppliers ≡ 0 mod 7, labeled by suppkey mod 3 —
    // standing in for a small hand-labeled domain/quality tier) spreads
    // for two synchronous rounds; each round an unlabeled node adopts
    // the MODAL label among labeled neighbors, ties to the smallest
    // label, labeled nodes clamped. Integer votes + total tie order ⇒
    // deterministic on any partitioning. The oracle unrolls both rounds.
    QDef("graph_label_propagation",
      """WITH e0 AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |            FROM lineitem a JOIN lineitem b
        |              ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |            WHERE a.l_orderkey % 20 = 0),
        |adj AS (SELECT u AS x, v AS y FROM e0 UNION SELECT v, u FROM e0),
        |lab0 AS (SELECT DISTINCT x AS node, x % 3 AS label FROM adj WHERE x % 7 = 0),
        |n1 AS (SELECT a.x, l.label, CAST(count(*) AS BIGINT) AS c
        |       FROM adj a JOIN lab0 l ON a.y = l.node
        |       WHERE a.x NOT IN (SELECT node FROM lab0) GROUP BY 1, 2),
        |a1 AS (SELECT x AS node, label FROM
        |        (SELECT x, label, row_number() OVER
        |           (PARTITION BY x ORDER BY c DESC, label) AS rn FROM n1)
        |       WHERE rn = 1),
        |lab1 AS (SELECT node, label FROM lab0 UNION ALL SELECT node, label FROM a1),
        |n2 AS (SELECT a.x, l.label, CAST(count(*) AS BIGINT) AS c
        |       FROM adj a JOIN lab1 l ON a.y = l.node
        |       WHERE a.x NOT IN (SELECT node FROM lab1) GROUP BY 1, 2),
        |a2 AS (SELECT x AS node, label FROM
        |        (SELECT x, label, row_number() OVER
        |           (PARTITION BY x ORDER BY c DESC, label) AS rn FROM n2)
        |       WHERE rn = 1),
        |lab2 AS (SELECT node, label FROM lab1 UNION ALL SELECT node, label FROM a2)
        |SELECT node, label FROM lab2 ORDER BY node""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e0 = li.alias("a").join(li.alias("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_suppkey") < col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
        .distinct()
      // explode instead of unionAll-of-two-selects: the union form ran
      // the lineitem self-join twice just to list both endpoints
      val nodes = e0.select(explode(array(col("src"), col("dst"))).as("node"))
        .distinct()
      val seeds = nodes.filter(col("node") % 7 === 0)
        .select(col("node"), (col("node") % 3).as("label"))
      graft.ext.Graph.labelPropagation(e0, seeds, rounds = 2)
        .orderBy(col("node"))
    },

    // Recall@10 + MRR retrieval eval — the OTHER two numbers every
    // retrieval stack reports beside NDCG (retrieval_ndcg_eval grades
    // graded relevance; recall grades coverage, MRR grades how early the
    // first relevant hit lands). Ground truth = exact dense top-5 per
    // query; system = the lexical Jaccard top-10 the cascade's first
    // stage produces. All metrics are one-step ratios of integers
    // (n_hits/5, 1/first_rank) — engine-exact. Scale: truth and system
    // are both per-query bounded top-k (corpus touched by the candidate
    // joins only); the eval join is queries × 10 rows.
    QDef("retrieval_recall_mrr_eval",
      s"""WITH qs AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 8),
         |truth AS (SELECT qid, nid FROM (
         |  SELECT q.vec_id AS qid, e.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${cosSql("q.embedding", "e.embedding")}, 6) DESC, e.vec_id) AS rn
         |  FROM embeddings q JOIN embeddings e
         |    ON q.vec_id < 8 AND e.vec_id >= 8 AND e.vec_id < 500)
         |  WHERE rn <= 5),
         |toks AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS w
         |         FROM documents WHERE doc_id < 500),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
         |inter AS (SELECT q.doc_id AS qid, c.doc_id AS nid, CAST(count(*) AS BIGINT) AS inter
         |          FROM toks q JOIN toks c ON q.w = c.w AND q.doc_id < 8 AND c.doc_id >= 8
         |          GROUP BY 1, 2),
         |sys AS (SELECT qid, nid, srank FROM (
         |  SELECT i.qid, i.nid,
         |    row_number() OVER (PARTITION BY i.qid
         |      ORDER BY i.inter * 1.0 / (x.n + y.n - i.inter) DESC, i.nid) AS srank
         |  FROM inter i JOIN sz x ON i.qid = x.doc_id JOIN sz y ON i.nid = y.doc_id)
         |  WHERE srank <= 10),
         |hits AS (SELECT s.qid, CAST(count(*) AS BIGINT) AS n_hits,
         |                CAST(min(s.srank) AS BIGINT) AS first_rank
         |         FROM sys s JOIN truth t ON s.qid = t.qid AND s.nid = t.nid
         |         GROUP BY s.qid)
         |SELECT qs.qid, COALESCE(h.n_hits, 0) AS n_hits,
         |  round(COALESCE(h.n_hits, 0) / 5.0, 6) AS recall_at_10,
         |  round(COALESCE(1.0 / h.first_rank, 0), 6) AS mrr
         |FROM qs LEFT JOIN hits h ON qs.qid = h.qid
         |ORDER BY qs.qid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val nd = Similarity.nativeDot(_: Column, _: Column)
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val corpus = emb.filter(col("vec_id") >= 8 && col("vec_id") < 500)
        .select(col("vec_id").as("nid"), col("embedding").as("ne"))
      val truth = corpus.join(broadcast(q))
        .select(col("qid"), col("nid"),
          round(nd(col("qe"), col("ne"))
            / (sqrt(nd(col("qe"), col("qe"))) * sqrt(nd(col("ne"), col("ne")))), 6).as("cos"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))))
        .filter(col("rn") <= 5).select(col("qid"), col("nid"))
      val toks = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      val toksP = BoundedCache.persist("pack.recall.toks", toks)
      val sizes = toksP.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = toksP.filter(col("doc_id") < 8).select(col("doc_id").as("qid"), col("w"))
        .join(toksP.filter(col("doc_id") >= 8).select(col("doc_id").as("nid"), col("w")), Seq("w"))
        .groupBy(col("qid"), col("nid")).agg(count(lit(1)).as("inter"))
      val sys = inter
        .join(broadcast(sizes.select(col("doc_id").as("qid"), col("n").as("nq"))), Seq("qid"))
        .join(sizes.select(col("doc_id").as("nid"), col("n").as("nc")), Seq("nid"))
        .withColumn("srank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(
            (col("inter") * lit(1.0) / (col("nq") + col("nc") - col("inter"))).desc,
            col("nid"))))
        .filter(col("srank") <= 10).select(col("qid"), col("nid"), col("srank"))
      val hits = sys.join(truth, Seq("qid", "nid"))
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_hits"), min(col("srank")).as("first_rank"))
      q.select(col("qid")).join(broadcast(hits), Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) / lit(5.0), 6).as("recall_at_10"),
          round(coalesce(lit(1.0) / col("first_rank"), lit(0.0)), 6).as("mrr"))
        .orderBy(col("qid"))
    },

    // Binned quantile estimation — the percentile that actually runs at
    // 100 TB: agg_percentiles' exact form materializes every value of a
    // group in one aggregation buffer, which is the memory cliff at
    // scale; the production form counts into FIXED-WIDTH bins first (one
    // partial+final pass, bounded state) and selects the smallest bin
    // whose cumulative count reaches ceil(q·n) — error bounded by bin
    // width, cost independent of n. Same aggregate-BEFORE-window
    // discipline as stats_ks_test: the cumsum window sees ≤ #bins rows
    // per group. Pure integer throughout (rank test by cross-multiply,
    // bin lower bound reported).
    QDef("stats_quantile_binned",
      """WITH b AS (SELECT l_returnflag, CAST(floor(l_extendedprice / 100) AS BIGINT) AS bin,
        |             CAST(count(*) AS BIGINT) AS c
        |           FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS n FROM b GROUP BY 1),
        |cum AS (SELECT l_returnflag, bin,
        |          CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin) AS BIGINT) AS cc
        |        FROM b)
        |SELECT cum.l_returnflag, t.n,
        |  CAST(min(CASE WHEN cc * 100 >= t.n * 50 THEN bin END) * 100 AS BIGINT) AS p50_lo,
        |  CAST(min(CASE WHEN cc * 100 >= t.n * 95 THEN bin END) * 100 AS BIGINT) AS p95_lo,
        |  CAST(min(CASE WHEN cc * 100 >= t.n * 99 THEN bin END) * 100 AS BIGINT) AS p99_lo
        |FROM cum JOIN t USING (l_returnflag) GROUP BY 1, 2
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val b = BoundedCache.persist("pack.qbin.b",
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"),
            floor(col("l_extendedprice") / 100).cast("long").as("bin"))
          .agg(count(lit(1)).as("c")))
      val t = b.groupBy(col("l_returnflag")).agg(sum(col("c")).as("n"))
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("bin"))
      val cum = b.select(col("l_returnflag"), col("bin"),
        sum(col("c")).over(w).as("cc"))
      def qbin(pct: Int) =
        (min(when(col("cc") * 100 >= col("n") * pct, col("bin"))) * 100).cast("long")
      cum.join(broadcast(t), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"), col("n"))
        .agg(qbin(50).as("p50_lo"), qbin(95).as("p95_lo"), qbin(99).as("p99_lo"))
        .orderBy(col("l_returnflag"))
    },

    // Balanced downsampling across sources — the domain-rebalancing
    // sampler (every source capped to the smallest source's count in
    // EXPECTATION) with a deterministic per-doc accept: the same md5
    // 16-bit uniform as sample_importance (no shared RNG — reproducible
    // on any cluster, any partitioning), accept iff u16·n_source <
    // 65536·n_min, an exact integer cross-multiply. Source counts ride a
    // broadcast; one counting pass + one accept pass.
    QDef("sample_balance_sources",
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source),
        |m AS (SELECT CAST(min(n) AS BIGINT) AS nmin FROM c),
        |u AS (SELECT source,
        |    ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) AS u16
        |  FROM documents)
        |SELECT u.source, CAST(count(*) AS BIGINT) AS n_docs, m.nmin AS n_target,
        |  CAST(sum(CASE WHEN u16 * c.n < 65536 * m.nmin THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(CAST(sum(CASE WHEN u16 * c.n < 65536 * m.nmin THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS keep_rate
        |FROM u JOIN c ON u.source = c.source, m
        |GROUP BY u.source, m.nmin ORDER BY u.source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val c = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val m = c.agg(min(col("n")).as("nmin"))
      val u16 = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
      val kept = sum(when(col("u16") * col("n") < lit(65536L) * col("nmin"), 1L).otherwise(0L))
      docs.select(col("source"), u16.as("u16"))
        .join(broadcast(c), Seq("source"))
        .crossJoin(broadcast(m))
        .groupBy(col("source"), col("nmin"))
        .agg(count(lit(1)).as("n_docs"), kept.as("n_kept"),
          round(kept.cast("double") / count(lit(1)), 6).as("keep_rate"))
        .select(col("source"), col("n_docs"), col("nmin").as("n_target"),
          col("n_kept"), col("keep_rate"))
        .orderBy(col("source"))
    },

    // ST12 (live) — streaming SESSION windows with WATERMARK-DRIVEN
    // emission: the one streaming windowing shape the pack hadn't
    // exercised live (st4 = tumbling/complete; window_session_native =
    // batch sessions). Append-mode session_window state emits a session
    // only once the watermark passes its end — so the query stages the
    // real arrivals, drains, then stages a far-future SENTINEL event and
    // drains again: the sentinel advances the watermark past every real
    // session's end, deterministically flushing them to the parquet sink
    // (the sentinel's own session never closes and stays in state —
    // exactly the semantics the operator exists to provide). At 100 TB
    // state holds only open sessions per key — the watermark bounds it
    // to the gap frontier, arrivals not history. Oracle = batch
    // sessionization of the same slice.
    QDef("st12_stream_session_window",
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |           WHERE event_id % 13 = 0),
        |d AS (SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END AS is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts,
        |        sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM d)
        |SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      val run = Runs.start(s, "st12_stream_session_window")
      val base = Tables.events(s, d).filter(col("event_id") % 13 === 0)
        .select(col("user_id"), col("ts"))
      val sentinel = base.agg(max(col("ts")).as("mx"))
        .select(lit(-1L).as("user_id"),
          (col("mx") + expr("INTERVAL 240 HOURS")).as("ts"))
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val ss = Session.derived(s, Session.Stream)
      def drain(): Unit = {
        val q = ss.readStream.schema(sch).parquet(run.in)
          .withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"), col("session_window.start").as("session_start"), col("n"))
          .writeStream.format("parquet")
          .option("path", run.out).option("checkpointLocation", run.ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      PackCore.stageArrival(run.in, base, "b1")
      drain()
      PackCore.stageArrival(run.in, sentinel, "b2")
      drain() // sentinel pushes the watermark past every real session
      Tables.siteRead(s, "PackPipeline:419", run.out).filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("session_start"))
    },

    // ST13 (live) — STREAM-STATIC enrichment join inside the streaming
    // plan itself (distinct from st8's foreachBatch probe, which is a
    // batch join the engine stages manually): the static dimension is
    // (re)read and broadcast per micro-batch by Structured Streaming, no
    // state store involved — the standard dimension-enrichment deployment
    // for an event firehose, where the 100 TB/day side streams and the
    // dimension rides a broadcast. Stateless ⇒ append mode, one drain.
    // The stream key maps onto the dimension with a modulo computed from
    // the dimension's own cardinality (oracle-reproducible at any sf).
    QDef("st13_stream_static_enrich",
      """SELECT e.event_id, e.user_id, c.c_mktsegment
        |FROM events e JOIN customer c
        |  ON c.c_custkey = e.user_id % (SELECT count(*) FROM customer)
        |WHERE e.event_id % 101 = 0
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val run = Runs.start(s, "st13_stream_static_enrich")
      val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      val nCust = cust.count()
      PackCore.stageArrival(run.in,
        Tables.events(s, d).filter(col("event_id") % 101 === 0)
          .select(col("event_id"), col("user_id")), "b1")
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType)))
      val ss = Session.derived(s, Session.Stream)
      ss.readStream.schema(sch).parquet(run.in)
        .withColumn("ck", col("user_id") % nCust)
        .join(broadcast(Session.bind(cust, ss)), col("ck") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_mktsegment"))
        .writeStream.format("parquet")
        .option("path", run.out).option("checkpointLocation", run.ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      Tables.siteRead(s, "PackPipeline:464", run.out).orderBy(col("event_id"))
    },

    // K12/S11 (live) — Avro container ROUNDTRIP on avro-core alone (the
    // Spark avro datasource module doesn't ship here; the runtime jars
    // do — the same close-the-gap-with-what's-on-the-classpath precedent
    // as the XLSX/PDF/JDBC sources). Write side: one deflate-compressed
    // container file per partition through the Hadoop FileSystem API
    // (cluster-correct, not local-disk-only). Read side: one task per
    // self-describing container file. The nullable-union bridge is
    // exercised by a deliberately NULLed column; the oracle is the plain
    // source selection — the format must be invisible in the data.
    QDef("k12_sink_avro_roundtrip",
      """SELECT event_id, user_id, event_type,
        |  CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
        |FROM events WHERE event_id % 23 = 0 ORDER BY event_id""".stripMargin) { (s, d) =>
      val dir = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}/k12_avro"
      val src = Tables.events(s, d).filter(col("event_id") % 23 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          when(col("event_type") === "click", lit(null).cast("double"))
            .otherwise(col("value")).as("v"))
      graft.sources.AvroIo.write(src, dir): Unit
      graft.sources.AvroIo.read(s, dir, src.schema).orderBy(col("event_id"))
    },

    // S12 (live) — SCHEMA-EVOLUTION scan: two parquet batches with
    // different schemas (an upstream producer added a column) land in one
    // table directory; mergeSchema reconciles them at the reader and the
    // old batch's missing column reads as NULL. The pattern every
    // long-lived ingestion directory eventually needs — without it the
    // reader silently takes ONE footer's schema and either drops the new
    // column or errors. Column-order independence and NULL semantics are
    // pinned by the oracle's two-branch union.
    QDef("s12_scan_schema_evolution",
      """SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS v
        |FROM events WHERE event_id % 41 = 0 AND event_id % 82 = 0
        |UNION ALL
        |SELECT event_id, user_id, value AS v
        |FROM events WHERE event_id % 41 = 0 AND event_id % 82 <> 0
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val dir = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}/s12_evo"
      graft.io.Warehouse.deleteRecursively(s, dir)
      val base = Tables.events(s, d).filter(col("event_id") % 41 === 0)
      // vintage 1: the narrow producer (no value column yet)
      base.filter(col("event_id") % 82 === 0)
        .select(col("event_id"), col("user_id"))
        .write.mode("append").parquet(dir)
      // vintage 2: the evolved producer
      base.filter(col("event_id") % 82 =!= 0)
        .select(col("event_id"), col("user_id"), col("value").as("v"))
        .write.mode("append").parquet(dir)
      s.read.option("mergeSchema", "true").parquet(dir)
        .select(col("event_id"), col("user_id"), col("v"))
        .orderBy(col("event_id"))
    },

    // K13 (live) — targeted right-to-be-forgotten DELETE from a
    // partitioned warehouse (Warehouse.deleteWhere): the table partitions
    // by a coarse user band, the erasure request names users in ONE
    // band, and the rewrite touches exactly that band's directory —
    // discovery is a column-pruned scan, the rewrite a dynamic partition
    // overwrite, untouched partitions keep their files byte-for-byte
    // (IoSpec pins that via mtimes). The declared result is the
    // surviving table content plus the partition accounting; the oracle
    // reproduces both relationally.
    QDef("k13_sink_targeted_delete",
      """WITH src AS (SELECT event_id, user_id, user_id // 100 AS band
        |             FROM events WHERE event_id % 11 = 0),
        |del AS (SELECT * FROM src WHERE band = 0 AND user_id % 3 = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
        |  (SELECT CAST(count(DISTINCT band) AS BIGINT) FROM src) AS n_partitions,
        |  CAST(1 AS BIGINT) AS n_rewritten
        |FROM src WHERE NOT (band = 0 AND user_id % 3 = 0)""".stripMargin) { (s, d) =>
      val dir = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}/k13_del"
      graft.io.Warehouse.deleteRecursively(s, dir)
      val src = Tables.events(s, d).filter(col("event_id") % 11 === 0)
        .select(col("event_id"), col("user_id"),
          (col("user_id") / 100).cast("long").as("band"))
        // one writer task per partition value: without this every task
        // writes a sliver into every band dir (tasks × bands files), and
        // file-commit overhead — not data — dominated the 10× ScaleCheck
        .repartition(col("band"))
      graft.io.Warehouse.appendPartitioned(src, dir, Seq("band"))
      val (nParts, nRewritten) = graft.io.Warehouse.deleteWhere(
        s, dir, "band", col("band") === 0 && col("user_id") % 3 === 0)
      Tables.siteRead(s, "PackPipeline:550", dir)
        .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("sum_event_id"),
          lit(nParts).as("n_partitions"), lit(nRewritten).as("n_rewritten"))
    },

    // K14 (live) — TIME TRAVEL through the transactional sink's retained
    // snapshots: k9 proves the commit protocol is invisible in the data;
    // this declares the versioned-read half (SourceSpec covers the
    // abort/isolation edges). Write v1, append v2, then read BACK AT
    // VERSION 1 through the manifest — the oracle is the v1 selection
    // alone: an append that leaked into the old snapshot, or a version
    // pointer off by one, fails the compare. The audit/debug/reproduce
    // surface every lakehouse table format ships (Delta VERSION AS OF).
    QDef("k14_sink_time_travel",
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE o_orderkey % 5 = 0 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val loc = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}/k14_tt"
      graft.io.Warehouse.deleteRecursively(s, loc)
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      o.filter(col("o_orderkey") % 5 === 0).write.format("graft-atomic")
        .option("path", loc).mode("overwrite").save()
      o.filter(col("o_orderkey") % 5 === 1).write.format("graft-atomic")
        .option("path", loc).mode("append").save()
      val v1 = graft.sources.AtomicSink.versions(loc).min
      s.read.schema(o.schema).format("graft-atomic")
        .option("version", v1).load(loc)
        .orderBy(col("o_orderkey"))
    },

    // K11 (live) — small-file COMPACTION sink: the maintenance operation
    // every streaming-append warehouse table needs (a year of
    // micro-batches leaves thousands of KB-sized files; scan cost and
    // NameNode/listing pressure are per-FILE). Stage a fragmented table
    // (64 round-robin files), then compact with coalesce() — the
    // SHUFFLE-FREE narrowing where each output task concatenates several
    // input files — into ceil(n/50k)-row bins. The declared result pins
    // the full lifecycle: row count and an exact content checksum prove
    // the rewrite lost nothing, the before/after file counts prove the
    // compaction happened (64 staged files; bin count is row-derived so
    // the oracle can state it).
    QDef("k11_sink_compact",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(64 AS BIGINT) AS n_files_before,
        |  CAST(least(64, greatest(1, ceil(count(*) / 50000.0))) AS BIGINT) AS n_files_after,
        |  CAST(sum(event_id) AS BIGINT) AS sum_event_id
        |FROM events WHERE event_id % 5 = 0""".stripMargin) { (s, d) =>
      val base = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}"
      val frag = s"$base/k11_frag"
      val comp = s"$base/k11_compact"
      val src = Tables.events(s, d).filter(col("event_id") % 5 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"))
      src.repartition(64).write.mode("overwrite").parquet(frag)
      def parquetFiles(dir: String): Long =
        Option(new java.io.File(dir).listFiles()).map(
          _.count(f => f.getName.endsWith(".parquet")).toLong).getOrElse(0L)
      val nBefore = parquetFiles(frag)
      val fragDf = Tables.siteRead(s, "PackPipeline:606", frag)
      // clamp to [1, nBefore]: coalesce only NARROWS (a target above the
      // input file count is a no-op, and past it compaction has nothing
      // to do anyway — the oracle mirrors the clamp), and an empty slice
      // still needs one output partition
      val bins = math.min(64L,
        math.max(1L, math.ceil(fragDf.count() / 50000.0).toLong))
      fragDf.coalesce(bins.toInt).write.mode("overwrite").parquet(comp)
      val nAfter = parquetFiles(comp)
      Tables.siteRead(s, "PackPipeline:615", comp)
        .agg(count(lit(1)).as("n_rows"),
          lit(nBefore).as("n_files_before"),
          lit(nAfter).as("n_files_after"),
          sum(col("event_id")).as("sum_event_id"))
    },

    // K15 (live) — IDEMPOTENT BACKFILL via dynamic partition overwrite
    // (Warehouse.overwritePartitions, previously only spec-covered): load
    // a month-partitioned table, then re-run ONE month's load with
    // corrected values (custkey negated as the v2 marker) under
    // partitionOverwriteMode=dynamic. The declared result is the whole
    // table after the backfill: the target month must hold ONLY v2 rows
    // (stale v1 files left behind would surface as positive custkeys →
    // hash mismatch) and every other month must be untouched v1. This is
    // the re-run-a-day's-load primitive — static overwrite mode would
    // wipe the table; at 100 TB the rewrite touches exactly the
    // backfilled month's directory, never the table.
    QDef("k15_sink_backfill_overwrite",
      """WITH src AS (SELECT o_orderkey, o_custkey,
        |               strftime(o_orderdate, '%Y-%m') AS month
        |             FROM orders WHERE o_orderkey % 3 = 0),
        |m AS (SELECT min(month) AS tm FROM src)
        |SELECT o_orderkey, o_custkey, month
        |FROM src WHERE month <> (SELECT tm FROM m)
        |UNION ALL
        |SELECT o_orderkey, -o_custkey AS o_custkey, month
        |FROM src WHERE month = (SELECT tm FROM m)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val dir = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}/k15_bf"
      graft.io.Warehouse.deleteRecursively(s, dir)
      val src = Tables.orders(s, d).filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      // v1: the full load (one writer task per month — k13's discipline)
      graft.io.Warehouse.appendPartitioned(
        src.repartition(col("month")), dir, Seq("month"))
      // v2: the backfill recomputes the EARLIEST month only
      val target = src.agg(min(col("month"))).head().getString(0)
      val fix = src.filter(col("month") === lit(target))
        .select(col("o_orderkey"), (-col("o_custkey")).as("o_custkey"),
          col("month"))
      graft.io.Warehouse.overwritePartitions(
        fix.repartition(col("month")), dir, Seq("month"))
      Tables.siteRead(s, "PackPipeline:659", dir)
        .select(col("o_orderkey"), col("o_custkey"), col("month"))
        .orderBy(col("o_orderkey"))
    },

    // ST14 (live) — stream-stream LEFT OUTER join with WATERMARK-DRIVEN
    // null emission: st10 declared the inner form; the outer form is the
    // one with real streaming-only semantics — an unmatched left row can
    // only emit once the watermark proves no match can still arrive, so
    // its state lifetime IS the join window. Two drains: the real
    // arrivals (matched rows stream out append-mode), then a far-future
    // sentinel on BOTH sides (the global watermark is the min across
    // sources) advances the watermark past every view's match window and
    // flushes the never-matched views with NULL click_id (the engine's
    // no-data micro-batch applies the advanced watermark within the
    // drain). The sentinels themselves never emit: their own windows
    // stay ahead of the watermark, and user_id -1/-2 never match. At
    // 100 TB state holds one join window of arrivals per side — the
    // watermark bounds it to the frontier, not history. Oracle = the
    // equivalent batch LEFT JOIN.
    QDef("st14_stream_stream_left_outer",
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
        |FROM events v LEFT JOIN events c ON v.user_id = c.user_id
        | AND c.event_type = 'click'
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
        |WHERE v.event_type = 'view'
        |ORDER BY v.user_id, view_id, click_id""".stripMargin) { (s, d) =>
      val run = Runs.start(s, "st14_stream_stream_left_outer")
      val vin = run.dir("views")
      val cin = run.dir("clicks")
      val ev = Tables.events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("vts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cuser"), col("event_id").as("click_id"),
          col("ts").as("cts"))
      val far = ev.agg(max(col("ts")).as("mx"))
        .select((col("mx") + expr("INTERVAL 240 HOURS")).as("far"))
      val lt = org.apache.spark.sql.types.LongType
      val tt = org.apache.spark.sql.types.TimestampType
      val vsch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", lt),
        org.apache.spark.sql.types.StructField("view_id", lt),
        org.apache.spark.sql.types.StructField("vts", tt)))
      val csch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cuser", lt),
        org.apache.spark.sql.types.StructField("click_id", lt),
        org.apache.spark.sql.types.StructField("cts", tt)))
      val ss = Session.derived(s, Session.Stream)
      def drain(): Unit = {
        val vs = ss.readStream.schema(vsch).parquet(vin).withWatermark("vts", "1 hour")
        val cs = ss.readStream.schema(csch).parquet(cin).withWatermark("cts", "1 hour")
        val q = vs.join(cs,
            col("user_id") === col("cuser") &&
              col("cts") >= col("vts") &&
              col("cts") <= col("vts") + expr("INTERVAL 10 MINUTES"),
            "leftOuter")
          .select(col("user_id"), col("view_id"), col("click_id"))
          .writeStream.format("parquet")
          .option("path", run.out).option("checkpointLocation", run.ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // outer joins keep FOUR state stores per partition per side, so
      // the stream session's partition count is the per-batch commit bill
      // (8 → 4 cut about 0.5 s/run here; NOTES.md, "Measurement harness")
      PackCore.stageArrival(vin, views, "b1")
      PackCore.stageArrival(cin, clicks, "b1")
      drain()
      PackCore.stageArrival(vin, far.select(lit(-1L).as("user_id"),
        lit(-1L).as("view_id"), col("far").as("vts")), "b2")
      PackCore.stageArrival(cin, far.select(lit(-2L).as("cuser"),
        lit(-1L).as("click_id"), col("far").as("cts")), "b2")
      drain() // watermark passes every real view's window → nulls flush
      Tables.siteRead(s, "PackPipeline:739", run.out).filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("view_id"), col("click_id"))
    },

    // Exact-distinct BITMAP aggregation (plans/BitmapAgg — ClickHouse
    // groupBitmap / Doris BITMAP_UNION re-expressed as a Catalyst
    // TypedImperativeAggregate): count distinct users per event type by
    // segmenting the id domain — group by (key, id >> 16) OR-ing an
    // 8 KiB fixed bitset over (id & 0xFFFF), then SUM the per-segment
    // popcounts (segments partition the domain, so exact counts add).
    // The scale contrast with count(DISTINCT): the shuffle carries one
    // constant-size row per occupied (key, segment) instead of one row
    // per distinct (key, id) pair, the buffer is mergeable partial state
    // (map-side combine), and the answer is EXACT where
    // approx_count_distinct trades error for the same bounded shape.
    QDef("agg_bitmap_distinct",
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), shiftright(col("user_id"), 16).as("seg"),
          col("user_id").bitwiseAND(lit(65535L)).as("off"))
        .groupBy(col("event_type"), col("seg"))
        .agg(column(graft.plans.BitmapAgg(expression(col("off"))).toAggregateExpression())
            .as("card"),
          count(lit(1)).as("n"))
        .groupBy(col("event_type"))
        .agg(sum(col("card")).as("n_users"), sum(col("n")).as("n_rows"))
        .orderBy(col("event_type"))
    },

    // LEAKAGE-SAFE train/test split — the split you actually ship:
    // hash-bucket assignment (split_train_test's recipe) composed with
    // cross-split near-dup removal, because a test doc whose near-
    // duplicate sits in train invalidates the eval no matter how clean
    // the hash split was. LSH-then-VERIFY (TextDedup.crossSplitNearDups):
    // band-bucket candidates are confirmed by full signature agreement
    // (≥ 8/16 ⇒ est Jaccard ≥ 0.5) before a training doc is dropped —
    // bucket collision alone over-fires on a near-dup-heavy corpus and
    // would cost real data. Test stays authoritative; train is what
    // shrinks. Scale shape: the eval side is the small side by
    // construction, the 100 TB train side signs itself once and
    // equi-joins on (band, bkey); the verify join touches candidate
    // pairs only; nothing is pairwise. Signatures are BIGRAM-shingled
    // (the jaccardPairs discrimination rationale — this fixture's
    // 31-word vocabulary puts random unigram pairs at J ≈ 0.67) with
    // dedup_minhash_lsh's md5 grammar, so the oracle reproduces them
    // exactly.
    QDef("split_leakage_safe",
      ("""WITH base AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
        |words AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, length(l)),
        |            i -> array_to_string(l[i:i+1], ' ')))) AS w FROM base),
        |sigs AS (SELECT doc_id, """ +
        (0 until 16).map(i => s"min(md5('$i|' || w)) AS s$i").mkString(", ") +
        """ FROM words GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(s0||s1||s2||s3) AS bkey FROM sigs
        |  UNION ALL SELECT doc_id, 1, md5(s4||s5||s6||s7) FROM sigs
        |  UNION ALL SELECT doc_id, 2, md5(s8||s9||s10||s11) FROM sigs
        |  UNION ALL SELECT doc_id, 3, md5(s12||s13||s14||s15) FROM sigs),
        |bk AS (SELECT doc_id,
        |         strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS bucket
        |       FROM documents),
        |tok AS (SELECT band, bkey FROM bands JOIN bk USING (doc_id)
        |        WHERE bucket >= 13 GROUP BY band, bkey HAVING count(*) <= 64),
        |cand AS (SELECT DISTINCT t.doc_id AS t_id, e.doc_id AS e_id
        |         FROM bands t, bk bt, bands e, bk be, tok
        |         WHERE t.doc_id = bt.doc_id AND bt.bucket < 13
        |           AND e.doc_id = be.doc_id AND be.bucket >= 13
        |           AND t.band = e.band AND t.bkey = e.bkey
        |           AND tok.band = e.band AND tok.bkey = e.bkey),
        |leak AS (SELECT DISTINCT c.t_id AS doc_id
        |         FROM cand c JOIN sigs st ON c.t_id = st.doc_id
        |         JOIN sigs se ON c.e_id = se.doc_id
        |         WHERE (""" +
        (0 until 16).map(i =>
          s"CASE WHEN st.s$i = se.s$i THEN 1 ELSE 0 END").mkString(" + ") +
        """) >= 8)
        |SELECT d.doc_id,
        |  CASE WHEN bk.bucket >= 13 THEN 'test'
        |       WHEN l.doc_id IS NOT NULL THEN 'dropped'
        |       ELSE 'train' END AS split
        |FROM documents d JOIN bk ON d.doc_id = bk.doc_id
        |LEFT JOIN leak l ON d.doc_id = l.doc_id
        |ORDER BY d.doc_id""").stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tagged = docs.withColumn("bucket",
        graft.ops.Ops.hashBucket16(col("doc_id")))
      val train = tagged.filter(col("bucket") < 13)
      val test = tagged.filter(col("bucket") >= 13)
      val leaked = TextDedup.crossSplitNearDups(train, test, "doc_id", "text")
        .withColumn("leak", lit(1))
      tagged.join(leaked, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("bucket") >= 13, "test")
            .when(col("leak").isNotNull, "dropped")
            .otherwise("train").as("split"))
        .orderBy(col("doc_id"))
    },

    // K16 (live) — sharded JSONL TRAINING EXPORT: the terminal sink of a
    // curation pipeline (webdataset/JSONL shard convention — downstream
    // loaders stream whole shards, so shards must be token-bounded and
    // each shard ONE file). Shard id = global running token count div
    // budget via the chunked two-level prefix sum (a naive global window
    // would serialize the corpus onto one task); repartition(shard)
    // before partitionBy(shard) puts each shard in exactly one writer
    // task → exactly one JSONL file per shard dir. The declared result
    // is the manifest read back FROM THE SINK — doc counts, token sums
    // and id ranges per shard — so a lost doc, a split shard, or a
    // mis-assigned boundary all fail the oracle.
    QDef("k16_sink_training_shards",
      """WITH t AS (SELECT doc_id, source,
        |             CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |b AS (SELECT greatest(2000, (sum(n_tokens) + 4095) // 4096) AS eff FROM t),
        |c AS (SELECT doc_id, n_tokens,
        |        sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM t)
        |SELECT CAST((cum - n_tokens) // (SELECT eff FROM b) AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      val dir = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}/k16_shards"
      graft.io.Warehouse.deleteRecursively(s, dir)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      // maxShards = 4096: far above any fixture's implied shard count
      // (oracle unchanged — the cap never binds below ~8.2M tokens) but
      // a hard ceiling on per-shard-file commit cost at stress scale,
      // where the 2000-token test budget would otherwise imply tens of
      // thousands of one-file shard dirs (SCALE.md §4f)
      val sharded = graft.ops.Ops
        .tokenShards(docs, "doc_id", "n_tokens", budget = 2000L, maxShards = 4096)
        .select(col("doc_id"), col("source"), col("text"),
          col("n_tokens"), col("shard"))
      sharded.repartition(col("shard"))
        .write.partitionBy("shard").mode("overwrite").json(dir)
      val lt = org.apache.spark.sql.types.LongType
      val st = org.apache.spark.sql.types.StringType
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", lt),
        org.apache.spark.sql.types.StructField("source", st),
        org.apache.spark.sql.types.StructField("text", st),
        org.apache.spark.sql.types.StructField("n_tokens", lt)))
      s.read.schema(sch).json(dir)
        .withColumn("shard", input_file_name())
        .withColumn("shard",
          regexp_extract(col("shard"), "shard=(\\d+)", 1).cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard"))
    },

    // ST15 (live) — streaming dedup with WATERMARK-BOUNDED state
    // (StreamingOps.dedupStream over dropDuplicatesWithinWatermark, the
    // Spark 3.5+ API): plain
    // dropDuplicates on a streaming frame keeps key state FOREVER unless
    // the event-time column itself is part of the dedup key — the
    // classic unbounded-state footgun for "dedup by id" at 100 TB/day.
    // The WithinWatermark form expires each key's state once the
    // watermark passes its event time + delay, so state tracks the
    // frontier, not history. Emitted VALUES are arrival-order-dependent
    // under parallelism, so the declared result is the deduped KEY SET
    // only (deterministic by construction); the delay is sized past the
    // fixture's span so every duplicate collapses and the batch DISTINCT
    // oracle is exact — at deploy the same plan runs with the real
    // lateness budget.
    QDef("st15_stream_dedup_within_watermark",
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      val run = Runs.start(s, "st15_stream_dedup_within_watermark")
      PackCore.stageArrival(run.in,
        Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts")), "b1")
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val name = s"st15_live_run_${run.id}"
      val ss = Session.derived(s, Session.Stream)
      graft.streaming.StreamingOps.dedupStream(ss.readStream.schema(sch).parquet(run.in),
          "ts", "90 days", "user_id", "event_type")
        .select(col("user_id"), col("event_type"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      PackCore.memorySink(ss, name, s).orderBy(col("user_id"), col("event_type"))
    },

    // Mergeable-sketch ROLLUP (Apache DataSketches HLL, the Spark 3.5+
    // hll_* surface): per-(type, day) sketches are STORED as binary
    // columns, then any-range distinct counts come from unioning stored
    // sketches — the rollup architecture that answers "distinct users
    // any week/month/all-time" at 100 TB without ever re-scanning raw
    // data (exact distinct can't pre-aggregate: distinct-by-day doesn't
    // sum). The declared result carries the EXACT count per type (oracle-
    // reproducible) plus the sketch path's relative-error check against
    // it — a broken union or estimate fails the boolean, a broken store
    // fails the run. agg_bitmap_distinct is the exact sibling; this is
    // the mergeable-approximate one.
    QDef("agg_sketch_union",
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  true AS sketch_within_2pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val dir = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}/sketch_daily"
      graft.io.Warehouse.deleteRecursively(s, dir)
      val ev = Tables.events(s, d)
      // ingestion half: one HLL sketch per (type, day), stored binary
      ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .write.mode("overwrite").parquet(dir)
      // query half: union the STORED sketches across days, estimate
      val est = Tables.siteRead(s, "PackPipeline:961", dir)
        .groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact.join(est, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("est") - col("exact_users")) <=
            col("exact_users") * 0.02).as("sketch_within_2pct"))
        .orderBy(col("event_type"))
    },

    // SQL LATERAL correlated subquery — per-group top-k expressed the
    // way analysts write it (LATERAL was the one modern-SQL join surface
    // the pack's sql_* family hadn't exercised; Spark 4 and DuckDB both
    // ship it): for each nation, the 3 highest-balance customers via a
    // correlated ORDER BY ... LIMIT subquery. Catalyst decorrelates the
    // LATERAL into a ranked window/join — same physical shape as
    // sort_topk_per_key — so the sugar costs nothing at scale.
    QDef("sql_lateral_topk",
      """SELECT n.n_name, c.c_custkey, c.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) c
        |ORDER BY n.n_name, c.c_acctbal DESC, c.c_custkey""".stripMargin) { (s, d) =>
      Tables.nation(s, d).createOrReplaceTempView("sql_lat_nation")
      Tables.customer(s, d).createOrReplaceTempView("sql_lat_customer")
      s.sql("""SELECT n.n_name, c.c_custkey, c.c_acctbal
              |FROM sql_lat_nation n,
              |LATERAL (SELECT c_custkey, c_acctbal FROM sql_lat_customer
              |         WHERE c_nationkey = n.n_nationkey
              |         ORDER BY c_acctbal DESC, c_custkey LIMIT 3) c
              |ORDER BY n.n_name, c.c_acctbal DESC, c.c_custkey""".stripMargin)
    },

    // Error-safe arithmetic (the try_* family, ANSI SQL's answer to
    // "one bad row kills the batch job"): try_divide nulls on /0 where
    // strict mode throws, try_add nulls on BIGINT overflow instead of
    // wrapping, try_cast nulls malformed input. At 100 TB the difference
    // between NULL-and-continue and throw-at-row-3-billion is the whole
    // operator; the oracle states the same semantics with guarded CASEs.
    QDef("f46_try_arithmetic",
      """SELECT event_id,
        |  CASE WHEN CAST(event_id % 7 AS BIGINT) = 0 THEN NULL
        |       ELSE CAST(round(value / (event_id % 7), 6) AS DOUBLE) END AS safe_ratio,
        |  CASE WHEN event_id % 5 = 0 THEN 9223372036854775807
        |       ELSE NULL END AS overflow_guard,
        |  CASE WHEN event_id % 3 = 0
        |       THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |       ELSE TRY_CAST(props AS BIGINT) END AS props_num
        |FROM events WHERE event_id % 11 = 0 ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d).filter(col("event_id") % 11 === 0)
        .select(col("event_id"),
          round(expr("try_divide(value, event_id % 7)"), 6).as("safe_ratio"),
          // overflow path: Long.MaxValue + (event_id%5) overflows for
          // nonzero addends → NULL; %5==0 adds 0 and stays at max
          expr("try_add(9223372036854775807L, CAST(event_id % 5 AS BIGINT))")
            .as("overflow_guard"),
          // mixed-input cast: every third row casts the clean extracted
          // number (succeeds), the rest cast the raw JSON blob (NULLs) —
          // both branches of malformed-to-NULL in one column
          when(col("event_id") % 3 === 0,
            expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
            .otherwise(expr("try_cast(props AS BIGINT)")).as("props_num"))
        .orderBy(col("event_id"))
    },

    // ST16 (live) — streaming foreachBatch → JDBC UPSERT with BATCH-ID
    // idempotence: the most common production sink (stream → RDBMS
    // rollup table) done with its real exactly-once recipe. Each batch
    // aggregates DISTRIBUTED (per-user count + cent-exact totals), then
    // the SMALL aggregated frame upserts into embedded Derby via MERGE
    // inside ONE transaction that also records the batch id — a replayed
    // batch (checkpoint loss, redelivery) sees its id in BATCH_LOG and
    // SKIPS, so the accumulating MERGE never double-counts. The query
    // PROVES it: the same input is drained twice with two fresh
    // checkpoints (forced redelivery of batch 0); totals must equal ONE
    // delivery, which is exactly what the batch oracle states. Values
    // are 2-decimal fixture doubles → cent BIGINTs, exact on any engine.
    QDef("st16_stream_jdbc_upsert",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events WHERE event_id % 3 = 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val run = Runs.start(s, "st16_stream_jdbc_upsert")
      // ONE database per (JVM, fixture), tables recreated per run
      val url = PackCore.derbyUrl(d, "st16_db")
      val driver = "org.apache.derby.jdbc.EmbeddedDriver"
      Class.forName(driver)
      val boot = java.sql.DriverManager.getConnection(url)
      try {
        val st = boot.createStatement()
        for (t <- Seq("USER_TOTALS", "BATCH_LOG"))
          try st.executeUpdate(s"DROP TABLE $t")
          catch { case _: java.sql.SQLException => () } // first run: absent
        st.executeUpdate(
          "CREATE TABLE USER_TOTALS (USER_ID BIGINT PRIMARY KEY, N BIGINT, CENTS BIGINT)")
        st.executeUpdate("CREATE TABLE BATCH_LOG (BATCH_ID BIGINT PRIMARY KEY)")
      } finally boot.close()
      PackCore.stageArrival(run.in,
        Tables.events(s, d).filter(col("event_id") % 3 === 0)
          .select(col("user_id"), col("value")), "b1")
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      def drain(ckpt: String): Unit = {
        val q = Session.derived(s, Session.Stream).readStream.schema(sch).parquet(run.in)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            // heavy half distributed; the per-user rollup is small
            batch.groupBy(col("user_id"))
              .agg(count(lit(1)).as("n"),
                sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
              .coalesce(1) // ONE connection ⇒ ONE transaction with the log
              .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
                val c = java.sql.DriverManager.getConnection(url)
                try {
                  try {
                    c.setAutoCommit(false)
                    val seen = c.prepareStatement(
                      "SELECT 1 FROM BATCH_LOG WHERE BATCH_ID = ?")
                    seen.setLong(1, batchId)
                    if (!seen.executeQuery().next()) {
                      val m = c.prepareStatement(
                        """MERGE INTO USER_TOTALS t USING SYSIBM.SYSDUMMY1 s
                          |ON t.USER_ID = ?
                          |WHEN MATCHED THEN UPDATE SET t.N = t.N + ?, t.CENTS = t.CENTS + ?
                          |WHEN NOT MATCHED THEN INSERT (USER_ID, N, CENTS) VALUES (?, ?, ?)""".stripMargin)
                      var pending = 0
                      rows.foreach { r =>
                        val (u, n, cents) = (r.getLong(0), r.getLong(1), r.getLong(2))
                        m.setLong(1, u); m.setLong(2, n); m.setLong(3, cents)
                        m.setLong(4, u); m.setLong(5, n); m.setLong(6, cents)
                        m.addBatch(); pending += 1
                        // statement batching: one round per 1000 upserts,
                        // not per row — the constant that dominates a
                        // per-row executeUpdate loop at scale
                        if (pending == 1000) { m.executeBatch(); pending = 0 }
                      }
                      if (pending > 0) m.executeBatch(): Unit
                      val log = c.prepareStatement(
                        "INSERT INTO BATCH_LOG (BATCH_ID) VALUES (?)")
                      log.setLong(1, batchId)
                      log.executeUpdate()
                    } // else: redelivered batch — committed already, skip
                    c.commit()
                  } catch { case e: Throwable =>
                    // roll back BEFORE close: closing an active Derby
                    // transaction throws 25001, which would replace the
                    // root cause and leave the orphaned transaction's
                    // row locks blocking the task retry
                    try c.rollback() catch { case _: Exception => () }
                    throw e
                  }
                } finally c.close()
              }
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain(run.dir("ckpt1"))
      drain(run.dir("ckpt2")) // fresh checkpoint ⇒ batch 0 REDELIVERED ⇒ must be skipped
      s.read.format("jdbc").option("url", url).option("driver", driver)
        .option("dbtable", "USER_TOTALS").load()
        .select(col("USER_ID").as("user_id"), col("N").as("n"),
          col("CENTS").as("total_cents"))
        .orderBy(col("user_id"))
    },

    // SQL join-strategy HINTS — the escape hatch when the optimizer's
    // size estimates are wrong (a "small" dim behind a selective filter
    // Catalyst can't see through, or a broadcast that OOMs the driver at
    // deploy): /*+ SHUFFLE_HASH */ forces a shuffled hash join where the
    // planner would broadcast. The declared result pins that the hinted
    // plan computes the SAME answer (hints must never change semantics);
    // PlanSpec pins that the hint actually reaches the planner and that
    // MERGE/BROADCAST each select their strategy.
    QDef("sql_join_hints",
      """SELECT o.o_orderkey, c.c_mktsegment
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderkey % 25 = 0
        |ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("hint_orders")
      Tables.customer(s, d).createOrReplaceTempView("hint_customer")
      s.sql("""SELECT /*+ SHUFFLE_HASH(c) */ o.o_orderkey, c.c_mktsegment
              |FROM hint_orders o JOIN hint_customer c
              |  ON o.o_custkey = c.c_custkey
              |WHERE o.o_orderkey % 25 = 0
              |ORDER BY o.o_orderkey""".stripMargin)
    },

    // Full IVF-PQ serving (FAISS IndexIVFPQ shape) — the production ANN
    // index composed from the library's two STORED halves: the coarse
    // quantizer routes each query to its top-2 cells, and the ADC scan
    // reads ONLY those cells' PQ codes (8× compressed, nSub lookups per
    // candidate) — at 100 TB the query touches the probed fraction of
    // the code table and never the raw corpus embeddings.
    // ann_ivf_multiprobe and ann_pq_adc_topk declare the halves; this is
    // the composition a production deployment actually runs. Oracle =
    // the two halves' CTE stacks composed the same way.
    QDef("ann_ivfpq_topk",
      """WITH c AS (SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
        |           FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
        |cvec AS (SELECT label AS pb, list(m ORDER BY i) AS cv FROM c GROUP BY label),
        |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |qs AS (SELECT qid, pb, row_number() OVER (PARTITION BY qid ORDER BY
        |         round(list_reduce(list_transform(range(1, 65),
        |           i -> CAST(qe[i] AS DOUBLE) * cv[i]), (a,b) -> a+b), 6) DESC, pb) AS pr
        |       FROM q, cvec),
        |probe AS (SELECT qid, pb FROM qs WHERE pr <= 2),
        |cd AS (SELECT e.vec_id, CAST((t.i - 1) // 8 AS INTEGER) AS sub, c.label,
        |         sum(CAST(floor((CAST(e.embedding[t.i] AS DOUBLE) - c.m)
        |                        * (CAST(e.embedding[t.i] AS DOUBLE) - c.m) * 1e12 + 0.5) / 1e12
        |                  AS DECIMAL(28,12))) AS dist
        |       FROM embeddings e, range(1, 65) t(i) JOIN c ON c.i = t.i
        |       GROUP BY e.vec_id, sub, c.label),
        |codes AS (SELECT vec_id, sub, label AS code FROM
        |            (SELECT vec_id, sub, label,
        |               row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, label) AS rn
        |             FROM cd) WHERE rn = 1),
        |lut AS (SELECT q.qid, CAST((t.i - 1) // 8 AS INTEGER) AS lsub, c.label AS llabel,
        |          sum(CAST(floor((CAST(q.qe[t.i] AS DOUBLE) - c.m)
        |                         * (CAST(q.qe[t.i] AS DOUBLE) - c.m) * 1e12 + 0.5) / 1e12
        |                   AS DECIMAL(28,12))) AS dlut
        |        FROM q, range(1, 65) t(i) JOIN c ON c.i = t.i
        |        GROUP BY q.qid, lsub, llabel),
        |adc AS (SELECT l.qid, k.vec_id AS nid,
        |          round(CAST(sum(l.dlut) AS DOUBLE), 6) AS adist
        |        FROM codes k
        |        JOIN embeddings ce ON ce.vec_id = k.vec_id
        |        JOIN probe p ON p.pb = ce.label
        |        JOIN lut l ON l.qid = p.qid AND l.lsub = k.sub AND l.llabel = k.code
        |          AND k.vec_id <> l.qid
        |        GROUP BY l.qid, k.vec_id),
        |rr AS (SELECT qid, nid, adist,
        |         CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS INTEGER) AS rank
        |       FROM adc)
        |SELECT qid, nid, adist, rank FROM rr WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.ivfPqAdcTopKStored(
          PackExt.persistedPqCodes(s, d), PackExt.persistedCentroids(s, d),
          e.select(col("vec_id"), col("label").as("cell")),
          e.filter(col("vec_id") < 10), dims = 64, nSub = 8, k = 5, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    },

    // K17 (live) — INCREMENTAL SCD2 dimension maintenance: apply a CDC
    // batch to a STORED type-2 dimension without touching unaffected
    // data. The stored dim (built from history before the cutoff,
    // band-partitioned) meets a batch of new changes; only the affected
    // users' intervals are rebuilt — from their stored change points +
    // the batch, never the raw history — and only the affected BANDS are
    // dynamically overwritten (untouched users in those bands are
    // carried through; other bands' files are never rewritten). The
    // oracle is the whole point: the incrementally-maintained dimension
    // must equal scd2_intervals' FULL REBUILD over all events — a
    // boundary bug (a change-vs-carry misread across the cutoff, a lost
    // current-row close) fails the hash. At 100 TB the rewrite tracks
    // the day's churn, not the dimension.
    QDef("k17_sink_scd2_apply",
      """WITH e AS (SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |d AS (SELECT user_id, event_type, ts, event_id,
        |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t
        |      FROM e),
        |ch AS (SELECT user_id, event_type, ts, event_id FROM d
        |       WHERE prev_t IS NULL OR prev_t <> event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |FROM ch ORDER BY user_id, valid_from""".stripMargin) { (s, d) =>
      val dir = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}/k17_scd2"
      graft.io.Warehouse.deleteRecursively(s, dir)
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      // deterministic split: the last 6 hours are "today's CDC batch"
      val cut = ev.agg(max(col("ts"))).head().getTimestamp(0).toInstant
        .minus(java.time.Duration.ofHours(6))
      val cutLit = lit(java.sql.Timestamp.from(cut))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // change-point chain (same as scd2_intervals); keeps the anchor
      // event id so incremental ordering is reproducible
      def changePoints(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("prev_t", lag(col("event_type"), 1).over(w))
        .filter(col("prev_t").isNull || col("prev_t") =!= col("event_type"))
        .drop("prev_t")
      def withIntervals(df: org.apache.spark.sql.DataFrame) = df
        .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
          lead(col("ts"), 1).over(w).as("valid_to"), col("event_id"),
          (col("user_id") / 100).cast("long").as("band"))
      // v1: the stored dimension, banded one writer per partition
      val v1 = withIntervals(changePoints(ev.filter(col("ts") < cutLit)))
      graft.io.Warehouse.appendPartitioned(v1.repartition(col("band")), dir, Seq("band"))
      // the CDC batch and its blast radius
      val batch = ev.filter(col("ts") >= cutLit)
      val affectedUsers = batch.select(col("user_id")).distinct()
      // schema-supplied read: a fixture whose WHOLE history fits inside
      // the batch window leaves v1 empty (a dir of only _SUCCESS), and a
      // schema-inferring parquet read would throw instead of reducing
      // the apply to a full build from the batch
      val stored = s.read.schema(v1.schema).parquet(dir)
      val affectedBands = affectedUsers
        .select((col("user_id") / 100).cast("long").as("band")).distinct()
      // rebuild ONLY affected users: their stored change points become
      // pseudo-events (anchor ts + event id preserved) + the new batch,
      // re-chained; unaffected users in affected bands carry through
      val pseudo = stored.join(affectedUsers, Seq("user_id"), "left_semi")
        .select(col("user_id"), col("event_type"),
          col("valid_from").as("ts"), col("event_id"))
      val rebuilt = withIntervals(changePoints(
        pseudo.unionByName(batch)))
      val carried = stored
        .join(affectedBands, Seq("band"), "left_semi")
        .join(affectedUsers, Seq("user_id"), "left_anti")
        .select(rebuilt.columns.map(col).toIndexedSeq: _*)
      graft.io.Warehouse.overwritePartitions(
        rebuilt.unionByName(carried).repartition(col("band")), dir, Seq("band"))
      s.read.schema(v1.schema).parquet(dir)
        .select(col("user_id"), col("event_type"), col("valid_from"), col("valid_to"))
        .orderBy(col("user_id"), col("valid_from"))
    },

    // ST17 (live) — streaming CDC MERGE sink (StreamingOps
    // .runMergeToWarehouse, previously spec-only): each micro-batch
    // UPSERTs into the parquet warehouse on the key, so a late
    // re-delivery with corrected values OVERWRITES instead of
    // duplicating — the append sink's k3 sibling with CDC semantics.
    // Two arrivals: the original slice, then corrections for a third of
    // its keys; the declared result is the final table — a duplicated
    // key or a stale value fails the oracle, which states the
    // last-write-wins outcome relationally.
    QDef("st17_stream_merge_upsert",
      """SELECT event_id, user_id,
        |  CASE WHEN event_id % 21 = 0 THEN value + 1000 ELSE value END AS value
        |FROM events WHERE event_id % 7 = 0
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val run = Runs.start(s, "st17_stream_merge_upsert")
      val base = Tables.events(s, d).filter(col("event_id") % 7 === 0)
        .select(col("event_id"), col("user_id"), col("value"))
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      def drain(): Unit = {
        val q = graft.streaming.StreamingOps.runMergeToWarehouse(
          Session.derived(s, Session.Stream).readStream.schema(sch).parquet(run.in),
          run.out, Seq("event_id"), run.ckpt)
        q.awaitTermination()
      }
      PackCore.stageArrival(run.in, base, "b1")
      drain()
      PackCore.stageArrival(run.in,
        base.filter(col("event_id") % 21 === 0)
          .select(col("event_id"), col("user_id"),
            (col("value") + 1000).as("value")), "b2")
      drain() // corrections must overwrite, not duplicate
      Tables.siteRead(s, "PackPipeline:1344", run.out)
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    },

    // The CURATION PIPELINE END-TO-END as one declared composition —
    // quality gate → fingerprint dedup (keep-min) → benchmark
    // decontamination → hash split → token-budget sharding — the five
    // stages a pretraining corpus actually flows through, composed from
    // the library operators each stage already declares alone
    // (text_quality/dedup_fingerprint/decon_ngram_overlap/
    // split_train_test/k16). The declared result is the final shard
    // MANIFEST: any stage drifting (a dedup keeping the wrong survivor,
    // a contamination flag inverted, a split boundary moved) shifts
    // every downstream shard boundary and fails the hash. Scale shape is
    // each stage's own: broadcast eval grams, doc-keyed aggs, chunked
    // global cumsum — the corpus never shuffles by gram or token.
    QDef("pipeline_curation_e2e",
      """WITH base AS (SELECT doc_id, text, string_split(text,' ') AS l FROM documents),
        |tok AS (SELECT doc_id, text, l, CAST(length(l) AS BIGINT) AS n_tokens FROM base),
        |cand AS (SELECT * FROM tok WHERE doc_id % 25 <> 0 AND n_tokens >= 40),
        |fp AS (SELECT doc_id, text, l, n_tokens,
        |         md5(array_to_string(list_sort(list_distinct(l)), ' ')) AS f FROM cand),
        |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
        |dd AS (SELECT fp.* FROM fp JOIN keep USING (doc_id)),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, length(l)-3),
        |        i -> array_to_string(l[i:i+4], ' ')))) AS gram FROM dd),
        |evg AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(1, length(l)-3),
        |          i -> array_to_string(l[i:i+4], ' ')))) AS gram
        |        FROM tok WHERE doc_id % 25 = 0),
        |contam AS (SELECT DISTINCT g.doc_id FROM g JOIN evg USING (gram)),
        |clean AS (SELECT dd.* FROM dd LEFT JOIN contam c ON dd.doc_id = c.doc_id
        |          WHERE c.doc_id IS NULL),
        |tr AS (SELECT doc_id, n_tokens FROM clean
        |       WHERE strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 13),
        |c2 AS (SELECT doc_id, n_tokens,
        |         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM tr)
        |SELECT CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c2 GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      val tokd = Tables.documents(s, d)
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      // 1. quality gate (eval slice excluded from the corpus first)
      val cand = tokd.filter(col("doc_id") % 25 =!= 0 && col("n_tokens") >= 40)
      // 2. fingerprint dedup, keep the smallest doc id per fingerprint
      val keep = TextDedup.fingerprint(cand, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val dd = cand.join(keep, Seq("doc_id"), "left_semi")
      // 3. decontaminate against the eval slice (5-gram overlap)
      val evalDocs = tokd.filter(col("doc_id") % 25 === 0)
      val contaminated = TextDedup.contamination(dd, evalDocs, "doc_id", "text", n = 5)
        .filter(col("contaminated")).select(col("doc_id"))
      val clean = dd.join(contaminated, Seq("doc_id"), "left_anti")
      // 4. hash split, train bucket only (the shared split contract)
      val train = clean.filter(graft.ops.Ops.hashBucket16(col("doc_id")) < 13)
      // 5. token-budget sharding (global chunked cumsum) → manifest
      graft.ops.Ops.chunkedCumsum(
          train.select(col("doc_id"), col("n_tokens")).withColumn("all", lit("x")),
          "all", "doc_id", "n_tokens", "cum")
        .withColumn("shard", ((col("cum") - col("n_tokens")) / 2000).cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard"))
    },

    // Referential-integrity audit — the DQ check every warehouse load
    // runs before publishing: per foreign-key edge, how many child rows
    // point at a missing parent. Three edges in ONE job: child keys are
    // tagged by edge and LEFT-joined against the union of parent key
    // sets (column-pruned to the key alone — the parent scan reads one
    // column however wide the table), orphans = unmatched rows. At
    // 100 TB this is one hash join on (edge, key) with both sides
    // key-only; a bloom pre-filter (join_semi_bloom) slots in front
    // unchanged when the parent side outgrows the shuffle budget.
    QDef("dq_referential_integrity",
      """SELECT fk, n_child, n_orphans FROM (
        |  SELECT 'events.user_id->supplier' AS fk,
        |    CAST(count(*) AS BIGINT) AS n_child,
        |    CAST(sum(CASE WHEN p.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |  FROM events c LEFT JOIN supplier p ON c.user_id = p.s_suppkey
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey->orders',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN p.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem c LEFT JOIN orders p ON c.l_orderkey = p.o_orderkey
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN p.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders c LEFT JOIN customer p ON c.o_custkey = p.c_custkey
        |) ORDER BY fk""".stripMargin) { (s, d) =>
      // the first edge is DELIBERATELY violated (event actors are not
      // suppliers) so the audit's nonzero path is exercised; the two
      // TPC-H-consistent edges pin the clean case
      val children =
        Tables.events(s, d).select(col("user_id").as("k"))
          .withColumn("fk", lit("events.user_id->supplier"))
        .unionByName(Tables.lineitem(s, d).select(col("l_orderkey").as("k"))
          .withColumn("fk", lit("lineitem.l_orderkey->orders")))
        .unionByName(Tables.orders(s, d).select(col("o_custkey").as("k"))
          .withColumn("fk", lit("orders.o_custkey->customer")))
      val parents =
        Tables.supplier(s, d).select(col("s_suppkey").as("pk")).distinct()
          .withColumn("fk", lit("events.user_id->supplier"))
        .unionByName(Tables.orders(s, d).select(col("o_orderkey").as("pk")).distinct()
          .withColumn("fk", lit("lineitem.l_orderkey->orders")))
        .unionByName(Tables.customer(s, d).select(col("c_custkey").as("pk")).distinct()
          .withColumn("fk", lit("orders.o_custkey->customer")))
        .withColumn("hit", lit(1))
      children.join(parents, col("k") === col("pk") &&
          children("fk") === parents("fk"), "left")
        .select(children("fk").as("fk"), col("hit"))
        .groupBy(col("fk"))
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .orderBy(col("fk"))
    },

    // The PDF TICKET PIPELINE END-TO-END — the reference's flagship cron
    // flow (main.tf:851-921 pdf_etl_flow) as ONE declared composition,
    // run as three cron firings against a growing mailbox:
    //   extract  (extract_data_pdf:56-147): warehouse watermark
    //            max(fecha)+1d with the two-digit-year fixup, "Gmail
    //            after:" filter, %PDF staging with the head_object
    //            already-staged skip;
    //   transform(transform_data_pdf:138-160): binaryFile scan of raw/,
    //            magic-bytes gate, REAL PDF text extraction, U1 ticket
    //            parse, CSV to processed/;
    //   load     (load_data:16-36 + 40-73 gate discipline): explicit-
    //            schema CSV read, anti-join dedup gate on nro_ticket,
    //            const-column enrich, parquet append.
    // Firing 1 sees only the old mail (seeds the warehouse), firing 2
    // the full mailbox (the watermark must cut the work to the new
    // tickets), firing 3 nothing new (watermark + staging-skip + gate
    // make it a provable no-op). The declared result is the final
    // warehouse at ITEM grain — a watermark off by a day, a gate that
    // dedups too much/little, or a re-fired load duplicating rows all
    // shift the multiset and fail the hash. The oracle restates the
    // corpus relationally (parse∘render ≡ projection, proven by u1/u3).
    // Scale shape: NOTHING corpus-sized crosses the driver — the mailbox
    // stages once to its own parquet store (distributed write), each
    // firing's `after:`/cutoff cut is a pushed scan predicate, and the
    // PDF staging writes run on executors via foreachPartition;
    // parse/gate/append are distributed, the gate's loaded side is a
    // pruned single column. Driver traffic is two scalars per firing
    // (watermark + emptiness probe).
    QDef("pipeline_pdf_e2e",
      s"""WITH it AS (
         |  SELECT l.l_orderkey AS nro_ticket,
         |    CAST(strptime(strftime(o.o_orderdate,'%d/%m/') || '20' || strftime(o.o_orderdate,'%y'), '%d/%m/%Y') AS DATE) AS fecha,
         |    ${PackParsers.catCase} AS categ,
         |    p.p_name AS prod,
         |    CASE WHEN l.l_linenumber % 3 = 0 THEN 1 ELSE CAST(l.l_quantity AS BIGINT) END AS cant,
         |    CASE WHEN l.l_linenumber % 3 = 0 THEN CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 0.5 AS DOUBLE) ELSE 0.0 END AS peso,
         |    CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS p_unit,
         |    CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS p_total,
         |    CAST(l.l_extendedprice AS DECIMAL(18,2)) AS tot_dec
         |  FROM lineitem l
         |  JOIN part p ON l.l_partkey = p.p_partkey
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE l.l_orderkey % 97 = 0),
         |tot AS (
         |  SELECT nro_ticket, CAST(sum(tot_dec) AS DOUBLE) AS total_ticket_bruto,
         |         CAST(round(sum(tot_dec) * 0.3, 2) AS DOUBLE) AS total_ticket_meli
         |  FROM it GROUP BY nro_ticket)
         |SELECT it.nro_ticket, it.fecha, it.categ, it.prod, it.cant, it.peso,
         |       it.p_unit, it.p_total, tot.total_ticket_bruto, tot.total_ticket_meli,
         |       'TICKET' AS flujo
         |FROM it JOIN tot USING (nro_ticket)
         |ORDER BY nro_ticket, prod, p_total, categ""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.functions.Exprs
      val run = Runs.start(s, "pipeline_pdf_e2e")
      val raw = run.dir("raw")
      val proc = run.dir("processed")
      val wh = run.sink("carrefour_data")
      val slice = col("l_orderkey") % 97 === 0
      // fixup space: dd/MM/yy → dd/MM/20yy (the reference's '20'||yy rule,
      // extract_data_pdf:60-64 — 1990s fixtures land in 209x on BOTH
      // engines, order-preserved)
      def whFiles(): Seq[java.io.File] = {
        val f = new java.io.File(wh)
        if (f.isDirectory) f.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
        else Nil
      }
      val itemSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("nro_ticket", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("fecha", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("categ", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("prod", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("cant", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("peso", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("p_unit", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("p_total", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("total_ticket_bruto", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("total_ticket_meli", org.apache.spark.sql.types.DoubleType)))
      // the mailbox IS external server state — stage it ONCE to its own
      // store (key, mail date, rendered body → parquet, a distributed
      // write); each cron firing then issues only the FILTERED listing
      // query against it, the way the reference queries Gmail with
      // `after:` — the date cuts are Column predicates pushed to the
      // mailbox scan, and the PDF staging writes happen on EXECUTORS
      // (foreachPartition), so no corpus-scale rows ever cross the driver
      val mailboxDir = run.sink("mailbox")
      PackParsers.ticketTextsFiltered(s, d, slice)
        .select(regexp_extract(col("text"), "Nro T\\. (\\d+)", 1)
          .cast("long").as("nro"),
          Exprs.toDateDmy(Exprs.fixTwoDigitYear(
            regexp_extract(col("text"), "Fecha (\\S+) ", 1))).as("fd"),
          col("text"))
        .write.parquet(mailboxDir)
      def fireCron(mailboxCutoff: Option[java.sql.Date]): Unit = {
        // -- extract: watermark from what's loaded (max fecha + 1 day);
        // empty warehouse → the reference's fallback branch (no cut)
        val wmOpt: Option[java.sql.Date] =
          if (whFiles().nonEmpty)
            Some(Tables.siteRead(s, "PackPipeline:1564", wh)
              .agg(date_add(max(to_date(col("fecha"), "dd/MM/yyyy")), 1).as("wm"))
              .head.getDate(0))
          else None
        val listed = Seq(
          mailboxCutoff.map(cut => col("fd") < lit(cut)),
          wmOpt.map(wm => col("fd") >= lit(wm)))
          .flatten.foldLeft(Tables.siteRead(s, "PackPipeline:1571", mailboxDir))(_.filter(_))
        val rawDir = raw // serializable capture, not the QDef closure
        listed.select(col("nro"), col("text")).foreachPartition {
          (rows: Iterator[org.apache.spark.sql.Row]) =>
            rows.foreach { r =>
              val f = new java.io.File(rawDir, f"Ticket_${r.getLong(0)}%09d.pdf")
              if (!f.exists) // head_object already-staged skip (extract_data_pdf:141-147)
                java.nio.file.Files.write(f.toPath,
                  graft.parsers.Pdf.writePdf(r.getString(1).split("\n").toSeq))
            }
        }
        // -- transform: every raw/ PDF, magic gate, real text extraction,
        // ticket parse, batch CSV to processed/ (reprocess-all like the
        // reference; the load gate owns exactly-once)
        val items = s.read.format("binaryFile").load(raw)
          .select(col("content")).as[Array[Byte]]
          .mapPartitions(_.iterator
            .filter(b => b.length > 4 && b(0) == '%' && b(1) == 'P' &&
              b(2) == 'D' && b(3) == 'F') // F3 magic bytes
            .flatMap(b => graft.parsers.TicketParser.parse(
              graft.parsers.Pdf.extractText(b))))
          .toDF()
        items.write.mode("overwrite").option("header", "true").csv(proc)
        // -- load: explicit-schema CSV read, anti-join gate, enrich, append
        val staged = s.read.option("header", "true").schema(itemSchema).csv(proc)
        val gated =
          if (whFiles().nonEmpty)
            graft.ops.Ops.antiJoin(staged,
              Tables.siteRead(s, "PackPipeline:1599", wh).select(col("nro_ticket")),
              Seq("nro_ticket"))
          else staged
        val batch = gated.withColumn("flujo", lit("TICKET")).persist() // F6 const enrich
        // persist: the emptiness probe and the append otherwise each run
        // the full gate plan (warehouse read + anti-join over the parse)
        try { if (!batch.isEmpty) batch.write.mode("append").parquet(wh) }
        finally { batch.unpersist(); () }
      }
      fireCron(Some(java.sql.Date.valueOf("2095-01-01"))) // old mail only
      fireCron(None) // full mailbox — watermark cuts to the new tickets
      fireCron(None) // nothing new — provable no-op
      Tables.siteRead(s, "PackPipeline:1611", wh)
        .select(col("nro_ticket"), to_date(col("fecha"), "dd/MM/yyyy").as("fecha"),
          col("categ"), col("prod"), col("cant"), col("peso"), col("p_unit"),
          col("p_total"), col("total_ticket_bruto"), col("total_ticket_meli"),
          col("flujo"))
        .orderBy(col("nro_ticket"), col("prod"), col("p_total"), col("categ"))
    },

    // The MP REPORT PIPELINE END-TO-END — the reference's webhook-driven
    // state machine (main.tf:924-999 mp_report_etl_flow) as ONE declared
    // composition, run as two webhook delivery rounds (the second
    // re-delivers everything — providers resend):
    //   webhook+extract (webhook_mp_report:40-52, extract_data_mp:
    //     100-147): filename grammar Report_<date>_<rid>.<ext>, staging
    //     gate against the raw/∪processed/ listing by parsed report id;
    //   stage: even report ids land as `;`-CSV with canonical headers,
    //     odd ids as REAL .xlsx workbooks with the Spanish header
    //     dialect (the two formats load_data:273-276 accepts);
    //   transform (transform_data_mp:38-66): distributed CSV scan +
    //     distributed workbook parse, filename→(rid, report_date)
    //     recovery, Spanish→canonical dialect rename + unionByName,
    //     then raw/ → processed/ archive move;
    //   load (load_data:39-123): report-grain anti-join gate vs loaded
    //     REPORT_IDs, parquet append.
    // Declared result is the warehouse at transaction grain; the oracle
    // restates it from events. A resent webhook that re-ingests, a
    // dialect rename that misaligns a column, or an archive that loses a
    // file before it is read all fail the hash. Scale shape: only
    // filenames and the per-report staging cross the driver (the
    // webhook payload IS driver-grain); scans, the dialect union, the
    // gate, and the append are distributed.
    QDef("pipeline_mp_e2e",
      """SELECT user_id % 23 AS report_id,
        |  DATE '2024-01-01' + CAST(user_id % 23 AS INTEGER) AS report_date,
        |  event_id AS source_id,
        |  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS settlement_date,
        |  event_type AS transaction_type,
        |  CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS monto,
        |  user_id AS pos_id,
        |  'user_' || CAST(user_id AS VARCHAR) AS payer_name
        |FROM events WHERE event_id % 131 = 0
        |ORDER BY report_id, source_id""".stripMargin) { (s, d) =>
      import graft.functions.Exprs
      val run = Runs.start(s, "pipeline_mp_e2e")
      val raw = run.dir("raw")
      val procD = run.dir("processed")
      val wh = run.sink("mp_data")
      // Spanish headers single-sourced from the F5 dialect table
      // (Schemas.mpDialectEsToEn, the reference's verbatim fallback
      // strings), projected onto this report's 6 columns
      val canonical = Map(
        "SOURCE_ID" -> "source_id", "SETTLEMENT_DATE" -> "settlement_date",
        "TRANSACTION_TYPE" -> "transaction_type",
        "TRANSACTION_AMOUNT" -> "monto",
        "POS_ID" -> "pos_id", "PAYER_NAME" -> "payer_name")
      val esToEn: Map[String, String] = graft.schemas.Schemas.mpDialectEsToEn
        .collect { case (es, en) if canonical.contains(en) => es -> canonical(en) }
      val enToEs = esToEn.map(_.swap)
      // report corpus: transactions keyed into 23 reports by user band
      val txns = Tables.events(s, d).filter(col("event_id") % 131 === 0)
        .select((col("user_id") % 23).as("rid"),
          col("event_id").as("source_id"),
          date_format(to_date(col("ts")), "yyyy-MM-dd").as("settlement_date"),
          col("event_type").as("transaction_type"),
          col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)).as("monto"),
          col("user_id").as("pos_id"),
          concat(lit("user_"), col("user_id").cast("string")).as("payer_name"))
      val fileSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("settlement_date", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("transaction_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("monto", org.apache.spark.sql.types.DecimalType(12, 2)),
        org.apache.spark.sql.types.StructField("pos_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payer_name", org.apache.spark.sql.types.StringType)))
      val esSchema = org.apache.spark.sql.types.StructType(
        fileSchema.fields.map(f => f.copy(name = enToEs(f.name))))
      def listedRids(): Set[Long] =
        (Option(new java.io.File(raw).listFiles()).getOrElse(Array()) ++
         Option(new java.io.File(procD).listFiles()).getOrElse(Array()))
          .flatMap(f => Exprs.reportFilenameRe.r.findFirstMatchIn(f.getName)
            .map(_.group(3).toLong)).toSet
      def whNonEmpty(): Boolean = {
        val f = new java.io.File(wh)
        f.isDirectory && f.listFiles().exists(_.getName.endsWith(".parquet"))
      }
      // the provider's report store is external state — stage it ONCE to
      // parquet (a distributed write), the same discipline as the pdf
      // pipeline's mailbox (r14). Each delivery then writes the per-report
      // CSV/XLSX files from EXECUTORS (foreachPartition over rid): no
      // corpus-scale rows ever cross the driver. The inbox dir is a shared
      // filesystem path by nature (local FS here; a cluster would point it
      // at the mounted inbox volume, the same contract as any file sink).
      val corpusDir = run.sink("corpus")
      def webhookDelivery(rids: Seq[Long]): Unit = {
        // -- extract: staging gate by parsed report id over the bucket
        // listing (extract_data_mp:115-138), then stage CSV or XLSX
        val staged = listedRids()
        val toStage = rids.filterNot(staged)
        if (toStage.nonEmpty) {
          // serializable captures only — naming the QDef closure's locals
          // (`s`, the schema vals) from inside foreachPartition would drag
          // the SparkSession into the task closure
          val rawDir = raw
          val enNames = fileSchema.fieldNames.toSeq
          val esNames = enNames.map(enToEs)
          Tables.siteRead(s, "PackPipeline:1718", corpusDir)
            .filter(col("rid").isin(toStage: _*))
            // one partition per report id (hash collisions just co-locate
            // two reports in a partition; the per-partition groupBy splits
            // them back out) — each executor writes its own workbooks
            .repartition(toStage.size, col("rid"))
            .foreachPartition { (it: java.util.Iterator[org.apache.spark.sql.Row]) =>
              import scala.jdk.CollectionConverters._
              // a report is delivery-grain (bounded by contract: one
              // webhook payload) — buffering ONE partition's reports is
              // the executor-side analog of the old per-file string build
              it.asScala.toSeq.groupBy(_.getLong(0)).foreach { case (rid, rs) =>
                val rows = rs.map(r => (1 until r.length).map(r.get))
                if (rid % 2 == 0) {
                  // canonical-dialect `;`-CSV
                  val sb = new StringBuilder(enNames.mkString(";"))
                  rows.foreach { r =>
                    sb.append('\n')
                    sb.append(r.map(v => if (v == null) "" else v.toString).mkString(";"))
                  }
                  java.nio.file.Files.write(
                    new java.io.File(rawDir, Exprs.reportFileName(rid, "csv")).toPath,
                    sb.toString.getBytes("UTF-8"))
                } else {
                  // Spanish-dialect REAL workbook through the xlsx writer
                  graft.sources.Xlsx.writeFileRows(esNames, rows,
                    new java.io.File(rawDir, Exprs.reportFileName(rid, "xlsx")).toString)
                }
              }
            }
        }
        // -- transform: distributed scans of BOTH formats, filename →
        // (report_id, report_date), dialect rename + unionByName. A
        // delivery may stage only one format (or, on a re-delivery with
        // nothing new, none) — scan only what the inbox actually holds.
        def inboxHas(ext: String): Boolean =
          Option(new java.io.File(raw).listFiles()).getOrElse(Array())
            .exists(_.getName.endsWith(ext))
        def transformAndLoad(): Unit = {
        val emptySide = s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(
            org.apache.spark.sql.types.StructField("_file",
              org.apache.spark.sql.types.StringType) +: fileSchema.fields))
        val fromCsv =
          if (inboxHas(".csv"))
            s.read.option("header", "true").option("sep", ";")
              .schema(fileSchema)
              .csv(raw + "/*.csv")
              .withColumn("_file", input_file_name())
          else emptySide
        val fromXlsx =
          if (inboxHas(".xlsx")) graft.sources.Xlsx.readWithPath(s, raw, esSchema)
          else emptySide
        // dialectUnion owns the Spanish→canonical rename (F5); the
        // empty side's already-canonical names pass through unrenamed
        val batch = graft.ops.Ops.dialectUnion(fromCsv, fromXlsx, esToEn)
          .withColumn("report_id", Exprs.regexFilename(col("_file"), 3).cast("long"))
          .withColumn("report_date",
            Exprs.regexFilename(col("_file"), 2).cast("date"))
          .drop("_file")
        // materialize before the archive move invalidates the input files
        batch.write.mode("overwrite").parquet(procD + "/_batch")
        // archive: raw/ → processed/ (transform_data_mp:18-36)
        Option(new java.io.File(raw).listFiles()).getOrElse(Array())
          .filter(f => f.getName.endsWith(".csv") || f.getName.endsWith(".xlsx"))
          .foreach { f =>
            java.nio.file.Files.move(f.toPath,
              new java.io.File(procD, f.getName).toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        // -- load: report-grain gate vs loaded REPORT_IDs (load_data:40-73)
        val converted = Tables.siteRead(s, "PackPipeline:1790", procD + "/_batch")
        val gated = (
          if (whNonEmpty())
            graft.ops.Ops.antiJoin(converted,
              Tables.siteRead(s, "PackPipeline:1794", wh).select(col("report_id")).distinct(),
              Seq("report_id"))
          else converted).persist() // one gate execution for probe + append
        try { if (!gated.isEmpty) gated.write.mode("append").parquet(wh) }
        finally { gated.unpersist(); () }
        // lifecycle invariant: every consumed file left the inbox
        require(!new java.io.File(raw).listFiles().exists(f =>
          f.getName.endsWith(".csv") || f.getName.endsWith(".xlsx")),
          "pipeline_mp_e2e: raw/ must be empty after the archive move")
        }
        if (inboxHas(".csv") || inboxHas(".xlsx")) transformAndLoad()
      }
      txns.write.parquet(corpusDir)
      // delivery manifest: 23 report ids — metadata-grain collect (the
      // webhook names reports, it doesn't carry rows)
      val allRids = Tables.siteRead(s, "PackPipeline:1817", corpusDir).select(col("rid")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
      webhookDelivery(allRids.filter(_ < 12)) // first delivery window
      webhookDelivery(allRids) // full re-delivery — gates must dedup
      Tables.siteRead(s, "PackPipeline:1822", wh)
        .select(col("report_id"), col("report_date"), col("source_id"),
          col("settlement_date").cast("date").as("settlement_date"),
          col("transaction_type"), col("monto").cast("double").as("monto"),
          col("pos_id"), col("payer_name"))
        .orderBy(col("report_id"), col("source_id"))
    },

    // The BANK-PAYMENT MAIL PIPELINE END-TO-END — the reference's third
    // and last state machine (extract_data_bank_pay →
    // transform_data_bank_pay → load_data:164-255), completing the e2e
    // trilogy beside pipeline_pdf_e2e / pipeline_mp_e2e:
    //   extract (extract_data_bank_pay:83-147): warehouse watermark
    //     max(fecha_pago)+1d with an empty-table fallback, mail-date
    //     "after:" cut, already-loaded staging gate on message_id, each
    //     kept mail staged as a JSON document (the S4/K2 seam — the
    //     reference stages one JSON object per mail in raw/);
    //   transform (transform_data_bank_pay:29-69): explicit-schema JSON
    //     scan of everything staged, the U2 HTML token-walk parse on
    //     executors (error mails fail the required-Monto gate and drop);
    //   load (load_data:164-255): row-grain anti-join gate on the md5
    //     surrogate id, typed conform (fecha dd/MM/yyyy → DATE,
    //     hh:mm → hh:mm:ss), parquet append.
    // Three firings against a growing mailbox (seed / incremental /
    // no-op), same discipline as the PDF flow. Only the firing's staged
    // mail batch is driver-coordinated (the reference's per-mail fetch
    // loop); scan, parse, both gates, and the append are distributed.
    QDef("pipeline_bank_e2e",
      """SELECT
        |  md5(strftime(ts,'%d/%m/%Y') || '_' || strftime(ts,'%H:%M') || ':00_' ||
        |      CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) || '_' || event_type ||
        |      '_Tarjeta_Santander_ARS') AS id,
        |  'msg-' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS message_id,
        |  CAST(ts AS DATE) AS fecha_pago,
        |  strftime(ts,'%H:%M') || ':00' AS hora_pago,
        |  CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS monto,
        |  'ARS' AS divisa,
        |  'Tarjeta_Santander' AS tarjeta,
        |  lpad(CAST(user_id AS VARCHAR), 4, '0') AS nro_tarjeta,
        |  event_type AS comercio,
        |  CAST(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 5 + 1 AS INTEGER) AS cuotas
        |FROM events WHERE event_type <> 'error' AND event_id % 89 = 0
        |ORDER BY message_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val run = Runs.start(s, "pipeline_bank_e2e")
      val raw = run.dir("raw")
      val wh = run.sink("bank_payments")
      val slicePred = col("event_id") % 89 === 0
      def whNonEmpty(): Boolean = {
        val f = new java.io.File(wh)
        f.isDirectory && f.listFiles().exists(_.getName.endsWith(".parquet"))
      }
      val docSchema = org.apache.spark.sql.Encoders
        .product[graft.parsers.MailParser.MailDoc].schema
      // the mailbox split date: midpoint of the event span (derived from
      // the fixture so any regenerated vintage keeps both sides non-empty)
      val Array(mn, mx) = Tables.events(s, d).filter(slicePred)
        .agg(min(to_date(col("ts"))), max(to_date(col("ts"))))
        .head.toSeq.map(_.asInstanceOf[java.sql.Date]).toArray
      // an empty slice (possible on a tiny regenerated fixture) makes
      // both aggregates NULL — degrade to an arbitrary split so the
      // firings run against an empty mailbox and the declared result is
      // the empty warehouse, instead of an NPE mid-query
      val split =
        if (mn == null) java.sql.Date.valueOf("2024-01-01")
        else java.sql.Date.valueOf(
          mn.toLocalDate.plusDays(
            java.time.temporal.ChronoUnit.DAYS.between(
              mn.toLocalDate, mx.toLocalDate) / 2))
      var batchNo = 0
      def fireCron(mailboxPred: Column): Unit = {
        val mailDate = to_date(substring(col("date"), 1, 10))
        // -- extract: watermark cut + already-loaded staging gate
        val afterWm: Column =
          if (whNonEmpty()) {
            val wm = Tables.siteRead(s, "PackPipeline:1898", wh)
              .agg(date_add(max(col("fecha_pago")), 1)).head.getDate(0)
            mailDate >= lit(wm)
          } else lit(true) // empty-table fallback branch
        val candidates = PackParsers.mailDocs(s, d, slicePred).toDF()
          .filter(mailboxPred && afterWm)
        val fresh = (
          if (whNonEmpty())
            graft.ops.Ops.antiJoin(candidates,
              Tables.siteRead(s, "PackPipeline:1907", wh).select(col("message_id")).distinct(),
              Seq("message_id"))
          else candidates).persist() // probe + JSON staging share one run
        try if (!fresh.isEmpty) {
          // each firing stages under its own batch dir so raw/ ACCUMULATES
          // like the reference's bucket (extract_data_bank_pay:185-192) —
          // the transform step then really does re-parse everything staged
          // and the id-grain gate is what keeps the append idempotent
          fresh.write.mode("overwrite").json(raw + s"/batch$batchNo")
          batchNo += 1
          // -- transform: everything staged, parsed on executors; the
          // required-Monto gate drops error mails
          val parsed = s.read.schema(docSchema)
            .option("recursiveFileLookup", "true").json(raw)
            .as[graft.parsers.MailParser.MailDoc]
            .flatMap(graft.parsers.MailParser.parse _)
            .toDF()
          // -- load: id-grain gate + typed conform + append
          val conformed = parsed.select(col("id"), col("message_id"),
            to_date(col("fecha_pago"), "dd/MM/yyyy").as("fecha_pago"),
            col("hora_pago"), col("monto").cast("double").as("monto"),
            col("divisa"), col("tarjeta"), col("nro_tarjeta"),
            col("comercio"), col("cuotas"))
          val gated = (
            if (whNonEmpty())
              graft.ops.Ops.antiJoin(conformed,
                Tables.siteRead(s, "PackPipeline:1933", wh).select(col("id")).distinct(),
                Seq("id"))
            else conformed).persist() // probe + append share one parse run
          try { if (!gated.isEmpty) gated.write.mode("append").parquet(wh) }
          finally { gated.unpersist(); () }
        }
        finally { fresh.unpersist(); () }
      }
      val mailDate = to_date(substring(col("date"), 1, 10))
      fireCron(mailDate < lit(split)) // old mail only — seeds the table
      fireCron(lit(true)) // full mailbox — watermark cuts to the new mails
      fireCron(lit(true)) // nothing new — provable no-op
      if (whNonEmpty())
        Tables.siteRead(s, "PackPipeline:1946", wh).orderBy(col("message_id"))
      else
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq.empty))
    },

    // URL-canonicalization dedup — the web-corpus pre-dedup normalizer
    // (CommonCrawl / RefinedWeb discipline): scheme+host case, default
    // port, fragment, trailing slash, tracking params, and query-param
    // ORDER are all presentation noise; canonical-form grouping is the
    // first dedup pass any crawled corpus runs, upstream of content
    // hashing. The plan renders each document's URL in a deliberately
    // messy per-row variant (three variants share one identity),
    // canonicalizes with Exprs.canonicalizeUrl (codegen'd regexp/split/
    // array_sort built-ins — no UDF on the per-URL hot path), and groups.
    // The oracle restates the canonical form relationally, so a
    // canonicalizer that misses ANY of the six noise axes splits a group
    // and fails the count. Scale shape: narrow per-row projection + ONE
    // hash aggregation on the canonical string — the same plan at 100 TB.
    QDef("dedup_url_canonical",
      """SELECT 'https://www.src' || CAST((doc_id // 3) % 7 AS VARCHAR) ||
        |         '.example.com/docs/' || CAST(doc_id // 3 AS VARCHAR) ||
        |         '?a=1&b=2' AS canonical_url,
        |       min(doc_id) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_variants
        |FROM documents GROUP BY doc_id // 3
        |ORDER BY canonical_url, keep_id""".stripMargin) { (s, d) =>
      import graft.functions.Exprs
      val rendered = Tables.documents(s, d)
        .select(col("doc_id"), (col("doc_id") / 3).cast("long").as("g"))
        .withColumn("url", concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
          lit("://"),
          when(col("doc_id") % 3 === 0,
            concat(lit("WWW.SRC"), (col("g") % 7).cast("string"),
              lit(".EXAMPLE.COM")))
            .otherwise(concat(lit("www.src"), (col("g") % 7).cast("string"),
              lit(".example.com"))),
          when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit("")),
          lit("/docs/"), col("g").cast("string"),
          when(col("doc_id") % 3 === 1, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 2 === 0, lit("?b=2&a=1&utm_source=news"))
            .otherwise(lit("?a=1&b=2")),
          when(col("doc_id") % 3 === 2, lit("#sec")).otherwise(lit(""))))
      rendered
        .select(col("doc_id"), Exprs.canonicalizeUrl(col("url")).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_variants"))
        .orderBy(col("canonical_url"), col("keep_id"))
    },

    // K18 (live) — corpus VERSION DIFF through the transactional sink's
    // retained snapshots: the governance question every dataset release
    // answers ("what changed since the last snapshot?") computed from
    // the versioned reads themselves, not from bookkeeping. Two
    // overwrite commits publish two retained versions; the diff reads
    // BOTH versions by number and full-outer-joins their (doc_id,
    // content-hash) projections → added / removed / modified /
    // unchanged. The oracle restates the statuses from the slice
    // predicates — a version pointer off by one, an append leaking into
    // the old snapshot, or a hash comparison inverted all shift the
    // counts. Scale shape: two key+hash column-pruned scans and one
    // full-outer hash join on doc_id; the content hash travels as 32
    // bytes per row however wide the documents are.
    QDef("k18_corpus_version_diff",
      """WITH v1 AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
        |v2 AS (SELECT doc_id, doc_id % 7 = 0 AS modified FROM documents
        |       WHERE doc_id % 11 <> 3),
        |j AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |        CASE WHEN v1.doc_id IS NULL THEN 'added'
        |             WHEN v2.doc_id IS NULL THEN 'removed'
        |             WHEN v2.modified THEN 'modified'
        |             ELSE 'unchanged' END AS status
        |      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        |FROM j GROUP BY status ORDER BY status""".stripMargin) { (s, d) =>
      val loc = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}/k18_vd"
      graft.io.Warehouse.deleteRecursively(s, loc)
      val docs = Tables.documents(s, d)
      val v1 = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), md5(col("text")).as("h"))
      val v2 = docs.filter(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("h"))
      v1.write.format("graft-atomic").option("path", loc).mode("overwrite").save()
      v2.write.format("graft-atomic").option("path", loc).mode("overwrite").save()
      val vs = graft.sources.AtomicSink.versions(loc)
      def rd(v: Long) = s.read.schema(v1.schema).format("graft-atomic")
        .option("version", v).load(loc)
      rd(vs.min).select(col("doc_id"), col("h").as("h1"))
        .join(rd(vs.max).select(col("doc_id"), col("h").as("h2")),
          Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "modified")
            .otherwise("unchanged").as("status"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_doc_id"))
        .orderBy(col("status"))
    },

    // ST18 (live) — MULTI-VARIABLE state on the Spark 4 arbitrary-state
    // API v2 (`transformWithState`, SPARK-40434): st7 declares the
    // single-ValueState form; this declares the MapState + ValueState
    // composition — the API's actual selling point over v1
    // mapGroupsWithState, which forces all per-key state into one
    // opaque blob rewritten wholesale per batch. Per-user profile in
    // three NAMED state variables (ValueState running totals + MapState
    // per-type counts + an O(1) distinct-type counter — see
    // graft.streaming.UserProfileProcessor); two
    // separate micro-batches drain through the SAME checkpoint as two
    // query RESTARTS, so the second batch's emitted cumulative proves
    // RocksDB state recovery, not just within-run accumulation. Money
    // is quantized to integer cents batch-side so state math is Long —
    // order-insensitive under any parallelism, hash-exact vs the
    // oracle's phase-sliced GROUP BYs. At 100 TB/day this is the
    // bounded-state shape: state is per-live-user, updates touch one
    // RocksDB key (ValueState) or one map entry (MapState), and TTL
    // (TTLConfig) ages out dormant users — none of which the v1 API
    // can express without rewriting the whole state object per batch.
    QDef("st18_transform_with_state",
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS cents
        |           FROM events WHERE event_id % 9 = 0),
        |a1 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cum_n,
        |         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |         CAST(sum(cents) AS BIGINT) AS sum_cents
        |       FROM e WHERE event_id % 2 = 0 GROUP BY user_id),
        |a2 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cum_n,
        |         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |         CAST(sum(cents) AS BIGINT) AS sum_cents
        |       FROM e WHERE user_id IN (SELECT user_id FROM e WHERE event_id % 2 = 1)
        |       GROUP BY user_id)
        |SELECT * FROM a1 UNION ALL SELECT * FROM a2
        |ORDER BY user_id, cum_n""".stripMargin) { (s, d) =>
      val run = Runs.start(s, "st18_transform_with_state")
      val base = Tables.events(s, d).filter(col("event_id") % 9 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(coalesce(col("value"), lit(0.0)) * 100).cast("long").as("cents"))
      userProfileDrive(s, base, run.in, run.out, run.ckpt)
      Tables.siteRead(s, "PackPipeline:2092", run.out).orderBy(col("user_id"), col("cum_n"))
    },

    // ST19 (live) — the v2 API's batch WARM-START surface
    // (`StatefulProcessorWithInitialState`): streaming state is SEEDED
    // per key from a batch-computed snapshot before the first arrival
    // folds in (graft.streaming.WarmStartProcessor). This is the
    // cutover path from a batch-maintained aggregate table to a
    // streaming one — at 100 TB of history, re-streaming the past
    // through the processor is not an option; the snapshot IS the
    // state. The declared result is the post-cutover cumulative for
    // every user the first streamed batch touches: a seeding bug
    // (dropped key, swapped column, double-applied snapshot) shifts
    // the totals and fails the hash. The snapshot aggregation itself
    // is the standard partial+final hash agg; the seed join is
    // co-partitioned with the stream by the same key hash.
    QDef("st19_tws_initial_state",
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS cents
        |           FROM events WHERE event_id % 10 = 0)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS cum_n,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM e
        |WHERE user_id IN (SELECT user_id FROM e WHERE event_id % 3 <> 0)
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.streaming.{TwsAgg, TwsEvent, WarmStartProcessor}
      val run = Runs.start(s, "st19_tws_initial_state")
      val base = Tables.events(s, d).filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(coalesce(col("value"), lit(0.0)) * 100).cast("long").as("cents"))
      val ss = Session.derived(s, Session.StatefulStream)
      // the "historical" aggregate table the stream warm-starts from
      val snapshot = Session.bind(base, ss).filter(col("event_id") % 3 === 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1).mapValues(t => TwsAgg(t._2, t._3))
      PackCore.stageArrival(run.in,
        base.filter(col("event_id") % 3 =!= 0).drop("event_id"), "b1")
      ss.readStream.schema(twsSchema).parquet(run.in)
        .as[TwsEvent]
        .groupByKey(_.user_id)
        .transformWithState(new WarmStartProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append(),
          snapshot)
        .toDF()
        .writeStream.format("parquet")
        .option("path", run.out).option("checkpointLocation", run.ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      Tables.siteRead(s, "PackPipeline:2153", run.out).orderBy(col("user_id"))
    },

    // ST20 (live) — EVENT-TIME TIMERS on the v2 API
    // (`TimeMode.EventTime`, `registerTimer`/`handleExpiredTimer`):
    // inactivity sessionization whose CLOSE is timer-driven
    // (graft.streaming.SessionTimerProcessor) — the programmable form
    // of what session_window (st12) does internally, and the shape
    // timeout actions / escalation events / abandonment detection all
    // take. Within-batch gaps close inline; each key's open tail
    // registers ONE event-time timer at last_ms + 30 min, and the
    // watermark firing it emits the session and clears state. A
    // far-future sentinel advances the watermark deterministically
    // (the st12 discipline), so every real session flushes through
    // handleExpiredTimer. Gap math is integer epoch-millis on BOTH
    // engines (sub-ms jitter can flip an exactly-on-boundary gap).
    // State per key is one open session + one timer — the watermark
    // frontier, never history.
    QDef("st20_tws_event_time_timers",
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events
        |           WHERE event_id % 17 = 0),
        |d AS (SELECT user_id, ms,
        |        CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w >= 1800000
        |             THEN 1 ELSE 0 END AS is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |s AS (SELECT user_id, ms,
        |        sum(is_new) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM d)
        |SELECT user_id, min(ms) AS start_ms, CAST(count(*) AS BIGINT) AS n
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start_ms""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.streaming.{SessionTimerProcessor, TsEvent}
      val run = Runs.start(s, "st20_tws_event_time_timers")
      val base = Tables.events(s, d).filter(col("event_id") % 17 === 0)
        .select(col("user_id"), col("ts"), unix_millis(col("ts")).as("ms"))
      // empty-slice guard, END-TO-END like st22's: on an empty base the
      // sink never writes a file, so even a filtered sentinel leaves
      // read.parquet(out) to fail schema inference — short-circuit to the
      // declared empty result instead of draining at all
      base.agg(max(col("ts")).as("mx")).head.getTimestamp(0) match {
        case null => // empty slice: no sessions, nothing to flush
          Seq.empty[(Long, Long, Long)].toDF("user_id", "start_ms", "n")
        case mxTs =>
          val sentinel = s.range(1)
            .select(lit(-1L).as("user_id"),
              (lit(mxTs) + expr("INTERVAL 240 HOURS")).as("ts"))
            .select(col("user_id"), col("ts"), unix_millis(col("ts")).as("ms"))
          def drain(ss: SparkSession): Unit = {
            val q = ss.readStream.schema(tsSchema).parquet(run.in)
              .withWatermark("ts", "1 hour")
              .as[TsEvent]
              .groupByKey(_.user_id)
              .transformWithState(new SessionTimerProcessor(1800000L),
                org.apache.spark.sql.streaming.TimeMode.EventTime(),
                org.apache.spark.sql.streaming.OutputMode.Append())
              .toDF()
              .writeStream.format("parquet")
              .option("path", run.out).option("checkpointLocation", run.ckpt)
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
          // b2 sentinel: its watermark advance fires every real key's timer
          stagedTwoDrains(s, run.in, base, sentinel)(drain)
          Tables.siteRead(s, "PackPipeline:2222", run.out).filter(col("user_id") >= 0)
            .orderBy(col("user_id"), col("start_ms"))
      }
    },

    // ST21 (live) — offline inspection of a transformWithState
    // checkpoint through the State Data Source's NAMED-VARIABLE
    // surface (`stateVarName`): st11 reads a streaming AGGREGATION's
    // store; this reads the v2 API's typed state variables — the
    // ValueState totals AND the MapState per-type counts — back as
    // tables after two checkpointed drains. The declared result is
    // assembled ENTIRELY from the store (nothing from the sink):
    // per user, the ValueState (n, cents), the map's key count, and
    // the sum of the map's counter values — which must all agree with
    // the batch aggregate the oracle states. This is the operability
    // surface a production deployment leans on (is state leaking?
    // what does the store hold for user X?) and it doubles as the
    // strongest restart-recovery proof: the store's content after two
    // separate runs is the semantic whole-slice state.
    QDef("st21_state_reader_tws",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  CAST(count(*) AS BIGINT) AS n_from_map
        |FROM events WHERE event_id % 23 = 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val run = Runs.start(s, "st21_state_reader_tws")
      val base = Tables.events(s, d).filter(col("event_id") % 23 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(coalesce(col("value"), lit(0.0)) * 100).cast("long").as("cents"))
      userProfileDrive(s, base, run.in, run.out, run.ckpt)
      val agg = s.read.format("statestore").option("path", run.ckpt)
        .option("stateVarName", "agg").load()
        .select(col("key.value").as("user_id"), col("value.n").as("n"),
          col("value.cents").as("sum_cents"))
      val types = s.read.format("statestore").option("path", run.ckpt)
        .option("stateVarName", "types").load()
        .groupBy(col("key.value").as("user_id"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("user_map_value.value")).as("n_from_map"))
      agg.join(types, Seq("user_id")).orderBy(col("user_id"))
    },

    // S13 — native XML ROUNDTRIP (the XML datasource Spark 4 absorbed
    // from spark-xml): the one self-describing text format the source
    // family (CSV/JSON/XLSX/Avro/ORC/parquet/JDBC/PDF) hadn't covered,
    // and the interchange format the reference's upstream ERP-style
    // feeds actually ship. Write side emits one <nation> record
    // element per row (writer handles XML escaping); read side parses
    // with an EXPLICIT schema — at 100 TB inference is a full pre-scan,
    // so production always pins the schema. The oracle is the plain
    // source selection: the format must be invisible in the data.
    // Values are trimmed on both sides — the reader's
    // ignoreSurroundingSpaces default eats leading/trailing whitespace,
    // a real XML-interchange caveat the trim states honestly.
    QDef("s13_scan_xml",
      """SELECT c_custkey, trim(c_name) AS name, c_nationkey,
        |  CAST(round(coalesce(c_acctbal, 0) * 100) AS BIGINT) AS cents,
        |  trim(c_mktsegment) AS mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val loc = s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(d).getName}/s13_xml"
      graft.io.Warehouse.deleteRecursively(s, loc)
      // money quantized to integer cents BEFORE the write: integers
      // roundtrip XML text exactly; raw doubles would ride a
      // format-then-parse cycle with no cross-engine guarantee
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          round(coalesce(col("c_acctbal"), lit(0.0)) * 100).cast("long").as("cents"),
          col("c_mktsegment"))
        .write.format("xml").option("rowTag", "customer").option("rootTag", "customers")
        .mode("overwrite").save(loc)
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("c_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c_name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("c_nationkey",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("cents",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c_mktsegment",
          org.apache.spark.sql.types.StringType)))
      s.read.format("xml").option("rowTag", "customer").schema(sch).load(loc)
        .select(col("c_custkey"), trim(col("c_name")).as("name"),
          col("c_nationkey"), col("cents"),
          trim(col("c_mktsegment")).as("mktsegment"))
        .orderBy(col("c_custkey"))
    },

    // ST22 (live) — CHAINED STATEFUL OPERATORS (SPARK-42931 + the
    // transformWithState eventTimeColumnName surface): the v2
    // sessionizer re-emits each closed session's start as the
    // operator's declared EVENT TIME ("start_ts"), and a tumbling
    // 6-hour windowed aggregation runs over those sessions in the
    // SAME streaming query — two stateful operators back to back, no
    // intermediate sink. This is the production analytics shape
    // (sessionize → roll up) that pre-chaining Spark forced through a
    // materialized hop. Chaining changes the close protocol: emission
    // below the watermark is a runtime ERROR here (see
    // SessionizerWithTs — the st20 timer close is structurally
    // incompatible with a declared output event time), so tails close
    // via per-user FLUSH MARKERS staged as batch 2 (which also CLEAR
    // the flushed keys' state — the chaining-safe expiry). The
    // watermark delay is DERIVED from the measured data span (+48 h
    // margin), so a b1-carried session closing in b2 always emits
    // above the watermark whatever the fixture's range — the
    // magic-constant version of this invariant is exactly what the
    // 10x ScaleCheck crash caught; markers sit at max + 2·delay so
    // the post-flush watermark still passes every real window's end
    // and flushes the downstream aggregation. Windows align to the
    // epoch in UTC exactly as the oracle's 6h-bucket arithmetic.
    QDef("st22_tws_chained_rollup",
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events
        |           WHERE event_id % 29 = 0),
        |d AS (SELECT user_id, ms,
        |        CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w >= 1800000
        |             THEN 1 ELSE 0 END AS is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |s AS (SELECT user_id, ms,
        |        sum(is_new) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM d),
        |sess AS (SELECT user_id, min(ms) AS start_ms, count(*) AS n
        |         FROM s GROUP BY user_id, sid)
        |SELECT make_timestamp((start_ms // 21600000) * 21600000000) AS w,
        |       CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(sum(n) AS BIGINT) AS n_events
        |FROM sess GROUP BY 1 ORDER BY w""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.streaming.{SessionizerWithTs, TsEvent}
      val run = Runs.start(s, "st22_tws_chained_rollup")
      import s.implicits._
      val base = Tables.events(s, d).filter(col("event_id") % 29 === 0)
        .select(col("user_id"), col("ts"), unix_millis(col("ts")).as("ms"))
      // derive the close protocol's constants from the ACTUAL span:
      // delay > span guarantees a b1-carried close emits above the
      // watermark; markers at max + 2·delay guarantee the post-flush
      // watermark passes every real window end
      val range = base.agg(min(col("ms")).as("mn"), max(col("ms")).as("mx"))
        .as[(Option[Long], Option[Long])].head()
      (range: @unchecked) match {
        case (Some(mn), Some(mx)) =>
          val delaySec = (mx - mn) / 1000L + 48L * 3600L
          val flushAtMs = mx + 2L * delaySec * 1000L
          val flush = base.select(col("user_id")).distinct()
            .select(col("user_id"), timestamp_millis(lit(flushAtMs)).as("ts"),
              lit(flushAtMs).as("ms"))
          def drain(ss: SparkSession): Unit = {
            val q = ss.readStream.schema(tsSchema).parquet(run.in)
              .withWatermark("ts", s"$delaySec seconds")
              .as[TsEvent]
              .groupByKey(_.user_id)
              .transformWithState(new SessionizerWithTs(1800000L, flushAtMs),
                "start_ts",
                org.apache.spark.sql.streaming.OutputMode.Append())
              .toDF()
              .groupBy(window(col("start_ts"), "6 hours"))
              .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
              .select(col("window.start").as("w"), col("n_sessions"), col("n_events"))
              .writeStream.format("parquet")
              .option("path", run.out).option("checkpointLocation", run.ckpt)
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
          // b2 flush closes every tail and clears the flushed keys'
          // state; the downstream windows then close
          stagedTwoDrains(s, run.in, base, flush)(drain)
          Tables.siteRead(s, "PackPipeline:2396", run.out).orderBy(col("w"))
        case (None, None) => // empty slice: nothing to sessionize
          Seq.empty[(java.sql.Timestamp, Long, Long)]
            .toDF("w", "n_sessions", "n_events")
      }
    }
  )
}
