package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Session
import graft.schemas.{Schemas, Tables}
import graft.ops.Ops
import graft.functions.Exprs

/** Core relational query pack: scans, sinks, filters/projections, joins,
  * aggregations, sorts, watermark/incremental semantics (SURVEY.md §2.1-2.7,
  * §2.10 batch forms).
  *
  * Cross-engine exactness conventions (DuckDB oracle parity):
  *  - monetary aggregates are summed as DECIMAL(18,2) (exact, order-
  *    independent) and cast to DOUBLE only in the final projection;
  *  - every query ends in a deterministic ORDER BY;
  *  - averages are computed as exact-decimal-sum / count in double.
  *
  * Scale notes are inline per query — the driving concern is that each
  * plan must survive 1000 executors × 100 TB: dimension joins broadcast,
  * dedup gates broadcast their DISTINCT key side, aggregations are
  * partial+final hash aggregates, and nothing but tiny listing ops ever
  * touches the driver.
  */
object PackCore {
  private val D = DecimalType(18, 2)
  private def dec(c: Column): Column = c.cast(D)

  private def tmpBase(sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(sfDir).getName}"

  val queries: Seq[QDef] = Seq(

    // ---------------------------------------------------------------- aggs

    // A5 q1-style pricing summary: partial+final HashAggregate over a
    // 3-column parquet scan (columns pruned at the reader).
    QDef("q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum(dec($"l_quantity")).as("sq"),
          sum(dec($"l_extendedprice")).as("sb"),
          sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount"))).as("rev"),
          count(lit(1)).as("n"))
        .select($"l_returnflag", $"l_linestatus",
          $"sq".cast("double").as("sum_qty"),
          $"sb".cast("double").as("sum_base"),
          $"rev".cast("double").as("revenue"),
          ($"sq".cast("double") / $"n").as("avg_qty"),
          $"n")
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    // A5 — the ai_agent's "gastos por categoría" shape (ai_agent:214-222):
    // groupBy + sum + ORDER BY DESC LIMIT 20 → HashAggregate +
    // TakeOrderedAndProject. part is a dimension → broadcast join, no
    // shuffle on the lineitem side beyond the aggregation itself.
    QDef("agg_group_topk",
      """SELECT p.p_type AS categoria,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS gasto,
        |  count(*) AS n_items
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY p.p_type ORDER BY gasto DESC, categoria LIMIT 20""".stripMargin) { (s, d) =>
      // tight decimal types keep the per-row multiply long-backed:
      // DECIMAL(11,2) × DECIMAL(3,2) → DECIMAL(15,4) stays inside the
      // 18-digit fast path (a (18,2)×(18,2) product would be a
      // BigDecimal per row); values are identical, the oracle's wider
      // casts agree exactly
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), $"l_partkey" === $"p_partkey")
        .groupBy($"p_type".as("categoria"))
        .agg(sum($"l_extendedprice".cast(DecimalType(11, 2)) *
            (lit(1) - $"l_discount".cast(DecimalType(3, 2)))).as("g"),
          count(lit(1)).as("n_items"))
        .select($"categoria", $"g".cast("double").as("gasto"), $"n_items")
        .orderBy($"gasto".desc, $"categoria")
        .limit(20)
    },

    // A2 + F6 — per-ticket item total joined back to the header
    // (transform_data_pdf:117-126): aggregate then fact-fact equi-join on
    // the group key; at scale both sides hash-partition on o_orderkey and
    // AQE picks the join flavor.
    QDef("agg_sum_group",
      """SELECT o.o_orderkey, o.o_totalprice,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS item_total,
        |  count(*) AS n_items
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderkey, o.o_totalprice
        |ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
      val items = Tables.lineitem(s, d).groupBy($"l_orderkey")
        .agg(sum(dec($"l_extendedprice")).as("it"), count(lit(1)).as("n_items"))
      Tables.orders(s, d)
        .join(items, $"o_orderkey" === $"l_orderkey")
        .select($"o_orderkey", $"o_totalprice",
          $"it".cast("double").as("item_total"), $"n_items")
        .orderBy($"o_orderkey")
    },

    // A1 + F10-F15 — incremental watermark: MAX over a dd/MM/yy string
    // with the reference's CASE/SPLIT_PART/'20'||yy two-digit-year fixup
    // (extract_data_pdf:56-93), +1 day. Collapses to one row.
    QDef("agg_max_watermark",
      """SELECT CAST(max(strptime(
        |    CASE WHEN length(split_part(s,'/',3)) = 2
        |         THEN split_part(s,'/',1) || '/' || split_part(s,'/',2) || '/20' || split_part(s,'/',3)
        |         ELSE s END, '%d/%m/%Y')) AS DATE) + 1 AS wm
        |FROM (SELECT strftime(o_orderdate, '%d/%m/%y') AS s FROM orders)""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(date_format($"o_orderdate", "dd/MM/yy").as("s"))
        .select(Exprs.fixTwoDigitYear($"s").as("f"))
        .agg(max(Exprs.toDateDmy($"f")).as("m"))
        .select(date_add($"m", 1).as("wm"))
    },

    // A3 — SELECT DISTINCT (load_data:41-44): hash-partitioned distinct.
    QDef("agg_distinct",
      "SELECT DISTINCT event_type FROM events ORDER BY event_type") { (s, d) =>
      Tables.events(s, d).select($"event_type").distinct().orderBy($"event_type")
    },

    // A4 — COUNT(*) (extract_data_pdf:114): partial counts, single final row.
    QDef("agg_count",
      "SELECT count(*) AS n FROM events") { (s, d) =>
      Tables.events(s, d).agg(count(lit(1)).as("n"))
    },

    // §2.6 — ORDER BY … LIMIT top-k → TakeOrderedAndProject (no global
    // sort: per-partition top-k then driver-side merge of k rows).
    QDef("sort_topk",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(20)
    },

    // ---------------------------------------------------------------- joins

    // J1 — batch-grain anti-join dedup gate (load_data:40-73): "reports"
    // (users) already loaded are skipped entirely. Loaded side is a
    // DISTINCT single column → broadcast; fact side never shuffles.
    QDef("j1_dedup_anti_join_report",
      """SELECT event_id, user_id, value FROM events e
        |WHERE e.event_type = 'purchase' AND NOT EXISTS (
        |  SELECT 1 FROM events s WHERE s.event_type = 'signup' AND s.user_id % 7 = 0 AND s.user_id = e.user_id)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      Ops.antiJoin(ev.filter($"event_type" === "purchase"),
          ev.filter($"event_type" === "signup" && $"user_id" % 7 === 0), Seq("user_id"))
        .select($"event_id", $"user_id", $"value")
        .orderBy($"event_id")
    },

    // J2 + F23 — row-grain anti-join on the md5 surrogate id
    // (load_data:166-200; id grammar transform_data_bank_pay:53-54).
    QDef("j2_dedup_anti_join_row",
      """SELECT event_id, md5(CAST(event_id AS VARCHAR) || '_' || event_type) AS id, value
        |FROM events e
        |WHERE md5(CAST(event_id AS VARCHAR) || '_' || event_type) NOT IN (
        |  SELECT md5(CAST(event_id AS VARCHAR) || '_' || event_type)
        |  FROM events WHERE event_id % 3 = 0)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val withId = Tables.events(s, d)
        .withColumn("id", Exprs.md5Surrogate($"event_id".cast("string"), $"event_type"))
      Ops.antiJoin(withId, withId.filter($"event_id" % 3 === 0), Seq("id"))
        .select($"event_id", $"id", $"value")
        .orderBy($"event_id")
    },

    // J3 + F30 — filename-grammar dedup (extract_data_mp:115-132): parse
    // the report id out of every "listed file", skip ids already staged.
    QDef("j3_dedup_anti_join_filename",
      """SELECT path, rid FROM (
        |  SELECT 'Report_' || strftime(ts, '%Y-%m-%d') || '_' || CAST(event_id AS VARCHAR) || '.csv' AS path,
        |         CAST(regexp_extract('Report_' || strftime(ts, '%Y-%m-%d') || '_' || CAST(event_id AS VARCHAR) || '.csv',
        |              '([^/]+)_(\d{4}-\d{2}-\d{2})_(\d+)\.(csv|xlsx)$', 3) AS BIGINT) AS rid
        |  FROM events)
        |WHERE rid NOT IN (SELECT event_id FROM events WHERE event_id % 5 = 0)
        |ORDER BY rid""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val listing = ev.select(concat(lit("Report_"), date_format($"ts", "yyyy-MM-dd"),
          lit("_"), $"event_id".cast("string"), lit(".csv")).as("path"))
        .withColumn("rid", Exprs.regexFilename($"path", 3).cast("long"))
      Ops.antiJoin(listing, ev.filter($"event_id" % 5 === 0).select($"event_id".as("rid")), Seq("rid"))
        .select($"path", $"rid")
        .orderBy($"rid")
    },

    // J4 — existence probe as LEFT SEMI (extract_data_pdf:140-147).
    QDef("j4_dedup_exists_key",
      """SELECT event_id, user_id, value FROM events e
        |WHERE e.event_type = 'purchase' AND EXISTS (
        |  SELECT 1 FROM events s WHERE s.event_type = 'signup' AND s.user_id = e.user_id)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      Ops.semiJoin(ev.filter($"event_type" === "purchase"),
          ev.filter($"event_type" === "signup"), Seq("user_id"))
        .select($"event_id", $"user_id", $"value")
        .orderBy($"event_id")
    },

    // J5 — the ai_agent's ad-hoc multi-table equi-join surface
    // (ai_agent:38-99): star join, dims broadcast, facts co-partitioned on
    // the join keys; Catalyst reorders, AQE handles skew.
    QDef("j5_join_equi_adhoc",
      """SELECT r.r_name,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(DISTINCT o.o_orderkey) AS n_orders
        |FROM region r
        |JOIN nation n ON n.n_regionkey = r.r_regionkey
        |JOIN customer c ON c.c_nationkey = n.n_nationkey
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin) { (s, d) =>
      val dims = broadcast(Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
        .select($"c_custkey", $"r_name"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(dims, $"o_custkey" === $"c_custkey")
        .groupBy($"r_name")
        .agg(sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount"))).as("rev"),
          countDistinct($"o_orderkey").as("n_orders"))
        .select($"r_name", $"rev".cast("double").as("revenue"), $"n_orders")
        .orderBy($"r_name")
    },

    // --------------------------------------------- incremental / streaming-batch

    // ST1/A1 — watermark incremental read: only rows newer than
    // MAX(loaded date) − here "loaded" is the history and the watermark is
    // max−30d so the slice is non-empty on any sf.
    QDef("st1_incremental_watermark",
      """SELECT o_orderkey, o_orderdate FROM orders
        |WHERE o_orderdate > (SELECT max(o_orderdate) - INTERVAL 30 DAY FROM orders)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      Ops.watermarkAfter(o.select($"o_orderkey", $"o_orderdate"), "o_orderdate",
          o, $"o_orderdate" - expr("INTERVAL 30 DAYS"),
          lit(null).cast("timestamp"))
        .select($"o_orderkey", $"o_orderdate")
        .orderBy($"o_orderkey")
    },

    // ST2 — late/empty fallback: watermark query over an empty loaded set
    // falls back to a fixed origin (extract_data_bank_pay:129-135).
    QDef("st2_late_fallback",
      """SELECT wm, CAST(sum(CASE WHEN o.o_orderdate > w.wm THEN 1 ELSE 0 END) AS BIGINT) AS n_after
        |FROM (SELECT coalesce(max(CASE WHEN o_totalprice < -1 THEN o_orderdate END),
        |             TIMESTAMP '1996-10-01') AS wm FROM orders) w, orders o
        |GROUP BY wm""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val wm = o.agg(coalesce(max(when($"o_totalprice" < -1, $"o_orderdate")),
        lit(java.sql.Timestamp.valueOf("1996-10-01 00:00:00"))).as("wm"))
      broadcast(wm).crossJoin(o)
        .groupBy($"wm")
        .agg(sum(when($"o_orderdate" > $"wm", 1).otherwise(0)).as("n_after"))
    },

    // ST3 (batch form) — deterministic keep-first dedup through
    // Ops.dedupKeepFirst; the true streaming dropDuplicates-with-state
    // lives in graft.streaming (tested in StreamingSpec).
    QDef("st3_dedup_state",
      """SELECT user_id, event_type, min(event_id) AS event_id,
        |       arg_min(value, event_id) AS value
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      Ops.dedupKeepFirst(
          Tables.events(s, d).select($"user_id", $"event_type", $"event_id", $"value"),
          Seq("user_id", "event_type"), "event_id")
        .orderBy($"user_id", $"event_type")
    },

    // ST4/ST5 (live) — an actual Structured Streaming execution inside
    // the declared pack, not a batch stand-in: parquet file source →
    // event-time 1h tumbling-window counts → complete-mode memory sink,
    // driven to completion with Trigger.AvailableNow (the reference's
    // cron semantics, SURVEY §2.10). AvailableNow processes all data
    // then stops, so the result is deterministic and the batch GROUP BY
    // oracle must match exactly. The same plan with a watermark and
    // update mode is the always-on deployment; at scale the stateful agg
    // partitions by (window, event_type) across executors.
    QDef("st4_stream_tumbling_live",
      """SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
      // The streaming source needs an explicit schema; declare ts with the
      // dtype the on-disk vintage actually has (nanos-as-INT64 vs micros
      // NTZ) — a LongType schema over a micros file silently misreads the
      // unit (r7's 10-vs-3385-row wrong answer).
      val rawTs = graft.schemas.Tables.eventsRawTsType(s, d)
      val sch = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", rawTs),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      val name = s"st4_live_run_${streamRun.incrementAndGet()}"
      val ss = Session.derived(s, Session.Stream)
      eventsStream(ss, d, sch)
        .withColumn("ts", graft.schemas.Tables.eventsStreamTs(rawTs))
        .groupBy(window($"ts", "1 hour"), $"event_type").count()
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      Session.bind(ss.table(name), s)
        .select($"window.start".as("window_start"), $"event_type", $"count".as("n"))
        .orderBy($"window_start", $"event_type")
    },

    // ST5 (live) — file-ARRIVAL trigger with checkpointed incrementality:
    // two staged arrivals, two AvailableNow runs sharing one checkpoint
    // (webhook-staging semantics, SURVEY §2.10 / main.tf:820-832). The
    // second run must process ONLY the new files — re-ingestion would
    // double the per-user counts and fail the oracle exactly.
    QDef("st5_trigger_file_arrival",
      """SELECT user_id, count(*) AS n FROM events
        |WHERE event_id % 97 = 0 GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val run = streamRun.incrementAndGet()
      val in = java.nio.file.Files.createTempDirectory(s"graft_st5_in$run").toString
      val wh = java.nio.file.Files.createTempDirectory(s"graft_st5_wh$run").toString + "/t"
      val err = java.nio.file.Files.createTempDirectory(s"graft_st5_err$run").toString + "/e"
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_st5_ck$run").toString
      val base = Tables.events(s, d).filter($"event_id" % 97 === 0)
        .select($"event_id", $"user_id", $"event_type")
      stageArrival(in, base.filter($"event_id" % 2 === 0), "b1")
      val sch = StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType)))
      graft.streaming.StreamingOps.runToWarehouse(
        graft.streaming.StreamingOps.fileSource(Session.derived(s, Session.Stream), in, sch),
        wh, err, ckpt).awaitTermination()
      // second arrival: the shared checkpoint makes this run incremental
      stageArrival(in, base.filter($"event_id" % 2 =!= 0), "b2")
      graft.streaming.StreamingOps.runToWarehouse(
        graft.streaming.StreamingOps.fileSource(Session.derived(s, Session.Stream), in, sch),
        wh, err, ckpt).awaitTermination()
      Tables.siteRead(s, "PackCore:352", wh).groupBy($"user_id")
        .agg(count(lit(1)).as("n")).orderBy($"user_id")
    },

    // ST6/K7 (live) — compensation flow: a batch whose warehouse write
    // fails lands in the error side-table with its batch id and error
    // class, and the query still completes (Step-Functions Catch →
    // compensation, compensation_flow/lambda_function.py:22-31). The
    // injected failure is deterministic (/proc is unwritable → batch 0
    // aborts), but the WRAPPER class is an implementation detail — a
    // Spark upgrade may surface a SparkException subclass, and non-Linux
    // machines fail with a different IO class — so the oracle compares
    // the lifecycle facts (batch id, row count, an error class WAS
    // captured), not the exact class name.
    QDef("st6_compensation_error_table",
      """SELECT CAST(0 AS BIGINT) AS batch_id,
        |       TRUE AS has_error_class,
        |       CAST(1 AS BIGINT) AS n""".stripMargin) { (s, d) =>
      val run = streamRun.incrementAndGet()
      val in = java.nio.file.Files.createTempDirectory(s"graft_st6_in$run").toString
      val err = java.nio.file.Files.createTempDirectory(s"graft_st6_err$run").toString + "/e"
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_st6_ck$run").toString
      stageArrival(in, Tables.events(s, d).filter($"event_id" % 997 === 0)
        .select($"event_id", $"user_id", $"event_type"), "b1")
      val sch = StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType)))
      // /proc is unwritable → foreachBatch catch routes the batch to err
      graft.streaming.StreamingOps.runToWarehouse(
        graft.streaming.StreamingOps.fileSource(Session.derived(s, Session.Stream), in, sch),
        "/proc/graft_forbidden_wh", err, ckpt)
        .awaitTermination()
      Tables.siteRead(s, "PackCore:383", err)
        .groupBy($"batch_id",
          ($"error_class".isNotNull && length($"error_class") > 0)
            .as("has_error_class"))
        .agg(count(lit(1)).as("n")).orderBy($"batch_id")
    },

    // ST7 (live) — Spark 4 arbitrary state v2 (transformWithState +
    // StatefulProcessor over RocksDB): per-user running totals whose
    // STATE survives a checkpointed restart — two arrival rounds, two
    // runs; the second run must resume the first run's counts or the
    // per-user totals (and the oracle) come out wrong. The compare uses
    // the count side of the state (exact); the double-sum side is
    // exercised by StreamingSpec where accumulation order is controlled.
    QDef("st7_stream_running_totals",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events
        |WHERE event_id % 53 = 0 GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val run = streamRun.incrementAndGet()
      val in = java.nio.file.Files.createTempDirectory(s"graft_st7_in$run").toString
      val out = java.nio.file.Files.createTempDirectory(s"graft_st7_out$run").toString + "/t"
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_st7_ck$run").toString
      val base = Tables.events(s, d).filter($"event_id" % 53 === 0)
        .select($"event_id", $"user_id", $"value")
      val sch = StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("value", DoubleType)))
      val ss = Session.derived(s, Session.StatefulStream)
      def drain(): Unit = {
        val ds = graft.streaming.StreamingOps.fileSource(ss, in, sch)
          .as(org.apache.spark.sql.Encoders.product[graft.streaming.StreamingOps.EventRow])
        graft.streaming.StreamingOps.runningTotals(ds)
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingOps.UserTotal],
             _: Long) => b.write.mode("append").parquet(out); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
      stageArrival(in, base.filter($"event_id" % 2 === 0), "b1")
      drain()
      stageArrival(in, base.filter($"event_id" % 2 =!= 0), "b2")
      drain() // resumes the ValueState from the checkpoint
      // n is monotone per user, so the latest update is max(n)
      Tables.siteRead(s, "PackCore:430", out).groupBy($"user_id")
        .agg(max($"n").as("n")).orderBy($"user_id")
    },

    // ST5+J1 composed (live) — streaming incremental NEAR-DUP gate: the
    // reference's pre-insert id gate (extract_data_bank_pay:137-163)
    // upgraded from exact-id to near-duplicate semantics. Two staged
    // arrivals of "new" docs (the doc_id % 10 = 0 slice) drain through
    // one checkpointed AvailableNow query each; every micro-batch signs
    // ONLY itself and probes the PERSISTED corpus band index
    // (PackExt.persistedBandIndex — the train-once table the batch
    // queries also serve from), and only docs with zero near-dup
    // candidates land in the warehouse. The oracle recomputes the gate
    // batch-independently: a doc's verdict depends only on the static
    // index, so arrival order cannot change the final warehouse content.
    QDef("st8_stream_neardup_gate",
      ("""WITH words AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS w FROM documents),
        |sigs AS (SELECT doc_id, """ +
        (0 until 16).map(i => s"min(md5('$i|' || w)) AS s$i").mkString(", ") +
        """ FROM words GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(s0||s1||s2||s3) AS bkey FROM sigs
        |  UNION ALL SELECT doc_id, 1, md5(s4||s5||s6||s7) FROM sigs
        |  UNION ALL SELECT doc_id, 2, md5(s8||s9||s10||s11) FROM sigs
        |  UNION ALL SELECT doc_id, 3, md5(s12||s13||s14||s15) FROM sigs),
        |iok AS (SELECT band, bkey FROM bands WHERE doc_id % 10 <> 0
        |        GROUP BY band, bkey HAVING count(*) <= 64),
        |dirty AS (SELECT DISTINCT n.doc_id
        |          FROM bands n JOIN bands i ON n.band = i.band AND n.bkey = i.bkey
        |          JOIN iok ON i.band = iok.band AND i.bkey = iok.bkey
        |          WHERE n.doc_id % 10 = 0 AND i.doc_id % 10 <> 0)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
        |ORDER BY doc_id""").stripMargin) { (s, d) =>
      val run = streamRun.incrementAndGet()
      val in = java.nio.file.Files.createTempDirectory(s"graft_st8_in$run").toString
      val wh = java.nio.file.Files.createTempDirectory(s"graft_st8_wh$run").toString + "/t"
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_st8_ck$run").toString
      val newDocs = Tables.documents(s, d).filter($"doc_id" % 10 === 0)
        .select($"doc_id", $"text")
      val sch = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      // prune the static index's oversized buckets ONCE per run and share
      // the materialized frame across both drains' probes (r18: the guard
      // was re-aggregating the full index per micro-batch; the pruned
      // form is an invariant of the stored index — see pruneBands)
      val idx = graft.ext.BoundedCache.perRun("PackCore:st8.prunedIdx",
        graft.ext.TextDedup.pruneBands(PackExt.persistedBandIndex(s, d)))
      val ss = Session.derived(s, Session.Stream)
      def drain(): Unit = graft.streaming.StreamingOps.runGatedToWarehouse(
        graft.streaming.StreamingOps.fileSource(ss, in, sch), idx,
        "doc_id", "text", wh, ckpt).awaitTermination()
      stageArrival(in, newDocs.filter($"doc_id" % 20 === 0), "b1")
      drain()
      // second arrival: the shared checkpoint processes ONLY the new
      // files, and the batch probes the same stored index
      stageArrival(in, newDocs.filter($"doc_id" % 20 =!= 0), "b2")
      drain()
      Tables.siteRead(s, "PackCore:484", wh).select($"doc_id").orderBy($"doc_id")
    },

    // ST8's GROWING-index form — the full analog of the reference's
    // accumulating loaded-id set: batch 1's survivors are appended to
    // the stored band index before batch 2 arrives, so batch 2 dedups
    // against the corpus AND batch 1's survivors. The oracle unrolls
    // both probes: dirty1/surv1 against the corpus index, then
    // dirty2/surv2 against corpus ∪ surv1 (bucket-size guard recomputed
    // per probe over the CURRENT index, exactly like the engine).
    // Deterministic because the arrival split (%20) is fixed.
    QDef("st9_stream_neardup_gate_growing",
      ("""WITH words AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS w FROM documents),
        |sigs AS (SELECT doc_id, """ +
        (0 until 16).map(i => s"min(md5('$i|' || w)) AS s$i").mkString(", ") +
        """ FROM words GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(s0||s1||s2||s3) AS bkey FROM sigs
        |  UNION ALL SELECT doc_id, 1, md5(s4||s5||s6||s7) FROM sigs
        |  UNION ALL SELECT doc_id, 2, md5(s8||s9||s10||s11) FROM sigs
        |  UNION ALL SELECT doc_id, 3, md5(s12||s13||s14||s15) FROM sigs),
        |iok1 AS (SELECT band, bkey FROM bands WHERE doc_id % 10 <> 0
        |         GROUP BY band, bkey HAVING count(*) <= 64),
        |dirty1 AS (SELECT DISTINCT n.doc_id
        |           FROM bands n JOIN bands i ON n.band = i.band AND n.bkey = i.bkey
        |           JOIN iok1 ON i.band = iok1.band AND i.bkey = iok1.bkey
        |           WHERE n.doc_id % 20 = 0 AND i.doc_id % 10 <> 0),
        |surv1 AS (SELECT doc_id FROM documents WHERE doc_id % 20 = 0
        |          AND doc_id NOT IN (SELECT doc_id FROM dirty1)),
        |idx2 AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0
        |         UNION ALL SELECT doc_id FROM surv1),
        |iok2 AS (SELECT b.band, b.bkey FROM bands b JOIN idx2 x ON b.doc_id = x.doc_id
        |         GROUP BY b.band, b.bkey HAVING count(*) <= 64),
        |dirty2 AS (SELECT DISTINCT n.doc_id
        |           FROM bands n JOIN bands i ON n.band = i.band AND n.bkey = i.bkey
        |           JOIN idx2 x ON i.doc_id = x.doc_id
        |           JOIN iok2 ON i.band = iok2.band AND i.bkey = iok2.bkey
        |           WHERE n.doc_id % 10 = 0 AND n.doc_id % 20 <> 0),
        |surv2 AS (SELECT doc_id FROM documents
        |          WHERE doc_id % 10 = 0 AND doc_id % 20 <> 0
        |          AND doc_id NOT IN (SELECT doc_id FROM dirty2))
        |SELECT doc_id FROM surv1 UNION ALL SELECT doc_id FROM surv2
        |ORDER BY doc_id""").stripMargin) { (s, d) =>
      val run = streamRun.incrementAndGet()
      val in = java.nio.file.Files.createTempDirectory(s"graft_st9_in$run").toString
      val wh = java.nio.file.Files.createTempDirectory(s"graft_st9_wh$run").toString + "/t"
      val idxDir = java.nio.file.Files.createTempDirectory(s"graft_st9_ix$run").toString + "/i"
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_st9_ck$run").toString
      // seed the stored index with the ingested corpus' band table (the
      // same train-once content the static-gate queries serve from). The
      // growing index MUTATES, so it needs a private copy — taken as a
      // byte-level file copy, not a Spark re-encode job (the st9 cost
      // split measured the write job at ~1.8 s of the timed query; the
      // file copy is ~0.1 s and byte-identical)
      val seedSrc = new java.io.File(PackExt.persistedBandIndexPath(s, d))
      val seedDst = new java.io.File(idxDir)
      seedDst.mkdirs()
      seedSrc.listFiles().foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(seedDst, f.getName).toPath): Unit
      }
      val newDocs = Tables.documents(s, d).filter($"doc_id" % 10 === 0)
        .select($"doc_id", $"text")
      val sch = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      val ss = Session.derived(s, Session.Stream)
      def drain(): Unit = graft.streaming.StreamingOps.runGatedToWarehouseGrowing(
        graft.streaming.StreamingOps.fileSource(ss, in, sch), idxDir,
        "doc_id", "text", wh, ckpt).awaitTermination()
      stageArrival(in, newDocs.filter($"doc_id" % 20 === 0), "b1")
      drain()
      stageArrival(in, newDocs.filter($"doc_id" % 20 =!= 0), "b2")
      drain()
      Tables.siteRead(s, "PackCore:558", wh).select($"doc_id").orderBy($"doc_id")
    },

    // ST10 (live) — watermarked STREAM-STREAM interval join: view events
    // joined to the click events that follow them within 10 minutes for
    // the same user. This is the one Structured Streaming join shape the
    // pack didn't yet exercise: both sides are unbounded, state is keyed
    // by user_id and bounded by the watermark + time-range condition
    // (Spark evicts view-side state once the click-side watermark passes
    // vts + 10 min), so at 100 TB/day the state store holds only the
    // 10-minute frontier per key — arrivals, not history. The oracle is
    // the equivalent batch interval join. Run via AvailableNow against
    // the fixture (single batch ⇒ no late-drop nondeterminism; the
    // watermark machinery still runs and is what the plan is pinned on).
    QDef("st10_stream_stream_join",
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
        |FROM events v JOIN events c ON v.user_id = c.user_id
        | AND v.event_type = 'view' AND c.event_type = 'click'
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
        |ORDER BY v.user_id, view_id, click_id""".stripMargin) { (s, d) =>
      val rawTs = graft.schemas.Tables.eventsRawTsType(s, d)
      val sch = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", rawTs),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      val ss = Session.derived(s, Session.Stream)
      def sideStream(tpe: String, userN: String, idN: String, tsN: String) =
        eventsStream(ss, d, sch)
          .withColumn("tsn", graft.schemas.Tables.eventsStreamTs(rawTs))
          .filter($"event_type" === tpe)
          .select($"user_id".as(userN), $"event_id".as(idN), $"tsn".as(tsN))
          .withWatermark(tsN, "1 hour")
      val views = sideStream("view", "user_id", "view_id", "vts")
      val clicks = sideStream("click", "cuser", "click_id", "cts")
      val name = s"st10_live_run_${streamRun.incrementAndGet()}"
      views.join(clicks,
          $"user_id" === $"cuser" &&
            $"cts" >= $"vts" &&
            $"cts" <= $"vts" + expr("INTERVAL 10 MINUTES"))
        .select($"user_id", $"view_id", $"click_id")
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      Session.bind(ss.table(name), s).orderBy($"user_id", $"view_id", $"click_id")
    },

    // K4 (live) — DDL bootstrap + catalog roundtrip: CREATE TABLE ...
    // USING parquet, idempotent IF NOT EXISTS re-issue (the reference
    // re-runs its DDL every batch, extract_data_bank_pay:60-81), INSERT
    // through the catalog name, read back through the catalog name.
    QDef("k4_sink_ddl_create",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val run = streamRun.incrementAndGet()
      val tbl = s"k4_ddl_run_$run"
      val loc = java.nio.file.Files.createTempDirectory(s"graft_k4_$run").toString + "/t"
      val ddl = s"""CREATE TABLE IF NOT EXISTS $tbl
                   |  (n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)
                   |USING parquet LOCATION '$loc'""".stripMargin
      s.sql(ddl)
      s.sql(ddl) // idempotent re-issue
      Tables.nation(s, d).select($"n_nationkey", $"n_name", $"n_regionkey")
        .createOrReplaceTempView(s"${tbl}_src")
      s.sql(s"INSERT INTO $tbl SELECT * FROM ${tbl}_src")
      s.table(tbl).orderBy($"n_nationkey")
    },

    // K6 (live) — processed-file lifecycle: the archiving file source
    // moves consumed files aside (raw/ → processed/ discipline,
    // transform_data_mp:18-36). The source archives a batch's files when a
    // LATER batch commits, so the query runs two arrival rounds over one
    // checkpoint — the second run's batch archives the first round's
    // files. Fully oracle-checked: each arrival stages exactly ONE
    // coalesced parquet file, so after the second commit the lifecycle
    // state is deterministic — b1's file archived, b2's file still in
    // the inbox — and the ingested row count reproduces from events.
    QDef("k6_sink_archive_move",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(1 AS BIGINT) AS n_archived,
        |       CAST(1 AS BIGINT) AS n_remaining
        |FROM events WHERE event_id % 997 = 0""".stripMargin) { (s, d) =>
      val run = streamRun.incrementAndGet()
      val in = java.nio.file.Files.createTempDirectory(s"graft_k6_in$run").toString
      val arch = java.nio.file.Files.createTempDirectory(s"graft_k6_ar$run").toString
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_k6_ck$run").toString
      val wh = java.nio.file.Files.createTempDirectory(s"graft_k6_wh$run").toString + "/t"
      val err = java.nio.file.Files.createTempDirectory(s"graft_k6_er$run").toString + "/e"
      val base = Tables.events(s, d).filter($"event_id" % 997 === 0)
        .select($"event_id", $"user_id", $"event_type")
      val sch = StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType)))
      // parquet foreachBatch sink: the memory sink cannot recover from a
      // checkpoint, and the second (recovering) run is what archives
      def drain(): Unit = graft.streaming.StreamingOps.runToWarehouse(
        graft.streaming.StreamingOps.fileSourceArchiving(s, in, sch, arch),
        wh, err, ckpt).awaitTermination()
      stageArrival(in, base.filter($"event_id" % 2 === 0), "b1")
      drain()
      stageArrival(in, base.filter($"event_id" % 2 =!= 0), "b2")
      drain() // commits batch 0 → archives the b1 files
      def parquetCount(dir: String): Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(new java.io.File(dir))
      }
      // the archive move is asynchronous to batch commit — bounded wait
      val deadline = System.currentTimeMillis() + 30000
      while (parquetCount(arch) < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      Tables.siteRead(s, "PackCore:671", wh).agg(count(lit(1)).as("n_rows"),
        lit(parquetCount(arch)).cast("long").as("n_archived"),
        lit(parquetCount(in)).cast("long").as("n_remaining"))
    },

    // ---------------------------------------------------------------- scans

    // S1/F1 — listing scan with suffix + size>0 filter
    // (transform_data_pdf:174-181): metadata-only predicate, prunes before
    // any payload read.
    QDef("s1_scan_listing_filter",
      """SELECT source || '/' || CAST(doc_id AS VARCHAR) ||
        |       CASE WHEN doc_id % 2 = 0 THEN '.pdf' ELSE '.txt' END AS path,
        |       n_chars AS size FROM documents
        |WHERE doc_id % 2 = 0 AND n_chars > 0 ORDER BY path""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(concat($"source", lit("/"), $"doc_id".cast("string"),
          when($"doc_id" % 2 === 0, ".pdf").otherwise(".txt")).as("path"),
          $"n_chars".as("size"))
        .filter($"path".endsWith(".pdf") && $"size" > 0)
        .orderBy($"path")
    },

    // S2 — CSV scan (`;` delimiter, header, explicit schema;
    // load_data:273-274, transform_data_mp:52): round-trips nation through
    // a CSV sink (K1) and back.
    QDef("s2_scan_csv",
      "SELECT * FROM nation ORDER BY n_nationkey") { (s, d) =>
      val out = tmpBase(d) + "/csv_nation"
      Tables.nation(s, d).coalesce(1).write.mode("overwrite")
        .option("header", "true").option("sep", ";").csv(out)
      s.read.option("header", "true").option("sep", ";")
        .schema(StructType(Seq(
          StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType))))
        .csv(out)
        .orderBy($"n_nationkey")
    },

    // S3 — Excel ingestion seam (SURVEY.md §7.4 risk 3): no offline XLSX
    // connector exists, so the reader models the workbook as its CSV
    // export (`;`-separated, the transform_data_mp:60-62 path) behind the
    // same explicit-schema reader used for S2 — a connector slots in here
    // without touching downstream plans.
    QDef("s3_scan_excel_as_csv",
      "SELECT * FROM region ORDER BY r_regionkey") { (s, d) =>
      val out = tmpBase(d) + "/xlsx_region"
      Tables.region(s, d).coalesce(1).write.mode("overwrite")
        .option("header", "true").option("sep", ";").csv(out)
      s.read.option("header", "true").option("sep", ";")
        .schema(StructType(Seq(
          StructField("r_regionkey", IntegerType),
          StructField("r_name", StringType))))
        .csv(out)
        .orderBy($"r_regionkey")
    },

    // S8 LIVE — real JDBC sink + partitioned scan against embedded Derby
    // (the Spark distribution ships the Derby driver, so this needs no
    // new dependency): the redshift_to_bq pull (lambda_function.py:
    // 140-170) re-expressed as df.write.jdbc → spark.read.jdbc with a
    // partitionColumn/numPartitions parallel read and a pushed WHERE.
    // Scale shape: the JDBC scan splits into numPartitions range-bounded
    // queries executed concurrently (each executor pulls its own slice —
    // the standard warehouse-offload pattern); the o_custkey predicate
    // is pushed into the remote SQL, not evaluated in Spark. Embedded
    // Derby is in-JVM (local mode); a networked warehouse swaps the URL.
    QDef("s8_scan_jdbc_live",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 10 = 0 AND o_custkey > 0
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val run = streamRun.incrementAndGet()
      val dbRoot = java.nio.file.Files.createTempDirectory(s"graft_s8_db$run").toString
      // keep Derby's engine log out of the process cwd (first boot wins);
      // derby.stream.error.file wins over system-home defaulting, so pin
      // both — without it a boot racing the property set drops ./derby.log
      if (System.getProperty("derby.system.home") == null)
        System.setProperty("derby.system.home", dbRoot)
      if (System.getProperty("derby.stream.error.file") == null)
        System.setProperty("derby.stream.error.file", s"$dbRoot/derby.log")
      val db = dbRoot + "/derby"
      val url = s"jdbc:derby:$db;create=true"
      val driver = "org.apache.derby.jdbc.EmbeddedDriver"
      val src = Tables.orders(s, d).filter($"o_orderkey" % 10 === 0)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      src.coalesce(1).write.mode("overwrite").format("jdbc")
        .option("url", url).option("driver", driver)
        .option("dbtable", "ORDERS_SLICE").save()
      val hi = src.agg(max($"o_orderkey")).head().getLong(0) + 1
      s.read.format("jdbc")
        .option("url", url).option("driver", driver)
        .option("dbtable", "ORDERS_SLICE")
        .option("partitionColumn", "o_orderkey")
        .option("lowerBound", "0").option("upperBound", hi.toString)
        .option("numPartitions", "4")
        .load()
        .filter($"o_custkey" > 0) // pushed into the remote WHERE
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .orderBy($"o_orderkey")
    },

    // S3 LIVE — REAL workbook ingestion, no connector dependency: stage
    // the region table as an actual .xlsx (zip-of-XML per ECMA-376, the
    // public OOXML spec; graft.sources.Xlsx writes the same
    // sharedStrings/`t="s"` layout Excel does) and read it back through
    // the JDK-only SpreadsheetML parser — binaryFile scan, per-file
    // parse on executors, explicit-schema cast (the S2 CSV seam). This
    // is the load_data/lambda_function.py:275-276 path done directly,
    // not modeled; the CSV-export form above stays as the degraded-mode
    // seam.
    QDef("s3_scan_xlsx_real",
      "SELECT * FROM region ORDER BY r_regionkey") { (s, d) =>
      val dir = tmpBase(d) + "/xlsx_real"
      graft.sources.Xlsx.writeFile(Tables.region(s, d), s"$dir/region.xlsx")
      graft.sources.Xlsx.read(s, dir, StructType(Seq(
          StructField("r_regionkey", IntegerType),
          StructField("r_name", StringType))))
        .orderBy($"r_regionkey")
    },

    // S6 — Gmail incremental source, engine-side model (extract_data_pdf:
    // 110-117): the connector fetch is out of scope; what the engine owns
    // is the pushed-down `ts > watermark` predicate over the staged
    // mail/event store, with the watermark derived from what's loaded.
    QDef("s6_source_incremental",
      """SELECT event_id, user_id, value FROM events
        |WHERE CAST(ts AS TIMESTAMP) > (SELECT max(CAST(ts AS TIMESTAMP)) FROM events WHERE event_id % 4 = 0)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      Ops.watermarkAfter(ev, "ts", ev.filter($"event_id" % 4 === 0), $"ts",
          lit(null).cast("timestamp"))
        .select($"event_id", $"user_id", $"value")
        .orderBy($"event_id")
    },

    // K5 + F18 — bulk replication (redshift_to_bq:133-182): read the
    // warehouse table, conform types through the cast matrix, bulk-write
    // columnar, re-read. Set-based copy replacing the row-decode loop.
    QDef("k5_sink_bulk_copy",
      """SELECT o_orderkey, CAST(o_custkey AS INTEGER) AS o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val out = tmpBase(d) + "/bq_orders"
      val target = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", IntegerType),
        StructField("o_totalprice", DecimalType(18, 2)),
        StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))
      Exprs.conformTo(Tables.orders(s, d), target)
        .write.mode("overwrite").parquet(out)
      Tables.siteRead(s, "PackCore:822", out)
        .withColumn("o_totalprice", $"o_totalprice".cast("double"))
        .orderBy($"o_orderkey")
    },

    // S4 + F31 — JSON scan + field access (transform_data_bank_pay:80-81):
    // round-trips events through a JSON sink (K2) and extracts the props
    // field from the raw JSON string.
    QDef("s4_scan_json",
      """SELECT event_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val out = tmpBase(d) + "/json_events"
      Tables.events(s, d).select($"event_id", $"props")
        .write.mode("overwrite").json(out)
      s.read.schema(StructType(Seq(
          StructField("event_id", LongType), StructField("props", StringType))))
        .json(out)
        .select($"event_id", Exprs.jsonGet($"props", "$.k").cast("long").as("k"))
        .orderBy($"event_id")
    },

    // ---------------------------------------------------------------- sinks

    // K1 — CSV sink + re-read (transform_data_pdf:151-160). Doubles
    // round-trip exactly via shortest-representation text.
    QDef("k1_sink_csv",
      "SELECT * FROM customer ORDER BY c_custkey") { (s, d) =>
      val out = tmpBase(d) + "/csv_customer"
      Tables.customer(s, d).coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(out)
      s.read.option("header", "true")
        .schema(StructType(Seq(
          StructField("c_custkey", LongType),
          StructField("c_name", StringType),
          StructField("c_nationkey", IntegerType),
          StructField("c_acctbal", DoubleType),
          StructField("c_mktsegment", StringType))))
        .csv(out)
        .orderBy($"c_custkey")
    },

    // K1' — ORC sink/scan roundtrip: the second columnar format Spark
    // ships natively (vectorized reader, predicate pushdown, zlib/zstd),
    // the standard interchange with Hive-era warehouses. Typed columns
    // survive the roundtrip exactly, so the oracle is the plain
    // projection of the source table.
    QDef("k10_sink_orc",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val out = tmpBase(d) + "/orc_nation"
      Tables.nation(s, d).select($"n_nationkey", $"n_name", $"n_regionkey")
        .write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy($"n_nationkey")
    },

    // K3 + J2 — idempotent warehouse append: bulk columnar writes replace
    // the reference's row-at-a-time INSERT loop (load_data:16-36); the
    // anti-join gate makes the re-append a no-op, so re-running the load
    // leaves the warehouse unchanged (idempotence-by-construction).
    QDef("k3_sink_warehouse_append",
      "SELECT * FROM orders ORDER BY o_orderkey") { (s, d) =>
      val out = tmpBase(d) + "/wh_orders"
      val o = Tables.orders(s, d)
      o.filter($"o_orderkey" % 2 === 0).write.mode("overwrite").parquet(out)
      val loaded0 = Tables.siteRead(s, "PackCore:886", out)
      Ops.antiJoin(o.filter($"o_orderkey" % 2 === 1), loaded0, Seq("o_orderkey"))
        .write.mode("append").parquet(out)
      // second attempt: fully deduped away → append writes zero rows
      val loaded1 = Tables.siteRead(s, "PackCore:890", out)
      Ops.antiJoin(o, loaded1, Seq("o_orderkey")).write.mode("append").parquet(out)
      Tables.siteRead(s, "PackCore:892", out).orderBy($"o_orderkey")
    },

    // S10/K3'' — partition-pruned scan over a hive-layout warehouse: the
    // table is written partitioned by status, and the status-filtered
    // read-back must touch ONLY that partition's directory (PartitionFilters
    // in the scan, guarded by PlanSpec). At 100 TB this is the difference
    // between reading the table and reading 1/k of it before any I/O.
    QDef("s10_scan_partition_pruned",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val out = tmpBase(d) + "/wh_orders_by_status"
      Tables.orders(s, d).write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(out)
      Tables.siteRead(s, "PackCore:908", out).filter($"o_orderstatus" === "F")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum($"o_totalprice".cast(DecimalType(18, 2))).cast("double").as("total"))
        .orderBy($"o_orderpriority")
    },

    // K8 — the compensation UPDATE as a set-based merge: failed-batch
    // rows get status 'X', everything else passes through unchanged
    // (compensation_flow:34-56; idempotent by construction).
    QDef("k8_upsert_rollback",
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |  o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val base = Tables.orders(s, d).select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val failed = base.filter($"o_orderkey" % 10 === 0)
        .withColumn("o_orderstatus", lit("X"))
      Ops.upsert(base, failed, Seq("o_orderkey")).orderBy($"o_orderkey")
    },

    // A5 surface — "¿cuánto gasté este mes?" (ai_agent:214-222): calendar-
    // period filter via date_trunc, the only "window" the reference's NL
    // surface needs (SURVEY §2.10 note).
    QDef("agg_month_filter",
      """SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gasto,
        |       count(*) AS n
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1996-06-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'""".stripMargin) { (s, d) =>
      // "this month" as a half-open range, not date_trunc(col) = ts — a
      // function over the column blocks parquet predicate pushdown; the
      // range form row-group-skips (PlanSpec guards this).
      Tables.orders(s, d)
        .filter($"o_orderdate" >= lit(java.sql.Timestamp.valueOf("1996-06-01 00:00:00")) &&
          $"o_orderdate" < lit(java.sql.Timestamp.valueOf("1996-07-01 00:00:00")))
        .agg(sum(dec($"o_totalprice")).cast("double").as("gasto"), count(lit(1)).as("n"))
    },

    // §3.3 — the NL-analytics read path minus the LLM: catalog resolve
    // (spark.catalog ≈ Glue get_tables, ai_agent:22-36) + spark.sql over a
    // registered view (≈ Redshift execute, ai_agent:101-125).
    QDef("sql_adhoc_catalog",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      require(s.catalog.tableExists("v_orders")) // catalog resolve step
      s.sql(
        """SELECT o_orderpriority, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM v_orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    },

    // Spark 4 RECURSIVE CTE — multi-hop reachability over the supplier
    // co-purchase graph, executed by Spark's own recursive-CTE engine
    // (SPARK-24497, new in 4.x) with the IDENTICAL query text running in
    // DuckDB as the oracle. Seed = the minimum supplier in the bounded
    // edge slice; expansion tracks hops with UNION ALL under an explicit
    // hop bound (the cycle guard), then min-hop per node collapses path
    // multiplicity. The recursion is the warehouse-native form of the
    // iterative DataFrame loops (pageRank/CC) — declared so the SQL
    // surface covers it too.
    QDef("sql_recursive_cte",
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  WHERE a.l_orderkey % 50 = 0),
        |e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        |seed AS (SELECT min(u) AS node FROM e),
        |reach(node, hop) AS (
        |  SELECT node, 0 FROM seed
        |  UNION ALL
        |  SELECT e.v, r.hop + 1 FROM reach r JOIN e ON e.u = r.node
        |  WHERE r.hop < 3),
        |mh AS (SELECT node, min(hop) AS hop FROM reach GROUP BY node)
        |SELECT hop, count(*) AS n FROM mh GROUP BY hop ORDER BY hop""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .createOrReplaceTempView("v_li_rec")
      s.sql(
        """WITH RECURSIVE e0 AS (
          |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
          |  FROM v_li_rec a JOIN v_li_rec b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
          |  WHERE a.l_orderkey % 50 = 0),
          |e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
          |seed AS (SELECT min(u) AS node FROM e),
          |reach(node, hop) AS (
          |  SELECT node, 0 FROM seed
          |  UNION ALL
          |  SELECT e.v, r.hop + 1 FROM reach r JOIN e ON e.u = r.node
          |  WHERE r.hop < 3),
          |mh AS (SELECT node, min(hop) AS hop FROM reach GROUP BY node)
          |SELECT hop, count(*) AS n FROM mh GROUP BY hop ORDER BY hop""".stripMargin)
    },

    // J10 — the NOT IN null trap, pinned down: when the subquery emits a
    // NULL, SQL's three-valued NOT IN returns UNKNOWN for every probe row
    // (zero results), while the anti-join keeps the rows with no match —
    // the semantics every dedup gate in this engine relies on. Both
    // variants in one summary so the divergence is the asserted value.
    QDef("j10_not_in_null_trap",
      """SELECT 'anti_join' AS variant, CAST(count(*) AS BIGINT) AS n FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM orders i
        |                  WHERE (CASE WHEN i.o_orderkey % 2 = 0 THEN i.o_orderkey END) = o.o_orderkey)
        |UNION ALL
        |SELECT 'not_in', CAST(count(*) AS BIGINT) FROM orders
        |WHERE o_orderkey NOT IN (SELECT CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey END FROM orders)
        |ORDER BY variant""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("j10_orders")
      s.sql(
        """SELECT 'anti_join' AS variant, CAST(count(*) AS BIGINT) AS n FROM j10_orders o
          |WHERE NOT EXISTS (SELECT 1 FROM j10_orders i
          |                  WHERE (CASE WHEN i.o_orderkey % 2 = 0 THEN i.o_orderkey END) = o.o_orderkey)
          |UNION ALL
          |SELECT 'not_in', CAST(count(*) AS BIGINT) FROM j10_orders
          |WHERE o_orderkey NOT IN (SELECT CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey END FROM j10_orders)
          |ORDER BY variant""".stripMargin)
    },

    // S7' (live) — the custom DataSource V2 connector driven through its
    // MICRO-BATCH stream inside the declared pack: rowsPerBatch
    // admission control paces the drain, Trigger.AvailableNow runs it to
    // completion, and the accumulated memory sink must equal the batch
    // relation exactly — the custom-source half of the st4 live
    // streaming story. Deterministic synthetic rows ⇒ the oracle is the
    // same range arithmetic as s7.
    QDef("s7_stream_custom_source",
      """SELECT id, bucket, amount FROM (
        |  SELECT id, CAST(id % 10 AS INTEGER) AS bucket,
        |         CAST((id * 2654435761) % 100000 AS DOUBLE) / 100.0 AS amount
        |  FROM range(0, 900) t(id))
        |ORDER BY id""".stripMargin) { (s, d) =>
      val name = s"s7_stream_run_${streamRun.incrementAndGet()}"
      val ss = Session.derived(s, Session.Stream)
      val q = ss.readStream.format("graft-ledger")
        .option("rows", 900).option("slices", 3).option("rowsPerBatch", 250).load()
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_s7_ck").toString)
        .start()
      q.awaitTermination()
      Session.bind(ss.table(name), s).select($"id", $"bucket", $"amount").orderBy($"id")
    },

    // K9 — the transactional V2 sink as a declared roundtrip: an
    // overwrite commit then an append commit through graft-atomic
    // (staged task files → atomic rename publish → versioned manifest
    // swap), read back through its snapshot-isolated scan. The oracle is
    // the plain source selection — the protocol must be invisible in the
    // data. Abort/isolation/time-travel edges live in SourceSpec.
    QDef("k9_sink_atomic_roundtrip",
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE o_orderkey % 4 < 2 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val loc = tmpBase(d) + "/atomic_orders"
      def rmA(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmA))
        f.delete(); ()
      }
      rmA(new java.io.File(loc))
      val o = Tables.orders(s, d).select($"o_orderkey", $"o_orderpriority")
      o.filter($"o_orderkey" % 4 === 0).write.format("graft-atomic")
        .option("path", loc).mode("overwrite").save()
      o.filter($"o_orderkey" % 4 === 1).write.format("graft-atomic")
        .option("path", loc).mode("append").save()
      s.read.schema(o.schema).format("graft-atomic").load(loc)
        .orderBy($"o_orderkey")
    },

    // Bucketed sort-merge join — the co-located join: both sides written
    // bucketed+sorted on the join key into the session catalog, so the
    // SMJ consumes bucket files directly with ZERO exchanges (PlanSpec
    // guards it). At 100 TB this is THE pattern for a fact-fact join
    // that recurs on the same key: pay the partitioning once at write
    // time, never at query time. The merge hint pins SMJ so the small-sf
    // fixture doesn't collapse to a broadcast that would hide the
    // bucketing story.
    QDef("join_bucketed_smb",
      """SELECT o.o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val tag = new java.io.File(d).getName.replace('.', '_')
      val (to, tl) = (s"graft_smb_orders_$tag", s"graft_smb_lineitem_$tag")
      s.sql(s"DROP TABLE IF EXISTS $to"); s.sql(s"DROP TABLE IF EXISTS $tl")
      // external-path tables: dropping metadata leaves data files — clear
      // the locations too so a re-run (bench executes queries repeatedly)
      // cannot accrete duplicate rows
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(new java.io.File(tmpBase(d) + "/smb_orders"))
      rm(new java.io.File(tmpBase(d) + "/smb_lineitem"))
      graft.io.Warehouse.appendBucketed(
        Tables.orders(s, d).select($"o_orderkey", $"o_orderpriority"),
        to, "o_orderkey", 8, Some(tmpBase(d) + s"/smb_orders"))
      graft.io.Warehouse.appendBucketed(
        Tables.lineitem(s, d).select($"l_orderkey", $"l_extendedprice"),
        tl, "l_orderkey", 8, Some(tmpBase(d) + s"/smb_lineitem"))
      s.table(to).hint("merge")
        .join(s.table(tl), $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(dec($"l_extendedprice")).cast("double").as("total"))
        .orderBy($"o_orderpriority")
    },

    // The same analytic through Spark 4's SQL pipe syntax — each |>
    // stage is a self-contained transform (the SQL text reads in
    // dataflow order, like the DataFrame API). Identical Catalyst plan,
    // identical result; the oracle stays classic SQL.
    QDef("sql_pipe_syntax",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderdate >= DATE '1995-01-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("v_orders_pipe")
      s.sql(
        """FROM v_orders_pipe
          ||> WHERE o_orderdate >= DATE '1995-01-01'
          ||> AGGREGATE count(*) AS n,
          |     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |   GROUP BY o_orderpriority
          ||> ORDER BY o_orderpriority""".stripMargin)
    },

    // S7/S8 connector seam as a real DataSource V2 implementation
    // (graft.sources.LedgerSource): deterministic synthetic source with
    // filter pushdown (id range absorbed by the scan), partition pruning
    // (non-overlapping slices never planned) and column pruning. The
    // oracle reproduces the integer-exact row math over a DuckDB range.
    QDef("s7_scan_custom_source",
      """SELECT id, bucket, amount FROM (
        |  SELECT id, CAST(id % 10 AS INTEGER) AS bucket,
        |         CAST((id * 2654435761) % 100000 AS DOUBLE) / 100.0 AS amount
        |  FROM range(0, 5000) t(id))
        |WHERE id >= 1000 AND id < 2000 AND bucket <> 7
        |ORDER BY id""".stripMargin) { (s, d) =>
      s.read.format("graft-ledger")
        .option("rows", 5000).option("slices", 8).load()
        .filter($"id" >= 1000L && $"id" < 2000L && $"bucket" =!= 7)
        .orderBy($"id")
    }
  )

  // memory-sink table names must be unique per execution (bench re-runs
  // each query in one session)
  private[queries] val streamRun = new java.util.concurrent.atomic.AtomicInteger()

  /** Streaming reader for the events table that works on BOTH fixture
    * layouts: the driver testdata ships `events.parquet` as a single
    * file (glob-filter the sf dir), while generated fixtures (StressGen)
    * write it as a parquet DIRECTORY — where a `pathGlobFilter` on the
    * basename would silently match nothing and stream 0 rows (caught by
    * the 10× ScaleCheck run of st10, which read empty at the stress
    * dir). */
  private def eventsStream(s: SparkSession, d: String,
      sch: StructType): DataFrame = {
    val asDir = new java.io.File(s"$d/events.parquet")
    if (asDir.isDirectory) s.readStream.schema(sch).parquet(asDir.toString)
    else s.readStream.schema(sch)
      .option("pathGlobFilter", "events.parquet").parquet(d)
  }

  /** Session-lifetime content cache for staged arrival batches, keyed by
    * PLAN SEMANTICS (canonicalized-plan equality — the BoundedCache
    * discipline applied to staged bytes). Every staged batch in this pack
    * is a deterministic function of the immutable testdata tables plus
    * data-derived values that land in the plan AS LITERALS (flush
    * timestamps, sentinel rows), so semantically-equal plans encode
    * byte-equal batches; a run-dependent value would change the literal
    * and miss the cache, never alias. */
  private val stagedCache =
    new scala.collection.mutable.ArrayBuffer[(DataFrame, String)]()

  // the cached staging dirs hold real parquet copies (unlike the old
  // move-out-of-staging flow, which left only metadata): reclaim them
  // when their session dies and at JVM exit, so long-lived boxes never
  // accumulate one corpus copy per staged plan per session
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      stagedCache.synchronized {
        stagedCache.foreach { case (_, dir) => deleteStagingDir(dir) }
      }))
  }

  private def deleteStagingDir(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(dir))
  }

  /** Write `df` as parquet files directly inside `dir` — one arrival
    * batch per call (the streaming file source lists only the top level,
    * so nested write directories would be invisible). The FIRST staging
    * of a plan pays the Spark encode job; every later staging of the same
    * plan (bench warmup + timed passes, verify re-runs) byte-copies the
    * cached file instead — the st9 index-copy measurement (1.8 s → 0.2 s
    * for a file copy vs a re-encode) applied to every staged-arrival
    * site, which is the bulk of the st* bench floor that is not the
    * drain itself. Entries only ever match within their own live session
    * (a new session re-encodes from scratch). */
  private[queries] def stageArrival(dir: String, df: DataFrame, part: String): Unit = {
    def lookup(): Option[String] = stagedCache.synchronized {
      // evict dead-session entries while here: they can never match again
      // and would otherwise pin their logical plans (and cost a
      // canonicalized compare per lookup) for the JVM's life — the
      // BoundedCache eviction discipline; their staging dirs are deleted
      // with them (real parquet copies, not the OS tempdir's problem)
      stagedCache.filterInPlace { case (p, d) =>
        val live = !p.sparkSession.sparkContext.isStopped
        if (!live) deleteStagingDir(d)
        live
      }
      stagedCache.find { case (p, _) =>
        p.sparkSession.eq(df.sparkSession) &&
          (try p.sameSemantics(df)
           catch { case scala.util.control.NonFatal(_) => false })
      }.map(_._2)
    }
    def encode(): String = {
      // encode OUTSIDE the lock — a Spark job under a global mutex would
      // serialize concurrent suites' staging; a racing duplicate encode
      // loses the re-lookup and its tempdir (a full parquet copy no
      // eviction or shutdown hook would ever see) is reclaimed here
      val staging = java.nio.file.Files.createTempDirectory("graft_stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      stagedCache.synchronized {
        lookup() match {
          case Some(winner) => deleteStagingDir(staging); winner
          case None => stagedCache += ((df, staging)); staging
        }
      }
    }
    // a session-lifetime cached dir can be removed out from under us (OS
    // /tmp reaper on a long-lived JVM) — treat a missing/empty dir as a
    // cache miss: evict the entry and re-encode, never NPE
    // REPLACE_EXISTING + NonFatal-to-false make the copy retryable: a
    // reaper deleting a source file MID-copy (after listFiles) must read
    // as the same cache miss as an already-empty dir, and the retry's
    // re-copy must overwrite any partial first attempt
    def copyOut(cached: String): Boolean =
      try {
        val files = Option(new java.io.File(cached).listFiles())
          .getOrElse(Array()).filter(_.getName.endsWith(".parquet"))
        files.sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(dir, s"${part}_$i.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
        }
        files.nonEmpty
      } catch { case scala.util.control.NonFatal(_) => false }
    if (!copyOut(lookup().getOrElse(encode()))) {
      // evict by the SAME predicate the miss used — "has parquet files",
      // not "is a directory": a partially-reaped dir (files gone, dir
      // alive) would otherwise survive eviction, win the retry's lookup,
      // and turn the recovery path into a crash
      stagedCache.synchronized {
        stagedCache.filterInPlace { case (_, d) =>
          val alive = Option(new java.io.File(d).listFiles())
            .exists(_.exists(_.getName.endsWith(".parquet")))
          if (!alive) deleteStagingDir(d)
          alive
        }
      }
      require(copyOut(encode()),
        "stageArrival: staged dir vanished immediately after encode")
    }
  }

  // sugar for $"col" inside this object
  private implicit class Str(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
