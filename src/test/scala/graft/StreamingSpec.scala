package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps

/** ST1-ST6 end-to-end on real Structured Streaming (memory/file sinks,
  * Trigger.AvailableNow — the reference's cron-batch semantics). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("value", DoubleType)))

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** Stage one arrival batch: any DataFrame written as parquet files
    * directly inside `dir` (the streaming file source lists only the
    * top level). */
  private def stageDF(dir: String, df: org.apache.spark.sql.DataFrame, part: String): Unit = {
    val staging = tmp("graft_stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        Files.move(f.toPath, java.nio.file.Paths.get(dir, s"${part}_$i.parquet")); ()
      }
  }

  private def stageBatch(dir: String, rows: Seq[(Long, String, Long, Double)], part: String): Unit =
    stageDF(dir,
      rows.toDF("event_id", "ts_s", "user_id", "value")
        .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
        .select($"event_id", $"ts", $"user_id", $"value"),
      part)

  /** transformWithState requires the RocksDB state store provider;
    * scope it to the body and restore (or unset) the previous value. */
  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("ST4/ST5: AvailableNow file-source pipeline drains staged files then stops; " +
       "second run is incremental (checkpoint watermark)") {
    val in = tmp("graft_in"); val wh = tmp("graft_wh2"); val err = tmp("graft_err")
    val ckpt = tmp("graft_ckpt")
    stageBatch(in, Seq((1L, "2024-01-01 10:00:00", 1L, 10.0),
      (2L, "2024-01-01 11:00:00", 2L, 20.0)), "b1")
    val q1 = StreamingOps.runToWarehouse(
      StreamingOps.fileSource(spark, in, schema), wh, err, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(wh).count() == 2)

    // second arrival: only the new file is processed (ST1 incremental)
    stageBatch(in, Seq((3L, "2024-01-02 10:00:00", 1L, 30.0)), "b2")
    val q2 = StreamingOps.runToWarehouse(
      StreamingOps.fileSource(spark, in, schema), wh, err, ckpt)
    q2.awaitTermination()
    val ids = spark.read.parquet(wh).select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L), "re-run must not re-ingest old files")
  }

  test("ST3: watermark-bounded dropDuplicates dedups within the stream") {
    val in = tmp("graft_in3"); val ckpt = tmp("graft_ckpt3")
    stageBatch(in, Seq((1L, "2024-01-01 10:00:00", 1L, 10.0),
      (1L, "2024-01-01 10:00:01", 1L, 10.0), // dup id
      (2L, "2024-01-01 10:00:02", 2L, 20.0)), "b1")
    val deduped = StreamingOps.dedupStream(
      StreamingOps.fileSource(spark, in, schema), "ts", "1 hour", "event_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.sql("SELECT count(*) FROM dedup_out").as[Long].head() == 2)
  }

  test("streaming near-dup gate: arrivals probe the stored band index, only clean docs land") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def stageDocs(dir: String, rows: Seq[(Long, String)], part: String): Unit = {
      val staging = tmp("graft_stage_docs")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(staging)
      new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, java.nio.file.Paths.get(dir, s"${part}_$i.parquet"))
        }
    }
    val indexed = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "completely unrelated corpus document about databases and storage"))
      .toDF("doc_id", "text")
    val idx = graft.ext.TextDedup.pruneBands(
      graft.ext.TextDedup.bandIndex(indexed, "doc_id", "text"))
    val in = tmp("graft_gate_in"); val wh = tmp("graft_gate_wh") + "/t"
    val ckpt = tmp("graft_gate_ck")
    // batch 1: one exact dup of doc 0 (must be dropped), one clean doc
    stageDocs(in, Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"),
      (101L, "a genuinely fresh document with novel words entirely")), "b1")
    StreamingOps.runGatedToWarehouse(
      StreamingOps.fileSource(spark, in, docSchema), idx,
      "doc_id", "text", wh, ckpt).awaitTermination()
    assert(spark.read.parquet(wh).select("doc_id").as[Long].collect().toSeq
      == Seq(101L), "the dup must be gated out, the clean doc kept")
    // batch 2 (same checkpoint → only new files): a reordered near-dup of
    // doc 1 (signatures are token-SET functions → caught) + a clean doc
    stageDocs(in, Seq(
      (200L, "storage and databases about document corpus unrelated completely"),
      (201L, "another distinct arrival carrying its own vocabulary here")), "b2")
    StreamingOps.runGatedToWarehouse(
      StreamingOps.fileSource(spark, in, docSchema), idx,
      "doc_id", "text", wh, ckpt).awaitTermination()
    val finalIds = spark.read.parquet(wh).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(finalIds == Seq(101L, 201L),
      s"expected only the two clean docs, got $finalIds (re-ingestion or a missed dup)")
  }

  test("growing-index gate: a later batch dedups against an earlier batch's survivors") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def stageDocs(dir: String, rows: Seq[(Long, String)], part: String): Unit = {
      val staging = tmp("graft_stage_docs_g")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(staging)
      new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, java.nio.file.Paths.get(dir, s"${part}_$i.parquet"))
        }
    }
    val corpus = Seq((0L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val in = tmp("graft_ggate_in"); val wh = tmp("graft_ggate_wh") + "/t"
    val idxDir = tmp("graft_ggate_idx") + "/i"; val ckpt = tmp("graft_ggate_ck")
    graft.ext.TextDedup.bandIndex(corpus, "doc_id", "text")
      .write.parquet(idxDir) // seed with the ingested corpus
    // batch 1: doc 100 is novel → must land AND be indexed
    stageDocs(in, Seq(
      (100L, "a genuinely fresh document with novel words entirely")), "b1")
    StreamingOps.runGatedToWarehouseGrowing(
      StreamingOps.fileSource(spark, in, docSchema), idxDir,
      "doc_id", "text", wh, ckpt).awaitTermination()
    assert(spark.read.parquet(wh).select("doc_id").as[Long].collect().toSeq
      == Seq(100L))
    // batch 2: a reordered near-dup of BATCH 1's survivor (not in the
    // seeded corpus!) must be dropped — only a growing index catches it —
    // plus one clean doc that must land
    stageDocs(in, Seq(
      (200L, "entirely words novel with document fresh genuinely a"),
      (201L, "separate subject matter covering wholly unrelated topics")), "b2")
    StreamingOps.runGatedToWarehouseGrowing(
      StreamingOps.fileSource(spark, in, docSchema), idxDir,
      "doc_id", "text", wh, ckpt).awaitTermination()
    val finalIds = spark.read.parquet(wh).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(finalIds == Seq(100L, 201L),
      s"expected the batch-1 survivor's near-dup gated out by the GROWN index, got $finalIds")
    // and the index itself now carries bands for corpus + both survivors
    assert(spark.read.parquet(idxDir).select("doc_id").distinct()
      .as[Long].collect().sorted.toSeq == Seq(0L, 100L, 201L))
  }

  test("ST6/K7: a failing batch lands in the error table, query completes") {
    val in = tmp("graft_in4"); val err = tmp("graft_err4"); val ckpt = tmp("graft_ckpt4")
    stageBatch(in, Seq((1L, "2024-01-01 10:00:00", 1L, 1.0)), "b1")
    // warehouse path is an unwritable location → foreachBatch catch → K7
    val q = StreamingOps.runToWarehouse(
      StreamingOps.fileSource(spark, in, schema), "/proc/forbidden_wh", err, ckpt)
    q.awaitTermination()
    val errs = spark.read.parquet(err)
    assert(errs.count() >= 1 && errs.columns.contains("error_class"))
  }

  test("K6: cleanSource=archive moves consumed files aside") {
    val in = tmp("graft_in6"); val arch = tmp("graft_arch6"); val ckpt = tmp("graft_ckpt6")
    stageBatch(in, Seq((1L, "2024-01-01 10:00:00", 1L, 1.0)), "b1")
    val q = StreamingOps.fileSourceArchiving(spark, in, schema, arch)
      .writeStream.format("memory").queryName("arch_out")
      .option("checkpointLocation", ckpt)
      .option("spark.sql.streaming.fileSource.cleaner.numThreads", "1")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.sql("SELECT count(*) FROM arch_out").as[Long].head() == 1)
  }

  test("windowed aggregation with watermark over the file stream") {
    val in = tmp("graft_in7"); val ckpt = tmp("graft_ckpt7")
    stageBatch(in, Seq(
      (1L, "2024-01-01 10:01:00", 1L, 10.0), (2L, "2024-01-01 10:04:00", 2L, 20.0),
      (3L, "2024-01-01 10:07:00", 1L, 30.0), (4L, "2024-01-01 11:00:00", 1L, 5.0)), "b1")
    val agg = StreamingOps.fileSource(spark, in, schema)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"user_id")
      .agg(count("*").as("n"), sum($"value").as("total"))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.sql(
      "SELECT CAST(window.start AS STRING), user_id, n, total FROM win_out ORDER BY 1, 2")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(rows == Seq(
      ("2024-01-01 10:00:00", 1L, 1L, 10.0), ("2024-01-01 10:00:00", 2L, 1L, 20.0),
      ("2024-01-01 10:05:00", 1L, 1L, 30.0), ("2024-01-01 11:00:00", 1L, 1L, 5.0)))
  }

  test("ST3 under the RocksDB state store provider (production state backend)") {
    val in = tmp("graft_inR"); val ckpt = tmp("graft_ckptR")
    stageBatch(in, Seq((1L, "2024-01-01 10:00:00", 1L, 10.0),
      (1L, "2024-01-01 10:00:01", 1L, 10.0), // dup id
      (2L, "2024-01-01 10:00:02", 2L, 20.0)), "b1")
    withRocksDb {
      val deduped = StreamingOps.dedupStream(
        StreamingOps.fileSource(spark, in, schema), "ts", "1 hour", "event_id")
      val q = deduped.writeStream.format("memory").queryName("rocks_out")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val ids = spark.sql("SELECT event_id FROM rocks_out ORDER BY 1").as[Long].collect().toSeq
      assert(ids == Seq(1L, 2L), "dedup state must behave identically on RocksDB")
    }
  }

  test("transformWithState (arbitrary state v2) accumulates across micro-batches") {
    val in = tmp("graft_inT"); val ckpt = tmp("graft_ckptT")
    withRocksDb {
      val out = tmp("graft_twsout")
      // memory sink can't recover from a checkpoint → foreachBatch parquet
      def run(): Unit = {
        val ds = StreamingOps.fileSource(spark, in, schema)
          .selectExpr("event_id", "user_id", "value")
          .as[StreamingOps.EventRow]
        val q = StreamingOps.runningTotals(ds)
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingOps.UserTotal], _: Long) =>
            b.write.mode("append").parquet(out); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      stageBatch(in, Seq((1L, "2024-01-01 10:00:00", 1L, 10.0),
        (2L, "2024-01-01 10:01:00", 1L, 5.0)), "b1")
      run()
      // second batch: state must carry the previous totals
      stageBatch(in, Seq((3L, "2024-01-01 11:00:00", 1L, 2.5)), "b2")
      run()
      val last = spark.read.parquet(out).filter($"user_id" === 1L)
        .orderBy($"n".desc).select($"n", $"total").as[(Long, Double)].head()
      assert(last == ((3L, 17.5)), s"state must accumulate across runs: $last")
    }
  }

  private val twsSchema = StructType(Seq(StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("cents", LongType)))

  test("UserProfileProcessor: MapState tracks distinct types, state survives restart") {
    import graft.streaming.{TwsEvent, TwsOut, UserProfileProcessor}
    val in = tmp("graft_inP"); val ckpt = tmp("graft_ckptP"); val out = tmp("graft_twsP")
    withRocksDb {
      def run(): Unit = {
        val q = spark.readStream.schema(twsSchema).parquet(in).as[TwsEvent]
          .groupByKey(_.user_id)
          .transformWithState(new UserProfileProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .writeStream.format("parquet")
          .option("path", s"$out/t").option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      // batch 1: user 7 sees two types (one twice), user 8 one type
      stageDF(in, Seq((7L, "a", 100L), (7L, "b", 50L), (7L, "a", 25L), (8L, "a", 10L))
        .toDF("user_id", "event_type", "cents"), "b1")
      run()
      // batch 2 = a RESTART from the same checkpoint: a repeat type must
      // NOT bump n_types (MapState reloaded), totals must accumulate
      stageDF(in, Seq((7L, "b", 5L), (7L, "c", 1L))
        .toDF("user_id", "event_type", "cents"), "b2")
      run()
      val rows = spark.read.parquet(s"$out/t").as[TwsOut].collect()
        .sortBy(r => (r.user_id, r.cum_n))
      assert(rows.map(r => (r.user_id, r.cum_n, r.n_types, r.sum_cents)).toSeq ==
        Seq((7L, 3L, 2L, 175L), (7L, 5L, 3L, 181L), (8L, 1L, 1L, 10L)),
        s"got: ${rows.mkString(", ")}")
    }
  }

  test("UserProfileProcessor: NULL event_type counts toward totals but never " +
       "becomes a MapState key (SQL count-distinct semantics)") {
    import graft.streaming.{TwsEvent, TwsOut, UserProfileProcessor}
    val in = tmp("graft_inPN"); val ckpt = tmp("graft_ckptPN"); val out = tmp("graft_twsPN")
    withRocksDb {
      stageDF(in, Seq((7L, "a", 100L), (7L, null, 50L), (7L, null, 25L))
        .toDF("user_id", "event_type", "cents"), "b1")
      val q = spark.readStream.schema(twsSchema).parquet(in).as[TwsEvent]
        .groupByKey(_.user_id)
        .transformWithState(new UserProfileProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .writeStream.format("parquet")
        .option("path", s"$out/t").option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val r = spark.read.parquet(s"$out/t").as[TwsOut].head()
      assert((r.cum_n, r.n_types, r.sum_cents) == ((3L, 1L, 175L)),
        s"NULL types must count in n/cents but not in n_types: $r")
    }
  }

  test("WarmStartProcessor: initial state seeds per key, unseeded keys start from zero") {
    import graft.streaming.{TwsAgg, TwsEvent, TwsTotal, WarmStartProcessor}
    val in = tmp("graft_inW"); val ckpt = tmp("graft_ckptW"); val out = tmp("graft_twsW")
    stageDF(in, Seq((1L, "a", 10L), (2L, "a", 5L))
      .toDF("user_id", "event_type", "cents"), "b1")
    // key 1 has history (100 events, 999 cents); key 2 is brand new;
    // key 3 exists only in the snapshot and must stay silent
    val init = Seq((1L, TwsAgg(100L, 999L)), (3L, TwsAgg(7L, 70L)))
      .toDS().groupByKey(_._1).mapValues(_._2)
    withRocksDb {
      val q = spark.readStream.schema(twsSchema).parquet(in).as[TwsEvent]
        .groupByKey(_.user_id)
        .transformWithState(new WarmStartProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append(), init)
        .writeStream.format("parquet")
        .option("path", s"$out/t").option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val rows = spark.read.parquet(s"$out/t").as[TwsTotal].collect().sortBy(_.user_id)
      assert(rows.map(r => (r.user_id, r.cum_n, r.sum_cents)).toSeq ==
        Seq((1L, 101L, 1009L), (2L, 1L, 5L)), s"got: ${rows.mkString(", ")}")
    }
  }

  private val sessSchema = StructType(Seq(StructField("user_id", LongType),
    StructField("ts", TimestampType), StructField("ms", LongType)))

  private def stageSessions(in: String, rows: Seq[(Long, String)], part: String): Unit =
    stageDF(in,
      rows.toDF("user_id", "ts_s")
        .withColumn("ts", to_timestamp($"ts_s"))
        .select($"user_id", $"ts", unix_millis($"ts").as("ms")),
      part)

  private def runSessionTimer(in: String, out: String, ckpt: String,
                              delay: String = "1 minute"): Unit = {
    import graft.streaming.{SessionTimerProcessor, TsEvent}
    val q = spark.readStream.schema(sessSchema).parquet(in)
      .withWatermark("ts", delay)
      .as[TsEvent].groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(1800000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .writeStream.format("parquet")
      .option("path", s"$out/t").option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("WarmStartProcessor: the snapshot applies exactly ONCE — a restart must not re-seed") {
    import graft.streaming.{TwsAgg, TwsEvent, TwsTotal, WarmStartProcessor}
    val in = tmp("graft_inW2"); val ckpt = tmp("graft_ckptW2"); val out = tmp("graft_twsW2")
    val init = Seq((1L, TwsAgg(100L, 999L)))
      .toDS().groupByKey(_._1).mapValues(_._2)
    withRocksDb {
      def run(): Unit = {
        val q = spark.readStream.schema(twsSchema).parquet(in).as[TwsEvent]
          .groupByKey(_.user_id)
          .transformWithState(new WarmStartProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Append(), init)
          .writeStream.format("parquet")
          .option("path", s"$out/t").option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      stageDF(in, Seq((1L, "a", 10L)).toDF("user_id", "event_type", "cents"), "b1")
      run()
      // RESTART with the SAME initial-state argument: a re-applied
      // snapshot would read 201/2008 here instead of 102/1014
      stageDF(in, Seq((1L, "a", 5L)).toDF("user_id", "event_type", "cents"), "b2")
      run()
      val rows = spark.read.parquet(s"$out/t").as[TwsTotal].collect().sortBy(_.cum_n)
      assert(rows.map(r => (r.cum_n, r.sum_cents)).toSeq ==
        Seq((101L, 1009L), (102L, 1014L)),
        s"snapshot must seed exactly once: ${rows.mkString(", ")}")
    }
  }

  test("SessionTimerProcessor: a later batch extends the open session (timer replaced), " +
       "close fires only when the watermark passes the gap") {
    import graft.streaming.SessionOut
    val in = tmp("graft_inS"); val ckpt = tmp("graft_ckptS"); val out = tmp("graft_twsS")
    withRocksDb {
      // b1: two sessions for user 1 — the first closes inline (65 min gap),
      // the second stays open with a timer
      stageSessions(in, Seq((1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 10:10:00"),
        (1L, "2024-01-01 11:15:00")), "b1")
      runSessionTimer(in, out, ckpt)
      // b2: 20 min after the open tail — must EXTEND it (old timer deleted),
      // not open a new session
      stageSessions(in, Seq((1L, "2024-01-01 11:35:00")), "b2")
      runSessionTimer(in, out, ckpt)
      // b3: sentinel far ahead fires the (single) replaced timer
      stageSessions(in, Seq((-1L, "2024-01-05 00:00:00")), "b3")
      runSessionTimer(in, out, ckpt)
      val rows = spark.read.parquet(s"$out/t").filter($"user_id" >= 0)
        .as[SessionOut].collect().sortBy(_.start_ms)
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
      val t2 = java.sql.Timestamp.valueOf("2024-01-01 11:15:00").getTime
      assert(rows.map(r => (r.user_id, r.start_ms, r.n)).toSeq ==
        Seq((1L, t0, 2L), (1L, t2, 2L)), s"got: ${rows.mkString(", ")}")
    }
  }

  test("SessionTimerProcessor: an in-watermark straggler older than the open tail " +
       "becomes its own session instead of corrupting the tail's start") {
    import graft.streaming.SessionOut
    val in = tmp("graft_inS2"); val ckpt = tmp("graft_ckptS2"); val out = tmp("graft_twsS2")
    withRocksDb {
      // 6h watermark delay so the 09:00 straggler is IN-watermark (a
      // below-watermark row never reaches the processor at all)
      stageSessions(in, Seq((1L, "2024-01-01 12:00:00"), (1L, "2024-01-01 12:10:00")), "b1")
      runSessionTimer(in, out, ckpt, delay = "6 hours")
      // b2 delivers a straggler at 09:00 — hours older than the open tail.
      // The pre-fix merge branch would have kept start=12:00 and bumped n;
      // interval-merge closes it inline as its own (9:00, n=1) session.
      stageSessions(in, Seq((1L, "2024-01-01 09:00:00")), "b2")
      runSessionTimer(in, out, ckpt, delay = "6 hours")
      // b3: sentinel fires the open tail's timer
      stageSessions(in, Seq((-1L, "2024-01-05 00:00:00")), "b3")
      runSessionTimer(in, out, ckpt, delay = "6 hours")
      val rows = spark.read.parquet(s"$out/t").filter($"user_id" >= 0)
        .as[SessionOut].collect().sortBy(_.start_ms)
      val t9 = java.sql.Timestamp.valueOf("2024-01-01 09:00:00").getTime
      val t12 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00").getTime
      assert(rows.map(r => (r.user_id, r.start_ms, r.n)).toSeq ==
        Seq((1L, t9, 1L), (1L, t12, 2L)), s"got: ${rows.mkString(", ")}")
    }
  }

  test("chained stateful operators: SessionizerWithTs + windowed rollup in one query, " +
       "flush markers close tails above the watermark") {
    import graft.streaming.{SessionizerWithTs, TsEvent}
    val in = tmp("graft_inC"); val ckpt = tmp("graft_ckptC"); val out = tmp("graft_twsC")
    val flushAt = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime
    withRocksDb {
      def run(): Unit = {
        val q = spark.readStream.schema(sessSchema).parquet(in)
          .withWatermark("ts", "4000 hours")
          .as[TsEvent].groupByKey(_.user_id)
          .transformWithState(new SessionizerWithTs(1800000L, flushAt),
            "start_ts",
            org.apache.spark.sql.streaming.OutputMode.Append())
          .toDF()
          .groupBy(window($"start_ts", "6 hours"))
          .agg(count(lit(1)).as("n_sessions"), sum($"n").as("n_events"))
          .select($"window.start".as("w"), $"n_sessions", $"n_events")
          .writeStream.format("parquet")
          .option("path", s"$out/t").option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      // three sessions across two 6h windows (u1: 01:00 n=2 + 08:00 n=1;
      // u2: 01:30 n=1)
      stageSessions(in, Seq((1L, "2024-01-01 01:00:00"), (1L, "2024-01-01 01:10:00"),
        (1L, "2024-01-01 08:00:00"), (2L, "2024-01-01 01:30:00")), "b1")
      run()
      // per-user flush markers close every tail inline
      stageSessions(in, Seq((1L, "2024-12-01 00:00:00"), (2L, "2024-12-01 00:00:00")), "b2")
      run()
      val rows = spark.read.parquet(s"$out/t")
        .select($"w".cast("string"), $"n_sessions", $"n_events")
        .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
      assert(rows == Seq(("2024-01-01 00:00:00", 2L, 3L), ("2024-01-01 06:00:00", 1L, 1L)),
        s"got: $rows")
    }
  }

  test("st22 state bound: flush markers CLEAR flushed keys — store key set == live-session frontier") {
    import graft.streaming.{SessionizerWithTs, TsEvent}
    val in = tmp("graft_inF"); val ckpt = tmp("graft_ckptF"); val out = tmp("graft_twsF")
    val flushAt = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime
    withRocksDb {
      def run(): Unit = {
        // delay sized so the watermark stays pre-2024 across ALL drains:
        // the third drain's flush emissions carry 2024-01-01 session
        // starts and must stay above the watermark the SECOND drain's
        // markers advanced (the st22 close-protocol invariant)
        val q = spark.readStream.schema(sessSchema).parquet(in)
          .withWatermark("ts", "100000 hours")
          .as[TsEvent].groupByKey(_.user_id)
          .transformWithState(new SessionizerWithTs(1800000L, flushAt),
            "start_ts",
            org.apache.spark.sql.streaming.OutputMode.Append())
          .toDF()
          .writeStream.format("parquet")
          .option("path", s"$out/t").option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      // the operability assertion VERDICT r12 asked for: read the "open"
      // ValueState back through the State Data Source and require the key
      // set to equal the LIVE session frontier, not all-keys-ever
      def storeKeys(): Set[Long] =
        spark.read.format("statestore").option("path", ckpt)
          .option("stateVarName", "open").load()
          .select($"key.value").as[Long].collect().toSet
      // six users, one open session each
      stageSessions(in, (1L to 6L).map(u => (u, s"2024-01-01 0$u:00:00")), "b1")
      run()
      assert(storeKeys() == (1L to 6L).toSet, "every un-flushed key holds its open tail")
      // flush half the keys: their tails emit AND their state clears
      stageSessions(in, (1L to 3L).map(u => (u, "2024-12-01 00:00:00")), "b2")
      run()
      assert(storeKeys() == (4L to 6L).toSet, "flushed keys must leave the store")
      // flush the rest: the store drains to empty
      stageSessions(in, (4L to 6L).map(u => (u, "2024-12-02 00:00:00")), "b3")
      run()
      assert(storeKeys() == Set.empty[Long], "a fully-flushed store holds no keys")
      // and every session surfaced exactly once at the sink
      val emitted = spark.read.parquet(s"$out/t")
        .select($"user_id").as[Long].collect().sorted.toSeq
      assert(emitted == (1L to 6L).toSeq, s"got: $emitted")
    }
  }

  test("TtlCountProcessor: dormant state ages out — a restart past the TTL restarts the count") {
    import graft.streaming.{TwsEvent, TtlCount, TtlCountProcessor}
    val in = tmp("graft_inT2"); val ckpt = tmp("graft_ckptT2"); val out = tmp("graft_twsT2")
    withRocksDb {
      // NOT AvailableNow, and no processAllAvailable: processing-time
      // TTL keeps the stream scheduling no-data eviction batches, so
      // neither termination check settles. Poll the sink for the
      // expected row count, then stop explicitly.
      def run(expectRows: Long): Unit = {
        val q = spark.readStream.schema(twsSchema).parquet(in).as[TwsEvent]
          .groupByKey(_.user_id)
          .transformWithState(new TtlCountProcessor(java.time.Duration.ofMillis(50)),
            org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .writeStream.format("parquet")
          .option("path", s"$out/t").option("checkpointLocation", ckpt)
          .outputMode("append")
          .start()
        val deadline = System.currentTimeMillis() + 90000
        def sunk(): Long =
          try spark.read.parquet(s"$out/t").count() catch { case _: Exception => 0L }
        while (System.currentTimeMillis() < deadline && sunk() < expectRows)
          Thread.sleep(250)
        q.stop(); q.awaitTermination()
        assert(sunk() >= expectRows, s"sink never reached $expectRows rows")
      }
      stageDF(in, Seq((1L, "a", 1L)).toDF("user_id", "event_type", "cents"), "b1")
      run(1L)
      Thread.sleep(2000) // well past the 50 ms TTL
      stageDF(in, Seq((1L, "a", 1L)).toDF("user_id", "event_type", "cents"), "b2")
      run(2L)
      val ns = spark.read.parquet(s"$out/t").as[TtlCount].collect()
        .map(_.cum_n).sorted.toSeq
      // without TTL this would be Seq(1, 2); expiry resets the count
      assert(ns == Seq(1L, 1L), s"state must have expired between runs: $ns")
    }
  }

  test("stream-stream interval join attributes right events within the lag window") {
    val pin = tmp("graft_inP"); val vin = tmp("graft_inV"); val ckpt = tmp("graft_ckptIJ")
    // purchases: u1@12:00, u2@12:00. views: u1@11:10 (inside 1h), u1@10:30
    // (outside), u2 has none → exactly one joined row
    stageBatch(pin, Seq((100L, "2024-01-01 12:00:00", 1L, 0.0),
      (101L, "2024-01-01 12:00:00", 2L, 0.0)), "p")
    stageBatch(vin, Seq((1L, "2024-01-01 11:10:00", 1L, 0.0),
      (2L, "2024-01-01 10:30:00", 1L, 0.0)), "v")
    val purchases = StreamingOps.fileSource(spark, pin, schema)
      .select($"event_id".as("p_id"), $"ts".as("p_ts"), $"user_id")
    val views = StreamingOps.fileSource(spark, vin, schema)
      .select($"event_id".as("v_id"), $"ts".as("v_ts"), $"user_id")
    val joined = StreamingOps.intervalJoin(
      purchases, views, "user_id", "p_ts", "v_ts", "1 HOUR", "2 hours")
      .select($"p_id", $"v_id")
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.sql("SELECT p_id, v_id FROM ij_out ORDER BY p_id")
      .as[(Long, Long)].collect().toSeq
    assert(rows == Seq((100L, 1L)))
  }

  test("flatMapGroupsWithState session windows close on the inactivity gap") {
    val in = tmp("graft_in8"); val ckpt = tmp("graft_ckpt8")
    stageBatch(in, Seq(
      (1L, "2024-01-01 10:00:00", 7L, 1.0), (2L, "2024-01-01 10:05:00", 7L, 2.0),
      (3L, "2024-01-01 12:00:00", 7L, 4.0)), "b1") // 2h gap closes the first session
    val src = StreamingOps.fileSource(spark, in, schema)
      .withWatermark("ts", "0 seconds")
      .select($"user_id", $"ts", $"value").as[StreamingOps.TimedEvent]
    val q = StreamingOps.sessionWindows(src, gapMs = 10 * 60 * 1000)
      .writeStream.format("memory").queryName("sess_out").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.sql(
      "SELECT user_id, CAST(start AS STRING), CAST(end AS STRING), n, total FROM sess_out")
      .as[(Long, String, String, Long, Double)].collect().toSeq
    assert(rows == Seq((7L, "2024-01-01 10:00:00", "2024-01-01 10:05:00", 2L, 3.0)))
  }

  test("session windows: a NULL event-time row is dropped, not a query-killing NPE") {
    val in = tmp("graft_in8n"); val ckpt = tmp("graft_ckpt8n")
    // one NULL-ts row rides along with two real rows for the same key —
    // the watermark operator does NOT filter NULL event times, so the
    // group function must tolerate it
    stageDF(in,
      Seq((1L, Some("2024-01-01 10:00:00"), 7L, 1.0),
          (2L, None, 7L, 2.0),
          (3L, Some("2024-01-01 12:00:00"), 7L, 4.0))
        .toDF("event_id", "ts_s", "user_id", "value")
        .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
        .select($"event_id", $"ts", $"user_id", $"value"),
      "b1")
    val src = StreamingOps.fileSource(spark, in, schema)
      .withWatermark("ts", "0 seconds")
      .select($"user_id", $"ts", $"value").as[StreamingOps.TimedEvent]
    val q = StreamingOps.sessionWindows(src, gapMs = 10 * 60 * 1000)
      .writeStream.format("memory").queryName("sess_null_out").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.sql(
      "SELECT user_id, CAST(start AS STRING), n, total FROM sess_null_out")
      .as[(Long, String, Long, Double)].collect().toSeq
    // the NULL-ts row contributes to no session; the 2h gap still closes
    // the first single-event session
    assert(rows == Seq((7L, "2024-01-01 10:00:00", 1L, 1.0)))
  }

  test("ST6 alerting: listener records lifecycle and reports failures") {
    val in = tmp("graft_in9"); val ckpt = tmp("graft_ckpt9")
    stageBatch(in, Seq((1L, "2024-01-01 10:00:00", 1L, 1.0)), "b1")
    val listener = new StreamingOps.AlertListener
    spark.streams.addListener(listener)
    try {
      val q = StreamingOps.fileSource(spark, in, schema)
        .writeStream.format("memory").queryName("alert_out")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      // listener events are async; drain
      var waited = 0
      while (!listener.alerts.exists(_.startsWith("terminated")) && waited < 100) {
        Thread.sleep(100); waited += 1
      }
      assert(listener.alerts.exists(_.startsWith("started")))
      assert(listener.alerts.exists(_.startsWith("terminated")))
      assert(!listener.alerts.exists(_.startsWith("ALERT-failure")))
    } finally spark.streams.removeListener(listener)
  }

  test("streaming merge sink: re-delivered keys overwrite instead of duplicating") {
    val in = tmp("graft_in10"); val wh = tmp("graft_wh10") + "/t"; val ckpt = tmp("graft_ckpt10")
    stageBatch(in, Seq((1L, "2024-01-01 10:00:00", 1L, 10.0),
      (2L, "2024-01-01 10:01:00", 2L, 20.0)), "b1")
    val q1 = StreamingOps.runMergeToWarehouse(
      StreamingOps.fileSource(spark, in, schema), wh, Seq("event_id"), ckpt)
    q1.awaitTermination()
    // re-delivery of id 2 with a corrected value + a new id 3
    stageBatch(in, Seq((2L, "2024-01-01 10:01:00", 2L, 99.0),
      (3L, "2024-01-01 10:02:00", 3L, 30.0)), "b2")
    val q2 = StreamingOps.runMergeToWarehouse(
      StreamingOps.fileSource(spark, in, schema), wh, Seq("event_id"), ckpt)
    q2.awaitTermination()
    val rows = spark.read.parquet(wh).select("event_id", "value")
      .as[(Long, Double)].collect().toMap
    assert(rows == Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0))
  }

  test("streaming merge sink: a batch torn between the two swap renames " +
       "(table only at __old) is recovered, not destroyed, by the retry") {
    val in = tmp("graft_in11"); val wh = tmp("graft_wh11") + "/t"; val ckpt = tmp("graft_ckpt11")
    stageBatch(in, Seq((1L, "2024-01-01 10:00:00", 1L, 10.0),
      (2L, "2024-01-01 10:01:00", 2L, 20.0)), "b1")
    val q1 = StreamingOps.runMergeToWarehouse(
      StreamingOps.fileSource(spark, in, schema), wh, Seq("event_id"), ckpt)
    q1.awaitTermination()
    // Simulate the torn state a crash between rename(dir->bak) and
    // rename(tmp->dir) leaves behind: the table's ONLY copy sits at
    // __old; a stale staging dir may also linger.
    val dir = new org.apache.hadoop.fs.Path(wh)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(dir, new org.apache.hadoop.fs.Path(wh + "__old")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(wh + "__staging"))
    // The retried/next batch must first restore the table from __old —
    // the old behavior merged against nothing and DELETED __old (silent
    // loss of ids 1 and 2).
    stageBatch(in, Seq((3L, "2024-01-01 10:02:00", 3L, 30.0)), "b2")
    val q2 = StreamingOps.runMergeToWarehouse(
      StreamingOps.fileSource(spark, in, schema), wh, Seq("event_id"), ckpt)
    q2.awaitTermination()
    val rows = spark.read.parquet(wh).select("event_id", "value")
      .as[(Long, Double)].collect().toMap
    assert(rows == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0),
      s"torn-swap recovery must preserve pre-crash rows, got $rows")
  }
}
