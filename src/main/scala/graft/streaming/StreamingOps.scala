package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming semantics (SURVEY.md §2.10): the reference's cron/webhook
  * micro-batch ingestion re-expressed as Structured Streaming.
  *
  *  - ST4/ST5: EventBridge cron + webhook push both become a file-arrival
  *    source run with `Trigger.AvailableNow` — process everything staged,
  *    then stop (exactly the weekly-batch semantics, main.tf:820-832).
  *  - ST3: the "never re-insert a loaded id" guarantee becomes
  *    `withWatermark + dropDuplicates` keyed state, bounded by the
  *    watermark instead of the reference's forever-growing id set
  *    (SURVEY.md §7.4 risk 6).
  *  - ST1/ST2: the incremental watermark is the streaming source's own
  *    file-position checkpoint; late data beyond the watermark is dropped.
  *  - ST6/K7/K8: Step-Functions Catch → compensation becomes a try/catch
  *    in foreachBatch with an `_errors` side table; idempotent batch
  *    writes make rollback unnecessary (batchId-keyed overwrite).
  *  - K6: processed-file lifecycle via `cleanSource=archive`.
  *
  * Scale: the file source lists incrementally (maxFilesPerTrigger bounds
  * each micro-batch); dedup state is hash-partitioned by key across
  * executors and RocksDB-backed in production configs.
  */
object StreamingOps {

  /** ST5 — file-arrival source (webhook staging dir); schema mandatory so
    * the stream never infers. */
  def fileSource(spark: SparkSession, dir: String, schema: StructType,
                 maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** K6 — same source with archive lifecycle: consumed files are moved
    * aside (raw/ → processed/ discipline, transform_data_mp:18-36). */
  def fileSourceArchiving(spark: SparkSession, dir: String, schema: StructType,
                          archiveDir: String): DataFrame =
    spark.readStream.schema(schema)
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", archiveDir)
      .parquet(dir)

  /** ST3 — stateful exactly-once-per-key with watermark-bounded state:
    * a key's state expires once the watermark passes its event time plus
    * `watermark`. Plain `dropDuplicates(keys)` on a stream keeps every
    * key forever unless the event time is itself part of the key. */
  def dedupStream(df: DataFrame, tsCol: String, watermark: String,
                  keys: String*): DataFrame =
    df.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keys)

  /** ST4 + K3 + K7 — run the staged batch to the warehouse and stop:
    * AvailableNow trigger, append sink, failed batches recorded to an
    * `_errors` table instead of failing the query (compensation flow,
    * compensation_flow/lambda_function.py:22-31). */
  def runToWarehouse(stream: DataFrame, warehouseDir: String, errorDir: String,
                     checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        try batch.write.mode("append").parquet(warehouseDir)
        catch {
          case e: Exception => // K7 error side-channel, K8 no-rollback-needed
            batch.sparkSession.createDataFrame(Seq(
              (batchId, e.getClass.getName, e.getMessage, java.time.Instant.now.toString)))
              .toDF("batch_id", "error_class", "detail", "ts")
              .write.mode("append").parquet(errorDir)
        }
        ()
      }
      .start()

  /** Streaming incremental near-dup gate — the streaming analog of the
    * reference's pre-insert id gate (extract_data_bank_pay/
    * lambda_function.py:137-163): each arriving micro-batch is probed
    * against the PERSISTED MinHash band index (train-once/serve-many,
    * PackExt.persistedBandIndex) and only docs with zero near-dup
    * candidates are appended to the warehouse. The index side — the
    * 100 TB side — never re-signs: each batch signs only itself and
    * equi-joins the stored (doc_id, band, bkey) table, broadcastable
    * whenever the arrival batch is small (the definition of incremental
    * ingestion). In production, append accepted docs' band rows back to
    * the index table after the write so later batches also dedup against
    * this batch's survivors. */
  /** `prunedBands` is the index AFTER its bucket-size guard
    * ([[graft.ext.TextDedup.pruneBands]]) — the guard over a STATIC index
    * is an invariant of the index content, so the caller prunes ONCE (and
    * a multi-drain gate like st8 materializes the pruned frame once per
    * run) instead of this function re-aggregating the full index table in
    * every micro-batch of every drain (r18 optimization round; at 100 TB
    * that aggregation is a full index pass per arriving batch —
    * production prunes once per index VERSION). The growing-index form
    * below cannot hoist this: its guard is declared over the CURRENT
    * index, which a batch's own survivors mutate. The index is rebound to
    * the stream's session, like every static side joined into a stream. */
  def runGatedToWarehouse(stream: DataFrame, prunedBands: DataFrame,
                          id: String, text: String, warehouseDir: String,
                          checkpointDir: String): StreamingQuery = {
    val bands = graft.Session.bind(prunedBands, stream.sparkSession)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val clean = graft.ext.TextDedup
          .lshProbePruned(bands, batch.toDF(), id, text)
          .filter(col("n_cand") === 0)
          .select(col("new_id").as(id))
        batch.toDF().join(clean, Seq(id), "left_semi")
          .write.mode("append").parquet(warehouseDir)
        ()
      }
      .start()
  }

  /** Growing-index form of [[runGatedToWarehouse]] — the full analog of
    * the reference's ACCUMULATING loaded-id set: after a batch's clean
    * docs are appended to the warehouse, their band rows are appended to
    * the stored index too, so later batches dedup against earlier
    * survivors, not just the original corpus. `indexDir` is a parquet
    * table of (doc_id, band, bkey) — seed it with
    * [[graft.ext.TextDedup.bandIndex]] over the ingested corpus.
    *
    * Delivery contract (ADVICE r8): the warehouse append and the index
    * append are TWO NON-ATOMIC parquet writes — this is AT-LEAST-ONCE,
    * not transactional. A crash between the writes (or a checkpoint-
    * driven batch retry after a partial append) can duplicate warehouse
    * rows and/or leave the index behind the warehouse — the same
    * exposure as the reference's per-file insert-then-record loop, which
    * also has no cross-store transaction. Readers wanting exactly-once
    * semantics dedup on `id` at read time (every id is content-derived
    * and re-deliveries carry identical rows), or route both writes
    * through a transactional table format (the AtomicSink/Delta-shaped
    * seam) with batchId-keyed idempotence. At scale the index table is
    * partitioned by band and compacted like any warehouse table; the
    * probe reads it fresh each batch (file listing only — the data
    * itself is lazily scanned by the band equi-join). */
  def runGatedToWarehouseGrowing(stream: DataFrame, indexDir: String,
                                 id: String, text: String, warehouseDir: String,
                                 checkpointDir: String,
                                 maxBucketSize: Int = 64): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        // site-pinned schema: the index is appended per batch but its
        // schema is the invariant (doc_id, band, bkey) — skip per-batch
        // footer re-inference. Keyed by indexDir (ADVICE r17): a global
        // key would be shared across every growing-index stream in the
        // JVM, whose id types could differ; per-dir keying infers once
        // per run (the dir is fresh per run) and hits on every later
        // batch of the same run.
        val idx = graft.schemas.Tables.siteRead(spark,
          s"StreamingOps.growingIndex:$indexDir", indexDir)
        val clean = graft.ext.TextDedup
          .lshProbeBands(idx, batch.toDF(), id, text,
            maxBucketSize = maxBucketSize)
          .filter(col("n_cand") === 0)
          .select(col("new_id").as(id))
        val accepted = batch.toDF().join(clean, Seq(id), "left_semi")
          .persist() // probed once, written twice (warehouse + index)
        try {
          accepted.write.mode("append").parquet(warehouseDir)
          graft.ext.TextDedup.bandIndex(accepted, id, text)
            .write.mode("append").parquet(indexDir)
        } finally { accepted.unpersist(); () }
        ()
      }
      .start()

  /** K3+K8 streaming variant — merge sink: each micro-batch UPSERTs into
    * the warehouse on `keys` (late re-deliveries overwrite instead of
    * duplicating — CDC semantics) by rewriting the table through
    * Ops.upsert. Parquet has no row-level merge, so the rewrite is
    * whole-table here; with the partitioned layout (graft.io.Warehouse)
    * production narrows the rewrite to touched partitions, and a
    * table format with merge (e.g. Delta/Iceberg) slots into this same
    * foreachBatch body. */
  def runMergeToWarehouse(stream: DataFrame, warehouseDir: String, keys: Seq[String],
                          checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val dir = new org.apache.hadoop.fs.Path(warehouseDir)
        val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
        val bak = new org.apache.hadoop.fs.Path(warehouseDir + "__old")
        // Torn-swap recovery FIRST: a crash between rename(dir->bak) and
        // rename(tmp->dir) leaves the table's ONLY copy at bak. Merging
        // against the missing dir and then deleting bak as "stale" would
        // silently replace the whole table with the current batch — so
        // restore before reading, and only treat bak as garbage when dir
        // exists (then dir is the authoritative post-swap table).
        if (!fs.exists(dir) && fs.exists(bak))
          require(fs.rename(bak, dir), s"merge swap: recovery rename $bak -> $dir failed")
        val merged =
          if (fs.exists(dir)) graft.ops.Ops.upsert(
            // keyed by the target dir: same stream, same schema across
            // batches — the whole-table rewrite can't use an mtime key
            graft.schemas.Tables.siteRead(spark,
              s"StreamingOps.merge:$warehouseDir", warehouseDir),
            batch.toDF(), keys)
          else batch.toDF()
        val tmp = warehouseDir + "__staging"
        merged.write.mode("overwrite").parquet(tmp)
        // atomic-ish swap through the Hadoop FS (r13: java.io.File renames
        // no-op on remote paths): parquet re-read happens from the new
        // directory; on HDFS the rename is atomic, on object stores use a
        // manifest-committed layout (AtomicSink) instead of path swaps
        if (fs.exists(bak)) fs.delete(bak, true) // completed prior swap's leftover
        // FileSystem.rename signals failure by returning false; an
        // unchecked staged-swap followed by an unconditional backup
        // delete would destroy the only surviving copy. Check both
        // renames; drop the backup only once the destination exists.
        if (fs.exists(dir))
          require(fs.rename(dir, bak), s"merge swap: rename $dir -> $bak failed")
        require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dir),
          s"merge swap: rename $tmp -> $dir failed (previous data preserved at $bak)")
        if (fs.exists(dir) && fs.exists(bak)) fs.delete(bak, true)
        ()
      }
      .start()

  /** Stream-stream interval join: each left event joins right events for
    * the same key whose event time falls in (leftTs - lag, leftTs].
    * Watermarks on BOTH inputs plus the two-sided time bound are what let
    * the engine expire join state — without them a stream-stream join
    * buffers forever. State is hash-partitioned by key; per-key state
    * size is bounded by (rate × lag). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String, lag: String,
                   watermark: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r, expr(
      s"l.$key = r.$key AND r.$rightTs > l.$leftTs - INTERVAL $lag AND r.$rightTs <= l.$leftTs"))
  }

  /** Input and output rows of [[runningTotals]]: per-user running state
    * for an aggregation the built-in operators can't express. State:
    * (count, sum) per key. */
  final case class EventRow(event_id: Long, user_id: Long, value: Double)
  final case class UserTotal(user_id: Long, n: Long, total: Double)

  /** Per-user running totals through the Spark 4 arbitrary-state v2 API
    * (`transformWithState` + `StatefulProcessor`): typed named state
    * handles with per-state TTL, timers, and multiple state variables per
    * key — the successor to mapGroupsWithState for long-lived state.
    * Requires the RocksDB state store provider. */
  final class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRow, UserTotal] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)]("totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[EventRow],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTotal] = {
      val (n0, s0) = if (totals.exists()) totals.get() else (0L, 0.0)
      var n = n0; var s = s0
      rows.foreach { r => n += 1; s += r.value }
      totals.update((n, s))
      Iterator.single(UserTotal(uid, n, s))
    }
  }

  def runningTotals(ds: Dataset[EventRow]): Dataset[UserTotal] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }
}
