package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
import org.apache.spark.sql.types._

/** Streaming STATE-STORE scaling measurement (r16 VERDICT task 3):
  * SCALE.md's exponents were all batch/arrival-count; nothing measured
  * whether the RocksDB state a stateful query accumulates is bounded by
  * watermark/keys (the design claim) or silently grows with history.
  *
  * `runMain graft.tools.StateScale` drives the pack's two TWS state
  * shapes over synthetic arrivals and reports, per scale: drain wall
  * time, state ROWS (read back through the State Data Source, exactly
  * like st11/st21), and state BYTES on disk (the checkpoint's state/
  * subtree — what a cluster actually provisions):
  *
  *   - SessionTimerProcessor (st20's): watermark-bounded — one open
  *     session + one timer per key, however many arrivals fold in.
  *     Arrivals sweep 1×/10×/100× at FIXED key count: rows and bytes
  *     must stay flat while drain time grows with arrivals.
  *   - UserProfileProcessor (st18/st21's): key-bounded cumulative —
  *     same sweep must stay flat, and a 10× KEY sweep at fixed arrivals
  *     must grow ~10×: state tracks keys, never history.
  *
  * Events are deterministic (user i = id % K, one event per 10 min per
  * user — inside the 30-min session gap, so sessions stay open and the
  * per-key state is maximal, the conservative direction). */
object StateScale {
  def main(args: Array[String]): Unit = {
    // state-partition count is PINNED at 8 for every measurement —
    // SPARK_GRAFT_CPUS varies only the executor threads, so rows/bytes
    // compare across scales with the store layout held constant
    val spark = graft.Session.local(graft.Session.cpus, 8)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    val tsSchema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("ms", LongType)))
    val twsSchema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("cents", LongType)))

    def bytesUnder(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).getOrElse(Array()).map(walk).sum
      walk(new java.io.File(dir, "state"))
    }

    def measure(tag: String, n: Long, k: Long, profile: Boolean): Unit = {
      val base = java.nio.file.Files.createTempDirectory(s"graft_ss_$tag").toString
      val in = s"$base/in"; val ckpt = s"$base/ck"
      val events =
        if (profile)
          spark.range(n).select((col("id") % k).as("user_id"),
            concat(lit("t"), col("id") % 5).as("event_type"),
            (col("id") % 100).as("cents"))
        else
          spark.range(n).select((col("id") % k).as("user_id"),
            timestamp_millis(lit(1700000000000L) + expr(s"id div $k") * 600000L).as("ts"),
            (lit(1700000000000L) + expr(s"id div $k") * 600000L).as("ms"))
      events.repartition(8).write.mode("overwrite").parquet(in)
      val t0 = System.nanoTime()
      val q =
        if (profile)
          spark.readStream.schema(twsSchema).parquet(in)
            .as[graft.streaming.TwsEvent]
            .groupByKey(_.user_id)
            .transformWithState(new graft.streaming.UserProfileProcessor,
              TimeMode.None(), OutputMode.Append())
            .toDF()
            .writeStream.format("noop").outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
        else
          spark.readStream.schema(tsSchema).parquet(in)
            .withWatermark("ts", "1 hour")
            .as[graft.streaming.TsEvent]
            .groupByKey(_.user_id)
            .transformWithState(new graft.streaming.SessionTimerProcessor(1800000L),
              TimeMode.EventTime(), OutputMode.Append())
            .toDF()
            .writeStream.format("noop").outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val drainS = (System.nanoTime() - t0) / 1e9
      val varName = if (profile) "agg" else "open"
      val rows = spark.read.format("statestore").option("path", ckpt)
        .option("stateVarName", varName).load().count()
      val bytes = bytesUnder(ckpt)
      println(f"[statescale] $tag%-22s n=$n%-10d k=$k%-7d drain=${drainS}%6.1f s  state_rows=$rows%-8d state_bytes=${bytes / 1024}%d KiB")
    }

    Seq(200000L, 2000000L, 20000000L).foreach(n =>
      measure("session_watermark", n, 5000L, profile = false))
    Seq(200000L, 2000000L, 20000000L).foreach(n =>
      measure("profile_keybound", n, 5000L, profile = true))
    measure("profile_keys_x10", 2000000L, 50000L, profile = true)
    spark.stop()
  }
}
