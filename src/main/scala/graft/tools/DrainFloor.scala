package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
import org.apache.spark.sql.types._

/** Partition-count sensitivity of the STATEFUL drain floor (r17, the
  * st* floor-shave follow-up to [[StreamFloor]]): a transformWithState
  * drain opens, commits, and checkpoints one RocksDB store PER STATE
  * PARTITION per micro-batch — on the bench's tiny fixtures that
  * machinery, not the rows, is the cost. This times one fresh
  * UserProfileProcessor drain over a 100-row arrival at
  * spark.sql.shuffle.partitions ∈ {8, 4, 2, 1}, min-of-3, so the
  * fixture-size/partition-count dial is set from a measurement instead
  * of a guess. (At 100 TB the same dial goes UP — state partitions are
  * a deployment setting, which is exactly why the declared results must
  * be partition-count-invariant, and are: the ShapeCheck sweep runs the
  * pack at multiple CPU counts.) */
object DrainFloor {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(graft.Session.cpus, 200)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    val twsSchema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("cents", LongType)))
    val base = java.nio.file.Files.createTempDirectory("graft_df").toString
    val in = s"$base/in"
    spark.range(100).select((col("id") % 10).as("user_id"),
        concat(lit("t"), col("id") % 5).as("event_type"),
        (col("id") % 100).as("cents"))
      .coalesce(1).write.parquet(in)

    def drain(parts: Int, tag: String, changelog: Boolean): Unit = {
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_df_ck$tag").toString
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      // changelog checkpointing is the PRODUCTION RocksDB discipline
      // (upload per-batch changelogs instead of full snapshots); measure
      // whether the local drain floor is snapshot-bound too
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        changelog.toString)
      val q = spark.readStream.schema(twsSchema).parquet(in)
        .as[graft.streaming.TwsEvent]
        .groupByKey(_.user_id)
        .transformWithState(new graft.streaming.UserProfileProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain(8, "warm", changelog = false) // JVM/codegen warmup
    for (cl <- Seq(false, true); p <- Seq(8, 4, 2, 1)) {
      val t = (0 to 2).map { i =>
        val t0 = System.nanoTime()
        drain(p, s"p$p-cl$cl-$i", cl)
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[drainfloor] partitions=$p%-2d changelog=$cl%-5s fresh tws drain: $t%.2f s")
    }
    spark.stop()
  }
}
