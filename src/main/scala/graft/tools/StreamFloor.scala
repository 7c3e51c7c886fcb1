package graft.tools

/** Measures the STREAMING MACHINERY FLOOR the bench pays per st* query
  * (r12 VERDICT next-round #2): a minimal AvailableNow parquet→parquet
  * drain over a 3-row fixture, timed three ways —
  *
  *   fresh    start() with a brand-new checkpoint (what every declared
  *            st* query does per run, by design: the query IS
  *            "stage + drain from scratch")
  *   warm     start() over an existing checkpoint with no new data
  *            (offset log replay + no-op batch)
  *   batch    the identical read→write as a batch job
  *
  * fresh − batch ≈ the per-drain checkpoint-setup cost that is NOT plan
  * cost; multiply by a query's drain count (most st* run 2-3 drains) to
  * read its bench number. Printed min-of-3 per mode, warm JVM. */
object StreamFloor {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(graft.Session.cpus)
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("graft_floor").toString
    val in = s"$base/in"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .coalesce(1).write.parquet(in)
    val schema = spark.read.parquet(in).schema

    def drain(out: String, ckpt: String): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    def minOf3(tag: String)(body: Int => Unit): Unit = {
      body(-1) // warmup
      val t = (0 to 2).map { i =>
        val t0 = System.nanoTime(); body(i); (System.nanoTime() - t0) / 1e9
      }.min
      println(f"FLOOR $tag%-6s ${t}%5.2f s")
    }

    minOf3("fresh") { i => drain(s"$base/f$i/out", s"$base/f$i/ckpt") }
    val wc = s"$base/warm"
    drain(s"$wc/out", s"$wc/ckpt") // commit batch 0 once
    minOf3("warm") { _ => drain(s"$wc/out", s"$wc/ckpt") }
    minOf3("batch") { i =>
      spark.read.schema(schema).parquet(in)
        .write.mode("overwrite").parquet(s"$base/b$i/out")
    }
    spark.stop()
  }
}
