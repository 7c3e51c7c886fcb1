package graft.tools

import org.apache.spark.sql.functions._

/** Cost split for st10_stream_stream_join: the equivalent BATCH interval
  * join (the pure data work) vs the live streaming execution at two
  * state-partition counts — isolates how much of the query's wall time is
  * stream-stream state-store machinery (4 stores × partitions × commit)
  * versus the join itself. `runMain graft.tools.St10Split <sfDir>` */
object St10Split {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val cpus = graft.Session.cpus
    val spark = graft.Session.local(cpus)
    import spark.implicits._

    def time(tag: String)(f: => Long): Unit = {
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val n = f
        println(f"[split] $tag run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }
    }

    // pure data work: the same interval join as a batch plan
    time("batch-join") {
      val ev = graft.schemas.Tables.events(spark, sfDir)
      val v = ev.filter($"event_type" === "view")
        .select($"user_id", $"event_id".as("view_id"), $"ts".as("vts"))
      val c = ev.filter($"event_type" === "click")
        .select($"user_id".as("cuser"), $"event_id".as("click_id"), $"ts".as("cts"))
      v.join(c, $"user_id" === $"cuser" && $"cts" >= $"vts" &&
          $"cts" <= $"vts" + expr("INTERVAL 10 MINUTES"))
        .select($"user_id", $"view_id", $"click_id").count()
    }

    // live streaming at the session default vs a reduced state-partition
    // count (state stores per side scale with shuffle partitions)
    Seq(cpus, 8).foreach { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      time(s"stream-p$p") {
        graft.queries.Pack.byName("st10_stream_stream_join")
          .fn(spark, sfDir).count()
      }
    }
    spark.stop()
  }
}
