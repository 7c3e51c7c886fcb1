package graft.tools

import org.apache.spark.sql.functions._

/** Salted-vs-plain measurement on an ADVERSARIAL key distribution (r8
  * VERDICT next-round #4): `runMain graft.tools.SkewBench <stressDir>`
  * reads the stress fixture's `skew_events` table (80% of rows on ONE
  * user_id — StressGen holds the hot-key share constant as rows scale)
  * and times, with broadcast joins DISABLED to model the at-scale "dim
  * too big to broadcast" regime that [[graft.ops.Ops.saltedJoin]]
  * documents as its domain:
  *
  *  - plain shuffled join, AQE skew-split off  (the naive plan)
  *  - plain shuffled join, AQE skew-split on, thresholds lowered so the
  *    runtime split actually fires at fixture scale (at default 256 MB
  *    thresholds a local fixture never triggers it — NOTES round 2)
  *  - the explicit salted join (dim × saltFactor, fact scattered)
  *
  * and for aggregation:
  *  - plain per-key groupBy (partial aggregation already collapses each
  *    partition to one row per key — decomposable aggs are skew-immune
  *    by map-side combine, which this measurement demonstrates rather
  *    than assumes)
  *  - the two-phase salted form (agg_salted_skew's shape)
  *
  * Prints min-of-2 seconds per variant; results go to NOTES/SCALE.md. */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    // optional in-memory replication factor: the skew regime only BITES
    // when the hot key's rows overflow one reducer's comfortable range —
    // at the fixture's 1M rows the hot partition is ~50 MB and every
    // variant ties (a result worth recording, not hiding); ×20 makes the
    // hot side ~1 GB-class and separates the plans
    val rep = if (args.length > 1) args(1).toInt else 1
    val spark = graft.Session.local(graft.Session.cpus)
    import spark.implicits._

    val base = spark.read.parquet(s"$dir/skew_events.parquet")
      .select($"user_id", $"event_id", $"value", $"props")
    val ev = (if (rep == 1) base
              else base
                .withColumn("copy", explode(sequence(lit(0), lit(rep - 1))))
                .withColumn("event_id", $"event_id" * rep + $"copy")
                .drop("copy"))
      .cache()
    println(s"[skew] rows=${ev.count()} hot=${ev.filter($"user_id" === 0L).count()}")
    val dim = ev.select($"user_id").distinct()
      .withColumn("seg", pmod($"user_id", lit(7))).cache()
    println(s"[skew] dim=${dim.count()}")

    def timed(label: String)(body: => Long): Unit = {
      val times = (1 to 2).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        val n = body
        val t = (System.nanoTime() - t0) / 1e9
        (t, n)
      }
      println(f"[skew] $label%-34s ${times.map(_._1).min}%7.2fs rows=${times.head._2}")
    }

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    timed("join plain (no AQE skew split)") {
      ev.join(dim, Seq("user_id")).count()
    }

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // defaults (256 MB / 5x median) never fire at fixture scale; scale
    // the trigger down to the fixture so the runtime split is actually
    // exercised rather than silently skipped
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    timed("join plain (AQE skew split armed)") {
      ev.join(dim, Seq("user_id")).count()
    }

    timed("join salted (explicit, factor 8)") {
      graft.ops.Ops.saltedJoin(ev, dim, Seq("user_id")).count()
    }

    val D = org.apache.spark.sql.types.DecimalType(18, 2)
    timed("agg plain groupBy(user)") {
      ev.groupBy($"user_id")
        .agg(count(lit(1)).as("n"), sum($"value".cast(D)).as("total")).count()
    }
    timed("agg salted two-phase") {
      ev.withColumn("salt", pmod($"event_id", lit(16)))
        .groupBy($"user_id", $"salt")
        .agg(count(lit(1)).as("pn"), sum($"value".cast(D)).as("ps"))
        .groupBy($"user_id")
        .agg(sum($"pn").cast("long").as("n"), sum($"ps").as("total"))
        .count()
    }
    spark.stop()
  }
}
