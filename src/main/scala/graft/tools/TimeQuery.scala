package graft.tools

/** Time pack queries: `runMain graft.tools.TimeQuery <sfDir> [name...]`
  * — three runs each, all times printed (the bench's min-of-N hides
  * warmup effects this tool exists to expose); no names times every
  * declared query.
  *
  * SPARK_GRAFT_SHUFFLE decouples partition count from core count for the
  * cores-only scaling sweep (SCALE.md §4j): fix the shuffle shape, vary
  * only the executor-lane analog.
  *
  * SPARK_GRAFT_MATERIALIZE=1 switches the per-run action from `count()`
  * to a noop-sink write: `count()` lets Catalyst PRUNE every unprojected
  * column, so a query whose cost lives in a projection chain (the
  * trained-BPE encode, any pure per-row transform) times as a near-empty
  * scan — SCALE.md §4k had to mark text_bpe_train_encode n/a for exactly
  * this. The built-in `noop` DataSourceV2 sink consumes every row with
  * all projected columns evaluated and writes nothing, so the measured
  * time is the real compute cost, still with zero IO on the way out. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = if (args.length > 1) args.tail.toSeq else graft.queries.Pack.all.map(_.name)
    val spark = graft.Session.local(graft.Session.cpus, graft.Session.shuffle)
    val materialize = sys.env.get("SPARK_GRAFT_MATERIALIZE").contains("1")
    // the same box-speed probe the bench records carry — without it a
    // standalone re-time can't be compared against a BENCH_r{N} number
    // (the adjudication this tool exists for)
    spark.range(1L << 30).selectExpr("sum(xxhash64(id) % 1000)").head()
    val calib = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 30).selectExpr("sum(xxhash64(id) % 1000)").head()
      (System.nanoTime() - t0) / 1e9
    }.min
    println(f"[time] calib: $calib%.3f s")
    names.foreach { name =>
      val fn = graft.queries.Pack.byName(name).fn
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        if (materialize) df.write.format("noop").mode("overwrite").save()
        else df.count(): Unit
        (System.nanoTime() - t0) / 1e9
      }
      val tag = if (materialize) " (materialized)" else ""
      println(f"[time] $name$tag: ${times.map(t => f"$t%.2f").mkString(" ")} s")
    }
    spark.stop()
  }
}
