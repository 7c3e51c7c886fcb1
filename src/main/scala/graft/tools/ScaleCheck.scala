package graft.tools

/** Scaling-exponent measurement between two fixture dirs (r8 VERDICT
  * next-round #1): `runMain graft.tools.ScaleCheck <dirA> <dirB>
  * <ratio> <name> [name...]`.
  *
  * Timing discipline per (query, dir):
  *  - one untimed warm-up run — JITs the query path and builds the
  *    persisted train-once artifacts (IVF centroids, band index, PQ
  *    codes), which production trains at ingestion, never per query;
  *  - two timed runs, min-of reported, each preceded by
  *    `BoundedCache.clear()` + `catalog.clearCache()` so the per-run
  *    cached frames (signatures, band frames, tf-idf weights) are
  *    RECOMPUTED — warm in-memory caches would otherwise hide exactly
  *    the scaled work this tool exists to measure.
  *
  * Prints per query: result rows at each scale (the work actually
  * scaling), min seconds at each scale, and the empirical scaling
  * exponent log(tB/tA)/log(ratio) — 1.0 = perfectly linear, <1 =
  * fixed-cost-dominated, >1 = super-linear (investigate). */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val Array(dirA, dirB, ratioS, names @ _*) = args
    val ratio = ratioS.toDouble
    val spark = graft.Session.local(graft.Session.cpus)

    def cold(): Unit = {
      graft.ext.BoundedCache.clear()
      spark.catalog.clearCache()
    }

    def measure(name: String, dir: String): (Long, Double) = {
      val fn = graft.queries.Pack.byName(name).fn
      cold()
      val rows = fn(spark, dir).count() // warm-up: JIT + persisted artifacts
      val times = (1 to 2).map { _ =>
        cold()
        System.gc()
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      (rows, times.min)
    }

    names.foreach { name =>
      val (rowsA, tA) = measure(name, dirA)
      val (rowsB, tB) = measure(name, dirB)
      val exp = math.log(tB / tA) / math.log(ratio)
      println(f"[scale] $name%-34s rowsA=$rowsA%9d tA=$tA%7.2fs  " +
        f"rowsB=$rowsB%9d tB=$tB%7.2fs  exp=$exp%5.2f")
    }
    spark.stop()
  }
}
