package graft.tools

import graft.queries.Pack

/** Partition-count-shape sweep (r12 VERDICT next-round #4): run queries
  * under `spark.sql.shuffle.partitions` ∈ {4, 32, 128} in ONE warm JVM —
  * the reachable single-JVM proxy for "does this composition care what
  * shape the cluster gives it?". A pipeline whose gate/append stages are
  * genuinely data-bound should be partition-count-insensitive (±fixed
  * scheduling cost); a plan hiding a partition-count-proportional stage
  * (per-partition driver work, a coalesce(1) in the data plane, state
  * rebuilt per partition) shows a slope.
  *
  * `runMain graft.tools.ShapeCheck <sfDir> <name...>` — per (query,
  * shape): one untimed warmup at the FIRST shape only (JIT), then one
  * timed run per shape, cache-cleared like ScaleCheck so per-run frames
  * recompute. shuffle.partitions is a runtime conf, so shapes share the
  * session (cores stay at SPARK_GRAFT_CPUS — the sweep isolates the SHUFFLE shape,
  * 4d's core sweep isolates compute lanes). */
object ShapeCheck {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names @ _*) = args
    val shapes = Seq(4, 32, 128)
    val spark = graft.Session.local(graft.Session.cpus, shapes.head)

    def cold(): Unit = {
      graft.ext.BoundedCache.clear()
      spark.catalog.clearCache()
    }

    names.foreach { n =>
      val fn = Pack.byName(n).fn
      cold(); fn(spark, sfDir).count() // warmup (first shape)
      val times = shapes.map { p =>
        spark.conf.set("spark.sql.shuffle.partitions", p)
        cold()
        val t0 = System.nanoTime()
        val rows = fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"SHAPE $n p=$p%-4d ${t}%6.2f s ($rows rows)")
        t
      }
      val spread = times.max / times.min
      println(f"SHAPE $n spread=${spread}%.2fx (max/min across shapes)")
    }
    spark.stop()
  }
}
