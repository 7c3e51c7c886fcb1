package graft.tools

/** Measures the per-construction cost of `spark.read.parquet(path)` —
  * file listing + footer schema inference happen on the DRIVER at
  * DataFrame construction, and the bench pays it on EVERY timed run of
  * every query (~2000 constructions per bench pass). Compares against
  * an explicit-schema read (no footer inference) to size the win of a
  * schema-pinned reader. Run: `runMain graft.tools.ReadFloor <sfDir>`. */
object ReadFloor {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local(32)
    val tables = Seq("lineitem", "orders", "documents", "embeddings", "events")
    tables.foreach { t =>
      val path = s"$d/$t.parquet"
      // warm the OS page cache on the footer
      val sch = spark.read.parquet(path).schema
      def time(n: Int)(f: => Unit): Double = {
        val t0 = System.nanoTime(); (1 to n).foreach(_ => f)
        (System.nanoTime() - t0) / 1e9 / n
      }
      val inferred = time(50)(spark.read.parquet(path): Unit)
      val explicit = time(50)(spark.read.schema(sch).parquet(path): Unit)
      val inferredAct = time(20)(spark.read.parquet(path).count(): Unit)
      val explicitAct = time(20)(spark.read.schema(sch).parquet(path).count(): Unit)
      println(f"[readfloor] $t%-12s construct: inferred ${inferred * 1000}%7.1f ms  " +
        f"explicit ${explicit * 1000}%7.1f ms   count(): inferred ${inferredAct * 1000}%7.1f ms  " +
        f"explicit ${explicitAct * 1000}%7.1f ms")
    }
    spark.stop()
  }
}
