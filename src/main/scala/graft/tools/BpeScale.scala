package graft.tools

import org.apache.spark.sql.functions._

/** Measurement harness for the r17 BPE-trainer scaling claims
  * (`runMain graft.tools.BpeScale <sfDir>`):
  *
  *   1. train time vs ROUNDS on the real corpus (8 / 64 / 256) — after
  *      the one vocabulary pass, rounds ride the driver-local
  *      incremental loop, so the curve must flatten, not multiply;
  *   2. train time vs CORPUS COPIES (1× vs 10× self-union) — the
  *      vocabulary is identical, so only the single Spark aggregation
  *      may grow;
  *   3. the driver loop ALONE on a synthetic Heaps-scale vocabulary
  *      (100k distinct words) at 1k / 8k / 32k rounds — the realistic
  *      tokenizer regime the declared query's corpus is too small to
  *      reach (its vocabulary exhausts at double-digit merges).
  *
  * Prints one line per measurement; min-of-3 like TimeQuery. */
object BpeScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cpus)
    def time3[A](f: => A): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min

    val docs = graft.schemas.Tables.documents(spark, sfDir)
    Seq(8, 64, 256).foreach { r =>
      val t = time3(graft.ext.TextAnalysis.bpeTrain(docs, "text", rounds = r))
      println(f"[bpescale] corpus rounds=$r%-4d ${t}%.2f s")
    }
    val x10 = (1 to 10).map(_ => docs).reduce(_ unionAll _)
    val t10 = time3(graft.ext.TextAnalysis.bpeTrain(x10, "text", rounds = 256))
    println(f"[bpescale] corpus x10 rounds=256 ${t10}%.2f s (same vocabulary, one bigger scan)")

    // synthetic Heaps-scale vocabulary: 100k distinct words over a
    // 12-letter alphabet, Zipf-ish frequencies — driver loop only
    val rnd = new scala.util.Random(17)
    val alpha = "abcdefghijkl"
    // dedupe by WORD and sum colliding frequencies — (w, f).distinct
    // would keep the same short word twice under different Zipf draws,
    // violating the (distinct word, freq) contract bpeTrain's
    // groupBy-collect always satisfies
    val vocab = (0 until 100000).map { i =>
      val len = 3 + rnd.nextInt(10)
      val w = (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      (w, (100000L / (i + 1)).max(1L))
    }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq.sortBy(_._1)
    println(s"[bpescale] synthetic vocab: ${vocab.size} distinct words")
    Seq(1000, 8000, 32000).foreach { r =>
      val t0 = System.nanoTime()
      val m = graft.ext.TextAnalysis.bpeTrainLocal(vocab, r)
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[bpescale] local vocab=100k rounds=$r%-6d learned=${m.size}%-6d ${t}%.2f s")
    }
    spark.stop()
  }
}
