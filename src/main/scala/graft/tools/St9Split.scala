package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cost split of st9_stream_neardup_gate_growing (r8 VERDICT next-round
  * #5): `runMain graft.tools.St9Split <sfDir>`. Times the query's
  * constituent work as BATCH operations — index seed, per-batch probe,
  * per-batch signing, warehouse + index appends — and then the two real
  * checkpointed streaming drains. drain − Σ(batch pieces) ≈ the
  * Structured Streaming machinery share (checkpoint/offset-log/commit
  * protocol + job scheduling), which the r8 verdict hypothesized
  * dominates. Decides whether any data-path fix is warranted. */
object St9Split {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val s = graft.Session.local(graft.Session.cpus)
    import s.implicits._

    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[st9] $label%-30s ${(System.nanoTime() - t0) / 1e9}%6.2fs")
      r
    }

    val root = java.nio.file.Files.createTempDirectory("graft_st9split").toString
    val idxDir = s"$root/i"
    val wh = s"$root/w"
    val docs = graft.schemas.Tables.documents(s, d)
    val newDocs = docs.filter($"doc_id" % 10 === 0).select($"doc_id", $"text")

    t("seed: index build+write") {
      graft.queries.PackExt.persistedBandIndex(s, d).write.parquet(idxDir)
    }

    // batch-equivalents of the two micro-batches
    Seq(("b1", $"doc_id" % 20 === 0), ("b2", $"doc_id" % 20 =!= 0)).foreach {
      case (tag, cond) =>
        val batch = newDocs.filter(cond)
        val idx = s.read.parquet(idxDir)
        val clean = t(s"$tag probe (band equi-join)") {
          val c = graft.ext.TextDedup
            .lshProbeBands(idx, batch, "doc_id", "text", maxBucketSize = 64)
            .filter($"n_cand" === 0).select($"new_id".as("doc_id"))
          c.cache().count(); c
        }
        val accepted = batch.join(clean, Seq("doc_id"), "left_semi").cache()
        t(s"$tag warehouse append") {
          accepted.write.mode("append").parquet(wh)
        }
        val bands = t(s"$tag sign survivors") {
          val b = graft.ext.TextDedup.bandIndex(accepted, "doc_id", "text")
          b.cache().count(); b
        }
        t(s"$tag index append") {
          bands.write.mode("append").parquet(idxDir)
        }
        accepted.unpersist(); clean.unpersist(); bands.unpersist()
    }

    // the real thing: two checkpointed streaming drains over fresh dirs
    val in = s"$root/in"
    val wh2 = s"$root/w2"
    val ix2 = s"$root/i2"
    val ck = s"$root/ck"
    new java.io.File(in).mkdirs()
    t("seed2: index copy") {
      s.read.parquet(idxDir).write.parquet(ix2)
    }
    val sch = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$root/stage_$name")
        .ensuring(_ => {
          val src = new java.io.File(s"$root/stage_$name").listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          java.nio.file.Files.copy(src.toPath,
            new java.io.File(in, s"$name.parquet").toPath)
          true
        })
    def drain(): Unit = graft.streaming.StreamingOps.runGatedToWarehouseGrowing(
      graft.streaming.StreamingOps.fileSource(s, in, sch), ix2,
      "doc_id", "text", wh2, ck).awaitTermination()
    stage(newDocs.filter($"doc_id" % 20 === 0), "b1")
    t("drain 1 (streaming)") { drain() }
    stage(newDocs.filter($"doc_id" % 20 =!= 0), "b2")
    t("drain 2 (streaming)") { drain() }
    println(s"[st9] warehouse rows=${s.read.parquet(wh2).count()}")
    s.stop()
  }
}
