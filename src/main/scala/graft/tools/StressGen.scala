package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic N× stress-fixture generator (r8 VERDICT next-round #1):
  * scales the driver testdata by replicate-and-perturb so the DECLARED
  * queries run unchanged against the output dir and their wall times can
  * be compared across scales (`runMain graft.tools.TimeQuery <dir> ...`).
  *
  * `runMain graft.tools.StressGen <srcDir> <destDir> [factor=10]`
  *
  * Scaling per table (ids shifted per copy so key cardinalities scale
  * WITH the data — the ratio shapes that decide plan viability hold):
  *  - lineitem/orders: factor copies, order keys shifted per copy;
  *    part/supp/cust foreign keys unchanged, so per-key fan-in grows
  *    like the data (the skew direction that stresses joins).
  *  - events: copies with event_id/user_id shifted — factor disjoint
  *    populations over the same time range (graph/sessionization cost
  *    scales in nodes+edges, windows in users).
  *  - documents: copy 0 verbatim; copies 1-2 swap ~4% of tokens (true
  *    NEAR-dups of the original — near-dup cluster size stays bounded
  *    while cluster count scales linearly, the realistic corpus shape);
  *    copies 3+ swap half the tokens (distinct docs sharing the vocab).
  *  - embeddings: copies with vec_id shifted and ±0.01 deterministic
  *    noise per element (copy 0 verbatim) — label geometry preserved,
  *    ANN corpus grows by factor.
  *  - region/nation/customer/supplier/part: copied byte-for-byte (dims
  *    stay dims; broadcast viability at scale is exactly the property
  *    under test).
  *  - skew_events: an ADVERSARIAL frame for the salted paths — same
  *    schema as events but 80% of rows collapsed onto ONE user_id
  *    (hot-key share held constant as rows scale).
  *
  * All perturbations are hash(id, copy, position)-keyed — two runs
  * produce identical bytes, so timings are comparable across rounds. */
object StressGen {
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val destDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.local(graft.Session.cpus)
    new java.io.File(destDir).mkdirs()

    def copies(df: DataFrame): DataFrame =
      df.withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))

    def shifted(df: DataFrame, idCols: String*): DataFrame =
      idCols.foldLeft(copies(df)) { (d, c) =>
        val span = df.agg(max(col(c))).head.getLong(0) + 1
        d.withColumn(c, col(c) + col("copy") * lit(span))
      }

    def write(df: DataFrame, name: String, parts: Int = 32): Unit = {
      df.drop("copy").repartition(parts)
        .write.mode("overwrite").parquet(s"$destDir/$name.parquet")
      println(s"[stressgen] $name: ${spark.read.parquet(s"$destDir/$name.parquet").count()} rows")
    }

    // dims: byte-for-byte
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$srcDir/$t.parquet"),
        java.nio.file.Paths.get(s"$destDir/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      println(s"[stressgen] $t: copied")
    }

    write(shifted(spark.read.parquet(s"$srcDir/lineitem.parquet"), "l_orderkey"),
      "lineitem")
    write(shifted(spark.read.parquet(s"$srcDir/orders.parquet"), "o_orderkey"),
      "orders")

    val events = graft.schemas.Tables.events(spark, srcDir)
    write(shifted(events, "event_id", "user_id"), "events")

    // skew frame: 80% of rows onto one hot user — the salted-vs-plain
    // measurement surface; remaining 20% keep their (shifted) user
    val hot = shifted(events, "event_id", "user_id")
      .withColumn("user_id",
        when(pmod(hash(col("event_id")), lit(100)) < 80, lit(0L))
          .otherwise(col("user_id")))
    write(hot, "skew_events")

    // documents: vocabulary from the source corpus (fixture vocab is a
    // few dozen tokens — assert the bound rather than trust it)
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val vocab = docs.select(explode(split(col("text"), " ")).as("w"))
      .distinct().orderBy(col("w")).as[String](org.apache.spark.sql.Encoders.STRING)
      .collect()
    require(vocab.length <= 10000, s"vocab unexpectedly large: ${vocab.length}")
    val vocabArr = array(vocab.toIndexedSeq.map(lit): _*)
    val docSpan = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    val swapPct = when(col("copy") <= 2, lit(4)).otherwise(lit(50))
    val toks = split(col("text"), " ")
    val perturbed = transform(toks, (t, i) =>
      when(col("copy") === 0 ||
           pmod(hash(col("doc_id"), col("copy"), i), lit(100)) >= swapPct, t)
        .otherwise(element_at(vocabArr,
          (pmod(hash(t, col("copy"), i), lit(vocab.length)) + 1).cast("int"))))
    val stressDocs = copies(docs)
      .withColumn("text", array_join(perturbed, " "))
      .withColumn("doc_id", col("doc_id") + col("copy") * lit(docSpan))
      .withColumn("n_chars", length(col("text")))
    write(stressDocs, "documents", parts = 8)

    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val vecSpan = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
    val noisy = transform(col("embedding"), (v, i) =>
      when(col("copy") === 0, v).otherwise(
        (v + (pmod(hash(col("vec_id"), col("copy"), i), lit(2001)) - lit(1000))
          / lit(1e5)).cast("float")))
    write(copies(emb)
      .withColumn("embedding", noisy)
      .withColumn("vec_id", col("vec_id") + col("copy") * lit(vecSpan)),
      "embeddings", parts = 8)

    spark.stop()
  }
}
