package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Ops
import graft.parsers.{MailParser, TicketParser}
import graft.queries.Pack
import graft.schemas.{Schemas, Tables}

/** The three reference pipeline shapes (SURVEY.md §3), end to end on
  * sf0.001, with the §5.4 contract: assert row counts and idempotence
  * (running the load twice leaves the warehouse unchanged). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(p: String) =
    TestSpark.tempDir(p).toString + "/t"

  test("§3.1 ticket pipeline: render→parse→gate→load, idempotent") {
    val wh = freshDir("graft_p1")
    // extract+transform: the u1 declared query IS the parse stage
    val items = Pack.byName("u1_udtf_ticket_items").fn(spark, TestSpark.sf0001)
      .withColumn("row_id", concat_ws("_", $"nro_ticket", $"prod", $"p_total", $"cant"))
    val n = items.count()
    assert(n > 5000, s"expected ~6k parsed items, got $n")
    // load stage, run twice through the J2 gate
    items.limit(0).write.mode("overwrite").parquet(wh) // bootstrap empty table (K4)
    (1 to 2).foreach { _ =>
      Ops.antiJoinLarge(items, spark.read.parquet(wh), Seq("row_id"))
        .write.mode("append").parquet(wh)
    }
    assert(spark.read.parquet(wh).count() == n, "second load must be a no-op")
  }

  test("§3.2 MP pipeline: csv stage → filename grammar → dialect union → gate") {
    val stage = freshDir("graft_p2").stripSuffix("/t")
    // stage two dialect files like the webhook flow would
    val o = Tables.orders(spark, TestSpark.sf0001)
      .select($"o_orderkey".cast("string").as("SOURCE_ID"),
        $"o_totalprice".as("TRANSACTION_AMOUNT"))
    o.filter($"SOURCE_ID".cast("long") % 2 === 0).write
      .option("header", "true").mode("overwrite").csv(s"$stage/Report_2024-05-01_1.csv")
    val es = o.filter($"SOURCE_ID".cast("long") % 2 === 1)
      .withColumnRenamed("SOURCE_ID", "ID DE OPERACIÓN EN MERCADO PAGO")
      .withColumnRenamed("TRANSACTION_AMOUNT", "VALOR DE LA COMPRA")
    es.write.option("header", "true").mode("overwrite").csv(s"$stage/Report_2024-05-01_2.csv")
    // F30 on the staged listing
    val listing = spark.read.format("binaryFile").option("pathGlobFilter", "*.csv")
      .load(s"$stage/*").select(input_file_name().as("path"))
    assert(listing.count() > 0)
    // read both dialects, union via F5
    def rd(p: String) = spark.read.option("header", "true").csv(p)
    val en = rd(s"$stage/Report_2024-05-01_1.csv")
    val esDf = rd(s"$stage/Report_2024-05-01_2.csv")
    val unioned = Ops.dialectUnion(en, esDf, Schemas.mpDialectEsToEn)
    assert(unioned.count() == o.count())
    assert(unioned.columns.toSeq == Seq("SOURCE_ID", "TRANSACTION_AMOUNT"))
    // J1 report-grain gate: whole batch skipped when report already loaded
    val loaded = Seq("1").toDF("report_id")
    val batch = unioned.withColumn("report_id", lit("1"))
    assert(Ops.antiJoin(batch, loaded, Seq("report_id")).count() == 0)
  }

  test("§3.3 bank-mail pipeline: parse→required-gate→row-level dedup, idempotent") {
    val wh = freshDir("graft_p3")
    val docs = (1 to 50).map { i =>
      MailParser.MailDoc(s"m$i", "2024-03-05T10:00:00", "b@x", "Pago",
        MailParser.renderHtml("05/03/2024", "10:0" + (i % 10), s"$$${i},00", s"C$i", 1, "1234"), "")
    } :+ MailParser.MailDoc("bad", "2024-03-05T10:00:00", "b@x", "Pago",
      "<p>Fecha 05/03/2024</p>", "") // missing Monto → dropped
    val parsed = spark.createDataset(docs).flatMap(MailParser.parse _).toDF()
    assert(parsed.count() == 50)
    parsed.limit(0).write.mode("overwrite").parquet(wh)
    (1 to 2).foreach { _ =>
      Ops.antiJoin(parsed, spark.read.parquet(wh), Seq("id"))
        .write.mode("append").parquet(wh)
    }
    assert(spark.read.parquet(wh).count() == 50)
  }

  test("training-corpus curation pipeline: filter→dedup→decontaminate, deterministic") {
    // the end-to-end shape a 100 TB pretraining pipeline runs, on the
    // fixture corpus: normalize → language/quality gates → exact dedup →
    // near-dup removal (SimHash) → eval decontamination. Every stage is
    // a declared-operator composition; the whole chain must be
    // deterministic (two runs identical) and monotone (each stage only
    // removes rows).
    import org.apache.spark.sql.DataFrame
    import graft.ext.{TextAnalysis, TextDedup}
    val docs = graft.schemas.Tables.documents(spark, TestSpark.sf0001)
    def curate(): DataFrame = {
      val normalized = docs.select($"doc_id", $"source",
        TextAnalysis.normalize($"text").as("text"))
      val (_, _, predicted) = TextAnalysis.langId($"text")
      val gated = normalized
        .withColumn("lang_pred", predicted)
        .withColumn("quality", TextAnalysis.qualityScore($"text"))
        .filter($"lang_pred" === "en" && $"quality" >= 0.70)
        .drop("lang_pred")
      // exact dedup: keep the min doc_id per content hash
      val keepExact = TextDedup.exact(gated, "doc_id", "text")
        .select($"keep_id".as("doc_id"))
      val exactDeduped = gated.join(keepExact, Seq("doc_id"), "left_semi")
      // near-dup: drop the larger id of every close SimHash pair
      val losers = TextDedup.simhashPairs(
          TextDedup.simhash(exactDeduped, "doc_id", "text"), maxHamming = 8)
        .select($"d2".as("doc_id")).distinct()
      val nearDeduped = exactDeduped.join(losers, Seq("doc_id"), "left_anti")
      // decontamination: drop anything sharing a 5-gram with the eval split
      val eval = docs.filter($"doc_id" % 25 === 0)
      val contaminated = TextDedup.contamination(
          nearDeduped.filter($"doc_id" % 25 =!= 0), eval, "doc_id", "text", n = 5)
        .filter($"contaminated").select($"doc_id")
      nearDeduped.filter($"doc_id" % 25 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
    }
    val out1 = curate().select("doc_id").as[Long].collect().sorted.toSeq
    val out2 = curate().select("doc_id").as[Long].collect().sorted.toSeq
    assert(out1 == out2, "curation must be deterministic across runs")
    assert(out1.nonEmpty && out1.size < docs.count(),
      s"pipeline must keep a nonempty strict subset, kept ${out1.size}")
  }
}
