package graft.tools

import org.apache.spark.sql.functions._
import graft.queries.PackParsers

/** Side-by-side benchmark: U1 parse via typed flatMap vs the native
  * graft_parse_ticket Generator (LATERAL VIEW). */
object U1Gen {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(32)
    val d = "/root/testdata/sf0.1"
    def time(n: String)(f: => Long): Unit = {
      val t0 = System.nanoTime; val r = f
      println(f"TIME $n ${(System.nanoTime - t0) / 1e9}%.2f s ($r)")
    }
    val flatMapQ = graft.queries.Pack.byName("u1_udtf_ticket_items").fn
    def genQ() = {
      PackParsers.ticketTexts(spark, d).createOrReplaceTempView("u1_texts")
      spark.sql("SELECT t.* FROM u1_texts LATERAL VIEW graft_parse_ticket(text) t")
        .select(col("nro_ticket"), to_date(col("fecha"), "dd/MM/yyyy").as("fecha"),
          col("categ"), col("prod"), col("cant"), col("peso"), col("p_unit"),
          col("p_total"), col("total_ticket_bruto"), col("total_ticket_meli"))
        .orderBy(col("nro_ticket"), col("prod"), col("p_total"), col("categ"))
    }
    flatMapQ(spark, d).count(); genQ().count() // warmup both
    time("flatMap_1")(flatMapQ(spark, d).count())
    time("generator_1")(genQ().count())
    time("flatMap_2")(flatMapQ(spark, d).count())
    time("generator_2")(genQ().count())
    spark.stop()
  }
}
