package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.parsers.{MailParser, Pdf, TicketParser}
import graft.schemas.Tables
import graft.sources.Xlsx

/** The parsers and sources layers, timed per document by direct calls, on
  * documents rendered by the engine's own writers from the generated
  * tables: ticket PDFs (TicketParser.render + Pdf.writePdf), bank mails
  * (MailParser.renderHtml) and MP report workbooks (Xlsx.writeFileRows).
  * `parsers.items_ratio` is parsed over rendered items and must be 1. */
object ParserBench {
  private val passes = 5
  private val categories = Seq("Almacen", "Bebidas", "Carniceria", "Frutas Y Verduras",
    "Limpieza", "Perfumeria", "Hogar Bazar")

  /** Median over passes of the mean microseconds per document. */
  private def perDocUs[A](docs: Seq[A])(f: A => Unit): Double = {
    val t = (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      docs.foreach(f)
      (System.nanoTime() - t0) / 1e3 / docs.size
    }.sorted
    t(passes / 2)
  }

  def run(spark: SparkSession, data: String, dir: File): Seq[(String, Any)] = {
    dir.mkdirs()
    val tickets = Tables.lineitem(spark, data).filter(col("l_orderkey") % 97 === 0)
      .join(Tables.part(spark, data), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, data), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), date_format(col("o_orderdate"), "dd/MM/yyyy"), col("l_linenumber"),
        col("p_name"), col("l_quantity"), col("p_retailprice"), col("l_extendedprice"))
      .collect().groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (nro, rows) =>
        val items = rows.sortBy(r => (r.getInt(2), r.getString(3), r.getDouble(6))).map { r =>
          val weighed = r.getInt(2) % 3 == 0
          (categories(r.getInt(2) % 7), r.getString(3),
            if (weighed) 1L else r.getDouble(4).toLong,
            if (weighed) r.getDouble(4) * 0.5 else 0.0, r.getDouble(5), r.getDouble(6))
        }.toSeq
        (TicketParser.render(nro, rows.head.getString(1), 0.0, items), items.size)
      }
    val texts = tickets.map(_._1)
    val pdfs = texts.map(t => Pdf.writePdf(t.split("\n").toSeq))
    val ticketItems = tickets.map(_._2).sum
    val parsedTicketItems = pdfs.map(b => TicketParser.parse(Pdf.extractText(b)).size).sum

    val mails = Tables.events(spark, data)
      .filter(col("event_id") % 7 === 0 && col("event_type") =!= "error")
      .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"),
        date_format(col("ts"), "dd/MM/yyyy"), date_format(col("ts"), "HH:mm"),
        col("value"), col("event_type"), col("user_id"))
      .collect().toSeq.map { r =>
        MailParser.MailDoc(f"msg-${r.getLong(0)}%08d", r.getString(1), "avisos@banco.example",
          "Pago con tarjeta", MailParser.renderHtml(r.getString(2), r.getString(3),
            "$" + f"${r.getDouble(4)}%.2f".replace('.', ','), r.getString(5),
            1 + (r.getLong(0) % 5).toInt, f"${r.getLong(6)}%04d"), "")
      }
    val parsedMails = mails.count(m => MailParser.parse(m).isDefined)

    val header = Seq("SOURCE_ID", "SETTLEMENT_DATE", "TRANSACTION_TYPE", "TRANSACTION_AMOUNT")
    val reportRows = Tables.events(spark, data).filter(col("event_id") % 5 === 0)
      .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd"), col("event_type"), col("value"))
      .collect().toSeq.map(r => Seq[Any](r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
    val workbooks = reportRows.grouped(50).zipWithIndex.map { case (rows, i) =>
      val f = new File(dir, s"report_$i.xlsx")
      Xlsx.writeFileRows(header, rows, f.getPath)
      Files.readAllBytes(f.toPath)
    }.toSeq
    val parsedReportRows = workbooks.map(b => Xlsx.parseWorkbook(b, header.size).size).sum

    val rendered = ticketItems + mails.size + reportRows.size
    val parsed = parsedTicketItems + parsedMails + parsedReportRows
    Seq(
      "parsers.pdf_extract_us" -> perDocUs(pdfs)(b => Pdf.extractText(b)),
      "parsers.ticket_parse_us" -> perDocUs(texts)(t => TicketParser.parse(t)),
      "parsers.mail_parse_us" -> perDocUs(mails)(m => MailParser.parse(m)),
      "sources.xlsx_parse_us" -> perDocUs(workbooks)(b => Xlsx.parseWorkbook(b, header.size)),
      "parsers.items_ratio" -> parsed.toDouble / rendered,
      "parsers.docs" -> (pdfs.size + mails.size + workbooks.size))
  }
}
