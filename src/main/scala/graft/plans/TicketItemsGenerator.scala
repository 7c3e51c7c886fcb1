package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.parsers.TicketParser

/** U1 as a native Catalyst Generator (the design point SURVEY.md §7.3
  * reserves "if U1 outgrows flatMap"): `graft_parse_ticket(text)` explodes
  * one ticket text into its line-item rows inside the SQL engine —
  * `SELECT t.* FROM tickets LATERAL VIEW graft_parse_ticket(text) t` —
  * producing InternalRows directly, with no case-class encoder round-trip
  * at the object boundary. Wraps the same pure TicketParser.parse, so
  * results are identical to the typed-flatMap path. */
case class TicketItemsGenerator(child: Expression)
  extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("nro_ticket", LongType), StructField("fecha", StringType),
    StructField("categ", StringType), StructField("prod", StringType),
    StructField("cant", LongType), StructField("peso", DoubleType),
    StructField("p_unit", DoubleType), StructField("p_total", DoubleType),
    StructField("total_ticket_bruto", DoubleType),
    StructField("total_ticket_meli", DoubleType)))

  override def prettyName: String = "graft_parse_ticket"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val text = child.eval(input).asInstanceOf[UTF8String]
    if (text == null) Nil
    else TicketParser.parse(text.toString).map { it =>
      InternalRow(it.nro_ticket, UTF8String.fromString(it.fecha),
        UTF8String.fromString(it.categ), UTF8String.fromString(it.prod),
        it.cant, it.peso, it.p_unit, it.p_total,
        it.total_ticket_bruto, it.total_ticket_meli)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
