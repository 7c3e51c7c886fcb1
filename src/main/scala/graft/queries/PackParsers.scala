package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schemas.Tables
import graft.functions.Exprs
import graft.parsers.{MailParser, TicketParser}

/** Parser query pack (SURVEY.md §2.9): the two row-at-a-time grammars U1
  * (supermarket-ticket text → line items) and U2 (bank-mail HTML → payment
  * row), plus the binary-document scan S5/U3/F3.
  *
  * Oracle strategy: the declared queries *construct* grammar-conformant
  * input text from relational testdata inside the plan, then parse it back
  * with the real parsers — so the DuckDB oracle can state the expected
  * output directly from the base tables (parse ∘ render ≡ the relational
  * projection). This checks the full grammar distributively, not just on
  * golden fixtures.
  *
  * Scale: construction + parse are narrow per-row/per-group transforms
  * (one shuffle for the per-ticket groupBy); the flatMap parser is a typed
  * Dataset transform that pipelines inside a single stage.
  */
object PackParsers {
  private val D = DecimalType(18, 2)
  private def dec(c: Column): Column = c.cast(D)
  /** decimal → ticket money string ('1234.56' → '1234,56'). `translate`
    * is a plain char map — no regex engine on the hot path (~3 money
    * strings per line item). */
  private def moneyS(c: Column): Column = translate(c.cast("string"), ".", ",")

  private def tmpBase(sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${new java.io.File(sfDir).getName}"

  private[queries] val catCase =
    """CASE CAST(l.l_linenumber % 7 AS INTEGER)
      |    WHEN 0 THEN 'Almacen' WHEN 1 THEN 'Bebidas' WHEN 2 THEN 'Carniceria'
      |    WHEN 3 THEN 'Frutas Y Verduras' WHEN 4 THEN 'Limpieza'
      |    WHEN 5 THEN 'Perfumeria' ELSE 'Hogar Bazar' END""".stripMargin

  /** U1 input construction: render every order as ticket text from the
    * relational testdata (header anchors + per-item category/name/amount
    * lines in both grammar forms). Shared by the declared query and the
    * generator-vs-flatMap benchmarks. */
  def ticketTexts(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    ticketTextsFiltered(s, d, lit(true))

  /** [[ticketTexts]] over a ticket-key predicate (bounded slices for the
    * SQL-generator declared query). */
  def ticketTextsFiltered(s: SparkSession, d: String,
                          pred: Column): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    ticketItems(s, d).filter(pred)
      .groupBy($"l_orderkey", $"fecha_s")
      .agg(collect_list(struct($"l_linenumber", $"line")).as("lines"),
        sum($"total_dec").as("sum_dec"))
      .select(concat(
        lit("Fecha "), $"fecha_s", lit(" Hora 12:00\nCaja 4\nP.V. 001 Nro T. "),
        $"l_orderkey".cast("string"), lit("\n"),
        array_join(transform(array_sort($"lines"), x => x.getField("line")), "\n"),
        lit("\nTOTAL "), moneyS($"sum_dec")).as("text"))
  }

  /** [[ticketTexts]] via secondary sort: hash-repartition on the ticket
    * key, sort within partitions on (key, linenumber), then stream each
    * contiguous group through one StringBuilder pass. Identical output to
    * the collect_list form, but no per-group array buffers or struct
    * sorts — groups never materialize, so a billion-line ticket streams
    * instead of buffering. The per-line strings still come from the
    * codegen'd projection; totals accumulate in exact BigDecimal. */
  def ticketTextsSorted(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    ticketTextsSortedDs(s, d).toDF("text")

  /** Typed form of [[ticketTextsSorted]] — callers that chain another
    * object op (the parse flatMap) use this directly so
    * EliminateSerialization fuses the chain; a toDF alias in between
    * would force a UTF8String round-trip per ticket. */
  def ticketTextsSortedDs(s: SparkSession, d: String): org.apache.spark.sql.Dataset[String] = {
    import s.implicits._
    val items = ticketItems(s, d)
      .select($"l_orderkey", $"fecha_s", $"l_linenumber", $"line",
        $"total_dec".cast("decimal(18,2)"))
      .as[(Long, String, Int, String, java.math.BigDecimal)]
    items
      .repartition(col("l_orderkey"))
      // the testdata has duplicate line numbers per order; the line string
      // is the tie-break, matching the collect_list form's struct sort
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"), col("line"))
      .mapPartitions { rows =>
        new Iterator[String] {
          private var pending: (Long, String, Int, String, java.math.BigDecimal) =
            if (rows.hasNext) rows.next() else null
          def hasNext: Boolean = pending != null
          def next(): String = {
            val (key, fecha, _, _, _) = pending
            val sb = new java.lang.StringBuilder(256)
            sb.append("Fecha ").append(fecha).append(" Hora 12:00\nCaja 4\nP.V. 001 Nro T. ")
              .append(key)
            var total = java.math.BigDecimal.ZERO
            while (pending != null && pending._1 == key) {
              sb.append('\n').append(pending._4)
              total = total.add(pending._5)
              pending = if (rows.hasNext) rows.next() else null
            }
            sb.append("\nTOTAL ").append(total.toPlainString.replace('.', ','))
            sb.toString
          }
        }
      }
  }

  /** [[ticketTextsSortedDs]] with the parse fused into the same
    * mapPartitions pass: each ticket's text is built and handed straight
    * to [[TicketParser.parse]] without leaving the partition iterator —
    * no intermediate Dataset[String] boundary at all (one less typed
    * operator for the planner, one less per-ticket closure dispatch at
    * runtime). Output is exactly parse ∘ render. */
  def ticketItemsParsedDs(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[graft.parsers.TicketParser.TicketItem] = {
    import s.implicits._
    val items = ticketItems(s, d)
      .select($"l_orderkey", $"fecha_s", $"l_linenumber", $"line",
        $"total_dec".cast("decimal(18,2)"))
      .as[(Long, String, Int, String, java.math.BigDecimal)]
    items
      .repartition(col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"), col("line"))
      .mapPartitions { rows =>
        val tickets = new Iterator[String] {
          private var pending: (Long, String, Int, String, java.math.BigDecimal) =
            if (rows.hasNext) rows.next() else null
          def hasNext: Boolean = pending != null
          def next(): String = {
            val (key, fecha, _, _, _) = pending
            val sb = new java.lang.StringBuilder(256)
            sb.append("Fecha ").append(fecha).append(" Hora 12:00\nCaja 4\nP.V. 001 Nro T. ")
              .append(key)
            var total = java.math.BigDecimal.ZERO
            while (pending != null && pending._1 == key) {
              sb.append('\n').append(pending._4)
              total = total.add(pending._5)
              pending = if (rows.hasNext) rows.next() else null
            }
            sb.append("\nTOTAL ").append(total.toPlainString.replace('.', ','))
            sb.toString
          }
        }
        tickets.flatMap(TicketParser.parse)
      }
  }

  /** shared projection feeding both ticket-text constructions. */
  private def ticketItems(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val cats = array(TicketParser.categories.map(lit): _*)
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), $"l_partkey" === $"p_partkey")
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_linenumber",
        date_format($"o_orderdate", "dd/MM/yy").as("fecha_s"),
        element_at(cats, ($"l_linenumber" % 7 + 1).cast("int")).as("categ"),
        $"p_name".as("prod"),
        $"l_quantity".cast("long").as("cant"),
        dec($"l_quantity") * lit(BigDecimal("0.5")) as "kg_dec",
        dec($"p_retailprice").as("unit_dec"),
        dec($"l_extendedprice").as("total_dec"),
        ($"l_linenumber" % 3 === 0).as("weighted"))
      .withColumn("line",
        concat($"categ", lit("\n"), $"prod", lit("\n"),
          when($"weighted",
            concat(lit("x "), moneyS($"kg_dec"), lit(" x "), moneyS($"unit_dec"),
              lit(" "), moneyS($"total_dec")))
            .otherwise(concat($"cant".cast("string"), lit(" x "), moneyS($"unit_dec"),
              lit(" (090) "), moneyS($"total_dec")))))
  }

  /** U2 input construction: render every event as a notification mail
    * (error events omit the required Monto label → dropped by the parser's
    * null gate). Shared by the declared query and the profiler. */
  def mailDocs(s: SparkSession, d: String,
               pred: Column = lit(true)): org.apache.spark.sql.Dataset[MailParser.MailDoc] = {
    import s.implicits._
    Tables.events(s, d)
      .filter(pred)
      .select(
        concat(lit("msg-"), lpad($"event_id".cast("string"), 8, "0")).as("message_id"),
        date_format($"ts", "yyyy-MM-dd'T'HH:mm:ss").as("date"),
        lit("banco@santander.example").as("sender"),
        lit("Pago con tarjeta").as("subject"),
        concat(
          lit("<html><body><p>Pago con Tarjeta_Santander terminada en "),
          lpad($"user_id".cast("string"), 4, "0"), lit("</p>"),
          when($"event_type" =!= "error",
            concat(lit("<p>Monto $"), moneyS($"value".cast(DecimalType(12, 2))), lit("</p>")))
            .otherwise(lit("")),
          lit("<p>Fecha "), date_format($"ts", "dd/MM/yyyy"),
          lit("</p><p>Hora "), date_format($"ts", "HH:mm"),
          lit("</p><p>Comercio "), $"event_type",
          lit("</p><p>Cuotas "),
          (Exprs.jsonGet($"props", "$.k").cast("long") % 5 + 1).cast("string"),
          lit("</p></body></html>")).as("html_body"),
        lit("").as("raw_text"))
      .as[MailParser.MailDoc]
  }

  val queries: Seq[QDef] = Seq(

    // U1 — ticket-text generator round-trip
    // (transform_data_pdf/lambda_function.py:35-115): render each order as
    // ticket text (header anchors, per-item category/name/amount lines in
    // both the qty and weighted grammar forms), then flatMap-parse back.
    QDef("u1_udtf_ticket_items",
      s"""WITH it AS (
         |  SELECT l.l_orderkey AS nro_ticket,
         |    CAST(strptime(strftime(o.o_orderdate,'%d/%m/') || '20' || strftime(o.o_orderdate,'%y'), '%d/%m/%Y') AS DATE) AS fecha,
         |    $catCase AS categ,
         |    p.p_name AS prod,
         |    CASE WHEN l.l_linenumber % 3 = 0 THEN 1 ELSE CAST(l.l_quantity AS BIGINT) END AS cant,
         |    CASE WHEN l.l_linenumber % 3 = 0 THEN CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 0.5 AS DOUBLE) ELSE 0.0 END AS peso,
         |    CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS p_unit,
         |    CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS p_total,
         |    CAST(l.l_extendedprice AS DECIMAL(18,2)) AS tot_dec
         |  FROM lineitem l
         |  JOIN part p ON l.l_partkey = p.p_partkey
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |tot AS (
         |  SELECT nro_ticket, CAST(sum(tot_dec) AS DOUBLE) AS total_ticket_bruto,
         |         CAST(round(sum(tot_dec) * 0.3, 2) AS DOUBLE) AS total_ticket_meli
         |  FROM it GROUP BY nro_ticket)
         |SELECT it.nro_ticket, it.fecha, it.categ, it.prod, it.cant, it.peso,
         |       it.p_unit, it.p_total, tot.total_ticket_bruto, tot.total_ticket_meli
         |FROM it JOIN tot USING (nro_ticket)
         |ORDER BY nro_ticket, prod, p_total, categ""".stripMargin) { (s, d) =>
      import s.implicits._
      // secondary-sort construction: ~25% faster than the collect_list
      // form at sf0.1 and never materializes a whole ticket's lines;
      // render and parse run fused in one mapPartitions pass
      ticketItemsParsedDs(s, d)
        .toDF()
        .select($"nro_ticket", to_date($"fecha", "dd/MM/yyyy").as("fecha"),
          $"categ", $"prod", $"cant", $"peso", $"p_unit", $"p_total",
          $"total_ticket_bruto", $"total_ticket_meli")
        .orderBy($"nro_ticket", $"prod", $"p_total", $"categ")
    },

    // U1 through the custom Catalyst Generator (graft.plans
    // .TicketItemsGenerator) — the SQL-callable packaging of the same
    // grammar: LATERAL VIEW graft_parse_ticket(text) explodes each
    // rendered ticket into typed item rows inside the SQL surface, no
    // Dataset API required. Declared on a 5% ticket slice (the full
    // corpus already runs through the fused flatMap in u1); same
    // render∘parse oracle restricted to the slice.
    QDef("u3_generator_lateral",
      s"""WITH it AS (
         |  SELECT l.l_orderkey AS nro_ticket,
         |    CAST(strptime(strftime(o.o_orderdate,'%d/%m/') || '20' || strftime(o.o_orderdate,'%y'), '%d/%m/%Y') AS DATE) AS fecha,
         |    $catCase AS categ,
         |    p.p_name AS prod,
         |    CASE WHEN l.l_linenumber % 3 = 0 THEN 1 ELSE CAST(l.l_quantity AS BIGINT) END AS cant,
         |    CASE WHEN l.l_linenumber % 3 = 0 THEN CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 0.5 AS DOUBLE) ELSE 0.0 END AS peso,
         |    CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS p_unit,
         |    CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS p_total,
         |    CAST(l.l_extendedprice AS DECIMAL(18,2)) AS tot_dec
         |  FROM lineitem l
         |  JOIN part p ON l.l_partkey = p.p_partkey
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE l.l_orderkey % 20 = 0),
         |tot AS (
         |  SELECT nro_ticket, CAST(sum(tot_dec) AS DOUBLE) AS total_ticket_bruto,
         |         CAST(round(sum(tot_dec) * 0.3, 2) AS DOUBLE) AS total_ticket_meli
         |  FROM it GROUP BY nro_ticket)
         |SELECT it.nro_ticket, it.fecha, it.categ, it.prod, it.cant, it.peso,
         |       it.p_unit, it.p_total, tot.total_ticket_bruto, tot.total_ticket_meli
         |FROM it JOIN tot USING (nro_ticket)
         |ORDER BY nro_ticket, prod, p_total, categ""".stripMargin) { (s, d) =>
      import s.implicits._
      ticketTextsFiltered(s, d, col("l_orderkey") % 20 === 0)
        .createOrReplaceTempView("u3_gen_texts")
      s.sql("SELECT t.* FROM u3_gen_texts LATERAL VIEW graft_parse_ticket(text) t")
        .select($"nro_ticket", to_date($"fecha", "dd/MM/yyyy").as("fecha"),
          $"categ", $"prod", $"cant", $"peso", $"p_unit", $"p_total",
          $"total_ticket_bruto", $"total_ticket_meli")
        .orderBy($"nro_ticket", $"prod", $"p_total", $"categ")
    },

    // U2 — mail-HTML parser round-trip (transform_data_bank_pay:29-69):
    // render each event as a notification mail (error events omit the
    // required Monto label → dropped by the parser's null gate), tokenize
    // + label-walk + money/currency/md5 grammar back to rows.
    QDef("u2_udf_mail_fields",
      """SELECT
        |  md5(strftime(ts,'%d/%m/%Y') || '_' || strftime(ts,'%H:%M') || ':00_' ||
        |      CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) || '_' || event_type ||
        |      '_Tarjeta_Santander_ARS') AS id,
        |  'msg-' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS message_id,
        |  CAST(ts AS DATE) AS fecha_pago,
        |  strftime(ts,'%H:%M') || ':00' AS hora_pago,
        |  CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS monto,
        |  'ARS' AS divisa,
        |  'Tarjeta_Santander' AS tarjeta,
        |  lpad(CAST(user_id AS VARCHAR), 4, '0') AS nro_tarjeta,
        |  event_type AS comercio,
        |  CAST(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 5 + 1 AS INTEGER) AS cuotas
        |FROM events WHERE event_type <> 'error'
        |ORDER BY message_id""".stripMargin) { (s, d) =>
      import s.implicits._
      mailDocs(s, d).flatMap(MailParser.parse _)
        .toDF()
        .select($"id", $"message_id",
          to_date($"fecha_pago", "dd/MM/yyyy").as("fecha_pago"), $"hora_pago",
          $"monto".cast("double").as("monto"), $"divisa", $"tarjeta",
          $"nro_tarjeta", $"comercio", $"cuotas")
        .orderBy($"message_id")
    },

    // S5 + F3 + U3 + F24 — binary-document scan: stage documents as files
    // (driver-side staging mirrors the reference's S7 fetch loop — the
    // LISTING is driver-side, the data plane stays distributed), then
    // `binaryFile` scan → %PDF magic + min-size filter → text extraction
    // stub + sha-256 content hash (transform_data_pdf:138-143, 9-33).
    // U3 LIVE — REAL PDF text extraction, no pdfbox: stage each document
    // as an actual PDF 1.4 file (valid xref, FlateDecode-compressed
    // content stream — graft.parsers.Pdf.writePdf) and recover the text
    // through the JDK-only structural extractor (zlib inflate + content-
    // stream Tj/TJ tokenizer with the full string-escape grammar). The
    // oracle reconstructs the expected text purely relationally: the
    // writer emits one text line per 8-token chunk, so DuckDB re-chunks
    // the source text and joins lines with newlines. Scale shape: one
    // PDF = one binaryFile row = one task; the parse rides mapPartitions
    // on the executors (the driver only stages, mirroring the
    // reference's per-object fetch loop).
    QDef("u3_pdf_text_real",
      """SELECT doc_id,
        |  array_to_string(list_transform(range(0, CAST(ceil(len(string_split(text,' ')) / 8.0) AS BIGINT)),
        |    i -> array_to_string(string_split(text,' ')[(i*8+1):(i*8+8)], ' ')), chr(10)) AS extracted
        |FROM documents WHERE doc_id < 48 ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val stage = new java.io.File(tmpBase(d) + "/pdf_real")
      stage.mkdirs()
      val rows = Tables.documents(s, d).filter($"doc_id" < 48)
        .select($"doc_id", $"text")
        .collect() // 48 tiny staged tickets — the reference's fetch loop
      rows.foreach { r =>
        val lines = r.getString(1).split(" ").grouped(8).map(_.mkString(" ")).toSeq
        java.nio.file.Files.write(
          new java.io.File(stage, f"doc_${r.getLong(0)}%05d.pdf").toPath,
          graft.parsers.Pdf.writePdf(lines))
      }
      s.read.format("binaryFile").load(stage.toString)
        .select(regexp_extract($"path", "doc_(\\d+)\\.pdf", 1)
          .cast("long").as("doc_id"), $"content")
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          (id, graft.parsers.Pdf.extractText(bytes))
        })
        .toDF("doc_id", "extracted")
        .orderBy($"doc_id")
    },

    // U4 — result rendering + catalog schema description declared as a
    // query (r8 VERDICT next-round #6, ai_agent:22-36, 127-154): stage 1
    // resolves the catalog prefix to a schema block, stages 2-3 execute
    // SQL through Catalyst, stage 4 renders the rows as the markdown the
    // bot replies with. Both surfaces are pure functions of (catalog
    // schema, sorted limited rows), so the oracle reconstructs the exact
    // lines relationally — the schema line is pinned literally because
    // the fixture's nation schema IS a contract (FixtureCanarySpec
    // territory; a dtype drift should fail this query). Driver-side by
    // design (SURVEY §2.9): render/describe are the endpoint seams, and
    // the reference's own LIMIT 20 rule bounds the collect.
    QDef("u4_result_render",
      """WITH r AS (SELECT n_name, n_regionkey FROM nation ORDER BY n_name LIMIT 20),
        |n AS (SELECT row_number() OVER (ORDER BY n_name) AS rn, n_name, n_regionkey FROM r)
        |SELECT 1 AS line_no, 'agent_nation(n_nationkey int, n_name string, n_regionkey int)' AS line
        |UNION ALL SELECT 2, '| n_name | n_regionkey |'
        |UNION ALL SELECT 3, '| --- | --- |'
        |UNION ALL SELECT CAST(3 + rn AS INTEGER),
        |  '| ' || n_name || ' | ' || CAST(n_regionkey AS VARCHAR) || ' |' FROM n
        |ORDER BY line_no""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.nation(s, d).createOrReplaceTempView("agent_nation")
      val block = graft.io.AgentSupport.describeSchemas(s, "agent_")
      val md = graft.io.AgentSupport.answer(s,
        "SELECT n_name, n_regionkey FROM agent_nation ORDER BY n_name", 20,
        allowed = Seq("agent_nation"))
      (block.linesIterator ++ md.linesIterator).toSeq.zipWithIndex
        .map { case (l, i) => (i + 1, l) }
        .toDF("line_no", "line")
        .orderBy($"line_no")
    },

    QDef("s5_scan_binary_pdf",
      """SELECT doc_id, text AS extracted,
        |  sha256('%PDF-1.4' || chr(10) || text) AS sha,
        |  CAST(9 + length(text) AS BIGINT) AS n_bytes
        |FROM documents WHERE doc_id < 64 AND doc_id % 2 = 0 AND length(text) > 32
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val stage = new java.io.File(tmpBase(d) + "/bin")
      stage.mkdirs()
      val rows = Tables.documents(s, d).filter($"doc_id" < 64)
        .select($"doc_id",
          when($"doc_id" % 2 === 0, concat(lit("%PDF-1.4\n"), $"text"))
            .otherwise($"text").as("content"))
        .collect() // 32 tiny staged files — the reference's per-object fetch loop
      rows.foreach { r =>
        java.nio.file.Files.write(
          new java.io.File(stage, f"doc_${r.getLong(0)}%05d.bin").toPath,
          r.getString(1).getBytes("UTF-8"))
      }
      s.read.format("binaryFile").load(stage.toString)
        .select(regexp_extract($"path", "doc_(\\d+)\\.bin", 1)
          .cast("long").as("doc_id"),
          decode($"content", "UTF-8").as("txt"), $"length", $"content")
        .filter($"txt".startsWith("%PDF-") && $"length" > 32 + 9) // F3 magic + min size
        .select($"doc_id",
          element_at(split($"txt", "\n", 2), 2).as("extracted"), // U3 stub
          sha2($"content", 256).as("sha"), // F24 on raw bytes
          $"length".as("n_bytes"))
        .orderBy($"doc_id")
    },

    // The ai_agent READ-PATH ROUTING CONTRACT (ai_agent/lambda_function
    // .py:51-66 + the /start examples :214-222), pinned end to end: the
    // three warehouse tables registered in the catalog under their
    // reference names, the prompt's schema block derived FROM the catalog
    // (rule 1: only these tables/columns), one representative question per
    // table class routed by the golden rules (3: banco/santander →
    // bank_payments, 4: mercado pago → mp_data, 5: supermercado/carrefour
    // → carrefour_data), each answered through spark.sql with the LIMIT-20
    // discipline (rule 6) — the bank answer has 37 merchant groups, so the
    // limit genuinely truncates. The schema lines, the routed table names,
    // and every answered row hash as ONE oracle result: a drifted column
    // type, a mis-routed question, or a dropped LIMIT all fail the gate.
    // Scale shape: three aggregate-then-top-20 plans (partial agg before
    // the exchange, TakeOrdered after); the collect surface is the
    // reference's own 20-row reply cap, never the table.
    QDef("agent_route_tables",
      s"""WITH cf AS (
         |  SELECT $catCase AS categ,
         |         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS p_total_dec
         |  FROM lineitem l
         |  JOIN part p ON l.l_partkey = p.p_partkey
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE l.l_orderkey % 7 = 0),
         |mp AS (
         |  SELECT CASE WHEN o_orderkey % 11 = 0 THEN 'refund'
         |              ELSE 'settlement' END AS transaction_type,
         |         round(CAST(o_totalprice AS DECIMAL(18,2)) *
         |               CASE WHEN o_orderkey % 11 = 0 THEN -0.96 ELSE 0.96 END,
         |               2) AS real_dec
         |  FROM orders WHERE o_orderkey % 13 = 0),
         |bk AS (
         |  SELECT 'COM-' || lpad(CAST(o_orderkey % 37 AS VARCHAR), 2, '0') AS comercio,
         |         CAST(o_totalprice AS DECIMAL(12,2)) AS monto
         |  FROM orders WHERE o_orderkey % 3 = 0),
         |a1 AS (SELECT categ AS k, CAST(sum(p_total_dec) AS DOUBLE) AS v
         |       FROM cf GROUP BY 1 ORDER BY v DESC, k LIMIT 20),
         |a2 AS (SELECT transaction_type AS k, CAST(sum(real_dec) AS DOUBLE) AS v
         |       FROM mp GROUP BY 1 ORDER BY v DESC, k LIMIT 20),
         |a3 AS (SELECT comercio AS k, CAST(sum(monto) AS DOUBLE) AS v
         |       FROM bk GROUP BY 1 ORDER BY v DESC, k LIMIT 20)
         |SELECT * FROM (
         |  SELECT 1 AS line_no, '__schema__' AS question,
         |    'bank_payments' AS routed_table,
         |    'bank_payments(id string, message_id string, fecha_pago date, hora_pago string, monto decimal(12,2), divisa string, tarjeta string, nro_tarjeta string, comercio string, cuotas int, extraido_en timestamp)' AS k,
         |    CAST(NULL AS DOUBLE) AS v
         |  UNION ALL SELECT 2, '__schema__', 'carrefour_data',
         |    'carrefour_data(nro_ticket bigint, fecha date, categ string, prod string, cant bigint, peso double, p_unit double, p_total double, total_ticket_bruto double, total_ticket_meli double)',
         |    NULL
         |  UNION ALL SELECT 3, '__schema__', 'mp_data',
         |    'mp_data(source_id string, report_id string, report_date timestamp, settlement_date timestamp, payment_method_type string, transaction_type string, transaction_amount double, transaction_date timestamp, real_amount double, pos_id string, store_id string, store_name string, payer_name string, business_unit string, sub_unit string)',
         |    NULL
         |  UNION ALL SELECT CAST(100 + row_number() OVER (ORDER BY v DESC, k) AS INTEGER),
         |    'cuanto gaste en el supermercado por categoria', 'carrefour_data', k, v FROM a1
         |  UNION ALL SELECT CAST(200 + row_number() OVER (ORDER BY v DESC, k) AS INTEGER),
         |    'neto liquidado a traves de mercado pago por tipo de operacion', 'mp_data', k, v FROM a2
         |  UNION ALL SELECT CAST(300 + row_number() OVER (ORDER BY v DESC, k) AS INTEGER),
         |    'gastos de la tarjeta del banco por comercio', 'bank_payments', k, v FROM a3
         |) ORDER BY line_no""".stripMargin) { (s, d) =>
      import s.implicits._
      val dec96 = lit(new java.math.BigDecimal("0.96"))
      val dec50 = lit(new java.math.BigDecimal("0.5"))
      val dec30 = lit(new java.math.BigDecimal("0.3"))
      // -- the warehouse: the reference's three tables, full production
      // schema (graft.schemas.Schemas), registered under their real names
      Tables.lineitem(s, d).as("l")
        .join(Tables.part(s, d).as("p"), $"l.l_partkey" === $"p.p_partkey")
        .join(Tables.orders(s, d).as("o"), $"l.l_orderkey" === $"o.o_orderkey")
        .filter($"l.l_orderkey" % 7 === 0)
        .select(
          $"l.l_orderkey".as("nro_ticket"),
          $"o.o_orderdate".cast("date").as("fecha"),
          expr(catCase).as("categ"),
          $"p.p_name".as("prod"),
          $"l.l_quantity".cast("long").as("cant"),
          (dec($"l.l_quantity") * dec50).cast("double").as("peso"),
          dec($"p.p_retailprice").cast("double").as("p_unit"),
          dec($"l.l_extendedprice").cast("double").as("p_total"),
          dec($"l.l_extendedprice").cast("double").as("total_ticket_bruto"),
          round(dec($"l.l_extendedprice") * dec30, 2).cast("double").as("total_ticket_meli"))
        .createOrReplaceTempView("carrefour_data")
      Tables.orders(s, d).filter($"o_orderkey" % 13 === 0)
        .select(
          $"o_orderkey".cast("string").as("source_id"),
          concat(lit("rpt-"), ($"o_orderkey" % 5).cast("string")).as("report_id"),
          $"o_orderdate".cast("timestamp").as("report_date"),
          $"o_orderdate".cast("timestamp").as("settlement_date"),
          when($"o_orderkey" % 3 === 0, "credit_card").otherwise("account_money")
            .as("payment_method_type"),
          when($"o_orderkey" % 11 === 0, "refund").otherwise("settlement")
            .as("transaction_type"),
          dec($"o_totalprice").cast("double").as("transaction_amount"),
          $"o_orderdate".cast("timestamp").as("transaction_date"),
          round(dec($"o_totalprice") *
            when($"o_orderkey" % 11 === 0, -dec96).otherwise(dec96), 2)
            .cast("double").as("real_amount"),
          concat(lit("pos-"), ($"o_custkey" % 4).cast("string")).as("pos_id"),
          concat(lit("store-"), ($"o_custkey" % 3).cast("string")).as("store_id"),
          concat(lit("Sucursal "), ($"o_custkey" % 3).cast("string")).as("store_name"),
          concat(lit("payer-"), $"o_custkey".cast("string")).as("payer_name"),
          lit("point").as("business_unit"),
          lit("pos").as("sub_unit"))
        .createOrReplaceTempView("mp_data")
      Tables.orders(s, d).filter($"o_orderkey" % 3 === 0)
        .select(
          md5($"o_orderkey".cast("string")).as("id"),
          concat(lit("msg-"), lpad($"o_orderkey".cast("string"), 8, "0")).as("message_id"),
          $"o_orderdate".cast("date").as("fecha_pago"),
          concat(lpad(($"o_orderkey" % 24).cast("string"), 2, "0"), lit(":00:00")).as("hora_pago"),
          $"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(12, 2)).as("monto"),
          lit("ARS").as("divisa"),
          when($"o_custkey" % 2 === 0, "VISA").otherwise("AMEX").as("tarjeta"),
          lpad(($"o_custkey" % 10000).cast("string"), 4, "0").as("nro_tarjeta"),
          concat(lit("COM-"), lpad(($"o_orderkey" % 37).cast("string"), 2, "0")).as("comercio"),
          ($"o_orderkey" % 6 + 1).cast("int").as("cuotas"),
          $"o_orderdate".cast("timestamp").as("extraido_en"))
        .createOrReplaceTempView("bank_payments")
      // -- rule 1: the schema block the prompt consumes, straight from the
      // catalog (a type drift here fails the hash)
      val schemaRows = graft.io.AgentSupport
        .describeTables(s, graft.io.AgentSupport.allowedTables.sorted)
        .zipWithIndex
        .map { case (line, i) => (i + 1, "__schema__", line.takeWhile(_ != '('), line) }
        .toDF("line_no", "question", "routed_table", "k")
        .withColumn("v", lit(null).cast("double"))
      // -- rules 3-6: route each question class, answer over the routed
      // table with the generated-SQL shape the agent emits (aggregate +
      // ORDER BY + LIMIT 20), numbered for the reply render
      val perTableSql = Map(
        "carrefour_data" ->
          """SELECT categ AS k, CAST(sum(CAST(p_total AS DECIMAL(18,2))) AS DOUBLE) AS v
            |FROM carrefour_data GROUP BY categ ORDER BY v DESC, k LIMIT 20""".stripMargin,
        "mp_data" ->
          """SELECT transaction_type AS k, CAST(sum(CAST(real_amount AS DECIMAL(18,2))) AS DOUBLE) AS v
            |FROM mp_data GROUP BY transaction_type ORDER BY v DESC, k LIMIT 20""".stripMargin,
        "bank_payments" ->
          """SELECT comercio AS k, CAST(sum(monto) AS DOUBLE) AS v
            |FROM bank_payments GROUP BY comercio ORDER BY v DESC, k LIMIT 20""".stripMargin)
      val questions = Seq(
        1 -> "cuanto gaste en el supermercado por categoria",
        2 -> "neto liquidado a traves de mercado pago por tipo de operacion",
        3 -> "gastos de la tarjeta del banco por comercio")
      val answers = questions.map { case (qid, question) =>
        val tbl = graft.io.AgentSupport.routeTable(question)
        // rule-1 enforcement the reference skips: the generated SQL is
        // parsed and checked (read-only, allowed tables only) BEFORE it
        // executes — see AgentSupport.validateSql
        graft.io.AgentSupport.validateSql(s, perTableSql(tbl))
        s.sql(
          s"""SELECT CAST(${100 * qid} + row_number() OVER (ORDER BY v DESC, k) AS INT) AS line_no,
             |  '$question' AS question, '$tbl' AS routed_table, k, v
             |FROM ( ${perTableSql(tbl)} ) t""".stripMargin)
      }
      answers.foldLeft(schemaRows)(_ unionByName _).orderBy($"line_no")
    }
  )

}
