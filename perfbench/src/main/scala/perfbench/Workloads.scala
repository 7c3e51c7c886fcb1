package perfbench

object Workloads {
  /** One cron cycle: the MP-report and bank-mail pipelines back to back,
    * then a drain of the stateful streaming job. */
  val ingestCycle: Seq[(String, Seq[String])] = Seq(
    "cycle" -> Seq("pipeline_mp_e2e", "pipeline_bank_e2e"),
    "drain" -> Seq("st7_stream_running_totals"))

  /** One curation pass: a dedup, a text, a similarity and a graph operator,
    * each with its cost in columns a `count()` would prune. */
  val curationPass: Seq[(String, Seq[String])] = Seq(
    "pass" -> Seq("dedup_fuzzy_levenshtein", "text_entropy", "ann_ivf_topk", "graph_pagerank"))

  /** The analyst's warehouse tables, generated partitioned by month. */
  val warehouseTables: Seq[String] = Seq("carrefour_data", "mp_data", "bank_payments")
}

/** A seeded analyst question: its text (which routes it), the table it
  * should route to, and the SQL the generator hands back. */
final case class Question(text: String, table: String, sql: String, hostile: Boolean)

/** The analyst's template bank, in the SQL subset Spark and DuckDB share:
  * spend by category per month, top products, per merchant, month-pruned
  * filters and ticket totals. Exactly one question in 20 carries hostile
  * SQL that the gate must reject; each statement is harmless if run. */
object Questions {
  val hostileShare = 0.05

  private def total(c: String) = s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DECIMAL(18,2))"

  val hostile: Seq[String] = Seq(
    "SELECT * FROM perfbench_secrets",
    "DROP TABLE IF EXISTS perfbench_absent",
    "SELECT reflect('java.lang.Thread', 'activeCount') AS n FROM mp_data LIMIT 1",
    "SELECT TRANSFORM(monto) USING 'cat' AS (x) FROM bank_payments",
    "SELECT current_user() AS u FROM carrefour_data LIMIT 1",
    "WITH t AS (SELECT 1 AS x) SELECT * FROM t JOIN perfbench_secrets USING (x)",
    "INSERT INTO perfbench_absent SELECT * FROM mp_data",
    "SELECT * FROM mp_data WHERE pos_id IN (SELECT pos_id FROM spark_catalog.other.mp_data)")

  private val meses = Seq("enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
    "agosto", "septiembre", "octubre", "noviembre", "diciembre")

  /** The template bank; each template draws its parameters from `r`. */
  private def templates(r: java.util.Random): Seq[() => Question] = {
    def ym(): (Int, Int) = { // a month with ticket data: 1995-01 .. 2001-08
      val k = r.nextInt(80)
      (1995 + k / 12, 1 + k % 12)
    }
    def day(lo: Int): Int = lo + r.nextInt(30 - lo)
    Seq(
      () => {
        val (y, m) = ym()
        Question(s"cuanto gaste en el supermercado por categoria en ${meses(m - 1)} de $y",
          "carrefour_data",
          s"SELECT categ, ${total("p_total")} AS total, CAST(count(*) AS BIGINT) AS items " +
            s"FROM carrefour_data WHERE ym = ${y * 100 + m} GROUP BY categ ORDER BY total DESC, categ LIMIT 20",
          hostile = false)
      },
      () => {
        val y = 1995 + r.nextInt(7)
        Question(s"que productos compre mas en carrefour en $y", "carrefour_data",
          s"SELECT prod, CAST(sum(cant) AS BIGINT) AS unidades, ${total("p_total")} AS total " +
            s"FROM carrefour_data WHERE ym BETWEEN ${y}01 AND ${y}12 " +
            "GROUP BY prod ORDER BY unidades DESC, prod LIMIT 20", hostile = false)
      },
      () => {
        val (y, m) = ym()
        Question(s"mis tickets mas caros del supermercado en ${meses(m - 1)} de $y", "carrefour_data",
          s"SELECT nro_ticket, fecha, ${total("p_total")} AS total, CAST(count(*) AS BIGINT) AS items " +
            s"FROM carrefour_data WHERE ym = ${y * 100 + m} GROUP BY nro_ticket, fecha " +
            "ORDER BY total DESC, nro_ticket LIMIT 20", hostile = false)
      },
      () => {
        val y = 1995 + r.nextInt(7)
        Question(s"gasto mensual en el supermercado durante $y", "carrefour_data",
          s"SELECT ym, ${total("p_total")} AS total, CAST(count(DISTINCT nro_ticket) AS BIGINT) AS tickets " +
            s"FROM carrefour_data WHERE ym BETWEEN ${y}01 AND ${y}12 GROUP BY ym ORDER BY ym LIMIT 20",
          hostile = false)
      },
      () => {
        val a = day(1)
        val b = math.min(30, a + 1 + r.nextInt(10))
        Question(f"en que puntos de venta de mercado pago gaste mas entre el $a y el $b de enero",
          "mp_data",
          s"SELECT pos_id, payer_name, ${total("monto")} AS total, CAST(count(*) AS BIGINT) AS n " +
            f"FROM mp_data WHERE settlement_date BETWEEN DATE '2024-01-$a%02d' AND DATE '2024-01-$b%02d' " +
            "GROUP BY pos_id, payer_name ORDER BY total DESC, pos_id LIMIT 20", hostile = false)
      },
      () => {
        val rid = r.nextInt(23)
        Question(s"movimientos por tipo en el reporte $rid de mercado pago", "mp_data",
          s"SELECT transaction_type, ${total("monto")} AS total, CAST(count(*) AS BIGINT) AS n " +
            s"FROM mp_data WHERE report_id = $rid GROUP BY transaction_type " +
            "ORDER BY total DESC, transaction_type LIMIT 20", hostile = false)
      },
      () => {
        val a = day(1)
        val b = math.min(30, a + 6)
        Question(s"cuanto pague con la tarjeta del banco por comercio entre el $a y el $b de enero",
          "bank_payments",
          s"SELECT comercio, ${total("monto")} AS total, CAST(count(*) AS BIGINT) AS pagos " +
            f"FROM bank_payments WHERE fecha_pago BETWEEN DATE '2024-01-$a%02d' AND DATE '2024-01-$b%02d' " +
            "GROUP BY comercio ORDER BY total DESC, comercio LIMIT 20", hostile = false)
      },
      () => {
        val c = 1 + r.nextInt(5)
        Question(s"gasto diario del banco santander en cuotas desde $c en enero", "bank_payments",
          s"SELECT fecha_pago, ${total("monto")} AS total, CAST(count(*) AS BIGINT) AS pagos " +
            s"FROM bank_payments WHERE ym = 202401 AND cuotas >= $c " +
            "GROUP BY fecha_pago ORDER BY fecha_pago LIMIT 20", hostile = false)
      })
  }

  val templateCount: Int = templates(new java.util.Random(0)).size

  def stream(seed: Long): Iterator[Question] = {
    val r = new java.util.Random(seed)
    val bank = templates(r)
    val period = math.round(1 / hostileShare).toInt
    // every template once per round, in a seeded order: each seed asks the same mix
    var round = Seq.empty[() => Question]
    Iterator.from(0).map { i =>
      if (i % bank.size == 0) {
        val order = new java.util.ArrayList[() => Question](java.util.Arrays.asList(bank: _*))
        java.util.Collections.shuffle(order, r)
        // the cold question always comes from the first template, so that
        // first_op_s compares like with like across seeds
        if (i == 0) { order.remove(bank.head); order.add(0, bank.head) }
        round = order.toArray(Array.empty[() => Question]).toSeq
      }
      val q = round(i % bank.size)()
      // question 0 (the cold op) is never hostile, so first_op_s always executes SQL
      if (i % period == period / 2) q.copy(sql = hostile(r.nextInt(hostile.size)), hostile = true)
      else q
    }
  }
}
