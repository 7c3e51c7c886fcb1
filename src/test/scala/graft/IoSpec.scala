package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** K4 — DDL bootstrap + catalog resolve (extract_data_bank_pay:60-81;
  * ai_agent:22-36): CREATE TABLE ... USING parquet against the session
  * catalog, idempotent IF NOT EXISTS, schema visible via spark.catalog. */
class IoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("K4: CREATE TABLE USING parquet is idempotent and catalog-visible") {
    val loc = TestSpark.tempDir("graft_ddl").toString
    val ddl =
      s"""CREATE TABLE IF NOT EXISTS bank_payments (
         |  id STRING, message_id STRING, fecha_pago DATE, hora_pago STRING,
         |  monto DECIMAL(12,2), divisa STRING, tarjeta STRING,
         |  nro_tarjeta STRING, comercio STRING, cuotas INT, extraido_en TIMESTAMP)
         |USING parquet LOCATION '$loc'""".stripMargin
    spark.sql(ddl)
    spark.sql(ddl) // idempotent re-run (the reference re-issues the DDL every batch)
    assert(spark.catalog.tableExists("bank_payments"))
    val cols = spark.catalog.listColumns("bank_payments").collect().map(_.name).toSeq
    assert(cols == graft.schemas.Schemas.bankPayments.fields.map(_.name).toSeq)
    spark.sql("INSERT INTO bank_payments VALUES " +
      "('id1','m1',DATE'2024-03-05','19:44:00',1234.56,'ARS','Tarjeta','9876','C',1,TIMESTAMP'2024-03-05 19:44:00')")
    assert(spark.sql("SELECT count(*) FROM bank_payments").head().getLong(0) == 1)
    spark.sql("DROP TABLE bank_payments")
  }

  test("corrupt JSON records: PERMISSIVE captures them, DROPMALFORMED drops them") {
    // ingestion robustness (the reference's try/except row fallback,
    // load_data:118-159, as reader policy instead of per-row code)
    val dir = TestSpark.tempDir("graft_corrupt").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "a.jsonl"),
      """{"id": 1, "v": "ok"}
        |{"id": 2, "v": oops not json
        |{"id": 3, "v": "fine"}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_bad", org.apache.spark.sql.types.StringType)))
    // cache: Spark refuses corrupt-column-only queries on the raw source
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_bad")
      .json(dir).cache()
    assert(permissive.filter(col("_bad").isNull).count() == 2)
    assert(permissive.filter(col("_bad").isNotNull).select(col("id")).head().isNullAt(0))
    val dropped = spark.read
      .schema(org.apache.spark.sql.types.StructType(schema.fields.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(dir)
    assert(dropped.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "ok"), (3L, "fine")))
  }

  test("schema evolution: mergeSchema reads old and new file generations together") {
    val spark2 = spark
    import spark2.implicits._
    val dir = TestSpark.tempDir("graft_evolve").toString + "/t"
    // generation 1: (id, v) — generation 2 adds a column
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(dir)
    Seq((3L, "c", 30.0)).toDF("id", "v", "score").write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("id", "score", "v"))
    val rows = merged.orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.toSeq == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(30.0))),
      "old-generation rows surface the new column as null")
  }

  test("agent support: catalog schema block + markdown rendering (ai_agent read path)") {
    import graft.io.AgentSupport
    graft.schemas.Tables.orders(spark, TestSpark.sf0001).createOrReplaceTempView("ag_orders")
    graft.schemas.Tables.nation(spark, TestSpark.sf0001).createOrReplaceTempView("ag_nation")
    val schemas = AgentSupport.describeSchemas(spark, "ag_")
    assert(schemas.contains("ag_orders(o_orderkey bigint"))
    assert(schemas.contains("ag_nation(n_nationkey int"))
    val md = AgentSupport.answer(spark,
      "SELECT o_orderpriority, count(*) AS n FROM ag_orders GROUP BY 1 ORDER BY 1",
      limit = 3, allowed = Seq("ag_orders"))
    val lines = md.split("\n")
    assert(lines(0) == "| o_orderpriority | n |" && lines.length == 5)
    // answer validates like answerQuestion — no unvalidated execute path
    intercept[IllegalArgumentException](
      AgentSupport.answer(spark, "SELECT * FROM ag_nation", allowed = Seq("ag_orders")))
    intercept[IllegalArgumentException](
      AgentSupport.answer(spark, "DROP TABLE ag_orders", allowed = Seq("ag_orders")))
  }

  test("agent markdown render: NULL cells render empty (the reference's typed decode)") {
    import spark.implicits._
    val md = graft.io.AgentSupport.markdown(
      Seq((Some("a"), 1L), (Option.empty[String], 2L)).toDF("name", "n"))
    val lines = md.split("\n")
    assert(lines(3) == "|  | 2 |", s"NULL must render as an empty cell: ${lines(3)}")
  }

  test("agent markdown render escapes structural characters in cell values") {
    import spark.implicits._
    // a merchant name with pipes and a newline must not splice columns/rows
    val md = graft.io.AgentSupport.markdown(
      Seq(("a|b", 1L), ("two\nlines", 2L)).toDF("name", "n"))
    val lines = md.split("\n")
    assert(lines.length == 4, s"2 data rows + header + rule, got:\n$md")
    assert(lines(2) == "| a\\|b | 1 |", s"pipe must escape: ${lines(2)}")
    assert(lines(3) == "| two lines | 2 |", s"newline must flatten: ${lines(3)}")
    // every data line still parses to exactly the column count
    assert(lines.drop(2).forall(l =>
      l.split("(?<!\\\\)\\|", -1).length == 4), md) // "| a | b |" -> 4 raw fields
  }

  test("agent answerQuestion: route -> generated SQL -> validate -> capped render, end to end") {
    import spark.implicits._
    Seq(("Almacen", 10.0), ("Bebidas", 20.0)).toDF("categ", "p_total")
      .createOrReplaceTempView("carrefour_data")
    val gen = Map("carrefour_data" ->
      "SELECT categ, CAST(sum(p_total) AS DOUBLE) AS total FROM carrefour_data GROUP BY 1 ORDER BY 1 LIMIT 20")
    val md = graft.io.AgentSupport.answerQuestion(spark,
      "gastos del supermercado por categoria", gen)
    assert(md.linesIterator.toSeq == Seq(
      "| categ | total |", "| --- | --- |",
      "| Almacen | 10.0 |", "| Bebidas | 20.0 |"), md)
    // a generator that returns SQL outside the contract never executes
    intercept[IllegalArgumentException] {
      graft.io.AgentSupport.answerQuestion(spark,
        "gastos del supermercado por categoria",
        Map("carrefour_data" -> "SELECT * FROM secrets"))
    }
    intercept[IllegalArgumentException] {
      graft.io.AgentSupport.answerQuestion(spark,
        "gastos del supermercado por categoria",
        Map("carrefour_data" -> "DROP TABLE carrefour_data"))
    }
  }

  test("agent SQL validation: read-only + allowed tables only, CTEs and subqueries included") {
    import graft.io.AgentSupport.validateSql
    val allowed = Seq("carrefour_data", "mp_data", "bank_payments")
    // the shapes the LLM legitimately generates all pass
    validateSql(spark, "SELECT categ, sum(p_total) FROM carrefour_data GROUP BY 1 LIMIT 20", allowed)
    validateSql(spark,
      "WITH t AS (SELECT * FROM MP_DATA) SELECT count(*) FROM t JOIN bank_payments b ON true",
      allowed)
    validateSql(spark,
      "SELECT * FROM carrefour_data WHERE p_total > (SELECT avg(monto) FROM bank_payments)",
      allowed)
    // reads outside the schema fail — top-level, joined, or inside a
    // subquery expression
    intercept[IllegalArgumentException](
      validateSql(spark, "SELECT * FROM secrets", allowed))
    intercept[IllegalArgumentException](
      validateSql(spark, "SELECT * FROM mp_data m JOIN users u ON true", allowed))
    intercept[IllegalArgumentException](
      validateSql(spark,
        "SELECT * FROM mp_data WHERE real_amount > (SELECT max(x) FROM hidden)", allowed))
    // a CTE cannot launder a forbidden table through its body
    intercept[IllegalArgumentException](
      validateSql(spark, "WITH t AS (SELECT * FROM secrets) SELECT * FROM t", allowed))
    // anything that writes or drops is rejected outright
    intercept[IllegalArgumentException](
      validateSql(spark, "DROP TABLE carrefour_data", allowed))
    intercept[IllegalArgumentException](
      validateSql(spark, "INSERT INTO mp_data SELECT * FROM mp_data", allowed))
    intercept[IllegalArgumentException](
      validateSql(spark, "CREATE TABLE x AS SELECT 1", allowed))
    // the two non-Command escapes review found: dynamic SQL nesting and
    // analysis-time procedure calls would pass the relation check with
    // zero UnresolvedRelations — both must reject explicitly
    intercept[IllegalArgumentException](
      validateSql(spark, "EXECUTE IMMEDIATE 'DROP TABLE carrefour_data'", allowed))
    intercept[IllegalArgumentException](
      validateSql(spark, "CALL system.do_things(1)", allowed))
    // script transform pipes rows through an ARBITRARY OS process while
    // reading only allowed tables, calling no function, and not being a
    // Command — the third non-Command escape shape
    intercept[IllegalArgumentException](
      validateSql(spark,
        "SELECT TRANSFORM(categ) USING 'bash -c cat' AS (c STRING) FROM carrefour_data",
        allowed))
    intercept[IllegalArgumentException](
      validateSql(spark,
        "WITH t AS (SELECT TRANSFORM(x) USING 'sh' AS (c STRING) FROM mp_data) SELECT * FROM t",
        allowed))
    // INSERT OVERWRITE DIRECTORY writes to an arbitrary path and is
    // neither a Command nor an InsertIntoStatement
    intercept[IllegalArgumentException](
      validateSql(spark,
        "INSERT OVERWRITE DIRECTORY '/tmp/exfil' USING parquet SELECT * FROM mp_data",
        allowed))
    intercept[IllegalArgumentException](
      validateSql(spark,
        "INSERT OVERWRITE LOCAL DIRECTORY '/tmp/exfil' SELECT * FROM carrefour_data",
        allowed))
  }

  test("agent SQL validation: every side-effecting grammar family rejects (Spark-upgrade canary)") {
    import graft.io.AgentSupport.validateSql
    val allowed = Seq("carrefour_data", "mp_data", "bank_payments")
    // One statement per side-effecting family of the Spark 4.1 grammar.
    // Today most parse to Command subtypes and reject through the
    // Command arm; the point of pinning ALL of them is that a future
    // Spark upgrade demoting any node from Command (as TRANSFORM,
    // EXECUTE IMMEDIATE, CALL, and INSERT OVERWRITE DIRECTORY already
    // are today) fails THIS test instead of silently opening the gate.
    val sideEffecting = Seq(
      "CREATE TABLE x (a INT)",
      "CREATE OR REPLACE TEMPORARY VIEW v AS SELECT * FROM mp_data",
      "ALTER TABLE mp_data ADD COLUMNS (z INT)",
      "DROP TABLE mp_data",
      "TRUNCATE TABLE mp_data",
      "UPDATE mp_data SET real_amount = 0",
      "DELETE FROM mp_data WHERE true",
      "MERGE INTO mp_data USING bank_payments ON false WHEN MATCHED THEN DELETE",
      "LOAD DATA INPATH '/tmp/x' INTO TABLE mp_data",
      "ANALYZE TABLE mp_data COMPUTE STATISTICS",
      "CACHE TABLE c AS SELECT * FROM mp_data",
      "UNCACHE TABLE mp_data",
      "REFRESH TABLE mp_data",
      "SET spark.sql.ansi.enabled=false",
      "ADD JAR '/tmp/evil.jar'",
      "ADD FILE '/tmp/evil.sh'",
      "CREATE FUNCTION f AS 'java.lang.System'",
      "USE default",
      "DECLARE VARIABLE v INT",
      "SET VAR v = (SELECT max(real_amount) FROM mp_data)",
      "EXPLAIN SELECT * FROM mp_data",
      "DESCRIBE TABLE mp_data",
      "SHOW TABLES",
      "COMMENT ON TABLE mp_data IS 'x'")
    sideEffecting.foreach { sql =>
      // ADVICE r14: accepting ANY exception let a statement that merely
      // stopped PARSING (typo, or grammar dropped by an upgrade) pass
      // identically to one the gate rejected. Assert the statement still
      // parses — a parse failure means the canary itself is stale and must
      // be updated consciously — and then that the GATE (its
      // IllegalArgumentException, not some incidental error) rejects it.
      spark.sessionState.sqlParser.parsePlan(sql)
      intercept[IllegalArgumentException] { validateSql(spark, sql, allowed) }
    }
  }

  test("agent SQL validation layer 2: resolved-plan structural gate (VERDICT r14 #1)") {
    import graft.io.AgentSupport.{validateAnalyzedPlan, validateSql}
    import org.apache.spark.sql.functions._
    val allowed = Seq("carrefour_data", "mp_data", "bank_payments")
    // A table-backed leaf with NO allowlisted identifier fails closed —
    // the analyzed layer can only vouch for names it can check. This is
    // the shape a path-based scan (or any future name-deferring parser
    // node, post-resolution) presents.
    val pathScan = spark.read.parquet(s"${TestSpark.sf0001}/region.parquet")
      .queryExecution.analyzed
    intercept[IllegalArgumentException](
      validateAnalyzedPlan(pathScan, "<path scan>", allowed))
    // A node OUTSIDE the structural allowlist rejects even when every leaf
    // is harmless — the future-parser-node simulation: CollectMetrics is a
    // legitimate analyzed node that no generated SELECT can produce, i.e.
    // exactly the "node class the enumeration has never heard of" case.
    val unlisted = spark.range(3).observe("m", count(lit(1)).as("n"))
      .queryExecution.analyzed
    intercept[IllegalArgumentException](
      validateAnalyzedPlan(unlisted, "<observe>", allowed))
    // End-to-end through validateSql: a REGISTERED but non-allowlisted
    // temp view rejects (both layers agree), and an allowlisted one whose
    // SQL uses the full read-only SELECT surface passes the resolved walk
    // (CTE + join + window + aggregate + subquery all analyze to
    // allowlisted nodes).
    spark.range(5).select(col("id").as("real_amount")).createOrReplaceTempView("l2_secrets")
    try {
      intercept[IllegalArgumentException](
        validateSql(spark, "SELECT * FROM l2_secrets", allowed))
      spark.range(5)
        .select(col("id").as("real_amount"), (col("id") % 2).as("k"))
        .createOrReplaceTempView("mp_data")
      try {
        validateSql(spark,
          """WITH t AS (SELECT k, sum(real_amount) AS s FROM mp_data GROUP BY k)
            |SELECT a.k, a.s, row_number() OVER (ORDER BY a.s) AS rn
            |FROM t a JOIN t b ON a.k = b.k
            |WHERE a.s > (SELECT min(s) - 1 FROM t)
            |ORDER BY rn LIMIT 10""".stripMargin, allowed)
        // resolved-expression denylist: the analyzed walk independently
        // rejects reflection/identity expressions (defense in depth with
        // layer 1's name-based denylist)
        val reflectPlan = spark.sessionState.executePlan(
          spark.sessionState.sqlParser.parsePlan(
            "SELECT reflect('java.lang.System','lineSeparator') FROM mp_data")).analyzed
        intercept[IllegalArgumentException](
          validateAnalyzedPlan(reflectPlan, "<reflect>", allowed))
      } finally spark.catalog.dropTempView("mp_data")
    } finally spark.catalog.dropTempView("l2_secrets")
  }

  test("agent SQL validation layer 2: the full read-only SELECT grammar ACCEPTS (no false closure)") {
    import graft.io.AgentSupport.validateSql
    import org.apache.spark.sql.functions._
    // An allowlist's failure mode is the opposite of a denylist's: a
    // legitimate query shape missing from allowedAnalyzedNodes rejects
    // VALID agent SQL (found live during r15: `Except All`/`Intersect
    // All` carry suffixed nodeNames). One statement per analyzed node
    // family of the SELECT surface; the whole battery must pass with the
    // table registered, i.e. through BOTH gate layers with real analysis.
    val spark2 = spark
    import spark2.implicits._
    Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("real_amount", "categ", "p_total")
      .createOrReplaceTempView("mp_data")
    val allowed = Seq("carrefour_data", "mp_data", "bank_payments")
    val battery = Seq(
      "SELECT DISTINCT categ FROM mp_data",                                       // Deduplicate
      "SELECT categ, sum(p_total) FROM mp_data GROUP BY CUBE(categ)",             // Expand
      "SELECT * FROM mp_data TABLESAMPLE (50 PERCENT)",                           // Sample
      "SELECT * FROM mp_data ORDER BY real_amount LIMIT 3 OFFSET 1",              // Sort/Limit/Offset
      "SELECT * FROM mp_data DISTRIBUTE BY categ",                                // RepartitionByExpression
      "SELECT avg(p_total) OVER w FROM mp_data WINDOW w AS (PARTITION BY categ)", // Window
      "SELECT * FROM range(5)",                                                   // Range
      "SELECT explode(array(1,2))",                                               // Generate/OneRowRelation
      "SELECT * FROM VALUES (1,'x'), (2,'y') AS t(a,b)",                          // LocalRelation
      "SELECT categ, p FROM mp_data LATERAL VIEW explode(array(1,2)) t AS p",     // Generate
      "SELECT * FROM mp_data a JOIN LATERAL (SELECT max(p_total) m FROM mp_data b WHERE b.categ = a.categ) s ON true", // LateralJoin
      "SELECT * FROM mp_data PIVOT (sum(p_total) FOR categ IN ('a', 'b'))",       // Pivot→Aggregate
      "SELECT * FROM (SELECT categ, p_total, real_amount FROM mp_data) UNPIVOT (v FOR k IN (p_total, real_amount))", // Unpivot/Expand
      "SELECT categ FROM mp_data UNION SELECT categ FROM mp_data",                // Union+Deduplicate
      "SELECT categ FROM mp_data INTERSECT ALL SELECT categ FROM mp_data",        // Intersect All
      "SELECT categ FROM mp_data EXCEPT ALL SELECT categ FROM mp_data",           // Except All (the r15 find)
      "SELECT /*+ BROADCAST(a) */ a.categ FROM mp_data a JOIN mp_data b ON a.categ = b.categ", // ResolvedHint
      "SELECT categ, count(*) FILTER (WHERE p_total > 2) FROM mp_data GROUP BY categ HAVING count(*) > 0",
      "SELECT * FROM mp_data WHERE EXISTS (SELECT 1 FROM mp_data m2 WHERE m2.categ = mp_data.categ)", // subquery expr
      "WITH t AS (SELECT categ FROM mp_data) SELECT t1.categ FROM t t1 JOIN t t2 ON t1.categ = t2.categ", // WithCTE/CTERelationRef
      "SELECT * FROM mp_data a ANTI JOIN mp_data b ON a.categ = 'zzz' AND a.categ = b.categ",
      "SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY p_total) FROM mp_data",
      "SELECT * EXCEPT (categ) FROM mp_data",
      "(SELECT categ FROM mp_data) ORDER BY categ")
    try battery.foreach { sql =>
      try validateSql(spark, sql, allowed)
      catch { case e: Exception =>
        fail(s"layer 2 falsely rejected legitimate SQL: $sql\n  -> ${e.getMessage}")
      }
    } finally spark.catalog.dropTempView("mp_data")
  }

  test("agent SQL gate layer 2: skips ONLY on unresolved names, fails closed on other analysis errors (r15 advice)") {
    import graft.io.AgentSupport.validateSql
    import org.apache.spark.sql.functions._
    val allowed = Seq("carrefour_data", "mp_data", "bank_payments")
    // table not registered in the validating catalog: TABLE_OR_VIEW_NOT_FOUND
    // is a legitimate layer-2 skip (logged) — the executing session's own
    // analyzer refuses that SQL anyway; validateSql must NOT throw
    spark.catalog.dropTempView("mp_data"): Unit // defensive vs suite ordering
    validateSql(spark, "SELECT real_amount FROM mp_data LIMIT 1", allowed)
    spark.range(5)
      .select(col("id").as("real_amount"), (col("id") % 2).cast("string").as("categ"))
      .createOrReplaceTempView("mp_data")
    try {
      // unresolved COLUMN with the table registered: still a name skip
      validateSql(spark, "SELECT no_such_column FROM mp_data", allowed)
      // a NON-name analysis failure (here MISSING_AGGREGATION) must
      // PROPAGATE: the old blanket catch silently dropped the entire
      // structural layer for every AnalysisException class
      intercept[org.apache.spark.sql.AnalysisException](
        validateSql(spark,
          "SELECT categ, real_amount FROM mp_data GROUP BY categ", allowed))
    } finally spark.catalog.dropTempView("mp_data")
  }

  test("agent SQL validation: CTE exemption is scope-aware (no cross-scope laundering)") {
    import graft.io.AgentSupport.validateSql
    val allowed = Seq("carrefour_data", "mp_data", "bank_payments")
    // a CTE inside a SUBQUERY must not exempt a same-named relation in the
    // ENCLOSING scope — Spark resolves the outer name to the real table
    intercept[IllegalArgumentException](
      validateSql(spark,
        "SELECT * FROM secrets WHERE id IN (WITH secrets AS (SELECT 1 AS id) SELECT id FROM secrets)",
        allowed))
    // …nor the other direction: an outer CTE name does not shield a LATER
    // same-named CTE's body from referencing before definition
    intercept[IllegalArgumentException](
      validateSql(spark,
        "WITH a AS (SELECT * FROM b), b AS (SELECT 1 AS x) SELECT * FROM a", allowed))
    // a CTE body referencing its OWN name (no RECURSIVE) resolves to the
    // real table — must be checked, not exempted
    intercept[IllegalArgumentException](
      validateSql(spark,
        "WITH secrets AS (SELECT * FROM secrets) SELECT * FROM secrets", allowed))
    // legitimate scoping still passes: earlier CTE visible to later body
    // and to the main query, subqueries inherit the enclosing CTE scope
    validateSql(spark,
      "WITH a AS (SELECT 1 AS x FROM mp_data), b AS (SELECT x FROM a) SELECT * FROM b",
      allowed)
    validateSql(spark,
      "WITH t AS (SELECT 1 AS x) SELECT * FROM carrefour_data WHERE p_total > (SELECT max(x) FROM t)",
      allowed)
    // an inner subquery's own WITH works within its scope
    validateSql(spark,
      "SELECT * FROM mp_data WHERE real_amount IN (WITH t AS (SELECT 1 AS v) SELECT v FROM t)",
      allowed)
  }

  test("agent SQL validation: expression-level escapes and qualifiers") {
    import graft.io.AgentSupport.validateSql
    val allowed = Seq("carrefour_data", "mp_data", "bank_payments")
    // reflect/java_method run arbitrary driver-side JVM reflection through
    // a plain scalar function — no relation, no Command; must reject in
    // every clause position
    intercept[IllegalArgumentException](
      validateSql(spark,
        "SELECT reflect('java.lang.System','getenv','PATH') FROM mp_data", allowed))
    intercept[IllegalArgumentException](
      validateSql(spark,
        "SELECT * FROM mp_data WHERE java_method('java.lang.System','getenv','PATH') IS NOT NULL",
        allowed))
    intercept[IllegalArgumentException](
      validateSql(spark,
        "WITH t AS (SELECT reflect('java.lang.Thread','currentThread') AS r FROM bank_payments) SELECT * FROM t",
        allowed))
    intercept[IllegalArgumentException](
      validateSql(spark,
        "SELECT * FROM mp_data WHERE real_amount > (SELECT length(reflect('java.lang.System','lineSeparator')))",
        allowed))
    // identity/environment leaks, incl. the TRY_ variant of reflection
    intercept[IllegalArgumentException](
      validateSql(spark, "SELECT current_user() FROM carrefour_data", allowed))
    intercept[IllegalArgumentException](
      validateSql(spark,
        "SELECT try_reflect('java.lang.System','getenv','PATH') FROM mp_data", allowed))
    // IDENTIFIER() defers names to analysis time — the parse-time walk
    // cannot vouch for what it resolves to, so both the relation and the
    // function/column forms fail closed
    intercept[IllegalArgumentException](
      validateSql(spark, "SELECT * FROM IDENTIFIER('secrets')", allowed))
    intercept[IllegalArgumentException](
      validateSql(spark,
        "SELECT IDENTIFIER('reflect')('java.lang.System','getenv','PATH') FROM mp_data",
        allowed))
    // WITH RECURSIVE would let a body legally self-reference; fail closed
    intercept[IllegalArgumentException](
      validateSql(spark,
        "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL SELECT n+1 FROM r WHERE n < 3) SELECT * FROM r",
        allowed))
    // qualified references to ALLOWED tables pass; foreign qualifiers fail
    validateSql(spark, "SELECT count(*) FROM default.mp_data", allowed)
    validateSql(spark, "SELECT count(*) FROM spark_catalog.default.mp_data", allowed)
    intercept[IllegalArgumentException](
      validateSql(spark, "SELECT count(*) FROM other_schema.mp_data", allowed))
    intercept[IllegalArgumentException](
      validateSql(spark, "SELECT count(*) FROM some_catalog.default.mp_data", allowed))
    // ordinary function use is untouched
    validateSql(spark,
      "SELECT upper(categ), round(avg(p_total), 2) FROM carrefour_data GROUP BY 1", allowed)
  }

  test("agent router: golden-rule routing in prompt rule order (ai_agent:59-66)") {
    import graft.io.AgentSupport.routeTable
    // one representative per rule, in the /start examples' vocabulary
    assert(routeTable("¿Cuánto gasté en el BANCO este mes?") == "bank_payments")
    assert(routeTable("resumen santander de la semana") == "bank_payments")
    assert(routeTable("transacciones por Mercado Pago de ayer") == "mp_data")
    assert(routeTable("gastos del supermercado por categoría") == "carrefour_data")
    assert(routeTable("ticket de carrefour más caro") == "carrefour_data")
    // rule ORDER: banco (rule 3) outranks carrefour (rule 5) when both match
    assert(routeTable("pagué el supermercado con el banco") == "bank_payments")
    // 'supermercado' must NOT trip the 'mercado pago' substring rule
    assert(routeTable("supermercado pagos de la semana") == "carrefour_data")
    // unroutable questions fail loudly instead of guessing a table
    intercept[IllegalArgumentException](routeTable("¿qué hora es?"))
  }

  test("observe() collects load metrics in-flight, no second scan (K7 observability)") {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    // the production shape of the compensation-flow metrics: row count +
    // violation count ride the write job itself instead of a separate
    // validation scan over the same data
    val obs = Observation("load_metrics")
    val o = graft.schemas.Tables.orders(spark, TestSpark.sf0001)
      .observe(obs, count(lit(1)).as("rows"),
        sum(when(col("o_totalprice") <= 0, 1).otherwise(0)).as("bad_price"))
    val out = TestSpark.tempDir("graft_obs").toString + "/t"
    o.write.mode("overwrite").parquet(out)
    val m = obs.get
    assert(m("rows") == spark.read.parquet(out).count())
    assert(m("bad_price") == 0L)
  }

  test("deleteWhere rewrites only affected partitions; untouched files stay byte-identical") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_del").toString + "/t"
    val src = (0L until 300L).map(i => (i, i % 3)).toDF("id", "band")
    graft.io.Warehouse.appendPartitioned(src, dir, Seq("band"))
    def files(band: Long) =
      Option(new java.io.File(s"$dir/band=$band").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val before0 = files(0); val before2 = files(2)
    assert(before0.nonEmpty && before2.nonEmpty)
    // delete the even ids of band 1 only
    val (nParts, nRewritten) = graft.io.Warehouse.deleteWhere(
      spark, dir, "band", col("band") === 1 && col("id") % 2 === 0)
    assert(nParts == 3 && nRewritten == 1)
    // survivors: band 1 keeps only odd ids; bands 0 and 2 intact
    val back = spark.read.parquet(dir).select($"id", $"band")
      .as[(Long, Long)].collect().toSet
    val expect = (0L until 300L).map(i => (i, i % 3))
      .filterNot { case (i, b) => b == 1 && i % 2 == 0 }.toSet
    assert(back == expect)
    // untouched partitions: same file names, same mtimes — never rewritten
    assert(files(0) == before0 && files(2) == before2)
    // a predicate that empties a partition drops its directory entirely
    val (_, r2) = graft.io.Warehouse.deleteWhere(spark, dir, "band", col("band") === 2)
    assert(r2 == 1 && !new java.io.File(s"$dir/band=2").exists())
    assert(spark.read.parquet(dir).select($"band").distinct().count() == 2)
    // and the other partitions again kept their files
    assert(files(0) == before0)
  }

  test("deleteWhere keeps NULL-predicate rows — an erasure must not over-delete") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_deln").toString + "/t"
    val src = Seq((Some(2L), 0L), (Some(3L), 0L), (None, 0L), (Some(4L), 1L))
      .toDF("id", "band")
    graft.io.Warehouse.appendPartitioned(src, dir, Seq("band"))
    // pred is NULL for the (None, 0) row: it did not match the request
    val (_, n) = graft.io.Warehouse.deleteWhere(
      spark, dir, "band", col("id") % 2 === 0)
    assert(n == 2) // both bands held a matching row
    val back = spark.read.parquet(dir).select($"id", $"band")
      .as[(Option[Long], Long)].collect().toSet
    assert(back == Set((Some(3L), 0L), (None, 0L)))
  }

  test("deleteWhere on a NULL partition value rewrites it instead of dropping it") {
    // regression: the prune filter's plain isin(affected) evaluates to
    // NULL for null-partition rows, which excluded the null partition's
    // SURVIVORS from the rewrite and then dropped the whole directory —
    // a targeted delete of 1 row silently erased all 10
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_delnp").toString + "/t"
    val src = Seq(
      (1L, Some("ar")), (2L, Some("ar")),
      (10L, None), (11L, None), (12L, None), (13L, None)
    ).toDF("id", "country")
    graft.io.Warehouse.appendPartitioned(src, dir, Seq("country"))
    // request matches ONE row of the null partition and one of 'ar'
    val (nParts, nRewritten) = graft.io.Warehouse.deleteWhere(
      spark, dir, "country", col("id") % 10 === 2)
    assert(nParts == 2 && nRewritten == 2)
    val back = spark.read.parquet(dir).select($"id", $"country")
      .as[(Long, Option[String])].collect().toSet
    assert(back == Set((1L, Some("ar")), (10L, None), (11L, None), (13L, None)),
      "null-partition survivors must be rewritten, not dropped with the directory")
    // and a predicate that empties the null partition drops ONLY it
    val (_, r2) = graft.io.Warehouse.deleteWhere(
      spark, dir, "country", col("country").isNull)
    assert(r2 == 1)
    assert(spark.read.parquet(dir).select($"id").as[Long].collect().toSet == Set(1L))
  }

  test("deleteWhere survives an ALL-NULL-partition table and an empty table (r15)") {
    // regression, found by WarehouseNullProps (the r14 "full-suite flake"
    // was THIS, input-dependent): a table whose every row sits in the NULL
    // partition reads back its partition column as VOID (discovery has
    // only __HIVE_DEFAULT_PARTITION__ to infer from), and the survivor
    // rewrite then died with INVALID_PARTITION_COLUMN_DATA_TYPE — the
    // write paths now cast a VOID partition column to STRING. And an
    // EMPTY table (only _SUCCESS) made deleteWhere throw
    // UNABLE_TO_INFER_SCHEMA instead of reporting a no-op (0, 0).
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_delvoid").toString + "/t"
    val src = Seq((Option.empty[String], 3L, 0L), (Option.empty[String], 9L, 1L))
      .toDF("p", "x", "id")
    graft.io.Warehouse.appendPartitioned(src, dir, Seq("p"))
    // partial delete of the NULL partition: survivor rewritten
    val (nParts, nAff) = graft.io.Warehouse.deleteWhere(spark, dir, "p", col("x") > 5)
    assert(nParts == 1 && nAff == 1)
    val back = spark.read.parquet(dir).select($"id").as[Long].collect().toSet
    assert(back == Set(0L), "the NULL partition's survivor must be rewritten")
    // empty table: no-op, not an exception
    val empty = TestSpark.tempDir("graft_delempty").toString + "/t"
    graft.io.Warehouse.appendPartitioned(src.limit(0), empty, Seq("p"))
    assert(graft.io.Warehouse.deleteWhere(spark, empty, "p", col("x") > 5) == ((0L, 0L)))
    // crash leftovers under hidden dirs (_temporary) are NOT data: the
    // reader ignores them, so the guard must too (review find r15)
    val tmpPart = new java.io.File(empty, "_temporary/0")
    assert(tmpPart.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(tmpPart, "part-00000.parquet").toPath, "not parquet")
    assert(graft.io.Warehouse.deleteWhere(spark, empty, "p", col("x") > 5) == ((0L, 0L)))
    // a NONEXISTENT table dir still throws — a typo'd path must not let a
    // right-to-be-forgotten call report success while the real rows live on
    intercept[Exception](
      graft.io.Warehouse.deleteWhere(spark, empty + "_nope", "p", col("x") > 5))
  }

  test("deleteWhere drops fully-emptied partitions whose VALUES need path escaping") {
    // the drop branch resolves partition values to directory names via
    // Spark's own escaping (getPartitionPathString); '/', ':', '=' and
    // spaces are exactly the characters where a naive s\"$col=$v\" path
    // would delete the wrong directory — or none, leaving the 'deleted'
    // rows readable without tripping the post-condition (which re-scans
    // only REWRITTEN partitions)
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_delesc").toString + "/t"
    val src = Seq(
      (1L, "a/b"), (2L, "a/b"),
      (3L, "x:y"), (4L, "k=v"),
      (5L, "sp ace"), (7L, "sp ace"), (6L, "plain")
    ).toDF("id", "key")
    graft.io.Warehouse.appendPartitioned(src, dir, Seq("key"))
    // empty THREE escaped partitions entirely; 'sp ace' keeps a survivor
    // (the REWRITE branch on an escaped value); 'plain' untouched
    val (nParts, nAffected) = graft.io.Warehouse.deleteWhere(
      spark, dir, "key", col("id") <= 5)
    assert(nParts == 5 && nAffected == 4)
    val back = spark.read.parquet(dir).select($"id", $"key")
      .as[(Long, String)].collect().toSet
    assert(back == Set((6L, "plain"), (7L, "sp ace")),
      s"escaped partitions must drop/rewrite correctly; got $back")
    // the emptied directories are gone from disk, not just filtered out:
    // exactly two partition dirs remain
    val leftDirs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSet
    assert(leftDirs.size == 2,
      s"only the two surviving partition directories may remain; got $leftDirs")
  }
}
