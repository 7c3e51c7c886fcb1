package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schemas.{Schemas, Tables}
import graft.ops.Ops
import graft.functions.Exprs

/** Scalar-function query pack (SURVEY.md §2.3, §2.8): one declared query
  * per F-operator, exercising the Exprs combinators over the testdata with
  * a DuckDB oracle each. All are narrow transforms — single parquet scan,
  * projection, no shuffle beyond the final presentation ORDER BY — so they
  * scale linearly with input and stay inside whole-stage codegen. */
object PackFunctions {
  private val D = DecimalType(18, 2)
  private def dec(c: Column): Column = c.cast(D)

  val queries: Seq[QDef] = Seq(

    // F2 — literal equality filter (extract_data_mp:105-106).
    QDef("f2_filter_eq_literal",
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d).filter($"event_type" === lit("purchase"))
        .select($"event_id", $"user_id", $"value").orderBy($"event_id")
    },

    // F1 — suffix + size>0 listing filter over a synthetic file listing
    // (transform_data_mp:44-45): metadata-only predicate.
    QDef("f1_filter_suffix_size",
      """SELECT path, size FROM (
        |  SELECT 'Report_' || CAST(event_id AS VARCHAR) ||
        |         CASE WHEN event_id % 2 = 0 THEN '.csv' ELSE '.json' END AS path,
        |         CAST(floor(value) AS BIGINT) AS size
        |  FROM events)
        |WHERE path LIKE '%.csv' AND size > 0 ORDER BY path""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(concat(lit("Report_"), $"event_id".cast("string"),
          when($"event_id" % 2 === 0, ".csv").otherwise(".json")).as("path"),
          $"value".cast("long").as("size"))
        .filter($"path".endsWith(".csv") && $"size" > 0)
        .orderBy($"path")
    },

    // F5 + §2.7 — Spanish→English dialect rename + strict unionByName
    // (load_data:137-151): splitting customer in two, renaming one half to
    // "Spanish" headers and uniting back must reproduce the original.
    QDef("f5_project_rename_dialect",
      "SELECT * FROM customer ORDER BY c_custkey") { (s, d) =>
      val c = Tables.customer(s, d)
      val en = c.filter($"c_custkey" % 2 === 0)
      val esNames = Map("c_custkey" -> "ID DE CLIENTE", "c_name" -> "NOMBRE",
        "c_nationkey" -> "ID DE NACIÓN", "c_acctbal" -> "SALDO", "c_mktsegment" -> "SEGMENTO")
      val es = esNames.foldLeft(c.filter($"c_custkey" % 2 === 1)) {
        case (df, (from, to)) => df.withColumnRenamed(from, to)
      }
      Ops.dialectUnion(en, es, esNames.map(_.swap)).orderBy($"c_custkey")
    },

    // F6 — ticket-level constants broadcast to item rows
    // (transform_data_pdf:120-121): dimension-style broadcast join keyed on
    // the ticket id; the item side never shuffles.
    QDef("f6_project_const_broadcast",
      """SELECT l.l_orderkey, l.l_linenumber, o.o_orderdate, o.o_totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select($"o_orderkey", $"o_orderdate", $"o_totalprice"),
          $"l_orderkey" === $"o_orderkey")
        .select($"l_orderkey", $"l_linenumber", $"o_orderdate", $"o_totalprice")
        .orderBy($"l_orderkey", $"l_linenumber")
    },

    // F7 + F32 — derived arithmetic: meli = round(bruto * 0.3, 2)
    // (transform_data_pdf:123-126). Exact decimal multiply, HALF_UP round.
    QDef("f7_project_derived_arithmetic",
      """SELECT o_orderkey, o_totalprice AS total_bruto,
        |  CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 0.3, 2) AS DOUBLE) AS total_meli
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select($"o_orderkey", $"o_totalprice".as("total_bruto"),
          round(dec($"o_totalprice") * lit(BigDecimal("0.3")), 2)
            .cast("double").as("total_meli"))
        .orderBy($"o_orderkey")
    },

    // F8 + F33 — NULL canonicalization (format_value, load_data:6-13):
    // sentinel→NULL and NULL→default in one projection.
    QDef("f8_project_null_canonical",
      """SELECT event_id,
        |  nullif(event_type, 'error') AS divisa,
        |  coalesce(nullif(event_type, 'error'), 'unknown') AS divisa_filled,
        |  CASE WHEN nullif(event_type, 'error') IS NULL THEN -1.0 ELSE value END AS val_guarded
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d).select($"event_id",
          nullif($"event_type", lit("error")).as("divisa"),
          coalesce(nullif($"event_type", lit("error")), lit("unknown")).as("divisa_filled"),
          when(isnull(nullif($"event_type", lit("error"))), lit(-1.0))
            .otherwise($"value").as("val_guarded"))
        .orderBy($"event_id")
    },

    // F10 — SPLIT_PART (extract_data_pdf:60-64).
    QDef("f10_split_part",
      """SELECT o_orderkey, split_part(s,'/',1) AS dd, split_part(s,'/',2) AS mm,
        |       split_part(s,'/',3) AS yyyy
        |FROM (SELECT o_orderkey, strftime(o_orderdate,'%d/%m/%Y') AS s FROM orders)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select($"o_orderkey", date_format($"o_orderdate", "dd/MM/yyyy").as("s"))
        .select($"o_orderkey", Exprs.splitPart($"s", "/", 1).as("dd"),
          Exprs.splitPart($"s", "/", 2).as("mm"), Exprs.splitPart($"s", "/", 3).as("yyyy"))
        .orderBy($"o_orderkey")
    },

    // F11 — LENGTH (extract_data_pdf:60).
    QDef("f11_length",
      "SELECT doc_id, length(text) AS len, n_chars FROM documents ORDER BY doc_id") { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id", length($"text").cast("long").as("len"), $"n_chars")
        .orderBy($"doc_id")
    },

    // F12 — string concat `'20' || yy`, `dd || '/' || mm || '/' || yyyy`
    // (extract_data_pdf:61-64).
    QDef("f12_concat",
      """SELECT o_orderkey,
        |  split_part(s,'/',1) || '/' || split_part(s,'/',2) || '/20' || split_part(s,'/',3) AS fixed
        |FROM (SELECT o_orderkey, strftime(o_orderdate,'%d/%m/%y') AS s FROM orders)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select($"o_orderkey", date_format($"o_orderdate", "dd/MM/yy").as("s"))
        .select($"o_orderkey", concat_ws("/", Exprs.splitPart($"s", "/", 1),
          Exprs.splitPart($"s", "/", 2),
          concat(lit("20"), Exprs.splitPart($"s", "/", 3))).as("fixed"))
        .orderBy($"o_orderkey")
    },

    // F13 — CASE WHEN bucketing (extract_data_pdf:58-66 shape).
    QDef("f13_case_when",
      """SELECT event_id,
        |  CASE WHEN value >= 150 THEN 'high' WHEN value >= 50 THEN 'mid' ELSE 'low' END AS bucket
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d).select($"event_id",
          when($"value" >= 150, "high").when($"value" >= 50, "mid")
            .otherwise("low").as("bucket"))
        .orderBy($"event_id")
    },

    // F14 — TO_DATE dayfirst (extract_data_pdf:57-68; load_data:203).
    QDef("f14_to_date_fmt",
      """SELECT o_orderkey, CAST(strptime(s, '%d/%m/%Y') AS DATE) AS parsed
        |FROM (SELECT o_orderkey, strftime(o_orderdate,'%d/%m/%Y') AS s FROM orders)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select($"o_orderkey", date_format($"o_orderdate", "dd/MM/yyyy").as("s"))
        .select($"o_orderkey", Exprs.toDateDmy($"s").as("parsed"))
        .orderBy($"o_orderkey")
    },

    // F15 — date_add/date_sub (+1 day watermark bump, −7 days fallback,
    // extract_data_pdf:93,100,105).
    QDef("f15_date_add",
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) + 1 AS plus1,
        |       CAST(o_orderdate AS DATE) - 7 AS minus7
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select($"o_orderkey", date_add($"o_orderdate".cast("date"), 1).as("plus1"),
          date_sub($"o_orderdate".cast("date"), 7).as("minus7"))
        .orderBy($"o_orderkey")
    },

    // F16 — strftime patterns (extract_data_pdf:106-108,121).
    QDef("f16_date_format",
      """SELECT o_orderkey, strftime(o_orderdate,'%Y-%m') AS ym,
        |       strftime(o_orderdate,'%Y/%m/%d') AS ymd
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select($"o_orderkey", date_format($"o_orderdate", "yyyy-MM").as("ym"),
          date_format($"o_orderdate", "yyyy/MM/dd").as("ymd"))
        .orderBy($"o_orderkey")
    },

    // F17 — epoch millis ↔ timestamp (extract_data_pdf:121).
    QDef("f17_epoch_millis_ts",
      """SELECT event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
        |       make_timestamp(epoch_ms(CAST(ts AS TIMESTAMP)) * 1000) AS back
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select($"event_id", unix_millis($"ts").as("ms"),
          Exprs.epochMillisTs(unix_millis($"ts")).as("back"))
        .orderBy($"event_id")
    },

    // F18 — the redshift→BQ type-conversion matrix as declarative schema
    // conformance (redshift_to_bq:38-131).
    QDef("f18_cast_matrix",
      """SELECT CAST(event_id AS BIGINT) AS event_id, CAST(user_id AS INTEGER) AS user_id,
        |  CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS value,
        |  CAST(ts AS DATE) AS ts_date,
        |  CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val target = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", IntegerType),
        StructField("value", DecimalType(12, 2)), StructField("ts_date", DateType),
        StructField("k", LongType)))
      val pre = Tables.events(s, d).select($"event_id", $"user_id", $"value",
        $"ts".as("ts_date"), Exprs.jsonGet($"props", "$.k").as("k"))
      Exprs.conformTo(pre, target)
        .withColumn("value", $"value".cast("double"))
        .orderBy($"event_id")
    },

    // F19 — the money-string grammar round-trip
    // (transform_data_bank_pay:9-20).
    QDef("f19_parse_money",
      """SELECT event_id, 'AR$' || replace(CAST(value AS VARCHAR),'.',',') AS money,
        |  CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS parsed
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select($"event_id",
          concat(lit("AR$"), regexp_replace($"value".cast("string"), "\\.", ",")).as("money"))
        .withColumn("parsed", Exprs.parseMoney($"money").cast("double"))
        .orderBy($"event_id")
    },

    // F20 — currency classification from the raw money string
    // (transform_data_bank_pay:35).
    QDef("f20_currency_code",
      """SELECT event_id, money, CASE WHEN money LIKE '%U$S%' THEN 'USD'
        |  WHEN money LIKE '%$%' THEN 'ARS' ELSE NULL END AS divisa
        |FROM (SELECT event_id, CASE WHEN event_type = 'purchase' THEN 'U$S ' || CAST(value AS VARCHAR)
        |  WHEN event_type = 'click' THEN '$' || CAST(value AS VARCHAR)
        |  ELSE CAST(value AS VARCHAR) END AS money FROM events)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select($"event_id",
          when($"event_type" === "purchase", concat(lit("U$S "), $"value".cast("string")))
            .when($"event_type" === "click", concat(lit("$"), $"value".cast("string")))
            .otherwise($"value".cast("string")).as("money"))
        .withColumn("divisa", Exprs.currencyCode($"money"))
        .orderBy($"event_id")
    },

    // F21 — `int(cuotas or 1)` falsy default (transform_data_bank_pay:64).
    QDef("f21_coalesce_default",
      """SELECT event_id, coalesce(nullif(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER), 0), 1) AS cuotas
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select($"event_id", Exprs.coalesceDefault(
          nullif(Exprs.jsonGet($"props", "$.k").cast("int"), lit(0)), 1).as("cuotas"))
        .orderBy($"event_id")
    },

    // F22 — HH:mm → HH:mm:ss normalization (load_data:204-206).
    QDef("f22_time_normalize",
      """SELECT event_id, strftime(ts,'%H:%M') || ':00' AS hora
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select($"event_id", Exprs.timeNormalize(date_format($"ts", "HH:mm")).as("hora"))
        .orderBy($"event_id")
    },

    // F23 — md5 surrogate id (transform_data_bank_pay:53-54).
    QDef("f23_md5_surrogate",
      """SELECT event_id, md5(CAST(event_id AS VARCHAR) || '_' || event_type || '_' || CAST(user_id AS VARCHAR)) AS id
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select($"event_id", Exprs.md5Surrogate($"event_id".cast("string"),
          $"event_type", $"user_id".cast("string")).as("id"))
        .orderBy($"event_id")
    },

    // F24 — sha-256 content hash (transform_data_pdf:9-10).
    QDef("f24_sha256_content",
      "SELECT doc_id, sha256(text) AS sha FROM documents ORDER BY doc_id") { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id", Exprs.sha256Content($"text").as("sha"))
        .orderBy($"doc_id")
    },

    // F25 — urlsafe-base64 decode round-trip (extract_data_pdf:129).
    QDef("f25_b64url_decode",
      "SELECT doc_id, text AS decoded FROM documents ORDER BY doc_id") { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id",
          translate(base64(encode($"text", "UTF-8")), "+/", "-_").as("enc"))
        .select($"doc_id", Exprs.b64UrlDecode($"enc").as("decoded"))
        .orderBy($"doc_id")
    },

    // F26 — HTML strip + token count (extract_data_bank_pay:183;
    // transform_data_bank_pay:30-31).
    QDef("f26_html_strip",
      """SELECT doc_id, text AS stripped,
        |  CAST(length(string_split(text,' ')) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id", concat(lit("<div><p>"), $"text", lit("</p></div>")).as("html"))
        .select($"doc_id", Exprs.htmlStrip($"html").as("stripped"),
          size(Exprs.htmlTokens($"html")).cast("long").as("n_tokens"))
        .orderBy($"doc_id")
    },

    // F27 — href extraction by URL prefix (extract_data_pdf:130-131).
    QDef("f27_html_links",
      """SELECT doc_id, 'https://shop.example/' || CAST(doc_id AS VARCHAR) AS link
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id", concat(lit("<a href=\"https://shop.example/"),
          $"doc_id".cast("string"),
          lit("\">x</a> <a href=\"https://other.example/0\">y</a>")).as("html"))
        .select($"doc_id",
          element_at(Exprs.htmlLinks($"html", "https://shop\\.example"), 1).as("link"))
        .orderBy($"doc_id")
    },

    // F28 — token after a label token (transform_data_bank_pay:22-27).
    QDef("f28_label_next",
      """SELECT doc_id, CASE WHEN list_position(l,'data') > 0 AND list_position(l,'data') < length(l)
        |  THEN l[list_position(l,'data') + 1] ELSE NULL END AS nxt
        |FROM (SELECT doc_id, string_split(text,' ') AS l FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id", Exprs.labelNext(split($"text", " "), "data").as("nxt"))
        .orderBy($"doc_id")
    },

    // F29 — first token matching a predicate (transform_data_bank_pay:61).
    QDef("f29_first_match",
      """SELECT doc_id, CASE WHEN length(f) > 0 THEN f[1] ELSE NULL END AS hit
        |FROM (SELECT doc_id, list_filter(string_split(text,' '), t -> t LIKE 's%') AS f
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id",
          Exprs.firstMatching(split($"text", " "), _.startsWith("s")).as("hit"))
        .orderBy($"doc_id")
    },

    // F30 — Report_<date>_<id>.<ext> filename grammar (extract_data_mp:85-95).
    QDef("f30_regex_filename",
      """SELECT path,
        |  regexp_extract(path, '([^/]+)_(\d{4}-\d{2}-\d{2})_(\d+)\.(csv|xlsx)$', 1) AS prefix,
        |  CAST(regexp_extract(path, '([^/]+)_(\d{4}-\d{2}-\d{2})_(\d+)\.(csv|xlsx)$', 2) AS DATE) AS report_date,
        |  CAST(regexp_extract(path, '([^/]+)_(\d{4}-\d{2}-\d{2})_(\d+)\.(csv|xlsx)$', 3) AS BIGINT) AS report_id
        |FROM (SELECT 'mp/Report_' || strftime(ts,'%Y-%m-%d') || '_' || CAST(event_id AS VARCHAR) || '.csv' AS path FROM events)
        |ORDER BY report_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(concat(lit("mp/Report_"), date_format($"ts", "yyyy-MM-dd"), lit("_"),
          $"event_id".cast("string"), lit(".csv")).as("path"))
        .select($"path", Exprs.regexFilename($"path", 1).as("prefix"),
          Exprs.regexFilename($"path", 2).cast("date").as("report_date"),
          Exprs.regexFilename($"path", 3).cast("long").as("report_id"))
        .orderBy($"report_id")
    },

    // F32 — round(x, 2) on exact decimals (transform_data_pdf:125-126).
    QDef("f32_round",
      """SELECT event_id,
        |  CAST(round(CAST(value AS DECIMAL(12,2)) * 0.1, 2) AS DOUBLE) AS tenth,
        |  CAST(round(CAST(value AS DECIMAL(12,2)), 0) AS DOUBLE) AS whole
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select($"event_id",
          round($"value".cast(DecimalType(12, 2)) * lit(BigDecimal("0.1")), 2)
            .cast("double").as("tenth"),
          round($"value".cast(DecimalType(12, 2)), 0).cast("double").as("whole"))
        .orderBy($"event_id")
    },

    // F34 — batch-level first value (load_data:165) per group:
    // min/arg_min instead of positional iloc[0].
    QDef("f34_first_value",
      """SELECT user_id, min(event_id) AS first_id, arg_min(event_type, event_id) AS first_type
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy($"user_id")
        .agg(min($"event_id").as("first_id"), min_by($"event_type", $"event_id").as("first_type"))
        .orderBy($"user_id")
    },

    // F35 — edit-distance fuzzy matching (the string analog of the
    // near-dup detectors): name pairs within levenshtein ≤ 4 over a
    // bounded id window. The pair join is non-equi → broadcast nested
    // loop on an intentionally bounded side, the same shape as the ANN
    // verification step; at corpus scale the candidate pairs come from
    // LSH first and this distance is the verifier.
    QDef("f35_levenshtein",
      """SELECT a.p_partkey AS k1, b.p_partkey AS k2,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        |WHERE a.p_partkey < 60 AND b.p_partkey < 60
        |  AND levenshtein(a.p_name, b.p_name) <= 4
        |ORDER BY k1, k2""".stripMargin) { (s, d) =>
      // install the value-preserving length-difference prefilter rule
      // (graft.plans.LevenshteinPrefilter) so impossible pairs skip the
      // edit-distance kernel
      if (!s.experimental.extraOptimizations.contains(graft.plans.LevenshteinPrefilter))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ graft.plans.LevenshteinPrefilter
      val p = Tables.part(s, d).filter($"p_partkey" < 60)
        .select($"p_partkey", $"p_name")
      val a = p.select($"p_partkey".as("k1"), $"p_name".as("n1"))
      val b = p.select($"p_partkey".as("k2"), $"p_name".as("n2"))
      a.join(broadcast(b), $"k1" < $"k2")
        .withColumn("dist", Exprs.editDistance($"n1", $"n2"))
        .filter($"dist" <= 4)
        .select($"k1", $"k2", $"dist")
        .orderBy($"k1", $"k2")
    },

    // F36 — calendar part extraction (year/quarter/month/ISO week/day of
    // week). Spark's dayofweek is Sunday=1, DuckDB's Sunday=0 — the
    // engine normalizes to the 0-based convention.
    QDef("f36_date_parts",
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(weekofyear(o_orderdate) AS INTEGER) AS wk,
        |  CAST(dayofweek(o_orderdate) AS INTEGER) AS dow0
        |FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d).filter($"o_orderkey" < 1000)
        .select($"o_orderkey",
          year($"o_orderdate").as("y"), quarter($"o_orderdate").as("q"),
          month($"o_orderdate").as("m"), weekofyear($"o_orderdate").as("wk"),
          (dayofweek($"o_orderdate") - 1).as("dow0"))
        .orderBy($"o_orderkey")
    },

    // F31 — in-row JSON path extraction (the webhook/mail body field
    // access, SURVEY §2.8 F31; complements the schema'd document scan in
    // s4_scan_json). get_json_object evaluates inside codegen with no
    // intermediate struct; missing paths yield NULL, matching the
    // reference's dict .get() semantics.
    QDef("f31_json_extract",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  CAST(json_extract_string(props, '$.missing') AS INTEGER) AS missing
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select($"event_id",
          get_json_object($"props", "$.k").cast("int").as("k"),
          get_json_object($"props", "$.missing").cast("int").as("missing"))
        .orderBy($"event_id")
    },

    // F31' — the Spark 4 VariantType path for the same shredding: one
    // parse_json per row into the binary variant encoding, then typed
    // variant_get extracts (the open-schema semi-structured story —
    // shredded columnar access without a fixed schema). Values must
    // agree exactly with the string-path JSON oracle.
    QDef("f41_variant_get",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select($"event_id", expr("parse_json(props)").as("v"))
        .select($"event_id",
          expr("variant_get(v, '$.k', 'bigint')").as("k"),
          expr("variant_get(v, '$.k', 'string')").as("k_str"),
          expr("variant_get(v, '$.missing', 'bigint')").as("missing"))
        .orderBy($"event_id")
    },

    // F42 — explode_outer: rows whose array is EMPTY survive as a NULL
    // element (the generator form that never silently drops parents —
    // plain explode would lose every doc with no long token). The oracle
    // emulates outer semantics by substituting [NULL] for empty lists.
    QDef("f42_explode_outer",
      """SELECT doc_id,
        |  unnest(CASE WHEN length(f) = 0 THEN [NULL] ELSE f END) AS tok
        |FROM (SELECT doc_id, list_filter(string_split(text,' '),
        |        t -> length(t) > 5) AS f
        |      FROM documents)
        |ORDER BY doc_id, tok""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id",
          explode_outer(filter(split($"text", " "), t => length(t) > 5)).as("tok"))
        .orderBy($"doc_id", $"tok")
    },

    // F44 — null-ordering and null-grouping semantics pinned down: NULL
    // forms its own group, count(*) vs count(col) diverge on it, and the
    // presentation sort places NULLs explicitly (Spark ASC defaults
    // NULLS FIRST, DuckDB NULLS LAST — the explicit clause is the only
    // portable spelling).
    QDef("f44_null_semantics",
      """SELECT nullif(event_type, 'click') AS etype,
        |  count(*) AS n_rows, count(nullif(event_type, 'click')) AS n_nonnull,
        |  CAST(sum(CASE WHEN nullif(event_type, 'click') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
        |FROM events GROUP BY nullif(event_type, 'click')
        |ORDER BY etype NULLS FIRST""".stripMargin) { (s, d) =>
      val etype = nullif($"event_type", lit("click"))
      Tables.events(s, d)
        .groupBy(etype.as("etype"))
        .agg(count(lit(1)).as("n_rows"), count(etype).as("n_nonnull"),
          sum(when(etype.isNull, 1).otherwise(0)).cast("long").as("n_null"))
        .orderBy($"etype".asc_nulls_first)
    },

    // F45 — calendar arithmetic beyond day adds: add_months saturates at
    // month ends, last_day, whole-day diffs, ISO week and quarter.
    QDef("f45_date_arith",
      """SELECT o_orderkey, o_orderdate,
        |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |  last_day(o_orderdate) AS eom,
        |  datediff('day', DATE '1995-01-01', o_orderdate) AS days_since,
        |  CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select($"o_orderkey", $"o_orderdate",
          add_months($"o_orderdate", 3).as("plus3m"),
          last_day($"o_orderdate").as("eom"),
          datediff($"o_orderdate", lit(java.sql.Date.valueOf("1995-01-01")))
            .as("days_since"),
          weekofyear($"o_orderdate").as("iso_week"),
          quarter($"o_orderdate").as("q"))
        .orderBy($"o_orderkey")
    },

    // F37 — array higher-order-function surface: size / distinct / slice /
    // min / exists over token arrays, all codegen-or-HOF expressions that
    // never leave the row (no explode, no shuffle) — the cheap form of
    // per-document token analytics at scale.
    QDef("f37_array_ops",
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |SELECT doc_id, CAST(length(l) AS INTEGER) AS n_tokens,
        |  CAST(length(list_distinct(l)) AS INTEGER) AS n_distinct,
        |  array_to_string(l[1:3], ' ') AS first3,
        |  list_sort(l)[1] AS alpha_min,
        |  CAST(length(list_filter(l, t -> length(t) > 5)) > 0 AS BOOLEAN) AS has_long
        |FROM b ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("l"))
        .select($"doc_id",
          size($"l").as("n_tokens"),
          size(array_distinct($"l")).as("n_distinct"),
          concat_ws(" ", slice($"l", 1, 3)).as("first3"),
          array_min($"l").as("alpha_min"),
          exists($"l", t => length(t) > 5).as("has_long"))
        .orderBy($"doc_id")
    },

    // F38 — nested logical types end-to-end: a struct column built from
    // aggregates plus a sorted array-of-struct (conditional collect).
    // The nested values are built natively and serialized to compact
    // JSON only at the compare boundary (both engines render identical
    // bytes; raw structs aren't orderable by the driver's row sort).
    // array_sort makes the collected order deterministic under any
    // parallelism (collect_list alone is partition-order-dependent).
    QDef("f38_nested_types",
      """SELECT user_id,
        |  to_json(struct_pack(first_id := min(event_id), n := count(*)))::VARCHAR AS summary_json,
        |  to_json(list_sort(COALESCE(list(struct_pack(eid := event_id, et := event_type))
        |            FILTER (event_type = 'purchase'), [])))::VARCHAR AS purchases_json
        |FROM events WHERE user_id < 5 GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d).filter($"user_id" < 5)
        .groupBy($"user_id")
        .agg(min($"event_id").as("first_id"), count(lit(1)).as("n"),
          array_sort(collect_list(when($"event_type" === "purchase",
            struct($"event_id".as("eid"), $"event_type".as("et"))))).as("purchases"))
        .select($"user_id",
          to_json(struct($"first_id", $"n")).as("summary_json"),
          to_json($"purchases").as("purchases_json"))
        .orderBy($"user_id")
    },

    // F39 — padding/trim/case string surface (zero-padded key rendering,
    // whitespace normalization, title case): all codegen'd built-ins.
    QDef("f39_string_pad",
      """SELECT event_id,
        |  lpad(CAST(user_id AS VARCHAR), 6, '0') AS user_key,
        |  rtrim(ltrim('  ' || event_type || ' ')) AS et_trim,
        |  reverse(event_type) AS et_rev,
        |  upper(substr(event_type, 1, 1)) || lower(substr(event_type, 2)) AS et_title
        |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d).filter($"event_id" < 100)
        .select($"event_id",
          lpad($"user_id".cast("string"), 6, "0").as("user_key"),
          rtrim(ltrim(concat(lit("  "), $"event_type", lit(" ")))).as("et_trim"),
          reverse($"event_type").as("et_rev"),
          initcap($"event_type").as("et_title"))
        .orderBy($"event_id")
    },

    // F40 — bitwise surface (masks, xor fingerprints, shifts, popcount):
    // the id-manipulation toolkit behind shard routing and bloom math.
    QDef("f40_bitwise",
      """SELECT event_id, CAST(user_id & 255 AS BIGINT) AS low8,
        |  CAST(xor(user_id, event_id) AS BIGINT) AS ux,
        |  CAST(user_id << 2 AS BIGINT) AS shl,
        |  CAST(bit_count(CAST(event_id AS BIGINT)) AS INTEGER) AS pop
        |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d).filter($"event_id" < 100)
        .select($"event_id",
          $"user_id".bitwiseAND(lit(255L)).as("low8"),
          $"user_id".bitwiseXOR($"event_id").as("ux"),
          shiftleft($"user_id", 2).as("shl"),
          bit_count($"event_id").as("pop"))
        .orderBy($"event_id")
    }
  )

  private implicit class Str(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
