package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.types.DecimalType

/** Scalar-function layer (SURVEY.md §2.8, F10-F34): every string/date/math/
  * array grammar the reference implements in Python or embedded Redshift
  * SQL, re-expressed as pure `Column` combinators over Spark built-ins so
  * the whole layer stays inside whole-stage codegen (no UDFs on the hot
  * path).
  *
  * Reference citations are `file:line` into /root/reference.
  */
object Exprs {

  /** F10 — `SPLIT_PART(s, '/', n)` (extract_data_pdf/lambda_function.py:60-64).
    * 1-based like Redshift's SPLIT_PART. */
  def splitPart(c: Column, sep: String, n: Int): Column =
    element_at(split(c, java.util.regex.Pattern.quote(sep)), n)

  /** F13+F10-F12 — two-digit-year fixup: rewrite `dd/MM/yy` → `dd/MM/20yy`,
    * pass 4-digit years through. Mirrors the CASE/SPLIT_PART/`'20'||yy` SQL
    * in extract_data_pdf/lambda_function.py:58-66 and its Python twin at
    * :89-91. */
  def fixTwoDigitYear(c: Column): Column = {
    val yy = splitPart(c, "/", 3)
    when(length(yy) === 2,
      concat_ws("/", splitPart(c, "/", 1), splitPart(c, "/", 2), concat(lit("20"), yy)))
      .otherwise(c)
  }

  /** F14 — `TO_DATE(s,'DD/MM/YYYY')` dayfirst parse
    * (extract_data_pdf:57-68; load_data:203). */
  def toDateDmy(c: Column): Column = to_date(c, "dd/MM/yyyy")

  /** F17 — epoch millis → timestamp (`internalDate/1000`,
    * extract_data_pdf:121; extract_data_bank_pay:187). */
  def epochMillisTs(ms: Column): Column = timestamp_millis(ms)

  /** F19 — money-string parser: strip currency markers
    * (`U$S`/`USD`/`US$`/`ARS$`/`AR$`/`$`), drop `.` thousands separators,
    * `,` → `.` decimal, cast DECIMAL(12,2)
    * (transform_data_bank_pay/lambda_function.py:9-20; comma fix also
    * transform_data_pdf:93,97,101). */
  def parseMoney(c: Column): Column = {
    val stripped = regexp_replace(c, "(U\\$S|US\\$|USD|ARS\\$|AR\\$|\\$|\\s)", "")
    val noThousands = regexp_replace(stripped, "\\.(?=\\d{3})", "")
    val dot = regexp_replace(noThousands, ",", ".")
    dot.cast(DecimalType(12, 2))
  }

  /** F20 — currency code from the raw money string: `U$S…`→USD, `$…`→ARS
    * (transform_data_bank_pay:35). */
  def currencyCode(c: Column): Column =
    when(c.contains("U$S") || c.contains("US$") || c.contains("USD"), lit("USD"))
      .when(c.contains("$"), lit("ARS"))
      .otherwise(lit(null).cast("string"))

  /** F21 — `int(cuotas or 1)` (transform_data_bank_pay:64). */
  def coalesceDefault(c: Column, default: Int): Column =
    coalesce(c.cast("int"), lit(default))

  /** F22 — `'19:44'` → `'19:44:00'` (load_data:204-206). */
  def timeNormalize(c: Column): Column =
    when(length(c) === 5, concat(c, lit(":00"))).otherwise(c)

  /** F23 — md5 surrogate row id over `_`-joined natural-key fields
    * (transform_data_bank_pay:53-54). */
  def md5Surrogate(cols: Column*): Column = md5(concat_ws("_", cols: _*))

  /** F24 — sha-256 content hash for binary dedup (transform_data_pdf:9-10;
    * README.md:59). */
  def sha256Content(c: Column): Column = sha2(c, 256)

  /** F25 — urlsafe-base64 → utf-8 text (extract_data_pdf:129;
    * extract_data_bank_pay:182). */
  def b64UrlDecode(c: Column): Column =
    decode(unbase64(translate(c, "-_", "+/")), "UTF-8")

  /** F26 — HTML → visible text: drop tags, collapse whitespace
    * (`get_text`, extract_data_bank_pay:183). */
  def htmlStrip(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "<[^>]*>", " "), "\\s+", " "))

  /** F26b — BeautifulSoup `stripped_strings` analog: visible-text token
    * array (transform_data_bank_pay:30-31). */
  def htmlTokens(c: Column): Column = split(htmlStrip(c), " ")

  /** F27 — `<a href>` extraction by URL prefix (extract_data_pdf:130-131). */
  def htmlLinks(c: Column, urlPrefix: String): Column =
    regexp_extract_all(c, lit("href=\"(" + urlPrefix + "[^\"]*)\""), lit(1))

  /** F28 — token after a label token: `find_val("Monto")` → next token
    * (transform_data_bank_pay:22-27). Null when the label is absent or
    * terminal. */
  def labelNext(tokens: Column, label: String): Column = {
    val pos = array_position(tokens, label)
    when(pos > 0 && pos < size(tokens), element_at(tokens, (pos + 1).cast("int")))
      .otherwise(lit(null).cast("string"))
  }

  /** F29 — first token satisfying a contains/prefix predicate
    * (transform_data_bank_pay:42-47, 61). */
  def firstMatching(tokens: Column, pred: Column => Column): Column = {
    val filtered = filter(tokens, pred)
    when(size(filtered) > 0, element_at(filtered, 1)).otherwise(lit(null).cast("string"))
  }

  /** F30 — `Report_<yyyy-MM-dd>_<id>.<ext>` filename grammar → capture
    * group g (extract_data_mp:85-95, duplicated verbatim at
    * transform_data_mp:6-16). Groups: 1=prefix, 2=date, 3=id, 4=ext. */
  val reportFilenameRe = "([^/]+)_(\\d{4}-\\d{2}-\\d{2})_(\\d+)\\.(csv|xlsx)$"
  def regexFilename(c: Column, group: Int): Column =
    regexp_extract(c, reportFilenameRe, group)

  /** The WRITE side of [[reportFilenameRe]] — one definition for the name
    * the mp pipeline's webhook stages and its parsers re-extract, so the
    * grammar cannot drift between writer and reader (object method:
    * callable from executor closures without capturing session state).
    * The report date is epoch 2024-01-01 + rid days, the fixture's
    * one-report-per-day convention. */
  def reportFileName(rid: Long, ext: String): String =
    s"Report_${java.time.LocalDate.of(2024, 1, 1).plusDays(rid)}_$rid.$ext"

  /** F31 — JSON field access (`.get("html_body")`, webhook body fields;
    * transform_data_bank_pay:30-33, webhook_mp_report:15-43). */
  def jsonGet(c: Column, path: String): Column = get_json_object(c, path)

  /** URL canonicalization for web-corpus dedup (the CommonCrawl/refined-
    * web pre-dedup normalizer): lowercase scheme+authority, strip the
    * scheme's default port, drop the fragment, trim trailing path
    * slashes, and rewrite the query as its sorted non-tracking
    * (non-`utm_`) params. Pure codegen'd built-ins (regexp/split/
    * array_sort) — no UDF on what is a per-row hot path over every
    * crawled URL. */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val authNoPort =
      when(scheme === "https", regexp_replace(auth, ":443$", ""))
        .when(scheme === "http", regexp_replace(auth, ":80$", ""))
        .otherwise(auth)
    val path = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val pathNorm = regexp_replace(path, "/+$", "")
    val query = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val kept = array_sort(filter(split(query, "&"),
      p => !(p.startsWith("utm_") || p === "")))
    val qNorm = when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
      .otherwise(lit(""))
    // non-hierarchical input (bare host, relative path, mailto:) — the
    // component regexes all extract "" there, so canonicalizing would
    // collapse EVERY such URL into the constant "://" and a dedup keyed
    // on the result would silently merge unrelated documents; pass the
    // original through unchanged instead
    when(scheme === "", u)
      .otherwise(concat(scheme, lit("://"), authNoPort, pathNorm, qNorm))
  }

  /** F35 — edit distance between two strings, equal to Spark's
    * `levenshtein` on every input but computed by the native bit-parallel
    * [[graft.plans.EditDistance]] kernel (SQL `graft_levenshtein`): the
    * engine's one edit-distance implementation. */
  def editDistance(a: Column, b: Column): Column =
    column(graft.plans.EditDistance(expression(a), expression(b)))

  /** F18 — the type-conversion matrix `convert_column_types`
    * (redshift_to_bq/lambda_function.py:38-131): per-column declarative
    * cast to a target Spark type, replacing try-numeric → try-datetime →
    * string inference with explicit schema conformance. */
  def conformTo(df: org.apache.spark.sql.DataFrame,
                schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
}
