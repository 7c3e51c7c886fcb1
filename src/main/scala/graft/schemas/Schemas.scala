package graft.schemas

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Explicit schemas for the engine's warehouse tables and intermediate
  * documents (SURVEY.md §1.2).
  *
  * The three warehouse tables mirror the reference's Redshift tables:
  *  - `carrefour_data`: column list from the INSERT at
  *    load_data/lambda_function.py:19-30, types from the BQ mapping
  *    redshift_to_bq/lambda_function.py:78-89.
  *  - `mp_data`: load_data/lambda_function.py:78-93 +
  *    redshift_to_bq/lambda_function.py:45-61.
  *  - `bank_payments`: the one explicit DDL,
  *    extract_data_bank_pay/lambda_function.py:61-74. Redshift TIME has no
  *    Spark equivalent → normalized "HH:mm:ss" string (SURVEY.md §7.4).
  */
object Schemas {

  val carrefourData: StructType = StructType(Seq(
    StructField("nro_ticket", LongType),
    StructField("fecha", DateType),
    StructField("categ", StringType),
    StructField("prod", StringType),
    StructField("cant", LongType),
    StructField("peso", DoubleType),
    StructField("p_unit", DoubleType),
    StructField("p_total", DoubleType),
    StructField("total_ticket_bruto", DoubleType),
    StructField("total_ticket_meli", DoubleType)
  ))

  val mpData: StructType = StructType(Seq(
    StructField("source_id", StringType),
    StructField("report_id", StringType),
    StructField("report_date", TimestampType),
    StructField("settlement_date", TimestampType),
    StructField("payment_method_type", StringType),
    StructField("transaction_type", StringType),
    StructField("transaction_amount", DoubleType),
    StructField("transaction_date", TimestampType),
    StructField("real_amount", DoubleType),
    StructField("pos_id", StringType),
    StructField("store_id", StringType),
    StructField("store_name", StringType),
    StructField("payer_name", StringType),
    StructField("business_unit", StringType),
    StructField("sub_unit", StringType)
  ))

  val bankPayments: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false), // md5 surrogate, F23
    StructField("message_id", StringType),
    StructField("fecha_pago", DateType),
    StructField("hora_pago", StringType), // Redshift TIME → "HH:mm:ss"
    StructField("monto", DecimalType(12, 2)),
    StructField("divisa", StringType),
    StructField("tarjeta", StringType),
    StructField("nro_tarjeta", StringType),
    StructField("comercio", StringType),
    StructField("cuotas", IntegerType),
    StructField("extraido_en", TimestampType)
  ))

  /** Raw mail document staged as JSON
    * (extract_data_bank_pay/lambda_function.py:185-192). */
  val mailDoc: StructType = StructType(Seq(
    StructField("message_id", StringType),
    StructField("date", StringType), // ISO string, parsed downstream
    StructField("sender", StringType),
    StructField("subject", StringType),
    StructField("html_body", StringType),
    StructField("raw_text", StringType)
  ))

  /** MP settlement report, English header dialect
    * (load_data/lambda_function.py:94-111). */
  val mpReportEnColumns: Seq[String] = Seq(
    "SOURCE_ID", "EXTERNAL_REFERENCE", "SETTLEMENT_DATE",
    "PAYMENT_METHOD_TYPE", "TRANSACTION_TYPE", "TRANSACTION_AMOUNT",
    "TRANSACTION_DATE", "REAL_AMOUNT", "POS_ID", "STORE_ID",
    "STORE_NAME", "PAYER_NAME", "BUSINESS_UNIT", "SUB_UNIT")

  /** Spanish dialect header → English, the rename/projection operator F5 —
    * the EXACT strings of the reference's fallback INSERT
    * (load_data/lambda_function.py:137-151; earlier rounds carried
    * paraphrased headers here, fixed in round 12 to the verbatim source).
    * EXTERNAL_REFERENCE has no Spanish counterpart in the reference's
    * fallback path, so the dialect union leaves it NULL for Spanish
    * reports. */
  val mpDialectEsToEn: Map[String, String] = Map(
    "ID DE OPERACIÓN EN MERCADO PAGO" -> "SOURCE_ID",
    "FECHA DE APROBACIÓN" -> "SETTLEMENT_DATE",
    "TIPO DE MEDIO DE PAGO" -> "PAYMENT_METHOD_TYPE",
    "TIPO DE OPERACIÓN" -> "TRANSACTION_TYPE",
    "VALOR DE LA COMPRA" -> "TRANSACTION_AMOUNT",
    "FECHA DE ORIGEN" -> "TRANSACTION_DATE",
    "MONTO NETO DE OPERACIÓN" -> "REAL_AMOUNT",
    "ID DE CAJA" -> "POS_ID",
    "ID DE LA SUCURSAL" -> "STORE_ID",
    "NOMBRE DE LA SUCURSAL" -> "STORE_NAME",
    "PAGADOR" -> "PAYER_NAME",
    "CANAL DE VENTA" -> "BUSINESS_UNIT",
    "PLATAFORMA DE COBRO" -> "SUB_UNIT")
}

/** Readers over the driver's deterministic testdata (TESTDATA.md).
  * Every declared query reads only `f"$sfDir/<table>.parquet"` so the
  * DuckDB oracle sees identical bytes.
  */
object Tables {
  /** Schema cache for the immutable input tables, keyed by
    * (path, listing-fingerprint).
    *
    * `spark.read.parquet(path)` INFERS the schema at every DataFrame
    * construction — a driver-side footer sweep that runs as its own tiny
    * Spark job and costs ~55-80 ms per call at fixture scale (measured,
    * NOTES.md "Measurement harness": construct 55-83 ms inferred vs 4-7 ms
    * with an explicit schema). The pack constructs each query 3-4× per bench pass
    * (warmup + timed runs), so inference alone taxed every query's timed
    * window by 50-200 ms. Production discipline is the same: catalog
    * tables pin their schema — a 100 TB table is never re-inferred per
    * query. This caches ONLY the StructType (catalog metadata, bytes are
    * re-read by every action); the fingerprint key means a rewritten
    * fixture (StressGen regenerating a dir, a new round's testdata)
    * re-infers.
    * Bounded at 64 entries (#tables × #fixture dirs in any real session;
    * eviction = oldest insert). */
  private val schemaCache =
    new java.util.LinkedHashMap[(String, String), StructType](16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), StructType]): Boolean = size > 64
    }

  /** Content fingerprint of a dataset path, replacing the bare
    * lastModified() key (ADVICE r17): mtime granularity is
    * filesystem-dependent (can be a full second), so a rewrite landing
    * within the same timestamp could serve a stale schema, and a missing
    * path read as mtime 0 collapsed all missing-path keys into one. The
    * fingerprint folds the directory listing (sorted child names +
    * lengths + mtimes) — any rewrite changes at least one part-file name
    * or length — and distinguishes missing paths explicitly. A single
    * parquet FILE has no listing to change, and a same-length rewrite
    * within one mtime tick (a renamed column of equal length) kept its
    * key, so its key also folds a hash of the parquet footer, where the
    * schema lives. Local metadata only: one listing or one footer read,
    * no Spark job. */
  private def fingerprint(path: String): String = {
    val f = new java.io.File(path)
    if (!f.exists()) s"missing:$path"
    else if (f.isFile) s"f:${f.length()}:${f.lastModified()}:${footerHash(f)}"
    else Option(f.listFiles()).map(_.sortBy(_.getName).map(c =>
      s"${c.getName}:${c.length()}:${c.lastModified()}").mkString("|"))
      .getOrElse(s"unlistable:${f.lastModified()}")
  }

  /** CRC32 of a parquet file's footer: the last 8 bytes are the footer
    * length (little-endian int32) and the `PAR1` magic. A tail that is not
    * a well-formed footer hashes the 8 tail bytes themselves (the parquet
    * read then fails on its own terms). */
  private def footerHash(f: java.io.File): Long = {
    val in = new java.io.RandomAccessFile(f, "r")
    try {
      val len = in.length()
      if (len < 8) return -1L
      val tail = new Array[Byte](8)
      in.seek(len - 8)
      in.readFully(tail)
      val footerLen = java.nio.ByteBuffer.wrap(tail)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(0)
      val bytes =
        if (footerLen <= 0 || footerLen > len - 8) tail
        else {
          val footer = new Array[Byte](footerLen)
          in.seek(len - 8 - footerLen)
          in.readFully(footer)
          footer
        }
      val crc = new java.util.zip.CRC32()
      crc.update(bytes)
      crc.getValue
    } finally in.close()
  }

  private def pinnedSchema(spark: SparkSession, path: String): StructType = {
    val key = (path, fingerprint(path))
    val hit = schemaCache.synchronized(schemaCache.get(key))
    if (hit != null) hit
    else {
      // infer OUTSIDE the lock (it runs a Spark job); a racing duplicate
      // inference is harmless — last put wins with an identical schema
      val sch = spark.read.parquet(path).schema
      schemaCache.synchronized(schemaCache.put(key, sch))
      sch
    }
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(pinnedSchema(spark, path)).parquet(path)
  }

  /** Explicit-schema read of an immutable parquet ARTIFACT (staged-once
    * persisted tables: IVF centroids, PQ codes, band indexes) — same
    * schema-pinning as the base tables, same fingerprint guard. Not for per-run
    * sink outputs (their dirs are rewritten per execution, so the cache
    * would never hit; use [[siteRead]] there). */
  def pinnedRead(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(pinnedSchema(spark, path)).parquet(path)

  /** Explicit-schema read of a PER-RUN sink output (streaming drains,
    * staged pipelines): the directory is rewritten every execution under
    * a fresh temp path, but the SCHEMA at a given call site is an
    * invariant of the query's deterministic write plan — so pin it by
    * call-site key. First execution per session infers (once); every
    * later run of the same query skips the ~55-80 ms footer-inference
    * job inside its timed window. */
  private val siteSchemaCache =
    new java.util.LinkedHashMap[String, StructType](16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, StructType]): Boolean = size > 256
    }

  /** Correctness-run validation dial for the site cache (ADVICE r17): the
    * cache ASSUMES a site's write plan emits an invariant schema forever —
    * true today and pinned by SchemaPinSpec, but a future edit that makes
    * a sink's schema run-dependent would silently null-fill on the stale
    * explicit schema instead of failing. With this property set (Verify
    * sets it — correctness runs are not timed), every cache HIT re-infers
    * and asserts the pinned field names/types still match the files. */
  private[graft] val ValidateSitesProp = "graft.validateSiteSchemas"

  def siteRead(spark: SparkSession, site: String, path: String): DataFrame = {
    val hit = siteSchemaCache.synchronized(siteSchemaCache.get(site))
    val sch =
      if (hit != null) {
        if (java.lang.Boolean.getBoolean(ValidateSitesProp)) {
          val fresh = spark.read.parquet(path).schema
          require(fresh == hit,
            s"siteRead[$site]: pinned schema drifted at $path\n  pinned: $hit\n  actual: $fresh")
        }
        hit
      } else {
        val inferred = spark.read.parquet(path).schema
        siteSchemaCache.synchronized(siteSchemaCache.put(site, inferred))
        inferred
      }
    spark.read.schema(sch).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")

  /** `events.ts` has shipped in two fixture vintages: parquet
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — read as
    * raw nanos via `nanosAsLong` and truncate to micros) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (inferred TIMESTAMP_NTZ).
    * Branch on the dtype Spark actually loaded — never assume the physical
    * annotation — and normalize to session-zone TimestampType (sessions run
    * UTC, so the NTZ→LTZ cast is value-preserving and matches DuckDB's
    * `CAST(ts AS TIMESTAMP)`). */
  def events(s: SparkSession, d: String): DataFrame = {
    // nanos vintage: read the rejected TIMESTAMP(NANOS) column as raw
    // INT64; micros vintage: read TIMESTAMP(MICROS, isAdjustedToUTC=false)
    // directly as session-zone TimestampType AT THE SCAN (not via a cast
    // above it) — sessions run UTC so values are identical, and a native
    // scan column keeps ts predicates pushable to parquet (a cast-wrapped
    // column would hold every watermark filter above the Project).
    //
    // The micros path used to get its scan dtype by toggling the
    // session-wide `inferTimestampNTZ.enabled` conf around the read; a
    // concurrent schema-inferring read on another thread could observe
    // the flipped conf (ADVICE r8). Now the vintage probe uses plain
    // inference and the real read passes an EXPLICIT schema with
    // ts: TimestampType — same scan column, zero session-conf writes
    // for NTZ. `nanosAsLong` stays session-sticky on purpose: it is
    // consulted again at EXECUTION of the nanos-vintage scan and is a
    // no-op for every file without TIMESTAMP(NANOS) columns.
    import org.apache.spark.sql.functions._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // nanos vintage, read as raw INT64
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // micros vintage: request LTZ at the scan
        val explicit = StructType(raw.schema.map {
          case f if f.name == "ts" => f.copy(dataType = TimestampType)
          case f                   => f
        })
        s.read.schema(explicit).parquet(s"$d/events.parquet")
      case TimestampType => raw
      case other =>
        throw new IllegalStateException(s"unexpected events.ts dtype: $other")
    }
  }

  /** The dtype the file-streaming reader must declare for `events.ts`,
    * matched to the on-disk vintage (streaming requires an explicit schema,
    * so the batch-side inference above can't help it). Paired with
    * [[eventsStreamTs]] to normalize to TimestampType. NTZ maps to
    * TimestampType — the streaming scan declares LTZ directly, exactly
    * like the batch explicit-schema read above. */
  def eventsRawTsType(s: SparkSession, d: String): DataType = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    apply(s, d, "events").schema("ts").dataType match {
      case TimestampNTZType => TimestampType
      case t                => t
    }
  }

  /** Normalize a streamed `ts` column read with [[eventsRawTsType]]'s dtype
    * to session-zone TimestampType. */
  def eventsStreamTs(rawType: DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    rawType match {
      case LongType         => timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other =>
        throw new IllegalStateException(s"unexpected events.ts dtype: $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
