package graft

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Xlsx

/** The JDK-only SpreadsheetML reader against workbooks it did NOT write:
  * the golden workbook below is hand-assembled with the XML shapes Excel
  * and openpyxl emit (shared strings, inline strings, sparse rows, cells
  * without r attributes, rich-text runs, escaped entities) so the reader
  * can't be validated against its own writer's dialect alone. */
class XlsxSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def zip(entries: (String, String)*): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val z = new ZipOutputStream(out)
    entries.foreach { case (n, c) =>
      z.putNextEntry(new ZipEntry(n)); z.write(c.getBytes("UTF-8")); z.closeEntry()
    }
    z.close(); out.toByteArray
  }

  private val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

  test("hand-crafted workbook: shared/inline/rich-text strings, sparse rows, r-less cells") {
    val sst =
      s"""<?xml version="1.0"?><sst xmlns="$ns" count="3" uniqueCount="3">
         |<si><t>alpha</t></si>
         |<si><r><rPr/><t>ri</t></r><r><t>ch</t></r></si>
         |<si><t>a &amp; b &lt;c&gt;</t></si></sst>""".stripMargin
    val sheet =
      s"""<?xml version="1.0"?><worksheet xmlns="$ns"><sheetData>
         |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1"><v>1</v></c><c r="C1"><v>2.5</v></c></row>
         |<row r="2"><c r="C2" t="inlineStr"><is><t>inl</t><t>ine</t></is></c></row>
         |<row r="3"><c t="s"><v>1</v></c><c><v>7</v></c><c t="s"><v>2</v></c></row>
         |</sheetData></worksheet>""".stripMargin
    val bytes = zip("xl/sharedStrings.xml" -> sst,
      "xl/worksheets/sheet1.xml" -> sheet)
    // headerRows = 0: every row surfaces
    val rows = Xlsx.parseWorkbook(bytes, nCols = 3, headerRows = 0)
    assert(rows == Seq(
      Seq("alpha", "1", "2.5"),
      Seq(null, null, "inline"),          // sparse: A2/B2 absent
      Seq("rich", "7", "a & b <c>")))     // r-less cells go sequential
  }

  test("column reference arithmetic: colIndex/colRef are inverse up to ZZ") {
    assert(Xlsx.colIndex("A1") == 0 && Xlsx.colIndex("Z9") == 25
      && Xlsx.colIndex("AA3") == 26 && Xlsx.colIndex("BC23") == 54)
    (0 until 18278).foreach(i => assert(Xlsx.colIndex(Xlsx.colRef(i) + "1") == i))
  }

  test("roundtrip through Spark: write real xlsx, scan with explicit schema") {
    val df = Seq((1, "north & east", 2.5), (2, "süd <öst>", -0.25), (3, null, 0.0))
      .toDF("id", "name", "score")
    val dir = TestSpark.tempDir("graft_xlsx").toString
    Xlsx.writeFile(df, s"$dir/report.xlsx")
    val back = Xlsx.read(spark, dir, StructType(Seq(
        StructField("id", IntegerType), StructField("name", StringType),
        StructField("score", DoubleType))))
      .orderBy("id")
      .as[(Int, Option[String], Double)].collect().toSeq
    assert(back == Seq((1, Some("north & east"), 2.5),
      (2, Some("süd <öst>"), -0.25), (3, None, 0.0)))
  }

  test("first-sheet selection is numeric: sheet2 beats sheet10 (ADVICE r8)") {
    def sheetWith(v: String) =
      s"""<?xml version="1.0"?><worksheet xmlns="$ns"><sheetData>
         |<row r="1"><c r="A1" t="inlineStr"><is><t>$v</t></is></c></row>
         |</sheetData></worksheet>""".stripMargin
    // zip entry order deliberately adversarial: sheet10 first
    val bytes = zip(
      "xl/worksheets/sheet10.xml" -> sheetWith("tenth"),
      "xl/worksheets/sheet2.xml" -> sheetWith("second"))
    val rows = Xlsx.parseWorkbook(bytes, nCols = 1, headerRows = 0)
    assert(rows == Seq(Seq("second")),
      "lexicographic part order would pick sheet10")
  }

  test("writeFile enforces its bounded-export contract") {
    val dir = TestSpark.tempDir("graft_xlsx_bound").toString
    val big = spark.range(Xlsx.WriteFileMaxRows + 1L).toDF("id")
    val e = intercept[IllegalArgumentException] {
      Xlsx.writeFile(big, s"$dir/too_big.xlsx")
    }
    assert(e.getMessage.contains("bounded"))
  }

  test("a directory of workbooks parallelizes per file (the weekly report drop)") {
    val dir = TestSpark.tempDir("graft_xlsx_many").toString
    (1 to 3).foreach { w =>
      Xlsx.writeFile(Seq((w, s"report_$w")).toDF("week", "name"),
        s"$dir/week_$w.xlsx")
    }
    val all = Xlsx.read(spark, dir, StructType(Seq(
        StructField("week", IntegerType), StructField("name", StringType))))
      .orderBy("week").as[(Int, String)].collect().toSeq
    assert(all == Seq((1, "report_1"), (2, "report_2"), (3, "report_3")))
  }

  test("readWithPath attributes every row to its source workbook") {
    // filename-keyed ingestion (the MP report grammar): rows from a
    // multi-file scan must carry their own file's path, not a
    // partition-mate's
    val dir = TestSpark.tempDir("graft_xlsx_prov").toString
    (1 to 3).foreach { w =>
      Xlsx.writeFile(
        Seq((w * 10, s"a$w"), (w * 10 + 1, s"b$w")).toDF("id", "tag"),
        s"$dir/Report_2024-01-0${w}_$w.xlsx")
    }
    val rows = Xlsx.readWithPath(spark, dir, StructType(Seq(
        StructField("id", IntegerType), StructField("tag", StringType))))
      .select(
        org.apache.spark.sql.functions.regexp_extract(
          org.apache.spark.sql.functions.col("_file"),
          graft.functions.Exprs.reportFilenameRe, 3).cast("int").as("rid"),
        org.apache.spark.sql.functions.col("id"))
      .as[(Int, Int)].collect().toSeq.sorted
    assert(rows == Seq((1, 10), (1, 11), (2, 20), (2, 21), (3, 30), (3, 31)),
      "each row must map back to the workbook that contained it")
  }
}
