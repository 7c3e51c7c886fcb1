package graft.schemas

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r17-optimization schema-pinned readers (Tables.apply /
  * pinnedRead / siteRead): pinned reads must be value-identical to
  * inferring reads, the (path, listing-fingerprint) cache must re-infer
  * when a fixture is REWRITTEN in place (never serve a stale schema), and
  * siteRead must serve later runs of the same call site from the pinned
  * schema even though the path changes per run. */
class SchemaPinSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  test("Tables.apply equals an inferring read (schema and rows)") {
    val raw = spark.read.parquet(s"${graft.TestSpark.sf0001}/orders.parquet")
    val pinned = Tables(spark, graft.TestSpark.sf0001, "orders")
    assert(pinned.schema === raw.schema)
    assert(pinned.count() === raw.count())
    assert(pinned.exceptAll(raw).isEmpty && raw.exceptAll(pinned).isEmpty)
  }

  test("rewriting a table at the same path invalidates the pinned schema") {
    val s = spark
    import s.implicits._
    val dir = graft.TestSpark.tempDir("graft_schemapin").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(path)
    val first = Tables(s, dir, "t").schema
    assert(first.fieldNames.toSeq === Seq("id", "v"))
    // rewrite with a DIFFERENT schema at the same path — no manual mtime
    // bump (ADVICE r17: the test must exercise the production
    // invalidation, not hand-feed it); the cache keys on the directory
    // LISTING fingerprint (names + lengths + mtimes), which any real
    // overwrite changes even within one coarse filesystem-clock tick
    Seq((1L, 2.5, true)).toDF("id", "x", "flag")
      .write.mode("overwrite").parquet(path)
    val second = Tables(s, dir, "t").schema
    assert(second.fieldNames.toSeq === Seq("id", "x", "flag"),
      "a rewritten fixture must re-infer, never serve the stale schema")
  }

  test("a same-length single-file rewrite with the same mtime re-infers") {
    val s = spark
    import s.implicits._
    val dir = graft.TestSpark.tempDir("graft_schemapin_file")
    // one parquet file per dataset, differing only in a same-length
    // column name: equal byte length, so only the footer tells them apart
    def singleFile(name: String): java.nio.file.Path = {
      val out = dir.resolve(s"w_$name").toString
      Seq((1L, 2L)).toDF("id", name).coalesce(1).write.parquet(out)
      new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
    }
    val target = dir.resolve("t.parquet")
    java.nio.file.Files.copy(singleFile("a"), target)
    val mtime = target.toFile.lastModified()
    assert(Tables(s, dir.toString, "t").schema.fieldNames.toSeq === Seq("id", "a"))
    val b = singleFile("b")
    assert(b.toFile.length() === target.toFile.length(), "the rewrite must keep the length")
    java.nio.file.Files.copy(b, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(target.toFile.setLastModified(mtime))
    assert(Tables(s, dir.toString, "t").schema.fieldNames.toSeq === Seq("id", "b"),
      "a rewritten single-file fixture must re-infer, never serve the stale schema")
  }

  test("siteRead pins by call site across per-run paths") {
    val s = spark
    import s.implicits._
    val d1 = graft.TestSpark.tempDir("graft_site1").toString
    val d2 = graft.TestSpark.tempDir("graft_site2").toString
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"$d1/out")
    Seq((2L, "y"), (3L, "z")).toDF("id", "v").write.parquet(s"$d2/out")
    val site = s"SchemaPinSpec:${System.nanoTime()}" // unique per test run
    val r1 = Tables.siteRead(s, site, s"$d1/out")
    assert(r1.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(r1.count() === 1)
    // second run of the "same query": new path, pinned schema, new bytes
    val r2 = Tables.siteRead(s, site, s"$d2/out")
    assert(r2.schema === r1.schema)
    assert(r2.as[(Long, String)].collect().sorted.toSeq ===
      Seq((2L, "y"), (3L, "z")))
  }
}
