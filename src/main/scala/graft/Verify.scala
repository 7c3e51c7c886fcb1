package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional trailing names: dump only that subset (local iteration);
    // the driver passes exactly two args and gets the full pack
    val only = rest.toSet
    val spark = Session.local(Session.cpus)
    // correctness runs re-validate every site-pinned schema against the
    // files actually read (ADVICE r17 hardening) — Verify is untimed, so
    // the extra inference per hit is free insurance against a future
    // write-plan edit silently null-filling under a stale pinned schema
    System.setProperty(graft.schemas.Tables.ValidateSitesProp, "true")
    // clear stale results from renamed/removed queries so the compare
    // only ever sees dirs that match oracle_sql.json
    val outRoot = new java.io.File(outDir)
    if (outRoot.isDirectory && only.isEmpty) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      outRoot.listFiles().foreach(rm)
    }
    outRoot.mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.nonEmpty && !only.contains(name)) ()
      else try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
