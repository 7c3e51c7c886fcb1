package graft.tools

import org.apache.spark.sql.functions._
import graft.queries.Pack

/** Full-pack partition-count RESULT invariance: every declared query runs
  * under `spark.sql.shuffle.partitions` 4 and then 7 (coprime, so any
  * hash-placement-sensitive stage lands rows differently) and the two
  * results must fingerprint identically. This is the VALUE side of every
  * "order-free decimal fold" / "deterministic tiebreak" note in the pack,
  * checked as one sweep instead of per-family spot tests. Scope limit,
  * stated plainly: the fingerprint is a MULTISET check — it cannot see
  * partition-dependent ROW ORDER, so an ordered contract (a final
  * ORDER BY with non-unique keys whose tie placement shifted) would
  * still PASS here. Ordered-output invariance is
  * PartitionInvarianceSpec's job: its 33-query standing subset compares
  * `collect()` output byte-for-byte IN ORDER. The two are companions —
  * this tool for breadth (all 305, values), the spec for depth (ordered
  * contracts on the families where ordering bugs live).
  *
  * Fingerprint = (row count, DECIMAL(38,0) sum of
  * xxhash64(to_json(struct(*)))) — one order-independent fold per result,
  * NULL-faithful through JSON (concat_ws would silently collapse NULL
  * columns), computed on the executors so nothing corpus-sized crosses
  * the driver. The sum is decimal because a LONG sum of 64-bit hashes
  * overflows within a few rows under ANSI.
  *
  * `runMain graft.tools.InvarianceSweep <sfDir> [name...]` — defaults to
  * the whole pack. Caches are cleared per run so a frame persisted by the
  * first shape cannot serve the second from cached blocks.
  */
object InvarianceSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names =
      if (args.length > 1) args.tail.toSeq else Pack.all.map(_.name)
    val spark = graft.Session.local(graft.Session.cpus, 4)

    def fingerprint(name: String, partitions: Int): (Long, String) = {
      graft.ext.BoundedCache.clear()
      spark.catalog.clearCache()
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
      val df = Pack.byName(name).fn(spark, sfDir)
      // ADVICE r14: (a) ignoreNullFields=false — session-default to_json
      // drops NULL fields, so (a=NULL,b=1) and (a=1,b=NULL) could collide
      // if field names ever stopped disambiguating; (b) MAP columns encode
      // in internal entry order, which is not stable across partitionings
      // — canonicalize top-level maps via sorted entry lists. Nested maps
      // (inside struct/array) stay out of scope: none exist in the pack,
      // and a new one would surface as a FAIL to triage, not a false pass.
      val canon = df.schema.fields.map { f =>
        f.dataType match {
          case _: org.apache.spark.sql.types.MapType =>
            array_sort(map_entries(col(f.name))).as(f.name)
          case _ => col(f.name)
        }
      }
      val row = df.select(xxhash64(to_json(struct(canon.toSeq: _*),
            Map("ignoreNullFields" -> "false")))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("h"))
        .agg(count(lit(1)).as("n"), sum(col("h")).as("s")).head()
      (row.getLong(0), if (row.isNullAt(1)) "0" else row.getDecimal(1).toPlainString)
    }

    var failed = List.empty[String]
    names.foreach { n =>
      val r = try {
        val a = fingerprint(n, 4)
        val b = fingerprint(n, 7)
        if (a == b) "PASS" else { failed ::= n; s"FAIL p4=$a p7=$b" }
      } catch {
        case e: Exception => failed ::= n; s"ERR ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      println(s"INVAR $n $r")
    }
    println(s"INVAR SUMMARY ${names.size - failed.size}/${names.size} invariant" +
      (if (failed.nonEmpty) s"; failed: ${failed.reverse.mkString(",")}" else ""))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
