package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.functions._
import graft.ext.TextAnalysis

/** ScalaCheck properties for the r17 BPE scaling work: the driver-local
  * incremental trainer must agree exactly with a straightforward
  * full-recount reference on random vocabularies, and the native
  * graft_bpe_apply serving path must agree byte-for-byte with the
  * regexp-chain statement of the merge rule (applyMerges) on random
  * corpora — including overlap-prone (x,x) merges and learned tables. */
object BpeProps extends Properties("bpe") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSpark.spark

  // ---- trainer: incremental stats vs brute-force recount -----------------

  /** Reference BPE: full sliding-window recount each round, argmax by
    * (count desc, lhs, rhs), left-to-right non-overlapping merge — the
    * r16 relational semantics restated as the simplest possible loop. */
  private def bruteTrain(vocab: Seq[(String, Long)],
      rounds: Int): Seq[(String, String, Long)] = {
    var words = vocab.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (w, f) =>
        w.indices.dropRight(1).foreach { i =>
          counts((w(i), w(i + 1))) = counts.getOrElse((w(i), w(i + 1)), 0L) + f
        }
      }
      if (counts.isEmpty) done = true
      else {
        val (p, n) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((p._1, p._2, n))
        words = words.map { case (w, f) =>
          val m = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < w.length) {
            if (i + 1 < w.length && w(i) == p._1 && w(i + 1) == p._2) {
              m += p._1 + p._2; i += 2
            } else { m += w(i); i += 1 }
          }
          (m.toVector, f)
        }
        r += 1
      }
    }
    out.toSeq
  }

  private val vocabGen: Gen[List[(String, Long)]] = for {
    n <- Gen.choose(1, 20)
    ws <- Gen.listOfN(n, for {
      len <- Gen.choose(1, 8)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c', 'd'))
      f <- Gen.choose(1L, 9L)
    } yield (cs.mkString, f))
  } yield ws.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toList

  property("bpeTrainLocal == full-recount reference") =
    Prop.forAll(vocabGen, Gen.choose(1, 300)) { (vocab, rounds) =>
      TextAnalysis.bpeTrainLocal(vocab, rounds) == bruteTrain(vocab, rounds)
    }

  // ---- serving: native expression vs regexp chain ------------------------

  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    ws <- Gen.listOfN(n, Gen.oneOf(
      "aa", "aaa", "ab", "abab", "the", "then", "cat", "a", "b", "x1y", "!?"))
  } yield ws.mkString(" ")

  property("bpeEncodeTrained == bpeEncode regexp chain (incl. overlap merges)") =
    Prop.forAll(Gen.listOfN(6, textGen), Gen.oneOf(
      Seq("a" -> "a", "aa" -> "a", "t" -> "h", "th" -> "e"),
      Seq("a" -> "b", "ab" -> "ab", "b" -> "a"),
      TextAnalysis.bpeMerges)) { (texts, merges) =>
      val s = spark
      import s.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val both = df.select(
          TextAnalysis.bpeEncode(col("text"), merges).as("chain"),
          TextAnalysis.bpeEncodeTrained(col("text"), merges).as("native"))
        .collect()
      both.forall(r => r.getString(0) == r.getString(1))
    }

  property("graft_bpe_apply edge contracts: SQL surface, NULL text, NULL/empty/malformed table") =
    Prop.secure {
      val s = spark
      import s.implicits._
      val viaSql = s.sql(
        "SELECT graft_bpe_apply('t h e ', 't h,th e') AS e").head.getString(0)
      val nullText = s.sql(
        "SELECT graft_bpe_apply(CAST(NULL AS STRING), 't h') AS e").head.isNullAt(0)
      val emptyTable = s.sql(
        "SELECT graft_bpe_apply('a b ', '') AS e").head.getString(0)
      val nullTable = scala.util.Try(
        s.sql("SELECT graft_bpe_apply('a b ', CAST(NULL AS STRING))").head).failed
        .toOption.exists(e => Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .exists(c => c.getMessage != null && c.getMessage.contains("merge table literal is NULL")))
      val malformed = scala.util.Try(
        s.sql("SELECT graft_bpe_apply('a b ', 'A b')").head).failed
        .toOption.exists(e => Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .exists(c => c.getMessage != null && c.getMessage.contains("malformed merge entry")))
      val nonConst = scala.util.Try(
        s.range(1).selectExpr("graft_bpe_apply('a b ', CAST(id AS STRING))").head).isFailure
      import org.scalacheck.Prop.propBoolean
      Prop.all(
        (viaSql == "the ") :| s"sql merge chain: '$viaSql'",
        nullText :| "NULL text must stay NULL",
        (emptyTable == "a b ") :| "empty table = identity",
        nullTable :| "NULL table must fail loudly at plan init",
        malformed :| "malformed entry must name the grammar",
        nonConst :| "non-foldable table must be rejected")
    }
}
