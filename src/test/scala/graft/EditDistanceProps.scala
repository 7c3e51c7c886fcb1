package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.plans.EditDistance

/** Parity of the bit-parallel [[EditDistance]] kernel with Spark's
  * `UTF8String.levenshteinDistance` DP, the value it replaces: random
  * ASCII, 2/3/4-byte UTF-8 and invalid byte sequences (split by Spark's
  * `numBytesForFirstByte` rule), lengths that cross the 64-character
  * block boundaries, long shared prefixes and suffixes; then the
  * `graft_levenshtein` expression against Spark's `levenshtein` on one
  * DataFrame, through generated code and through interpreted eval. */
object EditDistanceProps extends Properties("editdistance") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(100)

  private lazy val spark = TestSpark.spark

  private def cp(c: Int): Array[Byte] = new String(Character.toChars(c)).getBytes(UTF_8)

  /** One Spark character as bytes: its lead byte's width always equals
    * its length, so a concatenation splits back into the same characters. */
  private val asciiChar = Gen.choose(0, 0x7F).map(b => Array(b.toByte))
  private val twoByte = Gen.choose(0x80, 0x7FF).map(cp)
  private val threeByte = Gen.choose(0x800, 0xFFFF)
    .suchThat(c => c < 0xD800 || c > 0xDFFF).map(cp)
  private val fourByte = Gen.choose(0x10000, 0x10FFFF).map(cp)
  private val invalidChar: Gen[Array[Byte]] = Gen.oneOf(
    Gen.choose(0x80, 0xBF).map(b => Array(b.toByte)), // stray continuation
    Gen.oneOf(0xC0, 0xC1, 0xF5, 0xFE, 0xFF).map(b => Array(b.toByte)), // never a lead
    // a lead followed by arbitrary (not necessarily continuation) bytes
    for {
      lead <- Gen.oneOf(0xC2, 0xDF, 0xE0, 0xED, 0xEF, 0xF0, 0xF4)
      w = UTF8String.numBytesForFirstByte(lead.toByte)
      tail <- Gen.listOfN(w - 1, Gen.choose(0, 255))
    } yield (lead +: tail).map(_.toByte).toArray)
  private val anyChar = Gen.frequency(
    4 -> asciiChar, 2 -> twoByte, 2 -> threeByte, 1 -> fourByte, 2 -> invalidChar)

  /** A small alphabet per case, so the two strings share characters and
    * the distances are not all max(|a|, |b|). */
  private val alphabet: Gen[Vector[Array[Byte]]] = Gen.frequency(
    3 -> Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, anyChar)),
    1 -> Gen.choose(1, 4).flatMap(k => Gen.listOfN(k, asciiChar)),
    1 -> Gen.choose(20, 90).flatMap(k => Gen.listOfN(k, anyChar))).map(_.toVector)

  private val length: Gen[Int] = Gen.frequency(
    3 -> Gen.choose(0, 300),
    2 -> Gen.oneOf(0, 1, 2, 62, 63, 64, 65, 66, 127, 128, 129, 191, 192, 193, 256, 300),
    1 -> Gen.choose(0, 8))

  private def word(alpha: Vector[Array[Byte]], n: Int): Gen[Vector[Array[Byte]]] =
    Gen.listOfN(n, Gen.oneOf(alpha)).map(_.toVector)

  /** A few random insertions, deletions and substitutions of `w`. */
  private def edited(w: Vector[Array[Byte]], alpha: Vector[Array[Byte]]): Gen[Vector[Array[Byte]]] =
    Gen.choose(0, 12).flatMap { k =>
      (0 until k).foldLeft(Gen.const(w)) { (g, _) =>
        g.flatMap { cur =>
          for {
            op <- Gen.choose(0, 2)
            at <- Gen.choose(0, cur.length)
            c <- Gen.oneOf(alpha)
          } yield op match {
            case 0 => cur.patch(at, Seq(c), 0)
            case 1 if at < cur.length => cur.patch(at, Nil, 1)
            case _ if at < cur.length => cur.updated(at, c)
            case _ => cur :+ c
          }
        }
      }
    }

  private def bytes(w: Vector[Array[Byte]]): Array[Byte] = w.flatten.toArray

  private val pairs: Gen[(Array[Byte], Array[Byte])] = for {
    alpha <- alphabet
    la <- length
    a <- word(alpha, la)
    b <- Gen.oneOf(length.flatMap(word(alpha, _)), edited(a, alpha))
  } yield (bytes(a), bytes(b))

  private def sparkDp(a: Array[Byte], b: Array[Byte]): Int =
    UTF8String.fromBytes(a).levenshteinDistance(UTF8String.fromBytes(b))

  private def kernel(a: Array[Byte], b: Array[Byte]): Int =
    EditDistance.distance(UTF8String.fromBytes(a), UTF8String.fromBytes(b))

  private def show(a: Array[Byte]): String = a.map(x => f"${x & 0xFF}%02x").mkString

  property("kernel == UTF8String.levenshteinDistance (ASCII, multi-byte, invalid UTF-8)") =
    Prop.forAll(pairs) { case (a, b) =>
      val want = sparkDp(a, b)
      val got = kernel(a, b)
      Prop(got == want) :| s"got=$got want=$want a=${show(a)} b=${show(b)}"
    }

  property("kernel is symmetric and zero on identical strings") =
    Prop.forAll(pairs) { case (a, b) =>
      Prop(kernel(a, b) == kernel(b, a) && kernel(a, a) == 0 && kernel(b, b) == 0)
    }

  property("long shared prefix and suffix: kernel == Spark") =
    Prop.forAll(for {
      alpha <- alphabet
      pre <- Gen.choose(0, 200).flatMap(word(alpha, _))
      suf <- Gen.choose(0, 200).flatMap(word(alpha, _))
      mid <- Gen.choose(0, 80).flatMap(word(alpha, _))
      mid2 <- edited(mid, alpha)
    } yield (bytes(pre ++ mid ++ suf), bytes(pre ++ mid2 ++ suf))) { case (a, b) =>
      val want = sparkDp(a, b)
      val got = kernel(a, b)
      Prop(got == want) :| s"got=$got want=$want a=${show(a)} b=${show(b)}"
    }

  property("kernel reads only its own bytes of a shared buffer") =
    Prop.forAll(pairs, Gen.choose(0, 9), Gen.choose(0, 9)) { case ((a, b), pad, pad2) =>
      val buf = Array.fill[Byte](pad)(0x61) ++ a ++ b ++ Array.fill[Byte](pad2)(0x61)
      val ua = UTF8String.fromBytes(buf, pad, a.length)
      val ub = UTF8String.fromBytes(buf, pad + a.length, b.length)
      Prop(EditDistance.distance(ua, ub) == sparkDp(a, b))
    }

  // ---- the expression: codegen and interpreted eval against levenshtein --

  private val rows: Gen[List[(Option[Array[Byte]], Option[Array[Byte]])]] =
    Gen.choose(0, 25).flatMap(n => Gen.listOfN(n, for {
      (a, b) <- pairs
      na <- Gen.frequency(6 -> false, 1 -> true)
      nb <- Gen.frequency(6 -> false, 1 -> true)
    } yield (if (na) None else Some(a), if (nb) None else Some(b))))

  private def compare(mode: String, wholeStage: Boolean,
                      rs: List[(Option[Array[Byte]], Option[Array[Byte]])]): Prop = {
    import spark.implicits._
    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> conf.getOption(k))
    conf.set(keys(0), mode)
    conf.set(keys(1), wholeStage.toString)
    try {
      // binary -> string keeps invalid UTF-8 bytes as they are; the
      // repartition keeps the projection out of local-relation folding
      val got = rs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("id", "a", "b").repartition(2)
        .select(col("id"), col("a").cast("string").as("a"), col("b").cast("string").as("b"))
        .select(col("id"), call_function("graft_levenshtein", col("a"), col("b")).as("g"),
          levenshtein(col("a"), col("b")).as("s"))
        .as[(Long, Option[Int], Option[Int])].collect()
      val nulls = rs.map { case (a, b) => a.isEmpty || b.isEmpty }
      Prop(got.length == rs.length) && Prop.all(got.toSeq.map { case (id, g, s) =>
        Prop(g == s && g.isEmpty == nulls(id.toInt)) :| s"$mode row $id: graft=$g spark=$s"
      }: _*)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  // no shrinking: each shrink step would be a Spark job
  property("graft_levenshtein == levenshtein under CODEGEN_ONLY (NULL in, NULL out)") =
    Prop.forAllNoShrink(rows)(compare("CODEGEN_ONLY", wholeStage = true, _))

  property("graft_levenshtein == levenshtein under NO_CODEGEN (NULL in, NULL out)") =
    Prop.forAllNoShrink(rows)(compare("NO_CODEGEN", wholeStage = false, _))
}
