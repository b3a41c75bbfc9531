package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Stages

/** `Stages.md5BitsSql`, the one Spark spelling of the md5 row hash,
  * against a `MessageDigest` model: the `digits` hex digits of the UTF-8
  * key's digest from the 1-based position `from`, parsed base 16. Keys
  * cover the empty string, non-BMP text, a 2,000-character string, NULL
  * and fixed-seed random text; slices start at literal positions and at a
  * position computed from a column.
  */
class Md5BitsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def model(key: String, from: Int, digits: Int): Long = {
    val hex = MessageDigest.getInstance("MD5").digest(key.getBytes(UTF_8)).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(from - 1, from - 1 + digits), 16)
  }

  private val keys: Seq[String] = {
    val rnd = new scala.util.Random(12)
    Seq("", "🎉𝔘ñ中", "x" * 2000 + "🎉", "a\nb\tc d", "0", "-42") ++
      Seq.fill(30)(rnd.alphanumeric.take(1 + rnd.nextInt(40)).mkString)
  }

  private val digitCounts = Seq(1, 4, 8, 15)

  test("literal slices match the MessageDigest model; a NULL key gives NULL") {
    val slices = for { from <- Seq(1, 9, 17); d <- digitCounts } yield (from, d)
    val keyed = (keys.map(Option(_)) :+ None).zipWithIndex.toDF("k", "i")
    val rows = keyed
      .select(col("i") +: slices.map { case (from, d) => expr(Stages.md5BitsSql("k", from.toString, d)) }: _*)
      .collect()
    assert(rows.length == keys.size + 1)
    rows.foreach { r =>
      val i = r.getInt(0)
      slices.zipWithIndex.foreach { case ((from, d), c) =>
        if (i == keys.size) assert(r.isNullAt(c + 1), s"NULL key, from $from, $d digits")
        else {
          val want = model(keys(i), from, d)
          assert(r.getLong(c + 1) == want, s"key #$i from $from, $d digits")
          assert(want >= 0)
        }
      }
    }
  }

  test("a slice start computed from a column (j * 8 + 1) matches the model") {
    val cells = for { (k, i) <- keys.zipWithIndex; d <- digitCounts; j <- 0 to (32 - d) / 8 } yield (k, i, j, d)
    val rows = cells.toDF("k", "i", "j", "d")
      .select(col("i"), col("j"), col("d"),
        digitCounts.map(d => when(col("d") === d, expr(Stages.md5BitsSql("k", "j * 8 + 1", d)))).reduce(coalesce(_, _)))
      .collect()
    assert(rows.length == cells.size)
    rows.foreach { r =>
      val (i, j, d) = (r.getInt(0), r.getInt(1), r.getInt(2))
      assert(r.getLong(3) == model(keys(i), j * 8 + 1, d), s"key #$i j $j, $d digits")
    }
  }

  test("both engines' spellings reject slices outside 1 to 15 hex digits") {
    for (d <- Seq(0, 16); f <- Seq(Stages.md5BitsSql _, Stages.duckMd5BitsSql _))
      intercept[IllegalArgumentException](f("k", "1", d))
  }
}
