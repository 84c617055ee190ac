package graft

import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession

/** Shared local session + reference (re-)implementations used to check the
  * engine's Column expressions against plain Scala. */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4,
    Some(Files.createTempDirectory("graft-warehouse").toString))

  def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def normWs(s: String): String = s.trim.replaceAll("\\s+", " ")
  def normKey(s: String): String = normWs(s).toLowerCase

  def levenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  /** Reference exact dot: products as doubles, each converted to decimal
    * the way Spark's double→decimal cast does — via the double's SHORTEST
    * STRING form (BigDecimal.valueOf), not its exact binary expansion —
    * then rounded to scale 20 (HALF_UP) and summed exactly. */
  def refDot(a: Seq[Float], b: Seq[Float]): Double =
    a.zip(b).map { case (x, y) =>
      java.math.BigDecimal.valueOf(x.toDouble * y.toDouble)
        .setScale(20, java.math.RoundingMode.HALF_UP)
    }.foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue

  def refCosine(a: Seq[Float], b: Seq[Float]): Double = {
    val na = math.sqrt(refDot(a, a))
    val nb = math.sqrt(refDot(b, b))
    if (na == 0.0 || nb == 0.0) 0.0
    else BigDecimal(refDot(a, b) / (na * nb))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  }
}
