package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM — Spark session
  * startup costs seconds; per-suite sessions would dominate test time.
  */
object SparkTestSession {
  lazy val spark: SparkSession = graft.core.Session.local("4")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  def collectSingle[T](df: DataFrame): T =
    df.collect().head.getAs[T](0)

  /** Rows of a 1-col DataFrame as a list (null-safe). */
  def col0[T](df: DataFrame): Seq[Any] =
    df.collect().toSeq.map(r => if (r.isNullAt(0)) null else r.get(0))

  /** Lowercase-hex MD5 of the UTF-8 bytes — the portability convention every
    * oracle hash uses (one definition; specs must not re-derive it).
    */
  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
