package perfbench

import java.math.MathContext
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one run prints: operations attempted and failed, and its metrics. */
final class Report {
  var attempted = 0L
  var failed = 0L
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Count one operation; `ok` false (or a throw) counts it failed. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed =
      try ok
      catch { case e: Throwable => System.err.println(s"[perfbench] $what threw: $e"); false }
    if (!passed) {
      failed += 1
      System.err.println(s"[perfbench] FAILED: $what")
    }
  }

  def fail(what: String, e: Throwable): Unit = {
    attempted += 1
    failed += 1
    System.err.println(s"[perfbench] FAILED: $what: $e")
  }

  def correct: Boolean = failed == 0 && attempted > 0

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

object Stat {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Order-insensitive digests of query results, so a result can be pinned
  * without fixing its row order. Doubles keep 9 significant digits, which
  * absorbs summation-order noise across partitionings.
  */
object Digest {
  private val Mc = new MathContext(9)

  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => BigDecimal(d).round(Mc).bigDecimal.stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case x => x.toString
  }

  /** Canonical row text over `cols` in name order. */
  def rowText(r: Row, cols: Seq[String]): String =
    cols.sorted.map(c => c + "=" + canon(r.get(r.fieldIndex(c)))).mkString("\u0001")

  def of(lines: Iterable[String]): String = {
    var sum = 0L
    var xor = 0L
    var n = 0L
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l =>
      val h = java.nio.ByteBuffer.wrap(md.digest(l.getBytes("UTF-8"))).getLong
      sum += h
      xor ^= java.lang.Long.rotateLeft(h, 17)
      n += 1
    }
    f"$n%d:$sum%016x:$xor%016x"
  }

  /** Multiset digest of all columns. */
  def rows(rs: Seq[Row], cols: Seq[String]): String = of(rs.map(rowText(_, cols)))

  /** Set digest of the given columns (duplicates collapse). */
  def distinctRows(rs: Seq[Row], cols: Seq[String]): String =
    of(rs.map(rowText(_, cols)).distinct)
}

object Files2 {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Bytes of the data files under `dir`, without checksum and marker files. */
  def dataBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
          .filter(f => Files.isRegularFile(f))
          .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
          .map(Files.size(_)).sum
      finally s.close()
    }
  }
}

object Scratch {
  /** Drop what the previous operation left cached, as the registry bench
    * does between queries, and give the JVM a GC point.
    */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }

  /** Untimed JIT warm-up: one small job through codegen, shuffle, window
    * and md5 brings the hot paths to steady state before anything is timed.
    */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    spark.range(200000)
      .select(col("id"), md5(col("id").cast("string")).as("h"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("id") % 64).orderBy(col("h"))))
      .groupBy(col("id") % 16).agg(count(lit(1)), max(col("h")))
      .collect()
    release(spark)
  }
}
