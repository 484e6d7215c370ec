package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks for the batch workloads: a canonical digest of a query's
  * result, compared against the digests kept next to the benchmark. */
object Checks {
  /** `rows:hashsum:schema` — row count, the sum of a 64-bit hash of every
    * row (columns in name order, -0.0 folded into 0.0), and a hash of the
    * sorted column names and types. Independent of row order and of
    * partitioning. */
  def digest(df: DataFrame): String = {
    val names = df.columns.sorted
    def ref(c: String): Column = col("`" + c.replace("`", "``") + "`")
    val canon = names.map { c =>
      (df.schema(c).dataType match {
        case t @ (DoubleType | FloatType) => when(ref(c) === 0, lit(0).cast(t)).otherwise(ref(c))
        case _                            => ref(c)
      }).as(c)
    }
    val hashed = df.select(canon: _*)
      .select(xxhash64(names.map(ref): _*).cast(DecimalType(38, 0)).as("h"))
    val r = hashed.agg(count(lit(1)), coalesce(sum("h"), lit(BigDecimal(0)))).head()
    val sig = names.map(c => s"$c:${df.schema(c).dataType.simpleString}").mkString(",")
    f"${r.getLong(0)}:${r.getDecimal(1).toPlainString}:${sig.hashCode}%08x"
  }

  /** `name<TAB>digest` lines; `#` starts a comment. */
  def readDigests(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v.trim }.toMap
}

/** Just enough JSON output for the result line and the artifacts. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null                => "null"
    case s: String           => str(s)
    case d: Double           => num(d)
    case i: Int              => i.toString
    case l: Long             => l.toString
    case b: Boolean          => b.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_]     => xs.map(value).mkString("[", ",", "]")
    case other               => str(other.toString)
  }

  def obj(m: scala.collection.Map[String, Any]): String = value(m)
}
