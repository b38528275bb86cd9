package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** JSON through the Jackson Scala module that Spark ships with. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

object Stats {
  /** Median of a non-empty sample (mean of the middle two when even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}

/** Order-independent digest of a DataFrame's rows: the row count plus the
  * wrapping sums of the low and high 32-bit halves of each row's xxhash64
  * over every column. Equal multisets of rows give equal digests whatever
  * the partitioning or order; computing it forces every output column. */
object Digest {
  def of(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(
        count(lit(1)),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    f"${r.getLong(0)}%d:${r.getLong(1)}%x:${r.getLong(2)}%x"
  }
}

/** Spans around the bench's own calls into the program: name, start, end
  * and the enclosing span, kept in memory and written with the result. */
final class Tracer {
  import Tracer.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var next = 0

  def span[T](name: String)(body: => T): T = {
    val id = next
    next += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      done += Span(id, parent, name, t0, System.nanoTime())
      open = open.tail
    }
  }

  def spans: Seq[Map[String, Any]] = done.toSeq.sortBy(_.id).map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}
