package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows = {
    import spark.implicits._
    (1 to 500).map(i => (s"conv-$i", i % 7, if (i % 3 == 0) null else s"text $i",
      Seq("a", s"r$i"))).toDF("conv_id", "turn_idx", "text", "reasons")
  }

  test("digest is independent of row order and partitioning") {
    val base = Digest.of(rows)
    assert(Digest.of(rows.orderBy(rand(7))) == base)
    assert(Digest.of(rows.repartition(5, col("turn_idx"))) == base)
    assert(Digest.of(rows.coalesce(1).orderBy(col("conv_id").desc)) == base)
  }

  test("digest changes when one value, or the row count, changes") {
    val base = Digest.of(rows)
    val edited = rows.withColumn("text",
      when(col("conv_id") === "conv-10", lit("edited")).otherwise(col("text")))
    assert(Digest.of(edited) != base)
    assert(Digest.of(rows.union(rows.limit(1))) != base)
    assert(Digest.of(rows.limit(0)) == "0:0:0")
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }
}
