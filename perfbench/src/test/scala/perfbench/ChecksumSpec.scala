package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ChecksumSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType.fromDDL(
    "id INT, x DOUBLE, f FLOAT, s STRING, arr ARRAY<DOUBLE>, m MAP<STRING, DOUBLE>, " +
      "st STRUCT<a: DOUBLE, b: STRING>")

  private def row(id: Int, x: java.lang.Double, m: Map[String, Double]) =
    Row(id, x, if (id % 2 == 0) null else id.toFloat, if (id == 3) null else s"v$id",
      if (id == 2) null else Seq(1.0 / (id + 1), Double.NaN), m, Row(x, "b"))

  private val rows = Seq(
    row(0, null, Map("a" -> 1.0)),
    row(1, Double.NaN, Map("a" -> 1.0, "b" -> 2.0)),
    row(2, -0.0, Map.empty),
    row(3, 0.1 + 0.2, null),
    row(4, 1e300, Map("z" -> -1.5, "y" -> 0.25)))

  private def frame(rs: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, parts), schema)

  test("same rows give the same checksum whatever their order and partitioning") {
    val a = Checksum.of(frame(rows, 1))
    assert(a == Checksum.of(frame(rows.reverse, 3)))
    assert(a == Checksum.of(frame(scala.util.Random.shuffle(rows), 2)))
    assert(a.rows == 5)
  }

  test("map entry order, -0.0 and last-bit float noise do not change it") {
    val variant = Seq(
      row(0, null, Map("a" -> 1.0)),
      row(1, Double.NaN, Map("b" -> 2.0, "a" -> 1.0)),
      row(2, 0.0, Map.empty),
      row(3, 0.3, null), // 0.1 + 0.2 differs from 0.3 in the last bit
      row(4, 1e300, Map("y" -> 0.25, "z" -> -1.5)))
    assert(Checksum.of(frame(rows, 2)) == Checksum.of(frame(variant, 2)))
  }

  test("a changed value, a null, or a duplicated row changes it") {
    val base = Checksum.of(frame(rows, 2))
    assert(base != Checksum.of(frame(rows.updated(0, row(0, 1.0, Map("a" -> 1.0))), 2)))
    assert(base != Checksum.of(frame(rows.updated(4, row(4, 1e300, Map("z" -> -1.5))), 2)))
    assert(base != Checksum.of(frame(rows.updated(3, row(3, 0.3, Map.empty)), 2)))
    assert(base != Checksum.of(frame(rows :+ rows.head, 2)))
  }

  test("an empty frame has zero rows and a zero hash") {
    val s = Checksum.of(frame(Nil, 1))
    assert(s.rows == 0 && s.hash == BigDecimal(0))
  }
}
