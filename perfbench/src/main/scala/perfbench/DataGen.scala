package perfbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Writes the program's input tables (TPC-H-like star schema plus
  * `events`, `documents` and `embeddings`, one parquet file each) with
  * the schemas and value distributions of the program's test data, at
  * scale factor `sf` (sf 1 = 6M line items). Same seed and sf, same rows.
  */
object DataGen {

  private def at(t: LocalDateTime): Instant = t.toInstant(ZoneOffset.UTC)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  private val vocab = Seq("a", "the", "spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "agg", "key", "query", "scan", "batch")

  def write(dir: String, seed: Long, sf: Double): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .getOrCreate()
    def n(perSf: Double, min: Int = 1) = math.max(min, math.round(perSf * sf).toInt)
    val (nCust, nSupp, nPart, nOrd, nLine) =
      (n(150000), n(10000, 10), n(200000), n(1500000), n(6000000))
    val (nEvents, nUsers, nDocs, nVecs) = (n(1000000), n(15000, 10), n(50000, 500), n(20000, 500))
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

    def table(name: String, salt: Int, rows: Int, schema: String)(row: (SplittableRandom, Int) => Row): Unit = {
      val r = new SplittableRandom(seed * 1000003L + salt)
      val data = (0 until rows).map(i => row(r, i))
      spark.createDataFrame(data.asJava, StructType.fromDDL(schema))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    table("region", 1, 5, "r_regionkey INT, r_name STRING")((_, i) => Row(i, regions(i)))
    table("nation", 2, 25, "n_nationkey INT, n_name STRING, n_regionkey INT")(
      (_, i) => Row(i, s"NATION_$i", i % 5))
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    table("customer", 3, nCust,
      "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")(
      (r, i) => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99),
        pick(r, segments)))
    table("supplier", 4, nSupp, "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")(
      (r, i) => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99)))
    val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    table("part", 5, nPart,
      "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE")(
      (r, i) => Row(i.toLong, s"${pick(r, adjectives)} ${pick(r, nouns)}", s"Brand#${1 + r.nextInt(25)}",
        pick(r, types), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    table("orders", 6, nOrd,
      "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
        "o_orderdate TIMESTAMP, o_orderpriority STRING")(
      (r, i) => Row(i.toLong, r.nextInt(nCust).toLong, pick(r, Seq("F", "O", "P")),
        money(r, 1000, 500000), at(day0.plusDays(r.nextInt(2405))),
        pick(r, priorities)))
    table("lineitem", 7, nLine,
      "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP")(
      (r, _) => Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong,
        1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, money(r, 900, 105000),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")),
        pick(r, Seq("F", "O")), at(day0.plusDays(1 + r.nextInt(2499)))))

    // events: a sorted month of timestamps, exponential values
    val evTimes = {
      val r = new SplittableRandom(seed * 1000003L + 8)
      Array.fill(nEvents)(r.nextDouble() * 30 * 86400).sorted
    }
    val evTypes = Seq("click", "error", "purchase", "signup", "view")
    val jan = LocalDateTime.of(2024, 1, 1, 0, 0)
    table("events", 9, nEvents,
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")(
      (r, i) => Row(i.toLong, at(jan.plusNanos(math.floor(evTimes(i) * 1e6).toLong * 1000)),
        r.nextInt(nUsers).toLong, pick(r, evTypes), math.round(-50 * math.log(1 - r.nextDouble()) * 100) / 100.0,
        s"""{"k": ${r.nextInt(100)}}"""))

    // documents: 10–100 words from a small vocabulary; 5% are an earlier
    // document with " dup" appended (near-duplicates for the dedup queries)
    val texts = new Array[String](nDocs)
    val langs = Seq("en", "en", "en", "en", "en", "en", "en", "en", "de", "de", "de",
      "es", "es", "es", "fr", "fr", "fr", "zh", "zh", "zh")
    table("documents", 10, nDocs, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT") {
      (r, i) =>
        texts(i) =
          if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
          else Seq.fill(10 + r.nextInt(91))(pick(r, vocab)).mkString(" ")
        Row(i.toLong, texts(i), pick(r, langs), s"src${i % 20}", texts(i).length.toLong)
    }

    // embeddings: unit 64-d vectors weakly clustered around 10 label centres
    val centres = {
      val r = new SplittableRandom(seed * 1000003L + 11)
      Array.fill(10)(unit(Array.fill(64)(gauss(r))))
    }
    table("embeddings", 12, nVecs, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT") { (r, i) =>
      val label = r.nextInt(10)
      val v = unit(Array.tabulate(64)(d => 0.14 * centres(label)(d) + gauss(r) / 8.0))
      Row(i.toLong, v.map(_.toFloat).toSeq, label)
    }
    spark.stop()
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / norm)
  }
}
