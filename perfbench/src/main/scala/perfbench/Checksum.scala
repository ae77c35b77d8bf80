package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent checksum of a query's full output: one aggregate that
  * reads every column of every row (so Catalyst cannot prune the columns a
  * query exists to compute, as it can under `count()`).
  *
  * Each row is hashed with `xxhash64` over a normalised projection of all
  * its columns and the hashes are summed exactly (decimal, no overflow), so
  * row order and partitioning do not matter. Normalisation:
  *   - float and double values are rounded to single precision and -0.0 is
  *     folded into 0.0, so a change in floating-point summation order does
  *     not flip the checksum (NaN hashes canonically);
  *   - maps, which `xxhash64` rejects, become their entries sorted by key;
  *   - ML vectors become arrays; arrays and structs are normalised
  *     element-wise.
  */
object Checksum {

  final case class Sum(rows: Long, hash: BigDecimal) {
    override def toString: String = s"$rows:${hash.bigDecimal.toPlainString}"
  }

  def normalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val f = c.cast(FloatType)
      when(f === 0f, lit(0f)).otherwise(f)
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        normalize(e.getField("key"), kt).as("k"),
        normalize(e.getField("value"), vt).as("v"))))
    case st: StructType =>
      when(c.isNotNull, struct(st.fields.toSeq.map(f =>
        normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case udt: UserDefinedType[_] if udt.typeName == "vector" =>
      normalize(org.apache.spark.ml.functions.vector_to_array(c), ArrayType(DoubleType))
    case udt: UserDefinedType[_] => c.cast(udt.sqlType)
    case _ => c
  }

  /** The one-row aggregate a timed action collects. Columns are renamed
    * by position first, so duplicate output names are fine.
    */
  def aggregate(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    // xxhash64 skips NULLs, so each value is preceded by its null flag:
    // otherwise (NULL, x) and (x, NULL), or NULL and [], would collide.
    val cols = named.schema.fields.toSeq.flatMap(f =>
      Seq(col(f.name).isNull, normalize(col(f.name), f.dataType)))
    named.agg(
      count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0)))
        .as("hash"))
  }

  def of(df: DataFrame): Sum = {
    val r = aggregate(df).collect()(0)
    Sum(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}
