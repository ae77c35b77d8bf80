package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Scalar column functions mirroring the reference pipeline's math.
  * All are pure Column expressions (no UDFs) so they stay inside
  * whole-stage codegen and remain pushdown/prune-friendly.
  *
  * Reference semantics: clamp /root/reference/plots.R:106-107, M-value
  * transform /root/reference/workflow.R:135-136, inverse M-value
  * /root/reference/workflow.R:147-149, -log10 /root/reference/volcano.R:166.
  */
object Fns {

  /** P12 — clamp to [lo, hi] (reference pmax/pmin 0.001/0.999). */
  def clamp(c: Column, lo: Double, hi: Double): Column =
    least(greatest(c, lit(lo)), lit(hi))

  /** F7 — M-value transform log2(b/(1-b)). */
  def mValue(beta: Column): Column = log2(beta / (lit(1.0) - beta))

  /** F7 with the reference's pre-clamp so exact-0/1 betas stay finite. */
  def mValueClamped(beta: Column): Column = mValue(clamp(beta, 0.001, 0.999))

  /** F8 — inverse M-value 2^m/(1+2^m), clipped back into [0,1]. */
  def inverseMValue(m: Column): Column =
    clamp(pow(lit(2.0), m) / (lit(1.0) + pow(lit(2.0), m)), 0.0, 1.0)

  /** F9 — -log10(p); NULL where p <= 0 (volcano y-axis guard). */
  def negLog10(p: Column): Column = when(p > 0, -log10(p))

  /** Sample variance from exact integer moment columns (n, sum, sum-of-squares).
    *
    * Summing integers is exact and order-independent, so the three inputs are
    * bit-identical in any engine; the final expression is a fixed sequence of
    * double ops, making the result reproducible across Spark and the DuckDB
    * oracle (unlike var_samp over doubles, whose accumulation order varies).
    */
  def varFromMoments(n: Column, s: Column, ss: Column): Column =
    (ss.cast("double") - s.cast("double") * s.cast("double") / n.cast("double")) /
      (n - lit(1)).cast("double")

  /** Exact integer cent count for a currency double that carries 2 decimals. */
  def cents(c: Column): Column = round(c * 100).cast("bigint")

  // Typed Scala twins of the injected SQL functions. Each builds its node
  // through the same descriptor builder the SQL registry uses, so
  // `tPValue(t, df)` and `graft_t_pvalue(t, df)` are one definition.
  private lazy val builders = graft.GraftExtensions.descriptors
    .map { case (id, _, build) => id.funcName -> build }.toMap

  private def native(name: String, args: Column*): Column =
    build(name, args.map(ColumnBridge.expression))

  // integer parameters go in as Catalyst literals: the builders read them
  // at construction, before any analysis could fold a Column argument
  private def build(name: String, args: Seq[Expression]): Column =
    ColumnBridge.column(builders(name)(args))

  /** Two-sided Student-t p-value P(|T_df| >= |t|) (`graft_t_pvalue`). */
  def tPValue(t: Column, df: Column): Column = native("graft_t_pvalue", t, df)

  /** Chi-squared survival function P(X²_df >= x) (`graft_chisq_sf`). */
  def chisqSf(x: Column, df: Column): Column = native("graft_chisq_sf", x, df)

  /** F-distribution survival function P(F_{d1,d2} >= x) (`graft_f_sf`). */
  def fSf(x: Column, d1: Column, d2: Column): Column = native("graft_f_sf", x, d1, d2)

  /** Kolmogorov limiting-distribution survival function (`graft_ks_sf`). */
  def ksSf(x: Column): Column = native("graft_ks_sf", x)

  /** Unicode NFC normalization (`graft_nfc`). */
  def nfc(text: Column): Column = native("graft_nfc", text)

  /** Jaro–Winkler similarity in [0, 1] (`graft_jaro_winkler`). */
  def jaroWinkler(a: Column, b: Column): Column = native("graft_jaro_winkler", a, b)

  /** Dot product of two double arrays (`graft_dot`): the same left fold as
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)`, bit-equal, in one codegen'd
    * loop. `dot(v, v)` is the squared norm.
    */
  def dot(a: Column, b: Column): Column = native("graft_dot", a, b)

  /** 1-based index of the center nearest to `v` (`graft_nearest`). */
  def nearest(centers: Column, v: Column): Column = native("graft_nearest", centers, v)

  /** ψ(x) (`graft_digamma`). */
  def digamma(x: Column): Column = native("graft_digamma", x)

  /** ψ′(x) (`graft_trigamma`). */
  def trigamma(x: Column): Column = native("graft_trigamma", x)

  /** ln Γ(x) (`graft_lgamma`). */
  def lgamma(x: Column): Column = native("graft_lgamma", x)

  /** Distinct word n-gram shingles of a normalized text (`graft_shingles`). */
  def shingles(text: Column, n: Int): Column =
    build("graft_shingles", Seq(ColumnBridge.expression(text), Literal(n)))

  /** Row-local MinHash signature of a shingle array (`graft_minhash_sigs`). */
  def minhashSigs(shingles: Column, numPerm: Int): Column =
    build("graft_minhash_sigs", Seq(ColumnBridge.expression(shingles), Literal(numPerm)))

  /** Winnowed k-gram fingerprints, window `w` (`graft_winnow`). */
  def winnow(text: Column, k: Int, w: Int): Column =
    build("graft_winnow", Seq(ColumnBridge.expression(text), Literal(k), Literal(w)))
}
