package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Analytic tier (SURVEY.md §2.4/§2.5): per-key variance, top-k selection,
  * group means, and the Benjamini–Hochberg adjustment.
  */
object Analytic {

  /** A2 — per-key sample variance of a value column
    * (reference /root/reference/top10k.py:8 df.var(axis=1), ddof=1).
    */
  def perKeyVariance(df: DataFrame, keyCol: String, valCol: String): DataFrame =
    df.groupBy(keyCol).agg(var_samp(col(valCol)).as("variance"), count(col(valCol)).as("n"))

  /** W1 — top-k keys by variance (reference /root/reference/workflow.R:155-161).
    * orderBy+limit compiles to TakeOrderedAndProject: per-partition top-k then
    * a single driver merge of k·partitions rows — no global sort, scales to
    * any key cardinality.
    */
  def topKByVariance(df: DataFrame, keyCol: String, valCol: String, k: Int): DataFrame =
    perKeyVariance(df, keyCol, valCol)
      .orderBy(col("variance").desc, col(keyCol).asc)
      .limit(k)

  /** A3 — per-key per-group means and their difference (logFC precursor,
    * reference /root/reference/plots.R:148-158). `g1 - g2`.
    */
  def groupMeanDiff(df: DataFrame, keyCol: String, groupCol: String,
                    valCol: String, g1: String, g2: String): DataFrame =
    df.groupBy(keyCol)
      .agg(avg(when(col(groupCol) === g1, col(valCol))).as("mean_g1"),
           avg(when(col(groupCol) === g2, col(valCol))).as("mean_g2"))
      .withColumn("diff", col("mean_g1") - col("mean_g2"))

  /** W3/K4 — Benjamini–Hochberg FDR (reference /root/reference/plots.R:162
    * p.adjust(method="BH")): rank p ascending, p*n/rank, running min from the
    * largest p down, clamp to 1. Ties resolve identically to R because the
    * running min absorbs any within-tie rank assignment.
    *
    * Dispatches on row count: up to `windowMaxRows` the empty-partition
    * window (single-partition sort) is cheapest; above it the
    * range-partitioned two-pass rank takes over — no single task ever sees
    * more than one range partition, so the adjustment scales to any probe
    * cardinality. Both paths compute the identical double-op sequence
    * (p·n then /rank, suffix-min, clamp), asserted bit-equal in PropertySpec.
    */
  def bhAdjust(df: DataFrame, pCol: String, tieBreak: String,
               outCol: String = "fdr", windowMaxRows: Long = 5000000L,
               knownRows: Option[Long] = None): DataFrame = {
    // Plan-ONLY dispatch: the two paths compute the identical double-op
    // sequence (PropertySpec asserts them bit-equal), so the row count
    // here picks a physical plan, never a result — which licenses an
    // ESTIMATE in place of an exact count (the k12 width-dispatch
    // precedent). Until r10 this ran `persist(); count()` — one extra job
    // plus one cache fill per call, per adjusted query, pure fixed cost at
    // every scale (the 8-vs-32-core cohort below 0.7 was job-count-bound).
    // Callers that already know the exact row count pass it via knownRows
    // (Dmp folds it into the prior-fit aggregate); everyone else gets the
    // leaf-bytes estimate, which over-counts rows by ≥one order (≥48-byte
    // statistic rows, /8 divisor, compressed leaf bytes) and so errs
    // toward the scale-safe ranged path, never toward an oversized
    // single-partition window sort.
    // The windowed path consumes its input exactly once inside the
    // caller's single action, so dropping the persist removes a cache
    // fill without duplicating any upstream work.
    val rows = knownRows.getOrElse(planRowEstimate(df))
    if (rows <= windowMaxRows) bhAdjustWindowed(df, pCol, tieBreak, outCol)
    else bhAdjustRanged(df, pCol, tieBreak, outCol)
  }

  /** Row-count ESTIMATE from plan statistics — no job. Sums the leaf
    * relations' sizeInBytes (cached relations report their real in-memory
    * bytes; file relations their on-disk bytes) and divides by 48 ≈ the
    * bytes/row of this engine's long tables in either representation
    * (~56 B UnsafeRow in cache, ~30–60 B compressed on disk), i.e. the
    * estimate approximates the LEAF row count. That still over-counts
    * the dispatch-relevant quantity: every adjusted input here is a
    * per-key aggregate of its leaves (rows ≪ leaf rows), and self-joined
    * leaves are summed once per appearance. (An /8 divisor was measured
    * to shunt the k-tier's ~130 MB multi-leaf inputs onto the ranged
    * path at sf0.1 — k22_mk_inference 1.48 → 1.82 s — for windows that
    * fit one task with 10× headroom.) Suitable only for plan-equivalent
    * dispatches (windowed vs ranged are bit-equal); never use where the
    * count affects a result.
    */
  private[graft] def planRowEstimate(df: DataFrame): Long = {
    val leafBytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    (leafBytes / 48).min(BigInt(Long.MaxValue)).toLong
  }

  /** Benjamini–Yekutieli FDR — the dependence-robust BH variant: the
    * step-up quantity is scaled by the harmonic factor c(m) = Σ_{i≤m} 1/i
    * before the suffix-min + clamp. H_m is an ASCENDING driver loop over
    * the (already-counted-for-dispatch) row total — the identical IEEE
    * sequence to the oracle's i-ordered running sum, and O(m) driver time
    * on a number, not a row set. Same two-path size dispatch as
    * [[bhAdjust]]; scale=1 reproduces BH bit-for-bit (p·1.0 is exact).
    */
  def byAdjust(df: DataFrame, pCol: String, tieBreak: String,
               outCol: String = "fdr_by", windowMaxRows: Long = 5000000L): DataFrame = {
    val input =
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        Caches.track(df.persist())
      else df
    val m = input.count()
    var h = 0.0
    var i = 1L
    while (i <= m) { h += 1.0 / i; i += 1 }
    if (m <= windowMaxRows) bhAdjustWindowed(input, pCol, tieBreak, outCol, scale = h)
    else bhAdjustRanged(input, pCol, tieBreak, outCol, scale = h)
  }

  /** Holm step-DOWN FWER adjustment (p.adjust method="holm" — the
    * no-assumptions Bonferroni improvement): adjusted p_(i) =
    * min(1, max_{j≤i} (m−j+1)·p_(j)) — a running MAX ascending in rank
    * where BH runs a suffix-min descending. Same two-path size dispatch.
    */
  def holmAdjust(df: DataFrame, pCol: String, tieBreak: String,
                 outCol: String = "p_holm", windowMaxRows: Long = 5000000L): DataFrame =
    // plan-only dispatch — see bhAdjust (holmWindowed ≡ holmRanged
    // bit-equal, PropertySpec)
    if (planRowEstimate(df) <= windowMaxRows) holmWindowed(df, pCol, tieBreak, outCol)
    else holmRanged(df, pCol, tieBreak, outCol)

  private[graft] def holmWindowed(df: DataFrame, pCol: String, tieBreak: String,
                                  outCol: String = "p_holm"): DataFrame = {
    val wRank = Window.orderBy(col(pCol).asc, col(tieBreak).asc)
    val wAll = Window.partitionBy()
    val wMax = Window.orderBy(col("__rn").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__rn", row_number().over(wRank))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__hm",
        col(pCol) * (col("__n") - col("__rn") + 1L).cast("double"))
      .withColumn(outCol, least(max(col("__hm")).over(wMax), lit(1.0)))
      .drop("__rn", "__n", "__hm")
  }

  /** Range-partitioned two-pass Holm — the bhAdjustRanged mirror with the
    * directions flipped: ascending iteration, per-partition raw maxima,
    * PREFIX maxima from earlier partitions seeding each partition's
    * running max. Driver state is O(partitions).
    */
  private[graft] def holmRanged(df: DataFrame, pCol: String, tieBreak: String,
                                outCol: String = "p_holm",
                                numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sorted = Caches.track(df
      .withColumn(pCol, col(pCol).cast("double"))
      .repartitionByRange(parts, col(pCol).asc, col(tieBreak).asc)
      .sortWithinPartitions(col(pCol).asc, col(tieBreak).asc)
      .persist())
    val pIdx = sorted.schema.fieldIndex(pCol)
    val cnts = sorted.groupBy(spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = cnts.values.sum
    // lowest global rank (1-based) inside each partition
    val rankLow = (0 until parts).map { pid =>
      pid -> ((0 until pid).map(q => cnts.getOrElse(q, 0L)).sum + 1L)
    }.toMap
    val bLow = spark.sparkContext.broadcast(rankLow)
    val bTotal = total
    val maxRaw = sorted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var mx = Double.NegativeInfinity
      var rank = bLow.value.getOrElse(pid, 1L)
      it.foreach { r =>
        val hm = r.getDouble(pIdx) * (bTotal - rank + 1L).toDouble
        rank += 1
        if (hm > mx) mx = hm
      }
      Iterator.single((pid, mx))
    }.collect().toMap
    // prefix maxima: the largest raw value among all SMALLER p-values
    val prefix = (0 until parts).map { pid =>
      val earlier = (0 until pid).map(q => maxRaw.getOrElse(q, Double.NegativeInfinity))
      pid -> (if (earlier.isEmpty) Double.NegativeInfinity else earlier.max)
    }.toMap
    val bPrefix = spark.sparkContext.broadcast(prefix)
    val outSchema = sorted.schema.add(outCol, DoubleType, nullable = false)
    sorted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var rank = bLow.value.getOrElse(pid, 1L)
      var run = bPrefix.value.getOrElse(pid, Double.NegativeInfinity)
      it.map { r =>
        val hm = r.getDouble(pIdx) * (bTotal - rank + 1L).toDouble
        rank += 1
        if (hm > run) run = hm
        Row.fromSeq(r.toSeq :+ math.min(run, 1.0))
      }
    }(Encoders.row(outSchema))
  }

  /** Windowed BH — one single-partition sort; right up to ~1e7 result rows. */
  private[graft] def bhAdjustWindowed(df: DataFrame, pCol: String, tieBreak: String,
                                      outCol: String = "fdr",
                                      scale: Double = 1.0): DataFrame = {
    val wRank = Window.orderBy(col(pCol).asc, col(tieBreak).asc)
    val wAll = Window.partitionBy()
    val wMin = Window.orderBy(col("__rn").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__rn", row_number().over(wRank))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__bh", col(pCol) * lit(scale) * col("__n").cast("double") / col("__rn").cast("double"))
      .withColumn(outCol, least(min(col("__bh")).over(wMin), lit(1.0)))
      .drop("__rn", "__n", "__bh")
  }

  /** Range-partitioned two-pass BH — the 100 TB path. One range shuffle on
    * (p, tieBreak), then two tiny driver reduces (per-partition row counts →
    * rank offsets; per-partition BH minima → suffix minima) and one
    * partition-local pass that assigns rank = offset − i and folds the
    * running suffix-min. Driver state is O(partitions), never O(rows).
    */
  private[graft] def bhAdjustRanged(df: DataFrame, pCol: String, tieBreak: String,
                                    outCol: String = "fdr",
                                    numPartitions: Int = 0,
                                    scale: Double = 1.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // Sort DESC within ASC range partitions: partition 0 holds the smallest
    // p-values, but each partition is iterated largest-p-first so the
    // suffix-min folds in one forward pass.
    // Tracked, not try/finally-released: the returned pass-3 plan is lazy and
    // still reads `sorted` — an eager unpersist here would force the caller's
    // action to redo the range shuffle + sort. The harness releases it after
    // the query's final action (ops.Caches contract).
    // normalize p to a non-null DoubleType up front: pass 2/3 decode rows
    // with getDouble, and the windowed sibling accepts any numeric — the
    // dispatch must not change accepted inputs at the size threshold
    val sorted = Caches.track(df
      .withColumn(pCol, col(pCol).cast("double"))
      .filter(col(pCol).isNotNull)
      .repartitionByRange(parts, col(pCol).asc, col(tieBreak).asc)
      .sortWithinPartitions(col(pCol).desc, col(tieBreak).desc)
      .persist())
    val pIdx = sorted.schema.fieldIndex(pCol)
    // Pass 1 (O(partitions) to driver): row count per range partition.
    val cnts = sorted.groupBy(spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = cnts.values.sum
    val totalD = total.toDouble
    // Highest global rank inside each partition (ranks ascend with pid).
    val rankHigh = (0 until parts).map { pid =>
      pid -> (0 to pid).map(q => cnts.getOrElse(q, 0L)).sum
    }.toMap
    val bHigh = spark.sparkContext.broadcast(rankHigh)
    // Pass 2 (O(partitions) to driver): min raw-BH value per partition.
    val minBh = sorted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var mn = Double.PositiveInfinity
      var i = 0L
      val high = bHigh.value.getOrElse(pid, 0L)
      it.foreach { r =>
        val bh = r.getDouble(pIdx) * scale * totalD / (high - i).toDouble
        i += 1
        if (bh < mn) mn = bh
      }
      Iterator.single((pid, mn))
    }.collect().toMap
    // Suffix minima: the smallest raw-BH among all LARGER p-values.
    val suffix = (0 until parts).map { pid =>
      val later = (pid + 1 until parts).map(q => minBh.getOrElse(q, Double.PositiveInfinity))
      pid -> (if (later.isEmpty) Double.PositiveInfinity else later.min)
    }.toMap
    val bSuffix = spark.sparkContext.broadcast(suffix)
    // Pass 3: emit fdr = min(running suffix-min, 1).
    val outSchema = sorted.schema.add(outCol, DoubleType, nullable = false)
    sorted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      val high = bHigh.value.getOrElse(pid, 0L)
      var run = bSuffix.value.getOrElse(pid, Double.PositiveInfinity)
      var i = 0L
      it.map { r =>
        val bh = r.getDouble(pIdx) * scale * totalD / (high - i).toDouble
        i += 1
        if (bh < run) run = bh
        Row.fromSeq(r.toSeq :+ math.min(run, 1.0))
      }
    }(Encoders.row(outSchema))
  }

  /** Per-group BH — FDR within each `byCol` slice (the multi-contrast
    * per-coef p.adjust). The window is hash-partitioned on the group key, so
    * the sort is per-contrast, never global; bounded by the largest single
    * contrast's probe count.
    */
  def bhAdjustBy(df: DataFrame, byCol: String, pCol: String, tieBreak: String,
                 outCol: String = "fdr"): DataFrame = {
    val wRank = Window.partitionBy(byCol).orderBy(col(pCol).asc, col(tieBreak).asc)
    val wAll = Window.partitionBy(byCol)
    val wMin = Window.partitionBy(byCol).orderBy(col("__rn").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__rn", row_number().over(wRank))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__bh", col(pCol) * col("__n").cast("double") / col("__rn").cast("double"))
      .withColumn(outCol, least(min(col("__bh")).over(wMin), lit(1.0)))
      .drop("__rn", "__n", "__bh")
  }

  /** A10 — fixed-width histogram of a [0,1) value. */
  def histogram(df: DataFrame, valCol: String, nBins: Int): DataFrame =
    df.withColumn("bucket",
        least(floor(col(valCol) * nBins), lit(nBins - 1)).cast("int"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** Per-group winsorization: clamp a value to that group's [lo, hi]
    * exact percentiles (the outlier-taming step before model features or
    * robust aggregates). One percentile aggregate per group (bounded
    * groups → the bounds table broadcasts), then a row-local clamp — the
    * data itself shuffles zero times. Above ~10M rows per group, swap the
    * exact `percentile` for `approx_percentile` exactly as the quantile
    * profile does (the bounds stop being bit-reproducible, the plan shape
    * is unchanged).
    */
  def winsorize(df: DataFrame, groupCol: String, valCol: String,
                lo: Double, hi: Double): DataFrame = {
    val bounds = df.groupBy(groupCol).agg(
      expr(s"percentile($valCol, $lo)").as("__lo"),
      expr(s"percentile($valCol, $hi)").as("__hi"))
    df.join(broadcast(bounds), groupCol)
      .withColumn(s"${valCol}_w",
        least(greatest(col(valCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** Shared base of the two-sample rank tests: collapse the data to
    * per-(key, value) tie cells with per-group counts. The full data
    * shuffles exactly once (the cell aggregate); everything downstream
    * runs on the cell table, which is bounded by distinct values per key.
    * Callers must pass a null-free value column (a null would form its
    * own tie cell and engines disagree on null sort position).
    */
  private def rankCells(df: DataFrame, keyCol: String, valCol: String,
                        groupCol: String, g1: String, g2: String): DataFrame =
    df.filter(col(groupCol).isin(g1, g2))
      .groupBy(keyCol, valCol)
      .agg(sum(when(col(groupCol) === g1, 1L).otherwise(0L)).as("c1"),
        sum(when(col(groupCol) === g2, 1L).otherwise(0L)).as("c2"))
      .withColumn("t", col("c1") + col("c2"))

  /** Two-sample Mann–Whitney (Wilcoxon rank-sum) U per key — the
    * nonparametric alternative to the moderated-t DMP path (rank-based:
    * any monotone transform of the values, beta vs M-value, yields the
    * identical U). Plan shape: one aggregate to tie cells, one per-key
    * cumulative window over the much smaller cell table, one per-key
    * aggregate — the window and final aggregate share the key partitioning,
    * so the cells shuffle once and the test scales with keys, not values.
    *
    * Exactness: average ranks are carried in doubled-rank integer units
    * (`ar2 = 2·avg_rank`, always integral even for .5 ranks) and U leaves
    * integer arithmetic in a single final division; the tie-corrected
    * normal z is one fixed double-op sequence. Keys where every value is
    * tied (zero rank variance) drop out, as in R's wilcox.test.
    * Integer bounds: `ties` sums t³ per key — exact in BIGINT to ~2M rows
    * per (key, value) cell, far past any per-key group size in scope.
    */
  def mannWhitney(df: DataFrame, keyCol: String, valCol: String,
                  groupCol: String, g1: String, g2: String): DataFrame = {
    val cells = rankCells(df, keyCol, valCol, groupCol, g1, g2)
    val wCum = Window.partitionBy(keyCol).orderBy(valCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells.withColumn("cum", sum("t").over(wCum))
      .withColumn("ar2", lit(2L) * col("cum") - (col("t") - lit(1L)))
    val agg = ranked.groupBy(keyCol).agg(
      sum("c1").as("n1"), sum("c2").as("n2"),
      count(lit(1)).as("ncells"),
      sum(col("c1") * col("ar2")).as("r1_2"),
      sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val nd = (col("n1") + col("n2")).cast("double")
    agg.filter(col("ncells") > 1)
      .withColumn("u1", (col("r1_2") - col("n1") * (col("n1") + lit(1L))).cast("double") / 2.0)
      .withColumn("sigma", sqrt(n1d * n2d / 12.0 *
        (nd + 1.0 - col("ties").cast("double") / (nd * (nd - 1.0)))))
      .withColumn("z", (col("u1") - n1d * n2d / 2.0) / col("sigma"))
      .select(col(keyCol), col("n1"), col("n2"), col("u1"), col("z"))
  }

  /** Two-sample Kolmogorov–Smirnov D per key: max gap between the two
    * empirical CDFs, evaluated at every distinct value. Same cell+window
    * shape (and the same single data shuffle) as [[mannWhitney]]; the gap
    * is kept as the exact integer `|cum1·n2 − cum2·n1|` and divided by
    * n1·n2 once at the end, so D is bit-reproducible. `ks_stat` is the
    * sample-size-scaled statistic D·√(n1·n2/(n1+n2)) fed to the KS
    * asymptotic distribution.
    */
  def ksTest(df: DataFrame, keyCol: String, valCol: String,
             groupCol: String, g1: String, g2: String): DataFrame = {
    val cells = rankCells(df, keyCol, valCol, groupCol, g1, g2)
    val wCum = Window.partitionBy(keyCol).orderBy(valCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCol)
    val gaps = cells
      .withColumn("cum1", sum("c1").over(wCum))
      .withColumn("cum2", sum("c2").over(wCum))
      .withColumn("n1", sum("c1").over(wAll))
      .withColumn("n2", sum("c2").over(wAll))
      .withColumn("gap", abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
    val agg = gaps.groupBy(keyCol).agg(
      max("n1").as("n1"), max("n2").as("n2"), max("gap").as("gap"))
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    agg.filter(col("n1") > 0 && col("n2") > 0)
      .withColumn("d", col("gap").cast("double") / (n1d * n2d))
      .withColumn("ks_stat", col("d") * sqrt(n1d * n2d / (n1d + n2d)))
      .select(col(keyCol), col("n1"), col("n2"), col("d"), col("ks_stat"))
  }

  /** K12 — sample×sample Spearman correlation matrix: ranks are per-sample
    * over that sample's observed probes (doubled-rank integer units, ties
    * exact via the tie-cell trick), pairs correlate over shared probes
    * (pairwise-complete), Pearson-on-ranks from exact integer moments.
    * Plan: cell aggregate + per-sample window + co-keyed join back, then
    * the probe self-join — samples stay the bounded axis, probes scale
    * freely.
    *
    * Width dispatch (the bhAdjust/CC/PageRank size-dispatch pattern): the
    * six rank moments per pair dominate the shuffle. With ranks ≤ 2·P the
    * moment sums are bounded by 4·P³, so below P ≈ 1.3M probes BIGINT
    * (8-byte, codegen'd long arithmetic) is exact — a 300k-probe array
    * rides the cheap path with 85× headroom at the 300_000 threshold.
    * Above it, decimal(38,0) takes over. Either way the FINAL per-pair
    * combination runs in decimal(38,0) over the same exact integer sums,
    * so the two paths are bit-equal by construction (PropertySpec asserts
    * it). ANSI mode (Spark 4 default) turns any bound miscount into an
    * overflow error, never a silent wrap.
    *
    * @param forceDecimal Some(true)/Some(false) pins the moment width for
    *   the equivalence test; None (production) dispatches on probe count.
    */
  def spearmanMatrix(df: DataFrame, probeCol: String, sampleCol: String,
      valCol: String, forceDecimal: Option[Boolean] = None): DataFrame = {
    // Doubled average ranks in ONE window pass over the rows (r9): with
    // cum = count over RANGE unbounded..current (peers included ⇒ the
    // tie group's MAX rank) and t = count over RANGE current..current
    // (the tie count), min+max rank = 2·cum − t + 1 — the identical
    // exact integer the tie-cell construction produced as
    // 2·Σt − (t−1). Both frames share one (sample, order-by-value)
    // window spec, so this is one exchange + one sort, replacing the
    // cells aggregate + cell window + (sample, value) join-back
    // (three shuffles; KernelProbe measured the old chain ~1.6 s/pass
    // at sf0.1).
    val w = Window.partitionBy(sampleCol).orderBy(valCol)
    val cumAll = count(lit(1))
      .over(w.rangeBetween(Window.unboundedPreceding, Window.currentRow))
    val ties = count(lit(1))
      .over(w.rangeBetween(Window.currentRow, Window.currentRow))
    // Both sides of the pair-expansion self-join read the ranked rows —
    // persist (released by the harness via Caches) so the rank window
    // runs once, not once per join side. Projected to the three
    // surviving columns so the cache holds narrow rows.
    val rb = graft.ops.Caches.track(
      df.withColumn("ar2", lit(2L) * cumAll - ties + lit(1L))
        .select(col(probeCol), col(sampleCol), col("ar2"))
        .persist())
    // ONE pass over rb decides the moment width, collects the bounded
    // sample axis AND materializes the cache (was three jobs: an exact
    // distinct-probe count, a distinct-sample collect, and the first
    // consumer's cache fill). The width dispatch may use an ESTIMATE:
    // both widths are bit-equal by construction (PropertySpec), so the
    // HLL ±2% error only moves the cheap/exact crossover, never a result
    // bit; the 250k gate keeps ~4× integer-envelope headroom below the
    // 1.3M-probe bigint bound even at maximal HLL undercount.
    val spark = df.sparkSession
    import spark.implicits._
    val disp = rb.agg(
      approx_count_distinct(col(probeCol)).as("np"),
      collect_set(col(sampleCol)).as("ss"),
      count(lit(1)).as("rows")).head()
    val useDecimal = forceDecimal.getOrElse(disp.getLong(0) > 250000L)
    val width = if (useDecimal) "decimal(38,0)" else "bigint"
    // Driver-local size dispatch (the pageRank/CC pattern, r10): below the
    // thresholds the whole pair expansion is integer accumulation over a
    // samples²-bounded table — the per-iteration shuffle/aggregate fixed
    // cost of the distributed expansion dominates it by ~2×. The local
    // kernel computes the IDENTICAL exact integer moments and the
    // identical final double sequence (asserted against the distributed
    // path in PropertySpec, and every k12 query replays against the
    // DuckDB oracle), so the dispatch is plan-only. forceDecimal pins the
    // distributed path for the width-equivalence tests.
    if (forceDecimal.isEmpty && disp.getLong(2) <= SpearmanLocalMaxRows &&
        disp.getSeq[String](1).size <= SpearmanMatrixLocalMaxSamples) {
      val local = spearmanMatrixLocal(rb, probeCol, sampleCol,
        disp.getSeq[String](1).toArray.sorted)
      if (local.isDefined) return local.get
    }
    // Dict-encode the bounded sample axis (sorted → index order preserves
    // the id sort, so `sa < sb` keeps its string semantics) so the
    // expansion join's pair aggregate hashes one 8-byte int pair instead
    // of two strings per row — the aggregate sees |probe|·|samples/probe|²
    // rows, every byte of key counts. Decoded after the aggregate, which
    // is pairs-sized, not expansion-sized.
    val sampleIds = disp.getSeq[String](1).toArray.sorted
    val sdim = broadcast(
      sampleIds.zipWithIndex.toSeq.toDF(sampleCol, "__sid"))
    val rbe = rb.join(sdim, sampleCol)
    val l = rbe.select(col(probeCol), col("__sid").as("sa_i"),
      col("ar2").cast(width).as("ra"))
    val r = rbe.select(col(probeCol), col("__sid").as("sb_i"),
      col("ar2").cast(width).as("rb"))
    val m = l.join(r, probeCol).filter(col("sa_i") < col("sb_i"))
      .groupBy("sa_i", "sb_i")
      .agg(count(lit(1)).as("cnt"),
        sum("ra").as("msx"), sum("rb").as("msy"),
        sum(col("ra") * col("ra")).as("msxx"),
        sum(col("rb") * col("rb")).as("msyy"),
        sum(col("ra") * col("rb")).as("msxy"))
    val dec = "decimal(38,0)"
    def D(c: String) = col(c).cast(dec)
    val (n, sx, sy, sxx, syy, sxy) =
      (D("cnt"), D("msx"), D("msy"), D("msxx"), D("msyy"), D("msxy"))
    val denx = (n * sxx - sx * sx).cast("double")
    val deny = (n * syy - sy * sy).cast("double")
    m.filter(col("cnt") >= 2 && denx * deny > 0.0)
      .join(broadcast(sdim.toDF("sa", "sa_i")), "sa_i")
      .join(broadcast(sdim.toDF("sb", "sb_i")), "sb_i")
      .select(col("sa"), col("sb"), col("cnt").cast("bigint").as("n_shared"),
        ((n * sxy - sx * sy).cast("double") / sqrt(denx * deny)).as("rho"))
  }

  /** Driver-local dispatch gates for the k12 pair kernels: collected rank
    * rows and the sample axis must both be bounded. MaxRows 1.3M is the
    * SAME 4·n³ < 2⁶³ envelope as the distributed bigint fast path (a
    * sample's doubled ranks are < 2·n_s+1 and a pair shares ≤ min(n_a,
    * n_b) probes, so every moment sum is ≤ 4·rows³), keeping all local
    * accumulation exact in longs while the collect stays ≈ 100 MB;
    * MaxSamples 1500 bounds the flat moment arrays at 6·1500²·8 B
    * ≈ 108 MB.
    */
  private[graft] val SpearmanLocalMaxRows = 1300000L
  private[graft] val SpearmanLocalMaxSamples = 1500
  /** The FULL-matrix local path additionally gates the sample axis at 256:
    * its output is all C(nS, 2) pairs, and materializing hundreds of
    * thousands of pairs as a driver-local relation starves the caller's
    * downstream (round/sort/BH all run over the local scan) — measured
    * SLOWER at 1000 samples (corr 2.8 → 3.3 s, inference 2.9 → 5.6 s)
    * while the sketch-thresholded variant, whose output is candidate-
    * bounded, kept winning at the wider gate.
    */
  private[graft] val SpearmanMatrixLocalMaxSamples = 256
  /** Pair-event budget for the local kernels: beyond ~3·10⁸ accumulate
    * steps the distributed expansion's parallelism wins back its fixed
    * cost, so the local path declines and the caller falls through.
    */
  private[graft] val SpearmanLocalEventBudget = 300000000L

  /** Whether the local pair kernel's accumulate steps over `groups` — one
    * per same-probe row pair, Σ C(g, 2) — fit [[SpearmanLocalEventBudget]].
    * Checked right after the collect, before any sketch or pair work.
    */
  private[graft] def spearmanWithinEventBudget(groups: Array[Array[Long]]): Boolean = {
    var events = 0L
    groups.foreach(g => events += g.length.toLong * (g.length - 1) / 2)
    events <= SpearmanLocalEventBudget
  }
  private val SpearmanPackBits = 40 // packed entry: sid << 40 | ar2 (ar2 ≤ 2·MaxRows+1 < 2²²)

  /** Collect the persisted rank table and group it per probe as packed
    * (sampleIndex << 40 | ar2) longs. Caller guarantees rows ≤
    * [[SpearmanLocalMaxRows]] (which bounds ar2 ≤ 2·MaxRows+1 < 2²² ≪ 2⁴⁰).
    * Rows whose sample id is absent from `sampleIds` (a NULL sample) are
    * skipped, as the distributed path drops them at its sample join.
    */
  private def spearmanCollectGroups(rb: DataFrame, probeCol: String,
      sampleCol: String, sampleIds: Array[String])
      : (Array[String], Array[Array[Long]]) = {
    val sid = new java.util.HashMap[String, Integer]()
    sampleIds.zipWithIndex.foreach { case (s, i) => sid.put(s, i) }
    val byProbe = new java.util.HashMap[String,
      scala.collection.mutable.ArrayBuffer[Long]]()
    rb.select(col(probeCol), col(sampleCol), col("ar2")).collect().foreach { r =>
      val s = sid.get(r.getString(1))
      if (s != null) byProbe.computeIfAbsent(r.getString(0),
        _ => new scala.collection.mutable.ArrayBuffer[Long]()) +=
        ((s.toLong << SpearmanPackBits) | r.getLong(2))
    }
    val probes = new Array[String](byProbe.size())
    val groups = new Array[Array[Long]](byProbe.size())
    var i = 0
    val it = byProbe.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      probes(i) = e.getKey
      groups(i) = e.getValue.toArray
      i += 1
    }
    (probes, groups)
  }

  /** Driver-local exact pair moments + ρ — the integer/double sequence of
    * [[spearmanMatrix]]'s distributed expansion, verbatim: per shared
    * probe accumulate (cnt, Σra, Σrb, Σra², Σrb², Σra·rb) in exact longs
    * for each ordered pair (dict index asc, equal-sample rows skipped);
    * per pair with cnt ≥ 2, combine in exact BigInt (the decimal(38,0)
    * sequence), cast to double, keep denx·deny > 0, ρ = num/√(denx·deny).
    * BigInt.toDouble and Decimal.toDouble are both correctly-rounded, so
    * the doubles match bit-for-bit (PropertySpec + the k12 oracles pin
    * it). Callers check [[spearmanWithinEventBudget]] first.
    *
    * @param cand candidate-pair filter as (saIdx << 32 | sbIdx) keys, or
    *             null for all pairs (the full-matrix kernel)
    * @param tau  |ρ| threshold applied at emit, or NaN for none
    */
  private def spearmanPairsLocalFrom(spark: org.apache.spark.sql.SparkSession,
      groups: Array[Array[Long]], sampleIds: Array[String],
      cand: java.util.HashSet[java.lang.Long], tau: Double): DataFrame = {
    val nS = sampleIds.length
    val mask = (1L << SpearmanPackBits) - 1
    val cells = nS * nS
    val cnt = new Array[Long](cells)
    val sx = new Array[Long](cells)
    val sy = new Array[Long](cells)
    val sxx = new Array[Long](cells)
    val syy = new Array[Long](cells)
    val sxy = new Array[Long](cells)
    groups.foreach { g =>
      java.util.Arrays.sort(g) // sid-ascending (sid is the high bits)
      var i = 0
      while (i < g.length) {
        val si = (g(i) >>> SpearmanPackBits).toInt
        val ai = g(i) & mask
        val rowBase = si * nS
        var j = i + 1
        while (j < g.length) {
          val sj = (g(j) >>> SpearmanPackBits).toInt
          if (sj != si) { // equal-sample duplicates: sa < sb excludes them
            val aj = g(j) & mask
            val idx = rowBase + sj
            cnt(idx) += 1
            sx(idx) += ai
            sy(idx) += aj
            sxx(idx) += ai * ai
            syy(idx) += aj * aj
            sxy(idx) += ai * aj
          }
          j += 1
        }
        i += 1
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var a = 0
    while (a < nS) {
      var b = a + 1
      while (b < nS) {
        val idx = a * nS + b
        val n = cnt(idx)
        if (n >= 2 &&
            (cand == null || cand.contains((a.toLong << 32) | b.toLong))) {
          val bn = BigInt(n)
          val bsx = BigInt(sx(idx))
          val bsy = BigInt(sy(idx))
          val denx = (bn * sxx(idx) - bsx * bsx).toDouble
          val deny = (bn * syy(idx) - bsy * bsy).toDouble
          if (denx * deny > 0.0) {
            val rho = (bn * sxy(idx) - bsx * bsy).toDouble /
              math.sqrt(denx * deny)
            if (tau.isNaN || math.abs(rho) >= tau)
              out += org.apache.spark.sql.Row(sampleIds(a), sampleIds(b), n, rho)
          }
        }
        b += 1
      }
      a += 1
    }
    // schema mirrors the distributed output exactly, nullability included
    // (sa/sb from a local-seq dim join, n_shared a non-null count cast,
    // rho a nullable arithmetic column). A LocalRelation (not an RDD) so
    // plan statistics stay accurate for downstream dispatches
    // (planRowEstimate reads its real byte size; a LogicalRDD reports the
    // unknown-size default and would shunt a 5k-row BH onto the ranged
    // path).
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sa",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("sb",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("n_shared",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rho",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    spark.createDataFrame(java.util.Arrays.asList(out.toArray: _*), schema)
  }

  /** Local full-matrix kernel: collect + all-pairs moments, or None above
    * the pair-event budget (the caller falls through to the distributed
    * plan).
    */
  private def spearmanMatrixLocal(rb: DataFrame, probeCol: String,
      sampleCol: String, sampleIds: Array[String]): Option[DataFrame] = {
    val (_, groups) = spearmanCollectGroups(rb, probeCol, sampleCol, sampleIds)
    if (!spearmanWithinEventBudget(groups)) None
    else Some(spearmanPairsLocalFrom(rb.sparkSession, groups, sampleIds, null, Double.NaN))
  }

  /** Local thresholded kernel: the identical md5 hyperplane table, exact
    * integer projections ([[graft.functions.SignSketchAgg]]'s
    * n·sdot − sr·ssum ≥ 0 bit rule), band canonicalization and bucket
    * candidate pairs as the distributed plan, then the shared local pair
    * verify restricted to candidates. The sign convention replays
    * `substring(md5(probe || '#' || j), 1, 1) < '8'` as "first digest
    * byte ≥ 0" (high nibble 0–7 ⟺ non-negative signed byte). None above
    * the pair-event budget, checked before the sketch is built.
    */
  private def spearmanThresholdedLocal(rb: DataFrame, probeCol: String,
      sampleCol: String, sampleIds: Array[String], bands: Int, r: Int,
      tau: Double): Option[DataFrame] = {
    val (probes, groups) = spearmanCollectGroups(rb, probeCol, sampleCol, sampleIds)
    if (!spearmanWithinEventBudget(groups)) return None
    val nS = sampleIds.length
    val nbits = bands * r
    val mask = (1L << SpearmanPackBits) - 1
    // ±1 per (probe, bit): md5 over the distinct-probe axis, as distributed
    val md = java.security.MessageDigest.getInstance("MD5")
    val plusBits = new Array[Array[Boolean]](probes.length)
    var p = 0
    while (p < probes.length) {
      val bits = new Array[Boolean](nbits)
      var j = 0
      while (j < nbits) {
        md.reset()
        bits(j) = md.digest(
          (probes(p) + "#" + j).getBytes(java.nio.charset.StandardCharsets.UTF_8))(0) >= 0
        j += 1
      }
      plusBits(p) = bits
      p += 1
    }
    // per-sample exact integer sketch state (SignSketchAgg's buffer)
    val n = new Array[Long](nS)
    val sr = new Array[Long](nS)
    val sdot = Array.ofDim[Long](nS, nbits)
    val ssum = Array.ofDim[Long](nS, nbits)
    p = 0
    while (p < probes.length) {
      val bits = plusBits(p)
      val g = groups(p)
      var i = 0
      while (i < g.length) {
        val s = (g(i) >>> SpearmanPackBits).toInt
        val ar2 = g(i) & mask
        n(s) += 1
        sr(s) += ar2
        val sd = sdot(s)
        val ss = ssum(s)
        var j = 0
        while (j < nbits) {
          if (bits(j)) { sd(j) += ar2; ss(j) += 1 } else { sd(j) -= ar2; ss(j) -= 1 }
          j += 1
        }
        i += 1
      }
      p += 1
    }
    // band signatures, flip-canonicalized; bucket → candidate pairs
    val buckets = new java.util.HashMap[java.lang.Long,
      scala.collection.mutable.ArrayBuffer[Int]]()
    var s = 0
    while (s < nS) {
      def bit(j: Int): Long = {
        val proj = n(s) * sdot(s)(j) - sr(s) * ssum(s)(j)
        if (proj >= 0L) 1L else 0L
      }
      var b = 0
      while (b < bands) {
        var sig = 0L
        var i = 0
        while (i < r) { sig += bit(b * r + i) << i; i += 1 }
        val canon = if (bit(b * r) == 1L) ((1L << r) - 1) - sig else sig
        buckets.computeIfAbsent((b.toLong << 32) | canon,
          _ => new scala.collection.mutable.ArrayBuffer[Int]()) += s
        b += 1
      }
      s += 1
    }
    val cand = new java.util.HashSet[java.lang.Long]()
    val bit2 = buckets.values().iterator()
    while (bit2.hasNext) {
      val members = bit2.next()
      var i = 0
      while (i < members.length) {
        var j = i + 1
        while (j < members.length) {
          val (lo, hi) =
            if (members(i) < members(j)) (members(i), members(j))
            else (members(j), members(i))
          cand.add((lo.toLong << 32) | hi.toLong)
          j += 1
        }
        i += 1
      }
    }
    Some(spearmanPairsLocalFrom(rb.sparkSession, groups, sampleIds, cand, tau))
  }

  /** K12 thresholded production variant (r8): emit only sample pairs with
    * |Spearman ρ| ≥ `tau`, via a deterministic sign-sketch pre-filter so
    * the plan is no longer unconditionally samples² — the one k12
    * contract that breaks at 100 TB sample counts. Spearman ρ is Pearson
    * on ranks = the cosine of mean-centered rank vectors, so |ρ| ≥ τ
    * pairs are near-parallel (or near-antipodal) in centered-rank space,
    * and random-hyperplane sign bits (Charikar, STOC'02 — the d04 SimHash
    * family) collide them into shared buckets:
    *
    *  1. per-sample doubled ranks (k12's exact tie-cell construction);
    *  2. per (sample, bit j): the EXACT INTEGER projection sign — with
    *     hash-derived ±1 signs s(probe, j) (first md5 hex digit, engine-
    *     portable), p_j = n·Σ s·ar2 − (Σ ar2)·(Σ s) is n× the projection
    *     of the centered rank vector, all in integer arithmetic, so the
    *     sign is order-free exact in both engines;
    *  3. bits pack into `bands` band signatures, each canonicalized under
    *     global sign flip (lead bit 1 ⇒ complement) so anti-correlated
    *     pairs collide too;
    *  4. pairs sharing any (band, canonical signature) bucket are
    *     candidates; ONLY candidates pay the exact k12 moment aggregate,
    *     and the |ρ| ≥ τ filter runs on the exact value.
    *
    * The band width r is derived from the sample count (smallest r with
    * 4·2^r ≥ samples, floor 4) so expected bucket size stays ~4 and the
    * candidate stage stays ~linear in samples; total bits = bands·r.
    * Semantics are deterministic and SQL-expressible (the d10 rule): the
    * oracle replays the identical sketch, so recall is part of the
    * operator's definition — every emitted pair is EXACT (a true
    * |ρ| ≥ τ pair with k12's bit-identical ρ). A ρ = +1 pair is always
    * found (identical projections ⇒ identical bits ⇒ same bucket in
    * every band). A ρ = −1 pair is found whenever some band has no
    * zero projection: negated rank vectors give negated p_j, and the
    * flip-canonicalization collapses complementary bands — but p_j = 0
    * maps to bit 1 on BOTH sides (sign(0) can't anti-commute), so a
    * band containing a zero projection loses exact complementarity.
    * Pairs barely above τ are found with the standard banded-LSH
    * probability (AnalyticSpec pins the main directions).
    *
    * Width rule: the verify-stage moments use k12's 300k-probe
    * bigint/decimal dispatch; the sketch runs in checked long arithmetic
    * inside SignSketchAgg (exact to ~1.3M probes per sample — the same
    * 4n³ < 2⁶³ envelope as k12's fast path — and loud beyond, never a
    * silent wrap).
    */
  def spearmanThresholded(df: DataFrame, probeCol: String, sampleCol: String,
      valCol: String, tau: Double, bands: Int = 8,
      forceDecimal: Option[Boolean] = None): DataFrame = {
    require(tau > 0.0 && tau < 1.0, s"tau=$tau outside (0, 1)")
    val spark = df.sparkSession
    import spark.implicits._
    // one-window-pass doubled ranks — see spearmanMatrix (r9)
    val w = Window.partitionBy(sampleCol).orderBy(valCol)
    val cumAll = count(lit(1))
      .over(w.rangeBetween(Window.unboundedPreceding, Window.currentRow))
    val ties = count(lit(1))
      .over(w.rangeBetween(Window.currentRow, Window.currentRow))
    // consumed by the sketch (probes×bits) AND the candidate verify —
    // persist so the rank window runs once
    val rb = graft.ops.Caches.track(
      df.withColumn("ar2", lit(2L) * cumAll - ties + lit(1L))
        .select(col(probeCol), col(sampleCol), col("ar2"))
        .persist())
    // Width dispatch on the semantically-correct axis: every moment here
    // (sketch projections and pair sums alike) is bounded by 4·n³ where n
    // is the MAX PER-SAMPLE probe count — not the total probe axis k12
    // conservatively dispatches on (equal only in the dense-grid case).
    // A replica-disjoint or sharded corpus keeps per-sample n small while
    // total probes grow unboundedly; dispatching on the real bound keeps
    // the 64×-sweep pair stream on 8-byte bigint rows instead of 16-byte
    // decimals (the sort/shuffle volume of the verify stage is the
    // operator's dominant memory term).
    // ONE samples-bounded aggregate serves the width dispatch (max
    // per-sample probe count), the sample-axis collect (r derivation +
    // dict-encode) and the rb cache fill — was three jobs (r9).
    // NULL-sample rows never match the sample dictionary (spearmanMatrix's
    // collect_set drops them the same way)
    val perSample = rb.groupBy(sampleCol).agg(count(lit(1)).as("__n"))
      .collect().filterNot(_.isNullAt(0))
    val useDecimal = forceDecimal.getOrElse(
      (if (perSample.isEmpty) 0L else perSample.map(_.getLong(1)).max) > 1300000L)
    val width = if (useDecimal) "decimal(38,0)" else "bigint"
    val sampleIds = perSample.map(_.getString(0)).sorted
    val nSamples = sampleIds.length.toLong
    val r = (4 to 30).find(b => (1L << b) * 4 >= nSamples).getOrElse(30)
    // Driver-local size dispatch (r10, see spearmanMatrix): the sketch +
    // candidate + verify chain replays driver-side over the collected rank
    // table — identical md5 signs, identical exact integer projections and
    // moments, identical doubles (PropertySpec pins local ≡ distributed;
    // the k12_spearman_thresholded oracle replays the whole chain). The
    // ~10-shuffle sketch/candidate plan is pure fixed cost at this size.
    if (forceDecimal.isEmpty &&
        perSample.foldLeft(0L)(_ + _.getLong(1)) <= SpearmanLocalMaxRows &&
        nSamples <= SpearmanLocalMaxSamples) {
      val local = spearmanThresholdedLocal(rb, probeCol, sampleCol,
        sampleIds, bands, r, tau)
      if (local.isDefined) return local.get
    }
    val nbits = bands * r
    // ±1 per (probe, bit) computed once on the distinct-probe axis and
    // PACKED into a long bitmask (bit set ⇒ +1) — md5 runs probes×bits
    // times, not rows×bits, and the join payload is words, not nbits rows
    val nWords = (nbits + 63) / 64
    def signBit(j: Int): Column =
      when(substring(md5(concat(col(probeCol), lit("#"), lit(j.toString))),
        1, 1) < "8", lit(1L << (j % 64))).otherwise(lit(0L))
    val signWords = (0 until nWords).map { w =>
      (w * 64 until math.min((w + 1) * 64, nbits))
        .map(signBit).reduce(_.bitwiseOR(_))
    }
    val signs = rb.select(col(probeCol)).distinct()
      .select(col(probeCol), array(signWords: _*).as("words"))
    // One sign-sketch buffer per sample (functions/SignSketchAgg — exact
    // integer projections, no per-(sample, bit) row amplification: the
    // groupBy(sample, bit) restatement OOM'd an 8 g heap at the 64×
    // sweep). The skinny joined rows pre-partition by sample so the
    // object aggregation keeps ONE buffer per sample and its partial
    // output already satisfies the final distribution (the
    // PoissonBootAgg pattern).
    val sketch = udaf(new graft.functions.SignSketchAgg(nbits))
    val proj = rb.join(signs, probeCol)
      .repartition(col(sampleCol))
      .groupBy(col(sampleCol))
      .agg(sketch(col("ar2"), col("words")).as("bits"))
    // band signatures row-local from the bit array; canonicalized under
    // global sign flip (lead bit 1 ⇒ complement) so anti-correlated pairs
    // collide too
    def bitAt(j: Int) = element_at(col("bits"), j + 1)
    val bandCols = (0 until bands).map { b =>
      val sig = (0 until r).map(i => bitAt(b * r + i) * lit(1L << i))
        .reduce(_ + _)
      struct(lit(b).as("band"),
        when(bitAt(b * r) === 1, lit((1L << r) - 1) - sig).otherwise(sig)
          .as("canon"))
    }
    val bandSig = proj
      .select(col(sampleCol), explode(array(bandCols: _*)).as("bc"))
      .select(col(sampleCol), col("bc.band").as("band"),
        col("bc.canon").as("canon"))
    // Candidate pairs on DICT-ENCODED int sample keys (k12's shuffle-byte
    // rule; index order preserves the lexical sort so sa_i < sb_i keeps
    // the string semantics).
    val sdim = broadcast(sampleIds.zipWithIndex.toSeq.toDF(sampleCol, "__sid"))
    val bse = bandSig.join(sdim, sampleCol)
      .select(col("__sid"), col("band"), col("canon"))
    val cand = bse.select(col("__sid").as("sa_i"), col("band"), col("canon"))
      .join(bse.select(col("__sid").as("sb_i"), col("band"), col("canon")),
        Seq("band", "canon"))
      .filter(col("sa_i") < col("sb_i"))
      .select("sa_i", "sb_i").distinct()
    // Exact k12 moments, restricted to candidates — in k12's OWN plan
    // shape: the probe-keyed self-join expands pairs STREAM-SIDE inside
    // the join stage (never materializing/shuffling expanded rows — the
    // (l ⋈ cand) ⋈ rr formulation shuffled |cand|×probes rows and OOM'd
    // the 64× sweep on an 8 g heap), and the candidate restriction is a
    // BROADCAST left-semi applied in the same stage, so only candidate
    // pairs reach the moment aggregate. cand is bounded by Σ C(bucket, 2)
    // (≈ bands × samples × expected-bucket-size ≈ linear in samples by
    // the derived-r rule), so the broadcast stays tens of MB at 64k
    // samples; like d03's LSH bands, adversarial all-identical corpora
    // inflate it only with true near-duplicates.
    val rbe = rb.join(sdim, sampleCol)
    val l = rbe.select(col(probeCol), col("__sid").as("sa_i"),
      col("ar2").cast(width).as("ra"))
    val rr = rbe.select(col(probeCol), col("__sid").as("sb_i"),
      col("ar2").cast(width).as("rbv"))
    val m = l.join(rr, probeCol).filter(col("sa_i") < col("sb_i"))
      .join(broadcast(cand), Seq("sa_i", "sb_i"), "left_semi")
      .groupBy("sa_i", "sb_i")
      .agg(count(lit(1)).as("cnt"),
        sum("ra").as("msx"), sum("rbv").as("msy"),
        sum(col("ra") * col("ra")).as("msxx"),
        sum(col("rbv") * col("rbv")).as("msyy"),
        sum(col("ra") * col("rbv")).as("msxy"))
    val dec = "decimal(38,0)"
    def D(c: String) = col(c).cast(dec)
    val (n, sx, sy, sxx, syy, sxy) =
      (D("cnt"), D("msx"), D("msy"), D("msxx"), D("msyy"), D("msxy"))
    val denx = (n * sxx - sx * sx).cast("double")
    val deny = (n * syy - sy * sy).cast("double")
    m.filter(col("cnt") >= 2 && denx * deny > 0.0)
      .withColumn("rho",
        (n * sxy - sx * sy).cast("double") / sqrt(denx * deny))
      .filter(abs(col("rho")) >= tau)
      .join(broadcast(sdim.toDF("sa", "sa_i")), "sa_i")
      .join(broadcast(sdim.toDF("sb", "sb_i")), "sb_i")
      .select(col("sa"), col("sb"), col("cnt").cast("bigint").as("n_shared"),
        col("rho"))
  }

  /** Per-group z-score normalization (the feature-standardization step,
    * grouped): moments come from ONE exact-integer aggregate per group
    * (the same bit-stable path as the variance operators — integer n/s/ss,
    * then a fixed double-op sequence), broadcast back, z computed
    * row-locally. The value column must be integer-valued; the data
    * itself never shuffles.
    */
  def zscoreNormalize(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val v = col(valCol).cast("bigint")
    val m = df.groupBy(groupCol).agg(count(lit(1)).as("__n"),
      sum(v).as("__s"), sum(v * v).as("__ss"))
    df.join(broadcast(m), groupCol)
      .withColumn("z",
        (v.cast("double") - col("__s").cast("double") / col("__n").cast("double")) /
          sqrt(graft.functions.Fns.varFromMoments(col("__n"), col("__s"), col("__ss"))))
      .drop("__n", "__s", "__ss")
  }
}
