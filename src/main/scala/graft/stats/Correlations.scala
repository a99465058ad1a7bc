package graft.stats

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Matrix
import org.apache.spark.ml.stat.Correlation
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed Pearson correlation matrices (SURVEY.md A13/A15).
  *
  * The reference computes a 41×41 target correlation matrix
  * (`eda_workspace/public_eda_pipeline.py:140-141`) and a 519×41
  * feature×target cross-correlation grid via centered `XᵀY/n`
  * (`P:495-511`). The Spark-idiomatic form is ONE pass of
  * `ml.stat.Correlation.corr` over an assembled vector column — a single
  * distributed Gramian accumulation instead of O(k²) separate agg jobs.
  * The resulting k×k matrix is tiny (≤ a few thousand entries) and is
  * flattened driver-side to a long (col_a, col_b, corr) table.
  *
  * Scale note: `Correlation.corr` reduces via treeAggregate of a k×k
  * co-moment buffer — one scan, no shuffle of row data; this is the plan
  * you want at 100 TB for k up to a few thousand.
  */
object Correlations {

  /** k×k Pearson matrix over `cols`, nulls mean-imputed upstream or rows
    * dropped here (`dropRows=true` mirrors pandas `DataFrame.corr`'s
    * pairwise-complete default only when data has no nulls; the reference's
    * target matrix has none). */
  def corrMatrix(df: DataFrame, cols: Seq[String], dropNullRows: Boolean = true): Matrix = {
    val base = if (dropNullRows) df.na.drop(cols) else df
    val casted = base.select(cols.map(c => col(c).cast(DoubleType).as(c)): _*)
    if (cols.length <= 16) return corrMatrixAgg(casted, cols)
    val assembled = new VectorAssembler()
      .setInputCols(cols.toArray)
      .setOutputCol("__v")
      .transform(casted)
      .select("__v")
    Correlation.corr(assembled, "__v", "pearson").head.getAs[Matrix](0)
  }

  /** Small-k Pearson matrix via two centered aggregate passes (means,
    * then co-moments of deviations) — numerically stable (no n·Σx² −
    * (Σx)² cancellation) and ~10× cheaper than the assembler +
    * `Correlation.corr` pipeline for k ≤ 16 (k + C(k,2) codegen'd aggs
    * per pass vs RowMatrix machinery). Two scans instead of a cache:
    * at scale a second columnar scan of k pruned columns is cheaper
    * than materializing the frame. */
  private def corrMatrixAgg(casted: DataFrame, cols: Seq[String]): Matrix = {
    val k = cols.length
    val meanRow = casted.agg(
      avg(col(cols.head)).as("m0"),
      cols.tail.zipWithIndex.map { case (c, i) => avg(col(c)).as(s"m${i + 1}") }: _*).head()
    val means = cols.indices.map(i => if (meanRow.isNullAt(i)) 0.0 else meanRow.getDouble(i))
    val devs = cols.indices.map(i => col(cols(i)) - means(i))
    val pairs = for { i <- 0 until k; j <- i until k } yield (i, j)
    val aggs = pairs.map { case (i, j) => sum(devs(i) * devs(j)).as(s"c${i}_$j") }
    val comRow = casted.agg(aggs.head, aggs.tail: _*).head()
    val com = Array.ofDim[Double](k, k)
    pairs.zipWithIndex.foreach { case ((i, j), idx) =>
      val v = if (comRow.isNullAt(idx)) Double.NaN else comRow.getDouble(idx)
      com(i)(j) = v; com(j)(i) = v
    }
    val vals = Array.tabulate(k, k) { (i, j) =>
      val d = math.sqrt(com(i)(i) * com(j)(j))
      if (d > 0) com(i)(j) / d else if (i == j) 1.0 else Double.NaN
    }
    org.apache.spark.ml.linalg.Matrices.dense(k, k, vals.flatten)
  }

  /** Long-format (col_a, col_b, corr) for all ordered pairs a < b. */
  def corrLong(df: DataFrame, cols: Seq[String]): DataFrame = {
    val m = corrMatrix(df, cols)
    val spark = df.sparkSession
    val rows = for {
      i <- cols.indices
      j <- cols.indices
      if i < j
    } yield Row(cols(i), cols(j), m(i, j))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.asJava,
      StructType(Seq(
        StructField("col_a", StringType, nullable = false),
        StructField("col_b", StringType, nullable = false),
        StructField("corr", DoubleType, nullable = true))))
  }

  /** Mean-impute `cols` in one exact pass (reference A11,
    * `public_eda_pipeline.py:496-499`): per-column means via a single
    * decimal-accumulated aggregate (order-independent, so the imputed
    * values are bit-deterministic), then `coalesce(col, mean)`. Columns
    * that are entirely null fill with 0.0 like the reference's
    * `np.nan_to_num` fallback. */
  def imputeMeans(df: DataFrame, cols: Seq[String]): DataFrame = {
    val means = graft.core.WideAgg.runBatched(
      df, cols,
      c => graft.functions.SumQ6.sum_q6(col(c)) / count(col(c)))
      .toMap
    // one projection for all columns (withColumns), not a foldLeft of
    // withColumn: per-column re-analysis is O(k²) in plan-build time and
    // dominates wall-clock at the reference's 2241-column width
    val repl = cols.map { c =>
      val m = means.getOrElse(c, None).filterNot(_.isNaN).getOrElse(0.0)
      c -> coalesce(col(c).cast(DoubleType), lit(m))
    }.toMap
    df.withColumns(repl)
  }

  /** Cross-correlation block: features × targets Pearson grid via one
    * assembled pass (reference screening `P:495-511`, 519×41). Nullable
    * features are mean-imputed first (the reference mean-imputes NaNs
    * before its centered XᵀY grid, `P:496-499`; VectorAssembler would
    * otherwise throw on nulls). Returns (feature, target, corr, abs_corr). */
  def crossCorr(df: DataFrame, features: Seq[String], targets: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(
      crossCorrRows(df, features, targets).asJava,
      StructType(Seq(
        StructField("feature", StringType, nullable = false),
        StructField("target", StringType, nullable = false),
        StructField("corr", DoubleType, nullable = true),
        StructField("abs_corr", DoubleType, nullable = true))))
  }

  /** [[crossCorr]]'s grid as driver rows, in feature-major catalog order. */
  def crossCorrRows(df: DataFrame, features: Seq[String], targets: Seq[String]): IndexedSeq[Row] = {
    val imputed = imputeMeans(df, features)
    val m = corrMatrix(imputed, features ++ targets, dropNullRows = false)
    val nf = features.length
    for {
      i <- features.indices
      j <- targets.indices
    } yield Row(features(i), targets(j), m(i, nf + j), math.abs(m(i, nf + j)))
  }

  /** Pairwise co-occurrence counts and lift for binary 0/1 columns via the
    * Gramian yᵀy (reference A14, `P:143-163`): one distributed pass, then
    * driver-side pair enumeration (≤ C(k,2) rows). Lift =
    * P(a∧b)/(P(a)·P(b)). */
  def pairLift(df: DataFrame, cols: Seq[String]): DataFrame = {
    // O(k²) aggregate expressions — one codegen'd pass for k ≤ 64; wider
    // inputs route through the RowMatrix Gramian (one treeAggregate of a
    // k×k buffer — no codegen blowup).
    if (cols.length > 64) return pairLiftGramian(df, cols)
    val spark = df.sparkSession
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j } yield (i, j)
    // ONE full-scan pass: total count + k marginal sums + C(k,2) co-counts.
    val allAggs =
      Seq(count(lit(1)).as("__n")) ++
        cols.map(c => sum(col(c).cast(LongType)).as(c)) ++
        pairs.map { case (i, j) =>
          sum((col(cols(i)) * col(cols(j))).cast(LongType)).as(s"${i}_$j")
        }
    val row = df.agg(allAggs.head, allAggs.tail: _*).head()
    val n = row.getLong(0).toDouble
    val counts = cols.indices.map(i => if (row.isNullAt(1 + i)) 0L else row.getLong(1 + i))
    val coBase = 1 + cols.length
    val rows = pairs.zipWithIndex.map { case ((i, j), k) =>
      val co = if (row.isNullAt(coBase + k)) 0L else row.getLong(coBase + k)
      val pa = counts(i) / n
      val pb = counts(j) / n
      val lift = if (pa > 0 && pb > 0) (co / n) / (pa * pb) else Double.NaN
      Row(cols(i), cols(j), counts(i), counts(j), co, lift)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.asJava,
      StructType(Seq(
        StructField("col_a", StringType, nullable = false),
        StructField("col_b", StringType, nullable = false),
        StructField("count_a", LongType, nullable = false),
        StructField("count_b", LongType, nullable = false),
        StructField("co_count", LongType, nullable = false),
        StructField("pair_lift", DoubleType, nullable = true))))
  }

  /** Wide-k pair lift via a single-pass distributed Gramian: each partition
    * folds its rows into a primitive upper-triangular k·(k+1)/2 buffer (plus
    * one slot for the row count), tree-reduced to the driver — scales to k in
    * the thousands where per-pair aggregate expressions would blow the
    * codegen constant pool. One scan, no cache, no separate `count()` job,
    * no per-cell boxing (the earlier `RowMatrix` form paid all three).
    * Counts are exact (0/1 inputs ⇒ integer-valued doubles below 2^53).
    * Same output schema as [[pairLift]]. */
  def pairLiftGramian(df: DataFrame, cols: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(
      pairLiftGramianRows(df, cols).asJava,
      StructType(Seq(
        StructField("col_a", StringType, nullable = false),
        StructField("col_b", StringType, nullable = false),
        StructField("count_a", LongType, nullable = false),
        StructField("count_b", LongType, nullable = false),
        StructField("co_count", LongType, nullable = false),
        StructField("pair_lift", DoubleType, nullable = true))))
  }

  /** [[pairLiftGramian]]'s pairs as driver rows, a < b in catalog order. */
  def pairLiftGramianRows(df: DataFrame, cols: Seq[String]): IndexedSeq[Row] = {
    val k = cols.length
    val tlen = k * (k + 1) / 2
    val casted = df.select(cols.map(c => coalesce(col(c).cast(DoubleType), lit(0.0)).as(c)): _*)
    val buf = casted.rdd.mapPartitions { it =>
      val acc = new Array[Double](tlen + 1) // upper-tri gram ++ row count
      val v = new Array[Double](k)
      while (it.hasNext) {
        val r = it.next()
        var i = 0
        while (i < k) { v(i) = r.getDouble(i); i += 1 }
        var idx = 0
        i = 0
        while (i < k) {
          val vi = v(i)
          var j = i
          while (j < k) { acc(idx) += vi * v(j); idx += 1; j += 1 }
          i += 1
        }
        acc(tlen) += 1.0
      }
      Iterator.single(acc)
    }.treeAggregate(new Array[Double](tlen + 1))(
      // zero-buffer aggregate (not treeReduce): an empty/zero-partition
      // input degrades to the zero Gramian instead of throwing
      { (a, b) =>
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      },
      { (a, b) =>
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      })
    val n = buf(tlen)
    // row i of the upper triangle starts at i*k - i*(i-1)/2; requires i <= j.
    def gram(i: Int, j: Int): Double = buf(i * k - i * (i - 1) / 2 + (j - i))
    for { i <- 0 until k; j <- 0 until k if i < j } yield {
      val ca = gram(i, i).toLong
      val cb = gram(j, j).toLong
      val co = gram(i, j).toLong
      val pa = ca / n
      val pb = cb / n
      val lift = if (pa > 0 && pb > 0) ((co / n) / (pa * pb)) else Double.NaN
      Row(cols(i), cols(j), ca, cb, co, lift)
    }
  }
}
