package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.{FeatureCatalog, Relational, Sampling, WideAgg}
import graft.io.Sinks
import graft.ml.{Adversarial, Clustering}
import graft.stats.{Auc, Correlations, StatTests}

/** End-to-end EDA pipeline: the reference's analysis blocks in order
  * (`eda_workspace/public_eda_pipeline.py:73-714`), re-expressed
  * Spark-first over the reference-schema analog (FIXTURES.md §A).
  * Emits the golden-table layout: CSVs + summary.json + report.md.
  *
  * Block → reference line map:
  *   1 counts P:76-85 · 2 target stats P:87-116 · 3 opened dist P:119-135
  *   4 pair lift P:138-173 · 5 corr matrix + antagonist P:140-181
  *   6 clustering P:184-229 · 7 main missingness P:233-247
  *   8 extra bands P:249-280 · 9 filled-count deciles/AUC P:283-318
  *   10 missing-indicator AUC P:321-364 · 11 dictionaries P:369-405
  *   12 adversarial P:410-459 · 13 linear screen P:464-536
  *   14 universality P:539-594 · 15 whales P:599-669 · 16 summary P:674-905
  *
  * Scale: a pass over input rows runs in Spark — scans, batched wide
  * aggregates, one-pass Gramians, deciles, AUC, GBT, the cross-corr grid,
  * the dictionaries and the whale contingencies. Its result, a
  * post-aggregation table (≤ ~100k rows, typically a few dozen), reaches
  * the driver exactly once, and everything after that — sorts, limits,
  * top-k, rollups, medians, the pair ⋈ corr join, CSVs and the report —
  * is driver code over those rows with Spark's ORDER BY semantics
  * ([[sortRows]]). Driver rows never become a DataFrame again: a job per
  * small table costs more in scheduling than the table's work.
  */
object EdaPipeline {

  /** One ORDER BY key over driver rows: a column index and a direction. */
  final case class By(index: Int, desc: Boolean = false)

  /** Spark's ordering of doubles: NaN largest, −0.0 = 0.0. */
  val SqlDouble: Ordering[Double] = (x, y) => SQLOrderingUtil.compareDoubles(x, y)

  private def compareValues(a: Any, b: Any): Int = (a, b) match {
    case (x: Double, y: Double) => SQLOrderingUtil.compareDoubles(x, y)
    case (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
    case _ => throw new IllegalArgumentException(s"no SQL order between $a and $b")
  }

  /** Driver rows in the order Spark's `ORDER BY` gives them: asc puts
    * nulls first, desc puts them last; doubles order as [[SqlDouble]],
    * strings by UTF-8 bytes. Stable, so rows that tie on every key keep
    * their input order. */
  def sortRows(rows: Seq[Row], keys: By*): Seq[Row] =
    rows.sorted(new Ordering[Row] {
      def compare(a: Row, b: Row): Int = keys.iterator.map { case By(i, desc) =>
        (a.isNullAt(i), b.isNullAt(i)) match {
          case (true, true) => 0
          case (true, false) => if (desc) 1 else -1
          case (false, true) => if (desc) -1 else 1
          case _ =>
            val c = compareValues(a.get(i), b.get(i))
            if (desc) -c else c
        }
      }.find(_ != 0).getOrElse(0)
    })

  /** Rows sorted by (`group`, `order`…), each with its 1-based rank inside
    * its `group` value: `row_number() OVER (PARTITION BY group ORDER BY
    * order…)`, in the order of `ORDER BY group, rank`. */
  def rankWithin(rows: Seq[Row], group: Int, order: By*): Seq[(Row, Int)] =
    sortRows(rows, By(group) +: order: _*).scanLeft((null: Row, 0)) { case ((prev, rk), r) =>
      (r, if (prev != null && prev.get(group) == r.get(group)) rk + 1 else 1)
    }.tail

  /** Spark's `avg` over driver values: the running sum over the count. */
  def mean(xs: Seq[Double]): Double = xs.foldLeft(0.0)(_ + _) / xs.size

  /** Spark's `median` (`percentile(x, 0.5)`) of non-empty driver values:
    * the middle value, or the linear interpolation of the two middle ones. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted(SqlDouble).toIndexedSeq
    val pos = (s.size - 1) * 0.5
    val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
    if (lo == hi || s(lo) == s(hi)) s(lo) else (hi - pos) * s(lo) + (pos - lo) * s(hi)
  }

  final case class Result(
      trainRows: Long, testRows: Long,
      nTargets: Int, rareTargets: Int,
      filledCountAuc: Double, filledCountPb: Double,
      adversarialAuc: Double,
      silhouetteK4: Double, largestClusterShare: Double,
      unseenCatFeatures: Int,
      screenedFeatures: Int, screenSampleRows: Long,
      whaleSignificant: Long)

  def run(spark: SparkSession, inputDir: String, outDir: String): Result = {
    def load(n: String) = spark.read.parquet(s"$inputDir/$n.parquet")
    def out(n: String) = s"$outDir/$n"
    def csv(n: String, header: Seq[String], rows: Seq[Row]): Unit =
      Sinks.writeRows(header, rows, out(n))
    // per-block wall clock (the scaling-curve instrument, FIXTURES.md):
    // prints at block END — the delta since the previous tick
    val tBlock = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    def tick(block: String): Unit = {
      val now = System.nanoTime()
      println(f"[pipeline] block $block%-28s ${(now - tBlock.getAndSet(now)) / 1e9}%6.1f s")
    }

    val trainMain = load("train_main_features")
    val testMain = load("test_main_features")
    val trainExtra = load("train_extra_features")
    val trainTarget = load("train_target")

    val mainCat = FeatureCatalog.fromSchema(trainMain.schema.fieldNames.toSeq)
    val extraCat = FeatureCatalog.fromSchema(trainExtra.schema.fieldNames.toSeq)
    val tgtCat = FeatureCatalog.fromSchema(trainTarget.schema.fieldNames.toSeq)
    val targets = tgtCat.targets

    // ---- 1: dataset sizes --------------------------------------------------
    val trainRows = trainMain.count()
    val testRows = testMain.count()

    tick("1_sizes")
    // ---- 2: target stats (wide sum → rate → family → sort) -----------------
    val sums = WideAgg.runBatched(trainTarget, targets, c => sum(col(c).cast("long"))).toMap
    val targetStats = targets.map { t =>
      val pos = sums(t).map(_.toLong).getOrElse(0L)
      (t, FeatureCatalog.targetFamily(t), pos, pos.toDouble / trainRows)
    }
    val targetStatsHeader = Seq("target", "family", "positive_count", "positive_rate")
    val targetStatsRows = sortRows(targetStats.map(Row.fromTuple), By(2, desc = true), By(0))
    csv("target_stats.csv", targetStatsHeader, targetStatsRows)
    val familyHeader = Seq("family", "n_targets", "avg_rate", "min_rate", "max_rate")
    val familyRows = sortRows(
      targetStatsRows.groupBy(_.getString(1)).toSeq.map { case (family, rs) =>
        val rates = rs.map(_.getDouble(3))
        Row(family, rs.size.toLong, mean(rates), rates.min(SqlDouble), rates.max(SqlDouble))
      }, By(0))
    csv("target_family_stats.csv", familyHeader, familyRows)

    tick("2_target_stats")
    // ---- 3: opened-targets distribution ------------------------------------
    val openedRows = sortRows(
      trainTarget.groupBy(WideAgg.horizontalSum(targets).as("n_opened"))
        .agg(count(lit(1)).as("n_customers")).collect().toSeq,
      By(0))
    csv("opened_targets_distribution.csv", Seq("n_opened", "n_customers"), openedRows)

    tick("3_opened_dist")
    // ---- 4: pair co-occurrence + lift --------------------------------------
    val pairHeader = Seq("col_a", "col_b", "count_a", "count_b", "co_count", "pair_lift")
    val pairRows = sortRows(Correlations.pairLiftGramianRows(trainTarget, targets), By(0), By(1))
    csv("target_pair_stats.csv", pairHeader, pairRows)
    val topLiftPairs =
      sortRows(pairRows.filter(_.getLong(4) >= 10), By(5, desc = true), By(0), By(1)).take(30)
    csv("target_top_pairs.csv", pairHeader, topLiftPairs)

    tick("4_pair_lift")
    // ---- 5: 41×41 corr matrix + antagonist slice ---------------------------
    val corrM = Correlations.corrMatrix(trainTarget, targets)
    csv("target_corr_matrix.csv", "target" +: targets, targets.indices.map { i =>
      Row.fromSeq(targets(i) +: targets.indices.map(j => corrM(i, j)))
    })
    // pair tables enriched with the pearson corr of each pair
    // (reference `P:168-173`): top-30 positive / negative / lift slices
    val targetIdx = targets.zipWithIndex.toMap
    val pairCorrHeader = pairHeader :+ "corr"
    def withCorr(r: Row): Row =
      Row.fromSeq(r.toSeq :+ corrM(targetIdx(r.getString(0)), targetIdx(r.getString(1))))
    val pairWithCorr = pairRows.map(withCorr)
    csv("top_positive_target_pairs.csv", pairCorrHeader,
      sortRows(pairWithCorr, By(6, desc = true), By(0), By(1)).take(30))
    csv("top_negative_target_pairs.csv", pairCorrHeader,
      sortRows(pairWithCorr, By(6), By(0), By(1)).take(30))
    csv("top_cooccurrence_lift_pairs.csv", pairCorrHeader, topLiftPairs.map(withCorr))

    val antagonist = targets.head // family-10 analog of target_10_1
    val ai = targets.indexOf(antagonist)
    val others = targets.indices.filter(_ != ai)
    val antiCorrs = others.map(j => corrM(ai, j))
    val antagonistNegShare = antiCorrs.count(_ < 0).toDouble / antiCorrs.size
    csv("antagonist_corr_slice.csv", Seq("target", "corr_with_antagonist"),
      sortRows(others.map(j => Row(targets(j), corrM(ai, j))), By(1)))
    // abs-sorted profile variant (reference's target_10_1_profile, `P:175-181`)
    csv("antagonist_profile.csv", Seq("other_target", "correlation", "abs_correlation"),
      sortRows(others.map(j => Row(targets(j), corrM(ai, j), math.abs(corrM(ai, j)))),
        By(2, desc = true), By(0)))

    tick("5_corr_matrix")
    // ---- 6: clustering on 1−|corr| (k ∈ {3,4,5}) ---------------------------
    val dist = Array.tabulate(targets.size, targets.size)((i, j) => 1.0 - math.abs(corrM(i, j)))
    val byK = Seq(3, 4, 5).map { k =>
      val labels = Clustering.averageLinkage(dist, k)
      k -> (labels, Clustering.silhouette(dist, labels))
    }.toMap
    val (labels4, sil4) = byK(4)
    // per-k quality table: silhouette + cluster-size value counts
    // (reference's target_cluster_quality, `P:186-205`)
    csv("target_cluster_quality.csv", Seq("k", "silhouette_precomputed", "largest_cluster_share",
      "min_cluster_size", "max_cluster_size"), Seq(3, 4, 5).map { k =>
      val (labels, sil) = byK(k)
      val sizes = labels.groupBy(identity).values.map(_.size)
      Row(k, sil, sizes.max.toDouble / targets.size, sizes.min, sizes.max)
    })
    val families = targets.map(FeatureCatalog.targetFamily).toArray
    csv("target_cluster_assignments.csv", Seq("target", "family", "cluster"),
      sortRows(targets.indices.map(i => Row(targets(i), families(i), labels4(i))), By(2), By(0)))
    csv("target_cluster_summary.csv",
      Seq("cluster", "size", "avg_intra_dist", "dominant_family", "dominant_share"),
      Clustering.summaries(dist, labels4, families).map(Row.fromTuple))
    val largestShare = labels4.groupBy(identity).values.map(_.size).max.toDouble / targets.size

    tick("6_clustering")
    // ---- 7: main-feature missingness ---------------------------------------
    val mainFeats = mainCat.allFeatures
    val mainNulls = WideAgg.nullRates(trainMain, mainFeats)

    tick("7_main_missing")
    // ---- 8: extra-feature missingness bands --------------------------------
    val extraNulls = WideAgg.nullRates(trainExtra, extraCat.numFeatures)
    // the combined summary is main ∪ extra (reference `P:249-267`), plus
    // the extra-only slice and its top-10-missing head as separate tables
    val missingHeader = Seq("col_name", "null_rate", "feature_type", "source")
    def missingRows(rates: Seq[(String, Option[Double])], source: String): Seq[Row] =
      rates.map { case (c, nr) =>
        Row(c, nr.getOrElse(null), if (c.startsWith("num_")) "numeric" else "categorical", source)
      }
    csv("feature_missingness_summary.csv", missingHeader, sortRows(
      missingRows(mainNulls, "main") ++ missingRows(extraNulls, "extra"),
      By(1, desc = true), By(0)))
    val extraMissing = sortRows(missingRows(extraNulls, "extra"), By(1, desc = true), By(0))
    csv("extra_missingness_summary.csv", missingHeader, extraMissing)
    csv("top10_missing_features.csv", missingHeader, extraMissing.take(10))
    // upper-bound-exclusive bands; a null rate (empty input) falls through
    // to the last band, as `Relational.bandLabel` does
    val bands = Seq("a_.. <=0.10" -> 0.10001, "b_.. <=0.50" -> 0.50001,
      "c_.. <=0.90" -> 0.90001, "d_.. <=0.99" -> 0.99001)
    def band(nr: Option[Double]): String = nr
      .flatMap(r => bands.collectFirst { case (label, ub) if r < ub => label })
      .getOrElse("e_.. >0.99")
    val bandHeader = Seq("band", "n_features")
    val bandRows = sortRows(
      extraNulls.groupBy(x => band(x._2)).toSeq.map { case (b, fs) => Row(b, fs.size.toLong) },
      By(0))
    csv("extra_missingness_bands.csv", bandHeader, bandRows)

    tick("8_extra_bands")
    // ---- 9: filled-extra-count → deciles, AUC, point-biserial --------------
    val filled = trainExtra.select(
      col("customer_id"),
      WideAgg.horizontalNotNullCount(extraCat.numFeatures).as("filled_extra_count"))
    val anyOpen = trainTarget.select(
      col("customer_id"),
      WideAgg.flag(WideAgg.horizontalSum(targets) > 0).as("any_open"))
    val joined = filled.join(anyOpen, Seq("customer_id"), "inner").cache()
    val decileDf = Relational
      .decileExact(joined, Seq(col("filled_extra_count"), col("customer_id")))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), avg(col("filled_extra_count")).as("avg_filled"),
        avg(col("any_open").cast("double")).as("open_rate"))
    val decileHeader = decileDf.columns.toSeq
    val deciles = sortRows(decileDf.collect().toSeq, By(0))
    csv("filled_extra_count_deciles.csv", decileHeader, deciles)
    val aucRow = Auc.aucDf(joined, col("any_open") === 1, col("filled_extra_count")).collect()(0)
    val filledAuc = aucRow.getAs[Double]("auc")
    val pbRow = joined.agg(
      corr(col("any_open").cast("double"), col("filled_extra_count").cast("double")).as("r"),
      count(lit(1)).as("n")).collect()(0)
    val filledPb = pbRow.getAs[Double]("r")
    val filledPbP = StatTests.corrPValue(filledPb, pbRow.getAs[Long]("n"))
    joined.unpersist()

    tick("9_filled_deciles")
    // ---- 10: missing-indicator AUC (30% sample) ----------------------------
    val candidates = extraNulls
      .collect { case (c, Some(nr)) if nr > 0.05 && nr < 0.95 => c }.take(20)
    val sampled = Sampling.modSample(trainExtra, "customer_id", 30)
      .select((col("customer_id") +: candidates.map(col)): _*)
      .join(anyOpen, Seq("customer_id"), "inner")
      .select((col("any_open") +: candidates.map(c => col(c).isNotNull.cast("int").as(c))): _*)
    // all indicator AUCs in ONE aggregate pass (binary-score closed form)
    val indAuc = sortRows(Auc.binaryAucProfile(sampled, col("any_open") === 1, candidates),
      By(2, desc = true), By(0))
    csv("missing_indicator_auc.csv", Seq("feature", "auc", "abs_auc"), indAuc)

    tick("10_missing_auc")
    // ---- 11: categorical dictionaries + unseen test categories -------------
    // Melted to ONE (feature, value) pass per side + one anti-join — a
    // handful of jobs total instead of ~4 per feature (the reference loops
    // per column in pandas where data is in memory, `P:369-405`; at
    // cluster scale per-feature jobs are minutes of scheduler latency for
    // seconds of work). Null handling matches the per-feature loop: a null
    // group never equi-matches, so null test values always count as
    // unseen, and cardinalities count the null group (distinct() kept it).
    val catCols = mainCat.catFeatures
    def meltCats(df: DataFrame): DataFrame =
      df.select(expr(
        s"stack(${catCols.length}, " +
          catCols.map(c => s"'$c', CAST(`$c` AS STRING)").mkString(", ") +
          ") AS (feature, value)"))
    val trainGroups = meltCats(trainMain).groupBy("feature", "value")
      .agg(count(lit(1)).as("n_tr")).cache()
    val testGroups = meltCats(testMain).groupBy("feature", "value")
      .agg(count(lit(1)).as("n_te")).cache()
    val unseenAgg = testGroups.join(trainGroups, Seq("feature", "value"), "left_anti")
      .groupBy("feature")
      .agg(count(lit(1)).as("unseen_test_values"), sum("n_te").as("unseen_rows"))
    val catStatsDf = trainGroups.groupBy("feature").agg(count(lit(1)).as("train_cardinality"))
      .join(testGroups.groupBy("feature").agg(count(lit(1)).as("test_cardinality")),
        Seq("feature"))
      .join(unseenAgg, Seq("feature"), "left")
      .select(col("feature"), col("train_cardinality"), col("test_cardinality"),
        coalesce(col("unseen_test_values"), lit(0L)).as("unseen_test_values"),
        (coalesce(col("unseen_rows"), lit(0L)) / testRows.toDouble).as("unseen_row_rate"))
    val catStats = sortRows(catStatsDf.collect().toSeq, By(0))
    trainGroups.unpersist(); testGroups.unpersist()
    csv("categorical_cardinality.csv", catStatsDf.columns.toSeq, catStats)
    // unseen-values slice sorted by test-row impact (reference's
    // categorical_unseen_categories, `P:398-405`)
    csv("categorical_unseen_categories.csv",
      Seq("feature", "unseen_unique_categories", "unseen_rate_test_rows"),
      sortRows(catStats.map(r => Row(r.getString(0), r.getLong(3), r.getDouble(4))),
        By(2, desc = true), By(0)))
    val unseenFeatures = catStats.count(_.getLong(3) > 0)

    tick("11_cat_dicts")
    // ---- 12: adversarial shift (20% samples) -------------------------------
    val advCols = mainCat.numFeatures ++ mainCat.catFeatures
    val (advAuc, _, _) = Adversarial.adversarialAuc(
      Sampling.modSample(trainMain, "customer_id", 20),
      Sampling.modSample(testMain, "customer_id", 20),
      advCols, maxIter = 15, maxDepth = 4)
    csv("adversarial_auc.csv", Seq("experiment", "auc"), Seq(Row("train_vs_test", advAuc)))

    tick("12_adversarial")
    // ---- 13: linear screening (12% sample, impute, cross-corr) -------------
    val screenFeats =
      mainCat.numFeatures ++ extraNulls.collect { case (c, Some(nr)) if nr < 0.95 => c }
    val screenSample = Sampling.modSample(trainMain, "customer_id", 12)
      .select((col("customer_id") +: mainCat.numFeatures.map(col)): _*)
      .join(Sampling.modSample(trainExtra, "customer_id", 12)
        .select((col("customer_id") +:
          screenFeats.filterNot(mainCat.numFeatures.contains).map(col)): _*),
        Seq("customer_id"), "inner")
      .join(Sampling.modSample(trainTarget, "customer_id", 12), Seq("customer_id"), "inner")
      .cache()
    val screenRows = screenSample.count()
    val linear = Correlations.crossCorrRows(screenSample, screenFeats, targets)
    screenSample.unpersist()
    val linearHeader = Seq("feature", "target", "corr", "abs_corr")
    csv("feature_target_linear_corr.csv", linearHeader, sortRows(linear, By(0), By(1)))
    // the defined correlations (`na.drop` on corr drops NaN and null)
    val screened = linear.filterNot(r => r.isNullAt(2) || r.getDouble(2).isNaN)
    val top10 = rankWithin(screened, 1, By(3, desc = true), By(0))
      .collect { case (r, rk) if rk <= 10 => Row.fromSeq(r.toSeq :+ rk) }
    csv("top10_features_per_target.csv", linearHeader :+ "rk", top10)

    // feature provenance for the mix/signal tables
    val mainFeatSet = (mainCat.numFeatures ++ mainCat.catFeatures).toSet
    def source(f: String): String = if (mainFeatSet(f)) "main" else "extra"
    def featureType(f: String): String = if (f.startsWith("cat_")) "categorical" else "numeric"

    // per-target composition of the top-10 list (reference `P:539-551`)
    csv("target_top10_feature_mix.csv", Seq("target", "mean_abs_corr_top10", "n_cat_top10",
      "n_num_top10", "n_main_top10", "n_extra_top10"), sortRows(
      top10.groupBy(_.getString(1)).toSeq.map { case (t, rs) =>
        val fs = rs.map(_.getString(0))
        def n(p: String => Boolean): Long = fs.count(p).toLong
        Row(t, mean(rs.map(_.getDouble(3))), n(featureType(_) == "categorical"),
          n(featureType(_) == "numeric"), n(source(_) == "main"), n(source(_) == "extra"))
      }, By(1, desc = true), By(0)))

    // universality via top-10 membership (reference `P:553-563`; the full-
    // screen variant below stays as feature_universality.csv)
    csv("feature_universality_top10.csv", Seq("feature", "n_targets_top10",
      "mean_abs_corr_when_top10", "max_abs_corr_when_top10"), sortRows(
      top10.groupBy(_.getString(0)).toSeq.map { case (f, rs) =>
        val abs = rs.map(_.getDouble(3))
        Row(f, rs.map(_.getString(1)).distinct.size.toLong, mean(abs), abs.max(SqlDouble))
      }, By(1, desc = true), By(2, desc = true), By(0)))

    // full-screen signal summary with provenance + null rate (reference
    // `P:565-585`)
    val nullRateOf = (mainNulls ++ extraNulls).toMap
    val absByFeature = screened.groupBy(_.getString(0)).toSeq
      .map { case (f, rs) => f -> rs.map(_.getDouble(3)) }
    csv("feature_signal_summary.csv", Seq("feature", "max_abs_corr", "mean_abs_corr",
      "n_targets_abs_corr_gt_005", "n_targets_abs_corr_gt_010", "source", "feature_type",
      "null_rate"), sortRows(
      absByFeature.map { case (f, abs) =>
        Row(f, abs.max(SqlDouble), mean(abs), abs.count(_ > 0.05).toLong,
          abs.count(_ > 0.10).toLong, source(f), featureType(f),
          nullRateOf.get(f).flatten.getOrElse(null))
      }, By(1, desc = true), By(2, desc = true), By(0)))

    // convenience slice: top-5 linear rows for a fixed target set
    // (reference's golden_linear_top5_selected_targets, `P:587-594`;
    // selection is deterministic — first 4 targets in catalog order)
    val selectedTargets = targets.take(4).toSet
    csv("golden_linear_top5_selected_targets.csv", linearHeader :+ "rk",
      rankWithin(screened.filter(r => selectedTargets(r.getString(1))), 1,
        By(3, desc = true), By(0))
        .collect { case (r, rk) if rk <= 5 => Row.fromSeq(r.toSeq :+ rk) })

    tick("13_screening")
    // ---- 14: feature universality ------------------------------------------
    val universalityHeader =
      Seq("feature", "n_targets_gt05", "mean_abs_corr", "max_abs_corr", "median_abs_corr")
    val universality = sortRows(
      absByFeature.map { case (f, abs) =>
        Row(f, abs.count(_ > 0.05).toLong, mean(abs), abs.max(SqlDouble), median(abs))
      }, By(1, desc = true), By(2, desc = true), By(0))
    csv("feature_universality.csv", universalityHeader, universality)

    tick("14_universality")
    // ---- 15: whale signals (p99 cut × rare targets, Fisher) ----------------
    val rare = targetStats.filter(_._4 < 0.05).map(_._1).take(8)
    val whaleSample = Sampling.modSample(trainMain, "customer_id", 12)
      .join(trainTarget.select((col("customer_id") +: rare.map(col)): _*),
        Seq("customer_id"), "inner").cache()
    val nW = whaleSample.count()
    val numFeats = mainCat.numFeatures
    val cuts = WideAgg.runBatched(whaleSample, numFeats,
      c => percentile(col(c), lit(0.99))).toMap
    // one pass: per (feature,target) contingency via conditional aggs
    val aggExprs = numFeats.flatMap { f =>
      val whale = col(f).isNotNull && col(f) >= cuts(f).getOrElse(Double.MaxValue)
      Seq(sum(when(whale, 1L).otherwise(0L)).as(s"${f}__n")) ++ rare.map { t =>
        sum(when(whale && col(t) === 1, 1L).otherwise(0L)).as(s"${f}__${t}__a")
      }
    } ++ rare.map(t => sum(col(t).cast("long")).as(s"__tot__$t"))
    val aggRow = whaleSample.agg(aggExprs.head, aggExprs.tail: _*).collect()(0)
    whaleSample.unpersist()
    def gl(n: String): Long = if (aggRow.isNullAt(aggRow.fieldIndex(n))) 0L
      else aggRow.getLong(aggRow.fieldIndex(n))
    val whaleRows = for {
      f <- numFeats
      t <- rare
      nWhale = gl(s"${f}__n") if nWhale > 0
      a = gl(s"${f}__${t}__a")
      tot = gl(s"__tot__$t")
    } yield {
      val b = nWhale - a
      val c = tot - a
      val d = nW - nWhale - c
      val whaleRate = a.toDouble / nWhale
      val baseRate = tot.toDouble / nW
      val lift = if (baseRate > 0) whaleRate / baseRate else Double.NaN
      val p = StatTests.fisherExactGreater(a, b, c, d)
      Row(f, t, nWhale, a, lift, p)
    }
    val whaleHeader = Seq("feature", "target", "n_whales", "n_whale_pos", "lift", "p_value")
    val whales = sortRows(whaleRows, By(5), By(0), By(1))
    csv("whale_signals.csv", whaleHeader, whales)
    // candidate rollup + top-3 per target over the SIGNIFICANT slice
    // (reference `P:652-669`)
    def significant(r: Row): Boolean = r.getDouble(4) >= 2.0 && r.getDouble(5) < 0.05
    val sigWhales = whaleRows.filter(significant)
    csv("whale_feature_candidates.csv",
      Seq("feature", "n_rare_targets", "median_lift", "max_lift", "min_pvalue"), sortRows(
      sigWhales.groupBy(_.getString(0)).toSeq.map { case (f, rs) =>
        val lifts = rs.map(_.getDouble(4))
        Row(f, rs.map(_.getString(1)).distinct.size, median(lifts), lifts.max(SqlDouble),
          rs.map(_.getDouble(5)).min(SqlDouble))
      }, By(1, desc = true), By(2, desc = true), By(0)))
    csv("whale_top3_per_target.csv", whaleHeader,
      rankWithin(sigWhales, 1, By(4, desc = true), By(0)).collect { case (r, rk) if rk <= 3 => r })
    val whaleSig = sigWhales.size.toLong

    tick("15_whales")
    // ---- 16: summary.json + report.md --------------------------------------
    val rareCount = targetStats.count(_._4 < 0.01)
    val summary = Seq[(String, Any)](
      "train_rows" -> trainRows, "test_rows" -> testRows,
      "n_targets" -> targets.size,
      "n_main_features" -> mainFeats.size,
      "n_extra_features" -> extraCat.numFeatures.size,
      "targets_below_1pct" -> rareCount,
      "antagonist_target" -> antagonist,
      "antagonist_neg_share" -> antagonistNegShare,
      "filled_extra_count_auc" -> filledAuc,
      "filled_extra_count_pointbiserial" -> filledPb,
      "filled_extra_count_pb_pvalue" -> filledPbP,
      "adversarial_auc" -> advAuc,
      "silhouette_k3" -> byK(3)._2, "silhouette_k4" -> sil4, "silhouette_k5" -> byK(5)._2,
      "largest_cluster_share" -> largestShare,
      "cat_features_with_unseen" -> unseenFeatures,
      "screened_features" -> screenFeats.size,
      "screen_sample_rows" -> screenRows,
      "whale_significant_pairs" -> whaleSig)
    Sinks.writeJson(summary, out("summary.json"))

    val report =
      s"""# EDA report (Spark-native rebuild)
         |
         |Deterministic pipeline over `$inputDir` (seeded hash sampling,
         |reference block order, `public_eda_pipeline.py:73-714` analog).
         |Memory-safe via distributed execution; all heavy blocks run as
         |Spark jobs, only post-aggregation artifacts reach the driver.
         |
         |## 1. Dataset
         |- train rows: $trainRows, test rows: $testRows
         |- targets: ${targets.size} ($rareCount below 1% prevalence)
         |- main features: ${mainFeats.size} (${mainCat.numFeatures.size} numeric / ${mainCat.catFeatures.size} categorical)
         |- extra features: ${extraCat.numFeatures.size} (heavily null)
         |
         |## 2. Target stats (top 10 by positive count)
         |${Sinks.prettyRows(targetStatsHeader, targetStatsRows)}
         |
         |## 3. Family rollup
         |${Sinks.prettyRows(familyHeader, familyRows)}
         |
         |## 4. Opened-target distribution
         |${Sinks.prettyRows(Seq("n_opened", "count"), openedRows)}
         |
         |## 5. Strongest co-occurring target pairs (co_count ≥ 10, by lift)
         |${Sinks.prettyRows(pairHeader, topLiftPairs)}
         |
         |## 6. Antagonist target `$antagonist`
         |- negative-correlation share vs other targets: ${f"$antagonistNegShare%.3f"}
         |
         |## 7. Clustering on 1−|corr| (average linkage)
         |- silhouette: k=3 ${f"${byK(3)._2}%.4f"}, k=4 ${f"$sil4%.4f"}, k=5 ${f"${byK(5)._2}%.4f"}
         |- largest-cluster share at k=4: ${f"$largestShare%.3f"}
         |
         |## 8. Extra-feature missingness bands
         |${Sinks.prettyRows(bandHeader, bandRows)}
         |
         |## 9. Filled-extra-count signal
         |- AUC vs any-open: ${f"$filledAuc%.4f"}
         |- point-biserial r: ${f"$filledPb%.4f"} (p = ${f"$filledPbP%.3g"})
         |- deciles:
         |${Sinks.prettyRows(decileHeader, deciles)}
         |
         |## 10. Top missing-indicator AUCs (30% sample)
         |${Sinks.prettyRows(Seq("col_name", "auc", "abs_auc"), indAuc)}
         |
         |## 11. Categorical dictionaries
         |- features with unseen test categories: $unseenFeatures
         |
         |## 12. Adversarial shift (20% samples)
         |- train-vs-test AUC: ${f"$advAuc%.4f"} (≈0.5 ⇒ no detectable shift)
         |
         |## 13. Linear screen (12% sample, $screenRows rows, ${screenFeats.size} features)
         |top universal features:
         |${Sinks.prettyRows(universalityHeader, universality)}
         |
         |## 14. Whale signals (top 10 by p-value)
         |${Sinks.prettyRows(whaleHeader, whales)}
         |- significant (lift ≥ 2, p < 0.05): $whaleSig
         |""".stripMargin
    Sinks.writeText(report, out("report.md"))

    Result(trainRows, testRows, targets.size, rareCount,
      filledAuc, filledPb, advAuc, sil4, largestShare,
      unseenFeatures, screenFeats.size, screenRows, whaleSig)
  }
}
