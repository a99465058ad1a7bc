package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.Sinks
import graft.pipeline.EdaPipeline.{By, median, rankWithin, sortRows}

/** Parity of the driver-side helpers that finish EdaPipeline's
  * post-aggregation tables against Spark over the same rows: a helper that
  * drifts from Spark's semantics would silently reorder or re-render a
  * golden table. */
class DriverRowsSpec extends SparkSpec {

  // id is unique, so every key list below ending in id fixes one order;
  // the other columns carry nulls, NaN, ±0.0, infinities, ties and
  // strings whose UTF-8 order differs from their UTF-16 order
  private val schema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("s", StringType, nullable = true),
    StructField("d", DoubleType, nullable = true),
    StructField("l", LongType, nullable = true),
    StructField("i", IntegerType, nullable = false)))
  private val rows = Seq(
    Row("r01", "b", 1.0, 3L, 1),
    Row("r02", "a", null, 2L, 1),
    Row("r03", null, Double.NaN, null, 2),
    Row("r04", "é", -0.0, 1L, 2),
    Row("r05", "Z", 0.0, 1L, 1),
    Row("r06", "\uFFFD", -1.5, null, 3),
    Row("r07", "\uD83D\uDE00", Double.NaN, 2L, 3),
    Row("r08", "a", 1.0, 3L, 2),
    Row("r09", "b", null, -4L, 1),
    Row("r10", "", Double.NegativeInfinity, 0L, 3),
    Row("r11", "a", Double.PositiveInfinity, 2L, 2),
    Row("r12", null, 0.0, -4L, 1),
    Row("r13", "Z", -0.0, 1L, 1))

  private lazy val df = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  test("sortRows orders like Spark's ORDER BY: nulls, NaN, ±0.0, ties, mixed asc/desc") {
    val keyLists = Seq(
      Seq(By(2)), Seq(By(2, desc = true)), Seq(By(1)), Seq(By(1, desc = true)),
      Seq(By(3, desc = true), By(2)), Seq(By(4), By(2, desc = true), By(1)),
      Seq(By(1), By(3, desc = true), By(2)), Seq(By(4, desc = true), By(3), By(2, desc = true)))
    keyLists.foreach { keys0 =>
      val keys = keys0 :+ By(0)
      val order = keys.map { case By(i, desc) =>
        val c = col(schema.fieldNames(i))
        if (desc) c.desc else c.asc
      }
      val bySpark = df.orderBy(order: _*).collect().map(_.getString(0)).toSeq
      val byDriver = sortRows(rows, keys: _*).map(_.getString(0))
      assert(byDriver === bySpark, s"keys $keys0")
    }
  }

  test("sortRows is stable: rows tied on every key keep their input order") {
    val tied = sortRows(rows, By(4)).filter(_.getInt(4) == 1).map(_.getString(0))
    assert(tied === rows.filter(_.getInt(4) == 1).map(_.getString(0)))
  }

  test("rankWithin matches row_number() over a partitioned window") {
    val w = Window.partitionBy(col("s")).orderBy(col("d").desc, col("id"))
    val bySpark = df.withColumn("rk", row_number().over(w)).orderBy(col("s"), col("rk"))
      .collect().map(r => (r.getString(0), r.getInt(5))).toSeq
    val byDriver = rankWithin(rows, 1, By(2, desc = true), By(0))
      .map { case (r, rk) => (r.getString(0), rk) }
    assert(byDriver === bySpark)
  }

  test("median matches Spark's median on odd, even and duplicate inputs") {
    val rnd = new scala.util.Random(11)
    val groups = Seq(
      "odd" -> Seq(3.0, 1.0, 2.0),
      "even" -> Seq(4.0, 1.0, 3.0, 2.0),
      "dup_middle" -> Seq(1.0, 2.0, 2.0, 2.0, 5.0, 5.0),
      "dup_split" -> Seq(0.7, 0.2, 0.1, 0.2),
      "fraction" -> Seq(0.1, 0.2),
      "single" -> Seq(42.0),
      "random_even" -> Seq.fill(50)(rnd.nextDouble()),
      "random_odd" -> Seq.fill(51)(rnd.nextGaussian()))
    import spark.implicits._
    val sparkMedians = groups.flatMap { case (g, xs) => xs.map(g -> _) }.toDF("g", "x")
      .groupBy("g").agg(org.apache.spark.sql.functions.median(col("x")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    groups.foreach { case (g, xs) =>
      assert(median(xs) === sparkMedians(g), s"group $g")
    }
  }

  test("writeRows/prettyRows render driver rows byte for byte like writeCsv/pretty") {
    import spark.implicits._
    val frame = Seq(
      ("a,b", 1L, 1.0e-4, Option.empty[String], Double.NaN, Option(3)),
      ("c\"d", 2L, -0.5, Option("x\ny"), 1.5e10, Option.empty[Int]),
      ("plain", Long.MaxValue, 100.0, Option("q"), -0.0, Option(-7)))
      .toDF("s", "n", "d", "z", "e", "i")
    val header = Seq("s", "n", "d", "z", "e", "i")
    val driverRows = Seq(
      Row("a,b", 1L, 1.0e-4, null, Double.NaN, 3),
      Row("c\"d", 2L, -0.5, "x\ny", 1.5e10, null),
      Row("plain", Long.MaxValue, 100.0, "q", -0.0, -7))
    val dir = Files.createTempDirectory("graft_driver_rows")
    val viaFrame = dir.resolve("frame.csv")
    val viaRows = dir.resolve("rows.csv")
    Sinks.writeCsv(frame, viaFrame.toString)
    Sinks.writeRows(header, driverRows, viaRows.toString)
    val csv = Files.readString(viaRows)
    assert(csv === Files.readString(viaFrame))
    assert(csv.contains("\"a,b\",1,1.0E-4,,NaN,3\n"), csv)
    Seq(1, 2, 10).foreach { n =>
      assert(Sinks.prettyRows(header, driverRows, n) === Sinks.pretty(frame, n), s"n=$n")
    }
  }
}
