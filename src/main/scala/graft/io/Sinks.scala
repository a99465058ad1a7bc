package graft.io

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}

/** Output sinks (SURVEY.md §2.1 S4–S6): CSV golden tables, JSON summary,
  * Markdown report. The reference's entire deliverable is 29 CSVs + 1
  * JSON + 1 report (`eda_workspace/public_eda_pipeline.py:104-905`), all
  * ≤ ~21k rows — post-aggregation artifacts.
  *
  * Scale stance: these sinks are for SMALL results (the contract of every
  * call site: aggregated tables). `writeCsv` collects to the driver —
  * guarded by `maxRows` so a mis-wired call on a 100 TB frame fails fast
  * instead of OOMing the driver; use `writeCsvDistributed` for anything
  * larger (one file per partition, no driver round-trip).
  */
object Sinks {

  /** Driver-side CSV writer for small aggregated tables: collects the
    * frame (refusing more than `maxRows`) and renders it with
    * [[writeRows]]. Deterministic: writes rows in the DataFrame's order —
    * give it a sorted frame. */
  def writeCsv(df: DataFrame, path: String, maxRows: Int = 100000): Unit = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"writeCsv($path): > $maxRows rows — use writeCsvDistributed for large outputs")
    writeRows(df.columns.toSeq, rows.toSeq, path)
  }

  /** The CSV formatter for rows already on the driver: a header line, then
    * one line per row in the given order (RFC-ish quoting; null is an
    * empty cell, every other value renders by `toString`, so a row built
    * from boxed Scala values writes the same bytes as its collected twin). */
  def writeRows(header: Seq[String], rows: Seq[Row], path: String): Unit = {
    def cell(v: Any): String = v match {
      case null => ""
      case s: String if s.contains(",") || s.contains("\"") || s.contains("\n") =>
        "\"" + s.replace("\"", "\"\"") + "\""
      case other => other.toString
    }
    val sb = new StringBuilder
    sb.append(header.mkString(",")).append('\n')
    rows.foreach { r =>
      sb.append(header.indices.map(i => cell(r.get(i))).mkString(",")).append('\n')
    }
    writeText(sb.toString, path)
  }

  /** Distributed CSV sink for large outputs (S4 scale path). */
  def writeCsvDistributed(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(dir)

  /** Hive-partitioned parquet sink — the 100-TB-corpus write shape:
    * `dir/col=value/part-*.parquet` so downstream readers get partition
    * PRUNING for free (a filter on a partition column skips whole
    * directories; visible as PartitionFilters in the scan). Sort within
    * partitions by `sortCols` for better run-length/dictionary encoding.
    * Cap output file count per partition value with `maxFilesPerPartition`
    * (repartition on the partition cols) to avoid the
    * many-small-files problem on object stores. */
  def writeParquetPartitioned(
      df: DataFrame, dir: String, partitionCols: Seq[String],
      sortCols: Seq[String] = Nil, maxFilesPerPartition: Int = 1): Unit = {
    import org.apache.spark.sql.functions._
    require(maxFilesPerPartition >= 1)
    val parts = partitionCols.map(col)
    // hash-repartition on the partition columns → each value lands in ONE
    // task → one file per partition dir; for wider parallelism on huge
    // partition values, a deterministic-enough salt splits each value
    // across up to maxFilesPerPartition tasks/files
    val shaped0 =
      if (maxFilesPerPartition == 1) df.repartition(parts: _*)
      else df.repartition(
        parts :+ pmod(xxhash64(monotonically_increasing_id()), lit(maxFilesPerPartition)): _*)
    val shaped =
      if (sortCols.nonEmpty)
        shaped0.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      else shaped0
    shaped.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(dir)
  }

  /** Minimal JSON rendering of a scalar map (S5 `summary.json`). Values:
    * numbers, booleans, strings, null. Keys emitted in insertion order. */
  def toJson(m: Seq[(String, Any)]): String = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def render(v: Any): String = v match {
      case null => "null"
      case b: Boolean => b.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case d: Double =>
        if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).toString
      case f: Float => render(f.toDouble)
      case s: String => "\"" + esc(s) + "\""
      case seq: Seq[_] => seq.map(render).mkString("[", ",", "]")
      case other => "\"" + esc(other.toString) + "\""
    }
    m.map { case (k, v) => "\"" + esc(k) + "\": " + render(v) }
      .mkString("{\n  ", ",\n  ", "\n}")
  }

  def writeJson(m: Seq[(String, Any)], path: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, toJson(m))
  }

  /** Fixed-width pretty table of the first `n` rows (S6 report blocks —
    * mirrors the reference's `pretty` helper, `public_eda_pipeline
    * .py:46-49`); rendered by [[prettyRows]]. */
  def pretty(df: DataFrame, n: Int = 10): String =
    prettyRows(df.columns.toSeq, df.limit(n).collect().toSeq, n)

  /** The pretty formatter for rows already on the driver: the first `n`
    * rows right-aligned under `header`, doubles as `%.6g`, null as "null". */
  def prettyRows(header: Seq[String], rows: Seq[Row], n: Int = 10): String = {
    val cells = rows.take(n).map(r => header.indices.map(i => Option(r.get(i)).map {
      case d: Double => f"$d%.6g"
      case other => other.toString
    }.getOrElse("null")))
    val widths = header.indices.map(i =>
      (header(i).length +: cells.map(_(i).length)).max)
    def line(vals: Seq[String]): String =
      vals.zip(widths).map { case (v, w) => v.reverse.padTo(w, ' ').reverse }
        .mkString("  ")
    (line(header) +: cells.map(line)).mkString("\n")
  }

  def writeText(s: String, path: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, s)
  }

  /** Small-file compaction: rewrite a parquet dir into
    * ceil(totalBytes / targetBytes) files — the maintenance pass every
    * streaming/incremental ingest needs (a 100 TB table fed by
    * per-batch appends degrades into millions of KB-files whose open/
    * footer cost dominates scans; compaction restores ~targetBytes
    * row-group-sized files). File listing + sizing via the Hadoop FS
    * API (cluster-correct, not java.io), one full read → repartition →
    * write. Returns (filesBefore, filesAfter). Content is preserved
    * exactly (row-level; ordering is not part of the parquet contract).
    * For partitioned tables run per-partition with dynamic overwrite
    * (p12's pattern) so only hot partitions rewrite. */
  def compactParquet(spark: org.apache.spark.sql.SparkSession,
      inDir: String, outDir: String, targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val p = new org.apache.hadoop.fs.Path(inDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(p).filterNot(_.getPath.getName.startsWith("_"))
    // this sizes TOP-LEVEL files only; a hive-partitioned table (data in
    // key=value subdirs) would size to 0 and silently collapse every
    // partition into one file — refuse it and point at the documented
    // per-partition pattern instead of doing the wrong thing quietly
    require(!entries.exists(_.isDirectory),
      s"compactParquet: $inDir contains subdirectories (partitioned table?) — " +
        "compact per-partition with dynamic overwrite (p12's pattern) instead")
    val files = entries.filter(_.isFile)
    val before = files.length
    val total = files.map(_.getLen).sum
    require(before > 0 && total > 0,
      s"compactParquet: no sizable data files under $inDir (files=$before, bytes=$total)")
    val after = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir).repartition(after)
      .write.mode("overwrite").parquet(outDir)
    (before, after)
  }
}
