package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json, input_file_name, length, trim}
import org.apache.spark.sql.types.{StringType, StructType}

/** Batch sources (SURVEY.md §2.1). The engine's storage interface is
  * columnar parquet; JSON/CSV cover the reference's fixture-replay and
  * BQ-export paths. All readers return plain DataFrames — downstream ops
  * are source-agnostic, and Catalyst pushes filters/projections into every
  * one of these scans.
  */
object Sources {

  /** S5: JSON array files (tweet fixtures — lists of objects, multiLine)
    * (twitter/stream_simulator_continuous.py:38-82). */
  def jsonArray(spark: SparkSession, schema: StructType,
                path: String): DataFrame =
    spark.read.schema(schema).option("multiLine", true).json(path)

  /** S4 hardening: quarantining JSON-lines read. The reference validates
    * every blob before load — gzip magic-byte sniff plus a parse check —
    * and skips bad blobs with a log line
    * (terraform/scripts/batch_to_mongo.py:60-106). Spark-first twin, two
    * layers:
    *  - file level: a driver-side header pre-scan (gzip magic bytes,
    *    unreadable files) quarantines whole containers BEFORE the scan and
    *    returns them as a programmatic (path, reason) report — the same
    *    contract as [[AvroSource.readWithReport]], not just an executor
    *    log line. `ignoreCorruptFiles` stays on as the backstop for
    *    corruption the header sniff can't see (a truncated gzip stream).
    *  - record level: the files are read as TEXT and parsed with
    *    `from_json` in PERMISSIVE mode; each unparseable or
    *    type-mismatched record's raw text lands in `_corrupt_record`
    *    (null there = clean row).
    * Parsing via text + `from_json` rather than the raw JSON datasource is
    * deliberate: a raw JSON scan whose required schema prunes down to only
    * the internal corrupt-record column is disallowed by Spark, so
    * aggregate-only queries against either side of the split (e.g.
    * `good.count()`) would throw. A text scan has no such restriction —
    * one scan serves both sides of [[splitQuarantine]] in a single plan,
    * with nothing cached or materialized (at 100 TB neither side may be
    * pinned). `_src_file` carries file provenance per row. Exercised by
    * the s4_quarantine_stats catalog entry and SourcesSpec.
    */
  def jsonQuarantined(spark: SparkSession, schema: StructType,
                      path: String): DataFrame =
    jsonQuarantinedWithReport(spark, schema, path)._1

  /** [[jsonQuarantined]] plus the file-level quarantine report: (path,
    * reason) per file whose header failed validation, mirroring
    * [[AvroSource.readWithReport]]. Blank lines are dropped (the JSON
    * datasource skips them; `from_json` would surface them as all-null
    * rows on the clean side).
    */
  def jsonQuarantinedWithReport(spark: SparkSession, schema: StructType,
                                path: String)
      : (DataFrame, Seq[(String, String)]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(path).getFileSystem(conf)
    val files = fs.globStatus(new HPath(path)) match {
      case null => Array.empty[org.apache.hadoop.fs.FileStatus]
      case st => st.flatMap(s =>
        if (s.isDirectory) fs.listStatus(s.getPath) else Array(s))
    }
    // skip hidden/marker files (_SUCCESS, .crc, …) like Spark's own
    // file-index listing does
    val checked = files
      .filter(s => s.isFile &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName).map(s => s.getPath -> validateHeader(fs, s))
    val bad = checked.collect { case (p, Some(reason)) => p.toString -> reason }
      .toSeq
    bad.foreach { case (p, m) =>
      System.err.println(s"[graft.Sources] quarantined corrupt file $p: $m")
    }
    val good = checked.collect { case (p, None) => p.toString }
    require(good.nonEmpty, s"no readable files under $path " +
      s"(${bad.size} quarantined)")

    val fullSchema = schema.add("_corrupt_record", StringType)
    val opts = Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> "_corrupt_record")
    val parsed = spark.read
      .option("ignoreCorruptFiles", "true")
      .text(good.toIndexedSeq: _*)
      .withColumn("_src_file", input_file_name())
      .filter(length(trim(col("value"))) > 0)
      .select(from_json(col("value"), fullSchema, opts).as("_r"),
        col("_src_file"))
      .select((fullSchema.fieldNames.map(n => col(s"_r.`$n`").as(n))
        :+ col("_src_file")).toIndexedSeq: _*)
    (parsed, bad)
  }

  /** Header validation for the pre-scan: gzip members must open with the
    * 0x1f 0x8b magic (the reference's sniff, batch_to_mongo.py:60-75);
    * any unreadable file quarantines with its IO error. Plain text files
    * have no container header — their corruption is per-record. */
  private def validateHeader(fs: org.apache.hadoop.fs.FileSystem,
                             status: org.apache.hadoop.fs.FileStatus)
      : Option[String] = {
    val p = status.getPath
    if (!p.getName.endsWith(".gz")) None
    else if (status.getLen == 0) Some("empty gzip file")
    else try {
      val in = fs.open(p)
      try {
        val b0 = in.read(); val b1 = in.read()
        if (b0 == 0x1f && b1 == 0x8b) None
        else Some(f"bad gzip magic 0x$b0%02x$b1%02x")
      } finally in.close()
    } catch {
      case e: Exception =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName))
    }
  }

  /** (clean rows without the bookkeeping columns, quarantined rows with
    * provenance first). Both sides are plain filters over the one
    * text-backed scan of [[jsonQuarantined]] — safe to aggregate, count,
    * or join either side independently, nothing is materialized. The
    * quarantined side keeps the (mostly-null) data columns: PERMISSIVE
    * parsing preserves any fields it could still read from a partially
    * valid record.
    */
  def splitQuarantine(parsed: DataFrame): (DataFrame, DataFrame) = {
    val dataCols = parsed.columns.filterNot(
      c => c == "_corrupt_record" || c == "_src_file")
    val good = parsed.filter(col("_corrupt_record").isNull)
      .select(dataCols.map(col).toIndexedSeq: _*)
    val bad = parsed.filter(col("_corrupt_record").isNotNull)
      .select((Seq("_src_file", "_corrupt_record") ++ dataCols)
        .map(col).toIndexedSeq: _*)
    (good, bad)
  }

  /** S8: CSV with header (BQ export -> pandas path, Milestone4 cell 5). */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", true).option("inferSchema", true).csv(path)

  /** S3/S6/S7 equivalent: columnar scan with pushdown. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC scan — second columnar interchange format alongside parquet and
    * the Avro archive path. Spark's native vectorized ORC reader gives the
    * same pushdown/pruning contract as parquet (`PushedFilters` +
    * `ReadSchema` reach the scan), so warehouse exports in ORC drop into
    * every downstream operator unchanged. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC sink (snappy, Spark's default). Splittable stripes — a 100 TB
    * archive re-reads with full parallelism, like the parquet path. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** K2/K3 equivalent: partitioned parquet sink (idempotent overwrite per
    * partition directory = the engine's at-least-once batch write, T8). */
  def writeParquet(df: DataFrame, path: String,
                   partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }
}
