package graft.core

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loading + schema utilities.
  *
  * Mirrors the reference's dataset/file handling surface
  * (dataslicer/dataset_base.py:24-53 directory scan,
  * dataslicer/df_utils.py:77-139 column checks & wildcard matching)
  * re-expressed over Spark's multi-file parquet reader.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** A "dataset" in the reference is a directory of files
    * (dataset_base.py:19-53); here: one parquet table per name under a
    * scale-factor directory. Spark's reader handles multi-file dirs
    * natively, so `dir/name.parquet` may be a file or a directory.
    *
    * Zero-job contract: building the frame starts no Spark job. The
    * schema comes from one footer read on the driver
    * ([[readParquet]]), not from Spark's schema inference, which
    * runs a one-task job per load just to read that same footer.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeTs(readParquet(spark, path))
    } else readParquet(spark, path)
  }

  /** Reads homogeneous parquet `paths` (files or directories) under
    * the schema of the first data file ([[parquetSchema]]) — the
    * schema Spark's non-merging inference also takes from one file,
    * without the one-task job inference spends reading it. Partition
    * directories (`k=v`) still surface as columns: the reader appends
    * discovered partition columns to a user schema that lacks them.
    * Tables whose files differ in schema need
    * `option("mergeSchema", "true")` instead, which reads every footer. */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(parquetSchema(spark, paths: _*)).parquet(paths: _*)

  /** Spark schema of the first parquet data file under `paths`, read
    * from its footer on the driver (no Spark job). The footer is
    * converted by Spark's own `readSchemaFromFooter` under the
    * session's conf, so the binaryAsString, int96, NTZ and
    * nanosAsLong flags resolve exactly as inference resolves them.
    * Fails with the paths in the message when they hold no data file. */
  def parquetSchema(spark: SparkSession, paths: String*): StructType = {
    val hconf = spark.sessionState.newHadoopConf()
    val first = paths.iterator.flatMap(dataFiles(hconf, _)).nextOption()
    require(first.nonEmpty, s"no parquet data files under ${paths.mkString(", ")}")
    val f = first.get
    ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer(f, hconf)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Data files under `path` in name order: a file is itself, a
    * directory is walked recursively skipping the names Spark's file
    * index skips (`_`/`.` prefixes, except `k=v` partition directories
    * such as `_bucket=3`). Lazy, so [[parquetSchema]] lists no further
    * than its first file. */
  private def dataFiles(hconf: Configuration, path: String): Iterator[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    def walk(st: FileStatus): Iterator[FileStatus] =
      if (st.isFile) Iterator.single(st)
      else fs.listStatus(st.getPath).sortBy(_.getPath.getName).iterator
        .filterNot(c => hidden(c.getPath.getName)).flatMap(walk)
    walk(fs.getFileStatus(root))
  }

  private def footer(f: FileStatus, hconf: Configuration): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hconf))
    try r.getFooter finally r.close()
  }

  /** The events `ts` column has shipped as three physical types across
    * testdata generations: TIMESTAMP(NANOS) (read as long via
    * nanosAsLong, then truncated to micros — matching how microsecond
    * engines, incl. the DuckDB oracle, read the same file),
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ),
    * and plain TIMESTAMP. Normalize all three to session-TZ
    * TimestampType — sessions here run UTC, so the NTZ cast is
    * value-preserving and agrees with DuckDB's naive-as-UTC reading.
    */
  def normalizeTs(df: DataFrame, name: String = "ts"): DataFrame =
    df.schema(name).dataType match {
      case LongType         => df.withColumn(name, expr(s"timestamp_micros($name div 1000)"))
      case TimestampNTZType => df.withColumn(name, col(name).cast(TimestampType))
      case _                => df
    }

  /** Exact row count of a parquet table from file FOOTERS only — a
    * driver-side metadata read (O(#files) footer fetches, no Spark
    * job, no data pages). The stats source for plan-build hints
    * (e.g. LSH plane auto-scaling) where a count() job before the
    * main plan would double-execute upstream pipelines; at cluster
    * scale footers are orders of magnitude cheaper than a scan. */
  def parquetRowCount(spark: SparkSession, dir: String, name: String): Long =
    footers(spark, dir, name).map(_.getBlocks.asScala.map(_.getRowCount).sum).sum

  /** Total UNCOMPRESSED byte size of one column, summed over parquet
    * row-group footers — same driver-side metadata read as
    * [[parquetRowCount]] (no Spark job, no data pages). The input for
    * size-dependent plan hints that must scale with CONTENT volume,
    * not row count (ADVICE r12: the ep8 chunk hint under-provisioned
    * LSH planes when corpus growth came from longer docs). Dictionary
    * encoding can understate raw size somewhat; log2-scaled consumers
    * (planesFor) tolerate order-of-magnitude inputs. */
  def parquetColumnBytes(spark: SparkSession, dir: String, name: String,
                         column: String): Long =
    footers(spark, dir, name).map(_.getBlocks.asScala.map(b =>
      b.getColumns.asScala
        .filter(_.getPath.toDotString == column)
        .map(_.getTotalUncompressedSize).sum).sum).sum

  private def footers(spark: SparkSession, dir: String, name: String): Iterator[ParquetMetadata] = {
    val hconf = spark.sessionState.newHadoopConf()
    dataFiles(hconf, s"$dir/$name.parquet").map(footer(_, hconf))
  }

  /** check_col equivalent (df_utils.py:77-105): fail fast with the list
    * of available columns when a requested column is missing.
    */
  def requireCols(df: DataFrame, cols: Seq[String]): DataFrame = {
    val missing = cols.filterNot(df.columns.contains)
    require(
      missing.isEmpty,
      s"column(s) ${missing.mkString(", ")} not present. " +
        s"Available columns: ${df.columns.mkString(", ")}")
    df
  }

  /** `*`-wildcard name matching (df_utils.py:107-126 `stringinlist`):
    * a pattern containing `*` matches any column containing the
    * pattern stripped of `*`; otherwise exact match.
    */
  def matchesPattern(name: String, pattern: String): Boolean =
    if (pattern.contains("*")) name.contains(pattern.replace("*", ""))
    else name == pattern

  /** Wildcard projection (df_utils.py:52-59, metadata.py:143-153):
    * keep columns matching any of the requested patterns, preserving
    * the dataframe's column order.
    */
  def wildcardSelect(df: DataFrame, patterns: Seq[String]): DataFrame = {
    val keep = df.columns.filter(c => patterns.exists(p => matchesPattern(c, p)))
    require(keep.nonEmpty,
      s"no columns match ${patterns.mkString(", ")}; available: ${df.columns.mkString(", ")}")
    df.select(keep.map(col).toIndexedSeq: _*)
  }

  /** strlist_in_strlist (df_utils.py:128-139): are all requested
    * patterns satisfied by the available names? Used for cache
    * schema-compat checks.
    */
  def patternsCovered(patterns: Seq[String], available: Seq[String]): Boolean =
    patterns.forall(p => available.exists(n => matchesPattern(n, p)))

  /** Numeric downcast (df_utils.py:141-160). The reference shrinks
    * ints to the smallest unsigned type and float64->float32 to save
    * RAM. On Spark, Parquet encodings + Tungsten make this mostly
    * unnecessary; provided as an explicit utility. Spark has no
    * unsigned types, so ints stay signed (next-wider as needed).
    *
    * Value-safe, like pandas' `pd.to_numeric(downcast=...)`: a long
    * column is only narrowed after a single min/max aggregate pass
    * proves every value fits in Int range (string-concat composite
    * keys routinely exceed it; under Spark 4's ANSI default a blind
    * cast would throw). Columns that don't fit keep their wider type.
    * Costs one action over the long columns; call on cached or
    * pre-aggregated data, not mid-lineage.
    */
  def downcast(df: DataFrame, floats: Boolean = true, ints: Boolean = true): DataFrame = {
    val longCols = df.schema.fields.collect { case f if f.dataType == LongType => f.name }
    val fits: Set[String] =
      if (!ints || longCols.isEmpty) Set.empty
      else {
        val aggs = longCols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
        // BOUNDED: single-row aggregate
        val row = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).collect()(0)
        longCols.zipWithIndex.collect {
          case (c, i) if row.isNullAt(2 * i) || // all-null column: narrow freely
            (row.getLong(2 * i) >= Int.MinValue && row.getLong(2 * i + 1) <= Int.MaxValue) => c
        }.toSet
      }
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType if floats              => col(f.name).cast(FloatType).as(f.name)
        case LongType if fits.contains(f.name) => col(f.name).cast(IntegerType).as(f.name)
        case _                                 => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Repartition for CPU-heavy narrow compute with an EXPLICIT
    * partition count. `df.repartition(col)` alone lets AQE coalesce
    * the exchange back to one partition when the data is small in
    * bytes — which serializes a hashing/scoring stage onto one core
    * even though it is expensive in CPU (the round-1 minhash/IVF
    * slowdowns were exactly this). An explicit count is honored by
    * AQE; at cluster scale the same explicit width just matches the
    * configured shuffle parallelism.
    */
  def spread(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    if (keys.isEmpty) df.repartition(n) else df.repartition(n, keys: _*)
  }

  /** subtract_dfs (df_utils.py:176-184): rows of df1 not present in
    * df2. The reference's merge-indicator keeps df1 duplicates ->
    * `exceptAll` semantics via left_anti on all columns.
    */
  def subtract(df1: DataFrame, df2: DataFrame): DataFrame =
    df1.join(df2, df1.columns.toIndexedSeq, "left_anti")

  /** Estimated in-memory size in MB (df_utils.py:163-173 mem_usage). */
  def memUsageMb(df: DataFrame): Double =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble / 1024.0 / 1024.0

  /** Single-pass column profiler (the ANALYZE-style operator): one
    * aggregate job computes rows/nulls/exact-distinct/min/max for
    * every requested numeric column, then unpivots to one row per
    * column. One scan regardless of column count — the shape that
    * matters when the table is 100 TB (a per-column loop would scan
    * N times). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_nn_$c"),
        countDistinct(col(c)).as(s"_nd_$c"),
        min(col(c)).cast("double").as(s"_mn_$c"),
        max(col(c)).cast("double").as(s"_mx_$c"))
    } :+ count(lit(1)).as("_rows")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = explode(array(cols.map { c =>
      struct(lit(c).as("column"), col("_rows").as("n_rows"),
        col(s"_nn_$c").as("n_nulls"), col(s"_nd_$c").as("n_distinct"),
        col(s"_mn_$c").as("min_val"), col(s"_mx_$c").as("max_val"))
    }: _*))
    one.select(stacked.as("_p")).select("_p.*")
  }

  /** X-P15: schema-contract enforcement report — named violation
    * predicates evaluated in ONE aggregate pass over the table (a
    * rule per column would re-scan 100 TB per rule), unpivoted to a
    * (rule, n_violations, n_rows, ok) row each. The ingestion gate:
    * `ok` all-true admits the batch. */
  def contractReport(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    if (rules.isEmpty)
      // explode(array()) of zero struct columns fails analysis — an
      // empty rule set (config-driven callers) is a vacuously-clean
      // report, not an error
      return df.limit(0).select(lit("").as("rule"), lit(0L).as("n_violations"),
        lit(0L).as("n_rows"), lit(true).as("ok"))
    val aggs = rules.zipWithIndex.map { case ((_, p), i) =>
      sum(when(p, 1L).otherwise(0L)).as(s"_v$i")
    } :+ count(lit(1)).as("_rows")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = explode(array(rules.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("rule"), col(s"_v$i").as("n_violations"),
        col("_rows").as("n_rows"), (col(s"_v$i") === 0L).as("ok"))
    }: _*))
    one.select(stacked.as("_r")).select("_r.*")
  }
}
