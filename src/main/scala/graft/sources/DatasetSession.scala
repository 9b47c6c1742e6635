package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{QueryDialect, Tables}
import graft.operators.Joins

/** The reference's dataset façade (dataslicer/dataset.py): a named
  * pair of (metadata table, source table) over a directory of data
  * files, with a cache-or-reload lifecycle and metadata-driven file
  * pruning.
  *
  *  - a "file" is one parquet file under `dataDir` (the reference: one
  *    FITS file per exposure, dataset_base.py:24-53);
  *  - metadata = one row per file (header-keyword table,
  *    metadata.py:89-175) — here: per-file aggregates + PATH;
  *  - EP1 load: filter the metadata with an expression, read only the
  *    surviving files (dataset.py:143-147 → objtable.py:85-89). With a
  *    partitioned layout Catalyst's partition pruning does this
  *    natively; the explicit two-step form works for any layout;
  *  - caches are parquet snapshots + column-compat checks
  *    (dataset.py:80-93, :126-139), replacing the reference's gzip CSV.
  */
class DatasetSession(val spark: SparkSession, val name: String,
                     val dataDir: String, val cacheDir: String) {

  private def cachePath(tag: String): String = s"$cacheDir/${name}_$tag.parquet"

  var metadata: DataFrame = _
  var objtable: DataFrame = _

  /** One row per file: PATH + the requested per-file aggregates. */
  def buildMetadata(aggs: Seq[Column]): DataFrame = {
    val raw = Tables.readParquet(spark, dataDir)
    raw.groupBy(input_file_name().as("PATH"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** S7 cache-or-reload: reuse the snapshot when it exists and its
    * columns cover the requested ones (wildcard-aware,
    * dataset.py:81-89); else rebuild and rewrite. */
  def loadMetadata(aggs: Seq[Column], requestedCols: Seq[String],
                   forceReload: Boolean = false): DataFrame = {
    val path = cachePath("metadata")
    val cached =
      if (!forceReload && Files.exists(Paths.get(path))) {
        val c = Tables.readParquet(spark, path)
        if (Tables.patternsCovered(requestedCols, c.columns.toIndexedSeq)) Some(c) else None
      } else None
    metadata = cached.getOrElse {
      val fresh = buildMetadata(aggs)
      fresh.write.mode("overwrite").parquet(path)
      Tables.readParquet(spark, path)
    }
    metadata
  }

  /** EP1: metadata-pruned source load (dataset.py:143-147): evaluate
    * `metaExpr` on the metadata table, read only the surviving files,
    * apply the scan-time projection (fits_to_df pushdown,
    * df_utils.py:52-71). A row filter is [[selectObjects]] on the
    * result; Catalyst pushes both into the parquet scan.
    */
  def loadObjtable(metaExpr: Option[String] = None,
                   selectCols: Seq[String] = Seq("*")): DataFrame = {
    require(metadata != null, "load metadata first")
    val meta = metaExpr.map(e => QueryDialect.query(metadata, e)).getOrElse(metadata)
    // BOUNDED: file-path list — metadata-sized
    val paths = meta.select("PATH").collect().map(_.getString(0))
    require(paths.nonEmpty, s"no files survive the metadata query for dataset $name")
    // basePath keeps partition-directory columns visible when reading
    // an explicit pruned file list
    val df = spark.read.schema(Tables.parquetSchema(spark, paths.toIndexedSeq: _*))
      .option("basePath", dataDir).parquet(paths.toIndexedSeq: _*)
    objtable = if (selectCols == Seq("*")) df else Tables.wildcardSelect(df, selectCols)
    objtable
  }

  /** P2: preselection on the loaded source table (dataset.py:249-261). */
  def selectObjects(expr: String, params: Map[String, Any] = Map.empty): DataFrame = {
    objtable = QueryDialect.query(objtable, expr, params)
    objtable
  }

  /** J1: attach metadata columns to every source row
    * (dataset.py:206-246) — broadcast join on the file key. */
  def mergeMetadataToSources(metadataCols: Seq[String], joinOn: String): DataFrame = {
    objtable = Joins.mergeMetadataToSources(objtable, metadata, metadataCols, joinOn)
    objtable
  }
}
