package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed-table layout for shuffle-free co-located joins.
  *
  * The reference pre-filters its calibrator catalog by field/rcid
  * before matching (PS1Cal_matching.py:92-95) — the physical-layout
  * decision SURVEY §4 assigns to us. Writing both join sides bucketed
  * by the join key lets every subsequent equi-join and aggregation on
  * that key run without an Exchange: at 100 TB that turns the
  * dominant repeated shuffle into a one-time layout cost.
  */
object Bucketed {

  /** Persist `df` as a bucketed table (overwrite). The explicit path
    * makes the table external: drop the catalog entry AND clear the
    * directory before rewriting. */
  def write(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val path = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_bucketed", table)
    if (java.nio.file.Files.exists(path)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(path).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    df.write.bucketBy(buckets, key).sortBy(key)
      .option("path", path.toString)
      .saveAsTable(table)
  }
}
