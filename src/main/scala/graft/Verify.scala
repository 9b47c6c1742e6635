package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened like Bench (r05 post-mortem): per-query localCheckpoint
  * reclamation keeps storage flat across the 120-query suite, and a
  * stopped SparkContext is rebuilt (not cascaded) so one fatal query
  * can't zero the whole round's correctness artifact. Any query or
  * sqlGen failure is additionally recorded in `verify_errors.json`
  * next to the dumps, so a downgraded run is visible rather than
  * silently shrinking coverage (ADVICE r05). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names for fast local
    // iteration (driver always calls with two args = full suite)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def selected(name: String) = only.forall(_.contains(name))
    var spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    def fail(name: String, stage: String, e: Throwable): Unit = {
      val msg = (stage + ": " + e.getClass.getSimpleName + ": " +
        Option(e.getMessage).getOrElse("")).replaceAll("\\s+", " ").take(300)
      failures(name) = msg
      System.err.println(s"[verify] $name failed — $msg")
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        if (spark.sparkContext.isStopped) {
          System.err.println(s"[verify] SparkContext dead before $name — rebuilding")
          spark = Harness.session()
        }
        try Harness.timed(spark)(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"))
        catch { case e: Throwable => fail(name, "query", e) }
      }
    }
    def q(s: String): String = Harness.jsonString(s)
    // static oracles + dynamically generated ones (data-derived but
    // deterministic parameters, e.g. IVF centroids for this sfDir)
    if (spark.sparkContext.isStopped) spark = Harness.session()
    val dynamic = Queries.all.flatMap { qq =>
      qq.sqlGen.flatMap { gen =>
        if (!selected(qq.name)) None
        else try Some(qq.name -> gen(spark, sfDir))
        catch { case e: Throwable => fail(qq.name, "sqlGen", e); None }
      }
    }.toMap
    val json = (SparkEntry.oracleSql ++ dynamic)
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} failure(s) — see $outDir/verify_errors.json")
    spark.stop()
  }
}
