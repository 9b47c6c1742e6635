package graft.tools

import org.apache.spark.sql.functions._

import graft.core.SqlMurmur

/** Dev tool: dump Spark's pmod(hash(...), m) for a key range plus the
  * SqlMurmur-generated DuckDB SQL computing the same — compared by
  * tools/hash_oracle_check.py. Covers every (key, literal-chain)
  * shape the EP2 pipeline oracle uses. */
object HashOracleDump {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 100000L
    val spark = graft.Harness.session()
    spark.range(0, n).select(
        col("id"),
        pmod(hash(col("id")), lit(2000000)).as("h0"),
        pmod(hash(col("id"), lit(7)), lit(2000000)).as("h7"),
        pmod(hash(col("id"), lit(3)), lit(2000000)).as("h3"),
        pmod(hash(col("id"), lit(5)), lit(2000000)).as("h5"))
      .coalesce(1).write.mode("overwrite").option("header", "true")
      .csv("/tmp/graft_hash_spark")
    val sql = {
      var q = s"SELECT id FROM range(0, $n) t(id)"
      var keep = Seq("id")
      Seq(Nil, Seq(7), Seq(3), Seq(5)).zip(Seq("h0", "h7", "h3", "h5"))
        .foreach { case (lits, a) =>
          q = SqlMurmur.withPmodHash(s"($q)", "id", lits, 2000000L, a, keep)
          keep = keep :+ a
        }
      s"$q ORDER BY id"
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/graft_hash_oracle.sql"), sql)
    spark.stop()
  }
}
