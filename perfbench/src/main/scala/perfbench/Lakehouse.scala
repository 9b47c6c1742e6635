package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sources.Snapshots
import graft.sources.Snapshots.Manifest

/** The lakehouse_rw pass: on a fresh 8-bucket orders-derived snapshot
  * table, an initial commit, then `Cycles` cycles of
  * COW update (2 buckets) → read → equality delete (~1% of keys) →
  * read → delete → read → compact → read, then `expire`.
  *
  * The op log (buckets, price deltas, deleted keys) is drawn once per
  * run from the seed, so every pass replays it exactly. Every read is
  * checked against a plain-Scala model of the table replaying the same
  * log: row count and the exact sum of prices in cents. */
final class Lakehouse(spark: SparkSession, dir: String, work: Path, seed: Long,
                      tracer: Tracer) {
  import Lakehouse._
  import spark.implicits._

  private val bucket = pmod(col("o_orderkey"), lit(NBuckets))
  private val cents = round(col("o_totalprice") * 100).cast("long")

  /** Base table, driver-side: key → price in cents. */
  private val base: Map[Long, Long] =
    Tables.load(spark, dir, "orders").select(col("o_orderkey"), cents).as[(Long, Long)]
      .collect().toMap // BOUNDED: the 1x orders table, once per run

  /** The seeded op log every pass replays. */
  private val log: Seq[Step] = {
    val rng = new scala.util.Random(seed * 1000003L + 17)
    val live = mutable.Map[Long, Long]() ++= base
    (1 to Cycles).flatMap { _ =>
      val bs = rng.shuffle((0 until NBuckets).toList).take(2).toSet
      val delta = 1L + rng.nextInt(999)
      def del() = {
        val ks = live.keys.toArray.sorted
        val picked = rng.shuffle(ks.toList).take(math.max(1, ks.length / 100))
        picked.foreach(live.remove)
        Delete(picked.sorted)
      }
      Seq(Update(bs, delta), del(), del(), Compact)
    }
  }

  def runPass(pass: Int): Main.PassRecord = {
    val table = work.resolve(s"lake-p$pass").toString
    val timed = mutable.ArrayBuffer[(String, Double)]()
    val errors = mutable.ArrayBuffer[String]()
    var bytesWritten, filesWritten = 0L
    val filesPerRead, delFilesPerRead = mutable.ArrayBuffer[Int]()
    val model = mutable.Map[Long, Long]() ++= base

    def op[T](kind: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val out = tracer.span(s"sources.snapshots.$kind")(body)
      timed += kind -> (System.nanoTime() - t0) / 1e9
      out
    }
    def written(parent: Option[Manifest], m: Manifest): Unit = {
      val old = parent.map(p => (p.allFiles ++ p.deletes).toSet).getOrElse(Set.empty)
      val fresh = (m.allFiles ++ m.deletes).filterNot(old)
      filesWritten += fresh.size
      bytesWritten += fresh.map(f => Files.size(Paths.get(f))).sum
    }
    def read(m: Manifest): Unit = {
      filesPerRead += m.allFiles.size
      delFilesPerRead += m.deletes.size
      val r = op("read")(Snapshots.read(spark, m).agg(count(lit(1)), sum(cents)).collect()(0))
      val (n, s) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      if (n != model.size || s != model.values.sum)
        errors += s"read v${m.version}: got ($n, $s), model (${model.size}, ${model.values.sum})"
    }

    var v = 1
    var m = op("commit")(Snapshots.commit(
      Tables.load(spark, dir, "orders"), table, v, bucket, NBuckets))
    written(None, m)
    log.foreach { step =>
      v += 1
      val parent = m
      step match {
        case Update(bs, delta) =>
          val changed = Snapshots.read(spark, parent)
            .where(bucket.isin(bs.toSeq: _*))
            .withColumn("o_totalprice", round(col("o_totalprice") + delta / 100.0, 2))
          m = op("update")(Snapshots.commit(changed, table, v, bucket, NBuckets,
            parent = Some(parent), touched = Some(bs)))
          model.keys.filter(k => bs.contains(java.lang.Math.floorMod(k, NBuckets.toLong).toInt))
            .toSeq.foreach(k => model(k) += delta)
        case Delete(keys) =>
          m = op("delete")(Snapshots.deleteCommit(keys.toDF("o_orderkey"), table, v,
            "o_orderkey", parent))
          keys.foreach(model.remove)
        case Compact =>
          m = op("compact")(Snapshots.compact(spark, table, v, bucket, NBuckets, parent))
      }
      written(Some(parent), m)
      read(m)
    }
    val liveBytes = m.allFiles.map(f => Files.size(Paths.get(f))).sum
    op("expire")(Snapshots.expire(table, keepFrom = math.max(1, v - Retain + 1), upTo = v))
    val disk = Files.walk(Paths.get(table)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(Files.size).sum
    deleteTree(Paths.get(table))
    Main.PassRecord(pass, tracer.on, timed.toSeq, Nil, errors.toSeq, lake = Some(PassResult(
      bytesWritten, filesWritten, liveBytes, disk,
      filesPerRead.toSeq, delFilesPerRead.toSeq)))
  }
}

object Lakehouse {
  sealed trait Step
  final case class Update(buckets: Set[Int], deltaCents: Long) extends Step
  final case class Delete(keys: Seq[Long]) extends Step
  case object Compact extends Step

  final case class PassResult(bytesWritten: Long, filesWritten: Long, liveBytes: Long,
                              diskBytesAfterExpire: Long, filesPerRead: Seq[Int],
                              deleteFilesPerRead: Seq[Int])

  val NBuckets = 8
  val Cycles = 4
  /** Versions kept readable by the end-of-pass `expire`. */
  val Retain = 3

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
