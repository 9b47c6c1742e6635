package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Manifest-versioned table snapshots with copy-on-write at file
  * granularity — the minimal Iceberg/Delta commit protocol, built on
  * plain parquet plus tiny JSON manifests:
  *
  *  - every commit writes ONLY the data files for the buckets it
  *    touches, under `data/v<version>/bucket=<b>/`;
  *  - a manifest (one small JSON per version) lists the exact files
  *    that make up the version, inheriting untouched buckets' file
  *    lists from the parent manifest;
  *  - a reader resolves version N by loading its manifest and
  *    scanning exactly those files — time travel is "read an older
  *    manifest", no data movement ever.
  *
  * Scale notes: at 100 TB this is THE update pattern — an upsert that
  * touches 2 of 1024 bucket ranges rewrites 0.2% of the bytes while
  * both versions stay fully readable; manifests are metadata-sized
  * (file-path lists, one entry per data file) and never touch
  * executors. The bucket column must be derivable from the row key so
  * writers can route changed rows to their buckets without reading
  * the old files (here: pmod(key, nBuckets), same as Hive/Iceberg
  * bucket transforms).
  */
object Snapshots {

  /** Typed optimistic-concurrency failure: another writer already
    * committed this version (i.e. won the compare-and-swap on the
    * version pointer). The loser should reload the latest manifest
    * ([[latestVersion]] + [[loadManifest]]), rebase its change, and
    * retry at version+1 — the standard optimistic commit loop every
    * snapshot lake (Iceberg/Delta) runs. */
  final class SnapshotConflict(val tableDir: String, val version: Int)
    extends RuntimeException(
      s"concurrent commit conflict: version $version already exists in $tableDir")

  /** Typed expiry failure: the version's files were vacuumed by
    * [[expire]]; its manifest remains as a tombstone so readers get a
    * protocol-level error instead of a raw missing-path failure deep
    * in the parquet reader. */
  final class SnapshotExpired(val tableDir: String, val version: Int)
    extends RuntimeException(
      s"version $version of $tableDir was expired (files vacuumed); " +
        "time travel is only available back to the retention boundary")

  /** Version manifest: bucket id → data-file paths, plus the
    * version's accumulated equality-delete files (Iceberg v2-style
    * row-level deletes: each delete file lists KEY VALUES removed
    * from the table; data files are never rewritten). `deleteKey` is
    * the key column name the delete files carry. */
  final case class Manifest(version: Int, files: Map[Int, Seq[String]],
                            deletes: Seq[String] = Nil,
                            deleteKey: Option[String] = None) {
    def allFiles: Seq[String] = files.toSeq.sortBy(_._1).flatMap(_._2)
  }

  /** Commits `df` (the FULL content of the buckets in `touched`, or
    * of all buckets when `parent` is empty) as version `version`.
    * Rows are routed by `bucketCol` (must evaluate to [0, nBuckets));
    * untouched buckets inherit the parent's files untouched —
    * copy-on-write at file granularity. */
  def commit(df: DataFrame, tableDir: String, version: Int,
             bucketCol: org.apache.spark.sql.Column, nBuckets: Int,
             parent: Option[Manifest] = None,
             touched: Option[Set[Int]] = None): Manifest = {
    val writeBuckets: Set[Int] =
      touched.getOrElse((0 until nBuckets).toSet)
    require(parent.nonEmpty || writeBuckets == (0 until nBuckets).toSet,
      "initial commit must write every bucket")
    // equality deletes apply table-wide by key at read time; a data
    // commit on top of them has no way to express "this key is back"
    // without Iceberg-style sequence numbers, so untouched-bucket
    // deletes would either resurrect (if dropped) or wrongly suppress
    // re-inserts (if inherited). The minimal protocol refuses the
    // ambiguous composition: fold deletes with [[compact]] first.
    require(parent.forall(_.deletes.isEmpty),
      s"parent v${parent.map(_.version).getOrElse(-1)} carries equality-delete " +
        "files; compact them before a data commit")
    require(parent.forall(_.version < version),
      s"version $version must be greater than parent v${parent.map(_.version).get}")
    // attempt-unique data dir: two writers racing for the same version
    // number stage their files in DISJOINT directories, so the CAS
    // loser cannot have clobbered the winner's data. The loser's
    // staged files are orphans (unreferenced by any manifest) and are
    // reclaimable by any path-sweeping GC.
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val dataDir = s"$tableDir/data/v$version-$attempt"
    df.withColumn("_bucket", bucketCol.cast("int"))
      .where(col("_bucket").isInCollection(writeBuckets))
      .repartition(math.min(writeBuckets.size, 32), col("_bucket"))
      .write.mode("overwrite").partitionBy("_bucket").parquet(dataDir)
    val written: Map[Int, Seq[String]] = writeBuckets.iterator.map { b =>
      val d = Paths.get(dataDir, s"_bucket=$b")
      val fs =
        if (Files.isDirectory(d))
          Files.list(d).iterator().asScala
            .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
        else Seq.empty[String]
      b -> fs
    }.toMap
    val inherited: Map[Int, Seq[String]] = parent match {
      case Some(p) => p.files.filter { case (b, _) => !writeBuckets.contains(b) }
      case None    => Map.empty
    }
    val m = Manifest(version, written ++ inherited)
    writeManifest(tableDir, m)
    m
  }

  /** Commits an equality-DELETE as version `version`: `deletedKeys`
    * (a one-column frame of key values, or any frame containing
    * `keyCol`) is written as a small delete file; the manifest
    * inherits the parent's data files UNCHANGED and appends the
    * delete file to the parent's accumulated delete list. This is the
    * Iceberg v2 equality-delete / Delta deletion-vector pattern: a
    * delete of 0.001% of a 100 TB table writes kilobytes — readers
    * apply the (metadata-sized, broadcast) delete keys as an
    * anti-join until a compaction folds them into data files. */
  def deleteCommit(deletedKeys: DataFrame, tableDir: String, version: Int,
                   keyCol: String, parent: Manifest): Manifest = {
    require(parent.deleteKey.forall(_ == keyCol),
      s"delete key $keyCol differs from parent's ${parent.deleteKey}")
    require(parent.version < version,
      s"version $version must be greater than parent v${parent.version}")
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val delDir = s"$tableDir/deletes/v$version-$attempt"
    // one partition first: it already satisfies distinct's
    // distribution, so the dedup and the single-file write share one
    // exchange
    deletedKeys.select(col(keyCol)).repartition(1).distinct()
      .write.mode("overwrite").parquet(delDir)
    val fs = Files.list(Paths.get(delDir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    require(fs.nonEmpty, s"delete commit v$version wrote no files")
    val m = Manifest(version, parent.files, parent.deletes ++ fs, Some(keyCol))
    writeManifest(tableDir, m)
    m
  }

  /** Compaction commit: folds the parent's accumulated equality
    * deletes INTO the data files — reads the parent (deletes
    * applied), rewrites every bucket, and commits a version with an
    * EMPTY delete list. Content-identical to the parent by
    * construction; what changes is the physical layout: after
    * compaction readers stop paying the anti-join and the delete
    * files are dead (eligible for expiry). The periodic maintenance
    * action every delete-vector lake schedules once deletes
    * accumulate past a read-amplification budget. */
  def compact(spark: SparkSession, tableDir: String, version: Int,
              bucketCol: org.apache.spark.sql.Column, nBuckets: Int,
              parent: Manifest): Manifest = {
    require(parent.deletes.nonEmpty,
      s"v${parent.version} has no deletes to compact")
    commit(read(spark, parent), tableDir, version, bucketCol, nBuckets)
  }

  /** Time-travel read: exactly the files the version's manifest
    * names, minus rows whose key appears in the version's accumulated
    * equality-delete files (applied as a broadcast LEFT ANTI join —
    * delete files are metadata-sized by the protocol's contract). The
    * bucket partition column is not re-derived (it is a function of
    * the key); the frame has the table's own schema.
    *
    * Schema: that of the FIRST file the manifest lists (lowest bucket
    * first), read from its footer on the driver — building the frame
    * starts no Spark job ([[graft.core.Tables.readParquet]]). Files
    * lacking one of its columns read it as NULL; tables whose history
    * spans schema versions read through [[readMerged]]. */
  def read(spark: SparkSession, m: Manifest): DataFrame = {
    require(m.allFiles.nonEmpty, s"manifest v${m.version} lists no files")
    withoutDeleted(spark, m, Tables.readParquet(spark, m.allFiles: _*))
  }

  def readVersion(spark: SparkSession, tableDir: String, version: Int): DataFrame =
    read(spark, loadManifest(tableDir, version))

  /** Schema-evolution read: like [[read]] but unifies the schemas of
    * all listed files (`mergeSchema`) — after an ADD-COLUMN commit
    * rewrote only its touched buckets, inherited files simply lack
    * the new column and their rows surface it as NULL (the
    * Iceberg/Delta additive-evolution semantics: old data is never
    * rewritten just to add a column). Plain [[read]] keeps
    * first-file-schema semantics for homogeneous tables; use this
    * whenever a table's history spans schema versions. Column ADDs
    * only — renames/drops need id-based column mapping, which this
    * minimal protocol deliberately omits. */
  def readMerged(spark: SparkSession, m: Manifest): DataFrame = {
    require(m.allFiles.nonEmpty, s"manifest v${m.version} lists no files")
    withoutDeleted(spark, m,
      spark.read.option("mergeSchema", "true").parquet(m.allFiles: _*))
  }

  /** `data` minus the rows whose key the version's equality-delete
    * files list. */
  private def withoutDeleted(spark: SparkSession, m: Manifest, data: DataFrame): DataFrame =
    if (m.deletes.isEmpty) data
    else {
      val k = m.deleteKey.getOrElse(
        sys.error(s"manifest v${m.version} has delete files but no delete key"))
      data.join(broadcast(Tables.readParquet(spark, m.deletes: _*).select(col(k))),
        Seq(k), "left_anti")
    }

  /** True copy-on-write sharing check: every untouched bucket's file
    * list is IDENTICAL (same paths — shared bytes) between the two
    * manifests, and every touched bucket's differs and is non-empty. */
  def cowShared(parent: Manifest, child: Manifest, touched: Set[Int]): Boolean = {
    val buckets = parent.files.keySet ++ child.files.keySet
    buckets.forall { b =>
      val (pf, cf) = (parent.files.getOrElse(b, Nil), child.files.getOrElse(b, Nil))
      if (touched.contains(b)) cf.nonEmpty && cf != pf else cf == pf
    }
  }

  /** Snapshot expiry (VACUUM): physically deletes every file that is
    * referenced ONLY by versions older than `keepFrom` — data files
    * superseded by copy-on-write or compaction, and delete files
    * folded by compaction. Versions >= keepFrom keep reading exactly
    * as before (their whole file graph is retained, including files
    * they still share with expired versions); older versions get a
    * tombstone marker next to their manifest, so [[loadManifest]] /
    * [[readVersion]] fail with a protocol-level [[SnapshotExpired]]
    * instead of a raw missing-path error deep in the parquet reader.
    * (A Manifest object obtained BEFORE expiry still fails only at
    * scan time — the marker is checked at manifest load.)
    * `upTo` must be the table's LATEST version: the ref-count algebra
    * is only sound over the full version graph (a newer, unexamined
    * version could share files with the expired range). Pure manifest
    * set algebra + a driver-side unlink loop — metadata-sized like
    * every planning step in the protocol.
    * Returns (live file count, expired-and-deleted file count). */
  def expire(tableDir: String, keepFrom: Int, upTo: Int): (Int, Int) = {
    require(keepFrom >= 1 && keepFrom <= upTo, "need 1 <= keepFrom <= upTo")
    val latest = latestVersion(tableDir)
    require(latest.contains(upTo),
      s"expire's upTo ($upTo) must be the table's latest version " +
        s"(${latest.getOrElse("none")}): newer versions may share files " +
        "with the expired range and must enter the ref-count")
    val all = (1 to upTo).map(loadManifestRaw(tableDir, _))
    def refs(m: Manifest): Set[String] = m.allFiles.toSet ++ m.deletes
    val live = all.filter(_.version >= keepFrom).flatMap(refs).toSet
    val expired0 = all.filter(_.version < keepFrom).flatMap(refs).toSet -- live
    // count actual unlinks so a re-run over the same range reports 0
    val expired = expired0.filter(f => Files.deleteIfExists(Paths.get(f)))
    all.filter(_.version < keepFrom).foreach { m =>
      val t = tombstonePath(tableDir, m.version)
      if (!Files.exists(t)) Files.write(t,
        s"""{"version": ${m.version}, "expired": true}"""
          .getBytes(StandardCharsets.UTF_8))
    }
    (live.size, expired.size)
  }

  /** Latest committed version: max over the manifest directory, the
    * read side of the version pointer the commit CAS swaps. */
  def latestVersion(tableDir: String): Option[Int] = {
    val dir = Paths.get(tableDir, "manifests")
    if (!Files.isDirectory(dir)) None
    else {
      val vRe = """^v(\d+)\.json$""".r
      val vs = Files.list(dir).iterator().asScala
        .flatMap(p => vRe.findFirstMatchIn(p.getFileName.toString).map(_.group(1).toInt))
        .toSeq
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  private def manifestPath(tableDir: String, version: Int) =
    Paths.get(tableDir, "manifests", s"v$version.json")

  private def tombstonePath(tableDir: String, version: Int) =
    Paths.get(tableDir, "manifests", s"v$version.expired")

  /** The commit CAS: the manifest file IS the version pointer, and
    * CREATE_NEW is the atomic compare-and-swap — of any number of
    * writers racing to commit version N, exactly one create succeeds
    * (POSIX O_EXCL semantics; object stores use if-none-match for the
    * same effect). Losers get a typed [[SnapshotConflict]] and must
    * rebase on the new latest version and retry — their staged data
    * files live in attempt-unique directories, so the winner's files
    * are untouched. */
  private def writeManifest(tableDir: String, m: Manifest): Unit = {
    def arr(fs: Seq[String]) =
      fs.map(f => "\"" + f.replace("\\", "\\\\") + "\"").mkString(", ")
    val entries = m.files.toSeq.sortBy(_._1).map { case (b, fs) =>
      s"""  "$b": [${arr(fs)}]"""
    }.mkString(",\n")
    val delPart =
      if (m.deletes.isEmpty) ""
      else s""", "delete_key": "${m.deleteKey.get}", "deletes": [${arr(m.deletes)}]"""
    val json =
      s"""{"version": ${m.version}$delPart, "files": {\n$entries\n}}"""
    Files.createDirectories(manifestPath(tableDir, m.version).getParent)
    try Files.write(manifestPath(tableDir, m.version),
      json.getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new SnapshotConflict(tableDir, m.version)
    }
  }

  /** Minimal strict parser for the manifest JSON this object writes
    * (single-level object of int → string-array; paths were escaped
    * on write). Fails with [[SnapshotExpired]] when the version was
    * vacuumed by [[expire]] — the manifest survives as a tombstone. */
  def loadManifest(tableDir: String, version: Int): Manifest = {
    if (Files.exists(tombstonePath(tableDir, version)))
      throw new SnapshotExpired(tableDir, version)
    loadManifestRaw(tableDir, version)
  }

  /** Tombstone-blind load — expiry's own ref-count pass must read
    * expired versions' manifests (e.g. on a re-run over a wider
    * range). */
  private def loadManifestRaw(tableDir: String, version: Int): Manifest = {
    val p = manifestPath(tableDir, version)
    require(Files.exists(p), s"no manifest for version $version at $p")
    val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val bucketRe = """"(\d+)":\s*\[([^\]]*)\]""".r
    val strRe = "\"((?:[^\"\\\\]|\\\\.)*)\"".r
    val files = bucketRe.findAllMatchIn(s).map { m =>
      val b = m.group(1).toInt
      val fs = strRe.findAllMatchIn(m.group(2))
        .map(_.group(1).replace("\\\\", "\\")).toSeq
      b -> fs
    }.toMap
    val delKeyRe = """"delete_key":\s*"((?:[^"\\]|\\.)*)"""".r
    val delsRe = """"deletes":\s*\[([^\]]*)\]""".r
    val deleteKey = delKeyRe.findFirstMatchIn(s).map(_.group(1))
    val deletes = delsRe.findFirstMatchIn(s).map { m =>
      strRe.findAllMatchIn(m.group(1))
        .map(_.group(1).replace("\\\\", "\\")).toSeq
    }.getOrElse(Nil)
    Manifest(version, files, deletes, deleteKey)
  }

  // Files.list returns a Java stream; 2.13 CollectionConverters
  private implicit class JIterAsScala[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}
